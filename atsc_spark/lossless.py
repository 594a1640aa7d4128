"""Spark layer for the lossless (tier-0) Gorilla blocks.

Same distribution shape as the lossy frames: the fit consumes
``frames.grouped_points`` rows (one row per series-day with JVM-built
numeric point arrays — see that docstring for why this beats shipping
skinny rows into pandas), and decode is the frames' shared
compressed-row decoder (:func:`atsc_spark.frames.decode_compressed`),
in which blocks are rows with the in-memory Gorilla compressor id.
Blocks roundtrip bit-exactly (timestamps and values), which is what
lets the retention layer replace raw rows with tier-0 blocks without
violating the per-row invariant.
"""

from __future__ import annotations

import numpy as np

from pyspark.sql import DataFrame

from .core.gorilla import gorilla_encode
from .frames import (
    compressed_rows,
    decode_compressed,
    fit_task_count,
    grouped_points,
    make_grouped_fit_fn,
)

BLOCK_SCHEMA = (
    "conv_id string, metric string, day date, sample_count int, "
    "payload binary, payload_bytes int, raw_bytes long"
)

_BLOCK_COLS = [
    "conv_id", "metric", "day", "sample_count", "payload", "payload_bytes", "raw_bytes",
]


def _fit_block(conv_id, metric, day, values: np.ndarray, ts: np.ndarray, rows: list) -> None:
    blob = gorilla_encode(ts, values)
    rows.append(
        {
            "conv_id": conv_id,
            "metric": metric,
            "day": day,
            "sample_count": len(values),
            "payload": blob,
            "payload_bytes": len(blob),
            "raw_bytes": len(values) * 16,
        }
    )


def fit_lossless(series: DataFrame, num_tasks: int | None = None) -> DataFrame:
    """series (conv_id, metric, bucket_ts, value) -> gorilla blocks."""
    if num_tasks is None:
        num_tasks = fit_task_count(series.sparkSession)
    fit = make_grouped_fit_fn(_fit_block, _BLOCK_COLS)
    return grouped_points(series, num_tasks).mapInPandas(fit, BLOCK_SCHEMA)


def decode_lossless(blocks: DataFrame, num_tasks: int | None = None) -> DataFrame:
    """blocks -> (conv_id, metric, bucket_ts, value), shuffle-free,
    through the shared decoder (task granularity as in
    :func:`atsc_spark.frames.decode_granularity`)."""
    return decode_compressed(compressed_rows(blocks), blocks, num_tasks)
