"""Spark layer for the lossless (tier-0) Gorilla blocks.

Same distribution shape as the lossy frames: the fit is the frames'
one ``mapInArrow`` fit body (:func:`atsc_spark.frames.arrow_fit_fn`)
over ``frames.grouped_points`` rows, with one block per series-day
row and the input's key columns passed through; decode is the frames'
shared compressed-row decoder
(:func:`atsc_spark.frames.decode_compressed`), in which blocks are
rows with the in-memory Gorilla compressor id.  Blocks roundtrip
bit-exactly (timestamps and values), which is what lets the retention
layer replace raw rows with tier-0 blocks without violating the
per-row invariant.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc

from pyspark.sql import DataFrame

from .core.gorilla import gorilla_encode
from .frames import (
    _point_groups,
    arrow_fit_fn,
    compressed_rows,
    decode_compressed,
    fit_task_count,
    grouped_points,
)

BLOCK_SCHEMA = (
    "conv_id string, metric string, day date, sample_count int, "
    "payload binary, payload_bytes int, raw_bytes long"
)


def _block_batch(rb: pa.RecordBatch) -> pa.RecordBatch:
    """One ``grouped_points`` slice -> its BLOCK_SCHEMA batch: the key
    columns pass through, one Gorilla block per row."""
    payload = pa.array([gorilla_encode(ts, values) for values, ts in _point_groups(rb)], pa.binary())
    count = np.diff(np.asarray(rb.column("vals").offsets))
    return pa.RecordBatch.from_pydict(
        {
            **{k: rb.column(k) for k in ("conv_id", "metric", "day")},
            "sample_count": pa.array(count),
            "payload": payload,
            "payload_bytes": pc.binary_length(payload),
            "raw_bytes": pa.array(count.astype(np.int64) * 16),
        }
    )


def fit_lossless(series: DataFrame, num_tasks: int | None = None) -> DataFrame:
    """series (conv_id, metric, bucket_ts, value) -> gorilla blocks."""
    if num_tasks is None:
        num_tasks = fit_task_count(series.sparkSession)
    return grouped_points(series, num_tasks).mapInArrow(arrow_fit_fn(_block_batch), BLOCK_SCHEMA)


def decode_lossless(blocks: DataFrame) -> DataFrame:
    """blocks -> (conv_id, metric, bucket_ts, value), shuffle-free,
    through the shared decoder (task granularity as in
    :func:`atsc_spark.frames.decode_granularity`)."""
    return decode_compressed(compressed_rows(blocks), blocks)
