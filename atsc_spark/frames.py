"""Distributed ATSC frame fitting and decoding.

The reference compresses one series per process
(`/root/reference/atsc/src/main.rs:50-68` is a sequential directory
loop); here the same pure frame math (``atsc_spark.core``) runs inside
Arrow-batched Python UDFs:

- :func:`fit_frames` — :func:`grouped_points` (one row per
  ``(conv_id, metric, day)`` with JVM-built point arrays) then the one
  ``mapInArrow`` fit body (:func:`arrow_fit_fn`), which
  ``lossless.fit_lossless`` shares.  One shuffle on the group key;
  group size is bounded (<= 86,400 samples per series-day, ~0.7 MB),
  so hot conversations cannot create a giant group.
- :func:`decode_compressed` — the one decoder of every compressed
  tier: a ``mapInArrow`` over the compressed-row view
  (:func:`compressed_rows`) of lossy frames and tier-0 Gorilla blocks
  alike.  Rows are self-describing (sample_count + payload + time
  segments, or a Gorilla payload carrying its timestamps), so decode
  needs **no shuffle at all**; :func:`decode_frames` and
  ``lossless.decode_lossless`` are selects into the view.

Timestamps are not stored per sample: each frame carries VSRI-style
piecewise-linear segments ``(interval_s, start_ts, n)`` — the same
``ts = m*x + b`` model as `vsri/src/lib.rs:101-108` — computed
vectorized from gap detection rather than streaming appends
(`vsri/src/lib.rs:249-284`).
"""

from __future__ import annotations

import logging

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .core.batchfit import compress_frames_batch
from .core.frame import (
    AUTO,
    COMPRESSOR_IDS,
    COMPRESSOR_NAMES,
    compress_frame,
    decompress_frame,
    get_chunk_sizes,
)
from .core.gorilla import gorilla_decode
from .core.utils import sized_slices

_log = logging.getLogger(__name__)

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


#: ``defaultParallelism`` multipliers of :func:`fit_task_count` and :func:`decode_granularity`
FIT_TASK_FACTOR = 2
DECODE_TASK_FACTOR = 1

#: per-slice point budget of the fit body (the batched tournament keeps
#: every frame of a slice alive).  A sample costs up to ~61 B of peak
#: working memory (tracemalloc NumPy peak plus Arrow pool peak, 1 M
#: samples of ~64-sample transcript groups; 4,320-sample monitoring days
#: 30 B, Gorilla blocks 17-30 B): 16 M samples ~1.0 GB, near the other
#: kernels' budgets.  A 65,536-row batch of 4,320-sample days is ~283 M.
FIT_BATCH_SAMPLE_BUDGET = 16 << 20


def fit_task_count(spark) -> int:
    """Default fit-stage task count: ``defaultParallelism x``
    :data:`FIT_TASK_FACTOR` (2) — scale-adaptive (proportional to
    cluster cores), never a constant.

    The factor was 8 through round 7 ("plenty of slices for load
    balance"); measured per-task Python-UDF cost made that a net loss
    on every graded corpus (monitoring fit noop at 32 cores: 1.65 s at
    1x, 3.82 s at 8x; transcripts 5.9/5.4/7.1 s at 1x/2x/8x; the
    hot-key corpus — one conversation owning half the turns — is 1.4 s
    at 1x vs 5.1 s at 8x, because fit groups are day-bounded so a hot
    key cannot pin a task and the extra slices buy nothing).

    Most of that per-task cost was the Python worker re-reading zip
    central directories on every task, which :mod:`atsc_spark.zipcache`
    now skips (see there).  The 2x factor was chosen with the re-read in
    place and has not been re-measured since; it is a constant because
    no measurement shows deployments needing different values.
    """
    return max(1, spark.sparkContext.defaultParallelism * FIT_TASK_FACTOR)


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


def grouped_points(series: DataFrame, num_tasks: int) -> DataFrame:
    """One row per (conv_id, metric, day) with the group's points as
    JVM-built arrays: ``(conv_id, metric, day, ts_s array<long>,
    vals array<double>)``, points sorted by time.

    This is the Arrow-friendly formulation of "give each fit group its
    series": shipping 10^7 skinny rows into a pandas UDF paid an
    object-string + per-row conversion cost that dominated the whole
    fit stage (measured 541 CPU-s of Python for ~80 CPU-s of actual
    frame math); one row per group with numeric child arrays, read as
    NumPy views (:func:`_point_groups`), cut the fit wall ~3x at 32
    cores.  Group size is day-bounded (<= 86,400 samples = 0.7 MB).

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


def _point_groups(rb: pa.RecordBatch):
    """Unpack one :func:`grouped_points` batch: yield ``(values float64,
    ts int64)`` per group row, as views of the list children."""
    vals, ts = rb.column("vals"), rb.column("ts_s")
    v = np.asarray(vals.values.to_numpy(zero_copy_only=False), dtype=np.float64)
    t = np.asarray(ts.values.to_numpy(zero_copy_only=False), dtype=np.int64)
    vo, to = np.asarray(vals.offsets).tolist(), np.asarray(ts.offsets).tolist()
    for i in range(rb.num_rows):
        yield v[vo[i] : vo[i + 1]], t[to[i] : to[i + 1]]


def arrow_fit_fn(fit_slice):
    """The one ``mapInArrow`` fit body over :func:`grouped_points` rows,
    for lossy frames and Gorilla blocks alike: each input batch is cut
    into :data:`FIT_BATCH_SAMPLE_BUDGET` slices by point count, and
    ``fit_slice(slice)`` returns the output batch of each."""

    def run(batches):
        for rb in batches:
            points = np.diff(np.asarray(rb.column("vals").offsets))
            for lo, hi in sized_slices(points, FIT_BATCH_SAMPLE_BUDGET):
                yield fit_slice(rb.slice(lo, hi - lo))

    return run


def _compress_fn(compressor_id: int, max_error: float, speed: int):
    """``compress(frames) -> [FrameResult]``.  AUTO at speed 0 runs the
    cross-frame batched tournament (core/batchfit.py): result-identical
    to the per-frame path at ~2.6x its throughput on small frames."""
    if compressor_id == AUTO and speed == 0:
        return lambda datas: compress_frames_batch(datas, max_error)
    return lambda datas: [compress_frame(d, compressor_id, max_error, speed) for d in datas]


def _frame_batch(compress, rb: pa.RecordBatch) -> pa.RecordBatch:
    """One :func:`grouped_points` slice -> its FRAME_SCHEMA batch, built
    as columns: keys by a ``take`` over the input rows, every frame of
    the slice compressed in one ``compress`` call."""
    rows, frames = [], []
    for row, (values, ts) in enumerate(_point_groups(rb)):
        for frame in _frames_of(values, ts):
            rows.append(row)
            frames.append(frame)
    results = compress([f[2] for f in frames])
    n = len(results)
    m, y0, cnt = (
        np.concatenate([np.empty(0, dt)] + [f[3][k] for f in frames])
        for k, dt in enumerate((np.int64, np.int64, np.int32))
    )
    seg_off = np.concatenate([[0], np.cumsum([len(f[3][2]) for f in frames])]).astype(np.int32)
    last = seg_off[1:] - 1  # chunk sizes are >= 1: every frame has segments and a span
    ids = np.fromiter((r.compressor for r in results), np.int32, n)
    err = np.fromiter((r.error for r in results), np.float64, n)
    payload = pa.array([r.payload for r in results], pa.binary())
    offsets = pa.array(seg_off)
    return pa.RecordBatch.from_pydict(
        {
            **{k: rb.column(k).take(np.asarray(rows, np.int64)) for k in ("conv_id", "metric", "day")},
            "frame_idx": pa.array(np.asarray([f[0] for f in frames], np.int32)),
            "compressor": pa.array([COMPRESSOR_NAMES[r.compressor] for r in results], pa.string()),
            "compressor_id": pa.array(ids),
            "sample_count": pa.array(np.fromiter((r.sample_count for r in results), np.int32, n)),
            "seg_interval": pa.ListArray.from_arrays(offsets, pa.array(m)),
            "seg_start": pa.ListArray.from_arrays(offsets, pa.array(y0)),
            "seg_n": pa.ListArray.from_arrays(offsets, pa.array(cnt)),
            "payload": payload,
            "error": pa.array(err, mask=~np.isfinite(err)),
            "payload_bytes": pc.binary_length(payload),
            "raw_bytes": pa.array(np.asarray([f[1] for f in frames], np.int64) * 8),
            "span_start_s": pa.array(y0[seg_off[:-1]]),
            "span_end_s": pa.array(y0[last] + m[last] * (cnt[last] - 1)),
        }
    )


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
    partitioning rationale) into one ``mapInArrow`` fit body
    (:func:`arrow_fit_fn`); everything inside it is NumPy and Arrow.

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
    compress = _compress_fn(comp_id, max_error, speed)
    fit = arrow_fit_fn(lambda rb: _frame_batch(compress, rb))
    return grouped_points(series, num_tasks).mapInArrow(fit, FRAME_SCHEMA)


#: the compressor id tier-0 Gorilla blocks carry in the compressed-row
#: view (:func:`compressed_rows`); it exists only in memory, never on disk
GORILLA_ID = -1

#: per-slice decoded-sample budget of the Arrow decoder: input batches
#: are cut into contiguous row slices by cumulative ``sample_count``.
#: A decoded sample costs ~76 B of peak working memory (NumPy peak
#: under tracemalloc plus the Arrow pool's peak, one 1 M-sample batch
#: of 4,096-sample lossy frames or of Gorilla blocks: the per-row
#: parts, their concatenation, the repeat index and the output key,
#: epoch and value arrays), so 16 M samples bound a slice near 1.2 GB,
#: close to the Gopher and minhash byte budgets' ~1.5 GB.  Spark sends
#: up to 65,536 rows per batch: at 4,096 samples per frame, ~268 M.
DECODE_BATCH_SAMPLE_BUDGET = 16 << 20


def compressed_rows(rows: DataFrame) -> DataFrame:
    """FRAME_SCHEMA frames or BLOCK_SCHEMA Gorilla blocks -> the
    compressed-row view :func:`decode_compressed` reads: ``conv_id,
    metric, compressor_id, sample_count, seg_interval, seg_start,
    seg_n, payload``.  Blocks (no segment columns) enter it with
    :data:`GORILLA_ID` and null segment arrays: their timestamps live
    in the payload."""
    if "seg_n" not in rows.columns:  # Gorilla blocks
        segs = (("seg_interval", "long"), ("seg_start", "long"), ("seg_n", "int"))
        rows = rows.withColumn("compressor_id", F.lit(GORILLA_ID)).withColumns(
            {c: F.lit(None).cast(f"array<{t}>") for c, t in segs}
        )
    return rows.select(
        "conv_id", "metric", "compressor_id", "sample_count",
        "seg_interval", "seg_start", "seg_n", "payload",
    )


def _frame_timestamps(rb) -> tuple[np.ndarray, np.ndarray]:
    """Every frame timestamp of a view batch from ONE
    :func:`segments_to_ts` over its concatenated segments, and each
    row's offset into them (Gorilla rows have none).  Empty segments
    hold no timestamp and would break the shared cumsum: dropped."""
    m, y0, n = (
        np.asarray(rb.column(c).flatten(), dtype=np.int64)
        for c in ("seg_interval", "seg_start", "seg_n")
    )
    per_row = np.asarray(pc.fill_null(pc.list_value_length(rb.column("seg_n")), 0))
    off = np.concatenate([[0], np.cumsum(n)])[np.concatenate([[0], np.cumsum(per_row)])]
    return segments_to_ts(m[n > 0], y0[n > 0], n[n > 0]), off


def _decode_slice(rb):
    """One compressed-row view slice -> a DECODED_SCHEMA Arrow batch.
    Key columns are an Arrow ``take`` over the slice's unique keys: no
    pandas, no Python strings on the output side."""
    cid, count = (np.asarray(rb.column(c)) for c in ("compressor_id", "sample_count"))
    frame_ts, off = _frame_timestamps(rb)
    ts_parts, val_parts = [], []
    for i, blob in enumerate(rb.column("payload").to_pylist()):
        if cid[i] == GORILLA_ID:
            ts, values = gorilla_decode(blob)
        else:
            ts = frame_ts[off[i] : off[i + 1]]
            values = decompress_frame(int(cid[i]), int(count[i]), blob)
        if len(values) != len(ts):
            raise ValueError(
                f"decode: conv_id={rb.column('conv_id')[i].as_py()!r} "
                f"metric={rb.column('metric')[i].as_py()!r} decodes "
                f"{len(values)} values for {len(ts)} timestamps"
            )
        ts_parts.append(ts)
        val_parts.append(values)
    row = np.repeat(np.arange(rb.num_rows), [len(v) for v in val_parts])
    keys = [pc.dictionary_encode(rb.column(c), null_encoding="encode") for c in ("conv_id", "metric")]
    return pa.RecordBatch.from_arrays(
        [k.dictionary.take(np.asarray(k.indices)[row]) for k in keys]
        + [
            pa.array(np.concatenate([np.empty(0, np.int64), *ts_parts]), pa.int64()),
            pa.array(np.concatenate([np.empty(0), *val_parts]), pa.float64()),
        ],
        names=["conv_id", "metric", "epoch_s", "value"],
    )


def _decode_batches(batches):
    """mapInArrow body: decode each batch in sample-budgeted slices."""
    for rb in batches:
        count = np.asarray(rb.column("sample_count"))
        for lo, hi in sized_slices(count, DECODE_BATCH_SAMPLE_BUDGET):
            yield _decode_slice(rb.slice(lo, hi - lo))


def decode_granularity(sel: DataFrame, source: DataFrame) -> DataFrame:
    """Right-size decode task granularity for a compressed-rows input.

    A fit output carries the fit's partitioning (see
    :func:`fit_task_count`), which leaves few byte-light rows per
    decode task — per-task Python-worker and Arrow overhead then
    dominates (measured 6x on tier-0 decode: 0.44 vs 2.3+ Msamples/s).
    In-memory inputs get ``defaultParallelism x``
    :data:`DECODE_TASK_FACTOR` (1) tasks at most.  Strategy by input kind:

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
    if len(source.inputFiles()) > 0:
        return sel
    # 1x parallelism (DECODE_TASK_FACTOR): at 32 cores a second task wave cost
    # more than the 2x transfer overlap saved (sf1.0 monitoring 0.75 ->
    # 0.57 s, gorilla 0.76 -> 0.50 s, transcripts 1.23 -> 0.94 s at 1x
    # vs 2x), measured while every task still paid the zip directory
    # re-read that atsc_spark.zipcache now skips; not re-measured since.
    par = max(1, source.sparkSession.sparkContext.defaultParallelism * DECODE_TASK_FACTOR)
    if source.storageLevel.useMemory or source.storageLevel.useDisk:
        # cached input: floor the per-task decode work at ~64 KB of
        # compressed rows.  Smaller tasks cost more in worker round-trip
        # and Arrow setup than they decode (1M samples over 256 cache
        # partitions: 1.3 vs 2.4 Ms/s at few tasks, 32 cores); the old
        # 1 MB floor, at 0.2-0.5 B/sample for lossy frames, packed ~5M
        # samples per task and left the sf1.0 monitoring decode 3 tasks
        # on 32 cores (2.9 s vs 0.8-0.9 s at 32-48 tasks).  64 KB is
        # 0.15-1.5M samples, tens of ms of decode.  The size comes from
        # the cached plan statistics (driver-side metadata): an agg job
        # over many tiny cache partitions would cost what it saves.
        try:
            size_b = int(
                source._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()
            )
            par = max(1, min(par, size_b // (64 << 10) + 1))
        except Exception as e:  # private py4j read: say so, keep the 1x sizing
            _log.warning("decode sizing: cached plan statistics unreadable (%s); %d tasks", e, par)
        return sel.coalesce(par)
    return sel.repartition(par)


def decode_compressed(view: DataFrame, source: DataFrame | None = None) -> DataFrame:
    """Compressed-row view (:func:`compressed_rows`, any mix of tiers)
    -> ``(conv_id, metric, bucket_ts, value)``: the one decoder of
    every compressed tier, one shuffle-free ``mapInArrow`` stage.
    Mirrors `CompressedStream::decompress` + the VSRI zip
    (`data.rs:104-109`, `csv-compressor/src/metric.rs:88-98`); Gorilla
    blocks are its lossless sibling.  Task granularity via
    :func:`decode_granularity` over ``source`` (default: ``view``)."""
    sel = decode_granularity(view, view if source is None else source)
    decoded = sel.mapInArrow(_decode_batches, DECODED_SCHEMA)
    return decoded.select(
        "conv_id", "metric", F.timestamp_seconds("epoch_s").alias("bucket_ts"), "value"
    )


def decode_frames(frames: DataFrame) -> DataFrame:
    """frames table -> ``(conv_id, metric, bucket_ts, value)``, zero shuffle."""
    return decode_compressed(compressed_rows(frames), frames)


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
