"""The one compressed-row decoder: pinned output of every public decode
entry point, the corrupt-row check, the per-batch sample budget, the
decode-sizing warning and the single Python stage of a store read.

The digests are sha256 over the sorted ``(conv_id, metric, epoch_s,
value bits)`` rows, recorded before the per-tier pandas decoders were
replaced by the shared Arrow decoder."""

import hashlib
import struct
from datetime import timedelta

import numpy as np
import pandas as pd
import pytest

from pyspark.sql import functions as F

from atsc_spark.fixtures import monitoring_series, transcripts
from atsc_spark.frames import decode_frames, fit_frames
from atsc_spark.lossless import decode_lossless, fit_lossless
from atsc_spark.retention import TieredStore, TierPolicy
from atsc_spark.series import derive_series


def _digest(points) -> tuple[int, str]:
    pdf = points.select(
        "conv_id", "metric", F.col("bucket_ts").cast("long").alias("epoch_s"), "value"
    ).toPandas()
    bits = pdf["value"].to_numpy(np.float64).view(np.int64)
    rows = sorted(
        zip(pdf["conv_id"], pdf["metric"], pdf["epoch_s"].astype(np.int64).tolist(), bits.tolist())
    )
    return len(rows), hashlib.sha256(repr(rows).encode()).hexdigest()


@pytest.fixture(scope="module")
def mixed_series(spark):
    """Monitoring series with NaN/inf samples (dropped by the lossy fit)
    plus short transcript series."""
    mon = monitoring_series(spark, n_series=3, samples_per_series=5000)
    h = F.hash("bucket_ts", "conv_id")
    mon = mon.withColumn(
        "value",
        F.when(h % 97 == 0, F.lit(float("nan")))
        .when(h % 101 == 0, F.lit(float("inf")))
        .otherwise(F.col("value")),
    )
    tr = derive_series(transcripts(spark, n_convs=12, window_days=1))
    df = mon.unionByName(tr.select(*mon.columns)).cache()
    df.count()
    yield df
    df.unpersist()


@pytest.mark.parametrize(
    "compressor,digest",
    [
        ("noop", "ba88e36bd075efe636aea3aa0e99fe30ca02503faa94c1dbfafa4658dace9cca"),
        ("fft", "2459cb973874b9f859de79904808e6591430462d71aacccb47165e742df4d692"),
        ("idw", "509eb156cd0bd8722c6c454630eb9149dfea3fe7e477cfafbdbea7d6f878f31e"),
        ("constant", "e6ada0c0ed0e87e35b68933606986352ec1dad985d5afd5321f3c39e4c2ef4e3"),
        ("polynomial", "633a896caa8d759c65ae14fb33bbf3142ebe7af58152bc71a36f1f268de2341a"),
        ("rle", "f143aecdc634cede55516fcb72ede6ce172ecc36039d9c048bc8894c63da57a4"),
        ("auto", "c927a02b0aa806fffe0397df56f90665e265ede4b8f601251118aa137bdc2dcc"),
    ],
)
def test_decode_frames_pinned(spark, mixed_series, compressor, digest):
    n, got = _digest(decode_frames(fit_frames(mixed_series, 0.02, compressor)))
    assert n > 0
    assert got == digest


def _bits(*patterns: int) -> list[float]:
    return [struct.unpack("<d", struct.pack("<Q", p))[0] for p in patterns]


def test_decode_lossless_pinned(spark):
    """Gorilla blocks keep every value bit: NaN payloads, ±inf, −0.0,
    subnormals, and single-sample series."""
    odd = _bits(
        0x7FF8000000000001, 0xFFF8000000000ABC, 0x7FF0000000000001,  # NaN payloads
        0x7FF0000000000000, 0xFFF0000000000000,  # ±inf
        0x8000000000000000, 0x0000000000000000,  # −0.0, +0.0
        0x0000000000000001, 0x800FFFFFFFFFFFFF,  # subnormals
    )
    rows = []
    t0 = 1_704_067_200  # 2024-01-01
    for k in range(40):
        rows.append(("c_odd", "m", t0 + 7 * k, odd[k % len(odd)] if k % 3 else float(k)))
    for s in range(5):  # single-sample series, one per day
        rows.append((f"c_one{s}", "m", t0 + s * 86_400 + 13, _bits(0x0000000000000003)[0] * s))
    for k in range(300):  # a regular series crossing a day boundary
        rows.append(("c_reg", "cpu", t0 + 86_400 - 600 + 20 * k, np.sin(k / 7.0) * 100))
    pdf = pd.DataFrame(rows, columns=["conv_id", "metric", "epoch_s", "value"])
    series = spark.createDataFrame(pdf).select(
        "conv_id", "metric", F.timestamp_seconds("epoch_s").alias("bucket_ts"), "value"
    )
    n, got = _digest(decode_lossless(fit_lossless(series)))
    assert n == len(rows)
    assert got == "823422dca9ab8dbb0e220c5e89faa769053a878cf5b28120bc2f6053610dac89"


@pytest.fixture(scope="module")
def tiered_store(spark, tmp_path_factory):
    """A store holding raw, tier0, tier1 and tier2 days, plus a raw
    crash-leftover copy of the tier0 day."""
    series = derive_series(
        transcripts(spark, n_convs=12, window_days=4), include_global=False
    ).cache()
    max_day = series.agg(F.max(F.to_date("bucket_ts"))).collect()[0][0]
    store = TieredStore(
        spark,
        str(tmp_path_factory.mktemp("decode") / "store"),
        TierPolicy(t0_days=1, t1_days=2, t2_days=3, t3_days=30000),
    )
    store.write_raw(series)
    store.retention_pass(max_day + timedelta(days=1))
    last = series.filter(F.to_date("bucket_ts") == F.lit(max_day))
    store.write_raw(last)  # crash leftover: raw copy of the tier0 day
    store.write_raw(
        last.withColumn("bucket_ts", F.col("bucket_ts") + F.expr("INTERVAL 1 DAYS"))
    )
    assert all(store.tier_days(t) for t in ("raw", "tier0", "tier1", "tier2"))
    yield store, max_day
    series.unpersist()


def test_store_reads_pinned(spark, tiered_store):
    store, max_day = tiered_store
    conv = sorted(r.conv_id for r in store.read_series().select("conv_id").distinct().collect())
    lo = max_day - timedelta(days=2)
    got = {
        "all": _digest(store.read_series()),
        "range": _digest(
            store.read_series(
                pd.Timestamp(lo).to_pydatetime() + timedelta(hours=6),
                pd.Timestamp(max_day).to_pydatetime() + timedelta(hours=30),
                conv_ids=conv[::2],
            )
        ),
        "days": _digest(store.read_days(sorted(store.holders()))),
    }
    assert got == {
        "all": (12624, "e0b108a096ff899a35b26e97fd2c9b0b3ccbb014605761b53cc266c98435a703"),
        "range": (7143, "ab1417db055ad8b1f4c43c791aac51ce337842c20cf05b49024987893845076c"),
        "days": (12624, "e0b108a096ff899a35b26e97fd2c9b0b3ccbb014605761b53cc266c98435a703"),
    }


def test_decode_rejects_corrupt_segment_counts(spark, mixed_series):
    """A frame whose ``seg_n`` disagrees with its payload is an error
    naming the row and both lengths, never a silent truncation."""
    frames = fit_frames(mixed_series, 0.02).withColumn(
        "seg_n", F.transform("seg_n", lambda n: n + 1)
    )
    with pytest.raises(Exception, match=r"conv_id=.* metric=.* decodes \d+ values for \d+ timestamps"):
        decode_frames(frames).count()


def test_decode_batch_sample_budget(spark, mixed_series, monkeypatch):
    """With the per-batch sample budget forced down, a batch of frames
    and Gorilla blocks decodes in several slices to the same output."""
    from atsc_spark import frames as fr

    view = fr.compressed_rows(fit_frames(mixed_series, 0.02)).unionByName(
        fr.compressed_rows(fit_lossless(mixed_series))
    )
    rb = view.toArrow().combine_chunks().to_batches()[0]

    def run():
        out = [b for b in fr._decode_batches([rb])]
        cols = [np.concatenate([b.column(i).to_numpy(zero_copy_only=False) for b in out]) for i in range(4)]
        return cols[0].tolist(), cols[1].tolist(), cols[2], cols[3].view(np.int64)

    whole = run()
    real = fr._decode_slice
    seen = []

    def spy(s):
        seen.append(s.num_rows)
        return real(s)

    monkeypatch.setattr(fr, "DECODE_BATCH_SAMPLE_BUDGET", 5_000)
    monkeypatch.setattr(fr, "_decode_slice", spy)
    sliced = run()
    assert len(seen) > 1 and sum(seen) == rb.num_rows
    assert whole[:2] == sliced[:2]
    assert np.array_equal(whole[2], sliced[2]) and np.array_equal(whole[3], sliced[3])


def test_decode_sizing_warns_when_plan_stats_unreadable(spark, mixed_series, monkeypatch, caplog):
    """The cached-input sizing reads private plan statistics; when that
    read fails the decode logs a warning and still returns every row."""
    import logging

    frames = fit_frames(mixed_series, 0.02).cache()
    n = frames.agg(F.sum("sample_count")).collect()[0][0]

    class NoStats:
        def __init__(self, jdf):
            self._jdf = jdf

        def __getattr__(self, name):
            return getattr(self._jdf, name)

        def queryExecution(self):
            raise RuntimeError("plan statistics unavailable")

    monkeypatch.setattr(frames, "_jdf", NoStats(frames._jdf))
    with caplog.at_level(logging.WARNING, logger="atsc_spark.frames"):
        decoded = decode_frames(frames)
    assert "plan statistics unavailable" in caplog.text
    monkeypatch.undo()
    assert decoded.count() == n
    frames.unpersist()


def test_read_series_runs_one_python_stage(spark, tiered_store):
    """Raw points pass through; tier0, tier1 and tier2 rows decode in
    ONE mapInArrow stage, not one Python stage per tier."""
    store, _ = tiered_store
    plan = store.read_series()._jdf.queryExecution().executedPlan()
    if plan.getClass().getSimpleName() == "AdaptiveSparkPlanExec":
        plan = plan.executedPlan()
    names = []

    def walk(p):
        names.append(p.nodeName())
        kids = p.children()
        for i in range(kids.size()):
            walk(kids.apply(i))

    walk(plan)
    assert names.count("MapInArrow") == 1, names
    assert "MapInPandas" not in names, names


def test_frame_timestamps_match_per_row_reference():
    """The batched timestamp pass of the decoder equals per-row
    ``segments_to_ts`` (the reference) on frames with gaps and single
    samples, on Gorilla rows (no segments) and on a sliced batch."""
    import pyarrow as pa

    from atsc_spark.frames import _frame_timestamps, segments_to_ts, time_segment_arrays

    rng = np.random.default_rng(7)
    segs = []
    for k in range(60):
        if k % 7 == 0:
            segs.append((None, None, None))
            continue
        steps = rng.choice([1, 20, 20, 20, 3600], int(rng.integers(1, 300)))
        segs.append(time_segment_arrays(1_700_000_000 + k * 86_400 + np.cumsum(steps)))
    rb = pa.RecordBatch.from_arrays(
        [
            pa.array([None if s[0] is None else s[i].tolist() for s in segs], type=t)
            for i, t in enumerate([pa.list_(pa.int64())] * 2 + [pa.list_(pa.int32())])
        ],
        names=["seg_interval", "seg_start", "seg_n"],
    )
    for lo, hi in ((0, len(segs)), (5, 41)):
        got, off = _frame_timestamps(rb.slice(lo, hi - lo))
        for i, (m, y0, n) in enumerate(segs[lo:hi]):
            want = np.empty(0, np.int64) if m is None else segments_to_ts(m, y0, n)
            assert np.array_equal(got[off[i] : off[i + 1]], want)
