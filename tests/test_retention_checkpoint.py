"""Tiered retention + checkpoint/resume tests."""

from datetime import date

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from atsc_spark.checkpoint import CheckpointLog, run_stage
from atsc_spark.fixtures import transcripts
from atsc_spark.lossless import decode_lossless, fit_lossless
from atsc_spark.retention import TieredStore, TierPolicy
from atsc_spark.series import derive_series


@pytest.fixture(scope="module")
def series(spark):
    df = derive_series(
        transcripts(spark, n_convs=40, window_days=3), bucket="20 seconds",
        include_global=False,
    ).cache()
    df.count()
    return df


def test_lossless_spark_roundtrip(spark, series):
    blocks = fit_lossless(series)
    decoded = decode_lossless(blocks)
    a = series.toPandas().sort_values(["conv_id", "metric", "bucket_ts"]).reset_index(drop=True)
    b = decoded.toPandas().sort_values(["conv_id", "metric", "bucket_ts"]).reset_index(drop=True)
    assert len(a) == len(b)
    assert np.array_equal(a["value"].to_numpy(), b["value"].to_numpy())  # bit-exact
    pd.testing.assert_series_equal(a["bucket_ts"], b["bucket_ts"])


def test_retention_tiers_and_reads(spark, series, tmp_path):
    store = TieredStore(
        spark,
        str(tmp_path / "store"),
        TierPolicy(t0_days=10000, t1_days=20000, t2_days=30000, t3_days=40000),
    )
    store.write_raw(series)
    n_raw = series.count()

    # nothing old enough: no moves
    assert store.retention_pass(date(2024, 1, 1)) == []
    assert store.read_series().count() == n_raw

    # age everything into tier0 (lossless): counts and values preserved
    store.policy = TierPolicy(t0_days=0, t1_days=10000, t2_days=20000, t3_days=30000)
    moves = store.retention_pass(date(2024, 3, 1))
    assert moves and all(t == "tier0" for _, t in moves)
    back = store.read_series()
    assert back.count() == n_raw
    a = series.toPandas().sort_values(["conv_id", "metric", "bucket_ts"]).reset_index(drop=True)
    b = back.toPandas().sort_values(["conv_id", "metric", "bucket_ts"]).reset_index(drop=True)
    assert np.array_equal(a["value"].to_numpy(), b["value"].to_numpy())

    # re-running the pass is a no-op (idempotent)
    assert store.retention_pass(date(2024, 3, 1)) == []


def test_retention_lossy_tier(spark, series, tmp_path):
    store = TieredStore(
        spark,
        str(tmp_path / "store2"),
        TierPolicy(t0_days=0, t1_days=0, t2_days=10000, t3_days=30000),
    )
    store.write_raw(series)
    moves = store.retention_pass(date(2024, 6, 1))
    assert all(t == "tier1" for _, t in moves)
    back = store.read_series().toPandas().sort_values(["conv_id", "metric", "bucket_ts"])
    orig = series.toPandas().sort_values(["conv_id", "metric", "bucket_ts"])
    assert len(back) == len(orig)
    o = orig["value"].to_numpy()
    g = back["value"].to_numpy()
    with np.errstate(divide="ignore", invalid="ignore"):
        mape = np.nanmean(np.abs((g - o) / o))
    assert mape <= 0.01 + 1e-9


def test_retention_rollup_only_tier(spark, series, tmp_path):
    """Oldest tier: raw days replaced by 1h rollups only."""
    from atsc_spark.rollup import rollup

    store = TieredStore(
        spark,
        str(tmp_path / "store3"),
        TierPolicy(t0_days=0, t1_days=0, t2_days=0, t3_days=0),
    )
    store.write_raw(series)
    moves = store.retention_pass(date(2030, 1, 1))
    assert moves and all(t == "rollup" for _, t in moves)
    r = store.read_rollup()
    assert r is not None and r.count() > 0
    # rollup content equals aggregating the original series at 1h
    expect = rollup(series, "1 hour").toPandas().sort_values(
        ["conv_id", "metric", "bucket_ts"]
    ).reset_index(drop=True)
    got = (
        r.select(expect.columns.tolist())
        .toPandas()
        .sort_values(["conv_id", "metric", "bucket_ts"])
        .reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(got, expect, check_dtype=False)
    # raw is gone
    import pytest as _pytest

    with _pytest.raises(Exception):
        store.read_series()


def test_checkpoint_resume(spark, series, tmp_path):
    log = CheckpointLog(spark, str(tmp_path / "lineage"))
    out_path = str(tmp_path / "out")

    calls = []

    def process(df):
        calls.append(1)
        return df.groupBy("partition_key", "metric").agg(
            F.count(F.lit(1)).alias("n"), F.sum("value").alias("s")
        )

    key = F.col("metric")
    r1 = run_stage(log, "agg", series, key, process, out_path)
    assert r1.processed_keys == 3 and r1.skipped_keys == 0

    # second run: everything already done, nothing recomputed
    r2 = run_stage(log, "agg", series, key, process, out_path)
    assert r2.processed_keys == 0 and r2.skipped_keys == 3
    assert len(calls) == 1

    lineage = log.read().toPandas()
    assert set(lineage.partition_key) == {"turn_rate", "text_len", "tool_calls"}
    assert (lineage.status == "done").all()
    assert (lineage.rows_in > 0).all() and (lineage.rows_out > 0).all()


def test_retention_tier_progression(spark, series, tmp_path):
    """Data already in tier0 keeps aging: a later pass re-fits it into
    tier1 (ADVICE: tiers must progress, not only raw)."""
    store = TieredStore(
        spark,
        str(tmp_path / "store4"),
        TierPolicy(t0_days=0, t1_days=10000, t2_days=20000, t3_days=30000),
    )
    store.write_raw(series)
    n = series.count()
    moves = store.retention_pass(date(2024, 3, 1))
    assert moves and all(t == "tier0" for _, t in moves)
    assert store.tier_days("raw") == []

    # crossing the t1 threshold moves tier0 -> tier1
    store.policy = TierPolicy(t0_days=0, t1_days=0, t2_days=20000, t3_days=30000)
    moves = store.retention_pass(date(2024, 3, 2))
    assert moves and all(t == "tier1" for _, t in moves)
    assert store.tier_days("tier0") == []
    back = store.read_series()
    assert back.count() == n
    orig = series.toPandas().sort_values(["conv_id", "metric", "bucket_ts"])
    got = back.toPandas().sort_values(["conv_id", "metric", "bucket_ts"])
    o, g = orig["value"].to_numpy(), got["value"].to_numpy()
    with np.errstate(divide="ignore", invalid="ignore"):
        mape = np.nanmean(np.abs((g - o) / o))
    assert mape <= 0.01 + 1e-9


def test_retention_crash_between_write_and_drop(spark, series, tmp_path):
    """Crash after the tier write but before the source drop: the rerun
    overwrites the target partitions (no duplicates) and finishes the
    drop."""
    store = TieredStore(
        spark,
        str(tmp_path / "store5"),
        TierPolicy(t0_days=0, t1_days=10000, t2_days=20000, t3_days=30000),
    )
    store.write_raw(series)
    n = series.count()

    real_delete = store._delete_partition
    calls = []

    def exploding_delete(tier, day):
        calls.append((tier, day))
        raise RuntimeError("simulated crash before source drop")

    store._delete_partition = exploding_delete
    with pytest.raises(RuntimeError, match="simulated crash"):
        store.retention_pass(date(2024, 3, 1))
    # both copies exist now (never neither)
    assert store.tier_days("raw") != []
    assert store.tier_days("tier0") != []

    store._delete_partition = real_delete
    moves = store.retention_pass(date(2024, 3, 1))
    assert moves
    assert store.tier_days("raw") == []
    # no duplicated samples after the idempotent rerun
    assert store.read_series().count() == n


def test_checkpoint_resume_no_duplicates(spark, series, tmp_path):
    """Crash between output write and lineage record: rerun must
    replace the key's partition, not append a second copy."""
    log = CheckpointLog(spark, str(tmp_path / "lineage2"))
    out_path = str(tmp_path / "out2")

    def process(df):
        return df.groupBy("partition_key", "metric").agg(
            F.count(F.lit(1)).alias("n"), F.sum("value").alias("s")
        )

    # simulate the crash: write the output but never record lineage
    keyed = series.withColumn("partition_key", F.col("metric"))
    out = process(keyed)
    out.write.mode("append").partitionBy("partition_key").parquet(out_path)
    before = spark.read.parquet(out_path).count()

    r = run_stage(log, "agg2", series, F.col("metric"), process, out_path)
    assert r.processed_keys == 3  # no 'done' rows existed -> all rerun
    after = spark.read.parquet(out_path)
    assert after.count() == before  # replaced, not duplicated
    # exactly one row per (key, metric)
    dup = after.groupBy("partition_key", "metric").count().filter("count > 1")
    assert dup.count() == 0


def test_retention_lossy_tier_to_rollup(spark, series, tmp_path):
    """The deepest transition: frames (tier2) age into rollup-only —
    decoded frame values feed the 1h aggregate, and the frames
    partition is dropped."""
    store = TieredStore(
        spark,
        str(tmp_path / "store6"),
        TierPolicy(t0_days=0, t1_days=0, t2_days=0, t3_days=10000),
    )
    store.write_raw(series)
    moves = store.retention_pass(date(2024, 6, 1))
    assert all(t == "tier2" for _, t in moves)

    store.policy = TierPolicy(t0_days=0, t1_days=0, t2_days=0, t3_days=0)
    moves = store.retention_pass(date(2030, 1, 1))
    assert moves and all(t == "rollup" for _, t in moves)
    assert store.tier_days("tier2") == []
    r = store.read_rollup()
    assert r is not None and r.count() > 0
    # aggregates come from the <=3%-error decoded values: counts exact,
    # sums within the bound
    from atsc_spark.rollup import rollup

    expect = rollup(series, "1 hour").toPandas().sort_values(
        ["conv_id", "metric", "bucket_ts"]
    ).reset_index(drop=True)
    got = (
        r.select(expect.columns.tolist()).toPandas()
        .sort_values(["conv_id", "metric", "bucket_ts"]).reset_index(drop=True)
    )
    assert len(got) == len(expect)
    assert (got["cnt"].to_numpy() == expect["cnt"].to_numpy()).all()
    import numpy as np

    e, g = expect["sum"].to_numpy(), got["sum"].to_numpy()
    nz = e != 0
    assert np.abs((g[nz] - e[nz]) / e[nz]).max() <= 0.04  # 3% bound + slack


def test_retention_dedupes_days_across_source_tiers(spark, series, tmp_path):
    """Regression (r2 ADVICE low): a crash can leave a day in two
    source tiers.  The pass must fit from the most faithful copy (raw
    beats tierN) and drop the stale lossier duplicate — previously both
    moves ran and the lossy re-fit overwrote the faithful output."""
    store = TieredStore(
        spark,
        str(tmp_path / "store_dup"),
        TierPolicy(t0_days=0, t1_days=10000, t2_days=20000, t3_days=30000),
    )
    store.write_raw(series)
    n = series.count()

    # simulate the crash: day moved into tier0 but raw copy not dropped
    real_delete = store._delete_partition
    store._delete_partition = lambda tier, day: None
    store.retention_pass(date(2024, 3, 1))
    store._delete_partition = real_delete
    assert store.tier_days("raw") != [] and store.tier_days("tier0") != []

    # now the day has aged past tier0: both raw and tier0 hold it
    store.policy = TierPolicy(t0_days=0, t1_days=0, t2_days=20000, t3_days=30000)
    moves = store.retention_pass(date(2024, 3, 2))
    assert moves and all(t == "tier1" for _, t in moves)
    # both stale sources are gone, exactly one tier1 copy exists
    assert store.tier_days("raw") == []
    assert store.tier_days("tier0") == []
    back = store.read_series()
    assert back.count() == n
    # tier1 bound (1%) holds — proof the fit ran from the raw copy
    # (a tier0 source would also satisfy this; the no-duplicates count
    # above is what pins the dedupe behavior)
    a = series.toPandas().sort_values(["conv_id", "metric", "bucket_ts"])
    b = back.toPandas().sort_values(["conv_id", "metric", "bucket_ts"])
    o, g = a["value"].to_numpy(), b["value"].to_numpy()
    with np.errstate(divide="ignore", invalid="ignore"):
        mape = np.nanmean(np.abs((g - o) / o))
    assert mape <= 0.01 + 1e-9


def test_retention_crash_injection_every_step(spark, series, tmp_path):
    """Staged-commit crash matrix: kill the pass (a) after staging but
    before any commit, (b) after commit but before the source drop.
    Every intermediate state must still serve all n samples exactly
    once after a final clean pass (no loss, no duplicates)."""
    n = series.count()

    # (a) crash before the first commit: target untouched, source intact
    store = TieredStore(
        spark,
        str(tmp_path / "store_crash_commit"),
        TierPolicy(t0_days=0, t1_days=10000, t2_days=20000, t3_days=30000),
    )
    store.write_raw(series)
    real_commit = store._commit_partition

    def exploding_commit(staging, target, day):
        raise RuntimeError("crash before commit")

    store._commit_partition = exploding_commit
    with pytest.raises(RuntimeError, match="crash before commit"):
        store.retention_pass(date(2024, 3, 1))
    assert store.tier_days("raw") != []  # source untouched
    assert store.tier_days("tier0") == []  # nothing half-published
    assert store.read_series().count() == n
    store._commit_partition = real_commit
    assert store.retention_pass(date(2024, 3, 1))
    assert store.tier_days("raw") == []
    assert store.read_series().count() == n

    # (b) crash after commit, before drop: both copies exist (never
    # neither); rerun dedupes and finishes
    store2 = TieredStore(
        spark,
        str(tmp_path / "store_crash_drop"),
        TierPolicy(t0_days=0, t1_days=10000, t2_days=20000, t3_days=30000),
    )
    store2.write_raw(series)
    real_delete = store2._delete_partition

    def exploding_delete(tier, day):
        raise RuntimeError("crash before drop")

    store2._delete_partition = exploding_delete
    with pytest.raises(RuntimeError, match="crash before drop"):
        store2.retention_pass(date(2024, 3, 1))
    assert store2.tier_days("raw") != [] and store2.tier_days("tier0") != []
    assert store2.read_series().count() == n  # each day from one holder
    store2._delete_partition = real_delete
    assert store2.retention_pass(date(2024, 3, 1))
    assert store2.tier_days("raw") == []
    assert store2.read_series().count() == n


def test_retention_pass_job_budget(spark, series, tmp_path, monkeypatch):
    """Each (source -> target) move runs one fit/write and ONE count
    action over the staged files and the source days, so a three-move
    pass has a fixed job budget (24 jobs when each move re-read and
    counted both sides in four jobs); compaction counts with one
    action too."""
    from datetime import timedelta

    store = TieredStore(spark, str(tmp_path / "budget"), TierPolicy(1, 2, 3, 4))
    store.write_raw(series)
    today = store.tier_days("raw")[-1] + timedelta(days=1)
    sc = spark.sparkContext
    sc.setJobGroup("retention-job-budget", "one retention pass", False)
    try:
        moves = store.retention_pass(today)
    finally:
        sc.setJobGroup("", "", False)
    assert sorted(t for _, t in moves) == ["tier0", "tier1", "tier2"]
    jobs = sc.statusTracker().getJobIdsForGroup("retention-job-budget")
    assert len(jobs) <= 15, len(jobs)
    assert store.read_series().count() == series.count()

    compact = TieredStore(spark, str(tmp_path / "budget_compact"), store.policy)
    for _ in range(5):
        compact.write_raw(series)
    collects = []
    real_collect = type(series).collect

    def counting_collect(self):
        collects.append(self)
        return real_collect(self)

    monkeypatch.setattr(type(series), "collect", counting_collect)
    assert compact.compact_tier("raw", max_files_per_day=4)
    monkeypatch.undo()
    assert len(collects) == 1


def test_gorilla_magic_guards():
    """Stale/foreign blobs fail fast with a versioned error instead of
    decoding garbage (r2 ADVICE low: GORA->GORB format break)."""
    from atsc_spark.core.gorilla import dod_decode, dod_encode, xor_decode, xor_encode

    ts = np.arange(0, 1000, 10, dtype=np.int64)
    vals = np.round(np.sin(np.arange(100.0)), 3)
    assert np.array_equal(dod_decode(dod_encode(ts)), ts)
    assert np.array_equal(xor_decode(xor_encode(vals)), vals)
    with pytest.raises(ValueError, match="GORA layout is not supported"):
        dod_decode(b"GORA" + dod_encode(ts)[4:])
    with pytest.raises(ValueError, match="value section: bad magic"):
        xor_decode(b"NOPE" + xor_encode(vals)[4:])


def test_iceberg_guard_degrades_gracefully(spark):
    """No Iceberg jars in this container: the probe must return False
    without raising, which is what keeps TieredStore on the parquet
    staged-rename path."""
    from atsc_spark.iceberg import iceberg_available

    assert iceberg_available(spark) is False


# -------------------------------------------- time-range-pruned reads


def _plan_of(df) -> str:
    import io
    from contextlib import redirect_stdout

    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


@pytest.fixture(scope="module")
def tier1_store(spark, series, tmp_path_factory):
    """A store with every day aged into tier1 frames (3 series-days)."""
    store = TieredStore(
        spark,
        str(tmp_path_factory.mktemp("pruned") / "store"),
        TierPolicy(t0_days=0, t1_days=0, t2_days=10000, t3_days=30000),
    )
    store.write_raw(series)
    moves = store.retention_pass(date(2024, 6, 1))
    assert moves and all(t == "tier1" for _, t in moves)
    assert store.tier_days("tier1") != []
    return store


def test_read_series_range_matches_full_read_filtered(spark, series, tier1_store):
    """Pruned read == full read filtered to the same closed interval."""
    lo = series.agg(F.min("bucket_ts")).collect()[0][0]
    t0 = int(lo.timestamp()) + 86_400 // 2          # midday of day 1
    t1 = t0 + 86_400                                 # midday of day 2
    full = tier1_store.read_series().filter(
        (F.col("bucket_ts") >= F.timestamp_seconds(F.lit(t0)))
        & (F.col("bucket_ts") <= F.timestamp_seconds(F.lit(t1)))
    )
    pruned = tier1_store.read_series(t0, t1)
    a = full.toPandas().sort_values(["conv_id", "metric", "bucket_ts"]).reset_index(drop=True)
    b = pruned.toPandas().sort_values(["conv_id", "metric", "bucket_ts"]).reset_index(drop=True)
    assert len(a) == len(b) > 0
    assert np.array_equal(a["value"].to_numpy(), b["value"].to_numpy())
    pd.testing.assert_series_equal(a["bucket_ts"], b["bucket_ts"])
    # datetime bounds give the same result as epoch-second bounds
    from datetime import datetime, timezone

    c = (
        tier1_store.read_series(
            datetime.fromtimestamp(t0, tz=timezone.utc),
            datetime.fromtimestamp(t1, tz=timezone.utc),
        )
        .toPandas()
        .sort_values(["conv_id", "metric", "bucket_ts"])
        .reset_index(drop=True)
    )
    assert np.array_equal(a["value"].to_numpy(), c["value"].to_numpy())


def test_read_series_range_prunes_partitions_in_plan(spark, series, tier1_store):
    """The day-bounds filter must reach the parquet scan as a
    PartitionFilter (directory-level pruning), not a post-scan filter."""
    lo = series.agg(F.min("bucket_ts")).collect()[0][0]
    t0 = int(lo.timestamp())
    plan = _plan_of(tier1_store.read_series(t0, t0 + 3600))
    scan_lines = [l for l in plan.splitlines() if "PartitionFilters" in l]
    assert scan_lines, "scan shows no PartitionFilters"
    assert any("day" in l and ">=" in l and "<=" in l for l in scan_lines), scan_lines
    # the pruned file-backed tier read stays shuffle-free end to end:
    # every pruning layer is a scan-stage filter, decode is mapInPandas
    import re

    assert not re.findall(r"^\(\d+\) Exchange", plan, re.M), "pruned read shuffled"


def test_prune_frames_to_range_span_metadata(spark, series, tier1_store):
    """Frame-level pruning: only frames whose VSRI span intersects the
    range survive, judged purely from metadata; payload bytes reaching
    the decoder drop accordingly."""
    from atsc_spark.frames import frame_time_span, prune_frames_to_range

    frames = spark.read.parquet(tier1_store.path("tier1"))
    spans = frame_time_span(frames).select("span_start_s", "span_end_s").toPandas()
    lo_all, hi_all = int(spans["span_start_s"].min()), int(spans["span_end_s"].max())
    t0 = lo_all + (hi_all - lo_all) // 3
    t1 = lo_all + (hi_all - lo_all) // 2

    kept = frame_time_span(prune_frames_to_range(frames, t0, t1)).toPandas()
    assert 0 < len(kept) < len(spans)
    # exactly the intersecting frames survive
    want = spans[(spans["span_end_s"] >= t0) & (spans["span_start_s"] <= t1)]
    assert len(kept) == len(want)
    assert ((kept["span_end_s"] >= t0) & (kept["span_start_s"] <= t1)).all()
    # decoder-visible bytes shrink
    full_b = frames.agg(F.sum("payload_bytes")).collect()[0][0]
    kept_b = prune_frames_to_range(frames, t0, t1).agg(F.sum("payload_bytes")).collect()[0][0]
    assert kept_b < full_b


# --------------------------------------------------- writer lease


def test_retention_lease_blocks_second_writer(spark, series, tmp_path):
    """Two simultaneous passes: exactly one winner, the loser aborts
    cleanly before touching any partition, zero data loss."""
    from atsc_spark.retention import RetentionLockHeld

    store = TieredStore(
        spark,
        str(tmp_path / "race"),
        TierPolicy(t0_days=0, t1_days=10000, t2_days=20000, t3_days=30000),
    )
    store.write_raw(series)
    n = series.count()

    # writer A holds the lease (mid-pass)
    store._acquire_lease(ttl_s=1800)
    # writer B (a second store handle on the same path) must abort
    store_b = TieredStore(spark, store.base, store.policy)
    with pytest.raises(RetentionLockHeld, match="held"):
        store_b.retention_pass(date(2024, 3, 1))
    # nothing moved, nothing lost
    assert store_b.tier_days("tier0") == []
    assert store.read_series().count() == n

    # A releases; B proceeds and completes the move
    store._release_lease()
    assert store_b.retention_pass(date(2024, 3, 1))
    assert store_b.tier_days("raw") == []
    assert store_b.read_series().count() == n


def test_retention_lease_stale_takeover_and_release(spark, series, tmp_path):
    """A crashed holder's lock (heartbeat older than ttl) is taken
    over; a finished pass always releases its lease."""
    import time

    store = TieredStore(
        spark,
        str(tmp_path / "stale"),
        TierPolicy(t0_days=0, t1_days=10000, t2_days=20000, t3_days=30000),
    )
    store.write_raw(series)
    # simulate a crashed writer: lock exists with an ancient heartbeat
    store._acquire_lease(ttl_s=1800)
    fs, lock = store._lock_path()
    fs.setTimes(lock, int((time.time() - 3600) * 1000), -1)
    moves = store.retention_pass(date(2024, 3, 1), lease_ttl_s=1800)
    assert moves  # took over and completed
    # lease was released at the end of the pass
    assert not fs.exists(lock)


def test_heartbeat_failure_counted_and_content_fallback(spark, series, tmp_path):
    """setTimes failures fall back to a content rewrite (advancing
    mtime), and persistent failures are COUNTED (surfaced via the
    logger) instead of silently degrading the ttl to creation time."""
    store = TieredStore(
        spark,
        str(tmp_path / "hb"),
        TierPolicy(t0_days=0, t1_days=10000, t2_days=20000, t3_days=30000),
    )
    store.write_raw(series)
    holder = store._acquire_lease(ttl_s=1800)
    fs, lock = store._lock_path()

    # break setTimes: the fallback rewrite must still advance mtime
    before = fs.getFileStatus(lock).getModificationTime()
    fs.setTimes(lock, before - 5000, -1)  # age it so any advance is visible
    aged = fs.getFileStatus(lock).getModificationTime()

    def patched_lock_path():
        class Broken:
            def setTimes(self, *a):
                raise RuntimeError("unsupported")

            def __getattr__(self, name):
                return getattr(fs, name)

        return Broken(), lock

    store._lock_path = patched_lock_path
    assert store._heartbeat_lease() is True  # content-rewrite fallback
    assert store._heartbeat_failures == 0
    assert fs.getFileStatus(lock).getModificationTime() > aged
    assert store._read_lock_holder() == holder  # content preserved

    # now break BOTH paths: failures must count up, never reset
    def broken_lock_path():
        class Dead:
            def setTimes(self, *a):
                raise RuntimeError("unsupported")

            def create(self, *a):
                raise RuntimeError("read-only")

            def __getattr__(self, name):
                return getattr(fs, name)

        return Dead(), lock

    store._lock_path = broken_lock_path
    assert store._heartbeat_lease() is False
    assert store._heartbeat_lease() is False
    assert store._heartbeat_failures == 2

    store._lock_path = lambda: (fs, lock)
    store._release_lease(holder)
    assert not fs.exists(lock)


def test_compact_tier_recovers_under_lease(spark, series, tmp_path):
    """compact_tier must NOT run crash recovery lease-free: with the
    lease held by another writer it aborts BEFORE touching the parked
    _compact_old backup (the lease-free-recovery race from ADVICE r4)."""
    from atsc_spark.retention import RetentionLockHeld

    store = TieredStore(
        spark,
        str(tmp_path / "leaserec"),
        TierPolicy(t0_days=10000, t1_days=20000, t2_days=30000, t3_days=40000),
    )
    for _ in range(5):
        store.write_raw(series)
    day = store.tier_days("raw")[0]
    iso = day.isoformat()
    fs, lock = store._lock_path()

    # simulate another holder mid two-rename swap: live parked in
    # _compact_old, lease held
    live = store._jpath(f"{store.path('raw')}/day={iso}")
    backup = store._jpath(f"{store.path('_compact_old')}/raw/day={iso}")
    fs.mkdirs(backup.getParent())
    assert fs.rename(live, backup)
    other = TieredStore(spark, store.base, store.policy)
    other._acquire_lease(ttl_s=1800)

    with pytest.raises(RetentionLockHeld):
        store.compact_tier("raw", max_files_per_day=4)
    # the parked backup was NOT touched while the lease was held
    assert fs.exists(backup)
    assert not fs.exists(live)

    # holder releases → compaction recovers the day, then compacts
    other._release_lease()
    done = store.compact_tier("raw", max_files_per_day=4)
    assert iso in done
    assert day in store.tier_days("raw")
    # no day remains PARKED in _compact_old (empty scaffolding dirs are
    # fine — the next pass's recovery sweeps them)
    old_root = store._jpath(store.path("_compact_old"))
    if fs.exists(old_root):
        for tdir in fs.listStatus(old_root):
            assert len(fs.listStatus(tdir.getPath())) == 0


def test_read_series_span_filters_reach_tier_scan(spark, series, tier1_store):
    """A time-bounded tier read's span predicate must reach the frames
    parquet scan as PushedFilters on the MATERIALIZED span columns
    (round-5 FRAME_SCHEMA) — the row-group-statistics pruning layer,
    sitting between day-partition pruning and the exact decode trim."""
    lo = series.agg(F.min("bucket_ts")).collect()[0][0]
    t0 = int(lo.timestamp())
    pruned = tier1_store.read_series(t0, t0 + 3600)
    plan = _plan_of(pruned)
    span_lines = [l for l in plan.splitlines() if "PushedFilters" in l and "span_" in l]
    assert span_lines, "span filters did not reach the tier scan"


def test_read_series_key_pruning(spark, series, tier1_store):
    """conv_ids/metrics filters hit the COMPRESSED frame rows (a filter
    after mapInPandas cannot push through the decoder): the pruned read
    equals the full read filtered, and the scan reaches the parquet
    PushedFilters."""
    one_conv = series.select("conv_id").distinct().limit(1).collect()[0].conv_id
    full = tier1_store.read_series().filter(
        (F.col("conv_id") == one_conv) & (F.col("metric") == "turn_rate")
    )
    pruned = tier1_store.read_series(conv_ids=[one_conv], metrics=["turn_rate"])
    a = full.toPandas().sort_values(["bucket_ts"]).reset_index(drop=True)
    b = pruned.toPandas().sort_values(["bucket_ts"]).reset_index(drop=True)
    assert len(a) == len(b) > 0
    assert np.array_equal(a["value"].to_numpy(), b["value"].to_numpy())
    # the key predicates reach the frames scan (before decode)
    plan = _plan_of(pruned)
    assert "PushedFilters" in plan
    assert any(
        "conv_id" in l for l in plan.splitlines() if "PushedFilters" in l
    ), "conv_id filter did not reach the scan"


def test_read_series_date_bounds_cover_whole_days(spark, series, tier1_store):
    """A plain date as the upper bound means THROUGH that day
    (23:59:59), not midnight at its start — read_series(d0, d1) over
    the store's first two days returns both full days."""
    lo = series.agg(F.min("bucket_ts")).collect()[0][0]
    d0 = lo.date()
    from datetime import timedelta

    d1 = d0 + timedelta(days=1)
    got = tier1_store.read_series(d0, d1)
    want = tier1_store.read_series().filter(F.to_date("bucket_ts").isin([d0, d1]))
    assert got.count() == want.count() > 0


def test_read_auto_resolution_selection(spark, series, tier1_store):
    """read_auto picks the finest grain under the point budget and
    aggregates the pruned read: tiny budget -> 1h rows; generous budget
    + native hint -> raw samples unaggregated."""
    from datetime import timedelta

    lo = series.agg(F.min("bucket_ts")).collect()[0][0]
    d0 = lo.date()
    d1 = d0 + timedelta(days=2)
    span_s = 3 * 86_400 - 1

    assert tier1_store.choose_resolution(span_s, max_points=100) == "1 hour"
    assert tier1_store.choose_resolution(span_s, max_points=10) == "1 day"
    assert tier1_store.choose_resolution(3600, max_points=100) == "1 minute"

    coarse = tier1_store.read_auto(d0, d1, max_points=100, metrics=["turn_rate"])
    assert "cnt" in coarse.columns  # rollup schema
    per_series = coarse.groupBy("conv_id").count().agg(F.max("count")).collect()[0][0]
    assert per_series <= 100

    native = tier1_store.read_auto(
        d0, d1, max_points=100_000, metrics=["turn_rate"], native_interval_s=20
    )
    assert set(native.columns) == {"conv_id", "metric", "bucket_ts", "value"}
    want = tier1_store.read_series(d0, d1, metrics=["turn_rate"]).count()
    assert native.count() == want > 0


def test_retention_writes_lineage_rows(spark, series, tmp_path):
    """Each committed move leaves a (day, source->target, rows in/out)
    lineage row in <base>/_lineage — the north rule's per-partition
    lineage + metrics for retention."""
    from atsc_spark.checkpoint import CheckpointLog

    store = TieredStore(
        spark,
        str(tmp_path / "lin"),
        TierPolicy(t0_days=0, t1_days=10000, t2_days=20000, t3_days=30000),
    )
    store.write_raw(series)
    moves = store.retention_pass(date(2024, 3, 1))
    assert moves
    log = CheckpointLog(spark, store.path("_lineage")).read().toPandas()
    assert len(log) == len(moves)
    assert set(log.stage) == {"retention:raw->tier0"}
    assert sorted(log.partition_key) == sorted(d for d, _ in moves)
    assert (log.rows_in > 0).all() and (log.rows_out > 0).all()
    assert (log.status == "done").all()


def test_compact_tier_merges_small_files(spark, series, tmp_path):
    """Repeated appends leave many files per day; compaction rewrites
    each hot day to ONE file via the staged atomic commit with data
    bit-identical, and is idempotent."""
    store = TieredStore(
        spark,
        str(tmp_path / "compact"),
        TierPolicy(t0_days=10000, t1_days=20000, t2_days=30000, t3_days=40000),
    )
    for _ in range(5):  # 5 appends -> >= 5 files per day
        store.write_raw(series)
    n = store.read_series().count()

    def files_per_day():
        fs, _ = store._fs(store.base)
        out = {}
        for day in store.tier_days("raw"):
            p = spark._jvm.org.apache.hadoop.fs.Path(
                f"{store.path('raw')}/day={day.isoformat()}"
            )
            out[day] = sum(
                1
                for st in fs.listStatus(p)
                if st.isFile() and not st.getPath().getName().startswith("_")
            )
        return out

    before = files_per_day()
    assert all(v >= 5 for v in before.values())

    a = store.read_series().toPandas().sort_values(
        ["conv_id", "metric", "bucket_ts"]
    ).reset_index(drop=True)
    compacted = store.compact_tier("raw", max_files_per_day=4)
    assert sorted(compacted) == sorted(d.isoformat() for d in before)
    after = files_per_day()
    assert all(v == 1 for v in after.values()), after
    b = store.read_series().toPandas().sort_values(
        ["conv_id", "metric", "bucket_ts"]
    ).reset_index(drop=True)
    assert store.read_series().count() == n
    assert np.array_equal(a["value"].to_numpy(), b["value"].to_numpy())

    # idempotent: nothing left over the threshold
    assert store.compact_tier("raw", max_files_per_day=4) == []


def test_compaction_crash_recovery_never_loses_a_day(spark, series, tmp_path):
    """The two-rename swap's crash windows: a day parked in
    _compact_old with the live dir missing is RESTORED by the next
    pass; with the live dir present the backup is dropped."""
    store = TieredStore(
        spark,
        str(tmp_path / "crashrec"),
        TierPolicy(t0_days=10000, t1_days=20000, t2_days=30000, t3_days=40000),
    )
    store.write_raw(series)
    n = store.read_series().count()
    day = store.tier_days("raw")[0]
    iso = day.isoformat()
    fs, _ = store._fs(store.base)

    # crash window A: live renamed to backup, staged swap never happened
    live = store._jpath(f"{store.path('raw')}/day={iso}")
    backup = store._jpath(f"{store.path('_compact_old')}/raw/day={iso}")
    fs.mkdirs(backup.getParent())
    assert fs.rename(live, backup)
    assert store.tier_days("raw")[0] != day or len(store.tier_days("raw")) < 3
    store._recover_compaction()
    assert day in store.tier_days("raw")
    assert store.read_series().count() == n

    # crash window B: commit finished (live exists), stale backup remains
    fs.mkdirs(backup.getParent())
    dummy = store._jpath(f"{store.path('_compact_old')}/raw/day={iso}/stale")
    fs.create(dummy, True).close()
    store._recover_compaction()
    assert not fs.exists(store._jpath(f"{store.path('_compact_old')}"))
    assert store.read_series().count() == n


def test_compaction_skips_concurrently_appended_day(spark, series, tmp_path):
    """A day whose file set changes between planning and commit is
    skipped (kept live), never clobbered with the stale staged copy."""
    store = TieredStore(
        spark,
        str(tmp_path / "racecompact"),
        TierPolicy(t0_days=10000, t1_days=20000, t2_days=30000, t3_days=40000),
    )
    for _ in range(5):
        store.write_raw(series)
    n = store.read_series().count()
    days = store.tier_days("raw")
    victim = days[0]

    real_list = store._list_day_files
    calls = {"n": 0}

    def racing_list(tier, day):
        out = real_list(tier, day)
        if day == victim:
            calls["n"] += 1
            # per-victim call order: 1 = pre-lease quick scan, 2 =
            # under-lease candidate scan, 3 = planning snapshot, 4+ =
            # commit-time re-check.  "Append" lands after planning.
            if calls["n"] >= 4:
                out = out | {("concurrent-append.parquet", 123)}
        return out

    store._list_day_files = racing_list
    done = store.compact_tier("raw", max_files_per_day=4)
    store._list_day_files = real_list
    assert victim.isoformat() not in done
    assert len(done) == len(days) - 1
    assert store.read_series().count() == n  # nothing lost either way


def test_compact_tier_before_excludes_hot_days(spark, series, tmp_path):
    from datetime import timedelta

    store = TieredStore(
        spark,
        str(tmp_path / "beforec"),
        TierPolicy(t0_days=10000, t1_days=20000, t2_days=30000, t3_days=40000),
    )
    for _ in range(5):
        store.write_raw(series)
    days = store.tier_days("raw")
    cutoff = days[-1]  # treat the newest day as still-ingesting
    done = store.compact_tier("raw", max_files_per_day=4, before=cutoff)
    assert cutoff.isoformat() not in done
    assert len(done) == len(days) - 1
