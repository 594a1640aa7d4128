"""Tiered retention + checkpoint/resume tests."""

import time
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


def test_appended_raw_day_moves_to_one_tier0_file(spark, series, tmp_path):
    """Each ``write_raw`` adds a file per day, so a day fed by repeated
    appends holds many raw files.  The pass that ages it rewrites it as
    ONE tier0 file with every row, bit-exact: the store needs no
    separate small-files rewrite."""
    store = TieredStore(
        spark,
        str(tmp_path / "appended"),
        TierPolicy(t0_days=10000, t1_days=20000, t2_days=30000, t3_days=40000),
    )
    convs = sorted(r.conv_id for r in series.select("conv_id").distinct().collect())
    for i in range(5):  # five disjoint conv_id slices, one append each
        store.write_raw(series.filter(F.col("conv_id").isin(convs[i::5])))
    raw_files = store._list_tier_files("raw")
    assert raw_files and all(len(f) >= 5 for f in raw_files.values()), raw_files
    keys = ["conv_id", "metric", "bucket_ts"]
    before = store.read_series().toPandas().sort_values(keys).reset_index(drop=True)

    store.policy = TierPolicy(t0_days=0, t1_days=10000, t2_days=20000, t3_days=30000)
    moves = store.retention_pass(date(2024, 3, 1))
    assert sorted(d for d, _ in moves) == sorted(d.isoformat() for d in raw_files)
    assert store.tier_days("raw") == []
    tier0_files = store._list_tier_files("tier0")
    assert set(tier0_files) == set(raw_files)
    assert all(len(f) == 1 for f in tier0_files.values()), tier0_files
    after = store.read_series().toPandas().sort_values(keys).reset_index(drop=True)
    pd.testing.assert_frame_equal(before, after)


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
    """A rerun recomputes nothing, and each key's lineage row counts
    its input rows and the rows written for it.  Day-shaped keys are
    one input: partition inference would read them back as dates, and
    their rows would then count for no key."""
    for name, key in (
        ("metric", F.col("metric")),
        ("day", F.to_date("bucket_ts").cast("string")),
    ):
        log = CheckpointLog(spark, str(tmp_path / f"lineage_{name}"))
        out_path = str(tmp_path / f"out_{name}")
        calls = []

        def process(df):
            calls.append(1)
            return df.groupBy("partition_key", "metric").agg(
                F.count(F.lit(1)).alias("n"), F.sum("value").alias("s")
            )

        keyed = series.withColumn("partition_key", key)
        want_in = {r.partition_key: r["count"] for r in keyed.groupBy("partition_key").count().collect()}
        per_key_metrics = keyed.select("partition_key", "metric").distinct().groupBy("partition_key")
        want_out = {r.partition_key: r["count"] for r in per_key_metrics.count().collect()}
        assert len(want_in) >= 3
        if name == "metric":
            assert set(want_in) == {"turn_rate", "text_len", "tool_calls"}

        r1 = run_stage(log, "agg", series, key, process, out_path)
        assert r1.processed_keys == len(want_in) and r1.skipped_keys == 0

        # second run: everything already done, nothing recomputed
        r2 = run_stage(log, "agg", series, key, process, out_path)
        assert r2.processed_keys == 0 and r2.skipped_keys == len(want_in)
        assert len(calls) == 1

        lineage = log.read().toPandas()
        assert (lineage.status == "done").all()
        assert dict(zip(lineage.partition_key, lineage.rows_in)) == want_in
        assert dict(zip(lineage.partition_key, lineage.rows_out)) == want_out


def test_run_stage_job_budget(spark, series, tmp_path):
    """A per-day ``fit_frames`` stage runs a fixed number of Spark jobs:
    one collect of the keys with their input counts, one read of the
    log, the fit and write, and one read-back of the written rows; a
    rerun runs only the first two."""
    from atsc_spark.frames import fit_frames

    log = CheckpointLog(spark, str(tmp_path / "lineage"))
    sc = spark.sparkContext

    def process(df):
        return fit_frames(df.drop("partition_key"), max_error=0.03).withColumn(
            "partition_key", F.col("day").cast("string")
        )

    def jobs_of_stage(group):
        sc.setJobGroup(group, group, False)
        try:
            res = run_stage(
                log, "frames", series, F.to_date("bucket_ts").cast("string"), process,
                str(tmp_path / "frames"), [F.sum("payload_bytes").alias("bytes_out")],
            )
        finally:
            sc.setJobGroup("", "", False)
        return res, len(sc.statusTracker().getJobIdsForGroup(group))

    fresh, fresh_jobs = jobs_of_stage("run-stage-fresh")
    rerun, rerun_jobs = jobs_of_stage("run-stage-rerun")
    assert fresh.processed_keys >= 2 and rerun.skipped_keys == fresh.processed_keys
    assert rerun.processed_keys == 0
    assert fresh_jobs <= 10, fresh_jobs
    assert rerun_jobs <= 3, rerun_jobs
    lineage = log.read().toPandas()
    assert (lineage.rows_out > 0).all() and (lineage.bytes_out > 0).all()


def test_append_rows_writers_read_back_identical(spark, tmp_path, monkeypatch):
    """``append_rows`` has one driver-side writer for every master and
    path scheme: under a local and a cluster master, to a scheme-less
    and a ``file://`` path, it starts no Spark job, and the rows read
    back equal to the input, a missing ``updated_at`` filled with the
    time of the append."""
    from datetime import datetime, timezone

    from atsc_spark.checkpoint import LINEAGE_SCHEMA, append_rows

    at = datetime(2024, 5, 1, 12, 30, tzinfo=timezone.utc)
    rows = [
        ("retention:raw->tier0", "2024-01-01", "done", 10, 4, 0, None, 7, 1, at),
        ("cagg:1m", "2024-01-02", "done", 0, 3, 128, 0.0125, 0, 2, None),
    ]
    sc = spark.sparkContext
    floor = datetime.now().replace(microsecond=0)
    for master in ("local[4]", "spark://cluster:7077"):
        for scheme in ("", "file://"):
            table = tmp_path / f"{master[:5]}-{scheme[:4] or 'bare'}"
            group = f"append-rows-{table.name}"
            monkeypatch.setattr(sc, "master", master)
            sc.setJobGroup(group, group, False)
            try:
                append_rows(spark, f"{scheme}{table}", LINEAGE_SCHEMA, rows)
            finally:
                sc.setJobGroup("", "", False)
                monkeypatch.undo()
            assert sc.statusTracker().getJobIdsForGroup(group) == [], (master, scheme)
            got = spark.read.schema(LINEAGE_SCHEMA).parquet(str(table)).orderBy("partition_key")
            got = [tuple(r) for r in got.collect()]
            assert got[0] == rows[0][:-1] + (at.astimezone().replace(tzinfo=None),)
            assert got[1][:-1] == rows[1][:-1] and got[1][-1] >= floor
            assert [p.name[:4] for p in table.glob("*.parquet")] == ["lin-"]


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


def test_retention_plans_by_target_tier(spark, series, tmp_path, monkeypatch):
    """A target receiving days from two source tiers (a late raw day
    and tier0 days) decodes, fits and stages them together: one
    ``_stage`` call, each day's lineage row naming its own source, and
    the same points as moving each source in a pass of its own."""
    import hashlib

    days = sorted(r[0] for r in series.select(F.to_date("bucket_ts")).distinct().collect())
    late = series.filter(F.to_date("bucket_ts") == F.lit(days[0]))
    rest = series.filter(F.to_date("bucket_ts") > F.lit(days[0]))

    def tier0_store(name):
        store = TieredStore(spark, str(tmp_path / name), TierPolicy(0, 10000, 20000, 30000))
        store.write_raw(rest)
        assert store.retention_pass(date(2024, 3, 1))
        store.policy = TierPolicy(0, 0, 20000, 30000)
        return store

    def digest(store):
        rows = sorted(tuple(r) for r in store.read_series().selectExpr(
            "conv_id", "metric", "CAST(bucket_ts AS LONG)", "value"
        ).collect())
        return hashlib.sha256(repr(rows).encode()).hexdigest()

    mixed = tier0_store("mixed")
    mixed.write_raw(late)
    staged = []
    real_stage = TieredStore._stage

    def spy(self, out, staging, *args, **kwargs):
        staged.append(staging.rsplit("/", 1)[-1])
        return real_stage(self, out, staging, *args, **kwargs)

    monkeypatch.setattr(TieredStore, "_stage", spy)
    moves = mixed.retention_pass(date(2024, 3, 2))
    monkeypatch.undo()
    assert sorted(moves) == [(d.isoformat(), "tier1") for d in days]
    assert staged == ["tier1"]
    log = CheckpointLog(spark, mixed.path("_lineage")).read().toPandas()
    to_tier1 = log[log.stage.str.endswith("->tier1")]
    assert dict(zip(to_tier1.partition_key, to_tier1.stage)) == {
        days[0].isoformat(): "retention:raw->tier1",
        **{d.isoformat(): "retention:tier0->tier1" for d in days[1:]},
    }

    apart = tier0_store("apart")
    assert apart.retention_pass(date(2024, 3, 2))  # tier0 -> tier1
    apart.write_raw(late)
    assert apart.retention_pass(date(2024, 3, 2))  # raw -> tier1
    assert digest(mixed) == digest(apart)
    assert mixed.read_series().count() == series.count()


def test_failing_target_commits_nothing(spark, series, tmp_path, monkeypatch):
    """The targets of a pass stage together and commit only when all of
    them staged: a target whose fit raises (the last in tier order,
    after the tier0 and tier1 targets staged) fails the pass with no
    target tier gaining a day and every source day in place, the lease
    released, and a clean rerun ends where an uninterrupted pass does."""
    import hashlib
    from datetime import timedelta

    from atsc_spark import retention

    def digest(store):
        rows = sorted(tuple(r) for r in store.read_series().selectExpr(
            "conv_id", "metric", "CAST(bucket_ts AS LONG)", "value"
        ).collect())
        return hashlib.sha256(repr(rows).encode()).hexdigest()

    def raw_store(name):
        store = TieredStore(spark, str(tmp_path / name), TierPolicy(1, 2, 3, 4))
        store.write_raw(series)
        return store

    store = raw_store("failing")
    raw_days = store.tier_days("raw")
    today = raw_days[-1] + timedelta(days=1)

    real_fit = retention.fit_frames

    def failing_fit(series, max_error, **kwargs):
        if max_error == store.policy.err_tier2:  # the last target in tier order
            raise RuntimeError("injected tier2 fit failure")
        return real_fit(series, max_error=max_error, **kwargs)

    monkeypatch.setattr(retention, "fit_frames", failing_fit)
    with pytest.raises(RuntimeError, match="injected tier2 fit failure"):
        store.retention_pass(today)
    monkeypatch.undo()
    assert store.tier_days("raw") == raw_days
    for tier in ("tier0", "tier1", "tier2", "rollup"):
        assert store.tier_days(tier) == [], tier
    fs, lock = store._lock_path()
    assert not fs.exists(lock)
    assert not fs.exists(store._jpath(store.path("_lineage")))

    moves = store.retention_pass(today)
    assert sorted(t for _, t in moves) == ["tier0", "tier1", "tier2"]
    assert store.tier_days("raw") == []
    clean = raw_store("clean")
    assert sorted(clean.retention_pass(today)) == sorted(moves)
    assert digest(store) == digest(clean)


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


def test_store_with_parked_compaction_day_fails_loudly(spark, series, tmp_path):
    """An older version's small-files compaction could crash between
    its two renames and leave a day's only copy under ``_compact_old``.
    Nothing reads that copy, so a pass over such a store raises before
    it changes anything (the ``_staging`` wipe included), names the
    path, and frees the lease."""
    store = TieredStore(
        spark,
        str(tmp_path / "parked"),
        TierPolicy(t0_days=0, t1_days=10000, t2_days=20000, t3_days=30000),
    )
    store.write_raw(series)
    iso = store.tier_days("raw")[0].isoformat()
    fs, _ = store._fs(store.base)
    parked = store._jpath(f"{store.path('_compact_old')}/raw/day={iso}")
    fs.mkdirs(parked.getParent())
    assert fs.rename(store._jpath(f"{store.path('raw')}/day={iso}"), parked)
    stale = store._jpath(f"{store.path('_staging')}/tier0/leftover")
    fs.create(stale, True).close()

    def snapshot():
        tiers = {t: store._list_tier_files(t) for t in ("raw", "tier0", "tier1", "tier2", "rollup")}
        files = {(st.getPath().getName(), st.getLen()) for st in fs.listStatus(parked)}
        return tiers, files

    before = snapshot()
    with pytest.raises(RuntimeError, match="_compact_old"):
        store.retention_pass(date(2024, 3, 1))
    assert snapshot() == before
    assert fs.exists(stale)
    _, lock = store._lock_path()
    assert not fs.exists(lock)
    store._release_lease(store._acquire_lease(ttl_s=1800))


def test_retention_pass_job_budget(spark, series, tmp_path, monkeypatch):
    """Each (source -> target) move runs one fit/write and ONE count
    action over the staged files and the source days, so a three-move
    pass has a fixed job budget (24 jobs when each move re-read and
    counted both sides in four jobs).  The targets stage on their own
    threads, and every job they run stays in the caller's job group: a
    job outside it would escape the budget."""
    import warnings
    from datetime import timedelta

    from atsc_spark import retention

    store = TieredStore(spark, str(tmp_path / "budget"), TierPolicy(1, 2, 3, 4))
    store.write_raw(series)
    today = store.tier_days("raw")[-1] + timedelta(days=1)
    wrapped = []
    real_wrap = retention.inheritable_thread_target

    def spy_wrap(session):
        wrapped.append(session)
        return real_wrap(session)

    monkeypatch.setattr(retention, "inheritable_thread_target", spy_wrap)
    sc = spark.sparkContext
    ungrouped = set(sc.statusTracker().getJobIdsForGroup(None))
    sc.setJobGroup("retention-job-budget", "one retention pass", False)
    try:
        with warnings.catch_warnings(record=True) as caught:
            warnings.simplefilter("always")
            moves = store.retention_pass(today)
    finally:
        sc.setJobGroup("", "", False)
    monkeypatch.undo()
    assert sorted(t for _, t in moves) == ["tier0", "tier1", "tier2"]
    jobs = sc.statusTracker().getJobIdsForGroup("retention-job-budget")
    assert len(jobs) <= 15, len(jobs)
    assert set(sc.statusTracker().getJobIdsForGroup(None)) - ungrouped == set()
    assert wrapped == [spark] * 3  # one wrap per target, with the session
    assert not [w for w in caught if "Spark session is not provided" in str(w.message)]
    assert store.read_series().count() == series.count()


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
    """A time-bounded read opens only the ``day=`` directories within
    ±2 days of the range: its days come from the holder listing, and
    every file the plan reads lies under one of them."""
    from datetime import timedelta

    lo = series.agg(F.min("bucket_ts")).collect()[0][0]
    t0 = int(lo.timestamp())
    pruned = tier1_store.read_series(t0, t0 + 3600)
    first = date(1970, 1, 1) + timedelta(days=t0 // 86_400)
    window = {f"day={first + timedelta(days=k)}" for k in range(-2, 3)}
    files = pruned.inputFiles()
    assert files
    assert {p.rstrip("/").rsplit("/", 2)[-2] for p in files} <= window, files
    # the pruned file-backed tier read stays shuffle-free end to end:
    # every pruning layer is a scan-stage filter, decode is mapInArrow
    import re

    plan = _plan_of(pruned)
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
    after mapInArrow cannot push through the decoder): the pruned read
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
    t0 = time.perf_counter()
    moves = store.retention_pass(date(2024, 3, 1))
    wall_ms = (time.perf_counter() - t0) * 1000
    assert moves
    log = CheckpointLog(spark, store.path("_lineage")).read().toPandas()
    assert len(log) == len(moves)
    assert set(log.stage) == {"retention:raw->tier0"}
    # the pass's wall is split over its days: the rows sum to no more
    # than the measured wall of the call
    assert 0 < log.wall_ms.sum() <= wall_ms
    assert sorted(log.partition_key) == sorted(d for d, _ in moves)
    assert (log.rows_in > 0).all() and (log.rows_out > 0).all()
    assert (log.status == "done").all()
