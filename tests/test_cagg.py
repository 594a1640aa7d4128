"""Incrementally-maintained continuous aggregates (atsc_spark.cagg).

The contract under test (r4 VERDICT directive 5): appending one new
day to the store and refreshing rewrites ONLY that day's rollup
partitions (lineage rows assert it), and the materialized tables
always equal a full recompute from the store's points.
"""

import numpy as np
import pytest

from pyspark.sql import functions as F

from atsc_spark.cagg import ContinuousRollups, GRAINS
from atsc_spark.retention import TieredStore, TierPolicy
from atsc_spark.rollup import rollup, rollup_cascade_step
from atsc_spark.series import derive_series
from atsc_spark.fixtures import transcripts


@pytest.fixture(scope="module")
def cagg_series(spark):
    df = derive_series(
        transcripts(spark, n_convs=20, window_days=3),
        bucket="20 seconds",
        include_global=False,
    ).cache()
    df.count()
    return df


def _recompute(series, grain):
    r1m = rollup(series, GRAINS["1m"])
    if grain == "1m":
        return r1m
    r1h = rollup_cascade_step(r1m, GRAINS["1h"])
    if grain == "1h":
        return r1h
    return rollup_cascade_step(r1h, GRAINS["1d"])


def _pdf(df):
    return (
        df.select("conv_id", "metric", "bucket_ts", "cnt", "sum", "min", "max")
        .toPandas()
        .sort_values(["conv_id", "metric", "bucket_ts"])
        .reset_index(drop=True)
    )


def _assert_rollup_equal(materialized, recomputed):
    a, b = _pdf(materialized), _pdf(recomputed)
    assert len(a) == len(b) > 0
    for c in ("cnt",):
        assert np.array_equal(a[c].to_numpy(), b[c].to_numpy())
    for c in ("sum", "min", "max"):
        assert np.allclose(a[c].to_numpy(), b[c].to_numpy(), rtol=0, atol=0)


def test_refresh_matches_full_recompute_and_is_incremental(
    spark, cagg_series, tmp_path
):
    store = TieredStore(
        spark,
        str(tmp_path / "caggstore"),
        TierPolicy(t0_days=10000, t1_days=20000, t2_days=30000, t3_days=40000),
    )
    # initial load: all but the last day
    days = sorted(
        r.day
        for r in cagg_series.select(F.to_date("bucket_ts").alias("day"))
        .distinct()
        .collect()
    )
    assert len(days) >= 2
    first_days = cagg_series.filter(F.to_date("bucket_ts") < F.lit(days[-1]))
    last_day = cagg_series.filter(F.to_date("bucket_ts") == F.lit(days[-1]))
    store.write_raw(first_days)

    cagg = ContinuousRollups(spark, store)
    refreshed = cagg.refresh()
    assert sorted(refreshed) == [d.isoformat() for d in days[:-1]]
    for grain in GRAINS:
        _assert_rollup_equal(cagg.read(grain), _recompute(first_days, grain))

    # no changes -> nothing dirty, nothing rewritten
    assert cagg.refresh() == []

    # append ONE new day -> only that day's partitions refresh
    store.write_raw(last_day)
    lineage_before = cagg.lineage.read().count()
    refreshed = cagg.refresh()
    assert refreshed == [days[-1].isoformat()]
    new_rows = cagg.lineage.read().count() - lineage_before
    assert new_rows == len(GRAINS)  # one lineage row per grain, one day
    keys = {
        (r.stage, r.partition_key)
        for r in cagg.lineage.read()
        .orderBy(F.desc("updated_at"))
        .limit(new_rows)
        .collect()
    }
    assert keys == {(f"cagg:{g}", days[-1].isoformat()) for g in GRAINS}
    for grain in GRAINS:
        _assert_rollup_equal(cagg.read(grain), _recompute(cagg_series, grain))


def test_refresh_tracks_retention_tier_moves(spark, cagg_series, tmp_path):
    """Aging days from raw to tier0/tier1 changes their fingerprints;
    a refresh recomputes them from the DECODED tiers and still matches
    the original recompute (tier0 is lossless; tier1 rollups differ in
    values but must keep the same buckets/counts)."""
    from datetime import date, timedelta

    store = TieredStore(
        spark,
        str(tmp_path / "caggage"),
        TierPolicy(t0_days=0, t1_days=10000, t2_days=20000, t3_days=30000),
    )
    store.write_raw(cagg_series)
    cagg = ContinuousRollups(spark, store)
    cagg.refresh()

    # age everything raw -> tier0 (lossless)
    max_day = max(
        r.day
        for r in cagg_series.select(F.to_date("bucket_ts").alias("day"))
        .distinct()
        .collect()
    )
    moves = store.retention_pass(max_day + timedelta(days=5))
    assert moves
    dirty = cagg.dirty_days()
    assert dirty  # tier moves made days dirty
    cagg.refresh()
    # tier0 is bit-lossless: rollups must equal the raw recompute
    for grain in GRAINS:
        _assert_rollup_equal(cagg.read(grain), _recompute(cagg_series, grain))


def test_fully_aged_day_keeps_materialized_rollup(spark, cagg_series, tmp_path):
    """A day aged to the rollup-only retention tier has no points left;
    the continuous aggregate must KEEP serving its materialized rollup
    (and the day goes clean, not eternally dirty)."""
    from datetime import timedelta

    store = TieredStore(
        spark,
        str(tmp_path / "caggdrop"),
        TierPolicy(t0_days=10000, t1_days=20000, t2_days=30000, t3_days=0),
    )
    store.write_raw(cagg_series)
    cagg = ContinuousRollups(spark, store)
    cagg.refresh()
    before = {g: _pdf(cagg.read(g)) for g in GRAINS}

    # everything ages straight to rollup-only: points are GONE
    max_day = max(
        r.day
        for r in cagg_series.select(F.to_date("bucket_ts").alias("day"))
        .distinct()
        .collect()
    )
    store.retention_pass(max_day + timedelta(days=5))
    assert store.tier_days("raw") == []

    refreshed = cagg.refresh()
    assert refreshed  # days were dirty (files vanished) ...
    for g in GRAINS:  # ... but the materialized tables survived intact
        after = _pdf(cagg.read(g))
        assert len(after) == len(before[g])
    assert cagg.refresh() == []  # and they are clean now


def test_serve_from_materialized_tables(spark, cagg_series, tmp_path):
    """serve() answers a dashboard read from the materialized rollup
    (no decode, no re-aggregation) and equals the on-the-fly
    rollup(read_series(...)) on a bucket-aligned range; a native-grain
    request falls back to the store's pruned read path."""
    from datetime import datetime, timezone

    store = TieredStore(
        spark,
        str(tmp_path / "caggserve"),
        TierPolicy(t0_days=10000, t1_days=20000, t2_days=30000, t3_days=40000),
    )
    store.write_raw(cagg_series)
    cagg = ContinuousRollups(spark, store)
    cagg.refresh()

    bounds = cagg_series.agg(
        F.min("bucket_ts").alias("lo"), F.max("bucket_ts").alias("hi")
    ).collect()[0]
    lo_s = int(bounds.lo.replace(tzinfo=timezone.utc).timestamp())
    hi_s = int(bounds.hi.replace(tzinfo=timezone.utc).timestamp())
    # hour-aligned range inside the data, wide enough to force 1h grain
    t0 = datetime.fromtimestamp(lo_s - lo_s % 3600 + 3600, tz=timezone.utc)
    t1 = datetime.fromtimestamp(hi_s - hi_s % 3600 - 1, tz=timezone.utc)
    span = int(t1.timestamp()) - int(t0.timestamp())
    max_points = span // 3600 + 1  # 1m would blow the budget, 1h just fits

    served = cagg.serve(t0, t1, max_points=max_points)
    on_the_fly = rollup(store.read_series(t0, t1), "1 hour")
    a = _pdf(served)
    b = _pdf(on_the_fly)
    assert len(a) == len(b) > 0
    assert np.array_equal(a["cnt"].to_numpy(), b["cnt"].to_numpy())
    assert np.allclose(a["sum"].to_numpy(), b["sum"].to_numpy(), rtol=0, atol=1e-9)

    # a tiny span still serves from the 1m materialized table
    small = cagg.serve(
        t0, datetime.fromtimestamp(t0.timestamp() + 120, tz=timezone.utc)
    )
    assert "cnt" in small.columns and small.count() > 0

    # un-refreshed store (no materialized tables) -> read_auto fallback
    fresh = ContinuousRollups(
        spark,
        TieredStore(
            spark, str(tmp_path / "caggserve"), store.policy
        ),
    )
    fresh.base = str(tmp_path / "nowhere")  # no _rollups here
    fallback = fresh.serve(t0, t1, max_points=max_points)
    assert {"cnt", "sum"} <= set(fallback.columns)  # read_auto coarsened


def test_state_log_compaction_and_crash_recovery(spark, cagg_series, tmp_path):
    """The per-refresh fingerprint appends compact into one snapshot
    once the file count passes the bound; a crash between the two
    renames is recovered at the next refresh; fingerprints survive both
    (nothing spuriously dirty)."""
    store = TieredStore(
        spark,
        str(tmp_path / "caggstate"),
        TierPolicy(t0_days=10000, t1_days=20000, t2_days=30000, t3_days=40000),
    )
    store.write_raw(cagg_series)
    cagg = ContinuousRollups(spark, store)
    cagg.refresh()
    for _ in range(3):  # extra no-op-ish appends: more state files
        cagg._record_fingerprints({d: cagg._day_fingerprint(d) for d in cagg.store.tier_days("raw")})

    fs, root = store._fs(f"{cagg.base}/_state")
    n_before = len([s for s in fs.listStatus(root) if s.isFile()])
    assert cagg.compact_state(max_files=2) is True
    n_after = len([s for s in fs.listStatus(root) if s.isFile()])
    assert n_after < n_before
    assert cagg.refresh() == []  # fingerprints preserved, nothing dirty

    # crash window: log parked at _state_old, live _state missing
    old = spark._jvm.org.apache.hadoop.fs.Path(f"{cagg.base}/_state_old")
    assert fs.rename(root, old)
    cagg._recover_state()
    assert fs.exists(root) and not fs.exists(old)
    assert cagg.refresh() == []  # restored log still clean


def test_streaming_ingestion_feeds_incremental_rollups(spark, tmp_path):
    """The full continuous loop: stream transcripts into the store,
    refresh the continuous aggregates (fingerprints catch the streamed
    appends without any writer cooperation), stream MORE data, refresh
    again — the materialized rollups always equal a full recompute of
    everything ingested so far, and the second refresh touches only
    the streamed-to days."""
    from atsc_spark.fixtures import transcripts
    from atsc_spark.streaming import stream_transcripts_to_store

    inp = str(tmp_path / "incoming")
    store = TieredStore(
        spark,
        str(tmp_path / "streamcagg"),
        TierPolicy(t0_days=10000, t1_days=20000, t2_days=30000, t3_days=40000),
    )
    t1 = transcripts(spark, n_convs=8, window_days=1)
    t1.write.mode("overwrite").parquet(inp)
    stream_transcripts_to_store(spark, inp, store).awaitTermination(120)

    cagg = ContinuousRollups(spark, store)
    assert cagg.refresh()
    ingested = store.read_series()
    _assert_rollup_equal(cagg.read("1m"), rollup(ingested, GRAINS["1m"]))
    assert cagg.refresh() == []  # settled

    # stream a second batch, shifted PAST the first batch's watermark
    # (same-window data would be dropped as late); fingerprints flag
    # the newly-appended days
    t2 = transcripts(spark, n_convs=8, window_days=1, seed=7).withColumn(
        "ts", F.col("ts") + F.expr("INTERVAL 2 DAYS")
    )
    t2.write.mode("append").parquet(inp)
    stream_transcripts_to_store(spark, inp, store).awaitTermination(120)
    refreshed = cagg.refresh()
    assert refreshed  # the appended day(s) went dirty
    ingested = store.read_series()
    for g in GRAINS:
        _assert_rollup_equal(cagg.read(g), _recompute(ingested, g))


def test_state_compaction_crash_mid_delete_leaves_correct_log(spark, cagg_series, tmp_path):
    """compact_state's only crash window is between moving the snapshot
    in and deleting the old files: readers then see old + snapshot,
    latest-per-updated_at dedup keeps the answer right, and the next
    compaction sweeps the duplicates."""
    store = TieredStore(
        spark,
        str(tmp_path / "caggcrash"),
        TierPolicy(t0_days=10000, t1_days=20000, t2_days=30000, t3_days=40000),
    )
    store.write_raw(cagg_series)
    cagg = ContinuousRollups(spark, store)
    cagg.refresh()
    truth = cagg._recorded_fingerprints()

    # simulate the crash: run a compaction whose old-file deletes never
    # happen by snapshotting INTO the live dir ourselves
    fs, root = store._fs(f"{cagg.base}/_state")
    import pandas as pd

    snap = spark.createDataFrame(
        pd.DataFrame(
            {"day": list(truth), "fingerprint": [truth[d] for d in truth]}
        )
    ).withColumn("updated_at", F.current_timestamp())
    staged = spark._jvm.org.apache.hadoop.fs.Path(f"{cagg.base}/_state_new")
    snap.coalesce(1).write.mode("overwrite").parquet(str(staged))
    for st in fs.listStatus(staged):
        if st.isFile() and st.getPath().getName().endswith(".parquet"):
            fs.rename(
                st.getPath(),
                spark._jvm.org.apache.hadoop.fs.Path(
                    f"{cagg.base}/_state/compacted-crash-{st.getPath().getName()}"
                ),
            )
    fs.delete(staged, True)

    # duplicates present: the log still reads correctly, nothing dirty
    assert cagg._recorded_fingerprints() == truth
    assert cagg.refresh() == []
    # next compaction (forced) sweeps everything into one snapshot
    assert cagg.compact_state(max_files=1) is True
    assert cagg._recorded_fingerprints() == truth
    assert cagg.refresh() == []


def test_crash_leftover_duplicate_day_not_double_counted(spark, cagg_series, tmp_path):
    """A crash mid-tier-move can leave a day's data in TWO tiers; the
    refresh must aggregate it from the most faithful copy only, never
    union both (which would double every count)."""
    store = TieredStore(
        spark,
        str(tmp_path / "caggdup"),
        TierPolicy(t0_days=10000, t1_days=20000, t2_days=30000, t3_days=40000),
    )
    store.write_raw(cagg_series)
    # simulate the crash leftover: the same rows ALSO live in tier0
    from atsc_spark.lossless import fit_lossless

    blocks = fit_lossless(cagg_series)
    blocks.write.mode("overwrite").partitionBy("day").parquet(store.path("tier0"))

    cagg = ContinuousRollups(spark, store)
    cagg.refresh()
    # counts equal the single-copy recompute, not double
    _assert_rollup_equal(cagg.read("1m"), rollup(cagg_series, GRAINS["1m"]))


def test_crash_between_grain_commits_self_heals(spark, cagg_series, tmp_path):
    """A refresh that dies AFTER committing the 1m grain but BEFORE the
    1h/1d grains leaves the grains mutually stale — but (a) every grain
    individually still serves complete days (partition commits are
    atomic), (b) the day's fingerprint is only recorded at the END of
    the refresh, so the day stays dirty, and (c) the next refresh
    recomputes it and converges all three grains."""
    store = TieredStore(
        spark,
        str(tmp_path / "caggcrash"),
        TierPolicy(t0_days=10000, t1_days=20000, t2_days=30000, t3_days=40000),
    )
    days = sorted(
        r.day
        for r in cagg_series.select(F.to_date("bucket_ts").alias("day"))
        .distinct()
        .collect()
    )
    first_days = cagg_series.filter(F.to_date("bucket_ts") < F.lit(days[-1]))
    last_day = cagg_series.filter(F.to_date("bucket_ts") == F.lit(days[-1]))
    store.write_raw(first_days)
    cagg = ContinuousRollups(spark, store)
    cagg.refresh()

    # append a day, then crash the refresh at the first 1h commit
    store.write_raw(last_day)
    real_commit = ContinuousRollups._commit_rollup_partition

    def crashing_commit(self, staging, grain, day):
        if grain == "1h":
            raise RuntimeError("injected crash before 1h commit")
        real_commit(self, staging, grain, day)

    ContinuousRollups._commit_rollup_partition = crashing_commit
    try:
        with pytest.raises(RuntimeError, match="injected crash"):
            cagg.refresh()
    finally:
        ContinuousRollups._commit_rollup_partition = real_commit

    # mid-crash state: 1m already has the new day, 1h/1d do not...
    assert cagg.read("1m").filter(
        F.to_date("bucket_ts") == F.lit(days[-1])
    ).count() > 0
    assert (
        cagg.read("1h").filter(F.to_date("bucket_ts") == F.lit(days[-1])).count()
        == 0
    )
    # ...but the stale grains still serve their old days completely
    _assert_rollup_equal(cagg.read("1h"), _recompute(first_days, "1h"))
    # fingerprint unrecorded -> the day is still dirty
    assert days[-1] in cagg.dirty_days()

    # the next (uncrashed) refresh converges every grain
    assert cagg.refresh() == [days[-1].isoformat()]
    for grain in GRAINS:
        _assert_rollup_equal(cagg.read(grain), _recompute(cagg_series, grain))
    assert cagg.refresh() == []


def test_bulk_tier_listing_matches_per_day(spark, cagg_series, tmp_path):
    """The 2-py4j-call bulk listing (globStatus + Arrays.toString parse)
    must see exactly the files the per-day listStatus path sees — and
    its fallback must engage (not crash) on a missing tier."""
    store = TieredStore(
        spark,
        str(tmp_path / "bulkstore"),
        TierPolicy(t0_days=10000, t1_days=20000, t2_days=30000, t3_days=40000),
    )
    store.write_raw(cagg_series)
    bulk = store._list_tier_files("raw")
    slow = store._list_tier_files_slow("raw")
    assert bulk and bulk == slow
    assert store._list_tier_files("tier0") == {}  # missing tier dir
    # fingerprints from the bulk listing equal the per-day ones
    cagg = ContinuousRollups(spark, store)
    by_tier = cagg._bulk_listing()
    for day in list(bulk)[:3]:
        assert cagg._day_fingerprint(day, by_tier) == cagg._day_fingerprint(day)


def test_state_log_mixed_spark_and_pyarrow_files(spark, cagg_series, tmp_path):
    """Upgrade path for the r7 driver-side log appends: a store whose
    state log was written by the OLD Spark writer keeps working when
    the new pyarrow writer appends into the same directory — the read
    path must consume a MIX of both file vintages (and the lineage log
    likewise)."""
    store = TieredStore(
        spark,
        str(tmp_path / "store"),
        TierPolicy(t0_days=10000, t1_days=20000, t2_days=30000, t3_days=40000),
    )
    store.write_raw(cagg_series)
    cagg = ContinuousRollups(spark, store)
    # simulate an r6-era log: one Spark-written append
    old = spark.createDataFrame(
        [("1999-01-01", "stale-fp")], "day string, fingerprint string"
    ).withColumn("updated_at", F.current_timestamp())
    old.coalesce(1).write.mode("append").parquet(f"{cagg.base}/_state")
    # the new writer appends pyarrow files next to it
    refreshed = cagg.refresh()
    assert refreshed  # all real days were dirty
    rec = cagg._recorded_fingerprints()
    # the Spark-written stale row WAS read: the refresh saw the
    # recorded-but-absent 1999 day and re-marked it EMPTY (the
    # aged-away handling) — it could only know about that day from
    # the old-format file
    assert rec.get("1999-01-01") == "EMPTY"
    assert all(iso in rec for iso in refreshed)
    # nothing dirty on a second pass: the mixed log read back exactly
    assert cagg.refresh() == []


def _count_nodes(spark, plan, name, seen_caches):
    """``name`` nodes a physical plan executes: descends into adaptive
    plans and query stages, and into each cached relation's plan once
    (a cache is computed once, however many scans read it)."""
    cls = plan.getClass().getSimpleName()
    if cls == "AdaptiveSparkPlanExec":
        kids = [plan.executedPlan()]
    elif cls.endswith("QueryStageExec"):
        kids = [plan.plan()]
    elif cls == "InMemoryTableScanExec":
        key = spark._jvm.System.identityHashCode(plan.relation().cacheBuilder())
        kids = [] if key in seen_caches else [plan.relation().cachedPlan()]
        seen_caches.add(key)
    else:
        seq = plan.children()
        kids = [seq.apply(i) for i in range(seq.size())]
    return int(plan.nodeName() == name) + sum(
        _count_nodes(spark, k, name, seen_caches) for k in kids
    )


def _max_day(series):
    return series.agg(F.max(F.to_date("bucket_ts"))).collect()[0][0]


@pytest.fixture
def aged_store(spark, cagg_series, tmp_path):
    """Every day aged out of raw: the last one into tier1, the rest
    into tier2."""
    from datetime import timedelta

    store = TieredStore(
        spark,
        str(tmp_path / "caggonce"),
        TierPolicy(t0_days=0, t1_days=1, t2_days=2, t3_days=30000),
    )
    store.write_raw(cagg_series)
    store.retention_pass(_max_day(cagg_series) + timedelta(days=1))
    assert store.tier_days("tier1") and store.tier_days("tier2")
    return store


def test_refresh_decodes_each_source_tier_once(
    spark, cagg_series, aged_store, monkeypatch
):
    """The one-job refresh write feeds all three grains from the same
    1m rollup; the lossy-tier frame decode under it must run once per
    refresh, not once per grain branch."""
    from pyspark.sql.readwriter import DataFrameWriter

    store = aged_store
    counts = []
    original = DataFrameWriter.parquet

    def parquet(self, path, *args, **kwargs):
        plan = self._df._jdf.queryExecution().executedPlan()
        counts.append(_count_nodes(spark, plan, "MapInPandas", set()))
        return original(self, path, *args, **kwargs)

    monkeypatch.setattr(DataFrameWriter, "parquet", parquet)
    cached_before = spark.sparkContext._jsc.getPersistentRDDs().size()
    cagg = ContinuousRollups(spark, store)
    cagg.refresh()
    monkeypatch.undo()
    assert counts == [2]  # one decode per lossy tier (tier1, tier2)
    # the shared 1m rollup is released once the write is done
    assert spark.sparkContext._jsc.getPersistentRDDs().size() == cached_before
    # lossy tiers keep every timestamp: buckets and counts are exact
    for grain in GRAINS:
        a = _pdf(cagg.read(grain))
        b = _pdf(_recompute(cagg_series, grain))
        assert len(a) == len(b) > 0
        for c in ("conv_id", "metric", "bucket_ts", "cnt"):
            assert np.array_equal(a[c].to_numpy(), b[c].to_numpy())


def test_refresh_source_read_agrees_with_read_series(spark, cagg_series, aged_store):
    """The refresh's source read and read_series serve points through
    the store's shared holder rule and tier reader: on a store holding
    raw, tier0, tier1 and tier2 days, one of them also left in raw by
    a crash, both count every sample once per (conv_id, metric, day)."""
    import pandas as pd
    from datetime import timedelta

    store = aged_store
    max_day = _max_day(cagg_series)
    last = cagg_series.filter(F.to_date("bucket_ts") == F.lit(max_day))

    def shifted(days):
        return last.withColumn(
            "bucket_ts", F.col("bucket_ts") + F.expr(f"INTERVAL {days} DAYS")
        )

    store.write_raw(shifted(1))
    assert store.retention_pass(max_day + timedelta(days=1)) == [
        ((max_day + timedelta(days=1)).isoformat(), "tier0")
    ]
    store.write_raw(shifted(1))  # crash leftover: raw copy of the tier0 day
    store.write_raw(shifted(2))
    assert all(store.tier_days(t) for t in ("raw", "tier0", "tier1", "tier2"))

    def per_day(df):
        return (
            df.groupBy("conv_id", "metric", F.to_date("bucket_ts").alias("day"))
            .count()
            .toPandas()
            .sort_values(["conv_id", "metric", "day"])
            .reset_index(drop=True)
        )

    want = per_day(cagg_series.unionByName(shifted(1)).unionByName(shifted(2)))
    cagg = ContinuousRollups(spark, store)
    days = sorted(store.holders())
    pd.testing.assert_frame_equal(
        per_day(store.read_days(days, cagg._bulk_listing())), want
    )
    pd.testing.assert_frame_equal(per_day(store.read_series()), want)
