"""Tier file layout and tier opens.

- A tier-day is one data file however many partitions the written
  rows had, and a day above the advisory partition size splits.
- Every tier and cagg grain opens with its declared schema, which must
  equal what the writers put on disk; planning a read runs no job.
- A point tier opens only the ``day=`` directories a read needs: a
  one-day read of a 40-day store plans without a job and its input
  files all lie within the ±2-day window.
- An error while opening or listing a tier raises instead of reading
  as "tier missing" or "no days"; a range the store holds no day of
  reads as an empty frame.
"""

import hashlib
from datetime import date, timedelta

import pytest
from pyspark.sql import functions as F
from pyspark.sql.readwriter import DataFrameReader

from atsc_spark.cagg import GRAINS, ContinuousRollups
from atsc_spark.fixtures import transcripts
from atsc_spark.retention import TieredStore, TierPolicy
from atsc_spark.series import derive_series

TIERS = ("raw", "tier0", "tier1", "tier2", "rollup")


def _data_files(store, tier) -> dict:
    """{day: data file count}."""
    return {d: len(files) for d, files in store._list_tier_files(tier).items()}


def _digest(df, cols) -> str:
    rows = sorted(tuple(r) for r in df.selectExpr(*cols).collect())
    return hashlib.sha256(repr(rows).encode()).hexdigest()


POINT_COLS = ("conv_id", "metric", "CAST(bucket_ts AS LONG)", "value")


@pytest.fixture(scope="module")
def layout_series(spark):
    df = derive_series(
        transcripts(spark, n_convs=24, window_days=5), include_global=False
    ).cache()
    df.count()
    yield df
    df.unpersist()


def _aged_store(spark, series, base):
    """``series`` written raw, then aged by two passes so every tier
    holds a day and every move kind ran (raw -> each tier, then
    tier0 -> tier1 -> tier2 -> rollup)."""
    max_day = series.agg(F.max(F.to_date("bucket_ts"))).collect()[0][0]
    store = TieredStore(spark, base, TierPolicy(1, 2, 3, 4))
    store.write_raw(series)
    store.retention_pass(max_day - timedelta(days=1))
    store.retention_pass(max_day)
    return store


@pytest.fixture(scope="module")
def aged_stores(spark, layout_series, tmp_path_factory):
    root = tmp_path_factory.mktemp("layout")
    return {
        n: _aged_store(spark, layout_series.repartition(n), str(root / f"p{n}"))
        for n in (2, 8)
    }


def test_one_file_per_tier_day_whatever_the_input_partitions(aged_stores):
    digests = {}
    for n, store in aged_stores.items():
        for tier in TIERS:
            files = _data_files(store, tier)
            assert files, (n, tier)
            assert set(files.values()) == {1}, (n, tier, files)
        digests[n] = (
            _digest(store.read_series(), POINT_COLS),
            _digest(store.read_rollup(), ("conv_id", "metric", "bucket_ts", "cnt", "sum", "min", "max")),
        )
    assert digests[2] == digests[8]
    assert {t: sorted(_data_files(aged_stores[2], t)) for t in TIERS} == {
        t: sorted(_data_files(aged_stores[8], t)) for t in TIERS
    }


def test_planning_a_read_runs_no_job(spark, aged_stores):
    store = aged_stores[2]
    days = sorted(store.holders())
    assert {h[0] for h in store.holders().values()} == {"raw", "tier0", "tier1", "tier2"}
    sc = spark.sparkContext
    sc.setJobGroup("plan-read-series", "build a read_series plan", False)
    try:
        df = store.read_series(days[0], days[-1])
    finally:
        sc.setJobGroup("", "", False)
    assert list(sc.statusTracker().getJobIdsForGroup("plan-read-series")) == []
    assert df.count() > 0


def test_declared_schemas_match_what_the_writers_put_on_disk(spark, aged_stores):
    store = aged_stores[2]
    cagg = ContinuousRollups(spark, store)
    assert cagg.refresh()

    def fields(df):
        return [(f.name, f.dataType) for f in df.schema.fields]

    for tier in TIERS:
        inferred = spark.read.parquet(store.path(tier))
        assert fields(store._read_or_empty(tier)) == fields(inferred), tier
    for grain in GRAINS:
        inferred = spark.read.parquet(f"{cagg.base}/{grain}")
        assert fields(cagg.read(grain)) == fields(inferred), grain


def test_an_open_error_is_not_a_missing_tier(spark, aged_stores, tmp_path, monkeypatch):
    store = aged_stores[2]
    cagg = ContinuousRollups(spark, store)
    if cagg.read("1m") is None:
        cagg.refresh()
    empty = TieredStore(spark, str(tmp_path / "empty"))
    assert empty._read_or_empty("raw") is None
    assert ContinuousRollups(spark, empty).read("1m") is None
    with pytest.raises(RuntimeError, match="empty store"):
        empty.read_series()

    def broken_open(self, *paths, **kwargs):
        raise OSError("injected open failure")

    monkeypatch.setattr(DataFrameReader, "parquet", broken_open)
    with pytest.raises(OSError, match="injected open failure"):
        store.read_series()
    with pytest.raises(OSError, match="injected open failure"):
        store.read_rollup()
    with pytest.raises(OSError, match="injected open failure"):
        cagg.read("1m")


def test_hot_day_splits_at_the_advisory_size(spark, tmp_path):
    """A day holding most of the rows stages as several files when it
    is larger than the advisory partition size, and reads back
    exactly, raw and as Gorilla blocks."""
    t0 = 1_704_067_200  # 2024-01-01
    ids = spark.range(0, 60_000, numPartitions=8)
    # ids below 54 000 (90 %) land on day 0, the rest on days 1-3; 600
    # series, each sample of a series at its own 20 s step
    day = F.when(F.col("id") < 54_000, 0).otherwise(1 + F.col("id") % 3)
    series = ids.select(
        F.concat(F.lit("c"), (F.col("id") % 600).cast("string")).alias("conv_id"),
        F.lit("m").alias("metric"),
        F.timestamp_seconds(F.lit(t0) + day * 86_400 + (F.col("id") / 600).cast("long") * 20).alias(
            "bucket_ts"
        ),
        F.sin(F.col("id").cast("double")).alias("value"),
    )
    hot_day = (
        series.groupBy(F.to_date("bucket_ts").alias("d")).count().orderBy(F.desc("count")).first()
    )
    assert hot_day["count"] == 54_000
    key = "spark.sql.adaptive.advisoryPartitionSizeInBytes"
    prev = spark.conf.get(key)
    spark.conf.set(key, "64k")
    try:
        store = TieredStore(spark, str(tmp_path / "hot"), TierPolicy(1, 30, 60, 90))
        store.write_raw(series)
        assert _data_files(store, "raw")[hot_day["d"]] > 1
        want = _digest(series, POINT_COLS)
        assert _digest(store.read_series(), POINT_COLS) == want
        store.retention_pass(hot_day["d"] + timedelta(days=2))
        assert hot_day["d"] in store.tier_days("tier0")
        assert _data_files(store, "tier0")[hot_day["d"]] > 1
        assert _digest(store.read_series(), POINT_COLS) == want
    finally:
        spark.conf.set(key, prev)


@pytest.fixture(scope="module")
def raw_40_days(spark, tmp_path_factory):
    """A raw store holding 40 days of two series, four samples each a day:
    more ``day=`` directories than Spark lists without a job
    (``spark.sql.sources.parallelPartitionDiscovery.threshold``, 32)."""
    t0 = 1_704_067_200  # 2024-01-01
    day, hour = (F.col("id") / 8).cast("long"), F.col("id") % 8
    series = spark.range(0, 40 * 8, numPartitions=2).select(
        F.concat(F.lit("c"), (F.col("id") % 2).cast("string")).alias("conv_id"),
        F.lit("m").alias("metric"),
        F.timestamp_seconds(F.lit(t0) + day * 86_400 + hour * 3600).alias("bucket_ts"),
        F.col("id").cast("double").alias("value"),
    )
    store = TieredStore(spark, str(tmp_path_factory.mktemp("days40") / "store"))
    store.write_raw(series)
    assert len(store.tier_days("raw")) == 40
    return store


def test_one_day_read_opens_only_its_day_directories(spark, raw_40_days):
    store = raw_40_days
    day = date(2024, 1, 20)
    sc = spark.sparkContext
    sc.setJobGroup("plan-one-day", "plan a one-day read_series", False)
    try:
        df = store.read_series(day, day)
    finally:
        sc.setJobGroup("", "", False)
    assert list(sc.statusTracker().getJobIdsForGroup("plan-one-day")) == []
    window = {f"day={day + timedelta(days=k)}" for k in range(-2, 3)}
    opened = {p.rstrip("/").rsplit("/", 2)[-2] for p in df.inputFiles()}
    assert opened == window, opened
    assert df.count() == 8


def test_one_day_serve_opens_only_its_day_directories(spark, raw_40_days):
    """A one-day ``serve`` over a grain table of 40 refreshed days plans
    without a job, opens only the in-window ``day=`` directories, and
    returns the grain table's buckets in the range."""
    store = raw_40_days
    cagg = ContinuousRollups(spark, store)
    if cagg.read("1m") is None:
        cagg.refresh()
    assert len(store.tier_days("_rollups/1m")) == 40
    day = date(2024, 1, 20)
    sc = spark.sparkContext
    sc.setJobGroup("plan-one-day-serve", "plan a one-day serve", False)
    try:
        df = cagg.serve(day, day)
    finally:
        sc.setJobGroup("", "", False)
    assert list(sc.statusTracker().getJobIdsForGroup("plan-one-day-serve")) == []
    window = {f"day={day + timedelta(days=k)}" for k in range(-2, 3)}
    opened = {p.rstrip("/").rsplit("/", 2)[-2] for p in df.inputFiles()}
    assert opened == window, opened
    cols = ("conv_id", "metric", "CAST(bucket_ts AS LONG)", "cnt", "sum", "min", "max", "avg")
    want = cagg.read("1m").filter(F.to_date("bucket_ts") == F.lit(day))
    assert want.count() == 8
    assert _digest(df, cols) == _digest(want, cols)
    assert cagg.serve(date(2025, 1, 1), date(2025, 1, 2)).count() == 0


def test_a_range_without_days_reads_empty(spark, raw_40_days):
    df = raw_40_days.read_series(date(2025, 1, 1), date(2025, 1, 2))
    assert [(f.name, f.dataType.simpleString()) for f in df.schema.fields] == [
        ("conv_id", "string"),
        ("metric", "string"),
        ("bucket_ts", "timestamp"),
        ("value", "double"),
    ]
    assert df.count() == 0


def test_a_listing_error_is_not_an_empty_tier(spark, raw_40_days, monkeypatch):
    """A ``listStatus`` failure raises out of reads and retention: read
    as "no days", it would drop the tier from both."""
    real_fs = TieredStore._fs

    class FailingList:
        def __init__(self, fs):
            self._fs = fs

        def listStatus(self, *args):
            raise OSError("injected listStatus failure")

        def __getattr__(self, name):
            return getattr(self._fs, name)

    def failing_fs(self, path):
        fs, p = real_fs(self, path)
        return FailingList(fs), p

    monkeypatch.setattr(TieredStore, "_fs", failing_fs)
    with pytest.raises(OSError, match="injected listStatus failure"):
        raw_40_days.read_series()
    with pytest.raises(OSError, match="injected listStatus failure"):
        raw_40_days.retention_pass(date(2024, 3, 1))
    monkeypatch.undo()
    fs, lock = raw_40_days._lock_path()
    assert not fs.exists(lock)  # the failed pass released its lease
    assert len(raw_40_days.tier_days("raw")) == 40
