"""Incrementally-maintained continuous aggregates (1m/1h/1d rollups).

The reference positions ATSC downstream of "databases that roll their
time series over" (`/root/reference/README.md:66`); the rollups
themselves are the continuous-aggregate layer every such database
maintains.  Recomputing the rollups from scratch reprocesses a year
to pick up one appended day at the 100 TB tier.  This module maintains
materialized 1m/1h/1d rollup tables that are refreshed ONLY for the
day partitions whose underlying tier data changed.

Change detection is a per-day FILE-SET FINGERPRINT (tier, file name,
file length — pure FileSystem metadata, no data scan) across the
raw/tier0/tier1/tier2 tiers.  A day is dirty when its current
fingerprint differs from the last recorded one — this catches raw
appends and retention tier moves alike, without trusting any writer to
report what it touched.

The recorded fingerprints live in ONE JSON file, read and written on
the driver: ``_rollups/_state.json`` (``{day iso: fingerprint}``,
``EMPTY`` entries included).  A refresh writes the merged map to a temp file and renames
it over the state file (``FileContext.rename`` with ``OVERWRITE``, one
atomic replace on HDFS and POSIX), so a lease-free ``dirty_days`` sees
the old map or the new one, never a partial or missing file.  A
missing file means no refresh was recorded; any other read error, an
unparseable file included, raises.  The parquet state log of older
stores (``_rollups/_state/``) is ignored: their first refresh
recomputes every day once.

Refresh shape (scale notes):

- one bulk listing of the point tiers serves the fingerprints and the
  source read, and the state file is read once;
- only dirty day partitions are READ, each from its most faithful
  tier, through the store's own reader (``TieredStore.read_days``);
- the cascade re-aggregates the next-finer grain (1h from the fresh
  1m, 1d from the fresh 1h); the three grains are staged by ONE Spark
  write partitioned by (grain, day);
- each grain's day partitions are published with the same atomic
  rename commit the retention pass uses, so readers never see a
  half-refreshed day;
- per-(grain, day) lineage rows (rows in/out, wall) go to the shared
  CheckpointLog schema — the north rule's per-partition lineage;
- the state file is replaced last, so a refresh that dies before it
  leaves its days dirty and the next refresh redoes them.

Days aged all the way to the rollup-only retention tier have no
points left to re-aggregate; their materialized rollups are KEPT (the
defining property of a continuous aggregate: it outlives the raw data)
and the day is marked clean so it stops showing up as dirty.
"""

from __future__ import annotations

import hashlib
import json
import time as _time_mod
from datetime import date
from functools import reduce

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .checkpoint import CheckpointLog
from .retention import _POINT_TIERS, _epoch_range, _utc_day
from .rollup import ROLLUP_SCHEMA, rollup, rollup_cascade_step

GRAINS: dict[str, str] = {"1m": "1 minute", "1h": "1 hour", "1d": "1 day"}


class ContinuousRollups:
    """Materialized 1m/1h/1d rollups over a :class:`TieredStore`,
    refreshed incrementally per dirty day partition.

    Everything it keeps lives under the store's ``ROOT`` directory:
    the grain tables (``ROOT/<grain>``), the state file, the lineage
    log and the refresh staging."""

    ROOT = "_rollups"

    def __init__(self, spark: SparkSession, store) -> None:
        self.spark = spark
        self.store = store
        self.base = store.path(self.ROOT)
        self.state = f"{self.base}/_state.json"
        self.lineage = CheckpointLog(spark, f"{self.base}/_lineage")

    def _table(self, grain: str) -> str:
        """The store-relative name of ``grain``'s rollup table."""
        return f"{self.ROOT}/{grain}"

    # ----------------------------------------------------- fingerprints

    def _day_fingerprint(self, day: date, by_tier: dict | None = None) -> str:
        """sha256 over the sorted (tier, file, length) set of a day's
        partitions across all source tiers — metadata-only.  Pass
        ``by_tier`` (from :meth:`_bulk_listing`) to fingerprint from an
        already-fetched listing instead of 4 per-day listStatus calls."""
        parts = []
        for tier in _POINT_TIERS:
            files = (
                by_tier[tier].get(day, set())
                if by_tier is not None
                else self.store._list_day_files(tier, day)
            )
            for name, length in sorted(files):
                parts.append(f"{tier}/{name}:{length}")
        if not parts:
            return "EMPTY"
        return hashlib.sha256("\n".join(parts).encode()).hexdigest()

    def _bulk_listing(self) -> dict:
        """{tier: {day: file set}} in 2 py4j calls per tier
        (`TieredStore._list_tier_files`) — the per-day listing was 6 s
        of a 12 s refresh at 30 days; at a year of days it would be
        the whole wall."""
        return {t: self.store._list_tier_files(t) for t in _POINT_TIERS}

    def _recorded_fingerprints(self) -> dict[str, str]:
        """The recorded ``{day iso: fingerprint}`` map; empty when the
        state file is missing.  Any other error raises: read as
        "nothing recorded", it would mark every day dirty."""
        fs, path = self.store._fs(self.state)
        if not fs.exists(path):  # no refresh recorded yet
            return {}
        stream = fs.open(path)
        try:
            data = bytes(stream.readAllBytes())
        finally:
            stream.close()
        recorded = json.loads(data)
        if not isinstance(recorded, dict):
            raise ValueError(f"cagg state {self.state} is not a day -> fingerprint map")
        return recorded

    def _record_fingerprints(self, recorded: dict[str, str]) -> None:
        """Write ``recorded`` to a temp file and :func:`_replace` the
        state file with it.  Only the lease holder writes, so the temp
        name is fixed and a crash's leftover is overwritten next time."""
        fs, state = self.store._fs(self.state)
        tmp = self.spark._jvm.org.apache.hadoop.fs.Path(f"{self.state}.tmp")
        out = fs.create(tmp, True)
        try:
            out.write(bytearray(json.dumps(recorded, sort_keys=True).encode()))
        finally:
            out.close()
        _replace(self.spark, fs, tmp, state)

    def _dirty_map(self, by_tier: dict, recorded: dict[str, str]) -> dict[date, str]:
        """{dirty day: its CURRENT fingerprint} from a
        :meth:`_bulk_listing` and the recorded map — computed once so
        the refresh records exactly what it compared against."""
        seen: set[date] = set()
        for tier in _POINT_TIERS:
            seen.update(by_tier[tier])
        # recorded days absent from every source tier (fully aged away,
        # or dropped) must be re-checked too: their fingerprint flips to
        # EMPTY and the refresh marks them clean while KEEPING the
        # materialized rollups
        seen.update(date.fromisoformat(iso) for iso in recorded)
        out: dict[date, str] = {}
        for day in seen:
            fp = self._day_fingerprint(day, by_tier)
            if recorded.get(day.isoformat()) != fp:
                out[day] = fp
        return out

    def dirty_days(self) -> list[date]:
        """Days whose source file set changed since the last refresh
        (new days included; fully-aged-to-rollup days show as EMPTY and
        are handled by :meth:`refresh`)."""
        return sorted(self._dirty_map(self._bulk_listing(), self._recorded_fingerprints()))

    # ----------------------------------------------------------- read

    def read(self, grain: str) -> DataFrame | None:
        """The materialized rollup table for ``grain`` ('1m'/'1h'/'1d');
        None before its first refresh."""
        if grain not in GRAINS:
            raise ValueError(f"unknown grain {grain!r}; want one of {list(GRAINS)}")
        return self.store._read_or_empty(self._table(grain), ROLLUP_SCHEMA)

    def serve(
        self,
        t0,
        t1,
        max_points: int = 2000,
        conv_ids: list[str] | None = None,
        metrics: list[str] | None = None,
    ) -> DataFrame:
        """Dashboard-style read SERVED FROM THE MATERIALIZED TABLES:
        pick the finest grain that keeps each series under
        ``max_points`` (same grain table as
        ``TieredStore.choose_resolution``), then read that rollup table
        at its listed ``day=`` directories in range (no partition
        discovery over the whole table), trimmed to the bucket range — no
        tier decode, no re-aggregation.  This is what the continuous
        aggregates exist for: the query cost is proportional to the
        OUTPUT points, not the underlying raw data.

        Returns bucket-aligned aggregates: every bucket whose start
        falls in ``[t0, t1]``, aggregated over the bucket's WHOLE
        contents (TimescaleDB continuous-aggregate semantics — an
        on-the-fly ``rollup(read_series(t0, t1))`` truncates the
        boundary buckets' inputs instead, so the two agree exactly
        when the range is bucket-aligned).

        Falls back to ``store.read_auto`` when the chosen grain's
        rollup table has never been refreshed (``choose_resolution``
        never picks finer than 1m, so the materialized tables cover
        every grain it can return)."""
        lo_s, hi_s = _epoch_range(t0, t1)
        interval = self.store.choose_resolution(max(hi_s - lo_s, 1), max_points)
        name = self._table(_GRAIN_BY_INTERVAL[interval])
        fs, root = self.store._fs(self.store.path(name))
        if not fs.exists(root):
            return self.store.read_auto(
                t0, t1, max_points, conv_ids=conv_ids, metrics=metrics
            )
        cols = ("conv_id", "metric", "bucket_ts", "cnt", "sum", "min", "max", "avg")
        # open only the listed day directories within ±2 days of the
        # range (the TZ widening of read_series), then trim exactly
        lo_day, hi_day = _utc_day(lo_s - 2 * 86_400), _utc_day(hi_s + 2 * 86_400)
        days = [d for d in self.store.tier_days(name) if lo_day <= d <= hi_day]
        if not days:
            return self.spark.createDataFrame([], ROLLUP_SCHEMA).select(*cols)
        out = self.store._open_days(name, days, ROLLUP_SCHEMA).filter(
            (F.col("bucket_ts") >= F.timestamp_seconds(F.lit(lo_s)))
            & (F.col("bucket_ts") <= F.timestamp_seconds(F.lit(hi_s)))
        )
        if conv_ids is not None:
            out = out.filter(F.col("conv_id").isin(list(conv_ids)))
        if metrics is not None:
            out = out.filter(F.col("metric").isin(list(metrics)))
        return out.select(*cols)

    # -------------------------------------------------------- refresh

    def refresh(self, days: list[date] | None = None, lease_ttl_s: int = 1800) -> list[str]:
        """Re-aggregate the dirty (or given) days into the 1m/1h/1d
        rollup tables; returns the refreshed day isos.

        Single-writer under the store's retention lease (a refresh and
        a retention pass mutating the same store must serialize — the
        fingerprints read here must not race a tier move's
        rename/delete)."""
        with self.store._leased(lease_ttl_s):
            return self._refresh_locked(days)

    def _refresh_locked(self, days: list[date] | None) -> list[str]:
        # one listing serves the fingerprints and the source read
        by_tier = self._bulk_listing()
        recorded = self._recorded_fingerprints()
        if days is None:
            fps = self._dirty_map(by_tier, recorded)  # one fingerprint pass, reused below
            days = sorted(fps)
        else:
            fps = {d: self._day_fingerprint(d, by_tier) for d in days}
        if not days:
            return []
        # fully-aged days (no points left in any source tier): keep the
        # existing materialized rollups, just mark clean
        compute = [d for d in days if fps[d] != "EMPTY"]
        if compute:
            src = self.store.read_days(compute, by_tier)
            if src is None:
                # non-EMPTY fingerprints but nothing readable in any
                # tier (e.g. zero-byte leftovers from a killed writer):
                # surface it — recording these days clean would hide
                # real data behind a green refresh
                raise RuntimeError(
                    "cagg refresh: day partitions "
                    f"{[d.isoformat() for d in compute]} have files but no "
                    "readable tier data; fix or drop the partitions"
                )
            isos = [d.isoformat() for d in compute]
            # ONE Spark write stages all three grains, partitioned by
            # (grain, day).  r1m feeds every branch but the day filter
            # sits below the 1m aggregate in the 1m branch only, so
            # exchange reuse cannot share the branches: r1m is persisted
            # so the source read (and any frame decode) and the 1m
            # aggregate run once per refresh, not once per grain (the 1h
            # aggregate over the cached 1m rows still runs twice).
            t_group = _time_mod.time()
            # re-attach the partition day from the bucket (buckets at
            # 1m/1h/1d granularity never straddle a UTC day boundary)
            day = F.to_date("bucket_ts")
            r1m = rollup(src, GRAINS["1m"]).withColumn("day", day).persist()
            r1h = rollup_cascade_step(r1m.drop("day"), GRAINS["1h"]).withColumn("day", day)
            r1d = rollup_cascade_step(r1h.drop("day"), GRAINS["1d"]).withColumn("day", day)
            union = reduce(
                DataFrame.unionByName,
                (
                    df.filter(F.col("day").isin(isos)).withColumn("grain", F.lit(grain))
                    for grain, df in (("1m", r1m), ("1h", r1h), ("1d", r1d))
                ),
            )
            staging = f"{self.base}/_staging/all"
            try:
                counts, _ = self.store._stage(
                    union.repartition(max(len(compute) // 8, 1), "grain", "day")
                    .sortWithinPartitions("grain", "day", "conv_id", "metric", "bucket_ts"),
                    staging,
                    ("grain", "day"),
                )
            finally:
                r1m.unpersist()
            wall_ms = int((_time_mod.time() - t_group) * 1000) // (3 * len(compute))
            for grain in GRAINS:
                for d in compute:
                    self._commit_rollup_partition(f"{staging}/grain={grain}", grain, d)
            fs, staged = self.store._fs(staging)
            fs.delete(staged, True)
            self.lineage.record(
                [
                    {
                        "stage": f"cagg:{grain}",
                        "partition_key": d.isoformat(),
                        "rows_out": counts.get((grain, d), 0),
                        "wall_ms": wall_ms,
                    }
                    for grain in GRAINS
                    for d in compute
                ]
            )
        self._record_fingerprints({**recorded, **{d.isoformat(): fp for d, fp in fps.items()}})
        return [d.isoformat() for d in days]

    def _commit_rollup_partition(self, staging: str, grain: str, day: date) -> None:
        # delegate to the store's staged-commit (raises on rename
        # failure — a swallowed failure here would leave the day's
        # rollup DELETED while the fingerprint marks it clean)
        self.store._commit_partition(staging, self._table(grain), day)


_GRAIN_BY_INTERVAL = {v: k for k, v in GRAINS.items()}


def _replace(spark: SparkSession, fs, src, dst) -> None:
    """Rename the file ``src`` over ``dst`` in one atomic replace: the
    public ``FileContext.rename`` with ``Options.Rename.OVERWRITE``
    (``FileSystem.rename`` refuses an existing target)."""
    hfs = spark._jvm.org.apache.hadoop.fs
    overwrite = spark.sparkContext._gateway.new_array(hfs.Options.Rename, 1)
    overwrite[0] = hfs.Options.Rename.OVERWRITE
    dst = fs.makeQualified(dst)
    hfs.FileContext.getFileContext(dst.toUri(), spark._jsc.hadoopConfiguration()).rename(
        fs.makeQualified(src), dst, overwrite
    )
