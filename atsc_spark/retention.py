"""Tiered retention: replace raw series rows with compressed frames as
data ages.

Tier layout (ages are policy-configurable):

| tier | age          | representation                  | fidelity |
|------|--------------|---------------------------------|----------|
| raw  | < t0_days    | parquet rows                    | exact    |
| 0    | >= t0_days   | Gorilla blocks (lossless)       | exact    |
| 1    | >= t1_days   | ATSC frames @ 1% max error      | <= 1%    |
| 2    | >= t2_days   | ATSC frames @ 3% max error      | <= 3%    |
| 3    | >= t3_days   | 1h rollup only                  | aggregate|

The reference positions ATSC exactly here: "in places where time
series are rolled over" (`/root/reference/README.md:66`).  Storage is
day-partitioned parquet directories (an Iceberg catalog swap makes the
partition replacement a single atomic snapshot commit — the
jar-guarded writer for that lives in :mod:`atsc_spark.iceberg`; this
container ships no Iceberg jars, so with plain parquet we use a
rename-based staged commit: fit into ``_staging/<target>/day=...``, validate counts
there, then ``FileSystem.rename`` each day directory into place — a
single metadata operation on HDFS/posix — and only then drop the
source partitions.  A crash at any point leaves *both* copies, never
neither, readers never observe a partially-written target partition,
and the next pass re-stages idempotently and finishes the drop).

Scale shape: per (source_tier -> target_tier) pair, not per day, one
fit/write whose output is ``partitionBy("day")`` plus one count action
that reads the staged files back and counts the source days with them
(:meth:`TieredStore._stage`) — a year of aged days is the same handful
of Spark jobs as one day.  Partition drops go through the Hadoop
FileSystem API, so any object store with a Hadoop connector works (no
local-FS ``shutil`` assumptions).

The store owns every tier decision the engine makes — which tier holds
a day (:meth:`TieredStore.holders`), how a tier's rows become points
(:meth:`TieredStore.tier_points`) and how a staged write is checked
(:meth:`TieredStore._stage`).  The retention pass, the reads and the
continuous-aggregate refresh (:mod:`atsc_spark.cagg`) all go through
them.

Data in later tiers keeps aging: a tier0 day that crosses the t1
threshold is decoded and re-fitted into tier1, and so on.  Re-fitting
a lossy tier bounds the NEW error against the decoded values, so the
end-to-end error can compound up to the sum of the tier bounds —
documented behaviour, same as the reference re-compressing its own
output.
"""

from __future__ import annotations

import logging
import time as _time_mod
from dataclasses import dataclass, field
from datetime import date, datetime, timezone

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .frames import decode_frames, fit_frames, prune_frames_to_range
from .lossless import decode_lossless, fit_lossless
from .rollup import rollup

_log = logging.getLogger(__name__)

_TIER_ORDER = {"raw": 0, "tier0": 1, "tier1": 2, "tier2": 3, "rollup": 4}
# tiers that hold points (rollup holds only aggregates), most faithful first
_POINT_TIERS = tuple(t for t in sorted(_TIER_ORDER, key=_TIER_ORDER.get) if t != "rollup")


class RetentionLockHeld(RuntimeError):
    """Another writer holds the retention lease on this store."""


def _epoch_s(t) -> int:
    """Normalize a range bound (epoch seconds, datetime, or date) to
    int epoch seconds.  Naive datetimes/dates are taken as UTC — the
    store writes UTC-derived buckets, and the ±2-day widening in
    :meth:`TieredStore.read_series` absorbs any session-timezone skew
    at the partition-pruning layer."""
    if isinstance(t, datetime):
        if t.tzinfo is None:
            t = t.replace(tzinfo=timezone.utc)
        return int(t.timestamp())
    if isinstance(t, date):
        return int(
            datetime(t.year, t.month, t.day, tzinfo=timezone.utc).timestamp()
        )
    return int(t)


def _epoch_range(t0, t1) -> tuple[int | None, int | None]:
    """A closed ``[t0, t1]`` as epoch seconds (an open end stays None).
    A plain :class:`~datetime.date` upper bound includes its whole day."""
    lo_s = _epoch_s(t0) if t0 is not None else None
    hi_s = _epoch_s(t1) if t1 is not None else None
    if hi_s is not None and isinstance(t1, date) and not isinstance(t1, datetime):
        hi_s += 86_400 - 1
    return lo_s, hi_s


def _union(parts: list[DataFrame]) -> DataFrame | None:
    out = None
    for p in parts:
        out = p if out is None else out.unionByName(p)
    return out


@dataclass
class TierPolicy:
    t0_days: int = 1  # raw -> gorilla
    t1_days: int = 7  # gorilla -> frames @ 1%
    t2_days: int = 30  # frames@1% -> frames @ 3%
    t3_days: int = 365  # frames -> rollup-only
    err_tier1: float = 0.01
    err_tier2: float = 0.03

    def tier_for_age(self, age_days: int) -> str:
        if age_days >= self.t3_days:
            return "rollup"
        if age_days >= self.t2_days:
            return "tier2"
        if age_days >= self.t1_days:
            return "tier1"
        if age_days >= self.t0_days:
            return "tier0"
        return "raw"


@dataclass
class TieredStore:
    spark: SparkSession
    base: str
    policy: TierPolicy = field(default_factory=TierPolicy)

    def path(self, name: str) -> str:
        return f"{self.base}/{name}"

    # ------------------------------------------------------------ write

    def write_raw(self, series: DataFrame) -> None:
        (
            series.withColumn("day", F.to_date("bucket_ts"))
            .write.mode("append")
            .partitionBy("day")
            .parquet(self.path("raw"))
        )

    def _read_or_empty(self, name: str) -> DataFrame | None:
        try:
            return self.spark.read.parquet(self.path(name))
        except Exception:
            return None

    def tier_days(self, name: str) -> list[date]:
        """Days present in a tier — a FileSystem METADATA listing of the
        ``day=...`` partition directories, not a parquet scan.  A
        ``select(day).distinct()`` would read every footer (and without
        partition pruning, every row group) of a year-scale tier on
        each retention pass."""
        fs, root = self._fs(self.path(name))
        try:
            statuses = fs.listStatus(root)
        except Exception:  # tier directory does not exist yet
            return []
        days = []
        for st in statuses:
            dirname = st.getPath().getName()
            if st.isDirectory() and dirname.startswith("day="):
                try:
                    days.append(date.fromisoformat(dirname[4:]))
                except ValueError:
                    continue  # foreign directory (e.g. _staging leftovers)
        return sorted(days)

    def raw_days(self) -> list[date]:
        return self.tier_days("raw")

    def _fs(self, path: str):
        jvm = self.spark._jvm
        p = jvm.org.apache.hadoop.fs.Path(path)
        return p.getFileSystem(self.spark._jsc.hadoopConfiguration()), p

    def _delete_partition(self, tier: str, day: date) -> None:
        """Drop one day partition via the Hadoop FileSystem API —
        works on any FS/object store the cluster can mount, unlike a
        local shutil.rmtree."""
        fs, p = self._fs(f"{self.path(tier)}/day={day.isoformat()}")
        fs.delete(p, True)

    def _commit_partition(self, staging: str, target: str, day: date) -> None:
        """Atomically publish one staged day: drop any existing target
        day directory, then rename the staged one into place.  The
        rename is the commit point — a single metadata op on
        HDFS/posix, so readers see the old partition or the new one,
        never a half-written mix."""
        iso = day.isoformat()
        fs, dst = self._fs(f"{self.path(target)}/day={iso}")
        src = self.spark._jvm.org.apache.hadoop.fs.Path(f"{staging}/day={iso}")
        if not fs.exists(src):
            return  # day produced no rows (e.g. all-NaN) — nothing to publish
        fs.delete(dst, True)
        fs.mkdirs(dst.getParent())
        if not fs.rename(src, dst):
            raise RuntimeError(f"retention: rename {src} -> {dst} failed")

    def _stage(
        self,
        out: DataFrame,
        staging: str,
        by: tuple[str, ...] = ("day",),
        src: DataFrame | None = None,
    ) -> tuple[dict, dict]:
        """Write ``out`` to ``staging`` with ``partitionBy(*by)`` and
        return ``(staged, source)`` row counts: ``staged`` per staged
        partition, read back from the files on disk (a count of the
        writer's input would not prove the files hold the rows), and
        ``source`` per ``by`` key of ``src`` when given.  Both come from
        ONE action over the union of the two sides.  Keys are the ``by``
        value, or a tuple of them when ``by`` has several columns."""
        out.write.mode("overwrite").partitionBy(*by).parquet(staging)
        # the partition columns' schema is known: no inference job
        staged = self.spark.read.schema(out.select(*by).schema).parquet(staging)
        sides = staged.select(F.lit(True).alias("staged"), *by)
        if src is not None:
            sides = sides.unionByName(src.select(F.lit(False).alias("staged"), *by))
        counts: dict[bool, dict] = {True: {}, False: {}}
        for r in sides.groupBy("staged", *by).count().collect():
            key = r[by[0]] if len(by) == 1 else tuple(r[c] for c in by)
            counts[r["staged"]][key] = r["count"]
        return counts[True], counts[False]

    # ------------------------------------------------------------ tiers

    def holders(self, listing=None) -> dict[date, list[str]]:
        """The point tiers holding each day, most faithful (lowest
        ``_TIER_ORDER``) first.  A day is served, and aged, from its
        first holder only: a crash between a move's commit and its
        source drop leaves the day in two tiers, and unioning both
        copies would double-count it, while fitting from the lossier
        copy would overwrite a faithful one with a re-fit of itself.
        The later holders are crash-leftover duplicates.

        ``listing`` maps tier -> its days (any iterable of dates, e.g.
        the ``{day: files}`` of :meth:`_list_tier_files`); without it
        each point tier's day directories are listed."""
        if listing is None:
            listing = {t: self.tier_days(t) for t in _POINT_TIERS}
        out: dict[date, list[str]] = {}
        for tier in _POINT_TIERS:
            for day in listing.get(tier, ()):
                out.setdefault(day, []).append(tier)
        return out

    def tier_points(
        self, tier: str, rows: DataFrame, span: tuple[int, int] | None = None
    ) -> DataFrame:
        """A point tier's (already day- and key-filtered) rows as
        ``(conv_id, metric, bucket_ts, value)``: raw rows are selected,
        tier0 Gorilla blocks and tier1/2 frames decoded.  ``span``
        (closed, epoch seconds) first drops frames outside it from
        their span metadata; Gorilla blocks are one series-day each, so
        the caller's day filter already bounds them."""
        if tier == "raw":
            return rows.select("conv_id", "metric", "bucket_ts", "value")
        if tier == "tier0":
            return decode_lossless(rows)
        if span is not None:
            rows = prune_frames_to_range(rows, *span)
        return decode_frames(rows)

    def read_days(self, days: list[date], listing=None) -> DataFrame | None:
        """Points of the given days, each day read from its most
        faithful holder only (:meth:`holders`, from ``listing`` when
        given); None when no tier holds readable rows for them.

        Decoded tiers lose the partition column through the decoder, so
        rows are kept by ``to_date(bucket_ts)`` — the same expression
        :meth:`write_raw` partitions by.  Both run under the engine's
        pinned UTC session timezone (session.py), so the re-derivation
        reproduces the partition value exactly; a deployment that
        overrides the session TZ between write and read would
        mis-bucket boundary rows and must not do that."""
        wanted = set(days)
        by_tier: dict[str, list[str]] = {}
        for day, held in self.holders(listing).items():
            if day in wanted:
                by_tier.setdefault(held[0], []).append(day.isoformat())
        # frame spans, widened by the same ±2 days as read_series
        span = (
            _epoch_s(min(days)) - 2 * 86_400,
            _epoch_s(max(days)) + 3 * 86_400,
        )
        parts = []
        for tier in _POINT_TIERS:
            rows = self._read_or_empty(tier) if tier in by_tier else None
            if rows is not None:
                isos = by_tier[tier]
                points = self.tier_points(tier, rows.filter(F.col("day").isin(isos)), span)
                parts.append(points.filter(F.to_date("bucket_ts").isin(isos)))
        return _union(parts)

    # ------------------------------------------------------------ lease

    def _lock_path(self):
        return self._fs(self.path("_lock"))

    def _read_lock_holder(self) -> str | None:
        fs, lock = self._lock_path()
        try:
            stream = fs.open(lock)
            try:
                data = bytes(stream.readAllBytes())
            finally:
                stream.close()
            return data.decode("utf-8", "replace")
        except Exception:
            return None

    def _acquire_lease(self, ttl_s: int) -> str:
        """Single-writer lease on a ``_lock`` file, acquired with the
        atomic ``create(path, overwrite=False)`` primitive and carrying
        the holder's uuid as content.  A second concurrent pass aborts
        cleanly with :class:`RetentionLockHeld` instead of racing the
        first one's stage/rename/delete sequence.

        A lock whose modification time (heartbeat) is older than
        ``ttl_s`` is treated as a crashed holder and taken over — the
        staged-rename commit protocol makes a half-finished pass safe
        to re-run.  Takeover re-stats IMMEDIATELY before the delete
        (only deleting a lock that is still stale, so a freshly
        acquired competitor is not clobbered on the strength of an old
        stat), and every acquisition is verified by reading the holder
        uuid back — if another contender's delete+create interleaved,
        exactly one of them sees its own uuid and proceeds."""
        import time as _time
        import uuid as _uuid

        fs, lock = self._lock_path()
        holder = _uuid.uuid4().hex

        def try_create() -> bool:
            try:
                out = fs.create(lock, False)  # atomic create-if-absent
                try:
                    out.write(bytearray(holder.encode()))
                finally:
                    out.close()
                return True
            except Exception:
                return False

        for attempt in (0, 1):
            if try_create():
                # verify ownership: a contender that raced the takeover
                # window may have deleted our lock and created its own
                if self._read_lock_holder() == holder:
                    self._lease_holder = holder  # for heartbeat fallback
                    self._lease_ttl_s = ttl_s
                    self._heartbeat_failures = 0
                    self._last_beat_ok = _time.time()
                    return holder
                raise RetentionLockHeld(
                    f"retention lease at {self.path('_lock')} lost to a "
                    "concurrent takeover"
                )
            try:
                st = fs.getFileStatus(lock)
                age_ms = _time.time() * 1000 - st.getModificationTime()
            except Exception:
                continue  # holder released between create and stat: retry
            if age_ms > ttl_s * 1000 and attempt == 0:
                # re-stat just before deleting: only clobber a lock that
                # is STILL stale (not one a competitor just created)
                try:
                    st2 = fs.getFileStatus(lock)
                    if _time.time() * 1000 - st2.getModificationTime() > ttl_s * 1000:
                        fs.delete(lock, False)
                except Exception:
                    pass
                continue
            raise RetentionLockHeld(
                f"retention lease at {self.path('_lock')} held "
                f"(heartbeat {age_ms / 1000:.0f}s old, ttl {ttl_s}s)"
            )
        raise RetentionLockHeld(f"retention lease at {self.path('_lock')} contended")

    def _heartbeat_lease(self) -> bool:
        """Advance the lease's liveness signal.  Primary: ``setTimes``
        on the lock (mtime is what :meth:`_acquire_lease` ages).  On
        filesystems where ``setTimes`` is unsupported or failing, fall
        back to REWRITING the lock content with our own uuid — an
        overwrite also advances mtime — but only after a read-back
        confirms we still own the lock (never clobber a usurper's).

        Failures are COUNTED and logged, not silently swallowed: a
        holder whose heartbeats are all failing ages from creation time
        only and becomes takeover-eligible after ``ttl_s`` even while
        healthy — the operator needs to see that, not discover it as a
        duplicate-writer corruption."""
        import time as _time

        fs, lock = self._lock_path()
        try:
            fs.setTimes(lock, int(_time.time() * 1000), -1)
            self._heartbeat_failures = 0
            self._last_beat_ok = _time.time()
            return True
        except Exception:
            pass
        try:  # fallback: content rewrite advances mtime everywhere.
            # The read-check + create(overwrite) pair is NOT atomic, so
            # it could clobber a usurper's lock — but a usurper can
            # only exist once the lease has gone STALE (no mtime
            # advance for a full ttl).  Gate the fallback on provable
            # freshness (last successful beat within ttl/2): inside
            # that window no takeover is possible, so there is no lock
            # to clobber; past it, fail the beat and let the failure
            # counter surface the problem instead of racing.
            mine = getattr(self, "_lease_holder", None)
            fresh = (
                _time.time() - getattr(self, "_last_beat_ok", 0.0)
                < getattr(self, "_lease_ttl_s", 0) / 2.0
            )
            if mine is not None and fresh and self._read_lock_holder() == mine:
                out = fs.create(lock, True)
                try:
                    out.write(bytearray(mine.encode()))
                finally:
                    out.close()
                self._heartbeat_failures = 0
                self._last_beat_ok = _time.time()
                return True
        except Exception:
            pass
        self._heartbeat_failures = getattr(self, "_heartbeat_failures", 0) + 1
        if self._heartbeat_failures in (1, 3) or self._heartbeat_failures % 10 == 0:
            _log.warning(
                "retention lease heartbeat failing (%d consecutive): lock "
                "mtime is not advancing; this pass becomes takeover-"
                "eligible %ss after acquisition",
                self._heartbeat_failures,
                getattr(self, "_lease_ttl_s", "ttl"),
            )
        return False

    def _start_heartbeat(self, ttl_s: int):
        """Background daemon beating the lease every ttl/3 — a single
        (source, target) fit job can legitimately run longer than the
        ttl at large tiers, and a live holder must never look crashed.
        Returns a stop callable."""
        import threading

        stop = threading.Event()

        def beat():
            while not stop.wait(max(ttl_s / 3.0, 1.0)):
                self._heartbeat_lease()

        t = threading.Thread(target=beat, name="retention-lease-heartbeat", daemon=True)
        t.start()

        def cancel():
            stop.set()
            t.join(timeout=5)

        return cancel

    def _release_lease(self, holder: str | None = None) -> None:
        """Delete the lock — only if we still own it (a takeover may
        have replaced it; deleting the usurper's lock would admit a
        third writer).

        RESIDUAL WINDOW (documented, not closable here): the read-back
        and the delete are two FS calls, so a stale-TTL takeover that
        lands between them gets its fresh lock deleted by us.  The
        window only opens when our lease was ALREADY takeover-eligible
        — i.e. heartbeats stopped advancing mtime for a full ttl —
        which :meth:`_heartbeat_lease` now counts and logs loudly.
        When heartbeats were healthy (``_heartbeat_failures == 0``),
        no competitor can have seen a stale lock, and the re-read
        immediately before delete keeps the window at two syscalls.
        A truly atomic release needs a conditional-delete primitive
        the Hadoop FileSystem API does not expose."""
        fs, lock = self._lock_path()
        if holder is not None and self._read_lock_holder() != holder:
            return
        fs.delete(lock, False)

    # -------------------------------------------------------- retention

    def retention_pass(
        self, today: date, lease_ttl_s: int = 1800
    ) -> list[tuple[str, str]]:
        """Age every day partition in every tier to its policy tier.

        Returns [(day, tier)] transitions performed.  Grouped: all days
        sharing a (source, target) pair are decoded + re-fitted in ONE
        Spark job, staged under ``_staging/<target>``, validated there,
        then published per-day with an atomic FileSystem rename before
        the source partitions are dropped.

        A crash mid-move can leave a day in two source tiers; days are
        deduped across sources keeping the most faithful (lowest-order)
        copy, and the stale lossier duplicates are dropped with the
        winning move — so a raw copy is never overwritten by a tierN
        re-fit of itself.

        Single-writer: a ``_lock`` lease (uuid-owned, background
        heartbeat every ttl/3, ``lease_ttl_s`` stale takeover) makes a
        concurrent second pass abort with :class:`RetentionLockHeld`
        instead of double-staging and double-deleting the same days.

        Every committed move appends a lineage row (day, source→target,
        rows in/out, wall) to ``<base>/_lineage`` — the north rule's
        per-partition lineage + metrics.  Resumability itself is
        FS-state-driven (the tier directories are the truth; a rerun
        re-stages only days still in a lower tier), so the log is an
        observability artifact, not a correctness dependency.
        """
        holder = self._acquire_lease(lease_ttl_s)
        stop_heartbeat = self._start_heartbeat(lease_ttl_s)
        try:
            return self._retention_pass_locked(today)
        finally:
            stop_heartbeat()
            self._release_lease(holder)

    def _retention_pass_locked(self, today: date) -> list[tuple[str, str]]:
        moves: list[tuple[str, str]] = []

        # finish/roll back any crashed compaction FIRST (its backups
        # live outside _staging precisely so this wipe stays safe)
        self._recover_compaction()
        # clear staging leftovers from any crashed previous pass —
        # nothing in _staging is ever committed, so this is safe
        fs, staging_root = self._fs(self.path("_staging"))
        fs.delete(staging_root, True)

        # each day moves from its most faithful holder; the lossier
        # crash-leftover copies are dropped with the move
        holders = self.holders()
        plan: dict[tuple[str, str], list[date]] = {}
        for day, (source, *_) in holders.items():
            target = self.policy.tier_for_age((today - day).days)
            if _TIER_ORDER[target] > _TIER_ORDER[source]:
                plan.setdefault((source, target), []).append(day)
        if not plan:
            return moves

        from .checkpoint import CheckpointLog

        lineage = CheckpointLog(self.spark, self.path("_lineage"))

        for (source, target), days in sorted(plan.items()):
            self._heartbeat_lease()
            t_group = _time_mod.time()
            src = self.spark.read.parquet(self.path(source)).filter(
                F.col("day").isin(days)
            )
            series = self.tier_points(source, src)

            if target == "tier0":
                out = fit_lossless(series)
            elif target == "tier1":
                out = fit_frames(series, max_error=self.policy.err_tier1)
            elif target == "tier2":
                out = fit_frames(series, max_error=self.policy.err_tier2)
            else:  # rollup-only
                out = rollup(series, "1 hour").withColumn(
                    "day", F.to_date("bucket_ts")
                )

            # fit all moved days into the staging area
            staging = f"{self.path('_staging')}/{target}"
            if "span_start_s" in out.columns:
                # cluster frame rows by time inside each task (no
                # shuffle): per-day files then carry tight
                # span_start_s/span_end_s row-group statistics, so a
                # sub-day read's pushed span filter skips whole row
                # groups; sorting by day first also minimizes the
                # partitionBy writer's concurrently-open files
                out = out.sortWithinPartitions("day", "span_start_s")
            # validate staged counts before touching target or source
            counts, src_counts = self._stage(out, staging, src=src)
            lineage_rows = []
            # the group runs as ONE staged job; amortize its wall over
            # the days so SUM(wall_ms) over the log reads as real wall
            wall_ms = int((_time_mod.time() - t_group) * 1000) // max(len(days), 1)
            for day in days:
                if counts.get(day, 0) == 0 and src_counts.get(day, 0) > 0:
                    raise RuntimeError(
                        f"retention: empty staged {target} output for {day}; "
                        f"source {source} partition kept"
                    )
                self._commit_partition(staging, target, day)
                self._delete_partition(source, day)
                for dup in holders[day][1:]:  # crash-leftover lossier copies
                    if dup != target:
                        self._delete_partition(dup, day)
                moves.append((day.isoformat(), target))
                lineage_rows.append(
                    {
                        "stage": f"retention:{source}->{target}",
                        "partition_key": day.isoformat(),
                        "rows_in": src_counts.get(day, 0),
                        "rows_out": counts.get(day, 0),
                        "wall_ms": wall_ms,
                    }
                )
            lineage.record(lineage_rows)
            fs.delete(self.spark._jvm.org.apache.hadoop.fs.Path(staging), True)
        return moves

    # ------------------------------------------------------- compaction

    def _jpath(self, p: str):
        return self.spark._jvm.org.apache.hadoop.fs.Path(p)

    def _list_day_files(self, tier: str, day: date) -> set[tuple[str, int]]:
        """(name, length) of the data files in a day dir — the change
        detector for concurrent appends."""
        fs, _ = self._fs(self.base)
        out = set()
        try:
            for st in fs.listStatus(self._jpath(f"{self.path(tier)}/day={day.isoformat()}")):
                name = st.getPath().getName()
                if st.isFile() and not name.startswith("_"):
                    out.add((name, int(st.getLen())))
        except Exception:
            pass
        return out

    _FILESTATUS_RE = None  # compiled lazily; class attr so it's shared

    def _list_tier_files(self, tier: str) -> dict[date, set[tuple[str, int]]]:
        """Every tier file in ONE glob: {day: {(name, length)}}.

        Listing a year-scale tier day-by-day via :meth:`_list_day_files`
        costs 3+ py4j round-trips PER FILE (getPath/getName/getLen) —
        measured 6 s of a 12 s cagg refresh at 30 days x 4 tiers.  Here
        the JVM stringifies the whole ``globStatus`` array in one call
        (``Arrays.toString`` of FileStatus, whose ``toString`` carries
        path/isDirectory/length) and Python parses it — 2 py4j calls
        per TIER, independent of file count.  Falls back to the
        per-day path if the FileStatus format ever stops parsing
        (parse count mismatch), so a Hadoop format change degrades to
        slow-but-correct."""
        import re

        if TieredStore._FILESTATUS_RE is None:
            TieredStore._FILESTATUS_RE = re.compile(
                r"path=([^;{}]+); isDirectory=(true|false); length=(\d+)"
            )
        fs, _ = self._fs(self.base)
        jvm = self.spark._jvm
        out: dict[date, set[tuple[str, int]]] = {}
        try:
            arr = fs.globStatus(self._jpath(f"{self.path(tier)}/day=*/*"))
            if arr is None:
                return out
            n = len(arr)
            if n == 0:
                return out
            blob = jvm.java.util.Arrays.toString(arr)
        except Exception:
            return self._list_tier_files_slow(tier)
        matches = TieredStore._FILESTATUS_RE.findall(blob)
        if len(matches) != n:  # format drift — degrade to the slow path
            return self._list_tier_files_slow(tier)
        for full_path, is_dir, length in matches:
            if is_dir == "true":
                continue
            parts = full_path.rstrip("/").rsplit("/", 2)
            if len(parts) < 2 or not parts[-2].startswith("day="):
                continue
            name = parts[-1]
            if name.startswith("_"):
                continue
            try:
                day = date.fromisoformat(parts[-2][4:])
            except ValueError:
                continue
            out.setdefault(day, set()).add((name, int(length)))
        return out

    def _list_tier_files_slow(self, tier: str) -> dict[date, set[tuple[str, int]]]:
        return {
            day: files
            for day in self.tier_days(tier)
            if (files := self._list_day_files(tier, day))
        }

    def _recover_compaction(self) -> None:
        """Finish or roll back a crashed compaction: for every day
        parked under ``_compact_old``, restore it if the live day dir
        vanished (crash between the two renames), else drop the backup
        (the new copy committed).  Runs at the start of every
        compaction and retention pass — a crash can never leave a day's
        only copy in a wipe-zone."""
        fs, root = self._fs(self.path("_compact_old"))
        try:
            tiers = fs.listStatus(root)
        except Exception:
            return
        for tdir in tiers:
            tier = tdir.getPath().getName()
            for st in fs.listStatus(tdir.getPath()):
                dirname = st.getPath().getName()
                live = self._jpath(f"{self.path(tier)}/{dirname}")
                if fs.exists(live):
                    fs.delete(st.getPath(), True)  # commit finished: drop backup
                else:
                    fs.mkdirs(live.getParent())
                    fs.rename(st.getPath(), live)  # crashed mid-swap: restore
        fs.delete(root, True)

    def compact_tier(
        self,
        tier: str = "raw",
        max_files_per_day: int = 4,
        before: date | None = None,
        lease_ttl_s: int = 1800,
    ) -> list[str]:
        """Rewrite day partitions that have accumulated more than
        ``max_files_per_day`` files into one file per day — the
        small-files maintenance pass (streaming/append ingestion writes
        a file per micro-batch/job, and at the 100 TB tier a year of
        that turns every scan into open()-bound metadata churn).

        ONE Spark job for all days needing compaction (rows hash-
        partition on ``day`` → one output file per day), then a per-day
        TWO-RENAME swap: live dir → ``_compact_old`` backup, staged dir
        → live, drop backup.  Every crash window leaves a copy OUTSIDE
        the ``_staging`` wipe-zone, and :meth:`_recover_compaction`
        (run at the start of every compaction/retention pass) restores
        or finishes the swap — a crash can never lose a day.

        Concurrent ingestion: appends do not take the writer lease, so
        a day that changes between planning and commit (new files /
        sizes) is SKIPPED this pass, not clobbered; pass ``before``
        (e.g. today) so actively-ingesting days are never candidates —
        the standard compact-only-settled-days operating mode.
        Returns the compacted days.
        """
        fs, _ = self._fs(self.base)
        # Pre-lease QUICK scan only decides whether to bother taking the
        # lease at all; the authoritative candidate list is rebuilt under
        # the lease below.  If a crashed swap left backups in
        # _compact_old we must take the lease too — recovery mutates
        # live day dirs, and doing it lease-free races a live holder
        # mid two-rename swap (restoring the backup while the holder's
        # rename(staged, live) is in flight lands the staged dir INSIDE
        # the restored live dir → nested day=X/day=X).
        def _scan_candidates() -> list[date]:
            out = []
            for day in self.tier_days(tier):
                if before is not None and day >= before:
                    continue
                if len(self._list_day_files(tier, day)) > max_files_per_day:
                    out.append(day)
            return out

        if not _scan_candidates() and not fs.exists(
            self._jpath(self.path("_compact_old"))
        ):
            return []

        holder = self._acquire_lease(lease_ttl_s)
        stop_heartbeat = self._start_heartbeat(lease_ttl_s)
        try:
            # recovery and everything after it mutate live/_compact_old/
            # _staging — single-writer territory, so only under the lease
            # (retention_pass likewise recovers inside its locked section)
            self._recover_compaction()
            days = _scan_candidates()
            if not days:
                return []
            fs.delete(self._jpath(self.path("_staging")), True)
            planned = {day: self._list_day_files(tier, day) for day in days}
            src = self.spark.read.parquet(self.path(tier)).filter(
                F.col("day").isin(days)
            )
            staging = f"{self.path('_staging')}/{tier}"
            counts, src_counts = self._stage(
                src.repartition(len(days), "day"), staging, src=src
            )
            done: list[str] = []
            for day in days:
                iso = day.isoformat()
                if counts.get(day, 0) != src_counts.get(day, 0):
                    # stale staged copy (concurrent append between the
                    # staging write and validation) or a staging bug —
                    # either way the LIVE day is the good copy for a
                    # source==dest rewrite: skip it, never swap stale in
                    continue
                if self._list_day_files(tier, day) != planned[day]:
                    continue  # concurrent append since planning: skip, keep live
                live = self._jpath(f"{self.path(tier)}/day={iso}")
                backup = self._jpath(f"{self.path('_compact_old')}/{tier}/day={iso}")
                staged = self._jpath(f"{staging}/day={iso}")
                fs.mkdirs(backup.getParent())
                if not fs.rename(live, backup):
                    continue  # raced; keep live copy untouched
                if not fs.rename(staged, live):
                    fs.rename(backup, live)  # roll back, never leave a gap
                    raise RuntimeError(f"compaction: swap failed for {iso}")
                fs.delete(backup, True)
                done.append(iso)
            fs.delete(self._jpath(staging), True)
            return done
        finally:
            stop_heartbeat()
            self._release_lease(holder)

    # ------------------------------------------------------------- read

    def read_series(
        self,
        t0=None,
        t1=None,
        conv_ids: list[str] | None = None,
        metrics: list[str] | None = None,
    ) -> DataFrame:
        """Unified read across tiers: raw rows ∪ decoded tier0 blocks ∪
        decoded tier1/2 frames, each day from its most faithful holder
        (:meth:`holders`).  (Rollup-only days are aggregates and are
        served from read_rollup.)

        With a time range ``[t0, t1]`` (closed interval; epoch seconds,
        :class:`~datetime.datetime` or :class:`~datetime.date`), the
        read is pruned in three layers BEFORE any payload decode:

        1. **day partition pruning** — ``day`` is the partition column,
           so a foldable day-bounds filter makes Catalyst skip whole
           partition directories at the parquet scan (widened ±2 days —
           write/read session timezones can legally differ by up to
           26 h, so ±1 could skip a boundary day);
        2. **frame-level span pruning** (tier1/2) — the VSRI segment
           metadata gives every frame's min/max timestamp without
           touching the payload (:func:`atsc_spark.frames.prune_frames_to_range`);
           tier0 Gorilla blocks are one series-day each, so the day
           layer already bounds them;
        3. **exact timestamp trim after decode** — boundary-straddling
           frames decode whole and are trimmed here.

        At the 100 TB tier this is the difference between decoding one
        day and decoding a year for a dashboard query.

        A plain :class:`~datetime.date` means the WHOLE day it names:
        as a lower bound it starts at 00:00:00, as an upper bound it
        runs through 23:59:59 — so ``read_series(date(2024,1,1),
        date(2024,1,2))`` is the full two days, not one day plus a
        single midnight sample.

        ``conv_ids`` / ``metrics`` restrict the read to those series.
        They are applied to the COMPRESSED rows (frames/blocks are
        keyed by (conv_id, metric)), not to the decoded output — a
        filter after ``mapInPandas`` cannot push through the decoder,
        so filtering here is what keeps a single-series read from
        decoding the whole store.
        """
        lo_s, hi_s = _epoch_range(t0, t1)

        def key_bound(df: DataFrame) -> DataFrame:
            if conv_ids is not None:
                df = df.filter(F.col("conv_id").isin(list(conv_ids)))
            if metrics is not None:
                df = df.filter(F.col("metric").isin(list(metrics)))
            return df

        # ±2 days, not ±1: session timezones span UTC-12..UTC+14, so a
        # store written in one TZ and read in another can skew a row's
        # day partition by up to 26 h relative to the read session's
        # to_date.  Two days covers the worst legal pair; the exact
        # bucket_ts trim below makes the extra partition harmless.
        def day_bound(df: DataFrame) -> DataFrame:
            if lo_s is not None:
                df = df.filter(
                    F.col("day")
                    >= F.date_sub(F.to_date(F.timestamp_seconds(F.lit(lo_s))), 2)
                )
            if hi_s is not None:
                df = df.filter(
                    F.col("day")
                    <= F.date_add(F.to_date(F.timestamp_seconds(F.lit(hi_s))), 2)
                )
            return df

        def ts_trim(df: DataFrame) -> DataFrame:
            if lo_s is not None:
                df = df.filter(F.col("bucket_ts") >= F.timestamp_seconds(F.lit(lo_s)))
            if hi_s is not None:
                df = df.filter(F.col("bucket_ts") <= F.timestamp_seconds(F.lit(hi_s)))
            return df

        span = None
        if lo_s is not None or hi_s is not None:
            span = (
                lo_s if lo_s is not None else -(2**62),
                hi_s if hi_s is not None else 2**62,
            )
        holders = self.holders()
        parts: list[DataFrame] = []
        for tier in _POINT_TIERS:
            held = [d for d, h in holders.items() if tier in h]
            rows = self._read_or_empty(tier) if held else None
            if rows is None:
                continue
            rows = key_bound(day_bound(rows))
            # a crash-leftover copy is served by its more faithful
            # holder; the filter exists only while such a copy does
            dup = [d.isoformat() for d in held if holders[d][0] != tier]
            if dup:
                rows = rows.filter(~F.col("day").isin(dup))
            parts.append(ts_trim(self.tier_points(tier, rows, span)))
        out = _union(parts)
        if out is None:
            raise RuntimeError("empty store")
        return out

    def read_rollup(self) -> DataFrame | None:
        return self._read_or_empty("rollup")

    def read_auto(
        self,
        t0,
        t1,
        max_points: int = 2000,
        conv_ids: list[str] | None = None,
        metrics: list[str] | None = None,
        native_interval_s: int | None = None,
    ) -> DataFrame:
        """Resolution-aware read: serve ``[t0, t1]`` at the finest
        rollup grain that keeps each series under ``max_points`` rows —
        the dashboard-query entry point (a Grafana-style panel asks for
        ~1-2k points regardless of whether the span is an hour or a
        year).

        Grain selection is driver-side arithmetic on the span
        (native -> 1m -> 1h -> 1d); the data path is the pruned
        :meth:`read_series` (so only matching partitions/frames decode)
        followed by one :func:`~atsc_spark.rollup.rollup` aggregation
        when coarsening is needed.  Native-resolution reads return
        (conv_id, metric, bucket_ts, value); coarsened reads return the
        rollup schema (cnt/sum/min/max + avg).  Days already aged to
        rollup-only are not served here (they hold only 1h aggregates;
        use :meth:`read_rollup`).
        """
        from .rollup import rollup

        lo_s, hi_s = _epoch_range(t0, t1)
        span_s = max(hi_s - lo_s, 1)
        base = self.read_series(t0, t1, conv_ids=conv_ids, metrics=metrics)
        if (
            native_interval_s is not None
            and span_s // native_interval_s + 1 <= max_points
        ):
            return base  # native cadence already fits the point budget
        return rollup(base, self.choose_resolution(span_s, max_points))

    def choose_resolution(self, span_s: int, max_points: int = 2000) -> str:
        """The grain :meth:`read_auto` uses for a span — the single
        source of truth for the grain table.  A span can straddle one
        more window than ``span // grain`` when it starts mid-bucket,
        hence the ``+ 1`` in the budget check."""
        for grain_s, interval in ((60, "1 minute"), (3600, "1 hour"), (86400, "1 day")):
            if span_s // grain_s + 1 <= max_points:
                return interval
        return "1 day"  # a >5-year span: 1d is the coarsest tier
