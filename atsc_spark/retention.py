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

Scale shape: per target tier, not per day and not per source, one
decode of the days it receives (each from its own source tier), one
fit/write whose output is ``partitionBy("day")`` and one count action
that reads the staged files back and counts the source days with them
(:meth:`TieredStore._stage`) — a year of aged days is the same handful
of Spark jobs as one day.  The targets of a pass share nothing until
commit, so they stage concurrently, one driver thread per target (at
most four), and their small jobs overlap on the cores; the commits
then run one target at a time in tier order.  Partition drops go
through the Hadoop FileSystem API, so any object store with a Hadoop
connector works (no local-FS ``shutil`` assumptions).

Every tier write (raw rows, Gorilla blocks, frames, the 1h rollup) is
clustered by ``day`` with the AQE ``rebalance`` hint after the fit, so
only compressed rows cross that exchange and a tier-day is ONE file up
to ``spark.sql.adaptive.advisoryPartitionSizeInBytes`` (a larger day
splits at that size): the file count follows the bytes, not the
cluster's task count.  Every tier opens with its declared schema
(``_TIER_SCHEMA``), so opening one runs no schema-inference job, and a
point tier is only ever opened at the ``day=`` directories its listing
names (:meth:`TieredStore._open_days`), so no read discovers
partitions over a whole tier root.

The store owns every tier decision the engine makes — which tier holds
a day (:meth:`TieredStore.holders`, read through
:meth:`TieredStore._first_holder_rows`), how a tier's rows become points
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
from concurrent.futures import ThreadPoolExecutor
from contextlib import contextmanager
from dataclasses import dataclass, field
from datetime import date, datetime, timedelta, timezone
from functools import reduce

from pyspark import inheritable_thread_target
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .frames import (
    FRAME_SCHEMA,
    compressed_rows,
    decode_compressed,
    fit_frames,
    prune_frames_to_range,
)
from .lossless import BLOCK_SCHEMA, fit_lossless
from .rollup import ROLLUP_SCHEMA, rollup

_log = logging.getLogger(__name__)

_TIER_ORDER = {"raw": 0, "tier0": 1, "tier1": 2, "tier2": 3, "rollup": 4}
# tiers that hold points (rollup holds only aggregates), most faithful first
_POINT_TIERS = tuple(t for t in sorted(_TIER_ORDER, key=_TIER_ORDER.get) if t != "rollup")
# what each tier's writer puts on disk, ``day`` being the partition
# column: opening a tier with it runs no schema-inference job
_POINT_SCHEMA = "conv_id string, metric string, bucket_ts timestamp, value double"
_TIER_SCHEMA = {
    "raw": f"{_POINT_SCHEMA}, day date",
    "tier0": BLOCK_SCHEMA,
    "tier1": FRAME_SCHEMA,
    "tier2": FRAME_SCHEMA,
    "rollup": ROLLUP_SCHEMA,
}


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


def _utc_day(s: int) -> date:
    return date(1970, 1, 1) + timedelta(days=s // 86_400)


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
        """Append the ``(conv_id, metric, bucket_ts, value)`` columns of
        ``series`` to the raw tier, one ``day=`` directory per UTC day
        (other columns are not kept: the tier opens with its declared
        schema).  The rows are clustered by day first (AQE
        ``rebalance``), so each call adds one file per day up to the
        advisory partition size, however many partitions ``series``
        has."""
        (
            series.select("conv_id", "metric", "bucket_ts", "value")
            .withColumn("day", F.to_date("bucket_ts"))
            .hint("rebalance", "day")
            .write.mode("append")
            .partitionBy("day")
            .parquet(self.path("raw"))
        )

    def _open(self, name: str, schema: str | None = None) -> DataFrame:
        """The table at ``<base>/<name>`` read with its declared schema
        (the tier's, when ``schema`` is not given): the whole rollup
        tier and the cagg grain tables.  A read of some days opens them
        with :meth:`_open_days`."""
        return self.spark.read.schema(schema or _TIER_SCHEMA[name]).parquet(self.path(name))

    def _read_or_empty(self, name: str, schema: str | None = None) -> DataFrame | None:
        """:meth:`_open`, or None when the directory does not exist.
        Any other error (permissions, a broken file system) raises."""
        fs, root = self._fs(self.path(name))
        return self._open(name, schema) if fs.exists(root) else None

    def _open_days(self, name: str, days, schema: str | None = None) -> DataFrame:
        """The rows of the day-partitioned table at ``<base>/<name>`` on
        ``days`` (non-empty, each a listed ``day=`` directory), read
        with its declared schema (the tier's, when ``schema`` is not
        given) from one path per day, ``basePath`` at the table root so
        ``day`` stays a column.  Spark lists only those directories: no
        partition discovery over the whole table, and no listing job
        below ``spark.sql.sources.parallelPartitionDiscovery.threshold``
        days."""
        root = self.path(name)
        return (
            self.spark.read.schema(schema or _TIER_SCHEMA[name])
            .option("basePath", root)
            .parquet(*(f"{root}/day={d.isoformat()}" for d in sorted(days)))
        )

    def _ls(self, path: str) -> list:
        """``listStatus`` of ``path``; empty when it does not exist.  Any
        other error raises: a failing listing must not read as "no
        days", which would drop a tier from reads and retention."""
        fs, p = self._fs(path)
        return list(fs.listStatus(p)) if fs.exists(p) else []

    def tier_days(self, name: str) -> list[date]:
        """Days present in a tier — a FileSystem METADATA listing of the
        ``day=...`` partition directories, not a parquet scan.  A
        ``select(day).distinct()`` would read every footer (and without
        partition pruning, every row group) of a year-scale tier on
        each retention pass."""
        days = []
        for st in self._ls(self.path(name)):
            dirname = st.getPath().getName()
            if st.isDirectory() and dirname.startswith("day="):
                try:
                    days.append(date.fromisoformat(dirname[4:]))
                except ValueError:
                    continue  # foreign directory (e.g. _staging leftovers)
        return sorted(days)

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

    def _first_holder_rows(self, days, holders: dict[date, list[str]]) -> dict[str, DataFrame]:
        """``{tier: rows}`` of ``days``, each day opened in its first
        (most faithful) holder only; days no tier holds are left out."""
        by_tier: dict[str, list[date]] = {}
        for day in days:
            if day in holders:
                by_tier.setdefault(holders[day][0], []).append(day)
        return {tier: self._open_days(tier, ds) for tier, ds in by_tier.items()}

    def tier_points(
        self, parts: dict[str, DataFrame], span: tuple[int, int] | None = None
    ) -> DataFrame | None:
        """Points ``(conv_id, metric, bucket_ts, value)`` of point-tier
        rows (already day- and key-filtered) keyed by tier; None when
        ``parts`` is empty.  Raw rows are selected.  Tier0 Gorilla
        blocks and tier1/2 frames each become the compressed-row view
        (:func:`~atsc_spark.frames.compressed_rows`), and the union of
        the views decodes in ONE Python stage, however many tiers a
        read spans.  ``span`` (closed, epoch seconds) first drops frames
        outside it from their span metadata; a Gorilla block is one
        series-day, which the day filter already bounds."""
        out, views = [], []
        for tier, rows in parts.items():
            if tier == "raw":
                out.append(rows.select("conv_id", "metric", "bucket_ts", "value"))
            else:
                pruned = span is not None and tier != "tier0"
                views.append(compressed_rows(prune_frames_to_range(rows, *span) if pruned else rows))
        if views:
            out.append(decode_compressed(reduce(DataFrame.unionByName, views)))
        return reduce(DataFrame.unionByName, out) if out else None

    def read_days(self, days: list[date], listing=None) -> DataFrame | None:
        """Points of the given days, each day read from its most
        faithful holder only (:meth:`holders`, from ``listing`` when
        given, opened at its ``day=`` directories by
        :meth:`_first_holder_rows`); None when no tier holds them.

        Decoded tiers lose the partition column through the decoder, so
        rows are kept by ``to_date(bucket_ts)`` — the same expression
        :meth:`write_raw` partitions by.  Both run under the engine's
        pinned UTC session timezone (session.py), so the re-derivation
        reproduces the partition value exactly; a deployment that
        overrides the session TZ between write and read would
        mis-bucket boundary rows and must not do that."""
        # frame spans, widened by the same ±2 days as read_series
        span = (
            _epoch_s(min(days)) - 2 * 86_400,
            _epoch_s(max(days)) + 3 * 86_400,
        )
        points = self.tier_points(self._first_holder_rows(days, self.holders(listing)), span)
        if points is None:
            return None
        return points.filter(F.to_date("bucket_ts").isin([d.isoformat() for d in days]))

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

    @contextmanager
    def _leased(self, ttl_s: int):
        """Hold the single-writer lease for the ``with`` block: acquire
        it (:meth:`_acquire_lease`), beat it every ttl/3 from a daemon
        thread (:meth:`_heartbeat_lease`; a single target's fit job can
        legitimately run longer than the ttl at large tiers, and a live
        holder must never look crashed), and release it however the
        block ends."""
        import threading

        holder = self._acquire_lease(ttl_s)
        stop = threading.Event()

        def beat():
            while not stop.wait(max(ttl_s / 3.0, 1.0)):
                self._heartbeat_lease()

        t = threading.Thread(target=beat, name="retention-lease-heartbeat", daemon=True)
        t.start()
        try:
            yield
        finally:
            stop.set()
            t.join(timeout=5)
            self._release_lease(holder)

    # -------------------------------------------------------- retention

    def retention_pass(
        self, today: date, lease_ttl_s: int = 1800
    ) -> list[tuple[str, str]]:
        """Age every day partition in every tier to its policy tier.

        Returns [(day, tier)] transitions performed.  Planned by target
        tier: all days bound for one target are decoded together (ONE
        :meth:`tier_points` over their source tiers, each day opened at
        its ``day=`` directory in its own source), re-fitted and written
        together, staged under ``_staging/<target>`` as one file per
        day (up to the advisory partition size) and counted there with
        one action over the staged files and the source days
        (:meth:`_stage_target`).

        The pass runs in two steps.  *Stage:* every target stages at
        once, each on its own driver thread that inherits the caller's
        Spark job group and tags; the pass waits for all of them.
        *Commit:* only when every target staged, the targets commit one
        after another in tier order — per day, a staged day that came
        out empty for a non-empty source raises, otherwise it is
        published with an atomic FileSystem rename before its source
        partition is dropped.  So a target that fails to stage (a
        failed decode, fit or write) raises out of the pass with
        NOTHING committed, not even the targets ahead of it in tier
        order: no target tier gains a day and every source day stays in
        place.

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
        rows in/out, wall) to ``<base>/_lineage`` after the last commit
        — the north rule's per-partition lineage + metrics.  The rows
        share the pass's wall from the start of staging to the last
        commit, split evenly, so ``SUM(wall_ms)`` over one pass is its
        real wall.  Resumability itself is
        FS-state-driven (the tier directories are the truth; a rerun
        re-stages only days still in a lower tier), so the log is an
        observability artifact, not a correctness dependency.
        """
        with self._leased(lease_ttl_s):
            return self._retention_pass_locked(today)

    def _retention_pass_locked(self, today: date) -> list[tuple[str, str]]:
        moves: list[tuple[str, str]] = []

        # an older version's small-files compaction could crash between
        # its two renames with a day's only copy under _compact_old;
        # nothing reads it there, so refuse to touch such a store
        fs, parked = self._fs(self.path("_compact_old"))
        if fs.exists(parked):
            raise RuntimeError(
                f"retention: {parked} holds day directories parked by an older "
                f"compaction; for each <tier>/day=X under it, move it back to "
                f"{self.base}/<tier>/day=X if that directory is missing, else "
                f"delete it, then remove {parked} and rerun"
            )
        # clear staging leftovers from any crashed previous pass —
        # nothing in _staging is ever committed, so this is safe
        _, staging_root = self._fs(self.path("_staging"))
        fs.delete(staging_root, True)

        # each day moves from its most faithful holder; the lossier
        # crash-leftover copies are dropped with the move
        holders = self.holders()
        plan: dict[str, list[date]] = {}
        for day, (source, *_) in sorted(holders.items()):
            target = self.policy.tier_for_age((today - day).days)
            if _TIER_ORDER[target] > _TIER_ORDER[source]:
                plan.setdefault(target, []).append(day)
        if not plan:
            return moves

        from .checkpoint import CheckpointLog

        lineage = CheckpointLog(self.spark, self.path("_lineage"))
        order = sorted(plan, key=_TIER_ORDER.get)

        # stage every target at once, one driver thread each: the
        # targets share nothing before commit, so their jobs overlap
        # on the cores.  Each thread inherits the caller's job group
        # and tags (one wrap per target: each gets its own copy of the
        # caller's local properties).  Leaving the block waits for
        # every target; the first failure in tier order then raises
        # before anything is committed.
        t_pass = _time_mod.time()
        with ThreadPoolExecutor(len(order), thread_name_prefix="retention-stage") as pool:
            futures = {
                target: pool.submit(
                    inheritable_thread_target(self.spark)(self._stage_target),
                    target, plan[target], holders,
                )
                for target in order
            }
        staged = {target: futures[target].result() for target in order}

        lineage_rows = []
        for target in order:
            self._heartbeat_lease()
            staging, counts, src_counts = staged[target]
            for day in plan[target]:
                source = holders[day][0]
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
                    }
                )
            fs.delete(self.spark._jvm.org.apache.hadoop.fs.Path(staging), True)
        # the targets stage together: amortize the pass's wall (first
        # stage to last commit) over its days, so SUM(wall_ms) over one
        # pass reads as its real wall
        wall_ms = int((_time_mod.time() - t_pass) * 1000) // len(lineage_rows)
        lineage.record([{**row, "wall_ms": wall_ms} for row in lineage_rows])
        return moves

    def _stage_target(
        self, target: str, days: list[date], holders: dict[date, list[str]]
    ) -> tuple[str, dict, dict]:
        """Decode ``days`` (each from its first holder), fit them for
        ``target`` and stage the result under ``_staging/<target>``;
        returns the staging path and :meth:`_stage`'s staged and source
        counts per day.  Touches nothing outside its staging directory,
        so the targets of a pass stage concurrently."""
        parts = self._first_holder_rows(days, holders)
        series = self.tier_points(parts)

        if target == "tier0":
            out = fit_lossless(series)
        elif target == "tier1":
            out = fit_frames(series, max_error=self.policy.err_tier1)
        elif target == "tier2":
            out = fit_frames(series, max_error=self.policy.err_tier2)
        else:  # rollup-only
            out = rollup(series, "1 hour").withColumn("day", F.to_date("bucket_ts"))

        # fit all moved days into the staging area, clustered by day
        # after the fit: one exchange of compressed rows makes each
        # staged day one file (a day above the advisory partition size
        # splits at that size)
        staging = f"{self.path('_staging')}/{target}"
        out = out.hint("rebalance", "day")
        if "span_start_s" in out.columns:
            # order frame rows by time inside each file: per-day files
            # then carry tight span_start_s/span_end_s row-group
            # statistics, so a sub-day read's pushed span filter skips
            # whole row groups
            out = out.sortWithinPartitions("day", "span_start_s")
        # count the staged files and the source days in one action
        src = reduce(DataFrame.unionByName, [rows.select("day") for rows in parts.values()])
        counts, src_counts = self._stage(out, staging, src=src)
        return staging, counts, src_counts

    # ---------------------------------------------------------- listing

    def _jpath(self, p: str):
        return self.spark._jvm.org.apache.hadoop.fs.Path(p)

    def _list_day_files(self, tier: str, day: date) -> set[tuple[str, int]]:
        """(name, length) of the data files in a day dir: a day's
        fingerprint in :mod:`atsc_spark.cagg` and the per-day fallback of
        :meth:`_list_tier_files`."""
        out = set()
        for st in self._ls(f"{self.path(tier)}/day={day.isoformat()}"):
            name = st.getPath().getName()
            if st.isFile() and not name.startswith("_"):
                out.add((name, int(st.getLen())))
        return out

    _FILESTATUS_RE = None  # compiled lazily; class attr so it's shared

    def _list_tier_files(self, tier: str) -> dict[date, set[tuple[str, int]]]:
        """Every tier file in ONE glob: {day: {(name, length)}}.

        Listing a year-scale tier day-by-day via :meth:`_list_day_files`
        costs 3+ py4j round-trips PER FILE (getPath/getName/getLen) —
        measured 6 s of a 12 s cagg refresh at 30 days x 4 tiers.  Here
        the JVM stringifies the whole ``globStatus`` array in one call
        (``Arrays.toString`` of FileStatus, whose ``toString`` carries
        path/isDirectory/length) and Python parses it — a few py4j calls
        per TIER, independent of file count.  ``FileStatus.toString``
        is a private format: if the call fails or the parse count
        differs from the file count, a warning names the tier and the
        reason and the per-day path answers, so a Hadoop format change
        degrades to slow-but-correct, visibly."""
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
            # py4j does not pass a FileStatus[] for Arrays.toString's
            # Object[] parameter: copy it into an Object[] first
            objs = self.spark.sparkContext._gateway.new_array(jvm.java.lang.Object, n)
            jvm.java.lang.System.arraycopy(arr, 0, objs, 0, n)
            blob = jvm.java.util.Arrays.toString(objs)
        except Exception as e:
            reason = str(e).splitlines()[0] if str(e) else type(e).__name__
            _log.warning("tier listing of %s: bulk glob failed (%s); listing per day", tier, reason)
            return self._list_tier_files_slow(tier)
        matches = TieredStore._FILESTATUS_RE.findall(blob)
        if len(matches) != n:  # format drift — degrade to the slow path
            _log.warning(
                "tier listing of %s: FileStatus format parsed %d of %d entries; listing per day",
                tier, len(matches), n,
            )
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

    # ------------------------------------------------------------- read

    def read_series(
        self,
        t0=None,
        t1=None,
        conv_ids: list[str] | None = None,
        metrics: list[str] | None = None,
    ) -> DataFrame:
        """Unified read across tiers: raw rows ∪ ONE decode of the
        tier0 blocks and tier1/2 frames (:meth:`tier_points`), each day
        from its most faithful holder (:meth:`holders`).  (Rollup-only
        days are aggregates and are served from read_rollup.)

        With a time range ``[t0, t1]`` (closed interval; epoch seconds,
        :class:`~datetime.datetime` or :class:`~datetime.date`), the
        read is pruned in three layers BEFORE any payload decode:

        1. **day directory selection** — the days come from the
           :meth:`holders` listing, on the driver, and each tier opens
           only the ``day=`` directories it serves
           (:meth:`_first_holder_rows`), so no other directory is even
           listed (widened ±2 days — write/read session timezones can
           legally differ by up to 26 h, so ±1 could skip a boundary
           day);
        2. **frame-level span pruning** (tier1/2) — the VSRI segment
           metadata gives every frame's min/max timestamp without
           touching the payload (:func:`atsc_spark.frames.prune_frames_to_range`);
           tier0 Gorilla blocks are one series-day each, so the day
           layer already bounds them;
        3. **exact timestamp trim after decode** — boundary-straddling
           frames decode whole and are trimmed once, over all tiers.

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
        filter cannot push through the Python decoder, so filtering
        here is what keeps a single-series read from decoding the
        whole store.
        """
        lo_s, hi_s = _epoch_range(t0, t1)

        def key_bound(df: DataFrame) -> DataFrame:
            if conv_ids is not None:
                df = df.filter(F.col("conv_id").isin(list(conv_ids)))
            if metrics is not None:
                df = df.filter(F.col("metric").isin(list(metrics)))
            return df

        span = None
        if lo_s is not None or hi_s is not None:
            span = (
                lo_s if lo_s is not None else -(2**62),
                hi_s if hi_s is not None else 2**62,
            )
        holders = self.holders()
        if not holders:
            raise RuntimeError("empty store")
        # ±2 days, not ±1: session timezones span UTC-12..UTC+14, so a
        # store written in one TZ and read in another can skew a row's
        # day partition by up to 26 h relative to its UTC day.  Two days
        # covers the worst legal pair; the exact bucket_ts trim below
        # makes the extra days harmless.
        days = [
            d
            for d in holders
            if (lo_s is None or d >= _utc_day(lo_s - 2 * 86_400))
            and (hi_s is None or d <= _utc_day(hi_s + 2 * 86_400))
        ]
        parts = {t: key_bound(rows) for t, rows in self._first_holder_rows(days, holders).items()}
        out = self.tier_points(parts, span)
        if out is None:  # the store holds no day in the range
            return self.spark.createDataFrame([], _POINT_SCHEMA)
        if lo_s is not None:  # the exact trim, once for every tier
            out = out.filter(F.col("bucket_ts") >= F.timestamp_seconds(F.lit(lo_s)))
        if hi_s is not None:
            out = out.filter(F.col("bucket_ts") <= F.timestamp_seconds(F.lit(hi_s)))
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
