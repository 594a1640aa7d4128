"""The three workloads: untimed setup, one closed-loop op, and the
correctness checks every op runs.

Each workload drives the engine only through its public functions.  An
op returns a dict with its engine wall (``wall``, checks excluded), the
samples it processed, per-phase walls and the list of failed checks;
one failed check fails the op.
"""

from __future__ import annotations

import os
import random
import shutil
import statistics
import time
from datetime import date, timedelta

import numpy as np
from pyspark.sql import functions as F

from atsc_spark.cagg import ContinuousRollups
from atsc_spark.checkpoint import CheckpointLog
from atsc_spark.core.batchfit import compress_frames_batch
from atsc_spark.core.frame import COMPRESSOR_NAMES, decompress_frame, get_chunk_sizes
from atsc_spark.core.gorilla import gorilla_decode, gorilla_encode
from atsc_spark.fixtures import monitoring_series, transcripts
from atsc_spark.frames import (
    compression_report,
    decode_frames,
    fit_frames,
    fit_task_count,
    grouped_points,
)
from atsc_spark.lossless import decode_lossless, fit_lossless
from atsc_spark.retention import TieredStore, TierPolicy
from atsc_spark.rollup import gap_fill, rollup_cascade
from atsc_spark.series import GLOBAL_CONV, derive_series

MAX_ERROR = 0.03
TIERS = ("raw", "tier0", "tier1", "tier2", "rollup")
# raw -> tier0 after 1 day, tier1 after 3, tier2 after 5, rollup-only
# after 7: two passes two days apart then run all seven tier moves
POLICY = TierPolicy(t0_days=1, t1_days=3, t2_days=5, t3_days=7)
# decoded lossy tiers may move a day's value sum by the compounded
# 1% + 3% frame bounds; exact tiers are compared at float-sum precision
LOSSY_SUM_TOL = 0.05
EXACT_SUM_TOL = 1e-9
KERNEL_BUDGET_S = 0.4
HOT_TURNS = 512

SIZES = {
    # full: the 240 x 4320 monitoring corpus (1.04 M samples, the size
    # bench.py reports monitoring_ratio at); smoke: the same shapes,
    # small enough for a test
    "full": {"series": 240, "convs": 800, "turns": 80_000},
    "smoke": {"series": 8, "convs": 40, "turns": 8_000},
}


def _close(a: float, b: float, rel: float) -> bool:
    return abs(a - b) <= rel * max(abs(a), abs(b), 1e-12)


def _median(xs):
    return statistics.median(xs) if xs else None


def tail(xs: list[float]) -> tuple[float, int]:
    """The highest percentile with at least ten samples beyond it, as
    (value, percentile); the maximum when there are 10 or fewer."""
    n = len(xs)
    if n <= 10:
        return max(xs), 100
    # the (n-10)-th smallest sample has exactly ten samples above it
    return sorted(xs)[n - 11], int(100 * (n - 10) / n)


def tier_of_days(store: TieredStore) -> dict[date, str]:
    out = {}
    for tier in TIERS:
        for d in store.tier_days(tier):
            out.setdefault(d, tier)
    return out


def data_files(base: str) -> list[str]:
    """Parquet data files of the retention tiers (checksums and caggs
    excluded)."""
    return [
        os.path.join(root, f)
        for tier in TIERS
        for root, _dirs, files in os.walk(os.path.join(base, tier))
        for f in files
        if f.endswith(".parquet")
    ]


def store_bytes(base: str) -> int:
    return sum(map(os.path.getsize, data_files(base)))


def planned_moves(holder: dict[date, str], today: date) -> int:
    """Moves one retention pass makes under POLICY (updates holder)."""
    n = 0
    for d, src in holder.items():
        tgt = POLICY.tier_for_age((today - d).days)
        if TIERS.index(tgt) > TIERS.index(src):
            holder[d] = tgt
            n += 1
    return n


def kernel_rates(series: list[tuple[np.ndarray, np.ndarray]]) -> tuple[dict, dict]:
    """Single-thread ``core`` kernel rates on the given (ts, values)
    series, each timed for about KERNEL_BUDGET_S, and the count of
    frames each compressor won."""
    datas = []
    for ts, vals in series:
        off = 0
        for size in get_chunk_sizes(len(vals)):
            datas.append(vals[off : off + size])
            off += size
    n = sum(len(d) for d in datas)

    def rate(fn) -> tuple[float, object]:
        reps, t0, out = 0, time.perf_counter(), None
        while True:
            out = fn()
            reps += 1
            dt = time.perf_counter() - t0
            if dt >= KERNEL_BUDGET_S:
                return n * reps / dt / 1e6, out

    fit_msps, results = rate(lambda: compress_frames_batch(datas, MAX_ERROR))
    dec_msps, _ = rate(
        lambda: [decompress_frame(r.compressor, r.sample_count, r.payload) for r in results]
    )
    enc_msps, blobs = rate(lambda: [gorilla_encode(ts, v) for ts, v in series])
    gdec_msps, _ = rate(lambda: [gorilla_decode(b) for b in blobs])
    out = {
        "core.fit_kernel_msps": fit_msps,
        "core.decode_kernel_msps": dec_msps,
        "core.gorilla_encode_msps": enc_msps,
        "core.gorilla_decode_msps": gdec_msps,
        "core.mean_frame_samples": n / max(len(datas), 1),
    }
    chosen = [COMPRESSOR_NAMES[r.compressor] for r in results]
    by_compressor = {f"core.frames_by_compressor.{c}": chosen.count(c) for c in sorted(set(chosen))}
    return out, by_compressor


def collect_series(df, conv_ids: list[str]) -> list[tuple[np.ndarray, np.ndarray]]:
    """(epoch_s, values) per (conv_id, metric, day) group of ``df``
    restricted to ``conv_ids``, collected to the driver."""
    pdf = (
        df.filter(F.col("conv_id").isin(conv_ids))
        .select(
            "conv_id", "metric", F.to_date("bucket_ts").alias("day"),
            F.col("bucket_ts").cast("long").alias("ts"), "value",
        )
        .toPandas()
        .sort_values(["conv_id", "metric", "day", "ts"])
    )
    return [
        (g["ts"].to_numpy(np.int64), g["value"].to_numpy(np.float64))
        for _, g in pdf.groupby(["conv_id", "metric", "day"], sort=True)
    ]


class Workload:
    """Shared plumbing; subclasses implement ``materialize``, ``op``."""

    name = ""
    min_ops = 1
    warmup_ops = 0

    def __init__(self, spark, tracer, seed: int, size: str, workdir: str, cores: int):
        self.spark = spark
        self.tracer = tracer
        self.seed = seed
        self.size = SIZES[size]
        self.workdir = workdir
        self.cores = cores
        self.rng = random.Random(seed)
        self.traced = tracer.enabled
        self.kernel_series: list = []
        self.trace_extra: dict[str, float] = {}

    def warm(self) -> None:
        """Start a Python worker on every core (the one-time cost a
        long-running deployment pays once per executor)."""
        fit_frames(
            monitoring_series(self.spark, n_series=self.cores, samples_per_series=64)
        ).count()

    def build(self) -> float:
        """One-time set-up after the inputs exist (e.g. a store)."""
        return 0.0

    def trace_probes(self) -> None:
        """Traced run only: layer timings outside the closed loop."""

    def span_layer(self, spans: dict, ops: list[dict]) -> dict:
        """Traced run only: layer metrics derived from the span table."""
        return {}


class CodecRegular(Workload):
    """Large regular frames: fit/decode of the lossy and lossless
    codecs over an in-memory monitoring corpus."""

    name = "codec_regular"
    # the first full-size op runs about twice as long as later ones
    # (worker start, first touch of its buffers) and the second still
    # ~10% longer, so both run in set-up
    warmup_ops = 2

    def warm(self) -> None:
        """Workers start in the full-size warm-up op instead."""

    def materialize(self) -> None:
        if getattr(self, "m_input", None) is not None:
            self.m_input.unpersist()
        self.m_input = monitoring_series(
            self.spark, n_series=self.size["series"], seed=self.seed
        ).cache()
        self.n = self.m_input.count()

    def build(self) -> float:
        # a few series, chosen by seed, for the bit-exact lossless check
        # and the single-thread kernel rates
        ids = [
            f"series_{i:06d}"
            for i in self.rng.sample(range(self.size["series"]), min(12, self.size["series"]))
        ]
        self.exact_ids = ids[:3]
        self.exact_ref = collect_series(self.m_input, self.exact_ids)
        self.kernel_series = collect_series(self.m_input, ids)
        return 0.0

    def op(self, i: int) -> dict:
        tr, m = self.tracer, self.m_input
        fails: list[str] = []
        t0 = time.perf_counter()
        with tr.span("frames.fit"):
            frames = fit_frames(m, max_error=MAX_ERROR).cache()
            rep = compression_report(frames).collect()
        t1 = time.perf_counter()
        with tr.span("frames.decode"):
            n_dec = decode_frames(frames).count()
        t2 = time.perf_counter()
        with tr.span("lossless.fit"):
            blocks = fit_lossless(m).cache()
            lagg = blocks.agg(
                F.sum("sample_count").alias("n"), F.sum("payload_bytes").alias("p")
            ).collect()[0]
        t3 = time.perf_counter()
        with tr.span("lossless.decode"):
            n_ldec = decode_lossless(blocks).count()
        t4 = time.perf_counter()

        n_fit = sum(r.samples for r in rep)
        raw = sum(r.raw_bytes for r in rep)
        payload = sum(r.payload_bytes for r in rep)
        max_err = max((r.max_error or 0.0) for r in rep)
        if n_fit != self.n:
            fails.append(f"fitted {n_fit} of {self.n} samples")
        if n_dec != n_fit:
            fails.append(f"decoded {n_dec} != fitted {n_fit}")
        if max_err > MAX_ERROR:
            fails.append(f"max frame error {max_err} > {MAX_ERROR}")
        if lagg.n != self.n or n_ldec != self.n:
            fails.append(f"lossless fitted {lagg.n} decoded {n_ldec} of {self.n}")
        got = collect_series(
            decode_lossless(blocks.filter(F.col("conv_id").isin(self.exact_ids))),
            self.exact_ids,
        )
        exact = len(got) == len(self.exact_ref) and all(
            np.array_equal(a[0], b[0]) and np.array_equal(a[1].view(np.int64), b[1].view(np.int64))
            for a, b in zip(got, self.exact_ref)
        )
        if not exact:
            fails.append("lossless round trip not bit-exact")
        frames.unpersist()
        blocks.unpersist()
        return {
            "wall": t4 - t0,
            "samples": self.n,
            "phases": {
                "fit": t1 - t0, "decode": t2 - t1, "lossless_fit": t3 - t2,
                "lossless_decode": t4 - t3,
            },
            "fails": fails,
            "ratio": raw / max(payload, 1),
            "payload_bytes": payload,
            "lossless_payload_bytes": int(lagg.p),
            "frames_out": sum(r.frames for r in rep),
        }

    def summary(self, ops: list[dict]) -> dict:
        def rate(ph):
            return self.n / _median([o["phases"][ph] for o in ops]) / 1e6

        last = ops[-1]
        return {
            "fit_msamples_per_s": rate("fit"),
            "decode_msamples_per_s": rate("decode"),
            "lossless_fit_msamples_per_s": rate("lossless_fit"),
            "lossless_decode_msamples_per_s": rate("lossless_decode"),
            "compression_ratio": last["ratio"],
            "bytes_per_sample": last["payload_bytes"] / self.n,
            "frames.frames_out": last["frames_out"],
            "frames.payload_bytes": last["payload_bytes"],
            "lossless.payload_bytes": last["lossless_payload_bytes"],
            "fingerprint": {"compression_ratio": round(last["ratio"], 6)},
        }

    def trace_probes(self) -> None:
        t0 = time.perf_counter()
        grouped_points(self.m_input, fit_task_count(self.spark)).write.format("noop").mode(
            "overwrite"
        ).save()
        self.trace_extra["frames.grouped_points_s"] = time.perf_counter() - t0


class _Transcripts(Workload):
    """Shared input of the write- and read-path workloads: Zipf-skewed
    transcripts over 7 days, about ``convs`` conversations holding
    ``turns`` turns, and the reference numbers of their derived series."""

    def materialize(self) -> None:
        if getattr(self, "t_input", None) is not None:
            self.t_input.unpersist()
        # Zipf lengths capped at HOT_TURNS: a 4096-turn conversation
        # would hold a tenth of the corpus, and the day it lands on (so
        # the tier it ages into) would move the store size by +-20%
        # from seed to seed
        corpus = transcripts(
            self.spark, n_convs=2 * self.size["convs"], window_days=7, seed=self.seed
        ).filter(F.col("turn_idx") < HOT_TURNS)
        if not hasattr(self, "last_conv"):
            # cut the corpus at a fixed turn budget: Zipf lengths would
            # otherwise move the work per op by +-15% from seed to seed
            acc, self.last_conv = 0, None
            for r in corpus.groupBy("conv_id").count().orderBy("conv_id").collect():
                acc += r["count"]
                self.last_conv = r.conv_id
                if acc >= self.size["turns"]:
                    break
        self.t_input = corpus.filter(F.col("conv_id") <= self.last_conv).cache()
        self.n_turns = self.t_input.count()

    def reference(self) -> None:
        """Per-day and per-(conv, day) counts of the derived series,
        computed once from the raw derived rows (untimed)."""
        ser = derive_series(self.t_input)
        rows = (
            ser.groupBy("conv_id", F.to_date("bucket_ts").alias("day"))
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.sum(F.col("bucket_ts").cast("long")).alias("ts_sum"),
                F.sum("value").alias("v_sum"),
            )
            .collect()
        )
        self.ref_conv_day = {(r.conv_id, r.day): (r.n, r.ts_sum, r.v_sum) for r in rows}
        self.ref_day: dict[date, list] = {}
        for (_c, d), (n, ts, v) in self.ref_conv_day.items():
            acc = self.ref_day.setdefault(d, [0, 0, 0.0])
            acc[0] += n
            acc[1] += ts
            acc[2] += v
        self.days = sorted(self.ref_day)
        self.n_samples = sum(a[0] for a in self.ref_day.values())
        if self.traced:
            convs = sorted({c for c, _d in self.ref_conv_day if c != GLOBAL_CONV})
            # own generator: the read-op sequence must not depend on --trace
            picks = random.Random(self.seed).sample(convs, min(16, len(convs)))
            self.kernel_series = collect_series(ser, picks)

    def trace_probes(self) -> None:
        """The 1m -> 1h -> 1d cascade of the derived series, noop sink."""
        ser = derive_series(self.t_input)
        t0 = time.perf_counter()
        rollup_cascade(ser)["1d"].write.format("noop").mode("overwrite").save()
        self.trace_extra["rollup.cascade_s"] = time.perf_counter() - t0


class IngestAge(_Transcripts):
    """Write path: derive -> raw -> two retention passes -> cagg
    refresh -> one more raw day -> dirty-day refresh, on a fresh store
    per op."""

    name = "ingest_age"

    def build(self) -> float:
        self.reference()
        return 0.0

    def op(self, i: int) -> dict:
        tr = self.tracer
        base = os.path.join(self.workdir, f"ingest-{i}")
        store = TieredStore(self.spark, base, POLICY)
        cagg = ContinuousRollups(self.spark, store)
        last = self.days[-1]
        fails: list[str] = []
        t0 = time.perf_counter()
        with tr.span("series.derive"):
            ser = derive_series(self.t_input).cache()
            n_ser = ser.count()
        t1 = time.perf_counter()
        with tr.span("retention.write_raw"):
            store.write_raw(ser.filter(F.to_date("bucket_ts") < F.lit(last)))
        t2 = time.perf_counter()
        with tr.span("retention.pass"):
            moves1 = store.retention_pass(today=last)
        with tr.span("retention.pass"):
            moves2 = store.retention_pass(today=last + timedelta(days=2))
        t3 = time.perf_counter()
        with tr.span("cagg.refresh_all"):
            refreshed = cagg.refresh()
        t4 = time.perf_counter()
        with tr.span("retention.write_raw"):
            store.write_raw(ser.filter(F.to_date("bucket_ts") == F.lit(last)))
        t5 = time.perf_counter()
        with tr.span("cagg.refresh_dirty_day"):
            dirty = cagg.refresh()
        t6 = time.perf_counter()
        phases = {
            "derive": t1 - t0, "write_raw": (t2 - t1) + (t5 - t4), "retention": t3 - t2,
            "refresh_all": t4 - t3, "refresh_dirty_day": t6 - t5,
        }

        holder = {d: "raw" for d in self.days[:-1]}
        want1 = planned_moves(holder, last)
        want2 = planned_moves(holder, last + timedelta(days=2))
        if n_ser != self.n_samples:
            fails.append(f"derived {n_ser} of {self.n_samples} samples")
        if (len(moves1), len(moves2)) != (want1, want2):
            fails.append(f"moves {len(moves1)}+{len(moves2)}, want {want1}+{want2}")
        # days aged to rollup-only before the first refresh have nothing
        # left to aggregate, so the full refresh never sees them
        want_all = [d.isoformat() for d in self.days[:-1] if holder[d] != "rollup"]
        if sorted(refreshed) != want_all:
            fails.append(f"full refresh covered {len(refreshed)} of {len(want_all)} days")
        if dirty != [last.isoformat()]:
            fails.append(f"dirty-day refresh found {dirty}, want [{last}]")
        want_cnt = sum(self.ref_day[d][0] for d in self.days if holder.get(d) != "rollup")
        got_cnt = cagg.read("1d").agg(F.sum("cnt")).collect()[0][0]
        if got_cnt != want_cnt:
            fails.append(f"cagg 1d cnt {got_cnt} != {want_cnt}")
        nbytes = store_bytes(base)
        out = {
            "wall": t6 - t0,
            "samples": n_ser,
            "phases": phases,
            "fails": fails,
            "store_bytes": nbytes,
            "dirty_days_found": len(dirty),
            "days_total": len(self.days),
        }
        if tr.enabled:
            lineage = CheckpointLog(self.spark, store.path("_lineage")).read()
            for r in (
                lineage.groupBy("stage")
                .agg(F.sum("wall_ms").alias("ms"), F.sum("rows_in").alias("rows"))
                .collect()
            ):
                move = r.stage.split(":", 1)[1].replace("->", "-")
                out[f"retention.move.{move}_s"] = r.ms / 1e3
                out[f"retention.move.{move}_rows"] = r.rows
            out["checkpoint.lineage_rows"] = lineage.count() + cagg.lineage.read().count()
            out["retention.files_written"] = len(data_files(base))
        ser.unpersist()
        shutil.rmtree(base, ignore_errors=True)
        return out

    def summary(self, ops: list[dict]) -> dict:
        last = ops[-1]
        out = {
            "ingest_turns_per_s": self.n_turns / _median([o["wall"] for o in ops]),
            "cagg_refresh_dirty_day_s": _median([o["phases"]["refresh_dirty_day"] for o in ops]),
            "store_bytes_per_raw_byte": last["store_bytes"] / (16 * self.n_samples),
            "bytes_per_sample": last["store_bytes"] / self.n_samples,
            "cagg.dirty_days_found": last["dirty_days_found"],
            "cagg.days_total": last["days_total"],
            "turns": self.n_turns,
            "series.rows_out": self.n_samples,
            "fingerprint": {"store_bytes": last["store_bytes"]},
        }
        for k, v in last.items():
            if k.startswith(("retention.", "checkpoint.")):
                out[k] = v
        for ph in ops[0]["phases"]:
            out[f"phase.{ph}_s"] = _median([o["phases"][ph] for o in ops])
        return out



READ_SPANS = {
    "range_1d": "retention.read.range_1d",
    "series_7d": "retention.read.series_7d",
    "auto_7d": "retention.read.auto_7d",
    "serve_7d": "cagg.serve",
    "gapfill_1d": "rollup.gap_fill",
}
READ_KINDS = tuple(READ_SPANS)


class DashboardReads(_Transcripts):
    """Read path over a store aged into every tier, with caggs
    materialized: a seeded mix of range, series, auto-resolution,
    served-cagg and gap-filled reads."""

    name = "dashboard_reads"
    min_ops = len(READ_KINDS)  # every read kind runs, even in a short run

    def build(self) -> float:
        self.reference()
        t0 = time.perf_counter()
        base = os.path.join(self.workdir, "reads-store")
        self.store = TieredStore(self.spark, base, POLICY)
        self.cagg = ContinuousRollups(self.spark, self.store)
        self.store.write_raw(derive_series(self.t_input))
        self.store.retention_pass(today=self.days[-1])
        self.cagg.refresh()
        build_s = time.perf_counter() - t0
        self.store_bytes = store_bytes(base)

        self.tier = tier_of_days(self.store)
        self.readable = [d for d in self.days if self.tier.get(d) != "rollup"]
        self.lo, self.hi = self.readable[0], self.readable[-1]
        self.convs = sorted(
            {c for c, d in self.ref_conv_day if c != GLOBAL_CONV and d in self.readable}
        )
        # the hottest (conv, day) pairs on readable days, for gap-fill
        pairs = sorted(
            ((n, c, d) for (c, d), (n, _t, _v) in self.ref_conv_day.items()
             if c != GLOBAL_CONV and d in self.readable),
            reverse=True,
        )[:8]
        self.hot = [(c, d) for _n, c, d in pairs]
        grid = (
            derive_series(self.t_input)
            .filter(F.col("conv_id").isin([c for c, _d in self.hot]))
            .groupBy("conv_id", F.to_date("bucket_ts").alias("day"), "metric")
            .agg(F.min(F.col("bucket_ts").cast("long")).alias("a"),
                 F.max(F.col("bucket_ts").cast("long")).alias("b"))
            .collect()
        )
        # rows gap_fill must return: each series' 20 s grid, min to max
        self.grid_rows: dict[tuple, int] = {}
        for r in grid:
            key = (r.conv_id, r.day)
            if key in self.hot:
                self.grid_rows[key] = self.grid_rows.get(key, 0) + (r.b - r.a) // 20 + 1
        # the on-the-fly rollup the served cagg must equal
        self.auto_ref = self._rollup_agg(self.store.read_auto(self.lo, self.hi, max_points=200))
        return build_s

    @staticmethod
    def _rollup_agg(df):
        r = df.agg(
            F.count(F.lit(1)).alias("rows"), F.sum("cnt").alias("cnt"), F.sum("sum").alias("sum")
        ).collect()[0]
        return int(r.rows), int(r.cnt or 0), float(r.sum or 0.0)

    @staticmethod
    def _series_agg(df):
        r = df.agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("bucket_ts").cast("long")).alias("ts"),
            F.sum("value").alias("v"),
        ).collect()[0]
        return int(r.n), int(r.ts or 0), float(r.v or 0.0)

    def op(self, i: int) -> dict:
        if i % len(READ_KINDS) == 0:
            self.order = list(READ_KINDS)
            self.rng.shuffle(self.order)
        kind = self.order[i % len(READ_KINDS)]
        tr, store, fails = self.tracer, self.store, []
        t0 = time.perf_counter()
        if kind == "range_1d":
            d = self.rng.choice(self.readable)
            with tr.span("retention.read.range_1d"):
                n, ts, v = self._series_agg(store.read_series(d, d))
            want = self.ref_day[d]
            tol = EXACT_SUM_TOL if self.tier[d] in ("raw", "tier0") else LOSSY_SUM_TOL
            if (n, ts) != (want[0], want[1]) or not _close(v, want[2], tol):
                fails.append(f"range_1d {d} ({self.tier[d]}): {(n, ts, v)} != {tuple(want)}")
            samples = n
        elif kind == "series_7d":
            c = self.rng.choice(self.convs)
            with tr.span("retention.read.series_7d"):
                n, ts, _v = self._series_agg(store.read_series(self.lo, self.hi, conv_ids=[c]))
            want = [self.ref_conv_day.get((c, d), (0, 0, 0.0)) for d in self.readable]
            if (n, ts) != (sum(w[0] for w in want), sum(w[1] for w in want)):
                fails.append(f"series_7d {c}: {n} rows")
            samples = n
        elif kind in ("auto_7d", "serve_7d"):
            with tr.span("retention.read.auto_7d" if kind == "auto_7d" else "cagg.serve"):
                src = (
                    store.read_auto(self.lo, self.hi, max_points=200)
                    if kind == "auto_7d"
                    else self.cagg.serve(self.lo, self.hi, max_points=200)
                )
                rows, cnt, s = self._rollup_agg(src)
            want_cnt = sum(self.ref_day[d][0] for d in self.readable)
            if (rows, cnt) != self.auto_ref[:2] or cnt != want_cnt or not _close(
                s, self.auto_ref[2], EXACT_SUM_TOL
            ):
                fails.append(f"{kind}: {(rows, cnt, s)} != {self.auto_ref}, cnt {want_cnt}")
            samples, returned = cnt, rows
        else:
            c, d = self.rng.choice(self.hot)
            with tr.span("rollup.gap_fill"):
                r = (
                    gap_fill(store.read_series(d, d, conv_ids=[c]), 20, "locf")
                    .agg(F.count(F.lit(1)).alias("n"),
                         F.sum(F.when(~F.col("is_filled"), 1).otherwise(0)).alias("obs"))
                    .collect()[0]
                )
            if (r.n, r.obs) != (self.grid_rows[(c, d)], self.ref_conv_day[(c, d)][0]):
                fails.append(f"gapfill_1d {c} {d}: {(r.n, r.obs)}")
            samples = int(r.n)
        return {
            "wall": time.perf_counter() - t0,
            "kind": kind,
            "samples": samples,
            "returned": samples if kind not in ("auto_7d", "serve_7d") else returned,
            "fails": fails,
        }

    def summary(self, ops: list[dict]) -> dict:
        walls = [o["wall"] for o in ops]
        t, pct = tail(walls)
        out = {
            "read_p50_s": _median(walls),
            "read_tail_s": t,
            "read_tail_pct": pct,
            "read_ops": len(walls),
            "bytes_per_sample": self.store_bytes / self.n_samples,
            "days_by_tier": {
                tier: sum(1 for d in self.days if self.tier.get(d) == tier) for tier in TIERS
            },
            "fingerprint": {"store_bytes": self.store_bytes},
        }
        for kind in READ_KINDS:
            out[f"{kind}_p50_s"] = _median([o["wall"] for o in ops if o["kind"] == kind])
        return out

    def span_layer(self, spans: dict, ops: list[dict]) -> dict:
        """Rows each read kind scans (parquet input records) and how many
        it scans per row it returns."""
        out = {}
        for kind, span in READ_SPANS.items():
            scanned = spans.get(f"{span}_input_records")
            if scanned is None:
                continue
            returned = _median([o["returned"] for o in ops if o["kind"] == kind])
            out[f"retention.read_rows_scanned.{kind}"] = scanned
            out[f"retention.read_scanned_per_returned.{kind}"] = scanned / max(returned, 1)
        out["cagg.serve_rows_scanned"] = spans.get("cagg.serve_input_records")
        return out


WORKLOADS = {w.name: w for w in (CodecRegular, IngestAge, DashboardReads)}
