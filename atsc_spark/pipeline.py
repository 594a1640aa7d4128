"""End-to-end spark-submit job: transcripts -> series -> rollups +
tiers, checkpointed and resumable.

Run:
    spark-submit --py-files atsc_spark.zip tools/submit_job.py \\
        --input <transcripts parquet/iceberg> --store <base dir>

or locally:
    python -m atsc_spark.pipeline --n-convs 500 --store /tmp/store

Stages (each writes lineage rows; a rerun resumes):
  1. derive    — transcripts -> series (one hash agg); one row
  2. rollup    — 1m/1h/1d continuous aggregates; one row
  3. tier0     — gorilla lossless blocks -> ``blocks_all``
  4. frames    — ATSC frames at the tier-2 error bound -> ``frames_all``
  5. retention — age-based raw -> tier replacement; one row

tier0 and frames run through :func:`checkpoint.run_stage` with one
lineage row per day: a rerun recomputes only the days without one.
Their tables are partitioned by ``partition_key=<day>``, and ``day``
stays a data column.
"""

from __future__ import annotations

import argparse
import json
import time
from datetime import date

from pyspark.sql import functions as F

from .checkpoint import CheckpointLog, run_stage
from .fixtures import transcripts
from .frames import compression_report, fit_frames
from .lossless import fit_lossless
from .retention import TieredStore, TierPolicy
from .series import derive_series
from .session import get_spark


def run(
    spark,
    store_base: str,
    input_path: str | None = None,
    n_convs: int = 500,
    max_error: float = 0.03,
    today: date | None = None,
) -> dict:
    log = CheckpointLog(spark, f"{store_base}/lineage")
    t_start = time.time()
    stats: dict = {}

    def stage(name: str, fn):
        """Skip a whole stage if its lineage row exists (coarse-grained
        resume; the per-day stages resume through run_stage)."""
        if log.completed_keys(name).count() > 0:
            stats[name] = "skipped (checkpoint)"
            return None
        t0 = time.time()
        out = fn()
        log.record([{"stage": name, "partition_key": "__all__", "status": "done",
                     "rows_out": out if isinstance(out, int) else 0,
                     "wall_ms": int((time.time() - t0) * 1000)}])
        stats[name] = round(time.time() - t0, 2)
        return out

    if input_path:
        raw = spark.read.parquet(input_path)
    else:
        raw = transcripts(spark, n_convs=n_convs)

    series = derive_series(raw).cache()

    def s_derive():
        store.write_raw(series)
        return series.count()

    store = TieredStore(spark, store_base, TierPolicy())
    stage("derive", s_derive)

    def s_rollup():
        # incrementally-maintained continuous aggregates (cagg.py): a
        # rerun fingerprints the day partitions and recomputes only the
        # dirty ones — day-partitioned 1m/1h/1d tables under
        # <store>/_rollups/<grain>, served by ContinuousRollups.serve
        from .cagg import ContinuousRollups

        cagg = ContinuousRollups(spark, store)
        cagg.refresh()
        r1d = cagg.read("1d")
        return r1d.count() if r1d is not None else 0

    stage("rollup", s_rollup)

    # per-day resume: one lineage row per day, so a rerun recomputes
    # no completed day
    day_key = F.to_date("bucket_ts").cast("string")
    for name, fit_fn, out_name, max_err in (
        ("tier0", fit_lossless, "blocks_all", F.lit(None).cast("double")),
        ("frames", lambda df: fit_frames(df, max_error=max_error), "frames_all", F.max("error")),
    ):
        t0 = time.time()
        res = run_stage(
            log,
            name,
            series,
            day_key,
            lambda df, fit=fit_fn: fit(df.drop("partition_key")).withColumn(
                "partition_key", F.col("day").cast("string")
            ),
            f"{store_base}/{out_name}",
            [F.sum("payload_bytes").alias("bytes_out"), max_err.alias("max_err")],
        )
        stats[name] = round(time.time() - t0, 2) if res.processed_keys else "skipped (checkpoint, per-day)"

    b = spark.read.parquet(f"{store_base}/blocks_all")
    agg = b.agg(F.sum("raw_bytes").alias("r"), F.sum("payload_bytes").alias("p")).collect()[0]
    stats["gorilla_ratio"] = round(agg.r / max(agg.p, 1), 2)
    rep = compression_report(spark.read.parquet(f"{store_base}/frames_all")).collect()
    raw_b = sum(r.raw_bytes for r in rep)
    comp_b = sum(r.payload_bytes for r in rep)
    stats["atsc_ratio"] = round(raw_b / max(comp_b, 1), 2)
    stats["atsc_max_error"] = max((r.max_error or 0.0) for r in rep)

    def s_retention():
        moves = store.retention_pass(today or date.today())
        return len(moves)

    stage("retention", s_retention)

    stats["total_sec"] = round(time.time() - t_start, 2)
    stats["series_rows"] = series.count()
    series.unpersist()
    return stats


def main() -> None:
    p = argparse.ArgumentParser()
    p.add_argument("--input", default=None, help="transcripts parquet path (default: synthesize)")
    p.add_argument("--store", required=True)
    p.add_argument("--n-convs", type=int, default=500)
    p.add_argument("--error", type=float, default=0.03)
    p.add_argument("--master", default=None)
    args = p.parse_args()
    spark = get_spark("atsc_spark_pipeline", master=args.master)
    stats = run(spark, args.store, args.input, args.n_convs, args.error)
    print(json.dumps(stats))
    spark.stop()


if __name__ == "__main__":
    main()
