"""End-to-end spark-submit job: transcripts -> series -> rollups +
tiers, checkpointed and resumable.

Run:
    spark-submit --py-files atsc_spark.zip tools/submit_job.py \\
        --input <transcripts parquet/iceberg> --store <base dir>

or locally:
    python -m atsc_spark.pipeline --n-convs 500 --store /tmp/store

Stages (each writes per-partition lineage; rerun resumes):
  1. derive   — transcripts -> series (one hash agg)
  2. rollup   — 1m/1h/1d continuous aggregates
  3. tier0    — gorilla lossless blocks
  4. frames   — ATSC frames at the tier-2 error bound
  5. retention — age-based raw -> tier replacement
"""

from __future__ import annotations

import argparse
import json
import time
from datetime import date

from pyspark.sql import functions as F

from .checkpoint import CheckpointLog
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
        resume; fine-grained per-partition resume is in run_stage)."""
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

    def per_day_stage(stage_name: str, fit_fn, out_name: str, metric_aggs) -> None:
        """North-rule mid-tier resume: one lineage row per day
        partition; a rerun anti-joins completed days and recomputes
        nothing.  Output appends day-by-day, so a crash mid-stage
        loses only in-flight days."""
        t0 = time.time()
        keyed = series.withColumn("day", F.to_date("bucket_ts"))
        all_days = keyed.select(F.col("day").cast("string").alias("partition_key")).distinct()
        todo = log.pending(all_days, stage_name)
        todo_days = [r.partition_key for r in todo.collect()]
        if not todo_days:
            stats[stage_name] = "skipped (checkpoint, per-day)"
            return
        attempt = log.attempt_number(stage_name)
        pending = keyed.filter(F.col("day").cast("string").isin(todo_days)).drop("day")
        out = fit_fn(pending)
        # dynamic partition overwrite: a crash between write and lineage
        # record reprocesses the day by REPLACING its partition, never
        # appending a duplicate copy (same fix as checkpoint.run_stage)
        prev_mode = spark.conf.get("spark.sql.sources.partitionOverwriteMode", "static")
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
        try:
            out.write.mode("overwrite").partitionBy("day").parquet(f"{store_base}/{out_name}")
        finally:
            spark.conf.set("spark.sql.sources.partitionOverwriteMode", prev_mode)
        # stats read-back: compare as strings — with partition-column
        # type inference disabled the `day` partition reads back as
        # string and an isin(date) filter silently matches nothing
        # (rows_out=0 lineage for every day).  The cast-to-string
        # compare is type-safe either way and Catalyst still prunes
        # partitions through the cast of a literal-only IN list.
        written = spark.read.parquet(f"{store_base}/{out_name}").filter(
            F.col("day").cast("string").isin(todo_days)
        )
        per_day = {
            r.k: r.asDict()
            for r in written.groupBy(F.col("day").cast("string").alias("k"))
            .agg(*metric_aggs)
            .collect()
        }
        wall = int((time.time() - t0) * 1000)
        log.record(
            [
                {
                    "stage": stage_name,
                    "partition_key": d,
                    "status": "done",
                    "rows_out": per_day.get(d, {}).get("rows_out", 0),
                    "bytes_out": per_day.get(d, {}).get("bytes_out", 0),
                    "max_err": per_day.get(d, {}).get("max_err"),
                    "wall_ms": wall,
                    "attempt": attempt,
                }
                for d in todo_days
            ]
        )
        stats[stage_name] = round(time.time() - t0, 2)

    per_day_stage(
        "tier0",
        fit_lossless,
        "blocks_all",
        [
            F.count(F.lit(1)).alias("rows_out"),
            F.sum("payload_bytes").alias("bytes_out"),
            F.lit(None).cast("double").alias("max_err"),
        ],
    )
    b = spark.read.parquet(f"{store_base}/blocks_all")
    agg = b.agg(F.sum("raw_bytes").alias("r"), F.sum("payload_bytes").alias("p")).collect()[0]
    stats["gorilla_ratio"] = round(agg.r / max(agg.p, 1), 2)

    per_day_stage(
        "frames",
        lambda df: fit_frames(df, max_error=max_error),
        "frames_all",
        [
            F.count(F.lit(1)).alias("rows_out"),
            F.sum("payload_bytes").alias("bytes_out"),
            F.max("error").alias("max_err"),
        ],
    )
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
