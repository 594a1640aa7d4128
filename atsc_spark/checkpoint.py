"""Checkpoint / lineage table and resumable stage execution.

North-rule requirement with no reference equivalent (the reference is
a one-shot CLI).  Every stage run writes one lineage row per partition
key; a resumed job anti-joins completed keys and recomputes nothing.

The log is an append-only parquet table (an Iceberg table in
production — append-only means plain parquet is safe here too: a
partition is "done" iff a done-row exists; duplicate done-rows are
harmless and resolved by max(attempt)).
"""

from __future__ import annotations

import time
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    DoubleType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

LINEAGE_SCHEMA = StructType(
    [
        StructField("stage", StringType()),
        StructField("partition_key", StringType()),
        StructField("status", StringType()),
        StructField("rows_in", LongType()),
        StructField("rows_out", LongType()),
        StructField("bytes_out", LongType()),
        StructField("max_err", DoubleType()),
        StructField("wall_ms", LongType()),
        StructField("attempt", IntegerType()),
        StructField("updated_at", TimestampType()),
    ]
)


@dataclass
class StageResult:
    stage: str
    processed_keys: int
    skipped_keys: int
    wall_ms: int


class CheckpointLog:
    def __init__(self, spark: SparkSession, path: str) -> None:
        self.spark = spark
        self.path = path

    def read(self) -> DataFrame:
        """The log; empty before its first record.  Any error but a
        missing log raises: read as "no log yet", an unreadable log
        would make :func:`run_stage` redo every key."""
        path = self.spark._jvm.org.apache.hadoop.fs.Path(self.path)
        if not path.getFileSystem(self.spark._jsc.hadoopConfiguration()).exists(path):
            return self.spark.createDataFrame([], LINEAGE_SCHEMA)
        return self.spark.read.schema(LINEAGE_SCHEMA).parquet(self.path)

    def completed_keys(self, stage: str) -> DataFrame:
        return (
            self.read()
            .filter((F.col("stage") == stage) & (F.col("status") == "done"))
            .select("partition_key")
            .distinct()
        )

    def pending(self, keys: DataFrame, stage: str) -> DataFrame:
        """Anti-join candidate partition keys against completed ones."""
        return keys.join(self.completed_keys(stage), "partition_key", "left_anti")

    def attempt_number(self, stage: str) -> int:
        row = (
            self.read()
            .filter(F.col("stage") == stage)
            .agg(F.max("attempt").alias("a"))
            .collect()[0]
        )
        return (row.a or 0) + 1

    def record(self, rows: list[dict]) -> None:
        """Append lineage rows (:func:`append_rows`)."""
        append_rows(
            self.spark,
            self.path,
            LINEAGE_SCHEMA,
            [
                (
                    r["stage"],
                    r["partition_key"],
                    r.get("status", "done"),
                    int(r.get("rows_in", 0)),
                    int(r.get("rows_out", 0)),
                    int(r.get("bytes_out", 0)),
                    float(r["max_err"]) if r.get("max_err") is not None else None,
                    int(r.get("wall_ms", 0)),
                    int(r.get("attempt", 1)),
                    r.get("updated_at"),
                )
                for r in rows
            ],
        )


def append_rows(spark: SparkSession, path: str, schema: StructType, rows: list[tuple]) -> None:
    """Append ``rows`` (tuples in ``schema`` order; a None
    ``updated_at`` becomes now) to the small parquet table at ``path``
    as one file.  A local path in a local-mode session is written
    DRIVER-SIDE with pyarrow (tmp file + atomic ``os.replace``, named
    ``lin-<uuid>.parquet``): a Spark write job costs ~1 s of
    scheduling for a few-KB append, which at one append per stage per
    refresh dominated the incremental-refresh floor.  Elsewhere a
    scheme-less path resolves against the session's default Hadoop FS,
    which need not be the driver's disk, so the Spark writer appends."""
    if not rows:
        return
    local_session = spark.sparkContext.master.startswith("local")
    if ("://" in path and not path.startswith("file:")) or not local_session:
        df = spark.createDataFrame(rows, schema).withColumn(
            "updated_at", F.coalesce("updated_at", F.current_timestamp())
        )
        df.coalesce(1).write.mode("append").parquet(path)
        return
    import os
    import uuid
    from datetime import datetime, timezone

    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql.pandas.types import to_arrow_schema

    now, i = datetime.now(timezone.utc), schema.names.index("updated_at")
    rows = [r[:i] + (r[i] or now,) + r[i + 1 :] for r in rows]
    local = path[7:] if path.startswith("file://") else path
    os.makedirs(local, exist_ok=True)
    arrow = to_arrow_schema(schema)
    tbl = pa.Table.from_arrays([pa.array(c, f.type) for c, f in zip(zip(*rows), arrow)], schema=arrow)
    tmp = os.path.join(local, f".tmp-{uuid.uuid4().hex}.parquet")
    pq.write_table(tbl, tmp)
    os.replace(tmp, os.path.join(local, f"lin-{uuid.uuid4().hex}.parquet"))


def run_stage(
    log: CheckpointLog,
    stage: str,
    inputs: DataFrame,
    key_col,
    process,
    output_path: str,
    metrics_agg=None,
) -> StageResult:
    """Resumable stage: process only partition keys without a 'done'
    lineage row, write output partitioned by the key, then log.

    key_col: a Column producing the string partition key for each
    input row; process: DataFrame -> DataFrame (must preserve a
    `partition_key` column); metrics_agg: optional dict of extra agg
    columns for the lineage row (e.g. max_err).
    """
    t0 = time.time()
    keyed = inputs.withColumn("partition_key", key_col)
    all_keys = keyed.select("partition_key").distinct()
    todo = log.pending(all_keys, stage)
    n_total = all_keys.count()
    n_todo = todo.count()
    if n_todo == 0:
        return StageResult(stage, 0, n_total, int((time.time() - t0) * 1000))

    pending_rows = keyed.join(F.broadcast(todo), "partition_key")
    out = process(pending_rows)
    # Dynamic partition overwrite: a crash between this write and the
    # lineage record leaves keys with data but no 'done' row; the
    # resumed run then REPLACES those keys' partitions instead of
    # appending duplicate rows (idempotent resume).
    spark = log.spark
    prev_mode = spark.conf.get("spark.sql.sources.partitionOverwriteMode", "static")
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try:
        out.write.mode("overwrite").partitionBy("partition_key").parquet(output_path)
    finally:
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", prev_mode)

    written = log.spark.read.parquet(output_path).join(
        F.broadcast(todo), "partition_key"
    )
    aggs = [
        F.count(F.lit(1)).alias("rows_out"),
        *(metrics_agg or []),
    ]
    attempt = log.attempt_number(stage)
    stats = {r["partition_key"]: r.asDict() for r in written.groupBy("partition_key").agg(*aggs).collect()}
    rows_in = {
        r["partition_key"]: r["c"]
        for r in pending_rows.groupBy("partition_key").agg(F.count(F.lit(1)).alias("c")).collect()
    }
    wall = int((time.time() - t0) * 1000)
    log.record(
        [
            {
                "stage": stage,
                "partition_key": k,
                "status": "done",
                "rows_in": rows_in.get(k, 0),
                "rows_out": stats.get(k, {}).get("rows_out", 0),
                "bytes_out": stats.get(k, {}).get("bytes_out", 0) or 0,
                "max_err": stats.get(k, {}).get("max_err"),
                "wall_ms": wall,
                "attempt": attempt,
            }
            for k in [r.partition_key for r in todo.collect()]
        ]
    )
    return StageResult(stage, n_todo, n_total - n_todo, wall)
