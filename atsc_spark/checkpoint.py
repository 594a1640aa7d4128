"""Checkpoint / lineage table and the engine's one resumable stage.

North-rule requirement with no reference equivalent (the reference is
a one-shot CLI).  :func:`run_stage` writes one lineage row per
partition key it processes; a rerun skips every key with a done-row
and recomputes nothing.  The pipeline's per-day tier0 and frames
stages run through it.

The log is an append-only parquet table: a partition is "done" iff a
done-row exists, so duplicate done-rows are harmless.
:func:`append_rows` is its one writer, on every master and filesystem.
"""

from __future__ import annotations

import time
import uuid
from dataclasses import dataclass
from datetime import datetime, timezone

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.pandas.types import to_arrow_schema
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
    as one file, with no Spark job: a write job costs ~1 s of
    scheduling for a few-KB append, which at one append per stage per
    refresh would dominate the incremental-refresh floor.  pyarrow
    builds the file in driver memory; the Hadoop FileSystem of
    ``path`` (any scheme, or the session's default FS for a
    scheme-less path) writes it under a ``.tmp-`` name, which readers
    skip, and renames it to ``lin-<uuid>.parquet``.  The rename keeps a
    torn file out of the table, where it would make
    :meth:`CheckpointLog.read` raise."""
    if not rows:
        return
    now, i = datetime.now(timezone.utc), schema.names.index("updated_at")
    rows = [r[:i] + (r[i] or now,) + r[i + 1 :] for r in rows]
    arrow = to_arrow_schema(schema)
    buf = pa.BufferOutputStream()
    pq.write_table(
        pa.Table.from_arrays([pa.array(c, f.type) for c, f in zip(zip(*rows), arrow)], schema=arrow),
        buf,
    )
    hpath, name = spark._jvm.org.apache.hadoop.fs.Path, uuid.uuid4().hex
    tmp, dst = hpath(path, f".tmp-{name}.parquet"), hpath(path, f"lin-{name}.parquet")
    fs = tmp.getFileSystem(spark._jsc.hadoopConfiguration())
    out = fs.create(tmp, False)
    try:
        out.write(bytearray(buf.getvalue().to_pybytes()))
    finally:
        out.close()
    if not fs.rename(tmp, dst):
        raise RuntimeError(f"lineage: rename {tmp} -> {dst} failed")


def run_stage(
    log: CheckpointLog,
    stage: str,
    inputs: DataFrame,
    key_col,
    process,
    output_path: str,
    metrics_agg=None,
) -> StageResult:
    """Resumable stage: process only the partition keys without a
    'done' lineage row, write the output partitioned by the key, then
    log one row per processed key.

    key_col: a Column producing the string partition key for each
    input row; process: DataFrame -> DataFrame (must preserve a
    `partition_key` column); metrics_agg: optional list of extra agg
    columns for the lineage row (e.g. bytes_out, max_err).

    Partition keys name output directories, so they are few: one
    collect gives every key with its ``rows_in``, one read of the
    stage's log rows gives the done keys and the attempt, and the
    pending keys are a driver-side list.  A rerun with nothing pending
    runs those two reads only.
    """
    t0 = time.time()
    keyed = inputs.withColumn("partition_key", key_col)
    rows_in = {r["partition_key"]: r["count"] for r in keyed.groupBy("partition_key").count().collect()}
    logged = log.read().filter(F.col("stage") == stage).select("status", "partition_key", "attempt").collect()
    done = {r.partition_key for r in logged if r.status == "done"}
    todo = [k for k in rows_in if k not in done]
    if not todo:
        return StageResult(stage, 0, len(rows_in), int((time.time() - t0) * 1000))

    attempt = max((r.attempt or 0 for r in logged), default=0) + 1
    out = process(keyed.filter(F.col("partition_key").isin(todo)))
    # Dynamic partition overwrite, set on this write only: a crash
    # between this write and the lineage record leaves keys with data
    # but no 'done' row; the resumed run then REPLACES those keys'
    # partitions instead of appending duplicate rows (idempotent resume).
    out.write.mode("overwrite").option("partitionOverwriteMode", "dynamic").partitionBy(
        "partition_key"
    ).parquet(output_path)
    # read back with the written schema: a day-shaped key stays a
    # string (inference would make it a date) and no inference job runs
    written = log.spark.read.schema(out.schema).parquet(output_path)
    stats = {
        r["partition_key"]: r.asDict()
        for r in written.filter(F.col("partition_key").isin(todo))
        .groupBy("partition_key")
        .agg(F.count(F.lit(1)).alias("rows_out"), *(metrics_agg or []))
        .collect()
    }
    wall = int((time.time() - t0) * 1000)
    log.record(
        [
            {
                "stage": stage,
                "partition_key": k,
                "status": "done",
                "rows_in": rows_in[k],
                "rows_out": stats.get(k, {}).get("rows_out", 0),
                "bytes_out": stats.get(k, {}).get("bytes_out") or 0,
                "max_err": stats.get(k, {}).get("max_err"),
                "wall_ms": wall,
                "attempt": attempt,
            }
            for k in todo
        ]
    )
    return StageResult(stage, len(todo), len(rows_in) - len(todo), wall)
