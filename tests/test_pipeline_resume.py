"""Mid-tier resume: pre-complete some day partitions in the lineage
table, run the pipeline, and assert only the remaining days were
computed — the north rule's "resumable mid-tier without recomputing
completed frames"."""

import pytest
from pyspark.sql import functions as F

from atsc_spark.checkpoint import CheckpointLog
from atsc_spark.pipeline import run


def test_pipeline_full_and_rerun(spark, tmp_path):
    store = str(tmp_path / "p1")
    s1 = run(spark, store, n_convs=60)
    assert isinstance(s1["frames"], float) and s1["atsc_max_error"] <= 0.03 + 1e-9
    # rerun: every stage (incl. per-day ones) resumes
    s2 = run(spark, store, n_convs=60)
    assert all("skipped" in str(s2[k]) for k in ("derive", "rollup", "tier0", "frames", "retention"))
    # lineage has per-day rows with metrics for the frame stage
    lineage = CheckpointLog(spark, f"{store}/lineage").read().toPandas()
    frame_rows = lineage[lineage.stage == "frames"]
    assert len(frame_rows) >= 1
    assert (frame_rows.rows_in > 0).all()
    assert (frame_rows.rows_out > 0).all()
    assert (frame_rows.bytes_out > 0).all()
    assert frame_rows.rows_out.sum() == spark.read.parquet(f"{store}/frames_all").count()
    for table in ("frames_all", "blocks_all"):
        parts = {p.name.split("=")[0] for p in (tmp_path / "p1" / table).iterdir() if p.is_dir()}
        assert parts == {"partition_key"}, (table, parts)


def test_pipeline_mid_tier_resume(spark, tmp_path):
    """Simulate a crash after some days completed: pre-mark one day as
    done; the run must compute only the remaining days."""
    store = str(tmp_path / "p2")
    # discover the days by running derive only (cheap trick: full run
    # on a throwaway store)
    probe = str(tmp_path / "probe")
    run(spark, probe, n_convs=60)
    days = sorted(
        r.partition_key
        for r in CheckpointLog(spark, f"{probe}/lineage")
        .read()
        .filter("stage = 'frames'")
        .select("partition_key")
        .distinct()
        .collect()
    )
    assert len(days) >= 2

    log = CheckpointLog(spark, f"{store}/lineage")
    log.record(
        [{"stage": "frames", "partition_key": days[0], "status": "done", "attempt": 1}]
    )
    stats = run(spark, store, n_convs=60)
    frames = spark.read.parquet(f"{store}/frames_all")
    got_days = {str(r.day) for r in frames.select("day").distinct().collect()}
    assert days[0] not in got_days  # pre-completed day was NOT recomputed
    assert set(days[1:]) <= got_days  # the rest were
