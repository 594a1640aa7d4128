"""Streaming ingest tests (stateful per-conversation state, streamed
series to frames, the watermark append-only contract, and streamed
transcripts landing in the tiered store)."""

from pyspark.sql import functions as F

from atsc_spark.fixtures import transcripts


def test_running_conv_state_stateful(spark, tmp_path):
    """applyInPandasWithState across MULTIPLE micro-batches: write two
    input files, trigger with maxFilesPerTrigger=1, and assert the
    final per-conv state accumulates across batches."""
    from atsc_spark.streaming import running_conv_state

    inp = str(tmp_path / "state_in")
    t = transcripts(spark, n_convs=10, window_days=1).cache()
    half_a = t.filter("turn_idx % 2 = 0")
    half_b = t.filter("turn_idx % 2 = 1")
    half_a.coalesce(1).write.mode("overwrite").parquet(f"{inp}/a")
    half_b.coalesce(1).write.mode("overwrite").parquet(f"{inp}/b")

    schema = "conv_id string, turn_idx int, role string, text string, tool string, ts timestamp"
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(f"{inp}/*")
    )
    q = (
        running_conv_state(stream)
        .writeStream.outputMode("update")
        .format("memory")
        .queryName("conv_state")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    got = spark.sql(
        "SELECT conv_id, max(n_turns) AS n_turns, max(n_chars) AS n_chars"
        " FROM conv_state GROUP BY conv_id"
    ).toPandas().set_index("conv_id")
    expected = (
        t.groupBy("conv_id")
        .agg(F.count("*").alias("n_turns"), F.sum(F.length("text")).alias("n_chars"))
        .toPandas()
        .set_index("conv_id")
    )
    assert len(got) == len(expected)
    for conv in expected.index:
        assert got.loc[conv, "n_turns"] == expected.loc[conv, "n_turns"]
        assert got.loc[conv, "n_chars"] == expected.loc[conv, "n_chars"]
    # multiple batches actually happened (state carried across them)
    batches = spark.sql("SELECT count(*) c FROM conv_state").collect()[0].c
    assert batches > len(expected)


def test_streaming_series_to_frames(spark, tmp_path):
    from atsc_spark.streaming import stream_series_to_frames

    inp = str(tmp_path / "incoming")
    store = str(tmp_path / "store")
    t = transcripts(spark, n_convs=25, window_days=1)
    t.write.mode("overwrite").parquet(inp)

    q = stream_series_to_frames(spark, inp, store)
    q.awaitTermination(120)
    series = spark.read.parquet(f"{store}/series_stream")
    frames = spark.read.parquet(f"{store}/frames_stream")
    assert series.count() > 0
    assert frames.count() > 0
    # decoded stream frames reproduce the streamed series values
    from atsc_spark.frames import decode_frames

    decoded = decode_frames(frames)
    a = series.orderBy("conv_id", "metric", "bucket_ts").toPandas()
    b = decoded.orderBy("conv_id", "metric", "bucket_ts").toPandas()
    assert len(a) == len(b)


def test_streaming_watermark_drops_late_data(spark, tmp_path):
    """The VSRI append-only contract, streaming edition: once the
    watermark has passed a bucket, a late turn for that bucket is
    dropped — history is never rewritten (no duplicate emission, no
    changed aggregate)."""
    import pandas as pd

    from atsc_spark.streaming import stream_series_to_frames

    inp = tmp_path / "in"
    store = tmp_path / "store"
    inp.mkdir()

    def write_batch(name, rows):
        pdf = pd.DataFrame(
            rows, columns=["conv_id", "turn_idx", "role", "text", "tool", "ts"]
        )
        pdf["ts"] = pd.to_datetime(pdf["ts"])
        spark.createDataFrame(
            pdf,
            "conv_id string, turn_idx int, role string, text string, tool string, ts timestamp",
        ).coalesce(1).write.mode("overwrite").parquet(str(inp / name))

    base = "2024-01-01 00:00:"
    # batch 1: three turns in the 00:00:00 bucket, then one far ahead
    # (advances the watermark well past that bucket)
    write_batch(
        "b1",
        [
            ("c1", 0, "user", "hello", None, base + "00"),
            ("c1", 1, "assistant", "hi", None, base + "05"),
            ("c1", 2, "user", "ok", None, base + "15"),
            ("c1", 3, "assistant", "done", None, "2024-01-01 01:00:00"),
        ],
    )
    q = stream_series_to_frames(
        spark, str(inp) + "/*", str(store), bucket="20 seconds", watermark="2 minutes"
    )
    q.awaitTermination(120)

    out = spark.read.parquet(str(store / "series_stream"))
    first = {
        (r.metric, str(r.bucket_ts)): r.value
        for r in out.filter("conv_id = 'c1'").collect()
        if str(r.bucket_ts).endswith("00:00:00")
    }
    assert first[("turn_rate", "2024-01-01 00:00:00")] == 3.0

    # batch 2: a LATE turn for the already-final 00:00:00 bucket
    write_batch("b2", [("c1", 9, "user", "late!!", None, base + "10")])
    q2 = stream_series_to_frames(
        spark, str(inp) + "/*", str(store), bucket="20 seconds", watermark="2 minutes"
    )
    q2.awaitTermination(120)

    out2 = spark.read.parquet(str(store / "series_stream"))
    rows = out2.filter(
        "conv_id = 'c1' AND metric = 'turn_rate' "
        "AND cast(bucket_ts as string) = '2024-01-01 00:00:00'"
    ).collect()
    # exactly one emission, value unchanged: the late turn was dropped
    assert len(rows) == 1 and rows[0].value == 3.0


def test_stream_transcripts_to_store_and_age(spark, tmp_path):
    """Continuous ingestion e2e: streamed transcripts land in the raw
    tier (watermark-closed buckets only), a restart with MORE files
    appends without re-reading processed ones (checkpoint offsets),
    and a retention pass then ages the streamed data normally."""
    from datetime import date

    from atsc_spark.retention import TieredStore, TierPolicy
    from atsc_spark.streaming import stream_transcripts_to_store

    inp = str(tmp_path / "incoming")
    store = TieredStore(
        spark,
        str(tmp_path / "store"),
        TierPolicy(t0_days=0, t1_days=10000, t2_days=20000, t3_days=30000),
    )
    t1 = transcripts(spark, n_convs=10, window_days=1)
    t1.write.mode("overwrite").parquet(inp)

    q = stream_transcripts_to_store(spark, inp, store)
    q.awaitTermination(120)
    n1 = store.read_series().count()
    assert n1 > 0

    # restart with additional files: only the new data is processed
    t2 = transcripts(spark, n_convs=10, window_days=1, seed=99)
    t2.write.mode("append").parquet(inp)
    q2 = stream_transcripts_to_store(spark, inp, store)
    q2.awaitTermination(120)
    n2 = store.read_series().count()
    assert n2 > n1

    # third run with nothing new: no duplicates appended
    q3 = stream_transcripts_to_store(spark, inp, store)
    q3.awaitTermination(120)
    assert store.read_series().count() == n2

    # the streamed raw tier ages through retention like batch data
    moves = store.retention_pass(date(2024, 6, 1))
    assert moves and all(t == "tier0" for _, t in moves)
    assert store.read_series().count() == n2


def test_stream_to_store_replayed_batch_skipped_by_marker(spark, tmp_path):
    """Simulated foreachBatch replay: wiping the checkpoint (so batch 0
    re-runs with the same batch_id) while keeping the _stream_batches
    markers must NOT duplicate rows in the raw tier."""
    from atsc_spark.retention import TieredStore, TierPolicy
    from atsc_spark.streaming import stream_transcripts_to_store

    inp = str(tmp_path / "in")
    store = TieredStore(
        spark,
        str(tmp_path / "store"),
        TierPolicy(t0_days=10000, t1_days=20000, t2_days=30000, t3_days=40000),
    )
    transcripts(spark, n_convs=8, window_days=1).write.mode("overwrite").parquet(inp)
    q = stream_transcripts_to_store(spark, inp, store)
    q.awaitTermination(120)
    n = store.read_series().count()
    assert n > 0

    # wipe the checkpoint: the next run replays from offset zero with
    # the same batch ids — exactly the crash-replay shape
    import shutil

    shutil.rmtree(f"{store.base}/_stream_checkpoint")
    q2 = stream_transcripts_to_store(spark, inp, store)
    q2.awaitTermination(120)
    assert store.read_series().count() == n  # markers skipped the replay
