"""Streaming ingest tests (stateful per-conversation state, streamed
series to frames, the watermark append-only contract, and streamed
transcripts landing in the tiered store) and the PNG/GIF codec tests."""

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


# ------------------------------------------ PNG / GIF codecs


def test_png_decode_roundtrip_all_filters():
    """Real PNG decode (stdlib zlib + numpy unfilter): the encoder
    cycles all five filter types row by row, so every unfilter branch
    (None/Sub/Up/Average/Paeth) is exercised by real bytes."""
    import numpy as np
    from atsc_spark.datapipe.multimodal import decode_png, encode_png

    rng = np.random.default_rng(1)
    for h, w in [(1, 1), (5, 7), (16, 16), (33, 9)]:
        px = rng.integers(0, 256, size=(h, w, 3), dtype=np.uint8)
        assert np.array_equal(decode_png(encode_png(px, filter_mix=True)), px)
        assert np.array_equal(decode_png(encode_png(px, filter_mix=False)), px)
    # smooth gradients (the case filters actually compress)
    grad = np.stack(
        [np.add.outer(np.arange(32), np.arange(32)) % 256] * 3, axis=2
    ).astype(np.uint8)
    assert np.array_equal(decode_png(encode_png(grad)), grad)


def test_png_color_types():
    """Gray / palette / gray+alpha / RGBA variants decode to (h,w,3)."""
    import struct
    import zlib

    import numpy as np
    from atsc_spark.datapipe.multimodal import _PNG_SIG, decode_png

    def chunk(ctype, body):
        return struct.pack(">I", len(body)) + ctype + body + struct.pack(
            ">I", zlib.crc32(ctype + body)
        )

    def build(w, h, color, raw_rows, plte=None):
        ihdr = struct.pack(">IIBBBBB", w, h, 8, color, 0, 0, 0)
        out = _PNG_SIG + chunk(b"IHDR", ihdr)
        if plte is not None:
            out += chunk(b"PLTE", plte)
        return out + chunk(b"IDAT", zlib.compress(raw_rows)) + chunk(b"IEND", b"")

    # gray 2x2 (filter 0 rows)
    g = build(2, 2, 0, b"\x00\x0a\x14\x00\x1e\x28")
    assert decode_png(g).tolist() == [[[10] * 3, [20] * 3], [[30] * 3, [40] * 3]]
    # palette: index row -> PLTE colors
    p = build(2, 1, 3, b"\x00\x00\x01", bytes([255, 0, 0, 0, 255, 0]))
    assert decode_png(p).tolist() == [[[255, 0, 0], [0, 255, 0]]]
    # gray+alpha: alpha dropped
    ga = build(2, 1, 4, b"\x00\x0a\xff\x14\x80")
    assert decode_png(ga).tolist() == [[[10] * 3, [20] * 3]]
    # RGBA: alpha dropped
    rgba = build(1, 1, 6, b"\x00\x01\x02\x03\xff")
    assert decode_png(rgba).tolist() == [[[1, 2, 3]]]


def test_png_committed_fixture():
    """Committed .png fixture decodes to the committed pixel array —
    the parity anchor is on disk, not regenerated by the encoder under
    test."""
    import os

    import numpy as np
    from atsc_spark.datapipe.multimodal import decode_png

    base = os.path.join(os.path.dirname(__file__), "fixtures")
    blob = open(os.path.join(base, "gradient_24x32.png"), "rb").read()
    expected = np.load(os.path.join(base, "gradient_24x32_pixels.npy"))
    assert np.array_equal(decode_png(blob), expected)


def _gif_fixture_path():
    import os

    return os.path.join(os.path.dirname(__file__), "fixtures", "anim_24x32.gif")


def test_gif_roundtrip_and_clear_cadence():
    """encode_gif -> decode_gif is pixel-exact, including a frame large
    enough to exercise the periodic-CLEAR width bookkeeping (the
    encoder simulates the decoder's table growth; an off-by-one there
    corrupts the read width for every conformant decoder)."""
    import numpy as np

    from atsc_spark.datapipe.multimodal import decode_gif, encode_gif

    rng = np.random.default_rng(5)
    pal = rng.integers(0, 256, (7, 3), dtype=np.uint8)
    frames = pal[rng.integers(0, 7, (3, 24, 32))]
    dec, delays = decode_gif(encode_gif(frames, [100, 50, 200]))
    assert np.array_equal(dec, frames)
    assert delays == [100, 50, 200]

    big = pal[rng.integers(0, 7, (1, 64, 64))]  # > 766 literals -> CLEARs
    dec2, _ = decode_gif(encode_gif(big))
    assert np.array_equal(dec2, big)


def test_gif_committed_fixture():
    """The committed .gif decodes to the pinned per-frame digests —
    catches silent decoder drift."""
    import hashlib

    from atsc_spark.datapipe.multimodal import decode_gif

    blob = open(_gif_fixture_path(), "rb").read()
    frames, delays = decode_gif(blob)
    assert frames.shape == (2, 24, 32, 3) and delays == [100, 100]
    assert hashlib.sha256(frames[0].tobytes()).hexdigest()[:16] == "871c96d2a6efded1"
    assert hashlib.sha256(frames[1].tobytes()).hexdigest()[:16] == "9c69d2a24572406c"


def test_gif_gce_state_does_not_leak_across_frames():
    """GIF89a: a graphic control extension applies only to the NEXT
    rendering block.  Frame 1 carries a transparency GCE; frame 2 has
    its GCE surgically removed — frame 2 must render its own pixels
    fully opaque instead of punching frame-1 pixels through."""
    import numpy as np

    from atsc_spark.datapipe.multimodal import decode_gif, encode_gif

    # two solid frames of different palette entries
    f1 = np.full((8, 8, 3), [10, 20, 30], dtype=np.uint8)
    f2 = np.full((8, 8, 3), [200, 100, 50], dtype=np.uint8)
    blob = bytearray(encode_gif(np.stack([f1, f2]), [100, 100]))

    # encoder layout: per frame GCE = 21 F9 04 flags delay(2) tindex 00
    gce_positions = []
    i = 0
    while True:
        j = blob.find(b"\x21\xf9\x04", i)
        if j < 0:
            break
        gce_positions.append(j)
        i = j + 1
    assert len(gce_positions) == 2
    # frame 1: transparency ON for the palette index frame 2 uses
    pal_idx_f2 = 1 if tuple(f1[0, 0]) < tuple(f2[0, 0]) else 0
    blob[gce_positions[0] + 3] |= 1
    blob[gce_positions[0] + 6] = pal_idx_f2
    # frame 2: remove its GCE entirely (8 bytes)
    del blob[gce_positions[1] : gce_positions[1] + 8]

    frames, _ = decode_gif(bytes(blob))
    assert np.array_equal(frames[1], f2), "stale transparency leaked into frame 2"
