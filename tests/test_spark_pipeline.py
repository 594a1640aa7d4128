"""End-to-end Spark pipeline tests: transcripts -> series -> frames ->
decode, plus the per-row invariant from BASELINE.json (per-turn text
equality under stable (conv_id, turn_idx) ordering)."""

import numpy as np
import pandas as pd
import pytest

from atsc_spark.fixtures import transcripts
from atsc_spark.frames import (
    compression_report,
    decode_frames,
    fit_frames,
    segments_to_ts,
    time_segments,
)
from atsc_spark.series import derive_series


@pytest.fixture(scope="module")
def small_transcripts(spark):
    df = transcripts(spark, n_convs=60, window_days=2, seed=42)
    df.cache()
    df.count()
    return df


def test_transcripts_shape(small_transcripts):
    df = small_transcripts
    assert df.columns == ["conv_id", "turn_idx", "role", "text", "tool", "ts"]
    n = df.count()
    assert n >= 120  # every conv has >= 2 turns
    # turn_idx dense & unique per conv
    from pyspark.sql import functions as F

    bad = (
        df.groupBy("conv_id")
        .agg(
            F.count("*").alias("n"),
            F.countDistinct("turn_idx").alias("d"),
            (F.max("turn_idx") + 1).alias("m"),
        )
        .filter("n != d or n != m")
        .count()
    )
    assert bad == 0


def test_transcripts_deterministic(spark):
    a = transcripts(spark, n_convs=10, seed=42).orderBy("conv_id", "turn_idx").collect()
    b = transcripts(spark, n_convs=10, seed=42).orderBy("conv_id", "turn_idx").collect()
    assert a == b


def test_timestamps_strictly_increasing(small_transcripts):
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    w = Window.partitionBy("conv_id").orderBy("turn_idx")
    df = small_transcripts.withColumn("prev", F.lag("ts").over(w))
    assert df.filter("prev is not null and ts <= prev").count() == 0


def test_per_turn_text_invariant(small_transcripts, tmp_path):
    """BASELINE.json per-row invariant: after a pipeline pass (write to
    the raw tier and read back), per-turn text is equal under stable
    (conv_id, turn_idx) ordering."""
    path = str(tmp_path / "raw_tier")
    small_transcripts.write.mode("overwrite").parquet(path)
    back = small_transcripts.sparkSession.read.parquet(path)
    a = small_transcripts.orderBy("conv_id", "turn_idx").select("text").toPandas()
    b = back.orderBy("conv_id", "turn_idx").select("text").toPandas()
    pd.testing.assert_frame_equal(a, b)


def test_time_segments_roundtrip():
    from atsc_spark.frames import time_segment_arrays

    ts = np.array([0, 20, 40, 60, 200, 220, 240, 500], dtype=np.int64)
    m, y0, n = time_segment_arrays(ts)
    assert segments_to_ts(m, y0, n).tolist() == ts.tolist()
    # constant cadence -> exactly one segment
    regular = np.arange(0, 86400, 20, dtype=np.int64)
    m, y0, n = time_segment_arrays(regular)
    assert len(m) == 1 and n[0] == len(regular)
    assert segments_to_ts(m, y0, n).tolist() == regular.tolist()
    # dict view still matches
    assert time_segments(ts)[0] == {"interval_s": 20, "start_ts": 0, "n": 4}


def test_series_frames_roundtrip(spark, small_transcripts):
    series = derive_series(small_transcripts, bucket="20 seconds")
    frames = fit_frames(series, max_error=0.03)
    frames.cache()
    decoded = decode_frames(frames)

    orig = series.toPandas().sort_values(["conv_id", "metric", "bucket_ts"]).reset_index(drop=True)
    got = decoded.toPandas().sort_values(["conv_id", "metric", "bucket_ts"]).reset_index(drop=True)

    assert len(orig) == len(got)
    # timestamps reconstruct exactly from the VSRI-style segments
    pd.testing.assert_series_equal(orig["bucket_ts"], got["bucket_ts"])
    assert (orig["conv_id"] == got["conv_id"]).all()
    # MAPE per series within the bound (lossless fallbacks are exact)
    o = orig["value"].to_numpy()
    g = got["value"].to_numpy()
    mape = np.abs((g - o) / o)
    assert np.nanmean(mape) <= 0.03 + 1e-9

    report = compression_report(frames).toPandas()
    assert (report["max_error"].fillna(0) <= 0.03 + 1e-9).all()
    frames.unpersist()


def test_fit_frames_error_zero_exact(spark, small_transcripts):
    series = derive_series(small_transcripts, bucket="20 seconds", include_global=False)
    frames = fit_frames(series, max_error=0.0)
    decoded = decode_frames(frames)
    orig = series.toPandas().sort_values(["conv_id", "metric", "bucket_ts"]).reset_index(drop=True)
    got = decoded.toPandas().sort_values(["conv_id", "metric", "bucket_ts"]).reset_index(drop=True)
    assert np.array_equal(orig["value"].to_numpy(), got["value"].to_numpy())


def test_quantize_relative_bound(spark):
    """Log-bucket quantization: |v' - v| <= rel_err * |v|, zero exact,
    sign preserved — the lever that lets noisy series spend the ATSC
    error budget on run creation before an exact RLE fit."""
    import numpy as np
    from atsc_spark.frames import quantize_relative

    rng = np.random.default_rng(9)
    vals = np.concatenate(
        [
            rng.normal(0, 100, 500),
            rng.lognormal(0, 4, 500),
            -rng.lognormal(0, 4, 500),
            [0.0, 1e-300, -1e-300, 1e300],
        ]
    )
    df = spark.createDataFrame(
        [(float(v),) for v in vals], "value double"
    )
    q = 0.0296
    out = quantize_relative(df, q).toPandas()["value"].to_numpy()
    nz = vals != 0.0
    rel = np.abs(out[nz] - vals[nz]) / np.abs(vals[nz])
    assert rel.max() <= q + 1e-12, rel.max()
    assert np.all(out[vals == 0.0] == 0.0)
    assert np.all(np.sign(out) == np.sign(vals))
    # noise collapses to few distinct levels (the run-creation property)
    tight = rng.normal(1000, 5, 1000)
    df2 = spark.createDataFrame([(float(v),) for v in tight], "value double")
    out2 = quantize_relative(df2, q).toPandas()["value"].to_numpy()
    assert len(np.unique(out2)) < 10


@pytest.mark.parametrize(
    "compressor,digest",
    [
        # batched cross-frame tournament (auto, speed 0)
        ("auto", "af2b3329eeb75eba4f968671aee57d34eebe156f95987c6459a75446a5493aa4"),
        # per-frame path (one fixed compressor)
        ("fft", "04aa6def398da3442ffa2efa132be68646d10da4db8e952dce05436b0fb16374"),
    ],
)
def test_fit_paths_frame_rows_pinned(spark, compressor, digest):
    """Both fit paths' FRAME_SCHEMA rows, pinned: a sha256 over the
    sorted rows of a monitoring corpus with NaN/inf samples plus
    transcript series."""
    import hashlib

    from pyspark.sql import functions as F

    from atsc_spark.fixtures import monitoring_series

    mon = monitoring_series(spark, n_series=3, samples_per_series=5000)
    h = F.hash("bucket_ts", "conv_id")
    mon = mon.withColumn(
        "value",
        F.when(h % 97 == 0, F.lit(float("nan")))
        .when(h % 101 == 0, F.lit(float("inf")))
        .otherwise(F.col("value")),
    )
    tr = derive_series(transcripts(spark, n_convs=12, window_days=1))
    series = mon.unionByName(tr.select(*mon.columns))
    rows = sorted(
        (tuple(r) for r in fit_frames(series, 0.02, compressor).collect()),
        key=lambda t: (t[0], t[1], str(t[2]), t[3]),
    )
    sha = hashlib.sha256()
    for r in rows:
        sha.update(repr(tuple(bytes(x) if isinstance(x, bytearray) else x for x in r)).encode())
    assert sha.hexdigest() == digest
