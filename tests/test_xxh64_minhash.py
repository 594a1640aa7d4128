"""Round-8 optimization guards: the vectorized NumPy XXH64 port and
the Arrow minhash-signature kernel must stay bit-identical to Spark's
``xxhash64`` / the JVM expression formulation they replaced."""

from __future__ import annotations

import random

import numpy as np
import pytest
from pyspark.sql import functions as F

from atsc_spark.datapipe import dedup
from atsc_spark.datapipe.xxh64 import (
    spark_xxhash64_long_int,
    spark_xxhash64_string_fixed,
)


def test_xxh64_string_matches_spark(spark):
    rng = random.Random(11)
    for L in [0, 1, 3, 4, 5, 7, 8, 9, 12, 16, 20, 31, 32, 33, 40, 64, 100]:
        ss = [
            "".join(chr(rng.randint(32, 126)) for _ in range(L)) for _ in range(25)
        ]
        exp = [
            r.h
            for r in spark.createDataFrame([(s,) for s in ss], "s string")
            .select(F.xxhash64("s").alias("h"))
            .collect()
        ]
        mat = (
            np.frombuffer("".join(ss).encode("ascii"), dtype=np.uint8).reshape(
                len(ss), L
            )
            if L
            else np.zeros((len(ss), 0), np.uint8)
        )
        assert list(spark_xxhash64_string_fixed(mat, L)) == exp


def test_xxh64_long_int_chain_matches_spark(spark):
    rng = random.Random(12)
    hs = np.array(
        [rng.randint(-(2**63), 2**63 - 1) for _ in range(64)], dtype=np.int64
    )
    seeds = list(range(8))
    rows = (
        spark.createDataFrame([(int(h),) for h in hs], "h long")
        .select(*[F.expr(f"xxhash64(h, {s})").alias(f"x{s}") for s in seeds])
        .collect()
    )
    exp = np.array([[r[f"x{s}"] for r in rows] for s in seeds], dtype=np.int64)
    got = spark_xxhash64_long_int(hs, np.array(seeds))
    assert np.array_equal(got, exp)


@pytest.mark.parametrize("nh,k", [(32, 5), (8, 3)])
def test_minhash_arrow_equals_sql(spark, nh, k):
    rng = random.Random(3)
    texts = [
        "", "a", "abcd", "abcde", "abcdef", None,
        "héllo wörld with ünïcode", "\U0001F600" * 10, "x" * 4 + "é",
        "same same same same same", " lead trail ",
    ]
    for _ in range(120):
        L = rng.randint(0, 60)
        alpha = "ab cdef" if rng.random() < 0.5 else "abé 漢字"
        texts.append("".join(rng.choice(alpha) for _ in range(L)))
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    a = dedup.minhash_signatures(
        df, num_hashes=nh, shingle_k=k, impl="sql"
    ).orderBy("doc_id").collect()
    b = dedup.minhash_signatures(
        df, num_hashes=nh, shingle_k=k, impl="arrow"
    ).orderBy("doc_id").collect()
    assert [(r.doc_id, r.sig) for r in a] == [(r.doc_id, r.sig) for r in b]


def test_minhash_kernel_batch_byte_budget(monkeypatch):
    """A mega-document batch run under a forced-small byte budget is cut
    into several slices and gives byte-identical signatures to the
    unsliced call (ASCII, short and non-ASCII documents alike)."""
    import pyarrow as pa

    from atsc_spark.datapipe import quality

    mega = "lorem ipsum dolor sit amet " * 800
    texts = ["abc", mega, "héllo wörld ünïcode", "", mega + "tail", "x y z w v", "ab"]
    arr = pa.array(texts, type=pa.string())
    base = dedup._minhash_sig_kernel(arr, 16, 5)

    real = quality.arrow_byte_slices
    seen = []

    def spy(text, budget):
        seen.append(real(text, budget))
        return seen[-1]

    monkeypatch.setattr(dedup, "MINHASH_BATCH_BYTE_BUDGET", 5_000)
    monkeypatch.setattr(quality, "arrow_byte_slices", spy)
    sliced = dedup._minhash_sig_kernel(arr, 16, 5)
    # the batch was cut, and the kernel ran once more per slice
    assert len(seen[0]) > 1 and len(seen) == 1 + len(seen[0])
    assert sliced.tobytes() == base.tobytes()
