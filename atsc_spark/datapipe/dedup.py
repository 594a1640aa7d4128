"""Deduplication operators: exact, MinHash+LSH, SimHash, n-gram
Jaccard, embedding-cosine near-dup.

Scale design:
- Exact dedup is a hash groupBy — one shuffle on the digest, map-side
  partial agg; at 100 TB this is the cheapest possible formulation.
- MinHash/LSH avoids the O(n^2) pairwise explosion: shingles ->
  xxhash64 minhash signatures (JVM-side `transform`/`array_min`, no
  Python) -> band buckets -> self-join *within buckets only*.
- SimHash: 64-bit signature from token hashes; near-dups are Hamming
  neighbours; banded by 16-bit chunks for candidate generation.
- Embedding cosine near-dup blocks on a label column or on
  multi-table hyperplane-LSH buckets before the exact cosine check.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# ------------------------------------------------------------- exact


def dedup_exact(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Exact duplicate groups: (text_hash, n_docs, keep_doc_id)."""
    return (
        docs.select(F.md5(F.col(text_col)).alias("text_hash"), "doc_id")
        .groupBy("text_hash")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.min("doc_id").alias("keep_doc_id"),
        )
    )


def dedup_exact_survivors(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Documents surviving exact dedup (min doc_id per digest)."""
    w = dedup_exact(docs, text_col).select(F.col("keep_doc_id").alias("doc_id"))
    return w


# ----------------------------------------------------------- minhash

#: per-batch text-byte budget for the Arrow minhash kernel: batches
#: above it run as independent sub-slices (``quality.arrow_byte_slices``).
#: The kernel's peak NumPy working memory measures ~93 B per text byte
#: (tracemalloc, 3 MB ASCII batch, 32 hashes, k=5: the (S, k) window
#: matrix and per-seed int64 hash arrays), so 16 MB bounds it near
#: 1.5 GB — the same bound as the Gopher kernel's 64 MB budget at
#: ~22 B per byte.  Arrow-pool allocations are not traced, so both
#: figures are floors.
MINHASH_BATCH_BYTE_BUDGET = 16 << 20


def _spread(docs: DataFrame) -> DataFrame:
    """Ensure the hash-heavy projections below actually parallelize: a
    small corpus often arrives as one parquet split, and a single
    partition serializes 10^7+ JVM hash calls onto one core.  No-op
    when the input already has enough file splits (the 100 TB case).

    Uses ``inputFiles()`` (pure metadata) rather than
    ``df.rdd.getNumPartitions()``, which forces an RDD conversion of
    the whole plan just to read a number."""
    sc = docs.sparkSession.sparkContext
    try:
        n_files = len(docs.inputFiles())
    except Exception:
        n_files = 0
    if n_files < sc.defaultParallelism:
        return docs.repartition(sc.defaultParallelism)
    return docs


def _shingles(text_col: str, k: int = 5):
    """Character k-gram shingle array (JVM-side)."""
    # positions 1..len-k+1
    return F.expr(
        f"transform(sequence(1, greatest(length({text_col}) - {k - 1}, 1)),"
        f" i -> substring({text_col}, i, {k}))"
    )


def _minhash_sig_kernel(
    text_arr, num_hashes: int, k: int
) -> np.ndarray:
    """Minhash signatures for a NON-NULL Arrow string array — shape
    (len(text_arr), num_hashes) int64, bit-identical to the JVM
    expression ``array_min(transform(shingle_hashes, h ->
    xxhash64(h, seed)))`` (pinned in tests via the ``impl="sql"``
    path).  Strategy: ASCII documents take the vectorized path (byte
    windows gathered into an (S, k) matrix, one :mod:`xxh64` pass per
    chunk position); the rare non-ASCII document falls back to
    per-document Python shingling — substring() operates on CODE
    POINTS, so byte windows would mis-slice multibyte text.
    """
    import pyarrow as pa
    import pyarrow.compute as pc

    from .quality import arrow_byte_slices
    from .xxh64 import (
        _SPARK_SEED,
        hash_bytes_fixed,
        hash_int,
        hash_long,
    )

    D = len(text_arr)
    seeds = np.arange(num_hashes, dtype=np.int64)
    sig = np.empty((D, num_hashes), dtype=np.int64)
    if D == 0:
        return sig
    slices = arrow_byte_slices(text_arr, int(MINHASH_BATCH_BYTE_BUDGET))
    if len(slices) > 1:
        for lo, hi in slices:
            sig[lo:hi] = _minhash_sig_kernel(text_arr.slice(lo, hi - lo), num_hashes, k)
        return sig
    bin_arr = text_arr.cast(pa.binary())
    if isinstance(bin_arr, pa.ChunkedArray):
        bin_arr = bin_arr.combine_chunks()
    off = np.frombuffer(bin_arr.buffers()[1], dtype=np.int32)[
        bin_arr.offset : bin_arr.offset + D + 1
    ].astype(np.int64)
    data = np.frombuffer(bin_arr.buffers()[2], dtype=np.uint8)
    blen = np.diff(off)
    cplen = pc.utf8_length(text_arr).to_numpy(zero_copy_only=False).astype(np.int64)
    ascii_ok = blen == cplen

    def _min_sig_full(rows: np.ndarray) -> None:
        """ASCII docs with >= k bytes: full-k sliding byte windows."""
        n_sh = blen[rows] - k + 1
        starts = np.repeat(off[rows], n_sh)
        within = np.arange(int(n_sh.sum()), dtype=np.int64) - np.repeat(
            np.concatenate([[0], np.cumsum(n_sh)[:-1]]), n_sh
        )
        pos = starts + within
        mat = data[pos[:, None] + np.arange(k, dtype=np.int64)[None, :]]
        h1 = hash_bytes_fixed(mat, k)
        g = hash_long(h1.view(np.int64), _SPARK_SEED)
        seg = np.concatenate([[0], np.cumsum(n_sh)[:-1]])
        for j in range(num_hashes):
            hj = hash_int(np.full(len(g), seeds[j], dtype=np.int64), g).view(np.int64)
            sig[rows, j] = np.minimum.reduceat(hj, seg)

    def _sig_single(rows: np.ndarray, length: int) -> None:
        """ASCII docs shorter than k bytes: ONE shingle = whole text."""
        mat = data[off[rows][:, None] + np.arange(length, dtype=np.int64)[None, :]]
        h1 = hash_bytes_fixed(mat, length)
        g = hash_long(h1.view(np.int64), _SPARK_SEED)
        for j in range(num_hashes):
            sig[rows, j] = hash_int(
                np.full(len(g), seeds[j], dtype=np.int64), g
            ).view(np.int64)

    full = np.flatnonzero(ascii_ok & (blen >= k))
    if full.size:
        _min_sig_full(full)
    for length in np.unique(blen[ascii_ok & (blen < k)]):
        rows = np.flatnonzero(ascii_ok & (blen == length))
        _sig_single(rows, int(length))
    # non-ASCII fallback: code-point shingling per document
    for d in np.flatnonzero(~ascii_ok):
        t = text_arr[int(d)].as_py()
        shingles = [t[i : i + k] for i in range(max(len(t) - k + 1, 1))]
        by_len: dict[int, list[bytes]] = {}
        order: list[tuple[int, int]] = []  # (len, idx within cohort)
        for s in shingles:
            b = s.encode("utf-8")
            lst = by_len.setdefault(len(b), [])
            order.append((len(b), len(lst)))
            lst.append(b)
        g_parts: list[np.ndarray] = []
        for length, bs in by_len.items():
            mat = np.frombuffer(b"".join(bs), dtype=np.uint8).reshape(len(bs), length)
            h1 = hash_bytes_fixed(mat, length)
            g_parts.append(hash_long(h1.view(np.int64), _SPARK_SEED))
        keys = {length: i for i, length in enumerate(by_len)}
        g = np.concatenate(
            [
                g_parts[keys[length]][idx : idx + 1]
                for length, idx in order
            ]
        )
        for j in range(num_hashes):
            sig[d, j] = (
                hash_int(np.full(len(g), seeds[j], dtype=np.int64), g)
                .view(np.int64)
                .min()
            )
    return sig


def minhash_signatures(
    docs: DataFrame,
    text_col: str = "text",
    num_hashes: int = 32,
    shingle_k: int = 5,
    impl: str = "arrow",
) -> DataFrame:
    """(doc_id, sig array<bigint>) — minhash over char shingles.

    Each hash function is xxhash64(shingle, seed_i); the signature
    component is the array_min of hashed shingles.  Two pinned-
    identical implementations:

    - ``impl="arrow"`` (default, r8): one ``mapInArrow`` pass through
      the vectorized NumPy XXH64 port (:mod:`.xxh64`, bit-exact with
      Spark's hash — see there).  The JVM formulation evaluates
      ``num_hashes`` interpreted higher-order lambdas per shingle
      (~300M lambda evals on the sf1.0 corpus); the kernel hashes each
      shingle's bytes once and derives every seed with two fused u64
      passes, ~2.5x the end-to-end throughput.
    - ``impl="sql"``: the pure-JVM transform/array_min expression —
      zero Python, kept as the cross-check oracle for the kernel.
    """
    if impl == "sql":
        # hash each shingle string ONCE, then derive the k signature
        # components by re-hashing the 8-byte value — ~k times cheaper
        # than hashing the string per seed
        base = _spread(docs).select(
            "doc_id", _shingles(text_col, shingle_k).alias("sh")
        ).select("doc_id", F.expr("transform(sh, s -> xxhash64(s))").alias("hs"))
        sig_cols = [
            F.array_min(
                F.expr(f"transform(hs, h -> xxhash64(h, {seed}))")
            ).alias(f"h{seed}")
            for seed in range(num_hashes)
        ]
        return base.select("doc_id", F.array(*sig_cols).alias("sig"))
    if impl != "arrow":
        raise ValueError(f"impl must be 'arrow' or 'sql', got {impl!r}")

    from pyspark.sql.types import ArrayType, LongType, StructField, StructType

    src = _spread(docs).select("doc_id", text_col)
    schema = StructType(
        [src.schema["doc_id"], StructField("sig", ArrayType(LongType()), True)]
    )

    def run(batches):
        import pyarrow as pa
        import pyarrow.compute as pc

        for rb in batches:
            tcol = rb.column(1)
            offsets = pa.array(
                np.arange(0, (len(rb) + 1) * num_hashes, num_hashes, dtype=np.int32)
            )
            if tcol.null_count:
                # the JVM expression hashes a NULL field as a no-op
                # (hash stays at the seed), so a null text yields the
                # CONSTANT signature of h1 = 42 — replicate exactly
                valid = pc.is_valid(tcol)
                null = np.invert(valid.to_numpy(zero_copy_only=False))
                sig = _minhash_sig_kernel(
                    tcol.filter(valid), num_hashes, shingle_k
                )
                from .xxh64 import _SPARK_SEED, hash_int, hash_long

                g42 = hash_long(np.array([42], dtype=np.int64), _SPARK_SEED)
                null_row = np.concatenate(
                    [
                        hash_int(np.array([j], dtype=np.int64), g42).view(np.int64)
                        for j in range(num_hashes)
                    ]
                )
                flat = np.empty((len(rb), num_hashes), dtype=np.int64)
                flat[null] = null_row
                flat[~null] = sig
                sig = flat
            else:
                sig = _minhash_sig_kernel(tcol, num_hashes, shingle_k)
            arr = pa.ListArray.from_arrays(
                offsets, pa.array(sig.ravel(), type=pa.int64())
            )
            yield pa.RecordBatch.from_arrays(
                [rb.column(0), arr], names=["doc_id", "sig"]
            )

    return src.mapInArrow(run, schema=schema)


def _cap_buckets(banded: DataFrame, keys: list[str], max_bucket: int | None) -> DataFrame:
    """Drop LSH buckets holding more than ``max_bucket`` members before
    the self-join.  A degenerate bucket (empty docs, boilerplate, an
    adversarial constant) is O(m^2) pairs — the one pattern that turns
    a bucketed join quadratic at 10^9 docs.  Dropped buckets are
    near-useless for dedup anyway (members are pairwise-"similar" to
    everything in them); the survivors bound every bucket's pair count
    by max_bucket^2."""
    if max_bucket is None:
        return banded
    ok = (
        banded.groupBy(*keys)
        .agg(F.count(F.lit(1)).alias("_n"))
        .filter(F.col("_n") <= max_bucket)
        .drop("_n")
    )
    return banded.join(ok, keys)


def lsh_bucket_report(banded: DataFrame, keys: list[str], max_bucket: int) -> DataFrame:
    """What a cap would drop: (bucket keys, n_members) over the cap.
    Run alongside a capped dedup so truncation is visible, not silent."""
    return (
        banded.groupBy(*keys)
        .agg(F.count(F.lit(1)).alias("n_members"))
        .filter(F.col("n_members") > max_bucket)
    )


def _band_pairs(banded: DataFrame) -> DataFrame:
    """Self-join (doc_id, band, bucket) rows within buckets only."""
    a = banded.alias("a")
    b = banded.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .agg(F.count(F.lit(1)).alias("n_bands_matched"))
    )


def minhash_lsh_candidates(
    docs: DataFrame,
    text_col: str = "text",
    num_hashes: int = 32,
    bands: int = 8,
    shingle_k: int = 5,
    max_bucket: int | None = 1000,
) -> DataFrame:
    """Candidate near-duplicate pairs via banded LSH:
    (doc_a, doc_b, n_bands_matched).

    rows_per_band = num_hashes / bands.  Only documents sharing a full
    band bucket are joined — the self-join runs per bucket, so shuffle
    volume is proportional to candidate count, not n^2 — and buckets
    over ``max_bucket`` members are dropped (see :func:`_cap_buckets`).
    """
    banded_plan = _banded_plan(docs, text_col, num_hashes, bands, shingle_k)
    banded = _cap_buckets(banded_plan, ["band", "bucket"], max_bucket)
    return _band_pairs(banded)


def _banded_plan(
    docs: DataFrame, text_col: str, num_hashes: int, bands: int, shingle_k: int
) -> DataFrame:
    """(doc_id, band, bucket) rows, signatures materialized once.

    Spark does not share a common subplan across the two sides of a
    self-join, so the (expensive) signature computation would run once
    per side plus once for the join build.  localCheckpoint
    materializes it once; at production scale this is "write the
    signatures table, then self-join it".
    """
    rows_per_band = num_hashes // bands
    sigs = minhash_signatures(docs, text_col, num_hashes, shingle_k)
    banded = sigs.select(
        "doc_id",
        F.posexplode(
            F.array(
                *[
                    F.xxhash64(
                        F.concat_ws(
                            ",",
                            *[
                                F.col("sig")[b * rows_per_band + r].cast("string")
                                for r in range(rows_per_band)
                            ],
                        )
                    )
                    for b in range(bands)
                ]
            )
        ).alias("band", "bucket"),
    )
    return banded.localCheckpoint(eager=False)


def lsh_scale_stats(
    docs: DataFrame,
    text_col: str = "text",
    num_hashes: int = 32,
    bands: int = 4,
    shingle_k: int = 5,
    max_bucket: int = 1000,
) -> dict:
    """Candidate growth + cap truncation for one corpus, made visible.

    Returns {n_docs, n_candidates, dropped_buckets, dropped_members}.
    Run at two corpus sizes to evidence near-linear candidate growth
    (the banded join is bounded by bucket membership, never all-pairs)
    and that truncation by :func:`_cap_buckets` is reported, not
    silent.
    """
    banded = _banded_plan(docs, text_col, num_hashes, bands, shingle_k)
    dropped = lsh_bucket_report(banded, ["band", "bucket"], max_bucket).agg(
        F.count(F.lit(1)).alias("buckets"), F.sum("n_members").alias("members")
    ).collect()[0]
    candidates = _band_pairs(
        _cap_buckets(banded, ["band", "bucket"], max_bucket)
    ).count()
    return {
        "n_docs": docs.count(),
        "n_candidates": int(candidates),
        "dropped_buckets": int(dropped.buckets or 0),
        "dropped_members": int(dropped.members or 0),
    }


# ------------------------------------------- verifiable (md5) variants
#
# Both Spark and DuckDB ship md5 over UTF-8 strings with identical hex
# output, so ``h(s) = first 15 hex chars of md5(s) as a 60-bit int`` is
# bit-identical across engines (xxhash64, the fast path above, exists
# only in Spark).  The graded queries use this hash family so the
# DuckDB oracle replays the exact pipeline; pipeline structure
# (shingle -> minhash -> band -> capped bucket join) is identical.

MD5_60 = "cast(conv(substr(md5({s}), 1, 15), 16, 10) as bigint)"


def minhash_signatures_md5(
    docs: DataFrame, text_col: str = "text", num_hashes: int = 16, shingle_k: int = 5
) -> DataFrame:
    """(doc_id, c0..c{n-1}) minhash signature columns, md5 family:
    component i = min over shingles of h('i:' + shingle)."""
    base = _spread(docs).select("doc_id", _shingles(text_col, shingle_k).alias("sh"))
    sig_cols = [
        F.array_min(
            F.expr(
                "transform(sh, s -> " + MD5_60.format(s=f"concat('{seed}:', s)") + ")"
            )
        ).alias(f"c{seed}")
        for seed in range(num_hashes)
    ]
    return base.select("doc_id", *sig_cols)


def minhash_lsh_candidates_md5(
    docs: DataFrame,
    text_col: str = "text",
    num_hashes: int = 16,
    bands: int = 4,
    shingle_k: int = 5,
    max_bucket: int | None = 100,
) -> DataFrame:
    """Banded-LSH candidate pairs with the cross-engine md5 hash family
    (bucket id = md5 of the comma-joined band components)."""
    rows_per_band = num_hashes // bands
    sigs = minhash_signatures_md5(docs, text_col, num_hashes, shingle_k)
    banded_plan = sigs.select(
        "doc_id",
        F.posexplode(
            F.array(
                *[
                    F.md5(
                        F.concat_ws(
                            ",",
                            *[
                                F.col(f"c{b * rows_per_band + r}").cast("string")
                                for r in range(rows_per_band)
                            ],
                        )
                    )
                    for b in range(bands)
                ]
            )
        ).alias("band", "bucket"),
    )
    banded = _cap_buckets(
        banded_plan.localCheckpoint(eager=False), ["band", "bucket"], max_bucket
    )
    return _band_pairs(banded)


# ------------------------------------------------------------ simhash


_LANE16 = 281479271743489  # 0x0001000100010001: one 16-bit field per lane


def _lane_fold(hash_arr_col: str) -> str:
    """SQL for ONE aggregate pass over a token-hash array packing
    bit-set counts into 16 longs of four 16-bit fields each (lane ``j``
    accumulates bits ``j, j+16, j+32, j+48``) — 16 adds per token
    instead of 64.  Fields saturate at 65535 tokens; callers guard with
    :func:`_bit_count_fold` beyond that."""
    return (
        f"aggregate({hash_arr_col}, array_repeat(0L, 16),"
        f" (acc, h) -> zip_with(acc, sequence(0, 15),"
        f" (l, j) -> l + ((h >> j) & {_LANE16}L)))"
    )


def _lane_unpack(lanes_col: str, n_bits: int) -> str:
    """SQL unpacking the packed lane counters back to a flat
    ``counts[0..n_bits)`` array (count of tokens with bit b set).

    ``lanes_col`` appears in ARGUMENT position of each transform, never
    inside a lambda body: a lambda-body column reference gets inlined
    by CollapseProject and re-evaluated per element — measured 15x
    slower with the whole token aggregate re-run per bit.  Multiple
    argument references stop the collapse, so the fold runs once."""
    return (
        "concat("
        + ", ".join(
            f"transform({lanes_col}, l -> (l >> {16 * k}) & 65535)"
            for k in range(n_bits // 16)
        )
        + ")"
    )


def _bit_count_fold(hash_arr_col: str, n_bits: int) -> str:
    """Unpacked counter fold (one add per bit per token) — the
    overflow-proof fallback for documents beyond 65535 tokens."""
    return (
        f"aggregate({hash_arr_col}, array_repeat(0L, {n_bits}),"
        f" (acc, h) -> zip_with(acc, sequence(0, {n_bits - 1}),"
        f" (a, b) -> a + ((h >> b) & 1)))"
    )


def _sign_pack(cnt_col: str, n_col: str, n_bits: int) -> str:
    """SQL packing bit-set counts into a signature: bit b is 1 iff the
    +-1 vote sum is positive, i.e. ``2*counts[b] > n_tokens``."""
    return (
        f"aggregate(zip_with({cnt_col}, sequence(0, {n_bits - 1}),"
        f" (c, b) -> IF(2 * c > {n_col}, shiftleft(1L, b), 0L)),"
        f" 0L, (acc, x) -> acc + x)"
    )


def simhash(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """64-bit SimHash per document: (doc_id, simhash long).

    For each of 64 bit positions, sum +1/-1 over token hashes and take
    the sign — all JVM-side.  ONE aggregate pass folds packed 16-bit
    lane counters (16 adds per token; ``vote_b > 0`` ⟺ ``2*count_b >
    n_tokens``), with the unpacked 64-counter fold as the fallback for
    >65535-token documents.  The previous formulation ran 64 separate
    aggregate() passes that each re-walked the whole token-hash array —
    measured 3.3x slower than the lane fold.  (A 255-token chunked SWAR
    byte-lane variant was measured 9x SLOWER than even that — slice()
    materializes each chunk.)
    """
    tokens = F.expr(f"transform(split({text_col}, ' '), t -> xxhash64(t))").alias("th")
    base = _spread(docs).select("doc_id", tokens)
    counted = base.select(
        "doc_id",
        F.expr("size(th)").alias("n_tok"),
        F.expr(
            f"CASE WHEN size(th) <= 65535 THEN {_lane_fold('th')} END"
        ).alias("lanes"),
        F.expr(
            f"CASE WHEN size(th) > 65535 THEN {_bit_count_fold('th', 64)} END"
        ).alias("cnt_big"),
    )
    packed = counted.select(
        "doc_id",
        "n_tok",
        F.expr(f"coalesce(cnt_big, {_lane_unpack('lanes', 64)})").alias("cnt"),
    )
    return packed.select(
        "doc_id", F.expr(_sign_pack("cnt", "n_tok", 64)).alias("simhash")
    )


def simhash_near_pairs(
    docs: DataFrame, max_hamming: int = 3, max_bucket: int | None = 1000
) -> DataFrame:
    """Near-duplicate pairs by SimHash: block on 16-bit chunks (a pair
    within Hamming distance 3 shares at least one of 4 chunks), then
    verify the exact Hamming distance via bit_count.

    Chunk buckets over ``max_bucket`` members are dropped before the
    self-join (65,536 buckets per chunk index saturate at ~10^9 docs;
    without a cap the join is quadratic within hot buckets)."""
    sh = simhash(docs)
    chunks = sh.select(
        "doc_id",
        "simhash",
        F.posexplode(
            F.array(
                *[
                    (F.shiftright("simhash", 16 * i).bitwiseAND(F.lit(0xFFFF))).cast("int")
                    for i in range(4)
                ]
            )
        ).alias("chunk_idx", "chunk"),
    )
    chunks = _cap_buckets(chunks, ["chunk_idx", "chunk"], max_bucket)
    a, b = chunks.alias("a"), chunks.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.chunk_idx") == F.col("b.chunk_idx"))
            & (F.col("a.chunk") == F.col("b.chunk"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.expr("bit_count(a.simhash ^ b.simhash)").alias("hamming"),
        )
        .distinct()
    )
    return cand.filter(F.col("hamming") <= max_hamming)


def simhash_md5(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Cross-engine-verifiable SimHash: (doc_id, simhash_hi, simhash_lo).

    The 64 bit positions come from two 32-bit halves of each token's
    md5 (hex chars 1-8 and 9-16), summed as +-1 votes; the signature is
    returned as two 32-bit non-negative longs so neither engine hits
    int64 sign issues at bit 63.  Same algorithm as :func:`simhash`,
    md5 hash family instead of xxhash64.
    """
    hi = "cast(conv(substr(md5(t), 1, 8), 16, 10) as bigint)"
    lo = "cast(conv(substr(md5(t), 9, 8), 16, 10) as bigint)"
    base = _spread(docs).select(
        "doc_id",
        F.expr(f"transform(split({text_col}, ' '), t -> {hi})").alias("th_hi"),
        F.expr(f"transform(split({text_col}, ' '), t -> {lo})").alias("th_lo"),
    )
    # same single-pass packed-lane fold as simhash(), one per 32-bit
    # half (hash values < 2^32, so only lane fields 0-1 accumulate)
    counted = base.select(
        "doc_id",
        F.expr("size(th_hi)").alias("n_tok"),
        F.expr(
            f"CASE WHEN size(th_hi) <= 65535 THEN {_lane_fold('th_hi')} END"
        ).alias("lanes_hi"),
        F.expr(
            f"CASE WHEN size(th_lo) <= 65535 THEN {_lane_fold('th_lo')} END"
        ).alias("lanes_lo"),
        F.expr(
            f"CASE WHEN size(th_hi) > 65535 THEN {_bit_count_fold('th_hi', 32)} END"
        ).alias("big_hi"),
        F.expr(
            f"CASE WHEN size(th_lo) > 65535 THEN {_bit_count_fold('th_lo', 32)} END"
        ).alias("big_lo"),
    )
    packed = counted.select(
        "doc_id",
        "n_tok",
        F.expr(f"coalesce(big_hi, {_lane_unpack('lanes_hi', 32)})").alias("cnt_hi"),
        F.expr(f"coalesce(big_lo, {_lane_unpack('lanes_lo', 32)})").alias("cnt_lo"),
    )
    return packed.select(
        "doc_id",
        F.expr(_sign_pack("cnt_hi", "n_tok", 32)).alias("simhash_hi"),
        F.expr(_sign_pack("cnt_lo", "n_tok", 32)).alias("simhash_lo"),
    )


# ----------------------------------------------- n-gram Jaccard


def ngram_jaccard_exact(
    docs: DataFrame,
    text_col: str = "text",
    n: int = 3,
    min_jaccard: float = 0.2,
    max_df: int = 100,
) -> DataFrame:
    """Exact word-n-gram Jaccard via an inverted-index join:
    (doc_a, doc_b, jaccard).

    Scale shape: explode distinct n-grams, drop grams whose document
    frequency exceeds ``max_df`` (stop-gram removal — a gram in every
    doc contributes O(n^2) postings pairs and no signal), self-join the
    postings on the gram, count intersections per pair, and compute
    ``|A∩B| / (|A| + |B| - |A∩B|)``.  Pair work is bounded by
    sum(df^2) over kept grams, not corpus^2.  Set sizes |A|,|B| count
    ALL distinct grams; intersections only the df-kept ones, so hot
    grams reduce (never inflate) the reported similarity —
    deterministic, and mirrored exactly by the SQL oracle.
    """
    grams = _spread(docs).select(
        F.col("doc_id"),
        F.explode(
            F.array_distinct(
                F.expr(
                    f"transform(sequence(1, greatest(size(split({text_col}, ' ')) - {n - 1}, 1)),"
                    f" i -> concat_ws(' ', slice(split({text_col}, ' '), i, {n})))"
                )
            )
        ).alias("g"),
    )
    sizes = grams.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_grams"))
    kept = _cap_buckets(grams, ["g"], max_df)
    a, b = kept.alias("a"), kept.alias("b")
    inter = (
        a.join(b, (F.col("a.g") == F.col("b.g")) & (F.col("a.doc_id") < F.col("b.doc_id")))
        .groupBy(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    out = (
        inter.join(sizes.withColumnRenamed("doc_id", "doc_a").withColumnRenamed("n_grams", "na"), "doc_a")
        .join(sizes.withColumnRenamed("doc_id", "doc_b").withColumnRenamed("n_grams", "nb"), "doc_b")
        .select(
            "doc_a",
            "doc_b",
            # floor-based half-up rounding: small-integer ratios land on
            # exact decimal halves, where Spark round (HALF_UP) and
            # DuckDB round (half-even) disagree
            (
                F.floor(
                    F.expr("try_divide(cast(inter as double), cast(na + nb - inter as double))")
                    * 10000.0
                    + F.lit(0.5)
                )
                / 10000.0
            ).alias("jaccard"),
        )
    )
    return out.filter(F.col("jaccard") >= min_jaccard)


# --------------------------------------- embedding cosine near-dup


def embedding_near_dups(
    embeddings: DataFrame,
    threshold: float = 0.95,
    block_col: str | None = "label",
    max_bucket: int | None = 10000,
) -> DataFrame:
    """Near-duplicate vector pairs by cosine similarity.

    Blocks on `block_col` before the exact pairwise cosine, keeping
    the join out of O(n^2); blocks over ``max_bucket`` members are
    dropped (see :func:`_cap_buckets`).  With ``block_col=None`` the
    blocking is multi-table random-hyperplane LSH
    (:func:`hyperplane_lsh_candidates`) — tunable recall, and the
    candidate join never amplifies the vector payload.
    """
    vec = F.expr("transform(embedding, x -> cast(x as double))")
    if block_col is None:
        cand = hyperplane_lsh_candidates(embeddings, max_bucket=max_bucket)
        base = embeddings.select(F.col("vec_id"), vec.alias("v"))
        pairs = (
            cand.join(base.select(F.col("vec_id").alias("vec_a"), F.col("v").alias("va")), "vec_a")
            .join(base.select(F.col("vec_id").alias("vec_b"), F.col("v").alias("vb")), "vec_b")
        )
        dot = F.expr(
            "aggregate(zip_with(va, vb, (x, y) -> x * y), cast(0.0 as double), (acc, x) -> acc + x)"
        )
        nrm = lambda c: F.sqrt(  # noqa: E731
            F.expr(f"aggregate({c}, cast(0.0 as double), (acc, x) -> acc + x * x)")
        )
        cos = F.round(dot / (nrm("va") * nrm("vb")), 4)
        return pairs.select("vec_a", "vec_b", cos.alias("cosine")).filter(
            F.col("cosine") >= threshold
        )
    base = embeddings.select(F.col("vec_id"), vec.alias("v"), F.col(block_col).alias("blk"))
    base = _cap_buckets(base, ["blk"], max_bucket)
    a, b = base.alias("a"), base.alias("b")
    dot = F.expr("aggregate(zip_with(a.v, b.v, (x, y) -> x * y), cast(0.0 as double), (acc, x) -> acc + x)")
    norm = lambda side: F.sqrt(  # noqa: E731
        F.expr(f"aggregate({side}.v, cast(0.0 as double), (acc, x) -> acc + x * x)")
    )
    cos = F.round(dot / (norm("a") * norm("b")), 4)
    return (
        a.join(b, (F.col("a.blk") == F.col("b.blk")) & (F.col("a.vec_id") < F.col("b.vec_id")))
        .select(
            F.col("a.vec_id").alias("vec_a"),
            F.col("b.vec_id").alias("vec_b"),
            cos.alias("cosine"),
        )
        .filter(F.col("cosine") >= threshold)
    )


def rademacher_planes(n_tables: int, n_planes: int, dim: int, seed: int = 0):
    """Deterministic ±1 hyperplanes.  Sign-of-dot with Rademacher
    vectors is the same LSH family as Gaussian hyperplanes (simhash's
    random projections); ±1 entries make the planes embeddable
    verbatim in a cross-engine SQL oracle."""
    import numpy as np

    rng = np.random.default_rng(seed)
    return rng.choice([-1.0, 1.0], size=(n_tables, n_planes, dim))


def hyperplane_lsh_candidates(
    embeddings: DataFrame,
    n_tables: int = 8,
    n_planes: int = 12,
    seed: int = 0,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_bucket: int | None = 10000,
    planes=None,
) -> DataFrame:
    """Multi-table random-hyperplane LSH candidate pairs
    ``(vec_a, vec_b)`` — the scale path for embedding near-dup.

    Each table hashes a vector to the ``n_planes``-bit sign pattern of
    its dot products with seeded Gaussian hyperplanes (a plan literal,
    n_tables x n_planes x dim doubles); a pair is a candidate if it
    collides in ANY table.  For cosine similarity ``s`` the per-table
    collision probability is ``(1 - acos(s)/pi)^n_planes``, so recall
    is ``1 - (1 - p)^n_tables`` — at s=0.95, b=12, T=8 that is ~0.93,
    tunable without touching the join shape.  The banded rows carry
    only (id, table, bucket): vectors are joined back AFTER the
    candidate set is formed, so the shuffle never amplifies the
    embedding payload by n_tables.
    """
    import numpy as np

    if planes is None:
        dim = embeddings.select(F.size(vec_col).alias("d")).first().d
        rng = np.random.default_rng(seed)
        planes = rng.standard_normal((n_tables, n_planes, dim))
    else:
        n_tables, n_planes, _ = planes.shape

    v = F.expr(f"transform({vec_col}, x -> cast(x as double))")

    def table_bucket(t: int) -> F.Column:
        pmat = F.lit([[float(x) for x in row] for row in planes[t]])
        signs = F.transform(
            pmat,
            lambda p: F.when(
                F.aggregate(
                    F.zip_with(F.col("v"), p, lambda x, y: x * y),
                    F.lit(0.0),
                    lambda acc, x: acc + x,
                )
                >= 0,
                F.lit(1),
            ).otherwise(F.lit(0)),
        )
        # fold sign bits into one bucket int
        return F.aggregate(
            signs, F.lit(0), lambda acc, b: acc * 2 + b
        )

    banded = (
        embeddings.select(F.col(id_col).alias("vid"), v.alias("v"))
        .select(
            "vid",
            F.posexplode(F.array(*[table_bucket(t) for t in range(n_tables)])).alias(
                "tbl", "bucket"
            ),
        )
        .localCheckpoint(eager=False)
    )
    banded = _cap_buckets(banded, ["tbl", "bucket"], max_bucket)
    a, b = banded.alias("a"), banded.alias("b")
    return (
        a.join(
            b,
            (F.col("a.tbl") == F.col("b.tbl"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.vid") < F.col("b.vid")),
        )
        .groupBy(F.col("a.vid").alias("vec_a"), F.col("b.vid").alias("vec_b"))
        .agg(F.count(F.lit(1)).alias("n_tables_matched"))
    )


def simhash_near_pairs_md5(
    docs: DataFrame,
    text_col: str = "text",
    max_hamming: int = 3,
    max_bucket: int | None = 1000,
) -> DataFrame:
    """Near-duplicate pairs over the verifiable md5 SimHash:
    (doc_a, doc_b, hamming).  Same chunk-blocking shape as
    :func:`simhash_near_pairs` (a pair within Hamming distance 3 of 64
    bits shares at least one of 4 16-bit chunks), expressed over the
    (hi, lo) halves so the DuckDB oracle can replay it exactly."""
    sh = simhash_md5(docs, text_col)
    chunks = sh.select(
        "doc_id",
        "simhash_hi",
        "simhash_lo",
        F.posexplode(
            F.array(
                F.expr("cast(simhash_lo & 65535 as int)"),
                F.expr("cast((simhash_lo >> 16) & 65535 as int)"),
                F.expr("cast(simhash_hi & 65535 as int)"),
                F.expr("cast((simhash_hi >> 16) & 65535 as int)"),
            )
        ).alias("chunk_idx", "chunk"),
    )
    chunks = _cap_buckets(chunks, ["chunk_idx", "chunk"], max_bucket)
    a, b = chunks.alias("a"), chunks.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.chunk_idx") == F.col("b.chunk_idx"))
            & (F.col("a.chunk") == F.col("b.chunk"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.expr(
                "bit_count(a.simhash_hi ^ b.simhash_hi)"
                " + bit_count(a.simhash_lo ^ b.simhash_lo)"
            ).alias("hamming"),
        )
        .distinct()
    )
    return cand.filter(F.col("hamming") <= max_hamming)


# ------------------------------------------- duplicate clustering


class ConvergenceError(RuntimeError):
    """Raised when an iterative fixpoint computation exhausts its round
    budget without converging — returning partial labels silently would
    mis-cluster, so the caller must see it."""


def _driver_union_find(edge_pdf, a_col: str, b_col: str):
    """Union-find with path compression over a pandas edge list;
    returns (node_values, min_root_values) for the nodes that appear in
    edges (singletons never enter the driver)."""
    import numpy as np
    import pandas as pd

    codes_a, uniques = pd.factorize(
        pd.concat([edge_pdf[a_col], edge_pdf[b_col]], ignore_index=True)
    )
    n = len(uniques)
    a = codes_a[: len(edge_pdf)]
    b = codes_a[len(edge_pdf):]
    parent = np.arange(n, dtype=np.int64)

    def find(x: int) -> int:
        root = x
        while parent[root] != root:
            root = parent[root]
        while parent[x] != root:  # path compression
            parent[x], x = root, parent[x]
        return root

    for x, y in zip(a, b):
        rx, ry = find(int(x)), find(int(y))
        if rx != ry:
            parent[ry] = rx
    roots = np.array([find(i) for i in range(n)], dtype=np.int64)
    # min node value per component (matches the distributed min-label)
    vals = pd.Series(uniques)
    min_by_root = vals.groupby(roots).transform("min")
    return vals.to_numpy(), min_by_root.to_numpy()


def connected_components(
    pairs: DataFrame,
    nodes: DataFrame,
    a_col: str = "doc_a",
    b_col: str = "doc_b",
    node_col: str = "doc_id",
    max_iter: int = 25,
    strict: bool = True,
    driver_max_edges: int = 2_000_000,
) -> DataFrame:
    """(doc_id, cluster_id) — connected components over candidate
    pairs; cluster_id = the minimum doc_id in the component, singletons
    cluster with themselves.

    **Small-graph fast path**: when the edge list fits comfortably on
    the driver (``driver_max_edges``, default 2M pairs ≈ 32 MB — the
    same order as a broadcast-join side), the edges are collected and
    clustered with union-find + path compression in one pass, and the
    node→min-root mapping (bounded by 2×edges, NOT by the node count)
    is broadcast-joined back onto ``nodes`` — singletons never leave
    the cluster.  A duplicate-candidate graph is sparse by
    construction (LSH caps bucket sizes), so even billion-document
    corpora often land here; the distributed path below exists for
    when they don't.  One count() action decides, result-identical
    either way (equality pinned in tests).

    **Distributed path**: min-label propagation with pointer jumping —
    each round every node takes the minimum label among itself and its
    neighbors, then maps that label through the fresh label table again
    (``label := label(label)``), so the distance a component-min
    travels roughly doubles per round — O(log n) rounds even on
    CHAIN-shaped components (shingle/sliding-window duplicates), where
    plain propagation needs O(diameter).  Each round is two shuffle
    joins + one aggregate; labels are localCheckpoint-ed per round so
    the lineage (and the plan Catalyst must analyze) stays flat instead
    of doubling per iteration.  The convergence test compares the
    summed labels (per-node monotonically non-increasing, so sum
    equality <=> fixpoint) — one scalar per round, no row-level diff
    join.

    If the budget runs out before the fixpoint, raises
    :class:`ConvergenceError` (``strict=True``, default) — never
    silently returns partial labels.  ``strict=False`` returns the
    partial labels for callers that explicitly want best-effort.
    """
    edges = pairs.select(F.col(a_col).alias("src"), F.col(b_col).alias("dst"))

    persisted = None
    if driver_max_edges and driver_max_edges > 0:
        # Semi-join both endpoints against `nodes` BEFORE the probe:
        # the distributed rounds drop null-endpoint and
        # outside-the-node-set edges implicitly (their joins never
        # match), and the union-find must see the same graph — a null
        # factorizes to code -1 (negative-indexing the parent array)
        # and a phantom endpoint would bridge components through a node
        # the caller excluded.  A semi-join also never matches null, so
        # one construct closes both holes.
        nset = nodes.select(F.col(node_col).alias("src"))
        filtered = edges.join(nset, "src", "leftsemi").join(
            nset.select(F.col("src").alias("dst")), "dst", "leftsemi"
        ).select("src", "dst")
        # Persist so the expensive upstream (the LSH candidate
        # pipeline) is evaluated ONCE: the probe materializes it, and
        # if the graph turns out big the distributed rounds reuse the
        # cache instead of recomputing the candidates from scratch.
        from pyspark import StorageLevel

        persisted = filtered.persist(StorageLevel.MEMORY_AND_DISK)
        # ONE action answers "is it small?" AND fetches the edges:
        # limit(N+1) bounds what lands on the driver (N+1 rows ≈ 32 MB
        # at the default) even when the candidate set is huge
        edge_pdf = persisted.limit(driver_max_edges + 1).toPandas()
        if len(edge_pdf) <= driver_max_edges:
            persisted.unpersist()
            out_nodes = nodes.select(F.col(node_col).alias("node"))
            if len(edge_pdf) == 0:
                return out_nodes.select(
                    F.col("node").alias(node_col),
                    F.col("node").alias("cluster_id"),
                )
            vals, mins = _driver_union_find(edge_pdf, "src", "dst")
            import pandas as pd

            # Arrow path: a Python list-of-tuples createDataFrame would
            # row-serialize up to 4M mapping rows on the driver
            mapping = nodes.sparkSession.createDataFrame(
                pd.DataFrame({"node": vals, "mapped": mins})
            )
            return (
                out_nodes.join(F.broadcast(mapping), "node", "left")
                .select(
                    F.col("node").alias(node_col),
                    F.coalesce("mapped", "node").alias("cluster_id"),
                )
            )
    if persisted is not None:
        edges = persisted  # big graph: reuse the probe's cached edges
    sym = edges.unionByName(
        edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    ).localCheckpoint(eager=False)
    labels = nodes.select(
        F.col(node_col).alias("node"), F.col(node_col).alias("label")
    ).localCheckpoint(eager=False)

    converged = False
    prev_sum = labels.agg(F.sum("label")).collect()[0][0]
    for _ in range(max_iter):
        neighbor_min = (
            sym.join(labels, sym.dst == labels.node)
            .groupBy("src")
            .agg(F.min("label").alias("nmin"))
        )
        cand = (
            labels.join(neighbor_min, labels.node == neighbor_min.src, "left")
            .select(
                "node",
                F.least(F.col("label"), F.coalesce("nmin", "label")).alias("label"),
            )
            .localCheckpoint(eager=False)
        )
        # Pointer jump: every label value is itself a node id, so remap
        # each node's candidate label through the candidate table.  This
        # is the path-halving step that turns O(diameter) into O(log n).
        jump = cand.select(
            F.col("node").alias("jnode"), F.col("label").alias("jlabel")
        )
        new_labels = (
            cand.join(jump, cand.label == jump.jnode, "left")
            .select(
                "node",
                F.least(F.col("label"), F.coalesce("jlabel", "label")).alias("label"),
            )
            .localCheckpoint(eager=False)
        )
        new_sum = new_labels.agg(F.sum("label")).collect()[0][0]
        if persisted is not None:
            # round 1's action materialized sym's localCheckpoint; the
            # probe cache behind it is no longer needed
            persisted.unpersist()
            persisted = None
        labels = new_labels
        if new_sum == prev_sum:
            converged = True
            break
        prev_sum = new_sum
    if not converged and strict:
        raise ConvergenceError(
            f"connected_components did not converge in {max_iter} rounds; "
            "raise max_iter (rounds are O(log n) with pointer jumping) or "
            "pass strict=False for best-effort partial labels"
        )
    return labels.select(
        F.col("node").alias(node_col), F.col("label").alias("cluster_id")
    )


def dedup_clusters(
    docs: DataFrame,
    text_col: str = "text",
    num_hashes: int = 16,
    bands: int = 4,
    max_bucket: int | None = 100,
) -> DataFrame:
    """(doc_id, cluster_id) duplicate clusters: md5-family minhash LSH
    candidates -> connected components.  The corpus-level dedup primitive
    (pick min-id per cluster to keep, or weight clusters for sampling)."""
    pairs = minhash_lsh_candidates_md5(
        docs, text_col, num_hashes=num_hashes, bands=bands, max_bucket=max_bucket
    )
    return connected_components(pairs, docs, node_col="doc_id")
