"""Continuous aggregates: 1m/1h/1d rollup cascade with gap-fill.

The reference has no aggregation layer (it is a compressor CLI); the
north rule adds TimescaleDB-style continuous aggregates on top.  All
of this is stock Spark — hash aggregation with automatic partial/final
phases, window functions for LOCF, `sequence`+`explode` for the
gap-fill grid (the Spark expression of VSRI's `get_all_timestamps`,
`/root/reference/vsri/src/lib.rs:352-362`).

Scale notes:
- The cascade re-aggregates the *previous* rollup, not the raw series:
  1m -> 1h -> 1d shrinks the input 60x per step.  sum/count/min/max
  compose exactly; avg is re-derived as sum/count at read time.
- Each rollup is one shuffle keyed on (conv_id, metric, bucket) —
  map-side partial aggregation bounds shuffle volume by bucket
  cardinality, not row count.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

KEYS = ["conv_id", "metric"]

ROLLUP_COLS = ["cnt", "sum", "min", "max"]

# a day-partitioned rollup table on disk: the 1h rollup tier and the
# continuous-aggregate grain tables
ROLLUP_SCHEMA = (
    "conv_id string, metric string, bucket_ts timestamp, cnt long, "
    "sum double, min double, max double, avg double, day date"
)


def rollup(series: DataFrame, interval: str = "1 minute") -> DataFrame:
    """Raw series -> rollup at `interval`:
    ``(conv_id, metric, bucket_ts, cnt, sum, min, max, avg)``."""
    return (
        series.groupBy(*KEYS, F.window("bucket_ts", interval).alias("w"))
        .agg(
            F.count("value").alias("cnt"),
            F.sum("value").alias("sum"),
            F.min("value").alias("min"),
            F.max("value").alias("max"),
        )
        .select(
            *KEYS,
            F.col("w.start").alias("bucket_ts"),
            "cnt",
            "sum",
            "min",
            "max",
            F.expr("try_divide(sum, cnt)").alias("avg"),
        )
    )


_INTERVAL_UNIT_S = {
    "second": 1, "minute": 60, "hour": 3600, "day": 86400, "week": 604800,
}


def _interval_seconds(interval: str) -> int | None:
    """Whole-second length of a simple interval string ('1 hour',
    '5 minutes', 'day'); None when it doesn't parse to whole seconds
    (callers then fall back to ``F.window``)."""
    parts = interval.strip().lower().split()
    if len(parts) == 1:
        parts = ["1", parts[0]]
    if len(parts) != 2 or not parts[0].isdigit():
        return None
    unit = parts[1].rstrip("s")
    if unit not in _INTERVAL_UNIT_S:
        return None
    return int(parts[0]) * _INTERVAL_UNIT_S[unit]


def _bucket_floor(col, interval_s: int, dtype: str):
    """Tumbling-window start as plain epoch arithmetic:
    ``floor(epoch_s / interval) * interval``, cast back to the input's
    timestamp dtype — value-identical to ``window(col, interval).start``
    for whole-second timestamps under the engine's UTC session contract
    (session.py pins spark.sql.session.timeZone=UTC).

    Exists for plan health, not convenience: chaining ``F.window`` over
    a previous window's ``start`` makes Catalyst push each level's
    derived ``isnotnull(window_expr)`` filter down through the
    aggregates below it, substituting the whole nested window
    expression — by the third cascade level the pushed filter is a
    multi-MB expression tree evaluated per INPUT row (measured: the
    1m->1h->1d cascade at sf1.0 spent 5 of its 6.1 s there; with the
    arithmetic bucket the same cascade runs the 1h/1d steps in ~0.2 s).
    ``floor(x / i) * i`` references the child once, so the pushed
    predicate grows linearly in cascade depth instead.
    """
    sec = col.cast("timestamp").cast("long")
    start = (F.floor(sec / F.lit(float(interval_s))) * interval_s).cast("long")
    return F.timestamp_seconds(start).cast(dtype)


def rollup_cascade_step(finer: DataFrame, interval: str) -> DataFrame:
    """Re-aggregate an existing rollup into a coarser one.

    sum-of-sums / sum-of-counts / min-of-mins / max-of-maxes — exactly
    equal to aggregating the raw series at the coarser interval.

    The coarser bucket is computed with :func:`_bucket_floor` (epoch
    arithmetic, see there for the window-over-window pushdown blowup it
    avoids); ``F.window`` remains as the fallback for interval strings
    that don't parse to whole seconds.  Null buckets are filtered
    explicitly, matching ``F.window``'s null-drop semantics.
    """
    aggs = [
        F.sum("cnt").alias("cnt"),
        F.sum("sum").alias("sum"),
        F.min("min").alias("min"),
        F.max("max").alias("max"),
    ]
    tail = ["cnt", "sum", "min", "max", F.expr("try_divide(sum, cnt)").alias("avg")]
    secs = _interval_seconds(interval)
    if secs is None:  # fallback: the original window formulation
        return (
            finer.groupBy(*KEYS, F.window("bucket_ts", interval).alias("w"))
            .agg(*aggs)
            .select(*KEYS, F.col("w.start").alias("bucket_ts"), *tail)
        )
    dtype = dict(finer.dtypes).get("bucket_ts", "timestamp")
    return (
        finer.where(F.col("bucket_ts").isNotNull())
        .groupBy(
            *KEYS, _bucket_floor(F.col("bucket_ts"), secs, dtype).alias("bucket_ts")
        )
        .agg(*aggs)
        .select(*KEYS, "bucket_ts", *tail)
    )


def rollup_cascade(series: DataFrame) -> dict[str, DataFrame]:
    """The standard 1m -> 1h -> 1d cascade."""
    r1m = rollup(series, "1 minute")
    r1h = rollup_cascade_step(r1m, "1 hour")
    r1d = rollup_cascade_step(r1h, "1 day")
    return {"1m": r1m, "1h": r1h, "1d": r1d}


def _grid(df: DataFrame, interval_s: int, ts_col: str = "bucket_ts") -> DataFrame:
    """Per-(conv_id, metric) dense timestamp grid between each series'
    min and max bucket, via sequence+explode (VSRI T4)."""
    bounds = df.groupBy(*KEYS).agg(
        F.min(ts_col).alias("t0"), F.max(ts_col).alias("t1")
    )
    return bounds.select(
        *KEYS,
        F.explode(
            F.sequence(
                "t0", "t1", F.expr(f"INTERVAL {interval_s} SECONDS")
            )
        ).alias(ts_col),
    )


def gap_fill(
    series: DataFrame,
    interval_s: int = 20,
    strategy: str = "locf",
    value_col: str = "value",
    max_gap_s: int | None = None,
) -> DataFrame:
    """Fill missing buckets on a regular grid.

    strategy='locf'  — last observation carried forward
                       (`vsri` T5 nearest-previous semantics)
    strategy='linear' — linear interpolation between the surrounding
                        observed points; ends fall back to the nearest
                        observed value.

    ``max_gap_s`` bounds how far a fill may reach: a bucket stays NULL
    rather than be fabricated across an outage longer than the bound —
    for locf, when the last observation is more than ``max_gap_s``
    behind; for linear, when the surrounding observed pair spans more
    than ``max_gap_s`` (edge buckets measure to their single anchor).
    Observed buckets are never affected.

    Output: ``(conv_id, metric, bucket_ts, value, is_filled)``.
    Implementation is pure window functions — no UDF, no driver loop.
    """
    grid = _grid(series, interval_s)
    joined = grid.join(series, [*KEYS, "bucket_ts"], "left")

    w_back = (
        Window.partitionBy(*KEYS)
        .orderBy("bucket_ts")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    filled_flag = F.col(value_col).isNull()

    if strategy == "locf":
        value = F.last(value_col, ignorenulls=True).over(w_back)
        if max_gap_s is not None:
            epoch = F.unix_timestamp("bucket_ts").cast("double")
            obs_ts = F.when(F.col(value_col).isNotNull(), epoch)
            prev_t = F.last(obs_ts, ignorenulls=True).over(w_back)
            value = F.when(epoch - prev_t <= float(max_gap_s), value)
        out = joined.select(
            *KEYS,
            "bucket_ts",
            value.alias(value_col),
            filled_flag.alias("is_filled"),
        )
        return out

    if strategy == "linear":
        # IMPORTANT: a first(...) over (currentRow..unboundedFollowing)
        # frame defeats Spark's running-frame optimization and is
        # O(n^2) per partition.  The equivalent last(...) over a
        # DESCENDING order with an unboundedPreceding..currentRow frame
        # is a single running pass.
        w_fwd = (
            Window.partitionBy(*KEYS)
            .orderBy(F.desc("bucket_ts"))
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        )
        epoch = F.unix_timestamp("bucket_ts").cast("double")
        obs_ts = F.when(F.col(value_col).isNotNull(), epoch)
        prev_v = F.last(value_col, ignorenulls=True).over(w_back)
        prev_t = F.last(obs_ts, ignorenulls=True).over(w_back)
        next_v = F.last(value_col, ignorenulls=True).over(w_fwd)
        next_t = F.last(obs_ts, ignorenulls=True).over(w_fwd)
        interp = (
            F.when(F.col(value_col).isNotNull(), F.col(value_col))
            .when(prev_v.isNull(), next_v)
            .when(next_v.isNull(), prev_v)
            .otherwise(
                prev_v + (next_v - prev_v) * (epoch - prev_t) / (next_t - prev_t)
            )
        )
        if max_gap_s is not None:
            bound = float(max_gap_s)
            span_ok = (
                F.when(F.col(value_col).isNotNull(), F.lit(True))
                .when(prev_t.isNull(), next_t - epoch <= bound)
                .when(next_t.isNull(), epoch - prev_t <= bound)
                .otherwise(next_t - prev_t <= bound)
            )
            interp = F.when(span_ok, interp)
        return joined.select(
            *KEYS,
            "bucket_ts",
            interp.alias(value_col),
            filled_flag.alias("is_filled"),
        )

    raise ValueError(f"unknown gap-fill strategy: {strategy}")


def delta_of_delta(series: DataFrame, value_col: str = "value") -> DataFrame:
    """Second difference per series — the integer stream Gorilla's
    timestamp compression encodes (also useful as a feature).
    Pure lag windows."""
    w = Window.partitionBy(*KEYS).orderBy("bucket_ts")
    d1 = F.col(value_col) - F.lag(value_col, 1).over(w)
    return series.select(
        *KEYS,
        "bucket_ts",
        value_col,
        d1.alias("delta"),
        (d1 - F.lag(d1, 1).over(w)).alias("delta_of_delta"),
    )


def session_segments(
    series: DataFrame, expected_interval_s: int = 20
) -> DataFrame:
    """VSRI-style segment identification as a window pass: a new
    segment starts whenever the gap to the previous bucket differs from
    the expected cadence (`vsri/src/lib.rs:249-284` re-expressed as
    one running sum instead of streaming appends)."""
    w = Window.partitionBy(*KEYS).orderBy("bucket_ts")
    gap = F.unix_timestamp("bucket_ts") - F.unix_timestamp(F.lag("bucket_ts", 1).over(w))
    is_new = F.when(gap.isNull() | (gap != expected_interval_s), 1).otherwise(0)
    return series.withColumn("seg_id", F.sum(is_new).over(w))


def counter_increase(
    series: DataFrame, interval: str = "1 hour", value_col: str = "value"
) -> DataFrame:
    """Monotonic-counter increase per bucket with reset handling
    (the Prometheus/Timescale ``increase()`` semantics): per adjacent
    sample pair, delta = v - lag(v) when non-negative, else v (the
    counter restarted at ~0 and climbed back to v).  One window pass +
    one aggregation — no self-join.

    Output: (conv_id, metric, bucket_ts, increase, n_samples).
    """
    w = Window.partitionBy(*KEYS).orderBy("bucket_ts")
    prev = F.lag(value_col).over(w)
    delta = F.when(prev.isNull(), F.lit(None)).otherwise(
        F.when(F.col(value_col) >= prev, F.col(value_col) - prev).otherwise(
            F.col(value_col)
        )
    )
    return (
        series.withColumn("_d", delta)
        .groupBy(*KEYS, F.window("bucket_ts", interval).alias("w"))
        .agg(
            F.round(F.sum("_d"), 4).alias("increase"),
            F.count(value_col).alias("n_samples"),
        )
        .select(*KEYS, F.col("w.start").alias("bucket_ts"), "increase", "n_samples")
    )


def histogram_rollup(
    series: DataFrame,
    interval: str = "1 hour",
    lo: float = 0.0,
    hi: float = 100.0,
    bins: int = 16,
    value_col: str = "value",
) -> DataFrame:
    """Composable histogram continuous aggregate: per bucket, fixed-bin
    counts as an array (values clamped into [lo, hi)).  Composable by
    construction — coarser levels just sum the arrays elementwise —
    which is what makes approximate quantiles maintainable in a rollup
    cascade at scale (exact percentiles don't compose).

    Output: (conv_id, metric, bucket_ts, hist array<long>, n long).
    """
    width = (hi - lo) / bins
    bin_idx = F.least(
        F.lit(bins - 1),
        F.greatest(F.lit(0), F.floor((F.col(value_col) - lo) / width).cast("int")),
    )
    # ONE hash aggregation: `bins` conditional sums with map-side
    # partial aggregation — shuffle volume is groups × bins longs.  The
    # previous two-level formulation (groupBy (…, bin) then re-group to
    # assemble the array) shuffled twice: partitioning on (…, w, _b)
    # does not satisfy (…, w) clustering, so the assembly re-shuffled.
    counted = (
        series.withColumn("_b", bin_idx)
        .groupBy(*KEYS, F.window("bucket_ts", interval).alias("w"))
        .agg(
            *[
                F.sum(F.when(F.col("_b") == i, 1).otherwise(0))
                .cast("long")
                .alias(f"_c{i}")
                for i in range(bins)
            ],
            F.count(F.lit(1)).cast("long").alias("n"),
        )
    )
    hist = F.array(*[F.col(f"_c{i}") for i in range(bins)])
    return counted.select(
        *KEYS, F.col("w.start").alias("bucket_ts"), hist.alias("hist"), "n"
    )


def histogram_merge(hists: DataFrame, interval: str) -> DataFrame:
    """Roll a histogram aggregate up to a coarser interval: elementwise
    array sum (zip_with) — the compose step of the cascade.

    Same :func:`_bucket_floor` bucket as :func:`rollup_cascade_step`
    (the input's ``bucket_ts`` is itself a window start, and chained
    ``F.window`` pushes the nested expression down per level)."""
    secs = _interval_seconds(interval)
    if secs is not None:
        dtype = dict(hists.dtypes).get("bucket_ts", "timestamp")
        return (
            hists.where(F.col("bucket_ts").isNotNull())
            .groupBy(
                *KEYS,
                _bucket_floor(F.col("bucket_ts"), secs, dtype).alias("bucket_ts"),
            )
            .agg(
                F.aggregate(
                    F.collect_list("hist"),
                    F.expr("cast(array() as array<bigint>)"),
                    lambda acc, h: F.when(F.size(acc) == 0, h).otherwise(
                        F.zip_with(acc, h, lambda a, b: a + b)
                    ),
                ).alias("hist"),
                F.sum("n").cast("long").alias("n"),
            )
            .select(*KEYS, "bucket_ts", "hist", "n")
        )
    return (
        hists.groupBy(*KEYS, F.window("bucket_ts", interval).alias("w"))
        .agg(
            F.aggregate(
                F.collect_list("hist"),
                F.expr("cast(array() as array<bigint>)"),
                lambda acc, h: F.when(F.size(acc) == 0, h).otherwise(
                    F.zip_with(acc, h, lambda a, b: a + b)
                ),
            ).alias("hist"),
            F.sum("n").cast("long").alias("n"),
        )
        .select(*KEYS, F.col("w.start").alias("bucket_ts"), "hist", "n")
    )


def histogram_quantile(
    hists: DataFrame,
    q: float,
    lo: float = 0.0,
    hi: float = 100.0,
    out_col: str = "quantile",
) -> DataFrame:
    """Approximate quantile from a composable fixed-bin histogram
    (:func:`histogram_rollup` / :func:`histogram_merge` output) —
    Prometheus ``histogram_quantile`` semantics on fixed bins: rank
    ``q*n``, first bucket whose cumulative count reaches the rank,
    linear interpolation inside it.

    Pure expressions, no UDF: the cumulative array is an O(bins²)
    slice-fold (bins is small by construction — 16 here ≈ 136 adds per
    row), the target bucket is ``size(filter(cums, c < rank))``, and
    the selected bucket provably has a nonzero count (its cumulative
    strictly increases past the rank), so the interpolation never
    divides by zero.  The fold and the bucket index are staged as
    multi-referenced columns so CollapseProject materializes each once
    per row instead of inlining the fold into every reference (the
    lambda-body re-evaluation hazard documented at
    ``dedup._lane_unpack``).  This is the read side of the sketch
    cascade: the 1h→1d merge keeps quantiles maintainable at scale
    where exact percentiles don't compose.
    """
    width = f"(({hi!r}D - {lo!r}D) / cast(size(hist) as double))"
    staged = hists.select(
        *KEYS,
        "bucket_ts",
        "hist",
        "n",
        F.expr(
            "transform(sequence(1, size(hist)),"
            " i -> aggregate(slice(hist, 1, i), 0L, (a, x) -> a + x))"
        ).alias("cums"),
    ).select(
        *KEYS,
        "bucket_ts",
        "hist",
        "n",
        "cums",
        F.expr(f"size(filter(cums, c -> c < {q!r}D * n))").alias("j"),
    )
    prev = "IF(j = 0, 0L, element_at(cums, j))"  # element_at(_, 0) raises
    expr = (
        f"CASE WHEN n > 0 THEN round({lo!r}D + {width} * ("
        f"cast(j as double) + ({q!r}D * n - {prev}) / element_at(hist, j + 1)"
        f"), 4) END"
    )
    return staged.select(*KEYS, "bucket_ts", F.expr(expr).alias(out_col))


def ohlc(
    series: DataFrame, interval: str = "1 hour", value_col: str = "value"
) -> DataFrame:
    """Open/high/low/close per bucket (the candlestick aggregate —
    TimescaleDB ``candlestick_agg``): one hash aggregation with
    ``min_by``/``max_by`` picking the earliest/latest sample's value —
    no window pass, no self-join, composes with the rollup cascade's
    shuffle shape."""
    return (
        series.groupBy(*KEYS, F.window("bucket_ts", interval).alias("w"))
        .agg(
            F.expr(f"min_by({value_col}, bucket_ts)").alias("open"),
            F.max(value_col).alias("high"),
            F.min(value_col).alias("low"),
            F.expr(f"max_by({value_col}, bucket_ts)").alias("close"),
            F.count(F.lit(1)).alias("n_samples"),
        )
        .select(
            *KEYS, F.col("w.start").alias("bucket_ts"),
            "open", "high", "low", "close", "n_samples",
        )
    )


def hll_registers(
    df: DataFrame,
    group_cols: list[str],
    value_col: str,
    p: int = 10,
) -> DataFrame:
    """HyperLogLog register rows per group: ``(…group_cols, reg int,
    maxrank int)`` — the composable distinct-count sketch.

    md5-derived (cross-engine verifiable, same family as
    ``simhash_md5``): the first 32 hash bits pick the register
    (``pmod``, ``m = 2**p`` registers), the second 32 bits give the
    rank (leading zeros + 1, integer-exact via ``length(bin(h))`` —
    identical in Spark and DuckDB).  Kept as SPARSE rows rather than a
    dense array: rows are integer-exact and hash-gradable against a
    SQL oracle, max-merge composes by construction, and at 10⁹ groups
    a dense ``m``-wide array per group would dominate the shuffle
    while most registers are zero.
    """
    m = 1 << p
    h = f"md5(cast({value_col} as string))"
    reg = f"cast(pmod(cast(conv(substr({h}, 1, 8), 16, 10) as bigint), {m}) as int)"
    h2 = f"cast(conv(substr({h}, 9, 8), 16, 10) as bigint)"
    rank = f"cast(IF({h2} = 0, 33, 33 - length(bin({h2}))) as int)"
    return (
        df.select(*group_cols, F.expr(reg).alias("reg"), F.expr(rank).alias("rank"))
        .groupBy(*group_cols, "reg")
        .agg(F.max("rank").alias("maxrank"))
    )


def hll_merge(registers: DataFrame, group_cols: list[str]) -> DataFrame:
    """Merge sketches to a coarser grouping: max per register — exact
    (max is associative/commutative), so merge(fine) == direct(coarse)
    register-for-register, the property that makes the sketch safe in
    a rollup cascade."""
    return registers.groupBy(*group_cols, "reg").agg(
        F.max("maxrank").alias("maxrank")
    )


def hll_estimate(
    registers: DataFrame, group_cols: list[str], p: int = 10
) -> DataFrame:
    """Distinct-count estimate from register rows (standard HLL:
    harmonic mean with the alpha_m bias constant; linear counting when
    the estimate is small and empty registers remain; the 32-bit
    large-range correction ``-2^32·ln(1 - E/2^32)`` when the estimate
    approaches the md5-derived 32-bit hash space).  Relative error
    ≈ 1.04/sqrt(m) (~3.3% at p=10) — the large-range correction keeps
    that holding toward ~10^9 distincts, where uncorrected hash
    collisions alone would bias ~-6% at 5·10^8."""
    m = 1 << p
    alpha = 0.7213 / (1.0 + 1.079 / m)
    two32 = float(1 << 32)
    agg = registers.groupBy(*group_cols).agg(
        F.sum(F.expr("pow(2.0D, -cast(maxrank as double))")).alias("s_present"),
        F.count(F.lit(1)).alias("n_present"),
    )
    zeros = F.lit(m) - F.col("n_present")
    denom = F.col("s_present") + zeros.cast("double")  # absent registers add 2^0
    raw = F.lit(alpha * m * m) / denom
    linear = F.lit(float(m)) * F.log(F.lit(float(m)) / zeros.cast("double"))
    large = -F.lit(two32) * F.log(F.lit(1.0) - raw / F.lit(two32))
    est = (
        F.when((raw <= 2.5 * m) & (zeros > 0), linear)
        .when(raw > two32 / 30.0, large)
        .otherwise(raw)
    )
    return agg.select(*group_cols, F.round(est, 1).alias("approx_distinct"))


def rolling_zscore(
    series: DataFrame, window_rows: int = 60, value_col: str = "value"
) -> DataFrame:
    """Rolling z-score anomaly signal: (value - mean) / stddev over the
    trailing ``window_rows`` samples (exclusive of the current row so a
    spike can't mask itself).  One window pass, no shuffle beyond the
    series key."""
    w = (
        Window.partitionBy(*KEYS)
        .orderBy("bucket_ts")
        .rowsBetween(-window_rows, -1)
    )
    mean = F.avg(value_col).over(w)
    sd = F.stddev_samp(value_col).over(w)
    n = F.count(value_col).over(w)
    z = F.when(
        (n >= 2) & (sd > 0), (F.col(value_col) - mean) / sd
    )
    return series.select(
        *KEYS,
        "bucket_ts",
        F.col(value_col).alias("value"),
        F.round(z, 4).alias("zscore"),
    )
