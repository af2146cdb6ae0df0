"""Metric / CumulativeMetric operators.

Parity with the reference's legacy semantic objects (SURVEY §1.1):
Metric (baseObject + dimensions + measures + TimeGrain) —
wren-core-legacy/.../dto/Metric.java, TimeGrain.java — and
CumulativeMetric (measure + window over a DateSpine) —
dto/CumulativeMetric.java, rewritten by MetricRollupRewrite.java /
CumulativeMetricInfo.java / DateSpineInfo.java.

Spark-first: the date spine is ``sequence()`` exploded (no driver loop),
the rollup is a grouped aggregation, and the cumulative window is an
exact decimal running sum — one shuffle for the agg (map-side combined)
plus one for the window partition.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

GRAIN_INTERVAL = {
    "day": "interval 1 day",
    "week": "interval 7 day",
    "month": "interval 1 month",
    "quarter": "interval 3 month",
    "year": "interval 1 year",
}


def date_spine(spark: SparkSession, start: str, end: str, grain: str = "day") -> DataFrame:
    """Continuous date spine [start, end] at the given grain
    (DateSpineInfo.java parity; generated distributed via sequence)."""
    iv = GRAIN_INTERVAL[grain]
    return spark.sql(
        f"SELECT explode(sequence(to_date('{start}'), to_date('{end}'), {iv})) AS spine_date"
    )


def metric_rollup(
    df: DataFrame,
    time_col: str,
    grain: str,
    measures: dict[str, F.Column],
    dimensions: list[str] | None = None,
) -> DataFrame:
    """Metric with a time grain: groupBy(date_trunc(grain), dims).agg(
    measures) — MetricRollupRewrite.java parity."""
    keys = [F.date_trunc(grain, F.col(time_col)).cast("date").alias(f"{grain}_start")]
    keys += [F.col(d) for d in (dimensions or [])]
    return df.groupBy(*keys).agg(*[m.alias(name) for name, m in measures.items()])


def cumulative_metric(
    df: DataFrame,
    time_col: str,
    measure_col: str,
    start: str,
    end: str,
    grain: str = "month",
) -> DataFrame:
    """Cumulative metric over a date spine: per-grain totals left-joined
    onto the spine (gaps become 0) with an exact running decimal sum.

    Returns (spine_date, period_value, cumulative_value)."""
    spark = df.sparkSession
    spine = date_spine(spark, start, end, grain)
    per = (
        df.groupBy(F.date_trunc(grain, F.col(time_col)).cast("date").alias("spine_date"))
        .agg(
            F.sum(F.col(measure_col).cast("decimal(38,6)")).alias("__v")
        )
    )
    joined = spine.join(per, "spine_date", "left").select(
        "spine_date", F.coalesce(F.col("__v"), F.lit(0).cast("decimal(38,6)")).alias("__v")
    )
    w = W.orderBy("spine_date").rowsBetween(W.unboundedPreceding, W.currentRow)
    return joined.select(
        "spine_date",
        F.col("__v").cast("double").alias("period_value"),
        F.sum("__v").over(w).cast("double").alias("cumulative_value"),
    )


_GRAIN_ORDER = ["hour", "day", "month", "quarter", "year"]


def hypertable_rollup(
    df: DataFrame,
    ts_col: str,
    dims: list[str],
    value_col: str,
    grains: tuple[str, ...] = ("hour", "day", "month"),
) -> dict[str, DataFrame]:
    """Continuous-aggregate hierarchy (Timescale-style hypertable
    rollups): one pre-aggregation per time grain, each COARSER grain
    re-aggregated from the next finer one — the raw table is scanned
    exactly once no matter how many grains exist. Measures are the
    re-aggregatable pair (decimal-exact sum, row count); avg derives as
    sum/count at read time.

    At 100 TB these frames would be written as partitioned tables
    (partition by the grain bucket) and incrementally refreshed; a query
    router picks the coarsest grain that satisfies the requested
    resolution (``route_grain``).

    Returns {grain: DataFrame(bucket, *dims, sum_value, n_rows)}.
    """
    order = [g for g in _GRAIN_ORDER if g in grains]
    if list(grains) != order:
        raise ValueError(f"grains must be fine-to-coarse from {_GRAIN_ORDER}")
    out: dict[str, DataFrame] = {}
    finest = order[0]
    out[finest] = (
        df.groupBy(F.date_trunc(finest, F.col(ts_col)).alias("bucket"),
                   *[F.col(d) for d in dims])
        .agg(
            F.sum(F.col(value_col).cast("decimal(38,6)")).alias("sum_value"),
            F.count(F.lit(1)).alias("n_rows"),
        )
    )
    for finer, coarser in zip(order, order[1:]):
        out[coarser] = (
            out[finer]
            .groupBy(F.date_trunc(coarser, F.col("bucket")).alias("bucket"),
                     *[F.col(d) for d in dims])
            .agg(
                F.sum("sum_value").alias("sum_value"),
                F.sum("n_rows").alias("n_rows"),
            )
        )
    return out


def route_grain(requested: str, available: tuple[str, ...]) -> str:
    """Coarsest available grain that still satisfies ``requested``
    resolution (query-routing rule for the rollup hierarchy)."""
    if requested not in _GRAIN_ORDER:
        raise ValueError(f"unknown grain {requested!r}")
    req_i = _GRAIN_ORDER.index(requested)
    ok = [g for g in available if _GRAIN_ORDER.index(g) <= req_i]
    if not ok:
        raise ValueError(f"no available grain satisfies {requested!r}")
    return max(ok, key=_GRAIN_ORDER.index)


def ewma(
    df: DataFrame,
    key_cols: list[str],
    order_cols: list[str],
    val_col: str,
    alpha: float = 0.25,
) -> DataFrame:
    """Per-series exponentially weighted moving average: for each key
    group, fold the values in (order_cols) order with
    ``acc * (1-alpha) + alpha * x`` starting from 0.0 — the smoothing
    step of an anomaly-detection / metrics pipeline.

    The fold is a LEFT fold over the sorted series in one fixed IEEE
    operation order, so results are bit-identical to DuckDB's
    ``list_reduce(list_prepend(0.0, list(v ORDER BY ...)), ...)``
    (the established x9 left-fold strategy); alpha defaults to 0.25,
    exact in binary, so the coefficients 0.25/0.75 carry no decimal
    rounding. ``order_cols`` must be a total order (e.g. ts +
    event_id) or the fold order is undefined.

    At 100 TB: one groupBy on the series key; per-series state is the
    series itself (collect_list + in-row array_sort + fold), bounded
    by events-per-entity — the inherent cost of an order-dependent
    recurrence, paid on a (order, value) projection, never the full
    row. Returns (*key_cols, n_events, ewma).
    """
    a = float(alpha)
    assert 0.0 < a < 1.0
    srt = F.array_sort(
        F.collect_list(
            F.struct(*[F.col(c) for c in order_cols], F.col(val_col).alias("__v"))
        )
    )
    g = df.groupBy(*[F.col(c) for c in key_cols]).agg(
        F.count(F.lit(1)).alias("n_events"), srt.alias("__s")
    )
    fold = (
        f"aggregate(transform(__s, s -> s.__v), cast(0.0 as double), "
        f"(acc, x) -> acc * {1.0 - a!r} + {a!r} * x)"
    )
    return g.select(
        *key_cols, "n_events", F.expr(fold).alias("ewma")
    )


def _rank_pair_med2(df: DataFrame, col: str, out: str, extra_aggs=()) -> DataFrame:
    """Per-``__k`` rank-pair median sum ``v[(n+1) div 2] + v[(n+2) div 2]``
    (twice the interpolated median, integer-exact) via one row_number
    window + one conditional rank-sum aggregation — the single
    implementation behind robust_anomaly's and robust_stats' driver
    oracles (m8/t14), so the rank-pair definition cannot drift between
    them. Tie-safe: rows tied at a rank carry equal values."""
    lo = "((__n + 1) div 2)"
    hi = "((__n + 2) div 2)"
    wk = W.partitionBy("__k")
    r = df.select(
        "*",
        F.row_number().over(wk.orderBy(col)).alias("__rn"),
        F.count(F.lit(1)).over(wk).alias("__n"),
    )
    return r.groupBy("__k").agg(
        *extra_aggs,
        (
            F.sum(F.when(F.expr(f"__rn = {lo}"), F.col(col)).otherwise(F.lit(0)))
            + F.sum(F.when(F.expr(f"__rn = {hi}"), F.col(col)).otherwise(F.lit(0)))
        )
        .cast("long")
        .alias(out),
    )


def robust_anomaly(
    df: DataFrame,
    key_col: str,
    ts_col: str,
    val_col: str,
    quantum: int = 1_000_000,
    k_num: int = 3,
    k_den: int = 1,
) -> DataFrame:
    """Per-series robust anomaly flags (Hampel filter): aggregate the
    events of each key into daily totals, then flag the days whose
    total deviates from the series MEDIAN by more than ``k_num/k_den``
    times the series MAD (median absolute deviation) — the standard
    outlier detector that, unlike z-scores, a single huge spike cannot
    mask.

    Exactness: values quantize once (``floor(v*quantum + 0.5)``, the
    x45 half-up) so daily totals are associative integer sums, and both
    medians use the explicit rank-pair definition — ``med2 = v[(n+1)
    div 2] + v[(n+2) div 2]`` (twice the interpolated median, but
    integer-exact) — so the flag comparison ``2*dev2 > (k·mad4)`` is
    pure integer arithmetic, bit-reproducible and engine-independent.
    ``dev2 = |2·x − med2|`` is twice the absolute deviation; ``mad4``
    is the rank-pair median of dev2 (= 4·MAD); the flag inequality
    ``2·k_den·dev2 > k_num·mad4`` is exactly |x − med| > k·MAD.

    At 100 TB: the daily rollup is one map-side-combinable groupBy on
    (key, day); everything after runs on series-cardinality × days
    rows. The two rank windows partition per key — bounded by days per
    series (3 650 rows per key per decade), never by raw event volume.
    Returns (key, day, daily_total_q, med2, mad4, is_anomaly).
    """
    q = df.select(
        F.col(key_col).alias("__k"),
        F.to_date(F.col(ts_col)).alias("day"),
        F.floor(F.col(val_col).cast("double") * F.lit(float(quantum)) + F.lit(0.5))
        .cast("long")
        .alias("__qv"),
    )
    daily = q.groupBy("__k", "day").agg(F.sum("__qv").cast("long").alias("daily_total_q"))
    med = _rank_pair_med2(daily, "daily_total_q", "med2")
    d = daily.join(F.broadcast(med), "__k").withColumn(
        "__dev2", F.abs(F.lit(2) * F.col("daily_total_q") - F.col("med2"))
    )
    mad = _rank_pair_med2(d, "__dev2", "mad4")
    return (
        d.join(F.broadcast(mad), "__k")
        .select(
            F.col("__k").alias(key_col),
            "day",
            "daily_total_q",
            "med2",
            "mad4",
            (
                F.lit(2 * k_den) * F.col("__dev2") > F.lit(k_num) * F.col("mad4")
            ).alias("is_anomaly"),
        )
    )


def holt_linear(
    df: DataFrame,
    key_cols: list[str],
    order_cols: list[str],
    val_col: str,
    alpha: float = 0.5,
    beta: float = 0.25,
) -> DataFrame:
    """Per-series Holt linear-trend smoothing (double exponential):
    fold each key's (order_cols)-sorted values through the coupled
    recurrence ``l' = α·x + (1−α)·(l + b); b' = β·(l' − l) + (1−β)·b``
    from (0, 0), returning the final level, trend, and the one-step
    forecast ``level + trend`` — the trend-aware upgrade over the
    ``ewma`` operator for metrics that drift.

    Bit-exactness: the fold is ONE fixed left-to-right IEEE sequence —
    the l' expression is inlined (identically) inside the b' update, so
    both engines execute the same op order; α=0.5 and β=0.25 are exact
    in binary. The DuckDB twin replays the recurrence via a RECURSIVE
    CTE over row_number()-indexed series rows, NOT a struct-typed
    ``list_reduce``: DuckDB 1.0 evaluates struct lambda fields
    sequentially in place, so a later field reading ``acc.l`` observes
    the current iteration's freshly-written l (verified empirically —
    ``b: acc.l`` returns the NEW l after multi-step folds), which
    silently corrupts any coupled recurrence.

    At 100 TB: identical shape to ``ewma`` — one groupBy on the series
    key, per-series state is the (order, value) projection of the
    series. Returns (*key_cols, n_events, level, trend, forecast).
    """
    a, b = float(alpha), float(beta)
    assert 0.0 < a < 1.0 and 0.0 < b < 1.0
    srt = F.array_sort(
        F.collect_list(
            F.struct(*[F.col(c) for c in order_cols], F.col(val_col).alias("__v"))
        )
    )
    g = df.groupBy(*[F.col(c) for c in key_cols]).agg(
        F.count(F.lit(1)).alias("n_events"), srt.alias("__s")
    )
    lnew = f"({a!r} * x + {1.0 - a!r} * (acc.l + acc.b))"
    fold = (
        f"aggregate(transform(__s, s -> cast(s.__v as double)), "
        f"named_struct('l', cast(0.0 as double), 'b', cast(0.0 as double)), "
        f"(acc, x) -> named_struct("
        f"'l', {lnew}, "
        f"'b', {b!r} * ({lnew} - acc.l) + {1.0 - b!r} * acc.b))"
    )
    return g.select(
        *key_cols, "n_events", F.expr(fold).alias("__hl")
    ).select(
        *key_cols,
        "n_events",
        F.col("__hl.l").alias("level"),
        F.col("__hl.b").alias("trend"),
        (F.col("__hl.l") + F.col("__hl.b")).alias("forecast"),
    )


def robust_stats(
    df: DataFrame,
    key_col: str,
    val_col: str,
    quantum: int = 1_000_000,
) -> DataFrame:
    """Per-key robust location/scale stats over INDIVIDUAL values:
    the rank-pair median (``med2`` = twice the median, integer-exact)
    and rank-pair MAD (``mad4`` = four times the MAD) of the quantized
    value distribution — the reference profile a streaming scorer
    (t14) joins against to flag arriving events, and the per-value
    counterpart of ``robust_anomaly``'s daily-total stats.

    Same exactness contract as ``robust_anomaly``: quantize once
    (half-up), medians as conditional rank sums — every output is an
    integer, so downstream flag comparisons are engine-independent.

    At 100 TB: the rank windows sort the fact per key — this is the
    EXPENSIVE exact formulation, chosen so the stats themselves are
    oracle-checkable; a production refresh would swap
    approx_percentile here without touching consumers (the output
    schema is the contract, dimension-sized: one row per key).
    Returns (key, n_values, med2, mad4).
    """
    q = df.select(
        F.col(key_col).alias("__k"),
        F.floor(F.col(val_col).cast("double") * F.lit(float(quantum)) + F.lit(0.5))
        .cast("long")
        .alias("__qv"),
    )
    med = _rank_pair_med2(
        q,
        "__qv",
        "med2",
        extra_aggs=(F.count(F.lit(1)).cast("long").alias("n_values"),),
    )
    d = q.join(F.broadcast(med.select("__k", "med2")), "__k").withColumn(
        "__dev2", F.abs(F.lit(2) * F.col("__qv") - F.col("med2"))
    )
    mad = _rank_pair_med2(d, "__dev2", "mad4")
    return (
        med.join(F.broadcast(mad), "__k")
        .select(
            F.col("__k").alias(key_col), "n_values", "med2", "mad4"
        )
    )


def seasonality_profile(
    df: DataFrame,
    key_col: str,
    ts_col: str,
    val_col: str,
) -> DataFrame:
    """Per-key day-of-week x hour-of-day seasonality matrix: event
    count, exact mean value, and the cell's share of the key's total
    volume — the weekly-rhythm profile capacity planning and
    anomaly-baseline jobs read. ``dow`` is 0=Sunday..6 (Spark's
    dayofweek()-1, matching DuckDB's dayofweek()).

    Determinism: the mean is the decimal-cast exact sum divided by the
    exact count (the registry convention — never AVG(double)); the
    share divides two exact counts. One map-side-combinable groupBy on
    (key, dow, hour); the share window runs on the aggregated frame
    (at most 168 rows per key). Returns (key, dow, hour, n_events,
    mean_value, share_of_key).
    """
    g = df.groupBy(
        F.col(key_col),
        (F.dayofweek(F.col(ts_col)) - F.lit(1)).cast("int").alias("dow"),
        F.hour(F.col(ts_col)).cast("int").alias("hour"),
    ).agg(
        F.count(F.lit(1)).cast("long").alias("n_events"),
        F.sum(F.col(val_col).cast("decimal(38,6)")).alias("__sum"),
    )
    wk = W.partitionBy(key_col)
    return g.select(
        key_col,
        "dow",
        "hour",
        "n_events",
        (F.col("__sum").cast("double") / F.col("n_events").cast("double")).alias(
            "mean_value"
        ),
        (
            F.col("n_events").cast("double")
            / F.sum("n_events").over(wk).cast("double")
        ).alias("share_of_key"),
    )
