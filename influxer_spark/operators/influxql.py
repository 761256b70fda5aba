"""InfluxQL function library over series frames (bucket/ts, keys…, value).

The reference pushes points INTO InfluxDB; its users then query them with
InfluxQL's aggregate / selector / transform functions.  "A user of the
reference could switch and run every query they run today" therefore needs
these semantics natively (the rollup tiers already cover count/sum/min/max/
mean):

aggregates:   spread, stddev (sample), median, percentile (nearest-rank),
              mode (ties → smallest value), integral (trapezoidal)
selectors:    first, last (by timestamp), top(n), bottom(n)
transforms:   difference, derivative(unit), non_negative_derivative,
              elapsed, moving_average(n), cumulative_sum

All are Column/window expressions (no UDFs): per-series transforms share
ONE partitionBy(keys).orderBy(ts) sort; aggregates are single-shuffle
groupBys — the same physical shapes as the rollup tiers, so everything
scales identically.

Semantics notes (InfluxQL reference behavior):
- percentile(p) is NEAREST-RANK with InfluxDB's rounding: the element at
  1-based rank floor(n*p/100 + 0.5) of the sorted values — an actual data
  point, not an interpolation; no row when the rank rounds below 1.
- derivative yields (v-prev)/(t-prev) scaled to ``unit`` seconds; first row
  of each series yields nothing.
- moving_average(n) emits only once n points have accumulated.
- integral is the trapezoid area between consecutive points per unit.
"""

from __future__ import annotations

from collections.abc import Callable, Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def _series_window(key_cols: Sequence[str], ts_col: str) -> Window:
    return Window.partitionBy(*[F.col(k) for k in key_cols]).orderBy(ts_col)


def _vc(value: str | Column) -> Column:
    """Transforms accept a column NAME or a computed Column (the InfluxQL
    string front-end feeds staged aggregate expressions straight in)."""
    return F.col(value) if isinstance(value, str) else value


# ---------------------------------------------------------------------------
# aggregates (per (keys) or (keys, bucket) group — pass the full group key)
# ---------------------------------------------------------------------------

def agg_spread(df: DataFrame, group_cols: Sequence[str], value_col: str) -> DataFrame:
    v = F.col(value_col)
    return df.groupBy(*group_cols).agg((F.max(v) - F.min(v)).alias("spread"))


def agg_percentile(
    df: DataFrame, group_cols: Sequence[str], value_col: str, p: float
) -> DataFrame:
    """Nearest-rank percentile, InfluxDB's exact rounding: the value at
    1-based rank ``floor(n*p/100 + 0.5)`` of the sorted values — an actual
    data point, not an interpolation.  When the rank rounds below 1 the
    group emits NO row (InfluxDB returns nothing), unlike a clamped ceil.
    NULL values are ignored (InfluxDB semantics) — without the filter they
    would sort first and shift the rank onto the wrong point."""
    df = df.filter(F.col(value_col).isNotNull())
    w = Window.partitionBy(*group_cols).orderBy(value_col)
    ranked = df.withColumn("_rn", F.row_number().over(w)).withColumn(
        "_n", F.count("*").over(Window.partitionBy(*group_cols))
    )
    target = F.floor(F.lit(p) / 100.0 * F.col("_n") + 0.5).cast("int")
    return (
        ranked.filter((target >= 1) & (F.col("_rn") == target))
        .select(*group_cols, F.col(value_col).alias(f"p{int(p)}"))
    )


def agg_median(df: DataFrame, group_cols: Sequence[str], value_col: str) -> DataFrame:
    """InfluxQL median = percentile(50) nearest-rank."""
    return agg_percentile(df, group_cols, value_col, 50.0).withColumnRenamed(
        "p50", "median"
    )


def agg_mode(df: DataFrame, group_cols: Sequence[str], value_col: str) -> DataFrame:
    """Most frequent value; ties break to the SMALLEST value."""
    counts = df.groupBy(*group_cols, value_col).agg(F.count("*").alias("_c"))
    w = Window.partitionBy(*group_cols).orderBy(F.desc("_c"), F.asc(value_col))
    return (
        counts.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .select(*group_cols, F.col(value_col).alias("mode"))
    )


def agg_integral(
    df: DataFrame,
    group_cols: Sequence[str],
    ts_col: str,
    value_col: str,
    unit_seconds: int = 1,
) -> DataFrame:
    """Trapezoidal area under the series per group, per ``unit_seconds``."""
    w = _series_window(group_cols, ts_col)
    t = F.unix_timestamp(F.col(ts_col).cast("timestamp")).cast("double")
    pv, pt = F.lag(value_col).over(w), F.lag(t).over(w)
    area = (F.col(value_col) + pv) / 2.0 * (t - pt)
    return (
        df.withColumn("_a", area)
        .groupBy(*group_cols)
        .agg((F.sum("_a") / unit_seconds).alias("integral"))
    )


# ---------------------------------------------------------------------------
# selectors
# ---------------------------------------------------------------------------

def sel_first_last(
    df: DataFrame, group_cols: Sequence[str], ts_col: str, value_col: str
) -> DataFrame:
    """first()/last(): the value at the min/max timestamp per group (ties on
    equal timestamps break to the smaller value for determinism)."""
    v, t = F.col(value_col), F.col(ts_col)
    return df.groupBy(*group_cols).agg(
        F.min(F.struct(t, v)).getField(value_col).alias("first_v"),
        F.max(F.struct(t, v)).getField(value_col).alias("last_v"),
    )


def sel_top(
    df: DataFrame, group_cols: Sequence[str], value_col: str, n: int,
    ts_col: str = "ts", bottom: bool = False,
) -> DataFrame:
    """top(n)/bottom(n): n extreme points per group; ties break to the
    earlier timestamp (deterministic total order)."""
    order = [F.asc(value_col)] if bottom else [F.desc(value_col)]
    w = Window.partitionBy(*group_cols).orderBy(*order, F.asc(ts_col))
    return (
        df.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= n)
        .select(*group_cols, ts_col, value_col, F.col("_rn").alias("rank"))
    )


def sel_top_tags(
    df: DataFrame, group_cols: Sequence[str], value_col: str,
    tag_cols: Sequence[str], n: int, ts_col: str = "ts", bottom: bool = False,
) -> DataFrame:
    """InfluxQL ``top(field, tag_key…, N)``: the extreme point of each of
    the N most-extreme tag values — one point per distinct tag combo (its
    greatest/least value; ties → earlier timestamp), then the top/bottom N
    of those per group.  Two windows = two exchanges, but the second only
    moves the per-tag maxima (one row per tag combo — series cardinality,
    not points), so it is a no-op at scale."""
    order = [F.asc(value_col)] if bottom else [F.desc(value_col)]
    w_tag = Window.partitionBy(
        *[F.col(k) for k in group_cols], *[F.col(t) for t in tag_cols]
    ).orderBy(*order, F.asc(ts_col))
    per_tag = (
        df.withColumn("_rt", F.row_number().over(w_tag))
        .filter(F.col("_rt") == 1)
        .drop("_rt")
    )
    w_grp = Window.partitionBy(*[F.col(k) for k in group_cols]).orderBy(
        *order, F.asc(ts_col), *[F.asc(t) for t in tag_cols]
    )
    return (
        per_tag.withColumn("_rn", F.row_number().over(w_grp))
        .filter(F.col("_rn") <= n)
        .select(
            *group_cols, ts_col, *tag_cols, value_col,
            F.col("_rn").alias("rank"),
        )
    )


def sel_sample(
    df: DataFrame, group_cols: Sequence[str], ts_col: str, value_col: str, n: int
) -> DataFrame:
    """sample(n): n points per group.  InfluxQL samples randomly; here the
    choice is SEEDED-deterministic (md5 of the group+timestamp) so reruns,
    retries, and the correctness oracle all see the same sample — at
    pipeline scale a nondeterministic sample is a reproducibility bug."""
    key = F.md5(
        F.concat_ws(
            "|", *group_cols,
            F.unix_timestamp(F.col(ts_col).cast("timestamp")).cast("string"),
        )
    )
    w = Window.partitionBy(*group_cols).orderBy(key)
    return (
        df.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= n)
        .select(*group_cols, ts_col, value_col)
    )


# ---------------------------------------------------------------------------
# per-series transforms (one shared sort)
# ---------------------------------------------------------------------------

def tr_difference(
    df: DataFrame, key_cols: Sequence[str], ts_col: str, value_col: str | Column
) -> Column:
    w = _series_window(key_cols, ts_col)
    v = _vc(value_col)
    return v - F.lag(v).over(w)


def tr_non_negative_difference(
    df: DataFrame, key_cols: Sequence[str], ts_col: str, value_col: str | Column
) -> Column:
    """InfluxQL non_negative_difference(): like difference() but negative
    results are dropped (NULL here; the frontend's transform-NULL filter
    removes the rows, matching InfluxDB emitting nothing for them)."""
    d = tr_difference(df, key_cols, ts_col, value_col)
    return F.when(d >= 0, d)


def tr_derivative(
    df: DataFrame,
    key_cols: Sequence[str],
    ts_col: str,
    value_col: str | Column,
    unit_seconds: int = 1,
) -> Column:
    w = _series_window(key_cols, ts_col)
    t = F.unix_timestamp(F.col(ts_col).cast("timestamp")).cast("double")
    v = _vc(value_col)
    dv = v - F.lag(v).over(w)
    dt = t - F.lag(t).over(w)
    return F.when(dt > 0, dv / dt * unit_seconds)


def tr_non_negative_derivative(
    df: DataFrame,
    key_cols: Sequence[str],
    ts_col: str,
    value_col: str | Column,
    unit_seconds: int = 1,
) -> Column:
    d = tr_derivative(df, key_cols, ts_col, value_col, unit_seconds)
    return F.when(d >= 0, d)


def tr_elapsed(
    df: DataFrame, key_cols: Sequence[str], ts_col: str, unit_seconds: int = 1
) -> Column:
    """InfluxQL elapsed(): integer count of whole units between consecutive
    points (InfluxDB divides the ns delta by the unit with integer
    truncation — fractional units are floored away)."""
    w = _series_window(key_cols, ts_col)
    t = F.unix_timestamp(F.col(ts_col).cast("timestamp"))
    return F.floor((t - F.lag(t).over(w)) / unit_seconds).cast("long")


def tr_moving_average(
    df: DataFrame, key_cols: Sequence[str], ts_col: str, value_col: str | Column, n: int
) -> Column:
    """Average of the trailing n points; NULL until n points accumulated."""
    w = _series_window(key_cols, ts_col).rowsBetween(-(n - 1), 0)
    v = _vc(value_col)
    return F.when(F.count(v).over(w) == n, F.avg(v).over(w))


def tr_moving_percentile(
    df: DataFrame,
    key_cols: Sequence[str],
    ts_col: str,
    value_col: str | Column,
    p: float,
    n: int,
) -> Column:
    """Nearest-rank percentile of the trailing n points (engine extension;
    Kapacitor's movingPercentile — InfluxQL has moving_average only).
    Same rank rule as ``agg_percentile`` (the value at 1-based rank
    floor(n·p/100 + 0.5) of the sorted window — an actual point, never an
    interpolation) and the same emission rule as ``tr_moving_average``:
    NULL until n points accumulated.  The window is n rows (bounded, sorts
    n-element arrays per row) — memory is O(n) per row regardless of
    series length, unlike the fold family."""
    w = _series_window(key_cols, ts_col).rowsBetween(-(n - 1), 0)
    v = _vc(value_col)
    arr = F.sort_array(F.collect_list(v).over(w))
    rank = F.floor(F.lit(n) * F.lit(p) / 100.0 + 0.5).cast("int")
    return F.when(
        (F.size(arr) == n) & (F.lit(rank) >= 1), F.element_at(arr, rank)
    )


def tr_counter_rate(
    df: DataFrame,
    key_cols: Sequence[str],
    ts_col: str,
    value_col: str | Column,
    unit_seconds: int = 1,
) -> Column:
    """Counter-reset-aware rate (engine extension; the Prometheus
    ``rate()`` / TimescaleDB ``counter_agg`` semantics InfluxQL lacks):
    like ``non_negative_derivative`` but a DROP in a monotonic counter is
    a process restart, so the post-reset value IS the delta (the counter
    restarted from 0), not a discarded point.  Per-row window expression
    over the shared series sort; emits nothing for the first point."""
    w = _series_window(key_cols, ts_col)
    v = _vc(value_col)
    t = F.unix_timestamp(F.col(ts_col).cast("timestamp")).cast("double")
    d = v - F.lag(v).over(w)
    adj = F.when(d < 0, v).otherwise(d)
    dt = t - F.lag(t).over(w)
    return F.when(dt > 0, adj / dt * unit_seconds)


def tr_counter_increase(
    df: DataFrame,
    key_cols: Sequence[str],
    ts_col: str,
    value_col: str | Column,
) -> Column:
    """Reset-adjusted per-point increase (the Prometheus ``increase()``
    numerator; completes the counter family around ``tr_counter_rate``):
    the positive delta, except a counter DROP is a restart so the
    post-reset value IS the increase.  Summing it over ``GROUP BY
    time(w)`` (front-end subquery) yields the range-window increase.
    NULL for the first point of a series (no baseline)."""
    w = _series_window(key_cols, ts_col)
    v = _vc(value_col)
    d = v - F.lag(v).over(w)
    return F.when(d < 0, v).otherwise(d)


def tr_counter_resets(
    df: DataFrame,
    key_cols: Sequence[str],
    ts_col: str,
    value_col: str | Column,
) -> Column:
    """Counter-reset indicator (Prometheus ``resets()`` numerator): 1 when
    the value dropped vs the previous point, 0 when it didn't, NULL for
    the first point.  Emitted as an indicator rather than a running count
    because stacking a cumulative window on the lag window would nest
    window functions in one expression — sum it in an outer aggregation
    (``SELECT sum(r) FROM (SELECT counter_resets(v) AS r ...) GROUP BY
    time(1d)``), which the front-end's subquery support plans as two
    window/agg stages over one series exchange."""
    w = _series_window(key_cols, ts_col)
    v = _vc(value_col)
    d = v - F.lag(v).over(w)
    return (
        F.when(d < 0, 1).when(d >= 0, 0).cast("long")
    )


def tr_cumulative_sum(
    df: DataFrame, key_cols: Sequence[str], ts_col: str, value_col: str | Column
) -> Column:
    w = _series_window(key_cols, ts_col).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    return F.sum(_vc(value_col)).over(w)


def tr_sigma(
    df: DataFrame, key_cols: Sequence[str], ts_col: str, value_col: str | Column
) -> Column:
    """Kapacitor's stateful ``sigma()``: how many standard deviations the
    current point sits from the RUNNING mean (expanding window including
    the point itself, sample variance n−1) — the classic streaming-alert
    predicate (``|v.sigma > 3``).  Engine extension: InfluxQL itself has
    no sigma; Kapacitor computes it per point with Welford updates.

    Emission rule: the first point of a series and zero-variance prefixes
    emit 0.0 (a point cannot deviate from a history that is all itself).

    Determinism: expressed as exact expanding sums — n, S1=Σv, S2=Σv² —
    composed as ``abs(v − S1/n) / sqrt((n·S2 − S1²)/(n·(n−1)))``.  For
    integer-valued inputs every intermediate is an exactly-represented
    integer, so the doubles are bit-identical to any oracle that mirrors
    the same expression tree (no Welford order-dependence)."""
    w = _series_window(key_cols, ts_col).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    v = _vc(value_col)
    n = F.count(v).over(w).cast("double")
    s1 = F.sum(v).over(w)
    s2 = F.sum(v * v).over(w)
    m2 = n * s2 - s1 * s1  # n²·(population variance) — ≥ 0 up to fp error
    return F.when((n < 2) | (m2 <= 0), F.lit(0.0)).otherwise(
        F.abs(v - s1 / n) / F.sqrt(m2 / (n * (n - F.lit(1.0))))
    )


def _median_mad(
    df: DataFrame, key_cols: Sequence[str], value_col: str
) -> DataFrame:
    """df joined with its per-series nearest-rank median and MAD
    (columns ``_mu``, ``_ad``, ``_mad``); NULL values dropped (InfluxDB
    ignores null field values).  Shared by anomaly_mad and
    cusum_changepoints so the median semantics live in one place."""
    df = df.filter(F.col(value_col).isNotNull())
    med = agg_median(df, list(key_cols), value_col).withColumnRenamed(
        "median", "_mu"
    )
    with_med = df.join(F.broadcast(med), on=list(key_cols), how="inner")
    absdev = with_med.withColumn(
        "_ad", F.abs(F.col(value_col) - F.col("_mu"))
    )
    mad = agg_median(absdev, list(key_cols), "_ad").withColumnRenamed(
        "median", "_mad"
    )
    return absdev.join(F.broadcast(mad), on=list(key_cols), how="inner")


def cusum_changepoints(
    df: DataFrame,
    key_cols: Sequence[str],
    ts_col: str,
    value_col: str,
    slack_mads: float = 0.5,
    h_mads: float = 5.0,
) -> DataFrame:
    """Tabular CUSUM changepoint detection (Page 1954, public) per series:
    s⁺ = max(0, s⁺ + (v − μ − k)), s⁻ = max(0, s⁻ + (μ − k − v)); alarm
    when either exceeds h.  Catches sustained LEVEL SHIFTS that per-point
    outlier tests (anomaly_mad) miss.

    μ is the nearest-rank median and k/h are in MAD units, so every input
    to the recurrence is an exact data-point-derived double (no float
    summation anywhere except the recurrence itself, which the oracle's
    recursive CTE replays in identical order).  One grouped-median pass ×2
    + the per-series fold — same shuffle shape as the TA transforms.

    Output: (keys…, ts, v, s_pos, s_neg, alarm).
    """
    src = _median_mad(df, key_cols, value_col)
    slack = F.lit(slack_mads) * F.col("_mad")
    h = F.lit(h_mads) * F.col("_mad")
    g = _collected(
        src, key_cols, ts_col, value_col,
        extra={"mu": F.col("_mu"), "sl": slack, "h": h},
    )

    def step(st: Column, x: Column) -> Column:
        up = st["sp"] + (x["v"] - x["mu"] - x["sl"])
        dn = st["sn"] + (x["mu"] - x["sl"] - x["v"])
        sp2 = F.when(up > 0, up).otherwise(F.lit(0.0))
        sn2 = F.when(dn > 0, dn).otherwise(F.lit(0.0))
        return F.struct(sp2.alias("sp"), sn2.alias("sn"))

    init = F.struct(F.lit(0.0).alias("sp"), F.lit(0.0).alias("sn"))
    # emit (t, sp) and (t, sn) streams via two folds sharing the arr, then
    # zip — cheaper than widening _fold_emit's point struct for one op
    sp_arr = _fold_emit(
        F.col("_arr"), init, step,
        lambda st, x: F.lit(True), lambda st, x: st["sp"],
    )
    sn_arr = _fold_emit(
        F.col("_arr"), init, step,
        lambda st, x: F.lit(True), lambda st, x: st["sn"],
    )
    zipped = F.zip_with(
        F.zip_with(
            F.col("_arr"), sp_arr,
            lambda a, p: F.struct(
                a["t"].alias("t"), a["v"].alias("v"),
                a["h"].alias("h"), p["v"].alias("sp"),
            ),
        ),
        sn_arr,
        lambda z, q: F.struct(
            z["t"].alias("t"), z["v"].alias("v"), z["sp"].alias("sp"),
            q["v"].alias("sn"),
            ((z["sp"] > z["h"]) | (q["v"] > z["h"])).alias("alarm"),
        ),
    )
    ex = g.select(*key_cols, F.explode(zipped).alias("_p"))
    return ex.select(
        *key_cols,
        F.col("_p.t").alias(ts_col),
        F.col("_p.v").alias(value_col),
        F.col("_p.sp").alias("s_pos"),
        F.col("_p.sn").alias("s_neg"),
        F.col("_p.alarm").alias("alarm"),
    )


def ewma_chart(
    df: DataFrame,
    key_cols: Sequence[str],
    ts_col: str,
    value_col: str,
    lam: float = 0.2,
    l_mads: float = 3.0,
) -> DataFrame:
    """EWMA control chart (Roberts 1959, public) per series — the third
    classic SPC monitor beside tr_sigma (Shewhart-style per-point) and
    cusum_changepoints (sustained shifts): z_t = λ·x_t + (1−λ)·z_{t−1}
    with z_0 = μ, alarming when z leaves μ ± L·σ̂·sqrt(λ/(2−λ)·(1−(1−λ)^{2t})).
    EWMA catches SMALL persistent drifts faster than Shewhart and localizes
    them better than CUSUM's cumulative sums.

    Exactness discipline (what makes the whole chart value-oracle-able):
    μ is the nearest-rank median and σ̂ the MAD (both real data points);
    λ, 1−λ, (1−λ)² and λ/(2−λ) are Python-computed double literals shared
    verbatim with the oracle; and the variance-inflation factor
    (1−λ)^{2t} is threaded through the fold as a running product (state
    ``f``) instead of pow() — a sequential multiply chain replays
    bit-for-bit in a recursive CTE, while pow's last ulp is libm's.

    One grouped-median pass ×2 + the per-series fold (same single-shuffle
    shape as the TA recurrence family; series length guarded by
    ``DEFAULT_MAX_SERIES_POINTS``).

    Output: (keys…, ts, v, ewma, ucl, lcl, alarm).
    """
    om = 1.0 - lam          # (1−λ) as the SAME double literal both engines use
    om2 = om * om           # (1−λ)²
    cfac = lam / (2.0 - lam)
    src = _median_mad(df, key_cols, value_col)
    g = _collected(
        src, key_cols, ts_col, value_col,
        extra={"mu": F.col("_mu"), "mad": F.col("_mad")},
    )

    def step(st: Column, x: Column) -> Column:
        # f == 1.0 exactly ⇔ no step has run yet (f only shrinks by ·(1−λ)²)
        zprev = F.when(st["f"] == 1.0, x["mu"]).otherwise(st["z"])
        z2 = F.lit(lam) * x["v"] + F.lit(om) * zprev
        f2 = st["f"] * F.lit(om2)
        return F.struct(z2.alias("z"), f2.alias("f"))

    init = F.struct(F.lit(0.0).alias("z"), F.lit(1.0).alias("f"))
    # ONE fold emits both z (v) and the variance-inflation product f (w) —
    # a second _fold_emit over the same array would replay the whole O(L)
    # recurrence a second time for no new information
    zf_arr = _fold_emit(
        F.col("_arr"), init, step,
        lambda st, x: F.lit(True),
        lambda st, x: st["z"],
        emit_val2=lambda st, x: st["f"],
    )
    zipped = F.zip_with(
        F.col("_arr"), zf_arr,
        lambda a, p: F.struct(
            a["t"].alias("t"), a["v"].alias("v"), p["v"].alias("z"),
            (
                F.lit(l_mads) * a["mad"]
                * F.sqrt(F.lit(cfac) * (F.lit(1.0) - p["w"]))
            ).alias("hw"),
            a["mu"].alias("mu"),
        ),
    )
    ex = g.select(*key_cols, F.explode(zipped).alias("_p"))
    return ex.select(
        *key_cols,
        F.col("_p.t").alias(ts_col),
        F.col("_p.v").alias(value_col),
        F.col("_p.z").alias("ewma"),
        (F.col("_p.mu") + F.col("_p.hw")).alias("ucl"),
        (F.col("_p.mu") - F.col("_p.hw")).alias("lcl"),
        (
            (F.col("_p.z") > F.col("_p.mu") + F.col("_p.hw"))
            | (F.col("_p.z") < F.col("_p.mu") - F.col("_p.hw"))
        ).alias("alarm"),
    )


def deadman(
    df: DataFrame,
    key_cols: Sequence[str],
    ts_col: str,
    width_seconds: int,
    spine_bounds: tuple | None = None,
) -> DataFrame:
    """Deadman (no-data) alert — Kapacitor's signature monitor: per series,
    the epoch-aligned ``width_seconds`` buckets in which the series reported
    ZERO points (any point counts, even a NULL value — deadman watches
    liveness, not values).  Spine is each series' own observed [min, max]
    bucket range, or ``spine_bounds=(lo, hi)`` to pin the watched window
    (a monitor wants "now - 24h", not the series' own range, so a dead-since-
    yesterday series still alerts).

    Execution shape: one rollup-width count + the gap-fill spine machinery
    (per-series sequence, no calendar cross-join) + the filled-flag filter —
    O(buckets) per series, same single shuffle as gapfill.

    Returns (*key_cols, bucket, alert='deadman').
    """
    from influxer_spark.operators.gapfill import fill_buckets

    secs = F.unix_timestamp(F.col(ts_col).cast("timestamp"))
    bucket = F.timestamp_seconds(
        (secs - (secs % int(width_seconds))).cast("long")
    ).alias("bucket")
    counted = df.groupBy(bucket, *[F.col(k) for k in key_cols]).agg(
        F.count(F.lit(1)).alias("n")
    )
    filled = fill_buckets(
        counted, key_cols, ["n"], int(width_seconds),
        mode="null", spine_bounds=spine_bounds,
    )
    return (
        filled.where(F.col("filled"))
        .select(*key_cols, "bucket", F.lit("deadman").alias("alert"))
    )


def anomaly_mad(
    df: DataFrame,
    key_cols: Sequence[str],
    ts_col: str,
    value_col: str,
    k: float = 3.5,
) -> DataFrame:
    """Robust per-series anomaly flags: |v − median| > k·MAD (median
    absolute deviation) — the monitoring-side outlier test (Kapacitor's
    sigma() role, but median/MAD instead of mean/stddev so a burst of
    outliers can't mask itself by inflating the baseline).

    Exactness: both medians are NEAREST-RANK (the engine's percentile
    semantics) — actual data points, no interpolation and no float
    summation, so the oracle replays them bit-for-bit.  Emits every row
    with (med, mad, anomaly); MAD = 0 (constant series) flags any v ≠ med.

    Shape: two single-shuffle grouped medians on the SAME key + one
    broadcast-size join back (series cardinality, not points).
    """
    out = _median_mad(df, key_cols, value_col)
    return out.select(
        *key_cols, ts_col, value_col,
        F.col("_mu").alias("med"), F.col("_mad").alias("mad"),
        (F.col("_ad") > F.lit(k) * F.col("_mad")).alias("anomaly"),
    )


def alert_states(
    df: DataFrame,
    key_cols: Sequence[str],
    ts_col: str,
    value_col: str,
    warn: float,
    crit: float,
    transitions_only: bool = True,
) -> DataFrame:
    """Kapacitor-style threshold alert levels (the alert node's lambda
    levels): per point, ``CRIT`` when value ≥ crit, else ``WARN`` when
    ≥ warn, else ``OK``.  With ``transitions_only`` (Kapacitor's
    ``stateChangesOnly``), emit only the rows where the level CHANGED from
    the series' previous point — each series' first point always emits
    (prev level unknown), so downstream sees every alert edge exactly once.

    Completes the monitoring family beside :func:`deadman` (liveness),
    :func:`anomaly_mad` (robust outliers) and CUSUM (level shifts): this is
    the plain-threshold alerting a reference user runs in Kapacitor today.

    Shape: one window ``lag`` over the per-series sort — a single shuffle
    on the series key; the level CASE and the edge filter are pure Column
    expressions (whole-stage codegen).  Determinism: exact comparisons on
    exact values (tier means are integer-cents/100), so the oracle replays
    the CASE and the lag bit-for-bit.
    """
    lvl = (
        F.when(F.col(value_col) >= F.lit(crit), F.lit("CRIT"))
        .when(F.col(value_col) >= F.lit(warn), F.lit("WARN"))
        .otherwise(F.lit("OK"))
    )
    w = Window.partitionBy(*[F.col(k) for k in key_cols]).orderBy(ts_col)
    out = (
        df.select(*key_cols, ts_col, value_col)
        .withColumn("level", lvl)
        .withColumn("prev_level", F.lag("level").over(w))
    )
    if transitions_only:
        out = out.filter(
            F.col("prev_level").isNull()
            | (F.col("prev_level") != F.col("level"))
        )
    return out


# ---------------------------------------------------------------------------
# technical-analysis transforms (InfluxQL 1.8 "predictors & technical
# analysis" family).  Two execution shapes, both JVM-side (no Python):
#
# - trailing-window ops (chande_momentum_oscillator, kaufmans_efficiency_
#   ratio) are Column expressions over the shared series sort.  The trailing
#   sums are EXPLICIT oldest-first lag-addition chains, not frame SUMs: a
#   sliding-frame SUM's float addition order is engine-defined (DuckDB
#   windows sum pairwise via segment tree), so a chain is the only form the
#   oracle can replay bit-exactly.
#
# - recurrences (exponential_moving_average family, relative_strength_index,
#   kaufmans_adaptive_moving_average) cannot be window expressions — each
#   output depends on ALL history.  They run as one groupBy(series) →
#   sort_array(collect_list) → F.aggregate fold → explode: a single shuffle
#   on the series key, the fold itself a Catalyst higher-order function
#   (JVM, no Python workers).  The DuckDB oracles replay the identical
#   sequential recurrence with a recursive CTE, so doubles are bit-exact.
#   The fold is chunked (_fold_emit) so output-array construction is
#   LINEAR in series length — a naive appending fold is O(L²)
#   (measured: 63 s → 3.6 s for one 60k-point series).
#
# Semantics (pinned by tests/test_influxql_ta.py against plain-Python
# mirrors; InfluxDB implements these via the gota library):
# - EMA: alpha = 2/(n+1).  warmup_type "exponential" (InfluxDB default)
#   uses dynamic alpha 2/(i+1) for the first n points (point 1 → alpha 1,
#   i.e. seeded with the first value) and emits from the first point;
#   "simple" seeds with SMA(n) and emits from point n; "none" seeds with
#   the first value and applies the fixed alpha immediately.  ``hold``
#   (InfluxDB HOLD_PERIOD) suppresses output before the hold-th point.
# - DEMA = 2·EMA − EMA(EMA); TEMA = 3·EMA − 3·EMA² + EMA³ (each stage
#   re-smooths the previous stage's EMITTED stream, as InfluxDB does).
# - TRIX (triple_exponential_derivative) = 100·(e3ᵢ − e3ᵢ₋₁)/e3ᵢ₋₁.
# - RSI: Wilder — seed avg gain/loss = mean of the first n deltas, then
#   avg = (prev·(n−1) + cur)/n; RSI = 100 − 100/(1 + avgGain/avgLoss);
#   avgLoss = 0 → 100 (50 when avgGain is also 0).  Emits from point n+1.
# - CMO = 100·(ΣUp − ΣDown)/(ΣUp + ΣDown) over the trailing n deltas
#   (0 when the denominator is 0); emits once n deltas exist.
# - KER = |vᵢ − vᵢ₋ₙ| / Σ|Δ| over the same trailing n deltas (0 when the
#   volatility is 0).  KAMA: sc = (er·(2/3 − 2/31) + 2/31)², seeded with
#   the point-n value, kamaᵢ = kamaᵢ₋₁ + sc·(vᵢ − kamaᵢ₋₁) from point n+1.
# - NULL points: the fold-based ops (EMA family, RSI, KAMA) drop them
#   before folding (InfluxDB skips null points).  CMO/KER are POSITIONAL
#   window chains and cannot compact the series — a null delta contributes
#   0 to the up/down sums instead; feed them dense series (aggregate
#   buckets) when null compaction matters.
# ---------------------------------------------------------------------------

_TV = "array<struct<t:timestamp,v:double>>"
_TVW = "array<struct<t:timestamp,v:double,w:double>>"

_FOLD_CHUNK = 64


def _fold_emit(
    arr: Column, init_state: Column, step, emit_cond, emit_val, emit_val2=None
) -> Column:
    """Sequential fold over ``arr`` emitting (t, v) points — in LINEAR time.

    A naive F.aggregate that appends to its output array copies the whole
    array per element: O(L²) — measured 63 s for ONE 60k-point series.
    Two passes over ``_FOLD_CHUNK``-sized slices instead:

    1. boundary pass — fold chunk-by-chunk carrying ONLY the state,
       collecting the state at the start of every chunk (tiny appends);
    2. emit pass — one inner fold per chunk, seeded from its boundary
       state, appending within the chunk only, chunk outputs flattened.

    Copy cost is O(L·C/2) with no outer-concat term, so C can be small
    (sweep: naive 71 s → chunked-concat 23 s → two-pass ~13 s at 10M
    points, local[8]).  The boundary array is bound ONCE per row via a
    single-element-transform let (inlining it would re-evaluate the
    whole pass-1 fold per chunk).  State still threads strictly
    element-by-element in input order, so emitted doubles are
    bit-identical to the naive fold (and to the oracle's recursive CTE).

    ``step(state, x) -> state'`` (struct), ``emit_cond(state', x) -> bool``,
    ``emit_val(state', x) -> double``.  An optional ``emit_val2`` adds a
    second emitted double ``w`` per point in the SAME single fold — two
    separate _fold_emit calls over the same array would run the whole
    O(L) recurrence twice (ewma_chart's z and f are one fold this way).
    """
    c = _FOLD_CHUNK
    tv = _TV if emit_val2 is None else _TVW
    n_chunks = F.ceil(F.size(arr) / F.lit(c)).cast("int")
    idx = F.sequence(F.lit(0), n_chunks - 1)

    def chunk_of(i: Column) -> Column:
        return F.slice(arr, i * c + 1, c)

    # pass 1: bounds[i+1] = state BEFORE chunk i (bounds[1] = init)
    bounds = F.aggregate(
        idx,
        F.array(init_state),
        lambda b, i: F.concat(
            b, F.array(F.aggregate(chunk_of(i), F.element_at(b, -1), step))
        ),
    )

    def inner_merge(a: Column, x: Column) -> Column:
        s2 = step(a["state"], x)
        fields = [x["t"].alias("t"), emit_val(s2, x).alias("v")]
        if emit_val2 is not None:
            fields.append(emit_val2(s2, x).alias("w"))
        point = F.array(F.struct(*fields))
        out2 = F.when(
            emit_cond(s2, x), F.concat(a["out"], point)
        ).otherwise(a["out"])
        return F.struct(s2.alias("state"), out2.alias("out"))

    def emit_chunk(b: Column, i: Column) -> Column:
        return F.aggregate(
            chunk_of(i),
            F.struct(
                F.element_at(b, i + 1).alias("state"),
                F.array().cast(tv).alias("out"),
            ),
            inner_merge,
            lambda a: a["out"],
        )

    folded = F.element_at(
        F.transform(
            F.array(bounds),
            lambda b: F.flatten(F.transform(idx, lambda i: emit_chunk(b, i))),
        ),
        F.lit(1),
    )
    # sequence(0, -1) on an empty series would count DOWN — guard it
    return F.when(F.size(arr) == 0, F.array().cast(tv)).otherwise(folded)


def _delta_at(v: Column, j: int, w) -> Column:
    """The j-back delta vᵢ₋ⱼ − vᵢ₋ⱼ₋₁ built from PLAIN lags of v — window
    functions can't nest, so lag(gain, j) over a gain that itself contains
    lag(v) is illegal; lag(v, j) − lag(v, j+1) says the same thing legally."""
    cur = _vc(v) if j == 0 else F.lag(_vc(v), j).over(w)
    return cur - F.lag(_vc(v), j + 1).over(w)


def _delta_chain(v: Column, n: int, w, term: Callable[[Column], Column]) -> Column:
    """((term(Δₙ₋₁) + term(Δₙ₋₂)) + …) + term(Δ₀) — the trailing-n sum as
    an explicit oldest-first addition chain: a sliding-frame SUM's float
    order is engine-defined (DuckDB sums pairwise via segment tree), a
    chain is the one order the oracle replays bit-exactly.  NULL until
    n deltas exist (the oldest lag poisons the chain)."""
    acc = term(_delta_at(v, n - 1, w))
    for j in range(n - 2, -1, -1):
        acc = acc + term(_delta_at(v, j, w))
    return acc


def tr_chande_momentum_oscillator(
    df: DataFrame, key_cols: Sequence[str], ts_col: str,
    value_col: str | Column, n: int,
) -> Column:
    w = _series_window(key_cols, ts_col)
    up = _delta_chain(
        value_col, n, w, lambda d: F.when(d > 0, d).otherwise(F.lit(0.0))
    )
    down = _delta_chain(
        value_col, n, w, lambda d: F.when(d < 0, -d).otherwise(F.lit(0.0))
    )
    # the gain/loss CASE maps a NULL delta to 0.0, so the chain is NOT
    # poisoned by missing history — gate explicitly on the oldest lag
    avail = F.lag(_vc(value_col), n).over(w).isNotNull()
    return F.when(avail & (up + down == 0), F.lit(0.0)).when(
        avail, F.lit(100.0) * (up - down) / (up + down)
    )


def tr_kaufmans_efficiency_ratio(
    df: DataFrame, key_cols: Sequence[str], ts_col: str,
    value_col: str | Column, n: int,
) -> Column:
    w = _series_window(key_cols, ts_col)
    v = _vc(value_col)
    vol = _delta_chain(value_col, n, w, F.abs)
    change = F.abs(v - F.lag(v, n).over(w))
    return F.when(vol == 0, F.lit(0.0)).otherwise(change / vol)


# Per-series point cap for the fold family (TA recurrences, LTTB, ACF,
# seasonal decompose).  The fold design is O(points) compute but holds one
# series as a single struct array on one executor — ~24 B/point, so the
# default bounds a series to ~100 MB transient heap.  Beyond the cap the
# query FAILS with a counted message instead of silently OOMing an executor
# at 100× scale (one unbounded hot series is the classic failure).  InfluxQL
# queries are time-bounded per series, so real queries sit far below this;
# raise the cap (or pass None) deliberately, with executor memory to match.
DEFAULT_MAX_SERIES_POINTS = 4_000_000


def _collected(
    df: DataFrame, key_cols: Sequence[str], ts_col: str,
    value_col: str | Column, extra: dict[str, Column] | None = None,
    max_points: int | None = DEFAULT_MAX_SERIES_POINTS,
) -> DataFrame:
    """One row per series: (keys…, _arr) with _arr time-sorted.  ``extra``
    columns (e.g. window-derived smoothing constants) are materialized as
    projections FIRST — window expressions can't nest inside collect_list.

    ``max_points`` enforces the documented memory precondition: a series
    longer than the cap raises a counted error (see
    ``DEFAULT_MAX_SERIES_POINTS``) rather than OOMing downstream folds."""
    fields = [
        F.col(ts_col).cast("timestamp").alias("t"),
        _vc(value_col).cast("double").alias("v"),
    ]
    for name, c in (extra or {}).items():
        df = df.withColumn(f"_x_{name}", c)
        fields.append(F.col(f"_x_{name}").alias(name))
    # a NULL point would poison every later state in a recurrence; InfluxDB
    # series transforms skip null points, so drop them before collecting
    df = df.filter(_vc(value_col).isNotNull())
    grouped = df.groupBy(*key_cols).agg(
        F.sort_array(F.collect_list(F.struct(*fields))).alias("_arr")
    )
    return guard_series_points(grouped, "_arr", key_cols, max_points)


def guard_series_points(
    grouped: DataFrame, arr_col: str, key_cols: Sequence[str],
    max_points: int | None = DEFAULT_MAX_SERIES_POINTS,
) -> DataFrame:
    """Enforce the fold family's per-series memory precondition: if the
    collected array in ``arr_col`` exceeds ``max_points``, the job fails with
    a counted, keyed message instead of OOMing an executor downstream.  The
    check is a row-local projection on the already-grouped frame — no extra
    job or shuffle."""
    if max_points is None:
        return grouped
    over = F.size(arr_col) > max_points
    msg = F.concat(
        F.lit("series fold over "),
        F.concat_ws("/", *[F.col(k).cast("string") for k in key_cols]),
        F.lit(" has "),
        F.size(arr_col).cast("string"),
        F.lit(f" points > max_points={max_points}; narrow the time range "
              "or raise max_points with executor memory to match"),
    )
    return grouped.withColumn(
        arr_col, F.when(over, F.raise_error(msg)).otherwise(F.col(arr_col))
    )


def _explode_series(
    grouped: DataFrame, key_cols: Sequence[str], ts_col: str,
    arr: Column, out_name: str,
) -> DataFrame:
    return grouped.select(*key_cols, F.explode(arr).alias("_p")).select(
        *key_cols,
        F.col("_p.t").alias(ts_col),
        F.col("_p.v").alias(out_name),
    )


def _ema_arr(arr: Column, n: int, warmup: str) -> Column:
    """array<struct<t,v>> → array of EMITTED EMA points (see module note
    for warmup semantics).  Pure fold — bit-exact against the oracle's
    recursive CTE because both run a·v + (1−a)·prev in input order."""
    if warmup not in ("exponential", "none", "simple"):
        raise ValueError(f"unknown warmup_type {warmup!r}")
    alpha = 2.0 / (n + 1)

    def step(st: Column, x: Column) -> Column:
        i2 = st["i"] + 1
        if warmup == "exponential":
            a = F.when(i2 <= n, F.lit(2.0) / (i2 + F.lit(1.0))).otherwise(
                F.lit(alpha)
            )
        elif warmup == "none":
            a = F.when(i2 == 1, F.lit(1.0)).otherwise(F.lit(alpha))
        else:  # simple
            a = F.lit(alpha)  # only used past the seed
        if warmup == "simple":
            s2 = st["s"] + x["v"]
            ema2 = (
                F.when(i2 < n, F.lit(0.0))
                .when(i2 == n, s2 / F.lit(float(n)))
                .otherwise(a * x["v"] + (F.lit(1.0) - a) * st["ema"])
            )
        else:
            s2 = F.lit(0.0)
            ema2 = a * x["v"] + (F.lit(1.0) - a) * st["ema"]
        return F.struct(i2.alias("i"), ema2.alias("ema"), s2.alias("s"))

    init = F.struct(
        F.lit(0).cast("long").alias("i"),
        F.lit(0.0).alias("ema"),
        F.lit(0.0).alias("s"),
    )
    emit_cond = (
        (lambda st, x: st["i"] >= n) if warmup == "simple"
        else (lambda st, x: F.lit(True))
    )
    return _fold_emit(arr, init, step, emit_cond, lambda st, x: st["ema"])


def _hold_slice(out: Column, in_size: Column, hold: int) -> Column:
    """InfluxDB HOLD_PERIOD: suppress outputs for input points before the
    hold-th.  Emitted points are a suffix of the inputs, so dropping
    max(0, hold − first_emit_index) leading outputs implements it."""
    if hold <= 0:
        return out
    first_emit = in_size - F.size(out) + 1  # 1-based input index
    drop = F.greatest(F.lit(hold) - first_emit, F.lit(0))
    return F.slice(out, drop + 1, F.greatest(F.size(out) - drop, F.lit(0)))


def tr_exponential_moving_average(
    df: DataFrame, key_cols: Sequence[str], ts_col: str,
    value_col: str | Column, n: int, hold: int = 0,
    warmup: str = "exponential",
) -> DataFrame:
    g = _collected(df, key_cols, ts_col, value_col)
    out = _hold_slice(_ema_arr(F.col("_arr"), n, warmup), F.size("_arr"), hold)
    return _explode_series(g, key_cols, ts_col, out, "exponential_moving_average")


def _suffix_zip(a: Column, b: Column, combine) -> Column:
    """zip the SUFFIX of a (longer) with b (shorter): emitted streams are
    suffix-aligned, so position |a|−|b|+i of a matches position i of b."""
    off = F.size(a) - F.size(b)
    return F.zip_with(F.slice(a, off + 1, F.size(b)), b, combine)


def _dema_stages(g: DataFrame, n: int, warmup: str) -> DataFrame:
    """Materialize each EMA stage as a column: feeding one _fold_emit's
    expression tree into the next multiplies it (the fold references its
    input several times) — three nested stages blow the analyzer's
    iteration budget.  Projections keep every stage's input a plain
    attribute reference."""
    g = g.withColumn("_e1", _ema_arr(F.col("_arr"), n, warmup))
    g = g.withColumn("_e2", _ema_arr(F.col("_e1"), n, warmup))
    return g.withColumn("_e3", _ema_arr(F.col("_e2"), n, warmup))


def tr_double_exponential_moving_average(
    df: DataFrame, key_cols: Sequence[str], ts_col: str,
    value_col: str | Column, n: int, hold: int = 0,
    warmup: str = "exponential",
) -> DataFrame:
    g = _dema_stages(_collected(df, key_cols, ts_col, value_col), n, warmup)
    out = _suffix_zip(
        F.col("_e1"), F.col("_e2"),
        lambda a, b: F.struct(
            b["t"].alias("t"), (F.lit(2.0) * a["v"] - b["v"]).alias("v")
        ),
    )
    out = _hold_slice(out, F.size("_arr"), hold)
    return _explode_series(
        g, key_cols, ts_col, out, "double_exponential_moving_average"
    )


def tr_triple_exponential_moving_average(
    df: DataFrame, key_cols: Sequence[str], ts_col: str,
    value_col: str | Column, n: int, hold: int = 0,
    warmup: str = "exponential",
) -> DataFrame:
    g = _dema_stages(_collected(df, key_cols, ts_col, value_col), n, warmup)
    e1, e2, e3 = F.col("_e1"), F.col("_e2"), F.col("_e3")
    z23 = _suffix_zip(
        e2, e3,
        lambda b, c: F.struct(
            c["t"].alias("t"), b["v"].alias("bv"), c["v"].alias("cv")
        ),
    )
    out = _suffix_zip(
        e1, z23,
        lambda a, z: F.struct(
            z["t"].alias("t"),
            (
                F.lit(3.0) * a["v"] - F.lit(3.0) * z["bv"] + z["cv"]
            ).alias("v"),
        ),
    )
    out = _hold_slice(out, F.size("_arr"), hold)
    return _explode_series(
        g, key_cols, ts_col, out, "triple_exponential_moving_average"
    )


def tr_triple_exponential_derivative(
    df: DataFrame, key_cols: Sequence[str], ts_col: str,
    value_col: str | Column, n: int, hold: int = 0,
    warmup: str = "exponential",
) -> DataFrame:
    """TRIX: percent rate of change of the triple-smoothed EMA."""
    g = _dema_stages(_collected(df, key_cols, ts_col, value_col), n, warmup)
    e3 = F.col("_e3")
    ln = F.size(e3) - 1
    out = F.zip_with(
        F.slice(e3, 2, ln),
        F.slice(e3, 1, ln),
        lambda cur, prev: F.struct(
            cur["t"].alias("t"),
            F.when(prev["v"] == 0, F.lit(None).cast("double"))
            .otherwise(F.lit(100.0) * (cur["v"] - prev["v"]) / prev["v"])
            .alias("v"),
        ),
    )
    out = _hold_slice(out, F.size("_arr"), hold)
    return _explode_series(
        g, key_cols, ts_col, out, "triple_exponential_derivative"
    )


def tr_relative_strength_index(
    df: DataFrame, key_cols: Sequence[str], ts_col: str,
    value_col: str | Column, n: int,
) -> DataFrame:
    """Wilder RSI (see module note).  One fold carries (avgGain, avgLoss,
    prev); the seed phase accumulates plain sums so the seed average is a
    single division — the same op order the oracle's recursive CTE runs."""
    nf = float(n)

    def step(st: Column, x: Column) -> Column:
        i2 = st["i"] + 1
        d = x["v"] - st["prev"]
        g = F.when(d > 0, d).otherwise(F.lit(0.0))
        ls = F.when(d < 0, -d).otherwise(F.lit(0.0))
        ag2 = (
            F.when(i2 == 1, F.lit(0.0))
            .when(i2 <= n, st["ag"] + g)
            .when(i2 == n + 1, (st["ag"] + g) / F.lit(nf))
            .otherwise((st["ag"] * F.lit(nf - 1.0) + g) / F.lit(nf))
        )
        al2 = (
            F.when(i2 == 1, F.lit(0.0))
            .when(i2 <= n, st["al"] + ls)
            .when(i2 == n + 1, (st["al"] + ls) / F.lit(nf))
            .otherwise((st["al"] * F.lit(nf - 1.0) + ls) / F.lit(nf))
        )
        return F.struct(
            i2.alias("i"), x["v"].alias("prev"), ag2.alias("ag"),
            al2.alias("al"),
        )

    def rsi_val(st: Column, x: Column) -> Column:
        ag2, al2 = st["ag"], st["al"]
        return F.when(
            al2 == 0, F.when(ag2 == 0, F.lit(50.0)).otherwise(F.lit(100.0))
        ).otherwise(F.lit(100.0) - F.lit(100.0) / (F.lit(1.0) + ag2 / al2))

    init = F.struct(
        F.lit(0).cast("long").alias("i"), F.lit(0.0).alias("prev"),
        F.lit(0.0).alias("ag"), F.lit(0.0).alias("al"),
    )
    g = _collected(df, key_cols, ts_col, value_col)
    out = _fold_emit(
        F.col("_arr"), init, step, lambda st, x: st["i"] >= n + 1, rsi_val
    )
    return _explode_series(g, key_cols, ts_col, out, "relative_strength_index")


_KAMA_FAST, _KAMA_SLOW = 2, 30


def tr_kaufmans_adaptive_moving_average(
    df: DataFrame, key_cols: Sequence[str], ts_col: str,
    value_col: str | Column, n: int,
) -> DataFrame:
    """KAMA: the smoothing constant is computed PER ROW from the trailing
    efficiency ratio (a window chain, shares the series sort), then one
    fold runs the recurrence over (v, sc).

    NULL points are dropped BEFORE the er/sc windows — sc is an extra
    column computed on the pre-collect frame, so a null left in place
    would make the n lag chains after it NULL and poison the fold's state
    permanently (unlike EMA/RSI, which only see the null-skipped array)."""
    df = df.filter(_vc(value_col).isNotNull())
    c1 = 2.0 / (_KAMA_FAST + 1) - 2.0 / (_KAMA_SLOW + 1)
    c2 = 2.0 / (_KAMA_SLOW + 1)
    er = tr_kaufmans_efficiency_ratio(df, key_cols, ts_col, value_col, n)
    t = er * F.lit(c1) + F.lit(c2)
    sc = t * t

    def step(st: Column, x: Column) -> Column:
        i2 = st["i"] + 1
        k2 = (
            F.when(i2 < n, F.lit(0.0))
            .when(i2 == n, x["v"])  # seed (not emitted)
            .otherwise(st["kama"] + x["sc"] * (x["v"] - st["kama"]))
        )
        return F.struct(i2.alias("i"), k2.alias("kama"))

    init = F.struct(
        F.lit(0).cast("long").alias("i"), F.lit(0.0).alias("kama")
    )
    g = _collected(df, key_cols, ts_col, value_col, extra={"sc": sc})
    out = _fold_emit(
        F.col("_arr"), init, step,
        lambda st, x: st["i"] > n, lambda st, x: st["kama"],
    )
    return _explode_series(
        g, key_cols, ts_col, out, "kaufmans_adaptive_moving_average"
    )


def tr_matrix_profile(
    df: DataFrame, key_cols: Sequence[str], ts_col: str,
    value_col: str | Column, n: int,
) -> DataFrame:
    """``matrix_profile(field, m)`` as an InfluxQL fold-family transform:
    the per-bucket anomaly score is the nearest-neighbor squared distance
    of the m-bucket window STARTING at that bucket (exclusion zone m//2 —
    see operators/matrixprofile.py).  The series is quantized to exact
    1e-4 ticks first (round HALF_UP on doubles both engines computed
    identically), so the distances are associative BIGINT sums and the
    oracle replay is order-free.  Emits one row per window start — the
    final m−1 buckets have no window and are absent, like the transforms
    that consume n seeds.  Values fit doubles exactly (< 2^53)."""
    from influxer_spark.operators.matrixprofile import matrix_profile

    df = df.filter(_vc(value_col).isNotNull())
    keys = list(key_cols)
    ticks = df.select(
        *keys, F.col(ts_col),
        F.round(_vc(value_col) * 10000, 0).cast("long").alias("_mp_t"),
    )
    prof = matrix_profile(ticks, keys, ts_col, "_mp_t", m=n)
    w = Window.partitionBy(*keys).orderBy(ts_col)
    times = ticks.select(
        *keys, F.col(ts_col),
        (F.row_number().over(w) - 1).cast("int").alias("idx"),
    )
    return times.join(prof, [*keys, "idx"]).select(
        ts_col, *keys,
        F.col("nn_dist2").cast("double").alias("matrix_profile"),
    )
