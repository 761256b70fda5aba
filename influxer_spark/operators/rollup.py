"""Continuous-aggregate tier rollup (SURVEY.md A4, [delegated→build]).

The reference delegates per-point precision truncation + rollup to InfluxDB
(per-point Precision at Influxer/GenericFile.cs:54; retention-policy routing at
Influxer/GenericFile.cs:250-280).  Here the rollup is native Spark:

- ``rollup(df, tier)``       raw points → (bucket, series…) × (cnt, sum, min, max)
- ``cascade(rolled, tier)``  finer tier → coarser tier by ALGEBRAIC re-aggregation
  of partials: sum of counts, sum of sums, min of mins, max of maxes.  Mean is
  derived as sum/count at read time, so the cascaded mean is EXACT (not a mean
  of means).  This is the classic partial/final aggregate expressed as
  materialized tiers (1m → 1h → 1d) rather than one in-plan exchange.
- ``salted_rollup``          two-phase aggregation with an explicit salt for
  Zipfian hot series keys (north rule: "hot-url skew ... salted repartition").

Scale notes (100 TB posture):
- One shuffle per tier, keyed on (series, bucket).  The 1h/1d tiers re-shuffle
  the *rolled* data (orders of magnitude smaller than raw), never the raw scan.
- Spark's map-side partial aggregation already collapses hot keys per input
  partition before the exchange; salting is exposed for the pathological case
  where a single (key, bucket) pair exceeds a task (billions of identical
  points per minute).
- All bucket math is date_trunc (whole-stage-codegen JVM expression); no UDFs.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from influxer_spark.tiers import build_tiers

# tier name → (date_trunc unit, parent tier)
TIERS: dict[str, tuple[str, str | None]] = {
    "1m": ("minute", None),
    "1h": ("hour", "1m"),
    "1d": ("day", "1h"),
}

AGG_COLS = ["cnt", "sum_v", "min_v", "max_v"]


def _trunc_unit(tier: str) -> str:
    if tier not in TIERS:
        raise ValueError(f"unknown tier {tier!r}; expected one of {sorted(TIERS)}")
    return TIERS[tier][0]


def rollup(
    df: DataFrame,
    ts_col: str,
    key_cols: Sequence[str],
    value_col: str,
    tier: str = "1m",
) -> DataFrame:
    """Raw points → one row per (bucket, *key_cols) with count/sum/min/max.

    NULL values contribute to nothing (the reference skips blank cells and the
    point simply has no field — Influxer/GenericFile.cs:81), so ``cnt`` counts
    non-null values, matching SQL COUNT(value).
    """
    unit = _trunc_unit(tier)
    bucket = F.date_trunc(unit, F.col(ts_col)).alias("bucket")
    v = F.col(value_col)
    return (
        df.groupBy(bucket, *[F.col(k) for k in key_cols])
        .agg(
            F.count(v).alias("cnt"),
            F.sum(v).alias("sum_v"),
            F.min(v).alias("min_v"),
            F.max(v).alias("max_v"),
        )
    )


def cascade(rolled: DataFrame, key_cols: Sequence[str], tier: str) -> DataFrame:
    """Re-aggregate a finer tier's partials into ``tier`` (algebraic, exact)."""
    unit = _trunc_unit(tier)
    return (
        rolled.groupBy(
            F.date_trunc(unit, F.col("bucket")).alias("bucket"),
            *[F.col(k) for k in key_cols],
        )
        .agg(
            F.sum("cnt").alias("cnt"),
            F.sum("sum_v").alias("sum_v"),
            F.min("min_v").alias("min_v"),
            F.max("max_v").alias("max_v"),
        )
    )


def with_mean(rolled: DataFrame, decimals: int | None = None) -> DataFrame:
    """Attach the exact mean (sum/count).  Derived, never stored — cascading a
    stored mean would be a mean-of-means and wrong for uneven buckets."""
    mean = F.col("sum_v") / F.col("cnt")
    if decimals is not None:
        mean = F.round(mean, decimals)
    return rolled.withColumn("avg_v", mean)


def rollup_cascade_all(
    df: DataFrame,
    ts_col: str,
    key_cols: Sequence[str],
    value_col: str,
) -> dict[str, DataFrame]:
    """Full 1m → 1h → 1d cascade.  Only the 1m tier touches raw data."""
    t1m = rollup(df, ts_col, key_cols, value_col, "1m")
    t1h = cascade(t1m, key_cols, "1h")
    t1d = cascade(t1h, key_cols, "1d")
    return {"1m": t1m, "1h": t1h, "1d": t1d}


def rollup_width(
    df: DataFrame,
    ts_col: str,
    key_cols: Sequence[str],
    value_col: str,
    width_seconds: int,
) -> DataFrame:
    """Arbitrary-width bucket rollup — InfluxDB ``GROUP BY time(<w>)`` parity
    for widths the fixed tiers don't cover (5m, 15m, 4h, …).

    Bucket = epoch-aligned floor(ts / w) * w, computed as pure long math in
    codegen (no window() struct, no UDF) — identical semantics to InfluxDB's
    epoch-aligned bucketing for widths that divide a day.
    """
    if width_seconds <= 0:
        raise ValueError("width_seconds must be positive")
    secs = F.unix_timestamp(F.col(ts_col).cast("timestamp"))
    bucket = F.timestamp_seconds(
        (secs - (secs % width_seconds)).cast("long")
    ).alias("bucket")
    v = F.col(value_col)
    return (
        df.groupBy(bucket, *[F.col(k) for k in key_cols])
        .agg(
            F.count(v).alias("cnt"),
            F.sum(v).alias("sum_v"),
            F.min(v).alias("min_v"),
            F.max(v).alias("max_v"),
        )
    )


# ---------------------------------------------------------------------------
# Distinct-count sketches in the tiers.  count/sum/min/max cascade
# algebraically, but COUNT(DISTINCT user) does not — re-aggregating exact
# distinct counts across buckets is wrong (overlap) and carrying exact value
# sets is O(cardinality).  The classic continuous-aggregate answer is a
# MERGEABLE sketch per bucket: Spark's built-in Apache DataSketches HLL
# (hll_sketch_agg / hll_union_agg, JVM-side, no UDF).  Union of per-minute
# sketches == sketch of the union, so the 1m→1h→1d cascade stays exact
# *as a sketch*: the cascaded estimate is bit-identical to a direct rollup
# at the coarser tier (asserted in tests/test_rollup_sketch.py).  Storage
# is ~2^lg_k bytes per (bucket, series) regardless of cardinality — the
# property that keeps a 10^12-event distinct-users dashboard answerable
# from tiers instead of a raw COUNT(DISTINCT) over 100 TB.
# No DuckDB value-oracle by nature (DataSketches internals); accuracy and
# cascade-consistency are pinned by tests instead.
# ---------------------------------------------------------------------------


def rollup_with_distinct(
    df: DataFrame,
    ts_col: str,
    key_cols: Sequence[str],
    value_col: str,
    distinct_col: str,
    tier: str = "1m",
    lg_k: int = 12,
) -> DataFrame:
    """``rollup`` plus a mergeable HLL sketch of ``distinct_col`` per
    bucket (column ``uu_sketch: binary``)."""
    unit = _trunc_unit(tier)
    bucket = F.date_trunc(unit, F.col(ts_col)).alias("bucket")
    v = F.col(value_col)
    return (
        df.groupBy(bucket, *[F.col(k) for k in key_cols])
        .agg(
            F.count(v).alias("cnt"),
            F.sum(v).alias("sum_v"),
            F.min(v).alias("min_v"),
            F.max(v).alias("max_v"),
            F.hll_sketch_agg(F.col(distinct_col), F.lit(lg_k)).alias(
                "uu_sketch"
            ),
        )
    )


def cascade_with_distinct(
    rolled: DataFrame, key_cols: Sequence[str], tier: str
) -> DataFrame:
    """``cascade`` plus HLL union of the finer tier's sketches — the
    distinct-count analogue of sum-of-sums."""
    unit = _trunc_unit(tier)
    return (
        rolled.groupBy(
            F.date_trunc(unit, F.col("bucket")).alias("bucket"),
            *[F.col(k) for k in key_cols],
        )
        .agg(
            F.sum("cnt").alias("cnt"),
            F.sum("sum_v").alias("sum_v"),
            F.min("min_v").alias("min_v"),
            F.max("max_v").alias("max_v"),
            F.hll_union_agg(F.col("uu_sketch")).alias("uu_sketch"),
        )
    )


def with_distinct_count(rolled: DataFrame) -> DataFrame:
    """Attach the distinct-count estimate (``uu``).  Derived at read time,
    never stored — the sketch is the tier's source of truth so further
    cascades stay mergeable."""
    return rolled.withColumn(
        "uu", F.hll_sketch_estimate(F.col("uu_sketch"))
    )


def rollup_with_sumsq(
    df: DataFrame,
    ts_col: str,
    key_cols: Sequence[str],
    value_col: str,
    tier: str = "1m",
) -> DataFrame:
    """``rollup`` carrying the two exact power sums that make variance and
    stddev mergeable: ``s1`` = Σv and ``s2`` = Σv² over values quantized to
    integer cents (the engine's storage precision, like timeweight.py and
    the histogram tiers).  Integer sums are associative, so the cascade is
    exact and the derived stddev is bit-stable against any engine that
    replays the same integer math — a float Σv² would drift with partial-
    aggregation order.

    Overflow headroom: cents² ≤ 10¹⁰ for values up to 10³, so BIGINT
    (9.2·10¹⁸) holds ~10⁸ points per (bucket, series) cell — far beyond
    any real bucket; a 100 TB deployment with larger values should raise
    the quantization or use DECIMAL(38,0).
    """
    unit = _trunc_unit(tier)
    bucket = F.date_trunc(unit, F.col(ts_col)).alias("bucket")
    v = F.col(value_col)
    cents = F.round(v * 100, 0).cast("long")
    return (
        df.groupBy(bucket, *[F.col(k) for k in key_cols])
        .agg(
            F.count(v).alias("cnt"),
            F.min(v).alias("min_v"),
            F.max(v).alias("max_v"),
            F.sum(cents).alias("s1"),
            F.sum(cents * cents).alias("s2"),
        )
    )


def cascade_with_sumsq(
    rolled: DataFrame, key_cols: Sequence[str], tier: str
) -> DataFrame:
    """``cascade`` for the power-sum tiers — plain integer sum-of-sums."""
    unit = _trunc_unit(tier)
    return (
        rolled.groupBy(
            F.date_trunc(unit, F.col("bucket")).alias("bucket"),
            *[F.col(k) for k in key_cols],
        )
        .agg(
            F.sum("cnt").alias("cnt"),
            F.min("min_v").alias("min_v"),
            F.max("max_v").alias("max_v"),
            F.sum("s1").alias("s1"),
            F.sum("s2").alias("s2"),
        )
    )


def with_stddev(rolled: DataFrame) -> DataFrame:
    """Attach mean / sample variance / sample stddev derived from the exact
    power sums (InfluxQL ``stddev()`` is the sample stddev).  Derived at
    read time, never stored: ``var = (n·S2 − S1²) / (n·(n−1))`` in cents²,
    computed from exact BIGINTs so the only float ops are one division and
    one sqrt — identical IEEE results on any engine.  NULL for n < 2."""
    n = F.col("cnt")
    s1 = F.col("s1")
    s2 = F.col("s2")
    var_cents2 = (n * s2 - s1 * s1).cast("double") / (n * (n - F.lit(1)))
    return (
        rolled.withColumn("avg_v", s1.cast("double") / n / 100.0)
        .withColumn(
            "var_v", F.when(n > 1, var_cents2 / F.lit(10000.0))
        )
        .withColumn(
            "stddev_v", F.when(n > 1, F.sqrt(var_cents2) / F.lit(100.0))
        )
    )


def build_sumsq_tiers(
    spark,
    catalog,
    df: DataFrame,
    ts_col: str,
    key_cols: Sequence[str],
    value_col: str,
) -> list[str]:
    """Materialize ``sumsq_1m/1h/1d`` power-sum tiers in the catalog
    (per-day partitions, wave commit — same layout as the rollup tiers),
    coarser tiers CASCADED so only the 1m build touches raw points.  Kept
    as separate tables, like ``kmv_*``/``hdr_*``, so opting a catalog into
    tier-served stddev never perturbs the committed rollup schema.  Build
    inputs are pinned as table properties for maintenance rebuilds.
    Returns the committed day list."""
    return build_tiers(
        catalog, "sumsq",
        rollup_with_sumsq(df, ts_col, list(key_cols), value_col, "1m"),
        cascade_with_sumsq, key_cols, value_col,
    )


def salted_rollup(
    df: DataFrame,
    ts_col: str,
    key_cols: Sequence[str],
    value_col: str,
    tier: str = "1m",
    salt_buckets: int = 16,
) -> DataFrame:
    """Two-phase rollup with an explicit salt column for extreme key skew.

    Phase 1 groups by (bucket, keys, salt) — hot keys split across
    ``salt_buckets`` reducers; phase 2 merges the partials (same algebra as
    ``cascade``).  The salt is derived from a hash of the value column + ts so
    it is deterministic w.r.t. the data, not row order.
    """
    unit = _trunc_unit(tier)
    salt = F.pmod(
        F.hash(F.col(ts_col), F.col(value_col)), F.lit(salt_buckets)
    ).alias("_salt")
    v = F.col(value_col)
    partial = (
        df.groupBy(
            F.date_trunc(unit, F.col(ts_col)).alias("bucket"),
            *[F.col(k) for k in key_cols],
            salt,
        )
        .agg(
            F.count(v).alias("cnt"),
            F.sum(v).alias("sum_v"),
            F.min(v).alias("min_v"),
            F.max(v).alias("max_v"),
        )
    )
    return (
        partial.groupBy("bucket", *key_cols)
        .agg(
            F.sum("cnt").alias("cnt"),
            F.sum("sum_v").alias("sum_v"),
            F.min("min_v").alias("min_v"),
            F.max("max_v").alias("max_v"),
        )
    )

# ---------------------------------------------------------------------------
# Quantile histograms in the tiers.  Percentiles, like COUNT(DISTINCT), do
# not cascade: p95-of-p95s is meaningless, and carrying the raw values is
# O(points).  The classic continuous-aggregate answer (Prometheus classic
# histograms, DDSketch) is a MERGEABLE bucket-count vector per tier row
# against one FIXED, explicit bound list: element-wise integer sums make the
# 1m→1h→1d cascade EXACT (bit-identical to a direct coarse rollup — asserted
# in tests/test_rollup_hist.py), and any quantile is served from any tier by
# rank interpolation inside one bucket, with relative error bounded by the
# bound spacing.  Everything is pure Column arithmetic (codegen, no UDF):
# the bucket index is a chain of value>bound conditions, the histogram is
# one conditional-sum array per group — a single shuffle, same as rollup().
#
# At the north rule's scale this is the only way a p99-latency-style panel
# is answerable from tiers: the histogram column is O(len(bounds)) per
# (bucket, series) regardless of point count, and serving p99 over a month
# reads the 1d tier instead of 10^12 raw points.
# ---------------------------------------------------------------------------


def log2_bounds(lo: float, hi: float) -> list[float]:
    """Half-octave log-spaced bucket bounds: 1.0·2^k and 1.5·2^k, clamped to
    [lo, hi].  Every bound is an exactly-representable binary double, so the
    same literal list reproduces bit-identically in any ANSI engine (the
    property the DuckDB oracle relies on).  Relative quantile error is
    bounded by the half-octave spacing (≤ ~25% worst case, ~12% typical);
    callers needing tighter error pass denser explicit bounds."""
    if not (0 < lo < hi):
        raise ValueError("need 0 < lo < hi")
    out: list[float] = []
    x = 1.0
    while x > lo:
        x /= 2.0
    while x <= hi:
        for m in (x, x * 1.5):
            if lo <= m <= hi:
                out.append(m)
        x *= 2.0
    if not out or out[-1] < hi:
        out.append(hi)
    return out


def _bucket_index(v: Column, bounds: Sequence[float]) -> Column:
    """0-based histogram cell of ``v``: the number of bounds strictly below
    it — cell i covers (bounds[i-1], bounds[i]]; cell len(bounds) is the
    +inf overflow cell.  A chain of codegen comparisons, exact in IEEE."""
    idx: Column = F.lit(0)
    for b in bounds:
        idx = idx + F.when(v > F.lit(float(b)), 1).otherwise(0)
    return idx


def hist_cells_agg(idx_col: Column, ncells: int) -> Column:
    """Bucket-count vector as ONE groupBy aggregate (array of conditional
    sums — codegen, map-side partial); shared by the batch rollup and the
    streaming 1m tier so their tier schemas stay identical."""
    return F.array(
        *[
            F.sum(F.when(idx_col == i, 1).otherwise(0)).cast("long")
            for i in range(ncells)
        ]
    )


def rollup_with_histogram(
    df: DataFrame,
    ts_col: str,
    key_cols: Sequence[str],
    value_col: str,
    bounds: Sequence[float],
    tier: str = "1m",
) -> DataFrame:
    """``rollup`` plus a mergeable bucket-count histogram of ``value_col``
    per tier row (column ``hist: array<bigint>`` of len(bounds)+1 cells,
    last = overflow above bounds[-1]).  NULL values contribute to nothing
    (same contract as ``rollup``)."""
    if list(bounds) != sorted(set(float(b) for b in bounds)):
        raise ValueError("bounds must be strictly increasing")
    unit = _trunc_unit(tier)
    v = F.col(value_col)
    with_idx = df.withColumn(
        "_hidx", F.when(v.isNotNull(), _bucket_index(v, bounds))
    )
    ncells = len(bounds) + 1
    hist = hist_cells_agg(F.col("_hidx"), ncells).alias("hist")
    return (
        with_idx.groupBy(
            F.date_trunc(unit, F.col(ts_col)).alias("bucket"),
            *[F.col(k) for k in key_cols],
        )
        .agg(
            F.count(v).alias("cnt"),
            F.sum(v).alias("sum_v"),
            F.min(v).alias("min_v"),
            F.max(v).alias("max_v"),
            hist,
        )
    )


def cascade_with_histogram(
    rolled: DataFrame, key_cols: Sequence[str], tier: str, ncells: int
) -> DataFrame:
    """``cascade`` plus element-wise integer sum of the histogram vectors —
    the quantile analogue of sum-of-sums, and EXACT (cascaded counts are
    bit-identical to a direct coarse histogram)."""
    unit = _trunc_unit(tier)
    hist = hist_sum_expr(ncells).alias("hist")
    return (
        rolled.groupBy(
            F.date_trunc(unit, F.col("bucket")).alias("bucket"),
            *[F.col(k) for k in key_cols],
        )
        .agg(
            F.sum("cnt").alias("cnt"),
            F.sum("sum_v").alias("sum_v"),
            F.min("min_v").alias("min_v"),
            F.max("max_v").alias("max_v"),
            hist,
        )
    )


def histogram_quantile_expr(
    hist_col, cnt_col, q: float, bounds: Sequence[float]
):
    """The quantile-from-histogram Column expression (see
    :func:`histogram_quantile`); exposed so callers holding the hist/cnt
    columns under other names (query API, InfluxQL tier routing) reuse the
    identical operand order."""
    if not 0.0 < q <= 1.0:
        raise ValueError("q must be in (0, 1]")
    ncells = len(bounds) + 1
    cells = [F.element_at(hist_col, i + 1) for i in range(ncells)]
    total = cnt_col
    rank = F.lit(float(q)) * total.cast("double")
    # cumulative counts are exact integers; build the CASE chain lowest-first
    cum: Column = F.lit(0).cast("long")
    expr: Column | None = None
    lowers = [0.0] + [float(b) for b in bounds[:-1]]
    for i in range(ncells):
        cum_before = cum
        cum = cum + cells[i]
        if i < len(bounds):
            lo, hi = lowers[i], float(bounds[i])
            est = F.lit(lo) + (F.lit(hi) - F.lit(lo)) * (
                (rank - cum_before.cast("double")) / cells[i].cast("double")
            )
        else:
            est = F.lit(float(bounds[-1]))
        cond = rank <= cum.cast("double")
        expr = F.when(cond, est) if expr is None else expr.when(cond, est)
    assert expr is not None
    return F.when(total > 0, expr.otherwise(F.lit(float(bounds[-1]))))


def histogram_quantile(
    rolled: DataFrame, q: float, bounds: Sequence[float], out_col: str
) -> DataFrame:
    """Serve quantile ``q`` from a histogram tier (Prometheus
    ``histogram_quantile`` semantics): rank = q·total over the cumulative
    cell counts, linear interpolation inside the containing cell.  The first
    cell interpolates from 0; the overflow cell clamps to bounds[-1] (no
    upper bound to interpolate toward).  Pure Column arithmetic with a fixed
    operand order, so an ANSI oracle replaying the same chain bit-matches."""
    return rolled.withColumn(
        out_col,
        histogram_quantile_expr(F.col("hist"), F.col("cnt"), q, bounds),
    )


def hist_sum_expr(ncells: int, hist_col: str = "hist"):
    """Element-wise integer sum of histogram vectors as a groupBy aggregate
    list — the cascade/re-bucket combiner (exact)."""
    return F.array(
        *[
            F.sum(F.element_at(F.col(hist_col), i + 1))
            for i in range(ncells)
        ]
    )


def rollup_sliding(
    rolled: DataFrame,
    key_cols: Sequence[str],
    window_buckets: int,
    bucket_seconds: int,
) -> DataFrame:
    """TRAILING-window algebraic aggregates over tier rows — "requests in
    the 24h ending at each hour" beside :func:`kmv.kmv_sliding`'s
    distinct twin: one RANGE window per series over the tier (epoch-
    keyed, so gaps in the tier are handled by value range, not row
    offsets — 23 missing hours still give a correct 24h sum).

    Output at every tier bucket: (bucket, *keys, cnt, sum_v, min_v,
    max_v, avg_v, n_buckets) over (bucket − window, bucket].  Cost: one
    exchange on the series key over TIER rows (the window sort rides
    it), never raw data — this is the dashboard's moving aggregate at
    continuous-aggregate cost.
    """
    span = int(window_buckets) * int(bucket_seconds)
    secs = F.unix_timestamp(F.col("bucket").cast("timestamp")).cast("long")
    w = (
        Window.partitionBy(*key_cols)
        .orderBy(secs)
        .rangeBetween(-(span - int(bucket_seconds)), 0)
    )
    return rolled.select(
        "bucket",
        *key_cols,
        F.sum("cnt").over(w).alias("cnt"),
        F.sum("sum_v").over(w).alias("sum_v"),
        F.min("min_v").over(w).alias("min_v"),
        F.max("max_v").over(w).alias("max_v"),
        (F.sum("sum_v").over(w) / F.sum("cnt").over(w)).alias("avg_v"),
        F.count(F.lit(1)).over(w).alias("n_buckets"),
    )


def sumsq_sliding(
    rolled: DataFrame,
    key_cols: Sequence[str],
    window_buckets: int,
    bucket_seconds: int,
) -> DataFrame:
    """Trailing-window VOLATILITY from the power-sum tiers: the same
    epoch-keyed RANGE window as :func:`rollup_sliding`, over exact
    integer S1/S2 — so "stddev of the 24h ending at each hour" comes
    from tier rows with a bit-deterministic result (integer sums commute;
    the only float ops are the final division and sqrt).  Completes the
    sliding family: algebraic (:func:`rollup_sliding`), distinct
    (``kmv.kmv_sliding``), percentile (``hdrsketch.hdr_sliding``), and
    now second-moment.

    Input: :func:`rollup_with_sumsq` rows.  Output: (bucket, *keys, cnt,
    min_v, max_v, s1, s2) over (bucket − window, bucket]; derive
    mean/var/stddev with :func:`with_stddev`.
    """
    span = int(window_buckets) * int(bucket_seconds)
    secs = F.unix_timestamp(F.col("bucket").cast("timestamp")).cast("long")
    w = (
        Window.partitionBy(*key_cols)
        .orderBy(secs)
        .rangeBetween(-(span - int(bucket_seconds)), 0)
    )
    return rolled.select(
        "bucket",
        *key_cols,
        F.sum("cnt").over(w).alias("cnt"),
        F.min("min_v").over(w).alias("min_v"),
        F.max("max_v").over(w).alias("max_v"),
        F.sum("s1").over(w).alias("s1"),
        F.sum("s2").over(w).alias("s2"),
    )


def slo_burn_alerts(
    rolled: DataFrame,
    key_cols: Sequence[str],
    bucket_seconds: int,
    slo_good_fraction: float = 0.999,
    long_buckets: int = 12,
    short_buckets: int = 1,
    burn_threshold: float = 14.4,
) -> DataFrame:
    """Multiwindow multi-burn-rate SLO alert (the Google SRE workbook
    pattern, public) over tier rows carrying per-bucket ``good`` / ``bad``
    BIGINT counts: the burn rate is (bad/total) / error_budget over a
    trailing window, and the alert fires only when BOTH the long window
    (sustained burn — pages worth waking for) AND the short window (still
    burning right now — self-resolved incidents don't page) exceed the
    threshold.  14.4 over 1h/5m is the workbook's "2% of a 30-day budget
    in one hour" page.

    Exactness: good/bad window sums are exact BIGINT RANGE windows (the
    rollup_sliding idiom — epoch-keyed, tier gaps shrink the window by
    value); each burn rate is ONE division of exact integers scaled by
    the Python-literal budget, so the whole alert decision replays
    bit-for-bit in SQL.  One exchange on the series key over tier rows.

    Output at every tier bucket: (bucket, *keys, good_long, bad_long,
    good_short, bad_short, burn_long, burn_short, page).  Burn is NULL
    where a window saw no events (no traffic ⇒ no burn evidence).
    """
    budget = 1.0 - slo_good_fraction  # Python double literal, shared w/ oracle
    secs = F.unix_timestamp(F.col("bucket").cast("timestamp")).cast("long")

    def win(buckets: int):
        span = int(buckets) * int(bucket_seconds)
        return (
            Window.partitionBy(*key_cols)
            .orderBy(secs)
            .rangeBetween(-(span - int(bucket_seconds)), 0)
        )

    wl, ws = win(long_buckets), win(short_buckets)
    gl, bl = F.sum("good").over(wl), F.sum("bad").over(wl)
    gs, bs = F.sum("good").over(ws), F.sum("bad").over(ws)

    def burn(g, b):
        total = (g + b).cast("double")
        return F.when(
            (g + b) > 0,
            (b.cast("double") / total) / F.lit(budget),
        )

    out = rolled.select(
        "bucket",
        *key_cols,
        gl.alias("good_long"),
        bl.alias("bad_long"),
        gs.alias("good_short"),
        bs.alias("bad_short"),
        burn(gl, bl).alias("burn_long"),
        burn(gs, bs).alias("burn_short"),
    )
    thr = F.lit(float(burn_threshold))
    return out.withColumn(
        "page",
        F.coalesce(
            (F.col("burn_long") > thr) & (F.col("burn_short") > thr),
            F.lit(False),
        ),
    )


def topn_with_other(
    rolled: DataFrame,
    key_col: str,
    bucket_col: str,
    value_col: str,
    n: int,
    other_label: str = "__other__",
) -> DataFrame:
    """Top-N series + an ``__other__`` remainder per bucket — the
    dashboard view every "top 5 endpoints by traffic" panel renders: the
    N series with the largest TOTAL over the frame keep their own rows,
    everything else collapses into one labeled series per bucket, so the
    panel is complete (sums preserve the grand total) without plotting
    ten thousand lines.

    Ranking is by exact total (feed integer counts/cents for a
    bit-deterministic cut), ties by key ascending.  Plan: one groupBy for
    totals (tiny output — one row per series), broadcast the top-key set
    back, one groupBy for the remainder — no window over the data rows.

    Output: (bucket, series, value, is_other); remainder rows appear only
    in buckets where at least one non-top series has a row.
    """
    totals = rolled.groupBy(key_col).agg(F.sum(value_col).alias("_total"))
    wtot = Window.orderBy(F.desc("_total"), F.asc(key_col))
    top = (
        totals.withColumn("_rk", F.row_number().over(wtot))
        .filter(F.col("_rk") <= n)
        .select(F.col(key_col).alias("_topkey"))
    )
    flagged = rolled.join(
        F.broadcast(top), on=F.col(key_col) == F.col("_topkey"), how="left"
    )
    kept = flagged.filter(F.col("_topkey").isNotNull()).select(
        F.col(bucket_col).alias("bucket"),
        F.col(key_col).alias("series"),
        F.col(value_col).alias("value"),
        F.lit(False).alias("is_other"),
    )
    other = (
        flagged.filter(F.col("_topkey").isNull())
        .groupBy(bucket_col)
        .agg(F.sum(value_col).alias("value"))
        .select(
            F.col(bucket_col).alias("bucket"),
            F.lit(other_label).alias("series"),
            "value",
            F.lit(True).alias("is_other"),
        )
    )
    return kept.unionByName(other)


# ---------------------------------------------------------------------------
# OHLC (candlestick) tiers
# ---------------------------------------------------------------------------


def rollup_ohlc(
    df: DataFrame,
    ts_col: str,
    key_cols: Sequence[str],
    value_col: str,
    tier: str = "1m",
) -> DataFrame:
    """Raw points → OHLC candlesticks per (bucket, keys): the open / high /
    low / close summary every metrics dashboard and financial rollup keeps
    beside count/sum/min/max — and, like them, an ALGEBRAIC summary that
    cascades exactly (``cascade_ohlc``), so the continuous-aggregate tiers
    can serve candlestick panels at any width without touching raw data.

    Determinism discipline: open/close are argmin/argmax BY TIME, and
    equal-timestamp duplicates tie-break by value (open takes the smaller,
    close the larger) via lexicographic struct min/max — one total order,
    so raw→1d direct and raw→1m→1d cascaded produce identical bits and the
    SQL oracle can replay the same order.  NULL values contribute nothing
    (same contract as ``rollup``; Influxer skips blank cells,
    Influxer/GenericFile.cs:81).

    Plan shape: one partial-aggregated groupBy (struct min/max combine
    map-side like any min/max) — no window, no shuffle beyond the one
    aggregation.
    """
    unit = _trunc_unit(tier)
    bucket = F.date_trunc(unit, F.col(ts_col)).alias("bucket")
    v = F.col(value_col)
    tv = F.when(v.isNotNull(), F.struct(F.col(ts_col).alias("t"), v.alias("v")))
    return (
        df.groupBy(bucket, *[F.col(k) for k in key_cols])
        .agg(
            F.min(tv).alias("_o"),
            F.max(v).alias("high_v"),
            F.min(v).alias("low_v"),
            F.max(tv).alias("_c"),
            F.count(v).alias("cnt"),
        )
        # an all-NULL bucket would emit cnt=0 with a NULL open/close struct,
        # and NULL struct FIELDS sort first — one such row would poison every
        # downstream struct-min merge (cascade, read_candles, tier serving)
        # into a NULL open.  No values → no candle.
        .filter(F.col("cnt") > 0)
        .select(
            "bucket",
            *key_cols,
            F.col("_o").getField("t").alias("open_t"),
            F.col("_o").getField("v").alias("open_v"),
            "high_v",
            "low_v",
            F.col("_c").getField("t").alias("close_t"),
            F.col("_c").getField("v").alias("close_v"),
            "cnt",
        )
    )


def merge_ohlc(rolled: DataFrame, bucket_expr, key_cols: Sequence[str]) -> DataFrame:
    """THE one OHLC merge: re-group candlestick rows under ``bucket_expr``
    (any coarser bucketing of the ``bucket`` column), merging open/close by
    their ORIGINAL timestamps — which replays the raw total order even
    when the re-group collapses MULTIPLE series into one group (a
    coarse-tag dashboard panel); bucket-order alone could not arbitrate
    two series' points inside one finer bucket.  High/low are plain
    extremes; counts sum.  Shared by :func:`cascade_ohlc`, the query API's
    ``read_candles``, and the front-end tier serving, so a change to the
    total order lands everywhere at once."""
    o = F.struct(F.col("open_t").alias("t"), F.col("open_v").alias("v"))
    c = F.struct(F.col("close_t").alias("t"), F.col("close_v").alias("v"))
    return (
        rolled.groupBy(
            bucket_expr.alias("bucket"),
            *[F.col(k) for k in key_cols],
        )
        .agg(
            F.min(o).alias("_o"),
            F.max("high_v").alias("high_v"),
            F.min("low_v").alias("low_v"),
            F.max(c).alias("_c"),
            F.sum("cnt").alias("cnt"),
        )
        .select(
            "bucket",
            *key_cols,
            F.col("_o").getField("t").alias("open_t"),
            F.col("_o").getField("v").alias("open_v"),
            "high_v",
            "low_v",
            F.col("_c").getField("t").alias("close_t"),
            F.col("_c").getField("v").alias("close_v"),
            "cnt",
        )
    )


def cascade_ohlc(
    rolled: DataFrame, key_cols: Sequence[str], tier: str
) -> DataFrame:
    """Re-aggregate a finer OHLC tier into ``tier`` — exact (see
    :func:`merge_ohlc` for the total-order argument)."""
    return merge_ohlc(
        rolled, F.date_trunc(_trunc_unit(tier), F.col("bucket")), key_cols
    )


def build_ohlc_tiers(
    spark,
    catalog,
    df: DataFrame,
    ts_col: str,
    key_cols: Sequence[str],
    value_col: str,
) -> list[str]:
    """Materialize ``ohlc_1m/1h/1d`` candlestick tiers in the catalog
    (per-day partitions, wave commit — same layout as the rollup tiers),
    coarser tiers CASCADED so only the 1m build touches raw points.  Kept
    as separate tables like ``sumsq_*``/``kmv_*``/``hdr_*``, so opting a
    catalog into tier-served first()/last() never perturbs the committed
    rollup schema.  Returns the committed day list."""
    return build_tiers(
        catalog, "ohlc", rollup_ohlc(df, ts_col, list(key_cols), value_col, "1m"),
        cascade_ohlc, key_cols, value_col,
    )


def ohlc_sliding(
    rolled: DataFrame,
    key_cols: Sequence[str],
    window_buckets: int,
    bucket_seconds: int,
) -> DataFrame:
    """TRAILING-window candlesticks over OHLC tier rows — "the 24h candle
    ending at each hour" beside :func:`rollup_sliding`'s algebraic twin:
    one RANGE window per series over the tier (epoch-keyed, so tier gaps
    are handled by value range, not row offsets).  Open/close merge by
    their ORIGINAL timestamps inside the window (struct order — the same
    total order everywhere in the OHLC family), so the trailing candle is
    bit-identical to computing it from raw points in the span.

    Output at every tier bucket: (bucket, *keys, open_t, open_v, high_v,
    low_v, close_t, close_v, cnt, n_buckets) over (bucket − window,
    bucket].  Cost: one exchange on the series key over TIER rows."""
    span = int(window_buckets) * int(bucket_seconds)
    secs = F.unix_timestamp(F.col("bucket").cast("timestamp")).cast("long")
    w = (
        Window.partitionBy(*key_cols)
        .orderBy(secs)
        .rangeBetween(-(span - int(bucket_seconds)), 0)
    )
    o = F.struct(F.col("open_t").alias("t"), F.col("open_v").alias("v"))
    c = F.struct(F.col("close_t").alias("t"), F.col("close_v").alias("v"))
    return rolled.select(
        "bucket",
        *key_cols,
        F.min(o).over(w).getField("t").alias("open_t"),
        F.min(o).over(w).getField("v").alias("open_v"),
        F.max("high_v").over(w).alias("high_v"),
        F.min("low_v").over(w).alias("low_v"),
        F.max(c).over(w).getField("t").alias("close_t"),
        F.max(c).over(w).getField("v").alias("close_v"),
        F.sum("cnt").over(w).alias("cnt"),
        F.count(F.lit(1)).over(w).alias("n_buckets"),
    )
