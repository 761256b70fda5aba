"""Log-linear (HDR-style) quantile sketch tiers — mergeable percentiles
with a guaranteed relative error and NO a-priori value bounds.

The engine already has one mergeable quantile path: explicit-bound
histograms (``rollup.py:rollup_with_histogram``), which need the operator
to know the value range up front.  At 100 TB over heterogeneous web
metrics that is a real limitation — a new metric (or a runaway one) falls
outside the configured bounds.  The standard fix in production TSDBs is a
log-scale bucket sketch: DDSketch (Masson, Rim, Lee — VLDB 2019) and
HdrHistogram (Tene) both bucket values on a logarithmic grid, so bucket
cardinality is O(log(max/min)) and every quantile estimate carries a
bounded RELATIVE error.  The reference delegates percentile math to the
InfluxDB server (``Influxer/GenericFile.cs:303`` PostPointsAsync →
server-side ``PERCENTILE()``); this module supplies those delegated
semantics natively — and, unlike float-log DDSketch, computes the bucket
index with PURE INTEGER arithmetic, so the sketch is bit-reproducible
across engines and the driver's DuckDB oracle replays it exactly:

- values are quantized to integer cents ``v = round(value·100)`` (the
  engine's storage precision); ``v < 1`` clamps to 1 (web metrics here
  are positive; the clamp is pinned by a test);
- ``e = floor(log2 v)`` computed EXACTLY as ``length(bin(v)) − 1`` — no
  float log anywhere;
- the octave ``[2^e, 2^{e+1})`` splits into ``2^s`` equal linear
  sub-buckets: ``m = (v·2^s) >> e ∈ [2^s, 2^{s+1})``;
- ``idx = e·2^s + m − 2^s`` — a dense integer key.  Bucket lower bound
  ``lb(idx) = (m << e) >> s`` is exact integer math (for ``e ≤ s`` the
  bucket is a singleton and ``lb = v``); bucket width is ``2^{e−s}``, so
  every estimate has relative error ``≤ 2^{−s}`` (3.125 % at the
  default s=5).

A tier row is ``(keys…, bucket, idx, cnt)`` — long format, exactly like
the histogram tiers, so merging is ``SUM(cnt)`` grouped on the coarser
bucket: associative, commutative, one shuffle per cascade level, and the
1m→1h→1d cascade is BIT-identical to building the coarse sketch from raw
(the driver oracle proves this: Spark cascades, DuckDB computes the hour
from raw points).

Quantile read (nearest-rank, the engine's convention — matches
``rollup.py``'s histogram read): within a (series, bucket) partition
ordered by idx, the p-quantile is the lower bound of the first bucket
whose cumulative count reaches ``ceil(p·n)``.  One window over the
groupBy's own partitioning — no extra exchange.

Scale notes (100 TB posture): bucket cardinality per series-bucket is
≤ 64·2^s (log of the value range — a few hundred at s=5) regardless of
data volume, so tier rows stay tiny; the cascade shuffles only tier
rows; the quantile window partitions are bucket-sized, never
whole-series.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from influxer_spark.tiers import build_tiers

TIER_SECONDS: dict[str, int] = {"1m": 60, "5m": 300, "1h": 3600, "1d": 86400}

DEFAULT_SUB_BITS = 5  # 2^5 linear sub-buckets per octave → rel err ≤ 1/32


def _bucket(ts_col: str, width_sec: int):
    t = F.unix_timestamp(F.col(ts_col).cast("timestamp")).cast("long")
    return F.timestamp_seconds(t - (t % width_sec))


def hdr_rollup(
    df: DataFrame,
    ts_col: str,
    key_cols: Sequence[str],
    value_col: str,
    tier: str = "1m",
    sub_bits: int = DEFAULT_SUB_BITS,
) -> DataFrame:
    """Raw points → (keys…, bucket, idx, cnt) log-linear sketch rows."""
    if tier not in TIER_SECONDS:
        raise ValueError(f"unknown tier {tier!r}; expected one of {sorted(TIER_SECONDS)}")
    s = 1 << sub_bits
    cents = F.round(F.col(value_col) * 100, 0).cast("long")
    return (
        df.select(
            *key_cols,
            _bucket(ts_col, TIER_SECONDS[tier]).alias("bucket"),
            F.greatest(cents, F.lit(1).cast("long")).alias("_v"),
        )
        .withColumn("_e", (F.length(F.bin(F.col("_v"))) - 1).cast("long"))
        # (v·2^s) >> e — shiftright takes a Column shift amount in SQL form
        .withColumn("_m", F.expr(f"shiftright(_v * {s}, cast(_e as int))"))
        .withColumn("idx", F.col("_e") * s + F.col("_m") - s)
        .groupBy(*key_cols, "bucket", "idx")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def hdr_cascade(
    sketch: DataFrame, key_cols: Sequence[str], tier: str
) -> DataFrame:
    """Merge finer sketch rows into a coarser tier: pure SUM(cnt) — the
    sketch is a counter vector, so merge is exact (lossless cascade)."""
    if tier not in TIER_SECONDS:
        raise ValueError(f"unknown tier {tier!r}; expected one of {sorted(TIER_SECONDS)}")
    return (
        sketch.withColumn("bucket", _bucket("bucket", TIER_SECONDS[tier]))
        .groupBy(*key_cols, "bucket", "idx")
        .agg(F.sum("cnt").alias("cnt"))
    )


def hdr_lower_bound_expr(idx_col: str, sub_bits: int = DEFAULT_SUB_BITS) -> F.Column:
    """Exact integer lower bound (in cents) of bucket ``idx``:
    e = idx div 2^s, m = idx % 2^s + 2^s, lb = (m << e) >> s."""
    s = 1 << sub_bits
    return F.expr(
        f"shiftright(shiftleft(({idx_col} % {s}) + {s},"
        f" cast({idx_col} div {s} as int)), {sub_bits})"
    )


def hdr_quantiles(
    sketch: DataFrame,
    key_cols: Sequence[str],
    ps: Sequence[float] = (0.5, 0.95, 0.99),
    sub_bits: int = DEFAULT_SUB_BITS,
) -> DataFrame:
    """Nearest-rank quantiles from sketch rows.

    Output: (keys…, bucket, n, q<pp> …) with q values in original units
    (cents/100 — exact decimal halves, so doubles are bit-deterministic).
    The window shares the sketch's (keys, bucket) partitioning.
    """
    part = [*key_cols, "bucket"]
    w = Window.partitionBy(*part).orderBy("idx").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    wn = Window.partitionBy(*part)
    ranked = (
        sketch.withColumn("_cum", F.sum("cnt").over(w))
        .withColumn("_n", F.sum("cnt").over(wn))
        .withColumn("_lb", hdr_lower_bound_expr("idx", sub_bits))
    )
    aggs = [F.max("_n").alias("n")]
    for p in ps:
        name = f"q{int(round(p * 100))}"
        # ceil(p·n): identical double literal × exact integer on both
        # engines → identical product → identical ceil (no boundary flip)
        rank = F.ceil(F.lit(p) * F.col("_n"))
        aggs.append(
            (
                F.min(F.when(F.col("_cum") >= rank, F.col("_lb"))) / 100.0
            ).alias(name)
        )
    return ranked.groupBy(*part).agg(*aggs)


def hdr_rebucket(
    sketch: DataFrame, key_cols: Sequence[str], width_seconds: int,
    tz: str | None = None, offset_seconds: int = 0,
) -> DataFrame:
    """Re-bucket sketch rows to ANY width that their tier divides —
    counter-vector sum, lossless like the cascade.  ``tz`` re-buckets on
    that zone's WALL clock (exact when the caller has proven, via the
    frontend's _tz_grid_ok, that no tier bucket straddles a wall
    boundary — counter vectors then sum losslessly onto wall buckets the
    same way they do onto UTC ones); ``offset_seconds`` shifts the
    bucket grid (``GROUP BY time(6h, 1h)``) — exact when the sketch tier
    divides the offset."""
    bt = F.col("bucket").cast("timestamp")
    if tz:
        bt = F.from_utc_timestamp(bt, tz)
    secs = F.unix_timestamp(bt)
    off = int(offset_seconds)
    out_bucket = F.timestamp_seconds(
        (secs - ((secs - off) % width_seconds)).cast("long")
    ).alias("bucket")
    return (
        sketch.groupBy(out_bucket, *[F.col(k) for k in key_cols], "idx")
        .agg(F.sum("cnt").alias("cnt"))
    )


def build_hdr_tiers(
    spark,
    catalog,
    df: DataFrame,
    ts_col: str,
    key_cols: Sequence[str],
    value_col: str,
    sub_bits: int = DEFAULT_SUB_BITS,
) -> list[str]:
    """Materialize ``hdr_1h`` and ``hdr_1d`` quantile-sketch tiers in the
    catalog (per-day partitions, wave commit — same layout as the rollup
    and KMV tiers), 1d CASCADED from 1h so the coarse tier costs a
    summary-sized job, not a second raw scan.  ``sub_bits`` is pinned as
    a table property: bucket indices from different resolutions do not
    mix.  Unlike the histogram tiers (pipeline ``hist_bounds=``) no value
    bounds are configured — the log-linear grid adapts to any range.
    Returns the committed day list."""
    return build_tiers(
        catalog, "hdr",
        hdr_rollup(df, ts_col, list(key_cols), value_col, "1h", sub_bits),
        hdr_cascade, key_cols, value_col, sub_bits,
    )


def hdr_tvd_drift(
    sketch: DataFrame,
    key_cols: Sequence[str],
    step_seconds: int = 86400,
) -> DataFrame:
    """Distribution DRIFT between consecutive buckets, from the sketch
    tiers alone: the total-variation distance TVD(P,Q) = ½·Σᵢ|pᵢ−qᵢ|
    between each bucket's value distribution and the previous bucket's
    (``step_seconds`` earlier), per series.  This is the data-quality
    monitor a training pipeline runs per crawl day — "did the corpus
    composition shift?" — at sketch-row cost, never re-scanning raw.

    Why TVD and not PSI/KL: with integer counters oᵢ (current, total n)
    and qᵢ (previous, total m),

        TVD = Σᵢ |oᵢ·m − qᵢ·n| / (2·n·m)

    has an EXACT BIGINT numerator (sum order irrelevant) and one final
    float division — bit-identical across engines, where PSI/KL's per-
    bucket ``ln`` would drift in the last ulp.  Overflow: oᵢ·m ≤ n·m
    needs n·m < 2⁶³, i.e. up to ~3·10⁹ points per (series, bucket) —
    beyond that switch the numerator to DECIMAL(38,0).

    Output: (keys…, bucket, n_cur, n_prev, tvd) — one row per bucket
    that HAS a predecessor (inner join; drift is undefined against an
    empty window).  TVD ∈ [0, 1]: 0 = identical distributions, 1 =
    disjoint supports.
    """
    keys = list(key_cols)
    totals = sketch.groupBy(*keys, "bucket").agg(F.sum("cnt").alias("n"))
    pair = (
        totals.alias("c")
        .join(
            totals.select(
                *keys,
                (F.col("bucket") + F.expr(f"INTERVAL {step_seconds} SECOND"))
                .alias("bucket"),
                F.col("n").alias("m"),
            ).alias("p"),
            on=[*keys, "bucket"],
        )
    )
    cur = sketch.select(*keys, "bucket", "idx", F.col("cnt").alias("o"))
    prev = sketch.select(
        *keys,
        (F.col("bucket") + F.expr(f"INTERVAL {step_seconds} SECOND")).alias(
            "bucket"
        ),
        "idx",
        F.col("cnt").alias("q"),
    )
    cells = (
        cur.join(prev, on=[*keys, "bucket", "idx"], how="full")
        .fillna(0, subset=["o", "q"])
        .join(pair, on=[*keys, "bucket"])  # inner: both buckets exist
    )
    num = F.sum(F.abs(F.col("o") * F.col("m") - F.col("q") * F.col("n")))
    return (
        cells.groupBy(*keys, "bucket", "n", "m")
        .agg(num.alias("_num"))
        .select(
            *keys,
            "bucket",
            F.col("n").alias("n_cur"),
            F.col("m").alias("n_prev"),
            (
                F.col("_num").cast("double")
                / (2.0 * F.col("n") * F.col("m"))
            ).alias("tvd"),
        )
    )


def hdr_seasonal_quantiles(
    sketch: DataFrame,
    key_cols: Sequence[str],
    ps: Sequence[float] = (0.1, 0.9),
    sub_bits: int = DEFAULT_SUB_BITS,
) -> DataFrame:
    """Calendar-phase quantile bands from the sketch tiers: merge every
    hourly sketch sharing an HOUR-OF-DAY (counter-vector sum — the same
    lossless merge as the cascade, keyed by phase instead of range) and
    read the per-phase quantiles.  This is the "typical band" a monitor
    draws — p10/p90 of all values that ever occurred at 14:00 — and the
    input to in-season anomaly checks, built without re-touching raw
    data.  Output: (keys…, hod, n, q<pp>…), hod ∈ 0..23 as BIGINT.
    """
    by_phase = (
        sketch.withColumn("bucket", F.hour("bucket").cast("long"))
        .groupBy(*key_cols, "bucket", "idx")
        .agg(F.sum("cnt").alias("cnt"))
    )
    return hdr_quantiles(by_phase, key_cols, ps, sub_bits).withColumnRenamed(
        "bucket", "hod"
    )


def seasonal_band_anomalies(
    df: DataFrame,
    ts_col: str,
    key_cols: Sequence[str],
    value_col: str,
    lo_p: float = 0.1,
    hi_p: float = 0.9,
    sub_bits: int = DEFAULT_SUB_BITS,
) -> DataFrame:
    """In-season anomaly flags from the calendar-phase band: an hourly
    observation is anomalous iff it falls OUTSIDE its own hour-of-day's
    [lo_p, hi_p] band (:func:`hdr_seasonal_quantiles`) — "is 3 a.m.
    traffic unusual FOR 3 a.m.?", the question a global threshold and a
    raw MAD both get wrong on strongly seasonal series.

    Composition, not a new primitive: hourly mean (exact integer cents,
    like the rollup tiers) broadcast-joined to the 24-row-per-series
    phase bands.  Sketch quantiles carry ≤ 2^-sub_bits relative error,
    so the band edges are approximate by declared contract; the
    COMPARISON is still deterministic (both engines compute identical
    band edges from identical integer counters).

    Output: (keys…, bucket, hod, v, lo, hi, anomaly) for every hourly
    bucket — anomaly = v < lo OR v > hi.
    """
    keys = list(key_cols)
    secs = F.unix_timestamp(F.col(ts_col).cast("timestamp")).cast("long")
    cents = F.round(F.col(value_col) * 100, 0).cast("long")
    hourly = (
        df.select(
            *keys,
            F.timestamp_seconds((secs - secs % 3600)).alias("bucket"),
            cents.alias("_c"),
        )
        .groupBy(*keys, "bucket")
        .agg(
            (
                F.sum("_c").cast("double") / F.count("_c") / 100.0
            ).alias("v")
        )
    )
    sk = hdr_rollup(df, ts_col, keys, value_col, "1h", sub_bits)
    band = hdr_seasonal_quantiles(sk, keys, (lo_p, hi_p), sub_bits)
    lo_c = f"q{int(round(lo_p * 100))}"
    hi_c = f"q{int(round(hi_p * 100))}"
    joined = hourly.withColumn(
        "hod", F.hour("bucket").cast("long")
    ).join(
        F.broadcast(
            band.select(
                *keys, "hod",
                F.col(lo_c).alias("lo"), F.col(hi_c).alias("hi"),
            )
        ),
        on=[*keys, "hod"],
    )
    return joined.select(
        *keys, "bucket", "hod", "v", "lo", "hi",
        ((F.col("v") < F.col("lo")) | (F.col("v") > F.col("hi"))).alias(
            "anomaly"
        ),
    )


def hdr_sliding(
    sketch: DataFrame,
    key_cols: Sequence[str],
    window_buckets: int,
    bucket_seconds: int = 3600,
) -> DataFrame:
    """TRAILING-window sketches — "p95 over the 24h ending at each hour",
    the moving-latency-percentile primitive: each bucket's counter vector
    contributes to the ``window_buckets`` outputs it covers and vectors
    SUM per output (the cascade's lossless merge under overlap, exactly
    like ``kmv.kmv_sliding`` for distincts).  Feed the result to
    :func:`hdr_quantiles` for the moving percentiles.

    Outputs anchor at OBSERVED buckets; the explode inflates sketch rows
    by window_buckets — tier-sized, never raw-sized.
    """
    keys = list(key_cols)
    obs = sketch.select("bucket", *keys).distinct()
    contrib = sketch.select(
        *keys,
        F.explode(
            F.sequence(F.lit(0), F.lit(int(window_buckets) - 1))
        ).alias("_off"),
        F.col("bucket").alias("_b"),
        "idx",
        "cnt",
    ).select(
        *keys,
        (
            F.col("_b")
            + F.expr(f"make_interval(0,0,0,0,0,0, _off * {bucket_seconds})")
        ).alias("bucket"),
        "idx",
        "cnt",
    )
    return (
        contrib.join(obs, on=["bucket", *keys])
        .groupBy(*keys, "bucket", "idx")
        .agg(F.sum("cnt").alias("cnt"))
    )


def hdr_histogram(
    sketch: DataFrame,
    key_cols: Sequence[str],
    sub_bits: int = DEFAULT_SUB_BITS,
) -> DataFrame:
    """Decode sketch rows into PLOTTABLE histogram bars: per (bucket,
    series, idx) the exact integer value range [lo, hi) the bucket covers
    (in original units) and its count — the "value distribution" panel a
    dashboard renders straight from the tier, no raw scan.  ``hi`` is the
    next bucket's lower bound — floored at lo + 1 cent: in the
    sub-resolution region (cents < 2^sub_bits) buckets are singletons and
    consecutive lower bounds coincide, so the floor gives the one-cent
    bar the singleton actually covers.  Pure integer bound math
    (hdr_lower_bound_expr), bit-identical across engines."""
    lo_c = hdr_lower_bound_expr("idx", sub_bits)
    hi_c = F.greatest(hdr_lower_bound_expr("(idx + 1)", sub_bits), lo_c + 1)
    return sketch.select(
        *key_cols,
        "bucket",
        "idx",
        (lo_c / 100.0).alias("lo"),
        (hi_c / 100.0).alias("hi"),
        "cnt",
    )
