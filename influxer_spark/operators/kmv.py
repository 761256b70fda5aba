"""KMV (k-minimum-values) distinct sketch in continuous-aggregate tiers.

The reference counts distinct series driver-side while batching points
(Influxer/InfluxerConsole/Program.cs:90-101 run totals); at 100 TB a
distinct count per (bucket, series) must be a MERGEABLE sketch stored in
the tier tables, like the HLL tiers in ``rollup.py:165``.  HLL internals
have no DuckDB equivalent, so that family is rows-only in the driver
gate.  KMV (Bar-Yossef et al. 2002, "Counting distinct elements in a
data stream") is the alternative with a *value-exact* oracle: the sketch
is simply the k smallest hash values per group, the merge is the k
smallest of the union — both fully expressible in ANSI SQL — and the
estimator ``(k-1) / U(k)`` is deterministic IEEE arithmetic on them.

Hash parity across engines: ``conv(substring(md5(cast(x as string)),1,15),
16,10)`` in Spark equals ``CAST(concat('0x', substr(md5(CAST(x AS
VARCHAR)),1,15)) AS BIGINT)`` in DuckDB — a 60-bit uniform value
(verified bit-exact).  Dedup happens on the truncated hash in BOTH
engines, so even the ~2^-60 collision behavior is identical.

Merge exactness (why the cascade is lossless): for any hash h among the
day's k smallest distinct values, fewer than k distinct hashes in the
whole day are smaller than h, hence fewer than k within h's own hour —
so h is in its hour's k-min set.  Union-then-trim over child sketches
therefore yields EXACTLY the k-min set of the raw day, and a cascaded
tier equals a sketch built directly from raw (pinned by pytest).

Scale notes (100 TB posture):
- ``kmv_sketch``: one distinct() on (bucket, series, hash) — map-side
  partial dedup collapses hot items before the exchange — then a
  row_number window on (bucket, series) that trims to k; the final
  collect_list is over ≤ k rows per group.  No unbounded collect_set.
- ``kmv_cascade`` touches only summary rows (≤ k hashes per child
  bucket), never raw data.
- Sketch payload: array<bigint> of ≤ k — bounded state per tier row,
  exactly what a 1000-executor rollup table needs.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from influxer_spark.operators.rollup import _trunc_unit
from influxer_spark.tiers import build_tiers

DEFAULT_K = 64

# 2^60: the truncated-md5 hash space; U(k) = kth_hash / 2^60.
_HASH_SPACE = float(1 << 60)


def _hash60(col) -> F.Column:
    """60-bit uniform hash with a bit-exact DuckDB twin (see module doc)."""
    return F.conv(F.substring(F.md5(col.cast("string")), 1, 15), 16, 10).cast(
        "long"
    )


def _kmin(pts: DataFrame, key_cols: Sequence[str], k: int) -> DataFrame:
    """(bucket, *keys, h) distinct rows → (bucket, *keys, hashes ≤ k asc)."""
    w = Window.partitionBy("bucket", *key_cols).orderBy("h")
    return (
        pts.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= k)
        .groupBy("bucket", *key_cols)
        .agg(F.sort_array(F.collect_list("h")).alias("hashes"))
    )


def kmv_sketch(
    df: DataFrame,
    ts_col: str,
    key_cols: Sequence[str],
    item_col: str,
    tier: str,
    k: int = DEFAULT_K,
) -> DataFrame:
    """Raw points → one KMV sketch row per (bucket, *key_cols).

    Output: ``bucket timestamp, *key_cols, hashes array<bigint>`` with
    ``hashes`` the ≤ k smallest distinct 60-bit hashes, ascending.
    """
    keys = list(key_cols)
    pts = df.select(
        F.date_trunc(_trunc_unit(tier), F.col(ts_col)).alias("bucket"),
        *keys,
        _hash60(F.col(item_col)).alias("h"),
    ).distinct()
    return _kmin(pts, keys, k)


def kmv_cascade(
    summary: DataFrame,
    key_cols: Sequence[str],
    tier: str,
    k: int = DEFAULT_K,
) -> DataFrame:
    """Merge finer KMV sketches into coarser ``tier`` buckets (lossless)."""
    keys = list(key_cols)
    pts = summary.select(
        F.date_trunc(_trunc_unit(tier), F.col("bucket")).alias("bucket"),
        *keys,
        F.explode("hashes").alias("h"),
    ).distinct()
    return _kmin(pts, keys, k)


def kmv_estimate(
    summary: DataFrame, key_cols: Sequence[str], k: int = DEFAULT_K
) -> DataFrame:
    """Sketch rows → ``(bucket, *keys, sketch_size, est_distinct)``.

    Exact when the group held < k distinct values (the sketch IS the
    value set); otherwise the unbiased KMV estimator (k-1)/U(k).
    ``est_distinct`` is quantized to 1e-4 for cross-engine determinism.
    """
    n = F.size("hashes")
    kth = F.element_at("hashes", k).cast("double")
    est = F.when(n < k, n.cast("double")).otherwise(
        F.lit(float(k - 1) * _HASH_SPACE) / kth
    )
    return summary.select(
        "bucket",
        *key_cols,
        n.cast("long").alias("sketch_size"),
        (F.round(est * 10000, 0).cast("long") / 10000.0).alias("est_distinct"),
    )


def kmv_set_estimates(
    summary: DataFrame,
    group_col: str,
    key_cols: Sequence[str] = (),
    k: int = DEFAULT_K,
) -> DataFrame:
    """Distinct-set ALGEBRA from the sketches alone (Beyer et al. 2007,
    "On synopses for distinct-value estimation under multiset
    operations"): for every unordered pair of ``group_col`` values within
    a (bucket, *key_cols) cell, estimate |A∪B|, |A∩B| and the Jaccard
    similarity — e.g. "how many users do two event types share, per day"
    — without ever re-touching raw data.

    Method: the pair's union sketch L is the k smallest of the two k-min
    sets (lossless, same argument as the cascade); ``est_union`` is the
    standard KMV estimator on L (exact when the candidate union is
    smaller than k, i.e. both sketches were complete value sets);
    ``jaccard`` is the fraction ρ of L's hashes present in BOTH input
    sketches (L is a uniform random sample of A∪B, ρ its intersection
    share); ``est_intersection`` = ρ · est_union.  All arithmetic is
    deterministic IEEE on exact integers, so a DuckDB replay of the same
    k-min sets matches bit-for-bit (estimates quantized to 1e-4 like
    :func:`kmv_estimate`).

    Scale: a self-join of SKETCH rows (≤ k bigints each) on
    (bucket, *key_cols) with ``g1 < g2`` — O(series²) pairs per bucket of
    array math on ≤ 2k elements, never a raw-data join.  Callers bound
    the series set per cell (it is a cross-SERIES analysis op, like
    ``decompose.series_corr``); an unbounded tag would need a top-N
    pre-filter first.
    """
    keys = list(key_cols)
    a = summary.select(
        "bucket", *keys,
        F.col(group_col).alias("g1"), F.col("hashes").alias("_ha"),
    )
    b = summary.select(
        "bucket", *keys,
        F.col(group_col).alias("g2"), F.col("hashes").alias("_hb"),
    )
    paired = a.join(b, on=["bucket", *keys]).filter(F.col("g1") < F.col("g2"))
    cand = F.sort_array(F.array_union("_ha", "_hb"))
    n_cand = F.size(cand)
    union_sk = F.slice(cand, 1, k)
    union_size = F.least(n_cand, F.lit(k))
    kth = F.element_at(union_sk, k).cast("double")
    est_union = F.when(n_cand < k, n_cand.cast("double")).otherwise(
        F.lit(float(k - 1) * _HASH_SPACE) / kth
    )
    shared_in_l = F.size(
        F.array_intersect(union_sk, F.array_intersect("_ha", "_hb"))
    )
    rho = shared_in_l.cast("double") / union_size
    q4 = lambda c: F.round(c * 10000, 0).cast("long") / 10000.0  # noqa: E731
    return paired.select(
        "bucket", *keys, "g1", "g2",
        union_size.cast("long").alias("union_sketch_size"),
        q4(est_union).alias("est_union"),
        q4(rho * est_union).alias("est_intersection"),
        q4(rho).alias("jaccard"),
    )


def kmv_rebucket(
    summary: DataFrame,
    key_cols: Sequence[str],
    width_seconds: int,
    k: int = DEFAULT_K,
    tz: str | None = None,
    offset_seconds: int = 0,
) -> DataFrame:
    """Merge sketches into epoch-aligned buckets of ANY width that is a
    multiple of the sketch tier — the continuous-aggregate re-bucket
    (``GROUP BY time(4h)`` served from the 1h KMV tier).  Same lossless
    k-min union as :func:`kmv_cascade`, calendar-free bucket math.
    ``tz`` re-buckets on that zone's WALL clock (exact under the
    frontend's _tz_grid_ok precondition — the k-min union is
    bucket-assignment-agnostic); ``offset_seconds`` shifts the grid
    (``GROUP BY time(6h, 1h)``) — exact when the sketch tier divides the
    offset, so no tier bucket straddles a shifted boundary."""
    keys = list(key_cols)
    bt = F.col("bucket").cast("timestamp")
    if tz:
        bt = F.from_utc_timestamp(bt, tz)
    secs = F.unix_timestamp(bt).cast("long")
    off = int(offset_seconds)
    pts = summary.select(
        F.timestamp_seconds(
            secs - ((secs - off) % width_seconds)
        ).alias("bucket"),
        *keys,
        F.explode("hashes").alias("h"),
    ).distinct()
    return _kmin(pts, keys, k)


def build_kmv_tiers(
    spark,
    catalog,
    df: DataFrame,
    ts_col: str,
    key_cols: Sequence[str],
    item_col: str,
    k: int = DEFAULT_K,
) -> list[str]:
    """Materialize ``kmv_1h`` and ``kmv_1d`` distinct-sketch tiers in the
    catalog (per-day partitions, wave commit — same layout as the rollup
    tiers), 1d CASCADED from 1h so the coarse tier costs a summary-sized
    job, not a second raw scan.  ``k`` is pinned as a table property: a
    reader merging sketches built with different k would silently
    under-estimate.  Returns the committed day list."""
    return build_tiers(
        catalog, "kmv", kmv_sketch(df, ts_col, list(key_cols), item_col, "1h", k),
        lambda s, keys, tier: kmv_cascade(s, keys, tier, k), key_cols, item_col, k,
    )


def kmv_sliding(
    summary: DataFrame,
    key_cols: Sequence[str],
    window_buckets: int,
    bucket_seconds: int = 3600,
    k: int = DEFAULT_K,
) -> DataFrame:
    """TRAILING-window distinct counts from the sketch tiers — the
    DAU/WAU primitive ("users active in the 24h ending at each hour"):
    for every OBSERVED bucket o, the k-min union of the window_buckets
    sketches covering (o − window, o], inclusive of o.

    A tumbling re-bucket (:func:`kmv_rebucket`) cannot answer this —
    trailing windows overlap, so each sketch contributes to
    ``window_buckets`` outputs.  The k-min union stays lossless under
    overlap (any hash among the window's k smallest is in its own
    bucket's k-min set), so the sliding estimate is IDENTICAL to
    sketching each window from raw.

    Scale: the explode inflates SKETCH rows by k·window_buckets — tier-
    sized (e.g. 24·64 longs per series-hour), never raw-sized; one
    shuffle on (out_bucket, series) with the same trim as the cascade.
    Outputs only at observed buckets (a dashboard asks at hours that
    exist; empty hours have no row in the tier to anchor a window).
    """
    keys = list(key_cols)
    obs = summary.select("bucket", *keys).distinct()
    contrib = summary.select(
        *keys,
        F.explode(
            F.sequence(F.lit(0), F.lit(int(window_buckets) - 1))
        ).alias("_off"),
        F.col("bucket").alias("_b"),
        "hashes",
    ).select(
        *keys,
        (
            F.col("_b")
            + F.expr(f"make_interval(0,0,0,0,0,0, _off * {bucket_seconds})")
        ).alias("bucket"),
        F.explode("hashes").alias("h"),
    )
    pts = contrib.join(obs, on=["bucket", *keys]).distinct()
    return _kmin(pts, keys, k)
