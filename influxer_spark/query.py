"""Rollup query API — the continuous-aggregate read path.

A user of the reference system queries InfluxDB with ``GROUP BY time(w)``
over a time range and the server answers from the appropriate retention
tier.  Natively:

- :func:`select_tier` picks the COARSEST materialized tier whose buckets
  divide the requested width (1d for 1-week buckets, 1h for 4h, 1m for 5m,
  …) — the classic continuous-aggregate rewrite, exact because the tiers
  store algebraic partials (cnt/sum/min/max re-aggregate losslessly).
- :func:`read_rollup` prunes day partitions from the catalog MANIFEST
  (metadata-only, never lists or reads other days' files), re-buckets the
  chosen tier to the requested width, and derives the exact mean.

At 10^12-point scale this is the difference between scanning a 1m tier
(~10^9 rows/day) and a 1d tier (~10^5 rows/day) for a monthly dashboard.
"""

from __future__ import annotations

import datetime as dt
from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from influxer_spark.catalog import TableCatalog

TIER_SECONDS = {"1m": 60, "1h": 3600, "1d": 86400}


def select_tier(width_seconds: int) -> str:
    """Coarsest tier whose bucket width divides the requested width."""
    if width_seconds <= 0:
        raise ValueError("width_seconds must be positive")
    best = None
    for tier, secs in TIER_SECONDS.items():
        if width_seconds % secs == 0 and (best is None or secs > TIER_SECONDS[best]):
            best = tier
    if best is None:  # widths that divide nothing (e.g. 90s) → finest tier
        best = "1m"
    return best


def _partitions_in_range(
    catalog: TableCatalog,
    table: str,
    start: dt.datetime | None,
    end: dt.datetime | None,
    as_of: int | None = None,
) -> list[str]:
    parts = []
    for p in sorted(catalog.committed_partitions(table, as_of=as_of)):
        try:
            day0 = dt.datetime.combine(dt.date.fromisoformat(p), dt.time.min)
        except ValueError:
            continue
        # half-open overlap with [start, end): a query ending exactly at
        # midnight must NOT read the next day's partition
        if start is not None and day0 + dt.timedelta(days=1) <= start:
            continue
        if end is not None and day0 >= end:
            continue
        parts.append(p)
    return parts


def _read_range(
    spark: SparkSession, catalog: TableCatalog, table: str,
    start: dt.datetime | None, end: dt.datetime | None,
    as_of: int | str | None = None,
) -> DataFrame:
    """``table``'s committed day partitions overlapping [start, end),
    manifest-pruned and read with the snapshot's recorded schema."""
    parts = _partitions_in_range(catalog, table, start, end, as_of=as_of)
    if not parts:
        raise ValueError(f"no committed {table} partitions in range")
    return catalog.read_partitions(spark, table, parts, as_of=as_of)


def _between(
    df: DataFrame, col: str, start: dt.datetime | None, end: dt.datetime | None
) -> DataFrame:
    """Rows of ``df`` whose ``col`` lies in [start, end) (None: unbounded)."""
    if start is not None:
        df = df.filter(F.col(col) >= F.lit(start))
    if end is not None:
        df = df.filter(F.col(col) < F.lit(end))
    return df


def read_rollup(
    spark: SparkSession,
    catalog: TableCatalog,
    width_seconds: int,
    start: dt.datetime | None = None,
    end: dt.datetime | None = None,
    key_cols: Sequence[str] = ("url", "metric"),
    tier: str | None = None,
    as_of: int | None = None,
) -> DataFrame:
    """Exact (cnt, sum, min, max, avg) at any bucket width over [start, end),
    answered from the cheapest materialized tier with manifest-level
    partition pruning.

    ``as_of`` answers from a RETAINED EARLIER SNAPSHOT of the tier table
    (Iceberg time travel on the read path): "what did this dashboard say
    before yesterday's re-crawl refresh landed" — the immutable ``v=``
    dirs the old manifest references stay on disk until
    ``expire_snapshots`` reclaims them."""
    tier = tier or select_tier(width_seconds)
    df = _between(
        _read_range(spark, catalog, f"rollup_{tier}", start, end, as_of),
        "bucket", start, end,
    )
    secs = F.unix_timestamp(F.col("bucket").cast("timestamp"))
    out_bucket = F.timestamp_seconds(
        (secs - (secs % width_seconds)).cast("long")
    ).alias("bucket")
    rolled = (
        df.groupBy(out_bucket, *[F.col(k) for k in key_cols])
        .agg(
            F.sum("cnt").alias("cnt"),
            F.sum("sum_v").alias("sum_v"),
            F.min("min_v").alias("min_v"),
            F.max("max_v").alias("max_v"),
        )
        .withColumn("avg_v", F.col("sum_v") / F.col("cnt"))
    )
    return rolled


def read_candles(
    spark: SparkSession,
    catalog: TableCatalog,
    width_seconds: int,
    start: dt.datetime | None = None,
    end: dt.datetime | None = None,
    key_cols: Sequence[str] = ("url", "metric"),
    tier: str | None = None,
    as_of: int | None = None,
) -> DataFrame:
    """Exact OHLC candlesticks at any bucket width over [start, end),
    answered from the cheapest materialized ``ohlc_*`` tier
    (operators/rollup.py:build_ohlc_tiers) with manifest-level partition
    pruning — the Python-API twin of the front-end's tier-served
    first()/last().  Open/close merge by their ORIGINAL timestamps
    (struct order), so any re-bucket/re-group is bit-identical to
    computing the candles from raw points."""
    from influxer_spark.operators.rollup import merge_ohlc

    tier = tier or select_tier(width_seconds)
    if width_seconds % TIER_SECONDS[tier] != 0:
        # a tier candle straddling two output buckets cannot be split —
        # its high/low/close would be attributed to the wrong bucket, so
        # fail loudly instead (only reachable via an explicit tier= or a
        # width no tier divides, where select_tier falls back to 1m)
        raise ValueError(
            f"read_candles: width {width_seconds}s is not a multiple of "
            f"the {tier} tier's bucket ({TIER_SECONDS[tier]}s) — candles "
            "cannot be split across output buckets; choose a dividing "
            "width or build a finer ohlc tier"
        )
    df = _between(
        _read_range(spark, catalog, f"ohlc_{tier}", start, end, as_of),
        "bucket", start, end,
    )
    secs = F.unix_timestamp(F.col("bucket").cast("timestamp"))
    out_bucket = F.timestamp_seconds(
        (secs - (secs % width_seconds)).cast("long")
    )
    return merge_ohlc(df, out_bucket, list(key_cols))


def _stitch_usable(e, block_w: int, width: int, start_e, end_e):
    """Column predicate: the ``block_w``-second block starting at epoch
    column ``e`` lies fully inside its own output bucket, clipped to the
    query range — i.e. this block's partial can serve the stitched read
    without double counting or leaking outside [start, end)."""
    ob = e - e % width
    lo = F.greatest(ob, F.lit(start_e)) if start_e is not None else ob
    hi = (
        F.least(ob + width, F.lit(end_e))
        if end_e is not None
        else ob + width
    )
    return (e >= lo) & ((e + block_w) <= hi)


def stitch_tier_frames(
    spark: SparkSession,
    catalog: TableCatalog,
    width_seconds: int,
    start: dt.datetime | None = None,
    end: dt.datetime | None = None,
) -> dict[str, DataFrame]:
    """Per-tier row sources for a stitched mixed-granularity read (see
    :func:`read_rollup_stitched`); split out so tests and EXPLAIN tooling
    can measure how many rows each tier actually contributes."""
    if width_seconds <= 0 or width_seconds % 60 != 0:
        raise ValueError("stitched reads require a positive multiple of 60s")
    start_e = None if start is None else int(start.timestamp())
    end_e = None if end is None else int(end.timestamp())
    for te, name in ((start_e, "start"), (end_e, "end")):
        if te is not None and te % 60 != 0:
            raise ValueError(f"{name} must be minute-aligned for stitched reads")

    parts = {
        t: _partitions_in_range(catalog, f"rollup_{t}", start, end)
        for t in TIER_SECONDS
    }
    if not parts["1m"]:
        raise ValueError("no committed rollup_1m partitions in range")
    if not (parts["1m"] == parts["1h"] == parts["1d"]):
        raise ValueError(
            "stitched read needs identical committed day partitions in all "
            f"tiers; got 1m={len(parts['1m'])} 1h={len(parts['1h'])} "
            f"1d={len(parts['1d'])}"
        )

    parent = {"1m": 3600, "1h": 86400, "1d": None}
    out: dict[str, DataFrame] = {}
    for tier, w in TIER_SECONDS.items():
        if w > width_seconds:
            # a block wider than the output bucket can never fit inside it;
            # skip the scan entirely (its children keep themselves: the
            # parent-usable test is vacuously false)
            continue
        df = _between(
            catalog.read_partitions(spark, f"rollup_{tier}", parts[tier]),
            "bucket", start, end,
        )
        e = F.unix_timestamp(F.col("bucket").cast("timestamp"))
        keep = _stitch_usable(e, w, width_seconds, start_e, end_e)
        pw = parent[tier]
        if pw is not None:
            pe = e - e % pw
            keep = keep & ~_stitch_usable(pe, pw, width_seconds, start_e, end_e)
        out[tier] = df.filter(keep)
    return out


def read_rollup_stitched(
    spark: SparkSession,
    catalog: TableCatalog,
    width_seconds: int,
    start: dt.datetime | None = None,
    end: dt.datetime | None = None,
    key_cols: Sequence[str] = ("url", "metric"),
) -> DataFrame:
    """Exact (cnt, sum, min, max, avg) at a width that divides NO coarse
    tier, served from a UNION of tiers instead of the finest one alone.

    :func:`read_rollup` must fall back to the 1m tier for widths like 90m
    or 25h (nothing coarser divides them).  But every epoch-aligned output
    bucket decomposes into whole 1d blocks, whole 1h blocks not inside a
    usable day, and 1m rows for the remaining edges — the TimescaleDB /
    Druid mixed-granularity rewrite.  Because the tiers store algebraic
    partials (cnt/sum/min/max) and the tier blocks nest (1m ⊂ 1h ⊂ 1d),
    the union re-aggregates losslessly: a block is read from tier *w*
    exactly when it fits its clipped output bucket and its parent block
    does not, so every minute of [start, end) is covered exactly once.

    Scale: a 25h dashboard over a year reads ~365 day rows + ~365 edge
    hour rows per series instead of ~525k minute rows — O(buckets), not
    O(minutes), same as the aligned-width fast path.  Day partitions are
    still manifest-pruned; the per-row epoch predicates are pure long
    math inside whole-stage codegen.

    Preconditions (raised, not assumed): width and start/end minute-
    aligned; identical committed day partitions across the three tiers
    (true for every pipeline/build_point_tiers wave).
    """
    frames = stitch_tier_frames(spark, catalog, width_seconds, start, end)
    cols = [*key_cols, "cnt", "sum_v", "min_v", "max_v", "bucket"]
    unioned = None
    for df in frames.values():
        part = df.select(*cols)
        unioned = part if unioned is None else unioned.unionByName(part)
    e = F.unix_timestamp(F.col("bucket").cast("timestamp"))
    out_bucket = F.timestamp_seconds(
        (e - (e % width_seconds)).cast("long")
    ).alias("bucket")
    return (
        unioned.groupBy(out_bucket, *[F.col(k) for k in key_cols])
        .agg(
            F.sum("cnt").alias("cnt"),
            F.sum("sum_v").alias("sum_v"),
            F.min("min_v").alias("min_v"),
            F.max("max_v").alias("max_v"),
        )
        .withColumn("avg_v", F.col("sum_v") / F.col("cnt"))
    )


def read_series(
    spark: SparkSession,
    catalog: TableCatalog,
    start: dt.datetime | None = None,
    end: dt.datetime | None = None,
    key_cols: Sequence[str] = ("url", "metric"),
    table: str = "rollup_1m_gorilla",
) -> DataFrame:
    """Point-level read of the Gorilla-compressed archive tier: decode
    blobs back to the exact per-series 1m mean series ``(…keys, bucket,
    v)`` — the read path for data whose plain-parquet 1m tier has been
    retention-expired while the ~8-bytes/point archive is kept (the
    retention DAG's cold end; the reference delegates this tier to
    InfluxDB's TSM storage, Influxer/GenericFile.cs:262-271).

    Exactness: the codec round-trip is bit-identical (tests/test_gorilla),
    so this equals the expired ``rollup_1m``'s ``sum_v/cnt`` series
    exactly.  Wider re-aggregates of count/sum/min/max should come from
    the surviving 1h/1d tiers instead (they remain algebraically exact);
    this path serves the finest-grain value series.

    Scale: manifest-level partition pruning picks the day dirs; decode is
    a narrow mapInPandas (no shuffle) — each blob decodes where it lives,
    and the time filter on decoded buckets drops whole blobs' output
    early (blobs are per-(day,series), so a day-pruned scan already reads
    only in-range blobs).
    """
    from influxer_spark.operators.gorilla import decode_series_df

    enc = _read_range(spark, catalog, table, start, end)
    pts = decode_series_df(enc)
    out = pts.select(
        *[
            F.element_at("series_keys", i + 2).alias(k)
            for i, k in enumerate(key_cols)
        ],
        F.col("ts").alias("bucket"),
        F.col("value").alias("v"),
    )
    return _between(out, "bucket", start, end)


def read_count_series(
    spark: SparkSession,
    catalog: TableCatalog,
    start: dt.datetime | None = None,
    end: dt.datetime | None = None,
    key_cols: Sequence[str] = ("url", "metric"),
    table: str = "rollup_1m_counts",
) -> DataFrame:
    """Integer-codec analogue of read_series for the COUNT archive tier
    (rollup_1m_counts, zigzag-delta + simple8b blobs): decode back to the
    exact per-series 1m ``(…keys, bucket, cnt)``.  Counts are integers,
    so unlike the float mean series this read is usable for EXACT wider
    re-aggregation (sums of counts) even after the plain 1m tier expired.
    Same pruning/decode shape as read_series: manifest-level day pruning,
    narrow mapInPandas decode, no shuffle."""
    from influxer_spark.operators.intcodec import decode_int_series_df

    enc = _read_range(spark, catalog, table, start, end)
    pts = decode_int_series_df(enc)
    out = pts.select(
        *[
            F.element_at("series_keys", i + 2).alias(k)
            for i, k in enumerate(key_cols)
        ],
        F.col("ts").alias("bucket"),
        F.col("value").alias("cnt"),
    )
    return _between(out, "bucket", start, end)


def read_exact_rollup(
    spark: SparkSession,
    catalog: TableCatalog,
    width_seconds: int,
    start: dt.datetime | None = None,
    end: dt.datetime | None = None,
    key_cols: Sequence[str] = ("url", "metric"),
    table: str = "rollup_1m_counts",
    as_of: int | str | None = None,
) -> DataFrame:
    """EXACT count/sum/mean at any minute-multiple width from the integer
    archive tier: the pipeline stores (cnt, sum_cents) per 1m bucket as two
    zigzag-delta + simple8b blobs in one table row (encode_dual_series_df
    int_col2=), so after the plain 1m tier is retention-expired this read
    still re-aggregates EXACTLY — integer sums of integer archives — where
    the float Gorilla mean series can only be replayed at its own width.
    mean = sum_cents / 100.0 / cnt derives in one fixed float shape at the
    very end (value-oracle-safe, same discipline as the tier reads).

    Plan: manifest-pruned day read, one mapInPandas decode of BOTH blobs
    (positionally aligned — same timestamp run by construction, verified at
    decode), one groupBy on (keys, bucket) — no join between archives."""
    from influxer_spark.operators.intcodec import decode_int2_series_df

    enc = _read_range(spark, catalog, table, start, end, as_of)
    pts = decode_int2_series_df(enc, blob_col="blob", blob2_col="sum_blob")
    w = F.lit(int(width_seconds)).cast("long")
    epoch = F.unix_timestamp("ts").cast("long")
    out = pts.select(
        *[
            F.element_at("series_keys", i + 2).alias(k)
            for i, k in enumerate(key_cols)
        ],
        F.timestamp_seconds((epoch - (epoch % w))).alias("bucket"),
        F.col("v1").alias("cnt"),
        F.col("v2").alias("sum_cents"),
        F.col("ts"),
    )
    agg = _between(out, "ts", start, end).groupBy(*key_cols, "bucket").agg(
        F.sum("cnt").alias("cnt"),
        F.sum("sum_cents").alias("sum_cents"),
    )
    return agg.select(
        *key_cols, "bucket", "cnt", "sum_cents",
        (
            F.col("sum_cents").cast("double") / F.lit(100.0)
            / F.col("cnt").cast("double")
        ).alias("mean_v"),
    )


def read_quantile(
    spark: SparkSession,
    catalog: TableCatalog,
    width_seconds: int,
    q: float,
    bounds: Sequence[float] | None = None,
    start: dt.datetime | None = None,
    end: dt.datetime | None = None,
    key_cols: Sequence[str] = ("url", "metric"),
    tier: str | None = None,
    out_col: str = "q_v",
) -> DataFrame:
    """Quantile ``q`` at any bucket width over [start, end), served from a
    histogram-bearing tier (pipeline ``hist_bounds=``) — manifest-pruned,
    element-wise re-bucket of the cell counts (exact), then rank
    interpolation (relative error bounded by the bound spacing).  The
    continuous-aggregate answer to "p99 latency panel over a month":
    O(buckets · len(bounds)) read instead of a raw percentile over
    O(points).  ``bounds`` defaults to the list the tier was built with
    (pinned as the table property ``hist_bounds`` by the pipeline); passing
    a different list than the pinned one is an error — interpolating
    against wrong bounds silently produces wrong quantiles."""
    from influxer_spark.operators import rollup as R

    tier = tier or select_tier(width_seconds)
    table = f"rollup_{tier}"
    pinned = catalog.table_property(table, "hist_bounds")
    if bounds is None:
        bounds = pinned
        if bounds is None:
            raise ValueError(
                f"{table} pins no hist_bounds property and none were given"
            )
    elif pinned is not None and [float(b) for b in bounds] != pinned:
        raise ValueError(
            f"given bounds differ from {table}'s pinned hist_bounds"
        )
    df = _read_range(spark, catalog, table, start, end)
    if "hist" not in df.columns:
        raise ValueError(
            f"{table} has no 'hist' column — run the pipeline with "
            "hist_bounds= to materialize quantile histograms"
        )
    df = _between(df, "bucket", start, end)
    secs = F.unix_timestamp(F.col("bucket").cast("timestamp"))
    out_bucket = F.timestamp_seconds(
        (secs - (secs % width_seconds)).cast("long")
    ).alias("bucket")
    grouped = (
        df.groupBy(out_bucket, *[F.col(k) for k in key_cols])
        .agg(
            F.sum("cnt").alias("cnt"),
            R.hist_sum_expr(len(bounds) + 1).alias("hist"),
        )
    )
    return R.histogram_quantile(grouped, q, bounds, out_col).drop("hist")


def read_distinct(
    spark: SparkSession,
    catalog: TableCatalog,
    width_seconds: int,
    start: dt.datetime | None = None,
    end: dt.datetime | None = None,
    key_cols: Sequence[str] = ("url", "metric"),
    k: int | None = None,
) -> DataFrame:
    """Approximate distinct count at any bucket width over [start, end),
    served from the KMV sketch tiers (``operators/kmv.py:build_kmv_tiers``)
    — manifest-pruned, lossless k-min re-bucket, then the (k-1)/U(k)
    estimate (EXACT whenever a bucket held < k distinct items).

    The continuous-aggregate answer to "daily unique visitors panel over a
    month": O(buckets · k) read instead of a COUNT(DISTINCT) shuffle over
    O(points).  Tier choice mirrors :func:`select_tier` — the coarsest
    sketch tier whose buckets divide the width — and ``k`` defaults to the
    table property pinned at build time (passing a different k is an
    error: merging mixed-k sketches silently under-estimates).
    """
    from influxer_spark.operators import kmv as KMV

    if width_seconds % 86400 == 0:
        table = "kmv_1d"
    elif width_seconds % 3600 == 0:
        table = "kmv_1h"
    else:
        raise ValueError(
            "read_distinct serves hour-multiple widths; "
            f"{width_seconds}s is not one (no 1m KMV tier is materialized)"
        )
    pinned = catalog.table_property(table, "kmv_k")
    if k is None:
        k = pinned
        if k is None:
            raise ValueError(f"{table} pins no kmv_k property and none given")
    elif pinned is not None and int(k) != int(pinned):
        raise ValueError(f"given k={k} differs from {table}'s pinned kmv_k={pinned}")
    df = _between(
        _read_range(spark, catalog, table, start, end), "bucket", start, end
    )
    keys = list(key_cols)
    merged = KMV.kmv_rebucket(df, keys, width_seconds, int(k))
    return KMV.kmv_estimate(merged, keys, int(k))


def read_percentile(
    spark: SparkSession,
    catalog: TableCatalog,
    width_seconds: int,
    ps: Sequence[float] = (0.5, 0.95, 0.99),
    start: dt.datetime | None = None,
    end: dt.datetime | None = None,
    key_cols: Sequence[str] = ("url", "metric"),
    sub_bits: int | None = None,
) -> DataFrame:
    """Percentiles at any hour-multiple bucket width over [start, end),
    served from the log-linear quantile-sketch tiers
    (``operators/hdrsketch.py:build_hdr_tiers``) — manifest-pruned,
    lossless counter-vector re-bucket, then nearest-rank reads with
    relative error ≤ 2^-sub_bits.

    The bounds-free sibling of :func:`read_quantile`: the histogram path
    needs the pipeline to have configured ``hist_bounds`` per metric; the
    HDR path adapts to any value range, so a NEW metric gets p99 panels
    with no config.  ``sub_bits`` defaults to the table property pinned at
    build time (passing a different value is an error — bucket indices
    from different resolutions do not mix)."""
    from influxer_spark.operators import hdrsketch as H

    if width_seconds % 86400 == 0:
        table = "hdr_1d"
    elif width_seconds % 3600 == 0:
        table = "hdr_1h"
    else:
        raise ValueError(
            "read_percentile serves hour-multiple widths; "
            f"{width_seconds}s is not one (no 1m HDR tier is materialized)"
        )
    pinned = catalog.table_property(table, "hdr_sub_bits")
    if sub_bits is None:
        sub_bits = pinned if pinned is not None else H.DEFAULT_SUB_BITS
    elif pinned is not None and int(sub_bits) != int(pinned):
        raise ValueError(
            f"given sub_bits={sub_bits} differs from {table}'s pinned "
            f"hdr_sub_bits={pinned}"
        )
    df = _between(
        _read_range(spark, catalog, table, start, end), "bucket", start, end
    )
    keys = list(key_cols)
    merged = H.hdr_rebucket(df, keys, width_seconds)
    return H.hdr_quantiles(merged, keys, ps, int(sub_bits))


def tier_watermark(
    catalog: TableCatalog, tier: str = "1m", family: str = "rollup"
) -> dt.datetime | None:
    """First instant NOT covered by the tier's committed day partitions:
    midnight after the newest committed day (None when nothing committed).
    Day holes BEFORE the watermark are refresh's job (operators/refresh.py),
    not the read path's.  ``family`` selects the tier table family (the
    candlestick serving path watermarks off ``ohlc_*``, not ``rollup_*`` —
    a catalog may materialize one without the other)."""
    parts = catalog.committed_partitions(f"{family}_{tier}")
    if not parts:
        return None
    return dt.datetime.fromisoformat(max(parts)) + dt.timedelta(days=1)


def read_realtime(
    spark: SparkSession,
    catalog: TableCatalog,
    raw_points: DataFrame,
    width_seconds: int,
    ts_col: str = "ts",
    value_col: str = "value",
    key_cols: Sequence[str] = ("url", "metric"),
    start: dt.datetime | None = None,
    end: dt.datetime | None = None,
    tier: str | None = None,
) -> DataFrame:
    """TimescaleDB-style REAL-TIME continuous aggregate: the committed tier
    answers everything before the tier watermark; raw points at/after the
    watermark are rolled up on the fly; the two partial sets merge
    losslessly (cnt/sum/min/max are algebraic).  A dashboard therefore sees
    data the pipeline wave hasn't materialized yet, at tier cost for the
    whole history plus raw cost for ONLY the tail — never a full raw scan.

    Buckets that straddle the watermark (widths coarser than a day) merge
    correctly because both sides contribute partials into the same final
    re-aggregation.
    """
    from influxer_spark.operators.rollup import rollup_width

    tier = tier or select_tier(width_seconds)
    wm = tier_watermark(catalog, tier)
    parts = []

    def _partials(df):
        return df.select(
            "bucket", *key_cols, "cnt", "sum_v", "min_v", "max_v"
        )

    if wm is not None and (start is None or start < wm):
        tier_end = wm if end is None else min(end, wm)
        if _partitions_in_range(catalog, f"rollup_{tier}", start, tier_end):
            tiered = read_rollup(
                spark, catalog, width_seconds,
                start=start, end=tier_end, key_cols=key_cols, tier=tier,
            )
            parts.append(_partials(tiered))
    tail = raw_points
    if wm is not None:
        tail = tail.filter(F.col(ts_col) >= F.lit(wm))
    if start is not None:
        tail = tail.filter(F.col(ts_col) >= F.lit(start))
    if end is not None:
        tail = tail.filter(F.col(ts_col) < F.lit(end))
    parts.append(
        _partials(rollup_width(tail, ts_col, key_cols, value_col, width_seconds))
    )
    allp = parts[0]
    for p in parts[1:]:
        allp = allp.unionByName(p)
    return (
        allp.groupBy("bucket", *[F.col(k) for k in key_cols])
        .agg(
            F.sum("cnt").alias("cnt"),
            F.sum("sum_v").alias("sum_v"),
            F.min("min_v").alias("min_v"),
            F.max("max_v").alias("max_v"),
        )
        .withColumn("avg_v", F.col("sum_v") / F.col("cnt"))
    )


def read_sliding(
    spark: SparkSession,
    catalog: TableCatalog,
    window_seconds: int,
    start: dt.datetime | None = None,
    end: dt.datetime | None = None,
    key_cols: Sequence[str] = ("url", "metric"),
    tier: str = "1h",
) -> DataFrame:
    """Trailing-window (cnt, sum, min, max, avg) at every observed tier
    bucket over [start, end), from the materialized tiers with
    WARM-UP-AWARE pruning: a trailing window anchored at ``start`` needs
    tier rows back to ``start − window``, so the manifest prune loads
    [start − window, end) but the OUTPUT is filtered to [start, end) —
    the subtlety a naive prune gets wrong (the first window of every
    query would silently shrink).

    ``window_seconds`` must be a multiple of the tier width.  Cost: the
    pruned tier scan + one RANGE window per series
    (operators/rollup.py:rollup_sliding).
    """
    from influxer_spark.operators.rollup import rollup_sliding

    tier_s = TIER_SECONDS[tier]
    if window_seconds % tier_s != 0 or window_seconds <= 0:
        raise ValueError(
            f"window_seconds ({window_seconds}) must be a positive "
            f"multiple of the {tier} tier width ({tier_s}s)"
        )
    table = f"rollup_{tier}"
    warm_start = (
        start - dt.timedelta(seconds=window_seconds - tier_s)
        if start is not None
        else None
    )
    df = _between(
        _read_range(spark, catalog, table, warm_start, end),
        "bucket", warm_start, end,
    )
    out = rollup_sliding(df, list(key_cols), window_seconds // tier_s, tier_s)
    return _between(out, "bucket", start, None)
