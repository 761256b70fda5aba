"""Gap-fill + linear interpolation over rolled-up buckets (SURVEY.md A5,
[delegated→build]).

Reference analogue: blank cells are skipped creating series gaps
(Influxer/GenericFile.cs:81); InfluxDB's ``fill(linear)`` is what the reference
delegates to.  Implemented natively; :func:`fill_buckets` serves every
InfluxQL ``fill()`` mode, LOCF and the deadman alert:

1. ONE per-series aggregate collects each series' observed ``(bucket,
   values)`` entries beside its spine ``sequence(lo, hi, interval)`` — NO
   global calendar cross-join, and no join at all: a NULL series key is
   just another group (InfluxDB's missing tag is its own series).
2. the observed entries explode together with the spine buckets none of
   them holds (``array_except``: a hash-set difference, linear in the spine).
3. linear interpolation / LOCF as analytic windows on the partitioning the
   aggregate produced, so Spark adds no exchange:
   prev = last(value, ignorenulls) over rows UNBOUNDED PRECEDING..CURRENT,
   next = first(value, ignorenulls) over rows CURRENT..UNBOUNDED FOLLOWING,
   filled = prev + (next-prev) * (t-t_prev)/(t_next-t_prev).
   Spine endpoints default to the series' own min/max observed buckets, so
   interpolation is always bounded (no extrapolation).

:func:`gapfill_interpolate` keeps the older shape: observed buckets LEFT
JOINed onto a per-series spine.

Scale notes: memory per series is bounded by its spine length (time range /
interval), not by raw row count.  All expressions are codegen'd; no UDFs.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

_INTERVAL = {"1m": "interval 1 minute", "1h": "interval 1 hour", "1d": "interval 1 day"}


def gapfill_interpolate(
    rolled: DataFrame,
    key_cols: Sequence[str],
    value_col: str,
    tier: str = "1h",
    bucket_col: str = "bucket",
) -> DataFrame:
    """Densify each series' bucket spine and linearly interpolate ``value_col``.

    Returns spine rows with columns: *key_cols, bucket, <value_col> (observed
    or interpolated), ``filled`` (boolean: True if the row was a gap).
    """
    if tier not in _INTERVAL:
        raise ValueError(f"unknown tier {tier!r}")
    interval = _INTERVAL[tier]
    keys = [F.col(k) for k in key_cols]

    # 1. per-series spine
    spine = (
        rolled.groupBy(*keys)
        .agg(F.min(bucket_col).alias("_lo"), F.max(bucket_col).alias("_hi"))
        .select(
            *key_cols,
            F.explode(
                F.sequence(F.col("_lo"), F.col("_hi"), F.expr(interval))
            ).alias(bucket_col),
        )
    )

    # 2. observed values onto the spine
    observed = rolled.select(*key_cols, bucket_col, F.col(value_col).alias("_obs"))
    joined = spine.join(observed, on=[*key_cols, bucket_col], how="left")

    # 3. linear interpolation between nearest observed neighbours
    w_back = (
        Window.partitionBy(*keys)
        .orderBy(bucket_col)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    w_fwd = (
        Window.partitionBy(*keys)
        .orderBy(bucket_col)
        .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    )
    t = F.unix_timestamp(F.col(bucket_col)).cast("double")
    obs_t = F.when(F.col("_obs").isNotNull(), t)

    df = (
        joined.withColumn("_pv", F.last("_obs", ignorenulls=True).over(w_back))
        .withColumn("_pt", F.last(obs_t, ignorenulls=True).over(w_back))
        .withColumn("_nv", F.first("_obs", ignorenulls=True).over(w_fwd))
        .withColumn("_nt", F.first(obs_t, ignorenulls=True).over(w_fwd))
    )
    frac = (t - F.col("_pt")) / (F.col("_nt") - F.col("_pt"))
    interp = F.col("_pv") + (F.col("_nv") - F.col("_pv")) * frac
    return (
        df.withColumn(
            value_col,
            F.when(F.col("_obs").isNotNull(), F.col("_obs")).otherwise(interp),
        )
        .withColumn("filled", F.col("_obs").isNull())
        .drop("_obs", "_pv", "_pt", "_nv", "_nt")
    )


def gapfill_locf(
    rolled: DataFrame,
    key_cols: Sequence[str],
    value_col: str,
    tier: str = "1h",
    bucket_col: str = "bucket",
) -> DataFrame:
    """Gap-fill with last-observation-carried-forward (InfluxDB fill(previous)).

    LOCF needs only the spine join plus ONE backward window — routing through
    ``gapfill_interpolate`` (as earlier revisions did) paid for both window
    directions and then a third window pass on top, three sorts instead of one.
    """
    if tier not in _INTERVAL:
        raise ValueError(f"unknown tier {tier!r}")
    width = {"1m": 60, "1h": 3600, "1d": 86400}[tier]
    return fill_buckets(
        rolled, key_cols, [value_col], width, mode="previous", bucket_col=bucket_col
    )


def fill_buckets(
    rolled: DataFrame,
    key_cols: Sequence[str],
    value_cols: Sequence[str],
    width_seconds: int,
    mode: str = "null",
    fill_value: float | None = None,
    bucket_col: str = "bucket",
    spine_bounds: tuple | None = None,
    spine_tz: str | None = None,
) -> DataFrame:
    """General gap-fill: arbitrary bucket width, many value columns, all of
    InfluxQL's ``fill()`` modes — the execution layer under the InfluxQL
    string front-end's ``GROUP BY time(w) fill(...)``.

    mode: 'null' (spine rows with NULLs), 'previous' (LOCF), 'linear'
    (bounded interpolation), 'value' (constant ``fill_value``).
    ``spine_bounds=(lo_ts, hi_ts)`` pins the spine to the query's WHERE time
    range (InfluxDB fills the queried range); default is each series' own
    observed min/max (no extrapolation).

    Input contract: ``rolled`` is an aggregate — at most ONE row per
    (series, bucket).  One ``groupBy(key_cols)`` builds every series'
    spine; the ONE shared backward + forward window pair (for every value
    column) runs on its partitioning, with no further exchange.
    """
    if mode not in ("null", "previous", "linear", "value"):
        raise ValueError(f"unknown fill mode {mode!r}")
    keys = [F.col(k) for k in key_cols]
    width = int(width_seconds)
    if spine_bounds is None:
        lo, hi = F.min(bucket_col), F.max(bucket_col)
    else:
        lo, hi = (F.lit(b).cast("timestamp") for b in spine_bounds)

    # an observed bucket's entry carries (_hit, *values), so an all-NULL
    # aggregate is not misread as a gap; a gap's entry is NULL
    observed = F.struct(
        F.col(bucket_col).alias("b"),
        F.struct(F.lit(True).alias("_hit"), *value_cols).alias("r"),
    )
    series = rolled.groupBy(*keys).agg(
        F.collect_list(observed).alias("_obs"), lo.alias("_lo"), hi.alias("_hi")
    )
    # the array steps are SQL text: one JVM call each, where the Column API
    # makes a round trip per node and lambda
    gaps = (f"array_except(sequence(_lo, _hi, interval {width} seconds), "
            "transform(_obs, e -> e.b))")
    if spine_tz:
        # tz() buckets are WALL-CLOCK labels: a uniform wall-second spine
        # would manufacture the spring-forward hour (e.g. 02:00 on a US
        # DST day), a label no data row can ever carry.  A bucket label
        # L is REAL iff some wall instant in [L, L+w) exists, i.e.
        # survives the wall→UTC→wall round trip.  Checking L alone is
        # wrong when a DST gap contains the bucket-boundary wall time
        # itself (midnight transitions — America/Santiago,
        # Atlantic/Azores): L does not exist, yet the wall-second floor
        # assigns the whole day's data to it, so the bucket is real and
        # must render (zero-filled when empty — fill's one-row-per-
        # bucket contract cannot depend on whether data happens to be
        # present).  Since a zone's gap is one contiguous interval, the
        # whole bucket is inside it iff BOTH endpoints L and L+w-1 fail
        # the round trip; observed labels are kept regardless.
        tz = spine_tz.replace("\\", "\\\\").replace("'", "\\'")

        def rt_ok(x: str) -> str:
            return f"from_utc_timestamp(to_utc_timestamp({x}, '{tz}'), '{tz}') = {x}"

        last = f"timestamp_seconds(unix_timestamp(b) + {width - 1})"
        gaps = f"filter({gaps}, b -> {rt_ok('b')} OR {rt_ok(last)})"
    # observed buckets outside a pinned range are not on the spine
    rows = series.select(*keys, F.expr(
        f"explode(concat(transform({gaps}, b -> named_struct('b', b, 'r', NULL)), "
        "filter(_obs, e -> e.b BETWEEN _lo AND _hi))) AS _e"
    ))

    bucket, entry = F.col("_e")["b"], F.col("_e")["r"]
    filled_flag = entry["_hit"].isNull()
    w = Window.partitionBy(*keys).orderBy(bucket)
    w_back = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    w_fwd = w.rowsBetween(Window.currentRow, Window.unboundedFollowing)
    t = F.unix_timestamp(bucket).cast("double")

    def fill(c: str) -> Column:
        obs = entry[c]
        if mode == "null":
            v = obs
        elif mode == "value":
            v = F.when(filled_flag, F.lit(fill_value)).otherwise(obs)
        elif mode == "previous":
            v = F.coalesce(obs, F.last(obs, ignorenulls=True).over(w_back))
        else:  # linear
            obs_t = F.when(obs.isNotNull(), t)
            pv = F.last(obs, ignorenulls=True).over(w_back)
            pt = F.last(obs_t, ignorenulls=True).over(w_back)
            nv = F.first(obs, ignorenulls=True).over(w_fwd)
            nt = F.first(obs_t, ignorenulls=True).over(w_fwd)
            frac = (t - pt) / (nt - pt)
            v = F.coalesce(obs, pv + (nv - pv) * frac)
        return v.alias(c)

    # one projection: each DataFrame step is a JVM analysis of the whole plan
    return rows.select(
        *keys, bucket.alias(bucket_col), *map(fill, value_cols),
        filled_flag.alias("filled"),
    )
