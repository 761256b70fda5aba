"""Driver-contract queries + DuckDB oracles for the InfluxQL function
library (operators/influxql.py), over hourly per-type series derived from
``events`` with the engine's quantization discipline (the hourly avg is
quantized to cents first, so every downstream transform is an IEEE op on
identical operands in identical order on both engines — bit-exact without
output rounding; only the order-unstable aggregates (integral, stddev) are
quantized at the output).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from influxer_spark.influxql_frontend import influxql

_HOURLY_SQL = """
hourly AS (
  SELECT event_type, date_trunc('hour', ts) AS bucket,
         CAST(round(sum(value) * 100, 0) AS BIGINT) / (count(value) * 100.0) AS v,
         CAST(round(sum(value) * 100, 0) AS BIGINT) AS s_c,
         count(*) AS cnt
  FROM events GROUP BY 1, 2
)
"""


def _hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    return (
        ev.groupBy("event_type", F.date_trunc("hour", "ts").alias("bucket"))
        .agg(
            (
                F.round(F.sum("value") * 100, 0).cast("long")
                / (F.count("value") * 100.0)
            ).alias("v"),
            F.round(F.sum("value") * 100, 0).cast("long").alias("s_c"),
            F.count("*").alias("cnt"),
        )
    )


def _q_transforms(spark, sf_dir):
    # the InfluxQL STRING is the artifact a reference user actually has;
    # cumulative_sum runs over the EXACT integer cents (s_c): a float running
    # sum lands on rounding boundaries (DuckDB windows sum pairwise via
    # segment tree), integers cannot
    h = _hourly(spark, sf_dir)
    out = influxql(
        "SELECT v, difference(v) AS diff_v, derivative(v, 1h) AS deriv_h,"
        " non_negative_derivative(v, 1h) AS nn_deriv_h,"
        " moving_average(v, 3) AS ma3,"
        " cumulative_sum(s_c) / 100.0 AS csum,"
        " elapsed(v, 1m) AS elapsed_min"
        " FROM hourly GROUP BY event_type",
        {"hourly": h},
        ts_col="bucket",
    )
    return out.withColumnRenamed("time", "bucket")


_TRANSFORMS_SQL = f"""
WITH {_HOURLY_SQL}
SELECT event_type, bucket, v,
  v - lag(v) OVER w AS diff_v,
  CASE WHEN epoch(bucket) - lag(epoch(bucket)) OVER w > 0 THEN
    (v - lag(v) OVER w)
      / CAST(epoch(bucket) - lag(epoch(bucket)) OVER w AS DOUBLE) * 3600
  END AS deriv_h,
  CASE WHEN epoch(bucket) - lag(epoch(bucket)) OVER w > 0
        AND (v - lag(v) OVER w)
            / CAST(epoch(bucket) - lag(epoch(bucket)) OVER w AS DOUBLE) * 3600 >= 0
  THEN (v - lag(v) OVER w)
       / CAST(epoch(bucket) - lag(epoch(bucket)) OVER w AS DOUBLE) * 3600
  END AS nn_deriv_h,
  CASE WHEN count(v) OVER w3 = 3 THEN avg(v) OVER w3 END AS ma3,
  sum(s_c) OVER wc / 100.0 AS csum,
  CAST(floor((epoch(bucket) - lag(epoch(bucket)) OVER w) / 60) AS BIGINT)
    AS elapsed_min
FROM hourly
WINDOW
  w AS (PARTITION BY event_type ORDER BY bucket),
  w3 AS (PARTITION BY event_type ORDER BY bucket
         ROWS BETWEEN 2 PRECEDING AND CURRENT ROW),
  wc AS (PARTITION BY event_type ORDER BY bucket
         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
"""


def _q_selectors(spark, sf_dir):
    h = _hourly(spark, sf_dir)
    return influxql(
        "SELECT spread(v) AS spread, first(v) AS first_v, last(v) AS last_v,"
        " percentile(v, 90) AS p90 FROM hourly GROUP BY event_type",
        {"hourly": h},
        ts_col="bucket",
    )


_SELECTORS_SQL = f"""
WITH {_HOURLY_SQL},
ranked AS (
  SELECT event_type, v,
         row_number() OVER (PARTITION BY event_type ORDER BY v) AS rn,
         count(*) OVER (PARTITION BY event_type) AS n
  FROM hourly
)
SELECT h.event_type, max(h.v) - min(h.v) AS spread,
       arg_min(h.v, h.bucket) AS first_v, arg_max(h.v, h.bucket) AS last_v,
       (SELECT r.v FROM ranked r WHERE r.event_type = h.event_type
        AND r.rn = CAST(floor(0.9 * r.n + 0.5) AS INT)) AS p90
FROM hourly h GROUP BY h.event_type
"""


def _q_top3(spark, sf_dir):
    h = _hourly(spark, sf_dir)
    out = influxql(
        "SELECT top(v, 3) FROM hourly GROUP BY event_type",
        {"hourly": h},
        ts_col="bucket",
    )
    return out.withColumnRenamed("time", "bucket").withColumnRenamed("top", "v")


_TOP3_SQL = f"""
WITH {_HOURLY_SQL}
SELECT event_type, bucket, v, CAST(rank AS INT) AS rank FROM (
  SELECT event_type, bucket, v,
         row_number() OVER (PARTITION BY event_type
                            ORDER BY v DESC, bucket ASC) AS rank
  FROM hourly
) WHERE rank <= 3
"""


def _q_integral_stats(spark, sf_dir):
    # quantization (q2/q6) is an oracle-comparison artifact, applied OUTSIDE
    # the InfluxQL string (InfluxQL has no round()); the query itself is
    # exactly what a reference user would type
    h = _hourly(spark, sf_dir)
    q2 = lambda c: F.round(c * 100, 0).cast("long") / 100.0  # noqa: E731
    q6 = lambda c: F.round(c * 1000000, 0).cast("long") / 1000000.0  # noqa: E731
    out = influxql(
        "SELECT integral(v, 1h) AS integral_h, stddev(v) AS stddev_q,"
        " mode(cnt) AS mode FROM hourly GROUP BY event_type",
        {"hourly": h},
        ts_col="bucket",
    )
    return out.select(
        "event_type",
        q2(F.col("integral_h")).alias("integral_h"),
        q6(F.col("stddev_q")).alias("stddev_q"),
        "mode",
    )


_INTEGRAL_SQL = f"""
WITH {_HOURLY_SQL},
tr AS (
  SELECT event_type,
         (v + lag(v) OVER w) / 2.0
           * CAST(epoch(bucket) - lag(epoch(bucket)) OVER w AS DOUBLE) AS a
  FROM hourly
  WINDOW w AS (PARTITION BY event_type ORDER BY bucket)
),
modes AS (
  SELECT event_type, cnt AS mode FROM (
    SELECT event_type, cnt,
           row_number() OVER (PARTITION BY event_type
                              ORDER BY count(*) DESC, cnt ASC) AS rn
    FROM hourly GROUP BY event_type, cnt
  ) WHERE rn = 1
),
integ AS (
  SELECT event_type,
         CAST(round(sum(a) / 3600 * 100, 0) AS BIGINT) / 100.0 AS integral_h
  FROM tr GROUP BY event_type
),
sd AS (
  SELECT event_type,
         CAST(round(stddev_samp(v) * 1000000, 0) AS BIGINT) / 1000000.0
           AS stddev_q
  FROM hourly GROUP BY event_type
)
SELECT i.event_type, i.integral_h, s.stddev_q, m.mode
FROM integ i JOIN sd s USING (event_type) JOIN modes m USING (event_type)
"""


def _q_sample(spark, sf_dir):
    h = _hourly(spark, sf_dir)
    out = influxql(
        "SELECT sample(v, 5) FROM hourly GROUP BY event_type",
        {"hourly": h},
        ts_col="bucket",
    )
    return out.withColumnRenamed("time", "bucket").withColumnRenamed("sample", "v")


_SAMPLE_SQL = f"""
WITH {_HOURLY_SQL}
SELECT event_type, bucket, v FROM (
  SELECT event_type, bucket, v,
         row_number() OVER (
           PARTITION BY event_type
           ORDER BY md5(event_type || '|' ||
                        CAST(CAST(floor(epoch(bucket)) AS BIGINT) AS VARCHAR))
         ) AS rn
  FROM hourly
) WHERE rn <= 5
"""


def _q_fill_linear_6h(spark, sf_dir):
    """Full string-front-end pipeline: WHERE time bounds → GROUP BY time(6h)
    → fill(linear) with the spine pinned to the queried range.  Aggregates
    are integer cents + counts so the interpolation operands are exact on
    both engines (oracle-parity discipline)."""
    h = _hourly(spark, sf_dir)
    # thin the series so fill() has real gaps to interpolate
    sparse = h.filter((F.dayofmonth("bucket") % 3 == 0) & (F.hour("bucket") < 12))
    out = influxql(
        "SELECT sum(s_c) / (count(s_c) * 100.0) AS avg_v"
        " FROM hourly"
        " WHERE time >= '2024-01-03 00:00:00' AND time < '2024-01-10 00:00:00'"
        " GROUP BY time(6h), event_type fill(linear)",
        {"hourly": sparse},
        ts_col="bucket",
    )
    return out.withColumnRenamed("time", "bucket")


_FILL_LINEAR_SQL = f"""
WITH {_HOURLY_SQL},
sparse AS (
  SELECT * FROM hourly
  WHERE day(bucket) % 3 = 0 AND hour(bucket) < 12
    AND bucket >= TIMESTAMP '2024-01-03 00:00:00'
    AND bucket < TIMESTAMP '2024-01-10 00:00:00'
),
g AS (
  SELECT event_type,
         make_timestamp((CAST(floor(epoch(bucket)) AS BIGINT) // 21600 * 21600)
                        * 1000000) AS bucket,
         CAST(sum(s_c) AS BIGINT) AS s, count(s_c) AS c
  FROM sparse GROUP BY 1, 2
),
spine AS (
  SELECT event_type,
         unnest(generate_series(TIMESTAMP '2024-01-03 00:00:00',
                                TIMESTAMP '2024-01-09 18:00:00',
                                INTERVAL 6 HOUR)) AS bucket
  FROM g GROUP BY event_type
),
j AS (
  SELECT sp.event_type, sp.bucket, g.s, g.c,
         CAST(epoch(sp.bucket) AS DOUBLE) AS t,
         (g.s IS NOT NULL) AS hit
  FROM spine sp LEFT JOIN g
    ON g.event_type = sp.event_type AND g.bucket = sp.bucket
),
w AS (
  SELECT *,
    last_value(s IGNORE NULLS) OVER wb AS ps,
    last_value(c IGNORE NULLS) OVER wb AS pc,
    last_value(CASE WHEN hit THEN t END IGNORE NULLS) OVER wb AS pt,
    first_value(s IGNORE NULLS) OVER wf AS ns,
    first_value(c IGNORE NULLS) OVER wf AS nc,
    first_value(CASE WHEN hit THEN t END IGNORE NULLS) OVER wf AS nt
  FROM j
  WINDOW
    wb AS (PARTITION BY event_type ORDER BY bucket
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
    wf AS (PARTITION BY event_type ORDER BY bucket
           ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
),
filled AS (
  SELECT event_type, bucket,
    COALESCE(CAST(s AS DOUBLE), ps + (ns - ps) * ((t - pt) / (nt - pt))) AS fs,
    COALESCE(CAST(c AS DOUBLE), pc + (nc - pc) * ((t - pt) / (nt - pt))) AS fc
  FROM w
)
SELECT event_type, bucket, fs / (fc * 100.0) AS avg_v FROM filled
"""


def _q_snaive_mase(spark, sf_dir):
    """Seasonal-naive baseline + MASE on the hourly tier (period=24): the
    oracled forecasting-evaluation primitive beside the rows-only
    holt_winters (iterative fits can't be SQL-oracled; this yardstick can)."""
    from influxer_spark.operators.holtwinters import seasonal_naive_eval

    h = _hourly(spark, sf_dir).select("event_type", "bucket", "v")
    return seasonal_naive_eval(h, ["event_type"], "bucket", "v", period=24)


_SNAIVE_MASE_SQL = f"""
WITH {_HOURLY_SQL},
e AS (
  SELECT event_type,
    CAST(round(abs(v - lag(v, 24) OVER w) * 1000000, 0) AS BIGINT) AS qs,
    CAST(round(abs(v - lag(v, 1) OVER w) * 1000000, 0) AS BIGINT) AS q1
  FROM hourly WINDOW w AS (PARTITION BY event_type ORDER BY bucket)
)
SELECT event_type,
  count(qs) AS n_eval_snaive, count(q1) AS n_eval_naive1,
  CAST(sum(qs) AS BIGINT) AS sum_abs_err_snaive_q,
  CAST(sum(q1) AS BIGINT) AS sum_abs_err_naive1_q,
  (CAST(sum(qs) AS BIGINT) / count(qs))
    / (CAST(sum(q1) AS BIGINT) / count(q1)) AS mase
FROM e GROUP BY 1
"""


def _q_mode_median_6h(spark, sf_dir):
    """Bucketed mode/median/percentile through the string front-end —
    InfluxDB's rank-based selectors (nearest-rank with +0.5 rounding; mode
    ties keep the smallest value).  Every output is an EXISTING series value
    (no averaging), so both engines return identical bits."""
    h = _hourly(spark, sf_dir)
    out = influxql(
        "SELECT mode(v) AS md, median(v) AS med, percentile(v, 75) AS p75"
        " FROM hourly GROUP BY time(6h), event_type",
        {"hourly": h},
        ts_col="bucket",
    )
    return out.withColumnRenamed("time", "bucket")


_MODE_MEDIAN_SQL = f"""
WITH {_HOURLY_SQL},
g AS (
  SELECT event_type,
         make_timestamp((CAST(floor(epoch(bucket)) AS BIGINT) // 21600 * 21600)
                        * 1000000) AS bucket,
         v
  FROM hourly
),
counts AS (
  SELECT event_type, bucket, v, count(*) AS c FROM g GROUP BY 1, 2, 3
),
md AS (
  SELECT event_type, bucket, v AS md FROM (
    SELECT event_type, bucket, v,
           row_number() OVER (PARTITION BY event_type, bucket
                              ORDER BY c DESC, v ASC) AS rn
    FROM counts) WHERE rn = 1
),
ranked AS (
  SELECT event_type, bucket, v,
         row_number() OVER (PARTITION BY event_type, bucket ORDER BY v) AS rn,
         count(*) OVER (PARTITION BY event_type, bucket) AS n
  FROM g
)
SELECT m.bucket, m.event_type, m.md,
  (SELECT r.v FROM ranked r WHERE r.event_type = m.event_type
     AND r.bucket = m.bucket
     AND r.rn = CAST(floor(0.5 * r.n + 0.5) AS INT)) AS med,
  (SELECT r.v FROM ranked r WHERE r.event_type = m.event_type
     AND r.bucket = m.bucket
     AND r.rn = CAST(floor(0.75 * r.n + 0.5) AS INT)) AS p75
FROM md m
"""


def _q_fill_previous_6h(spark, sf_dir):
    """GROUP BY time(6h) fill(previous) through the string front-end: the
    spine is pinned to the WHERE time range and gaps carry the last OBSERVED
    aggregate forward (integer cents, so the LOCF is exact)."""
    h = _hourly(spark, sf_dir)
    # thin the series so fill() has real gaps to carry values across
    sparse = h.filter((F.dayofmonth("bucket") % 3 == 0) & (F.hour("bucket") < 12))
    out = influxql(
        "SELECT sum(s_c) / 100.0 AS s6"
        " FROM hourly"
        " WHERE time >= '2024-01-03 00:00:00' AND time < '2024-01-10 00:00:00'"
        " GROUP BY time(6h), event_type fill(previous)",
        {"hourly": sparse},
        ts_col="bucket",
    )
    return out.withColumnRenamed("time", "bucket")


_FILL_PREVIOUS_SQL = f"""
WITH {_HOURLY_SQL},
sparse AS (
  SELECT * FROM hourly
  WHERE day(bucket) % 3 = 0 AND hour(bucket) < 12
    AND bucket >= TIMESTAMP '2024-01-03 00:00:00'
    AND bucket < TIMESTAMP '2024-01-10 00:00:00'
),
g AS (
  SELECT event_type,
         make_timestamp((CAST(floor(epoch(bucket)) AS BIGINT) // 21600 * 21600)
                        * 1000000) AS bucket,
         CAST(sum(s_c) AS BIGINT) AS s
  FROM sparse GROUP BY 1, 2
),
spine AS (
  SELECT event_type,
         unnest(generate_series(TIMESTAMP '2024-01-03 00:00:00',
                                TIMESTAMP '2024-01-09 18:00:00',
                                INTERVAL 6 HOUR)) AS bucket
  FROM g GROUP BY event_type
),
j AS (
  SELECT sp.event_type, sp.bucket, g.s
  FROM spine sp LEFT JOIN g
    ON g.event_type = sp.event_type AND g.bucket = sp.bucket
)
SELECT event_type, bucket,
  COALESCE(s, last_value(s IGNORE NULLS) OVER (
    PARTITION BY event_type ORDER BY bucket
    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)) / 100.0 AS s6
FROM j
"""


def _q_deriv_sum_6h(spark, sf_dir):
    """Transform-of-aggregate through the string front-end:
    derivative(sum(…)) over 6h buckets, first bucket per series dropped
    (InfluxDB emits nothing for it).  Derivative operands are exact integer
    cents, so the division is bit-identical on both engines."""
    h = _hourly(spark, sf_dir)
    out = influxql(
        "SELECT derivative(sum(s_c), 6h) / 100.0 AS dv"
        " FROM hourly GROUP BY time(6h), event_type",
        {"hourly": h},
        ts_col="bucket",
    )
    return out.withColumnRenamed("time", "bucket")


_DERIV_SUM_SQL = f"""
WITH {_HOURLY_SQL},
g AS (
  SELECT event_type,
         make_timestamp((CAST(floor(epoch(bucket)) AS BIGINT) // 21600 * 21600)
                        * 1000000) AS bucket,
         CAST(sum(s_c) AS BIGINT) AS s
  FROM hourly GROUP BY 1, 2
),
d AS (
  SELECT event_type, bucket,
    CASE WHEN epoch(bucket) - lag(epoch(bucket)) OVER w > 0 THEN
      (s - lag(s) OVER w)
        / CAST(epoch(bucket) - lag(epoch(bucket)) OVER w AS DOUBLE) * 21600.0
    END / 100.0 AS dv
  FROM g WINDOW w AS (PARTITION BY event_type ORDER BY bucket)
)
SELECT event_type, bucket, dv FROM d WHERE dv IS NOT NULL
"""


# ---------------------------------------------------------------------------
# Round-2 surface: subquery, SLIMIT/SOFFSET, SHOW TAG VALUES — each runs the
# literal InfluxQL string through the parser; aggregates are order-stable
# (max/count) over the pre-quantized hourly frame, so no output rounding.
# ---------------------------------------------------------------------------

def _q_subquery(spark, sf_dir):
    h = _hourly(spark, sf_dir)
    return influxql(
        "SELECT max(h2) AS mx, count(h2) AS n FROM ("
        "SELECT max(v) AS h2 FROM hourly GROUP BY time(2h), event_type"
        ") GROUP BY time(6h), event_type",
        {"hourly": h},
        ts_col="bucket",
    )


_BUCKET = (
    "make_timestamp((CAST(floor(epoch({src})) AS BIGINT)"
    " - CAST(floor(epoch({src})) AS BIGINT) % {w}) * 1000000)"
)

_SUBQUERY_SQL = (
    "WITH " + _HOURLY_SQL + ", h2 AS ("
    "  SELECT " + _BUCKET.format(src="bucket", w=7200) + " AS b2, event_type,"
    "         max(v) AS h2 FROM hourly GROUP BY 1, 2) "
    "SELECT " + _BUCKET.format(src="b2", w=21600) + " AS time, event_type,"
    "       max(h2) AS mx, count(h2) AS n FROM h2 GROUP BY 1, 2"
)


def _q_slimit(spark, sf_dir):
    h = _hourly(spark, sf_dir)
    return influxql(
        "SELECT max(v) AS mx FROM hourly GROUP BY time(6h), event_type"
        " SLIMIT 2 SOFFSET 1",
        {"hourly": h},
        ts_col="bucket",
    )


_SLIMIT_SQL = (
    "WITH " + _HOURLY_SQL + " "
    "SELECT " + _BUCKET.format(src="bucket", w=21600) + " AS time, event_type,"
    "       max(v) AS mx FROM hourly "
    "WHERE event_type IN (SELECT DISTINCT event_type FROM events"
    "                     ORDER BY event_type LIMIT 2 OFFSET 1) "
    "GROUP BY 1, 2"
)


def _q_multi_measurement(spark, sf_dir):
    # FROM /regex/ over two registered measurements → union keyed by a
    # leading `measurement` column; max/count stay order-stable for the hash
    from influxer_spark.influxql_frontend import InfluxQLEngine

    h = _hourly(spark, sf_dir)
    eng = InfluxQLEngine(
        {"hourly": h, "hourly_err": h.filter(F.col("event_type") == "error")},
        ts_col="bucket",
    )
    return eng.execute(
        "SELECT max(v) AS mx, count(v) AS n FROM /^hourly/"
        " GROUP BY time(6h), event_type"
    )


_MULTI_SQL = (
    "WITH " + _HOURLY_SQL + ", six AS ("
    "  SELECT " + _BUCKET.format(src="bucket", w=21600) + " AS time, event_type,"
    "         max(v) AS mx, count(v) AS n FROM hourly GROUP BY 1, 2) "
    "SELECT 'hourly' AS measurement, * FROM six "
    "UNION ALL "
    "SELECT 'hourly_err' AS measurement, * FROM six WHERE event_type = 'error'"
)


def _q_show_tag_values(spark, sf_dir):
    from influxer_spark.influxql_frontend import InfluxQLEngine

    h = _hourly(spark, sf_dir)
    eng = InfluxQLEngine({"hourly": h}, ts_col="bucket")
    return eng.execute("SHOW TAG VALUES FROM hourly WITH KEY = event_type")


_SHOW_TAG_VALUES_SQL = (
    "SELECT 'event_type' AS key, event_type AS value FROM events GROUP BY 2"
)


def _q_show_cardinality(spark, sf_dir):
    """SHOW … EXACT CARDINALITY family (InfluxQL 1.8 index introspection):
    series / tag-values / field-key counts over a two-tag measurement,
    unioned into one labeled frame.  EXACT variants only — they are
    countDistinct, so the DuckDB oracle is a plain UNION of counts (the
    estimated HLL++ variants are pinned to exact at toy cardinality in
    tests/test_influxql_frontend.py::test_show_cardinality_family)."""
    from influxer_spark.influxql_frontend import InfluxQLEngine

    ev = spark.read.parquet(f"{sf_dir}/events.parquet").select(
        "ts", "event_type",
        F.concat(F.lit("u"), (F.col("user_id") % 10).cast("string")).alias("ubucket"),
        "value",
    )
    eng = InfluxQLEngine({"events": ev}, ts_col="ts")

    def one(stat, sql):
        return eng.execute(sql).select(
            F.lit(stat).alias("stat"), F.col("count").cast("long").alias("count")
        )

    return (
        one("series", "SHOW SERIES EXACT CARDINALITY FROM events")
        .unionAll(one(
            "tag_values_event_type",
            "SHOW TAG VALUES EXACT CARDINALITY FROM events WITH KEY = event_type",
        ))
        .unionAll(one(
            "tag_values_ubucket",
            "SHOW TAG VALUES EXACT CARDINALITY FROM events WITH KEY = ubucket",
        ))
        .unionAll(one("field_keys", "SHOW FIELD KEY CARDINALITY FROM events"))
        .unionAll(one("tag_keys", "SHOW TAG KEY CARDINALITY FROM events"))
        # estimated variants: the deterministic KMV sketch is EXACT below
        # k=1024, so at gate cardinality the oracle is the same count —
        # the ≥k estimator branch is pinned separately in pytest
        .unionAll(one(
            "series_estimated", "SHOW SERIES CARDINALITY FROM events"
        ))
        .unionAll(one(
            "tag_values_ubucket_estimated",
            "SHOW TAG VALUES CARDINALITY FROM events WITH KEY = ubucket",
        ))
    )


def _q_wildcard_agg(spark, sf_dir):
    """InfluxQL 1.8 wildcard aggregation: ``max(*)`` expands to one
    ``max_<field>`` per field of the measurement (v, s_c, cnt on the hourly
    frame), routed through the ordinary GROUP BY time() executor.  max of
    exact cents-derived values is order-independent, so the oracle is a
    plain per-field max."""
    h = _hourly(spark, sf_dir)
    return influxql(
        "SELECT max(*), count(v) AS n FROM hourly"
        " GROUP BY time(6h), event_type",
        {"hourly": h},
        ts_col="bucket",
    )


_WILDCARD_AGG_SQL = (
    "WITH " + _HOURLY_SQL + " "
    "SELECT " + _BUCKET.format(src="bucket", w=21600) + " AS time, event_type, "
    "max(cnt) AS max_cnt, max(s_c) AS max_s_c, max(v) AS max_v, "
    "count(v) AS n FROM hourly GROUP BY 1, 2"
)


_SHOW_CARDINALITY_SQL = (
    "SELECT 'series' AS stat, count(DISTINCT event_type || ',' "
    "|| 'u' || CAST(user_id % 10 AS VARCHAR)) AS count FROM events "
    "UNION ALL SELECT 'tag_values_event_type', count(DISTINCT event_type) FROM events "
    "UNION ALL SELECT 'tag_values_ubucket', "
    "count(DISTINCT 'u' || CAST(user_id % 10 AS VARCHAR)) FROM events "
    "UNION ALL SELECT 'field_keys', 1 "
    "UNION ALL SELECT 'tag_keys', 2 "
    "UNION ALL SELECT 'series_estimated', count(DISTINCT event_type || ',' "
    "|| 'u' || CAST(user_id % 10 AS VARCHAR)) FROM events "
    "UNION ALL SELECT 'tag_values_ubucket_estimated', "
    "count(DISTINCT 'u' || CAST(user_id % 10 AS VARCHAR)) FROM events"
)


# ---------------------------------------------------------------------------
# Round-2 surface: math functions, non_negative_difference, count(distinct)
# — every float that crosses the oracle boundary is either an exact integer,
# an exact integer-cents division, or a correctly-rounded IEEE op (sqrt,
# floor, pow on integers); ln/log are deliberately NOT oracled (JVM Math.log
# vs libm differ by 1 ulp on ~3% of inputs).
# ---------------------------------------------------------------------------


def _q_math_6h(spark, sf_dir):
    h = _hourly(spark, sf_dir)
    out = influxql(
        "SELECT floor(sum(s_c) / 100.0) AS fl, abs(sum(s_c)) AS ab,"
        " sqrt(abs(sum(s_c))) AS sq, pow(count(cnt), 2) AS pw"
        " FROM hourly GROUP BY time(6h), event_type",
        {"hourly": h},
        ts_col="bucket",
    )
    return out.withColumnRenamed("time", "bucket")


_MATH_6H_SQL = f"""
WITH {_HOURLY_SQL},
g AS (
  SELECT event_type,
         make_timestamp((CAST(floor(epoch(bucket)) AS BIGINT) // 21600 * 21600)
                        * 1000000) AS bucket,
         CAST(sum(s_c) AS BIGINT) AS s, count(cnt) AS n
  FROM hourly GROUP BY 1, 2
)
SELECT event_type, bucket,
  floor(s / 100.0) AS fl,
  abs(s) AS ab,
  sqrt(CAST(abs(s) AS DOUBLE)) AS sq,
  pow(n, 2) AS pw
FROM g
"""


def _q_nnd_6h(spark, sf_dir):
    """non_negative_difference over 6h sums: negative steps emit NO row
    (InfluxDB semantics), remaining values are exact cents / 100.0."""
    h = _hourly(spark, sf_dir)
    out = influxql(
        "SELECT non_negative_difference(sum(s_c)) / 100.0 AS nnd"
        " FROM hourly GROUP BY time(6h), event_type",
        {"hourly": h},
        ts_col="bucket",
    )
    return out.withColumnRenamed("time", "bucket")


_NND_6H_SQL = f"""
WITH {_HOURLY_SQL},
g AS (
  SELECT event_type,
         make_timestamp((CAST(floor(epoch(bucket)) AS BIGINT) // 21600 * 21600)
                        * 1000000) AS bucket,
         CAST(sum(s_c) AS BIGINT) AS s
  FROM hourly GROUP BY 1, 2
),
d AS (
  SELECT event_type, bucket, s - lag(s) OVER w AS dd
  FROM g WINDOW w AS (PARTITION BY event_type ORDER BY bucket)
)
SELECT event_type, bucket, dd / 100.0 AS nnd
FROM d WHERE dd IS NOT NULL AND dd >= 0
"""


def _q_count_distinct_1d(spark, sf_dir):
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    out = influxql(
        "SELECT count(distinct(user_id)) AS uu, count(user_id) AS n"
        " FROM events GROUP BY time(1d), event_type",
        {"events": ev},
        ts_col="ts",
    )
    return out.withColumnRenamed("time", "bucket")


_COUNT_DISTINCT_SQL = (
    "SELECT event_type, date_trunc('day', ts) AS bucket, "
    "CAST(count(DISTINCT user_id) AS BIGINT) AS uu, "
    "CAST(count(user_id) AS BIGINT) AS n "
    "FROM events GROUP BY 1, 2"
)


# ---------------------------------------------------------------------------
# Technical-analysis family (recurrences + trailing chains).  The Spark side
# folds each series in time order (operators/influxql.py); the oracles replay
# the IDENTICAL sequential recurrence with recursive CTEs — one row per
# iteration, same operand order, so the doubles are bit-exact with no output
# rounding.  Trailing-window sums (CMO/KER) are explicit oldest-first
# addition chains on both sides (a sliding-frame SUM's float order is
# engine-defined).
# ---------------------------------------------------------------------------


def _dlit(x: float) -> str:
    """Correctly-rounded double literal (bare decimals become DECIMAL and
    round; the string CAST is exact)."""
    return f"CAST('{x!r}' AS DOUBLE)"


# MATERIALIZED matters: a recursive member re-executes its whole input
# subtree per iteration, so an inlined hourly-aggregation pipeline runs
# ~700× (measured 5.3 s → 0.63 s for the EMA oracle)
_HOURLY_MAT_SQL = _HOURLY_SQL.replace("hourly AS (", "hourly AS MATERIALIZED (")

_RANKED_SQL = """
s AS MATERIALIZED (
  SELECT event_type, bucket, v,
         row_number() OVER (PARTITION BY event_type ORDER BY bucket) AS rn
  FROM hourly
)
"""


def _ema_cte(src: str, name: str, n: int) -> str:
    """Recursive CTE running the exponential-warmup EMA fold over ``src``
    (event_type, bucket, rn, v) — mirrors _ema_arr merge-for-merge."""
    alpha = _dlit(2.0 / (n + 1))
    a = f"(CASE WHEN s.rn <= {n} THEN 2.0/(s.rn+1.0) ELSE {alpha} END)"
    return f"""
{name} AS (
  SELECT event_type, bucket, rn,
         (2.0/(rn+1.0)) * v + (1.0 - 2.0/(rn+1.0)) * 0.0 AS v
  FROM {src} WHERE rn = 1
  UNION ALL
  SELECT s.event_type, s.bucket, s.rn,
         {a} * s.v + (1.0 - {a}) * r.v AS v
  FROM {src} s JOIN {name} r
    ON s.event_type = r.event_type AND s.rn = r.rn + 1
)
"""


def _q_ema(spark, sf_dir):
    h = _hourly(spark, sf_dir)
    out = influxql(
        "SELECT exponential_moving_average(v, 10) AS ema"
        " FROM hourly GROUP BY event_type",
        {"hourly": h},
        ts_col="bucket",
    )
    return out.withColumnRenamed("time", "bucket")


_EMA_SQL = (
    f"WITH RECURSIVE {_HOURLY_MAT_SQL}, {_RANKED_SQL}, {_ema_cte('s', 'r', 10)} "
    "SELECT bucket, event_type, v AS ema FROM r"
)


def _q_trend_hourly(spark, sf_dir):
    """trend(v) through the string front-end: Mann-Kendall S/tau +
    Theil-Sen slope per event_type over the exact hourly mean series
    (influxql_frontend._exec_trend → operators/trend.py).  One row per
    series at epoch 0; the slope converts from 1e-4 ticks back to field
    units by one IEEE division, so all four stat columns hash-match the
    pair self-join oracle."""
    h = _hourly(spark, sf_dir)
    out = influxql(
        "SELECT trend(v) AS drift FROM hourly GROUP BY event_type",
        {"hourly": h},
        ts_col="bucket",
    )
    return out


_TREND_HOURLY_SQL = f"""
WITH {_HOURLY_MAT_SQL}, t AS (
  SELECT event_type,
         CAST(round(v * 10000, 0) AS BIGINT) AS x,
         CAST(row_number() OVER (PARTITION BY event_type ORDER BY bucket) - 1
              AS BIGINT) AS i
  FROM hourly
), p AS (
  SELECT a.event_type,
         CAST(sign(b.x - a.x) AS BIGINT) AS s,
         CAST(b.x - a.x AS DOUBLE) / CAST(b.i - a.i AS DOUBLE) AS slope
  FROM t a JOIN t b ON a.event_type = b.event_type AND b.i > a.i
), n AS (
  SELECT event_type, count(*) AS trend_n FROM t GROUP BY 1
)
SELECT TIMESTAMP '1970-01-01 00:00:00' AS time, n.event_type,
       median(p.slope) / 10000.0 AS drift,
       CAST(sum(p.s) AS DOUBLE) / (n.trend_n * (n.trend_n - 1) / 2.0)
         AS drift_tau,
       CAST(sum(p.s) AS BIGINT) AS drift_s,
       n.trend_n AS drift_n
FROM p JOIN n ON p.event_type = n.event_type
GROUP BY n.event_type, n.trend_n
"""


def _q_matrix_profile(spark, sf_dir):
    """matrix_profile(field, 24) through the string front-end: per-bucket
    discord score = NN distance of the 24h window starting there, exact
    BIGINT ticks inside (operators/influxql.py:tr_matrix_profile)."""
    h = _hourly(spark, sf_dir)
    out = influxql(
        "SELECT matrix_profile(v, 24) AS mp FROM hourly GROUP BY event_type",
        {"hourly": h},
        ts_col="bucket",
    )
    return out.withColumnRenamed("time", "bucket")


_MP_SQL = f"""
WITH {_HOURLY_MAT_SQL}, t AS (
  SELECT event_type, bucket,
         CAST(round(v * 10000, 0) AS BIGINT) AS vt,
         CAST(row_number() OVER (PARTITION BY event_type ORDER BY bucket) - 1
              AS INT) AS i
  FROM hourly
), a AS (
  SELECT event_type, list(vt ORDER BY i) AS arr, count(*) AS n
  FROM t GROUP BY 1
), ii AS (
  SELECT event_type, arr, i
  FROM (SELECT event_type, arr, CAST(n - 24 + 1 AS INT) AS nw
        FROM a WHERE n - 24 + 1 >= 13),
       LATERAL (SELECT CAST(unnest(range(nw)) AS INT) AS i)
), pairs AS (
  SELECT x.event_type, x.i, y.j,
         list_reduce(
           list_transform(range(24),
             s -> (x.arr[x.i + s + 1] - x.arr[y.j + s + 1])
                * (x.arr[x.i + s + 1] - x.arr[y.j + s + 1])),
           (p, q) -> p + q) AS d2
  FROM ii x JOIN (SELECT event_type, i AS j FROM ii) y USING (event_type)
  WHERE abs(x.i - y.j) >= 12
), prof AS (
  SELECT event_type, i, d2
  FROM pairs
  QUALIFY row_number() OVER (PARTITION BY event_type, i ORDER BY d2, j) = 1
)
SELECT t.bucket, t.event_type, CAST(prof.d2 AS DOUBLE) AS mp
FROM prof JOIN t ON t.event_type = prof.event_type AND t.i = prof.i
"""


def _q_sigma(spark, sf_dir):
    """Kapacitor's stateful sigma() through the InfluxQL front-end, over
    the hourly point COUNT (integer-valued, so every expanding sum is an
    exactly-represented integer and the composed doubles are bit-identical
    to the oracle's mirrored expression tree — no output rounding)."""
    h = _hourly(spark, sf_dir)
    out = influxql(
        "SELECT cnt, sigma(cnt) AS sig FROM hourly GROUP BY event_type",
        {"hourly": h},
        ts_col="bucket",
    )
    return out.withColumnRenamed("time", "bucket")


_SIGMA_SQL = f"""
WITH {_HOURLY_SQL}, w AS (
  SELECT event_type, bucket, cnt,
    CAST(count(*) OVER win AS DOUBLE) AS n,
    sum(cnt) OVER win AS s1,
    sum(cnt*cnt) OVER win AS s2
  FROM hourly
  WINDOW win AS (PARTITION BY event_type ORDER BY bucket
                 ROWS UNBOUNDED PRECEDING)
)
SELECT bucket, event_type, cnt,
  CASE WHEN n < 2 OR n*s2 - s1*s1 <= 0 THEN 0.0
       ELSE abs(cnt - s1/n) / sqrt((n*s2 - s1*s1) / (n*(n-1.0))) END AS sig
FROM w
"""


def _q_rsi(spark, sf_dir):
    h = _hourly(spark, sf_dir)
    out = influxql(
        "SELECT relative_strength_index(v, 14) AS rsi"
        " FROM hourly GROUP BY event_type",
        {"hourly": h},
        ts_col="bucket",
    )
    return out.withColumnRenamed("time", "bucket")


def _rsi_sql(n: int) -> str:
    nf, nm1 = f"{float(n)!r}", f"{float(n - 1)!r}"
    return f"""
WITH RECURSIVE {_HOURLY_MAT_SQL}, {_RANKED_SQL},
r AS (
  SELECT event_type, bucket, rn, v,
         CAST(0.0 AS DOUBLE) AS ag, CAST(0.0 AS DOUBLE) AS al,
         CAST(NULL AS DOUBLE) AS rsi
  FROM s WHERE rn = 1
  UNION ALL
  SELECT event_type, bucket, rn, v, ag, al,
    CASE WHEN rn >= {n + 1} THEN
      CASE WHEN al = 0 THEN CASE WHEN ag = 0 THEN 50.0 ELSE 100.0 END
           ELSE 100.0 - 100.0 / (1.0 + ag / al) END
    END AS rsi
  FROM (
    SELECT event_type, bucket, rn, v,
      CASE WHEN rn <= {n} THEN ag0 + g
           WHEN rn = {n + 1} THEN (ag0 + g) / {nf}
           ELSE (ag0 * {nm1} + g) / {nf} END AS ag,
      CASE WHEN rn <= {n} THEN al0 + l
           WHEN rn = {n + 1} THEN (al0 + l) / {nf}
           ELSE (al0 * {nm1} + l) / {nf} END AS al
    FROM (
      SELECT s.event_type, s.bucket, s.rn, s.v, r.ag AS ag0, r.al AS al0,
             CASE WHEN s.v - r.v > 0 THEN s.v - r.v ELSE 0.0 END AS g,
             CASE WHEN s.v - r.v < 0 THEN -(s.v - r.v) ELSE 0.0 END AS l
      FROM s JOIN r ON s.event_type = r.event_type AND s.rn = r.rn + 1
    )
  )
)
SELECT bucket, event_type, rsi FROM r WHERE rsi IS NOT NULL
"""


def _delta_sql(j: int) -> str:
    cur = "v" if j == 0 else f"lag(v, {j}) OVER w"
    return f"({cur} - lag(v, {j + 1}) OVER w)"


def _chain_sql(n: int, term) -> str:
    return " + ".join(term(_delta_sql(j)) for j in range(n - 1, -1, -1))


def _q_cmo_ker(spark, sf_dir):
    h = _hourly(spark, sf_dir)
    out = influxql(
        "SELECT chande_momentum_oscillator(v, 14) AS cmo,"
        " kaufmans_efficiency_ratio(v, 14) AS ker"
        " FROM hourly GROUP BY event_type",
        {"hourly": h},
        ts_col="bucket",
    )
    return out.withColumnRenamed("time", "bucket")


def _cmo_ker_sql(n: int) -> str:
    up = _chain_sql(n, lambda d: f"CASE WHEN {d} > 0 THEN {d} ELSE 0.0 END")
    down = _chain_sql(n, lambda d: f"CASE WHEN {d} < 0 THEN -{d} ELSE 0.0 END")
    vol = _chain_sql(n, lambda d: f"abs({d})")
    return f"""
WITH {_HOURLY_SQL},
t AS (
  SELECT event_type, bucket,
         {up} AS up, {down} AS down, {vol} AS vol,
         abs(v - lag(v, {n}) OVER w) AS chg,
         lag(v, {n}) OVER w IS NULL AS miss
  FROM hourly
  WINDOW w AS (PARTITION BY event_type ORDER BY bucket)
)
SELECT bucket, event_type,
  CASE WHEN miss THEN NULL
       WHEN up + down = 0 THEN 0.0
       ELSE 100.0 * (up - down) / (up + down) END AS cmo,
  CASE WHEN vol = 0 THEN 0.0 ELSE chg / vol END AS ker
FROM t
WHERE (CASE WHEN miss THEN NULL
            WHEN up + down = 0 THEN 0.0
            ELSE 100.0 * (up - down) / (up + down) END) IS NOT NULL
   OR (CASE WHEN vol = 0 THEN 0.0 ELSE chg / vol END) IS NOT NULL
"""


def _q_kama(spark, sf_dir):
    h = _hourly(spark, sf_dir)
    out = influxql(
        "SELECT kaufmans_adaptive_moving_average(v, 10) AS kama"
        " FROM hourly GROUP BY event_type",
        {"hourly": h},
        ts_col="bucket",
    )
    return out.withColumnRenamed("time", "bucket")


def _kama_sql(n: int) -> str:
    from influxer_spark.operators.influxql import _KAMA_FAST, _KAMA_SLOW

    c1 = _dlit(2.0 / (_KAMA_FAST + 1) - 2.0 / (_KAMA_SLOW + 1))
    c2 = _dlit(2.0 / (_KAMA_SLOW + 1))
    vol = _chain_sql(n, lambda d: f"abs({d})")
    return f"""
WITH RECURSIVE {_HOURLY_MAT_SQL},
e AS (
  SELECT event_type, bucket, v,
         row_number() OVER (PARTITION BY event_type ORDER BY bucket) AS rn,
         {vol} AS vol, abs(v - lag(v, {n}) OVER w) AS chg
  FROM hourly
  WINDOW w AS (PARTITION BY event_type ORDER BY bucket)
),
s AS MATERIALIZED (
  SELECT event_type, bucket, rn, v,
         (CASE WHEN vol = 0 THEN 0.0 ELSE chg / vol END) * {c1} + {c2} AS t
  FROM e
),
r AS (
  SELECT event_type, bucket, rn, v, v AS kama FROM s WHERE rn = {n}
  UNION ALL
  SELECT s.event_type, s.bucket, s.rn, s.v,
         r.kama + (s.t * s.t) * (s.v - r.kama) AS kama
  FROM s JOIN r ON s.event_type = r.event_type AND s.rn = r.rn + 1
)
SELECT bucket, event_type, kama FROM r WHERE rn > {n}
"""


def _q_trix(spark, sf_dir):
    h = _hourly(spark, sf_dir)
    out = influxql(
        "SELECT triple_exponential_derivative(v, 9) AS trix"
        " FROM hourly GROUP BY event_type",
        {"hourly": h},
        ts_col="bucket",
    )
    return out.withColumnRenamed("time", "bucket")


def _trix_sql(n: int) -> str:
    return f"""
WITH RECURSIVE {_HOURLY_MAT_SQL}, {_RANKED_SQL},
{_ema_cte('s', 'e1', n)},
e1m AS MATERIALIZED (SELECT * FROM e1),
{_ema_cte('e1m', 'e2', n)},
e2m AS MATERIALIZED (SELECT * FROM e2),
{_ema_cte('e2m', 'e3', n)},
d AS (
  SELECT event_type, bucket, rn, v AS e3, lag(v) OVER w AS pe3
  FROM e3 WINDOW w AS (PARTITION BY event_type ORDER BY rn)
)
SELECT bucket, event_type,
  CASE WHEN pe3 = 0 THEN NULL
       ELSE 100.0 * (e3 - pe3) / pe3 END AS trix
FROM d WHERE rn >= 2
"""


def _q_counter_rate(spark, sf_dir):
    """Engine-extension transform (Prometheus rate() semantics): a counter
    drop is a restart, so the post-reset value is the delta.  Element-wise
    window expression on identical operands — bit-exact, no rounding."""
    h = _hourly(spark, sf_dir)
    out = influxql(
        "SELECT counter_rate(v, 1h) AS cr FROM hourly GROUP BY event_type",
        {"hourly": h},
        ts_col="bucket",
    )
    return out.withColumnRenamed("time", "bucket")


_COUNTER_RATE_SQL = f"""
WITH {_HOURLY_SQL}
SELECT bucket, event_type, cr FROM (
  SELECT event_type, bucket,
    CASE WHEN epoch(bucket) - lag(epoch(bucket)) OVER w > 0 THEN
      (CASE WHEN v - lag(v) OVER w < 0 THEN v ELSE v - lag(v) OVER w END)
      / CAST(epoch(bucket) - lag(epoch(bucket)) OVER w AS DOUBLE) * 3600
    END AS cr
  FROM hourly WINDOW w AS (PARTITION BY event_type ORDER BY bucket)
) WHERE cr IS NOT NULL
"""


def _q_approx_distinct(spark, sf_dir):
    """Engine-extension aggregate: approx_count_distinct(item[, k]) — the
    deterministic KMV estimate (InfluxQL's count(distinct()) stays exact;
    Spark's own HLL approx is run-dependent and un-oracle-able).  Raw
    path; the tier-served twin is pinned identical by
    tests/test_influxql_tiered.py."""
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    out = influxql(
        "SELECT approx_count_distinct(user_id) AS uu FROM events "
        "GROUP BY time(4h), event_type",
        {"events": ev},
        ts_col="ts",
    )
    return out.withColumnRenamed("time", "bucket")


_APPROX_DISTINCT_SQL = """
WITH h AS (
  SELECT DISTINCT
         make_timestamp((CAST(floor(epoch(ts)) AS BIGINT)
            - CAST(floor(epoch(ts)) AS BIGINT) % 14400) * 1000000) AS bucket,
         event_type,
         CAST(concat('0x', substr(md5(CAST(user_id AS VARCHAR)), 1, 15))
              AS BIGINT) AS hv
  FROM events
), r AS (
  SELECT bucket, event_type, hv,
         row_number() OVER (PARTITION BY bucket, event_type ORDER BY hv) AS rn,
         count(*) OVER (PARTITION BY bucket, event_type) AS n
  FROM h
)
SELECT bucket, event_type,
  CAST(round(
    (CASE WHEN max(n) < 64 THEN CAST(max(n) AS DOUBLE)
          ELSE 63.0 * 1152921504606846976.0
               / CAST(max(CASE WHEN rn = 64 THEN hv END) AS DOUBLE) END)
    * 10000, 0) AS BIGINT) / 10000.0 AS uu
FROM r GROUP BY 1, 2
"""


def _q_counter_family(spark, sf_dir):
    """Prometheus counter-family completion (increase + resets alongside
    rate): per-point reset-adjusted increase and the reset indicator, then
    daily totals via the front-end's subquery planning (outer aggregate
    over the inner transform — two window/agg stages, one series
    exchange).  Values are integer cents (s_c), so every delta is exact."""
    h = _hourly(spark, sf_dir)
    out = influxql(
        "SELECT sum(inc) AS total_inc, sum(res) AS n_resets FROM "
        "(SELECT counter_increase(s_c) AS inc, counter_resets(s_c) AS res "
        "FROM hourly GROUP BY event_type) "
        "GROUP BY time(1d), event_type",
        {"hourly": h},
        ts_col="bucket",
    )
    return (
        out.withColumnRenamed("time", "bucket")
        .withColumn("total_inc", F.col("total_inc").cast("long"))
        .withColumn("n_resets", F.col("n_resets").cast("long"))
    )


_COUNTER_FAMILY_SQL = f"""
WITH {_HOURLY_SQL},
p AS (
  SELECT event_type, bucket,
    CASE WHEN s_c - lag(s_c) OVER w < 0 THEN s_c
         ELSE s_c - lag(s_c) OVER w END AS inc,
    CASE WHEN s_c - lag(s_c) OVER w < 0 THEN 1
         WHEN s_c - lag(s_c) OVER w >= 0 THEN 0 END AS res
  FROM hourly WINDOW w AS (PARTITION BY event_type ORDER BY bucket)
)
SELECT date_trunc('day', bucket) AS bucket, event_type,
       CAST(sum(inc) AS BIGINT) AS total_inc,
       CAST(sum(res) AS BIGINT) AS n_resets
FROM p GROUP BY 1, 2
HAVING sum(inc) IS NOT NULL OR sum(res) IS NOT NULL
"""


def _q_moving_median(spark, sf_dir):
    """Engine-extension transform (Kapacitor movingPercentile): nearest-rank
    p50 of the trailing 6 hourly sums.  Values are integer cents, so the
    selected element is exact; the oracle replays the identical rank rule
    over a DuckDB window list."""
    h = _hourly(spark, sf_dir)
    out = influxql(
        "SELECT moving_percentile(s_c, 50, 6) AS mm_c FROM hourly "
        "GROUP BY event_type",
        {"hourly": h},
        ts_col="bucket",
    )
    return out.withColumnRenamed("time", "bucket").filter("mm_c IS NOT NULL")


_MOVING_MEDIAN_SQL = f"""
WITH {_HOURLY_SQL},
w AS (
  SELECT event_type, bucket,
         list_sort(list(s_c) OVER (PARTITION BY event_type ORDER BY bucket
                                   ROWS BETWEEN 5 PRECEDING AND CURRENT ROW)) AS arr
  FROM hourly
)
SELECT bucket, event_type, arr[CAST(floor(6 * 50.0 / 100.0 + 0.5) AS BIGINT)] AS mm_c
FROM w WHERE len(arr) = 6
"""


def _q_deadman(spark, sf_dir):
    """Deadman (no-data) buckets: 1h windows in which an event_type wrote
    zero points (215 real gaps at sf0.01), spine = each series' own observed
    range.  Raw timestamps and counts only — no float arithmetic to drift."""
    from influxer_spark.operators.influxql import deadman

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    return deadman(ev, ["event_type"], "ts", 3600)


def _q_alert_transitions(spark, sf_dir):
    """Kapacitor threshold-alert edges over the hourly tier: OK/WARN/CRIT
    by exact comparison on exact tier means, stateChangesOnly semantics
    (only level CHANGES emit, first point per series included).  One lag
    window — the oracle replays the identical CASE + LAG."""
    from influxer_spark.operators.influxql import alert_states

    h = _hourly(spark, sf_dir)
    return alert_states(
        h, ["event_type"], "bucket", "v", warn=100.0, crit=150.0
    ).withColumnRenamed("bucket", "time")


def _q_stream_alert_replay(spark, sf_dir):
    """Streaming alert edges VALUE-oracled via replay: land the hourly tier
    as two time-ordered files, drain with TWO availableNow runs against one
    checkpoint (a real stop/resume), and union the committed edge batches.
    The per-key last_level state crosses the restart, so a level persisting
    over the boundary is NOT re-emitted — the union must hash-match the
    batch stateChangesOnly SQL exactly."""
    import glob
    import os
    import shutil
    import tempfile

    from influxer_spark.streaming import read_alerts, run_alert_stream

    h = _hourly(spark, sf_dir).orderBy("bucket")
    lo, hi = h.agg(F.min("bucket"), F.max("bucket")).first()
    cut = lo + (hi - lo) / 2
    root = tempfile.mkdtemp(prefix="stream_alert_gate_")
    d = {n: os.path.join(root, n) for n in ("input", "out", "ckpt", "stage")}
    os.makedirs(d["input"])
    for name, part in (
        ("a", h.filter(F.col("bucket") <= cut)),
        ("b", h.filter(F.col("bucket") > cut)),
    ):
        staging = os.path.join(d["stage"], name)
        part.coalesce(1).write.mode("overwrite").parquet(staging)
        if name == "a":  # second file lands between the two runs
            shutil.copy(
                glob.glob(os.path.join(staging, "part-*.parquet"))[0],
                os.path.join(d["input"], "a.parquet"),
            )
    schema = spark.read.parquet(os.path.join(d["stage"], "a")).schema
    args = (d["input"], schema, d["out"], d["ckpt"],
            "event_type", "bucket", "v", 100.0, 150.0)
    run_alert_stream(spark, *args)
    shutil.copy(
        glob.glob(os.path.join(d["stage"], "b", "part-*.parquet"))[0],
        os.path.join(d["input"], "b.parquet"),
    )
    run_alert_stream(spark, *args)
    merged = read_alerts(spark, d["out"]).select(
        F.col("key").alias("event_type"), "time", "v", "level", "prev_level"
    )
    rows = merged.collect()  # materialize before removing the scratch dirs
    out = spark.createDataFrame(rows, merged.schema)
    shutil.rmtree(root, ignore_errors=True)
    return out


_ALERT_TRANSITIONS_SQL = (
    "WITH " + _HOURLY_SQL + ", lv AS ("
    "  SELECT event_type, bucket AS time, v,"
    "    CASE WHEN v >= 150.0 THEN 'CRIT'"
    "         WHEN v >= 100.0 THEN 'WARN' ELSE 'OK' END AS level"
    "  FROM hourly), lg AS ("
    "  SELECT *, lag(level) OVER (PARTITION BY event_type ORDER BY time)"
    "    AS prev_level FROM lv) "
    "SELECT event_type, time, v, level, prev_level FROM lg "
    "WHERE prev_level IS NULL OR prev_level <> level"
)


_DEADMAN_SQL = """
WITH c AS (
  SELECT event_type,
    make_timestamp((CAST(floor(epoch(ts)) AS BIGINT)
      - CAST(floor(epoch(ts)) AS BIGINT) % 3600) * 1000000) AS bucket,
    count(*) AS n
  FROM events GROUP BY 1, 2),
s AS (
  SELECT event_type,
    unnest(generate_series(min(bucket), max(bucket),
                           INTERVAL 3600 SECONDS)) AS bucket
  FROM c GROUP BY event_type)
SELECT s.event_type, s.bucket, 'deadman' AS alert
FROM s LEFT JOIN c ON s.event_type = c.event_type AND s.bucket = c.bucket
WHERE c.n IS NULL
"""


def _q_anomaly_mad(spark, sf_dir):
    """Robust outlier flags over the hourly series; medians are
    nearest-rank data points so the whole pipeline is float-sum-free."""
    from influxer_spark.operators.influxql import anomaly_mad

    h = _hourly(spark, sf_dir).select("event_type", "bucket", "v")
    return anomaly_mad(h, ["event_type"], "bucket", "v", k=3.5)


_ANOMALY_MAD_SQL = f"""
WITH {_HOURLY_SQL},
med AS (
  SELECT event_type, v AS med FROM (
    SELECT event_type, v,
           row_number() OVER (PARTITION BY event_type ORDER BY v) AS rn,
           count(*) OVER (PARTITION BY event_type) AS n
    FROM hourly
  ) WHERE rn = CAST(floor(0.5 * n + 0.5) AS BIGINT)
),
ad AS (
  SELECT h.event_type, h.bucket, h.v, m.med, abs(h.v - m.med) AS adv
  FROM hourly h JOIN med m USING (event_type)
),
mad AS (
  SELECT event_type, adv AS mad FROM (
    SELECT event_type, adv,
           row_number() OVER (PARTITION BY event_type ORDER BY adv) AS rn,
           count(*) OVER (PARTITION BY event_type) AS n
    FROM ad
  ) WHERE rn = CAST(floor(0.5 * n + 0.5) AS BIGINT)
)
SELECT a.event_type, a.bucket, a.v, a.med, d.mad,
       (a.adv > 3.5 * d.mad) AS anomaly
FROM ad a JOIN mad d USING (event_type)
"""


def _q_cusum(spark, sf_dir):
    from influxer_spark.operators.influxql import cusum_changepoints

    h = _hourly(spark, sf_dir).select("event_type", "bucket", "v")
    return cusum_changepoints(
        h, ["event_type"], "bucket", "v", slack_mads=0.5, h_mads=5.0
    )


def _q_topn_other(spark, sf_dir):
    """Top-5 users by total events + '__other__' remainder per hour
    (rollup.topn_with_other) — the dashboard top-N panel with a complete
    total.  Exact integer counts rank the cut; ties by key ascending."""
    from influxer_spark.operators.rollup import topn_with_other

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    hourly = ev.groupBy(
        F.col("user_id").cast("string").alias("user"),
        F.date_trunc("hour", "ts").alias("bucket"),
    ).agg(F.count(F.lit(1)).alias("v"))
    return topn_with_other(hourly, "user", "bucket", "v", 5)


_TOPN_OTHER_SQL = """
WITH h AS (
  SELECT CAST(user_id AS VARCHAR) AS u, date_trunc('hour', ts) AS bucket,
         CAST(count(*) AS BIGINT) AS v
  FROM events GROUP BY 1, 2
), tot AS (
  SELECT u, sum(v) AS t,
         row_number() OVER (ORDER BY sum(v) DESC, u ASC) AS rk
  FROM h GROUP BY u
), topk AS (SELECT u FROM tot WHERE rk <= 5)
SELECT bucket, u AS series, v AS value, false AS is_other
FROM h WHERE u IN (SELECT u FROM topk)
UNION ALL
SELECT bucket, '__other__' AS series, CAST(sum(v) AS BIGINT) AS value,
       true AS is_other
FROM h WHERE u NOT IN (SELECT u FROM topk)
GROUP BY bucket
"""


def _q_slo_burn(spark, sf_dir):
    """Multiwindow multi-burn-rate SLO paging (rollup.slo_burn_alerts,
    Google SRE workbook pattern): hourly good/bad counts per event_type
    ('bad' = value < 1.0, ~2% of events), 12h long + 1h short trailing
    windows, page only when BOTH burn rates exceed 14.4× budget.  Exact
    BIGINT window sums; each burn is one division — bit-replayable."""
    from influxer_spark.operators.rollup import slo_burn_alerts

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    hourly = ev.groupBy(
        "event_type", F.date_trunc("hour", "ts").alias("bucket")
    ).agg(
        F.count(F.when(F.col("value") >= 1.0, 1)).alias("good"),
        F.count(F.when(F.col("value") < 1.0, 1)).alias("bad"),
    )
    return slo_burn_alerts(
        hourly, ["event_type"], 3600,
        slo_good_fraction=0.999, long_buckets=12, short_buckets=1,
        burn_threshold=14.4,
    )


def _slo_burn_sql(slo_good: float, long_b: int, short_b: int,
                  thr: float) -> str:
    budget = 1.0 - slo_good
    long_prec = (long_b - 1) * 3600
    short_prec = (short_b - 1) * 3600
    burn_l = (
        "CASE WHEN good_long + bad_long > 0 THEN "
        "(CAST(bad_long AS DOUBLE) / CAST(good_long + bad_long AS DOUBLE)) "
        f"/ CAST({budget!r} AS DOUBLE) END"
    )
    burn_s = (
        "CASE WHEN good_short + bad_short > 0 THEN "
        "(CAST(bad_short AS DOUBLE) / CAST(good_short + bad_short AS DOUBLE)) "
        f"/ CAST({budget!r} AS DOUBLE) END"
    )
    return f"""
WITH h AS (
  SELECT event_type, date_trunc('hour', ts) AS bucket,
         CAST(count(CASE WHEN value >= 1.0 THEN 1 END) AS BIGINT) AS good,
         CAST(count(CASE WHEN value < 1.0 THEN 1 END) AS BIGINT) AS bad
  FROM events GROUP BY 1, 2
), s AS (
  SELECT event_type, bucket,
    CAST(sum(good) OVER wl AS BIGINT) AS good_long,
    CAST(sum(bad) OVER wl AS BIGINT) AS bad_long,
    CAST(sum(good) OVER ws AS BIGINT) AS good_short,
    CAST(sum(bad) OVER ws AS BIGINT) AS bad_short
  FROM h
  WINDOW wl AS (PARTITION BY event_type
                ORDER BY CAST(floor(epoch(bucket)) AS BIGINT)
                RANGE BETWEEN {long_prec} PRECEDING AND CURRENT ROW),
         ws AS (PARTITION BY event_type
                ORDER BY CAST(floor(epoch(bucket)) AS BIGINT)
                RANGE BETWEEN {short_prec} PRECEDING AND CURRENT ROW)
)
SELECT event_type, bucket, good_long, bad_long, good_short, bad_short,
  {burn_l} AS burn_long,
  {burn_s} AS burn_short,
  coalesce(({burn_l}) > CAST({thr!r} AS DOUBLE)
           AND ({burn_s}) > CAST({thr!r} AS DOUBLE), false) AS page
FROM s
"""


def _q_ewma_chart(spark, sf_dir):
    """EWMA control chart (Roberts 1959) over hourly event counts — the
    small-persistent-drift SPC monitor beside sigma (per-point) and CUSUM
    (cumulative).  The variance-inflation factor is a fold-threaded
    running product instead of pow(), so the recursive-CTE oracle replays
    every emitted double bit-for-bit."""
    from influxer_spark.operators.influxql import ewma_chart

    h = _hourly(spark, sf_dir).select("event_type", "bucket", "v")
    return ewma_chart(h, ["event_type"], "bucket", "v", lam=0.2, l_mads=3.0)


def _ewma_sql(lam: float, l_mads: float) -> str:
    om = 1.0 - lam
    om2 = om * om
    cfac = lam / (2.0 - lam)
    return f"""
WITH RECURSIVE {_HOURLY_MAT_SQL},
med AS (
  SELECT event_type, v AS mu FROM (
    SELECT event_type, v,
           row_number() OVER (PARTITION BY event_type ORDER BY v) AS rn,
           count(*) OVER (PARTITION BY event_type) AS n
    FROM hourly
  ) WHERE rn = CAST(floor(0.5 * n + 0.5) AS BIGINT)
),
ad AS (
  SELECT h.event_type, h.bucket, h.v, m.mu, abs(h.v - m.mu) AS adv
  FROM hourly h JOIN med m USING (event_type)
),
madt AS (
  SELECT event_type, adv AS mad FROM (
    SELECT event_type, adv,
           row_number() OVER (PARTITION BY event_type ORDER BY adv) AS rn,
           count(*) OVER (PARTITION BY event_type) AS n
    FROM ad
  ) WHERE rn = CAST(floor(0.5 * n + 0.5) AS BIGINT)
),
s AS MATERIALIZED (
  SELECT a.event_type, a.bucket, a.v, a.mu, d.mad,
         row_number() OVER (PARTITION BY a.event_type
                            ORDER BY a.bucket) AS rn
  FROM ad a JOIN madt d USING (event_type)
),
r AS (
  -- every literal CAST AS DOUBLE: a bare decimal literal is DECIMAL in
  -- DuckDB, and the f chain is literals-only so nothing else promotes it
  SELECT event_type, bucket, v, mu, mad, rn,
    {lam!r} * v + {om!r} * mu AS z,
    CAST({om2!r} AS DOUBLE) AS f
  FROM s WHERE rn = 1
  UNION ALL
  SELECT s.event_type, s.bucket, s.v, s.mu, s.mad, s.rn,
    {lam!r} * s.v + {om!r} * r.z,
    r.f * CAST({om2!r} AS DOUBLE)
  FROM s JOIN r ON s.event_type = r.event_type AND s.rn = r.rn + 1
)
SELECT event_type, bucket, v, z AS ewma,
       mu + CAST({l_mads!r} AS DOUBLE) * mad
            * sqrt(CAST({cfac!r} AS DOUBLE) * (CAST(1.0 AS DOUBLE) - f)) AS ucl,
       mu - CAST({l_mads!r} AS DOUBLE) * mad
            * sqrt(CAST({cfac!r} AS DOUBLE) * (CAST(1.0 AS DOUBLE) - f)) AS lcl,
       (z > mu + CAST({l_mads!r} AS DOUBLE) * mad
            * sqrt(CAST({cfac!r} AS DOUBLE) * (CAST(1.0 AS DOUBLE) - f))
        OR z < mu - CAST({l_mads!r} AS DOUBLE) * mad
            * sqrt(CAST({cfac!r} AS DOUBLE) * (CAST(1.0 AS DOUBLE) - f))) AS alarm
FROM r
"""


def _cusum_sql(slack_mads: float, h_mads: float) -> str:
    return f"""
WITH RECURSIVE {_HOURLY_MAT_SQL},
med AS (
  SELECT event_type, v AS mu FROM (
    SELECT event_type, v,
           row_number() OVER (PARTITION BY event_type ORDER BY v) AS rn,
           count(*) OVER (PARTITION BY event_type) AS n
    FROM hourly
  ) WHERE rn = CAST(floor(0.5 * n + 0.5) AS BIGINT)
),
ad AS (
  SELECT h.event_type, h.bucket, h.v, m.mu, abs(h.v - m.mu) AS adv
  FROM hourly h JOIN med m USING (event_type)
),
madt AS (
  SELECT event_type, adv AS mad FROM (
    SELECT event_type, adv,
           row_number() OVER (PARTITION BY event_type ORDER BY adv) AS rn,
           count(*) OVER (PARTITION BY event_type) AS n
    FROM ad
  ) WHERE rn = CAST(floor(0.5 * n + 0.5) AS BIGINT)
),
s AS MATERIALIZED (
  SELECT a.event_type, a.bucket, a.v, a.mu,
         {slack_mads!r} * d.mad AS sl, {h_mads!r} * d.mad AS h,
         row_number() OVER (PARTITION BY a.event_type
                            ORDER BY a.bucket) AS rn
  FROM ad a JOIN madt d USING (event_type)
),
r AS (
  SELECT event_type, bucket, v, mu, sl, h, rn,
    CASE WHEN 0.0 + (v - mu - sl) > 0 THEN 0.0 + (v - mu - sl)
         ELSE 0.0 END AS sp,
    CASE WHEN 0.0 + (mu - sl - v) > 0 THEN 0.0 + (mu - sl - v)
         ELSE 0.0 END AS sn
  FROM s WHERE rn = 1
  UNION ALL
  SELECT s.event_type, s.bucket, s.v, s.mu, s.sl, s.h, s.rn,
    CASE WHEN r.sp + (s.v - s.mu - s.sl) > 0
         THEN r.sp + (s.v - s.mu - s.sl) ELSE 0.0 END,
    CASE WHEN r.sn + (s.mu - s.sl - s.v) > 0
         THEN r.sn + (s.mu - s.sl - s.v) ELSE 0.0 END
  FROM s JOIN r ON s.event_type = r.event_type AND s.rn = r.rn + 1
)
SELECT bucket, event_type, v, sp AS s_pos, sn AS s_neg,
       (sp > h OR sn > h) AS alarm
FROM r
"""


def _q_lttb(spark, sf_dir):
    """LTTB downsample of each hourly series to 50 points (engine
    extension; TimescaleDB lttb()).  Oracle replays the bucket selection
    with a recursive CTE — bit-exact incl. ties and bucket averages."""
    from influxer_spark.operators.lttb import lttb

    h = _hourly(spark, sf_dir)
    return lttb(h, ["event_type"], "bucket", "v", 50)


def _lttb_sql(t: int) -> str:
    nb = t - 2
    # bucket sums replay _fsum: left fold seeded 0.0 (list_prepend)
    sum_ = (
        "list_reduce(list_prepend(CAST(0.0 AS DOUBLE), "
        "list_transform(lst[{a}:{b}], p -> {get})), (x, y) -> x + y)"
    )
    sx = sum_.format(a="e + 1", b="e2", get="CAST(p.t AS DOUBLE)")
    sy = sum_.format(a="e + 1", b="e2", get="p.v")
    return f"""
WITH RECURSIVE {_HOURLY_MAT_SQL},
ser AS MATERIALIZED (
  SELECT event_type,
         list(struct_pack(t := CAST(floor(epoch(bucket)) AS BIGINT), v := v)
              ORDER BY bucket) AS lst
  FROM hourly GROUP BY event_type
),
meta AS MATERIALIZED (
  SELECT event_type, lst, len(lst) AS L,
         (CAST(len(lst) AS DOUBLE) - 2.0) / {float(nb)!r} AS every
  FROM ser
),
r AS (
  SELECT event_type, lst, L, every, -1 AS i, 0 AS prev,
         CAST(NULL AS BIGINT) AS sel_t, CAST(NULL AS DOUBLE) AS sel_v
  FROM meta
  UNION ALL
  SELECT event_type, lst, L, every, i, sel,
         lst[sel + 1].t, lst[sel + 1].v
  FROM (
    SELECT *, s + CAST(list_position(areas, list_aggregate(areas, 'max'))
                       AS INT) - 1 AS sel
    FROM (
      SELECT *, list_transform(lst[s + 1:e], p ->
        abs((px - ax) * (p.v - py)
            - (px - CAST(p.t AS DOUBLE)) * (ay - py))) AS areas
      FROM (
        SELECT *,
          CASE WHEN i = {nb - 1} THEN CAST(lst[L].t AS DOUBLE)
               ELSE {sx} / CAST(e2 - e AS DOUBLE) END AS ax,
          CASE WHEN i = {nb - 1} THEN lst[L].v
               ELSE {sy} / CAST(e2 - e AS DOUBLE) END AS ay
        FROM (
          SELECT event_type, lst, L, every, prev,
            r.i + 1 AS i,
            CAST(lst[prev + 1].t AS DOUBLE) AS px, lst[prev + 1].v AS py,
            1 + CAST(floor(CAST(r.i + 1 AS DOUBLE) * every) AS INT) AS s,
            1 + CAST(floor(CAST(r.i + 2 AS DOUBLE) * every) AS INT) AS e,
            1 + CAST(floor(CAST(r.i + 3 AS DOUBLE) * every) AS INT) AS e2
          FROM r WHERE r.i < {nb - 1}
        )
      )
    )
  )
)
SELECT make_timestamp(t * 1000000) AS bucket, event_type, v AS lttb FROM (
  SELECT event_type, lst[1].t AS t, lst[1].v AS v FROM meta
  UNION ALL
  SELECT event_type, sel_t, sel_v FROM r WHERE i >= 0
  UNION ALL
  SELECT event_type, lst[L].t, lst[L].v FROM meta
)
"""


def _q_top_per_tag(spark, sf_dir):
    """InfluxDB's per-tag top form: top(v, event_type, 3) = the greatest
    point of each of the 3 event_types with the greatest maxima."""
    h = _hourly(spark, sf_dir)
    out = influxql(
        "SELECT top(v, event_type, 3) FROM hourly",
        {"hourly": h},
        ts_col="bucket",
    )
    return out.withColumnRenamed("time", "bucket")


_TOP_PER_TAG_SQL = f"""
WITH {_HOURLY_SQL},
pt AS (
  SELECT event_type, bucket, v,
         row_number() OVER (PARTITION BY event_type
                            ORDER BY v DESC, bucket ASC) AS rt
  FROM hourly
),
m AS (SELECT event_type, bucket, v FROM pt WHERE rt = 1)
SELECT bucket, event_type, v AS top, CAST(rank AS INT) AS rank FROM (
  SELECT *, row_number() OVER (ORDER BY v DESC, bucket ASC, event_type ASC)
         AS rank
  FROM m
) WHERE rank <= 3
"""


def _q_decompose(spark, sf_dir):
    """Classical additive decomposition of the hourly series, daily
    seasonality (period 24).  The oracle replays the positional 2x24 MA
    chain, per-phase ordered folds, and re-centering with the identical
    IEEE operand order — trend/seasonal/resid are bit-exact."""
    from influxer_spark.operators.decompose import classical_decompose

    h = _hourly(spark, sf_dir).select("event_type", "bucket", "v")
    return classical_decompose(h, ["event_type"], "bucket", "v", 24, 3600)


def _decompose_ctes() -> str:
    """CTE chain ending in dec(event_type, bucket, v, trend, seasonal,
    resid) — shared by the decompose oracle and the residual-anomaly
    composition."""
    lag_terms = ["(lag(v, 12) OVER w) * 0.5"]
    lag_terms += [f"lag(v, {i}) OVER w" for i in range(11, 0, -1)]
    lag_terms += ["v"]
    lag_terms += [f"lead(v, {i}) OVER w" for i in range(1, 12)]
    lag_terms += ["(lead(v, 12) OVER w) * 0.5"]
    chain = "0.0"
    for t in lag_terms:
        chain = f"({chain} + {t})"
    fold = (
        "list_reduce(list_prepend(CAST(0.0 AS DOUBLE), {lst}), "
        "(a, b) -> a + b)"
    )
    return f"""{_HOURLY_SQL},
t AS (
  SELECT event_type, bucket, v,
         {chain} / 24.0 AS trend,
         CAST(floor(epoch(bucket) / 3600) AS BIGINT) % 24 AS phase
  FROM hourly
  WINDOW w AS (PARTITION BY event_type ORDER BY bucket)
),
d AS (SELECT *, v - trend AS det FROM t),
ph AS (
  SELECT event_type, phase,
         {fold.format(lst="list(det ORDER BY bucket) FILTER (det IS NOT NULL)")}
           / CAST(count(det) AS DOUBLE) AS s_raw
  FROM d GROUP BY 1, 2
),
g AS (
  SELECT event_type,
         {fold.format(lst="list(s_raw ORDER BY phase) FILTER (s_raw IS NOT NULL)")}
           / CAST(count(s_raw) AS DOUBLE) AS grand
  FROM ph GROUP BY 1
),
se AS (
  SELECT ph.event_type, ph.phase, ph.s_raw - g.grand AS seasonal
  FROM ph JOIN g ON ph.event_type = g.event_type
),
dec AS (
  SELECT d.event_type, d.bucket, d.v, d.trend, se.seasonal,
         d.det - se.seasonal AS resid
  FROM d JOIN se ON d.event_type = se.event_type AND d.phase = se.phase
)"""


def _decompose_sql() -> str:
    return (
        f"WITH {_decompose_ctes()}\n"
        "SELECT event_type, bucket, v, trend, seasonal, resid FROM dec"
    )


def _q_resid_anomaly(spark, sf_dir):
    """Seasonal-residual anomalies (the Twitter S-H-ESD shape, with MAD in
    place of ESD): classical decomposition removes trend + daily
    seasonality, then the robust |resid − med| > k·MAD test flags what's
    left — catching in-season outliers the raw-value MAD test misses
    because the seasonal swing inflates its baseline.  Pure composition
    of two already-oracled operators; nearest-rank medians keep it
    float-sum-free past the decomposition."""
    from influxer_spark.operators.decompose import classical_decompose
    from influxer_spark.operators.influxql import anomaly_mad

    h = _hourly(spark, sf_dir).select("event_type", "bucket", "v")
    dec = classical_decompose(h, ["event_type"], "bucket", "v", 24, 3600)
    r = dec.filter(F.col("resid").isNotNull()).select(
        "event_type", "bucket", "resid"
    )
    return anomaly_mad(r, ["event_type"], "bucket", "resid", k=3.5)


def _resid_anomaly_sql() -> str:
    return f"""
WITH {_decompose_ctes()},
rr AS (
  SELECT event_type, bucket, resid FROM dec WHERE resid IS NOT NULL
),
med AS (
  SELECT event_type, resid AS med FROM (
    SELECT event_type, resid,
           row_number() OVER (PARTITION BY event_type ORDER BY resid) AS rn,
           count(*) OVER (PARTITION BY event_type) AS n
    FROM rr
  ) WHERE rn = CAST(floor(0.5 * n + 0.5) AS BIGINT)
),
ad AS (
  SELECT r.event_type, r.bucket, r.resid, m.med,
         abs(r.resid - m.med) AS adv
  FROM rr r JOIN med m USING (event_type)
),
mad AS (
  SELECT event_type, adv AS mad FROM (
    SELECT event_type, adv,
           row_number() OVER (PARTITION BY event_type ORDER BY adv) AS rn,
           count(*) OVER (PARTITION BY event_type) AS n
    FROM ad
  ) WHERE rn = CAST(floor(0.5 * n + 0.5) AS BIGINT)
)
SELECT a.event_type, a.bucket, a.resid, a.med, d.mad,
       (a.adv > 3.5 * d.mad) AS anomaly
FROM ad a JOIN mad d USING (event_type)
"""


def _q_sax_motifs(spark, sf_dir):
    """Daily-shape motifs via SAX (Lin et al. 2003): each complete
    24-bucket day of the hourly series becomes a 6-letter word (z-norm →
    PAA → N(0,1)-breakpoint alphabet), then the top-3 recurring words per
    series.  Ordered folds + IEEE sqrt keep the words bit-identical to the
    DuckDB replay."""
    from influxer_spark.operators.sax import sax_motifs, sax_words

    h = _hourly(spark, sf_dir).select("event_type", "bucket", "v")
    w = sax_words(h, ["event_type"], "bucket", "v")
    return sax_motifs(w, ["event_type"], top=3)


def _sax_sql() -> str:
    fold = (
        "list_reduce(list_prepend(CAST(0.0 AS DOUBLE), {lst}), "
        "(a, b) -> a + b)"
    )
    seg_letters = []
    for j in range(6):
        paa = fold.format(lst=f"arr[{4 * j + 1}:{4 * j + 4}]") + " / 4.0"
        z = f"(CASE WHEN std > 0.0 THEN ({paa} - mean) / std ELSE 0.0 END)"
        seg_letters.append(
            f"(CASE WHEN {z} < -0.6745 THEN 'a' WHEN {z} < 0.0 THEN 'b' "
            f"WHEN {z} < 0.6745 THEN 'c' ELSE 'd' END)"
        )
    word = " || ".join(seg_letters)
    sq = fold.format(lst="list_transform(arr, x -> (x - mean) * (x - mean))")
    return f"""
WITH {_HOURLY_SQL},
byday AS (
  SELECT event_type,
         make_timestamp((CAST(floor(epoch(bucket)) AS BIGINT)
            - CAST(floor(epoch(bucket)) AS BIGINT) % 86400) * 1000000) AS day,
         list(v ORDER BY bucket) AS arr
  FROM hourly GROUP BY 1, 2
), full_days AS (
  SELECT * FROM byday WHERE len(arr) = 24
), m AS (
  SELECT *, {fold.format(lst="arr")} / 24.0 AS mean FROM full_days
), s AS (
  SELECT *, sqrt({sq} / 24.0) AS std FROM m
), words AS (
  SELECT event_type, day, {word} AS word FROM s
), counted AS (
  SELECT event_type, word, CAST(count(*) AS BIGINT) AS n_days
  FROM words GROUP BY 1, 2
), r AS (
  SELECT event_type, word, n_days, row_number() OVER (
      PARTITION BY event_type ORDER BY n_days DESC, word ASC) AS rank
  FROM counted
)
SELECT event_type, word, n_days, CAST(rank AS INT) AS rank
FROM r WHERE rank <= 3
"""


def _q_acf(spark, sf_dir):
    """Per-series autocorrelation to lag 48 over the hourly series (the
    period-detection primitive).  Oracle replays the same ordered folds:
    mean, shared denominator, per-lag numerator — bit-exact."""
    from influxer_spark.operators.decompose import acf

    h = _hourly(spark, sf_dir).select("event_type", "bucket", "v")
    return acf(h, ["event_type"], "bucket", "v", 48)


def _acf_sql(max_lag: int) -> str:
    fold = (
        "list_reduce(list_prepend(CAST(0.0 AS DOUBLE), {lst}), "
        "(a, b) -> a + b)"
    )
    numk = fold.format(
        lst="list_transform(generate_series({k} + 1, CAST(n AS INT)), "
        "i -> (arr[i] - mean) * (arr[i - {k}] - mean))"
    )
    return f"""
WITH {_HOURLY_SQL},
g AS (
  SELECT event_type, list(v ORDER BY bucket) AS arr, count(v) AS n
  FROM hourly GROUP BY 1
),
m AS (
  SELECT *, {fold.format(lst="arr")} / CAST(n AS DOUBLE) AS mean FROM g
),
d AS (SELECT *, {numk.format(k="0")} AS den FROM m),
l AS (SELECT *, unnest(generate_series(0, {max_lag})) AS lag FROM d)
SELECT event_type, CAST(lag AS BIGINT) AS lag,
       CASE WHEN den > 0 AND lag < n THEN {numk.format(k="lag")} / den END
         AS acf
FROM l
"""


def _q_dominant_period(spark, sf_dir):
    """Season-length detection: argmax-acf lag in [2, 48] per series —
    must find the daily cycle (24) on hourly data where one exists.
    Shares acf's fold discipline, so the argmax is bit-deterministic."""
    from influxer_spark.operators.decompose import dominant_period

    h = _hourly(spark, sf_dir).select("event_type", "bucket", "v")
    return dominant_period(h, ["event_type"], "bucket", "v", 48)


def _dominant_period_sql(max_lag: int) -> str:
    inner = _acf_sql(max_lag).strip()
    return (
        f"WITH a AS ({inner}) "
        "SELECT event_type, lag AS period, acf AS acf_peak FROM a "
        "WHERE lag >= 2 AND acf IS NOT NULL "
        "QUALIFY row_number() OVER ("
        "  PARTITION BY event_type ORDER BY acf DESC, lag ASC) = 1"
    )


def _q_series_corr(spark, sf_dir):
    """Pearson correlation of hourly level (mean v) vs volume (count) per
    event_type — cross-metric analysis over aligned series.  Oracle
    replays the five ordered folds + the identical r formula."""
    from influxer_spark.operators.decompose import series_corr

    h = _hourly(spark, sf_dir).select(
        "event_type", "bucket", "v", F.col("cnt").cast("double").alias("c")
    )
    return series_corr(h, ["event_type"], "bucket", "v", "c")


def _q_corr_matrix(spark, sf_dir):
    """All-pairs Pearson correlation between event_type series over the
    shared hourly buckets (operators/decompose.py:corr_matrix) — the
    'which metrics move together' matrix, exact BIGINT power sums over
    hourly_tick_series integer ticks."""
    from influxer_spark.operators.decompose import corr_matrix
    from influxer_spark.operators.matrixprofile import hourly_tick_series

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    series = hourly_tick_series(ev)
    return corr_matrix(series, "event_type", "bucket", "v")


_CORR_MATRIX_SQL = """
WITH h AS (
  SELECT event_type, date_trunc('hour', ts) AS bucket,
         (100 * CAST(round(sum(value) * 100, 0) AS BIGINT)) // count(value) AS v
  FROM events GROUP BY 1, 2
), j AS (
  SELECT a.event_type AS key_a, b.event_type AS key_b, a.v AS x, b.v AS y
  FROM h a JOIN h b ON a.bucket = b.bucket AND a.event_type < b.event_type
), s AS (
  SELECT key_a, key_b, count(*) AS n,
         CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
         CAST(sum(x * x) AS BIGINT) AS sxx,
         CAST(sum(y * y) AS BIGINT) AS syy,
         CAST(sum(x * y) AS BIGINT) AS sxy
  FROM j GROUP BY 1, 2
)
SELECT key_a, key_b, n,
  CASE WHEN n >= 2
        AND (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
             - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) > CAST(0.0 AS DOUBLE)
        AND (CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
             - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)) > CAST(0.0 AS DOUBLE)
       THEN (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
             - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
            / sqrt((CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                    - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                   * (CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
                      - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)))
       ELSE NULL END AS corr
FROM s
"""


def _series_corr_sql() -> str:
    fold = (
        "list_reduce(list_prepend(CAST(0.0 AS DOUBLE), {lst}), "
        "(a, b) -> a + b)"
    )
    def fs(expr):
        return fold.format(
            lst=f"list_transform(lst, p -> {expr})"
        )
    return f"""
WITH {_HOURLY_SQL},
g AS (
  SELECT event_type,
         list(struct_pack(x := v, y := CAST(cnt AS DOUBLE))
              ORDER BY bucket) AS lst,
         count(*) AS n
  FROM hourly GROUP BY 1
),
sums AS (
  SELECT event_type, n,
    CAST(n AS DOUBLE) * {fs("p.x * p.x")} - {fs("p.x")} * {fs("p.x")} AS vx,
    CAST(n AS DOUBLE) * {fs("p.y * p.y")} - {fs("p.y")} * {fs("p.y")} AS vy,
    CAST(n AS DOUBLE) * {fs("p.x * p.y")} - {fs("p.x")} * {fs("p.y")} AS cov
  FROM g
)
SELECT event_type, n,
       CASE WHEN n >= 2 AND vx > 0 AND vy > 0
            THEN cov / sqrt(vx * vy) END AS corr
FROM sums
"""


def _q_cross_corr(spark, sf_dir):
    """CCF: hourly 'click' level vs every event_type's level at lags −2..+2
    hours — lead/lag discovery across series (positive lag ⇒ the other
    series follows click).  Timestamp-shift join, so gaps drop pairs
    instead of mis-aligning the lag; sanity anchor: (click, lag 0) ≡ 1."""
    from influxer_spark.operators.decompose import cross_corr

    h = _hourly(spark, sf_dir)
    ref = h.filter("event_type = 'click'").select("bucket", "v")
    return cross_corr(
        ref, h, ["event_type"], "bucket", "v", "v", [-2, -1, 0, 1, 2], 3600
    )


def _ccf_sql(lags) -> str:
    fold = (
        "list_reduce(list_prepend(CAST(0.0 AS DOUBLE), "
        "list_transform(lst, p -> {e})), (a, b) -> a + b)"
    )

    def fs(e):
        return fold.format(e=e)

    arms = "\nUNION ALL\n".join(
        f"""
  SELECT y.event_type, CAST({lag} AS INT) AS lag,
         list(struct_pack(x := r.v, y := y.v) ORDER BY y.bucket) AS lst,
         count(*) AS n
  FROM hourly y
  JOIN (SELECT bucket + {lag} * INTERVAL 1 HOUR AS bucket, v
        FROM hourly WHERE event_type = 'click') r
    ON y.bucket = r.bucket
  GROUP BY 1, 2"""
        for lag in lags
    )
    return f"""
WITH {_HOURLY_SQL},
g AS ({arms}),
sums AS (
  SELECT event_type, lag, n,
    CAST(n AS DOUBLE) * {fs("p.x * p.x")} - {fs("p.x")} * {fs("p.x")} AS vx,
    CAST(n AS DOUBLE) * {fs("p.y * p.y")} - {fs("p.y")} * {fs("p.y")} AS vy,
    CAST(n AS DOUBLE) * {fs("p.x * p.y")} - {fs("p.x")} * {fs("p.y")} AS cov
  FROM g
)
SELECT event_type, lag, n,
       CASE WHEN n >= 2 AND vx > 0 AND vy > 0
            THEN cov / sqrt(vx * vy) END AS corr
FROM sums
"""


def _q_m4(spark, sf_dir):
    """M4 downsample (VLDB 2014): the ≤4 real points (first/last/min/max)
    per (event_type, 1h pixel column).  One groupBy shuffle, struct
    min/max selectors, no window sort.  Oracle replays the identical
    total orders with ranked windows — raw values, no float arithmetic."""
    from influxer_spark.operators.m4 import m4_downsample

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    return m4_downsample(ev, "ts", ["event_type"], "value", 3600)


_M4_SQL = """
WITH b AS (
  SELECT event_type,
    make_timestamp((CAST(floor(epoch(ts)) AS BIGINT)
      - CAST(floor(epoch(ts)) AS BIGINT) % 3600) * 1000000) AS bucket,
    ts, value
  FROM events WHERE value IS NOT NULL),
r AS (
  SELECT *,
    row_number() OVER (PARTITION BY event_type, bucket
                       ORDER BY ts, value) AS rf,
    row_number() OVER (PARTITION BY event_type, bucket
                       ORDER BY ts DESC, value DESC) AS rl,
    row_number() OVER (PARTITION BY event_type, bucket
                       ORDER BY value, ts) AS rmin,
    row_number() OVER (PARTITION BY event_type, bucket
                       ORDER BY value DESC, ts DESC) AS rmax
  FROM b)
SELECT DISTINCT event_type, bucket, ts, value FROM r
WHERE 1 IN (rf, rl, rmin, rmax)
"""


def _q_holt_winters(spark, sf_dir):
    """Rows-only contract query (iterative Nelder-Mead fit — no SQL
    oracle; method semantics pinned by tests/test_holtwinters.py):
    forecast 24 hourly means per event_type with a daily (24h) season."""
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    out = influxql(
        "SELECT holt_winters(mean(value), 24, 24) AS hw"
        " FROM events GROUP BY time(1h), event_type",
        {"events": ev},
        ts_col="ts",
    )
    return out.withColumnRenamed("time", "bucket")


def _q_forecast_linear(spark, sf_dir):
    """Closed-form OLS forecast of the next 24 hourly means per event_type,
    fit on the Jan 3–10 hourly tier (operators/trend.linear_forecast) — the
    value-oracled forecasting entry beside the rows-only iterative
    holt_winters.  Regressor is hours-since-window-start (exact BIGINT),
    observation the 1e-4-tick quantized hourly mean; every OLS moment and
    both closed-form numerators stay exact BIGINTs, and each prediction is
    ONE IEEE division — so all 120 rows hash-match the SQL replay bit-for-
    bit.  Emitted slope_num/slope_den expose the exact rational slope."""
    from influxer_spark.operators.trend import linear_forecast

    base = 1_704_240_000  # epoch seconds of 2024-01-03 00:00:00 UTC
    h = _hourly(spark, sf_dir).filter(
        (F.col("bucket") >= F.timestamp_seconds(F.lit(base)))
        & (F.col("bucket") < F.timestamp_seconds(F.lit(base + 7 * 86400)))
    )
    s = h.select(
        "event_type",
        ((F.unix_timestamp("bucket") - F.lit(base)) / 3600)
        .cast("long")
        .alias("idx"),
        F.round(F.col("v") * 10000, 0).cast("long").alias("tick"),
    )
    out = linear_forecast(
        s, ["event_type"], "idx", "tick", list(range(168, 192))
    )
    return out.select(
        "event_type",
        F.timestamp_seconds(F.lit(base) + F.col("idx") * 3600).alias("bucket"),
        "n_fit",
        "slope_num",
        "slope_den",
        F.col("pred").alias("pred_v"),
    )


_FORECAST_LINEAR_SQL = f"""
WITH {_HOURLY_MAT_SQL},
f AS (
  SELECT event_type,
         (CAST(floor(epoch(bucket)) AS BIGINT) - 1704240000) // 3600 AS idx,
         CAST(round(v * 10000, 0) AS BIGINT) AS tick
  FROM hourly
  WHERE bucket >= TIMESTAMP '2024-01-03 00:00:00'
    AND bucket < TIMESTAMP '2024-01-10 00:00:00'
),
m AS (
  SELECT event_type, count(*) AS n_fit,
         CAST(sum(idx) AS BIGINT) AS st,
         CAST(sum(tick) AS BIGINT) AS sy,
         CAST(sum(idx * idx) AS BIGINT) AS stt,
         CAST(sum(idx * tick) AS BIGINT) AS sty
  FROM f GROUP BY 1
),
c AS (
  SELECT event_type, n_fit,
         n_fit * sty - st * sy AS slope_num,
         n_fit * stt - st * st AS slope_den,
         sy * stt - st * sty AS inum
  FROM m WHERE n_fit >= 2 AND n_fit * stt - st * st != 0
),
hz AS (SELECT unnest(generate_series(168, 191)) AS idx)
SELECT c.event_type,
       make_timestamp((1704240000 + hz.idx * 3600) * 1000000) AS bucket,
       c.n_fit, c.slope_num, c.slope_den,
       CAST(c.inum + c.slope_num * hz.idx AS DOUBLE)
         / CAST(c.slope_den * 10000 AS DOUBLE) AS pred_v
FROM c CROSS JOIN hz
"""


def _q_influxql_forecast(spark, sf_dir):
    """forecast_linear(sum(s_c), 12) … GROUP BY time(6h) through the string
    front-end: per-series OLS continuation 12 six-hour buckets past each
    series' last observed bucket.  The inner aggregate sums exact BIGINT
    cents, the regressor centers per series inside the operator (bit-
    transparent — see linear_forecast_horizon), and each forecast value is
    one IEEE division of exact integers, so all 60 rows replay on the SQL
    side bit-for-bit."""
    h = _hourly(spark, sf_dir)
    out = influxql(
        "SELECT forecast_linear(sum(s_c), 12) AS fc"
        " FROM hourly GROUP BY time(6h), event_type",
        {"hourly": h},
        ts_col="bucket",
    )
    return out.withColumnRenamed("time", "bucket")


_INFLUXQL_FORECAST_SQL = f"""
WITH {_HOURLY_MAT_SQL},
g AS (
  SELECT event_type,
         CAST(floor(epoch(bucket)) AS BIGINT) // 21600 AS idx,
         CAST(sum(s_c) AS BIGINT) * 10000 AS tick
  FROM hourly GROUP BY 1, 2
),
mn AS (SELECT event_type, min(idx) AS tmin FROM g GROUP BY 1),
c0 AS (
  SELECT g.event_type, g.idx - mn.tmin AS t, g.tick AS y, mn.tmin AS tmin
  FROM g JOIN mn USING (event_type)
),
m AS (
  SELECT event_type, count(*) AS n_fit, any_value(tmin) AS tmin,
         max(t) AS tmax0,
         CAST(sum(t) AS BIGINT) AS st,
         CAST(sum(y) AS BIGINT) AS sy,
         CAST(sum(t * t) AS BIGINT) AS stt,
         CAST(sum(t * y) AS BIGINT) AS sty
  FROM c0 GROUP BY 1
),
c AS (
  SELECT event_type, tmin, tmax0,
         n_fit * sty - st * sy AS num,
         n_fit * stt - st * st AS den,
         sy * stt - st * sty AS inum
  FROM m WHERE n_fit >= 2 AND n_fit * stt - st * st != 0
),
hz AS (
  SELECT event_type, tmin,
         unnest(generate_series(tmax0 + 1, tmax0 + 12)) AS i0,
         num, den, inum
  FROM c
)
SELECT make_timestamp((tmin + i0) * 21600 * 1000000) AS bucket,
       event_type,
       CAST(inum + num * i0 AS DOUBLE) / CAST(den * 10000 AS DOUBLE) AS fc
FROM hz
"""


def _q_dtw_pairs(spark, sf_dir):
    """Band-constrained DTW distance between every pair of event_type
    hourly ACTIVITY profiles — hourly event counts on a fixed 168-hour
    spine (0 where no events), so every series has identical length and
    the ±3-hour band is always feasible (unequal lengths beyond the band
    raise loudly instead of leaking the sentinel — see operators/dtw.py).
    VALUE-ORACLED since r04: the DP is pure int64, so _DTW_SQL replays the
    identical recurrence with a recursive CTE (semantics additionally
    pinned vs a brute-force reference DP in tests/test_dtw.py)."""
    from influxer_spark.operators.dtw import dtw_pairs

    base = 1_704_240_000  # 2024-01-03 00:00:00 UTC
    ev = spark.read.parquet(f"{sf_dir}/events.parquet").filter(
        (F.col("ts") >= F.timestamp_seconds(F.lit(base)))
        & (F.col("ts") < F.timestamp_seconds(F.lit(base + 7 * 86400)))
    )
    counts = ev.groupBy(
        "event_type",
        ((F.unix_timestamp("ts") - F.lit(base)) / 3600)
        .cast("long")
        .alias("idx"),
    ).agg(F.count("*").alias("tick"))
    spine = (
        counts.select("event_type")
        .distinct()
        .crossJoin(spark.range(168).select(F.col("id").alias("idx")))
    )
    full = spine.join(counts, ["event_type", "idx"], "left").select(
        "event_type", "idx", F.coalesce("tick", F.lit(0)).alias("tick")
    )
    return dtw_pairs(full, "event_type", "idx", "tick", band=3).orderBy(
        "key_a", "key_b"
    )


# Exact SQL replay of the banded DTW DP (operators/dtw.py:_dtw_cost_banded).
# Every quantity is int64, so there is no float-op-order question — the
# oracle only has to compute the SAME recurrence.  The kernel's intra-row
# prefix dependency cur[j] = c_j + min(prev[j], prev[j-1], cur[j-1])
# unrolls to cur[j] = min_{k=lo..j} ( min(prev[k], prev[k-1]) + Σ_{l=k..j} c_l )
# — k below the row's band start lo never wins because those cells hold the
# 2^62 sentinel — which a nested list lambda evaluates over ≤ 2·band+1
# candidates per cell.  The recursion walks rows of series a carrying the
# full DP row as a BIGINT list.
_DTW_SENT = str(2**62)
_DTW_SQL = f"""
WITH RECURSIVE ev AS (
  SELECT event_type,
         CAST((CAST(floor(epoch(ts)) AS BIGINT) - 1704240000) // 3600
              AS BIGINT) AS idx
  FROM events
  WHERE epoch(ts) >= 1704240000 AND epoch(ts) < {1704240000 + 7 * 86400}
), counts AS (
  SELECT event_type, idx, count(*) AS tick FROM ev GROUP BY 1, 2
), spine AS (
  SELECT e.event_type, g.i AS idx
  FROM (SELECT DISTINCT event_type FROM counts) e, range(0, 168) g(i)
), fullsp AS (
  SELECT s.event_type, s.idx, coalesce(c.tick, 0) AS tick
  FROM spine s LEFT JOIN counts c USING (event_type, idx)
), arr AS MATERIALIZED (
  SELECT event_type, list(CAST(tick AS BIGINT) ORDER BY idx) AS v,
         count(*) AS n
  FROM fullsp GROUP BY 1
), pairs AS MATERIALIZED (
  SELECT a.event_type AS key_a, b.event_type AS key_b,
         a.v AS va, b.v AS vb,
         CAST(a.n AS BIGINT) AS n_a, CAST(b.n AS BIGINT) AS n_b
  FROM arr a JOIN arr b ON a.event_type < b.event_type
), dp AS (
  SELECT key_a, key_b, CAST(0 AS BIGINT) AS i,
         list_transform(range(0, CAST(n_b AS INT) + 1),
           j -> CASE WHEN j = 0 THEN CAST(0 AS BIGINT)
                     ELSE CAST({_DTW_SENT} AS BIGINT) END) AS dprow
  FROM pairs
  UNION ALL
  SELECT d.key_a, d.key_b, d.i + 1,
         list_transform(range(0, CAST(p.n_b AS INT) + 1), j ->
           CASE WHEN j = 0 OR abs(d.i + 1 - j) > 3
                THEN CAST({_DTW_SENT} AS BIGINT)
                ELSE CAST(list_min(list_transform(
                       range(greatest(1, CAST(d.i + 1 - 3 AS INT)), j + 1),
                       k -> least(d.dprow[k + 1], d.dprow[k])
                            + list_sum(list_transform(range(k, j + 1),
                                l -> abs(p.va[CAST(d.i + 1 AS INT)]
                                         - p.vb[l])))
                     )) AS BIGINT) END)
  FROM dp d JOIN pairs p ON d.key_a = p.key_a AND d.key_b = p.key_b
  WHERE d.i < p.n_a
)
SELECT d.key_a, d.key_b, p.n_a, p.n_b,
       CAST(d.dprow[CAST(p.n_b AS INT) + 1] AS BIGINT) AS dtw_cost
FROM dp d JOIN pairs p ON d.key_a = p.key_a AND d.key_b = p.key_b
WHERE d.i = p.n_a
"""


def _q_asap_smooth(spark, sf_dir):
    """Rows-only contract query (the ACF-peak window search has no SQL
    oracle; kernel pinned vs reference metrics in tests/test_asap.py):
    ASAP automatic smoothing of each event_type's hourly mean series —
    the chosen window minimizes roughness subject to kurtosis
    preservation (spikes stay visible); structureless series pass
    through with window=1."""
    from influxer_spark.operators.asap import asap_smooth

    h = _hourly(spark, sf_dir).select("event_type", "bucket", "v")
    return asap_smooth(
        h, ["event_type"], "bucket", "v", max_window=72
    ).orderBy("event_type", "idx")


def _q_pelt_segments(spark, sf_dir):
    """Optimal mean-shift segmentation of each event_type's hourly
    1e-4-tick mean series, fixed penalty.  VALUE-ORACLED since r04:
    _PELT_SQL replays the SAME pruned DP (not an exhaustive rewrite — on
    an exact float tie a pruned candidate could differ from the
    exhaustive argmin, so the oracle carries the candidate set) with a
    recursive CTE over exact int64 prefix sums; exactness is additionally
    pinned against an exhaustive optimal-partitioning DP in
    tests/test_pelt.py."""
    from influxer_spark.operators.pelt import pelt_changepoints

    h = _hourly(spark, sf_dir).select(
        "event_type",
        "bucket",
        F.round(F.col("v") * 10000, 0).cast("long").alias("tick"),
    )
    return pelt_changepoints(
        h, ["event_type"], "bucket", "tick", penalty=1e9
    ).orderBy("event_type", "seg")


def _pelt_sql(beta: float) -> str:
    """Recursive-CTE replay of pelt_segments_1d (operators/pelt.py), op
    for op: the DP walks t = 1..n carrying f (DOUBLE list), prev and the
    PRUNED candidate set (BIGINT lists); cost terms cast exact int64
    prefix-sum differences to double at the same points as _seg_cost, the
    argmin is first-exact-match (list_position == np.argmin), and the
    prune keeps s only while cost - β ≤ f[t].  A second recursion
    backtracks prev into (start, end) segments."""
    b = _dlit(beta)
    # cost of candidate s for endpoint t+1, replayed as
    #   (f[s] + (sxx - sx*sx/n)) + beta  — lists are 1-based
    costs = (
        "list_transform(d.cand, s -> (d.f[CAST(s AS INT) + 1]"
        " + (CAST(d.c2[d.t + 2] - d.c2[CAST(s AS INT) + 1] AS DOUBLE)"
        " - (CAST(d.c1[d.t + 2] - d.c1[CAST(s AS INT) + 1] AS DOUBLE)"
        " * CAST(d.c1[d.t + 2] - d.c1[CAST(s AS INT) + 1] AS DOUBLE))"
        f" / CAST(d.t + 1 - s AS DOUBLE))) + {b})"
    )
    return f"""
WITH RECURSIVE {_HOURLY_MAT_SQL}, t AS MATERIALIZED (
  SELECT event_type,
         CAST(round(v * 10000, 0) AS BIGINT) AS tick,
         CAST(row_number() OVER (PARTITION BY event_type ORDER BY bucket)
              AS INT) AS rn
  FROM hourly WHERE v IS NOT NULL
), pre AS MATERIALIZED (
  SELECT event_type, CAST(count(*) AS INT) AS n,
         list_prepend(CAST(0 AS BIGINT),
                      list(cum1 ORDER BY rn)) AS c1,
         list_prepend(CAST(0 AS BIGINT),
                      list(cum2 ORDER BY rn)) AS c2
  FROM (
    SELECT event_type, rn,
           sum(tick) OVER w AS cum1,
           sum(tick * tick) OVER w AS cum2
    FROM t
    WINDOW w AS (PARTITION BY event_type ORDER BY rn
                 ROWS UNBOUNDED PRECEDING)
  ) GROUP BY 1
), dp AS (
  SELECT event_type, n, c1, c2, 0 AS t,
         [0.0 - {b}] AS f,
         [CAST(0 AS BIGINT)] AS prevs,
         [CAST(0 AS BIGINT)] AS cand
  FROM pre
  UNION ALL
  SELECT d.event_type, d.n, d.c1, d.c2, d.t + 1,
         list_append(d.f, list_min({costs})),
         list_append(d.prevs,
           d.cand[list_position({costs}, list_min({costs}))]),
         list_append(
           list_filter(d.cand,
             (s, i) -> {costs}[i] - {b} <= list_min({costs})),
           CAST(d.t + 1 AS BIGINT))
  FROM dp d WHERE d.t < d.n
), bt AS (
  SELECT event_type, n, CAST(n AS BIGINT) AS t, prevs, c1
  FROM dp WHERE t = n
  UNION ALL
  SELECT event_type, n, prevs[CAST(t AS INT) + 1], prevs, c1
  FROM bt WHERE t > 0
)
SELECT event_type,
       CAST(row_number() OVER (PARTITION BY event_type ORDER BY s)
            - 1 AS BIGINT) AS seg,
       s AS start_idx, t AS end_idx, t - s AS n,
       CAST(c1[CAST(t AS INT) + 1] - c1[CAST(s AS INT) + 1] AS DOUBLE)
         / CAST(t - s AS DOUBLE) AS mean
FROM (
  SELECT event_type, prevs[CAST(t AS INT) + 1] AS s, t, c1 FROM bt
  WHERE t > 0
)
"""


_PELT_SQL = _pelt_sql(1e9)


def _q_influxql_tz_tier(spark, sf_dir):
    """tz() tier serving (round 4): a wall-clock daily panel in
    America/New_York answered from the 1h ROLLUP TIER (frontend
    _plan_route + _tz_grid_ok — every NY offset is a whole hour, so
    UTC hour partials re-bucket exactly onto wall days; the 1d tier
    cannot serve because wall days are not UTC-day-aligned).  The oracle
    rebuilds the same wall-day panel from raw in SQL, so a hash match
    proves the materialize→commit→wall-re-bucket path end to end.
    count/min/max only: exact under any partial merge order."""
    import tempfile

    from influxer_spark.catalog import TableCatalog
    from influxer_spark.influxql_frontend import InfluxQLEngine
    from influxer_spark.operators.refresh import build_point_tiers

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    cat = TableCatalog(tempfile.mkdtemp(prefix="tz_tier_gate_"))
    build_point_tiers(spark, cat, ev, "ts", ["event_type"], "value")
    eng = InfluxQLEngine({"m": ev}, ts_col="ts")
    eng.register_tiered("m", cat, key_cols=("event_type",))
    out = eng.execute(
        "SELECT count(value) AS cnt, min(value) AS mn, max(value) AS mx"
        " FROM m GROUP BY time(1d), event_type tz('America/New_York')"
    )
    return out.withColumnRenamed("time", "bucket")


_TZ_TIER_SQL = """
SELECT date_trunc('day',
         timezone('America/New_York', timezone('UTC', ts))) AS bucket,
       event_type,
       count(value) AS cnt, min(value) AS mn, max(value) AS mx
FROM events GROUP BY 1, 2
"""


def _q_influxql_tz_fill_tier(spark, sf_dir):
    """tz() + fill() tier serving (round 5): a bounded 6h wall-clock panel
    in America/New_York with fill(0), answered from the 1h ROLLUP TIER —
    the r5 answerable gate lifts the old fill-forces-raw refusal, and
    fill_buckets builds the wall spine with spine_tz (keeping observed
    DST-gap labels, dropping only manufactured nonexistent ones).  The
    WHERE range extends past the data on both ends, so the spine
    manufactures leading/trailing gap rows that fill(0) zeroes; the
    oracle rebuilds wall bucketing + spine + fill in SQL.  count/min
    only: exact under any partial merge order.  cnt re-cast to long (the
    fill literal is typed double, as on the raw path)."""
    import tempfile

    from influxer_spark.catalog import TableCatalog
    from influxer_spark.influxql_frontend import InfluxQLEngine
    from influxer_spark.operators.refresh import build_point_tiers

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    cat = TableCatalog(tempfile.mkdtemp(prefix="tz_fill_gate_"))
    build_point_tiers(spark, cat, ev, "ts", ["event_type"], "value")
    eng = InfluxQLEngine({"m": ev}, ts_col="ts")
    eng.register_tiered("m", cat, key_cols=("event_type",))
    out = eng.execute(
        "SELECT count(value) AS cnt, min(value) AS mn FROM m"
        " WHERE time >= '2023-12-31 00:00:00'"
        " AND time < '2024-02-02 00:00:00'"
        " GROUP BY time(6h), event_type fill(0) tz('America/New_York')"
    )
    return out.withColumnRenamed("time", "bucket").withColumn(
        "cnt", F.col("cnt").cast("long")
    )


_TZ_FILL_TIER_SQL = """
WITH w AS (
  SELECT timezone('America/New_York', timezone('UTC', ts)) AS wts,
         event_type, value
  FROM events
), b AS (
  SELECT make_timestamp(
           CAST(floor(epoch(wts) / 21600) AS BIGINT) * 21600 * 1000000
         ) AS bucket,
         event_type, value
  FROM w
  WHERE wts >= TIMESTAMP '2023-12-31 00:00:00'
    AND wts <  TIMESTAMP '2024-02-02 00:00:00'
), agg AS (
  SELECT bucket, event_type, count(value) AS cnt, min(value) AS mn
  FROM b GROUP BY 1, 2
), spine AS (
  SELECT s.bucket, e.event_type
  FROM (
    SELECT unnest(generate_series(TIMESTAMP '2023-12-31 00:00:00',
                                  TIMESTAMP '2024-02-01 18:00:00',
                                  INTERVAL 6 HOUR)) AS bucket
  ) s
  -- series set mirrors the engine's PER-SERIES spine: only event types
  -- with data inside the WHERE range get a spine (fill_buckets derives
  -- bounds per observed series), not every type in the table
  CROSS JOIN (SELECT DISTINCT event_type FROM b) e
)
SELECT sp.bucket, sp.event_type,
       CAST(COALESCE(a.cnt, 0) AS BIGINT) AS cnt,
       CAST(COALESCE(a.mn, 0) AS DOUBLE) AS mn
FROM spine sp
LEFT JOIN agg a ON a.bucket = sp.bucket AND a.event_type = sp.event_type
"""


def _q_influxql_tz_offset_tier(spark, sf_dir):
    """tz() + bucket offset tier serving (round 5): time(6h,1h) on the
    America/New_York wall clock — the shifted wall grid keeps every
    boundary 1h-tier-aligned (wt | off and wt | w), so UTC hour partials
    re-bucket exactly onto the offset wall grid.  The oracle floors wall
    seconds on the same shifted grid.  count/min/max: exact merges."""
    import tempfile

    from influxer_spark.catalog import TableCatalog
    from influxer_spark.influxql_frontend import InfluxQLEngine
    from influxer_spark.operators.refresh import build_point_tiers

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    cat = TableCatalog(tempfile.mkdtemp(prefix="tz_off_gate_"))
    build_point_tiers(spark, cat, ev, "ts", ["event_type"], "value")
    eng = InfluxQLEngine({"m": ev}, ts_col="ts")
    eng.register_tiered("m", cat, key_cols=("event_type",))
    out = eng.execute(
        "SELECT count(value) AS cnt, min(value) AS mn, max(value) AS mx"
        " FROM m GROUP BY time(6h, 1h), event_type tz('America/New_York')"
    )
    return out.withColumnRenamed("time", "bucket")


_TZ_OFFSET_TIER_SQL = """
WITH w AS (
  SELECT timezone('America/New_York', timezone('UTC', ts)) AS wts,
         event_type, value
  FROM events
)
SELECT make_timestamp(
         ((CAST(floor(epoch(wts)) AS BIGINT) - 3600) // 21600 * 21600 + 3600)
         * 1000000
       ) AS bucket,
       event_type,
       count(value) AS cnt, min(value) AS mn, max(value) AS mx
FROM w GROUP BY 1, 2
"""


def _q_kmv_tz_tier(spark, sf_dir):
    """tz() + KMV tier serving (round 4): wall-day distinct users in
    America/New_York, answered from the kmv_1h sketch tier via the string
    front-end (kmv_rebucket's wall re-bucket — k-min union is
    bucket-assignment-agnostic, so the wall panel is EXACTLY the estimate
    a raw wall-bucket pass produces).  The oracle replays the identical
    md5-based 60-bit hash, wall-day grouping, k-min order statistic and
    1e-4 quantization in SQL, so the hash match proves the
    materialize→commit→wall-re-bucket→estimate path end to end."""
    import tempfile

    from influxer_spark.catalog import TableCatalog
    from influxer_spark.influxql_frontend import InfluxQLEngine
    from influxer_spark.operators.kmv import build_kmv_tiers

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    cat = TableCatalog(tempfile.mkdtemp(prefix="kmv_tz_gate_"))
    build_kmv_tiers(spark, cat, ev, "ts", ["event_type"], "user_id", k=64)
    eng = InfluxQLEngine({"m": ev}, ts_col="ts")
    eng.register_tiered(
        "m", cat, key_cols=("event_type",), kmv_item_col="user_id"
    )
    out = eng.execute(
        "SELECT approx_count_distinct(user_id) AS uu FROM m"
        " GROUP BY time(1d), event_type tz('America/New_York')"
    )
    return out.withColumnRenamed("time", "bucket")


_KMV_TZ_TIER_SQL = """
WITH h AS (
  SELECT DISTINCT
         date_trunc('day',
           timezone('America/New_York', timezone('UTC', ts))) AS bucket,
         event_type,
         CAST(concat('0x', substr(md5(CAST(user_id AS VARCHAR)), 1, 15))
              AS BIGINT) AS hv
  FROM events
), r AS (
  SELECT bucket, event_type, hv,
         row_number() OVER (PARTITION BY bucket, event_type
                            ORDER BY hv) AS rn,
         count(*) OVER (PARTITION BY bucket, event_type) AS n
  FROM h
)
SELECT bucket, event_type,
  CAST(round(
    (CASE WHEN max(n) < 64 THEN CAST(max(n) AS DOUBLE)
          ELSE 63.0 * 1152921504606846976.0
               / CAST(max(CASE WHEN rn = 64 THEN hv END) AS DOUBLE) END)
    * 10000, 0) AS BIGINT) / 10000.0 AS uu
FROM r GROUP BY 1, 2
"""


def _q_kmv_offset_tier(spark, sf_dir):
    """KMV distinct on a bucket-offset grid (round 5): time(4h,1h)
    distinct users served from the kmv_1h sketch tier — the hour tier
    divides both width and offset, so k-min unions re-bucket exactly
    onto the shifted grid.  The oracle replays the identical md5 60-bit
    hash, shifted-grid grouping, k-min order statistic and 1e-4
    quantization in SQL."""
    import tempfile

    from influxer_spark.catalog import TableCatalog
    from influxer_spark.influxql_frontend import InfluxQLEngine
    from influxer_spark.operators.kmv import build_kmv_tiers

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    cat = TableCatalog(tempfile.mkdtemp(prefix="kmv_off_gate_"))
    build_kmv_tiers(spark, cat, ev, "ts", ["event_type"], "user_id", k=64)
    eng = InfluxQLEngine({"m": ev}, ts_col="ts")
    eng.register_tiered(
        "m", cat, key_cols=("event_type",), kmv_item_col="user_id"
    )
    out = eng.execute(
        "SELECT approx_count_distinct(user_id) AS uu FROM m"
        " GROUP BY time(4h, 1h), event_type"
    )
    return out.withColumnRenamed("time", "bucket")


_KMV_OFFSET_TIER_SQL = """
WITH h AS (
  SELECT DISTINCT
         make_timestamp(
           ((CAST(floor(epoch(ts)) AS BIGINT) - 3600) // 14400 * 14400 + 3600)
           * 1000000
         ) AS bucket,
         event_type,
         CAST(concat('0x', substr(md5(CAST(user_id AS VARCHAR)), 1, 15))
              AS BIGINT) AS hv
  FROM events
), r AS (
  SELECT bucket, event_type, hv,
         row_number() OVER (PARTITION BY bucket, event_type
                            ORDER BY hv) AS rn,
         count(*) OVER (PARTITION BY bucket, event_type) AS n
  FROM h
)
SELECT bucket, event_type,
  CAST(round(
    (CASE WHEN max(n) < 64 THEN CAST(max(n) AS DOUBLE)
          ELSE 63.0 * 1152921504606846976.0
               / CAST(max(CASE WHEN rn = 64 THEN hv END) AS DOUBLE) END)
    * 10000, 0) AS BIGINT) / 10000.0 AS uu
FROM r GROUP BY 1, 2
"""


def _q_hdr_offset_tier(spark, sf_dir):
    """HDR percentile on a bucket-offset grid (round 5): time(6h,1h) p95
    through the string front-end, served from the hdr_1h sketch tier
    (hdr_rebucket offset_seconds — counter vectors sum losslessly onto
    the shifted grid because the hour tier divides both width and
    offset).  The oracle replays the identical integer log-linear bucket
    math on the shifted grid — bit-exact, like hdr_quantile_1h."""
    import tempfile

    from influxer_spark.catalog import TableCatalog
    from influxer_spark.influxql_frontend import InfluxQLEngine
    from influxer_spark.operators.hdrsketch import build_hdr_tiers

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    cat = TableCatalog(tempfile.mkdtemp(prefix="hdr_off_gate_"))
    build_hdr_tiers(spark, cat, ev, "ts", ["event_type"], "value")
    eng = InfluxQLEngine({"m": ev}, ts_col="ts")
    eng.register_tiered("m", cat, key_cols=("event_type",), hdr=True)
    out = eng.execute(
        "SELECT percentile(value, 95) AS p95 FROM m"
        " GROUP BY time(6h, 1h), event_type"
    )
    return out.withColumnRenamed("time", "bucket")


_HDR_OFFSET_TIER_SQL = """
WITH p AS (
  SELECT event_type,
         make_timestamp(
           ((CAST(floor(epoch(ts)) AS BIGINT) - 3600) // 21600 * 21600
            + 3600) * 1000000
         ) AS bucket,
         greatest(CAST(round(value*100,0) AS BIGINT), 1) AS v
  FROM events
), b AS (
  SELECT event_type, bucket, v, CAST(length(bin(v))-1 AS BIGINT) AS e FROM p
), i AS (
  SELECT event_type, bucket, e*32 + ((v*32) >> e) - 32 AS idx FROM b
), s AS (
  SELECT event_type, bucket, idx, count(*) AS cnt FROM i GROUP BY 1,2,3
), r AS (
  SELECT event_type, bucket, idx, cnt,
         sum(cnt) OVER (PARTITION BY event_type, bucket ORDER BY idx) AS cum,
         sum(cnt) OVER (PARTITION BY event_type, bucket) AS n,
         ((((idx % 32) + 32) << (idx // 32)) >> 5) AS lb
  FROM s
)
SELECT bucket, event_type,
  min(CASE WHEN cum >= ceil(0.95*n) THEN lb END)/100.0 AS p95
FROM r GROUP BY 1, 2
"""


def _q_theta_forecast(spark, sf_dir):
    """Theta-method forecast of the next 24 hourly buckets per event_type
    (1e-4-tick units) — the M4-benchmark hybrid beside holt_winters and
    the closed-form forecast_linear.  VALUE-ORACLED: the kernel's OLS is
    exact integer normal equations, the α grid is i/100.0 with strict-<
    argmin, and the SES recurrence has one pinned double-op shape per
    step, so _THETA_SQL replays every forecast bit-for-bit with a
    recursive CTE (the same discipline as the EMA/KAMA folds).  Feeding
    integer ticks (not float means) is what makes Σy and Σt·y exact and
    order-independent on both engines."""
    from influxer_spark.operators.theta import theta_forecast

    h = _hourly(spark, sf_dir).select(
        "event_type", "bucket", F.round(F.col("v") * 10000, 0).alias("tick")
    )
    return theta_forecast(
        h, ["event_type"], "bucket", "tick", horizon=24
    ).orderBy("event_type", "step")


_THETA_SQL = f"""
WITH RECURSIVE {_HOURLY_MAT_SQL}, t AS MATERIALIZED (
  SELECT event_type,
         CAST(round(v * 10000, 0) AS DOUBLE) AS x,
         CAST(row_number() OVER (PARTITION BY event_type ORDER BY bucket)
              AS BIGINT) AS rn
  FROM hourly
), ols AS (
  -- exact integer sums (ticks < 2^53): CAST order mirrors the kernel
  SELECT event_type,
         count(*) AS n,
         CAST(count(*) AS DOUBLE) AS fn,
         CAST((count(*) * (count(*) - 1)) // 2 AS DOUBLE) AS st,
         CAST((count(*) - 1) * count(*) * (2 * count(*) - 1) // 6
              AS DOUBLE) AS stt,
         CAST(sum(CAST(x AS BIGINT)) AS DOUBLE) AS sy,
         CAST(sum((rn - 1) * CAST(x AS BIGINT)) AS DOUBLE) AS sty
  FROM t GROUP BY 1
), slope AS (
  SELECT event_type, n, fn, st,
         (fn * sty - st * sy) / (fn * stt - st * st) AS b, sy
  FROM ols
), ab AS MATERIALIZED (
  SELECT event_type, n, b, (sy - b * st) / fn AS a FROM slope
), th2 AS MATERIALIZED (
  -- theta2 line: 2x - trend, same elementwise double ops as the kernel
  SELECT t.event_type, t.rn,
         2.0 * t.x - (ab.a + ab.b * CAST(t.rn - 1 AS DOUBLE)) AS v
  FROM t JOIN ab ON t.event_type = ab.event_type
), grid AS (
  SELECT CAST(i AS DOUBLE) / 100.0 AS alpha FROM range(1, 100) g(i)
), ses AS (
  -- the SES fold, one pinned op shape per step:
  --   err = v - level;  sse += err*err;  level += alpha*err
  SELECT s.event_type, g.alpha, s.rn, s.v AS level,
         CAST(0.0 AS DOUBLE) AS sse
  FROM th2 s CROSS JOIN grid g WHERE s.rn = 1
  UNION ALL
  SELECT s.event_type, p.alpha, s.rn,
         p.level + p.alpha * (s.v - p.level) AS level,
         p.sse + (s.v - p.level) * (s.v - p.level) AS sse
  FROM th2 s JOIN ses p
    ON s.event_type = p.event_type AND s.rn = p.rn + 1
), best AS (
  -- strict-< fold == min (sse, alpha): exact ties keep the smaller alpha
  SELECT event_type, alpha, level FROM (
    SELECT f.event_type, f.alpha, f.level,
           row_number() OVER (PARTITION BY f.event_type
                              ORDER BY f.sse, f.alpha) AS rk
    FROM ses f JOIN ab ON f.event_type = ab.event_type AND f.rn = ab.n
  ) WHERE rk = 1
)
SELECT ab.event_type, CAST(h.step AS BIGINT) AS step,
       0.5 * (best.level
              + (ab.a + ab.b * CAST(ab.n - 1 + h.step AS DOUBLE)))
         AS forecast,
       best.alpha AS alpha,
       ab.b AS trend_slope
FROM ab
JOIN best ON ab.event_type = best.event_type
CROSS JOIN range(1, 25) h(step)
"""


def _q_offset_buckets(spark, sf_dir):
    """GROUP BY time(6h, 1h) through the string front-end: InfluxQL's
    offset-shifted bucket grid (buckets at 01:00, 07:00, 13:00, 19:00).
    Sums are exact integer cents, so the shifted grid replays on the SQL
    side bit-for-bit — the oracle floors epoch−3600 to the 6h grid and
    adds the hour back."""
    h = _hourly(spark, sf_dir)
    out = influxql(
        "SELECT sum(s_c) AS s6_c, count(s_c) AS nb"
        " FROM hourly GROUP BY time(6h, 1h), event_type",
        {"hourly": h},
        ts_col="bucket",
    )
    return out.withColumnRenamed("time", "bucket")


_OFFSET_BUCKETS_SQL = f"""
WITH {_HOURLY_MAT_SQL}
SELECT make_timestamp((CAST(floor(epoch(bucket)) AS BIGINT)
         - (CAST(floor(epoch(bucket)) AS BIGINT) - 3600) % 21600)
         * 1000000) AS bucket,
       event_type,
       CAST(sum(s_c) AS BIGINT) AS s6_c,
       count(s_c) AS nb
FROM hourly GROUP BY 1, 2
"""


def _q_cq_resample(spark, sf_dir):
    """Incremental continuous query (RESAMPLE EVERY 1h FOR 48h) — the
    merge semantics end-to-end: a backfill runs over a STALE table
    (values doubled, data only through Jan 28), corrected data arrives,
    and an incremental run at now=Jan 30 12:00 recomputes ONLY the
    trailing 48h of complete buckets.  The final target must show stale
    (doubled) sums before the window and true sums inside it — proving
    the window replaced exactly its own buckets and kept the rest."""
    from influxer_spark.influxql_frontend import InfluxQLEngine

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    old = ev.filter(F.col("ts") < "2024-01-29").withColumn(
        "value", F.col("value") * 2
    )
    eng = InfluxQLEngine({"events": old}, ts_col="ts")
    eng.execute_statement(
        "CREATE CONTINUOUS QUERY cqr ON db RESAMPLE EVERY 1h FOR 48h BEGIN "
        "SELECT sum(value) AS sv INTO ev_h FROM events "
        "GROUP BY time(1h), event_type END"
    )
    eng.run_continuous_queries()                       # backfill on stale data
    eng.tables["events"] = ev                          # corrected data arrives
    eng.run_continuous_queries(now="2024-01-30T12:00:00")
    return (
        eng.tables["ev_h"]
        .select(
            F.col("ts").alias("time"),
            "event_type",
            F.round(F.col("sv") * 100, 0).cast("long").alias("sv_c"),
        )
        .orderBy("time", "event_type")
    )


_CQ_RESAMPLE_SQL = """
WITH old_b AS (
  SELECT date_trunc('hour', ts) AS time, event_type,
         CAST(round(sum(value * 2) * 100, 0) AS BIGINT) AS sv_c
  FROM events WHERE ts < TIMESTAMP '2024-01-29 00:00:00'
  GROUP BY 1, 2
), win AS (
  SELECT date_trunc('hour', ts) AS time, event_type,
         CAST(round(sum(value) * 100, 0) AS BIGINT) AS sv_c
  FROM events
  WHERE ts >= TIMESTAMP '2024-01-28 12:00:00'
    AND ts < TIMESTAMP '2024-01-30 12:00:00'
  GROUP BY 1, 2
)
SELECT * FROM old_b WHERE time < TIMESTAMP '2024-01-28 12:00:00'
UNION ALL
SELECT * FROM win
ORDER BY time, event_type
"""


def influxql_queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {
        "influxql_math_6h": _q_math_6h,
        "influxql_cq_resample": _q_cq_resample,
        "influxql_nnd_6h": _q_nnd_6h,
        "influxql_count_distinct_1d": _q_count_distinct_1d,
        "influxql_transforms_1h": _q_transforms,
        "influxql_selectors_1h": _q_selectors,
        "influxql_top3_hours": _q_top3,
        "influxql_integral_stats": _q_integral_stats,
        "influxql_sample5": _q_sample,
        "influxql_fill_linear_6h": _q_fill_linear_6h,
        "influxql_fill_previous_6h": _q_fill_previous_6h,
        "influxql_mode_median_6h": _q_mode_median_6h,
        "snaive_mase_24h": _q_snaive_mase,
        "influxql_deriv_sum_6h": _q_deriv_sum_6h,
        "influxql_subquery_6h_max": _q_subquery,
        "influxql_slimit_series": _q_slimit,
        "influxql_show_tag_values": _q_show_tag_values,
        "influxql_show_cardinality": _q_show_cardinality,
        "influxql_wildcard_agg": _q_wildcard_agg,
        "influxql_multi_measurement": _q_multi_measurement,
        "influxql_ema_series": _q_ema,
        "influxql_matrix_profile": _q_matrix_profile,
        "influxql_trend_hourly": _q_trend_hourly,
        "influxql_rsi_series": _q_rsi,
        "influxql_cmo_ker_series": _q_cmo_ker,
        "influxql_kama_series": _q_kama,
        "influxql_trix_series": _q_trix,
        "influxql_top_per_tag": _q_top_per_tag,
        "influxql_counter_rate": _q_counter_rate,
        "influxql_counter_family": _q_counter_family,
        "influxql_approx_distinct": _q_approx_distinct,
        "influxql_moving_median": _q_moving_median,
        "influxql_sigma_1h": _q_sigma,
        "lttb_downsample_50": _q_lttb,
        "m4_downsample_1h": _q_m4,
        "seasonal_decompose_24h": _q_decompose,
        "acf_48_hourly": _q_acf,
        "dominant_period_48": _q_dominant_period,
        "series_corr_hourly": _q_series_corr,
        "corr_matrix_hourly": _q_corr_matrix,
        "cross_corr_lags": _q_cross_corr,
        "deadman_1h": _q_deadman,
        "alert_transitions_1h": _q_alert_transitions,
        "stream_alert_replay": _q_stream_alert_replay,
        "anomaly_mad_hourly": _q_anomaly_mad,
        "resid_anomaly_24h": _q_resid_anomaly,
        "sax_daily_motifs": _q_sax_motifs,
        "cusum_changepoints_hourly": _q_cusum,
        "ewma_chart_hourly": _q_ewma_chart,
        "slo_burn_page_1h": _q_slo_burn,
        "topn_other_hourly": _q_topn_other,
        "holt_winters_forecast_24h": _q_holt_winters,
        "forecast_linear_24h": _q_forecast_linear,
        "influxql_forecast_linear": _q_influxql_forecast,
        "dtw_pairs_hourly": _q_dtw_pairs,
        "asap_smooth_hourly": _q_asap_smooth,
        "influxql_offset_6h1h": _q_offset_buckets,
        "pelt_segments_hourly": _q_pelt_segments,
        "theta_forecast_24h": _q_theta_forecast,
        "influxql_tz_tier_1d": _q_influxql_tz_tier,
        "kmv_tz_tier_1d": _q_kmv_tz_tier,
        "influxql_tz_fill_tier_6h": _q_influxql_tz_fill_tier,
        "influxql_tz_offset_tier_6h1h": _q_influxql_tz_offset_tier,
        "kmv_offset_tier_4h1h": _q_kmv_offset_tier,
        "hdr_offset_tier_6h1h": _q_hdr_offset_tier,
    }


def influxql_oracle_sql() -> dict[str, str]:
    return {
        "influxql_math_6h": _MATH_6H_SQL,
        "influxql_cq_resample": _CQ_RESAMPLE_SQL,
        "influxql_nnd_6h": _NND_6H_SQL,
        "influxql_count_distinct_1d": _COUNT_DISTINCT_SQL,
        "influxql_transforms_1h": _TRANSFORMS_SQL,
        "influxql_selectors_1h": _SELECTORS_SQL,
        "influxql_top3_hours": _TOP3_SQL,
        "influxql_integral_stats": _INTEGRAL_SQL,
        "influxql_sample5": _SAMPLE_SQL,
        "influxql_fill_linear_6h": _FILL_LINEAR_SQL,
        "influxql_fill_previous_6h": _FILL_PREVIOUS_SQL,
        "influxql_mode_median_6h": _MODE_MEDIAN_SQL,
        "snaive_mase_24h": _SNAIVE_MASE_SQL,
        "influxql_deriv_sum_6h": _DERIV_SUM_SQL,
        "influxql_subquery_6h_max": _SUBQUERY_SQL,
        "influxql_slimit_series": _SLIMIT_SQL,
        "influxql_show_tag_values": _SHOW_TAG_VALUES_SQL,
        "influxql_show_cardinality": _SHOW_CARDINALITY_SQL,
        "influxql_wildcard_agg": _WILDCARD_AGG_SQL,
        "influxql_multi_measurement": _MULTI_SQL,
        "influxql_ema_series": _EMA_SQL,
        "influxql_matrix_profile": _MP_SQL,
        "influxql_trend_hourly": _TREND_HOURLY_SQL,
        "influxql_rsi_series": _rsi_sql(14),
        "influxql_cmo_ker_series": _cmo_ker_sql(14),
        "influxql_kama_series": _kama_sql(10),
        "influxql_trix_series": _trix_sql(9),
        "influxql_top_per_tag": _TOP_PER_TAG_SQL,
        "influxql_counter_rate": _COUNTER_RATE_SQL,
        "influxql_counter_family": _COUNTER_FAMILY_SQL,
        "influxql_approx_distinct": _APPROX_DISTINCT_SQL,
        "influxql_moving_median": _MOVING_MEDIAN_SQL,
        "influxql_sigma_1h": _SIGMA_SQL,
        "lttb_downsample_50": _lttb_sql(50),
        "m4_downsample_1h": _M4_SQL,
        "seasonal_decompose_24h": _decompose_sql(),
        "acf_48_hourly": _acf_sql(48),
        "dominant_period_48": _dominant_period_sql(48),
        "series_corr_hourly": _series_corr_sql(),
        "corr_matrix_hourly": _CORR_MATRIX_SQL,
        "cross_corr_lags": _ccf_sql([-2, -1, 0, 1, 2]),
        "deadman_1h": _DEADMAN_SQL,
        "alert_transitions_1h": _ALERT_TRANSITIONS_SQL,
        "stream_alert_replay": _ALERT_TRANSITIONS_SQL,
        "anomaly_mad_hourly": _ANOMALY_MAD_SQL,
        "resid_anomaly_24h": _resid_anomaly_sql(),
        "sax_daily_motifs": _sax_sql(),
        "cusum_changepoints_hourly": _cusum_sql(0.5, 5.0),
        "ewma_chart_hourly": _ewma_sql(0.2, 3.0),
        "slo_burn_page_1h": _slo_burn_sql(0.999, 12, 1, 14.4),
        "topn_other_hourly": _TOPN_OTHER_SQL,
        "forecast_linear_24h": _FORECAST_LINEAR_SQL,
        "influxql_forecast_linear": _INFLUXQL_FORECAST_SQL,
        "influxql_offset_6h1h": _OFFSET_BUCKETS_SQL,
        "theta_forecast_24h": _THETA_SQL,
        "dtw_pairs_hourly": _DTW_SQL,
        "pelt_segments_hourly": _PELT_SQL,
        "influxql_tz_tier_1d": _TZ_TIER_SQL,
        "kmv_tz_tier_1d": _KMV_TZ_TIER_SQL,
        "influxql_tz_fill_tier_6h": _TZ_FILL_TIER_SQL,
        "influxql_tz_offset_tier_6h1h": _TZ_OFFSET_TIER_SQL,
        "kmv_offset_tier_4h1h": _KMV_OFFSET_TIER_SQL,
        "hdr_offset_tier_6h1h": _HDR_OFFSET_TIER_SQL,
    }
