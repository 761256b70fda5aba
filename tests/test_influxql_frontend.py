"""InfluxQL string front-end: parser structure, executor semantics vs
hand-computed frames, fill() modes, selectors, LIMIT-per-series, errors."""

from __future__ import annotations

import datetime as dt

import pytest
from pyspark.sql import functions as F

from influxer_spark.influxql_frontend import (
    InfluxQLEngine,
    InfluxQLError,
    influxql,
    parse,
    parse_duration,
)

T0 = dt.datetime(2024, 1, 1, 0, 0)


@pytest.fixture(scope="module")
def m(spark):
    rows = []
    for host, base in (("a", 10.0), ("b", 100.0)):
        for i, v in enumerate([1.0, 2.0, 4.0, 8.0, 16.0, 32.0]):
            rows.append((host, T0 + dt.timedelta(seconds=30 * i), base + v))
    # a gap: host "a" has nothing in minute 3..4
    rows.append(("a", T0 + dt.timedelta(minutes=5), 99.0))
    return spark.createDataFrame(rows, ["host", "ts", "value"])


def _eng(m):
    return InfluxQLEngine({"cpu": m}, ts_col="ts")


# --- parser ---

def test_parse_structure():
    s = parse(
        "SELECT derivative(mean(value), 1s) AS d FROM cpu "
        "WHERE time >= '2024-01-01' AND host = 'a' "
        "GROUP BY time(1m), host fill(linear) ORDER BY time DESC LIMIT 3"
    )
    assert s.measurement == "cpu"
    assert s.time_width == 60.0 and s.group_tags == ["host"]
    assert s.fill_mode == "linear" and s.order_desc and s.limit == 3
    e, alias = s.projections[0]
    assert alias == "d" and e.fname == "derivative" and e.args[0].fname == "mean"


def test_parse_durations():
    assert parse_duration("90s") == 90
    assert parse_duration("1m") == 60
    assert parse_duration("6h") == 21600
    assert parse_duration("2d") == 172800
    assert parse_duration("500ms") == 0.5
    assert parse_duration("100ns") == pytest.approx(1e-7)


def test_parse_errors():
    with pytest.raises(InfluxQLError):
        parse("SELECT FROM m")
    with pytest.raises(InfluxQLError):
        parse("SELECT v FROM (SELECT v FROM m")  # unterminated subquery
    s = parse("SELECT v FROM m, n")
    assert s.measurements == ["m", "n"]
    s = parse("SELECT v FROM /^cpu/")
    assert s.measurement_rex == "^cpu"


def test_parse_round2_surface():
    s = parse("SELECT mean(v) FROM m GROUP BY time(1h), * SLIMIT 5 SOFFSET 2")
    assert s.group_star and s.slimit == 5 and s.soffset == 2
    s = parse("SELECT mean(v) AS mv INTO m1h FROM m GROUP BY time(1h)")
    assert s.into == "m1h"
    s = parse("SELECT max(mv) FROM (SELECT mean(v) AS mv FROM m GROUP BY time(1h))")
    assert s.sub is not None and s.sub.measurement == "m"


# --- aggregate mode ---

def test_mean_groupby_time_and_tag(m, spark):
    out = influxql(
        "SELECT mean(value) AS avg_v, count(value) AS cnt FROM cpu GROUP BY time(1m), host",
        {"cpu": m},
    )
    rows = {(r["host"], r["time"].minute): (r["avg_v"], r["cnt"]) for r in out.collect()}
    assert rows[("a", 0)] == ((11.0 + 12.0) / 2, 2)
    assert rows[("b", 2)] == ((116.0 + 132.0) / 2, 2)
    assert rows[("a", 5)] == (99.0, 1)


def test_all_aggregates_one_shuffle(m):
    out = influxql(
        "SELECT spread(value) AS sp, stddev(value) AS sd, median(value) AS md,"
        " percentile(value, 90) AS p90, mode(value) AS mo, first(value) AS fv,"
        " last(value) AS lv, integral(value, 1m) AS integ, sum(value) AS s,"
        " min(value) AS mn, max(value) AS mx "
        "FROM cpu WHERE host = 'a' AND time < '2024-01-01 00:05:00' GROUP BY host",
        {"cpu": m},
    )
    r = out.collect()[0]
    # host a values: 11,12,14,18,26,42 at 30s spacing
    assert r["sp"] == 31.0
    assert r["md"] == 14.0  # floor(6*0.5+0.5)=3rd of sorted
    assert r["p90"] == 26.0  # rank floor(6*0.9+0.5)=5 → 5th smallest
    assert r["fv"] == 11.0 and r["lv"] == 42.0
    assert r["mo"] == 11.0  # all unique → tie → smallest
    assert r["mn"] == 11.0 and r["mx"] == 42.0 and r["s"] == 123.0
    # trapezoids at 30s: (11.5+13+16+22+34)*30 /60 per-minute
    assert r["integ"] == pytest.approx((11.5 + 13 + 16 + 22 + 34) * 30 / 60)


def test_derivative_of_mean_drops_first_bucket(m):
    out = influxql(
        "SELECT derivative(mean(value), 1m) AS d FROM cpu GROUP BY time(1m), host",
        {"cpu": m},
    ).filter(F.col("host") == "a").orderBy("time").collect()
    # buckets for a: 0m avg 11.5, 1m avg 16, 2m avg 34, 5m 99
    assert [r["time"].minute for r in out] == [1, 2, 5]
    assert out[0]["d"] == pytest.approx(4.5)
    assert out[1]["d"] == pytest.approx(18.0)
    assert out[2]["d"] == pytest.approx((99 - 34) / 3.0)


def test_bare_field_in_agg_query_rejected(m):
    with pytest.raises(InfluxQLError):
        influxql("SELECT value, mean(value) FROM cpu GROUP BY time(1m)", {"cpu": m})


# --- fill ---

def test_fill_previous_and_linear(m):
    base = "SELECT mean(value) AS v FROM cpu WHERE host = 'a' GROUP BY time(1m), host"
    none = influxql(base, {"cpu": m}).collect()
    assert len(none) == 4  # minutes 0,1,2,5 — no fill by default

    prev = influxql(base + " fill(previous)", {"cpu": m}).orderBy("time").collect()
    assert [r["time"].minute for r in prev] == [0, 1, 2, 3, 4, 5]
    assert prev[3]["v"] == prev[2]["v"] == 34.0  # LOCF

    lin = influxql(base + " fill(linear)", {"cpu": m}).orderBy("time").collect()
    assert lin[3]["v"] == pytest.approx(34 + (99 - 34) / 3)
    assert lin[4]["v"] == pytest.approx(34 + 2 * (99 - 34) / 3)

    filled = influxql(base + " fill(-1)", {"cpu": m}).orderBy("time").collect()
    assert filled[3]["v"] == -1.0 and filled[4]["v"] == -1.0

    nul = influxql(base + " fill(null)", {"cpu": m}).orderBy("time").collect()
    assert nul[3]["v"] is None and len(nul) == 6


def test_fill_spine_pinned_to_where_range(m):
    out = influxql(
        "SELECT mean(value) AS v FROM cpu WHERE host = 'a'"
        " AND time >= '2024-01-01 00:00:00' AND time < '2024-01-01 00:10:00'"
        " GROUP BY time(1m), host fill(null)",
        {"cpu": m},
    )
    # InfluxDB fills the QUERIED range: 10 one-minute buckets, not min..max
    assert out.count() == 10


def test_fill_keeps_a_null_tag_series_observed_buckets(spark):
    """A point without the GROUP BY tag forms its own series (InfluxDB's
    empty tag value): fill() fills only that series' gaps and keeps its
    observed buckets, exactly like fill(none) shows them."""
    pts = spark.createDataFrame(
        [(None, T0, 1.0), (None, T0 + dt.timedelta(minutes=2), 3.0)],
        "tag string, ts timestamp, value double",
    )
    base = "SELECT mean(value) AS v FROM m GROUP BY time(1m), tag"

    def run(q):
        out = influxql(q, {"m": pts}).orderBy("time").collect()
        return [(r["time"].minute, r["tag"], r["v"]) for r in out]

    assert run(base) == [(0, None, 1.0), (2, None, 3.0)]
    assert run(base + " fill(0)") == [
        (0, None, 1.0), (1, None, 0.0), (2, None, 3.0)
    ]
    assert run(base + " fill(previous)") == [
        (0, None, 1.0), (1, None, 1.0), (2, None, 3.0)
    ]


# --- raw transforms / selectors / limit ---

def test_raw_transform_drops_all_null_rows(m):
    out = influxql(
        "SELECT difference(value) AS d FROM cpu GROUP BY host",
        {"cpu": m},
    ).filter(F.col("host") == "a").orderBy("time").collect()
    assert len(out) == 6  # 7 points per series a → first dropped
    assert out[0]["d"] == 1.0


def test_top_bottom_sample(m):
    top = influxql("SELECT top(value, 2) FROM cpu GROUP BY host", {"cpu": m})
    rows = top.orderBy("host", "rank").collect()
    assert [(r["host"], r["top"]) for r in rows] == [
        ("a", 99.0), ("a", 42.0), ("b", 132.0), ("b", 116.0)
    ]
    bot = influxql("SELECT bottom(value, 1) FROM cpu GROUP BY host", {"cpu": m})
    assert {r["bottom"] for r in bot.collect()} == {11.0, 101.0}
    smp = influxql("SELECT sample(value, 3) FROM cpu GROUP BY host", {"cpu": m})
    assert smp.count() == 6


def test_limit_applies_per_series(m):
    out = influxql(
        "SELECT mean(value) AS v FROM cpu GROUP BY time(1m), host LIMIT 2",
        {"cpu": m},
    )
    assert out.count() == 4  # 2 buckets × 2 hosts
    assert out.groupBy("host").count().collect()[0]["count"] == 2


def test_where_regex_and_or(m):
    out = influxql(
        "SELECT count(value) AS c FROM cpu"
        " WHERE host =~ /^a$/ OR value > 130 GROUP BY host",
        {"cpu": m},
    )
    rows = {r["host"]: r["c"] for r in out.collect()}
    assert rows == {"a": 7, "b": 1}


def test_where_now_minus_duration_parses(m):
    # now()-relative bounds must compile (values depend on wall clock)
    out = influxql(
        "SELECT count(value) AS c FROM cpu WHERE time < now() - 1d GROUP BY host",
        {"cpu": m},
    )
    assert out.count() == 2  # all 2024 data is older than now()-1d


def test_arithmetic_on_aggregates(m):
    out = influxql(
        "SELECT sum(value) / count(value) AS avg2, mean(value) AS avg1"
        " FROM cpu GROUP BY host",
        {"cpu": m},
    ).collect()
    for r in out:
        assert r["avg2"] == pytest.approx(r["avg1"])


def test_unknown_measurement(m):
    with pytest.raises(InfluxQLError):
        influxql("SELECT mean(v) FROM nope GROUP BY time(1m)", {"cpu": m})


# --- tz() ---

def test_tz_parse():
    s = parse("SELECT mean(value) FROM cpu GROUP BY time(1h) tz('America/New_York')")
    assert s.tz == "America/New_York"


def test_tz_bucket_alignment_and_rendering(spark):
    # 2024-01-05 03:30 UTC = 2024-01-04 22:30 EST (UTC-5): the local day
    # bucket is Jan 4, not Jan 5
    rows = [
        ("h", dt.datetime(2024, 1, 5, 3, 30), 10.0),
        ("h", dt.datetime(2024, 1, 5, 6, 30), 20.0),  # 01:30 EST Jan 5
    ]
    df = spark.createDataFrame(rows, ["host", "ts", "value"])
    eng = InfluxQLEngine({"cpu": df}, ts_col="ts")
    out = eng.execute(
        "SELECT mean(value) FROM cpu GROUP BY time(1d) tz('America/New_York')"
    ).collect()
    got = {r["time"]: r["mean"] for r in out}
    assert got == {
        dt.datetime(2024, 1, 4): 10.0,
        dt.datetime(2024, 1, 5): 20.0,
    }


def test_tz_dst_aware_day_boundary(spark):
    # US DST starts 2024-03-10: EST (UTC-5) before, EDT (UTC-4) after.
    # 2024-03-11 03:30 UTC = 2024-03-10 23:30 EDT -> local day Mar 10;
    # without tz the UTC day would be Mar 11.
    rows = [("h", dt.datetime(2024, 3, 11, 3, 30), 7.0)]
    df = spark.createDataFrame(rows, ["host", "ts", "value"])
    eng = InfluxQLEngine({"cpu": df}, ts_col="ts")
    out = eng.execute(
        "SELECT mean(value) FROM cpu GROUP BY time(1d) tz('America/New_York')"
    ).collect()
    assert out[0]["time"] == dt.datetime(2024, 3, 10)


def test_tz_where_literal_is_local_wall_clock(spark):
    rows = [
        ("h", dt.datetime(2024, 1, 1, 4, 0), 1.0),   # 23:00 EST Dec 31
        ("h", dt.datetime(2024, 1, 1, 5, 0), 2.0),   # 00:00 EST Jan 1
        ("h", dt.datetime(2024, 1, 1, 6, 0), 3.0),   # 01:00 EST Jan 1
    ]
    df = spark.createDataFrame(rows, ["host", "ts", "value"])
    eng = InfluxQLEngine({"cpu": df}, ts_col="ts")
    out = eng.execute(
        "SELECT value FROM cpu WHERE time >= '2024-01-01 00:00:00' "
        "tz('America/New_York')"
    ).collect()
    # the literal means local midnight = 05:00 UTC -> rows 2 and 3 survive,
    # rendered in wall clock
    assert {(r["time"], r["value"]) for r in out} == {
        (dt.datetime(2024, 1, 1, 0, 0), 2.0),
        (dt.datetime(2024, 1, 1, 1, 0), 3.0),
    }


def test_tz_subquery_single_conversion(spark):
    rows = [
        ("h", dt.datetime(2024, 1, 5, 3, 30), 10.0),   # 22:30 EST Jan 4
        ("h", dt.datetime(2024, 1, 5, 6, 30), 20.0),   # 01:30 EST Jan 5
        ("h", dt.datetime(2024, 1, 5, 7, 30), 40.0),   # 02:30 EST Jan 5
    ]
    df = spark.createDataFrame(rows, ["host", "ts", "value"])
    eng = InfluxQLEngine({"cpu": df}, ts_col="ts")
    out = eng.execute(
        "SELECT max(m) FROM (SELECT mean(value) AS m FROM cpu "
        "GROUP BY time(1h)) GROUP BY time(1d) tz('America/New_York')"
    ).collect()
    got = {r["time"]: r["max"] for r in out}
    # inner hours convert once: 22:00 Jan 4 -> day Jan 4; 01:00/02:00 Jan 5
    assert got == {
        dt.datetime(2024, 1, 4): 10.0,
        dt.datetime(2024, 1, 5): 40.0,
    }


# --- data lifecycle statements ---

def test_delete_where_and_drop_series(spark):
    rows = [
        ("a", T0, 1.0), ("a", T0 + dt.timedelta(hours=1), 2.0),
        ("b", T0, 3.0),
    ]
    df = spark.createDataFrame(rows, ["host", "ts", "value"])
    eng = InfluxQLEngine({"cpu": df}, ts_col="ts")
    eng.execute("DELETE FROM cpu WHERE time < '2024-01-01 00:30:00'")
    left = eng.execute("SELECT value FROM cpu").collect()
    assert sorted(r["value"] for r in left) == [2.0]
    # time predicates are rejected for DROP SERIES
    with pytest.raises(InfluxQLError):
        eng.execute("DROP SERIES FROM cpu WHERE time > '2024-01-01'")

    eng2 = InfluxQLEngine({"cpu": df}, ts_col="ts")
    eng2.execute("DROP SERIES FROM cpu WHERE host = 'a'")
    assert sorted(
        r["value"] for r in eng2.execute("SELECT value FROM cpu").collect()
    ) == [3.0]


def test_show_series_and_drop_measurement(spark):
    df = spark.createDataFrame(
        [("a", "us", T0, 1.0), ("b", "eu", T0, 2.0)],
        ["host", "region", "ts", "value"],
    )
    eng = InfluxQLEngine({"cpu": df, "mem": df}, ts_col="ts")
    keys = sorted(r["key"] for r in eng.execute("SHOW SERIES FROM cpu").collect())
    assert keys == ["cpu,host=a,region=us", "cpu,host=b,region=eu"]
    eng.execute("DROP MEASUREMENT cpu")
    assert [r["name"] for r in eng.execute("SHOW MEASUREMENTS").collect()] == [
        "mem"
    ]


def test_create_drop_database(spark):
    df = spark.createDataFrame([("a", T0, 1.0)], ["host", "ts", "value"])
    eng = InfluxQLEngine({"cpu": df}, ts_col="ts", database="db0")
    eng.execute("CREATE DATABASE db1")
    names = [r["name"] for r in eng.execute("SHOW DATABASES").collect()]
    assert names == ["db0", "db1"]
    eng.execute("DROP DATABASE db1")
    assert [r["name"] for r in eng.execute("SHOW DATABASES").collect()] == ["db0"]


# --- math functions, non_negative_difference, distinct ---

def test_math_raw_and_nested_agg(m):
    eng = _eng(m)
    r = eng.execute(
        "SELECT abs(value) AS a, pow(value, 2) AS p, floor(value) AS fl "
        "FROM cpu WHERE host = 'a'"
    ).orderBy("time").collect()[0]
    assert (r["a"], r["p"], r["fl"]) == (11.0, 121.0, 11.0)
    # math over an aggregate result (abs(mean(v)))
    rows = eng.execute(
        "SELECT abs(mean(value)) AS am FROM cpu GROUP BY time(1m), host"
    ).orderBy("time", "host").collect()
    assert rows[0]["am"] == 11.5  # host a, minute 0: (11+12)/2


def test_math_log_round_semantics(spark):
    df = spark.createDataFrame(
        [("a", T0, 8.0), ("a", T0 + dt.timedelta(seconds=1), -2.5)],
        ["host", "ts", "value"],
    )
    eng = InfluxQLEngine({"m": df}, ts_col="ts")
    rows = eng.execute(
        "SELECT log(value, 2) AS l, round(value) AS r FROM m"
    ).orderBy("time").collect()
    assert rows[0]["l"] == 3.0 and rows[0]["r"] == 8.0
    # InfluxDB round() is half away from zero: -2.5 -> -3
    assert rows[1]["r"] == -3.0


def test_non_negative_difference_drops_negatives(spark):
    vals = [1.0, 5.0, 3.0, 10.0]
    df = spark.createDataFrame(
        [("a", T0 + dt.timedelta(minutes=i), v) for i, v in enumerate(vals)],
        ["host", "ts", "value"],
    )
    eng = InfluxQLEngine({"m": df}, ts_col="ts")
    out = eng.execute(
        "SELECT non_negative_difference(value) AS d FROM m"
    ).orderBy("time").collect()
    # diffs 4, -2, 7 -> negative row dropped entirely (like InfluxDB)
    assert [r["d"] for r in out] == [4.0, 7.0]


def test_count_distinct_and_bare_distinct(m):
    eng = _eng(m)
    r = eng.execute(
        "SELECT count(distinct(value)) AS cd FROM cpu GROUP BY host"
    ).orderBy("host").collect()
    assert [x["cd"] for x in r] == [7, 6]  # host a has the extra 99.0 point
    d = eng.execute("SELECT distinct(value) FROM cpu GROUP BY host").collect()
    assert all(x["time"] == dt.datetime(1970, 1, 1) for x in d)
    a_vals = sorted(x["distinct"] for x in d if x["host"] == "a")
    assert a_vals == [11.0, 12.0, 14.0, 18.0, 26.0, 42.0, 99.0]


def test_distinct_requires_sole_projection(m):
    with pytest.raises(InfluxQLError):
        _eng(m).execute("SELECT distinct(value), value FROM cpu")
    with pytest.raises(InfluxQLError):
        _eng(m).execute("SELECT mean(distinct(value)) FROM cpu")


def test_show_cardinality_family(spark):
    """InfluxQL 1.8 SHOW … [EXACT] CARDINALITY: series / measurement /
    field key / tag key / tag values.  EXACT = countDistinct; the estimated
    variant is the deterministic KMV sketch — exact below k, so it must
    land on the exact value at toy cardinality."""
    df = spark.createDataFrame(
        [("a", "us", T0, 1.0), ("b", "eu", T0, 2.0), ("a", "us", T0, 3.0)],
        ["host", "region", "ts", "value"],
    )
    eng = InfluxQLEngine({"cpu": df, "mem": df}, ts_col="ts")

    def one(sql):
        rows = eng.execute(sql).collect()
        assert len(rows) == 1 and rows[0].__fields__ == ["count"]
        return rows[0]["count"]

    assert one("SHOW SERIES EXACT CARDINALITY FROM cpu") == 2
    assert one("SHOW SERIES CARDINALITY FROM cpu") == 2  # HLL exact here
    assert one("SHOW MEASUREMENT CARDINALITY") == 2
    assert one("SHOW MEASUREMENT EXACT CARDINALITY") == 2
    assert one("SHOW FIELD KEY CARDINALITY FROM cpu") == 1  # value
    assert one("SHOW TAG KEY EXACT CARDINALITY FROM cpu") == 2  # host, region
    assert one(
        "SHOW TAG VALUES EXACT CARDINALITY FROM cpu WITH KEY = host"
    ) == 2
    assert one(
        "SHOW TAG VALUES CARDINALITY FROM cpu WITH KEY = region"
    ) == 2

    # the non-cardinality statements still parse after the new branches
    assert sorted(
        r["key"] for r in eng.execute("SHOW SERIES FROM cpu").collect()
    ) == ["cpu,host=a,region=us", "cpu,host=b,region=eu"]
    assert [r["tagKey"] for r in eng.execute("SHOW TAG KEYS FROM cpu").collect()] == [
        "host", "region"
    ]
    assert [
        r["fieldKey"] for r in eng.execute("SHOW FIELD KEYS FROM cpu").collect()
    ] == ["value"]


def test_select_star_and_agg_star_wildcards(spark):
    """InfluxQL 1.8 wildcards: SELECT * (all tags+fields), mean(*) →
    mean_<field> per field, percentile(*, N) passes extra args through,
    and the expansion routes through the normal executor (GROUP BY time)."""
    df = spark.createDataFrame(
        [
            ("a", T0, 1.0, 10.0),
            ("a", T0, 3.0, 30.0),
            ("b", T0, 5.0, 50.0),
        ],
        ["host", "ts", "value", "load"],
    )
    eng = InfluxQLEngine({"cpu": df}, ts_col="ts")

    star = eng.execute("SELECT * FROM cpu")
    assert set(star.columns) >= {"host", "load", "value"}
    assert star.count() == 3

    m = eng.execute("SELECT mean(*) FROM cpu GROUP BY time(1h), host")
    assert {"mean_value", "mean_load"} <= set(m.columns)
    rows = {r["host"]: r for r in m.collect()}
    assert rows["a"]["mean_value"] == 2.0 and rows["a"]["mean_load"] == 20.0
    assert rows["b"]["mean_value"] == 5.0 and rows["b"]["mean_load"] == 50.0

    p = eng.execute("SELECT percentile(*, 50) FROM cpu GROUP BY time(1h)")
    assert {"percentile_value", "percentile_load"} <= set(p.columns)

    # a bare * mixed with an explicit field is additive, like InfluxDB
    both = eng.execute("SELECT max(*), count(value) AS n FROM cpu GROUP BY time(1h)")
    assert {"max_value", "max_load", "n"} <= set(both.columns)


def test_select_regex_field_selection(spark):
    """InfluxQL 1.8 regex field selection: SELECT /re/ matches field AND tag
    keys; agg(/re/) matches fields only; comma-position regex also lexes."""
    df = spark.createDataFrame(
        [("a", T0, 1.0, 10.0, 5.0)],
        ["host", "ts", "usage_user", "usage_system", "load"],
    )
    eng = InfluxQLEngine({"cpu": df}, ts_col="ts")

    r = eng.execute("SELECT /^usage_/ FROM cpu")
    assert {"usage_user", "usage_system"} <= set(r.columns)
    assert "load" not in r.columns and "host" not in r.columns

    m = eng.execute("SELECT mean(/^usage_/) FROM cpu GROUP BY time(1h)")
    assert {"mean_usage_user", "mean_usage_system"} <= set(m.columns)
    assert "mean_load" not in m.columns

    # tag keys match a bare regex projection
    t = eng.execute("SELECT /host|load/ FROM cpu")
    assert {"host", "load"} <= set(t.columns)

    # regex after a comma in the projection list lexes correctly
    c = eng.execute("SELECT load, /^usage_u/ FROM cpu")
    assert {"load", "usage_user"} <= set(c.columns)

    # arithmetic '/' is unharmed
    d = eng.execute("SELECT load / 2 AS half FROM cpu").collect()
    assert d[0]["half"] == 2.5


def test_estimated_cardinality_above_k_is_deterministic(spark):
    """Past the sketch size the KMV estimate kicks in: within a few % of
    the true cardinality and bit-identical across runs (no HLL++ rsd
    wobble across plans)."""
    df = spark.range(5000).select(
        F.lit("a").alias("host"),
        F.expr("timestamp'2024-01-01'").alias("ts"),
        F.concat(F.lit("u"), F.col("id")).alias("uid"),
        F.lit(1.0).alias("value"),
    )
    eng = InfluxQLEngine({"cpu": df}, ts_col="ts")
    sql = "SHOW TAG VALUES CARDINALITY FROM cpu WITH KEY = uid"
    a = eng.execute(sql).collect()[0]["count"]
    b = eng.execute(sql).collect()[0]["count"]
    assert a == b                      # deterministic
    assert abs(a - 5000) / 5000 < 0.10  # KMV k=1024 ⇒ ~3% rse


def test_cq_registry_survives_engine_restart(spark, m, tmp_path):
    """attach_cq_catalog makes the CQ registry durable (InfluxDB stores
    CQs in the server meta store, not a client session): a CQ created in
    one engine is visible — and runnable — in a fresh engine on the same
    catalog, and DROP persists too."""
    from influxer_spark.catalog import TableCatalog

    cat = TableCatalog(str(tmp_path / "c"))

    def engine():
        e = InfluxQLEngine({"cpu": m}, ts_col="ts")
        e.attach_cq_catalog(cat)
        return e

    a = engine()
    a.execute(
        "CREATE CONTINUOUS QUERY mean1m ON db BEGIN "
        "SELECT mean(value) AS m INTO cpu_1m FROM cpu GROUP BY time(1m), host "
        "END"
    )
    b = engine()
    assert "mean1m" in b.cqs
    ran = b.run_continuous_queries()
    direct = b.execute(
        "SELECT mean(value) AS m FROM cpu GROUP BY time(1m), host"
    )
    assert sorted(map(tuple, ran["mean1m"].collect())) == sorted(
        map(tuple, direct.collect())
    )
    b.execute("DROP CONTINUOUS QUERY mean1m")
    assert "mean1m" not in engine().cqs


def test_select_into_writes_to_catalog_storage(spark, m, tmp_path):
    """With a catalog attached, SELECT … INTO materializes its target as
    committed day partitions (InfluxDB's INTO writes to storage, not a
    session): the written table equals the query result, a CQ rerun
    overwrites its days idempotently, and a fresh engine can read the
    materialization back without re-running anything."""
    from influxer_spark.catalog import TableCatalog

    cat = TableCatalog(str(tmp_path / "c"))
    eng = InfluxQLEngine({"cpu": m}, ts_col="ts")
    eng.attach_cq_catalog(cat)
    out = eng.execute(
        "SELECT mean(value) AS mv INTO cpu_1m FROM cpu GROUP BY time(1m), host"
    )
    want = sorted(map(tuple, out.collect()))
    stored = cat.read_committed(spark, "into_cpu_1m").drop("day")
    got = sorted(map(tuple, stored.select(*out.columns).collect()))
    assert got == want and len(got) > 5

    # rerun (CQ semantics): same days overwritten, no duplicates
    eng.execute(
        "CREATE CONTINUOUS QUERY c1 ON db BEGIN "
        "SELECT mean(value) AS mv INTO cpu_1m FROM cpu GROUP BY time(1m), host "
        "END"
    )
    eng.run_continuous_queries()
    again = cat.read_committed(spark, "into_cpu_1m").drop("day")
    assert sorted(map(tuple, again.select(*out.columns).collect())) == want


def test_unknown_time_zone_is_loud_named_error(spark):
    """tz() with a bad zone name must raise InfluxQLError up front (the
    InfluxDB 'unable to find time zone' analogue) — not a
    ZoneInfoNotFoundError out of _bounds_utc mid-planning or a Spark
    ZoneRulesException at collect time (ADVICE r4)."""
    ev = spark.createDataFrame(
        [("2024-01-01 00:00:00", "a", 1.0)], ["ts", "k", "value"]
    ).withColumn("ts", F.to_timestamp("ts"))
    eng = InfluxQLEngine({"m": ev}, ts_col="ts")
    with pytest.raises(InfluxQLError, match="unknown time zone"):
        eng.execute(
            "SELECT mean(value) AS mv FROM m WHERE"
            " time >= '2024-01-01T00:00:00' AND time < '2024-01-02T00:00:00'"
            " GROUP BY time(1h) fill(0) tz('Mars/Olympus_Mons')"
        )


def test_tz_grid_ok_transition_list_verdicts():
    """_tz_grid_ok now answers from a per-zone precomputed transition
    list (one bounded memo entry per zone, no per-range cache).  Verdicts
    must match the zone-offset facts: whole-hour zones pass at wt=3600,
    half-hour zones fail, no zone's DST instants are UTC-day-aligned, and
    ranges outside the verified 1970–2100 horizon fall to raw."""
    from influxer_spark.influxql_frontend import (
        _TZ_TRANSITIONS,
        _tz_transitions,
        InfluxQLEngine as E,
    )

    lo, hi = 1700000000, 1750000000  # late 2023 .. mid 2025, spans DST flips
    assert E._tz_grid_ok("America/New_York", 3600, lo, hi)
    assert E._tz_grid_ok("America/Santiago", 3600, lo, hi)
    assert not E._tz_grid_ok("Asia/Kolkata", 3600, lo, hi)  # +05:30
    assert E._tz_grid_ok("Asia/Kolkata", 60, lo, hi)  # but whole-minute
    assert not E._tz_grid_ok("America/New_York", 86400, lo, hi)
    assert E._tz_grid_ok("UTC", 86400, lo, hi)
    assert not E._tz_grid_ok("Not/A_Zone", 3600, lo, hi)
    assert not E._tz_grid_ok("America/New_York", 3600, -10, hi)  # pre-1970
    # the memo is bounded: one entry per ZONE, never per range
    n = len(_TZ_TRANSITIONS)
    for lo2 in range(lo, lo + 50):
        E._tz_grid_ok("America/New_York", 3600, lo2, hi)
    assert len(_TZ_TRANSITIONS) == n
    off0, times, offs = _tz_transitions("America/New_York")
    assert off0 == -5 * 3600 and len(times) == len(offs) > 200
    assert list(times) == sorted(times)
    # every recorded transition really flips the offset
    assert all(
        offs[i] != (offs[i - 1] if i else off0) for i in range(len(offs))
    )
