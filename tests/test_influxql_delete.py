"""InfluxQL DELETE / DROP MEASUREMENT against PERSISTED tier tables:
whole-bucket predicates map to catalog metadata drops or row-level COW
deletes; anything finer is rejected with the fix named."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from influxer_spark.catalog import TableCatalog
from influxer_spark.influxql_frontend import InfluxQLEngine, InfluxQLError
from influxer_spark.operators.refresh import build_point_tiers


def _points(spark):
    rows = []
    for d in (1, 2, 3):
        for h in (0, 6, 12):
            for k in ("a", "b"):
                rows.append((f"2024-01-0{d} {h:02d}:30:00", k, float(d * 10 + h)))
    return spark.createDataFrame(rows, ["ts", "event_type", "value"]).withColumn(
        "ts", F.to_timestamp("ts")
    )


def _build(spark, tmp_path):
    ev = _points(spark)
    cat = TableCatalog(str(tmp_path / "cat"))
    build_point_tiers(spark, cat, ev, "ts", ["event_type"], "value")
    eng = InfluxQLEngine({"m": ev}, ts_col="ts")
    eng.register_tiered("m", cat, key_cols=("event_type",))
    return ev, cat, eng


def test_time_delete_is_metadata_only_and_consistent(spark, tmp_path):
    ev, cat, eng = _build(spark, tmp_path)
    res = {r["tier_table"]: r["rows_deleted"] for r in eng.execute_statement(
        "DELETE FROM m WHERE time < '2024-01-02'"
    ).collect()}
    # metadata-only path: no scan ran, so the row count is reported unknown
    assert res["rollup_1d"] == -1 and set(res) >= {"rollup_1m", "rollup_1h"}
    assert sorted(cat.committed_partitions("rollup_1d")) == [
        "2024-01-02", "2024-01-03"]
    # tier-served queries and the lazy raw frame agree after the delete
    got = {(r[0], r[1]): r[2] for r in eng.execute(
        "SELECT count(value) AS cnt FROM m GROUP BY time(1d), event_type"
    ).collect()}
    raw = InfluxQLEngine(
        {"m": ev.filter("ts >= '2024-01-02'")}, ts_col="ts"
    ).execute("SELECT count(value) AS cnt FROM m GROUP BY time(1d), event_type")
    assert got == {(r[0], r[1]): r[2] for r in raw.collect()}
    assert all(b.year == 2024 and b.day >= 2 for b, _ in got)


def test_tag_delete_rewrites_tiers(spark, tmp_path):
    ev, cat, eng = _build(spark, tmp_path)
    res = {r["tier_table"]: r["rows_deleted"] for r in eng.execute_statement(
        "DELETE FROM m WHERE event_type = 'a'"
    ).collect()}
    assert res["rollup_1h"] > 0  # row-level COW path, scanned and counted
    rows = eng.execute(
        "SELECT count(value) AS cnt FROM m GROUP BY time(1d), event_type"
    ).collect()
    assert rows and all(r["event_type"] == "b" for r in rows)
    # tag+time conjunction also works and prunes to the day range
    res2 = eng.execute_statement(
        "DELETE FROM m WHERE event_type = 'b' AND time >= '2024-01-03'"
    )
    assert eng.execute(
        "SELECT count(value) AS cnt FROM m GROUP BY time(1d), event_type"
    ).count() == 2  # b on days 1-2 only


def test_unsupported_tiered_predicates_fail_loudly(spark, tmp_path):
    _, _, eng = _build(spark, tmp_path)
    with pytest.raises(InfluxQLError, match="day boundaries"):
        eng.execute_statement("DELETE FROM m WHERE time < '2024-01-02 06:00:00'")
    with pytest.raises(InfluxQLError, match="half-open"):
        eng.execute_statement("DELETE FROM m WHERE time <= '2024-01-02'")
    with pytest.raises(InfluxQLError, match="AND-only"):
        eng.execute_statement(
            "DELETE FROM m WHERE event_type = 'a' OR event_type = 'b'")
    with pytest.raises(InfluxQLError, match="tag predicates"):
        eng.execute_statement("DELETE FROM m WHERE value > 5")


def test_tag_delete_rejected_before_any_commit_when_a_tier_lacks_the_tag(
    spark, tmp_path
):
    """A sketch tier keyed on a SUBSET of the measurement tags aggregates
    across the missing tag, so a tag DELETE cannot be expressed there.
    The statement must fail BEFORE any tier commits — not after the
    rollup tiers were already rewritten (family drift)."""
    from influxer_spark.operators.kmv import build_kmv_tiers

    ev, cat, eng = _build(spark, tmp_path)
    # kmv tier keyed on NOTHING: its rows merge all event_types
    build_kmv_tiers(spark, cat, ev, "ts", [], "event_type", k=16)
    snaps_before = {t: cat.snapshots(t)[-1]
                    for t in ("rollup_1m", "rollup_1h", "rollup_1d")}
    with pytest.raises(InfluxQLError, match="does not carry"):
        eng.execute_statement("DELETE FROM m WHERE event_type = 'a'")
    # no tier moved: the rollup snapshots are untouched and 'a' survives
    for t, s in snaps_before.items():
        assert cat.snapshots(t)[-1] == s
    assert eng.execute(
        "SELECT count(value) AS cnt FROM m GROUP BY time(1d), event_type"
    ).filter("event_type = 'a'").count() > 0


def test_trend_inner_aggregate_is_tier_served(spark, tmp_path):
    """trend(mean(value)) on a registered tiered measurement desugars its
    inner GROUP BY time(1h) through the continuous-aggregate router: the
    plan reads the rollup_1h tier, and the answer equals the raw path."""
    ev, cat, eng = _build(spark, tmp_path)
    df = eng.execute(
        "SELECT trend(mean(value)) AS drift FROM m GROUP BY time(1h), event_type"
    )
    # the raw path scans only the in-memory frame (Scan ExistingRDD); a
    # parquet FileScan in the plan proves the tier tables are read (the
    # tier path string itself gets elided under pytest's long tmp paths)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "FileScan parquet" in plan
    raw = InfluxQLEngine({"m": ev}, ts_col="ts").execute(
        "SELECT trend(mean(value)) AS drift FROM m GROUP BY time(1h), event_type"
    )
    key = ["event_type", "drift", "drift_tau", "drift_s", "drift_n"]
    assert sorted(tuple(r[k] for k in key) for r in df.collect()) == \
        sorted(tuple(r[k] for k in key) for r in raw.collect())


def test_drop_measurement_purges_tiers(spark, tmp_path):
    _, cat, eng = _build(spark, tmp_path)
    eng.execute_statement("DROP MEASUREMENT m")
    assert cat.committed_partitions("rollup_1m") == {}
    assert cat.committed_partitions("rollup_1d") == {}
    assert "m" not in eng.tiered
    with pytest.raises(InfluxQLError, match="unknown measurement"):
        eng.execute("SELECT count(value) FROM m GROUP BY time(1h)")
    # history survives until expire_snapshots (time-travelable drop)
    snaps = cat.snapshots("rollup_1d")
    assert len(snaps) >= 2
    assert cat.committed_partitions("rollup_1d", as_of=snaps[-2]) != {}


def test_delete_rewrites_ohlc_tiers_too(spark, tmp_path):
    """A tiered DELETE must hit the candlestick tables with the rest of
    the family — a takedown that cleared rollup_* but left ohlc_* would
    keep serving the deleted series through first()/last()."""
    from influxer_spark.operators.rollup import build_ohlc_tiers

    ev, cat, eng = _build(spark, tmp_path)
    build_ohlc_tiers(spark, cat, ev, "ts", ["event_type"], "value")
    res = {r["tier_table"]: r["rows_deleted"] for r in eng.execute_statement(
        "DELETE FROM m WHERE event_type = 'a'"
    ).collect()}
    assert res.get("ohlc_1h", 0) > 0
    left = cat.read(spark, "ohlc_1h").select("event_type").distinct().collect()
    assert [r["event_type"] for r in left] == ["b"]
    # tier-served first/last reflects the delete
    eng2 = InfluxQLEngine({"m": ev.filter("event_type != 'a'")}, ts_col="ts")
    eng2.register_tiered("m", cat, key_cols=("event_type",), ohlc=True)
    rows = eng2.execute(
        "SELECT first(value) AS o, last(value) AS c"
        " FROM m GROUP BY time(1d), event_type"
    ).collect()
    assert rows and all(r["event_type"] == "b" for r in rows)


def test_time_delete_drops_archive_partitions_too(spark, tmp_path):
    """A day-aligned DELETE drops the archive tables' partitions with the
    tiers': the archive fallback serves count/sum/mean when no rollup
    partition covers a range, so archive days left behind would bring
    the deleted days back."""
    from influxer_spark.datagen import generate_pages
    from influxer_spark.extract import (
        pages_to_points, with_crawl_metrics, with_extracted,
    )
    from influxer_spark.pipeline import run_pipeline

    pages = generate_pages(str(tmp_path / "pg"), n_rows=1500, seed=42, days=3)
    root = str(tmp_path / "cat")
    run_pipeline(spark, pages, root)
    cat = TableCatalog(root)
    d0, d1, _ = sorted(cat.committed_partitions("rollup_1d"))
    points = pages_to_points(
        with_crawl_metrics(with_extracted(spark.read.parquet(pages)))
    )
    eng = InfluxQLEngine({"pages": points}, ts_col="warc_ts")
    eng.register_tiered("pages", cat, key_cols=("url", "metric"))
    res = {r["tier_table"] for r in eng.execute_statement(
        f"DELETE FROM pages WHERE time < '{d1}'"
    ).collect()}
    assert {"rollup_1m_gorilla", "rollup_1m_counts"} <= res
    for table in ("rollup_1m_gorilla", "rollup_1m_counts"):
        assert d0 not in cat.committed_partitions(table)
    q = (f"SELECT count(value) FROM pages WHERE time >= '{d0}' "
         f"AND time < '{d1}' GROUP BY time(1h), metric")
    raw = InfluxQLEngine(
        {"pages": points.filter(F.col("warc_ts") >= d1)}, ts_col="warc_ts"
    )
    assert raw.execute(q).count() == 0
    # nothing committed is left in range: the statement routes raw instead
    # of serving the deleted day from the archive
    assert eng.execute(f"EXPLAIN {q}").collect()[0]["plan"] == (
        "route: raw — no committed rollup_1h partitions in range")
    assert eng.execute(q).count() == 0


def test_day_delete_routes_the_emptied_range_raw(spark, tmp_path):
    """After a day-aligned DELETE no tier partition meets the deleted day,
    so a statement over it routes raw (the raw frame is registered) and
    answers as the raw engine does, instead of failing on the gap."""
    ev, cat, eng = _build(spark, tmp_path)
    eng.execute_statement("DELETE FROM m WHERE time < '2024-01-02'")
    q = ("SELECT count(value) AS c FROM m WHERE time >= '2024-01-01' "
         "AND time < '2024-01-02' GROUP BY time(6h) fill(0)")
    assert eng.execute(f"EXPLAIN {q}").collect()[0]["plan"] == (
        "route: raw — no committed rollup_1h partitions in range")
    raw = InfluxQLEngine(
        {"m": ev.filter("ts >= '2024-01-02'")}, ts_col="ts"
    ).execute(q)
    got = sorted(tuple(r) for r in eng.execute(q).collect())
    assert got == sorted(tuple(r) for r in raw.collect())
    # the surviving days still serve from the tiers
    assert eng.execute(
        "EXPLAIN SELECT count(value) FROM m WHERE time >= '2024-01-02' "
        "AND time < '2024-01-03' GROUP BY time(6h)"
    ).collect()[0]["plan"].startswith("route: rollup — rollup_1h")


def test_tag_delete_rewrites_the_archives(spark, tmp_path):
    """A tag-predicate DELETE reaches the archives through series_keys:
    no archive row keeps the deleted series, so once retention expires the
    rollups the archive fallback does not serve it again."""
    from influxer_spark.datagen import generate_pages
    from influxer_spark.extract import (
        pages_to_points, with_crawl_metrics, with_extracted,
    )
    from influxer_spark.pipeline import run_pipeline

    pages = generate_pages(str(tmp_path / "pg"), n_rows=1500, seed=42, days=2)
    root = str(tmp_path / "cat")
    run_pipeline(spark, pages, root)
    cat = TableCatalog(root)
    points = pages_to_points(
        with_crawl_metrics(with_extracted(spark.read.parquet(pages)))
    )

    def archived_metrics(table):
        return {
            r[0] for r in cat.read_committed(spark, table)
            .select(F.element_at("series_keys", 3)).distinct().collect()
        }

    victim = sorted(archived_metrics("rollup_1m_counts"))[0]
    tables = ("rollup_1m", "rollup_1h", "rollup_1d",
              "rollup_1m_gorilla", "rollup_1m_counts")
    before = {t: cat.current_snapshot(t) for t in tables}
    # rejected before any commit: a tag outside the keys, and key columns
    # that do not map onto the archives' series_keys
    eng = InfluxQLEngine({"pages": points}, ts_col="warc_ts")
    eng.register_tiered("pages", cat, key_cols=("url", "metric"))
    with pytest.raises(InfluxQLError, match="tag predicates on"):
        eng.execute_statement("DELETE FROM pages WHERE lang = 'en'")
    short = InfluxQLEngine({"pages": points}, ts_col="warc_ts")
    short.register_tiered("pages", cat, key_cols=("metric",))
    with pytest.raises(InfluxQLError, match="keys series by 2 tag"):
        short.execute_statement(f"DELETE FROM pages WHERE metric = '{victim}'")
    assert {t: cat.current_snapshot(t) for t in tables} == before

    eng = InfluxQLEngine({"pages": points}, ts_col="warc_ts")
    eng.register_tiered("pages", cat, key_cols=("url", "metric"))
    res = {r["tier_table"]: r["rows_deleted"] for r in eng.execute_statement(
        f"DELETE FROM pages WHERE metric = '{victim}'"
    ).collect()}
    assert res["rollup_1m_gorilla"] > 0 and res["rollup_1m_counts"] > 0
    for table in ("rollup_1m_gorilla", "rollup_1m_counts"):
        kept = archived_metrics(table)
        assert kept and victim not in kept, table

    # retention expires the rollups; the archive answers count/sum/mean
    for table in ("rollup_1m", "rollup_1h", "rollup_1d"):
        for day in sorted(cat.committed_partitions(table)):
            cat.drop_partition(table, day, reason="retention")
    cold = InfluxQLEngine({}, ts_col="warc_ts")  # tier-only measurement
    cold.register_tiered("pages", cat, key_cols=("url", "metric"))
    rows = cold.execute(
        "SELECT count(value) AS c FROM pages GROUP BY time(1h), metric"
    ).collect()
    assert rows and victim not in {r["metric"] for r in rows}
