"""Invalidation-driven tier refresh (operators/refresh.py +
pipeline.refresh_pipeline): late appends, deletes (min/max retraction),
no-op detection, orphan drops, time travel across a refresh.
"""

from __future__ import annotations

import shutil

import pytest
from pyspark.sql import functions as F

from influxer_spark.catalog import TableCatalog
from influxer_spark.operators import rollup as R
from influxer_spark.operators.refresh import (
    build_point_tiers,
    partition_deltas,
    refresh_point_tiers,
    source_day_counts,
)

KEYS = ["event_type"]


@pytest.fixture()
def events(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/events.parquet")


def _tier_rows(df):
    """Canonical comparable rows: cents-quantized sums, sorted."""
    return sorted(
        (r["bucket"], r["event_type"], r["cnt"],
         int(round(r["sum_v"] * 100)), r["min_v"], r["max_v"])
        for r in df.select(
            "bucket", "event_type", "cnt", "sum_v", "min_v", "max_v"
        ).collect()
    )


def _direct_1h(ev):
    return R.rollup(ev, "ts", KEYS, "value", "1h")


def test_build_point_tiers_matches_direct_rollup(spark, events, tmp_path):
    cat = TableCatalog(str(tmp_path / "cat"))
    days = build_point_tiers(spark, cat, events, "ts", KEYS, "value")
    assert len(days) == 30
    got = _tier_rows(cat.read(spark, "rollup_1h"))
    assert got == _tier_rows(_direct_1h(events))


def test_refresh_detects_appends_and_new_days(spark, events, tmp_path):
    cat = TableCatalog(str(tmp_path / "cat"))
    days = sorted(source_day_counts(events, "ts"))
    last, mid = days[-1], days[len(days) // 2]
    day = F.date_format("ts", "yyyy-MM-dd")
    # initial crawl state: the last day hasn't landed yet, and a deterministic
    # third of one mid day is missing (late re-crawl will backfill it)
    initial = events.filter(
        (day != last) & ~((day == mid) & (F.pmod(F.crc32(F.col("ts").cast("string")), F.lit(3)) == 0))
    )
    build_point_tiers(spark, cat, initial, "ts", KEYS, "value")
    snap_before = cat.current_snapshot("rollup_1h")

    res = refresh_point_tiers(spark, cat, events, "ts", KEYS, "value")
    assert res["deltas"][mid] == "stale"
    assert res["deltas"][last] == "new"
    assert res["dropped"] == []
    # only the changed region recomputed
    assert res["recomputed"] == sorted([mid, last])
    assert set(res["deltas"]) == {mid, last}
    # refreshed catalog now equals a from-scratch build over the full source
    assert _tier_rows(cat.read(spark, "rollup_1h")) == _tier_rows(_direct_1h(events))
    # the pre-refresh tier version is still time-travelable
    old = cat.read_committed(spark, "rollup_1h", as_of=snap_before)
    assert _tier_rows(old) == _tier_rows(_direct_1h(initial))


def test_refresh_deletes_retract_min_max(spark, events, tmp_path):
    """The reason refresh is region-RECOMPUTE: a deleted day maximum must
    disappear from the tier row, which no delta-merge can express."""
    cat = TableCatalog(str(tmp_path / "cat"))
    build_point_tiers(spark, cat, events, "ts", KEYS, "value")
    # takedown: delete the top-valued 10% of rows (deterministic threshold) —
    # guaranteed to retract many bucket maxima
    cut = events.approxQuantile("value", [0.9], 0.0)[0]
    remaining = events.filter(F.col("value") <= cut)
    res = refresh_point_tiers(spark, cat, remaining, "ts", KEYS, "value")
    assert res["recomputed"]  # every day lost rows
    assert _tier_rows(cat.read(spark, "rollup_1h")) == _tier_rows(_direct_1h(remaining))


def test_refresh_noop_commits_nothing(spark, events, tmp_path):
    cat = TableCatalog(str(tmp_path / "cat"))
    build_point_tiers(spark, cat, events, "ts", KEYS, "value")
    snaps = {t: cat.current_snapshot(f"rollup_{t}") for t in ("1m", "1h", "1d")}
    res = refresh_point_tiers(spark, cat, events, "ts", KEYS, "value")
    assert res["deltas"] == {} and res["recomputed"] == [] and res["dropped"] == []
    assert {t: cat.current_snapshot(f"rollup_{t}") for t in ("1m", "1h", "1d")} == snaps


def test_refresh_orphaned_day_dropped_with_time_travel(spark, events, tmp_path):
    cat = TableCatalog(str(tmp_path / "cat"))
    build_point_tiers(spark, cat, events, "ts", KEYS, "value")
    snap_before = cat.current_snapshot("rollup_1h")
    days = sorted(source_day_counts(events, "ts"))
    gone = days[0]
    remaining = events.filter(F.date_format("ts", "yyyy-MM-dd") != gone)
    res = refresh_point_tiers(spark, cat, remaining, "ts", KEYS, "value")
    assert res["dropped"] == [gone]
    assert res["recomputed"] == []  # other days' counts unchanged
    for tier in ("1m", "1h", "1d"):
        assert gone not in cat.committed_partitions(f"rollup_{tier}")
    # dropped partition remains readable via time travel until expiry
    old = cat.read_committed(spark, "rollup_1h", as_of=snap_before)
    assert gone in {
        r["d"] for r in old.select(F.date_format("bucket", "yyyy-MM-dd").alias("d")).distinct().collect()
    }


def test_partition_deltas_classification_pure():
    committed = {
        "2024-01-01": {"counters": {"rows_in": 10}},
        "2024-01-02": {"counters": {"rows_in": 10}},
        "2024-01-03": {"counters": {"rows_in": 10}},
    }
    src = {"2024-01-01": 10, "2024-01-02": 13, "2024-01-04": 4}
    assert partition_deltas(committed, src) == {
        "2024-01-02": "stale",
        "2024-01-03": "orphaned",
        "2024-01-04": "new",
    }


def test_refresh_pipeline_pages_end_to_end(spark, tmp_path):
    """Pages-level refresh: a late file lands in the pages dir after the
    initial run; refresh recomputes only the changed days and the catalog
    ends identical to a from-scratch run over the full source."""
    from influxer_spark.datagen import generate_pages
    from influxer_spark.pipeline import refresh_pipeline, run_pipeline

    # read the DIRECTORY so a late file can land beside the initial one
    src = str(tmp_path / "pg")
    generate_pages(src, n_rows=900, seed=11, days=2)
    late = generate_pages(str(tmp_path / "late"), n_rows=300, seed=12, days=2)

    root = str(tmp_path / "cat")
    run_pipeline(spark, src, root, encode_gorilla=True)

    # the re-crawl lands: a new parquet file appears in the source dir
    shutil.copy(late, f"{src}/late.parquet")

    res = refresh_pipeline(spark, src, root)
    assert res.days_processed  # the overlapping days went stale

    fresh_root = str(tmp_path / "fresh")
    run_pipeline(spark, src, fresh_root, encode_gorilla=True)
    refreshed, fresh = TableCatalog(root), TableCatalog(fresh_root)

    def _rows(cat):  # pipeline tiers key on (url, metric)
        return sorted(
            (r["bucket"], r["url"], r["metric"], r["cnt"],
             int(round(r["sum_v"] * 100)), r["min_v"], r["max_v"])
            for r in cat.read(spark, "rollup_1h").collect()
        )

    assert _rows(refreshed) == _rows(fresh)
    # gorilla sink refreshed too (same committed days)
    assert sorted(refreshed.committed_partitions("rollup_1m_gorilla")) == sorted(
        fresh.committed_partitions("rollup_1m_gorilla")
    )
    # second refresh is a no-op
    res2 = refresh_pipeline(spark, src, root)
    assert res2.days_processed == [] and res2.counters == {}


def test_refresh_does_not_resurrect_ttl_expired_days(spark, events, tmp_path):
    """A retention-expired day classifies 'new' on the next refresh (source
    rows, no commit) — the ttl guard must skip it, or refresh would undo
    retention.  force_days overrides the guard."""
    cat = TableCatalog(str(tmp_path / "cat"))
    build_point_tiers(spark, cat, events, "ts", KEYS, "value")
    days = sorted(source_day_counts(events, "ts"))
    expired = days[0]
    for tier in ("1m", "1h", "1d"):
        assert cat.drop_partition(
            f"rollup_{tier}", expired, reason="ttl 30d (cutoff test)"
        )

    res = refresh_point_tiers(spark, cat, events, "ts", KEYS, "value")
    assert res["deltas"][expired] == "expired"
    assert expired not in res["recomputed"]
    assert expired not in cat.committed_partitions("rollup_1h")

    forced = refresh_point_tiers(
        spark, cat, events, "ts", KEYS, "value", force_days=[expired]
    )
    assert expired in forced["recomputed"]
    assert expired in cat.committed_partitions("rollup_1h")


def test_refresh_rebuilds_kmv_sketch_tiers(spark, tmp_path):
    """KMV tiers built beside the rollups must be rebuilt for refreshed
    days — a refresh that skipped them would serve stale distinct counts.
    Sketches are deterministic md5 k-mins, so refreshed == from-scratch
    exactly."""
    from influxer_spark.datagen import generate_pages
    from influxer_spark.extract import (
        pages_to_points,
        with_crawl_metrics,
        with_extracted,
    )
    from influxer_spark.operators.kmv import build_kmv_tiers
    from influxer_spark.pipeline import refresh_pipeline, run_pipeline

    src = str(tmp_path / "pg")
    generate_pages(src, n_rows=700, seed=51, days=2)
    late = generate_pages(str(tmp_path / "late"), n_rows=300, seed=52, days=2)

    def _points(path):
        return pages_to_points(
            with_crawl_metrics(with_extracted(spark.read.parquet(path)))
        )

    root = str(tmp_path / "cat")
    run_pipeline(spark, src, root, encode_gorilla=False)
    cat = TableCatalog(root)
    build_kmv_tiers(spark, cat, _points(src), "warc_ts", ["metric"], "url", k=32)

    shutil.copy(late, f"{src}/late.parquet")
    res = refresh_pipeline(spark, src, root)
    assert res.days_processed

    fresh_root = str(tmp_path / "fresh")
    run_pipeline(spark, src, fresh_root, encode_gorilla=False)
    fresh = TableCatalog(fresh_root)
    build_kmv_tiers(spark, fresh, _points(src), "warc_ts", ["metric"], "url", k=32)

    def _sketches(c):
        return sorted(
            (r["bucket"], r["metric"], tuple(r["hashes"]))
            for r in c.read(spark, "kmv_1d").select(
                "bucket", "metric", "hashes"
            ).collect()
        )

    assert _sketches(cat) == _sketches(fresh)


def test_refresh_rebuilds_kmv_tiers_pinned_with_empty_keys(spark, tmp_path):
    """A family pinned with NO key columns (one sketch per bucket) is still
    built and must still be rebuilt: a pinned ``[]`` is a value, not a
    missing pin."""
    from influxer_spark.datagen import generate_pages
    from influxer_spark.extract import (
        pages_to_points,
        with_crawl_metrics,
        with_extracted,
    )
    from influxer_spark.operators.kmv import build_kmv_tiers
    from influxer_spark.pipeline import refresh_pipeline, run_pipeline

    src = str(tmp_path / "pg")
    generate_pages(src, n_rows=700, seed=53, days=2)
    late = generate_pages(str(tmp_path / "late"), n_rows=300, seed=54, days=2)

    def _points(path):
        return pages_to_points(
            with_crawl_metrics(with_extracted(spark.read.parquet(path)))
        )

    root = str(tmp_path / "cat")
    run_pipeline(spark, src, root, encode_gorilla=False)
    cat = TableCatalog(root)
    build_kmv_tiers(spark, cat, _points(src), "warc_ts", [], "url", k=32)

    shutil.copy(late, f"{src}/late.parquet")
    res = refresh_pipeline(spark, src, root)
    assert res.days_processed

    fresh_root = str(tmp_path / "fresh")
    run_pipeline(spark, src, fresh_root, encode_gorilla=False)
    fresh = TableCatalog(fresh_root)
    build_kmv_tiers(spark, fresh, _points(src), "warc_ts", [], "url", k=32)

    def _sketches(c):
        return sorted(
            (r["bucket"], tuple(r["hashes"]))
            for r in c.read(spark, "kmv_1d").select("bucket", "hashes").collect()
        )

    assert _sketches(cat) == _sketches(fresh)


def test_refresh_rebuilds_hdr_sketch_tiers(spark, tmp_path):
    """HDR quantile-sketch tiers built beside the rollups must be rebuilt
    for refreshed days — stale sketches would serve wrong percentiles.
    Counter vectors are deterministic, so refreshed == from-scratch
    exactly."""
    from influxer_spark.datagen import generate_pages
    from influxer_spark.extract import (
        pages_to_points,
        with_crawl_metrics,
        with_extracted,
    )
    from influxer_spark.operators.hdrsketch import build_hdr_tiers
    from influxer_spark.pipeline import refresh_pipeline, run_pipeline

    src = str(tmp_path / "pg")
    generate_pages(src, n_rows=700, seed=61, days=2)
    late = generate_pages(str(tmp_path / "late"), n_rows=300, seed=62, days=2)

    def _points(path):
        return pages_to_points(
            with_crawl_metrics(with_extracted(spark.read.parquet(path)))
        )

    root = str(tmp_path / "cat")
    run_pipeline(spark, src, root, encode_gorilla=False)
    cat = TableCatalog(root)
    build_hdr_tiers(spark, cat, _points(src), "warc_ts", ["metric"], "value")

    shutil.copy(late, f"{src}/late.parquet")
    res = refresh_pipeline(spark, src, root)
    assert res.days_processed

    fresh_root = str(tmp_path / "fresh")
    run_pipeline(spark, src, fresh_root, encode_gorilla=False)
    fresh = TableCatalog(fresh_root)
    build_hdr_tiers(
        spark, fresh, _points(src), "warc_ts", ["metric"], "value"
    )

    def _sketches(c):
        return sorted(
            (r["bucket"], r["metric"], r["idx"], r["cnt"])
            for r in c.read(spark, "hdr_1d").select(
                "bucket", "metric", "idx", "cnt"
            ).collect()
        )

    assert _sketches(cat) == _sketches(fresh)


def test_refresh_rebuilds_sumsq_tiers(spark, tmp_path):
    """Power-sum (variance/stddev) tiers must be rebuilt for refreshed
    days — stale S1/S2 would silently skew tier-served stddev.  The sums
    are exact BIGINTs, so refreshed == from-scratch bit-for-bit."""
    from influxer_spark.datagen import generate_pages
    from influxer_spark.extract import (
        pages_to_points,
        with_crawl_metrics,
        with_extracted,
    )
    from influxer_spark.operators.rollup import build_sumsq_tiers
    from influxer_spark.pipeline import refresh_pipeline, run_pipeline

    src = str(tmp_path / "pg")
    generate_pages(src, n_rows=700, seed=63, days=2)
    late = generate_pages(str(tmp_path / "late"), n_rows=300, seed=64, days=2)

    def _points(path):
        return pages_to_points(
            with_crawl_metrics(with_extracted(spark.read.parquet(path)))
        )

    root = str(tmp_path / "cat")
    run_pipeline(spark, src, root, encode_gorilla=False)
    cat = TableCatalog(root)
    build_sumsq_tiers(spark, cat, _points(src), "warc_ts", ["metric"], "value")

    shutil.copy(late, f"{src}/late.parquet")
    res = refresh_pipeline(spark, src, root)
    assert res.days_processed

    fresh_root = str(tmp_path / "fresh")
    run_pipeline(spark, src, fresh_root, encode_gorilla=False)
    fresh = TableCatalog(fresh_root)
    build_sumsq_tiers(
        spark, fresh, _points(src), "warc_ts", ["metric"], "value"
    )

    def _sums(c):
        return sorted(
            (r["bucket"], r["metric"], r["cnt"], r["s1"], r["s2"])
            for r in c.read(spark, "sumsq_1d").select(
                "bucket", "metric", "cnt", "s1", "s2"
            ).collect()
        )

    assert _sums(cat) == _sums(fresh)


def test_read_rollup_as_of_pre_refresh_snapshot(spark, events, tmp_path):
    """Time travel on the READ path: after a refresh lands late data, the
    same read_rollup call with as_of = the pre-refresh snapshot answers
    from the OLD tier version — the dashboard as it stood before the
    re-crawl — while the default read sees the refreshed truth."""
    from influxer_spark.operators.refresh import refresh_point_tiers
    from influxer_spark.query import read_rollup

    cat = TableCatalog(str(tmp_path / "cat"))
    days = sorted(source_day_counts(events, "ts"))
    day = F.date_format("ts", "yyyy-MM-dd")
    initial = events.filter(day != days[-1])
    build_point_tiers(spark, cat, initial, "ts", KEYS, "value")
    pre = cat.current_snapshot("rollup_1h")
    refresh_point_tiers(spark, cat, events, "ts", KEYS, "value")
    assert cat.current_snapshot("rollup_1h") > pre
    now_rows = _tier_rows(
        read_rollup(spark, cat, 3600, key_cols=KEYS, tier="1h")
    )
    old_rows = _tier_rows(
        read_rollup(spark, cat, 3600, key_cols=KEYS, tier="1h", as_of=pre)
    )
    assert now_rows == _tier_rows(_direct_1h(events))
    assert old_rows == _tier_rows(_direct_1h(initial))
    assert old_rows != now_rows


def test_refresh_rebuilds_ohlc_tiers(spark, tmp_path):
    """Candlestick tiers must be rebuilt for refreshed days — stale
    open/close would silently skew tier-served first()/last().  Every
    column is an existing value or timestamp selected by one total order,
    so refreshed == from-scratch bit-for-bit."""
    from influxer_spark.datagen import generate_pages
    from influxer_spark.extract import (
        pages_to_points,
        with_crawl_metrics,
        with_extracted,
    )
    from influxer_spark.operators.rollup import build_ohlc_tiers
    from influxer_spark.pipeline import refresh_pipeline, run_pipeline

    src = str(tmp_path / "pg")
    generate_pages(src, n_rows=700, seed=65, days=2)
    late = generate_pages(str(tmp_path / "late"), n_rows=300, seed=66, days=2)

    def _points(path):
        return pages_to_points(
            with_crawl_metrics(with_extracted(spark.read.parquet(path)))
        )

    root = str(tmp_path / "cat")
    run_pipeline(spark, src, root, encode_gorilla=False)
    cat = TableCatalog(root)
    build_ohlc_tiers(spark, cat, _points(src), "warc_ts", ["metric"], "value")

    shutil.copy(late, f"{src}/late.parquet")
    res = refresh_pipeline(spark, src, root)
    assert res.days_processed

    fresh_root = str(tmp_path / "fresh")
    run_pipeline(spark, src, fresh_root, encode_gorilla=False)
    fresh = TableCatalog(fresh_root)
    build_ohlc_tiers(
        spark, fresh, _points(src), "warc_ts", ["metric"], "value"
    )

    def _candles(c):
        return sorted(
            (r["bucket"], r["metric"], r["open_t"], r["open_v"], r["high_v"],
             r["low_v"], r["close_t"], r["close_v"], r["cnt"])
            for r in c.read(spark, "ohlc_1d").collect()
        )

    assert _candles(cat) == _candles(fresh)
