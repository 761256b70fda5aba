"""InfluxQL → continuous-aggregate routing: GROUP BY time() queries on a
registered tiered measurement are served from materialized rollup tiers
(exact vs raw recompute), with fallback to the raw table for semantics the
partials can't answer."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from influxer_spark.catalog import TableCatalog
from influxer_spark.datagen import generate_pages
from influxer_spark.extract import pages_to_points, with_crawl_metrics, with_extracted
from influxer_spark.influxql_frontend import InfluxQLEngine, InfluxQLError
from influxer_spark.pipeline import run_pipeline


@pytest.fixture(scope="module")
def built(spark, tmp_path_factory):
    d = tmp_path_factory.mktemp("tiered")
    pages = generate_pages(str(d / "pg"), n_rows=3000, seed=42, days=3)
    root = str(d / "cat")
    run_pipeline(spark, pages, root, encode_gorilla=False)
    points = pages_to_points(
        with_crawl_metrics(with_extracted(spark.read.parquet(pages)))
    )
    return points, TableCatalog(root)


def _engines(points, cat):
    raw = InfluxQLEngine({"pages": points}, ts_col="warc_ts")
    tiered = InfluxQLEngine({"pages": points}, ts_col="warc_ts")
    tiered.register_tiered("pages", cat, key_cols=("url", "metric"))
    return raw, tiered


def test_tier_served_matches_raw_recompute(built):
    points, cat = built
    raw, tiered = _engines(points, cat)
    q = (
        "SELECT count(value) AS cnt, min(value) AS mn, max(value) AS mx "
        "FROM pages GROUP BY time(4h), metric"
    )
    want = {tuple(r[:2]): tuple(r[2:]) for r in raw.execute(q).collect()}
    got = {tuple(r[:2]): tuple(r[2:]) for r in tiered.execute(q).collect()}
    assert got == want and len(got) > 10


def test_tier_served_reads_tier_not_raw(built):
    points, cat = built
    _, tiered = _engines(points, cat)
    df = tiered.execute(
        "SELECT mean(value) FROM pages GROUP BY time(4h), metric"
    )
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "rollup_1h" in plan  # 4h buckets re-aggregate the 1h tier


def test_tier_routing_respects_aligned_where_and_fill(built):
    points, cat = built
    raw, tiered = _engines(points, cat)
    days = sorted(cat.committed_partitions("rollup_1h"))
    lo, hi = days[0], days[-1]
    q = (
        f"SELECT sum(value) AS s FROM pages WHERE time >= '{lo}' "
        f"AND time < '{hi}' AND metric = 'n_tokens' "
        "GROUP BY time(1h), metric fill(previous)"
    )
    want = [
        (r["time"], r["metric"], round(r["s"], 6))
        for r in raw.execute(q).orderBy("time").collect()
    ]
    got_df = tiered.execute(q)
    got = [
        (r["time"], r["metric"], round(r["s"], 6))
        for r in got_df.orderBy("time").collect()
    ]
    assert got == want and len(got) > 0
    assert "rollup_1h" in got_df._jdf.queryExecution().executedPlan().toString()


def test_unanswerable_falls_back_to_raw(built):
    points, cat = built
    _, tiered = _engines(points, cat)
    # percentile needs raw points — falls through to the registered table
    df = tiered.execute(
        "SELECT percentile(value, 90) FROM pages GROUP BY time(1h), metric"
    )
    assert "rollup_" not in df._jdf.queryExecution().executedPlan().toString()
    # mid-bucket (unaligned) WHERE bound also needs raw
    df2 = tiered.execute(
        "SELECT count(value) FROM pages "
        "WHERE time >= '2024-01-01 00:00:30' GROUP BY time(1m)"
    )
    assert "rollup_" not in df2._jdf.queryExecution().executedPlan().toString()


def test_tier_only_measurement_errors_on_unanswerable(built):
    _, cat = built
    eng = InfluxQLEngine({}, ts_col="warc_ts")
    eng.register_tiered("pages", cat, key_cols=("url", "metric"))
    # answerable → works without any raw table
    assert eng.execute(
        "SELECT mean(value) FROM pages GROUP BY time(1d), metric"
    ).count() > 0
    with pytest.raises(InfluxQLError, match="tier-only"):
        eng.execute("SELECT stddev(value) FROM pages GROUP BY time(1h)")


def test_ta_over_aggregate_served_from_tier(built):
    """ema(mean(value)) … GROUP BY time(4h): the desugared inner aggregate
    must be tier-served (plan reads rollup_1h), and the fold's values must
    equal the same query over the raw engine."""
    points, cat = built
    raw, tiered = _engines(points, cat)
    q = (
        "SELECT exponential_moving_average(mean(value), 6) AS ema "
        "FROM pages GROUP BY time(4h), metric"
    )
    df = tiered.execute(q)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "rollup_1h" in plan
    want = {tuple(r[:2]): r[2] for r in raw.execute(q).collect()}
    got = {tuple(r[:2]): r[2] for r in df.collect()}
    assert got.keys() == want.keys() and len(got) > 10
    for k, v in got.items():
        assert v == pytest.approx(want[k], rel=1e-12)


@pytest.fixture(scope="module")
def built_hist(spark, tmp_path_factory):
    """Pipeline run with hist_bounds: tiers carry the quantile histogram."""
    from influxer_spark.operators.rollup import log2_bounds

    d = tmp_path_factory.mktemp("tiered_hist")
    pages = generate_pages(str(d / "pg"), n_rows=2000, seed=7, days=2)
    root = str(d / "cat")
    bounds = log2_bounds(1.0, 2.0**21)  # crawl metrics span bytes→tokens
    run_pipeline(spark, pages, root, encode_gorilla=False, hist_bounds=bounds)
    points = pages_to_points(
        with_crawl_metrics(with_extracted(spark.read.parquet(pages)))
    )
    return points, TableCatalog(root), bounds


def test_percentile_served_from_hist_tier(built_hist):
    points, cat, bounds = built_hist
    raw = InfluxQLEngine({"pages": points}, ts_col="warc_ts")
    tiered = InfluxQLEngine({}, ts_col="warc_ts")  # tier-only: no raw table
    tiered.register_tiered(
        "pages", cat, key_cols=("url", "metric"), hist_bounds=bounds
    )
    q = (
        "SELECT percentile(value, 95) AS p95, median(value) AS med, "
        "count(value) AS cnt FROM pages GROUP BY time(4h), metric"
    )
    df = tiered.execute(q)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "rollup_1h" in plan  # served from the tier, not raw
    got = {tuple(r[:2]): r for r in df.collect()}
    want = {tuple(r[:2]): r for r in raw.execute(q).collect()}
    assert got.keys() == want.keys() and len(got) > 10
    for k, g in got.items():
        w = want[k]
        assert g["cnt"] == w["cnt"]  # count stays exact alongside
        # histogram quantile is approximate within one half-octave cell
        for c in ("p95", "med"):
            if w[c] and w[c] > 0:
                assert w[c] / 1.5 <= g[c] <= w[c] * 1.5, (k, c, g[c], w[c])


def test_percentile_without_hist_bounds_still_falls_back(built_hist):
    points, cat, _ = built_hist
    tiered = InfluxQLEngine({"pages": points}, ts_col="warc_ts")
    tiered.register_tiered("pages", cat, key_cols=("url", "metric"))
    df = tiered.execute(
        "SELECT percentile(value, 90) FROM pages GROUP BY time(1h), metric"
    )
    # not opted in -> exact nearest-rank percentile over raw, as before
    assert "rollup_" not in df._jdf.queryExecution().executedPlan().toString()


def test_read_quantile_api_matches_tier_contents(built_hist, spark):
    import datetime as dt

    from influxer_spark.operators.rollup import (
        hist_sum_expr,
        histogram_quantile,
    )
    from influxer_spark.query import read_quantile

    points, cat, bounds = built_hist
    # bounds omitted: resolved from the pinned hist_bounds table property
    out = read_quantile(spark, cat, 4 * 3600, 0.99, key_cols=("metric",))
    with pytest.raises(ValueError, match="differ from"):
        read_quantile(spark, cat, 4 * 3600, 0.99, bounds[:-1])
    rows = out.collect()
    assert len(rows) > 10 and all(r["q_v"] is not None for r in rows)
    # spot-check one bucket against a direct histogram over the 1h tier
    t1h = spark.read.parquet(
        *cat.partition_paths("rollup_1h", sorted(cat.committed_partitions("rollup_1h")))
    )
    secs = F.unix_timestamp(F.col("bucket").cast("timestamp"))
    direct = histogram_quantile(
        t1h.groupBy(
            F.timestamp_seconds(((secs - secs % (4 * 3600))).cast("long")).alias("bucket"),
            "metric",
        ).agg(
            F.sum("cnt").alias("cnt"),
            hist_sum_expr(len(bounds) + 1).alias("hist"),
        ),
        0.99,
        bounds,
        "q_v",
    )
    want = {(r["bucket"], r["metric"]): r["q_v"] for r in direct.collect()}
    got = {(r["bucket"], r["metric"]): r["q_v"] for r in rows}
    assert got == want


def test_ta_over_percentile_served_from_hist_tier(built_hist):
    """ema(percentile(value, 95)) ... GROUP BY time(4h): the desugared inner
    percentile aggregate must be tier-served from the histogram column, and
    the fold must run over those tier-served p95 values."""
    points, cat, bounds = built_hist
    tiered = InfluxQLEngine({}, ts_col="warc_ts")  # tier-only
    tiered.register_tiered(
        "pages", cat, key_cols=("url", "metric"), hist_bounds=bounds
    )
    df = tiered.execute(
        "SELECT exponential_moving_average(percentile(value, 95), 6) AS e "
        "FROM pages GROUP BY time(4h), metric"
    )
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "rollup_1h" in plan
    rows = df.collect()
    assert len(rows) > 10 and any(r["e"] is not None for r in rows)


def test_approx_distinct_tier_matches_raw_path(built, spark):
    """approx_count_distinct(item) is served from the kmv tables when
    registered with kmv_item_col — and because the KMV estimate is a pure
    function of the data (unlike HLL), the tier answer is IDENTICAL to the
    raw-path answer, not merely close."""
    from influxer_spark.operators.kmv import build_kmv_tiers

    points, cat = built
    build_kmv_tiers(
        spark, cat, points, "warc_ts", ["metric"], "url", k=32
    )
    raw = InfluxQLEngine({"pages": points}, ts_col="warc_ts")
    tiered = InfluxQLEngine({"pages": points}, ts_col="warc_ts")
    tiered.register_tiered(
        "pages", cat, key_cols=("metric",), kmv_item_col="url"
    )
    # tier path can only serve the pinned k, so query with k=32 on raw
    q_raw = (
        "SELECT approx_count_distinct(url, 32) AS uu FROM pages "
        "GROUP BY time(4h), metric"
    )
    q_tier = (
        "SELECT approx_count_distinct(url) AS uu FROM pages "
        "GROUP BY time(4h), metric"
    )
    want = {(r["time"], r["metric"]): r["uu"] for r in raw.execute(q_raw).collect()}
    got_df = tiered.execute(q_tier)
    got = {(r["time"], r["metric"]): r["uu"] for r in got_df.collect()}
    assert got == want and len(got) > 10
    files = got_df.inputFiles()
    assert files and all("kmv_1h" in f for f in files)  # tier, not raw

    # explicit k ≠ pinned build k falls back to raw (never a silent mix)
    fb = tiered.execute(q_raw)
    assert not any("kmv_1h" in f for f in fb.inputFiles())


def test_realtime_tail_serves_fresh_data(spark, sf_dir):
    """Real-time continuous aggregates through the front-end: the catalog
    lags the raw table by 3 days; a GROUP BY time() query must answer
    tier-to-watermark + raw tail, exactly matching the raw-only engine
    (count/min/max — order-insensitive aggregates)."""
    from influxer_spark.operators.refresh import (
        build_point_tiers,
        source_day_counts,
    )

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    days = sorted(source_day_counts(ev, "ts"))
    import tempfile

    cat = TableCatalog(tempfile.mkdtemp(prefix="rt_front_"))
    build_point_tiers(
        spark, cat, ev, "ts", ["event_type"], "value", days=days[:-3]
    )

    raw_eng = InfluxQLEngine({"m": ev}, ts_col="ts")
    rt_eng = InfluxQLEngine({"m": ev}, ts_col="ts")
    rt_eng.register_tiered(
        "m", cat, key_cols=("event_type",), value_field="value"
    )
    q = ("SELECT count(value) AS n, min(value) AS lo, max(value) AS hi "
         "FROM m GROUP BY time(4h), event_type")

    def rows(eng):
        return sorted(
            (r["time"], r["event_type"], r["n"], r["lo"], r["hi"])
            for r in eng.execute(q).collect()
        )

    got, want = rows(rt_eng), rows(raw_eng)
    assert got == want
    # sanity: the fresh days ARE in the answer (would be missing tier-only)
    last_day = days[-1]
    assert any(t.date().isoformat() == last_day for t, *_ in got)

    # tier-only registration (no raw table) keeps the strict behavior
    only_tier = InfluxQLEngine({}, ts_col="ts")
    only_tier.register_tiered(
        "m", cat, key_cols=("event_type",), value_field="value"
    )
    full = sorted(
        (r["time"], r["event_type"], r["n"])
        for r in only_tier.execute(
            "SELECT count(value) AS n FROM m GROUP BY time(4h), event_type"
        ).collect()
    )
    # serves only up to the watermark: nothing from the 3 lagging days
    assert all(t.date().isoformat() <= days[-4] for t, *_ in full)


def test_show_shards_lists_committed_partitions(spark, sf_dir):
    """SHOW SHARDS introspects the engine's storage unit: one row per
    committed day partition per tier table of each tiered measurement."""
    import tempfile

    from influxer_spark.operators.refresh import (
        build_point_tiers,
        source_day_counts,
    )

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    n_days = len(source_day_counts(ev, "ts"))
    cat = TableCatalog(tempfile.mkdtemp(prefix="shards_"))
    build_point_tiers(spark, cat, ev, "ts", ["event_type"], "value")

    eng = InfluxQLEngine({}, ts_col="ts")
    eng.register_tiered("m", cat, key_cols=("event_type",), value_field="value")
    rows = eng.execute("SHOW SHARDS").collect()
    assert len(rows) == 3 * n_days
    one = next(r for r in rows if r["table"] == "rollup_1h")
    assert one["measurement"] == "m" and one["shard"].startswith("v=")
    assert (one["end_time"] - one["start_time"]).days == 1

    # no tiered measurements → empty, not an error
    assert InfluxQLEngine({}, ts_col="ts").execute("SHOW SHARDS").count() == 0


def test_stitched_width_served_from_mixed_tiers(built):
    """GROUP BY time(90m): 90m divides no coarse tier, so the old routing
    scanned the whole 1m tier.  The stitched rewrite must read the 1h AND
    1m tiers (whole hours + minute edges), skip the useless 1d scan, and
    still match the raw recompute exactly."""
    points, cat = built
    raw, tiered = _engines(points, cat)
    q = (
        "SELECT count(value) AS cnt, min(value) AS mn, max(value) AS mx "
        "FROM pages GROUP BY time(90m), metric"
    )
    want = {tuple(r[:2]): tuple(r[2:]) for r in raw.execute(q).collect()}
    df = tiered.execute(q)
    got = {tuple(r[:2]): tuple(r[2:]) for r in df.collect()}
    assert got == want and len(got) > 10
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "rollup_1h" in plan and "rollup_1m" in plan
    assert "rollup_1d" not in plan


def test_stitched_49h_uses_day_tier(built):
    """GROUP BY time(49h): every 49h bucket is wider than two days, so the
    stitched read must pull whole 1d blocks (plus 1h/1m edges) instead of
    re-aggregating the 1h tier alone."""
    points, cat = built
    raw, tiered = _engines(points, cat)
    q = (
        "SELECT count(value) AS cnt, min(value) AS mn, max(value) AS mx "
        "FROM pages GROUP BY time(49h), metric"
    )
    want = {tuple(r[:2]): tuple(r[2:]) for r in raw.execute(q).collect()}
    df = tiered.execute(q)
    got = {tuple(r[:2]): tuple(r[2:]) for r in df.collect()}
    assert got == want
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "rollup_1d" in plan


# --- stddev served from power-sum tiers (rollup.build_sumsq_tiers) ---


@pytest.fixture(scope="module")
def built_sumsq(built, spark):
    from influxer_spark.operators.rollup import build_sumsq_tiers

    points, cat = built
    if not cat.committed_partitions("sumsq_1h"):
        build_sumsq_tiers(spark, cat, points, "warc_ts", ["url", "metric"], "value")
    raw = InfluxQLEngine({"pages": points}, ts_col="warc_ts")
    tiered = InfluxQLEngine({"pages": points}, ts_col="warc_ts")
    tiered.register_tiered("pages", cat, key_cols=("url", "metric"), sumsq=True)
    return points, cat, raw, tiered


def _sd_query(cat):
    days = sorted(cat.committed_partitions("sumsq_1h"))
    return (
        f"SELECT stddev(value) AS sd, mean(value) AS m, count(value) AS n "
        f"FROM pages WHERE time >= '{days[0]}' AND time < '{days[-1]}' "
        "AND metric = 'n_tokens' GROUP BY time(4h), metric"
    )


def test_stddev_served_from_sumsq_tier(built_sumsq):
    """stddev() on a sumsq-registered measurement is answered from the
    power-sum tables (plan-asserted) and matches the raw recompute to fp
    tolerance on integer-valued metrics (cents quantization is lossless
    there; only float-accumulation order differs)."""
    import math

    points, cat, raw, tiered = built_sumsq
    q = _sd_query(cat)
    df = tiered.execute(q)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "sumsq_1h" in plan and "rollup_1h" not in plan
    got = {tuple(r[:2]): r[2:] for r in df.collect()}
    want = {tuple(r[:2]): r[2:] for r in raw.execute(q).collect()}
    assert got.keys() == want.keys() and len(got) > 5
    for k in got:
        assert got[k][2] == want[k][2]  # counts exact
        for a, b in zip(got[k][:2], want[k][:2]):
            if b is None:
                assert a is None
            else:
                assert math.isclose(a, b, rel_tol=1e-9)


def test_stddev_without_sumsq_flag_falls_back_to_raw(built_sumsq):
    """Without the sumsq opt-in the same statement must keep its exact
    raw-path answer (and never touch the power-sum tables)."""
    points, cat, raw, _ = built_sumsq
    plain = InfluxQLEngine({"pages": points}, ts_col="warc_ts")
    plain.register_tiered("pages", cat, key_cols=("url", "metric"))
    q = _sd_query(cat)
    df = plain.execute(q)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "sumsq" not in plan
    assert df.collect() == raw.execute(q).collect()


def test_stddev_past_watermark_falls_back_to_raw(built_sumsq):
    """A stddev range past the committed power sums can't be served by
    bolting a float raw tail onto integer S1/S2 — the statement must fall
    back to the raw path whole (same shape as the hist-tier fallbacks)."""
    points, cat, raw, tiered = built_sumsq
    q = (
        "SELECT stddev(value) AS sd FROM pages "
        "WHERE metric = 'n_tokens' GROUP BY time(4h), metric"
    )
    df = tiered.execute(q)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "sumsq" not in plan
    assert df.collect() == raw.execute(q).collect()


# --- bounds-free percentiles served from HDR sketch tiers ---


@pytest.fixture(scope="module")
def built_hdr(built, spark):
    from influxer_spark.operators.hdrsketch import build_hdr_tiers

    points, cat = built
    if not cat.committed_partitions("hdr_1h"):
        build_hdr_tiers(spark, cat, points, "warc_ts", ["url", "metric"], "value")
    return points, cat


def test_percentile_served_from_hdr_tier_no_bounds(built_hdr):
    """register_tiered(hdr=True): percentile-only statements are served
    from the log-linear sketch tiers with NO per-metric bound config —
    plan-asserted hdr_1h read, values within the 2^-5 relative-error
    envelope of the exact raw nearest-rank answer."""
    points, cat = built_hdr
    raw = InfluxQLEngine({"pages": points}, ts_col="warc_ts")
    tiered = InfluxQLEngine({}, ts_col="warc_ts")  # tier-only: no raw table
    tiered.register_tiered("pages", cat, key_cols=("url", "metric"), hdr=True)
    q = (
        "SELECT percentile(value, 95) AS p95, median(value) AS med "
        "FROM pages GROUP BY time(4h), metric"
    )
    df = tiered.execute(q)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "hdr_1h" in plan and "rollup_1h" not in plan
    got = {tuple(r[:2]): r for r in df.collect()}
    want = {tuple(r[:2]): r for r in raw.execute(q).collect()}
    assert got.keys() == want.keys() and len(got) > 10
    for k, g in got.items():
        w = want[k]
        for c in ("p95", "med"):
            if w[c] and w[c] > 0:
                # sketch lower bound ≤ exact ≤ bound·(1+2^-5); cents add
                # one tick of slack on tiny values
                assert w[c] * 0.9 <= g[c] <= w[c] * 1.1, (k, c, g[c], w[c])


def test_hdr_percentile_mixed_aggregates_fall_back(built_hdr):
    """hdr serving is percentile-only: mixing mean() forces the whole
    statement back to the raw path (counter vectors carry no sums)."""
    points, cat = built_hdr
    tiered = InfluxQLEngine({"pages": points}, ts_col="warc_ts")
    tiered.register_tiered("pages", cat, key_cols=("url", "metric"), hdr=True)
    df = tiered.execute(
        "SELECT percentile(value, 90) AS p90, mean(value) AS m "
        "FROM pages GROUP BY time(4h), metric"
    )
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "hdr_1h" not in plan


def test_hist_bounds_win_over_hdr_when_both_configured(built_hist, spark):
    """Precedence: a catalog with BOTH hist_bounds and hdr configured
    keeps the exact-cell histogram path (no behavior change for existing
    catalogs)."""
    from influxer_spark.operators.hdrsketch import build_hdr_tiers

    points, cat, bounds = built_hist
    if not cat.committed_partitions("hdr_1h"):
        build_hdr_tiers(spark, cat, points, "warc_ts", ["url", "metric"], "value")
    tiered = InfluxQLEngine({}, ts_col="warc_ts")
    tiered.register_tiered(
        "pages", cat, key_cols=("url", "metric"),
        hist_bounds=bounds, hdr=True,
    )
    df = tiered.execute(
        "SELECT median(value) AS med FROM pages GROUP BY time(4h), metric"
    )
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "rollup_1h" in plan and "hdr_1h" not in plan


def test_group_by_star_falls_back_to_raw(built):
    """GROUP BY time(), * on a tiered measurement must NOT be served from
    tiers: star expansion uses the RAW schema (it may name tags the
    tiers don't carry) and happens after routing — serving the
    un-expanded statement silently dropped every tag (regression: tiered
    returned time-only groups)."""
    points, cat = built
    raw, tiered = _engines(points, cat)
    q = "SELECT count(value) AS c FROM pages GROUP BY time(4h), *"
    want = raw.execute(q)
    got = tiered.execute(q)
    assert got.columns == want.columns  # tags expanded identically
    assert sorted(map(tuple, got.collect())) == sorted(
        map(tuple, want.collect())
    )
    plan = got._jdf.queryExecution().executedPlan().toString()
    assert "rollup_1h" not in plan  # raw path, by design


# --- systematic tier-vs-raw parity sweep (the group_star regression,
#     generalized: ANY statement a tiered engine accepts must answer
#     exactly like the raw engine, whichever path routing picks) ---

_SWEEP = [
    "SELECT count(value) AS c FROM pages GROUP BY time(4h), metric",
    "SELECT sum(value) AS s, max(value) AS mx FROM pages "
    "GROUP BY time(1h), metric",
    "SELECT mean(value) AS m FROM pages GROUP BY time(4h), metric, url "
    "SLIMIT 5 SOFFSET 2",
    "SELECT min(value) AS mn FROM pages GROUP BY time(4h), metric "
    "ORDER BY time DESC LIMIT 3",
    "SELECT spread(value) AS sp FROM pages GROUP BY time(4h), metric "
    "fill(none)",
    "SELECT count(value) AS c FROM pages GROUP BY time(4h), metric "
    "fill(0)",
    "SELECT sum(value) AS s FROM pages WHERE metric = 'n_tokens' "
    "GROUP BY time(4h), metric fill(previous)",
    "SELECT count(value) AS c FROM pages GROUP BY time(4h), *",
    "SELECT count(value) AS c FROM pages GROUP BY time(4h)",
    "SELECT mean(value) AS m FROM pages WHERE metric = 'html_bytes' "
    "GROUP BY time(12h), metric LIMIT 2 OFFSET 1",
    "SELECT derivative(mean(value)) AS d FROM pages "
    "GROUP BY time(4h), metric",
    "SELECT count(value) + sum(value) AS cs FROM pages "
    "GROUP BY time(4h), metric",
    # stitched mixed-granularity widths (divide no coarse tier)
    "SELECT count(value) AS c, max(value) AS mx FROM pages "
    "GROUP BY time(90m), metric",
    "SELECT sum(value) AS s FROM pages GROUP BY time(49h), metric",
    # fold family over the tiered inner aggregate (EMA seeds + the
    # matrix-profile discord score must be identical from either path)
    "SELECT exponential_moving_average(mean(value), 3) AS e FROM pages "
    "GROUP BY time(4h), metric",
    "SELECT matrix_profile(mean(value), 4) AS mp FROM pages "
    "GROUP BY time(4h), metric",
]


@pytest.mark.parametrize("q", _SWEEP)
def test_tier_raw_parity_sweep(built, q):
    points, cat = built
    raw, tiered = _engines(points, cat)
    want = raw.execute(q)
    got = tiered.execute(q)
    assert got.columns == want.columns, q
    a = sorted(map(tuple, want.collect()))
    b = sorted(map(tuple, got.collect()))
    assert len(a) == len(b), q
    for ra, rb in zip(a, b):
        for va, vb in zip(ra, rb):
            if isinstance(va, float) and va is not None and vb is not None:
                assert vb == pytest.approx(va, rel=1e-9, abs=1e-9), q
            else:
                assert va == vb, q


def test_show_stats_reports_catalog_tables(built):
    """SHOW STATS: one row per catalog table per tiered measurement with
    partition counts, recorded input rows, and snapshot history —
    metadata-only engine introspection (InfluxDB's SHOW STATS analogue)."""
    points, cat = built
    _, tiered = _engines(points, cat)
    rows = {r["table"]: r for r in tiered.execute("SHOW STATS").collect()}
    assert {"rollup_1m", "rollup_1h", "rollup_1d"} <= set(rows)
    n_days = len(cat.committed_partitions("rollup_1h"))
    for t in ("rollup_1m", "rollup_1h", "rollup_1d"):
        assert rows[t]["partitions"] == n_days
        assert rows[t]["snapshots"] >= 1
        assert rows[t]["current_snapshot"] is not None
    assert rows["raw_points"]["rows_in"] > 0  # pipeline counters surface


def test_as_of_tag_serves_historical_tier(built, spark):
    """register_tiered(as_of='tag') answers GROUP BY time() from the
    TAGGED snapshot: after a corrupting rewrite of the 1h tier, the
    as_of engine still returns the pre-rewrite answer and the current
    engine sees the corruption."""
    points, cat = built
    q = ("SELECT sum(value) AS s, count(value) AS c "
         "FROM pages GROUP BY time(4h), metric")
    _, before_eng = _engines(points, cat)
    want = {tuple(r[:2]): tuple(r[2:]) for r in before_eng.execute(q).collect()}

    cat.create_tag("rollup_1h", "release")
    # corrupt: rewrite every 1h partition with doubled sums
    days = sorted(cat.committed_partitions("rollup_1h"))
    t1h = cat.read_committed(spark, "rollup_1h")
    corrupted = t1h.withColumn("sum_v", F.col("sum_v") * 2).withColumn(
        "day", F.date_format("bucket", "yyyy-MM-dd")
    )
    cat.write_partitions(corrupted, "rollup_1h", days)

    cur = InfluxQLEngine({"pages": points}, ts_col="warc_ts")
    cur.register_tiered("pages", cat, key_cols=("url", "metric"))
    got_cur = {tuple(r[:2]): tuple(r[2:]) for r in cur.execute(q).collect()}
    assert got_cur != want  # corruption is visible on the current line

    old = InfluxQLEngine({"pages": points}, ts_col="warc_ts")
    old.register_tiered(
        "pages", cat, key_cols=("url", "metric"), as_of="release"
    )
    got_old = {tuple(r[:2]): tuple(r[2:]) for r in old.execute(q).collect()}
    assert got_old == want  # the tagged snapshot answers exactly

    # restore the shared fixture's tier from the tagged snapshot, then
    # release the tag — later module tests must see the original data
    restore = cat.read_committed(spark, "rollup_1h", as_of="release").withColumn(
        "day", F.date_format("bucket", "yyyy-MM-dd")
    )
    cat.write_partitions(restore, "rollup_1h", days)
    cat.drop_tag("rollup_1h", "release")
    fixed = InfluxQLEngine({"pages": points}, ts_col="warc_ts")
    fixed.register_tiered("pages", cat, key_cols=("url", "metric"))
    assert {tuple(r[:2]): tuple(r[2:]) for r in fixed.execute(q).collect()} == want


def test_expired_tier_served_from_integer_archive(spark, tmp_path_factory):
    """Retention expires every plain rollup partition; count/sum/mean
    GROUP BY time() still answers — from the (cnt, sum_cents) archive —
    and matches the pre-expiry tier answer in the quantized domain, while
    a min() statement falls through to the normal error."""
    import pytest as _pytest

    d = tmp_path_factory.mktemp("cold")
    pages = generate_pages(str(d / "pg"), n_rows=3000, seed=7, days=3)
    root = str(d / "cat")
    run_pipeline(spark, pages, root, encode_gorilla=True)
    cat = TableCatalog(root)

    eng = InfluxQLEngine({}, ts_col="warc_ts")  # tier-only measurement
    eng.register_tiered("pages", cat, key_cols=("url", "metric"))
    q = ("SELECT count(value) AS c, sum(value) AS s, mean(value) AS m "
         "FROM pages GROUP BY time(5m), metric")
    hot = {tuple(r[:2]): (r["c"], r["s"]) for r in eng.execute(q).collect()}

    for table in ("rollup_1m", "rollup_1h", "rollup_1d"):
        for day in sorted(cat.committed_partitions(table)):
            cat.drop_partition(table, day, reason="retention")
        cat.expire_snapshots(table, keep_last=1)

    cold = {tuple(r[:2]): (r["c"], r["s"]) for r in eng.execute(q).collect()}
    assert cold.keys() == hot.keys() and len(cold) > 5  # archive answers
    for k, (c, sv) in cold.items():
        hc, hs = hot[k]
        assert c == hc  # counts are exact integers through the archive
        # sums live in the archive's cents domain: each contributing 1m
        # bucket rounds to a half cent, 5 buckets per output bucket
        assert abs(sv - hs) <= 0.03, (k, sv, hs)

    with _pytest.raises(InfluxQLError, match="no committed"):
        eng.execute("SELECT min(value) FROM pages GROUP BY time(5m), metric")


def test_forecast_linear_inner_agg_tier_served(built):
    """forecast_linear desugars its inner aggregate through _run, so a
    registered tiered measurement serves the fit series from the rollup
    tier (plan shows the tier table), and the forecast matches the raw
    engine bit-for-bit (exact-integer normal equations both ways)."""
    points, cat = built
    raw, tiered = _engines(points, cat)
    q = (
        "SELECT forecast_linear(count(value), 4) AS fc "
        "FROM pages GROUP BY time(4h), metric"
    )
    df = tiered.execute(q)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "rollup_1h" in plan
    want = {(r["time"], r["metric"]): r["fc"] for r in raw.execute(q).collect()}
    got = {(r["time"], r["metric"]): r["fc"] for r in df.collect()}
    assert got == want and len(got) > 0


@pytest.fixture(scope="module")
def built_ohlc(built, spark):
    from influxer_spark.operators.rollup import build_ohlc_tiers

    points, cat = built
    build_ohlc_tiers(spark, cat, points, "warc_ts", ["url", "metric"], "value")
    return points, cat


def _ohlc_engines(points, cat):
    raw = InfluxQLEngine({"pages": points}, ts_col="warc_ts")
    tiered = InfluxQLEngine({"pages": points}, ts_col="warc_ts")
    tiered.register_tiered(
        "pages", cat, key_cols=("url", "metric"), ohlc=True
    )
    return raw, tiered


def test_first_last_tier_served_matches_raw(built_ohlc):
    points, cat = built_ohlc
    raw, tiered = _ohlc_engines(points, cat)
    q = (
        "SELECT first(value) AS o, max(value) AS h, min(value) AS l,"
        " last(value) AS c, count(value) AS n "
        "FROM pages GROUP BY time(4h), metric"
    )
    want = {tuple(r[:2]): tuple(r[2:]) for r in raw.execute(q).collect()}
    got = {tuple(r[:2]): tuple(r[2:]) for r in tiered.execute(q).collect()}
    assert got == want and len(got) > 10


def test_first_last_reads_ohlc_tier_not_raw(built_ohlc):
    points, cat = built_ohlc
    _, tiered = _ohlc_engines(points, cat)
    df = tiered.execute(
        "SELECT first(value), last(value) FROM pages GROUP BY time(4h), metric"
    )
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "ohlc_1h" in plan


def test_first_last_with_sum_falls_back_to_raw(built_ohlc):
    # sum lives on the rollup table, first/last on the ohlc table — a
    # mixed statement must serve from raw, not stitch two tier sources
    points, cat = built_ohlc
    raw, tiered = _ohlc_engines(points, cat)
    q = (
        "SELECT first(value) AS o, sum(value) AS s "
        "FROM pages GROUP BY time(4h), metric"
    )
    df = tiered.execute(q)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "ohlc_1h" not in plan and "rollup_1h" not in plan
    want = {tuple(r[:2]): tuple(r[2:]) for r in raw.execute(q).collect()}
    got = {tuple(r[:2]): tuple(r[2:]) for r in df.collect()}
    assert got == want


def test_first_last_without_ohlc_flag_falls_back(built_ohlc):
    points, cat = built_ohlc
    eng = InfluxQLEngine({"pages": points}, ts_col="warc_ts")
    eng.register_tiered("pages", cat, key_cols=("url", "metric"))  # no ohlc
    df = eng.execute(
        "SELECT first(value) FROM pages GROUP BY time(4h), metric"
    )
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "ohlc_1h" not in plan


def test_first_last_realtime_tail_composes_exactly(built, spark,
                                                   tmp_path_factory):
    # OHLC tiers committed for the FIRST day only; the raw tail (the other
    # days) must union in exactly — candlesticks are algebraic, so
    # tier+tail equals the raw answer bit-for-bit
    from influxer_spark.operators.rollup import build_ohlc_tiers

    points, _ = built
    day0 = points.select(F.min(F.to_date("warc_ts"))).collect()[0][0]
    head = points.filter(F.to_date("warc_ts") == F.lit(day0))
    cat2 = TableCatalog(str(tmp_path_factory.mktemp("ohlc_tail") / "c"))
    build_ohlc_tiers(spark, cat2, head, "warc_ts", ["url", "metric"], "value")
    raw = InfluxQLEngine({"pages": points}, ts_col="warc_ts")
    tiered = InfluxQLEngine({"pages": points}, ts_col="warc_ts")
    tiered.register_tiered("pages", cat2, key_cols=("url", "metric"),
                           ohlc=True)
    q = (
        "SELECT first(value) AS o, last(value) AS c, count(value) AS n "
        "FROM pages GROUP BY time(4h), metric"
    )
    df = tiered.execute(q)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "ohlc_1h" in plan  # history really is tier-served
    want = {tuple(r[:2]): tuple(r[2:]) for r in raw.execute(q).collect()}
    got = {tuple(r[:2]): tuple(r[2:]) for r in df.collect()}
    assert got == want


def test_offset_buckets_tier_served_and_exact(built):
    """GROUP BY time(w, off) with a minute-aligned offset tier-serves: an
    offset that keeps the coarse grid (1h over 4h) reads the 1h tier; an
    offset that breaks it (30m over 1h) drops to the 1m tier.  Both must
    equal the raw recompute exactly — also when the WHERE bounds sit on
    the offset grid, which the serving tier's buckets align to."""
    points, cat = built
    raw, tiered = _engines(points, cat)
    days = sorted(cat.committed_partitions("rollup_1m"))
    for q, expect_tbl in [
        (
            "SELECT count(value) AS cnt, min(value) AS mn "
            "FROM pages GROUP BY time(4h, 1h), metric",
            "rollup_1h",
        ),
        (
            "SELECT count(value) AS cnt, min(value) AS mn "
            "FROM pages GROUP BY time(1h, 30m), metric",
            "rollup_1m",
        ),
        (
            "SELECT count(value) AS cnt, min(value) AS mn FROM pages "
            f"WHERE time >= '{days[0]} 00:30:00' "
            f"AND time < '{days[1]} 00:30:00' "
            "GROUP BY time(1h, 30m), metric",
            "rollup_1m",
        ),
    ]:
        df = tiered.execute(q)
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert expect_tbl in plan, (q, expect_tbl)
        want = {tuple(r[:2]): tuple(r[2:]) for r in raw.execute(q).collect()}
        got = {tuple(r[:2]): tuple(r[2:]) for r in df.collect()}
        assert got == want and len(got) > 10


def test_explain_prints_the_route(built_hdr, spark):
    """EXPLAIN's first row is the planned route: family, serving table,
    WHERE modulus and raw tail of a tier route, or the rule that sent the
    statement to raw; EXPLAIN ANALYZE still ends with the row count."""
    from influxer_spark.operators.kmv import build_kmv_tiers

    points, cat = built_hdr
    if not cat.exists("kmv_1h"):
        build_kmv_tiers(
            spark, cat, points, "warc_ts", ["metric"], "url", k=32
        )
    eng = InfluxQLEngine({"pages": points}, ts_col="warc_ts")
    eng.register_tiered(
        "pages", cat, key_cols=("url", "metric"), hdr=True,
        kmv_item_col="url",
    )

    def route(q):
        return eng.execute(f"EXPLAIN {q}").collect()[0]["plan"]

    import datetime as dt

    wm = dt.date.fromisoformat(max(cat.committed_partitions("rollup_1h")))
    assert route(
        "SELECT mean(value) FROM pages GROUP BY time(4h), metric"
    ).startswith(
        "route: rollup — rollup_1h, modulus 3600s, raw tail from "
        f"{wm + dt.timedelta(days=1)} 00:00:00"
    )
    assert route(
        "SELECT median(value) FROM pages GROUP BY time(4h), metric"
    ) == "route: hdr — hdr_1h, modulus 3600s, no raw tail"
    assert route(
        "SELECT approx_count_distinct(url) FROM pages "
        "GROUP BY time(4h), metric"
    ) == "route: kmv — kmv_1h, modulus 3600s, no raw tail"
    assert route(
        "SELECT count(value) FROM pages GROUP BY time(1d), lang"
    ) == "route: raw — group tag 'lang' not in tier keys"
    # a reversed bound is no aligned tier bound: tier buckets would drop
    # the points of its first, partial minute
    assert route(
        "SELECT count(value) FROM pages "
        "WHERE '2024-03-01 00:00:30' <= time GROUP BY time(1m)"
    ) == "route: raw — WHERE time condition is not a literal bound"
    rows = eng.execute(
        "EXPLAIN ANALYZE SELECT count(value) FROM pages GROUP BY time(1d), lang"
    ).collect()
    assert rows[0]["plan"].startswith("route: raw")
    assert rows[-1]["plan"].startswith("rows: ")


def test_sub_minute_offset_falls_back_to_raw(built):
    points, cat = built
    raw, tiered = _engines(points, cat)
    q = (
        "SELECT count(value) AS cnt FROM pages "
        "GROUP BY time(1h, 90s), metric"
    )
    df = tiered.execute(q)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "rollup_1m" not in plan and "rollup_1h" not in plan
    want = {tuple(r[:2]): r[2] for r in raw.execute(q).collect()}
    got = {tuple(r[:2]): r[2] for r in df.collect()}
    assert got == want


def test_asap_inner_agg_tier_served(built):
    """asap() desugars its inner aggregate through _run, so a registered
    tiered measurement serves the fit series from the rollup tier; the
    smoothed output must match the raw engine exactly (same fold over
    the same series)."""
    points, cat = built
    raw, tiered = _engines(points, cat)
    q = (
        "SELECT asap(count(value)) AS sm "
        "FROM pages GROUP BY time(4h), metric"
    )
    df = tiered.execute(q)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "rollup_1h" in plan
    want = {(r["time"], r["metric"]): (r["sm"], r["sm_window"])
            for r in raw.execute(q).collect()}
    got = {(r["time"], r["metric"]): (r["sm"], r["sm_window"])
           for r in df.collect()}
    assert got == want and len(got) > 0


# ---------------------------------------------------------------------------
# tz() tier serving (round 4): UTC tier partials re-bucketed on the zone's
# wall clock, gated by _tz_grid_ok (no tier bucket may straddle a wall
# boundary in range)
# ---------------------------------------------------------------------------


def test_tz_tier_served_matches_raw(built):
    points, cat = built
    raw, tiered = _engines(points, cat)
    for w in ("1h", "4h", "1d"):
        q = (
            "SELECT count(value) AS cnt, sum(value) AS s, max(value) AS mx "
            f"FROM pages GROUP BY time({w}), metric"
            " tz('America/New_York')"
        )
        # float sums via tier partials differ in the last ulp from a raw
        # direct sum (addition order) — the engine-wide tier convention;
        # count/min/max compare exactly, sums rounded (same as the non-tz
        # routing tests above)
        want = {tuple(r[:2]): (r[2], round(r[3], 6), r[4])
                for r in raw.execute(q).collect()}
        got_df = tiered.execute(q)
        got = {tuple(r[:2]): (r[2], round(r[3], 6), r[4])
               for r in got_df.collect()}
        assert got == want and len(got) > 0, w
        plan = got_df._jdf.queryExecution().executedPlan().toString()
        assert "rollup_1h" in plan or "rollup_1m" in plan, w


def test_tz_half_hour_zone_serves_from_1m(built):
    # Asia/Kolkata (+05:30): hour tier straddles wall hours, so serving
    # drops to the 1m tier — still tier-served, still exact
    points, cat = built
    raw, tiered = _engines(points, cat)
    q = (
        "SELECT count(value) AS cnt FROM pages"
        " GROUP BY time(1h), metric tz('Asia/Kolkata')"
    )
    want = {tuple(r[:2]): r[2] for r in raw.execute(q).collect()}
    got_df = tiered.execute(q)
    got = {tuple(r[:2]): r[2] for r in got_df.collect()}
    assert got == want and len(got) > 0
    plan = got_df._jdf.queryExecution().executedPlan().toString()
    assert "rollup_1m" in plan and "rollup_1h" not in plan


def test_tz_fill_tier_serves_and_offset_routing(built):
    """tz() + fill() tier-serves since r5 (the spine fix made the wall
    spine exact).  tz() + a bucket offset serves from the coarsest tier
    dividing BOTH width and offset (time(2h,1h) → 1h tier, time(2h,30m)
    → 1m tier); only offsets no tier divides (sub-minute) stay raw."""
    points, cat = built
    raw, tiered = _engines(points, cat)
    for mode in ("0", "previous", "linear", "null"):
        q = (
            "SELECT count(value) AS cnt FROM pages"
            f" GROUP BY time(2h), metric fill({mode}) tz('America/New_York')"
        )
        want = {tuple(r[:2]): r[2] for r in raw.execute(q).collect()}
        got_df = tiered.execute(q)
        got = {tuple(r[:2]): r[2] for r in got_df.collect()}
        assert got == want and len(got) > 0, mode
        plan = got_df._jdf.queryExecution().executedPlan().toString()
        assert "rollup_1h" in plan, mode
    for off, tier_in, tier_out in (
        ("1h", "rollup_1h", "rollup_1m"),
        ("30m", "rollup_1m", "rollup_1h"),
    ):
        q = (
            "SELECT count(value) AS cnt FROM pages"
            f" GROUP BY time(2h, {off}), metric tz('America/New_York')"
        )
        want = {tuple(r[:2]): r[2] for r in raw.execute(q).collect()}
        got_df = tiered.execute(q)
        got = {tuple(r[:2]): r[2] for r in got_df.collect()}
        assert got == want and len(got) > 0, off
        plan = got_df._jdf.queryExecution().executedPlan().toString()
        assert tier_in in plan and tier_out not in plan, off
    # sub-minute offset: no tier divides it → raw (rejected before tz)
    q = (
        "SELECT count(value) AS cnt FROM pages"
        " GROUP BY time(2h, 90s), metric tz('America/New_York')"
    )
    want = {tuple(r[:2]): r[2] for r in raw.execute(q).collect()}
    got_df = tiered.execute(q)
    got = {tuple(r[:2]): r[2] for r in got_df.collect()}
    assert got == want
    plan = got_df._jdf.queryExecution().executedPlan().toString()
    assert "rollup_1h" not in plan and "rollup_1m" not in plan


def test_tz_wall_aligned_where_matches_raw(built):
    # wall-clock literals: >= '2024-01-03 00:00:00' means NY midnight
    # (05:00 UTC) — hour-tier-aligned, so the statement tier-serves with
    # the bound interpreted identically on both paths
    points, cat = built
    raw, tiered = _engines(points, cat)
    days = sorted(cat.committed_partitions("rollup_1h"))
    lo, hi = days[1], days[2]
    q = (
        "SELECT count(value) AS cnt, sum(value) AS s FROM pages"
        f" WHERE time >= '{lo} 00:00:00' AND time < '{hi} 00:00:00'"
        " GROUP BY time(1h), metric tz('America/New_York')"
    )
    want = {tuple(r[:2]): (r[2], round(r[3], 6))
            for r in raw.execute(q).collect()}
    got_df = tiered.execute(q)
    got = {tuple(r[:2]): (r[2], round(r[3], 6)) for r in got_df.collect()}
    assert got == want and len(got) > 0
    plan = got_df._jdf.queryExecution().executedPlan().toString()
    assert "rollup_1h" in plan


def test_tz_dst_days_match_raw(spark, tmp_path):
    """Spring-forward (2024-03-10, 23h wall day) and the surrounding days:
    tier-served daily buckets must equal the raw path's — the 1h tier
    serves time(1d) because every NY offset is a whole hour and the
    transition instant (07:00 UTC) is hour-aligned."""
    from influxer_spark.operators.refresh import build_point_tiers

    rows = []
    for d in (8, 9, 10, 11):
        for h in range(0, 24, 2):
            for k in ("a", "b"):
                rows.append(
                    (f"2024-03-{d:02d} {h:02d}:30:00", k, float(d * 100 + h))
                )
    ev = spark.createDataFrame(
        rows, ["ts", "event_type", "value"]
    ).withColumn("ts", F.to_timestamp("ts"))
    cat = TableCatalog(str(tmp_path / "cat"))
    build_point_tiers(spark, cat, ev, "ts", ["event_type"], "value")
    raw = InfluxQLEngine({"m": ev}, ts_col="ts")
    tiered = InfluxQLEngine({"m": ev}, ts_col="ts")
    tiered.register_tiered("m", cat, key_cols=("event_type",))
    q = (
        "SELECT count(value) AS cnt, sum(value) AS s, min(value) AS mn"
        " FROM m GROUP BY time(1d), event_type tz('America/New_York')"
    )
    want = {tuple(r[:2]): (r[2], round(r[3], 6), r[4])
            for r in raw.execute(q).collect()}
    got_df = tiered.execute(q)
    got = {tuple(r[:2]): (r[2], round(r[3], 6), r[4])
           for r in got_df.collect()}
    assert got == want and len(got) > 0
    # inputFiles is truncation-proof where the plan's Location string is not
    assert any("rollup_1h" in f for f in got_df.inputFiles())
    # the 23-hour wall day really has fewer points per series
    mar10 = [v for (t, k), v in got.items() if str(t).startswith("2024-03-10")]
    mar09 = [v for (t, k), v in got.items() if str(t).startswith("2024-03-09")]
    assert mar10 and mar09 and mar10[0][0] < mar09[0][0]


def test_tz_fill_dst_day_tier_matches_raw(spark, tmp_path):
    """tz() + fill() tier serving across the spring-forward day: sparse
    hours around the transition leave real gaps, so every fill mode does
    work; the tier answer must equal raw bit-for-bit, including the
    ABSENT 02:00 wall label (nonexistent on 2024-03-10) and the filled
    gap rows."""
    from influxer_spark.operators.refresh import build_point_tiers

    rows = []
    for d, hours in ((9, range(0, 24, 2)), (10, (0, 1, 8, 14, 22)),
                     (11, range(1, 24, 3))):
        for h in hours:
            for k in ("a", "b"):
                rows.append(
                    (f"2024-03-{d:02d} {h:02d}:30:00", k, float(d * 100 + h))
                )
    ev = spark.createDataFrame(
        rows, ["ts", "event_type", "value"]
    ).withColumn("ts", F.to_timestamp("ts"))
    cat = TableCatalog(str(tmp_path / "cat"))
    build_point_tiers(spark, cat, ev, "ts", ["event_type"], "value")
    raw = InfluxQLEngine({"m": ev}, ts_col="ts")
    tiered = InfluxQLEngine({"m": ev}, ts_col="ts")
    tiered.register_tiered("m", cat, key_cols=("event_type",))
    for mode in ("0", "previous", "linear", "null"):
        q = (
            "SELECT count(value) AS cnt, sum(value) AS s FROM m"
            " WHERE time >= '2024-03-09 00:00:00'"
            " AND time < '2024-03-12 00:00:00'"
            f" GROUP BY time(1h), event_type fill({mode})"
            " tz('America/New_York')"
        )
        rnd = lambda x: None if x is None else round(x, 6)  # noqa: E731
        want = {tuple(r[:2]): (r[2], rnd(r[3]))
                for r in raw.execute(q).collect()}
        got_df = tiered.execute(q)
        got = {tuple(r[:2]): (r[2], rnd(r[3])) for r in got_df.collect()}
        assert got == want and len(got) > 0, mode
        assert any("rollup_1h" in f for f in got_df.inputFiles()), mode
        # the spine covers the WHERE range, gaps included, minus the
        # nonexistent spring-forward hour: 71 wall labels × 2 series
        assert len(got) == 71 * 2, mode


def test_tz_fill_spine_skips_nonexistent_wall_hour(spark):
    """Raw-path tz()+fill across US spring-forward: the spine must NOT
    manufacture the 02:00 wall label (that local hour does not exist on
    2024-03-10 in New York), and must emit the fall-back-style labels
    exactly once."""
    rows = [
        ("2024-03-10 05:30:00", "a", 1.0),  # 00:30 NY wall
        ("2024-03-10 09:30:00", "a", 2.0),  # 05:30 NY wall (gap: 01,03,04)
    ]
    ev = spark.createDataFrame(
        rows, ["ts", "event_type", "value"]
    ).withColumn("ts", F.to_timestamp("ts"))
    eng = InfluxQLEngine({"m": ev}, ts_col="ts")
    out = eng.execute(
        "SELECT count(value) AS cnt FROM m"
        " GROUP BY time(1h), event_type fill(0) tz('America/New_York')"
    ).collect()
    hours = sorted(r["time"].hour for r in out)
    assert hours == [0, 1, 3, 4, 5]  # 02:00 never exists on this wall day
    by_hour = {r["time"].hour: r["cnt"] for r in out}
    assert by_hour[0] == 1 and by_hour[5] == 1
    assert by_hour[1] == 0 and by_hour[3] == 0 and by_hour[4] == 0


def test_tz_fill_keeps_observed_dst_gap_boundary_label(spark):
    """America/Santiago springs forward at MIDNIGHT (2024-09-08 00:00 →
    01:00): the daily wall label 2024-09-08 00:00 fails the wall→UTC→wall
    round trip yet IS observed — wall-second floor assigns every instant of
    that 23-hour wall day to it.  fill(0) must not drop the data-carrying
    row: the round-trip filter applies only to manufactured (no-hit) spine
    labels (ADVICE r4 high)."""
    rows = [
        ("2024-09-07 12:00:00", "a", 1.0),  # 08:00 wall, Sep 7 (UTC-4)
        ("2024-09-08 04:30:00", "a", 2.0),  # 01:30 wall, Sep 8 (UTC-3)
        ("2024-09-08 15:00:00", "a", 3.0),  # 12:00 wall, Sep 8
    ]
    ev = spark.createDataFrame(
        rows, ["ts", "event_type", "value"]
    ).withColumn("ts", F.to_timestamp("ts"))
    eng = InfluxQLEngine({"m": ev}, ts_col="ts")
    q = (
        "SELECT count(value) AS cnt FROM m"
        " GROUP BY time(1d), event_type fill({f}) tz('America/Santiago')"
    )
    nofill = {
        str(r["time"])[:10]: r["cnt"]
        for r in eng.execute(q.format(f="none")).collect()
    }
    assert nofill == {"2024-09-07": 1, "2024-09-08": 2}
    for mode in ("0", "previous", "linear"):
        got = {
            str(r["time"])[:10]: r["cnt"]
            for r in eng.execute(q.format(f=mode)).collect()
        }
        assert got == nofill, mode  # no gap here — fill must be a no-op

    # EMPTY midnight-gap day: fill's one-row-per-bucket contract cannot
    # depend on data being present — the Sep 8 label renders zero-filled
    # even though 2024-09-08 00:00 itself does not exist as a wall time
    rows2 = [
        ("2024-09-07 12:00:00", "a", 1.0),  # Sep 7 wall
        ("2024-09-09 15:00:00", "a", 3.0),  # Sep 9 wall (Sep 8 empty)
    ]
    ev2 = spark.createDataFrame(
        rows2, ["ts", "event_type", "value"]
    ).withColumn("ts", F.to_timestamp("ts"))
    eng2 = InfluxQLEngine({"m": ev2}, ts_col="ts")
    got2 = {
        str(r["time"])[:10]: r["cnt"]
        for r in eng2.execute(q.format(f="0")).collect()
    }
    assert got2 == {"2024-09-07": 1, "2024-09-08": 0, "2024-09-09": 1}


def test_tz_percentile_served_from_hdr_tier(built_hdr):
    """tz() + hdr: a wall-clock daily percentile panel serves from the 1h
    sketch tier (hdr_1d cannot — wall days are not UTC-day aligned).  The
    sketch answer for a wall bucket must EQUAL re-bucketing the same 1h
    counter vectors by wall day through the operator API directly — the
    frontend adds routing, not new math."""
    from influxer_spark.operators import hdrsketch as H

    points, cat = built_hdr
    tiered = InfluxQLEngine({}, ts_col="warc_ts")
    tiered.register_tiered("pages", cat, key_cols=("url", "metric"), hdr=True)
    q = (
        "SELECT percentile(value, 95) AS p95 FROM pages"
        " GROUP BY time(1d), metric tz('America/New_York')"
    )
    df = tiered.execute(q)
    assert any("hdr_1h" in f for f in df.inputFiles())
    assert not any("hdr_1d" in f for f in df.inputFiles())
    got = {tuple(r[:2]): r["p95"] for r in df.collect()}

    spark = points.sparkSession
    h1 = cat.read_committed(spark, "hdr_1h").drop("day")
    merged = H.hdr_rebucket(h1, ["metric"], 86400, tz="America/New_York")
    ref = H.hdr_quantiles(merged, ["metric"], (0.95,))
    want = {(r["bucket"], r["metric"]): r["q95"] for r in ref.collect()}
    assert got == want and len(got) > 0


def test_tz_hdr_half_hour_zone_falls_back_to_raw(built_hdr):
    # no 1m sketch tier exists, so Asia/Kolkata percentiles stay raw
    points, cat = built_hdr
    tiered = InfluxQLEngine({"pages": points}, ts_col="warc_ts")
    tiered.register_tiered("pages", cat, key_cols=("url", "metric"), hdr=True)
    df = tiered.execute(
        "SELECT percentile(value, 95) AS p95 FROM pages"
        " GROUP BY time(1d), metric tz('Asia/Kolkata')"
    )
    assert not any("hdr_" in f for f in df.inputFiles())


def test_tz_approx_distinct_tier_matches_raw_path(built, spark):
    """tz() + KMV: the estimate is a pure function of each wall bucket's
    item set, so the tier-served wall-day panel must be IDENTICAL to the
    raw path's (which buckets per point via the tz-aware _bucket) — and
    it must read the 1h sketch tier, never kmv_1d (wall days are not
    UTC-day aligned)."""
    from influxer_spark.operators.kmv import build_kmv_tiers

    points, cat = built
    if not cat.committed_partitions("kmv_1h"):
        build_kmv_tiers(spark, cat, points, "warc_ts", ["metric"], "url", k=32)
    raw = InfluxQLEngine({"pages": points}, ts_col="warc_ts")
    tiered = InfluxQLEngine({"pages": points}, ts_col="warc_ts")
    tiered.register_tiered(
        "pages", cat, key_cols=("metric",), kmv_item_col="url"
    )
    q_raw = (
        "SELECT approx_count_distinct(url, 32) AS uu FROM pages"
        " GROUP BY time(1d), metric tz('America/New_York')"
    )
    q_tier = (
        "SELECT approx_count_distinct(url) AS uu FROM pages"
        " GROUP BY time(1d), metric tz('America/New_York')"
    )
    want = {(r["time"], r["metric"]): r["uu"]
            for r in raw.execute(q_raw).collect()}
    got_df = tiered.execute(q_tier)
    got = {(r["time"], r["metric"]): r["uu"] for r in got_df.collect()}
    assert got == want and len(got) > 0
    files = got_df.inputFiles()
    assert files and all("kmv_1h" in f for f in files)

    # half-hour zone: no 1m sketch tier → raw path (identical by purity)
    fb = tiered.execute(
        "SELECT approx_count_distinct(url) AS uu FROM pages"
        " GROUP BY time(1d), metric tz('Asia/Kolkata')"
    )
    assert not any("kmv_" in f for f in fb.inputFiles())
    assert fb.count() > 0


def test_tz_fill_gate_query_tier_serves_and_matches_duckdb(spark, sf_dir):
    """The influxql_tz_fill_tier_6h gate query really serves from the 1h
    tier (not raw) AND matches its DuckDB oracle at sf0.001 — the r5
    tz()+fill serving path value-proved locally before the driver sees
    it."""
    import duckdb

    from influxer_spark.influxql_queries import (
        influxql_oracle_sql,
        influxql_queries,
    )

    df = influxql_queries()["influxql_tz_fill_tier_6h"](spark, sf_dir)
    assert any("rollup_1h" in f for f in df.inputFiles())
    got = sorted(
        (r["bucket"], r["event_type"], r["cnt"], r["mn"])
        for r in df.collect()
    )
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW events AS SELECT * FROM '{sf_dir}/events.parquet'"
    )
    want = sorted(
        tuple(r)
        for r in con.execute(
            influxql_oracle_sql()["influxql_tz_fill_tier_6h"]
        ).fetchall()
    )
    assert got == want and len(got) > 0
    # the out-of-data-range spine rows really got manufactured + zeroed
    assert any(c == 0 for (_, _, c, _) in got)


def test_tz_offset_gate_query_tier_serves_and_matches_duckdb(spark, sf_dir):
    """influxql_tz_offset_tier_6h1h really serves from the 1h tier and
    matches its DuckDB oracle at sf0.001 — r5 tz()+offset serving
    value-proved locally before the driver sees it."""
    import duckdb

    from influxer_spark.influxql_queries import (
        influxql_oracle_sql,
        influxql_queries,
    )

    df = influxql_queries()["influxql_tz_offset_tier_6h1h"](spark, sf_dir)
    assert any("rollup_1h" in f for f in df.inputFiles())
    got = sorted(tuple(r) for r in df.collect())
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW events AS SELECT * FROM '{sf_dir}/events.parquet'"
    )
    want = sorted(
        tuple(r)
        for r in con.execute(
            influxql_oracle_sql()["influxql_tz_offset_tier_6h1h"]
        ).fetchall()
    )
    assert got == want and len(got) > 0
    # the offset grid really shifted: every bucket lands on HH:00 with
    # HH ≡ 1 (mod 6) in wall clock
    assert all(b.hour % 6 == 1 and b.minute == 0 for (b, *_rest) in got)


def test_approx_distinct_offset_grid_serves_from_tier(built, spark):
    """time(4h, 1h) KMV: the shifted grid keeps hour alignment, so the
    sketch tier serves and (KMV purity) the answer equals the raw path
    exactly; a sub-hour offset still falls back to raw."""
    from influxer_spark.operators.kmv import build_kmv_tiers

    points, cat = built
    if not cat.exists("kmv_1h"):
        build_kmv_tiers(
            spark, cat, points, "warc_ts", ["metric"], "url", k=32
        )
    raw = InfluxQLEngine({"pages": points}, ts_col="warc_ts")
    tiered = InfluxQLEngine({"pages": points}, ts_col="warc_ts")
    tiered.register_tiered(
        "pages", cat, key_cols=("metric",), kmv_item_col="url"
    )
    q_raw = (
        "SELECT approx_count_distinct(url, 32) AS uu FROM pages "
        "GROUP BY time(4h, 1h), metric"
    )
    q_tier = (
        "SELECT approx_count_distinct(url) AS uu FROM pages "
        "GROUP BY time(4h, 1h), metric"
    )
    want = {(r["time"], r["metric"]): r["uu"]
            for r in raw.execute(q_raw).collect()}
    got_df = tiered.execute(q_tier)
    got = {(r["time"], r["metric"]): r["uu"] for r in got_df.collect()}
    assert got == want and len(got) > 10
    assert all(t.hour % 4 == 1 for (t, _m) in got)  # grid really shifted
    files = got_df.inputFiles()
    assert files and all("kmv_1h" in f for f in files)
    # sub-hour offset: no sketch tier divides it → raw
    fb = tiered.execute(
        "SELECT approx_count_distinct(url) AS uu FROM pages "
        "GROUP BY time(4h, 30m), metric"
    )
    assert not any("kmv_1h" in f for f in fb.inputFiles())


def test_hdr_percentile_offset_grid_serves_from_tier(built_hdr):
    """time(6h, 1h) percentile panel: the 1h HDR sketch tier divides both
    width and offset, so it serves; answers equal re-bucketing the same
    counter vectors on the shifted grid through the operator API."""
    from influxer_spark.operators import hdrsketch as H

    points, cat = built_hdr
    tiered = InfluxQLEngine({}, ts_col="warc_ts")
    tiered.register_tiered("pages", cat, key_cols=("url", "metric"), hdr=True)
    q = (
        "SELECT percentile(value, 95) AS p95 FROM pages"
        " GROUP BY time(6h, 1h), metric"
    )
    df = tiered.execute(q)
    assert any("hdr_1h" in f for f in df.inputFiles())
    got = {tuple(r[:2]): r["p95"] for r in df.collect()}
    assert len(got) > 0 and all(t.hour % 6 == 1 for (t, _m) in got)

    spark = points.sparkSession
    h1 = cat.read_committed(spark, "hdr_1h").drop("day")
    merged = H.hdr_rebucket(h1, ["metric"], 6 * 3600, offset_seconds=3600)
    ref = H.hdr_quantiles(merged, ["metric"], (0.95,))
    want = {(r["bucket"], r["metric"]): r["q95"] for r in ref.collect()}
    assert got == want


def test_kmv_offset_gate_query_serves_from_sketch_tier(spark, sf_dir):
    """kmv_offset_tier_4h1h really reads the kmv_1h sketch tier (KMV
    purity makes tier ≡ raw in VALUE, so the route needs its own pin)."""
    from influxer_spark.influxql_queries import influxql_queries

    df = influxql_queries()["kmv_offset_tier_4h1h"](spark, sf_dir)
    files = df.inputFiles()
    assert files and all("kmv_1h" in f for f in files)
    rows = df.collect()
    assert len(rows) > 0
    assert all(r["bucket"].hour % 4 == 1 for r in rows)


def test_kmv_day_width_hour_bounds_fall_to_raw(built, spark):
    """A day-width KMV query with merely hour-aligned bounds must NOT
    serve from kmv_1d (an hour bound cuts day buckets mid-bucket) — the
    WHERE modulus tracks the exec-side table pick via
    _sketch_tier_seconds.  Day-aligned bounds DO serve from kmv_1d."""
    from influxer_spark.operators.kmv import build_kmv_tiers

    points, cat = built
    if not cat.exists("kmv_1h"):
        build_kmv_tiers(
            spark, cat, points, "warc_ts", ["metric"], "url", k=32
        )
    raw = InfluxQLEngine({"pages": points}, ts_col="warc_ts")
    tiered = InfluxQLEngine({"pages": points}, ts_col="warc_ts")
    tiered.register_tiered(
        "pages", cat, key_cols=("metric",), kmv_item_col="url"
    )
    days = sorted(cat.committed_partitions("kmv_1h"))
    lo, hi = days[0], days[-1]
    q_hour = (
        "SELECT approx_count_distinct(url) AS uu FROM pages"
        f" WHERE time >= '{lo} 06:00:00' AND time < '{hi} 06:00:00'"
        " GROUP BY time(1d), metric"
    )
    got_df = tiered.execute(q_hour)
    # falls all the way to raw (default k), never mis-filters kmv_1d
    files = got_df.inputFiles()
    assert not any("kmv_1d" in f or "kmv_1h" in f for f in files)
    want = {tuple(r[:2]): r[2] for r in raw.execute(q_hour).collect()}
    got = {tuple(r[:2]): r[2] for r in got_df.collect()}
    assert got == want and len(got) > 0

    q_day = (
        "SELECT approx_count_distinct(url) AS uu FROM pages"
        f" WHERE time >= '{lo}' AND time < '{hi}'"
        " GROUP BY time(1d), metric"
    )
    day_df = tiered.execute(q_day)
    if cat.exists("kmv_1d"):
        assert any("kmv_1d" in f for f in day_df.inputFiles())
    want2 = {
        tuple(r[:2]): r[2]
        for r in raw.execute(q_day.replace("(url)", "(url, 32)")).collect()
    }
    got2 = {tuple(r[:2]): r[2] for r in day_df.collect()}
    assert got2 == want2 and len(got2) > 0


def test_hdr_offset_gate_query_serves_from_sketch_tier(spark, sf_dir):
    """hdr_offset_tier_6h1h really reads the hdr_1h sketch tier, and the
    offset grid shows in the output labels."""
    from influxer_spark.influxql_queries import influxql_queries

    df = influxql_queries()["hdr_offset_tier_6h1h"](spark, sf_dir)
    files = df.inputFiles()
    assert files and all("hdr_1h" in f for f in files)
    rows = df.collect()
    assert len(rows) > 0
    assert all(r["bucket"].hour % 6 == 1 for r in rows)
