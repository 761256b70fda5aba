"""Physical-plan regression tests (SURVEY.md §4): the properties that make
the engine scale must be visible in the plan, not just hoped for —
column pruning at the scan, predicate pushdown for partition/row-group
pruning, broadcast (not sort-merge) dim joins, and window frames sharing
one sort/exchange.
"""

from __future__ import annotations

import re

import pytest

import __spark_entry__ as E
from influxer_spark.datagen import generate_pages
from influxer_spark.pipeline import _pending_filter


def _fmt(spark, df) -> str:
    mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
        "formatted"
    )
    return df._jdf.queryExecution().explainString(mode)


@pytest.fixture(scope="module")
def plans(spark, sf_dir):
    qs = E.queries()
    return {
        name: _fmt(spark, qs[name](spark, sf_dir))
        for name in [
            "rollup_1m", "revenue_by_nation", "retention_candidates",
            "gapfill_1h_interpolate",
        ]
    }


def test_rollup_scan_prunes_columns(plans):
    m = re.search(r"ReadSchema: struct<([^>]*)>", plans["rollup_1m"])
    assert m, "no ReadSchema in plan"
    cols = {c.split(":")[0] for c in m.group(1).split(",")}
    assert cols == {"ts", "event_type", "value"}, cols


def test_dim_joins_broadcast_not_sortmerge(plans):
    p = plans["revenue_by_nation"]
    assert "BroadcastHashJoin" in p
    assert "SortMergeJoin" not in p


def test_retention_uses_anti_join(plans):
    assert "LeftAnti" in plans["retention_candidates"]


def test_gapfill_windows_share_one_sort(plans):
    """Both interpolation windows partition+order identically — Catalyst must
    stack them on ONE sort with no exchange in between."""
    p = plans["gapfill_1h_interpolate"]
    ops = [
        m.group(1)
        for m in re.finditer(r"^\s*\(\d+\) (Exchange|Sort|Window)", p, re.M)
    ]
    first_w = ops.index("Window")
    between = ops[first_w : len(ops) - ops[::-1].index("Window")]
    assert "Exchange" not in between, ops
    assert between.count("Window") >= 2


def test_tier_fill_spine_reuses_the_series_partitioning(spark, sf_dir, tmp_path):
    """A tier-served GROUP BY time() fill(previous) costs two exchanges: the
    re-bucketing aggregate and fill's one per-series aggregate.  The LOCF
    window runs on that aggregate's partitioning, with no exchange of its
    own and no join."""
    from influxer_spark.catalog import TableCatalog
    from influxer_spark.influxql_frontend import InfluxQLEngine
    from influxer_spark.operators.refresh import build_point_tiers

    ev = spark.read.parquet(f"{sf_dir}/events.parquet").withColumnRenamed(
        "event_type", "metric"
    )
    cat = TableCatalog(str(tmp_path / "cat"))
    build_point_tiers(spark, cat, ev, "ts", ["metric"], "value")
    eng = InfluxQLEngine({}, ts_col="ts")
    eng.register_tiered("m", cat, key_cols=("metric",))
    q = "SELECT mean(value) FROM m GROUP BY time(5m), metric fill(previous)"
    route = eng.execute(f"EXPLAIN {q}").collect()[0]["plan"]
    assert route.startswith("route: rollup — rollup_1m, "), route
    plan = _fmt(spark, eng.execute(q))
    assert len(re.findall(r"^\s*\(\d+\) Exchange", plan, re.M)) == 2, plan
    assert "Join" not in plan, plan


def test_day_filter_pushes_to_scan(spark, tmp_path):
    path = generate_pages(str(tmp_path), n_rows=2000, seed=42, days=3)
    pages = spark.read.parquet(path)
    day = sorted(
        r[0]
        for r in pages.selectExpr("date_format(warc_ts, 'yyyy-MM-dd')")
        .distinct().collect()
    )[1]
    df = pages.filter(_pending_filter(pages, [day])).select("url")
    p = _fmt(spark, df)
    m = re.search(r"PushedFilters: \[([^\]]*)\]", p)
    assert m, "no PushedFilters in scan"
    assert "GreaterThanOrEqual(warc_ts" in m.group(1), m.group(1)
    assert "LessThan(warc_ts" in m.group(1), m.group(1)


@pytest.fixture(scope="module")
def plans2(spark, sf_dir):
    qs = E.queries()
    return {
        name: _fmt(spark, qs[name](spark, sf_dir))
        for name in ["line_dedup_corpus", "bm25_topk_terms", "pii_scrub_counts",
                     "token_doc_freq"]
    }


def test_line_dedup_no_expand_no_cross(plans2):
    """line-frequency table must be a two-level plain aggregation (no Expand
    from countDistinct) and the freq join must not be a cartesian product."""
    p = plans2["line_dedup_corpus"]
    assert "Expand" not in p
    assert "CartesianProduct" not in p and "BroadcastNestedLoopJoin" not in p


def test_token_doc_freq_two_plain_aggs(plans2):
    p = plans2["token_doc_freq"]
    assert "Expand" not in p
    # top-k is a heap, not a global sort of the vocabulary
    assert "TakeOrderedAndProject" in p


def test_bm25_broadcasts_term_side(plans2):
    """The few-row term/idf frames broadcast; the corpus side must never
    sort-merge against them. The final top-k is a per-partition heap."""
    p = plans2["bm25_topk_terms"]
    assert "BroadcastHashJoin" in p
    assert "TakeOrderedAndProject" in p


def test_pii_scrub_stays_in_codegen(plans2):
    """Regex scrub is pure Column exprs — no Python UDF eval node, one scan,
    no shuffle at all (Exchange absent)."""
    p = plans2["pii_scrub_counts"]
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p
    assert "Exchange" not in p


@pytest.fixture(scope="module")
def plans3(spark, sf_dir):
    qs = E.queries()
    return {
        name: _fmt(spark, qs[name](spark, sf_dir))
        for name in [
            "influxql_ema_series", "lttb_downsample_50",
            "sketch_distinct_tiers", "asof_join_tolerance_2h",
        ]
    }


def test_recurrence_fold_adds_one_exchange_no_python(plans3):
    """Hourly agg (1 exchange) + the fold's groupBy(series) (1 exchange):
    the recurrence itself costs exactly one extra shuffle and stays
    JVM-side — higher-order functions, no Python workers."""
    p = plans3["influxql_ema_series"]
    assert len(re.findall(r"^\s*\(\d+\) Exchange", p, re.M)) == 2
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p
    assert len(re.findall(r"^\s*\(\d+\) Scan parquet", p, re.M)) == 1


def test_lttb_adds_one_exchange_no_python(plans3):
    p = plans3["lttb_downsample_50"]
    assert len(re.findall(r"^\s*\(\d+\) Exchange", p, re.M)) == 2
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p


def test_sketch_tiers_never_rescan_raw(plans3):
    """1m -> 1h -> 1d is three exchanges, each over ROLLED data; exactly
    one scan of events feeds the whole chain, and the HLL agg is a JVM
    aggregate (no Python)."""
    p = plans3["sketch_distinct_tiers"]
    assert len(re.findall(r"^\s*\(\d+\) Scan parquet", p, re.M)) == 1
    assert len(re.findall(r"^\s*\(\d+\) Exchange", p, re.M)) == 3
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p


def test_asof_tolerance_stays_union_window(plans3):
    """Tolerance must not change the as-of plan shape: still the
    union+window formulation — no range join fan-out, no nested loop."""
    p = plans3["asof_join_tolerance_2h"]
    assert "BroadcastNestedLoopJoin" not in p and "CartesianProduct" not in p
    assert "Window" in p


def test_locf_single_window_single_sort(spark, sf_dir):
    """gapfill_locf must be ONE backward window on one sort — the round-2
    regression came from routing LOCF through the interpolation path (two
    window directions + a third pass = three sorts)."""
    qs = E.queries()
    p = _fmt(spark, qs["gapfill_1h_locf"](spark, sf_dir))
    ops = [
        m.group(1)
        for m in re.finditer(r"^\s*\(\d+\) (Sort|Window)", p, re.M)
    ]
    assert ops.count("Window") == 1, ops
    assert ops.count("Sort") <= 2, ops  # join sort(s) + the window sort


def test_twa_rollup_cascade_two_exchanges(spark, sf_dir):
    """TWA 1m→1h: the dedup window, lead window, and summary groupBy ride
    ONE raw-data exchange on (series, bucket); the cascade adds one
    tier-sized exchange.  A third exchange means EnsureRequirements
    re-partitioned for the dedup window's full key again (the regression
    the explicit repartition prevents)."""
    from influxer_spark.operators import timeweight as TW

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    t1h = TW.twa_cascade(
        TW.twa_rollup(ev, "ts", ["event_type"], "value", "1m"),
        ["event_type"], "1h",
    )
    plan = _fmt(spark, t1h)
    n_ex = len(re.findall(r"^\s*\(\d+\) Exchange", plan, re.M))
    assert n_ex == 2, plan


def test_heavy_hitters_query_exchange_budget(spark, sf_dir):
    """MG tiers: raw shuffles once on (bucket, series, item); the MG
    compression, cascade merge, and top-k read add only summary-sized
    exchanges (4 total), never a second raw-sized one."""
    from influxer_spark.operators import heavyhitters as HH

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    top = HH.topk_query(
        HH.topk_cascade(
            HH.topk_rollup(ev, "ts", ["event_type"], "user_id", "1h", 256),
            ["event_type"], "1d", 256,
        ),
        ["event_type"], 5,
    )
    plan = _fmt(spark, top)
    n_ex = len(re.findall(r"^\s*\(\d+\) Exchange", plan, re.M))
    assert n_ex <= 5, plan


def test_alert_states_single_exchange_codegen(spark, sf_dir):
    """alert_states is one lag window on the series sort: exactly one
    exchange, and the level CASE + edge filter stay in whole-stage codegen
    (no Python workers in a monitoring primitive)."""
    from influxer_spark.operators.influxql import alert_states

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    out = alert_states(ev, ["event_type"], "ts", "value", 100.0, 150.0)
    plan = _fmt(spark, out)
    assert len(re.findall(r"^\s*\(\d+\) Exchange", plan, re.M)) == 1, plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_refresh_detection_is_one_partial_agg(spark, sf_dir):
    """Staleness detection must stay a partial-aggregated per-day count
    (one exchange) over a pruned scan — detection cost is what makes
    refresh viable as a scheduled job at catalog scale."""
    from influxer_spark.operators.refresh import _day

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    from pyspark.sql import functions as F

    counts = ev.groupBy(_day("ts")).agg(F.count("*").alias("n"))
    plan = _fmt(spark, counts)
    assert len(re.findall(r"^\s*\(\d+\) Exchange", plan, re.M)) == 1, plan
    assert "partial_count" in plan or "partial" in plan.lower(), plan


def test_sumsq_tier_read_single_raw_exchange(spark, sf_dir):
    """Power-sum tiers: 1m rollup shuffles raw ONCE; the 1h cascade and
    the stddev derivation add only tier-sized exchanges (2 total) and no
    Python — variance from exact integers is a pure JVM expression."""
    from influxer_spark.operators import rollup as R

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    out = R.with_stddev(
        R.cascade_with_sumsq(
            R.rollup_with_sumsq(ev, "ts", ["event_type"], "value", "1m"),
            ["event_type"], "1h",
        )
    )
    plan = _fmt(spark, out)
    assert len(re.findall(r"^\s*\(\d+\) Exchange", plan, re.M)) == 2, plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_tvd_drift_never_rescans_raw(spark, sf_dir):
    """Drift reads SKETCH rows only: every scan in the plan is over the
    sketch frame's lineage (one hdr_rollup raw pass), and the joins are
    summary-sized — a second raw-sized exchange would mean the operator
    recomputed vectors instead of reusing the tier."""
    from influxer_spark.operators import hdrsketch as H

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    d1 = H.hdr_cascade(
        H.hdr_rollup(ev, "ts", ["event_type"], "value", "1h"),
        ["event_type"], "1d",
    )
    plan = _fmt(spark, H.hdr_tvd_drift(d1, ["event_type"], 86400))
    # raw scans: events.parquet appears once per branch of the self-join
    # lineage (cur/prev/totals share the cached tier in production; here
    # the budget is the exchange count — all post-sketch joins are
    # summary-keyed)
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    n_ex = len(re.findall(r"^\s*\(\d+\) Exchange", plan, re.M))
    assert n_ex <= 12, plan


def test_kmv_set_estimates_sketch_row_join(spark, sf_dir):
    """Set algebra joins SKETCH rows (≤ k bigints each) on (bucket) —
    array math stays in codegen, no Python, and no raw-keyed exchange
    beyond the sketch build's own."""
    from influxer_spark.operators import kmv as KMV

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    sk = KMV.kmv_sketch(ev, "ts", ["event_type"], "user_id", "1d", 64)
    plan = _fmt(spark, KMV.kmv_set_estimates(sk, "event_type", k=64))
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "CartesianProduct" not in plan and "BroadcastNestedLoop" not in plan


def test_centroid_cosine_groups_then_broadcasts(spark, sf_dir):
    """Centroid pair join is GROUP-level and broadcast: the only big
    exchange is the (group, pos) partial-agg shuffle; the pair join must
    be a BroadcastHashJoin (inequality is a post-join filter), never a
    sort-merge or nested loop over doc rows."""
    from influxer_spark.operators.similarity import centroid_cosine

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    plan = _fmt(spark, centroid_cosine(emb, "label", "embedding"))
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoop" in plan, plan
    assert "SortMergeJoin" not in plan, plan
