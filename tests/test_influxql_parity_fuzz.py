"""Property-based tier-vs-raw parity: ANY statement the tiered engine
accepts must answer exactly like the raw engine, whichever path routing
picks.  The round-2 `GROUP BY time(), *` silent wrong answer was exactly
this bug class — a hand-written sweep can only pin the shapes someone
thought of; hypothesis explores the cross product (aggregate subsets ×
widths incl. non-divisors × tag groupings × fills × where × order/limit
× SLIMIT × bucket offsets × WHERE time bounds) and shrinks any
divergence to a minimal statement.  The route itself must be a pure
function of the statement: planning it twice gives the same route."""

from __future__ import annotations

import datetime as dt
import math

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from influxer_spark.catalog import TableCatalog
from influxer_spark.datagen import generate_pages
from influxer_spark.extract import pages_to_points, with_crawl_metrics, with_extracted
from influxer_spark.influxql_frontend import InfluxQLEngine, parse, parse_duration
from influxer_spark.pipeline import run_pipeline
from influxer_spark.query import TIER_SECONDS, select_tier

_AGGS = ["count", "sum", "mean", "min", "max", "spread"]
_WIDTHS = ["30m", "1h", "90m", "2h", "4h", "7h", "12h", "1d", "49h"]
_METRICS = ["n_tokens", "html_bytes", "text_bytes"]
_OFFSETS = ["", "30m", "1h", "90s"]
_DAY0 = dt.datetime(2024, 3, 1)  # generate_pages' first day


def _time_range(kind: str, width: str, offset: str) -> str:
    """WHERE time bounds of one kind: none, day-aligned, aligned to the
    serving tier (the coarsest tier dividing width and offset) but
    generally not to the width, or mid-minute."""
    if kind == "none":
        return ""
    lo, hi = _DAY0, _DAY0 + dt.timedelta(days=2)
    if kind == "tier":
        g = math.gcd(int(parse_duration(width)),
                     int(parse_duration(offset)) if offset else 0)
        step = dt.timedelta(seconds=TIER_SECONDS[select_tier(g)])
        lo, hi = lo + step, hi + step
    elif kind == "unaligned":
        lo += dt.timedelta(seconds=30)
    return f"time >= '{lo:%Y-%m-%d %H:%M:%S}' AND time < '{hi:%Y-%m-%d %H:%M:%S}'"


@pytest.fixture(scope="module")
def engines(spark, tmp_path_factory):
    d = tmp_path_factory.mktemp("fuzz")
    pages = generate_pages(str(d / "pg"), n_rows=2400, seed=7, days=3)
    root = str(d / "cat")
    run_pipeline(spark, pages, root, encode_gorilla=False)
    points = pages_to_points(
        with_crawl_metrics(with_extracted(spark.read.parquet(pages)))
    ).cache()
    points.count()
    raw = InfluxQLEngine({"pages": points}, ts_col="warc_ts")
    tiered = InfluxQLEngine({"pages": points}, ts_col="warc_ts")
    tiered.register_tiered("pages", TableCatalog(root), key_cols=("url", "metric"))
    return raw, tiered


@st.composite
def statements(draw):
    aggs = draw(
        st.lists(st.sampled_from(_AGGS), min_size=1, max_size=3, unique=True)
    )
    tr = draw(
        st.sampled_from(
            ["", "derivative", "difference", "cumulative_sum",
             "moving_average:3"]
        )
    )
    if tr and len(aggs) == 1:
        # chain-window transforms over the (possibly tier-served) aggregate
        name, _, arg = tr.partition(":")
        inner = f"{aggs[0]}(value)"
        call = f"{name}({inner}, {arg})" if arg else f"{name}({inner})"
        proj = f"{call} AS t_{name}"
    else:
        proj = ", ".join(f"{a}(value) AS a_{a}" for a in aggs)
    width = draw(st.sampled_from(_WIDTHS))
    offset = draw(st.sampled_from(_OFFSETS))
    tags = draw(st.sampled_from(["", ", metric", ", metric, url", ", *"]))
    conds = [
        c for c in (
            draw(st.sampled_from(
                ["", f"metric = '{draw(st.sampled_from(_METRICS))}'"]
            )),
            _time_range(
                draw(st.sampled_from(["none", "day", "tier", "unaligned"])),
                width, offset,
            ),
        ) if c
    ]
    where = f" WHERE {' AND '.join(conds)}" if conds else ""
    grid = f"{width}, {offset}" if offset else width
    fill = draw(st.sampled_from(["", " fill(none)", " fill(0)", " fill(previous)"]))
    order = draw(st.sampled_from(["", " ORDER BY time DESC"]))
    limit = draw(st.sampled_from(["", " LIMIT 5", " LIMIT 7 OFFSET 2"]))
    slimit = draw(st.sampled_from(["", " SLIMIT 3"])) if tags else ""
    return (
        f"SELECT {proj} FROM pages{where} "
        f"GROUP BY time({grid}){tags}{fill}{order}{limit}{slimit}"
    )


@settings(
    max_examples=25,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(q=statements())
def test_any_tiered_statement_matches_raw(engines, q):
    raw, tiered = engines
    stmt = parse(q)
    assert tiered._plan_route(stmt) == tiered._plan_route(stmt), q
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
