"""Driver-contract smoke tests for __spark_entry__."""

from __future__ import annotations

import __spark_entry__ as E


def test_entry_returns_rows(spark):
    df = E.entry(spark)
    rows = df.collect()
    assert len(rows) > 0
    assert set(df.columns) == {
        "bucket", "event_type", "cnt", "sum_v", "min_v", "max_v", "avg_v"
    }


def test_every_query_runs_at_sf0001(spark, sf_dir):
    for name, fn in E.queries().items():
        df = fn(spark, sf_dir)
        assert df.count() >= 0, name


def test_oracle_keys_subset_of_queries():
    q, o = set(E.queries()), set(E.oracle_sql())
    assert o <= q
    # every SQL-expressible query must carry an oracle; the only exceptions
    # are the declared rows-only entries, which must ALSO sit in the
    # window tail (so they never burn a driver value-check slot)
    rows_only = q - o
    assert rows_only <= set(E._WINDOW_TAIL), (
        f"{sorted(rows_only - set(E._WINDOW_TAIL))} have no oracle_sql entry "
        "but are not declared rows-only in _WINDOW_TAIL"
    )


def test_window_rotates_on_recorded_green_rows(tmp_path):
    """The gate window self-rotates: a query with a green hash_match row in
    any CORRECTNESS_r*.json sorts BEHIND never-proven queries, so each
    round's 50-entry window tiles the not-yet-proven set automatically."""
    import json

    qs = list(E._queries_unordered())
    window_now = [
        k for k in list(E.queries())[:50]
    ]
    # simulate the driver having proven the current window next round
    rec = {k: {"hash_match": True} for k in window_now}
    rec["rollup_1m"] = {"hash_match": False}  # a FAILED row must stay eligible
    (tmp_path / "CORRECTNESS_r99.json").write_text(json.dumps(rec))
    proven = E._driver_proven(str(tmp_path))
    assert set(window_now) <= proven
    assert "rollup_1m" not in proven
    # next-round ordering: none of the newly-proven names in the front 50
    base = [k for k in qs if k not in E._WINDOW_TAIL]
    nxt = [k for k in base if k not in proven][:50]
    assert not (set(nxt) & set(window_now))


def test_gate_window_never_repeats_proven_queries():
    """Every first-50 slot goes to a query without a green row in the
    recorded CORRECTNESS files (hard-signal budget is never wasted), for as
    long as unproven oracled queries remain."""
    proven = E._driver_proven()
    window = list(E.queries())[:50]
    unproven_total = [
        k for k in E._queries_unordered()
        if k not in proven and k not in E._WINDOW_TAIL
    ]
    expect_fresh = min(50, len(unproven_total))
    fresh = [k for k in window if k not in proven]
    assert len(fresh) >= expect_fresh


def test_gate_window_is_fully_value_oracled():
    """The driver records the FIRST 50 queries() entries: every one must
    carry a SQL oracle (rows-only entries belong at the tail, where they
    never burn a hard-signal slot)."""
    import __spark_entry__ as E

    window = list(E.queries())[:50]
    oracled = set(E.oracle_sql())
    missing = [n for n in window if n not in oracled]
    assert missing == [], missing
