"""Gap-fill + linear interpolation (SURVEY.md A5)."""

from __future__ import annotations

import datetime as dt

import pytest

from influxer_spark.operators.gapfill import (
    fill_buckets,
    gapfill_interpolate,
    gapfill_locf,
)


@pytest.fixture(scope="module")
def rolled(spark):
    # series "a": hours 0, 1, 4 observed (gap at 2, 3); series "b": hours 0, 2
    rows = [
        ("a", dt.datetime(2024, 1, 1, 0), 10.0),
        ("a", dt.datetime(2024, 1, 1, 1), 20.0),
        ("a", dt.datetime(2024, 1, 1, 4), 50.0),
        ("b", dt.datetime(2024, 1, 1, 0), 1.0),
        ("b", dt.datetime(2024, 1, 1, 2), 3.0),
    ]
    return spark.createDataFrame(rows, "key string, bucket timestamp, v double")


def test_linear_interpolation(rolled):
    out = gapfill_interpolate(rolled, ["key"], "v", "1h")
    got = {(r["key"], r["bucket"].hour): (r["v"], r["filled"]) for r in out.collect()}
    assert got[("a", 0)] == (10.0, False)
    assert got[("a", 1)] == (20.0, False)
    assert got[("a", 2)] == (30.0, True)  # 20 + (50-20) * 1/3
    assert got[("a", 3)] == (40.0, True)
    assert got[("a", 4)] == (50.0, False)
    assert got[("b", 1)] == (2.0, True)
    assert len(got) == 8  # 5 spine hours for a + 3 for b


def test_no_extrapolation_beyond_series_range(rolled):
    out = gapfill_interpolate(rolled, ["key"], "v", "1h")
    # spine is bounded by each series' own min/max bucket
    b_hours = sorted(r["bucket"].hour for r in out.filter("key = 'b'").collect())
    assert b_hours == [0, 1, 2]


def test_locf(rolled):
    out = gapfill_locf(rolled, ["key"], "v", "1h")
    got = {(r["key"], r["bucket"].hour): r["v"] for r in out.collect()}
    assert got[("a", 2)] == 20.0
    assert got[("a", 3)] == 20.0


def test_spine_is_dense_per_series(spark):
    rows = [
        ("k", dt.datetime(2024, 1, 1, 0), 1.0),
        ("k", dt.datetime(2024, 1, 3, 0), 2.0),
    ]
    df = spark.createDataFrame(rows, "key string, bucket timestamp, v double")
    out = gapfill_interpolate(df, ["key"], "v", "1d")
    assert out.count() == 3
    assert out.filter("filled").count() == 1


def test_null_key_series_keeps_its_observed_buckets(spark):
    """A NULL series key is one more series: its observed buckets stay
    observed and only its gap is filled, in every mode."""
    rows = [
        (None, dt.datetime(2024, 1, 1, 0, 0), 1.0),
        (None, dt.datetime(2024, 1, 1, 0, 2), 3.0),
        ("k", dt.datetime(2024, 1, 1, 0, 0), 5.0),
    ]
    df = spark.createDataFrame(rows, "key string, bucket timestamp, v double")
    want_gap = {"null": None, "previous": 1.0, "linear": 2.0, "value": 0.0}
    for mode, gap in want_gap.items():
        out = fill_buckets(df, ["key"], ["v"], 60, mode=mode, fill_value=0.0)
        got = {(r["key"], r["bucket"].minute): (r["v"], r["filled"])
               for r in out.collect()}
        assert got == {
            (None, 0): (1.0, False),
            (None, 1): (gap, True),
            (None, 2): (3.0, False),
            ("k", 0): (5.0, False),
        }, mode


def test_all_null_aggregate_is_observed_not_a_gap(spark):
    """The _hit marker: a bucket whose aggregate is NULL was observed, so
    fill(value) must not overwrite it."""
    rows = [
        ("k", dt.datetime(2024, 1, 1, 0, 0), 1.0),
        ("k", dt.datetime(2024, 1, 1, 0, 1), None),
        ("k", dt.datetime(2024, 1, 1, 0, 3), 4.0),
    ]
    df = spark.createDataFrame(rows, "key string, bucket timestamp, v double")
    out = fill_buckets(df, ["key"], ["v"], 60, mode="value", fill_value=-1.0)
    got = {r["bucket"].minute: (r["v"], r["filled"]) for r in out.collect()}
    assert got == {0: (1.0, False), 1: (None, False), 2: (-1.0, True),
                   3: (4.0, False)}


def test_spine_bounds_pin_the_range_and_drop_outside_buckets(spark):
    rows = [
        ("k", dt.datetime(2024, 1, 1, 0, 0), 1.0),
        ("k", dt.datetime(2024, 1, 1, 0, 2), 3.0),
    ]
    df = spark.createDataFrame(rows, "key string, bucket timestamp, v double")
    out = fill_buckets(
        df, ["key"], ["v"], 60, mode="previous",
        spine_bounds=(dt.datetime(2024, 1, 1, 0, 1),
                      dt.datetime(2024, 1, 1, 0, 4)),
    )
    got = {r["bucket"].minute: (r["v"], r["filled"]) for r in out.collect()}
    # minute 0 lies before the pinned range; minute 1 has nothing to carry
    assert got == {1: (None, True), 2: (3.0, False), 3: (3.0, True),
                   4: (3.0, True)}
