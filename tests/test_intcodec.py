"""Integer codec (zigzag deltas + simple8b words + RLE/raw modes).

Contract: lossless roundtrip over the full int64 domain, RLE on
constant-delta series, raw fallback past 2^60 zigzag, and the Spark
per-series path reproduces the tier exactly (same harness contract as
the Gorilla float path it mirrors).
"""

from __future__ import annotations

import numpy as np
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from influxer_spark.operators import intcodec as IC


def _roundtrip(t, v):
    t = np.asarray(t, dtype=np.int64)
    v = np.asarray(v, dtype=np.int64)
    t2, v2 = IC.decode_int(IC.encode_int(t, v))
    assert np.array_equal(t, t2)
    assert np.array_equal(v, v2)


def test_empty_single_and_pair():
    _roundtrip([], [])
    _roundtrip([5], [-9])
    _roundtrip([0, 60], [7, 7])


def test_typical_count_series_compresses():
    rng = np.random.default_rng(7)
    t = np.arange(0, 60 * 10000, 60, dtype=np.int64)
    v = rng.integers(0, 10, 10000).cumsum()
    blob = IC.encode_int(t, v)
    _roundtrip(t, v)
    # evenly spaced ts → RLE; small count deltas → a few bits each
    assert len(blob) / len(t) < 1.0  # < 1 byte/point vs 16 raw


def test_constant_series_is_rle_sized():
    t = np.arange(100, dtype=np.int64) * 3600
    v = np.full(100, 42, dtype=np.int64)
    assert len(IC.encode_int(t, v)) < 60


def test_raw_fallback_extreme_values():
    rng = np.random.default_rng(1)
    t = np.sort(rng.integers(0, 2**45, 64).astype(np.int64))
    v = rng.integers(-(2**62), 2**62, 64).astype(np.int64)
    _roundtrip(t, v)


def test_zigzag_is_involutive_on_domain_edges():
    v = np.array(
        [0, -1, 1, 2**62, -(2**62), np.iinfo(np.int64).max,
         np.iinfo(np.int64).min + 1],
        dtype=np.int64,
    )
    assert np.array_equal(IC.unzigzag(IC.zigzag(v)), v)


def test_simple8b_pack_unpack_all_widths():
    rng = np.random.default_rng(3)
    for w in IC._WIDTHS:
        vals = rng.integers(0, 2**w, 137).astype(np.uint64)
        got = IC.unpack_simple8b(IC.pack_simple8b(vals), len(vals))
        assert np.array_equal(got, vals)


def test_vectorized_pack_unpack_match_reference():
    rng = np.random.default_rng(11)
    for trial in range(50):
        n = int(rng.integers(0, 400))
        # mixed-width stream exercises selector switching
        width = rng.integers(1, 60, max(n, 1))
        vals = (rng.integers(0, 2**53, max(n, 1)) % (1 << width))[:n].astype(
            np.uint64
        )
        words_v = IC.pack_simple8b(vals)
        words_r = IC.pack_simple8b_ref(vals)
        assert words_v == words_r, trial
        if n:
            assert np.array_equal(
                IC.unpack_simple8b(words_v, n), IC.unpack_simple8b_ref(words_v, n)
            )


def test_unpack_rejects_wrong_count():
    vals = np.arange(100, dtype=np.uint64)
    words = IC.pack_simple8b(vals)
    with pytest.raises(ValueError):
        IC.unpack_simple8b(words, 400)


@settings(max_examples=60, deadline=None)
@given(
    st.lists(
        st.tuples(
            st.integers(0, 2**45),
            st.integers(-(2**52), 2**52),
        ),
        max_size=200,
    )
)
def test_roundtrip_property(pairs):
    t = np.sort(np.array([p[0] for p in pairs], dtype=np.int64))
    v = np.array([p[1] for p in pairs], dtype=np.int64)
    _roundtrip(t, v)


def test_series_df_roundtrip_matches_rollup(spark, sf_dir):
    from influxer_spark.operators.rollup import rollup

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    t1m = rollup(ev, "ts", ["event_type"], "value", "1m")
    enc = IC.encode_int_series_df(t1m, ["event_type"], "bucket", "cnt")
    dec = IC.decode_int_series_df(enc).select(
        F.element_at("series_keys", 1).alias("event_type"),
        F.col("ts").alias("bucket"),
        F.col("value").alias("cnt"),
    )
    a = {(r["event_type"], r["bucket"]): r["cnt"] for r in dec.collect()}
    b = {
        (r["event_type"], r["bucket"]): r["cnt"]
        for r in t1m.select("event_type", "bucket", "cnt").collect()
    }
    assert a == b
    stats = enc.agg(
        F.sum("raw_bytes").alias("raw"), F.sum("encoded_bytes").alias("enc")
    ).collect()[0]
    assert stats["enc"] < stats["raw"] / 4  # ≥4× on real tier counts


def test_dual_encode_matches_single_codecs(spark, sf_dir):
    """encode_dual_series_df = one shuffle/one pass, but its blobs must be
    bit-identical to the two single-codec paths (Gorilla on the float col,
    simple8b on the int col), series for series."""
    from influxer_spark.operators.gorilla import encode_series_df
    from influxer_spark.operators.rollup import rollup

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    t1m = rollup(ev, "ts", ["event_type"], "value", "1m").withColumn(
        "v", F.col("sum_v") / F.col("cnt")
    )
    dual = {
        tuple(r["series_keys"]): r
        for r in IC.encode_dual_series_df(
            t1m, ["event_type"], "bucket", "v", "cnt"
        ).collect()
    }
    gor = {
        tuple(r["series_keys"]): r
        for r in encode_series_df(t1m, ["event_type"], "bucket", "v").collect()
    }
    ints = {
        tuple(r["series_keys"]): r
        for r in IC.encode_int_series_df(
            t1m, ["event_type"], "bucket", "cnt"
        ).collect()
    }
    assert set(dual) == set(gor) == set(ints) and dual
    for k, d in dual.items():
        assert bytes(d["gor_blob"]) == bytes(gor[k]["blob"]), k
        assert d["gor_bytes"] == gor[k]["encoded_bytes"]
        assert bytes(d["int_blob"]) == bytes(ints[k]["blob"]), k
        assert d["int_bytes"] == ints[k]["encoded_bytes"]
        assert d["n_points"] == gor[k]["n_points"] == ints[k]["n_points"]
        assert d["raw_bytes"] == gor[k]["raw_bytes"]


# --- strided layout: deltas divided by their GCD, varint headers ----------

_I64 = np.iinfo(np.int64)
# 28 bucket starts of one day on the 1m grid, gaps irregular: the shape of
# an archive series-day
_MINUTES = [37, 113, 140, 237, 253, 405, 427, 504, 517, 526, 662, 869, 906,
            914, 933, 1003, 1029, 1044, 1083, 1125, 1182, 1203, 1226, 1290,
            1320, 1386, 1427, 1437]


@settings(max_examples=80, deadline=None)
@given(
    st.one_of(
        st.sampled_from([1, 60, 3600, 86400]),
        st.integers(min_value=1, max_value=10**6),
    ),
    st.integers(0, 2**40),
    st.lists(st.tuples(st.integers(-50, 1440), st.integers(-(2**20), 2**20)),
             max_size=200),
    st.sampled_from([1, 100, 7]),
)
def test_strided_roundtrip_property(stride, t0, steps, v_unit):
    """Timestamps whose gaps are random multiples of a stride (negative
    ones too) and values on a unit grid (sum-cents are multiples of 100)."""
    gaps = [g for g, _ in steps]
    t = t0 + stride * np.concatenate(([0], np.cumsum(gaps))).astype(np.int64)
    v = v_unit * np.concatenate(([0], np.cumsum([d for _, d in steps])))
    _roundtrip(t, v)


def test_int64_edges_take_the_raw_mode():
    edges = np.array([_I64.min, _I64.max, 0, -1, _I64.min + 1, 2**62],
                     dtype=np.int64)
    _roundtrip(edges, edges)
    _roundtrip(np.arange(len(edges)) * 60, edges[::-1])
    blob = IC.encode_int(np.arange(len(edges)) * 60, edges)
    # t0, d0, v0 varints, the RLE ts block, then a raw value block: its
    # mode byte and the wrapped int64 deltas
    raw = np.diff(edges).astype("<i8").tobytes()
    assert blob.endswith(bytes([IC._MODE_RAW]) + raw)


def test_constant_series_take_rle_blocks():
    t = 1_700_000_000 + 3600 * np.arange(500, dtype=np.int64)
    v = np.full(500, -12, dtype=np.int64)
    blob = IC.encode_int(t, v)
    _roundtrip(t, v)
    # [n:4] + 3 varints + two (mode byte + one varint) blocks
    assert len(blob) <= 4 + 3 * 10 + 2 * 2, len(blob)


def test_hundreds_divide_out_of_the_value_block():
    t = 60 * np.arange(1000, dtype=np.int64)
    rng = np.random.default_rng(8)
    steps = rng.integers(-7, 8, 1000)
    unit = IC.encode_int(t, steps.cumsum())
    cents = IC.encode_int(t, 100 * steps.cumsum())
    _roundtrip(t, 100 * steps.cumsum())
    # the ×100 costs the divisor varint and v0's wider varint, nothing more
    assert len(cents) <= len(unit) + 3


def test_unmarked_old_layout_blob_is_rejected():
    """Blobs from before the strided layout (no mark bit in the leading
    count) fail loudly and name the rebuild."""
    import struct

    old_empty = struct.pack("<I", 0)
    old_pair = struct.pack("<Iqqq", 2, 0, 60, 5) + bytes(26)
    for blob in (old_empty, old_pair):
        with pytest.raises(ValueError, match="rebuild the archive"):
            IC.decode_int(blob)


def test_sparse_minute_series_is_under_60_percent_of_the_old_layout():
    """An archive-shaped series-day: the layout with a fixed <Iqqq header,
    fixed block headers and undivided deltas encoded its counts to 118
    bytes and its sum-cents to 150."""
    t = 1_704_067_200 + 60 * np.array(_MINUTES, dtype=np.int64)
    cnt = np.array([1 + (i * 5) % 3 for i in range(len(t))], dtype=np.int64)
    cents = 100 * cnt * np.array([(i * 3) % 5 for i in range(len(t))])
    for v, old in ((cnt, 118), (cents, 150)):
        _roundtrip(t, v)
        assert len(IC.encode_int(t, v)) < 0.6 * old, (len(IC.encode_int(t, v)), old)
