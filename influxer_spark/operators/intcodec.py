"""Integer time-series compression: zigzag deltas packed simple8b-style.

Gorilla XOR (gorilla.py) is the float path; tier COUNT columns (and any
monotone integer series — cumulative counters, byte totals) compress far
better as integers.  InfluxDB's TSM engine — the storage backend the
reference pushes to via ``client.PostPointsAsync``
(Influxer/GenericFile.cs:303) — stores integers as zigzag-encoded deltas
packed with Simple8b (Anh & Moffat, "Index compression using 64-bit
words", Softw. Pract. Exper. 2010), with an RLE fast path when all
deltas are identical.  This module implements that design natively:

- header: the point count as a little-endian uint32 whose top bit marks
  this layout, then t0, the first delta and v0 as zigzag varints;
- timestamps: delta-of-deltas → divided by their GCD → zigzag → packed
  (evenly spaced buckets — the normal tier shape — collapse to one RLE
  block; sparse bucket starts on the 60 s grid pack as multiples of 1);
- values: deltas → divided by their GCD → zigzag → packed (sum-cents of
  integer metrics are multiples of 100).

Each block is a mode byte, then: RLE — the delta as a zigzag varint; S8B
— the divisor and the word count as varints, then the words; raw — the
int64 deltas.  A block's length is implied by the blob's n (n-2
delta-of-deltas, n-1 value deltas); an empty block is not written.  The
divisor and varint helpers are gorilla.py's, shared by every packed
stream.  Blobs from before this layout fail to decode with
``ValueError``; rebuild such an archive with
``refresh_pipeline(..., force_days=...)``.

Packing variant (documented, deliberately NOT byte-compatible with any
particular implementation): 64-bit words, 4-bit selector in the top
bits, widths 1,2,3,4,5,6,7,8,10,12,15,20,30,60 packing 60,…,1 values
per word.  The 240/120-run selectors of classic Simple8b are omitted —
whole-block runs take the RLE mode instead, which strictly dominates
them.  Values ≥ 2⁶⁰ after zigzag fall back to a raw block (mode 2), so
nothing is ever unrepresentable.

Execution shape: same as the Gorilla path — numpy-vectorized
delta/zigzag, a Python pack loop only over the (already tiny) width
array, all inside ``mapInPandas`` per partition via
``gorilla.carry_partition`` (one Python call per partition, not per
series).
"""

from __future__ import annotations

import struct

import numpy as np
import pandas as pd

from influxer_spark.operators.gorilla import (
    carry_partition,
    divide_stream,
    epoch_seconds,
    get_svarint,
    get_uvarint,
    marked_count,
    put_svarint,
    put_uvarint,
    unmarked_count,
)

# width → how many values one 60-bit payload holds; selector = index + 1
_WIDTHS = [1, 2, 3, 4, 5, 6, 7, 8, 10, 12, 15, 20, 30, 60]
_COUNTS = [60 // w for w in _WIDTHS]
_MODE_RLE, _MODE_S8B, _MODE_RAW = 0, 1, 2


def zigzag(v: np.ndarray) -> np.ndarray:
    """Signed → unsigned, small magnitudes staying small: (v<<1) ^ (v>>63)."""
    v = v.astype(np.int64, copy=False)
    return ((v.astype(np.uint64) << np.uint64(1))
            ^ (v >> np.int64(63)).astype(np.uint64))


def unzigzag(u: np.ndarray) -> np.ndarray:
    u = u.astype(np.uint64, copy=False)
    return ((u >> np.uint64(1)).astype(np.int64)
            ^ -(u & np.uint64(1)).astype(np.int64))


# exact bit_length for uint64 < 2**61 without Python-per-value loops:
# count of powers of two ≤ v (integer comparisons, no float)
_POW2 = (np.uint64(1) << np.arange(61, dtype=np.uint64)).astype(np.uint64)


def _bit_widths(vals: np.ndarray) -> np.ndarray:
    return np.maximum(np.searchsorted(_POW2, vals, side="right"), 1)


def _sliding_max(a: np.ndarray, c: int) -> np.ndarray:
    """max(a[i : i+c]) for every i, windows truncated past the end — the
    O(n) block prefix/suffix decomposition (no per-window scan): pad with
    sentinel -inf blocks, split into blocks of c; every window spans at
    most one block boundary, so its max is max(suffix-max from i within
    i's block, prefix-max up to i+c-1 within the next block)."""
    n = len(a)
    if n == 0:
        return a.copy()
    pad = (-n) % c + c  # round up to a block, plus one whole sentinel block
    sentinel = np.iinfo(a.dtype).min
    b = np.concatenate([a, np.full(pad, sentinel, dtype=a.dtype)])
    blocks = b.reshape(-1, c)
    pref = np.maximum.accumulate(blocks, axis=1).ravel()
    suff = np.maximum.accumulate(blocks[:, ::-1], axis=1)[:, ::-1].ravel()
    i = np.arange(n, dtype=np.int64)
    return np.maximum(suff[i], pref[i + c - 1])


def pack_simple8b(vals: np.ndarray) -> list[int]:
    """Greedy pack of uint64 values (< 2**60 each) into 64-bit words —
    vectorized: the best selector at EVERY position is precomputed with
    14 sliding-window maxima (one per capacity), the boundary walk is
    O(1) Python per output word, and all payloads assemble in one
    ``bitwise_or.reduceat``.  Bit-identical to pack_simple8b_ref."""
    vals = np.ascontiguousarray(vals, dtype=np.uint64)
    n = len(vals)
    if n == 0:
        return []
    if n <= 128:
        # small-series fast path: the 14 sliding-window maxima below are
        # fixed overhead that dwarfs a tiny input (measured 200 µs vs
        # 37 µs at n=17; crossover ≈ 128) — and the archive encoder's
        # groups at 1m granularity ARE tiny (a day of minutes per
        # series-day).  The greedy loop is bit-identical by test pin
        # (test_intcodec.py), so this is dispatch, not a second format.
        return pack_simple8b_ref(vals)
    widths = _bit_widths(vals)
    # sel_at[i] = smallest-width selector whose window starting at i fits
    # (iterate widest→smallest so the last fitting assignment wins; the
    # 0-padding makes short end-windows constrain only real values)
    sel_at = np.full(n, len(_WIDTHS) - 1, dtype=np.int64)
    gmax = int(widths.max())
    for s in range(len(_WIDTHS) - 1, -1, -1):
        w, c = _WIDTHS[s], _COUNTS[s]
        if w >= gmax:          # every window fits — no max needed
            sel_at[:] = s
            continue
        wm = _sliding_max(widths, c)
        sel_at[wm <= w] = s
    # boundary walk, run-skipping: inside a run of identical sel_at the
    # boundaries advance by a fixed stride, so each RUN costs O(1) Python
    # (whole-array-homogeneous data — the common case — walks in one step)
    run_ends = np.concatenate(
        [np.nonzero(np.diff(sel_at))[0] + 1, [n]]
    )
    starts_parts: list[np.ndarray] = []
    sels_l: list[int] = []
    counts_arr = np.array(_COUNTS, dtype=np.int64)
    i = 0
    ri = 0
    while i < n:
        while run_ends[ri] <= i:
            ri += 1
        s = int(sel_at[i])
        c = int(counts_arr[s])
        stop = int(run_ends[ri])
        ws = np.arange(i, stop, c, dtype=np.int64)
        starts_parts.append(ws)
        sels_l.append(s)
        i = int(ws[-1]) + c
    starts = np.concatenate(starts_parts)
    sels = np.repeat(
        np.array(sels_l, dtype=np.int64),
        [len(p) for p in starts_parts],
    )
    take = np.minimum(np.array(_COUNTS)[sels], n - starts)
    w_per_val = np.repeat(np.array(_WIDTHS, dtype=np.uint64)[sels], take)
    pos_in_word = np.arange(n, dtype=np.uint64) - np.repeat(
        starts.astype(np.uint64), take
    )
    shifts = np.uint64(60) - w_per_val * (pos_in_word + np.uint64(1))
    payloads = np.bitwise_or.reduceat(vals << shifts, starts)
    words = (((sels + 1).astype(np.uint64)) << np.uint64(60)) | payloads
    return [int(w) for w in words]


def pack_simple8b_ref(vals: np.ndarray) -> list[int]:
    """Pure-Python reference packer (pinned identical by tests)."""
    widths = [max(int(v).bit_length(), 1) for v in vals]
    words: list[int] = []
    i, n = 0, len(vals)
    while i < n:
        sel = len(_WIDTHS) - 1
        for s, (w, c) in enumerate(zip(_WIDTHS, _COUNTS)):
            take = min(c, n - i)
            if max(widths[i : i + take]) <= w:
                sel = s
                break
        w, c = _WIDTHS[sel], _COUNTS[sel]
        take = min(c, n - i)
        word = (sel + 1) << 60
        shift = 60 - w
        for v in vals[i : i + take]:
            word |= int(v) << shift
            shift -= w
        words.append(word)
        i += take
    return words


def unpack_simple8b(words: list[int] | np.ndarray, n: int) -> np.ndarray:
    """Vectorized unpack: one numpy gather per SELECTOR present (≤ 14),
    not one Python step per value.  Greedy packing fills every word to
    capacity except possibly the final one, so output offsets are a
    plain cumsum of per-word capacities."""
    w_arr = np.asarray(words, dtype=np.uint64)
    if len(w_arr) == 0:
        if n:
            raise ValueError(f"simple8b stream ended at 0 of {n} values")
        return np.empty(0, dtype=np.uint64)
    sels = (w_arr >> np.uint64(60)).astype(np.int64) - 1
    caps = np.array(_COUNTS, dtype=np.int64)[sels]
    offs = np.concatenate(([0], np.cumsum(caps)))
    total = int(offs[-1])
    if not (total - caps[-1] < n <= total):
        raise ValueError(f"simple8b stream carries {total} slots for {n} values")
    out = np.empty(total, dtype=np.uint64)
    for s in np.unique(sels):
        w, c = _WIDTHS[s], _COUNTS[s]
        idx = np.nonzero(sels == s)[0]
        shifts = (60 - w * np.arange(1, c + 1, dtype=np.uint64)).astype(np.uint64)
        mask = np.uint64((1 << w) - 1)
        block = (w_arr[idx][:, None] >> shifts[None, :]) & mask  # (k, c)
        starts = offs[idx]
        pos = (starts[:, None] + np.arange(c, dtype=np.int64)[None, :]).ravel()
        out[pos] = block.ravel()
    return out[:n]


def unpack_simple8b_ref(words: list[int] | np.ndarray, n: int) -> np.ndarray:
    """Pure-Python reference unpacker (pinned identical by tests)."""
    out = np.empty(n, dtype=np.uint64)
    k = 0
    for word in words:
        word = int(word)
        sel = (word >> 60) - 1
        w, c = _WIDTHS[sel], _COUNTS[sel]
        mask = (1 << w) - 1
        take = min(c, n - k)
        shift = 60 - w
        for _ in range(take):
            out[k] = (word >> shift) & mask
            shift -= w
            k += 1
    if k != n:
        raise ValueError(f"simple8b stream ended at {k} of {n} values")
    return out


def _pack_block(deltas: np.ndarray) -> bytes:
    """mode byte + payload for one non-empty signed-delta array (its
    length is implied by the blob's point count)."""
    out = bytearray()
    if np.all(deltas == deltas[0]):
        out.append(_MODE_RLE)
        put_svarint(out, int(deltas[0]))
        return bytes(out)
    divisor, quotients = divide_stream(deltas)
    z = zigzag(quotients)
    if int(z.max()) >= (1 << 60):
        out.append(_MODE_RAW)
        return bytes(out) + deltas.astype("<i8").tobytes()
    words = pack_simple8b(z)
    out.append(_MODE_S8B)
    put_uvarint(out, divisor)
    put_uvarint(out, len(words))
    return bytes(out) + np.array(words, dtype=np.uint64).astype("<u8").tobytes()


def _unpack_block(buf: bytes, pos: int, n: int) -> tuple[np.ndarray, int]:
    mode = buf[pos]
    pos += 1
    if mode == _MODE_RLE:
        d, pos = get_svarint(buf, pos)
        return np.full(n, d, dtype=np.int64), pos
    if mode == _MODE_RAW:
        out = np.frombuffer(buf, dtype="<i8", count=n, offset=pos).astype(
            np.int64
        )
        return out, pos + 8 * n
    if mode != _MODE_S8B:
        raise ValueError(f"unknown simple8b block mode {mode}")
    divisor, pos = get_uvarint(buf, pos)
    nw, pos = get_uvarint(buf, pos)
    words = np.frombuffer(buf, dtype="<u8", count=nw, offset=pos)
    quotients = unzigzag(unpack_simple8b(words, n))
    return quotients * np.int64(divisor), pos + 8 * nw


def encode_int(timestamps: np.ndarray, values: np.ndarray) -> bytes:
    """One series → one blob: ``[n|mark:<I]``, then varints t0, d0 (first
    delta; n > 1) and v0, then the ts delta-of-delta block (n > 2) and the
    value delta block (n > 1)."""
    t = np.asarray(timestamps, dtype=np.int64)
    v = np.asarray(values, dtype=np.int64)
    if len(t) != len(v):
        raise ValueError("timestamps and values must have equal length")
    n = len(t)
    head = bytearray(struct.pack("<I", marked_count(n)))
    if n == 0:
        return bytes(head)
    dt = np.diff(t)
    put_svarint(head, int(t[0]))
    if n > 1:
        put_svarint(head, int(dt[0]))
    put_svarint(head, int(v[0]))
    blocks = [bytes(head)]
    if n > 2:
        blocks.append(_pack_block(np.diff(dt)))
    if n > 1:
        blocks.append(_pack_block(np.diff(v)))
    return b"".join(blocks)


def decode_int(blob: bytes) -> tuple[np.ndarray, np.ndarray]:
    """Inverse of :func:`encode_int`; ``ValueError`` on a blob without the
    layout mark."""
    (word,) = struct.unpack_from("<I", blob, 0)
    n = unmarked_count(word, "simple8b")
    t = np.empty(n, dtype=np.int64)
    v = np.empty(n, dtype=np.int64)
    if n == 0:
        return t, v
    t0, pos = get_svarint(blob, 4)
    d0 = 0
    if n > 1:
        d0, pos = get_svarint(blob, pos)
    v0, pos = get_svarint(blob, pos)
    dod = np.empty(0, dtype=np.int64)
    if n > 2:
        dod, pos = _unpack_block(blob, pos, n - 2)
    t[0] = t0
    v[0] = v0
    if n > 1:
        dv, pos = _unpack_block(blob, pos, n - 1)
        dt = np.concatenate(([d0], d0 + np.cumsum(dod))).astype(np.int64)
        t[1:] = t0 + np.cumsum(dt)
        v[1:] = v0 + np.cumsum(dv)
    return t, v


ENCODED_SCHEMA = (
    "series_keys array<string>, n_points long, blob binary, "
    "raw_bytes long, encoded_bytes long"
)
DECODED_SCHEMA = "series_keys array<string>, ts timestamp, value long"


def encode_int_series_df(df, key_cols, ts_col: str, value_col: str):
    """Per-series integer encode → one row per series, same execution
    shape (and same rationale) as gorilla.encode_series_df: repartition
    by key, sort within partitions, one mapInPandas call per partition
    with batch-boundary carry.  Raw cost basis is 16 bytes/point (int64
    ts + int64 value)."""
    import pyspark.sql.functions as F

    keys = list(key_cols)
    sdf = (
        df.select(*keys, ts_col, value_col)
        .repartition(*[F.col(k) for k in keys])
        .sortWithinPartitions(*keys, ts_col)
    )

    def _emit(pdf: pd.DataFrame) -> pd.DataFrame:
        ts_all = (
            epoch_seconds(pdf[ts_col])
        )
        vs_all = pdf[value_col].to_numpy(dtype=np.int64)
        out: dict[str, list] = {
            "series_keys": [], "n_points": [], "blob": [],
            "raw_bytes": [], "encoded_bytes": [],
        }
        for key, idx in pdf.groupby(keys, sort=False).indices.items():
            t, v = ts_all[idx], vs_all[idx]
            blob = encode_int(t, v)
            kt = key if isinstance(key, tuple) else (key,)
            out["series_keys"].append([str(k) for k in kt])
            out["n_points"].append(len(t))
            out["blob"].append(blob)
            out["raw_bytes"].append(16 * len(t))
            out["encoded_bytes"].append(len(blob))
        return pd.DataFrame(out)

    return sdf.mapInPandas(carry_partition(keys, _emit), schema=ENCODED_SCHEMA)


DUAL_ENCODED_SCHEMA = (
    "series_keys array<string>, n_points long, gor_blob binary, "
    "gor_bytes long, int_blob binary, int_bytes long, raw_bytes long"
)

TRIPLE_ENCODED_SCHEMA = (
    DUAL_ENCODED_SCHEMA + ", int2_blob binary, int2_bytes long"
)


def encode_dual_series_df(
    df, key_cols, ts_col: str, float_col: str, int_col: str,
    int_col2: str | None = None,
):
    """Encode a float column (Gorilla XOR) AND an integer column (zigzag-
    delta + simple8b) per series in ONE pass: one repartition-by-key
    shuffle, one partition sort, one Arrow transfer, one Python sweep.

    The pipeline's 1m tier feeds two blob sinks (mean values → Gorilla,
    counts → simple8b).  Running :func:`gorilla.encode_series_df` and
    :func:`encode_int_series_df` separately shuffles the SAME tier rows by
    the SAME keys twice and pays the Arrow round-trip twice — at 10^12-doc
    scale that is a full extra pass over the largest intermediate.  Here
    both codecs share the sorted run (timestamps are identical for both
    columns by construction, so the delta-of-delta prefix work is shared
    implicitly).  Output: one row per series with both blobs; downstream
    sinks are cheap per-codec column selects.

    ``int_col2`` encodes a SECOND integer column in the same sweep
    (columns ``int2_blob``/``int2_bytes``): the pipeline archives counts
    AND sum-cents this way, so the expired 1m tier re-aggregates EXACTLY
    from two integer archives instead of approximately from a float one.
    """
    import pyspark.sql.functions as F

    from influxer_spark.operators.gorilla import encode as _gor_encode

    keys = list(key_cols)
    cols = [*keys, ts_col, float_col, int_col]
    if int_col2 is not None:
        cols.append(int_col2)
    sdf = (
        df.select(*cols)
        .repartition(*[F.col(k) for k in keys])
        .sortWithinPartitions(*keys, ts_col)
    )

    def _emit(pdf: pd.DataFrame) -> pd.DataFrame:
        ts_all = (
            epoch_seconds(pdf[ts_col])
        )
        fs_all = pdf[float_col].to_numpy(dtype=np.float64)
        is_all = pdf[int_col].to_numpy(dtype=np.int64)
        i2_all = (
            pdf[int_col2].to_numpy(dtype=np.int64)
            if int_col2 is not None else None
        )
        out: dict[str, list] = {
            "series_keys": [], "n_points": [], "gor_blob": [],
            "gor_bytes": [], "int_blob": [], "int_bytes": [], "raw_bytes": [],
        }
        if int_col2 is not None:
            out["int2_blob"] = []
            out["int2_bytes"] = []
        for key, idx in pdf.groupby(keys, sort=False).indices.items():
            t = ts_all[idx]
            gb = _gor_encode(t, fs_all[idx])
            ib = encode_int(t, is_all[idx])
            kt = key if isinstance(key, tuple) else (key,)
            out["series_keys"].append([str(k) for k in kt])
            out["n_points"].append(len(t))
            out["gor_blob"].append(gb)
            out["gor_bytes"].append(len(gb))
            out["int_blob"].append(ib)
            out["int_bytes"].append(len(ib))
            out["raw_bytes"].append(16 * len(t))
            if i2_all is not None:
                b2 = encode_int(t, i2_all[idx])
                out["int2_blob"].append(b2)
                out["int2_bytes"].append(len(b2))
        return pd.DataFrame(out)

    schema = (
        TRIPLE_ENCODED_SCHEMA if int_col2 is not None else DUAL_ENCODED_SCHEMA
    )
    return sdf.mapInPandas(carry_partition(keys, _emit), schema=schema)


def decode_int_series_df(encoded):
    """Inverse of encode_int_series_df: blobs → (series_keys, ts, value)."""

    def _dec(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            # per-blob numpy arrays, ONE concatenate per batch (same idiom
            # as gorilla.decode_series_df) — per-point .extend/.tolist
            # boxes every decoded point into a Python object and makes the
            # archive read path interpreter-bound
            keys_out, ts_out, v_out = [], [], []
            for sk, blob in zip(pdf["series_keys"], pdf["blob"]):
                t, v = decode_int(bytes(blob))
                keys_out.extend([list(sk)] * len(t))
                ts_out.append(t)
                v_out.append(v)
            ts_all = (
                np.concatenate(ts_out) if ts_out else np.empty(0, np.int64)
            )
            v_all = (
                np.concatenate(v_out) if v_out else np.empty(0, np.int64)
            )
            yield pd.DataFrame({
                "series_keys": keys_out,
                "ts": pd.to_datetime(ts_all, unit="s"),
                "value": v_all,
            })

    return encoded.mapInPandas(_dec, schema=DECODED_SCHEMA)


DECODED2_SCHEMA = (
    "series_keys array<string>, ts timestamp, v1 long, v2 long"
)


def decode_int2_series_df(encoded, blob_col: str = "blob",
                          blob2_col: str = "sum_blob"):
    """Decode TWO integer blobs per series row in one pass — the exact-
    archive read: both blobs encode the same timestamp run (built from one
    sweep in encode_dual_series_df), so values align positionally and no
    join is needed.  A timestamp mismatch between the blobs means a
    corrupted archive row and raises rather than silently zipping."""

    def _dec(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            keys_out, ts_out, v1_out, v2_out = [], [], [], []
            for sk, b1, b2 in zip(
                pdf["series_keys"], pdf[blob_col], pdf[blob2_col]
            ):
                t1, x1 = decode_int(bytes(b1))
                t2, x2 = decode_int(bytes(b2))
                if len(t1) != len(t2) or (t1 != t2).any():
                    raise ValueError(
                        "archive blobs disagree on timestamps for series "
                        f"{list(sk)} — corrupted row"
                    )
                keys_out.extend([list(sk)] * len(t1))
                ts_out.append(t1)
                v1_out.append(x1)
                v2_out.append(x2)
            ts_all = (
                np.concatenate(ts_out) if ts_out else np.empty(0, np.int64)
            )
            yield pd.DataFrame({
                "series_keys": keys_out,
                "ts": pd.to_datetime(ts_all, unit="s"),
                "v1": np.concatenate(v1_out) if v1_out else np.empty(0, np.int64),
                "v2": np.concatenate(v2_out) if v2_out else np.empty(0, np.int64),
            })

    return encoded.mapInPandas(_dec, schema=DECODED2_SCHEMA)
