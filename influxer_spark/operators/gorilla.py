"""Gorilla time-series compression: delta-of-delta timestamps + XOR values
(SURVEY.md A6, [delegated→build]).

The reference delegates storage compression to InfluxDB's TSM engine behind
``client.PostPointsAsync`` (Influxer/GenericFile.cs:303); InfluxDB's float
encoding is the Gorilla XOR scheme (Pelkonen et al., "Gorilla: A Fast,
Scalable, In-Memory Time Series Database", VLDB 2015 §4.1-4.2).  Implemented
natively here:

- header: the point count as a 32-bit word whose top bit marks this
  layout, then t0, the first delta and the delta-of-delta divisor as
  varints (each only when the series has one);
- timestamps: the delta-of-deltas divided by their GCD, in Gorilla's
  prefix-coded buckets ``0 | 10+7b | 110+9b | 1110+12b | 1111+64b``.
  Archive series are sparse bucket starts — every gap a multiple of 60 s —
  so dividing out the common factor (TSM's "divide timestamps by their
  common factor" step) keeps their dods in the short buckets;
- values: first stored raw (64 bits); then XOR with predecessor —
  ``0`` if identical, ``10`` + meaningful bits reusing the previous
  leading/length window, ``11`` + 5b leading + 6b length + bits otherwise.

:func:`divide_stream` and the varint helpers below are shared with the
simple8b codec (intcodec.py): every packed delta stream is divided by its
GCD the same way.  Blobs written before the layout carried its mark fail
to decode with ``ValueError``; rebuild such an archive with
``refresh_pipeline(..., force_days=...)``.

The per-series packing loop is Python over numpy-precomputed deltas/xors;
it runs inside an Arrow-batched ``mapInPandas`` over key-partitioned,
key-sorted data (one Python call per partition, NOT per series — see
:func:`encode_series_df` for why), never on the driver.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

# top bit of a blob's leading 32-bit point count: set by the strided
# layouts of both archive codecs, so a blob from before them fails loudly
FORMAT_MARK = 1 << 31


def marked_count(n: int) -> int:
    """The leading 32-bit word of a blob holding ``n`` points."""
    if n >= FORMAT_MARK:
        raise ValueError(f"{n} points do not fit one blob (max {FORMAT_MARK - 1})")
    return n | FORMAT_MARK


def unmarked_count(word: int, codec: str) -> int:
    """Inverse of :func:`marked_count`; an unmarked word is a blob from
    before the strided layouts."""
    if not word & FORMAT_MARK:
        raise ValueError(
            f"{codec} blob predates the strided archive layout; rebuild the "
            "archive with refresh_pipeline(..., force_days=[...])"
        )
    return word & ~FORMAT_MARK


def put_uvarint(buf: bytearray, u: int) -> None:
    """Append an unsigned LEB128 varint (7 bits per byte, low first)."""
    while u >= 0x80:
        buf.append((u & 0x7F) | 0x80)
        u >>= 7
    buf.append(u)


def get_uvarint(buf: bytes, pos: int) -> tuple[int, int]:
    u = shift = 0
    while True:
        b = buf[pos]
        pos += 1
        u |= (b & 0x7F) << shift
        if b < 0x80:
            return u, pos
        shift += 7


def put_svarint(buf: bytearray, v: int) -> None:
    """Append a signed int64 as a zigzag varint."""
    put_uvarint(buf, (v << 1) ^ (v >> 63))


def get_svarint(buf: bytes, pos: int) -> tuple[int, int]:
    u, pos = get_uvarint(buf, pos)
    return (u >> 1) ^ -(u & 1), pos


def divide_stream(deltas: np.ndarray) -> tuple[int, np.ndarray]:
    """A signed int64 delta stream's divisor — the GCD of its entries, 1
    when it is empty or all zero — and the stream divided by it.  The
    division is exact, so ``quotients * divisor`` restores the stream."""
    g = int(np.gcd.reduce(deltas)) if len(deltas) else 0
    if g <= 1:  # 0: empty or all zero; < 0: gcd overflowed at int64 min
        return 1, deltas
    return g, deltas // np.int64(g)


class _BitWriter:
    __slots__ = ("buf", "acc", "nbits")

    def __init__(self, prefix: bytes = b"") -> None:
        self.buf = bytearray(prefix)
        self.acc = 0
        self.nbits = 0

    def write(self, value: int, bits: int) -> None:
        self.acc = (self.acc << bits) | (value & ((1 << bits) - 1))
        self.nbits += bits
        while self.nbits >= 8:
            self.nbits -= 8
            self.buf.append((self.acc >> self.nbits) & 0xFF)
        self.acc &= (1 << self.nbits) - 1

    def getvalue(self) -> bytes:
        if self.nbits:
            return bytes(self.buf) + bytes([(self.acc << (8 - self.nbits)) & 0xFF])
        return bytes(self.buf)


class _BitReader:
    __slots__ = ("data", "pos")

    def __init__(self, data: bytes) -> None:
        self.data = data
        self.pos = 0

    def read(self, bits: int) -> int:
        out = 0
        for _ in range(bits):
            byte = self.data[self.pos >> 3]
            out = (out << 1) | ((byte >> (7 - (self.pos & 7))) & 1)
            self.pos += 1
        return out


def _clz64(x: int) -> int:
    return 64 - x.bit_length() if x else 64


def _ctz64(x: int) -> int:
    return (x & -x).bit_length() - 1 if x else 64


def _encode_reference(timestamps: np.ndarray, values: np.ndarray) -> bytes:
    """Scalar reference encoder (the round-1 implementation) — kept as the
    parity oracle for the vectorized :func:`encode`; property tests assert
    byte-identical output on random series.
    """
    ts = np.asarray(timestamps, dtype=np.int64)
    vs = np.asarray(values, dtype=np.float64)
    n = len(ts)
    if len(vs) != n:
        raise ValueError("timestamps/values length mismatch")
    head, dods = _header(ts)
    w = _BitWriter(head)
    if n == 0:
        return w.getvalue()
    w.write(int(vs[0:1].view(np.uint64)[0]), 64)
    if n == 1:
        return w.getvalue()

    bits = vs.view(np.uint64)
    xors = bits[1:] ^ bits[:-1]

    # first value after v0 uses the "new window" branch by construction
    prev_lead, prev_len = -1, 0

    for i in range(n - 1):
        # --- timestamp bits (skip for i==0: delta already written) ---
        if i > 0:
            d = int(dods[i - 1])
            if d == 0:
                w.write(0, 1)
            elif -63 <= d <= 64:
                w.write(0b10, 2)
                w.write(d & 0x7F, 7)
            elif -255 <= d <= 256:
                w.write(0b110, 3)
                w.write(d & 0x1FF, 9)
            elif -2047 <= d <= 2048:
                w.write(0b1110, 4)
                w.write(d & 0xFFF, 12)
            else:
                w.write(0b1111, 4)
                w.write(d & ((1 << 64) - 1), 64)
        # --- value bits ---
        x = int(xors[i])
        if x == 0:
            w.write(0, 1)
        else:
            lead = min(_clz64(x), 31)
            trail = _ctz64(x)
            length = 64 - lead - trail
            if prev_lead >= 0 and lead >= prev_lead and (64 - prev_lead - prev_len) <= trail:
                # fits in previous window
                w.write(0b10, 2)
                w.write(x >> (64 - prev_lead - prev_len), prev_len)
            else:
                w.write(0b11, 2)
                w.write(lead, 5)
                w.write(length - 1, 6)  # 1..64 stored as 0..63
                w.write(x >> trail, length)
                prev_lead, prev_len = lead, length
    return w.getvalue()


def _header(ts: np.ndarray) -> tuple[bytearray, np.ndarray]:
    """The byte-aligned blob header — ``[n|mark:32]`` big-endian, then t0,
    the first delta and the dod divisor as varints, each only when the
    series has one — and the divided delta-of-deltas the bit stream codes.
    Shared by :func:`encode` and :func:`_encode_reference`."""
    n = len(ts)
    head = bytearray(marked_count(n).to_bytes(4, "big"))
    deltas = np.diff(ts)
    divisor, dods = divide_stream(np.diff(deltas))
    if n > 0:
        put_svarint(head, int(ts[0]))
    if n > 1:
        put_svarint(head, int(deltas[0]))
    if n > 2:
        put_uvarint(head, divisor)
    return head, dods


_MASK64 = (1 << 64) - 1
_VECTORIZE_MIN = 128


def encode(timestamps: np.ndarray, values: np.ndarray) -> bytes:
    """Encode parallel (int64 epoch-seconds, float64) arrays → blob.

    Layout: ``[n|mark:32]`` then varints ``t0``, ``d0`` (first delta) and
    the dod divisor (each present only when n > 0, 1, 2), then the bit
    stream ``[v0:64]`` followed by, per later point, its divided dod
    bucket (from the third point) and its XOR value branch.

    Fully vectorized except one Python iteration per VALUE-WINDOW CHANGE:
    dod bucket classification, XOR lead/trail geometry, per-run emission and
    the final word-level bit packing are all numpy.  The Gorilla value state
    (prev leading/length window) only changes on a \'11\' emission, so between
    window changes every point is a \'0\' or \'10\' branch decided by a
    vectorized predicate — the sequential state machine collapses to one
    Python step per run (typically hundreds/thousands of points per run on
    homogeneous metric series; adversarial series degrade gracefully to
    per-point).  Byte-identical to :func:`_encode_reference` (property
    tested).
    """
    ts = np.asarray(timestamps, dtype=np.int64)
    vs = np.asarray(values, dtype=np.float64)
    n = len(ts)
    if len(vs) != n:
        raise ValueError("timestamps/values length mismatch")
    if n < _VECTORIZE_MIN:
        # numpy fixed costs lose below ~100 points; the scalar reference is
        # byte-identical and faster for short series (measured crossover)
        return _encode_reference(ts, vs)
    head, dods = _header(ts)
    head_vals = [int(vs[0:1].view(np.uint64)[0])]
    head_bits = [64]

    bits64 = vs.view(np.uint64)
    xors = (bits64[1:] ^ bits64[:-1]).astype(np.uint64)
    m = n - 1  # value entries; value index i pairs with ts entry for i >= 1

    # --- vectorized dod classification, aligned to value index i (i>=1);
    # the rare 68-bit branch splits into (prefix+hi32, 36) + (lo32, 32) ---
    tsA_val = np.zeros(m, dtype=np.uint64)
    tsA_bits = np.zeros(m, dtype=np.uint64)
    tsB_val = np.zeros(m, dtype=np.uint64)
    tsB_mask = np.zeros(m, dtype=bool)
    if m > 1:
        du = dods.astype(np.int64)
        big = du.astype(np.uint64)  # two\'s-complement 64-bit
        conds = [
            du == 0,
            (du >= -63) & (du <= 64),
            (du >= -255) & (du <= 256),
            (du >= -2047) & (du <= 2048),
        ]
        tsA_val[1:] = np.select(
            conds,
            [
                np.zeros(m - 1, dtype=np.uint64),
                np.uint64(0b10 << 7) | (big & np.uint64(0x7F)),
                np.uint64(0b110 << 9) | (big & np.uint64(0x1FF)),
                np.uint64(0b1110 << 12) | (big & np.uint64(0xFFF)),
            ],
            default=np.uint64(0b1111 << 32) | (big >> np.uint64(32)),
        )
        tsA_bits[1:] = np.select(conds, [1, 9, 12, 16], default=36).astype(np.uint64)
        tsB_val[1:] = big & np.uint64(0xFFFFFFFF)
        tsB_mask[1:] = ~(conds[0] | conds[1] | conds[2] | conds[3])
    tsA_mask = np.ones(m, dtype=bool)
    tsA_mask[0] = False  # first delta already in the header

    # --- vectorized XOR bit geometry (byte-table clz/ctz: no per-bit blowup) ---
    be = xors.byteswap().view(np.uint8).reshape(-1, 8)
    nzb = be != 0
    rows = np.arange(m)
    first_nz = nzb.argmax(axis=1)
    last_nz = 7 - nzb[:, ::-1].argmax(axis=1)
    zero = ~nzb.any(axis=1)
    lead_arr = np.where(zero, 64, first_nz * 8 + _CLZ8[be[rows, first_nz]])
    lead_arr = np.minimum(lead_arr, 31)  # Gorilla clips leading to 5 bits
    trail_arr = np.where(zero, 64, (7 - last_nz) * 8 + _CTZ8[be[rows, last_nz]])
    len_arr = (64 - lead_arr - trail_arr).astype(np.int64)

    out_vals = [np.array(head_vals, dtype=np.uint64)]
    out_bits = [np.array(head_bits, dtype=np.uint64)]

    def emit_run(lo: int, hi: int, pl: int, pL: int) -> None:
        """Emit points [lo, hi): all \'0\' or \'10\' branches under window
        (pl, pL).  Four entry slots per point — tsA, tsB, value, value-spill —
        masked and raveled in stream order."""
        z = zero[lo:hi]
        if pl >= 0:
            shift = np.uint64(64 - pl - pL)
            payload = xors[lo:hi] >> shift
            if pL <= 62:
                v_val = np.where(z, np.uint64(0),
                                 np.uint64(0b10 << pL) | payload)
                v_bits = np.where(z, np.uint64(1), np.uint64(pL + 2))
                vb_mask = np.zeros(hi - lo, dtype=bool)
                vb_val = v_val  # unused
            else:  # 63/64-bit window: control and payload can\'t fuse
                v_val = np.where(z, np.uint64(0), np.uint64(0b10))
                v_bits = np.where(z, np.uint64(1), np.uint64(2))
                vb_mask = ~z
                vb_val = payload
        else:  # no window yet: the run is all zeros by construction
            v_val = np.zeros(hi - lo, dtype=np.uint64)
            v_bits = np.ones(hi - lo, dtype=np.uint64)
            vb_mask = np.zeros(hi - lo, dtype=bool)
            vb_val = v_val
        slots_v = np.stack(
            [tsA_val[lo:hi], tsB_val[lo:hi], v_val, vb_val], axis=1
        ).ravel()
        slots_b = np.stack(
            [
                tsA_bits[lo:hi],
                np.full(hi - lo, 32, dtype=np.uint64),
                v_bits,
                np.full(hi - lo, pL if pL > 0 else 1, dtype=np.uint64),
            ],
            axis=1,
        ).ravel()
        mask = np.stack(
            [tsA_mask[lo:hi], tsB_mask[lo:hi], np.ones(hi - lo, dtype=bool), vb_mask],
            axis=1,
        ).ravel()
        out_vals.append(slots_v[mask])
        out_bits.append(slots_b[mask])

    def first_bust(start: int, pl: int, pL: int) -> int:
        """First index >= start whose point cannot be emitted under the
        current window (doubling lookahead keeps worst case O(1) amortized)."""
        look = 64
        s = start
        while s < m:
            e = min(m, s + look)
            if pl >= 0:
                ok = zero[s:e] | (
                    (lead_arr[s:e] >= pl) & (trail_arr[s:e] >= 64 - pl - pL)
                )
            else:
                ok = zero[s:e]
            bad = np.flatnonzero(~ok)
            if len(bad):
                return s + int(bad[0])
            s = e
            look *= 2
        return m

    buf_v: list[int] = []
    buf_b: list[int] = []

    def flush_buf() -> None:
        if buf_v:
            out_vals.append(np.array(buf_v, dtype=np.uint64))
            out_bits.append(np.array(buf_b, dtype=np.uint64))
            buf_v.clear()
            buf_b.clear()

    # native-int mirrors for the scalar path (lazy: long-run series never pay)
    py = None

    def ensure_py():
        nonlocal py
        if py is None:
            py = (
                xors.tolist(), lead_arr.tolist(), trail_arr.tolist(),
                len_arr.tolist(), tsA_val.tolist(), tsA_bits.tolist(),
                tsB_val.tolist(), tsB_mask.tolist(),
            )
        return py

    RUN_MIN = 64        # vectorize runs at least this long
    SCALAR_CHUNK = 512  # in bursty regions, stay scalar this many points

    i = 0
    prev_lead, prev_len = -1, 0
    while i < m:
        j = first_bust(i, prev_lead, prev_len)
        if j - i >= RUN_MIN or j >= m:
            flush_buf()
            if j > i:
                emit_run(i, j, prev_lead, prev_len)
            if j >= m:
                break
            # bust point j: '11' branch establishes a new window
            xs, lds, trs, lns, tav, tab, tbv, tbm = ensure_py()
            i = j  # fall through to scalar emit of the single bust point
            end = j + 1
        else:
            xs, lds, trs, lns, tav, tab, tbv, tbm = ensure_py()
            end = min(m, i + SCALAR_CHUNK)
        ap_v, ap_b = buf_v.append, buf_b.append
        while i < end:
            # scalar point: ts entry (fused with a 1-bit '0' value when it
            # fits) + value branch, exactly the reference logic
            x = xs[i]
            if i > 0:
                tv, tb = tav[i], tab[i]
                if tbm[i]:
                    ap_v(tv)
                    ap_b(tb)
                    tv, tb = tbv[i], 32
            else:
                tv, tb = 0, 0  # no ts entry for the first value
            if x == 0:
                ap_v(tv << 1)
                ap_b(tb + 1)
            else:
                lead, trail = lds[i], trs[i]
                if (
                    prev_lead >= 0
                    and lead >= prev_lead
                    and (64 - prev_lead - prev_len) <= trail
                ):
                    payload = x >> (64 - prev_lead - prev_len)
                    if prev_len <= 62:
                        vval = (0b10 << prev_len) | payload
                        vbits = prev_len + 2
                    else:  # 63/64-bit window: control can't fuse with payload
                        ap_v((tv << 2) | 0b10)
                        ap_b(tb + 2)
                        ap_v(payload)
                        ap_b(prev_len)
                        i += 1
                        continue
                else:
                    length = lns[i]
                    ctrl = (0b11 << 11) | (lead << 6) | (length - 1)
                    prev_lead, prev_len = lead, length
                    if length <= 51:  # 13 control bits + payload fit in 64
                        vval = (ctrl << length) | (x >> trail)
                        vbits = 13 + length
                    else:
                        ap_v((tv << 13) | ctrl)  # tb <= 36, always fuses
                        ap_b(tb + 13)
                        ap_v(x >> trail)
                        ap_b(length)
                        i += 1
                        continue
                if tb + vbits <= 64:
                    ap_v((tv << vbits) | vval)
                    ap_b(tb + vbits)
                else:
                    ap_v(tv)
                    ap_b(tb)
                    ap_v(vval)
                    ap_b(vbits)
            i += 1
    flush_buf()
    return bytes(head) + _pack(np.concatenate(out_vals), np.concatenate(out_bits))


# per-byte leading/trailing-zero-count tables for the vectorized bit geometry
_CLZ8 = np.array([8] + [8 - int(i).bit_length() for i in range(1, 256)],
                 dtype=np.int64)
_CTZ8 = np.array([8] + [(int(i) & -int(i)).bit_length() - 1 for i in range(1, 256)],
                 dtype=np.int64)


def _scatter_or_sorted(idx: np.ndarray, val: np.ndarray, size: int) -> np.ndarray:
    """OR `val` into a zeroed uint64 array at (non-decreasing) `idx`.
    Contributions to one word occupy disjoint bit ranges, so group-SUM == OR;
    grouping a sorted index is one reduceat — no ufunc.at, no per-bit temp."""
    out = np.zeros(size, dtype=np.uint64)
    if not len(idx):
        return out
    uidx, starts = np.unique(idx, return_index=True)
    out[uidx] = np.add.reduceat(val, starts)
    return out


def _pack(vals: list[int], nbits: list[int]) -> bytes:
    """Vectorized WORD-level bit packing: entry i occupies global bits
    [off_i, off_i + b_i); its value lands in word off_i>>6 (and spills into
    the next word when it straddles the boundary).  Two sorted scatter-ORs —
    one for the in-word parts, one for the spills — build the stream with
    O(entries) temps (a per-bit unpackbits gather costs ~30 bytes of memory
    traffic per OUTPUT BIT, which loses badly on memory-bandwidth-poor
    hosts).  Zero-pads the final byte exactly like _BitWriter."""
    v = np.array(vals, dtype=np.uint64)
    b = np.array(nbits, dtype=np.uint64)
    end = np.cumsum(b)
    off = end - b
    total = int(end[-1])
    w = (off >> np.uint64(6)).astype(np.int64)
    s = off & np.uint64(63)
    right = s + b  # bit position of the entry's end within word w (1..127)
    fits = right <= 64
    # shifts taken mod 64 so the unselected where-branch never shifts >= 64
    # (numpy evaluates both branches; an out-of-range shift is UB)
    sh_hi = np.where(fits, np.uint64(64) - right, right - np.uint64(64)) % np.uint64(64)
    hi = np.where(fits, v << sh_hi, v >> sh_hi)
    lo = np.where(fits, np.uint64(0), v << ((np.uint64(128) - right) % np.uint64(64)))
    n_words = (total + 63) >> 6
    words = _scatter_or_sorted(w, hi, n_words)
    spill = ~fits
    words += _scatter_or_sorted(w[spill] + 1, lo[spill], n_words)
    n_bytes = (total + 7) >> 3
    return words.byteswap().tobytes()[:n_bytes]


def decode(blob: bytes) -> tuple[np.ndarray, np.ndarray]:
    """Inverse of :func:`encode`; ``ValueError`` on a blob without the
    layout mark."""
    n = unmarked_count(int.from_bytes(blob[:4], "big"), "Gorilla")
    ts = np.empty(n, dtype=np.int64)
    vs_bits = np.empty(n, dtype=np.uint64)
    if n == 0:
        return ts, vs_bits.view(np.float64)
    t0, pos = get_svarint(blob, 4)
    delta, divisor = 0, 1
    if n > 1:
        delta, pos = get_svarint(blob, pos)
    if n > 2:
        divisor, pos = get_uvarint(blob, pos)
    r = _BitReader(blob)
    r.pos = 8 * pos
    ts[0] = t0
    vs_bits[0] = r.read(64)
    if n == 1:
        return ts, vs_bits.view(np.float64)

    prev_lead, prev_len = -1, 0
    prev_bits = int(vs_bits[0])
    t = t0
    for i in range(1, n):
        if i > 1:
            if r.read(1) == 0:
                dod = 0
            elif r.read(1) == 0:
                dod = _sext(r.read(7), 7)
            elif r.read(1) == 0:
                dod = _sext(r.read(9), 9)
            elif r.read(1) == 0:
                dod = _sext(r.read(12), 12)
            else:
                dod = _sext(r.read(64), 64)
            delta += dod * divisor
        t += delta
        ts[i] = t
        if r.read(1) == 0:
            pass  # identical value
        elif r.read(1) == 0:
            x = r.read(prev_len) << (64 - prev_lead - prev_len)
            prev_bits ^= x
        else:
            lead = r.read(5)
            length = r.read(6) + 1
            trail = 64 - lead - length
            x = r.read(length) << trail
            prev_bits ^= x
            prev_lead, prev_len = lead, length
        vs_bits[i] = prev_bits
    return ts, vs_bits.view(np.float64)


def _sext(v: int, bits: int) -> int:
    """Sign-extend a Gorilla dod bucket value.

    Gorilla's buckets are ASYMMETRIC — [-63,64], [-255,256], [-2047,2048]
    (Pelkonen et al. §4.1) — so the top positive value (e.g. +64 = 0b1000000)
    shares the bit pattern two's complement would call the most-negative
    value.  Since that most-negative value is NOT in the encode range, the
    comparison must be STRICT (v > 2^(bits-1)): 64 decodes as +64, 65..127 as
    -63..-1.  The full-width 64-bit branch uses plain two's complement
    (strictness is irrelevant there only for dod = -2^63, which cannot arise
    from real epoch deltas; see test_gorilla for the pinned boundary cases).
    """
    if bits == 64:
        return v - (1 << 64) if v >= (1 << 63) else v
    return v - (1 << bits) if v > (1 << (bits - 1)) else v


# ---------------------------------------------------------------------------
# Spark wiring
# ---------------------------------------------------------------------------

ENCODED_SCHEMA = (
    "series_keys array<string>, n_points long, blob binary, "
    "raw_bytes long, encoded_bytes long"
)


def encode_series_df(df, key_cols, ts_col: str, value_col: str):
    """Per-series Gorilla encode → one row per series:
    (series_keys, n_points, blob, raw_bytes, encoded_bytes).

    Execution shape: ``repartition(keys).sortWithinPartitions(keys, ts)`` +
    ``mapInPandas`` — NOT ``groupBy().applyInPandas``.  applyInPandas pays
    fixed per-group overhead (one pandas frame + one Python dispatch per
    series), which dominates when series are small (measured ~1 ms/group →
    it was ~70% of pipeline wall time at 5.6k series/day).  Here one Python
    call encodes EVERY series in its partition; groups that straddle Arrow
    batch boundaries are carried over to the next batch, which is safe
    because the sort makes each series a contiguous run within exactly one
    partition.

    Order within a series is (keys, ts) ascending from the partition sort —
    the reference processes strictly in file order; per-series time order is
    the engine's canonical order (SURVEY.md §2.6).  Raw cost is 16
    bytes/point (int64 ts + float64 value).
    """
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
        vs_all = pdf[value_col].to_numpy(dtype=np.float64)
        out: dict[str, list] = {
            "series_keys": [], "n_points": [], "blob": [],
            "raw_bytes": [], "encoded_bytes": [],
        }
        for key, idx in pdf.groupby(keys, sort=False).indices.items():
            t, v = ts_all[idx], vs_all[idx]
            blob = encode(t, v)
            kt = key if isinstance(key, tuple) else (key,)
            out["series_keys"].append([str(k) for k in kt])
            out["n_points"].append(len(t))
            out["blob"].append(blob)
            out["raw_bytes"].append(16 * len(t))
            out["encoded_bytes"].append(len(blob))
        return pd.DataFrame(out)

    return sdf.mapInPandas(carry_partition(keys, _emit), schema=ENCODED_SCHEMA)


def epoch_seconds(col: "pd.Series") -> "np.ndarray":
    """Timestamp pandas Series -> int64 epoch seconds, tz-aware or naive:
    Arrow hands the SAME Spark TimestampType over as tz-aware or tz-naive
    depending on the upstream plan, and pandas refuses aware->naive
    .astype, so normalize explicitly (UTC session timezone engine-wide)."""
    if getattr(col.dtype, "tz", None) is not None:
        col = col.dt.tz_convert("UTC").dt.tz_localize(None)
    return col.astype("datetime64[us]").astype("int64").to_numpy() // 1_000_000


def carry_partition(keys, emit):
    """Generator factory for the batch-boundary carry pattern above:
    series straddling Arrow batch boundaries are held back and prepended
    to the next batch, so ``emit`` always sees whole series.  Shared by
    every per-series block codec (Gorilla floats, simple8b ints)."""

    def gen(batches):
        carry: pd.DataFrame | None = None
        for pdf in batches:
            if carry is not None and len(carry):
                pdf = pd.concat([carry, pdf], ignore_index=True)
            if not len(pdf):
                continue
            last = [pdf[k].iloc[-1] for k in keys]
            tail = np.ones(len(pdf), dtype=bool)
            for k, v in zip(keys, last):
                tail &= (pdf[k] == v).to_numpy()
            if tail.all():  # whole batch is one (possibly continuing) series
                carry = pdf
                continue
            n_tail = int(np.argmin(tail[::-1]))  # contiguous trailing run
            carry = pdf.iloc[len(pdf) - n_tail :]
            yield emit(pdf.iloc[: len(pdf) - n_tail])
        if carry is not None and len(carry):
            yield emit(carry)

    return gen


DECODED_SCHEMA = "series_keys array<string>, ts timestamp, value double"


def decode_series_df(encoded):
    """Inverse Spark wiring: compressed blobs → (series_keys, ts, value) rows.

    One ``mapInPandas`` pass, one output row per encoded point — the read
    path for querying a Gorilla-compressed tier directly.  Narrow transform
    (no shuffle): each blob decodes independently wherever it is stored.
    """

    def _dec(batches):
        for pdf in batches:
            keys_out, ts_out, v_out = [], [], []
            for keys, blob in zip(pdf["series_keys"], pdf["blob"]):
                ts, vs = decode(bytes(blob))
                keys = list(keys)
                keys_out.extend([keys] * len(ts))
                ts_out.append(ts)
                v_out.append(vs)
            ts_all = (
                np.concatenate(ts_out) if ts_out else np.empty(0, dtype=np.int64)
            )
            v_all = (
                np.concatenate(v_out) if v_out else np.empty(0, dtype=np.float64)
            )
            yield pd.DataFrame(
                {
                    "series_keys": keys_out,
                    "ts": pd.to_datetime(ts_all, unit="s"),
                    "value": v_all,
                }
            )

    return encoded.select("series_keys", "blob").mapInPandas(
        _dec, schema=DECODED_SCHEMA
    )
