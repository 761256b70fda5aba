"""Multimodal (binary) column plumbing for training-data pipelines.

Images / audio / video ride through Spark as opaque ``binary`` columns with a
typed metadata struct.  METADATA decode is real and dependency-free for all
three: JPEG marker walk + EXIF and PNG IHDR (parse_image_meta_bytes), WAV
RIFF chunk walk and MP4/ISO-BMFF box walk (parse_av_meta_bytes).  Only
pixel/sample-level decode (Huffman, PCM resample, H.264/AAC) remains
honestly gated behind ``decode_media``'s NotImplementedError (codec
libraries are not in this container), with the Spark-side plumbing (schema,
Arrow batch shape, ``mapInPandas`` signature, partition-preserving flow)
fully exercised.

- ``with_payload``        attach (payload: binary, media: struct) derived
                          deterministically from the text column — the
                          stand-in for a real WARC body.
- ``byte_features``       REAL feature extraction over the binary payload via
                          ``mapInPandas`` + numpy: byte count, mean byte,
                          Shannon entropy of the byte histogram.
- ``with_image_payload``  synthesize structurally-valid PNG/JPEG payloads
                          from h32(id) — oracle-predictable by construction.
- ``decode_image_meta``   REAL structure decode: dimensions, bit depth,
                          progressive/interlace flags, EXIF orientation,
                          decode_error — integer-exact, DuckDB-oracled.
- ``with_av_payload``     synthesize structurally-valid WAV/MP4 payloads
                          from h32(id) — oracle-predictable by construction.
- ``decode_av_meta``      REAL container decode: channels, sample rate, bit
                          depth, sample count, brand, timescale, duration —
                          integer-exact, DuckDB-oracled.
- ``decode_media``        dispatch: image/* → decode_image_meta, audio/* /
                          video/* → decode_av_meta; other mimes raise
                          NotImplementedError until real codec bindings are
                          swapped in on a cluster.

Scale notes: ``mapInPandas`` streams Arrow batches — memory is bounded by
``spark.sql.execution.arrow.maxRecordsPerBatch`` regardless of blob sizes;
no shuffle is introduced (narrow transform), so the feature stage pipelines
with the scan.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BinaryType,
    BooleanType,
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
)

MEDIA_SCHEMA = StructType([
    StructField("mime", StringType()),
    StructField("n_bytes", LongType()),
])

BYTE_FEATURES_SCHEMA = StructType([
    StructField("id", LongType()),
    StructField("n_bytes", LongType()),
    StructField("first_byte", LongType()),
    StructField("mean_byte", DoubleType()),
    StructField("entropy", DoubleType()),
])


def with_payload(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Attach a deterministic binary payload + metadata struct.

    payload = UTF-8 bytes of the text (the stand-in for a WARC body); a real
    ingest would read the blob column straight off Iceberg/parquet — the
    downstream plumbing is identical.
    """
    payload = F.encode(F.col(text_col), "UTF-8")
    return df.select(
        F.col(id_col).alias("id"),
        payload.alias("payload"),
        F.struct(
            F.lit("text/plain").alias("mime"),
            F.octet_length(payload).cast("long").alias("n_bytes"),
        ).alias("media"),
    )


def byte_features(df: DataFrame) -> DataFrame:
    """numpy feature extraction over binary payloads (Arrow-batched).

    Input: (id, payload: binary[, ...]); output per BYTE_FEATURES_SCHEMA.
    Entropy is Shannon entropy (bits) of the byte-value histogram — the
    deterministic stand-in for a real decoder's feature vector, with the
    same mapInPandas batch shape a JPEG/Wav decode would have.
    """

    def extract(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, nb, fb, mb, ent = [], [], [], [], []
            for i, buf in zip(pdf["id"], pdf["payload"]):
                arr = np.frombuffer(buf, dtype=np.uint8)
                ids.append(i)
                nb.append(int(arr.size))
                fb.append(int(arr[0]) if arr.size else -1)
                mb.append(float(arr.mean()) if arr.size else 0.0)
                if arr.size:
                    counts = np.bincount(arr, minlength=256)
                    p = counts[counts > 0] / arr.size
                    ent.append(float(-(p * np.log2(p)).sum()))
                else:
                    ent.append(0.0)
            yield pd.DataFrame({
                "id": ids, "n_bytes": nb, "first_byte": fb,
                "mean_byte": mb, "entropy": ent,
            })

    return df.select("id", "payload").mapInPandas(extract, BYTE_FEATURES_SCHEMA)


# ---------------------------------------------------------------------------
# Deterministic image-payload synthesis: REAL (structurally valid) PNG and
# JPEG byte streams whose every parameter derives from a 32-bit md5 hash of
# the row id — the same h32 both engines compute (dedup.h32 / DuckDB
# ``CAST('0x' || substr(md5(x),1,8) AS BIGINT)``).  The gate query builds
# payloads here and parses them back with decode_image_meta, while the
# DuckDB oracle predicts the integers straight from the hash formula:
# builder and parser are independent code paths, so the round trip
# value-proves the parser end to end.
# ---------------------------------------------------------------------------


def build_image_payload_bytes(h: int) -> bytes:
    """One payload from a 32-bit hash.  h%3==0 → PNG (bit depth 8, color
    type in {0,2,3,4,6} by h%5, Adam7 iff h%2); else JPEG (APP1 EXIF with
    orientation 1+h%8 unless h%4==0, byte order MM iff h%2, JFIF APP0, a
    DQT filler, SOF2 progressive iff h%2 else SOF0 baseline, 3
    components).  Width 1+h%4093, height 1+h%2039.  h%17==0 truncates the
    stream to 9 bytes — below any complete header."""
    import struct
    import zlib

    w, ht = 1 + h % 4093, 1 + h % 2039
    if h % 3 == 0:
        def chunk(tag: bytes, data: bytes) -> bytes:
            return (
                struct.pack(">I", len(data)) + tag + data
                + struct.pack(">I", zlib.crc32(tag + data) & 0xFFFFFFFF)
            )

        ihdr = struct.pack(
            ">IIBBBBB", w, ht, 8, (0, 2, 3, 4, 6)[h % 5], 0, 0, h % 2
        )
        blob = _PNG_SIG + chunk(b"IHDR", ihdr) + chunk(b"IEND", b"")
    else:
        parts = [b"\xff\xd8"]
        if h % 4:
            e = ">" if h % 2 else "<"
            tiff = (
                (b"MM\x00\x2a" if h % 2 else b"II\x2a\x00")
                + struct.pack(e + "I", 8)         # IFD0 offset
                + struct.pack(e + "H", 1)         # one entry
                + struct.pack(e + "HHI", 0x0112, 3, 1)
                + struct.pack(e + "H", 1 + h % 8) + b"\x00\x00"
                + struct.pack(e + "I", 0)         # no next IFD
            )
            body = b"Exif\x00\x00" + tiff
            parts.append(b"\xff\xe1" + struct.pack(">H", len(body) + 2) + body)
        jfif = b"JFIF\x00\x01\x02\x00\x00\x01\x00\x01\x00\x00"
        parts.append(b"\xff\xe0" + struct.pack(">H", len(jfif) + 2) + jfif)
        parts.append(b"\xff\xdb" + struct.pack(">H", 67) + b"\x00" + bytes(64))
        sof = struct.pack(">BHHB", 8, ht, w, 3) + b"".join(
            struct.pack("BBB", c + 1, 0x11, 0) for c in range(3)
        )
        parts.append(
            bytes([0xFF, 0xC2 if h % 2 else 0xC0])
            + struct.pack(">H", len(sof) + 2) + sof
        )
        parts.append(b"\xff\xd9")
        blob = b"".join(parts)
    return blob[:9] if h % 17 == 0 else blob


def _build_payload_df(df: DataFrame, id_col: str, builder) -> DataFrame:
    """(id, payload) via an Arrow-batched synthesizer: ``builder`` is a
    module-level bytes-from-hash function applied over h32(id).  Shared
    scaffold of with_image_payload / with_av_payload — dict-of-lists
    output keeps zero-row Arrow batches typed."""
    from influxer_spark.operators.dedup import h32

    src = df.select(
        F.col(id_col).cast("long").alias("id"),
        h32(F.col(id_col).cast("string")).alias("_h"),
    )
    out_schema = StructType([
        StructField("id", LongType()),
        StructField("payload", BinaryType()),
    ])

    def build(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield pd.DataFrame({
                "id": pdf["id"],
                "payload": [builder(int(h)) for h in pdf["_h"]],
            })

    return src.mapInPandas(build, out_schema)


def _decode_meta_df(df: DataFrame, parse_fn, schema: StructType) -> DataFrame:
    """Arrow-batched structure decode over (id, payload) with a pure
    per-payload parser — the shared scaffold of decode_image_meta /
    decode_av_meta.  Builds dict-of-lists with explicit columns so a
    zero-row Arrow batch yields an empty TYPED frame instead of crashing
    the serializer on schema selection."""
    cols = [f.name for f in schema.fields]

    def decode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out: dict[str, list] = {c: [] for c in cols}
            for i, buf in zip(pdf["id"], pdf["payload"]):
                meta = parse_fn(bytes(buf) if buf is not None else b"")
                out["id"].append(i)
                for k in cols[1:]:
                    out[k].append(meta[k])
            yield pd.DataFrame(out)

    return df.select("id", "payload").mapInPandas(decode, schema)


def with_image_payload(df: DataFrame, id_col: str) -> DataFrame:
    """(id, payload, media) with synthesized image bytes — the image-table
    stand-in (no image corpus ships with the testdata), built per
    ``build_image_payload_bytes`` from h32(id) so an oracle can predict
    the decoded metadata."""
    return _build_payload_df(df, id_col, build_image_payload_bytes).withColumn(
        "media",
        F.struct(
            F.when(
                F.substring("payload", 1, 8)
                == F.lit(bytes(_PNG_SIG)), "image/png"
            ).otherwise("image/jpeg").alias("mime"),
            F.octet_length("payload").cast("long").alias("n_bytes"),
        ),
    )


# ---------------------------------------------------------------------------
# Dependency-free image STRUCTURE decode (no codec libraries needed):
# JPEG marker walk (SOF dimensions/precision/components, progressive flag,
# EXIF APP1 orientation in either byte order) and PNG IHDR parse
# (dimensions, bit depth, color type, Adam7 interlace flag) — RFC-described
# container formats, parsed from bytes with the stdlib only.  Pixel decode
# (Huffman/inflate) stays out of scope: metadata is what a curation
# pipeline filters on (resolution floors, EXIF rotation, progressive
# re-encode queues), and it is integer-exact — DuckDB-oracle-checkable.
# ---------------------------------------------------------------------------

IMAGE_META_SCHEMA = StructType([
    StructField("id", LongType()),
    StructField("format", StringType()),
    StructField("width", LongType()),
    StructField("height", LongType()),
    StructField("bit_depth", LongType()),
    StructField("color_type", LongType()),
    StructField("n_components", LongType()),
    StructField("progressive", BooleanType()),
    StructField("interlaced", BooleanType()),
    StructField("orientation", LongType()),
    StructField("decode_error", StringType()),
])

_PNG_SIG = b"\x89PNG\r\n\x1a\n"
# SOFn markers carry frame dimensions; C4/C8/CC are DHT/JPG/DAC, not SOFs
_SOF_MARKERS = frozenset(
    {0xC0, 0xC1, 0xC2, 0xC3, 0xC5, 0xC6, 0xC7,
     0xC9, 0xCA, 0xCB, 0xCD, 0xCE, 0xCF}
)
_PROGRESSIVE_SOFS = frozenset({0xC2, 0xC6, 0xCA, 0xCE})


def _exif_orientation(seg: bytes) -> int:
    """Orientation (tag 0x0112, SHORT) from an APP1 payload following
    'Exif\\0\\0' — both TIFF byte orders; 0 when absent/unreadable."""
    if len(seg) < 14:
        return 0
    endian = {b"II": "little", b"MM": "big"}.get(seg[:2])
    if endian is None or int.from_bytes(seg[2:4], endian) != 42:
        return 0
    off = int.from_bytes(seg[4:8], endian)
    if off + 2 > len(seg):
        return 0
    n = int.from_bytes(seg[off:off + 2], endian)
    p = off + 2
    for _ in range(n):
        if p + 12 > len(seg):
            return 0
        tag = int.from_bytes(seg[p:p + 2], endian)
        typ = int.from_bytes(seg[p + 2:p + 4], endian)
        if tag == 0x0112 and typ == 3:  # SHORT, left-justified in value
            return int.from_bytes(seg[p + 8:p + 10], endian)
        p += 12
    return 0


def parse_image_meta_bytes(b: bytes) -> dict:
    """Pure structure parse of one payload → IMAGE_META_SCHEMA fields
    (without id).  On any error every field is NULL except decode_error
    (a short stable code: empty / not_image / truncated / bad_ihdr /
    bad_marker / no_sof)."""
    null = dict.fromkeys(
        ("format", "width", "height", "bit_depth", "color_type",
         "n_components", "progressive", "interlaced", "orientation"),
    )

    def err(code: str) -> dict:
        return {**null, "decode_error": code}

    if not b:
        return err("empty")
    if b[:8] == _PNG_SIG:
        # first chunk must be IHDR: len(4) 'IHDR' data(13) crc(4)
        if len(b) < 29:
            return err("truncated")
        if b[12:16] != b"IHDR" or int.from_bytes(b[8:12], "big") != 13:
            return err("bad_ihdr")
        return {
            "format": "png",
            "width": int.from_bytes(b[16:20], "big"),
            "height": int.from_bytes(b[20:24], "big"),
            "bit_depth": b[24],
            "color_type": b[25],
            "n_components": None,
            "progressive": None,
            "interlaced": b[28] == 1,
            "orientation": 0,
            "decode_error": None,
        }
    if b[:2] != b"\xff\xd8":
        return err("not_image")
    orientation = 0
    i = 2
    while True:
        if i + 2 > len(b):
            return err("truncated")
        if b[i] != 0xFF:
            return err("bad_marker")
        while i + 1 < len(b) and b[i + 1] == 0xFF:
            i += 1  # fill bytes
        if i + 2 > len(b):
            return err("truncated")
        m = b[i + 1]
        if m == 0x01 or 0xD0 <= m <= 0xD8:  # standalone, no length
            i += 2
            continue
        if m == 0xD9:  # EOI before any SOF
            return err("no_sof")
        if i + 4 > len(b):
            return err("truncated")
        seglen = int.from_bytes(b[i + 2:i + 4], "big")
        if seglen < 2 or i + 2 + seglen > len(b):
            return err("truncated")
        seg = b[i + 4:i + 2 + seglen]
        if m == 0xE1 and seg[:6] == b"Exif\x00\x00":
            orientation = _exif_orientation(seg[6:])
        if m in _SOF_MARKERS:
            if len(seg) < 6:
                return err("truncated")
            return {
                "format": "jpeg",
                "width": int.from_bytes(seg[3:5], "big"),
                "height": int.from_bytes(seg[1:3], "big"),
                "bit_depth": seg[0],  # sample precision
                "color_type": None,
                "n_components": seg[5],
                "progressive": m in _PROGRESSIVE_SOFS,
                "interlaced": None,
                "orientation": orientation,
                "decode_error": None,
            }
        i += 2 + seglen


def decode_image_meta(df: DataFrame) -> DataFrame:
    """Arrow-batched structure decode over (id, payload) — the REAL decode
    path for image payloads, mapInPandas with the same narrow,
    batch-bounded shape as ``byte_features``; no shuffle, pipelines with
    the scan."""
    return _decode_meta_df(df, parse_image_meta_bytes, IMAGE_META_SCHEMA)


# ---------------------------------------------------------------------------
# Audio/video CONTAINER decode, same dependency-free posture as images:
# WAV RIFF chunk walk (channels, sample rate, bit depth, sample count) and
# MP4/ISO-BMFF box walk (ftyp major brand, moov/mvhd timescale + duration,
# both mvhd versions) — RFC/ISO-described structures parsed from bytes.
# Sample-level decode (PCM resample, H.264, AAC) stays honestly out of
# scope; container metadata is what a curation pipeline filters on
# (duration floors, sample-rate buckets, channel layout) and is
# integer-exact, so the same synthesize→parse→predict oracle applies.
# ---------------------------------------------------------------------------

AV_META_SCHEMA = StructType([
    StructField("id", LongType()),
    StructField("container", StringType()),
    StructField("channels", LongType()),
    StructField("sample_rate", LongType()),
    StructField("bits_per_sample", LongType()),
    StructField("n_samples", LongType()),
    StructField("brand", StringType()),
    StructField("timescale", LongType()),
    StructField("duration", LongType()),
    StructField("duration_ms", LongType()),
    StructField("decode_error", StringType()),
])

_WAV_RATES = (8000, 16000, 22050, 44100, 48000)
_MP4_TIMESCALES = (600, 1000, 90000, 48000)


def build_av_payload_bytes(h: int) -> bytes:
    """One audio/video payload from a 32-bit hash.  h%2==0 → WAV (PCM
    fmt chunk + a real data chunk of 1+h%256 samples, channels 1+h%3∈
    {1,2,3}, rate _WAV_RATES[h%5], bits in {8,16,24,32} by h%4);
    else MP4 (ftyp 'isom' or 'mp42' by h%3, moov/mvhd v0 with timescale
    _MP4_TIMESCALES[h%4] and duration h%1000000).  h%13==0 truncates to
    6 bytes."""
    import struct

    if h % 2 == 0:
        ch = 1 + h % 3
        rate = _WAV_RATES[h % 5]
        bits = (8, 16, 24, 32)[h % 4]
        n = 1 + h % 256
        data = bytes((i * 37 + h) % 256 for i in range(n * ch * (bits // 8)))
        fmt = struct.pack(
            "<HHIIHH", 1, ch, rate, rate * ch * bits // 8,
            ch * bits // 8, bits,
        )
        body = (
            b"WAVE"
            + b"fmt " + struct.pack("<I", len(fmt)) + fmt
            + b"data" + struct.pack("<I", len(data)) + data
        )
        blob = b"RIFF" + struct.pack("<I", len(body)) + body
    else:
        brand = b"isom" if h % 3 else b"mp42"
        ftyp = brand + struct.pack(">I", 0) + b"isommp42"
        ftyp_box = struct.pack(">I", 8 + len(ftyp)) + b"ftyp" + ftyp
        ts = _MP4_TIMESCALES[h % 4]
        dur = h % 1000000
        mvhd_body = (
            b"\x00\x00\x00\x00"             # version 0 + flags
            + struct.pack(">II", 0, 0)       # ctime, mtime
            + struct.pack(">II", ts, dur)    # timescale, duration
            + struct.pack(">I", 0x00010000)  # rate 1.0
            + struct.pack(">H", 0x0100)      # volume 1.0
            + bytes(10)                      # reserved
            + bytes(36)                      # matrix
            + bytes(24)                      # pre_defined
            + struct.pack(">I", 2)           # next_track_id
        )
        mvhd = struct.pack(">I", 8 + len(mvhd_body)) + b"mvhd" + mvhd_body
        moov = struct.pack(">I", 8 + len(mvhd)) + b"moov" + mvhd
        blob = ftyp_box + moov
    return blob[:6] if h % 13 == 0 else blob


def parse_av_meta_bytes(b: bytes) -> dict:
    """Pure container parse of one payload → AV_META_SCHEMA fields
    (without id).  On any error every field is NULL except decode_error
    (empty / not_media / truncated / no_fmt / no_data / non_pcm /
    no_mvhd)."""
    null = dict.fromkeys(
        ("container", "channels", "sample_rate", "bits_per_sample",
         "n_samples", "brand", "timescale", "duration", "duration_ms"),
    )

    def err(code: str) -> dict:
        return {**null, "decode_error": code}

    if not b:
        return err("empty")
    if b[:4] == b"RIFF":
        if len(b) < 12 or b[8:12] != b"WAVE":
            return err("truncated" if len(b) < 12 else "not_media")
        fmt = None
        data_size = None
        i = 12
        while i + 8 <= len(b):
            tag = b[i:i + 4]
            size = int.from_bytes(b[i + 4:i + 8], "little")
            if tag == b"fmt " and i + 8 + size <= len(b) and size >= 16:
                fmt = b[i + 8:i + 8 + 16]
            elif tag == b"data":
                # the declared size must actually be present: a stream cut
                # mid-data would otherwise yield fabricated n_samples /
                # duration with decode_error NULL
                if i + 8 + size > len(b):
                    return err("truncated")
                data_size = size  # payload bytes need not be inspected
            i += 8 + size + (size & 1)  # RIFF chunks are word-aligned
        if fmt is None:
            return err("no_fmt")
        if data_size is None:
            return err("no_data")
        # only PCM (1) and WAVE_FORMAT_EXTENSIBLE (0xFFFE) frame samples at
        # bits/8 bytes; a compressed payload (0x0055 MP3-in-RIFF) has no
        # sample count derivable from the data size
        if int.from_bytes(fmt[0:2], "little") not in (1, 0xFFFE):
            return err("non_pcm")
        ch = int.from_bytes(fmt[2:4], "little")
        rate = int.from_bytes(fmt[4:8], "little")
        bits = int.from_bytes(fmt[14:16], "little")
        frame = ch * (bits // 8)
        n = data_size // frame if frame else None
        return {
            "container": "wav",
            "channels": ch,
            "sample_rate": rate,
            "bits_per_sample": bits,
            "n_samples": n,
            "brand": None,
            "timescale": None,
            "duration": None,
            "duration_ms": (n * 1000) // rate if rate and n is not None
            else None,
            "decode_error": None,
        }

    def boxes(lo: int, hi: int):
        i = lo
        while i + 8 <= hi:
            size = int.from_bytes(b[i:i + 4], "big")
            typ = b[i + 4:i + 8]
            if size == 1:  # 64-bit largesize
                if i + 16 > hi:
                    return
                real = int.from_bytes(b[i + 8:i + 16], "big")
                if real < 16:
                    return  # malformed: stop walking
                yield typ, i + 16, min(i + real, hi)
                i += real
            elif size == 0:  # box extends to end of file
                yield typ, i + 8, hi
                return
            else:
                if size < 8:
                    return  # malformed: stop walking
                yield typ, i + 8, min(i + size, hi)
                i += size

    if len(b) >= 8 and b[4:8] == b"ftyp":
        brand = b[8:12].decode("latin1") if len(b) >= 12 else None
        if brand is None:
            return err("truncated")
        for typ, lo, hi in boxes(0, len(b)):
            if typ != b"moov":
                continue
            for t2, lo2, hi2 in boxes(lo, hi):
                if t2 != b"mvhd" or lo2 + 4 > hi2:
                    continue
                ver = b[lo2]
                # v0: 4+4+4 ctime/mtime then ts(4)+dur(4);
                # v1: 8+8 then ts(4)+dur(8)
                if ver == 0:
                    need = lo2 + 4 + 8 + 8
                    if need > hi2:
                        return err("truncated")
                    ts = int.from_bytes(b[lo2 + 12:lo2 + 16], "big")
                    dur = int.from_bytes(b[lo2 + 16:lo2 + 20], "big")
                else:
                    need = lo2 + 4 + 16 + 12
                    if need > hi2:
                        return err("truncated")
                    ts = int.from_bytes(b[lo2 + 20:lo2 + 24], "big")
                    dur = int.from_bytes(b[lo2 + 24:lo2 + 32], "big")
                return {
                    "container": "mp4",
                    "channels": None,
                    "sample_rate": None,
                    "bits_per_sample": None,
                    "n_samples": None,
                    "brand": brand,
                    "timescale": ts,
                    "duration": dur,
                    "duration_ms": (dur * 1000) // ts if ts else None,
                    "decode_error": None,
                }
        return err("no_mvhd")
    if len(b) < 12:
        return err("truncated")
    return err("not_media")


def with_av_payload(df: DataFrame, id_col: str) -> DataFrame:
    """(id, payload, media) with synthesized WAV/MP4 bytes from h32(id) —
    the audio/video analogue of with_image_payload."""
    return _build_payload_df(df, id_col, build_av_payload_bytes).withColumn(
        "media",
        F.struct(
            F.when(
                F.substring("payload", 1, 4) == F.lit(b"RIFF"), "audio/wav"
            ).otherwise("video/mp4").alias("mime"),
            F.octet_length("payload").cast("long").alias("n_bytes"),
        ),
    )


def decode_av_meta(df: DataFrame) -> DataFrame:
    """Arrow-batched WAV/MP4 container decode over (id, payload) — same
    narrow batch-bounded shape as decode_image_meta."""
    return _decode_meta_df(df, parse_av_meta_bytes, AV_META_SCHEMA)


def decode_media(df: DataFrame, mime: str) -> DataFrame:
    """Decode dispatch.  ``image/*`` (png/jpeg) runs the image structure
    parser; ``audio/*`` / ``video/*`` (wav/mp4) run the container parser
    — all real metadata decode, no codec libraries.  Sample/pixel-level
    decode (PCM, H.264, AAC, JPEG Huffman) remains honestly gated: on a
    real cluster swap in a mapInPandas body calling Pillow / soundfile /
    pyav over the same (id, payload) projection — the plan shape is
    identical.
    """
    if mime.startswith("image/") or mime == "image":
        return decode_image_meta(df)
    if (
        mime.startswith("audio/") or mime.startswith("video/")
        or mime in ("audio", "video")
    ):
        return decode_av_meta(df)
    raise NotImplementedError(
        f"decode for {mime!r} requires media libraries not present in this "
        "environment; image/audio/video decode structurally via "
        "decode_image_meta / decode_av_meta"
    )
