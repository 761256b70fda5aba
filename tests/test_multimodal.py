"""Unit tests for the multimodal binary-column plumbing."""

from __future__ import annotations

import math

import pytest

from influxer_spark.operators import multimodal as M


@pytest.fixture(scope="module")
def payloads(spark):
    df = spark.createDataFrame(
        [(1, "aaaa"), (2, "ab"), (3, "hello world")], ["doc_id", "text"]
    )
    return M.with_payload(df, "doc_id", "text")


def test_with_payload_schema(payloads):
    fields = {f.name: f.dataType.simpleString() for f in payloads.schema.fields}
    assert fields["payload"] == "binary"
    assert fields["media"] == "struct<mime:string,n_bytes:bigint>"
    meta = {r["id"]: r["media"] for r in payloads.collect()}
    assert meta[1]["n_bytes"] == 4
    assert meta[3]["mime"] == "text/plain"


def test_byte_features_known_values(payloads):
    rows = {r["id"]: r for r in M.byte_features(payloads).collect()}
    # "aaaa": single byte value → entropy 0, mean = ord('a')
    assert rows[1]["n_bytes"] == 4
    assert rows[1]["entropy"] == 0.0
    assert rows[1]["mean_byte"] == float(ord("a"))
    assert rows[1]["first_byte"] == ord("a")
    # "ab": two equiprobable byte values → entropy exactly 1 bit
    assert rows[2]["entropy"] == pytest.approx(1.0, abs=0)
    # "hello world": entropy of the histogram, computed independently
    text = b"hello world"
    from collections import Counter
    p = [c / len(text) for c in Counter(text).values()]
    assert rows[3]["entropy"] == pytest.approx(-sum(x * math.log2(x) for x in p))


def test_decode_media_non_media_mimes_still_gated(payloads):
    # image/audio/video decode structurally since r5; everything else
    # (and sample/pixel-level decode) stays honestly out of scope
    for mime in ("application/pdf", "text/html", "font/woff2"):
        with pytest.raises(NotImplementedError):
            M.decode_media(payloads, mime)


def _h32_py(s: str) -> int:
    import hashlib

    return int(hashlib.md5(s.encode()).hexdigest()[:8], 16)


def test_image_builder_parser_roundtrip_pure():
    """build_image_payload_bytes → parse_image_meta_bytes over a hash
    sweep: every derived parameter reads back exactly (independent code
    paths — the builder packs, the parser walks markers/chunks)."""
    seen = {"png": 0, "jpeg": 0, "trunc": 0, "exif_mm": 0, "exif_ii": 0}
    for i in range(2000):
        h = _h32_py(str(i))
        m = M.parse_image_meta_bytes(M.build_image_payload_bytes(h))
        if h % 17 == 0:
            assert m["decode_error"] == "truncated" and m["width"] is None
            seen["trunc"] += 1
            continue
        assert m["decode_error"] is None
        assert m["width"] == 1 + h % 4093
        assert m["height"] == 1 + h % 2039
        assert m["bit_depth"] == 8
        if h % 3 == 0:
            assert m["format"] == "png"
            assert m["color_type"] == (0, 2, 3, 4, 6)[h % 5]
            assert m["interlaced"] == (h % 2 == 1)
            assert m["orientation"] == 0
            assert m["progressive"] is None and m["n_components"] is None
            seen["png"] += 1
        else:
            assert m["format"] == "jpeg"
            assert m["n_components"] == 3
            assert m["progressive"] == (h % 2 == 1)
            assert m["orientation"] == (0 if h % 4 == 0 else 1 + h % 8)
            assert m["color_type"] is None and m["interlaced"] is None
            seen["jpeg"] += 1
            if h % 4:
                seen["exif_mm" if h % 2 else "exif_ii"] += 1
    assert all(v > 0 for v in seen.values()), seen  # every branch exercised


def test_image_parser_corrupt_inputs():
    p = M.parse_image_meta_bytes
    assert p(b"")["decode_error"] == "empty"
    assert p(b"GIF89a not supported")["decode_error"] == "not_image"
    assert p(b"\x89PNG\r\n\x1a\n" + b"\x00" * 10)["decode_error"] == "truncated"
    assert (
        p(b"\x89PNG\r\n\x1a\n\x00\x00\x00\x0dIDAT" + b"\x00" * 17)["decode_error"]
        == "bad_ihdr"
    )
    assert p(b"\xff\xd8\xff\xd9")["decode_error"] == "no_sof"
    assert p(b"\xff\xd8\x00\x00")["decode_error"] == "bad_marker"
    # segment length pointing past the buffer
    assert p(b"\xff\xd8\xff\xe0\xff\xff")["decode_error"] == "truncated"
    # errors never leak partial fields
    for blob in (b"", b"junk", b"\xff\xd8\xff\xd9"):
        m = p(blob)
        assert all(
            m[k] is None
            for k in m
            if k != "decode_error"
        )


def test_decode_image_meta_spark_matches_pure(spark, sf_dir):
    """The Spark path (with_image_payload → decode_media) equals the pure
    builder+parser fold and the DuckDB oracle prediction at sf0.001."""
    import duckdb

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    out = {
        r["id"]: r.asDict()
        for r in M.decode_media(
            M.with_image_payload(docs, "doc_id"), "image/png"
        ).collect()
    }
    from influxer_spark.training_queries import training_oracle_sql

    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM '{sf_dir}/documents.parquet'"
    )
    want = con.execute(training_oracle_sql()["decode_image_meta"]).fetchall()
    assert len(want) == len(out) > 0
    for row in want:
        doc_id, fmt, w, ht, bd, ct, nc, prog, il, orient, errc = row
        got = out[doc_id]
        assert (
            got["format"], got["width"], got["height"], got["bit_depth"],
            got["color_type"], got["n_components"], got["progressive"],
            got["interlaced"], got["orientation"], got["decode_error"],
        ) == (fmt, w, ht, bd, ct, nc, prog, il, orient, errc), doc_id
    # mime metadata agrees with the decoded format
    mimes = {
        r["id"]: r["media"]["mime"]
        for r in M.with_image_payload(docs, "doc_id").collect()
    }
    for doc_id, meta in out.items():
        if meta["format"] == "png":
            assert mimes[doc_id] == "image/png"
        elif meta["format"] == "jpeg":
            assert mimes[doc_id] == "image/jpeg"


def test_av_builder_parser_roundtrip_pure():
    """build_av_payload_bytes → parse_av_meta_bytes over a hash sweep:
    every derived WAV/MP4 parameter reads back exactly, including the
    integer-division duration_ms."""
    seen = {"wav": 0, "mp4": 0, "trunc": 0}
    for i in range(2000):
        h = _h32_py(str(i))
        m = M.parse_av_meta_bytes(M.build_av_payload_bytes(h))
        if h % 13 == 0:
            assert m["decode_error"] == "truncated" and m["container"] is None
            seen["trunc"] += 1
            continue
        assert m["decode_error"] is None
        if h % 2 == 0:
            ch, rate = 1 + h % 3, M._WAV_RATES[h % 5]
            bits, n = (8, 16, 24, 32)[h % 4], 1 + h % 256
            assert m["container"] == "wav"
            assert (m["channels"], m["sample_rate"], m["bits_per_sample"],
                    m["n_samples"]) == (ch, rate, bits, n)
            assert m["duration_ms"] == (n * 1000) // rate
            assert m["brand"] is None and m["timescale"] is None
            seen["wav"] += 1
        else:
            ts, dur = M._MP4_TIMESCALES[h % 4], h % 1000000
            assert m["container"] == "mp4"
            assert m["brand"] == ("isom" if h % 3 else "mp42")
            assert (m["timescale"], m["duration"]) == (ts, dur)
            assert m["duration_ms"] == (dur * 1000) // ts
            assert m["channels"] is None
            seen["mp4"] += 1
    assert all(v > 0 for v in seen.values()), seen


def test_av_parser_corrupt_and_spec_edges():
    import struct

    p = M.parse_av_meta_bytes
    assert p(b"")["decode_error"] == "empty"
    assert p(b"plain text bytes")["decode_error"] == "not_media"
    assert p(b"RIFFxx")["decode_error"] == "truncated"
    assert p(b"RIFF\x04\x00\x00\x00WAVE")["decode_error"] == "no_fmt"
    # fmt but no data chunk
    fmt = struct.pack("<HHIIHH", 1, 1, 8000, 8000, 1, 8)
    blob = b"RIFF" + struct.pack("<I", 4 + 8 + len(fmt)) + b"WAVE" \
        + b"fmt " + struct.pack("<I", len(fmt)) + fmt
    assert p(blob)["decode_error"] == "no_data"
    # odd-sized chunk before fmt: RIFF word alignment must be honored
    odd = b"LIST" + struct.pack("<I", 3) + b"abc\x00"  # 3 data + 1 pad
    blob2 = (
        b"RIFF" + struct.pack("<I", 100) + b"WAVE" + odd
        + b"fmt " + struct.pack("<I", len(fmt)) + fmt
        + b"data" + struct.pack("<I", 8) + bytes(8)
    )
    m = p(blob2)
    assert m["decode_error"] is None and m["n_samples"] == 8
    # mp4: ftyp without moov / mvhd
    ftyp = struct.pack(">I", 16) + b"ftypisom" + struct.pack(">I", 0)
    assert p(ftyp)["decode_error"] == "no_mvhd"
    # mvhd VERSION 1 (64-bit times) — not generated by the builder, but
    # real files use it; the parser must read the shifted offsets
    body_v1 = (
        b"\x01\x00\x00\x00" + bytes(16)            # v1 + ctime/mtime 8+8
        + struct.pack(">I", 90000)                  # timescale
        + struct.pack(">Q", 123456789)              # duration (64-bit)
    )
    mvhd = struct.pack(">I", 8 + len(body_v1)) + b"mvhd" + body_v1
    moov = struct.pack(">I", 8 + len(mvhd)) + b"moov" + mvhd
    m2 = p(ftyp + moov)
    assert m2["decode_error"] is None
    assert m2["timescale"] == 90000 and m2["duration"] == 123456789
    assert m2["duration_ms"] == (123456789 * 1000) // 90000
    # 64-bit largesize box wrapping moov
    big = struct.pack(">I", 1) + b"moov" + struct.pack(">Q", 16 + len(mvhd)) + mvhd
    m3 = p(ftyp + big)
    assert m3["decode_error"] is None and m3["timescale"] == 90000
    # errors never leak partial fields
    for blob in (b"", b"junk", b"RIFFxx"):
        mm = p(blob)
        assert all(mm[k] is None for k in mm if k != "decode_error")


def test_decode_av_meta_spark_matches_oracle(spark, sf_dir):
    import duckdb

    from influxer_spark.training_queries import (
        training_oracle_sql,
        training_queries,
    )

    df = training_queries()["decode_av_meta"](spark, sf_dir)
    got = sorted(tuple(r) for r in df.collect())
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM '{sf_dir}/documents.parquet'"
    )
    want = sorted(
        tuple(r)
        for r in con.execute(training_oracle_sql()["decode_av_meta"]).fetchall()
    )
    assert got == want and len(got) > 0


def test_wav_truncated_inside_data_chunk_is_flagged():
    """A WAV cut off mid-data (intact headers, declared data size larger
    than the bytes present) must report 'truncated', and a non-PCM WAV
    (format tag 0x0055, MP3-in-RIFF) 'non_pcm' — neither may fabricate
    n_samples/duration from the declared size."""
    import struct

    def wav(tag: int, data: bytes, declared: int) -> bytes:
        fmt = struct.pack("<HHIIHH", tag, 2, 44100, 176400, 4, 16)
        return (
            b"RIFF" + struct.pack("<I", 4 + 24 + 8 + declared) + b"WAVE"
            + b"fmt " + struct.pack("<I", len(fmt)) + fmt
            + b"data" + struct.pack("<I", declared) + data
        )

    for blob, code in (
        (wav(1, bytes(100), 176400), "truncated"),  # cut short
        (wav(0x0055, bytes(400), 400), "non_pcm"),
    ):
        m = M.parse_av_meta_bytes(blob)
        assert m["decode_error"] == code
        assert m["n_samples"] is None and m["duration_ms"] is None
