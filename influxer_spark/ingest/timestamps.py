"""Timestamp parsing — the three reference modes (SURVEY.md §2.3 F7-F9).

- String:  .NET ``DateTime.TryParseExact(fmt)`` + AddMinutes(UtcOffset)
           (Influxer/GenericFile.cs:122-125). .NET format tokens are
           translated to java.time tokens for ``to_timestamp``.
- Epoch:   long at configured precision (Influxer/ExtensionMethods.cs:55-69);
           microseconds TRUNCATE to milliseconds (epoch/1000, toward zero);
           nanoseconds truncate to 100ns ticks — Spark timestamps hold µs, so
           a non-µs-aligned 100ns tick cannot round-trip; values are µs-
           truncated here (documented deviation, sub-µs only).
- Binary:  .NET ``DateTime.FromBinary(long)`` — lower 62 bits are ticks
           (100ns since 0001-01-01), top 2 bits the DateTimeKind
           (Influxer/GenericFile.cs:126-130). Kind bits are masked off; Local
           kind's timezone adjustment is not replicated (fixtures use UTC).

All parses are ``try_``-style: failure yields NULL, surfaced as a row error
by the caller (the reference throws FormatException per row,
Influxer/GenericFile.cs:121-137). ANSI mode (Spark 4 default) would make
plain casts throw task-fatally — hence try_to_timestamp / try_cast.

All arithmetic stays in LONG Columns: double division is lossy above 2^53,
which nanosecond epochs (~1.7e18) exceed.
"""

from __future__ import annotations

import re
from datetime import datetime, timedelta

from pyspark.sql import Column
from pyspark.sql import functions as F

from influxer_spark.ingest.config import TimePrecision

_EPOCH_TICKS = 621355968000000000  # ticks 0001-01-01 → 1970-01-01
_TICKS_MASK = 0x3FFFFFFFFFFFFFFF

# .NET custom format token → java.time pattern token. Most tokens coincide;
# the fractional-second family differs (.NET f → java S).
_TOKEN_MAP = {
    "fffffff": "SSSSSSS",
    "ffffff": "SSSSSS",
    "fffff": "SSSSS",
    "ffff": "SSSS",
    "fff": "SSS",
    "ff": "SS",
    "f": "S",
    "tt": "a",
    "zzz": "xxx",
    "zz": "xx",
    "z": "x",
}

_TOKEN_RE = re.compile("|".join(sorted(_TOKEN_MAP, key=len, reverse=True)))


def dotnet_to_java_format(fmt: str) -> str:
    """Translate a .NET custom date format to a java.time pattern.

    y/M/d/H/h/m/s tokens are shared verbatim by both systems; only the
    fraction (f→S), am/pm (tt→a) and offset (z→x) families differ.
    """
    return _TOKEN_RE.sub(lambda m: _TOKEN_MAP[m.group(0)], fmt)


def _idiv_toward_zero(v: Column, d: int) -> Column:
    """Exact C#-style integer division (truncate toward zero), long-only.

    floor(v/d) computed in double can be off by ±1 above 2^53, so it is
    corrected with exact long remainder arithmetic; toward-zero then adds 1
    for negative non-divisible values (C# '/' semantics).
    """
    q0 = F.floor(v / F.lit(d)).cast("long")
    # r0 = v - q0*d is exact long math and small (|r0| ≲ few·d), so the
    # floor of r0/d is double-exact; q then equals floor(v/d) exactly.
    r0 = v - q0 * d
    q = q0 + F.floor(r0 / F.lit(d)).cast("long")
    r = v - q * d
    return q + F.when((r != 0) & (v < 0), 1).otherwise(0)


def parse_ts_string_col(c: Column, dotnet_fmt: str, utc_offset_min: int) -> Column:
    java_fmt = dotnet_to_java_format(dotnet_fmt)
    ts = F.try_to_timestamp(c, F.lit(java_fmt))
    if utc_offset_min:
        ts = ts + F.expr(f"INTERVAL {int(utc_offset_min)} MINUTES")
    return ts


def parse_ts_epoch_col(c: Column, precision: TimePrecision) -> Column:
    """Epoch long → timestamp per Influxer/ExtensionMethods.cs:55-69."""
    v = c.try_cast("long")
    if precision == TimePrecision.HOURS:
        return F.timestamp_seconds(v * 3600)
    if precision == TimePrecision.MINUTES:
        return F.timestamp_seconds(v * 60)
    if precision == TimePrecision.SECONDS:
        return F.timestamp_seconds(v)
    if precision == TimePrecision.MILLISECONDS:
        return F.timestamp_millis(v)
    if precision == TimePrecision.MICROSECONDS:
        # µs truncates to ms first: Origin.AddTicks(epoch/1000 * TicksPerMs)
        return F.timestamp_millis(_idiv_toward_zero(v, 1000))
    if precision == TimePrecision.NANOSECONDS:
        # reference keeps 100ns ticks (epoch/100); Spark holds µs → div 1000
        return F.timestamp_micros(_idiv_toward_zero(v, 1000))
    raise ValueError(f"unknown precision {precision}")


def parse_ts_binary_col(c: Column) -> Column:
    """.NET DateTime.FromBinary: mask kind bits, ticks → µs since epoch."""
    b = c.try_cast("long")
    ticks = b.bitwiseAND(F.lit(_TICKS_MASK).cast("long"))
    return F.timestamp_micros(_idiv_toward_zero(ticks - F.lit(_EPOCH_TICKS), 10))


# ---------------------------------------------------------------------------
# pure-Python mirrors (refmodel + driver-side inference)
# ---------------------------------------------------------------------------

_UNIX_EPOCH_NAIVE = datetime(1970, 1, 1)


def _py_idiv_toward_zero(v: int, d: int) -> int:
    q = abs(v) // d
    return -q if v < 0 else q


def py_parse_ts_string(content: str, dotnet_fmt: str, utc_offset_min: int) -> datetime:
    """strptime-based mirror of DateTime.TryParseExact for the token subset
    used in configs/fixtures (yyyy MM dd HH mm ss fff M d yy m s hh tt)."""
    repl = [
        ("yyyy", "%Y"), ("yy", "%y"), ("MM", "%m"), ("M", "%m"),
        ("dd", "%d"), ("d", "%d"), ("HH", "%H"), ("H", "%H"),
        ("mm", "%M"), ("m", "%M"), ("ss", "%S"), ("s", "%S"),
        ("fffffff", "%f"), ("ffffff", "%f"), ("fffff", "%f"), ("ffff", "%f"),
        ("fff", "%f"), ("ff", "%f"), ("f", "%f"), ("tt", "%p"), ("hh", "%I"),
    ]
    out, i = [], 0
    while i < len(dotnet_fmt):
        for tok, code in repl:
            if dotnet_fmt.startswith(tok, i):
                out.append(code)
                i += len(tok)
                break
        else:
            out.append(dotnet_fmt[i])
            i += 1
    ts = datetime.strptime(content, "".join(out))
    # .NET fff is milliseconds; strptime %f interprets "123" as 123000 µs —
    # identical value, no correction needed.
    return ts + timedelta(minutes=utc_offset_min)


def py_parse_ts_epoch(epoch: int, precision: TimePrecision) -> datetime:
    o = _UNIX_EPOCH_NAIVE
    if precision == TimePrecision.HOURS:
        return o + timedelta(hours=epoch)
    if precision == TimePrecision.MINUTES:
        return o + timedelta(minutes=epoch)
    if precision == TimePrecision.SECONDS:
        return o + timedelta(seconds=epoch)
    if precision == TimePrecision.MILLISECONDS:
        return o + timedelta(milliseconds=epoch)
    if precision == TimePrecision.MICROSECONDS:
        return o + timedelta(milliseconds=_py_idiv_toward_zero(epoch, 1000))
    if precision == TimePrecision.NANOSECONDS:
        return o + timedelta(microseconds=_py_idiv_toward_zero(epoch, 1000))
    raise ValueError(precision)


def py_parse_ts_binary(b: int) -> datetime:
    ticks = b & _TICKS_MASK
    return _UNIX_EPOCH_NAIVE + timedelta(
        microseconds=_py_idiv_toward_zero(ticks - _EPOCH_TICKS, 10)
    )

