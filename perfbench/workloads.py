"""The benchmark's workloads.  Each one builds its inputs in ``setup``
(timed as ``setup_s``), then repeats ``cycle`` until the run's seconds are
used, checking every operation's output as it goes.

An operation is a pipeline wave, a refresh, a maintain sweep or one
statement; it fails if it raises or if its output check fails.
"""

from __future__ import annotations

import datetime as dt
import math
import os
import shutil
import sys
import time
import traceback
from typing import Any
from urllib.parse import unquote, urlparse

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from influxer_spark import influxql_frontend
from influxer_spark.catalog import TableCatalog
from influxer_spark.datagen import generate_pages
from influxer_spark.extract import pages_to_points, with_crawl_metrics, with_extracted
from influxer_spark.extract_kernel import extract_kernel
from influxer_spark.influxql_frontend import InfluxQLEngine
from influxer_spark.operators import gorilla, hdrsketch, intcodec
from influxer_spark.operators.retention import apply_retention
from influxer_spark.operators.rollup import rollup_width
from influxer_spark.pipeline import POINT_KEYS, refresh_pipeline, run_pipeline

from inputs import StatementMix, day_str, make_shifted_pages, zipf_urls
from layers import SINKS
from tracing import Tracer

TIER_WIDTHS = {"rollup_1m": 60, "rollup_1h": 3600, "rollup_1d": 86400}
ROLLUP_COLS = ("bucket", *POINT_KEYS, "cnt", "sum_v", "min_v", "max_v")
MAINTAIN_TABLES = SINKS + ("hdr_1h", "hdr_1d")
HDR_REL = 2.0 ** -hdrsketch.DEFAULT_SUB_BITS
STMT_PASSES = 3  # over the statement batch; the first compiles the plans


class CheckFailed(Exception):
    pass


def _num_close(a: Any, b: Any, rel: float, abs_: float) -> bool:
    if isinstance(a, float) or isinstance(b, float):
        if a is None or b is None:
            return a is b
        if math.isnan(a) or math.isnan(b):
            return math.isnan(a) and math.isnan(b)
        return abs(a - b) <= max(rel * max(abs(a), abs(b)), abs_)
    return a == b


def _sort_key(row: tuple) -> tuple:
    return tuple("" if v is None else str(v) for v in row if not isinstance(v, float))


def compare_rows(got: list[tuple], want: list[tuple], rel: float, abs_: float) -> None:
    """Raise :class:`CheckFailed` unless the row multisets agree, floats
    within ``rel``/``abs_``."""
    if len(got) != len(want):
        raise CheckFailed(f"{len(got)} rows, expected {len(want)}")
    for g, w in zip(sorted(got, key=_sort_key), sorted(want, key=_sort_key)):
        if len(g) != len(w) or not all(
            _num_close(a, b, rel, abs_) for a, b in zip(g, w)
        ):
            raise CheckFailed(f"row {g} != expected {w}")


def collect(df) -> list[tuple]:
    return [tuple(r) for r in df.collect()]


def files_snapshot(path: str) -> dict[str, int]:
    return {
        os.path.join(root, f): os.path.getsize(os.path.join(root, f))
        for root, _, files in os.walk(path) for f in files
    }


def observed_route(df, root: str) -> str:
    """Which of the catalog's tables under ``root`` the statement read:
    tier, hdr, raw or tail (tier plus the raw real-time tail)."""
    tables = {
        os.path.relpath(unquote(urlparse(f).path), root).split(os.sep)[0]
        for f in df.inputFiles()
    }
    tier = any(t.startswith("rollup_") for t in tables)
    hdr = any(t.startswith("hdr_") for t in tables)
    raw = "raw_points" in tables
    if hdr and not raw:
        return "hdr"
    if tier:
        return "tail" if raw else "tier"
    return "raw"


def narrow_points(spark, cat: TableCatalog, days: list[str] | None = None):
    """The catalog's committed raw_points as narrow (url, warc_ts, lang,
    metric, value) points."""
    have = sorted(cat.committed_partitions("raw_points"))
    days = have if days is None else [d for d in have if d in days]
    return pages_to_points(
        cat.read_partitions_with_key(spark, "raw_points", days).drop("p")
    )


def source_points(spark, pages_path: str):
    """Narrow points extracted straight from a pages source."""
    pages = spark.read.parquet(pages_path)
    return pages_to_points(with_crawl_metrics(with_extracted(pages))).filter(
        F.col("value").isNotNull()
    )


def rollup_rows(points, width_s: int):
    """``GROUP BY time(width)`` partials of ``points``, in tier columns,
    with ``bucket`` as epoch microseconds."""
    return rollup_width(points, "warc_ts", POINT_KEYS, "value", width_s).select(
        F.unix_micros("bucket").alias("bucket"), *ROLLUP_COLS[1:]
    )


def stored_table(cat: TableCatalog, name: str, cols: list[str]) -> pa.Table:
    """A table's committed rows, read straight from its parquet files."""
    paths = cat.partition_paths(name, sorted(cat.committed_partitions(name)))
    return pa.concat_tables(pq.read_table(p, columns=cols) for p in paths)


def stored_rollup(cat: TableCatalog, name: str) -> list[tuple]:
    """A rollup tier's committed rows in :func:`rollup_rows`' form."""
    t = stored_table(cat, name, list(ROLLUP_COLS))
    bucket = t.column("bucket").cast(pa.timestamp("us")).cast(pa.int64())
    cols = [bucket] + [t.column(c) for c in ROLLUP_COLS[1:]]
    return list(zip(*(c.to_pylist() for c in cols)))


def pages_per_day(pages_path: str) -> dict[str, int]:
    ts = pq.read_table(pages_path, columns=["warc_ts"]).column("warc_ts")
    days = pc.strftime(ts, format="%Y-%m-%d").value_counts()
    return dict(zip(days.field("values").to_pylist(), days.field("counts").to_pylist()))


def check_archives(cat: TableCatalog) -> None:
    """Both 1m archives decode, blob by blob with the program's kernels,
    back to the 1m tier: Gorilla to each bucket's mean, simple8b to its
    count and its sum in cents."""
    m = stored_table(cat, "rollup_1m", ["bucket", "url", "metric", "cnt", "sum_v"])
    secs = m.column("bucket").cast(pa.timestamp("s")).cast(pa.int64())
    want = {
        (u, k, t): (s / c, c, s * 100)
        for t, u, k, c, s in zip(*(
            col.to_pylist() for col in (secs, *m.select(["url", "metric", "cnt", "sum_v"]).columns)
        ))
    }
    got: dict[tuple, list] = {}
    g = stored_table(cat, "rollup_1m_gorilla", ["series_keys", "blob"])
    for keys, blob in zip(*(col.to_pylist() for col in g.columns)):
        ts, vs = gorilla.decode(blob)
        for t, v in zip(ts.tolist(), vs.tolist()):
            got[(keys[1], keys[2], t)] = [v, None, None]
    c = stored_table(cat, "rollup_1m_counts", ["series_keys", "blob", "sum_blob"])
    for keys, b1, b2 in zip(*(col.to_pylist() for col in c.columns)):
        t1, cnt = intcodec.decode_int(b1)
        t2, cents = intcodec.decode_int(b2)
        if not np.array_equal(t1, t2):
            raise CheckFailed(f"count and sum archives disagree on the buckets of {keys}")
        for t, n, s in zip(t1.tolist(), cnt.tolist(), cents.tolist()):
            got.setdefault((keys[1], keys[2], t), [None, None, None])[1:] = [n, s]
    if got.keys() != want.keys():
        raise CheckFailed(
            f"archives and the 1m tier differ in {len(got.keys() ^ want.keys())} buckets"
        )
    bad = sum(
        1 for k, (mean, n, cents) in want.items()
        if got[k][0] != mean or got[k][1] != n or got[k][2] is None
        or abs(got[k][2] - cents) > 0.5 + 1e-6
    )
    if bad:
        raise CheckFailed(f"{bad} 1m buckets disagree with the decoded archives")


def archive_blob_bytes(cat: TableCatalog) -> int:
    """Bytes of the Gorilla and simple8b blobs committed in the archives."""
    total = 0
    for table, cols in (
        ("rollup_1m_gorilla", ["encoded_bytes"]),
        ("rollup_1m_counts", ["encoded_bytes", "sum_bytes"]),
    ):
        parts = sorted(cat.committed_partitions(table))
        for path in cat.partition_paths(table, parts):
            t = pq.read_table(path, columns=cols)
            total += sum(int(t.column(c).to_numpy().sum()) for c in cols)
    return total


class Workload:
    """Shared run state: the operation counts, the raw samples behind the
    end-to-end metrics, and the statement machinery."""

    name = ""
    slots: tuple[tuple[str, int], ...] = ()  # statement batch, see StatementMix

    def __init__(self, spark, tracer: Tracer, work: str, seed: int):
        self.spark = spark
        self.tracer = tracer
        self.work = work
        self.seed = seed
        self.attempted = 0
        self.failed = 0
        self.ingest_s: list[float] = []
        self.ingest_points: list[int] = []
        self.stmt_ms: list[float] = []
        self.catalog_bpp: list[float] = []
        self.archive_bpp: list[float] = []
        self.layer: dict[str, list[float]] = {}  # harness-side per-layer samples
        self.statements: list = []
        self.expected: list[list[tuple]] = []
        self._n = 0
        self._t = time.perf_counter()

    def path(self, *parts: str) -> str:
        return os.path.join(self.work, *parts)

    def fresh_dir(self, stem: str) -> str:
        self._n += 1
        return self.path(f"{stem}_{self._n}")

    def log(self, what: str) -> None:
        """Progress line on stderr with the seconds since the last one."""
        now = time.perf_counter()
        print(f"[perfbench] {self.name}: {what} ({now - self._t:.1f} s)", file=sys.stderr)
        self._t = now

    def note(self, key: str, value: float) -> None:
        self.layer.setdefault(key, []).append(value)

    def operation(self, label: str, fn, *args) -> Any:
        """Run one operation; a raise or failed check counts as failed."""
        self.attempted += 1
        try:
            return fn(*args)
        except Exception:  # noqa: BLE001 — every failure is counted and reported
            self.failed += 1
            print(f"[perfbench] {self.name}: {label} failed", file=sys.stderr)
            traceback.print_exc(file=sys.stderr)
            return None

    # -- statements -------------------------------------------------------

    def expect_statements(self, raw_points, stmts) -> None:
        """Answers of the raw-only engine, computed once in setup."""
        raw = InfluxQLEngine({"pages": raw_points}, ts_col="warc_ts")
        self.statements = stmts
        self.expected = [collect(raw.execute(s.sql)) for s in stmts]

    def engine(self, cat: TableCatalog, raw_points) -> InfluxQLEngine:
        eng = InfluxQLEngine({"pages": raw_points}, ts_col="warc_ts")
        eng.register_tiered("pages", cat, key_cols=tuple(POINT_KEYS), hdr=True)
        return eng

    def run_statement(self, eng: InfluxQLEngine, i: int, warm: bool) -> None:
        """One statement, ``execute()`` through ``collect()``; only warm
        passes count toward ``query_p50_ms``."""
        stmt, want = self.statements[i], self.expected[i]
        with self.tracer.span("stmt") as span:
            if span is not None:  # the parse alone, outside the latency
                tp = time.perf_counter()
                influxql_frontend.parse(stmt.sql)
                parse_ms = (time.perf_counter() - tp) * 1000
            t0 = time.perf_counter()
            df = eng.execute(stmt.sql)
            t1 = time.perf_counter()
            got = collect(df)
            t2 = time.perf_counter()
        if warm:
            self.stmt_ms.append((t2 - t0) * 1000)
        route = observed_route(df, eng.tiered["pages"]["catalog"].root)
        if span is not None:
            span.attrs.update(
                route=route, warm=warm, parse_ms=parse_ms,
                plan_ms=(t1 - t0) * 1000, exec_ms=(t2 - t1) * 1000,
                rows_out=len(got),
            )
        if route != stmt.route:
            raise CheckFailed(f"routed {route}, intended {stmt.route}: {stmt.sql}")
        if stmt.route == "hdr":
            compare_rows(got, want, rel=HDR_REL, abs_=0.01)
        else:
            compare_rows(got, want, rel=1e-9, abs_=1e-9)

    def run_statements(self, eng: InfluxQLEngine) -> None:
        """The batch, issued ``STMT_PASSES`` times as a dashboard refreshes
        its panels.  The first pass compiles the statements' plans; it is
        checked like the others but its latencies are left out."""
        for p in range(STMT_PASSES):
            n = len(self.stmt_ms)
            for i, stmt in enumerate(self.statements):
                self.operation(
                    f"statement {stmt.sql!r}", self.run_statement, eng, i, p > 0
                )
            self.log(f"statement pass {p} " + " ".join(f"{ms:.0f}" for ms in self.stmt_ms[n:]))

    # -- measurements only the traced run makes ---------------------------

    def time_codecs(self, cat: TableCatalog, days: list[str]) -> None:
        """Single-threaded Gorilla and simple8b kernels over the 1m series
        of ``days``, outside Spark."""
        t = cat.read_partitions_with_key(self.spark, "rollup_1m", days).select(
            "url", "metric", F.unix_timestamp("bucket").alias("ts"),
            (F.col("sum_v") / F.col("cnt")).alias("v"), "cnt",
        ).orderBy("url", "metric", "ts").toPandas()
        series = [
            (g["ts"].to_numpy(np.int64), g["v"].to_numpy(np.float64),
             g["cnt"].to_numpy(np.int64))
            for _, g in t.groupby(["url", "metric"], sort=False)
        ]
        t0 = time.perf_counter()
        for ts, v, _ in series:
            gorilla.encode(ts, v)
        t1 = time.perf_counter()
        for ts, _, c in series:
            intcodec.encode_int(ts, c)
        t2 = time.perf_counter()
        self.note("codec.gorilla_encode_s", t1 - t0)
        self.note("codec.int_encode_s", t2 - t1)

    def time_extract(self, pages_paths: list[str], days: list[str]) -> None:
        """Single-threaded extraction kernel over the html of ``days``."""
        html = []
        for p in pages_paths:
            t = pq.read_table(p, columns=["warc_ts", "html"]).to_pandas()
            keep = t["warc_ts"].dt.strftime("%Y-%m-%d").isin(days)
            html.extend(t.loc[keep, "html"])
        arr = pa.array(html, type=pa.binary())
        t0 = time.perf_counter()
        extract_kernel(arr)
        self.note("extract.kernel_s", time.perf_counter() - t0)
        self.note("extract.html_mb", arr.nbytes / 2**20)

    def note_codec_counters(self, counters: dict[str, dict[str, Any]]) -> None:
        for key in ("gorilla", "int", "sum"):
            num = den = 0.0
            for c in counters.values():
                v = c.get(f"{key}_bytes_per_point")
                if v is not None:
                    num += v * c["buckets_1m"]
                    den += c["buckets_1m"]
            self.note(f"codec.{key}_bytes_per_point", num / den if den else 0.0)

    def note_writes(self, before: dict[str, int], after: dict[str, int]) -> None:
        new = {p: s for p, s in after.items() if before.get(p) != s}
        self.note("catalog.commits", sum(
            1 for p in new if os.path.basename(p).startswith("_manifest.v")
        ))
        data = [s for p, s in new.items() if p.endswith(".parquet")]
        self.note("catalog.files_written", len(data))
        self.note("catalog.bytes_written_mb", sum(data) / 2**20)


class PipelineCold(Workload):
    """A fresh catalog built from a seeded Zipf pages table by
    ``run_pipeline(resume=False)``, then dashboard reads of it."""

    name = "pipeline_cold"
    PAGES, DAYS = 6_000, 4
    slots = (("tier", 0), ("tier", 1), ("tier", 2), ("raw", 0), ("tail", 0))

    def setup(self) -> None:
        sp = self.spark
        self.pages = generate_pages(
            self.path("pages"), self.PAGES, seed=self.seed, days=self.DAYS
        )
        # a warm-up wave over the same table: JIT and Python workers start
        # before the timed wave, which would otherwise run three times slower
        with self.tracer.span("setup.warm"):
            run_pipeline(sp, self.pages, self.path("warm_cat"), resume=False)
        self.log("warm-up wave")
        points = source_points(sp, self.pages).cache()
        with self.tracer.span("setup.expect"):
            self.n_points = points.count()
            self.expected_1h = collect(rollup_rows(points, 3600))
            days = [day_str(i) for i in range(self.DAYS)]
            mix = StatementMix(self.seed, days, zipf_urls(self.pages, 50))
            self.expect_statements(points, mix.batch(self.slots))
        self.log("expected answers")
        points.unpersist()

    def cycle(self) -> None:
        root = self.fresh_dir("cat")
        cat = self.operation("wave", self.wave, root)
        if cat is not None:
            self.run_statements(self.engine(cat, narrow_points(self.spark, cat)))
        shutil.rmtree(root, ignore_errors=True)

    def wave(self, root: str) -> TableCatalog:
        with self.tracer.span("pipeline.run"):
            t0 = time.perf_counter()
            res = run_pipeline(self.spark, self.pages, root, resume=False)
            wall = time.perf_counter() - t0
        points = sum(c["points"] for c in res.counters.values())
        self.ingest_s.append(wall)
        self.ingest_points.append(points)
        self.log(f"wave of {points} points")
        cat = TableCatalog(root)
        self.check_wave(cat, points)
        self.log("checks")
        self.catalog_bpp.append(sum(files_snapshot(root).values()) / points)
        self.archive_bpp.append(archive_blob_bytes(cat) / points)
        if self.tracer.enabled:
            self.note_writes({}, files_snapshot(root))
            self.note_codec_counters(res.counters)
            self.time_codecs(cat, sorted(res.counters))
        return cat

    def check_wave(self, cat: TableCatalog, points: int) -> None:
        if points != self.n_points:
            raise CheckFailed(f"wave counted {points} points, input has {self.n_points}")
        total = pc.sum(stored_table(cat, "rollup_1d", ["cnt"]).column("cnt")).as_py()
        if total != self.n_points:
            raise CheckFailed(f"rollup_1d cnt {total} != {self.n_points} points")
        compare_rows(stored_rollup(cat, "rollup_1h"), self.expected_1h, rel=1e-9, abs_=1e-9)
        check_archives(cat)

    def trace_extras(self) -> None:
        self.time_extract([self.pages], [day_str(i) for i in range(self.DAYS)])


class LateRecrawl(Workload):
    """A late file lands under a committed catalog: ``refresh_pipeline``
    recommits the touched days, the maintain sweep runs, then a batch of
    dashboard statements reads the refreshed days."""

    name = "late_recrawl"
    PAGES, DAYS, LATE_PAGES = 6_000, 3, 1_200
    slots = (("tier", 3), ("hdr", 0), ("raw", 1), ("raw", 2), ("tail", 0))
    # fixed maintenance date: the raw TTL (7 days) expires day 0 only
    NOW = dt.date.fromisoformat(day_str(8))

    def setup(self) -> None:
        sp = self.spark
        base = generate_pages(
            self.path("pages"), self.PAGES, seed=self.seed, days=self.DAYS
        )
        self.src = self.path("src")
        os.makedirs(self.src)
        shutil.copy(base, os.path.join(self.src, "part-0.parquet"))
        # the late file touches the two newest days and one new day
        make_shifted_pages(
            os.path.join(self.src, "part-1.parquet"), self.LATE_PAGES,
            self.seed + 104729, 3, self.DAYS - 2, self.path("late_tmp"),
        )
        self.pristine = self.path("pristine")
        with self.tracer.span("setup.build"):
            run_pipeline(sp, base, self.pristine, resume=False)
            self.log("base catalog")
            cat = TableCatalog(self.pristine)
            hdrsketch.build_hdr_tiers(
                sp, cat, narrow_points(sp, cat), "warc_ts", POINT_KEYS, "value"
            )
        self.log("hdr tiers")
        # reference: the landed source directory, rolled up straight from
        # its extracted points
        with self.tracer.span("setup.expect"):
            points = source_points(sp, self.src).cache()
            self.n_points = points.count()
            self.expected_tiers = {
                t: collect(rollup_rows(points, w)) for t, w in TIER_WIDTHS.items()
            }
            self.expected_raw_days = pages_per_day(self.src)
            del self.expected_raw_days[day_str(0)]
            days = [day_str(i) for i in range(1, self.DAYS + 1)]
            mix = StatementMix(self.seed, days, zipf_urls(base, 50))
            self.expect_statements(
                points.filter(F.col("warc_ts") >= F.lit(days[0]).cast("timestamp")),
                mix.batch(self.slots),
            )
        self.log("expected answers")

    def cycle(self) -> None:
        root = self.fresh_dir("cat")
        shutil.copytree(self.pristine, root)
        cat = self.operation("refresh", self.refresh, root)
        if cat is not None:
            cat = self.operation("maintain", self.maintain, cat)
        if cat is not None:
            self.run_statements(self.engine(cat, narrow_points(self.spark, cat)))
        shutil.rmtree(root, ignore_errors=True)

    def refresh(self, root: str) -> TableCatalog:
        sp, tr = self.spark, self.tracer
        before = files_snapshot(root) if tr.enabled else {}
        with tr.span("refresh"):
            t0 = time.perf_counter()
            res = refresh_pipeline(sp, self.src, root)
            wall = time.perf_counter() - t0
        points = sum(c.get("points", 0) for c in res.counters.values())
        self.ingest_s.append(wall)
        self.ingest_points.append(points)
        self.log(f"refresh of {points} points")
        if tr.enabled:
            self.note_writes(before, files_snapshot(root))
            self.note("refresh.days_recomputed", len(res.days_processed))
            self.note_codec_counters(res.counters)
        want_days = [day_str(i) for i in (self.DAYS - 2, self.DAYS - 1, self.DAYS)]
        if sorted(res.days_processed) != want_days:
            raise CheckFailed(f"refreshed {res.days_processed}, expected {want_days}")
        cat = TableCatalog(root)
        self.check_tiers(cat)
        self.log("checks")
        return cat

    def maintain(self, cat: TableCatalog) -> TableCatalog:
        sp, tr = self.spark, self.tracer
        with tr.span("maintain"):
            with tr.span("retention.apply") as s:
                dropped = apply_retention(cat, now=self.NOW)
                if s is not None:
                    s.attrs["partitions_dropped"] = sum(
                        len(v) for k, v in dropped.items()
                        if not k.startswith("blocked:")
                    )
            for t in MAINTAIN_TABLES:
                if not cat.exists(t):
                    continue
                with tr.span("catalog.compact"):
                    cat.compact(sp, t)
                with tr.span("catalog.vacuum"):
                    cat.vacuum(t)
                with tr.span("catalog.expire"):
                    cat.expire_snapshots(t, keep_last=1)
        self.log("maintain")
        if dropped.get("raw_points") != [day_str(0)]:
            raise CheckFailed(f"retention dropped {dropped}, expected raw day 0 only")
        raw_days = {
            d: e["counters"]["rows_in"]
            for d, e in cat.committed_partitions("raw_points").items()
        }
        if raw_days != self.expected_raw_days:
            raise CheckFailed(f"raw_points rows {raw_days} != {self.expected_raw_days}")
        self.check_tiers(cat)  # compaction keeps every tier's rows
        self.catalog_bpp.append(sum(files_snapshot(cat.root).values()) / self.n_points)
        self.archive_bpp.append(archive_blob_bytes(cat) / self.n_points)
        if tr.enabled:
            self.time_codecs(cat, [day_str(i) for i in (self.DAYS - 2, self.DAYS - 1, self.DAYS)])
        return cat

    def check_tiers(self, cat: TableCatalog) -> None:
        for t in TIER_WIDTHS:
            try:
                compare_rows(
                    stored_rollup(cat, t), self.expected_tiers[t], rel=1e-9, abs_=1e-9
                )
            except CheckFailed as e:
                raise CheckFailed(f"{t} differs from the source rolled up: {e}") from None

    def trace_extras(self) -> None:
        days = [day_str(i) for i in (self.DAYS - 2, self.DAYS - 1, self.DAYS)]
        self.time_extract(
            [os.path.join(self.src, f) for f in sorted(os.listdir(self.src))], days
        )


WORKLOADS = {w.name: w for w in (PipelineCold, LateRecrawl)}
