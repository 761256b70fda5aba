"""End-to-end engine pipeline: pages → extract → points → tier cascade →
Gorilla blobs, with per-partition (per-day) checkpoint/resume and lineage
(north rule: "resumable from per-partition checkpoints with lineage +
counters").

The reference's run loop (parse → batch → POST with retry → status report,
Influxer/GenericFile.cs:282-357) maps here to: pending day partitions →
ONE wave of distributed jobs over all of them → idempotent per-partition
catalog commits (replaces batch+retry; Spark task retry handles transient
failure) → manifest counters (ProcessStatus analogue,
Influxer/ProcessStatus.cs:3-9) + lineage per partition.

Scale notes:
- Days are a CHECKPOINT boundary, not a job boundary: all pending days run
  in one wave of a fixed job count regardless of day count — 29 Spark jobs
  traced on a 4-day wave with Gorilla on (scan+extract, six partitioned
  writes each behind the AQE rebalance that makes one sorted file per
  day, the codec encode and small counter aggs).  A serial per-day loop had
  a fixed multi-second driver+job overhead per day that capped scaling
  efficiency at ~0.4 (Amdahl); the wave removes that serial floor — extra
  executors now shorten every stage.
- Only the 1m tier reads raw pages; 1h/1d re-aggregate 1m partials
  (orders of magnitude smaller).
- Partition pruning: the pending-day filter is plain range predicates on
  ``warc_ts`` (+ an exact day isin when the pending set has holes), so it
  reaches the parquet scan (row-group stats; Iceberg days() partitions at
  scale) and resume never re-reads completed days' bytes.
"""

from __future__ import annotations

import datetime as dt
import os
import time
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass, field
from typing import Any

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from influxer_spark.catalog import TableCatalog
from influxer_spark.extract import pages_to_points, with_crawl_metrics, with_extracted
from influxer_spark.operators import rollup as R
from influxer_spark.operators.intcodec import encode_dual_series_df
from influxer_spark.tiers import TIER_FAMILIES, family_tables

POINT_KEYS = ["url", "metric"]
# Per-table sort orders of the wave's files (recorded as each table's
# sort_order).  Metric leads on the rollup tiers: (metric, url, bucket)
# files came out smaller than (url, metric, bucket) on the 6,000-page
# perfbench table, and metric is the usual filter tag.
RAW_SORT = ("url", "warc_ts")
TIER_SORT = ("metric", "url", "bucket")
ARCHIVE_SORT = ("series_keys",)

# Each page emits one point per crawl metric (html_bytes, text_chars,
# n_tokens, text_ratio) — the page→point fan-out used to size a wave.
METRICS_PER_PAGE = 4
# Measured cache/storage crossover (BASELINE.md, r4 sweep): cache- and
# storage-backed wave reuse tie at ~1.2M points and storage wins ~7% at
# 8M and keeps widening — and past executor memory a cache is not a
# choice at all.  Auto mode flips to storage at this point count.
WAVE_REUSE_AUTO_POINTS = 8_000_000


@dataclass
class PipelineResult:
    days_processed: list[str] = field(default_factory=list)
    days_skipped: list[str] = field(default_factory=list)
    counters: dict[str, dict[str, Any]] = field(default_factory=dict)
    elapsed_s: float = 0.0


def _distinct_days(pages: DataFrame) -> list[str]:
    return sorted(
        r["d"]
        for r in pages.select(
            F.date_format("warc_ts", "yyyy-MM-dd").alias("d")
        ).distinct().collect()
    )


def run_pipeline(
    spark: SparkSession,
    pages_path: str,
    catalog_root: str,
    resume: bool = True,
    encode_gorilla: bool = True,
    validate_extraction: bool = False,
    hist_bounds: list[float] | None = None,
    max_series_per_day: int | None = None,
    wave_reuse: str | None = None,
) -> PipelineResult:
    """Run (or resume) the full pipeline over a pages parquet table.

    ``wave_reuse`` (or env ``SPARK_GRAFT_WAVE_REUSE``) picks cache- vs
    storage-backed sharing of the per-page frame — see
    :func:`process_days`.  Default ``"auto"``: the engine sizes the
    pending wave and flips to storage past the measured crossover."""
    wave_reuse = wave_reuse or os.environ.get(
        "SPARK_GRAFT_WAVE_REUSE", "auto"
    )
    t0 = time.time()
    catalog = TableCatalog(catalog_root)
    pages = spark.read.parquet(pages_path)
    res = PipelineResult()

    all_days = _distinct_days(pages)
    done = set(catalog.committed_partitions("rollup_1d")) if resume else set()
    pending = [d for d in all_days if d not in done]
    res.days_skipped = [d for d in all_days if d in done]
    if pending:
        res.counters = process_days(
            spark, pages, catalog, pending,
            encode_gorilla=encode_gorilla,
            validate_extraction=validate_extraction,
            source=pages_path,
            hist_bounds=hist_bounds,
            max_series_per_day=max_series_per_day,
            wave_reuse=wave_reuse,
        )
        res.days_processed = pending
    res.elapsed_s = time.time() - t0
    return res


def _pending_filter(pages: DataFrame, days: list[str]):
    """Range predicates (scan-pushable) + exact day membership when the
    pending set has holes.  Literal casts land on the constants so the
    column stays bare in the pushed filter."""
    d0 = dt.datetime.fromisoformat(min(days))
    d1 = dt.datetime.fromisoformat(max(days)) + dt.timedelta(days=1)
    ts_type = dict(pages.dtypes)["warc_ts"]
    pred = (F.col("warc_ts") >= F.lit(d0).cast(ts_type)) & (
        F.col("warc_ts") < F.lit(d1).cast(ts_type)
    )
    if len(days) != (d1 - d0).days:  # holes → exact membership on top
        pred &= F.date_format("warc_ts", "yyyy-MM-dd").isin(days)
    return pred


def _day_of(col: str):
    return F.date_format(col, "yyyy-MM-dd").alias("day")


def process_days(
    spark: SparkSession,
    pages: DataFrame,
    catalog: TableCatalog,
    days: list[str],
    encode_gorilla: bool = True,
    validate_extraction: bool = False,
    source: str = "",
    hist_bounds: list[float] | None = None,
    max_series_per_day: int | None = None,
    wave_reuse: str = "cache",
) -> dict[str, dict[str, Any]]:
    """One distributed wave over every pending day; commits each tier's
    partitions with counters + lineage.  Idempotent: a crashed/partial run
    leaves uncommitted staging only, and rerunning overwrites cleanly.

    ``wave_reuse`` picks how the per-page metrics frame is shared by the
    wave's sinks: ``"cache"`` (default) holds it as a Spark cache —
    fastest when a wave's pages fit executor MEMORY_AND_DISK; ``"storage"``
    commits raw_points FIRST and builds every tier from the committed
    read-back, so the only copy of the page-count-sized frame lives in the
    table it was going to write anyway (the 100×-scale posture: a
    10^12-row wave cannot be a cache).  Counters for raw_points then land
    as a follow-up metadata-only commit (amend_partition_counters),
    computed from the read-back.  Tier math is identical either way.
    ``"auto"`` (the default via :func:`run_pipeline`) counts the pending
    wave's pages (a pruned warc_ts-only scan) and picks storage at or
    above ``WAVE_REUSE_AUTO_POINTS`` — acting on the measured crossover
    rather than documenting it.  The resolved mode is recorded in each
    raw_points partition's lineage."""
    if wave_reuse not in ("cache", "storage", "auto"):
        raise ValueError(
            "wave_reuse must be 'cache', 'storage' or 'auto', "
            f"got {wave_reuse!r}"
        )
    day_pages = pages.filter(_pending_filter(pages, days))
    # mapInArrow is a projection barrier: select the hot-path columns here so
    # the parquet scan prunes (text is only read when validating)
    need = ["url", "warc_ts", "html", "lang"] + (
        ["text"] if validate_extraction and "text" in pages.columns else []
    )
    day_pages = day_pages.select([c for c in need if c in pages.columns])
    if wave_reuse == "auto":
        est_points = day_pages.count() * METRICS_PER_PAGE
        wave_reuse = (
            "storage" if est_points >= WAVE_REUSE_AUTO_POINTS else "cache"
        )
    ext = with_extracted(day_pages, validate=validate_extraction)
    if validate_extraction:
        n_bad = ext.filter(~F.col("text_ok")).count()
        if n_bad:
            raise ValueError(f"extraction invariant violated on {n_bad} rows")
    # cache + persist the metrics WIDE (one row per page): the narrow point
    # layout quadruplicates url/ts per page, which made raw_points the
    # biggest write and the cache 2.5x larger — the narrow view is a free
    # stack() over this cache wherever the point model is needed
    wide = (
        with_crawl_metrics(ext)
        .select(
            "url", "warc_ts", "lang",
            "html_bytes", "text_chars", "n_tokens", "text_ratio",
        )
        .withColumn("day", _day_of("warc_ts"))
    )
    lineage = {
        d: {"source": source, "day": d, "wave_reuse": wave_reuse}
        for d in days
    }
    if wave_reuse == "storage":
        # storage-backed reuse: the ONE extraction pass is the raw_points
        # write itself; every downstream job (cardinality guard, stats,
        # the 1m rollup, archives) reads the committed parquet back.  The
        # guard therefore fires after the raw_points commit — acceptable
        # because raw_points is one row per PAGE (tag cardinality cannot
        # multiply it) and rollup_1d, the resume marker, still commits
        # last, so a guard-failed wave re-runs whole.
        catalog.write_partitions(
            wide, "raw_points", days, lineage_by_partition=lineage,
            sort_cols=RAW_SORT,
        )
        wide = catalog.read_partitions_with_key(
            spark, "raw_points", days
        ).withColumnRenamed("p", "day")
    else:
        wide = wide.cache()
    points = pages_to_points(wide)
    if max_series_per_day is not None:
        # Series-cardinality guard — InfluxDB's max-series-per-database
        # wall, enforced BEFORE any tier commits: a tag explosion (say a
        # session id leaking into url) multiplies every tier's row count
        # and the catalog's manifest forever, so it must fail the wave
        # loudly, not get discovered in a slow dashboard a week later.
        # One distinct-count over (day, series key) — series ≪ points.
        over = (
            points.select("warc_ts", *POINT_KEYS)
            .withColumn("day", _day_of("warc_ts"))
            .groupBy("day")
            .agg(F.countDistinct(*POINT_KEYS).alias("n_series"))
            .filter(F.col("n_series") > max_series_per_day)
            .collect()
        )
        if over:
            detail = ", ".join(
                f"{r['day']}={r['n_series']}" for r in sorted(over)
            )
            raise ValueError(
                f"series cardinality guard: {len(over)} day(s) exceed "
                f"max_series_per_day={max_series_per_day} ({detail}); "
                "drop or hash the offending tag, or raise the limit"
            )
    # hist_bounds opts the tiers into mergeable quantile histograms
    # (rollup.rollup_with_histogram): same single shuffle per tier, an extra
    # array<long> column, exact integer-sum cascade — p50/p95/p99 then serve
    # from any tier (query.read_quantile) instead of re-scanning raw points
    #
    # guard against mixed-schema tiers: flipping hist on/off (or changing
    # the bound list) mid-catalog would leave partitions whose hist columns
    # disagree — a quantile read over the union would silently interpolate
    # garbage.  The histogram config is fixed at catalog creation.
    pinned = catalog.table_property("rollup_1m", "hist_bounds")
    committed = bool(catalog.committed_partitions("rollup_1m"))
    given = [float(b) for b in hist_bounds] if hist_bounds else None
    if committed and given != pinned:
        raise ValueError(
            "hist_bounds mismatch with this catalog's committed tiers "
            f"(pinned={'unset' if pinned is None else f'{len(pinned)} bounds'}, "
            f"given={'unset' if given is None else f'{len(given)} bounds'}); "
            "histogram config is fixed at catalog creation"
        )
    if hist_bounds:
        t1m_raw = R.rollup_with_histogram(
            points, "warc_ts", POINT_KEYS, "value", hist_bounds, "1m"
        )
    else:
        t1m_raw = R.rollup(points, "warc_ts", POINT_KEYS, "value", "1m")
    t1m = t1m_raw.withColumn("day", _day_of("bucket")).cache()
    ncells = len(hist_bounds) + 1 if hist_bounds else 0

    def _cascade(frame: DataFrame, tier: str) -> DataFrame:
        if hist_bounds:
            return R.cascade_with_histogram(frame, POINT_KEYS, tier, ncells)
        return R.cascade(frame, POINT_KEYS, tier)

    # 6 workers: raw + 1m + dual-materialize + gorilla + counts can all be
    # in flight (the last two BLOCK on the materialize future, so the pool
    # must never be able to fill up with waiters alone)
    pool = ThreadPoolExecutor(max_workers=6)
    dual = None
    try:
        # one job for both per-day counters, straight off the wide cache
        stats = {
            r["day"]: r
            for r in wide.groupBy("day")
            .agg(
                F.count("*").alias("rows_in"),
                (
                    F.count("html_bytes") + F.count("text_chars")
                    + F.count("n_tokens") + F.count("text_ratio")
                ).alias("points_n"),
            )
            .collect()
        }

        # Independent sinks run as CONCURRENT Spark jobs (thread-submitted;
        # Spark's scheduler interleaves their stages across the executors).
        # The dependency DAG is: wide → {raw_points, t1m}; t1m → {rollup_1m,
        # rollup_1h, gorilla}; committed 1h → rollup_1d.  Running the
        # independent edges serially left the cluster idle between shuffles —
        # measured 8.7s of sequential sink jobs vs ~5s overlapped at sf-bench
        # scale, and on a real cluster this is exactly how independent sinks
        # share a wave of executors.
        raw_counters = {
            d: {
                "rows_in": stats[d]["rows_in"],
                "points_out": stats[d]["points_n"],
            }
            for d in days
        }
        if wave_reuse == "storage":
            # raw_points already committed (it IS the reuse medium); its
            # counters — computed from the read-back — follow as a
            # metadata-only amendment, keeping refresh_pipeline's
            # rows_in-based invalidation intact
            f_raw = pool.submit(
                catalog.amend_partition_counters, "raw_points", raw_counters
            )
        else:
            f_raw = pool.submit(
                catalog.write_partitions,
                wide, "raw_points", days,
                counters_by_partition=raw_counters,
                lineage_by_partition=lineage,
                sort_cols=RAW_SORT,
            )
        # materialize the t1m cache (and collect b1m) while raw_points writes;
        # downstream threads then read the cache, never recompute the rollup
        b1m = {
            r["day"]: r["n"]
            for r in t1m.groupBy("day").agg(F.count("*").alias("n")).collect()
        }
        f_1m = pool.submit(
            catalog.write_partitions,
            t1m, "rollup_1m", days,
            counters_by_partition={
                d: {"rows_in": stats[d]["points_n"]} for d in days
            },
            lineage_by_partition=lineage,
            sort_cols=TIER_SORT,
        )
        f_gor = None
        f_cnt = None
        if encode_gorilla:
            # ONE repartition+sort+Arrow pass encodes BOTH blob sinks (mean
            # values → Gorilla XOR, counts → zigzag-delta+simple8b, which
            # beats the float codec on integer series by an order of
            # magnitude): the two sinks then split per-codec columns off the
            # cached per-series result (rows = series count ≪ points).
            # sum_cents: the engine's exact integer representation of the
            # bucket sum — archived beside the counts so the expired 1m
            # tier re-aggregates EXACTLY from two integer archives (mean =
            # sum_cents / (100·cnt) at read time), where the float Gorilla
            # mean can only be replayed, not exactly re-bucketed
            dual = (
                encode_dual_series_df(
                    t1m.withColumn("v", F.col("sum_v") / F.col("cnt"))
                    .withColumn(
                        "sum_cents",
                        F.round(F.col("sum_v") * 100, 0).cast("long"),
                    ),
                    ["day", *POINT_KEYS], "bucket", "v", "cnt",
                    int_col2="sum_cents",
                )
                .withColumn("day", F.element_at("series_keys", 1))
                .cache()
            )
            # materialize ASYNC, then both archive sinks chain off the
            # materialize future.  Blocking the main thread here (the r03
            # shape) serialized the whole triple-codec encode ahead of the
            # 1h/1d cascade and cost the wave ~2s it didn't owe; the 1d
            # resume-marker barrier below still waits for the archives, so
            # commit ordering is unchanged.  The count() is what populates
            # the cache exactly once — two sinks racing an UNcached frame
            # would each run the encode.
            f_dual = pool.submit(dual.count)
            enc = dual.select(
                "series_keys", "n_points",
                F.col("gor_blob").alias("blob"), "raw_bytes",
                F.col("gor_bytes").alias("encoded_bytes"), "day",
            )

            def _after_dual(frame: DataFrame, table: str):
                f_dual.result()
                return catalog.write_partitions(
                    frame, table, days,
                    counters_by_partition={
                        d: {"rows_in": b1m[d]} for d in days
                    },
                    lineage_by_partition=lineage,
                    sort_cols=ARCHIVE_SORT,
                )

            f_gor = pool.submit(_after_dual, enc, "rollup_1m_gorilla")
            enc_i = dual.select(
                "series_keys", "n_points",
                F.col("int_blob").alias("blob"), "raw_bytes",
                F.col("int_bytes").alias("encoded_bytes"),
                F.col("int2_blob").alias("sum_blob"),
                F.col("int2_bytes").alias("sum_bytes"), "day",
            )
            f_cnt = pool.submit(_after_dual, enc_i, "rollup_1m_counts")

        t1h = _cascade(t1m.drop("day"), "1h").withColumn(
            "day", _day_of("bucket")
        )
        catalog.write_partitions(
            t1h, "rollup_1h", days,
            counters_by_partition={d: {"rows_in": b1m[d]} for d in days},
            lineage_by_partition=lineage,
            sort_cols=TIER_SORT,
        )
        t1h_committed = catalog.read_partitions_with_key(
            spark, "rollup_1h", days
        ).withColumnRenamed("p", "day")
        t1d = _cascade(t1h_committed.drop("day"), "1d").withColumn(
            "day", _day_of("bucket")
        )

        # barrier BEFORE the 1d commit: rollup_1d is the wave's resume marker
        # (committed_partitions("rollup_1d") decides the pending set), so it
        # must be the LAST table to commit — a crash mid-wave then re-runs
        # the whole wave instead of skipping a day whose other tables never
        # landed (partition-level exactly-once)
        for f in (f_raw, f_1m, f_gor, f_cnt):
            if f is not None:
                f.result()
        catalog.write_partitions(
            t1d, "rollup_1d", days,
            counters_by_partition={d: {"rows_in": b1m[d]} for d in days},
            lineage_by_partition=lineage,
            sort_cols=TIER_SORT,
        )

        if hist_bounds:
            # pin the bound list on every histogram-bearing tier (table
            # property, snapshot-committed): readers resolve it instead of
            # re-supplying bounds, so a drifted list can't silently
            # interpolate wrong quantiles
            for t in ("rollup_1m", "rollup_1h", "rollup_1d"):
                catalog.set_table_property(
                    t, "hist_bounds", [float(b) for b in hist_bounds]
                )

        counters: dict[str, dict[str, Any]] = {
            d: {
                "rows_in": stats[d]["rows_in"],
                "points": stats[d]["points_n"],
                "buckets_1m": b1m[d],
            }
            for d in days
        }

        if encode_gorilla:
            # byte counters straight off the CACHED per-series encode result
            # (one job over rows = series count) — re-reading the two
            # committed archive tables cost two extra parquet scans per wave
            # for numbers the cache already holds
            estats = (
                dual.groupBy("day")
                .agg(
                    F.sum("n_points").alias("n"),
                    F.sum("gor_bytes").alias("genc"),
                    F.sum("raw_bytes").alias("raw"),
                    F.sum("int_bytes").alias("ienc"),
                    F.sum("int2_bytes").alias("senc"),
                )
                .collect()
            )
            for r in estats:
                d = r["day"]
                counters[d]["gorilla_bytes_per_point"] = (
                    r["genc"] / r["n"] if r["n"] else None
                )
                counters[d]["gorilla_ratio"] = (
                    r["genc"] / r["raw"] if r["raw"] else None
                )
                counters[d]["int_bytes_per_point"] = (
                    r["ienc"] / r["n"] if r["n"] else None
                )
                counters[d]["sum_bytes_per_point"] = (
                    r["senc"] / r["n"] if r["n"] and r["senc"] else None
                )
        return counters
    finally:
        # on the failure path, in-flight sink jobs must drain before the
        # caches they read are unpersisted
        pool.shutdown(wait=True)
        if dual is not None:
            dual.unpersist()
        t1m.unpersist()
        wide.unpersist()


def refresh_pipeline(
    spark: SparkSession,
    pages_path: str,
    catalog_root: str,
    force_days: list[str] | None = None,
) -> PipelineResult:
    """Invalidation-driven refresh of a committed catalog after the pages
    source changed under it (late re-crawl appends, takedown deletes).

    Detection and semantics are operators/refresh.py's (count-based
    invalidation against the per-day ``rows_in`` counters the pipeline
    records on raw_points; region RECOMPUTE because min/max are not
    invertible under deletes).  Stale and new days re-run the normal
    process_days wave — same jobs, same atomic snapshot commits, previous
    tier versions stay time-travelable; days whose source rows all
    disappeared get their partitions dropped from every pipeline table.
    Catalog-pinned histogram bounds and the Gorilla sink are re-applied
    automatically so a refreshed day is schema-identical to its siblings.
    """
    from influxer_spark.operators.refresh import classify_days, source_day_counts

    t0 = time.time()
    catalog = TableCatalog(catalog_root)
    pages = spark.read.parquet(pages_path)
    res = PipelineResult()

    src_counts = source_day_counts(pages, "warc_ts")
    deltas, recompute, orphaned = classify_days(
        catalog, "raw_points", src_counts, force_days or ()
    )
    res.days_skipped = sorted(d for d in src_counts if d not in deltas)

    if recompute:
        res.counters = process_days(
            spark, pages, catalog, recompute,
            # match the catalog's committed shape: gorilla if the table has
            # commits, histograms per the pinned bound list
            encode_gorilla=bool(
                catalog.committed_partitions("rollup_1m_gorilla")
            ),
            source=pages_path,
            hist_bounds=catalog.table_property("rollup_1m", "hist_bounds"),
            # refreshed days share the deployment's reuse posture
            wave_reuse=os.environ.get("SPARK_GRAFT_WAVE_REUSE", "cache"),
        )
        res.days_processed = recompute
        # every built tier family goes stale with the recomputed days: each
        # rebuilds from its pinned inputs over ONE shared points frame, read
        # lazily from the fresh raw_points (no second extraction) and
        # persisted across the builds.  Builders resolve at call time.
        aux = None
        for fam in TIER_FAMILIES:
            if fam.builder is None or not catalog.exists(fam.tables[0]):
                continue
            keys, value, *params = (
                catalog.table_property(fam.tables[0], p) for p in fam.pins
            )
            if keys is None or value is None:
                continue
            if aux is None:
                aux = pages_to_points(catalog.read_partitions_with_key(
                    spark, "raw_points", recompute
                ).drop("p")).persist()
            fam.resolve_builder()(
                spark, catalog, aux, "warc_ts", list(keys), value,
                *map(int, params),
            )
        if aux is not None:
            aux.unpersist()
    if orphaned:
        for table in family_tables():
            # one snapshot per TABLE, not per (table, day)
            catalog.drop_partitions(
                table, orphaned, reason="refresh: source rows all deleted"
            )
        for day in orphaned:
            res.counters[day] = {"dropped": True}
    res.elapsed_s = time.time() - t0
    return res
