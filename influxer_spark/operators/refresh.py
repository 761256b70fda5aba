"""Invalidation-driven tier refresh — continuous-aggregate maintenance for
late and retracted raw data.

The reference pushes points once and InfluxDB's continuous queries keep the
downsampled series current (Influxer/InfluxerConfigSection.cs retention +
the CQ model its users pair it with).  A batch engine over a 10^12-document
crawl instead sees the raw table CHANGE UNDER the tiers: a re-crawl lands
more pages for an old day (late appends) and takedowns remove some
(deletes).  This module is the TimescaleDB-style refresh path:

1. **Detect** which day partitions' raw inputs changed — count-based
   invalidation: every tier commit records the source's per-day row count
   in its partition counters (``rows_in``); a day whose current source
   count differs is stale, a committed day with no source rows left is
   orphaned, a source day never committed is new.
2. **Recompute** ONLY the invalidated days from raw — one wave-mode job
   over the stale set, never a full rebuild.
3. **Re-commit** atomically (immutable ``v=`` dirs + one snapshot-pointer
   flip); the previous tier version stays readable via time travel until
   ``expire_snapshots``.  Orphaned days' partitions are dropped with a
   reason recorded in the manifest.

Region RECOMPUTE, not delta-merge, is deliberate: count/sum deltas are
mergeable, but **min/max are not invertible under deletes** — a retracted
maximum cannot be subtracted out of a tier row.  Recomputing the
invalidated region from raw is the only generally-correct maintenance
strategy, and its cost is proportional to the changed region, never to
catalog size (TimescaleDB's invalidation-region refresh makes the same
call).

Count-based detection is O(1) state per partition and catches every append
and delete; the one blind spot — an update that keeps a day's row count
constant — is documented, and callers that rewrite rows in place pass those
days via ``force_days``.

Scale posture: detection is one partial-aggregated per-day count whose
filter/projection push to the raw scan; recompute reuses the rollup wave
(all stale days in one job, partition-pruned by the same range predicates
the pipeline resume path uses); the commit is one manifest flip per table.
"""

from __future__ import annotations

from typing import Any, Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from influxer_spark.catalog import TableCatalog
from influxer_spark.operators import rollup as R

POINT_TIERS = ("1m", "1h", "1d")


def _day(col: str):
    return F.date_format(col, "yyyy-MM-dd").alias("day")


def source_day_counts(df: DataFrame, ts_col: str) -> dict[str, int]:
    """Current per-day row count of the raw source (one partial-agg job)."""
    return {
        r["day"]: r["n"]
        for r in df.groupBy(_day(ts_col)).agg(F.count("*").alias("n")).collect()
    }


def partition_deltas(
    committed: dict[str, dict[str, Any]],
    source_counts: dict[str, int],
    counter: str = "rows_in",
) -> dict[str, str]:
    """Classify every day needing work: ``stale`` (committed but the source
    count moved — late appends or deletes), ``new`` (source rows, never
    committed), ``orphaned`` (committed, zero source rows remain).

    Days whose committed ``counters[rows_in]`` equals the current source
    count are fresh and absent from the result.
    """
    out: dict[str, str] = {}
    for day, n in source_counts.items():
        if day not in committed:
            out[day] = "new"
        elif committed[day].get("counters", {}).get(counter) != n:
            out[day] = "stale"
    for day in committed:
        if day not in source_counts:
            out[day] = "orphaned"
    return out


def classify_days(
    catalog: TableCatalog,
    table: str,
    source_counts: dict[str, int],
    force_days: Sequence[str] = (),
) -> tuple[dict[str, str], list[str], list[str]]:
    """:func:`partition_deltas` against ``table``'s committed counters, with
    ``force_days`` marked stale and the retention guard applied: a day whose
    partition was ttl-EXPIRED looks "new" (source rows, no commit), and
    refreshing it would resurrect data retention deliberately dropped, so it
    classifies "expired" unless forced (an explicit ask wins over the
    guard).  Returns ``(deltas, recompute, orphaned)``: the days to rebuild
    (stale, new and forced) and the days whose source rows all vanished."""
    deltas = partition_deltas(catalog.committed_partitions(table), source_counts)
    for day in force_days:
        deltas.setdefault(day, "stale")
    for day, reason in catalog.dropped_partitions(table).items():
        if (
            deltas.get(day) == "new"
            and reason.startswith("ttl")
            and day not in force_days
        ):
            deltas[day] = "expired"
    recompute = sorted(
        d for d, kind in deltas.items() if kind not in ("orphaned", "expired")
    )
    orphaned = sorted(d for d, kind in deltas.items() if kind == "orphaned")
    return deltas, recompute, orphaned

def build_point_tiers(
    spark: SparkSession,
    catalog: TableCatalog,
    points: DataFrame,
    ts_col: str,
    key_cols: Sequence[str],
    value_col: str,
    days: Sequence[str] | None = None,
) -> list[str]:
    """Commit rollup_1m/1h/1d day partitions from a generic points frame,
    recording the per-day SOURCE row count in every partition's counters so
    :func:`refresh_point_tiers` can detect invalidation later.

    ``days=None`` processes every day present in ``points``; an explicit
    list restricts the wave (range predicates reach the scan, same
    discipline as pipeline._pending_filter).
    """
    src = points.withColumn("day", _day(ts_col))
    counts = {
        r["day"]: r["n"]
        for r in src.groupBy("day").agg(F.count("*").alias("n")).collect()
    }
    wave = sorted(counts) if days is None else [d for d in days if d in counts]
    if not wave:
        return []
    work = src.filter(F.col("day").isin(wave)) if days is not None else src
    counters = {d: {"rows_in": counts[d]} for d in wave}
    order = (*key_cols, "bucket")

    t1m = (
        R.rollup(work, ts_col, key_cols, value_col, "1m")
        .withColumn("day", _day("bucket"))
        .cache()
    )
    catalog.write_partitions(
        t1m, "rollup_1m", wave, counters_by_partition=counters, sort_cols=order
    )
    t1h = R.cascade(t1m.drop("day"), key_cols, "1h").withColumn("day", _day("bucket"))
    catalog.write_partitions(
        t1h, "rollup_1h", wave, counters_by_partition=counters, sort_cols=order
    )
    # 1d cascades from the COMMITTED 1h (read-back, same as the pipeline:
    # proves the committed bytes, not the in-memory lineage)
    t1h_c = catalog.read_partitions_with_key(spark, "rollup_1h", wave).drop("p")
    t1d = R.cascade(t1h_c, key_cols, "1d").withColumn("day", _day("bucket"))
    catalog.write_partitions(
        t1d, "rollup_1d", wave, counters_by_partition=counters, sort_cols=order
    )
    t1m.unpersist()
    return wave


def refresh_point_tiers(
    spark: SparkSession,
    catalog: TableCatalog,
    points: DataFrame,
    ts_col: str,
    key_cols: Sequence[str],
    value_col: str,
    force_days: Sequence[str] = (),
) -> dict[str, Any]:
    """Detect stale/new/orphaned days against the committed rollup_1m
    counters, region-recompute the stale+new set from ``points``, and drop
    orphaned partitions from every tier.  Returns the classification plus
    what was done.  A no-op refresh (nothing changed) commits nothing.
    """
    deltas, recompute, orphaned = classify_days(
        catalog, "rollup_1m", source_day_counts(points, ts_col), force_days
    )
    if recompute:
        build_point_tiers(
            spark, catalog, points, ts_col, key_cols, value_col, days=recompute
        )
    for day in orphaned:
        for tier in POINT_TIERS:
            catalog.drop_partition(
                f"rollup_{tier}", day, reason="refresh: source rows all deleted"
            )
    return {"deltas": deltas, "recomputed": recompute, "dropped": orphaned}
