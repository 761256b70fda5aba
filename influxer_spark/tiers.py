"""The tier-family registry: the one list of the catalog tables the engine
materializes (the reference leaves tiers to the InfluxDB server,
Influxer/GenericFile.cs:262-271).  Refresh, its orphan drop, tiered DELETE,
SHOW STATS and the maintain CLI all iterate :data:`TIER_FAMILIES`, so no
family can be missed by one of them and go stale.  Each family with a
builder pins its build inputs as table properties, so ``refresh_pipeline``
rebuilds it without the original call site; the pipeline family has none
(``process_days`` writes it).
"""

from __future__ import annotations

import importlib
from dataclasses import dataclass
from typing import Any, Callable, Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


@dataclass(frozen=True)
class TierFamily:
    name: str
    # every table the family owns, in build order (first = the finest tier)
    tables: tuple[str, ...]
    # tables keyed by ``series_keys`` blobs, not tag columns
    archives: tuple[str, ...] = ()
    # raw point tables: the source of truth, never rewritten by DELETE
    raw: tuple[str, ...] = ()
    # pinned build-input properties, in the builder's argument order after
    # the points: (key cols, value col[, int parameter])
    pins: tuple[str, ...] = ()
    # "module:function" of the public builder (looked up at call time)
    builder: str | None = None

    def resolve_builder(self) -> Callable[..., list[str]]:
        module, fn = self.builder.split(":")
        return getattr(importlib.import_module(module), fn)


TIER_FAMILIES: tuple[TierFamily, ...] = (
    TierFamily(
        "pipeline",
        ("raw_points", "rollup_1m", "rollup_1m_gorilla", "rollup_1m_counts",
         "rollup_1h", "rollup_1d"),
        archives=("rollup_1m_gorilla", "rollup_1m_counts"),
        raw=("raw_points",),
    ),
    TierFamily(
        "kmv", ("kmv_1h", "kmv_1d"),
        pins=("kmv_key_cols", "kmv_item_col", "kmv_k"),
        builder="influxer_spark.operators.kmv:build_kmv_tiers",
    ),
    TierFamily(
        "hdr", ("hdr_1h", "hdr_1d"),
        pins=("hdr_key_cols", "hdr_value_col", "hdr_sub_bits"),
        builder="influxer_spark.operators.hdrsketch:build_hdr_tiers",
    ),
    TierFamily(
        "sumsq", ("sumsq_1m", "sumsq_1h", "sumsq_1d"),
        pins=("sumsq_key_cols", "sumsq_value_col"),
        builder="influxer_spark.operators.rollup:build_sumsq_tiers",
    ),
    TierFamily(
        "ohlc", ("ohlc_1m", "ohlc_1h", "ohlc_1d"),
        pins=("ohlc_key_cols", "ohlc_value_col"),
        builder="influxer_spark.operators.rollup:build_ohlc_tiers",
    ),
)

FAMILIES = {f.name: f for f in TIER_FAMILIES}


def family_tables(raw: bool = True, archives: bool = True) -> tuple[str, ...]:
    """Every registered table in registry order, optionally without the raw
    point tables and/or the archives."""
    return tuple(
        t for f in TIER_FAMILIES for t in f.tables
        if (raw or t not in f.raw) and (archives or t not in f.archives)
    )


def _with_day(df: DataFrame) -> DataFrame:
    return df.withColumn("day", F.date_format("bucket", "yyyy-MM-dd"))


def build_tiers(
    catalog,
    family: str,
    first: DataFrame,
    cascade: Callable[[DataFrame, list[str], str], DataFrame],
    key_cols: Sequence[str],
    *pinned: Any,
) -> list[str]:
    """The one builder body: persist the first tier, collect its days and
    write it, CASCADE each coarser tier from the one before (persisting
    each that feeds another), then pin ``key_cols`` and ``pinned`` under the
    family's pins on every table.  Returns the committed day list."""
    fam = FAMILIES[family]
    keys = list(key_cols)
    order = (*keys, "bucket")
    cur = _with_day(first).persist()
    held = [cur]
    try:
        days = [r["day"] for r in cur.select("day").distinct().collect()]
        catalog.write_partitions(cur, fam.tables[0], days, sort_cols=order)
        for table in fam.tables[1:]:
            cur = _with_day(cascade(cur.drop("day"), keys, table.split("_")[1]))
            if table != fam.tables[-1]:
                held.append(cur.persist())
            catalog.write_partitions(cur, table, days, sort_cols=order)
    finally:
        for df in reversed(held):
            df.unpersist()
    for t in fam.tables:
        for prop, value in zip(fam.pins, (keys, *pinned)):
            catalog.set_table_property(t, prop, value)
    return sorted(days)

