"""Seeded benchmark inputs: a day-shifted pages table (the late re-crawl
file) and the dashboard statement batch.  The same seed always yields the
same inputs; nothing here starts Spark."""

from __future__ import annotations

import datetime as dt
import os
import random
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

from influxer_spark.datagen import EPOCH_START, generate_pages

METRICS = ("html_bytes", "text_chars", "n_tokens", "text_ratio")


def day_str(offset: int) -> str:
    """ISO date of the generator's day ``offset`` (day 0 = EPOCH_START)."""
    d0 = EPOCH_START.astype("datetime64[D]").astype(dt.date)
    return (d0 + dt.timedelta(days=offset)).isoformat()


def make_shifted_pages(
    out_path: str, n_rows: int, seed: int, days: int, first_day: int,
    work_dir: str,
) -> str:
    """Pages parquet at ``out_path``: ``n_rows`` pages over ``days``
    consecutive days starting at day ``first_day``."""
    tmp = generate_pages(work_dir, n_rows=n_rows, seed=seed, days=days)
    table = pq.read_table(tmp)
    shift = pa.scalar(dt.timedelta(days=first_day), pa.duration("us"))
    ts = pc.add(table.column("warc_ts"), shift)
    table = table.set_column(
        table.schema.get_field_index("warc_ts"), "warc_ts",
        ts.cast(pa.timestamp("us")),
    )
    pq.write_table(table, out_path, row_group_size=16384)
    os.remove(tmp)
    return out_path


def zipf_urls(pages_path: str, n: int) -> list[str]:
    """The ``n`` most crawled urls, most frequent first."""
    counts = pq.read_table(pages_path, columns=["url"]).column("url").value_counts()
    pairs = sorted(
        zip(counts.field("values").to_pylist(), counts.field("counts").to_pylist()),
        key=lambda p: (-p[1], p[0]),
    )
    return [u for u, _ in pairs[:n]]


@dataclass(frozen=True)
class Statement:
    sql: str
    route: str  # intended route: tier | hdr | raw | tail


class StatementMix:
    """Seeded dashboard statements over day partitions ``days`` (ISO
    strings, oldest first).  A batch is a list of (route, kind) slots: the
    slot fixes the statement's shape, width, fill, range and aggregates, so
    batches from different seeds cost alike; the seed picks the Zipf-chosen
    ``url`` and ``metric`` filter values."""

    _AGGS = ("count", "sum", "mean", "min", "max", "spread")

    def __init__(self, seed: int, days: list[str], urls: list[str]):
        self.rng = random.Random(seed)
        self._slot = 0
        self.days = days
        self.urls = urls
        zw = 1.0 / np.arange(1, len(urls) + 1) ** 1.2
        self.url_w = list(zw / zw.sum())
        mw = 1.0 / np.arange(1, len(METRICS) + 1)
        self.metric_w = list(mw / mw.sum())

    # days before the newest that slot i's range reaches back: ranges
    # favour the newest day, and a slot costs the same under every seed
    _BACK = (0, 1, 0, 2, 0, 1)

    def _range(self) -> tuple[str, str]:
        back = self._BACK[self._slot % len(self._BACK)]
        lo = max(0, len(self.days) - 1 - back)
        end = dt.date.fromisoformat(self.days[-1]) + dt.timedelta(days=1)
        return self.days[lo], end.isoformat()

    def _metric(self) -> str:
        return self.rng.choices(METRICS, weights=self.metric_w)[0]

    def _url(self) -> str:
        return self.rng.choices(self.urls, weights=self.url_w)[0]

    def _aggs(self) -> str:
        # two of the six per slot, the same under every seed: aggregates
        # differ in cost, and a seed must not change what a batch costs
        i = 2 * self._slot
        fns = (self._AGGS[i % 6], self._AGGS[(i + 1) % 6])
        return ", ".join(f"{f}(value) AS {f}_v" for f in fns)

    # tier slot shapes: (width, filter, fill); the seed picks the filter's
    # value and the aggregates
    _TIER = (
        ("1h", None, ""),
        ("5m", "metric", "fill(previous)"),
        ("1d", "url", "fill(0)"),
        ("6h", None, "fill(none)"),
        ("1m", "metric", "fill(null)"),
    )

    def tier(self, kind: int) -> str:
        lo, hi = self._range()
        w, by, fill = self._TIER[kind]
        where = f"time >= '{lo}' AND time < '{hi}'"
        group = f"time({w}), metric"
        if by == "metric":
            where = f"metric = '{self._metric()}' AND {where}"
        elif by == "url":
            where = f"url = '{self._url()}' AND {where}"
            group = f"time({w})"
        return f"SELECT {self._aggs()} FROM pages WHERE {where} GROUP BY {group} {fill}"

    def hdr(self, kind: int) -> str:
        lo, hi = self._range()
        # the 50th percentile only: the raw path ranks floor(n*p + 0.5) and
        # the hdr path ceil(n*p), which agree for every n only at p = 0.5
        proj = self.rng.choice(("percentile(value, 50) AS p50", "median(value) AS med"))
        return (f"SELECT {proj} FROM pages WHERE time >= '{lo}' AND time < "
                f"'{hi}' GROUP BY time(6h), metric")

    def raw(self, kind: int) -> str:
        lo, hi = self._range()
        if kind == 0:  # unaligned lower bound
            return (f"SELECT {self._aggs()} FROM pages WHERE time >= "
                    f"'{lo} 00:00:30' AND time < '{hi}' GROUP BY time(1h), metric")
        if kind == 1:  # lang is not a tier key
            return (f"SELECT count(value) AS c, mean(value) AS m FROM pages "
                    f"WHERE time >= '{lo}' AND time < '{hi}' "
                    f"GROUP BY time(1d), lang")
        # stddev without power-sum tiers
        return (f"SELECT stddev(value) AS sd FROM pages WHERE time >= '{lo}' "
                f"AND time < '{hi}' GROUP BY time(1h), metric")

    def tail(self, kind: int) -> str:  # no upper bound: tiers plus raw tail
        lo, _ = self._range()
        return (f"SELECT {self._aggs()} FROM pages WHERE time >= '{lo}' "
                f"GROUP BY time(1h), metric")

    def batch(self, slots: tuple[tuple[str, int], ...]) -> list[Statement]:
        """One statement per (route, kind) slot, in slot order."""
        stmts = []
        for self._slot, (route, kind) in enumerate(slots):
            stmts.append(Statement(getattr(self, route)(kind).strip(), route))
        return stmts
