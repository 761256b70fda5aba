"""InfluxQL string front-end: parse InfluxQL SELECT text onto the engine's
operator library (operators/influxql.py, operators/gapfill.py, rollup-shaped
groupBys).

A reference user's actual artifact is an InfluxQL string — the reference
pushes points into InfluxDB (Influxer/GenericFile.cs:303) and its users then
type ``SELECT derivative(mean(value), 1s) FROM m GROUP BY time(1m), host``.
This module closes the "could switch today" gap: the same strings run here,
compiled to the SAME Spark plans the Python API produces (the parser is a
front-end only — every physical shape is one of the already plan-tested
operators: single-shuffle groupBy for aggregates, one shared series sort for
transforms, per-series spine join for fill()).

Supported surface
-----------------
- ``SELECT <proj> [, <proj>…] FROM <measurement>``; projections are field
  refs, function calls (aggregates / selectors / transforms, incl. one-level
  nesting ``derivative(mean(v), 1s)``), and +,-,*,/ arithmetic over them;
  ``AS`` aliases.
- aggregates: count sum mean min max spread stddev median mode
  percentile(f, p) integral(f[, unit]) first last
- multi-row selectors: top(f, n) bottom(f, n) sample(f, n) (sole projection)
- transforms: difference derivative(f[, unit]) non_negative_derivative
  elapsed(f[, unit]) moving_average(f, n) cumulative_sum
- ``WHERE`` with AND/OR, parens, = != <> < <= > >= =~ /re/ !~ /re/,
  ``time`` bounds (string literals, epoch-ns ints, ``now() - 1d``).
- ``GROUP BY time(<dur>[, <offset>])[, tag…]`` and plain tag grouping.
- ``fill(none | null | previous | linear | <number>)``.
- ``ORDER BY time [ASC|DESC]``, ``LIMIT n`` / ``OFFSET n`` (per InfluxQL:
  applied per series group when tags are grouped), ``SLIMIT``/``SOFFSET``
  (series selection: distinct-tags frame → offset/limit → broadcast
  semijoin — no global sort of the data).
- ``GROUP BY *`` (all tag columns; the engine's tag model is string-typed
  non-time columns), subqueries ``FROM ( SELECT … )`` (inner runs first,
  outer plans over its result with ``time`` as the time column), and
  ``SELECT … INTO target`` (registers the result as a queryable
  measurement).
- ``tz('Area/City')``: WHERE time string literals are interpreted as
  wall-clock in the zone, ``GROUP BY time()`` boundaries are aligned to the
  zone's (DST-aware) wall clock, and result ``time`` values render as wall
  clock in that zone.  For subqueries the conversion happens once at the
  innermost level; the outer query then operates in wall space directly.
- Metadata surface: ``SHOW MEASUREMENTS | SERIES | FIELD KEYS | TAG KEYS |
  TAG VALUES … WITH KEY = k | DATABASES | CONTINUOUS QUERIES | SHARDS``
  (SHARDS = the catalog's committed day partitions per tier) and the
  1.8 cardinality family ``SHOW SERIES | MEASUREMENT | FIELD KEY |
  TAG KEY | TAG VALUES [EXACT] CARDINALITY`` (EXACT = distributed
  countDistinct; estimated = the engine's deterministic KMV sketch,
  bit-reproducible and DuckDB-replayable), plus
  data lifecycle: ``DELETE FROM m [WHERE …]``, ``DROP MEASUREMENT |
  SERIES FROM m WHERE <tags> | DATABASE``, ``CREATE DATABASE``, and
  ``CREATE/DROP CONTINUOUS QUERY`` with ``run_continuous_queries()`` as the
  batch recompute driver (the incremental path is streaming/incremental.py).

Deliberate deviations (documented, tested):
- fill() spine defaults to each series' observed [min, max] bucket range
  unless WHERE pins both time bounds (InfluxDB refuses fill without bounds).
- sample(n) is seeded-deterministic (operators/influxql.sel_sample).
- ``INTO`` returns the written rows (a DataFrame engine returns data, not
  InfluxDB's written-count summary) and registers in-session.
- tz() result times are NTZ wall-clock values in the query zone (a
  DataFrame engine has no per-cell zone rendering); during a DST fall-back
  hour two UTC hours share one wall hour and aggregate into one bucket
  (InfluxDB keys buckets by UTC instant and emits both).
- multi-measurement ``FROM m1, m2`` and ``FROM /regex/`` union the
  per-measurement results with a leading ``measurement`` column (the
  DataFrame rendering of InfluxDB's per-measurement series keying).

Scale notes: every query compiles to (a) one groupBy on (bucket, tags) —
partial-aggregated map-side, shuffled once; (b) transforms as windows over
that SAME (tags) partitioning — Catalyst reuses the exchange; (c) fill as a
per-series spine join keyed identically.  Percentile/median/mode/integral
aggregate via sort_array(collect_list(…)) + expression folds: per-GROUP
state, bounded by points-per-bucket (not table size), all codegen — the
exact trade InfluxDB itself makes (those functions buffer the window).
"""

from __future__ import annotations

import re
from dataclasses import dataclass, field
from typing import Any, Callable

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from influxer_spark.operators import influxql as Q
from influxer_spark.operators.gapfill import fill_buckets


class InfluxQLError(ValueError):
    """Parse or planning error with position context."""


# ---------------------------------------------------------------------------
# lexer
# ---------------------------------------------------------------------------

_DUR_UNITS = {"ns": 1e-9, "u": 1e-6, "µ": 1e-6, "ms": 1e-3, "s": 1, "m": 60,
              "h": 3600, "d": 86400, "w": 604800}

_TOKEN_RE = re.compile(
    r"""\s*(?:
      (?P<duration>\d+(?:ns|us|u|µ|ms|s|m|h|d|w)\b)
    | (?P<number>\d+\.\d+|\.\d+|\d+)
    | (?P<string>'(?:[^'\\]|\\.)*')
    | (?P<qident>"(?:[^"]|"")*")
    | (?P<ident>[A-Za-z_][A-Za-z0-9_]*)
    | (?P<op><=|>=|!=|<>|=~|!~|[=<>(),*;+\-/%])
    )""",
    re.X,
)

_REGEX_RE = re.compile(r"\s*/((?:[^/\\]|\\.)*)/")


@dataclass
class Tok:
    kind: str   # duration number string qident ident op regex eof
    text: str
    pos: int


def tokenize(s: str) -> list[Tok]:
    toks: list[Tok] = []
    i = 0
    while i < len(s):
        if s[i:].isspace():
            break
        # regex literal only ever follows =~ / !~, FROM, SELECT, or a comma
        # (avoids clash with the '/' operator: an expression can't START
        # with '/', so those positions are unambiguous — SELECT /re/ is the
        # 1.8 regex field selector)
        if toks and (
            (toks[-1].kind == "op" and toks[-1].text in ("=~", "!~", ",", "("))
            or (toks[-1].kind == "ident" and toks[-1].text.upper() in ("FROM", "SELECT"))
        ):
            m = _REGEX_RE.match(s, i)
            if m:
                toks.append(Tok("regex", m.group(1), i))
                i = m.end()
                continue
        m = _TOKEN_RE.match(s, i)
        if not m or m.end() == i:
            raise InfluxQLError(f"unexpected character at {i}: {s[i:i+10]!r}")
        kind = m.lastgroup or "op"
        toks.append(Tok(kind, m.group(kind), i))
        i = m.end()
    toks.append(Tok("eof", "", len(s)))
    return toks


def parse_duration(text: str) -> float:
    m = re.fullmatch(r"(\d+)(ns|us|u|µ|ms|s|m|h|d|w)", text)
    if not m:
        raise InfluxQLError(f"bad duration {text!r}")
    unit = "u" if m.group(2) == "us" else m.group(2)
    return int(m.group(1)) * _DUR_UNITS[unit]


# ---------------------------------------------------------------------------
# AST
# ---------------------------------------------------------------------------

@dataclass
class Num:
    value: float


@dataclass
class Str:
    value: str


@dataclass
class Dur:
    seconds: float


@dataclass
class Ref:
    name: str


@dataclass
class Star:
    """``*`` in a projection (``SELECT *``) or aggregate (``mean(*)``) —
    expanded against the measurement schema before execution."""


@dataclass
class Call:
    fname: str
    args: list[Any]


@dataclass
class Bin:
    op: str
    left: Any
    right: Any


@dataclass
class Cmp:
    op: str
    left: Any
    right: Any


@dataclass
class Bool:
    op: str           # 'and' | 'or'
    parts: list[Any]


@dataclass
class Rex:
    pattern: str


@dataclass
class Select:
    projections: list[tuple[Any, str | None]]  # (expr, alias)
    measurement: str | None
    where: Any | None = None
    time_width: float | None = None
    time_offset: float = 0.0
    group_tags: list[str] = field(default_factory=list)
    group_star: bool = False                   # GROUP BY * (all tag columns)
    fill_mode: str = "none"                    # none null previous linear value
    fill_value: float | None = None
    order_desc: bool = False
    limit: int | None = None
    offset: int | None = None
    slimit: int | None = None                  # series limit (distinct tag sets)
    soffset: int | None = None
    tz: str | None = None                      # tz('Area/City') display zone
    into: str | None = None                    # SELECT … INTO target
    sub: "Select | None" = None                # FROM ( SELECT … ) subquery
    measurements: list[str] | None = None      # FROM m1, m2 (several)
    measurement_rex: str | None = None         # FROM /regex/


class _Parser:
    def __init__(self, sql: str):
        self.toks = tokenize(sql)
        self.i = 0

    def peek(self) -> Tok:
        return self.toks[self.i]

    def next(self) -> Tok:
        t = self.toks[self.i]
        self.i += 1
        return t

    def kw(self, *words: str) -> bool:
        """Consume the keyword sequence if present (case-insensitive)."""
        j = self.i
        for w in words:
            t = self.toks[j]
            if t.kind != "ident" or t.text.upper() != w:
                return False
            j += 1
        self.i = j
        return True

    def expect_op(self, op: str) -> None:
        t = self.next()
        if t.kind != "op" or t.text != op:
            raise InfluxQLError(f"expected {op!r} at {t.pos}, got {t.text!r}")

    def ident(self) -> str:
        t = self.next()
        if t.kind == "ident":
            return t.text
        if t.kind == "qident":
            return t.text[1:-1].replace('""', '"')
        raise InfluxQLError(f"expected identifier at {t.pos}, got {t.text!r}")

    # --- value expressions (projections) ---

    def expr(self) -> Any:
        node = self.term()
        while self.peek().kind == "op" and self.peek().text in "+-":
            op = self.next().text
            node = Bin(op, node, self.term())
        return node

    def term(self) -> Any:
        node = self.factor()
        while self.peek().kind == "op" and self.peek().text in ("*", "/", "%"):
            op = self.next().text
            node = Bin(op, node, self.factor())
        return node

    def factor(self) -> Any:
        t = self.peek()
        if t.kind == "op" and t.text == "-":
            self.next()
            return Bin("-", Num(0.0), self.factor())
        if t.kind == "op" and t.text == "(":
            self.next()
            node = self.expr()
            self.expect_op(")")
            return node
        if t.kind == "number":
            self.next()
            return Num(float(t.text))
        if t.kind == "duration":
            self.next()
            return Dur(parse_duration(t.text))
        if t.kind == "string":
            self.next()
            return Str(t.text[1:-1])
        if t.kind in ("ident", "qident"):
            name = self.ident()
            if self.peek().kind == "op" and self.peek().text == "(":
                self.next()
                args: list[Any] = []

                def _arg():
                    if self.peek().kind == "op" and self.peek().text == "*":
                        self.next()
                        return Star()
                    if self.peek().kind == "regex":
                        return Rex(self.next().text)
                    return self.expr()

                if not (self.peek().kind == "op" and self.peek().text == ")"):
                    args.append(_arg())
                    while self.peek().kind == "op" and self.peek().text == ",":
                        self.next()
                        args.append(_arg())
                self.expect_op(")")
                return Call(name.lower(), args)
            return Ref(name)
        raise InfluxQLError(f"unexpected token {t.text!r} at {t.pos}")

    # --- conditions (WHERE) ---

    def cond(self) -> Any:
        parts = [self.cond_and()]
        while self.kw("OR"):
            parts.append(self.cond_and())
        return parts[0] if len(parts) == 1 else Bool("or", parts)

    def cond_and(self) -> Any:
        parts = [self.cond_cmp()]
        while self.kw("AND"):
            parts.append(self.cond_cmp())
        return parts[0] if len(parts) == 1 else Bool("and", parts)

    def cond_cmp(self) -> Any:
        if self.peek().kind == "op" and self.peek().text == "(":
            # could be a parenthesised condition OR an arithmetic operand;
            # conditions are the only grammar that reaches here
            self.next()
            node = self.cond()
            self.expect_op(")")
            return node
        left = self.expr()
        t = self.next()
        if t.kind != "op" or t.text not in ("=", "!=", "<>", "<", "<=", ">", ">=", "=~", "!~"):
            raise InfluxQLError(f"expected comparison at {t.pos}, got {t.text!r}")
        op = "!=" if t.text == "<>" else t.text
        if op in ("=~", "!~"):
            rt = self.next()
            if rt.kind != "regex":
                raise InfluxQLError(f"expected /regex/ at {rt.pos}")
            return Cmp(op, left, Rex(rt.text))
        return Cmp(op, left, self.expr())

    # --- statement ---

    def select(self, nested: bool = False) -> Select:
        if not self.kw("SELECT"):
            raise InfluxQLError("expected SELECT")
        projections: list[tuple[Any, str | None]] = []
        while True:
            if self.peek().kind == "op" and self.peek().text == "*":
                self.next()
                e: Any = Star()
            elif self.peek().kind == "regex":
                e = Rex(self.next().text)
            else:
                e = self.expr()
            alias = self.ident() if self.kw("AS") else None
            projections.append((e, alias))
            if self.peek().kind == "op" and self.peek().text == ",":
                self.next()
                continue
            break
        into = self.ident() if self.kw("INTO") else None
        if not self.kw("FROM"):
            raise InfluxQLError("expected FROM")
        if self.peek().kind == "op" and self.peek().text == "(":
            self.next()
            sub = self.select(nested=True)
            self.expect_op(")")
            stmt = Select(projections, None, sub=sub)
        elif self.peek().kind == "regex":
            stmt = Select(projections, None, measurement_rex=self.next().text)
        else:
            names = [self.ident()]
            while self.peek().kind == "op" and self.peek().text == ",":
                self.next()
                names.append(self.ident())
            stmt = Select(projections, names[0])
            if len(names) > 1:
                stmt.measurements = names
        stmt.into = into

        if self.kw("WHERE"):
            stmt.where = self.cond()

        if self.kw("GROUP", "BY"):
            while True:
                t = self.peek()
                if t.kind == "op" and t.text == "*":
                    self.next()
                    stmt.group_star = True
                    if self.peek().kind == "op" and self.peek().text == ",":
                        self.next()
                        continue
                    break
                if t.kind == "ident" and t.text.upper() == "TIME":
                    self.next()
                    self.expect_op("(")
                    d = self.next()
                    if d.kind != "duration":
                        raise InfluxQLError(f"time() needs a duration at {d.pos}")
                    stmt.time_width = parse_duration(d.text)
                    if self.peek().kind == "op" and self.peek().text == ",":
                        self.next()
                        o = self.next()
                        if o.kind != "duration":
                            raise InfluxQLError(f"time() offset must be a duration at {o.pos}")
                        stmt.time_offset = parse_duration(o.text)
                    self.expect_op(")")
                else:
                    stmt.group_tags.append(self.ident())
                if self.peek().kind == "op" and self.peek().text == ",":
                    self.next()
                    continue
                break

        if self.kw("FILL"):
            self.expect_op("(")
            t = self.next()
            if t.kind == "ident" and t.text.lower() in ("none", "null", "previous", "linear"):
                stmt.fill_mode = t.text.lower()
            elif t.kind == "number":
                stmt.fill_mode = "value"
                stmt.fill_value = float(t.text)
            elif t.kind == "op" and t.text == "-":
                n = self.next()
                if n.kind != "number":
                    raise InfluxQLError(f"bad fill() at {t.pos}")
                stmt.fill_mode = "value"
                stmt.fill_value = -float(n.text)
            else:
                raise InfluxQLError(f"bad fill() argument {t.text!r}")
            self.expect_op(")")

        if self.kw("ORDER", "BY"):
            if not self.kw("TIME"):
                raise InfluxQLError("only ORDER BY time is supported")
            if self.kw("DESC"):
                stmt.order_desc = True
            else:
                self.kw("ASC")
        while True:  # LIMIT / OFFSET / SLIMIT / SOFFSET in any order
            if self.kw("SLIMIT"):
                stmt.slimit = int(self.next().text)
            elif self.kw("SOFFSET"):
                stmt.soffset = int(self.next().text)
            elif self.kw("LIMIT"):
                stmt.limit = int(self.next().text)
            elif self.kw("OFFSET"):
                stmt.offset = int(self.next().text)
            else:
                break
        if self.kw("TZ"):
            self.expect_op("(")
            z = self.next()
            if z.kind != "string":
                raise InfluxQLError(f"tz() needs a quoted zone name at {z.pos}")
            stmt.tz = z.text[1:-1]
            self.expect_op(")")
        t = self.peek()
        if nested:
            if not (t.kind == "op" and t.text == ")"):
                raise InfluxQLError(f"unterminated subquery at {t.pos}: {t.text!r}")
            return stmt
        if not (t.kind == "eof" or (t.kind == "op" and t.text == ";")):
            raise InfluxQLError(f"trailing input at {t.pos}: {t.text!r}")
        return stmt


def parse(sql: str) -> Select:
    return _Parser(sql).select()


# ---------------------------------------------------------------------------
# planner / executor
# ---------------------------------------------------------------------------

AGGS = {"count", "sum", "mean", "min", "max", "spread", "stddev", "median",
        "mode", "percentile", "integral", "first", "last"}
TRANSFORMS = {"difference", "non_negative_difference", "derivative",
              "non_negative_derivative", "elapsed", "moving_average",
              "cumulative_sum",
              # engine extensions: counter-reset-aware rate (Prometheus
              # rate() semantics InfluxQL lacks) and trailing-window
              # percentile (Kapacitor movingPercentile)
              "counter_rate", "counter_increase", "counter_resets",
              "moving_percentile",
              # Kapacitor's stateful sigma() (running-mean deviation count)
              "sigma",
              # trailing-window technical analysis (Column-shaped, so they
              # compose like any other transform)
              "chande_momentum_oscillator", "kaufmans_efficiency_ratio"}
# recurrence-shaped technical analysis: each output depends on ALL history,
# so these run as per-series folds (DataFrame-shaped) — routed to _exec_fold,
# where ema(mean(v), n) … GROUP BY time(w) desugars to the aggregate query
# followed by the fold over its emitted series
FOLD_TRANSFORMS = {"exponential_moving_average",
                   "double_exponential_moving_average",
                   "triple_exponential_moving_average",
                   "triple_exponential_derivative",
                   "relative_strength_index",
                   "kaufmans_adaptive_moving_average",
                   # engine extension: per-window nearest-neighbor distance
                   # (motif/discord score; operators/matrixprofile.py)
                   "matrix_profile"}
# prediction: holt_winters(agg(f), N, S) — fitted per series, so it also
# takes over the whole SELECT (routed to _exec_hw)
HW_FNS = {"holt_winters", "holt_winters_with_fit"}
# engine extension: trend(field | agg(field)) — Mann-Kendall + Theil-Sen
# per series (operators/trend.py); one row per series, so it also takes
# over the SELECT (routed to _exec_trend)
TREND_FNS = {"trend"}
# engine extension: forecast_linear(agg(f), N) — closed-form per-series OLS
# continuation, N buckets past each series' last observed bucket (the
# value-oracled sibling of holt_winters; routed to _exec_forecast_linear)
FORECAST_FNS = {"forecast_linear"}
# engine extension: asap(agg(f)) — ASAP automatic smoothing (Rong & Bailis
# VLDB'17) of the aggregate series; routed to _exec_asap
ASAP_FNS = {"asap"}
# fn, accepts (hold, warmup_type) extra args
_FOLD_DISPATCH = {
    "exponential_moving_average": (Q.tr_exponential_moving_average, True),
    "double_exponential_moving_average": (
        Q.tr_double_exponential_moving_average, True),
    "triple_exponential_moving_average": (
        Q.tr_triple_exponential_moving_average, True),
    "triple_exponential_derivative": (
        Q.tr_triple_exponential_derivative, True),
    "relative_strength_index": (Q.tr_relative_strength_index, False),
    "kaufmans_adaptive_moving_average": (
        Q.tr_kaufmans_adaptive_moving_average, False),
    "matrix_profile": (Q.tr_matrix_profile, False),
}
SELECTORS_MULTI = {"top", "bottom", "sample"}
# InfluxQL SELECT-clause math (InfluxDB 1.8 "mathematical functions"):
# applied per value in raw queries, or to the aggregate result in GROUP BY
# time() queries — abs(mean(v)) etc.  Pure Column exprs, stay in codegen.
MATH_FNS_1 = {"abs", "acos", "asin", "atan", "ceil", "cos", "exp", "floor",
              "ln", "log2", "log10", "round", "sin", "sqrt", "tan"}
MATH_FNS_2 = {"atan2", "pow", "log"}
MATH_FNS = MATH_FNS_1 | MATH_FNS_2


def _math_expr(fname: str, args: list[Column]) -> Column:
    a = args[0]
    if fname in MATH_FNS_2 and len(args) != 2:
        raise InfluxQLError(f"{fname}() takes two arguments")
    if fname == "abs":
        return F.abs(a)
    if fname == "sqrt":
        return F.sqrt(a)
    if fname == "exp":
        return F.exp(a)
    if fname == "ln":
        return F.log(a)
    if fname == "log2":
        return F.log2(a)
    if fname == "log10":
        return F.log10(a)
    if fname == "sin":
        return F.sin(a)
    if fname == "cos":
        return F.cos(a)
    if fname == "tan":
        return F.tan(a)
    if fname == "asin":
        return F.asin(a)
    if fname == "acos":
        return F.acos(a)
    if fname == "atan":
        return F.atan(a)
    if fname == "round":
        # InfluxDB round() = Go math.Round: half away from zero, like
        # Spark's HALF_UP round at scale 0 (double in, double out)
        return F.round(a, 0)
    if fname == "ceil":
        # InfluxDB ceil/floor return floats; Spark's return LONG — cast back
        return F.ceil(a).cast("double")
    if fname == "floor":
        return F.floor(a).cast("double")
    if fname == "pow":
        return F.pow(a, args[1])
    if fname == "atan2":
        return F.atan2(a, args[1])
    if fname == "log":
        # InfluxQL log(x, b) = log base b — Go computes Log(x)/Log(b)
        return F.log(a) / F.log(args[1])
    raise InfluxQLError(f"unknown math function {fname!r}")


def _agg_expr(fname: str, v: Column, t: Column, args: list[Any]) -> Column:
    """One aggregate as a pure groupBy expression (composable: any mix of
    aggregates runs in ONE shuffle)."""
    if fname == "count":
        return F.count(v).cast("long")
    if fname == "sum":
        return F.sum(v)
    if fname == "mean":
        return F.avg(v)
    if fname == "min":
        return F.min(v)
    if fname == "max":
        return F.max(v)
    if fname == "spread":
        return F.max(v) - F.min(v)
    if fname == "stddev":
        return F.stddev_samp(v)
    if fname in ("median", "percentile"):
        p = 50.0 if fname == "median" else float(args[1].value)
        slist = F.sort_array(F.collect_list(v))
        # operand order matches agg_percentile and the oracles: (p/100) * n
        rank = F.floor(F.lit(p) / 100.0 * F.size(slist) + 0.5).cast("int")
        # F.get is 0-based and NULL out-of-bounds (no ANSI error); rank<1 → NULL
        return F.when(rank >= 1, F.get(slist, rank - 1))
    if fname == "mode":
        slist = F.sort_array(F.collect_list(v))
        tnull = F.get(slist, F.lit(-1))  # typed NULL of the element type
        init = F.struct(
            tnull.alias("bv"), F.lit(0).cast("long").alias("bc"),
            tnull.alias("cv"), F.lit(0).cast("long").alias("cc"),
        )

        def merge(acc: Column, x: Column) -> Column:
            run = F.when(
                acc.getField("cv").isNotNull() & (acc.getField("cv") == x),
                acc.getField("cc") + 1,
            ).otherwise(F.lit(1).cast("long"))
            better = run > acc.getField("bc")  # strict: ties keep the SMALLER value
            return F.struct(
                F.when(better, x).otherwise(acc.getField("bv")).alias("bv"),
                F.when(better, run).otherwise(acc.getField("bc")).alias("bc"),
                x.alias("cv"), run.alias("cc"),
            )

        return F.aggregate(slist, init, merge, lambda acc: acc.getField("bv"))
    if fname == "integral":
        unit = float(args[1].seconds) if len(args) > 1 else 1.0
        pairs = F.sort_array(F.collect_list(F.struct(t.alias("t"), v.alias("v"))))
        init = F.struct(
            F.lit(None).cast("double").alias("pt"),
            F.lit(None).cast("double").alias("pv"),
            F.lit(0.0).alias("area"),
        )

        def step(acc: Column, x: Column) -> Column:
            trap = (x.getField("v") + acc.getField("pv")) / 2.0 * (
                x.getField("t") - acc.getField("pt")
            )
            area = F.when(acc.getField("pt").isNotNull(), acc.getField("area") + trap
                          ).otherwise(acc.getField("area"))
            return F.struct(
                x.getField("t").alias("pt"), x.getField("v").alias("pv"),
                area.alias("area"),
            )

        return F.aggregate(pairs, init, step, lambda a: a.getField("area")) / unit
    if fname == "first":
        # NULL field values are ABSENT points in InfluxDB's model — they
        # must not win the argmin (a NULL struct field sorts first and
        # would also diverge from the OHLC tier path, which skips NULLs)
        tv = F.when(v.isNotNull(), F.struct(t.alias("t"), v.alias("v")))
        return F.min(tv).getField("v")
    if fname == "last":
        tv = F.when(v.isNotNull(), F.struct(t.alias("t"), v.alias("v")))
        return F.max(tv).getField("v")
    raise InfluxQLError(f"unknown aggregate {fname!r}")


def _default_name(e: Any) -> str:
    if isinstance(e, Call):
        return e.fname
    if isinstance(e, Ref):
        return e.name
    if isinstance(e, Bin):
        return _default_name(e.left)
    return "value"


# zone → (off0, transition_times, offsets_after) over the engine horizon
# (1970–2100 UTC), or None for unknown zones.  ONE bounded entry per zone
# per process: the transition list is derived from the zoneinfo data once
# (coarse 6h scan + bisection — 6h is below the minimum gap between two
# same-zone transitions), and every later _tz_grid_ok range query answers
# in O(log n_transitions) without re-walking offsets or growing a
# per-range memo (dashboards issuing many distinct rolling windows
# previously re-scanned and permanently cached each exact range).
_TZ_HORIZON_END = 4102444800  # 2100-01-01 UTC
_TZ_TRANSITIONS: dict[
    str, tuple[int, tuple[int, ...], tuple[int, ...]] | None
] = {}


def _tz_transitions(
    zone: str,
) -> tuple[int, tuple[int, ...], tuple[int, ...]] | None:
    """(initial_offset, transition_instants_utc, offsets_after) for ``zone``
    over 1970–2100, memoized per zone; None for unknown zones."""
    if zone in _TZ_TRANSITIONS:
        return _TZ_TRANSITIONS[zone]
    import datetime as _dt
    import zoneinfo as _zi

    try:
        z = _zi.ZoneInfo(zone)
    except Exception:  # noqa: BLE001 - unknown zone → caller falls to raw
        _TZ_TRANSITIONS[zone] = None
        return None

    def off_at(s: int) -> int:
        return int(
            _dt.datetime.fromtimestamp(s, tz=z).utcoffset().total_seconds()
        )

    times: list[int] = []
    offs: list[int] = []
    step = 6 * 3600
    s = 0
    off0 = o = off_at(0)
    while s < _TZ_HORIZON_END:
        e = min(s + step, _TZ_HORIZON_END)
        o2 = off_at(e)
        if o2 != o:
            a, b = s, e
            while b - a > 1:  # bisect the transition instant
                m = (a + b) // 2
                if off_at(m) == o:
                    a = m
                else:
                    b = m
            times.append(b)
            offs.append(o2)
        s, o = e, o2
    out = (off0, tuple(times), tuple(offs))
    _TZ_TRANSITIONS[zone] = out
    return out


def _walk_calls(e: Any, out: list[Call]) -> None:
    if isinstance(e, Call):
        out.append(e)
        for a in e.args:
            _walk_calls(a, out)
    elif isinstance(e, Bin):
        _walk_calls(e.left, out)
        _walk_calls(e.right, out)


def _agg_key(c: Call) -> tuple:
    def k(a: Any) -> tuple:
        if isinstance(a, Ref):
            return ("ref", a.name)
        if isinstance(a, Num):
            return ("num", a.value)
        if isinstance(a, Dur):
            return ("dur", a.seconds)
        if isinstance(a, Call) and a.fname == "distinct" and len(a.args) == 1 \
                and isinstance(a.args[0], Ref):
            return ("distinct", a.args[0].name)
        raise InfluxQLError(f"unsupported aggregate argument inside {c.fname}()")

    return (c.fname, tuple(k(a) for a in c.args))


def _agg_calls(stmt: Select) -> dict[tuple, Call]:
    """The statement's distinct aggregate calls, in projection order."""
    calls: list[Call] = []
    for e, _ in stmt.projections:
        _walk_calls(e, calls)
    return {_agg_key(c): c for c in calls if c.fname in AGGS}


@dataclass(frozen=True)
class Route:
    """A statement served from one tier table (``_plan_route``).
    ``modulus`` is that table's bucket width: every WHERE time bound is
    aligned to it, and the raw tail rolls up at it.  ``start``/``end`` are naive-UTC partition-prune bounds, a day wider
    each side under tz().  ``tail`` is the tier watermark past which raw
    points roll up on the fly (None: no raw tail); ``archive`` lets a
    range with no committed partition fall back to the rollup_1m_counts
    integer archive."""

    family: str  # rollup | stitched | sumsq | ohlc | hist | hdr | kmv
    table: str
    modulus: int
    start: Any
    end: Any
    tail: Any
    archive: bool

    def __str__(self) -> str:
        tail = (
            "no raw tail" if self.tail is None
            else f"raw tail from {self.tail:%Y-%m-%d %H:%M:%S}"
        )
        archive = ", archive fallback" if self.archive else ""
        return (
            f"{self.family} — {self.table}, modulus {self.modulus}s, "
            f"{tail}{archive}"
        )


@dataclass(frozen=True)
class Raw:
    """A statement the tiers cannot answer exactly, and the rule why."""

    reason: str

    def __str__(self) -> str:
        return f"raw — {self.reason}"


class InfluxQLEngine:
    """Executes InfluxQL SELECT strings over registered DataFrames.

    ``tables`` maps measurement name → DataFrame; ``ts_col`` names the time
    column on those frames (``time`` in queries always refers to it).
    """

    def __init__(
        self,
        tables: dict[str, DataFrame],
        ts_col: str = "ts",
        database: str = "db0",
    ):
        self.tables = tables
        self.ts_col = ts_col
        self.database = database
        self.databases: set[str] = {database}
        self._tz: str | None = None    # per-statement tz() zone (set by _run)
        # tier routes planned for the current statement (EXPLAIN's route row)
        self._routes: list[Route | Raw] = []
        # measurement → continuous-aggregate config (see register_tiered)
        self.tiered: dict[str, dict[str, Any]] = {}
        # continuous-query name → {"query": SELECT…INTO text,
        #   "every": s|None, "for": s|None, "last_end": iso|None}
        # (RESAMPLE EVERY/FOR; last_end gates incremental runs)
        self.cqs: dict[str, dict[str, Any]] = {}
        # retention-policy name → (duration_s | None for INF, replicaN, default)
        self.retention: dict[str, tuple[float | None, int, bool]] = {}
        # optional catalog backing the CQ registry: InfluxDB's CQs live in
        # the server, not the client session, so a CLI user expects CREATE
        # CONTINUOUS QUERY to survive the process (see attach_cq_catalog)
        self._cq_catalog: Any = None

    def attach_cq_catalog(self, catalog: Any) -> None:
        """Make the CQ registry DURABLE: load persisted continuous queries
        from ``catalog`` (table properties of the ``_cq`` meta table) and
        persist subsequent CREATE/DROP CONTINUOUS QUERY there — the
        engine-side analogue of InfluxDB storing CQs in the server's meta
        store rather than a client session."""
        self._cq_catalog = catalog
        stored = catalog.table_property("_cq", "queries", {}) or {}
        for name, v in stored.items():
            self.cqs.setdefault(name, self._cq_entry(v))

    @staticmethod
    def _cq_entry(v: Any) -> dict[str, Any]:
        """Normalize a registry value: older catalogs persisted the bare
        SELECT…INTO text; the dict form adds RESAMPLE EVERY/FOR and the
        incremental-run watermark."""
        if isinstance(v, str):
            v = {"query": v}
        return {
            "query": v["query"],
            "every": v.get("every"),
            "for": v.get("for"),
            "last_end": v.get("last_end"),
        }

    def _persist_cqs(self) -> None:
        if self._cq_catalog is not None:
            self._cq_catalog.set_table_property("_cq", "queries", dict(self.cqs))

    # --- condition compilation ---

    def _time_col(self) -> Column:
        return F.col(self.ts_col).cast("timestamp")

    def _operand(self, e: Any, time_side: bool) -> Column:
        if isinstance(e, Num):
            if time_side:  # epoch-ns integer literal
                return F.timestamp_seconds(F.lit(e.value / 1e9))
            return F.lit(e.value)
        if isinstance(e, Str):
            if time_side:
                t = F.lit(e.value).cast("timestamp")
                # tz(): time string literals are wall-clock in the query zone
                return F.to_utc_timestamp(t, self._tz) if self._tz else t
            return F.lit(e.value)
        if isinstance(e, Dur):
            return F.lit(e.seconds)
        if isinstance(e, Ref):
            return self._time_col() if e.name == "time" else F.col(e.name)
        if isinstance(e, Call) and e.fname == "now" and not e.args:
            return F.current_timestamp()
        if isinstance(e, Bin):
            # time arithmetic: now() - 1d, time + 6h …
            left = self._operand(e.left, time_side)
            if isinstance(e.right, Dur) and time_side:
                iv = F.expr(f"interval {e.right.seconds} seconds")
                return left - iv if e.op == "-" else left + iv
            right = self._operand(e.right, time_side)
            return {"+": left + right, "-": left - right,
                    "*": left * right, "/": left / right}[e.op]
        raise InfluxQLError(f"unsupported WHERE operand {e!r}")

    def _is_time(self, e: Any) -> bool:
        if isinstance(e, Ref) and e.name == "time":
            return True
        if isinstance(e, Call) and e.fname == "now":
            return True
        if isinstance(e, Bin):
            return self._is_time(e.left) or self._is_time(e.right)
        return False

    def _cond(self, e: Any) -> Column:
        if isinstance(e, Bool):
            cols = [self._cond(p) for p in e.parts]
            out = cols[0]
            for c in cols[1:]:
                out = (out & c) if e.op == "and" else (out | c)
            return out
        if isinstance(e, Cmp):
            if isinstance(e.right, Rex):
                col = self._operand(e.left, False)
                m = col.rlike(e.right.pattern)
                return m if e.op == "=~" else ~m
            time_side = self._is_time(e.left) or self._is_time(e.right)
            lc = self._operand(e.left, time_side)
            rc = self._operand(e.right, time_side)
            return {"=": lc == rc, "!=": lc != rc, "<": lc < rc,
                    "<=": lc <= rc, ">": lc > rc, ">=": lc >= rc}[e.op]
        raise InfluxQLError(f"unsupported condition {e!r}")

    def _time_bounds(self, e: Any) -> tuple[Any, Any]:
        """Extract literal [lo, hi) time bounds from top-level ANDed cmps —
        used to pin the fill() spine to the queried range like InfluxDB.
        Returns (lo, hi_exclusive_flag) values as (iso_string, op) pairs."""
        lo = hi = None
        parts = e.parts if isinstance(e, Bool) and e.op == "and" else [e]
        for p in parts:
            if not (isinstance(p, Cmp) and isinstance(p.left, Ref)
                    and p.left.name == "time" and isinstance(p.right, Str)):
                continue
            if p.op in (">", ">="):
                lo = (p.right.value, p.op)
            elif p.op in ("<", "<="):
                hi = (p.right.value, p.op)
        return lo, hi

    @staticmethod
    def _aligned_bounds(lo: tuple, hi: tuple, width: float, offset: float):
        """Bucket-align WHERE time bounds for the fill spine: first bucket =
        bucket(lo) (a partial first bucket still renders, like InfluxDB);
        last bucket = bucket(last instant satisfying the hi bound).  Naive
        datetimes are UTC (the engine pins spark.sql.session.timeZone=UTC)."""
        import datetime as dt

        w, off = int(width), int(offset)

        def to_secs(s: str) -> int:
            d = dt.datetime.fromisoformat(s)
            return int(d.replace(tzinfo=dt.timezone.utc).timestamp())

        lo_s = to_secs(lo[0])
        hi_s = to_secs(hi[0]) - (1 if hi[1] == "<" else 0)
        lo_b = lo_s - ((lo_s - off) % w)
        hi_b = hi_s - ((hi_s - off) % w)
        if hi_b < lo_b:
            return None
        return (
            dt.datetime.fromtimestamp(lo_b, dt.timezone.utc).replace(tzinfo=None),
            dt.datetime.fromtimestamp(hi_b, dt.timezone.utc).replace(tzinfo=None),
        )

    # --- projection compilation ---

    def _field(self, e: Any) -> Column:
        if isinstance(e, Ref):
            return F.col(e.name)
        if isinstance(e, Num):
            return F.lit(e.value)
        if isinstance(e, Dur):
            return F.lit(e.seconds)
        if isinstance(e, Bin):
            left, right = self._field(e.left), self._field(e.right)
            return {"+": left + right, "-": left - right, "*": left * right,
                    "/": left / right, "%": left % right}[e.op]
        raise InfluxQLError(f"unsupported expression {e!r}")

    def execute(self, sql: str) -> DataFrame:
        self._routes = []
        first = sql.lstrip().split(None, 1)[0].upper() if sql.strip() else ""
        if first == "EXPLAIN":
            # InfluxQL EXPLAIN [ANALYZE] <select> — rendered honestly as
            # the tier route(s) the statement planned, then the Spark
            # physical plan (this engine's actual execution), one row per
            # plan line; ANALYZE runs the query first and appends the row
            # count
            rest = sql.lstrip()[7:].lstrip()
            analyze = rest[:7].upper() == "ANALYZE"
            if analyze:
                rest = rest[7:].lstrip()
            df = self.execute(rest)
            plan = df._jdf.queryExecution().executedPlan().toString()
            lines = plan.splitlines()
            if self._routes:
                lines.insert(0, f"route: {'; '.join(map(str, self._routes))}")
            if analyze:
                lines.append(f"rows: {df.count()}")
            return self._spark().createDataFrame(
                [(ln,) for ln in lines], ["plan"]
            )
        if first in ("SHOW", "CREATE", "DROP", "ALTER", "DELETE"):
            return self.execute_statement(sql)
        stmt = parse(sql)
        out = self._run(stmt)
        if stmt.into:
            # INTO registers the result as a new measurement (queryable
            # immediately); deviation from InfluxDB's written-count result —
            # a DataFrame engine returns the data it wrote
            reg = out
            if "time" in reg.columns and self.ts_col != "time":
                reg = reg.withColumnRenamed("time", self.ts_col)
            self.tables[stmt.into] = reg
            if self._cq_catalog is not None:
                # With a catalog attached, SELECT … INTO writes to STORAGE
                # like InfluxDB's (a CQ's whole point is a materialized
                # target that outlives the session): committed as day
                # partitions of ``into_<target>`` via the same idempotent
                # wave commit the tiers use — rerunning a CQ overwrites its
                # days atomically instead of appending duplicates.
                tcol = "time" if "time" in out.columns else self.ts_col
                if tcol in out.columns:
                    staged = out.withColumn(
                        "day", F.date_format(F.col(tcol), "yyyy-MM-dd")
                    )
                else:  # no time column (e.g. plain tag aggregate): one part
                    staged = out.withColumn("day", F.lit("all"))
                days = [
                    r["day"] for r in staged.select("day").distinct().collect()
                ]
                self._cq_catalog.write_partitions(
                    staged, f"into_{stmt.into}", days
                )
        return out

    def _run(self, stmt: Select) -> DataFrame:
        # Validate tz() once, up front: a bad zone name must be a loud,
        # named error (InfluxDB: "unable to find time zone"), not a
        # ZoneInfoNotFoundError from _plan_route mid-planning or a Spark
        # ZoneRulesException at collect time.
        if stmt.tz is not None:
            import zoneinfo as _zi

            try:
                _zi.ZoneInfo(stmt.tz)
            except Exception as e:  # noqa: BLE001
                # only reject when tzdata itself is working: in a slim
                # container with no IANA database, every name fails here
                # but the JVM's own zone db can still serve the raw path
                try:
                    _zi.ZoneInfo("UTC")
                    tzdata_ok = True
                except Exception:  # noqa: BLE001
                    tzdata_ok = False
                if tzdata_ok:
                    raise InfluxQLError(
                        f"unknown time zone {stmt.tz!r}"
                    ) from e
        self._tz = stmt.tz
        if stmt.sub is not None:
            # subquery: run the inner SELECT, then the outer over its result
            # (inner emits a 'time' column; tags pass through by name).
            # tz() applies to the whole statement, inner query included.
            from dataclasses import replace as _tzrep

            sub = stmt.sub if stmt.sub.tz or not stmt.tz else _tzrep(
                stmt.sub, tz=stmt.tz
            )
            inner = self._run(sub)
            if "time" not in inner.columns:
                raise InfluxQLError(
                    "outer query needs a time column: give the subquery "
                    "GROUP BY time() or raw projections"
                )
            sub_eng = InfluxQLEngine({"__sub__": inner}, ts_col="time")
            from dataclasses import replace as _replace

            # tz() was applied at the innermost level, so the inner result's
            # `time` is already in wall-clock space — the outer query runs
            # without tz (plain arithmetic on wall times is then correct)
            return sub_eng._run(
                _replace(stmt, measurement="__sub__", sub=None, tz=None)
            )
        if stmt.measurements or stmt.measurement_rex is not None:
            # several measurements: the same plan per table, unioned with a
            # leading `measurement` column — the DataFrame rendering of
            # InfluxDB's per-measurement series keying (per-series LIMIT and
            # SLIMIT apply within each measurement, as in InfluxDB)
            from dataclasses import replace as _replace
            from functools import reduce

            if stmt.measurement_rex is not None:
                names = sorted(
                    m for m in self.tables if re.search(stmt.measurement_rex, m)
                )
                if not names:
                    raise InfluxQLError(
                        f"no measurement matches /{stmt.measurement_rex}/"
                    )
            else:
                names = stmt.measurements
            outs = [
                self._run(
                    _replace(
                        stmt, measurement=m, measurements=None,
                        measurement_rex=None, into=None,
                    )
                ).select(F.lit(m).alias("measurement"), "*")
                for m in names
            ]
            return reduce(lambda a, b: a.unionByName(b), outs)
        stmt = self._expand_star(stmt)
        # TA-over-aggregate routes BEFORE the tiered check: the fold/fit
        # desugars its inner aggregate through _run, so the inner GROUP BY
        # time() query gets continuous-aggregate serving on its own
        ta_root = next(
            (
                e for e, _ in stmt.projections
                if isinstance(e, Call)
                and (e.fname in FOLD_TRANSFORMS or e.fname in HW_FNS
                     or e.fname in TREND_FNS or e.fname in FORECAST_FNS
                     or e.fname in ASAP_FNS)
            ),
            None,
        )
        if ta_root is not None and any(
            isinstance(a, Call) and a.fname in AGGS for a in ta_root.args[:1]
        ):
            if ta_root.fname in HW_FNS:
                return self._exec_hw(stmt, None)
            if ta_root.fname in TREND_FNS:
                return self._exec_trend(stmt, None)
            if ta_root.fname in FORECAST_FNS:
                return self._exec_forecast_linear(stmt)
            if ta_root.fname in ASAP_FNS:
                return self._exec_asap(stmt)
            return self._exec_fold(stmt, None)
        route = self._plan_route(stmt)
        self._routes.append(route)
        if isinstance(route, Route):
            serve = {
                "kmv": self._exec_kmv_tiered, "hdr": self._exec_hdr_percentiles,
            }.get(route.family, self._exec_tiered)
            return serve(stmt, route)
        if stmt.measurement not in self.tables:
            if stmt.measurement in self.tiered:
                raise InfluxQLError(
                    f"measurement {stmt.measurement!r} is tier-only and this "
                    "query is not answerable from rollup partials (needs the "
                    f"raw table registered too): {route.reason}"
                )
            raise InfluxQLError(f"unknown measurement {stmt.measurement!r}")
        df = self.tables[stmt.measurement]
        if stmt.group_star:
            # GROUP BY * = every tag column; the engine's tag model is
            # "string-typed columns that aren't the time column"
            from dataclasses import replace as _replace

            tags = sorted(
                n for n, t in df.dtypes if t == "string" and n != self.ts_col
            )
            stmt = _replace(stmt, group_tags=tags, group_star=False)
        if stmt.where is not None:
            df = df.filter(self._cond(stmt.where))

        if any(
            isinstance(e, Call) and e.fname in FOLD_TRANSFORMS
            for e, _ in stmt.projections
        ):
            return self._exec_fold(stmt, df)
        if any(
            isinstance(e, Call) and e.fname in HW_FNS
            for e, _ in stmt.projections
        ):
            return self._exec_hw(stmt, df)
        if any(
            isinstance(e, Call) and e.fname in TREND_FNS
            for e, _ in stmt.projections
        ):
            return self._exec_trend(stmt, df)
        if any(
            isinstance(e, Call) and e.fname in FORECAST_FNS
            for e, _ in stmt.projections
        ):
            return self._exec_forecast_linear(stmt)
        if any(
            isinstance(e, Call) and e.fname in ASAP_FNS
            for e, _ in stmt.projections
        ):
            return self._exec_asap(stmt)

        calls: list[Call] = []
        for e, _ in stmt.projections:
            _walk_calls(e, calls)
        multi = [c for c in calls if c.fname in SELECTORS_MULTI]
        has_agg = any(c.fname in AGGS for c in calls)

        if any(c.fname == "approx_count_distinct" for c in calls):
            return self._exec_kmv_agg(stmt, df)
        if any(c.fname == "distinct" for c in calls) and not has_agg:
            return self._exec_distinct(stmt, df)
        if multi:
            return self._exec_selector(stmt, df, multi)
        if stmt.time_width is not None or has_agg:
            return self._exec_agg(stmt, df)
        return self._exec_raw(stmt, df)

    # --- raw mode: fields + transforms over raw points ---

    def _exec_raw(self, stmt: Select, df: DataFrame) -> DataFrame:
        keys = stmt.group_tags
        ts = self.ts_col
        cols, names = [], []
        for e, alias in stmt.projections:
            name = alias or _default_name(e)
            names.append(name)
            cols.append(self._proj(e, df, keys, ts, F.col).alias(name))
        t_out = F.col(ts)
        if self._tz:
            t_out = F.from_utc_timestamp(t_out, self._tz)
        out = df.select(t_out.alias("time"), *keys, *cols)
        if cols and all(self._rooted_in_transform(e) for e, _ in stmt.projections):
            keep = None
            for n in names:
                c = F.col(n).isNotNull()
                keep = c if keep is None else (keep | c)
            out = out.filter(keep)
        return self._finish(stmt, out, keys)

    def _rooted_in_transform(self, e: Any) -> bool:
        if isinstance(e, Call):
            if e.fname in MATH_FNS:
                # abs(difference(v)) is still transform-rooted — the NULL
                # first row must be dropped exactly as for difference(v)
                return any(self._rooted_in_transform(a) for a in e.args)
            return e.fname in TRANSFORMS
        if isinstance(e, Bin):
            return self._rooted_in_transform(e.left) or self._rooted_in_transform(e.right)
        return False

    def _proj(self, e: Any, df: DataFrame, keys: list[str], ts: str,
              resolve: Callable[[str], Column]) -> Column:
        """Evaluate a projection expr; ``resolve`` maps a field name to a
        Column in the current frame (raw: F.col; bucketed: the agg alias)."""
        if isinstance(e, Ref):
            return resolve(e.name)
        if isinstance(e, Num):
            return F.lit(e.value)
        if isinstance(e, Bin):
            left = self._proj(e.left, df, keys, ts, resolve)
            right = self._proj(e.right, df, keys, ts, resolve)
            return {"+": left + right, "-": left - right, "*": left * right,
                    "/": left / right, "%": left % right}[e.op]
        if isinstance(e, Call):
            if e.fname in TRANSFORMS:
                arg = self._proj(e.args[0], df, keys, ts, resolve) if e.args else None
                if e.fname == "difference":
                    return Q.tr_difference(df, keys, ts, arg)
                if e.fname == "non_negative_difference":
                    return Q.tr_non_negative_difference(df, keys, ts, arg)
                if e.fname == "derivative":
                    unit = e.args[1].seconds if len(e.args) > 1 else 1
                    return Q.tr_derivative(df, keys, ts, arg, unit)
                if e.fname == "non_negative_derivative":
                    unit = e.args[1].seconds if len(e.args) > 1 else 1
                    return Q.tr_non_negative_derivative(df, keys, ts, arg, unit)
                if e.fname == "counter_rate":
                    unit = e.args[1].seconds if len(e.args) > 1 else 1
                    return Q.tr_counter_rate(df, keys, ts, arg, unit)
                if e.fname == "counter_increase":
                    return Q.tr_counter_increase(df, keys, ts, arg)
                if e.fname == "counter_resets":
                    return Q.tr_counter_resets(df, keys, ts, arg)
                if e.fname == "elapsed":
                    unit = e.args[1].seconds if len(e.args) > 1 else 1
                    return Q.tr_elapsed(df, keys, ts, unit)
                if e.fname == "moving_average":
                    return Q.tr_moving_average(df, keys, ts, arg, int(e.args[1].value))
                if e.fname == "moving_percentile":
                    return Q.tr_moving_percentile(
                        df, keys, ts, arg,
                        float(e.args[1].value), int(e.args[2].value),
                    )
                if e.fname == "cumulative_sum":
                    return Q.tr_cumulative_sum(df, keys, ts, arg)
                if e.fname == "sigma":
                    return Q.tr_sigma(df, keys, ts, arg)
                if e.fname == "chande_momentum_oscillator":
                    return Q.tr_chande_momentum_oscillator(
                        df, keys, ts, arg, int(e.args[1].value)
                    )
                if e.fname == "kaufmans_efficiency_ratio":
                    return Q.tr_kaufmans_efficiency_ratio(
                        df, keys, ts, arg, int(e.args[1].value)
                    )
            if e.fname in MATH_FNS:
                args = [self._proj(a, df, keys, ts, resolve) for a in e.args]
                return _math_expr(e.fname, args)
            if e.fname in AGGS:
                # only reachable via resolve in bucketed mode
                return resolve(("agg", _agg_key(e)))  # type: ignore[arg-type]
        raise InfluxQLError(f"unsupported projection {e!r}")

    # --- aggregate mode: GROUP BY time(w)[, tags] or plain tag aggregation ---

    def _bucket(self, width: float, offset: float) -> Column:
        t = self._time_col()
        if self._tz:
            # tz(): bucket boundaries are aligned to the zone's wall clock
            # (DST-aware, from_utc_timestamp applies the per-instant offset)
            # and the bucket timestamp renders in that wall clock, exactly
            # like InfluxDB's tz() output
            t = F.from_utc_timestamp(t, self._tz)
        secs = F.unix_timestamp(t).cast("long")
        w, off = int(width), int(offset)
        return F.timestamp_seconds(secs - ((secs - off) % w))

    def _exec_agg(self, stmt: Select, df: DataFrame) -> DataFrame:
        keys = stmt.group_tags
        ts = self.ts_col
        # stage 1: every distinct aggregate in ONE groupBy
        agg_calls: dict[tuple, Call] = {}
        for e, _ in stmt.projections:
            found: list[Call] = []
            _walk_calls(e, found)
            for c in found:
                if c.fname in AGGS:
                    agg_calls[_agg_key(c)] = c
                elif c.fname in TRANSFORMS:
                    if stmt.time_width is None:
                        raise InfluxQLError(
                            f"{c.fname}() over an aggregate needs GROUP BY time()"
                        )
                elif c.fname in MATH_FNS:
                    pass  # applied to the aggregate result in _proj
                elif c.fname == "distinct":
                    pass  # validated below (must be nested in count())
                else:
                    raise InfluxQLError(f"unknown function {c.fname!r}")
        if not agg_calls:
            raise InfluxQLError("aggregate query without any aggregate function")
        t_expr = F.unix_timestamp(self._time_col()).cast("double")
        aliases = {k: f"_a{i}" for i, k in enumerate(agg_calls)}
        aggs = []
        for k, c in agg_calls.items():
            a0 = c.args[0] if c.args else None
            if isinstance(a0, Call) and a0.fname == "distinct":
                # count(distinct(f)) — the only InfluxQL nesting of distinct
                if c.fname != "count" or not isinstance(a0.args[0], Ref):
                    raise InfluxQLError(
                        "distinct() may only be nested inside count()"
                    )
                aggs.append(
                    F.count_distinct(F.col(a0.args[0].name))
                    .cast("long").alias(aliases[k])
                )
                continue
            if not isinstance(a0, Ref):
                raise InfluxQLError(f"{c.fname}() needs a field argument")
            v = F.col(a0.name)
            aggs.append(_agg_expr(c.fname, v, t_expr, c.args).alias(aliases[k]))

        if stmt.time_width is not None:
            bucket = self._bucket(stmt.time_width, stmt.time_offset).alias("time")
            grouped = self._fill(
                stmt, df.groupBy(bucket, *keys).agg(*aggs), keys,
                list(aliases.values()),
            )
            frame_ts = "time"
        else:
            grouped = df.groupBy(*keys).agg(*aggs)
            frame_ts = None

        return self._agg_tail(stmt, grouped, keys, aliases, frame_ts, ts)

    def _fill(
        self, stmt: Select, grouped: DataFrame, keys: list[str],
        cols: list[str],
    ) -> DataFrame:
        """GROUP BY time() fill() over the aggregated ``time`` frame; literal
        WHERE time bounds pin the spine to the queried range, like
        InfluxDB."""
        if stmt.fill_mode == "none":
            return grouped
        lo, hi = (
            self._time_bounds(stmt.where) if stmt.where is not None
            else (None, None)
        )
        bounds = (
            self._aligned_bounds(lo, hi, stmt.time_width, stmt.time_offset)
            if lo is not None and hi is not None else None
        )
        return fill_buckets(
            grouped, keys, cols, int(stmt.time_width),
            mode=stmt.fill_mode, fill_value=stmt.fill_value,
            bucket_col="time", spine_bounds=bounds, spine_tz=self._tz,
        ).drop("filled")

    def _agg_tail(
        self,
        stmt: Select,
        grouped: DataFrame,
        keys: list[str],
        aliases: dict[tuple, str],
        frame_ts: str | None,
        ts: str,
    ) -> DataFrame:
        """Shared projection/finish stage over an already-aggregated frame —
        used by _exec_agg (raw aggregation) and _exec_tiered (the frame came
        from a materialized rollup tier)."""
        def resolve(key: Any) -> Column:
            if isinstance(key, tuple) and key[0] == "agg":
                return F.col(aliases[key[1]])
            raise InfluxQLError(
                f"bare field {key!r} in an aggregate query (InfluxQL requires "
                "every projection to be aggregated)"
            )

        cols, names = [], []
        for e, alias in stmt.projections:
            name = alias or _default_name(e)
            names.append(name)
            if frame_ts is None and isinstance(e, Call) and e.fname in TRANSFORMS:
                raise InfluxQLError(f"{e.fname}() needs GROUP BY time()")
            cols.append(
                self._proj(e, grouped, keys, frame_ts or ts, resolve).alias(name)
            )
        lead = [F.col("time")] if frame_ts else []
        out = grouped.select(*lead, *keys, *cols)
        # transform-only result rows that are all-NULL are dropped (InfluxDB
        # emits nothing for e.g. the first bucket of a derivative)
        if frame_ts and all(
            self._rooted_in_transform(e) for e, _ in stmt.projections
        ):
            keep = None
            for n in names:
                c = F.col(n).isNotNull()
                keep = c if keep is None else (keep | c)
            out = out.filter(keep)
        return self._finish(stmt, out, keys)

    # --- fold mode: recurrence transforms (EMA family, RSI, KAMA) ---

    def _frame_keys(self, stmt: Select, frame: DataFrame) -> list[str]:
        """Series keys of a desugared inner-aggregate frame.  GROUP BY *
        resolves during the inner _run, so read the tags off the frame."""
        if stmt.group_star:
            return [c for c in frame.columns if c not in ("time", "__fv__")]
        return stmt.group_tags

    def _exec_fold(self, stmt: Select, df: DataFrame | None) -> DataFrame:
        """Recurrence transforms are DataFrame-shaped (per-series fold), so
        they take over the whole SELECT: the call must be the sole
        projection.  ``ema(mean(v), n) … GROUP BY time(w)`` desugars into
        the aggregate query followed by the fold over its series — exactly
        InfluxDB's evaluate-aggregate-then-transform order."""
        if len(stmt.projections) != 1 or not (
            isinstance(stmt.projections[0][0], Call)
            and stmt.projections[0][0].fname in FOLD_TRANSFORMS
        ):
            raise InfluxQLError(
                "a recurrence transform (exponential_moving_average family, "
                "relative_strength_index, kaufmans_adaptive_moving_average) "
                "must be the only projection"
            )
        e, alias = stmt.projections[0]
        fn, has_warm = _FOLD_DISPATCH[e.fname]
        if len(e.args) < 2 or not isinstance(e.args[1], Num):
            raise InfluxQLError(f"{e.fname}(field, n) needs an integer period")
        n = int(e.args[1].value)
        kwargs: dict[str, Any] = {}
        rest = e.args[2:]
        if has_warm:
            if rest and isinstance(rest[0], Num):
                kwargs["hold"] = int(rest[0].value)
                rest = rest[1:]
            if rest and isinstance(rest[0], (Str, Ref)):
                w0 = rest[0]
                kwargs["warmup"] = (
                    w0.value if isinstance(w0, Str) else w0.name
                ).lower()
                rest = rest[1:]
        if rest:
            raise InfluxQLError(f"too many arguments to {e.fname}()")
        keys = stmt.group_tags
        name = alias or e.fname
        arg0 = e.args[0]
        if isinstance(arg0, Call) and arg0.fname in AGGS:
            if stmt.time_width is None:
                raise InfluxQLError(
                    f"{e.fname}() over an aggregate needs GROUP BY time()"
                )
            from dataclasses import replace as _replace

            inner = _replace(
                stmt, projections=[(arg0, "__fv__")], limit=None, offset=None,
                slimit=None, soffset=None, order_desc=False, into=None,
            )
            # through _run, not _exec_agg: a tiered measurement's inner
            # aggregate is then served from materialized rollups
            frame = self._run(inner)
            keys = self._frame_keys(stmt, frame)
            out = fn(frame, keys, "time", "__fv__", n, **kwargs)
            out = out.select(
                "time", *keys, F.col(e.fname).alias(name)
            )
        else:
            if not isinstance(arg0, Ref):
                raise InfluxQLError(
                    f"{e.fname}() needs a field or aggregate argument"
                )
            if stmt.time_width is not None:
                raise InfluxQLError(
                    f"{e.fname}(field) with GROUP BY time() needs an "
                    "aggregate argument, e.g. "
                    f"{e.fname}(mean({arg0.name}), {n})"
                )
            out = fn(df, keys, self.ts_col, arg0.name, n, **kwargs)
            t_out = F.col(self.ts_col)
            if self._tz:
                t_out = F.from_utc_timestamp(t_out, self._tz)
            out = out.select(
                t_out.alias("time"), *keys, F.col(e.fname).alias(name)
            )
        return self._finish(stmt, out, keys)

    def _exec_hw(self, stmt: Select, df: DataFrame | None) -> DataFrame:
        """holt_winters(agg(f), N, S) [WITH GROUP BY time(w)]: run the
        aggregate query, then fit-and-forecast per series
        (operators/holtwinters.py) — N points at the w interval."""
        if len(stmt.projections) != 1 or not (
            isinstance(stmt.projections[0][0], Call)
            and stmt.projections[0][0].fname in HW_FNS
        ):
            raise InfluxQLError(
                "holt_winters() must be the only projection"
            )
        e, alias = stmt.projections[0]
        if (
            len(e.args) != 3
            or not isinstance(e.args[0], Call)
            or e.args[0].fname not in AGGS
            or not isinstance(e.args[1], Num)
            or not isinstance(e.args[2], Num)
        ):
            raise InfluxQLError(
                f"{e.fname}(agg(field), N, S) needs an aggregate and two "
                "integer arguments"
            )
        if stmt.time_width is None:
            raise InfluxQLError(f"{e.fname}() needs GROUP BY time()")
        from dataclasses import replace as _replace

        from influxer_spark.operators.holtwinters import holt_winters

        inner = _replace(
            stmt, projections=[(e.args[0], "__fv__")], limit=None,
            offset=None, slimit=None, soffset=None, order_desc=False,
            into=None,
        )
        frame = self._run(inner)  # tier-served when registered
        keys = self._frame_keys(stmt, frame)
        name = alias or e.fname
        out = holt_winters(
            frame, keys, "time", "__fv__",
            n_predict=int(e.args[1].value),
            season_length=int(e.args[2].value),
            interval_seconds=stmt.time_width,
            with_fit=e.fname.endswith("_with_fit"),
        )
        out = out.select("time", *keys, F.col("holt_winters").alias(name))
        return self._finish(stmt, out, keys)

    def _exec_forecast_linear(self, stmt: Select) -> DataFrame:
        """``forecast_linear(agg(f), N) … GROUP BY time(w)``: closed-form
        per-series OLS fit over the aggregate series, continued N buckets
        past each series' own last observed bucket (the holt_winters
        horizon convention, but with exact-integer normal equations so
        every forecast value replays bit-for-bit on a SQL oracle —
        operators/trend.linear_forecast_horizon).  Output shape matches
        holt_winters: (time, tags…, <name>)."""
        if len(stmt.projections) != 1 or not (
            isinstance(stmt.projections[0][0], Call)
            and stmt.projections[0][0].fname in FORECAST_FNS
        ):
            raise InfluxQLError("forecast_linear() must be the only projection")
        e, alias = stmt.projections[0]
        if (
            len(e.args) != 2
            or not isinstance(e.args[0], Call)
            or e.args[0].fname not in AGGS
            or not isinstance(e.args[1], Num)
        ):
            raise InfluxQLError(
                "forecast_linear(agg(field), N) needs an aggregate and an "
                "integer horizon"
            )
        if stmt.time_width is None:
            raise InfluxQLError("forecast_linear() needs GROUP BY time()")
        from dataclasses import replace as _replace

        from influxer_spark.operators.trend import linear_forecast_horizon

        inner = _replace(
            stmt, projections=[(e.args[0], "__fv__")], limit=None,
            offset=None, slimit=None, soffset=None, order_desc=False,
            into=None,
        )
        if stmt.tz:
            # tz() wall-clock grids are non-uniform across DST shifts, so
            # "bucket index * w" has no inverse that lands horizon rows on
            # the real grid; refuse loudly instead of mislabeling rows.
            raise InfluxQLError("forecast_linear() does not support tz()")
        frame = self._run(inner)  # tier-served when registered
        keys = self._frame_keys(stmt, frame)
        w = stmt.time_width
        off = int(stmt.time_offset)
        # buckets sit on k*w + off, so (epoch - off)/w is an exact integer
        # index and idx*w + off inverts it exactly — including for the
        # horizon buckets past the last observation, which is why forecast
        # cannot carry real timestamps the way _exec_asap does (they don't
        # exist yet) and must reconstruct the grid instead
        ticks = frame.select(
            *keys,
            ((F.unix_timestamp("time") - F.lit(off)) / F.lit(w))
            .cast("long")
            .alias("__idx__"),
            F.round(F.col("__fv__") * 10000, 0).cast("long").alias("__tv__"),
        ).filter(F.col("__tv__").isNotNull())
        fc = linear_forecast_horizon(
            ticks, keys, "__idx__", "__tv__", horizon=int(e.args[1].value)
        )
        name = alias or "forecast_linear"
        out = fc.select(
            F.timestamp_seconds(
                F.col("__idx__") * F.lit(w) + F.lit(off)
            ).alias("time"),
            *keys,
            F.col("pred").alias(name),
        )
        return self._finish(stmt, out, keys)

    def _exec_asap(self, stmt: Select) -> DataFrame:
        """``asap(agg(f)) … GROUP BY time(w)``: ASAP automatic smoothing of
        the aggregate series per tag group (operators/asap.py) — the
        window comes from the series' own ACF peaks, minimizing roughness
        subject to kurtosis preservation.  Output rows carry the CHOSEN
        window's start bucket: (time, tags…, <name>, <name>_window)."""
        if len(stmt.projections) != 1 or not (
            isinstance(stmt.projections[0][0], Call)
            and stmt.projections[0][0].fname in ASAP_FNS
        ):
            raise InfluxQLError("asap() must be the only projection")
        e, alias = stmt.projections[0]
        if (
            len(e.args) != 1
            or not isinstance(e.args[0], Call)
            or e.args[0].fname not in AGGS
        ):
            raise InfluxQLError("asap(agg(field)) needs an aggregate argument")
        if stmt.time_width is None:
            raise InfluxQLError("asap() needs GROUP BY time()")
        from dataclasses import replace as _replace

        from influxer_spark.operators.asap import asap_smooth

        inner = _replace(
            stmt, projections=[(e.args[0], "__fv__")], limit=None,
            offset=None, slimit=None, soffset=None, order_desc=False,
            into=None,
        )
        frame = self._run(inner)  # tier-served when registered
        keys = self._frame_keys(stmt, frame)
        w = stmt.time_width
        # __i__ orders observed buckets (any strictly increasing map of
        # bucket → int works; epoch//w stays monotone on offset/tz grids);
        # the REAL bucket timestamp rides along so output rows are never
        # re-derived from the index — an offset or tz grid re-derived as
        # floor(epoch/w)·w would silently mislabel every row
        ticks = frame.select(
            *keys,
            F.col("time").alias("__t__"),
            (F.unix_timestamp("time") / F.lit(w)).cast("long").alias("__i__"),
            F.col("__fv__").cast("double").alias("__v__"),
        ).filter(F.col("__v__").isNotNull())
        sm = asap_smooth(
            ticks.select(*keys, "__i__", "__v__"), keys, "__i__", "__v__"
        )
        name = alias or "asap"
        # idx is the 0-based RANK of the smoothing window's start within
        # the observed series (gaps don't manufacture buckets — same rank
        # convention as trend()/lttb); map each rank back to its actual
        # bucket for the output timestamp
        rank_w = Window.partitionBy(*keys).orderBy("__i__")
        ranked = ticks.select(
            *keys, "__t__",
            (F.row_number().over(rank_w) - 1).alias("idx"),
        )
        out = (
            sm.join(ranked, [*keys, "idx"])
            .select(
                F.col("__t__").alias("time"),
                *keys,
                F.col("smoothed").alias(name),
                F.col("window").alias(f"{name}_window"),
            )
        )
        return self._finish(stmt, out, keys)

    def _exec_trend(self, stmt: Select, df: DataFrame | None) -> DataFrame:
        """``trend(field)`` or ``trend(agg(f)) … GROUP BY time(w)``:
        Mann-Kendall + Theil-Sen per series (operators/trend.py) — "is
        this series drifting, and how fast?".  One row per series at the
        epoch-0 timestamp (the InfluxQL convention for whole-series
        results):

            (time, tags…, <name>, <name>_tau, <name>_s, <name>_n)

        ``<name>`` is the Theil-Sen slope in FIELD UNITS PER BUCKET (the
        series is quantized to exact 1e-4 ticks first, so every output
        column replays on an integer oracle; the slope converts back by
        one IEEE division).  The agg form desugars through ``_run`` like
        holt_winters, so the inner aggregate is tier-served when the
        measurement is registered."""
        if len(stmt.projections) != 1 or not (
            isinstance(stmt.projections[0][0], Call)
            and stmt.projections[0][0].fname in TREND_FNS
        ):
            raise InfluxQLError("trend() must be the only projection")
        e, alias = stmt.projections[0]
        if len(e.args) != 1:
            raise InfluxQLError("trend(field | agg(field)) takes one argument")
        from influxer_spark.operators.trend import mk_theilsen

        if isinstance(e.args[0], Call) and e.args[0].fname in AGGS:
            if stmt.time_width is None:
                raise InfluxQLError("trend(agg(field)) needs GROUP BY time()")
            from dataclasses import replace as _replace

            inner = _replace(
                stmt, projections=[(e.args[0], "__fv__")], limit=None,
                offset=None, slimit=None, soffset=None, order_desc=False,
                into=None,
            )
            frame = self._run(inner)  # tier-served when registered
            keys = self._frame_keys(stmt, frame)
            val, tcol = "__fv__", "time"
        elif isinstance(e.args[0], Ref) and df is not None:
            if stmt.time_width is not None:
                raise InfluxQLError(
                    "trend(field) with GROUP BY time() needs an aggregate: "
                    "trend(mean(field))")
            frame, keys = df, list(stmt.group_tags)
            val, tcol = e.args[0].name, self.ts_col
        else:
            raise InfluxQLError("trend() needs a field or aggregate argument")
        ticks = frame.select(
            *keys, F.col(tcol).alias("__tt__"),
            F.round(F.col(val) * 10000, 0).cast("long").alias("__tv__"),
        ).filter(F.col("__tv__").isNotNull())
        st = mk_theilsen(ticks, keys, "__tt__", "__tv__")
        name = alias or "trend"
        out = st.select(
            F.timestamp_seconds(F.lit(0)).alias("time"),
            *keys,
            (F.col("sen_slope") / 10000.0).alias(name),
            F.col("mk_tau").alias(f"{name}_tau"),
            F.col("mk_s").alias(f"{name}_s"),
            F.col("n_points").alias(f"{name}_n"),
        )
        return self._finish(stmt, out, keys)

    def _exec_distinct(self, stmt: Select, df: DataFrame) -> DataFrame:
        """Bare ``SELECT distinct(f)``: one row per distinct field value per
        series, at InfluxDB's epoch-0 timestamp.  A distributed distinct
        (one shuffle on the value+tags key) — never a collect."""
        e, alias = stmt.projections[0]
        if (
            len(stmt.projections) != 1
            or not isinstance(e, Call)
            or e.fname != "distinct"
            or len(e.args) != 1
            or not isinstance(e.args[0], Ref)
        ):
            raise InfluxQLError("distinct(field) must be the sole projection")
        if stmt.time_width is not None:
            raise InfluxQLError("distinct() with GROUP BY time() is not supported")
        keys = stmt.group_tags
        name = alias or "distinct"
        out = (
            df.select(*keys, F.col(e.args[0].name).alias(name))
            .distinct()
            .select(
                F.timestamp_seconds(F.lit(0)).alias("time"),
                *keys,
                F.col(name),
            )
            .orderBy(*keys, name)
        )
        return self._finish(stmt, out, keys)

    # --- continuous-aggregate routing: serve GROUP BY time() from tiers ---

    _TIER_AGGS = {"count", "sum", "mean", "min", "max", "spread"}

    def register_tiered(
        self,
        name: str,
        catalog: Any,
        key_cols: tuple[str, ...] = ("url", "metric"),
        value_field: str = "value",
        hist_bounds: Any = None,
        kmv_item_col: str | None = None,
        sumsq: bool = False,
        hdr: bool = False,
        ohlc: bool = False,
        as_of: int | str | None = None,
    ) -> None:
        """Serve this measurement's ``GROUP BY time(w)`` aggregate queries
        from the catalog's materialized rollup tiers (``rollup_1m/1h/1d``)
        instead of raw points — the continuous-aggregate rewrite surfaced
        through the InfluxQL text front-end, i.e. what InfluxDB's storage
        tiers do behind ``GROUP BY time()`` (SURVEY.md §2.4; the reference
        delegates this to the InfluxDB server).

        Routing is exact-only: count/sum/mean/min/max/spread over the tier's
        value field, whole-minute widths and offsets, WHERE time bounds
        aligned to the serving table's buckets, group tags ⊆ tier keys.
        Anything else falls back to the raw table registered under the same
        name (or errors if there is none); ``EXPLAIN`` prints the route a
        statement takes, or the rule that sent it to raw (``_plan_route``).
        At 10^12-point scale the rewrite reads O(buckets) instead of
        O(points) with manifest-level partition pruning.

        ``hist_bounds`` (the bound list the pipeline's ``hist_bounds=``
        materialized into the tiers) additionally opts percentile()/median()
        into tier serving via rank interpolation on the histogram cells —
        an EXPLICITLY APPROXIMATE rewrite (error bounded by the bound
        spacing), so it is opt-in here rather than silently substituted for
        InfluxQL's exact nearest-rank percentile.  Without it, percentile
        queries fall back to raw points as before.

        ``kmv_item_col`` (the item column the catalog's ``kmv_1h``/``kmv_1d``
        sketch tables were built over, see ``operators/kmv.py:
        build_kmv_tiers``) opts ``approx_count_distinct(item)`` into tier
        serving: the k-min re-bucket is lossless, so the tier answer is
        IDENTICAL to the raw-path KMV estimate — deterministic, unlike a
        silent HLL substitution.  ``k`` comes from the table property
        pinned at build time.

        ``sumsq=True`` (requires ``sumsq_1m/1h/1d`` power-sum tiers in the
        catalog, see ``operators/rollup.py:build_sumsq_tiers``) opts
        ``stddev()`` into tier serving: a stddev-bearing statement is
        answered entirely from the power sums — stddev from
        ``(n·S2−S1²)/(n·(n−1))`` and any companion count/sum/mean/min/max/
        spread from the same rows (integer-cent exact, so companions may
        differ from the float rollup path in final ulps; both are
        deterministic).  A statement whose range needs the real-time raw
        tail falls back to the raw path instead — mixing a float tail into
        integer power sums would forfeit the exactness that justifies the
        rewrite (TimescaleDB's ``stats_agg`` rollup is the analogue).

        ``hdr=True`` (requires ``hdr_1h/1d`` log-linear sketch tiers, see
        ``operators/hdrsketch.py:build_hdr_tiers``) opts percentile()/
        median() into BOUNDS-FREE tier serving — the front-end twin of
        ``query.read_percentile``: no per-metric bound list to configure,
        relative error ≤ 2^-sub_bits (pinned at build).  Explicitly
        approximate, hence opt-in like ``hist_bounds``; when both are
        configured the exact-cell histogram path wins (no behavior change
        for existing catalogs).  Served only for hour-multiple widths and
        percentile-only statements; anything else falls back.

        ``ohlc=True`` (requires ``ohlc_1m/1h/1d`` candlestick tiers, see
        ``operators/rollup.py:build_ohlc_tiers``) opts ``first()``/
        ``last()`` into tier serving: the coarse open/close are taken from
        the earliest/latest finer bucket (argmin/argmax by time with a
        value tie-break — the SAME total order the raw path's
        struct-min/max uses, so tier and raw answers are identical bits).
        Companions in the same statement are limited to count/min/max/
        spread (all on the ohlc table); sum/mean/stddev/percentile live
        on other tables and force the raw path rather than mix sources.
        The real-time raw tail composes exactly (OHLC is algebraic).
        """
        # as_of: serve every tier read from that snapshot / tag / branch
        # (Iceberg time travel through the dashboard — "the metrics as of
        # release-1").  The real-time raw tail is disabled under as_of:
        # mixing a historical tier with the live raw table would answer
        # neither point in time.
        self.tiered[name] = {
            "catalog": catalog,
            "key_cols": tuple(key_cols),
            "value_field": value_field,
            "hist_bounds": list(hist_bounds) if hist_bounds else None,
            "kmv_item_col": kmv_item_col,
            "sumsq": bool(sumsq),
            "hdr": bool(hdr),
            "ohlc": bool(ohlc),
            "as_of": as_of,
        }

    # --- tier routing: one planner, three executors ---

    def _plan_route(self, stmt: Select) -> Route | Raw:
        """The one tier-routing decision: serve ``stmt`` from one table of
        its measurement's tiers — which table, at which bucket width, over
        which prune range, with or without the raw tail — or ``Raw`` with
        the first rule that rules the tiers out.  Exact-only: every rule
        keeps the tier answer equal to the raw one.  The route depends on
        the statement, the registration and the committed catalog alone,
        so EXPLAIN prints the route the executors then take.  KMV
        statements plan before the aggregate families."""
        import datetime as _dt

        from influxer_spark import query as _qapi

        cfg = self.tiered.get(stmt.measurement)
        if cfg is None:
            return Raw(f"measurement {stmt.measurement!r} is not tiered")
        if stmt.group_star:
            # GROUP BY * expands from the RAW table's schema after routing
            # (it may name tags the tiers don't carry, e.g. lang)
            return Raw("GROUP BY * expands from the raw schema")
        if stmt.time_width is None:
            return Raw("no GROUP BY time()")
        w, off = int(stmt.time_width), int(stmt.time_offset)
        if stmt.time_width != w or w % 60:
            return Raw(f"width {stmt.time_width:g}s is not whole minutes")
        if stmt.time_offset != off or off % 60:
            return Raw(f"offset {stmt.time_offset:g}s is not whole minutes")
        extra = sorted(set(stmt.group_tags) - set(cfg["key_cols"]))
        if extra:
            return Raw(f"group tag {extra[0]!r} not in tier keys")
        bounds = self._where_bounds(stmt, cfg["key_cols"])
        if isinstance(bounds, Raw):
            return bounds
        lo, hi = bounds
        tier = self._grid_tier(stmt, w, off, lo, hi)
        if tier is None:
            return Raw(f"tz({stmt.tz!r}) offsets fit no tier grid in range")
        calls: list[Call] = []
        for e, _ in stmt.projections:
            _walk_calls(e, calls)
        family = (
            self._kmv_family(stmt, cfg)
            if any(c.fname == "approx_count_distinct" for c in calls)
            else self._agg_family(stmt, cfg, calls, tier)
        )
        if isinstance(family, Raw):
            return family
        cat = cfg["catalog"]
        if family in ("hdr", "kmv"):
            # sketch tiers exist at 1h and 1d only; wall days under tz()
            # are not UTC days, so those re-bucket the 1h tier
            if tier == "1m":
                return Raw(
                    f"{family} tiers need hour-multiple widths, offsets and "
                    "zone offsets"
                )
            if stmt.tz or not cat.exists(f"{family}_1d"):
                tier = "1h"
        # stitched and hist routes read the rollup tables
        prefix = "rollup" if family in ("stitched", "hist") else family
        table = f"{prefix}_{tier}"
        if not cat.exists(table):
            return Raw(f"no {table} table")
        modulus = _qapi.TIER_SECONDS[tier]
        for b in (lo, hi):
            # a bound inside a bucket would need the points it summarizes
            if b is not None and int(b.timestamp()) % modulus:
                return Raw(
                    f"time bound {b:%Y-%m-%d %H:%M:%S}Z cuts {table}'s "
                    f"{modulus}s buckets"
                )
        has_raw = self.tables.get(stmt.measurement) is not None
        if family == "sumsq" and has_raw:
            # the range must end by the watermark: a float raw tail can't
            # merge into exact integer power sums
            wm = _qapi.tier_watermark(cat, tier, family=prefix)
            if wm is None or hi is None or hi.replace(tzinfo=None) > wm:
                return Raw(f"range passes the {table} watermark")
        # prune bounds: naive UTC, widened a day each side under tz() so
        # pruning never drops a partition the row-level WHERE still needs
        pad = _dt.timedelta(days=1 if stmt.tz else 0)
        start = lo.replace(tzinfo=None) - pad if lo else None
        end = hi.replace(tzinfo=None) + pad if hi else None
        tail = None
        if family in ("rollup", "stitched", "ohlc") and has_raw and (
            cfg["as_of"] is None
        ):
            # REAL-TIME tail (TimescaleDB real-time continuous aggregates):
            # points past the tier watermark roll up from raw on the fly
            wm = _qapi.tier_watermark(cat, tier, family=prefix)
            if wm is None:
                return Raw(f"no committed {table} partitions")
            if end is None or end > wm:
                tail = wm
        # the integer archive re-buckets count/sum/mean on the UTC grid
        archive = (
            family in ("rollup", "stitched") and not off and not stmt.tz
            and all(
                c.fname in ("count", "sum", "mean")
                for c in calls if c.fname in AGGS
            )
            and cat.exists("rollup_1m_counts")
        )
        return Route(family, table, modulus, start, end, tail, archive)

    def _where_bounds(
        self, stmt: Select, key_cols: tuple[str, ...]
    ) -> tuple[Any, Any] | Raw:
        """The WHERE's time range as aware-UTC ``(lo, hi)``, when a tier
        frame can apply the WHERE: it names only time and tier keys, and
        bounds time only by literal ``time >= lo`` / ``time < hi``.  Naive
        literals are UTC, or wall-clock in the tz() zone (InfluxDB
        semantics — the reading the compiled WHERE applies per row)."""
        import datetime as _dt
        import zoneinfo as _zi

        if stmt.where is None:
            return None, None

        def refs(e: Any) -> set[str]:
            if isinstance(e, Bool):
                out: set[str] = set()
                for p in e.parts:
                    out |= refs(p)
                return out
            if isinstance(e, (Cmp, Bin)):
                return refs(e.left) | refs(e.right)
            if isinstance(e, Ref):
                return {e.name}
            return set()

        extra = sorted(refs(stmt.where) - {"time", *key_cols})
        if extra:
            return Raw(f"WHERE names {extra[0]!r}, not a tier key")
        parts = (
            stmt.where.parts
            if isinstance(stmt.where, Bool) and stmt.where.op == "and"
            else [stmt.where]
        )
        # every conjunct naming time must be a bound _time_bounds captured
        # (not one nested in an OR, reversed, or against a non-literal)
        n_time = sum(1 for p in parts if "time" in refs(p))
        lo, hi = self._time_bounds(stmt.where)
        if n_time != (lo is not None) + (hi is not None):
            return Raw("WHERE time condition is not a literal bound")
        out = []
        for bound, op_ok in ((lo, ">="), (hi, "<")):
            if bound is None:
                out.append(None)
                continue
            val, op = bound
            if op != op_ok:
                return Raw(f"time {op} bound (tiers need time >= and time <)")
            try:
                t = _dt.datetime.fromisoformat(val)
            except ValueError:
                return Raw(f"time literal {val!r} is not ISO 8601")
            if t.tzinfo is None:
                t = t.replace(
                    tzinfo=_zi.ZoneInfo(stmt.tz) if stmt.tz
                    else _dt.timezone.utc
                )
            out.append(t.astimezone(_dt.timezone.utc))
        return out[0], out[1]

    def _grid_tier(self, stmt: Select, w: int, off: int, lo, hi) -> str | None:
        """Coarsest tier whose buckets nest in the output grid: its width
        divides both the bucket width and the offset (off=30m over a 1h
        width drops to 1m), and under tz() the zone's offsets and
        transitions over [lo, hi) — 1970–2100 when unbounded — keep every
        tier bucket inside one wall-clock bucket (``_tz_grid_ok``).
        Without tz() the 1m tier always fits; under tz() None means no
        tier does."""
        from influxer_spark.query import TIER_SECONDS

        lo_s = int(lo.timestamp()) if lo else 0
        hi_s = int(hi.timestamp()) if hi else _TZ_HORIZON_END
        for tier in ("1d", "1h", "1m"):
            wt = TIER_SECONDS[tier]
            if w % wt == 0 and off % wt == 0 and (
                not stmt.tz or self._tz_grid_ok(stmt.tz, wt, lo_s, hi_s)
            ):
                return tier
        return None

    def _agg_family(
        self, stmt: Select, cfg: dict, calls: list[Call], tier: str
    ) -> str | Raw:
        """Tier family of an aggregate statement.  Each registered family
        serves a fixed set of aggregates over the tier's value field, and a
        statement is served whole from ONE family's table: mixing sources
        would forfeit single-read exactness."""
        aggish = [
            c for c in calls
            if c.fname in AGGS or c.fname in SELECTORS_MULTI
            or c.fname == "distinct"
        ]
        if not aggish:
            return Raw("no aggregate")
        names = {c.fname for c in aggish}
        pct = names & {"percentile", "median"}
        # bounds-free percentiles from the hdr sketch tiers; the exact-cell
        # histogram path wins when hist_bounds is configured too
        hdr = bool(pct) and cfg["hdr"] and not cfg["hist_bounds"]
        allowed = self._TIER_AGGS | (
            {"percentile", "median"} if cfg["hist_bounds"] or hdr else set()
        ) | ({"stddev"} if cfg["sumsq"] else set()) | (
            {"first", "last"} if cfg["ohlc"] else set()
        )
        for c in aggish:
            if c.fname not in allowed:
                return Raw(f"{c.fname}() has no registered tier partials")
            if not (c.args and isinstance(c.args[0], Ref)
                    and c.args[0].name == cfg["value_field"]):
                return Raw(f"{c.fname}() is not over {cfg['value_field']!r}")
            if c.fname == "percentile" and not (
                len(c.args) == 2 and isinstance(c.args[1], Num)
            ):
                return Raw("percentile() rank is not a literal")
        if hdr:
            # the hdr tables carry counter vectors, not companion sums
            if names - pct:
                return Raw("hdr tiers serve percentile-only statements")
            return "hdr"
        if names & {"first", "last"}:
            if names - {"first", "last", "count", "min", "max", "spread"}:
                return Raw(
                    "ohlc tiers serve first/last with count/min/max/spread "
                    "only"
                )
            return "ohlc"
        if "stddev" in names:
            if pct:
                return Raw("stddev and percentile live on different tiers")
            return "sumsq"
        if pct:
            return "hist"
        # STITCHED: a width that divides no coarser tier (90m → 1m) or
        # skips one (49h → 1h while whole days fit) reads whole 1d/1h
        # blocks plus finer edges (query.read_rollup_stitched's routing)
        w = int(stmt.time_width)
        if not stmt.time_offset and not stmt.tz and cfg["as_of"] is None and (
            (tier == "1m" and w > 3600) or (tier == "1h" and w > 86400)
        ):
            return "stitched"
        return "rollup"

    def _kmv_family(self, stmt: Select, cfg: dict) -> str | Raw:
        """``approx_count_distinct(item)`` serves from the kmv sketch tiers
        when it is the sole projection, over the item column they were
        built on, at their pinned build k."""
        c = self._kmv_sole_call(stmt)
        if c is None:
            return Raw("approx_count_distinct() is not the sole projection")
        if c.args[0].name != cfg["kmv_item_col"]:
            return Raw(f"no kmv tiers over {c.args[0].name!r}")
        if len(c.args) > 1:
            return Raw("explicit k: the kmv tiers store only their build k")
        if stmt.fill_mode != "none":
            return Raw("approx_count_distinct() with fill()")
        return "kmv"

    @staticmethod
    def _tz_grid_ok(zone: str, wt: int, lo_s: int, hi_s: int) -> bool:
        """True iff serving a tz() query from a UTC tier of width ``wt``
        is exact over [lo_s, hi_s): every zone offset in range is a whole
        multiple of ``wt`` AND every offset-transition instant is
        wt-aligned in UTC.  Together these guarantee no tier bucket
        straddles a wall-clock output-bucket boundary — the offset is
        constant within each bucket (transitions land on boundaries) and
        shifts the bucket to another wt-aligned wall block, which cannot
        cross a w-boundary when wt | w.  Whole-hour zones (America/*,
        Europe/*) pass at wt=3600; half-hour zones (Asia/Kolkata) and the
        pre-1900 LMT seconds-offset era drop to the 1m tier or raw.

        Answers from the per-zone precomputed transition list
        (``_tz_transitions``): O(log n) bisect to the offset at ``lo_s``
        plus one pass over the (few hundred at most) transitions inside
        the range — no per-range offset walk, no per-range memo entry."""
        import bisect as _bisect

        if lo_s < 0 or hi_s > _TZ_HORIZON_END:
            return False  # outside the verified horizon → raw path
        zt = _tz_transitions(zone)
        if zt is None:
            return False  # unknown zone → raw path decides
        off0, times, offs = zt
        i = _bisect.bisect_right(times, lo_s)
        if (offs[i - 1] if i else off0) % wt:
            return False
        while i < len(times) and times[i] < hi_s:
            if times[i] % wt or offs[i] % wt:
                return False
            i += 1
        return True

    def _bucket_cond(self, where: Any) -> Column:
        """Compile a WHERE for a tier frame (time column ``bucket``),
        inheriting this statement's tz() so wall-clock time literals
        convert to UTC exactly as they do on the raw path."""
        eng = InfluxQLEngine({}, ts_col="bucket")
        eng._tz = self._tz
        return eng._cond(where)

    def _read_tier(self, stmt: Select, route: Route) -> DataFrame | None:
        """The route's table, manifest-pruned to [start, end) and filtered
        by the WHERE on its ``bucket`` column — filtering buckets is
        exactly filtering the points they summarize, because every time
        bound is aligned to the table's buckets.  None when no partition
        is committed in range."""
        from influxer_spark import query as _qapi

        cfg = self.tiered[stmt.measurement]
        cat, aso = cfg["catalog"], cfg["as_of"]
        parts = _qapi._partitions_in_range(
            cat, route.table, route.start, route.end, as_of=aso
        )
        if not parts:
            return None
        df = self._spark().read.parquet(
            *cat.partition_paths(route.table, parts, as_of=aso)
        )
        if stmt.where is not None:
            df = df.filter(self._bucket_cond(stmt.where))
        return df

    def _archive_fallback(self, stmt: Select, route: Route):
        """Cold-tier serving: when retention has expired every plain rollup
        partition in range (and no raw table covers the range), count/sum/
        mean GROUP BY time() statements are answered from the compressed
        integer archive — rollup_1m_counts carries (cnt, sum_cents) blobs
        per series (query.read_exact_rollup), so the dashboard keeps
        working at decode cost instead of going dark.  min/max/spread/
        percentile cannot be served (the archive stores no extremes or
        cells; the planner allows no archive for them).  sum/mean surface
        the archive's exact integer cents as the engine's standard
        quantized floats."""
        from influxer_spark import query as _qapi

        cfg = self.tiered[stmt.measurement]
        try:
            exact = _qapi.read_exact_rollup(
                self._spark(), cfg["catalog"], 60, route.start, route.end,
                key_cols=cfg["key_cols"], as_of=cfg["as_of"],
            )
        except ValueError:
            return None
        df = exact.select(
            "bucket", *cfg["key_cols"], "cnt",
            (F.col("sum_cents").cast("double") / F.lit(100.0)).alias("sum_v"),
        )
        if stmt.where is not None:
            df = df.filter(self._bucket_cond(stmt.where))
        return df

    def _exec_tiered(self, stmt: Select, route: Route) -> DataFrame:
        """Serve a rollup, stitched, sumsq, ohlc or hist route: the tier's
        partials (plus the real-time raw tail) re-aggregated onto the
        output grid."""
        from influxer_spark import query as _qapi

        cfg = self.tiered[stmt.measurement]
        w, off = int(stmt.time_width), int(stmt.time_offset)
        keys = stmt.group_tags
        agg_calls = _agg_calls(stmt)
        df = None
        if route.family == "stitched":
            # STITCHED mixed-granularity rewrite: the buckets come from a
            # UNION of 1d/1h/1m partials instead of the finest single tier
            # (algebraic aggregates only).  Any catalog-shape surprise
            # (tiers committed unevenly) raises inside stitch_tier_frames
            # and falls back to the single-tier read.
            try:
                frames = _qapi.stitch_tier_frames(
                    self._spark(), cfg["catalog"], w, route.start, route.end
                )
            except ValueError:
                frames = {}
            narrow = ["bucket", *cfg["key_cols"],
                      "cnt", "sum_v", "min_v", "max_v"]
            for f in frames.values():
                if stmt.where is not None:
                    f = f.filter(self._bucket_cond(stmt.where))
                f = f.select(narrow)
                df = f if df is None else df.unionByName(f)
        if df is None:
            df = self._read_tier(stmt, route)
        if route.tail is not None:
            # the raw points past the tier watermark, rolled up to
            # tier-width partials on the fly: the dashboard sees points the
            # pipeline wave hasn't materialized yet, at tier cost for
            # history + raw cost for only the tail
            tail = self.tables[stmt.measurement].filter(
                F.col(self.ts_col) >= F.lit(route.tail)
            )
            if route.start is not None:
                tail = tail.filter(F.col(self.ts_col) >= F.lit(route.start))
            if route.end is not None:
                tail = tail.filter(F.col(self.ts_col) < F.lit(route.end))
            if stmt.where is not None:
                tail = tail.filter(self._cond(stmt.where))
            if route.family == "ohlc":
                # OHLC is algebraic: a raw tail rolled to candlesticks at
                # tier width merges exactly under the cascade's struct order
                from influxer_spark.operators.rollup import (
                    rollup_ohlc as _ro,
                )

                tail_p = _ro(
                    tail.filter(F.col(cfg["value_field"]).isNotNull()),
                    self.ts_col, list(cfg["key_cols"]),
                    cfg["value_field"], route.table.split("_")[1],
                )
                narrow = ["bucket", *cfg["key_cols"],
                          "open_t", "open_v", "high_v", "low_v",
                          "close_t", "close_v", "cnt"]
            else:
                from influxer_spark.operators.rollup import rollup_width as _rw

                tail_p = _rw(
                    tail, self.ts_col, list(cfg["key_cols"]),
                    cfg["value_field"], route.modulus,
                )
                narrow = ["bucket", *cfg["key_cols"],
                          "cnt", "sum_v", "min_v", "max_v"]
            df = (
                tail_p.select(narrow) if df is None
                else df.select(narrow).unionByName(tail_p.select(narrow))
            )
        if df is None and route.archive:
            df = self._archive_fallback(stmt, route)
        if df is None:
            raise InfluxQLError(f"no committed {route.table} partitions in range")
        aliases = {k: f"_a{i}" for i, k in enumerate(agg_calls)}
        if route.family == "sumsq":
            # power-sum frame: every answer derives from exact BIGINTs
            # (rollup.with_stddev's math, inlined over the re-grouped sums)
            _n, _s1, _s2 = F.sum("cnt"), F.sum("s1"), F.sum("s2")
            _var_c2 = (_n * _s2 - _s1 * _s1).cast("double") / (
                _n * (_n - F.lit(1))
            )
            combine = {
                "count": _n.cast("long"),
                "sum": _s1.cast("double") / 100.0,
                "mean": _s1.cast("double") / _n / 100.0,
                "min": F.min("min_v"),
                "max": F.max("max_v"),
                "spread": F.max("max_v") - F.min("min_v"),
                "stddev": F.when(_n > 1, F.sqrt(_var_c2) / F.lit(100.0)),
            }
        elif route.family == "ohlc":
            # candlestick frame: open/close merge by their ORIGINAL
            # timestamps (open_t/close_t) — the same struct total order
            # the raw path's first()/last() uses, so tier == raw
            # bit-for-bit even when the panel's tags collapse many series
            _o = F.struct(F.col("open_t").alias("t"),
                          F.col("open_v").alias("v"))
            _c = F.struct(F.col("close_t").alias("t"),
                          F.col("close_v").alias("v"))
            combine = {
                "count": F.sum("cnt").cast("long"),
                "min": F.min("low_v"),
                "max": F.max("high_v"),
                "spread": F.max("high_v") - F.min("low_v"),
                "first": F.min(_o).getField("v"),
                "last": F.max(_c).getField("v"),
            }
        else:
            combine = {
                "count": F.sum("cnt").cast("long"),
                "sum": F.sum("sum_v"),
                "mean": F.sum("sum_v") / F.sum("cnt"),
                "min": F.min("min_v"),
                "max": F.max("max_v"),
                "spread": F.max("max_v") - F.min("min_v"),
            }
        hist_calls = {
            k: c for k, c in agg_calls.items()
            if c.fname in ("percentile", "median")
        }
        aggs = [
            combine[c.fname].alias(aliases[k])
            for k, c in agg_calls.items()
            if k not in hist_calls
        ]
        if hist_calls:
            from influxer_spark.operators import rollup as _R

            bounds = cfg["hist_bounds"]
            aggs.append(F.sum("cnt").alias("_hq_cnt"))
            aggs.append(
                _R.hist_sum_expr(len(bounds) + 1).alias("_hq_hist")
            )
        bt = F.col("bucket").cast("timestamp")
        if self._tz:
            # re-bucket tier partials on the zone's WALL clock — the same
            # from_utc_timestamp + floor the raw path's _bucket applies
            # per point; exact because _tz_grid_ok guaranteed no tier
            # bucket straddles a wall boundary in this range
            bt = F.from_utc_timestamp(bt, self._tz)
        secs = F.unix_timestamp(bt).cast("long")
        bucket = F.timestamp_seconds(secs - ((secs - off) % w)).alias("time")
        grouped = df.groupBy(bucket, *keys).agg(*aggs)
        if hist_calls:
            for k, c in hist_calls.items():
                q = (
                    0.5 if c.fname == "median"
                    else float(c.args[1].value) / 100.0
                )
                grouped = grouped.withColumn(
                    aliases[k],
                    _R.histogram_quantile_expr(
                        F.col("_hq_hist"), F.col("_hq_cnt"), q, bounds
                    ),
                )
            grouped = grouped.drop("_hq_hist", "_hq_cnt")
        grouped = self._fill(stmt, grouped, keys, list(aliases.values()))
        return self._agg_tail(stmt, grouped, keys, aliases, "time", "time")

    def _exec_hdr_percentiles(self, stmt: Select, route: Route) -> DataFrame:
        """Serve a percentile-only GROUP BY time() statement from the
        ``hdr_1h/1d`` log-linear sketch tiers: manifest-pruned read,
        lossless counter-vector re-bucket to the requested width AND down
        to the statement's group tags (summing over dropped key columns),
        then nearest-rank reads — ``query.read_percentile`` surfaced
        through the text front-end, with no per-metric bound config."""
        from influxer_spark.operators import hdrsketch as H

        df = self._read_tier(stmt, route)
        if df is None:
            raise InfluxQLError(f"no committed {route.table} partitions in range")
        keys = stmt.group_tags
        sub_bits = int(
            self.tiered[stmt.measurement]["catalog"].table_property(
                route.table, "hdr_sub_bits", H.DEFAULT_SUB_BITS
            )
        )
        agg_calls = _agg_calls(stmt)
        aliases = {k: f"_a{i}" for i, k in enumerate(agg_calls)}
        ps: dict[tuple, float] = {
            k: (0.5 if c.fname == "median" else float(c.args[1].value) / 100.0)
            for k, c in agg_calls.items()
        }
        merged = H.hdr_rebucket(
            df, keys, int(stmt.time_width), tz=self._tz,
            offset_seconds=int(stmt.time_offset),
        )
        quants = H.hdr_quantiles(
            merged, keys, tuple(dict.fromkeys(ps.values())), sub_bits
        )
        sel = [F.col("bucket").alias("time"), *keys]
        for k, p in ps.items():
            sel.append(F.col(f"q{int(round(p * 100))}").alias(aliases[k]))
        grouped = self._fill(
            stmt, quants.select(*sel), keys, list(aliases.values())
        )
        return self._agg_tail(stmt, grouped, keys, aliases, "time", "time")

    # --- approx_count_distinct: deterministic KMV estimate ---
    # (engine extension; InfluxQL's count(distinct()) stays exact.  Unlike
    # Spark's HLL-based approx_count_distinct, the KMV estimate is a pure
    # function of the data, so raw-path and tier-served answers are
    # identical and DuckDB-oracle-checkable.)

    def _kmv_sole_call(self, stmt: Select) -> Call | None:
        """The statement is exactly `approx_count_distinct(field[, k])`
        [GROUP BY time(w), tags] — or None."""
        if len(stmt.projections) != 1:
            return None
        e, _ = stmt.projections[0]
        if not (
            isinstance(e, Call)
            and e.fname == "approx_count_distinct"
            and e.args
            and isinstance(e.args[0], Ref)
        ):
            return None
        return e

    def _kmv_validate(self, stmt: Select, c: Call) -> int:
        from influxer_spark.operators.kmv import DEFAULT_K

        if stmt.time_width is None:
            raise InfluxQLError("approx_count_distinct() needs GROUP BY time()")
        if stmt.fill_mode != "none":
            raise InfluxQLError(
                "approx_count_distinct() does not support fill() (a sketch "
                "of an empty bucket is empty, not zero)"
            )
        k = int(c.args[1].value) if len(c.args) > 1 else DEFAULT_K
        if k < 2:
            raise InfluxQLError("approx_count_distinct() needs k >= 2")
        return k

    def _exec_kmv_agg(self, stmt: Select, df: DataFrame) -> DataFrame:
        from influxer_spark.operators import kmv as KMV

        c = self._kmv_sole_call(stmt)
        if c is None:
            raise InfluxQLError(
                "approx_count_distinct() must be the sole projection"
            )
        k = self._kmv_validate(stmt, c)
        keys = stmt.group_tags
        alias = stmt.projections[0][1] or "approx_count_distinct"
        bucket = self._bucket(stmt.time_width, stmt.time_offset)
        pts = df.select(
            bucket.alias("bucket"),
            *keys,
            KMV._hash60(F.col(c.args[0].name)).alias("h"),
        ).distinct()
        est = KMV.kmv_estimate(KMV._kmin(pts, keys, k), keys, k)
        out = est.select(
            F.col("bucket").alias("time"), *keys,
            F.col("est_distinct").alias(alias),
        )
        return self._finish(stmt, out, keys)

    def _exec_kmv_tiered(self, stmt: Select, route: Route) -> DataFrame:
        from influxer_spark.operators import kmv as KMV

        k = self.tiered[stmt.measurement]["catalog"].table_property(
            route.table, "kmv_k"
        )
        if k is None:
            raise InfluxQLError(f"{route.table} pins no kmv_k table property")
        df = self._read_tier(stmt, route)
        if df is None:
            raise InfluxQLError(f"no committed {route.table} partitions in range")
        keys = stmt.group_tags
        alias = stmt.projections[0][1] or "approx_count_distinct"
        merged = KMV.kmv_rebucket(
            df, keys, int(stmt.time_width), int(k), tz=self._tz,
            offset_seconds=int(stmt.time_offset),
        )
        est = KMV.kmv_estimate(merged, keys, int(k))
        out = est.select(
            F.col("bucket").alias("time"), *keys,
            F.col("est_distinct").alias(alias),
        )
        return self._finish(stmt, out, keys)

    # --- multi-row selectors: top / bottom / sample ---

    def _exec_selector(self, stmt: Select, df: DataFrame, multi: list[Call]) -> DataFrame:
        if len(stmt.projections) != 1 or len(multi) != 1 or not isinstance(
            stmt.projections[0][0], Call
        ):
            raise InfluxQLError("top()/bottom()/sample() must be the sole projection")
        if stmt.time_width is not None:
            raise InfluxQLError(
                "top()/bottom()/sample() with GROUP BY time() is not supported"
            )
        c = multi[0]
        alias = stmt.projections[0][1] or c.fname
        fld = c.args[0].name
        n = int(c.args[-1].value)
        keys = stmt.group_tags
        tag_args = [
            a.name for a in c.args[1:-1] if isinstance(a, Ref)
        ]
        if len(tag_args) != len(c.args) - 2:
            raise InfluxQLError(
                f"{c.fname}(field[, tag_key…], N): middle arguments must be "
                "tag identifiers"
            )
        if tag_args and c.fname == "sample":
            # sample() takes no tag arguments — silently dropping them
            # would run a different query than the user wrote
            raise InfluxQLError("sample(field, N) takes no tag arguments")
        if c.fname in ("top", "bottom") and tag_args:
            # top(v, host, 3): the extreme point of each of the N
            # most-extreme tag values (InfluxDB per-tag form)
            out = Q.sel_top_tags(
                df, keys, fld, tag_args, n, ts_col=self.ts_col,
                bottom=c.fname == "bottom",
            )
        elif c.fname in ("top", "bottom"):
            out = Q.sel_top(df, keys, fld, n, ts_col=self.ts_col,
                            bottom=c.fname == "bottom")
        else:
            out = Q.sel_sample(df, keys, self.ts_col, fld, n)
        out = out.withColumnRenamed(fld, alias).withColumnRenamed(self.ts_col, "time")
        if self._tz:
            out = out.withColumn(
                "time", F.from_utc_timestamp(F.col("time"), self._tz)
            )
        return self._finish(stmt, out, keys)

    # --- shared tail: ORDER BY time / LIMIT / OFFSET ---

    def _finish(self, stmt: Select, out: DataFrame, keys: list[str]) -> DataFrame:
        if (stmt.slimit is not None or stmt.soffset) and keys:
            # SLIMIT/SOFFSET select SERIES (distinct tag sets) in tag order.
            # Series cardinality is small next to points, so: tiny distinct
            # frame → offset/limit → broadcast semijoin back (no global sort
            # of the data, no single-partition window)
            series = out.select(*keys).distinct().orderBy(*keys)
            if stmt.soffset:
                series = series.offset(stmt.soffset)
            if stmt.slimit is not None:
                series = series.limit(stmt.slimit)
            out = out.join(F.broadcast(series), on=keys, how="left_semi")
        has_time = "time" in out.columns
        if stmt.limit is None and stmt.offset is None:
            if stmt.order_desc and has_time:
                out = out.orderBy(F.desc("time"))
            return out
        off = stmt.offset or 0
        if keys and has_time:
            # InfluxQL applies LIMIT per series group
            order = F.desc("time") if stmt.order_desc else F.asc("time")
            w = Window.partitionBy(*keys).orderBy(order)
            out = (
                out.withColumn("_rn", F.row_number().over(w))
                .filter((F.col("_rn") > off)
                        & (F.col("_rn") <= off + (stmt.limit or 1 << 62)))
                .drop("_rn")
            )
            return out
        if has_time:
            out = out.orderBy(F.desc("time") if stmt.order_desc else F.asc("time"))
        if off:
            out = out.offset(off)
        if stmt.limit is not None:
            out = out.limit(stmt.limit)
        return out


    # --- metadata statements (SHOW …) and continuous queries ---

    def _spark(self):
        if self.tables:
            return next(iter(self.tables.values())).sparkSession
        from pyspark.sql import SparkSession

        s = SparkSession.getActiveSession()
        if s is not None:
            return s
        raise InfluxQLError("no measurements registered")

    _FIELD_TYPES = {
        "double": "float", "float": "float",
        "bigint": "integer", "int": "integer",
        "smallint": "integer", "tinyint": "integer",
        "boolean": "boolean", "decimal": "float",
    }

    def _expand_star(self, stmt: Select) -> Select:
        """Expand ``SELECT *`` and ``agg(*)`` against the measurement schema
        (InfluxDB 1.8 wildcard semantics).  A bare ``*`` becomes every tag
        and field column, sorted; ``agg(*)`` becomes one call per FIELD with
        InfluxDB's ``agg_<field>`` output naming (extra args — e.g.
        ``percentile(*, 95)`` — pass through).  Purely syntactic, so the
        expanded statement still routes through tier serving normally."""
        def _has_star(e: Any) -> bool:
            return isinstance(e, (Star, Rex)) or (
                isinstance(e, Call)
                and any(isinstance(a, (Star, Rex)) for a in e.args)
            )

        if not any(_has_star(e) for e, _ in stmt.projections):
            return stmt
        if stmt.measurement not in self.tables:
            raise InfluxQLError(
                "wildcard projections need the measurement's raw schema "
                f"({stmt.measurement!r} is not registered as a table)"
            )
        df = self.tables[stmt.measurement]
        tags = self._tags_of(stmt.measurement)
        fields = [
            c for c, t in df.dtypes
            if c != self.ts_col and c not in tags
            and t.split("(")[0] in self._FIELD_TYPES
        ]
        out: list[tuple[Any, str | None]] = []
        for e, alias in stmt.projections:
            if isinstance(e, Star):
                out.extend((Ref(c), None) for c in sorted(tags + fields))
            elif isinstance(e, Rex):
                # SELECT /re/ matches field keys AND tag keys (1.8 docs)
                hits = [c for c in sorted(tags + fields) if re.search(e.pattern, c)]
                if not hits:
                    raise InfluxQLError(f"no column matches /{e.pattern}/")
                out.extend((Ref(c), None) for c in hits)
            elif isinstance(e, Call) and any(
                isinstance(a, (Star, Rex)) for a in e.args
            ):
                if not isinstance(e.args[0], (Star, Rex)):
                    raise InfluxQLError(
                        f"*/regex must be {e.fname}'s first argument"
                    )
                sel = sorted(fields) if isinstance(e.args[0], Star) else [
                    c for c in sorted(fields)
                    if re.search(e.args[0].pattern, c)
                ]
                if not sel:
                    raise InfluxQLError(
                        f"no field matches {e.fname}'s wildcard/regex"
                    )
                for c in sel:
                    out.append((
                        Call(e.fname, [Ref(c), *e.args[1:]]),
                        f"{alias or e.fname}_{c}",
                    ))
            else:
                out.append((e, alias))
        from dataclasses import replace as _replace

        return _replace(stmt, projections=out)

    def _tags_of(self, name: str) -> list[str]:
        # the engine's tag model: string-typed columns that aren't time
        df = self.tables[name]
        return sorted(n for n, t in df.dtypes if t == "string" and n != self.ts_col)

    _KMV_CARD_K = 1024

    def _kmv_cardinality(self, df: DataFrame, col) -> DataFrame:
        """Estimated cardinality via the engine's deterministic KMV sketch —
        the SAME estimator ``approx_count_distinct()`` and the kmv tiers
        use, rather than HLL++: bit-reproducible across runs, exact below
        k (the sketch IS the value set), and the 60-bit md5 hash has a
        bit-exact DuckDB twin so even the estimate is value-oracle-able.
        Distributed shape: distinct on the hash + global top-k
        (TakeOrdered — per-partition k-min then a driver merge of k·P
        longs)."""
        from influxer_spark.operators.kmv import _HASH_SPACE, _hash60

        k = self._KMV_CARD_K
        top = df.select(_hash60(col).alias("h")).distinct().orderBy("h").limit(k)
        n, kth = top.agg(F.count("*"), F.max("h")).first()
        est = float(n) if n < k else (k - 1) * _HASH_SPACE / float(kth)
        return self._spark().createDataFrame(
            [(int(round(est)),)], "count bigint"
        )

    def execute_statement(self, sql: str) -> DataFrame:
        """SHOW MEASUREMENTS / FIELD KEYS / TAG KEYS / TAG VALUES / DATABASES /
        CONTINUOUS QUERIES, CREATE|DROP CONTINUOUS QUERY — the InfluxQL
        metadata surface over the registered measurements."""
        p = _Parser(sql)
        spark = self._spark()
        if p.kw("SHOW"):
            if p.kw("DATABASES"):
                return spark.createDataFrame(
                    [(d,) for d in sorted(self.databases)], "name string"
                )
            if p.kw("SERIES"):
                # SHOW SERIES [EXACT] CARDINALITY — InfluxQL 1.8's index-size
                # introspection.  EXACT = distributed countDistinct over the
                # series key; estimated = the engine's deterministic KMV
                # sketch (_kmv_cardinality — same estimator as
                # approx_count_distinct() and the kmv tiers).
                exact = p.kw("EXACT", "CARDINALITY")
                approx = (not exact) and p.kw("CARDINALITY")
                m = self._from_measurement(p)
                tags = self._tags_of(m)
                if exact or approx:
                    if not tags:
                        return spark.createDataFrame([(1,)], "count bigint")
                    key = F.concat_ws(
                        ",",
                        F.lit(m),
                        *[F.concat_ws("=", F.lit(t), F.col(t)) for t in tags],
                    )
                    if exact:
                        return self.tables[m].select(
                            F.count_distinct(key).alias("count")
                        )
                    return self._kmv_cardinality(self.tables[m], key)
                # series key = measurement + sorted tag k=v pairs; a
                # distributed distinct over the tag columns (cardinality of
                # series ≪ points, same shape as SHOW TAG VALUES)
                if not tags:
                    return spark.createDataFrame([(m,)], "key string")
                key = F.concat_ws(
                    ",",
                    F.lit(m),
                    *[F.concat_ws("=", F.lit(t), F.col(t)) for t in tags],
                )
                return self.tables[m].select(key.alias("key")).distinct()
            if p.kw("MEASUREMENT") and (
                p.kw("EXACT", "CARDINALITY") or p.kw("CARDINALITY")
            ):
                return spark.createDataFrame(
                    [(len(self.tables),)], "count bigint"
                )
            if p.kw("MEASUREMENTS"):
                return spark.createDataFrame(
                    [(m,) for m in sorted(self.tables)], "name string"
                )
            if p.kw("FIELD", "KEY") and (
                p.kw("EXACT", "CARDINALITY") or p.kw("CARDINALITY")
            ):
                m = self._from_measurement(p)
                tags = set(self._tags_of(m))
                n = sum(
                    1 for c, t in self.tables[m].dtypes
                    if c != self.ts_col and c not in tags
                    and t.split("(")[0] in self._FIELD_TYPES
                )
                return spark.createDataFrame([(n,)], "count bigint")
            if p.kw("TAG", "KEY") and (
                p.kw("EXACT", "CARDINALITY") or p.kw("CARDINALITY")
            ):
                m = self._from_measurement(p)
                return spark.createDataFrame(
                    [(len(self._tags_of(m)),)], "count bigint"
                )
            if p.kw("FIELD", "KEYS"):
                m = self._from_measurement(p)
                tags = set(self._tags_of(m))
                rows = [
                    (n, self._FIELD_TYPES[t.split("(")[0]])
                    for n, t in self.tables[m].dtypes
                    if n != self.ts_col and n not in tags
                    and t.split("(")[0] in self._FIELD_TYPES
                ]
                return spark.createDataFrame(rows, "fieldKey string, fieldType string")
            if p.kw("TAG", "KEYS"):
                m = self._from_measurement(p)
                return spark.createDataFrame(
                    [(t,) for t in self._tags_of(m)], "tagKey string"
                )
            if p.kw("TAG", "VALUES"):
                exact = p.kw("EXACT", "CARDINALITY")
                approx = (not exact) and p.kw("CARDINALITY")
                m = self._from_measurement(p)
                if not (p.kw("WITH") and p.kw("KEY")):
                    raise InfluxQLError("SHOW TAG VALUES needs WITH KEY = <tag>")
                p.expect_op("=")
                key = p.ident()
                if key not in self._tags_of(m):
                    raise InfluxQLError(f"{key!r} is not a tag of {m!r}")
                if exact:
                    return self.tables[m].select(
                        F.count_distinct(F.col(key)).alias("count")
                    )
                if approx:
                    return self._kmv_cardinality(self.tables[m], F.col(key))
                # distributed distinct — tag cardinality ≪ points
                return (
                    self.tables[m]
                    .select(F.lit(key).alias("key"), F.col(key).alias("value"))
                    .distinct()
                )
            if p.kw("SHARDS"):
                # InfluxDB's shard-group introspection mapped onto the
                # engine's storage unit: one row per committed day partition
                # per tier table of every TIERED measurement (day = shard
                # group, immutable v= dir = shard, committed_at = creation).
                import datetime as _dt

                rows = []
                for m, cfg in sorted(self.tiered.items()):
                    cat = cfg["catalog"]
                    for tbl in ("rollup_1m", "rollup_1h", "rollup_1d"):
                        if not cat.exists(tbl):
                            continue
                        for day, e in sorted(
                            cat.committed_partitions(tbl).items()
                        ):
                            d0 = _dt.datetime.fromisoformat(day)
                            rows.append((
                                m, tbl, day, d0, d0 + _dt.timedelta(days=1),
                                e.get("dir", ""),
                                float(e.get("committed_at", 0.0)),
                            ))
                return spark.createDataFrame(
                    rows,
                    "measurement string, table string, shard_group string, "
                    "start_time timestamp, end_time timestamp, "
                    "shard string, committed_at double",
                )
            if p.kw("STATS"):
                # InfluxDB's SHOW STATS mapped onto the engine's storage:
                # one row per catalog table of every tiered measurement —
                # partition count, recorded input rows, retained snapshots,
                # current snapshot id.  Metadata-only (manifest reads).
                rows = []
                for m, cfg in sorted(self.tiered.items()):
                    cat = cfg["catalog"]
                    for tbl in sorted(
                        t for t in (
                            "raw_points", "rollup_1m", "rollup_1m_gorilla",
                            "rollup_1m_counts",
                            "rollup_1h", "rollup_1d", "kmv_1h", "kmv_1d",
                            "hdr_1h", "hdr_1d",
                            "sumsq_1m", "sumsq_1h", "sumsq_1d",
                            "ohlc_1m", "ohlc_1h", "ohlc_1d",
                        )
                        if cat.exists(t)
                    ):
                        parts = cat.committed_partitions(tbl)
                        rows_in = sum(
                            e.get("counters", {}).get("rows_in") or 0
                            for e in parts.values()
                        )
                        rows.append((
                            m, tbl, len(parts), rows_in,
                            len(cat.snapshots(tbl)),
                            cat.current_snapshot(tbl),
                        ))
                return spark.createDataFrame(
                    rows,
                    "measurement string, table string, partitions long, "
                    "rows_in long, snapshots long, current_snapshot long",
                )
            if p.kw("CONTINUOUS", "QUERIES"):
                def _cq_text(c: dict[str, Any]) -> str:
                    pre = ""
                    if c["every"] is not None or c["for"] is not None:
                        pre = "RESAMPLE"
                        if c["every"] is not None:
                            pre += f" EVERY {int(c['every'])}s"
                        if c["for"] is not None:
                            pre += f" FOR {int(c['for'])}s"
                        pre += " "
                    return pre + c["query"]

                return spark.createDataFrame(
                    [(n, _cq_text(c)) for n, c in self.cqs.items()] or [],
                    "name string, query string",
                )
            if p.kw("RETENTION", "POLICIES"):
                return spark.createDataFrame(
                    [
                        (n, "INF" if d is None else f"{int(d)}s", r, dflt)
                        for n, (d, r, dflt) in self.retention.items()
                    ]
                    or [],
                    "name string, duration string, replicaN int, default boolean",
                )
            raise InfluxQLError(f"unsupported SHOW statement: {sql!r}")
        if p.kw("CREATE", "RETENTION", "POLICY") or p.kw("ALTER", "RETENTION", "POLICY"):
            name = p.ident()
            if p.kw("ON"):
                p.ident()
            duration: float | None = None
            replican = 1
            dflt = False
            while True:
                if p.kw("DURATION"):
                    t = p.next()
                    if t.kind == "ident" and t.text.upper() == "INF":
                        duration = None
                    elif t.kind == "duration":
                        duration = parse_duration(t.text)
                    else:
                        raise InfluxQLError(f"bad DURATION at {t.pos}")
                elif p.kw("REPLICATION"):
                    replican = int(p.next().text)
                elif p.kw("SHARD"):
                    p.kw("DURATION")
                    p.next()  # shard duration is a no-op here (no shard groups)
                elif p.kw("DEFAULT"):
                    dflt = True
                else:
                    break
            if dflt:  # single DEFAULT per database
                self.retention = {
                    n: (d, r, False) for n, (d, r, _) in self.retention.items()
                }
            self.retention[name] = (duration, replican, dflt)
            return spark.createDataFrame(
                [(name, "INF" if duration is None else f"{int(duration)}s")],
                "name string, duration string",
            )
        if p.kw("DROP", "RETENTION", "POLICY"):
            name = p.ident()
            if p.kw("ON"):
                p.ident()
            if name not in self.retention:
                raise InfluxQLError(f"unknown retention policy {name!r}")
            del self.retention[name]
            return spark.createDataFrame([(name,)], "dropped string")
        if p.kw("CREATE", "CONTINUOUS", "QUERY"):
            name = p.ident()
            if p.kw("ON"):
                p.ident()  # database name (single-database engine)
            every_s = for_s = None
            if p.kw("RESAMPLE"):
                # RESAMPLE [EVERY <dur>] [FOR <dur>] — run cadence and
                # recompute window for incremental runs (InfluxDB 1.8)
                got = False
                if p.kw("EVERY"):
                    t = p.next()
                    if t.kind != "duration":
                        raise InfluxQLError(f"RESAMPLE EVERY needs a duration at {t.pos}")
                    every_s = parse_duration(t.text)
                    got = True
                if p.kw("FOR"):
                    t = p.next()
                    if t.kind != "duration":
                        raise InfluxQLError(f"RESAMPLE FOR needs a duration at {t.pos}")
                    for_s = parse_duration(t.text)
                    got = True
                if not got:
                    raise InfluxQLError("RESAMPLE needs EVERY and/or FOR")
            m = re.search(r"\bBEGIN\b(.*)\bEND\b\s*;?\s*$", sql, re.I | re.S)
            if not m:
                raise InfluxQLError("CREATE CONTINUOUS QUERY needs BEGIN … END")
            inner = m.group(1).strip()
            if parse(inner).into is None:
                raise InfluxQLError("a continuous query must SELECT … INTO …")
            self.cqs[name] = {
                "query": inner, "every": every_s, "for": for_s,
                "last_end": None,
            }
            self._persist_cqs()
            return spark.createDataFrame([(name, inner)], "name string, query string")
        if p.kw("DROP", "CONTINUOUS", "QUERY"):
            name = p.ident()
            if p.kw("ON"):
                p.ident()
            if name not in self.cqs:
                raise InfluxQLError(f"unknown continuous query {name!r}")
            del self.cqs[name]
            self._persist_cqs()
            return spark.createDataFrame([(name,)], "dropped string")
        if p.kw("CREATE", "DATABASE"):
            name = p.ident()
            self.databases.add(name)
            return spark.createDataFrame([(name,)], "created string")
        if p.kw("DROP", "DATABASE"):
            name = p.ident()
            if name not in self.databases:
                raise InfluxQLError(f"unknown database {name!r}")
            self.databases.discard(name)
            return spark.createDataFrame([(name,)], "dropped string")
        if p.kw("DROP", "MEASUREMENT"):
            name = p.ident()
            if name not in self.tables:
                raise InfluxQLError(f"unknown measurement {name!r}")
            if name in self.tiered:
                # InfluxDB DROP MEASUREMENT deletes all data: metadata-only
                # bulk drop of every persisted tier partition (no scan),
                # time-travelable until expire_snapshots
                self._delete_tiered(name, None)
                del self.tiered[name]
            del self.tables[name]
            return spark.createDataFrame([(name,)], "dropped string")
        if p.kw("DROP", "SERIES"):
            # tag-predicate delete; InfluxDB forbids time bounds here
            if not p.kw("FROM"):
                raise InfluxQLError("DROP SERIES needs FROM <measurement>")
            name = p.ident()
            if name not in self.tables:
                raise InfluxQLError(f"unknown measurement {name!r}")
            if not p.kw("WHERE"):
                raise InfluxQLError("DROP SERIES needs a WHERE tag predicate")
            cond = p.cond()
            if self._mentions_time(cond):
                raise InfluxQLError("DROP SERIES does not accept time predicates")
            self.tables[name] = self.tables[name].filter(~self._cond(cond))
            return spark.createDataFrame([(name,)], "dropped_series_from string")
        if p.kw("DELETE"):
            # DELETE FROM m [WHERE …]: keep the complement on the lazy frame
            # (InfluxDB's tombstones) AND, for a catalog-tiered measurement,
            # row-level COW-delete the matching rows from every persisted
            # tier table in one snapshot each (_delete_tiered)
            if not p.kw("FROM"):
                raise InfluxQLError("DELETE needs FROM <measurement>")
            name = p.ident()
            if name not in self.tables:
                raise InfluxQLError(f"unknown measurement {name!r}")
            cond = p.cond() if p.kw("WHERE") else None
            if name in self.tiered:
                deleted = self._delete_tiered(name, cond)
            else:
                deleted = None
            if cond is not None:
                self.tables[name] = self.tables[name].filter(~self._cond(cond))
            else:
                self.tables[name] = self.tables[name].limit(0)
            if deleted is not None:
                return spark.createDataFrame(
                    [(name, t, int(r["rows_deleted"]))
                     for t, r in sorted(deleted.items())],
                    "deleted_from string, tier_table string, rows_deleted long",
                )
            return spark.createDataFrame([(name,)], "deleted_from string")
        raise InfluxQLError(f"unsupported statement: {sql!r}")

    # every tier family a tiered measurement may have materialized; DELETE
    # must hit them all or the families drift out of sync
    _TIER_TABLES = ("rollup_1m", "rollup_1h", "rollup_1d",
                    "sumsq_1m", "sumsq_1h", "sumsq_1d",
                    "ohlc_1m", "ohlc_1h", "ohlc_1d",
                    "kmv_1h", "kmv_1d", "hdr_1h", "hdr_1d")

    def _delete_tiered(self, name: str, cond: Any) -> dict[str, dict]:
        """``DELETE FROM <tiered measurement>`` against the PERSISTED tier
        tables: tier rows are aggregates, so a row-level delete is exact
        only when the predicate removes WHOLE buckets of every tier —
        i.e. AND-combined (a) time bounds ``time >= 'T'`` / ``time < 'T'``
        aligned to the coarsest tier (day), and (b) tag predicates on the
        tier key columns (a tag selects whole series, bucket-complete by
        construction).  Anything finer is rejected with the fix named
        (recompute via refresh).  Day-aligned bounds also become a
        partition candidate list, so the delete never scans outside the
        requested range — metadata pruning before any job runs."""
        import datetime as dt

        cfg = self.tiered[name]
        cat = cfg["catalog"]
        keyset = set(cfg["key_cols"])
        if isinstance(cond, Bool) and cond.op != "and":
            raise InfluxQLError("tiered DELETE supports AND-only predicates")
        parts = (
            cond.parts if isinstance(cond, Bool) else
            [] if cond is None else [cond]
        )
        pred = None
        lo_day = hi_day = None
        tag_cols: set[str] = set()
        for c in parts:
            if not isinstance(c, Cmp):
                raise InfluxQLError(f"tiered DELETE: unsupported predicate {c!r}")
            if self._is_time(c.left) or self._is_time(c.right):
                left, right, op = c.left, c.right, c.op
                if self._is_time(right):  # literal-on-left form: flip
                    left, right = right, left
                    op = {"<": ">", ">": "<", "<=": ">=", ">=": "<="}[op]
                if not isinstance(right, Str):
                    raise InfluxQLError(
                        "tiered DELETE time bounds must be literal timestamps")
                if op not in (">=", "<"):
                    raise InfluxQLError(
                        "tiered DELETE time bounds must be half-open "
                        "(time >= 'T' and/or time < 'T')")
                t = dt.datetime.fromisoformat(right.value)
                secs = int(t.replace(tzinfo=dt.timezone.utc).timestamp())
                if secs % 86400:
                    raise InfluxQLError(
                        "tiered DELETE time bounds must align to day "
                        "boundaries (the coarsest tier stores whole days); "
                        "for partial-bucket deletes, delete from the raw "
                        "table and refresh the tiers")
                naive = t.replace(tzinfo=None)
                col = (F.col("bucket") >= F.lit(naive)) if op == ">=" \
                    else (F.col("bucket") < F.lit(naive))
                day = naive.strftime("%Y-%m-%d")
                if op == ">=":
                    lo_day = day if lo_day is None else max(lo_day, day)
                else:
                    hi_day = day if hi_day is None else min(hi_day, day)
            elif (isinstance(c.left, Ref) and c.left.name in keyset
                  and isinstance(c.right, Str) and c.op in ("=", "!=")):
                col = (F.col(c.left.name) == c.right.value) if c.op == "=" \
                    else (F.col(c.left.name) != c.right.value)
                tag_cols.add(c.left.name)
            else:
                raise InfluxQLError(
                    f"tiered DELETE supports day-aligned time bounds and tag "
                    f"predicates on {sorted(keyset)}; got {c!r}")
            pred = col if pred is None else (pred & col)
        spark = self._spark()
        # Pre-validate tag predicates against EVERY tier table's recorded
        # schema BEFORE any snapshot commits.  Sketch families (kmv/hdr)
        # may be keyed on a subset of the measurement's tags; their rows
        # aggregate ACROSS the missing tag, so a predicate on it cannot be
        # expressed exactly there — and failing mid-loop would leave the
        # rollup tiers already rewritten while the sketch tiers still hold
        # the series (the drift this method exists to prevent).
        if tag_cols:
            for table in self._TIER_TABLES:
                if not cat.exists(table):
                    continue
                cols = cat.table_columns(table)
                missing = tag_cols - set(cols or ())
                if missing:
                    raise InfluxQLError(
                        f"tiered DELETE: tier table {table!r} does not carry "
                        f"tag column(s) {sorted(missing)} — its rows "
                        f"aggregate across them, so the delete cannot be "
                        f"expressed exactly; drop that table's partitions "
                        f"and refresh it from the raw data instead "
                        f"(no tier was modified)")
        out: dict[str, dict] = {}
        time_only = pred is None or not any(
            isinstance(c, Cmp)
            and not (self._is_time(c.left) or self._is_time(c.right))
            for c in parts
        )
        for table in self._TIER_TABLES:
            if not cat.exists(table):
                continue
            candidates = None
            if lo_day is not None or hi_day is not None:
                candidates = [
                    pv for pv in cat.committed_partitions(table)
                    if (lo_day is None or pv >= lo_day)
                    and (hi_day is None or pv < hi_day)
                ]
            if time_only:
                # whole-partition semantics (no WHERE, or day-aligned time
                # bounds only): a metadata-only bulk drop, NO data scan —
                # what DROP MEASUREMENT / retention must cost at 10^12 rows
                pvs = sorted(
                    cat.committed_partitions(table)
                ) if candidates is None else candidates
                n = cat.drop_partitions(
                    table, pvs, reason=f"InfluxQL DELETE FROM {name}"
                )
                out[table] = {"partitions_dropped": n,
                              "partitions_rewritten": 0, "rows_deleted": -1}
                continue
            out[table] = cat.delete_where(
                spark, table, pred,
                reason=f"InfluxQL DELETE FROM {name}",
                partitions=candidates,
            )
        return out

    def _mentions_time(self, e: Any) -> bool:
        if isinstance(e, Bool):
            return any(self._mentions_time(p) for p in e.parts)
        if isinstance(e, Cmp):
            return self._is_time(e.left) or self._is_time(e.right)
        return False

    def _from_measurement(self, p: "_Parser") -> str:
        if p.kw("FROM"):
            m = p.ident()
        elif len(self.tables) == 1:
            m = next(iter(self.tables))
        else:
            raise InfluxQLError("FROM <measurement> required (several registered)")
        if m not in self.tables:
            raise InfluxQLError(f"unknown measurement {m!r}")
        return m

    def retention_dag(self, tables: dict[str, tuple[str, str | None]]):
        """Bridge the DDL-registered policies onto the engine's retention
        DAG (operators/retention.py): ``tables`` maps policy name →
        (catalog table, dependent tier).  INF-duration policies never
        expire and are omitted.  Feed the result to ``apply_retention``."""
        from influxer_spark.operators.retention import RetentionPolicy

        out = []
        for name, (dur, _r, _d) in self.retention.items():
            if name not in tables or dur is None:
                continue
            table, dep = tables[name]
            out.append(
                RetentionPolicy(table, ttl_days=max(1, int(dur // 86400)), depends_on=dep)
            )
        return out

    def run_continuous_queries(
        self, now: Any = None, force: bool = False
    ) -> dict[str, DataFrame]:
        """Execute the registered CQs.

        ``now=None`` — full recompute of every CQ into its INTO target
        (the backfill run).  ``now=<datetime | iso string>`` — InfluxDB
        1.8 RESAMPLE semantics, the only shape that survives 10^12 rows:
        each CQ recomputes ONLY the fully-elapsed ``GROUP BY time()``
        buckets in the trailing ``RESAMPLE FOR`` window ending at ``now``
        (default window: one run interval), MERGES them into the target
        (window rows replaced, older rows kept — in the session registry
        and, with a catalog attached, in the stored day partitions), and
        is gated by ``RESAMPLE EVERY`` (default: the GROUP BY interval):
        a CQ whose last incremental run is newer than EVERY is skipped
        unless ``force``.  Deviation from InfluxDB, pinned by test: "now"
        is an explicit argument (replayable, deterministic), not the
        server wall clock.
        """
        out: dict[str, DataFrame] = {}
        dirty = False
        for name, cq in self.cqs.items():
            if now is None:
                out[name] = self.execute(cq["query"])
                continue
            df = self._run_cq_incremental(name, cq, now, force)
            if df is not None:
                out[name] = df
                dirty = True
        if dirty:
            self._persist_cqs()
        return out

    def _run_cq_incremental(
        self, name: str, cq: dict[str, Any], now: Any, force: bool
    ) -> "DataFrame | None":
        import datetime as dt
        from dataclasses import replace as _replace

        if isinstance(now, str):
            now = dt.datetime.fromisoformat(now)
        now_s = int(now.replace(tzinfo=dt.timezone.utc).timestamp())
        stmt = parse(cq["query"])
        width = stmt.time_width
        if width is None:
            raise InfluxQLError(
                f"continuous query {name!r} needs GROUP BY time() for "
                "incremental runs"
            )
        w = int(width)
        every = int(cq["every"] or w)
        for_s = int(cq["for"] or max(every, w))
        end = (now_s // w) * w                    # only complete buckets
        n_buckets = max(1, -(-for_s // w))        # ceil(FOR / width)
        lo = end - n_buckets * w
        if not force and cq["last_end"] is not None:
            last = int(
                dt.datetime.fromisoformat(cq["last_end"])
                .replace(tzinfo=dt.timezone.utc).timestamp()
            )
            if end - last < every:
                return None                       # not due yet
        fmt = "%Y-%m-%d %H:%M:%S"
        lo_str = dt.datetime.fromtimestamp(lo, dt.timezone.utc).strftime(fmt)
        end_str = dt.datetime.fromtimestamp(end, dt.timezone.utc).strftime(fmt)
        # epoch-ns Num literals, not Str: a CQ with tz() re-interprets time
        # STRINGS as zone wall-clock, which would shift the window
        bounds = [
            Cmp(">=", Ref("time"), Num(lo * 1e9)),
            Cmp("<", Ref("time"), Num(end * 1e9)),
        ]
        parts = bounds if stmt.where is None else [stmt.where, *bounds]
        inc = _replace(stmt, where=Bool("and", parts), into=None)
        new = self._run(inc)
        if "time" in new.columns and self.ts_col != "time":
            new = new.withColumnRenamed("time", self.ts_col)
        target = stmt.into
        tcol = self.ts_col if self.ts_col in new.columns else None
        outside = (
            None if tcol is None else
            ~(
                (F.col(tcol) >= F.lit(lo_str).cast("timestamp"))
                & (F.col(tcol) < F.lit(end_str).cast("timestamp"))
            )
        )
        old = self.tables.get(target)
        if old is not None and outside is not None and tcol in old.columns:
            merged = old.filter(outside).unionByName(
                new, allowMissingColumns=True
            )
        else:
            merged = new
        self.tables[target] = merged
        if self._cq_catalog is not None and tcol is not None:
            self._merge_cq_storage(target, new, outside, tcol)
        cq["last_end"] = dt.datetime.fromtimestamp(
            end, dt.timezone.utc
        ).replace(tzinfo=None).isoformat()
        return new

    def _merge_cq_storage(
        self, target: str, new: DataFrame, outside: Column, tcol: str
    ) -> None:
        """Merge an incremental CQ result into the stored ``into_<target>``
        day partitions: only days the window touches are rewritten, and a
        rewritten day keeps its rows OUTSIDE the window (the window may
        start or end mid-day) — the wave commit then replaces exactly
        those partitions atomically."""
        cat = self._cq_catalog
        table = f"into_{target}"
        staged = new.withColumn(
            "day", F.date_format(F.col(tcol), "yyyy-MM-dd")
        )
        days = [r["day"] for r in staged.select("day").distinct().collect()]
        if not days:
            return
        committed = (
            set(cat.committed_partitions(table)) if cat.exists(table) else set()
        )
        present = sorted(set(days) & committed)
        if present:
            spark = self._spark()
            old = (
                cat.read_partitions_with_key(spark, table, present)
                .withColumnRenamed("p", "day")
                .filter(outside)
            )
            staged = old.unionByName(staged, allowMissingColumns=True)
        cat.write_partitions(staged, table, days)


def influxql(sql: str, tables: dict[str, DataFrame], ts_col: str = "ts") -> DataFrame:
    """One-shot convenience: run an InfluxQL statement over named DataFrames."""
    return InfluxQLEngine(tables, ts_col=ts_col).execute(sql)
