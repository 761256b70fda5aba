"""Per-layer metrics of a traced run, from the spans and the stage metrics
attributed to them.  Every workload reports every metric; a layer the
workload does not run reads 0.  Times and sizes are per operation of the
layer's kind (per wave, per refresh, per maintain sweep, per warm
statement)."""

from __future__ import annotations

from tracing import Span, Tracer

SINKS = (
    "raw_points", "rollup_1m", "rollup_1h", "rollup_1d",
    "rollup_1m_gorilla", "rollup_1m_counts",
)
ROUTES = ("tier", "hdr", "raw", "tail")


def _mean(xs) -> float:
    xs = list(xs)
    return sum(xs) / len(xs) if xs else 0.0


def _timed(tr: Tracer, name: str) -> list[Span]:
    """Spans called ``name`` outside set-up."""
    out = []
    for s in tr.named(name):
        p = s.parent
        while p is not None and not p.name.startswith("setup."):
            p = p.parent
        if p is None:
            out.append(s)
    return out


def _within(tr: Tracer, outer: list[Span], name: str) -> list[Span]:
    ids = {id(d) for o in outer for d in tr.descendants(o)}
    return [s for s in tr.named(name) if id(s) in ids]


def per_layer(tr: Tracer, wl, cores: int, names: list[str]) -> dict[str, float]:
    """The metrics ``names`` (BENCHMARK.json's per-layer list)."""
    m = dict.fromkeys(names, 0.0)
    for k, xs in wl.layer.items():
        m[k] = _mean(xs)

    waves = _timed(tr, "pipeline.wave")
    if waves:
        n = len(waves)
        for t in SINKS:
            spans = _within(tr, waves, f"sink.{t}")
            m[f"sink.{t}.wall_s"] = sum(s.wall_s for s in spans) / n
            for k in ("cpu_s", "shuffle_write_mb", "spill_mb"):
                m[f"sink.{t}.{k}"] = sum(tr.inclusive(s, k) for s in spans) / n
        wave_s = _mean(w.wall_s for w in waves)
        m["pipeline.wave_s"] = wave_s
        m["pipeline.self_s"] = _mean(tr.self_s(w) for w in waves)
        for k in ("executor_s", "cpu_s", "gc_s", "stages", "tasks"):
            m[f"pipeline.{k}"] = _mean(tr.inclusive(w, k) for w in waves)
        m["pipeline.jobs"] = _mean(tr.inclusive_jobs(w) for w in waves)
        m["pipeline.core_util"] = m["pipeline.executor_s"] / (wave_s * cores)

    sweeps = _timed(tr, "maintain")
    if sweeps:
        n = len(sweeps)
        for key, name in (("catalog.compact_s", "catalog.compact"),
                          ("catalog.expire_s", "catalog.expire"),
                          ("catalog.vacuum_s", "catalog.vacuum"),
                          ("retention.apply_s", "retention.apply")):
            m[key] = sum(s.wall_s for s in _within(tr, sweeps, name)) / n
        m["catalog.compact_rewritten_mb"] = sum(
            s.attrs.get("compacted_mb", 0.0)
            for s in _within(tr, sweeps, "catalog.compact")
        ) / n
        m["retention.partitions_dropped"] = sum(
            s.attrs.get("partitions_dropped", 0)
            for s in _within(tr, sweeps, "retention.apply")
        ) / n

    refreshes = _timed(tr, "refresh")
    if refreshes:
        m["hdrsketch.build_s"] = sum(
            s.wall_s for s in _within(tr, refreshes, "hdrsketch.build")
        ) / len(refreshes)
        m["refresh.jobs"] = _mean(tr.inclusive_jobs(r) for r in refreshes)
        m["refresh.detect_s"] = _mean(
            min((w.t0 for w in _within(tr, [r], "pipeline.wave")), default=r.t1)
            - r.t0
            for r in refreshes
        )

    stmts = [s for s in _timed(tr, "stmt") if s.attrs.get("warm")]
    if stmts:
        m["catalog.manifest_reads"] = _mean(s.attrs.get("manifest_read", 0) for s in stmts)
        m["catalog.manifest_read_ms"] = _mean(
            s.attrs.get("manifest_read_s", 0.0) * 1000 for s in stmts
        )
        m["influxql.parse_ms"] = _mean(s.attrs["parse_ms"] for s in stmts)
        m["influxql.plan_ms"] = _mean(s.attrs["plan_ms"] for s in stmts)
        m["influxql.jobs_per_stmt"] = _mean(tr.inclusive_jobs(s) for s in stmts)
        m["influxql.tier_served_ratio"] = _mean(
            s.attrs["route"] in ("tier", "hdr") for s in stmts
        )
        for r in ROUTES:
            m[f"influxql.exec_ms.{r}"] = _mean(
                s.attrs["exec_ms"] for s in stmts if s.attrs["route"] == r
            )
        rows_out = sum(s.attrs["rows_out"] for s in stmts)
        m["query.input_mb_per_stmt"] = _mean(tr.inclusive(s, "input_mb") for s in stmts)
        m["query.rows_read_per_row_out"] = (
            sum(tr.inclusive(s, "input_rows") for s in stmts) / rows_out
            if rows_out else 0.0
        )
        m["query.cpu_ms_per_stmt"] = _mean(tr.inclusive(s, "cpu_s") * 1000 for s in stmts)
        m["query.shuffle_mb_per_stmt"] = _mean(
            tr.inclusive(s, "shuffle_write_mb") for s in stmts
        )

    return {k: m[k] for k in names}
