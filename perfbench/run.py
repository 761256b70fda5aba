"""Benchmark of the influxer_spark engine.

Run from the root of a checkout:

    python3 perfbench/run.py --workload pipeline_cold --seed 1 --seconds 12 --trace 0

Starts one Spark session at local[<usable cores>] with a fixed driver heap,
builds the workload's seeded inputs (timed as ``setup_s``), repeats the
workload's cycle for ``--seconds`` seconds, checks every operation's
output, and prints one JSON object as its last line:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

``--trace 0`` reports the end-to-end metrics; ``--trace 1`` turns on the
Spark event log and the layer spans and reports the per-layer metrics.
Everything the run writes lives under ``.perfbench-work/`` in the checkout
and is removed when it ends.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import sys
import tempfile
import threading
import time

ROOT = os.getcwd()
HERE = os.path.dirname(os.path.abspath(__file__))
DRIVER_HEAP = "3g"


def metric_units(kind: str) -> dict[str, str]:
    """Name to unit of BENCHMARK.json's ``end_to_end`` or ``per_layer``
    metrics, in its order."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return {m["name"]: m["unit"] for m in json.load(f)[kind]}


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for pid in os.listdir("/proc"):
        if not pid.isdigit():
            continue
        try:
            with open(f"/proc/{pid}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids.setdefault(ppid, []).append(int(pid))
    return kids


def process_tree(root: int) -> list[int]:
    kids, out, todo = _children(), [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, []))
    return out


def pss_mb(pids: list[int]) -> float:
    """Summed proportional set size: resident pages, with pages shared by
    forked Python workers split among them instead of counted in each."""
    total = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/smaps_rollup") as f:
                for line in f:
                    if line.startswith("Pss:"):
                        total += int(line.split()[1])
                        break
        except OSError:
            continue
    return total / 1024


class MemorySampler:
    """Samples the resident memory of this process tree (driver, JVM,
    Python workers) every ``period`` seconds; ``peak`` is the largest sum
    seen since the last :meth:`reset`."""

    def __init__(self, period: float = 0.5):
        self.period = period
        self.peak = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        while not self._stop.wait(self.period):
            self.peak = max(self.peak, pss_mb(process_tree(os.getpid())))

    def start(self) -> None:
        self._thread.start()

    def reset(self) -> None:
        self.peak = pss_mb(process_tree(os.getpid()))

    def stop(self) -> None:
        self._stop.set()
        self._thread.join(timeout=5)


def steal_s() -> float:
    """CPU seconds the host has taken from this machine's cores since boot."""
    with open("/proc/stat") as f:
        return int(f.readline().split()[8]) / os.sysconf("SC_CLK_TCK")


def usable_cores() -> int:
    return len(os.sched_getaffinity(0))


def pin_environment(work: str) -> None:
    """Keep every file the run writes inside ``work`` and let Python workers
    import the package from any working directory."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp  # in case a library already resolved the default
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, HERE, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["PYTHONDONTWRITEBYTECODE"] = "1"
    os.environ["SPARK_DRIVER_MEMORY"] = DRIVER_HEAP
    os.environ["SPARK_GRAFT_WAREHOUSE"] = os.path.join(work, "warehouse")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    for knob in ("SPARK_GRAFT_WAVE_REUSE", "SPARK_GRAFT_EXTRACT_IMPL",
                 "SPARK_GRAFT_MASTER"):
        os.environ.pop(knob, None)


def start_spark(work: str, cores: int, trace: bool):
    from influxer_spark.session import get_spark

    # a fixed young generation makes the heap's footprint, and so
    # peak_rss_mb, repeat from run to run
    java_opts = (
        f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} -XX:-UsePerfData "
        "-Xms1g -Xmn512m"
    )
    conf = {
        "spark.local.dir": os.environ["SPARK_LOCAL_DIRS"],
        "spark.driver.extraJavaOptions": java_opts,
        "spark.executorEnv.PYTHONPATH": os.environ["PYTHONPATH"],
        "spark.ui.showConsoleProgress": "false",
    }
    if trace:
        log_dir = os.path.join(work, "eventlog")
        os.makedirs(log_dir)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.compress": "false",
            "spark.eventLog.dir": log_dir,
        })
    spark = get_spark("perfbench", cores=cores, extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark, timeout: float = 60) -> None:
    """Stop the session and its JVM, and wait until every process the run
    started has ended."""
    from pyspark import SparkContext

    started = set(process_tree(os.getpid())) - {os.getpid()}
    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=timeout)
            except Exception:  # noqa: BLE001 — a hung JVM is killed below
                proc.kill()
                proc.wait(timeout=timeout)
    deadline = time.time() + timeout
    while started and time.time() < deadline:
        started = {p for p in started if os.path.exists(f"/proc/{p}")}
        time.sleep(0.1)
    for pid in started:
        try:
            os.kill(pid, signal.SIGKILL)
        except OSError:
            pass


def install_spans(tr) -> None:
    """Spans and counters around the program's public layer functions."""
    from influxer_spark import pipeline
    from influxer_spark.catalog import TableCatalog
    from influxer_spark.operators import hdrsketch

    tr.wrap_span(pipeline, "process_days", "pipeline.wave")
    tr.wrap_span(
        TableCatalog, "write_partitions",
        lambda self, df, name, *a, **kw: f"sink.{name}",
    )
    tr.wrap_span(hdrsketch, "build_hdr_tiers", "hdrsketch.build")
    tr.wrap_timer(TableCatalog, "read_manifest", "manifest_read")

    def compact_partition(orig):
        def call(*a, **kw):
            res = orig(*a, **kw)
            if res.get("compacted"):
                tr.count("compacted_mb", res["bytes"] / 2**20)
            return res
        return call

    tr.wrap(TableCatalog, "compact_partition", compact_partition)


def end_to_end(wl, setup_s: float, peak_rss: float) -> dict[str, float]:
    def med(xs: list[float]) -> float:  # 0 when every operation failed
        return statistics.median(xs) if xs else 0.0

    return {
        "setup_s": setup_s,
        # points over the summed wall of the run's waves or refreshes
        "points_per_s": sum(wl.ingest_points) / sum(wl.ingest_s) if wl.ingest_s else 0.0,
        "query_p50_ms": med(wl.stmt_ms),
        "catalog_bytes_per_point": med(wl.catalog_bpp),
        "archive_bytes_per_point": med(wl.archive_bpp),
        "peak_rss_mb": peak_rss,
    }


def main(argv: list[str] | None = None) -> int:
    t_start = time.perf_counter()  # set-up includes importing the program
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "influxer_spark", "__init__.py")):
        print("perfbench: run from the root of an influxer_spark checkout",
              file=sys.stderr)
        return 2
    sys.dont_write_bytecode = True
    sys.path[:0] = [ROOT, HERE]
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"choose from {sorted(WORKLOADS)}", file=sys.stderr)
        return 2

    work = os.path.join(ROOT, ".perfbench-work", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    pin_environment(work)
    sampler = MemorySampler()
    sampler.start()
    spark = None
    try:
        import pyspark

        from tracing import Tracer, attribute_stages

        cores = usable_cores()
        trace = bool(args.trace)
        spark = start_spark(work, cores, trace)
        tracer = Tracer(spark.sparkContext, enabled=trace)
        if trace:
            install_spans(tracer)
        wl = WORKLOADS[args.workload](spark, tracer, work, args.seed)
        wl.setup()
        setup_s = time.perf_counter() - t_start

        sampler.reset()
        steal0, t0 = steal_s(), time.perf_counter()
        while True:
            wl.cycle()
            if time.perf_counter() - t0 >= args.seconds or wl.failed:
                break
        peak_rss = sampler.peak
        if trace:
            wl.trace_extras()
        tracer.unwrap_all()
        values = end_to_end(wl, setup_s, peak_rss)
        print(json.dumps({
            "workload": args.workload, "seed": args.seed, "cores": cores,
            "driver_heap": DRIVER_HEAP, "spark": pyspark.__version__,
            "trace": args.trace, "clients": 1,
            "measured_s": round(time.perf_counter() - t0, 3),
            "steal_s": round(steal_s() - steal0, 2),
            "statements": len(wl.stmt_ms), "ingest_ops": len(wl.ingest_s),
            "error_rate": wl.failed / max(wl.attempted, 1),
        }))
        stop_spark(spark)
        spark = None
        if trace:
            from layers import per_layer

            attribute_stages(tracer, os.path.join(work, "eventlog"))
            units = metric_units("per_layer")
            # trace.<metric> is an end-to-end figure measured with tracing on
            values = {
                **per_layer(tracer, wl, cores, list(units)),
                **{f"trace.{k}": v for k, v in values.items() if f"trace.{k}" in units},
            }
        else:
            units = metric_units("end_to_end")
        print(json.dumps({
            "correct": wl.failed == 0,
            "attempted": wl.attempted,
            "failed": wl.failed,
            "metrics": {
                k: {"value": values[k], "unit": u} for k, u in units.items()
            },
        }))
        return 0
    finally:
        if spark is not None:
            stop_spark(spark)
        sampler.stop()
        shutil.rmtree(work, ignore_errors=True)
        parent = os.path.dirname(work)
        if os.path.isdir(parent) and not os.listdir(parent):
            os.rmdir(parent)


if __name__ == "__main__":
    sys.exit(main())
