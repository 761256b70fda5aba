"""Spans around calls into the program's layers, and Spark stage metrics
attributed to them from the event log.

Every span sets the Spark job group of its calling thread to the span id.
PySpark's pinned-thread mode keeps job groups per thread, so jobs that the
pipeline submits from its sink thread pool land in the sink span that
submitted them.  After the session stops, :func:`attribute_stages` reads
``SparkListenerJobStart`` properties and the accumulables of each completed
stage from the uncompressed event log and charges them to the span whose id
the job carries (or, for a job without a group, to the innermost span open
when it was submitted).
"""

from __future__ import annotations

import contextlib
import functools
import itertools
import json
import os
import threading
import time
from dataclasses import dataclass, field
from typing import Any, Callable

STAGE_FIELDS = {
    "internal.metrics.executorRunTime": ("executor_s", 1e-3),
    "internal.metrics.executorCpuTime": ("cpu_s", 1e-9),
    "internal.metrics.jvmGCTime": ("gc_s", 1e-3),
    "internal.metrics.shuffle.write.bytesWritten": ("shuffle_write_mb", 1 / 2**20),
    "internal.metrics.diskBytesSpilled": ("spill_mb", 1 / 2**20),
    "internal.metrics.input.bytesRead": ("input_mb", 1 / 2**20),
    "internal.metrics.input.recordsRead": ("input_rows", 1),
}


@dataclass
class Span:
    id: str
    name: str
    parent: Span | None
    t0: float
    t1: float | None = None
    attrs: dict[str, Any] = field(default_factory=dict)
    stages: dict[str, float] = field(default_factory=dict)
    jobs: int = 0

    @property
    def wall_s(self) -> float:
        return (self.t1 or time.time()) - self.t0

    def add(self, key: str, value: float) -> None:
        self.attrs[key] = self.attrs.get(key, 0.0) + value


class Tracer:
    """Span recorder.  A disabled tracer records nothing and sets no job
    groups, so the untraced run pays no tracing cost."""

    def __init__(self, sc: Any = None, enabled: bool = False):
        self.sc = sc
        self.enabled = enabled
        self.spans: list[Span] = []
        self._ids = itertools.count()
        self._local = threading.local()
        self._main = threading.main_thread()
        self._main_stack: list[Span] = []
        self._patches: list[tuple[Any, str, Any]] = []

    def _stack(self) -> list[Span]:
        if threading.current_thread() is self._main:
            return self._main_stack
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def current(self) -> Span | None:
        """Innermost open span of this thread; a worker thread with none
        open inherits the main thread's innermost span as its parent."""
        stack = self._stack()
        if stack:
            return stack[-1]
        return self._main_stack[-1] if self._main_stack else None

    @contextlib.contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield None
            return
        s = Span(f"pb-{next(self._ids)}", name, self.current(), time.time())
        self.spans.append(s)
        stack = self._stack()
        prev = self.sc.getLocalProperty("spark.jobGroup.id")
        stack.append(s)
        self.sc.setLocalProperty("spark.jobGroup.id", s.id)
        try:
            yield s
        finally:
            s.t1 = time.time()
            stack.pop()
            self.sc.setLocalProperty("spark.jobGroup.id", prev)

    def count(self, key: str, value: float = 1.0) -> None:
        """Add ``value`` to ``key`` on the innermost open span."""
        s = self.current() if self.enabled else None
        if s is not None:
            s.add(key, value)

    # -- wrapping the program's public functions -------------------------

    def wrap(self, owner: Any, attr: str, wrapper: Callable) -> None:
        """Replace ``owner.attr`` by ``wrapper(original)`` until
        :meth:`unwrap_all`."""
        orig = getattr(owner, attr)
        self._patches.append((owner, attr, orig))
        setattr(owner, attr, functools.wraps(orig)(wrapper(orig)))

    def wrap_span(self, owner: Any, attr: str, name: Callable[..., str] | str) -> None:
        """Run every call of ``owner.attr`` inside a span."""

        def wrapper(orig):
            def call(*a, **kw):
                label = name(*a, **kw) if callable(name) else name
                with self.span(label):
                    return orig(*a, **kw)
            return call

        self.wrap(owner, attr, wrapper)

    def wrap_timer(self, owner: Any, attr: str, key: str) -> None:
        """Count calls of ``owner.attr`` and their seconds on the caller's
        innermost span (``<key>`` and ``<key>_s``)."""

        def wrapper(orig):
            def call(*a, **kw):
                t0 = time.perf_counter()
                try:
                    return orig(*a, **kw)
                finally:
                    self.count(key)
                    self.count(f"{key}_s", time.perf_counter() - t0)
            return call

        self.wrap(owner, attr, wrapper)

    def unwrap_all(self) -> None:
        for owner, attr, orig in reversed(self._patches):
            setattr(owner, attr, orig)
        self._patches.clear()

    # -- derived quantities ----------------------------------------------

    def children(self, s: Span) -> list[Span]:
        return [c for c in self.spans if c.parent is s]

    def descendants(self, s: Span) -> list[Span]:
        out, todo = [], self.children(s)
        while todo:
            c = todo.pop()
            out.append(c)
            todo.extend(self.children(c))
        return out

    def self_s(self, s: Span) -> float:
        """Span wall minus the part of its interval its children cover."""
        ivs = sorted(
            (max(c.t0, s.t0), min(c.t1 or s.t1, s.t1))
            for c in self.children(s)
        )
        covered, end = 0.0, s.t0
        for a, b in ivs:
            a = max(a, end)
            if b > a:
                covered += b - a
                end = b
        return s.wall_s - covered

    def inclusive(self, s: Span, key: str) -> float:
        return s.stages.get(key, 0.0) + sum(
            d.stages.get(key, 0.0) for d in self.descendants(s)
        )

    def inclusive_jobs(self, s: Span) -> int:
        return s.jobs + sum(d.jobs for d in self.descendants(s))

    def named(self, name: str) -> list[Span]:
        return [s for s in self.spans if s.name == name]


def _events(log_dir: str):
    for root, _, files in os.walk(log_dir):
        for fn in sorted(files):
            with open(os.path.join(root, fn), errors="replace") as f:
                for line in f:
                    line = line.strip()
                    if line.startswith("{"):
                        yield json.loads(line)


def attribute_stages(tracer: Tracer, log_dir: str) -> None:
    """Charge every completed stage's metrics, and every job, to a span."""
    by_id = {s.id: s for s in tracer.spans}
    stage_span: dict[int, Span] = {}

    def innermost_at(t: float) -> Span | None:
        open_ = [s for s in tracer.spans if s.t0 <= t <= (s.t1 or t)]
        return max(open_, key=lambda s: s.t0, default=None)

    for ev in _events(log_dir):
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            props = ev.get("Properties") or {}
            span = by_id.get(props.get("spark.jobGroup.id")) or innermost_at(
                ev.get("Submission Time", 0) / 1000
            )
            if span is None:
                continue
            span.jobs += 1
            for sid in ev.get("Stage IDs", []):
                stage_span.setdefault(sid, span)
        elif kind == "SparkListenerStageCompleted":
            info = ev["Stage Info"]
            span = stage_span.get(info["Stage ID"])
            if span is None:
                continue
            span.stages["stages"] = span.stages.get("stages", 0) + 1
            span.stages["tasks"] = (
                span.stages.get("tasks", 0) + info.get("Number of Tasks", 0)
            )
            for acc in info.get("Accumulables", []):
                f = STAGE_FIELDS.get(acc.get("Name"))
                if f is None:
                    continue
                key, scale = f
                span.stages[key] = (
                    span.stages.get(key, 0.0) + float(acc.get("Value", 0)) * scale
                )
