"""Layer-call timing, Spark job/stage accounting and spans.

Every call the benchmark makes into one of the engine's layers goes through
`Recorder.call`: it times DataFrame construction (`build_s`, where the
iterative operators do their eager work) apart from the action that
collects the result (`action_s`).  With tracing on, the call also records a
span (name, start, end, parent) and reads Spark's own accounting for the
jobs and stages the call ran: the DAG scheduler's job and stage id counters
before and after the call, and each new stage's task time, input, shuffle
and spill bytes from the driver's status store.  Spans stay in memory until
the run writes them out.

The layers are the engine's modules (`LAYERS`); a span's parent chain is
workload -> op -> layer call.
"""

from __future__ import annotations

import time
from collections import defaultdict
from collections.abc import Callable
from contextlib import contextmanager
from typing import Any

from py4j.protocol import Py4JJavaError

LAYERS = (
    "session",
    "sources.graph",
    "sources.edge_layout",
    "plans.engine",
    "operators.traversal",
    "traversal_api",
    "operators.analytics",
    "functions.dedup",
    "functions.similarity",
    "functions.bpe",
    "functions.unigram",
)

# per-call counters every layer reports (core_util is derived from them)
COUNTERS = ("build_s", "action_s", "jobs", "stages", "task_s",
            "shuffle_mb", "spill_mb", "input_mb")

# layer-specific metrics: set by the workloads, not summed from calls
EXTRA = (
    "session.start_s",
    "sources.graph.cache_build_s",
    "sources.edge_layout.materialize_s",
    "sources.edge_layout.buckets_rewritten",
    "sources.edge_layout.bytes_written_mb",
    "sources.edge_layout.write_amp",
    "sources.edge_layout.space_amp",
)

_MB = 1024.0 * 1024.0


def per_layer_names() -> list[str]:
    """Every per-layer metric name the traced run reports, in order."""
    names = [f"{layer}.{c}" for layer in LAYERS for c in COUNTERS + ("core_util",)]
    return names + list(EXTRA)


class SparkCounters:
    """Job, stage and task accounting for the calls of one driver, read
    through the JVM gateway.  `mark()` before a call, `since(mark)` after."""

    def __init__(self, spark):
        sc = spark.sparkContext._jsc.sc()
        self._dag = sc.dagScheduler()
        self._bus = sc.listenerBus()
        self._store = sc.statusStore()
        self._process = spark._jvm.java.lang.ProcessHandle

    def next_job(self) -> int:
        return self._dag.nextJobId()

    def mark(self) -> tuple[int, int]:
        return self._dag.nextJobId(), self._dag.nextStageId()

    def cpu_s(self) -> float:
        """CPU seconds used so far by this Python driver, the driver JVM and
        the processes the JVM started (the Python workers)."""
        jvm = self._process.current()
        ns = 0
        for p in [jvm, *jvm.descendants().toArray()]:
            d = p.info().totalCpuDuration()
            if d.isPresent():
                ns += d.get().toNanos()
        return time.process_time() + ns / 1e9

    def since(self, mark: tuple[int, int]) -> dict[str, float]:
        jobs0, stage0 = mark
        # task-end events reach the status store through the listener bus;
        # drain it so the last stage's metrics are complete
        self._bus.waitUntilEmpty()
        jobs1, stage1 = self.mark()
        out = {"jobs": jobs1 - jobs0, "stages": 0, "task_s": 0.0,
               "shuffle_mb": 0.0, "spill_mb": 0.0, "input_mb": 0.0}
        for sid in range(stage0, stage1):
            try:
                s = self._store.lastStageAttempt(sid)
            except Py4JJavaError:  # never submitted: nothing to account
                continue
            if s.status().toString() == "SKIPPED":
                continue
            out["stages"] += 1
            out["task_s"] += s.executorRunTime() / 1000.0
            out["shuffle_mb"] += s.shuffleWriteBytes() / _MB
            out["spill_mb"] += s.diskBytesSpilled() / _MB
            out["input_mb"] += s.inputBytes() / _MB
        return out


class Recorder:
    """Times layer calls and counts the Spark jobs they submit; with
    `trace` on it also records spans and per-layer counters."""

    def __init__(self, counters: SparkCounters, cores: int, trace: bool):
        self.counters = counters
        self.cores = cores
        self.enabled = trace
        self.spans: list[dict[str, Any]] = []
        self._stack: list[int] = []
        self._t0 = time.perf_counter()
        self.layer_totals: dict[str, dict[str, float]] = defaultdict(
            lambda: defaultdict(float))
        self.trace_s = 0.0  # time spent reading counters (tracing overhead)
        self.jobs = 0       # Spark jobs submitted by the calls

    def reset_totals(self) -> None:
        self.layer_totals.clear()
        self.trace_s = 0.0
        self.jobs = 0

    @contextmanager
    def span(self, name: str, **attrs):
        """A span with no layer counters of its own (workload, pass, op)."""
        if not self.enabled:
            yield
            return
        sid = self._open(name, attrs)
        try:
            yield
        finally:
            self._close(sid)

    def _open(self, name: str, attrs: dict) -> int:
        sid = len(self.spans)
        self.spans.append({
            "id": sid, "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "start": time.perf_counter() - self._t0, **attrs})
        self._stack.append(sid)
        return sid

    def _close(self, sid: int) -> None:
        self._stack.pop()
        self.spans[sid]["end"] = time.perf_counter() - self._t0

    def call(self, layer: str, name: str, build: Callable[[], Any],
             action: Callable[[Any], Any] | None = None) -> tuple[Any, float]:
        """Run `build()` then `action(result)`; returns (result, seconds of
        build + action)."""
        if not self.enabled:
            job0 = self.counters.next_job()
            t0 = time.perf_counter()
            obj = build()
            out = action(obj) if action else obj
            secs = time.perf_counter() - t0
            self.jobs += self.counters.next_job() - job0
            return out, secs
        sid = self._open(f"{layer}:{name}", {"layer": layer})
        mark = self.counters.mark()
        t0 = time.perf_counter()
        try:
            obj = build()
            t1 = time.perf_counter()
            out = action(obj) if action else obj
            t2 = time.perf_counter()
        finally:
            self._close(sid)
        c = self.counters.since(mark)
        c.update(build_s=t1 - t0, action_s=t2 - t1)
        self.trace_s += time.perf_counter() - t2
        self.jobs += c["jobs"]
        self.spans[sid].update(c)
        tot = self.layer_totals[layer]
        for k, v in c.items():
            tot[k] += v
        return out, t2 - t0

    def add(self, metric: str, value: float) -> None:
        """Accumulate a layer-specific metric (one of EXTRA)."""
        layer, _, key = metric.rpartition(".")
        self.layer_totals[layer][key] += value

    def per_layer(self) -> dict[str, float]:
        """Every per-layer metric from the accumulated totals (set-up
        metrics in EXTRA read 0 here; the runner fills them in)."""
        out: dict[str, float] = {}
        for layer in LAYERS:
            tot = self.layer_totals.get(layer, {})
            for c in COUNTERS:
                out[f"{layer}.{c}"] = float(tot.get(c, 0.0))
            wall = tot.get("build_s", 0.0) + tot.get("action_s", 0.0)
            out[f"{layer}.core_util"] = (
                tot.get("task_s", 0.0) / (wall * self.cores) if wall else 0.0)
        for m in EXTRA:
            layer, _, key = m.rpartition(".")
            out[m] = float(self.layer_totals.get(layer, {}).get(key, 0.0))
        return out
