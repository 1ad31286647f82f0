"""Traced-run instruments: in-memory spans and Spark status-store readouts.

Spans are recorded only in the benchmark's own files, around calls into
each layer's public functions (``Tracer.wrap`` swaps a module attribute
for a timing wrapper and puts it back afterwards). After each pass,
``StatusReader`` reads what Spark kept about the pass in its in-process
status stores: stage task metrics from the application store and
plan-node metrics from the SQL store. Both are populated with
``spark.ui.enabled=false``.
"""

from __future__ import annotations

import functools
import json
import re
import threading
import time
from contextlib import contextmanager, nullcontext
from typing import Any, Callable, Iterator


class Tracer:
    """Spans (name, start, end, parent, run id) kept in memory."""

    def __init__(self, run_id: str) -> None:
        self.run_id = run_id
        self.spans: list[dict[str, Any]] = []
        self._local = threading.local()
        self._lock = threading.Lock()
        self._patched: list[tuple[Any, str, Any]] = []

    @contextmanager
    def span(self, name: str) -> Iterator[dict[str, Any]]:
        stack = self._local.__dict__.setdefault("stack", [])
        rec = {
            "name": name,
            "start": time.perf_counter(),
            "end": None,
            "wall_start_ms": time.time() * 1000.0,
            "wall_end_ms": None,
            "parent": stack[-1] if stack else None,
            "run": self.run_id,
        }
        with self._lock:
            rec["id"] = len(self.spans)
            self.spans.append(rec)
        stack.append(rec["id"])
        try:
            yield rec
        finally:
            stack.pop()
            rec["end"] = time.perf_counter()
            rec["wall_end_ms"] = time.time() * 1000.0

    def wrap(
        self, owner: Any, attr: str, name: str, before: Callable[[], None] | None = None
    ) -> None:
        """Record a span around every call of ``owner.attr``; ``before``
        runs first, inside the span."""
        original = getattr(owner, attr)

        @functools.wraps(original)
        def traced(*args, **kwargs):
            with self.span(name):
                if before is not None:
                    before()
                return original(*args, **kwargs)

        self._patched.append((owner, attr, original))
        setattr(owner, attr, traced)

    def defer(self, undo: Callable[[], None]) -> None:
        """Run ``undo`` when the instruments come off."""
        self._patched.append((None, "", undo))

    def unwrap_all(self) -> None:
        while self._patched:
            owner, attr, original = self._patched.pop()
            if owner is None:
                original()
            else:
                setattr(owner, attr, original)

    def durations_ms(self, name: str, since: int = 0) -> list[float]:
        return [
            (s["end"] - s["start"]) * 1000.0
            for s in self.spans[since:]
            if s["name"] == name and s["end"] is not None
        ]

    def windows_ms(self, prefix: str, since: int = 0) -> list[tuple[float, float]]:
        """Wall-clock (start, end) of finished spans whose name starts with ``prefix``."""
        return [
            (s["wall_start_ms"], s["wall_end_ms"])
            for s in self.spans[since:]
            if s["name"].startswith(prefix) and s["wall_end_ms"] is not None
        ]

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump({"run": self.run_id, "spans": self.spans}, f)


_SIZE = {"B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30, "TiB": 1 << 40}
_TIME_MS = {"ns": 1e-6, "ms": 1.0, "s": 1e3, "m": 6e4, "h": 3.6e6}
_VALUE = re.compile(r"^\s*([-\d.,]+)\s*([A-Za-z]*)")


def parse_metric(text: str) -> float:
    """A formatted SQL metric ('1,000', '16.1 MiB', '2.1 s', or the
    'total (min, med, max ...)' form) as bytes, milliseconds or a count."""
    line = text.split("\n", 1)[1] if "\n" in text else text
    m = _VALUE.match(line)
    if not m:
        return 0.0
    value = float(m.group(1).replace(",", ""))
    unit = m.group(2)
    if unit in _SIZE:
        return value * _SIZE[unit]
    return value * _TIME_MS.get(unit, 1.0)


class StatusReader:
    """What Spark's status stores recorded since the last ``mark``."""

    def __init__(self, spark) -> None:
        self._sc = spark.sparkContext._jsc.sc()
        self._jvm = spark.sparkContext._jvm
        self._gw = spark.sparkContext._gateway
        self._sql = spark._jsparkSession.sharedState().statusStore()
        self._stage_mark = -1
        self._exec_mark = -1

    def _drain(self) -> None:
        self._sc.listenerBus().waitUntilEmpty()

    def _stages(self) -> list:
        seq = self._sc.statusStore().stageList(
            None, False, False, self._gw.new_array(self._jvm.double, 0),
            self._jvm.java.util.ArrayList(),
        )
        return [seq.apply(i) for i in range(seq.size())]

    def _executions(self) -> list:
        seq = self._sql.executionsList()
        return [seq.apply(i) for i in range(seq.size())]

    def mark(self) -> None:
        self._drain()
        self._stage_mark = max([s.stageId() for s in self._stages()], default=-1)
        self._exec_mark = max([e.executionId() for e in self._executions()], default=-1)

    def read(self) -> dict[str, Any]:
        """Stages and SQL executions that started after the mark."""
        self._drain()
        stages = {}
        for s in self._stages():
            if s.stageId() > self._stage_mark and str(s.status()) == "COMPLETE":
                stages[s.stageId()] = {
                    "tasks": s.numCompleteTasks(),
                    "input_bytes": s.inputBytes(),
                    "run_ms": s.executorRunTime(),
                    "cpu_ns": s.executorCpuTime(),
                    "gc_ms": s.jvmGcTime(),
                    "peak_mem": s.peakExecutionMemory(),
                    "spill": s.memoryBytesSpilled() + s.diskBytesSpilled(),
                    "shuffle_bytes": s.shuffleWriteBytes(),
                    "shuffle_records": s.shuffleWriteRecords(),
                    "shuffle_write_ns": s.shuffleWriteTime(),
                    "fetch_wait_ms": s.shuffleFetchWaitTime(),
                }
        executions = []
        for e in self._executions():
            if e.executionId() <= self._exec_mark:
                continue
            executions.append({
                "id": e.executionId(),
                "submitted_ms": float(e.submissionTime()),
                "duration_ms": _duration_ms(e),
                "jobs": e.jobs().size(),
                "stages": _int_set(e.stages()),
                "nodes": self._nodes(e.executionId()),
            })
        jobs = sum(x["jobs"] for x in executions)
        self.mark()
        return {"stages": stages, "executions": executions, "jobs": jobs}

    def _nodes(self, exec_id: int) -> list[dict[str, Any]]:
        """Plan nodes of one execution with their parsed metrics."""
        values = self._sql.executionMetrics(exec_id)
        out = []
        it = self._sql.planGraph(exec_id).allNodes().iterator()
        while it.hasNext():
            node = it.next()
            metrics = {}
            mi = node.metrics().iterator()
            while mi.hasNext():
                m = mi.next()
                v = values.get(m.accumulatorId())
                if v.isDefined():
                    metrics[m.name()] = parse_metric(v.get())
            out.append({"name": node.name().strip(), "metrics": metrics})
        return out


def cached_bytes() -> int:
    """Bytes of RDD blocks the active SparkContext holds in its cache."""
    from pyspark import SparkContext

    infos = SparkContext._active_spark_context._jsc.sc().getRDDStorageInfo()
    return sum(int(i.memSize()) + int(i.diskSize()) for i in infos)


def codegen_compiles() -> tuple[int, float]:
    """(compilations so far, mean compile ms of the recent ones) from
    Spark's JVM-wide codegen histogram."""
    from pyspark import SparkContext

    jvm = SparkContext._active_spark_context._jvm
    hist = jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME()
    return int(hist.getCount()), float(hist.getSnapshot().getMean())


def _duration_ms(e) -> float:
    done = e.completionTime()
    if done is None or not done.isDefined():
        return 0.0
    return float(done.get().getTime()) - float(e.submissionTime())


def _int_set(scala_set) -> list[int]:
    it = scala_set.iterator()
    out = []
    while it.hasNext():
        out.append(int(it.next()))
    return out


def in_windows(t_ms: float, windows: list[tuple[float, float]]) -> bool:
    return any(a <= t_ms <= b for a, b in windows)


def maybe_span(tracer: Tracer | None, name: str):
    """``tracer.span(name)``, or nothing when the run is untraced."""
    return nullcontext() if tracer is None else tracer.span(name)
