"""Per-layer spans for the traced run (``--trace 1``).

Spans are recorded from the benchmark's side only: every public function
of every program module is replaced, in each module namespace that
holds it, by a wrapper that opens a span for the call.  A span records
its wall time and the Spark jobs and stages submitted while it was open,
read from the scheduler's job and stage id counters.  Counting by id
catches every job, also those a stream runs under its own job group,
and is not capped by how many jobs the status store retains.

A layer is named after the module (``operators.graph`` is ``graph``,
both ``streaming`` modules are ``streaming``).  Layer times and job
counts are self figures: a span minus the spans it encloses.
"""

from __future__ import annotations

import functools
import importlib
import inspect
import os
import pkgutil
import sys
import time

from py4j.protocol import Py4JJavaError
from pyspark.sql.streaming import StreamingQueryListener

#: Layers reported by name; any other module's figures go to ``other``.
LAYERS = [
    "catalog", "relational", "warehouse", "events", "temporal", "quality",
    "graph", "dedup", "similarity", "text", "tables", "delta_log",
    "streaming", "functions", "other",
]

#: Functions whose inclusive time is reported as ``<metric>``.
INCLUSIVE = {
    ("tables", "write_versioned"): "tables.write_versioned_s",
    ("tables", "merge_upsert"): "tables.merge_upsert_s",
    ("tables", "read_versioned"): "tables.read_versioned_s",
    ("tables", "table_changes"): "tables.table_changes_s",
    ("delta_log", "write_commit"): "delta_log.commit_s",
    ("streaming", "run_available_now"): "streaming.drain_s",
}


def layer_of(module_name: str) -> str | None:
    parts = module_name.split(".")
    if parts[0] != "beauty_lakehouse_spark" or len(parts) < 2:
        return None
    name = parts[2] if parts[1] == "operators" and len(parts) > 2 else parts[1]
    return name if name in LAYERS else "other"


class Clock:
    """Counters of Spark work submitted so far in this application."""

    def __init__(self, spark):
        self._dag = spark.sparkContext._jsc.sc().dagScheduler()

    def jobs(self) -> int:
        return self._dag.nextJobId()

    def stages(self) -> int:
        return self._dag.nextStageId()


class Span:
    __slots__ = ("layer", "name", "a", "t0", "jobs0", "stages0", "child_s", "child_jobs")

    def __init__(self, layer, name, a, t0, jobs0, stages0):
        self.layer, self.name, self.a, self.t0 = layer, name, a, t0
        self.jobs0, self.stages0 = jobs0, stages0
        self.child_s = 0.0
        self.child_jobs = 0


class Tracer:
    """Collects spans while ``active``; figures accumulate in ``values``."""

    def __init__(self, clock: Clock):
        self.clock = clock
        self.active = False
        self.stack: list[Span] = []
        self.values: dict[str, float] = {}
        #: [first, end) stage ids of the outermost ``tables`` spans.
        self.table_stages: list[tuple[int, int]] = []
        self.overhead_s = 0.0

    def add(self, key: str, v: float) -> None:
        self.values[key] = self.values.get(key, 0.0) + v

    def enter(self, layer: str, name: str) -> None:
        a = time.perf_counter()
        jobs0, stages0 = self.clock.jobs(), self.clock.stages()
        t0 = time.perf_counter()
        self.overhead_s += t0 - a
        self.stack.append(Span(layer, name, a, t0, jobs0, stages0))

    def exit(self) -> tuple[float, int]:
        """Close the innermost span; return its wall time and job count."""
        c = time.perf_counter()
        jobs1, stages1 = self.clock.jobs(), self.clock.stages()
        d = time.perf_counter()
        self.overhead_s += d - c
        s = self.stack.pop()
        dur, jobs = c - s.t0, jobs1 - s.jobs0
        if self.stack:
            parent = self.stack[-1]
            parent.child_s += d - s.a  # the span plus its bookkeeping
            parent.child_jobs += jobs
        if s.layer != "entry":
            self.add(f"{s.layer}.s", dur - s.child_s)
            self.add(f"{s.layer}.jobs", jobs - s.child_jobs)
            self.add(f"{s.layer}.calls", 1)
            outer = not any(p.layer == s.layer and p.name == s.name for p in self.stack)
            metric = INCLUSIVE.get((s.layer, s.name))
            if metric and outer:
                self.add(metric, dur)
                if s.layer == "streaming":
                    self.add("streaming.drains", 1)
            if s.name.endswith("_finish") and s.layer == "streaming" and outer:
                self.add("streaming.finish_s", dur)
            if s.layer == "tables" and not any(p.layer == "tables" for p in self.stack):
                self.table_stages.append((s.stages0, stages1))
        return dur, jobs

    def call(self, layer: str, name: str, fn, *args, **kwargs):
        if not self.active:
            return fn(*args, **kwargs)
        self.enter(layer, name)
        try:
            return fn(*args, **kwargs)
        finally:
            self.exit()

    def install(self) -> None:
        """Wrap every public program function everywhere it is bound.

        Every module of the package is imported first, so a module the
        program imports lazily is wrapped too."""
        import beauty_lakehouse_spark

        for info in pkgutil.walk_packages(beauty_lakehouse_spark.__path__,
                                          "beauty_lakehouse_spark."):
            importlib.import_module(info.name)
        wrapped: dict[int, object] = {}
        mods = [m for n, m in list(sys.modules.items())
                if n == "__spark_entry__" or n.startswith("beauty_lakehouse_spark")]
        for mod in mods:
            layer = layer_of(mod.__name__)
            if layer is None:
                continue
            for name, fn in list(vars(mod).items()):
                if (name.startswith("_") or not inspect.isfunction(fn)
                        or fn.__module__ != mod.__name__):
                    continue
                wrapped[id(fn)] = (fn, self._wrap(layer, name, fn))
        for mod in mods:
            for name, obj in list(vars(mod).items()):
                hit = wrapped.get(id(obj))
                if hit is not None and hit[0] is obj:
                    setattr(mod, name, hit[1])

    def _wrap(self, layer, name, fn):
        call = self.call

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            return call(layer, name, fn, *args, **kwargs)

        return traced


class StreamStats(StreamingQueryListener):
    """Micro-batch progress of every stream drained while registered."""

    def __init__(self):
        self.batches = 0
        self.input_rows = 0
        self.ms = {"addBatch": 0, "queryPlanning": 0, "walCommit": 0}
        self.last_state: dict[str, tuple[int, int]] = {}

    def onQueryStarted(self, event):
        pass

    def onQueryProgress(self, event):
        p = event.progress
        self.batches += 1
        self.input_rows += p.numInputRows
        for k in self.ms:
            self.ms[k] += p.durationMs.get(k, 0)
        self.last_state[str(p.runId)] = (
            sum(s.numRowsTotal for s in p.stateOperators),
            sum(s.memoryUsedBytes for s in p.stateOperators),
        )

    def onQueryIdle(self, event):
        pass

    def onQueryTerminated(self, event):
        pass

    def values(self) -> dict[str, float]:
        return {
            "streaming.micro_batches": self.batches,
            "streaming.input_rows": self.input_rows,
            "streaming.add_batch_s": self.ms["addBatch"] / 1e3,
            "streaming.query_planning_s": self.ms["queryPlanning"] / 1e3,
            "streaming.wal_commit_s": self.ms["walCommit"] / 1e3,
            "streaming.state_rows": sum(r for r, _ in self.last_state.values()),
            "streaming.state_mb": sum(b for _, b in self.last_state.values()) / 2**20,
        }


def stage_totals(spark, ranges: list[tuple[int, int]]) -> dict[str, float]:
    """Sum the status store's figures for the stages in ``ranges``.

    Waits for the listener bus first, so every stage finished before the
    call is in the store.  Skipped stages count for nothing.
    """
    sc = spark.sparkContext._jsc.sc()
    sc.listenerBus().waitUntilEmpty()
    store = sc.statusStore()
    out = {"stages": 0, "tasks": 0, "run_ms": 0, "cpu_ns": 0, "shuffle_write": 0,
           "shuffle_read": 0, "spill": 0, "output": 0, "missing": 0}
    for first, end in ranges:
        for sid in range(first, end):
            try:
                sd = store.lastStageAttempt(sid)
            except Py4JJavaError:  # evicted from the store, or never submitted
                out["missing"] += 1
                continue
            if sd.status().toString() != "COMPLETE":
                continue
            out["stages"] += 1
            out["tasks"] += sd.numCompleteTasks()
            out["run_ms"] += sd.executorRunTime()
            out["cpu_ns"] += sd.executorCpuTime()
            out["shuffle_write"] += sd.shuffleWriteBytes()
            out["shuffle_read"] += sd.shuffleReadBytes()
            out["spill"] += sd.diskBytesSpilled()
            out["output"] += sd.outputBytes()
    return out


def descendants_cpu_s(pid: int) -> float:
    """CPU seconds of every live descendant of ``pid``, plus the CPU of
    the descendants they have already reaped (Python UDF workers are
    forked and reaped by the ``pyspark.daemon`` child of the JVM)."""
    parent: dict[int, int] = {}
    ticks: dict[int, int] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        parent[int(entry)] = int(fields[1])
        ticks[int(entry)] = sum(int(x) for x in fields[11:15])
    total, frontier = 0, [pid]
    while frontier:
        p = frontier.pop()
        kids = [c for c, pp in parent.items() if pp == p]
        total += sum(ticks[c] for c in kids)
        frontier.extend(kids)
    return total / os.sysconf("SC_CLK_TCK")
