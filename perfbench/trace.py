"""Spans around public calls, attributed to Spark's in-process status stores.

A span records its name, start, end, parent span and run id. Each span
runs its Spark jobs under its own job group, so after the span closes
the jobs it caused can be looked up in the ``AppStatusStore`` (stage
run time, CPU, GC, shuffle, spill, task skew) and, through the jobs,
the SQL executions in the ``SQLAppStatusStore`` (plan shape and the
pandas-UDF Arrow transfer metrics). Both stores work with
``spark.ui.enabled=false``.

Spans live in memory; ``Tracer.dump`` writes them out once, at the end
of a run. With tracing off the benchmark uses ``NULL_TRACER``, whose
spans cost one ``nullcontext``.
"""

from __future__ import annotations

import contextlib
import json
import re
import statistics
import time
from dataclasses import asdict, dataclass, field

STAGE_FIELDS = {
    "executor_run_ms": "executorRunTime",
    "executor_cpu_ns": "executorCpuTime",
    "jvm_gc_ms": "jvmGcTime",
    "shuffle_write_bytes": "shuffleWriteBytes",
    "shuffle_read_bytes": "shuffleReadBytes",
    "shuffle_fetch_wait_ms": "shuffleFetchWaitTime",
    "spill_bytes": "diskBytesSpilled",
}
PY_SENT = "data sent to Python workers"
PY_RECV = "data returned from Python workers"
_UNITS = {"B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30, "TiB": 1 << 40}
_SIZE = re.compile(r"([0-9.]+)\s*(B|KiB|MiB|GiB|TiB)")


@dataclass
class Span:
    sid: int
    name: str
    run_id: str
    parent: int | None
    start: float
    end: float | None = None
    counters: dict = field(default_factory=dict)

    @property
    def group(self) -> str:
        return f"{self.run_id}/{self.sid}"

    @property
    def duration(self) -> float:
        return self.end - self.start


def covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    total, reach = 0.0, lo
    for a, b in sorted(intervals):
        a, b = max(a, reach), min(b, hi)
        if b > a:
            total += b - a
            reach = b
    return total


def self_times(spans: list[Span]) -> dict[int, float]:
    """Span id -> its duration minus the part of it its child spans
    cover."""
    children: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s.parent is not None:
            children.setdefault(s.parent, []).append((s.start, s.end))
    return {
        s.sid: s.duration - covered(children.get(s.sid, []), s.start, s.end)
        for s in spans
    }


def parse_size(text: str) -> float:
    """Bytes from a SQL size-metric string: either ``"1.5 MiB"`` or the
    multi-task form ``"total (min, med, max ...)\\n1.5 MiB (...)"``,
    whose first value after the newline is the total."""
    line = text.split("\n", 1)[-1]
    m = _SIZE.search(line)
    return float(m.group(1)) * _UNITS[m.group(2)] if m else 0.0


def _scala_iter(seq):
    it = seq.iterator()
    while it.hasNext():
        yield it.next()


class SparkStatus:
    """Reads the status stores of one SparkSession."""

    def __init__(self, spark):
        self.spark = spark
        self.sc = spark.sparkContext
        self._jsc = self.sc._jsc.sc()
        self._store = self._jsc.statusStore()
        self._sql = spark._jsparkSession.sharedState().statusStore()
        gw = self.sc._gateway
        self._no_status = gw.jvm.java.util.ArrayList()
        self._no_q = gw.new_array(gw.jvm.double, 0)
        self._last_exec = -1

    def drain(self) -> None:
        """Wait until the listener bus has applied every event posted so
        far, so the stores reflect all finished jobs."""
        self._jsc.listenerBus().waitUntilEmpty()

    def new_executions(self) -> list:
        """SQL executions started since the previous call, oldest first."""
        out = []
        it = self._sql.executionsList().reverseIterator()
        while it.hasNext():
            e = it.next()
            if e.executionId() <= self._last_exec:
                break
            out.append(e)
        if out:
            self._last_exec = out[0].executionId()
        return out[::-1]

    def job_counters(self, group: str) -> tuple[dict, set[int]]:
        """Stage-level totals over the jobs of one job group, plus the
        job ids (for SQL attribution)."""
        tracker = self.sc.statusTracker()
        jobs = set(tracker.getJobIdsForGroup(group))
        c = {k: 0 for k in STAGE_FIELDS}
        c.update(jobs=len(jobs), stages=0, tasks=0, failed_tasks=0, heaviest=None)
        seen: set[int] = set()
        for j in jobs:
            info = tracker.getJobInfo(j)
            for sid in (info.stageIds if info else []):
                if sid in seen:
                    continue
                seen.add(sid)
                for sd in _scala_iter(
                    self._store.stageData(int(sid), False, self._no_status, False, self._no_q)
                ):
                    if sd.status().toString() == "SKIPPED":
                        continue
                    c["stages"] += 1
                    c["tasks"] += sd.numCompleteTasks() + sd.numFailedTasks()
                    c["failed_tasks"] += sd.numFailedTasks()
                    for key, getter in STAGE_FIELDS.items():
                        c[key] += getattr(sd, getter)()
                    stage = (sd.executorRunTime(), int(sid), sd.attemptId())
                    if c["heaviest"] is None or stage > c["heaviest"]:
                        c["heaviest"] = stage
        return c, jobs

    def straggler_ratio(self, sid: int, attempt: int) -> float:
        """Slowest task's run time over the median task's, among the
        tasks of one stage that read at least one record (a shuffle
        leaves empty partitions whose near-zero tasks would make any
        median meaningless)."""
        runs = []
        for t in _scala_iter(self._store.taskList(int(sid), int(attempt), 1 << 20)):
            m = t.taskMetrics()
            if not m.isDefined():
                continue
            m = m.get()
            if m.inputMetrics().recordsRead() + m.shuffleReadMetrics().recordsRead() > 0:
                runs.append(m.executorRunTime())
        med = statistics.median(runs) if runs else 0
        return max(runs) / med if med > 0 else 1.0

    def plan_counters(self, executions: list) -> dict:
        """Plan shape and Arrow-boundary bytes over SQL executions."""
        c = dict(actions=0, exchanges=0, joins=0, python_nodes=0, py_sent_bytes=0.0, py_recv_bytes=0.0)
        for e in executions:
            eid = e.executionId()
            if e.rootExecutionId() in (-1, eid):
                c["actions"] += 1
            values = self._sql.executionMetrics(eid)
            for node in _scala_iter(self._sql.planGraph(eid).allNodes()):
                name = node.name()
                if name in ("Exchange", "BroadcastExchange"):
                    c["exchanges"] += 1
                elif name.endswith("Join") or name == "CartesianProduct":
                    c["joins"] += 1
                elif "Python" in name or "Pandas" in name or "InArrow" in name:
                    c["python_nodes"] += 1
                    for m in _scala_iter(node.metrics()):
                        key = {PY_SENT: "py_sent_bytes", PY_RECV: "py_recv_bytes"}.get(m.name())
                        v = values.get(m.accumulatorId())
                        if key and v.isDefined():
                            c[key] += parse_size(v.get())
        return c


class Tracer:
    """Collects spans for one run. ``status`` may be None (no Spark
    attribution, e.g. in unit tests of the span arithmetic)."""

    def __init__(self, run_id: str, status: SparkStatus | None = None, clock=time.perf_counter):
        self.run_id = run_id
        self.status = status
        self.clock = clock
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self.bookkeeping_s = 0.0

    @contextlib.contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        s = Span(len(self.spans), name, self.run_id, parent.sid if parent else None, self.clock())
        self.spans.append(s)
        self._stack.append(s)
        self._set_group(s)
        try:
            yield s
        finally:
            s.end = self.clock()
            self._stack.pop()
            self._set_group(parent)
            if parent is None:
                self.attribute(s)

    def _set_group(self, s: Span | None) -> None:
        if self.status is None:
            return
        sc = self.status.sc
        if s is None:
            for key in ("spark.jobGroup.id", "spark.job.description", "spark.job.interruptOnCancel"):
                sc.setLocalProperty(key, None)
        else:
            sc.setJobGroup(s.group, s.name)

    def attribute(self, root: Span) -> None:
        """Fill ``counters`` of every span in ``root``'s tree from the
        status stores (each span's own job group)."""
        if self.status is None:
            return
        t0 = time.perf_counter()
        self.status.drain()
        execs = self.status.new_executions()
        tree = [s for s in self.spans if s.sid >= root.sid]
        for s in tree:
            counters, jobs = self.status.job_counters(s.group)
            mine = [e for e in execs if any(int(j) in jobs for j in _scala_iter(e.jobs().keys()))]
            counters.update(self.status.plan_counters(mine))
            s.counters = counters
        stages = [s.counters["heaviest"] for s in tree if s.counters["heaviest"]]
        if stages:
            _, sid, attempt = max(stages)
            root.counters["straggler_ratio"] = self.status.straggler_ratio(sid, attempt)
        self.bookkeeping_s += time.perf_counter() - t0

    def dump(self, path: str) -> None:
        st = self_times(self.spans)
        rows = [dict(asdict(s), self_s=st[s.sid]) for s in self.spans]
        with open(path, "w") as fh:
            json.dump({"run_id": self.run_id, "spans": rows}, fh)


class _NullTracer:
    spans: list = []
    bookkeeping_s = 0.0

    def span(self, name: str):
        return contextlib.nullcontext()


NULL_TRACER = _NullTracer()
