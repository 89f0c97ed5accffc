"""Read Spark's own counters for one window of work.

Job, stage and SQL-execution ids are global counters in a Spark
application, so a window is "every id handed out since the last read".
After the listener bus drains, the status store holds the finished
jobs, stages and SQL executions; this module probes ids upward from the
last one it saw until the store has no entry.

Everything here reads what Spark records; nothing changes the plans.
"""

from __future__ import annotations

import re
import time
from dataclasses import dataclass, field

MB = 1 << 20

#: status-store retention raised so no window loses its oldest stages
STATUS_CONF = {
    "spark.ui.retainedJobs": "1000000",
    "spark.ui.retainedStages": "1000000",
    "spark.sql.ui.retainedExecutions": "1000000",
}

# plan nodes that cross the Arrow/Python boundary
_PY_NODE = re.compile(r"Pandas|Python|ArrowEval")
_UNITS = {"B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30, "TiB": 1 << 40}
_SIZE = re.compile(r"([0-9.,]+)\s*(B|KiB|MiB|GiB|TiB)")


def parse_size(text: str) -> float:
    """Bytes in a formatted size metric ("total (...)\\n1.5 MiB (...)")."""
    m = _SIZE.search(text.split("\n")[-1])
    if not m:
        return 0.0
    return float(m.group(1).replace(",", "")) * _UNITS[m.group(2)]


def parse_count(text: str) -> int:
    line = text.split("\n")[-1]
    m = re.match(r"\s*([0-9,]+)", line)
    return int(m.group(1).replace(",", "")) if m else 0


@dataclass
class Window:
    """Counters for one window: the end-to-end four and the layer split."""

    jobs: int = 0
    tasks: int = 0
    stages: int = 0
    shuffle_write: int = 0
    shuffle_read: int = 0
    input_bytes: int = 0
    task_ms: int = 0
    gc_ms: int = 0
    spill: int = 0
    # jobs counted by the job group they ran under
    group_jobs: dict = field(default_factory=dict)
    python_rows: int = 0
    python_sent: float = 0.0


class SparkStats:
    """Probes the application's status stores for work since last read."""

    def __init__(self, spark):
        self.spark = spark
        self.jsc = spark.sparkContext._jsc.sc()
        self.store = self.jsc.statusStore()
        self.sql = spark._jsparkSession.sharedState().statusStore()
        self.next_job = 0
        self.next_stage = 0
        self.next_exec = 0
        self.drain()
        self.read(python=False)  # skip whatever ran before the first window

    def drain(self) -> None:
        self.jsc.listenerBus().waitUntilEmpty()

    def _probe(self, getter, start: int) -> list:
        out, i = [], start
        while True:
            try:
                out.append(getter(i))
            except Exception:  # py4j wraps NoSuchElementException
                return out
            i += 1

    def read(self, python: bool) -> Window:
        """Counters of every job, stage and (if ``python``) SQL execution
        started since the previous read."""
        self.drain()
        w = Window()
        stages = self._probe(self.store.lastStageAttempt, self.next_stage)
        jobs = self._probe(self.store.job, self.next_job)
        for j in jobs:
            grp = j.jobGroup()
            g = grp.get() if grp.isDefined() else ""
            w.group_jobs[g] = w.group_jobs.get(g, 0) + 1
        for s in stages:
            w.stages += 1
            w.tasks += s.numCompleteTasks()
            w.shuffle_write += s.shuffleWriteBytes()
            w.shuffle_read += s.shuffleReadBytes()
            w.input_bytes += s.inputBytes()
            w.task_ms += s.executorRunTime()
            w.gc_ms += s.jvmGcTime()
            w.spill += s.diskBytesSpilled()
        w.jobs = len(jobs)
        self.next_job += len(jobs)
        self.next_stage += len(stages)
        if python:
            self._python(w)
        else:
            self.next_exec = self._skip_execs(self.next_exec)
        return w

    def _skip_execs(self, start: int) -> int:
        i = start
        while not self.sql.execution(i).isEmpty():
            i += 1
        return i

    def _python(self, w: Window) -> None:
        i = self.next_exec
        while not self.sql.execution(i).isEmpty():
            values = self.sql.executionMetrics(i)
            nodes = self.sql.planGraph(i).allNodes()
            for n in range(nodes.size()):
                node = nodes.apply(n)
                if not _PY_NODE.search(node.name()):
                    continue
                metrics = node.metrics()
                for k in range(metrics.size()):
                    m = metrics.apply(k)
                    v = values.get(m.accumulatorId())
                    if not v.isDefined():
                        continue
                    if m.name() == "data sent to Python workers":
                        w.python_sent += parse_size(v.get())
                    elif m.name() == "number of output rows":
                        w.python_rows += parse_count(v.get())
            i += 1
        self.next_exec = i

    def cached(self) -> tuple[int, float]:
        """(entries, MB) of RDDs that hold cached partitions right now."""
        infos = self.jsc.getRDDStorageInfo()
        entries, size = 0, 0
        for info in infos:
            if info.numCachedPartitions() > 0:
                entries += 1
                size += info.memSize() + info.diskSize()
        return entries, size / MB


def catalyst_ms(df) -> dict[str, int]:
    """Catalyst phase durations of the plan a DataFrame last executed."""
    phases = df._jdf.queryExecution().tracker().phases()
    out = {}
    for name in ("analysis", "optimization", "planning"):
        p = phases.get(name)
        out[name] = p.get().durationMs() if p.isDefined() else 0
    return out


class Tracer:
    """Spans kept in memory and written out when the run ends.

    A span is (op id, name, layer, start, end, parent); spans of one
    operation execution share its op id. With tracing off the tracer
    records nothing and ``span`` costs one attribute test.
    """

    def __init__(self, on: bool):
        self.on = on
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.op_id = ""

    def span(self, name: str, layer: str):
        return _Span(self, name, layer)

    def add(self, name: str, layer: str, start: float, end: float, parent=None) -> None:
        if self.on:
            if parent is None and self._stack:
                parent = self._stack[-1]
            self.spans.append(
                {"op": self.op_id, "name": name, "layer": layer,
                 "start": start, "end": end, "parent": parent}
            )


class _Span:
    __slots__ = ("t", "name", "layer", "start", "idx", "seconds")

    def __init__(self, tracer: Tracer, name: str, layer: str):
        self.t, self.name, self.layer = tracer, name, layer
        self.seconds = 0.0

    def __enter__(self):
        self.start = time.perf_counter()
        if self.t.on:
            self.idx = len(self.t.spans)
            self.t.add(self.name, self.layer, self.start, self.start)
            self.t._stack.append(self.idx)
        return self

    def __exit__(self, *exc):
        end = time.perf_counter()
        self.seconds = end - self.start
        if self.t.on:
            self.t._stack.pop()
            self.t.spans[self.idx]["end"] = end
        return False
