"""Spans recorded around the calls the benchmark makes into each layer, and
Spark counters read from the in-process status store by time window.

Spans stay in memory and are written out when the run ends. Each span has an
id, a parent id, a name, a start and an end; spans of one workload share its
trace id.
"""

from __future__ import annotations

import contextlib
import functools
import json
import time
from dataclasses import asdict, dataclass, field


@dataclass
class Span:
    id: int
    parent: int | None
    name: str
    start: float
    end: float = 0.0
    attrs: dict = field(default_factory=dict)

    @property
    def dur(self) -> float:
        return self.end - self.start


class Tracer:
    def __init__(self, trace_id: str):
        self.trace_id = trace_id
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self._wrapped: list[tuple] = []
        self.overhead_s = 0.0

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        t_in = time.perf_counter()
        s = Span(len(self.spans), self._stack[-1] if self._stack else None, name, 0.0, attrs=attrs)
        self.spans.append(s)
        self._stack.append(s.id)
        self.overhead_s += time.perf_counter() - t_in
        s.start = time.time()
        try:
            yield s
        finally:
            s.end = time.time()
            t_out = time.perf_counter()
            self._stack.pop()
            self.overhead_s += time.perf_counter() - t_out

    def wrap(self, owner, attr: str, name: str):
        """Record a span around every call of ``owner.attr`` (an eager public
        call the engine makes inside a round) until ``unwrap_all``."""
        orig = getattr(owner, attr)

        @functools.wraps(orig)
        def traced(*a, **k):
            with self.span(name):
                return orig(*a, **k)

        setattr(owner, attr, traced)
        self._wrapped.append((owner, attr, orig))

    def unwrap_all(self) -> None:
        for owner, attr, orig in reversed(self._wrapped):
            setattr(owner, attr, orig)
        self._wrapped.clear()

    def children(self, sid: int) -> list[Span]:
        return [s for s in self.spans if s.parent == sid]

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump({"trace_id": self.trace_id, "spans": [asdict(s) for s in self.spans]}, f)


# --- Spark counters ---------------------------------------------------------

SPARK_KEYS = (
    "spark.jobs",
    "spark.stages",
    "spark.tasks",
    "spark.executor_run_s",
    "spark.executor_cpu_s",
    "spark.cpu_busy_ratio",
    "spark.shuffle_read_mb",
    "spark.shuffle_write_mb",
    "spark.spill_mb",
    "spark.gc_s",
    "spark.max_task_s",
)


def _ms(opt) -> float | None:
    return opt.get().getTime() / 1000.0 if opt.isDefined() else None


def spark_window(spark, t0: float, t1: float, cores: int) -> dict[str, float]:
    """Jobs, stages, tasks and stage metrics submitted in [t0, t1] (epoch
    seconds). Reads the status store rather than job groups: the crawl store
    writes from executor threads that do not inherit a job group."""
    sc = spark.sparkContext
    store = sc._jsc.sc().statusStore()
    jobs = 0
    it = store.jobsList(None).iterator()
    while it.hasNext():
        sub = _ms(it.next().submissionTime())
        if sub is not None and t0 <= sub <= t1:
            jobs += 1
    gw = sc._gateway
    empty = gw.new_array(gw.jvm.double, 0)
    q_max = gw.new_array(gw.jvm.double, 1)
    q_max[0] = 1.0
    out = dict.fromkeys(SPARK_KEYS, 0.0)
    out["spark.jobs"] = float(jobs)
    max_task_ms = 0.0
    it = store.stageList(None, False, False, empty, None).iterator()
    while it.hasNext():
        st = it.next()
        sub = _ms(st.submissionTime())
        if sub is None or not (t0 <= sub <= t1):
            continue
        out["spark.stages"] += 1
        out["spark.tasks"] += st.numTasks()
        out["spark.executor_run_s"] += st.executorRunTime() / 1e3
        out["spark.executor_cpu_s"] += st.executorCpuTime() / 1e9
        out["spark.shuffle_read_mb"] += st.shuffleReadBytes() / 1e6
        out["spark.shuffle_write_mb"] += st.shuffleWriteBytes() / 1e6
        out["spark.spill_mb"] += (st.memoryBytesSpilled() + st.diskBytesSpilled()) / 1e6
        out["spark.gc_s"] += st.jvmGcTime() / 1e3
        summary = store.taskSummary(st.stageId(), st.attemptId(), q_max)
        if summary.isDefined():
            max_task_ms = max(max_task_ms, summary.get().executorRunTime().apply(0))
    out["spark.max_task_s"] = max_task_ms / 1e3
    wall = max(t1 - t0, 1e-9)
    out["spark.cpu_busy_ratio"] = out["spark.executor_cpu_s"] / (wall * cores)
    return out
