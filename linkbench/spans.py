"""Spans and Spark job-group statistics, measured from outside the engine.

Every span runs its Spark work under its own job group
(``<run_id>:<span name>``). When the span ends, the tracer reads the
jobs of that group from Spark's status store
(``statusTracker().getJobIdsForGroup`` plus
``statusStore().lastStageAttempt``), which works with
``spark.ui.enabled=false``. Spans are kept in memory and written as one
JSON line each by :meth:`Tracer.write`.
"""

from __future__ import annotations

import json
import os
import time
from contextlib import contextmanager
from dataclasses import dataclass, field


_TICK = os.sysconf("SC_CLK_TCK")


def process_tree_cpu_s() -> float:
    """CPU time (user + system) of this process and all its descendants,
    with the children each has already reaped: the Python driver, the
    driver JVM it launched, and the JVM's Python workers."""
    parent, cpu = {}, {}
    for pid in os.listdir("/proc"):
        if not pid.isdigit():
            continue
        try:
            with open(f"/proc/{pid}/stat") as f:
                stat = f.read()
        except OSError:  # the process ended
            continue
        # fields after "(comm)": state ppid ... utime stime cutime cstime
        fields = stat[stat.rindex(")") + 2:].split()
        parent[int(pid)] = int(fields[1])
        cpu[int(pid)] = sum(int(x) for x in fields[11:15])
    children = {}
    for pid, ppid in parent.items():
        children.setdefault(ppid, []).append(pid)
    total, stack = 0, [os.getpid()]
    while stack:
        pid = stack.pop()
        total += cpu.get(pid, 0)
        stack += children.get(pid, [])
    return total / _TICK


@dataclass
class JobStats:
    """Totals over the completed stages of one job group."""
    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    task_s: float = 0.0        # executorRunTime, summed over tasks
    cpu_s: float = 0.0         # executorCpuTime, summed over tasks
    shuffle_write_bytes: int = 0
    spill_bytes: int = 0       # memory + disk spill
    skew: float = 0.0          # max over stages of max/median task time

    def as_dict(self) -> dict:
        return dict(self.__dict__)


def job_stats(spark, group: str, skew: bool = False) -> JobStats:
    """Aggregate the stages of every job Spark ran under ``group``.
    A stage shared by several jobs (a reused shuffle) counts once;
    skipped stages count as nothing."""
    sc = spark.sparkContext
    store = sc._jsc.sc().statusStore()
    job_ids = list(sc.statusTracker().getJobIdsForGroup(group))
    stage_ids = set()
    for jid in job_ids:
        it = store.job(jid).stageIds().iterator()
        while it.hasNext():
            stage_ids.add(it.next())
    st = JobStats(jobs=len(job_ids))
    for sid in stage_ids:
        s = store.lastStageAttempt(sid)
        if s.status().toString() != "COMPLETE":
            continue
        st.stages += 1
        st.tasks += s.numCompleteTasks()
        st.task_s += s.executorRunTime() / 1e3
        st.cpu_s += s.executorCpuTime() / 1e9
        st.shuffle_write_bytes += s.shuffleWriteBytes()
        st.spill_bytes += s.memoryBytesSpilled() + s.diskBytesSpilled()
        if skew and s.numCompleteTasks() >= 2:
            qs = sc._gateway.new_array(sc._jvm.double, 2)
            qs[0], qs[1] = 0.5, 1.0
            summary = store.taskSummary(sid, s.attemptId(), qs)
            if summary.isDefined():
                run = summary.get().executorRunTime()
                med, mx = run.apply(0), run.apply(1)
                st.skew = max(st.skew, mx / med if med > 0 else 1.0)
    return st


@dataclass
class Span:
    name: str
    start: float
    end: float = 0.0
    parent: str | None = None
    run_id: str = ""
    stats: dict = field(default_factory=dict)
    attrs: dict = field(default_factory=dict)

    @property
    def wall_s(self) -> float:
        return self.end - self.start


class Tracer:
    """Records spans around calls into the engine. ``overhead_s`` is the
    time the tracer itself spent (job-group switches and status-store
    reads), so a traced run can state what tracing cost it."""

    def __init__(self, spark, run_id: str):
        self.spark = spark
        self.run_id = run_id
        self.spans: list[Span] = []
        self.overhead_s = 0.0
        self._stack: list[str] = []

    def group(self, name: str) -> str:
        return f"{self.run_id}:{name}"

    def _set_group(self, name: str | None) -> None:
        sc = self.spark.sparkContext
        if name is None:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        else:
            sc.setJobGroup(self.group(name), name)

    @contextmanager
    def span(self, name: str, skew: bool = False):
        """Time the body under job group ``name`` and attach its job
        statistics; nested spans restore the enclosing group on exit."""
        t = time.perf_counter()
        parent = self._stack[-1] if self._stack else None
        self._set_group(name)
        self._stack.append(name)
        sp = Span(name, 0.0, parent=parent, run_id=self.run_id)
        self.overhead_s += time.perf_counter() - t
        sp.start = time.perf_counter()
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            t = time.perf_counter()
            self._stack.pop()
            self._set_group(self._stack[-1] if self._stack else None)
            sp.stats = job_stats(self.spark, self.group(name),
                                 skew).as_dict()
            self.spans.append(sp)
            self.overhead_s += time.perf_counter() - t

    def add(self, name: str, start: float, end: float,
            parent: str | None = None, **attrs) -> Span:
        """Record a span measured elsewhere (warehouse calls, stream
        progress)."""
        sp = Span(name, start, end, parent, self.run_id, attrs=attrs)
        self.spans.append(sp)
        return sp

    def get(self, name: str) -> Span:
        return next(s for s in self.spans if s.name == name)

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps({"name": s.name, "start": s.start,
                                    "end": s.end, "parent": s.parent,
                                    "run_id": s.run_id, "stats": s.stats,
                                    "attrs": s.attrs}) + "\n")
