"""Spans and Spark counters for the traced benchmark run.

``Tracer`` keeps spans (name, start, end, parent, cycle id) in memory
and writes them as JSON when the run ends.  ``Tracer.span`` also tags
the Spark jobs started inside it with a job group, so the counters the
in-process AppStatusStore keeps for those jobs (task time, shuffle
bytes, spill, peak execution memory, job and stage counts) can be read
back per span.  With tracing off, ``span`` only times the block: no job
group is set and no store is read.

``wrap`` times every call of a program function from outside, by
replacing the module attribute the caller looks it up through.  It is
how the traced run gets spans inside the CLI stages without touching
the program's files.
"""

from __future__ import annotations

import contextlib
import json
import os
import time
from collections import defaultdict
from dataclasses import dataclass, field


class CpuClock:
    """CPU seconds used so far by this process, the JVM and every live
    descendant of the JVM (the Python workers), plus what the JVM's
    reaped children used.  Unlike wall time, it does not grow when the
    host runs other work on our cores (CPU steal)."""

    def __init__(self, jvm_pid: int):
        self.jvm_pid = jvm_pid
        self.hz = os.sysconf("SC_CLK_TCK")

    def __call__(self) -> float:
        parent, ticks = {}, {}
        for name in os.listdir("/proc"):
            if not name.isdigit():
                continue
            try:
                with open(f"/proc/{name}/stat") as f:
                    stat = f.read()
            except OSError:  # the process ended meanwhile
                continue
            fields = stat[stat.rindex(")") + 2:].split()
            pid = int(name)
            parent[pid] = int(fields[1])
            ticks[pid] = sum(int(x) for x in fields[11:15])
        tree, frontier = {self.jvm_pid}, [self.jvm_pid]
        children: dict[int, list[int]] = defaultdict(list)
        for pid, ppid in parent.items():
            children[ppid].append(pid)
        while frontier:
            for child in children[frontier.pop()]:
                if child not in tree:
                    tree.add(child)
                    frontier.append(child)
        own = os.times()
        return (sum(ticks.get(p, 0) for p in tree) / self.hz
                + own.user + own.system)


@dataclass
class Span:
    name: str
    start: float
    end: float = 0.0
    cpu_start: float = 0.0
    cpu_end: float = 0.0
    parent: int | None = None
    cycle: int | None = None
    traced: bool = False
    counters: dict = field(default_factory=dict)

    @property
    def seconds(self) -> float:
        return self.end - self.start

    @property
    def cpu_seconds(self) -> float:
        return self.cpu_end - self.cpu_start


class Tracer:
    """Records spans; in a traced run (``trace_run``) every measured
    cycle is traced."""

    def __init__(self, spark, trace_run: bool, cpu_clock=None):
        self.spark = spark
        self.trace_run = trace_run
        self.cpu_clock = cpu_clock
        self.enabled = False
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self.cycle: int | None = None
        self.calls: dict[str, int] = defaultdict(int)
        self.collect_s = 0.0  # time spent reading the status store

    def begin_cycle(self, k: int) -> None:
        self.cycle = k
        self.enabled = self.trace_run

    def end_cycles(self) -> None:
        self.cycle = None
        self.enabled = False

    @contextlib.contextmanager
    def span(self, name: str, counters: bool = False, cpu: bool = False):
        """Time a block; with ``cpu``, also its process-tree CPU time;
        with tracing on and ``counters``, also collect the Spark job
        counters of the jobs the block started."""
        cpu = cpu and self.cpu_clock is not None
        sp = Span(name, time.perf_counter(),
                  parent=self._stack[-1] if self._stack else None,
                  cycle=self.cycle, traced=self.enabled)
        self.spans.append(sp)
        idx = len(self.spans) - 1
        self._stack.append(idx)
        counters = counters and self.enabled
        if counters:
            sc = self.spark.sparkContext
            group = f"bench-{idx}"
            prev = sc.getLocalProperty("spark.jobGroup.id")
            sc.setJobGroup(group, name)
        if cpu:
            sp.cpu_start = self.cpu_clock()
        try:
            yield sp
        finally:
            if cpu:
                sp.cpu_end = self.cpu_clock()
            sp.end = time.perf_counter()
            self._stack.pop()
            if counters:
                sc.setLocalProperty("spark.jobGroup.id", prev)
                t = time.perf_counter()
                sp.counters = job_group_counters(self.spark, group)
                self.collect_s += time.perf_counter() - t

    def dump(self, path: str) -> None:
        t0 = self.spans[0].start if self.spans else 0.0
        with open(path, "w") as f:
            json.dump([
                {"name": s.name, "start": round(s.start - t0, 6),
                 "end": round(s.end - t0, 6), "parent": s.parent,
                 "cycle": s.cycle, "traced": s.traced,
                **({"counters": s.counters}
                                      if s.counters else {})}
                for s in self.spans
            ], f)

    def traced(self, name: str) -> list[Span]:
        """Spans named ``name`` recorded while tracing was on."""
        return [s for s in self.spans if s.name == name and s.traced]

    def total(self, name: str, key: str | None = None) -> float:
        """Sum of traced span seconds (or of one counter) over spans
        named ``name``."""
        if key is None:
            return sum(s.seconds for s in self.traced(name))
        return sum(s.counters.get(key, 0) for s in self.traced(name))

    def wrap(self, module, attr: str, name: str, on_result=None):
        """Replace ``module.attr`` by a timed wrapper; returns an undo."""
        orig = getattr(module, attr)

        def timed(*a, **kw):
            if self.enabled:
                self.calls[name] += 1
            with self.span(name):
                out = orig(*a, **kw)
            if on_result is not None and self.enabled:
                on_result(out)
            return out

        setattr(module, attr, timed)
        return lambda: setattr(module, attr, orig)


COUNTER_KEYS = ("jobs", "stages", "task_s", "shuffle_read_bytes",
                "shuffle_write_bytes", "spill_bytes", "peak_exec_mem_bytes")


def job_group_counters(spark, group: str) -> dict:
    """Sum the AppStatusStore stage metrics over the jobs of ``group``."""
    sc = spark.sparkContext
    store = sc._jsc.sc().statusStore()
    empty = sc._jvm.java.util.Collections.emptyList()
    no_q = sc._gateway.new_array(sc._jvm.double, 0)
    out = dict.fromkeys(COUNTER_KEYS, 0)
    seen: set[int] = set()
    for jid in sc.statusTracker().getJobIdsForGroup(group):
        out["jobs"] += 1
        stage_ids = store.job(jid).stageIds()
        for i in range(stage_ids.size()):
            sid = stage_ids.apply(i)
            if sid in seen:
                continue
            seen.add(sid)
            attempts = store.stageData(sid, False, empty, False, no_q)
            for k in range(attempts.size()):
                st = attempts.apply(k)
                if st.numCompleteTasks() == 0:
                    continue  # skipped: its shuffle output was reused
                out["stages"] += 1
                out["task_s"] += st.executorRunTime() / 1000.0
                out["shuffle_read_bytes"] += st.shuffleReadBytes()
                out["shuffle_write_bytes"] += st.shuffleWriteBytes()
                out["spill_bytes"] += (st.memoryBytesSpilled()
                                       + st.diskBytesSpilled())
                out["peak_exec_mem_bytes"] = max(
                    out["peak_exec_mem_bytes"], st.peakExecutionMemory())
    return out
