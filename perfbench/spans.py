"""Per-layer tracing from Spark's own status stores, and process-tree RSS.

Entering a layer tags every Spark job from then on with a fresh job group;
afterwards ``group_stats`` reads those jobs' stages from the status store (works with
``spark.ui.enabled=false``) and the SQL status store (bytes to and from
Python workers). Nothing here changes what the engine executes.
"""

from __future__ import annotations

import contextlib
import os
import re
import statistics
import threading
import time

_SIZE = {"B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30, "TiB": 1 << 40}
_TIME = {"ns": 1e-9, "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0}


def parse_sql_metric(text: str) -> float:
    """A formatted SQL metric ("250.0 KiB", "4.2 s", "4,182", or the
    "total (min, med, max ...)\\n<total> (...)" form) -> bytes, seconds or
    count."""
    line = text.strip().split("\n")[-1]
    m = re.match(r"([-\d.,]+)\s*([A-Za-z]*)", line)
    if not m:
        return 0.0
    v = float(m.group(1).replace(",", ""))
    unit = m.group(2)
    return v * _SIZE.get(unit, _TIME.get(unit, 1.0))


class Tracer:
    """Job-group spans over one SparkContext, read back as stage metrics."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.status = self.sc._jsc.sc().statusStore()
        self.sql = spark._jsparkSession.sharedState().statusStore()
        self.n = 0
        self.groups: dict[str, list[str]] = {}   # layer -> job groups
        self.walls: dict[str, list[float]] = {}  # layer -> span walls (s)

    def enter(self, layer: str) -> str:
        """Tag every job from now on with a fresh group for ``layer``."""
        self.n += 1
        group = f"perfbench-{id(self)}-{self.n}-{layer}"
        self.sc.setJobGroup(group, layer)
        self.groups.setdefault(layer, []).append(group)
        return group

    def clear(self) -> None:
        self.sc.setLocalProperty("spark.jobGroup.id", None)
        self.sc.setLocalProperty("spark.job.description", None)

    @contextlib.contextmanager
    def span(self, layer: str):
        """Record the wall time of a block; its jobs keep the current group."""
        t = time.perf_counter()
        try:
            yield
        finally:
            self.walls.setdefault(layer, []).append(time.perf_counter() - t)

    def _stages(self, groups):
        """(job ids, completed stages) of every job in ``groups``."""
        tracker = self.sc.statusTracker()
        jobs, stages, seen = [], [], set()
        for g in groups:
            for j in tracker.getJobIdsForGroup(g):
                jobs.append(j)
                info = tracker.getJobInfo(j)
                for sid in (info.stageIds if info else ()):
                    if sid in seen:
                        continue
                    seen.add(sid)
                    s = self.status.lastStageAttempt(sid)
                    if s.submissionTime().isDefined() and s.completionTime().isDefined():
                        stages.append(s)
        return jobs, stages

    def group_stats(self, groups) -> dict:
        """Stage metrics summed over every job of ``groups``."""
        out = dict(jobs=0, tasks=0, busy_s=0.0, cpu_s=0.0, input_mb=0.0,
                   input_rows=0, shuffle_write_mb=0.0, fetch_wait_s=0.0, spill_mb=0.0,
                   task_max_over_median=0.0)
        jobs, stages = self._stages(groups)
        slowest = None
        for s in stages:
            out["tasks"] += s.numTasks()
            out["busy_s"] += (s.completionTime().get().getTime()
                              - s.submissionTime().get().getTime()) / 1e3
            out["cpu_s"] += s.executorCpuTime() / 1e9
            out["input_mb"] += s.inputBytes() / 2**20
            out["input_rows"] += s.inputRecords()
            out["shuffle_write_mb"] += s.shuffleWriteBytes() / 2**20
            out["fetch_wait_s"] += s.shuffleFetchWaitTime() / 1e3
            out["spill_mb"] += (s.memoryBytesSpilled() + s.diskBytesSpilled()) / 2**20
            if slowest is None or s.executorRunTime() > slowest.executorRunTime():
                slowest = s
        out["jobs"] = len(jobs)
        if slowest is not None:
            q = self.sc._gateway.new_array(self.sc._jvm.double, 2)
            q[0], q[1] = 0.5, 1.0
            d = self.status.taskSummary(slowest.stageId(), slowest.attemptId(), q)
            if d.isDefined():
                rt = d.get().executorRunTime()
                out["task_max_over_median"] = rt.apply(1) / max(rt.apply(0), 1.0)
        return out

    def sql_metric(self, groups, node: str, metric: str) -> float:
        """Sum of SQL metric ``metric`` over plan nodes whose name contains
        ``node``, across the SQL executions that ran jobs of ``groups``."""
        tracker = self.sc.statusTracker()
        jobs = {j for g in groups for j in tracker.getJobIdsForGroup(g)}
        total = 0.0
        it = self.sql.executionsList().iterator()
        while it.hasNext():
            e = it.next()
            ids, ks = set(), e.jobs().keys().iterator()
            while ks.hasNext():
                ids.add(ks.next())
            if not ids & jobs:
                continue
            values = self.sql.executionMetrics(e.executionId())
            nodes = self.sql.planGraph(e.executionId()).allNodes().iterator()
            while nodes.hasNext():
                n = nodes.next()
                if node not in n.name():
                    continue
                ms = n.metrics().iterator()
                while ms.hasNext():
                    mm = ms.next()
                    v = values.get(mm.accumulatorId())
                    if mm.name() == metric and v.isDefined():
                        total += parse_sql_metric(v.get())
        return total

    def layer(self, layer: str) -> dict:
        return self.group_stats(self.groups.get(layer, []))


def _proc_table() -> dict[int, tuple[int, int]]:
    """{pid: (parent pid, resident pages)} from /proc."""
    table = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                stat = f.read()
            with open(f"/proc/{d}/statm") as f:
                pages = int(f.read().split()[1])
        except OSError:
            continue
        table[int(d)] = (int(stat[stat.rindex(")") + 2:].split()[1]), pages)
    return table


def descendants(root: int, table=None) -> list[int]:
    """PIDs below ``root`` in the process tree."""
    table = _proc_table() if table is None else table
    children: dict[int, list[int]] = {}
    for pid, (pp, _) in table.items():
        children.setdefault(pp, []).append(pid)
    out, frontier = [], [root]
    while frontier:
        for c in children.get(frontier.pop(), ()):
            out.append(c)
            frontier.append(c)
    return out


def tree_rss_mb(root: int) -> float:
    """Summed RSS of ``root`` and all its descendants."""
    table = _proc_table()
    pages = sum(table[p][1] for p in [root, *descendants(root, table)] if p in table)
    return pages * os.sysconf("SC_PAGE_SIZE") / 2**20


class RssSampler:
    """Background thread recording the peak RSS of this process tree."""

    def __init__(self, period_s: float = 0.2):
        self.period_s = period_s
        self.peak_mb = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self):
        while not self._stop.is_set():
            self.peak_mb = max(self.peak_mb, tree_rss_mb(os.getpid()))
            self._stop.wait(self.period_s)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=10)


def median(xs) -> float:
    return statistics.median(xs) if xs else 0.0
