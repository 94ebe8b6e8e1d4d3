"""Measurement probes that look at the program from outside.

- Process-tree CPU and memory from ``/proc``: CPU-seconds summed over the
  benchmark process and every descendant (JVM, Python daemon and workers),
  including children they already reaped; resident-memory high-water
  marks (``VmHWM``) as the kernel keeps them per process.
- Spark's own counts per pass, read from the status store (kept with the
  UI off) through the job group each pass runs under.
- An isolation stamp: CPU steal share and JVMs outside this run.
- Spans around calls into each layer, kept in memory until the run ends.
"""

from __future__ import annotations

import os
import statistics
import time
import uuid

_TICK = os.sysconf("SC_CLK_TCK")


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat", "rb") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat[stat.rindex(b")") + 2 :].split()[1])
        kids.setdefault(ppid, []).append(int(d))
    return kids


def tree_pids(root: int | None = None) -> list[int]:
    root = os.getpid() if root is None else root
    kids = _children()
    out, todo = [], [root]
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(kids.get(p, ()))
    return out


def tree_cpu_s(pids: list[int] | None = None) -> float:
    """utime + stime + cutime + cstime over the tree. Time of a reaped
    child moves into its parent's c-fields, so the sum only grows."""
    total = 0
    for p in pids or tree_pids():
        try:
            with open(f"/proc/{p}/stat", "rb") as f:
                stat = f.read()
        except OSError:
            continue
        fields = stat[stat.rindex(b")") + 2 :].split()
        total += sum(int(x) for x in fields[11:15])
    return total / _TICK


def tree_hwm_mb(pids: list[int] | None = None) -> float:
    """Sum of VmHWM over the live processes of the tree, in MB."""
    kb = 0
    for p in pids or tree_pids():
        try:
            with open(f"/proc/{p}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        kb += int(line.split()[1])
                        break
        except OSError:
            continue
    return kb / 1024.0


def _cpu_counters() -> tuple[int, int]:
    with open("/proc/stat") as f:
        vals = [int(x) for x in f.readline().split()[1:]]
    steal = vals[7] if len(vals) > 7 else 0
    return sum(vals), steal


class Isolation:
    """Steal share over an interval, plus JVMs on the host not in our tree."""

    def __init__(self) -> None:
        self._start = _cpu_counters()

    def stamp(self) -> dict:
        total, steal = _cpu_counters()
        dt, ds = total - self._start[0], steal - self._start[1]
        self._start = (total, steal)
        mine = set(tree_pids())
        foreign = 0
        for d in os.listdir("/proc"):
            if d.isdigit() and int(d) not in mine:
                try:
                    with open(f"/proc/{d}/comm") as f:
                        foreign += f.read().strip() == "java"
                except OSError:
                    pass
        return {"steal_share": round(ds / dt, 4) if dt else 0.0, "foreign_jvms": foreign}


class SparkCounts:
    """Jobs, stages, tasks, shuffle and spill bytes of one job group."""

    def __init__(self, spark) -> None:
        self.sc = spark.sparkContext
        self._store = self.sc._jsc.sc().statusStore()
        gw = self.sc._gateway
        self._no_quantiles = gw.new_array(gw.jvm.double, 0)

    def group(self, group: str) -> dict:
        tracker = self.sc.statusTracker()
        jobs = tracker.getJobIdsForGroup(group)
        out = {"jobs": len(jobs), "stages": 0, "tasks": 0, "shuffle_bytes": 0, "spill_bytes": 0,
               "task_s": []}
        for j in jobs:
            info = tracker.getJobInfo(j)
            for s in info.stageIds if info else ():
                st = tracker.getStageInfo(s)
                if st is None or st.numCompletedTasks == 0:
                    continue  # skipped: its shuffle output was reused
                out["stages"] += 1
                out["tasks"] += st.numCompletedTasks
                data = self._store.stageAttempt(
                    s, st.currentAttemptId, False, None, False, self._no_quantiles
                )._1()
                out["shuffle_bytes"] += data.shuffleWriteBytes()
                out["spill_bytes"] += data.memoryBytesSpilled() + data.diskBytesSpilled()
                tasks = self._store.taskList(s, st.currentAttemptId, st.numCompletedTasks)
                for i in range(tasks.size()):
                    dur = tasks.apply(i).duration()
                    if dur.isDefined():
                        out["task_s"].append(dur.get() / 1000.0)
        return out


def skew(values) -> float:
    """max / median; 1.0 means perfectly even."""
    vals = [v for v in values if v is not None]
    if not vals:
        return 0.0
    med = statistics.median(vals)
    return max(vals) / med if med else 0.0


class Tracer:
    """In-memory spans: name, start, end, parent and trace id."""

    def __init__(self) -> None:
        self.spans: list[dict] = []
        self._stack: list[str] = []
        self.trace_id = ""

    def new_trace(self) -> None:
        self.trace_id = uuid.uuid4().hex[:16]

    def span(self, name: str):
        tracer = self

        class _Span:
            def __enter__(self):
                self.id = uuid.uuid4().hex[:8]
                self.rec = {"name": name, "id": self.id, "trace": tracer.trace_id,
                            "parent": tracer._stack[-1] if tracer._stack else None,
                            "start": time.perf_counter()}
                tracer._stack.append(self.id)
                return self.rec

            def __exit__(self, *exc):
                self.rec["end"] = time.perf_counter()
                tracer._stack.pop()
                tracer.spans.append(self.rec)
                return False

        return _Span()

    def durations(self, name: str) -> list[float]:
        return [s["end"] - s["start"] for s in self.spans if s["name"] == name]
