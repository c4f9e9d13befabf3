"""Measurement helpers: percentiles, process-tree CPU, host steal,
per-request Spark job counts and the span record of a traced run."""

from __future__ import annotations

import json
import math
import os
from dataclasses import dataclass, field


def percentile(values, p: float) -> float:
    """Nearest-rank ``p``-th percentile of ``values``."""
    xs = sorted(values)
    if not xs:
        raise ValueError("percentile of no samples")
    rank = max(1, math.ceil(p * len(xs) / 100))
    return xs[rank - 1]


def median(values) -> float:
    xs = sorted(values)
    n = len(xs)
    if n == 0:
        raise ValueError("median of no samples")
    mid = n // 2
    return xs[mid] if n % 2 else (xs[mid - 1] + xs[mid]) / 2


def tail_percentile(n: int, beyond: int = 10) -> int:
    """The highest whole percentile whose nearest-rank value has at
    least ``beyond`` of ``n`` samples after it."""
    if n <= beyond:
        raise ValueError(f"{n} samples leave none with {beyond} beyond it")
    return 100 * (n - beyond) // n


def tail(values, beyond: int = 10) -> tuple[int, float]:
    """(percentile, value) of the tail that keeps ``beyond`` samples
    after it."""
    p = tail_percentile(len(values), beyond)
    return p, percentile(values, p)


def _proc_stat(pid: str) -> tuple[int, int] | None:
    """(ppid, utime + stime ticks) of a process, or None if it is gone."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    # Fields after the parenthesised command name: state, ppid, ...,
    # utime and stime are the 12th and 13th.
    rest = raw[raw.rindex(")") + 2 :].split()
    return int(rest[1]), int(rest[11]) + int(rest[12])


def tree_cpu_s() -> float:
    """CPU seconds used so far by this process and every process below
    it: the JVM it launched and any Python workers."""
    root = os.getpid()
    parent, ticks = {}, {}
    for pid in os.listdir("/proc"):
        if pid.isdigit():
            st = _proc_stat(pid)
            if st is not None:
                parent[int(pid)], ticks[int(pid)] = st
    total = 0
    for pid, t in ticks.items():
        p = pid
        while p > 1 and p != root:
            p = parent.get(p, 0)
        if p == root:
            total += t
    return total / os.sysconf("SC_CLK_TCK")


def host_cpu_ticks() -> tuple[int, int]:
    """(all ticks, steal ticks) summed over the host's CPUs."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:9]]
    return sum(fields), fields[7]


def steal_share(before: tuple[int, int], after: tuple[int, int]) -> float:
    total = after[0] - before[0]
    return (after[1] - before[1]) / total if total > 0 else 0.0


def count_jobs(sc, group: str) -> dict:
    """Jobs, stages that ran, and tasks completed under a job group,
    read from ``SparkContext.statusTracker()`` once the listener bus
    has delivered every event posted so far."""
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    tracker = sc.statusTracker()
    jobs = tracker.getJobIdsForGroup(group)
    stage_ids = set()
    for j in jobs:
        info = tracker.getJobInfo(j)
        if info is not None:
            stage_ids.update(info.stageIds)
    stages = tasks = 0
    for s in stage_ids:
        info = tracker.getStageInfo(s)
        if info is not None and info.numCompletedTasks > 0:
            stages += 1
            tasks += info.numCompletedTasks
    return {"jobs": len(jobs), "stages": stages, "tasks": tasks}


def cached_storage(sc) -> tuple[int, int]:
    """(bytes, partitions) Spark holds for cached data."""
    size = parts = 0
    for info in sc._jsc.sc().getRDDStorageInfo():
        size += info.memSize() + info.diskSize()
        parts += info.numCachedPartitions()
    return size, parts


@dataclass
class Trace:
    """Spans of a traced run, kept in memory and written at exit.

    A span is (request id, name, parent name, start, end), with times
    in seconds from the same ``perf_counter`` clock."""

    spans: list = field(default_factory=list)
    counts: dict = field(default_factory=dict)

    def span(self, req: str, name: str, parent: str | None, start: float, end: float):
        self.spans.append((req, name, parent, start, end))

    def self_times(self) -> dict[str, list[float]]:
        """Per span name, each span's duration minus the time its
        children cover (children of one span do not overlap)."""
        child = {}
        for req, name, parent, s, e in self.spans:
            if parent is not None:
                child[(req, parent)] = child.get((req, parent), 0.0) + (e - s)
        out: dict[str, list[float]] = {}
        for req, name, _parent, s, e in self.spans:
            out.setdefault(name, []).append((e - s) - child.get((req, name), 0.0))
        return out

    def write(self, path: str, summary: dict) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump(
                {
                    "summary": summary,
                    "counts": self.counts,
                    "spans": [
                        {"request": r, "name": n, "parent": p, "start": s, "end": e}
                        for r, n, p, s, e in self.spans
                    ],
                },
                f,
            )
