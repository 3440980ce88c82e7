"""Spans, Spark stage counters, process-tree RSS and host context.

A span wraps one call into a layer's public function from outside the
program.  Each span that drives Spark runs under its own job group; after the
call returns, the group's stage metrics are read from the Spark context's status
store (``sc.statusTracker()`` and ``statusStore().lastStageAttempt``), which
works with the UI disabled.  Spans stay in memory until ``dump``.
"""

from __future__ import annotations

import json
import os
import threading
import time
from contextlib import contextmanager
from typing import Dict, List, Optional, Tuple

MB = 1e6

STAGE_FIELDS = (
    "executorRunTime",
    "executorCpuTime",
    "numCompleteTasks",
    "inputBytes",
    "outputBytes",
    "shuffleReadBytes",
    "shuffleWriteBytes",
    "memoryBytesSpilled",
    "diskBytesSpilled",
)


def stage_totals(sc, group: str) -> Dict[str, int]:
    """Sum of the stage metrics of every job run under ``group``; skipped
    stages (reused shuffle output) contribute nothing."""
    jsc = sc._jsc.sc()
    jsc.listenerBus().waitUntilEmpty()
    store = jsc.statusStore()
    tracker = sc.statusTracker()
    totals = dict.fromkeys(STAGE_FIELDS, 0)
    totals["jobs"] = totals["stages"] = 0
    for job_id in tracker.getJobIdsForGroup(group):
        info = tracker.getJobInfo(job_id)
        totals["jobs"] += 1
        for stage_id in info.stageIds if info else ():
            data = store.lastStageAttempt(stage_id)
            if data.status().toString() == "SKIPPED":
                continue
            totals["stages"] += 1
            for field in STAGE_FIELDS:
                totals[field] += getattr(data, field)()
    return totals


class Tracer:
    """In-memory span recorder.  ``enabled=False`` times nothing but the
    caller's own clock: no job groups, no status-store reads."""

    def __init__(self, sc, enabled: bool):
        self.sc = sc
        self.enabled = enabled
        self.t0 = time.perf_counter()
        self.spans: List[Dict] = []
        self._stack: List[int] = []

    @contextmanager
    def span(self, name: str, spark_job: bool = True):
        """Record one call.  Spans that drive Spark must not nest: a job
        group is one thread-local property."""
        if not self.enabled:
            yield {}
            return
        sid = len(self.spans)
        group = f"pb{sid}-{name}" if spark_job else None
        rec = {"id": sid, "name": name, "parent": self._stack[-1] if self._stack else None,
               "job_group": group}
        self.spans.append(rec)
        self._stack.append(sid)
        if group:
            self.sc.setJobGroup(group, name)
        rec["start"] = time.perf_counter() - self.t0
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter() - self.t0
            self._stack.pop()
            if group:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)
                rec["stages"] = stage_totals(self.sc, group)

    def dump(self, path: str, extra: Dict) -> None:
        with open(path, "w") as f:
            json.dump({"spans": self.spans, **extra}, f, indent=1, default=str)


def span_s(rec: Dict) -> float:
    return rec["end"] - rec["start"]


def _pss(pid: int) -> int:
    """Proportional set size: pages shared between processes (a Python worker
    and the daemon it was forked from) are split among them, not repeated."""
    with open(f"/proc/{pid}/smaps_rollup") as f:
        for line in f:
            if line.startswith("Pss:"):
                return int(line.split()[1]) * 1024
    return 0


class RssSampler:
    """Peak resident memory of this process and all its descendants (the
    Spark JVM and the Python workers), sampled from ``/proc``.  The JVM
    counts its RSS; the Python processes, which fork from one another, count
    their proportional set size so that shared pages count once."""

    def __init__(self, interval: float = 0.1):
        self.interval = interval
        self.peak = 0
        self._stop = threading.Event()
        self._thread: Optional[threading.Thread] = None
        self._page = os.sysconf("SC_PAGE_SIZE")

    def tree_rss(self) -> int:
        procs: Dict[int, Tuple[int, str]] = {}  # pid -> (ppid, command name)
        children: Dict[int, List[int]] = {}
        for entry in os.listdir("/proc"):
            if not entry.isdigit():
                continue
            try:
                with open(f"/proc/{entry}/stat") as f:
                    head, _, tail = f.read().rpartition(")")
                procs[int(entry)] = (int(tail.split()[1]), head.partition("(")[2])
            except (OSError, ValueError, IndexError):
                continue
            children.setdefault(procs[int(entry)][0], []).append(int(entry))
        total, todo = 0, [os.getpid()]
        while todo:
            pid = todo.pop()
            todo.extend(children.get(pid, ()))
            ppid, name = procs.get(pid, (0, ""))
            if name == "java" and procs.get(ppid, (0, ""))[1] == "java":
                # the JVM starts helpers through posix_spawn: until the child
                # execs it shares the JVM's memory, which is counted already
                continue
            try:
                total += self._jvm_rss(pid) if name == "java" else _pss(pid)
            except (OSError, ValueError, IndexError):
                pass
        return total

    def _jvm_rss(self, pid: int) -> int:
        with open(f"/proc/{pid}/statm") as f:
            return int(f.read().split()[1]) * self._page

    def _run(self) -> None:
        while not self._stop.is_set():
            self.peak = max(self.peak, self.tree_rss())
            self._stop.wait(self.interval)

    def __enter__(self) -> "RssSampler":
        self._thread = threading.Thread(target=self._run, daemon=True)
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
        self.peak = max(self.peak, self.tree_rss())


def host_context() -> Dict:
    """CPU count and load averages: context for reading a run, never gated."""
    return {
        "nproc": len(os.sched_getaffinity(0)),
        "cpu_count": os.cpu_count(),
        "loadavg": list(os.getloadavg()),
    }
