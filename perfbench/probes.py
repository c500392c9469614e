"""Measurements taken from outside the engine.

Nothing here reaches into ``dmi_ingestor_spark``: CPU and memory come
from ``/proc`` for the driver's process tree (driver Python -> JVM ->
Python workers), garbage collection from the JVM's
``GarbageCollectorMXBeans``, job/stage/task counts from Spark's
``statusTracker`` by job group, and spans are recorded in memory around
the benchmark's own calls into each module's public functions.
"""

from __future__ import annotations

import os
import threading
import time
from contextlib import contextmanager

_TICK = os.sysconf("SC_CLK_TCK")
_RSS_PERIOD_S = 0.05  # RSS sampling period
_WORKERS_REFRESH_S = 1.0  # how often the Python-worker list is re-read


def process_start_epoch() -> float:
    """Wall-clock time at which this process started (from /proc)."""
    with open("/proc/self/stat") as fh:
        start_ticks = int(fh.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as fh:
        uptime = float(fh.read().split()[0])
    return time.time() - uptime + start_ticks / _TICK


def _proc_table() -> dict[int, tuple[int, str, float, float]]:
    """pid -> (ppid, comm, own cpu s, cpu s of reaped children)."""
    table = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                raw = fh.read()
        except OSError:
            continue  # exited while listing
        comm = raw[raw.index("(") + 1 : raw.rindex(")")]
        f = raw.rsplit(")", 1)[1].split()
        # after comm: state(0) ppid(1) ... utime(11) stime(12) cutime(13) cstime(14)
        table[int(name)] = (
            int(f[1]),
            comm,
            (int(f[11]) + int(f[12])) / _TICK,
            (int(f[13]) + int(f[14])) / _TICK,
        )
    return table


def _kib(pid: int, key: str) -> int:
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith(key):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def descendants(root: int, table: dict | None = None) -> list[int]:
    table = _proc_table() if table is None else table
    children: dict[int, list[int]] = {}
    for pid, (ppid, *_) in table.items():
        children.setdefault(ppid, []).append(pid)
    out, todo = [], [root]
    while todo:
        kids = children.get(todo.pop(), [])
        out += kids
        todo += kids
    return out


class ProcessTree:
    """CPU and RSS of the driver, the JVM and the JVM's Python workers."""

    def __init__(self, jvm_pid: int):
        self.driver_pid = os.getpid()
        self.jvm_pid = jvm_pid

    def workers(self) -> list[int]:
        table = _proc_table()
        return [p for p in descendants(self.jvm_pid, table) if table[p][1].startswith("python")]

    def cpu(self) -> dict[str, float]:
        """Cumulative CPU seconds: whole tree, JVM alone, Python workers.
        A process that exited counts through its parent's reaped-children
        time, so a tree total only grows."""
        t = _proc_table()
        total = lambda pids: sum(t[p][2] + t[p][3] for p in pids)  # noqa: E731
        return {
            "tree": total([self.driver_pid, *descendants(self.driver_pid, t)]),
            "jvm": t[self.jvm_pid][2],
            "python_workers": t[self.jvm_pid][3] + total(descendants(self.jvm_pid, t)),
        }


class RssSampler:
    """Samples RSS on a thread and keeps peaks: the driver's own
    high-water mark plus the largest sampled sum over the live Python
    workers, and the JVM's high-water mark. The worker list is
    refreshed once a second, because walking /proc costs far more than
    reading a few status files."""

    def __init__(self, tree: ProcessTree):
        self.tree = tree
        self.workers_peak_kib = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        pids, listed = [], float("-inf")
        while not self._stop.is_set():
            if time.monotonic() - listed >= _WORKERS_REFRESH_S:
                pids, listed = self.tree.workers(), time.monotonic()
            s = sum(_kib(p, "VmRSS") for p in pids)
            self.workers_peak_kib = max(self.workers_peak_kib, s)
            self._stop.wait(_RSS_PERIOD_S)

    def __enter__(self) -> RssSampler:
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()

    def python_peak_mb(self) -> float:
        return (_kib(self.tree.driver_pid, "VmHWM") + self.workers_peak_kib) / 1024

    def workers_peak_mb(self) -> float:
        return self.workers_peak_kib / 1024

    def jvm_peak_mb(self) -> float:
        return _kib(self.tree.jvm_pid, "VmHWM") / 1024


def jvm_gc_seconds(spark) -> float:
    beans = spark.sparkContext._jvm.java.lang.management.ManagementFactory
    return sum(b.getCollectionTime() for b in beans.getGarbageCollectorMXBeans()) / 1000


def group_counts(spark, group: str) -> dict[str, int]:
    """Jobs, stages that ran, and tasks completed under a job group."""
    st = spark.sparkContext.statusTracker()
    jobs = st.getJobIdsForGroup(group)
    stage_ids = {s for j in jobs if (info := st.getJobInfo(j)) for s in info.stageIds}
    ran = [i for s in stage_ids if (i := st.getStageInfo(s)) and i.numCompletedTasks > 0]
    return {
        "jobs": len(jobs),
        "stages": len(ran),
        "tasks": sum(i.numCompletedTasks for i in ran),
    }


def cached_rdds(spark) -> tuple[int, float]:
    """(persisted RDDs holding data, their MB in memory plus on disk)."""
    infos = [
        r
        for r in spark.sparkContext._jsc.sc().getRDDStorageInfo()
        if r.numCachedPartitions() > 0
    ]
    return len(infos), sum(r.memSize() + r.diskSize() for r in infos) / 2**20


class Tracer:
    """In-memory spans: name, start, end, parent span, and trace id (one
    per benchmark operation). ``enabled=False`` records nothing."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.trace_id = ""
        self.overhead_s = 0.0  # time spent in tracing bookkeeping

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield {}
            return
        rec = {
            "name": name,
            "trace": self.trace_id,
            "parent": self._stack[-1] if self._stack else None,
            "start": time.perf_counter(),
            **attrs,
        }
        self.spans.append(rec)
        self._stack.append(len(self.spans) - 1)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()

    @contextmanager
    def bookkeeping(self):
        """Times the tracer's own counting into ``overhead_s``."""
        t = time.perf_counter()
        try:
            yield
        finally:
            self.overhead_s += time.perf_counter() - t

    def durations(self, name: str) -> list[float]:
        return [s["end"] - s["start"] for s in self.spans if s["name"] == name and "end" in s]
