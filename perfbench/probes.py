"""Tracing from outside the program: spans around public calls, counters
read from ``/proc``, the JVM's GC beans and Spark's status tracker.

Spans stay in memory and are written out once, when the run ends.
"""

from __future__ import annotations

import functools
import json
import os
import resource
import time
from contextlib import contextmanager

_CLK_TCK = os.sysconf("SC_CLK_TCK")


class Spans:
    """In-memory span recorder.  ``wrap`` replaces a module attribute with a
    timing wrapper; ``restore`` puts every wrapped attribute back."""

    def __init__(self) -> None:
        self.records: list[dict] = []
        self._stack: list[int] = []
        self._wrapped: list[tuple[object, str, object]] = []

    @contextmanager
    def span(self, name: str, **attrs):
        rec = {
            "id": len(self.records),
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            **attrs,
        }
        self.records.append(rec)
        self._stack.append(rec["id"])
        rec["start"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()

    def wrap(self, owner: object, attr: str, name: str) -> None:
        original = getattr(owner, attr)

        @functools.wraps(original)
        def timed(*args, **kwargs):
            with self.span(name):
                return original(*args, **kwargs)

        setattr(owner, attr, timed)
        self._wrapped.append((owner, attr, original))

    def restore(self) -> None:
        while self._wrapped:
            owner, attr, original = self._wrapped.pop()
            setattr(owner, attr, original)

    def durations(self, name: str) -> list[float]:
        return [r["end"] - r["start"] for r in self.records if r["name"] == name]

    def self_time(self, name: str) -> list[float]:
        """Per span of ``name``: its duration minus its direct children's."""
        child: dict[int, float] = {}
        for r in self.records:
            if r["parent"] is not None:
                child[r["parent"]] = child.get(r["parent"], 0.0) + r["end"] - r["start"]
        return [
            r["end"] - r["start"] - child.get(r["id"], 0.0)
            for r in self.records
            if r["name"] == name
        ]

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            for r in self.records:
                f.write(json.dumps(r, default=str) + "\n")


# -- /proc counters ----------------------------------------------------------


def _stat_fields(pid: int, tid: int | None = None) -> list[str]:
    path = f"/proc/{pid}/stat" if tid is None else f"/proc/{pid}/task/{tid}/stat"
    with open(path) as f:
        raw = f.read()
    # comm may hold spaces; fields after it are space-separated
    return [raw[raw.index("(") + 1 : raw.rindex(")")]] + raw[raw.rindex(")") + 2 :].split()


def proc_cpu_s(pid: int, with_children: bool = False) -> float:
    """utime + stime of ``pid`` (plus reaped children's time if asked)."""
    f = _stat_fields(pid)
    # f[0]=comm, f[1]=state, f[2]=ppid ... utime=f[12], stime=f[13],
    # cutime=f[14], cstime=f[15] (proc(5) fields 14-17)
    ticks = int(f[12]) + int(f[13])
    if with_children:
        ticks += int(f[14]) + int(f[15])
    return ticks / _CLK_TCK


def descendants(root: int) -> dict[int, str]:
    """pid -> comm of every live descendant of ``root``."""
    children: dict[int, list[tuple[int, str]]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            f = _stat_fields(int(entry))
        except (OSError, ValueError):
            continue
        children.setdefault(int(f[2]), []).append((int(entry), f[0]))
    out: dict[int, str] = {}
    todo = [root]
    while todo:
        for pid, comm in children.get(todo.pop(), []):
            out[pid] = comm
            todo.append(pid)
    return out


def pyworker_cpu_s(jvm_pid: int) -> float:
    """CPU seconds of the JVM's Python worker processes (daemon and forked
    workers; a reaped worker's time moves into the daemon's child time)."""
    total = 0.0
    for pid, comm in descendants(jvm_pid).items():
        if comm.startswith("python"):
            try:
                total += proc_cpu_s(pid, with_children=True)
            except OSError:
                pass
    return total


#: HotSpot's JIT compiler threads ("C1 CompilerThread0", "C2 Compiler...")
_JIT_THREAD = ("C1 Compiler", "C2 Compiler")


def jvm_thread_cpu(jvm_pid: int) -> dict[int, float]:
    """tid -> CPU seconds of each live JVM thread but the JIT compilers."""
    out = {}
    for tid in os.listdir(f"/proc/{jvm_pid}/task"):
        try:
            f = _stat_fields(jvm_pid, int(tid))
        except OSError:
            continue
        if not f[0].startswith(_JIT_THREAD):
            out[int(tid)] = (int(f[12]) + int(f[13])) / _CLK_TCK
    return out


class SparkCpu:
    """CPU seconds a Spark client spends between ``start`` and ``stop``:
    the JVM's threads (tasks, planner, scheduler, GC) without its JIT
    compilers, its Python workers, and this process.

    JIT compilation is the JVM's warm-up, not the query's work, and it
    runs for minutes after start: in a sql_mix run the compiler threads
    used over half of the JVM's CPU time.  Threads are matched by id, so
    threads that start or end between the samples (Spark's pooled task
    threads) count only for the time they were seen.  Time the hypervisor
    gave to other guests is not counted.
    """

    def __init__(self, jvm_pid: int) -> None:
        self.jvm = jvm_pid

    def _sample(self):
        return jvm_thread_cpu(self.jvm), pyworker_cpu_s(self.jvm), time.process_time()

    def start(self) -> None:
        self._start = self._sample()

    def stop(self) -> tuple[float, float, float]:
        """(JVM, Python workers, client) CPU seconds since ``start``."""
        (threads0, py0, client0), (threads1, py1, client1) = self._start, self._sample()
        jvm = sum(v - threads0.get(tid, 0.0) for tid, v in threads1.items())
        return jvm, py1 - py0, client1 - client0


def children_cpu_s() -> float:
    """CPU seconds of every child process that has ended and been waited
    for, with the descendants each of them waited for."""
    ru = resource.getrusage(resource.RUSAGE_CHILDREN)
    return ru.ru_utime + ru.ru_stime


def rss_peak_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def loadavg() -> list[float]:
    with open("/proc/loadavg") as f:
        return [float(x) for x in f.read().split()[:3]]


def cpu_times() -> list[int]:
    """The machine's aggregate CPU times from ``/proc/stat``, in ticks:
    user, nice, system, idle, iowait, irq, softirq, steal."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:9]]


def steal_frac(start: list[int], end: list[int]) -> float:
    """Share of the CPU time between two ``cpu_times`` samples that the
    hypervisor gave to other guests."""
    delta = [b - a for a, b in zip(start, end)]
    return delta[7] / max(1, sum(delta))


def steal_s(start: list[int], end: list[int]) -> float:
    """Wall seconds, averaged over the machine's CPUs, that the hypervisor
    gave to other guests between two ``cpu_times`` samples."""
    return (end[7] - start[7]) / _CLK_TCK / (os.cpu_count() or 1)


def mem_available_mb() -> float:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemAvailable:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


# -- JVM / Spark counters ------------------------------------------------------


def jvm_pid(spark) -> int:
    return spark.sparkContext._gateway.proc.pid


def jvm_gc_s(spark) -> float:
    beans = spark.sparkContext._jvm.java.lang.management.ManagementFactory
    return sum(
        max(0, b.getCollectionTime()) for b in beans.getGarbageCollectorMXBeans()
    ) / 1000.0


def job_counts(spark, group: str) -> tuple[int, int, int]:
    """(jobs, stages, tasks) Spark ran under job group ``group``."""
    tracker = spark.sparkContext.statusTracker()
    jobs = stages = tasks = 0
    for jid in tracker.getJobIdsForGroup(group):
        info = tracker.getJobInfo(jid)
        if info is None:
            continue
        jobs += 1
        for sid in info.stageIds:
            stage = tracker.getStageInfo(sid)
            if stage is not None:
                stages += 1
                tasks += stage.numTasks
    return jobs, stages, tasks
