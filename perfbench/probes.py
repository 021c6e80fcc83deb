"""Measurements taken from outside the engine: /proc process accounting,
JVM management beans and Spark's status tracker."""

from __future__ import annotations

import glob
import os
import shutil
import tempfile

_TICK = os.sysconf("SC_CLK_TCK")


def _stat(pid: int) -> tuple[str, int, float, float] | None:
    """(comm, ppid, own cpu s, reaped-children cpu s) from /proc/<pid>/stat."""
    try:
        with open(f"/proc/{pid}/stat") as fh:
            raw = fh.read()
    except OSError:
        return None
    comm = raw[raw.index("(") + 1: raw.rindex(")")]
    f = raw[raw.rindex(")") + 2:].split()
    # Fields after comm start at field 3 (state): ppid=4, utime=14 .. cstime=17.
    return comm, int(f[1]), (int(f[11]) + int(f[12])) / _TICK, (int(f[13]) + int(f[14])) / _TICK


class ProcessTree:
    """The Python driver, the JVM it launched, and the pyspark daemon and
    workers below the JVM."""

    def __init__(self) -> None:
        self.root = os.getpid()

    def descendants(self) -> list[tuple[int, str, float, float]]:
        stats = {}
        for d in os.listdir("/proc"):
            if d.isdigit() and (s := _stat(int(d))) is not None:
                stats[int(d)] = s
        out, frontier = [], [self.root]
        while frontier:
            parent = frontier.pop()
            for pid, (comm, ppid, own, reaped) in stats.items():
                if ppid == parent:
                    out.append((pid, comm, own, reaped))
                    frontier.append(pid)
        return out

    def cpu(self) -> dict[str, float]:
        """Cumulative CPU seconds of the driver, the JVM and Python workers
        (workers that exited count through their parent's reaped time)."""
        _, _, own, _ = _stat(self.root)
        out = {"driver": own, "jvm": 0.0, "pyworker": 0.0}
        for _, comm, own, reaped in self.descendants():
            if comm == "java":
                out["jvm"] += own
            else:
                out["pyworker"] += own + reaped
        return out

    def _status_mb(self, field: str, pids: list[int]) -> float:
        total = 0
        for pid in pids:
            try:
                with open(f"/proc/{pid}/status") as fh:
                    for line in fh:
                        if line.startswith(field):
                            total += int(line.split()[1])
            except OSError:
                pass
        return total / 1024

    def peak_rss_mb(self) -> float:
        """Sum of each live process's peak resident set (VmHWM)."""
        return self._status_mb("VmHWM:", [self.root] + [p for p, *_ in self.descendants()])

    def worker_rss_mb(self) -> float:
        """Current resident set (VmRSS) of the pyspark daemon and workers
        below the JVM. The driver is left out: it also holds the
        benchmark's own memory (oracle results, DuckDB)."""
        pids = [p for p, comm, *_ in self.descendants() if comm != "java"]
        return self._status_mb("VmRSS:", pids)


class Jvm:
    """Garbage-collection time, heap peak and retained memory from the
    JVM's management beans."""

    def __init__(self, spark) -> None:
        mf = self._mf = spark.sparkContext._jvm.java.lang.management.ManagementFactory
        self._gcs = list(mf.getGarbageCollectorMXBeans())
        self._heap = [p for p in mf.getMemoryPoolMXBeans() if str(p.getType()) == "Heap memory"]

    def retained_mb(self) -> float:
        """Heap and non-heap memory in use after a full collection: what
        the JVM still holds for caches, memos and state."""
        mx = self._mf.getMemoryMXBean()
        mx.gc()
        return (mx.getHeapMemoryUsage().getUsed() + mx.getNonHeapMemoryUsage().getUsed()) / 2**20

    def gc_ms(self) -> float:
        return float(sum(max(0, g.getCollectionTime()) for g in self._gcs))

    def reset_heap_peak(self) -> None:
        for p in self._heap:
            p.resetPeakUsage()

    def heap_peak_mb(self) -> float:
        return sum(p.getPeakUsage().getUsed() for p in self._heap) / 2**20


def cached_storage(spark) -> tuple[float, int]:
    """(MB in memory, partitions) over every cached RDD."""
    infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    return (sum(i.memSize() for i in infos) / 2**20,
            sum(i.numCachedPartitions() for i in infos))


def job_counts(spark, groups: list[str]) -> dict[str, int]:
    """Jobs, stages that ran tasks, tasks run and tasks failed in the
    given job groups, from Spark's status tracker."""
    st = spark.sparkContext.statusTracker()
    out = {"jobs": 0, "stages": 0, "tasks": 0, "tasks_failed": 0}
    for g in groups:
        for jid in st.getJobIdsForGroup(g):
            info = st.getJobInfo(jid)
            if info is None:
                continue
            out["jobs"] += 1
            for sid in info.stageIds:
                si = st.getStageInfo(sid)
                if si is None or si.numCompletedTasks + si.numFailedTasks == 0:
                    continue
                out["stages"] += 1
                out["tasks"] += si.numCompletedTasks + si.numFailedTasks
                out["tasks_failed"] += si.numFailedTasks
    return out


class ScratchDirs:
    """Streaming rungs make `alsp_*` scratch dirs under /dev/shm (and the
    temp dir); a killed run leaves them behind. Counts the ones a request
    leaves and removes, at close, every one made since this was created."""

    def __init__(self) -> None:
        self._bases = [b for b in ("/dev/shm", tempfile.gettempdir()) if os.path.isdir(b)]
        self._before = self._list()

    def _list(self) -> set[str]:
        return {p for b in self._bases for p in glob.glob(os.path.join(b, "alsp_*"))}

    def leaked(self, since: set[str]) -> int:
        return len(self._list() - since)

    def snapshot(self) -> set[str]:
        return self._list()

    def close(self) -> None:
        for p in self._list() - self._before:
            shutil.rmtree(p, ignore_errors=True)
