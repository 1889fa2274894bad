"""Measurement probes that sit outside the engine.

- ``TreeSampler``: a background thread that samples the RSS of this
  process and all of its descendants (driver JVM, Python workers) from
  ``/proc`` and counts the live Python workers.
- ``jvm_counters``: cumulative JVM-wide counters read through py4j from
  Spark's and the JVM's own public APIs (``CodegenMetrics``,
  ``HiveCatalogMetrics``, the compilation and GC MXBeans);
  ``persistent_rdds`` reads the persistent-RDD registry.
- ``job_counts``: jobs/stages/tasks of one job group from the
  ``statusTracker``.
- ``host_controls`` and ``cpu_jiffies``: context about the host (cores,
  load, a fixed numpy matmul timing, CPU steal) so host contention can be
  told apart from a code change.
"""

from __future__ import annotations

import os
import statistics
import threading
import time

_PAGE = os.sysconf("SC_PAGE_SIZE")


def _proc_table() -> dict[int, tuple[int, bytes]]:
    """pid -> (parent pid, command name) of every process."""
    table = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat", "rb") as f:
                stat = f.read()
        except OSError:
            continue
        # the command name may hold spaces/parens: fields follow the last ')'
        comm = stat[stat.index(b"(") + 1 : stat.rindex(b")")]
        table[int(name)] = (int(stat[stat.rindex(b")") + 2 :].split()[1]), comm)
    return table


def _exe(pid: int) -> str | None:
    try:
        return os.readlink(f"/proc/{pid}/exe")
    except OSError:
        return None


def process_tree(root: int, memory_only: bool = False) -> list[int]:
    """``root`` and its descendants. With ``memory_only``, skip a JVM's
    child that still runs the JVM's executable: a fork on its way to exec
    (the JVM spawns helpers), whose resident set is the parent's own
    pages. Its name is the forking thread's, not ``java``, so the check
    is on the executable."""
    table = _proc_table()
    kids: dict[int, list[int]] = {}
    for pid, (ppid, _) in table.items():
        kids.setdefault(ppid, []).append(pid)
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        for kid in kids.get(pid, ()):
            if memory_only and table[pid][1] == b"java" and _exe(kid) == _exe(pid):
                continue
            todo.append(kid)
    return out


def _rss_bytes(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/statm", "rb") as f:
            return int(f.read().split()[1]) * _PAGE
    except (OSError, IndexError, ValueError):
        return 0


def _is_python_worker(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/cmdline", "rb") as f:
            cmd = f.read()
    except OSError:
        return False
    return b"pyspark.daemon" in cmd or b"pyspark.worker" in cmd


class TreeSampler:
    """Peak RSS of the process tree rooted here, plus the peak number of
    Python worker processes in the current window (``reset_window``)."""

    interval_s = 0.2

    def __init__(self) -> None:
        self.peak_rss = 0
        self.window_workers = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _sample(self) -> None:
        pids = process_tree(os.getpid(), memory_only=True)
        self.peak_rss = max(self.peak_rss, sum(_rss_bytes(p) for p in pids))
        # the worker daemon forks one process per concurrent task
        workers = sum(_is_python_worker(p) for p in pids)
        self.window_workers = max(self.window_workers, workers)

    def _loop(self) -> None:
        while not self._stop.wait(self.interval_s):
            self._sample()

    def start(self) -> "TreeSampler":
        self._sample()
        self._thread.start()
        return self

    def reset_window(self) -> None:
        self.window_workers = 0

    def stop(self) -> None:
        self._stop.set()
        self._thread.join()
        self._sample()


def jvm_counters(spark) -> dict[str, float]:
    """Cumulative JVM-wide counters; diff two readings for an interval."""
    jvm = spark._jvm
    src = jvm.org.apache.spark.metrics.source
    mf = jvm.java.lang.management.ManagementFactory
    gc_ms = sum(b.getCollectionTime() for b in mf.getGarbageCollectorMXBeans())
    return {
        "codegen.compiles": src.CodegenMetrics.METRIC_COMPILATION_TIME().getCount(),
        "sources.files_discovered": src.HiveCatalogMetrics.METRIC_FILES_DISCOVERED().getCount(),
        "jvm.jit_s": mf.getCompilationMXBean().getTotalCompilationTime() / 1000.0,
        "jvm.gc_s": gc_ms / 1000.0,
    }


def persistent_rdds(spark) -> int:
    return spark.sparkContext._jsc.sc().getPersistentRDDs().size()


def job_counts(spark, group: str, settle_s: float = 5.0) -> dict[str, int]:
    """Exact jobs/stages/tasks of one job group. The status store is fed
    by the asynchronous listener bus, so wait until every job of the
    group has been seen to finish before reading its stages."""
    st = spark.sparkContext.statusTracker()
    deadline = time.monotonic() + settle_s
    while True:
        jobs = [st.getJobInfo(j) for j in st.getJobIdsForGroup(group)]
        done = all(j is not None and j.status in ("SUCCEEDED", "FAILED") for j in jobs)
        if done or time.monotonic() > deadline:
            break
        time.sleep(0.01)
    stage_ids = sorted({s for j in jobs if j is not None for s in j.stageIds})
    tasks = failed = 0
    for sid in stage_ids:
        info = st.getStageInfo(sid)
        if info is not None:
            tasks += info.numCompletedTasks
            failed += info.numFailedTasks
    return {
        "spark.jobs": len(jobs),
        "spark.stages": len(stage_ids),
        "spark.tasks": tasks,
        "spark.failed_tasks": failed,
    }


def cpu_jiffies() -> tuple[int, int]:
    """(stolen, total) CPU time of the whole host from ``/proc/stat``:
    steal is time the hypervisor ran other guests on this VM's cores."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:]]
    return fields[7], sum(fields[:8])


def host_controls() -> dict[str, float]:
    """Cores, 1-minute load and the median of five fixed 384x384 float64
    matmuls (single BLAS call each) — context, not a gated metric."""
    import numpy as np

    a = np.random.default_rng(0).random((384, 384))
    (a @ a).sum()
    times = []
    for _ in range(5):
        t = time.perf_counter()
        (a @ a).sum()
        times.append(time.perf_counter() - t)
    with open("/proc/loadavg") as f:
        load1 = float(f.read().split()[0])
    return {
        "nproc": len(os.sched_getaffinity(0)),
        "loadavg_1m": load1,
        "matmul_ms": statistics.median(times) * 1000.0,
    }
