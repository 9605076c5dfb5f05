"""Counters the benchmark reads around each timed call.

- ``ProcTree``: CPU seconds of this process and every descendant (the Spark
  JVM, the Python worker daemon and its workers), from ``/proc``, less the
  JVM's JIT compiler threads. Workers that exit are reaped by their parent,
  so their CPU moves into the parent's ``cutime``/``cstime`` and stays
  counted.
- ``RssPeak``: a sampling thread that keeps the peak RSS of the Python worker
  processes, summed and of the largest one.
- ``StageCounters``: Spark's own per-stage counters for every job run under a
  job group, read from the status store (works with the UI off).
"""

from __future__ import annotations

import os
import threading
import time

_TICK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def _stat(pid) -> list[str] | None:
    """Fields of /proc/<pid>/stat after the ``(comm)`` field, or None if the
    process is gone."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    return raw[raw.rindex(")") + 2:].split()


class ProcTree:
    """CPU and memory of the process tree rooted at this process."""

    def __init__(self, jvm_pid: int):
        self.root = os.getpid()
        self.jvm_pid = jvm_pid

    def _children(self) -> dict[int, list[int]]:
        kids: dict[int, list[int]] = {}
        for name in os.listdir("/proc"):
            if name.isdigit():
                st = _stat(int(name))
                if st is not None:
                    kids.setdefault(int(st[1]), []).append(int(name))
        return kids

    def _descendants(self, pid: int) -> list[int]:
        kids = self._children()
        out, todo = [], [pid]
        while todo:
            p = todo.pop()
            out.append(p)
            todo.extend(kids.get(p, ()))
        return out

    def jit_cpu(self) -> float:
        """CPU seconds of the JVM's JIT compiler threads. run.py starts the
        JVM with ``-XX:-UseDynamicNumberOfCompilerThreads``, so every
        compiler thread lives as long as the JVM: a thread that retired would
        take the CPU it used since its last reading into the process's own
        utime/stime, out of reach of this subtraction."""
        task_dir = f"/proc/{self.jvm_pid}/task"
        total = 0.0
        for tid in os.listdir(task_dir):
            try:
                with open(f"{task_dir}/{tid}/comm") as f:
                    if not f.read().startswith(("C1 Compiler", "C2 Compiler")):
                        continue
            except OSError:
                continue
            st = _stat(f"{self.jvm_pid}/task/{tid}")
            if st is not None:
                total += (int(st[11]) + int(st[12])) / _TICK
        return total

    def cpu(self) -> tuple[float, float]:
        """(tree CPU s, JVM-only CPU s), both without the JIT compiler
        threads. The tree counts reaped children (``cutime``/``cstime``);
        the JVM figure is its own threads only.

        JIT compiling is warm-up work that goes on for several iterations
        and whose amount varies from run to run by more than a second per
        iteration, so it is left out."""
        jit = self.jit_cpu()
        tree, jvm = -jit, 0.0
        for pid in self._descendants(self.root):
            st = _stat(pid)
            if st is None:
                continue
            own = (int(st[11]) + int(st[12])) / _TICK          # utime + stime
            tree += own + (int(st[13]) + int(st[14])) / _TICK  # + reaped children
            if pid == self.jvm_pid:
                jvm = own - jit
        return tree, jvm

    def worker_rss_bytes(self) -> tuple[int, int]:
        """(summed RSS, largest single RSS) of the Python processes the JVM
        started."""
        total = largest = 0
        for pid in self._descendants(self.jvm_pid)[1:]:
            try:
                with open(f"/proc/{pid}/statm") as f:
                    rss = int(f.read().split()[1]) * _PAGE
            except OSError:
                continue
            total += rss
            largest = max(largest, rss)
        return total, largest


class RssPeak:
    """Peaks of ``ProcTree.worker_rss_bytes`` since the last ``reset``."""

    def __init__(self, tree: ProcTree, period_s: float = 0.05):
        self._tree = tree
        self._period = period_s
        self._peak = (0, 0)
        self._lock = threading.Lock()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def __enter__(self) -> RssPeak:
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)

    def _run(self) -> None:
        while not self._stop.wait(self._period):
            total, largest = self._tree.worker_rss_bytes()
            with self._lock:
                self._peak = (max(self._peak[0], total), max(self._peak[1], largest))

    def reset(self) -> tuple[int, int]:
        """Return the (summed, largest) peaks so far; start a new window."""
        with self._lock:
            peak, self._peak = self._peak, (0, 0)
        return peak


class StageCounters:
    """Sums of Spark's stage counters over every job of one job group."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        jsc = self.sc._jsc.sc()
        self._bus = jsc.listenerBus()
        self._store = jsc.statusStore()
        gw = self.sc._gateway
        self._no_quantiles = gw.new_array(gw.jvm.double, 0)
        self._no_status = gw.jvm.java.util.ArrayList()

    def read(self, group: str) -> dict[str, float]:
        """Counters of ``group``'s stages, every attempt included. Waits for
        the listener bus so the last task-end events are counted."""
        self._bus.waitUntilEmpty()
        out = {"jobs": 0, "shuffle_write_bytes": 0, "fetch_wait_ms": 0,
               "tasks_failed": 0, "stage_retries": 0, "jvm_task_cpu_ns": 0}
        for job_id in self.sc.statusTracker().getJobIdsForGroup(group):
            out["jobs"] += 1
            sids = self._store.job(job_id).stageIds()
            for i in range(sids.size()):
                attempts = self._store.stageData(
                    sids.apply(i), False, self._no_status, False,
                    self._no_quantiles)
                for k in range(attempts.size()):
                    s = attempts.apply(k)
                    if s.status().toString() == "SKIPPED":
                        continue
                    out["stage_retries"] += int(s.attemptId() > 0)
                    out["tasks_failed"] += s.numFailedTasks()
                    out["shuffle_write_bytes"] += s.shuffleWriteBytes()
                    out["fetch_wait_ms"] += s.shuffleFetchWaitTime()
                    out["jvm_task_cpu_ns"] += s.executorCpuTime()
        return out


class Meter:
    """Times one call into the program: wall, process-tree CPU, JVM CPU,
    worker peak RSS (0 without an ``RssPeak``) and the stage counters of its
    job group."""

    def __init__(self, tree: ProcTree, rss: RssPeak | None, stages: StageCounters):
        self.tree, self.rss, self.stages = tree, rss, stages
        self._n = 0
        self.last: dict = {}

    def measure(self, name: str, fn):
        """Run ``fn()`` under a fresh job group; return (result, counters)."""
        self._n += 1
        group = f"{name}#{self._n}"
        self.stages.sc.setJobGroup(group, group)
        if self.rss:
            self.rss.reset()
        cpu0, jvm0 = self.tree.cpu()
        t0 = time.perf_counter()
        result = fn()
        wall = time.perf_counter() - t0
        cpu1, jvm1 = self.tree.cpu()
        c = self.stages.read(group)
        rss_sum, rss_max = self.rss.reset() if self.rss else (0, 0)
        c.update(wall_s=wall, cpu_s=cpu1 - cpu0, jvm_cpu_s=jvm1 - jvm0,
                 workers_peak_rss_bytes=rss_sum,
                 workers_largest_peak_rss_bytes=rss_max)
        self.last = c
        return result, c
