"""Process-tree resource probe read from ``/proc``.

The measured tree is the Spark JVM (a child of this Python process)
and every process below it — the Python daemon and its Arrow/pandas
workers.  CPU is user + system ticks, I/O is ``write_bytes`` from
``/proc/<pid>/io`` (bytes sent to storage: outputs, shuffle, spill and
staging) and worker memory is the Python processes' proportional set
size, sampled.  The JVM's own memory is read from its memory pools
(``JvmPeakMemory``), not from ``/proc``: its resident size mostly
shows how far the heap has grown, not what a job uses.
"""

from __future__ import annotations

import os
import threading
from dataclasses import dataclass

_TICK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def _children(pid: int) -> list[int]:
    out = []
    try:
        tasks = os.listdir(f"/proc/{pid}/task")
    except OSError:
        return out
    for tid in tasks:
        try:
            with open(f"/proc/{pid}/task/{tid}/children") as f:
                out += [int(c) for c in f.read().split()]
        except OSError:
            continue
    return out


def descendants(root: int) -> list[int]:
    """``root``'s live descendants, depth first (not ``root`` itself)."""
    out, stack = [], _children(root)
    while stack:
        pid = stack.pop()
        out.append(pid)
        stack += _children(pid)
    return out


def _stat_fields(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            s = f.read()
    except OSError:
        return None
    # comm may hold spaces: fields resume after the last ')'
    return s[s.rindex(")") + 2:].split()


def cpu_seconds(pid: int) -> float:
    """User + system CPU of one process (own threads only)."""
    f = _stat_fields(pid)
    return 0.0 if f is None else (int(f[11]) + int(f[12])) / _TICK


def pss_bytes(pid: int) -> int:
    """Proportional set size: pages shared between forked Python
    workers count once across them instead of once per worker."""
    try:
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1]) * 1024
    except OSError:
        pass
    return 0


def write_bytes(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/io") as f:
            for line in f:
                if line.startswith("write_bytes:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def jvm_pid() -> int:
    """The Spark JVM: the ``java`` child of this process."""
    for pid in _children(os.getpid()):
        try:
            with open(f"/proc/{pid}/comm") as f:
                if f.read().strip() == "java":
                    return pid
        except OSError:
            continue
    raise RuntimeError("no java child process: is a SparkSession up?")


def is_python(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/comm") as f:
            return f.read().startswith("python")
    except OSError:
        return False


@dataclass
class Reading:
    cpu_s: float        # JVM + everything below it
    py_cpu_s: float     # Python processes only
    write_b: int


class TreeProbe:
    """Cumulative counters of the JVM tree.  Counters of processes that
    exit between two readings are kept from their last reading, so a
    worker that dies mid-job still contributes what it did up to the
    previous poll (workers are reused across jobs in local mode, so
    this rarely matters)."""

    def __init__(self, root: int):
        self.root = root
        self._last: dict[int, tuple[float, int]] = {}
        self._python: dict[int, bool] = {}
        self._gone_cpu = 0.0
        self._gone_py_cpu = 0.0
        self._gone_write = 0

    def _is_python(self, pid: int) -> bool:
        if pid not in self._python:
            self._python[pid] = is_python(pid)
        return self._python[pid]

    def read(self) -> Reading:
        now: dict[int, tuple[float, int]] = {}
        for pid in [self.root, *descendants(self.root)]:
            now[pid] = (cpu_seconds(pid), write_bytes(pid))
        for pid, (c, w) in self._last.items():
            if pid not in now:
                self._gone_cpu += c
                self._gone_write += w
                if self._is_python(pid):
                    self._gone_py_cpu += c
        self._last = now
        cpu = sum(c for c, _ in now.values()) + self._gone_cpu
        py = (sum(c for p, (c, _) in now.items() if self._is_python(p))
              + self._gone_py_cpu)
        wb = sum(w for _, w in now.values()) + self._gone_write
        return Reading(cpu, py, wb)

    def worker_memory(self) -> int:
        """Proportional set size of every Python process below the JVM.
        Other children of the JVM are skipped: one it is forking to run
        a shell command shows the JVM's own pages until it execs."""
        return sum(pss_bytes(p) for p in descendants(self.root)
                   if self._is_python(p))


class PeakWorkerMemory:
    """Samples ``TreeProbe.worker_memory`` on a thread while active."""

    def __init__(self, probe: TreeProbe, interval_s: float = 0.1):
        self.probe = probe
        self.interval_s = interval_s
        self.peak = 0
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None

    def _loop(self) -> None:
        while True:
            self.peak = max(self.peak, self.probe.worker_memory())
            if self._stop.wait(self.interval_s):
                return

    def __enter__(self) -> "PeakWorkerMemory":
        self.peak = self.probe.worker_memory()
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
        self.peak = max(self.peak, self.probe.worker_memory())


class JvmPeakMemory:
    """Peak use of the JVM's memory pools (heap and non-heap), read
    through the Py4J gateway from ``java.lang.management``: ``reset``
    before a job, ``peak_bytes`` after it.  The JVM tracks each pool's
    peak itself, so no sample misses a short-lived high."""

    def __init__(self, jvm):
        self.jvm = jvm
        self.pools = list(
            jvm.java.lang.management.ManagementFactory.getMemoryPoolMXBeans())

    def reset(self) -> None:
        """Collect garbage, so every job starts from the same heap
        instead of the previous job's leftovers, then reset the peaks."""
        self.jvm.System.gc()
        for p in self.pools:
            p.resetPeakUsage()

    def peak_bytes(self) -> int:
        """Sum of the pools' peaks since ``reset``."""
        return sum(p.getPeakUsage().getUsed() for p in self.pools)
