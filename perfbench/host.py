"""Host context and memory, read straight from ``/proc``.

:class:`ProcSampler` samples, on a background thread, the summed resident
set of this process and every descendant (the Spark JVM, the Python
daemon and its workers) and the 1-minute load average.  CPU steal comes
from two ``/proc/stat`` reads, one at start and one at stop.
"""

from __future__ import annotations

import os
import statistics
import threading
import time

import numpy as np

_PAGE = os.sysconf("SC_PAGE_SIZE")


def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:  # exited between listdir and open
            continue
        # field 4 (ppid) follows the parenthesised command name
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def descendants(pid: int | None = None) -> list[int]:
    """Every live process below ``pid`` (default: this process)."""
    kids = _children_map()
    out, todo = [], [pid or os.getpid()]
    while todo:
        for c in kids.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def tree_rss() -> dict[str, int]:
    """Resident bytes of this process's tree, summed per command name:
    the Spark driver and the Python workers under ``python*``, the JVM under
    ``java``.  Other names are skipped: a child the JVM has forked but not
    yet exec'd carries a JVM thread's name and reports the JVM's pages
    as its own."""
    parts: dict[str, int] = {}
    for pid in [os.getpid(), *descendants()]:
        try:
            with open(f"/proc/{pid}/comm") as f:
                comm = f.read().strip()
            if comm != "java" and not comm.startswith("python"):
                continue
            with open(f"/proc/{pid}/statm") as f:
                rss = int(f.read().split()[1]) * _PAGE
        except OSError:  # exited while being read
            continue
        parts[comm] = parts.get(comm, 0) + rss
    return parts


_TICK = os.sysconf("SC_CLK_TCK")


def tree_cpu_s() -> float:
    """CPU seconds used so far by this process's tree: each live process's
    user and system time plus that of its exited, reaped children."""
    ticks = 0
    for pid in [os.getpid(), *descendants()]:
        try:
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        ticks += sum(int(x) for x in fields[11:15])  # utime stime cutime cstime
    return ticks / _TICK


def jit_cpu_s() -> float:
    """CPU seconds used so far by the JIT compiler threads (``C1/C2
    CompilerThread*``) of every JVM in this process's tree.  Exact only
    while those threads live as long as their JVM, which
    ``-XX:-UseDynamicNumberOfCompilerThreads`` ensures."""
    ticks = 0
    for pid in descendants():
        task_dir = f"/proc/{pid}/task"
        try:
            with open(f"/proc/{pid}/comm") as f:
                if f.read().strip() != "java":
                    continue
            tids = os.listdir(task_dir)
        except OSError:
            continue
        for tid in tids:
            try:
                with open(f"{task_dir}/{tid}/stat") as f:
                    stat = f.read()
            except OSError:
                continue
            name = stat[stat.index("(") + 1:stat.rindex(")")]
            if "CompilerThre" in name:  # thread names are cut at 15 chars
                ticks += sum(int(x) for x in stat.rsplit(")", 1)[1].split()[11:13])
    return ticks / _TICK


def _cpu_times() -> list[int]:
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def _loadavg1() -> float:
    with open("/proc/loadavg") as f:
        return float(f.read().split()[0])


class ProcSampler:
    """Peak tree RSS, load average and steal over a measured window."""

    def __init__(self, interval_s: float = 0.1):
        self._interval = interval_s
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self.peak_rss = 0
        self.peak_parts: dict[str, int] = {}
        self.loads: list[float] = []
        self._cpu0: list[int] = []
        self._cpu1: list[int] = []

    def _loop(self) -> None:
        ticks = 0
        while not self._stop.is_set():
            parts = tree_rss()
            if sum(parts.values()) > self.peak_rss:
                self.peak_rss, self.peak_parts = sum(parts.values()), parts
            if ticks % 10 == 0:
                self.loads.append(_loadavg1())
            ticks += 1
            self._stop.wait(self._interval)

    def __enter__(self) -> "ProcSampler":
        self._cpu0 = _cpu_times()
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=10)
        self._cpu1 = _cpu_times()

    def steal_pct(self) -> float:
        delta = [b - a for a, b in zip(self._cpu0, self._cpu1)]
        # /proc/stat columns: user nice system idle iowait irq softirq steal
        return 100.0 * delta[7] / max(sum(delta[:8]), 1)

    def context(self) -> dict:
        return {
            "steal_pct": round(self.steal_pct(), 3),
            "loadavg1_mean": round(sum(self.loads) / max(len(self.loads), 1), 3),
            "loadavg1_max": max(self.loads, default=0.0),
            "peak_rss_parts_mb": {k: round(v / 2**20) for k, v in self.peak_parts.items()},
        }


# about the probe's thread CPU time on the 4-CPU host the benchmark was
# tuned on; it only sets the scale of ref_cpu_ms_per_doc
PROBE_REF_S = 0.008


def _interpreter_work() -> int:
    """A fixed pure-Python loop: no allocation, no I/O, no system calls."""
    acc = 0
    for i in range(40_000):
        acc += i * 3 % 7
    return acc


class SpeedProbe:
    """How fast the host runs code right now.

    Every ``interval_s`` a background thread runs two fixed pieces of work
    and records the thread CPU time of each: a pure-Python loop, which a
    co-tenant on the same physical core slows, and a random gather over a
    32 MB array, which a co-tenant's memory traffic slows.  CPU time does
    not hide either: the program's CPU per doc rises with them.
    """

    def __init__(self, interval_s: float = 0.2):
        self._interval = interval_s
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._lock = threading.Lock()
        rng = np.random.default_rng(0)
        self._array = rng.random(4_000_000)
        self._index = rng.integers(0, self._array.size, 150_000)
        # (end, interpreter loop s, gather s), thread CPU time
        self._samples: list[tuple[float, float, float]] = []
        self._cpu_s = 0.0

    def _loop(self) -> None:
        while not self._stop.wait(self._interval):
            c0 = time.thread_time()
            _interpreter_work()
            c1 = time.thread_time()
            self._array[self._index].sum()
            c2 = time.thread_time()
            with self._lock:
                self._samples.append((time.perf_counter(), c1 - c0, c2 - c1))
                self._cpu_s += c2 - c0

    def cpu_s(self) -> float:
        """The probe's own CPU so far, which the tree's CPU includes."""
        with self._lock:
            return self._cpu_s

    def median_between(self, t0: float, t1: float) -> tuple[float, float]:
        """Median interpreter-loop and gather times of the samples taken in
        ``[t0, t1]``, or of all samples so far if none fell in it."""
        with self._lock:
            got = ([x for x in self._samples if t0 <= x[0] <= t1]
                   or self._samples or [(0.0, PROBE_REF_S / 2, PROBE_REF_S / 2)])
        return (statistics.median(x[1] for x in got),
                statistics.median(x[2] for x in got))

    def __enter__(self) -> "SpeedProbe":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=10)
