"""CPU time, resident memory and host state read straight from /proc.

The benchmark charges a workload with the CPU and memory of the Spark
driver JVM and every process below it (the PySpark daemon and its
Python workers). ``psutil`` is not available, so this module parses
``/proc/<pid>/stat`` itself.
"""

from __future__ import annotations

import os
import threading

_CLK_TCK = os.sysconf("SC_CLK_TCK")
_PAGE_SIZE = os.sysconf("SC_PAGE_SIZE")


def _stat_fields(pid: int) -> list[str]:
    """Fields 3.. of ``/proc/<pid>/stat`` (the command name, which may
    hold spaces, is cut away), so field N of proc(5) is index N - 3."""
    with open(f"/proc/{pid}/stat") as f:
        data = f.read()
    return data[data.rindex(")") + 2 :].split()


def process_tree(root: int) -> list[int]:
    """``root`` plus every live descendant of it."""
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            ppid = int(_stat_fields(int(name))[1])
        except (OSError, ValueError, IndexError):
            continue  # the process ended while we listed it
        children.setdefault(ppid, []).append(int(name))
    tree = [root]
    for pid in tree:
        tree.extend(children.get(pid, ()))
    return tree


def tree_cpu_s(root: int) -> float:
    """User plus system CPU seconds of the tree under ``root``, including
    children that have already ended and been reaped (their time is
    folded into their parent's cutime/cstime)."""
    ticks = 0
    for pid in process_tree(root):
        try:
            f = _stat_fields(pid)
        except OSError:
            continue
        ticks += int(f[11]) + int(f[12]) + int(f[13]) + int(f[14])
    return ticks / _CLK_TCK


def rss_bytes(pids: list[int]) -> int:
    """Summed resident set size of ``pids``; ended ones count 0."""
    pages = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/statm") as f:
                pages += int(f.read().split()[1])
        except OSError:
            continue
    return pages * _PAGE_SIZE


class PeakRss:
    """Samples the summed RSS of a process tree on a background thread
    while the ``with`` block runs; ``peak`` holds the largest sample.
    The tree is listed again every ``relist`` samples, so a sample
    reads only the known processes' ``statm``."""

    def __init__(self, root: int, interval_s: float = 0.05, relist: int = 10):
        self.root = root
        self.interval_s = interval_s
        self.relist = relist
        self.peak = 0
        self._pids: list[int] = []
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _sample(self, relist: bool = True) -> None:
        if relist:
            self._pids = process_tree(self.root)
        self.peak = max(self.peak, rss_bytes(self._pids))

    def _run(self) -> None:
        n = 0
        while not self._stop.wait(self.interval_s):
            n += 1
            self._sample(relist=n % self.relist == 0)

    def __enter__(self) -> "PeakRss":
        self._sample()
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
        self._sample()


def host_state() -> dict:
    """CPU count, load average and memory of the host, taken at the time
    of the call."""
    mem = {}
    with open("/proc/meminfo") as f:
        for line in f:
            key, value = line.split(":", 1)
            mem[key] = int(value.split()[0])  # kB
    load1, load5, load15 = os.getloadavg()
    return {
        "nproc": len(os.sched_getaffinity(0)),
        "load1": load1,
        "load5": load5,
        "load15": load15,
        "mem_total_mb": mem["MemTotal"] / 1024,
        "mem_free_mb": mem["MemFree"] / 1024,
        "mem_available_mb": mem["MemAvailable"] / 1024,
    }
