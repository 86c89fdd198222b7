"""Host and process-tree readings taken from ``/proc``.

The engine runs as this Python process plus the Spark driver JVM it
launches plus the JVM's Python UDF workers, so CPU and memory are summed
over the whole descendant tree of this process, not read from it alone.
"""

from __future__ import annotations

import os
import threading
import time

_TICK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                stat = fh.read()
        except OSError:  # the process ended while the table was read
            continue
        # the command name is parenthesised and may hold spaces
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def descendants(root: int | None = None) -> list[int]:
    """Pids of every process below ``root`` (default: this process)."""
    root = os.getpid() if root is None else root
    kids = _children_map()
    out, todo = [], list(kids.get(root, []))
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, []))
    return out


def tree_cpu_s() -> float:
    """User + system CPU seconds of this process and every descendant,
    including descendants that already ended and were reaped."""
    total = 0
    for pid in [os.getpid(), *descendants()]:
        try:
            with open(f"/proc/{pid}/stat") as fh:
                fields = fh.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        # utime, stime, cutime, cstime are fields 14-17 of stat(5)
        total += sum(int(f) for f in fields[11:15])
    return total / _TICK


def tree_rss_mb() -> float:
    total = 0
    for pid in [os.getpid(), *descendants()]:
        try:
            with open(f"/proc/{pid}/statm") as fh:
                total += int(fh.read().split()[1])
        except OSError:
            continue
    return total * _PAGE / 1e6


def host_steal_s() -> float:
    """Cumulative steal time of the host's CPUs, in seconds."""
    with open("/proc/stat") as fh:
        cpu = fh.readline().split()
    return int(cpu[8]) / _TICK


def loadavg_1m() -> float:
    return os.getloadavg()[0]


class RssSampler:
    """Background sampler of the process tree's RSS; ``peak_mb`` is the
    highest reading since the last ``reset``."""

    def __init__(self, interval_s: float = 0.25):
        self.interval_s = interval_s
        self.peak_mb = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        while not self._stop.wait(self.interval_s):
            self.peak_mb = max(self.peak_mb, tree_rss_mb())

    def reset(self) -> None:
        self.peak_mb = tree_rss_mb()

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=10)


class Meter:
    """Wall, process-tree CPU and host steal over one measured interval."""

    def reading(self) -> dict:
        return {"wall_s": self.wall_s, "cpu_s": self.cpu_s,
                "steal_s": self.steal_s, "loadavg": self.loadavg}

    def __enter__(self) -> "Meter":
        self._steal0 = host_steal_s()
        self._cpu0 = tree_cpu_s()
        self._t0 = time.perf_counter()
        return self

    def __exit__(self, *exc) -> None:
        self.wall_s = time.perf_counter() - self._t0
        self.cpu_s = tree_cpu_s() - self._cpu0
        self.steal_s = host_steal_s() - self._steal0
        self.loadavg = loadavg_1m()
