"""CPU time and resident memory of this process tree, read from /proc.

The tree is this Python driver, the JVM it launched and the Python
workers the JVM forks. A sampler thread walks /proc; it never calls
into Spark, so it adds no Spark job.
"""

from __future__ import annotations

import os
import threading

_TICK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def _stat(pid: int) -> tuple[int, float, int] | None:
    """(ppid, cpu seconds incl. reaped children, rss bytes)."""
    try:
        with open(f"/proc/{pid}/stat", "rb") as f:
            raw = f.read().decode()
    except OSError:
        return None
    # the command name may hold spaces: split after its closing paren
    fields = raw[raw.rindex(")") + 2:].split()
    ppid = int(fields[1])
    ticks = sum(int(x) for x in fields[11:15])  # utime stime cutime cstime
    return ppid, ticks / _TICK, int(fields[21]) * _PAGE


def tree_usage(root: int) -> tuple[float, int]:
    """(cpu seconds, rss bytes) summed over ``root`` and its descendants.
    A child's CPU stays counted after it exits: its parent's cutime
    absorbs it once reaped."""
    procs = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            s = _stat(int(name))
            if s is not None:
                procs[int(name)] = s
    children: dict[int, list[int]] = {}
    for pid, (ppid, _, _) in procs.items():
        children.setdefault(ppid, []).append(pid)
    cpu, rss, todo = 0.0, 0, [root]
    while todo:
        pid = todo.pop()
        if pid in procs:
            cpu += procs[pid][1]
            rss += procs[pid][2]
        todo.extend(children.get(pid, ()))
    return cpu, rss


class Sampler:
    """Background sampler of this process tree's CPU seconds and peak
    RSS, every ``INTERVAL`` seconds."""

    INTERVAL = 0.1

    def __init__(self):
        self.root = os.getpid()
        self.peak_rss = 0
        self.cpu0 = self.cpu1 = 0.0
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None

    def _loop(self) -> None:
        while not self._stop.wait(self.INTERVAL):
            _, rss = tree_usage(self.root)
            self.peak_rss = max(self.peak_rss, rss)

    def start(self) -> "Sampler":
        self.cpu0, rss = tree_usage(self.root)
        self.peak_rss = rss
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._thread.start()
        return self

    def stop(self) -> None:
        self._stop.set()
        if self._thread is not None:
            self._thread.join()
        self.cpu1, rss = tree_usage(self.root)
        self.peak_rss = max(self.peak_rss, rss)

    @property
    def cpu_s(self) -> float:
        return self.cpu1 - self.cpu0
