"""CPU time and resident memory of this process and all its descendants
(this Python process, the Spark JVM it launches and any Python workers
the JVM forks), read from /proc."""

from __future__ import annotations

import os
import threading

_TICK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def tree_pids(root: int | None = None) -> list[int]:
    root = os.getpid() if root is None else root
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        try:
            for tid in os.listdir(f"/proc/{pid}/task"):
                with open(f"/proc/{pid}/task/{tid}/children") as f:
                    todo.extend(int(c) for c in f.read().split())
        except OSError:  # the process ended while we walked it
            continue
    return out


def tree_cpu_s() -> float:
    """User + system CPU seconds of the tree, including reaped children."""
    total = 0
    for pid in tree_pids():
        try:
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        # utime, stime, cutime, cstime are fields 14-17 of stat(5).
        total += sum(int(x) for x in fields[11:15])
    return total / _TICK


def tree_rss_bytes() -> int:
    total = 0
    for pid in tree_pids():
        try:
            with open(f"/proc/{pid}/statm") as f:
                total += int(f.read().split()[1]) * _PAGE
        except OSError:
            continue
    return total


class PeakRss:
    """Samples the tree's resident memory every ``period`` seconds on a
    background thread and keeps the highest reading."""

    def __init__(self, period: float = 0.05):
        self.period = period
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        while True:
            self.peak = max(self.peak, tree_rss_bytes())
            if self._stop.wait(self.period):
                return

    def __enter__(self) -> "PeakRss":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
        self.peak = max(self.peak, tree_rss_bytes())
