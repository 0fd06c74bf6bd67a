"""Process-tree CPU and memory read from /proc.

The tree is rooted at the benchmark's own worker process (the Spark
driver). Each process is classed as ``driver`` (the root), ``jvm`` (a
``java`` process) or ``python`` (any other descendant: the PySpark daemon
and its workers). CPU is utime+stime plus the times of children the
process has already reaped, so work done by short-lived workers is not
lost when they exit.
"""

from __future__ import annotations

import os
import threading

CLK = os.sysconf("SC_CLK_TCK")
PAGE = os.sysconf("SC_PAGE_SIZE")


def _stat(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            text = f.read()
    except OSError:
        return None
    head, _, rest = text.rpartition(")")
    return [head.split("(", 1)[1]] + rest.split()


def tree(root: int) -> dict[int, tuple[str, list[str]]]:
    """pid -> (class, stat fields) for ``root`` and all its descendants."""
    children: dict[int, list[int]] = {}
    stats: dict[int, list[str]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        st = _stat(int(name))
        if st is None:
            continue
        stats[int(name)] = st
        children.setdefault(int(st[2]), []).append(int(name))
    out: dict[int, tuple[str, list[str]]] = {}
    stack = [root]
    while stack:
        pid = stack.pop()
        st = stats.get(pid)
        if st is None:
            continue
        cls = "driver" if pid == root else ("jvm" if st[0] == "java" else "python")
        out[pid] = (cls, st)
        stack.extend(children.get(pid, ()))
    return out


def cpu_split(root: int) -> dict[str, float]:
    """CPU seconds used so far by each process class of the tree."""
    acc = {"driver": 0.0, "jvm": 0.0, "python": 0.0}
    for cls, st in tree(root).values():
        # fields after the comm: state=1 ... utime=12 stime=13 cutime=14 cstime=15
        acc[cls] += sum(int(st[i]) for i in (12, 13, 14, 15)) / CLK
    return acc


def rss_bytes(root: int) -> int:
    # field rss=22 (pages) after the comm
    return sum(int(st[22]) for _, st in tree(root).values()) * PAGE


class PeakRss:
    """Background sampler of the tree's total resident memory."""

    def __init__(self, root: int, interval: float = 0.25):
        self.root = root
        self.interval = interval
        self.peak = 0
        self._lock = threading.Lock()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, name="perfbench-rss", daemon=True)

    def _run(self) -> None:
        while True:
            self.peak_now()
            if self._stop.wait(self.interval):
                return

    def __enter__(self) -> "PeakRss":
        self._thread.start()
        return self

    def peak_now(self) -> int:
        """Take one more sample and return the peak so far."""
        now = rss_bytes(self.root)
        with self._lock:
            self.peak = max(self.peak, now)
            return self.peak

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
