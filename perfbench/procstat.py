"""Process-tree CPU and memory, and hypervisor steal, read from /proc.

In ``local[N]`` mode the system under test is this Python process, the
JVM it launches and the JVM's Python workers, so "the process tree"
rooted at this process is the whole system. CPU of a child that already
exited is counted through its parent's ``cutime``/``cstime`` once the
parent has reaped it, so summing all four fields over the live tree
never loses work.
"""

from __future__ import annotations

import os
import threading

_TICK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")
RSS_INTERVAL_S = 0.05


def _stat_fields(pid: str) -> list[str] | None:
    """Fields 3.. of /proc/<pid>/stat, preceded by field 2 (comm)."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:  # the process exited while we listed /proc
        return None
    # comm may contain spaces; everything after ") " is fixed
    return [raw[raw.index("(") + 1 : raw.rindex(")")]] + raw[raw.rindex(")") + 2 :].split()


def _tree() -> list[tuple[int, list[str]]]:
    """(pid, [comm, stat fields 3..]) of this process and every live
    descendant, skipping a ``java`` child of ``java``: a JVM spawns
    helper processes with vfork, and until they exec they report the
    parent's whole address space as their own RSS."""
    children: dict[int, list[int]] = {}
    stats: dict[int, list[str]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        st = _stat_fields(name)
        if st is None:
            continue
        stats[int(name)] = st
        children.setdefault(int(st[2]), []).append(int(name))
    out, todo = [], [os.getpid()]
    while todo:
        pid = todo.pop()
        st = stats.get(pid)
        if st is None:
            continue
        parent = stats.get(int(st[2]))
        if st[0] == "java" and parent is not None and parent[0] == "java":
            continue
        out.append((pid, st))
        todo.extend(children.get(pid, ()))
    return out


def tree_cpu_s() -> float:
    """utime + stime + cutime + cstime of the tree, in seconds."""
    # index i holds field i + 2: utime..cstime are fields 14-17
    return sum(sum(int(x) for x in st[12:16]) for _, st in _tree()) / _TICK


def tree_rss_mb() -> float:
    return sum(int(st[22]) for _, st in _tree()) * _PAGE / 2**20


def descendants() -> list[int]:
    return [pid for pid, _ in _tree() if pid != os.getpid()]


def cpu_counters() -> list[int]:
    """Aggregate /proc/stat cpu counters (user nice system idle iowait
    irq softirq steal ...)."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def steal_pct(before: list[int], after: list[int]) -> float:
    d = [a - b for a, b in zip(after, before)]
    total = sum(d)
    return 100.0 * d[7] / total if total and len(d) > 7 else 0.0


class PeakRss:
    """Samples the tree's RSS on a background thread while in use; ``mb``
    is the peak:

        with PeakRss() as peak:
            work()
        peak.mb
    """

    def __init__(self) -> None:
        self.mb = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _sample(self) -> None:
        self.mb = max(self.mb, tree_rss_mb())

    def _loop(self) -> None:
        while True:
            self._sample()
            if self._stop.wait(RSS_INTERVAL_S):
                return

    def __enter__(self) -> "PeakRss":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
        self._sample()
