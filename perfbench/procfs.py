"""Process-tree CPU, RSS and host steal, read from ``/proc``.

The tree of a benchmark process holds the Python driver, the Spark JVM it
launches and the Python workers the JVM forks.  CPU of a descendant that
exits is folded into its parent's ``cutime``/``cstime`` once reaped, so
summing utime+stime+cutime+cstime over the live tree stays monotone.
"""

from __future__ import annotations

import os
import threading

_TICK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def _stat(pid: int) -> tuple[str, list[str]] | None:
    """(comm, fields after comm) of /proc/<pid>/stat; see proc(5)."""
    try:
        with open(f"/proc/{pid}/stat", "rb") as fh:
            raw = fh.read()
    except OSError:  # exited between listing and reading
        return None
    close = raw.rindex(b")")
    return raw[raw.index(b"(") + 1 : close].decode(), raw[close + 2 :].decode().split()


def tree(root: int) -> dict[int, tuple[str, list[str]]]:
    """pid -> (comm, stat fields) for ``root`` and every descendant."""
    stats, children = {}, {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            st = _stat(int(name))
            if st is not None:
                stats[int(name)] = st
                children.setdefault(int(st[1][1]), []).append(int(name))
    out, todo = {}, [root]
    while todo:
        pid = todo.pop()
        if pid in stats:
            out[pid] = stats[pid]
            todo.extend(children.get(pid, ()))
    return out


def tree_cpu_s(root: int) -> float:
    """User+system CPU seconds of ``root`` and every descendant."""
    ticks = sum(
        int(f[11]) + int(f[12]) + int(f[13]) + int(f[14]) for _, f in tree(root).values()
    )
    return ticks / _TICK


def rss_mb(procs: dict[int, tuple[str, list[str]]]) -> float:
    """Summed RSS of the ``java`` and ``python*`` processes in ``procs``.

    Anything else under a JVM is a spawn in progress: posix_spawn runs the
    child in the JVM's memory until exec, so its RSS would count the JVM
    twice.  For the same reason a ``java`` child of a ``java`` is skipped.
    """
    pages = 0
    for comm, f in procs.values():
        parent = procs.get(int(f[1]))
        if comm == "java" and parent is not None and parent[0] == "java":
            continue
        if comm == "java" or comm.startswith("python"):
            pages += int(f[21])
    return pages * _PAGE / 2**20


def host_cpu_ticks() -> tuple[int, int]:
    """(total, steal) jiffies from the aggregate ``cpu`` line of /proc/stat."""
    with open("/proc/stat") as fh:
        vals = [int(x) for x in fh.readline().split()[1:]]
    return sum(vals[:8]), vals[7]


def steal_pct(before: tuple[int, int], after: tuple[int, int]) -> float:
    total = after[0] - before[0]
    return 100.0 * (after[1] - before[1]) / total if total > 0 else 0.0


class PeakRss:
    """Samples the tree's summed RSS on a daemon thread; ``peak_mb`` is
    the largest sample seen so far."""

    def __init__(self, root: int, interval_s: float = 0.1):
        self.root = root
        self.interval_s = interval_s
        self.peak_mb = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        while not self._stop.is_set():
            self.sample()
            self._stop.wait(self.interval_s)

    def sample(self) -> float:
        mb = rss_mb(tree(self.root))
        self.peak_mb = max(self.peak_mb, mb)
        return mb

    def __enter__(self) -> "PeakRss":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)
        self.sample()
