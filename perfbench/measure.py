"""Process-tree accounting read from /proc: CPU seconds, RSS, steal.

The tree is this process and every descendant (the JVM, its python
daemon and workers). CPU counts each live process's own time plus the
time of the children it has reaped, so work done by workers that have
already exited is still counted.
"""

from __future__ import annotations

import os
import statistics
import threading
import time

_TICK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def _stat(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    # field 2 (comm) may hold spaces; everything after the last ')' is fixed
    return raw[raw.rindex(")") + 2 :].split()


def tree_pids(root: int | None = None) -> list[int]:
    root = os.getpid() if root is None else root
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            st = _stat(int(name))
            if st is not None:
                children.setdefault(int(st[1]), []).append(int(name))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def tree_cpu_s() -> float:
    total = 0
    for pid in tree_pids():
        st = _stat(pid)
        if st is not None:
            # utime, stime, cutime, cstime (fields 14-17)
            total += sum(int(x) for x in st[11:15])
    return total / _TICK


def tree_rss_mb() -> float:
    total = 0
    for pid in tree_pids():
        st = _stat(pid)
        if st is not None:
            total += int(st[21])  # rss in pages (field 24)
    return total * _PAGE / 2**20


def steal_jiffies() -> int:
    with open("/proc/stat") as f:
        return int(f.readline().split()[8])


class PeakRss:
    """Samples the tree's RSS on a thread while the ``with`` block runs."""

    def __init__(self, every_s: float = 0.5) -> None:
        self.every_s = every_s
        self.peak_mb = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._poll, daemon=True)

    def _poll(self) -> None:
        while not self._stop.is_set():
            self.peak_mb = max(self.peak_mb, tree_rss_mb())
            self._stop.wait(self.every_s)

    def __enter__(self) -> "PeakRss":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()


def timed(fn) -> dict:
    """Run ``fn`` once; wall, process-tree CPU and host steal around it,
    plus the 1-min load when it started."""
    load = os.getloadavg()[0]
    s0, c0, t0 = steal_jiffies(), tree_cpu_s(), time.perf_counter()
    fn()
    wall = time.perf_counter() - t0
    return {
        "wall_s": wall,
        "cpu_s": tree_cpu_s() - c0,
        "steal_jiffies": steal_jiffies() - s0,
        "load_1m_start": load,
    }


def summary(values: list[float]) -> dict:
    """Median, quartiles and sample count."""
    vals = sorted(values)
    if len(vals) >= 2:
        q1, med, q3 = statistics.quantiles(vals, n=4)
    else:
        q1 = med = q3 = vals[0]
    return {"median": statistics.median(vals), "q1": q1, "q3": q3, "n": len(vals)}
