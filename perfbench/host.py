"""Host context for a timed window: process age, CPU steal, load
average, and the peak RSS of the Spark driver JVM plus its Python
workers, all read from ``/proc``. None of it is folded into the
engine metrics; it sits next to them so a slow run can be told apart
from a slow host (wall time up with CPU time flat means the host)."""

from __future__ import annotations

import os
import threading
import time

# the repository's bench.py owns the /proc/stat steal arithmetic
from bench import cpu_steal_sample, loadavg_1min, steal_window_pct

_PAGE = os.sysconf("SC_PAGE_SIZE")
_TICK = os.sysconf("SC_CLK_TCK")


def process_age_s() -> float:
    """Seconds since this process started (from /proc/self/stat)."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return uptime - start_ticks / _TICK


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, ValueError, IndexError):
            continue
        kids.setdefault(ppid, []).append(int(name))
    return kids


def _rss(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/statm") as f:
            return int(f.read().split()[1]) * _PAGE
    except (OSError, ValueError, IndexError):
        return 0


def _comm(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/comm") as f:
            return f.read().strip()
    except OSError:
        return ""


def tree_rss_bytes(root_pid: int) -> int:
    """Resident set of ``root_pid`` plus its Python descendants (the
    PySpark daemon and workers). Other descendants are left out: the JVM
    forks short-lived helpers, and a sample taken before such a child
    execs would count the JVM's pages twice."""
    kids = _children()
    total, todo = _rss(root_pid), list(kids.get(root_pid, ()))
    while todo:
        pid = todo.pop()
        todo.extend(kids.get(pid, ()))
        if _comm(pid).startswith("python"):
            total += _rss(pid)
    return total


class HostSampler:
    """Background sampler of tree RSS and load average over a window,
    with the window's CPU steal from /proc/stat at start and stop."""

    def __init__(self, jvm_pid: int, period_s: float = 0.25):
        self.jvm_pid = jvm_pid
        self.period_s = period_s
        self.peak_rss = 0
        self.loadavg_max = 0.0
        self.steal_pct = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _sample(self) -> None:
        self.peak_rss = max(self.peak_rss, tree_rss_bytes(self.jvm_pid))
        self.loadavg_max = max(self.loadavg_max, loadavg_1min() or 0.0)

    def _loop(self) -> None:
        while not self._stop.wait(self.period_s):
            self._sample()

    def __enter__(self) -> "HostSampler":
        self._steal0 = cpu_steal_sample()
        self._sample()
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
        self._sample()
        self.steal_pct = steal_window_pct(self._steal0, cpu_steal_sample()) or 0.0


def wait_until(deadline: float) -> None:
    """Sleep until ``time.time()`` reaches ``deadline`` (no-op if past)."""
    while True:
        left = deadline - time.time()
        if left <= 0:
            return
        time.sleep(min(left, 0.05))
