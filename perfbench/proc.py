"""Process-tree CPU and memory, and host load, read from /proc.

The tree is the benchmark's own process and every descendant: for the
Spark workloads that is the driver, the JVM it launches and the Python
workers the JVM forks.
"""

from __future__ import annotations

import os
import threading
from pathlib import Path

_TICK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def _stat_fields(pid: int) -> list[str] | None:
    try:
        raw = Path(f"/proc/{pid}/stat").read_text()
    except OSError:  # the process ended while we looked
        return None
    # the command name sits in parentheses and may hold spaces
    return raw[raw.rindex(")") + 2:].split()


def tree_pids(root: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if entry.isdigit():
            f = _stat_fields(int(entry))
            if f is not None:
                children.setdefault(int(f[1]), []).append(int(entry))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def tree_cpu_s(root: int) -> float:
    """CPU seconds used so far by the tree: user + system of every live
    process plus what each has reaped from its ended children, so a
    worker that exits mid-run still counts."""
    total = 0
    for pid in tree_pids(root):
        f = _stat_fields(pid)
        if f is not None:
            # utime, stime, cutime, cstime: fields 14-17 of stat
            total += sum(int(x) for x in f[11:15])
    return total / _TICK


def _uptime_ticks() -> float:
    with open("/proc/uptime") as f:
        return float(f.read().split()[0]) * _TICK


def tree_rss_mb(root: int, min_age_s: float = 1.0) -> float:
    """Summed RSS of the tree's processes older than ``min_age_s``: a
    child just forked or spawned (the JVM runs helper commands that
    way) briefly reports its parent's pages as its own."""
    total = 0
    now = _uptime_ticks()
    for pid in tree_pids(root):
        f = _stat_fields(pid)
        if f is None or now - int(f[19]) < min_age_s * _TICK:
            continue  # field 22 of stat: start time in ticks after boot
        try:
            total += int(Path(f"/proc/{pid}/statm").read_text().split()[1])
        except (OSError, IndexError):
            continue
    return total * _PAGE / (1 << 20)


class PeakRss:
    """Samples the tree's summed RSS on a background thread; ``peak_mb``
    is the largest sample between start() and stop()."""

    def __init__(self, root: int, interval_s: float = 0.1):
        self.root = root
        self.interval_s = interval_s
        self.peak_mb = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        while True:
            self.peak_mb = max(self.peak_mb, tree_rss_mb(self.root))
            if self._stop.wait(self.interval_s):
                return

    def __enter__(self) -> "PeakRss":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
        self.peak_mb = max(self.peak_mb, tree_rss_mb(self.root))


def host_counters() -> dict:
    """Load average and cumulative host CPU / steal seconds; recorded
    for diagnosis only."""
    with open("/proc/stat") as f:
        cpu = [int(x) for x in f.readline().split()[1:]]
    with open("/proc/loadavg") as f:
        load1 = float(f.read().split()[0])
    return {"load1": load1, "steal_s": cpu[7] / _TICK,
            "busy_s": (cpu[0] + cpu[1] + cpu[2]) / _TICK}
