"""Measurement helpers: medians, interval unions, host noise and memory.

The host helpers read /proc directly (no psutil), so they run on any Linux
box the engine runs on.
"""

from __future__ import annotations

import os
import statistics
import threading
import time


def median(values: list[float]) -> float:
    return float(statistics.median(values)) if values else 0.0


def interval_union(intervals: list[tuple[float, float]]) -> float:
    """Total length covered by a set of [start, end] intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        # field 4 (ppid) follows the parenthesised command name
        ppid = int(stat[stat.rindex(")") + 2 :].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def process_tree(root: int) -> list[int]:
    """``root`` and all of its descendants (driver JVM, Python workers)."""
    kids = _children_map()
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, ()))
    return out


def tree_pss_bytes(root: int) -> int:
    """Resident memory of the process tree, as proportional set size: the
    Python workers are forked from one daemon and share most of its pages,
    which a sum of RSS would count once per worker."""
    total = 0
    for pid in process_tree(root):
        try:
            with open(f"/proc/{pid}/smaps_rollup") as f:
                for line in f:
                    if line.startswith("Pss:"):
                        total += int(line.split()[1]) * 1024
                        break
        except OSError:
            continue
    return total


def _cpu_counters() -> tuple[int, int, int]:
    """(busy, steal, total) jiffies of the whole host from /proc/stat."""
    with open("/proc/stat") as f:
        vals = [int(v) for v in f.readline().split()[1:]]
    idle = vals[3] + vals[4]  # idle + iowait
    steal = vals[7] if len(vals) > 7 else 0
    total = sum(vals[:8])
    return total - idle - steal, steal, total


def _tree_cpu_jiffies(root: int) -> int:
    total = 0
    for pid in process_tree(root):
        try:
            with open(f"/proc/{pid}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        fields = stat[stat.rindex(")") + 2 :].split()
        total += int(fields[11]) + int(fields[12])  # utime + stime
    return total


class HostSampler:
    """Background sampler of the benchmark's own memory (peak resident
    memory of the whole process tree) and of host noise during a measured window: CPU
    steal, the 1-minute load average, and the share of host CPU busy with
    processes outside this benchmark."""

    def __init__(self, interval: float = 0.5):
        self.interval = interval
        self.root = os.getpid()
        self.peak_mem = 0
        self._load1_max = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._window: tuple | None = None

    def __enter__(self) -> "HostSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)

    def _loop(self) -> None:
        while not self._stop.is_set():
            self.peak_mem = max(self.peak_mem, tree_pss_bytes(self.root))
            with open("/proc/loadavg") as f:
                self._load1_max = max(self._load1_max, float(f.read().split()[0]))
            self._stop.wait(self.interval)

    def window_start(self) -> None:
        self._load1_max = 0.0
        self._window = (_cpu_counters(), _tree_cpu_jiffies(self.root))

    def window_end(self) -> dict[str, float]:
        (busy0, steal0, total0), own0 = self._window
        busy1, steal1, total1 = _cpu_counters()
        own1 = _tree_cpu_jiffies(self.root)
        dt = max(total1 - total0, 1)
        return {
            "steal_pct": 100.0 * (steal1 - steal0) / dt,
            "load1_max": self._load1_max,
            "other_busy_pct": 100.0 * max(0, (busy1 - busy0) - (own1 - own0)) / dt,
        }
