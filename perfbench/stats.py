"""Sample summaries: median, the supported tail percentile, process RSS."""

from __future__ import annotations

import math
import os
import statistics

TAIL_LADDER = (50.0, 75.0, 90.0, 95.0, 99.0, 99.9)
MIN_BEYOND = 10


def nearest_rank(sorted_values: list[float], pct: float) -> tuple[float, int]:
    """(value, samples beyond it) at ``pct`` by the nearest-rank rule."""
    n = len(sorted_values)
    rank = max(1, math.ceil(pct / 100.0 * n))
    return sorted_values[rank - 1], n - rank


def tail(values: list[float]) -> dict:
    """The highest ladder percentile with at least ``MIN_BEYOND`` samples
    beyond it. When even the median lacks that many (fewer than 20
    samples), the median is reported and ``supported`` is false; ``n``
    and ``beyond`` always state what the figure rests on."""
    if not values:
        raise ValueError("tail of an empty sample")
    s = sorted(values)
    best = None
    for pct in TAIL_LADDER:
        value, beyond = nearest_rank(s, pct)
        if beyond >= MIN_BEYOND:
            best = {"pct": pct, "value": value, "beyond": beyond}
    if best is None:
        best = {"pct": 50.0, "value": median(s), "beyond": len(s) // 2}
    best.update(n=len(s), supported=best["beyond"] >= MIN_BEYOND)
    return best


def median(values: list[float]) -> float:
    return statistics.median(values)


def process_tree(root: int) -> list[int]:
    """``root`` and every live descendant (the JVM and its Python workers)."""
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue  # exited while listing
        children.setdefault(ppid, []).append(int(entry))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, []))
    return out


def vm_hwm_kb(pid: int) -> int:
    """Peak resident set (``VmHWM``) of one process, 0 if it has exited."""
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


class PeakRss:
    """Sum over processes of each one's VmHWM, sampled at op boundaries so
    Python workers that exit before the end still count."""

    def __init__(self):
        self.peak_kb: dict[int, int] = {}

    def sample(self) -> None:
        for pid in process_tree(os.getpid()):
            kb = vm_hwm_kb(pid)
            if kb > self.peak_kb.get(pid, 0):
                self.peak_kb[pid] = kb

    def total_mb(self) -> float:
        return sum(self.peak_kb.values()) / 1024.0
