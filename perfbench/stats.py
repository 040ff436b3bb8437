"""Summary statistics and process measurements for the benchmark."""

from __future__ import annotations

import math
import os
import statistics

#: percentiles a tail may be reported at, lowest first
TAIL_LADDER = (50.0, 75.0, 90.0, 95.0, 99.0, 99.9)
#: samples that must lie strictly above a reported tail percentile
TAIL_MIN_BEYOND = 10


def percentile(values: list[float], p: float) -> float:
    """Nearest-rank percentile: the smallest sample with at least ``p``%
    of the samples at or below it."""
    if not values:
        raise ValueError("percentile of no samples")
    s = sorted(values)
    rank = max(1, math.ceil(p / 100.0 * len(s)))
    return s[rank - 1]


def tail(values: list[float]) -> dict:
    """The highest percentile of :data:`TAIL_LADDER` that leaves at least
    :data:`TAIL_MIN_BEYOND` samples strictly above it.

    → ``{"value", "percentile", "n"}``; ``value`` and ``percentile`` are
    ``None`` when the run has too few samples for any percentile."""
    best = {"value": None, "percentile": None, "n": len(values)}
    for p in TAIL_LADDER:
        if not values:
            break
        v = percentile(values, p)
        if sum(1 for x in values if x > v) < TAIL_MIN_BEYOND:
            break
        best = {"value": v, "percentile": p, "n": len(values)}
    return best


def median(values: list[float]) -> float | None:
    return statistics.median(values) if values else None


def vm_hwm_mb(pid: int) -> float:
    """Peak resident set size (``VmHWM``) of ``pid`` in MiB, from /proc."""
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for pid {pid}")


def descendants(pid: int) -> list[int]:
    """All live descendant pids of ``pid`` (walks /proc/*/task/*/children)."""
    out: list[int] = []
    todo = [pid]
    while todo:
        p = todo.pop()
        try:
            tasks = os.listdir(f"/proc/{p}/task")
        except FileNotFoundError:
            continue
        for t in tasks:
            try:
                with open(f"/proc/{p}/task/{t}/children") as f:
                    kids = [int(k) for k in f.read().split()]
            except FileNotFoundError:
                continue
            out.extend(kids)
            todo.extend(kids)
    return out

