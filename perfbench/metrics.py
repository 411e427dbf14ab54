"""Metric arithmetic for the benchmark: small pure functions over lists of
numbers and spans, so they can be tested without Spark."""

from __future__ import annotations

import math
from collections.abc import Sequence


def median(values: Sequence[float]) -> float:
    """Middle value (mean of the two middle values for an even count)."""
    if not values:
        raise ValueError("median of no values")
    s = sorted(values)
    mid = len(s) // 2
    return float(s[mid]) if len(s) % 2 else (s[mid - 1] + s[mid]) / 2.0


def tail_percentile(values: Sequence[float], min_beyond: int = 10) -> tuple[float, float] | None:
    """The highest percentile ``p`` (whole numbers 50..99) that still has
    at least ``min_beyond`` samples strictly above its rank, and the sample
    at that rank (nearest-rank method).  ``None`` when even the median has
    fewer than ``min_beyond`` samples beyond it."""
    s = sorted(values)
    n = len(s)
    best = None
    for p in range(50, 100):
        rank = max(1, math.ceil(p / 100.0 * n))  # 1-based nearest rank
        if n - rank >= min_beyond:
            best = (float(p), float(s[rank - 1]))
    return best


def geomean(values: Sequence[float]) -> float:
    """Geometric mean of positive values."""
    if not values or any(v <= 0 for v in values):
        raise ValueError("geomean needs positive values")
    return math.exp(sum(math.log(v) for v in values) / len(values))


def net_of_steal(wall_s: float, steal_s: float, ncpu: int) -> float:
    """Wall seconds minus the CPU seconds a hypervisor stole from the
    host's ``ncpu`` vCPUs, spread evenly over them: the time the interval
    would have taken on a dedicated host.  Differences of readings taken
    with the cumulative counters are net durations."""
    return wall_s - steal_s / ncpu


def failure_ratio(failed: int, attempted: int) -> float:
    """Failed over attempted operations."""
    if attempted <= 0:
        raise ValueError("no operations attempted")
    return failed / attempted


def covered(intervals: Sequence[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of ``[lo, hi]`` covered by the union of ``intervals``."""
    clipped = sorted((max(a, lo), min(b, hi)) for a, b in intervals if b > lo and a < hi)
    total, cur_a, cur_b = 0.0, None, None
    for a, b in clipped:
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def self_time(span: dict, spans: Sequence[dict]) -> float:
    """A span's duration minus the part of it its direct children cover."""
    kids = [(c["start"], c["end"]) for c in spans if c.get("parent") == span["id"]]
    return (span["end"] - span["start"]) - covered(kids, span["start"], span["end"])
