"""Small measurement helpers: percentiles and host CPU weather."""

from __future__ import annotations

import math
import statistics


def pct(values, q: float) -> float:
    """The q-quantile (0..1) by linear interpolation between order
    statistics; 0.0 for an empty sample."""
    xs = sorted(values)
    if not xs:
        return 0.0
    k = (len(xs) - 1) * q
    lo, hi = math.floor(k), math.ceil(k)
    return xs[lo] + (xs[hi] - xs[lo]) * (k - lo)


def median(values) -> float:
    return statistics.median(values) if values else 0.0


def mean(values) -> float:
    return statistics.fmean(values) if values else 0.0


def geomean(values) -> float:
    xs = [v for v in values if v > 0]
    return math.exp(sum(map(math.log, xs)) / len(xs)) if xs else 0.0


def cpu_times() -> list[int]:
    """Aggregate jiffies from the first line of /proc/stat:
    user nice system idle iowait irq softirq steal."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:9]]


def cpu_weather(before: list[int], after: list[int]) -> dict:
    """Steal and busy shares of all CPU time between two samples."""
    d = [b - a for a, b in zip(before, after)]
    total = sum(d) or 1
    user, nice, system, idle, iowait, irq, softirq, steal = d
    return {
        "steal_pct": 100.0 * steal / total,
        "busy_pct": 100.0 * (user + nice + system + irq + softirq) / total,
    }
