"""Order statistics and host weather for the benchmark's reports."""

from __future__ import annotations

import time

import numpy as np

# candidate tail percentiles, highest first
TAILS = (99, 95, 90, 75)


def percentile(values: list[float], p: float) -> float:
    """Linear-interpolated percentile (numpy's default method)."""
    if not values:
        raise ValueError("percentile of no samples")
    return float(np.percentile(values, p))


def median(values: list[float]) -> float:
    return percentile(values, 50.0)


def tail_percentile(n: int, min_beyond: int = 10) -> float | None:
    """Highest percentile in ``TAILS`` that leaves at least ``min_beyond``
    of ``n`` samples above it, or None when there are too few samples."""
    for p in TAILS:
        if n * (100 - p) >= min_beyond * 100:
            return float(p)
    return None


def summary(values: list[float]) -> dict:
    """Median, tail (when the sample count allows one) and count."""
    out = {"n": len(values)}
    if values:
        out["p50"] = median(values)
        p = tail_percentile(len(values))
        if p is not None:
            out["tail_pct"] = p
            out["tail"] = percentile(values, p)
    return out


def spin_probe(n: int = 300_000) -> float:
    """Pure-Python spin rate in Mop/s: a single-core speed reading."""
    t = time.perf_counter()
    x = 0
    for i in range(n):
        x += i
    return n / (time.perf_counter() - t) / 1e6


def cpu_stat() -> list[int] | None:
    """Aggregate /proc/stat cpu jiffies, or None where unavailable."""
    try:
        with open("/proc/stat") as f:
            return [int(v) for v in f.readline().split()[1:]]
    except OSError:
        return None


def steal_share(a: list[int] | None, b: list[int] | None) -> float | None:
    """Steal jiffies as a share of non-idle time between two snapshots."""
    if not a or not b or len(a) < 8:
        return None
    d = [y - x for x, y in zip(a, b)]
    busy = sum(d) - d[3] - d[4]  # minus idle and iowait
    return d[7] / busy if busy > 0 else 0.0
