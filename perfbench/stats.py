"""Latency summaries: the median plus the highest percentile the sample
supports, where a percentile is supported only when at least
``MIN_BEYOND`` samples lie beyond it."""

from __future__ import annotations

import math

MIN_BEYOND = 10
PERCENTILES = (50, 75, 90, 95, 99)


def nearest_rank(values: list[float], pct: float) -> float:
    """Nearest-rank percentile: the smallest sample with at least
    ``pct`` percent of the samples at or below it."""
    if not values:
        raise ValueError("no samples")
    s = sorted(values)
    rank = max(math.ceil(pct / 100.0 * len(s)), 1)
    return s[rank - 1]


def beyond(n: int, pct: float) -> int:
    """Samples strictly after the nearest-rank position of ``pct``."""
    return n - max(math.ceil(pct / 100.0 * n), 1)


def tail_percentile(n: int) -> int | None:
    """Highest of ``PERCENTILES`` with at least MIN_BEYOND samples beyond
    it, or None when even the median lacks them (n < 20)."""
    best = None
    for p in PERCENTILES:
        if beyond(n, p) >= MIN_BEYOND:
            best = p
    return best


def median(values: list[float]) -> float:
    """Midpoint median (mean of the two middle samples for even n)."""
    if not values:
        raise ValueError("no samples")
    s = sorted(values)
    mid = len(s) // 2
    return s[mid] if len(s) % 2 else (s[mid - 1] + s[mid]) / 2.0


def summarize(values: list[float]) -> dict:
    """{"n", "p50", "tail_pct", "tail"} for one op kind's latencies."""
    out = {"n": len(values), "p50": median(values)}
    tp = tail_percentile(len(values))
    out["tail_pct"] = tp
    out["tail"] = nearest_rank(values, tp) if tp is not None else None
    return out
