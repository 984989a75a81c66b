"""Order statistics used by every workload.

Percentiles use the nearest-rank rule: the p-th percentile of n values is
the value at 1-based rank ceil(p/100 * n) of the sorted list. A p90 is
reported only when at least ten samples lie beyond its rank, which needs
n >= 100 (see ``tail_ok``).
"""

from __future__ import annotations

import math
from typing import Sequence


def percentile(values: Sequence[float], p: float) -> float:
    """Nearest-rank percentile; ``p`` in (0, 100]."""
    if not values:
        raise ValueError("percentile of an empty sample")
    if not 0 < p <= 100:
        raise ValueError(f"percentile rank out of range: {p}")
    ordered = sorted(values)
    rank = max(1, math.ceil(p / 100.0 * len(ordered)))
    return ordered[rank - 1]


def median(values: Sequence[float]) -> float:
    """The middle value, or the mean of the two middle values."""
    if not values:
        raise ValueError("median of an empty sample")
    ordered = sorted(values)
    mid = len(ordered) // 2
    if len(ordered) % 2:
        return ordered[mid]
    return (ordered[mid - 1] + ordered[mid]) / 2.0


def samples_beyond(n: int, p: float) -> int:
    """How many of ``n`` samples lie strictly above the nearest-rank p-th
    percentile."""
    return n - max(1, math.ceil(p / 100.0 * n))


def tail_ok(n: int, p: float, min_beyond: int = 10) -> bool:
    """True when a p-th percentile over ``n`` samples has at least
    ``min_beyond`` samples beyond it."""
    return samples_beyond(n, p) >= min_beyond


def windows(
    times: Sequence[tuple[float, float]], width_s: float
) -> list[tuple[float, int, float]]:
    """Split ``(t_offset_s, latency)`` pairs into fixed windows of
    ``width_s`` seconds from the start of the timed phase; returns
    ``(window_start_s, count, median)`` per non-empty window."""
    buckets: dict[int, list[float]] = {}
    for t, v in times:
        buckets.setdefault(int(t // width_s), []).append(v)
    return [
        (k * width_s, len(vs), median(vs)) for k, vs in sorted(buckets.items())
    ]


def union_length(intervals) -> float:
    """Length of the union of ``(start, end)`` intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total
