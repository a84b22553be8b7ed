"""Summary statistics used by the benchmark report.

Pure functions over plain lists, so the report arithmetic is tested without
Spark (see ``tests/test_stats.py``).
"""

from __future__ import annotations

import math
import statistics
from typing import Iterable, Optional, Sequence

# percentiles a tail may be reported at, highest last
TAIL_GRID = (50.0, 75.0, 90.0, 95.0, 99.0, 99.9)


def median(values: Iterable[float]) -> float:
    vals = list(values)
    if not vals:
        raise ValueError("median of no values")
    return float(statistics.median(vals))


def percentile(values: Sequence[float], p: float) -> float:
    """Linear-interpolation percentile (rank ``p/100 * (n-1)``)."""
    if not values:
        raise ValueError("percentile of no values")
    s = sorted(values)
    rank = p / 100.0 * (len(s) - 1)
    lo = math.floor(rank)
    hi = min(lo + 1, len(s) - 1)
    return float(s[lo] + (s[hi] - s[lo]) * (rank - lo))


def tail_percentile(
    values: Sequence[float], min_beyond: int = 10, grid: Sequence[float] = TAIL_GRID
) -> tuple[Optional[float], Optional[float]]:
    """The highest grid percentile with at least ``min_beyond`` samples
    strictly above it, as ``(p, value)``; ``(None, None)`` when even the
    median has fewer samples beyond it."""
    for p in sorted(grid, reverse=True):
        v = percentile(values, p)
        if sum(1 for x in values if x > v) >= min_beyond:
            return p, v
    return None, None


def union_length(intervals: Iterable[tuple[float, float]]) -> float:
    """Total length covered by possibly overlapping ``[start, end)``."""
    total = 0.0
    cur_s = cur_e = None
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


def self_times(spans: Sequence[dict]) -> dict[int, float]:
    """Per-span self time: the span's wall minus the part of its interval
    that its direct children cover (children clipped to the parent)."""
    by_id = {s["id"]: s for s in spans}
    children: dict[int, list] = {}
    for s in spans:
        if s["parent"] is not None:
            children.setdefault(s["parent"], []).append(s)
    out = {}
    for sid, s in by_id.items():
        covered = union_length(
            (max(c["start"], s["start"]), min(c["end"], s["end"]))
            for c in children.get(sid, [])
        )
        out[sid] = (s["end"] - s["start"]) - covered
    return out
