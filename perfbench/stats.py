"""Percentile and span arithmetic for the serving-path benchmark.

Two rules from the benchmark's design live here so they can be tested
on their own:

* a latency sample is summarised by its median plus the highest tail
  percentile that has at least :data:`MIN_BEYOND` samples beyond it
  (never a tail the sample cannot support), always with its count;
* a span's self time is its duration minus the part of its interval
  covered by its children (and, where asked, by Spark job walls).
"""

from __future__ import annotations

import math
import statistics

MIN_BEYOND = 10
TAILS = (99.0, 95.0, 90.0, 75.0)


def rank(p: float, n: int) -> int:
    """1-based nearest-rank index of the ``p``-th percentile of ``n``."""
    return max(1, math.ceil(p / 100.0 * n))


def percentile(values, p: float) -> float:
    xs = sorted(values)
    if not xs:
        raise ValueError("percentile of an empty sample")
    return xs[rank(p, len(xs)) - 1]


def supported_tail(n: int) -> float | None:
    """Highest of :data:`TAILS` with at least MIN_BEYOND samples above
    its nearest rank, or None when ``n`` supports no tail."""
    for p in TAILS:
        if n - rank(p, n) >= MIN_BEYOND:
            return p
    return None


def summarize(values) -> dict:
    """{n, p50, min, tail_pct, tail} of one operation type's latencies."""
    xs = list(values)
    out = {"n": len(xs), "p50": statistics.median(xs) if xs else None,
           "min": min(xs) if xs else None}
    p = supported_tail(len(xs))
    out["tail_pct"] = p
    out["tail"] = percentile(xs, p) if p is not None else None
    return out


def union_length(intervals, lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to ``[lo, hi]``."""
    clipped = sorted(
        (max(a, lo), min(b, hi)) for a, b in intervals if b > lo and a < hi
    )
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


def self_time(start: float, end: float, covered) -> float:
    """Span duration minus the part of it that ``covered`` intervals
    (child spans, job walls) overlap, each instant counted once."""
    return (end - start) - union_length(covered, start, end)
