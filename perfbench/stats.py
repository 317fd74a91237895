"""The benchmark's arithmetic, kept free of I/O so it can be unit tested.

Conventions:

- A failed request is a *miss*: it enters latency samples as ``inf``,
  so failures push percentiles up instead of silently dropping out.
- Percentiles use the nearest-rank rule: the p-th percentile of n
  samples is the ``ceil(p * n)``-th smallest.  It always returns a
  measured sample (no interpolation), so the rule is fixed.
"""

from __future__ import annotations

import math
from typing import Iterable, Sequence

MISS = math.inf


def percentile(samples: Sequence[float], p: float) -> float:
    """Nearest-rank p-th percentile, ``0 < p <= 1``."""
    if not samples:
        raise ValueError("percentile of no samples")
    if not 0 < p <= 1:
        raise ValueError("p must be in (0, 1]")
    ordered = sorted(samples)
    # round() first: 0.7 * 10 is 7.000000000000001 in floating point
    rank = math.ceil(round(p * len(ordered), 9))
    return ordered[max(1, rank) - 1]


def with_misses(latencies: Iterable[float], failures: int) -> list[float]:
    """Latency samples with each failure entered as a miss."""
    return list(latencies) + [MISS] * failures


def geomean(values: Iterable[float]) -> float:
    vals = list(values)
    if not vals:
        raise ValueError("geomean of no values")
    if any(v == MISS for v in vals):
        return MISS
    return math.exp(sum(math.log(v) for v in vals) / len(vals))


def per_group_geomean(samples: dict[str, Sequence[float]], p: float) -> float:
    """The p-th percentile of each group's samples, combined by
    geometric mean: neither a group's size nor how much slower one group
    is than another weights the result."""
    return geomean(
        percentile(vals, p) for vals in samples.values() if vals
    )


def pooled_percentile(samples: dict[str, Sequence[float]], p: float) -> float:
    """The p-th percentile of every group's samples pooled, each sample
    first divided by its group's median, scaled back by the geometric
    mean of those medians.  Every sample counts (a group of four has no
    p90 of its own), and which groups a short window happens to hold
    does not move it."""
    groups = [list(vals) for vals in samples.values() if vals]
    medians = [percentile(vals, 0.5) for vals in groups]
    scale = geomean(medians)
    if scale == MISS:
        return MISS
    return scale * percentile(
        [x / m for vals, m in zip(groups, medians) for x in vals], p
    )


def relative_to_group_median(
    samples: Sequence[tuple[str, float]]
) -> list[float]:
    """Each ``(group, value)`` as value / its group's median, in order."""
    values: dict[str, list[float]] = {}
    for key, x in samples:
        values.setdefault(key, []).append(x)
    medians = {k: percentile(v, 0.5) for k, v in values.items()}
    return [x / medians[key] for key, x in samples]


def union_length(intervals: Iterable[tuple[float, float]]) -> float:
    """Total length covered by possibly overlapping ``(start, end)``."""
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


def self_time(
    start: float, end: float, children: Iterable[tuple[float, float]]
) -> float:
    """A span's own time: its length minus the time covered by its
    direct children, each clipped to the span.  Children that overlap
    each other (run on other threads) are counted once."""
    clipped = [(max(s, start), min(e, end)) for s, e in children]
    return (end - start) - union_length(clipped)


def max_lateness(sends: Iterable[tuple[float, float]]) -> float:
    """How late an open-loop generator ran: the largest (sent - due)
    over its ``(due, sent)`` pairs, 0 when it kept to its schedule."""
    return max((sent - due for due, sent in sends), default=0.0)


def due_times(start: float, period: float, until: float) -> list[float]:
    """Send schedule of an open-loop producer: ``start + k * period``
    for every k whose time lies before ``until``."""
    n = max(0, math.ceil((until - start) / period))
    return [start + k * period for k in range(n)]


def completions(
    intervals: Iterable[tuple[float, float]], w0: float, w1: float
) -> float:
    """Requests completed in the window [w0, w1], counting each request
    by the share of its duration that lies inside the window.  Unlike a
    count of whole requests it is not quantised: with 12 requests of
    about 1 s in a 10 s window, one more or less moves a plain count by
    8%."""
    total = 0.0
    for s, e in intervals:
        if e <= s:
            continue
        total += max(0.0, min(e, w1) - max(s, w0)) / (e - s)
    return total


def thirds_ratio(samples: Sequence[float]) -> float:
    """Median of the last third of a window over the median of its first
    third (in arrival order): 1.0 means the window is level, below 1
    means latency was still falling while it was timed."""
    n = len(samples) // 3
    if n == 0:
        return 1.0
    return percentile(samples[-n:], 0.5) / percentile(samples[:n], 0.5)


def levelled(buckets: Sequence[float], tol: float) -> bool:
    """Warm-up stop rule: the last two bucket medians agree within
    ``tol`` (relative to the earlier one)."""
    if len(buckets) < 2:
        return False
    a, b = buckets[-2], buckets[-1]
    return abs(b - a) <= tol * a
