"""Order statistics and the two-commit verdict rule."""

from __future__ import annotations

import math
import statistics

MIN_TAIL = 10


def percentile(samples: list[float], q: float) -> float:
    """Linear-interpolated percentile, ``q`` in [0, 1]."""
    xs = sorted(samples)
    if not xs:
        raise ValueError("no samples")
    pos = q * (len(xs) - 1)
    lo = math.floor(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def beyond(samples: list[float], value: float) -> int:
    return sum(1 for x in samples if x > value)


def tail_percentile(samples: list[float], q: float, min_tail: int = MIN_TAIL) -> float | None:
    """The ``q`` percentile, or None when fewer than ``min_tail``
    samples lie beyond it (too few to say anything about that tail)."""
    if not samples:
        return None
    value = percentile(samples, q)
    return value if beyond(samples, value) >= min_tail else None


def quartiles(values: list[float]) -> tuple[float, float, float]:
    """(q1, median, q3) as ``statistics.quantiles(values, n=4)`` gives them."""
    if len(values) < 2:
        v = values[0]
        return v, v, v
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return q1, q2, q3


def spread(values: list[float]) -> float:
    """Interquartile range as a share of the median."""
    q1, med, q3 = quartiles(values)
    return (q3 - q1) / abs(med) if med else math.inf


def pair_wins(parent: list[float], change: list[float], better: str) -> tuple[int, int]:
    """(change wins, pairs) over runs paired by index; ties count for neither."""
    n = min(len(parent), len(change))
    sign = -1 if better == "lower" else 1
    wins = sum(1 for p, c in zip(parent[:n], change[:n]) if sign * (c - p) > 0)
    return wins, n


def verdict(parent: list[float], change: list[float], better: str, bound: float) -> str:
    """``gain``: the change wins >= 9/10 of the pairs and the medians
    differ by more than the parent's interquartile range;
    ``unresolved``: either side's spread is wider than ``bound``;
    ``regression``: the change's median is worse by more than ``bound``;
    otherwise ``no change``."""
    wins, n = pair_wins(parent, change, better)
    p_q1, p_med, p_q3 = quartiles(parent)
    c_med = quartiles(change)[1]
    improved = c_med < p_med if better == "lower" else c_med > p_med
    if n and wins >= 0.9 * n and improved and abs(c_med - p_med) > (p_q3 - p_q1):
        return "gain"
    if spread(parent) > bound or spread(change) > bound:
        return "unresolved"
    worse = (c_med - p_med) if better == "lower" else (p_med - c_med)
    if p_med and worse / abs(p_med) > bound:
        return "regression"
    return "no change"
