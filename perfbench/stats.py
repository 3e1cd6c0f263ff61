"""Order statistics and the paired comparison rule used by the benchmark."""

from __future__ import annotations

import math
import statistics


def quartiles(values: list[float]) -> tuple[float, float, float]:
    """(Q1, median, Q3) as ``statistics.quantiles(values, n=4)`` gives them;
    a single value is its own quartiles."""
    if len(values) == 1:
        return values[0], values[0], values[0]
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return q1, q2, q3


def spread(values: list[float]) -> float:
    """Distance between the first and third quartile as a share of the
    median."""
    q1, med, q3 = quartiles(values)
    return (q3 - q1) / med if med else math.inf


BETTER, WORSE, WITHIN, UNRESOLVED = "better", "worse", "within bound", "unresolved"
# a gain is claimed only from at least this many parent/change pairs
MIN_PAIRS = 10


def verdict(
    parent: list[float], change: list[float], bound: float, lower_is_better: bool = True
) -> str:
    """Classify a change against its parent on one metric.

    ``parent[i]`` and ``change[i]`` form pair ``i``. A change is better only
    when there are at least ``MIN_PAIRS`` pairs, it wins at least nine
    tenths of them (ties count for neither) and the medians differ by more
    than the parent's quartile spread. Otherwise, when the parent's own
    spread is wider than ``bound``, the metric is unresolved, unless every
    change run reads better than every parent run, which makes it within
    bound. It is worse when its median is worse than the parent's by more
    than ``bound`` (a share of the parent's median), else within bound.
    """
    if not parent or len(parent) != len(change):
        raise ValueError("verdict needs two equally long, non-empty run lists")
    sign = 1.0 if lower_is_better else -1.0
    p = [sign * v for v in parent]
    c = [sign * v for v in change]
    p_q1, p_med, p_q3 = quartiles(p)
    c_med = quartiles(c)[1]
    wins = sum(1 for a, b in zip(p, c) if b < a)
    if len(p) >= MIN_PAIRS and wins >= 0.9 * len(p) and p_med - c_med > abs(p_q3 - p_q1):
        return BETTER
    if spread(parent) > bound:
        return WITHIN if max(c) < min(p) else UNRESOLVED
    if c_med - p_med > bound * abs(p_med):
        return WORSE
    return WITHIN
