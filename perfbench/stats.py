"""Summary statistics with the benchmark's reporting rule: a timing is
reported as its median, and a higher percentile only when at least ten
samples lie beyond it; a mix of operation kinds by :func:`typical`."""

from __future__ import annotations

import math
import statistics

#: samples that must lie strictly beyond a reported percentile
MIN_BEYOND = 10


def median(values: list[float]) -> float:
    if not values:
        raise ValueError("median of no samples")
    return float(statistics.median(values))


def typical(samples: dict[str, list[float]]) -> float:
    """The typical latency of a mix of operation kinds: the geometric
    mean over the kinds of each kind's median. Unlike the median over
    all samples it does not step from one kind to the next when a kind
    moves past its neighbour, and every kind's relative change counts
    the same."""
    if not samples:
        raise ValueError("typical latency of no samples")
    return float(statistics.geometric_mean(median(v) for v in samples.values()))


def percentile(values: list[float], q: float) -> float:
    """Nearest-rank percentile: the smallest sample with at least
    ``q`` percent of the samples at or below it."""
    if not values:
        raise ValueError("percentile of no samples")
    s = sorted(values)
    rank = max(1, math.ceil(q / 100.0 * len(s)))
    return float(s[rank - 1])


def beyond(n: int, q: float) -> int:
    """How many of ``n`` samples lie beyond the ``q``-th nearest-rank
    percentile."""
    return n - max(1, math.ceil(q / 100.0 * n))


def reportable(n: int, q: float) -> bool:
    """True when the ``q``-th percentile of ``n`` samples has at least
    :data:`MIN_BEYOND` samples beyond it."""
    return n > 0 and beyond(n, q) >= MIN_BEYOND
