"""Summary statistics the benchmark reports (pure Python, no Spark)."""

from __future__ import annotations

import statistics

# A tail percentile is reported only with at least this many samples
# beyond it; fewer and the "tail" would be one or two unlucky requests.
TAIL_MIN_BEYOND = 10


def median(xs) -> float:
    xs = list(xs)
    return statistics.median(xs) if xs else 0.0


def tail(xs, min_beyond: int = TAIL_MIN_BEYOND):
    """Highest nearest-rank percentile with at least ``min_beyond``
    samples ranked above it.

    Returns ``(percentile, value, n)`` or ``None`` when there are too few
    samples for any percentile to have ``min_beyond`` samples beyond it.
    The value at 1-based rank ``r`` of ``n`` sorted samples is the
    ``100 * r / n``-th percentile and has ``n - r`` samples ranked above
    it, so the answer is rank ``r = n - min_beyond``.
    """
    s = sorted(xs)
    n = len(s)
    r = n - min_beyond
    if r < 1:
        return None
    return 100.0 * r / n, s[r - 1], n


def spread(xs) -> float:
    """Inter-quartile range as a share of the median (the stability
    figure the runs are judged by)."""
    xs = list(xs)
    q1, _, q3 = statistics.quantiles(xs, n=4)
    return (q3 - q1) / statistics.median(xs)
