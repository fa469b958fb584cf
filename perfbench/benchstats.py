"""Order statistics the benchmark reports for its timings."""

from __future__ import annotations

# A tail percentile must leave at least this many samples above it.
TAIL_BEYOND = 10


def tail(xs: list[float]) -> tuple[float, float, int]:
    """Return ``(value, percentile, n)`` for the highest percentile that
    has at least ``TAIL_BEYOND`` samples above it.

    The k-th smallest of n samples (0-based) has ``n - 1 - k`` samples
    above it, so the answer is the sample at ``k = n - 1 - TAIL_BEYOND``,
    which is the ``100 * (k + 1) / n`` percentile. Below 22 samples that
    point is at or under the median, so the sample cannot support a tail
    at all; the maximum is reported instead, with percentile 100.
    """
    if not xs:
        raise ValueError("tail of an empty sample")
    s = sorted(xs)
    n = len(s)
    k = n - 1 - TAIL_BEYOND
    if 2 * k <= n - 1:
        return float(s[-1]), 100.0, n
    return float(s[k]), 100.0 * (k + 1) / n, n
