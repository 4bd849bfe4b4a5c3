"""Small summary statistics shared by the workloads."""

from __future__ import annotations

import statistics

TAIL_BEYOND = 10


def median(xs) -> float:
    """Median, or 0.0 for no samples (only when every sample's op failed,
    which the result already reports as incorrect)."""
    return float(statistics.median(xs)) if len(xs) else 0.0


def tail(xs):
    """The highest percentile that still has ``TAIL_BEYOND`` samples above it.

    Returns ``(value, percentile, samples)``: ``value`` is the
    (n - TAIL_BEYOND)-th smallest sample, ``percentile`` the share of
    samples at or below it (in %), ``samples`` the sample count n. Returns
    None when there are not more than ``TAIL_BEYOND`` samples, since then
    no percentile has enough samples beyond it to be read."""
    s = sorted(xs)
    n = len(s)
    if n <= TAIL_BEYOND:
        return None
    return float(s[n - TAIL_BEYOND - 1]), 100.0 * (n - TAIL_BEYOND) / n, n
