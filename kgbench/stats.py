"""Order statistics shared by the runner and the steadiness check."""

from __future__ import annotations

import statistics

TAIL_BEYOND = 10  # samples that must lie beyond a reported tail percentile


def tail(samples: list[float], beyond: int = TAIL_BEYOND) -> tuple[float, float, bool]:
    """The highest percentile with at least ``beyond`` samples above it.

    Returns (value, percentile, rule_met). With n > beyond sorted samples
    that is the sample at index n - 1 - beyond, the (n - beyond)/n
    percentile. With fewer samples no percentile meets the rule; the
    maximum is returned with ``rule_met`` False.
    """
    if not samples:
        raise ValueError("no samples")
    s = sorted(samples)
    n = len(s)
    if n <= beyond:
        return s[-1], 100.0, False
    return s[n - 1 - beyond], 100.0 * (n - beyond) / n, True


def spread(values: list[float]) -> tuple[float, float, float, float]:
    """(median, q1, q3, (q3 - q1) / median) with Python's default
    ``statistics.quantiles(values, n=4)`` method."""
    q1, _, q3 = statistics.quantiles(values, n=4)
    med = statistics.median(values)
    return med, q1, q3, (q3 - q1) / med if med else float("inf")
