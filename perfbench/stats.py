"""Order statistics shared by the runner and the compare command."""

from __future__ import annotations

import statistics


def median(values: list[float]) -> float:
    return float(statistics.median(values)) if values else 0.0


def quartiles(values: list[float]) -> tuple[float, float, float]:
    """(q1, median, q3) as ``statistics.quantiles(values, n=4)`` gives them."""
    if len(values) < 2:
        v = float(values[0]) if values else 0.0
        return v, v, v
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return float(q1), float(q2), float(q3)


def tail(values: list[float]) -> tuple[float, float]:
    """The highest percentile with at least ten samples beyond it.

    Returns (percentile, value).  With n samples that is the 11th largest,
    at percentile 100·(n−10)/n.  Below 20 samples that rank falls under the
    median, so the maximum is reported instead (percentile 100).
    """
    n = len(values)
    if n == 0:
        return 0.0, 0.0
    ordered = sorted(values)
    if n < 20:
        return 100.0, float(ordered[-1])
    return 100.0 * (n - 10) / n, float(ordered[n - 11])
