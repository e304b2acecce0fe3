"""Small order statistics shared by the runner and the steadiness report."""

from __future__ import annotations

import statistics

#: percentiles a tail figure is chosen from, highest first
TAIL_PERCENTILES = (99.9, 99.0, 95.0, 90.0)


def p50(values: list[float]) -> float:
    return float(statistics.median(values)) if values else 0.0


def percentile(values: list[float], q: float) -> float:
    """Nearest-rank percentile ``q`` (0-100) of ``values``."""
    s = sorted(values)
    k = max(0, min(len(s) - 1, int(round(q / 100.0 * len(s) + 0.5)) - 1))
    return float(s[k])


def tail(values: list[float]) -> tuple[float, float] | None:
    """(percentile, value) for the highest listed percentile that still
    has at least ten samples above it, or None for small samples."""
    n = len(values)
    for q in TAIL_PERCENTILES:
        if n * (1.0 - q / 100.0) >= 10:
            return q, percentile(values, q)
    return None


def quartiles(values: list[float]) -> tuple[float, float, float]:
    """(q1, median, q3) as ``statistics.quantiles(values, n=4)`` gives them."""
    if len(values) < 2:
        v = float(values[0]) if values else 0.0
        return v, v, v
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return q1, q2, q3
