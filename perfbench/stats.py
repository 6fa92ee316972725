"""Sample statistics shared by the benchmark and its tests."""

from __future__ import annotations

import math
import statistics

CANDIDATE_PERCENTILES = (50, 75, 90, 95, 99, 99.9)
MIN_BEYOND = 10


def samples_beyond(n: int, pct: float) -> int:
    """How many of ``n`` sorted samples lie above the nearest-rank ``pct``."""
    return n - math.ceil(n * pct / 100)


def reportable_percentile(n: int) -> float | None:
    """The highest candidate percentile with at least ten samples beyond
    it, or None when even the median has fewer (n < 20)."""
    ok = [p for p in CANDIDATE_PERCENTILES if samples_beyond(n, p) >= MIN_BEYOND]
    return max(ok) if ok else None


def percentile(values: list[float], pct: float) -> float:
    """Nearest-rank percentile; the median of an even count is the mean of
    the two middle values, as ``statistics.median`` gives it."""
    if not values:
        raise ValueError("percentile of no samples")
    if pct == 50:
        return statistics.median(values)
    s = sorted(values)
    return s[max(math.ceil(len(s) * pct / 100) - 1, 0)]


def iqr_share(values: list[float]) -> float:
    """Distance between the first and third quartile as a share of the
    median — the spread the benchmark's bounds are checked against."""
    q1, med, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / med if med else float("inf")
