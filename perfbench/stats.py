"""Small statistics helpers shared by the workloads (no Spark imports)."""

from __future__ import annotations

import math
import statistics

TAIL_CANDIDATES = (99.9, 99.0, 95.0, 90.0, 75.0, 50.0)


def median(values) -> float | None:
    values = list(values)
    return statistics.median(values) if values else None


def _rank(pct: float, n: int) -> int:
    """1-based nearest rank; rounding first keeps 99.9% of 10,000 at
    9,990 rather than 9,991 (binary floats)."""
    return max(1, math.ceil(round(pct * n / 100.0, 9)))


def nearest_rank(sorted_values: list[float], pct: float) -> float:
    """The nearest-rank percentile of an ascending list."""
    return sorted_values[_rank(pct, len(sorted_values)) - 1]


def tail(values) -> dict | None:
    """The highest candidate percentile with at least ten samples beyond it.

    ``values`` may hold ``math.inf`` for failed operations: a failure
    misses any latency limit, so it sorts beyond every success. Returns
    ``{"pct", "value", "n", "beyond"}`` or None when fewer than 20
    samples leave no percentile with ten beyond it.
    """
    ordered = sorted(values)
    n = len(ordered)
    for pct in TAIL_CANDIDATES:
        rank = _rank(pct, n)
        if n - rank >= 10:
            return {"pct": pct, "value": ordered[rank - 1], "n": n, "beyond": n - rank}
    return None


def spread(values) -> float:
    """Interquartile distance as a share of the median."""
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / q2
