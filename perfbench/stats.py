"""Summary statistics for benchmark samples."""

from __future__ import annotations

import statistics

PERCENTILES = (50.0, 90.0, 99.0, 99.9)


def median(values: list[float]) -> float:
    return float(statistics.median(values)) if values else 0.0


def _rank(p: float, n: int) -> int:
    """1-based nearest rank of percentile ``p`` (tenths exact) in ``n``."""
    return max(1, -(-int(round(p * 10)) * n // 1000))


def nearest_rank(values: list[float], p: float) -> float:
    """The ``p``-th percentile by the nearest-rank rule."""
    return float(sorted(values)[_rank(p, len(values)) - 1])


def tail_percentile(values: list[float], *, beyond: int = 10) -> tuple[float, float] | None:
    """(p, value) for the highest of PERCENTILES that has at least
    ``beyond`` samples above it, or None when even p50 has fewer."""
    n = len(values)
    best = None
    for p in PERCENTILES:
        if n - _rank(p, n) >= beyond:
            best = (p, nearest_rank(values, p))
    return best
