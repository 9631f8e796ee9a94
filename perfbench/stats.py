"""Latency summaries."""

from __future__ import annotations

MIN_BEYOND = 10


def tail(samples: list[float]) -> tuple[float, float] | None:
    """(percentile, value) at the highest nearest-rank percentile that
    leaves at least MIN_BEYOND samples ranked above it, or None when
    there are too few samples for any percentile to qualify."""
    n = len(samples)
    rank = n - MIN_BEYOND  # 1-based; n - rank samples rank above it
    if rank < 1:
        return None
    return 100.0 * rank / n, sorted(samples)[rank - 1]
