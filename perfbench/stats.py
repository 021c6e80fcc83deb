"""Summary statistics shared by the benchmark and its report."""

from __future__ import annotations

import statistics

TAIL_BEYOND = 10  # samples that must lie above a reported tail percentile


def median(values: list[float]) -> float:
    return statistics.median(values) if values else 0.0


def tail(values: list[float], beyond: int = TAIL_BEYOND) -> tuple[float, float, int]:
    """(value, percentile, n) at the highest nearest-rank percentile that
    leaves at least `beyond` samples above it.

    The k-th smallest of n samples is the 100*k/n percentile and has
    n - k samples beyond it, so k = n - beyond. With too few samples
    there is no such percentile and this raises ValueError.
    """
    n = len(values)
    k = n - beyond
    if k < 1:
        raise ValueError(f"{n} samples leave no percentile with {beyond} beyond it")
    return sorted(values)[k - 1], 100.0 * k / n, n


def failed_ratio(exceptions: int, mismatches: int, attempted: int) -> float:
    """Share of attempted requests that raised or returned a wrong result."""
    if attempted < 1:
        raise ValueError("no request attempted")
    return (exceptions + mismatches) / attempted
