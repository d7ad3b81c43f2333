"""Summary statistics the benchmark reports."""

from __future__ import annotations


def tail(samples: list[float], beyond: int = 10) -> tuple[float, float, int] | None:
    """The highest percentile that still has at least ``beyond`` samples
    above it: returns (value, percentile, sample count), or None when there
    are too few samples to name any such percentile."""
    n = len(samples)
    if n < beyond + 1:
        return None
    i = n - beyond - 1  # exactly ``beyond`` samples sort after index i
    return sorted(samples)[i], 100.0 * (i + 1) / n, n


def fail_frac(attempted: int, failed: int) -> float:
    if attempted < 1:
        raise ValueError("no operation was attempted")
    return failed / attempted
