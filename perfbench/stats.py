"""Order statistics the benchmark reports."""

from __future__ import annotations


def tail(values: list[float], beyond: int = 10) -> tuple[float, float, int]:
    """Latency at the highest percentile with at least `beyond` samples
    above it.

    Returns (value, percentile, samples): with n samples sorted ascending,
    the value is the one at 0-based rank n - beyond - 1, so exactly
    `beyond` samples rank above it; the percentile is that rank's share of
    n (so 20 samples give the 50th, 100 give the 89th). Fewer than
    beyond + 1 samples have no such percentile and raise ValueError.
    """
    n = len(values)
    if n < beyond + 1:
        raise ValueError(f"{n} samples: a tail needs at least {beyond + 1}")
    rank = n - beyond - 1
    return sorted(values)[rank], 100.0 * (rank + 1) / n, n

