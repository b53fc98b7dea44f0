"""Order statistics with the sample-count rule the benchmark reports by.

Timings are reported as a median with its sample count. A higher percentile
is reported only when at least :data:`MIN_BEYOND` samples lie beyond it, so
a p90 needs 100 samples.
"""

from __future__ import annotations

import math

MIN_BEYOND = 10


def samples_beyond(n: int, p: float) -> int:
    """Samples strictly above the nearest-rank p-th percentile of n."""
    return n - math.ceil(p / 100.0 * n)


def supported(n: int, p: float) -> bool:
    return n > 0 and samples_beyond(n, p) >= MIN_BEYOND


def percentile(values: list[float], p: float) -> float:
    """Nearest-rank percentile; raises when the sample cannot support it."""
    n = len(values)
    if not supported(n, p):
        raise ValueError(
            f"p{p:g} needs {MIN_BEYOND} samples beyond it; have {n} samples"
        )
    xs = sorted(values)
    return xs[max(0, math.ceil(p / 100.0 * n) - 1)]


def highest_supported(n: int, candidates=(99.9, 99, 95, 90, 75, 50)) -> float | None:
    """The highest candidate percentile the sample supports."""
    return next((p for p in candidates if supported(n, p)), None)
