"""Summary statistics used by the benchmark's reports."""

from __future__ import annotations

import math
import statistics


def median(values) -> float:
    values = list(values)
    return float(statistics.median(values)) if values else 0.0


def tail_percentile(n: int, beyond: int = 10) -> int | None:
    """The highest whole percentile ``p`` that leaves at least ``beyond``
    of ``n`` samples above it, i.e. ``n * (100 - p) / 100 >= beyond``.

    None when ``n <= beyond``: no percentile has enough samples beyond it,
    so no tail figure is reported."""
    if n <= beyond:
        return None
    return min(99, math.floor(100 * (n - beyond) / n))


def percentile(values, p: float) -> float:
    """Nearest-rank percentile (the smallest sample with at least ``p``% of
    the samples at or below it)."""
    s = sorted(values)
    if not s:
        raise ValueError("percentile of no samples")
    k = max(1, math.ceil(p / 100 * len(s)))
    return float(s[k - 1])


def tail(values, beyond: int = 10) -> dict | None:
    """{'p', 'n', 'value'} for the highest percentile with ``beyond``
    samples above it, or None when there are too few samples."""
    p = tail_percentile(len(values), beyond)
    if p is None:
        return None
    return {"p": p, "n": len(values), "value": percentile(values, p)}
