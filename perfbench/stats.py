"""Summary statistics the benchmark reports."""

from __future__ import annotations

import hashlib
import math

# Percentiles a timing may be reported at, highest last.
PERCENTILES = (50.0, 90.0, 95.0, 99.0, 99.9)


def median(values) -> float:
    v = sorted(values)
    if not v:
        raise ValueError("median of no values")
    mid = len(v) // 2
    return v[mid] if len(v) % 2 else (v[mid - 1] + v[mid]) / 2


def _rank(p: float, n: int) -> int:
    """1-based nearest rank of percentile ``p`` among ``n`` samples (the
    rounding keeps 99.9% of 10000 at 9990, not 9991)."""
    return max(1, math.ceil(round(p * n / 100, 9)))


def percentile(values, p: float) -> float:
    """Nearest-rank percentile: the smallest value with at least ``p``
    percent of the samples at or below it."""
    v = sorted(values)
    if not v:
        raise ValueError("percentile of no values")
    return v[_rank(p, len(v)) - 1]


def tail_percentile(n: int) -> float | None:
    """The highest percentile in PERCENTILES with at least ten of ``n``
    samples beyond it, or None when even the median has fewer."""
    best = None
    for p in PERCENTILES:
        if n - _rank(p, n) >= 10:
            best = p
    return best


def digest(rows) -> str:
    """sha256 over rows (tuples), independent of their order."""
    h = hashlib.sha256()
    for r in sorted(tuple("" if x is None else str(x) for x in row) for row in rows):
        h.update("\x1f".join(r).encode())
        h.update(b"\x1e")
    return h.hexdigest()
