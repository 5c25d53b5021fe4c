"""Summary statistics for op timings."""

from __future__ import annotations

import statistics

TAIL_BEYOND = 10


def median(xs: list[float]) -> float | None:
    return statistics.median(xs) if xs else None


def tail(xs: list[float]) -> tuple[float, float] | None:
    """The highest percentile with at least ``TAIL_BEYOND`` samples beyond
    it, as ``(percentile, value)``; None with too few samples.

    With ``n`` sorted samples, index ``n - 1 - TAIL_BEYOND`` is the highest
    one that leaves ten strictly later samples; its percentile is the
    share of samples at or below it."""
    n = len(xs)
    if n <= TAIL_BEYOND:
        return None
    i = n - 1 - TAIL_BEYOND
    return 100.0 * (i + 1) / n, sorted(xs)[i]


def summary(xs: list[float]) -> dict:
    """Median, tail and sample count of one op's timings."""
    t = tail(xs)
    return {
        "median": median(xs),
        "tail_pct": t[0] if t else None,
        "tail": t[1] if t else None,
        "samples": len(xs),
    }
