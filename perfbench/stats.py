"""Summary statistics that always carry their sample count."""

from __future__ import annotations

import statistics
from collections.abc import Sequence


def summarize(values: Sequence[float]) -> dict[str, float]:
    """Median, quartiles and extremes of ``values`` with ``n``.

    Quartiles come from ``statistics.quantiles(..., n=4)`` (the
    exclusive method); with fewer than two samples they equal the
    single value.
    """
    vals = [float(v) for v in values]
    if not vals:
        raise ValueError("summarize() needs at least one sample")
    if len(vals) == 1:
        q1 = q3 = vals[0]
    else:
        q1, _, q3 = statistics.quantiles(vals, n=4)
    return {
        "n": len(vals),
        "median": statistics.median(vals),
        "q1": q1,
        "q3": q3,
        "min": min(vals),
        "max": max(vals),
    }


def spread(values: Sequence[float]) -> float:
    """Interquartile range as a share of the median."""
    s = summarize(values)
    return (s["q3"] - s["q1"]) / s["median"] if s["median"] else float("inf")
