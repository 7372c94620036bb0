"""Summaries of repeated timings: the median and the quartiles, with the
sample count."""

from __future__ import annotations

import statistics


def summary(values: list[float]) -> dict:
    """``{"n", "median", "q1", "q3"}`` of ``values`` (non-empty)."""
    n = len(values)
    out = {"n": n, "median": statistics.median(values)}
    if n >= 2:
        out["q1"], _, out["q3"] = statistics.quantiles(values, n=4)
    else:
        out["q1"] = out["q3"] = values[0]
    return out


def iqr_share(values: list[float]) -> float:
    """Distance between the first and third quartile over the median."""
    q1, med, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / med
