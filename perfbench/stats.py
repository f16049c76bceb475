"""Order statistics used by every workload and by ``compare.py``."""

from __future__ import annotations

import statistics

import numpy as np


def median(values: list[float]) -> float:
    return statistics.median(values) if values else 0.0


def quantile(values: list[float], p: float) -> float:
    """Harrell-Davis estimate of the ``p`` quantile (0 < p < 1): a
    Beta((n+1)p, (n+1)(1-p))-weighted mean of all order statistics.

    A run yields few operation latencies from a mix of entries whose
    latencies differ by up to 10x, so the sample median jumps between
    neighbouring entries from run to run; weighting the neighbours
    smoothly estimates the same quantile with a much smaller spread."""
    x = np.sort(np.asarray(values, dtype=float))
    n = len(x)
    if n < 2:
        return float(x[0]) if n else 0.0
    a, b = p * (n + 1), (1.0 - p) * (n + 1)
    grid = np.linspace(0.0, 1.0, 20001)
    inner = grid[1:-1]
    logpdf = (a - 1) * np.log(inner) + (b - 1) * np.log1p(-inner)
    pdf = np.concatenate([[0.0], np.exp(logpdf - logpdf.max()), [0.0]])
    cdf = np.concatenate([[0.0], np.cumsum((pdf[1:] + pdf[:-1]) / 2.0)])
    cdf /= cdf[-1]
    weights = np.diff(np.interp(np.arange(n + 1) / n, grid, cdf))
    return float(weights @ x)


def tail(values: list[float], beyond: int = 10, floor: float = 90.0) -> tuple[float, float]:
    """(percentile, value) of the latency tail: the highest percentile
    that leaves at least ``beyond`` samples above it, but never below
    ``floor``. With fewer than ``beyond * 100 / (100 - floor)`` samples
    the floor wins and fewer than ``beyond`` samples lie above the
    reported value, so callers report the sample count beside it."""
    n = len(values)
    if not n:
        return floor, 0.0
    pct = max(floor, 100.0 * (n - beyond) / n)
    return pct, quantile(values, pct / 100.0)


def quartiles(values: list[float]) -> tuple[float, float, float]:
    """(Q1, median, Q3) as ``statistics.quantiles(values, n=4)`` gives them."""
    if len(values) < 2:
        v = values[0] if values else 0.0
        return v, v, v
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return q1, q2, q3
