"""Summaries of timing samples.

Percentiles use the Harrell-Davis estimator: a weighted mean of every
order statistic, with weights from the Beta distribution the p-th
sample quantile follows. A run's samples come from a mix of operations
of different cost (sixteen query kinds on ``query_mix``), so the plain
sample median jumps from one kind to the next when two of them swap
ranks; the weighted mean moves smoothly.
"""

from __future__ import annotations

import math
import statistics


def median(xs: list[float]) -> float:
    return statistics.median(xs) if xs else 0.0


def _betacf(a: float, b: float, x: float) -> float:
    """Continued fraction of the incomplete beta function (modified
    Lentz's method)."""
    tiny = 1e-300
    qab, qap, qam = a + b, a + 1.0, a - 1.0
    c, d = 1.0, 1.0 - qab * x / qap
    d = 1.0 / (d if abs(d) > tiny else tiny)
    h = d
    for m in range(1, 300):
        m2 = 2 * m
        aa = m * (b - m) * x / ((qam + m2) * (a + m2))
        d = 1.0 + aa * d
        d = 1.0 / (d if abs(d) > tiny else tiny)
        c = 1.0 + aa / c
        c = c if abs(c) > tiny else tiny
        h *= d * c
        aa = -(a + m) * (qab + m) * x / ((a + m2) * (qap + m2))
        d = 1.0 + aa * d
        d = 1.0 / (d if abs(d) > tiny else tiny)
        c = 1.0 + aa / c
        c = c if abs(c) > tiny else tiny
        delta = d * c
        h *= delta
        if abs(delta - 1.0) < 1e-12:
            break
    return h


def betainc(a: float, b: float, x: float) -> float:
    """The regularized incomplete beta function I_x(a, b)."""
    if x <= 0.0:
        return 0.0
    if x >= 1.0:
        return 1.0
    front = math.exp(
        math.lgamma(a + b) - math.lgamma(a) - math.lgamma(b) + a * math.log(x) + b * math.log1p(-x)
    )
    if x < (a + 1.0) / (a + b + 2.0):
        return front * _betacf(a, b, x) / a
    return 1.0 - front * _betacf(b, a, 1.0 - x) / b


def quantile(xs: list[float], p: float) -> float:
    """The Harrell-Davis estimate of the ``p`` quantile of ``xs``."""
    if not xs:
        return 0.0
    s = sorted(xs)
    n = len(s)
    a, b = p * (n + 1), (1.0 - p) * (n + 1)
    cdf = [betainc(a, b, i / n) for i in range(n + 1)]
    return sum((cdf[i + 1] - cdf[i]) * s[i] for i in range(n))


def tail(xs: list[float]) -> tuple[str, float]:
    """The highest percentile with at least ten samples above it.

    With n samples that is p = 100 * (1 - 10 / n). Below 20 samples no
    percentile above the median qualifies; the upper quartile (p75) is
    reported instead, since the maximum of a handful of samples is one
    sample's noise.
    """
    n = len(xs)
    p = 100.0 * (1 - 10 / n) if n >= 20 else 75.0
    return f"p{p:.4g}", quantile(xs, p / 100)


def describe(xs: list[float]) -> dict:
    label, value = tail(xs)
    return {"n": len(xs), "p50": quantile(xs, 0.5), "tail": value, "tail_pct": label}
