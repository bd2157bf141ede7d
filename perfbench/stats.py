"""Latency summaries for one run.

Quantiles are Harrell–Davis estimates: a Beta-weighted mean of all order
statistics rather than one or two of them. With the few, mixed ops a run
times, the sample median jumps between op kinds; this estimate of the
same quantile reads steadier from run to run.

A tail is reported at the highest percentile of ``TAIL_LADDER`` that
leaves at least ``MIN_BEYOND`` samples above its nearest rank, so the
figure never rests on a handful of outliers. When a run has too few
samples for any rung, the median is reported and the record says the
rule was not met.
"""

from __future__ import annotations

import math

TAIL_LADDER = (99, 95, 90, 75, 50)
MIN_BEYOND = 10
_GRID = 4000  # midpoint-rule steps for the Beta weights


def samples_beyond(n: int, pct: float) -> int:
    """Samples strictly above the nearest-rank ``pct`` percentile's rank."""
    return n - max(1, math.ceil(pct / 100.0 * n))


def tail_percentile(n: int) -> tuple[int, bool]:
    """``(percentile, rule_met)`` for ``n`` samples."""
    for pct in TAIL_LADDER:
        if samples_beyond(n, pct) >= MIN_BEYOND:
            return pct, True
    return 50, False


def harrell_davis(values: list[float], q: float) -> float:
    """Harrell–Davis estimate of the ``q`` quantile (0 < q < 1): the order
    statistics weighted by the Beta((n+1)q, (n+1)(1-q)) mass that falls in
    each ((i-1)/n, i/n]."""
    x = sorted(values)
    n = len(x)
    if n == 1:
        return x[0]
    a, b = (n + 1) * q, (n + 1) * (1 - q)
    log_beta = math.lgamma(a) + math.lgamma(b) - math.lgamma(a + b)
    weights = [0.0] * n
    for j in range(_GRID):
        t = (j + 0.5) / _GRID
        pdf = math.exp((a - 1) * math.log(t) + (b - 1) * math.log1p(-t) - log_beta)
        weights[min(int(t * n), n - 1)] += pdf
    return sum(w * v for w, v in zip(weights, x)) / sum(weights)


def summarize(latencies: list[float]) -> dict:
    pct, met = tail_percentile(len(latencies))
    return {
        "n": len(latencies),
        "p50": harrell_davis(latencies, 0.5),
        "tail_pct": pct,
        "tail_rule_met": met,
        "tail": harrell_davis(latencies, pct / 100.0),
    }
