"""Summary statistics with the benchmark's sample-count rule.

A timing is reported as its median plus the highest percentile of
``TAIL_LADDER`` that leaves at least ``MIN_BEYOND`` samples above it;
with fewer samples no tail is claimed.
"""

from __future__ import annotations

import math

TAIL_LADDER = (75.0, 90.0, 95.0, 99.0, 99.9)
MIN_BEYOND = 10


def percentile(values: list[float], p: float, weights: list[float] | None = None) -> float:
    """Nearest-rank percentile; with ``weights`` each value counts as
    that many samples (events that share one micro-batch)."""
    if not values:
        raise ValueError("percentile of no samples")
    pairs = sorted(zip(values, weights or [1.0] * len(values)))
    target = p / 100.0 * sum(w for _, w in pairs)
    acc = 0.0
    for v, w in pairs:
        acc += w
        if acc >= target:
            return v
    return pairs[-1][0]


def tail_rank(n: int) -> float | None:
    """Highest ladder percentile with at least MIN_BEYOND of ``n``
    samples beyond it, or None."""
    best = None
    for p in TAIL_LADDER:
        if math.floor(n * (1.0 - p / 100.0) + 1e-9) >= MIN_BEYOND:
            best = p
    return best


def summarize(values: list[float], weights: list[float] | None = None, tail_n: int | None = None) -> dict:
    """Median, tail and sample count. ``tail_n`` overrides the count the
    tail rule uses, for samples that are not independent (events are
    counted in micro-batches)."""
    n = len(values) if tail_n is None else tail_n
    out = {"median": percentile(values, 50.0, weights), "n": n, "tail_p": None, "tail": None}
    p = tail_rank(n)
    if p is not None:
        out["tail_p"] = p
        out["tail"] = percentile(values, p, weights)
    return out
