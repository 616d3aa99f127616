"""Summary statistics used by the benchmark and its A/A comparison.

A timing is reported as its median plus the highest percentile that still
has at least ``MIN_TAIL`` samples beyond it, with the sample count stated.
With too few samples for any percentile above the median, only the median
is reported.
"""

from __future__ import annotations

import math
import statistics

MIN_TAIL = 10
# candidate tail percentiles, highest first
TAIL_PERCENTILES = (99.9, 99.0, 95.0, 90.0, 75.0)


def median(values) -> float:
    values = list(values)
    if not values:
        raise ValueError("median of no samples")
    return float(statistics.median(values))


def percentile(values, pct: float) -> float:
    """Nearest-rank percentile (the value at rank ceil(pct/100 * n))."""
    xs = sorted(values)
    if not xs:
        raise ValueError("percentile of no samples")
    rank = max(1, math.ceil(pct / 100.0 * len(xs)))
    return float(xs[rank - 1])


def tail_percentile(n: int) -> float | None:
    """Highest candidate percentile with at least ``MIN_TAIL`` of ``n``
    samples strictly beyond its nearest rank, or None."""
    for pct in TAIL_PERCENTILES:
        rank = max(1, math.ceil(pct / 100.0 * n))
        if n - rank >= MIN_TAIL:
            return pct
    return None


def summarize(values) -> dict:
    """``{"n", "p50"[, "pXX"]}`` for a list of timings."""
    xs = list(values)
    out = {"n": len(xs), "p50": median(xs)}
    pct = tail_percentile(len(xs))
    if pct is not None:
        out[f"p{pct:g}"] = percentile(xs, pct)
    return out


def quartiles(values) -> tuple[float, float, float]:
    """(q1, median, q3) as ``statistics.quantiles(values, n=4)`` gives."""
    xs = list(values)
    if len(xs) < 2:
        v = float(xs[0])
        return v, v, v
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    return float(q1), float(q2), float(q3)
