"""Summary statistics used by the benchmark report.

Every timing is reported as a median plus the highest percentile that has at
least ten samples beyond it, with the sample count.
"""

from __future__ import annotations

import math
import statistics

# Candidate tail percentiles, highest first.
TAIL_CANDIDATES = (99.9, 99.0, 95.0, 90.0, 75.0, 50.0)
MIN_BEYOND = 10


def median(values: list[float]) -> float:
    if not values:
        raise ValueError("median of no samples")
    return float(statistics.median(values))


def _rank(pct: float, n: int) -> int:
    # rounded first so that 99.9 % of 10 000 is rank 9990, not 9991
    return max(1, math.ceil(round(pct * n / 100.0, 9)))


def nearest_rank(values: list[float], pct: float) -> float:
    """Nearest-rank percentile: the smallest sample with at least `pct`
    percent of the samples at or below it."""
    return float(sorted(values)[_rank(pct, len(values)) - 1])


def tail_percentile(values: list[float]) -> tuple[float, float] | None:
    """The highest candidate percentile with at least MIN_BEYOND samples
    strictly beyond its nearest rank, as (pct, value); None when even the
    median has fewer than MIN_BEYOND samples beyond it."""
    n = len(values)
    for pct in TAIL_CANDIDATES:
        if n - _rank(pct, n) >= MIN_BEYOND:
            return pct, nearest_rank(values, pct)
    return None


def summarize(values: list[float]) -> dict:
    """{"median", "n"} plus "tail_pct"/"tail" when the sample supports one."""
    out: dict = {"median": median(values), "n": len(values)}
    tail = tail_percentile(values)
    if tail is not None:
        out["tail_pct"], out["tail"] = tail
    return out


def self_times(cumulative: list[tuple[str, float]]) -> dict[str, float]:
    """Self time by prefix subtraction. `cumulative` lists (layer, seconds to
    materialize the pipeline up to and including that layer) in pipeline
    order; a layer's self time is its prefix time minus the previous one.
    Negative differences (noise) are kept, not clipped, so they stay
    visible."""
    out: dict[str, float] = {}
    prev = 0.0
    for name, t in cumulative:
        out[name] = t - prev
        prev = t
    return out


def quartile_spread(values: list[float]) -> float:
    """(Q3 - Q1) / median, with quartiles as statistics.quantiles(n=4)
    gives them."""
    q1, _, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / median(values)
