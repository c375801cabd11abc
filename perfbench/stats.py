"""Summary statistics shared by the workloads (pure Python)."""

from __future__ import annotations

import math
import statistics

# Tail percentiles tried from the highest down; a percentile is reported
# only when at least MIN_BEYOND samples lie beyond it.
TAIL_LADDER = (99.9, 99.0, 90.0, 75.0, 50.0)
MIN_BEYOND = 10


def percentile(values: list[float], p: float) -> float:
    """The p-th percentile (nearest rank).  Raises ValueError when fewer
    than MIN_BEYOND samples lie beyond it: a tail read off a handful of
    samples is one sample, not a percentile."""
    n = len(values)
    beyond = math.floor(n * (100.0 - p) / 100.0)
    if beyond < MIN_BEYOND:
        raise ValueError(
            f"p{p:g} of {n} samples has {beyond} beyond it "
            f"(need {MIN_BEYOND})"
        )
    ordered = sorted(values)
    return ordered[max(0, math.ceil(n * p / 100.0) - 1)]


def tail(values: list[float]) -> dict | None:
    """The highest percentile of TAIL_LADDER the sample supports, with
    its sample count, or None when not even the median has
    MIN_BEYOND samples beyond it."""
    for p in TAIL_LADDER:
        try:
            return {"p": p, "value": percentile(values, p), "n": len(values)}
        except ValueError:
            continue
    return None


def median(values: list[float]) -> float:
    return statistics.median(values) if values else 0.0


def geomean(values: list[float]) -> float:
    return math.exp(sum(math.log(v) for v in values) / len(values))


def quarter_growth(values: list[float]) -> float:
    """Median of the last quarter over median of the first quarter of a
    series in stream order (1.0 = flat).  A quarter holds at least one
    sample."""
    q = max(1, math.ceil(len(values) / 4))
    return statistics.median(values[-q:]) / statistics.median(values[:q])
