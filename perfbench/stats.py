"""Percentile estimation with an explicit sample-count rule.

The median is always reported. Any other percentile is only resolved
when at least ``MIN_BEYOND`` samples lie beyond it, so p75 needs 40
samples and p90 needs 100. Below that the estimator reports the largest
sample, an upper bound on the true percentile, and says so.
"""

from __future__ import annotations

import math
from dataclasses import dataclass

import numpy as np

MIN_BEYOND = 10


def min_samples(q: float) -> int:
    """Samples needed before percentile ``q`` (0 < q < 1) has
    ``MIN_BEYOND`` samples beyond it. The median is the exception: it is
    always resolved, since it is the centre of any sample."""
    if not 0.0 < q < 1.0:
        raise ValueError(f"percentile must be in (0, 1), got {q}")
    if q == 0.5:
        return 1
    return math.ceil(MIN_BEYOND / (1.0 - q) - 1e-9)


@dataclass(frozen=True)
class Estimate:
    value: float
    n: int
    resolved: bool  # False: too few samples, value is the sample maximum

    def describe(self) -> str:
        how = "" if self.resolved else ", max: too few samples"
        return f"n={self.n}{how}"


def percentile(values: list[float], q: float) -> Estimate:
    if len(values) >= min_samples(q):
        return Estimate(float(np.quantile(values, q)), len(values), True)
    if not values:
        raise ValueError("no samples")
    return Estimate(max(values), len(values), False)

