"""Order statistics shared by every workload.

A :class:`Summary` keeps the sample count next to each figure, so the
report can say how many samples a percentile rests on.
"""

from __future__ import annotations

import math
import statistics
from collections.abc import Sequence
from dataclasses import dataclass

import numpy as np


def percentile(values: Sequence[float], q: float) -> float:
    """Linear-interpolated percentile (``q`` in 0..100), numpy's
    default method."""
    if len(values) == 0:
        raise ValueError("percentile of an empty sample")
    if not 0.0 <= q <= 100.0:
        raise ValueError(f"percentile out of range: {q}")
    return float(np.percentile(values, q))


@dataclass(frozen=True)
class Summary:
    value: float
    n: int          # samples the value was computed from


def summarize(values: Sequence[float], q: float = 50.0) -> Summary:
    return Summary(percentile(values, q), len(values))


def median_or(values: Sequence[float], default: float = 0.0) -> float:
    """Median of a possibly-empty sample (per-layer counters of a layer
    the workload does not use read 0)."""
    return percentile(values, 50) if len(values) else default


def quartile_spread(values: Sequence[float]) -> float:
    """(Q3 - Q1) / median, quartiles as ``statistics.quantiles(n=4)``
    gives them — the run-to-run spread the acceptance rule uses."""
    if len(values) < 2:
        raise ValueError("spread needs at least two values")
    q1, med, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / med if med else math.inf


def interval_union(intervals: Sequence[tuple[int, int]]) -> int:
    """Total length covered by possibly-overlapping [start, end)
    intervals — child spans running in parallel workers cover their
    parent once, not once per worker."""
    total = 0
    cur_s = cur_e = None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_time(parent: tuple[int, int],
              children: Sequence[tuple[int, int]]) -> int:
    """A span's duration minus the part of it its children cover."""
    ps, pe = parent
    clipped = [(max(s, ps), min(e, pe)) for s, e in children
               if e > ps and s < pe]
    return (pe - ps) - interval_union(clipped)
