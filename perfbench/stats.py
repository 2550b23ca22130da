"""Percentiles by the benchmark's reporting rule.

A timing is reported as its median plus the highest percentile that still
has at least ten samples beyond it, with the sample count, so a tail
figure is never read off a handful of calls.
"""

from __future__ import annotations

import math
import statistics
from typing import Optional, Sequence

# candidate tail levels, highest first
TAIL_LEVELS = (99.9, 99.5, 99.0, 98.0, 95.0, 90.0, 80.0, 75.0)
MIN_BEYOND = 10
# the tail the report asks for; lower levels stand in when samples are few
WANT_LEVEL = 95.0


def _rank(n: int, level: float) -> int:
    # rounded first: 99.9 / 100 * 10_000 is 9990.000000000002 in floats
    return max(1, math.ceil(round(level * n / 100, 9)))


def nearest_rank(sorted_values: Sequence[float], level: float) -> float:
    """The ``level``-th percentile by the nearest-rank method."""
    return sorted_values[_rank(len(sorted_values), level) - 1]


def beyond(n: int, level: float) -> int:
    """How many of ``n`` samples lie beyond the nearest-rank percentile."""
    return n - _rank(n, level)


def tail(samples: Sequence[float], min_beyond: int = MIN_BEYOND) -> Optional[tuple[float, float]]:
    """``(level, value)`` of the highest tail level with at least
    ``min_beyond`` samples beyond it, or None when there are too few."""
    ordered = sorted(samples)
    for level in TAIL_LEVELS:
        if beyond(len(ordered), level) >= min_beyond:
            return level, nearest_rank(ordered, level)
    return None


def summarize(name: str, samples_ms: Sequence[float]) -> dict:
    """Report entries for one timing: ``<name>_p50_ms`` and the tail.

    The tail is reported as ``<name>_p95_ms`` when that level has enough
    samples beyond it, otherwise at the highest level that does (its name
    says which)."""
    out: dict = {}
    n = len(samples_ms)
    if n == 0:
        return out
    out[f"{name}_p50_ms"] = {"value": statistics.median(samples_ms), "unit": "ms", "n": n}
    found = tail(samples_ms)
    if found is None:
        return out
    level, value = found
    if level >= WANT_LEVEL:
        level = WANT_LEVEL
        value = nearest_rank(sorted(samples_ms), WANT_LEVEL)
    label = f"{level:g}".replace(".", "_")
    out[f"{name}_p{label}_ms"] = {
        "value": value,
        "unit": "ms",
        "n": n,
        "beyond": beyond(n, level),
    }
    return out
