"""Summary statistics for timed samples."""

from __future__ import annotations

import math
import statistics

#: Percentiles above the median that a timing may report.
UPPER_PERCENTILES = (90, 95, 99)
#: A percentile is reported only when at least this many samples lie above it.
MIN_BEYOND = 10


def percentile(samples: list[float], p: float) -> float:
    """Nearest-rank ``p``-th percentile (the smallest sample with at least
    ``p`` percent of the samples at or below it)."""
    ordered = sorted(samples)
    rank = max(1, math.ceil(p / 100 * len(ordered)))
    return ordered[rank - 1]


def reportable_percentiles(samples: list[float]) -> dict[int, float]:
    """The upper percentiles with at least :data:`MIN_BEYOND` samples
    strictly above them; fewer samples make a tail figure a guess."""
    out = {}
    for p in UPPER_PERCENTILES:
        value = percentile(samples, p)
        if sum(1 for s in samples if s > value) >= MIN_BEYOND:
            out[p] = value
    return out


def describe(samples: list[float]) -> str:
    """``p50=… [p90=…] n=…`` for a human-readable report line."""
    parts = [f"p50={statistics.median(samples):.4f}"]
    parts += [f"p{p}={v:.4f}" for p, v in reportable_percentiles(samples).items()]
    parts.append(f"n={len(samples)}")
    return " ".join(parts)
