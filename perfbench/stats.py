"""Summaries of per-operation samples.

A latency sample is a float in milliseconds, or ``None`` for an operation
that failed its output check. A failed operation counts as missing any
latency limit, so it sorts above every measured latency.
"""

from __future__ import annotations

import math
import statistics

#: a percentile is reported only when at least this many samples lie beyond it
MIN_BEYOND = 10


def percentile(samples: list[float | None], q: float, min_beyond: int = MIN_BEYOND) -> float | None:
    """The ``q``-quantile (0 < q < 1) of ``samples`` by the nearest-rank rule,
    with failed operations (``None``) counted as infinitely slow.

    Returns ``None`` when fewer than ``min_beyond`` samples lie beyond the
    rank, and ``math.inf`` when the rank falls on a failed operation.
    """
    if not 0.0 < q < 1.0:
        raise ValueError(f"q must lie in (0, 1), got {q}")
    n = len(samples)
    rank = max(1, math.ceil(q * n))  # 1-based nearest rank
    if n - rank < min_beyond:
        return None
    ordered = sorted(math.inf if s is None else s for s in samples)
    return ordered[rank - 1]


def median(values: list[float]) -> float:
    """Plain median of measured values (no failure semantics); 0.0 if empty."""
    return statistics.median(values) if values else 0.0
