"""What every workload records about one operation."""

from __future__ import annotations

from dataclasses import dataclass, field

from .engine import OpCounts


@dataclass
class Op:
    """One request or increment. ``units`` is the verified work it stands
    for once its check passes (1 request, or the quote rows merged)."""

    name: str
    trace_id: str
    timed: bool
    latency_ms: float = 0.0
    ok: bool = False
    units: int = 1
    error: str | None = None
    layer: dict[str, float] = field(default_factory=dict)  # per-layer values of this op
    counts: OpCounts | None = None
