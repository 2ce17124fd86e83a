"""In-memory spans around the benchmark's calls into each layer.

A span records name, start, end, parent and the trace id of the request
or increment it belongs to. Spans stay in memory and are written out
once, when the run ends. With tracing off, ``span`` is a no-op context.
"""

from __future__ import annotations

import contextlib
import json
import threading
import time
from collections import defaultdict
from dataclasses import asdict, dataclass


@dataclass
class Span:
    name: str
    trace_id: str
    span_id: int
    parent: int | None
    start: float
    end: float = 0.0


class Tracer:
    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[Span] = []
        self._ids = iter(range(1, 1 << 62))
        self._lock = threading.Lock()
        self._local = threading.local()

    @contextlib.contextmanager
    def span(self, name: str, trace_id: str | None = None):
        """Time the enclosed block. Given a ``trace_id`` it starts a new
        trace (a root span); otherwise it is a child of the innermost open
        span of this thread."""
        if not self.enabled:
            yield
            return
        stack = self._local.__dict__.setdefault("stack", [])
        parent = stack[-1] if stack and trace_id is None else None
        with self._lock:
            sid = next(self._ids)
        s = Span(name, trace_id or parent.trace_id, sid,
                 parent.span_id if parent else None, time.perf_counter())
        stack.append(s)
        try:
            yield
        finally:
            s.end = time.perf_counter()
            stack.pop()
            with self._lock:
                self.spans.append(s)

    def self_ms(self, trace_ids: set[str]) -> dict[str, float]:
        """Total self time per span name over the given traces, in ms: each
        span's duration minus the part of it its children cover."""
        spans = [s for s in self.spans if s.trace_id in trace_ids]
        covered: dict[int, float] = defaultdict(float)
        for s in spans:
            if s.parent is not None:
                covered[s.parent] += s.end - s.start
        out: dict[str, float] = defaultdict(float)
        for s in spans:
            out[s.name] += (s.end - s.start - covered[s.span_id]) * 1000.0
        return dict(out)

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump([asdict(s) for s in self.spans], f)
