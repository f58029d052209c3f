"""In-memory spans recorded around calls into the engine's layers.

A span has a name, start, end, parent and trace id; spans of one
operation share the trace id. Spans stay in memory and are written out
once, when the run ends, as an OTLP/JSON traces file the engine's own
``read_otlp_traces`` can load. A layer's self time is its spans'
durations minus the parts of those intervals their child spans cover.

With tracing off, :meth:`Tracer.span` records nothing and costs one
attribute check.
"""

from __future__ import annotations

import json
import os
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass, field
from pathlib import Path


@dataclass
class Span:
    name: str
    trace_id: str
    span_id: str
    parent_id: str | None
    start_ns: int
    end_ns: int = 0
    attrs: dict = field(default_factory=dict)

    @property
    def ms(self) -> float:
        return (self.end_ns - self.start_ns) / 1e6


class Tracer:
    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[Span] = []
        self._lock = threading.Lock()
        self._local = threading.local()

    def _stack(self) -> list[Span]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextmanager
    def span(self, name: str, parent: Span | None = None, **attrs):
        """Time the enclosed block as a child of ``parent``, by default
        this thread's open span (a new trace when there is none)."""
        if not self.enabled:
            yield None
            return
        stack = self._stack()
        parent = parent or (stack[-1] if stack else None)
        sp = Span(name, parent.trace_id if parent else os.urandom(16).hex(),
                  os.urandom(8).hex(), parent.span_id if parent else None,
                  time.time_ns(), attrs=attrs)
        stack.append(sp)
        try:
            yield sp
        finally:
            sp.end_ns = time.time_ns()
            stack.pop()
            with self._lock:
                self.spans.append(sp)

    def add(self, name: str, parent: Span, start_ns: int, end_ns: int,
            **attrs) -> None:
        """Record a span timed by someone else (Catalyst's own phase clock)."""
        if not self.enabled or parent is None:
            return
        with self._lock:
            self.spans.append(Span(name, parent.trace_id, os.urandom(8).hex(),
                                   parent.span_id, start_ns, end_ns, attrs))

    def write_otlp_json(self, path: Path, service: str) -> None:
        """All spans as one OTLP/JSON ``resourceSpans`` document."""
        def kv(k, v):
            if isinstance(v, bool):
                return {"key": k, "value": {"boolValue": v}}
            if isinstance(v, int):
                return {"key": k, "value": {"intValue": str(v)}}
            if isinstance(v, float):
                return {"key": k, "value": {"doubleValue": v}}
            return {"key": k, "value": {"stringValue": str(v)}}

        spans = []
        for s in self.spans:
            d = {"traceId": s.trace_id, "spanId": s.span_id, "name": s.name,
                 "kind": 1, "startTimeUnixNano": str(s.start_ns),
                 "endTimeUnixNano": str(s.end_ns),
                 "attributes": [kv(k, v) for k, v in s.attrs.items()]}
            if s.parent_id:
                d["parentSpanId"] = s.parent_id
            spans.append(d)
        doc = {"resourceSpans": [{
            "resource": {"attributes": [kv("service.name", service)]},
            "scopeSpans": [{"scope": {"name": "perfbench"}, "spans": spans}]}]}
        path.write_text(json.dumps(doc))


def _covered_ns(lo: int, hi: int, intervals: list[tuple[int, int]]) -> int:
    """Length of [lo, hi) covered by the union of ``intervals``."""
    total, cur = 0, lo
    for a, b in sorted(intervals):
        a, b = max(a, cur), min(b, hi)
        if b > a:
            total += b - a
            cur = b
    return total


def self_times_ms(spans: list[Span]) -> dict[str, float]:
    """Span id -> self time: duration minus the union of its children."""
    children: dict[str, list[tuple[int, int]]] = {}
    for s in spans:
        if s.parent_id:
            children.setdefault(s.parent_id, []).append((s.start_ns, s.end_ns))
    return {s.span_id: (s.end_ns - s.start_ns
                        - _covered_ns(s.start_ns, s.end_ns,
                                      children.get(s.span_id, []))) / 1e6
            for s in spans}


def layer_self_ms(spans: list[Span], layer_of) -> dict[str, float]:
    """Total self time per layer; ``layer_of(span_name)`` names the layer."""
    own = self_times_ms(spans)
    out: dict[str, float] = {}
    for s in spans:
        layer = layer_of(s.name)
        out[layer] = out.get(layer, 0.0) + own[s.span_id]
    return out
