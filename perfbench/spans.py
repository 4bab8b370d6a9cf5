"""Span recorder and per-layer self-time report for the traced run.

A span covers one call from the benchmark into a layer of the package. It
has a name (``<layer>.<call>``, e.g. ``routing.engine.matrix``), start and
end times, the span that was open when it started (its parent) and the id
of the request it belongs to. Spans stay in memory until the run ends.

A layer's self time is the summed duration of its spans minus the part of
each span that its child spans cover.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass

# span-name prefixes that name a layer; anything else is benchmark code
LAYERS = (
    "session",
    "routing.osm_build",
    "routing.graph",
    "routing.engine",
    "routing.kernels",
    "queries",
    "sources",
    "spark.action",
)


def layer_of(name: str) -> str:
    for layer in LAYERS:  # no layer name is a prefix of another
        if name == layer or name.startswith(layer + "."):
            return layer
    return "bench"


@dataclass
class Span:
    id: int
    parent: int | None
    name: str
    start: float
    end: float
    request: str | None

    @property
    def duration(self) -> float:
        return self.end - self.start


class Tracer:
    """Records spans when enabled; when disabled every call is a no-op, so
    the untraced run executes the same code."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self._request: str | None = None
        self._next = 0

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        sid = self._next
        self._next += 1
        parent = self._stack[-1] if self._stack else None
        self._stack.append(sid)
        start = time.perf_counter()
        try:
            yield
        finally:
            end = time.perf_counter()
            self._stack.pop()
            self.spans.append(Span(sid, parent, name, start, end, self._request))

    @contextmanager
    def request(self, request_id: str):
        """Tag every span opened inside with ``request_id``."""
        prev, self._request = self._request, request_id
        try:
            with self.span("bench.request"):
                yield
        finally:
            self._request = prev

    def durations(self, name: str) -> list[float]:
        return [s.duration for s in self.spans if s.name == name]

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            for s in sorted(self.spans, key=lambda s: s.start):
                f.write(json.dumps(asdict(s)) + "\n")


def self_times(spans: list[Span]) -> dict[str, float]:
    """Per-span self time: duration minus the union of its children's
    intervals (clipped to the parent)."""
    children: dict[int, list[Span]] = {}
    for s in spans:
        if s.parent is not None:
            children.setdefault(s.parent, []).append(s)
    out = {}
    for s in spans:
        covered, cur_start, cur_end = 0.0, None, None
        for c in sorted(children.get(s.id, []), key=lambda c: c.start):
            a, b = max(c.start, s.start), min(c.end, s.end)
            if b <= a:
                continue
            if cur_end is None or a > cur_end:
                if cur_end is not None:
                    covered += cur_end - cur_start
                cur_start, cur_end = a, b
            else:
                cur_end = max(cur_end, b)
        if cur_end is not None:
            covered += cur_end - cur_start
        out[s.id] = s.duration - covered
    return out


def layer_report(spans: list[Span]) -> dict[str, dict]:
    """Per layer: span count, total duration and self time (seconds)."""
    st = self_times(spans)
    rep: dict[str, dict] = {}
    for s in spans:
        r = rep.setdefault(layer_of(s.name), {"spans": 0, "total_s": 0.0, "self_s": 0.0})
        r["spans"] += 1
        r["total_s"] += s.duration
        r["self_s"] += st[s.id]
    return dict(sorted(rep.items()))
