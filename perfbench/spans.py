"""Spans recorded around the benchmark's calls into each layer.

A span is (name, start, end, parent, request id). Spans stay in
memory and are written once, when the run ends. ``rollup`` folds them
into per-layer self time: a span's duration minus the part of it its
child spans cover. run.py writes both, with the tracing overhead.
"""

from __future__ import annotations

import time
from contextlib import contextmanager


class Tracer:
    """Span recorder; a disabled tracer records nothing and costs one
    branch per span."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.request: int | None = None

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        sid = len(self.spans)
        rec = {
            "id": sid,
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "request": self.request,
            "start": time.perf_counter(),
            "end": None,
            **attrs,
        }
        self.spans.append(rec)
        self._stack.append(sid)
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter()


def rollup(spans: list[dict]) -> dict[str, dict]:
    """Per span name: count, total ms and self ms (total minus the time
    covered by direct children; children of one span never overlap,
    because the benchmark is single-threaded)."""
    child_ms: dict[int, float] = {}
    for s in spans:
        if s["parent"] is not None:
            child_ms[s["parent"]] = child_ms.get(s["parent"], 0.0) + (s["end"] - s["start"]) * 1e3
    out: dict[str, dict] = {}
    for s in spans:
        total = (s["end"] - s["start"]) * 1e3
        row = out.setdefault(s["name"], {"count": 0, "total_ms": 0.0, "self_ms": 0.0})
        row["count"] += 1
        row["total_ms"] += total
        row["self_ms"] += total - child_ms.get(s["id"], 0.0)
    return {k: {**v, "total_ms": round(v["total_ms"], 3), "self_ms": round(v["self_ms"], 3)} for k, v in out.items()}


def overhead(untraced: dict, traced: dict) -> dict[str, float]:
    """Traced minus untraced value of every end-to-end metric both
    records carry (result records as run.py writes them)."""
    u, t = untraced["metrics"], traced.get("end_to_end", {})
    return {k: round(t[k]["value"] - u[k]["value"], 6) for k in u if k in t}

