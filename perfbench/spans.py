"""In-memory span tracer for the benchmark's traced runs.

A span records its name, start, end, the span that caused it (parent) and
the pass it belongs to. Spans are kept in memory and written as one JSON
file when the run ends. A disabled tracer records nothing, so untraced
passes pay only a context-manager call per boundary.

Self time is a span's duration minus the part of its interval that its
children cover; overlapping children are counted once.
"""

from __future__ import annotations

import time
from contextlib import contextmanager


def covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of `intervals`, clipped to [lo, hi]."""
    total = 0.0
    cur_start = cur_end = None
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= a:
            continue
        if cur_end is None or a > cur_end:
            if cur_end is not None:
                total += cur_end - cur_start
            cur_start, cur_end = a, b
        else:
            cur_end = max(cur_end, b)
    if cur_end is not None:
        total += cur_end - cur_start
    return total


def self_time(span: dict, spans: list[dict]) -> float:
    """Duration of `span` not covered by its direct children."""
    kids = [(s["start"], s["end"]) for s in spans if s["parent"] == span["id"]]
    return (span["end"] - span["start"]) - covered(kids, span["start"], span["end"])


class Tracer:
    def __init__(self) -> None:
        self.enabled = False
        self.pass_id: str | None = None
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str):
        """Record one span around the body; yields the span record (or None
        when tracing is off) so callers can attach attributes."""
        if not self.enabled:
            yield None
            return
        rec = {
            "id": len(self.spans),
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "pass": self.pass_id,
            "start": time.perf_counter(),
            "end": None,
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()

    def wrap(self, name: str, fn, record_result: bool = False):
        """`fn` with a span around every call; with record_result the
        call's return value is stored on the span as `result`."""

        def traced(*args, **kwargs):
            with self.span(name) as rec:
                out = fn(*args, **kwargs)
                if rec is not None and record_result:
                    rec["result"] = out
                return out

        return traced

    def named(self, name: str, pass_id: str | None = None) -> list[dict]:
        return [
            s
            for s in self.spans
            if s["name"] == name and (pass_id is None or s["pass"] == pass_id)
        ]

    def durations(self, name: str, pass_id: str | None = None) -> list[float]:
        return [s["end"] - s["start"] for s in self.named(name, pass_id)]



def span_cost_s(n: int = 20_000) -> float:
    """Wall time one recorded span adds: the per-span time of an enabled
    tracer minus that of a disabled one, measured in this process. Times
    the span count of a pass, this is the pass's tracing overhead without
    the run-to-run noise of timing a second, untraced pass."""

    def per_span(enabled: bool) -> float:
        t = Tracer()
        t.enabled = enabled
        t0 = time.perf_counter()
        for _ in range(n):
            with t.span("probe"):
                pass
        return (time.perf_counter() - t0) / n

    return max(0.0, per_span(True) - per_span(False))
