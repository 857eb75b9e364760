"""In-memory spans from the benchmark's own files, written out at the end.

A span has a name, a start, an end, the id of the span that caused it and
free-form attributes. Every span of one benchmark run shares ``trace_id``.
Times are seconds on the monotonic clock, relative to the tracer's start.
"""

from __future__ import annotations

import json
import os
import time
import uuid
from contextlib import contextmanager
from typing import Dict, List, Optional


class Tracer:
    def __init__(self) -> None:
        self.trace_id = uuid.uuid4().hex
        self.t0 = time.monotonic()
        self.spans: List[Dict] = []
        self._stack: List[int] = []

    def add(self, name: str, start: float, end: float,
            parent: Optional[int] = None, **attrs) -> int:
        """Record a span from absolute monotonic ``start``/``end``."""
        sid = len(self.spans)
        if parent is None and self._stack:
            parent = self._stack[-1]
        self.spans.append({
            "trace_id": self.trace_id, "id": sid, "parent": parent, "name": name,
            "start": start - self.t0, "end": end - self.t0, "attrs": attrs,
        })
        return sid

    @contextmanager
    def span(self, name: str, **attrs):
        sid = self.add(name, time.monotonic(), time.monotonic(), **attrs)
        self._stack.append(sid)
        try:
            yield self.spans[sid]
        finally:
            self._stack.pop()
            self.spans[sid]["end"] = time.monotonic() - self.t0

    def write(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump({"trace_id": self.trace_id, "spans": self.spans}, f, indent=1)


def add_engine_phases(tracer: Tracer, parent: int, crawl_start: float,
                      summary: Dict) -> None:
    """Child spans of a crawl for each phase its JSON line reports.

    The job reports durations only, so each phase is laid end to end from
    the crawl's start in the order reported (``start_inferred``). The base
    loop reports per-round raw/mat/stats phases; the polite loop reports
    round walls and its docs tail phases.
    """
    t = crawl_start
    phases = dict(summary.get("phases") or {})
    if "read_pages" in phases:
        sec = phases.pop("read_pages")
        tracer.add("read_pages", t, t + sec, parent, start_inferred=True)
        t += sec
    timings = summary.get("engine_timings") or []
    reported_rounds = any(p["phase"].startswith("r0_") for p in timings)
    if not reported_rounds:
        for rnd, ms in summary.get("round_walls_ms") or []:
            tracer.add(f"round{rnd}", t, t + ms / 1000.0, parent, start_inferred=True)
            t += ms / 1000.0
    for p in timings:
        tracer.add(p["phase"], t, t + p["ms"] / 1000.0, parent, start_inferred=True)
        t += p["ms"] / 1000.0
    for name, sec in phases.items():
        tracer.add(name, t, t + sec, parent, start_inferred=True)
        t += sec
