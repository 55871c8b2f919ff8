"""In-memory spans around the benchmark's calls into each module.

A span records name, start, end, parent span and request id. Spans
stay in memory and are written once, at exit. With tracing off,
`span` records nothing.
"""
from __future__ import annotations

import contextlib
import functools
import json
import time


class Tracer:
    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextlib.contextmanager
    def span(self, name: str, req: str | None = None):
        if not self.enabled:
            yield
            return
        sid = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        if req is None and parent is not None:
            req = self.spans[parent]["req"]
        rec = {"id": sid, "name": name, "parent": parent, "req": req,
               "start": time.perf_counter(), "end": None}
        self.spans.append(rec)
        self._stack.append(sid)
        try:
            yield
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter()

    def wrap(self, name: str, fn):
        """`fn`, each call of it inside a span named `name`."""
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)
        return traced

    def self_times(self) -> dict[str, float]:
        """Per span name: total duration minus the part of it covered
        by child spans (children of one span never overlap: the
        benchmark calls one module at a time)."""
        child_time = [0.0] * len(self.spans)
        for s in self.spans:
            if s["parent"] is not None:
                child_time[s["parent"]] += s["end"] - s["start"]
        out: dict[str, float] = {}
        for s, c in zip(self.spans, child_time):
            out[s["name"]] = out.get(s["name"], 0.0) + (s["end"] - s["start"] - c)
        return out

    def write(self, path: str, extra: dict) -> None:
        t0 = self.spans[0]["start"] if self.spans else 0.0
        spans = [{**s, "start": s["start"] - t0, "end": s["end"] - t0}
                 for s in self.spans]
        with open(path, "w") as f:
            json.dump({"spans": spans, "self_time_s": self.self_times(),
                       **extra}, f, indent=1)
