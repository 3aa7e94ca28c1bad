"""In-memory spans recorded around the benchmark's calls into each layer.

A span is ``{"trace", "id", "parent", "name", "start", "end"}``.  The
trace id is ``<workload>-<batch id>`` (``<workload>-setup`` for session
start and warm-up); a span's parent is the innermost span open on the
same thread, or else the micro-batch span ``b<batch id>`` that
``run.py`` adds from the engine's own progress report.  Spans stay in
memory and are written out when the run ends.
"""

from __future__ import annotations

import functools
import itertools
import threading
import time
from contextlib import contextmanager, nullcontext


class NoTrace:
    """The untraced run: no spans, no wrappers."""

    enabled = False

    def span(self, name: str, batch=None):
        return nullcontext()

    def wrap(self, fn, name: str):
        return fn


class Tracer(NoTrace):
    enabled = True

    def __init__(self, workload: str) -> None:
        self.workload = workload
        self.spans: list[dict] = []
        self._ids = itertools.count()
        self._local = threading.local()

    @contextmanager
    def span(self, name: str, batch=None):
        stack = self._local.__dict__.setdefault("stack", [])
        if batch is None and stack:
            batch = stack[-1]["batch"]
        parent = stack[-1]["id"] if stack else (
            f"b{batch}" if isinstance(batch, int) else None
        )
        s = {"trace": f"{self.workload}-{batch}", "batch": batch,
             "id": f"s{next(self._ids)}", "parent": parent, "name": name,
             "start": time.time()}
        stack.append(s)
        try:
            yield s
        finally:
            s["end"] = time.time()
            stack.pop()
            self.spans.append(s)

    def wrap(self, fn, name: str):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        return traced


def self_times(spans: list[dict]) -> dict[str, dict]:
    """Per span name: count, total and self milliseconds.  Self time is
    the span's duration minus the part its children cover."""
    children: dict[str, list[dict]] = {}
    for s in spans:
        if s.get("parent"):
            children.setdefault(s["parent"], []).append(s)
    out: dict[str, dict] = {}
    for s in spans:
        covered, last = 0.0, s["start"]
        for c in sorted(children.get(s["id"], []), key=lambda c: c["start"]):
            lo, hi = max(c["start"], last), min(c["end"], s["end"])
            if hi > lo:
                covered += hi - lo
                last = hi
        agg = out.setdefault(s["name"], {"count": 0, "total_ms": 0.0, "self_ms": 0.0})
        agg["count"] += 1
        agg["total_ms"] += (s["end"] - s["start"]) * 1000
        agg["self_ms"] += (s["end"] - s["start"] - covered) * 1000
    return out
