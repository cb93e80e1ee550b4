"""In-memory span recorder for the traced benchmark run.

A span is one call into a layer: name, start, end, the span that was
open on the same thread when it began (its parent) and the trace it
belongs to (one refresh or one basket query). Spans stay in memory and
are written out once, at exit, as a JSON list.

``self_times`` turns a span list into each span's self time: its
duration minus the part of its interval that its child spans cover.
"""

from __future__ import annotations

import functools
import itertools
import json
import threading
import time
from contextlib import contextmanager


class Tracer:
    def __init__(self) -> None:
        self.spans: list[dict] = []
        self._ids = itertools.count(1)
        self._lock = threading.Lock()
        self._stack = threading.local()

    def _open(self) -> list[dict]:
        if not hasattr(self._stack, "spans"):
            self._stack.spans = []
        return self._stack.spans

    @contextmanager
    def span(self, name: str):
        """Record a span around the ``with`` body. The yielded dict takes
        counts measured inside the span (rows, bytes, jobs)."""
        open_spans = self._open()
        parent = open_spans[-1] if open_spans else None
        with self._lock:
            span_id = next(self._ids)
        rec = {
            "id": span_id,
            "name": name,
            "parent": parent["id"] if parent else None,
            "trace": parent["trace"] if parent else span_id,
            "start": time.perf_counter(),
            "end": None,
            "attrs": {},
        }
        open_spans.append(rec)
        try:
            yield rec["attrs"]
        finally:
            rec["end"] = time.perf_counter()
            open_spans.pop()
            with self._lock:
                self.spans.append(rec)

    def wrap(self, owner, attr: str, name: str, after=None) -> None:
        """Replace ``owner.attr`` with a version that records a span named
        ``name``; ``after(attrs, result, *args)`` may add counts."""
        fn = getattr(owner, attr)

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name) as attrs:
                result = fn(*args, **kwargs)
                if after is not None:
                    after(attrs, result, *args)
                return result

        setattr(owner, attr, traced)

    def dump(self, path: str) -> None:
        with open(path, "w", encoding="utf-8") as fh:
            json.dump(self.spans, fh)


def _covered(start: float, end: float, intervals: list[tuple[float, float]]) -> float:
    """Length of the union of ``intervals`` clipped to [start, end]."""
    total, reach = 0.0, start
    for a, b in sorted(intervals):
        a, b = max(a, reach), min(b, end)
        if b > a:
            total += b - a
            reach = b
    return total


def self_times(spans: list[dict]) -> dict[int, float]:
    children: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s["parent"] is not None:
            children.setdefault(s["parent"], []).append((s["start"], s["end"]))
    return {
        s["id"]: (s["end"] - s["start"]) - _covered(s["start"], s["end"], children.get(s["id"], []))
        for s in spans
    }
