"""In-memory spans recorded around the benchmark's calls into each layer.

A span is (id, parent, name, key, start, end) in ``time.perf_counter``
seconds. ``Tracer(enabled=False)`` records nothing, so untraced passes
pay only for a no-op context manager. Each thread nests its own spans;
a span opened in one thread can parent spans of another through
``span(..., parent=id)``.
"""

from __future__ import annotations

import contextlib
import json
import threading
import time
from collections import defaultdict


class Tracer:
    def __init__(self) -> None:
        self.enabled = False
        self.spans: list[dict] = []
        self._lock = threading.Lock()
        self._local = threading.local()

    def _record(self, **rec) -> dict:
        with self._lock:
            rec["id"] = len(self.spans)
            self.spans.append(rec)
        return rec

    @contextlib.contextmanager
    def span(self, name: str, key: str = "", parent: int | None = None):
        """Yields the span's id (None when tracing is off)."""
        if not self.enabled:
            yield None
            return
        stack = self._local.__dict__.setdefault("stack", [])
        if parent is None and stack:
            parent = stack[-1]
        rec = self._record(parent=parent, name=name, key=key, start=time.perf_counter(), end=None)
        stack.append(rec["id"])
        try:
            yield rec["id"]
        finally:
            stack.pop()
            rec["end"] = time.perf_counter()

    def add(self, name: str, key: str, start: float, end: float, parent: int) -> None:
        """Record a span measured elsewhere (a streaming micro-batch)."""
        self._record(parent=parent, name=name, key=key, start=start, end=end)

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump({"spans": self.spans}, f)


def self_times(spans: list[dict]) -> dict[int, float]:
    """Span duration minus the part of its interval its children cover.

    Children are clipped to the parent's interval and merged, so
    overlapping or late-reported children never count twice."""
    children = defaultdict(list)
    for s in spans:
        if s["parent"] is not None:
            children[s["parent"]].append(s)
    out = {}
    for s in spans:
        covered, cur_lo, cur_hi = 0.0, None, None
        for c in sorted(children[s["id"]], key=lambda c: c["start"]):
            lo, hi = max(c["start"], s["start"]), min(c["end"], s["end"])
            if hi <= lo:
                continue
            if cur_hi is None or lo > cur_hi:
                if cur_hi is not None:
                    covered += cur_hi - cur_lo
                cur_lo, cur_hi = lo, hi
            else:
                cur_hi = max(cur_hi, hi)
        if cur_hi is not None:
            covered += cur_hi - cur_lo
        out[s["id"]] = (s["end"] - s["start"]) - covered
    return out
