"""In-memory spans around the calls the benchmark makes into each
layer, dumped as JSON when the run ends.

A span is (name, start, end, parent, query id). With tracing off the
tracer records nothing but still returns the timing, so the same code
path serves the untraced end-to-end runs and the traced per-layer run.
"""

from __future__ import annotations

import contextlib
import itertools
import json
import threading
import time


class Tracer:
    def __init__(self, enabled: bool) -> None:
        self.enabled = enabled
        self.spans: list[dict] = []
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._lock = threading.Lock()

    @contextlib.contextmanager
    def span(self, name: str, qid: str | None = None):
        """Time the block; yields a dict whose ``"s"`` holds the
        elapsed seconds once the block exits."""
        out: dict = {}
        stack = self._local.__dict__.setdefault("stack", [])
        sid = next(self._ids) if self.enabled else 0
        parent = stack[-1] if stack else None
        stack.append(sid)
        t0 = time.perf_counter()
        try:
            yield out
        finally:
            t1 = time.perf_counter()
            stack.pop()
            out["s"] = t1 - t0
            if self.enabled:
                with self._lock:
                    self.spans.append(
                        {
                            "id": sid,
                            "name": name,
                            "start": t0,
                            "end": t1,
                            "parent": parent,
                            "qid": qid,
                        }
                    )

    def total(self, name: str) -> float:
        return sum(s["end"] - s["start"] for s in self.spans if s["name"] == name)

    def durations(self, name: str) -> list[float]:
        return [s["end"] - s["start"] for s in self.spans if s["name"] == name]

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump(self.spans, fh)
