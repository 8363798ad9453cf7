"""In-memory spans around the benchmark's calls into the program.

A span is (name, start, end, parent, run id). Spans are kept in a list
and written as JSON once, when the run ends; nothing is written while a
pass is being timed. Self time of a span is its duration minus the part
of it that its child spans cover.
"""
from __future__ import annotations

import json
import time
from contextlib import contextmanager


class Tracer:
    """Records spans when ``enabled``; otherwise every call is a no-op that
    still runs the wrapped block, so traced and untraced passes execute the
    same program calls."""

    def __init__(self, run_id: str, enabled: bool):
        self.run_id = run_id
        self.enabled = enabled
        self.spans: list = []
        self._stack: list = []

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield
            return
        rec = {"id": len(self.spans), "name": name, "run_id": self.run_id,
               "parent": self._stack[-1]["id"] if self._stack else None,
               "start": time.perf_counter(), "end": None, **attrs}
        self.spans.append(rec)
        self._stack.append(rec)
        try:
            yield
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()

    def self_times(self) -> dict:
        """Total self time per span name, in seconds."""
        child = {}
        for s in self.spans:
            if s["parent"] is not None:
                child[s["parent"]] = child.get(s["parent"], 0.0) + (
                    s["end"] - s["start"])
        out: dict = {}
        for s in self.spans:
            own = (s["end"] - s["start"]) - child.get(s["id"], 0.0)
            out[s["name"]] = out.get(s["name"], 0.0) + own
        return out

    @staticmethod
    def span_cost(n: int = 2000) -> float:
        """Seconds one recorded span costs, measured on a throwaway tracer."""
        t = Tracer("cost", True)
        t0 = time.perf_counter()
        for _ in range(n):
            with t.span("x"):
                pass
        return (time.perf_counter() - t0) / n

    def write(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump({"run_id": self.run_id, "spans": self.spans,
                       "self_times": self.self_times()}, fh)
