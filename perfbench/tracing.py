"""In-memory span tracer for the benchmark's traced runs.

A span is (id, name, start, end, parent, run). Spans live in a list
until the run ends and are then written as JSON lines. A span's self
time is its duration minus the part of it its child spans cover.
The benchmark opens spans around its own calls into each layer; the
program itself is not instrumented.
"""

from __future__ import annotations

import contextlib
import json
import time


class Tracer:
    def __init__(self, run_id: str):
        self.run_id = run_id
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextlib.contextmanager
    def span(self, name: str):
        sid = len(self.spans)
        rec = {"id": sid, "name": name, "start": time.perf_counter(), "end": None,
               "parent": self._stack[-1] if self._stack else None, "run": self.run_id}
        self.spans.append(rec)
        self._stack.append(sid)
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter()

    def self_times(self) -> dict[int, float]:
        """Span id -> duration minus the union of its children's
        intervals (children of one parent run one after another here,
        so the union is their sum)."""
        own = {s["id"]: s["end"] - s["start"] for s in self.spans}
        for s in self.spans:
            if s["parent"] is not None:
                own[s["parent"]] -= s["end"] - s["start"]
        return own

    def self_time(self, name: str) -> float:
        """Total self time of every span called ``name``."""
        own = self.self_times()
        return sum(own[s["id"]] for s in self.spans if s["name"] == name)

    def write(self, path: str) -> None:
        with open(path, "w") as fh:
            for s in self.spans:
                fh.write(json.dumps(s) + "\n")
