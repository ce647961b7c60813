"""In-memory span recorder for the traced benchmark run.

A span is one call into a layer, recorded from the benchmark's side:
name, start, end, parent span and the run id.  Spans stay in memory and
are written as JSON lines once the run ends.  The benchmark drives Spark
from a single thread, so child spans never overlap and a span's self
time is its duration minus the sum of its children's durations.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager


class Tracer:
    def __init__(self, run_id: str) -> None:
        self.run_id = run_id
        self.spans: list[dict] = []
        self._open: list[int] = []

    @contextmanager
    def span(self, name: str):
        rec = {
            "id": len(self.spans),
            "name": name,
            "parent": self._open[-1] if self._open else None,
            "run_id": self.run_id,
            "start": time.perf_counter(),
            "end": None,
        }
        self.spans.append(rec)
        self._open.append(rec["id"])
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._open.pop()

    def wrap(self, owner, attr: str, name: str):
        """Replace ``owner.attr`` by a wrapper that records a span around
        every call; returns the function that restores the original."""
        orig = getattr(owner, attr)

        def traced(*args, **kwargs):
            with self.span(name):
                return orig(*args, **kwargs)

        setattr(owner, attr, traced)
        return lambda: setattr(owner, attr, orig)

    def durations(self, name: str) -> list[float]:
        return [s["end"] - s["start"] for s in self.spans if s["name"] == name]

    def self_time(self, name: str) -> float:
        """Summed self time of every span called ``name``."""
        child = {}
        for s in self.spans:
            if s["parent"] is not None:
                child[s["parent"]] = child.get(s["parent"], 0.0) + s["end"] - s["start"]
        return sum(
            s["end"] - s["start"] - child.get(s["id"], 0.0)
            for s in self.spans if s["name"] == name
        )

    def write(self, path: str) -> None:
        with open(path, "w", encoding="utf-8") as f:
            for s in self.spans:
                f.write(json.dumps(s) + "\n")
