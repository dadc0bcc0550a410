"""In-memory spans around the benchmark's calls into the engine's
layers. Each span records its name, layer, start, end, parent span and
batch id, and may tag its Spark jobs with a job group of its own so
their counters can be read per span afterwards. Spans stay in memory
until ``dump`` writes them out at exit.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager


class Tracer:
    """Records spans while ``enabled``; otherwise ``span`` does nothing."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.enabled = False
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.batch = None

    @contextmanager
    def span(self, name: str, layer: str, tag_jobs: bool = False):
        """Time the enclosed call as a span of ``layer``. With
        ``tag_jobs`` the Spark jobs it starts get the span's own job
        group (``span-<index>``), restored to the batch group after."""
        if not self.enabled:
            yield None
            return
        idx = len(self.spans)
        rec = {"id": idx, "name": name, "layer": layer, "batch": self.batch,
               "parent": self._stack[-1] if self._stack else None,
               "group": f"span-{idx}" if tag_jobs else None}
        self.spans.append(rec)
        self._stack.append(idx)
        if tag_jobs:
            self.sc.setJobGroup(rec["group"], name)
        rec["start"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            if tag_jobs and self.batch is not None:
                self.sc.setJobGroup(f"batch-{self.batch}", "batch")

    def batch_spans(self, batch) -> list[dict]:
        return [s for s in self.spans if s["batch"] == batch]

    def self_times(self, batch) -> dict[str, float]:
        """Span name → self time (duration minus the time its direct
        children cover), summed over the spans of ``batch``."""
        spans = self.batch_spans(batch)
        child_time: dict[int, float] = {}
        for s in spans:
            if s["parent"] is not None:
                child_time[s["parent"]] = child_time.get(s["parent"], 0.0) + s["end"] - s["start"]
        out: dict[str, float] = {}
        for s in spans:
            own = s["end"] - s["start"] - child_time.get(s["id"], 0.0)
            out[s["name"]] = out.get(s["name"], 0.0) + own
        return out

    def dump(self, path: str, extra: dict) -> None:
        with open(path, "w") as f:
            json.dump({"spans": self.spans, **extra}, f)
