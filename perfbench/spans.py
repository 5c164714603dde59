"""In-memory spans for the traced run, written out once at the end."""

from __future__ import annotations

import contextlib
import json
import time


class Tracer:
    """Spans (name, start, end, parent) around the benchmark's calls into
    each layer. A span also tags the Spark jobs it submits with its name as
    the job group, so the event log attributes task time to the layer."""

    def __init__(self, spark):
        self.spark = spark
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextlib.contextmanager
    def span(self, name: str, job_group: bool = True):
        parent = self.spans[self._stack[-1]]["name"] if self._stack else None
        rec = {"name": name, "parent": parent, "start": time.time(), "end": None}
        self.spans.append(rec)
        self._stack.append(len(self.spans) - 1)
        sc = self.spark.sparkContext if job_group else None
        if sc is not None:
            sc.setJobGroup(name, name)
        t0 = time.perf_counter()
        try:
            yield rec
        finally:
            rec["dur"] = time.perf_counter() - t0
            rec["end"] = rec["start"] + rec["dur"]
            self._stack.pop()
            if sc is not None:
                outer = self.spans[self._stack[-1]]["name"] if self._stack else None
                if outer is None:
                    sc.setLocalProperty("spark.jobGroup.id", None)
                    sc.setLocalProperty("spark.job.description", None)
                else:
                    sc.setJobGroup(outer, outer)

    def dur(self, name: str) -> float:
        """Duration of the last span with this name."""
        return next(s["dur"] for s in reversed(self.spans) if s["name"] == name)

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(self.spans, f, indent=1)
