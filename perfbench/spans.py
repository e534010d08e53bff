"""In-memory spans recorded around the benchmark's calls into the package.

A span is (id, name, start, end, parent, run_id); all spans of one run share
the run id. Spans stay in memory and are written once when the run ends.
Each span also names the Spark job group that was set while it was open, so
the offline event-log reader can attribute Spark jobs to it.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager


class Tracer:
    def __init__(self, run_id: str, spark=None):
        self.run_id = run_id
        self.spark = spark
        self.spans: list[dict] = []
        self._open: list[dict] = []
        # job-group prefix of the job in flight ("cold:", "t0:", ...)
        self.prefix = ""

    def group(self, name: str) -> str:
        return self.prefix + name

    def begin(self, name: str, group: str | None = None) -> dict:
        span = {"id": len(self.spans), "name": name,
                "start": time.perf_counter(), "end": None,
                "parent": self._open[-1]["id"] if self._open else None,
                "run_id": self.run_id, "group": group}
        self.spans.append(span)
        self._open.append(span)
        if group is not None and self.spark is not None:
            self.spark.sparkContext.setJobGroup(group, name)
        return span

    def end(self, span: dict) -> None:
        span["end"] = time.perf_counter()
        self._open.remove(span)

    @contextmanager
    def span(self, name: str, group: str | None = None):
        s = self.begin(name, group)
        try:
            yield s
        finally:
            self.end(s)

    def self_times_by_id(self) -> dict[int, float]:
        """Self time of each span: its duration minus the part covered by
        its direct children."""
        out = {s["id"]: s["end"] - s["start"] for s in self.spans}
        for s in self.spans:
            if s["parent"] is not None:
                out[s["parent"]] -= s["end"] - s["start"]
        return out

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(self.spans, f)
