"""In-memory span recorder for the traced run.

A span is recorded around each public call into a program layer, from
the benchmark's own code: name, start, end, parent span and run id.
While a span is open, the Spark job group is set to ``<name>#<span id>``
so the event-log fold (``eventlog.py``) can attribute each Spark job to
the span instance that started it. With tracing disabled ``span`` only
yields: no clock reads, no job-group calls.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager


class Tracer:
    def __init__(self, sc, run_id: str, enabled: bool):
        self.sc = sc
        self.run_id = run_id
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[dict] = []

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        parent = self._stack[-1] if self._stack else None
        rec = {
            "run": self.run_id,
            "id": len(self.spans),
            "name": name,
            "parent": parent["id"] if parent else None,
            "start": time.time(),
            "end": None,
        }
        self.spans.append(rec)
        self._stack.append(rec)
        self.sc.setJobGroup(f"{name}#{rec['id']}", name)
        try:
            yield
        finally:
            rec["end"] = time.time()
            self._stack.pop()
            if parent is not None:
                self.sc.setJobGroup(f"{parent['name']}#{parent['id']}", parent["name"])
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)

    def write(self, path: str) -> None:
        """Write every span, with its self time, one JSON object a line."""
        selfs = self_times(self.spans)
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps({**s, "self_s": selfs[s["id"]]}) + "\n")


def self_times(spans: list[dict]) -> dict[int, float]:
    """Duration minus the part of the span's interval its children cover
    (children of one span never overlap: the client is one thread)."""
    covered: dict[int, float] = {}
    for s in spans:
        if s["parent"] is not None:
            covered[s["parent"]] = covered.get(s["parent"], 0.0) + (s["end"] - s["start"])
    return {s["id"]: (s["end"] - s["start"]) - covered.get(s["id"], 0.0) for s in spans}
