"""In-memory spans around the benchmark's calls into the package.

Each span records name, start, end (epoch seconds, comparable with the
event log's millisecond stamps), its parent and the shared run id, and
runs its calls inside a Spark job group of the same name so the event
log attributes their jobs to it.  Spans stay in memory; the caller
writes them out when the run ends.
"""

from __future__ import annotations

import time
from contextlib import contextmanager


class Tracer:
    def __init__(self, sc, run_id: str):
        self.sc, self.run_id = sc, run_id
        self.spans: list[dict] = []
        self._open: list[dict] = []

    def _group(self, name: str | None) -> None:
        if name is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
        else:
            self.sc.setJobGroup(name, name)

    @contextmanager
    def span(self, name: str):
        parent = self._open[-1] if self._open else None
        rec = {"id": len(self.spans) + len(self._open), "name": name,
               "parent": parent["id"] if parent else None,
               "run_id": self.run_id, "start": time.time()}
        self._open.append(rec)
        self._group(name)
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            self._open.pop()
            self.spans.append(rec)
            self._group(parent["name"] if parent else None)


def self_times(spans: list[dict]) -> dict[int, float]:
    """Span id -> duration minus the part covered by its children."""
    own = {s["id"]: s["end"] - s["start"] for s in spans}
    for s in spans:
        if s["parent"] is not None:
            own[s["parent"]] -= s["end"] - s["start"]
    return own


def layer_wall(spans: list[dict], layers) -> dict[str, float]:
    """Summed self time per layer name (a layer may span several
    calls, e.g. extract on two front doors)."""
    own = self_times(spans)
    out = {name: 0.0 for name in layers}
    for s in spans:
        if s["name"] in out:
            out[s["name"]] += own[s["id"]]
    return out
