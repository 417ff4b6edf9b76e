"""Spans recorded from the benchmark's own files, kept in memory and
written out once at the end.

A span has a name whose first dotted part is the layer (``profiles``,
``sources``, ``arrow``, ``normalize``, ``dedup``, ``sink``,
``pipeline``), a start and end in epoch seconds, the id of the span that
caused it, and the run id shared by every span of one benchmark run.
"""

from __future__ import annotations

import itertools
import json
import time
from contextlib import contextmanager

LAYERS = ("profiles", "sources", "arrow", "normalize", "dedup", "sink", "pipeline")


class Spans:
    def __init__(self, run_id: str, first_id: int = 1):
        self.run_id = run_id
        self.rows: list[dict] = []
        self._ids = itertools.count(first_id)
        self._stack: list[int] = []

    @property
    def current(self) -> int | None:
        return self._stack[-1] if self._stack else None

    def add(self, name: str, start: float, end: float, parent: int | None = None,
            **attrs) -> int:
        sid = next(self._ids)
        self.rows.append({
            "span_id": sid, "name": name, "layer": name.split(".", 1)[0],
            "start": start, "end": end, "parent": parent, "run_id": self.run_id,
            **attrs,
        })
        return sid

    @contextmanager
    def span(self, name: str, **attrs):
        """Time the body; spans opened inside it get this one as parent."""
        sid = next(self._ids)
        parent = self.current
        self._stack.append(sid)
        start = time.time()
        try:
            yield sid
        finally:
            self._stack.pop()
            self.rows.append({
                "span_id": sid, "name": name, "layer": name.split(".", 1)[0],
                "start": start, "end": time.time(), "parent": parent,
                "run_id": self.run_id, **attrs,
            })

    def add_batches(self, progress: list[dict], parent: int | None) -> None:
        """One ``pipeline.batch`` span per micro-batch progress event."""
        from .stats import iso_epoch

        for p in progress:
            start = iso_epoch(p["timestamp"])
            dur = p.get("durationMs", {})
            self.add("pipeline.batch", start, start + dur.get("triggerExecution", 0) / 1000,
                     parent, batch_id=p["batchId"], input_rows=p.get("numInputRows"),
                     duration_ms=dur)

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            for row in sorted(self.rows, key=lambda r: (r["start"], r["span_id"])):
                fh.write(json.dumps(row, default=str) + "\n")

