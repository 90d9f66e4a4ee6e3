"""In-memory span recorder for the traced run.

A span is (name, start, end, parent, batch); spans of one client round
share its batch id. ``span(..., group=...)`` also tags the Spark jobs
started inside it with that job group, so the event log can attribute
executor work to the span. Spans are kept in memory and written out
once, when the run ends. A disabled recorder records nothing and sets
no job group, which is what the timed run uses.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager


class Spans:
    def __init__(self, sc=None, enabled: bool = True):
        self.sc = sc
        self.enabled = enabled
        self.records: list[dict] = []
        self._open: list[int] = []

    @contextmanager
    def span(self, name: str, batch: int | None = None,
             group: str | None = None):
        if not self.enabled:
            yield None
            return
        rec = {"name": name, "batch": batch, "group": group,
               "parent": self._open[-1] if self._open else None,
               "start": time.perf_counter(), "end": None}
        self.records.append(rec)
        self._open.append(len(self.records) - 1)
        outer = None
        if group is not None:
            outer = self.sc.getLocalProperty("spark.jobGroup.id")
            self.sc.setJobGroup(group, name)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._open.pop()
            if group is not None:
                self.sc.setLocalProperty("spark.jobGroup.id", outer)

    def ms(self, rec: dict) -> float:
        return 1000.0 * (rec["end"] - rec["start"])

    def write(self, path: str) -> None:
        with open(path, "w") as fh:
            for i, rec in enumerate(self.records):
                fh.write(json.dumps({"id": i, **rec}) + "\n")
