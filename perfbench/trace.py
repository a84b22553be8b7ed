"""In-memory spans around the benchmark's calls into each package layer.

A span records ``name, start, end, parent, iteration``. While a span is
open, the Spark jobs it launches carry a job group named after the span,
so the event-log reader can charge scheduler, shuffle and Python-worker
counters to the same boundary. Spans stay in memory and are written
once, when the run ends. A disabled tracer records nothing and sets no job
group, which is how the end-to-end runs are timed.
"""

from __future__ import annotations

import contextlib
import json
import time
from typing import Iterator, Optional

from stats import self_times


class Tracer:
    def __init__(self, sc=None, enabled: bool = False):
        self.sc = sc
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[dict] = []

    @staticmethod
    def group_of(span: dict) -> str:
        return f"perfbench-span-{span['id']}"

    def _set_group(self, span: Optional[dict]) -> None:
        if span is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
        else:
            self.sc.setJobGroup(self.group_of(span), span["name"])

    @contextlib.contextmanager
    def span(self, name: str, iteration: Optional[int] = None) -> Iterator[Optional[dict]]:
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        rec = {
            "id": len(self.spans),
            "name": name,
            "start": time.time(),
            "end": None,
            "parent": parent["id"] if parent else None,
            "iteration": iteration if iteration is not None else (
                parent["iteration"] if parent else None
            ),
        }
        self.spans.append(rec)
        self._stack.append(rec)
        if self.sc is not None:
            self._set_group(rec)
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            self._stack.pop()
            if self.sc is not None:
                self._set_group(self._stack[-1] if self._stack else None)

    def walls(self, name: str) -> list[float]:
        return [s["end"] - s["start"] for s in self.spans if s["name"] == name]

    def named(self, name: str) -> list[dict]:
        return [s for s in self.spans if s["name"] == name]

    def subtree(self, span: dict) -> list[dict]:
        """The span and every span opened inside it."""
        ids = {span["id"]}
        out = [span]
        for s in self.spans[span["id"] + 1:]:
            if s["parent"] in ids:
                ids.add(s["id"])
                out.append(s)
        return out

    def self_time_by_name(self) -> dict[str, float]:
        own = self_times([s for s in self.spans if s["end"] is not None])
        out: dict[str, float] = {}
        for s in self.spans:
            if s["id"] in own:
                out[s["name"]] = out.get(s["name"], 0.0) + own[s["id"]]
        return out

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(self.spans, f)
