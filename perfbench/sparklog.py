"""Spark's own counters, read back from a local event log.

The traced run enables ``spark.eventLog`` (uncompressed, not rolling).
Every job carries the job group of the benchmark span that launched it,
so counters are charged to the execution that actually ran. Reading SQL
metrics through ``df._jdf.queryExecution()`` would instead see a plan that
never executed when the action is a noop write, which runs its own
execution.
"""

from __future__ import annotations

import glob
import json
import os
from collections import defaultdict

# SQL metric names of the Python-evaluation operators (MapInPandas,
# FlatMapGroupsInPandas, ...) mapped to report keys
PYTHON_METRICS = {
    "time to start Python workers": "python.boot_ms",
    "time to initialize Python workers": "python.init_ms",
    "time to run Python workers": "python.total_ms",
    "data sent to Python workers": "python.data_sent_bytes",
}

COUNTER_KEYS = (
    "spark.jobs",
    "spark.stages",
    "spark.tasks",
    "shuffle.bytes_written",
    "spill.bytes",
    *PYTHON_METRICS.values(),
)


def _walk_plan(node: dict, out: dict) -> None:
    for m in node.get("metrics", []):
        out[m["accumulatorId"]] = (m["name"], m.get("metricType", ""))
    for c in node.get("children", []):
        _walk_plan(c, out)


class EventLog:
    """Per-job-group counters parsed from one application's event log."""

    def __init__(self, path: str):
        self.job_group: dict[int, str] = {}
        self.stage_group: dict[int, str] = {}
        self.accum_meta: dict[int, tuple[str, str]] = {}
        self.by_group: dict[str, dict] = defaultdict(lambda: dict.fromkeys(COUNTER_KEYS, 0.0))
        task_accums: list[tuple[int, list]] = []
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev["Event"]
                if kind == "SparkListenerJobStart":
                    group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                    if group is None:
                        continue
                    self.job_group[ev["Job ID"]] = group
                    self.by_group[group]["spark.jobs"] += 1
                elif kind == "SparkListenerStageSubmitted":
                    group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                    if group is not None:
                        self.stage_group[ev["Stage Info"]["Stage ID"]] = group
                        self.by_group[group]["spark.stages"] += 1
                elif kind.endswith("SparkListenerSQLExecutionStart") or kind.endswith(
                    "SparkListenerSQLAdaptiveExecutionUpdate"
                ):
                    _walk_plan(ev["sparkPlanInfo"], self.accum_meta)
                elif kind == "SparkListenerTaskEnd":
                    group = self.stage_group.get(ev["Stage ID"])
                    if group is None:
                        continue
                    c = self.by_group[group]
                    c["spark.tasks"] += 1
                    tm = ev.get("Task Metrics") or {}
                    c["shuffle.bytes_written"] += (
                        tm.get("Shuffle Write Metrics", {}).get("Shuffle Bytes Written", 0)
                    )
                    c["spill.bytes"] += tm.get("Memory Bytes Spilled", 0) + tm.get(
                        "Disk Bytes Spilled", 0
                    )
                    task_accums.append((group, ev["Task Info"].get("Accumulables", [])))
        # SQL plan metadata can arrive after the first tasks (AQE updates),
        # so task accumulables are resolved once the whole log is read
        for group, accs in task_accums:
            for a in accs:
                meta = self.accum_meta.get(a.get("ID"))
                if meta is None or meta[0] not in PYTHON_METRICS:
                    continue
                v = float(a.get("Update") or 0)
                if meta[1] == "nsTiming":
                    v /= 1e6
                self.by_group[group][PYTHON_METRICS[meta[0]]] += v

    @classmethod
    def from_dir(cls, directory: str) -> "EventLog":
        files = [p for p in glob.glob(os.path.join(directory, "*")) if os.path.isfile(p)]
        if len(files) != 1:
            raise RuntimeError(f"expected one event log in {directory}, found {files}")
        return cls(files[0])

    def counters(self, groups) -> dict[str, float]:
        """Counters summed over the given job groups."""
        out = dict.fromkeys(COUNTER_KEYS, 0.0)
        for g in groups:
            if g in self.by_group:
                for k, v in self.by_group[g].items():
                    out[k] += v
        return out
