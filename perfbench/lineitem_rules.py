"""Workload ``lineitem_rules``: keyword rules and table checks over a
seeded lineitem table. It is JVM-only — decode does no work — so a decode
or Python-boundary change must read "no change" here, while engine and
operator costs show.

Each timed call is cold: from ``spark.read.parquet`` to collected rows of
``Validator`` verdicts, ``uniqueness_verdict`` on ``(l_orderkey,
l_linenumber)``, ``referential_verdict`` to ``orders`` and
``column_profile``. The traced run adds standalone probes: the warm re-run
of the same four plans and the violation rows ``(path, message, value,
tag, param)`` plus the key columns.
"""

from __future__ import annotations

import os
import statistics
import time

import checks
import harness
import lineitem_data as data
from harness import Calls, med, rerun
from trace import Tracer

ROWS = 60_000
FILES = 8
N_ORDERS = ROWS // 4
# set-ups per untraced run; setup_s is their median (the first one also
# launches the JVM, so the median is a restart)
SETUP_REPEATS = 3
# untimed cold calls before the window: the first pays for the cold JVM,
# the next three for most of the JIT's settling (it goes on improving by
# a few per cent a call for several more calls while the host is slow)
WARMUP_CALLS = 4
REF_RULE = "ref:l_orderkey->orders"

# per-layer metrics this workload measures itself (the snapshot and
# stream phases included); the Spark counters and trace.overhead_ratio
# are measured by the runner on every workload
PER_LAYER = (
    "engine.build_s", "engine.verdicts_s", "uniqueness.s", "referential.s", "stats.s",
    "spec.compile_s", "spec.n_checks", "warm_rows_per_s", "engine.violations_s",
    "engine.violation_rows", "violations_rows_per_s",
    "snapshot_s", "tables.append_s", "checkpoint.record_s", "checkpoint.files_written",
    "checkpoint.bytes_written", "checkpoint.merge_s", "monitor.s", "merged_query_s", "hll.s",
    "tdigest.s",
    "stream.trigger_ms", "stream.add_batch_ms", "stream.planning_ms", "stream.wal_commit_ms",
    "stream.state_rows", "stream.state_bytes", "stream_rows_per_s", "stream_lag_ms_p50",
    "stream_lag_ms_tail", "stream_lag_tail_pct", "stream.open_rate_rows_per_s",
    "stream.release_late_ms_max", "stream.lag_samples", "stream.monitor_s",
)


def make_inputs(seed: int):
    def make(spark, r: int) -> dict:
        path = os.path.join(harness.WORK, f"lineitem-{r}")
        orders = os.path.join(harness.WORK, f"orders-{r}")
        table = data.generate(seed, 0, ROWS)
        data.write_table(path, table, FILES)
        data.write_orders(orders, N_ORDERS)
        return {"path": path, "orders": orders, "expected": data.expected_counts(table, N_ORDERS)}
    return make


def plans(spark, inputs: dict) -> tuple:
    from jsonschema_validator_spark.engine import Validator
    from jsonschema_validator_spark.operators.referential import referential_verdict
    from jsonschema_validator_spark.operators.stats import column_profile
    from jsonschema_validator_spark.operators.uniqueness import uniqueness_verdict

    df = spark.read.parquet(inputs["path"])
    orders = spark.read.parquet(inputs["orders"])
    res = Validator(data.SPEC).validate(df)
    return res, {
        "verdicts": res.verdicts(),
        "uniqueness": uniqueness_verdict(df, data.KEY),
        "referential": referential_verdict(
            df, orders, [("l_orderkey", "o_orderkey")], rule_id=REF_RULE
        ),
        "profile": column_profile(df, data.PROFILE_COLUMNS),
    }


# per-layer metric of each plan's collect inside the cold call
LAYER_OF = {
    "verdicts": "engine.verdicts_s", "uniqueness": "uniqueness.s",
    "referential": "referential.s", "profile": "stats.s",
}


def collect_all(frames: dict, tr: Tracer) -> dict:
    out = {}
    for key, frame in frames.items():
        with tr.span(LAYER_OF[key]):
            out[key] = frame.collect()
    return out


def check_outputs(out: dict, expected: dict) -> list[str]:
    errs = checks.check_verdict_rows(out["verdicts"], data.spec_rules(expected), ROWS)
    tables = {r["rule_id"]: r for r in out["uniqueness"] + out["referential"]}
    for rid in ("unique:l_orderkey,l_linenumber", REF_RULE):
        r = tables.get(rid)
        if r is None or (r["n_checked"], r["n_failed"]) != (ROWS, expected[rid]):
            errs.append(f"{rid}: {r} != ({ROWS}, {expected[rid]})")
    nulls = {"l_shipmode": expected["required:$.l_shipmode"]}
    for r in out["profile"]:
        if r["n_rows"] != ROWS or r["n_null"] != nulls.get(r["column"], 0):
            errs.append(f"profile {r['column']}: {r['n_rows']} rows, {r['n_null']} null")
    return errs


def violation_counts(rows) -> dict:
    out: dict = {}
    for r in rows:
        k = f"{r['tag']}:{r['path']}"
        out[k] = out.get(k, 0) + 1
    return out


class Iteration:
    """Cold calls, optionally traced; one call per iteration."""

    def __init__(self, spark, inputs: dict, calls: Calls, tracer: Tracer):
        self.spark, self.inputs, self.calls, self.tracer = spark, inputs, calls, tracer
        self.cold: list = []

    def __call__(self, i: int) -> None:
        spark, tr, calls = self.spark, self.tracer, self.calls
        check = lambda out: check_outputs(out, self.inputs["expected"])  # noqa: E731
        with tr.span("call.cold", i):
            t0 = time.perf_counter()
            with tr.span("engine.build_s"):
                _, frames = plans(spark, self.inputs)
            wall, _ = calls.run("rules_cold", lambda: collect_all(frames, tr), check)
            self.cold.append(None if wall is None else time.perf_counter() - t0)


def e2e(it: Iteration, setup: list) -> dict:
    return {"setup_s": statistics.median(setup), "rows_per_s": ROWS / med(it.cold)}


def filters_check(spark, inputs: dict, calls: Calls) -> None:
    """The generator's counts, re-derived with plain DataFrame filters."""
    got = data.filter_counts(spark.read.parquet(inputs["path"]), N_ORDERS)
    calls.verify("filter_counts", checks.check_tag_counts(got, inputs["expected"]))


def traced_values(
    spark, inputs: dict, calls: Calls, tr: Tracer, traced: Iteration, seed: int, skipped: list
) -> dict:
    """Per-layer walls of the traced cold calls, the compile and
    violation probes, then the snapshot and stream phases over the seeded
    rows that follow the main table."""
    import increments

    out = {name: med(tr.walls(name)) for name in ("engine.build_s", *LAYER_OF.values())}
    out.update(probes(spark, inputs, calls, tr))
    out.update(increments.run(spark, seed, ROWS, calls, tr, skipped))
    return out


def probes(spark, inputs: dict, calls: Calls, tr: Tracer) -> dict:
    """Spec compilation, the warm re-run of the four plans and the
    violation rows, each measured standalone."""
    from jsonschema_validator_spark.engine import Validator
    from jsonschema_validator_spark.spec import Spec

    out = {}
    df = spark.read.parquet(inputs["path"])
    t0 = time.perf_counter()
    compiled = Validator(Spec(data.SPEC)).compile(df)
    out["spec.compile_s"] = time.perf_counter() - t0
    out["spec.n_checks"] = len(compiled.checks)
    res, frames = plans(spark, inputs)
    check = lambda out: check_outputs(out, inputs["expected"])  # noqa: E731
    calls.run("rules_fill", lambda: {k: f.collect() for k, f in frames.items()}, check)
    with tr.span("probe.warm") as sp:
        calls.run("rules_warm", lambda: {k: rerun(f) for k, f in frames.items()}, check)
    out["warm_rows_per_s"] = ROWS / (sp["end"] - sp["start"])
    expected = data.spec_rules(inputs["expected"])
    with tr.span("probe.engine.violations") as sp:
        _, rows = calls.run(
            "violations", lambda: res.violations(include=data.KEY).collect(),
            lambda rows: checks.check_tag_counts(violation_counts(rows), expected),
        )
    out["engine.violations_s"] = sp["end"] - sp["start"]
    out["engine.violation_rows"] = len(rows or [])
    out["violations_rows_per_s"] = ROWS / out["engine.violations_s"]
    return out
