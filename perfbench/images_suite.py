"""Workload ``images_suite``: the full ``ImageValidationSuite`` over a
seeded synthetic image table (decode on, direct-read ``source_path``,
``cache_metadata=True``); this is the north-metric job. The synthetic
images are 16-64 px, so decode and the Python boundary take a minority of
a cold call at this size (see ``ROWS``); per-call planning and the ~20
Spark jobs of a suite take the rest.

Each timed call is cold: from ``spark.read.parquet`` to collected
``suite_verdicts()`` rows, with plan build, the jobs run at build time and
the metadata cache fill inside the timing; the cache is dropped after each
call. The traced run adds standalone probes, among them the warm suite
(the same plan executed again with the cache filled, see
``harness.rerun``).
"""

from __future__ import annotations

import glob
import os
import statistics
import time

import pyarrow as pa
import pyarrow.parquet as pq

import checks
import harness
from harness import Calls, med, rerun
from trace import Tracer

# sized so that the runs fit the benchmark's time budget on a 4-vCPU host
# even while that host is slow; the decode family is about a fifth of a
# cold call here (see README.md)
ROWS = 4_000
FILES = 4
# set-ups per untraced run; setup_s is their median (the first one also
# launches the JVM), and input generation keeps the restarts steady
SETUP_REPEATS = 3
# untimed cold calls before the window: the first pays for Python worker
# start-up and most JIT compilation (about 16 s on a 4-vCPU host), the
# next two bring a call within about a tenth of its plateau
WARMUP_CALLS = 3

# per-layer metrics this workload measures itself; the Spark counters
# and trace.overhead_ratio are measured by the runner on every workload
PER_LAYER = (
    "pipeline.build_s", "pipeline.build_jobs", "pipeline.exec_s", "pipeline.warm_s",
    "pipeline.family_overlap", "spec.compile_s", "spec.n_checks", "engine.build_s",
    "engine.verdicts_s", "engine.violations_s", "engine.violation_rows", "warm_rows_per_s",
    "violations_rows_per_s", "uniqueness.s", "referential.s", "drift.s", "stats.s", "decode.s",
    "codecs.decode_us_per_img", "scaling.eff_1to4",
)

ARROW_SCHEMA = pa.schema([
    ("image_id", pa.string()), ("bytes", pa.binary()), ("w", pa.int32()),
    ("h", pa.int32()), ("fmt", pa.string()), ("caption", pa.string()),
    ("phash", pa.int64()),
])


def make_inputs(seed: int):
    def make(spark, r: int) -> str:
        from jsonschema_validator_spark.sources import synth

        path = os.path.join(harness.WORK, f"images-{r}")
        os.makedirs(path)
        pdf = synth.generate_pandas(ROWS, seed=seed)
        table = pa.Table.from_pandas(pdf, schema=ARROW_SCHEMA, preserve_index=False)
        per = -(-ROWS // FILES)
        for k in range(FILES):
            pq.write_table(table.slice(k * per, per), os.path.join(path, f"part-{k:05d}.parquet"))
        return path
    return make


def build_suite(spark, path: str):
    from jsonschema_validator_spark.pipeline import ImageValidationSuite
    from jsonschema_validator_spark.sources import synth

    df = spark.read.parquet(path)
    return ImageValidationSuite(
        df, dim_formats=synth.dim_formats(spark), baseline=df,
        source_path=path, cache_metadata=True,
    )


def tag_counts(rows) -> dict:
    out: dict = {}
    for r in rows:
        out[r["tag"]] = out.get(r["tag"], 0) + 1
    return out


class Iteration:
    """Cold calls, optionally traced; one call per iteration."""

    def __init__(self, spark, path: str, calls: Calls, tracer: Tracer):
        self.spark, self.path, self.calls, self.tracer = spark, path, calls, tracer
        self.cold: list = []
        self.build_jobs: list = []

    def __call__(self, i: int) -> None:
        spark, tr, calls = self.spark, self.tracer, self.calls
        check = lambda rows: checks.check_suite_rows(rows, ROWS)  # noqa: E731
        with tr.span("call.cold", i):
            t0 = time.perf_counter()
            with tr.span("pipeline.build") as sp:
                suite = calls.run("suite_build", lambda: build_suite(spark, self.path))[1]
                plan = suite.suite_verdicts() if suite is not None else None
                if sp is not None:
                    self.build_jobs.append(len(
                        spark.sparkContext.statusTracker().getJobIdsForGroup(tr.group_of(sp))
                    ))
            if plan is not None:
                with tr.span("pipeline.exec"):
                    wall, _ = calls.run("suite_cold", plan.collect, check)
                self.cold.append(None if wall is None else time.perf_counter() - t0)
        spark.catalog.clearCache()


def e2e(it: Iteration, setup: list) -> dict:
    return {"setup_s": statistics.median(setup), "rows_per_s": ROWS / med(it.cold)}


def traced_values(
    spark, path: str, calls: Calls, tr: Tracer, traced: Iteration, seed: int, skipped: list
) -> dict:
    """Per-layer values of a traced run, taken while the session is up."""
    out = {
        "pipeline.build_s": med(tr.walls("pipeline.build")),
        "pipeline.exec_s": med(tr.walls("pipeline.exec")),
        "pipeline.build_jobs": med(traced.build_jobs),
    }
    out.update(probes(spark, path, calls, tr))
    families = ("engine.verdicts_s", "uniqueness.s", "referential.s", "drift.s", "decode.s")
    out["pipeline.family_overlap"] = sum(out[k] for k in families) / out["pipeline.warm_s"]
    return out


def probes(spark, path: str, calls: Calls, tr: Tracer) -> dict:
    """Per-layer walls, each measured standalone from outside the
    package, on a suite whose metadata cache is filled (the warm state
    the family overlap is taken against)."""
    from jsonschema_validator_spark.engine import Validator
    from jsonschema_validator_spark.pipeline import IMAGES_SPEC
    from jsonschema_validator_spark.sources.codecs import decode_image
    from jsonschema_validator_spark.spec import Spec

    out = {}
    suite = build_suite(spark, path)
    plan = suite.suite_verdicts()
    calls.run("suite_fill", plan.collect, lambda rows: checks.check_suite_rows(rows, ROWS))
    with tr.span("pipeline.warm") as sp:
        calls.run("suite_warm", lambda: rerun(plan), lambda rows: checks.check_suite_rows(rows, ROWS))
    out["pipeline.warm_s"] = sp["end"] - sp["start"]
    out["warm_rows_per_s"] = ROWS / out["pipeline.warm_s"]

    families = {
        "engine.verdicts_s": lambda: suite.keyword_verdicts().collect(),
        "uniqueness.s": lambda: suite.uniqueness_verdicts().collect(),
        "referential.s": lambda: suite.referential_verdict().collect(),
        "drift.s": lambda: suite.drift().collect(),
        "decode.s": lambda: suite.decode_verdict().collect(),
    }
    for name, fn in families.items():
        with tr.span(f"probe.{name}") as sp:
            calls.run(name, fn)
        out[name] = sp["end"] - sp["start"]
    with tr.span("probe.stats.s") as sp:
        calls.run("stats", lambda: suite.stats().collect())
    out["stats.s"] = sp["end"] - sp["start"]

    t0 = time.perf_counter()
    compiled = Validator(Spec(IMAGES_SPEC)).compile(suite._meta)
    out["spec.compile_s"] = time.perf_counter() - t0
    out["spec.n_checks"] = len(compiled.checks)
    t0 = time.perf_counter()
    res = Validator(suite.spec).validate(suite._meta)
    res.verdicts()
    out["engine.build_s"] = time.perf_counter() - t0
    expected = checks.images_violation_counts(ROWS)
    with tr.span("probe.engine.violations") as sp:
        _, rows = calls.run(
            "keyword_violations", lambda: res.violations(include=["image_id"]).collect(),
            lambda rows: checks.check_tag_counts(tag_counts(rows), expected),
        )
    out["engine.violations_s"] = sp["end"] - sp["start"]
    out["engine.violation_rows"] = len(rows or [])
    out["violations_rows_per_s"] = ROWS / out["engine.violations_s"]
    spark.catalog.clearCache()

    # single-threaded codec floor over a fixed sample of payloads
    first = sorted(glob.glob(os.path.join(path, "*.parquet")))[0]
    payloads = [
        bytes(b) for b in pq.read_table(first, columns=["bytes"]).column("bytes").to_pylist()
        if b is not None
    ][:200]
    per_pass = []
    for _ in range(3):
        t0 = time.perf_counter()
        for b in payloads:
            try:
                decode_image(b)
            except ValueError:
                pass
        per_pass.append((time.perf_counter() - t0) / len(payloads) * 1e6)
    out["codecs.decode_us_per_img"] = statistics.median(per_pass)
    return out


def scaling(spark, path: str, rows_per_s_full: float, calls: Calls) -> tuple:
    """rows_per_s of one cold call at local[1] and the efficiency
    ``R(local[N]) / (N * R(local[1]))``. The JVM is already warm, and a
    small Python job boots the single worker first, so the timed call
    pays for neither."""
    spark.stop()
    spark = harness.start_session(1)

    def boot(batches):
        import jsonschema_validator_spark.operators.multimodal  # noqa: F401

        yield from batches

    spark.range(1).mapInPandas(boot, schema="id long").collect()
    it = Iteration(spark, path, calls, Tracer())
    it(0)
    return spark, rows_per_s_full / (harness.cores() * ROWS / med(it.cold))
