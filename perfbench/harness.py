"""Run scaffolding shared by the workloads.

Everything a run writes stays under ``<checkout>/.perfbench``: ``work/``
(inputs, Spark scratch, checkpoints; emptied at the start and end of each
run) and ``out/`` (one JSON report and one span file per run).
"""

from __future__ import annotations

import json
import math
import os
import shutil
import subprocess
import sys
import time
import traceback
from typing import Callable, Optional

from stats import median

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
STATE = os.path.join(ROOT, ".perfbench")
WORK = os.path.join(STATE, "work")
OUT = os.path.join(STATE, "out")
PACKAGE = "jsonschema_validator_spark"
BENCHMARK_FILE = os.path.join(ROOT, "BENCHMARK.json")
# a run must end within 180 s; optional traced phases start only while
# their usual length still fits, even on a contended host
TRACED_PHASE_DEADLINE_S = 115.0
# once a run is this old its timed window ends after its minimum calls:
# a slow host shortens the window instead of lengthening the run
WINDOW_DEADLINE_S = 55.0
DRIVER_MEMORY = "2g"
_STARTED = time.perf_counter()


def elapsed() -> float:
    """Seconds since this process imported the harness."""
    return time.perf_counter() - _STARTED


def package_present() -> bool:
    return os.path.isfile(os.path.join(ROOT, PACKAGE, "__init__.py"))


def cores() -> int:
    return len(os.sched_getaffinity(0))


def reset_work() -> None:
    shutil.rmtree(WORK, ignore_errors=True)
    os.makedirs(os.path.join(WORK, "tmp"), exist_ok=True)
    os.makedirs(OUT, exist_ok=True)


def clean_work() -> None:
    shutil.rmtree(WORK, ignore_errors=True)


def shutdown_spark() -> None:
    """Stop any live SparkContext, then the JVM gateway, and wait for the
    JVM to exit (its Python workers exit with it)."""
    if "pyspark" not in sys.modules:
        return
    from pyspark import SparkContext

    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def start_session(n_cores: int, eventlog_dir: Optional[str] = None):
    """The package's own session helper at ``local[n_cores]``, with every
    scratch path inside the checkout."""
    tmp = os.path.join(WORK, "tmp")
    jvm_opts = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["TMPDIR"] = tmp
    # spark-submit's launcher JVM runs before the Spark JVM
    os.environ["SPARK_LAUNCHER_OPTS"] = jvm_opts
    os.environ["SPARK_DRIVER_MEMORY"] = DRIVER_MEMORY
    # Python workers import the package from the checkout
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    from jsonschema_validator_spark.session import build_session

    conf = {
        "spark.local.dir": tmp,
        "spark.sql.warehouse.dir": os.path.join(WORK, "warehouse"),
        # the heap starts at its maximum and is touched at start: G1
        # otherwise grows it, and touches its pages, in steps whose timing
        # follows the host's speed, and peak_rss_mb with it
        "spark.driver.extraJavaOptions": f"{jvm_opts} -Xms{DRIVER_MEMORY} -XX:+AlwaysPreTouch",
        "spark.sql.streaming.checkpointLocation": os.path.join(WORK, "stream-ckpt"),
    }
    if eventlog_dir is not None:
        os.makedirs(eventlog_dir, exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": eventlog_dir,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    spark = build_session(
        app_name="perfbench",
        master=f"local[{n_cores}]",
        shuffle_partitions=2 * n_cores,
        extra_conf=conf,
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def timed_setups(
    repeats: int, make_inputs: Callable[[object, int], object],
    n_cores: int, eventlog_dir: Optional[str] = None,
):
    """Run set-up (session start + input generation) ``repeats`` times and
    keep the last; the first start also launches the JVM. Returns
    ``(spark, inputs, seconds per set-up)``. Only the final session gets
    the event log, so every logged job belongs to the measured run."""
    spark = None
    walls = []
    inputs = None
    for r in range(repeats):
        t0 = time.perf_counter()
        if spark is not None:
            spark.stop()
        last = r == repeats - 1
        spark = start_session(n_cores, eventlog_dir if last else None)
        inputs = make_inputs(spark, r)
        walls.append(time.perf_counter() - t0)
    return spark, inputs, walls


class Calls:
    """Attempted/failed bookkeeping: a call fails if it raises or if its
    output check reports a mismatch."""

    def __init__(self):
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []

    def run(self, name: str, fn: Callable, check: Callable = None):
        """Time ``fn()``; return ``(wall seconds, result)`` or
        ``(None, None)`` when the call failed."""
        self.attempted += 1
        t0 = time.perf_counter()
        try:
            out = fn()
        except Exception:  # noqa: BLE001 - a failing call is counted, the run goes on
            self.failed += 1
            self.errors.append(f"{name}: {traceback.format_exc(limit=3)}")
            return None, None
        wall = time.perf_counter() - t0
        errs = check(out) if check is not None else []
        if errs:
            self.failed += 1
            self.errors.append(f"{name}: {errs[:5]}")
        return wall, out

    def verify(self, name: str, errs: list[str]) -> None:
        """Record a correctness check that is not a timed call."""
        self.attempted += 1
        if errs:
            self.failed += 1
            self.errors.append(f"{name}: {errs[:5]}")


def window(
    seconds: float, body: Callable[[int], None], min_calls: int = 1,
    deadline_s: float = math.inf,
) -> int:
    """Call ``body(i)`` until ``seconds`` have passed, or until the run is
    ``deadline_s`` old (see :func:`elapsed`), and it ran at least
    ``min_calls`` times."""
    end = time.perf_counter() + seconds
    i = 0
    while True:
        body(i)
        i += 1
        if i >= min_calls and (time.perf_counter() >= end or elapsed() >= deadline_s):
            return i


def rerun(frame):
    """Execute ``frame``'s plan again from scratch and collect it.
    Collecting the same DataFrame twice would reuse its shuffle outputs
    and skip most stages; a trivial projection plans it anew."""
    return frame.select("*").collect()


def med(values) -> float:
    vals = [v for v in values if v is not None]
    return median(vals) if vals else float("nan")


def load_metric_specs() -> dict:
    """``{"end_to_end": {name: entry}, "per_layer": {name: entry}}`` with
    each entry's unit, direction (and bound) from BENCHMARK.json."""
    with open(BENCHMARK_FILE) as f:
        bench = json.load(f)
    return {kind: {m["name"]: m for m in bench[kind]} for kind in ("end_to_end", "per_layer")}


def emit(
    workload: str, seed: int, trace: bool, calls: Calls,
    values: dict[str, float], report: dict,
) -> int:
    """Write the run report, then print the result object as the last
    line of stdout. Every metric of the mode must be present."""
    specs = load_metric_specs()["per_layer" if trace else "end_to_end"]
    missing = sorted(set(specs) - set(values))
    extra = sorted(set(values) - set(specs))
    if missing or extra:
        raise RuntimeError(f"metric set mismatch: missing {missing}, extra {extra}")
    for k in specs:
        if not math.isfinite(values[k]):
            calls.verify(f"metric {k}", ["not measured"])
            values[k] = 0.0
    metrics = {k: {"value": float(values[k]), "unit": specs[k]["unit"]} for k in specs}
    report = dict(report, workload=workload, seed=seed, trace=int(trace),
                  attempted=calls.attempted, failed=calls.failed,
                  errors=calls.errors, metrics=metrics)
    path = os.path.join(OUT, f"{workload}-seed{seed}-trace{int(trace)}.json")
    with open(path, "w") as f:
        json.dump(report, f, indent=1, default=str)
    for e in calls.errors:
        print(e, file=sys.stderr)
    print(f"report: {os.path.relpath(path, ROOT)}")
    print(json.dumps({
        "correct": calls.failed == 0,
        "attempted": calls.attempted,
        "failed": calls.failed,
        "metrics": metrics,
    }))
    return 0
