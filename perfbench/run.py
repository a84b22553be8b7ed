#!/usr/bin/env python3
"""Cold end-to-end and per-layer benchmark of the validation engine.

Usage (from the root of a checkout)::

    python3 perfbench/run.py --workload images_suite --seed 1 --seconds 6 --trace 0
    python3 perfbench/run.py --workload all --seed 1 --seconds 6

One process runs at ``local[<cores>]`` with one call in flight at a
time. ``--trace 0`` prints the end-to-end metrics; ``--trace 1`` runs the
same calls with spans and a Spark event log, then per-layer probes, and
prints the per-layer metrics. The last line of stdout is the result
object; the full report (host fingerprint, per-call walls, span self
times, errors) is written under ``.perfbench/out``. ``--workload all``
runs every workload in turn and prints each end-to-end metric with its
unit.
"""

from __future__ import annotations

import argparse
import importlib
import json
import math
import os
import signal
import subprocess
import sys
import time

import harness
import host
from stats import median

WORKLOADS = ("images_suite", "lineitem_rules")
# timed calls per run at least; rows_per_s uses their median
MIN_CALLS = 3


def _spark_counters(tracer, elog_dir: str, spark) -> tuple:
    """Stop the session (flushes the event log), then charge the logged
    jobs of every traced cold call to that call. Also returns the
    counters of every span name, summed over its spans (the jobs each
    span launched itself, children excluded)."""
    from sparklog import COUNTER_KEYS, EventLog

    spark.stop()
    log = EventLog.from_dir(elog_dir)
    per_call = [
        log.counters(tracer.group_of(s) for s in tracer.subtree(call))
        for call in tracer.named("call.cold")
    ]
    counters = {k: median(c[k] for c in per_call) for k in COUNTER_KEYS}
    by_span = {
        name: log.counters(tracer.group_of(s) for s in tracer.named(name))
        for name in dict.fromkeys(s["name"] for s in tracer.spans)
    }
    return counters, by_span


def warm_up(it, calls: int) -> None:
    """Untimed cold calls (JIT, Python workers, file listings). A fixed
    count, so that every run starts its window at the same point of the
    JIT's warm-up whatever the host's speed."""
    for i in range(calls):
        it(i)


def _alternate(plain, traced):
    """Untraced and traced iterations in turn, so both see the same host."""
    return lambda i: (traced if i % 2 else plain)(i)


def run_workload(args, fingerprint: dict) -> int:
    from harness import Calls, med, timed_setups, window
    from host import RssSampler
    from trace import Tracer

    n_cores = harness.cores()
    trace = bool(args.trace)
    elog_dir = os.path.join(harness.WORK, "eventlog") if trace else None
    wl = importlib.import_module(args.workload)
    # seconds since start at each phase boundary, for the run report
    at = {"setup": harness.elapsed()}
    # setup_s is an end-to-end metric, so a traced run sets up once
    spark, inputs, setup = timed_setups(
        1 if trace else wl.SETUP_REPEATS, wl.make_inputs(args.seed), n_cores, elog_dir
    )
    make = lambda tracer: wl.Iteration(spark, inputs, calls, tracer)  # noqa: E731
    calls = Calls()

    warmup = make(Tracer())
    plain = make(Tracer())
    tracer = Tracer(spark.sparkContext, enabled=trace)
    traced = make(tracer)
    # the peak is taken over every call, warm-up included: the JVM's
    # resident heap grows through the warm-up, and a peak over the short
    # timed window alone would depend on when that growth happens to stop
    at["warmup"] = harness.elapsed()
    with RssSampler() as rss:
        t0 = time.perf_counter()
        warm_up(warmup, wl.WARMUP_CALLS)
        warmup_s = time.perf_counter() - t0
        t0 = time.perf_counter()
        n_iter = window(args.seconds, _alternate(plain, traced) if trace else plain, MIN_CALLS,
                        harness.WINDOW_DEADLINE_S)
        window_s = time.perf_counter() - t0
    at["window_end"] = harness.elapsed()
    # checks the expected counts every call was checked against; it runs
    # after the window, where the JVM is warm and it costs a second or two
    if args.workload == "lineitem_rules":
        wl.filters_check(spark, inputs, calls)
    report = {
        "host": fingerprint, "elapsed_at_s": at, "cores": n_cores, "setup_walls_s": setup,
        "warmup_s": warmup_s, "warmup_cold_s": warmup.cold, "window_s": window_s,
        "iterations": n_iter, "cold_walls_s": plain.cold,
    }

    if not trace:
        values = wl.e2e(plain, setup)
        values["peak_rss_mb"] = rss.peak_mb
        spark.stop()
        return harness.emit(args.workload, args.seed, False, calls, values, report)

    # a layer the workload does not run reads 0; one it runs but that was
    # not measured (a skipped phase) stays NaN, which emit() counts as a
    # failed check
    values = dict.fromkeys(harness.load_metric_specs()["per_layer"], 0.0)
    values.update(dict.fromkeys(wl.PER_LAYER, math.nan))
    values["trace.overhead_ratio"] = med(traced.cold) / med(plain.cold)
    skipped: list = []
    values.update(wl.traced_values(spark, inputs, calls, tracer, traced, args.seed, skipped))
    counters, report["span_counters"] = _spark_counters(tracer, elog_dir, spark)
    values.update(counters)
    report["self_s"] = tracer.self_time_by_name()
    tracer.dump(os.path.join(harness.OUT, f"spans-{args.workload}-seed{args.seed}.json"))
    if args.workload == "images_suite":
        if harness.elapsed() > harness.TRACED_PHASE_DEADLINE_S:
            skipped.append("scaling")
        else:
            rows_full = wl.ROWS / med(plain.cold)
            spark, values["scaling.eff_1to4"] = wl.scaling(spark, inputs, rows_full, calls)
            spark.stop()
    report["skipped"] = skipped
    return harness.emit(args.workload, args.seed, True, calls, values, report)


def run_all(args) -> int:
    """Every workload in its own process; prints each end-to-end metric."""
    specs = harness.load_metric_specs()["end_to_end"]
    status = 0
    for w in WORKLOADS:
        cmd = [sys.executable, os.path.abspath(__file__), "--workload", w,
               "--seed", str(args.seed), "--seconds", str(args.seconds), "--trace", "0"]
        proc = subprocess.run(cmd, capture_output=True, text=True, cwd=harness.ROOT)
        lines = proc.stdout.strip().splitlines()
        if proc.returncode != 0 or not lines:
            print(f"{w}: failed (exit {proc.returncode})\n{proc.stderr[-2000:]}")
            status = 1
            continue
        res = json.loads(lines[-1])
        print(f"{w}: correct={res['correct']} attempted={res['attempted']} failed={res['failed']} "
              f"failed_ratio={res['failed'] / res['attempted']:.4f}")
        for name in specs:
            m = res["metrics"][name]
            print(f"  {name:<24} {m['value']:>14.4f} {m['unit']}")
    return status


def main() -> int:
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS + ("all",))
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=float, default=6)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args()
    if not harness.package_present():
        print(f"{harness.PACKAGE} not found next to perfbench/ in {harness.ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, harness.ROOT)
    if args.workload == "all":
        return run_all(args)
    # every process the run starts has ended when it exits, SIGTERM too
    host.adopt_orphans()
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    harness.reset_work()
    try:
        fingerprint = host.fingerprint(harness.cores())
        return run_workload(args, fingerprint)
    finally:
        harness.shutdown_spark()
        harness.clean_work()
        host.reap_descendants()


if __name__ == "__main__":
    sys.exit(main())
