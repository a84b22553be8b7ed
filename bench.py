#!/usr/bin/env python
"""Benchmark harness.

Runs the headline queries from ``__spark_entry__`` at
``$SPARK_GRAFT_SF_DIR`` (default /root/testdata/sf0.1) on
``local[$SPARK_GRAFT_CPUS]`` (default 32) and prints ONE JSON line::

    {"metric": "validated_rows_per_sec", "value": N, "unit": "rows/sec",
     "queries": {"<name>": sec, ...}, "sf": 0.1, ...}

- Every query is forced end-to-end with the noop sink (``format("noop")``)
  so Catalyst can't prune work that a ``count()`` wouldn't need.
- ``value`` is the north metric: validated rows/sec on the image-table
  all-constraints flagship (ImageValidationSuite over the cached synthetic
  image-caption table).
- ``--runs N`` repeats each query and reports the MEDIAN plus min/max
  spread (JVM warm-up excluded by a warm-up pass over the flagship query);
  queries whose runs spread >1.5x are automatically re-measured so one
  noisy run cannot define the reported number.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time


IMAGES_BENCH_N = int(os.environ.get("SPARK_GRAFT_IMAGES_N", "400000"))
IMAGES_CACHE = os.environ.get(
    "SPARK_GRAFT_IMAGES_CACHE", os.path.join(os.path.dirname(__file__), ".bench_cache")
)


def build_spark(cpus: int):
    from pyspark.sql import SparkSession

    return (
        SparkSession.builder.appName("jsv-bench")
        .master(f"local[{cpus}]")
        # FIXED across parallelism levels: shuffle partitioning is sized by
        # data volume, not core count (a real cluster would not re-tune it
        # between N and 4N executors); 32 fits the 2M-row scaling volume,
        # and far larger values measurably pathologize tiny shuffles here
        .config("spark.sql.shuffle.partitions", "32")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "16g"))
        .config("spark.sql.session.timeZone", "UTC")
        # decode bypasses the Spark scan (direct pyarrow file reads), so
        # split size only serves the metadata-column scans: 16 MB keeps
        # those stages parallel without drowning them in tiny tasks
        .config("spark.sql.files.maxPartitionBytes", "16m")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "2048")
        # shuffle/spill files on tmpfs: the sandbox root disk is slow enough
        # to show up in small shuffle rounds (a cluster would have NVMe)
        .config("spark.local.dir", "/dev/shm/spark-tmp")
        .getOrCreate()
    )


def ensure_images(spark, n: int = IMAGES_BENCH_N) -> str:
    """Deterministic image-caption table cached as parquet (generated once;
    both scaling levels then read IDENTICAL input)."""
    from jsonschema_validator_spark.sources import synth

    path = os.path.join(IMAGES_CACHE, f"images_n{n}")
    if not os.path.exists(os.path.join(path, "_SUCCESS")):
        # one file per decode work unit (files_per_task=1 in the direct
        # reader); ~6k rows/file keeps units balanced at both core counts
        files = max(64, n // 6250)
        synth.generate_spark(spark, n, seed=42, partitions=files).write.mode(
            "overwrite"
        ).parquet(path)
    return path


def images_flagship(spark, path: str):
    """The north-metric job: ALL constraint families over the image table."""
    from jsonschema_validator_spark.pipeline import ImageValidationSuite
    from jsonschema_validator_spark.sources import synth

    df = spark.read.parquet(path)
    suite = ImageValidationSuite(
        df,
        dim_formats=synth.dim_formats(spark),
        baseline=df,  # same table → drift is the no-drift control
        source_path=path,  # decode family: direct pyarrow file reads
        cache_metadata=True,  # one in-memory metadata projection, 5 families
    )
    return suite.suite_verdicts()


SCALING_N = int(os.environ.get("SPARK_GRAFT_SCALING_N", "4000000"))


SCALING_PROBE_FLOOR = float(os.environ.get("SPARK_GRAFT_SCALING_PROBE_FLOOR", "90000"))


def _scaling_leg(cpus: int, n: int, runs: int = 1) -> dict:
    """One clean-JVM flagship leg at the given parallelism; returns the
    subprocess headline JSON (value = validated rows/sec over n rows)."""
    import subprocess

    env = dict(os.environ, SPARK_GRAFT_IMAGES_N=str(n))
    out = subprocess.run(
        [sys.executable, os.path.abspath(__file__), "--images-only",
         "--cpus", str(cpus), "--runs", str(runs)],
        capture_output=True, text=True, timeout=3600, env=env,
        cwd=os.path.dirname(os.path.abspath(__file__)),
    )
    # a dead leg must surface its stderr, not die on splitlines()[-1] of
    # an empty stdout — the probe leg gates the whole session
    if out.returncode != 0 or not out.stdout.strip():
        raise RuntimeError(
            f"scaling leg (cpus={cpus}) failed rc={out.returncode}; "
            f"stderr tail: {out.stderr[-2000:]}"
        )
    line = out.stdout.strip().splitlines()[-1]
    return json.loads(line)


def run_scaling(levels=(4, 16), n: int = SCALING_N, pairs: int = 2) -> dict:
    """North-rule scaling evidence: the SAME flagship job on the SAME input
    at two parallelism levels (sandbox stand-in for N vs 4N executors).
    Efficiency = R_4N / (4 × R_N) with R = validated rows/sec.

    Round-5 protocol (VERDICT r4 item 5): legs are INTERLEAVED within the
    session — probe(16), then [4,16] × pairs — and efficiency is the median
    of the per-pair ratios, so slow host drift lands symmetrically in both
    legs of a pair instead of biasing one level. A 16-thread health probe
    gates the session: below SCALING_PROBE_FLOOR rows/s the host is
    contended (r4's sessions 6-9 decayed 110→63k on identical code) and the
    session is reported unhealthy rather than polluting the estimator."""
    import statistics

    lo, hi = min(levels), max(levels)
    factor = hi / lo

    # the host's OWN scaling ceilings (no Spark), measured in-session so
    # every reading is self-contextualizing: the flagship's single-box
    # efficiency cannot exceed cpu_eff (per-core throughput drops as more
    # cores go active — measured 0.79 on the slow host class, 0 steal) and
    # degrades toward membw_eff as per-row work lightens. PRIMARY `value`
    # stays the RAW ratio; the normalized view is disclosure, not the gate.
    # Runs BEFORE the page-cache pre-warm: the membw burn's ~1.6 GB of anon
    # allocations can evict the images cache pages, which would hand the
    # first measured leg the cold read the pre-warm exists to prevent.
    bounds = run_host_bounds((lo, hi))

    # pre-warm the OS page cache so the FIRST leg measured does not pay
    # the one-time cold disk read (which would bias efficiency either way)
    import glob as _glob

    for f in _glob.glob(os.path.join(IMAGES_CACHE, f"images_n{n}", "*.parquet")):
        with open(f, "rb") as fh:
            while fh.read(1 << 24):
                pass

    probe = _scaling_leg(hi, n, runs=1)
    result = {
        "metric": "scaling_efficiency",
        "unit": f"R{hi}/({int(factor)}*R{lo})",
        "rows": n,
        "protocol": f"interleaved probe({hi}),[{lo},{hi}]x{pairs}; median of per-pair ratios",
        "probe_rows_per_sec": probe["value"],
        "probe_floor": SCALING_PROBE_FLOOR,
        "healthy": probe["value"] >= SCALING_PROBE_FLOOR,
    }
    result["host_bounds"] = {
        "cpu_eff": bounds["cpu_eff"],
        "membw_eff": bounds["membw_eff"],
    }
    if not result["healthy"]:
        result["value"] = None
        result["note"] = "host failed health probe; session not counted"
        return result

    pair_rows = []
    for _ in range(pairs):
        r_lo = _scaling_leg(lo, n, runs=1)
        r_hi = _scaling_leg(hi, n, runs=1)
        pair_rows.append({
            "rows_per_sec": {str(lo): r_lo["value"], str(hi): r_hi["value"]},
            "sec": {
                str(lo): r_lo["queries"]["images_validate_all_constraints"],
                str(hi): r_hi["queries"]["images_validate_all_constraints"],
            },
            "efficiency": round(r_hi["value"] / (factor * r_lo["value"]), 4),
        })
    result["pairs"] = pair_rows
    result["value"] = round(
        statistics.median(p["efficiency"] for p in pair_rows), 4
    )
    # fraction of the host's own pure-CPU ceiling the flagship achieved —
    # disclosed context (a real N->4N cluster does not share one box's
    # frequency/DRAM ceilings), never the gate number
    if bounds["cpu_eff"] > 0:
        result["value_vs_host_cpu_ceiling"] = round(
            result["value"] / bounds["cpu_eff"], 4
        )
    return result


# start line shared by the workers of one burn pool (set by _burn_pool)
_START = None


def _set_start(barrier) -> None:
    global _START
    _START = barrier


def _burn_pool(workers: int):
    """A pool whose burns start their timed loops together: each burn does
    its own setup, then waits on a shared Barrier, so no worker's loop runs
    partly uncontended while the others are still forking or allocating.
    One task per worker per map (a worker blocked on the barrier cannot
    take a second task). Spawned, not forked: the caller may already run
    a JVM gateway's threads."""
    import multiprocessing as mp

    ctx = mp.get_context("spawn")
    return ctx.Pool(
        workers, initializer=_set_start, initargs=(ctx.Barrier(workers, timeout=120),)
    )


def _await_start() -> None:
    if _START is not None:
        _START.wait()


def _bound_burn_cpu(n_iter: int) -> float:
    """Cache-resident CPU burn (zlib over a 1 MB buffer): scales with core
    count, insensitive to DRAM bandwidth."""
    import zlib

    data = os.urandom(1 << 20)
    _await_start()
    t0 = time.perf_counter()
    for _ in range(n_iter):
        zlib.compress(data, 6)
    return time.perf_counter() - t0


def _bound_burn_membw(n_iter: int) -> float:
    """Streaming-DRAM burn (elementwise ops over a 50 MB uint8 array,
    ~100 MB of memory traffic per iteration): bounded by the host's shared
    memory controller, not core count."""
    import numpy as np

    a = np.arange(50_000_000, dtype=np.uint8)
    b = np.empty_like(a)
    # warm-up: fault the pages in before the timed region
    np.add(a, 1, out=b)
    _await_start()
    t0 = time.perf_counter()
    for _ in range(n_iter):
        np.add(a, 1, out=b)
        np.add(b, 1, out=a)
    return time.perf_counter() - t0


def run_host_bounds(levels=(4, 16)) -> dict:
    """Measure THIS host's own 4→16 scaling ceilings with no Spark at all,
    bracketing what any job mixing CPU and memory traffic can achieve on
    one box. Two multiprocessing burns, each interleaved [lo,hi]×2 like the
    flagship protocol:

    - pure-CPU (cache-resident zlib): a host with free cores scales ~1.0;
      a CONTENDED host (other tenants) scores low here too.
    - pure-DRAM (streaming numpy): bounded by the single shared memory
      controller — local[hi] threads fight for the same DRAM channels that
      local[lo] barely loads. On a REAL N→4N executor cluster this resource
      scales WITH the cluster (every executor brings its own memory
      controller), so the single-box flagship efficiency is a LOWER BOUND
      on true N-vs-4N cluster scaling whenever membw_eff < cpu_eff.

    The flagship mixes both bound classes (decode arithmetic + array/shuffle
    traffic), so its single-box efficiency lands between these two numbers;
    how close it sits to the CPU bound is the engine's doing, where the
    ceiling itself sits is the host's.
    """
    import statistics

    def measure(burn, workers: int, n_iter: int) -> float:
        # throughput from the SLOWEST worker's own setup-free elapsed time
        # (each burn times only its loop), not the pool wall: with a fresh
        # pool per call, pool-wall timing would charge every fork's numpy
        # import / 50 MB allocation / os.urandom setup to the burn — a
        # constant absolute inflation of both legs that overstates the
        # recorded ceiling on contended hosts. The loops start together
        # (_burn_pool), so every worker's window is fully contended.
        with _burn_pool(workers) as p:
            slowest = max(p.map(burn, [n_iter] * workers))
        return workers * n_iter / slowest  # jobs/sec

    lo, hi = min(levels), max(levels)
    factor = hi / lo
    out = {"metric": "host_scaling_bounds", "levels": [lo, hi]}
    for name, burn, n_iter in (
        ("cpu", _bound_burn_cpu, 60),
        ("membw", _bound_burn_membw, 40),
    ):
        measure(burn, lo, max(2, n_iter // 8))  # warm-up (pool spawn, JIT)
        ratios = []
        legs = []
        for _ in range(2):
            r_lo = measure(burn, lo, n_iter)
            r_hi = measure(burn, hi, n_iter)
            legs += [(lo, round(r_lo, 1)), (hi, round(r_hi, 1))]
            ratios.append(round(r_hi / (factor * r_lo), 4))
        out[f"{name}_eff"] = round(statistics.median(ratios), 4)
        out[f"{name}_legs"] = legs
        out[f"{name}_ratios"] = ratios
    return out


def host_speed_index() -> dict:
    """A ~10-second host-class fingerprint for the headline JSON.

    Absolute flagship numbers vary ~1.5-2x across the sandbox's host
    classes on IDENTICAL code (BASELINE.md session tables); this stamps
    every BENCH_r{N}.json with the host's own speed so readings are
    self-contextualizing. Two ABSOLUTE throughputs (zlib compressions/s
    of a 1 MB buffer): ``cpu_1core`` single-process and ``cpu_allcore``
    across one worker per local core — the all-core sustained number is
    the resource the local[32] flagship actually runs on. Medians of
    repeated short bursts (quick RATIOS proved too noisy to publish —
    turbo/interference swung a 15-iteration 4->16 ratio 0.86-1.09 within
    minutes on one box; the real scaling protocol lives in
    run_host_bounds/run_scaling). Best-of-N estimator: this fingerprints
    the host's CAPABILITY (its class), so the least-interfered burst is
    the signal and slower reps are contention to exclude — medians still
    swung 30% rep-to-rep under transient co-tenant load. The medians are
    recorded beside the best (``*_median``) so a reader sees the spread
    between burst and sustained speed (turbo boost lifts the best)."""
    import statistics
    import zlib

    data = os.urandom(1 << 20)

    def one(n_iter: int) -> float:
        t0 = time.perf_counter()
        for _ in range(n_iter):
            zlib.compress(data, 6)
        return n_iter / (time.perf_counter() - t0)

    one(5)  # warm-up
    ones = [one(20) for _ in range(5)]

    workers = os.cpu_count() or 1
    with _burn_pool(workers) as p:
        p.map(_bound_burn_cpu, [2] * workers)  # warm the pool
        alls = []
        for _ in range(3):
            slowest = max(p.map(_bound_burn_cpu, [12] * workers))
            alls.append(workers * 12 / slowest)
    return {
        "cpu_1core": round(max(ones), 1),
        "cpu_1core_median": round(statistics.median(ones), 1),
        "cpu_allcore": round(max(alls), 1),
        "cpu_allcore_median": round(statistics.median(alls), 1),
        "cores": workers,
    }


def force(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def time_executions(df, runs: int) -> list[float]:
    ts = []
    for _ in range(max(runs, 1)):
        t0 = time.perf_counter()
        force(df)
        ts.append(time.perf_counter() - t0)
    return ts


def time_callable(run_once, runs: int) -> list[float]:
    ts = []
    for _ in range(max(runs, 1)):
        t0 = time.perf_counter()
        run_once()
        ts.append(time.perf_counter() - t0)
    return ts


def _median_with_spread(ts: list[float], retime) -> tuple[float, dict]:
    import statistics

    if len(ts) > 1 and min(ts) > 0 and max(ts) / min(ts) > 1.5:
        ts += retime(2)
    return (
        round(statistics.median(ts), 4),
        {
            "min": round(min(ts), 4),
            "max": round(max(ts), 4),
            "n": len(ts),
        },
    )


def measure(df, runs: int) -> tuple[float, dict]:
    """Median-of-N timing with spread reporting (bench hygiene: BENCH_r02's
    1.6-1.9x phantom regressions on sub-second queries were best-of-2 noise).
    If the spread across the first N runs exceeds 1.5x, the query is
    re-measured with two extra runs and the median is taken over all of
    them — a single noisy run can no longer define the reported number."""
    return _median_with_spread(
        time_executions(df, runs), lambda n: time_executions(df, n)
    )


def measure_callable(run_once, runs: int) -> tuple[float, dict]:
    """measure() for queries that execute work during PLAN BUILD (eager
    scalar passes, snapshot-table construction): each timed run rebuilds
    the plan and forces it, so the build-time jobs are inside the timed
    region. Slightly overcounts (plan analysis is re-timed per run) —
    stated in BASELINE.md; the alternative silently undercounts by the
    whole build-time execution."""
    return _median_with_spread(
        time_callable(run_once, runs), lambda n: time_callable(run_once, n)
    )


def bench_ref_skew(spark, n: int = 2_000_000, runs: int = 3) -> dict:
    """Skewed-FK referential join evidence: a fact table with ~40% of rows
    on one hot nationkey, anti-joined to the nation dim on the sort-merge
    path with AQE skew-join thresholds sized for the data volume. Reports
    the timing AND whether the executed plan engaged the skew split —
    the north rule's skew story for joins (aggregation needs no split: the
    uniqueness count's map-side partial aggregate sends a hot key as one
    row per map task)."""
    import statistics

    from pyspark.sql import functions as F

    from jsonschema_validator_spark.operators.referential import orphan_rows

    fact = (
        spark.range(n)
        .withColumn(
            "c_nationkey",
            F.when(F.rand(42) < 0.4, F.lit(7)).otherwise(
                (F.rand(43) * 25).cast("int")
            ),
        )
        .withColumn(
            "pad",
            F.concat(
                F.md5(F.col("id").cast("string")),
                F.md5((F.col("id") + 1).cast("string")),
            ),
        )
    )
    dim = spark.range(25).filter("id != 13").select(F.col("id").alias("n_nationkey"))
    overrides = {
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "4MB",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2.0",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "4MB",
    }
    saved = {k: spark.conf.get(k, None) for k in overrides}
    for k, v in overrides.items():
        spark.conf.set(k, v)
    try:
        out = orphan_rows(fact, dim, [("c_nationkey", "n_nationkey")], broadcast=False)
        ts = []
        for _ in range(max(runs, 1)):
            t0 = time.perf_counter()
            out.write.format("noop").mode("overwrite").save()
            ts.append(time.perf_counter() - t0)
        # noop write finalizes its own AQE plan; confirm via a collected run
        out.collect()
        plan = out._jdf.queryExecution().executedPlan().toString()
        return {
            "rows": n,
            "sec": round(statistics.median(ts), 4),
            "skew_split_engaged": "SortMergeJoin(skew=true)" in plan,
        }
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def main() -> int:
    parser = argparse.ArgumentParser()
    parser.add_argument("--sf-dir", default=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    parser.add_argument("--cpus", type=int, default=int(os.environ.get("SPARK_GRAFT_CPUS", "32")))
    parser.add_argument("--runs", type=int, default=int(os.environ.get("SPARK_GRAFT_BENCH_RUNS", "3")))
    parser.add_argument("--queries", default="", help="comma-separated subset")
    parser.add_argument(
        "--images-only", action="store_true",
        help="run ONLY the image-table flagship (used by --scaling subprocesses)",
    )
    parser.add_argument(
        "--scaling", action="store_true",
        help="run the flagship at local[8] and local[32]; print efficiency JSON",
    )
    parser.add_argument(
        "--host-bounds", action="store_true",
        help="measure this host's own 4→16 scaling ceilings (pure-CPU vs "
        "pure-DRAM multiprocessing burns, no Spark); print bounds JSON",
    )
    args = parser.parse_args()

    if args.host_bounds:
        print(json.dumps(run_host_bounds()))
        return 0

    if args.scaling:
        # generate the cache first (parent session), then measure in clean JVMs
        spark = build_spark(args.cpus)
        spark.sparkContext.setLogLevel("ERROR")
        ensure_images(spark, SCALING_N)
        spark.stop()
        print(json.dumps(run_scaling()))
        return 0

    import __spark_entry__ as entry_mod

    spark = build_spark(args.cpus)
    spark.sparkContext.setLogLevel("ERROR")
    sf_dir = args.sf_dir.rstrip("/")
    try:
        sf = float(sf_dir.rsplit("sf", 1)[-1])
    except ValueError:
        sf = None

    images_path = ensure_images(spark)
    # the flagship goes FIRST: measured 2x degradation when the 400k-row
    # flagship is timed after ~50 queries' accumulated session state
    # (plans, python workers, memory sinks) — 6.0 s fresh vs 9.6-12.9 s
    # last-in-session on identical input. Timing it before the sweep keeps
    # the north metric clean; the sub-second queries are insensitive.
    qs = {"images_validate_all_constraints": lambda s, _d: images_flagship(s, images_path)}
    if not args.images_only:
        qs.update(entry_mod.queries())

        # bench-only: the SCALE path for quantiles (the driver query uses
        # exact=True purely for oracle determinism; this times the
        # percentile_approx sketch that actually runs at 100 TB)
        def _quantiles_approx(s, d):
            from pyspark.sql import functions as F

            from jsonschema_validator_spark.operators.stats import numeric_quantiles

            df = s.read.parquet(f"{d}/lineitem.parquet")
            return numeric_quantiles(
                df, ["l_extendedprice"], (0.25, 0.5, 0.75), exact=False
            )

        qs["quantiles_extendedprice_approx"] = _quantiles_approx
    if args.queries:
        subset = set(args.queries.split(","))
        subset.add("images_validate_all_constraints")  # north metric always runs
        qs = {k: v for k, v in qs.items() if k in subset}

    # warm-up: JVM JIT + parquet footer caches (the flagship itself — it is
    # also the first timed query, so its measurement follows its own warm-up)
    force(next(iter(qs.values()))(spark, sf_dir))

    # queries whose CONSTRUCTION executes Spark jobs (checkpointed scalar
    # passes, snapshot-table builds): timing executions of a prebuilt plan
    # would silently exclude most of their work, so these rebuild per run
    BUILD_EXECUTES = {
        "column_stats_lineitem",
        "images_stats_profile",
        "images_checkpoint_resume",
        # the suggest family profiles at plan-build time (driver-side
        # collect) and returns a tiny local frame — timing only the
        # prebuilt plan would measure a createDataFrame, not the profiling
        "suggested_spec_lineitem",
        "spec_constraint_drift",
        # streaming queries stage + DRAIN the whole stream inside the
        # query fn and return a detached local frame — timing the prebuilt
        # result measured a local collect, not the stream (round-5 honesty
        # fix; r4 and earlier under-reported these)
        "streaming_windowed_verdicts",
        "streaming_dedup_firstseen",
        "streaming_decontamination",
        "streaming_windowed_drift",
        "streaming_metrics_chart",
        # bloom builds/probes via localCheckpoint at plan build; the
        # robust-outlier passes of the localization profile do too
        "bloom_incremental_dedup",
        "per_group_localization_profile",
        # the merged recall query now collects the IVF training sample
        # and runs driver-side k-means at plan build
        "ann_recall_floor",
    }

    timings: dict[str, float] = {}
    spreads: dict[str, dict] = {}
    for name, fn in qs.items():
        if name in BUILD_EXECUTES:
            timings[name], spreads[name] = measure_callable(
                lambda fn=fn: force(fn(spark, sf_dir)), args.runs
            )
            continue
        # build the plan ONCE per query (driver-side spec-compile + Catalyst
        # analysis is a per-query constant, irrelevant at the target scale);
        # time the forced end-to-end EXECUTIONS, median-of-N with spread
        df = fn(spark, sf_dir)
        timings[name], spreads[name] = measure(df, args.runs)

    # north metric: validated rows/sec on the image-table all-constraints job
    flagship = timings["images_validate_all_constraints"]
    rows_per_sec = round(IMAGES_BENCH_N / flagship, 1)

    # large-scale flagship (the 4M-row north-metric evidence) — run inline
    # when the cached table already exists so per-round numbers don't
    # understate the engine via small-scale fixed overheads. Never generates
    # (generation is ~30 min; --scaling owns that path).
    large = None
    if not args.images_only and os.environ.get("SPARK_GRAFT_BENCH_LARGE", "1") != "0":
        lpath = os.path.join(IMAGES_CACHE, f"images_n{SCALING_N}")
        if os.path.exists(os.path.join(lpath, "_SUCCESS")):
            ldf = images_flagship(spark, lpath)
            force(ldf)  # warm
            lmed, lspread = measure(ldf, args.runs)
            large = {
                "rows": SCALING_N,
                "sec": lmed,
                "rows_per_sec": round(SCALING_N / lmed, 1),
                "spread": lspread,
            }

    ref_skew = None
    host = None
    if not args.images_only:
        ref_skew = bench_ref_skew(spark, runs=args.runs)
        host = host_speed_index()

    # Two outputs (round-3 lesson: the driver captures only the last ~2000
    # chars of stdout and parses the LAST line as JSON — one fat line with
    # ~55 per-query spread dicts truncated past that window and the north
    # metric became machine-unreadable, BENCH_r03.json `"parsed": null`):
    #   1. BENCH_DETAIL.json + stderr: the full per-query median/spread map.
    #   2. stdout last line: a compact headline JSON (≪2000 chars) carrying
    #      the north metric and the scale evidence.
    detail = {
        "metric": "validated_rows_per_sec_images_all_constraints",
        "value": rows_per_sec,
        "unit": "rows/sec",
        "queries": timings,
        "spread": spreads,
        "sf": sf,
        "cpus": args.cpus,
        "total_sec": round(sum(timings.values()), 3),
        "flagship_rows": IMAGES_BENCH_N,
    }
    if large is not None:
        detail["large_scale"] = large
    if ref_skew is not None:
        detail["ref_skew"] = ref_skew
    if host is not None:
        detail["host"] = host
    detail_path = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                               "BENCH_DETAIL.json")
    # only a FULL sweep may overwrite the evidence file — a --queries subset
    # or --images-only smoke run must not clobber the committed full-sweep
    # detail map (it still prints its detail to stderr)
    if not args.images_only and not args.queries:
        with open(detail_path, "w") as fh:
            json.dump(detail, fh, indent=1)
    if not args.images_only:
        print(json.dumps(detail), file=sys.stderr)

    headline = {
        "metric": "validated_rows_per_sec_images_all_constraints",
        "value": rows_per_sec,
        "unit": "rows/sec",
        "queries": {"images_validate_all_constraints": flagship},
        "n_queries": len(timings),
        "queries_detail": "BENCH_DETAIL.json",
        "sf": sf,
        "cpus": args.cpus,
        "total_sec": round(sum(timings.values()), 3),
        "flagship_rows": IMAGES_BENCH_N,
    }
    if large is not None:
        headline["large_scale"] = {
            "rows": large["rows"],
            "sec": large["sec"],
            "rows_per_sec": large["rows_per_sec"],
        }
    if ref_skew is not None:
        headline["ref_skew"] = ref_skew
    if host is not None:
        headline["host"] = host
    line = json.dumps(headline)
    assert len(line) < 1500, f"headline line too long ({len(line)} chars)"
    print(line)
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
