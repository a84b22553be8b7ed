"""Snapshot and stream phases of the traced ``lineitem_rules`` run.

Both feed seeded lineitem increments (rows after the main table) to the
incremental layers:

- snapshot: a ``SnapshotTable`` of base increments is validated into a
  fresh ``CheckpointStore`` (HLL and t-digest columns); one more increment
  is appended and resumed (only it is scanned); then the store's merged
  answers and the batch monitor run. Merged counts must equal the sum of
  per-snapshot direct verdicts.
- stream: ``StreamingValidator.windowed_verdicts`` over a file-source
  stream. A closed-loop drain (one file per micro-batch) gives capacity;
  an open loop then releases smaller files on a fixed schedule at half
  that capacity, and each file's lag runs from its due time to the commit
  of the micro-batch that read it. The stateful monitor twins run over a
  fixed fail-rate series. Streaming window counts must equal the batch
  aggregation of the same rows.
"""

from __future__ import annotations

import glob
import json
import math
import os
import shutil
import time

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql.pandas.types import from_arrow_schema

import checks
import harness
import lineitem_data as data
from harness import Calls, med
from stats import median, tail_percentile
from trace import Tracer

SNAP_ROWS = 10_000
BASE_SNAPSHOTS = 1
SKETCH_COLUMNS = ["l_orderkey", "l_partkey"]
TDIGEST_COLUMNS = ["l_extendedprice", "l_quantity"]

# the first closed-loop batch plans the query; capacity uses the rest
CLOSED_FILES = 3
CLOSED_FILE_ROWS = 2_000
# small files, so the open loop yields enough lag samples for a tail
OPEN_FILE_ROWS = 60
OPEN_SECONDS = 5.0
OPEN_MAX_FILES = 80
WINDOW = "10 minutes"
WATERMARK = "1 hour"


def _dir_size(root: str) -> tuple[int, int]:
    n = size = 0
    for d, _, files in os.walk(root):
        for f in files:
            n += 1
            size += os.path.getsize(os.path.join(d, f))
    return n, size


def snapshot_phase(spark, seed: int, start_row: int, calls: Calls, tr: Tracer) -> dict:
    from jsonschema_validator_spark.checkpoint import CheckpointStore, validate_resumable
    from jsonschema_validator_spark.engine import Validator
    from jsonschema_validator_spark.operators.monitor import (
        metric_anomalies,
        metric_cusum_alarms,
    )
    from jsonschema_validator_spark.operators.stats import hll_sketches
    from jsonschema_validator_spark.operators.tdigest import tdigest_sketches
    from jsonschema_validator_spark.sources.tables import SnapshotTable

    record_walls: list = []

    class TimedStore(CheckpointStore):
        """Times each ``record()`` the resume path makes into the store."""

        def record(self, *args, **kwargs):
            t0 = time.perf_counter()
            try:
                return super().record(*args, **kwargs)
            finally:
                record_walls.append(time.perf_counter() - t0)

    root = os.path.join(harness.WORK, "snapshots")
    n_orders = (start_row + (BASE_SNAPSHOTS + 1) * SNAP_ROWS) // 4
    staged, expected = [], []
    for k in range(BASE_SNAPSHOTS + 1):
        t = data.generate(seed, start_row + k * SNAP_ROWS, SNAP_ROWS)
        path = os.path.join(root, f"increment-{k}")
        data.write_table(path, t, 2)
        staged.append(path)
        expected.append(data.spec_rules(data.expected_counts(t, n_orders)))

    out = {}
    table = SnapshotTable(os.path.join(root, "table"))
    store = TimedStore(os.path.join(root, "store"))
    kwargs = dict(sketch_columns=SKETCH_COLUMNS, tdigest_columns=TDIGEST_COLUMNS)
    append_walls = []
    for path in staged[:BASE_SNAPSHOTS]:
        with tr.span("tables.append") as sp:
            table.append(spark.read.parquet(path))
        append_walls.append(sp["end"] - sp["start"])
    with tr.span("checkpoint.validate_base"):
        calls.run("validate_base", lambda: validate_resumable(spark, table, data.SPEC, store, **kwargs))
    base_records = len(record_walls)

    t0 = time.perf_counter()
    with tr.span("tables.append") as sp:
        table.append(spark.read.parquet(staged[-1]))
    append_walls.append(sp["end"] - sp["start"])
    with tr.span("checkpoint.resume"):
        _, report = calls.run(
            "resume", lambda: validate_resumable(spark, table, data.SPEC, store, **kwargs),
            lambda rep: [] if len(rep["validated_snapshots"]) == 1 else [f"resumed {rep}"],
        )
    out["snapshot_s"] = time.perf_counter() - t0
    out["tables.append_s"] = median(append_walls)
    out["checkpoint.record_s"] = med(record_walls[base_records:])
    out["checkpoint.files_written"], out["checkpoint.bytes_written"] = _dir_size(store.root)

    with tr.span("checkpoint.merge") as sp:
        _, merged = calls.run("merged_verdicts", lambda: store.merged_verdicts(spark).collect())
        calls.run("merged_distinct", lambda: store.merged_distinct(spark).collect(),
                  lambda rows: [] if len(rows) == len(SKETCH_COLUMNS) else [f"{rows}"])
        calls.run("merged_quantiles", lambda: store.merged_quantiles(spark, [0.5, 0.9]).collect(),
                  lambda rows: [] if len(rows) == 2 * len(TDIGEST_COLUMNS) else [f"{rows}"])
    out["checkpoint.merge_s"] = sp["end"] - sp["start"]
    with tr.span("monitor") as sp:
        calls.run("metric_anomalies", lambda: metric_anomalies(spark, store).collect())
        calls.run("metric_cusum_alarms", lambda: metric_cusum_alarms(spark, store, warmup=2).collect())
    out["monitor.s"] = sp["end"] - sp["start"]
    out["merged_query_s"] = out["checkpoint.merge_s"] + out["monitor.s"]

    new = table.read_snapshot(spark, table.snapshots()[-1])
    with tr.span("hll") as sp:
        calls.run("hll", lambda: hll_sketches(new, SKETCH_COLUMNS).collect())
    out["hll.s"] = sp["end"] - sp["start"]
    with tr.span("tdigest") as sp:
        calls.run("tdigest", lambda: tdigest_sketches(new, TDIGEST_COLUMNS).collect())
    out["tdigest.s"] = sp["end"] - sp["start"]

    direct = []
    for sid in table.snapshots():
        rows = Validator(data.SPEC).validate(table.read_snapshot(spark, sid)).verdicts().collect()
        direct.append({r["rule_id"]: r["n_failed"] for r in rows})
    merged_counts = {r["rule_id"]: r["n_failed"] for r in merged or []}
    calls.verify("merged_vs_direct", checks.check_merged(merged_counts, direct))
    calls.verify("merged_vs_injected", checks.check_merged(merged_counts, expected))
    return out


def _stage(path: str, table: pa.Table) -> None:
    tmp = path + ".tmp"
    pq.write_table(table, tmp)
    os.replace(tmp, path)


def _batch_of_files(ckpt: str) -> dict[str, int]:
    """File path -> micro-batch id, from the file source's metadata log."""
    out = {}
    for p in glob.glob(os.path.join(ckpt, "sources", "0", "*")):
        with open(p) as f:
            for line in f:
                line = line.strip()
                if line.startswith("{"):
                    e = json.loads(line)
                    out[os.path.basename(e["path"])] = e["batchId"]
    return out


def _window_counts_stream(spark, name: str) -> dict:
    rows = spark.sql(
        f"SELECT CAST(window.start AS LONG) AS w, rule_id, n_checked, n_failed FROM {name}"
    ).collect()
    return {(r["w"], r["rule_id"]): (r["n_checked"], r["n_failed"]) for r in rows}


def _window_counts_batch(spark, path: str) -> dict:
    from pyspark.sql import functions as F

    preds = {k: v for k, v in data.rule_predicates(0).items() if not k.startswith("ref:")}
    agg = (
        spark.read.parquet(path)
        .groupBy(F.window("ts", WINDOW).alias("win"))
        .agg(F.count(F.lit(1)).alias("_n"), *data.failure_sums(preds))
        .collect()
    )
    out = {}
    for r in agg:
        w = int(r["win"]["start"].timestamp())
        for k in preds:
            out[(w, k)] = (r["_n"], r[k])
    return out


def _progress_layers(q) -> dict:
    prog = [p for p in q.recentProgress if p["numInputRows"] > 0]
    steady = prog[1:] or prog
    dur = lambda key: median(p["durationMs"].get(key, 0) for p in steady)  # noqa: E731
    state = (prog[-1].get("stateOperators") or [{}])[0]
    return {
        "stream.trigger_ms": dur("triggerExecution"),
        "stream.add_batch_ms": dur("addBatch"),
        "stream.planning_ms": dur("queryPlanning"),
        "stream.wal_commit_ms": dur("walCommit"),
        "stream.state_rows": state.get("numRowsTotal", 0),
        "stream.state_bytes": state.get("memoryUsedBytes", 0),
        "stream_rows_per_s": sum(p["numInputRows"] for p in steady)
        / (sum(p["durationMs"]["triggerExecution"] for p in steady) / 1000.0),
    }


def _verdict_query(spark, src: str, name: str, ckpt: str, max_files=None):
    from jsonschema_validator_spark.streaming.validate import StreamingValidator

    reader = spark.readStream.schema(from_arrow_schema(data.ARROW_SCHEMA))
    if max_files:
        reader = reader.option("maxFilesPerTrigger", max_files)
    v = StreamingValidator(data.SPEC).windowed_verdicts(
        reader.parquet(src), ts_col="ts", window=WINDOW, watermark=WATERMARK
    )
    return (
        v.writeStream.format("memory").queryName(name).outputMode("complete")
        .option("checkpointLocation", ckpt).start()
    )


def stream_phase(spark, seed: int, start_row: int, calls: Calls, tr: Tracer) -> dict:
    root = os.path.join(harness.WORK, "stream")
    out = {}

    # closed loop: every file present up front, one file per micro-batch
    src = os.path.join(root, "closed-src")
    os.makedirs(src)
    for k in range(CLOSED_FILES):
        _stage(os.path.join(src, f"f{k:04d}.parquet"),
               data.generate(seed, start_row + k * CLOSED_FILE_ROWS, CLOSED_FILE_ROWS))
    with tr.span("stream.closed"):
        q = _verdict_query(spark, src, "pb_closed", os.path.join(root, "closed-ckpt"), max_files=1)
        try:
            calls.run("stream_drain", q.processAllAvailable)
            out.update(_progress_layers(q))
        finally:
            q.stop()
    calls.verify("stream_vs_batch", checks.check_windows(
        _window_counts_stream(spark, "pb_closed"), _window_counts_batch(spark, src)
    ))

    # open loop: files released on a fixed schedule at half the capacity
    start_row += CLOSED_FILES * CLOSED_FILE_ROWS
    interval = OPEN_FILE_ROWS / (0.5 * out["stream_rows_per_s"])
    n_files = max(1, min(OPEN_MAX_FILES, int(OPEN_SECONDS / interval)))
    staging = os.path.join(root, "open-staging")
    src = os.path.join(root, "open-src")
    ckpt = os.path.join(root, "open-ckpt")
    os.makedirs(staging)
    os.makedirs(src)
    for k in range(n_files):
        _stage(os.path.join(staging, f"f{k:04d}.parquet"),
               data.generate(seed, start_row + k * OPEN_FILE_ROWS, OPEN_FILE_ROWS))
    due, late = {}, []
    with tr.span("stream.open"):
        q = _verdict_query(spark, src, "pb_open", ckpt)
        try:
            t_start = time.time() + 1.0
            for k in range(n_files):
                name = f"f{k:04d}.parquet"
                due[name] = t_start + k * interval
                pause = due[name] - time.time()
                if pause > 0:
                    time.sleep(pause)
                dst = os.path.join(src, name)
                os.replace(os.path.join(staging, name), dst)
                os.utime(dst)
                late.append(time.time() - due[name])
            calls.run("stream_open_drain", q.processAllAvailable)
        finally:
            q.stop()
    batches = _batch_of_files(ckpt)
    lags = []
    for name, t_due in due.items():
        commit = os.path.join(ckpt, "commits", str(batches.get(name, -1)))
        if os.path.exists(commit):
            lags.append((os.path.getmtime(commit) - t_due) * 1000.0)
    calls.verify("stream_open_files", [] if len(lags) == n_files else [f"{len(lags)}/{n_files} committed"])
    p_tail, tail = tail_percentile(lags) if lags else (None, None)
    # unmeasurable values stay NaN; the report turns them into a failed check
    out["stream_lag_ms_p50"] = median(lags) if lags else math.nan
    out["stream_lag_ms_tail"] = tail if tail is not None else math.nan
    out["stream_lag_tail_pct"] = p_tail if p_tail is not None else math.nan
    out["stream.open_rate_rows_per_s"] = OPEN_FILE_ROWS / interval
    out["stream.release_late_ms_max"] = max(late) * 1000.0
    out["stream.lag_samples"] = len(lags)
    calls.verify("stream_open_vs_batch", checks.check_windows(
        _window_counts_stream(spark, "pb_open"), _window_counts_batch(spark, src)
    ))
    with tr.span("stream.monitor") as sp:
        monitor_twins(spark, seed, root, calls)
    out["stream.monitor_s"] = sp["end"] - sp["start"]
    shutil.rmtree(root, ignore_errors=True)
    return out


def run(spark, seed: int, start_row: int, calls: Calls, tr: Tracer, skipped: list) -> dict:
    """Both phases, each on its own rows from ``start_row`` on. The stream
    phase is skipped (and named in ``skipped``) when the run is too late
    for it; its metrics are then missing, which the report counts as a
    failed check."""
    out = snapshot_phase(spark, seed, start_row, calls, tr)
    if harness.elapsed() > harness.TRACED_PHASE_DEADLINE_S:
        skipped.append("stream phase")
        return out
    start_row += (BASE_SNAPSHOTS + 1) * SNAP_ROWS
    out.update(stream_phase(spark, seed, start_row, calls, tr))
    return out


def monitor_twins(spark, seed: int, root: str, calls: Calls) -> None:
    """The stateful chart and CUSUM twins over a fixed fail-rate series
    (3 rules x 24 snapshots, replayed as 2 ordered files, one micro-batch
    each, so state carries across a batch boundary)."""
    from jsonschema_validator_spark.streaming.monitor import (
        streaming_control_chart,
        streaming_cusum_chart,
    )

    src = os.path.join(root, "monitor-src")
    os.makedirs(src)
    rules, points, parts = ["r0", "r1", "r2"], 24, 2
    rows = [
        (r, k, 0.05 + 0.01 * math.sin(k + j + seed) + (0.2 if (j, k) == (1, 18) else 0.0))
        for j, r in enumerate(rules) for k in range(points)
    ]
    schema = pa.schema([("rule_id", pa.string()), ("snapshot_ord", pa.int32()), ("fail_rate", pa.float64())])
    per = points // parts
    for part in range(parts):
        chunk = [x for x in rows if part * per <= x[1] < (part + 1) * per]
        _stage(os.path.join(src, f"m{part}.parquet"),
               pa.table(list(zip(*chunk)), schema=schema))
    for name, make in (
        ("pb_chart", lambda s: streaming_control_chart(s, ["rule_id"], "snapshot_ord", "fail_rate")),
        ("pb_cusum", lambda s: streaming_cusum_chart(s, ["rule_id"], "snapshot_ord", "fail_rate", warmup=6)),
    ):
        stream = spark.readStream.schema(from_arrow_schema(schema)).option(
            "maxFilesPerTrigger", 1).parquet(src)
        q = make(stream).writeStream.format("memory").queryName(name).outputMode("append").option(
            "checkpointLocation", os.path.join(root, f"{name}-ckpt")).start()
        try:
            calls.run(name, q.processAllAvailable)
        finally:
            q.stop()
        n = spark.sql(f"SELECT count(*) AS n FROM {name}").collect()[0]["n"]
        calls.verify(name, [] if n == len(rows) else [f"{n} rows out of {len(rows)}"])
