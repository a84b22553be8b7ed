"""Checkpoint / resume: incremental validation over table snapshots.

North rule: runs must be "resumable from Iceberg-snapshot checkpoints with
per-partition lineage + metrics rows persisted". Design (SURVEY.md §2.5,
§4.3 item 2):

- after validating a snapshot, persist (a) its per-rule verdict METRICS,
  (b) mergeable HLL SKETCHES per tracked column, (c) a LINEAGE row
  (snapshot id, row count, wall time, engine version).
- a resumed run lists the table's snapshots, skips the ones already in the
  lineage, validates only the new ones, and answers table-level questions
  by MERGING persisted state: verdict counts are algebraic (sums), distinct
  counts merge via ``hll_union_agg`` — so re-validating after an append
  touches ONLY the new data. At 10^12 rows this turns a daily full-table
  scan into a scan of the day's increment.

Everything persisted is itself a parquet table → the checkpoint store
scales and is queryable.
"""

from __future__ import annotations

import json
import os
import time
from typing import Optional, Sequence, Union

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from jsonschema_validator_spark.engine import Validator
from jsonschema_validator_spark.operators.stats import hll_sketches
from jsonschema_validator_spark.session import local_frame
from jsonschema_validator_spark.spec import Spec
from jsonschema_validator_spark.sources.tables import SnapshotTable


class CheckpointStore:
    """Parquet-backed store for metrics, sketches, lineage."""

    def __init__(self, root: str):
        self.root = root
        os.makedirs(root, exist_ok=True)
        self.metrics_dir = os.path.join(root, "metrics")
        self.sketches_dir = os.path.join(root, "sketches")
        self.tdigests_dir = os.path.join(root, "tdigests")
        self.specs_dir = os.path.join(root, "specs")
        self.lineage_path = os.path.join(root, "lineage.json")

    # lineage is tiny (one row per snapshot) → JSON for atomic updates
    def _load_lineage(self) -> list[dict]:
        if not os.path.exists(self.lineage_path):
            return []
        with open(self.lineage_path) as f:
            return json.load(f)

    def _save_lineage(self, rows: list[dict]) -> None:
        tmp = self.lineage_path + ".tmp"
        with open(tmp, "w") as f:
            json.dump(rows, f, indent=1)
        os.replace(tmp, self.lineage_path)

    def completed_snapshots(self) -> set[str]:
        return {r["snapshot_id"] for r in self._load_lineage()}

    def record(
        self,
        snapshot_id: str,
        verdicts: DataFrame,
        sketches: Optional[DataFrame],
        n_rows: int,
        wall_sec: Optional[float] = None,
        tdigests: Optional[DataFrame] = None,
        wall_start: Optional[float] = None,
    ) -> None:
        """Persist one snapshot's validation outputs; lineage append LAST so
        a crash mid-record leaves the snapshot 'incomplete' and it is
        re-validated on resume (idempotent via overwrite-by-partition).

        Timing: the verdict/sketch DataFrames are LAZY — their jobs run
        inside this method's parquet writes — so a caller-computed
        ``wall_sec`` cannot include the actual validation work. Pass
        ``wall_start`` (a ``time.perf_counter()`` taken before building
        the frames) instead and the wall clock is read AFTER the writes,
        so the lineage's wall_sec covers the real cost (what
        ``monitor.lineage_history`` charts). ``wall_sec`` remains for
        callers that timed the work themselves.
        """
        if (wall_sec is None) == (wall_start is None):
            raise ValueError("pass exactly one of wall_sec or wall_start")
        (
            verdicts.withColumn("snapshot_id", F.lit(snapshot_id))
            .write.mode("overwrite")
            .parquet(os.path.join(self.metrics_dir, f"snapshot={snapshot_id}"))
        )
        if sketches is not None:
            (
                sketches.withColumn("snapshot_id", F.lit(snapshot_id))
                .write.mode("overwrite")
                .parquet(os.path.join(self.sketches_dir, f"snapshot={snapshot_id}"))
            )
        if tdigests is not None:
            (
                tdigests.withColumn("snapshot_id", F.lit(snapshot_id))
                .write.mode("overwrite")
                .parquet(os.path.join(self.tdigests_dir, f"snapshot={snapshot_id}"))
            )
        if wall_start is not None:
            wall_sec = time.perf_counter() - wall_start
        rows = [r for r in self._load_lineage() if r["snapshot_id"] != snapshot_id]
        rows.append(
            {
                "snapshot_id": snapshot_id,
                "n_rows": n_rows,
                "wall_sec": round(wall_sec, 3),
                "recorded_at": time.time(),
            }
        )
        self._save_lineage(rows)

    def record_spec(self, snapshot_id: str, spec: dict) -> None:
        """Persist a snapshot's suggested spec (tiny JSON, atomic
        replace). Recorded BEFORE the lineage append, so a crash leaves
        the snapshot incomplete and the spec is simply overwritten on
        re-validation — same idempotence contract as :meth:`record`."""
        os.makedirs(self.specs_dir, exist_ok=True)
        path = os.path.join(self.specs_dir, f"{snapshot_id}.json")
        tmp = path + ".tmp"
        with open(tmp, "w") as f:
            json.dump(spec, f, indent=1)
        os.replace(tmp, path)

    def suggested_spec(self, snapshot_id: str) -> dict:
        path = os.path.join(self.specs_dir, f"{snapshot_id}.json")
        if not os.path.exists(path):
            raise ValueError(
                f"no suggested spec recorded for snapshot {snapshot_id!r} — "
                "run validate_resumable(..., suggest_specs=True) or "
                "record_spec() first"
            )
        with open(path) as f:
            return json.load(f)

    def spec_drift(
        self, spark: SparkSession, old_snapshot: str, new_snapshot: str
    ) -> DataFrame:
        """Constraint drift between two ALREADY-PROFILED snapshots — a
        pure diff of the persisted spec JSONs (suggest.spec_diff rows:
        column, keyword, old/new values, tightened/loosened/changed).
        Zero data rescans: the profiling cost was paid once per snapshot
        at validation time, so asking "what drifted between yesterday and
        today" is O(columns) driver work at any table size."""
        from jsonschema_validator_spark.suggest import _DIFF_SCHEMA, spec_diff

        rows = spec_diff(
            self.suggested_spec(old_snapshot), self.suggested_spec(new_snapshot)
        )
        return local_frame(spark, rows, _DIFF_SCHEMA)

    def _completed_only(self, df: DataFrame) -> DataFrame:
        """Restrict persisted rows to COMPLETED snapshots. The designed
        crash mode leaves parquet written but no lineage row (record()
        appends lineage last); without this filter a half-recorded
        snapshot would leak into merged answers — and inconsistently so
        (its metrics present, its sketches absent)."""
        return df.where(
            F.col("snapshot_id").isin(sorted(self.completed_snapshots()))
        )

    def metrics(self, spark: SparkSession) -> DataFrame:
        return self._completed_only(
            spark.read.parquet(os.path.join(self.metrics_dir, "snapshot=*"))
        )

    def sketches(self, spark: SparkSession) -> DataFrame:
        return self._completed_only(
            spark.read.parquet(os.path.join(self.sketches_dir, "snapshot=*"))
        )

    def merged_verdicts(
        self, spark: SparkSession, partition_by: Optional[Sequence[str]] = None
    ) -> DataFrame:
        """Table-level verdicts across all recorded snapshots — pure
        algebraic merge of the persisted per-snapshot counts (no rescan).
        ``partition_by``: the same partition columns the metrics were
        recorded with (``validate_resumable(..., partition_by=...)``) to
        keep per-partition granularity in the merge; omitted, partitioned
        metrics roll up to table level (the counts are algebraic)."""
        m = self.metrics(spark)
        keys = ["rule_id", "tag"] + [c for c in (partition_by or [])]
        return (
            m.groupBy(*keys)
            .agg(
                F.sum("n_checked").alias("n_checked"),
                F.sum("n_failed").alias("n_failed"),
            )
            .withColumn("pass", F.col("n_failed") == 0)
        )

    def merged_distinct(self, spark: SparkSession) -> DataFrame:
        """Distinct estimates across snapshots via HLL union (no rescan)."""
        s = self.sketches(spark)
        return s.groupBy("column").agg(
            F.hll_sketch_estimate(F.hll_union_agg(F.col("sketch"))).alias("n_distinct")
        )

    def merged_quantiles(self, spark: SparkSession, probs) -> DataFrame:
        """Quantile estimates across snapshots via t-digest merge (no
        rescan) — the quantile sibling of :meth:`merged_distinct`.
        Output: ``column, p, value``."""
        from jsonschema_validator_spark.operators.tdigest import (
            merge_tdigests,
            tdigest_quantiles,
        )

        if not os.path.isdir(self.tdigests_dir):
            raise ValueError(
                "no t-digest sketches recorded — pass tdigest_columns to "
                "validate_resumable (or record(..., tdigests=...)) first"
            )
        t = self._completed_only(
            spark.read.parquet(os.path.join(self.tdigests_dir, "snapshot=*"))
        )
        return tdigest_quantiles(merge_tdigests(t), probs)


def validate_resumable(
    spark: SparkSession,
    table: SnapshotTable,
    spec: Union[Spec, dict],
    store: CheckpointStore,
    sketch_columns: Optional[Sequence[str]] = None,
    tdigest_columns: Optional[Sequence[str]] = None,
    suggest_specs: bool = False,
    suggest_columns: Optional[Sequence[str]] = None,
    partition_by: Optional[Union[str, Sequence[str]]] = None,
) -> dict:
    """Validate all snapshots not yet checkpointed; return a run report.

    Idempotent: re-running after a crash (or after an append) only touches
    snapshots missing from the lineage. ``tdigest_columns`` additionally
    persists mergeable quantile digests per snapshot (answered later by
    ``store.merged_quantiles`` without rescanning). ``suggest_specs``
    additionally profiles each snapshot with ``suggest.suggest_spec`` and
    persists the suggested spec, so ``store.spec_drift(old, new)`` later
    answers "what constraints drifted between snapshots" with zero
    rescans. ``partition_by`` persists PER-PARTITION metrics rows (the
    north rule's "per-partition lineage + metrics rows persisted"):
    verdict counts keyed by the data partition columns, so
    ``merged_verdicts(partition_by=...)`` answers per-partition questions
    across snapshots and ``operators.monitor`` charts per-partition
    series — use the SAME columns on every run (the metrics store is one
    schema).
    """
    from jsonschema_validator_spark.operators.tdigest import tdigest_sketches

    done = store.completed_snapshots()
    pending = [s for s in table.snapshots() if s not in done]
    validated = []
    for sid in pending:
        df = table.read_snapshot(spark, sid)
        t0 = time.perf_counter()
        res = Validator(spec).validate(df)
        verdicts = res.verdicts(partition_by=partition_by)
        sk = hll_sketches(df, list(sketch_columns)) if sketch_columns else None
        td = (
            tdigest_sketches(df, list(tdigest_columns))
            if tdigest_columns
            else None
        )
        if suggest_specs:
            from jsonschema_validator_spark.suggest import suggest_spec

            store.record_spec(
                sid,
                suggest_spec(
                    df, list(suggest_columns) if suggest_columns else None
                ),
            )
        # the manifest recorded the count at append time — a fresh
        # df.count() here would scan every snapshot a second time purely
        # to fill a lineage field (at 10^12 rows, doubling the run cost).
        # getattr: table implementations without the accessor still work.
        get_n = getattr(table, "snapshot_n_rows", None)
        n_rows = get_n(sid) if get_n is not None else None
        if n_rows is None:
            n_rows = df.count()
        # wall_start (not a precomputed wall_sec): the verdict/sketch jobs
        # actually run inside record()'s writes, so the clock must stop
        # AFTER them for lineage_history to chart real validation cost
        store.record(sid, verdicts, sk, n_rows, tdigests=td, wall_start=t0)
        validated.append(sid)
    return {
        "validated_snapshots": validated,
        "skipped_snapshots": sorted(done),
        "n_snapshots_total": len(table.snapshots()),
    }
