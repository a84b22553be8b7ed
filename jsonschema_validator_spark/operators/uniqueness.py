"""Uniqueness checks: one hash-partitioned count per key.

The north rule asks for uniqueness checks on image_id/phash as a
hash-partitioned groupBy with explicit skew handling. The reference has no
table operators; this is the Spark-native addition (SURVEY.md §2.5, §4.3
item 1).

Skew: every check is ``groupBy(keys).agg(count)``, which Spark plans as a
map-side ``partial_count`` HashAggregate under the key exchange. A hot key
(FIXTURES.md: 5% of phash rows share 8 hot values) therefore reaches the
reducer as at most ONE row per map task, never as its raw rows: the
reducer's load per key is bounded by the number of map tasks, not by the
key's weight. A salt column would only split an already-tiny row set across
more reducers at the price of a second shuffle (on 4M rows with half on one
key, local[4], it made the verdict about twice as slow), so there is none.
``tests/test_plan_shapes.py`` pins the partial aggregate under the exchange.
"""

from __future__ import annotations

from typing import Optional, Sequence, Union

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from jsonschema_validator_spark.session import local_frame


def duplicate_keys(df: DataFrame, keys: Union[str, Sequence[str]]) -> DataFrame:
    """Keys that appear more than once: ``[*keys, n_dup]``."""
    if isinstance(keys, str):
        keys = [keys]
    keys = list(keys)
    return (
        df.groupBy(*keys)
        .agg(F.count(F.lit(1)).alias("n_dup"))
        .filter(F.col("n_dup") > 1)
    )


def _verdict_aggs() -> list[Column]:
    """The verdict aggregates over UNfiltered ``n_dup`` key-group counts:
    ``n`` (every row lands in exactly one group, NULL keys included, so the
    sum of all groups is the row count — no second ``df.count()`` scan),
    ``dup_rows`` (rows in a duplicated group) and ``dup_keys`` (duplicated
    groups)."""
    dup = F.col("n_dup") > 1
    return [
        F.coalesce(F.sum("n_dup"), F.lit(0)).alias("n"),
        F.coalesce(F.sum(F.when(dup, F.col("n_dup"))), F.lit(0)).alias("dup_rows"),
        F.coalesce(F.sum(dup.cast("long")), F.lit(0)).alias("dup_keys"),
    ]


def uniqueness_verdict(df: DataFrame, keys: Union[str, Sequence[str]]) -> DataFrame:
    """One-row verdict: ``rule_id, n_checked, n_failed, pass`` where
    n_failed counts ROWS involved in a duplicate key (matching the
    per-partition verdict shape of the engine).

    ONE scan: n_checked is the sum of ALL key-group counts, so no separate
    ``df.count()`` pass over the fact table is needed — at 100 TB that
    second scan roughly doubled the verdict's I/O.
    """
    if isinstance(keys, str):
        keys = [keys]
    keys = list(keys)
    agg = (
        df.groupBy(*keys)
        .agg(F.count(F.lit(1)).alias("n_dup"))
        .agg(*_verdict_aggs())
    )
    rule_id = "unique:" + ",".join(keys)
    return agg.select(
        F.lit(rule_id).alias("rule_id"),
        F.col("n").alias("n_checked"),
        F.col("dup_rows").alias("n_failed"),
        (F.col("dup_rows") == 0).alias("pass"),
        F.col("dup_keys"),
    )


def multi_key_uniqueness(df: DataFrame, keys: Sequence[str]) -> DataFrame:
    """Uniqueness verdicts for SEVERAL keys in one shuffle round.

    Checking k keys as separate ``groupBy`` jobs costs k shuffle rounds;
    each round has a fixed scheduling/fetch cost that dominates when the
    shuffled volume is small, and at 100 TB each round re-reads the fact
    table. Here every row explodes into (key, value) pairs — one scan, one
    wide shuffle keyed by (key, value) — and k verdict rows come out of a
    ≤k-row final aggregate.

    Output rows match ``uniqueness_verdict``: ``rule_id, n_checked,
    n_failed, pass, dup_keys`` — one row per key, rule_id ``unique:<key>``.
    """
    if isinstance(keys, str):
        # a bare string would list()-explode into single characters,
        # checking uniqueness of nonexistent one-letter columns
        keys = [keys]
    keys = list(keys)
    pairs = F.explode(
        F.array(
            *[
                F.struct(
                    F.lit(k).alias("key"), F.col(k).cast("string").alias("value")
                )
                for k in keys
            ]
        )
    ).alias("p")
    counts = (
        df.select(pairs)
        .select("p.key", "p.value")
        .groupBy("key", "value")
        .agg(F.count(F.lit(1)).alias("n_dup"))
    )
    # aggregate over the UNfiltered counts: each row contributes one value
    # per key, so sum(n_dup) per key is the row count
    per_key = counts.groupBy("key").agg(*_verdict_aggs())
    # left join against the key list so every key emits a verdict row even
    # on an EMPTY table (zero groups)
    key_df = local_frame(df.sparkSession, [(k,) for k in keys], "key string")
    return (
        key_df.join(F.broadcast(per_key), "key", "left")
        .select(
            F.concat(F.lit("unique:"), F.col("key")).alias("rule_id"),
            F.coalesce("n", F.lit(0)).alias("n_checked"),
            F.coalesce("dup_rows", F.lit(0)).alias("n_failed"),
            (F.coalesce("dup_rows", F.lit(0)) == 0).alias("pass"),
            F.coalesce("dup_keys", F.lit(0)).alias("dup_keys"),
        )
    )


def duplicate_rows(
    df: DataFrame,
    keys: Union[str, Sequence[str]],
    include: Optional[Sequence[str]] = None,
) -> DataFrame:
    """The offending rows themselves (for violation sampling): every row
    whose key is duplicated, joined back against the duplicate key set.

    The duplicate-key set is usually tiny relative to the table → Spark's
    AQE converts the join to broadcast automatically; we hint it explicitly
    since by construction dup_keys << n_rows.
    """
    if isinstance(keys, str):
        keys = [keys]
    keys = list(keys)
    dups = duplicate_keys(df, keys)
    # exclude the keys from the payload columns — selecting them twice
    # yields duplicate column names (unwritable parquet, ambiguous refs)
    cols = [c for c in (list(include) if include else df.columns) if c not in keys]
    return df.join(F.broadcast(dups), on=keys, how="inner").select(*keys, *cols, "n_dup")
