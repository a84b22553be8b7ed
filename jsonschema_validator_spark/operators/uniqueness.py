"""Uniqueness checks with salted-key skew mitigation.

North rule: "uniqueness checks on image_id/phash (hash-partitioned groupBy
with salted-key skew mitigation)". The reference has no table operators;
this is the Spark-native addition (SURVEY.md §2.5, §4.3 item 1).

Why salting: a plain ``groupBy(key).count()`` hash-partitions by key; a hot
key (FIXTURES.md: 5% of phash rows share 8 hot values) lands its entire
weight on ONE reducer task. The salted plan aggregates ``(key, salt)`` first
— the hot key's rows split across S reducers and collapse to S rows — then
re-aggregates by key over a tiny intermediate. Two shuffles, but the second
moves ~S rows per distinct key that survived partial aggregation, and the
first is balanced. At 10^12 rows this is the difference between a straggler
task OOMing and an even stage.

AQE's skew handling does not cover aggregations (only joins), so this is
explicit, as the north rule demands.
"""

from __future__ import annotations

from typing import Optional, Sequence, Union

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from jsonschema_validator_spark.session import local_frame


def duplicate_keys(
    df: DataFrame,
    keys: Union[str, Sequence[str]],
    salted: bool = False,
    salt_buckets: int = 64,
) -> DataFrame:
    """Keys that appear more than once: ``[*keys, n_dup]``.

    ``salted=True`` runs the two-phase salted aggregation — identical result,
    skew-safe physical plan. Results are bit-identical because count is
    algebraic: sum of per-salt counts == total count.
    """
    if isinstance(keys, str):
        keys = [keys]
    keys = list(keys)
    return _key_counts(df, keys, salted, salt_buckets).filter(F.col("n_dup") > 1)


def _key_counts(
    df: DataFrame, keys: list, salted: bool, salt_buckets: int = 64
) -> DataFrame:
    """Per-key-value row counts ``[*keys, n_dup]`` (UNfiltered — every key
    group, including singletons), via the plain or two-phase salted
    aggregation. Shared by :func:`duplicate_keys` and the verdict
    builders."""
    if salted:
        salt = F.pmod(
            F.hash(F.monotonically_increasing_id(), F.spark_partition_id()),
            F.lit(salt_buckets),
        ).alias("_salt")
        partial = (
            df.select(*keys, salt)
            .groupBy(*keys, "_salt")
            .agg(F.count(F.lit(1)).alias("_c"))
        )
        return partial.groupBy(*keys).agg(F.sum("_c").alias("n_dup"))
    return df.groupBy(*keys).agg(F.count(F.lit(1)).alias("n_dup"))


def uniqueness_verdict(
    df: DataFrame,
    keys: Union[str, Sequence[str]],
    salted: bool = True,
) -> DataFrame:
    """One-row verdict: ``rule_id, n_checked, n_failed, pass`` where
    n_failed counts ROWS involved in a duplicate key (matching the
    per-partition verdict shape of the engine).

    ONE scan: n_checked is the sum of ALL key-group counts (every row
    lands in exactly one group, NULL keys included), so no separate
    ``df.count()`` pass over the fact table is needed — at 100 TB that
    second scan roughly doubled the verdict's I/O.
    """
    if isinstance(keys, str):
        keys = [keys]
    keys = list(keys)
    counts = _key_counts(df, keys, salted)
    agg = counts.agg(
        F.coalesce(F.sum("n_dup"), F.lit(0)).alias("n"),
        F.coalesce(
            F.sum(F.when(F.col("n_dup") > 1, F.col("n_dup"))), F.lit(0)
        ).alias("dup_rows"),
        F.coalesce(
            F.sum((F.col("n_dup") > 1).cast("long")), F.lit(0)
        ).alias("dup_keys"),
    )
    rule_id = "unique:" + ",".join(keys)
    return agg.select(
        F.lit(rule_id).alias("rule_id"),
        F.col("n").alias("n_checked"),
        F.col("dup_rows").alias("n_failed"),
        (F.col("dup_rows") == 0).alias("pass"),
        F.col("dup_keys"),
    )


def multi_key_uniqueness(
    df: DataFrame,
    keys: Sequence[str],
    salted: bool = True,
    salt_buckets: int = 64,
) -> DataFrame:
    """Uniqueness verdicts for SEVERAL keys in one shuffle round.

    Checking k keys as separate ``groupBy`` jobs costs k (or 2k salted)
    shuffle rounds; each round has a fixed scheduling/fetch cost that
    dominates when the shuffled volume is small, and at 100 TB each round
    re-reads the fact table. Here every row explodes into (key, value)
    pairs — one scan, one wide shuffle keyed by (key, value[, salt]) — and
    k verdict rows come out of a ≤k-row final aggregate.

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
    kv = df.select(pairs).select("p.key", "p.value")
    group = ["key", "value"]
    if salted:
        kv = kv.withColumn(
            "_salt",
            F.pmod(
                F.hash(F.monotonically_increasing_id(), F.spark_partition_id()),
                F.lit(salt_buckets),
            ),
        )
        partial = kv.groupBy(*group, "_salt").agg(F.count(F.lit(1)).alias("_c"))
        counts = partial.groupBy(*group).agg(F.sum("_c").alias("n_dup"))
    else:
        counts = kv.groupBy(*group).agg(F.count(F.lit(1)).alias("n_dup"))
    # aggregate over the UNfiltered counts: sum(n_dup) per key is the
    # total row count (each row contributes one value per key), so the
    # docstring's one-scan promise actually holds — no second full-table
    # count pass
    per_key = counts.groupBy("key").agg(
        F.sum("n_dup").alias("_n"),
        F.coalesce(
            F.sum(F.when(F.col("n_dup") > 1, F.col("n_dup"))), F.lit(0)
        ).alias("dup_rows"),
        F.coalesce(
            F.sum((F.col("n_dup") > 1).cast("long")), F.lit(0)
        ).alias("dup_keys"),
    )
    # left join against the key list so every key emits a verdict row even
    # on an EMPTY table (zero groups)
    key_df = local_frame(df.sparkSession, [(k,) for k in keys], "key string")
    return (
        key_df.join(F.broadcast(per_key), "key", "left")
        .select(
            F.concat(F.lit("unique:"), F.col("key")).alias("rule_id"),
            F.coalesce("_n", F.lit(0)).alias("n_checked"),
            F.coalesce("dup_rows", F.lit(0)).alias("n_failed"),
            (F.coalesce("dup_rows", F.lit(0)) == 0).alias("pass"),
            F.coalesce("dup_keys", F.lit(0)).alias("dup_keys"),
        )
    )


def duplicate_rows(
    df: DataFrame,
    keys: Union[str, Sequence[str]],
    include: Optional[Sequence[str]] = None,
    salted: bool = True,
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
    dups = duplicate_keys(df, keys, salted=salted)
    # exclude the keys from the payload columns — selecting them twice
    # yields duplicate column names (unwritable parquet, ambiguous refs)
    cols = [c for c in (list(include) if include else df.columns) if c not in keys]
    return df.join(F.broadcast(dups), on=keys, how="inner").select(*keys, *cols, "n_dup")
