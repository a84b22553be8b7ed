"""Streaming benchmark decontamination — stateless per-document flags.

Batch/stream symmetry partner of ``operators.dedup.ngram_contamination``:
a document stream is flagged against a STATIC evaluation corpus. The batch
operator's shape (explode shingles → equi-join the benchmark set → per-doc
count aggregation) is the wrong shape for a stream — a per-doc streaming
aggregation either needs a watermark (forcing event-time semantics onto a
per-document, time-free statistic) or unbounded state. Because an eval set
is small BY DEFINITION (it is the thing you can afford to grade on), the
right streaming shape is stateless: materialize the benchmark's distinct
shingle set once at plan-build and ship it to executors as a task closure.
Each document's shingles come from the JVM's ``word_shingles``, so the
tokenizer is the batch operator's own; one ``mapInArrow`` then counts the
shingles found in the set — no shuffle, no state, append-mode compatible
with any sink, and each micro-batch row is touched exactly once. The
fraction and flag are ``dedup._contamination_flags``, the batch
operator's own columns, so a document gets identical ``n_shingles /
n_matched / contamination_frac / contaminated`` in both (asserted in
tests/test_streaming.py).

Scale notes: the collected shingle set is O(benchmark tokens) strings —
megabytes for real eval sets. The set is embedded in the serialized task
closure (one copy per executor, like a broadcast variable). For an
abnormally large benchmark this operator raises (``max_bench_shingles``)
rather than silently shipping a giant closure — at that size the batch
join operator is the correct tool.
"""

from __future__ import annotations

import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from jsonschema_validator_spark.operators.dedup import (
    _contamination_flags,
    word_shingles,
)


def benchmark_shingle_set(
    benchmark: DataFrame,
    text_col: str = "text",
    shingle_k: int = 5,
    max_bench_shingles: int = 5_000_000,
) -> frozenset:
    """Distinct shingle set of the benchmark corpus, materialized to the
    driver (the JVM computes the shingles; only the distinct set crosses).

    Raises when the set exceeds ``max_bench_shingles`` — the guard against
    pointing this at a corpus-sized "benchmark" (use the batch
    ``ngram_contamination`` join there instead).
    """
    distinct = (
        benchmark.filter(F.col(text_col).isNotNull())
        .select(F.explode(word_shingles(F.col(text_col), shingle_k)).alias("_s"))
        .distinct()
    )
    rows = distinct.limit(max_bench_shingles + 1).collect()
    if len(rows) > max_bench_shingles:
        raise ValueError(
            f"benchmark shingle set exceeds max_bench_shingles="
            f"{max_bench_shingles}; a benchmark this large should use the "
            "batch ngram_contamination equi-join, not a closure-shipped set"
        )
    return frozenset(r["_s"] for r in rows)


def streaming_contamination_flags(
    stream: DataFrame,
    benchmark: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_k: int = 5,
    threshold: float = 0.5,
    max_bench_shingles: int = 5_000_000,
) -> DataFrame:
    """Per-document contamination flags for a document stream.

    Output schema: ``(id_col, n_shingles bigint, n_matched bigint,
    contamination_frac double, contaminated boolean)`` — the batch
    operator's columns, same 6-dp-rounded-fraction threshold convention.
    NULL-text rows are dropped (batch parity).

    ``benchmark`` must be a BATCH DataFrame (the eval set); ``stream`` may
    be either a streaming or a batch frame — the operator is stateless, so
    the same plan serves both (tests exploit this for parity checks).
    """
    bench = benchmark_shingle_set(
        benchmark, text_col=text_col, shingle_k=shingle_k,
        max_bench_shingles=max_bench_shingles,
    )
    id_type = stream.schema[id_col].dataType.simpleString()
    src = stream.filter(F.col(text_col).isNotNull()).select(
        F.col(id_col), word_shingles(F.col(text_col), shingle_k).alias("_sh")
    )

    def count_matched(batches):
        for b in batches:
            shingles = b.column(1)
            matched = [len(bench.intersection(sh)) for sh in shingles.to_pylist()]
            yield pa.RecordBatch.from_arrays(
                [
                    b.column(0),
                    pc.list_value_length(shingles).cast(pa.int64()),
                    pa.array(matched, pa.int64()),
                ],
                names=[id_col, "n_shingles", "n_matched"],
            )

    return src.mapInArrow(
        count_matched, f"`{id_col}` {id_type}, n_shingles bigint, n_matched bigint"
    ).select(id_col, "n_shingles", "n_matched", *_contamination_flags(threshold))


__all__ = [
    "benchmark_shingle_set",
    "streaming_contamination_flags",
]
