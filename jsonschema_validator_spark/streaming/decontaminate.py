"""Streaming benchmark decontamination — stateless per-document flags.

Batch/stream symmetry partner of ``operators.dedup.ngram_contamination``:
a document stream is flagged against a STATIC evaluation corpus. The batch
operator's shape (explode shingles → equi-join the benchmark set → per-doc
count aggregation) is the wrong shape for a stream — a per-doc streaming
aggregation either needs a watermark (forcing event-time semantics onto a
per-document, time-free statistic) or unbounded state. Because an eval set
is small BY DEFINITION (it is the thing you can afford to grade on), the
right streaming shape is stateless: materialize the benchmark's distinct
shingle set once at plan-build, ship it to executors as a task closure, and
compute each document's overlap inside Arrow-batched ``mapInPandas`` —
no shuffle, no state, append-mode compatible with any sink, and each
micro-batch row is touched exactly once.

Parity: shingle canonicalization replicates ``operators.dedup.word_shingles``
(lowercase, trim, collapse whitespace, distinct k-word shingles, whole text
when shorter than k) on the STRING shingles themselves — no hashing — so a
document gets bit-identical ``n_shingles / n_matched / contamination_frac``
to the batch operator (asserted end-to-end in tests/test_streaming.py).

Scale notes: the collected shingle set is O(benchmark tokens) strings —
megabytes for real eval sets. The set is embedded in the serialized task
closure (one copy per executor, like a broadcast variable). For an
abnormally large benchmark this operator raises (``max_bench_shingles``)
rather than silently shipping a giant closure — at that size the batch
join operator is the correct tool.
"""

from __future__ import annotations

import re
from decimal import ROUND_HALF_UP, Decimal
from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from jsonschema_validator_spark.operators.dedup import word_shingles

_SIX_DP = Decimal("0.000001")
# Java's ``\s``: the six ASCII whitespace characters, nothing else
_JAVA_WS = re.compile(r"\s+", flags=re.ASCII)


def _round6(x: float) -> float:
    """Spark F.round parity: HALF_UP on the repr of the double (the
    engine-wide convention — Python's round() is banker's and can differ
    on exact 6-dp midpoints)."""
    return float(Decimal(repr(x)).quantize(_SIX_DP, rounding=ROUND_HALF_UP))


def _py_shingles(text: str, k: int) -> set:
    """Pure-Python twin of operators.dedup.word_shingles (distinct k-word
    shingles of the canonicalized text; whole text when < k tokens).

    Canonicalizes the way the JVM does: Spark's ``trim`` strips 0x20 only
    (NOT tabs/newlines — those collapse to a single space, leaving an
    empty leading/trailing token) and Java ``\\s`` is ASCII-only. A
    ``.strip()``-based twin silently diverges on tab-led documents
    (caught by test_py_shingles_matches_jvm_word_shingles)."""
    toks = _JAVA_WS.sub(" ", text.strip(" ").lower()).split(" ")
    if len(toks) < k:
        return {" ".join(toks)}
    return {" ".join(toks[i : i + k]) for i in range(len(toks) - k + 1)}


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
    id_field = stream.schema[id_col]
    out_schema = (
        f"`{id_col}` {id_field.dataType.simpleString()}, n_shingles bigint, "
        "n_matched bigint, contamination_frac double, contaminated boolean"
    )
    k, thr = shingle_k, threshold
    src = stream.select(F.col(id_col), F.col(text_col)).filter(
        F.col(text_col).isNotNull()
    )

    def flag_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if pdf.empty:
                continue
            n_sh, n_m, fracs, flags = [], [], [], []
            for text in pdf[text_col]:
                sh = _py_shingles(text, k)
                m = len(sh & bench)
                frac = _round6(m / len(sh))
                n_sh.append(len(sh))
                n_m.append(m)
                fracs.append(frac)
                flags.append(frac >= thr)
            yield pd.DataFrame(
                {
                    id_col: pdf[id_col].values,
                    "n_shingles": pd.array(n_sh, dtype="int64"),
                    "n_matched": pd.array(n_m, dtype="int64"),
                    "contamination_frac": fracs,
                    "contaminated": flags,
                }
            )

    return src.mapInPandas(flag_batches, out_schema)


__all__ = [
    "benchmark_shingle_set",
    "streaming_contamination_flags",
]
