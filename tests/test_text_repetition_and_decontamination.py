"""Repetition signals (Gopher-style top-n-gram fractions) and benchmark
decontamination (n-gram shingle overlap vs an eval set).

Both are training-pipeline extensions (SURVEY.md §2.5 scope) with no
reference counterpart; semantics are pinned here against hand-computed
cases and an independent pandas re-implementation.
"""

import pytest
from pyspark.sql import functions as F

from jsonschema_validator_spark.operators.text import (
    repetition_metrics,
    repetition_struct,
)


def _rep_rows(spark, texts):
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id int, text string"
    )
    out = repetition_metrics(df).orderBy("doc_id").collect()
    return [
        (r["top_1gram_frac"], r["top_2gram_frac"], r["top_3gram_frac"]) for r in out
    ]


class TestRepetitionMetrics:
    def test_alternating_tokens(self, spark):
        # "a b a b a b": unigrams 3/6 'a'; bigrams [ab,ba,ab,ba,ab] -> 3/5;
        # trigrams [aba,bab,aba,bab] -> 2/4
        (row,) = _rep_rows(spark, ["a b a b a b"])
        assert row == (0.5, 0.6, 0.5)

    def test_all_distinct_tokens(self, spark):
        (row,) = _rep_rows(spark, ["x y z"])
        assert row == (pytest.approx(0.333333), 0.5, 1.0)

    def test_all_same_token(self, spark):
        (row,) = _rep_rows(spark, ["q q q q"])
        assert row == (1.0, 1.0, 1.0)

    def test_short_docs_yield_zero_not_null(self, spark):
        one, empty = _rep_rows(spark, ["w", ""])
        assert one == (1.0, 0.0, 0.0)
        # '' splits to [''] in both Spark and DuckDB — but that single
        # EMPTY token is not a token: a blank doc has zero n-grams (the
        # documented contract), not top_1gram_frac 1.0 (review fix; the
        # DuckDB oracle carries the same guard)
        assert empty == (0.0, 0.0, 0.0)

    def test_normalization_matches_quality_tokenizer(self, spark):
        # lowercase + trim: "  A a  " tokenizes to [a, a]
        (row,) = _rep_rows(spark, ["  A a  "])
        assert row == (1.0, 1.0, 0.0)

    def test_detects_phrase_loop_missed_by_distinct_ratio(self, spark):
        # the Gopher motivation: two tokens looped — lexical diversity is
        # terrible but distinct_token_ratio alone can't separate it from a
        # short natural doc; top_2gram_frac pins it near 1.
        (row,) = _rep_rows(spark, ["buy now " * 50])
        assert row[1] >= 0.49 and row[2] >= 0.49

    def test_struct_composes_inline(self, spark):
        df = spark.range(1).select(
            repetition_struct(F.lit("a a b"), max_n=2).alias("r")
        )
        r = df.collect()[0]["r"]
        assert r["top_1gram_frac"] == pytest.approx(0.666667)
        assert r["top_2gram_frac"] == 0.5
        assert "top_3gram_frac" not in r.asDict()

    def test_matches_independent_pandas(self, spark):
        import collections

        texts = [
            "the cat sat on the mat the cat",
            "alpha beta gamma delta",
            "spam spam spam ham spam",
            "one two one two three one two",
        ]

        def top_frac(toks, n):
            grams = [" ".join(toks[i : i + n]) for i in range(len(toks) - n + 1)]
            if not grams:
                return 0.0
            return round(collections.Counter(grams).most_common(1)[0][1] / len(grams), 6)

        expected = [
            tuple(top_frac(t.lower().split(), n) for n in (1, 2, 3)) for t in texts
        ]
        assert _rep_rows(spark, texts) == expected

    def test_staged_matches_inline_struct_and_never_shuffles(self, spark):
        # with_repetition_columns is a projection of repetition_struct:
        # values must match exactly and the plan must stay a pure map
        # stage (no Exchange).
        from jsonschema_validator_spark.operators.text import (
            with_repetition_columns,
        )

        texts = [
            "a b a b a b", "x y z", "q q q q", "w", "",
            "buy now " * 50, "  A a  ", "the cat sat on the mat the cat",
        ]
        df = spark.createDataFrame(
            [(i, t) for i, t in enumerate(texts)], "doc_id int, text string"
        )
        staged = with_repetition_columns(df, "text")
        inline = df.select(
            "doc_id", "text", repetition_struct(F.col("text")).alias("_r")
        ).select("doc_id", "text", "_r.*")
        assert (
            staged.orderBy("doc_id").collect()
            == inline.orderBy("doc_id").collect()
        )
        plan = staged._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan


class TestNgramContamination:
    def _docs(self, spark):
        rows = [
            (0, "alpha beta gamma delta epsilon zeta eta theta"),  # = bench 100
            (1, "alpha beta gamma delta epsilon omega psi chi"),  # half-overlap
            (2, "one two three four five six seven eight"),  # clean
            (3, "short doc"),  # < k tokens -> single whole-text shingle
            (4, None),  # null text -> dropped
        ]
        return spark.createDataFrame(rows, "doc_id int, text string")

    def _bench(self, spark):
        return spark.createDataFrame(
            [(100, "alpha beta gamma delta epsilon zeta eta theta"),
             (101, "short doc")],
            "bench_id int, text string",
        )

    def test_fraction_and_flag(self, spark):
        from jsonschema_validator_spark.operators.dedup import ngram_contamination

        out = ngram_contamination(
            self._docs(spark), self._bench(spark), shingle_k=5, threshold=0.5
        )
        rows = {r["doc_id"]: r for r in out.collect()}
        assert set(rows) == {0, 1, 2, 3}  # null text dropped
        # doc 0: 4 distinct 5-gram shingles, all in bench
        assert rows[0]["n_shingles"] == 4 and rows[0]["contamination_frac"] == 1.0
        assert rows[0]["contaminated"]
        # doc 1 shares exactly the first shingle with bench doc 100
        assert rows[1]["n_matched"] == 1 and rows[1]["contamination_frac"] == 0.25
        assert not rows[1]["contaminated"]
        assert rows[2]["n_matched"] == 0 and not rows[2]["contaminated"]
        # doc 3 (< k tokens): whole text is ONE shingle, exact-matches bench 101
        assert rows[3]["n_shingles"] == 1 and rows[3]["contamination_frac"] == 1.0
        assert rows[3]["contaminated"]

    def test_threshold_on_rounded_fraction(self, spark):
        from jsonschema_validator_spark.operators.dedup import ngram_contamination

        out = ngram_contamination(
            self._docs(spark), self._bench(spark), shingle_k=5, threshold=0.25
        )
        rows = {r["doc_id"]: r for r in out.collect()}
        assert rows[1]["contaminated"]  # 0.25 >= 0.25

    def test_matches_independent_pandas(self, spark):
        import duckdb
        import numpy as np

        from jsonschema_validator_spark.operators.dedup import ngram_contamination

        docs = (
            duckdb.sql(
                "SELECT doc_id, text FROM '/root/testdata/sf0.001/documents.parquet'"
            ).df()
        )
        k, thr = 5, 0.5
        bench_pd = docs[docs.doc_id % 17 == 0]

        def shingles(t):
            toks = " ".join(t.lower().strip().split()).split(" ")
            if len(toks) < k:
                return {" ".join(toks)}
            return {" ".join(toks[i : i + k]) for i in range(len(toks) - k + 1)}

        bset = set().union(*(shingles(t) for t in bench_pd.text))
        expected = {}
        for r in docs.itertuples():
            sh = shingles(r.text)
            m = len(sh & bset)
            frac = round(m / len(sh), 6)
            expected[r.doc_id] = (len(sh), m, frac, frac >= thr)

        sdocs = spark.createDataFrame(docs)
        sbench = spark.createDataFrame(bench_pd)
        got = {
            r["doc_id"]: (
                r["n_shingles"],
                r["n_matched"],
                r["contamination_frac"],
                r["contaminated"],
            )
            for r in ngram_contamination(
                sdocs, sbench, shingle_k=k, threshold=thr
            ).collect()
        }
        assert got == expected
        # the planted benchmark docs themselves must all be flagged
        assert all(got[d][3] for d in bench_pd.doc_id)
        assert np.mean([v[3] for v in got.values()]) < 0.5  # most docs clean

    def test_funnel_decontamination_stage(self, spark):
        from jsonschema_validator_spark.operators.curation import curate_corpus

        df = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
        bench = df.filter(F.col("doc_id") % 17 == 0)
        clean, stats = curate_corpus(
            df,
            min_quality=0.0,  # pass everything through the cheap gates
            keep_langs=("en", "de", "fr", "es", "und"),
            benchmark=bench,
            contamination_k=5,
            contamination_threshold=0.5,
        )
        srows = {r["stage"]: r.asDict() for r in stats.collect()}
        assert srows["decontamination"]["stage_idx"] == 5
        assert (
            srows["near_dup_dedup"]["n_out"] == srows["decontamination"]["n_in"]
        )
        assert srows["decontamination"]["n_out"] == clean.count()
        # benchmark docs that survived the earlier stages must be scrubbed
        kept = {r["doc_id"] for r in clean.select("doc_id").collect()}
        bench_ids = {r["doc_id"] for r in bench.select("doc_id").collect()}
        assert kept.isdisjoint(bench_ids)
        assert srows["decontamination"]["n_removed"] >= 1

    def test_funnel_without_benchmark_stage_is_noop(self, spark):
        from jsonschema_validator_spark.operators.curation import curate_corpus

        df = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
        clean, stats = curate_corpus(df)
        srows = {r["stage"]: r.asDict() for r in stats.collect()}
        assert srows["decontamination"]["n_removed"] == 0
        assert srows["decontamination"]["n_out"] == clean.count()

    def test_broadcast_plan_and_shuffle_fallback(self, spark):
        from jsonschema_validator_spark.operators.dedup import ngram_contamination

        bcast = ngram_contamination(self._docs(spark), self._bench(spark))
        plan = bcast._jdf.queryExecution().executedPlan().toString()
        assert "BroadcastHashJoin" in plan  # hint binds pre-AQE
        merge = ngram_contamination(
            self._docs(spark), self._bench(spark), broadcast_benchmark=False
        )
        # fallback (large-benchmark path) computes identical results
        a = {tuple(r) for r in bcast.collect()}
        b = {tuple(r) for r in merge.collect()}
        assert a == b


class TestBlankDocReviewRegressions:
    """split('') returns [''] — one EMPTY token — which made blank docs
    maximally 'repetitive' (top_1gram_frac 1.0) and maximally 'diverse'
    (distinct_token_ratio 1.0, earning the quality credit) at once."""

    def test_blank_docs_zero_repetition(self, spark):
        got = _rep_rows(spark, ["", "   ", "a a a"])
        assert got[0] == (0.0, 0.0, 0.0)
        assert got[1] == (0.0, 0.0, 0.0)
        assert got[2][0] == 1.0  # real repetition still detected

    def test_blank_docs_inline_struct_matches_staged(self, spark):
        df = spark.createDataFrame(
            [(0, ""), (1, "  "), (2, "x y x y")], "doc_id int, text string"
        )
        inline = {
            r["doc_id"]: r["r"]["top_1gram_frac"]
            for r in df.select(
                "doc_id", repetition_struct(F.col("text")).alias("r")
            ).collect()
        }
        assert inline[0] == 0.0 and inline[1] == 0.0 and inline[2] == 0.5

    def test_null_text_is_null_not_repetitive(self, spark):
        # NULL text tokenizes to NULL, whose n≥2 grams were [NULL]: one
        # gram, so top_2gram_frac and top_3gram_frac read 1.0
        assert _rep_rows(spark, [None, ""]) == [(None, None, None), (0.0, 0.0, 0.0)]
        df = spark.createDataFrame([(None,)], "text string")
        (r,) = df.select(repetition_struct(F.col("text")).alias("r")).collect()
        assert r["r"].asDict() == dict.fromkeys(
            ["top_1gram_frac", "top_2gram_frac", "top_3gram_frac"]
        )

    def test_blank_doc_no_diversity_credit(self, spark):
        from jsonschema_validator_spark.operators.text import quality_struct

        df = spark.createDataFrame([("",), ("   ",)], "text string")
        rows = df.select(quality_struct(F.col("text")).alias("q")).collect()
        for r in rows:
            assert r["q"]["distinct_token_ratio"] == 0.0
            # blank text earns neither the length nor the diversity credit
            assert r["q"]["quality_score"] <= 0.5

    def test_zero_token_corpus_budget_no_divide_by_zero(self, spark):
        from jsonschema_validator_spark.operators.text import corpus_token_budget

        df = spark.createDataFrame(
            [("a", ""), ("b", "  ")], "src string, text string"
        )
        rows = corpus_token_budget(df, ["src"]).collect()
        assert all(r["token_share"] == 0.0 for r in rows)

    def test_retention_curve_empty_corpus_all_zero(self, spark):
        from jsonschema_validator_spark.operators.text import quality_retention_curve

        df = spark.createDataFrame([], "text string")
        rows = quality_retention_curve(df, [0.5, 1.0]).collect()
        assert len(rows) == 2
        for r in rows:
            assert r["n_docs"] == 0 and r["n_tokens"] == 0
            assert r["doc_retention"] == 0.0 and r["token_retention"] == 0.0

    def test_pii_redact_token_with_dollar_is_literal(self, spark):
        from jsonschema_validator_spark.operators.text import pii_scan

        df = spark.createDataFrame(
            [(0, "mail me at bob@example.com now")], "doc_id int, text string"
        )
        out = pii_scan(df, redact_token="<$REDACTED$>").collect()[0]
        assert "<$REDACTED$>" in out["redacted_text"]
        assert "bob@example.com" not in out["redacted_text"]
