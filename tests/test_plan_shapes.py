"""Physical-plan regression tests — lock the scale-critical plan shapes
recorded in PLANS.md so a future change can't silently regress them:
column pruning (the 100 TB ``bytes`` column must never be scanned unless an
image check needs it), single-scan operator fusion for verdicts, and join
strategy selection for referential checks."""

import contextlib
import io
import re

import numpy as np
import pytest
from pyspark.sql import functions as F


def _plan(df, mode: str = "formatted") -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain(mode)
    return buf.getvalue()


def _op_count(plan: str, op: str) -> int:
    """Count physical operators via their numbered detail headers — the
    formatted tree prints each operator twice (tree + details)."""
    return len(re.findall(rf"\(\d+\) {re.escape(op)}\b", plan))


def test_verdicts_single_scan_pruned_columns(spark):
    """Verdicts = ONE pruned scan + partial/final agg (PLANS.md §1)."""
    from jsonschema_validator_spark import Validator

    df = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
    spec = {
        "required": ["l_orderkey"],
        "properties": {"l_quantity": {"minimum": 1, "maximum": 50}},
    }
    plan = _plan(Validator(spec).validate(df).verdicts())
    assert _op_count(plan, "Scan parquet") == 1
    # ReadSchema carries only the referenced columns
    read_schema = [l for l in plan.splitlines() if "ReadSchema" in l][0]
    assert "l_orderkey" in read_schema and "l_quantity" in read_schema
    for unread in ("l_comment", "l_extendedprice", "l_shipdate"):
        assert unread not in read_schema, f"{unread} should be pruned"
    # exactly one shuffle: the partial->final aggregate exchange
    assert _op_count(plan, "Exchange") - _op_count(plan, "BroadcastExchange") <= 1


def test_violations_scan_prunes_everything_else(spark):
    from jsonschema_validator_spark import Validator

    df = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
    spec = {"properties": {"l_quantity": {"maximum": 50}}}
    plan = _plan(Validator(spec).validate(df).violations(include=["l_orderkey"]))
    read_schema = [l for l in plan.splitlines() if "ReadSchema" in l][0]
    assert "l_quantity" in read_schema and "l_orderkey" in read_schema
    assert "l_comment" not in read_schema


def test_metadata_spec_never_scans_bytes(spark, tmp_path):
    """A spec that doesn't reference the payload column must leave it in
    parquet — the property that makes metadata-only validation free at
    100 TB (PLANS.md §1)."""
    from jsonschema_validator_spark import Validator
    from jsonschema_validator_spark.sources import synth

    p = str(tmp_path / "imgs")
    synth.generate_spark(spark, 200, seed=42, partitions=2).write.parquet(p)
    df = spark.read.parquet(p)
    spec = {
        "required": ["image_id"],
        "properties": {"w": {"minimum": 1}, "caption": {"minLength": 1}},
    }
    plan = _plan(Validator(spec).validate(df).verdicts())
    read_schema = [l for l in plan.splitlines() if "ReadSchema" in l][0]
    assert "bytes" not in read_schema
    assert "phash" not in read_schema


def test_referential_join_strategies(spark):
    """broadcast=True must produce a broadcast anti-join; broadcast=False a
    shuffle-based anti-join (PLANS.md §3)."""
    from jsonschema_validator_spark.operators.referential import orphan_rows

    customer = spark.read.parquet("/root/testdata/sf0.001/customer.parquet")
    region = spark.read.parquet("/root/testdata/sf0.001/region.parquet")
    bplan = _plan(
        orphan_rows(customer, region, [("c_nationkey", "r_regionkey")], broadcast=True)
    )
    assert "BroadcastHashJoin" in bplan and "LeftAnti" in bplan
    # broadcast=False delegates to Catalyst, which still broadcasts a tiny
    # dim; disable the auto threshold to observe the large-dim shuffle path
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        splan = _plan(
            orphan_rows(
                customer, region, [("c_nationkey", "r_regionkey")], broadcast=False
            )
        )
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
    assert "LeftAnti" in splan and "BroadcastHashJoin" not in splan
    assert "SortMergeJoin" in splan or "ShuffledHashJoin" in splan


def test_minhash_banding_is_equi_join_not_cross(spark):
    """The LSH candidate join must be an equi-join on (band, band_hash) —
    never a cartesian/nested-loop product (PLANS.md §9)."""
    from jsonschema_validator_spark.operators.dedup import minhash_lsh_candidates

    df = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    plan = _plan(minhash_lsh_candidates(df, n_hashes=32, bands=8))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_ngram_jaccard_all_pairs_requires_opt_in(spark):
    """The quadratic all-pairs self-join must be unreachable by default:
    no candidates and no all_pairs=True ⇒ raise, never a silent
    job-killing fallback at scale."""
    import pytest

    from jsonschema_validator_spark.operators.dedup import ngram_jaccard_pairs

    df = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    with pytest.raises(ValueError, match="all_pairs=True"):
        ngram_jaccard_pairs(df)
    # the explicit opt-in still works (plan builds; no cartesian product)
    plan = _plan(ngram_jaccard_pairs(df, all_pairs=True))
    assert "CartesianProduct" not in plan


def test_referential_skewed_fk_aqe_skew_split(spark):
    """Skew story for JOINS (aggregation relies on the partial count): a fact
    table with one hot nationkey (~30-40% of all rows) against the nation
    dim on the sort-merge anti-join path must engage AQE's skew-join
    splitting — the executed plan shows SortMergeJoin(skew=true) with an
    'AQEShuffleRead skewed' on the fact side. Thresholds are scaled down
    to test-size data; at production scale the defaults (256MB/5x) hit the
    same code path."""
    from jsonschema_validator_spark.operators.referential import orphan_rows

    n = 200_000
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
    dim = spark.read.parquet("/root/testdata/sf0.001/nation.parquet")
    overrides = {
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "64KB",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "1.5",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "32KB",
        "spark.sql.adaptive.coalescePartitions.enabled": "false",
    }
    saved = {}
    for k, v in overrides.items():
        try:
            saved[k] = spark.conf.get(k)
        except Exception:
            saved[k] = None
        spark.conf.set(k, v)
    try:
        out = orphan_rows(fact, dim, [("c_nationkey", "n_nationkey")], broadcast=False)
        out.collect()  # AQE finalizes the plan only on execution
        plan = out._jdf.queryExecution().executedPlan().toString()
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)
    assert "isFinalPlan=true" in plan
    assert "SortMergeJoin(skew=true)" in plan
    assert "AQEShuffleRead skewed" in plan


def test_bucketed_fact_join_skips_fact_shuffle(spark, tmp_path):
    """Bucketing co-location (the 100 TB pre-shuffle trade): a fact table
    bucketed by its FK joins the dim with NO Exchange on the fact side —
    the scan reads buckets as join partitions (Bucketed: true,
    SelectedBucketsCount in the scan details); only the dim side
    shuffles. At 10^12 rows this converts the per-run fact shuffle into a
    one-time write-side cost."""
    import re

    li = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
    (
        li.write.bucketBy(8, "l_partkey")
        .sortBy("l_partkey")
        .option("path", str(tmp_path / "li_bucketed"))
        .mode("overwrite")
        .saveAsTable("li_bucketed_test")
    )
    part = spark.read.parquet("/root/testdata/sf0.001/part.parquet")
    from jsonschema_validator_spark.operators.referential import orphan_rows

    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        fact = spark.table("li_bucketed_test")
        plan = _plan(
            orphan_rows(fact, part, [("l_partkey", "p_partkey")], broadcast=False)
        )
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
        spark.sql("DROP TABLE IF EXISTS li_bucketed_test")
    assert "Bucketed: true" in plan
    assert "SelectedBucketsCount" in plan
    # exactly ONE exchange: the dim side; the bucketed fact never shuffles
    assert len(re.findall(r"\(\d+\) Exchange", plan)) == 1
    assert "SortMergeJoin" in plan and "LeftAnti" in plan


def test_duplicate_clusters_transitive_components(spark):
    """duplicate_clusters: transitive chains collapse into one component
    (min-id label), separate components stay separate, representatives
    are the min ids — and a long chain still converges within max_iters
    = diameter."""
    from jsonschema_validator_spark.operators.dedup import duplicate_clusters

    pairs = spark.createDataFrame(
        [(2, 1), (2, 3), (3, 4), (10, 11), (6, 5), (5, 9)],
        "id_a long, id_b long",
    )
    out = {
        r["doc_id"]: (r["cluster_id"], r["is_representative"])
        for r in duplicate_clusters(pairs).collect()
    }
    assert out == {
        1: (1, True), 2: (1, False), 3: (1, False), 4: (1, False),
        5: (5, True), 6: (5, False), 9: (5, False),
        10: (10, True), 11: (10, False),
    }
    # a 6-node path graph needs label hops = diameter; verify convergence
    chain = spark.createDataFrame(
        [(i + 1, i) for i in range(1, 6)], "id_a long, id_b long"
    )
    got = {r["doc_id"]: r["cluster_id"] for r in duplicate_clusters(chain).collect()}
    assert got == {i: 1 for i in range(1, 7)}


def test_duplicate_clusters_long_chain_and_nonconvergence(spark):
    """Round-4 convergence contract: (a) pointer doubling makes a
    diameter-15 path graph converge well inside the default max_iters=10
    (label propagation alone would need 15 hops); (b) exhausting max_iters
    with labels still moving NEVER returns silently — raise by default,
    or converged=false rows under on_nonconverged='flag'."""
    import pytest

    from jsonschema_validator_spark.operators.dedup import duplicate_clusters

    chain = spark.createDataFrame(
        [(i + 1, i) for i in range(1, 16)], "id_a long, id_b long"
    )
    got = {r["doc_id"]: r["cluster_id"] for r in duplicate_clusters(chain).collect()}
    assert got == {i: 1 for i in range(1, 17)}

    # max_iters=1 cannot finish a 16-node path: must raise, not mislabel
    with pytest.raises(RuntimeError, match="did not converge"):
        duplicate_clusters(chain, max_iters=1)

    # flag mode: partial labels come back marked unconverged
    flagged = duplicate_clusters(chain, max_iters=1, on_nonconverged="flag")
    rows = flagged.collect()
    assert rows and all(r["converged"] is False for r in rows)

    with pytest.raises(ValueError, match="on_nonconverged"):
        duplicate_clusters(chain, on_nonconverged="explode")


def test_hamming_pigeonhole_preconditions(spark):
    """The pigeonhole guarantee (some slice identical) requires
    max_hamming < n_slices and n_slices | 64 — violating either silently
    LOSES recall, so both now raise (round-4 guard)."""
    import pytest

    from jsonschema_validator_spark.operators.dedup import hamming_near_duplicates

    df = spark.createDataFrame([(1, 5), (2, 7)], "id long, sig long")
    with pytest.raises(ValueError, match="max_hamming"):
        hamming_near_duplicates(df, "sig", "id", max_hamming=4, n_slices=4)
    with pytest.raises(ValueError, match="divisor of 64"):
        hamming_near_duplicates(df, "sig", "id", max_hamming=2, n_slices=7)
    # valid configs still work
    out = hamming_near_duplicates(df, "sig", "id", max_hamming=3, n_slices=4)
    got = out.collect()
    assert [(r["id_a"], r["id_b"], r["hamming"]) for r in got] == [(1, 2, 1)]


def test_brute_force_topk_query_side_guard(spark):
    """brute_force_topk broadcasts the query side and scores O(q×corpus)
    pairs — a corpus-sized query side must raise unless explicitly opted
    in (round-4 guard, mirroring ngram_jaccard_pairs' all_pairs)."""
    import pytest

    from pyspark.sql import functions as F

    from jsonschema_validator_spark.operators.similarity import brute_force_topk

    df = spark.range(50).select(
        F.col("id").alias("vec_id"),
        F.array(F.rand(7), F.rand(8)).alias("embedding"),
    )
    with pytest.raises(ValueError, match="query side"):
        brute_force_topk(df, df, k=2, max_queries=10)
    # explicit opt-in (bound raised / disabled) still works
    assert brute_force_topk(df, df.limit(3), k=2).count() == 6
    assert brute_force_topk(df, df, k=1, max_queries=None).count() == 50


def test_documents_text_profile_single_scan(spark):
    """The round-4 merged text profile (tokens + quality + langid +
    fingerprint) must stay ONE pruned scan with no shuffle — the whole
    point of merging four per-doc queries (PLANS.md §17/§19 rationale)."""
    import __spark_entry__ as entry_mod

    df = entry_mod.queries()["documents_text_profile"](
        spark, "/root/testdata/sf0.001"
    )
    plan = _plan(df)
    assert _op_count(plan, "Scan parquet") == 1
    assert _op_count(plan, "Exchange") == 0  # pure map-side projection
    read_schema = [l for l in plan.splitlines() if "ReadSchema" in l][0]
    assert "text" in read_schema and "doc_id" in read_schema
    assert "lang" not in read_schema.replace("predicted_lang", "")  # pruned


def test_drift_stats_single_scan_per_side(spark):
    """drift_stats_profile: KS+PSI+JS+EMD from ONE scan per side per
    family — two lineitem scans (even/odd halves of the same file) plus
    two embeddings scans (label halves), instead of the former three
    queries x two scans each (and the k+1 embedding folds share one
    staged norm, not one pass per projection)."""
    import __spark_entry__ as entry_mod

    df = entry_mod.queries()["drift_stats_profile"](
        spark, "/root/testdata/sf0.001"
    )
    plan = _plan(df)
    assert _op_count(plan, "Scan parquet") == 4  # 2 tables x (side a + b)


def test_curation_funnel_stats_single_scan(spark):
    """Round-4 scan-once rewrite: the funnel stats aggregate reads the
    corpus ONCE (flag columns + one agg + explode), not once per stage."""
    from jsonschema_validator_spark.operators.curation import curate_corpus

    df = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    clean, stats = curate_corpus(df)
    splan = _plan(stats)
    assert _op_count(splan, "Scan parquet") == 1
    cplan = _plan(clean)
    assert _op_count(cplan, "Scan parquet") == 1


def test_categorical_drift_shuffles_counts_not_rows(spark):
    """categorical_drift: each side is ONE scan feeding one partial+final
    count aggregate over both sides — the shuffle moves <= n_categories
    rows per map task, never raw rows (PLANS.md §21). The stack/explode unpivot in the driver
    query must sit ABOVE the aggregates, so each statistic computes once."""
    from jsonschema_validator_spark.operators.drift import categorical_drift

    df = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
    a = df.filter(F.col("l_orderkey") % 2 == 0)
    b = df.filter(F.col("l_orderkey") % 2 == 1)
    out = categorical_drift(a, b, "l_returnflag")
    plan = _plan(out)
    assert _op_count(plan, "Scan parquet") == 2  # side a + side b
    # the (column, bucket) count exchange sits directly on the partial
    # HashAggregate (map-side combine), so rows never cross the shuffle
    out.collect()
    lines = _final_plan(out).splitlines()
    on_counts = [
        i for i, l in enumerate(lines)
        if "Exchange hashpartitioning(" in l
        and re.findall(r"(\w+)#\d+", l.split("hashpartitioning(", 1)[1]) == ["column", "bucket"]
    ]
    assert len(on_counts) == 1, lines
    child = lines[on_counts[0] + 1]
    assert "HashAggregate(" in child and "partial_sum(" in child, lines
    read_schema = [l for l in plan.splitlines() if "ReadSchema" in l][0]
    assert "l_returnflag" in read_schema
    assert "l_comment" not in read_schema and "l_extendedprice" not in read_schema


def test_robust_outlier_stats_scan_bound(spark):
    """robust_outlier_stats: localCheckpoint truncates the scalar frames'
    lineage, so the FINAL plan scans the table at most twice (counts pass
    + the AQE subplan); without it every downstream consumer re-derives
    every upstream scalar (measured 10 scans — PLANS.md §22)."""
    from jsonschema_validator_spark.operators.stats import robust_outlier_stats

    df = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
    out = robust_outlier_stats(df, ["l_quantity", "l_extendedprice"])
    out.collect()
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert len(re.findall(r"Scan parquet", plan)) <= 2


def test_ngram_contamination_broadcast_probe_single_corpus_scan(spark):
    """ngram_contamination (default broadcast path): the CORPUS side scans
    once and the benchmark probe is a BroadcastHashJoin — the shape that
    keeps the 100 TB side shuffle-free except the O(docs) count agg
    (PLANS.md §23)."""
    from jsonschema_validator_spark.operators.dedup import ngram_contamination

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    bench = docs.filter(F.col("doc_id") % 17 == 0)
    out = ngram_contamination(docs, bench)
    plan = _plan(out)
    assert "BroadcastHashJoin" in plan
    # two scans total: corpus + benchmark (same file here by construction)
    assert _op_count(plan, "Scan parquet") == 2


_TOKENIZED = {
    "word_shingles": lambda dedup, text, t: dedup.word_shingles(t, 5),
    "repetition_struct": lambda dedup, text, t: text.repetition_struct(t),
}


@pytest.mark.parametrize("name", sorted(_TOKENIZED))
def test_tokenizer_evaluated_once(spark, name):
    """A text statistic tokenizes each row once: the token array is
    let-bound, so the optimized plan holds one ``split``, not a copy per
    shingle, gram order or reference (higher-order functions get no
    common-subexpression elimination, so every copy runs per row)."""
    from jsonschema_validator_spark.operators import dedup, text

    df = spark.createDataFrame([("a b a b c",)], "text string")
    out = df.select(_TOKENIZED[name](dedup, text, F.col("text")).alias("out"))
    plan = out._jdf.queryExecution().optimizedPlan().toString()
    assert plan.count("split(") == 1, plan


def test_long_shape_unpivot_single_pass(spark):
    """_unpivot_long must reshape with ONE explode projection, never a
    per-stat union — Spark does no CSE across union branches, so the
    union form re-derives the entire upstream aggregate once per stat
    (PLANS.md §30: 16 scans for 8 stats before the rewrite)."""
    from __spark_entry__ import _unpivot_long

    df = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
    agg = df.groupBy(F.col("l_returnflag").alias("group")).agg(
        F.avg("l_quantity").alias("m"),
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum("l_extendedprice").alias("s"),
        F.max("l_discount").alias("x"),
    )
    out = _unpivot_long(agg, "fam", "group", rounded=["m", "s"], exact=["n", "x"])
    plan = _plan(out)
    assert _op_count(plan, "Scan parquet") == 1, plan
    assert _op_count(plan, "Union") == 0, plan
    # one partial->final aggregate exchange, nothing per-stat
    assert _op_count(plan, "Exchange") == 1, plan
    rows = out.collect()
    assert len(rows) == 4 * agg.count()
    assert {r["stat"] for r in rows} == {"m", "n", "s", "x"}


# a physical operator that evaluates Python (mapIn*, *EvalPython, grouped
# and windowed pandas/Arrow UDFs)
_PYTHON_NODE = re.compile(r"\b\w*(?:InPandas|InArrow|EvalPython|WindowPython|AggregatePython)\w*\b")


def _final_plan(df) -> str:
    """The executed physical plan of a collected DataFrame (AQE's final
    plan, without the initial one printed beside it)."""
    plan = df._jdf.queryExecution().executedPlan()
    if plan.getClass().getSimpleName() == "AdaptiveSparkPlanExec":
        plan = plan.executedPlan()
    return plan.toString()


def test_image_suite_only_python_stage_is_the_decode(spark, tmp_path):
    """The executed flagship suite (direct-read decode, metadata cache)
    runs Python in exactly one operator, the decode: the tiny literal
    tables are local relations (no ``Scan ExistingRDD`` over a Python
    RDD) and the decode units come from ``spark.range`` (no round-robin
    Exchange in front of the decode)."""
    from jsonschema_validator_spark.pipeline import ImageValidationSuite
    from jsonschema_validator_spark.sources import synth

    p = str(tmp_path / "imgs")
    synth.generate_spark(spark, 400, seed=42, partitions=2).write.parquet(p)
    df = spark.read.parquet(p)
    plan = ImageValidationSuite(
        df, dim_formats=synth.dim_formats(spark), baseline=df,
        source_path=p, cache_metadata=True,
    ).suite_verdicts()
    try:
        assert len(plan.collect()) > 0
        final = _final_plan(plan)
    finally:
        spark.catalog.clearCache()
    assert "Scan ExistingRDD" not in final
    assert "RoundRobinPartitioning" not in final
    assert _PYTHON_NODE.findall(final) == ["MapInArrow"], final


_DRIFT = {
    "drift_metrics": lambda d, a, b: d.drift_metrics(a, b, ["l_quantity"], 0.5, 50.5, 50),
    "drift_by_group": lambda d, a, b: d.drift_by_group(
        a, b, "l_returnflag", "l_quantity", 0.5, 50.5, 50
    ),
    "categorical_drift_metrics": lambda d, a, b: d.categorical_drift_metrics(
        a, b, ["l_returnflag", "l_linestatus"]
    ),
    "categorical_drift_by_group": lambda d, a, b: d.categorical_drift_by_group(
        a, b, "l_returnflag", "l_linestatus"
    ),
}


@pytest.mark.parametrize("name", sorted(_DRIFT))
def test_drift_one_aggregate_one_reduction(spark, name):
    """Numeric and categorical drift are each one tagged side-count
    aggregate plus one array reduction per key: at most two shuffles, and
    no window or join over the histograms."""
    from jsonschema_validator_spark.operators import drift

    df = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
    a = df.filter(F.col("l_orderkey") % 2 == 0)
    b = df.filter(F.col("l_orderkey") % 2 == 1)
    out = _DRIFT[name](drift, a, b)
    out.collect()
    final = _final_plan(out)
    assert not re.search(r"\bWindow\b", final), final
    assert "Join" not in final, final
    assert len(re.findall(r"\bExchange\b", final)) <= 2, final


def test_categorical_drift_vs_baseline_one_join_no_window(spark):
    """The streaming categorical reducer shares the batch plan: the only
    join is the baseline-under-every-window cross join, and no window
    attaches totals."""
    from jsonschema_validator_spark.operators.drift import category_histogram
    from jsonschema_validator_spark.streaming.drift import categorical_drift_vs_baseline

    df = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
    win = df.groupBy(
        (F.col("l_orderkey") % 5).cast("long").alias("window_start"),
        F.col("l_returnflag").alias("cat"),
    ).agg(F.count(F.lit(1)).alias("n"))
    out = categorical_drift_vs_baseline(win, category_histogram(df, "l_returnflag"))
    assert len(out.collect()) == 5
    final = _final_plan(out)
    assert not re.search(r"\bWindow\b", final), final
    assert len(re.findall(r"\w*Join\b|CartesianProduct", final)) == 1, final


_GRAY = np.full((8, 8, 3), 90, np.uint8)


def _payload_frame(spark, kind: str):
    """One valid payload of ``kind`` as a local relation (no Python scan)."""
    from jsonschema_validator_spark.session import local_frame
    from jsonschema_validator_spark.sources import synth
    from jsonschema_validator_spark.sources.codecs import encode_png

    if kind == "video":
        return local_frame(
            spark, synth.make_video_corpus(1, 2), "video_id string, bytes binary"
        )
    if kind == "audio":
        return local_frame(spark, synth.make_audio_corpus(1), "audio_id string, bytes binary")
    return local_frame(spark, [("a", encode_png(_GRAY), 0)], "image_id string, bytes binary, idx int")


_PAYLOAD_OPERATORS = {
    "decode_profile": ("image", lambda m, df: m.decode_profile(df)),
    "psnr_vs_reference": (
        "image",
        lambda m, df: m.psnr_vs_reference(df, lambda i: _GRAY, index_col="idx"),
    ),
    "image_features": ("image", lambda m, df: m.image_features(df)),
    "resize_images": ("image", lambda m, df: m.resize_images(df, 4, 4)),
    "sample_video_frames": ("video", lambda m, df: m.sample_video_frames(df)),
    "audio_features": ("audio", lambda m, df: m.audio_features(df)),
    "image_quality_gate": ("image", lambda m, df: m.image_quality_gate(df)),
}


@pytest.mark.parametrize("name", sorted(_PAYLOAD_OPERATORS))
def test_payload_operator_single_arrow_node(spark, name):
    """Every payload operator runs Python in exactly one node, a
    ``MapInArrow`` (the shared payload map), and the gate adds only Column
    algebra on top of its metrics."""
    from jsonschema_validator_spark.operators import multimodal

    kind, build = _PAYLOAD_OPERATORS[name]
    out = build(multimodal, _payload_frame(spark, kind))
    out.collect()
    final = _final_plan(out)
    assert _PYTHON_NODE.findall(final) == ["MapInArrow"], final


_UNIQUENESS = {
    "uniqueness_verdict": (
        ["l_orderkey", "l_linenumber"],
        lambda u, df: u.uniqueness_verdict(df, ["l_orderkey", "l_linenumber"]),
    ),
    "multi_key_uniqueness": (
        ["key", "value"],
        lambda u, df: u.multi_key_uniqueness(df, ["l_orderkey", "l_partkey"]),
    ),
    "duplicate_keys": (["l_orderkey"], lambda u, df: u.duplicate_keys(df, "l_orderkey")),
}


@pytest.mark.parametrize("name", sorted(_UNIQUENESS))
def test_uniqueness_count_partial_agg_under_key_exchange(spark, name):
    """Each uniqueness count is one plain ``groupBy(keys)`` count: the only
    exchange on the group columns sits directly on the map-side
    ``partial_count``, so a hot key crosses the shuffle as one row per map
    task and no salt column or second count shuffle is needed."""
    from jsonschema_validator_spark.operators import uniqueness

    group, build = _UNIQUENESS[name]
    out = build(uniqueness, spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet"))
    out.collect()
    final = _final_plan(out)
    assert "_salt" not in final
    lines = final.splitlines()
    hashed = [i for i, l in enumerate(lines) if "Exchange hashpartitioning(" in l]
    on_group = [
        i for i in hashed
        if re.findall(r"(\w+)#\d+", lines[i].split("hashpartitioning(", 1)[1]) == group
    ]
    assert len(on_group) == 1, lines
    child = lines[on_group[0] + 1]
    assert "HashAggregate(" in child and "partial_count(" in child, lines
    if name == "uniqueness_verdict":
        assert len(hashed) == 1, lines
