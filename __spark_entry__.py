"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` — flagship validation query on sf0.001.
``queries()`` — one entry per implemented operator (SURVEY.md §2 + north-rule
table-level checks + training-pipeline operators).
``oracle_sql()`` — DuckDB-equivalent ANSI SQL for every SQL-expressible query
(tables region nation customer supplier part orders lineitem events documents
embeddings are pre-registered views).
"""

from __future__ import annotations

import os
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from jsonschema_validator_spark.streaming import state_partitions


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def _unpivot_long(df, family, id_col, rounded=(), exact=(), id_alias=None):
    """THE long-shape unpivot shared by the profile queries — one row per
    stat as ``(family, <id>, stat, value)``. ``rounded`` stats take the
    1e-6 profile convention (F.round HALF_UP, matched by DuckDB round);
    ``exact`` stats pass through as unrounded doubles (counts, dof, and
    the bit-parity quantile family). ``id_alias`` renames the id column
    (e.g. window_start → ord so the driver's alphabetical column sort
    compares the unique (family, id, stat) prefix before any value).

    Shape: ONE explode-of-struct-array projection, NOT a union of
    per-stat selects — Spark does not CSE across union branches, so the
    union form re-derived the ENTIRE upstream aggregate once per stat
    (the curation profile's formatted plan showed 16 parquet scans for
    8 stats; the drift-by-group histogram pipeline ran 6×). The explode
    touches each upstream row once."""
    out_id = id_alias or id_col
    structs = [
        F.struct(
            F.lit(s).alias("stat"),
            F.round(F.col(s).cast("double"), 6).alias("value"),
        )
        for s in rounded
    ] + [
        F.struct(
            F.lit(s).alias("stat"),
            F.col(s).cast("double").alias("value"),
        )
        for s in exact
    ]
    return df.select(
        F.lit(family).alias("family"),
        F.col(id_col).alias(out_id),
        F.explode(F.array(*structs)).alias("_sv"),
    ).select("family", out_id, "_sv.stat", "_sv.value")


# ---------------------------------------------------------------------------
# validation specs used by the flagship queries
# ---------------------------------------------------------------------------

LINEITEM_SPEC = {
    "required": ["l_orderkey", "l_partkey", "l_quantity"],
    "properties": {
        "l_quantity": {"type": "number", "minimum": 1, "maximum": 50},
        "l_discount": {"minimum": 0, "maximum": 0.1},
        "l_extendedprice": {"exclusiveMinimum": 0},
        "l_tax": {"multipleOf": 0.01},
        "l_returnflag": {"enum": ["A", "N", "R"]},
        "l_linestatus": {"enum": ["O", "F"]},
        "l_linenumber": {"type": "integer", "minimum": 1, "maximum": 7},
    },
}

ORDERS_SPEC = {
    "properties": {
        "o_totalprice": {"maximum": 300000},
        "o_orderpriority": {"enum": ["1-URGENT", "2-HIGH", "3-MEDIUM"]},
    },
}

EVENTS_SPEC = {
    "required": ["event_id", "ts", "user_id"],
    "properties": {
        "event_type": {"enum": ["click", "view", "purchase"]},
        "value": {"type": "number", "minimum": 0, "maximum": 400},
    },
}


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: validate lineitem at sf0.001 → per-rule verdicts."""
    return q_validate_lineitem_verdicts(spark, "/root/testdata/sf0.001")


# ---------------------------------------------------------------------------
# queries
# ---------------------------------------------------------------------------


def q_validate_lineitem_verdicts(spark: SparkSession, sf_dir: str) -> DataFrame:
    from jsonschema_validator_spark import Validator

    df = _t(spark, sf_dir, "lineitem")
    return Validator(LINEITEM_SPEC).validate(df).verdicts()


def q_validate_orders_violations(spark: SparkSession, sf_dir: str) -> DataFrame:
    from jsonschema_validator_spark import Validator

    df = _t(spark, sf_dir, "orders")
    return Validator(ORDERS_SPEC).validate(df).violations(include=["o_orderkey"])


def q_validate_events_verdicts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Events verdicts over TWO specs in one slot (round-5 merge of the
    former events_keyword_gaps_verdicts to stay at the 50-query cap):

    - the base EVENTS_SPEC (required/enum/type/minimum/maximum);
    - the keyword-gaps spec: exclusiveMaximum, map-typed nested
      properties + maximum, additionalProperties (bool form over a
      MapType column), and BOTH dependencies forms — schema form on
      props (validate the object when the prop is present) and array
      form on event_type (listed props must exist).

    The rule_id sets are disjoint (keyword:path keys), so the union
    needs no disambiguating tag and the oracle is the two former
    oracles' UNION ALL."""
    from jsonschema_validator_spark import Validator

    df = _t(spark, sf_dir, "events")
    base = Validator(EVENTS_SPEC).validate(df).verdicts()
    gaps_spec = {
        "properties": {
            "value": {"exclusiveMaximum": 400},
            "props_map": {
                "properties": {"k": {"maximum": 90}},
                "additionalProperties": False,
            },
        },
        "dependencies": {
            "props": {"required": ["user_id"]},
            "event_type": ["user_id", "value"],
        },
    }
    gaps = (
        Validator(gaps_spec)
        .validate(
            df.withColumn(
                "props_map", F.from_json(F.col("props"), "map<string,double>")
            )
        )
        .verdicts()
    )
    return base.unionByName(gaps)


def q_column_stats_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-column profile (null/min/max/distinct) joined with the robust
    outlier statistics (quartiles, MAD, Tukey + robust-z outlier counts —
    stats.robust_outlier_stats, round 4). Both long-form frames are one
    row per column, so the join is a 3x3 assembly; parity needs no
    rounding because Spark's sort-based percentile and DuckDB's
    quantile_cont are bit-identical (verified incl. interpolated
    midpoints) and both engines evaluate the fence arithmetic in the same
    operation order."""
    from jsonschema_validator_spark.operators.stats import (
        column_profile,
        robust_outlier_stats,
    )

    df = _t(spark, sf_dir, "lineitem")
    cols = ["l_quantity", "l_extendedprice", "l_discount"]
    prof = column_profile(df, cols, approx_distinct=False)
    rob = robust_outlier_stats(df, cols, exact=True)
    return prof.join(rob, "column")


def q_quantiles_extendedprice(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact quantile values (value-parity vs DuckDB quantile_cont) AND
    the percentile_approx scale-path gate in ONE slot: each approx
    quantile must land within 0.5% relative error of the exact percentile
    (accuracy=10000 ⇒ rank error ≤1e-4; deterministic for fixed input, so
    the booleans are oracle-stable). Merged from the former
    quantiles_approx_accuracy query to free a driver-gate slot (the
    driver verifies at most 50 queries)."""
    from jsonschema_validator_spark.operators.stats import numeric_quantiles

    df = _t(spark, sf_dir, "lineitem")
    probs = (0.25, 0.5, 0.75)
    exact = numeric_quantiles(df, ["l_extendedprice"], probs, exact=True)
    approx = numeric_quantiles(df, ["l_extendedprice"], probs, exact=False)
    j = exact.withColumnRenamed("value", "_e").join(
        approx.withColumnRenamed("value", "_a"), ["column", "p"]
    )
    return j.select(
        "column",
        "p",
        F.round("_e", 6).alias("value"),
        (F.abs(F.col("_a") - F.col("_e")) / F.abs(F.col("_e")) <= 0.005).alias(
            "approx_within_tol"
        ),
    )


def q_uniqueness_checks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Both uniqueness surfaces in one result (merged to keep the registry
    at the driver's 50-query cap): the duplicate-key rows AND the
    table-level verdict, both one-shuffle key counts, unioned to a common
    schema (kind discriminates)."""
    from jsonschema_validator_spark.operators.uniqueness import (
        duplicate_keys,
        uniqueness_verdict,
    )

    df = _t(spark, sf_dir, "lineitem")
    # -1 sentinels (not NULLs) for the fields the other kind owns: the
    # driver's row sort compares cells positionally and NULL-vs-value on a
    # tied prefix is undefined across engines.
    dups = duplicate_keys(df, "l_orderkey").select(
        F.lit("dup_key").alias("kind"),
        F.lit("unique:l_orderkey").alias("rule_id"),
        F.col("l_orderkey").cast("long").alias("l_orderkey"),
        F.col("n_dup").cast("long").alias("n_dup"),
        F.lit(-1).cast("long").alias("n_checked"),
        F.lit(-1).cast("long").alias("n_failed"),
        F.lit(False).alias("pass"),
        F.lit(-1).cast("long").alias("dup_keys"),
    )
    verdict = uniqueness_verdict(df, "l_orderkey").select(
        F.lit("verdict").alias("kind"),
        F.col("rule_id"),
        F.lit(-1).cast("long").alias("l_orderkey"),
        F.lit(-1).cast("long").alias("n_dup"),
        F.col("n_checked").cast("long").alias("n_checked"),
        F.col("n_failed").cast("long").alias("n_failed"),
        F.col("pass"),
        F.col("dup_keys").cast("long").alias("dup_keys"),
    )
    return dups.unionByName(verdict)


def _stage_driver_parquet(rows, schema, path: str, seq: int) -> None:
    """Stage driver-scale rows as ONE parquet file WITHOUT a Spark job.

    Streaming-replay scaffolding: the micro-batch fixtures here are a few
    hundred to a few thousand rows already collected on the driver, and a
    ``coalesce(1).write.parquet`` job per batch costs multiple seconds of
    pure scheduler/committer overhead (measured 5-7 s/file on a loaded
    host for 83-row files). The Arrow schema comes from pyspark's own
    Spark→Arrow mapping (``to_arrow_schema``: int -> int32, bigint ->
    int64, nullability preserved) — the exact parity with Spark's parquet
    writer a hand-rolled map could only approximate — so the explicit
    readStream schema matches byte-for-byte. The mtime is pinned ``seq``
    x 10 s apart in the recent past so FileStreamSource's
    timestamp-ordered listing replays batches in a deterministic order
    regardless of fs timestamp granularity."""
    import time as _time

    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql.pandas.types import to_arrow_schema

    names = [f.name for f in schema.fields]
    table = pa.Table.from_pydict(
        {n: [r[n] for r in rows] for n in names}, schema=to_arrow_schema(schema)
    )
    pq.write_table(table, path)
    t0 = _time.time() - 3600 + seq * 10
    os.utime(path, (t0, t0))


def _metrics_monthly_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic per-snapshot metrics series from lineitem: each
    shipdate month is one 'snapshot', each returnflag one monitored rule,
    fail_rate = share of rows violating l_quantity <= 45 that month
    (~0.06-0.17 across 83 months — real variation for the chart)."""
    li = _t(spark, sf_dir, "lineitem")
    return li.groupBy(
        F.col("l_returnflag").alias("rule_id"),
        (F.year("l_shipdate") * 12 + F.month("l_shipdate")).alias("snapshot_ord"),
    ).agg(
        (
            F.sum(F.when(F.col("l_quantity") > 45, 1).otherwise(0)).cast("double")
            / F.count(F.lit(1))
        ).alias("fail_rate")
    )


def q_metrics_monitoring(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Metrics monitoring over a per-snapshot history (operators/monitor):
    the expanding robust control chart flags months whose fail-rate left
    the series' own historical band, and verdict_flips(keep_all=True)
    annotates pass<->fail transitions vs the previous snapshot — all on
    ONE lineage, so the plan is one pruned scan -> partial+final agg ->
    one hashpartitioning(rule_id) exchange per detector over the
    249-row history (CUSUM and chart grouped-map calls, then the flips
    lag Window; each grouped-map call emits fresh attributes, so the
    next keyed step re-shuffles — a unioned two-branch draft re-scanned
    lineitem per branch). The chart's float internals (center/scale/z) are
    numpy-parity-locked in test_monitor.py; the driver row exposes the
    hash-stable columns (fail_rate is a count ratio — bit-exact across
    engines; is_anomaly's nearest |z| is 0.045 from the 2.5 threshold
    on this data, far beyond the ulp-level cross-engine quantile
    drift). A Page CUSUM (warmup=12, slack=0.5, h=4.0) rides the SAME
    lineage and contributes `cusum_alarm`: the sustained-shift detector the
    per-point chart cannot express. Only the boolean is exposed: the
    s_pos/s_neg floats drift ≤3e-14 across engines (running sums), but
    the nearest |s − h| on this data is 0.2145 — verified safe. Input
    is the metrics history — 3 series x 83 months — so cost is
    independent of the monitored table's size."""
    from jsonschema_validator_spark.operators.monitor import (
        control_chart,
        cusum_chart,
        verdict_flips,
    )

    hist = _metrics_monthly_history(spark, sf_dir).withColumn(
        "pass", F.col("fail_rate") <= F.lit(0.10)
    )
    hist = (
        cusum_chart(
            hist,
            series_cols=["rule_id"],
            order_col="snapshot_ord",
            value_col="fail_rate",
            warmup=12,
            slack=0.5,
            h=4.0,
        )
        .withColumnRenamed("is_anomaly", "cusum_alarm")
        .drop("n_history", "mu0", "sigma0", "s_pos", "s_neg")
    )
    chart = control_chart(
        hist,
        series_cols=["rule_id"],
        order_col="snapshot_ord",
        value_col="fail_rate",
        min_history=6,
        z_threshold=2.5,
        method="robust",
    )
    return verdict_flips(
        chart,
        series_cols=["rule_id"],
        order_col="snapshot_ord",
        pass_col="pass",
        keep_all=True,
    ).select(
        F.col("rule_id"),
        F.col("snapshot_ord").cast("int").alias("snapshot_ord"),
        F.col("fail_rate"),
        F.col("n_history").cast("long").alias("n_history"),
        F.col("is_anomaly"),
        F.col("cusum_alarm"),
        F.col("pass"),
        F.col("flipped"),
        F.col("direction"),
    )


def q_ref_orphans_nationkey(spark: SparkSession, sf_dir: str) -> DataFrame:
    from jsonschema_validator_spark.operators.referential import orphan_rows

    customer = _t(spark, sf_dir, "customer")
    region = _t(spark, sf_dir, "region")
    return orphan_rows(
        customer, region, [("c_nationkey", "r_regionkey")], broadcast=True
    ).select("c_custkey", "c_nationkey")


def q_ref_verdict_lineitem_part(spark: SparkSession, sf_dir: str) -> DataFrame:
    from jsonschema_validator_spark.operators.referential import referential_verdict

    lineitem = _t(spark, sf_dir, "lineitem")
    part = _t(spark, sf_dir, "part")
    return referential_verdict(
        lineitem, part, [("l_partkey", "p_partkey")], broadcast=False,
        rule_id="ref:l_partkey->p_partkey",
    )


_RETENTION_THRESHOLDS = (0.25, 0.5, 0.75, 1.0)


def q_curation_planning_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus curation PLANNING profile, one long shape ``(family, group,
    stat, value)`` — round-5 consolidation of the former
    corpus_token_budget slot, adding the formerly tests-only
    quality_retention_curve under the driver gate (VERDICT r4 stretch):

    - ``token_budget`` (text.corpus_token_budget): token budget per
      lang×source with corpus share and cumulative coverage ranked by
      size; group = ``lang/source``. One scan, one exchange; the
      share/cumulative windows run over the tiny grouped frame (97 groups
      at sf0.01), never the corpus.
    - ``retention`` (text.quality_retention_curve): docs/tokens surviving
      ``quality_score >= t`` for each planning threshold; group =
      ``t=<threshold>``. ONE scan — every threshold is a conditional
      aggregate over the same pass.

    Oracle: the identical rollups in DuckDB SQL (regexp_split token
    count, window shares, the text-profile quality-score expressions).
    Group labels are exact string literals on BOTH sides (a when-chain
    here, VALUES literals in the SQL) — no cross-engine float→string
    formatting anywhere. quality_score is a sum of 0.25 indicators over
    ROUNDED ratios, so the ``>= t`` comparisons are exact. (family,
    group, stat) is unique and every value is non-null, so the driver's
    positional row-sort never compares NULLs."""
    from jsonschema_validator_spark.operators.text import (
        corpus_token_budget,
        quality_retention_curve,
    )

    df = _t(spark, sf_dir, "documents")
    tb = corpus_token_budget(df, ("lang", "source"))
    # NULL group keys take the heavy_hitters 'NULL' sentinel on BOTH
    # sides — concat_ws SKIPS nulls while DuckDB `||` PROPAGATES them, so
    # neither raw form is cross-engine safe on a corpus with null
    # lang/source (and a NULL group would reach the driver's positional
    # row-sort)
    tb_group = F.concat_ws(
        "/",
        F.coalesce(F.col("lang"), F.lit("NULL")),
        F.coalesce(F.col("source"), F.lit("NULL")),
    )
    tb_rows = _unpivot_long(
        tb.withColumn("group", tb_group),
        "token_budget",
        "group",
        # token_share/cum_share arrive pre-rounded from the operator
        exact=("n_docs", "n_tokens", "token_share", "cum_share"),
    )

    rc = quality_retention_curve(df, _RETENTION_THRESHOLDS)
    label = F.lit(None).cast("string")
    for t in _RETENTION_THRESHOLDS:
        label = F.when(F.col("threshold") == t, F.lit(f"t={t}")).otherwise(label)
    rc_rows = _unpivot_long(
        rc.withColumn("group", label),
        "retention",
        "group",
        # the retention ratios arrive pre-rounded from the operator
        exact=("n_docs", "n_tokens", "doc_retention", "token_retention"),
    )
    return tb_rows.unionByName(rc_rows)


def q_tdigest_quantiles_accuracy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The MERGEABLE quantile path under the driver gate (the north star
    names t-digest explicitly): per-(l_returnflag, column) digests built
    batch-wise in mapInPandas → algebraic merge (the same resume shape as
    HLL sketch→union) → quantile estimates within 0.5% of the exact
    percentile. Unlike percentile_approx, the persisted digest rows let a
    resumed run fold yesterday's summary with today's increment without a
    rescan (operators/tdigest.py). Tolerance booleans are stable across
    partitionings (measured ≤0.022% on this column — 20x margin), so the
    oracle is a VALUES table like hll_distinct_accuracy."""
    from jsonschema_validator_spark.operators.stats import numeric_quantiles
    from jsonschema_validator_spark.operators.tdigest import (
        merge_tdigests,
        tdigest_quantiles,
        tdigest_sketches,
    )

    df = _t(spark, sf_dir, "lineitem")
    probs = (0.25, 0.5, 0.75)
    sk = tdigest_sketches(df, ["l_extendedprice"], partition_col="l_returnflag")
    est = tdigest_quantiles(merge_tdigests(sk), probs)
    exact = numeric_quantiles(df, ["l_extendedprice"], probs, exact=True)
    j = est.withColumnRenamed("value", "_a").join(
        exact.withColumnRenamed("value", "_e"), ["column", "p"]
    )
    return j.select(
        "column",
        "p",
        (F.abs(F.col("_a") - F.col("_e")) / F.abs(F.col("_e")) <= 0.005).alias(
            "within_tol"
        ),
    )


def q_sketch_accuracy_gates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Both mergeable-sketch scale paths under ONE driver slot (late
    round-4 merge freeing a slot under the 50-query cap): the HLL
    approx/merged distinct gates and the t-digest quantile gates,
    unpivoted to a common ``(sketch, target, within_tol)`` schema. The
    HLL frame is unpivoted with one explode (NOT two union branches over
    the same frame — that would recompute the exact count_distinct
    reference side twice)."""
    hll = q_hll_distinct_accuracy(spark, sf_dir)
    td = q_tdigest_quantiles_accuracy(spark, sf_dir)
    h = hll.select(
        F.explode(
            F.array(
                F.struct(
                    F.lit("hll_approx").alias("sketch"),
                    F.col("column").alias("target"),
                    F.col("approx_within_tol").alias("within_tol"),
                ),
                F.struct(
                    F.lit("hll_merged").alias("sketch"),
                    F.col("column").alias("target"),
                    F.col("merged_sketch_within_tol").alias("within_tol"),
                ),
            )
        ).alias("s")
    ).select("s.*")
    t = td.select(
        F.concat(
            F.lit("tdigest_p"), F.round(F.col("p") * 100).cast("int").cast("string")
        ).alias("sketch"),
        F.col("column").alias("target"),
        F.col("within_tol"),
    )
    return h.unionByName(t)


def q_suggested_spec_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spec bootstrap under the driver gate (suggest.suggest_spec): profile
    lineitem in one aggregate pass (+ one pruned exact-enum pass), emit the
    suggested keywords as rows, AND round-trip the suggested spec through
    the real compile+validate path — ``roundtrip_valid`` is the engine's
    own verdict that the spec it suggested passes on the corpus it
    profiled. The oracle recomputes every keyword independently in DuckDB
    (min/max/strlen/distinct/null counts)."""
    from jsonschema_validator_spark import Spec, Validator
    from jsonschema_validator_spark.suggest import spec_keyword_rows, suggest_spec

    df = _t(spark, sf_dir, "lineitem")
    spec = suggest_spec(df)
    ok = Validator(Spec(spec)).validate(df).summary()["valid"]
    rows = [(c, k, vn, vs, bool(ok)) for (c, k, vn, vs) in spec_keyword_rows(spec)]
    return spark.createDataFrame(
        rows,
        "column string, keyword string, value_num double, value_str string, "
        "roundtrip_valid boolean",
    )


def q_hll_distinct_accuracy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The HLL scale path under the driver gate: both approx_count_distinct
    AND the mergeable per-partition sketch→union→estimate pipeline
    (checkpoint/resume's state algebra) must land within 10% of the exact
    distinct count (rsd ≤2%, so 10% is ~5σ). HLL sketches are hash-based
    and deterministic for fixed input, so the boolean verdicts are stable
    and the oracle is a plain VALUES table."""
    from jsonschema_validator_spark.operators.stats import (
        hll_sketches,
        merge_hll_sketches,
    )

    df = _t(spark, sf_dir, "lineitem")
    # one high-cardinality + one low-cardinality column covers both HLL
    # regimes; the exact-distinct reference side is the expensive part
    # (one expand per column), so keep the list tight
    cols = ["l_orderkey", "l_suppkey"]
    merged = merge_hll_sketches(
        hll_sketches(df, cols, partition_col="l_returnflag")
    )
    aggs = [F.approx_count_distinct(c, 0.02).alias(f"_a_{c}") for c in cols]
    aggs += [F.count_distinct(F.col(c)).alias(f"_e_{c}") for c in cols]
    flat = df.agg(*aggs)
    structs = [
        F.struct(
            F.lit(c).alias("column"),
            F.col(f"_a_{c}").alias("_approx"),
            F.col(f"_e_{c}").alias("_exact"),
        )
        for c in cols
    ]
    wide = flat.select(F.explode(F.array(*structs)).alias("s")).select("s.*")
    tol = 0.10
    return (
        wide.join(merged, "column")
        .select(
            "column",
            (F.abs(F.col("_approx") - F.col("_exact")) / F.col("_exact") <= tol).alias(
                "approx_within_tol"
            ),
            (
                F.abs(F.col("n_distinct") - F.col("_exact")) / F.col("_exact") <= tol
            ).alias("merged_sketch_within_tol"),
        )
    )


def _halves(spark, sf_dir):
    df = _t(spark, sf_dir, "lineitem")
    return df.filter(F.col("l_orderkey") % 2 == 0), df.filter(F.col("l_orderkey") % 2 == 1)


def q_drift_stats_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KS + PSI + Jensen–Shannon + 1-Wasserstein (EMD) drift stats, ONE
    scan per side per family (operators/drift):

    - numeric: even/odd l_orderkey halves of lineitem over ``l_quantity``
      (drift_metrics — every row bucketizes once, one tagged groupBy
      over both halves builds all histograms, the four statistics reduce
      each column's ≤(n_buckets+2)-entry histogram array);
    - embedding (array<float>): ``label < 5`` vs ``label >= 5`` halves of
      the embeddings table via embedding_drift_metrics — Cramér–Wold
      random-projection drift (4 cosine projections + the L2 norm,
      rescaled into the shared bucket grid), then the SAME shared
      drift_metrics reduction.

    One query, one output schema (column, ks, psi, js, emd): the union of
    both families. Round-4 consolidation: the driver gates at most 50
    queries, so the drift family rides one slot (formerly
    drift_stats_quantity; embedding rows added late round 4)."""
    from jsonschema_validator_spark.operators.drift import (
        drift_metrics,
        embedding_drift_metrics,
    )

    a, b = _halves(spark, sf_dir)
    num = drift_metrics(a, b, ["l_quantity"], 0.5, 50.5, 50)
    emb = _t(spark, sf_dir, "embeddings")
    vec = embedding_drift_metrics(
        emb.filter(F.col("label") < 5),
        emb.filter(F.col("label") >= 5),
        dim=64,
        n_projections=4,
        seed=7,
        n_buckets=64,
        norm_hi=2.0,
    )
    return num.unionByName(vec).select(
        "column",
        F.round("ks", 6).alias("ks"),
        F.round("psi", 6).alias("psi"),
        F.round("js", 6).alias("js"),
        F.round("emd", 6).alias("emd"),
    )


def q_per_group_localization_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group LOCALIZATION profile — round-5 driver gate for the four
    formerly tests-only by-group operators, unpivoted to one long shape
    ``(family, group, stat, value)`` so one slot gates all four (the
    driver verifies at most 50 queries):

    - ``drift:l_quantity`` — drift_by_group (KS/PSI/JS/EMD + side counts
      per l_returnflag group, even/odd l_orderkey halves; one scan per
      side, groupBy(group, bucket) with map-side partial agg);
    - ``categorical_drift:l_linestatus`` — categorical_drift_by_group
      (chi²/Cramér's V/TVD/dof/n_categories per group, shared reducer);
    - ``heavy_hitters:l_linenumber`` — heavy_hitters_by_group top-3 per
      group (stats ``n:<value>`` / ``share:<value>``);
    - ``robust_outliers:l_extendedprice`` — robust_outlier_stats_by_group
      (q1/median/q3/iqr/mad + value/Tukey/robust-z counts; exact=True
      opt-in at this oracle-gated site — quantile interpolation is
      bit-identical to DuckDB quantile_cont, so values are unrounded);
    - ``embedding_centroid:labels`` — embedding_centroid_shift between
      the ``label < 5`` / ``label >= 5`` embedding populations (the same
      halves the gated embedding drift uses): L2 distance + cosine
      between the per-dimension mean vectors, group ``all`` (round-5
      gate for the formerly tests-only summary op; the posexplode →
      groupBy(pos) shuffle carries ≤ 2·dim rows at any table size).

    Float convention: drift/categorical statistics and shares round to
    1e-6 (the profile-query convention); counts, dof and the robust
    quantile family are exact/bit-parity and stay unrounded. (family,
    group, stat) is unique, so NULL values can never reach the driver's
    positional row-sort comparison."""
    from jsonschema_validator_spark.operators.drift import (
        categorical_drift_by_group,
        drift_by_group,
        embedding_centroid_shift,
    )
    from jsonschema_validator_spark.operators.stats import (
        heavy_hitters_by_group,
        robust_outlier_stats_by_group,
    )

    li = _t(spark, sf_dir, "lineitem")
    a, b = _halves(spark, sf_dir)
    emb = _t(spark, sf_dir, "embeddings")

    def unpivot(df, family, rounded, exact):
        return _unpivot_long(df, family, "group", rounded=rounded, exact=exact)

    num = unpivot(
        drift_by_group(a, b, "l_returnflag", "l_quantity", 0.5, 50.5, 50),
        "drift:l_quantity",
        rounded=["ks", "psi", "js", "emd"],
        exact=["n_a", "n_b"],
    )
    cat = unpivot(
        categorical_drift_by_group(a, b, "l_returnflag", "l_linestatus"),
        "categorical_drift:l_linestatus",
        rounded=["chi2", "cramers_v", "tvd"],
        exact=["n_categories", "dof", "n_a", "n_b"],
    )
    hh = heavy_hitters_by_group(li, "l_returnflag", "l_linenumber", k=3)
    # one explode, not a two-branch union — the union form re-derived the
    # whole heavy-hitters aggregation per branch (no CSE across unions)
    hh_rows = hh.select(
        F.lit("heavy_hitters:l_linenumber").alias("family"),
        F.col("group"),
        F.explode(
            F.array(
                F.struct(
                    F.concat(F.lit("n:"), F.col("value")).alias("stat"),
                    F.col("n").cast("double").alias("value"),
                ),
                F.struct(
                    F.concat(F.lit("share:"), F.col("value")).alias("stat"),
                    F.round(F.col("share").cast("double"), 6).alias("value"),
                ),
            )
        ).alias("_sv"),
    ).select("family", "group", "_sv.stat", "_sv.value")
    rob = unpivot(
        robust_outlier_stats_by_group(
            li, "l_returnflag", ["l_extendedprice"], exact=True
        ),
        "robust_outliers:l_extendedprice",
        rounded=[],
        exact=[
            "q1",
            "median",
            "q3",
            "iqr",
            "mad",
            "n_values",
            "n_tukey_outliers",
            "n_robust_outliers",
        ],
    )
    cent = unpivot(
        embedding_centroid_shift(
            emb.filter(F.col("label") < 5),
            emb.filter(F.col("label") >= 5),
            column="embedding",
            dim=64,
        ).withColumn("group", F.lit("all")),
        "embedding_centroid:labels",
        rounded=["centroid_l2", "centroid_cos"],
        exact=["n_a", "n_b"],
    )
    return (
        num.unionByName(cat)
        .unionByName(hh_rows)
        .unionByName(rob)
        .unionByName(cent)
    )


def q_dedup_exact_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    from jsonschema_validator_spark.operators.dedup import exact_duplicates

    df = _t(spark, sf_dir, "documents")
    groups = exact_duplicates(df)
    return groups.select("fingerprint", F.explode("doc_ids").alias("doc_id"))


def q_documents_text_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document text-analysis profile — token counts (whitespace +
    BPE-ish), the full quality-feature set + composite score, predicted
    language, and the normalized-text fingerprint — in ONE projection over
    ONE scan (quality_struct / langid_struct inline, pure whole-stage-
    codegen Column algebra, no joins). Replaces the four separate per-doc
    queries (token_counts/text_quality/langid/fingerprint_documents) from
    rounds 2-3: same operators, same oracle expressions, one scan instead
    of four — and it frees driver-gate slots (the driver verifies at most
    50 queries). Round 4 adds the Gopher-style repetition signals
    (top_{1,2,3}gram_frac — text.with_repetition_columns, a projection of
    repetition_struct whose token and gram arrays are let-bound, so each
    row is tokenized once: higher-order functions are CodegenFallback and
    get no CSE, PLANS.md §24). Still one scan, zero shuffles."""
    from jsonschema_validator_spark.operators.dedup import _fingerprint
    from jsonschema_validator_spark.operators.text import (
        bpe_ish_token_count,
        langid_struct,
        quality_struct,
        whitespace_token_count,
        with_repetition_columns,
    )

    df = _t(spark, sf_dir, "documents")
    t = F.col("text")
    base = df.select(
        "doc_id",
        "text",
        whitespace_token_count(t).alias("n_ws_tokens"),
        bpe_ish_token_count(t).alias("n_bpe_tokens"),
        quality_struct(t).alias("_q"),
        langid_struct(t)["predicted_lang"].alias("predicted_lang"),
        _fingerprint(t).alias("fingerprint"),
    )
    return with_repetition_columns(base, "text").select(
        "doc_id", "n_ws_tokens", "n_bpe_tokens", "_q.*",
        "top_1gram_frac", "top_2gram_frac", "top_3gram_frac",
        "predicted_lang", "fingerprint",
    )


def q_pii_scrub_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scan + redaction over documents with deterministically planted
    PII (email / ipv4 / phone / ssn spliced in by doc_id residue classes so
    the gate has real positives at every SF). Pure JVM regex Column algebra
    — a zero-shuffle codegen map stage at any scale. The oracle plants the
    identical PII with the identical RE2-compatible regexes in DuckDB and
    compares counts plus the md5 of the fully-redacted text."""
    from jsonschema_validator_spark.operators.text import pii_scan

    df = _t(spark, sf_dir, "documents").filter(F.col("text").isNotNull())
    aug = F.concat(
        F.col("text"),
        F.when(
            F.col("doc_id") % 7 == 0,
            F.concat(
                F.lit(" contact user"),
                F.col("doc_id").cast("string"),
                F.lit("@example.com"),
            ),
        ).otherwise(F.lit("")),
        F.when(
            F.col("doc_id") % 11 == 0,
            F.concat(
                F.lit(" from 10.0."),
                (F.col("doc_id") % 256).cast("string"),
                F.lit(".7"),
            ),
        ).otherwise(F.lit("")),
        F.when(F.col("doc_id") % 13 == 0, F.lit(" call 555-123-4567")).otherwise(F.lit("")),
        F.when(F.col("doc_id") % 17 == 0, F.lit(" ssn 987-65-4321")).otherwise(F.lit("")),
    )
    scanned = pii_scan(df.select("doc_id", aug.alias("text")))
    return scanned.select(
        "doc_id",
        "n_email",
        "n_ipv4",
        "n_phone",
        "n_ssn",
        F.md5(F.col("redacted_text")).alias("redacted_md5"),
    )


def q_stratified_split_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic stratified downsample (en→50%, zh→100% via the
    all-keep sentinel, default 75%) followed by a disjoint 80/10/10
    train/val/test hash-split. Membership is a pure function of
    (doc_id, salt) — md5-prefix thresholds, no RNG, no shuffle — so the
    DuckDB oracle evaluates the byte-identical expressions and must agree
    row-for-row at any SF, partitioning, or cluster size."""
    from jsonschema_validator_spark.operators.sampling import (
        hash_split,
        stratified_sample,
    )

    df = _t(spark, sf_dir, "documents").select("doc_id", "lang")
    kept = stratified_sample(
        df,
        fractions={"en": 0.5, "zh": 1.0},
        stratum_col="lang",
        key_col="doc_id",
        default_fraction=0.75,
    )
    return hash_split(kept, {"train": 0.8, "val": 0.1, "test": 0.1}, key_col="doc_id")


def q_embedding_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-k similarity search, BOTH paths method-tagged in one result:
    the exact brute-force baseline (cross-score + rank window) and the
    single-probe hyperplane-LSH ANN pipeline (bucket equi-join). Round-5
    consolidation: absorbs the former ann_lsh_topk query — identical
    output shape, one driver slot (the driver verifies at most 50
    queries). Oracles stay split by method: DuckDB computes the brute
    rows live (list_dot_product), the LSH rows come from the golden
    XXH64 + pandas twin (oracle.ann_topk_rows)."""
    from jsonschema_validator_spark.operators.similarity import (
        ann_topk,
        brute_force_topk,
    )

    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10)
    brute = brute_force_topk(emb, queries, k=5).select(
        F.lit("brute").alias("method"), "query_id", "neighbor_id", "cos_sim", "rank"
    )
    lsh = ann_topk(emb, queries, dim=64, k=5, n_planes=8).select(
        F.lit("lsh").alias("method"), "query_id", "neighbor_id", "cos_sim", "rank"
    )
    return brute.unionByName(lsh)


def q_jaccard_neardups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact n-gram Jaccard similarity for all shingle-sharing pairs
    (the verification stage of the dedup pipeline; at scale it consumes
    MinHash-LSH candidates instead of the all-pairs path)."""
    from jsonschema_validator_spark.operators.dedup import ngram_jaccard_pairs

    # all-pairs verification bounded to a deterministic 1000-doc slice —
    # at scale the candidates come from minhash_lsh_candidates instead of
    # the quadratic shingle self-join
    df = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 500)
    out = ngram_jaccard_pairs(df, threshold=0.5, all_pairs=True)
    return out.select("id_a", "id_b", F.round("jaccard", 6).alias("jaccard"))


def q_neardup_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hash-based near-duplicate candidate pairs, BOTH signature families
    method-tagged in one result: MinHash-LSH banding (score =
    n_shared_bands) and SimHash bit-slice buckets (score = hamming
    distance). Round-5 consolidation: absorbs the former
    minhash_candidates + simhash_neardups queries — same (id_a, id_b,
    integer-score) shape, one driver slot. Both sides keep their golden
    pure-Python XXH64 + pandas oracles (oracle.minhash_candidate_rows /
    simhash_neardup_rows)."""
    from jsonschema_validator_spark.operators.dedup import (
        minhash_lsh_candidates,
        simhash_near_duplicates,
    )

    df = _t(spark, sf_dir, "documents")
    mh = minhash_lsh_candidates(df, n_hashes=32, bands=8).select(
        F.lit("minhash_lsh").alias("method"),
        "id_a",
        "id_b",
        F.col("n_shared_bands").cast("long").alias("score"),
    )
    sh = simhash_near_duplicates(df, max_hamming=3).select(
        F.lit("simhash").alias("method"),
        "id_a",
        "id_b",
        F.col("hamming").cast("long").alias("score"),
    )
    return mh.unionByName(sh)


def q_bloom_incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental-crawl dedup through the data-plane Bloom filter
    (operators/bloom — round-5 driver gate for the formerly tests-only
    family): the 'seen' corpus (doc_id % 7 != 0) builds a bitmap frame
    (ONE scan, bit_or word aggregate), each 'new' increment row
    (doc_id % 3 == 0) is probed (broadcast word join keyed by distinct
    key value), and incremental_dedup_verdicts routes ONLY the
    maybe-seen sliver's distinct keys through the exact anti-join — one
    probe pass for both phases. Output per new row:
    ``doc_id, maybe_seen`` (the phase-1 bloom verdict — golden-parity
    vs the pure-Python xxh64 bitmap twin, oracle.bloom_incremental_rows)
    and ``is_new`` (the phase-2 exact verdict — equals a plain left_anti
    by the operator's pinned contract). Rows where maybe_seen and is_new
    are both true are the filter's false positives; false negatives are
    impossible (asserted in the oracle twin). m=4096, k=5 explicit —
    deterministic sizing for the golden oracle."""
    from jsonschema_validator_spark.operators.bloom import (
        bloom_build,
        incremental_dedup_verdicts,
    )

    docs = _t(spark, sf_dir, "documents")
    key = F.col("doc_id").cast("string")
    seen = docs.filter(F.col("doc_id") % 7 != 0).select(key.alias("k"))
    new = docs.filter(F.col("doc_id") % 3 == 0).select("doc_id", key.alias("k"))
    bf = bloom_build(seen, "k", m=4096, k=5)
    # ONE probe pass yields both phases' verdicts (an earlier draft ran
    # bloom_might_contain AND incremental_new_rows — the full probe
    # pipeline twice over the same increment)
    return incremental_dedup_verdicts(new, seen, "k", bloom=bf).select(
        "doc_id", "maybe_seen", "is_new"
    )


def q_jaccard_via_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The PRODUCTION dedup pipeline end-to-end: MinHash-LSH candidate
    generation → exact n-gram Jaccard verification of only those pairs.
    No all-pairs join anywhere — this is the shape that runs at 100 TB."""
    from jsonschema_validator_spark.operators.dedup import (
        minhash_lsh_candidates,
        ngram_jaccard_pairs,
    )

    df = _t(spark, sf_dir, "documents")
    cand = minhash_lsh_candidates(df, n_hashes=32, bands=8)
    return ngram_jaccard_pairs(df, threshold=0.5, candidates=cand)


def q_jaccard_dedup_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Both gates of the n-gram Jaccard dedup family under ONE driver slot
    (the sketch_accuracy_gates merge pattern, freeing a slot under the
    50-query verification cap): the exact all-pairs semantics on a bounded
    slice (path 'all_pairs', live DuckDB oracle) and the PRODUCTION
    MinHash-LSH→verify pipeline on the full corpus (path 'via_lsh', golden
    XXH64 oracle). Each side keeps its original plan — the union is two
    independent branches, no cross-branch shuffle."""
    a = q_jaccard_neardups(spark, sf_dir).withColumn("path", F.lit("all_pairs"))
    b = q_jaccard_via_lsh(spark, sf_dir).withColumn("path", F.lit("via_lsh"))
    return a.unionByName(b)


def q_spec_constraint_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Constraint drift between two corpus snapshots (suggest.
    constraint_drift): profile full lineitem vs a deterministically
    drifted slice (l_quantity ≤ 40 AND l_returnflag ≠ 'R') and emit every
    suggested constraint that tightened/loosened/changed — the spec-
    monitoring loop over the same engine the bootstrap query gates. The
    oracle recomputes both sides' profiles independently in DuckDB and
    classifies each transition with the same bound-direction rules."""
    from jsonschema_validator_spark.suggest import constraint_drift

    df = _t(spark, sf_dir, "lineitem")
    cols = [
        "l_quantity",
        "l_linenumber",
        "l_extendedprice",
        "l_returnflag",
        "l_linestatus",
    ]
    new = df.filter((F.col("l_quantity") <= 40) & (F.col("l_returnflag") != "R"))
    return constraint_drift(df, new, columns=cols)


def q_dedup_cluster_assignment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The step AFTER pair generation that a dedup pipeline actually
    deletes with: LSH→Jaccard verified pairs → connected components →
    (doc_id, cluster_id, is_representative), keep the representative.
    Oracle: a DuckDB RECURSIVE CTE computing min-reachable-id components
    over the golden pair set."""
    from jsonschema_validator_spark.operators.dedup import (
        duplicate_clusters,
        minhash_lsh_candidates,
        ngram_jaccard_pairs,
    )

    df = _t(spark, sf_dir, "documents")
    cand = minhash_lsh_candidates(df, n_hashes=32, bands=8)
    pairs = ngram_jaccard_pairs(df, threshold=0.5, candidates=cand)
    return duplicate_clusters(pairs).orderBy("doc_id")


def q_corpus_curation_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The END-TO-END training-corpus curation pipeline (the document twin
    of images_suite_verdicts): non-null → quality gate → language gate →
    exact dedup → near-dup dedup (LSH→Jaccard pairs → cluster
    representatives) → benchmark decontamination (5-gram shingle overlap
    ≥ 0.5 vs the deterministic eval slice doc_id % 97 == 0), emitting the
    per-stage funnel (stage, stage_idx, n_in, n_removed, n_out). Oracle:
    the identical funnel in DuckDB SQL with the golden pair set as the
    cluster edges and the same list-algebra shingle overlap."""
    from jsonschema_validator_spark.operators.curation import curate_corpus
    from jsonschema_validator_spark.operators.dedup import (
        minhash_lsh_candidates,
        ngram_jaccard_pairs,
    )

    df = _t(spark, sf_dir, "documents")
    cand = minhash_lsh_candidates(df, n_hashes=32, bands=8)
    pairs = ngram_jaccard_pairs(df, threshold=0.5, candidates=cand)
    _, stats = curate_corpus(
        df,
        min_quality=1.0,
        keep_langs=("en",),
        near_dup_pairs=pairs,
        benchmark=df.filter(F.col("doc_id") % 97 == 0),
        contamination_k=5,
        contamination_threshold=0.5,
    )
    return stats.orderBy("stage_idx")


PART_SPEC = {
    "properties": {
        # composite keywords (SURVEY.md §2.1 #25-30) over part
        "p_size": {"allOf": [{"minimum": 1}, {"maximum": 25}]},
        "p_retailprice": {"not": {"maximum": 1000}},
        "p_brand": {"pattern": "^Brand#[0-9]$"},
        "p_type": {"oneOf": [{"pattern": "^S"}, {"enum": ["PROMO", "ECONOMY", "SMALL"]}]},
    },
}

CUSTOMER_COND_SPEC = {
    "properties": {
        # the WORKING conditional (conditional_rules.go:134-245):
        # if acctbal >= 0 then <= 5000 else >= -500
        "c_acctbal": {
            "conditional": {
                "if": {"minimum": 0},
                "then": {"maximum": 5000},
                "else": {"minimum": -500},
            }
        },
        "c_mktsegment": {
            "anyOf": [{"enum": ["BUILDING", "MACHINERY"]}, {"pattern": "MOB"}]
        },
    },
}


def q_validate_part_composite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """allOf / not / oneOf / pattern violations with reference messages."""
    from jsonschema_validator_spark import Validator

    df = _t(spark, sf_dir, "part")
    return Validator(PART_SPEC).validate(df).violations(include=["p_partkey"])


def q_validate_customer_conditional(spark: SparkSession, sf_dir: str) -> DataFrame:
    """conditional {if,then,else} + anyOf verdicts."""
    from jsonschema_validator_spark import Validator

    df = _t(spark, sf_dir, "customer")
    return Validator(CUSTOMER_COND_SPEC).validate(df).verdicts()


def q_documents_token_array_validation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ALL array keyword checks (SURVEY.md §2.1 #13-17) over the
    whitespace-token array of each doc: object-form items / minItems /
    maxItems / uniqueItems plus the tuple form (element i validated against
    schema i, extra elements ignored, missing elements skipped — rule.go
    items dispatch). Round-4 consolidation: absorbed the former
    documents_tuple_items_verdicts query (identical verdict schema, same
    token projection) to stay under the driver's 50-query cap while a new
    slot gates categorical drift + heavy hitters."""
    from jsonschema_validator_spark import Validator

    df = _t(spark, sf_dir, "documents").withColumn(
        "tokens", F.split(F.trim(F.col("text")), "\\s+")
    )
    spec = {
        "properties": {
            "tokens": {
                "minItems": 5,
                "maxItems": 500,
                "uniqueItems": True,
                "items": {"maxLength": 25},
            }
        }
    }
    tuple_spec = {
        "properties": {
            "tokens": {"items": [{"minLength": 3}, {"pattern": "^[a-z]{4,}$"}]}
        }
    }
    return (
        Validator(spec)
        .validate(df)
        .verdicts()
        .unionByName(Validator(tuple_spec).validate(df).verdicts())
    )


def q_lineitem_partitioned_verdicts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PER-PARTITION verdicts (north rule): verdict rows grouped by a
    partition column — one agg pass, partial map-side combine."""
    from jsonschema_validator_spark import Validator

    df = _t(spark, sf_dir, "lineitem")
    spec = {
        "properties": {
            "l_quantity": {"minimum": 1, "maximum": 49},
            "l_discount": {"maximum": 0.08},
        }
    }
    return Validator(spec).validate(df).verdicts(partition_by="l_returnflag")


def q_events_props_map_validation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dynamic-keyed OBJECT validation (MapType path): parse the props JSON
    into map<string,double> and validate with patternProperties /
    minProperties / maxProperties / required (SURVEY.md §2.1 #18-22)."""
    from jsonschema_validator_spark import Validator

    df = _t(spark, sf_dir, "events").withColumn(
        "props_map", F.from_json(F.col("props"), "map<string,double>")
    )
    spec = {
        "properties": {
            "props_map": {
                "minProperties": 1,
                "maxProperties": 3,
                "required": ["k"],
                "patternProperties": {"^k$": {"minimum": 50}},
            }
        }
    }
    return Validator(spec).validate(df).verdicts()


def q_categorical_stats_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Categorical-column profile gating TWO table-stats operators in one
    driver slot (50-query cap), unpivoted to a uniform (column, stat,
    value) schema:

    - categorical drift (operators/drift.categorical_drift_metrics):
      chi-squared homogeneity + Cramér's V + total-variation distance on
      l_returnflag and l_linestatus between the even/odd orderkey halves,
      both columns from one scan per half — the unordered-column
      complement of drift_stats_profile's KS/PSI/JS/EMD.
    - exact heavy hitters (operators/stats.heavy_hitters): top-4 of the 5
      o_orderpriority values with global shares — k below the cardinality
      so the TakeOrderedAndProject cutoff is exercised, and both the n and
      share outputs are hashed.

    Both operators reduce over per-category counts only; the drift side is
    one scan per half, the hitter side one scan of orders. The stack()
    unpivot runs AFTER each aggregate so every statistic is computed once
    (a per-stat select union would re-run the whole drift aggregation per
    branch)."""
    from jsonschema_validator_spark.operators.drift import categorical_drift_metrics
    from jsonschema_validator_spark.operators.stats import heavy_hitters

    a, b = _halves(spark, sf_dir)
    cd = categorical_drift_metrics(a, b, ["l_returnflag", "l_linestatus"])
    drift_rows = cd.selectExpr(
        "column",
        "stack(5, 'chi2', chi2, 'cramers_v', cramers_v, 'tvd', tvd, "
        "'n_categories', cast(n_categories as double), "
        "'dof', cast(dof as double)) as (stat, value)",
    )
    hh = heavy_hitters(_t(spark, sf_dir, "orders"), "o_orderpriority", k=4)
    hitter_rows = hh.select(
        F.lit("o_orderpriority").alias("column"),
        F.explode(
            F.map_from_arrays(
                F.array(
                    F.concat(F.lit("share:"), F.col("value")),
                    F.concat(F.lit("n:"), F.col("value")),
                ),
                F.array(F.col("share"), F.col("n").cast("double")),
            )
        ).alias("stat", "value"),
    )
    return drift_rows.unionByName(hitter_rows)


def q_violations_topk_per_rule(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Violation SAMPLING: cap emitted rows at top-5 per rule via a window
    (SURVEY.md §2.5 'Windows/sorts/top-k')."""
    from pyspark.sql import Window
    from jsonschema_validator_spark import Validator

    df = _t(spark, sf_dir, "orders")
    viol = Validator(ORDERS_SPEC).validate(df).violations(include=["o_orderkey"])
    w = Window.partitionBy("tag").orderBy("o_orderkey")
    return (
        viol.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 5)
        .select("tag", "o_orderkey", "path", F.col("rk").cast("int").alias("rk"))
    )


# ---------------------------------------------------------------------------
# format keyword (SURVEY.md §2.2): 9 format predicates exercised against a
# DuckDB regex oracle. The format-able columns are DERIVED deterministically
# from events.user_id with injected invalids — the derivation SQL is shared
# verbatim between the Spark query (F.expr) and the oracle CTE, so the two
# sides differ only in the format predicates themselves (engine Column
# predicates vs DuckDB regexp_matches/TRY_CAST).
# ---------------------------------------------------------------------------

_FMT_DERIVE: dict[str, tuple[str, str]] = {
    # col -> (format name, shared derivation SQL)
    "fmt_email": (
        "email",
        "CASE WHEN user_id IS NULL THEN NULL WHEN user_id % 7 = 0 "
        "THEN 'user' || CAST(user_id AS STRING) || 'example.com' "
        "ELSE 'user' || CAST(user_id AS STRING) || '@example.com' END",
    ),
    "fmt_date_time": (
        "date-time",
        "CASE WHEN user_id IS NULL THEN NULL WHEN user_id % 11 = 0 "
        "THEN '2026-01-02 03:04:05Z' "
        "ELSE '2026-01-02T03:04:' || lpad(CAST(user_id % 60 AS STRING), 2, '0') || 'Z' END",
    ),
    "fmt_date": (
        "date",
        "CASE WHEN user_id IS NULL THEN NULL WHEN user_id % 9 = 0 "
        "THEN '2026-13-40' "
        "ELSE '2026-01-' || lpad(CAST(1 + user_id % 28 AS STRING), 2, '0') END",
    ),
    "fmt_time": (
        "time",
        "CASE WHEN user_id IS NULL THEN NULL WHEN user_id % 8 = 0 "
        "THEN '25:61:00' "
        "ELSE lpad(CAST(user_id % 24 AS STRING), 2, '0') || ':30:00' END",
    ),
    "fmt_uri": (
        "uri",
        "CASE WHEN user_id IS NULL THEN NULL WHEN user_id % 10 = 0 "
        "THEN 'not a uri' "
        "ELSE 'https://example.com/' || CAST(user_id AS STRING) END",
    ),
    "fmt_hostname": (
        "hostname",
        "CASE WHEN user_id IS NULL THEN NULL WHEN user_id % 6 = 0 "
        "THEN '-bad.example.com' "
        "ELSE 'host-' || CAST(user_id AS STRING) || '.example.com' END",
    ),
    "fmt_ipv4": (
        "ipv4",
        "CASE WHEN user_id IS NULL THEN NULL WHEN user_id % 13 = 0 "
        "THEN '10.0.0.256' "
        "ELSE '10.0.' || CAST(user_id % 256 AS STRING) || '.1' END",
    ),
    "fmt_ipv6": (
        "ipv6",
        "CASE WHEN user_id IS NULL THEN NULL WHEN user_id % 4 = 0 "
        "THEN 'fe80:::1' "
        "ELSE '2001:db8::' || CAST(user_id % 10 AS STRING) END",
    ),
    "fmt_uuid": (
        "uuid",
        "CASE WHEN user_id IS NULL THEN NULL WHEN user_id % 5 = 0 "
        "THEN substr(md5(CAST(user_id AS STRING)), 1, 8) || '-' || "
        "substr(md5(CAST(user_id AS STRING)), 9, 4) || '-' || "
        "substr(md5(CAST(user_id AS STRING)), 13, 4) || '-' || "
        "substr(md5(CAST(user_id AS STRING)), 17, 4) || '-' || "
        "substr(md5(CAST(user_id AS STRING)), 21, 11) "
        "ELSE substr(md5(CAST(user_id AS STRING)), 1, 8) || '-' || "
        "substr(md5(CAST(user_id AS STRING)), 9, 4) || '-' || "
        "substr(md5(CAST(user_id AS STRING)), 13, 4) || '-' || "
        "substr(md5(CAST(user_id AS STRING)), 17, 4) || '-' || "
        "substr(md5(CAST(user_id AS STRING)), 21, 12) END",
    ),
}


def q_format_validation_derived(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All 9 built-in format predicates (SURVEY.md §2.2) as one verdicts
    table over format columns derived from events.user_id."""
    from jsonschema_validator_spark import Validator

    df = _t(spark, sf_dir, "events").select(
        *[F.expr(sql).alias(col) for col, (_, sql) in _FMT_DERIVE.items()]
    )
    spec = {"properties": {col: {"format": fmt} for col, (fmt, _) in _FMT_DERIVE.items()}}
    return Validator(spec).validate(df).verdicts()


# ---------------------------------------------------------------------------
# image-caption flagship (BASELINE.json north rule). The table is synthesized
# deterministically in-query (no external data); the oracle is an independent
# pandas/numpy re-implementation rendered as DuckDB VALUES literals
# (jsonschema_validator_spark/oracle.py).
# ---------------------------------------------------------------------------

_IMAGES_N = 4000


def _images(spark: SparkSession, n: int = _IMAGES_N, seed: int = 42):
    from jsonschema_validator_spark.sources import synth

    return synth.generate_spark(spark, n, seed=seed, partitions=8)


def q_images_suite_verdicts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The flagship: ALL north-rule check families over the image-caption
    table — keyword, uniqueness (partial count), referential (broadcast),
    drift (same-seed baseline), decode invariant — in one verdicts table."""
    from jsonschema_validator_spark.pipeline import ImageValidationSuite
    from jsonschema_validator_spark.sources import synth

    df = _images(spark)
    return ImageValidationSuite(
        df,
        dim_formats=synth.dim_formats(spark),
        baseline=_images(spark),
    ).suite_verdicts()


def q_images_drift_shifted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KS + PSI between the base table and a distribution-shifted twin."""
    from jsonschema_validator_spark.pipeline import ImageValidationSuite
    from jsonschema_validator_spark.sources import synth

    base = _images(spark)
    drifted = synth.generate_drifted_spark(spark, _IMAGES_N, partitions=8)
    s = ImageValidationSuite(drifted, baseline=base, decode=False)
    return s.drift().select(
        "column",
        F.round("ks", 6).alias("ks"),
        F.round("psi", 6).alias("psi"),
        F.round("js", 6).alias("js"),
    )


def q_images_decode_violations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arrow-batched decode invariant violations (truncated payloads + dim
    mismatches), counted per tag."""
    from jsonschema_validator_spark.pipeline import ImageValidationSuite

    viol = ImageValidationSuite(_images(spark)).decode_violations()
    return viol.groupBy("tag").agg(F.count(F.lit(1)).alias("n_violations"))


def q_images_stats_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Single-pass per-column stats (null ratio / min / max / distinct) on
    the image table joined with robust outlier stats (quartiles/MAD/
    Tukey+robust-z counts) for the dimension columns w/h; exact distinct
    and exact percentiles here for oracle determinism (the scale path is
    approx_count_distinct + mergeable HLL sketches and percentile_approx).
    phash gets no robust stats: quantiles of a uniform hash are
    meaningless (the t-digest density-cliff convention)."""
    from jsonschema_validator_spark.operators.stats import (
        column_profile,
        robust_outlier_stats,
    )

    df = _images(spark)
    prof = column_profile(
        df, ["w", "h", "fmt", "caption", "phash"], approx_distinct=False
    )
    rob = robust_outlier_stats(df, ["w", "h"], exact=True)
    return prof.join(rob, "column", "left")


def q_images_checkpoint_resume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Checkpoint/resume: validate 2 snapshots, append a 3rd, resume (only
    the new snapshot is scanned), return merged table-level verdicts."""
    import shutil
    import tempfile

    from jsonschema_validator_spark.checkpoint import CheckpointStore, validate_resumable
    from jsonschema_validator_spark.pipeline import IMAGES_SPEC
    from jsonschema_validator_spark.sources import synth
    from jsonschema_validator_spark.sources.tables import SnapshotTable

    root = tempfile.mkdtemp(prefix="jsv_ckpt_")
    try:
        tbl = SnapshotTable(os.path.join(root, "tbl"))
        for s in range(2):
            tbl.append(_images(spark, n=1000, seed=42 + s))
        store = CheckpointStore(os.path.join(root, "store"))
        validate_resumable(spark, tbl, IMAGES_SPEC, store)
        tbl.append(_images(spark, n=1000, seed=45))
        report = validate_resumable(spark, tbl, IMAGES_SPEC, store)
        assert len(report["validated_snapshots"]) == 1  # resume skipped 2
        out = store.merged_verdicts(spark).orderBy("rule_id")
        out = spark.createDataFrame(out.collect(), out.schema)  # detach from tmpdir
        return out
    finally:
        shutil.rmtree(root, ignore_errors=True)


def q_streaming_windowed_verdicts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Structured-Streaming evidence (SURVEY.md §2.5): the SAME compiled
    spec applied to an unbounded source — events re-staged as a file-source
    stream → watermarked 1-day windowed verdicts → memory sink, drained with
    processAllAvailable. The oracle is the identical windowed aggregation in
    DuckDB over the same rows, so stream and batch semantics are value-hash
    compared (windows keyed by epoch seconds of the window start)."""
    import shutil
    import tempfile
    import uuid

    from jsonschema_validator_spark.streaming.validate import StreamingValidator

    # events.ts is TIMESTAMP_NTZ; watermarks require TIMESTAMP. Pin the
    # session to UTC for the cast so the NTZ wall time maps to the same
    # epoch DuckDB's epoch(ts) computes, independent of the host timezone.
    old_tz = spark.conf.get("spark.sql.session.timeZone")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    src = _t(spark, sf_dir, "events").select(
        "event_id",
        F.col("ts").cast("timestamp").alias("ts"),
        "user_id",
        "event_type",
        "value",
    ).filter(F.col("ts").isNotNull())
    root = tempfile.mkdtemp(prefix="jsv_stream_")
    name = "sv_" + uuid.uuid4().hex[:8]
    try:
        path = os.path.join(root, "src")
        src.coalesce(1).write.parquet(path)
        schema = spark.read.parquet(path).schema
        # Windowed-agg state is (window x rule x tag) — hundreds of groups,
        # not table-scale; 8 state partitions instead of the batch 32.
        with state_partitions(spark, 8):
            stream = spark.readStream.schema(schema).parquet(path)
            v = StreamingValidator(EVENTS_SPEC).windowed_verdicts(
                stream, ts_col="ts", window="1 day", watermark="1 minute"
            )
            q = (
                v.writeStream.format("memory")
                .queryName(name)
                .outputMode("complete")
                .start()
            )
            q.processAllAvailable()
            q.stop()
        out = spark.sql(
            f"SELECT CAST(window.start AS LONG) AS window_start, rule_id, tag, "
            f"n_checked, n_failed, pass FROM {name}"
        )
        return spark.createDataFrame(out.collect(), out.schema)  # detach from sink
    finally:
        spark.conf.set("spark.sql.session.timeZone", old_tz)
        shutil.rmtree(root, ignore_errors=True)


def q_streaming_metrics_chart(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING twins of the metrics_monitoring detectors under the
    driver gate (round 5): the same deterministic monthly fail-rate
    series (3 rule series × ~83 months) is replayed in three
    ord-contiguous micro-batches through BOTH stateful twins,
    family-tagged in one result:

    - ``chart`` — streaming/monitor.streaming_control_chart (per-series
      history state carries ACROSS batches via applyInPandasWithState),
      checked against the SAME DuckDB expanding-window oracle that gates
      the batch chart (windowed quantile_cont);
    - ``cusum`` — streaming/monitor.streaming_cusum_chart (O(1) state:
      two running sums + the Phase-I calibration buffer; warmup=12,
      slack=0.5, h=4.0 — the batch metrics_monitoring parameters),
      checked against the batch oracle's prefix-sum/running-min CUSUM
      CTEs;
    - ``flips`` — streaming/monitor.streaming_verdict_flips (round 5,
      the last formerly tests-only monitor twin): ONE boolean of
      per-series state emits a row the moment a series' pass/fail
      verdict (fail_rate <= 0.10, the batch metrics_monitoring
      threshold) flips vs its previous observation, checked against
      the batch oracle's lag() flips. Its rows carry ``direction``
      and NULL-pad the chart columns (the batch metrics_monitoring
      row already hash-gates a mostly-NULL direction column).

    Batch==stream equality is each operator's contract: both sides run
    the same numpy kernel, and test_monitor.py locks it point-for-point
    on every chart column.

    Row policy matches metrics_monitoring: expose n_history /
    is_anomaly / bit-exact fail_rate, not the center/scale/z/s floats
    (cross-engine quantile interpolation and running sums drift ulps;
    the nearest margins — |z| 0.045, |s−h| 0.2145 — are far beyond
    that). Results detach from the memory sinks via
    createDataFrame(collect) so the returned frame is a plain batch
    DataFrame."""
    import shutil
    import tempfile

    from jsonschema_validator_spark.streaming.monitor import (
        streaming_control_chart,
        streaming_cusum_chart,
        streaming_verdict_flips,
    )

    hist = _metrics_monthly_history(spark, sf_dir)
    rows = hist.collect()  # 3 series x ~83 months — driver-scale only
    ords = sorted({r["snapshot_ord"] for r in rows})
    cuts = (ords[len(ords) // 3], ords[2 * len(ords) // 3])
    root = tempfile.mkdtemp(prefix="jsvs_stream_chart_")
    try:
        spans = [(None, cuts[0]), (cuts[0], cuts[1]), (cuts[1], None)]
        for i, (lo, hi) in enumerate(spans):
            batch = [
                r
                for r in rows
                if (lo is None or r["snapshot_ord"] >= lo)
                and (hi is None or r["snapshot_ord"] < hi)
            ]
            # driver-side staging: 83-row fixtures, no Spark write jobs
            _stage_driver_parquet(batch, hist.schema, f"{root}/b{i}.parquet", i)

        def drain(make_out, name, select_cols):
            # 3 rule_id state keys: size the state-store partition count to
            # the key cardinality, not the batch session's 32 (each of the
            # 6 micro-batches pays state-store + Python-worker overhead per
            # partition — 32 vs 4 measured 2-4x the drain wall-clock).
            with state_partitions(spark, 4):
                stream = (
                    spark.readStream.schema(hist.schema)
                    .option("maxFilesPerTrigger", 1)
                    .parquet(root + "/b*")
                )
                q = (
                    make_out(stream)
                    .writeStream.format("memory")
                    .queryName(name)
                    .outputMode("append")
                    .start()
                )
                q.processAllAvailable()
                q.stop()
            return spark.sql(
                f"SELECT '{name.rsplit('_', 1)[-1]}' AS family, rule_id, "
                f"CAST(snapshot_ord AS INT) AS snapshot_ord, {select_cols} "
                f"FROM {name}"
            )

        # sentinels, NOT NULLs: the driver's row sort compares cells
        # positionally and None-vs-value raises (the uniqueness_checks /
        # metrics_monitoring '' convention)
        _CHART_COLS = (
            "fail_rate, CAST(n_history AS BIGINT) AS n_history, is_anomaly, "
            "'' AS direction"
        )

        chart = drain(
            lambda s: streaming_control_chart(
                s,
                ["rule_id"],
                "snapshot_ord",
                "fail_rate",
                min_history=6,
                z_threshold=2.5,
                method="robust",
            ),
            "jsvs_stream_metrics_chart",
            _CHART_COLS,
        )
        cusum = drain(
            lambda s: streaming_cusum_chart(
                s,
                ["rule_id"],
                "snapshot_ord",
                "fail_rate",
                warmup=12,
                slack=0.5,
                h=4.0,
            ),
            "jsvs_stream_metrics_cusum",
            _CHART_COLS,
        )
        flips = drain(
            lambda s: streaming_verdict_flips(
                s.withColumn("pass", F.col("fail_rate") <= F.lit(0.10)),
                ["rule_id"],
                "snapshot_ord",
                pass_col="pass",
            ),
            "jsvs_stream_metrics_flips",
            # flips rows carry only the transition: sentinel-pad the chart
            # columns (-1/false, never NULL — driver row-sort trap) so the
            # three families share one hashed schema
            "CAST(-1.0 AS DOUBLE) AS fail_rate, "
            "CAST(-1 AS BIGINT) AS n_history, "
            "false AS is_anomaly, direction",
        )
        res = chart.unionByName(cusum).unionByName(flips)
        return spark.createDataFrame(res.collect(), res.schema)  # detach
    finally:
        shutil.rmtree(root, ignore_errors=True)


def q_streaming_windowed_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming drift monitoring end-to-end, BOTH column families
    family-tagged in one long result ``(family, window_start, stat,
    value)`` — round 5 adds the formerly tests-only categorical twin to
    the slot:

    - ``numeric:value`` — events re-staged as a file stream →
      watermarked per-day windowed ``width_bucket`` histograms (state is
      O(windows × buckets)) drained to a memory sink → per-window KS +
      PSI against the full-table baseline histogram computed batch-side
      (streaming/drift.windowed_histograms + drift_vs_baseline);
    - ``categorical:event_type`` — the SAME staged stream → watermarked
      per-day windowed category counts (state O(windows × categories)) →
      per-window homogeneity chi²/Cramér's V/TVD + n_categories/dof vs
      the full-table category baseline, via the SAME shared reducer as
      the batch operator (streaming/drift.windowed_category_counts +
      categorical_drift_vs_baseline).

    The oracle is the identical windowed-histogram KS/PSI pipeline plus
    the per-window contingency formulas in DuckDB SQL. Stats round to
    1e-6 (profile convention); counts/dof are exact. The window column is
    named ``ord`` so the driver's alphabetical column sort compares
    (family, ord, stat) — a unique, non-null prefix — before any float
    value (named ``window_start`` it would sort value BEFORE the window
    and compare floats across tied (family, stat) prefixes)."""
    import shutil
    import tempfile
    import uuid

    from jsonschema_validator_spark.operators.drift import (
        category_histogram,
        histogram,
    )
    from jsonschema_validator_spark.streaming.drift import (
        categorical_drift_vs_baseline,
        drift_vs_baseline,
        windowed_category_counts,
        windowed_histograms,
    )

    old_tz = spark.conf.get("spark.sql.session.timeZone")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    events = _t(spark, sf_dir, "events")
    src = events.select(
        F.col("ts").cast("timestamp").alias("ts"), "value", "event_type"
    ).filter(F.col("ts").isNotNull())
    root = tempfile.mkdtemp(prefix="jsv_sdrift_")
    name = "sw_" + uuid.uuid4().hex[:8]
    try:
        path = os.path.join(root, "src")
        src.coalesce(1).write.parquet(path)
        schema = spark.read.parquet(path).schema

        def drain(make_out, qname, head_cols):
            # State is O(windows x buckets|categories) — a few hundred
            # groups; 8 state partitions instead of the batch 32.
            with state_partitions(spark, 8):
                stream = spark.readStream.schema(schema).parquet(path)
                q = (
                    make_out(stream)
                    .writeStream.format("memory")
                    .queryName(qname)
                    .outputMode("complete")
                    .start()
                )
                q.processAllAvailable()
                q.stop()
            res = spark.sql(
                f"SELECT CAST(window.start AS LONG) AS window_start, "
                f"{head_cols} FROM {qname}"
            )
            return spark.createDataFrame(res.collect(), res.schema)

        win_hist = drain(
            lambda s: windowed_histograms(
                s, "ts", "value", 0.0, 500.0, 25, window="1 day"
            ),
            name + "_n",
            "bucket, n",
        )
        win_cats = drain(
            lambda s: windowed_category_counts(
                s, "ts", "event_type", window="1 day"
            ),
            name + "_c",
            "cat, n",
        )
    finally:
        spark.conf.set("spark.sql.session.timeZone", old_tz)
        shutil.rmtree(root, ignore_errors=True)

    num = drift_vs_baseline(
        win_hist, histogram(events, "value", 0.0, 500.0, 25), round_to=6
    )
    cat = categorical_drift_vs_baseline(
        win_cats, category_histogram(events, "event_type")
    )

    def unpivot(df, family, rounded, exact):
        return _unpivot_long(
            df, family, "window_start", rounded=rounded, exact=exact, id_alias="ord"
        )

    return unpivot(num, "numeric:value", rounded=["ks", "psi"], exact=[]).unionByName(
        unpivot(
            cat,
            "categorical:event_type",
            rounded=["chi2", "cramers_v", "tvd"],
            exact=["n_categories", "dof"],
        )
    )


def q_streaming_dedup_firstseen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stateful streaming dedup under the driver gate (the one capability
    that was tests-only in round 2): documents re-staged as a THREE
    micro-batch file stream (maxFilesPerTrigger=1) with injected
    cross-batch duplicates — batch 2 repeats four batch-1 texts under ids
    +1000, batch 3 repeats six batch-1/2 texts under ids +2000 — drained
    through ``streaming_exact_dedup`` (applyInPandasWithState) to a memory
    sink. Every injected duplicate has a higher id than its original AND
    arrives in a strictly later micro-batch, so streaming first-seen-wins
    and batch min-id-per-fingerprint provably coincide; the oracle is the
    batch rule in DuckDB over the identical union."""
    import shutil
    import tempfile
    import uuid

    from jsonschema_validator_spark.streaming.dedup import streaming_exact_dedup

    base = (
        _t(spark, sf_dir, "documents")
        .select("doc_id", "text")
        .filter(F.col("text").isNotNull())
    )
    b0 = base.filter("doc_id < 200")
    b1 = base.filter("doc_id >= 200 AND doc_id < 400").unionAll(
        base.filter("doc_id % 50 = 0 AND doc_id < 200").select(
            (F.col("doc_id") + 1000).alias("doc_id"), "text"
        )
    )
    b2 = base.filter("doc_id >= 400").unionAll(
        base.filter("doc_id % 70 = 0 AND doc_id < 400").select(
            (F.col("doc_id") + 2000).alias("doc_id"), "text"
        )
    )
    root = tempfile.mkdtemp(prefix="jsv_sdedup_")
    name = "sd_" + uuid.uuid4().hex[:8]
    try:
        flat = os.path.join(root, "flat")
        os.makedirs(flat)
        schema = base.schema
        for n, b in enumerate((b0, b1, b2)):
            # driver-side staging (documents is 5k rows total): one
            # collect + pyarrow write per micro-batch fixture instead of
            # a coalesce(1) Spark write job + file copy per batch
            _stage_driver_parquet(
                b.collect(), schema, os.path.join(flat, f"{n:02d}.parquet"), n
            )
        # Fingerprint state has thousands of keys but each micro-batch is
        # tiny — per-partition state-store + worker overhead dominates at
        # 32 partitions; 8 keeps the 3-batch replay cheap and the knob is
        # documented as cardinality-sized (streaming.state_partitions).
        with state_partitions(spark, 8):
            stream = (
                spark.readStream.schema(schema)
                .option("maxFilesPerTrigger", 1)
                .parquet(flat)
            )
            q = (
                streaming_exact_dedup(stream)
                .writeStream.format("memory")
                .queryName(name)
                .outputMode("append")
                .start()
            )
            q.processAllAvailable()
            q.stop()
        out = spark.sql(f"SELECT doc_id, text FROM {name}")
        return spark.createDataFrame(out.collect(), out.schema)  # detach
    finally:
        shutil.rmtree(root, ignore_errors=True)


def q_streaming_decontamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming benchmark decontamination under the driver gate (round 5,
    the last formerly tests-only streaming twin): the deterministic eval
    slice (doc_id % 97 == 0, the corpus_curation_funnel stage-6 benchmark)
    is materialized once as a closure-shipped shingle set, then ALL
    non-null-text documents are replayed as a TWO micro-batch file stream
    through ``streaming_contamination_flags`` — JVM shingles, then one
    stateless mapInArrow set probe, no shuffle, no watermark (the right streaming shape for a
    per-document statistic against a static eval set; see
    streaming/decontaminate.py). Output is each document's full overlap
    measurement ``(n_shingles, n_matched, contamination_frac,
    contaminated)``, value-gated against the same DuckDB 5-word-shingle
    SQL the funnel's stage 6 uses — here per-document rather than
    count-only, so the hash checks every fraction, not just the gate."""
    import shutil
    import tempfile
    import uuid

    from jsonschema_validator_spark.streaming.decontaminate import (
        streaming_contamination_flags,
    )

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    bench = docs.filter(F.col("doc_id") % 97 == 0)
    rows = sorted(
        docs.filter(F.col("text").isNotNull()).collect(),
        key=lambda r: r["doc_id"],
    )  # driver-scale replay fixture: documents is 500-5k rows at test SFs
    cut = rows[len(rows) // 2]["doc_id"]
    root = tempfile.mkdtemp(prefix="jsv_sdecon_")
    name = "sdc_" + uuid.uuid4().hex[:8]
    try:
        _stage_driver_parquet(
            [r for r in rows if r["doc_id"] < cut], docs.schema,
            os.path.join(root, "b0.parquet"), 0,
        )
        _stage_driver_parquet(
            [r for r in rows if r["doc_id"] >= cut], docs.schema,
            os.path.join(root, "b1.parquet"), 1,
        )
        # stateless mapInArrow: no state store, so no state_partitions
        # pinning — there is no shuffle in this stream at all
        stream = (
            spark.readStream.schema(docs.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(root)
        )
        q = (
            streaming_contamination_flags(stream, bench)
            .writeStream.format("memory")
            .queryName(name)
            .outputMode("append")
            .start()
        )
        q.processAllAvailable()
        q.stop()
        out = spark.sql(
            f"SELECT doc_id, n_shingles, n_matched, contamination_frac, "
            f"contaminated FROM {name}"
        )
        return spark.createDataFrame(out.collect(), out.schema)  # detach
    finally:
        shutil.rmtree(root, ignore_errors=True)


def q_images_feature_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Image feature extraction (the feature-extract stage of the brief's
    multimodal pipeline): channel means, grayscale std, brightness and
    gradient edge-energy per decoded image, Arrow-batched numpy — over the
    deterministic 1-in-8 id slice (500 images; the slice's residues dodge
    every synth injection, so all selected rows decode), plus the six
    curation quality metrics (Laplacian-variance sharpness, histogram
    entropy, clip fractions, colorfulness, dynamic range —
    multimodal.image_quality_metrics) from the same decode, all in one
    Arrow-batched mapInArrow.
    Oracle: the independent pandas/numpy re-implementation
    (oracle.feature_rows)."""
    from jsonschema_validator_spark.operators.multimodal import image_features

    df = _images(spark)
    sel = df.filter(
        F.col("image_id").rlike("^img-[0-9]{12}$")
        & (
            F.regexp_extract("image_id", "^img-([0-9]{12})$", 1).cast("long") % 8
            == 0
        )
    )
    return image_features(sel).orderBy("image_id")


_PHASH_PLANT_STEP = 200  # planted variant every 200th row, offset 9
_PHASH_PLANT_OFF = 9  # i≡9 (mod 200) hits NO synth injection rule


def _phash_planted_rows(n: int, seed: int = 42) -> list[tuple]:
    """Deterministic near-dup variants of base phashes: for each planted
    index i, flip k = (i//200)%3+1 distinct bits of row i's phash. Offsets
    i≡9 (mod 200) are clean of every synth injection (no hot phash, no
    dup phash, no bad/dup image_id), so the base phash is the pure
    ``_h64(seed, i, "ph")`` value and the pair set is exactly the planted
    set (random 64-bit phashes collide within hamming≤3 with probability
    ~2e-15 per pair)."""
    from jsonschema_validator_spark.sources.synth import make_row

    M = (1 << 64) - 1
    out = []
    for i in range(_PHASH_PLANT_OFF, n, _PHASH_PLANT_STEP):
        base = make_row(seed, i)
        k = (i // _PHASH_PLANT_STEP) % 3 + 1
        mask = 0
        for j in range(k):
            mask |= 1 << ((i * 7 + j * 13) % 64)
        v = (base["phash"] & M) ^ mask
        if v >= 1 << 63:
            v -= 1 << 64
        out.append((f"dup-{i:012d}", v, base["image_id"], k))
    return out


def q_images_phash_neardups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perceptual-hash image near-dup detection (the image twin of SimHash
    text dedup): exact-dup phashes are removed first (the production
    exact→near pipeline order — also drops the synthetic hot keys), then
    deterministic planted variants (1-3 flipped bits) are unioned in and
    recovered by the generic ``hamming_near_duplicates`` pigeonhole
    bit-slice equi-join (operators/dedup.py) — never an all-pairs join.
    Oracle: the planted pair set (golden, via the synth pure row fn)."""
    from pyspark.sql import Window

    from jsonschema_validator_spark.operators.dedup import hamming_near_duplicates

    base = _images(spark).select("image_id", "phash")
    uniq = (
        base.withColumn(
            "_c", F.count(F.lit(1)).over(Window.partitionBy("phash"))
        )
        .filter("_c = 1")
        .drop("_c")
    )
    planted = spark.createDataFrame(
        [(r[0], r[1]) for r in _phash_planted_rows(_IMAGES_N)],
        "image_id string, phash long",
    )
    out = hamming_near_duplicates(
        uniq.unionAll(planted), "phash", "image_id", max_hamming=3, n_slices=4
    )
    return out.orderBy("id_a", "id_b")


def q_images_jpeg_decode_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL JPEG bitstream decode through the distributed plumbing: 12
    deterministic synth images are encoded as actual ITU-T T.81 baseline
    JPEGs (sources/jpeg.py, quality 98, 4:4:4), shipped as a binary
    column, and decoded back INSIDE the Arrow-batched mapInArrow operator
    (operators/multimodal.psnr_vs_reference → decode_image SOI dispatch →
    canonical-Huffman decode on executors). Gate: every decoded image
    matches its ground-truth pixels at ≥40 dB — the BASELINE.json lossy
    invariant, measured 43.9 dB worst-case on this corpus. Fully
    deterministic ⇒ plain VALUES oracle."""
    from jsonschema_validator_spark.operators.multimodal import psnr_vs_reference
    from jsonschema_validator_spark.sources import synth
    from jsonschema_validator_spark.sources.jpeg import encode_jpeg

    rows = []
    for i in range(12):
        w, h = synth.true_dims(42, i)
        payload = encode_jpeg(
            synth._pixels(42, i, w, h), quality=98, subsampling="444"
        )
        rows.append((f"jpg_{i:04d}", bytearray(payload), i))
    df = spark.createDataFrame(
        rows, "image_id string, bytes binary, idx int"
    ).repartition(4)

    def ref(i: int):
        w, h = synth.true_dims(42, i)
        return synth._pixels(42, i, w, h)

    out = psnr_vs_reference(df, ref, index_col="idx")
    return out.agg(
        F.count(F.lit(1)).alias("n_images"),
        (F.min("psnr") >= 40.0).alias("all_above_floor"),
    )


def q_videos_frame_sample_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL video decode end-to-end (round 4 — no injected decoder): 6
    deterministic MJPEG AVIs (sources/avi.py writer: hdrl/movi/idx1
    container around genuine T.81 JPEG frames, quality 98) ship as a
    binary column; sample_video_frames walks the container and
    Huffman-decodes the sampled frames on executors (sources/avi.py), PNG
    re-encoding each. Gate: 6 videos × 3 sampled frames, true stream
    indices {0,4,8} (every_n=4 of 9 frames), and every sampled frame
    matches its ground-truth pixels at ≥40 dB through the full
    AVI→JPEG→PNG→decode chain (shape mismatches score -1 and fail the
    floor, so dims are implicitly gated too). Fully deterministic ⇒ plain
    VALUES oracle."""
    from jsonschema_validator_spark.operators.multimodal import (
        psnr_vs_reference,
        sample_video_frames,
    )
    from jsonschema_validator_spark.sources import synth

    vids = synth.make_video_corpus(n_videos=6, n_frames=9, seed=42)
    df = spark.createDataFrame(
        [(vid, bytearray(data)) for vid, data in vids],
        "video_id string, bytes binary",
    ).repartition(3)
    frames = sample_video_frames(df, every_n=4, max_frames=3)

    def ref(idx: int):
        v, k = idx // 1000, idx % 1000
        w, h = synth.true_dims(42, v)
        return synth._pixels(42, v * 1000 + k, w, h)

    scored = psnr_vs_reference(
        frames.select(
            F.concat_ws(":", "video_id", "frame_idx").alias("image_id"),
            F.col("frame_png").alias("bytes"),
            (F.col("video_id").cast("int") * 1000 + F.col("frame_idx")).alias(
                "idx"
            ),
        ),
        ref,
        index_col="idx",
    )
    parts = F.split(F.col("image_id"), ":")
    return scored.select(
        parts[0].alias("vid"), parts[1].alias("fidx"), "psnr"
    ).agg(
        F.countDistinct("vid").alias("n_videos"),
        F.count(F.lit(1)).alias("n_frames"),
        (
            F.array_sort(F.collect_set("fidx"))
            == F.array(F.lit("0"), F.lit("4"), F.lit("8"))
        ).alias("sampled_true_indices"),
        (F.min("psnr") >= 40.0).alias("all_above_floor"),
    )


def q_audio_features_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL audio decode end-to-end (round 4 — no injected decoder): 24
    deterministic WAV clips sweeping sample rate (8/16/22.05 kHz), sample
    format (s16/u8/s24/float32), amplitude, duration and channel count
    ship as a binary column; audio_features parses the RIFF/WAVE stream
    on executors (sources/wav.py, numpy-vectorized, mono mixdown) and
    emits rms/peak/zero-crossing features. FULL VALUE PARITY (not a
    tolerance gate): the oracle is an independent struct-based WAV reader
    + the same feature formulas (oracle.audio_feature_rows) rendered as a
    VALUES table — every float must match bit-for-bit."""
    from jsonschema_validator_spark.operators.multimodal import audio_features
    from jsonschema_validator_spark.sources import synth

    clips = synth.make_audio_corpus(24, 42)
    df = spark.createDataFrame(
        [(cid, bytearray(data)) for cid, data in clips],
        "audio_id string, bytes binary",
    ).repartition(4)
    return audio_features(df)


def q_ann_recall_floor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall gate for BOTH ANN scale paths — hyperplane LSH and IVF —
    against one shared brute-force baseline (the hll_distinct_accuracy
    gate pattern: the approx-vs-exact comparison runs inside Spark, the
    oracle checks the emitted booleans). Round-5 consolidation: absorbs
    the former ivf_recall_floor query (same shape, same baseline) to free
    a driver slot — the driver verifies at most 50 queries.

    LSH rows — recall@5 of :func:`ann_topk` vs brute force on the
    deterministic embeddings corpus:

    - single-probe single-table (pl=8) is honestly poor on this
      NEAR-ORTHOGONAL corpus (true top-5 cosine ≈0.3–0.45 ⇒ per-plane
      collision ~0.63, ^8 ≈ 0.03; measured 0.04) — floor 0.02 pins the
      regime without overclaiming;
    - multi-probe multi-table (pl=4, L=8 tables, 3 probes) lifts recall to
      0.94 measured — floor 0.90;
    - the lift row gates that multi-probe/multi-table BEATS single-probe
      by ≥0.5 absolute recall (0.90 measured).

    All quantities are deterministic (seeded hyperplanes, fixed input,
    1e-6 rounding, neighbor_id tie-break), so the booleans are
    oracle-stable as a VALUES table."""
    import numpy as np

    from jsonschema_validator_spark.operators.similarity import (
        ann_topk,
        brute_force_topk,
        ivf_topk,
        ivf_train,
    )

    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10)
    bf = brute_force_topk(emb, queries, k=5).select("query_id", "neighbor_id")

    single = ann_topk(emb, queries, dim=64, k=5, n_planes=8)
    multi = ann_topk(
        emb, queries, dim=64, k=5, n_planes=4, n_probes=3, n_tables=8
    )
    sample = np.array(
        [r["embedding"] for r in emb.orderBy("vec_id").limit(512).collect()],
        dtype=np.float64,
    )
    cents = ivf_train(sample, n_cells=16)
    p1 = ivf_topk(emb, queries, cents, k=5, n_probe=1)
    p4 = ivf_topk(emb, queries, cents, k=5, n_probe=4)

    # ONE derivation of the brute-force baseline. The former per-pipeline
    # hits() made FIVE left-semi/agg branches, each re-deriving bf (no CSE
    # across join branches), plus four crossJoins of 1-row scalars. The
    # tagged union derives each ANN pipeline once, bf once, and a single
    # conditional aggregate replaces all five branches: hits-per-config ==
    # the old left_semi counts because (query_id, neighbor_id) is unique
    # within every top-k output, and t == |bf| via the distinct pair count
    # (a bf row duplicates once per matching config on the left join).
    def _tag(ann: DataFrame, cfg: str) -> DataFrame:
        return ann.select("query_id", "neighbor_id").withColumn(
            "cfg", F.lit(cfg)
        )

    tagged = (
        _tag(single, "s")
        .unionByName(_tag(multi, "m"))
        .unionByName(_tag(p1, "1"))
        .unionByName(_tag(p4, "4"))
    )
    j = bf.join(tagged, ["query_id", "neighbor_id"], "left").agg(
        F.count_distinct("query_id", "neighbor_id").alias("t"),
        F.count(F.when(F.col("cfg") == "s", 1)).alias("hs"),
        F.count(F.when(F.col("cfg") == "m", 1)).alias("hm"),
        F.count(F.when(F.col("cfg") == "1", 1)).alias("h1"),
        F.count(F.when(F.col("cfg") == "4", 1)).alias("h4"),
    )
    rs = F.col("hs") / F.col("t")
    rm = F.col("hm") / F.col("t")
    r1 = F.col("h1") / F.col("t")
    r4 = F.col("h4") / F.col("t")
    gates = [
        ("ivf_c16_p1", 0.7, r1 >= 0.7),
        ("ivf_c16_p4", 0.85, r4 >= 0.85),
        ("ivf_probe_lift", 0.05, (r4 - r1) >= 0.05),
        ("multiprobe_lift_over_single", 0.5, (rm - rs) >= 0.5),
        ("multiprobe_pl4_t8_p3", 0.9, rm >= 0.9),
        ("single_probe_pl8_t1_p1", 0.02, rs >= 0.02),
    ]
    # ONE pass over the 1-row scalar frame: the former per-gate union
    # re-derived all five upstream pipelines per branch (no CSE across
    # union branches — PLANS.md §30); explode-of-struct-array touches
    # the crossJoined scalars exactly once.
    g = F.explode(
        F.array(
            *[
                F.struct(
                    F.lit(config).alias("config"),
                    F.lit(floor).alias("floor"),
                    ok.alias("recall_ok"),
                )
                for config, floor, ok in gates
            ]
        )
    ).alias("g")
    return j.select(g).select("g.config", "g.floor", "g.recall_ok").orderBy("config")


def q_embedding_cosine_neardups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup pairs via LSH bucketing (dedup family).
    The synthetic embeddings are near-orthogonal (max in-bucket cosine
    ≈0.46), so the driver threshold is 0.3 to keep the output non-empty —
    production near-dup thresholds (0.9+) use the same plan."""
    from jsonschema_validator_spark.operators.similarity import (
        embedding_cosine_neardups,
    )

    emb = _t(spark, sf_dir, "embeddings")
    return embedding_cosine_neardups(emb, dim=64, threshold=0.3, n_planes=8)


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {
        "validate_lineitem_verdicts": q_validate_lineitem_verdicts,
        "validate_orders_violations": q_validate_orders_violations,
        "validate_events_verdicts": q_validate_events_verdicts,
        "column_stats_lineitem": q_column_stats_lineitem,
        "quantiles_extendedprice": q_quantiles_extendedprice,
        "sketch_accuracy_gates": q_sketch_accuracy_gates,
        "curation_planning_profile": q_curation_planning_profile,
        "suggested_spec_lineitem": q_suggested_spec_lineitem,
        "spec_constraint_drift": q_spec_constraint_drift,
        "uniqueness_checks": q_uniqueness_checks,
        "metrics_monitoring": q_metrics_monitoring,
        "ref_orphans_nationkey": q_ref_orphans_nationkey,
        "ref_verdict_lineitem_part": q_ref_verdict_lineitem_part,
        "drift_stats_profile": q_drift_stats_profile,
        "categorical_stats_profile": q_categorical_stats_profile,
        "dedup_exact_documents": q_dedup_exact_documents,
        "jaccard_dedup_paths": q_jaccard_dedup_paths,
        "documents_text_profile": q_documents_text_profile,
        "pii_scrub_documents": q_pii_scrub_documents,
        "stratified_split_documents": q_stratified_split_documents,
        "embedding_topk": q_embedding_topk,
        "neardup_candidates": q_neardup_candidates,
        "dedup_cluster_assignment": q_dedup_cluster_assignment,
        "corpus_curation_funnel": q_corpus_curation_funnel,
        "ann_recall_floor": q_ann_recall_floor,
        "bloom_incremental_dedup": q_bloom_incremental_dedup,
        "per_group_localization_profile": q_per_group_localization_profile,
        "streaming_metrics_chart": q_streaming_metrics_chart,
        "embedding_cosine_neardups": q_embedding_cosine_neardups,
        "validate_part_composite": q_validate_part_composite,
        "validate_customer_conditional": q_validate_customer_conditional,
        "events_props_map_validation": q_events_props_map_validation,
        "documents_token_array_validation": q_documents_token_array_validation,
        "format_validation_derived": q_format_validation_derived,
        "lineitem_partitioned_verdicts": q_lineitem_partitioned_verdicts,
        "violations_topk_per_rule": q_violations_topk_per_rule,
        # the four formerly-tail image queries sit BEFORE the streaming
        # block (round 4): the driver verifies at most 50 queries in dict
        # order, and in round 3 exactly the dict tail went unverified
        "images_jpeg_decode_gate": q_images_jpeg_decode_gate,
        "images_phash_neardups": q_images_phash_neardups,
        "images_feature_extract": q_images_feature_extract,
        "images_suite_verdicts": q_images_suite_verdicts,
        "images_drift_shifted": q_images_drift_shifted,
        "images_decode_violations": q_images_decode_violations,
        "images_stats_profile": q_images_stats_profile,
        "images_checkpoint_resume": q_images_checkpoint_resume,
        "videos_frame_sample_gate": q_videos_frame_sample_gate,
        "audio_features_gate": q_audio_features_gate,
        "streaming_windowed_verdicts": q_streaming_windowed_verdicts,
        "streaming_dedup_firstseen": q_streaming_dedup_firstseen,
        "streaming_decontamination": q_streaming_decontamination,
        "streaming_windowed_drift": q_streaming_windowed_drift,
    }


# ---------------------------------------------------------------------------
# DuckDB oracles
# ---------------------------------------------------------------------------

_VERDICT_ROW = """
SELECT '{rule_id}' AS rule_id, '{tag}' AS tag,
       CAST(count(*) AS BIGINT) AS n_checked,
       CAST(COALESCE(sum(CASE WHEN {fail} THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_failed,
       (COALESCE(sum(CASE WHEN {fail} THEN 1 ELSE 0 END), 0) = 0) AS pass
FROM {table}
"""


def _verdict_union(table: str, rows: list[tuple[str, str, str]]) -> str:
    return "\nUNION ALL\n".join(
        _VERDICT_ROW.format(rule_id=rid, tag=tag, fail=fail, table=table)
        for rid, tag, fail in rows
    )


_LINEITEM_VERDICT_SQL = _verdict_union(
    "lineitem",
    [
        ("required:$.l_orderkey", "required", "l_orderkey IS NULL"),
        ("required:$.l_partkey", "required", "l_partkey IS NULL"),
        ("required:$.l_quantity", "required", "l_quantity IS NULL"),
        ("type:$.l_quantity", "type", "FALSE"),
        ("minimum:$.l_quantity", "minimum", "l_quantity IS NOT NULL AND l_quantity < 1"),
        ("maximum:$.l_quantity", "maximum", "l_quantity IS NOT NULL AND l_quantity > 50"),
        ("minimum:$.l_discount", "minimum", "l_discount IS NOT NULL AND l_discount < 0"),
        ("maximum:$.l_discount", "maximum", "l_discount IS NOT NULL AND l_discount > 0.1"),
        (
            "exclusiveMinimum:$.l_extendedprice",
            "exclusiveMinimum",
            "l_extendedprice IS NOT NULL AND l_extendedprice <= 0",
        ),
        (
            "multipleOf:$.l_tax",
            "multipleOf",
            "l_tax IS NOT NULL AND abs(l_tax/0.01 - round(l_tax/0.01)) > 1e-10",
        ),
        (
            "enum:$.l_returnflag",
            "enum",
            "l_returnflag IS NOT NULL AND l_returnflag NOT IN ('A','N','R')",
        ),
        (
            "enum:$.l_linestatus",
            "enum",
            "l_linestatus IS NOT NULL AND l_linestatus NOT IN ('O','F')",
        ),
        (
            "type:$.l_linenumber",
            "type",
            "FALSE",
        ),
        ("minimum:$.l_linenumber", "minimum", "l_linenumber IS NOT NULL AND l_linenumber < 1"),
        ("maximum:$.l_linenumber", "maximum", "l_linenumber IS NOT NULL AND l_linenumber > 7"),
    ],
)

_ORDERS_VIOLATIONS_SQL = """
SELECT o_orderkey, '$.o_totalprice' AS path,
       'greater than maximum 300000' AS message,
       CAST(o_totalprice AS VARCHAR) AS value, 'maximum' AS tag, '300000' AS param
FROM orders WHERE o_totalprice IS NOT NULL AND o_totalprice > 300000
UNION ALL
SELECT o_orderkey, '$.o_orderpriority',
       'value must be one of: 1-URGENT, 2-HIGH, 3-MEDIUM',
       o_orderpriority, 'enum', ''
FROM orders
WHERE o_orderpriority IS NOT NULL
  AND o_orderpriority NOT IN ('1-URGENT','2-HIGH','3-MEDIUM')
"""

_EVENTS_VERDICT_SQL = _verdict_union(
    "events",
    [
        ("required:$.event_id", "required", "event_id IS NULL"),
        ("required:$.ts", "required", "ts IS NULL"),
        ("required:$.user_id", "required", "user_id IS NULL"),
        (
            "enum:$.event_type",
            "enum",
            "event_type IS NOT NULL AND event_type NOT IN ('click','view','purchase')",
        ),
        ("type:$.value", "type", "FALSE"),
        ("minimum:$.value", "minimum", "value IS NOT NULL AND value < 0"),
        ("maximum:$.value", "maximum", "value IS NOT NULL AND value > 400"),
    ],
)

_STATS_SQL = "\nUNION ALL\n".join(
    f"""
SELECT '{c}' AS "column",
       t.n_rows, t.n_null, t.null_ratio, t.min_value, t.max_value,
       t.n_distinct,
       s.q1, s.median, s.q3, s.q3 - s.q1 AS iqr, m.mad,
       t.n_rows - t.n_null AS n_values,
       o.n_tukey_outliers, o.n_robust_outliers
FROM (
  SELECT CAST(count(*) AS BIGINT) AS n_rows,
         CAST(sum(CASE WHEN {c} IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_null,
         CAST(sum(CASE WHEN {c} IS NULL THEN 1 ELSE 0 END) AS DOUBLE) / count(*) AS null_ratio,
         CAST(min({c}) AS VARCHAR) AS min_value,
         CAST(max({c}) AS VARCHAR) AS max_value,
         CAST(count(DISTINCT {c}) AS BIGINT) AS n_distinct
  FROM lineitem
) t,
(SELECT CAST(quantile_cont({c}, 0.25) AS DOUBLE) AS q1,
        CAST(quantile_cont({c}, 0.5) AS DOUBLE) AS median,
        CAST(quantile_cont({c}, 0.75) AS DOUBLE) AS q3
 FROM lineitem) s,
LATERAL (SELECT CAST(quantile_cont(abs({c} - s.median), 0.5) AS DOUBLE) AS mad
         FROM lineitem) m,
LATERAL (SELECT
           CAST(sum(CASE WHEN {c} < s.q1 - 1.5 * (s.q3 - s.q1)
                           OR {c} > s.q3 + 1.5 * (s.q3 - s.q1)
                    THEN 1 ELSE 0 END) AS BIGINT) AS n_tukey_outliers,
           CAST(sum(CASE WHEN abs({c} - s.median) > 3.0 * 1.4826 * m.mad
                    THEN 1 ELSE 0 END) AS BIGINT) AS n_robust_outliers
         FROM lineitem) o
"""
    for c in ["l_quantity", "l_extendedprice", "l_discount"]
)

_QUANTILES_SQL = "\nUNION ALL\n".join(
    f"""
SELECT 'l_extendedprice' AS "column", CAST({p} AS DOUBLE) AS p,
       round(CAST(quantile_cont(l_extendedprice, {p}) AS DOUBLE), 6) AS value,
       TRUE AS approx_within_tol
FROM lineitem
"""
    for p in [0.25, 0.5, 0.75]
)

# curation_planning_profile oracle (round 5): the former token-budget
# rollup — whitespace token count (empty-after-trim => 0; NULL text =>
# NULL, skipped by sum on both engines), per-(lang, source) sums, share +
# cumulative share over the size-desc / group-asc total order (ROWS frame
# == Spark's RANGE frame because the order is total) — unpivoted to the
# long (family, group, stat, value) shape, plus the retention-curve
# family: the text-profile quality-score expressions verbatim (ratios
# rounded BEFORE thresholding, score = exact 0.25 indicator sums so the
# `>= t` comparisons never sit on a float boundary), one conditional
# aggregate per planning threshold. Group labels are string literals on
# both sides — no float→string formatting crosses engines.
_CURATION_PLANNING_SQL = r"""
WITH tok AS (
  SELECT lang, source,
         CASE WHEN trim(text) = '' THEN 0
              ELSE len(regexp_split_to_array(trim(text), '\s+')) END AS n_tok,
         length(text) AS n_chars,
         string_split_regex(lower(trim(text)), '\s+') AS toks,
         length(text) - length(regexp_replace(text, '[^\w\s]', '', 'g')) AS n_punct,
         length(text) - length(regexp_replace(text, '[0-9]', '', 'g')) AS n_digit
  FROM documents
), g AS (
  SELECT lang, source,
         CAST(count(*) AS BIGINT) AS n_docs,
         CAST(sum(n_tok) AS BIGINT) AS n_tokens
  FROM tok GROUP BY lang, source
), tb AS (
  SELECT COALESCE(lang, 'NULL') || '/' || COALESCE(source, 'NULL') AS grp,
         CAST(n_docs AS DOUBLE) AS n_docs,
         CAST(n_tokens AS DOUBLE) AS n_tokens,
         round(n_tokens / CAST(sum(n_tokens) OVER () AS DOUBLE), 6) AS token_share,
         round(sum(n_tokens) OVER (ORDER BY n_tokens DESC, lang ASC, source ASC
                                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               / CAST(sum(n_tokens) OVER () AS DOUBLE), 6) AS cum_share
  FROM g
), q AS (
  SELECT n_tok,
         round((CASE WHEN n_chars BETWEEN 50 AND 20000 THEN 0.25 ELSE 0.0 END)
             + (CASE WHEN round(CAST(n_punct AS DOUBLE) / greatest(n_chars, 1), 6)
                          <= 0.2 THEN 0.25 ELSE 0.0 END)
             + (CASE WHEN round(CAST(n_digit AS DOUBLE) / greatest(n_chars, 1), 6)
                          <= 0.2 THEN 0.25 ELSE 0.0 END)
             + (CASE WHEN (CASE WHEN n_tok = 0 THEN 0.0 ELSE
                             round(CAST(len(list_distinct(toks)) AS DOUBLE)
                                   / greatest(n_tok, 1), 6) END)
                          >= 0.3 THEN 0.25 ELSE 0.0 END), 6) AS score
  FROM tok
), agg AS (
  SELECT CAST(count(*) AS BIGINT) AS docs_all,
         CAST(COALESCE(sum(n_tok), 0) AS BIGINT) AS toks_all
  FROM q
), th AS (
  SELECT * FROM (VALUES (0.25, 't=0.25'), (0.5, 't=0.5'),
                        (0.75, 't=0.75'), (1.0, 't=1.0')) v(t, label)
), r AS (
  SELECT th.label,
         CAST(COALESCE(sum(CASE WHEN q.score >= th.t THEN 1 END), 0) AS DOUBLE)
           AS n_docs,
         CAST(COALESCE(sum(CASE WHEN q.score >= th.t THEN q.n_tok END), 0) AS DOUBLE)
           AS n_tokens,
         max(agg.docs_all) AS docs_all,
         max(agg.toks_all) AS toks_all
  FROM th CROSS JOIN q CROSS JOIN agg
  GROUP BY th.label
)
SELECT 'token_budget' AS family, grp AS "group", 'n_docs' AS stat, n_docs AS value FROM tb
UNION ALL SELECT 'token_budget', grp, 'n_tokens', n_tokens FROM tb
UNION ALL SELECT 'token_budget', grp, 'token_share', token_share FROM tb
UNION ALL SELECT 'token_budget', grp, 'cum_share', cum_share FROM tb
UNION ALL SELECT 'retention', label, 'n_docs', n_docs FROM r
UNION ALL SELECT 'retention', label, 'n_tokens', n_tokens FROM r
UNION ALL SELECT 'retention', label, 'doc_retention',
  round(n_docs / CAST(greatest(docs_all, 1) AS DOUBLE), 6) FROM r
UNION ALL SELECT 'retention', label, 'token_retention',
  round(n_tokens / CAST(greatest(toks_all, 1) AS DOUBLE), 6) FROM r
"""

_UNIQ_CHECKS_SQL = """
WITH d AS (
  SELECT l_orderkey, count(*) AS c FROM lineitem GROUP BY l_orderkey HAVING count(*) > 1
)
SELECT 'dup_key' AS kind,
       'unique:l_orderkey' AS rule_id,
       CAST(l_orderkey AS BIGINT) AS l_orderkey,
       CAST(c AS BIGINT) AS n_dup,
       CAST(-1 AS BIGINT) AS n_checked,
       CAST(-1 AS BIGINT) AS n_failed,
       FALSE AS pass,
       CAST(-1 AS BIGINT) AS dup_keys
FROM d
UNION ALL
SELECT 'verdict' AS kind,
       'unique:l_orderkey' AS rule_id,
       CAST(-1 AS BIGINT) AS l_orderkey,
       CAST(-1 AS BIGINT) AS n_dup,
       (SELECT CAST(count(*) AS BIGINT) FROM lineitem) AS n_checked,
       CAST(COALESCE((SELECT sum(c) FROM d), 0) AS BIGINT) AS n_failed,
       (COALESCE((SELECT sum(c) FROM d), 0) = 0) AS pass,
       (SELECT CAST(count(*) AS BIGINT) FROM d) AS dup_keys
"""

# Expanding robust control chart + verdict flips over the monthly
# fail-rate history. quantile_cont's window interpolation is the same
# p*(n-1) linear convention as numpy.percentile(method="linear") in the
# chart kernel (center matched bit-exactly on all 231 warm rows; scale
# drifts ulps on 30 of them, which is why the row exposes is_anomaly,
# not scale/z — nearest |z| is 0.045 from the 2.5 threshold). 0.10
# must be CAST to DOUBLE: DuckDB parses the bare literal as DECIMAL and
# two months sit at exactly 0.10.
_METRICS_MONITORING_SQL = """
WITH hist AS (
  SELECT l_returnflag AS rule_id,
         CAST(year(l_shipdate)*12 + month(l_shipdate) AS INT) AS snapshot_ord,
         CAST(sum(CASE WHEN l_quantity > 45 THEN 1 ELSE 0 END) AS DOUBLE)
           / count(*) AS fail_rate
  FROM lineitem GROUP BY 1, 2
),
rk AS (
  SELECT *, row_number() OVER wo AS rn
  FROM hist WINDOW wo AS (PARTITION BY rule_id ORDER BY snapshot_ord)
),
calw AS (
  SELECT *,
    min(CASE WHEN rn <= 12 THEN fail_rate END) OVER wa AS cmin,
    max(CASE WHEN rn <= 12 THEN fail_rate END) OVER wa AS cmax,
    avg(CASE WHEN rn <= 12 THEN fail_rate END) OVER wa AS cavg,
    stddev_samp(CASE WHEN rn <= 12 THEN fail_rate END) OVER wa AS cstd
  FROM rk WINDOW wa AS (PARTITION BY rule_id ORDER BY snapshot_ord
    ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
),
cal AS (
  -- constant calibration anchors mu0 to the constant with sigma0 = 0
  -- exactly (avg over n copies of c drifts an ulp from c), and only a
  -- truly constant calibration uses the exact-deviation rule below
  SELECT *,
    CASE WHEN cmin = cmax THEN cmin ELSE cavg END AS mu0,
    CASE WHEN cmin = cmax THEN 0.0 ELSE coalesce(cstd, 0.0) END AS sigma0,
    (cmin = cmax) AS const0
  FROM calw
),
contrib AS (
  SELECT *,
    CASE WHEN rn > 12 AND sigma0 > 0
         THEN (fail_rate - mu0)/sigma0 - 0.5 END AS cp,
    CASE WHEN rn > 12 AND sigma0 > 0
         THEN -((fail_rate - mu0)/sigma0) - 0.5 END AS cn
  FROM cal
),
sums AS (
  SELECT *, sum(cp) OVER wi AS p_pos, sum(cn) OVER wi AS p_neg
  FROM contrib WINDOW wi AS (PARTITION BY rule_id ORDER BY snapshot_ord
    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
),
cusum AS (
  SELECT rule_id, snapshot_ord,
    CASE WHEN cp IS NOT NULL
         THEN (p_pos - LEAST(0.0, min(p_pos) OVER wi) > 4.0)
           OR (p_neg - LEAST(0.0, min(p_neg) OVER wi) > 4.0)
         WHEN rn > 12 AND sigma0 = 0 AND const0
         THEN fail_rate != mu0
         ELSE FALSE END AS cusum_alarm
  FROM sums WINDOW wi AS (PARTITION BY rule_id ORDER BY snapshot_ord
    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
),
chart AS (
  SELECT h.rule_id, h.snapshot_ord, h.fail_rate,
         count(h.fail_rate) OVER wp AS n_history,
         quantile_cont(h.fail_rate, 0.5) OVER wp AS center,
         (quantile_cont(h.fail_rate, 0.75) OVER wp
          - quantile_cont(h.fail_rate, 0.25) OVER wp)
           / 1.3489795003921634 AS scale,
         c.cusum_alarm,
         (h.fail_rate <= CAST(0.10 AS DOUBLE)) AS pass,
         lag(h.fail_rate <= CAST(0.10 AS DOUBLE)) OVER wo AS prev_pass
  FROM hist h JOIN cusum c
    ON h.rule_id = c.rule_id AND h.snapshot_ord = c.snapshot_ord
  WINDOW wp AS (PARTITION BY h.rule_id ORDER BY h.snapshot_ord
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
         wo AS (PARTITION BY h.rule_id ORDER BY h.snapshot_ord)
)
SELECT rule_id, snapshot_ord, fail_rate,
       CAST(n_history AS BIGINT) AS n_history,
       CASE WHEN n_history < 6 THEN FALSE
            WHEN scale > 0 THEN abs((fail_rate - center) / scale) > 2.5
            ELSE fail_rate != center END AS is_anomaly,
       cusum_alarm,
       pass,
       COALESCE(prev_pass != pass, FALSE) AS flipped,
       CASE WHEN NOT COALESCE(prev_pass != pass, FALSE) THEN ''
            WHEN pass THEN 'recovered' ELSE 'regressed' END AS direction
FROM chart
"""

# streaming_metrics_chart oracle: the expanding-window chart subset of
# _METRICS_MONITORING_SQL (same hist CTE, same windowed quantile_cont
# center/scale, same zero-scale and warmup rules) — the stream must equal
# the batch chart point-for-point, so it shares the batch oracle's math —
# plus (round 5) the `cusum` family: the batch oracle's prefix-sum /
# running-min Page-CUSUM CTEs verbatim, with n_history the same
# preceding-count the chart uses.
_STREAMING_METRICS_CHART_SQL = """
WITH hist AS (
  SELECT l_returnflag AS rule_id,
         CAST(year(l_shipdate)*12 + month(l_shipdate) AS INT) AS snapshot_ord,
         CAST(sum(CASE WHEN l_quantity > 45 THEN 1 ELSE 0 END) AS DOUBLE)
           / count(*) AS fail_rate
  FROM lineitem GROUP BY 1, 2
),
chart AS (
  SELECT rule_id, snapshot_ord, fail_rate,
         count(fail_rate) OVER wp AS n_history,
         quantile_cont(fail_rate, 0.5) OVER wp AS center,
         (quantile_cont(fail_rate, 0.75) OVER wp
          - quantile_cont(fail_rate, 0.25) OVER wp)
           / 1.3489795003921634 AS scale
  FROM hist
  WINDOW wp AS (PARTITION BY rule_id ORDER BY snapshot_ord
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
),
rk AS (
  SELECT *, row_number() OVER wo AS rn,
         count(fail_rate) OVER wp AS n_history
  FROM hist
  WINDOW wo AS (PARTITION BY rule_id ORDER BY snapshot_ord),
         wp AS (PARTITION BY rule_id ORDER BY snapshot_ord
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
),
calw AS (
  SELECT *,
    min(CASE WHEN rn <= 12 THEN fail_rate END) OVER wa AS cmin,
    max(CASE WHEN rn <= 12 THEN fail_rate END) OVER wa AS cmax,
    avg(CASE WHEN rn <= 12 THEN fail_rate END) OVER wa AS cavg,
    stddev_samp(CASE WHEN rn <= 12 THEN fail_rate END) OVER wa AS cstd
  FROM rk WINDOW wa AS (PARTITION BY rule_id ORDER BY snapshot_ord
    ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
),
cal AS (
  SELECT *,
    CASE WHEN cmin = cmax THEN cmin ELSE cavg END AS mu0,
    CASE WHEN cmin = cmax THEN 0.0 ELSE coalesce(cstd, 0.0) END AS sigma0,
    (cmin = cmax) AS const0
  FROM calw
),
contrib AS (
  SELECT *,
    CASE WHEN rn > 12 AND sigma0 > 0
         THEN (fail_rate - mu0)/sigma0 - 0.5 END AS cp,
    CASE WHEN rn > 12 AND sigma0 > 0
         THEN -((fail_rate - mu0)/sigma0) - 0.5 END AS cn
  FROM cal
),
sums AS (
  SELECT *, sum(cp) OVER wi AS p_pos, sum(cn) OVER wi AS p_neg
  FROM contrib WINDOW wi AS (PARTITION BY rule_id ORDER BY snapshot_ord
    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
),
cusum AS (
  SELECT rule_id, snapshot_ord, fail_rate, n_history,
    CASE WHEN cp IS NOT NULL
         THEN (p_pos - LEAST(0.0, min(p_pos) OVER wi) > 4.0)
           OR (p_neg - LEAST(0.0, min(p_neg) OVER wi) > 4.0)
         WHEN rn > 12 AND sigma0 = 0 AND const0
         THEN fail_rate != mu0
         ELSE FALSE END AS is_anomaly
  FROM sums WINDOW wi AS (PARTITION BY rule_id ORDER BY snapshot_ord
    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
)
SELECT 'chart' AS family, rule_id, snapshot_ord, fail_rate,
       CAST(n_history AS BIGINT) AS n_history,
       CASE WHEN n_history < 6 THEN FALSE
            WHEN scale > 0 THEN abs((fail_rate - center) / scale) > 2.5
            ELSE fail_rate != center END AS is_anomaly,
       '' AS direction
FROM chart
UNION ALL
SELECT 'cusum', rule_id, snapshot_ord, fail_rate,
       CAST(n_history AS BIGINT) AS n_history, is_anomaly, ''
FROM cusum
UNION ALL
-- flips family (round 5): the batch verdict_flips lag() semantics —
-- first observation never flips; pass is non-null here (fail_rate is a
-- count ratio), transition rows only, direction from the NEW verdict.
-- Chart columns are sentinel-padded (-1/false, never NULL: the driver
-- row-sort compares cells positionally, None-vs-value raises)
SELECT 'flips', rule_id, snapshot_ord,
       CAST(-1.0 AS DOUBLE), CAST(-1 AS BIGINT), FALSE,
       CASE WHEN pass THEN 'recovered' ELSE 'regressed' END
FROM (
  SELECT rule_id, snapshot_ord, (fail_rate <= 0.10) AS pass,
         lag(fail_rate <= 0.10) OVER
           (PARTITION BY rule_id ORDER BY snapshot_ord) AS prev_pass
  FROM hist
) WHERE prev_pass IS NOT NULL AND prev_pass != pass
"""

_REF_ORPHANS_SQL = """
SELECT c_custkey, c_nationkey FROM customer
WHERE c_nationkey NOT IN (SELECT r_regionkey FROM region WHERE r_regionkey IS NOT NULL)
"""

_REF_VERDICT_SQL = """
SELECT 'ref:l_partkey->p_partkey' AS rule_id,
       (SELECT CAST(count(*) AS BIGINT) FROM lineitem) AS n_checked,
       (SELECT CAST(count(*) AS BIGINT) FROM lineitem
        WHERE l_partkey NOT IN (SELECT p_partkey FROM part WHERE p_partkey IS NOT NULL)
       ) AS n_failed,
       ((SELECT count(*) FROM lineitem
         WHERE l_partkey NOT IN (SELECT p_partkey FROM part WHERE p_partkey IS NOT NULL)
        ) = 0) AS pass
"""

# histogram CTEs shared by KS/PSI: bucket i = floor((q - 0.5)/1.0) + 1 —
# identical to width_bucket(q, 0.5, 50.5, 50) for in-range values
_HIST_CTE = """
WITH a AS (
  SELECT CAST(floor((l_quantity - 0.5) / 1.0) + 1 AS INT) AS bucket, count(*) AS n
  FROM lineitem WHERE l_orderkey % 2 = 0 AND l_quantity IS NOT NULL GROUP BY 1
), b AS (
  SELECT CAST(floor((l_quantity - 0.5) / 1.0) + 1 AS INT) AS bucket, count(*) AS n
  FROM lineitem WHERE l_orderkey % 2 = 1 AND l_quantity IS NOT NULL GROUP BY 1
), j AS (
  SELECT COALESCE(a.bucket, b.bucket) AS bucket,
         COALESCE(CAST(a.n AS DOUBLE) / (SELECT sum(n) FROM a), 0.0) AS pa,
         COALESCE(CAST(b.n AS DOUBLE) / (SELECT sum(n) FROM b), 0.0) AS pb
  FROM a FULL OUTER JOIN b ON a.bucket = b.bucket
)
"""

_DRIFT_STATS_SQL = (
    _HIST_CTE
    + """
, c AS (
  SELECT bucket,
         sum(pa) OVER (ORDER BY bucket) AS ca,
         sum(pb) OVER (ORDER BY bucket) AS cb,
         -- last-row gap spans through the overflow bucket (n_buckets+2=52),
         -- matching _distribution_stats' one-sided EMD tail; for
         -- this two-sided column the last-row CDF diff is 0 (weight moot)
         COALESCE(lead(bucket) OVER (ORDER BY bucket), 52) - bucket AS gap
  FROM j
)
SELECT 'l_quantity' AS "column",
       (SELECT round(max(abs(ca - cb)), 6) FROM c) AS ks,
       (SELECT round(sum((greatest(pa, 1e-6) - greatest(pb, 1e-6))
                 * ln(greatest(pa, 1e-6) / greatest(pb, 1e-6))), 6) FROM j) AS psi,
       (SELECT round(0.5 * sum(CASE WHEN pa > 0 THEN pa * ln(pa / ((pa + pb)/2)) ELSE 0 END)
           + 0.5 * sum(CASE WHEN pb > 0 THEN pb * ln(pb / ((pa + pb)/2)) ELSE 0 END), 6) FROM j) AS js,
       -- 1-Wasserstein: sum |CDF gap| x (gap to next populated bucket)
       -- x bucket_width ((50.5-0.5)/50 = 1.0)
       (SELECT round(sum(abs(ca - cb) * gap) * 1.0, 6) FROM c) AS emd
"""
)

# per_group_localization_profile oracle: every family recomputed
# independently in DuckDB keyed by group — the per-group twins of the
# gated global oracles (_DRIFT_STATS_SQL histogram/cumsum conventions,
# _CATEGORICAL_PROFILE_SQL contingency formulas, the LATERAL
# quantile_cont robust-outlier chain). EMD's last-row gap spans through
# the overflow bucket (n_buckets+2 = 52), matching
# _distribution_stats' one-sided tail convention.
_PER_GROUP_LOCALIZATION_SQL = """
WITH ga AS (
  SELECT l_returnflag AS grp,
         CAST(floor((l_quantity - 0.5) / 1.0) + 1 AS INT) AS bucket,
         count(*) AS n
  FROM lineitem
  WHERE l_orderkey % 2 = 0 AND l_quantity IS NOT NULL
    AND l_returnflag IS NOT NULL
  GROUP BY 1, 2
), gb AS (
  SELECT l_returnflag AS grp,
         CAST(floor((l_quantity - 0.5) / 1.0) + 1 AS INT) AS bucket,
         count(*) AS n
  FROM lineitem
  WHERE l_orderkey % 2 = 1 AND l_quantity IS NOT NULL
    AND l_returnflag IS NOT NULL
  GROUP BY 1, 2
), ta AS (SELECT grp, sum(n) AS t FROM ga GROUP BY 1),
tb AS (SELECT grp, sum(n) AS t FROM gb GROUP BY 1),
gj AS (
  SELECT COALESCE(ga.grp, gb.grp) AS grp,
         COALESCE(ga.bucket, gb.bucket) AS bucket,
         COALESCE(ga.n, 0) AS na,
         COALESCE(gb.n, 0) AS nb,
         COALESCE(CAST(ga.n AS DOUBLE) / ta.t, 0.0) AS pa,
         COALESCE(CAST(gb.n AS DOUBLE) / tb.t, 0.0) AS pb
  FROM ga FULL OUTER JOIN gb ON ga.grp = gb.grp AND ga.bucket = gb.bucket
  LEFT JOIN ta ON ta.grp = COALESCE(ga.grp, gb.grp)
  LEFT JOIN tb ON tb.grp = COALESCE(ga.grp, gb.grp)
), gc AS (
  SELECT grp, bucket,
         sum(pa) OVER w AS ca,
         sum(pb) OVER w AS cb,
         COALESCE(lead(bucket) OVER (PARTITION BY grp ORDER BY bucket), 52)
           - bucket AS gap
  FROM gj
  WINDOW w AS (PARTITION BY grp ORDER BY bucket
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
), drift AS (
  SELECT gj.grp,
         (SELECT round(max(abs(ca - cb)), 6) FROM gc WHERE gc.grp = gj.grp)
           AS ks,
         round(sum((greatest(pa, 1e-6) - greatest(pb, 1e-6))
               * ln(greatest(pa, 1e-6) / greatest(pb, 1e-6))), 6) AS psi,
         round(0.5 * sum(CASE WHEN pa > 0
                              THEN pa * ln(pa / ((pa + pb)/2)) ELSE 0 END)
             + 0.5 * sum(CASE WHEN pb > 0
                              THEN pb * ln(pb / ((pa + pb)/2)) ELSE 0 END), 6)
           AS js,
         (SELECT round(sum(abs(ca - cb) * gap) * 1.0, 6)
          FROM gc WHERE gc.grp = gj.grp) AS emd,
         CAST(sum(na) AS DOUBLE) AS n_a,
         CAST(sum(nb) AS DOUBLE) AS n_b
  FROM gj GROUP BY gj.grp
), cha AS (
  SELECT l_returnflag AS grp, l_linestatus AS cat, CAST(count(*) AS DOUBLE) AS na
  FROM lineitem
  WHERE l_orderkey % 2 = 0 AND l_returnflag IS NOT NULL
    AND l_linestatus IS NOT NULL
  GROUP BY 1, 2
), chb AS (
  SELECT l_returnflag AS grp, l_linestatus AS cat, CAST(count(*) AS DOUBLE) AS nb
  FROM lineitem
  WHERE l_orderkey % 2 = 1 AND l_returnflag IS NOT NULL
    AND l_linestatus IS NOT NULL
  GROUP BY 1, 2
), cj AS (
  SELECT COALESCE(cha.grp, chb.grp) AS grp,
         COALESCE(na, 0) AS na, COALESCE(nb, 0) AS nb
  FROM cha FULL OUTER JOIN chb
    ON cha.grp = chb.grp AND cha.cat = chb.cat
), ct AS (
  SELECT grp, count(*) AS kk, sum(na) AS ta2, sum(nb) AS tb2
  FROM cj GROUP BY 1
), catd AS (
  SELECT cj.grp,
         round(sum(pow(na - (na+nb)*ta2/(ta2+tb2), 2)
                     / ((na+nb)*ta2/(ta2+tb2))
                 + pow(nb - (na+nb)*tb2/(ta2+tb2), 2)
                     / ((na+nb)*tb2/(ta2+tb2))), 6) AS chi2,
         round(sqrt(sum(pow(na - (na+nb)*ta2/(ta2+tb2), 2)
                          / ((na+nb)*ta2/(ta2+tb2))
                      + pow(nb - (na+nb)*tb2/(ta2+tb2), 2)
                          / ((na+nb)*tb2/(ta2+tb2)))
                    / max(ta2+tb2)), 6) AS cramers_v,
         round(0.5 * sum(abs(na/ta2 - nb/tb2)), 6) AS tvd,
         CAST(max(kk) AS DOUBLE) AS n_categories,
         CAST(max(kk) - 1 AS DOUBLE) AS dof,
         CAST(max(ta2) AS DOUBLE) AS n_a,
         CAST(max(tb2) AS DOUBLE) AS n_b
  FROM cj JOIN ct ON cj.grp = ct.grp GROUP BY cj.grp
), hhc AS (
  SELECT COALESCE(CAST(l_returnflag AS VARCHAR), 'NULL') AS grp,
         COALESCE(CAST(l_linenumber AS VARCHAR), 'NULL') AS value,
         count(*) AS n
  FROM lineitem GROUP BY 1, 2
), hhr AS (
  SELECT grp, value, CAST(n AS DOUBLE) AS n,
         round(CAST(n AS DOUBLE) / sum(n) OVER (PARTITION BY grp), 6)
           AS share,
         row_number() OVER (PARTITION BY grp ORDER BY n DESC, value ASC)
           AS rk
  FROM hhc
), rq AS (
  SELECT l_returnflag AS grp,
         CAST(quantile_cont(l_extendedprice, 0.25) AS DOUBLE) AS q1,
         CAST(quantile_cont(l_extendedprice, 0.5) AS DOUBLE) AS med,
         CAST(quantile_cont(l_extendedprice, 0.75) AS DOUBLE) AS q3
  FROM lineitem WHERE l_returnflag IS NOT NULL GROUP BY 1
), rm AS (
  SELECT l.l_returnflag AS grp,
         CAST(quantile_cont(abs(l.l_extendedprice - rq.med), 0.5) AS DOUBLE)
           AS mad
  FROM lineitem l JOIN rq ON rq.grp = l.l_returnflag GROUP BY 1
), rob AS (
  SELECT rq.grp, rq.q1, rq.med, rq.q3, rq.q3 - rq.q1 AS iqr, rm.mad,
         (SELECT CAST(count(l_extendedprice) AS DOUBLE) FROM lineitem l
          WHERE l.l_returnflag = rq.grp) AS n_values,
         (SELECT CAST(sum(CASE WHEN l_extendedprice < rq.q1 - 1.5*(rq.q3-rq.q1)
                                 OR l_extendedprice > rq.q3 + 1.5*(rq.q3-rq.q1)
                          THEN 1 ELSE 0 END) AS DOUBLE) FROM lineitem l
          WHERE l.l_returnflag = rq.grp) AS n_tukey_outliers,
         (SELECT CAST(sum(CASE WHEN abs(l_extendedprice - rq.med)
                                    > 3.0 * 1.4826 * rm.mad
                          THEN 1 ELSE 0 END) AS DOUBLE) FROM lineitem l
          WHERE l.l_returnflag = rq.grp) AS n_robust_outliers
  FROM rq JOIN rm ON rq.grp = rm.grp
), cva AS (
  SELECT CAST(embedding AS DOUBLE[]) AS e FROM embeddings
  WHERE label < 5 AND embedding IS NOT NULL AND len(embedding) = 64
), cvb AS (
  SELECT CAST(embedding AS DOUBLE[]) AS e FROM embeddings
  WHERE label >= 5 AND embedding IS NOT NULL AND len(embedding) = 64
), cma AS (
  SELECT i.i AS pos, avg(e[i.i]) AS m_a, count(*) AS cn_a
  FROM cva CROSS JOIN generate_series(1, 64) AS i(i) GROUP BY 1
), cmb AS (
  SELECT i.i AS pos, avg(e[i.i]) AS m_b, count(*) AS cn_b
  FROM cvb CROSS JOIN generate_series(1, 64) AS i(i) GROUP BY 1
), cent AS (
  SELECT CAST(max(cn_a) AS DOUBLE) AS n_a,
         CAST(max(cn_b) AS DOUBLE) AS n_b,
         round(sqrt(sum(pow(m_a - m_b, 2))), 6) AS centroid_l2,
         round(sum(m_a * m_b)
               / (sqrt(sum(m_a * m_a)) * sqrt(sum(m_b * m_b))), 6)
           AS centroid_cos
  FROM cma JOIN cmb USING (pos)
)
SELECT 'drift:l_quantity' AS family, grp AS "group", 'ks' AS stat, ks AS value FROM drift
UNION ALL SELECT 'drift:l_quantity', grp, 'psi', psi FROM drift
UNION ALL SELECT 'drift:l_quantity', grp, 'js', js FROM drift
UNION ALL SELECT 'drift:l_quantity', grp, 'emd', emd FROM drift
UNION ALL SELECT 'drift:l_quantity', grp, 'n_a', n_a FROM drift
UNION ALL SELECT 'drift:l_quantity', grp, 'n_b', n_b FROM drift
UNION ALL SELECT 'categorical_drift:l_linestatus', grp, 'chi2', chi2 FROM catd
UNION ALL SELECT 'categorical_drift:l_linestatus', grp, 'cramers_v', cramers_v FROM catd
UNION ALL SELECT 'categorical_drift:l_linestatus', grp, 'tvd', tvd FROM catd
UNION ALL SELECT 'categorical_drift:l_linestatus', grp, 'n_categories', n_categories FROM catd
UNION ALL SELECT 'categorical_drift:l_linestatus', grp, 'dof', dof FROM catd
UNION ALL SELECT 'categorical_drift:l_linestatus', grp, 'n_a', n_a FROM catd
UNION ALL SELECT 'categorical_drift:l_linestatus', grp, 'n_b', n_b FROM catd
UNION ALL SELECT 'heavy_hitters:l_linenumber', grp, 'n:' || value, n FROM hhr WHERE rk <= 3
UNION ALL SELECT 'heavy_hitters:l_linenumber', grp, 'share:' || value, share FROM hhr WHERE rk <= 3
UNION ALL SELECT 'robust_outliers:l_extendedprice', grp, 'q1', q1 FROM rob
UNION ALL SELECT 'robust_outliers:l_extendedprice', grp, 'median', med FROM rob
UNION ALL SELECT 'robust_outliers:l_extendedprice', grp, 'q3', q3 FROM rob
UNION ALL SELECT 'robust_outliers:l_extendedprice', grp, 'iqr', iqr FROM rob
UNION ALL SELECT 'robust_outliers:l_extendedprice', grp, 'mad', mad FROM rob
UNION ALL SELECT 'robust_outliers:l_extendedprice', grp, 'n_values', n_values FROM rob
UNION ALL SELECT 'robust_outliers:l_extendedprice', grp, 'n_tukey_outliers', n_tukey_outliers FROM rob
UNION ALL SELECT 'robust_outliers:l_extendedprice', grp, 'n_robust_outliers', n_robust_outliers FROM rob
UNION ALL SELECT 'embedding_centroid:labels', 'all', 'centroid_l2', centroid_l2 FROM cent
UNION ALL SELECT 'embedding_centroid:labels', 'all', 'centroid_cos', centroid_cos FROM cent
UNION ALL SELECT 'embedding_centroid:labels', 'all', 'n_a', n_a FROM cent
UNION ALL SELECT 'embedding_centroid:labels', 'all', 'n_b', n_b FROM cent
"""


def _suggested_spec_sql() -> str:
    """suggested_spec_lineitem oracle: every suggested keyword recomputed
    independently in DuckDB over the same table — required from null
    counts, numeric minimum/maximum from min/max, string byte-lengths from
    strlen (DuckDB strlen = bytes = Spark octet_length), enum from exact
    DISTINCT (emitted only when cardinality ≤ 8, the suggestion's exact
    decision rule). ``type`` rows pin the expected dtype→keyword mapping
    (integral → the tighter 'integer'; temporal → 'string')."""
    num_cols = [
        "l_orderkey", "l_partkey", "l_suppkey", "l_linenumber",
        "l_quantity", "l_extendedprice", "l_discount", "l_tax",
    ]
    int_cols = {"l_orderkey", "l_partkey", "l_suppkey", "l_linenumber"}
    str_cols = ["l_returnflag", "l_linestatus"]
    type_vals = ", ".join(
        [
            f"('{c}', 'type', CAST(NULL AS DOUBLE), "
            f"'{'integer' if c in int_cols else 'number'}')"
            for c in num_cols
        ]
        + [f"('{c}', 'type', CAST(NULL AS DOUBLE), 'string')" for c in str_cols]
        + ["('l_shipdate', 'type', CAST(NULL AS DOUBLE), 'string')"]
    )
    parts = [f"SELECT * FROM (VALUES {type_vals}) tv(c, k, vn, vs)"]
    for c in num_cols + str_cols + ["l_shipdate"]:
        parts.append(
            f"SELECT '{c}', 'required', CAST(NULL AS DOUBLE), 'true' "
            f"FROM lineitem HAVING count(*) = count({c}) AND count(*) > 0"
        )
    for c in num_cols:
        for kw, fn in (("minimum", "min"), ("maximum", "max")):
            parts.append(
                f"SELECT '{c}', '{kw}', CAST({fn}({c}) AS DOUBLE), "
                f"CAST(NULL AS VARCHAR) FROM lineitem HAVING count({c}) > 0"
            )
    for c in str_cols:
        for kw, fn in (("minLength", "min"), ("maxLength", "max")):
            parts.append(
                f"SELECT '{c}', '{kw}', CAST({fn}(strlen({c})) AS DOUBLE), "
                f"CAST(NULL AS VARCHAR) FROM lineitem HAVING count({c}) > 0"
            )
        parts.append(
            f"SELECT '{c}', 'enum', CAST(NULL AS DOUBLE), v FROM "
            f"(SELECT DISTINCT {c} AS v FROM lineitem WHERE {c} IS NOT NULL) "
            f"WHERE (SELECT count(DISTINCT {c}) FROM lineitem) BETWEEN 1 AND 8"
        )
    union = "\nUNION ALL\n".join(parts)
    return (
        'SELECT c AS "column", k AS keyword, vn AS value_num, '
        "vs AS value_str, TRUE AS roundtrip_valid FROM (\n" + union + "\n) u"
    )


def _spec_drift_sql() -> str:
    """spec_constraint_drift oracle: recompute BOTH sides' suggested
    profiles independently in DuckDB (full lineitem vs the drifted slice)
    and classify every transition with the same bound-direction rules —
    a lower bound rising / an upper bound falling / an enum shrinking is
    'tightened', the reverse 'loosened', an incomparable enum 'changed'.
    Only keywords whose value differs between sides emit a row (the
    spec_diff contract); `type` never drifts (same schema both sides)."""
    pred = "l_quantity <= 40 AND l_returnflag <> 'R'"
    num_cols = ["l_quantity", "l_linenumber", "l_extendedprice"]
    str_cols = ["l_returnflag", "l_linestatus"]
    null_s = "CAST(NULL AS VARCHAR)"
    null_n = "CAST(NULL AS DOUBLE)"
    parts = []
    for c in num_cols + str_cols:
        # required flips (none expected on lineitem — kept so the oracle,
        # not the query author, decides)
        parts.append(
            f"SELECT '{c}' AS c, 'required' AS k, {null_n} AS onum, "
            f"{null_n} AS nnum, CASE WHEN o.r THEN 'true' END AS ostr, "
            "CASE WHEN n.r THEN 'true' END AS nstr, "
            "CASE WHEN n.r THEN 'tightened' ELSE 'loosened' END AS ch "
            f"FROM (SELECT count(*) = count({c}) AND count(*) > 0 AS r "
            "FROM lineitem) o, "
            f"(SELECT count(*) = count({c}) AND count(*) > 0 AS r "
            f"FROM lineitem WHERE {pred}) n WHERE o.r <> n.r"
        )
    for c in num_cols:
        for kw, fn, tight in (
            ("minimum", "min", "n.v > o.v"),
            ("maximum", "max", "n.v < o.v"),
        ):
            parts.append(
                f"SELECT '{c}', '{kw}', CAST(o.v AS DOUBLE), "
                f"CAST(n.v AS DOUBLE), {null_s}, {null_s}, "
                f"CASE WHEN {tight} THEN 'tightened' ELSE 'loosened' END "
                f"FROM (SELECT {fn}({c}) v FROM lineitem) o, "
                f"(SELECT {fn}({c}) v FROM lineitem WHERE {pred}) n "
                "WHERE o.v <> n.v"
            )
    for c in str_cols:
        for kw, fn, tight in (
            ("minLength", "min", "n.v > o.v"),
            ("maxLength", "max", "n.v < o.v"),
        ):
            parts.append(
                f"SELECT '{c}', '{kw}', CAST(o.v AS DOUBLE), "
                f"CAST(n.v AS DOUBLE), {null_s}, {null_s}, "
                f"CASE WHEN {tight} THEN 'tightened' ELSE 'loosened' END "
                f"FROM (SELECT {fn}(strlen({c})) v FROM lineitem) o, "
                f"(SELECT {fn}(strlen({c})) v FROM lineitem WHERE {pred}) n "
                "WHERE o.v <> n.v"
            )
        # enum drift: exact distinct sets, emitted only when BOTH sides
        # suggest an enum (cardinality 1..8 — true for both columns here)
        parts.append(
            f"SELECT '{c}', 'enum', {null_n}, {null_n}, "
            "array_to_string(o.l, ','), array_to_string(n.l, ','), "
            "CASE WHEN len(list_intersect(n.l, o.l)) = len(n.l) "
            "AND len(n.l) < len(o.l) THEN 'tightened' "
            "WHEN len(list_intersect(n.l, o.l)) = len(o.l) "
            "AND len(o.l) < len(n.l) THEN 'loosened' "
            "ELSE 'changed' END "
            f"FROM (SELECT list_sort(list(DISTINCT {c})) l FROM lineitem "
            f"WHERE {c} IS NOT NULL) o, "
            f"(SELECT list_sort(list(DISTINCT {c})) l FROM lineitem "
            f"WHERE {c} IS NOT NULL AND {pred}) n "
            "WHERE len(o.l) BETWEEN 1 AND 8 AND len(n.l) BETWEEN 1 AND 8 "
            "AND o.l <> n.l"
        )
    union = "\nUNION ALL\n".join(parts)
    return (
        'SELECT c AS "column", k AS keyword, onum AS old_num, '
        "nnum AS new_num, ostr AS old_str, nstr AS new_str, ch AS change "
        "FROM (\n" + union + "\n) u"
    )


_DRIFT_PROFILE_SQL_CACHE: str | None = None


def _drift_stats_profile_sql() -> str:
    """drift_stats_profile oracle: the l_quantity histogram statistics
    computed by DuckDB itself (_DRIFT_STATS_SQL) UNION ALL the embedding
    drift rows as a golden VALUES table — DuckDB's list_dot_product has an
    unspecified summation order, so the projections come from the
    independent sequential-left-fold reimplementation in
    oracle.embedding_drift_stat_rows (the ann/audio golden convention).
    Cached: the pure-Python folds cost ~0.5 s per call."""
    global _DRIFT_PROFILE_SQL_CACHE
    if _DRIFT_PROFILE_SQL_CACHE is None:
        from jsonschema_validator_spark import oracle as o

        vals = o.values_sql(
            o.embedding_drift_stat_rows(),
            ["column", "ks", "psi", "js", "emd"],
            ["VARCHAR", "DOUBLE", "DOUBLE", "DOUBLE", "DOUBLE"],
        )
        _DRIFT_PROFILE_SQL_CACHE = _DRIFT_STATS_SQL + "\nUNION ALL\n" + vals
    return _DRIFT_PROFILE_SQL_CACHE


_FP_EXPR = "substr(md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')), 1, 16)"

_DEDUP_EXACT_SQL = f"""
WITH f AS (SELECT doc_id, {_FP_EXPR} AS fp FROM documents)
SELECT fp AS fingerprint, doc_id FROM f
WHERE fp IN (SELECT fp FROM f GROUP BY fp HAVING count(*) > 1)
"""


def _stratified_split_sql() -> str:
    """Oracle for stratified_split_documents: the byte-identical md5-prefix
    threshold expressions, thresholds computed by the SAME hex_threshold
    used by the Spark operator (single source of truth, no drift)."""
    from jsonschema_validator_spark.operators.sampling import hex_threshold

    t_en, t_zh, t_def = hex_threshold(0.5), hex_threshold(1.0), hex_threshold(0.75)
    # cumulative split thresholds over name-ascending labels (test,train,val),
    # accumulated in the exact float order hash_split uses (ulp-for-ulp)
    weights = {"train": 0.8, "val": 0.1, "test": 0.1}
    total = sum(weights.values())
    cum = weights["test"] / total
    t_test = hex_threshold(cum)
    cum += weights["train"] / total
    t_train = hex_threshold(cum)
    return f"""
WITH kept AS (
  SELECT doc_id, lang FROM documents
  WHERE substr(md5(CAST(doc_id AS VARCHAR) || ':sample'), 1, 8) <
        CASE lang WHEN 'en' THEN '{t_en}' WHEN 'zh' THEN '{t_zh}'
                  ELSE '{t_def}' END
)
SELECT doc_id, lang,
       CASE WHEN substr(md5(CAST(doc_id AS VARCHAR) || ':split'), 1, 8)
                 < '{t_test}' THEN 'test'
            WHEN substr(md5(CAST(doc_id AS VARCHAR) || ':split'), 1, 8)
                 < '{t_train}' THEN 'train'
            ELSE 'val' END AS split
FROM kept
"""


# PII patterns duplicated from operators/text.py PII_PATTERNS — RE2-compatible
# by construction (no backrefs, non-capturing groups only) so Java and DuckDB
# agree match-for-match. Redaction order = sorted class name, same as pii_scan.
_PII_EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
_PII_IPV4_RE = r"\b(?:[0-9]{1,3}\.){3}[0-9]{1,3}\b"
_PII_PHONE_RE = r"\b[0-9]{3}-[0-9]{3,4}-[0-9]{4}\b"
_PII_SSN_RE = r"\b[0-9]{3}-[0-9]{2}-[0-9]{4}\b"

_PII_SCRUB_SQL = f"""
WITH aug AS (
  SELECT doc_id,
         text
         || CASE WHEN doc_id % 7 = 0
                 THEN ' contact user' || CAST(doc_id AS VARCHAR) || '@example.com'
                 ELSE '' END
         || CASE WHEN doc_id % 11 = 0
                 THEN ' from 10.0.' || CAST(doc_id % 256 AS VARCHAR) || '.7'
                 ELSE '' END
         || CASE WHEN doc_id % 13 = 0 THEN ' call 555-123-4567' ELSE '' END
         || CASE WHEN doc_id % 17 = 0 THEN ' ssn 987-65-4321' ELSE '' END AS t
  FROM documents WHERE text IS NOT NULL
)
SELECT doc_id,
       CAST(len(regexp_extract_all(t, '{_PII_EMAIL_RE}')) AS INT) AS n_email,
       CAST(len(regexp_extract_all(t, '{_PII_IPV4_RE}')) AS INT) AS n_ipv4,
       CAST(len(regexp_extract_all(t, '{_PII_PHONE_RE}')) AS INT) AS n_phone,
       CAST(len(regexp_extract_all(t, '{_PII_SSN_RE}')) AS INT) AS n_ssn,
       md5(regexp_replace(regexp_replace(regexp_replace(regexp_replace(t,
           '{_PII_EMAIL_RE}', '[PII]', 'g'),
           '{_PII_IPV4_RE}', '[PII]', 'g'),
           '{_PII_PHONE_RE}', '[PII]', 'g'),
           '{_PII_SSN_RE}', '[PII]', 'g')) AS redacted_md5
FROM aug
"""

# streaming_windowed_drift oracle (round 5, long shape): the windowed
# KS/PSI pipeline as before, plus the categorical family — per-window
# homogeneity contingency vs the full-table event_type baseline, the
# identical chi²/Cramér's V/TVD formulas as the gated batch categorical
# oracles (baseline = side a, window = side b; the grid pins every
# baseline category under every window so a category a window lost
# entirely still contributes).
_STREAM_DRIFT_SQL = """
WITH wh AS (
  SELECT CAST(floor(epoch(ts)/86400)*86400 AS BIGINT) AS ord,
         CAST(least(greatest(floor(value / 20.0) + 1, 0), 26) AS INT) AS bucket,
         count(*) AS n
  FROM events WHERE value IS NOT NULL AND ts IS NOT NULL GROUP BY 1, 2
),
ws AS (SELECT ord, bucket,
              n / (sum(n) OVER (PARTITION BY ord)) AS pw FROM wh),
bh AS (SELECT CAST(least(greatest(floor(value / 20.0) + 1, 0), 26) AS INT) AS bucket,
              count(*) AS n
       FROM events WHERE value IS NOT NULL GROUP BY 1),
bs AS (SELECT bucket, n / (sum(n) OVER ()) AS pb FROM bh),
grid AS (SELECT w.ord, b.bucket, b.pb
         FROM (SELECT DISTINCT ord FROM ws) w CROSS JOIN bs b),
j AS (
  SELECT COALESCE(g.ord, s.ord) AS ord,
         COALESCE(g.bucket, s.bucket) AS bucket,
         COALESCE(s.pw, 0) AS pw, COALESCE(g.pb, 0) AS pb
  FROM grid g FULL OUTER JOIN ws s
    ON g.ord = s.ord AND g.bucket = s.bucket
),
c AS (
  SELECT ord, pw, pb,
         sum(pw) OVER (PARTITION BY ord ORDER BY bucket) AS cw,
         sum(pb) OVER (PARTITION BY ord ORDER BY bucket) AS cb
  FROM j
),
num AS (
  SELECT ord,
         round(max(abs(cw - cb)), 6) AS ks,
         round(sum((greatest(pw, 1e-6) - greatest(pb, 1e-6))
                   * ln(greatest(pw, 1e-6) / greatest(pb, 1e-6))), 6) AS psi
  FROM c GROUP BY ord
),
cw_ AS (
  SELECT CAST(floor(epoch(ts)/86400)*86400 AS BIGINT) AS ord,
         CAST(event_type AS VARCHAR) AS cat, count(*) AS n
  FROM events WHERE ts IS NOT NULL AND event_type IS NOT NULL GROUP BY 1, 2
),
cb_ AS (
  SELECT CAST(event_type AS VARCHAR) AS cat, count(*) AS n
  FROM events WHERE event_type IS NOT NULL GROUP BY 1
),
cgrid AS (
  SELECT w.ord, b.cat, CAST(b.n AS DOUBLE) AS na
  FROM (SELECT DISTINCT ord FROM cw_) w CROSS JOIN cb_ b
),
cj AS (
  SELECT g.ord, COALESCE(g.na, 0) AS na, COALESCE(CAST(s.n AS DOUBLE), 0) AS nb
  FROM cgrid g FULL OUTER JOIN cw_ s ON g.ord = s.ord AND g.cat = s.cat
),
ct AS (SELECT ord, count(*) AS kk, sum(na) AS ta2, sum(nb) AS tb2
       FROM cj GROUP BY 1),
catd AS (
  SELECT cj.ord,
         round(sum(pow(na - (na+nb)*ta2/(ta2+tb2), 2)
                     / ((na+nb)*ta2/(ta2+tb2))
                 + pow(nb - (na+nb)*tb2/(ta2+tb2), 2)
                     / ((na+nb)*tb2/(ta2+tb2))), 6) AS chi2,
         round(sqrt(sum(pow(na - (na+nb)*ta2/(ta2+tb2), 2)
                          / ((na+nb)*ta2/(ta2+tb2))
                      + pow(nb - (na+nb)*tb2/(ta2+tb2), 2)
                          / ((na+nb)*tb2/(ta2+tb2)))
                    / max(ta2+tb2)), 6) AS cramers_v,
         round(0.5 * sum(abs(na/ta2 - nb/tb2)), 6) AS tvd,
         CAST(max(kk) AS DOUBLE) AS n_categories,
         CAST(max(kk) - 1 AS DOUBLE) AS dof
  FROM cj JOIN ct ON cj.ord = ct.ord GROUP BY cj.ord
)
SELECT 'numeric:value' AS family, ord, 'ks' AS stat, ks AS value FROM num
UNION ALL SELECT 'numeric:value', ord, 'psi', psi FROM num
UNION ALL SELECT 'categorical:event_type', ord, 'chi2', chi2 FROM catd
UNION ALL SELECT 'categorical:event_type', ord, 'cramers_v', cramers_v FROM catd
UNION ALL SELECT 'categorical:event_type', ord, 'tvd', tvd FROM catd
UNION ALL SELECT 'categorical:event_type', ord, 'n_categories', n_categories FROM catd
UNION ALL SELECT 'categorical:event_type', ord, 'dof', dof FROM catd
"""

_STREAM_DEDUP_SQL = f"""
WITH inp AS (
  SELECT doc_id, text FROM documents WHERE text IS NOT NULL
  UNION ALL
  SELECT doc_id + 1000, text FROM documents
  WHERE text IS NOT NULL AND doc_id % 50 = 0 AND doc_id < 200
  UNION ALL
  SELECT doc_id + 2000, text FROM documents
  WHERE text IS NOT NULL AND doc_id % 70 = 0 AND doc_id < 400
),
r AS (
  SELECT doc_id, text,
         row_number() OVER (PARTITION BY {_FP_EXPR} ORDER BY doc_id) AS rn
  FROM inp
)
SELECT doc_id, text FROM r WHERE rn = 1
"""

# streaming_decontamination oracle: per-document 5-word-shingle overlap vs
# the deterministic eval slice — the same canonicalization SQL the funnel's
# stage 6 uses (lower/trim/collapse-ws; < k tokens -> whole text; distinct
# shingles), exposed per document with the full fraction instead of the
# funnel's count-only gate. round() parity: contamination_frac is
# HALF_UP-rounded at 6 dp on both sides (the engine-wide F.round
# convention; the stream twin rounds with the batch operator's own
# dedup._contamination_flags).
_STREAM_DECON_SQL = """
WITH bsh AS (
  SELECT CASE WHEN len(t) < 5 THEN [array_to_string(t, ' ')]
         ELSE list_distinct(list_transform(generate_series(1, len(t) - 4),
              i -> array_to_string(list_slice(t, i, i + 4), ' '))) END AS sh
  FROM (SELECT string_split(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), ' ') AS t
        FROM documents WHERE doc_id % 97 = 0 AND text IS NOT NULL)
),
bset AS (SELECT DISTINCT unnest(sh) AS s FROM bsh),
dsh AS (
  SELECT doc_id,
         CASE WHEN len(t) < 5 THEN [array_to_string(t, ' ')]
         ELSE list_distinct(list_transform(generate_series(1, len(t) - 4),
              i -> array_to_string(list_slice(t, i, i + 4), ' '))) END AS sh
  FROM (SELECT doc_id,
               string_split(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), ' ') AS t
        FROM documents WHERE text IS NOT NULL)
),
dexp AS (SELECT doc_id, unnest(sh) AS s FROM dsh),
dm AS (SELECT e.doc_id, count(*) AS n, count(b.s) AS m
       FROM dexp e LEFT JOIN bset b ON e.s = b.s GROUP BY e.doc_id)
SELECT doc_id, CAST(n AS BIGINT) AS n_shingles, CAST(m AS BIGINT) AS n_matched,
       round(CAST(m AS DOUBLE) / n, 6) AS contamination_frac,
       round(CAST(m AS DOUBLE) / n, 6) >= 0.5 AS contaminated
FROM dm
"""

_BPE_RE = "[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]"

_EN_STOP = "['the','and','of','to','a','in','is','that','for','it']"
_DE_STOP = "['der','die','das','und','ist','nicht','ein','mit','für','auf']"
_FR_STOP = "['le','la','les','et','est','une','pour','dans','que','des']"
_ES_STOP = "['el','la','los','y','es','una','para','en','que','por']"

# merged per-document text profile (round 4): the former token-counts,
# quality, langid and fingerprint oracles' expressions verbatim, one pass
_TEXT_PROFILE_SQL = f"""
WITH base AS (
  SELECT doc_id, text,
         length(text) AS n_chars,
         CASE WHEN trim(text) = '' THEN 0
              ELSE len(string_split_regex(trim(text), '\\s+')) END AS n_tokens,
         string_split_regex(lower(trim(text)), '\\s+') AS toks,
         length(text) - length(regexp_replace(text, '[^\\w\\s]', '', 'g')) AS n_punct,
         length(text) - length(regexp_replace(text, '[0-9]', '', 'g')) AS n_digit,
         length(text) - length(regexp_replace(text, '[A-Z]', '', 'g')) AS n_upper,
         CAST(len(regexp_extract_all(text, '{_BPE_RE}')) AS INT) AS n_bpe_tokens,
         {_FP_EXPR} AS fingerprint
  FROM documents
), feat AS (
  SELECT doc_id,
         CAST(n_tokens AS INT) AS n_ws_tokens,
         n_bpe_tokens,
         CAST(n_chars AS INT) AS n_chars,
         CAST(n_tokens AS INT) AS n_tokens,
         round(CAST(n_chars AS DOUBLE) / greatest(n_tokens, 1), 6) AS mean_token_len,
         round(CAST(n_punct AS DOUBLE) / greatest(n_chars, 1), 6) AS punct_ratio,
         round(CAST(n_digit AS DOUBLE) / greatest(n_chars, 1), 6) AS digit_ratio,
         round(CAST(n_upper AS DOUBLE) / greatest(n_chars, 1), 6) AS upper_ratio,
         round(CAST(len(list_filter(toks, x -> list_contains({_EN_STOP}, x))) AS DOUBLE)
               / greatest(n_tokens, 1), 6) AS stopword_ratio,
         CASE WHEN n_tokens = 0 THEN 0.0 ELSE
           round(CAST(len(list_distinct(toks)) AS DOUBLE) / greatest(n_tokens, 1), 6)
         END AS distinct_token_ratio,
         round(CAST(len(list_filter(toks, x -> list_contains({_DE_STOP}, x))) AS DOUBLE)
               / greatest(n_tokens, 1), 6) AS sde,
         round(CAST(len(list_filter(toks, x -> list_contains({_EN_STOP}, x))) AS DOUBLE)
               / greatest(n_tokens, 1), 6) AS sen,
         round(CAST(len(list_filter(toks, x -> list_contains({_ES_STOP}, x))) AS DOUBLE)
               / greatest(n_tokens, 1), 6) AS ses,
         round(CAST(len(list_filter(toks, x -> list_contains({_FR_STOP}, x))) AS DOUBLE)
               / greatest(n_tokens, 1), 6) AS sfr,
         CASE WHEN len(toks) = 0 OR (len(toks) = 1 AND toks[1] = '') THEN 0.0 ELSE
           round(CAST(list_max(list_transform(list_distinct(toks),
                 d -> len(list_filter(toks, x -> x = d)))) AS DOUBLE)
                 / len(toks), 6) END AS top_1gram_frac,
         CASE WHEN len(toks) < 2 THEN 0.0 ELSE
           round(CAST(list_max(list_transform(list_distinct(
                   list_transform(generate_series(1, len(toks) - 1),
                     i -> array_to_string(list_slice(toks, i, i + 1), ' '))),
                 d -> len(list_filter(
                   list_transform(generate_series(1, len(toks) - 1),
                     i -> array_to_string(list_slice(toks, i, i + 1), ' ')),
                   x -> x = d)))) AS DOUBLE)
                 / (len(toks) - 1), 6) END AS top_2gram_frac,
         CASE WHEN len(toks) < 3 THEN 0.0 ELSE
           round(CAST(list_max(list_transform(list_distinct(
                   list_transform(generate_series(1, len(toks) - 2),
                     i -> array_to_string(list_slice(toks, i, i + 2), ' '))),
                 d -> len(list_filter(
                   list_transform(generate_series(1, len(toks) - 2),
                     i -> array_to_string(list_slice(toks, i, i + 2), ' ')),
                   x -> x = d)))) AS DOUBLE)
                 / (len(toks) - 2), 6) END AS top_3gram_frac,
         fingerprint
  FROM base
)
SELECT doc_id, n_ws_tokens, n_bpe_tokens, n_chars, n_tokens, mean_token_len,
       punct_ratio, digit_ratio, upper_ratio, stopword_ratio,
       distinct_token_ratio, top_1gram_frac, top_2gram_frac, top_3gram_frac,
       round((CASE WHEN n_chars BETWEEN 50 AND 20000 THEN 0.25 ELSE 0.0 END)
           + (CASE WHEN punct_ratio <= 0.2 THEN 0.25 ELSE 0.0 END)
           + (CASE WHEN digit_ratio <= 0.2 THEN 0.25 ELSE 0.0 END)
           + (CASE WHEN distinct_token_ratio >= 0.3 THEN 0.25 ELSE 0.0 END), 6)
           AS quality_score,
       CASE WHEN greatest(sde, sen, ses, sfr) <= 0 THEN 'und'
            WHEN sde >= sen AND sde >= ses AND sde >= sfr THEN 'de'
            WHEN sen >= ses AND sen >= sfr THEN 'en'
            WHEN ses >= sfr THEN 'es'
            ELSE 'fr' END AS predicted_lang,
       fingerprint
FROM feat
"""

_TOPK_SQL = """
WITH q AS (
  SELECT vec_id AS qid, CAST(embedding AS DOUBLE[]) AS qv FROM embeddings WHERE vec_id < 10
), c AS (
  SELECT vec_id AS nid, CAST(embedding AS DOUBLE[]) AS cv FROM embeddings
), s AS (
  SELECT qid, nid,
         round(list_dot_product(qv, cv)
               / (sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(cv, cv))), 6) AS sim
  FROM q, c WHERE qid <> nid
), r AS (
  SELECT qid AS query_id, nid AS neighbor_id, sim AS cos_sim,
         row_number() OVER (PARTITION BY qid ORDER BY sim DESC, nid ASC) AS rk
  FROM s
)
SELECT 'brute' AS method, query_id, neighbor_id, cos_sim,
       CAST(rk AS INT) AS rank
FROM r WHERE rk <= 5
"""


_PART_COMPOSITE_SQL = """
SELECT p_partkey, '$.p_size' AS path,
       CASE WHEN p_size < 1
            THEN 'failed to validate against schema at allOf[0] for keyword ''minimum'''
            ELSE 'failed to validate against schema at allOf[1] for keyword ''maximum''' END AS message,
       CAST(p_size AS VARCHAR) AS value, 'allOf' AS tag, '' AS param
FROM part WHERE p_size IS NOT NULL AND NOT (p_size >= 1 AND p_size <= 25)
UNION ALL
SELECT p_partkey, '$.p_retailprice',
       'value must not validate against the schema in not',
       CAST(p_retailprice AS VARCHAR), 'not', ''
FROM part WHERE p_retailprice IS NOT NULL AND p_retailprice <= 1000
UNION ALL
SELECT p_partkey, '$.p_brand',
       'does not match pattern ^Brand#[0-9]$',
       p_brand, 'pattern', '^Brand#[0-9]$'
FROM part WHERE p_brand IS NOT NULL AND NOT regexp_matches(p_brand, '^Brand#[0-9]$')
UNION ALL
SELECT p_partkey, '$.p_type',
       CASE WHEN (CASE WHEN regexp_matches(p_type, '^S') THEN 1 ELSE 0 END
                + CASE WHEN p_type IN ('PROMO','ECONOMY','SMALL') THEN 1 ELSE 0 END) > 1
            THEN 'value matches more than one schema in oneOf'
            ELSE 'value does not match any schema in oneOf' END,
       p_type, 'oneOf', ''
FROM part
WHERE p_type IS NOT NULL
  AND (CASE WHEN regexp_matches(p_type, '^S') THEN 1 ELSE 0 END
     + CASE WHEN p_type IN ('PROMO','ECONOMY','SMALL') THEN 1 ELSE 0 END) <> 1
"""

_CUSTOMER_COND_SQL = """
SELECT 'conditional:$.c_acctbal' AS rule_id, 'conditional' AS tag,
       CAST(count(*) AS BIGINT) AS n_checked,
       CAST(COALESCE(sum(CASE WHEN c_acctbal IS NOT NULL AND
             (CASE WHEN c_acctbal >= 0 THEN c_acctbal > 5000
                   ELSE c_acctbal < -500 END)
             THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_failed,
       (COALESCE(sum(CASE WHEN c_acctbal IS NOT NULL AND
             (CASE WHEN c_acctbal >= 0 THEN c_acctbal > 5000
                   ELSE c_acctbal < -500 END)
             THEN 1 ELSE 0 END), 0) = 0) AS pass
FROM customer
UNION ALL
SELECT 'anyOf:$.c_mktsegment', 'anyOf',
       CAST(count(*) AS BIGINT),
       CAST(COALESCE(sum(CASE WHEN c_mktsegment IS NOT NULL
             AND c_mktsegment NOT IN ('BUILDING','MACHINERY')
             AND NOT regexp_matches(c_mktsegment, 'MOB') THEN 1 ELSE 0 END), 0) AS BIGINT),
       (COALESCE(sum(CASE WHEN c_mktsegment IS NOT NULL
             AND c_mktsegment NOT IN ('BUILDING','MACHINERY')
             AND NOT regexp_matches(c_mktsegment, 'MOB') THEN 1 ELSE 0 END), 0) = 0)
FROM customer
"""

_TOPK_VIOL_SQL = f"""
WITH v AS ({_ORDERS_VIOLATIONS_SQL})
, r AS (
  SELECT tag, o_orderkey, path,
         row_number() OVER (PARTITION BY tag ORDER BY o_orderkey) AS rk
  FROM v
)
SELECT tag, o_orderkey, path, CAST(rk AS INT) AS rk FROM r WHERE rk <= 5
"""



_PROPS_MAP_SQL = """
WITH e AS (
  SELECT CAST(json_extract(props, '$.k') AS DOUBLE) AS k,
         CASE WHEN props IS NULL THEN NULL
              ELSE len(json_keys(props)) END AS nk
  FROM events
)
SELECT 'minProperties:$.props_map' AS rule_id, 'minProperties' AS tag,
       CAST(count(*) AS BIGINT) AS n_checked,
       CAST(COALESCE(sum(CASE WHEN nk IS NOT NULL AND nk < 1 THEN 1 ELSE 0 END),0) AS BIGINT) AS n_failed,
       (COALESCE(sum(CASE WHEN nk IS NOT NULL AND nk < 1 THEN 1 ELSE 0 END),0) = 0) AS pass
FROM e
UNION ALL
SELECT 'maxProperties:$.props_map', 'maxProperties',
       CAST(count(*) AS BIGINT),
       CAST(COALESCE(sum(CASE WHEN nk IS NOT NULL AND nk > 3 THEN 1 ELSE 0 END),0) AS BIGINT),
       (COALESCE(sum(CASE WHEN nk IS NOT NULL AND nk > 3 THEN 1 ELSE 0 END),0) = 0)
FROM e
UNION ALL
SELECT 'required:$.props_map.k', 'required',
       CAST(count(*) AS BIGINT),
       CAST(COALESCE(sum(CASE WHEN nk IS NOT NULL AND k IS NULL THEN 1 ELSE 0 END),0) AS BIGINT),
       (COALESCE(sum(CASE WHEN nk IS NOT NULL AND k IS NULL THEN 1 ELSE 0 END),0) = 0)
FROM e
UNION ALL
SELECT 'patternProperties[^k$].minimum:$.props_map', 'minimum',
       CAST(count(*) AS BIGINT),
       CAST(COALESCE(sum(CASE WHEN nk IS NOT NULL AND k IS NOT NULL AND k < 50 THEN 1 ELSE 0 END),0) AS BIGINT),
       (COALESCE(sum(CASE WHEN nk IS NOT NULL AND k IS NOT NULL AND k < 50 THEN 1 ELSE 0 END),0) = 0)
FROM e
"""


_TOKEN_ARRAY_SQL = """
WITH t AS (
  SELECT CASE WHEN text IS NULL THEN NULL
              ELSE string_split_regex(trim(text), '\\s+') END AS toks
  FROM documents
)
SELECT 'minItems:$.tokens' AS rule_id, 'minItems' AS tag,
       CAST(count(*) AS BIGINT) AS n_checked,
       CAST(COALESCE(sum(CASE WHEN toks IS NOT NULL AND len(toks) < 5 THEN 1 ELSE 0 END),0) AS BIGINT) AS n_failed,
       (COALESCE(sum(CASE WHEN toks IS NOT NULL AND len(toks) < 5 THEN 1 ELSE 0 END),0) = 0) AS pass
FROM t
UNION ALL
SELECT 'maxItems:$.tokens', 'maxItems', CAST(count(*) AS BIGINT),
       CAST(COALESCE(sum(CASE WHEN toks IS NOT NULL AND len(toks) > 500 THEN 1 ELSE 0 END),0) AS BIGINT),
       (COALESCE(sum(CASE WHEN toks IS NOT NULL AND len(toks) > 500 THEN 1 ELSE 0 END),0) = 0)
FROM t
UNION ALL
SELECT 'uniqueItems:$.tokens', 'uniqueItems', CAST(count(*) AS BIGINT),
       CAST(COALESCE(sum(CASE WHEN toks IS NOT NULL AND len(list_distinct(toks)) <> len(toks) THEN 1 ELSE 0 END),0) AS BIGINT),
       (COALESCE(sum(CASE WHEN toks IS NOT NULL AND len(list_distinct(toks)) <> len(toks) THEN 1 ELSE 0 END),0) = 0)
FROM t
UNION ALL
SELECT 'items.maxLength:$.tokens', 'maxLength', CAST(count(*) AS BIGINT),
       CAST(COALESCE(sum(CASE WHEN toks IS NOT NULL
             AND len(list_filter(toks, x -> length(x) > 25)) > 0 THEN 1 ELSE 0 END),0) AS BIGINT),
       (COALESCE(sum(CASE WHEN toks IS NOT NULL
             AND len(list_filter(toks, x -> length(x) > 25)) > 0 THEN 1 ELSE 0 END),0) = 0)
FROM t
UNION ALL
SELECT 'items[0].minLength:$.tokens', 'minLength', CAST(count(*) AS BIGINT),
       CAST(COALESCE(sum(CASE WHEN toks IS NOT NULL AND len(toks) >= 1
             AND strlen(toks[1]) < 3 THEN 1 ELSE 0 END),0) AS BIGINT),
       (COALESCE(sum(CASE WHEN toks IS NOT NULL AND len(toks) >= 1
             AND strlen(toks[1]) < 3 THEN 1 ELSE 0 END),0) = 0)
FROM t
UNION ALL
SELECT 'items[1].pattern:$.tokens', 'pattern', CAST(count(*) AS BIGINT),
       CAST(COALESCE(sum(CASE WHEN toks IS NOT NULL AND len(toks) >= 2
             AND NOT regexp_matches(toks[2], '^[a-z]{4,}$') THEN 1 ELSE 0 END),0) AS BIGINT),
       (COALESCE(sum(CASE WHEN toks IS NOT NULL AND len(toks) >= 2
             AND NOT regexp_matches(toks[2], '^[a-z]{4,}$') THEN 1 ELSE 0 END),0) = 0)
FROM t
"""

_KEYWORD_GAPS_SQL = """
WITH e AS (
  SELECT value, user_id, event_type, props,
         CAST(json_extract(props, '$.k') AS DOUBLE) AS k,
         CASE WHEN props IS NULL THEN NULL ELSE json_keys(props) END AS keys
  FROM events
)
SELECT 'exclusiveMaximum:$.value' AS rule_id, 'exclusiveMaximum' AS tag,
       CAST(count(*) AS BIGINT) AS n_checked,
       CAST(COALESCE(sum(CASE WHEN value IS NOT NULL AND value >= 400 THEN 1 ELSE 0 END),0) AS BIGINT) AS n_failed,
       (COALESCE(sum(CASE WHEN value IS NOT NULL AND value >= 400 THEN 1 ELSE 0 END),0) = 0) AS pass
FROM e
UNION ALL
SELECT 'maximum:$.props_map.k', 'maximum', CAST(count(*) AS BIGINT),
       CAST(COALESCE(sum(CASE WHEN keys IS NOT NULL AND k IS NOT NULL AND k > 90 THEN 1 ELSE 0 END),0) AS BIGINT),
       (COALESCE(sum(CASE WHEN keys IS NOT NULL AND k IS NOT NULL AND k > 90 THEN 1 ELSE 0 END),0) = 0)
FROM e
UNION ALL
SELECT 'additionalProperties:$.props_map', 'additionalProperties', CAST(count(*) AS BIGINT),
       CAST(COALESCE(sum(CASE WHEN keys IS NOT NULL
             AND len(list_filter(keys, x -> x <> 'k')) > 0 THEN 1 ELSE 0 END),0) AS BIGINT),
       (COALESCE(sum(CASE WHEN keys IS NOT NULL
             AND len(list_filter(keys, x -> x <> 'k')) > 0 THEN 1 ELSE 0 END),0) = 0)
FROM e
UNION ALL
SELECT 'dependencies[props].required:$', 'dependencies', CAST(count(*) AS BIGINT),
       CAST(COALESCE(sum(CASE WHEN props IS NOT NULL AND user_id IS NULL THEN 1 ELSE 0 END),0) AS BIGINT),
       (COALESCE(sum(CASE WHEN props IS NOT NULL AND user_id IS NULL THEN 1 ELSE 0 END),0) = 0)
FROM e
UNION ALL
SELECT 'dependencies[event_type]:$', 'dependencies', CAST(count(*) AS BIGINT),
       CAST(COALESCE(sum(CASE WHEN event_type IS NOT NULL
             AND (user_id IS NULL OR value IS NULL) THEN 1 ELSE 0 END),0) AS BIGINT),
       (COALESCE(sum(CASE WHEN event_type IS NOT NULL
             AND (user_id IS NULL OR value IS NULL) THEN 1 ELSE 0 END),0) = 0)
FROM e
"""

# categorical drift: the same contingency-table formulas as
# operators/drift.categorical_drift_metrics (chi2 under homogeneity,
# Cramér's V = sqrt(chi2/N) for a 2xk table, TVD = half the L1 share gap),
# expressed independently in DuckDB per column; heavy hitters: exact
# counts + shares with the identical (n DESC, value ASC) deterministic
# cutoff
_CATEGORICAL_PROFILE_SQL = """
WITH src AS (
  SELECT l_orderkey % 2 AS side, 'l_returnflag' AS col, l_returnflag AS cat
  FROM lineitem
  UNION ALL
  SELECT l_orderkey % 2, 'l_linestatus', l_linestatus FROM lineitem
), ha AS (
  SELECT col, cat, CAST(count(*) AS DOUBLE) AS na
  FROM src WHERE side = 0 AND cat IS NOT NULL GROUP BY 1, 2
), hb AS (
  SELECT col, cat, CAST(count(*) AS DOUBLE) AS nb
  FROM src WHERE side = 1 AND cat IS NOT NULL GROUP BY 1, 2
), j AS (
  SELECT col, COALESCE(na, 0) AS na, COALESCE(nb, 0) AS nb
  FROM ha FULL OUTER JOIN hb USING (col, cat)
), t AS (
  SELECT col, count(*) AS k, sum(na) AS ta, sum(nb) AS tb FROM j GROUP BY col
), stats AS (
  SELECT col, CAST(max(k) AS DOUBLE) AS n_categories,
         round(sum(pow(na - (na+nb)*ta/(ta+tb), 2) / ((na+nb)*ta/(ta+tb))
                 + pow(nb - (na+nb)*tb/(ta+tb), 2) / ((na+nb)*tb/(ta+tb))), 6) AS chi2,
         CAST(max(k) - 1 AS DOUBLE) AS dof,
         round(sqrt(sum(pow(na - (na+nb)*ta/(ta+tb), 2) / ((na+nb)*ta/(ta+tb))
                      + pow(nb - (na+nb)*tb/(ta+tb), 2) / ((na+nb)*tb/(ta+tb)))
                    / max(ta+tb)), 6) AS cramers_v,
         round(0.5 * sum(abs(na/ta - nb/tb)), 6) AS tvd
  FROM j JOIN t USING (col) GROUP BY col
), hh AS (
  SELECT COALESCE(CAST(o_orderpriority AS VARCHAR), 'NULL') AS value,
         CAST(count(*) AS BIGINT) AS n,
         round(CAST(count(*) AS DOUBLE)
               / (SELECT count(*) FROM orders), 6) AS share
  FROM orders GROUP BY 1
  ORDER BY n DESC, value ASC
  LIMIT 4
)
SELECT col AS "column", 'chi2' AS stat, chi2 AS value FROM stats
UNION ALL SELECT col, 'cramers_v', cramers_v FROM stats
UNION ALL SELECT col, 'tvd', tvd FROM stats
UNION ALL SELECT col, 'n_categories', n_categories FROM stats
UNION ALL SELECT col, 'dof', dof FROM stats
UNION ALL SELECT 'o_orderpriority', 'share:' || value, share FROM hh
UNION ALL SELECT 'o_orderpriority', 'n:' || value, CAST(n AS DOUBLE) FROM hh
"""

_STREAMING_VERDICT_SQL = """
SELECT CAST(floor(epoch(ts)/86400)*86400 AS BIGINT) AS window_start,
       r.rule_id, r.tag,
       CAST(count(*) AS BIGINT) AS n_checked,
       CAST(COALESCE(sum(CASE
         WHEN r.rule_id = 'required:$.event_id' THEN CASE WHEN event_id IS NULL THEN 1 ELSE 0 END
         WHEN r.rule_id = 'required:$.ts' THEN 0
         WHEN r.rule_id = 'required:$.user_id' THEN CASE WHEN user_id IS NULL THEN 1 ELSE 0 END
         WHEN r.rule_id = 'enum:$.event_type' THEN CASE WHEN event_type IS NOT NULL AND event_type NOT IN ('click','view','purchase') THEN 1 ELSE 0 END
         WHEN r.rule_id = 'type:$.value' THEN 0
         WHEN r.rule_id = 'minimum:$.value' THEN CASE WHEN value IS NOT NULL AND value < 0 THEN 1 ELSE 0 END
         ELSE CASE WHEN value IS NOT NULL AND value > 400 THEN 1 ELSE 0 END END), 0) AS BIGINT) AS n_failed,
       (COALESCE(sum(CASE
         WHEN r.rule_id = 'required:$.event_id' THEN CASE WHEN event_id IS NULL THEN 1 ELSE 0 END
         WHEN r.rule_id = 'required:$.ts' THEN 0
         WHEN r.rule_id = 'required:$.user_id' THEN CASE WHEN user_id IS NULL THEN 1 ELSE 0 END
         WHEN r.rule_id = 'enum:$.event_type' THEN CASE WHEN event_type IS NOT NULL AND event_type NOT IN ('click','view','purchase') THEN 1 ELSE 0 END
         WHEN r.rule_id = 'type:$.value' THEN 0
         WHEN r.rule_id = 'minimum:$.value' THEN CASE WHEN value IS NOT NULL AND value < 0 THEN 1 ELSE 0 END
         ELSE CASE WHEN value IS NOT NULL AND value > 400 THEN 1 ELSE 0 END END), 0) = 0) AS pass
FROM events
CROSS JOIN (VALUES ('required:$.event_id','required'),
                   ('required:$.ts','required'),
                   ('required:$.user_id','required'),
                   ('enum:$.event_type','enum'),
                   ('type:$.value','type'),
                   ('minimum:$.value','minimum'),
                   ('maximum:$.value','maximum')) AS r(rule_id, tag)
WHERE ts IS NOT NULL
GROUP BY 1, r.rule_id, r.tag
"""

# DuckDB reimplementation of the 9 format predicates (RE2 regexes mirror
# rules/formats.py, which itself mirrors reference rules/utils.go:151-210;
# date/date-time add the TRY_CAST range check like try_to_date/_timestamp)
_FMT_VALID_DUCK: dict[str, str] = {
    "fmt_email": r"regexp_matches(fmt_email, '^[^@\s]+@[^@\s]+$')",
    "fmt_date_time": (
        r"regexp_matches(fmt_date_time, "
        r"'^\d{4}-\d{2}-\d{2}T\d{2}:\d{2}:\d{2}(\.\d+)?(Z|z|[+-]\d{2}:\d{2})$') "
        r"AND TRY_CAST(regexp_replace(fmt_date_time, '(Z|z|[+-]\d{2}:\d{2})$', '') "
        r"AS TIMESTAMP) IS NOT NULL"
    ),
    "fmt_date": (
        r"regexp_matches(fmt_date, '^\d{4}-\d{2}-\d{2}$') "
        r"AND TRY_CAST(fmt_date AS DATE) IS NOT NULL"
    ),
    "fmt_time": r"regexp_matches(fmt_time, '^([01][0-9]|2[0-3]):[0-5][0-9]:[0-5][0-9]$')",
    "fmt_uri": (
        r"regexp_matches(fmt_uri, "
        r"'^[a-zA-Z][a-zA-Z0-9+.\-]*:[^ \t\r\n]*$|^/[^ \t\r\n]*$')"
    ),
    "fmt_hostname": (
        r"strlen(fmt_hostname) <= 255 AND strlen(fmt_hostname) > 0 "
        r"AND regexp_matches(fmt_hostname, "
        r"'^([a-zA-Z0-9]|[a-zA-Z0-9][a-zA-Z0-9\-]{0,61}[a-zA-Z0-9])"
        r"(\.([a-zA-Z0-9]|[a-zA-Z0-9][a-zA-Z0-9\-]{0,61}[a-zA-Z0-9]))*$')"
    ),
    "fmt_ipv4": (
        r"regexp_matches(fmt_ipv4, "
        r"'^((25[0-5]|2[0-4][0-9]|1[0-9][0-9]|[1-9]?[0-9])\.){3}"
        r"(25[0-5]|2[0-4][0-9]|1[0-9][0-9]|[1-9]?[0-9])$')"
    ),
    "fmt_ipv6": (
        r"regexp_matches(fmt_ipv6, "
        r"'^([0-9a-fA-F]{1,4}:){7}[0-9a-fA-F]{1,4}$"
        r"|^([0-9a-fA-F]{1,4}:){1,7}:$"
        r"|^:((:[0-9a-fA-F]{1,4}){1,7}|:)$"
        r"|^([0-9a-fA-F]{1,4}:){1,6}:[0-9a-fA-F]{1,4}$"
        r"|^([0-9a-fA-F]{1,4}:){1,5}(:[0-9a-fA-F]{1,4}){2}$"
        r"|^([0-9a-fA-F]{1,4}:){1,4}(:[0-9a-fA-F]{1,4}){3}$"
        r"|^([0-9a-fA-F]{1,4}:){1,3}(:[0-9a-fA-F]{1,4}){4}$"
        r"|^([0-9a-fA-F]{1,4}:){1,2}(:[0-9a-fA-F]{1,4}){5}$"
        r"|^[0-9a-fA-F]{1,4}:(:[0-9a-fA-F]{1,4}){6}$"
        r"|^::([fF]{4}:)?((25[0-5]|2[0-4][0-9]|1[0-9][0-9]|[1-9]?[0-9])\.){3}"
        r"(25[0-5]|2[0-4][0-9]|1[0-9][0-9]|[1-9]?[0-9])$"
        r"|^([0-9a-fA-F]{1,4}:){1,4}:((25[0-5]|2[0-4][0-9]|1[0-9][0-9]|[1-9]?[0-9])\.){3}"
        r"(25[0-5]|2[0-4][0-9]|1[0-9][0-9]|[1-9]?[0-9])$')"
    ),
    "fmt_uuid": (
        r"regexp_matches(lower(fmt_uuid), "
        r"'^[0-9a-f]{8}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{12}$')"
    ),
}


def _format_oracle_sql() -> str:
    derive = "SELECT " + ", ".join(
        f"{sql} AS {col}" for col, (_, sql) in _FMT_DERIVE.items()
    ) + " FROM events"
    members = []
    for col, (_, _sql) in _FMT_DERIVE.items():
        fail = f"{col} IS NOT NULL AND NOT ({_FMT_VALID_DUCK[col]})"
        members.append(
            f"SELECT 'format:$.{col}' AS rule_id, 'format' AS tag,\n"
            f"       CAST(count(*) AS BIGINT) AS n_checked,\n"
            f"       CAST(COALESCE(sum(CASE WHEN {fail} THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_failed,\n"
            f"       (COALESCE(sum(CASE WHEN {fail} THEN 1 ELSE 0 END), 0) = 0) AS pass\n"
            f"FROM ({derive}) d"
        )
    return "\nUNION ALL\n".join(members)


_PARTITIONED_VERDICT_SQL = """
SELECT l_returnflag,
       r.rule_id, r.tag,
       CAST(count(*) AS BIGINT) AS n_checked,
       CAST(COALESCE(sum(CASE
         WHEN r.rule_id = 'minimum:$.l_quantity' THEN CASE WHEN l_quantity IS NOT NULL AND l_quantity < 1 THEN 1 ELSE 0 END
         WHEN r.rule_id = 'maximum:$.l_quantity' THEN CASE WHEN l_quantity IS NOT NULL AND l_quantity > 49 THEN 1 ELSE 0 END
         ELSE CASE WHEN l_discount IS NOT NULL AND l_discount > 0.08 THEN 1 ELSE 0 END END),0) AS BIGINT) AS n_failed,
       (COALESCE(sum(CASE
         WHEN r.rule_id = 'minimum:$.l_quantity' THEN CASE WHEN l_quantity IS NOT NULL AND l_quantity < 1 THEN 1 ELSE 0 END
         WHEN r.rule_id = 'maximum:$.l_quantity' THEN CASE WHEN l_quantity IS NOT NULL AND l_quantity > 49 THEN 1 ELSE 0 END
         ELSE CASE WHEN l_discount IS NOT NULL AND l_discount > 0.08 THEN 1 ELSE 0 END END),0) = 0) AS pass
FROM lineitem
CROSS JOIN (VALUES ('minimum:$.l_quantity','minimum'),
                   ('maximum:$.l_quantity','maximum'),
                   ('maximum:$.l_discount','maximum')) AS r(rule_id, tag)
GROUP BY l_returnflag, r.rule_id, r.tag
"""


_JACCARD_SQL = """
WITH d AS (
  SELECT doc_id,
         string_split_regex(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), ' ') AS toks
  FROM documents WHERE text IS NOT NULL AND doc_id < 500
), s AS (
  SELECT doc_id,
         list_distinct(
           CASE WHEN len(toks) < 3 THEN [array_to_string(toks, ' ')]
                ELSE list_transform(range(1, len(toks) - 1),
                                    i -> array_to_string(toks[i:i+2], ' '))
           END) AS sh
  FROM d
), ex AS (
  SELECT doc_id, unnest(sh) AS g FROM s
), cand AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM ex a JOIN ex b ON a.g = b.g AND a.doc_id < b.doc_id
)
SELECT c.id_a, c.id_b,
       round(CAST(len(list_intersect(sa.sh, sb.sh)) AS DOUBLE)
             / len(list_distinct(list_concat(sa.sh, sb.sh))), 6) AS jaccard
FROM cand c
JOIN s sa ON sa.doc_id = c.id_a
JOIN s sb ON sb.doc_id = c.id_b
WHERE CAST(len(list_intersect(sa.sh, sb.sh)) AS DOUBLE)
      / len(list_distinct(list_concat(sa.sh, sb.sh))) >= 0.5
"""

def _image_oracles() -> dict[str, str]:
    """Oracle SQL for the synthesized image-caption queries: DuckDB VALUES
    literals produced by the independent pandas/numpy implementation in
    jsonschema_validator_spark/oracle.py (see its module docstring)."""
    from jsonschema_validator_spark import oracle as o

    n = _IMAGES_N
    return {
        "images_suite_verdicts": o.values_sql(
            o.suite_verdict_rows(n),
            ["family", "rule_id", "n_checked", "n_failed", "pass"],
            ["VARCHAR", "VARCHAR", "BIGINT", "BIGINT", "BOOLEAN"],
        ),
        "images_drift_shifted": o.values_sql(
            o.drift_rows(n),
            ["column", "ks", "psi", "js"],
            ["VARCHAR", "DOUBLE", "DOUBLE", "DOUBLE"],
        ),
        "images_decode_violations": o.values_sql(
            o.decode_violation_rows(n),
            ["tag", "n_violations"],
            ["VARCHAR", "BIGINT"],
        ),
        "images_stats_profile": o.values_sql(
            o.stats_profile_rows(n),
            ["column", "n_rows", "n_null", "null_ratio",
             "min_value", "max_value", "n_distinct",
             "q1", "median", "q3", "iqr", "mad",
             "n_values", "n_tukey_outliers", "n_robust_outliers"],
            ["VARCHAR", "BIGINT", "BIGINT", "DOUBLE",
             "VARCHAR", "VARCHAR", "BIGINT",
             "DOUBLE", "DOUBLE", "DOUBLE", "DOUBLE", "DOUBLE",
             "BIGINT", "BIGINT", "BIGINT"],
        ),
        "images_checkpoint_resume": o.values_sql(
            o.merged_verdict_rows([(1000, 42), (1000, 43), (1000, 45)]),
            ["rule_id", "tag", "n_checked", "n_failed", "pass"],
            ["VARCHAR", "VARCHAR", "BIGINT", "BIGINT", "BOOLEAN"],
        ),
        "images_feature_extract": o.values_sql(
            o.feature_rows(n),
            ["image_id", "f_w", "f_h", "mean_r", "mean_g", "mean_b",
             "std_gray", "brightness", "edge_energy",
             "sharpness", "entropy", "clip_low_frac", "clip_high_frac",
             "colorfulness", "dynamic_range"],
            ["VARCHAR", "INT", "INT", "DOUBLE", "DOUBLE", "DOUBLE",
             "DOUBLE", "DOUBLE", "DOUBLE",
             "DOUBLE", "DOUBLE", "DOUBLE", "DOUBLE", "DOUBLE", "DOUBLE"],
        ),
        # golden oracle: the planted pair set (dup id sorts before img id;
        # hamming == number of flipped bits, distinct by construction)
        "images_phash_neardups": o.values_sql(
            sorted(
                (r[0], r[2], r[3]) for r in _phash_planted_rows(_IMAGES_N)
            ),
            ["id_a", "id_b", "hamming"],
            ["VARCHAR", "VARCHAR", "INT"],
        ),
    }


def _cluster_oracle_sql(pair_rows: list) -> str:
    """Connected components over a literal pair set via a DuckDB RECURSIVE
    CTE: min reachable id == cluster id (edges are symmetric, so reachable
    labels cover the component; the UNION-distinct fixpoint terminates)."""
    if not pair_rows:
        return (
            "SELECT CAST(NULL AS BIGINT) AS doc_id, CAST(NULL AS BIGINT) AS "
            "cluster_id, CAST(NULL AS BOOLEAN) AS is_representative WHERE FALSE"
        )
    vals = ", ".join(f"({int(a)}, {int(b)})" for a, b, *_ in pair_rows)
    return f"""
WITH RECURSIVE p(id_a, id_b) AS (VALUES {vals}),
edges AS (SELECT id_a AS src, id_b AS dst FROM p
          UNION SELECT id_b, id_a FROM p),
nodes AS (SELECT DISTINCT src AS id FROM edges),
reach(id, lbl) AS (
  SELECT id, id FROM nodes
  UNION
  SELECT e.dst, r.lbl FROM reach r JOIN edges e ON e.src = r.id
)
SELECT CAST(id AS BIGINT) AS doc_id, CAST(min(lbl) AS BIGINT) AS cluster_id,
       (id = min(lbl)) AS is_representative
FROM reach GROUP BY id ORDER BY doc_id
"""


def _funnel_oracle_sql(pair_rows: list) -> str:
    """The curation funnel in DuckDB SQL: quality/langid expressions are
    the same as _QUALITY_SQL/_LANGID_SQL (rounded ratios), exact dedup is
    min-id-per-fingerprint, near-dup clusters come from the golden pair
    VALUES via the recursive-CTE component labeling."""
    vals = ", ".join(f"({int(a)}, {int(b)})" for a, b, *_ in pair_rows) or "(0, 0)"
    return f"""
WITH RECURSIVE s1 AS (
  SELECT doc_id, text FROM documents WHERE text IS NOT NULL
),
qbase AS (
  SELECT doc_id, text,
         length(text) AS n_chars,
         CASE WHEN trim(text) = '' THEN 0
              ELSE len(string_split_regex(trim(text), '\\s+')) END AS n_tokens,
         string_split_regex(lower(trim(text)), '\\s+') AS toks,
         length(text) - length(regexp_replace(text, '[^\\w\\s]', '', 'g')) AS n_punct,
         length(text) - length(regexp_replace(text, '[0-9]', '', 'g')) AS n_digit
  FROM s1
),
qs AS (
  SELECT doc_id, text,
         (CASE WHEN n_chars BETWEEN 50 AND 20000 THEN 0.25 ELSE 0.0 END)
       + (CASE WHEN round(CAST(n_punct AS DOUBLE) / greatest(n_chars, 1), 6) <= 0.2 THEN 0.25 ELSE 0.0 END)
       + (CASE WHEN round(CAST(n_digit AS DOUBLE) / greatest(n_chars, 1), 6) <= 0.2 THEN 0.25 ELSE 0.0 END)
       + (CASE WHEN n_tokens > 0 AND round(CAST(len(list_distinct(toks)) AS DOUBLE) / greatest(n_tokens, 1), 6) >= 0.3 THEN 0.25 ELSE 0.0 END)
         AS score
  FROM qbase
),
s2 AS (SELECT doc_id, text FROM qs WHERE score >= 1.0),
lbase AS (
  SELECT doc_id, text,
         CASE WHEN trim(text) = '' THEN 1
              ELSE greatest(len(string_split_regex(trim(text), '\\s+')), 1) END AS nt,
         string_split_regex(lower(trim(text)), '\\s+') AS toks
  FROM s2
),
ls AS (
  SELECT doc_id, text,
         round(CAST(len(list_filter(toks, x -> list_contains({_DE_STOP}, x))) AS DOUBLE) / nt, 6) AS sde,
         round(CAST(len(list_filter(toks, x -> list_contains({_EN_STOP}, x))) AS DOUBLE) / nt, 6) AS sen,
         round(CAST(len(list_filter(toks, x -> list_contains({_ES_STOP}, x))) AS DOUBLE) / nt, 6) AS ses,
         round(CAST(len(list_filter(toks, x -> list_contains({_FR_STOP}, x))) AS DOUBLE) / nt, 6) AS sfr
  FROM lbase
),
s3 AS (
  SELECT doc_id, text FROM ls
  WHERE greatest(sde, sen, ses, sfr) > 0
    AND NOT (sde >= sen AND sde >= ses AND sde >= sfr)
    AND (sen >= ses AND sen >= sfr)
),
s4 AS (
  SELECT doc_id, text FROM (
    SELECT doc_id, text,
           row_number() OVER (PARTITION BY {_FP_EXPR} ORDER BY doc_id) AS rn
    FROM s3
  ) WHERE rn = 1
),
p(id_a, id_b) AS (VALUES {vals}),
edges AS (SELECT id_a AS src, id_b AS dst FROM p
          UNION SELECT id_b, id_a FROM p),
nodes AS (SELECT DISTINCT src AS id FROM edges),
reach(id, lbl) AS (
  SELECT id, id FROM nodes
  UNION
  SELECT e.dst, r.lbl FROM reach r JOIN edges e ON e.src = r.id
),
clusters AS (SELECT id AS doc_id, min(lbl) AS cluster_id FROM reach GROUP BY id),
s5 AS (
  SELECT doc_id FROM (
    SELECT s4.doc_id, c.cluster_id,
           row_number() OVER (PARTITION BY c.cluster_id ORDER BY s4.doc_id) AS rn
    FROM s4 LEFT JOIN clusters c ON s4.doc_id = c.doc_id
  ) WHERE cluster_id IS NULL OR rn = 1
),
-- stage 6: benchmark decontamination — 5-word shingle overlap vs the
-- deterministic eval slice (doc_id % 97 == 0), same canonicalization as
-- word_shingles (lower/trim/collapse-ws; < k tokens -> whole text)
bsh AS (
  SELECT CASE WHEN len(t) < 5 THEN [array_to_string(t, ' ')]
         ELSE list_distinct(list_transform(generate_series(1, len(t) - 4),
              i -> array_to_string(list_slice(t, i, i + 4), ' '))) END AS sh
  FROM (SELECT string_split(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), ' ') AS t
        FROM documents WHERE doc_id % 97 = 0 AND text IS NOT NULL)
),
bset AS (SELECT DISTINCT unnest(sh) AS s FROM bsh),
dsh AS (
  SELECT doc_id,
         CASE WHEN len(t) < 5 THEN [array_to_string(t, ' ')]
         ELSE list_distinct(list_transform(generate_series(1, len(t) - 4),
              i -> array_to_string(list_slice(t, i, i + 4), ' '))) END AS sh
  FROM (SELECT s5.doc_id,
               string_split(regexp_replace(lower(trim(d.text)), '\\s+', ' ', 'g'), ' ') AS t
        FROM s5 JOIN documents d USING (doc_id))
),
dexp AS (SELECT doc_id, unnest(sh) AS s FROM dsh),
dm AS (SELECT e.doc_id, count(*) AS n, count(b.s) AS m
       FROM dexp e LEFT JOIN bset b ON e.s = b.s GROUP BY e.doc_id),
s6 AS (SELECT doc_id FROM dm WHERE round(CAST(m AS DOUBLE) / n, 6) < 0.5),
n0 AS (SELECT count(*) AS c FROM documents),
n1 AS (SELECT count(*) AS c FROM s1),
n2 AS (SELECT count(*) AS c FROM s2),
n3 AS (SELECT count(*) AS c FROM s3),
n4 AS (SELECT count(*) AS c FROM s4),
n5 AS (SELECT count(*) AS c FROM s5),
n6 AS (SELECT count(*) AS c FROM s6)
SELECT 'non_null_text' AS stage, 0 AS stage_idx,
       n0.c AS n_in, n0.c - n1.c AS n_removed, n1.c AS n_out FROM n0, n1
UNION ALL SELECT 'quality_gate', 1, n1.c, n1.c - n2.c, n2.c FROM n1, n2
UNION ALL SELECT 'language_gate', 2, n2.c, n2.c - n3.c, n3.c FROM n2, n3
UNION ALL SELECT 'exact_dedup', 3, n3.c, n3.c - n4.c, n4.c FROM n3, n4
UNION ALL SELECT 'near_dup_dedup', 4, n4.c, n4.c - n5.c, n5.c FROM n4, n5
UNION ALL SELECT 'decontamination', 5, n5.c, n5.c - n6.c, n6.c FROM n5, n6
ORDER BY stage_idx
"""


_HASH_ORACLE_CACHE: dict[str, str] | None = None


def _hash_oracles() -> dict[str, str]:
    """Golden oracles for the xxhash64-based queries: DuckDB can't evaluate
    Spark's xxhash64, so the expected rows come from an independent
    pure-Python XXH64 (public spec, xxh64.py) + pandas set algebra over the
    same parquet (oracle.py minhash/simhash/ann functions), rendered as
    VALUES literals. Cached — the pure-Python MinHash pass costs ~6 s and
    the contract test calls oracle_sql() once per query."""
    global _HASH_ORACLE_CACHE
    if _HASH_ORACLE_CACHE is None:
        from jsonschema_validator_spark import oracle as o

        mh = o.minhash_candidate_rows()
        _HASH_ORACLE_CACHE = {
            # merged minhash+simhash candidate pairs (round 5), both
            # sides golden XXH64/pandas twins, method-tagged
            "neardup_candidates": (
                "SELECT 'minhash_lsh' AS method, id_a, id_b, "
                "CAST(n_shared_bands AS BIGINT) AS score FROM (\n"
                + o.values_sql(
                    mh,
                    ["id_a", "id_b", "n_shared_bands"],
                    ["BIGINT", "BIGINT", "BIGINT"],
                )
                + "\n) mhv UNION ALL\n"
                "SELECT 'simhash' AS method, id_a, id_b, "
                "CAST(hamming AS BIGINT) AS score FROM (\n"
                + o.values_sql(
                    o.simhash_neardup_rows(),
                    ["id_a", "id_b", "hamming"],
                    ["BIGINT", "BIGINT", "INTEGER"],
                )
                + "\n) shv"
            ),
            # both Jaccard gates share one slot: live-DuckDB all-pairs
            # slice + golden-XXH64 production pipeline, tagged by path
            "jaccard_dedup_paths": (
                "SELECT 'all_pairs' AS path, j.* FROM ("
                + _JACCARD_SQL
                + ") j UNION ALL SELECT 'via_lsh' AS path, v.* FROM ("
                + o.values_sql(
                    o.jaccard_rows_for_candidates(mh, threshold=0.5),
                    ["id_a", "id_b", "jaccard"],
                    ["BIGINT", "BIGINT", "DOUBLE"],
                )
                + ") v"
            ),
            "bloom_incremental_dedup": o.values_sql(
                o.bloom_incremental_rows(),
                ["doc_id", "maybe_seen", "is_new"],
                ["BIGINT", "BOOLEAN", "BOOLEAN"],
            ),
            "dedup_cluster_assignment": _cluster_oracle_sql(
                o.jaccard_rows_for_candidates(mh, threshold=0.5)
            ),
            "corpus_curation_funnel": _funnel_oracle_sql(
                o.jaccard_rows_for_candidates(mh, threshold=0.5)
            ),
            # merged brute+lsh top-k (round 5): brute rows computed live
            # in DuckDB (_TOPK_SQL), lsh rows from the golden XXH64 twin
            "embedding_topk": (
                _TOPK_SQL
                + "\nUNION ALL\nSELECT 'lsh' AS method, query_id, "
                "neighbor_id, cos_sim, rank FROM (\n"
                + o.values_sql(
                    o.ann_topk_rows(),
                    ["query_id", "neighbor_id", "cos_sim", "rank"],
                    ["BIGINT", "BIGINT", "DOUBLE", "INTEGER"],
                )
                + "\n) lshv"
            ),
            "embedding_cosine_neardups": o.values_sql(
                o.embedding_neardup_rows(),
                ["id_a", "id_b", "cos_sim"],
                ["BIGINT", "BIGINT", "DOUBLE"],
            ),
        }
    return _HASH_ORACLE_CACHE


def _audio_oracle_sql() -> str:
    """VALUES oracle for audio_features_gate from the INDEPENDENT WAV
    reader + feature formulas in oracle.audio_feature_rows — full value
    parity, not a tolerance gate."""
    from jsonschema_validator_spark import oracle as o

    return o.values_sql(
        o.audio_feature_rows(24, 42),
        ["audio_id", "sample_rate", "n_samples", "duration_sec", "rms",
         "peak", "zero_crossing_rate"],
        ["VARCHAR", "INT", "BIGINT", "DOUBLE", "DOUBLE", "DOUBLE", "DOUBLE"],
    )


def oracle_sql() -> dict[str, str]:
    return {
        **_image_oracles(),
        **_hash_oracles(),
        "validate_lineitem_verdicts": _LINEITEM_VERDICT_SQL,
        "validate_orders_violations": _ORDERS_VIOLATIONS_SQL,
        # round-5 merge: base EVENTS_SPEC verdicts + the keyword-gaps
        # spec's verdicts (disjoint rule_ids) in one slot
        "validate_events_verdicts": (
            f"SELECT * FROM ({_EVENTS_VERDICT_SQL})\n"
            f"UNION ALL\nSELECT * FROM ({_KEYWORD_GAPS_SQL})"
        ),
        "column_stats_lineitem": _STATS_SQL,
        "quantiles_extendedprice": _QUANTILES_SQL,
        "sketch_accuracy_gates": """
SELECT sketch, target, TRUE AS within_tol
FROM (VALUES ('hll_approx', 'l_orderkey'), ('hll_approx', 'l_suppkey'),
             ('hll_merged', 'l_orderkey'), ('hll_merged', 'l_suppkey'),
             ('tdigest_p25', 'l_extendedprice'), ('tdigest_p50', 'l_extendedprice'),
             ('tdigest_p75', 'l_extendedprice')) AS t(sketch, target)
""",
        "curation_planning_profile": _CURATION_PLANNING_SQL,
        "suggested_spec_lineitem": _suggested_spec_sql(),
        "spec_constraint_drift": _spec_drift_sql(),
        "ann_recall_floor": """
SELECT config, CAST(floor AS DOUBLE) AS floor, TRUE AS recall_ok
FROM (VALUES ('ivf_c16_p1', 0.7),
             ('ivf_c16_p4', 0.85),
             ('ivf_probe_lift', 0.05),
             ('multiprobe_lift_over_single', 0.5),
             ('multiprobe_pl4_t8_p3', 0.9),
             ('single_probe_pl8_t1_p1', 0.02)) AS t(config, floor)
ORDER BY config
""",
        "uniqueness_checks": _UNIQ_CHECKS_SQL,
        "metrics_monitoring": _METRICS_MONITORING_SQL,
        "streaming_metrics_chart": _STREAMING_METRICS_CHART_SQL,
        "ref_orphans_nationkey": _REF_ORPHANS_SQL,
        "ref_verdict_lineitem_part": _REF_VERDICT_SQL,
        "drift_stats_profile": _drift_stats_profile_sql(),
        "per_group_localization_profile": _PER_GROUP_LOCALIZATION_SQL,
        "categorical_stats_profile": _CATEGORICAL_PROFILE_SQL,
        "dedup_exact_documents": _DEDUP_EXACT_SQL,
        "documents_text_profile": _TEXT_PROFILE_SQL,
        "pii_scrub_documents": _PII_SCRUB_SQL,
        "stratified_split_documents": _stratified_split_sql(),
        "validate_part_composite": _PART_COMPOSITE_SQL,
        "validate_customer_conditional": _CUSTOMER_COND_SQL,
        "events_props_map_validation": _PROPS_MAP_SQL,
        "documents_token_array_validation": _TOKEN_ARRAY_SQL,
        "format_validation_derived": _format_oracle_sql(),
        "lineitem_partitioned_verdicts": _PARTITIONED_VERDICT_SQL,
        "violations_topk_per_rule": _TOPK_VIOL_SQL,
        "streaming_windowed_verdicts": _STREAMING_VERDICT_SQL,
        "streaming_dedup_firstseen": _STREAM_DEDUP_SQL,
        "streaming_decontamination": _STREAM_DECON_SQL,
        "streaming_windowed_drift": _STREAM_DRIFT_SQL,
        "images_jpeg_decode_gate": """
SELECT CAST(12 AS BIGINT) AS n_images, TRUE AS all_above_floor
""",
        "videos_frame_sample_gate": """
SELECT CAST(6 AS BIGINT) AS n_videos, CAST(18 AS BIGINT) AS n_frames,
       TRUE AS sampled_true_indices, TRUE AS all_above_floor
""",
        "audio_features_gate": _audio_oracle_sql(),
    }
