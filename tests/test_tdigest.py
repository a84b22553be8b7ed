"""Mergeable t-digest quantiles (operators/tdigest.py).

The digest core is pure numpy and tested against numpy's exact quantiles;
the Spark pipeline is tested for the MERGE algebra the checkpoint/resume
story needs: digests of parts, merged, must answer like a digest of the
whole — without rescanning the parts.
"""

import numpy as np
import pytest

from jsonschema_validator_spark.operators import tdigest as td


def test_accuracy_uniform_and_skewed():
    rng = np.random.default_rng(42)
    for data, tol in [
        (rng.uniform(0, 1000, 200_000), 0.005),
        (rng.lognormal(3, 2, 200_000), 0.03),  # heavy tail: q99 is hardest
    ]:
        blob = td.digest_of(data)
        for q in (0.01, 0.25, 0.5, 0.75, 0.99):
            true = np.quantile(data, q)
            assert abs(td.quantile(blob, q) - true) <= tol * abs(true)


def test_centroid_count_bounded_by_compression():
    rng = np.random.default_rng(1)
    m, w = td.deserialize(td.digest_of(rng.normal(size=500_000), delta=200.0))
    assert m.size <= 200  # k1 scale: at most ~delta/2 + O(1) centroids
    assert w.sum() == 500_000  # exact weight conservation


def test_serialize_roundtrip_and_corrupt():
    blob = td.digest_of(np.arange(1000, dtype=float))
    m, w = td.deserialize(blob)
    assert (td.deserialize(td.serialize(m, w))[0] == m).all()
    with pytest.raises(ValueError):
        td.deserialize(blob[:-8])
    with pytest.raises(ValueError):
        td.deserialize(b"\x01")


def test_merge_matches_whole():
    """Digest-of-parts merged ≈ digest-of-whole (the resume algebra)."""
    rng = np.random.default_rng(7)
    whole = rng.lognormal(2, 1, 240_000)
    parts = np.array_split(whole, 17)
    merged = td.merge_blobs([td.digest_of(p) for p in parts])
    assert td.deserialize(merged)[1].sum() == whole.size
    for q in (0.05, 0.5, 0.95):
        true = np.quantile(whole, q)
        assert abs(td.quantile(merged, q) - true) <= 0.01 * abs(true)


def test_edge_cases():
    assert np.isnan(td.quantile(td.digest_of(np.array([])), 0.5))
    assert td.quantile(td.digest_of(np.array([4.2])), 0.9) == 4.2
    # NaNs dropped
    blob = td.digest_of(np.array([1.0, np.nan, 3.0]))
    assert td.deserialize(blob)[1].sum() == 2


def test_spark_pipeline_partition_merge(spark):
    """tdigest_sketches → merge_tdigests → tdigest_quantiles over lineitem
    partitioned by l_returnflag: per-partition rows, one row per column
    after merge, estimates within 1% of exact percentiles (sf0.001 has
    only 6k rows, so sampling granularity dominates; the driver gate at
    sf0.01 holds 0.5% with a 20x margin)."""
    from pyspark.sql import functions as F

    from jsonschema_validator_spark.operators.tdigest import (
        merge_tdigests,
        tdigest_quantiles,
        tdigest_sketches,
    )

    df = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
    sk = tdigest_sketches(df, ["l_extendedprice"], partition_col="l_returnflag")
    rows = sk.collect()
    assert {r["partition"] for r in rows} == {"A", "N", "R"}
    assert sum(r["n_values"] for r in rows) == df.count()

    merged = merge_tdigests(sk)
    est = {
        (r["column"], r["p"]): r["value"]
        for r in tdigest_quantiles(merged, (0.25, 0.5, 0.75)).collect()
    }
    exact = df.selectExpr(
        *[
            f"percentile(l_extendedprice, {p}) as e{i}"
            for i, p in enumerate((0.25, 0.5, 0.75))
        ]
    ).first()
    for i, p in enumerate((0.25, 0.5, 0.75)):
        e = exact[f"e{i}"]
        assert abs(est[("l_extendedprice", p)] - e) <= 0.01 * abs(e)


def test_spark_n_values_counts_only_digested_values(spark):
    """``n_values`` counts exactly the values the digest holds: NULL, NaN
    and +/-inf are all dropped, and a partition with no finite value gets
    no row."""
    from jsonschema_validator_spark.operators.tdigest import tdigest_sketches

    inf = float("inf")
    rows = [("a", v) for v in (1.0, 2.0, inf, -inf, float("nan"), None)]
    rows += [("b", v) for v in (inf, float("nan"), None)]
    df = spark.createDataFrame(rows, "p string, x double")
    out = tdigest_sketches(df, ["x"], partition_col="p").collect()
    assert [r["partition"] for r in out] == ["a"]
    weight = td.deserialize(out[0]["sketch"])[1].sum()
    assert out[0]["n_values"] == weight == 2
