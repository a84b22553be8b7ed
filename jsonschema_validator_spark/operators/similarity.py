"""Similarity search over embedding columns (``array<float>``).

- Brute-force cosine top-k: the correctness baseline. The dot product is
  ``F.zip_with`` + ``F.aggregate`` — JVM-side, no UDF; ranking via a window
  over query id.
- LSH-bucketed ANN (random hyperplanes): the scale path. Hyperplanes are
  derived deterministically from seeded xxhash64 bit patterns, so the same
  index is produced on every run with no RNG state to ship.

- IVF (inverted-file) ANN: the second scale path the build brief names —
  a deterministic spherical k-means coarse quantizer trained driver-side
  on a bounded sample (the faiss train-on-sample pattern), corpus
  assigned to cells distributed, queries probing their n_probe nearest
  cells. Same bucketed equi-join shape as LSH, but data-adaptive cells.

At 100 TB: brute force is O(n·q) — only for small query sets against a
broadcast query table; the LSH/IVF paths bucket the corpus once (one
shuffle), then probe only matching buckets/cells.
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from jsonschema_validator_spark.operators.columns import let


def _darray_sql(vals) -> str:
    parts = []
    for x in vals:
        x = float(x)
        if not math.isfinite(x):
            raise ValueError(f"non-finite constant in array literal: {x!r}")
        parts.append(repr(x) + "D")
    return "array(" + ",".join(parts) + ")"


def double_array_lit(vals) -> Column:
    """Constant ``array<double>`` literal via ONE SQL ``expr``.

    ``F.lit(list)`` converts element-by-element through py4j (~0.6 ms per
    element measured — 1.3 s for one 2048-float plane set), which made
    literal-heavy plan builds (LSH planes, IVF centroids, Cramér–Wold
    directions) driver-bound. Parsing a single SQL array literal is ~200×
    faster and bit-exact: ``repr`` emits the shortest round-trip decimal
    and Java's correctly-rounded ``Double`` parsing returns the identical
    bits (verified incl. -0.0, denormals, max double).
    """
    return F.expr(_darray_sql(vals))


def double_matrix_lit(rows) -> Column:
    """Constant ``array<array<double>>`` literal via ONE SQL ``expr``
    (see :func:`double_array_lit` for why not ``F.lit``)."""
    return F.expr("array(" + ",".join(_darray_sql(r) for r in rows) + ")")


def dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0).cast("double"),
        lambda acc, v: acc + v,
    )


def norm(a: Column) -> Column:
    return F.sqrt(F.aggregate(a, F.lit(0.0).cast("double"), lambda acc, v: acc + v * v))


def cosine(a: Column, b: Column) -> Column:
    # try_divide: a zero-norm vector (failed encoder output, zero padding)
    # must yield a NULL similarity — under Spark 4's default ANSI mode a
    # bare division RAISES DIVIDE_BY_ZERO and kills the whole job on one
    # degenerate row; callers filter the NULL rows out of rankings
    return F.try_divide(dot(a, b), norm(a) * norm(b))


def brute_force_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str | None = None,
    query_vec_col: str | None = None,
    max_queries: int | None = 10_000,
) -> DataFrame:
    """Exact top-k cosine neighbors for each query vector.

    Output: ``query_id, neighbor_id, rank, cos_sim`` (self-matches excluded
    when ids collide). The query side is broadcast — the corpus never
    shuffles; ranking shuffles only (n_queries × n_corpus) scored pairs
    reduced by the per-query top-k window.

    The plan is O(n_queries × n_corpus) BY DESIGN (it is the exact
    baseline; the scale path is :func:`ann_topk` / :func:`ivf_topk`), so
    the query side must be small enough to broadcast. ``max_queries``
    enforces that with a driver-side count before the crossJoin — a
    copy-pasted ``brute_force_topk(corpus, corpus)`` raises instead of
    silently launching an all-pairs job over a huge broadcast (round-4
    guard, mirroring ``ngram_jaccard_pairs``'s ``all_pairs`` opt-in).
    Pass ``max_queries=None`` to explicitly opt in to an unbounded query
    side.

    cos_sim is rounded to 1e-6 before ranking so rank order is stable across
    engines/float summation orders; ties break on neighbor_id ascending.
    """
    query_id_col = query_id_col or id_col
    query_vec_col = query_vec_col or vec_col
    if max_queries is not None:
        # limit(max+1).count() touches at most max+1 rows — O(1) at scale,
        # never a full scan of the query side
        n_q = queries.limit(max_queries + 1).count()
        if n_q > max_queries:
            raise ValueError(
                f"brute_force_topk query side has > {max_queries} rows: the "
                "exact path broadcasts the queries and scores O(q×corpus) "
                "pairs. Use ann_topk/ivf_topk for large query sets, or pass "
                "max_queries=None (or a higher bound) to opt in explicitly."
            )
    q = queries.select(
        F.col(query_id_col).alias("query_id"),
        F.transform(F.col(query_vec_col), lambda x: x.cast("double")).alias("_qv"),
    )
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        F.transform(F.col(vec_col), lambda x: x.cast("double")).alias("_cv"),
    )
    scored = F.broadcast(q).crossJoin(c).filter(F.col("query_id") != F.col("neighbor_id"))
    sim = F.round(cosine(F.col("_qv"), F.col("_cv")), 6)
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos_sim").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.select("query_id", "neighbor_id", sim.alias("cos_sim"))
        # zero-norm vectors divide to NULL cosine — excluded, not ranked
        .filter(F.col("cos_sim").isNotNull())
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )


def _hyperplane(dim: int, plane_idx: int) -> list[float]:
    """Deterministic pseudo-random unit hyperplane from a seeded integer
    hash (splitmix64-style scramble — public-domain constant mixing)."""
    vals = []
    for j in range(dim):
        z = (plane_idx * 0x9E3779B97F4A7C15 + j * 0xBF58476D1CE4E5B9 + 0x94D049BB133111EB) % (
            1 << 64
        )
        z ^= z >> 31
        z = (z * 0xD6E8FEB86659FD93) % (1 << 64)
        z ^= z >> 27
        # map to (-1, 1)
        vals.append((z / float(1 << 63)) - 1.0)
    n = math.sqrt(sum(v * v for v in vals)) or 1.0
    return [v / n for v in vals]


def lsh_index(
    df: DataFrame,
    dim: int,
    n_planes: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Random-hyperplane LSH bucket per vector: ``id, bucket``.

    bucket = sign bits of <v, h_i> packed into a long. Deterministic
    hyperplanes ⇒ stable index across runs (resume-friendly). Equal to
    table 0 of the multi-table index.
    """
    return lsh_probe_buckets(df, dim, n_planes, 1, id_col, vec_col).select(
        "id", "bucket"
    )


def _probe_structs(
    vec_col: str, dim: int, n_planes: int, n_probes: int, n_tables: int
) -> Column:
    """``array<struct<table:int, bucket:long>>`` of probe buckets — the
    exact sign-bit bucket of each of ``n_tables`` independent plane sets,
    plus (per table) Hamming-1 flips of the ``n_probes - 1``
    LEAST-CONFIDENT bits — the planes with the smallest |<v, h_i>| margin,
    where the sign was closest to flipping — which is where a true
    near-neighbor most likely landed on the other side (the multi-probe
    LSH idea of Lv et al., VLDB'07). Everything is JVM Column algebra: the
    per-plane dots are computed once, margins ranked with ``array_sort``
    over (|margin|, bit) structs, and flipped buckets generated via
    ``bitwiseXOR`` with a literal power-of-two lookup — no UDFs.

    Table ``t`` uses plane indices ``t*n_planes .. t*n_planes+n_planes-1``
    of the deterministic hyperplane stream, so tables are independent and
    table 0 reproduces the single-table index bit-for-bit.
    """
    if not 1 <= n_probes <= n_planes + 1:
        raise ValueError("n_probes must be in [1, n_planes+1]")
    if n_tables < 1:
        raise ValueError("n_tables must be >= 1")
    powers = F.lit([1 << i for i in range(n_planes)])  # array<bigint>, one call
    # [table][plane][dim] literal: one SQL matrix literal per table —
    # F.lit(list) pays ~0.6 ms/element of py4j conversion (1.7 s at
    # 8×4×64); the expr path is one string parse per table
    planes_lit = F.array(
        *[
            double_matrix_lit(
                [_hyperplane(dim, t * n_planes + i) for i in range(n_planes)]
            )
            for t in range(n_tables)
        ]
    )

    # each dot subtree is let-bound: referenced from the bucket, the margins
    # and every flip, it would otherwise be evaluated n_probes+1 times per
    # row and re-built per table (3.8 s of driver py4j chatter at 8 tables)
    def with_vec(vv: Column) -> Column:
        def per_table(planes_t: Column, t: Column) -> Column:
            def with_dots(ds: Column) -> Column:
                b0 = F.lit(0).cast("long")
                for i in range(n_planes):
                    b0 = b0 + F.shiftleft(
                        (F.element_at(ds, i + 1) > 0).cast("long"), i
                    )

                def with_bucket(bucket: Column) -> Column:
                    if n_probes == 1:
                        probes = F.array(bucket)
                    else:
                        margins = F.array(
                            *[
                                F.struct(
                                    F.abs(F.element_at(ds, i + 1)).alias("m"),
                                    F.lit(i).alias("i"),
                                )
                                for i in range(n_planes)
                            ]
                        )
                        flips = F.slice(F.array_sort(margins), 1, n_probes - 1)
                        probes = F.concat(
                            F.array(bucket),
                            F.transform(
                                flips,
                                lambda s: bucket.bitwiseXOR(
                                    F.element_at(powers, s["i"] + 1)
                                ),
                            ),
                        )
                    return F.transform(
                        probes,
                        lambda b: F.struct(
                            t.cast("int").alias("table"), b.alias("bucket")
                        ),
                    )

                return let(b0, with_bucket)

            return let(F.transform(planes_t, lambda p: dot(vv, p)), with_dots)

        tables = F.transform(planes_lit, per_table)
        return F.element_at(tables, 1) if n_tables == 1 else F.flatten(tables)

    v = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    return let(v, with_vec)


def lsh_probe_buckets(
    df: DataFrame,
    dim: int,
    n_planes: int = 16,
    n_probes: int = 1,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_tables: int = 1,
) -> DataFrame:
    """Multi-probe, multi-table LSH buckets per vector:
    ``id, table, bucket`` — one row per probe per table
    (``n_tables × n_probes`` rows per vector).

    One projection + one explode — a single scan regardless of table or
    probe count; see :func:`_probe_structs` for the probe construction.

    Vectors whose length differs from ``dim`` produce NULL dots (zip_with
    pads with NULL) and hence a NULL bucket, and NULL join keys never
    match — so malformed vectors are EXCLUDED from the index and from
    every candidate set, by design: validate embedding shape up front
    with the spec layer (``items``/``minItems``/``maxItems``) if they
    must be surfaced rather than skipped.
    """
    probes = _probe_structs(vec_col, dim, n_planes, n_probes, n_tables)
    return df.select(
        F.col(id_col).alias("id"), F.explode(probes).alias("_p")
    ).select("id", F.col("_p.table").alias("table"), F.col("_p.bucket").alias("bucket"))


def embedding_cosine_neardups(
    df: DataFrame,
    dim: int,
    threshold: float = 0.95,
    n_planes: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    all_pairs: bool = False,
    n_probes: int = 1,
    n_tables: int = 1,
) -> DataFrame:
    """Embedding-cosine near-duplicate PAIRS (the dedup-family use of the
    similarity machinery): ``id_a, id_b, cos_sim`` with cos_sim ≥ threshold
    and id_a < id_b.

    Default path buckets by hyperplane LSH first (same deterministic planes
    as :func:`ann_topk`) so only same-bucket pairs are scored — the shape
    that survives 100 TB. Raise recall with lower ``n_planes`` (bigger
    buckets), ``n_probes > 1`` (multi-probe: one side of the self-join
    also probes Hamming-1 neighbor buckets across its least-confident
    bits, so a pair split by exactly one marginal plane is still found) or
    ``n_tables > 1`` (union of candidates across independent plane sets);
    candidate pairs are distinct-ed before scoring so the fan-out never
    scores a pair twice. ``all_pairs=True`` scores the full quadratic
    join — test-scale verification only.
    """
    v = df.select(
        F.col(id_col).alias("_id"),
        F.transform(F.col(vec_col), lambda x: x.cast("double")).alias("_v"),
    )
    if all_pairs:
        a, b = v.alias("a"), v.alias("b")
        paired = a.crossJoin(b).filter(F.col("a._id") < F.col("b._id"))
        cand = paired.select(
            F.col("a._id").alias("id_a"), F.col("b._id").alias("id_b")
        )
    else:
        probed = lsh_probe_buckets(
            df, dim, n_planes, n_probes, id_col, vec_col, n_tables
        )
        # with a single probe the exact side IS the probed side: using the
        # same DataFrame lets AQE reuse the shuffled projection for both
        # join branches (ReusedExchange) instead of projecting the corpus
        # against every hyperplane twice
        exact = (
            probed
            if n_probes == 1
            else lsh_probe_buckets(df, dim, n_planes, 1, id_col, vec_col, n_tables)
        )
        # pair (x, y) is a candidate iff bucket_t(x) ∈ probes_t(y) for any
        # table t — covers both directions of the symmetric relation since
        # either member may be the exact-bucket side
        pairs = (
            exact.alias("x")
            .join(probed.alias("y"), ["table", "bucket"])
            .filter(F.col("x.id") != F.col("y.id"))
        )
        cand = pairs.select(
            F.least("x.id", "y.id").alias("id_a"),
            F.greatest("x.id", "y.id").alias("id_b"),
        ).dropDuplicates(["id_a", "id_b"])
    scored = (
        cand.join(
            v.select(F.col("_id").alias("id_a"), F.col("_v").alias("_va")), "id_a"
        ).join(
            v.select(F.col("_id").alias("id_b"), F.col("_v").alias("_vb")), "id_b"
        )
    )
    sim = F.round(cosine(F.col("_va"), F.col("_vb")), 6)
    return scored.select("id_a", "id_b", sim.alias("cos_sim")).filter(
        F.col("cos_sim") >= threshold
    )


def ivf_train(sample: "np.ndarray", n_cells: int, n_iters: int = 10):
    """Deterministic spherical k-means over a driver-side SAMPLE — the IVF
    coarse quantizer (the faiss pattern: train on a bounded sample, assign
    the full corpus distributed). Pure numpy, fixed iteration order, no
    RNG: initial centroids are the first ``n_cells`` sample rows (callers
    pass samples sorted by id), so the same input always yields the same
    cells. At 10^12 scale the sample stays O(10^5) rows — training cost is
    constant, independent of corpus size.

    Returns (n_cells, dim) float64 centroids, L2-normalized.
    """
    import numpy as np

    x = np.asarray(sample, dtype=np.float64)
    if x.ndim != 2 or len(x) < n_cells:
        raise ValueError("sample must be (n >= n_cells, dim)")
    xn = x / np.maximum(np.linalg.norm(x, axis=1, keepdims=True), 1e-12)
    c = xn[:n_cells].copy()
    for _ in range(n_iters):
        sims = xn @ c.T  # cosine on normalized vectors
        assign = np.argmax(sims, axis=1)
        for j in range(n_cells):
            members = xn[assign == j]
            if len(members):
                c[j] = members.mean(axis=0)
        c = c / np.maximum(np.linalg.norm(c, axis=1, keepdims=True), 1e-12)
    return c


def _cell_sims(vec_col: str, centroids) -> list[Column]:
    v = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    vn = norm(v)
    return [
        # try_divide: a zero-norm vector must not DIVIDE_BY_ZERO the whole
        # assignment job under ANSI; its NULL sims exclude it from cells
        # one SQL array literal per centroid (see double_array_lit: the
        # F.lit(list) path pays ~0.6 ms/element of py4j conversion)
        F.try_divide(dot(v, double_array_lit(c)), vn)
        for c in centroids
    ]


def ivf_assign(
    df: DataFrame,
    centroids,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_probe: int = 1,
) -> DataFrame:
    """``id, cell`` rows: each vector's ``n_probe`` nearest IVF cells
    (by cosine to the trained centroids), one row per probe.

    Pure Column algebra: one dot product per centroid against literal
    arrays (same shape as the LSH hyperplane dots), argmin via
    ``array_sort`` over (-sim, cell) structs — deterministic, lower cell
    id wins ties. ``n_probe=1`` is the corpus-indexing side; queries probe
    several cells to trade compute for recall.
    """
    sims = _cell_sims(vec_col, centroids)
    ranked = F.array_sort(
        F.array(
            *[
                F.struct((-s).alias("d"), F.lit(i).alias("cell"))
                for i, s in enumerate(sims)
            ]
        )
    )
    probes = F.transform(F.slice(ranked, 1, n_probe), lambda s: s["cell"])
    return df.select(
        F.col(id_col).alias("id"), F.explode(probes).alias("cell")
    )


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    centroids,
    k: int = 10,
    n_probe: int = 1,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF approximate top-k: exact cosine WITHIN the query's ``n_probe``
    nearest inverted-list cells. Same output shape as
    :func:`brute_force_topk`; same scale shape as :func:`ann_topk` — the
    corpus is partitioned into cells once (one shuffle on the cell
    equi-join), the query side fans out ×n_probe, candidates are
    distinct by construction (corpus vectors live in exactly one cell).
    """
    cb = ivf_assign(corpus, centroids, id_col, vec_col, 1).withColumnRenamed(
        "id", "neighbor_id"
    )
    qb = ivf_assign(queries, centroids, id_col, vec_col, n_probe).withColumnRenamed(
        "id", "query_id"
    )
    cand = (
        qb.join(cb, "cell")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "neighbor_id")
    )
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        F.transform(F.col(vec_col), lambda x: x.cast("double")).alias("_cv"),
    )
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.transform(F.col(vec_col), lambda x: x.cast("double")).alias("_qv"),
    )
    paired = cand.join(q, "query_id").join(c, "neighbor_id")
    sim = F.round(cosine(F.col("_qv"), F.col("_cv")), 6)
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos_sim").desc(), F.col("neighbor_id").asc()
    )
    return (
        paired.select("query_id", "neighbor_id", sim.alias("cos_sim"))
        # zero-norm vectors (failed encoder output) divide to NULL cosine;
        # without this filter they would still receive ranks, returning k
        # garbage neighbors ordered purely by id
        .filter(F.col("cos_sim").isNotNull())
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )


def ann_topk(
    corpus: DataFrame,
    queries: DataFrame,
    dim: int,
    k: int = 10,
    n_planes: int = 12,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_probes: int = 1,
    n_tables: int = 1,
) -> DataFrame:
    """Approximate top-k: brute-force cosine WITHIN matching LSH buckets.

    Single-table single-probe recall < 1.0 by construction; raise recall
    with fewer planes (bigger buckets), ``n_probes > 1`` (multi-probe: the
    query side also probes the Hamming-1 buckets across its
    least-confident sign bits — see :func:`lsh_probe_buckets`) and/or
    ``n_tables > 1`` (classic LSH table union: candidates are collected
    across L independent plane sets, so a miss needs to miss in EVERY
    table — recall 1-(1-p^k)^L). The corpus is indexed into exactly one
    bucket per table (storage ×L — the standard LSH trade); only the
    query side fans out ×probes. The join stays an equi-join on
    (table, bucket); candidate pairs are distinct-ed before scoring so a
    pair found by several tables/probes is scored once. Output shape
    matches :func:`brute_force_topk`; recall@k vs that baseline is gated
    by the ann_recall_floor driver query.
    """
    cb = lsh_probe_buckets(
        corpus, dim, n_planes, 1, id_col, vec_col, n_tables
    ).withColumnRenamed("id", "neighbor_id")
    qb = lsh_probe_buckets(
        queries, dim, n_planes, n_probes, id_col, vec_col, n_tables
    ).withColumnRenamed("id", "query_id")
    cand = (
        qb.join(cb, ["table", "bucket"])
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "neighbor_id")
    )
    if n_tables > 1 or n_probes > 1:
        cand = cand.dropDuplicates(["query_id", "neighbor_id"])
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        F.transform(F.col(vec_col), lambda x: x.cast("double")).alias("_cv"),
    )
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.transform(F.col(vec_col), lambda x: x.cast("double")).alias("_qv"),
    )
    paired = cand.join(q, "query_id").join(c, "neighbor_id")
    sim = F.round(cosine(F.col("_qv"), F.col("_cv")), 6)
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos_sim").desc(), F.col("neighbor_id").asc()
    )
    return (
        paired.select("query_id", "neighbor_id", sim.alias("cos_sim"))
        # zero-norm vectors (failed encoder output) divide to NULL cosine;
        # without this filter they would still receive ranks, returning k
        # garbage neighbors ordered purely by id
        .filter(F.col("cos_sim").isNotNull())
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )
