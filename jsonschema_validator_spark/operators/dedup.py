"""Deduplication operators: exact, MinHash+LSH, SimHash, n-gram Jaccard.

Training-pipeline additions (not in the reference — SURVEY.md §2.5 scope
extension mandated by the build brief). All deterministic: hash functions
are derived from md5/xxhash64 with fixed seeds so results are reproducible
across runs AND portable to the DuckDB oracle.

Scale design:
- exact dedup: one hash-groupBy (partial agg map-side).
- MinHash: per-doc ``min(xxhash64)`` aggregates over the exploded
  shingles (JVM-side, no UDF); LSH banding turns all-pairs O(n²) into
  per-bucket candidate pairs — the join key is (band, band_hash), so the
  shuffle is balanced unless a bucket is hot (degenerate shingles), which
  the band-hash salt bounds.
- SimHash: 64-bit signature from per-shingle xxhash bits, hamming-adjacent
  buckets via bit-slices.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from jsonschema_validator_spark.operators.columns import let


def _norm(t: Column) -> Column:
    return F.regexp_replace(F.lower(F.trim(t)), r"\s+", " ")


def _spread_small_input(df: DataFrame) -> DataFrame:
    """Parallelism guard for the shingle-heavy operators: a small input
    (e.g. one sub-128MB parquet file → ONE scan split) serializes the whole
    explode+hash pipeline on a single core (measured 3.0 s of a 3.4 s
    simhash run at 5k docs). When the input's source-FILE count is below
    the session's default parallelism, round-robin repartition the
    (id, text) projection — a trivial shuffle at small scale. At
    production scale the scan reads ≥ that many files and this is a no-op.

    Detection uses ``inputFiles()`` (pure plan inspection), NOT
    ``df.rdd.getNumPartitions()``: converting to an RDD makes AQE
    materialize the upstream query stages at PLAN BUILD time (the same
    trap as localCheckpoint, stats.py NOTE) — cheap on a plain scan,
    silent stage execution behind any computed upstream (VERDICT r4).
    Non-file inputs (in-memory test frames: no source files) are left
    as-is — createDataFrame already spreads over defaultParallelism
    slices. A few huge splittable files can false-positive here (scan
    splits ≥ files); the extra round-robin of the narrow projection is
    trivial next to the shingle pipeline it feeds."""
    target = df.sparkSession.sparkContext.defaultParallelism
    try:
        n_files = len(df.inputFiles())
    except Exception:  # non-file plans (streams, pure-local relations)
        n_files = 0
    if 0 < n_files < target:
        return df.repartition(target)
    return df


def _fingerprint(text: Column) -> Column:
    """Canonical 64-bit (16-hex-char) content fingerprint — THE one copy
    of the formula shared by :func:`exact_duplicates`, the curation
    funnel's exact-dedup stage, and (as a literal re-expression) the
    DuckDB oracles; a change here must ship with all of them."""
    return F.substring(F.md5(_norm(text)), 1, 16)


def exact_duplicates(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Groups of exact duplicates (after whitespace/case canonicalization).

    Output: ``fingerprint, n_docs, doc_ids (sorted array)`` for groups with
    n_docs > 1. One shuffle on the 64-bit (16-hex-char) fingerprint.
    """
    fp = _fingerprint(F.col(text_col))
    return (
        # NULL text ⇒ NULL fingerprint: no content means no identity —
        # without the filter all NULL-text docs grouped under the NULL
        # fingerprint and were reported as duplicates of each other
        # (the streaming twin passes them through for the same reason)
        df.filter(F.col(text_col).isNotNull())
        .select(fp.alias("fingerprint"), F.col(id_col))
        .groupBy("fingerprint")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sort_array(F.collect_list(id_col)).alias("doc_ids"),
        )
        .filter(F.col("n_docs") > 1)
    )


def word_shingles(text: Column, k: int = 3) -> Column:
    """Distinct k-word shingles of the canonicalized text (JVM-side); the
    whole text is one shingle when it has fewer than ``k`` words. The
    tokens are let-bound, so the text is tokenized once per row, not once
    per shingle."""

    def shingles(toks: Column) -> Column:
        n = F.size(toks)
        idx = F.sequence(F.lit(1), F.greatest(n - (k - 1), F.lit(1)))
        return F.array_distinct(
            F.when(n < k, F.array(F.array_join(toks, " "))).otherwise(
                F.transform(idx, lambda i: F.array_join(F.slice(toks, i, k), " "))
            )
        )

    return let(F.split(_norm(text), " "), shingles)


def minhash_signatures(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_hashes: int = 64,
    shingle_k: int = 3,
) -> DataFrame:
    """Per-doc MinHash signature via explode + grouped min-aggregates.

    Shape: one scan → explode :func:`word_shingles` (each doc tokenized
    once) → n_hashes ``min(xxhash64(s, seed))`` aggregates per doc. The
    shuffle is keyed by doc (balanced: shingle counts are bounded by doc
    length), partial aggregation collapses it map-side, and the hash
    aggregates stay inside whole-stage codegen — a per-row array form
    (n_hashes passes over the shingle array) exceeds the codegen
    method-size limit and measured 30× slower. Output:
    ``_id, _h0.._h{n-1}``. Docs with NULL text are dropped (no content ⇒
    no signature ⇒ no candidate pairs).
    """
    ex = _spread_small_input(
        # the drop the docstring promises must be enforced here:
        # word_shingles(NULL) is [NULL] (split of a NULL is NULL, not
        # empty), so without the filter every NULL doc exploded to one
        # NULL shingle and they ALL shared the seed-only signature —
        # N NULL docs became N²/2 false candidate pairs
        df.select(F.col(id_col), F.col(text_col)).filter(
            F.col(text_col).isNotNull()
        )
    ).select(
        F.col(id_col).alias("_id"),
        F.explode(word_shingles(F.col(text_col), shingle_k)).alias("_s"),
    )
    aggs = [
        F.min(F.xxhash64("_s", F.lit(s))).alias(f"_h{s}") for s in range(n_hashes)
    ]
    return ex.groupBy("_id").agg(*aggs)


def minhash_lsh_candidates(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_hashes: int = 64,
    bands: int = 16,
    shingle_k: int = 3,
) -> DataFrame:
    """Candidate near-duplicate pairs via MinHash banding.

    rows = bands of size n_hashes/bands; docs sharing any band hash become a
    candidate pair. Output: ``id_a, id_b, n_shared_bands`` (id_a < id_b).
    """
    if n_hashes % bands != 0:
        # integer division would silently discard the trailing
        # n_hashes % bands signature hashes — computed, paid for, never
        # consulted, with a recall/precision trade-off the caller did not
        # ask for (same precondition class as hamming_near_duplicates)
        raise ValueError(
            f"bands ({bands}) must divide n_hashes ({n_hashes}) evenly"
        )
    rows_per_band = n_hashes // bands
    with_sig = minhash_signatures(df, text_col, id_col, n_hashes, shingle_k)
    # band hash over the signature COLUMNS (post-aggregation, so the band
    # structs are cheap column refs, not 16 copies of the signature tree)
    band_rows = with_sig.select(
        "_id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.xxhash64(
                            F.concat_ws(
                                ",",
                                *[
                                    F.col(f"_h{i}").cast("string")
                                    for i in range(
                                        b * rows_per_band, (b + 1) * rows_per_band
                                    )
                                ],
                            )
                        ).alias("band_hash"),
                    )
                    for b in range(bands)
                ]
            )
        ).alias("bh"),
    ).select("_id", "bh.band", "bh.band_hash")
    a = band_rows.alias("a")
    b = band_rows.alias("b")
    pairs = (
        a.join(b, ["band", "band_hash"])
        .filter(F.col("a._id") < F.col("b._id"))
        .groupBy(F.col("a._id").alias("id_a"), F.col("b._id").alias("id_b"))
        .agg(F.count(F.lit(1)).alias("n_shared_bands"))
    )
    return pairs


def ngram_jaccard_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_k: int = 3,
    threshold: float = 0.8,
    candidates: DataFrame | None = None,
    all_pairs: bool = False,
) -> DataFrame:
    """Exact n-gram Jaccard similarity for candidate pairs.

    The production shape feeds :func:`minhash_lsh_candidates` output as
    ``candidates`` (see the jaccard_dedup_paths driver query). The quadratic
    all-pairs shingle self-join (every pair sharing ≥1 shingle) is
    TEST-SCALE ONLY and must be opted into explicitly via
    ``all_pairs=True`` — calling without either raises, so a copy-pasted
    call can never silently run the quadratic path on a large corpus
    (mirrors ``embedding_cosine_neardups``'s opt-in). Output:
    ``id_a, id_b, jaccard`` with jaccard ≥ threshold.
    """
    if candidates is None and not all_pairs:
        raise ValueError(
            "ngram_jaccard_pairs requires candidates (the LSH production "
            "path, see minhash_lsh_candidates) or an explicit "
            "all_pairs=True opt-in to the quadratic test-scale self-join"
        )
    sh = _spread_small_input(
        # NULL-text docs have no shingles — without this filter a pair of
        # NULL docs scored jaccard 1.0 on the candidates path ([NULL]
        # arrays intersect/union to size 1) while the all-pairs path
        # returned nothing; now a candidate pair touching a NULL doc
        # simply drops out of the inner joins on both paths
        df.select(F.col(id_col), F.col(text_col)).filter(
            F.col(text_col).isNotNull()
        )
    ).select(
        F.col(id_col).alias("_id"), word_shingles(F.col(text_col), shingle_k).alias("_sh")
    )
    if candidates is None:
        ex = sh.select("_id", F.explode("_sh").alias("s"))
        cand = (
            ex.alias("a")
            .join(ex.alias("b"), "s")
            .filter(F.col("a._id") < F.col("b._id"))
            .select(F.col("a._id").alias("id_a"), F.col("b._id").alias("id_b"))
            .dropDuplicates()
        )
    else:
        cand = candidates.select("id_a", "id_b")
    joined = (
        cand.join(sh.withColumnRenamed("_id", "id_a").withColumnRenamed("_sh", "sh_a"), "id_a")
        .join(sh.withColumnRenamed("_id", "id_b").withColumnRenamed("_sh", "sh_b"), "id_b")
    )
    inter = F.size(F.array_intersect("sh_a", "sh_b")).cast("double")
    union = F.size(F.array_union("sh_a", "sh_b")).cast("double")
    return (
        joined.select(
            "id_a", "id_b", F.round(inter / union, 6).alias("jaccard")
        ).filter(F.col("jaccard") >= threshold)
    )


def ngram_contamination(
    df: DataFrame,
    benchmark: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    bench_text_col: str = "text",
    shingle_k: int = 5,
    threshold: float = 0.5,
    broadcast_benchmark: bool = True,
) -> DataFrame:
    """Benchmark decontamination: per-document n-gram overlap against an
    evaluation corpus (the standard train/test-contamination check — e.g.
    GPT-3 appendix C / PaLM appendix D scrub training docs whose k-gram
    shingles collide with eval-set shingles).

    A document's contamination fraction is |shingles(doc) ∩
    shingles(benchmark)| / |shingles(doc)| over distinct k-word shingles
    (the same :func:`word_shingles` canonicalization as the Jaccard
    family); ``contaminated`` flags docs at/above ``threshold`` (compared
    on the 6-dp-rounded fraction, the engine-wide oracle convention).

    Scale shape: the benchmark side reduces to a DISTINCT set of 64-bit
    shingle hashes — eval sets are tiny next to a training corpus, so with
    ``broadcast_benchmark=True`` (default) the membership probe is a
    broadcast hash join evaluated map-side: the corpus is scanned ONCE,
    exploded shingles never shuffle, and the only exchange is the
    per-doc count aggregation (partial-agg collapses it to O(docs) rows
    keyed by doc id — balanced by construction). For an unusually large
    benchmark pass ``broadcast_benchmark=False`` to fall back to a shuffled
    equi-join on the shingle hash. Never quadratic in either mode.

    NULL-text documents are dropped (no content ⇒ no shingles ⇒ nothing to
    contaminate); callers wanting them keep their own rows (see
    curation.curate_corpus, which treats missing flags as clean).

    Output: ``doc_id, n_shingles, n_matched, contamination_frac,
    contaminated``.
    """
    bench_set = (
        benchmark.filter(F.col(bench_text_col).isNotNull())
        .select(
            F.explode(word_shingles(F.col(bench_text_col), shingle_k)).alias("_s")
        )
        .select(F.xxhash64("_s").alias("_bh"))
        .distinct()
    )
    if broadcast_benchmark:
        bench_set = F.broadcast(bench_set)
    docs = _spread_small_input(
        df.select(F.col(id_col), F.col(text_col))
    ).filter(F.col(text_col).isNotNull())
    ex = docs.select(
        F.col(id_col).alias("doc_id"),
        F.explode(word_shingles(F.col(text_col), shingle_k)).alias("_s"),
    ).select("doc_id", F.xxhash64("_s").alias("_dh"))
    agg = (
        ex.join(bench_set, ex["_dh"] == bench_set["_bh"], "left")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_shingles"),
            F.count("_bh").alias("n_matched"),
        )
    )
    return agg.select(
        "doc_id", "n_shingles", "n_matched", *_contamination_flags(threshold)
    )


def _contamination_flags(threshold: float) -> list[Column]:
    """``contamination_frac`` (``n_matched / n_shingles`` rounded to 6 dp)
    and ``contaminated`` (that rounded fraction at/above ``threshold``)
    over a frame holding ``n_shingles`` and ``n_matched`` — shared by this
    operator and its streaming twin."""
    frac = F.round(F.col("n_matched") / F.col("n_shingles"), 6)
    return [frac.alias("contamination_frac"), (frac >= threshold).alias("contaminated")]


def simhash(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id", shingle_k: int = 2
) -> DataFrame:
    """64-bit SimHash per document.

    For each bit position, majority vote over the xxhash64 bits of the
    document's shingles — vectorized as 64 aggregate sums over the shingle
    array (still pure Column algebra, no UDF).

    Docs with NULL text are dropped from the output (no content ⇒ no
    signature), same as :func:`minhash_signatures`. The earlier per-row
    form emitted simhash 0 for NULL text, making all null docs mutual
    "near-duplicates" — the drop is deliberate; left-join back to the
    input ids if you need a row per doc.
    """
    # explode + grouped bit-sums: one pass over the shingles, 64 codegen-
    # friendly sum aggregates per doc. (The per-row form — 64 `filter`
    # passes over the hash array — exceeds codegen limits and drops to
    # interpreted evaluation; measured 30×+ slower, and it double-evaluates
    # under a self-join.)
    ex = _spread_small_input(
        # enforce the documented NULL drop (word_shingles(NULL) is [NULL],
        # which hashed to the constant seed-only value — all NULL docs
        # became mutual near-duplicates, same bug class as minhash)
        df.select(F.col(id_col), F.col(text_col)).filter(
            F.col(text_col).isNotNull()
        )
    ).select(
        F.col(id_col).alias("_id"),
        F.explode(word_shingles(F.col(text_col), shingle_k)).alias("_s"),
    ).select("_id", F.xxhash64("_s").alias("_h"))
    aggs = [F.count(F.lit(1)).alias("_n")] + [
        F.sum(F.shiftright("_h", b).bitwiseAND(F.lit(1))).alias(f"_b{b}")
        for b in range(64)
    ]
    g = ex.groupBy("_id").agg(*aggs)
    out = F.lit(0).cast("long")
    for bit in range(64):
        bc = F.when(F.col(f"_b{bit}") * 2 >= F.col("_n"), F.lit(1).cast("long")).otherwise(
            F.lit(0).cast("long")
        )
        out = out + F.shiftleft(bc, bit)
    return g.select(F.col("_id").alias(id_col), out.alias("simhash"))


def hamming_near_duplicates(
    df: DataFrame,
    sig_col: str,
    id_col: str,
    max_hamming: int = 3,
    n_slices: int = 4,
) -> DataFrame:
    """Near-dup pairs over an EXISTING 64-bit signature column (SimHash,
    perceptual phash, any fingerprint): pigeonhole on bit-slices — any
    pair within ``max_hamming`` (< n_slices) differing bits shares at
    least one identical ``64/n_slices``-bit slice, so the candidate join
    is an equi-join on (slice_idx, slice_value) — never all-pairs.
    Signed signatures are fine: arithmetic shift + mask yields identical
    slice values on both sides, and ``bit_count(xor)`` counts the two's
    complement bit pattern, which IS the 64-bit hamming distance.
    Output: ``id_a, id_b, hamming`` with id_a < id_b."""
    # pigeonhole precondition, enforced (round-4: was docstring-only — a
    # caller passing max_hamming == n_slices silently LOST recall): with
    # n_slices slices, a pair differing in max_hamming bits can only be
    # guaranteed to share an identical slice if max_hamming < n_slices,
    # and the slicing only covers all 64 bits when n_slices divides 64.
    if n_slices <= 0 or 64 % n_slices != 0:
        raise ValueError(
            f"n_slices={n_slices} must be a positive divisor of 64 "
            "(the bit-slices must tile the 64-bit signature exactly)"
        )
    if max_hamming >= n_slices:
        raise ValueError(
            f"max_hamming={max_hamming} must be < n_slices={n_slices}: the "
            "pigeonhole guarantee (some slice identical) needs more slices "
            "than differing bits — raise n_slices or lower max_hamming"
        )
    sigs = df.select(F.col(id_col).alias("_id"), F.col(sig_col).alias("_sig"))
    width = 64 // n_slices
    mask = (1 << width) - 1
    sliced = sigs.select(
        "_id",
        "_sig",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("slice_idx"),
                        F.shiftright("_sig", i * width).bitwiseAND(F.lit(mask)).alias("slice_val"),
                    )
                    for i in range(n_slices)
                ]
            )
        ).alias("sl"),
    ).select("_id", "_sig", "sl.slice_idx", "sl.slice_val")
    a, b = sliced.alias("a"), sliced.alias("b")
    xor = F.col("a._sig").bitwiseXOR(F.col("b._sig"))
    return (
        a.join(b, ["slice_idx", "slice_val"])
        .filter(F.col("a._id") < F.col("b._id"))
        .select(
            F.col("a._id").alias("id_a"),
            F.col("b._id").alias("id_b"),
            F.bit_count(xor).alias("hamming"),
        )
        .dropDuplicates(["id_a", "id_b"])
        .filter(F.col("hamming") <= max_hamming)
    )


def simhash_near_duplicates(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_hamming: int = 3,
    n_slices: int = 4,
) -> DataFrame:
    """Near-dup pairs by SimHash — :func:`simhash` signatures fed through
    the generic :func:`hamming_near_duplicates` pigeonhole join."""
    sigs = simhash(df, text_col, id_col)
    return hamming_near_duplicates(
        sigs, "simhash", id_col, max_hamming=max_hamming, n_slices=n_slices
    )


def duplicate_clusters(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iters: int = 10,
    on_nonconverged: str = "raise",
) -> DataFrame:
    """Connected components over near-dup PAIR edges → cluster assignment:
    ``doc_id, cluster_id, is_representative`` (cluster_id = min doc id in
    the component; the representative is the row a dedup pipeline keeps).

    The step every dedup pipeline needs after pair generation: pairs only
    say "a~b"; deletion needs transitive groups (a~b, b~c ⇒ {a,b,c} keep
    one). Implemented as min-label propagation WITH pointer doubling: each
    iteration (1) propagates labels across edges (equi-join + min-agg) and
    (2) shortcuts each label to its label's label (join on the label graph
    itself). The shortcut gives the same O(log diameter) round complexity
    as large-star/small-star (Kiveris et al., "Connected Components in
    MapReduce and Beyond") while keeping the balanced equi-join + min-agg
    per-round shape — the default max_iters=10 therefore covers components
    of diameter ~2^10, not 10 (near-dup clusters are quasi-cliques of
    diameter 2-3; adversarial CHAINS are what the doubling is for).

    Non-convergence is never silent (round-4 fix: the loop previously just
    exited, returning a wrong clustering with no signal): if the loop
    exhausts ``max_iters`` with labels still changing, ``on_nonconverged=
    "raise"`` (default) raises RuntimeError; ``"flag"`` returns the partial
    labels with a ``converged`` boolean column (false everywhere) so a
    pipeline can quarantine instead of abort.

    Deterministic: min-id labels are independent of join/iteration order
    once converged. Only documents that appear in a pair are emitted —
    unpaired documents are implicitly their own singleton representative
    (left-anti join this output against the corpus to list them).
    """
    if on_nonconverged not in ("raise", "flag"):
        raise ValueError("on_nonconverged must be 'raise' or 'flag'")
    edges = pairs.select(F.col(id_a).alias("src"), F.col(id_b).alias("dst"))
    edges = edges.unionAll(
        edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    ).dropDuplicates()
    edges.cache()
    labels = (
        edges.select(F.col("src").alias("id"))
        .dropDuplicates()
        .withColumn("lbl", F.col("id"))
    )
    converged = False
    for _ in range(max_iters):
        prop = (
            edges.join(labels.withColumnRenamed("id", "src"), "src")
            .groupBy(F.col("dst").alias("id"))
            .agg(F.min("lbl").alias("_nlbl"))
        )
        stepped = labels.join(prop, "id", "left").select(
            "id",
            F.least(F.col("lbl"), F.coalesce("_nlbl", F.col("lbl"))).alias("lbl"),
        )
        # pointer doubling: lbl ← lbl(lbl). Every label is itself a node id
        # (the min of ids seen so far), so the lookup is a self-join on the
        # label table — path lengths halve each round. The self-join would
        # SQUARE the logical plan per iteration (cache truncates execution,
        # not analysis — plan growth OOMs the driver by ~iteration 6), so
        # each round materializes via localCheckpoint, which truncates
        # lineage; on a real cluster point spark.checkpoint.dir at durable
        # storage and use checkpoint() for executor-loss tolerance.
        new = (
            stepped.alias("x")
            .join(
                stepped.select(
                    F.col("id").alias("_lid"), F.col("lbl").alias("_llbl")
                ).alias("y"),
                F.col("x.lbl") == F.col("_lid"),
                "left",
            )
            .select(
                F.col("x.id").alias("id"),
                F.least(
                    F.col("x.lbl"), F.coalesce("_llbl", F.col("x.lbl"))
                ).alias("lbl"),
            )
            .localCheckpoint()
        )
        changed = (
            new.withColumnRenamed("lbl", "_new")
            .join(labels, "id")
            .filter(F.col("_new") != F.col("lbl"))
            .count()
        )
        labels = new
        if changed == 0:
            converged = True
            break
    edges.unpersist()
    if not converged and on_nonconverged == "raise":
        raise RuntimeError(
            f"duplicate_clusters did not converge within max_iters={max_iters} "
            "(labels still changing — component diameter exceeds 2^max_iters "
            "or the edge set is pathological); raise max_iters or pass "
            "on_nonconverged='flag' to get partial labels with converged=false"
        )
    out = labels.select(
        F.col("id").alias("doc_id"),
        F.col("lbl").alias("cluster_id"),
        (F.col("id") == F.col("lbl")).alias("is_representative"),
    )
    if on_nonconverged == "flag":
        out = out.withColumn("converged", F.lit(converged))
    return out
