"""Distribution-drift tests: KS, PSI, JS and EMD over histograms, and
chi²/Cramér's V/TVD over category counts.

North rule: "KS/PSI distribution-drift tests on w/h/phash histograms".
Implementation is pure DataFrame algebra (SURVEY.md §2.5):

1. bucketize both sides with the SAME fixed bucket edges
   (``width_bucket`` — deterministic, no sampling); a categorical
   column's bucket is its value cast to string,
2. ONE tagged ``groupBy(keys, bucket)`` over the union of both sides
   counts each side (map-side partial agg; the shuffle moves only
   ≤ n_keys × (n_buckets+2) rows, or n_keys × n_categories) —
   :func:`_side_counts`,
3. ``groupBy(keys)`` collects each key's sorted histogram into one array
   (:func:`_per_key_histograms`), and one reduction over that array
   computes every statistic of a family — the CDFs for KS and EMD in one
   ``aggregate`` fold, PSI and JS as array sums
   (:func:`_distribution_stats`); chi² and TVD as array sums
   (:func:`_categorical_stats`).

At 100 TB each side costs one scan; everything after the first groupBy
operates on histogram-sized input, so neither the numeric nor the
categorical drift plan has a window or a join. The batch operators (per
column, per group, per embedding projection) and the streaming
``drift_vs_baseline`` / ``categorical_drift_vs_baseline`` all go through
the same helpers.
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .similarity import double_array_lit


def histogram(
    df: DataFrame,
    column: str,
    lo: float,
    hi: float,
    n_buckets: int = 100,
) -> DataFrame:
    """Fixed-edge histogram: ``bucket (1..n_buckets+1 incl. overflow), n``.

    ``width_bucket`` puts values < lo in bucket 0 and >= hi in n_buckets+1,
    exactly like the SQL-standard function (portable to the DuckDB oracle).
    NULL and NaN values have a NULL bucket and are dropped.
    """
    b = F.width_bucket(F.col(column).cast("double"), F.lit(lo), F.lit(hi), F.lit(n_buckets))
    return (
        df.filter(b.isNotNull())
        .groupBy(b.alias("bucket"))
        .agg(F.count(F.lit(1)).alias("n"))
    )


def _side_counts(a: DataFrame, b: DataFrame, keys: list[str]) -> DataFrame:
    """Per-side bucket counts ``(keys..., bucket, na, nb)`` from two
    ``(keys..., bucket, n)`` frames, in ONE tagged aggregate over their
    union. ``n`` is 1 for a source row (batch) or a histogram count
    (streaming), so raw rows and pre-counted histograms share the helper.
    A (key, bucket) seen on one side only gets 0 on the other; NULL
    buckets (NULL or NaN values) are dropped."""

    def side(df: DataFrame, tag: int) -> DataFrame:
        return df.select(*keys, "bucket", "n", F.lit(tag).alias("_side"))

    def count(tag: int) -> Column:
        return F.sum(F.when(F.col("_side") == tag, F.col("n")).otherwise(0))

    return (
        side(a, 0)
        .unionAll(side(b, 1))
        .filter(F.col("bucket").isNotNull())
        .groupBy(*keys, "bucket")
        .agg(count(0).alias("na"), count(1).alias("nb"))
    )


def _per_key_histograms(counts: DataFrame, keys: list[str]) -> DataFrame:
    """``keys..., _h, n_a, n_b`` from a ``(keys..., bucket, na, nb)`` table:
    each key's histogram as one bucket-sorted ``array<struct<bucket, na,
    nb>>`` plus the two side totals — the step both statistic families
    reduce from. The sort makes every later array sum run in one fixed
    order, so a statistic does not depend on the shuffle's row order."""
    return counts.groupBy(*keys).agg(
        F.array_sort(F.collect_list(F.struct("bucket", "na", "nb"))).alias("_h"),
        F.sum("na").alias("n_a"),
        F.sum("nb").alias("n_b"),
    )


def _column_counts(
    df_a: DataFrame, df_b: DataFrame, columns: list[str], bucket: Callable[[str], Column]
) -> DataFrame:
    """:func:`_side_counts` keyed by ``column``: every source row explodes
    into one ``(column, bucket(column), 1)`` row per listed column, so all
    columns' histograms come from one scan per side (column pruning keeps
    only the listed columns)."""

    def rows(df: DataFrame) -> DataFrame:
        arr = F.array(
            *[F.struct(F.lit(c).alias("column"), bucket(c).alias("bucket")) for c in columns]
        )
        return df.select(F.explode(arr).alias("p")).select(
            "p.column", "p.bucket", F.lit(1).alias("n")
        )

    return _side_counts(rows(df_a), rows(df_b), ["column"])


def _group_counts(
    df_a: DataFrame, df_b: DataFrame, group_col: str, bucket: Column
) -> DataFrame:
    """:func:`_side_counts` keyed by ``group`` (rendered as string) over
    ``(group, bucket, 1)`` rows; NULL groups are dropped here."""

    def rows(df: DataFrame) -> DataFrame:
        return df.filter(F.col(group_col).isNotNull()).select(
            F.col(group_col).cast("string").alias("group"),
            bucket.alias("bucket"),
            F.lit(1).alias("n"),
        )

    return _side_counts(rows(df_a), rows(df_b), ["group"])


def _distribution_stats(
    counts: DataFrame,
    keys: list[str],
    n_buckets: int,
    bucket_width: float,
    eps: float,
    digits: int,
) -> DataFrame:
    """The ONE implementation of KS/PSI/JS/EMD, over a
    ``(keys..., bucket, na, nb)`` table from :func:`_side_counts`.
    Output: ``keys..., n_a, n_b, ks, psi, js, emd`` (side totals, then
    the statistics rounded to ``digits``).

    Each key's histogram is ≤ n_buckets+2 entries, so it is collected into
    one bucket-sorted array and reduced in place: one ``aggregate`` fold
    carries both CDFs (KS = max gap, EMD = Σ gap × width), PSI and JS are
    array sums. A side with no rows for a key has share 0 everywhere
    (guarded — an ANSI divide-by-zero otherwise), which gives the
    nothing-vs-something verdict: ks = 1, psi at the ε-clamped ceiling.

    EMD gap weighting: only POPULATED buckets are in the array, so each
    entry is weighted by the gap to the next one (the CDFs are constant
    over an empty stretch). The LAST entry's gap extends through the
    overflow bucket (``n_buckets + 2 − bucket``): for two-sided data both
    CDFs are 1 there (diff 0, weight moot), but a ONE-SIDED distribution
    keeps a CDF diff of 1 to the end of the grid, and truncating it would
    rank a vanished/appeared key BELOW a mild shift. With the full tail,
    nothing-vs-mass-at-bucket-b measures (n_buckets + 2 − b) ×
    bucket_width — the dense-grid transport distance.
    """

    def share(n: Column, total: Column) -> Column:
        return F.when(total > 0, n / total).otherwise(F.lit(0.0))

    per_key = _per_key_histograms(counts, keys)
    # staged: _p is read by three reductions, _cdf by two output columns
    # (multi-referenced aliases are never inlined — PLANS.md §24)
    p = per_key.select(
        *keys,
        "n_a",
        "n_b",
        F.transform(
            "_h",
            lambda x: F.struct(
                x["bucket"].alias("bucket"),
                share(x["na"], F.col("n_a")).alias("pa"),
                share(x["nb"], F.col("n_b")).alias("pb"),
            ),
        ).alias("_p"),
    )

    def cdf_step(acc: Column, i: Column) -> Column:
        x = F.get("_p", i)
        ca = acc["ca"] + x["pa"]
        cb = acc["cb"] + x["pb"]
        d = F.abs(ca - cb)
        gap = F.coalesce(F.get("_p", i + 1)["bucket"], F.lit(n_buckets + 2)) - x["bucket"]
        return F.struct(
            ca.alias("ca"),
            cb.alias("cb"),
            F.greatest(acc["ks"], d).alias("ks"),
            (acc["emd"] + d * gap).alias("emd"),
        )

    def psi_term(x: Column) -> Column:
        pa, pb = F.greatest(x["pa"], F.lit(eps)), F.greatest(x["pb"], F.lit(eps))
        return (pa - pb) * F.log(pa / pb)

    def js_term(x: Column) -> Column:
        m = (x["pa"] + x["pb"]) / 2

        def half(q: Column) -> Column:
            return F.when(q > 0, q * F.log(q / m)).otherwise(F.lit(0.0))

        return half(x["pa"]) + half(x["pb"])

    def array_sum(term) -> Column:
        return F.aggregate("_p", F.lit(0.0), lambda s, x: s + term(x))

    zero = F.struct(*[F.lit(0.0).alias(f) for f in ("ca", "cb", "ks", "emd")])
    stats = p.select(
        *keys,
        "n_a",
        "n_b",
        F.aggregate(F.sequence(F.lit(0), F.size("_p") - 1), zero, cdf_step).alias("_cdf"),
        array_sum(psi_term).alias("_psi"),
        (0.5 * array_sum(js_term)).alias("_js"),
    )
    return stats.select(
        *keys,
        "n_a",
        "n_b",
        F.round(F.col("_cdf.ks"), digits).alias("ks"),
        F.round("_psi", digits).alias("psi"),
        F.round("_js", digits).alias("js"),
        F.round(F.col("_cdf.emd") * F.lit(bucket_width), digits).alias("emd"),
    )


def drift_metrics(
    df_a: DataFrame,
    df_b: DataFrame,
    columns: list[str],
    lo: float,
    hi: float,
    n_buckets: int = 128,
    eps: float = 1e-6,
    hash_columns: tuple = (),
) -> DataFrame:
    """KS, PSI, JS divergence **and** EMD for MANY columns in ONE scan per
    table.

    A per-column composition costs 2 × n_columns scans per table; at
    100 TB that multiplies the dominant cost. Here each table is scanned
    once: every row explodes into (column, bucket) pairs (cheap — column
    pruning keeps only the drift columns), one tagged groupBy over both
    sides builds ALL histograms (:func:`_side_counts`), and the shared
    reduction (:func:`_distribution_stats`) operates on ≤ n_columns ×
    (n_buckets+2) rows.

    Output: one row per column — ``column, ks, psi, js, emd``.

    ``psi`` = Σ (p−q)·ln(p/q) with ε-smoothing for empty buckets
    (convention: <0.1 stable, 0.1-0.25 moderate drift, >0.25 drifted).
    ``js`` is the Jensen–Shannon divergence — symmetric and finite even on
    disjoint support (a zero-share term contributes 0, so no ε is needed),
    natural-log convention, bounded by ln 2.

    ``hash_columns``: columns whose VALUES are hashes/ids (e.g. phash) —
    numeric range bucketing is meaningless there, so they bucket by
    ``pmod(value, n_buckets)``; the frequency histogram still detects a
    replaced hot-set or shifted population (PSI is the meaningful stat; KS
    and EMD over hash buckets are order-free but kept for the common
    output shape).

    ``emd`` is the 1-Wasserstein distance between the bucketized
    distributions, in VALUE units: Σ |CDF_a − CDF_b| × bucket_width — the
    average distance probability mass must move, a magnitude complement to
    KS's max deviation (KS saturates once any single gap exists; EMD keeps
    growing as the shift widens). It comes from the SAME CDF fold as KS.
    Assumes values lie in [lo, hi): mass in the under/overflow buckets is
    treated as sitting one bucket outside the range.

    Both sides go through one tagged aggregate, so the plan has two
    shuffles (the counts, then the per-column histograms), no window and
    no join. Measured cold on a 4k-row, 4-file table (4-vCPU host,
    local[4], median call over 6 alternating process pairs) against the
    former per-side histograms + share windows + full outer join: 3 Spark
    jobs per call instead of 8, wall 0.80 vs 0.83 s for two different
    sides and 0.58 vs 0.61 s against a cached projection; only with ONE
    uncached table passed as both sides, where the former plan reused one
    exchange (5 jobs), was it faster (0.56 vs 0.62 s).
    """

    hash_set = set(hash_columns)

    def _bucket(c: str) -> Column:
        if c in hash_set:
            return F.pmod(F.col(c), F.lit(n_buckets)).cast("long")
        return F.width_bucket(
            F.col(c).cast("double"), F.lit(lo), F.lit(hi), F.lit(n_buckets)
        )

    counts = _column_counts(df_a, df_b, columns, _bucket)
    return _distribution_stats(
        counts, ["column"], n_buckets, (hi - lo) / n_buckets, eps, 9
    ).select("column", "ks", "psi", "js", "emd")


def drift_by_group(
    df_a: DataFrame,
    df_b: DataFrame,
    group_col: str,
    column: str,
    lo: float,
    hi: float,
    n_buckets: int = 50,
    eps: float = 1e-6,
) -> DataFrame:
    """Per-group drift LOCALIZATION: KS/PSI/JS/EMD for EVERY group in one
    scan per side — the question a global :func:`drift_metrics` row can't
    answer at 10^12 rows is *which* partition/ingest-day/source drifted;
    a per-group driver loop would re-scan the table once per group.

    Same plan contract as :func:`drift_metrics` with ``group_col`` in the
    histogram key: one scan per side, one tagged ``groupBy(group,
    bucket)`` with map-side partial aggregation (shuffle volume ≤
    n_groups × (n_buckets+2) rows, independent of row count), then the
    shared reduction keyed by group; ``n_a``/``n_b`` are its side totals.
    A group present on only one side gets the drift of
    nothing-vs-something: ks = 1, emd = the full transport distance, and
    psi at the ε-clamped ceiling — the loudest possible signal, which is
    the correct verdict for an appeared/vanished partition.

    Output: one row per group —
    ``group, n_a, n_b, ks, psi, js, emd`` (group rendered as string;
    NULL group excluded like NULL values). Rows where BOTH sides are
    empty cannot exist (no source rows). Intended for bounded group
    cardinality (days, sources, shards); n_groups × n_buckets rows must
    fit a shuffle, which holds for any realistic partition count.
    """

    b = F.width_bucket(F.col(column).cast("double"), F.lit(lo), F.lit(hi), F.lit(n_buckets))
    counts = _group_counts(df_a, df_b, group_col, b)
    return _distribution_stats(
        counts, ["group"], n_buckets, (hi - lo) / n_buckets, eps, 9
    )


def categorical_drift(
    df_a: DataFrame,
    df_b: DataFrame,
    column: str,
) -> DataFrame:
    """Two-sample drift test for a CATEGORICAL column (``fmt``-style string
    or low-cardinality int): chi-squared homogeneity statistic, Cramér's V
    effect size, and total-variation distance over the category
    histograms.

    The numeric family (:func:`drift_metrics`: KS/PSI/JS/EMD) bucketizes
    a continuous range; categories have no order, so the right statistics
    are contingency-table ones:

    - ``chi2`` = Σ over categories and both sides of (observed −
      expected)²/expected, expected under homogeneity ``E = row_total ×
      side_total / N`` — the classic 2×k test statistic (dof = k−1).
    - ``cramers_v`` = sqrt(chi2 / N) for a 2×k table (min(r−1, c−1) = 1)
      — scale-free effect size in [0, 1], comparable across table sizes
      (chi2 itself grows with N, so a threshold on chi2 alone would flag
      microscopic drifts at 10^12 rows).
    - ``tvd`` = ½ Σ |share_a − share_b| — the share of rows that would
      have to change category to equalize the distributions.

    Plan shape: one scan per side feeding one tagged ``groupBy(column,
    cat)`` over both sides (map-side partial agg — the shuffle moves ≤
    n_categories rows per map task), then one array reduction over the
    ≤ n_categories-entry table; no window and no join. NULL categories
    are excluded, like the numeric family's null filter.

    Output: one row ``column, n_categories, chi2, dof, cramers_v, tvd``
    (all-null stats when either side is empty). Intended for bounded-
    cardinality columns (fmt, language, source tags); for unbounded ids
    use :func:`drift_metrics` with ``hash_columns`` instead — a category
    histogram over 10^9 distinct ids answers no question chi2 can pose.

    Delegates to :func:`categorical_drift_metrics` (the multi-column
    form) so the statistics have exactly one implementation; a column
    that is entirely NULL on both sides therefore yields an EMPTY result
    instead of a row of nulls, and categories are counted after a
    distinctness-preserving cast to string.
    """
    return categorical_drift_metrics(df_a, df_b, [column])


def categorical_drift_metrics(
    df_a: DataFrame,
    df_b: DataFrame,
    columns: list[str],
) -> DataFrame:
    """:func:`categorical_drift` for MANY columns in ONE scan per table —
    the same consolidation :func:`drift_metrics` applies to the numeric
    family: per-column composition costs 2 × n_columns scans, and at
    10^12 rows the scan IS the cost.

    Each row explodes into (column, category) pairs (column pruning keeps
    only the listed columns), one tagged ``groupBy(column, cat)`` over
    both sides builds ALL the contingency tables (:func:`_side_counts`;
    map-side partial agg — shuffle volume is the number of distinct
    (column, category) pairs, independent of row count), and
    :func:`_categorical_stats` reduces each column's table as one array,
    side totals included — no window, no join.

    Values are cast to string before counting so heterogeneous columns
    share one explode (distinctness-preserving for the string/int
    categoricals this is for). A column that is entirely NULL on both
    sides produces NO output row (it has no categories); a column empty
    on one side gets NULL stats, same as :func:`categorical_drift`.

    Output: one row per column — ``column, n_categories, chi2, dof,
    cramers_v, tvd``.
    """
    if not columns:
        raise ValueError("categorical_drift_metrics: columns must be non-empty")

    counts = _column_counts(df_a, df_b, columns, lambda c: F.col(c).cast("string"))
    return _categorical_stats(counts, ["column"]).drop("n_a", "n_b")


def _categorical_stats(counts: DataFrame, keys: list[str]) -> DataFrame:
    """The ONE implementation of chi²/Cramér's V/TVD, over a ``(keys...,
    bucket, na, nb)`` category-count table from :func:`_side_counts` —
    keyed by column (:func:`categorical_drift_metrics`), by group
    (:func:`categorical_drift_by_group`) or by window (streaming
    ``categorical_drift_vs_baseline``). Output: ``keys..., n_a, n_b,
    n_categories, chi2, dof, cramers_v, tvd`` (statistics rounded to 6
    digits).

    Each key's contingency table is ≤ n_categories entries, so it is
    collected into one array (:func:`_per_key_histograms`) and chi² and
    TVD are each one ``aggregate`` sum over it. A key with no rows on one
    side has no 2×k table: its statistics are NULL."""
    ta, tb = F.col("n_a").cast("double"), F.col("n_b").cast("double")

    def chi2_term(x: Column) -> Column:
        # expected count under homogeneity: E_side = (na+nb) * side_total / N
        na, nb = x["na"], x["nb"]
        ea = (na + nb) * ta / (ta + tb)
        eb = (na + nb) * tb / (ta + tb)
        return (na - ea) * (na - ea) / ea + (nb - eb) * (nb - eb) / eb

    def tv_term(x: Column) -> Column:
        return F.abs(x["na"] / ta - x["nb"] / tb)

    def two_sided_sum(term) -> Column:
        # one empty side -> NULL, not an ANSI divide-by-zero error
        return F.when(
            (F.col("n_a") > 0) & (F.col("n_b") > 0),
            F.aggregate("_h", F.lit(0.0), lambda s, x: s + term(x)),
        )

    # staged: _chi2 is read by two output columns (multi-referenced
    # aliases are never inlined — PLANS.md §24)
    stats = _per_key_histograms(counts, keys).select(
        *keys,
        "n_a",
        "n_b",
        F.size("_h").cast("long").alias("n_categories"),
        two_sided_sum(chi2_term).alias("_chi2"),
        (0.5 * two_sided_sum(tv_term)).alias("_tvd"),
    )
    return stats.select(
        *keys,
        "n_a",
        "n_b",
        "n_categories",
        F.round("_chi2", 6).alias("chi2"),
        (F.col("n_categories") - 1).alias("dof"),
        F.round(F.sqrt(F.col("_chi2") / (ta + tb)), 6).alias("cramers_v"),
        F.round("_tvd", 6).alias("tvd"),
    )


def categorical_drift_by_group(
    df_a: DataFrame,
    df_b: DataFrame,
    group_col: str,
    column: str,
) -> DataFrame:
    """Per-group CATEGORICAL drift localization — chi²/Cramér's V/TVD for
    every group in one scan per side, the categorical counterpart of
    :func:`drift_by_group` (which localizes numeric drift). Same plan
    contract: one tagged ``groupBy(group, cat)`` over both sides with
    map-side partial aggregation (shuffle ≤ n_groups × n_categories rows
    per map task), then the shared array reduction keyed by group
    (:func:`_categorical_stats`, whose side totals are ``n_a``/``n_b``);
    no window and no join.

    A group present on only one side gets NULL stats (a contingency table
    needs both samples — unlike EMD there is no meaningful chi² for
    nothing-vs-something; detect appeared/vanished groups from the
    ``n_a``/``n_b`` columns instead).

    Output: one row per group — ``group (string), n_a, n_b,
    n_categories, chi2, dof, cramers_v, tvd``.
    """

    counts = _group_counts(df_a, df_b, group_col, F.col(column).cast("string"))
    return _categorical_stats(counts, ["group"])


def category_histogram(df: DataFrame, column: str) -> DataFrame:
    """Category-count table ``cat (string), n`` — the categorical
    counterpart of :func:`histogram`, shared by the batch operators and
    the streaming baseline so both sides count with the identical
    string-cast convention. NULLs excluded (they belong to null_ratio)."""
    return (
        df.select(F.col(column).cast("string").alias("cat"))
        .filter(F.col("cat").isNotNull())
        .groupBy("cat")
        .agg(F.count(F.lit(1)).alias("n"))
    )


# ---------------------------------------------------------------------------
# Embedding-column drift
# ---------------------------------------------------------------------------

def _random_unit_directions(n: int, dim: int, seed: int):
    """Deterministic random unit directions, shape ``(n, dim)`` float64.

    numpy's MT19937 stream is stable across platforms/versions for
    ``standard_normal`` via RandomState (legacy generator — frozen by
    numpy's backwards-compatibility policy), so the same (n, dim, seed)
    always yields the same directions on driver and oracle alike.
    """
    import numpy as np

    rs = np.random.RandomState(seed)
    d = rs.standard_normal((n, dim))
    d /= np.sqrt((d * d).sum(axis=1, keepdims=True))
    return d


def embedding_drift_metrics(
    df_a: DataFrame,
    df_b: DataFrame,
    column: str = "embedding",
    dim: int = 64,
    n_projections: int = 4,
    seed: int = 7,
    n_buckets: int = 64,
    eps: float = 1e-6,
    include_norm: bool = True,
    norm_hi: float = 2.0,
) -> DataFrame:
    """KS/PSI/JS/EMD drift over an ``array<float>`` embedding column.

    A distribution over R^dim can't be histogrammed directly; by the
    Cramér–Wold device two distributions agree iff every 1-D linear
    projection agrees, so the standard scalable test is: project each
    vector onto ``n_projections`` fixed random unit directions and run the
    1-D drift statistics on each projection (plus the raw L2 norm, which
    catches scale/model swaps that direction-invariant projections of
    NORMALIZED vectors cannot). This detects centroid shifts, cluster
    appearance/disappearance, and norm drift — the embedding analogue of
    the w/h/phash histograms the north rule names.

    Mechanics (one scan per side, zero Python in the hot path):

    - cast to ``array<double>`` FIRST so every downstream op is a
      sequential float64 fold — bit-reproducible by an independent
      left-fold oracle (the audio_features/ann_lsh parity convention);
    - rows with NULL / wrong-length / zero-norm vectors are excluded
      (they belong to validation, not drift);
    - projections are cosine projections ``dot(x, d) / ||x||`` ∈ [-1, 1];
      the norm is affinely rescaled into the same [-1, 1] range so ALL
      stat columns share one :func:`drift_metrics` pass (KS/PSI/JS are
      affine-invariant; the norm row's EMD is scaled back to value units
      afterwards);
    - everything then reuses :func:`drift_metrics` — one explode, one
      histogram groupBy per side, the shared 4-stat reducer.

    At 100 TB: the embedding column is the dominant read; this touches it
    exactly once per side. The k+1 fold expressions are HOFs
    (CodegenFallback), so the shared ``_nrm`` is a STAGED projection —
    multi-referenced aliases are never inlined (PLANS.md §24), the norm
    fold runs once per row, not once per projection.

    Output: one row per stat column (``emb_proj_{i}``, ``emb_norm``) with
    ``ks, psi, js, emd``.

    ``norm_hi`` must cover the expected norm range: as with any fixed-grid
    histogram, mass outside [0, norm_hi) lands in the shared
    under/overflow buckets — a one-sided excursion is still detected, but
    drift WITHIN out-of-range mass is not (both sides collapse into the
    same bucket). The default 2.0 fits unit-normalized embeddings; raw
    (unnormalized) embeddings need a caller-supplied bound.
    """
    dirs = _random_unit_directions(n_projections, dim, seed)
    names = [f"emb_proj_{i}" for i in range(n_projections)] + (
        ["emb_norm"] if include_norm else []
    )

    def scalars(df: DataFrame) -> DataFrame:
        emb = F.col(column).cast("array<double>")
        d = (
            df.filter(F.col(column).isNotNull() & (F.size(F.col(column)) == dim))
            .select(emb.alias("_emb"))
            .select(
                "_emb",
                F.sqrt(
                    F.aggregate(
                        "_emb", F.lit(0.0).cast("double"), lambda a, v: a + v * v
                    )
                ).alias("_nrm"),
            )
            .filter(F.col("_nrm") > 0.0)
        )
        cols = []
        for i in range(n_projections):
            # ONE SQL array literal per direction: F.lit(list) still pays
            # ~0.6 ms/element of py4j conversion (similarity.double_array_lit)
            lit = double_array_lit([float(v) for v in dirs[i]])
            p = (
                F.aggregate(
                    F.zip_with("_emb", lit, lambda x, y: x * y),
                    F.lit(0.0).cast("double"),
                    lambda a, v: a + v,
                )
                / F.col("_nrm")
            )
            cols.append(p.alias(f"emb_proj_{i}"))
        if include_norm:
            # affine map [0, norm_hi) -> [-1, 1): shares the projection
            # bucket grid; KS/PSI/JS unchanged, EMD un-scaled below
            cols.append((F.col("_nrm") / F.lit(norm_hi) * 2.0 - 1.0).alias("emb_norm"))
        return d.select(*cols)

    out = drift_metrics(scalars(df_a), scalars(df_b), names, -1.0, 1.0, n_buckets, eps)
    if include_norm:
        out = out.withColumn(
            "emd",
            F.when(
                F.col("column") == "emb_norm",
                F.round(F.col("emd") * F.lit(norm_hi / 2.0), 9),
            ).otherwise(F.col("emd")),
        )
    return out


def embedding_centroid_shift(
    df_a: DataFrame,
    df_b: DataFrame,
    column: str = "embedding",
    dim: int = 64,
) -> DataFrame:
    """Centroid displacement between two embedding populations.

    One row: ``n_a, n_b, centroid_l2`` (L2 distance between the two mean
    vectors) ``, centroid_cos`` (cosine similarity between them). The
    companion summary to :func:`embedding_drift_metrics` — a pure mean
    shift can hide from marginal histograms when variance also grows, but
    never from the centroid delta.

    Shape: per-dimension means via ``posexplode`` → ``groupBy(pos)`` — the
    shuffle carries ≤ 2·dim rows regardless of table size (partial aggs
    reduce map-side); the final combine runs over the dim-row join. One
    scan per side; no driver-side vectors.
    """
    def dim_means(df: DataFrame, side: str) -> DataFrame:
        return (
            df.filter(F.col(column).isNotNull() & (F.size(F.col(column)) == dim))
            .select(F.posexplode(F.col(column).cast("array<double>")))
            .groupBy("pos")
            .agg(
                F.avg("col").alias(f"m_{side}"),
                F.count(F.lit(1)).alias(f"n_{side}"),
            )
        )

    j = dim_means(df_a, "a").join(dim_means(df_b, "b"), "pos", "inner")
    # an all-zero centroid (corrupt/unpopulated embedding backfill —
    # exactly when drift checks run) would make the cosine denominator 0
    # and raise DIVIDE_BY_ZERO under Spark 4's default ANSI mode;
    # try_divide reports NULL cosine while centroid_l2 stays usable
    norm_prod = F.sqrt(F.sum(F.col("m_a") * F.col("m_a"))) * F.sqrt(
        F.sum(F.col("m_b") * F.col("m_b"))
    )
    return j.agg(
        F.first("n_a").alias("n_a"),
        F.first("n_b").alias("n_b"),
        F.sqrt(F.sum((F.col("m_a") - F.col("m_b")) ** 2)).alias("centroid_l2"),
        F.try_divide(F.sum(F.col("m_a") * F.col("m_b")), norm_prod).alias(
            "centroid_cos"
        ),
    )
