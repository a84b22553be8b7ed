"""Text-analysis operators for large-scale training-data pipelines.

All pure Column expressions (JVM-side) — no Python UDFs in any hot path.
Designed for the ``documents`` table shape ``(doc_id, text, lang, source,
n_chars)`` but column names are parameters.

Operators:
- token counting: whitespace tokens + a BPE-ish subword proxy count
- quality scoring: length / punctuation / stopword / repetition signals
- repetition: Gopher-style top-n-gram fractions, each row tokenized once
- language ID: stopword-hit n-gram heuristic over a small built-in lexicon
- PII scan/redaction, token budgets and quality-threshold retention curves

The canonical content fingerprint is ``dedup._fingerprint``.
"""

from __future__ import annotations

from typing import Optional, Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from jsonschema_validator_spark.operators.columns import let

# tiny built-in stopword lexicons for the langid heuristic
LANG_LEXICON: dict[str, list[str]] = {
    "en": ["the", "and", "of", "to", "a", "in", "is", "that", "for", "it"],
    "de": ["der", "die", "das", "und", "ist", "nicht", "ein", "mit", "für", "auf"],
    "fr": ["le", "la", "les", "et", "est", "une", "pour", "dans", "que", "des"],
    "es": ["el", "la", "los", "y", "es", "una", "para", "en", "que", "por"],
}

_WS = r"\s+"
# BPE-ish proxy: alternating letter-runs, digit-runs, and single punctuation
# marks — approximates subword token counts without a vocab file.
_BPE_ISH = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"


def whitespace_token_count(text: Column) -> Column:
    """Number of whitespace-delimited tokens (0 for empty/blank)."""
    trimmed = F.trim(text)
    return F.when(trimmed == "", F.lit(0)).otherwise(F.size(F.split(trimmed, _WS)))


def bpe_ish_token_count(text: Column) -> Column:
    """Subword-proxy token count via regexp extraction."""
    return F.size(F.regexp_extract_all(text, F.lit(f"({_BPE_ISH})"), 1))


def stopword_hits(text: Column, words: list[str]) -> Column:
    """How many tokens of ``text`` are in ``words`` (case-insensitive)."""
    toks = F.split(F.lower(F.trim(text)), _WS)
    wl = [w.lower() for w in words]
    return F.size(F.filter(toks, lambda t: t.isin(*wl)))


def quality_struct(t: Column) -> Column:
    """All quality features + composite score as ONE struct expression —
    usable inline in a wider projection (the curation funnel composes this
    with the language gate so the whole funnel is a single scan)."""
    n_chars = F.length(t)
    toks = F.split(F.lower(F.trim(t)), _WS)
    n_tokens = whitespace_token_count(t)
    # split('') returns [''] — one EMPTY token — so a blank document
    # would count 1 distinct token, score ratio 1.0 and earn the
    # diversity credit; a blank doc has ZERO distinct tokens
    n_distinct_tokens = F.when(F.trim(t) == "", F.lit(0)).otherwise(
        F.size(F.array_distinct(toks))
    )
    n_punct = F.length(t) - F.length(F.regexp_replace(t, r"[^\w\s]", ""))
    n_digit = F.length(t) - F.length(F.regexp_replace(t, r"[0-9]", ""))
    n_upper = F.length(t) - F.length(F.regexp_replace(t, r"[A-Z]", ""))
    en_hits = stopword_hits(t, LANG_LEXICON["en"])

    safe_tokens = F.greatest(n_tokens, F.lit(1))
    safe_chars = F.greatest(n_chars, F.lit(1))
    mean_token_len = F.round(n_chars / safe_tokens, 6)
    punct_ratio = F.round(n_punct / safe_chars, 6)
    digit_ratio = F.round(n_digit / safe_chars, 6)
    upper_ratio = F.round(n_upper / safe_chars, 6)
    stopword_ratio = F.round(en_hits / safe_tokens, 6)
    distinct_token_ratio = F.round(n_distinct_tokens / safe_tokens, 6)
    # composite score: in-range length + low punct/digit noise + lexical
    # diversity. Thresholds apply to the ROUNDED ratios (oracle parity).
    score = (
        F.when((n_chars >= 50) & (n_chars <= 20000), F.lit(0.25)).otherwise(F.lit(0.0))
        + F.when(punct_ratio <= 0.2, F.lit(0.25)).otherwise(F.lit(0.0))
        + F.when(digit_ratio <= 0.2, F.lit(0.25)).otherwise(F.lit(0.0))
        + F.when(distinct_token_ratio >= 0.3, F.lit(0.25)).otherwise(F.lit(0.0))
    )
    return F.struct(
        n_chars.alias("n_chars"),
        n_tokens.alias("n_tokens"),
        mean_token_len.alias("mean_token_len"),
        punct_ratio.alias("punct_ratio"),
        digit_ratio.alias("digit_ratio"),
        upper_ratio.alias("upper_ratio"),
        stopword_ratio.alias("stopword_ratio"),
        distinct_token_ratio.alias("distinct_token_ratio"),
        F.round(score, 6).alias("quality_score"),
    )


def _word_ngrams(toks: Column, n: int) -> Column:
    """Word n-grams of a token array as an array<string> (space-joined).

    n=1 returns the token array itself. Arrays shorter than ``n`` yield an
    EMPTY array (never a partial gram) — note ``F.sequence(1, 0)`` would
    produce the descending ``[1, 0]``, so the short case must be guarded
    explicitly rather than left to the sequence bounds.
    """
    if n == 1:
        return toks
    length = F.size(toks)
    idx = F.sequence(F.lit(1), F.greatest(length - (n - 1), F.lit(1)))
    return F.when(length < n, F.array().cast("array<string>")).otherwise(
        F.transform(idx, lambda i: F.array_join(F.slice(toks, i, n), " "))
    )


def _top_gram_frac(grams: Column) -> Column:
    """Fraction of ``grams`` taken by its single most frequent gram,
    rounded to 6 dp; 0.0 when there are no grams.

    O(n log n) per row: sort the grams, then ONE ``aggregate`` pass tracks
    the longest equal-run (= the mode count). The nested transform/filter
    form is O(n²) string comparisons per row, ~10^8 for a 10k-token
    document."""
    # a BLANK document tokenizes to [''] (split('') keeps one empty
    # token), which for n=1 is a one-gram array — the documented
    # "0 tokens → 0.0" contract requires treating it as empty. A
    # legitimate gram can never be '' (n≥2 grams are space-joined).
    total = F.when(
        (F.size(grams) == 1) & (F.element_at(grams, 1) == ""), F.lit(0)
    ).otherwise(F.size(grams))
    zero = F.struct(
        F.lit(None).cast("string").alias("prev"),
        F.lit(0).alias("run"),
        F.lit(0).alias("best"),
    )

    def step(acc: Column, x: Column) -> Column:
        new_run = F.when(acc["prev"].eqNullSafe(x), acc["run"] + 1).otherwise(
            F.lit(1)
        )
        return F.struct(
            x.alias("prev"),
            new_run.alias("run"),
            F.greatest(acc["best"], new_run).alias("best"),
        )

    mode = F.aggregate(F.array_sort(grams), zero, step, lambda acc: acc["best"])
    return F.when(total <= 0, F.lit(0.0)).otherwise(F.round(mode / total, 6))


def repetition_struct(t: Column, max_n: int = 3) -> Column:
    """Gopher-style repetition signals as ONE struct expression: for each
    n in 1..max_n, ``top_{n}gram_frac`` = share of the document's word
    n-grams taken by its single most frequent n-gram (Rae et al. 2021,
    "Scaling Language Models", Table A1 uses the same top-n-gram family to
    gate repetitive documents). High values flag boilerplate / degenerate
    repetition that distinct-token ratio alone misses (a doc alternating
    two tokens has distinct_token_ratio ≈ 0 but top_2gram_frac ≈ 1).

    Tokenization matches :func:`quality_struct` (lowercase, trim, split on
    whitespace) so the signals compose with the quality family in the same
    single-scan projection. The token array and each gram array are
    let-bound, so a row is tokenized once and each gram array built once
    (PLANS.md §24). NULL text gives NULL for every n; blank text gives 0.0.
    """

    def per_tokens(toks: Column) -> Column:
        # NULL text splits to NULL tokens, whose n≥2 "grams" would be
        # [NULL]: one gram, counted as fully repetitive
        return F.struct(
            *[
                F.when(toks.isNotNull(), let(_word_ngrams(toks, n), _top_gram_frac))
                .alias(f"top_{n}gram_frac")
                for n in range(1, max_n + 1)
            ]
        )

    return let(F.split(F.lower(F.trim(t)), _WS), per_tokens)


def with_repetition_columns(
    df: DataFrame, text_col: str = "text", max_n: int = 3
) -> DataFrame:
    """``df`` with the ``top_{n}gram_frac`` fields of
    :func:`repetition_struct` appended as columns. One projection over
    ``df``, no shuffle."""
    cols = [F.col(c) for c in df.columns]
    rep = repetition_struct(F.col(text_col), max_n).alias("_rep")
    return df.select(*cols, rep).select(*cols, "_rep.*")


def repetition_metrics(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id", max_n: int = 3
) -> DataFrame:
    """Per-document repetition metrics (see :func:`repetition_struct`)."""
    out = with_repetition_columns(df, text_col, max_n)
    return out.select(id_col, *[f"top_{n}gram_frac" for n in range(1, max_n + 1)])


def quality_features(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Per-document quality features + a composite [0,1] score.

    Signals (all cheap Column algebra): length, token count, mean token
    length, punctuation ratio, digit ratio, uppercase ratio, stopword ratio,
    distinct-token ratio (repetition detector).
    """
    qs = quality_struct(F.col(text_col))
    return df.select(F.col(id_col), qs.alias("_q")).select(id_col, "_q.*")


def langid_struct(t: Column) -> Column:
    """Per-language scores + predicted language as ONE struct expression
    (inline-composable twin of :func:`quality_struct`)."""
    n_tokens = F.greatest(whitespace_token_count(t), F.lit(1))
    langs = sorted(LANG_LEXICON)
    scores = {
        lang: F.round(stopword_hits(t, LANG_LEXICON[lang]) / n_tokens, 6)
        for lang in langs
    }
    # argmax with name-ascending tie-break: array of structs — array_max on
    # struct comparison is lexicographic, so pack score first.
    pairs = F.array(
        *[
            F.struct(
                scores[lang].alias("s"),
                F.lit(-i).alias("ord"),  # earlier name wins ties
                F.lit(lang).alias("lang"),
            )
            for i, lang in enumerate(langs)
        ]
    )
    best = F.array_max(pairs)
    fields = [scores[lang].alias(f"score_{lang}") for lang in langs]
    fields.append(
        F.when(best["s"] <= 0, F.lit("und")).otherwise(best["lang"]).alias(
            "predicted_lang"
        )
    )
    return F.struct(*fields)


def language_id(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """N-gram/stopword heuristic language ID.

    Scores each language by stopword hits per token; prediction is the
    argmax with deterministic ties (language name ascending), 'und' when no
    lexicon word matches at all.
    """
    ls = langid_struct(F.col(text_col))
    return df.select(F.col(id_col), ls.alias("_l")).select(id_col, "_l.*")


# PII scan/redaction patterns — deliberately restricted to syntax shared by
# Java regex (Spark) and RE2 (DuckDB oracle): no backreferences, only
# non-capturing inner groups, \b / \d-free digit classes.
PII_PATTERNS: dict[str, str] = {
    "email": r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}",
    "ipv4": r"\b(?:[0-9]{1,3}\.){3}[0-9]{1,3}\b",
    "phone": r"\b[0-9]{3}-[0-9]{3,4}-[0-9]{4}\b",
    "ssn": r"\b[0-9]{3}-[0-9]{2}-[0-9]{4}\b",
}


def pii_scan(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    patterns: dict[str, str] | None = None,
    redact_token: str = "[PII]",
) -> DataFrame:
    """Per-document PII detection counts + redacted text.

    All JVM-side regex Column algebra (regexp_extract_all / regexp_replace)
    — no Python in the path, so at 100 TB this is a pure codegen map stage
    with zero shuffle. Emits ``n_<class>`` counts per pattern class and a
    ``redacted_text`` column with every match replaced by ``redact_token``.

    Redaction applies patterns in sorted-name order; the token contains no
    digits or '@' so earlier redactions cannot create later matches. Null
    text propagates as null counts/redaction (callers filter).
    """
    pats = patterns or PII_PATTERNS
    t = F.col(text_col)
    cols = [F.col(id_col)]
    for name in sorted(pats):
        cols.append(
            F.size(F.regexp_extract_all(t, F.lit(f"({pats[name]})"), 1)).alias(f"n_{name}")
        )
    # literal-escape the token for Java's replacement grammar — '$' is a
    # group reference and '\' an escape there (Matcher.quoteReplacement):
    # an unescaped "$0" token would re-insert the matched PII itself
    safe_token = redact_token.replace("\\", "\\\\").replace("$", "\\$")
    red = t
    for name in sorted(pats):
        red = F.regexp_replace(red, pats[name], safe_token)
    cols.append(red.alias("redacted_text"))
    return df.select(*cols)


def corpus_token_budget(
    df: DataFrame,
    group_cols: Sequence[str] = ("lang", "source"),
    text_col: str = "text",
    tokenizer: str = "whitespace",
) -> DataFrame:
    """Training-mix planning rollup: token budget per group.

    For each combination of ``group_cols`` (e.g. language × source):
    document count, token sum, token share of the corpus, and the
    cumulative share when groups are ranked by size (``cum_share`` — read
    off "the top-p coverage" directly: the first row with cum_share ≥ p).
    Deterministic total order: share DESC, then group columns ASC.

    Output: ``*group_cols, n_docs, n_tokens, token_share, cum_share``
    (shares rounded to 6 dp, HALF_UP-free: plain ROUND over exact long
    sums is engine-portable).

    Scale shape: tokens are counted in the map stage (pure Column
    algebra), then ONE partial-aggregated groupBy over the group keys —
    group cardinality is tiny by construction (langs × sources), so the
    window over the grouped frame is a single-partition window over a few
    hundred rows, not over the corpus. One scan, one exchange.
    """
    if not group_cols:
        raise ValueError("group_cols must name at least one column")
    t = F.col(text_col)
    if tokenizer == "whitespace":
        n_tok = whitespace_token_count(t)
    elif tokenizer == "bpe-ish":
        n_tok = bpe_ish_token_count(t)
    else:
        raise ValueError(f"unknown tokenizer {tokenizer!r} (whitespace | bpe-ish)")
    grouped = (
        df.select(*group_cols, n_tok.alias("_n_tok"))
        .groupBy(*group_cols)
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("_n_tok").alias("n_tokens"),
        )
    )
    order = [F.desc("n_tokens")] + [F.asc(c) for c in group_cols]
    w_total = Window.partitionBy()
    w_cum = Window.partitionBy().orderBy(*order)
    # greatest(_, 1): a zero-token corpus (all-blank docs) must yield
    # 0.0 shares, not an ANSI DIVIDE_BY_ZERO (Spark 4 default) — the
    # same guard quality_retention_curve uses
    safe_total = F.greatest(F.col("_total"), F.lit(1))
    return (
        grouped.withColumn("_total", F.sum("n_tokens").over(w_total))
        .select(
            *group_cols,
            "n_docs",
            "n_tokens",
            F.round(F.col("n_tokens") / safe_total, 6).alias("token_share"),
            F.round(
                F.sum("n_tokens").over(w_cum) / safe_total, 6
            ).alias("cum_share"),
        )
        .orderBy(*order)
    )


def quality_retention_curve(
    df: DataFrame,
    thresholds: Sequence[float],
    text_col: str = "text",
    score_col: Optional[str] = None,
) -> DataFrame:
    """Threshold-sweep retention curve for curation planning: for each
    candidate quality threshold, how many documents and tokens survive
    ``quality_score >= threshold``.

    Output: ``threshold, n_docs, n_tokens, doc_retention, token_retention``
    (retentions = fraction of the UNFILTERED corpus, 6 dp), one row per
    requested threshold, ascending. ``score_col`` reuses a precomputed
    score column; otherwise the score is computed inline via
    :func:`quality_struct`.

    Scale shape: ONE scan — every threshold is a conditional aggregate
    over the same pass (``sum(when(score >= t, ...))``), so sweeping 20
    thresholds costs the same scan as one. No shuffle beyond the single
    global-aggregate reduction; the per-threshold rows are exploded from
    the 1-row aggregate.
    """
    if not thresholds:
        raise ValueError("thresholds must be non-empty")
    ts = sorted(set(float(t) for t in thresholds))
    score = (
        F.col(score_col)
        if score_col is not None
        else quality_struct(F.col(text_col))["quality_score"]
    )
    n_tok = whitespace_token_count(F.col(text_col))
    base = df.select(score.alias("_score"), n_tok.alias("_n_tok"))
    aggs = [
        F.count(F.lit(1)).alias("_docs_all"),
        F.coalesce(F.sum("_n_tok"), F.lit(0)).alias("_toks_all"),
    ]
    for i, t in enumerate(ts):
        keep = F.col("_score") >= F.lit(t)
        # coalesce the DOC sums too: an empty (or all-NULL-score) corpus
        # yields NULL from sum(), and the row must stay 0-valued, not
        # mixed NULL/0 across its columns
        aggs.append(
            F.coalesce(F.sum(keep.cast("long")), F.lit(0)).alias(f"_d{i}")
        )
        aggs.append(
            F.coalesce(F.sum(F.when(keep, F.col("_n_tok"))), F.lit(0)).alias(f"_t{i}")
        )
    row = base.agg(*aggs)
    structs = [
        F.struct(
            F.lit(t).alias("threshold"),
            F.col(f"_d{i}").alias("n_docs"),
            F.col(f"_t{i}").alias("n_tokens"),
            F.round(F.col(f"_d{i}") / F.greatest(F.col("_docs_all"), F.lit(1)), 6).alias(
                "doc_retention"
            ),
            F.round(
                F.col(f"_t{i}") / F.greatest(F.col("_toks_all"), F.lit(1)), 6
            ).alias("token_retention"),
        )
        for i, t in enumerate(ts)
    ]
    return row.select(F.explode(F.array(*structs)).alias("s")).select("s.*")
