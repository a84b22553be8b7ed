"""Streaming distribution-drift monitoring.

The batch drift operators (operators/drift.py) compare two static tables.
A production ingest pipeline needs the STREAMING shape: per-event-time
window, how far has the incoming distribution drifted from a reference
(baseline) distribution?

Split into the two pieces Structured Streaming actually allows:

1. :func:`windowed_histograms` — the STREAMING stage: a watermarked
   ``groupBy(window, width_bucket)`` count. This is the only stateful
   part and it is a plain streaming aggregation — state is
   O(windows × buckets), independent of row volume, and the watermark
   bounds window retention. Identical bucket edges to the batch
   operators (``width_bucket``), so histograms are comparable and
   oracle-portable.
2. :func:`drift_vs_baseline` — BATCH post-processing over the tiny
   histogram table (one row per (window, bucket)): each window's counts
   against the baseline's → KS and PSI, through the same side-count
   aggregate and array reduction as the batch operators
   (operators/drift._side_counts / _distribution_stats), so batch and
   streaming statistics cannot diverge. It runs on the drained sink (or
   with ``foreachBatch``); its input is sketch-sized, never row-scale.
   :func:`windowed_category_counts` / :func:`categorical_drift_vs_baseline`
   are the categorical pair (operators/drift._categorical_stats). Each
   reducer's one join is the baseline-under-every-window cross join
   (:func:`_baseline_grid`); neither has a window.

At 10^12 rows: the stream only ever shuffles histogram increments; the
drift math touches n_windows × n_buckets rows. Gated end-to-end by the
``streaming_windowed_drift`` driver query against a DuckDB windowed
re-implementation.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from jsonschema_validator_spark.operators.drift import (
    _categorical_stats,
    _distribution_stats,
    _side_counts,
)


def _baseline_grid(win: DataFrame, baseline: DataFrame) -> DataFrame:
    """``window_start, bucket, n``: the baseline's ``bucket, n`` rows under
    EVERY window of ``win`` — otherwise a bucket or category the window
    lost entirely would drop out of that window's comparison."""
    return win.select("window_start").distinct().crossJoin(baseline.select("bucket", "n"))


def windowed_histograms(
    stream: DataFrame,
    ts_col: str,
    column: str,
    lo: float,
    hi: float,
    n_buckets: int = 50,
    window: str = "1 day",
    watermark: str = "1 minute",
) -> DataFrame:
    """Streaming fixed-edge histogram per event-time window:
    ``window struct, bucket, n`` (bucket 0 / n_buckets+1 are under/overflow,
    same convention as operators/drift.histogram; NULL and NaN values have
    a NULL bucket and are dropped before they reach state)."""
    b = F.width_bucket(
        F.col(column).cast("double"), F.lit(lo), F.lit(hi), F.lit(n_buckets)
    )
    return (
        stream.filter(b.isNotNull())
        .withWatermark(ts_col, watermark)
        .groupBy(F.window(F.col(ts_col), window), b.alias("bucket"))
        .agg(F.count(F.lit(1)).alias("n"))
    )


def drift_vs_baseline(
    win_hist: DataFrame,
    baseline_hist: DataFrame,
    eps: float = 1e-6,
    round_to: int = 9,
) -> DataFrame:
    """Per-window KS + PSI against a baseline histogram (batch stage).

    ``win_hist``: ``window_start long, bucket, n`` (cast ``window.start``
    to long before calling — the drained-sink shape).
    ``baseline_hist``: ``bucket, n`` from operators/drift.histogram.
    Output: ``window_start, ks, psi`` — one row per window, equal to
    operators/drift.drift_metrics between the baseline rows (side a) and
    that window's rows (side b).
    """
    counts = _side_counts(_baseline_grid(win_hist, baseline_hist), win_hist, ["window_start"])
    # EMD is not reported here, so its grid size and bucket width are moot
    return _distribution_stats(
        counts, ["window_start"], 0, 0.0, eps, round_to
    ).select("window_start", "ks", "psi")


def windowed_category_counts(
    stream: DataFrame,
    ts_col: str,
    column: str,
    window: str = "1 day",
    watermark: str = "1 minute",
) -> DataFrame:
    """Streaming per-window category counts: ``window struct, cat, n`` —
    the categorical counterpart of :func:`windowed_histograms`, and the
    same (only) stateful shape: a watermarked streaming aggregation with
    state O(windows × categories), independent of row volume. Values are
    cast to string exactly like operators/drift.category_histogram so the
    stream side and the batch baseline count with one convention."""
    return (
        stream.select(
            F.col(ts_col).alias("_ts"),
            F.col(column).cast("string").alias("cat"),
        )
        .filter(F.col("cat").isNotNull())
        .withWatermark("_ts", watermark)
        .groupBy(F.window(F.col("_ts"), window), "cat")
        .agg(F.count(F.lit(1)).alias("n"))
    )


def categorical_drift_vs_baseline(
    win_counts: DataFrame,
    baseline_counts: DataFrame,
) -> DataFrame:
    """Per-window categorical drift vs a baseline (batch stage over the
    drained sink): each window's category counts form a 2×k contingency
    table with the baseline's — the same homogeneity chi² / Cramér's V /
    TVD as operators/drift.categorical_drift, through the SAME side-count
    aggregate and array reduction (_side_counts, _categorical_stats keyed
    by window), so the batch and streaming statistics cannot diverge.

    ``win_counts``: ``window_start long, cat, n`` (cast ``window.start``
    to long before calling — the drained-sink shape).
    ``baseline_counts``: ``cat, n`` from
    operators/drift.category_histogram.
    Output: one row per window — ``window_start, n_categories, chi2,
    dof, cramers_v, tvd`` (baseline is side a, the window side b).
    Input is sketch-sized (n_windows × n_categories rows), never
    row-scale.
    """

    def by_bucket(df: DataFrame) -> DataFrame:
        return df.withColumnRenamed("cat", "bucket")

    counts = _side_counts(
        _baseline_grid(win_counts, by_bucket(baseline_counts)),
        by_bucket(win_counts),
        ["window_start"],
    )
    return _categorical_stats(counts, ["window_start"]).drop("n_a", "n_b")


__all__ = [
    "windowed_histograms",
    "drift_vs_baseline",
    "windowed_category_counts",
    "categorical_drift_vs_baseline",
]
