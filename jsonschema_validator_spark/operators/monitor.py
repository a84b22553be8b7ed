"""Cross-snapshot metrics monitoring: control charts and verdict flips.

The north rule requires runs "resumable from checkpoint with per-partition
lineage + metrics rows persisted" (BASELINE.json); ``checkpoint.py``
persists those rows but nothing *watches* them. This module closes the
loop: given the per-snapshot metrics history, detect (a) verdict FLIPS —
a rule that passed yesterday and fails today (or recovered) — and
(b) metric ANOMALIES — a fail-rate / throughput / stat series that jumps
outside its own historical band (Shewhart-style control chart, with a
robust median/IQR variant that tolerates outliers in the history itself).

The reference library validates one payload at a time and has no notion
of runs or history (SURVEY.md §2.5) — this is a Spark-native extension in
the same family as ``suggest.constraint_drift`` (which diffs suggested
specs) but over the *observed verdict metrics* instead of the inferred
constraints.

Scale notes
-----------
- Input is the METRICS table, not the data: O(rules × partitions ×
  snapshots) rows — for a 10^12-row table with 10^3 rules, 10^4
  partitions and daily snapshots this is ~10^9 rows/year worst case,
  trivially Spark-sized and ~10^5 rows in the common un-partitioned
  verdict layout. The monitored table's size never appears.
- One shuffle per chart, keyed by the series id (rule_id × tag × ...):
  thousands of balanced keys. Each series reaches Python as one Arrow
  table (``applyInArrow``), sorted by ``order_col`` and scored by the
  numpy kernels below; every other column passes through as Arrow,
  untouched (a pandas hop would round a bigint beyond 2**53). Per-series
  memory is the series itself, e.g. 365 points for a year of daily
  snapshots; ``max_history`` caps each history (trailing-window chart).
- ``_chart_kernel`` and ``_cusum_kernel`` are the ONE implementation of
  each statistic: the batch charts start every series from empty state,
  the streaming twins (``streaming/monitor.py``) carry it across
  micro-batches, so a replay agrees point-for-point.
- Quantiles are ``numpy.percentile(method="linear")`` — rank = p·(n−1)
  with linear interpolation, the convention shared by Spark
  ``percentile`` and DuckDB ``quantile_cont``.
"""

from __future__ import annotations

from typing import Callable, Optional, Sequence

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.types import BooleanType, DoubleType, IntegerType, StructField, StructType

from jsonschema_validator_spark.session import local_frame

# IQR → sigma for a normal distribution: IQR = 2·Φ⁻¹(0.75)·σ = 1.3489795·σ.
_IQR_TO_SIGMA = 1.3489795003921634

_CHART_FIELDS = [
    StructField("n_history", IntegerType()),
    StructField("center", DoubleType()),
    StructField("scale", DoubleType()),
    StructField("z", DoubleType()),
    StructField("is_anomaly", BooleanType()),
]
_CUSUM_FIELDS = [
    StructField("n_history", IntegerType()),
    StructField("mu0", DoubleType()),
    StructField("sigma0", DoubleType()),
    StructField("s_pos", DoubleType()),
    StructField("s_neg", DoubleType()),
    StructField("is_anomaly", BooleanType()),
]
# CUSUM state before a series' first point: (calibration buffer, mu0,
# sigma0, s_pos, s_neg, finite points seen, calibration was constant)
_CUSUM_START = ((), None, None, 0.0, 0.0, 0, False)


def _screen(x: np.ndarray, n_seen: int):
    """Finite mask of ``x`` and, per row, the count of finite points
    before it (``n_seen`` carried in). Null arrives as NaN; NaN and ±Inf
    are "missing" too: neither may enter a history, a calibration or a
    running sum — one Inf makes center/scale NaN, and either would alarm
    every later point of the series forever."""
    ok = np.isfinite(x)
    return ok, n_seen + np.cumsum(ok) - ok


def _mean_std(h: np.ndarray):
    """``(mean, sample stddev, is_constant)`` of ``h``. A constant ``h``
    anchors to the constant itself with stddev 0 exactly: the mean of n
    copies of c drifts an ulp from c, and the exact-deviation rule would
    then flag the constant itself."""
    if h.min() == h.max():
        return float(h[0]), 0.0, True
    return float(h.mean()), float(h.std(ddof=1)), False


def _chart_kernel(
    x: np.ndarray,
    hist,
    min_history: int,
    z_threshold: float,
    method: str,
    max_history: Optional[int],
):
    """Score each point of one ordered series against the finite points
    before it. ``hist`` is the carried state: the series' finite points
    before ``x`` (the trailing ``max_history`` of them when bounded).
    Returns ``({column: array}, new hist)``; missing points and warm-up
    rows get null ``center/scale/z`` and are never flagged."""
    ok, end = _screen(x, len(hist))
    buf = np.concatenate([np.asarray(hist, dtype=np.float64), x[ok]])
    start = np.zeros_like(end) if max_history is None else np.maximum(end - max_history, 0)
    n_hist = end - start
    scored = ok & (n_hist >= min_history)
    center = np.full(len(x), np.nan)
    scale = np.full(len(x), np.nan)
    # the exact-deviation rule on zero scale: robust IQR == 0 can coexist
    # with outliers ([5,5,5,100]); classic applies it only to a truly
    # constant history (a stddev cancelled to 0 at ~1e-16 spread is noise)
    exact = np.full(len(x), method == "robust")
    for i in np.flatnonzero(scored):
        h = buf[start[i] : end[i]]
        if method == "robust":
            q1, center[i], q3 = np.percentile(h, [25, 50, 75], method="linear")
            scale[i] = (q3 - q1) / _IQR_TO_SIGMA
        else:
            center[i], scale[i], exact[i] = _mean_std(h)
    z = np.full(len(x), np.nan)
    pos = scale > 0
    z[pos] = (x[pos] - center[pos]) / scale[pos]
    flag = scored & np.where(pos, np.abs(z) > z_threshold, exact & (x != center))
    cols = {
        "n_history": n_hist.astype(np.int32),
        "center": center,
        "scale": scale,
        "z": z,
        "is_anomaly": flag,
    }
    return cols, buf if max_history is None else buf[-max_history:]


def _cusum_kernel(
    x: np.ndarray,
    state: tuple,
    warmup: int,
    slack: float,
    h: float,
    target: Optional[float] = None,
    sigma: Optional[float] = None,
):
    """Two-sided Page CUSUM over one ordered series from a carried
    ``state`` (layout of :data:`_CUSUM_START`). Returns ``({column:
    array}, new state)``."""
    calib, mu0, sigma0, sp, sn, n_seen, const0 = state
    ok, n_hist = _screen(x, n_seen)
    if target is not None:
        mu0, sigma0 = float(target), float(sigma)
        known = np.ones(len(x), dtype=bool)
    else:
        if mu0 is None:
            # Phase I: the series' first ``warmup`` finite points
            calib = np.concatenate([np.asarray(calib, dtype=np.float64), x[ok]])[:warmup]
            if len(calib) == warmup:
                mu0, sigma0, const0 = _mean_std(calib)
                calib = ()
        # calibration rows carry null mu0/sigma0: the reference exists
        # only once the first ``warmup`` finite points have been seen
        known = n_hist >= warmup
    scored = ok & known
    mu0_col = np.full(len(x), np.nan)
    sigma0_col = np.full(len(x), np.nan)
    s_pos = np.full(len(x), np.nan)
    s_neg = np.full(len(x), np.nan)
    flag = np.zeros(len(x), dtype=bool)
    if mu0 is not None:
        mu0_col[known], sigma0_col[known] = mu0, sigma0
        if sigma0 > 0:
            for i in np.flatnonzero(scored):
                d = (x[i] - mu0) / sigma0
                sp, sn = max(0.0, sp + d - slack), max(0.0, sn - d - slack)
                s_pos[i], s_neg[i] = sp, sn
            flag = scored & ((s_pos > h) | (s_neg > h))
        elif const0:
            # standardization undefined: any deviation from the constant
            flag = scored & (x != mu0)
    cols = {
        "n_history": n_hist.astype(np.int32),
        "mu0": mu0_col,
        "sigma0": sigma0_col,
        "s_pos": s_pos,
        "s_neg": s_neg,
        "is_anomaly": flag,
    }
    return cols, (calib, mu0, sigma0, sp, sn, n_seen + int(ok.sum()), const0)


def _per_series(
    df: DataFrame,
    series_cols: Sequence[str],
    order_col: str,
    value_col: str,
    fields: list,
    score: Callable[[np.ndarray], dict],
) -> DataFrame:
    """``df`` plus the columns ``fields``, computed by ``score`` (ordered
    float64 values, NaN = missing → {column: array}) over each series in
    one Arrow grouped-map call. The value is cast by Spark, so the cast
    rules are Spark's; every other column passes through as Arrow."""
    value = "__jsv_monitor_value"
    names = {f.name for f in fields}
    passed = [f for f in df.schema.fields if f.name not in names]
    out_schema = StructType(passed + fields)

    def fn(table: pa.Table) -> pa.Table:
        # Spark's ascending order: nulls first
        table = table.sort_by([(order_col, "ascending")], null_placement="at_start")
        cols = score(table.column(value).to_numpy(zero_copy_only=False))
        out = table.select([f.name for f in passed])
        for name, arr in cols.items():
            out = out.append_column(name, pa.array(arr, from_pandas=True))
        return out

    return (
        df.withColumn(value, F.col(value_col).cast("double"))
        .groupBy(*series_cols)
        .applyInArrow(fn, out_schema)
    )


def _check_chart_args(method: str, min_history: int, max_history: Optional[int]) -> None:
    if method not in ("robust", "classic"):
        raise ValueError(f"method must be 'robust' or 'classic', got {method!r}")
    if min_history < 1:
        raise ValueError(f"min_history must be >= 1, got {min_history}")
    if max_history is not None and max_history < min_history:
        raise ValueError(
            f"max_history ({max_history}) must be >= min_history ({min_history})"
        )


def _check_cusum_args(target, sigma, warmup: int, h: float) -> None:
    if warmup < 2 and target is None:
        raise ValueError(f"warmup must be >= 2 to estimate mu0/sigma0, got {warmup}")
    if (target is None) != (sigma is None):
        raise ValueError("target and sigma must be given together (or neither)")
    if sigma is not None and sigma <= 0:
        raise ValueError(f"sigma must be > 0, got {sigma}")
    if h <= 0:
        raise ValueError(f"h must be > 0, got {h}")


def control_chart(
    df: DataFrame,
    series_cols: Sequence[str],
    order_col: str,
    value_col: str,
    min_history: int = 3,
    z_threshold: float = 3.0,
    method: str = "robust",
    max_history: Optional[int] = None,
) -> DataFrame:
    """Expanding control chart over per-snapshot series.

    For every row, the PRECEDING rows of its series (``series_cols``,
    ordered by ``order_col``) form the history; the row is flagged when
    its value sits more than ``z_threshold`` estimated standard
    deviations from the history's center. Rows with fewer than
    ``min_history`` prior points are never flagged (the chart is still
    warming up).

    ``method="robust"`` (default): center = expanding median, scale =
    IQR/1.349 — one planted outlier in the history barely moves the
    band, so a spike does not mask the next one. ``method="classic"``:
    center = mean, scale = sample stddev (textbook Shewhart).

    Zero-scale histories (a constant series — the common case for a
    fail-rate that has always been 0) flag ANY deviation: ``z`` is null
    but ``is_anomaly`` is true whenever the value differs from the
    center. For the classic method "constant" is detected as history
    ``min == max`` (exact on the data values) and the center anchors to
    that constant, NOT the accumulated mean — the mean over n copies of
    c can drift an ulp from c, which made every point of a perfectly
    constant series flag spuriously (caught by the randomized numpy
    sweep). A non-constant history whose stddev still rounds to exactly
    0 (catastrophic cancellation at ~1e-16 relative spread) yields
    ``z = null`` and never flags. Null, NaN and ±Inf values are
    "missing": they never enter histories, are never flagged and get
    null ``center/scale/z``.

    ``max_history`` (default None = expanding) bounds each history to the
    trailing ``max_history`` NON-NULL values — the exact semantics of the
    streaming twin's state bound
    (:func:`~jsonschema_validator_spark.streaming.monitor.streaming_control_chart`),
    so a bounded batch chart and a stream replay agree point-for-point
    past the eviction horizon too.

    Adds columns: ``n_history, center, scale, z, is_anomaly``.
    """
    _check_chart_args(method, min_history, max_history)

    def score(x):
        return _chart_kernel(x, (), min_history, z_threshold, method, max_history)[0]

    return _per_series(df, series_cols, order_col, value_col, _CHART_FIELDS, score)


def cusum_chart(
    df: DataFrame,
    series_cols: Sequence[str],
    order_col: str,
    value_col: str,
    target: Optional[float] = None,
    sigma: Optional[float] = None,
    warmup: int = 10,
    slack: float = 0.5,
    h: float = 5.0,
) -> DataFrame:
    """Two-sided standardized CUSUM chart over per-snapshot series — the
    complement to :func:`control_chart`: a Shewhart chart flags one large
    deviation, CUSUM accumulates many SMALL ones, so a persistent ~1σ
    mean shift (a validation fail-rate that quietly crept up) is caught
    within a few points even though every individual point stays inside
    the 3σ band (locked by the contrast test).

    Standard Page CUSUM: with standardized deviations
    ``d_i = (x_i − μ₀)/σ₀``, track ``S⁺_i = max(0, S⁺_{i−1} + d_i − k)``
    and ``S⁻_i = max(0, S⁻_{i−1} − d_i − k)`` (``k`` = ``slack``, the
    half-shift not worth flagging); alarm when either exceeds ``h``.

    ``target``/``sigma`` give a known reference (Phase II only); when
    None, μ₀/σ₀ are estimated per series from its first ``warmup``
    non-null values (Phase I), and those calibration points are never
    scored and carry null ``mu0/sigma0``. A constant calibration anchors
    μ₀ to the constant itself (detected as calibration ``min == max`` —
    the mean over n copies of c drifts an ulp from c, which would make
    the exact-deviation rule below flag the constant itself; the same
    anchor the classic control chart uses) and sets σ₀ = 0 exactly.
    σ₀ = 0 falls back to the exact-deviation rule: any post-warmup value
    ≠ μ₀ alarms, ``s_pos/s_neg`` stay null (the standardization is
    undefined). Null, NaN and ±Inf values are never scored and do not
    advance the sums — a NaN metric (mean over an empty partition
    upstream) must not poison the running sums of everything after it.

    Adds columns: ``n_history`` (non-null points seen before this one),
    ``mu0, sigma0, s_pos, s_neg, is_anomaly``.
    """
    _check_cusum_args(target, sigma, warmup, h)

    def score(x):
        return _cusum_kernel(x, _CUSUM_START, warmup, slack, h, target, sigma)[0]

    return _per_series(df, series_cols, order_col, value_col, _CUSUM_FIELDS, score)


def verdict_flips(
    df: DataFrame,
    series_cols: Sequence[str] = ("rule_id", "tag"),
    order_col: str = "snapshot_ord",
    pass_col: str = "pass",
    keep_all: bool = False,
) -> DataFrame:
    """Rows whose pass/fail verdict FLIPPED vs the same series' previous
    snapshot. ``direction`` = 'regressed' (pass→fail — page someone) or
    'recovered' (fail→pass). First observation of a series never flips.

    ``keep_all=True`` returns EVERY row annotated with a ``flipped``
    boolean (direction ``''`` on non-flips) instead of filtering — the
    shape for composing with :func:`control_chart` on one lineage, so the
    combined plan scans the history once.

    One shuffle keyed by the series id; ``lag`` over the per-series
    order. Input is the metrics history (see :func:`metrics_history`),
    so cost is independent of the monitored table's size.
    """
    w = Window.partitionBy(*[F.col(c) for c in series_cols]).orderBy(order_col)
    prev = F.lag(F.col(pass_col)).over(w)
    out = df.withColumn("prev_pass", prev)
    if keep_all:
        return out.withColumn(
            "flipped",
            F.coalesce(F.col("prev_pass") != F.col(pass_col), F.lit(False)),
        ).withColumn(
            "direction",
            F.when(~F.col("flipped"), F.lit(""))
            .when(F.col(pass_col), F.lit("recovered"))
            .otherwise(F.lit("regressed")),
        )
    return out.filter(
        F.col("prev_pass").isNotNull() & (F.col("prev_pass") != F.col(pass_col))
    ).withColumn(
        "direction",
        F.when(F.col(pass_col), F.lit("recovered")).otherwise(F.lit("regressed")),
    )


def metrics_history(spark: SparkSession, store) -> DataFrame:
    """The checkpoint store's metrics rows with a dense per-snapshot
    ordinal (validation order from the lineage) and a ``fail_rate``
    column — the canonical input for :func:`verdict_flips` and
    :func:`control_chart`.

    The lineage is one tiny row per snapshot (broadcast); the metrics
    table is O(rules × snapshots) rows. No scan of the validated data.
    """
    lineage = store._load_lineage()
    if not lineage:
        raise ValueError(
            "checkpoint store has no completed snapshots — run "
            "validate_resumable() first"
        )
    ords = local_frame(
        spark,
        [(r["snapshot_id"], i) for i, r in enumerate(lineage)],
        "snapshot_id string, snapshot_ord int",
    )
    m = store.metrics(spark)
    return m.join(F.broadcast(ords), "snapshot_id").withColumn(
        "fail_rate",
        F.when(
            F.col("n_checked") > 0, F.col("n_failed") / F.col("n_checked")
        ).otherwise(F.lit(0.0)),
    )


def metric_anomalies(
    spark: SparkSession,
    store,
    value_col: str = "fail_rate",
    min_history: int = 3,
    z_threshold: float = 3.0,
    method: str = "robust",
    max_history: Optional[int] = None,
) -> DataFrame:
    """Control-chart the checkpoint store's per-rule fail rates across
    snapshots: which rule's failure behavior just left its historical
    band? Thin composition of :func:`metrics_history` +
    :func:`control_chart`, returning only the flagged rows (newest
    snapshots of a healthy store return empty)."""
    hist = metrics_history(spark, store)
    chart = control_chart(
        hist,
        series_cols=("rule_id", "tag"),
        order_col="snapshot_ord",
        value_col=value_col,
        min_history=min_history,
        z_threshold=z_threshold,
        method=method,
        max_history=max_history,
    )
    return chart.filter(F.col("is_anomaly"))


def metric_cusum_alarms(
    spark: SparkSession,
    store,
    value_col: str = "fail_rate",
    warmup: int = 10,
    slack: float = 0.5,
    h: float = 5.0,
) -> DataFrame:
    """Page-CUSUM the checkpoint store's per-rule fail rates across
    snapshots: which rule's failure behavior has CREPT away from its
    calibration — the sustained sub-threshold shift the per-point chart
    of :func:`metric_anomalies` cannot see? Thin composition of
    :func:`metrics_history` + :func:`cusum_chart`, returning only the
    alarmed rows (a healthy store returns empty)."""
    hist = metrics_history(spark, store)
    chart = cusum_chart(
        hist,
        series_cols=("rule_id", "tag"),
        order_col="snapshot_ord",
        value_col=value_col,
        warmup=warmup,
        slack=slack,
        h=h,
    )
    return chart.filter(F.col("is_anomaly"))


def lineage_history(spark: SparkSession, store) -> DataFrame:
    """The lineage itself as a chartable series: per-snapshot row count,
    wall seconds and throughput (rows/sec). Feed to :func:`control_chart`
    with ``series_cols=()`` … actually a constant series key — e.g.
    ``control_chart(h.withColumn("series", F.lit("throughput")),
    ["series"], "snapshot_ord", "rows_per_sec")`` — to catch a run that
    suddenly processes 10× slower (skew regression, input blow-up)."""
    lineage = store._load_lineage()
    if not lineage:
        raise ValueError(
            "checkpoint store has no completed snapshots — run "
            "validate_resumable() first"
        )
    rows = [
        (
            r["snapshot_id"],
            i,
            int(r["n_rows"]),
            float(r["wall_sec"]),
            (float(r["n_rows"]) / float(r["wall_sec"])) if r["wall_sec"] else None,
        )
        for i, r in enumerate(lineage)
    ]
    return local_frame(
        spark,
        rows,
        "snapshot_id string, snapshot_ord int, n_rows long, "
        "wall_sec double, rows_per_sec double",
    )
