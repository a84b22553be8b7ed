"""Cross-snapshot monitoring (operators/monitor.py): control charts over
metric series and verdict-flip detection, end-to-end with the checkpoint
store. Parity oracle: an independent numpy re-implementation (expanding
median/IQR and mean/stddev over the preceding window)."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from jsonschema_validator_spark.checkpoint import CheckpointStore, validate_resumable
from jsonschema_validator_spark.operators.monitor import (
    _IQR_TO_SIGMA,
    control_chart,
    cusum_chart,
    lineage_history,
    metric_anomalies,
    metric_cusum_alarms,
    metrics_history,
    verdict_flips,
)
from jsonschema_validator_spark.sources.tables import SnapshotTable


def _chart_rows(spark, series, **kw):
    """series: {series_id: [values...]} → control_chart rows keyed by
    (series_id, ord)."""
    rows = [
        (sid, i, float(v) if v is not None else None)
        for sid, vals in series.items()
        for i, v in enumerate(vals)
    ]
    df = spark.createDataFrame(rows, "series string, ord int, value double")
    out = control_chart(df, ["series"], "ord", "value", **kw)
    return {(r["series"], r["ord"]): r.asDict() for r in out.collect()}


def _np_expected(vals, min_history, z_threshold, method, max_history=None):
    """Independent expanding-window re-implementation (trailing window
    of the last ``max_history`` non-null values when bounded)."""
    out = []
    for i, x in enumerate(vals):
        hist = [v for v in vals[:i] if v is not None]
        if max_history is not None:
            hist = hist[-max_history:]
        n = len(hist)
        if n < min_history or x is None:
            out.append((n, None, False))
            continue
        if method == "robust":
            center = float(np.percentile(hist, 50, method="linear"))
            iqr = float(
                np.percentile(hist, 75, method="linear")
                - np.percentile(hist, 25, method="linear")
            )
            scale = iqr / _IQR_TO_SIGMA
        elif min(hist) == max(hist):
            # classic constant history: center anchors to the constant
            center, scale = min(hist), 0.0
        else:
            center = float(np.mean(hist))
            scale = float(np.std(hist, ddof=1)) if n >= 2 else 0.0
        if scale > 0:
            z = (x - center) / scale
            out.append((n, z, abs(z) > z_threshold))
        elif method == "classic" and min(hist) != max(hist):
            out.append((n, None, False))  # stddev cancelled to 0: no flag
        else:
            out.append((n, None, x != center))
    return out


@pytest.mark.parametrize("method", ["robust", "classic"])
def test_control_chart_numpy_parity(spark, method):
    rng = np.random.default_rng(7)
    series = {
        "a": list(rng.normal(10.0, 2.0, 14)),
        "b": list(rng.normal(-3.0, 0.5, 9)),
        "c": list(rng.uniform(0.0, 1.0, 5)),
    }
    got = _chart_rows(spark, series, min_history=3, z_threshold=3.0, method=method)
    for sid, vals in series.items():
        exp = _np_expected(vals, 3, 3.0, method)
        for i, (n, z, flag) in enumerate(exp):
            r = got[(sid, i)]
            assert r["n_history"] == n
            if z is None:
                assert r["z"] is None
            else:
                assert r["z"] == pytest.approx(z, abs=1e-9)
            assert r["is_anomaly"] == flag, (sid, i)


@pytest.mark.parametrize("method", ["robust", "classic"])
def test_control_chart_randomized_sweep(spark, method):
    """Row-for-row numpy parity over ~80 randomized series including the
    degenerate shapes: heavy ties, exactly-constant series (the classic
    chart's avg used to drift an ulp from the constant and flag EVERY
    point), constant-then-deviation, interleaved nulls, planted huge
    spikes, and tiny magnitudes."""
    rng = np.random.default_rng(20260818)
    series = {}
    for k in range(80):
        kind = k % 8
        n = int(rng.integers(1, 30))
        if kind == 0:
            vals = list(rng.normal(rng.uniform(-50, 50), rng.uniform(0.1, 10), n))
        elif kind == 1:  # heavy ties
            pool = rng.normal(0, 5, 3)
            vals = list(rng.choice(pool, n))
        elif kind == 2:  # exactly constant
            vals = [float(rng.uniform(-5, 5))] * n
        elif kind == 3:  # constant then one deviation
            c = float(rng.uniform(-5, 5))
            vals = [c] * max(n, 4) + [
                c + float(rng.choice([-1, 1]) * rng.uniform(0.001, 10))
            ]
        elif kind == 4:  # interleaved nulls
            vals = [
                None if rng.random() < 0.3 else float(rng.normal(0, 2))
                for _ in range(n)
            ]
        elif kind == 5:  # huge spikes inside the history
            vals = list(rng.normal(10, 1, n))
            for j in rng.choice(max(n, 1), size=min(3, n), replace=False):
                vals[j] = float(rng.uniform(1e3, 1e6))
        elif kind == 6:  # tiny magnitudes, exact midpoint ties
            vals = list(rng.choice([0.0, 1e-12, -1e-12, 2e-12], n))
        else:  # integer-valued: exact interpolation midpoints
            vals = [float(v) for v in rng.integers(-3, 4, n)]
        series[f"s{k}"] = vals
    got = _chart_rows(spark, series, min_history=3, z_threshold=2.5, method=method)
    for sid, vals in series.items():
        exp = _np_expected(vals, 3, 2.5, method)
        for i, (n, z, flag) in enumerate(exp):
            r = got[(sid, i)]
            assert r["n_history"] == n, (sid, i)
            if z is None:
                assert r["z"] is None, (sid, i)
            else:
                assert r["z"] == pytest.approx(z, rel=1e-9, abs=1e-9), (sid, i)
            assert r["is_anomaly"] == flag, (sid, i)


@pytest.mark.parametrize("method", ["robust", "classic"])
def test_control_chart_bounded_history_numpy_parity(spark, method):
    """max_history trims each history to the trailing k non-null values —
    row-for-row numpy parity across randomized series with interleaved
    nulls, constants, and planted spikes (streaming-twin semantics: a
    rows-frame would count null rows; the operator must not)."""
    rng = np.random.default_rng(48)
    series = {}
    for k in range(32):
        kind = k % 4
        n = int(rng.integers(2, 36))
        if kind == 0:
            vals = list(rng.normal(rng.uniform(-20, 20), rng.uniform(0.5, 5), n))
        elif kind == 1:  # interleaved nulls around a drifting mean
            vals = [
                None if rng.random() < 0.3 else float(rng.normal(j * 0.5, 1.0))
                for j in range(n)
            ]
        elif kind == 2:  # constant, then a step the bound must track
            c = float(rng.uniform(-5, 5))
            vals = [c] * max(n, 6) + [c + 3.0] * 6
        else:  # early huge spike that must LEAVE the bounded window
            vals = list(rng.normal(0, 1, max(n, 12)))
            vals[2] = 1e6
        series[f"s{k}"] = vals
    for k_bound in (3, 7):
        got = _chart_rows(
            spark, series, min_history=3, z_threshold=2.5, method=method,
            max_history=k_bound,
        )
        for sid, vals in series.items():
            exp = _np_expected(vals, 3, 2.5, method, max_history=k_bound)
            for i, (n, z, flag) in enumerate(exp):
                r = got[(sid, i)]
                assert r["n_history"] == n, (sid, i, k_bound)
                if z is None:
                    assert r["z"] is None, (sid, i, k_bound)
                else:
                    assert r["z"] == pytest.approx(z, rel=1e-9, abs=1e-9), (
                        sid, i, k_bound,
                    )
                assert r["is_anomaly"] == flag, (sid, i, k_bound)


def test_control_chart_bounded_spike_evicted(spark):
    """An early spike stops widening the band once it falls out of the
    trailing window: the expanding chart keeps absorbing it forever, the
    bounded chart recovers sensitivity after max_history more points."""
    vals = [10.0, 10.2, 9.8, 500.0, 10.1, 9.9, 10.0, 10.2, 9.9, 10.1, 13.0]
    # classic expanding: the 500 inflates stddev for the whole series, so
    # the final 13.0 (≈30σ of the clean series) is missed
    exp_rows = _chart_rows(spark, {"s": vals}, min_history=3, method="classic")
    assert not exp_rows[("s", 10)]["is_anomaly"]
    # bounded to the trailing 5 values: the spike left the window
    bnd_rows = _chart_rows(
        spark, {"s": vals}, min_history=3, method="classic", max_history=5
    )
    assert bnd_rows[("s", 10)]["is_anomaly"]
    assert bnd_rows[("s", 10)]["n_history"] == 5


def test_control_chart_bounded_matches_streaming_twin(spark, tmp_path):
    """Batch max_history == streaming max_history, point for point, on a
    series long enough to roll (all five chart columns)."""
    import numpy as np

    rng = np.random.default_rng(33)
    vals = list(rng.normal(2.0, 0.5, 18)) + [25.0] + list(rng.normal(2.0, 0.5, 5))
    rows = [("s", i, float(v)) for i, v in enumerate(vals)]
    src = tmp_path / "bounded_parity_src"
    src.mkdir()
    spark.createDataFrame(rows, "series string, ord int, value double").coalesce(
        1
    ).write.parquet(str(src / "b0"))
    got = _drain_stream(
        spark, str(src) + "/b*", "chart_bounded_parity", min_history=3, max_history=6
    )
    batch_df = spark.createDataFrame(rows, "series string, ord int, value double")
    want = {
        (r["series"], r["ord"]): r.asDict()
        for r in control_chart(
            batch_df, ["series"], "ord", "value", min_history=3, max_history=6
        ).collect()
    }
    assert set(got) == set(want)
    for k in want:
        for col in ("n_history", "is_anomaly"):
            assert got[k][col] == want[k][col], (k, col)
        for col in ("center", "scale", "z"):
            if want[k][col] is None:
                assert got[k][col] is None, (k, col)
            else:
                assert got[k][col] == pytest.approx(want[k][col], rel=1e-9), (k, col)


@pytest.mark.parametrize("method", ["robust", "classic"])
def test_control_chart_nan_is_missing(spark, method):
    """NaN behaves exactly like null in both chart modes: never enters a
    history (NaN compares greater than everything in Spark — one NaN in
    a history would flag every later point forever), never flagged."""
    raw = [10.0, 10.2, 9.8, float("nan"), 10.1, 9.9, 30.0]
    as_null = [10.0, 10.2, 9.8, None, 10.1, 9.9, 30.0]
    for kw in ({}, {"max_history": 4}):
        got = _chart_rows(
            spark, {"s": raw}, min_history=3, z_threshold=3.0, method=method, **kw
        )
        exp = _np_expected(as_null, 3, 3.0, method, kw.get("max_history"))
        for i, (n, z, flag) in enumerate(exp):
            r = got[("s", i)]
            assert r["n_history"] == n, (i, kw)
            assert r["is_anomaly"] == flag, (i, kw)
        # the spike at the end is still caught (history stayed clean)
        assert got[("s", 6)]["is_anomaly"], kw


@pytest.mark.parametrize("method", ["robust", "classic"])
def test_control_chart_inf_is_missing(spark, method):
    """±Inf behaves exactly like null/NaN in both chart modes (ADVICE
    r4): one Inf in a history makes the center/scale aggregates NaN, and
    NaN compares greater than any threshold in Spark — every subsequent
    point would alarm forever."""
    raw = [10.0, 10.2, float("inf"), 9.8, float("-inf"), 10.1, 9.9, 30.0]
    as_null = [10.0, 10.2, None, 9.8, None, 10.1, 9.9, 30.0]
    for kw in ({}, {"max_history": 4}):
        got = _chart_rows(
            spark, {"s": raw}, min_history=3, z_threshold=3.0, method=method, **kw
        )
        exp = _np_expected(as_null, 3, 3.0, method, kw.get("max_history"))
        for i, (n, z, flag) in enumerate(exp):
            r = got[("s", i)]
            assert r["n_history"] == n, (i, kw)
            assert r["is_anomaly"] == flag, (i, kw)
        # the spike at the end is still caught (history stayed finite)
        assert got[("s", 7)]["is_anomaly"], kw


def test_classic_constant_series_never_self_flags(spark):
    """Regression: a perfectly constant series must never flag its own
    constant value — avg() accumulation drift made the classic chart's
    exact-equality rule fire on every warm point before the min==max
    anchor. The deviation itself still flags."""
    c = 4.799740575975282  # a constant whose repeated mean drifts an ulp
    vals = [c] * 12 + [c + 0.5]
    for method in ("robust", "classic"):
        got = _chart_rows(spark, {"s": vals}, min_history=3, method=method)
        flagged = sorted(o for (_, o), r in got.items() if r["is_anomaly"])
        assert flagged == [12], method
        assert got[("s", 12)]["z"] is None  # zero scale, rule-based flag
        # the anchored center IS the constant, bit-exactly
        assert got[("s", 7)]["center"] == c, method


def test_planted_spike_flagged_once(spark):
    vals = [0.01, 0.012, 0.011, 0.009, 0.010, 0.5, 0.011]
    got = _chart_rows(spark, {"s": vals}, min_history=3, z_threshold=4.0)
    flagged = sorted(o for (_, o), r in got.items() if r["is_anomaly"])
    # the spike is flagged; the NEXT point is not (robust band barely moves)
    assert flagged == [5]


def test_classic_chart_masked_by_spike(spark):
    """Documents WHY robust is the default: after a spike enters a classic
    chart's history, the inflated stddev masks a second spike the robust
    chart still catches."""
    vals = [0.01, 0.012, 0.011, 0.009, 0.010, 0.5, 0.4]
    robust = _chart_rows(spark, {"s": vals}, min_history=3, z_threshold=4.0)
    classic = _chart_rows(
        spark, {"s": vals}, min_history=3, z_threshold=4.0, method="classic"
    )
    assert robust[("s", 6)]["is_anomaly"] is True
    assert classic[("s", 6)]["is_anomaly"] is False


def test_constant_history_zero_scale(spark):
    got = _chart_rows(spark, {"s": [0.0, 0.0, 0.0, 0.0, 0.0, 0.2]}, min_history=3)
    assert [got[("s", i)]["is_anomaly"] for i in range(6)] == [
        False, False, False, False, False, True,
    ]
    assert got[("s", 5)]["z"] is None  # zero scale → no z, still flagged


def test_warmup_and_nulls_never_flag(spark):
    got = _chart_rows(
        spark, {"s": [0.0, 100.0, None, 0.0, 200.0]}, min_history=3
    )
    # ords 0-1 warming up; ord 2 null value; ord 3 has only 2 non-null
    # priors (null never entered the history) → still warming up
    assert not any(got[("s", i)]["is_anomaly"] for i in range(4))
    assert got[("s", 3)]["n_history"] == 2
    assert got[("s", 4)]["is_anomaly"] is True


def test_control_chart_validates_args(spark):
    df = spark.createDataFrame([("s", 0, 1.0)], "series string, ord int, value double")
    with pytest.raises(ValueError, match="method"):
        control_chart(df, ["series"], "ord", "value", method="ewma")
    with pytest.raises(ValueError, match="min_history"):
        control_chart(df, ["series"], "ord", "value", min_history=0)
    with pytest.raises(ValueError, match="max_history"):
        control_chart(df, ["series"], "ord", "value", min_history=3, max_history=2)


# ---------------------------------------------------------------------------
# CUSUM chart: small persistent shifts the Shewhart chart cannot see
# ---------------------------------------------------------------------------


def _cusum_rows(spark, series, **kw):
    rows = [
        (sid, i, float(v) if v is not None else None)
        for sid, vals in series.items()
        for i, v in enumerate(vals)
    ]
    df = spark.createDataFrame(rows, "series string, ord int, value double")
    out = cusum_chart(df, ["series"], "ord", "value", **kw)
    return {(r["series"], r["ord"]): r.asDict() for r in out.collect()}


def _np_cusum(vals, target, sigma, warmup, slack, h):
    """Independent recursion: S⁺=max(0,S⁺+d−k), S⁻=max(0,S⁻−d−k).
    Constant calibration anchors μ₀ to the constant with σ₀=0 exactly
    (np.mean over n copies drifts an ulp — the operator must not flag
    the constant itself); only that truly-constant case uses the
    exact-deviation rule."""
    nonnull = [x for x in vals if x is not None]
    const0 = False
    if target is None:
        c = nonnull[:warmup]
        if c and min(c) == max(c):
            mu0, sigma0, const0 = c[0], 0.0, True
        elif c:
            mu0 = float(np.mean(c))
            sigma0 = float(np.std(c, ddof=1)) if len(c) >= 2 else 0.0
        else:
            mu0, sigma0 = None, 0.0
    else:
        mu0, sigma0 = float(target), float(sigma)
    sp = sn = 0.0
    nn_seen = 0
    out = []
    for x in vals:
        n_hist = nn_seen
        if x is None:
            out.append((n_hist, None, None, False))
            continue
        nn_seen += 1
        scored = target is not None or nn_seen > warmup
        if not scored:
            out.append((n_hist, None, None, False))
            continue
        if sigma0 == 0:
            out.append((n_hist, None, None, (x != mu0) if const0 else False))
            continue
        d = (x - mu0) / sigma0
        sp = max(0.0, sp + d - slack)
        sn = max(0.0, sn - d - slack)
        out.append((n_hist, sp, sn, sp > h or sn > h))
    return out


def test_cusum_numpy_parity_randomized(spark):
    """Row-for-row parity of the CUSUM kernel against an independent
    textbook max(0, ...) recursion, across randomized series with nulls,
    shifts, spikes, and constant calibrations."""
    rng = np.random.default_rng(4848)
    series = {}
    for k in range(24):
        kind = k % 4
        n = int(rng.integers(6, 40))
        if kind == 0:
            vals = list(rng.normal(rng.uniform(-10, 10), rng.uniform(0.5, 4), n))
        elif kind == 1:  # nulls interleaved
            vals = [
                None if rng.random() < 0.25 else float(rng.normal(3, 1))
                for _ in range(n)
            ]
        elif kind == 2:  # calibration then sustained small shift
            base = list(rng.normal(0, 1, max(n, 8)))
            vals = base + [float(x) + 0.9 for x in rng.normal(0, 1, 15)]
        else:  # constant calibration (sigma0 == 0 path)
            c = float(rng.uniform(-2, 2))
            vals = [c] * max(n, 7) + [c, c + 1.0, c]
        series[f"s{k}"] = vals
    got = _cusum_rows(spark, series, warmup=5, slack=0.5, h=4.0)
    for sid, vals in series.items():
        exp = _np_cusum(vals, None, None, 5, 0.5, 4.0)
        for i, (n, sp, sn, flag) in enumerate(exp):
            r = got[(sid, i)]
            assert r["n_history"] == n, (sid, i)
            for col, want in (("s_pos", sp), ("s_neg", sn)):
                if want is None:
                    assert r[col] is None, (sid, i, col)
                else:
                    assert r[col] == pytest.approx(want, rel=1e-9, abs=1e-9), (
                        sid, i, col,
                    )
            # skip the flag only when a sum sits within float noise of h
            near = any(
                s is not None and abs(s - 4.0) < 1e-6 for s in (sp, sn)
            )
            if not near:
                assert r["is_anomaly"] == flag, (sid, i)


def test_cusum_catches_small_shift_shewhart_misses(spark):
    """The contrast that motivates CUSUM: a sustained +1σ mean shift where
    every individual point stays inside the 3σ band — the control chart
    stays silent, the CUSUM alarms within a few points of the shift."""
    rng = np.random.default_rng(99)
    base = list(rng.normal(10.0, 1.0, 30))
    # +1σ shift, each point clipped well inside ±3σ of the base series
    shifted = [10.0 + 1.0 + float(x) for x in np.clip(rng.normal(0, 0.8, 20), -1.5, 1.5)]
    vals = base + shifted
    chart = _chart_rows(
        spark, {"s": vals}, min_history=5, z_threshold=3.0, method="classic"
    )
    assert not any(r["is_anomaly"] for r in chart.values())
    cusum = _cusum_rows(spark, {"s": vals}, warmup=30, slack=0.5, h=5.0)
    flagged = sorted(o for (_, o), r in cusum.items() if r["is_anomaly"])
    assert flagged and flagged[0] < 45, flagged  # alarms mid-shift, not never
    assert all(o >= 30 for o in flagged)  # never inside calibration


def test_cusum_explicit_target_scores_from_first_point(spark):
    vals = [0.0, 0.2, 2.0, 2.1, 2.2, 2.3]
    got = _cusum_rows(spark, {"s": vals}, target=0.0, sigma=1.0, warmup=10,
                      slack=0.5, h=3.0)
    exp = _np_cusum(vals, 0.0, 1.0, 10, 0.5, 3.0)
    for i, (n, sp, sn, flag) in enumerate(exp):
        r = got[("s", i)]
        assert r["s_pos"] == pytest.approx(sp, rel=1e-12)
        assert r["is_anomaly"] == flag, i
    # the sustained 2σ run must alarm by the end
    assert got[("s", 5)]["is_anomaly"]


def test_cusum_constant_calibration_exact_deviation_rule(spark):
    # 0.1 is non-dyadic: avg over n copies drifts an ulp, so this test
    # fails unless the calibration anchors mu0 to the constant (the 5.0
    # of an earlier draft was dyadic-exact and masked the drift)
    vals = [0.1] * 12 + [0.1, 0.15, 0.1]
    got = _cusum_rows(spark, {"s": vals}, warmup=12, h=4.0)
    assert got[("s", 12)]["mu0"] == 0.1  # anchored, bit-exact
    assert not got[("s", 12)]["is_anomaly"]  # equals the constant
    assert got[("s", 13)]["is_anomaly"]  # any deviation alarms
    assert got[("s", 13)]["s_pos"] is None  # standardization undefined
    assert not got[("s", 14)]["is_anomaly"]


def test_cusum_constant_series_never_self_flags(spark):
    """Regression (review finding): a perfectly constant non-dyadic
    series must never alarm — the unanchored draft flagged EVERY
    post-warmup point of [0.1]*18."""
    got = _cusum_rows(spark, {"s": [0.1] * 18}, warmup=12, h=4.0)
    assert not any(r["is_anomaly"] for r in got.values())
    assert got[("s", 17)]["sigma0"] == 0.0


def test_cusum_nan_is_missing_not_poison(spark):
    """Regression (review finding): one NaN metric must not enter the
    running sums — the draft propagated NaN into s_pos forever and NaN
    compares greater than h, alarming every later point. NaN behaves
    exactly like null: unscored, unflagged, skipped."""
    rng = np.random.default_rng(5)
    clean = [float(x) for x in rng.normal(10, 1, 14)]
    vals = clean[:10] + [float("nan")] + clean[10:]
    got = _cusum_rows(spark, {"s": vals}, warmup=8, slack=0.5, h=5.0)
    # expected: the same series with the NaN treated as a null gap
    exp = _np_cusum(clean[:10] + [None] + clean[10:], None, None, 8, 0.5, 5.0)
    for i, (n, sp, sn, flag) in enumerate(exp):
        r = got[("s", i)]
        assert r["n_history"] == n, i
        assert r["is_anomaly"] == flag, i
        if sp is None:
            assert r["s_pos"] is None, i
        else:
            assert r["s_pos"] == pytest.approx(sp, rel=1e-9), i
    # and a NaN inside the calibration window is skipped, not averaged
    vals2 = [1.0, float("nan"), 2.0, 3.0, 4.0, 5.0, 6.0]
    got2 = _cusum_rows(spark, {"s": vals2}, warmup=4, h=3.0)
    exp_mu0 = float(np.mean([1.0, 2.0, 3.0, 4.0]))
    assert got2[("s", 6)]["mu0"] == pytest.approx(exp_mu0, rel=1e-12)


def test_cusum_inf_is_missing_not_poison(spark):
    """±Inf behaves exactly like null/NaN in the CUSUM (ADVICE r4): an
    Inf in the calibration window makes sigma0 NaN (alarming every later
    point), an Inf after calibration poisons the running sums. Both are
    screened to missing."""
    rng = np.random.default_rng(7)
    clean = [float(x) for x in rng.normal(10, 1, 14)]
    vals = clean[:5] + [float("inf")] + clean[5:10] + [float("-inf")] + clean[10:]
    nulls = clean[:5] + [None] + clean[5:10] + [None] + clean[10:]
    got = _cusum_rows(spark, {"s": vals}, warmup=8, slack=0.5, h=5.0)
    exp = _np_cusum(nulls, None, None, 8, 0.5, 5.0)
    for i, (n, sp, sn, flag) in enumerate(exp):
        r = got[("s", i)]
        assert r["n_history"] == n, i
        assert r["is_anomaly"] == flag, i
        if sp is None:
            assert r["s_pos"] is None, i
        else:
            assert r["s_pos"] == pytest.approx(sp, rel=1e-9), i


def test_cusum_validates_args(spark):
    df = spark.createDataFrame([("s", 0, 1.0)], "series string, ord int, value double")
    with pytest.raises(ValueError, match="warmup"):
        cusum_chart(df, ["series"], "ord", "value", warmup=1)
    with pytest.raises(ValueError, match="together"):
        cusum_chart(df, ["series"], "ord", "value", target=1.0)
    with pytest.raises(ValueError, match="sigma"):
        cusum_chart(df, ["series"], "ord", "value", target=1.0, sigma=0.0)
    with pytest.raises(ValueError, match="h must"):
        cusum_chart(df, ["series"], "ord", "value", h=0.0)


def test_verdict_flips_directions(spark):
    rows = [
        # rule r1 flips fail at ord 2, recovers at ord 3
        ("r1", "t", 0, True), ("r1", "t", 1, True),
        ("r1", "t", 2, False), ("r1", "t", 3, True),
        # rule r2 never flips
        ("r2", "t", 0, True), ("r2", "t", 1, True),
    ]
    df = spark.createDataFrame(rows, "rule_id string, tag string, snapshot_ord int, pass boolean")
    got = {
        (r["rule_id"], r["snapshot_ord"]): r["direction"]
        for r in verdict_flips(df).collect()
    }
    assert got == {("r1", 2): "regressed", ("r1", 3): "recovered"}


def test_verdict_flips_keep_all_matches_filtered(spark):
    """keep_all=True annotates every row; filtering its flipped rows
    reproduces the default output exactly, and non-flips carry ''."""
    rows = [
        ("r1", "t", 0, True), ("r1", "t", 1, True),
        ("r1", "t", 2, False), ("r1", "t", 3, True),
        ("r2", "t", 0, True), ("r2", "t", 1, False),
    ]
    df = spark.createDataFrame(
        rows, "rule_id string, tag string, snapshot_ord int, pass boolean"
    )
    allrows = verdict_flips(df, keep_all=True).collect()
    assert len(allrows) == len(rows)
    got_all = {
        (r["rule_id"], r["snapshot_ord"]): (r["flipped"], r["direction"])
        for r in allrows
    }
    got_filtered = {
        (r["rule_id"], r["snapshot_ord"]): r["direction"]
        for r in verdict_flips(df).collect()
    }
    flips = {k: d for k, (f, d) in got_all.items() if f}
    assert flips == got_filtered == {
        ("r1", 2): "regressed",
        ("r1", 3): "recovered",
        ("r2", 1): "regressed",
    }
    assert all(d == "" for k, (f, d) in got_all.items() if not f)


SPEC = {"properties": {"v": {"minimum": 0}}}


def _snap(spark, n_bad, n=200, start=0):
    rows = [(start + i, -1.0 if i < n_bad else float(i)) for i in range(n)]
    return spark.createDataFrame(rows, "id long, v double")


def test_store_monitoring_end_to_end(spark, tmp_path):
    """Five snapshots: stable → spike in snapshot 4. verdict_flips sees
    the regression+recovery; metric_anomalies flags exactly the spike."""
    table = SnapshotTable(str(tmp_path / "t"))
    store = CheckpointStore(str(tmp_path / "ckpt"))
    bad = [0, 0, 0, 0, 120, 0]
    for i, nb in enumerate(bad):
        table.append(_snap(spark, nb, start=1000 * i), f"snap_{i}")
    validate_resumable(spark, table, SPEC, store)

    hist = metrics_history(spark, store)
    assert hist.filter("snapshot_ord IS NULL").count() == 0

    flips = {
        (r["snapshot_id"], r["direction"])
        for r in verdict_flips(hist).filter("rule_id = 'minimum:$.v'").collect()
    }
    assert flips == {("snap_4", "regressed"), ("snap_5", "recovered")}

    anomalies = metric_anomalies(spark, store, min_history=3)
    flagged = {
        (r["snapshot_id"], r["rule_id"]) for r in anomalies.collect()
    }
    assert flagged == {("snap_4", "minimum:$.v")}

    # CUSUM adapter: the first 3 snapshots' fail rates are constant 0.0
    # → anchored zero-sigma calibration; the spike deviates (alarms),
    # the recovery returns to the constant (silent) — the anchored
    # constant path end-to-end through the store
    cus = {
        (r["snapshot_id"], r["rule_id"])
        for r in metric_cusum_alarms(spark, store, warmup=3, h=3.0).collect()
    }
    assert ("snap_4", "minimum:$.v") in cus
    assert not any(s == "snap_5" for s, _ in cus)

    lh = lineage_history(spark, store)
    assert lh.count() == 6
    assert lh.filter("rows_per_sec IS NULL OR rows_per_sec <= 0").count() == 0


def test_metrics_history_empty_store_raises(spark, tmp_path):
    store = CheckpointStore(str(tmp_path / "empty"))
    with pytest.raises(ValueError, match="no completed snapshots"):
        metrics_history(spark, store)
    with pytest.raises(ValueError, match="no completed snapshots"):
        lineage_history(spark, store)


@pytest.mark.parametrize(
    "chart",
    [
        lambda df: control_chart(df, ["series"], "ord", "value"),
        lambda df: control_chart(df, ["series"], "ord", "value", method="classic"),
        lambda df: control_chart(df, ["series"], "ord", "value", max_history=6),
        lambda df: cusum_chart(df, ["series"], "ord", "value"),
    ],
    ids=["robust", "classic", "bounded", "cusum"],
)
def test_chart_single_shuffle_plan(spark, tmp_path, chart):
    """Scale shape: each chart call is ONE exchange keyed by the series
    id in the final adaptive plan, null rows included."""
    rows = [("s%d" % (i % 3), i, float(i % 7) if i % 5 else None) for i in range(90)]
    p = str(tmp_path / "plan_in.parquet")
    spark.createDataFrame(rows, "series string, ord int, value double").write.parquet(p)
    out = chart(spark.read.parquet(p))
    out.collect()
    final = out._jdf.queryExecution().executedPlan().toString().split("Initial Plan")[0]
    assert final.count("Exchange hashpartitioning") == 1, final[:2000]


@pytest.mark.parametrize(
    "chart",
    [
        lambda df: control_chart(df, ["series"], "ord", "value", min_history=1),
        lambda df: cusum_chart(df, ["series"], "ord", "value", warmup=2),
    ],
    ids=["control_chart", "cusum_chart"],
)
def test_chart_passes_bigint_through_exactly(spark, chart):
    """Columns the chart does not compute pass through untouched: a
    nullable bigint beyond 2**53 comes back exact (a pandas round trip
    turns 2**53+1 into 2**53)."""
    big = 2**53 + 1
    rows = [("s", i, float(i), big + i if i != 1 else None) for i in range(4)]
    df = spark.createDataFrame(rows, "series string, ord int, value double, id long")
    got = {r["ord"]: r["id"] for r in chart(df).collect()}
    assert got == {0: big, 1: None, 2: big + 2, 3: big + 3}


# ---------------------------------------------------------------------------
# streaming twin: per-series state carries the history across micro-batches
# ---------------------------------------------------------------------------

from jsonschema_validator_spark.streaming.monitor import streaming_control_chart  # noqa: E402


def _drain_stream(spark, src_dir, name, **kw):
    stream = spark.readStream.schema("series string, ord int, value double").option(
        "maxFilesPerTrigger", 1
    ).parquet(src_dir)
    out = streaming_control_chart(stream, ["series"], "ord", "value", **kw)
    q = (
        out.writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .start()
    )
    q.processAllAvailable()
    q.stop()
    return {
        (r["series"], r["ord"]): r.asDict()
        for r in spark.sql(f"SELECT * FROM {name}").collect()
    }


def test_streaming_chart_matches_batch(spark, tmp_path):
    """Replay of the same series through 3 micro-batches == the batch
    expanding chart, point for point on all five chart columns (state
    carries history across batches; within-batch rows are scored in
    order). Series c's null and NaN points are missing on both sides:
    null center/scale/z, never flagged, never in a history."""
    import numpy as np

    rng = np.random.default_rng(11)
    series = {
        "a": list(rng.normal(5.0, 1.0, 9)) + [50.0, 5.1, 5.2],
        "b": list(rng.normal(0.0, 0.2, 12)),
        "c": [None if i % 4 == 1 else float("nan") if i % 5 == 3 else float(v)
              for i, v in enumerate(rng.normal(1.0, 0.3, 12))],
    }
    rows = [
        (sid, i, v if v is None else float(v))
        for sid, vals in series.items()
        for i, v in enumerate(vals)
    ]
    src = tmp_path / "stream_src"
    src.mkdir()
    for b in range(3):  # batch b gets ords [4b, 4b+4) of each series
        batch = [r for r in rows if 4 * b <= r[1] < 4 * (b + 1)]
        spark.createDataFrame(batch, "series string, ord int, value double").coalesce(
            1
        ).write.parquet(str(src / f"b{b}"))

    got = _drain_stream(spark, str(src) + "/b*", "chart_parity")
    batch_df = spark.createDataFrame(rows, "series string, ord int, value double")
    want = {
        (r["series"], r["ord"]): r.asDict()
        for r in control_chart(batch_df, ["series"], "ord", "value").collect()
    }
    assert set(got) == set(want)
    for k in want:
        for col in ("n_history", "center", "scale", "z", "is_anomaly"):
            assert got[k][col] == want[k][col], (k, col)
    # the missing points of series c are unscored on both sides
    for i in (1, 3, 5, 8, 9):
        assert want[("c", i)]["center"] is None and not want[("c", i)]["is_anomaly"]
    assert want[("c", 11)]["n_history"] == 6
    # the planted spike is flagged in the stream; its neighbors are not
    flagged = {k for k, r in got.items() if r["is_anomaly"]}
    assert ("a", 9) in flagged
    assert ("a", 10) not in flagged and ("a", 11) not in flagged


def test_streaming_chart_bounded_state_rolls(spark, tmp_path):
    """max_history evicts oldest points: scoring uses only the trailing
    window, verified against a manual numpy rolling recomputation."""
    import numpy as np

    vals = [0.0, 1.0, 2.0, 3.0, 100.0, 5.0, 6.0, 7.0]
    rows = [("s", i, float(v)) for i, v in enumerate(vals)]
    src = tmp_path / "roll_src"
    src.mkdir()
    spark.createDataFrame(rows, "series string, ord int, value double").coalesce(
        1
    ).write.parquet(str(src / "b0"))
    got = _drain_stream(
        spark, str(src) + "/b*", "chart_roll", min_history=2, max_history=3
    )
    for i, x in enumerate(vals):
        hist = vals[max(0, i - 3) : i]
        r = got[("s", i)]
        assert r["n_history"] == len(hist)
        if len(hist) >= 2:
            center = float(np.percentile(hist, 50, method="linear"))
            iqr = float(
                np.percentile(hist, 75, method="linear")
                - np.percentile(hist, 25, method="linear")
            )
            if iqr > 0:
                assert r["z"] == pytest.approx(
                    (x - center) / (iqr / _IQR_TO_SIGMA), abs=1e-9
                )


def test_streaming_twins_inf_parity(spark, tmp_path):
    """±Inf screening holds batch==stream (ADVICE r4 mirror rule): a
    series poisoned with Inf replayed through BOTH streaming twins
    matches the batch operators point for point — neither side lets an
    Inf enter history, calibration, or the running sums."""
    import numpy as np

    rng = np.random.default_rng(31)
    clean = [float(x) for x in rng.normal(2.0, 0.5, 12)]
    vals = clean[:4] + [float("inf")] + clean[4:8] + [float("-inf")] + clean[8:]
    rows = [("s", i, v) for i, v in enumerate(vals)]
    src = tmp_path / "inf_src"
    src.mkdir()
    for b in range(2):
        batch = [r for r in rows if 7 * b <= r[1] < 7 * (b + 1)]
        spark.createDataFrame(batch, "series string, ord int, value double").coalesce(
            1
        ).write.parquet(str(src / f"b{b}"))
    batch_df = spark.createDataFrame(rows, "series string, ord int, value double")

    got = _drain_stream(spark, str(src) + "/b*", "inf_chart", min_history=3)
    want = {
        (r["series"], r["ord"]): r.asDict()
        for r in control_chart(
            batch_df, ["series"], "ord", "value", min_history=3
        ).collect()
    }
    for k in want:
        assert got[k]["n_history"] == want[k]["n_history"], k
        assert got[k]["is_anomaly"] == want[k]["is_anomaly"], k
        assert (got[k]["z"] is None) == (want[k]["z"] is None), k
    # the Inf rows themselves are unscored on both sides
    assert want[("s", 4)]["z"] is None and want[("s", 9)]["z"] is None

    got_c = _drain_cusum_stream(
        spark, str(src) + "/b*", "inf_cusum", warmup=5, h=4.0
    )
    want_c = {
        (r["series"], r["ord"]): r.asDict()
        for r in cusum_chart(
            batch_df, ["series"], "ord", "value", warmup=5, h=4.0
        ).collect()
    }
    for k in want_c:
        assert got_c[k]["n_history"] == want_c[k]["n_history"], k
        assert got_c[k]["is_anomaly"] == want_c[k]["is_anomaly"], k
        assert (got_c[k]["s_pos"] is None) == (want_c[k]["s_pos"] is None), k


def test_streaming_chart_validates_args(spark, tmp_path):
    empty = tmp_path / "empty_src"
    empty.mkdir()
    stream = spark.readStream.schema("series string, ord int, value double").parquet(
        str(empty)
    )
    with pytest.raises(ValueError, match="method"):
        streaming_control_chart(stream, ["series"], "ord", "value", method="x")
    with pytest.raises(ValueError, match="max_history"):
        streaming_control_chart(stream, ["series"], "ord", "value", max_history=1)
    with pytest.raises(ValueError, match="missing columns"):
        streaming_control_chart(stream, ["series"], "ord", "nope")


def _drain_cusum_stream(spark, src_dir, name, **kw):
    from jsonschema_validator_spark.streaming.monitor import streaming_cusum_chart

    stream = spark.readStream.schema("series string, ord int, value double").option(
        "maxFilesPerTrigger", 1
    ).parquet(src_dir)
    out = streaming_cusum_chart(stream, ["series"], "ord", "value", **kw)
    q = (
        out.writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .start()
    )
    q.processAllAvailable()
    q.stop()
    return {
        (r["series"], r["ord"]): r.asDict()
        for r in spark.sql(f"SELECT * FROM {name}").collect()
    }


def test_streaming_cusum_matches_batch(spark, tmp_path):
    """Replaying ordered series through 3 micro-batches reproduces the
    batch CUSUM row-for-row, on every column: the recursion state (two
    doubles) carries across batches; calibration rows are scored by
    neither side and carry null mu0/sigma0 on both."""
    import numpy as np

    rng = np.random.default_rng(21)
    series = {
        "a": list(rng.normal(4.0, 1.0, 8)) + [4.9 + float(x) for x in rng.normal(0, 0.4, 10)],
        "b": [None if i % 5 == 2 else float(v) for i, v in enumerate(rng.normal(0, 1, 18))],
        # non-dyadic constant: both sides must anchor and stay silent
        "c": [0.1] * 17,
    }
    rows = [
        (sid, i, float(v) if v is not None else None)
        for sid, vals in series.items()
        for i, v in enumerate(vals)
    ]
    src = tmp_path / "cusum_src"
    src.mkdir()
    for b in range(3):
        batch = [r for r in rows if 6 * b <= r[1] < 6 * (b + 1)]
        spark.createDataFrame(batch, "series string, ord int, value double").coalesce(
            1
        ).write.parquet(str(src / f"b{b}"))
    got = _drain_cusum_stream(
        spark, str(src) + "/b*", "cusum_parity", warmup=6, slack=0.25, h=3.0
    )
    batch_df = spark.createDataFrame(rows, "series string, ord int, value double")
    want = {
        (r["series"], r["ord"]): r.asDict()
        for r in cusum_chart(
            batch_df, ["series"], "ord", "value", warmup=6, slack=0.25, h=3.0
        ).collect()
    }
    assert set(got) == set(want)
    for k in want:
        assert got[k]["n_history"] == want[k]["n_history"], k
        assert got[k]["is_anomaly"] == want[k]["is_anomaly"], k
        for col in ("s_pos", "s_neg"):
            if want[k][col] is None:
                assert got[k][col] is None, (k, col)
            else:
                assert got[k][col] == pytest.approx(want[k][col], rel=1e-9, abs=1e-9), (k, col)
        for col in ("mu0", "sigma0"):
            assert got[k][col] == want[k][col], (k, col)
    assert want[("a", 5)]["mu0"] is None and want[("a", 6)]["mu0"] is not None
    # the +0.9σ drift in series a must alarm somewhere post-calibration
    assert any(r["is_anomaly"] for (s, _), r in got.items() if s == "a")


def test_streaming_cusum_validates_args(spark, tmp_path):
    from jsonschema_validator_spark.streaming.monitor import streaming_cusum_chart

    empty = tmp_path / "cusum_empty_src"
    empty.mkdir()
    stream = spark.readStream.schema("series string, ord int, value double").parquet(
        str(empty)
    )
    with pytest.raises(ValueError, match="warmup"):
        streaming_cusum_chart(stream, ["series"], "ord", "value", warmup=1)
    with pytest.raises(ValueError, match="together"):
        streaming_cusum_chart(stream, ["series"], "ord", "value", target=1.0)
    with pytest.raises(ValueError, match="missing columns"):
        streaming_cusum_chart(stream, ["series"], "ord", "nope")


def test_streaming_verdict_flips_matches_batch(spark, tmp_path):
    """Ordered replay through 3 micro-batches emits exactly the batch
    verdict_flips rows (filtered form), including the null-verdict rules:
    a null neither flips nor is flipped against, but it does become the
    next row's predecessor."""
    from jsonschema_validator_spark.streaming.monitor import streaming_verdict_flips

    series = {
        "a": [True, True, False, False, True, True],   # regress @2, recover @4
        "b": [True, None, True, False, None, False],   # null gaps: flip @3 only
        "c": [False] * 6,                               # never flips
    }
    rows = [
        (sid, i, v) for sid, vals in series.items() for i, v in enumerate(vals)
    ]
    src = tmp_path / "flips_src"
    src.mkdir()
    for b in range(3):
        batch = [r for r in rows if 2 * b <= r[1] < 2 * (b + 1)]
        spark.createDataFrame(batch, "series string, ord int, pass boolean").coalesce(
            1
        ).write.parquet(str(src / f"b{b}"))
    stream = spark.readStream.schema("series string, ord int, pass boolean").option(
        "maxFilesPerTrigger", 1
    ).parquet(str(src) + "/b*")
    out = streaming_verdict_flips(stream, ["series"], "ord", "pass")
    q = out.writeStream.format("memory").queryName("flips_parity").outputMode(
        "append"
    ).start()
    q.processAllAvailable()
    q.stop()
    got = {
        (r["series"], r["ord"]): (r["prev_pass"], r["direction"])
        for r in spark.sql("SELECT * FROM flips_parity").collect()
    }
    batch_df = spark.createDataFrame(rows, "series string, ord int, pass boolean")
    want = {
        (r["series"], r["ord"]): (r["prev_pass"], r["direction"])
        for r in verdict_flips(
            batch_df, series_cols=["series"], order_col="ord", pass_col="pass"
        ).collect()
    }
    assert got == want
    assert ("a", 2) in got and got[("a", 2)][1] == "regressed"
    assert ("a", 4) in got and got[("a", 4)][1] == "recovered"
    assert ("b", 3) in got and not any(s == "c" for s, _ in got)


def test_streaming_verdict_flips_validates_args(spark, tmp_path):
    from jsonschema_validator_spark.streaming.monitor import streaming_verdict_flips

    empty = tmp_path / "flips_empty"
    empty.mkdir()
    stream = spark.readStream.schema("series string, ord int, pass boolean").parquet(
        str(empty)
    )
    with pytest.raises(ValueError, match="missing columns"):
        streaming_verdict_flips(stream, ["series"], "ord", pass_col="nope")
