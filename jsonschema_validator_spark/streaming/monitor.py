"""Streaming monitors — stateful per-series twins of the batch monitors.

The batch charts (operators/monitor) see a series' whole history at
once; a streaming metrics feed (per-window verdict rates from
streaming/validate.py, per-window drift stats, any keyed numeric
telemetry) needs the SAME judgment per arriving point without re-reading
history. This is the stateful-twin pattern the repo uses for dedup and
decontamination: per-series state (``applyInPandasWithState``) carries
what the batch operator would have seen before the micro-batch, and each
micro-batch's rows of a series are scored in ``order_col`` order by the
very kernel the batch operator runs (``_chart_kernel`` /
``_cusum_kernel``), started from that state — so batch and stream agree
point-for-point on a replay of the same series (locked by the parity
tests). This module holds no scoring arithmetic of its own.

Scale notes
-----------
- Chart state is O(series × max_history) doubles. ``max_history``
  (default 512) bounds it: the chart degrades from expanding to
  rolling-window — at 10^12-row scale the monitored series are METRICS
  (rule × tag × window), thousands of keys, so state is a few MB; the
  RocksDB state store provider covers extreme key counts.
- CUSUM state is O(1) per series once calibration completes (two running
  sums, the reference, a point count); flips state is one boolean.
"""

from __future__ import annotations

from typing import Callable, Iterator, Sequence

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import BooleanType, StringType, StructField, StructType

from jsonschema_validator_spark.operators.monitor import (
    _CHART_FIELDS,
    _CUSUM_FIELDS,
    _CUSUM_START,
    _chart_kernel,
    _check_chart_args,
    _check_cusum_args,
    _cusum_kernel,
)


def _per_series_stateful(
    stream: DataFrame,
    series_cols: Sequence[str],
    order_col: str,
    value_col: str,
    fields: list,
    state_ddl: str,
    start: tuple,
    step: Callable[[pd.DataFrame, tuple], tuple],
) -> DataFrame:
    """The series/order/value columns of ``stream`` plus ``fields``.
    ``step(pdf, state) -> (out_pdf, state)`` sees each micro-batch's rows
    of one series sorted by ``order_col`` and the state the series ended
    the previous micro-batch with (``start`` for a new series); the state
    is stored under ``state_ddl``."""
    keep = list(series_cols) + [order_col, value_col]
    in_fields = {f.name: f for f in stream.schema.fields}
    missing = [c for c in keep if c not in in_fields]
    if missing:
        raise ValueError(f"stream is missing columns: {missing}")
    out_schema = StructType([in_fields[c] for c in keep] + fields)

    def fn(
        key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        st = tuple(state.get) if state.exists else start
        parts = [pdf for pdf in pdfs if len(pdf)]
        out = None
        if parts:
            pdf = pd.concat(parts, ignore_index=True)
            out, st = step(pdf.sort_values(order_col, kind="stable"), st)
        # Spark state takes plain Python values, not numpy ones
        state.update(
            tuple(v.tolist() if isinstance(v, (np.ndarray, np.generic)) else v for v in st)
        )
        if out is not None and len(out):
            yield out

    return stream.select(*keep).groupBy(*series_cols).applyInPandasWithState(
        fn,
        outputStructType=out_schema,
        stateStructType=state_ddl,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def _values(pdf: pd.DataFrame, value_col: str) -> np.ndarray:
    return pdf[value_col].to_numpy(dtype=np.float64, na_value=np.nan)


def streaming_control_chart(
    stream: DataFrame,
    series_cols: Sequence[str],
    order_col: str,
    value_col: str,
    min_history: int = 3,
    z_threshold: float = 3.0,
    method: str = "robust",
    max_history: int = 512,
) -> DataFrame:
    """Per-series expanding control chart over a keyed metric stream.

    Output: the series/order/value columns plus ``n_history, center,
    scale, z, is_anomaly`` — the batch chart's columns, one row per input
    row, scored against all PRIOR points of the same series (across
    micro-batches, via per-key state).

    ``max_history`` bounds per-key state; while a series has at most that
    many prior points the stream output equals
    ``operators.monitor.control_chart`` on the accumulated batch, after
    which the chart becomes rolling-window (oldest points evicted) —
    identical to the batch chart called with the same ``max_history``
    (point-for-point, locked by the parity test).
    """
    _check_chart_args(method, min_history, max_history)

    def step(pdf, st):
        cols, hist = _chart_kernel(
            _values(pdf, value_col), st[0], min_history, z_threshold, method, max_history
        )
        return pdf.assign(**cols), (hist,)

    return _per_series_stateful(
        stream, series_cols, order_col, value_col, _CHART_FIELDS,
        "history array<double>", ((),), step,
    )


def streaming_cusum_chart(
    stream: DataFrame,
    series_cols: Sequence[str],
    order_col: str,
    value_col: str,
    target: float = None,
    sigma: float = None,
    warmup: int = 10,
    slack: float = 0.5,
    h: float = 5.0,
) -> DataFrame:
    """Stateful twin of :func:`operators.monitor.cusum_chart` — the
    recursion ``S⁺ = max(0, S⁺ + d − k)`` is carried directly in per-key
    state (two doubles + the calibration buffer), so unlike the control
    chart there is no history to bound: state is O(1) per series once
    calibration completes. A replay of an ordered series reproduces the
    batch chart point-for-point, ``mu0/sigma0`` included (parity test) —
    the batch Phase-I calibration uses each series' first ``warmup``
    non-null values in ``order_col`` order, which is exactly what the
    stream accumulates.

    Output: the input columns plus ``n_history, mu0, sigma0, s_pos,
    s_neg, is_anomaly`` (the batch chart's columns).
    """
    _check_cusum_args(target, sigma, warmup, h)

    def step(pdf, st):
        cols, st = _cusum_kernel(_values(pdf, value_col), st, warmup, slack, h, target, sigma)
        return pdf.assign(**cols), st

    return _per_series_stateful(
        stream, series_cols, order_col, value_col, _CUSUM_FIELDS,
        "calib array<double>, mu0 double, sigma0 double, "
        "s_pos double, s_neg double, nn_seen int, const0 boolean",
        _CUSUM_START, step,
    )


def streaming_verdict_flips(
    stream: DataFrame,
    series_cols: Sequence[str],
    order_col: str,
    pass_col: str = "pass",
) -> DataFrame:
    """Stateful twin of :func:`operators.monitor.verdict_flips` (filtered
    form): emit a row the moment a series' pass/fail verdict flips vs its
    previous observation — across micro-batches, via one boolean of
    per-key state. ``direction`` = 'regressed' (pass→fail) or 'recovered'.

    Semantics mirror the batch ``lag`` exactly: the first observation
    never flips; a null verdict neither flips nor is flipped against
    (null != x is null in SQL, and the null becomes the next row's
    predecessor) — so an ordered replay emits exactly the batch rows
    (parity test). State is O(1) per series (``prev_pass`` + a has-prev
    flag), the smallest state of the monitor family.
    """

    def step(pdf, st):
        has_prev, prev = st
        prevs, flipped = [], []
        for raw in pdf[pass_col]:
            cur = None if pd.isna(raw) else bool(raw)
            prevs.append(prev)
            flipped.append(has_prev and prev is not None and cur is not None and prev != cur)
            has_prev, prev = True, cur
        out = pdf.assign(prev_pass=prevs)[np.array(flipped, dtype=bool)]
        direction = ["recovered" if p else "regressed" for p in out[pass_col]]
        return out.assign(direction=direction), (has_prev, prev)

    return _per_series_stateful(
        stream, series_cols, order_col, pass_col,
        [StructField("prev_pass", BooleanType()), StructField("direction", StringType())],
        "has_prev boolean, prev_pass boolean", (False, None), step,
    )


__all__ = [
    "streaming_control_chart",
    "streaming_cusum_chart",
    "streaming_verdict_flips",
]
