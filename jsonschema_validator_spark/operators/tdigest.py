"""Mergeable approximate quantiles via t-digest (Dunning's merging digest).

The north rule asks for "approx quantiles via t-digest" as a per-column
stat. Spark ships GK-style ``percentile_approx`` (used by
``stats.numeric_quantiles``), but GK summaries are not exposed as
MERGEABLE state — a resumed run cannot combine yesterday's summary with
today's increment. This module provides that missing algebra, mirroring
how ``stats.hll_sketches`` + ``merge_hll_sketches`` treat distinct counts:

- **Pure-numpy digest** (no external libraries): the one-pass MERGING
  t-digest from the public t-digest paper (Dunning & Ertl) with the k1
  scale function ``k(q) = δ/2π · asin(2q−1)`` — centroid weights are
  bounded by the scale-function step, so tail quantiles stay accurate
  (error ~ q(1−q)) and two digests merge by concatenating centroids and
  re-compressing. Serialized as a little-endian ``(n, means, weights)``
  blob — a plain binary column.
- **Two-stage Spark shape**: ``tdigest_sketches`` builds one digest per
  Arrow batch per column inside ``mapInPandas`` (bounded memory — never
  collects a whole group), then reduces the tiny digest rows per
  (partition, column) with ``applyInPandas``. The data table is scanned
  ONCE; everything after operates on O(batches) rows of ~3 KB blobs.
- **Resume algebra**: persisted per-partition digest rows merge across
  snapshots exactly like HLL sketches — ``merge_tdigests`` then
  ``tdigest_quantiles`` answers table-level quantiles without rescanning
  validated data.

Driver gate: ``sketch_accuracy_gates`` tdigest rows (merged digest within
0.5% of the exact percentile at sf0.01, sharing the HLL gate slot).

Guarantee caveat (applies to every rank-based sketch, incl.
``percentile_approx``): the error bound is in RANK space (~q(1−q)/δ), not
value space. On a distribution with a density cliff (e.g. a hash-uniform
int64 column with an atom near 0), a 0.1% rank error at the cliff edge can
be an astronomically large value error — gate value accuracy only on
columns with meaningful local density, and rank accuracy otherwise
(tests/test_checkpoint_resume.py::test_tdigest_merge_across_snapshots
shows both patterns).
"""

from __future__ import annotations

import struct
from typing import Iterator, Optional, Sequence

import numpy as np

_DEFAULT_COMPRESSION = 200.0


def _k1(q: np.ndarray, delta: float) -> np.ndarray:
    return (delta / (2.0 * np.pi)) * np.arcsin(2.0 * np.clip(q, 0.0, 1.0) - 1.0)


def _k1_inv(k: np.ndarray, delta: float) -> np.ndarray:
    return (np.sin(2.0 * np.pi * k / delta) + 1.0) / 2.0


def compress(
    means: np.ndarray, weights: np.ndarray, delta: float = _DEFAULT_COMPRESSION
) -> tuple[np.ndarray, np.ndarray]:
    """One merging pass: centroids sorted by mean are greedily coalesced
    while the cumulative weight stays within one k1 scale-function step
    (the t-digest size invariant). Deterministic for a given input."""
    if means.size == 0:
        return means.astype(np.float64), weights.astype(np.float64)
    order = np.argsort(means, kind="stable")
    means = means[order].astype(np.float64)
    weights = weights[order].astype(np.float64)
    total = float(weights.sum())
    out_m: list[float] = []
    out_w: list[float] = []
    cur_m, cur_w = means[0], weights[0]
    cum = 0.0  # weight fully emitted so far
    q_limit = float(_k1_inv(_k1(np.array(0.0), delta) + 1.0, delta)) * total
    for m, w in zip(means[1:], weights[1:]):
        if cum + cur_w + w <= q_limit:
            # absorb: weighted mean update keeps the centroid exact
            cur_m += (m - cur_m) * (w / (cur_w + w))
            cur_w += w
        else:
            out_m.append(cur_m)
            out_w.append(cur_w)
            cum += cur_w
            q_limit = (
                float(_k1_inv(_k1(np.array(cum / total), delta) + 1.0, delta)) * total
            )
            cur_m, cur_w = m, w
    out_m.append(cur_m)
    out_w.append(cur_w)
    return np.asarray(out_m), np.asarray(out_w)


def digest_of(values: np.ndarray, delta: float = _DEFAULT_COMPRESSION) -> bytes:
    """Build a serialized digest from raw values (drops NaN).

    Fully vectorized (no per-value Python loop): sorted values are
    segmented by ``floor(k1(q_mid))`` — each scale-function unit step
    becomes one centroid — and segment means/weights come from
    ``np.add.reduceat``. This satisfies the t-digest size invariant by
    construction; the sequential greedy pass (:func:`compress`) is only
    used when merging already-small centroid lists."""
    v = np.asarray(values, dtype=np.float64)
    # non-finite values are excluded, not just NaN: one +/-inf poisons its
    # segment's mean (and inf - inf in a later compress turns centroids
    # NaN, scrambling the sort and every interior quantile) — a sketch of
    # the finite distribution is the only meaningful answer
    v = v[np.isfinite(v)]
    if v.size == 0:
        return serialize(np.array([]), np.array([]))
    v = np.sort(v)
    n = v.size
    q_mid = (np.arange(n) + 0.5) / n
    key = np.floor(_k1(q_mid, delta)).astype(np.int64)
    # segment starts where the bucket id changes
    starts = np.flatnonzero(np.r_[True, key[1:] != key[:-1]])
    sums = np.add.reduceat(v, starts)
    counts = np.diff(np.r_[starts, n]).astype(np.float64)
    return serialize(sums / counts, counts)


def serialize(means: np.ndarray, weights: np.ndarray) -> bytes:
    return (
        struct.pack("<I", means.size)
        + means.astype("<f8").tobytes()
        + weights.astype("<f8").tobytes()
    )


def deserialize(blob: bytes) -> tuple[np.ndarray, np.ndarray]:
    if len(blob) < 4:
        raise ValueError("corrupt t-digest blob")
    (n,) = struct.unpack("<I", blob[:4])
    body = np.frombuffer(blob[4:], dtype="<f8")
    if body.size != 2 * n:
        raise ValueError("corrupt t-digest blob")
    return body[:n].copy(), body[n:].copy()


def merge_blobs(
    blobs: Sequence[bytes], delta: float = _DEFAULT_COMPRESSION
) -> bytes:
    """Merge serialized digests: concatenate centroids, re-compress.
    Associative and order-insensitive up to compression (the t-digest
    merge algebra)."""
    ms, ws = [], []
    for b in blobs:
        m, w = deserialize(b)
        ms.append(m)
        ws.append(w)
    if not ms:
        return serialize(np.array([]), np.array([]))
    m, w = compress(np.concatenate(ms), np.concatenate(ws), delta)
    return serialize(m, w)


def quantile(blob: bytes, q: float) -> float:
    """Estimate a quantile by linear interpolation between centroid means
    at their midpoint cumulative weights (the standard t-digest query)."""
    means, weights = deserialize(blob)
    if means.size == 0:
        return float("nan")
    if means.size == 1:
        return float(means[0])
    total = weights.sum()
    target = q * total
    # midpoint cumulative weight of each centroid
    cum = np.cumsum(weights) - weights / 2.0
    if target <= cum[0]:
        return float(means[0])
    if target >= cum[-1]:
        return float(means[-1])
    i = int(np.searchsorted(cum, target) - 1)
    span = cum[i + 1] - cum[i]
    frac = 0.0 if span <= 0 else (target - cum[i]) / span
    return float(means[i] + frac * (means[i + 1] - means[i]))


# ---------------------------------------------------------------------------
# Spark integration
# ---------------------------------------------------------------------------


def tdigest_sketches(
    df,
    columns: Sequence[str],
    partition_col: Optional[str] = None,
    compression: float = _DEFAULT_COMPRESSION,
):
    """Per-(partition, column) t-digest rows:
    ``partition, column, sketch binary, n_values long``.

    Stage 1 (``mapInPandas``): one digest per Arrow batch per column —
    memory is bounded by the Arrow batch size regardless of group skew
    (never collects a whole partition). Stage 2 (``applyInPandas`` over
    the digest rows): merges the ~3 KB blobs per key. The table is
    scanned once; the shuffle moves O(batches) sketch rows, not data.
    """
    import pandas as pd
    from pyspark.sql import functions as F

    cols = list(columns)
    pcol = partition_col
    sel = [F.col(c).cast("double").alias(c) for c in cols]
    if pcol:
        sel.insert(0, F.col(pcol).cast("string").alias("partition"))
    src = df.select(*sel)

    def batch_digests(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        for b in batches:
            parts = (
                b.groupby("partition", dropna=False)
                if pcol
                else [("", b)]
            )
            rows = []
            for pkey, grp in parts:
                for c in cols:
                    v = grp[c].to_numpy(dtype=np.float64)
                    # the digest keeps only finite values; count the same set
                    v = v[np.isfinite(v)]
                    if v.size == 0:
                        continue
                    rows.append(
                        (
                            str(pkey),
                            c,
                            digest_of(v, compression),
                            int(v.size),
                        )
                    )
            yield pd.DataFrame(
                rows, columns=["partition", "column", "sketch", "n_values"]
            )

    stage1 = src.mapInPandas(
        batch_digests,
        schema="partition string, column string, sketch binary, n_values long",
    )

    return _merge_digest_rows(stage1, ["partition", "column"], compression)


def merge_tdigests(sketches, compression: float = _DEFAULT_COMPRESSION):
    """Collapse per-partition digest rows to one digest per column
    (the resume/merge algebra — same role as ``merge_hll_sketches``)."""
    return _merge_digest_rows(sketches, ["column"], compression)


def _merge_digest_rows(sketches, keys: Sequence[str], compression: float):
    """One ``*keys, sketch, n_values`` row per ``keys`` group (string key
    columns): the group's blobs merged by :func:`merge_blobs`, its value
    counts summed."""
    import pandas as pd

    def reduce_digests(key, pdf):
        return pd.DataFrame(
            {
                **{k: [v] for k, v in zip(keys, key)},
                "sketch": [merge_blobs(list(pdf["sketch"]), compression)],
                "n_values": [int(pdf["n_values"].sum())],
            }
        )

    schema = "".join(f"{k} string, " for k in keys) + "sketch binary, n_values long"
    return sketches.groupBy(*keys).applyInPandas(reduce_digests, schema=schema)


def tdigest_quantiles(merged, probs: Sequence[float]):
    """``column, p, value`` rows from merged digest rows (tiny input —
    one row per column)."""
    import pandas as pd

    plist = [float(p) for p in probs]

    def to_quantiles(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        for b in batches:
            rows = []
            for _, r in b.iterrows():
                for p in plist:
                    rows.append((r["column"], p, quantile(r["sketch"], p)))
            yield pd.DataFrame(rows, columns=["column", "p", "value"])

    return merged.mapInPandas(to_quantiles, schema="column string, p double, value double")


__all__ = [
    "compress",
    "digest_of",
    "serialize",
    "deserialize",
    "merge_blobs",
    "quantile",
    "tdigest_sketches",
    "merge_tdigests",
    "tdigest_quantiles",
]
