"""Multimodal payload checks: decode over Arrow batches.

BASELINE.json input_hint: "Image payload checks decode bytes in Arrow-batched
UDFs with a per-row invariant of decoded-pixel allclose (PSNR≥40dB for
lossy) and caption equality" — and "no per-row Python" means no row-at-a-time
Python UDFs: every payload operator runs inside one ``mapInArrow`` over
Arrow batches; numpy does the pixel math vectorized per image.

Two helpers own the Python (Arrow) boundary:
- :func:`_check_images` — the image invariants, shared by the Arrow
  channel (:func:`image_checks`) and the direct read
  (:func:`image_checks_files`);
- :func:`_map_payloads` — every other payload operator (profile, PSNR,
  features/quality, resize, video frames, audio features) is a small
  per-row function over a zero-copy payload slice.
``caption_equality_violations`` has no payload and stays a vectorized
pandas compare.

The byte→pixel codecs live in sources/codecs.py (PNG subset, real T.81
JPEG, the FDCT lossy codec), sources/avi.py (MJPEG AVI) and
sources/wav.py (RIFF/WAVE), all pure numpy.

Scale notes:
- batch size is bounded by ``spark.sql.execution.arrow.maxRecordsPerBatch``
  (set in session.py) so multi-MB payload batches can't blow executor
  memory (SURVEY.md §4.3 item 4).
- only the columns the check needs are selected BEFORE the UDF so the scan
  prunes everything else; the 100 TB ``bytes`` column is read exactly once.
"""

from __future__ import annotations

from typing import Iterator, Optional, Sequence

import numpy as np
import pandas as pd
import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import StructType

from jsonschema_validator_spark.session import arrow_rows


def _iter_binary_rows(table, bytes_col):
    """Yield (row_index, memoryview_or_None) over a pyarrow table column —
    zero-copy slices of the value buffer. Nulls come from the validity
    bitmap, so a chunk with a few null payloads (an expected violation
    class) still serves every NON-null row zero-copy."""
    idx = 0
    for chunk in table.column(bytes_col).chunks:
        if not pa.types.is_binary(chunk.type) and not pa.types.is_large_binary(
            chunk.type
        ):
            raise TypeError(f"expected (large_)binary column, got {chunk.type}")
        valid = (
            chunk.is_valid().to_numpy(zero_copy_only=False)
            if chunk.null_count
            else None
        )
        bufs = chunk.buffers()
        # offset dtype depends on the arrow type (binary=int32,
        # large_binary=int64), and a sliced chunk's value offsets start
        # at chunk.offset — index from there, not from 0
        off_dtype = np.int64 if pa.types.is_large_binary(chunk.type) else np.int32
        off = np.frombuffer(
            bufs[1], dtype=off_dtype, count=chunk.offset + len(chunk) + 1
        )[chunk.offset :]
        # cast to unsigned so slices compare equal to bytes literals
        # (pyarrow buffers expose signed 'b'-format memoryviews); an
        # all-null/all-empty chunk may carry no value buffer at all
        mv = memoryview(bufs[2]).cast("B") if bufs[2] is not None else memoryview(b"")
        for i in range(len(chunk)):
            if valid is not None and not valid[i]:
                yield idx + i, None
            else:
                yield idx + i, mv[off[i] : off[i + 1]]
        idx += len(chunk)


def _map_payloads(df: DataFrame, cols: Sequence[str], ddl: str, per_row) -> DataFrame:
    """Run ``per_row(key, payload, *extras)`` over ``df``'s ``cols`` (key,
    binary payload, then extras) in one ``mapInArrow``. ``payload`` is a
    zero-copy memoryview slice, or None for a null; each call returns zero
    or more output tuples, and each input batch becomes one RecordBatch
    typed exactly by ``ddl``."""
    # parsed here on the driver: StructType.fromDDL needs the JVM
    schema = to_arrow_schema(StructType.fromDDL(ddl))

    def run(batches):
        for b in batches:
            t = pa.Table.from_batches([b])
            keys, *extras = (t.column(i).to_pylist() for i in range(t.num_columns) if i != 1)
            rows = []
            for i, payload in _iter_binary_rows(t, 1):
                rows.extend(per_row(keys[i], payload, *(e[i] for e in extras)))
            yield arrow_rows(rows, schema)

    return df.select(*cols).mapInArrow(run, ddl)


DECODE_SCHEMA = (
    "image_id string, decode_ok boolean, dec_w int, dec_h int, "
    "pixel_checksum bigint, decode_error string"
)


def decode_profile(df: DataFrame, id_col: str = "image_id", bytes_col: str = "bytes") -> DataFrame:
    """Decode every payload; emit per-row decode facts.

    Output: ``image_id, decode_ok, dec_w, dec_h, pixel_checksum,
    decode_error``. pixel_checksum is a deterministic content hash of the
    decoded pixels (sum of a fixed linear hash), usable for allclose-style
    regression comparisons without shipping pixels around.
    """
    from jsonschema_validator_spark.sources.codecs import decode_image

    def row(iid, data):
        try:
            px = decode_image(data)
            h, w, _ = px.shape
            # exact Python-int math: np.uint64 * python-int silently
            # promotes to float64 on NumPy 1.x, losing low bits of the hash
            # (and NumPy 2 computes exactly — the same image would checksum
            # differently per env)
            csum = int(px.astype(np.uint64).sum()) * 2654435761 % (1 << 63)
        except Exception as exc:  # noqa: BLE001 - decode must never kill the job
            return [(iid, False, None, None, None, str(exc)[:200])]
        return [(iid, True, w, h, csum, None)]

    return _map_payloads(df, [id_col, bytes_col], DECODE_SCHEMA, row)


# Both decode paths emit the same rows: one violation row per bad payload
# in the engine's ``(path, message, value, tag, param)`` shape, plus one
# COUNT row per decoded table (every column null but ``n_rows``, the rows
# it checked). The count rides the decode pass, so a verdict's
# ``n_checked`` needs no second scan and no job at plan build.
CHECKS_SCHEMA = (
    "image_id string, path string, message string, value string, "
    "tag string, param string, n_rows bigint"
)
_CHECKS_ARROW = pa.schema(
    [(c, pa.string()) for c in ("image_id", "path", "message", "value", "tag", "param")]
    + [("n_rows", pa.int64())]
)


def _check_images(table, id_col: str, bytes_col: str, w_col: str, h_col: str):
    """Check every payload of one Arrow table; return its violation rows
    and trailing count row as one RecordBatch (``CHECKS_SCHEMA``).

    - tag ``required``: payload is null (rule.go:100 — a missing payload is
      a `required` violation, not a decode failure)
    - tag ``decode``: payload fails to decode (truncated/corrupt)
    - tag ``dims``: decoded (w, h) != declared (w, h); skipped when a
      declared dim is null
    """
    from jsonschema_validator_spark.sources.codecs import decode_image

    ws = table.column(w_col).to_numpy(zero_copy_only=False)
    hs = table.column(h_col).to_numpy(zero_copy_only=False)
    idx, tags, msgs = [], [], []
    for i, mv in _iter_binary_rows(table, bytes_col):
        if mv is None:
            tag, msg = "required", "required property 'bytes' is missing"
        else:
            try:
                h, w, _ = decode_image(mv).shape
            except Exception as exc:  # noqa: BLE001 - a bad payload is a violation row, never a failed job
                tag, msg = "decode", f"image payload failed to decode: {str(exc)[:200]}"
            else:
                dw, dh = ws[i], hs[i]
                if np.isnan(dw) or np.isnan(dh) or (int(dw) == w and int(dh) == h):
                    continue
                tag = "dims"
                msg = f"decoded dimensions {w}x{h} do not match declared {int(dw)}x{int(dh)}"
        idx.append(i)
        tags.append(tag)
        msgs.append(msg)
    k = len(idx)
    ids = table.column(id_col).take(pa.array(idx, pa.int64())).to_pylist()
    return pa.RecordBatch.from_pydict(
        {
            "image_id": ids + [None],
            "path": ["$.bytes"] * k + [None],
            "message": msgs + [None],
            "value": [None] * (k + 1),
            "tag": tags + [None],
            "param": [""] * k + [None],
            "n_rows": [None] * k + [table.num_rows],
        },
        schema=_CHECKS_ARROW,
    )


def violation_rows(checks: DataFrame) -> DataFrame:
    """The violation rows of a ``CHECKS_SCHEMA`` frame (count rows dropped)."""
    return checks.where(F.col("tag").isNotNull()).drop("n_rows")


def image_checks(
    df: DataFrame,
    id_col: str = "image_id",
    bytes_col: str = "bytes",
    w_col: str = "w",
    h_col: str = "h",
) -> DataFrame:
    """Decode every payload of ``df`` (Arrow channel: the JVM scan ships the
    pruned columns to the Python task) → ``CHECKS_SCHEMA`` rows, one count
    row per Arrow batch."""
    sel = df.select(
        F.col(id_col).alias("image_id"),
        F.col(bytes_col).alias("bytes"),
        F.col(w_col).cast("int").alias("w"),
        F.col(h_col).cast("int").alias("h"),
    )

    def run(batches):
        for b in batches:
            yield _check_images(pa.Table.from_batches([b]), "image_id", "bytes", "w", "h")

    return sel.mapInArrow(run, schema=CHECKS_SCHEMA)


def image_invariant_violations(
    df: DataFrame,
    id_col: str = "image_id",
    bytes_col: str = "bytes",
    w_col: str = "w",
    h_col: str = "h",
) -> DataFrame:
    """Violation rows for the image invariants (tags ``required``,
    ``decode``, ``dims``; see :func:`image_checks`) in the engine's
    ``(path, message, value, tag, param)`` shape, keyed by ``image_id``."""
    return violation_rows(image_checks(df, id_col, bytes_col, w_col, h_col))


# ---------------------------------------------------------------------------
# direct-read decode: the scale path for wide binary columns
# ---------------------------------------------------------------------------
#
# Shipping a multi-KB binary column from the JVM scan through the Arrow
# socket into Python costs more than the decode itself (measured here:
# a pure passthrough of the bytes column runs ~3x slower than reading the
# same files directly with pyarrow C++ inside the Python task). So the
# scale path distributes FILES as work units: each task reads its parquet
# file(s) with pyarrow (column-pruned to exactly what the check needs) and
# decodes zero-copy buffer slices. This is the standard architecture of
# production multimodal pipelines (the bytes never round-trip through the
# JVM), and on a cluster the same pattern reads from the object store.
#
# The file list is the DataFrame's own (``df.inputFiles()``), so the check
# covers exactly the rows of the DataFrame it is given; callers use this
# path only when that DataFrame is a plain column-pruned scan of the files
# (``pruned_scan_files``), and fall back to the Arrow channel otherwise.
# The units are indexed by ``spark.range(0, n_units, 1, n_units)`` — one
# JVM-generated row per task, the unit's file list captured in the closure
# — so no Python-side table and no round-robin Exchange runs before the
# decode.


def pruned_scan_files(df: DataFrame, columns: Sequence[str]) -> Optional[list]:
    """``df.inputFiles()`` when ``df`` is exactly its parquet files' rows —
    its optimized plan is a parquet scan, at most under a projection of
    plain columns, and ``columns`` are columns of ``df`` stored in those
    files (not partition columns) — else None. It only inspects the plan;
    no Spark job runs."""
    if not set(columns) <= set(df.columns):
        return None
    plan = df._jdf.queryExecution().optimizedPlan()
    if plan.nodeName() == "Project":
        exprs = plan.projectList()
        if any(
            exprs.apply(i).getClass().getSimpleName() != "AttributeReference"
            for i in range(exprs.size())
        ):
            return None
        plan = plan.child()
    if plan.getClass().getSimpleName() != "LogicalRelation":
        return None
    rel = plan.relation()
    if (
        rel.getClass().getSimpleName() != "HadoopFsRelation"
        or rel.fileFormat().toString() != "Parquet"
        or not set(columns) <= set(rel.dataSchema().fieldNames())
    ):
        return None
    return sorted(df.inputFiles())


def image_checks_files(
    spark,
    files: Sequence[str],
    id_col: str = "image_id",
    bytes_col: str = "bytes",
    w_col: str = "w",
    h_col: str = "h",
    files_per_task: int = 1,
) -> DataFrame:
    """:func:`image_checks` over parquet ``files`` read directly with
    pyarrow in the Python tasks (see the direct-read note above); one
    count row per file."""
    import pyarrow.parquet as pq

    units = [list(files[i : i + files_per_task]) for i in range(0, len(files), files_per_task)]
    cols = [id_col, bytes_col, w_col, h_col]

    def run(batches):
        for b in batches:
            for u in b.column("id").to_pylist():
                for f in units[u]:
                    t = pq.read_table(f, columns=cols, use_threads=False)
                    yield _check_images(t, id_col, bytes_col, w_col, h_col)

    return spark.range(0, len(units), 1, max(len(units), 1)).mapInArrow(
        run, schema=CHECKS_SCHEMA
    )


def caption_equality_violations(
    df: DataFrame,
    reference_caption_fn,
    caption_col: str = "caption",
    id_col: str = "image_id",
    index_col: str = "idx",
) -> DataFrame:
    """Caption-equality invariant (BASELINE.json input_hint: "caption
    equality against the reference"): rows whose stored caption differs
    from the reference-regenerated caption for that row index.

    ``reference_caption_fn(idx) -> str`` is the ground-truth caption
    function (tests use the synth generator's pure row function). Runs in
    ``mapInPandas`` Arrow batches — the reference fn is Python, so this is
    the UDF-shaped check; output is violation rows
    ``(image_id, path, message, value, tag, param)``.
    """

    sel = df.select(
        F.col(id_col).alias("image_id"),
        F.col(caption_col).alias("_cap"),
        F.col(index_col).alias("_idx"),
    )

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for b in batches:
            # vectorized compare: only the reference fn runs per row
            ref = b["_idx"].astype("int64").map(reference_caption_fn)
            missing = b["_cap"].isna()
            bad = missing | (b["_cap"] != ref)
            v = b[bad]
            out = pd.DataFrame(
                {
                    "image_id": v["image_id"],
                    "path": "$.caption",
                    "message": np.where(
                        missing[bad],
                        "caption is missing",
                        "caption does not match reference",
                    ),
                    "value": v["_cap"].where(~missing[bad], None),
                    "tag": "caption_equality",
                    "param": "",
                }
            )
            yield out

    schema = (
        "image_id string, path string, message string, value string, "
        "tag string, param string"
    )
    return sel.mapInPandas(run, schema=schema)


def psnr_vs_reference(
    df: DataFrame,
    reference_pixels_fn,
    id_col: str = "image_id",
    bytes_col: str = "bytes",
    index_col: Optional[str] = None,
) -> DataFrame:
    """PSNR of each decoded payload against reference pixels.

    ``reference_pixels_fn(idx) -> np.ndarray`` regenerates the ground-truth
    pixels for a row (tests use the synth generator's pure row function).
    Output: ``image_id string, psnr double`` — the ≥40 dB / allclose
    invariant check from BASELINE.json (caption equality is the separate
    :func:`caption_equality_violations` operator). A lossless match scores
    1e9, a shape mismatch -1, and a missing or undecodable payload null.

    ``index_col`` is REQUIRED: without a per-row index the Arrow batch
    offsets would restart at 0 per partition and rows would be compared
    against the wrong ground truth on multi-batch input.
    """
    if not index_col:
        raise ValueError(
            "psnr_vs_reference requires index_col: reference_pixels_fn is "
            "keyed by a global row index, and Arrow batch offsets are not "
            "globally meaningful"
        )
    from jsonschema_validator_spark.sources.codecs import decode_image, psnr

    def row(iid, data, idx):
        try:
            px = decode_image(data)
            ref = reference_pixels_fn(int(idx))
        except ValueError:
            # null, not NaN: mapInArrow keeps a NaN as a value
            return [(iid, None)]
        if ref.shape != px.shape:
            return [(iid, -1.0)]
        p = psnr(ref, px)
        return [(iid, 1e9 if p == float("inf") else p)]

    return _map_payloads(
        df, [id_col, bytes_col, index_col], "image_id string, psnr double", row
    )


_FEATURES_SCHEMA = (
    "image_id string, f_w int, f_h int, mean_r double, mean_g double, "
    "mean_b double, std_gray double, brightness double, edge_energy double, "
    "sharpness double, entropy double, clip_low_frac double, "
    "clip_high_frac double, colorfulness double, dynamic_range double"
)
_QUALITY_COLS = [
    "sharpness", "entropy", "clip_low_frac", "clip_high_frac",
    "colorfulness", "dynamic_range",
]


def image_features(
    df: DataFrame, id_col: str = "image_id", bytes_col: str = "bytes"
) -> DataFrame:
    """Feature extraction over decoded pixels (the feature-extract stage of
    the brief's multimodal pipeline): per image, channel means, grayscale
    std, brightness and a gradient-energy edge score — all numpy over the
    Arrow batch, values rounded to 1e-6 for cross-engine comparability —
    followed by the six :func:`image_quality_metrics` columns from the same
    decode. Null and undecodable payloads are dropped (decode violations
    are :func:`image_invariant_violations`'s job, not this operator's).

    Output: ``image_id, f_w, f_h, mean_r, mean_g, mean_b, std_gray,
    brightness, edge_energy, sharpness, entropy, clip_low_frac,
    clip_high_frac, colorfulness, dynamic_range``.
    """
    from jsonschema_validator_spark.sources.codecs import decode_image

    def row(iid, data):
        try:
            px = decode_image(data).astype(np.float64)
        except ValueError:
            return []
        h, w = px.shape[:2]
        gray = px.mean(axis=2)
        gx = np.abs(np.diff(gray, axis=1)).mean() if w > 1 else 0.0
        gy = np.abs(np.diff(gray, axis=0)).mean() if h > 1 else 0.0
        return [
            (
                iid,
                int(w),
                int(h),
                round(float(px[:, :, 0].mean()), 6),
                round(float(px[:, :, 1].mean()), 6),
                round(float(px[:, :, 2].mean()), 6),
                round(float(gray.std()), 6),
                round(float(gray.mean() / 255.0), 6),
                round(float(gx + gy), 6),
                *_quality_stats(px, gray),
            )
        ]

    return _map_payloads(df, [id_col, bytes_col], _FEATURES_SCHEMA, row)


def resize_images(
    df: DataFrame,
    out_w: int,
    out_h: int,
    id_col: str = "image_id",
    bytes_col: str = "bytes",
) -> DataFrame:
    """Nearest-neighbor resize, re-encoded as PNG (the resize stage):
    ``image_id, bytes, w, h``. Real resampling (integer index sampling —
    pure numpy), real PNG output any reader can decode. Null and
    undecodable payloads are dropped.
    """
    from jsonschema_validator_spark.sources.codecs import decode_image, encode_png

    def row(iid, data):
        try:
            px = decode_image(data)
        except ValueError:
            return []
        h, w = px.shape[:2]
        ys = (np.arange(out_h) * h) // out_h
        xs = (np.arange(out_w) * w) // out_w
        return [(iid, encode_png(px[ys][:, xs]), out_w, out_h)]

    return _map_payloads(
        df, [id_col, bytes_col], "image_id string, bytes binary, w int, h int", row
    )


def sample_video_frames(
    df: DataFrame,
    every_n: int = 10,
    max_frames: int = 4,
    id_col: str = "video_id",
    bytes_col: str = "bytes",
) -> DataFrame:
    """Video frame sampling (the frame-sample stage): ``video_id,
    frame_idx, frame_png binary, w, h`` — every ``every_n``-th decoded
    frame (``frame_idx`` is the true stream index), at most ``max_frames``
    per video, each sampled frame re-encoded as PNG.

    Decodes Motion-JPEG AVI bytes via the pure-numpy container walk +
    T.81 JPEG decoder in :mod:`sources.avi` — no libav/ffmpeg. Null
    payloads are dropped; any other bytes (H.264, VP9, ...) raise
    ``ValueError`` inside the task (quarantine upstream with
    :func:`decode_profile`-style checks if the corpus is mixed).
    """
    from jsonschema_validator_spark.sources.avi import decode_avi_frames
    from jsonschema_validator_spark.sources.codecs import encode_png

    def row(vid, data):
        if data is None:
            return []
        frames = decode_avi_frames(data)
        return [
            (vid, idx, encode_png(frames[idx]), frames[idx].shape[1], frames[idx].shape[0])
            for idx in range(0, len(frames), every_n)[:max_frames]
        ]

    return _map_payloads(
        df,
        [id_col, bytes_col],
        "video_id string, frame_idx int, frame_png binary, w int, h int",
        row,
    )


def audio_features(
    df: DataFrame, id_col: str = "audio_id", bytes_col: str = "bytes"
) -> DataFrame:
    """Audio feature extraction (the audio leg of the brief's multimodal
    triple): ``audio_id, sample_rate, n_samples, duration_sec, rms, peak,
    zero_crossing_rate`` — numpy over decoded PCM inside Arrow batches.

    Decodes RIFF/WAVE bytes via the pure-numpy parser in
    :mod:`sources.wav` (PCM u8/s16/s24/s32 + IEEE float, any channel
    count, mixed to mono). Null payloads are dropped; any other bytes
    (mp3, opus, ...) raise ``ValueError`` inside the task.
    """
    from jsonschema_validator_spark.sources.wav import decode_wav_mono

    def row(aid, data):
        if data is None:
            return []
        pcm, sample_rate = decode_wav_mono(data)
        pcm = np.asarray(pcm, dtype=np.float64)
        n = pcm.size
        zc = float((np.signbit(pcm[1:]) != np.signbit(pcm[:-1])).mean()) if n > 1 else 0.0
        return [
            (
                aid,
                int(sample_rate),
                int(n),
                round(n / sample_rate, 6),
                # n == 0 (valid WAV, empty data chunk): mean of an empty
                # array is NaN — guard like peak/zc so the row stays finite
                # and aggregable
                round(float(np.sqrt(np.mean(pcm**2))) if n else 0.0, 6),
                round(float(np.abs(pcm).max()) if n else 0.0, 6),
                round(zc, 6),
            )
        ]

    return _map_payloads(
        df,
        [id_col, bytes_col],
        "audio_id string, sample_rate int, n_samples long, duration_sec double, "
        "rms double, peak double, zero_crossing_rate double",
        row,
    )


def _quality_stats(px: np.ndarray, gray: np.ndarray) -> tuple:
    """(sharpness, entropy, clip_low, clip_high, colorfulness,
    dynamic_range) for float64 pixels — computed in image_features'
    decode, which image_quality_metrics projects (the oracle mirrors this
    exact operation order)."""
    h, w = gray.shape
    if h >= 3 and w >= 3:
        lap = (
            -4.0 * gray[1:-1, 1:-1]
            + gray[:-2, 1:-1]
            + gray[2:, 1:-1]
            + gray[1:-1, :-2]
            + gray[1:-1, 2:]
        )
        sharpness = float(lap.var())
    else:
        sharpness = 0.0
    hist, _ = np.histogram(gray, bins=256, range=(0.0, 256.0))
    p = hist[hist > 0] / gray.size
    entropy = float(-(p * np.log2(p)).sum())
    clip_low = float((gray <= 0.0).mean())
    clip_high = float((gray >= 255.0).mean())
    r, g, bl = px[:, :, 0], px[:, :, 1], px[:, :, 2]
    rg = r - g
    yb = 0.5 * (r + g) - bl
    colorfulness = float(
        np.sqrt(rg.std() ** 2 + yb.std() ** 2)
    ) + 0.3 * float(np.sqrt(rg.mean() ** 2 + yb.mean() ** 2))
    return (
        round(sharpness, 6),
        round(entropy, 6),
        round(clip_low, 6),
        round(clip_high, 6),
        round(colorfulness, 6),
        round(float(gray.max() - gray.min()), 6),
    )


def image_quality_metrics(
    df: DataFrame, id_col: str = "image_id", bytes_col: str = "bytes"
) -> DataFrame:
    """Curation-oriented per-image quality metrics over decoded pixels —
    the image-side twin of text.quality_struct: signals that GATE images
    for a training set rather than describe them (that is
    :func:`image_features`' job).

    Output per decodable image:
    - ``sharpness``: variance of the 3x3 Laplacian of the grayscale —
      the standard blur detector (flat or defocused images ~ 0).
    - ``entropy``: Shannon entropy of the 256-bin grayscale histogram in
      bits (0 for a constant image, ~8 for uniform noise).
    - ``clip_low_frac`` / ``clip_high_frac``: fraction of pixels at the
      0 / 255 rails — under/over-exposure detectors.
    - ``colorfulness``: Hasler–Süsstrunk metric (std/mean magnitude of
      the rg/yb opponent axes); 0 for pure grayscale content.
    - ``dynamic_range``: (max - min) of the grayscale, 0..255.

    A projection of :func:`image_features` (one decode pass, the same
    values): null and undecodable payloads are dropped, a pure map stage
    with no shuffle at any scale.
    """
    return image_features(df, id_col, bytes_col).select("image_id", *_QUALITY_COLS)


def image_quality_gate(
    df: DataFrame,
    id_col: str = "image_id",
    bytes_col: str = "bytes",
    min_sharpness: float = 10.0,
    min_entropy: float = 1.0,
    max_clip_frac: float = 0.5,
    min_dynamic_range: float = 16.0,
) -> DataFrame:
    """Keep/drop verdict per image from :func:`image_quality_metrics`,
    with per-signal flag columns (the text curation funnel's flag-column
    design: one annotated projection, stats derivable without re-scans).

    Output: ``image_id, <metrics...>, flag_blurry, flag_low_entropy,
    flag_clipped, flag_flat, keep`` — ``keep`` is true iff no flag fires.
    Pure Column algebra over the metrics frame (one decode pass total).
    """
    m = image_quality_metrics(df, id_col=id_col, bytes_col=bytes_col)
    flag_blurry = F.col("sharpness") < min_sharpness
    flag_low_entropy = F.col("entropy") < min_entropy
    flag_clipped = (
        F.greatest(F.col("clip_low_frac"), F.col("clip_high_frac")) > max_clip_frac
    )
    flag_flat = F.col("dynamic_range") < min_dynamic_range
    return m.select(
        "*",
        flag_blurry.alias("flag_blurry"),
        flag_low_entropy.alias("flag_low_entropy"),
        flag_clipped.alias("flag_clipped"),
        flag_flat.alias("flag_flat"),
        (~(flag_blurry | flag_low_entropy | flag_clipped | flag_flat)).alias("keep"),
    )
