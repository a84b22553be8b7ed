"""Deterministic synthetic image+caption table (FIXTURES.md §1-3).

Every row is a pure function of ``(seed, i)`` — reproducible, resumable,
and violation injection happens at EXACT rates via modular schedules so
tests assert exact counts (FIXTURES.md preamble).

Schema matches BASELINE.json input_hint:
``(image_id string, bytes binary, w int, h int, fmt string,
caption string, phash bigint)``.

Generation is distributed: ``spark.range(n)`` → ``mapInPandas`` with the
same pure row function — Arrow batches, linear scale-out, no driver-side
materialization. ``generate_pandas`` is the small-scale in-memory twin used
by unit tests (same function of (seed, i), so outputs are identical).
"""

from __future__ import annotations

import hashlib
from typing import Iterator, Optional

import numpy as np
import pandas as pd

from jsonschema_validator_spark.sources.codecs import encode_fdct, encode_png

SCHEMA = (
    "image_id string, bytes binary, w int, h int, fmt string, "
    "caption string, phash bigint"
)

HOT_PHASHES = [0x1111, 0x2222, 0x3333, 0x4444, 0x5555, 0x6666, 0x7777, 0x8888]

_WORDS = (
    "spark table image caption pixel tensor shard batch vector scale "
    "filter window merge decode sample corpus quality drift bucket hash"
).split()

# exact injection schedules (i mod M == r) — FIXTURES.md §1 rates
_DUP_ID = (200, 7)  # 0.5 % duplicated ids
_BAD_ID = (1000, 13)  # 0.1 % malformed ids
_TRUNC_BYTES = (500, 11)  # 0.2 % truncated payloads
_DIM_MISMATCH = (500, 211)  # 0.2 % decoded dims != (w, h)
_W_RANGE = (1000, 17)  # ~0.3 %: three residues out of range
_WH_NULL = (1000, 23)  # 0.1 % null dims
_FMT_BAD = (200, 3)  # 0.5 % fmt outside enum
_CAP_LONG = (250, 5)  # 0.4 % caption > 200 chars
_CAP_EMPTY = (500, 9)  # 0.2 % empty caption
_CAP_NULL = (1000, 21)  # 0.1 % null caption
_PHASH_HOT_MOD = 20  # 5 % of rows share one of 8 hot phashes
_PHASH_DUP = (100, 50)  # 1 % duplicated non-hot phash


def _hit(i: int, rule: tuple[int, int]) -> bool:
    return i % rule[0] == rule[1]


def _h64(seed: int, i: int, salt: str) -> int:
    d = hashlib.blake2b(f"{seed}:{i}:{salt}".encode(), digest_size=8).digest()
    return int.from_bytes(d, "big", signed=True)


def _pixels(seed: int, i: int, w: int, h: int) -> np.ndarray:
    """Deterministic gradient+stripe pattern, vectorized."""
    base = _h64(seed, i, "px") & 0xFFFFFF
    r0, g0, b0 = (base >> 16) & 0xFF, (base >> 8) & 0xFF, base & 0xFF
    yy, xx = np.mgrid[0:h, 0:w]
    px = np.empty((h, w, 3), dtype=np.uint8)
    px[:, :, 0] = (r0 + xx * 3) % 256
    px[:, :, 1] = (g0 + yy * 5) % 256
    px[:, :, 2] = (b0 + ((xx + yy) % 7) * 11) % 256
    return px


def true_dims(seed: int, i: int) -> tuple[int, int]:
    """Log-skewed 16..64 at test scale (kept tiny so 10^5-row suites fly;
    the shape logic is size-independent)."""
    w = 16 + (_h64(seed, i, "w") % 49)
    h = 16 + (_h64(seed, i, "h") % 49)
    return int(w), int(h)


def true_fmt(seed: int, i: int) -> str:
    # weighted 60/35/5 png/jpeg/webp (FIXTURES.md)
    r = _h64(seed, i, "fmt") % 100
    return "png" if r < 60 else ("jpeg" if r < 95 else "webp")


def make_caption(seed: int, i: int) -> str:
    n = 5 + (_h64(seed, i, "clen") % 25)
    words = [_WORDS[_h64(seed, i, f"cw{j}") % len(_WORDS)] for j in range(n)]
    return " ".join(words)[:200].rstrip()  # FIXTURES.md: length 5..200


def make_row(seed: int, i: int) -> dict:
    """The pure row function — every violation is injected here, exactly."""
    w, h = true_dims(seed, i)
    fmt = true_fmt(seed, i)

    # ---- image_id -----------------------------------------------------
    if _hit(i, _BAD_ID):
        image_id = f"BAD {i}"  # space breaks the ^img-[0-9]{12}$ pattern
    elif _hit(i, _DUP_ID) and i > 0:
        image_id = f"img-{i - 1:012d}"  # duplicate of the previous row
    else:
        image_id = f"img-{i:012d}"

    # ---- payload -------------------------------------------------------
    enc_w, enc_h = (w + 3, h + 2) if _hit(i, _DIM_MISMATCH) else (w, h)
    px = _pixels(seed, i, enc_w, enc_h)
    # jpeg/webp payloads use the DCT-quantization lossy codec (real
    # frequency-domain loss; no libjpeg/libwebp container in this runtime)
    data = encode_png(px) if fmt == "png" else encode_fdct(px)
    if _hit(i, _TRUNC_BYTES):
        data = data[: max(4, len(data) // 3)]

    # ---- dims columns ----------------------------------------------------
    col_w: Optional[int] = w
    col_h: Optional[int] = h
    if i % _W_RANGE[0] in (_W_RANGE[1], _W_RANGE[1] + 1, _W_RANGE[1] + 2):
        col_w = 0 if i % 2 == 0 else 20000  # outside [1, 16384]
    if _hit(i, _WH_NULL):
        col_w, col_h = None, None

    # ---- fmt -------------------------------------------------------------
    col_fmt = "bmp" if _hit(i, _FMT_BAD) else fmt

    # ---- caption ---------------------------------------------------------
    caption: Optional[str] = make_caption(seed, i)
    if _hit(i, _CAP_LONG):
        caption = caption + " x" * ((210 - len(caption)) // 2 + 1)
    if _hit(i, _CAP_EMPTY):
        caption = ""
    if _hit(i, _CAP_NULL):
        caption = None

    # ---- phash -----------------------------------------------------------
    if i % _PHASH_HOT_MOD == 0:
        phash = HOT_PHASHES[(i // _PHASH_HOT_MOD) % len(HOT_PHASHES)]
    elif _hit(i, _PHASH_DUP) and i >= _PHASH_DUP[0]:
        phash = _h64(seed, i - _PHASH_DUP[0], "ph")
    else:
        phash = _h64(seed, i, "ph")

    return {
        "image_id": image_id,
        "bytes": bytearray(data),
        "w": col_w,
        "h": col_h,
        "fmt": col_fmt,
        "caption": caption,
        "phash": phash,
    }


def generate_pandas(n: int, seed: int = 42, start: int = 0) -> pd.DataFrame:
    rows = [make_row(seed, i) for i in range(start, start + n)]
    df = pd.DataFrame(rows)
    df["bytes"] = df["bytes"].map(bytes)
    df["w"] = df["w"].astype("Int32")
    df["h"] = df["h"].astype("Int32")
    return df


def generate_spark(spark, n: int, seed: int = 42, start: int = 0, partitions: int = 32):
    """Distributed generation: range → mapInPandas (Arrow batches)."""

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for b in batches:
            idx = b["id"].to_numpy()
            rows = [make_row(seed, int(i)) for i in idx]
            out = pd.DataFrame(rows)
            out["bytes"] = out["bytes"].map(bytes)
            yield out

    rng = spark.range(start, start + n, 1, partitions)
    return rng.mapInPandas(gen, schema=SCHEMA)


def dim_formats(spark):
    """The dimension table for referential checks (FIXTURES.md §2)."""
    from jsonschema_validator_spark.session import local_frame

    return local_frame(
        spark,
        [("png", 1 << 22, False), ("jpeg", 1 << 21, True), ("webp", 1 << 21, True)],
        "fmt string, max_bytes bigint, lossy boolean",
    )


def generate_drifted_spark(spark, n: int, seed: int = 43, partitions: int = 32):
    """Same schema, shifted distributions (FIXTURES.md §3) — different seed
    shifts phash/caption; dims shifted by halving."""
    from pyspark.sql import functions as F

    df = generate_spark(spark, n, seed=seed, partitions=partitions)
    return df.withColumn("w", (F.col("w") / 2).cast("int")).withColumn(
        "h", (F.col("h") / 2).cast("int")
    )


def make_audio_corpus(n: int = 24, seed: int = 42) -> list:
    """Deterministic WAV clip corpus — ``[(audio_id, wav_bytes), ...]``,
    a pure function of (seed, i): sine mixes sweeping rate (8/16/22.05
    kHz), bit depth / sample format (s16, u8, s24, float32), amplitude and
    duration; every 5th clip is stereo (right channel at half gain) to
    exercise the mono mixdown. Fixture INPUT for the audio_features_gate
    driver query — the features themselves are computed independently in
    oracle.audio_feature_rows."""
    from jsonschema_validator_spark.sources.wav import encode_wav

    rows = []
    for i in range(n):
        rate = (8000, 16000, 22050)[i % 3]
        bits, fmt = ((16, "pcm"), (8, "pcm"), (24, "pcm"), (32, "float"))[i % 4]
        f0 = 55.0 * (1 + (seed + i) % 24)
        amp = 0.1 + 0.8 * ((i * 37) % 100) / 100.0
        dur = 0.25 + (i % 4) * 0.25
        n_s = int(rate * dur)
        t = np.arange(n_s, dtype=np.float64) / rate
        wave = amp * np.sin(2 * np.pi * f0 * t) + 0.1 * amp * np.sin(
            2 * np.pi * 3 * f0 * t
        )
        if i % 5 == 0:
            wave = np.stack([wave, 0.5 * wave], axis=1)
        rows.append((f"clip_{i:04d}", encode_wav(wave, rate, bits=bits, fmt=fmt)))
    return rows


def make_video_corpus(
    n_videos: int = 6, n_frames: int = 9, seed: int = 42
) -> list:
    """Deterministic MJPEG-AVI corpus — ``[(video_id, avi_bytes), ...]``,
    a pure function of (seed, v, k): per-video dims from true_dims, frame
    pixels from the synth gradient generator at index v*1000+k, encoded at
    JPEG quality 98 (the >=40 dB regime for this pattern family — q95
    measures ~36 dB). video_id is the bare integer string so driver
    queries can pack (video, frame) into one int index."""
    from jsonschema_validator_spark.sources.avi import encode_mjpeg_avi

    rows = []
    for v in range(n_videos):
        w, h = true_dims(seed, v)
        frames = [_pixels(seed, v * 1000 + k, w, h) for k in range(n_frames)]
        rows.append((str(v), encode_mjpeg_avi(frames, fps=5, quality=98)))
    return rows
