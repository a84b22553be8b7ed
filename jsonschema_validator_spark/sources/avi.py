"""Motion-JPEG AVI container codec — the video leg of the multimodal
triple, real end-to-end in this sandbox: the container walk is pure
struct/numpy and each frame payload is a genuine ITU-T T.81 baseline JPEG
handled by :mod:`jsonschema_validator_spark.sources.jpeg` (from-scratch
encoder + decoder, no libav/ffmpeg needed).

:func:`~jsonschema_validator_spark.operators.multimodal.sample_video_frames`
decodes its payloads with :func:`decode_avi_frames` on executors (no
injected decoder); the reader takes ``bytes`` or a zero-copy memoryview.

Writer emits the minimal standard layout mainstream players accept:
``RIFF('AVI ' LIST('hdrl' avih LIST('strl' strh strf)) LIST('movi'
00dc...) idx1)``. Reader walks RIFF chunks tolerantly: it keys on the
``movi`` LIST and accepts ``##dc``/``##db`` stream chunks (including
inside ``rec `` groups), skipping everything else — the same strategy
ffmpeg uses for the long tail of AVI writers.

The reference Go library has no binary payloads — this module is part of
the brief-mandated multimodal surface, not reference parity.
"""

from __future__ import annotations

import struct

import numpy as np

from jsonschema_validator_spark.sources.jpeg import decode_jpeg, encode_jpeg

_AVIF_HASINDEX = 0x00000010
_AVIIF_KEYFRAME = 0x00000010


def _chunk(fourcc: bytes, body: bytes) -> bytes:
    return fourcc + struct.pack("<I", len(body)) + body + (b"\x00" if len(body) % 2 else b"")


def _list(list_type: bytes, body: bytes) -> bytes:
    return _chunk(b"LIST", list_type + body)


def encode_mjpeg_avi(
    frames: list[np.ndarray], fps: int = 10, quality: int = 90
) -> bytes:
    """uint8 RGB frames (h, w, 3), all the same size → MJPEG AVI bytes."""
    if not frames:
        raise ValueError("need at least one frame")
    h, w = frames[0].shape[:2]
    for px in frames:
        if px.shape[:2] != (h, w):
            raise ValueError("all frames must share the same dimensions")
    if fps < 1:
        raise ValueError("fps must be >= 1")
    jpgs = [encode_jpeg(px, quality=quality, subsampling="444") for px in frames]
    max_jpg = max(len(j) for j in jpgs)

    avih = struct.pack(
        "<IIIIIIIIIIIIII",
        1_000_000 // fps,       # dwMicroSecPerFrame
        max_jpg * fps,          # dwMaxBytesPerSec
        0,                      # dwPaddingGranularity
        _AVIF_HASINDEX,         # dwFlags
        len(frames),            # dwTotalFrames
        0,                      # dwInitialFrames
        1,                      # dwStreams
        max_jpg,                # dwSuggestedBufferSize
        w, h, 0, 0, 0, 0,       # dwWidth, dwHeight, dwReserved[4]
    )
    strh = struct.pack(
        "<4s4sIHHIIIIIIIIhhhh",
        b"vids", b"MJPG",
        0, 0, 0, 0,             # flags, priority, language, initial frames
        1, fps,                 # dwScale / dwRate → frame rate
        0, len(frames),         # start, length (frames)
        max_jpg, 0xFFFFFFFF & (10000 * max(1, min(quality, 100))), 0,
        0, 0, w, h,             # rcFrame
    )
    strf = struct.pack(
        "<IiiHH4sIiiII",
        40, w, h, 1, 24, b"MJPG", w * h * 3, 0, 0, 0, 0,
    )
    hdrl = _list(b"hdrl", _chunk(b"avih", avih) + _list(b"strl", _chunk(b"strh", strh) + _chunk(b"strf", strf)))

    movi_body = b"movi"
    idx_entries = []
    for j in jpgs:
        # idx1 offsets are relative to the 'movi' fourcc position
        idx_entries.append((len(movi_body), len(j)))
        movi_body += _chunk(b"00dc", j)
    movi = _chunk(b"LIST", movi_body)
    idx1 = _chunk(
        b"idx1",
        b"".join(
            b"00dc" + struct.pack("<III", _AVIIF_KEYFRAME, off, size)
            for off, size in idx_entries
        ),
    )
    return _chunk(b"RIFF", b"AVI " + hdrl + movi + idx1)


def _walk_chunks(data: bytes, pos: int, end: int):
    """Yield (fourcc, body_start, body_size) over a RIFF chunk run,
    honoring the 2-byte alignment pad. Raises ValueError on truncation."""
    while pos + 8 <= end:
        cid = data[pos : pos + 4]
        (size,) = struct.unpack("<I", data[pos + 4 : pos + 8])
        if pos + 8 + size > end:
            raise ValueError(f"truncated AVI chunk {bytes(cid)!r}")
        yield cid, pos + 8, size
        pos += 8 + size + (size % 2)


def _frames_in(data: bytes, pos: int, end: int, out: list[np.ndarray]) -> None:
    for cid, body_start, size in _walk_chunks(data, pos, end):
        if cid == b"LIST" and data[body_start : body_start + 4] == b"rec ":
            _frames_in(data, body_start + 4, body_start + size, out)
        elif cid[2:4] in (b"dc", b"db") and size > 0:
            out.append(decode_jpeg(data[body_start : body_start + size]))


def decode_avi_frames(data: bytes) -> list[np.ndarray]:
    """MJPEG AVI bytes → list of uint8 RGB frames (decode order).

    Raises ``ValueError`` for non-AVI bytes, truncated containers, a
    missing ``movi`` list, or non-JPEG frame payloads (only MJPEG streams
    are decodable without an external codec).
    """
    if len(data) < 12 or data[:4] != b"RIFF" or data[8:12] != b"AVI ":
        raise ValueError("not a RIFF/AVI stream")
    (riff_size,) = struct.unpack("<I", data[4:8])
    end = min(len(data), 8 + riff_size)
    frames: list[np.ndarray] = []
    saw_movi = False
    for cid, body_start, size in _walk_chunks(data, 12, end):
        if cid == b"LIST" and data[body_start : body_start + 4] == b"movi":
            saw_movi = True
            _frames_in(data, body_start + 4, body_start + size, frames)
    if not saw_movi:
        raise ValueError("no movi list in AVI container")
    return frames


__all__ = ["encode_mjpeg_avi", "decode_avi_frames"]
