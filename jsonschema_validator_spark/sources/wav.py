"""RIFF/WAVE PCM codec in pure numpy + struct — the audio leg of the
multimodal triple, real end-to-end in this sandbox (WAV needs no external
codec library, unlike compressed audio).

:func:`~jsonschema_validator_spark.operators.multimodal.audio_features`
decodes its payloads with :func:`decode_wav` on executors (no injected
decoder; ``bytes`` or a zero-copy memoryview), numpy-vectorized inside
Arrow batches — the sample loop is a single ``frombuffer``/astype, never
per-sample Python.

Supported: PCM u8 / s16 / s24 / s32 (WAVE_FORMAT_PCM, wFormatTag=1) and
IEEE float32/float64 (WAVE_FORMAT_IEEE_FLOAT, wFormatTag=3), any channel
count, chunk walking with the RIFF odd-size pad byte. Unknown chunks
(LIST/INFO/fact/...) are skipped, matching every mainstream reader.

The reference Go library has no binary payloads at all — this module is
part of the brief-mandated multimodal surface, not reference parity.
"""

from __future__ import annotations

import struct

import numpy as np

_PCM_DTYPES = {8: np.uint8, 16: np.dtype("<i2"), 32: np.dtype("<i4")}
_FLOAT_DTYPES = {32: np.dtype("<f4"), 64: np.dtype("<f8")}


def encode_wav(
    pcm: np.ndarray, sample_rate: int, bits: int = 16, fmt: str = "pcm"
) -> bytes:
    """float waveform in [-1, 1] (1-D mono or (n, channels)) → WAV bytes.

    ``fmt="pcm"`` with ``bits`` in {8, 16, 24, 32}; ``fmt="float"`` with
    ``bits`` in {32, 64}. Values are clipped then scaled to the integer
    range (u8 is offset-binary per the WAV spec).
    """
    pcm = np.asarray(pcm, dtype=np.float64)
    if pcm.ndim == 1:
        pcm = pcm[:, None]
    if pcm.ndim != 2:
        raise ValueError("pcm must be 1-D mono or (n_samples, n_channels)")
    n, ch = pcm.shape
    clipped = np.clip(pcm, -1.0, 1.0)
    if fmt == "pcm":
        if bits == 8:
            payload = (np.round(clipped * 127.0) + 128).astype(np.uint8).tobytes()
        elif bits == 16:
            payload = np.round(clipped * 32767.0).astype("<i2").tobytes()
        elif bits == 24:
            as32 = np.round(clipped * 8388607.0).astype("<i4")
            b = as32.astype("<i4").view(np.uint8).reshape(n * ch, 4)
            payload = np.ascontiguousarray(b[:, :3]).tobytes()  # LE: low 3 bytes
        elif bits == 32:
            payload = np.round(clipped * 2147483647.0).astype("<i4").tobytes()
        else:
            raise ValueError("pcm bits must be 8, 16, 24 or 32")
        tag = 1
    elif fmt == "float":
        if bits not in _FLOAT_DTYPES:
            raise ValueError("float bits must be 32 or 64")
        payload = clipped.astype(_FLOAT_DTYPES[bits]).tobytes()
        tag = 3
    else:
        raise ValueError("fmt must be 'pcm' or 'float'")

    block_align = ch * bits // 8
    fmt_chunk = struct.pack(
        "<HHIIHH", tag, ch, sample_rate, sample_rate * block_align, block_align, bits
    )
    chunks = b"".join(
        [
            b"fmt ", struct.pack("<I", len(fmt_chunk)), fmt_chunk,
            b"data", struct.pack("<I", len(payload)), payload,
            b"\x00" if len(payload) % 2 else b"",
        ]
    )
    return b"RIFF" + struct.pack("<I", 4 + len(chunks)) + b"WAVE" + chunks


def decode_wav(data: bytes) -> tuple[np.ndarray, int]:
    """WAV bytes → ``(waveform float64 (n_samples, n_channels) in [-1, 1],
    sample_rate)``. Raises ``ValueError`` on malformed/truncated streams
    or unsupported format tags (compressed WAV needs a real codec)."""
    if len(data) < 12 or data[:4] != b"RIFF" or data[8:12] != b"WAVE":
        raise ValueError("not a RIFF/WAVE stream")
    # bound the walk by the declared RIFF size (clamped to the buffer):
    # real-world files carry trailing tag/padding bytes AFTER the RIFF
    # payload, which are not chunks — walking to end-of-file rejected
    # WAVs every mainstream reader accepts (the AVI walker already
    # bounds itself this way)
    (riff_size,) = struct.unpack("<I", data[4:8])
    end = min(len(data), 8 + riff_size)
    pos = 12
    fmt_info = None
    payload = None
    while pos + 8 <= end:
        cid = data[pos : pos + 4]
        (size,) = struct.unpack("<I", data[pos + 4 : pos + 8])
        body = data[pos + 8 : pos + 8 + size]
        if len(body) < size:
            raise ValueError(f"truncated WAV chunk {bytes(cid)!r}")
        if cid == b"fmt ":
            if size < 16:
                raise ValueError("fmt chunk too short")
            fmt_info = struct.unpack("<HHIIHH", body[:16])
        elif cid == b"data":
            payload = body
        pos += 8 + size + (size % 2)  # RIFF chunks are 2-byte aligned
    if fmt_info is None or payload is None:
        raise ValueError("missing fmt or data chunk")
    tag, ch, rate, _byte_rate, _block_align, bits = fmt_info
    if ch < 1 or rate < 1:
        raise ValueError("invalid channel count or sample rate")
    if tag == 1:  # integer PCM
        if bits == 24:
            if len(payload) % 3:
                raise ValueError("24-bit payload not a multiple of 3 bytes")
            b = np.frombuffer(payload, dtype=np.uint8).reshape(-1, 3)
            as32 = np.zeros((b.shape[0], 4), dtype=np.uint8)
            as32[:, 1:] = b  # low byte in bits 8..31, then arithmetic >> 8
            wave = (as32.view("<i4")[:, 0] >> 8).astype(np.float64) / 8388607.0
        elif bits in _PCM_DTYPES:
            raw = np.frombuffer(payload, dtype=_PCM_DTYPES[bits])
            if bits == 8:
                # byte 0 maps to -128/127 = -1.0079; clamp so the
                # documented [-1, 1] output bound holds for external
                # files too (our encoder never emits byte 0; the oracle
                # reader clamps identically)
                wave = np.maximum((raw.astype(np.float64) - 128.0) / 127.0, -1.0)
            else:
                wave = raw.astype(np.float64) / float(2 ** (bits - 1) - 1)
        else:
            raise ValueError(f"unsupported PCM bit depth {bits}")
    elif tag == 3:  # IEEE float
        if bits not in _FLOAT_DTYPES:
            raise ValueError(f"unsupported float bit depth {bits}")
        wave = np.frombuffer(payload, dtype=_FLOAT_DTYPES[bits]).astype(np.float64)
    else:
        raise ValueError(f"unsupported WAV format tag {tag} (compressed?)")
    if wave.size % ch:
        raise ValueError("payload size not a multiple of the channel count")
    return wave.reshape(-1, ch), int(rate)


def decode_wav_mono(data: bytes) -> tuple[np.ndarray, int]:
    """WAV bytes → ``(mono float64 1-D waveform, sample_rate)`` — channel
    mean, the shape :func:`audio_features` feeds numpy."""
    wave, rate = decode_wav(data)
    return wave.mean(axis=1), rate


__all__ = ["encode_wav", "decode_wav", "decode_wav_mono"]
