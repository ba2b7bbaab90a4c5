"""Minimal pure-Python RIFF/WAV codec for PCM audio.

This package depends on no audio codec library, and PCM WAV needs none: the
container is a flat RIFF chunk list and the samples are raw integers
(or IEEE floats), so stdlib ``struct`` + numpy decode it exactly — the
same precedent as this repo's own PNG codec (``io/png.py``).  It is
``pipeline/media_ops.audio_features``' decoder, for the one container
format that needs no codec library; compressed formats (MP3/AAC) raise
NotImplementedError there.

Decoder scope (everything a synthesized or archival PCM WAV uses):
  - audio formats 1 (integer PCM: 8/16/24/32-bit) and 3 (float32/64),
    plus WAVE_FORMAT_EXTENSIBLE (0xFFFE) wrapping either;
  - any channel count (channels are interleaved frames);
  - chunk walking that tolerates odd-length chunks (RIFF pads to even)
    and ignores non-fmt/data chunks (LIST, cue, fact, ...).

The encoder writes canonical 16-bit little-endian PCM for fixtures.
"""

from __future__ import annotations

import struct

import numpy as np

_FMT_PCM = 1
_FMT_FLOAT = 3
_FMT_EXTENSIBLE = 0xFFFE


def encode_wav(
    samples: np.ndarray, sample_rate: int, *, bits: int = 16
) -> bytes:
    """float samples in [-1, 1] (1-D mono or (n, ch)) -> PCM WAV bytes."""
    if bits != 16:
        raise ValueError("fixture encoder writes 16-bit PCM only")
    arr = np.asarray(samples, dtype=np.float64)
    if arr.ndim == 1:
        arr = arr[:, None]
    n_frames, n_ch = arr.shape
    pcm = np.clip(np.round(arr * 32767.0), -32768, 32767).astype("<i2")
    data = pcm.tobytes()
    byte_rate = sample_rate * n_ch * 2
    fmt = struct.pack(
        "<HHIIHH", _FMT_PCM, n_ch, sample_rate, byte_rate, n_ch * 2, 16
    )
    body = (
        b"WAVE"
        + b"fmt " + struct.pack("<I", len(fmt)) + fmt
        + b"data" + struct.pack("<I", len(data)) + data
    )
    return b"RIFF" + struct.pack("<I", len(body)) + body


def decode_wav(content: bytes) -> tuple[np.ndarray, int]:
    """PCM/float WAV bytes -> (float64 samples in [-1, 1] shaped
    (n_frames, n_channels), sample_rate).

    Integer PCM normalizes by the type's full scale (2^(bits-1)), so a
    full-scale negative sample maps to exactly -1.0 and the decode is a
    single exact multiply per sample — bit-reproducible everywhere.
    """
    if len(content) < 12 or content[:4] != b"RIFF" or content[8:12] != b"WAVE":
        raise ValueError("not a RIFF/WAVE stream")
    pos, end = 12, min(len(content), 8 + struct.unpack("<I", content[4:8])[0])
    fmt_code = n_ch = sample_rate = bits = None
    data: bytes | None = None
    while pos + 8 <= end:
        tag = content[pos : pos + 4]
        size = struct.unpack("<I", content[pos + 4 : pos + 8])[0]
        payload = content[pos + 8 : pos + 8 + size]
        if tag == b"fmt ":
            if size < 16:
                raise ValueError("fmt chunk too short")
            fmt_code, n_ch, sample_rate, _br, _ba, bits = struct.unpack(
                "<HHIIHH", payload[:16]
            )
            if fmt_code == _FMT_EXTENSIBLE:
                if size < 40:
                    raise ValueError("extensible fmt chunk too short")
                # the real format is the first 2 bytes of the SubFormat GUID
                fmt_code = struct.unpack("<H", payload[24:26])[0]
        elif tag == b"data":
            data = payload
        pos += 8 + size + (size & 1)  # chunks are padded to even offsets
    if fmt_code is None or data is None:
        raise ValueError("missing fmt or data chunk")
    if n_ch is None or n_ch < 1:
        raise ValueError("invalid channel count")

    if fmt_code == _FMT_PCM:
        if bits == 8:  # 8-bit PCM is UNSIGNED, midpoint 128
            raw = np.frombuffer(data, dtype=np.uint8).astype(np.float64)
            samples = (raw - 128.0) / 128.0
        elif bits == 16:
            raw = np.frombuffer(data, dtype="<i2")
            samples = raw.astype(np.float64) / 32768.0
        elif bits == 24:  # no 3-byte dtype: widen via a zero low byte
            b = np.frombuffer(data, dtype=np.uint8)
            b = b[: len(b) - len(b) % 3].reshape(-1, 3)
            quad = np.zeros((b.shape[0], 4), dtype=np.uint8)
            quad[:, 1:] = b
            raw = quad.view("<i4").ravel() >> 8
            samples = raw.astype(np.float64) / 8388608.0
        elif bits == 32:
            raw = np.frombuffer(data, dtype="<i4")
            samples = raw.astype(np.float64) / 2147483648.0
        else:
            raise ValueError(f"unsupported PCM bit depth {bits}")
    elif fmt_code == _FMT_FLOAT:
        if bits == 32:
            samples = np.frombuffer(data, dtype="<f4").astype(np.float64)
        elif bits == 64:
            samples = np.frombuffer(data, dtype="<f8").astype(np.float64)
        else:
            raise ValueError(f"unsupported float bit depth {bits}")
    else:
        raise ValueError(
            f"compressed WAV format {fmt_code} needs a codec this "
            "container does not ship"
        )
    n_frames = len(samples) // n_ch
    return samples[: n_frames * n_ch].reshape(n_frames, n_ch), int(sample_rate)
