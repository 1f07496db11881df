"""Minimal real WAV (RIFF PCM) codec — pure stdlib ``struct`` + ``numpy``.

WAV (RIFF/WAVE, a public Microsoft/IBM format) is a chunked container
around raw PCM samples, so a correct parser needs nothing beyond the
standard library. Supported: 16-bit signed little-endian PCM, mono or
interleaved multi-channel, ``fmt `` + ``data`` chunks (unknown chunks are
skipped, per the RIFF rule). Anything else (float PCM, ADPCM, 8/24-bit)
raises ``ValueError``.

Decode correctness is checked by encode->decode identity, a golden header
layout, chunk skipping and rejection cases in ``tests/test_wav.py``. No
pipeline stage or driver query calls this module; it is a candidate for
deletion (ROADMAP item 6).
"""

from __future__ import annotations

import struct

import numpy as np

RIFF_MAGIC = b"RIFF"
WAVE_MAGIC = b"WAVE"


def encode_wav(samples: np.ndarray, sample_rate: int = 8000) -> bytes:
    """int16 array (n,) mono or (n, ch) interleaved -> WAV bytes."""
    if samples.dtype != np.int16:
        raise ValueError("encode_wav: int16 samples only")
    ch = 1 if samples.ndim == 1 else samples.shape[1]
    data = samples.astype("<i2").tobytes()
    fmt = struct.pack(
        "<HHIIHH", 1, ch, sample_rate, sample_rate * ch * 2, ch * 2, 16
    )
    body = (
        WAVE_MAGIC
        + b"fmt " + struct.pack("<I", len(fmt)) + fmt
        + b"data" + struct.pack("<I", len(data)) + data
    )
    return RIFF_MAGIC + struct.pack("<I", len(body)) + body


def decode_wav(data: bytes) -> tuple[np.ndarray, int]:
    """WAV bytes -> (int16 array (n,) or (n, ch), sample_rate). Walks the
    RIFF chunk stream; skips unknown chunks (word-aligned); validates the
    PCM format tag and bit depth."""
    if data[:4] != RIFF_MAGIC or data[8:12] != WAVE_MAGIC:
        raise ValueError("not a WAV (bad RIFF/WAVE magic)")
    pos = 12
    ch = rate = None
    pcm = None
    while pos + 8 <= len(data):
        tag = data[pos : pos + 4]
        (ln,) = struct.unpack("<I", data[pos + 4 : pos + 8])
        body = data[pos + 8 : pos + 8 + ln]
        if tag == b"fmt ":
            audio_fmt, ch, rate, _brate, _align, bits = struct.unpack(
                "<HHIIHH", body[:16]
            )
            if audio_fmt != 1:
                raise ValueError(f"unsupported WAV format tag {audio_fmt} (PCM only)")
            if bits != 16:
                raise ValueError(f"unsupported bit depth {bits}")
        elif tag == b"data":
            pcm = body
        pos += 8 + ln + (ln & 1)  # RIFF chunks are word-aligned
    if ch is None or pcm is None:
        raise ValueError("WAV missing fmt/data chunk")
    samples = np.frombuffer(pcm, dtype="<i2").astype(np.int16)
    if ch > 1:
        samples = samples.reshape(-1, ch)
    return samples, rate
