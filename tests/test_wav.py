"""WAV codec: encode->decode identity, golden header, chunk skipping,
corruption/unsupported rejection."""

from __future__ import annotations

import struct

import numpy as np
import pytest

from imdedup_plus_spark.wav import decode_wav, encode_wav


def test_roundtrip_mono_and_stereo():
    rng = np.random.default_rng(5)
    mono = rng.integers(-(2**15), 2**15, size=777, dtype=np.int16)
    out, rate = decode_wav(encode_wav(mono, 16000))
    assert rate == 16000
    np.testing.assert_array_equal(out, mono)
    stereo = rng.integers(-(2**15), 2**15, size=(123, 2), dtype=np.int16)
    out2, _ = decode_wav(encode_wav(stereo, 44100))
    assert out2.shape == (123, 2)
    np.testing.assert_array_equal(out2, stereo)


def test_golden_header_layout():
    data = encode_wav(np.array([1, -1], dtype=np.int16), 8000)
    assert data[:4] == b"RIFF" and data[8:12] == b"WAVE"
    assert data[12:16] == b"fmt "
    # PCM tag 1, mono, 8 kHz, 16-bit
    assert struct.unpack("<HHIIHH", data[20:36]) == (1, 1, 8000, 16000, 2, 16)
    assert data[36:40] == b"data"
    assert data[44:] == b"\x01\x00\xff\xff"


def test_unknown_chunks_skipped():
    """RIFF rule: readers skip chunks they don't know (word-aligned)."""
    samples = np.arange(-5, 5, dtype=np.int16)
    data = bytearray(encode_wav(samples, 8000))
    extra = b"LIST" + struct.pack("<I", 5) + b"junk!" + b"\x00"  # odd len + pad
    out = data[:12] + extra + data[12:]
    out[4:8] = struct.pack("<I", len(out) - 8)
    dec, rate = decode_wav(bytes(out))
    np.testing.assert_array_equal(dec, samples)


def test_rejects_bad_and_unsupported():
    samples = np.zeros(4, dtype=np.int16)
    good = encode_wav(samples, 8000)
    with pytest.raises(ValueError, match="magic"):
        decode_wav(b"JUNK" + good[4:])
    bad_fmt = bytearray(good)
    bad_fmt[20] = 3  # IEEE float tag
    with pytest.raises(ValueError, match="format tag"):
        decode_wav(bytes(bad_fmt))
    with pytest.raises(ValueError):
        encode_wav(samples.astype(np.int32), 8000)

