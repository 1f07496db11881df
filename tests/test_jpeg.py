"""From-scratch baseline-JFIF codec (imdedup_plus_spark/jpeg.py).

The load-bearing invariant is DCT-COEFFICIENT identity: JPEG is lossy
only in transform+quantization; zigzag + DC prediction + Huffman + byte
stuffing are lossless, so ``decode_jpeg_to_dct(encode_jpeg(img))`` must
reproduce ``forward_dct_quant`` per block EXACTLY (the reference decodes
containers to DCT planes the same way, /root/reference/jpeg.c:16-122).
"""

from __future__ import annotations

import numpy as np
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from imdedup_plus_spark.jpeg import (
    QUANT_LUMA,
    ZIGZAG,
    _pad_blocks,
    decode_jpeg_to_dct,
    encode_jpeg,
    forward_dct_quant,
)
from imdedup_plus_spark.multimodal import synth_image


def _expected_coefs(img: np.ndarray) -> np.ndarray:
    blocks = _pad_blocks(img)
    return np.stack([
        np.stack([forward_dct_quant(blocks[r, c]) for c in range(blocks.shape[1])])
        for r in range(blocks.shape[0])
    ])


@settings(max_examples=30, deadline=None)
@given(st.integers(0, 2**31 - 1), st.integers(8, 41), st.integers(8, 41))
def test_dct_roundtrip_identity_random(seed, h, w):
    rng = np.random.default_rng(seed)
    img = rng.integers(0, 256, size=(h, w), dtype=np.uint8)
    coefs, hh, ww, q = decode_jpeg_to_dct(encode_jpeg(img))
    assert (hh, ww) == (h, w)
    assert (q == np.array(QUANT_LUMA)).all()
    assert (coefs == _expected_coefs(img)).all()


def test_dct_roundtrip_identity_synth_corpus():
    for d in range(64):
        img = synth_image(d)
        coefs, hh, ww, _ = decode_jpeg_to_dct(encode_jpeg(img))
        assert (hh, ww) == img.shape
        assert (coefs == _expected_coefs(img)).all()


def test_extreme_blocks():
    """All-0 / all-255 / checkerboard: DC-only, max-DC, and max-AC
    energy — exercises large magnitude categories and long zero runs."""
    for img in (
        np.zeros((8, 8), np.uint8),
        np.full((8, 8), 255, np.uint8),
        (np.indices((16, 16)).sum(0) % 2 * 255).astype(np.uint8),
    ):
        coefs, _, _, _ = decode_jpeg_to_dct(encode_jpeg(img))
        assert (coefs == _expected_coefs(img)).all()


def test_jfif_structure_and_validation():
    data = encode_jpeg(synth_image(3))
    assert data[:2] == b"\xff\xd8" and data[-2:] == b"\xff\xd9"
    assert data[2:4] == b"\xff\xe0" and data[6:11] == b"JFIF\x00"
    with pytest.raises(ValueError, match="SOI"):
        decode_jpeg_to_dct(b"\x00" + data)
    with pytest.raises(ValueError):
        decode_jpeg_to_dct(data[:-2])  # EOI stripped


def _strip_segments(data: bytes, tag: int) -> bytes:
    """Remove every marker segment with the given tag (surgical corruption)."""
    out = bytearray(data[:2])
    pos = 2
    while pos + 1 < len(data):
        t = data[pos + 1]
        if t == 0xDA:  # SOS: keep scan header + entropy + EOI verbatim
            out += data[pos:]
            break
        seg_len = int.from_bytes(data[pos + 2 : pos + 4], "big")
        if t != tag:
            out += data[pos : pos + 2 + seg_len]
        pos += 2 + seg_len
    return bytes(out)


def test_malformed_streams_raise_valueerror():
    """ADVICE r02 #1/#2: JPEG-magic payloads missing mandatory segments or
    with truncated entropy data must fail with a clear ValueError, never a
    TypeError/IndexError."""
    data = encode_jpeg(synth_image(3))
    with pytest.raises(ValueError, match="SOS before SOF0"):
        decode_jpeg_to_dct(_strip_segments(data, 0xC0))
    with pytest.raises(ValueError, match="missing Huffman"):
        decode_jpeg_to_dct(_strip_segments(data, 0xC4))
    with pytest.raises(ValueError, match="missing quantization"):
        decode_jpeg_to_dct(_strip_segments(data, 0xDB))
    # entropy body chopped to a single byte: the bit reader must raise,
    # not run off the end of the buffer
    sos = data.find(b"\xff\xda")
    sos_end = sos + 2 + int.from_bytes(data[sos + 2 : sos + 4], "big")
    with pytest.raises(ValueError):
        decode_jpeg_to_dct(data[: sos_end + 1] + b"\xff\xd9")


def test_zigzag_is_a_permutation():
    assert sorted(ZIGZAG) == [(r, c) for r in range(8) for c in range(8)]
    # spec spot checks
    assert ZIGZAG[0] == (0, 0) and ZIGZAG[1] == (0, 1) and ZIGZAG[2] == (1, 0)
    assert ZIGZAG[63] == (7, 7)


def test_image_dedup_in_dct_space(spark):
    """The reference's headline flow on its native domain: MinHash over
    ALL THREE quantized YCbCr DCT planes finds duplicate IMAGES. Planted
    corpus: doc_id % 60 picks the image (exact dups across groups of
    60), doc_id//60 %% 2 a brightness variant (+57 on every RGB channel:
    ~+57 luma so Y DC shifts while Y AC and the chroma planes are
    unchanged away from mod-256 wrap seams -> near-dup). The wrap seams
    MOVE with the shift, so variants are seam-edited images and their
    coefficient overlap varies per image (measured on the color lane:
    25/30 surface at >= 1 of 8 bands, mean 1.4 bands; all deterministic
    — no RNG anywhere in the lane). Exact dups must collide on all 8
    bands; the variant aggregate must hold."""
    from imdedup_plus_spark.multimodal import jpeg_dct_pairs

    docs = spark.range(180).withColumnRenamed("id", "doc_id")
    pairs = {
        (r["id_a"], r["id_b"]): r["n_matching_bands"]
        for r in jpeg_dct_pairs(docs, "doc_id").collect()
    }
    variant_bands = [pairs.get((b, b + 60), 0) for b in range(30)]
    for base in range(0, 30):
        assert pairs.get((base, base + 120)) == 8, f"exact dup {base}"
    assert sum(1 for v in variant_bands if v > 0) >= 24, variant_bands
    assert sum(variant_bands) / 30 >= 1.3, variant_bands


# --- 3-component YCbCr 4:2:0 path (the reference's decode predicate:
#     exactly-3-component streams, /root/reference/jpeg.c:27-32; Y/U/V
#     plane fill jpeg.c:38-76) ---------------------------------------


def _expected_color_planes(rgb: np.ndarray):
    from imdedup_plus_spark.jpeg import (
        _plane_blocks, _Q, _QC, rgb_to_ycbcr, subsample_420)

    h, w = rgb.shape[:2]
    mcuy, mcux = -(-h // 16), -(-w // 16)
    y, cb, cr = rgb_to_ycbcr(rgb)
    planes = {}
    for cid, blocks, q in (
        (1, _plane_blocks(y, 16 * mcuy, 16 * mcux), _Q),
        (2, _plane_blocks(subsample_420(cb), 8 * mcuy, 8 * mcux), _QC),
        (3, _plane_blocks(subsample_420(cr), 8 * mcuy, 8 * mcux), _QC),
    ):
        planes[cid] = (
            np.stack([
                np.stack([forward_dct_quant(blocks[r, c], q)
                          for c in range(blocks.shape[1])])
                for r in range(blocks.shape[0])
            ]),
            q,
        )
    return planes


@settings(max_examples=15, deadline=None)
@given(st.integers(0, 2**31 - 1), st.integers(8, 37), st.integers(8, 37))
def test_color_roundtrip_identity_random(seed, h, w):
    """Interleaved-MCU entropy layer (4 Y + Cb + Cr per MCU, separate DC
    predictors and Huffman/quant tables per class) is lossless: every
    quantized coefficient of every plane round-trips exactly."""
    from imdedup_plus_spark.jpeg import decode_jpeg_to_dct_planes, encode_jpeg_color

    rng = np.random.default_rng(seed)
    rgb = rng.integers(0, 256, size=(h, w, 3), dtype=np.uint8)
    planes, hh, ww = decode_jpeg_to_dct_planes(encode_jpeg_color(rgb))
    assert (hh, ww) == (h, w) and len(planes) == 3
    want = _expected_color_planes(rgb)
    assert [cid for cid, *_ in planes] == [1, 2, 3]  # SOF order Y, Cb, Cr
    for cid, coefs, q, sh, sv in planes:
        wcoefs, wq = want[cid]
        assert (sh, sv) == ((2, 2) if cid == 1 else (1, 1))
        assert np.array_equal(q, wq)
        assert np.array_equal(coefs, wcoefs), f"component {cid}"


def test_color_subsample_and_convert_edges():
    """Fixed-point color convert stays in [0, 255] at the RGB extremes
    (the >>16 == //65536 invariant needs non-negative numerators) and
    the 4:2:0 box average edge-clamps odd dimensions."""
    from imdedup_plus_spark.jpeg import rgb_to_ycbcr, subsample_420

    corners = np.array(
        [[[0, 0, 0], [255, 255, 255]], [[255, 0, 0], [0, 0, 255]]],
        dtype=np.uint8,
    )
    for plane in rgb_to_ycbcr(corners):
        assert plane.min() >= 0 and plane.max() <= 255
    p = np.arange(15).reshape(3, 5).astype(np.int64)
    s = subsample_420(p)
    assert s.shape == (2, 3)
    assert s[1, 2] == (p[2, 4] * 4 + 2) // 4  # bottom-right fully clamped


def test_corrupt_entropy_fuzz_never_crashes():
    """VERDICT r03 #3 (pinned): random byte corruption inside the entropy
    segment — the crawl-corpus norm — must either decode or raise
    ValueError; never IndexError/TypeError (AC zigzag overrun, bit-reader
    overread). Seeded, 200 trials."""
    import random

    data = encode_jpeg(synth_image(5))
    sos = data.find(b"\xff\xda")
    rng = random.Random(0xC0FFEE)
    for _ in range(200):
        b = bytearray(data)
        for _ in range(8):
            i = rng.randrange(sos + 10, len(b) - 2)
            b[i] = rng.randrange(255)  # 255 excluded: 0xFF starts a marker
        try:
            decode_jpeg_to_dct(bytes(b))
        except ValueError:
            pass
