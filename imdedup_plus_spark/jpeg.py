"""From-scratch baseline JFIF (JPEG) codec — the reference's native domain.

The reference dedups JPEGs by decoding them to quantized-DCT coefficient
planes and sketching THOSE, never the pixels (``/root/reference/jpeg.c:
16-122``; its whole two-stage design runs in DCT space). Round 1/2 had to
stub this lane because no JPEG library was available; this module
removes the stub with a complete from-scratch implementation of the
public format, written from the ISO/IEC 10918-1 (ITU T.81) spec.

Scope: baseline sequential DCT, 8-bit, grayscale (1 component) AND
YCbCr 4:2:0 (3 components, the reference's decode predicate — it accepts
exactly-3-component JPEGs, ``/root/reference/jpeg.c:27-32``, and fills
Y/U/V DCT planes, ``jpeg.c:38-76``). Standard Annex-K luminance AND
chrominance quantization + Huffman tables, real JFIF markers
(SOI/APP0/DQT/SOF0/DHT/SOS/EOI, 0xFF byte stuffing), interleaved MCU
scan (per 16x16 MCU: 4 Y blocks raster-order, then Cb, then Cr, each
component with its own DC predictor). The decoder parses what the
encoder emits (tables are READ from the stream, not assumed) — enough
for every payload this engine synthesizes, and the exact analog of the
reference's "decode container -> coefficient planes" step.

Color pipeline, all integer and SQL-replayable like the DCT itself:
RGB -> YCbCr with the standard 16-bit fixed-point weights (e.g.
``Y = (19595 R + 38470 G + 7471 B + 32768) >> 16``; every numerator is
positive by construction so ``>> 16`` equals DuckDB's truncating
``// 65536``), 4:2:0 chroma subsampling as the edge-clamped 2x2 box
average ``(p00 + p01 + p10 + p11 + 2) // 4``.

Cross-engine exactness — the reason this codec is oracle-checkable where
libjpeg would not be: the forward DCT is INTEGER-ONLY fixed point.

* basis matrix ``DCT_M[u][k] = round(c_u * cos((2k+1)*u*pi/16) * 2**13)``
  with ``c_0 = sqrt(1/8)``, ``c_u = 1/2`` — computed once here and
  INLINED as literals into the DuckDB oracle (``dct_stats_sql``), so no
  libm cos() is evaluated on either engine at query time;
* each 1-D pass descales with ``floor((x + 4096) / 8192)`` (arithmetic
  shift in numpy, exact double division + floor in SQL — magnitudes stay
  far below 2**52 so the double path is exact);
* quantization is ``sign(F) * ((|F| + Q//2) // Q)``.

``decode_jpeg_to_dct(encode_jpeg(img))`` therefore reproduces the
encoder's quantized coefficients EXACTLY (integer identity through
zigzag + DC-prediction + Huffman + byte stuffing and back), which is
what ``mm_jpeg_dct_stats`` checks against the DuckDB replay — the
CHECK_DECOMPRESS discipline (``/root/reference/jpeg.c:583-603``) applied
to the entropy layer.
"""

from __future__ import annotations

import math

import numpy as np

# --- fixed-point DCT basis -------------------------------------------------

DCT_SHIFT = 13
_HALF = 1 << (DCT_SHIFT - 1)

#: DCT_M[u][k] = round(c_u * cos((2k+1) u pi / 16) * 2^13); int64 literals,
#: shared verbatim with the SQL oracle.
DCT_M: list[list[int]] = [
    [
        int(round((math.sqrt(1.0 / 8) if u == 0 else 0.5)
                  * math.cos((2 * k + 1) * u * math.pi / 16) * (1 << DCT_SHIFT)))
        for k in range(8)
    ]
    for u in range(8)
]
_M = np.array(DCT_M, dtype=np.int64)

#: Annex K table K.1 — standard luminance quantization (row-major u, v).
QUANT_LUMA: list[list[int]] = [
    [16, 11, 10, 16, 24, 40, 51, 61],
    [12, 12, 14, 19, 26, 58, 60, 55],
    [14, 13, 16, 24, 40, 57, 69, 56],
    [14, 17, 22, 29, 51, 87, 80, 62],
    [18, 22, 37, 56, 68, 109, 103, 77],
    [24, 35, 55, 64, 81, 104, 113, 92],
    [49, 64, 78, 87, 103, 121, 120, 101],
    [72, 92, 95, 98, 112, 100, 103, 99],
]
_Q = np.array(QUANT_LUMA, dtype=np.int64)

#: Annex K table K.2 — standard chrominance quantization (row-major u, v).
QUANT_CHROMA: list[list[int]] = [
    [17, 18, 24, 47, 99, 99, 99, 99],
    [18, 21, 26, 66, 99, 99, 99, 99],
    [24, 26, 56, 99, 99, 99, 99, 99],
    [47, 66, 99, 99, 99, 99, 99, 99],
    [99, 99, 99, 99, 99, 99, 99, 99],
    [99, 99, 99, 99, 99, 99, 99, 99],
    [99, 99, 99, 99, 99, 99, 99, 99],
    [99, 99, 99, 99, 99, 99, 99, 99],
]
_QC = np.array(QUANT_CHROMA, dtype=np.int64)

#: zigzag scan order: ZIGZAG[i] = (row, col) of the i-th coefficient.
ZIGZAG: list[tuple[int, int]] = []
_r = _c = 0
for _i in range(64):
    ZIGZAG.append((_r, _c))
    if (_r + _c) % 2 == 0:  # moving up-right
        if _c == 7:
            _r += 1
        elif _r == 0:
            _c += 1
        else:
            _r -= 1
            _c += 1
    else:  # moving down-left
        if _r == 7:
            _c += 1
        elif _c == 0:
            _r += 1
        else:
            _r += 1
            _c -= 1

# Annex K tables K.3/K.5 — standard luminance DC/AC Huffman specs
# (BITS = #codes per length 1..16, HUFFVAL = symbols in code order).
DC_BITS = [0, 1, 5, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0, 0, 0]
DC_VALS = list(range(12))
AC_BITS = [0, 2, 1, 3, 3, 2, 4, 3, 5, 5, 4, 4, 0, 0, 1, 0x7D]
AC_VALS = [
    0x01, 0x02, 0x03, 0x00, 0x04, 0x11, 0x05, 0x12, 0x21, 0x31, 0x41, 0x06,
    0x13, 0x51, 0x61, 0x07, 0x22, 0x71, 0x14, 0x32, 0x81, 0x91, 0xA1, 0x08,
    0x23, 0x42, 0xB1, 0xC1, 0x15, 0x52, 0xD1, 0xF0, 0x24, 0x33, 0x62, 0x72,
    0x82, 0x09, 0x0A, 0x16, 0x17, 0x18, 0x19, 0x1A, 0x25, 0x26, 0x27, 0x28,
    0x29, 0x2A, 0x34, 0x35, 0x36, 0x37, 0x38, 0x39, 0x3A, 0x43, 0x44, 0x45,
    0x46, 0x47, 0x48, 0x49, 0x4A, 0x53, 0x54, 0x55, 0x56, 0x57, 0x58, 0x59,
    0x5A, 0x63, 0x64, 0x65, 0x66, 0x67, 0x68, 0x69, 0x6A, 0x73, 0x74, 0x75,
    0x76, 0x77, 0x78, 0x79, 0x7A, 0x83, 0x84, 0x85, 0x86, 0x87, 0x88, 0x89,
    0x8A, 0x92, 0x93, 0x94, 0x95, 0x96, 0x97, 0x98, 0x99, 0x9A, 0xA2, 0xA3,
    0xA4, 0xA5, 0xA6, 0xA7, 0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4, 0xB5, 0xB6,
    0xB7, 0xB8, 0xB9, 0xBA, 0xC2, 0xC3, 0xC4, 0xC5, 0xC6, 0xC7, 0xC8, 0xC9,
    0xCA, 0xD2, 0xD3, 0xD4, 0xD5, 0xD6, 0xD7, 0xD8, 0xD9, 0xDA, 0xE1, 0xE2,
    0xE3, 0xE4, 0xE5, 0xE6, 0xE7, 0xE8, 0xE9, 0xEA, 0xF1, 0xF2, 0xF3, 0xF4,
    0xF5, 0xF6, 0xF7, 0xF8, 0xF9, 0xFA,
]


# Annex K tables K.4/K.6 — standard chrominance DC/AC Huffman specs.
DC_CHROMA_BITS = [0, 3, 1, 1, 1, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0]
DC_CHROMA_VALS = list(range(12))
AC_CHROMA_BITS = [0, 2, 1, 2, 4, 4, 3, 4, 7, 5, 4, 4, 0, 1, 2, 0x77]
AC_CHROMA_VALS = [
    0x00, 0x01, 0x02, 0x03, 0x11, 0x04, 0x05, 0x21, 0x31, 0x06, 0x12, 0x41,
    0x51, 0x07, 0x61, 0x71, 0x13, 0x22, 0x32, 0x81, 0x08, 0x14, 0x42, 0x91,
    0xA1, 0xB1, 0xC1, 0x09, 0x23, 0x33, 0x52, 0xF0, 0x15, 0x62, 0x72, 0xD1,
    0x0A, 0x16, 0x24, 0x34, 0xE1, 0x25, 0xF1, 0x17, 0x18, 0x19, 0x1A, 0x26,
    0x27, 0x28, 0x29, 0x2A, 0x35, 0x36, 0x37, 0x38, 0x39, 0x3A, 0x43, 0x44,
    0x45, 0x46, 0x47, 0x48, 0x49, 0x4A, 0x53, 0x54, 0x55, 0x56, 0x57, 0x58,
    0x59, 0x5A, 0x63, 0x64, 0x65, 0x66, 0x67, 0x68, 0x69, 0x6A, 0x73, 0x74,
    0x75, 0x76, 0x77, 0x78, 0x79, 0x7A, 0x82, 0x83, 0x84, 0x85, 0x86, 0x87,
    0x88, 0x89, 0x8A, 0x92, 0x93, 0x94, 0x95, 0x96, 0x97, 0x98, 0x99, 0x9A,
    0xA2, 0xA3, 0xA4, 0xA5, 0xA6, 0xA7, 0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4,
    0xB5, 0xB6, 0xB7, 0xB8, 0xB9, 0xBA, 0xC2, 0xC3, 0xC4, 0xC5, 0xC6, 0xC7,
    0xC8, 0xC9, 0xCA, 0xD2, 0xD3, 0xD4, 0xD5, 0xD6, 0xD7, 0xD8, 0xD9, 0xDA,
    0xE2, 0xE3, 0xE4, 0xE5, 0xE6, 0xE7, 0xE8, 0xE9, 0xEA, 0xF2, 0xF3, 0xF4,
    0xF5, 0xF6, 0xF7, 0xF8, 0xF9, 0xFA,
]


def _build_codes(bits: list[int], vals: list[int]) -> dict[int, tuple[int, int]]:
    """Canonical Huffman (T.81 C.2): symbol -> (code, length)."""
    out: dict[int, tuple[int, int]] = {}
    code = 0
    k = 0
    for length in range(1, 17):
        for _ in range(bits[length - 1]):
            out[vals[k]] = (code, length)
            code += 1
            k += 1
        code <<= 1
    return out


_DC_CODES = _build_codes(DC_BITS, DC_VALS)
_AC_CODES = _build_codes(AC_BITS, AC_VALS)


def _magnitude(v: int) -> tuple[int, int]:
    """JPEG magnitude coding: value -> (size category, appended bits)."""
    if v == 0:
        return 0, 0
    a = abs(v)
    size = a.bit_length()
    bits = v if v > 0 else v + (1 << size) - 1  # one's complement for negatives
    return size, bits


class _BitWriter:
    def __init__(self) -> None:
        self.out = bytearray()
        self.acc = 0
        self.n = 0

    def put(self, code: int, length: int) -> None:
        self.acc = (self.acc << length) | (code & ((1 << length) - 1))
        self.n += length
        while self.n >= 8:
            self.n -= 8
            byte = (self.acc >> self.n) & 0xFF
            self.out.append(byte)
            if byte == 0xFF:  # byte stuffing (T.81 F.1.2.3)
                self.out.append(0x00)

    def flush(self) -> bytes:
        if self.n:
            pad = 8 - self.n
            self.put((1 << pad) - 1, pad)  # pad with 1-bits
        return bytes(self.out)


class _BitReader:
    def __init__(self, data: bytes) -> None:
        self.data = data
        self.pos = 0
        self.acc = 0
        self.n = 0

    def _fill(self) -> None:
        if self.pos >= len(self.data):
            raise ValueError("truncated entropy stream")
        byte = self.data[self.pos]
        self.pos += 1
        if byte == 0xFF:
            if self.pos >= len(self.data) or self.data[self.pos] != 0x00:
                raise ValueError("unexpected marker inside entropy data")
            self.pos += 1  # skip stuffed 0x00
        self.acc = (self.acc << 8) | byte
        self.n += 8

    def bit(self) -> int:
        if self.n == 0:
            self._fill()
        self.n -= 1
        return (self.acc >> self.n) & 1

    def bits(self, k: int) -> int:
        v = 0
        for _ in range(k):
            v = (v << 1) | self.bit()
        return v


def _decode_tree(bits: list[int], vals: list[int]) -> dict[tuple[int, int], int]:
    """(length, code) -> symbol, for bit-serial decoding."""
    out: dict[tuple[int, int], int] = {}
    for sym, (code, length) in _build_codes(bits, vals).items():
        out[(length, code)] = sym
    return out


def _rdiv(a: np.ndarray) -> np.ndarray:
    """floor((a + 2^12) / 2^13) — arithmetic shift = floor division."""
    return (a + _HALF) >> DCT_SHIFT


def forward_dct_quant(block: np.ndarray, q: np.ndarray | None = None) -> np.ndarray:
    """8x8 uint8 spatial block -> 8x8 int64 QUANTIZED coefficients.

    Integer-only: level shift, two fixed-point 1-D passes with the shared
    descale rule, Annex-K quantization (luma table by default, pass
    ``q=_QC``/``QUANT_CHROMA`` for chroma blocks). This exact arithmetic
    is replayed by ``dct_stats_sql`` in DuckDB.
    """
    if q is None:
        q = _Q
    s = block.astype(np.int64) - 128
    g = _rdiv(_M @ s)           # rows -> vertical frequencies u
    f = _rdiv(g @ _M.T)         # cols -> horizontal frequencies v
    sign = np.sign(f)
    return sign * ((np.abs(f) + q // 2) // q)


def _pad_blocks(img: np.ndarray) -> np.ndarray:
    """Edge-clamp pad to 8-multiples -> (bh, bw, 8, 8) block array."""
    h, w = img.shape
    H, W = -(-h // 8) * 8, -(-w // 8) * 8
    padded = img[np.minimum(np.arange(H), h - 1)][:, np.minimum(np.arange(W), w - 1)]
    return padded.reshape(H // 8, 8, W // 8, 8).swapaxes(1, 2)


def _marker(tag: int, body: bytes) -> bytes:
    return bytes([0xFF, tag]) + (len(body) + 2).to_bytes(2, "big") + body


def _encode_block(
    wr: _BitWriter, qblock: np.ndarray, prev_dc: int, dc_codes: dict, ac_codes: dict
) -> int:
    """Entropy-encode one quantized 8x8 block; returns the new DC predictor."""
    zz = [int(qblock[r][c]) for (r, c) in ZIGZAG]
    size, bits = _magnitude(zz[0] - prev_dc)  # DC: predicted difference
    code, length = dc_codes[size]
    wr.put(code, length)
    if size:
        wr.put(bits, size)
    run = 0
    for v in zz[1:]:  # AC: (run, size) symbols with ZRL and EOB
        if v == 0:
            run += 1
            continue
        while run > 15:
            c0, l0 = ac_codes[0xF0]  # ZRL: 16 zeros
            wr.put(c0, l0)
            run -= 16
        size, bits = _magnitude(v)
        code, length = ac_codes[(run << 4) | size]
        wr.put(code, length)
        wr.put(bits, size)
        run = 0
    if run:
        c0, l0 = ac_codes[0x00]  # EOB
        wr.put(c0, l0)
    return zz[0]


def encode_jpeg(img: np.ndarray) -> bytes:
    """Grayscale uint8 (h, w) -> baseline JFIF bytes."""
    if img.ndim != 2:
        raise ValueError("grayscale (h, w) images only")
    h, w = img.shape
    blocks = _pad_blocks(img)
    bh, bw = blocks.shape[:2]

    wr = _BitWriter()
    prev_dc = 0
    for br in range(bh):
        for bc in range(bw):
            prev_dc = _encode_block(
                wr, forward_dct_quant(blocks[br, bc]), prev_dc, _DC_CODES, _AC_CODES
            )
    entropy = wr.flush()

    zz_q = bytes(int(_Q[r][c]) for (r, c) in ZIGZAG)
    out = bytearray()
    out += b"\xff\xd8"                                   # SOI
    out += _marker(0xE0, b"JFIF\x00\x01\x01\x00\x00\x01\x00\x01\x00\x00")
    out += _marker(0xDB, b"\x00" + zz_q)                 # DQT, table 0, 8-bit
    out += _marker(
        0xC0,                                            # SOF0 baseline
        b"\x08" + h.to_bytes(2, "big") + w.to_bytes(2, "big")
        + b"\x01" + b"\x01\x11\x00",                     # 1 comp, 1x1, qtab 0
    )
    out += _marker(0xC4, b"\x00" + bytes(DC_BITS) + bytes(DC_VALS))
    out += _marker(0xC4, b"\x10" + bytes(AC_BITS) + bytes(AC_VALS))
    out += _marker(0xDA, b"\x01" + b"\x01\x00" + b"\x00\x3f\x00")  # SOS
    out += entropy
    out += b"\xff\xd9"                                   # EOI
    return bytes(out)


# --- YCbCr 4:2:0 color path --------------------------------------------------

#: standard 16-bit fixed-point RGB->YCbCr weights (round(w * 65536); same
#: constants as the public libjpeg jccolor tables — derived from the JFIF
#: matrix, not copied code). Biases keep every numerator positive so that
#: numpy's arithmetic ``>> 16`` and DuckDB's truncating ``// 65536`` agree.
YCC_SHIFT = 16
_YCC_HALF = 1 << (YCC_SHIFT - 1)
_YCC_128 = 128 << YCC_SHIFT


def rgb_to_ycbcr(rgb: np.ndarray) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """(h, w, 3) uint8 RGB -> three (h, w) int64 planes in [0, 255]."""
    r = rgb[..., 0].astype(np.int64)
    g = rgb[..., 1].astype(np.int64)
    b = rgb[..., 2].astype(np.int64)
    y = (19595 * r + 38470 * g + 7471 * b + _YCC_HALF) >> YCC_SHIFT
    cb = (32768 * b - 11059 * r - 21709 * g + _YCC_HALF + _YCC_128) >> YCC_SHIFT
    cr = (32768 * r - 27439 * g - 5329 * b + _YCC_HALF + _YCC_128) >> YCC_SHIFT
    return y, np.minimum(cb, 255), np.minimum(cr, 255)


def subsample_420(plane: np.ndarray) -> np.ndarray:
    """(h, w) -> (ceil(h/2), ceil(w/2)) by the edge-clamped 2x2 box average
    ``(p00 + p01 + p10 + p11 + 2) // 4`` (all operands non-negative, so
    floor == truncate — replayable in DuckDB)."""
    h, w = plane.shape
    r0 = np.arange((h + 1) // 2) * 2
    c0 = np.arange((w + 1) // 2) * 2
    r1 = np.minimum(r0 + 1, h - 1)
    c1 = np.minimum(c0 + 1, w - 1)
    p = plane.astype(np.int64)
    return (
        p[np.ix_(r0, c0)] + p[np.ix_(r0, c1)] + p[np.ix_(r1, c0)] + p[np.ix_(r1, c1)] + 2
    ) // 4


def _pad_clamp(plane: np.ndarray, H: int, W: int) -> np.ndarray:
    """Edge-clamp pad a (h, w) plane to exactly (H, W)."""
    h, w = plane.shape
    return plane[np.minimum(np.arange(H), h - 1)][:, np.minimum(np.arange(W), w - 1)]


def _plane_blocks(plane: np.ndarray, H: int, W: int) -> np.ndarray:
    p = _pad_clamp(plane, H, W)
    return p.reshape(H // 8, 8, W // 8, 8).swapaxes(1, 2)


def encode_jpeg_color(rgb: np.ndarray) -> bytes:
    """(h, w, 3) uint8 RGB -> baseline JFIF, YCbCr 4:2:0, interleaved MCU
    scan — the exactly-3-component shape the reference decodes
    (``/root/reference/jpeg.c:27-32``; Y/U/V plane fill ``jpeg.c:38-76``)."""
    if rgb.ndim != 3 or rgb.shape[2] != 3:
        raise ValueError("color (h, w, 3) images only")
    h, w = rgb.shape[:2]
    mcuy, mcux = -(-h // 16), -(-w // 16)
    y, cb, cr = rgb_to_ycbcr(rgb)
    yb = _plane_blocks(y, 16 * mcuy, 16 * mcux)           # (2*mcuy, 2*mcux) grid
    cbb = _plane_blocks(subsample_420(cb), 8 * mcuy, 8 * mcux)
    crb = _plane_blocks(subsample_420(cr), 8 * mcuy, 8 * mcux)

    dc_c = _build_codes(DC_CHROMA_BITS, DC_CHROMA_VALS)
    ac_c = _build_codes(AC_CHROMA_BITS, AC_CHROMA_VALS)
    wr = _BitWriter()
    pred = {"y": 0, "cb": 0, "cr": 0}
    for my in range(mcuy):
        for mx in range(mcux):
            for dy in range(2):                           # 4 Y blocks, raster
                for dx in range(2):
                    pred["y"] = _encode_block(
                        wr, forward_dct_quant(yb[2 * my + dy, 2 * mx + dx]),
                        pred["y"], _DC_CODES, _AC_CODES,
                    )
            pred["cb"] = _encode_block(
                wr, forward_dct_quant(cbb[my, mx], _QC), pred["cb"], dc_c, ac_c
            )
            pred["cr"] = _encode_block(
                wr, forward_dct_quant(crb[my, mx], _QC), pred["cr"], dc_c, ac_c
            )
    entropy = wr.flush()

    zz_ql = bytes(int(_Q[r][c]) for (r, c) in ZIGZAG)
    zz_qc = bytes(int(_QC[r][c]) for (r, c) in ZIGZAG)
    out = bytearray()
    out += b"\xff\xd8"                                    # SOI
    out += _marker(0xE0, b"JFIF\x00\x01\x01\x00\x00\x01\x00\x01\x00\x00")
    out += _marker(0xDB, b"\x00" + zz_ql + b"\x01" + zz_qc)  # both q-tables
    out += _marker(
        0xC0,                                             # SOF0: 3 components
        b"\x08" + h.to_bytes(2, "big") + w.to_bytes(2, "big") + b"\x03"
        + b"\x01\x22\x00"                                 # Y:  2x2, q-table 0
        + b"\x02\x11\x01"                                 # Cb: 1x1, q-table 1
        + b"\x03\x11\x01",                                # Cr: 1x1, q-table 1
    )
    out += _marker(0xC4, b"\x00" + bytes(DC_BITS) + bytes(DC_VALS))
    out += _marker(0xC4, b"\x10" + bytes(AC_BITS) + bytes(AC_VALS))
    out += _marker(0xC4, b"\x01" + bytes(DC_CHROMA_BITS) + bytes(DC_CHROMA_VALS))
    out += _marker(0xC4, b"\x11" + bytes(AC_CHROMA_BITS) + bytes(AC_CHROMA_VALS))
    out += _marker(0xDA, b"\x03" + b"\x01\x00\x02\x11\x03\x11" + b"\x00\x3f\x00")
    out += entropy
    out += b"\xff\xd9"                                    # EOI
    return bytes(out)


def _parse_markers(data: bytes) -> dict:
    """JFIF scan -> parsed stream description:

    ``{"h", "w", "comps": [(comp_id, sh, sv, tq), ...], "qtables":
    {tq: 8x8 int64}, "huff": {(class, slot): (bits, vals)}, "scan":
    [(comp_id, dc_slot, ac_slot), ...], "entropy": bytes}``.

    Handles 1-component (grayscale, non-interleaved) and 3-component
    (YCbCr, interleaved) baseline streams; multiple tables per DQT/DHT
    segment. Raises ValueError — never a bare TypeError/IndexError — on
    any stream missing SOF0/DQT/DHT before SOS (ADVICE r02 #1: a
    JPEG-magic payload without SOF0 must fail loudly and clearly)."""
    if data[:2] != b"\xff\xd8":
        raise ValueError("not a JPEG (missing SOI)")
    pos = 2
    out: dict = {"h": None, "w": None, "comps": None, "qtables": {}, "huff": {}}
    while pos + 1 < len(data):
        if data[pos] != 0xFF:
            raise ValueError(f"expected marker at {pos}")
        tag = data[pos + 1]
        if tag == 0xD9:  # EOI
            break
        seg_len = int.from_bytes(data[pos + 2 : pos + 4], "big")
        body = data[pos + 4 : pos + 2 + seg_len]
        pos += 2 + seg_len
        if tag == 0xDB:  # DQT: one or more (pq/tq, 64 zigzag bytes) tables
            i = 0
            while i < len(body):
                pq, tq = body[i] >> 4, body[i] & 0x0F
                if pq != 0:
                    raise ValueError("only 8-bit quantization tables supported")
                flat = list(body[i + 1 : i + 65])
                if len(flat) != 64:
                    raise ValueError("truncated DQT segment")
                q = np.zeros((8, 8), dtype=np.int64)
                for j, (r, c) in enumerate(ZIGZAG):
                    q[r][c] = flat[j]
                out["qtables"][tq] = q
                i += 65
        elif tag == 0xC0:  # SOF0 baseline
            if body[0] != 8:
                raise ValueError("baseline 8-bit precision only")
            out["h"] = int.from_bytes(body[1:3], "big")
            out["w"] = int.from_bytes(body[3:5], "big")
            ncomp = body[5]
            if ncomp not in (1, 3):
                # the reference's own predicate: exactly 1 (demo) or 3
                # components (/root/reference/jpeg.c:27-32)
                raise ValueError(f"unsupported component count {ncomp}")
            out["comps"] = [
                (body[6 + 3 * i], body[7 + 3 * i] >> 4, body[7 + 3 * i] & 0x0F,
                 body[8 + 3 * i])
                for i in range(ncomp)
            ]
        elif tag == 0xC4:  # DHT: one or more (class/slot, bits, vals) tables
            i = 0
            while i < len(body):
                cls, slot = body[i] >> 4, body[i] & 0x0F
                bits = list(body[i + 1 : i + 17])
                n = sum(bits)
                vals = list(body[i + 17 : i + 17 + n])
                if len(bits) != 16 or len(vals) != n:
                    raise ValueError("truncated DHT segment")
                out["huff"][(cls, slot)] = (bits, vals)
                i += 17 + n
        elif tag == 0xDA:  # SOS: entropy data runs from here to EOI
            ns = body[0]
            out["scan"] = [
                (body[1 + 2 * i], body[2 + 2 * i] >> 4, body[2 + 2 * i] & 0x0F)
                for i in range(ns)
            ]
            end = data.rfind(b"\xff\xd9")
            if end < 0:
                raise ValueError("missing EOI")
            out["entropy"] = data[pos:end]
            if out["h"] is None or out["comps"] is None:
                raise ValueError("SOS before SOF0 (no frame header)")
            for cid, dc_slot, ac_slot in out["scan"]:
                if (0, dc_slot) not in out["huff"] or (1, ac_slot) not in out["huff"]:
                    raise ValueError("SOS references missing Huffman table")
            for _cid, _sh, _sv, tq in out["comps"]:
                if tq not in out["qtables"]:
                    raise ValueError("SOF0 references missing quantization table")
            return out
        # APP0 and others: skipped
    raise ValueError("missing SOS")


class _BlockDecoder:
    """Shared entropy-decode state: one bit reader, per-call Huffman trees."""

    def __init__(self, entropy: bytes) -> None:
        self.rd = _BitReader(entropy)

    def _read_symbol(self, tree):
        code, length = 0, 0
        while True:
            code = (code << 1) | self.rd.bit()
            length += 1
            if (length, code) in tree:
                return tree[(length, code)]
            if length > 16:
                raise ValueError("invalid Huffman stream")

    @staticmethod
    def _extend(bits: int, size: int) -> int:
        if size == 0:
            return 0
        if bits >> (size - 1):  # positive
            return bits
        return bits - (1 << size) + 1

    def block(self, dc_tree, ac_tree, prev_dc: int):
        """Decode one 8x8 block -> (coef 8x8 int64, new DC predictor)."""
        zz = [0] * 64
        size = self._read_symbol(dc_tree)
        prev_dc += self._extend(self.rd.bits(size), size)
        zz[0] = prev_dc
        i = 1
        while i < 64:
            sym = self._read_symbol(ac_tree)
            if sym == 0x00:  # EOB
                break
            if sym == 0xF0:  # ZRL
                i += 16
                continue
            run, size = sym >> 4, sym & 0x0F
            i += run
            if i > 63:
                raise ValueError("AC run past end of block")
            zz[i] = self._extend(self.rd.bits(size), size)
            i += 1
        out = np.zeros((8, 8), dtype=np.int64)
        for idx, (r, c) in enumerate(ZIGZAG):
            out[r, c] = zz[idx]
        return out, prev_dc


def decode_jpeg_to_dct_planes(data: bytes):
    """JFIF bytes -> (planes, h, w) where ``planes`` is a list of
    ``(comp_id, coefs (bh, bw, 8, 8) int64 QUANTIZED, qtable, sh, sv)``
    in SOF order — the reference's decode-to-Y/U/V-DCT-planes step
    (``/root/reference/jpeg.c:38-76``) for both grayscale and
    YCbCr 4:2:0 streams. Exact integer inverse of the entropy layer."""
    m = _parse_markers(data)
    h, w, comps = m["h"], m["w"], m["comps"]
    slots = {cid: (dc, ac) for cid, dc, ac in m["scan"]}
    trees = {k: _decode_tree(*spec) for k, spec in m["huff"].items()}
    dec = _BlockDecoder(m["entropy"])

    if len(comps) == 1:
        cid, _sh, _sv, tq = comps[0]
        dc_tree, ac_tree = trees[(0, slots[cid][0])], trees[(1, slots[cid][1])]
        bh, bw = -(-h // 8), -(-w // 8)
        coefs = np.zeros((bh, bw, 8, 8), dtype=np.int64)
        prev = 0
        for br in range(bh):
            for bc in range(bw):
                coefs[br, bc], prev = dec.block(dc_tree, ac_tree, prev)
        return [(cid, coefs, m["qtables"][tq], 1, 1)], h, w

    hmax = max(sh for _c, sh, _sv, _t in comps)
    vmax = max(sv for _c, _sh, sv, _t in comps)
    mcux, mcuy = -(-w // (8 * hmax)), -(-h // (8 * vmax))
    planes = {
        cid: np.zeros((mcuy * sv, mcux * sh, 8, 8), dtype=np.int64)
        for cid, sh, sv, _t in comps
    }
    pred = {cid: 0 for cid, *_ in comps}
    for my in range(mcuy):
        for mx in range(mcux):
            for cid, sh, sv, _tq in comps:  # SOF order within each MCU
                dc_tree = trees[(0, slots[cid][0])]
                ac_tree = trees[(1, slots[cid][1])]
                for dy in range(sv):
                    for dx in range(sh):
                        blk, pred[cid] = dec.block(dc_tree, ac_tree, pred[cid])
                        planes[cid][my * sv + dy, mx * sh + dx] = blk
    return (
        [(cid, planes[cid], m["qtables"][tq], sh, sv) for cid, sh, sv, tq in comps],
        h, w,
    )


def decode_jpeg_to_dct(data: bytes):
    """JFIF bytes -> (coefs (bh, bw, 8, 8) int64 QUANTIZED, h, w, qtable).

    Single-component (grayscale) entry point, kept for the established
    lanes; the reference-parity analog of decoding a container to its
    coefficient plane (``/root/reference/jpeg.c:16-122``)."""
    planes, h, w = decode_jpeg_to_dct_planes(data)
    if len(planes) != 1:
        raise ValueError("decode_jpeg_to_dct: single-component streams only")
    _cid, coefs, q, _sh, _sv = planes[0]
    return coefs, h, w, q
