"""Built-in baseline JPEG codec — pure stdlib + numpy, no image libraries.

First-principles implementation of the PUBLIC spec (ITU-T T.81 / ISO 10918-1;
tables from Annex K, entropy coding per Annex F, progressive mode per
Annex G): baseline sequential AND progressive DCT, 8-bit, Huffman entropy
coding. The encoders write 4:4:4 / 4:2:0 (or single-component grayscale);
``encode_jpeg`` emits baseline SOF0 with the Annex K tables and
``encode_progressive_jpeg`` emits SOF2 with a spectral-selection +
successive-approximation scan script and per-scan OPTIMAL Huffman tables
(Annex K.2 two-pass). The decoder reads baseline SOF0/1 streams with
4:4:4, 4:2:0 and 4:2:2 chroma subsampling, restart markers, and 1- or
3-component scans, plus progressive SOF2 streams (spectral selection,
successive approximation, EOB runs, AC/DC refinement). Arithmetic coding,
lossless modes, and 12-bit precision are out of scope and raise
``JPEGError`` with the reason.

Pillow (when installed) is a parity oracle, not a dependency. Pure-Python
bit-twiddling runs per 8x8 block, not per pixel; the numpy IDCT/color
steps are vectorized over whole planes.

No package code path calls this module: the Spark media stages and
the media catalog gates that used it are gone, and media is out of scope
for the validator (ROADMAP direction 4). It stays, with its tests, until
its own deletion.
"""

from __future__ import annotations

import struct

import numpy as np


class JPEGError(ValueError):
    """Malformed or unsupported JPEG payload."""


def is_jpeg(payload: bytes) -> bool:
    return len(payload) >= 3 and payload[:3] == b"\xff\xd8\xff"


# --------------------------------------------------------------------------
# Annex K tables (public spec constants)
# --------------------------------------------------------------------------

#: K.1 — luminance quantization (row-major natural order)
QT_LUM = np.array([
    16, 11, 10, 16, 24, 40, 51, 61,
    12, 12, 14, 19, 26, 58, 60, 55,
    14, 13, 16, 24, 40, 57, 69, 56,
    14, 17, 22, 29, 51, 87, 80, 62,
    18, 22, 37, 56, 68, 109, 103, 77,
    24, 35, 55, 64, 81, 104, 113, 92,
    49, 64, 78, 87, 103, 121, 120, 101,
    72, 92, 95, 98, 112, 100, 103, 99,
], dtype=np.int32)

#: K.2 — chrominance quantization
QT_CHROM = np.array([
    17, 18, 24, 47, 99, 99, 99, 99,
    18, 21, 26, 66, 99, 99, 99, 99,
    24, 26, 56, 99, 99, 99, 99, 99,
    47, 66, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
], dtype=np.int32)

#: zigzag order: ZIGZAG[i] = natural index of the i-th zigzag coefficient
ZIGZAG = np.array([
    0, 1, 8, 16, 9, 2, 3, 10, 17, 24, 32, 25, 18, 11, 4, 5,
    12, 19, 26, 33, 40, 48, 41, 34, 27, 20, 13, 6, 7, 14, 21, 28,
    35, 42, 49, 56, 57, 50, 43, 36, 29, 22, 15, 23, 30, 37, 44, 51,
    58, 59, 52, 45, 38, 31, 39, 46, 53, 60, 61, 54, 47, 55, 62, 63,
], dtype=np.int64)

# Annex K.3 Huffman specs: (BITS counts for lengths 1..16, HUFFVAL symbols)
HUFF_DC_LUM = (
    [0, 1, 5, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0, 0, 0],
    list(range(12)),
)
HUFF_DC_CHROM = (
    [0, 3, 1, 1, 1, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0],
    list(range(12)),
)
HUFF_AC_LUM = (
    [0, 2, 1, 3, 3, 2, 4, 3, 5, 5, 4, 4, 0, 0, 1, 0x7D],
    [
        0x01, 0x02, 0x03, 0x00, 0x04, 0x11, 0x05, 0x12,
        0x21, 0x31, 0x41, 0x06, 0x13, 0x51, 0x61, 0x07,
        0x22, 0x71, 0x14, 0x32, 0x81, 0x91, 0xA1, 0x08,
        0x23, 0x42, 0xB1, 0xC1, 0x15, 0x52, 0xD1, 0xF0,
        0x24, 0x33, 0x62, 0x72, 0x82, 0x09, 0x0A, 0x16,
        0x17, 0x18, 0x19, 0x1A, 0x25, 0x26, 0x27, 0x28,
        0x29, 0x2A, 0x34, 0x35, 0x36, 0x37, 0x38, 0x39,
        0x3A, 0x43, 0x44, 0x45, 0x46, 0x47, 0x48, 0x49,
        0x4A, 0x53, 0x54, 0x55, 0x56, 0x57, 0x58, 0x59,
        0x5A, 0x63, 0x64, 0x65, 0x66, 0x67, 0x68, 0x69,
        0x6A, 0x73, 0x74, 0x75, 0x76, 0x77, 0x78, 0x79,
        0x7A, 0x83, 0x84, 0x85, 0x86, 0x87, 0x88, 0x89,
        0x8A, 0x92, 0x93, 0x94, 0x95, 0x96, 0x97, 0x98,
        0x99, 0x9A, 0xA2, 0xA3, 0xA4, 0xA5, 0xA6, 0xA7,
        0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4, 0xB5, 0xB6,
        0xB7, 0xB8, 0xB9, 0xBA, 0xC2, 0xC3, 0xC4, 0xC5,
        0xC6, 0xC7, 0xC8, 0xC9, 0xCA, 0xD2, 0xD3, 0xD4,
        0xD5, 0xD6, 0xD7, 0xD8, 0xD9, 0xDA, 0xE1, 0xE2,
        0xE3, 0xE4, 0xE5, 0xE6, 0xE7, 0xE8, 0xE9, 0xEA,
        0xF1, 0xF2, 0xF3, 0xF4, 0xF5, 0xF6, 0xF7, 0xF8,
        0xF9, 0xFA,
    ],
)
HUFF_AC_CHROM = (
    [0, 2, 1, 2, 4, 4, 3, 4, 7, 5, 4, 4, 0, 1, 2, 0x77],
    [
        0x00, 0x01, 0x02, 0x03, 0x11, 0x04, 0x05, 0x21,
        0x31, 0x06, 0x12, 0x41, 0x51, 0x07, 0x61, 0x71,
        0x13, 0x22, 0x32, 0x81, 0x08, 0x14, 0x42, 0x91,
        0xA1, 0xB1, 0xC1, 0x09, 0x23, 0x33, 0x52, 0xF0,
        0x15, 0x62, 0x72, 0xD1, 0x0A, 0x16, 0x24, 0x34,
        0xE1, 0x25, 0xF1, 0x17, 0x18, 0x19, 0x1A, 0x26,
        0x27, 0x28, 0x29, 0x2A, 0x35, 0x36, 0x37, 0x38,
        0x39, 0x3A, 0x43, 0x44, 0x45, 0x46, 0x47, 0x48,
        0x49, 0x4A, 0x53, 0x54, 0x55, 0x56, 0x57, 0x58,
        0x59, 0x5A, 0x63, 0x64, 0x65, 0x66, 0x67, 0x68,
        0x69, 0x6A, 0x73, 0x74, 0x75, 0x76, 0x77, 0x78,
        0x79, 0x7A, 0x82, 0x83, 0x84, 0x85, 0x86, 0x87,
        0x88, 0x89, 0x8A, 0x92, 0x93, 0x94, 0x95, 0x96,
        0x97, 0x98, 0x99, 0x9A, 0xA2, 0xA3, 0xA4, 0xA5,
        0xA6, 0xA7, 0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4,
        0xB5, 0xB6, 0xB7, 0xB8, 0xB9, 0xBA, 0xC2, 0xC3,
        0xC4, 0xC5, 0xC6, 0xC7, 0xC8, 0xC9, 0xCA, 0xD2,
        0xD3, 0xD4, 0xD5, 0xD6, 0xD7, 0xD8, 0xD9, 0xDA,
        0xE2, 0xE3, 0xE4, 0xE5, 0xE6, 0xE7, 0xE8, 0xE9,
        0xEA, 0xF2, 0xF3, 0xF4, 0xF5, 0xF6, 0xF7, 0xF8,
        0xF9, 0xFA,
    ],
)

# 8x8 DCT-II basis (orthonormal): dct2(b) = M @ b @ M.T, idct2 = M.T @ b @ M
_K = np.arange(8)
_M = np.sqrt(2.0 / 8.0) * np.cos((2 * _K[None, :] + 1) * _K[:, None] * np.pi / 16.0)
_M[0, :] = np.sqrt(1.0 / 8.0)


def _build_huff_codes(bits: list[int], vals: list[int]) -> dict[int, tuple[int, int]]:
    """symbol -> (code, length) per Annex C code assignment."""
    codes: dict[int, tuple[int, int]] = {}
    code = 0
    k = 0
    for length in range(1, 17):
        for _ in range(bits[length - 1]):
            codes[vals[k]] = (code, length)
            code += 1
            k += 1
        code <<= 1
    return codes


def _build_huff_lut(bits: list[int], vals: list[int]) -> dict[tuple[int, int], int]:
    """(length, code) -> symbol, for the decoder's bit-serial walk."""
    lut: dict[tuple[int, int], int] = {}
    code = 0
    k = 0
    for length in range(1, 17):
        for _ in range(bits[length - 1]):
            lut[(length, code)] = vals[k]
            code += 1
            k += 1
        code <<= 1
    return lut


# --------------------------------------------------------------------------
# encoder
# --------------------------------------------------------------------------


def _quality_scale(qt: np.ndarray, quality: int) -> np.ndarray:
    """IJG quality scaling of a base table (public libjpeg convention)."""
    quality = min(100, max(1, quality))
    s = 5000 // quality if quality < 50 else 200 - quality * 2
    return np.clip((qt * s + 50) // 100, 1, 255).astype(np.int32)


class _BitWriter:
    def __init__(self) -> None:
        self.buf = bytearray()
        self._acc = 0
        self._n = 0

    def write(self, code: int, length: int) -> None:
        self._acc = (self._acc << length) | (code & ((1 << length) - 1))
        self._n += length
        while self._n >= 8:
            byte = (self._acc >> (self._n - 8)) & 0xFF
            self.buf.append(byte)
            if byte == 0xFF:  # byte stuffing (F.1.2.3)
                self.buf.append(0x00)
            self._n -= 8
        self._acc &= (1 << self._n) - 1

    def flush(self) -> None:
        if self._n:
            self.write(0x7F, 8 - self._n)  # pad with 1s


def _magnitude(v: int) -> tuple[int, int]:
    """(size category, amplitude bits) per F.1.2.1."""
    if v == 0:
        return 0, 0
    a = abs(v)
    size = a.bit_length()
    bits = v if v > 0 else v + (1 << size) - 1
    return size, bits


def _encode_plane_blocks(
    plane: np.ndarray, qt: np.ndarray
) -> np.ndarray:
    """All 8x8 blocks of a (padded) plane → quantized zigzag coeffs
    (n_blocks, 64), vectorized with one matrix DCT over every block."""
    h, w = plane.shape
    blocks = (
        plane.reshape(h // 8, 8, w // 8, 8).transpose(0, 2, 1, 3).reshape(-1, 8, 8)
    )
    shifted = blocks.astype(np.float64) - 128.0
    coeffs = np.einsum("ij,njk,lk->nil", _M, shifted, _M)
    q = np.round(coeffs.reshape(-1, 64) / qt[None, :]).astype(np.int32)
    return q[:, ZIGZAG]


def _pad_to_multiple(plane: np.ndarray, m: int) -> np.ndarray:
    h, w = plane.shape
    ph, pw = (-h) % m, (-w) % m
    return np.pad(plane, ((0, ph), (0, pw)), mode="edge") if (ph or pw) else plane


def rgb_to_ycbcr(rgb: np.ndarray) -> np.ndarray:
    r, g, b = (rgb[..., i].astype(np.float64) for i in range(3))
    y = 0.299 * r + 0.587 * g + 0.114 * b
    cb = 128.0 - 0.168736 * r - 0.331264 * g + 0.5 * b
    cr = 128.0 + 0.5 * r - 0.418688 * g - 0.081312 * b
    return np.stack([y, cb, cr], axis=-1)


def ycbcr_to_rgb(ycc: np.ndarray) -> np.ndarray:
    y = ycc[..., 0].astype(np.float64)
    cb = ycc[..., 1].astype(np.float64) - 128.0
    cr = ycc[..., 2].astype(np.float64) - 128.0
    r = y + 1.402 * cr
    g = y - 0.344136 * cb - 0.714136 * cr
    b = y + 1.772 * cb
    # round, don't truncate: astype alone floors 52.999… to 52, breaking
    # the exact flat-color roundtrip the decode audits rely on
    return np.clip(np.round(np.stack([r, g, b], axis=-1)), 0, 255).astype(np.uint8)


def _encode_block(bw, zz, t, pred, c, dc_codes, ac_codes):
    diff = int(zz[0]) - pred[c]
    pred[c] = int(zz[0])
    size, bits_v = _magnitude(diff)
    code, ln = dc_codes[t][size]
    bw.write(code, ln)
    if size:
        bw.write(bits_v, size)
    run = 0
    last_nz = np.nonzero(zz[1:])[0]
    last = last_nz[-1] + 1 if len(last_nz) else 0
    for k in range(1, last + 1):
        v = int(zz[k])
        if v == 0:
            run += 1
            continue
        while run > 15:
            code, ln = ac_codes[t][0xF0]  # ZRL
            bw.write(code, ln)
            run -= 16
        size, bits_v = _magnitude(v)
        code, ln = ac_codes[t][(run << 4) | size]
        bw.write(code, ln)
        bw.write(bits_v, size)
        run = 0
    if last < 63:
        code, ln = ac_codes[t][0x00]  # EOB
        bw.write(code, ln)


def _encode_setup(arr: np.ndarray, quality: int, subsample: str):
    """Shared encoder front end (validation, color transform, chroma
    downsample, MCU padding, quality-scaled quant tables) for the baseline
    and progressive entry points. Returns
    ``(h, w, gray, planes, qts, samp)`` with ``samp`` as (v, h) factors."""
    if arr.dtype != np.uint8:
        raise JPEGError("encode_jpeg expects uint8")
    gray = arr.ndim == 2
    if not gray and (arr.ndim != 3 or arr.shape[2] != 3):
        raise JPEGError("encode_jpeg expects HxW (gray) or HxWx3 (RGB)")
    if subsample not in ("444", "420"):
        raise JPEGError(f"unsupported subsampling {subsample}")
    h, w = arr.shape[:2]
    if h == 0 or w == 0:
        raise JPEGError("zero dimension")

    qt_l = _quality_scale(QT_LUM, quality)
    qt_c = _quality_scale(QT_CHROM, quality)
    sub = subsample == "420" and not gray
    ly, lx = (2, 2) if sub else (1, 1)  # luma sampling factors (v, h)
    if gray:
        planes = [_pad_to_multiple(arr.astype(np.float64), 8)]
        qts = [qt_l]
        samp = [(1, 1)]
    else:
        ycc = rgb_to_ycbcr(arr)
        yp = np.clip(np.round(ycc[..., 0]), 0, 255)
        cbp = np.clip(np.round(ycc[..., 1]), 0, 255)
        crp = np.clip(np.round(ycc[..., 2]), 0, 255)
        if sub:
            # pad to even, then 2x2 mean — the conventional downsample
            def down(p):
                p = _pad_to_multiple(p, 2)
                return (
                    p.reshape(p.shape[0] // 2, 2, p.shape[1] // 2, 2)
                    .mean(axis=(1, 3))
                )
            cbp, crp = down(cbp), down(crp)
        # pad each plane to ITS MCU multiple (16 for subsampled luma grid,
        # 8 for chroma; 8 everywhere at 4:4:4)
        planes = [
            _pad_to_multiple(yp, 8 * (2 if sub else 1)),
            _pad_to_multiple(cbp, 8),
            _pad_to_multiple(crp, 8),
        ]
        qts = [qt_l, qt_c, qt_c]
        samp = [(ly, lx), (1, 1), (1, 1)]
    return h, w, gray, planes, qts, samp


def encode_jpeg(arr: np.ndarray, quality: int = 85, subsample: str = "444") -> bytes:
    """Baseline sequential JPEG: HxWx3 RGB at 4:4:4 (``subsample='444'``) or
    4:2:0 (``'420'``, 2x2-mean chroma downsample — the common camera
    layout), or single-component grayscale for HxW input. Annex K quant
    (IJG quality-scaled) + Annex K Huffman tables."""
    h, w, gray, planes, qts, samp = _encode_setup(arr, quality, subsample)
    ly, lx = samp[0]

    dc_codes = [_build_huff_codes(*HUFF_DC_LUM), _build_huff_codes(*HUFF_DC_CHROM)]
    ac_codes = [_build_huff_codes(*HUFF_AC_LUM), _build_huff_codes(*HUFF_AC_CHROM)]

    out = bytearray()
    out += b"\xff\xd8"  # SOI
    out += b"\xff\xe0" + struct.pack(">H", 16) + b"JFIF\x00\x01\x01\x00\x00\x01\x00\x01\x00\x00"
    ncomp = 1 if gray else 3
    for tid in range(1 if gray else 2):
        qt = qts[tid]
        out += b"\xff\xdb" + struct.pack(">HB", 67, tid) + bytes(qt[ZIGZAG].astype(np.uint8))
    out += b"\xff\xc0" + struct.pack(">HBHHB", 8 + 3 * ncomp, 8, h, w, ncomp)
    for cid in range(ncomp):
        v, hh = samp[cid]
        out += bytes([cid + 1, (hh << 4) | v, 0 if cid == 0 else 1])
    for cls, tid, spec in (
        (0, 0, HUFF_DC_LUM), (1, 0, HUFF_AC_LUM),
        (0, 1, HUFF_DC_CHROM), (1, 1, HUFF_AC_CHROM),
    )[: 2 if gray else 4]:
        bits, vals = spec
        out += b"\xff\xc4" + struct.pack(">HB", 19 + len(vals), (cls << 4) | tid)
        out += bytes(bits) + bytes(vals)
    out += b"\xff\xda" + struct.pack(">HB", 6 + 2 * ncomp, ncomp)
    for cid in range(ncomp):
        t = 0 if cid == 0 else 1
        out += bytes([cid + 1, (t << 4) | t])
    out += b"\x00\x3f\x00"

    # per-component quantized zigzag blocks, addressable by (block_y, block_x)
    coeffs = []
    bw_dims = []
    for i, p in enumerate(planes):
        q = _encode_plane_blocks(p, qts[i])
        coeffs.append(q)
        bw_dims.append(p.shape[1] // 8)
    mcus_x = planes[0].shape[1] // (8 * lx) if not gray else planes[0].shape[1] // 8
    mcus_y = planes[0].shape[0] // (8 * ly) if not gray else planes[0].shape[0] // 8
    bw = _BitWriter()
    pred = [0] * ncomp
    for my in range(mcus_y):
        for mx in range(mcus_x):
            for c in range(ncomp):
                t = 0 if c == 0 else 1
                v, hh = samp[c]
                for by in range(v):
                    for bx in range(hh):
                        bidx = (my * v + by) * bw_dims[c] + (mx * hh + bx)
                        _encode_block(bw, coeffs[c][bidx], t, pred, c, dc_codes, ac_codes)
    bw.flush()
    out += bw.buf
    out += b"\xff\xd9"  # EOI
    return bytes(out)


# --------------------------------------------------------------------------
# decoder
# --------------------------------------------------------------------------


class _BitReader:
    """Entropy-coded segment reader: unstuffs 0xFF00, stops at markers."""

    def __init__(self, data: bytes, pos: int) -> None:
        self.data = data
        self.pos = pos
        self._acc = 0
        self._n = 0

    def _fill(self) -> None:
        d = self.data
        if self.pos >= len(d):
            raise JPEGError("truncated entropy segment")
        byte = d[self.pos]
        if byte == 0xFF:
            nxt = d[self.pos + 1] if self.pos + 1 < len(d) else 0xD9
            if nxt == 0x00:
                self.pos += 2
            elif 0xD0 <= nxt <= 0xD7:
                raise JPEGError("unexpected RST inside block")
            else:
                # marker: pad with 1s (spec allows reading past the end of
                # the final truncated byte)
                self._acc = (self._acc << 8) | 0xFF
                self._n += 8
                return
        else:
            self.pos += 1
        self._acc = (self._acc << 8) | byte
        self._n += 8

    def bit(self) -> int:
        if self._n == 0:
            self._fill()
        self._n -= 1
        return (self._acc >> self._n) & 1

    def bits(self, n: int) -> int:
        v = 0
        for _ in range(n):
            v = (v << 1) | self.bit()
        return v

    def align_restart(self) -> None:
        """Consume a restart marker at a byte boundary."""
        self._acc = 0
        self._n = 0
        d = self.data
        while self.pos + 1 < len(d) and not (
            d[self.pos] == 0xFF and 0xD0 <= d[self.pos + 1] <= 0xD7
        ):
            self.pos += 1
        if self.pos + 1 >= len(d):
            raise JPEGError("missing restart marker")
        self.pos += 2


def _decode_huff(br: _BitReader, lut: dict[tuple[int, int], int]) -> int:
    code = 0
    for length in range(1, 17):
        code = (code << 1) | br.bit()
        sym = lut.get((length, code))
        if sym is not None:
            return sym
    raise JPEGError("invalid Huffman code")


def _extend(v: int, size: int) -> int:
    return v if v >= (1 << (size - 1)) else v - (1 << size) + 1


def decode_jpeg(data: bytes) -> np.ndarray:
    """JPEG → HxW (grayscale) or HxWx3 RGB uint8.

    Handles baseline sequential (SOF0/SOF1) in a single streaming scan and
    progressive DCT (SOF2, ITU T.81 Annex G: spectral selection +
    successive approximation, EOB runs, AC/DC refinement scans) by
    accumulating coefficients across scans and running one vectorized
    IDCT at EOI.
    """
    if not is_jpeg(data):
        raise JPEGError("not a JPEG (missing SOI)")
    pos = 2
    qts: dict[int, np.ndarray] = {}
    dc_luts: dict[int, dict] = {}
    ac_luts: dict[int, dict] = {}
    frame = None
    restart_interval = 0
    stores: list[np.ndarray] | None = None  # progressive coefficient planes
    n_scans = 0
    while pos + 4 <= len(data):
        if data[pos] != 0xFF:
            raise JPEGError("marker desync")
        marker = data[pos + 1]
        if marker == 0xD9:
            break
        seglen = struct.unpack(">H", data[pos + 2 : pos + 4])[0]
        body = data[pos + 4 : pos + 2 + seglen]
        pos += 2 + seglen
        if marker == 0xDB:  # DQT
            i = 0
            while i < len(body):
                pq, tq = body[i] >> 4, body[i] & 0xF
                if pq != 0:
                    raise JPEGError("16-bit quant tables unsupported")
                if len(body) < i + 65:
                    raise JPEGError("truncated DQT")
                tbl = np.frombuffer(body[i + 1 : i + 65], dtype=np.uint8).astype(np.int32)
                nat = np.zeros(64, dtype=np.int32)
                nat[ZIGZAG] = tbl
                qts[tq] = nat
                i += 65
        elif marker == 0xC4:  # DHT
            i = 0
            while i < len(body):
                cls, tid = body[i] >> 4, body[i] & 0xF
                bits = list(body[i + 1 : i + 17])
                nv = sum(bits)
                if len(body) < i + 17 + nv or len(bits) < 16:
                    raise JPEGError("truncated DHT")
                vals = list(body[i + 17 : i + 17 + nv])
                # B.2.4.2: DC symbols are magnitude categories SSSS 0-15;
                # anything larger would make the decoder read >16 diff
                # bits per block and grow the predictor without bound
                if cls == 0 and any(v > 15 for v in vals):
                    raise JPEGError("DC Huffman symbol exceeds category 15")
                (dc_luts if cls == 0 else ac_luts)[tid] = _build_huff_lut(bits, vals)
                i += 17 + nv
        elif marker in (0xC0, 0xC1, 0xC2):  # SOF0/1 baseline, SOF2 progressive
            if len(body) < 6:
                raise JPEGError("truncated SOF")
            prec, h, w, nc = body[0], *struct.unpack(">HH", body[1:5]), body[5]
            if len(body) < 6 + 3 * nc:
                raise JPEGError("truncated SOF components")
            if prec != 8:
                raise JPEGError("only 8-bit precision supported")
            comps = []
            for c in range(nc):
                cid, hv, tq = body[6 + 3 * c : 9 + 3 * c]
                comps.append({"id": cid, "h": hv >> 4, "v": hv & 0xF, "tq": tq})
            frame = {"h": h, "w": w, "comps": comps, "progressive": marker == 0xC2}
        elif marker in (0xC3, 0xC5, 0xC6, 0xC7, 0xC9, 0xCA, 0xCB, 0xCD, 0xCE, 0xCF):
            raise JPEGError("non-baseline JPEG (lossless/arithmetic) unsupported")
        elif marker == 0xDD:  # DRI
            if len(body) < 2:
                raise JPEGError("truncated DRI")
            restart_interval = struct.unpack(">H", body[:2])[0]
        elif marker == 0xDA:  # SOS — entropy data follows
            if frame is None:
                raise JPEGError("SOS before SOF")
            if not body:
                raise JPEGError("truncated SOS")
            ns = body[0]
            if len(body) < 4 + 2 * ns:
                raise JPEGError("truncated SOS")
            scan = []
            for s in range(ns):
                cs, tt = body[1 + 2 * s], body[2 + 2 * s]
                comp = next(
                    (c for c in frame["comps"] if c["id"] == cs), None
                )
                if comp is None:
                    raise JPEGError("SOS names unknown component")
                scan.append((comp, tt >> 4, tt & 0xF))
            if not frame["progressive"]:
                return _decode_scan(
                    data, pos, frame, scan, qts, dc_luts, ac_luts, restart_interval
                )
            ss, se = body[1 + 2 * ns], body[2 + 2 * ns]
            ahal = body[3 + 2 * ns]
            if stores is None:
                stores = _alloc_coef_stores(frame)
            pos = _decode_progressive_scan(
                data, pos, frame, scan, ss, se, ahal >> 4, ahal & 0xF,
                stores, dc_luts, ac_luts, restart_interval,
            )
            n_scans += 1
    if stores is not None and n_scans:
        return _reconstruct_progressive(frame, stores, qts)
    raise JPEGError("no scan data")


def _decode_scan(data, pos, frame, scan, qts, dc_luts, ac_luts, restart_interval):
    for comp, td, ta in scan:
        if comp["tq"] not in qts:
            raise JPEGError("scan references undefined quantization table")
        if td not in dc_luts or ta not in ac_luts:
            raise JPEGError("scan references undefined Huffman table")
    h, w = frame["h"], frame["w"]
    hmax = max(c["h"] for c, _, _ in scan)
    vmax = max(c["v"] for c, _, _ in scan)
    mcus_x = -(-w // (8 * hmax))
    mcus_y = -(-h // (8 * vmax))
    # per-component coefficient planes (padded to MCU grid)
    planes = [
        np.zeros((mcus_y * c["v"] * 8, mcus_x * c["h"] * 8), dtype=np.float64)
        for c, _, _ in scan
    ]
    br = _BitReader(data, pos)
    pred = [0] * len(scan)
    n_mcu = mcus_x * mcus_y
    for m in range(n_mcu):
        if restart_interval and m and m % restart_interval == 0:
            br.align_restart()
            pred = [0] * len(scan)
        my, mx = divmod(m, mcus_x)
        for ci, (comp, td, ta) in enumerate(scan):
            qt = qts[comp["tq"]]
            for by in range(comp["v"]):
                for bx in range(comp["h"]):
                    zz = np.zeros(64, dtype=np.int32)
                    size = _decode_huff(br, dc_luts[td])
                    if size:
                        pred[ci] += _extend(br.bits(size), size)
                    # same int32-store guard as the progressive DC path
                    if not -(1 << 31) <= pred[ci] < (1 << 31):
                        raise JPEGError("DC coefficient out of int32 range")
                    zz[0] = pred[ci]
                    k = 1
                    while k < 64:
                        rs = _decode_huff(br, ac_luts[ta])
                        r, s = rs >> 4, rs & 0xF
                        if s == 0:
                            if r == 15:
                                k += 16
                                continue
                            break  # EOB
                        k += r
                        if k > 63:
                            raise JPEGError("AC index overflow")
                        zz[k] = _extend(br.bits(s), s)
                        k += 1
                    nat = np.zeros(64, dtype=np.float64)
                    # scatter zigzag coeffs to natural order FIRST, then
                    # dequantize with the natural-order table (multiplying
                    # before the scatter pairs coefficient k with the wrong
                    # quant entry for every position where ZIGZAG[k] != k)
                    nat[ZIGZAG] = zz
                    nat *= qt
                    blk = _M.T @ nat.reshape(8, 8) @ _M + 128.0
                    y0 = (my * comp["v"] + by) * 8
                    x0 = (mx * comp["h"] + bx) * 8
                    planes[ci][y0 : y0 + 8, x0 : x0 + 8] = blk
    # upsample each component to full resolution and crop
    full = []
    for ci, (comp, _, _) in enumerate(scan):
        p = planes[ci]
        ry, rx = vmax // comp["v"], hmax // comp["h"]
        if ry > 1 or rx > 1:
            p = np.repeat(np.repeat(p, ry, axis=0), rx, axis=1)
        full.append(p[:h, :w])
    if len(full) == 1:
        return np.clip(np.round(full[0]), 0, 255).astype(np.uint8)
    if len(full) == 3:
        return ycbcr_to_rgb(np.stack(full, axis=-1))
    raise JPEGError(f"unsupported component count {len(full)}")


# --------------------------------------------------------------------------
# progressive DCT decoding (ITU T.81 Annex G)
# --------------------------------------------------------------------------
#
# Progressive streams deliver each block's 64 quantized coefficients over
# MULTIPLE scans: spectral selection (a scan covers one zigzag band
# [Ss..Se]) crossed with successive approximation (a first scan delivers
# the magnitude bits above Al; refinement scans with Ah = Al+1 deliver one
# lower bit per coefficient). The decoder therefore accumulates integer
# coefficients per block across scans and defers dequantize+IDCT to EOI.
# Coefficients are held sign-magnitude-consistently: a first scan stores
# value << Al; AC refinement adds ±(1 << Al) toward the sign; DC
# refinement ORs the bit in (two's complement OR equals magnitude-bit set
# for the DC path because DC uses an arithmetic-shift point transform).


def _frame_geometry(frame: dict) -> tuple[int, int, int, int]:
    comps = frame["comps"]
    hmax = max(c["h"] for c in comps)
    vmax = max(c["v"] for c in comps)
    mcus_x = -(-frame["w"] // (8 * hmax))
    mcus_y = -(-frame["h"] // (8 * vmax))
    return hmax, vmax, mcus_x, mcus_y


def _comp_block_dims(frame: dict, comp: dict) -> tuple[int, int]:
    """Non-interleaved block grid: ceil(component sample dims / 8)
    (A.2.2 — padding blocks to the MCU grid are NOT coded in
    non-interleaved scans)."""
    hmax, vmax, _, _ = _frame_geometry(frame)
    sw = -(-frame["w"] * comp["h"] // hmax)
    sh = -(-frame["h"] * comp["v"] // vmax)
    return -(-sh // 8), -(-sw // 8)


def _alloc_coef_stores(frame: dict) -> list[np.ndarray]:
    """Per-component zigzag-order coefficient planes on the MCU-padded
    grid (interleaved DC scans code the padding blocks too)."""
    _, _, mcus_x, mcus_y = _frame_geometry(frame)
    return [
        np.zeros((mcus_y * c["v"], mcus_x * c["h"], 64), dtype=np.int32)
        for c in frame["comps"]
    ]


def _dec_dc_block(br, store, by, bx, td, ah, al, pred, ci, dc_luts):
    if ah == 0:  # first DC scan: Huffman diff, point transform << Al
        if td not in dc_luts:
            raise JPEGError("DC scan references undefined Huffman table")
        size = _decode_huff(br, dc_luts[td])
        if size:
            pred[ci] += _extend(br.bits(size), size)
        v = pred[ci] << al
        # valid 8-bit streams keep |DC| well under 2^24 (|quantized DC|
        # <= 2047, Al <= 13); a corrupted diff sequence can walk the
        # predictor past the int32 coefficient store — reject typed
        # instead of letting numpy raise OverflowError
        if not -(1 << 31) <= v < (1 << 31):
            raise JPEGError("DC coefficient out of int32 range")
        store[by, bx, 0] = v
    else:  # refinement: one raw bit per block (G.2.1)
        if br.bit():
            store[by, bx, 0] |= 1 << al


def _dec_ac_first(br, blk, ss, se, al, eobrun, lut) -> int:
    """One block of an AC first scan (Ah=0, G.2.2): returns new EOB run."""
    if eobrun > 0:
        return eobrun - 1
    k = ss
    while k <= se:
        rs = _decode_huff(br, lut)
        r, s = rs >> 4, rs & 0xF
        if s == 0:
            if r != 15:  # EOBn: run of 2^r + appended bits end-of-bands
                eobrun = (1 << r) - 1
                if r:
                    eobrun += br.bits(r)
                break
            k += 16  # ZRL
            continue
        k += r
        if k > se:
            raise JPEGError("AC index past band end in progressive scan")
        blk[k] = _extend(br.bits(s), s) << al
        k += 1
    return eobrun


def _dec_ac_refine(br, blk, ss, se, al, eobrun, lut) -> int:
    """One block of an AC refinement scan (Ah=Al+1, G.2.2 / Figure G.7).

    Coefficients with nonzero history receive a correction bit whenever the
    scan passes over them (inside runs, after newly-significant insertions,
    and through the tail of every block covered by an EOB run); zero-history
    coefficients are counted by the run lengths, with s=1 symbols inserting
    newly-significant ±(1 << Al) values.
    """
    p1 = 1 << al
    k = ss
    if eobrun == 0:
        while k <= se:
            rs = _decode_huff(br, lut)
            r, s = rs >> 4, rs & 0xF
            if s == 0:
                if r != 15:
                    eobrun = 1 << r
                    if r:
                        eobrun += br.bits(r)
                    break
                newval = 0  # ZRL: pass over 16 zero-history coefficients
            else:
                if s != 1:
                    raise JPEGError("refinement scan magnitude must be 1")
                newval = p1 if br.bit() else -p1
            while k <= se:
                v = int(blk[k])
                if v != 0:
                    if br.bit() and (abs(v) & p1) == 0:
                        blk[k] = v + p1 if v > 0 else v - p1
                else:
                    if r == 0:
                        break
                    r -= 1
                k += 1
            if newval and k <= se:
                blk[k] = newval
            k += 1
    if eobrun > 0:
        while k <= se:  # EOB-run tail: correction bits only
            v = int(blk[k])
            if v != 0 and br.bit() and (abs(v) & p1) == 0:
                blk[k] = v + p1 if v > 0 else v - p1
            k += 1
        eobrun -= 1
    return eobrun


def _skip_to_marker(data: bytes, br: _BitReader) -> int:
    """Advance past the scan's entropy bytes to the next real marker."""
    p = br.pos
    while p + 1 < len(data):
        if data[p] == 0xFF:
            nxt = data[p + 1]
            if nxt == 0x00 or 0xD0 <= nxt <= 0xD7:
                p += 2
                continue
            return p
        p += 1
    return len(data)


def _decode_progressive_scan(
    data, pos, frame, scan, ss, se, ah, al, stores, dc_luts, ac_luts,
    restart_interval,
) -> int:
    """Entropy-decode one progressive scan into the coefficient stores;
    returns the byte offset of the next marker."""
    br = _BitReader(data, pos)
    comps = frame["comps"]
    idx = {c["id"]: i for i, c in enumerate(comps)}
    _, _, mcus_x, mcus_y = _frame_geometry(frame)
    if ss == 0:
        if se != 0:
            raise JPEGError("DC scan must have Se = 0 (G.1.1.1.1)")
        pred = [0] * len(scan)
        if len(scan) == 1:  # non-interleaved single-component DC scan
            comp, td, _ = scan[0]
            store = stores[idx[comp["id"]]]
            nby, nbx = _comp_block_dims(frame, comp)
            n = 0
            for by in range(nby):
                for bx in range(nbx):
                    if restart_interval and n and n % restart_interval == 0:
                        br.align_restart()
                        pred = [0]
                    _dec_dc_block(br, store, by, bx, td, ah, al, pred, 0, dc_luts)
                    n += 1
        else:  # interleaved MCU walk over the scan components
            for m in range(mcus_x * mcus_y):
                if restart_interval and m and m % restart_interval == 0:
                    br.align_restart()
                    pred = [0] * len(scan)
                my, mx = divmod(m, mcus_x)
                for ci, (comp, td, _) in enumerate(scan):
                    store = stores[idx[comp["id"]]]
                    for by in range(comp["v"]):
                        for bx in range(comp["h"]):
                            _dec_dc_block(
                                br, store, my * comp["v"] + by,
                                mx * comp["h"] + bx, td, ah, al, pred, ci,
                                dc_luts,
                            )
    else:
        if len(scan) != 1:
            raise JPEGError("progressive AC scans are non-interleaved (G.1.1.1)")
        comp, _, ta = scan[0]
        if ta not in ac_luts:
            raise JPEGError("AC scan references undefined Huffman table")
        store = stores[idx[comp["id"]]]
        nby, nbx = _comp_block_dims(frame, comp)
        lut = ac_luts[ta]
        eobrun = 0
        n = 0
        for by in range(nby):
            for bx in range(nbx):
                if restart_interval and n and n % restart_interval == 0:
                    br.align_restart()
                    eobrun = 0
                blk = store[by, bx]
                if ah == 0:
                    eobrun = _dec_ac_first(br, blk, ss, se, al, eobrun, lut)
                else:
                    eobrun = _dec_ac_refine(br, blk, ss, se, al, eobrun, lut)
                n += 1
    return _skip_to_marker(data, br)


def _reconstruct_progressive(frame, stores, qts) -> np.ndarray:
    """Dequantize + IDCT every accumulated block (vectorized over whole
    planes), then upsample / crop / color-convert exactly as baseline."""
    h, w = frame["h"], frame["w"]
    hmax, vmax, _, _ = _frame_geometry(frame)
    full = []
    for ci, comp in enumerate(frame["comps"]):
        if comp["tq"] not in qts:
            raise JPEGError("missing quantization table")
        qt = qts[comp["tq"]].astype(np.float64)
        st = stores[ci]
        nby, nbx, _ = st.shape
        nat = np.zeros((nby * nbx, 64), dtype=np.float64)
        nat[:, ZIGZAG] = st.reshape(-1, 64)
        nat *= qt[None, :]
        blocks = np.einsum("ji,njk,kl->nil", _M, nat.reshape(-1, 8, 8), _M) + 128.0
        plane = (
            blocks.reshape(nby, nbx, 8, 8)
            .transpose(0, 2, 1, 3)
            .reshape(nby * 8, nbx * 8)
        )
        ry, rx = vmax // comp["v"], hmax // comp["h"]
        if ry > 1 or rx > 1:
            plane = np.repeat(np.repeat(plane, ry, axis=0), rx, axis=1)
        full.append(plane[:h, :w])
    if len(full) == 1:
        return np.clip(np.round(full[0]), 0, 255).astype(np.uint8)
    if len(full) == 3:
        return ycbcr_to_rgb(np.stack(full, axis=-1))
    raise JPEGError(f"unsupported component count {len(full)}")


# --------------------------------------------------------------------------
# progressive DCT encoding (ITU T.81 Annex G.1 + Annex K.2 optimal tables)
# --------------------------------------------------------------------------
#
# The Annex K Huffman tables lack the EOBn symbols (0x10..0xE0) that carry
# progressive end-of-band runs, so AC scans are encoded two-pass: a counting
# pass gathers the scan's symbol frequencies, Annex K.2's algorithm builds
# an optimal (≤16-bit, no-all-ones-code) table, a DHT redefining AC table 0
# is emitted before each SOS, then the scan is encoded for real. DC scans
# reuse the Annex K DC tables (size categories 0..11 are always present).


def _gen_optimal_huff(freq_map: dict[int, int]) -> tuple[list[int], list[int]]:
    """Annex K.2 (Figures K.1-K.3): symbol frequencies → (BITS, HUFFVAL).

    A reserved pseudo-symbol (256) gets frequency 1 so no real symbol is
    assigned the all-ones code; code lengths are limited to 16 bits by the
    Figure K.3 adjustment.
    """
    if not freq_map:
        freq_map = {0: 1}
    freq = [0] * 257
    for s, c in freq_map.items():
        freq[s] = c
    freq[256] = 1
    codesize = [0] * 257
    others = [-1] * 257
    while True:
        v1, f1 = -1, None
        for i in range(257):
            if freq[i] > 0 and (f1 is None or freq[i] <= f1):
                f1, v1 = freq[i], i
        v2, f2 = -1, None
        for i in range(257):
            if i != v1 and freq[i] > 0 and (f2 is None or freq[i] <= f2):
                f2, v2 = freq[i], i
        if v2 < 0:
            break
        freq[v1] += freq[v2]
        freq[v2] = 0
        codesize[v1] += 1
        while others[v1] >= 0:
            v1 = others[v1]
            codesize[v1] += 1
        others[v1] = v2
        codesize[v2] += 1
        while others[v2] >= 0:
            v2 = others[v2]
            codesize[v2] += 1
    counts = [0] * 33
    for i in range(257):
        if codesize[i]:
            counts[codesize[i]] += 1
    i = 32
    while i > 16:  # Figure K.3: push over-long codes up the tree
        while counts[i] > 0:
            j = i - 2
            while counts[j] == 0:
                j -= 1
            counts[i] -= 2
            counts[i - 1] += 1
            counts[j + 1] += 2
            counts[j] -= 1
        i -= 1
    while counts[i] == 0:
        i -= 1
    counts[i] -= 1  # drop the reserved symbol's (longest) code
    syms = [s for s in range(256) if codesize[s] > 0]
    syms.sort(key=lambda s: (codesize[s], s))
    return counts[1:17], syms


class _HuffEmitter:
    """Write-pass sink: symbols through a Huffman code, raw bits verbatim."""

    def __init__(self, codes: dict[int, tuple[int, int]]) -> None:
        self.bw = _BitWriter()
        self.codes = codes

    def sym(self, s: int) -> None:
        code, ln = self.codes[s]
        self.bw.write(code, ln)

    def bits(self, v: int, n: int) -> None:
        if n:
            self.bw.write(v, n)


class _FreqCounter:
    """Count-pass sink: tallies symbols, ignores raw bits."""

    def __init__(self) -> None:
        self.freq: dict[int, int] = {}

    def sym(self, s: int) -> None:
        self.freq[s] = self.freq.get(s, 0) + 1

    def bits(self, v: int, n: int) -> None:
        pass


def _enc_dc_scan(bw, coeffs, ncomp, samp, bw_dims, mcus_x, mcus_y, ah, al, dc_codes):
    """Interleaved DC scan: first pass Huffman-codes the arithmetic-shifted
    diffs (G.1.2.1); refinement emits one raw bit per block."""
    pred = [0] * ncomp
    for my in range(mcus_y):
        for mx in range(mcus_x):
            for c in range(ncomp):
                v, hh = samp[c]
                t_id = 0 if c == 0 else 1
                for by in range(v):
                    for bx in range(hh):
                        bidx = (my * v + by) * bw_dims[c] + (mx * hh + bx)
                        dc = int(coeffs[c][bidx, 0])
                        if ah == 0:
                            t = dc >> al
                            diff = t - pred[c]
                            pred[c] = t
                            size, bits_v = _magnitude(diff)
                            code, ln = dc_codes[t_id][size]
                            bw.write(code, ln)
                            if size:
                                bw.write(bits_v, size)
                        else:
                            bw.write((dc >> al) & 1, 1)


def _flush_eob_first(em, st) -> None:
    e = st["eob"]
    r = e.bit_length() - 1
    em.sym(r << 4)
    em.bits(e & ((1 << r) - 1), r)
    st["eob"] = 0


def _enc_ac_first_scan(em, blocks, nby, nbx, bwdim, ss, se, al) -> None:
    """AC first scan (G.1.2.2): magnitudes are |coef| >> Al with the sign
    kept; trailing zero bands accumulate into cross-block EOB runs."""
    st = {"eob": 0}
    for by in range(nby):
        for bx in range(nbx):
            zz = blocks[by * bwdim + bx]
            r = 0
            for k in range(ss, se + 1):
                t = int(zz[k])
                a = abs(t) >> al
                if a == 0:
                    r += 1
                    continue
                if st["eob"]:
                    _flush_eob_first(em, st)
                while r > 15:
                    em.sym(0xF0)  # ZRL
                    r -= 16
                size = a.bit_length()
                em.sym((r << 4) | size)
                em.bits(a if t > 0 else ((1 << size) - 1 - a), size)
                r = 0
            if r > 0:
                st["eob"] += 1
                if st["eob"] == 0x7FFF:
                    _flush_eob_first(em, st)
    if st["eob"]:
        _flush_eob_first(em, st)


def _flush_eob_refine(em, st) -> None:
    if st["eob"]:
        e = st["eob"]
        r = e.bit_length() - 1
        em.sym(r << 4)
        em.bits(e & ((1 << r) - 1), r)
        for b in st["be"]:
            em.bits(b, 1)
        st["eob"] = 0
        st["be"] = []


def _enc_ac_refine_scan(em, blocks, nby, nbx, bwdim, ss, se, al) -> None:
    """AC refinement scan (G.1.2.3): already-significant coefficients get
    correction bits (buffered to ride after the symbol that flushes them);
    zero-history runs end at newly-significant ±1 values; ZRLs are only
    emitted up to the block's last newly-significant coefficient — runs
    beyond it fold into the EOB run."""
    st = {"eob": 0, "be": []}
    for by in range(nby):
        for bx in range(nbx):
            zz = blocks[by * bwdim + bx]
            ab = [abs(int(zz[k])) >> al for k in range(ss, se + 1)]
            eob_idx = -1
            for i, a in enumerate(ab):
                if a == 1:
                    eob_idx = i
            r = 0
            br_bits: list[int] = []
            for i, a in enumerate(ab):
                if a == 0:
                    r += 1
                    continue
                while r > 15 and i <= eob_idx:
                    _flush_eob_refine(em, st)
                    em.sym(0xF0)
                    r -= 16
                    for b in br_bits:
                        em.bits(b, 1)
                    br_bits = []
                if a > 1:  # nonzero history: correction bit only
                    br_bits.append(a & 1)
                    continue
                _flush_eob_refine(em, st)
                em.sym((r << 4) | 1)
                em.bits(1 if int(zz[ss + i]) > 0 else 0, 1)
                for b in br_bits:
                    em.bits(b, 1)
                br_bits = []
                r = 0
            if r > 0 or br_bits:
                st["eob"] += 1
                st["be"].extend(br_bits)
                if st["eob"] == 0x7FFF or len(st["be"]) > 930:
                    _flush_eob_refine(em, st)
    _flush_eob_refine(em, st)


#: per-component scan scripts: (kind, comp, Ss, Se, Ah, Al). The 3-component
#: script exercises spectral-selection band splits, successive approximation
#: (Al=2 luma first scans + two refinement passes), and DC refinement.
_PROG_SCRIPT_GRAY = [
    ("dc", None, 0, 0, 0, 1),
    ("ac", 0, 1, 63, 0, 1),
    ("ac", 0, 1, 63, 1, 0),
    ("dc", None, 0, 0, 1, 0),
]
_PROG_SCRIPT_RGB = [
    ("dc", None, 0, 0, 0, 1),
    ("ac", 0, 1, 5, 0, 2),
    ("ac", 0, 6, 63, 0, 2),
    ("ac", 1, 1, 63, 0, 1),
    ("ac", 2, 1, 63, 0, 1),
    ("ac", 0, 1, 63, 2, 1),
    ("ac", 0, 1, 63, 1, 0),
    ("ac", 1, 1, 63, 1, 0),
    ("ac", 2, 1, 63, 1, 0),
    ("dc", None, 0, 0, 1, 0),
]


def encode_progressive_jpeg(
    arr: np.ndarray, quality: int = 85, subsample: str = "444"
) -> bytes:
    """Progressive DCT JPEG (SOF2): same color/quant front end as
    ``encode_jpeg``, coefficients delivered over a spectral-selection +
    successive-approximation scan script with per-scan optimal AC Huffman
    tables. Decoding the result reconstructs the EXACT same quantized
    coefficients as the baseline stream, so pixels match ``encode_jpeg``
    output bit-for-bit after decode."""
    h, w, gray, planes, qts, samp = _encode_setup(arr, quality, subsample)
    ncomp = 1 if gray else 3
    coeffs = []
    bw_dims = []
    for i, p in enumerate(planes):
        coeffs.append(_encode_plane_blocks(p, qts[i]))
        bw_dims.append(p.shape[1] // 8)
    ly, lx = samp[0]
    mcus_x = planes[0].shape[1] // (8 * lx)
    mcus_y = planes[0].shape[0] // (8 * ly)
    vmax = max(v for v, _ in samp)
    hmax = max(hh for _, hh in samp)
    real_dims = []  # non-interleaved block grids (padding blocks excluded)
    for v, hh in samp:
        sh = -(-h * v // vmax)
        sw = -(-w * hh // hmax)
        real_dims.append((-(-sh // 8), -(-sw // 8)))

    dc_codes = [_build_huff_codes(*HUFF_DC_LUM), _build_huff_codes(*HUFF_DC_CHROM)]
    out = bytearray()
    out += b"\xff\xd8"
    out += b"\xff\xe0" + struct.pack(">H", 16)
    out += b"JFIF\x00\x01\x01\x00\x00\x01\x00\x01\x00\x00"
    for tid in range(1 if gray else 2):
        qt = qts[tid]
        out += b"\xff\xdb" + struct.pack(">HB", 67, tid)
        out += bytes(qt[ZIGZAG].astype(np.uint8))
    out += b"\xff\xc2" + struct.pack(">HBHHB", 8 + 3 * ncomp, 8, h, w, ncomp)
    for cid in range(ncomp):
        v, hh = samp[cid]
        out += bytes([cid + 1, (hh << 4) | v, 0 if cid == 0 else 1])
    for cls, tid, spec in ((0, 0, HUFF_DC_LUM), (0, 1, HUFF_DC_CHROM))[
        : 1 if gray else 2
    ]:
        bits, vals = spec
        out += b"\xff\xc4" + struct.pack(">HB", 19 + len(vals), (cls << 4) | tid)
        out += bytes(bits) + bytes(vals)

    for kind, c, ss, se, ah, al in (_PROG_SCRIPT_GRAY if gray else _PROG_SCRIPT_RGB):
        if kind == "dc":
            out += b"\xff\xda" + struct.pack(">HB", 6 + 2 * ncomp, ncomp)
            for cid in range(ncomp):
                td = 0 if cid == 0 else 1
                out += bytes([cid + 1, td << 4])
            out += bytes([ss, se, (ah << 4) | al])
            bw = _BitWriter()
            _enc_dc_scan(
                bw, coeffs, ncomp, samp, bw_dims, mcus_x, mcus_y, ah, al, dc_codes
            )
            bw.flush()
            out += bw.buf
        else:
            nby, nbx = real_dims[c]
            enc_fn = _enc_ac_first_scan if ah == 0 else _enc_ac_refine_scan
            fc = _FreqCounter()
            enc_fn(fc, coeffs[c], nby, nbx, bw_dims[c], ss, se, al)
            bits, vals = _gen_optimal_huff(fc.freq)
            out += b"\xff\xc4" + struct.pack(">HB", 19 + len(vals), 1 << 4)
            out += bytes(bits) + bytes(vals)
            out += b"\xff\xda" + struct.pack(">HB", 8, 1)
            out += bytes([c + 1, 0])
            out += bytes([ss, se, (ah << 4) | al])
            em = _HuffEmitter(_build_huff_codes(bits, vals))
            enc_fn(em, coeffs[c], nby, nbx, bw_dims[c], ss, se, al)
            em.bw.flush()
            out += em.bw.buf
    out += b"\xff\xd9"
    return bytes(out)


def to_rgb(img: np.ndarray) -> np.ndarray:
    """HxW grayscale → HxWx3; HxWx3 passes through."""
    if img.ndim == 2:
        return np.repeat(img[:, :, None], 3, axis=2)
    return img
