"""Pure-stdlib PNG codec.

PNG is stdlib-decodable: chunk framing + CRC32 and DEFLATE both live in
``zlib``, and scanline unfiltering (the only image math) vectorizes in
numpy.  Any non-interlaced PNG (greyscale, grey+alpha, RGB, RGBA, palette,
every legal bit depth — 1/2/4/8/16) decodes to the HxWxC array pillow
would produce (uint16 for 16-bit, uint8 otherwise); the parity test in
tests/test_env_gated.py pins the two to agree the moment pillow is present.

``encode_png`` exists for fixtures and round-trip tests: it writes any of
the five scanline filter types, so the decoder's Sub/Up/Average/Paeth
reconstruction paths are exercised, not just filter 0.

Cost: one zlib inflate + one numpy pass per scanline.  Sequential filters
(Sub/Average/Paeth) reconstruct left-to-right with a per-pixel inner loop
over width.

No package code path calls this module: the Spark media stages and
the media catalog gates that used it are gone, and media is out of scope
for the validator (ROADMAP direction 4). It stays, with its tests, until
its own deletion.
"""

from __future__ import annotations

import struct
import zlib

import numpy as np

_SIG = b"\x89PNG\r\n\x1a\n"

#: color type → samples per pixel
_CHANNELS = {0: 1, 2: 3, 3: 1, 4: 2, 6: 4}

#: color type → permitted bit depths (PNG spec §11.2.2, table 11.1)
_DEPTHS = {0: (1, 2, 4, 8, 16), 2: (8, 16), 3: (1, 2, 4, 8), 4: (8, 16), 6: (8, 16)}


class PNGError(ValueError):
    pass


def is_png(payload: bytes) -> bool:
    return bool(payload) and payload[:8] == _SIG


def _chunks(data: bytes):
    pos = 8
    while pos + 8 <= len(data):
        (length,) = struct.unpack(">I", data[pos : pos + 4])
        tag = data[pos + 4 : pos + 8]
        body = data[pos + 8 : pos + 8 + length]
        if len(body) != length:
            raise PNGError("truncated chunk")
        crc_raw = data[pos + 8 + length : pos + 12 + length]
        if len(crc_raw) != 4:
            raise PNGError("truncated chunk CRC")
        crc = struct.unpack(">I", crc_raw)[0]
        if zlib.crc32(tag + body) & 0xFFFFFFFF != crc:
            raise PNGError(f"bad CRC in {tag!r}")
        yield tag, body
        pos += 12 + length
        if tag == b"IEND":
            return
    raise PNGError("missing IEND")


def decode_png(data: bytes) -> np.ndarray:
    """Decode a non-interlaced PNG to an (h, w, channels) array.

    All legal bit depths decode: 8-bit → uint8; 16-bit → uint16 (full
    precision, big-endian samples per spec §7.1); 1/2/4-bit greyscale →
    uint8 scaled to 0-255 exactly as PIL's ``L`` conversion (``x * 255 //
    (2**depth - 1)``); 1/2/4-bit palette indices expand through PLTE.
    Greyscale decodes to channels=1, palette to its sample count."""
    if not is_png(data):
        raise PNGError("not a PNG signature")
    ihdr = None
    idat = []
    palette = None
    trns = None
    for tag, body in _chunks(data):
        if tag == b"IHDR":
            ihdr = struct.unpack(">IIBBBBB", body)
        elif tag == b"PLTE":
            palette = np.frombuffer(body, dtype=np.uint8).reshape(-1, 3)
        elif tag == b"tRNS":
            trns = np.frombuffer(body, dtype=np.uint8)
        elif tag == b"IDAT":
            idat.append(body)
    if ihdr is None or not idat:
        raise PNGError("missing IHDR or IDAT")
    w, h, depth, ctype, comp, filt, interlace = ihdr
    if ctype not in _CHANNELS:
        raise PNGError(f"unknown color type {ctype}")
    if depth not in _DEPTHS[ctype]:
        raise PNGError(f"illegal bit depth {depth} for color type {ctype}")
    if comp != 0 or filt != 0:
        raise PNGError("unknown compression/filter method")
    if interlace != 0:
        raise PNGError("interlaced PNG unsupported")
    if w == 0 or h == 0:
        raise PNGError("zero dimension")
    ch = _CHANNELS[ctype]
    raw = zlib.decompress(b"".join(idat))
    # filtering operates on BYTES regardless of depth (spec §9): stride is
    # the packed byte width, the left-neighbour distance is whole bytes
    stride = (w * ch * depth + 7) // 8
    bpp = max(1, ch * depth // 8)
    if len(raw) != h * (stride + 1):
        raise PNGError("decompressed size mismatch")
    raw = np.frombuffer(raw, dtype=np.uint8).reshape(h, stride + 1)
    ftypes, lines = raw[:, 0], raw[:, 1:]
    out = np.zeros((h, stride), dtype=np.uint8)
    prev = np.zeros(stride, dtype=np.uint8)
    for y in range(h):
        out[y] = _unfilter_line(int(ftypes[y]), lines[y], prev, bpp)
        prev = out[y]
    if depth == 16:
        img = out.reshape(h, stride).view(">u2").astype(np.uint16).reshape(h, w, ch)
    elif depth == 8:
        img = out.reshape(h, w, ch)
    else:  # 1/2/4-bit: unpack MSB-first, drop row padding bits
        bits = np.unpackbits(out, axis=1)[:, : w * depth].reshape(h, w, depth)
        weights = 1 << np.arange(depth - 1, -1, -1, dtype=np.uint8)
        img = (bits * weights).sum(axis=2, dtype=np.uint16)[:, :, None]
        if ctype == 0:  # scale grey samples to 0-255 like PIL's L mode
            img = img * 255 // ((1 << depth) - 1)
        img = img.astype(np.uint8)
    if ctype == 3:
        if palette is None:
            raise PNGError("palette image without PLTE")
        idx = img[:, :, 0]
        if int(idx.max(initial=0)) >= len(palette):
            raise PNGError("palette index out of range")
        rgb = palette[idx]
        if trns is not None:
            alpha = np.full(len(palette), 255, dtype=np.uint8)
            alpha[: len(trns)] = trns
            img = np.dstack([rgb, alpha[idx]])
        else:
            img = rgb
    return img


def _unfilter_line(
    ftype: int, line: np.ndarray, prev: np.ndarray, bpp: int
) -> np.ndarray:
    """Reconstruct one scanline (PNG spec §9: None/Sub/Up/Average/Paeth).
    Up is fully vectorized; Sub/Average/Paeth carry a left-neighbour
    dependency, so they loop over pixels with numpy ops per channel-slice."""
    n = len(line)
    if ftype == 0:
        return line.copy()
    if ftype == 2:
        return (line.astype(np.int16) + prev).astype(np.uint8)
    out = np.zeros(n, dtype=np.int16)
    cur = line.astype(np.int16)
    up = prev.astype(np.int16)
    if ftype == 1:  # Sub
        for i in range(n):
            left = out[i - bpp] if i >= bpp else 0
            out[i] = (cur[i] + left) & 0xFF
    elif ftype == 3:  # Average
        for i in range(n):
            left = out[i - bpp] if i >= bpp else 0
            out[i] = (cur[i] + ((left + up[i]) >> 1)) & 0xFF
    elif ftype == 4:  # Paeth
        for i in range(n):
            a = int(out[i - bpp]) if i >= bpp else 0
            b = int(up[i])
            c = int(up[i - bpp]) if i >= bpp else 0
            p = a + b - c
            pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
            if pa <= pb and pa <= pc:
                pred = a
            elif pb <= pc:
                pred = b
            else:
                pred = c
            out[i] = (cur[i] + pred) & 0xFF
    else:
        raise PNGError(f"unknown filter type {ftype}")
    return out.astype(np.uint8)


def _filter_line(
    ftype: int, line: np.ndarray, prev: np.ndarray, bpp: int
) -> np.ndarray:
    """Forward filter (encoder side) — exact inverse of ``_unfilter_line``."""
    cur = line.astype(np.int16)
    up = prev.astype(np.int16)
    left = np.zeros_like(cur)
    left[bpp:] = cur[:-bpp]
    upleft = np.zeros_like(up)
    upleft[bpp:] = up[:-bpp]
    if ftype == 0:
        res = cur
    elif ftype == 1:
        res = cur - left
    elif ftype == 2:
        res = cur - up
    elif ftype == 3:
        res = cur - ((left + up) >> 1)
    elif ftype == 4:
        p = left + up - upleft
        pa, pb, pc = np.abs(p - left), np.abs(p - up), np.abs(p - upleft)
        pred = np.where(
            (pa <= pb) & (pa <= pc), left, np.where(pb <= pc, up, upleft)
        )
        res = cur - pred
    else:
        raise PNGError(f"unknown filter type {ftype}")
    return (res & 0xFF).astype(np.uint8)


def encode_png(arr: np.ndarray, filter_type: int = 0, level: int = 6) -> bytes:
    """Encode an (h, w) or (h, w, {1,2,3,4}) array as a non-interlaced PNG,
    applying ``filter_type`` (0-4) to every scanline.  uint8 input writes
    bit depth 8; uint16 input writes bit depth 16 (big-endian samples)."""
    a = np.asarray(arr)
    depth = 16 if a.dtype == np.uint16 else 8
    a = a.astype(np.uint16 if depth == 16 else np.uint8)
    if a.ndim == 2:
        a = a[:, :, None]
    if a.ndim != 3 or a.shape[2] not in (1, 2, 3, 4):
        raise PNGError(f"unsupported array shape {arr.shape}")
    h, w, ch = a.shape
    ctype = {1: 0, 2: 4, 3: 2, 4: 6}[ch]
    if depth == 16:
        flat = (
            np.ascontiguousarray(a.reshape(h, w * ch))
            .astype(">u2")
            .view(np.uint8)
            .reshape(h, w * ch * 2)
        )
    else:
        flat = a.reshape(h, w * ch)
    bpp = ch * depth // 8
    prev = np.zeros(flat.shape[1], dtype=np.uint8)
    lines = []
    for y in range(h):
        lines.append(bytes([filter_type]) + _filter_line(filter_type, flat[y], prev, bpp).tobytes())
        prev = flat[y]
    raw = zlib.compress(b"".join(lines), level)

    def chunk(tag: bytes, body: bytes) -> bytes:
        return (
            struct.pack(">I", len(body))
            + tag
            + body
            + struct.pack(">I", zlib.crc32(tag + body) & 0xFFFFFFFF)
        )

    ihdr = struct.pack(">IIBBBBB", w, h, depth, ctype, 0, 0, 0)
    return _SIG + chunk(b"IHDR", ihdr) + chunk(b"IDAT", raw) + chunk(b"IEND", b"")


def to_rgb(img: np.ndarray) -> np.ndarray:
    """Match ``PIL.Image.convert("RGB")``: replicate grey, drop alpha;
    16-bit samples reduce to their high byte (PIL's I;16→L behaviour)."""
    if img.dtype == np.uint16:
        img = (img >> 8).astype(np.uint8)
    if img.ndim == 2:
        img = img[:, :, None]
    ch = img.shape[2]
    if ch == 3:
        return img
    if ch == 1:
        return np.repeat(img, 3, axis=2)
    if ch == 2:  # grey + alpha
        return np.repeat(img[:, :, :1], 3, axis=2)
    if ch == 4:
        return img[:, :, :3].copy()
    raise PNGError(f"unsupported channel count {ch}")
