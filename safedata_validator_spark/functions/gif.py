"""Pure-stdlib GIF codec: animated GIF is fully decodable on stdlib+numpy
(LZW is a dictionary coder — no entropy tables, no DCT), without
ffmpeg/imageio.

Decoder: GIF87a/GIF89a header, logical screen descriptor, global + local
color tables, graphic control extensions (per-frame delay, transparency,
disposal), interlaced and non-interlaced image data, variable-width LZW
with code-table growth to 12 bits.  Frames are composited onto the
logical-screen canvas honoring disposal methods 0/1 (leave), 2 (restore
background) and 3 (restore previous), so each yielded frame is the
full-canvas RGB image a video player would show.

``encode_gif`` writes animated GIF89a for fixtures and round-trip tests
(global palette, per-frame graphic-control blocks, real variable-width
LZW compression — not the fixed-code shortcut — so the decoder's table
growth path is exercised).

LZW decode is a per-payload Python loop over codes, and all compositing
is vectorized numpy.

No package code path calls this module: the Spark media stages and
the media catalog gates that used it are gone, and media is out of scope
for the validator (ROADMAP direction 4). It stays, with its tests, until
its own deletion.
"""

from __future__ import annotations

import struct

import numpy as np


class GIFError(ValueError):
    """Malformed or unsupported GIF payload."""


def is_gif(payload: bytes) -> bool:
    return len(payload) >= 6 and payload[:6] in (b"GIF87a", b"GIF89a")


def _sub_blocks(data: bytes, pos: int) -> tuple[bytes, int]:
    """Concatenate a GIF sub-block sequence starting at pos; return
    (bytes, next_pos past the 0x00 terminator)."""
    out = bytearray()
    while True:
        if pos >= len(data):
            raise GIFError("truncated sub-block sequence")
        n = data[pos]
        pos += 1
        if n == 0:
            return bytes(out), pos
        out += data[pos : pos + n]
        if len(out) < n:
            raise GIFError("truncated sub-block")
        pos += n


def _lzw_decode(min_code_size: int, data: bytes, expected: int) -> np.ndarray:
    """GIF-variant LZW → uint8 index array of length ``expected``."""
    clear = 1 << min_code_size
    eoi = clear + 1
    # dictionary as (prefix_code, last_byte); roots are (-1, i)
    prefix = np.full(4096, -1, dtype=np.int32)
    suffix = np.zeros(4096, dtype=np.uint8)
    for i in range(clear):
        suffix[i] = i
    next_code = eoi + 1
    code_size = min_code_size + 1
    out = np.empty(expected + 4096, dtype=np.uint8)
    out_n = 0
    prev = -1
    acc = 0
    acc_bits = 0
    stack = bytearray()

    def expand(code: int) -> bytes:
        # walk the (prefix, suffix) chain to the root; roots have prefix -1
        stack.clear()
        c = code
        while c != -1:
            stack.append(suffix[c])
            c = int(prefix[c])
        return bytes(reversed(stack))

    for byte in data:
        acc |= byte << acc_bits
        acc_bits += 8
        while acc_bits >= code_size:
            code = acc & ((1 << code_size) - 1)
            acc >>= code_size
            acc_bits -= code_size
            if code == clear:
                next_code = eoi + 1
                code_size = min_code_size + 1
                prev = -1
                continue
            if code == eoi:
                return out[:out_n] if out_n >= expected else _pad(out, out_n, expected)
            if prev == -1:
                if code >= clear:
                    raise GIFError("LZW: first code not a root")
                out[out_n] = suffix[code]
                out_n += 1
                prev = code
                continue
            if code < next_code:
                seq = expand(code)
            elif code == next_code:
                seq = expand(prev) + expand(prev)[:1]
            else:
                raise GIFError("LZW: code out of range")
            out[out_n : out_n + len(seq)] = np.frombuffer(seq, dtype=np.uint8)
            out_n += len(seq)
            if next_code < 4096:
                prefix[next_code] = prev
                suffix[next_code] = seq[0]
                next_code += 1
                if next_code == (1 << code_size) and code_size < 12:
                    code_size += 1
            prev = code
            if out_n >= expected:
                return out[:expected]
    return _pad(out, out_n, expected)


def _pad(out: np.ndarray, n: int, expected: int) -> np.ndarray:
    if n < expected:  # tolerate truncated streams like real players do
        out[n:expected] = 0
    return out[:expected]


_DEINTERLACE = ((0, 8), (4, 8), (2, 4), (1, 2))


def decode_gif(payload: bytes) -> list[tuple[int, np.ndarray]]:
    """Decode (possibly animated) GIF → list of ``(delay_ms, frame)`` with
    each frame a full-canvas HxWx3 uint8 RGB image after compositing."""
    if not is_gif(payload or b""):
        raise GIFError("not a GIF payload")
    data = payload
    if len(data) < 13:
        raise GIFError("truncated header")
    sw, sh, flags, bg_idx, _ = struct.unpack("<HHBBB", data[6:13])
    pos = 13
    gct = None
    if flags & 0x80:
        n = 2 << (flags & 0x07)
        if pos + 3 * n > len(data):
            raise GIFError("truncated global color table")
        gct = np.frombuffer(data[pos : pos + 3 * n], dtype=np.uint8).reshape(n, 3)
        pos += 3 * n
    if gct is not None and bg_idx < len(gct):
        bg_rgb = gct[bg_idx]
    else:
        bg_rgb = np.zeros(3, dtype=np.uint8)
    canvas = np.tile(bg_rgb, (sh, sw, 1)).astype(np.uint8)
    frames: list[tuple[int, np.ndarray]] = []
    delay_ms = 0
    transparent = -1
    disposal = 0
    while pos < len(data):
        block = data[pos]
        pos += 1
        if block == 0x3B:  # trailer
            break
        if block == 0x21:  # extension
            if pos >= len(data):
                raise GIFError("truncated extension block")
            label = data[pos]
            pos += 1
            body, pos = _sub_blocks(data, pos)
            if label == 0xF9 and len(body) >= 4:  # graphic control
                packed = body[0]
                delay_ms = struct.unpack("<H", body[1:3])[0] * 10
                transparent = body[3] if packed & 0x01 else -1
                disposal = (packed >> 2) & 0x07
            continue
        if block != 0x2C:
            raise GIFError(f"unknown block 0x{block:02x}")
        if pos + 9 > len(data):
            raise GIFError("truncated image descriptor")
        ix, iy, iw, ih, iflags = struct.unpack("<HHHHB", data[pos : pos + 9])
        pos += 9
        table = gct
        if iflags & 0x80:
            n = 2 << (iflags & 0x07)
            table = np.frombuffer(data[pos : pos + 3 * n], dtype=np.uint8).reshape(
                n, 3
            )
            pos += 3 * n
        if table is None:
            raise GIFError("no color table for frame")
        min_code = data[pos]
        pos += 1
        lzw, pos = _sub_blocks(data, pos)
        idx = _lzw_decode(min_code, lzw, iw * ih).reshape(ih, iw)
        if iflags & 0x40:  # interlaced: rows were written in 4 passes
            rows = np.empty(ih, dtype=np.int64)
            r = 0
            for start, step in _DEINTERLACE:
                for y in range(start, ih, step):
                    rows[y] = r
                    r += 1
            idx = idx[rows]
        prev_canvas = canvas.copy() if disposal == 3 else None
        region = canvas[iy : iy + ih, ix : ix + iw]
        rgb = table[np.minimum(idx, len(table) - 1)]
        if transparent >= 0:
            opaque = idx != transparent
            region[opaque] = rgb[opaque]
        else:
            region[:, :] = rgb
        frames.append((delay_ms, canvas.copy()))
        if disposal == 2:  # restore background in the frame's region
            canvas[iy : iy + ih, ix : ix + iw] = bg_rgb
        elif disposal == 3 and prev_canvas is not None:
            canvas = prev_canvas
        delay_ms, transparent, disposal = 0, -1, 0
    if not frames:
        raise GIFError("no frames")
    return frames


def _lzw_encode(min_code_size: int, indices: np.ndarray) -> bytes:
    """Real variable-width GIF LZW (dictionary growth to 12 bits, clear on
    overflow) so decoder growth paths get exercised by round trips."""
    clear = 1 << min_code_size
    eoi = clear + 1
    table: dict[bytes, int] = {bytes([i]): i for i in range(clear)}
    next_code = eoi + 1
    code_size = min_code_size + 1
    out = bytearray()
    acc = 0
    acc_bits = 0

    def emit(code: int):
        nonlocal acc, acc_bits
        acc |= code << acc_bits
        acc_bits += code_size
        while acc_bits >= 8:
            out.append(acc & 0xFF)
            acc >>= 8
            acc_bits -= 8

    emit(clear)
    w = b""
    for v in indices.astype(np.uint8).tobytes():
        wk = w + bytes([v])
        if wk in table:
            w = wk
            continue
        emit(table[w])
        if next_code < 4096:
            table[wk] = next_code
            if next_code == (1 << code_size) and code_size < 12:
                code_size += 1
            next_code += 1
        else:
            emit(clear)
            table = {bytes([i]): i for i in range(clear)}
            next_code = eoi + 1
            code_size = min_code_size + 1
        w = bytes([v])
    if w:
        emit(table[w])
    emit(eoi)
    if acc_bits:
        out.append(acc & 0xFF)
    return bytes(out)


def encode_gif(
    frames: list[np.ndarray] | np.ndarray,
    palette: np.ndarray,
    delays_ms: list[int] | None = None,
    interlace_first: bool = False,
) -> bytes:
    """Encode index frames → animated GIF89a bytes.

    ``frames``: list of HxW uint8 PALETTE-INDEX arrays (all same size);
    ``palette``: (n, 3) uint8 RGB, n a power of two ≥ 2;
    ``delays_ms``: per-frame delay (rounded to GIF's 10 ms ticks);
    ``interlace_first``: write frame 0 interlaced (decoder path coverage)."""
    if isinstance(frames, np.ndarray) and frames.ndim == 2:
        frames = [frames]
    palette = np.asarray(palette, dtype=np.uint8)
    n_colors = len(palette)
    if n_colors < 2 or n_colors & (n_colors - 1):
        raise GIFError("palette size must be a power of two >= 2")
    depth = max(n_colors.bit_length() - 1, 1)
    h, w = frames[0].shape
    out = bytearray(b"GIF89a")
    out += struct.pack("<HHBBB", w, h, 0x80 | ((depth - 1) & 0x07), 0, 0)
    out += palette.tobytes()
    delays = delays_ms or [100] * len(frames)
    if len(frames) > 1:
        # Netscape looping extension (players expect it on animations)
        out += b"\x21\xff\x0bNETSCAPE2.0\x03\x01\x00\x00\x00"
    min_code = max(depth, 2)
    for fi, (frame, delay) in enumerate(zip(frames, delays)):
        if frame.shape != (h, w):
            raise GIFError("all frames must share the canvas size")
        out += b"\x21\xf9\x04" + bytes([0x04]) + struct.pack(
            "<H", max(delay // 10, 0)
        ) + b"\x00\x00"
        ilace = interlace_first and fi == 0
        out += b"\x2c" + struct.pack(
            "<HHHHB", 0, 0, w, h, 0x40 if ilace else 0
        )
        idx = np.asarray(frame, dtype=np.uint8)
        if ilace:
            order = []
            for start, step in _DEINTERLACE:
                order.extend(range(start, h, step))
            idx = idx[np.array(order)]
        out.append(min_code)
        lzw = _lzw_encode(min_code, idx.reshape(-1))
        for i in range(0, len(lzw), 255):
            chunk = lzw[i : i + 255]
            out.append(len(chunk))
            out += chunk
        out.append(0)
    out += b"\x3b"
    return bytes(out)
