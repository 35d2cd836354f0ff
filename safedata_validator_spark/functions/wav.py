"""Pure-stdlib WAV/PCM codec: audio payloads decode without
torchaudio/soundfile.

WAV (RIFF/WAVE, the canonical uncompressed interchange format) is
stdlib-decodable: the container is plain ``struct`` framing and the sample
data is raw PCM that numpy reinterprets in one ``frombuffer`` call — no
entropy coding at all.  Supported on decode: PCM integer 8 (unsigned) /
16 / 24 / 32-bit, IEEE float 32/64 (format tags 1 and 3, plus
WAVE_FORMAT_EXTENSIBLE wrapping either), ITU-T G.711 mu-law/A-law
companding (tags 7/6 — 256-entry table decode, vectorized segment-search
encode) and IMA/DVI ADPCM (tag 0x11 — block headers + adaptive 4-bit
predictor), any channel count, any sample rate.  ``encode_wav`` writes
8/16/24/32-bit PCM and float32; ``encode_g711_wav`` / ``encode_ima_adpcm``
write the compressed variants for fixtures and round-trip tests.

The feature math (``audio_features``) is vectorized numpy over the whole
clip: RMS / peak on the [-1, 1]-normalized signal, zero-crossing count on
channel 0, spectral centroid via one rfft.

No package code path calls this module: the Spark media stages and
the media catalog gates that used it are gone, and media is out of scope
for the validator (ROADMAP direction 4). It stays, with its tests, until
its own deletion.
"""

from __future__ import annotations

import struct

import numpy as np

#: format tags we understand (WAVE_FORMAT_EXTENSIBLE unwraps to one of these)
_PCM, _FLOAT, _EXTENSIBLE = 1, 3, 0xFFFE
#: telephony companding (ITU-T G.711) and IMA/DVI ADPCM (tag 0x11)
_ALAW, _MULAW, _IMA_ADPCM = 6, 7, 0x11


class WAVError(ValueError):
    """Malformed or unsupported WAV payload."""


def is_wav(payload: bytes) -> bool:
    return (
        len(payload) >= 12
        and payload[:4] == b"RIFF"
        and payload[8:12] == b"WAVE"
    )


def _chunks(data: bytes):
    """Yield (tag, body) over the RIFF chunk sequence (word-aligned)."""
    pos = 12
    while pos + 8 <= len(data):
        tag = data[pos : pos + 4]
        (length,) = struct.unpack("<I", data[pos + 4 : pos + 8])
        body = data[pos + 8 : pos + 8 + length]
        if len(body) != length:
            raise WAVError(f"truncated {tag!r} chunk")
        yield tag, body
        pos += 8 + length + (length & 1)  # chunks are 2-byte aligned


# --- ITU-T G.711 companding (format tags 6/7) -------------------------------
#
# Both laws are 8-bit segment/mantissa codes over 16-bit linear PCM; the
# decode side is a pure 256-entry table (vectorized lookup), the encode side
# a segment search — implemented here from the G.711 tables first-principles
# (the same math as the public-domain CCITT/Sun g711.c reference).

_SEG_UEND = np.array(
    [0x3F, 0x7F, 0xFF, 0x1FF, 0x3FF, 0x7FF, 0xFFF, 0x1FFF], dtype=np.int32
)
_SEG_AEND = np.array(
    [0x1F, 0x3F, 0x7F, 0xFF, 0x1FF, 0x3FF, 0x7FF, 0xFFF], dtype=np.int32
)
_ULAW_BIAS = 0x84  # 132


def _build_ulaw_table() -> np.ndarray:
    codes = np.arange(256, dtype=np.int32)
    u = (~codes) & 0xFF
    t = ((u & 0x0F) << 3) + _ULAW_BIAS
    t = t << ((u & 0x70) >> 4)
    return np.where(u & 0x80, _ULAW_BIAS - t, t - _ULAW_BIAS).astype(np.int16)


def _build_alaw_table() -> np.ndarray:
    codes = np.arange(256, dtype=np.int32)
    a = codes ^ 0x55
    t = (a & 0x0F) << 4
    seg = (a & 0x70) >> 4
    t = np.where(seg == 0, t + 8, np.where(seg == 1, t + 0x108, 0))
    hi = ((a & 0x0F) << 4) + 0x108
    t = np.where(seg >= 2, hi << np.maximum(seg - 1, 0), t)
    return np.where(a & 0x80, t, -t).astype(np.int16)


_ULAW_DEC = _build_ulaw_table()
_ALAW_DEC = _build_alaw_table()


def ulaw_decode(codes: np.ndarray) -> np.ndarray:
    """uint8 G.711 mu-law codes → int16 linear PCM (table lookup)."""
    return _ULAW_DEC[np.asarray(codes, dtype=np.uint8)]


def alaw_decode(codes: np.ndarray) -> np.ndarray:
    """uint8 G.711 A-law codes → int16 linear PCM (table lookup)."""
    return _ALAW_DEC[np.asarray(codes, dtype=np.uint8)]


def ulaw_encode(pcm: np.ndarray) -> np.ndarray:
    """int16 linear PCM → uint8 mu-law codes (vectorized segment search)."""
    x = np.asarray(pcm, dtype=np.int32) >> 2  # 16-bit → 14-bit
    mask = np.where(x < 0, 0x7F, 0xFF)
    mag = np.minimum(np.abs(x), 8159) + (_ULAW_BIAS >> 2)
    seg = np.searchsorted(_SEG_UEND, mag)  # first segment end >= mag
    val = (seg << 4) | ((mag >> (seg + 1)) & 0x0F)
    out = np.where(seg >= 8, 0x7F, val) ^ mask
    return out.astype(np.uint8)


def alaw_encode(pcm: np.ndarray) -> np.ndarray:
    """int16 linear PCM → uint8 A-law codes (vectorized segment search)."""
    x = np.asarray(pcm, dtype=np.int32) >> 3  # 16-bit → 13-bit
    mask = np.where(x >= 0, 0xD5, 0x55)
    mag = np.where(x >= 0, x, -x - 1)
    seg = np.searchsorted(_SEG_AEND, mag)
    shift = np.where(seg < 2, 1, np.maximum(seg, 1))
    val = (seg << 4) | ((mag >> shift) & 0x0F)
    out = np.where(seg >= 8, 0x7F, val) ^ mask
    return out.astype(np.uint8)


# --- IMA/DVI ADPCM (format tag 0x11) ----------------------------------------

_IMA_STEPS = np.array(
    [
        7, 8, 9, 10, 11, 12, 13, 14, 16, 17, 19, 21, 23, 25, 28, 31, 34, 37,
        41, 45, 50, 55, 60, 66, 73, 80, 88, 97, 107, 118, 130, 143, 157, 173,
        190, 209, 230, 253, 279, 307, 337, 371, 408, 449, 494, 544, 598, 658,
        724, 796, 876, 963, 1060, 1166, 1282, 1411, 1552, 1707, 1878, 2066,
        2272, 2499, 2749, 3024, 3327, 3660, 4026, 4428, 4871, 5358, 5894,
        6484, 7132, 7845, 8630, 9493, 10442, 11487, 12635, 13899, 15289,
        16818, 18500, 20350, 22385, 24623, 27086, 29794, 32767,
    ],
    dtype=np.int32,
)
_IMA_INDEX_ADJ = np.array([-1, -1, -1, -1, 2, 4, 6, 8], dtype=np.int32)


def _ima_decode_nibbles(nibbles: np.ndarray, pred: int, index: int) -> np.ndarray:
    """Sequential IMA predictor over a nibble stream (one channel)."""
    out = np.empty(len(nibbles), dtype=np.int16)
    for i, nib in enumerate(nibbles):
        step = int(_IMA_STEPS[index])
        diff = step >> 3
        if nib & 1:
            diff += step >> 2
        if nib & 2:
            diff += step >> 1
        if nib & 4:
            diff += step
        pred = pred - diff if nib & 8 else pred + diff
        pred = max(-32768, min(32767, pred))
        index = max(0, min(88, index + int(_IMA_INDEX_ADJ[nib & 7])))
        out[i] = pred
    return out


def _ima_encode_nibbles(
    pcm: np.ndarray, pred: int, index: int
) -> tuple[np.ndarray, int, int]:
    """Sequential IMA encoder (one channel); returns (nibbles, pred, index)."""
    out = np.empty(len(pcm), dtype=np.uint8)
    for i, s in enumerate(np.asarray(pcm, dtype=np.int32)):
        step = int(_IMA_STEPS[index])
        delta = int(s) - pred
        nib = 0
        if delta < 0:
            nib = 8
            delta = -delta
        if delta >= step:
            nib |= 4
            delta -= step
        if delta >= step >> 1:
            nib |= 2
            delta -= step >> 1
        if delta >= step >> 2:
            nib |= 1
        # reconstruct exactly as the decoder will
        diff = step >> 3
        if nib & 1:
            diff += step >> 2
        if nib & 2:
            diff += step >> 1
        if nib & 4:
            diff += step
        pred = pred - diff if nib & 8 else pred + diff
        pred = max(-32768, min(32767, pred))
        index = max(0, min(88, index + int(_IMA_INDEX_ADJ[nib & 7])))
        out[i] = nib
    return out, pred, index


def _decode_ima_adpcm(
    data: bytes, channels: int, block_align: int
) -> np.ndarray:
    """IMA ADPCM 'data' chunk → int16 (n_frames, channels).

    WAV block layout: per channel a 4-byte header (int16 predictor, uint8
    step index, pad), then 4-byte words per channel interleaved, each word
    holding 8 nibbles low-first."""
    if block_align < 4 * channels:
        raise WAVError("IMA ADPCM block_align smaller than its headers")
    frames: list[np.ndarray] = []
    for off in range(0, len(data) - (4 * channels) + 1, block_align):
        block = data[off : off + block_align]
        preds, idxs, chans = [], [], []
        for c in range(channels):
            pred, idx, _pad = struct.unpack_from("<hBB", block, 4 * c)
            if idx > 88:
                raise WAVError(f"IMA ADPCM step index {idx} out of range")
            preds.append(pred)
            idxs.append(idx)
            chans.append([pred])
        body = np.frombuffer(block[4 * channels :], dtype=np.uint8)
        nwords = len(body) // (4 * channels)
        if nwords:
            words = body[: nwords * 4 * channels].reshape(nwords, channels, 4)
            for c in range(channels):
                bs = words[:, c, :].reshape(-1)
                nibs = np.empty(bs.size * 2, dtype=np.uint8)
                nibs[0::2] = bs & 0x0F
                nibs[1::2] = bs >> 4
                chans[c].append(_ima_decode_nibbles(nibs, preds[c], idxs[c]))
        cols = [
            np.concatenate([np.array([ch[0]], dtype=np.int16), *ch[1:]])
            if len(ch) > 1
            else np.array(ch, dtype=np.int16)
            for ch in chans
        ]
        frames.append(np.stack(cols, axis=1))
    if not frames:
        raise WAVError("empty IMA ADPCM data chunk")
    return np.concatenate(frames, axis=0)


def encode_ima_adpcm(
    samples: np.ndarray, rate: int, samples_per_block: int = 505
) -> bytes:
    """Encode int16 samples (n,) or (n, ch) → IMA ADPCM WAV bytes (tag 0x11)
    for fixtures and round-trip-tolerance tests."""
    arr = np.asarray(samples, dtype=np.int16)
    if arr.ndim == 1:
        arr = arr[:, None]
    n_frames, channels = arr.shape
    if n_frames == 0:
        raise WAVError("cannot encode an empty clip")
    if (samples_per_block - 1) % 8:
        raise WAVError("samples_per_block must be 1 mod 8")
    block_align = 4 * channels + (samples_per_block - 1) // 2 * channels
    blocks = []
    idxs = [0] * channels
    for start in range(0, n_frames, samples_per_block):
        chunk = arr[start : start + samples_per_block]
        # pad the tail block to full size by repeating the last frame
        if len(chunk) < samples_per_block:
            pad = np.repeat(chunk[-1:], samples_per_block - len(chunk), axis=0)
            chunk = np.concatenate([chunk, pad], axis=0)
        head = b""
        words = np.empty(
            ((samples_per_block - 1) // 8, channels, 4), dtype=np.uint8
        )
        for c in range(channels):
            pred = int(chunk[0, c])
            head += struct.pack("<hBB", pred, idxs[c], 0)
            nibs, _pred, idxs[c] = _ima_encode_nibbles(chunk[1:, c], pred, idxs[c])
            packed = (nibs[0::2] | (nibs[1::2] << 4)).astype(np.uint8)
            words[:, c, :] = packed.reshape(-1, 4)
        blocks.append(head + words.tobytes())
    data = b"".join(blocks)
    byte_rate = rate * block_align // samples_per_block
    fmt = struct.pack(
        "<HHIIHHHH",
        _IMA_ADPCM, channels, rate, byte_rate, block_align, 4,
        2, samples_per_block,
    )
    body = (
        b"WAVE"
        + b"fmt " + struct.pack("<I", len(fmt)) + fmt
        + b"data" + struct.pack("<I", len(data)) + data
        + (b"\x00" if len(data) & 1 else b"")
    )
    return b"RIFF" + struct.pack("<I", len(body)) + body


def encode_g711_wav(samples: np.ndarray, rate: int, law: str = "ulaw") -> bytes:
    """Encode int16 samples (n,) or (n, ch) → G.711 WAV bytes (tag 6/7)."""
    arr = np.asarray(samples, dtype=np.int16)
    if arr.ndim == 1:
        arr = arr[:, None]
    codes = (ulaw_encode if law == "ulaw" else alaw_encode)(arr.reshape(-1))
    data = codes.tobytes()
    channels = arr.shape[1]
    tag_ = _MULAW if law == "ulaw" else _ALAW
    fmt = struct.pack("<HHIIHHH", tag_, channels, rate, rate * channels, channels, 8, 0)
    body = (
        b"WAVE"
        + b"fmt " + struct.pack("<I", len(fmt)) + fmt
        + b"data" + struct.pack("<I", len(data)) + data
        + (b"\x00" if len(data) & 1 else b"")
    )
    return b"RIFF" + struct.pack("<I", len(body)) + body


def decode_wav(payload: bytes) -> tuple[int, np.ndarray]:
    """Decode a WAV payload → ``(sample_rate, samples)`` with ``samples``
    float64 of shape (n_frames, n_channels), normalized to [-1, 1]:

    * 8-bit PCM is unsigned → ``(x - 128) / 128``
    * 16/24/32-bit PCM are signed little-endian → ``x / 2^(bits-1)``
    * float32/float64 pass through unscaled (already nominal [-1, 1])

    Raises :class:`WAVError` on framing errors or unsupported encodings
    (e.g. ADPCM / mu-law, which are compression formats out of scope for
    the built-in codec)."""
    if not is_wav(payload or b""):
        raise WAVError("not a RIFF/WAVE payload")
    fmt = None
    data = None
    for tag, body in _chunks(payload):
        if tag == b"fmt ":
            fmt = body
        elif tag == b"data":
            data = body
            if fmt is not None:
                break
    if fmt is None or len(fmt) < 16:
        raise WAVError("missing fmt chunk")
    if data is None:
        raise WAVError("missing data chunk")
    tag_, channels, rate, _byte_rate, block_align, bits = struct.unpack(
        "<HHIIHH", fmt[:16]
    )
    if tag_ == _EXTENSIBLE:
        # first 2 bytes of the 16-byte SubFormat GUID carry the real tag
        if len(fmt) < 26:
            raise WAVError("truncated WAVE_FORMAT_EXTENSIBLE fmt chunk")
        (tag_,) = struct.unpack("<H", fmt[24:26])
    if channels < 1 or rate < 1:
        raise WAVError(f"bad fmt: channels={channels} rate={rate}")
    if tag_ == _PCM:
        if bits == 8:
            raw = np.frombuffer(data, dtype=np.uint8)
            samples = (raw.astype(np.float64) - 128.0) / 128.0
        elif bits == 16:
            raw = np.frombuffer(data[: len(data) // 2 * 2], dtype="<i2")
            samples = raw.astype(np.float64) / 32768.0
        elif bits == 24:
            b = np.frombuffer(data[: len(data) // 3 * 3], dtype=np.uint8)
            b = b.reshape(-1, 3).astype(np.uint32)
            u = b[:, 0] | (b[:, 1] << 8) | (b[:, 2] << 16)
            signed = u.astype(np.int32)
            signed[signed >= 1 << 23] -= 1 << 24
            samples = signed.astype(np.float64) / float(1 << 23)
        elif bits == 32:
            raw = np.frombuffer(data[: len(data) // 4 * 4], dtype="<i4")
            samples = raw.astype(np.float64) / float(1 << 31)
        else:
            raise WAVError(f"unsupported PCM bit depth {bits}")
    elif tag_ == _FLOAT:
        if bits == 32:
            samples = np.frombuffer(data[: len(data) // 4 * 4], dtype="<f4").astype(
                np.float64
            )
        elif bits == 64:
            samples = np.frombuffer(data[: len(data) // 8 * 8], dtype="<f8").astype(
                np.float64
            )
        else:
            raise WAVError(f"unsupported float bit depth {bits}")
    elif tag_ in (_MULAW, _ALAW):
        if bits not in (0, 8):
            raise WAVError(f"G.711 requires 8-bit codes, got {bits}")
        codes = np.frombuffer(data, dtype=np.uint8)
        pcm = ulaw_decode(codes) if tag_ == _MULAW else alaw_decode(codes)
        samples = pcm.astype(np.float64) / 32768.0
    elif tag_ == _IMA_ADPCM:
        pcm2d = _decode_ima_adpcm(data, channels, block_align)
        return rate, pcm2d.astype(np.float64) / 32768.0
    else:
        raise WAVError(
            f"unsupported format tag {tag_} (perceptual codecs like mp3/aac "
            "are out of scope for the built-in codec)"
        )
    n_frames = len(samples) // channels
    return rate, samples[: n_frames * channels].reshape(n_frames, channels)


def encode_wav(
    samples: np.ndarray, rate: int, bits: int = 16
) -> bytes:
    """Encode samples → WAV bytes for fixtures and round-trip tests.

    ``samples``: int array (interpreted as raw sample values at the target
    depth — 8-bit expects unsigned 0..255, wider depths signed) or float
    array in [-1, 1] when ``bits`` is 32 with a float dtype input.  Shape
    (n,) for mono or (n_frames, n_channels)."""
    arr = np.asarray(samples)
    if arr.ndim == 1:
        arr = arr[:, None]
    n_frames, channels = arr.shape
    is_float = np.issubdtype(arr.dtype, np.floating)
    if is_float:
        if bits != 32:
            raise WAVError("float encode supports bits=32 only")
        tag_, data = _FLOAT, arr.astype("<f4").tobytes()
    elif bits == 8:
        tag_, data = _PCM, arr.astype(np.uint8).tobytes()
    elif bits == 16:
        tag_, data = _PCM, arr.astype("<i2").tobytes()
    elif bits == 24:
        tag_ = _PCM
        i = arr.astype(np.int32)
        u = np.where(i < 0, i + (1 << 24), i).astype(np.uint32)
        b = np.empty((u.size, 3), dtype=np.uint8)
        flat = u.reshape(-1)
        b[:, 0] = flat & 0xFF
        b[:, 1] = (flat >> 8) & 0xFF
        b[:, 2] = (flat >> 16) & 0xFF
        data = b.tobytes()
    elif bits == 32:
        tag_, data = _PCM, arr.astype("<i4").tobytes()
    else:
        raise WAVError(f"unsupported encode bit depth {bits}")
    block_align = channels * bits // 8
    fmt = struct.pack(
        "<HHIIHH", tag_, channels, rate, rate * block_align, block_align, bits
    )
    body = (
        b"WAVE"
        + b"fmt " + struct.pack("<I", len(fmt)) + fmt
        + b"data" + struct.pack("<I", len(data)) + data
        + (b"\x00" if len(data) & 1 else b"")
    )
    return b"RIFF" + struct.pack("<I", len(body)) + body


def audio_features(rate: int, samples: np.ndarray) -> dict:
    """Clip-level features over normalized (n_frames, n_channels) samples:

    * ``rms`` / ``peak`` — over ALL channels;
    * ``zero_crossings`` — strict sign flips on channel 0 (zeros break a
      run: +,0,+ is no crossing, +,0,- crosses once at the 0→- step);
    * ``spectral_centroid_hz`` — amplitude-weighted mean frequency of the
      channel-0 rfft magnitude spectrum (0.0 for silent clips).

    All values are plain Python floats/ints so the dict drops straight into
    an Arrow batch column."""
    n_frames, _ = samples.shape
    dur_ms = int(round(n_frames * 1000.0 / rate)) if rate else 0
    if n_frames == 0:
        return {
            "n_frames": 0, "duration_ms": 0, "rms": 0.0, "peak": 0.0,
            "zero_crossings": 0, "spectral_centroid_hz": 0.0,
        }
    rms = float(np.sqrt(np.mean(samples * samples)))
    peak = float(np.max(np.abs(samples)))
    ch0 = samples[:, 0]
    signs = np.sign(ch0)
    nz = signs[signs != 0]
    crossings = int(np.count_nonzero(np.diff(nz))) if nz.size > 1 else 0
    mag = np.abs(np.fft.rfft(ch0))
    total = float(mag.sum())
    if total > 0.0:
        freqs = np.fft.rfftfreq(n_frames, d=1.0 / rate)
        centroid = float((freqs * mag).sum() / total)
    else:
        centroid = 0.0
    return {
        "n_frames": int(n_frames),
        "duration_ms": dur_ms,
        "rms": rms,
        "peak": peak,
        "zero_crossings": crossings,
        "spectral_centroid_hz": centroid,
    }
