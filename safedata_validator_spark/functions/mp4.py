"""Pure-stdlib MP4 / ISO-BMFF container parser for MJPEG-in-MP4 video.

MP4 (ISO/IEC 14496-12 "ISO base media file format") is a box tree, not a
bitstream: every structural element is ``struct``-parseable, and the
sample tables (``stsd``/``stts``/``stsc``/``stsz``/``stco``) fully
describe where each video sample lives in the file and when it plays.
For tracks whose sample entry is MJPEG (fourcc ``jpeg``/``mjpa``), each
sample is a standalone baseline JPEG stream that ``functions.jpeg``
already decodes — so this container decodes in any environment.
H.264/H.265/VP9 tracks raise ``MP4Error``.

Box layout handled (single video track; 32-bit and 64-bit box sizes,
``co64`` chunk offsets, multi-entry ``stts``/``stsc``):

    ftyp  mdat(sample payloads)  moov(mvhd trak(tkhd mdia(mdhd hdlr
        minf(vmhd dinf(dref(url)) stbl(stsd stts stsc stsz stco)))))

Frame timing comes from ``stts`` decode deltas over the ``mdhd`` media
timescale; timestamps are ``cum_delta * 1000 // timescale`` ms — integer
arithmetic, so container parsing is exactly reproducible.  ``encode_mp4`` writes
the same minimal layout (constant-delta stts, one chunk, mdat-before-moov)
for fixtures and round-trip tests.

No package code path calls this module: the Spark media stages and
the media catalog gates that used it are gone, and media is out of scope
for the validator (ROADMAP direction 4). It stays, with its tests, until
its own deletion.
"""

from __future__ import annotations

import struct

import numpy as np

__all__ = ["MP4Error", "is_mp4", "mp4_meta", "mp4_frames", "encode_mp4", "decode_mp4"]

#: Sample-entry fourccs whose payloads are standalone JPEG streams.
_MJPEG_FOURCCS = (b"jpeg", b"mjpa")


class MP4Error(ValueError):
    pass


def is_mp4(payload: bytes) -> bool:
    return len(payload) >= 12 and payload[4:8] == b"ftyp"


def _boxes(data: bytes, start: int, end: int):
    """Yield (fourcc, body_start, body_end) for each box in [start, end).
    Handles size==1 (64-bit largesize) and size==0 (box runs to end)."""
    pos = start
    while pos + 8 <= end:
        size = struct.unpack_from(">I", data, pos)[0]
        tag = data[pos + 4 : pos + 8]
        body = pos + 8
        if size == 1:
            if body + 8 > end:
                raise MP4Error("truncated largesize box")
            size = struct.unpack_from(">Q", data, body)[0]
            body += 8
            box_end = pos + size
        elif size == 0:
            box_end = end
        else:
            box_end = pos + size
        if box_end < body or box_end > end:
            raise MP4Error(f"box {tag!r} overruns its parent")
        yield tag, body, box_end
        pos = box_end
    if pos != end:
        raise MP4Error("trailing bytes inside box")


def _find(data: bytes, start: int, end: int, tag: bytes):
    for t, b, e in _boxes(data, start, end):
        if t == tag:
            return b, e
    return None


def _u32s(data: bytes, pos: int, n: int) -> tuple:
    if pos + 4 * n > len(data):
        raise MP4Error("truncated table")
    return struct.unpack_from(f">{n}I", data, pos)


def _parse_stbl(data: bytes, b: int, e: int) -> dict:
    """Parse the five sample tables into plain python structures."""
    out: dict = {}
    for tag, tb, te in _boxes(data, b, e):
        if tag == b"stsd":
            (n_entries,) = _u32s(data, tb + 4, 1)
            if n_entries < 1 or te - tb < 16:
                raise MP4Error("empty stsd")
            # first sample entry: size(4) fourcc(4) at tb+8
            out["codec"] = data[tb + 12 : tb + 16]
            # VisualSampleEntry width/height live 24 bytes past data_ref_index
            if te - tb >= 16 + 8 + 2 + 2 + 16 + 4:
                out["se_width"], out["se_height"] = struct.unpack_from(
                    ">HH", data, tb + 16 + 8 + 16
                )
        elif tag == b"stts":
            (n,) = _u32s(data, tb + 4, 1)
            flat = _u32s(data, tb + 8, 2 * n)
            out["stts"] = [(flat[2 * i], flat[2 * i + 1]) for i in range(n)]
        elif tag == b"stsc":
            (n,) = _u32s(data, tb + 4, 1)
            flat = _u32s(data, tb + 8, 3 * n)
            out["stsc"] = [
                (flat[3 * i], flat[3 * i + 1], flat[3 * i + 2]) for i in range(n)
            ]
        elif tag == b"stsz":
            fixed, n = _u32s(data, tb + 4, 2)
            out["stsz"] = [fixed] * n if fixed else list(_u32s(data, tb + 12, n))
        elif tag == b"stco":
            (n,) = _u32s(data, tb + 4, 1)
            out["stco"] = list(_u32s(data, tb + 8, n))
        elif tag == b"co64":
            (n,) = _u32s(data, tb + 4, 1)
            if tb + 8 + 8 * n > len(data):
                raise MP4Error("truncated co64")
            out["stco"] = list(struct.unpack_from(f">{n}Q", data, tb + 8))
    for need in ("codec", "stts", "stsc", "stsz", "stco"):
        if need not in out:
            raise MP4Error(f"stbl missing {need}")
    return out


def _video_trak(data: bytes, moov_b: int, moov_e: int) -> dict:
    """Locate the first ``vide`` track and return its parsed tables + meta."""
    for tag, tb, te in _boxes(data, moov_b, moov_e):
        if tag != b"trak":
            continue
        mdia = _find(data, tb, te, b"mdia")
        if mdia is None:
            continue
        hdlr = _find(data, *mdia, b"hdlr")
        if hdlr is None or data[hdlr[0] + 8 : hdlr[0] + 12] != b"vide":
            continue
        meta: dict = {}
        tkhd = _find(data, tb, te, b"tkhd")
        if tkhd is not None and data[tkhd[0]] == 0:  # version-0 layout
            meta["width"] = struct.unpack_from(">I", data, tkhd[0] + 76)[0] >> 16
            meta["height"] = struct.unpack_from(">I", data, tkhd[0] + 80)[0] >> 16
        mdhd = _find(data, *mdia, b"mdhd")
        if mdhd is None or data[mdhd[0]] != 0:
            raise MP4Error("missing or non-v0 mdhd")
        meta["timescale"] = struct.unpack_from(">I", data, mdhd[0] + 12)[0]
        minf = _find(data, *mdia, b"minf")
        stbl = _find(data, *minf, b"stbl") if minf else None
        if stbl is None:
            raise MP4Error("video trak missing minf/stbl")
        meta.update(_parse_stbl(data, *stbl))
        return meta
    raise MP4Error("no video track (hdlr 'vide') in moov")


def mp4_meta(data: bytes) -> dict:
    """Parse headers only: codec fourcc, width/height, media timescale,
    sample count."""
    if not is_mp4(data):
        raise MP4Error("not an ISO-BMFF/ftyp signature")
    moov = _find(data, 0, len(data), b"moov")
    if moov is None:
        raise MP4Error("no moov box")
    meta = _video_trak(data, *moov)
    meta["total_frames"] = len(meta["stsz"])
    meta["handler"] = meta.pop("codec").decode("ascii", "replace")
    return meta


def mp4_frames(data: bytes) -> tuple[dict, list[tuple[int, bytes]]]:
    """Parse the container: return (meta, [(t_ms, sample_bytes), ...]) for
    the first video track.  ``sample_bytes`` are the raw codec payloads
    (JPEG streams for MJPEG tracks); decoding them is the codec's business,
    not the container's.  Sample file offsets are resolved through the full
    stsc/stco chunk map; timestamps through stts over the mdhd timescale."""
    meta = mp4_meta(data)
    sizes, stsc, stco = meta["stsz"], meta["stsc"], meta["stco"]
    n = len(sizes)
    # chunk map: stsc entry (first_chunk, samples_per_chunk, _) applies from
    # first_chunk (1-based) until the next entry's first_chunk.
    offsets: list[int] = []
    si = 0
    for ei, (first, per_chunk, _desc) in enumerate(stsc):
        last = stsc[ei + 1][0] - 1 if ei + 1 < len(stsc) else len(stco)
        for ci in range(first, last + 1):
            if si >= n:
                break
            if ci - 1 >= len(stco):
                raise MP4Error("stsc refers past the chunk-offset table")
            pos = stco[ci - 1]
            for _ in range(per_chunk):
                if si >= n:
                    break
                offsets.append(pos)
                pos += sizes[si]
                si += 1
    if si < n:
        raise MP4Error("chunk map covers fewer samples than stsz declares")
    # decode timestamps: cumulative stts deltas -> ms (integer floor)
    ts = meta["timescale"] or 1
    stamps: list[int] = []
    cum = 0
    for count, delta in meta["stts"]:
        for _ in range(count):
            if len(stamps) >= n:
                break
            stamps.append(cum * 1000 // ts)
            cum += delta
    if len(stamps) < n:
        raise MP4Error("stts covers fewer samples than stsz declares")
    frames = []
    for i in range(n):
        end = offsets[i] + sizes[i]
        if end > len(data):
            raise MP4Error(f"sample {i} overruns the file")
        frames.append((stamps[i], bytes(data[offsets[i] : end])))
    if not frames:
        raise MP4Error("no video samples")
    return meta, frames


def decode_mp4(data: bytes) -> list[tuple[int, np.ndarray]]:
    """Decode an MJPEG MP4 to ``[(t_ms, HxWx3 uint8 frame), ...]`` using the
    built-in baseline JPEG codec."""
    from safedata_validator_spark.functions import jpeg as _jpeg

    meta, raw = mp4_frames(data)
    out = []
    for t_ms, payload in raw:
        if not _jpeg.is_jpeg(payload):
            raise MP4Error(
                f"sample-entry codec {meta.get('handler', '?')!r} is not MJPEG "
                "(sample payload lacks a JPEG signature; H.264/H.265 need ffmpeg)"
            )
        out.append((t_ms, np.ascontiguousarray(_jpeg.to_rgb(_jpeg.decode_jpeg(payload)))))
    return out


# ------------------------------------------------------------------ writer


def _box(tag: bytes, body: bytes) -> bytes:
    return struct.pack(">I", 8 + len(body)) + tag + body


def _full(tag: bytes, version: int, flags: int, body: bytes) -> bytes:
    return _box(tag, struct.pack(">I", (version << 24) | flags) + body)


def encode_mp4(
    frames: list[bytes],
    width: int,
    height: int,
    fps: int = 25,
    samples_per_chunk: int | None = None,
) -> bytes:
    """Write a minimal single-track MJPEG MP4 around pre-encoded JPEG sample
    payloads (fixtures / round-trip tests): media timescale = fps with
    per-sample delta 1 (so t_ms = i * 1000 // fps, integer
    timing), mdat before moov.  ``samples_per_chunk=None`` puts all
    samples in one chunk; an integer splits them into chunks of that many
    samples (ragged last chunk → a second stsc entry), exercising the full
    stsc/stco chunk map a real muxer produces."""
    if not frames:
        raise MP4Error("no frames to encode")
    if fps <= 0:
        raise MP4Error("fps must be positive")
    n = len(frames)
    spc = n if samples_per_chunk is None else max(1, samples_per_chunk)
    ftyp = _box(b"ftyp", b"isom" + struct.pack(">I", 512) + b"isomiso2mp41")
    mdat = _box(b"mdat", b"".join(frames))
    chunk_off = len(ftyp) + 8  # first sample = start of mdat body

    dur_media = n  # delta 1 per sample at timescale=fps
    dur_ms = n * 1000 // fps
    mvhd = _full(
        b"mvhd", 0, 0,
        struct.pack(">IIII", 0, 0, 1000, dur_ms)
        + struct.pack(">IHHII", 0x00010000, 0x0100, 0, 0, 0)
        + struct.pack(">9I", 0x10000, 0, 0, 0, 0x10000, 0, 0, 0, 0x40000000)
        + struct.pack(">6I", 0, 0, 0, 0, 0, 0)
        + struct.pack(">I", 2),  # next_track_ID
    )
    tkhd = _full(
        b"tkhd", 0, 3,  # enabled | in-movie
        struct.pack(">IIIII", 0, 0, 1, 0, dur_ms)
        + struct.pack(">II", 0, 0)
        + struct.pack(">HHHH", 0, 0, 0, 0)
        + struct.pack(">9I", 0x10000, 0, 0, 0, 0x10000, 0, 0, 0, 0x40000000)
        + struct.pack(">II", width << 16, height << 16),
    )
    mdhd = _full(
        b"mdhd", 0, 0,
        struct.pack(">IIIIHH", 0, 0, fps, dur_media, 0x55C4, 0),  # lang 'und'
    )
    hdlr = _full(b"hdlr", 0, 0, struct.pack(">I", 0) + b"vide" + b"\0" * 12 + b"MJPEG\0")
    # VisualSampleEntry 'jpeg': 78-byte fixed body, no codec-specific boxes
    sample_entry = struct.pack(">I", 8 + 78) + b"jpeg" + (
        b"\0" * 6
        + struct.pack(">H", 1)            # data_reference_index
        + b"\0" * 16                      # pre_defined / reserved
        + struct.pack(">HH", width, height)
        + struct.pack(">II", 0x00480000, 0x00480000)  # 72 dpi
        + struct.pack(">I", 0)
        + struct.pack(">H", 1)            # frame_count
        + b"\0" * 32                      # compressorname
        + struct.pack(">Hh", 24, -1)      # depth, pre_defined
    )
    stsd = _full(b"stsd", 0, 0, struct.pack(">I", 1) + sample_entry)
    stts = _full(b"stts", 0, 0, struct.pack(">III", 1, n, 1))
    n_chunks = -(-n // spc)
    remainder = n - (n_chunks - 1) * spc
    stsc_entries = [(1, spc, 1)]
    if n_chunks > 1 and remainder != spc:
        stsc_entries.append((n_chunks, remainder, 1))
    stsc = _full(
        b"stsc", 0, 0,
        struct.pack(">I", len(stsc_entries))
        + b"".join(struct.pack(">III", *e) for e in stsc_entries),
    )
    stsz = _full(
        b"stsz", 0, 0,
        struct.pack(">II", 0, n) + struct.pack(f">{n}I", *(len(f) for f in frames)),
    )
    chunk_offs, pos = [], chunk_off
    for ci in range(n_chunks):
        chunk_offs.append(pos)
        pos += sum(len(f) for f in frames[ci * spc : ci * spc + spc])
    stco = _full(
        b"stco", 0, 0,
        struct.pack(">I", n_chunks) + struct.pack(f">{n_chunks}I", *chunk_offs),
    )
    stbl = _box(b"stbl", stsd + stts + stsc + stsz + stco)
    dinf = _box(b"dinf", _full(b"dref", 0, 0, struct.pack(">I", 1) + _full(b"url ", 0, 1, b"")))
    vmhd = _full(b"vmhd", 0, 1, struct.pack(">HHHH", 0, 0, 0, 0))
    minf = _box(b"minf", vmhd + dinf + stbl)
    mdia = _box(b"mdia", mdhd + hdlr + minf)
    trak = _box(b"trak", tkhd + mdia)
    moov = _box(b"moov", mvhd + trak)
    return ftyp + mdat + moov
