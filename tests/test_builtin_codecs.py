"""Unit batteries for the built-in pure-Python backends: pure-numpy OGC
geometry validity (functions/geo_validity.py) and the stdlib codecs
(functions/png.py, jpeg.py, wav.py, gif.py, mp4.py). No Spark session.
Reference analogue: locations.py:353-364 (shapely is_valid / has_z) for
geometry; the codecs have none (media is out of scope, ROADMAP
direction 4)."""

from __future__ import annotations

import struct
import zlib

import numpy as np
import pytest

from safedata_validator_spark.functions.geo_validity import ogc_valid_wkt
from safedata_validator_spark.functions.png import (
    PNGError,
    decode_png,
    encode_png,
    is_png,
    to_rgb,
)

# --------------------------------------------------------------------------
# OGC validity classes — (wkt, expected)
# --------------------------------------------------------------------------

VALID = [
    "POINT (1 2)",
    "POINT (-1.5e2 .25)",
    "MULTIPOINT ((1 1), (2 2))",
    "MULTIPOINT (1 1, 2 2)",
    "LINESTRING (0 0, 1 1, 2 0)",
    # self-crossing linestring: non-simple but VALID per OGC/GEOS
    "LINESTRING (0 0, 2 2, 2 0, 0 2)",
    "POLYGON ((0 0, 1 0, 1 1, 0 1, 0 0))",
    "polygon ((0 0, 1 0, 1 1, 0 1, 0 0))",
    # concave, duplicate consecutive vertex (valid per GEOS)
    "POLYGON ((0 0, 1 0, 0.5 0.5, 1 1, 0 1, 0 0))",
    "POLYGON ((0 0, 1 0, 1 0, 1 1, 0 1, 0 0))",
    # proper hole; hole touching shell at a single point is allowed
    "POLYGON ((0 0, 4 0, 4 4, 0 4, 0 0), (1 1, 2 1, 2 2, 1 2, 1 1))",
    "POLYGON ((0 0, 4 0, 4 4, 0 4, 0 0), (0 0, 2 1, 1 2, 0 0))",
    "MULTIPOLYGON (((0 0, 1 0, 1 1, 0 1, 0 0)), ((5 5, 6 5, 6 6, 5 6, 5 5)))",
    "MULTILINESTRING ((0 0, 1 1), (2 2, 3 3))",
    "GEOMETRYCOLLECTION (POINT (1 2), LINESTRING (0 0, 1 1))",
    "GEOMETRYCOLLECTION EMPTY",
    "POLYGON EMPTY",
]

INVALID = [
    # parse failures
    "not wkt at all",
    "POINT (1)",
    "POINT (1 2 3)",
    "POINT Z (1 2 3)",
    "LINESTRING (0 0, 1 1) trailing",
    "POLYGON ((0 0, 1 0, 1 1, 0 1, 0 0)",
    # degenerate
    "LINESTRING (0 0, 0 0)",
    "POLYGON ((0 0, 1 0, 1 1, 0 1))",          # unclosed ring
    "POLYGON ((0 0, 1 0, 2 0, 0 0))",          # zero area
    "POLYGON ((0 0, 1 1, 0 0))",               # too few distinct vertices
    # self-intersection family
    "POLYGON ((0 0, 1 1, 1 0, 0 1, 0 0))",     # bowtie
    "POLYGON ((0 0, 2 0, 2 2, 1 0, 0 2, 0 0))",  # pinch: vertex on edge
    "POLYGON ((0 0, 2 0, 1 0, 1 1, 0 1, 0 0))",  # collinear backtrack spike
    # hole topology
    "POLYGON ((0 0, 4 0, 4 4, 0 4, 0 0), (5 5, 6 5, 6 6, 5 6, 5 5))",  # outside
    "POLYGON ((0 0, 4 0, 4 4, 0 4, 0 0), (1 1, 3 1, 3 5, 1 5, 1 1))",  # crosses
    "POLYGON ((0 0, 4 0, 4 4, 0 4, 0 0), (1 1, 3 1, 3 3, 1 3, 1 1),"
    " (1.5 1.5, 2.5 1.5, 2.5 2.5, 1.5 2.5, 1.5 1.5))",                 # nested
    # multipolygon topology
    "MULTIPOLYGON (((0 0, 4 0, 4 4, 0 4, 0 0)), ((1 1, 2 1, 2 2, 1 2, 1 1)))",
    "MULTIPOLYGON (((0 0, 2 0, 2 2, 0 2, 0 0)), ((1 1, 3 1, 3 3, 1 3, 1 1)))",
    # a collection is only as valid as its members
    "GEOMETRYCOLLECTION (POINT (1 2), POLYGON ((0 0, 1 1, 1 0, 0 1, 0 0)))",
]


@pytest.mark.parametrize("wkt", VALID)
def test_ogc_valid(wkt):
    assert ogc_valid_wkt(wkt) is True, wkt


@pytest.mark.parametrize("wkt", INVALID)
def test_ogc_invalid(wkt):
    assert ogc_valid_wkt(wkt) is False, wkt


def test_ogc_null_passthrough():
    assert ogc_valid_wkt(None) is None


# --------------------------------------------------------------------------
# PNG codec — round trips across channel counts, filter types, sizes
# --------------------------------------------------------------------------


@pytest.mark.parametrize("channels", [1, 2, 3, 4])
@pytest.mark.parametrize("filter_type", [0, 1, 2, 3, 4])
def test_png_round_trip(channels, filter_type):
    rng = np.random.default_rng(channels * 10 + filter_type)
    for shape in ((1, 1), (3, 5), (16, 16), (7, 2)):
        arr = rng.integers(0, 256, size=(*shape, channels), dtype=np.uint8)
        out = decode_png(encode_png(arr, filter_type=filter_type))
        assert out.shape == arr.shape and (out == arr).all()


def test_png_grey_2d_and_to_rgb():
    g = np.arange(24, dtype=np.uint8).reshape(4, 6)
    assert (decode_png(encode_png(g))[:, :, 0] == g).all()
    rgba = np.dstack([g, g, g, np.full_like(g, 7)])
    assert (to_rgb(rgba) == np.dstack([g, g, g])).all()
    assert to_rgb(g[:, :, None]).shape == (4, 6, 3)


def _chunk(tag: bytes, body: bytes) -> bytes:
    return (
        struct.pack(">I", len(body)) + tag + body
        + struct.pack(">I", zlib.crc32(tag + body) & 0xFFFFFFFF)
    )


def test_png_palette_with_transparency():
    ihdr = struct.pack(">IIBBBBB", 2, 2, 8, 3, 0, 0, 0)
    plte = bytes((255, 0, 0, 0, 255, 0))
    raw = b"\x00\x00\x01" + b"\x00\x01\x00"
    base = b"\x89PNG\r\n\x1a\n" + _chunk(b"IHDR", ihdr) + _chunk(b"PLTE", plte)
    tail = _chunk(b"IDAT", zlib.compress(raw)) + _chunk(b"IEND", b"")
    img = decode_png(base + _chunk(b"tRNS", bytes((255, 128))) + tail)
    assert img.shape == (2, 2, 4)
    assert (img[0, 0] == (255, 0, 0, 255)).all()
    assert (img[0, 1] == (0, 255, 0, 128)).all()
    assert decode_png(base + tail).shape == (2, 2, 3)


@pytest.mark.parametrize("channels", [1, 2, 3, 4])
@pytest.mark.parametrize("filter_type", [0, 1, 2, 3, 4])
def test_png_round_trip_16bit(channels, filter_type):
    rng = np.random.default_rng(1000 + channels * 10 + filter_type)
    for shape in ((1, 1), (3, 5), (9, 4)):
        arr = rng.integers(0, 1 << 16, size=(*shape, channels), dtype=np.uint16)
        out = decode_png(encode_png(arr, filter_type=filter_type))
        assert out.dtype == np.uint16
        assert out.shape == arr.shape and (out == arr).all()


def test_png_16bit_to_rgb_high_byte():
    arr = np.array([[[0x1234, 0xFF00, 0x00FF]]], dtype=np.uint16)
    assert (to_rgb(arr) == np.array([[[0x12, 0xFF, 0x00]]], dtype=np.uint8)).all()


def _low_depth_png(depth, ctype, w, h, packed_rows, extra=b""):
    ihdr = struct.pack(">IIBBBBB", w, h, depth, ctype, 0, 0, 0)
    raw = b"".join(b"\x00" + r for r in packed_rows)
    return (
        b"\x89PNG\r\n\x1a\n" + _chunk(b"IHDR", ihdr) + extra
        + _chunk(b"IDAT", zlib.compress(raw)) + _chunk(b"IEND", b"")
    )


def test_png_low_depth_grey():
    # 1-bit 10px row 1010101010 -> MSB-first bytes 0b10101010, 0b10______
    img = decode_png(_low_depth_png(1, 0, 10, 2, [b"\xaa\x80", b"\x55\x40"]))
    assert img.shape == (2, 10, 1)
    assert (img[0, :, 0] == np.array([255, 0] * 5)).all()
    assert (img[1, :, 0] == np.array([0, 255] * 5)).all()
    # 2-bit: samples 0,1,2,3 scale to 0,85,170,255
    img2 = decode_png(_low_depth_png(2, 0, 4, 1, [b"\x1b"]))  # 00 01 10 11
    assert (img2[0, :, 0] == np.array([0, 85, 170, 255])).all()
    # 4-bit: 0x0..0xF scale by 17
    img4 = decode_png(_low_depth_png(4, 0, 3, 1, [b"\x5a\xf0"]))  # 5, a, f
    assert (img4[0, :, 0] == np.array([85, 170, 255])).all()


def test_png_low_depth_palette():
    plte = bytes((10, 20, 30, 40, 50, 60, 70, 80, 90, 100, 110, 120))
    # 2-bit palette, 3px row: indices 2,0,1 -> bits 10 00 01 -> 0b100001__
    data = _low_depth_png(2, 3, 3, 1, [b"\x84"], extra=_chunk(b"PLTE", plte))
    img = decode_png(data)
    assert img.shape == (1, 3, 3)
    assert (img[0] == np.array([[70, 80, 90], [10, 20, 30], [40, 50, 60]])).all()


def test_png_illegal_depth_combinations():
    for depth, ctype in ((16, 3), (2, 2), (4, 6), (3, 0)):
        ihdr = struct.pack(">IIBBBBB", 1, 1, depth, ctype, 0, 0, 0)
        data = (
            b"\x89PNG\r\n\x1a\n" + _chunk(b"IHDR", ihdr)
            + _chunk(b"IDAT", zlib.compress(b"\x00\x00")) + _chunk(b"IEND", b"")
        )
        with pytest.raises(PNGError):
            decode_png(data)


def test_png_rejects_corruption():
    arr = np.zeros((2, 2, 3), dtype=np.uint8)
    data = bytearray(encode_png(arr))
    assert is_png(bytes(data))
    with pytest.raises(PNGError):
        decode_png(b"not a png")
    data[-9] ^= 0xFF  # flip a byte inside IEND's CRC
    with pytest.raises(PNGError):
        decode_png(bytes(data))
    truncated = encode_png(arr)[:-12]
    with pytest.raises(PNGError):
        decode_png(truncated)


# --------------------------------------------------------------------- JPEG

from safedata_validator_spark.functions.jpeg import (  # noqa: E402
    JPEGError,
    decode_jpeg,
    encode_jpeg,
    is_jpeg,
)
from safedata_validator_spark.functions.jpeg import to_rgb as jpeg_to_rgb  # noqa: E402


def _test_image(h=29, w=37, seed=7):
    rng = np.random.default_rng(seed)
    x = np.linspace(0, 255, w)[None, :] * np.ones((h, 1))
    img = np.stack([x, x[::-1], np.full((h, w), 64.0)], axis=-1)
    return np.clip(img + rng.normal(0, 3, img.shape), 0, 255).astype(np.uint8)


@pytest.mark.parametrize("subsample", ["444", "420"])
def test_jpeg_round_trip_rgb(subsample):
    img = _test_image()
    enc = encode_jpeg(img, quality=90, subsample=subsample)
    assert is_jpeg(enc)
    dec = decode_jpeg(enc)
    assert dec.shape == img.shape and dec.dtype == np.uint8
    err = np.abs(dec.astype(int) - img.astype(int))
    # q90 on a smooth-ish gradient: small lossy error, never drift
    assert err.mean() < 8 and err.max() < 48


def test_jpeg_q100_near_lossless():
    rng = np.random.default_rng(3)
    img = rng.integers(0, 256, (16, 24, 3), dtype=np.uint8)
    dec = decode_jpeg(encode_jpeg(img, quality=100))
    # all-ones quant tables: error is color-conversion rounding only
    assert np.abs(dec.astype(int) - img.astype(int)).max() <= 3
    g = rng.integers(0, 256, (16, 24), dtype=np.uint8)
    dg = decode_jpeg(encode_jpeg(g, quality=100))
    assert dg.shape == g.shape
    # grayscale skips color conversion: pure DCT rounding
    assert np.abs(dg.astype(int) - g.astype(int)).max() <= 1


def test_jpeg_flat_color_exact():
    flat = np.full((20, 11, 3), 200, dtype=np.uint8)
    for sub in ("444", "420"):
        dec = decode_jpeg(encode_jpeg(flat, quality=95, subsample=sub))
        assert (dec == 200).all(), sub


def test_jpeg_odd_sizes_crop_back():
    # non-multiple-of-8 (and of 16 for 4:2:0) dims must crop exactly
    for h, w in ((1, 1), (7, 9), (8, 8), (17, 31)):
        img = _test_image(h, w, seed=h * 100 + w)
        for sub in ("444", "420"):
            assert decode_jpeg(encode_jpeg(img, subsample=sub)).shape == (h, w, 3)


def test_jpeg_grayscale_to_rgb():
    g = np.clip(np.linspace(0, 255, 16)[None, :] * np.ones((9, 1)), 0, 255).astype(np.uint8)
    dec = decode_jpeg(encode_jpeg(g, quality=95))
    assert dec.ndim == 2
    rgb = jpeg_to_rgb(dec)
    assert rgb.shape == (9, 16, 3)
    assert (rgb[:, :, 0] == dec).all()


def test_jpeg_rejects_malformed():
    assert not is_jpeg(b"not a jpeg")
    with pytest.raises(JPEGError):
        decode_jpeg(b"not a jpeg")
    enc = bytearray(encode_jpeg(_test_image(8, 8)))
    # flip SOF0 into SOF2: the baseline SOS trailer (Ss=0, Se=63) is an
    # ILLEGAL progressive scan header (a DC scan must have Se=0, G.1.1.1.1)
    # — the progressive path must refuse it, not mis-decode
    idx = bytes(enc).find(b"\xff\xc0")
    enc[idx + 1] = 0xC2
    with pytest.raises(JPEGError):
        decode_jpeg(bytes(enc))
    with pytest.raises(JPEGError):
        decode_jpeg(encode_jpeg(_test_image(8, 8))[:40])  # truncated
    with pytest.raises(JPEGError):
        encode_jpeg(_test_image(8, 8).astype(np.int32))


def test_jpeg_dequant_uses_natural_order_table():
    """Regression pin for the zigzag/natural dequantization mixup: the
    decoder must scatter zigzag coefficients to natural order BEFORE
    multiplying by the (natural-order) quant table. With the orders mixed,
    a pure-noise image at q95 round-trips with MAE ≈ 39; correctly paired
    it is ≈ 3. (q100 and flat-image tests cannot catch this — all-ones
    tables and zero AC energy make both orders identical.)"""
    rng = np.random.default_rng(7)
    img = rng.integers(0, 256, (64, 64, 3), dtype=np.uint8)
    dec = decode_jpeg(encode_jpeg(img, quality=95))
    mae = float(np.abs(dec.astype(int) - img.astype(int)).mean())
    assert mae < 8.0, f"dequant order regression: MAE {mae}"


@pytest.mark.parametrize("subsample", ["444", "420"])
def test_progressive_jpeg_exact_vs_baseline(subsample):
    from safedata_validator_spark.functions.jpeg import encode_progressive_jpeg

    img = _test_image(29, 37)
    prog = encode_progressive_jpeg(img, quality=85, subsample=subsample)
    assert is_jpeg(prog)
    assert b"\xff\xc2" in prog and b"\xff\xc0" not in prog  # SOF2, no SOF0
    base = decode_jpeg(encode_jpeg(img, quality=85, subsample=subsample))
    assert np.array_equal(decode_jpeg(prog), base)


def test_progressive_jpeg_grayscale_and_flat_eob_runs():
    from safedata_validator_spark.functions.jpeg import encode_progressive_jpeg

    g = _test_image(21, 18)[..., 0]
    assert np.array_equal(
        decode_jpeg(encode_progressive_jpeg(g, quality=90)),
        decode_jpeg(encode_jpeg(g, quality=90)),
    )
    # flat image: every AC band is empty → the whole scan is one long EOB
    # run (EOBn symbols with appended length bits) — and q100 flat decodes
    # exactly, same invariant the catalog oracles use for baseline
    flat = np.full((128, 96, 3), 77, np.uint8)
    assert (decode_jpeg(encode_progressive_jpeg(flat, quality=100)) == 77).all()


def test_progressive_jpeg_compresses_comparably():
    from safedata_validator_spark.functions.jpeg import encode_progressive_jpeg

    img = _test_image(96, 120, seed=3)
    b = len(encode_jpeg(img, quality=85))
    p = len(encode_progressive_jpeg(img, quality=85))
    # per-scan optimal Huffman tables: progressive should be in the same
    # ballpark or smaller, never a blow-up
    assert p < b * 1.15, (p, b)


# --------------------------------------------------------------------------
# WAV codec (functions/wav.py) — the built-in audio branch (round 4)
# --------------------------------------------------------------------------

from safedata_validator_spark.functions.wav import (  # noqa: E402
    WAVError,
    audio_features,
    decode_wav,
    encode_wav,
    is_wav,
)


@pytest.mark.parametrize("bits", [8, 16, 24, 32])
@pytest.mark.parametrize("channels", [1, 2])
def test_wav_pcm_round_trip(bits, channels):
    rng = np.random.default_rng(bits * 10 + channels)
    n = 777
    if bits == 8:
        s = rng.integers(0, 256, (n, channels))
        expected = (s - 128) / 128.0
    else:
        lim = 1 << (bits - 1)
        s = rng.integers(-lim, lim, (n, channels))
        expected = s / float(lim)
    rate, dec = decode_wav(encode_wav(s, 22050, bits=bits))
    assert rate == 22050
    assert dec.shape == (n, channels)
    assert np.allclose(dec, expected)


def test_wav_float32_round_trip():
    sig = np.sin(np.arange(2048) * 0.013).astype(np.float32)
    rate, dec = decode_wav(encode_wav(sig, 48000, bits=32))
    assert rate == 48000
    assert np.allclose(dec[:, 0], sig, atol=1e-7)


def test_wav_extensible_and_alignment():
    # WAVE_FORMAT_EXTENSIBLE wrapping PCM-16, plus an odd-length extra
    # chunk before data (exercises 2-byte chunk alignment)
    s = np.array([100, -100, 3000, -3000], dtype=np.int64)
    base = encode_wav(s, 8000, bits=16)
    fmt = struct.pack("<HHIIHH", 0xFFFE, 1, 8000, 16000, 2, 16)
    fmt += struct.pack("<HIH", 22, 16, 0x0004) + struct.pack("<H", 1) + b"\x00" * 14
    data = np.asarray(s).astype("<i2").tobytes()
    body = (
        b"WAVE"
        + b"junk" + struct.pack("<I", 3) + b"abc\x00"  # odd chunk + pad
        + b"fmt " + struct.pack("<I", len(fmt)) + fmt
        + b"data" + struct.pack("<I", len(data)) + data
    )
    payload = b"RIFF" + struct.pack("<I", len(body)) + body
    rate, dec = decode_wav(payload)
    assert rate == 8000
    ref_rate, ref_dec = decode_wav(base)
    assert np.array_equal(dec, ref_dec)


def test_wav_rejects_malformed():
    assert not is_wav(b"RIFFxxxx")
    with pytest.raises(WAVError):
        decode_wav(b"not audio at all")
    good = encode_wav(np.array([1, 2, 3]), 8000, bits=16)
    with pytest.raises(WAVError):
        decode_wav(good[:20])  # truncated data chunk
    # mu-law (tag 7) is now a built-in decode path — this payload decodes
    fmt = struct.pack("<HHIIHH", 7, 1, 8000, 8000, 1, 8)
    body = (
        b"WAVE" + b"fmt " + struct.pack("<I", len(fmt)) + fmt
        + b"data" + struct.pack("<I", 4) + b"\x00\x01\x02\x03"
    )
    rate, dec = decode_wav(b"RIFF" + struct.pack("<I", len(body)) + body)
    assert rate == 8000 and dec.shape == (4, 1)
    # genuinely unsupported: a perceptual codec tag (0x55 = MPEG Layer 3)
    fmt = struct.pack("<HHIIHH", 0x55, 1, 8000, 8000, 1, 0)
    body = (
        b"WAVE" + b"fmt " + struct.pack("<I", len(fmt)) + fmt
        + b"data" + struct.pack("<I", 4) + b"\x00\x01\x02\x03"
    )
    with pytest.raises(WAVError):
        decode_wav(b"RIFF" + struct.pack("<I", len(body)) + body)


def test_audio_features_square_wave_exact():
    a, p, n = 12000, 5, 1003
    sq = np.where((np.arange(n) // p) % 2 == 0, a, -a)
    rate, dec = decode_wav(encode_wav(sq, 8000, bits=16))
    f = audio_features(rate, dec)
    assert f["rms"] == a / 32768.0  # exact dyadic value, bit-for-bit
    assert f["peak"] == a / 32768.0
    assert f["zero_crossings"] == (n - 1) // p
    assert f["n_frames"] == n


def test_audio_features_pure_tone_centroid():
    # exact-bin cosine: centroid == tone frequency
    n, k, rate = 2048, 64, 8000
    tone = np.cos(2 * np.pi * k * np.arange(n) / n)
    f = audio_features(rate, tone[:, None])
    assert abs(f["spectral_centroid_hz"] - k * rate / n) < 1.0


def test_audio_features_zero_handling():
    # zeros break sign runs: +,0,+ no crossing; +,0,- one crossing
    f = audio_features(8000, np.array([[1.0], [0.0], [1.0], [0.0], [-1.0]]))
    assert f["zero_crossings"] == 1
    silent = audio_features(8000, np.zeros((16, 1)))
    assert silent["rms"] == 0.0 and silent["spectral_centroid_hz"] == 0.0


# --------------------------------------------------------------------------
# GIF codec (functions/gif.py) — the built-in video-frame branch (round 4)
# --------------------------------------------------------------------------

from safedata_validator_spark.functions.gif import (  # noqa: E402
    GIFError,
    decode_gif,
    encode_gif,
    is_gif,
)


def test_gif_animated_round_trip():
    rng = np.random.default_rng(11)
    pal = rng.integers(0, 256, (8, 3)).astype(np.uint8)
    frames = [rng.integers(0, 8, (13, 17)).astype(np.uint8) for _ in range(4)]
    delays = [50, 100, 150, 200]
    dec = decode_gif(encode_gif(frames, pal, delays_ms=delays))
    assert len(dec) == 4
    for (dms, img), f, exp in zip(dec, frames, delays):
        assert dms == exp
        assert np.array_equal(img, pal[f])


def test_gif_interlace_round_trip():
    rng = np.random.default_rng(12)
    pal = rng.integers(0, 256, (16, 3)).astype(np.uint8)
    frame = rng.integers(0, 16, (23, 9)).astype(np.uint8)
    dec = decode_gif(encode_gif([frame], pal, interlace_first=True))
    assert np.array_equal(dec[0][1], pal[frame])


def test_gif_code_width_growth_and_clear():
    # 256-color palette + large noisy frame forces 12-bit codes and a
    # dictionary clear mid-stream
    rng = np.random.default_rng(13)
    pal = rng.integers(0, 256, (256, 3)).astype(np.uint8)
    frame = rng.integers(0, 256, (120, 150)).astype(np.uint8)
    dec = decode_gif(encode_gif([frame], pal))
    assert np.array_equal(dec[0][1], pal[frame])


def test_gif_two_color_min_code_floor():
    pal = np.array([[0, 0, 0], [255, 255, 255]], np.uint8)
    frame = (np.indices((9, 9)).sum(axis=0) % 2).astype(np.uint8)
    dec = decode_gif(encode_gif([frame], pal))
    assert np.array_equal(dec[0][1], pal[frame])


def test_gif_transparency_composites_over_previous():
    # frame 2 marks index 0 transparent: pixels keep frame 1's colors
    pal = np.array(
        [[10, 20, 30], [200, 100, 50], [0, 255, 0], [255, 0, 255]], np.uint8
    )
    f1 = np.full((4, 6), 1, np.uint8)
    f2 = np.zeros((4, 6), np.uint8)
    f2[1:3, 2:4] = 2
    payload = bytearray(encode_gif([f1, f2], pal))
    # set the transparency flag + index 0 on frame 2's graphic control:
    # GCEs are the 8-byte blocks 21 f9 04 <packed> <delay:2> <tidx> 00
    gce_positions = []
    i = 0
    while True:
        i = payload.find(b"\x21\xf9\x04", i)
        if i < 0:
            break
        gce_positions.append(i)
        i += 3
    assert len(gce_positions) == 2
    p2 = gce_positions[1]
    payload[p2 + 3] |= 0x01  # transparent color flag
    payload[p2 + 6] = 0  # transparent index = 0
    dec = decode_gif(bytes(payload))
    assert len(dec) == 2
    img2 = dec[1][1]
    assert (img2[1:3, 2:4] == pal[2]).all()  # opaque pixels replaced
    assert (img2[0, :] == pal[1]).all()  # transparent pixels show frame 1


def test_gif_disposal_restore_background():
    # disposal=2 after frame 1 restores the background color for frame 2's
    # transparent region
    pal = np.array(
        [[9, 9, 9], [200, 100, 50], [0, 255, 0], [255, 0, 255]], np.uint8
    )
    f1 = np.full((3, 3), 1, np.uint8)
    f2 = np.zeros((3, 3), np.uint8)
    payload = bytearray(encode_gif([f1, f2], pal))
    i1 = payload.find(b"\x21\xf9\x04")
    payload[i1 + 3] |= 0x08  # disposal method 2 on frame 1
    i2 = payload.find(b"\x21\xf9\x04", i1 + 3)
    payload[i2 + 3] |= 0x01  # frame 2 fully transparent (index 0)
    payload[i2 + 6] = 0
    dec = decode_gif(bytes(payload))
    # background index is 0 -> canvas restored to pal[0] before frame 2
    assert (dec[1][1] == pal[0]).all()


def test_gif_rejects_malformed():
    assert not is_gif(b"JIF89a")
    with pytest.raises(GIFError):
        decode_gif(b"GIF89a")  # truncated
    with pytest.raises(GIFError):
        encode_gif([np.zeros((2, 2), np.uint8)], np.zeros((3, 3), np.uint8))
    pal = np.zeros((4, 3), np.uint8)
    good = bytes(encode_gif([np.zeros((8, 8), np.uint8)], pal))
    with pytest.raises(GIFError):
        decode_gif(good[: len(good) // 2])  # truncated mid-LZW
    with pytest.raises(GIFError):
        decode_gif(good[:12])  # truncated header


# ---------------------------------------------------------------------- MP4


def _mk_mp4(values, w=9, h=6, fps=8, layout="444", spc=None):
    from safedata_validator_spark.functions.jpeg import encode_jpeg
    from safedata_validator_spark.functions.mp4 import encode_mp4

    jpegs = []
    for v in values:
        if layout == "gray":
            jpegs.append(encode_jpeg(np.full((h, w), v, np.uint8), quality=100))
        else:
            jpegs.append(
                encode_jpeg(np.full((h, w, 3), v, np.uint8), quality=100,
                            subsample=layout)
            )
    return encode_mp4(jpegs, width=w, height=h, fps=fps, samples_per_chunk=spc)


@pytest.mark.parametrize("layout", ["gray", "444", "420"])
def test_mp4_mjpeg_round_trip_exact(layout):
    from safedata_validator_spark.functions.mp4 import decode_mp4, is_mp4, mp4_meta

    values = [10, 120, 250]
    data = _mk_mp4(values, w=9, h=6, fps=8, layout=layout)
    assert is_mp4(data)
    meta = mp4_meta(data)
    assert (meta["width"], meta["height"]) == (9, 6)
    assert (meta["se_width"], meta["se_height"]) == (9, 6)
    assert meta["timescale"] == 8
    assert meta["total_frames"] == 3 and meta["handler"] == "jpeg"
    out = decode_mp4(data)
    assert [t for t, _ in out] == [0, 125, 250]
    for (_, img), v in zip(out, values):
        assert img.shape == (6, 9, 3)
        assert (img == v).all()  # flat q100 JPEG decodes exactly


def test_mp4_timestamps_integer_floor():
    from safedata_validator_spark.functions.mp4 import decode_mp4

    data = _mk_mp4([1, 2, 3, 4], fps=7)
    assert [t for t, _ in decode_mp4(data)] == [0, 142, 285, 428]


@pytest.mark.parametrize("spc", [1, 2, 3, 5, None])
def test_mp4_chunk_map_layouts(spc):
    # every samples_per_chunk layout (incl. ragged last chunk -> two stsc
    # entries) must resolve the same sample offsets through stsc/stco
    from safedata_validator_spark.functions.jpeg import encode_jpeg
    from safedata_validator_spark.functions.mp4 import encode_mp4, mp4_frames

    jpegs = [encode_jpeg(np.full((2, 3), v, np.uint8), quality=100)
             for v in (7, 99, 200, 31, 140)]
    data = encode_mp4(jpegs, width=3, height=2, fps=9, samples_per_chunk=spc)
    _, frames = mp4_frames(data)
    assert [f for _, f in frames] == jpegs
    assert [t for t, _ in frames] == [i * 1000 // 9 for i in range(5)]


def test_mp4_multi_entry_stts():
    # hand-patch stts into two entries (2 samples at delta 1, 2 at delta 3)
    # to gate the cumulative-delta walk beyond the constant-delta writer
    import struct

    from safedata_validator_spark.functions.mp4 import mp4_frames

    data = bytearray(_mk_mp4([1, 2, 3, 4], fps=10))
    i = data.find(b"stts")
    assert struct.unpack_from(">III", data, i + 8) == (1, 4, 1)
    new_body = struct.pack(">I", 0) + struct.pack(">IIIII", 2, 2, 1, 2, 3)
    new_box = struct.pack(">I", 8 + len(new_body)) + b"stts" + new_body
    old_len = struct.unpack_from(">I", data, i - 4)[0]
    patched = bytes(data[: i - 4]) + new_box + bytes(data[i - 4 + old_len :])
    # grow every ancestor box size (moov/trak/mdia/minf/stbl) by the delta
    delta = len(new_box) - old_len
    out = bytearray(patched)
    for tag in (b"moov", b"trak", b"mdia", b"minf", b"stbl"):
        j = out.find(tag)
        sz = struct.unpack_from(">I", out, j - 4)[0]
        struct.pack_into(">I", out, j - 4, sz + delta)
    _, frames = mp4_frames(bytes(out))
    # cum deltas 0,1,2,5 at timescale 10 -> ms floor
    assert [t for t, _ in frames] == [0, 100, 200, 500]


def test_mp4_rejects_malformed():
    import struct

    from safedata_validator_spark.functions.mp4 import (
        MP4Error,
        decode_mp4,
        encode_mp4,
        is_mp4,
        mp4_meta,
    )

    assert not is_mp4(b"RIFF\x00\x00\x00\x00AVI ")
    with pytest.raises(MP4Error, match="no moov"):
        decode_mp4(b"\x00\x00\x00\x10ftypisom\x00\x00\x02\x00")
    data = _mk_mp4([1, 2])
    with pytest.raises(MP4Error):
        decode_mp4(data[: len(data) // 2])  # moov truncated away
    # non-MJPEG sample payload behind a valid container
    bad = encode_mp4([b"not a jpeg stream!"], width=2, height=2, fps=5)
    with pytest.raises(MP4Error, match="not MJPEG"):
        decode_mp4(bad)
    with pytest.raises(MP4Error):
        encode_mp4([], width=2, height=2)
    with pytest.raises(MP4Error):
        encode_mp4([b"x"], width=2, height=2, fps=0)
    # headers present but no video handler: flip 'vide' to 'soun'
    mut = bytearray(data)
    i = mut.find(b"vide")
    mut[i : i + 4] = b"soun"
    with pytest.raises(MP4Error, match="no video track"):
        mp4_meta(bytes(mut))
    # stsz declaring more samples than the chunk map / stts cover: header
    # parse (mp4_meta) succeeds, the frame walk must fail
    from safedata_validator_spark.functions.mp4 import mp4_frames

    mut2 = bytearray(data)
    j = mut2.find(b"stsz")
    struct.pack_into(">II", mut2, j + 8, 10, 99)  # fixed size 10, count 99
    assert mp4_meta(bytes(mut2))["total_frames"] == 99
    with pytest.raises(MP4Error, match="chunk map covers fewer"):
        mp4_frames(bytes(mut2))
