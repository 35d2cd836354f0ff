"""Unit batteries for the built-in pure-Python backends: pure-numpy OGC
geometry validity (functions/geo_validity.py) and the stdlib PNG codec
(functions/png.py). No Spark session.
Reference analogue: locations.py:353-364 (shapely is_valid / has_z) for
geometry; the codec has none (media is out of scope, ROADMAP
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

