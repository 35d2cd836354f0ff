"""Hypothesis property batteries for the built-in PNG codec
(functions/png.py):
random-input round-trip invariants beyond the hand-picked cases in
test_builtin_codecs.py. No Spark session — pure kernel fuzzing.

Properties pinned:
* PNG: encode→decode is the identity for every (dtype, channels, filter)
  — lossless by spec.
"""

from __future__ import annotations

import numpy as np
from hypothesis import given, settings
from hypothesis import strategies as st

from safedata_validator_spark.functions.png import decode_png, encode_png

_dims = st.integers(min_value=1, max_value=17)


@settings(max_examples=40, deadline=None)
@given(
    h=_dims, w=_dims,
    ch=st.integers(min_value=1, max_value=4),
    ft=st.integers(min_value=0, max_value=4),
    bit16=st.booleans(),
    seed=st.integers(min_value=0, max_value=2**31),
)
def test_png_round_trip_property(h, w, ch, ft, bit16, seed):
    rng = np.random.default_rng(seed)
    if bit16:
        arr = rng.integers(0, 1 << 16, size=(h, w, ch), dtype=np.uint16)
    else:
        arr = rng.integers(0, 256, size=(h, w, ch), dtype=np.uint8)
    out = decode_png(encode_png(arr, filter_type=ft))
    assert out.dtype == arr.dtype and out.shape == arr.shape
    assert (out == arr).all()


# ---------------------------------------------------------------------------
# Adversarial robustness (VERDICT r04 §next 8): for ANY truncation or
# single-byte corruption of a valid payload, every container walker /
# decoder either returns a result or raises its TYPED error (a ValueError
# subclass) — never an untyped crash (struct.error, IndexError,
# OverflowError, MemoryError from a bogus size field, ...).
# ---------------------------------------------------------------------------


def _assert_typed(decode, data: bytes) -> None:
    try:
        decode(data)
    except ValueError:
        pass  # typed rejection (every codec error subclasses ValueError)


@settings(max_examples=80, deadline=None)
@given(
    seed=st.integers(min_value=0, max_value=2**31),
    mode=st.sampled_from(["cut", "flip"]),
    pos=st.floats(min_value=0.0, max_value=1.0),
    val=st.integers(min_value=0, max_value=255),
)
def test_image_audio_mutation_typed_errors(seed, mode, pos, val):
    rng = np.random.default_rng(seed)
    data = encode_png(rng.integers(0, 256, (5, 4, 3), dtype=np.uint8))
    if mode == "cut":
        data = data[: int(len(data) * pos)]
    else:
        b = bytearray(data)
        b[min(int(len(b) * pos), len(b) - 1)] = val
        data = bytes(b)
    _assert_typed(decode_png, data)

