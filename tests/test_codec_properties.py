"""Hypothesis property batteries for the built-in media codecs
(functions/png.py, wav.py):
random-input round-trip invariants beyond the hand-picked cases in
test_builtin_codecs.py. No Spark session — pure kernel fuzzing.

Properties pinned:
* PNG: encode→decode is the identity for every (dtype, channels, filter)
  — lossless by spec.
* WAV: int PCM round-trips to the same quantized sample; float PCM is
  bit-exact.
"""

from __future__ import annotations

import numpy as np
from hypothesis import given, settings
from hypothesis import strategies as st

from safedata_validator_spark.functions.png import decode_png, encode_png
from safedata_validator_spark.functions.wav import decode_wav, encode_wav

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


@settings(max_examples=30, deadline=None)
@given(
    n=st.integers(min_value=1, max_value=400),
    ch=st.integers(min_value=1, max_value=2),
    bits=st.sampled_from([8, 16, 24, 32]),
    seed=st.integers(min_value=0, max_value=2**31),
)
def test_wav_int_pcm_round_trip_property(n, ch, bits, seed):
    # encode_wav takes RAW integer sample values at the target depth;
    # decode normalizes by 2^(bits-1) (8-bit: unsigned, offset 128) —
    # exact in float64 for every depth ≤ 32
    rng = np.random.default_rng(seed)
    if bits == 8:
        s = rng.integers(0, 256, size=(n, ch))
        expected = (s - 128) / 128.0
    else:
        lim = 1 << (bits - 1)
        s = rng.integers(-lim, lim, size=(n, ch))
        expected = s / float(lim)
    rate, dec = decode_wav(encode_wav(s, 16000, bits=bits))
    assert rate == 16000 and dec.shape == (n, ch)
    assert (dec == expected).all()


@settings(max_examples=30, deadline=None)
@given(
    n=st.integers(min_value=1, max_value=400),
    ch=st.integers(min_value=1, max_value=2),
    seed=st.integers(min_value=0, max_value=2**31),
)
def test_wav_float_pcm_round_trip_property(n, ch, seed):
    rng = np.random.default_rng(seed)
    s = rng.uniform(-1, 1, size=(n, ch)).astype(np.float32)
    rate, dec = decode_wav(encode_wav(s, 44100, bits=32))
    assert rate == 44100
    assert (dec == s.astype(np.float64)).all()  # float path is bit-exact


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
    kind=st.sampled_from(["png", "wav"]),
    mode=st.sampled_from(["cut", "flip"]),
    pos=st.floats(min_value=0.0, max_value=1.0),
    val=st.integers(min_value=0, max_value=255),
)
def test_image_audio_mutation_typed_errors(seed, kind, mode, pos, val):
    rng = np.random.default_rng(seed)
    if kind == "png":
        data, dec = encode_png(rng.integers(0, 256, (5, 4, 3), dtype=np.uint8)), decode_png
    else:
        data, dec = encode_wav(rng.integers(-100, 100, (50, 1)), 8000, bits=16), decode_wav
    if mode == "cut":
        data = data[: int(len(data) * pos)]
    else:
        b = bytearray(data)
        b[min(int(len(b) * pos), len(b) - 1)] = val
        data = bytes(b)
    _assert_typed(dec, data)


# ------------------------------------------------- G.711 & IMA ADPCM (WAV)

from safedata_validator_spark.functions.wav import (  # noqa: E402
    alaw_decode,
    alaw_encode,
    encode_g711_wav,
    encode_ima_adpcm,
    ulaw_decode,
    ulaw_encode,
)


def test_g711_exhaustive_quantization_bounds():
    # Deterministic, EXHAUSTIVE: every int16 value through encode→decode.
    # The measured worst-case quantizer errors of these tables are 644
    # (mu-law, bias-shifted segments) and 512 (A-law, top segment step
    # 1024); relative error above the first segment stays under 4%.
    x = np.arange(-32768, 32768, dtype=np.int16)
    for enc, dec, abs_bound in (
        (ulaw_encode, ulaw_decode, 660),
        (alaw_encode, alaw_decode, 520),
    ):
        y = dec(enc(x)).astype(np.int32)
        err = np.abs(y - x.astype(np.int32))
        assert err.max() <= abs_bound
        big = np.abs(x.astype(np.int32)) >= 1024
        assert (err[big] / np.abs(x.astype(np.int32))[big]).max() <= 0.04


def test_g711_code_involution():
    # encode(decode(code)) reproduces every code up to the ±0 ambiguity:
    # compare in the DECODED domain, where the fixed point is exact.
    codes = np.arange(256, dtype=np.uint8)
    for enc, dec in ((ulaw_encode, ulaw_decode), (alaw_encode, alaw_decode)):
        assert (dec(enc(dec(codes))) == dec(codes)).all()


@settings(max_examples=30, deadline=None)
@given(
    n=st.integers(min_value=1, max_value=500),
    ch=st.integers(min_value=1, max_value=2),
    law=st.sampled_from(["ulaw", "alaw"]),
    seed=st.integers(min_value=0, max_value=2**31),
)
def test_g711_wav_round_trip_property(n, ch, law, seed):
    rng = np.random.default_rng(seed)
    pcm = rng.integers(-32768, 32768, size=(n, ch)).astype(np.int16)
    rate, dec = decode_wav(encode_g711_wav(pcm, 8000, law=law))
    assert rate == 8000 and dec.shape == (n, ch)
    err = np.abs(dec * 32768.0 - pcm)
    assert err.max() <= 660  # the exhaustive per-sample bound above


@settings(max_examples=25, deadline=None)
@given(
    n=st.integers(min_value=300, max_value=1500),
    ch=st.integers(min_value=1, max_value=2),
    spb=st.sampled_from([9, 129, 505]),
    seed=st.integers(min_value=0, max_value=2**31),
)
def test_ima_adpcm_wav_round_trip_property(n, ch, spb, seed):
    # ADPCM is a 4-bit adaptive-step predictor: exactness is impossible,
    # and the step size starts small (index 0), so the first ~tens of
    # samples are an adaptation transient inherent to the format. On a
    # band-limited signal the reconstruction must track closely once
    # adapted: require SNR ≥ 18 dB over samples 128..n (the encoder pads
    # the tail block; decode returns whole blocks, so compare leading n).
    rng = np.random.default_rng(seed)
    t = np.arange(n)[:, None]
    phase = rng.uniform(0, 2 * np.pi, size=(1, ch))
    sig = (9000 * np.sin(t / 7.0 + phase) + 3000 * np.sin(t / 23.0)).astype(
        np.int16
    )
    rate, dec = decode_wav(encode_ima_adpcm(sig, 16000, samples_per_block=spb))
    assert rate == 16000 and dec.shape[1] == ch and dec.shape[0] >= n
    got, ref = dec[128:n] * 32768.0, sig[128:]
    noise = ((got - ref) ** 2).mean()
    if noise > 0:
        snr = 10 * np.log10((ref.astype(np.float64) ** 2).mean() / noise)
        assert snr >= 18.0


@settings(max_examples=80, deadline=None)
@given(
    seed=st.integers(min_value=0, max_value=2**31),
    kind=st.sampled_from(["ulaw", "alaw", "adpcm"]),
    mode=st.sampled_from(["cut", "flip"]),
    pos=st.floats(min_value=0.0, max_value=1.0),
    val=st.integers(min_value=0, max_value=255),
)
def test_g711_adpcm_mutation_typed_errors(seed, kind, mode, pos, val):
    rng = np.random.default_rng(seed)
    pcm = rng.integers(-8000, 8000, size=(200, 1)).astype(np.int16)
    if kind == "adpcm":
        data = encode_ima_adpcm(pcm, 8000, samples_per_block=65)
    else:
        data = encode_g711_wav(pcm, 8000, law=kind)
    if mode == "cut":
        data = data[: int(len(data) * pos)]
    else:
        b = bytearray(data)
        b[min(int(len(b) * pos), len(b) - 1)] = val
        data = bytes(b)
    _assert_typed(decode_wav, data)
