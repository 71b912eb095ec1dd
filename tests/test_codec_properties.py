"""Property-based round trips for the lossless codec paths — random shapes,
depths, channel counts and sample values through WAV, FLAC, VP8L and the
PNG re-emit path.  Complements the golden/spec-fixture suites: hypothesis
explores the shape/value space the hand-written cases don't."""

from __future__ import annotations

import numpy as np
from hypothesis import given, settings
from hypothesis import strategies as st

from wordspell_spark.operators import audio as A
from wordspell_spark.operators import flac as FL
from wordspell_spark.operators import multimodal as MM
from wordspell_spark.operators import webp as W


_COMMON = dict(max_examples=25, deadline=None)


@settings(**_COMMON)
@given(
    n=st.integers(1, 400),
    ch=st.integers(1, 4),
    bits=st.sampled_from([8, 16, 32]),
    seed=st.integers(0, 2**31),
)
def test_wav_roundtrip(n, ch, bits, seed):
    rng = np.random.default_rng(seed)
    if bits == 8:
        s = rng.integers(0, 256, (n, ch)).astype(np.uint8)
    else:
        lim = 1 << (bits - 1)
        s = rng.integers(-lim, lim, (n, ch)).astype(np.int32 if bits == 32 else np.int16)
    dec = A.decode_wav(A.make_wav(s, rate=8000, bits=bits))
    assert dec is not None
    s2, rate, b = dec
    assert (rate, b) == (8000, bits) and np.array_equal(s, s2)


@settings(**_COMMON)
@given(
    n=st.integers(1, 600),
    ch=st.integers(1, 3),
    bits=st.sampled_from([8, 16, 24]),
    block=st.sampled_from([64, 256, 4096]),
    lpc=st.booleans(),
    smooth=st.booleans(),
    seed=st.integers(0, 2**31),
)
def test_flac_roundtrip(n, ch, bits, block, lpc, smooth, seed):
    rng = np.random.default_rng(seed)
    lim = 1 << (bits - 1)
    if smooth:  # exercises fixed/LPC predictors + rice
        t = np.arange(n)
        base = (np.sin(t / 9.0) * (lim // 2)).astype(np.int64)
        s = np.stack([base + c for c in range(ch)], axis=1)
    else:  # noise → verbatim fallback
        s = rng.integers(-lim, lim, (n, ch)).astype(np.int64)
    blob = FL.make_flac(s, rate=8000, bits=bits, block_size=block, use_lpc=lpc)
    dec = FL.decode_flac(blob)
    assert dec is not None
    s2, rate, b = dec
    assert (rate, b) == (8000, bits) and np.array_equal(s, s2)


@settings(**_COMMON)
@given(
    n=st.integers(2, 500),
    delta=st.integers(0, 3),
    seed=st.integers(0, 2**31),
)
def test_flac_mid_side_roundtrip(n, delta, seed):
    rng = np.random.default_rng(seed)
    left = rng.integers(-20000, 20000, n).astype(np.int64)
    right = left + rng.integers(-delta, delta + 1, n)
    s = np.stack([left, right], axis=1)
    dec = FL.decode_flac(FL.make_flac(s, stereo_mode="mid_side"))
    assert dec is not None and np.array_equal(s, dec[0])


@settings(**_COMMON)
@given(
    h=st.integers(1, 40),
    w=st.integers(1, 40),
    ch=st.sampled_from([1, 3, 4]),
    subgreen=st.booleans(),
    lz=st.booleans(),
    seed=st.integers(0, 2**31),
)
def test_vp8l_roundtrip(h, w, ch, subgreen, lz, seed):
    rng = np.random.default_rng(seed)
    # mix flat regions (LZ77 runs) with noise (wide huffman alphabets)
    px = rng.integers(0, 256, (h, w) if ch == 1 else (h, w, ch)).astype(np.uint8)
    if h >= 4:
        px[: h // 2] = px[0]
    dec = W.decode_webp_pixels(W.make_webp_lossless(px, use_subtract_green=subgreen, use_lz77=lz))
    assert dec is not None
    src = px if px.ndim == 3 else px[:, :, None]
    if src.shape[2] == 1:
        src = np.repeat(src, 3, axis=2)
    if src.shape[2] == 3:
        src = np.concatenate([src, np.full((h, w, 1), 255, np.uint8)], axis=2)
    assert np.array_equal(dec, src)


@settings(**_COMMON)
@given(
    h=st.integers(1, 32),
    w=st.integers(1, 32),
    rgb=st.booleans(),
    seed=st.integers(0, 2**31),
)
def test_png_roundtrip(h, w, rgb, seed):
    rng = np.random.default_rng(seed)
    px = rng.integers(0, 256, (h, w, 3) if rgb else (h, w)).astype(np.uint8)
    dec = MM.decode_png_pixels(MM.make_png(0, 0, px))
    assert dec is not None
    want = px if px.ndim == 3 else px[:, :, None]
    assert np.array_equal(dec, want)
