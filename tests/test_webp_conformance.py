"""Conformance suite for the from-scratch WebP lossless (VP8L) codec.

The system ``libwebp`` (bound via ctypes — stdlib, test-only) is the
reference implementation both ways:

- encoder conformance: every stream our encoder emits must decode
  bit-exactly under libwebp, across the option grid (subtract-green,
  LZ77, color cache, all 14 predictor modes, palettes incl. sub-byte
  bundling, alpha);
- decoder conformance: streams produced by libwebp's lossless encoder
  (which uses the full feature set — per-block predictors, color
  transform, meta prefix codes, the short-distance plane map) must
  decode bit-exactly under ours.

Ground truth for decoder tests is LIBWEBP'S OWN DECODE of its stream,
not the pre-encode array: libwebp's encoder legitimately rewrites RGB
under fully-transparent pixels (alpha-cleanup; ``exact`` is off), and
a conformant decoder must reproduce the stream, not the input.

Skipped wholesale when libwebp is absent — the production codec
(`trollflow2_spark/extensions/webp.py`) never touches it.
"""

from __future__ import annotations

import ctypes
import ctypes.util

import numpy as np
import pytest

from trollflow2_spark.extensions.webp import decode_webp, encode_webp_lossless


def _load_libwebp():
    for name in ("libwebp.so.7", "libwebp.so", ctypes.util.find_library("webp")):
        if not name:
            continue
        try:
            lib = ctypes.CDLL(name)
        except OSError:
            continue
        if hasattr(lib, "WebPEncodeLosslessRGBA"):
            lib.WebPEncodeLosslessRGBA.restype = ctypes.c_size_t
            lib.WebPDecodeRGBA.restype = ctypes.POINTER(ctypes.c_uint8)
            return lib
    return None


_LIB = _load_libwebp()

pytestmark = pytest.mark.skipif(
    _LIB is None, reason="libwebp not available for conformance checks"
)


def _ref_encode(arr: np.ndarray) -> bytes:
    h, w = arr.shape[:2]
    if arr.shape[2] == 3:
        arr = np.concatenate(
            [arr, np.full((h, w, 1), 255, np.uint8)], axis=2
        )
    out = ctypes.POINTER(ctypes.c_uint8)()
    n = _LIB.WebPEncodeLosslessRGBA(
        arr.tobytes(), w, h, w * 4, ctypes.byref(out)
    )
    assert n > 0
    try:
        return ctypes.string_at(out, n)
    finally:
        _LIB.WebPFree(out)


def _ref_decode(blob: bytes) -> np.ndarray:
    wi, he = ctypes.c_int(), ctypes.c_int()
    p = _LIB.WebPDecodeRGBA(blob, len(blob), ctypes.byref(wi), ctypes.byref(he))
    assert p, "libwebp rejected the stream"
    try:
        return np.frombuffer(
            ctypes.string_at(p, wi.value * he.value * 4), dtype=np.uint8
        ).reshape(he.value, wi.value, 4).copy()
    finally:
        _LIB.WebPFree(p)


def _to_rgba(arr: np.ndarray) -> np.ndarray:
    if arr.ndim == 2:
        arr = np.stack([arr] * 3, axis=-1)
    if arr.shape[2] == 3:
        h, w = arr.shape[:2]
        arr = np.concatenate(
            [arr, np.full((h, w, 1), 255, np.uint8)], axis=2
        )
    return arr


def _mine_to_rgba(got: np.ndarray) -> np.ndarray:
    return _to_rgba(got)


@pytest.mark.parametrize("mode", list(range(14)))
def test_encoder_all_predictor_modes_decode_under_libwebp(mode):
    rng = np.random.RandomState(100 + mode)
    arr = rng.randint(0, 256, (19, 23, 3), np.uint8)
    blob = encode_webp_lossless(
        arr,
        predictor_mode=mode,
        use_subtract_green=bool(mode % 2),
        cache_bits=mode % 6,
    )
    got = _ref_decode(blob)
    assert (got[:, :, :3] == arr).all() and (got[:, :, 3] == 255).all()


@pytest.mark.parametrize(
    "kw",
    [
        {},
        {"use_subtract_green": False},
        {"use_lz77": False},
        {"cache_bits": 5},
        {"cache_bits": 11},
    ],
)
def test_encoder_option_grid_decodes_under_libwebp(kw):
    rng = np.random.RandomState(7)
    arr = rng.randint(0, 256, (13, 17, 3), np.uint8)
    got = _ref_decode(encode_webp_lossless(arr, **kw))
    assert (got[:, :, :3] == arr).all()


@pytest.mark.parametrize("n_colors", [2, 4, 16, 250])
def test_encoder_palette_bundling_decodes_under_libwebp(n_colors):
    rng = np.random.RandomState(n_colors)
    pal = rng.randint(0, 256, (n_colors, 3), np.uint8)
    idx = rng.randint(0, n_colors, (11, 29))
    arr = pal[idx]
    got = _ref_decode(encode_webp_lossless(arr, use_palette=True))
    assert (got[:, :, :3] == arr).all()


def test_encoder_alpha_roundtrip_under_libwebp():
    rng = np.random.RandomState(9)
    arr = rng.randint(0, 256, (14, 9, 4), np.uint8)
    arr[:, :, 3] = np.maximum(arr[:, :, 3], 1)  # avoid alpha-cleanup zone
    got = _ref_decode(encode_webp_lossless(arr))
    assert (got == arr).all()


def test_decoder_matches_libwebp_on_fuzz_corpus():
    """libwebp's encoder output — which freely uses per-block
    predictors, the color transform, palettes, meta prefix codes and
    plane-coded distances — must decode bit-identically to libwebp's
    own decode."""
    rng = np.random.RandomState(31)
    n_fail = 0
    for trial in range(40):
        h = int(rng.randint(1, 90))
        w = int(rng.randint(1, 90))
        kind = trial % 5
        if kind == 0:
            arr = rng.randint(0, 256, (h, w, 3), np.uint8)
        elif kind == 1:
            arr = (rng.randint(0, 3, (h, w, 3)) * 127).astype(np.uint8)
        elif kind == 2:
            arr = (
                (np.add.outer(np.arange(h), np.arange(w)) * 3) % 256
            ).astype(np.uint8)[..., None].repeat(3, -1)
        elif kind == 3:
            base = rng.randint(
                0, 256, (max(1, h // 4), max(1, w // 4), 3), np.uint8
            )
            arr = np.kron(base, np.ones((4, 4, 1), np.uint8))[:h, :w]
        else:
            arr = rng.randint(0, 256, (h, w, 4), np.uint8)
        blob = _ref_encode(arr)
        want = _ref_decode(blob)
        got = _mine_to_rgba(decode_webp(blob))
        if got.shape != want.shape or not (got == want).all():
            n_fail += 1
    assert n_fail == 0


def test_decoder_matches_libwebp_on_large_structured_images():
    """Large images force meta prefix codes (entropy image) and long
    LZ77 matches through the plane map."""
    rng = np.random.RandomState(5)
    big = rng.randint(0, 256, (200, 300, 3), np.uint8)
    big[50:150, 40:200] = big[10:110, 5:165]
    photo = (
        (np.add.outer(np.arange(257), np.arange(311)) % 256)
        + rng.randint(0, 8, (257, 311))
    ).clip(0, 255).astype(np.uint8)[..., None].repeat(3, -1)
    sparse = np.stack([(rng.rand(180, 240) < 0.1).astype(np.uint8) * 255] * 3, -1)
    for arr in (big, photo, sparse):
        blob = _ref_encode(arr)
        want = _ref_decode(blob)
        got = _mine_to_rgba(decode_webp(blob))
        assert got.shape == want.shape and (got == want).all()


def test_self_roundtrip_without_libwebp_reference():
    """Pure self-consistency (also meaningful where libwebp is absent —
    but kept in this module for locality)."""
    rng = np.random.RandomState(77)
    for kw in (
        {},
        {"predictor_mode": 13, "cache_bits": 3},
        {"use_palette": True},
    ):
        if kw.get("use_palette"):
            pal = rng.randint(0, 256, (5, 3), np.uint8)
            arr = pal[rng.randint(0, 5, (12, 31))]
        else:
            arr = rng.randint(0, 256, (18, 10, 3), np.uint8)
        got = decode_webp(encode_webp_lossless(arr, **kw))
        assert (got == arr).all()


def test_lossy_vp8_route_decodes_for_real():
    """Lossy (VP8) stills now decode through the from-scratch VP8
    decoder (full conformance lives in test_vp8_conformance.py); a
    truncated VP8 chunk still raises cleanly."""
    from trollflow2_spark.extensions.vp8 import encode_vp8_i16, wrap_webp

    out = decode_webp(wrap_webp(encode_vp8_i16([3], 1, 1, 16, 16, qi=40)))
    assert out.shape == (16, 16, 3)
    fake = (
        b"RIFF" + (20).to_bytes(4, "little") + b"WEBP"
        + b"VP8 " + (8).to_bytes(4, "little") + b"\x00" * 8
    )
    with pytest.raises(ValueError):
        decode_webp(fake)


def test_truncated_and_garbage_streams_raise():
    rng = np.random.RandomState(3)
    arr = rng.randint(0, 256, (9, 9, 3), np.uint8)
    blob = encode_webp_lossless(arr)
    with pytest.raises((ValueError, NotImplementedError)):
        decode_webp(b"not a webp at all")
    for cut in (13, len(blob) // 2, len(blob) - 2):
        try:
            decode_webp(blob[:cut])
        except (ValueError, struct_error_types()):
            pass
        else:  # a truncated stream must never return silently
            raise AssertionError(f"truncation at {cut} not detected")


def struct_error_types():
    import struct

    return struct.error


def test_animated_webp_roundtrip_and_container_shape():
    """VP8X+ANIM/ANMF container: frames round-trip losslessly, the
    container walk yields them in order, and a still image decodes as a
    single frame through the same API."""
    from trollflow2_spark.extensions.webp import (
        decode_webp_frames,
        encode_webp_animation,
    )

    rng = np.random.RandomState(11)
    frames = [rng.randint(0, 256, (7, 5, 3), np.uint8) for _ in range(4)]
    out = decode_webp_frames(encode_webp_animation(frames))
    assert len(out) == 4
    for f, o in zip(frames, out):
        assert (o == f).all()
    one = decode_webp_frames(encode_webp_lossless(frames[0]))
    assert len(one) == 1 and (one[0] == frames[0]).all()


def test_animated_webp_rejects_mismatched_frames():
    from trollflow2_spark.extensions.webp import encode_webp_animation

    a = np.zeros((4, 4), np.uint8)
    b = np.zeros((5, 4), np.uint8)
    with pytest.raises(ValueError):
        encode_webp_animation([a, b])
    with pytest.raises(ValueError):
        encode_webp_animation([])


def test_still_decode_of_animation_yields_first_frame():
    from trollflow2_spark.extensions.webp import (
        decode_webp,
        encode_webp_animation,
    )

    frames = [np.full((4, 6), v, np.uint8) for v in (9, 77)]
    out = decode_webp(encode_webp_animation(frames))
    assert (out[:, :, 0] == 9).all()
