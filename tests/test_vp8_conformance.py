"""Conformance suite for the from-scratch VP8 (lossy WebP) decoder.

The system libwebp (ctypes, test-only) is the reference both ways:

- decoder conformance: streams produced by libwebp's LOSSY encoder
  (intra modes chosen by its RD search, segmentation, loop filter)
  must decode to BIT-EXACT YUV planes under our decoder — YUV is the
  conformance surface because the format ends at YUV; RGB conversion
  is a decoder-side policy choice;
- encoder conformance: streams from the repo's full-control keyframe
  encoder (explicit modes + coefficient levels, skip flags, 2/4/8
  token partitions, filter levels/sharpness) must decode identically
  under libwebp and under our decoder.

Skipped wholesale when libwebp is absent — the production codec never
touches it.
"""

from __future__ import annotations

import ctypes
import ctypes.util

import numpy as np
import pytest

from trollflow2_spark.extensions import vp8 as V


def _load_libwebp():
    for name in ("libwebp.so.7", "libwebp.so", ctypes.util.find_library("webp")):
        if not name:
            continue
        try:
            lib = ctypes.CDLL(name)
        except OSError:
            continue
        if hasattr(lib, "WebPEncodeRGB") and hasattr(lib, "WebPDecodeYUV"):
            lib.WebPEncodeRGB.restype = ctypes.c_size_t
            lib.WebPEncodeRGB.argtypes = [
                ctypes.c_char_p, ctypes.c_int, ctypes.c_int, ctypes.c_int,
                ctypes.c_float,
                ctypes.POINTER(ctypes.POINTER(ctypes.c_uint8)),
            ]
            lib.WebPDecodeYUV.restype = ctypes.POINTER(ctypes.c_uint8)
            return lib
    return None


_LIB = _load_libwebp()

pytestmark = pytest.mark.skipif(
    _LIB is None, reason="libwebp not available for conformance checks"
)


def _ref_encode_lossy(rgb: np.ndarray, q: float) -> bytes:
    h, w = rgb.shape[:2]
    out = ctypes.POINTER(ctypes.c_uint8)()
    n = _LIB.WebPEncodeRGB(rgb.tobytes(), w, h, w * 3, q, ctypes.byref(out))
    assert n > 0
    try:
        return ctypes.string_at(out, n)
    finally:
        _LIB.WebPFree(out)


def _ref_decode_yuv(blob: bytes):
    wi, he = ctypes.c_int(), ctypes.c_int()
    up = ctypes.POINTER(ctypes.c_uint8)()
    vp = ctypes.POINTER(ctypes.c_uint8)()
    st, uvst = ctypes.c_int(), ctypes.c_int()
    y = _LIB.WebPDecodeYUV(
        blob, len(blob), ctypes.byref(wi), ctypes.byref(he),
        ctypes.byref(up), ctypes.byref(vp), ctypes.byref(st),
        ctypes.byref(uvst),
    )
    assert y, "libwebp rejected the stream"
    w, h = wi.value, he.value
    cw, ch = (w + 1) // 2, (h + 1) // 2
    Y = np.frombuffer(
        ctypes.string_at(y, st.value * h), dtype=np.uint8
    ).reshape(h, st.value)[:, :w].copy()
    U = np.frombuffer(
        ctypes.string_at(up, uvst.value * ch), dtype=np.uint8
    ).reshape(ch, uvst.value)[:, :cw].copy()
    Vp = np.frombuffer(
        ctypes.string_at(vp, uvst.value * ch), dtype=np.uint8
    ).reshape(ch, uvst.value)[:, :cw].copy()
    _LIB.WebPFree(y)
    return Y, U, Vp


def _vp8_payload(blob: bytes) -> bytes:
    assert blob[:4] == b"RIFF" and blob[8:12] == b"WEBP"
    pos = 12
    while pos + 8 <= len(blob):
        tag = blob[pos : pos + 4]
        size = int.from_bytes(blob[pos + 4 : pos + 8], "little")
        if tag == b"VP8 ":
            return blob[pos + 8 : pos + 8 + size]
        pos += 8 + size + (size & 1)
    raise AssertionError("no VP8 chunk")


def _assert_yuv_equal(blob_webp: bytes):
    Yr, Ur, Vr = _ref_decode_yuv(blob_webp)
    Ym, Um, Vm = V.decode_vp8(_vp8_payload(blob_webp))
    for name, a, b in (("Y", Yr, Ym), ("U", Ur, Um), ("V", Vr, Vm)):
        assert a.shape == b.shape, (name, a.shape, b.shape)
        assert np.array_equal(a, b), (
            name,
            np.argwhere(a.astype(int) != b.astype(int))[:3],
        )


def test_decoder_matches_libwebp_on_natural_content():
    """libwebp-encoded streams across content kinds / sizes / qualities
    (its RD search exercises segmentation, every intra mode family and
    the loop filter) decode to bit-exact YUV."""
    for seed in range(12):
        r = np.random.default_rng(seed + 100)
        h, w = int(r.integers(8, 90)), int(r.integers(8, 90))
        yy, xx = np.mgrid[0:h, 0:w]
        kind = seed % 5
        if kind == 0:
            rgb = r.integers(0, 256, size=(h, w, 3), dtype=np.uint8)
        elif kind == 1:
            rgb = np.stack(
                [(yy * 3) % 256, (xx * 5) % 256, ((yy + xx) * 2) % 256],
                axis=2,
            ).astype(np.uint8)
        elif kind == 2:
            rgb = np.full((h, w, 3), int(r.integers(0, 256)), np.uint8)
            rgb[h // 4 : h // 2, w // 4 : w // 2] = r.integers(0, 256, 3)
        elif kind == 3:
            base = r.integers(0, 256, size=(h // 8 + 1, w // 8 + 1, 3))
            rgb = np.kron(base, np.ones((8, 8, 1))).astype(np.uint8)[:h, :w]
        else:
            rgb = (
                128 + 100 * np.sin(yy / 5.0) * np.cos(xx / 7.0)
            )[:, :, None].repeat(3, axis=2).astype(np.uint8)
        _assert_yuv_equal(_ref_encode_lossy(rgb, float(r.integers(5, 100))))


def _rand_mb(r, force_zero=False):
    ymode = int(r.integers(0, 5))

    def blk(p=0.6):
        if force_zero:
            return [0] * 16
        lv = r.integers(-8, 9, size=16)
        lv[r.random(16) < p] = 0
        return [int(x) for x in lv]

    mb = {
        "ymode": ymode, "uvmode": int(r.integers(0, 4)),
        "y": [blk() for _ in range(16)],
        "u": [blk() for _ in range(4)], "v": [blk() for _ in range(4)],
    }
    if ymode == V.B_PRED:
        mb["bmodes"] = [int(r.integers(0, 10)) for _ in range(16)]
    else:
        mb["y2"] = blk(0.4)
    return mb


def test_own_streams_decode_identically_under_libwebp():
    """Full-control streams across the feature grid — every prediction
    mode, explicit coefficients, skip flags, multi-partition layouts,
    normal/simple loop filters with sharpness — agree bit-exactly
    between libwebp and our decoder."""
    rng = np.random.default_rng(77)
    grids = [
        dict(fl=0, simple=0, sharp=0, skip=False, nparts=1),
        dict(fl=25, simple=0, sharp=0, skip=True, nparts=1),
        dict(fl=63, simple=0, sharp=7, skip=False, nparts=2),
        dict(fl=35, simple=1, sharp=3, skip=True, nparts=4),
        dict(fl=12, simple=0, sharp=1, skip=True, nparts=8),
    ]
    for g in grids:
        mbs = [_rand_mb(rng, force_zero=(i % 3 == 0)) for i in range(12)]
        payload = V.encode_vp8(
            mbs, 4, 3, 64, 48, qi=int(rng.integers(0, 128)),
            filter_level=g["fl"], filter_simple=g["simple"],
            sharpness=g["sharp"], use_skip=g["skip"], nparts=g["nparts"],
        )
        blob = V.wrap_webp(payload)
        Yr, Ur, Vr = _ref_decode_yuv(blob)
        Ym, Um, Vm = V.decode_vp8(payload)
        for a, b in ((Yr, Ym), (Ur, Um), (Vr, Vm)):
            assert np.array_equal(a, b)


def test_every_bmode_every_context_row():
    """All ten 4x4 sub-modes as uniform macroblocks (deep probability
    tree paths + each prediction formula at the frame border)."""
    for bm in range(10):
        mb = {
            "ymode": V.B_PRED, "uvmode": 0, "bmodes": [bm] * 16,
            "y": [[0] * 16 for _ in range(16)],
            "u": [[0] * 16 for _ in range(4)],
            "v": [[0] * 16 for _ in range(4)],
        }
        payload = V.encode_vp8([mb], 1, 1, 16, 16, qi=40)
        blob = V.wrap_webp(payload)
        Yr, Ur, Vr = _ref_decode_yuv(blob)
        Ym, Um, Vm = V.decode_vp8(payload)
        assert np.array_equal(Yr, Ym) and np.array_equal(Ur, Um)
        assert np.array_equal(Vr, Vm)


def test_closed_form_dc_fixture_is_exact():
    """The contract-query fixture: one-MB DC-only frames reconstruct to
    the closed-form constant the oracle computes."""
    from trollflow2_spark.extensions.vp8_tables import DC_QLOOKUP
    from trollflow2_spark.extensions.webp import decode_webp

    dcq2 = DC_QLOOKUP[40] * 2
    for v in range(-4, 5):
        dc = (v * dcq2 + 3) >> 3
        y = max(0, min(255, 128 + ((dc + 4) >> 3)))
        rgb = max(0, min(255, (298 * (y - 16) + 128) >> 8))
        out = decode_webp(
            V.wrap_webp(V.encode_vp8_i16([v], 1, 1, 16, 16, qi=40))
        )
        assert out.shape == (16, 16, 3)
        assert np.unique(out).tolist() == [rgb]


def test_vp8_rejects_garbage_without_hanging():
    """Random bytes behind a valid keyframe prefix raise cleanly."""
    rng = np.random.RandomState(0)
    for size in (0, 3, 17, 120, 400):
        junk = rng.randint(0, 256, size=size, dtype=np.uint8).tobytes()
        head = b"\x30\x01\x00\x9d\x01\x2a\x10\x00\x10\x00"
        try:
            V.decode_vp8(head + junk)
        except Exception:
            pass  # raising is expected; termination is the property
