"""From-scratch VP8 keyframe decoder (RFC 6386) — lossy WebP stills.

Still-image lossy WebP carries exactly one VP8 KEY frame, so a complete
keyframe decoder is a complete lossy-WebP still decoder: boolean
arithmetic decoder, frame/segment/filter/quant headers, token-tree
coefficient decoding with per-band contexts, WHT/DCT inverse
transforms, all intra prediction modes (16x16, chroma 8x8, and the ten
4x4 B_PRED sub-modes), and the normal + simple in-loop deblocking
filters. Output is the native YUV 4:2:0 pixel data; conformance tests
pin it bit-exact against the system libwebp's own YUV output.

The reference delegates raster decode to rasterio/satpy
(``/root/reference/trollflow2/plugins/__init__.py:86-99``); this repo
carries its own codecs so Spark decode kernels have no executor-side
dependencies. Constants live in :mod:`vp8_tables` (published RFC 6386
tables).

Scale shape: pure per-blob byte work, called from Arrow-batched
``mapInPandas`` kernels — no shared state, safe on any executor.
"""

from __future__ import annotations

import numpy as np

from trollflow2_spark.extensions.vp8_tables import (
    AC_QLOOKUP,
    COEFF_PROBS,
    COEFF_UPDATE_PROBS,
    DC_QLOOKUP,
    KF_BMODE_PROBS,
)

# ---------------------------------------------------------------------------
# boolean arithmetic decoder (RFC 6386 section 7)
# ---------------------------------------------------------------------------


class BoolDecoder:
    __slots__ = ("buf", "pos", "value", "range", "bits")

    def __init__(self, buf: bytes):
        self.buf = buf
        b0 = buf[0] if len(buf) > 0 else 0
        b1 = buf[1] if len(buf) > 1 else 0
        self.value = (b0 << 8) | b1
        self.pos = 2
        self.range = 255
        self.bits = 0

    def bit(self, prob: int) -> int:
        split = 1 + (((self.range - 1) * prob) >> 8)
        bigsplit = split << 8
        if self.value >= bigsplit:
            ret = 1
            self.range -= split
            self.value -= bigsplit
        else:
            ret = 0
            self.range = split
        while self.range < 128:
            self.value <<= 1
            self.range <<= 1
            self.bits += 1
            if self.bits == 8:
                self.bits = 0
                if self.pos < len(self.buf):
                    self.value |= self.buf[self.pos]
                    self.pos += 1
        return ret

    def literal(self, n: int) -> int:
        v = 0
        for _ in range(n):
            v = (v << 1) | self.bit(128)
        return v

    def signed_literal(self, n: int) -> int:
        v = self.literal(n)
        return -v if self.bit(128) else v

    def flagged_signed(self, n: int) -> int:
        """An optional signed literal: flag bit, then value+sign."""
        return self.signed_literal(n) if self.bit(128) else 0

    def tree(self, tree: tuple, probs, start: int = 0) -> int:
        i = start
        while True:
            i = tree[i + self.bit(probs[i >> 1])]
            if i <= 0:
                return -i


# ---------------------------------------------------------------------------
# static structure tables (RFC 6386 sections 8, 11, 13)
# ---------------------------------------------------------------------------

# intra modes
DC_PRED, V_PRED, H_PRED, TM_PRED, B_PRED = 0, 1, 2, 3, 4
(B_DC, B_TM, B_VE, B_HE, B_LD, B_RD, B_VR, B_VL, B_HD, B_HU) = range(10)

KF_YMODE_TREE = (-B_PRED, 2, 4, 6, -DC_PRED, -V_PRED, -H_PRED, -TM_PRED)
KF_YMODE_PROBS = (145, 156, 163, 128)
UV_MODE_TREE = (-DC_PRED, 2, -V_PRED, 4, -H_PRED, -TM_PRED)
KF_UV_PROBS = (142, 114, 183)
BMODE_TREE = (
    -B_DC, 2, -B_TM, 4, -B_VE, 6, 8, 12, -B_HE, 10, -B_RD, -B_VR,
    -B_LD, 14, -B_VL, 16, -B_HD, -B_HU,
)
SEGMENT_TREE = (2, 4, -0, -1, -2, -3)

# map a 16x16 intra mode to the equivalent B mode for above/left context
MODE_TO_B = {DC_PRED: B_DC, V_PRED: B_VE, H_PRED: B_HE, TM_PRED: B_TM}

# coefficient tokens
TOKEN_TREE = (
    -11, 2,  # EOB
    -0, 4,
    -1, 6,
    8, 12,
    -2, 10,
    -3, -4,
    14, 16,
    -5, -6,  # cat1, cat2
    18, 20,
    -7, -8,  # cat3, cat4
    -9, -10,  # cat5, cat6
)
CAT_BASE = {5: 5, 6: 7, 7: 11, 8: 19, 9: 35, 10: 67}
CAT_PROBS = {
    5: (159,),
    6: (165, 145),
    7: (173, 148, 140),
    8: (176, 155, 140, 135),
    9: (180, 157, 141, 134, 130),
    10: (254, 254, 243, 230, 196, 177, 153, 140, 133, 130, 129),
}
COEFF_BANDS = (0, 1, 2, 3, 6, 4, 5, 6, 6, 6, 6, 6, 6, 6, 6, 7)
ZIGZAG = (0, 1, 4, 8, 5, 2, 3, 6, 9, 12, 13, 10, 7, 11, 14, 15)


def _clamp_q(i: int) -> int:
    return 0 if i < 0 else 127 if i > 127 else i


# ---------------------------------------------------------------------------
# inverse transforms (RFC 6386 section 14.3/14.4)
# ---------------------------------------------------------------------------


def _iwht4x4(coeffs: list[int]) -> list[int]:
    tmp = [0] * 16
    for i in range(4):
        a1 = coeffs[i] + coeffs[12 + i]
        b1 = coeffs[4 + i] + coeffs[8 + i]
        c1 = coeffs[4 + i] - coeffs[8 + i]
        d1 = coeffs[i] - coeffs[12 + i]
        tmp[i] = a1 + b1
        tmp[4 + i] = c1 + d1
        tmp[8 + i] = a1 - b1
        tmp[12 + i] = d1 - c1
    out = [0] * 16
    for i in range(4):
        a1 = tmp[4 * i] + tmp[4 * i + 3]
        b1 = tmp[4 * i + 1] + tmp[4 * i + 2]
        c1 = tmp[4 * i + 1] - tmp[4 * i + 2]
        d1 = tmp[4 * i] - tmp[4 * i + 3]
        out[4 * i] = (a1 + b1 + 3) >> 3
        out[4 * i + 1] = (c1 + d1 + 3) >> 3
        out[4 * i + 2] = (a1 - b1 + 3) >> 3
        out[4 * i + 3] = (d1 - c1 + 3) >> 3
    return out


_C1 = 20091  # cos(pi/8)*sqrt(2) - 1, Q16
_C2 = 35468  # sin(pi/8)*sqrt(2), Q16


def _idct4x4(coeffs: list[int]) -> np.ndarray:
    tmp = [0] * 16
    for i in range(4):
        ip0, ip4 = coeffs[i], coeffs[4 + i]
        ip8, ip12 = coeffs[8 + i], coeffs[12 + i]
        a1 = ip0 + ip8
        b1 = ip0 - ip8
        c1 = ((ip4 * _C2) >> 16) - (ip12 + ((ip12 * _C1) >> 16))
        d1 = (ip4 + ((ip4 * _C1) >> 16)) + ((ip12 * _C2) >> 16)
        tmp[i] = a1 + d1
        tmp[12 + i] = a1 - d1
        tmp[4 + i] = b1 + c1
        tmp[8 + i] = b1 - c1
    out = np.empty((4, 4), dtype=np.int32)
    for i in range(4):
        ip0, ip1 = tmp[4 * i], tmp[4 * i + 1]
        ip2, ip3 = tmp[4 * i + 2], tmp[4 * i + 3]
        a1 = ip0 + ip2
        b1 = ip0 - ip2
        c1 = ((ip1 * _C2) >> 16) - (ip3 + ((ip3 * _C1) >> 16))
        d1 = (ip1 + ((ip1 * _C1) >> 16)) + ((ip3 * _C2) >> 16)
        out[i, 0] = (a1 + d1 + 4) >> 3
        out[i, 3] = (a1 - d1 + 4) >> 3
        out[i, 1] = (b1 + c1 + 4) >> 3
        out[i, 2] = (b1 - c1 + 4) >> 3
    return out


# ---------------------------------------------------------------------------
# intra prediction
# ---------------------------------------------------------------------------


def _pred16_or_8(plane: np.ndarray, y0: int, x0: int, size: int, mode: int,
                 frame_w: int) -> np.ndarray:
    """Whole-block intra prediction for 16x16 luma / 8x8 chroma.

    Border conventions (RFC 6386 12.2): above row outside the frame is
    127, left column outside is 129; the above-left corner follows the
    above row.
    """
    have_above = y0 > 0
    have_left = x0 > 0
    if have_above:
        above = plane[y0 - 1, x0 : x0 + size].astype(np.int32)
    else:
        above = np.full(size, 127, dtype=np.int32)
    if have_left:
        left = plane[y0 : y0 + size, x0 - 1].astype(np.int32)
    else:
        left = np.full(size, 129, dtype=np.int32)
    if mode == DC_PRED:
        if have_above and have_left:
            dc = (int(above.sum()) + int(left.sum()) + size) >> (
                5 if size == 16 else 4
            )
        elif have_above:
            dc = (int(above.sum()) + size // 2) >> (4 if size == 16 else 3)
        elif have_left:
            dc = (int(left.sum()) + size // 2) >> (4 if size == 16 else 3)
        else:
            dc = 128
        return np.full((size, size), dc, dtype=np.int32)
    if mode == V_PRED:
        return np.tile(above, (size, 1))
    if mode == H_PRED:
        return np.tile(left[:, None], (1, size))
    # TM_PRED
    if have_above:
        al = int(plane[y0 - 1, x0 - 1]) if have_left else 129
    else:
        al = 127
    return np.clip(left[:, None] + above[None, :] - al, 0, 255)


def _avg3(a, b, c):
    return (a + 2 * b + c + 2) >> 2


def _avg2(a, b):
    return (a + b + 1) >> 1


def _pred_b(mode: int, A: np.ndarray, L: np.ndarray, P: int) -> np.ndarray:
    """4x4 sub-block prediction: A = 8 above pixels (incl. above-right),
    L = 4 left pixels, P = above-left corner. All int32."""
    out = np.empty((4, 4), dtype=np.int32)
    if mode == B_DC:
        out[:] = (int(A[:4].sum()) + int(L.sum()) + 4) >> 3
    elif mode == B_TM:
        out[:] = np.clip(L[:, None] + A[None, :4] - P, 0, 255)
    elif mode == B_VE:
        e = np.array([P, A[0], A[1], A[2], A[3], A[4]], dtype=np.int32)
        row = _avg3(e[0:4], e[1:5], e[2:6])
        out[:] = row[None, :]
    elif mode == B_HE:
        e = np.array([P, L[0], L[1], L[2], L[3], L[3]], dtype=np.int32)
        col = _avg3(e[0:4], e[1:5], e[2:6])
        out[:] = col[:, None]
    elif mode == B_LD:
        e = A.astype(np.int32)
        for r in range(4):
            for c in range(4):
                i = r + c
                if i < 6:
                    out[r, c] = _avg3(e[i], e[i + 1], e[i + 2])
                else:
                    out[r, c] = _avg3(e[6], e[7], e[7])
    elif mode == B_RD:
        e = np.array(
            [L[3], L[2], L[1], L[0], P, A[0], A[1], A[2], A[3]],
            dtype=np.int32,
        )
        for r in range(4):
            for c in range(4):
                i = 4 + c - r
                out[r, c] = _avg3(e[i - 1], e[i], e[i + 1])
    elif mode == B_VR:
        e = np.array(
            [L[3], L[2], L[1], L[0], P, A[0], A[1], A[2], A[3]],
            dtype=np.int32,
        )
        # columns walk up-right at half-pel; RFC 12.3 pixel assignments
        out[3, 0] = _avg3(e[1], e[2], e[3])
        out[2, 0] = _avg3(e[2], e[3], e[4])
        out[3, 1] = out[1, 0] = _avg3(e[3], e[4], e[5])
        out[2, 1] = out[0, 0] = _avg2(e[4], e[5])
        out[3, 2] = out[1, 1] = _avg3(e[4], e[5], e[6])
        out[2, 2] = out[0, 1] = _avg2(e[5], e[6])
        out[3, 3] = out[1, 2] = _avg3(e[5], e[6], e[7])
        out[2, 3] = out[0, 2] = _avg2(e[6], e[7])
        out[1, 3] = _avg3(e[6], e[7], e[8])
        out[0, 3] = _avg2(e[7], e[8])
    elif mode == B_VL:
        e = A.astype(np.int32)
        out[0, 0] = _avg2(e[0], e[1])
        out[1, 0] = _avg3(e[0], e[1], e[2])
        out[2, 0] = out[0, 1] = _avg2(e[1], e[2])
        out[1, 1] = out[3, 0] = _avg3(e[1], e[2], e[3])
        out[2, 1] = out[0, 2] = _avg2(e[2], e[3])
        out[3, 1] = out[1, 2] = _avg3(e[2], e[3], e[4])
        out[2, 2] = out[0, 3] = _avg2(e[3], e[4])
        out[3, 2] = out[1, 3] = _avg3(e[3], e[4], e[5])
        out[2, 3] = _avg3(e[4], e[5], e[6])
        out[3, 3] = _avg3(e[5], e[6], e[7])
    elif mode == B_HD:
        e = np.array(
            [L[3], L[2], L[1], L[0], P, A[0], A[1], A[2], A[3]],
            dtype=np.int32,
        )
        out[3, 0] = _avg2(e[0], e[1])
        out[3, 1] = _avg3(e[0], e[1], e[2])
        out[2, 0] = out[3, 2] = _avg2(e[1], e[2])
        out[2, 1] = out[3, 3] = _avg3(e[1], e[2], e[3])
        out[2, 2] = out[1, 0] = _avg2(e[2], e[3])
        out[2, 3] = out[1, 1] = _avg3(e[2], e[3], e[4])
        out[1, 2] = out[0, 0] = _avg2(e[3], e[4])
        out[1, 3] = out[0, 1] = _avg3(e[3], e[4], e[5])
        out[0, 2] = _avg3(e[4], e[5], e[6])
        out[0, 3] = _avg3(e[5], e[6], e[7])
    elif mode == B_HU:
        e = L.astype(np.int32)
        out[0, 0] = _avg2(e[0], e[1])
        out[0, 1] = _avg3(e[0], e[1], e[2])
        out[0, 2] = out[1, 0] = _avg2(e[1], e[2])
        out[0, 3] = out[1, 1] = _avg3(e[1], e[2], e[3])
        out[1, 2] = out[2, 0] = _avg2(e[2], e[3])
        out[1, 3] = out[2, 1] = _avg3(e[2], e[3], e[3])
        out[2, 2] = out[2, 3] = out[3, 0] = out[3, 1] = out[3, 2] = out[
            3, 3
        ] = e[3]
    else:
        raise ValueError(f"bad B mode {mode}")
    return out


# ---------------------------------------------------------------------------
# frame decode
# ---------------------------------------------------------------------------


class _MB:
    __slots__ = (
        "ymode", "uvmode", "bmodes", "segment", "skip", "coeffs",
        "has_coeffs",
    )


def decode_vp8(data: bytes) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Decode a VP8 key frame to (Y, U, V) uint8 planes (YUV 4:2:0,
    cropped to the frame's stated dimensions)."""
    if len(data) < 10:
        raise ValueError("VP8 stream too short")
    tag = data[0] | (data[1] << 8) | (data[2] << 16)
    if tag & 1:
        raise ValueError("not a VP8 key frame (interframes need references)")
    part1_size = tag >> 5
    if data[3:6] != b"\x9d\x01\x2a":
        raise ValueError("bad VP8 keyframe start code")
    width = (data[6] | (data[7] << 8)) & 0x3FFF
    height = (data[8] | (data[9] << 8)) & 0x3FFF
    if not width or not height:
        raise ValueError("bad VP8 frame dimensions")
    mb_w = (width + 15) >> 4
    mb_h = (height + 15) >> 4
    if 10 + part1_size > len(data):
        raise ValueError("VP8 first partition overruns stream")
    bd = BoolDecoder(data[10 : 10 + part1_size])

    bd.bit(128)  # color space (must be 0)
    bd.bit(128)  # clamping type

    # segmentation
    seg_enabled = bd.bit(128)
    update_map = 0
    seg_tree_probs = [255, 255, 255]
    seg_abs = 0
    seg_q = [0, 0, 0, 0]
    seg_lf = [0, 0, 0, 0]
    if seg_enabled:
        update_map = bd.bit(128)
        update_data = bd.bit(128)
        if update_data:
            seg_abs = bd.bit(128)
            for i in range(4):
                seg_q[i] = bd.flagged_signed(7)
            for i in range(4):
                seg_lf[i] = bd.flagged_signed(6)
        if update_map:
            for i in range(3):
                seg_tree_probs[i] = bd.literal(8) if bd.bit(128) else 255

    # loop filter
    filter_simple = bd.bit(128)
    filter_level = bd.literal(6)
    sharpness = bd.literal(3)
    lf_delta_enabled = bd.bit(128)
    ref_lf_delta = [0, 0, 0, 0]
    mode_lf_delta = [0, 0, 0, 0]
    if lf_delta_enabled:
        if bd.bit(128):  # update
            for i in range(4):
                if bd.bit(128):
                    ref_lf_delta[i] = bd.signed_literal(6)
            for i in range(4):
                if bd.bit(128):
                    mode_lf_delta[i] = bd.signed_literal(6)

    # token partitions
    nparts = 1 << bd.literal(2)
    part_base = 10 + part1_size
    sizes = []
    for i in range(nparts - 1):
        o = part_base + 3 * i
        if o + 3 > len(data):
            raise ValueError("VP8 partition size table truncated")
        sizes.append(data[o] | (data[o + 1] << 8) | (data[o + 2] << 16))
    data_start = part_base + 3 * (nparts - 1)
    parts = []
    off = data_start
    for i in range(nparts):
        end = off + sizes[i] if i < nparts - 1 else len(data)
        if end > len(data) or off > end:
            raise ValueError("VP8 token partition overruns stream")
        parts.append(BoolDecoder(data[off:end]))
        off = end

    # quantizers
    y_ac_qi = bd.literal(7)
    y_dc_delta = bd.flagged_signed(4)
    y2_dc_delta = bd.flagged_signed(4)
    y2_ac_delta = bd.flagged_signed(4)
    uv_dc_delta = bd.flagged_signed(4)
    uv_ac_delta = bd.flagged_signed(4)

    bd.bit(128)  # refresh entropy probs (keyframe: no-op for us)

    # token probability updates
    probs = [
        [[list(COEFF_PROBS[t][b][c]) for c in range(3)] for b in range(8)]
        for t in range(4)
    ]
    for t in range(4):
        for b in range(8):
            for c in range(3):
                row = probs[t][b][c]
                upd = COEFF_UPDATE_PROBS[t][b][c]
                for p in range(11):
                    if bd.bit(upd[p]):
                        row[p] = bd.literal(8)

    mb_no_skip = bd.bit(128)
    prob_skip = bd.literal(8) if mb_no_skip else 0

    # per-segment dequant factors
    def quants(seg: int):
        if seg_enabled:
            qi = seg_q[seg] if seg_abs else y_ac_qi + seg_q[seg]
        else:
            qi = y_ac_qi
        qi = _clamp_q(qi)
        y1dc = DC_QLOOKUP[_clamp_q(qi + y_dc_delta)]
        y1ac = AC_QLOOKUP[qi]
        y2dc = DC_QLOOKUP[_clamp_q(qi + y2_dc_delta)] * 2
        y2ac = AC_QLOOKUP[_clamp_q(qi + y2_ac_delta)] * 155 // 100
        if y2ac < 8:
            y2ac = 8
        uvdc = DC_QLOOKUP[_clamp_q(qi + uv_dc_delta)]
        if uvdc > 132:
            uvdc = 132
        uvac = AC_QLOOKUP[_clamp_q(qi + uv_ac_delta)]
        return (y1dc, y1ac), (y2dc, y2ac), (uvdc, uvac)

    seg_quants = [quants(s) for s in range(4)]

    # ---- pass 1: macroblock headers (all in partition 1) ----
    mbs: list[list[_MB]] = []
    above_bmodes = [[B_DC] * 4 for _ in range(mb_w)]
    for mb_y in range(mb_h):
        row: list[_MB] = []
        left_bmodes = [B_DC] * 4
        for mb_x in range(mb_w):
            mb = _MB()
            mb.segment = (
                bd.tree(SEGMENT_TREE, seg_tree_probs) if update_map else 0
            )
            mb.skip = bd.bit(prob_skip) if mb_no_skip else 0
            mb.ymode = bd.tree(KF_YMODE_TREE, KF_YMODE_PROBS)
            if mb.ymode == B_PRED:
                bm = [0] * 16
                for i in range(16):
                    above = (
                        above_bmodes[mb_x][i & 3]
                        if i < 4
                        else bm[i - 4]
                    )
                    left = (
                        left_bmodes[i >> 2] if (i & 3) == 0 else bm[i - 1]
                    )
                    bm[i] = bd.tree(
                        BMODE_TREE, KF_BMODE_PROBS[above][left]
                    )
                mb.bmodes = bm
            else:
                mb.bmodes = [MODE_TO_B[mb.ymode]] * 16
            mb.uvmode = bd.tree(UV_MODE_TREE, KF_UV_PROBS)
            above_bmodes[mb_x] = mb.bmodes[12:16]
            left_bmodes = [mb.bmodes[3], mb.bmodes[7], mb.bmodes[11],
                           mb.bmodes[15]]
            row.append(mb)
        mbs.append(row)

    # ---- pass 2: coefficient tokens (row-interleaved partitions) ----
    def decode_block(bdp, plane, first, ctx, prob_row, dq):
        """Returns (coeffs list of 16 dequantized ints, nonzero flag)."""
        coeffs = [0] * 16
        c = first
        nz = 0
        start = 0
        while c < 16:
            band = COEFF_BANDS[c]
            p = prob_row[band][ctx]
            tok = bdp.tree(TOKEN_TREE, p, start)
            if tok == 11:  # EOB
                break
            if tok == 0:
                start = 2  # a zero cannot be followed by EOB
                ctx = 0
                c += 1
                continue
            start = 0
            if tok <= 4:
                val = tok
                ctx = 1 if tok == 1 else 2
            else:
                extra = 0
                for pb in CAT_PROBS[tok]:
                    extra = (extra << 1) | bdp.bit(pb)
                val = CAT_BASE[tok] + extra
                ctx = 2
            if bdp.bit(128):
                val = -val
            coeffs[ZIGZAG[c]] = val * (dq[0] if c == 0 else dq[1])
            nz = 1
            c += 1
        return coeffs, nz

    # nonzero context state: above per MB column, left per row
    above_nz = [[0] * 9 for _ in range(mb_w)]  # 4 Y + 2 U + 2 V + 1 Y2
    coeff_store: list[list[list]] = []
    for mb_y in range(mb_h):
        bdp = parts[mb_y % nparts]
        left_nz = [0] * 9
        row_store = []
        for mb_x in range(mb_w):
            mb = mbs[mb_y][mb_x]
            (y1q, y2q, uvq) = seg_quants[mb.segment]
            anz = above_nz[mb_x]
            has_y2 = mb.ymode != B_PRED
            if mb.skip:
                blocks = None
                mb.has_coeffs = False
                for i in range(8):
                    anz[i] = 0
                    left_nz[i] = 0
                if has_y2:
                    anz[8] = 0
                    left_nz[8] = 0
                row_store.append(blocks)
                continue
            blocks = {}
            any_nz = 0
            if has_y2:
                ctx = anz[8] + left_nz[8]
                coeffs, nz = decode_block(bdp, 1, 0, ctx, probs[1], y2q)
                anz[8] = left_nz[8] = nz
                any_nz |= nz
                blocks["y2"] = _iwht4x4(coeffs)
                plane_y = 0
                first = 1
            else:
                blocks["y2"] = None
                plane_y = 3
                first = 0
            yblocks = []
            for i in range(16):
                bx, by = i & 3, i >> 2
                ctx = (anz[bx] if by == 0 else yblocks[i - 4][1]) + (
                    left_nz[by] if bx == 0 else yblocks[i - 1][1]
                )
                coeffs, nz = decode_block(
                    bdp, plane_y, first, ctx, probs[plane_y], y1q
                )
                yblocks.append((coeffs, nz))
                any_nz |= nz
            for i in range(4):
                anz[i] = yblocks[12 + i][1]
                left_nz[i] = yblocks[4 * i + 3][1]
            ublocks, vblocks = [], []
            for plane_blocks, base in ((ublocks, 4), (vblocks, 6)):
                for i in range(4):
                    bx, by = i & 1, i >> 1
                    prev = plane_blocks
                    ctx = (
                        anz[base + bx] if by == 0 else prev[i - 2][1]
                    ) + (left_nz[base + by] if bx == 0 else prev[i - 1][1])
                    coeffs, nz = decode_block(
                        bdp, 2, 0, ctx, probs[2], uvq
                    )
                    prev.append((coeffs, nz))
                    any_nz |= nz
                anz[base] = plane_blocks[2][1]
                anz[base + 1] = plane_blocks[3][1]
                left_nz[base] = plane_blocks[1][1]
                left_nz[base + 1] = plane_blocks[3][1]
            blocks["y"] = yblocks
            blocks["u"] = ublocks
            blocks["v"] = vblocks
            mb.has_coeffs = bool(any_nz)
            row_store.append(blocks)
        coeff_store.append(row_store)

    # ---- pass 3: reconstruction ----
    W, H = mb_w * 16, mb_h * 16
    Y = np.zeros((H, W), dtype=np.uint8)
    U = np.zeros((H >> 1, W >> 1), dtype=np.uint8)
    V = np.zeros((H >> 1, W >> 1), dtype=np.uint8)

    def add_residual(plane, y0, x0, res):
        blk = plane[y0 : y0 + 4, x0 : x0 + 4].astype(np.int32) + res
        plane[y0 : y0 + 4, x0 : x0 + 4] = np.clip(blk, 0, 255).astype(
            np.uint8
        )

    def above_row_b(y0, x0, i):
        """21-pixel context for Y sub-block i at plane offsets (y0, x0):
        returns (A[0:8] above incl. above-right, L[0:4], P corner)."""
        by, bx = y0 + 4 * (i >> 2), x0 + 4 * (i & 3)
        A = np.empty(8, dtype=np.int32)
        if by == 0:
            A[:] = 127
        else:
            A[:4] = Y[by - 1, bx : bx + 4]
            if (i & 3) == 3:
                # right-column sub-blocks (every row): the MB's
                # top-right 4 pixels, replicated down the rows; on the
                # frame's right edge the last above pixel replicates,
                # and above the frame the 127 border applies
                if y0 == 0:
                    A[4:] = 127
                elif x0 + 16 < W:
                    A[4:] = Y[y0 - 1, x0 + 16 : x0 + 20]
                else:
                    A[4:] = Y[y0 - 1, W - 1]
            else:
                # interior columns: the up-right pixels, reconstructed
                # (above MB row for i<4, in-MB neighbors otherwise)
                A[4:] = Y[by - 1, bx + 4 : bx + 8]
        if bx == 0:
            L = np.full(4, 129, dtype=np.int32)
        else:
            L = Y[by : by + 4, bx - 1].astype(np.int32)
        if by == 0:
            P = 127
        elif bx == 0:
            P = 129
        else:
            P = int(Y[by - 1, bx - 1])
        return A, L, P

    for mb_y in range(mb_h):
        for mb_x in range(mb_w):
            mb = mbs[mb_y][mb_x]
            blocks = coeff_store[mb_y][mb_x]
            y0, x0 = mb_y * 16, mb_x * 16
            cy0, cx0 = mb_y * 8, mb_x * 8
            if mb.ymode != B_PRED:
                pred = _pred16_or_8(Y, y0, x0, 16, mb.ymode, W)
                Y[y0 : y0 + 16, x0 : x0 + 16] = np.clip(pred, 0, 255)
                if blocks is not None:
                    y2 = blocks["y2"]
                    for i in range(16):
                        coeffs, _nz = blocks["y"][i]
                        coeffs = list(coeffs)
                        coeffs[0] = y2[i]
                        res = _idct4x4(coeffs)
                        add_residual(
                            Y, y0 + 4 * (i >> 2), x0 + 4 * (i & 3), res
                        )
            else:
                for i in range(16):
                    A, L, P = above_row_b(y0, x0, i)
                    pred = _pred_b(mb.bmodes[i], A, L, P)
                    by, bx = y0 + 4 * (i >> 2), x0 + 4 * (i & 3)
                    Y[by : by + 4, bx : bx + 4] = np.clip(
                        pred, 0, 255
                    ).astype(np.uint8)
                    if blocks is not None:
                        res = _idct4x4(list(blocks["y"][i][0]))
                        add_residual(Y, by, bx, res)
            for plane, key in ((U, "u"), (V, "v")):
                p8 = _pred16_or_8(plane, cy0, cx0, 8, mb.uvmode, W >> 1)
                plane[cy0 : cy0 + 8, cx0 : cx0 + 8] = np.clip(p8, 0, 255)
                if blocks is not None:
                    for i in range(4):
                        res = _idct4x4(list(blocks[key][i][0]))
                        add_residual(
                            plane,
                            cy0 + 4 * (i >> 1),
                            cx0 + 4 * (i & 1),
                            res,
                        )

    # ---- pass 4: loop filter ----
    if filter_level:
        _loop_filter(
            Y, U, V, mbs, mb_w, mb_h, filter_simple, filter_level,
            sharpness, seg_enabled, seg_abs, seg_lf, lf_delta_enabled,
            ref_lf_delta, mode_lf_delta,
        )

    return (
        Y[:height, :width].copy(),
        U[: (height + 1) >> 1, : (width + 1) >> 1].copy(),
        V[: (height + 1) >> 1, : (width + 1) >> 1].copy(),
    )


# ---------------------------------------------------------------------------
# loop filter (RFC 6386 section 15)
# ---------------------------------------------------------------------------


def _c(x):
    return np.clip(x, -128, 127)


def _common_adjust(use_outer, p1, p0, q0, q1):
    a = _c((use_outer * _c(p1 - q1)) + 3 * (q0 - p0))
    f = _c(a + 4) >> 3
    e = _c(a + 3) >> 3
    return f, _c(p0 + e), _c(q0 - f)


def _filter_edge(plane, ys, xs, horiz, mb_edge, simple, elim, ilim, hev_t):
    """Filter one 4-aligned edge. ``ys``/``xs`` select the edge pixels:
    for a vertical edge, ys is an index array of rows and xs the column
    of Q0; for horizontal, vice versa. Vectorized along the edge."""

    def get(d):
        if horiz:
            return plane[ys + d, xs].astype(np.int32)
        return plane[ys, xs + d].astype(np.int32)

    def put(d, v):
        if horiz:
            plane[ys + d, xs] = (v & 0xFF).astype(np.uint8)
        else:
            plane[ys, xs + d] = (v & 0xFF).astype(np.uint8)

    p3, p2, p1, p0 = get(-4), get(-3), get(-2), get(-1)
    q0, q1, q2, q3 = get(0), get(1), get(2), get(3)

    if simple:
        mask = (np.abs(p0 - q0) * 2 + (np.abs(p1 - q1) >> 1)) <= elim
        P1, P0, Q0, Q1 = p1 - 128, p0 - 128, q0 - 128, q1 - 128
        _f, np0, nq0 = _common_adjust(1, P1, P0, Q0, Q1)
        put(-1, np.where(mask, np0 + 128, p0))
        put(0, np.where(mask, nq0 + 128, q0))
        return

    mask = (
        (np.abs(p3 - p2) <= ilim)
        & (np.abs(p2 - p1) <= ilim)
        & (np.abs(p1 - p0) <= ilim)
        & (np.abs(q3 - q2) <= ilim)
        & (np.abs(q2 - q1) <= ilim)
        & (np.abs(q1 - q0) <= ilim)
        & ((np.abs(p0 - q0) * 2 + (np.abs(p1 - q1) >> 1)) <= elim)
    )
    hev = (np.abs(p1 - p0) > hev_t) | (np.abs(q1 - q0) > hev_t)
    P2, P1, P0 = p2 - 128, p1 - 128, p0 - 128
    Q0, Q1, Q2 = q0 - 128, q1 - 128, q2 - 128

    if mb_edge:
        # high-edge-variance: 2-tap adjust; otherwise wide 27/18/9 taps
        f_h, p0_h, q0_h = _common_adjust(1, P1, P0, Q0, Q1)
        w = _c(_c(P1 - Q1) + 3 * (Q0 - P0))
        a27 = _c((27 * w + 63) >> 7)
        a18 = _c((18 * w + 63) >> 7)
        a9 = _c((9 * w + 63) >> 7)
        p0_w, q0_w = _c(P0 + a27), _c(Q0 - a27)
        p1_w, q1_w = _c(P1 + a18), _c(Q1 - a18)
        p2_w, q2_w = _c(P2 + a9), _c(Q2 - a9)
        np0 = np.where(hev, p0_h, p0_w)
        nq0 = np.where(hev, q0_h, q0_w)
        np1 = np.where(hev, P1, p1_w)
        nq1 = np.where(hev, Q1, q1_w)
        np2 = np.where(hev, P2, p2_w)
        nq2 = np.where(hev, Q2, q2_w)
        put(-3, np.where(mask, np2 + 128, p2))
        put(-2, np.where(mask, np1 + 128, p1))
        put(-1, np.where(mask, np0 + 128, p0))
        put(0, np.where(mask, nq0 + 128, q0))
        put(1, np.where(mask, nq1 + 128, q1))
        put(2, np.where(mask, nq2 + 128, q2))
    else:
        f, np0, nq0 = _common_adjust(hev.astype(np.int32), P1, P0, Q0, Q1)
        a = _c(f + 1) >> 1
        np1 = np.where(hev, P1, _c(P1 + a))
        nq1 = np.where(hev, Q1, _c(Q1 - a))
        put(-2, np.where(mask, np1 + 128, p1))
        put(-1, np.where(mask, np0 + 128, p0))
        put(0, np.where(mask, nq0 + 128, q0))
        put(1, np.where(mask, nq1 + 128, q1))


def _loop_filter(
    Y, U, V, mbs, mb_w, mb_h, simple, base_level, sharpness, seg_enabled,
    seg_abs, seg_lf, lf_delta_enabled, ref_lf_delta, mode_lf_delta,
):
    for mb_y in range(mb_h):
        for mb_x in range(mb_w):
            mb = mbs[mb_y][mb_x]
            level = base_level
            if seg_enabled:
                level = (
                    seg_lf[mb.segment]
                    if seg_abs
                    else base_level + seg_lf[mb.segment]
                )
            if lf_delta_enabled:
                level += ref_lf_delta[0]  # keyframe MBs are intra
                if mb.ymode == B_PRED:
                    level += mode_lf_delta[0]
            level = max(0, min(63, level))
            if level == 0:
                continue
            ilim = level
            if sharpness:
                ilim >>= 2 if sharpness > 4 else 1
                if ilim > 9 - sharpness:
                    ilim = 9 - sharpness
            if ilim < 1:
                ilim = 1
            hev_t = 2 if level >= 40 else (1 if level >= 15 else 0)
            mb_elim = ((level + 2) * 2) + ilim
            sb_elim = (level * 2) + ilim
            inner = mb.has_coeffs or mb.ymode == B_PRED

            y0, x0 = mb_y * 16, mb_x * 16
            cy0, cx0 = mb_y * 8, mb_x * 8
            yr = np.arange(16)
            cr = np.arange(8)

            if simple:
                if mb_x > 0:
                    _filter_edge(Y, y0 + yr, x0, False, True, True,
                                 mb_elim, ilim, hev_t)
                if inner:
                    for dx in (4, 8, 12):
                        _filter_edge(Y, y0 + yr, x0 + dx, False, False,
                                     True, sb_elim, ilim, hev_t)
                if mb_y > 0:
                    _filter_edge(Y, y0, x0 + yr, True, True, True,
                                 mb_elim, ilim, hev_t)
                if inner:
                    for dy in (4, 8, 12):
                        _filter_edge(Y, y0 + dy, x0 + yr, True, False,
                                     True, sb_elim, ilim, hev_t)
                continue

            if mb_x > 0:
                _filter_edge(Y, y0 + yr, x0, False, True, False,
                             mb_elim, ilim, hev_t)
                _filter_edge(U, cy0 + cr, cx0, False, True, False,
                             mb_elim, ilim, hev_t)
                _filter_edge(V, cy0 + cr, cx0, False, True, False,
                             mb_elim, ilim, hev_t)
            if inner:
                for dx in (4, 8, 12):
                    _filter_edge(Y, y0 + yr, x0 + dx, False, False, False,
                                 sb_elim, ilim, hev_t)
                _filter_edge(U, cy0 + cr, cx0 + 4, False, False, False,
                             sb_elim, ilim, hev_t)
                _filter_edge(V, cy0 + cr, cx0 + 4, False, False, False,
                             sb_elim, ilim, hev_t)
            if mb_y > 0:
                _filter_edge(Y, y0, x0 + yr, True, True, False,
                             mb_elim, ilim, hev_t)
                _filter_edge(U, cy0, cx0 + cr, True, True, False,
                             mb_elim, ilim, hev_t)
                _filter_edge(V, cy0, cx0 + cr, True, True, False,
                             mb_elim, ilim, hev_t)
            if inner:
                for dy in (4, 8, 12):
                    _filter_edge(Y, y0 + dy, x0 + yr, True, False, False,
                                 sb_elim, ilim, hev_t)
                _filter_edge(U, cy0 + 4, cx0 + cr, True, False, False,
                             sb_elim, ilim, hev_t)
                _filter_edge(V, cy0 + 4, cx0 + cr, True, False, False,
                             sb_elim, ilim, hev_t)


# ---------------------------------------------------------------------------
# minimal keyframe encoder (deterministic fixtures; RFC 6386 section 7.8)
# ---------------------------------------------------------------------------


class BoolEncoder:
    def __init__(self):
        self.out = bytearray()
        self.range = 255
        self.bottom = 0
        self.bitcount = 24

    def _carry(self):
        i = len(self.out) - 1
        while i >= 0 and self.out[i] == 255:
            self.out[i] = 0
            i -= 1
        if i >= 0:
            self.out[i] += 1

    def bit(self, b: int, prob: int):
        split = 1 + (((self.range - 1) * prob) >> 8)
        if b:
            self.bottom += split
            self.range -= split
        else:
            self.range = split
        while self.range < 128:
            self.range <<= 1
            if self.bottom & (1 << 31):
                self._carry()
            self.bottom = (self.bottom << 1) & 0xFFFFFFFF
            self.bitcount -= 1
            if self.bitcount == 0:
                self.out.append((self.bottom >> 24) & 0xFF)
                self.bottom &= 0xFFFFFF
                self.bitcount = 8

    def literal(self, v: int, n: int):
        for i in range(n - 1, -1, -1):
            self.bit((v >> i) & 1, 128)

    def tree(self, tree: tuple, probs, value: int, start: int = 0):
        """Emit the bit path that decodes to leaf ``value``."""
        path = self._find(tree, probs, value, start)
        for i, b in path:
            self.bit(b, probs[i >> 1])

    @staticmethod
    def _find(tree, probs, value, start):
        # depth-first search for the leaf; trees are tiny
        stack = [(start, [])]
        while stack:
            i, path = stack.pop()
            for b in (0, 1):
                t = tree[i + b]
                if t <= 0:
                    if -t == value:
                        return path + [(i, b)]
                else:
                    stack.append((t, path + [(i, b)]))
        raise ValueError(f"value {value} not in tree")

    def finish(self) -> bytes:
        c = self.bitcount
        v = self.bottom
        if v & (1 << (32 - c)):
            self._carry()
        v = (v << (c & 7)) & 0xFFFFFFFF
        c >>= 3
        while c > 0:
            v = (v << 8) & 0xFFFFFFFF
            c -= 1
        for _ in range(4):
            self.out.append((v >> 24) & 0xFF)
            v = (v << 8) & 0xFFFFFFFF
        return bytes(self.out)


def _encode_block_tokens(tp, levels, first, ctx, prob_rows):
    """Token-encode one block's 16 coefficient LEVELS (natural 4x4
    order, pre-dequant integers). Mirrors decode_block exactly: zigzag
    walk, zero-run tree restarts, category extra bits, trailing EOB.
    Returns the block's nonzero flag."""
    zz = [levels[ZIGZAG[c]] for c in range(16)]
    last = -1
    for c in range(first, 16):
        if zz[c]:
            last = c
    start = 0
    nz = 0
    c = first
    while c < 16:
        if last < c:
            tp.tree(TOKEN_TREE, prob_rows[COEFF_BANDS[c]][ctx], 11, start)
            return nz
        v = zz[c]
        tok = abs(v)
        if tok > 4:
            for cat, (base, nbits) in _CAT_RANGE.items():
                if base <= tok < base + (1 << nbits):
                    break
            else:
                raise ValueError(f"coefficient level {tok} out of range")
            tp.tree(TOKEN_TREE, prob_rows[COEFF_BANDS[c]][ctx], cat, start)
            extra = tok - _CAT_RANGE[cat][0]
            probs = CAT_PROBS[cat]
            for i, pb in enumerate(probs):
                tp.bit((extra >> (len(probs) - 1 - i)) & 1, pb)
        else:
            tp.tree(TOKEN_TREE, prob_rows[COEFF_BANDS[c]][ctx], tok, start)
        if tok:
            tp.bit(1 if v < 0 else 0, 128)
            nz = 1
            ctx = 1 if tok == 1 else 2
            start = 0
        else:
            ctx = 0
            start = 2
        c += 1
    return nz


_CAT_RANGE = {5: (5, 1), 6: (7, 2), 7: (11, 3), 8: (19, 4), 9: (35, 5),
              10: (67, 11)}


def encode_vp8(mbs_spec, mb_w: int, mb_h: int, width: int, height: int,
               qi: int = 40, filter_level: int = 0,
               filter_simple: int = 0, sharpness: int = 0,
               use_skip: bool = False, nparts: int = 1) -> bytes:
    """Full-control VP8 keyframe encoder for fixtures and conformance
    tests: every macroblock's modes and quantized coefficient LEVELS
    are given explicitly; contexts, trees, and probabilities mirror the
    decoder (default probability tables, one token partition, no
    segmentation, no per-MB skip flags).

    ``mbs_spec``: list (MB raster order) of dicts with keys
    ``ymode`` (DC/V/H/TM/B_PRED), ``uvmode``, ``bmodes`` (16 sub-modes,
    required iff ymode == B_PRED), ``y2`` (16 levels, i16 modes only),
    ``y`` (16 x 16 levels), ``u``/``v`` (4 x 16 levels).
    """
    if len(mbs_spec) != mb_w * mb_h:
        raise ValueError("mbs_spec length must equal mb_w * mb_h")
    if nparts not in (1, 2, 4, 8):
        raise ValueError("nparts must be 1, 2, 4 or 8")

    def _skippable(spec):
        if spec["ymode"] != B_PRED and any(spec.get("y2") or [0] * 16):
            return False
        return not (
            any(any(b) for b in spec["y"])
            or any(any(b) for b in spec["u"])
            or any(any(b) for b in spec["v"])
        )
    bd = BoolEncoder()
    bd.bit(0, 128)  # color space
    bd.bit(0, 128)  # clamping
    bd.bit(0, 128)  # no segmentation
    bd.bit(1 if filter_simple else 0, 128)
    bd.literal(filter_level, 6)
    bd.literal(sharpness, 3)
    bd.bit(0, 128)  # no lf deltas
    bd.literal({1: 0, 2: 1, 4: 2, 8: 3}[nparts], 2)
    bd.literal(qi, 7)
    for _ in range(5):
        bd.bit(0, 128)  # no quant deltas
    bd.bit(0, 128)  # refresh entropy (keyframe)
    for t in range(4):
        for b in range(8):
            for c in range(3):
                for p in range(11):
                    bd.bit(0, COEFF_UPDATE_PROBS[t][b][c][p])
    prob_skip = 200
    if use_skip:
        bd.bit(1, 128)
        bd.literal(prob_skip, 8)
    else:
        bd.bit(0, 128)  # mb_no_skip_coeff disabled

    above_bmodes = [[B_DC] * 4 for _ in range(mb_w)]
    for mb_y in range(mb_h):
        left_bmodes = [B_DC] * 4
        for mb_x in range(mb_w):
            spec = mbs_spec[mb_y * mb_w + mb_x]
            ymode = spec["ymode"]
            if use_skip:
                bd.bit(1 if _skippable(spec) else 0, prob_skip)
            bd.tree(KF_YMODE_TREE, KF_YMODE_PROBS, ymode)
            if ymode == B_PRED:
                bm = list(spec["bmodes"])
                for i in range(16):
                    above = (
                        above_bmodes[mb_x][i & 3] if i < 4 else bm[i - 4]
                    )
                    left = (
                        left_bmodes[i >> 2] if (i & 3) == 0 else bm[i - 1]
                    )
                    bd.tree(BMODE_TREE, KF_BMODE_PROBS[above][left], bm[i])
            else:
                bm = [MODE_TO_B[ymode]] * 16
            bd.tree(UV_MODE_TREE, KF_UV_PROBS, spec["uvmode"])
            above_bmodes[mb_x] = bm[12:16]
            left_bmodes = [bm[3], bm[7], bm[11], bm[15]]
    part1 = bd.finish()

    encoders = [BoolEncoder() for _ in range(nparts)]
    above_nz = [[0] * 9 for _ in range(mb_w)]
    for mb_y in range(mb_h):
        tp = encoders[mb_y % nparts]
        left_nz = [0] * 9
        for mb_x in range(mb_w):
            spec = mbs_spec[mb_y * mb_w + mb_x]
            anz = above_nz[mb_x]
            has_y2 = spec["ymode"] != B_PRED
            if use_skip and _skippable(spec):
                # skipped MB: no tokens; context clearing mirrors the
                # decoder (Y2 context survives for B_PRED MBs)
                for i in range(8):
                    anz[i] = 0
                    left_nz[i] = 0
                if has_y2:
                    anz[8] = left_nz[8] = 0
                continue
            if has_y2:
                ctx = anz[8] + left_nz[8]
                nz = _encode_block_tokens(
                    tp, spec.get("y2") or [0] * 16, 0, ctx,
                    COEFF_PROBS[1],
                )
                anz[8] = left_nz[8] = nz
                plane_y, first = 0, 1
            else:
                plane_y, first = 3, 0
            ynz = []
            for i in range(16):
                bx, by = i & 3, i >> 2
                ctx = (anz[bx] if by == 0 else ynz[i - 4]) + (
                    left_nz[by] if bx == 0 else ynz[i - 1]
                )
                ynz.append(
                    _encode_block_tokens(
                        tp, spec["y"][i], first, ctx, COEFF_PROBS[plane_y]
                    )
                )
            for i in range(4):
                anz[i] = ynz[12 + i]
                left_nz[i] = ynz[4 * i + 3]
            for key, base in (("u", 4), ("v", 6)):
                cnz = []
                for i in range(4):
                    bx, by = i & 1, i >> 1
                    ctx = (anz[base + bx] if by == 0 else cnz[i - 2]) + (
                        left_nz[base + by] if bx == 0 else cnz[i - 1]
                    )
                    cnz.append(
                        _encode_block_tokens(
                            tp, spec[key][i], 0, ctx, COEFF_PROBS[2]
                        )
                    )
                anz[base] = cnz[2]
                anz[base + 1] = cnz[3]
                left_nz[base] = cnz[1]
                left_nz[base + 1] = cnz[3]
    parts = [e.finish() for e in encoders]

    tag = (0 << 0) | (3 << 1) | (1 << 4) | (len(part1) << 5)
    head = bytes(
        [tag & 0xFF, (tag >> 8) & 0xFF, (tag >> 16) & 0xFF]
    ) + b"\x9d\x01\x2a" + width.to_bytes(2, "little") + height.to_bytes(
        2, "little"
    )
    size_table = b"".join(
        len(p).to_bytes(3, "little") for p in parts[:-1]
    )
    return head + part1 + size_table + b"".join(parts)


def encode_vp8_i16(y_dc_tokens, mb_w: int, mb_h: int, width: int,
                   height: int, qi: int = 0) -> bytes:
    """Minimal fixture stream: every MB intra 16x16 DC_PRED with one Y2
    DC level and nothing else (see :func:`encode_vp8`)."""
    mbs = []
    for v in y_dc_tokens:
        y2 = [0] * 16
        y2[0] = v
        mbs.append(
            {
                "ymode": DC_PRED, "uvmode": DC_PRED, "y2": y2,
                "y": [[0] * 16 for _ in range(16)],
                "u": [[0] * 16 for _ in range(4)],
                "v": [[0] * 16 for _ in range(4)],
            }
        )
    return encode_vp8(mbs, mb_w, mb_h, width, height, qi=qi)


def wrap_webp(vp8_payload: bytes) -> bytes:
    """RIFF/WEBP container around a raw VP8 frame."""
    chunk = b"VP8 " + len(vp8_payload).to_bytes(4, "little") + vp8_payload
    if len(vp8_payload) & 1:
        chunk += b"\x00"
    return b"RIFF" + (4 + len(chunk)).to_bytes(4, "little") + b"WEBP" + chunk
