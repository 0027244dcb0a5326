"""From-scratch H.264/AVC baseline IDR (intra) codec — stdlib+numpy.

Scope: the keyframe-decode step for mp4/avc1 crawl intake, extending
`extensions/multimodal.py:h264_slice_index` (which reads slice
HEADERS) to actual pixels — exactly the step `extensions/vp8.py` took for
WebP keyframes. Supported: Baseline-profile IDR slices, CAVLC entropy
coding, Intra_16x16 / Intra_4x4 / I_PCM macroblocks, 4:2:0 chroma
with all four chroma prediction modes, integer inverse transforms
(4x4 core, 4x4 luma-DC Hadamard, 2x2 chroma DC) and per-spec dequant.
The in-loop deblocking filter is NOT implemented: the decoder refuses
streams that enable it (slice headers must carry
``disable_deblocking_filter_idc == 1``) rather than emitting
silently-unfiltered output — same quarantine-taxonomy honesty as the
other codecs (CODECS.md).

Correctness strategy (no system H.264 decoder ships in this
container, unlike libwebp for VP8):

- every VLC table is structurally validated (prefix-free + complete
  modulo the spec's all-zeros leaf — `extensions/h264_tables.py`);
- the CAVLC entropy layer is pinned against the widely published
  worked example (coeff_token/level/total_zeros/run_before bits for
  the classic 5-coefficient block);
- transform/dequant are pinned against hand-computed spec arithmetic;
- encoder->decoder round-trips meet an INDEPENDENT numpy
  reconstruction (tests/test_h264.py builds expected pixels from the
  authoring parameters, not from this module's decode path);
- a conformance suite against a system decoder is included and
  auto-skips when none is present (the VP8 pattern).

The encoder here is full-control (explicit modes, explicit levels) —
a fixture/conformance authoring tool, not a rate-distortion encoder.

Reference parity: none (the reference repo has no video codec).
"""

from __future__ import annotations

import numpy as np

from trollflow2_spark.extensions.h264_tables import (
    CBP_INTRA,
    COEFF_TOKEN_CHROMA_DC,
    COEFF_TOKEN_NC0,
    COEFF_TOKEN_NC2,
    COEFF_TOKEN_NC4,
    DEQUANT_V,
    POS_CLASS,
    QP_CHROMA,
    RUN_BEFORE,
    TOTAL_ZEROS_4x4,
    TOTAL_ZEROS_CHROMA_DC,
    ZIGZAG_4x4,
)

# --- bit I/O + RBSP ----------------------------------------------------------


class BitReader:
    """MSB-first bit reader over RBSP bytes with Exp-Golomb."""

    def __init__(self, data: bytes):
        self.data = data
        self.pos = 0  # bit position

    def u(self, n: int) -> int:
        v = 0
        for _ in range(n):
            byte = self.data[self.pos >> 3]
            v = (v << 1) | ((byte >> (7 - (self.pos & 7))) & 1)
            self.pos += 1
        return v

    def ue(self) -> int:
        zeros = 0
        while self.u(1) == 0:
            zeros += 1
            if zeros > 32:
                raise ValueError("bad exp-golomb code")
        return (1 << zeros) - 1 + (self.u(zeros) if zeros else 0)

    def se(self) -> int:
        k = self.ue()
        return (k + 1) // 2 if k % 2 == 1 else -(k // 2)

    def byte_aligned(self) -> bool:
        return (self.pos & 7) == 0


class BitWriter:
    """MSB-first bit writer with Exp-Golomb and RBSP trailing."""

    def __init__(self):
        self.bits: list[int] = []

    def u(self, value: int, n: int) -> None:
        for i in range(n - 1, -1, -1):
            self.bits.append((value >> i) & 1)

    def put_str(self, s: str) -> None:
        self.bits.extend(1 if c == "1" else 0 for c in s)

    def ue(self, v: int) -> None:
        v += 1
        n = v.bit_length()
        self.u(0, n - 1)
        self.u(v, n)

    def se(self, v: int) -> None:
        self.ue(2 * v - 1 if v > 0 else -2 * v)

    def rbsp_trailing(self) -> None:
        self.bits.append(1)
        while len(self.bits) % 8:
            self.bits.append(0)

    def tobytes(self) -> bytes:
        out = bytearray()
        for i in range(0, len(self.bits), 8):
            b = 0
            for j in range(8):
                b = (b << 1) | (
                    self.bits[i + j] if i + j < len(self.bits) else 0
                )
            out.append(b)
        return bytes(out)


def rbsp_unescape(b: bytes) -> bytes:
    """Strip emulation-prevention bytes (00 00 03 -> 00 00)."""
    return b.replace(b"\x00\x00\x03", b"\x00\x00")


def rbsp_escape(b: bytes) -> bytes:
    """Insert emulation-prevention bytes so no 00 00 0x (x<=3) runs
    survive in the NAL payload."""
    out = bytearray()
    zeros = 0
    for byte in b:
        if zeros >= 2 and byte <= 3:
            out.append(3)
            zeros = 0
        out.append(byte)
        zeros = zeros + 1 if byte == 0 else 0
    return bytes(out)


# --- CAVLC: decode tries + encode maps --------------------------------------


def _trie(table: dict) -> dict[str, tuple]:
    return {code: key for key, code in table.items()}


_CT_DECODE = {
    0: _trie(COEFF_TOKEN_NC0),
    2: _trie(COEFF_TOKEN_NC2),
    4: _trie(COEFF_TOKEN_NC4),
    -1: _trie(COEFF_TOKEN_CHROMA_DC),
}
_CT_ENCODE = {
    0: COEFF_TOKEN_NC0,
    2: COEFF_TOKEN_NC2,
    4: COEFF_TOKEN_NC4,
    -1: COEFF_TOKEN_CHROMA_DC,
}


def _ct_context(nC: int) -> int:
    if nC < 0:
        return -1
    if nC < 2:
        return 0
    if nC < 4:
        return 2
    if nC < 8:
        return 4
    return 8


def _read_vlc(r: BitReader, rev: dict[str, tuple], max_len: int = 16):
    s = ""
    for _ in range(max_len):
        s += "1" if r.u(1) else "0"
        if s in rev:
            return rev[s]
    raise ValueError(f"invalid VLC code {s!r}")


def decode_residual_cavlc(
    r: BitReader, nC: int, max_coeffs: int
) -> tuple[list[int], int]:
    """Parse one CAVLC residual block (spec 9.2): returns the
    coefficient levels in SCAN order (length ``max_coeffs``) and
    TotalCoeff (the value neighbor nC bookkeeping stores)."""
    ctx = _ct_context(nC)
    if ctx == 8:
        v = r.u(6)
        if v == 3:
            total, t1s = 0, 0
        else:
            total, t1s = v // 4 + 1, v % 4
    else:
        total, t1s = _read_vlc(r, _CT_DECODE[ctx])
    coeffs = [0] * max_coeffs
    if total == 0:
        return coeffs, 0
    levels: list[int] = []
    suffix_len = 1 if total > 10 and t1s < 3 else 0
    for i in range(total):
        if i < t1s:
            levels.append(-1 if r.u(1) else 1)
            continue
        prefix = 0
        while r.u(1) == 0:
            prefix += 1
            if prefix > 32:
                raise ValueError("bad level_prefix")
        code = min(15, prefix) << suffix_len
        if suffix_len > 0 or prefix >= 14:
            if prefix == 14 and suffix_len == 0:
                nbits = 4
            elif prefix >= 15:
                nbits = prefix - 3
            else:
                nbits = suffix_len
            if nbits:
                code += r.u(nbits)
        if prefix >= 15 and suffix_len == 0:
            code += 15
        if prefix >= 16:
            code += (1 << (prefix - 3)) - 4096
        if i == t1s and t1s < 3:
            code += 2
        level = (code + 2) >> 1 if code % 2 == 0 else -((code + 1) >> 1)
        levels.append(level)
        if suffix_len == 0:
            suffix_len = 1
        if abs(level) > (3 << (suffix_len - 1)) and suffix_len < 6:
            suffix_len += 1
    # total_zeros
    if total < max_coeffs:
        if max_coeffs == 4:  # chroma DC
            tz = _read_vlc(
                r,
                {
                    c: z
                    for z, c in TOTAL_ZEROS_CHROMA_DC[total].items()
                },
                9,
            )
        else:
            tz = _read_vlc(
                r, {c: z for z, c in TOTAL_ZEROS_4x4[total].items()}, 9
            )
    else:
        tz = 0
    # run_before
    zeros_left = tz
    runs = [0] * total
    for i in range(total - 1):
        if zeros_left == 0:
            break
        if zeros_left <= 6:
            run = _read_vlc(
                r,
                {c: v for v, c in RUN_BEFORE[zeros_left].items()},
                3,
            )
        else:
            # Table 9-10 last column: 0..6 are the 3-bit codes
            # 111..001; run >= 7 extends unary ((run-4) zeros + 1)
            s3 = r.u(3)
            if s3 != 0:
                run = 7 - s3
            else:
                run = 7
                while r.u(1) == 0:
                    run += 1
                    if run > 14:
                        raise ValueError("bad run_before code")
        runs[i] = run
        zeros_left -= run
        if zeros_left < 0:
            raise ValueError("run_before exceeds zeros_left")
    runs[total - 1] = zeros_left
    # place coefficients (levels[0] is the highest-frequency coeff)
    idx = -1
    for i in range(total - 1, -1, -1):
        idx += runs[i] + 1
        coeffs[idx] = levels[i]
    return coeffs, total


def encode_residual_cavlc(
    w: BitWriter, coeffs: list[int], nC: int, max_coeffs: int
) -> int:
    """Encode one residual block in scan order; returns TotalCoeff.
    Inverse of :func:`decode_residual_cavlc` — levels beyond the
    trailing-ones window must fit the level_prefix/suffix scheme (the
    encoder raises on levels it cannot represent rather than emitting
    a wrong stream)."""
    nz = [(i, c) for i, c in enumerate(coeffs[:max_coeffs]) if c != 0]
    total = len(nz)
    # trailing ones: up to 3 final +-1 levels
    t1s = 0
    for i in range(total - 1, -1, -1):
        if abs(nz[i][1]) == 1 and t1s < 3:
            t1s += 1
        else:
            break
    ctx = _ct_context(nC)
    if ctx == 8:
        w.u(3 if total == 0 else (total - 1) * 4 + t1s, 6)
    else:
        w.put_str(_CT_ENCODE[ctx][(total, t1s)])
    if total == 0:
        return 0
    levels = [c for _, c in reversed(nz)]  # high-frequency first
    suffix_len = 1 if total > 10 and t1s < 3 else 0
    for i, level in enumerate(levels):
        if i < t1s:
            w.u(1 if level < 0 else 0, 1)
            continue
        code = 2 * abs(level) - 2 if level > 0 else 2 * abs(level) - 1
        if i == t1s and t1s < 3:
            code -= 2
        if suffix_len == 0:
            if code < 14:
                w.u(1, code + 1)  # unary: code zeros then 1
            elif code < 30:
                w.u(1, 15)  # prefix 14
                w.u(code - 14, 4)
            else:
                if code - 30 > 4095:
                    raise ValueError(
                        f"level {level} exceeds the 12-bit escape"
                    )
                w.u(1, 16)  # prefix 15
                w.u(code - 30, 12)
        else:
            if (code >> suffix_len) < 15:
                w.u(1, (code >> suffix_len) + 1)
                w.u(code & ((1 << suffix_len) - 1), suffix_len)
            else:
                if code - (15 << suffix_len) > 4095:
                    raise ValueError(
                        f"level {level} exceeds the 12-bit escape"
                    )
                w.u(1, 16)
                w.u(code - (15 << suffix_len), 12)
        if suffix_len == 0:
            suffix_len = 1
        if abs(level) > (3 << (suffix_len - 1)) and suffix_len < 6:
            suffix_len += 1
    if total < max_coeffs:
        tz = sum(
            1
            for i in range(nz[-1][0])
            if coeffs[i] == 0
        )
        if max_coeffs == 4:
            w.put_str(TOTAL_ZEROS_CHROMA_DC[total][tz])
        else:
            w.put_str(TOTAL_ZEROS_4x4[total][tz])
    else:
        tz = 0
    zeros_left = tz
    for i in range(total - 1, 0, -1):
        if zeros_left == 0:
            break
        lo = nz[i - 1][0]
        hi = nz[i][0]
        run = hi - lo - 1
        if zeros_left <= 6:
            w.put_str(RUN_BEFORE[zeros_left][run])
        elif run <= 6:
            w.put_str(RUN_BEFORE[7][run])
        else:
            w.u(1, run - 3)  # zeros then 1
        zeros_left -= run
    return total


# --- transforms + dequant (8.5) ---------------------------------------------

_WHT4 = np.array(
    [[1, 1, 1, 1], [1, 1, -1, -1], [1, -1, -1, 1], [1, -1, 1, -1]],
    dtype=np.int64,
)


def dequant4x4(levels_scan: list[int], qp: int, start: int = 0) -> np.ndarray:
    """Spec 8.5.12.1 for one 4x4 block: zig-zag levels -> raster
    dequantized coefficients; ``start=1`` leaves position 0 alone
    (the DC of I16x16/chroma blocks arrives separately scaled)."""
    d = np.zeros(16, dtype=np.int64)
    for scan_idx in range(start, 16):
        lv = levels_scan[scan_idx]
        if lv:
            pos = ZIGZAG_4x4[scan_idx]
            d[pos] = (
                lv * DEQUANT_V[qp % 6][POS_CLASS[pos]]
            ) << (qp // 6)
    return d.reshape(4, 4)


def idct4x4(d: np.ndarray) -> np.ndarray:
    """8.5.12.2 inverse core transform: returns the residual r with
    the final (x + 32) >> 6 applied (int array, caller adds to pred
    and clips)."""
    d = d.astype(np.int64)
    e = np.empty_like(d)
    # horizontal (rows of d are y; spec operates on rows then cols)
    e0 = d[:, 0] + d[:, 2]
    e1 = d[:, 0] - d[:, 2]
    e2 = (d[:, 1] >> 1) - d[:, 3]
    e3 = d[:, 1] + (d[:, 3] >> 1)
    f = np.stack([e0 + e3, e1 + e2, e1 - e2, e0 - e3], axis=1)
    g0 = f[0, :] + f[2, :]
    g1 = f[0, :] - f[2, :]
    g2 = (f[1, :] >> 1) - f[3, :]
    g3 = f[1, :] + (f[3, :] >> 1)
    h = np.stack([g0 + g3, g1 + g2, g1 - g2, g0 - g3], axis=0)
    return (h + 32) >> 6


def luma_dc_dequant(levels_scan16: list[int], qp: int) -> np.ndarray:
    """8.5.10: inverse Hadamard over the 16 I16x16 luma DC levels
    (zig-zag scanned), then the DC-specific scaling. Returns the 4x4
    array of per-block DC coefficients (raster over the MB's 4x4
    blocks)."""
    c = np.zeros(16, dtype=np.int64)
    for scan_idx in range(16):
        c[ZIGZAG_4x4[scan_idx]] = levels_scan16[scan_idx]
    c = c.reshape(4, 4)
    f = _WHT4 @ c @ _WHT4.T
    v = DEQUANT_V[qp % 6][0]
    if qp >= 36:
        return (f * v) << (qp // 6 - 6)
    return (f * v + (1 << (5 - qp // 6))) >> (6 - qp // 6)


def chroma_dc_dequant(levels4: list[int], qp: int) -> np.ndarray:
    """8.5.11: 2x2 inverse Hadamard + chroma DC scaling (4:2:0).
    ``levels4`` in raster order (c00, c01, c10, c11)."""
    c = np.array(levels4, dtype=np.int64).reshape(2, 2)
    h2 = np.array([[1, 1], [1, -1]], dtype=np.int64)
    f = h2 @ c @ h2
    v = DEQUANT_V[qp % 6][0]
    return ((f * v) << (qp // 6)) >> 5


def _clip255(a: np.ndarray) -> np.ndarray:
    return np.clip(a, 0, 255).astype(np.uint8)


# --- intra prediction (8.3) --------------------------------------------------


def pred4x4(
    mode: int,
    top: np.ndarray | None,
    left: np.ndarray | None,
    topleft: int | None,
    topright: np.ndarray | None,
) -> np.ndarray:
    """One 4x4 luma intra prediction. ``top``/``topright`` are 4-px
    arrays, ``left`` 4 px, availability by None. The caller applies
    the spec's top-right substitution (replicate top[3]) BEFORE the
    call when the physical top-right block is outside the MB row."""
    p = np.zeros((4, 4), dtype=np.int64)
    if mode == 0:  # Vertical
        if top is None:
            raise ValueError("V prediction without top")
        p[:] = top
    elif mode == 1:  # Horizontal
        if left is None:
            raise ValueError("H prediction without left")
        p[:] = left.reshape(4, 1)
    elif mode == 2:  # DC
        if top is not None and left is not None:
            dc = (int(top.sum()) + int(left.sum()) + 4) >> 3
        elif top is not None:
            dc = (int(top.sum()) + 2) >> 2
        elif left is not None:
            dc = (int(left.sum()) + 2) >> 2
        else:
            dc = 128
        p[:] = dc
    elif mode == 3:  # Diagonal down-left
        if top is None or topright is None:
            raise ValueError("DDL prediction without top row")
        t = np.concatenate([top, topright]).astype(np.int64)
        for y in range(4):
            for x in range(4):
                if x == 3 and y == 3:
                    p[y][x] = (t[6] + 3 * t[7] + 2) >> 2
                else:
                    i = x + y
                    p[y][x] = (t[i] + 2 * t[i + 1] + t[i + 2] + 2) >> 2
    elif mode == 4:  # Diagonal down-right
        if top is None or left is None or topleft is None:
            raise ValueError("DDR prediction without neighbors")
        for y in range(4):
            for x in range(4):
                if x > y:
                    a, b, c = (
                        (topleft, top[0], top[1])
                        if x - y == 1
                        else (top[x - y - 2], top[x - y - 1], top[x - y])
                    )
                    p[y][x] = (a + 2 * b + c + 2) >> 2
                elif x < y:
                    a, b, c = (
                        (topleft, left[0], left[1])
                        if y - x == 1
                        else (
                            left[y - x - 2],
                            left[y - x - 1],
                            left[y - x],
                        )
                    )
                    p[y][x] = (a + 2 * b + c + 2) >> 2
                else:
                    p[y][x] = (top[0] + 2 * topleft + left[0] + 2) >> 2
    elif mode == 5:  # Vertical right
        if top is None or left is None or topleft is None:
            raise ValueError("VR prediction without neighbors")
        for y in range(4):
            for x in range(4):
                z = 2 * x - y
                if z >= 0 and z % 2 == 0:
                    a = topleft if x - y // 2 - 1 < 0 else top[x - y // 2 - 1]
                    b = top[x - y // 2]
                    p[y][x] = (a + b + 1) >> 1
                elif z >= 0:
                    a = topleft if x - y // 2 - 2 < 0 else top[x - y // 2 - 2]
                    b = topleft if x - y // 2 - 1 < 0 else top[x - y // 2 - 1]
                    c = top[x - y // 2]
                    p[y][x] = (a + 2 * b + c + 2) >> 2
                elif z == -1:
                    p[y][x] = (left[0] + 2 * topleft + top[0] + 2) >> 2
                else:
                    p[y][x] = (
                        left[y - 2 * x - 1]
                        + 2 * left[y - 2 * x - 2]
                        + (topleft if y - 2 * x - 3 < 0 else left[y - 2 * x - 3])
                        + 2
                    ) >> 2
    elif mode == 6:  # Horizontal down
        if top is None or left is None or topleft is None:
            raise ValueError("HD prediction without neighbors")
        for y in range(4):
            for x in range(4):
                z = 2 * y - x
                if z >= 0 and z % 2 == 0:
                    a = topleft if y - x // 2 - 1 < 0 else left[y - x // 2 - 1]
                    b = left[y - x // 2]
                    p[y][x] = (a + b + 1) >> 1
                elif z >= 0:
                    a = topleft if y - x // 2 - 2 < 0 else left[y - x // 2 - 2]
                    b = topleft if y - x // 2 - 1 < 0 else left[y - x // 2 - 1]
                    c = left[y - x // 2]
                    p[y][x] = (a + 2 * b + c + 2) >> 2
                elif z == -1:
                    p[y][x] = (top[0] + 2 * topleft + left[0] + 2) >> 2
                else:
                    p[y][x] = (
                        top[x - 2 * y - 1]
                        + 2 * top[x - 2 * y - 2]
                        + (topleft if x - 2 * y - 3 < 0 else top[x - 2 * y - 3])
                        + 2
                    ) >> 2
    elif mode == 7:  # Vertical left
        if top is None or topright is None:
            raise ValueError("VL prediction without top row")
        t = np.concatenate([top, topright]).astype(np.int64)
        for y in range(4):
            for x in range(4):
                i = x + y // 2
                if y % 2 == 0:
                    p[y][x] = (t[i] + t[i + 1] + 1) >> 1
                else:
                    p[y][x] = (t[i] + 2 * t[i + 1] + t[i + 2] + 2) >> 2
    elif mode == 8:  # Horizontal up
        if left is None:
            raise ValueError("HU prediction without left")
        for y in range(4):
            for x in range(4):
                z = x + 2 * y
                if z < 5 and z % 2 == 0:
                    p[y][x] = (left[y + x // 2] + left[y + x // 2 + 1] + 1) >> 1
                elif z < 5:
                    p[y][x] = (
                        left[y + x // 2]
                        + 2 * left[y + x // 2 + 1]
                        + left[y + x // 2 + 2]
                        + 2
                    ) >> 2
                elif z == 5:
                    p[y][x] = (left[2] + 3 * left[3] + 2) >> 2
                else:
                    p[y][x] = left[3]
    else:
        raise ValueError(f"bad intra4x4 mode {mode}")
    return p


def pred16x16(
    mode: int,
    top: np.ndarray | None,
    left: np.ndarray | None,
    topleft: int | None,
) -> np.ndarray:
    """Intra_16x16 luma prediction (modes 0 V, 1 H, 2 DC, 3 Plane)."""
    p = np.zeros((16, 16), dtype=np.int64)
    if mode == 0:
        if top is None:
            raise ValueError("I16 V without top")
        p[:] = top
    elif mode == 1:
        if left is None:
            raise ValueError("I16 H without left")
        p[:] = left.reshape(16, 1)
    elif mode == 2:
        if top is not None and left is not None:
            dc = (int(top.sum()) + int(left.sum()) + 16) >> 5
        elif top is not None:
            dc = (int(top.sum()) + 8) >> 4
        elif left is not None:
            dc = (int(left.sum()) + 8) >> 4
        else:
            dc = 128
        p[:] = dc
    elif mode == 3:
        if top is None or left is None or topleft is None:
            raise ValueError("I16 Plane without neighbors")
        t = top.astype(np.int64)
        lf = left.astype(np.int64)
        hh = sum(
            (x + 1) * (int(t[8 + x]) - int(t[6 - x] if 6 - x >= 0 else topleft))
            for x in range(8)
        )
        vv = sum(
            (y + 1) * (int(lf[8 + y]) - int(lf[6 - y] if 6 - y >= 0 else topleft))
            for y in range(8)
        )
        a = 16 * (int(lf[15]) + int(t[15]))
        b = (5 * hh + 32) >> 6
        c = (5 * vv + 32) >> 6
        for y in range(16):
            for x in range(16):
                p[y][x] = min(
                    255, max(0, (a + b * (x - 7) + c * (y - 7) + 16) >> 5)
                )
    else:
        raise ValueError(f"bad intra16x16 mode {mode}")
    return p


def pred_chroma8x8(
    mode: int,
    top: np.ndarray | None,
    left: np.ndarray | None,
    topleft: int | None,
) -> np.ndarray:
    """Chroma 8x8 prediction (modes 0 DC, 1 H, 2 V, 3 Plane) for one
    component, 4:2:0."""
    p = np.zeros((8, 8), dtype=np.int64)
    if mode == 0:
        # per-4x4-quadrant DC with the spec's neighbor selection
        for qy in (0, 4):
            for qx in (0, 4):
                t = top[qx : qx + 4] if top is not None else None
                lf = left[qy : qy + 4] if left is not None else None
                if qx == 0 and qy == 0 or (qx == 4 and qy == 4):
                    if t is not None and lf is not None:
                        dc = (int(t.sum()) + int(lf.sum()) + 4) >> 3
                    elif t is not None:
                        dc = (int(t.sum()) + 2) >> 2
                    elif lf is not None:
                        dc = (int(lf.sum()) + 2) >> 2
                    else:
                        dc = 128
                elif qx == 4 and qy == 0:
                    if t is not None:
                        dc = (int(t.sum()) + 2) >> 2
                    elif lf is not None:
                        dc = (int(lf.sum()) + 2) >> 2
                    else:
                        dc = 128
                else:  # qx == 0, qy == 4
                    if lf is not None:
                        dc = (int(lf.sum()) + 2) >> 2
                    elif t is not None:
                        dc = (int(t.sum()) + 2) >> 2
                    else:
                        dc = 128
                p[qy : qy + 4, qx : qx + 4] = dc
    elif mode == 1:
        if left is None:
            raise ValueError("chroma H without left")
        p[:] = left.reshape(8, 1)
    elif mode == 2:
        if top is None:
            raise ValueError("chroma V without top")
        p[:] = top
    elif mode == 3:
        if top is None or left is None or topleft is None:
            raise ValueError("chroma Plane without neighbors")
        t = top.astype(np.int64)
        lf = left.astype(np.int64)
        hh = sum(
            (x + 1) * (int(t[4 + x]) - int(t[2 - x] if 2 - x >= 0 else topleft))
            for x in range(4)
        )
        vv = sum(
            (y + 1) * (int(lf[4 + y]) - int(lf[2 - y] if 2 - y >= 0 else topleft))
            for y in range(4)
        )
        a = 16 * (int(lf[7]) + int(t[7]))
        b = (17 * hh + 16) >> 5
        c = (17 * vv + 16) >> 5
        for y in range(8):
            for x in range(8):
                p[y][x] = min(
                    255, max(0, (a + b * (x - 3) + c * (y - 3) + 16) >> 5)
                )
    else:
        raise ValueError(f"bad chroma mode {mode}")
    return p


# --- luma 4x4 block scan (z-order within 8x8 quadrants) ----------------------

#: blkIdx -> (bx, by) in 4x4-block units within the MB
BLK_XY = [
    (0, 0), (1, 0), (0, 1), (1, 1),
    (2, 0), (3, 0), (2, 1), (3, 1),
    (0, 2), (1, 2), (0, 3), (1, 3),
    (2, 2), (3, 2), (2, 3), (3, 3),
]
#: blkIdx whose within-MB top-right block is not yet decoded
_TR_UNAVAIL_IN_MB = {3, 7, 11, 13, 15}


# --- SPS / PPS / slice header ------------------------------------------------


def build_sps(
    mb_width: int,
    mb_height: int,
    crop: tuple[int, int, int, int] | None = None,
) -> bytes:
    """Minimal Baseline SPS NAL (profile 66): frame_mbs_only,
    pic_order_cnt_type 2, optional frame cropping (left, right, top,
    bottom in CROP UNITS — x2 luma pixels at 4:2:0), no VUI."""
    w = BitWriter()
    w.u(66, 8)       # profile_idc: Baseline
    w.u(0xC0, 8)     # constraint_set0+1, reserved zero
    w.u(30, 8)       # level_idc 3.0
    w.ue(0)          # sps_id
    w.ue(0)          # log2_max_frame_num_minus4
    w.ue(2)          # pic_order_cnt_type
    w.ue(0)          # max_num_ref_frames
    w.u(0, 1)        # gaps_in_frame_num_value_allowed
    w.ue(mb_width - 1)
    w.ue(mb_height - 1)
    w.u(1, 1)        # frame_mbs_only_flag
    w.u(1, 1)        # direct_8x8_inference_flag
    if crop:
        w.u(1, 1)    # frame_cropping_flag
        for c in crop:
            w.ue(c)
    else:
        w.u(0, 1)
    w.u(0, 1)        # vui_parameters_present_flag
    w.rbsp_trailing()
    return b"\x67" + rbsp_escape(w.tobytes())


def build_pps() -> bytes:
    """Minimal PPS NAL: CAVLC, one slice group, deblocking-control
    bits PRESENT in slice headers (so the encoder can disable the
    filter explicitly — the decoder's supported configuration)."""
    w = BitWriter()
    w.ue(0)          # pps_id
    w.ue(0)          # sps_id
    w.u(0, 1)        # entropy_coding_mode_flag: CAVLC
    w.u(0, 1)        # bottom_field_pic_order_in_frame_present
    w.ue(0)          # num_slice_groups_minus1
    w.ue(0)          # num_ref_idx_l0_default_active_minus1
    w.ue(0)          # num_ref_idx_l1_default_active_minus1
    w.u(0, 1)        # weighted_pred_flag
    w.u(0, 2)        # weighted_bipred_idc
    w.se(0)          # pic_init_qp_minus26
    w.se(0)          # pic_init_qs_minus26
    w.se(0)          # chroma_qp_index_offset
    w.u(1, 1)        # deblocking_filter_control_present_flag
    w.u(0, 1)        # constrained_intra_pred_flag
    w.u(0, 1)        # redundant_pic_cnt_present_flag
    w.rbsp_trailing()
    return b"\x68" + rbsp_escape(w.tobytes())


def parse_sps(rbsp: bytes) -> dict:
    r = BitReader(rbsp)
    profile = r.u(8)
    r.u(8)
    level = r.u(8)
    sps = {"profile_idc": profile, "level_idc": level, "sps_id": r.ue()}
    if profile in (100, 110, 122, 244, 44, 83, 86, 118, 128):
        raise ValueError(
            "high-profile SPS (scaling lists / chroma_format) is "
            "outside the baseline decoder's support"
        )
    sps["log2_max_frame_num"] = r.ue() + 4
    poc_type = r.ue()
    sps["pic_order_cnt_type"] = poc_type
    if poc_type == 0:
        sps["log2_max_poc_lsb"] = r.ue() + 4
    elif poc_type == 1:
        raise ValueError("pic_order_cnt_type 1 unsupported")
    sps["max_num_ref_frames"] = r.ue()
    r.u(1)
    sps["mb_width"] = r.ue() + 1
    sps["mb_height"] = r.ue() + 1
    frame_mbs_only = r.u(1)
    if not frame_mbs_only:
        raise ValueError("interlaced (field) coding unsupported")
    r.u(1)  # direct_8x8_inference
    if r.u(1):  # frame_cropping
        sps["crop"] = (r.ue(), r.ue(), r.ue(), r.ue())
    return sps


def parse_pps(rbsp: bytes) -> dict:
    r = BitReader(rbsp)
    pps = {"pps_id": r.ue(), "sps_id": r.ue()}
    if r.u(1):
        raise ValueError("CABAC entropy coding unsupported (CAVLC only)")
    r.u(1)
    if r.ue() != 0:
        raise ValueError("slice groups (FMO) unsupported")
    r.ue()
    r.ue()
    r.u(1)
    r.u(2)
    pps["pic_init_qp"] = 26 + r.se()
    r.se()
    pps["chroma_qp_index_offset"] = r.se()
    pps["deblocking_control_present"] = r.u(1)
    pps["constrained_intra"] = r.u(1)
    r.u(1)
    return pps


# --- the decoder -------------------------------------------------------------


class _Picture:
    def __init__(self, mb_w: int, mb_h: int):
        self.mb_w, self.mb_h = mb_w, mb_h
        self.y = np.zeros((mb_h * 16, mb_w * 16), dtype=np.uint8)
        self.u = np.zeros((mb_h * 8, mb_w * 8), dtype=np.uint8)
        self.v = np.zeros((mb_h * 8, mb_w * 8), dtype=np.uint8)
        self.luma_tc = np.zeros((mb_h * 4, mb_w * 4), dtype=np.int32)
        self.chroma_tc = np.zeros((2, mb_h * 2, mb_w * 2), dtype=np.int32)
        # per-4x4-block intra mode (2 = DC for non-I4x4 MBs, the spec
        # convention); -1 = not yet decoded
        self.i4_mode = np.full((mb_h * 4, mb_w * 4), -1, dtype=np.int32)
        self.decoded = np.zeros((mb_h, mb_w), dtype=bool)

    def luma_nc(self, bx: int, by: int) -> int:
        na = self.luma_tc[by][bx - 1] if bx > 0 else None
        nb = self.luma_tc[by - 1][bx] if by > 0 else None
        # availability here is picture-edge only: single slice, all
        # intra, so every in-picture neighbor is decoded
        if na is not None and nb is not None:
            return (int(na) + int(nb) + 1) >> 1
        if na is not None:
            return int(na)
        if nb is not None:
            return int(nb)
        return 0

    def chroma_nc(self, comp: int, bx: int, by: int) -> int:
        na = self.chroma_tc[comp][by][bx - 1] if bx > 0 else None
        nb = self.chroma_tc[comp][by - 1][bx] if by > 0 else None
        if na is not None and nb is not None:
            return (int(na) + int(nb) + 1) >> 1
        if na is not None:
            return int(na)
        if nb is not None:
            return int(nb)
        return 0


def _decode_mb(r: BitReader, pic: _Picture, mbx: int, mby: int, qp: int,
               chroma_qp_offset: int) -> int:
    """Decode + reconstruct one I-slice macroblock; returns the
    (possibly updated) slice QP."""
    mb_type = r.ue()
    if mb_type > 25:
        raise ValueError(f"non-intra mb_type {mb_type} in I slice")
    y0, x0 = mby * 16, mbx * 16
    cy0, cx0 = mby * 8, mbx * 8
    b0x, b0y = mbx * 4, mby * 4

    if mb_type == 25:  # I_PCM
        while not r.byte_aligned():
            if r.u(1):
                raise ValueError("bad pcm_alignment bits")
        for yy in range(16):
            for xx in range(16):
                pic.y[y0 + yy][x0 + xx] = r.u(8)
        for plane in (pic.u, pic.v):
            for yy in range(8):
                for xx in range(8):
                    plane[cy0 + yy][cx0 + xx] = r.u(8)
        pic.luma_tc[b0y : b0y + 4, b0x : b0x + 4] = 16
        pic.chroma_tc[:, mby * 2 : mby * 2 + 2, mbx * 2 : mbx * 2 + 2] = 16
        pic.i4_mode[b0y : b0y + 4, b0x : b0x + 4] = 2
        pic.decoded[mby][mbx] = True
        return qp

    if mb_type == 0:  # Intra_4x4
        modes: list[int] = []
        for blk in range(16):
            bx, by = BLK_XY[blk]
            abx, aby = b0x + bx, b0y + by
            left_m = pic.i4_mode[aby][abx - 1] if abx > 0 else -1
            top_m = pic.i4_mode[aby - 1][abx] if aby > 0 else -1
            pred_m = min(
                left_m if left_m >= 0 else 2,
                top_m if top_m >= 0 else 2,
            )
            if left_m < 0 and abx > 0 and bx == 0:
                pred_m = 2  # undecoded left MB edge (cannot happen
                # in raster order, kept for shape parity)
            if r.u(1):
                mode = pred_m
            else:
                rem = r.u(3)
                mode = rem if rem < pred_m else rem + 1
            modes.append(mode)
            pic.i4_mode[aby][abx] = mode
        chroma_mode = r.ue()
        cbp = CBP_INTRA[r.ue()]
        cbp_luma, cbp_chroma = cbp & 15, cbp >> 4
        i16_mode = None
    else:  # Intra_16x16
        k = mb_type - 1
        i16_mode = k % 4
        cbp_chroma = (k // 4) % 3
        cbp_luma = 15 if k >= 12 else 0
        modes = []
        chroma_mode = r.ue()
        pic.i4_mode[b0y : b0y + 4, b0x : b0x + 4] = 2

    if cbp_luma or cbp_chroma or i16_mode is not None:
        qp = (qp + r.se() + 52) % 52

    # ---- residual parse (all blocks first, then reconstruct) ----
    dc16: list[int] = [0] * 16
    if i16_mode is not None:
        nC = pic.luma_nc(b0x, b0y)
        dc16, _ = decode_residual_cavlc(r, nC, 16)
    luma_blocks: list[list[int]] = [[0] * 16 for _ in range(16)]
    for blk in range(16):
        bx, by = BLK_XY[blk]
        abx, aby = b0x + bx, b0y + by
        quad = (by // 2) * 2 + (bx // 2)
        if cbp_luma & (1 << quad):
            nC = pic.luma_nc(abx, aby)
            if i16_mode is not None:
                coeffs, tc = decode_residual_cavlc(r, nC, 15)
                luma_blocks[blk] = [0] + coeffs
            else:
                coeffs, tc = decode_residual_cavlc(r, nC, 16)
                luma_blocks[blk] = coeffs
            pic.luma_tc[aby][abx] = tc
        else:
            pic.luma_tc[aby][abx] = 0
    chroma_dc = [[0] * 4, [0] * 4]
    if cbp_chroma:
        for comp in range(2):
            chroma_dc[comp], _ = decode_residual_cavlc(r, -1, 4)
    chroma_ac: list[list[list[int]]] = [
        [[0] * 16 for _ in range(4)] for _ in range(2)
    ]
    for comp in range(2):
        for blk in range(4):
            bx, by = blk % 2, blk // 2
            abx, aby = mbx * 2 + bx, mby * 2 + by
            if cbp_chroma & 2:
                nC = pic.chroma_nc(comp, abx, aby)
                coeffs, tc = decode_residual_cavlc(r, nC, 15)
                chroma_ac[comp][blk] = [0] + coeffs
                pic.chroma_tc[comp][aby][abx] = tc
            else:
                pic.chroma_tc[comp][aby][abx] = 0

    # ---- luma reconstruction ----
    if i16_mode is not None:
        top = pic.y[y0 - 1, x0 : x0 + 16].astype(np.int64) if mby > 0 else None
        left = (
            pic.y[y0 : y0 + 16, x0 - 1].astype(np.int64) if mbx > 0 else None
        )
        tl = int(pic.y[y0 - 1][x0 - 1]) if mbx > 0 and mby > 0 else None
        pred = pred16x16(i16_mode, top, left, tl)
        dcs = luma_dc_dequant(dc16, qp)
        for blk in range(16):
            bx, by = BLK_XY[blk]
            d = dequant4x4(luma_blocks[blk], qp, start=1)
            d[0][0] = dcs[by][bx]
            res = idct4x4(d)
            py, px = y0 + by * 4, x0 + bx * 4
            pic.y[py : py + 4, px : px + 4] = _clip255(
                pred[by * 4 : by * 4 + 4, bx * 4 : bx * 4 + 4] + res
            )
    else:
        for blk in range(16):
            bx, by = BLK_XY[blk]
            py, px = y0 + by * 4, x0 + bx * 4
            top = (
                pic.y[py - 1, px : px + 4].astype(np.int64)
                if py > 0
                else None
            )
            left = (
                pic.y[py : py + 4, px - 1].astype(np.int64)
                if px > 0
                else None
            )
            tl = int(pic.y[py - 1][px - 1]) if px > 0 and py > 0 else None
            tr = None
            if top is not None:
                tr_ok = True
                if blk in _TR_UNAVAIL_IN_MB:
                    tr_ok = False
                if bx == 3 and by == 0:
                    # needs the above-right MB
                    tr_ok = mby > 0 and mbx + 1 < pic.mb_w
                if px + 7 >= pic.mb_w * 16:
                    tr_ok = False
                if tr_ok:
                    tr = pic.y[py - 1, px + 4 : px + 8].astype(np.int64)
                else:
                    tr = np.full(4, int(top[3]), dtype=np.int64)
            pred = pred4x4(modes[blk], top, left, tl, tr)
            d = dequant4x4(luma_blocks[blk], qp, start=0)
            res = idct4x4(d)
            pic.y[py : py + 4, px : px + 4] = _clip255(pred + res)

    # ---- chroma reconstruction ----
    qpc = QP_CHROMA[max(0, min(51, qp + chroma_qp_offset))]
    for comp, plane in ((0, pic.u), (1, pic.v)):
        top = (
            plane[cy0 - 1, cx0 : cx0 + 8].astype(np.int64)
            if mby > 0
            else None
        )
        left = (
            plane[cy0 : cy0 + 8, cx0 - 1].astype(np.int64)
            if mbx > 0
            else None
        )
        tl = int(plane[cy0 - 1][cx0 - 1]) if mbx > 0 and mby > 0 else None
        pred = pred_chroma8x8(chroma_mode, top, left, tl)
        dcs = chroma_dc_dequant(chroma_dc[comp], qpc)
        for blk in range(4):
            bx, by = blk % 2, blk // 2
            d = dequant4x4(chroma_ac[comp][blk], qpc, start=1)
            d[0][0] = dcs[by][bx]
            res = idct4x4(d)
            py, px = cy0 + by * 4, cx0 + bx * 4
            plane[py : py + 4, px : px + 4] = _clip255(
                pred[by * 4 : by * 4 + 4, bx * 4 : bx * 4 + 4] + res
            )
    pic.decoded[mby][mbx] = True
    return qp


def decode_idr(
    sps: dict, pps: dict, slice_rbsp: bytes
) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Decode one IDR slice RBSP into (y, u, v) planes."""
    r = BitReader(slice_rbsp)
    first_mb = r.ue()
    slice_type = r.ue()
    if slice_type % 5 != 2:
        raise ValueError(f"not an I slice (slice_type {slice_type})")
    r.ue()  # pps_id
    r.u(sps["log2_max_frame_num"])  # frame_num
    r.ue()  # idr_pic_id
    if sps["pic_order_cnt_type"] == 0:
        r.u(sps["log2_max_poc_lsb"])
    # dec_ref_pic_marking (IDR)
    r.u(1)
    r.u(1)
    qp = pps["pic_init_qp"] + r.se()
    if pps["deblocking_control_present"]:
        if r.ue() != 1:
            raise ValueError(
                "in-loop deblocking requested but not implemented — "
                "refusing to emit silently-unfiltered pixels"
            )
    elif first_mb == 0:
        raise ValueError(
            "stream relies on default deblocking (not implemented)"
        )
    pic = _Picture(sps["mb_width"], sps["mb_height"])
    for mby in range(pic.mb_h):
        for mbx in range(pic.mb_w):
            qp = _decode_mb(
                r, pic, mbx, mby, qp, pps["chroma_qp_index_offset"]
            )
    return pic.y, pic.u, pic.v


def apply_crop(
    y: np.ndarray, u: np.ndarray, v: np.ndarray, sps: dict
):
    """Apply the SPS frame-cropping rectangle (7.4.2.1.1): crop units
    are 2 luma / 1 chroma pixels per unit at 4:2:0 frame coding —
    this is how real streams carry non-multiple-of-16 dimensions."""
    crop = sps.get("crop")
    if not crop:
        return y, u, v
    left, right, top, bottom = crop
    h, w = y.shape
    y = y[2 * top : h - 2 * bottom, 2 * left : w - 2 * right]
    ch, cw = u.shape
    u = u[top : ch - bottom, left : cw - right]
    v = v[top : ch - bottom, left : cw - right]
    if y.size == 0:
        raise ValueError("cropping rectangle consumes the whole frame")
    return y, u, v


def split_annexb(data: bytes) -> list[bytes]:
    """Split an Annex-B byte stream into NAL units (without start
    codes)."""
    out = []
    i = 0
    n = len(data)
    starts = []
    while i < n - 2:
        if data[i] == 0 and data[i + 1] == 0:
            if data[i + 2] == 1:
                starts.append(i + 3)
                i += 3
                continue
            if i < n - 3 and data[i + 2] == 0 and data[i + 3] == 1:
                starts.append(i + 4)
                i += 4
                continue
        i += 1
    for j, s in enumerate(starts):
        end = (
            starts[j + 1] - 3 if j + 1 < len(starts) else n
        )
        # trim the start-code prefix zeros of the NEXT start code
        chunk = data[s:end]
        while chunk.endswith(b"\x00"):
            chunk = chunk[:-1]
        out.append(chunk)
    return out


def h264_decode_annexb(
    data: bytes,
) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Decode the first IDR picture of an Annex-B stream (SPS + PPS +
    IDR slice NALs). Returns (y, u, v) uint8 planes."""
    sps = pps = None
    for nal in split_annexb(data):
        if not nal:
            continue
        ntype = nal[0] & 0x1F
        rbsp = rbsp_unescape(nal[1:])
        if ntype == 7:
            sps = parse_sps(rbsp)
        elif ntype == 8:
            pps = parse_pps(rbsp)
        elif ntype == 5:
            if sps is None or pps is None:
                raise ValueError("IDR slice before SPS/PPS")
            return decode_idr(sps, pps, rbsp)
    raise ValueError("no IDR slice found")


# --- full-control encoder (fixture/conformance authoring) --------------------


class H264IntraEncoder:
    """Author one Baseline IDR picture with EXPLICIT macroblock
    decisions — prediction modes and quantized levels are inputs, not
    search results (the `extensions/vp8.py` full-control-encoder pattern).
    Macroblocks are added in raster order; `encode()` emits an
    Annex-B stream (SPS + PPS + one IDR slice, deblocking disabled —
    the decoder's supported configuration).

    Level lists are in SCAN order: zig-zag for luma/chroma 4x4 (AC
    lists are the 15 positions after the DC), zig-zag for the 16 luma
    DC levels of I16x16, raster for the 4 chroma DC levels."""

    def __init__(self, mb_w: int, mb_h: int, qp: int = 28):
        if not 0 <= qp <= 51:
            raise ValueError("qp out of range")
        self.mb_w, self.mb_h, self.qp = mb_w, mb_h, qp
        self.mbs: list[dict] = []
        self.luma_tc = np.zeros((mb_h * 4, mb_w * 4), dtype=np.int32)
        self.chroma_tc = np.zeros((2, mb_h * 2, mb_w * 2), dtype=np.int32)
        self.i4_mode = np.full((mb_h * 4, mb_w * 4), -1, dtype=np.int32)

    def add_i16(
        self,
        pred_mode: int,
        dc: list[int] | None = None,
        ac: list[list[int]] | None = None,
        chroma_mode: int = 0,
        chroma_dc: list[list[int]] | None = None,
        chroma_ac: list[list[list[int]]] | None = None,
    ) -> None:
        self.mbs.append(
            {
                "kind": "i16",
                "mode": pred_mode,
                "dc": list(dc or [0] * 16),
                "ac": [list(b) for b in (ac or [[0] * 15] * 16)],
                "cmode": chroma_mode,
                "cdc": [list(b) for b in (chroma_dc or [[0] * 4] * 2)],
                "cac": [
                    [list(b) for b in comp]
                    for comp in (chroma_ac or [[[0] * 15] * 4] * 2)
                ],
            }
        )

    def add_i4(
        self,
        modes: list[int],
        luma: list[list[int]] | None = None,
        chroma_mode: int = 0,
        chroma_dc: list[list[int]] | None = None,
        chroma_ac: list[list[list[int]]] | None = None,
    ) -> None:
        if len(modes) != 16:
            raise ValueError("16 block modes required")
        self.mbs.append(
            {
                "kind": "i4",
                "modes": list(modes),
                "luma": [list(b) for b in (luma or [[0] * 16] * 16)],
                "cmode": chroma_mode,
                "cdc": [list(b) for b in (chroma_dc or [[0] * 4] * 2)],
                "cac": [
                    [list(b) for b in comp]
                    for comp in (chroma_ac or [[[0] * 15] * 4] * 2)
                ],
            }
        )

    def add_pcm(self, y: np.ndarray, u: np.ndarray, v: np.ndarray) -> None:
        self.mbs.append(
            {
                "kind": "pcm",
                "y": np.asarray(y, dtype=np.uint8),
                "u": np.asarray(u, dtype=np.uint8),
                "v": np.asarray(v, dtype=np.uint8),
            }
        )

    def _encode_mb(self, w: BitWriter, mb: dict, mbx: int, mby: int):
        b0x, b0y = mbx * 4, mby * 4
        if mb["kind"] == "pcm":
            w.ue(25)
            while len(w.bits) % 8:
                w.bits.append(0)  # pcm_alignment_zero_bit
            for row in mb["y"]:
                for px in row:
                    w.u(int(px), 8)
            for plane in (mb["u"], mb["v"]):
                for row in plane:
                    for px in row:
                        w.u(int(px), 8)
            self.luma_tc[b0y : b0y + 4, b0x : b0x + 4] = 16
            self.chroma_tc[
                :, mby * 2 : mby * 2 + 2, mbx * 2 : mbx * 2 + 2
            ] = 16
            self.i4_mode[b0y : b0y + 4, b0x : b0x + 4] = 2
            return

        # coded block pattern from the supplied levels
        any_cac = any(
            any(v for v in blk) for comp in mb["cac"] for blk in comp
        )
        any_cdc = any(v for blk in mb["cdc"] for v in blk)
        cbp_chroma = 2 if any_cac else (1 if any_cdc else 0)
        if mb["kind"] == "i16":
            any_ac = any(any(v for v in blk) for blk in mb["ac"])
            cbp_luma = 15 if any_ac else 0
            mb_type = (
                1 + mb["mode"] + 4 * cbp_chroma
                + (12 if cbp_luma else 0)
            )
            w.ue(mb_type)
            self.i4_mode[b0y : b0y + 4, b0x : b0x + 4] = 2
        else:
            cbp_luma = 0
            for blk in range(16):
                if any(mb["luma"][blk]):
                    bx, by = BLK_XY[blk]
                    cbp_luma |= 1 << ((by // 2) * 2 + (bx // 2))
            w.ue(0)
            for blk in range(16):
                bx, by = BLK_XY[blk]
                abx, aby = b0x + bx, b0y + by
                left_m = self.i4_mode[aby][abx - 1] if abx > 0 else -1
                top_m = self.i4_mode[aby - 1][abx] if aby > 0 else -1
                pred_m = min(
                    left_m if left_m >= 0 else 2,
                    top_m if top_m >= 0 else 2,
                )
                mode = mb["modes"][blk]
                if mode == pred_m:
                    w.u(1, 1)
                else:
                    w.u(0, 1)
                    w.u(mode if mode < pred_m else mode - 1, 3)
                self.i4_mode[aby][abx] = mode
        w.ue(mb["cmode"])
        if mb["kind"] == "i4":
            cbp = cbp_luma | (cbp_chroma << 4)
            w.ue(CBP_INTRA.index(cbp))
        if cbp_luma or cbp_chroma or mb["kind"] == "i16":
            w.se(0)  # mb_qp_delta: constant-QP authoring
        # residuals
        if mb["kind"] == "i16":
            nC = self._luma_nc(b0x, b0y)
            encode_residual_cavlc(w, mb["dc"], nC, 16)
        for blk in range(16):
            bx, by = BLK_XY[blk]
            abx, aby = b0x + bx, b0y + by
            quad = (by // 2) * 2 + (bx // 2)
            if cbp_luma & (1 << quad):
                nC = self._luma_nc(abx, aby)
                levels = (
                    mb["ac"][blk]
                    if mb["kind"] == "i16"
                    else mb["luma"][blk]
                )
                tc = encode_residual_cavlc(
                    w, levels, nC, 15 if mb["kind"] == "i16" else 16
                )
                self.luma_tc[aby][abx] = tc
            else:
                if mb["kind"] == "i4" and any(mb["luma"][blk]):
                    raise ValueError("levels outside coded quadrants")
                self.luma_tc[aby][abx] = 0
        if cbp_chroma:
            for comp in range(2):
                encode_residual_cavlc(w, mb["cdc"][comp], -1, 4)
        for comp in range(2):
            for blk in range(4):
                bx, by = blk % 2, blk // 2
                abx, aby = mbx * 2 + bx, mby * 2 + by
                if cbp_chroma & 2:
                    nC = self._chroma_nc(comp, abx, aby)
                    tc = encode_residual_cavlc(
                        w, mb["cac"][comp][blk], nC, 15
                    )
                    self.chroma_tc[comp][aby][abx] = tc
                else:
                    self.chroma_tc[comp][aby][abx] = 0

    def _luma_nc(self, bx: int, by: int) -> int:
        na = self.luma_tc[by][bx - 1] if bx > 0 else None
        nb = self.luma_tc[by - 1][bx] if by > 0 else None
        if na is not None and nb is not None:
            return (int(na) + int(nb) + 1) >> 1
        if na is not None:
            return int(na)
        if nb is not None:
            return int(nb)
        return 0

    def _chroma_nc(self, comp: int, bx: int, by: int) -> int:
        na = self.chroma_tc[comp][by][bx - 1] if bx > 0 else None
        nb = self.chroma_tc[comp][by - 1][bx] if by > 0 else None
        if na is not None and nb is not None:
            return (int(na) + int(nb) + 1) >> 1
        if na is not None:
            return int(na)
        if nb is not None:
            return int(nb)
        return 0

    def encode(self) -> bytes:
        if len(self.mbs) != self.mb_w * self.mb_h:
            raise ValueError(
                f"picture needs {self.mb_w * self.mb_h} MBs, "
                f"got {len(self.mbs)}"
            )
        w = BitWriter()
        w.ue(0)                 # first_mb_in_slice
        w.ue(7)                 # slice_type: I (all slices)
        w.ue(0)                 # pps_id
        w.u(0, 4)               # frame_num (log2_max_frame_num = 4)
        w.ue(0)                 # idr_pic_id
        w.u(0, 1)               # no_output_of_prior_pics_flag
        w.u(0, 1)               # long_term_reference_flag
        w.se(self.qp - 26)      # slice_qp_delta
        w.ue(1)                 # disable_deblocking_filter_idc
        for i, mb in enumerate(self.mbs):
            self._encode_mb(w, mb, i % self.mb_w, i // self.mb_w)
        w.rbsp_trailing()
        slice_nal = b"\x65" + rbsp_escape(w.tobytes())
        return (
            b"\x00\x00\x00\x01" + build_sps(self.mb_w, self.mb_h)
            + b"\x00\x00\x00\x01" + build_pps()
            + b"\x00\x00\x00\x01" + slice_nal
        )
