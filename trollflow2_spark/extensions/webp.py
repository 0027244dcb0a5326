"""WebP lossless (VP8L) codec — from-scratch, stdlib + numpy.

The crawl-media tier decodes `image/webp` blobs for real: WebP is the
second-most-common image format in recent web crawls after JPEG, and
its lossless variant (VP8L, RFC 9649) is fully implementable without a
codec library — canonical prefix codes, LZ77 with a 2-D distance map,
a color cache, and four spatial transforms (predictor / color /
subtract-green / color-indexing). The reference pipeline delegates all
raster IO to rasterio/satpy (`/root/reference/trollflow2/plugins/
__init__.py:86-99`); this repo ships its own codecs so the Spark
executors need nothing beyond stdlib+numpy.

Decoder: the full VP8L feature set — all four transforms, meta prefix
codes (entropy image), color cache, LZ77 including the 120-entry
short-distance plane map. Conformance is pinned in
``tests/test_webp_conformance.py`` by decoding images produced by the
system ``libwebp`` (ctypes, test-only dependency, skipped when
absent) — that suite exercises every predictor mode, the color
transform, and the plane-coded distances on random and structured
images.

Encoder: literal + LZ77 + color-cache coding with canonical prefix
codes (simple two-symbol and full code-length-coded forms, including
the 16/17/18 repeat ops), optional subtract-green, fixed-mode
predictor, and palette (color-indexing, with sub-byte pixel bundling).
It emits a conservative but spec-valid stream; libwebp must decode it
bit-exactly (also pinned in the conformance suite).

Lossy VP8 keyframes decode through extensions/vp8.py (bit-exact YUV vs
libwebp), so both halves of the still format decode for real. VP8X containers
are walked to find the image chunk; animated files (ANIM/ANMF with lossless frames)
decode frame-by-frame via :func:`decode_webp_frames`, and the still
API returns the first frame.
"""

from __future__ import annotations

import struct

import numpy as np

# ---------------------------------------------------------------------------
# bit I/O — VP8L is LSB-first within bytes; prefix codes are read one
# bit at a time, first-read bit = MSB of the canonical code (deflate
# convention per RFC 9649 §3.4)


class _BitReader:
    __slots__ = ("data", "pos", "nbits")

    def __init__(self, data: bytes) -> None:
        self.data = data
        self.pos = 0  # bit position
        self.nbits = 8 * len(data)

    def read(self, n: int) -> int:
        if self.pos + n > self.nbits:
            raise ValueError("VP8L: bitstream overrun")
        v = 0
        p = self.pos
        data = self.data
        got = 0
        while got < n:
            byte = data[p >> 3]
            avail = 8 - (p & 7)
            take = min(avail, n - got)
            v |= ((byte >> (p & 7)) & ((1 << take) - 1)) << got
            got += take
            p += take
        self.pos = p
        return v

    def read_bit(self) -> int:
        if self.pos >= self.nbits:
            raise ValueError("VP8L: bitstream overrun")
        b = (self.data[self.pos >> 3] >> (self.pos & 7)) & 1
        self.pos += 1
        return b


class _BitWriter:
    __slots__ = ("buf", "cur", "nb")

    def __init__(self) -> None:
        self.buf = bytearray()
        self.cur = 0
        self.nb = 0

    def write(self, value: int, n: int) -> None:
        """LSB-first append of the low ``n`` bits of ``value``."""
        self.cur |= (value & ((1 << n) - 1)) << self.nb
        self.nb += n
        while self.nb >= 8:
            self.buf.append(self.cur & 0xFF)
            self.cur >>= 8
            self.nb -= 8

    def write_code(self, code: int, length: int) -> None:
        """Canonical prefix code: MSB of the code goes out first."""
        for i in range(length - 1, -1, -1):
            self.write((code >> i) & 1, 1)

    def bytes(self) -> bytes:
        out = bytearray(self.buf)
        if self.nb:
            out.append(self.cur & 0xFF)
        return bytes(out)


# ---------------------------------------------------------------------------
# canonical prefix codes (deflate assignment: codes increase with
# (length, symbol) order — RFC 1951 §3.2.2, referenced by RFC 9649)


def _canonical_codes(lengths) -> dict:
    """symbol -> (code, length) for nonzero lengths."""
    max_len = max(lengths) if len(lengths) else 0
    bl_count = [0] * (max_len + 1)
    for ln in lengths:
        if ln:
            bl_count[ln] += 1
    code = 0
    next_code = [0] * (max_len + 1)
    for bits in range(1, max_len + 1):
        code = (code + bl_count[bits - 1]) << 1
        next_code[bits] = code
    out = {}
    for sym, ln in enumerate(lengths):
        if ln:
            out[sym] = (next_code[ln], ln)
            next_code[ln] += 1
    return out


class _PrefixDecoder:
    """Bit-at-a-time canonical decoder. A 0-symbol or 1-symbol code
    consumes zero bits (VP8L simple code with one symbol)."""

    __slots__ = ("single", "map", "max_len")

    def __init__(self, lengths) -> None:
        nz = [s for s, ln in enumerate(lengths) if ln]
        if len(nz) == 0:
            raise ValueError("VP8L: empty prefix code")
        if len(nz) == 1:
            self.single = nz[0]
            self.map = None
            self.max_len = 0
            return
        self.single = None
        codes = _canonical_codes(lengths)
        self.map = {(ln, code): s for s, (code, ln) in codes.items()}
        self.max_len = max(ln for _s, (_c, ln) in codes.items())

    @classmethod
    def simple(cls, symbols) -> "_PrefixDecoder":
        self = cls.__new__(cls)
        if len(symbols) == 1:
            self.single = symbols[0]
            self.map = None
            self.max_len = 0
        else:
            self.single = None
            self.map = {(1, 0): symbols[0], (1, 1): symbols[1]}
            self.max_len = 1
        return self

    def decode(self, br: _BitReader) -> int:
        if self.single is not None:
            return self.single
        code = 0
        ln = 0
        m = self.map
        while ln < self.max_len:
            code = (code << 1) | br.read_bit()
            ln += 1
            s = m.get((ln, code))
            if s is not None:
                return s
        raise ValueError("VP8L: invalid prefix code")


def _huffman_lengths(freqs, max_len: int):
    """Length-limited Huffman code lengths (heap + rescale on
    overflow). ``freqs`` is a list over the alphabet; zeros excluded."""
    import heapq

    freqs = list(freqs)
    n = len(freqs)
    while True:
        heap = [(f, i, None, None) for i, f in enumerate(freqs) if f > 0]
        if not heap:
            return [0] * n
        if len(heap) == 1:
            out = [0] * n
            out[heap[0][1]] = 1
            return out
        heapq.heapify(heap)
        cnt = n
        while len(heap) > 1:
            a = heapq.heappop(heap)
            b = heapq.heappop(heap)
            heapq.heappush(heap, (a[0] + b[0], cnt, a, b))
            cnt += 1
        lengths = [0] * n
        stack = [(heap[0], 0)]
        deep = False
        while stack:
            node, d = stack.pop()
            if node[2] is None:
                if d > max_len:
                    deep = True
                    break
                lengths[node[1]] = max(d, 1)
            else:
                stack.append((node[2], d + 1))
                stack.append((node[3], d + 1))
        if not deep:
            return lengths
        freqs = [(f + 1) >> 1 if f > 0 else 0 for f in freqs]


# ---------------------------------------------------------------------------
# prefix-code (de)serialization — RFC 9649 §3.5

_CL_ORDER = (17, 18, 0, 1, 2, 3, 4, 5, 16, 6, 7, 8, 9, 10, 11, 12, 13, 14, 15)


def _read_prefix_code(br: _BitReader, alphabet: int) -> _PrefixDecoder:
    if br.read_bit():  # simple code
        num_symbols = br.read_bit() + 1
        first_8bits = br.read_bit()
        sym0 = br.read(8 if first_8bits else 1)
        syms = [sym0]
        if num_symbols == 2:
            syms.append(br.read(8))
        for s in syms:
            if s >= alphabet:
                raise ValueError("VP8L: simple-code symbol out of range")
        return _PrefixDecoder.simple(syms)
    # full: code-length code first
    num_cl = 4 + br.read(4)
    cl_lengths = [0] * 19
    for i in range(num_cl):
        cl_lengths[_CL_ORDER[i]] = br.read(3)
    cl_dec = _PrefixDecoder(cl_lengths)
    # optional cap on the number of CL symbols read
    if br.read_bit():
        length_nbits = 2 + 2 * br.read(3)
        max_symbols = 2 + br.read(length_nbits)
    else:
        max_symbols = alphabet
    lengths = [0] * alphabet
    prev_len = 8  # spec default before any nonzero length is seen
    sym = 0
    while sym < alphabet and max_symbols > 0:
        max_symbols -= 1
        cl = cl_dec.decode(br)
        if cl < 16:
            lengths[sym] = cl
            sym += 1
            if cl:
                prev_len = cl
        elif cl == 16:
            rep = 3 + br.read(2)
            for _ in range(rep):
                if sym >= alphabet:
                    break
                lengths[sym] = prev_len
                sym += 1
        elif cl == 17:
            sym += 3 + br.read(3)
        else:  # 18
            sym += 11 + br.read(7)
    if sym > alphabet:
        raise ValueError("VP8L: code lengths overflow alphabet")
    return _PrefixDecoder(lengths)


def _write_prefix_code(bw: _BitWriter, lengths) -> dict:
    """Emit a prefix code; returns symbol -> (code, length) for the
    subsequent data emission. Uses the simple form when possible,
    otherwise the full code-length-coded form with 16/17/18 repeats."""
    nz = [s for s, ln in enumerate(lengths) if ln]
    if 1 <= len(nz) <= 2 and all(s < 256 for s in nz):
        bw.write(1, 1)  # simple
        bw.write(len(nz) - 1, 1)
        if nz[0] <= 1:
            bw.write(0, 1)  # first symbol in 1 bit
            bw.write(nz[0], 1)
        else:
            bw.write(1, 1)
            bw.write(nz[0], 8)
        if len(nz) == 2:
            bw.write(nz[1], 8)
        if len(nz) == 1:
            return {nz[0]: (0, 0)}
        return {nz[0]: (0, 1), nz[1]: (1, 1)}
    bw.write(0, 1)  # full form
    # tokenize lengths into CL ops (literal / 16 / 17 / 18)
    n = len(lengths)
    ops = []
    prev_len = 8
    i = 0
    while i < n:
        ln = lengths[i]
        run = 1
        while i + run < n and lengths[i + run] == ln:
            run += 1
        consumed = run
        if ln == 0:
            r = run
            while r >= 3:
                take = min(r, 138)
                if take >= 11:
                    ops.append((18, take - 11, 7))
                else:
                    ops.append((17, take - 3, 3))
                r -= take
            for _ in range(r):
                ops.append((0, None, 0))
        else:
            r = run
            if ln != prev_len:
                ops.append((ln, None, 0))
                r -= 1
            prev_len = ln
            while r >= 3:
                take = min(r, 6)
                ops.append((16, take - 3, 2))
                r -= take
            for _ in range(r):
                ops.append((ln, None, 0))
        i += consumed
    # CL histogram + code; a 1-symbol CL code would be ambiguous
    # (0-bit vs 1-bit), so pad a second never-emitted CL symbol —
    # an unused nonzero code length is harmless
    cl_freq = [0] * 19
    for sym, _extra, _eb in ops:
        cl_freq[sym] += 1
    if sum(1 for f in cl_freq if f) == 1:
        only = next(s for s, f in enumerate(cl_freq) if f)
        cl_freq[(only + 1) % 19] = 1
    cl_lengths = _huffman_lengths(cl_freq, 7)
    num_cl = 19
    while num_cl > 4 and cl_lengths[_CL_ORDER[num_cl - 1]] == 0:
        num_cl -= 1
    bw.write(num_cl - 4, 4)
    for i in range(num_cl):
        bw.write(cl_lengths[_CL_ORDER[i]], 3)
    cl_codes = _canonical_codes(cl_lengths)
    bw.write(0, 1)  # no max-symbol cap
    for sym, extra, eb in ops:
        code, ln = cl_codes[sym]
        bw.write_code(code, ln)
        if eb:
            bw.write(extra, eb)
    return _canonical_codes(lengths)


# ---------------------------------------------------------------------------
# LZ77 prefix-coded values (RFC 9649 §3.6.2.2) and the short-distance map

def _lz77_value(br: _BitReader, code: int) -> int:
    if code < 4:
        return code + 1
    extra_bits = (code - 2) >> 1
    offset = (2 + (code & 1)) << extra_bits
    return offset + br.read(extra_bits) + 1


def _lz77_code(v: int):
    """value -> (prefix_code, extra_bits, extra_value); inverse of
    :func:`_lz77_value`."""
    if v <= 4:
        return v - 1, 0, 0
    x = v - 1
    hi = x.bit_length() - 1
    extra_bits = hi - 1
    second = (x >> extra_bits) & 1
    code = 2 * hi + second
    offset = (2 + second) << extra_bits
    return code, extra_bits, v - offset - 1


# the 120 short-distance plane codes: (dx, dy) neighbor offsets, index
# = distance_code - 1; dist = dy * xsize + dx (min 1). Table per
# RFC 9649 §3.6.2.3; conformance pinned against libwebp-encoded
# streams in tests/test_webp_conformance.py.
_DIST_MAP = (
    (0, 1), (1, 0), (1, 1), (-1, 1), (0, 2), (2, 0), (1, 2), (-1, 2),
    (2, 1), (-2, 1), (2, 2), (-2, 2), (0, 3), (3, 0), (1, 3), (-1, 3),
    (3, 1), (-3, 1), (2, 3), (-2, 3), (3, 2), (-3, 2), (0, 4), (4, 0),
    (1, 4), (-1, 4), (4, 1), (-4, 1), (3, 3), (-3, 3), (2, 4), (-2, 4),
    (4, 2), (-4, 2), (0, 5), (3, 4), (-3, 4), (4, 3), (-4, 3), (5, 0),
    (1, 5), (-1, 5), (5, 1), (-5, 1), (2, 5), (-2, 5), (5, 2), (-5, 2),
    (4, 4), (-4, 4), (3, 5), (-3, 5), (5, 3), (-5, 3), (0, 6), (6, 0),
    (1, 6), (-1, 6), (6, 1), (-6, 1), (2, 6), (-2, 6), (6, 2), (-6, 2),
    (4, 5), (-4, 5), (5, 4), (-5, 4), (3, 6), (-3, 6), (6, 3), (-6, 3),
    (0, 7), (7, 0), (1, 7), (-1, 7), (5, 5), (-5, 5), (7, 1), (-7, 1),
    (4, 6), (-4, 6), (6, 4), (-6, 4), (2, 7), (-2, 7), (7, 2), (-7, 2),
    (3, 7), (-3, 7), (7, 3), (-7, 3), (5, 6), (-5, 6), (6, 5), (-6, 5),
    (8, 0), (4, 7), (-4, 7), (7, 4), (-7, 4), (8, 1), (8, 2), (6, 6),
    (-6, 6), (2, 8), (-2, 8), (7, 5), (-7, 5), (5, 7), (-5, 7), (8, 3),
    (8, 4), (6, 7), (-6, 7), (7, 6), (-7, 6), (8, 5), (7, 7), (-7, 7),
    (8, 6), (8, 7),
)


def _plane_to_dist(code: int, xsize: int) -> int:
    if code > 120:
        return code - 120
    dx, dy = _DIST_MAP[code - 1]
    d = dy * xsize + dx
    return d if d >= 1 else 1


# ---------------------------------------------------------------------------
# color cache

_CACHE_MULT = 0x1E35A7BD


def _cache_key(argb: int, bits: int) -> int:
    return ((_CACHE_MULT * argb) & 0xFFFFFFFF) >> (32 - bits)


# ---------------------------------------------------------------------------
# entropy-coded image decode

_NUM_LENGTH_CODES = 24
_NUM_DIST_CODES = 40


def _div_round_up(a: int, b: int) -> int:
    return (a + b - 1) // b


def _decode_entropy_image(br: _BitReader, w: int, h: int, is_level0: bool):
    """Decode one spatially-coded image; returns a flat list of ARGB
    ints (row-major, length w*h)."""
    cache_bits = 0
    if br.read_bit():
        cache_bits = br.read(4)
        if not (1 <= cache_bits <= 11):
            raise ValueError("VP8L: invalid color-cache size")
    meta = None
    meta_bits = 0
    n_groups = 1
    if is_level0 and br.read_bit():
        meta_bits = br.read(3) + 2
        mw = _div_round_up(w, 1 << meta_bits)
        mh = _div_round_up(h, 1 << meta_bits)
        meta_img = _decode_entropy_image(br, mw, mh, False)
        meta = [((p >> 8) & 0xFFFF) for p in meta_img]  # (red<<8)|green
        n_groups = max(meta) + 1
    cache_size = (1 << cache_bits) if cache_bits else 0
    groups = []
    for _ in range(n_groups):
        green = _read_prefix_code(br, 256 + _NUM_LENGTH_CODES + cache_size)
        red = _read_prefix_code(br, 256)
        blue = _read_prefix_code(br, 256)
        alpha = _read_prefix_code(br, 256)
        dist = _read_prefix_code(br, _NUM_DIST_CODES)
        groups.append((green, red, blue, alpha, dist))
    cache = [0] * cache_size
    npix = w * h
    pix = [0] * npix
    pos = 0
    if meta is not None:
        mw = _div_round_up(w, 1 << meta_bits)
    while pos < npix:
        if meta is not None:
            x = pos % w
            y = pos // w
            g = groups[meta[(y >> meta_bits) * mw + (x >> meta_bits)]]
        else:
            g = groups[0]
        s = g[0].decode(br)
        if s < 256:
            r = g[1].decode(br)
            b = g[2].decode(br)
            a = g[3].decode(br)
            argb = (a << 24) | (r << 16) | (s << 8) | b
            pix[pos] = argb
            pos += 1
            if cache_bits:
                cache[_cache_key(argb, cache_bits)] = argb
        elif s < 256 + _NUM_LENGTH_CODES:
            length = _lz77_value(br, s - 256)
            dcode = g[4].decode(br)
            dval = _lz77_value(br, dcode)
            dist = _plane_to_dist(dval, w)
            if dist > pos:
                raise ValueError("VP8L: LZ77 distance before image start")
            if pos + length > npix:
                raise ValueError("VP8L: LZ77 copy past image end")
            for _ in range(length):
                argb = pix[pos - dist]
                pix[pos] = argb
                pos += 1
                if cache_bits:
                    cache[_cache_key(argb, cache_bits)] = argb
        else:
            pix[pos] = cache[s - 256 - _NUM_LENGTH_CODES]
            pos += 1
    return pix


# ---------------------------------------------------------------------------
# transforms (inverse, decode side) — vectorized where the data allows

def _split_argb(pix, w, h):
    a = np.asarray(pix, dtype=np.uint32).reshape(h, w)
    return (
        (a >> 24).astype(np.int32),
        ((a >> 16) & 0xFF).astype(np.int32),
        ((a >> 8) & 0xFF).astype(np.int32),
        (a & 0xFF).astype(np.int32),
    )


def _join_argb(a, r, g, b):
    return (
        (a.astype(np.uint32) << 24)
        | ((r.astype(np.uint32) & 0xFF) << 16)
        | ((g.astype(np.uint32) & 0xFF) << 8)
        | (b.astype(np.uint32) & 0xFF)
    )


def _inv_subtract_green(a, r, g, b):
    return a, (r + g) & 0xFF, g, (b + g) & 0xFF


def _s8(x):
    """Interpret 0..255 ints as signed int8 (vectorized)."""
    return np.where(x >= 128, x - 256, x)


def _color_delta(t, c):
    """ColorTransformDelta: (int8)t * (int8)c >> 5, floor shift."""
    return (_s8(t & 0xFF) * _s8(c & 0xFF)) >> 5


def _inv_color_transform(a, r, g, b, cte, size_bits, w, h):
    bw = _div_round_up(w, 1 << size_bits)
    cte_arr = np.asarray(cte, dtype=np.uint32).reshape(-1, bw)
    ys = np.arange(h) >> size_bits
    xs = np.arange(w) >> size_bits
    blocks = cte_arr[np.ix_(ys, xs)]
    g2r = (blocks) & 0xFF
    g2b = (blocks >> 8) & 0xFF
    r2b = (blocks >> 16) & 0xFF
    new_r = (r + _color_delta(g2r, g)) & 0xFF
    new_b = (b + _color_delta(g2b, g) + _color_delta(r2b, new_r)) & 0xFF
    return a, new_r, g, new_b


def _avg2(p, q):
    return (p + q) >> 1


def _predict(mode, L, T, TL, TR):
    """Single-pixel prediction on 4-int channel tuples (a, r, g, b)."""
    if mode == 0:
        return (0xFF, 0, 0, 0)
    if mode == 1:
        return L
    if mode == 2:
        return T
    if mode == 3:
        return TR
    if mode == 4:
        return TL
    if mode == 5:
        return tuple(_avg2(_avg2(L[i], TR[i]), T[i]) for i in range(4))
    if mode == 6:
        return tuple(_avg2(L[i], TL[i]) for i in range(4))
    if mode == 7:
        return tuple(_avg2(L[i], T[i]) for i in range(4))
    if mode == 8:
        return tuple(_avg2(TL[i], T[i]) for i in range(4))
    if mode == 9:
        return tuple(_avg2(T[i], TR[i]) for i in range(4))
    if mode == 10:
        return tuple(
            _avg2(_avg2(L[i], TL[i]), _avg2(T[i], TR[i])) for i in range(4)
        )
    if mode == 11:  # Select
        p_l = sum(abs(T[i] - TL[i]) for i in range(4))
        p_t = sum(abs(L[i] - TL[i]) for i in range(4))
        return L if p_l < p_t else T
    if mode == 12:  # ClampAddSubtractFull
        return tuple(
            min(255, max(0, L[i] + T[i] - TL[i])) for i in range(4)
        )
    if mode == 13:  # ClampAddSubtractHalf
        out = []
        for i in range(4):
            ave = _avg2(L[i], T[i])
            d = ave - TL[i]
            # C truncation toward zero of (ave - TL) / 2
            v = ave + (d // 2 if d >= 0 else -((-d) // 2))
            out.append(min(255, max(0, v)))
        return tuple(out)
    raise ValueError(f"VP8L: invalid predictor mode {mode}")


def _inv_predictor(pix, modes, size_bits, w, h):
    """Inverse predictor transform, scalar raster scan (prediction is
    inherently sequential). ``pix`` is the flat residual ARGB list,
    mutated in place into final pixels."""
    bw = _div_round_up(w, 1 << size_bits)

    def ch(argb):
        return (
            (argb >> 24) & 0xFF,
            (argb >> 16) & 0xFF,
            (argb >> 8) & 0xFF,
            argb & 0xFF,
        )

    for pos in range(w * h):
        x = pos % w
        y = pos // w
        if x == 0 and y == 0:
            pred = (0xFF, 0, 0, 0)
        elif y == 0:
            pred = ch(pix[pos - 1])  # top row: left
        elif x == 0:
            pred = ch(pix[pos - w])  # left column: top
        else:
            mode = (modes[(y >> size_bits) * bw + (x >> size_bits)] >> 8) & 0xFF
            L = ch(pix[pos - 1])
            T = ch(pix[pos - w])
            TL = ch(pix[pos - w - 1])
            # top-right of the last column is the CURRENT row's first
            # pixel (pos - w + 1 wraps the row boundary) — libwebp's
            # contiguous-row layout made this the de facto spec
            TR = ch(pix[pos - w + 1])
            pred = _predict(mode, L, T, TL, TR)
        res = ch(pix[pos])
        pix[pos] = (
            (((res[0] + pred[0]) & 0xFF) << 24)
            | (((res[1] + pred[1]) & 0xFF) << 16)
            | (((res[2] + pred[2]) & 0xFF) << 8)
            | ((res[3] + pred[3]) & 0xFF)
        )


def _apply_color_indexing(pix, palette, width_bits, w, h, packed_w):
    n_colors = len(palette)
    out = [0] * (w * h)
    if width_bits == 0:
        for pos in range(w * h):
            idx = (pix[pos] >> 8) & 0xFF
            out[pos] = palette[idx] if idx < n_colors else 0
        return out
    per = 1 << width_bits
    bits = 8 >> width_bits
    mask = (1 << bits) - 1
    for y in range(h):
        for px in range(packed_w):
            green = (pix[y * packed_w + px] >> 8) & 0xFF
            for k in range(per):
                x = px * per + k
                if x >= w:
                    break
                idx = (green >> (k * bits)) & mask
                out[y * w + x] = palette[idx] if idx < n_colors else 0
    return out


# ---------------------------------------------------------------------------
# top-level decode

def decode_webp(data: bytes) -> np.ndarray:
    """Decode a WebP blob as a still image. Lossless (VP8L) streams
    decode for real; an ANIMATED lossless file yields its FIRST frame
    (the still-decode convention for the crawl route — use
    :func:`decode_webp_frames` for the full sequence); lossy VP8 raises
    with guidance. Returns (h, w, 3) uint8 when fully opaque, else
    (h, w, 4)."""
    if len(data) < 12 or data[:4] != b"RIFF" or data[8:12] != b"WEBP":
        raise ValueError("not a WebP (RIFF/WEBP) stream")
    pos = 12
    while pos + 8 <= len(data):
        tag = data[pos:pos + 4]
        size = struct.unpack("<I", data[pos + 4:pos + 8])[0]
        payload = data[pos + 8:pos + 8 + size]
        if tag == b"VP8L":
            return _decode_vp8l(payload)
        if tag == b"VP8 ":
            return _decode_vp8_rgb(payload)
        if tag == b"ANMF":
            if len(payload) < 16:
                raise ValueError("truncated ANMF header")
            sub = payload[16:]
            if sub[:4] == b"VP8L":
                ssize = struct.unpack("<I", sub[4:8])[0]
                return _decode_vp8l(sub[8:8 + ssize])
            if sub[:4] == b"VP8 ":
                ssize = struct.unpack("<I", sub[4:8])[0]
                return _decode_vp8_rgb(sub[8:8 + ssize])
        pos += 8 + size + (size & 1)  # chunks are even-padded
    raise ValueError("WebP container has no decodable image chunk")


def _decode_vp8_rgb(payload: bytes) -> np.ndarray:
    """Lossy VP8 keyframe -> RGB through the repo's from-scratch VP8
    decoder (:mod:`trollflow2_spark.extensions.vp8`, bit-exact YUV vs
    libwebp). Chroma upsamples by sample replication and converts with
    the BT.601 studio-swing integer matrix — deterministic and
    SQL-replayable, matching libwebp's "simple" (non-fancy) mode in
    spirit; the YUV planes themselves are the conformance surface.
    Returns (h, w, 3) uint8."""
    from trollflow2_spark.extensions.vp8 import decode_vp8

    y, u, v = decode_vp8(payload)
    h, w = y.shape
    u2 = np.repeat(np.repeat(u, 2, axis=0), 2, axis=1)[:h, :w]
    v2 = np.repeat(np.repeat(v, 2, axis=0), 2, axis=1)[:h, :w]
    yy = 298 * (y.astype(np.int32) - 16)
    cu = u2.astype(np.int32) - 128
    cv = v2.astype(np.int32) - 128
    r = (yy + 409 * cv + 128) >> 8
    g = (yy - 100 * cu - 208 * cv + 128) >> 8
    b = (yy + 516 * cu + 128) >> 8
    return np.clip(np.stack([r, g, b], axis=2), 0, 255).astype(np.uint8)


_T_PREDICTOR = 0
_T_COLOR = 1
_T_SUBTRACT_GREEN = 2
_T_COLOR_INDEXING = 3


def _decode_vp8l(data: bytes) -> np.ndarray:
    if not data or data[0] != 0x2F:
        raise ValueError("bad VP8L signature")
    br = _BitReader(data)
    br.pos = 8
    w = br.read(14) + 1
    h = br.read(14) + 1
    _alpha_hint = br.read_bit()
    version = br.read(3)
    if version != 0:
        raise ValueError(f"unsupported VP8L version {version}")

    transforms = []  # (type, payload...)
    cur_w = w
    seen = set()
    while br.read_bit():
        t = br.read(2)
        if t in seen:
            raise ValueError("VP8L: duplicate transform")
        seen.add(t)
        if t == _T_PREDICTOR or t == _T_COLOR:
            size_bits = br.read(3) + 2
            sw = _div_round_up(cur_w, 1 << size_bits)
            sh = _div_round_up(h, 1 << size_bits)
            sub = _decode_entropy_image(br, sw, sh, False)
            transforms.append((t, size_bits, sub))
        elif t == _T_SUBTRACT_GREEN:
            transforms.append((t,))
        else:  # color indexing
            n_colors = br.read(8) + 1
            pal_img = _decode_entropy_image(br, n_colors, 1, False)
            # palette entries are delta-coded per channel
            palette = []
            prev = 0
            for p in pal_img:
                cur = (
                    (((p >> 24) + (prev >> 24)) & 0xFF) << 24
                    | ((((p >> 16) & 0xFF) + ((prev >> 16) & 0xFF)) & 0xFF) << 16
                    | ((((p >> 8) & 0xFF) + ((prev >> 8) & 0xFF)) & 0xFF) << 8
                    | (((p & 0xFF) + (prev & 0xFF)) & 0xFF)
                )
                palette.append(cur)
                prev = cur
            if n_colors <= 2:
                width_bits = 3
            elif n_colors <= 4:
                width_bits = 2
            elif n_colors <= 16:
                width_bits = 1
            else:
                width_bits = 0
            transforms.append((t, width_bits, palette, cur_w))
            cur_w = _div_round_up(cur_w, 1 << width_bits)

    pix = _decode_entropy_image(br, cur_w, h, True)

    # inverse transforms in reverse order of appearance
    for tr in reversed(transforms):
        if tr[0] == _T_COLOR_INDEXING:
            _t, width_bits, palette, orig_w = tr
            pix = _apply_color_indexing(
                pix, palette, width_bits, orig_w, h, cur_w
            )
            cur_w = orig_w
        elif tr[0] == _T_PREDICTOR:
            _inv_predictor(pix, tr[2], tr[1], cur_w, h)
        elif tr[0] == _T_COLOR:
            a, r, g, b = _split_argb(pix, cur_w, h)
            a, r, g, b = _inv_color_transform(
                a, r, g, b, tr[2], tr[1], cur_w, h
            )
            pix = _join_argb(a, r, g, b).ravel().tolist()
        else:  # subtract green
            a, r, g, b = _split_argb(pix, cur_w, h)
            a, r, g, b = _inv_subtract_green(a, r, g, b)
            pix = _join_argb(a, r, g, b).ravel().tolist()

    arr = np.asarray(pix, dtype=np.uint32).reshape(h, w)
    a = (arr >> 24).astype(np.uint8)
    r = ((arr >> 16) & 0xFF).astype(np.uint8)
    g = ((arr >> 8) & 0xFF).astype(np.uint8)
    b = (arr & 0xFF).astype(np.uint8)
    if bool((a == 255).all()):
        return np.stack([r, g, b], axis=-1)
    return np.stack([r, g, b, a], axis=-1)


# ---------------------------------------------------------------------------
# encoder

def _forward_subtract_green(a, r, g, b):
    return a, (r - g) & 0xFF, g, (b - g) & 0xFF


def encode_webp_lossless(
    arr: np.ndarray,
    use_subtract_green: bool = True,
    use_lz77: bool = True,
    cache_bits: int = 0,
    predictor_mode: int | None = None,
    use_palette: bool = False,
) -> bytes:
    """Encode an image as lossless WebP (VP8L). ``arr`` is uint8 with
    shape (h, w) gray, (h, w, 3) RGB, or (h, w, 4) RGBA.

    A conservative but spec-valid encoder: literals + same-distance
    LZ77 runs (direct distance codes) + optional color cache, canonical
    prefix codes (simple or full code-length-coded with repeat ops),
    and optional subtract-green / fixed-mode predictor / palette
    transforms. ``predictor_mode`` applies one predictor uniformly
    (block size 16); ``use_palette`` color-indexes when the image has
    <= 256 distinct colors (with sub-byte bundling for tiny palettes).
    """
    arr = np.asarray(arr)
    if arr.ndim == 2:
        arr = np.stack([arr] * 3, axis=-1)
    h, w = arr.shape[:2]
    if not (1 <= w <= 1 << 14 and 1 <= h <= 1 << 14):
        raise ValueError("VP8L dimensions must be 1..16384")
    if arr.shape[2] == 3:
        a_ch = np.full((h, w), 255, dtype=np.int64)
    else:
        a_ch = arr[:, :, 3].astype(np.int64)
    r_ch = arr[:, :, 0].astype(np.int64)
    g_ch = arr[:, :, 1].astype(np.int64)
    b_ch = arr[:, :, 2].astype(np.int64)
    alpha_used = bool((a_ch != 255).any())

    bw = _BitWriter()
    bw.write(0x2F, 8)
    bw.write(w - 1, 14)
    bw.write(h - 1, 14)
    bw.write(1 if alpha_used else 0, 1)
    bw.write(0, 3)  # version

    argb = (
        (a_ch.astype(np.uint32) << 24)
        | (r_ch.astype(np.uint32) << 16)
        | (g_ch.astype(np.uint32) << 8)
        | b_ch.astype(np.uint32)
    )

    cur_w = w
    if use_palette:
        flat = argb.ravel()
        colors = np.unique(flat)
        if len(colors) > 256:
            raise ValueError("use_palette requires <= 256 distinct colors")
        n_colors = len(colors)
        lut = {int(c): i for i, c in enumerate(colors)}
        idx = np.array([lut[int(p)] for p in flat], dtype=np.int64).reshape(h, w)
        if n_colors <= 2:
            width_bits = 3
        elif n_colors <= 4:
            width_bits = 2
        elif n_colors <= 16:
            width_bits = 1
        else:
            width_bits = 0
        bw.write(1, 1)
        bw.write(_T_COLOR_INDEXING, 2)
        bw.write(n_colors - 1, 8)
        # delta-coded palette as a 1-high entropy image
        deltas = []
        prev = 0
        for c in colors:
            c = int(c)
            d = (
                ((((c >> 24) - (prev >> 24)) & 0xFF) << 24)
                | (((((c >> 16) & 0xFF) - ((prev >> 16) & 0xFF)) & 0xFF) << 16)
                | (((((c >> 8) & 0xFF) - ((prev >> 8) & 0xFF)) & 0xFF) << 8)
                | ((((c & 0xFF) - (prev & 0xFF)) & 0xFF))
            )
            deltas.append(d)
            prev = c
        _encode_entropy_image(bw, deltas, n_colors, 1, is_level0=False,
                              use_lz77=False, cache_bits=0)
        # bundle indices into packed green bytes
        if width_bits:
            per = 1 << width_bits
            bits = 8 >> width_bits
            packed_w = _div_round_up(w, per)
            packed = np.zeros((h, packed_w), dtype=np.uint32)
            for k in range(per):
                cols = np.arange(packed_w) * per + k
                valid = cols < w
                packed[:, valid] |= (
                    idx[:, cols[valid]].astype(np.uint32) << (k * bits)
                )
            argb = (np.uint32(0xFF) << 24) | (packed << 8)
            cur_w = packed_w
        else:
            argb = (np.uint32(0xFF) << 24) | (idx.astype(np.uint32) << 8)
        pix = argb.ravel().tolist()
        bw.write(0, 1)  # end of transforms
        _encode_entropy_image(bw, pix, cur_w, h, is_level0=True,
                              use_lz77=use_lz77, cache_bits=cache_bits)
        return _riff_wrap(bw.bytes())

    if predictor_mode is not None:
        size_bits = 4  # 16x16 blocks
        bw.write(1, 1)
        bw.write(_T_PREDICTOR, 2)
        bw.write(size_bits - 2, 3)
        sw = _div_round_up(cur_w, 1 << size_bits)
        sh = _div_round_up(h, 1 << size_bits)
        mode_pix = [0xFF000000 | (predictor_mode << 8)] * (sw * sh)
        _encode_entropy_image(bw, mode_pix, sw, sh, is_level0=False,
                              use_lz77=False, cache_bits=0)
        # forward predictor: residual = pixel - prediction (per channel,
        # mod 256), same border rules as the inverse
        flat = argb.ravel().tolist()
        res = [0] * (cur_w * h)

        def ch(v):
            return ((v >> 24) & 0xFF, (v >> 16) & 0xFF,
                    (v >> 8) & 0xFF, v & 0xFF)

        for pos in range(cur_w * h):
            x = pos % cur_w
            y = pos // cur_w
            if x == 0 and y == 0:
                pred = (0xFF, 0, 0, 0)
            elif y == 0:
                pred = ch(flat[pos - 1])
            elif x == 0:
                pred = ch(flat[pos - cur_w])
            else:
                L = ch(flat[pos - 1])
                T = ch(flat[pos - cur_w])
                TL = ch(flat[pos - cur_w - 1])
                TR = ch(flat[pos - cur_w + 1])  # row-wrap: see inverse
                pred = _predict(predictor_mode, L, T, TL, TR)
            p = ch(flat[pos])
            res[pos] = (
                (((p[0] - pred[0]) & 0xFF) << 24)
                | (((p[1] - pred[1]) & 0xFF) << 16)
                | (((p[2] - pred[2]) & 0xFF) << 8)
                | ((p[3] - pred[3]) & 0xFF)
            )
        pix = res
        if use_subtract_green:
            a, r, g, b = _split_argb(pix, cur_w, h)
            a, r, g, b = _forward_subtract_green(a, r, g, b)
            pix_arr = _join_argb(a, r, g, b)
            pix = pix_arr.ravel().tolist()
            bw.write(1, 1)
            bw.write(_T_SUBTRACT_GREEN, 2)
        bw.write(0, 1)
        _encode_entropy_image(bw, pix, cur_w, h, is_level0=True,
                              use_lz77=use_lz77, cache_bits=cache_bits)
        return _riff_wrap(bw.bytes())

    if use_subtract_green:
        a, r, g, b = _split_argb(argb.ravel().tolist(), cur_w, h)
        a, r, g, b = _forward_subtract_green(a, r, g, b)
        argb = _join_argb(a, r, g, b)
        bw.write(1, 1)
        bw.write(_T_SUBTRACT_GREEN, 2)
    bw.write(0, 1)  # end of transforms
    pix = argb.ravel().tolist()
    _encode_entropy_image(bw, pix, cur_w, h, is_level0=True,
                          use_lz77=use_lz77, cache_bits=cache_bits)
    return _riff_wrap(bw.bytes())


def _riff_wrap(payload: bytes) -> bytes:
    if len(payload) & 1:
        chunk = payload + b"\x00"
    else:
        chunk = payload
    riff_size = 4 + 8 + len(chunk)
    return (
        b"RIFF"
        + struct.pack("<I", riff_size)
        + b"WEBP"
        + b"VP8L"
        + struct.pack("<I", len(payload))
        + chunk
    )


def _tokenize(pix, use_lz77: bool, cache_bits: int):
    """Greedy tokenizer: (op, ...) stream where op is 'lit' (argb),
    'copy' (length, dist) with direct distance codes, or 'cache'
    (index). LZ77 tries distance 1 (horizontal run) only — enough to
    exercise the copy loop; real compression ratios are not the goal
    of this encoder."""
    n = len(pix)
    toks = []
    cache = [None] * (1 << cache_bits) if cache_bits else None
    pos = 0
    while pos < n:
        if use_lz77 and pos > 0 and pix[pos] == pix[pos - 1]:
            run = 1
            while pos + run < n and pix[pos + run] == pix[pos - 1] and run < 4096:
                run += 1
            if run >= 3:
                toks.append(("copy", run, 1))
                if cache is not None:
                    for k in range(run):
                        v = pix[pos + k]
                        cache[_cache_key(v, cache_bits)] = v
                pos += run
                continue
        v = pix[pos]
        if cache is not None:
            key = _cache_key(v, cache_bits)
            if cache[key] == v:
                toks.append(("cache", key))
                pos += 1
                continue
            cache[key] = v
        toks.append(("lit", v))
        pos += 1
    return toks


def _encode_entropy_image(
    bw: _BitWriter,
    pix,
    w: int,
    h: int,
    is_level0: bool,
    use_lz77: bool,
    cache_bits: int,
) -> None:
    if cache_bits:
        bw.write(1, 1)
        bw.write(cache_bits, 4)
    else:
        bw.write(0, 1)
    if is_level0:
        bw.write(0, 1)  # no meta prefix codes
    toks = _tokenize(pix, use_lz77, cache_bits)
    cache_size = (1 << cache_bits) if cache_bits else 0
    gf = [0] * (256 + _NUM_LENGTH_CODES + cache_size)
    rf = [0] * 256
    bf = [0] * 256
    af = [0] * 256
    df = [0] * _NUM_DIST_CODES
    for t in toks:
        if t[0] == "lit":
            v = t[1]
            gf[(v >> 8) & 0xFF] += 1
            rf[(v >> 16) & 0xFF] += 1
            bf[v & 0xFF] += 1
            af[(v >> 24) & 0xFF] += 1
        elif t[0] == "copy":
            lcode, _eb, _ev = _lz77_code(t[1])
            gf[256 + lcode] += 1
            dcode, _deb, _dev = _lz77_code(t[2] + 120)
            df[dcode] += 1
        else:
            gf[256 + _NUM_LENGTH_CODES + t[1]] += 1
    # every code must be present in the stream; give empty ones a
    # 1-symbol code on symbol 0. A full-form code with ONE used symbol
    # >= 256 would be 0-bit/1-bit ambiguous — pad symbol 0 so the full
    # form always carries >= 2 symbols.
    for f in (gf, rf, bf, af, df):
        if not any(f):
            f[0] = 1
    nz_g = [s for s, v in enumerate(gf) if v]
    if len(nz_g) == 1 and nz_g[0] >= 256:
        gf[0] = 1
    codes = []
    for f in (gf, rf, bf, af, df):
        lengths = _huffman_lengths(f, 15)
        codes.append(_write_prefix_code(bw, lengths))
    gc, rc, bc, ac, dc = codes

    def put(cmap, sym):
        code, ln = cmap[sym]
        bw.write_code(code, ln)

    for t in toks:
        if t[0] == "lit":
            v = t[1]
            put(gc, (v >> 8) & 0xFF)
            put(rc, (v >> 16) & 0xFF)
            put(bc, v & 0xFF)
            put(ac, (v >> 24) & 0xFF)
        elif t[0] == "copy":
            lcode, leb, lev = _lz77_code(t[1])
            put(gc, 256 + lcode)
            if leb:
                bw.write(lev, leb)
            dcode, deb, dev = _lz77_code(t[2] + 120)
            put(dc, dcode)
            if deb:
                bw.write(dev, deb)
        else:
            put(gc, 256 + _NUM_LENGTH_CODES + t[1])


# ---------------------------------------------------------------------------
# animated WebP (VP8X + ANIM/ANMF containers, lossless frames)

_VP8X_ANIM_FLAG = 0x02


def encode_webp_animation(frames, durations_ms=None, **encode_kw) -> bytes:
    """Encode a list of uint8 frame arrays (equal shapes) as an
    animated WebP: VP8X (animation flag) + ANIM + one ANMF per frame,
    each carrying a lossless VP8L payload from
    :func:`encode_webp_lossless`. Frame offsets are 0 and disposal is
    "none" — every frame is a full canvas (the deterministic-pipeline
    choice: sampled frames decode independently)."""
    if not frames:
        raise ValueError("need at least one frame")
    first = np.asarray(frames[0])
    h, w = first.shape[:2]
    if durations_ms is None:
        durations_ms = [100] * len(frames)
    chunks = []
    vp8x = bytes([_VP8X_ANIM_FLAG, 0, 0, 0]) + struct.pack(
        "<I", w - 1
    )[:3] + struct.pack("<I", h - 1)[:3]
    chunks.append(b"VP8X" + struct.pack("<I", len(vp8x)) + vp8x)
    anim = struct.pack("<I", 0) + struct.pack("<H", 0)  # bg, loop=inf
    chunks.append(b"ANIM" + struct.pack("<I", len(anim)) + anim)
    for arr, dur in zip(frames, durations_ms):
        arr = np.asarray(arr)
        fh, fw = arr.shape[:2]
        if (fh, fw) != (h, w):
            raise ValueError("all frames must share the canvas shape")
        inner = encode_webp_lossless(arr, **encode_kw)
        # strip the RIFF wrapper down to the VP8L chunk
        vp8l_chunk = inner[12:]
        anmf = (
            b"\x00\x00\x00"  # frame x / 2
            + b"\x00\x00\x00"  # frame y / 2
            + struct.pack("<I", fw - 1)[:3]
            + struct.pack("<I", fh - 1)[:3]
            + struct.pack("<I", int(dur))[:3]
            + b"\x00"  # no blend, dispose-none
            + vp8l_chunk
        )
        if len(anmf) & 1:
            pad = b"\x00"
        else:
            pad = b""
        chunks.append(b"ANMF" + struct.pack("<I", len(anmf)) + anmf + pad)
    body = b"WEBP" + b"".join(chunks)
    return b"RIFF" + struct.pack("<I", len(body)) + body


def decode_webp_frames(data: bytes) -> list:
    """Decode every frame of a WebP blob: a plain lossless still yields
    one frame; a VP8X animation yields one array per ANMF (lossless
    payloads only — lossy VP8 frames raise, as in :func:`decode_webp`)."""
    if len(data) < 12 or data[:4] != b"RIFF" or data[8:12] != b"WEBP":
        raise ValueError("not a WebP (RIFF/WEBP) stream")
    frames = []
    pos = 12
    while pos + 8 <= len(data):
        tag = data[pos:pos + 4]
        size = struct.unpack("<I", data[pos + 4:pos + 8])[0]
        payload = data[pos + 8:pos + 8 + size]
        if tag == b"VP8L":
            return [_decode_vp8l(payload)]
        if tag == b"VP8 ":
            return [_decode_vp8_rgb(payload)]
        if tag == b"ANMF":
            if len(payload) < 16:
                raise ValueError("truncated ANMF header")
            sub = payload[16:]
            if sub[:4] == b"VP8L":
                ssize = struct.unpack("<I", sub[4:8])[0]
                frames.append(_decode_vp8l(sub[8:8 + ssize]))
            elif sub[:4] == b"VP8 ":
                ssize = struct.unpack("<I", sub[4:8])[0]
                frames.append(_decode_vp8_rgb(sub[8:8 + ssize]))
            else:
                raise ValueError("ANMF without an image subchunk")
        pos += 8 + size + (size & 1)
    if not frames:
        raise ValueError("WebP container has no decodable frames")
    return frames
