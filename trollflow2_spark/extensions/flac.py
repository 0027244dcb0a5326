"""FLAC (Free Lossless Audio Codec) codec, stdlib + numpy only.

From-scratch implementation of the public format spec (RFC 9639 /
xiph.org), the one modern compressed media format that is feasible
without external codec libraries — and, being lossless, the one whose
round-trip can be oracle-checked EXACTLY (unlike JPEG's tolerance
tests). Companion to the repo's other from-scratch codecs
(:mod:`trollflow2_spark.extensions.jpeg`, ``imagery``); reference parity:
the trollflow2 reference delegates all media IO to rasterio/satpy
(``/root/reference/trollflow2/plugins/__init__.py:86-99``) and ships no
codec of its own.

Decoder coverage: STREAMINFO + metadata-block skipping, fixed- and
variable-blocksize frames, all four channel assignments (independent,
left/side, right/side, mid/side), CONSTANT / VERBATIM / FIXED(0-4) /
LPC(1-32) subframes, wasted bits, 4- and 5-bit Rice partitions with
escape codes, CRC-8 and CRC-16 verification. Encoder emits fixed
predictors (order chosen per block by residual magnitude) with
single-partition Rice residuals — enough to exercise every decoder path
the tests pin.
"""

from __future__ import annotations

import struct

import numpy as np

_CRC8_POLY = 0x07
_CRC16_POLY = 0x8005


def _crc_table(poly: int, width: int) -> list[int]:
    top = 1 << (width - 1)
    mask = (1 << width) - 1
    table = []
    for b in range(256):
        r = b << (width - 8)
        for _ in range(8):
            r = ((r << 1) ^ poly) & mask if r & top else (r << 1) & mask
        table.append(r)
    return table


_CRC8_TABLE = _crc_table(_CRC8_POLY, 8)
_CRC16_TABLE = _crc_table(_CRC16_POLY, 16)


def _crc8(data: bytes) -> int:
    r = 0
    for b in data:
        r = _CRC8_TABLE[r ^ b]
    return r


def _crc16(data: bytes) -> int:
    r = 0
    for b in data:
        r = ((r << 8) & 0xFFFF) ^ _CRC16_TABLE[((r >> 8) ^ b) & 0xFF]
    return r


class _BitWriter:
    def __init__(self) -> None:
        self.buf = bytearray()
        self.acc = 0
        self.n = 0

    def write(self, value: int, bits: int) -> None:
        if bits == 0:
            return
        self.acc = (self.acc << bits) | (value & ((1 << bits) - 1))
        self.n += bits
        while self.n >= 8:
            self.n -= 8
            self.buf.append((self.acc >> self.n) & 0xFF)
        self.acc &= (1 << self.n) - 1

    def write_unary(self, q: int) -> None:
        while q >= 32:
            self.write(0, 32)
            q -= 32
        self.write(1, q + 1)  # q zeros then a 1

    def align(self) -> None:
        if self.n:
            self.write(0, 8 - self.n)

    def bytes(self) -> bytes:
        assert self.n == 0
        return bytes(self.buf)


class _BitReader:
    def __init__(self, data: bytes, pos: int = 0) -> None:
        self.data = data
        self.pos = pos  # byte position of next unread byte
        self.acc = 0
        self.n = 0

    def read(self, bits: int) -> int:
        while self.n < bits:
            if self.pos >= len(self.data):
                raise ValueError("truncated FLAC bitstream")
            self.acc = (self.acc << 8) | self.data[self.pos]
            self.pos += 1
            self.n += 8
        self.n -= bits
        v = (self.acc >> self.n) & ((1 << bits) - 1)
        self.acc &= (1 << self.n) - 1
        return v

    def read_signed(self, bits: int) -> int:
        v = self.read(bits)
        return v - (1 << bits) if v >= (1 << (bits - 1)) else v

    def read_unary(self) -> int:
        q = 0
        while self.read(1) == 0:
            q += 1
        return q

    def align(self) -> None:
        self.n = 0
        self.acc = 0

    def byte_pos(self) -> int:
        assert self.n % 8 == 0
        return self.pos - self.n // 8


# fixed predictor coefficients by order: residual = s[i] - prediction
_FIXED_COEFS = {
    0: [],
    1: [1],
    2: [2, -1],
    3: [3, -3, 1],
    4: [4, -6, 4, -1],
}


def _utf8_number(n: int) -> bytes:
    """FLAC's UTF-8-style coded number (frame/sample index). An
    ``nbytes``-long sequence carries ``(7 - nbytes) + 6*(nbytes - 1)``
    payload bits (= ``5*nbytes + 1``)."""
    if n < 0x80:
        return bytes([n])
    nbytes = 2
    while n.bit_length() > 5 * nbytes + 1:
        nbytes += 1
    head = (0xFF00 >> nbytes) & 0xFF
    shift = 6 * (nbytes - 1)
    out = [head | (n >> shift)]
    for _ in range(nbytes - 1):
        shift -= 6
        out.append(0x80 | ((n >> shift) & 0x3F))
    return bytes(out)


def _read_utf8_number(br: _BitReader) -> int:
    first = br.read(8)
    if first < 0x80:
        return first
    nbytes = 0
    probe = first
    while probe & 0x80:
        nbytes += 1
        probe = (probe << 1) & 0xFF
    if nbytes < 2 or nbytes > 7:
        raise ValueError("bad UTF-8 coded number in frame header")
    n = first & (0x7F >> nbytes)
    for _ in range(nbytes - 1):
        b = br.read(8)
        if (b & 0xC0) != 0x80:
            raise ValueError("bad UTF-8 continuation in frame header")
        n = (n << 6) | (b & 0x3F)
    return n


_SAMPLE_SIZE_CODES = {8: 0b001, 12: 0b010, 16: 0b100, 20: 0b101, 24: 0b110}
_SAMPLE_SIZES = {v: k for k, v in _SAMPLE_SIZE_CODES.items()}


def encode_flac(
    samples: np.ndarray,
    sample_rate: int = 44100,
    bits_per_sample: int = 16,
    block_size: int = 4096,
    subframe: str = "fixed",
) -> bytes:
    """Encode ``samples`` — int array of shape (n_frames,) mono or
    (n_frames, n_channels) — as a FLAC stream. ``subframe`` picks the
    encoding strategy: ``"fixed"`` (per-block best fixed predictor 0-4
    with one-partition Rice residuals, plus CONSTANT for flat blocks)
    or ``"verbatim"`` (raw samples; no prediction)."""
    s = np.asarray(samples)
    if s.ndim == 1:
        s = s[:, None]
    if s.ndim != 2 or s.shape[1] > 8:
        raise ValueError("samples must be (frames,) or (frames, channels<=8)")
    if bits_per_sample not in _SAMPLE_SIZE_CODES:
        raise ValueError(f"bits_per_sample must be one of {sorted(_SAMPLE_SIZE_CODES)}")
    lo, hi = -(1 << (bits_per_sample - 1)), (1 << (bits_per_sample - 1)) - 1
    if s.min() < lo or s.max() > hi:
        raise ValueError("sample values exceed bits_per_sample range")
    s = s.astype(np.int64)
    n_frames, n_ch = s.shape

    out = bytearray(b"fLaC")
    # STREAMINFO (metadata block type 0, last-block flag set)
    info = bytearray()
    info += struct.pack(">HH", block_size, block_size)
    info += b"\x00\x00\x00" * 2  # min/max frame size unknown
    packed = (sample_rate << 44) | ((n_ch - 1) << 41) | (
        (bits_per_sample - 1) << 36
    ) | n_frames
    info += packed.to_bytes(8, "big")
    info += b"\x00" * 16  # MD5 unset (spec: 0 = unknown)
    out += bytes([0x80]) + len(info).to_bytes(3, "big") + bytes(info)

    for fi, start in enumerate(range(0, n_frames, block_size)):
        block = s[start : start + block_size]
        out += _encode_frame(
            block, fi, sample_rate, bits_per_sample, subframe
        )
    return bytes(out)


def _rice_cost(res: np.ndarray, param: int) -> int:
    z = (np.abs(res) * 2 - (res < 0).astype(np.int64)).astype(np.int64)
    return int(np.sum(z >> param)) + len(res) * (param + 1)


def _best_rice_param(res: np.ndarray) -> int:
    """Best Rice parameter in the rice2 (5-bit, 0-30) range — large
    residuals (24-bit audio) need params well beyond the 4-bit cap, and
    an undersized param degenerates into enormous unary runs."""
    if len(res) == 0:
        return 0
    mean = float(np.mean(np.abs(res.astype(np.float64)))) + 1e-9
    guess = max(0, int(np.log2(mean + 1)))
    best, best_cost = 0, None
    for p in range(max(0, guess - 2), min(31, guess + 4)):
        c = _rice_cost(res, p)
        if best_cost is None or c < best_cost:
            best, best_cost = p, c
    return best


def _encode_frame(
    block: np.ndarray, frame_no: int, rate: int, bps: int, subframe: str
) -> bytes:
    n, n_ch = block.shape
    header = bytearray()
    bw = _BitWriter()
    bw.write(0x3FFE, 14)  # sync
    bw.write(0, 1)  # reserved
    bw.write(0, 1)  # fixed-blocksize stream
    bw.write(0b0111, 4)  # blocksize: 16-bit at end of header
    bw.write(0b0000, 4)  # sample rate: from STREAMINFO
    bw.write(n_ch - 1, 4)  # independent channels
    bw.write(_SAMPLE_SIZE_CODES[bps], 3)
    bw.write(0, 1)  # reserved
    bw.align()
    header += bw.bytes()
    header += _utf8_number(frame_no)
    header += struct.pack(">H", n - 1)
    header.append(_crc8(bytes(header)))

    body = _BitWriter()
    for ch in range(n_ch):
        _encode_subframe(body, block[:, ch], bps, subframe)
    body.align()
    frame = bytes(header) + body.bytes()
    return frame + struct.pack(">H", _crc16(frame))


def _encode_subframe(bw: _BitWriter, x: np.ndarray, bps: int, strategy: str) -> None:
    n = len(x)
    if strategy == "verbatim":
        bw.write(0, 1)
        bw.write(0b000001, 6)
        bw.write(0, 1)  # no wasted bits
        for v in x:
            bw.write(int(v), bps)
        return
    if np.all(x == x[0]):
        bw.write(0, 1)
        bw.write(0b000000, 6)  # CONSTANT
        bw.write(0, 1)
        bw.write(int(x[0]), bps)
        return
    # pick the fixed predictor order with the smallest residual L1 norm
    best_order, best_res, best_cost = 0, x, None
    for order in range(min(4, n - 1) + 1):
        res = x.copy()
        for _ in range(order):
            res = np.diff(res)
        cost = int(np.sum(np.abs(res)))
        if best_cost is None or cost < best_cost:
            best_order, best_res, best_cost = order, res, cost
    order, res = best_order, best_res
    bw.write(0, 1)
    bw.write(0b001000 | order, 6)  # FIXED
    bw.write(0, 1)  # no wasted bits
    for v in x[:order]:
        bw.write(int(v), bps)
    # residual: partition order 0 (one partition); 4-bit Rice when the
    # parameter fits, else the rice2 5-bit method (24-bit audio needs
    # params beyond 14)
    param = _best_rice_param(res)
    if param <= 14:
        bw.write(0b00, 2)
        pbits = 4
    else:
        bw.write(0b01, 2)
        pbits = 5
    bw.write(0, 4)  # partition order 0
    bw.write(param, pbits)
    for v in res:
        v = int(v)
        z = 2 * v if v >= 0 else -2 * v - 1
        bw.write_unary(z >> param)
        bw.write(z & ((1 << param) - 1), param)


def decode_flac(data: bytes) -> tuple[np.ndarray, int, int]:
    """Decode a FLAC stream; returns ``(samples, sample_rate,
    bits_per_sample)`` with ``samples`` an int32 array of shape
    (n_frames, n_channels)."""
    if data[:4] != b"fLaC":
        raise ValueError("not a FLAC stream (missing fLaC magic)")
    pos = 4
    rate = n_ch = bps = None
    total = 0
    min_bs = None
    # metadata blocks
    while True:
        if pos + 4 > len(data):
            raise ValueError("truncated FLAC metadata")
        head = data[pos]
        blen = int.from_bytes(data[pos + 1 : pos + 4], "big")
        body = data[pos + 4 : pos + 4 + blen]
        pos += 4 + blen
        if head & 0x7F == 0:  # STREAMINFO
            min_bs, _max_bs = struct.unpack_from(">HH", body, 0)
            packed = int.from_bytes(body[10:18], "big")
            rate = packed >> 44
            n_ch = ((packed >> 41) & 0x7) + 1
            bps = ((packed >> 36) & 0x1F) + 1
            total = packed & ((1 << 36) - 1)
        if head & 0x80:
            break
    if rate is None:
        raise ValueError("FLAC stream has no STREAMINFO")

    channels: list[list[np.ndarray]] = [[] for _ in range(n_ch)]
    got = 0
    while pos < len(data) and (total == 0 or got < total):
        pos, block = _decode_frame(data, pos, rate, n_ch, bps)
        for ch in range(n_ch):
            channels[ch].append(block[ch])
        got += len(block[0])
    samples = np.stack(
        [np.concatenate(c) for c in channels], axis=1
    ).astype(np.int32)
    if total:
        samples = samples[:total]
    return samples, rate, bps


_BLOCKSIZE_CODES = {
    0b0001: 192, **{c: 576 << (c - 2) for c in range(0b0010, 0b0110)},
    **{c: 256 << (c - 8) for c in range(0b1000, 0b10000)},
}

_RATE_CODES = {
    0b0001: 88200, 0b0010: 176400, 0b0011: 192000, 0b0100: 8000,
    0b0101: 16000, 0b0110: 22050, 0b0111: 24000, 0b1000: 32000,
    0b1001: 44100, 0b1010: 48000, 0b1011: 96000,
}


def _decode_frame(
    data: bytes, pos: int, rate: int, n_ch: int, bps: int
) -> tuple[int, list[np.ndarray]]:
    br = _BitReader(data, pos)
    if br.read(14) != 0x3FFE:
        raise ValueError("lost FLAC frame sync")
    br.read(1)  # reserved
    br.read(1)  # blocking strategy (number semantics only)
    bs_code = br.read(4)
    rate_code = br.read(4)
    ch_code = br.read(4)
    size_code = br.read(3)
    br.read(1)  # reserved
    _read_utf8_number(br)
    if bs_code == 0b0110:
        n = br.read(8) + 1
    elif bs_code == 0b0111:
        n = br.read(16) + 1
    elif bs_code in _BLOCKSIZE_CODES:
        n = _BLOCKSIZE_CODES[bs_code]
    else:
        raise ValueError("reserved blocksize code")
    if rate_code == 0b1100:
        br.read(8)
    elif rate_code in (0b1101, 0b1110):
        br.read(16)
    elif rate_code == 0b1111:
        raise ValueError("invalid sample-rate code")
    if size_code:
        bps = _SAMPLE_SIZES.get(size_code)
        if bps is None:
            raise ValueError("reserved sample-size code")
    hdr_end = br.byte_pos()
    expected_crc8 = br.read(8)
    if _crc8(data[pos:hdr_end]) != expected_crc8:
        raise ValueError("FLAC frame header CRC mismatch")

    if ch_code <= 0b0111:
        if ch_code + 1 != n_ch:
            raise ValueError("frame channel count disagrees with STREAMINFO")
        subs = [_decode_subframe(br, n, bps) for _ in range(n_ch)]
    elif ch_code in (0b1000, 0b1001, 0b1010):
        if n_ch != 2:
            raise ValueError("stereo decorrelation in non-stereo stream")
        # the side (difference) channel carries one extra bit
        if ch_code == 0b1000:  # left/side
            left = _decode_subframe(br, n, bps)
            side = _decode_subframe(br, n, bps + 1)
            subs = [left, left - side]
        elif ch_code == 0b1001:  # right/side
            side = _decode_subframe(br, n, bps + 1)
            right = _decode_subframe(br, n, bps)
            subs = [right + side, right]
        else:  # mid/side
            mid = _decode_subframe(br, n, bps)
            side = _decode_subframe(br, n, bps + 1)
            left = (2 * mid + (side & 1) + side) >> 1
            subs = [left, left - side]
    else:
        raise ValueError("reserved channel assignment")
    br.align()
    crc_end = br.byte_pos()
    expected_crc16 = br.read(16)
    if _crc16(data[pos:crc_end]) != expected_crc16:
        raise ValueError("FLAC frame CRC-16 mismatch")
    return br.byte_pos(), subs


def _decode_subframe(br: _BitReader, n: int, bps: int) -> np.ndarray:
    if br.read(1):
        raise ValueError("bad subframe header padding bit")
    t = br.read(6)
    wasted = 0
    if br.read(1):
        wasted = 1 + br.read_unary()
    eff = bps - wasted
    if t == 0b000000:  # CONSTANT
        x = np.full(n, br.read_signed(eff), dtype=np.int64)
    elif t == 0b000001:  # VERBATIM
        x = np.array([br.read_signed(eff) for _ in range(n)], dtype=np.int64)
    elif 0b001000 <= t <= 0b001100:  # FIXED order 0-4
        order = t & 0x7
        warm = [br.read_signed(eff) for _ in range(order)]
        res = _decode_residual(br, n, order)
        x = np.empty(n, dtype=np.int64)
        x[:order] = warm
        coefs = _FIXED_COEFS[order]
        for i in range(order, n):
            pred = 0
            for j, c in enumerate(coefs):
                pred += c * x[i - 1 - j]
            x[i] = res[i - order] + pred
    elif t >= 0b100000:  # LPC order 1-32
        order = (t & 0x1F) + 1
        warm = [br.read_signed(eff) for _ in range(order)]
        precision = br.read(4) + 1
        if precision == 16:
            raise ValueError("invalid LPC precision code")
        shift = br.read_signed(5)
        if shift < 0:
            raise ValueError("negative LPC shift")
        coefs = [br.read_signed(precision) for _ in range(order)]
        res = _decode_residual(br, n, order)
        x = np.empty(n, dtype=np.int64)
        x[:order] = warm
        for i in range(order, n):
            pred = 0
            for j, c in enumerate(coefs):
                pred += c * int(x[i - 1 - j])
            x[i] = res[i - order] + (pred >> shift)
    else:
        raise ValueError("reserved subframe type")
    return x << wasted


def _decode_residual(br: _BitReader, n: int, order: int) -> np.ndarray:
    method = br.read(2)
    if method not in (0, 1):
        raise ValueError("reserved residual coding method")
    pbits = 4 if method == 0 else 5
    escape = (1 << pbits) - 1
    porder = br.read(4)
    nparts = 1 << porder
    if n % nparts:
        raise ValueError("blocksize not divisible by partition count")
    out = np.empty(n - order, dtype=np.int64)
    k = 0
    for p in range(nparts):
        cnt = n // nparts - (order if p == 0 else 0)
        param = br.read(pbits)
        if param == escape:
            raw_bits = br.read(5)
            for i in range(cnt):
                out[k] = br.read_signed(raw_bits) if raw_bits else 0
                k += 1
        else:
            for i in range(cnt):
                q = br.read_unary()
                z = (q << param) | br.read(param)
                out[k] = (z >> 1) ^ -(z & 1)
                k += 1
    return out
