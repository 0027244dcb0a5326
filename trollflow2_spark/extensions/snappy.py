"""Snappy block-format codec (from scratch, RFC-less but published:
https://github.com/google/snappy/blob/main/format_description.txt).

Why here: Avro containers in Kafka land overwhelmingly ship
``avro.codec: snappy`` (it is the Java client's default choice), and
no snappy library ships in this container — so `extensions/avro.py`
routes snappy blocks through this module, the same from-scratch
discipline as the zstd/brotli/deflate tiers.

Format (block format, not the framing format):
- preamble: uncompressed length as a little-endian base-128 varint;
- then tagged elements:
  - tag&3 == 0: literal — length-1 in tag>>2, values 60..63 mean the
    length-1 follows in 1..4 little-endian bytes;
  - tag&3 == 1: copy, 1-byte offset — length = 4 + ((tag>>2)&7),
    offset = ((tag>>5)<<8) | next byte (4..11 bytes, offset < 2048);
  - tag&3 == 2: copy, 2-byte LE offset — length = (tag>>2) + 1;
  - tag&3 == 3: copy, 4-byte LE offset — same length rule.
  Copies may OVERLAP their output (offset < length): bytes repeat as
  they materialize — that is snappy's RLE.

The compressor emits greedy hash-table matches (copy2 form) with
literal fallback — not byte-identical to google/snappy's output (no
compressor is required to be), but spec-valid and round-trippable;
the decoder is the conformance surface. Malformed input (zero/OOB
offsets, overruns, truncation, length mismatch) raises
``SnappyError`` loudly.
"""

from __future__ import annotations

__all__ = ["SnappyError", "compress", "decompress"]


class SnappyError(ValueError):
    """Malformed snappy: truncated varint/element, bad offset, or
    output-length mismatch."""


def _read_uvarint(data: bytes, pos: int) -> tuple[int, int]:
    out = 0
    for i in range(5):
        if pos >= len(data):
            raise SnappyError("truncated length varint")
        b = data[pos]
        pos += 1
        out |= (b & 0x7F) << (7 * i)
        if not b & 0x80:
            return out, pos
    raise SnappyError("length varint too long")


def _write_uvarint(v: int) -> bytes:
    out = bytearray()
    while True:
        if v < 0x80:
            out.append(v)
            return bytes(out)
        out.append((v & 0x7F) | 0x80)
        v >>= 7


def decompress(data: bytes) -> bytes:
    """Decode one snappy block; verifies the declared length exactly."""
    data = bytes(data)
    want, pos = _read_uvarint(data, 0)
    out = bytearray()
    n = len(data)
    while pos < n:
        tag = data[pos]
        pos += 1
        kind = tag & 3
        if kind == 0:  # literal
            ln = tag >> 2
            if ln >= 60:
                extra = ln - 59
                if pos + extra > n:
                    raise SnappyError("truncated literal length")
                ln = int.from_bytes(data[pos:pos + extra], "little")
                pos += extra
            ln += 1
            if pos + ln > n:
                raise SnappyError("literal overruns input")
            out += data[pos:pos + ln]
            pos += ln
            continue
        if kind == 1:
            if pos >= n:
                raise SnappyError("truncated copy-1 offset")
            ln = 4 + ((tag >> 2) & 0x7)
            off = ((tag >> 5) << 8) | data[pos]
            pos += 1
        elif kind == 2:
            if pos + 2 > n:
                raise SnappyError("truncated copy-2 offset")
            ln = (tag >> 2) + 1
            off = int.from_bytes(data[pos:pos + 2], "little")
            pos += 2
        else:
            if pos + 4 > n:
                raise SnappyError("truncated copy-4 offset")
            ln = (tag >> 2) + 1
            off = int.from_bytes(data[pos:pos + 4], "little")
            pos += 4
        if off == 0 or off > len(out):
            raise SnappyError(f"copy offset {off} out of window")
        # overlapping copies repeat bytes as they materialize (RLE)
        start = len(out) - off
        for i in range(ln):
            out.append(out[start + i])
    if len(out) != want:
        raise SnappyError(
            f"declared {want} bytes, produced {len(out)}"
        )
    return bytes(out)


def _emit_literal(out: bytearray, chunk: bytes) -> None:
    ln = len(chunk) - 1
    if ln < 60:
        out.append(ln << 2)
    else:
        nbytes = (ln.bit_length() + 7) // 8
        out.append((59 + nbytes) << 2)
        out += ln.to_bytes(nbytes, "little")
    out += chunk


def compress(data: bytes) -> bytes:
    """Greedy hash-match compressor (copy2 elements, 4-byte seeds).
    Spec-valid output; optimality is not the contract."""
    data = bytes(data)
    out = bytearray(_write_uvarint(len(data)))
    n = len(data)
    if n == 0:
        return bytes(out)
    table: dict[bytes, int] = {}
    lit_start = 0
    i = 0
    while i + 4 <= n:
        seed = data[i:i + 4]
        cand = table.get(seed)
        table[seed] = i
        if cand is None or i - cand > 0xFFFF:
            i += 1
            continue
        # extend the match
        ln = 4
        while i + ln < n and ln < 64 and data[cand + ln] == data[i + ln]:
            ln += 1
        if lit_start < i:
            _emit_literal(out, data[lit_start:i])
        out.append(((ln - 1) << 2) | 2)
        out += (i - cand).to_bytes(2, "little")
        i += ln
        lit_start = i
    if lit_start < n:
        _emit_literal(out, data[lit_start:n])
    return bytes(out)
