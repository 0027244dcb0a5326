"""CBOR intake (RFC 8949, from scratch) — the remaining big wire
format next to msgpack (`extensions/msgpack.py`), BSON
(`extensions/bson.py`) and protobuf (`extensions/protobuf.py`): CoAP/IoT
payloads, WebAuthn attestations, COSE envelopes and c2pa manifests
all ship CBOR.

Decoder coverage (the documented core):
- major types 0/1 (unsigned / negative integers, all widths),
  2/3 (byte / text strings, definite AND indefinite-length with
  chunk-type enforcement), 4/5 (arrays / maps, definite and
  indefinite), 7 (false/true/null/undefined, float16/32/64 — the
  half-precision decode is spelled out by the RFC and implemented
  directly);
- major type 6 tags: 0 (RFC 3339 date-time string, validated
  lightly), 1 (epoch seconds int/float), 2/3 (unsigned/negative
  bignum from a byte string) decode to values; any OTHER tag
  surfaces as ``{"__tag": n, "value": v}`` so no information is
  silently dropped;
- canonicalization for the Spark contract: one sorted-key JSON row
  per top-level item (bytes → hex, floats kept, map keys coerced to
  strings), the same downstream `from_json` shape as the other
  binary intakes.

Malformed input (truncation, reserved additional-info values 28-30,
a break (0xFF) outside an indefinite container, wrong chunk types
inside indefinite strings, trailing garbage when one item is
expected) raises ``CborError`` loudly into the quarantine column.

Scale shape: one-blob-per-row Arrow ``mapInPandas``, identical to
the bson/msgpack intakes.
"""

from __future__ import annotations

import io
import json
import struct
from typing import Iterator

from pyspark.sql import DataFrame, types as T

__all__ = ["CborError", "decode", "decode_all", "encode", "read_cbor"]


class CborError(ValueError):
    """Malformed CBOR: truncation, reserved encodings, stray break,
    bad indefinite chunks, or trailing bytes."""


_BREAK = object()


def _read(buf: io.BytesIO, n: int) -> bytes:
    b = buf.read(n)
    if len(b) != n:
        raise CborError(f"truncated: wanted {n} bytes, got {len(b)}")
    return b


def _read_uint(ai: int, buf: io.BytesIO) -> int:
    if ai < 24:
        return ai
    if ai == 24:
        return _read(buf, 1)[0]
    if ai == 25:
        return int.from_bytes(_read(buf, 2), "big")
    if ai == 26:
        return int.from_bytes(_read(buf, 4), "big")
    if ai == 27:
        return int.from_bytes(_read(buf, 8), "big")
    raise CborError(f"reserved additional-info {ai}")


def _half_to_float(h: int) -> float:
    # RFC 8949 appendix D: half-precision decode
    exp = (h >> 10) & 0x1F
    mant = h & 0x3FF
    if exp == 0:
        val = mant * 2.0 ** -24
    elif exp != 31:
        val = (mant + 1024) * 2.0 ** (exp - 25)
    else:
        val = float("inf") if mant == 0 else float("nan")
    return -val if h & 0x8000 else val


# nesting bound: a malicious blob of repeated 0x81 bytes would
# otherwise recurse past the interpreter limit and fail the TASK
# instead of quarantining the row. Each level costs ~2 interpreter
# frames, so the bound must sit well under recursionlimit/2.
_MAX_DEPTH = 256


def _decode_item(
    buf: io.BytesIO, in_indefinite: bool = False, depth: int = 0
):
    if depth > _MAX_DEPTH:
        raise CborError(f"nesting deeper than {_MAX_DEPTH}")
    ib = _read(buf, 1)[0]
    mt, ai = ib >> 5, ib & 0x1F
    if ib == 0xFF:
        if in_indefinite:
            return _BREAK
        raise CborError("break (0xff) outside indefinite container")
    if mt == 0:
        return _read_uint(ai, buf)
    if mt == 1:
        return -1 - _read_uint(ai, buf)
    if mt == 2 or mt == 3:
        if ai == 31:  # indefinite: chunks of the SAME type
            parts = []
            while True:
                peek = _read(buf, 1)[0]
                if peek == 0xFF:
                    break
                if peek >> 5 != mt:
                    raise CborError(
                        "indefinite string chunk of wrong type"
                    )
                if (peek & 0x1F) == 31:
                    raise CborError("nested indefinite string chunk")
                parts.append(_read(buf, _read_uint(peek & 0x1F, buf)))
            raw = b"".join(parts)
        else:
            raw = _read(buf, _read_uint(ai, buf))
        if mt == 2:
            return raw
        try:
            return raw.decode("utf-8")
        except UnicodeDecodeError as e:
            raise CborError("invalid utf-8 in text string") from e
    if mt == 4:
        if ai == 31:
            out = []
            while True:
                v = _decode_item(
                    buf, in_indefinite=True, depth=depth + 1
                )
                if v is _BREAK:
                    return out
                out.append(v)
        return [
            _decode_item(buf, depth=depth + 1)
            for _ in range(_read_uint(ai, buf))
        ]
    if mt == 5:
        out = {}

        def put(k, v):
            out[k] = v

        if ai == 31:
            while True:
                k = _decode_item(
                    buf, in_indefinite=True, depth=depth + 1
                )
                if k is _BREAK:
                    return out
                put(k, _decode_item(buf, depth=depth + 1))
            return out
        for _ in range(_read_uint(ai, buf)):
            k = _decode_item(buf, depth=depth + 1)
            put(k, _decode_item(buf, depth=depth + 1))
        return out
    if mt == 6:
        tag = _read_uint(ai, buf)
        v = _decode_item(buf, depth=depth + 1)
        if tag == 0:
            if not isinstance(v, str) or "T" not in v.upper():
                raise CborError("tag 0 expects an RFC 3339 string")
            return v
        if tag == 1:
            if not isinstance(v, (int, float)):
                raise CborError("tag 1 expects epoch seconds")
            return v
        if tag == 2:
            if not isinstance(v, bytes):
                raise CborError("tag 2 expects a byte string")
            return int.from_bytes(v, "big")
        if tag == 3:
            if not isinstance(v, bytes):
                raise CborError("tag 3 expects a byte string")
            return -1 - int.from_bytes(v, "big")
        return {"__tag": tag, "value": v}
    # mt == 7
    if ai == 20:
        return False
    if ai == 21:
        return True
    if ai == 22:
        return None
    if ai == 23:
        return None  # undefined -> null for the JSON contract
    if ai == 25:
        return _half_to_float(int.from_bytes(_read(buf, 2), "big"))
    if ai == 26:
        return struct.unpack(">f", _read(buf, 4))[0]
    if ai == 27:
        return struct.unpack(">d", _read(buf, 8))[0]
    if ai == 24:
        # RFC 8949 §3.3: the two-byte simple form is well-formed only
        # for values >= 32 (0..31 MUST use the one-byte form or are
        # the assigned false/true/null/undefined/float heads)
        sv = _read(buf, 1)[0]
        if sv < 32:
            raise CborError(
                f"two-byte simple value {sv} < 32 is not well-formed"
            )
        return {"__simple": sv}
    if ai < 20:
        # unassigned one-byte simple values: surfaced distinctly so
        # they cannot collapse into integers in the JSON output
        return {"__simple": ai}
    raise CborError(f"reserved major-7 additional-info {ai}")


def decode(blob: bytes):
    """Decode exactly ONE item; trailing bytes raise."""
    buf = io.BytesIO(bytes(blob))
    v = _decode_item(buf)
    if buf.read(1):
        raise CborError("trailing bytes after item")
    return v


def decode_all(blob: bytes) -> list:
    """Decode a CBOR sequence (RFC 8742): items until EOF."""
    buf = io.BytesIO(bytes(blob))
    out = []
    while True:
        probe = buf.read(1)
        if not probe:
            return out
        buf.seek(-1, io.SEEK_CUR)
        out.append(_decode_item(buf))


def encode(v) -> bytes:
    """Fixture-authoring encoder (definite-length, canonical-ish)."""
    if v is None:
        return b"\xf6"
    if v is True:
        return b"\xf5"
    if v is False:
        return b"\xf4"
    if isinstance(v, int):
        if v >= 0:
            return _enc_head(0, v)
        return _enc_head(1, -1 - v)
    if isinstance(v, float):
        return b"\xfb" + struct.pack(">d", v)
    if isinstance(v, bytes):
        return _enc_head(2, len(v)) + v
    if isinstance(v, str):
        e = v.encode("utf-8")
        return _enc_head(3, len(e)) + e
    if isinstance(v, list):
        return _enc_head(4, len(v)) + b"".join(encode(x) for x in v)
    if isinstance(v, dict):
        return _enc_head(5, len(v)) + b"".join(
            encode(k) + encode(x) for k, x in v.items()
        )
    raise CborError(f"cannot encode {type(v).__name__}")


def _enc_head(mt: int, n: int) -> bytes:
    if n < 24:
        return bytes([(mt << 5) | n])
    for ai, size in ((24, 1), (25, 2), (26, 4), (27, 8)):
        if n < (1 << (8 * size)):
            return bytes([(mt << 5) | ai]) + n.to_bytes(size, "big")
    raise CborError("length too large")


CBOR_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("item_idx", T.IntegerType()),
        T.StructField("json", T.StringType()),
        T.StructField("error", T.StringType()),
    ]
)


def read_cbor(
    df: DataFrame, blob_col: str = "blob", id_col: str = "doc_id"
) -> DataFrame:
    """CBOR-sequence blobs -> one canonical-JSON row per item (+ one
    error row per malformed blob)."""

    def kernel(batches: Iterator) -> Iterator:
        import pandas as pd

        def canon(v):
            if isinstance(v, bytes):
                return v.hex()
            if isinstance(v, dict):
                return {str(k): canon(x) for k, x in v.items()}
            if isinstance(v, list):
                return [canon(x) for x in v]
            return v

        for pdf in batches:
            rows = []
            for d, blob in zip(pdf[id_col], pdf[blob_col]):
                d = int(d)
                try:
                    for i, item in enumerate(decode_all(bytes(blob))):
                        rows.append(
                            (d, i,
                             json.dumps(canon(item), sort_keys=True,
                                        separators=(",", ":")),
                             None)
                        )
                except CborError as e:
                    rows.append((d, -1, None, str(e)))
            yield pd.DataFrame(
                rows, columns=[f.name for f in CBOR_SCHEMA.fields]
            )

    return df.select(id_col, blob_col).mapInPandas(kernel, CBOR_SCHEMA)
