"""BSON / mongodump intake: a from-scratch wire-format reader.

MongoDB exports (`mongodump` .bson files, change-stream archives) are
a routine "a dataset showed up" format for a corpus lake, and no bson
library ships in this container. This module implements the public
spec (https://bsonspec.org, version 1.1) directly:

- a dump file is a concatenation of documents, each an int32-LE
  total length + elements + trailing ``\\x00``;
- element types covered end-to-end: double (0x01), string (0x02),
  embedded document (0x03), array (0x04 — a document with ascending
  integer keys, re-listed), binary (0x05), ObjectId (0x07), bool
  (0x08), UTC datetime ms (0x09), null (0x0A), int32 (0x10),
  Mongo timestamp (0x11) and int64 (0x12);
- decimal128 (0x13) and every unknown/deprecated code raise
  ``BsonError`` — the loud-failure taxonomy, never silent garbage —
  as do truncation, length mismatches, missing terminators,
  non-canonical bools and out-of-order array keys.

Spark shape matches the other wire tiers (`extensions/msgpack.py`): one
Arrow ``mapInPandas`` pass per blob column, one CANONICAL sorted-key
JSON row per document (bytes/ObjectId as lowercase hex, datetimes as
epoch-ms integers), so every downstream cut is native ``from_json``
Column algebra. ``pack``/``pack_dump`` author fixtures and pin
round-trip property tests; known-answer vectors from the spec pin the
byte layout itself.
"""

from __future__ import annotations

import struct
from dataclasses import dataclass
from typing import Iterator

from pyspark.sql import DataFrame, types as T

__all__ = [
    "BsonError",
    "ObjectId",
    "UtcDatetime",
    "MongoTimestamp",
    "unpack_document",
    "unpack_dump",
    "pack",
    "pack_dump",
    "read_bson_dump",
    "BSON_ROWS_SCHEMA",
]


class BsonError(ValueError):
    """Malformed BSON: truncation, bad lengths, missing terminators,
    unknown element types, or JSON-incompatible content."""


@dataclass(frozen=True)
class ObjectId:
    raw: bytes  # exactly 12 bytes

    def __post_init__(self):
        if len(self.raw) != 12:
            raise BsonError("ObjectId must be 12 bytes")


@dataclass(frozen=True)
class UtcDatetime:
    ms: int  # milliseconds since the Unix epoch


@dataclass(frozen=True)
class MongoTimestamp:
    value: int  # raw uint64 (increment | seconds<<32)


BSON_ROWS_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("idx", T.IntegerType()),
        T.StructField("json", T.StringType()),
        T.StructField("error", T.StringType()),
    ]
)

INT32_MIN, INT32_MAX = -(1 << 31), (1 << 31) - 1
INT64_MIN, INT64_MAX = -(1 << 63), (1 << 63) - 1


def _need(b: bytes, pos: int, n: int) -> None:
    if pos + n > len(b):
        raise BsonError(f"truncated: need {n} bytes at {pos}")


def _cstring(b: bytes, pos: int) -> tuple[str, int]:
    end = b.find(0, pos)
    if end < 0:
        raise BsonError("unterminated cstring")
    return b[pos:end].decode("utf-8"), end + 1


def _string(b: bytes, pos: int) -> tuple[str, int]:
    _need(b, pos, 4)
    n = struct.unpack_from("<i", b, pos)[0]
    if n < 1:
        raise BsonError(f"bad string length {n}")
    _need(b, pos + 4, n)
    if b[pos + 4 + n - 1] != 0:
        raise BsonError("string missing NUL terminator")
    return b[pos + 4 : pos + 4 + n - 1].decode("utf-8"), pos + 4 + n


def _element(t: int, b: bytes, pos: int):
    if t == 0x01:
        _need(b, pos, 8)
        return struct.unpack_from("<d", b, pos)[0], pos + 8
    if t == 0x02:
        return _string(b, pos)
    if t == 0x03:
        return _document(b, pos)
    if t == 0x04:
        doc, pos = _document(b, pos)
        keys = list(doc)
        if keys != [str(i) for i in range(len(keys))]:
            raise BsonError("array keys not ascending integers")
        return list(doc.values()), pos
    if t == 0x05:
        _need(b, pos, 5)
        n = struct.unpack_from("<i", b, pos)[0]
        if n < 0:
            raise BsonError(f"bad binary length {n}")
        _need(b, pos + 5, n)
        # subtype byte at pos+4 is accepted and not round-tripped
        return bytes(b[pos + 5 : pos + 5 + n]), pos + 5 + n
    if t == 0x07:
        _need(b, pos, 12)
        return ObjectId(bytes(b[pos : pos + 12])), pos + 12
    if t == 0x08:
        _need(b, pos, 1)
        if b[pos] not in (0, 1):
            raise BsonError(f"non-canonical bool byte {b[pos]}")
        return b[pos] == 1, pos + 1
    if t == 0x09:
        _need(b, pos, 8)
        return UtcDatetime(struct.unpack_from("<q", b, pos)[0]), pos + 8
    if t == 0x0A:
        return None, pos
    if t == 0x10:
        _need(b, pos, 4)
        return struct.unpack_from("<i", b, pos)[0], pos + 4
    if t == 0x11:
        _need(b, pos, 8)
        return MongoTimestamp(struct.unpack_from("<Q", b, pos)[0]), pos + 8
    if t == 0x12:
        _need(b, pos, 8)
        return struct.unpack_from("<q", b, pos)[0], pos + 8
    raise BsonError(f"unsupported element type 0x{t:02x}")


def _document(b: bytes, pos: int) -> tuple[dict, int]:
    _need(b, pos, 5)
    total = struct.unpack_from("<i", b, pos)[0]
    if total < 5:
        raise BsonError(f"bad document length {total}")
    _need(b, pos, total)
    end = pos + total
    if b[end - 1] != 0:
        raise BsonError("document missing terminator")
    cur = pos + 4
    out: dict = {}
    while cur < end - 1:
        t = b[cur]
        name, cur = _cstring(b, cur + 1)
        out[name], cur = _element(t, b, cur)
    if cur != end - 1:
        raise BsonError("document elements overran declared length")
    return out, end


def unpack_document(b: bytes) -> dict:
    doc, end = _document(b, 0)
    if end != len(b):
        raise BsonError(f"{len(b) - end} trailing bytes")
    return doc


def unpack_dump(b: bytes) -> list[dict]:
    """A mongodump file: documents back to back until exhaustion."""
    out, pos = [], 0
    while pos < len(b):
        doc, pos = _document(b, pos)
        out.append(doc)
    return out


def _pack_value(v) -> tuple[int, bytes]:
    if v is None:
        return 0x0A, b""
    if isinstance(v, bool):  # before int: bool IS int in Python
        return 0x08, bytes([1 if v else 0])
    if isinstance(v, ObjectId):
        return 0x07, v.raw
    if isinstance(v, UtcDatetime):
        return 0x09, struct.pack("<q", v.ms)
    if isinstance(v, MongoTimestamp):
        return 0x11, struct.pack("<Q", v.value)
    if isinstance(v, float):
        return 0x01, struct.pack("<d", v)
    if isinstance(v, int):
        if INT32_MIN <= v <= INT32_MAX:
            return 0x10, struct.pack("<i", v)
        if INT64_MIN <= v <= INT64_MAX:
            return 0x12, struct.pack("<q", v)
        raise BsonError(f"int out of int64 range: {v}")
    if isinstance(v, str):
        enc = v.encode("utf-8") + b"\x00"
        return 0x02, struct.pack("<i", len(enc)) + enc
    if isinstance(v, (bytes, bytearray)):
        return 0x05, struct.pack("<i", len(v)) + b"\x00" + bytes(v)
    if isinstance(v, dict):
        return 0x03, pack(v)
    if isinstance(v, (list, tuple)):
        return 0x04, pack({str(i): x for i, x in enumerate(v)})
    raise BsonError(f"cannot pack {type(v).__name__}")


def pack(doc: dict) -> bytes:
    body = bytearray()
    for name, v in doc.items():
        t, payload = _pack_value(v)
        body += bytes([t]) + name.encode("utf-8") + b"\x00" + payload
    return struct.pack("<i", len(body) + 5) + bytes(body) + b"\x00"


def pack_dump(docs: list[dict]) -> bytes:
    return b"".join(pack(d) for d in docs)


def _canonical(v):
    if isinstance(v, ObjectId):
        return v.raw.hex()
    if isinstance(v, UtcDatetime):
        return v.ms
    if isinstance(v, MongoTimestamp):
        return v.value
    if isinstance(v, bytes):
        return v.hex()
    if isinstance(v, dict):
        return {k: _canonical(x) for k, x in sorted(v.items())}
    if isinstance(v, list):
        return [_canonical(x) for x in v]
    return v


def read_bson_dump(
    df: DataFrame, id_col: str = "doc_id", blob_col: str = "blob"
) -> DataFrame:
    """Parse a mongodump blob column: one canonical-JSON row per BSON
    document (+ one quarantine row per unreadable dump)."""

    def kernel(batches) -> Iterator:
        import json

        import pandas as pd

        for pdf in batches:
            out = []
            for did, blob in zip(pdf[id_col], pdf[blob_col]):
                did = int(did)
                try:
                    docs = unpack_dump(bytes(blob))
                except (BsonError, UnicodeDecodeError) as e:
                    out.append((did, None, None, f"{type(e).__name__}: {e}"))
                    continue
                for i, doc in enumerate(docs):
                    out.append(
                        (
                            did,
                            i,
                            json.dumps(
                                _canonical(doc),
                                sort_keys=True,
                                separators=(",", ":"),
                            ),
                            None,
                        )
                    )
            yield pd.DataFrame(
                out, columns=["doc_id", "idx", "json", "error"]
            )

    return df.mapInPandas(kernel, BSON_ROWS_SCHEMA)
