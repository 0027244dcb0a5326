"""Protocol-Buffers wire-format intake (descriptor-free, from scratch).

Protobuf is the other half of the binary-log world next to msgpack
(`extensions/msgpack.py`): gRPC payloads, profiler dumps, and event logs
arrive as length-prefixed messages. No protobuf library ships in this
container and the reference never touches binary RPC formats; this
module implements the public wire encoding
(https://protobuf.dev/programming-guides/encoding/): varint with the
10-byte/64-bit cap, ZigZag for sint fields, fixed32/64, and
length-delimited payloads — driven by a plain FIELD-SPEC dict instead
of compiled descriptors, the way log pipelines actually wire ad-hoc
decoders.

Spec format: ``{field_number: (name, type)}`` with types ``uint int
sint bool fixed64 double fixed32 float string bytes`` plus
``(name, dict)`` for nested messages and ``(name, [type_or_dict])``
for repeated fields (packed varint runs are auto-detected for the
scalar kinds, per the proto3 default). Unknown field numbers are
SKIPPED by wire type — the forward-compatibility contract — while
truncation, a reserved wire type, or an over-long varint raise
``ProtobufError`` into the quarantine taxonomy.

Spark shape: identical to the msgpack intake — one Arrow
``mapInPandas`` kernel emits canonical sorted-key JSON, downstream
stays JVM-side in ``from_json``.
"""

from __future__ import annotations

import struct
from typing import Iterator

from pyspark.sql import DataFrame, functions as F, types as T

__all__ = ["ProtobufError", "decode_message", "encode_message",
           "read_protobuf"]


class ProtobufError(ValueError):
    """Malformed wire data: truncation, reserved wire type, varint
    over 10 bytes, or a wire type that contradicts the field spec."""


_SCALAR_WIRE = {
    "uint": 0, "int": 0, "sint": 0, "bool": 0,
    "fixed64": 1, "double": 1,
    "fixed32": 5, "float": 5,
    "string": 2, "bytes": 2,
}


def _read_varint(b: bytes, pos: int) -> tuple[int, int]:
    out = 0
    for i in range(10):  # 64 bits never need more than 10 bytes
        if pos >= len(b):
            raise ProtobufError(f"truncated varint at {pos}")
        byte = b[pos]
        pos += 1
        out |= (byte & 0x7F) << (7 * i)
        if not byte & 0x80:
            return out & ((1 << 64) - 1), pos
    raise ProtobufError("varint longer than 10 bytes")


def _zigzag_decode(v: int) -> int:
    return (v >> 1) ^ -(v & 1)


def _to_signed64(v: int) -> int:
    return v - (1 << 64) if v >= 1 << 63 else v


def _decode_scalar(kind: str, wire: int, b: bytes, pos: int):
    want = _SCALAR_WIRE[kind]
    if wire != want:
        raise ProtobufError(f"wire type {wire} for {kind} field")
    if wire == 0:
        v, pos = _read_varint(b, pos)
        if kind == "sint":
            return _zigzag_decode(v), pos
        if kind == "int":
            return _to_signed64(v), pos
        if kind == "bool":
            return v != 0, pos
        return v, pos
    if wire == 1:
        if pos + 8 > len(b):
            raise ProtobufError(f"truncated fixed64 at {pos}")
        raw = b[pos:pos + 8]
        pos += 8
        if kind == "double":
            return struct.unpack("<d", raw)[0], pos
        return int.from_bytes(raw, "little"), pos
    if wire == 5:
        if pos + 4 > len(b):
            raise ProtobufError(f"truncated fixed32 at {pos}")
        raw = b[pos:pos + 4]
        pos += 4
        if kind == "float":
            return struct.unpack("<f", raw)[0], pos
        return int.from_bytes(raw, "little"), pos
    raise ProtobufError(f"unhandled wire {wire}")  # pragma: no cover


def _read_len_payload(b: bytes, pos: int) -> tuple[bytes, int]:
    n, pos = _read_varint(b, pos)
    if pos + n > len(b):
        raise ProtobufError(f"truncated length-delimited field at {pos}")
    return b[pos:pos + n], pos + n


def _skip(wire: int, b: bytes, pos: int) -> int:
    if wire == 0:
        return _read_varint(b, pos)[1]
    if wire == 1:
        if pos + 8 > len(b):
            raise ProtobufError("truncated fixed64 skip")
        return pos + 8
    if wire == 2:
        return _read_len_payload(b, pos)[1]
    if wire == 5:
        if pos + 4 > len(b):
            raise ProtobufError("truncated fixed32 skip")
        return pos + 4
    raise ProtobufError(f"reserved wire type {wire}")


def decode_message(b: bytes, spec: dict):
    """Decode one message per ``spec``; unknown fields skip, repeated
    fields accumulate (and packed varint runs unpack), nested specs
    recurse. Returns a plain dict."""
    b = bytes(b)
    out: dict = {}
    pos = 0
    while pos < len(b):
        key, pos = _read_varint(b, pos)
        field_no, wire = key >> 3, key & 7
        ent = spec.get(field_no)
        if ent is None:
            pos = _skip(wire, b, pos)
            continue
        name, kind = ent
        repeated = isinstance(kind, list)
        inner = kind[0] if repeated else kind
        if isinstance(inner, dict):
            payload, pos = _read_len_payload(b, pos)
            v = decode_message(payload, inner)
        elif (
            repeated
            and wire == 2
            and _SCALAR_WIRE.get(inner) == 0
        ):
            payload, pos = _read_len_payload(b, pos)
            v, p2 = [], 0
            while p2 < len(payload):
                x, p2 = _decode_scalar(inner, 0, payload, p2)
                v.append(x)
            out.setdefault(name, []).extend(v)
            continue
        elif inner == "string":
            payload, pos = _read_len_payload(b, pos)
            try:
                v = payload.decode("utf-8")
            except UnicodeDecodeError as e:
                raise ProtobufError(f"invalid utf-8 in {name}") from e
        elif inner == "bytes":
            payload, pos = _read_len_payload(b, pos)
            v = payload
        else:
            v, pos = _decode_scalar(inner, wire, b, pos)
        if repeated:
            out.setdefault(name, []).append(v)
        else:
            out[name] = v  # last-one-wins, per the spec
    return out


def _varint(v: int) -> bytes:
    v &= (1 << 64) - 1
    out = bytearray()
    while True:
        if v < 0x80:
            out.append(v)
            return bytes(out)
        out.append((v & 0x7F) | 0x80)
        v >>= 7


def _key(field_no: int, wire: int) -> bytes:
    return _varint((field_no << 3) | wire)


def encode_message(values: dict, spec: dict) -> bytes:
    """Canonical encoder for fixtures/round-trips: fields in
    ascending field-number order, repeated varint kinds packed."""
    out = bytearray()
    for no in sorted(spec):
        name, kind = spec[no]
        if name not in values:
            continue
        v = values[name]
        repeated = isinstance(kind, list)
        inner = kind[0] if repeated else kind
        items = v if repeated else [v]
        if (
            repeated
            and not isinstance(inner, dict)
            and _SCALAR_WIRE.get(inner) == 0
            and items
        ):
            payload = bytearray()
            for x in items:
                payload += _scalar_bytes(inner, x)
            out += _key(no, 2) + _varint(len(payload)) + payload
            continue
        for x in items:
            if isinstance(inner, dict):
                payload = encode_message(x, inner)
                out += _key(no, 2) + _varint(len(payload)) + payload
            elif inner == "string":
                e = x.encode("utf-8")
                out += _key(no, 2) + _varint(len(e)) + e
            elif inner == "bytes":
                out += _key(no, 2) + _varint(len(x)) + bytes(x)
            else:
                out += _key(no, _SCALAR_WIRE[inner]) + _scalar_bytes(
                    inner, x
                )
    return bytes(out)


def _scalar_bytes(kind: str, v) -> bytes:
    if kind == "sint":
        return _varint((v << 1) ^ (v >> 63))
    if kind == "int":
        return _varint(v)
    if kind == "uint":
        return _varint(v)
    if kind == "bool":
        return _varint(1 if v else 0)
    if kind == "double":
        return struct.pack("<d", v)
    if kind == "fixed64":
        return int(v).to_bytes(8, "little")
    if kind == "float":
        return struct.pack("<f", v)
    if kind == "fixed32":
        return int(v).to_bytes(4, "little")
    raise ProtobufError(f"unsupported scalar {kind}")


PROTOBUF_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("json", T.StringType()),
        T.StructField("error", T.StringType()),
    ]
)


def read_protobuf(
    df: DataFrame, spec: dict, blob_col: str = "blob",
    id_col: str = "doc_id"
) -> DataFrame:
    """Blobs -> canonical JSON (sorted keys, bytes as hex) + error
    column, one Arrow pass — the msgpack-intake contract applied to
    the protobuf wire format."""

    def kernel(batches: Iterator) -> Iterator:
        import json

        import pandas as pd

        def canon(v):
            if isinstance(v, bytes):
                return v.hex()
            if isinstance(v, dict):
                return {k: canon(x) for k, x in v.items()}
            if isinstance(v, list):
                return [canon(x) for x in v]
            return v

        for pdf in batches:
            ids, js, errs = [], [], []
            for d, blob in zip(pdf[id_col], pdf[blob_col]):
                ids.append(int(d))
                try:
                    v = decode_message(bytes(blob), spec)
                    js.append(
                        json.dumps(
                            canon(v), sort_keys=True, separators=(",", ":")
                        )
                    )
                    errs.append(None)
                except ProtobufError as e:
                    js.append(None)
                    errs.append(str(e))
            yield pd.DataFrame({"doc_id": ids, "json": js, "error": errs})

    return df.select(id_col, blob_col).mapInPandas(kernel, PROTOBUF_SCHEMA)
