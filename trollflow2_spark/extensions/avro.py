"""Avro object-container intake (from-scratch reader + writer).

Avro is the remaining big-name lake format next to parquet/orc/csv/
json (all native here) and the wire formats (`extensions/msgpack.py`,
`extensions/protobuf.py`): Kafka archives and Hadoop exports ship as
``.avro`` container files. Spark's avro support lives in a separate
``spark-avro`` package that this container does not ship, so this
module implements the public specification
(https://avro.apache.org/docs/current/specification/) directly:

- binary encoding: zigzag-varint int/long, little-endian float/
  double, length-prefixed bytes/string, 1-byte boolean, zero-byte
  null, records as field concatenation in schema order, arrays/maps
  as terminated blocks (negative block counts carry a byte size, per
  spec), unions as branch-index + value, enums as int symbol index,
  fixed as raw bytes;
- container framing: ``Obj\\x01`` magic, the file-metadata map
  (``avro.schema`` JSON + ``avro.codec``), a 16-byte sync marker,
  then data blocks of (record count, byte length, payload, sync) —
  ``null``, ``deflate`` (raw zlib) and ``snappy`` (from-scratch block
  codec, `extensions/snappy.py`, + the spec's big-endian CRC32 of the
  uncompressed data) codecs supported, sync markers
  VERIFIED per block so a corrupt/resynced file cannot silently
  produce shifted garbage.

Schema support covers the primitive types plus record/array/map/
union/enum/fixed — the closure actually used by log exports — and
the spec's LOGICAL types on decode: ``decimal`` (bytes/fixed,
big-endian two's-complement unscaled + schema scale), ``date``
(int days), ``timestamp-millis``/``timestamp-micros`` (long),
``time-millis``/``time-micros``, and ``uuid`` — surfaced as Python
Decimal/date/datetime/time so real exports don't hand users raw
longs. Per the spec, an unknown or type-mismatched logicalType
falls back to the underlying physical type (never an error). The
writer accepts the same logical Python values and converts them to
their physical encoding. Errors raise ``AvroError`` into the
quarantine column.

Scale shape: container files are split-resistant by design (sync
markers), but the intake contract here is one-blob-per-task
``mapInPandas`` (binaryFile-sized objects), emitting one canonical
JSON row per record — the same downstream `from_json` contract as
the other binary intakes.
"""

from __future__ import annotations

import io
import json
import struct
import zlib
from typing import Iterator

from pyspark.sql import DataFrame, types as T

__all__ = ["AvroError", "read_container", "write_container",
           "read_avro", "read_container_resolved", "resolve_value",
           "decode_wire_message", "encode_wire_message",
           "read_avro_wire"]

_MAGIC = b"Obj\x01"


class AvroError(ValueError):
    """Malformed Avro: bad magic, truncation, sync mismatch,
    unsupported schema/codec, or an invalid union/enum index."""


# --- binary primitives ----------------------------------------------------


def _read_long(buf: io.BytesIO) -> int:
    out = 0
    for i in range(10):
        b = buf.read(1)
        if not b:
            raise AvroError("truncated varint")
        byte = b[0]
        out |= (byte & 0x7F) << (7 * i)
        if not byte & 0x80:
            return (out >> 1) ^ -(out & 1)  # zigzag
    raise AvroError("varint longer than 10 bytes")


def _write_long(v: int) -> bytes:
    v = (v << 1) ^ (v >> 63) if v < 0 else v << 1
    out = bytearray()
    while True:
        if v < 0x80:
            out.append(v)
            return bytes(out)
        out.append((v & 0x7F) | 0x80)
        v >>= 7


def _read_n(buf: io.BytesIO, n: int) -> bytes:
    b = buf.read(n)
    if len(b) != n:
        raise AvroError(f"truncated: wanted {n} bytes, got {len(b)}")
    return b


# --- schema-driven decode/encode ------------------------------------------


def _apply_logical(schema: dict, v):
    """Resolve a logicalType annotation on a decoded physical value.
    Spec rule: invalid/unknown logical types fall back to the
    underlying type — silently, not as an error."""
    import datetime as _dt
    import decimal as _decimal
    import uuid as _uuid

    lt = schema.get("logicalType")
    if not lt:
        return v
    t = schema["type"]
    if lt == "decimal" and t in ("bytes", "fixed"):
        scale = int(schema.get("scale", 0))
        unscaled = int.from_bytes(bytes(v), "big", signed=True)
        return _decimal.Decimal(unscaled).scaleb(-scale)
    if lt == "date" and t == "int":
        return _dt.date(1970, 1, 1) + _dt.timedelta(days=v)
    if lt == "timestamp-millis" and t == "long":
        return _dt.datetime(1970, 1, 1) + _dt.timedelta(milliseconds=v)
    if lt == "timestamp-micros" and t == "long":
        return _dt.datetime(1970, 1, 1) + _dt.timedelta(microseconds=v)
    if lt == "time-millis" and t == "int":
        base = _dt.datetime(1970, 1, 1) + _dt.timedelta(milliseconds=v)
        return base.time()
    if lt == "time-micros" and t == "long":
        base = _dt.datetime(1970, 1, 1) + _dt.timedelta(microseconds=v)
        return base.time()
    if lt == "uuid" and t == "string":
        try:
            return str(_uuid.UUID(v))
        except ValueError:
            return v  # spec: invalid -> underlying string
    return v


def _to_physical(schema: dict, v):
    """Writer-side inverse of :func:`_apply_logical`: turn a logical
    Python value back into its physical encoding input."""
    import datetime as _dt
    import decimal as _decimal

    lt = schema.get("logicalType")
    if not lt:
        return v
    t = schema["type"]
    if lt == "decimal" and t in ("bytes", "fixed") and isinstance(
        v, _decimal.Decimal
    ):
        scale = int(schema.get("scale", 0))
        unscaled = int(v.scaleb(scale).to_integral_value())
        if t == "fixed":
            return unscaled.to_bytes(
                int(schema["size"]), "big", signed=True
            )
        length = 1
        while True:
            try:
                return unscaled.to_bytes(length, "big", signed=True)
            except OverflowError:
                length += 1
    if lt == "date" and isinstance(v, _dt.date) and not isinstance(
        v, _dt.datetime
    ):
        return (v - _dt.date(1970, 1, 1)).days
    if lt in ("timestamp-millis", "timestamp-micros") and isinstance(
        v, _dt.datetime
    ):
        delta = v - _dt.datetime(1970, 1, 1)
        us = delta // _dt.timedelta(microseconds=1)
        return us // 1000 if lt == "timestamp-millis" else us
    if lt in ("time-millis", "time-micros") and isinstance(v, _dt.time):
        us = (
            v.hour * 3600 + v.minute * 60 + v.second
        ) * 1_000_000 + v.microsecond
        return us // 1000 if lt == "time-millis" else us
    return v


_PRIMITIVES = frozenset(
    ("null", "boolean", "int", "long", "float", "double",
     "bytes", "string")
)


def _fullname(name: str, namespace: str) -> str:
    if "." in name or not namespace:
        return name
    return f"{namespace}.{name}"


def collect_names(schema, namespace: str = "", names: dict | None = None):
    """Registry of named types (record/enum/fixed) by fullname — the
    spec's mechanism for recursive records and name reuse: once
    defined, a schema may reference the type by (full)name anywhere a
    type is expected. Returns {fullname: schema dict}; short names
    register too when unambiguous so relative references resolve."""
    if names is None:
        names = {}
    if isinstance(schema, list):
        for b in schema:
            collect_names(b, namespace, names)
        return names
    if not isinstance(schema, dict):
        return names
    t = schema["type"]
    ns = schema.get("namespace", namespace)
    if t in ("record", "enum", "fixed") and "name" in schema:
        fn = _fullname(schema["name"], ns)
        names[fn] = schema
        names.setdefault(schema["name"], schema)
    if t == "record":
        for f in schema.get("fields", ()):
            collect_names(f["type"], ns, names)
    elif t == "array":
        collect_names(schema["items"], ns, names)
    elif t == "map":
        collect_names(schema["values"], ns, names)
    elif isinstance(t, (dict, list)):
        collect_names(t, ns, names)
    return names


def _named(schema, names):
    """Resolve a string schema that is not a primitive against the
    names registry (previously defined record/enum/fixed)."""
    if (
        isinstance(schema, str)
        and schema not in _PRIMITIVES
    ):
        if names and schema in names:
            return names[schema]
        raise AvroError(f"unresolved named-type reference {schema!r}")
    return schema


def _decode(schema, buf: io.BytesIO, names: dict | None = None):
    schema = _named(schema, names)
    if isinstance(schema, list):  # union
        idx = _read_long(buf)
        if not 0 <= idx < len(schema):
            raise AvroError(f"union index {idx} out of range")
        return _decode(schema[idx], buf, names)
    if isinstance(schema, dict):
        t = schema["type"]
        if t == "record":
            return {
                f["name"]: _decode(f["type"], buf, names)
                for f in schema["fields"]
            }
        if t == "array":
            out = []
            while True:
                n = _read_long(buf)
                if n == 0:
                    return out
                if n < 0:  # spec: negative count -> byte size follows
                    _read_long(buf)
                    n = -n
                for _ in range(n):
                    out.append(_decode(schema["items"], buf, names))
        if t == "map":
            out = {}
            while True:
                n = _read_long(buf)
                if n == 0:
                    return out
                if n < 0:
                    _read_long(buf)
                    n = -n
                for _ in range(n):
                    k = _decode("string", buf)
                    out[k] = _decode(schema["values"], buf, names)
        if t == "enum":
            idx = _read_long(buf)
            syms = schema["symbols"]
            if not 0 <= idx < len(syms):
                raise AvroError(f"enum index {idx} out of range")
            return syms[idx]
        if t == "fixed":
            return _apply_logical(
                schema, _read_n(buf, int(schema["size"]))
            )
        # {"type": "long"} wrapper form, incl. logicalType carriers
        return _apply_logical(schema, _decode(t, buf, names))
    if schema == "null":
        return None
    if schema == "boolean":
        return _read_n(buf, 1)[0] != 0
    if schema in ("int", "long"):
        return _read_long(buf)
    if schema == "float":
        return struct.unpack("<f", _read_n(buf, 4))[0]
    if schema == "double":
        return struct.unpack("<d", _read_n(buf, 8))[0]
    if schema == "bytes":
        return _read_n(buf, _read_long(buf))
    if schema == "string":
        raw = _read_n(buf, _read_long(buf))
        try:
            return raw.decode("utf-8")
        except UnicodeDecodeError as e:
            raise AvroError("invalid utf-8 in string") from e
    raise AvroError(f"unsupported schema {schema!r}")


def _encode(schema, v, names: dict | None = None) -> bytes:
    schema = _named(schema, names)
    if isinstance(schema, list):
        for i, branch in enumerate(schema):
            if _matches(branch, v, names):
                return _write_long(i) + _encode(branch, v, names)
        raise AvroError(f"no union branch for {v!r}")
    if isinstance(schema, dict):
        t = schema["type"]
        if t == "record":
            return b"".join(
                _encode(f["type"], v[f["name"]], names)
                for f in schema["fields"]
            )
        if t == "array":
            if not v:
                return _write_long(0)
            return (
                _write_long(len(v))
                + b"".join(
                    _encode(schema["items"], x, names) for x in v
                )
                + _write_long(0)
            )
        if t == "map":
            if not v:
                return _write_long(0)
            return (
                _write_long(len(v))
                + b"".join(
                    _encode("string", k)
                    + _encode(schema["values"], x, names)
                    for k, x in v.items()
                )
                + _write_long(0)
            )
        if t == "enum":
            return _write_long(schema["symbols"].index(v))
        if t == "fixed":
            v = _to_physical(schema, v)
            if len(v) != int(schema["size"]):
                raise AvroError("fixed size mismatch")
            return bytes(v)
        return _encode(t, _to_physical(schema, v), names)
    if schema == "null":
        return b""
    if schema == "boolean":
        return b"\x01" if v else b"\x00"
    if schema in ("int", "long"):
        return _write_long(v)
    if schema == "float":
        return struct.pack("<f", v)
    if schema == "double":
        return struct.pack("<d", v)
    if schema == "bytes":
        return _write_long(len(v)) + bytes(v)
    if schema == "string":
        e = v.encode("utf-8")
        return _write_long(len(e)) + e
    raise AvroError(f"unsupported schema {schema!r}")


def _matches(schema, v, names: dict | None = None) -> bool:
    if (
        isinstance(schema, str)
        and schema not in _PRIMITIVES
        and names
        and schema in names
    ):
        schema = names[schema]
    if schema == "null":
        return v is None
    if schema == "boolean":
        return isinstance(v, bool)
    if schema in ("int", "long"):
        return isinstance(v, int) and not isinstance(v, bool)
    if schema in ("float", "double"):
        return isinstance(v, float)
    if schema == "string":
        return isinstance(v, str)
    if schema == "bytes":
        return isinstance(v, (bytes, bytearray))
    return v is not None


# --- container framing -----------------------------------------------------


def write_container(
    records: list, schema: dict, codec: str = "null",
    sync: bytes = b"\x00" * 16, records_per_block: int = 0,
) -> bytes:
    """Author a container file (fixtures, round-trip tests).
    ``records_per_block`` of 0 writes one block; otherwise records
    split across blocks of that size (exercises multi-block reads)."""
    if len(sync) != 16:
        raise AvroError("sync marker must be 16 bytes")
    names = collect_names(schema)
    meta = {
        "avro.schema": json.dumps(schema, separators=(",", ":")).encode(),
        "avro.codec": codec.encode(),
    }
    head = _MAGIC + _encode(
        {"type": "map", "values": "bytes"},
        meta,
    ) + sync
    out = bytearray(head)
    step = records_per_block or len(records) or 1
    for i in range(0, max(len(records), 1), step):
        chunk = records[i:i + step]
        if not chunk:
            break
        payload = b"".join(_encode(schema, r, names) for r in chunk)
        if codec == "deflate":
            payload = zlib.compress(payload)[2:-4]  # raw deflate, per spec
        elif codec == "snappy":
            # per spec: snappy block + 4-byte BIG-endian CRC32 of the
            # UNCOMPRESSED data
            from trollflow2_spark.extensions.snappy import compress

            payload = compress(payload) + zlib.crc32(payload).to_bytes(
                4, "big"
            )
        out += _write_long(len(chunk)) + _write_long(len(payload))
        out += payload + sync
    return bytes(out)


def read_container(blob: bytes) -> tuple[dict, list]:
    """Decode a container file -> (schema, records). Sync markers are
    verified per block."""
    buf = io.BytesIO(bytes(blob))
    if _read_n(buf, 4) != _MAGIC:
        raise AvroError("bad magic")
    meta = _decode({"type": "map", "values": "bytes"}, buf)
    try:
        schema = json.loads(meta["avro.schema"].decode("utf-8"))
    except (KeyError, ValueError) as e:
        raise AvroError("bad avro.schema metadata") from e
    codec = meta.get("avro.codec", b"null").decode("latin-1")
    if codec not in ("null", "deflate", "snappy"):
        raise AvroError(f"unsupported codec {codec!r}")
    names = collect_names(schema)
    sync = _read_n(buf, 16)
    records = []
    while True:
        probe = buf.read(1)
        if not probe:
            return schema, records
        buf.seek(-1, io.SEEK_CUR)
        n = _read_long(buf)
        size = _read_long(buf)
        payload = _read_n(buf, size)
        if codec == "deflate":
            try:
                payload = zlib.decompress(payload, wbits=-15)
            except zlib.error as e:
                raise AvroError("bad deflate block") from e
        elif codec == "snappy":
            from trollflow2_spark.extensions.snappy import (
                SnappyError,
                decompress,
            )

            if size < 4:
                raise AvroError("snappy block shorter than its CRC")
            crc = int.from_bytes(payload[-4:], "big")
            try:
                payload = decompress(payload[:-4])
            except SnappyError as e:
                raise AvroError(f"bad snappy block: {e}") from e
            if zlib.crc32(payload) != crc:
                raise AvroError("snappy block CRC mismatch")
        pbuf = io.BytesIO(payload)
        for _ in range(n):
            try:
                records.append(_decode(schema, pbuf, names))
            except RecursionError as e:
                # a recursive named type + corrupt data can nest past
                # the interpreter limit; surface it as a decode error,
                # not a blown task
                raise AvroError("recursion limit in decode") from e
        if pbuf.read(1):
            raise AvroError("trailing bytes in block")
        if _read_n(buf, 16) != sync:
            raise AvroError("sync marker mismatch")


AVRO_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("rec_idx", T.IntegerType()),
        T.StructField("json", T.StringType()),
        T.StructField("error", T.StringType()),
    ]
)


def read_avro(
    df: DataFrame, blob_col: str = "blob", id_col: str = "doc_id"
) -> DataFrame:
    """Container blobs -> one canonical-JSON row per record (+ a
    single error row for malformed files). Same downstream contract
    as the msgpack/protobuf intakes."""

    def kernel(batches: Iterator) -> Iterator:
        import pandas as pd

        def canon(v):
            import datetime as _dt
            import decimal as _decimal

            if isinstance(v, bytes):
                return v.hex()
            if isinstance(v, dict):
                return {k: canon(x) for k, x in v.items()}
            if isinstance(v, list):
                return [canon(x) for x in v]
            if isinstance(v, _decimal.Decimal):
                return str(v)  # scale-preserving: "5.00" stays "5.00"
            if isinstance(v, _dt.datetime):
                return v.strftime("%Y-%m-%dT%H:%M:%S.%f")
            if isinstance(v, _dt.date):
                return v.isoformat()
            if isinstance(v, _dt.time):
                return v.strftime("%H:%M:%S.%f")
            return v

        for pdf in batches:
            rows = []
            for d, blob in zip(pdf[id_col], pdf[blob_col]):
                d = int(d)
                try:
                    _, records = read_container(bytes(blob))
                    for i, r in enumerate(records):
                        rows.append(
                            (d, i,
                             json.dumps(canon(r), sort_keys=True,
                                        separators=(",", ":")),
                             None)
                        )
                except AvroError as e:
                    rows.append((d, -1, None, str(e)))
            yield pd.DataFrame(
                rows, columns=[f.name for f in AVRO_SCHEMA.fields]
            )

    return df.select(id_col, blob_col).mapInPandas(kernel, AVRO_SCHEMA)


def _plain_type(schema):
    if isinstance(schema, dict):
        return schema["type"]
    return schema


def resolve_value(writer, reader, v, wnames=None, rnames=None):
    """Schema-resolution of one decoded value per the spec's
    'Schema Resolution' rules: record fields match by NAME or by the
    reader field's ``aliases`` (writer fields absent from the reader
    drop; reader fields absent from the writer take their
    ``default``, loudly erroring without one), numeric promotions
    int→long→float→double, long→float→double, float→double,
    string↔bytes, and union re-matching against the reader's
    branches. Named-type references resolve on both sides (recursive
    records evolve too). Logical types ride the physical value."""
    writer = _named(writer, wnames)
    reader = _named(reader, rnames)
    if isinstance(writer, list):
        # the decoded value already collapsed to its branch; resolve
        # the VALUE against the reader directly
        return resolve_value(
            _infer_branch(writer, v), reader, v, wnames, rnames
        )
    if isinstance(reader, list):
        for branch in reader:
            try:
                return resolve_value(writer, branch, v, wnames, rnames)
            except AvroError:
                continue
        raise AvroError(
            f"value {v!r} matches no reader union branch"
        )
    wt, rt = _plain_type(writer), _plain_type(reader)
    if wt == "record" and rt == "record":
        wfields = {f["name"]: f for f in writer["fields"]}
        out = {}
        for f in reader["fields"]:
            name = f["name"]
            # spec: reader-field aliases match writer field names
            # (the rename path of schema evolution)
            src = name if name in wfields else next(
                (a for a in f.get("aliases", ()) if a in wfields),
                None,
            )
            if src is not None:
                out[name] = resolve_value(
                    wfields[src]["type"], f["type"], v[src],
                    wnames, rnames,
                )
            elif "default" in f:
                out[name] = f["default"]
            else:
                raise AvroError(
                    f"reader field {name!r} absent from writer "
                    "schema and has no default"
                )
        return out
    if wt == "array" and rt == "array":
        return [
            resolve_value(
                writer["items"], reader["items"], x, wnames, rnames
            )
            for x in v
        ]
    if wt == "map" and rt == "map":
        return {
            k: resolve_value(
                writer["values"], reader["values"], x, wnames, rnames
            )
            for k, x in v.items()
        }
    if wt == "enum" and rt == "enum":
        if v in reader["symbols"]:
            return v
        if "default" in reader:
            return reader["default"]
        raise AvroError(
            f"enum symbol {v!r} not in reader symbols"
        )
    if wt == rt:
        return v
    promotions = {
        ("int", "long"): int,
        ("int", "float"): float,
        ("int", "double"): float,
        ("long", "float"): float,
        ("long", "double"): float,
        ("float", "double"): float,
        ("string", "bytes"): lambda s: s.encode("utf-8"),
        ("bytes", "string"): lambda b: bytes(b).decode("utf-8"),
    }
    conv = promotions.get((wt, rt))
    if conv is None:
        raise AvroError(
            f"cannot resolve writer type {wt!r} to reader {rt!r}"
        )
    try:
        return conv(v)
    except (UnicodeDecodeError, TypeError, ValueError) as e:
        raise AvroError(f"promotion {wt}->{rt} failed: {e}") from e


def _infer_branch(union, v):
    for branch in union:
        if _matches(branch, v):
            return branch
    # fall back to the first non-null branch (decoded values always
    # came FROM one of these)
    for branch in union:
        if branch != "null":
            return branch
    return "null"


def read_container_resolved(blob: bytes, reader_schema: dict):
    """Decode a container with the consumer's READER schema applied —
    the evolution path every long-lived Kafka topic needs (new
    consumers with added/defaulted fields reading old archives).
    Returns (writer_schema, resolved_records)."""
    writer, records = read_container(blob)
    wnames = collect_names(writer)
    rnames = collect_names(reader_schema)
    try:
        return writer, [
            resolve_value(writer, reader_schema, r, wnames, rnames)
            for r in records
        ]
    except RecursionError as e:
        raise AvroError("recursion limit in resolution") from e


# --- Confluent wire format (registry framing) -----------------------------

def decode_wire_message(
    data: bytes, schemas_by_id: dict, reader_schema: dict | None = None
):
    """One Kafka-registry-framed Avro message: magic byte ``0x00``,
    4-byte BIG-ENDIAN schema id, then a single raw Avro datum (no
    container, no sync markers) — the framing Confluent Schema
    Registry producers ship, and what a Kafka topic dump actually
    contains (container files are the archive form). The caller
    supplies the id -> writer-schema map (in production that is the
    registry's subject-version table); an unknown id raises with the
    known ids named — guessing a schema decodes garbage silently.
    With ``reader_schema``, writer -> reader resolution applies per
    the spec (promotions, defaults, aliases) exactly as on the
    container path. Returns (schema_id, value)."""
    if len(data) < 5:
        raise AvroError(
            f"wire message too short ({len(data)} B; framing is "
            "magic + 4-byte schema id + body)"
        )
    if data[0] != 0:
        raise AvroError(
            f"bad wire magic byte 0x{data[0]:02x} "
            "(Confluent framing starts with 0x00)"
        )
    (sid,) = struct.unpack(">I", data[1:5])
    sch = schemas_by_id.get(sid)
    if sch is None:
        raise AvroError(
            f"unknown schema id {sid} "
            f"(known ids: {sorted(schemas_by_id)})"
        )
    buf = io.BytesIO(data[5:])
    names = collect_names(sch)
    v = _decode(sch, buf, names)
    if buf.read(1):
        raise AvroError("trailing bytes after wire datum")
    if reader_schema is not None:
        v = resolve_value(
            sch, reader_schema, v, names, collect_names(reader_schema)
        )
    return sid, v


AVRO_WIRE_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("schema_id", T.IntegerType()),
        T.StructField("json", T.StringType()),
        T.StructField("error", T.StringType()),
    ]
)


def read_avro_wire(
    df: DataFrame,
    schemas_by_id: dict,
    blob_col: str = "blob",
    id_col: str = "doc_id",
    reader_schema: dict | None = None,
) -> DataFrame:
    """Registry-framed blobs -> one canonical-JSON row per message
    (+ one quarantine row per undecodable blob, its schema_id
    preserved when the framing was at least readable). Same
    canonical-JSON downstream contract as `read_avro`; the id ->
    schema map broadcasts inside the task closure (a registry dump
    is control-plane-sized). One Arrow ``mapInPandas`` pass, one
    message per row — decode distributes with the messages."""

    def kernel(batches: Iterator) -> Iterator:
        import pandas as pd

        def canon(v):
            import datetime as _dt
            import decimal as _decimal

            if isinstance(v, bytes):
                return v.hex()
            if isinstance(v, dict):
                return {k: canon(x) for k, x in v.items()}
            if isinstance(v, list):
                return [canon(x) for x in v]
            if isinstance(v, _decimal.Decimal):
                return str(v)
            if isinstance(v, _dt.datetime):
                return v.strftime("%Y-%m-%dT%H:%M:%S.%f")
            if isinstance(v, _dt.date):
                return v.isoformat()
            if isinstance(v, _dt.time):
                return v.strftime("%H:%M:%S.%f")
            return v

        for pdf in batches:
            rows = []
            for d, blob in zip(pdf[id_col], pdf[blob_col]):
                d = int(d)
                raw = bytes(blob)
                sid = None
                if len(raw) >= 5 and raw[0] == 0:
                    (sid,) = struct.unpack(">I", raw[1:5])
                try:
                    sid_ok, v = decode_wire_message(
                        raw, schemas_by_id, reader_schema
                    )
                    rows.append(
                        (d, sid_ok,
                         json.dumps(canon(v), sort_keys=True,
                                    separators=(",", ":")),
                         None)
                    )
                except AvroError as e:
                    rows.append((d, sid, None, str(e)))
            yield pd.DataFrame(
                rows, columns=[f.name for f in AVRO_WIRE_SCHEMA.fields]
            )

    return df.select(id_col, blob_col).mapInPandas(
        kernel, AVRO_WIRE_SCHEMA
    )


def encode_wire_message(value, schema_id: int, schema: dict) -> bytes:
    """Fixture/round-trip side of the wire framing."""
    if not 0 <= int(schema_id) <= 0xFFFFFFFF:
        raise AvroError(f"schema id {schema_id} outside uint32")
    return (
        b"\x00"
        + struct.pack(">I", int(schema_id))
        + _encode(schema, value, collect_names(schema))
    )
