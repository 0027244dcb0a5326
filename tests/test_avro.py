"""From-scratch Avro container reader/writer (`extensions/avro.py`)."""

import pytest

from trollflow2_spark.extensions.avro import (
    AvroError,
    read_container,
    write_container,
)

SCHEMA = {
    "type": "record",
    "name": "Log",
    "fields": [
        {"name": "id", "type": "long"},
        {"name": "name", "type": "string"},
        {"name": "score", "type": "double"},
        {"name": "ok", "type": "boolean"},
        {"name": "tags", "type": {"type": "array", "items": "string"}},
        {"name": "attrs", "type": {"type": "map", "values": "long"}},
        {"name": "opt", "type": ["null", "long"]},
        {"name": "kind",
         "type": {"type": "enum", "name": "K", "symbols": ["A", "B", "C"]}},
        {"name": "chk",
         "type": {"type": "fixed", "name": "F", "size": 2}},
        {"name": "raw", "type": "bytes"},
    ],
}


def _rec(i):
    return {
        "id": -(1 << 62) + i,  # deep-negative zigzag long
        "name": f"nämé-{i}",
        "score": i * 0.5,
        "ok": i % 2 == 0,
        "tags": [f"t{j}" for j in range(i % 3)],
        "attrs": {"a": i, "b": -i},
        "opt": None if i % 2 == 0 else i,
        "kind": "ABC"[i % 3],
        "chk": bytes([i % 256, 255]),
        "raw": b"\x00\x01" * i,
    }


@pytest.mark.parametrize("codec", ["null", "deflate"])
def test_container_roundtrip(codec):
    recs = [_rec(i) for i in range(7)]
    blob = write_container(recs, SCHEMA, codec=codec)
    schema, got = read_container(blob)
    assert schema == SCHEMA
    assert got == recs


def test_multi_block_and_sync_verification():
    recs = [_rec(i) for i in range(5)]
    blob = write_container(
        recs, SCHEMA, codec="deflate", records_per_block=2,
        sync=bytes(range(16)),
    )
    _, got = read_container(blob)
    assert got == recs
    # corrupt the LAST sync marker: must fail loudly, not resync
    bad = blob[:-1] + bytes([blob[-1] ^ 0xFF])
    with pytest.raises(AvroError, match="sync"):
        read_container(bad)


def test_malformed_containers():
    with pytest.raises(AvroError, match="bad magic"):
        read_container(b"PAR1" + b"\x00" * 40)
    blob = write_container([_rec(1)], SCHEMA)
    with pytest.raises(AvroError, match="truncated"):
        read_container(blob[: len(blob) - 10])
    # unsupported codec in metadata (snappy became supported in r13)
    xz = write_container([_rec(1)], SCHEMA, codec="xz")
    with pytest.raises(AvroError, match="unsupported codec"):
        read_container(xz)


def test_union_and_enum_bounds():
    # hand-craft: union index out of range
    from trollflow2_spark.extensions.avro import _encode, _write_long

    blob = write_container([], SCHEMA)
    # decode a raw union with a bad index via the container of one
    # record whose 'opt' field we splice is overkill; test _decode
    # directly through a tiny schema instead
    import io

    from trollflow2_spark.extensions.avro import _decode

    with pytest.raises(AvroError, match="union index"):
        _decode(["null", "long"], io.BytesIO(_write_long(5)))
    with pytest.raises(AvroError, match="enum index"):
        _decode(
            {"type": "enum", "name": "K", "symbols": ["A"]},
            io.BytesIO(_write_long(3)),
        )
    assert _encode("null", None) == b""
    assert read_container(blob)[1] == []


def test_read_avro_kernel(spark):
    from trollflow2_spark.extensions.avro import read_avro

    small = {
        "type": "record", "name": "R",
        "fields": [{"name": "x", "type": "long"}],
    }
    rows = [
        (1, write_container([{"x": 5}, {"x": 6}], small)),
        (2, b"not avro"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, blob binary")
    got = sorted(
        ((r["doc_id"], r["rec_idx"], r["json"]) for r in
         read_avro(df).collect())
    )
    assert got[0] == (1, 0, '{"x":5}')
    assert got[1] == (1, 1, '{"x":6}')
    assert got[2][0] == 2 and got[2][2] is None


# --- WebDataset shard intake (extensions/webdataset.py) ---


def test_webdataset_grouping_and_dup_flag(spark):
    from trollflow2_spark.extensions.webdataset import (
        read_webdataset,
        write_webdataset,
    )

    shard = write_webdataset(
        [
            {"key": "a", "parts": {"jpg": b"III", "txt": b"cap a",
                                   "json": b'{"x":1}'}},
            {"key": "b", "parts": {"seg.png": b"PPPP"}},  # multi-dot ext
            {"key": "a", "parts": {"txt": b"again"}},     # dup occurrence
        ]
    )
    df = spark.createDataFrame([(1, shard), (2, b"bad")],
                               "doc_id long, blob binary")
    rows = read_webdataset(df).collect()
    by = {(r["doc_id"], r["ord"]): r for r in rows}
    a0 = by[(1, 0)]
    assert (a0["sample_key"], a0["n_parts"], a0["exts"]) == (
        "a", 3, "jpg,json,txt")
    assert a0["caption"] == "cap a" and a0["image_bytes"] == 3
    b1 = by[(1, 1)]
    # 'b.seg.png': key is up to the FIRST dot; png counts as image
    assert (b1["sample_key"], b1["exts"], b1["image_bytes"]) == (
        "b", "seg.png", 4)
    a2 = by[(1, 2)]
    assert (a2["sample_key"], a2["dup_key"], a2["caption"]) == (
        "a", 1, "again")
    assert by[(2, -1)]["error"] is not None


def test_logical_types_roundtrip_and_fallback():
    """decimal/date/timestamp/time/uuid resolve on decode; an unknown
    logicalType and a type-mismatched one fall back to the physical
    value per the spec (never an error)."""
    import datetime
    import decimal

    from trollflow2_spark.extensions.avro import (
        read_container,
        write_container,
    )

    schema = {
        "type": "record",
        "name": "L",
        "fields": [
            {"name": "amount", "type": {
                "type": "bytes", "logicalType": "decimal",
                "precision": 12, "scale": 2}},
            {"name": "amt_fx", "type": {
                "type": "fixed", "name": "FD", "size": 4,
                "logicalType": "decimal", "precision": 9, "scale": 3}},
            {"name": "day", "type": {
                "type": "int", "logicalType": "date"}},
            {"name": "ts_us", "type": {
                "type": "long", "logicalType": "timestamp-micros"}},
            {"name": "ts_ms", "type": {
                "type": "long", "logicalType": "timestamp-millis"}},
            {"name": "t_ms", "type": {
                "type": "int", "logicalType": "time-millis"}},
            {"name": "uid", "type": {
                "type": "string", "logicalType": "uuid"}},
            {"name": "mystery", "type": {
                "type": "long", "logicalType": "no-such-type"}},
            {"name": "mismatch", "type": {
                "type": "string", "logicalType": "date"}},
        ],
    }
    rec = {
        "amount": decimal.Decimal("-49.93"),
        "amt_fx": decimal.Decimal("1.500"),
        "day": datetime.date(2022, 3, 5),
        "ts_us": datetime.datetime(2024, 1, 2, 3, 4, 5, 123456),
        "ts_ms": datetime.datetime(2024, 1, 2, 3, 4, 5, 123000),
        "t_ms": datetime.time(13, 30, 1, 250000),
        "uid": "00000000-0000-4000-8000-000000000042",
        "mystery": 77,
        "mismatch": "2022-01-01",  # logical on wrong physical: raw
    }
    _, out = read_container(write_container([rec], schema))
    assert out[0] == rec
    # scale preservation: 5 at scale 2 decodes as 5.00, not 5
    assert str(out[0]["amt_fx"]) == "1.500"


def test_logical_decimal_negative_minimal_bytes():
    """Negative unscaled values use minimal two's-complement bytes
    and decode back exactly (sign extension must be correct)."""
    import decimal

    from trollflow2_spark.extensions.avro import (
        read_container,
        write_container,
    )

    schema = {
        "type": "record",
        "name": "D",
        "fields": [
            {"name": "v", "type": {
                "type": "bytes", "logicalType": "decimal",
                "precision": 20, "scale": 4}},
        ],
    }
    for s in ("-0.0001", "-128.0000", "127.9999", "0.0000",
              "-9999999999.1234"):
        rec = {"v": decimal.Decimal(s)}
        _, out = read_container(write_container([rec], schema))
        assert out[0]["v"] == decimal.Decimal(s), s


def test_invalid_uuid_falls_back_to_string():
    from trollflow2_spark.extensions.avro import (
        read_container,
        write_container,
    )

    schema = {
        "type": "record",
        "name": "U",
        "fields": [
            {"name": "u", "type": {
                "type": "string", "logicalType": "uuid"}},
        ],
    }
    _, out = read_container(
        write_container([{"u": "not-a-uuid"}], schema)
    )
    assert out[0]["u"] == "not-a-uuid"


def test_schema_resolution_evolution_paths():
    """Reader-schema resolution: defaults for new fields, dropped
    writer fields, numeric promotions, enum default fallback,
    string<->bytes, union re-match; missing default errors loudly."""
    import pytest as _pytest

    from trollflow2_spark.extensions.avro import (
        AvroError,
        read_container_resolved,
        resolve_value,
        write_container,
    )

    w = {
        "type": "record", "name": "R",
        "fields": [
            {"name": "id", "type": "int"},
            {"name": "score", "type": "float"},
            {"name": "tag", "type": "string"},
            {"name": "dropped", "type": "long"},
            {"name": "opt", "type": ["null", "int"]},
        ],
    }
    r = {
        "type": "record", "name": "R",
        "fields": [
            {"name": "id", "type": "long"},          # int -> long
            {"name": "score", "type": "double"},     # float -> double
            {"name": "tag", "type": "bytes"},        # string -> bytes
            {"name": "added", "type": "string", "default": "d"},
            {"name": "opt", "type": ["null", "long"]},
        ],
    }
    blob = write_container(
        [{"id": 1, "score": 1.5, "tag": "t", "dropped": 9, "opt": 7},
         {"id": 2, "score": 0.25, "tag": "u", "dropped": 8,
          "opt": None}],
        w,
    )
    _, out = read_container_resolved(blob, r)
    assert out[0] == {"id": 1, "score": 1.5, "tag": b"t",
                      "added": "d", "opt": 7}
    assert out[1]["opt"] is None and "dropped" not in out[1]
    # reader field with no default and absent from writer: loud
    bad = {
        "type": "record", "name": "R",
        "fields": [{"name": "nope", "type": "string"}],
    }
    with _pytest.raises(AvroError, match="no default"):
        read_container_resolved(blob, bad)
    # incompatible primitive: loud
    with _pytest.raises(AvroError, match="cannot resolve"):
        resolve_value("string", "int", "x")


def test_schema_resolution_enum_default_and_nested():
    from trollflow2_spark.extensions.avro import (
        read_container_resolved,
        write_container,
    )

    w = {
        "type": "record", "name": "R",
        "fields": [
            {"name": "k", "type": {
                "type": "enum", "name": "K",
                "symbols": ["A", "B", "C"]}},
            {"name": "xs", "type": {"type": "array", "items": "int"}},
        ],
    }
    r = {
        "type": "record", "name": "R",
        "fields": [
            {"name": "k", "type": {
                "type": "enum", "name": "K", "symbols": ["A"],
                "default": "A"}},
            {"name": "xs", "type": {"type": "array", "items": "long"}},
        ],
    }
    blob = write_container([{"k": "C", "xs": [1, 2]}], w)
    _, out = read_container_resolved(blob, r)
    assert out[0] == {"k": "A", "xs": [1, 2]}


def test_named_type_references_and_recursion():
    """Recursive records (self-reference by name) and type reuse by
    full name — ubiquitous in real schema registries."""
    ll = {
        "type": "record", "name": "Node", "namespace": "ex",
        "fields": [
            {"name": "value", "type": "long"},
            {"name": "next", "type": ["null", "Node"]},
        ],
    }
    recs = [
        {"value": 1,
         "next": {"value": 2, "next": {"value": 3, "next": None}}},
        {"value": 9, "next": None},
    ]
    _, got = read_container(write_container(recs, ll))
    assert got == recs
    pair = {
        "type": "record", "name": "Pair",
        "fields": [
            {"name": "a", "type": {
                "type": "record", "name": "P",
                "fields": [{"name": "x", "type": "int"}]}},
            {"name": "b", "type": "P"},
        ],
    }
    _, got = read_container(
        write_container([{"a": {"x": 1}, "b": {"x": 2}}], pair)
    )
    assert got == [{"a": {"x": 1}, "b": {"x": 2}}]
    with pytest.raises(AvroError, match="unresolved"):
        write_container(
            [{"x": None}],
            {"type": "record", "name": "Q",
             "fields": [{"name": "x", "type": "Nope"}]},
        )


def test_reader_schema_aliases_and_recursive_evolution():
    from trollflow2_spark.extensions.avro import read_container_resolved

    w = {"type": "record", "name": "R",
         "fields": [{"name": "old_name", "type": "string"},
                    {"name": "keep", "type": "int"}]}
    r = {"type": "record", "name": "R",
         "fields": [{"name": "new_name", "type": "string",
                     "aliases": ["old_name"]},
                    {"name": "keep", "type": "long"}]}
    blob = write_container([{"old_name": "hi", "keep": 5}], w)
    _, got = read_container_resolved(blob, r)
    assert got == [{"new_name": "hi", "keep": 5}]

    ll = {
        "type": "record", "name": "Node", "namespace": "ex",
        "fields": [
            {"name": "value", "type": "long"},
            {"name": "next", "type": ["null", "Node"]},
        ],
    }
    r2 = {
        "type": "record", "name": "Node", "namespace": "ex",
        "fields": [
            {"name": "value", "type": "long"},
            {"name": "tag", "type": "string", "default": "t"},
            {"name": "next", "type": ["null", "Node"]},
        ],
    }
    recs = [{"value": 1, "next": {"value": 2, "next": None}}]
    blob = write_container(recs, ll)
    _, got = read_container_resolved(blob, r2)
    assert got[0]["tag"] == "t" and got[0]["next"]["tag"] == "t"


def test_wire_format_round_trip_and_errors():
    from trollflow2_spark.extensions.avro import (
        AvroError,
        decode_wire_message,
        encode_wire_message,
    )

    user = {"type": "record", "name": "U", "fields": [
        {"name": "id", "type": "long"},
        {"name": "name", "type": "string"}]}
    msg = encode_wire_message({"id": 42, "name": "x"}, 7, user)
    assert msg[0] == 0 and msg[1:5] == b"\x00\x00\x00\x07"
    sid, v = decode_wire_message(msg, {7: user})
    assert sid == 7 and v == {"id": 42, "name": "x"}
    with pytest.raises(AvroError, match="unknown schema id 7"):
        decode_wire_message(msg, {8: user})
    with pytest.raises(AvroError, match="magic byte"):
        decode_wire_message(b"\x01" + msg[1:], {7: user})
    with pytest.raises(AvroError, match="too short"):
        decode_wire_message(b"\x00\x00", {7: user})
    with pytest.raises(AvroError, match="trailing"):
        decode_wire_message(msg + b"\x00", {7: user})


def test_wire_format_reader_resolution():
    """Evolution on the wire path: a v2 consumer (added defaulted
    field, promoted type) reads v1-framed messages."""
    from trollflow2_spark.extensions.avro import (
        decode_wire_message,
        encode_wire_message,
    )

    v1 = {"type": "record", "name": "U", "fields": [
        {"name": "id", "type": "int"}]}
    v2 = {"type": "record", "name": "U", "fields": [
        {"name": "id", "type": "long"},
        {"name": "tier", "type": "string", "default": "free"}]}
    msg = encode_wire_message({"id": 3}, 1, v1)
    sid, v = decode_wire_message(msg, {1: v1}, reader_schema=v2)
    assert sid == 1 and v == {"id": 3, "tier": "free"}
