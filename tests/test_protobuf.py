"""Descriptor-free protobuf wire reader (`extensions/protobuf.py`)."""

import pytest

from trollflow2_spark.extensions.protobuf import (
    ProtobufError,
    _key,
    _varint,
    decode_message,
    encode_message,
)

SPEC = {
    1: ("u", "uint"),
    2: ("i", "int"),
    3: ("s", "sint"),
    4: ("b", "bool"),
    5: ("f64", "fixed64"),
    6: ("d", "double"),
    7: ("f32", "fixed32"),
    8: ("name", "string"),
    9: ("raw", "bytes"),
    10: ("packed", ["sint"]),
    11: ("msgs", [{1: ("x", "uint")}]),
}


def test_scalar_roundtrip_boundaries():
    rec = {
        "u": (1 << 64) - 1,           # max uint64 (10-byte varint)
        "i": -1,                      # int64 -1 = 10-byte varint
        "s": -(1 << 62),              # zigzag deep negative
        "b": True,
        "f64": (1 << 64) - 2,
        "d": -2.5,
        "f32": (1 << 32) - 1,
        "name": "héllo",
        "raw": b"\x00\xff",
        "packed": [0, -1, 1, -64, 63],
        "msgs": [{"x": 7}, {"x": 8}],
    }
    assert decode_message(encode_message(rec, SPEC), SPEC) == rec


def test_unknown_fields_skip_every_wire_type():
    base = encode_message({"u": 5}, SPEC)
    extra = (
        _key(90, 0) + _varint(300)                 # varint
        + _key(91, 1) + b"\x01" * 8                # fixed64
        + _key(92, 2) + _varint(3) + b"abc"        # len-delimited
        + _key(93, 5) + b"\x02" * 4                # fixed32
    )
    assert decode_message(base + extra, SPEC) == {"u": 5}


def test_packed_and_unpacked_repeated_agree():
    # unpacked form: one key per element (proto2 style) must
    # accumulate into the same list as the packed run
    unpacked = b"".join(_key(10, 0) + _varint((v << 1) ^ (v >> 63))
                        for v in (4, -3))
    assert decode_message(unpacked, SPEC) == {"packed": [4, -3]}
    packed = encode_message({"packed": [4, -3]}, SPEC)
    assert decode_message(packed, SPEC) == {"packed": [4, -3]}


def test_last_one_wins_for_scalars():
    two = encode_message({"u": 1}, SPEC) + encode_message({"u": 9}, SPEC)
    assert decode_message(two, SPEC) == {"u": 9}


def test_malformed_inputs():
    with pytest.raises(ProtobufError, match="truncated varint"):
        decode_message(b"\x80\x80", SPEC)
    with pytest.raises(ProtobufError, match="longer than 10"):
        decode_message(_key(1, 0) + b"\xff" * 10 + b"\x01", SPEC)
    with pytest.raises(ProtobufError, match="reserved wire type"):
        decode_message(_key(90, 3) + b"", SPEC)  # unknown field, wire 3
    with pytest.raises(ProtobufError, match="truncated length"):
        decode_message(_key(8, 2) + _varint(100) + b"ab", SPEC)
    with pytest.raises(ProtobufError, match="wire type"):
        # spec says uint (wire 0) but the key claims fixed64
        decode_message(_key(1, 1) + b"\x00" * 8, SPEC)
    with pytest.raises(ProtobufError, match="utf-8"):
        decode_message(_key(8, 2) + _varint(2) + b"\xff\xfe", SPEC)


def test_read_protobuf_kernel(spark):
    from trollflow2_spark.extensions.protobuf import read_protobuf

    rows = [
        (1, encode_message({"u": 3, "name": "a"}, SPEC)),
        (2, b"\x80"),  # truncated varint key
    ]
    df = spark.createDataFrame(rows, "doc_id long, blob binary")
    got = {r["doc_id"]: r for r in read_protobuf(df, SPEC).collect()}
    assert got[1]["json"] == '{"name":"a","u":3}'
    assert got[2]["json"] is None and "truncated" in got[2]["error"]
