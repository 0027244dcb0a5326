"""RFC 8949 conformance tests for the from-scratch CBOR codec —
known-answer vectors straight from Appendix A, plus the malformed
taxonomy and the Spark intake."""

import math

import pytest

from trollflow2_spark.extensions.cbor import (
    CborError,
    decode,
    decode_all,
    encode,
)


# (hex, expected) pairs from RFC 8949 Appendix A
VECTORS = [
    ("00", 0),
    ("01", 1),
    ("0a", 10),
    ("17", 23),
    ("1818", 24),
    ("18ff", 255),
    ("190100", 256),
    ("1a000f4240", 1000000),
    ("1b000000e8d4a51000", 1000000000000),
    ("20", -1),
    ("29", -10),
    ("3863", -100),
    ("3903e7", -1000),
    ("f90000", 0.0),
    ("f93c00", 1.0),
    ("f93e00", 1.5),
    ("f97bff", 65504.0),
    ("fa47c35000", 100000.0),
    ("f9c400", -4.0),
    ("fb3ff199999999999a", 1.1),
    ("f4", False),
    ("f5", True),
    ("f6", None),
    ("f7", None),  # undefined -> null for the JSON contract
    ("40", b""),
    ("4401020304", b"\x01\x02\x03\x04"),
    ("60", ""),
    ("6161", "a"),
    ("6449455446", "IETF"),
    ("62225c", "\"\\"),
    ("62c3bc", "ü"),
    ("80", []),
    ("83010203", [1, 2, 3]),
    ("8301820203820405", [1, [2, 3], [4, 5]]),
    ("98190102030405060708090a0b0c0d0e0f101112131415161718181819",
     list(range(1, 26))),
    ("a0", {}),
    ("a201020304", {1: 2, 3: 4}),
    ("a26161016162820203", {"a": 1, "b": [2, 3]}),
    ("826161a161626163", ["a", {"b": "c"}]),
    # tags: 0 datetime string, 1 epoch, 2 bignum
    ("c074323031332d30332d32315432303a30343a30305a",
     "2013-03-21T20:04:00Z"),
    ("c11a514b67b0", 1363896240),
    ("c249010000000000000000", 18446744073709551616),
    ("c349010000000000000000", -18446744073709551617),
    # indefinite-length forms
    ("5f42010243030405ff", b"\x01\x02\x03\x04\x05"),
    ("7f657374726561646d696e67ff", "streaming"),
    ("9fff", []),
    ("9f018202039f0405ffff", [1, [2, 3], [4, 5]]),
    ("bf61610161629f0203ffff", {"a": 1, "b": [2, 3]}),
]


@pytest.mark.parametrize("hx,want", VECTORS)
def test_rfc8949_appendix_a(hx, want):
    got = decode(bytes.fromhex(hx))
    if isinstance(want, float):
        assert got == want and isinstance(got, float)
    else:
        assert got == want


def test_half_precision_specials():
    assert decode(bytes.fromhex("f97c00")) == math.inf
    assert decode(bytes.fromhex("f9fc00")) == -math.inf
    assert math.isnan(decode(bytes.fromhex("f97e00")))
    # subnormal half: 5.960464477539063e-8
    assert decode(bytes.fromhex("f90001")) == 2.0 ** -24


def test_unknown_tag_surfaces():
    # tag 32 (URI) around a text string
    got = decode(bytes.fromhex("d82076687474703a2f2f7777772e6578616d706c652e636f6d"))
    assert got == {"__tag": 32, "value": "http://www.example.com"}


@pytest.mark.parametrize(
    "hx,msg",
    [
        ("18", "truncated"),           # uint8 arg missing
        ("1c", "reserved"),            # additional-info 28
        ("ff", "break"),               # stray break
        ("5f6161ff", "wrong type"),    # text chunk in byte string
        ("5f5f4161ffff", "nested indefinite"),
        ("8301", "truncated"),         # array of 3 with 1 item
        ("0001", "trailing"),          # two items where one expected
        ("62ff00", "utf-8"),           # invalid utf-8 text
        ("c101", None),                # tag 1 over int: fine, = 1
    ],
)
def test_malformed_taxonomy(hx, msg):
    if msg is None:
        decode(bytes.fromhex(hx))
        return
    with pytest.raises(CborError, match=msg):
        decode(bytes.fromhex(hx))


def test_sequence_decode_and_roundtrip():
    items = [
        {"k": 1, "arr": [1, -5, "x"], "b": b"\x00\xff"},
        [True, False, None, 2.5],
        "solo",
    ]
    blob = b"".join(encode(i) for i in items)
    assert decode_all(blob) == items


def test_spark_intake_quarantine(spark):
    from pyspark.sql import Row

    from trollflow2_spark.extensions.cbor import read_cbor

    good = encode({"a": 1}) + encode([2, 3])
    bad = bytes.fromhex("8301")  # truncated array
    df = spark.createDataFrame(
        [Row(doc_id=1, blob=good), Row(doc_id=2, blob=bad)]
    )
    rows = {(r.doc_id, r.item_idx): r for r in read_cbor(df).collect()}
    assert rows[(1, 0)].json == '{"a":1}'
    assert rows[(1, 1)].json == "[2,3]"
    assert rows[(2, -1)].error and "truncated" in rows[(2, -1)].error


def test_simple_values_surface_distinctly():
    from trollflow2_spark.extensions.cbor import CborError, decode

    assert decode(b"\xf8\x20") == {"__simple": 32}
    assert decode(b"\xe0") == {"__simple": 0}
    assert decode(b"\xf3") == {"__simple": 19}
    # RFC 8949 §3.3: two-byte simple < 32 is not well-formed
    with pytest.raises(CborError, match="not well-formed"):
        decode(b"\xf8\x10")


def test_nesting_depth_quarantines_not_crashes(spark):
    from trollflow2_spark.extensions.cbor import CborError, decode, read_cbor

    deep = b"\x81" * 2000 + b"\x00"
    with pytest.raises(CborError, match="nesting"):
        decode(deep)
    # through the Spark kernel it must become an err row, not a
    # failed task
    df = spark.createDataFrame(
        [(1, bytearray(deep))], "doc_id long, blob binary"
    )
    rows = read_cbor(df).collect()
    assert len(rows) == 1 and rows[0]["error"] is not None
