"""Conformance + property tests for the from-scratch BSON reader
(`extensions/bson.py`): bsonspec.org known-answer vectors pin the byte
layout; hypothesis round-trips fuzz the full supported type lattice."""

import pytest
from hypothesis import given, settings, strategies as st
from pyspark.sql import Row

from trollflow2_spark.extensions.bson import (
    BsonError,
    MongoTimestamp,
    ObjectId,
    UtcDatetime,
    pack,
    pack_dump,
    read_bson_dump,
    unpack_document,
    unpack_dump,
)

HELLO = b"\x16\x00\x00\x00\x02hello\x00\x06\x00\x00\x00world\x00\x00"
AWESOME = (
    b"\x31\x00\x00\x00\x04BSON\x00\x26\x00\x00\x00\x02\x30\x00\x08\x00"
    b"\x00\x00awesome\x00\x01\x31\x00\x33\x33\x33\x33\x33\x33\x14\x40"
    b"\x10\x32\x00\xc2\x07\x00\x00\x00\x00"
)


def test_spec_vector_hello():
    # the canonical example from bsonspec.org/faq
    assert unpack_document(HELLO) == {"hello": "world"}
    assert pack({"hello": "world"}) == HELLO


def test_spec_vector_array():
    doc = unpack_document(AWESOME)
    assert doc == {"BSON": ["awesome", 5.05, 1986]}
    assert pack(doc) == AWESOME


def test_extended_types_round_trip():
    doc = {
        "_id": ObjectId(bytes(range(12))),
        "nul": None,
        "yes": True,
        "no": False,
        "i32": -(1 << 20),
        "i64": 1 << 40,
        "f": -2.5,
        "s": "héllo ☃",
        "bin": b"\x00\xff\x10",
        "dt": UtcDatetime(1700000000123),
        "mts": MongoTimestamp((7 << 32) | 3),
        "sub": {"arr": [1, "two", None, {"k": False}]},
    }
    assert unpack_document(pack(doc)) == doc


def test_dump_concatenation():
    dump = pack_dump([{"a": i} for i in range(7)])
    assert [d["a"] for d in unpack_dump(dump)] == list(range(7))


@pytest.mark.parametrize(
    "bad",
    [
        b"",
        b"\x04\x00\x00\x00",  # length below minimum
        HELLO[:10],  # truncated mid-element
        HELLO[:-1] + b"\x01",  # wrong terminator
        b"\x15\x00\x00\x00\x13a\x00" + b"\x00" * 16 + b"\x00",  # decimal128
        b"\x09\x00\x00\x00\x08a\x00\x02\x00",  # non-canonical bool
        HELLO + b"\xff",  # trailing garbage after last document
    ],
)
def test_malformed_flagged(bad):
    with pytest.raises(BsonError):
        unpack_dump(bad) if len(bad) > len(HELLO) else unpack_document(bad)


def test_array_keys_must_be_ascending():
    import struct

    inner = pack({"1": 5})  # array doc with key "1" instead of "0"
    body = b"\x04a\x00" + inner

    doc = struct.pack("<i", len(body) + 5) + body + b"\x00"
    with pytest.raises(BsonError):
        unpack_document(doc)


_scalars = st.one_of(
    st.none(),
    st.booleans(),
    st.integers(min_value=-(1 << 63), max_value=(1 << 63) - 1),
    st.floats(allow_nan=False),
    st.text(max_size=40),
    st.binary(max_size=40),
    st.builds(ObjectId, st.binary(min_size=12, max_size=12)),
    st.builds(
        UtcDatetime, st.integers(min_value=-(1 << 62), max_value=1 << 62)
    ),
    st.builds(
        MongoTimestamp, st.integers(min_value=0, max_value=(1 << 64) - 1)
    ),
)
_values = st.recursive(
    _scalars,
    lambda kids: st.one_of(
        st.lists(kids, max_size=5),
        st.dictionaries(
            st.text(
                st.characters(
                    blacklist_characters="\x00", blacklist_categories=("Cs",)
                ),
                max_size=10,
            ),
            kids,
            max_size=5,
        ),
    ),
    max_leaves=12,
)


@settings(max_examples=120, deadline=None)
@given(
    st.lists(
        st.dictionaries(
            st.text(
                st.characters(
                    blacklist_characters="\x00", blacklist_categories=("Cs",)
                ),
                max_size=10,
            ),
            _values,
            max_size=6,
        ),
        max_size=4,
    )
)
def test_round_trip_property(docs):
    assert unpack_dump(pack_dump(docs)) == docs


def test_spark_reader_shape_and_quarantine(spark):
    good = pack_dump([{"a": 1}, {"a": 2}])
    df = spark.createDataFrame(
        [Row(doc_id=1, blob=good), Row(doc_id=2, blob=good[:7])]
    )
    out = read_bson_dump(df).collect()
    rows = sorted(
        [(r.doc_id, r.idx, r.json, r.error is None) for r in out]
    )
    assert rows[0] == (1, 0, '{"a":1}', True)
    assert rows[1] == (1, 1, '{"a":2}', True)
    assert rows[2][0] == 2 and rows[2][3] is False
