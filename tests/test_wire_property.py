"""Property-based round-trips for the wire-format readers
(msgpack / protobuf / Avro / WebDataset): hypothesis drives nesting,
extreme integers, unicode, and empty-container edges the fixture
tests don't reach. The readers are from-scratch implementations of
public specs, so encoder->decoder identity over generated values is
the strongest cheap evidence they transcribe the specs correctly."""

from hypothesis import given, settings, strategies as st

from trollflow2_spark.extensions.avro import read_container, write_container
from trollflow2_spark.extensions.msgpack import pack, unpack
from trollflow2_spark.extensions.protobuf import decode_message, encode_message

# -- msgpack: arbitrary JSON-ish values ------------------------------------

scalars = st.one_of(
    st.none(),
    st.booleans(),
    st.integers(min_value=-(1 << 63), max_value=(1 << 64) - 1),
    st.text(max_size=40),
    st.binary(max_size=40),
)
values = st.recursive(
    scalars,
    lambda children: st.one_of(
        st.lists(children, max_size=6),
        st.dictionaries(st.text(max_size=8), children, max_size=6),
    ),
    max_leaves=25,
)


@settings(max_examples=150, deadline=None)
@given(v=values)
def test_msgpack_roundtrip(v):
    back = unpack(pack(v))
    # tuples encode as arrays; our generator emits lists only, so
    # equality is exact
    assert back == v


# -- protobuf: a fixed spec, generated field values ------------------------

PB_SPEC = {
    1: ("u", "uint"),
    2: ("i", "int"),
    3: ("s", "sint"),
    4: ("b", "bool"),
    5: ("d", "double"),
    6: ("name", "string"),
    7: ("raw", "bytes"),
    8: ("packed", ["sint"]),
    9: ("msgs", [{1: ("x", "uint"), 2: ("t", "string")}]),
    10: ("f64", "fixed64"),
    11: ("f32", "fixed32"),
}

pb_records = st.fixed_dictionaries(
    {},
    optional={
        "u": st.integers(0, (1 << 64) - 1),
        "i": st.integers(-(1 << 63), (1 << 63) - 1),
        "s": st.integers(-(1 << 63), (1 << 63) - 1),
        "b": st.booleans(),
        "d": st.floats(allow_nan=False),
        "name": st.text(max_size=30),
        "raw": st.binary(max_size=30),
        "packed": st.lists(
            st.integers(-(1 << 63), (1 << 63) - 1), max_size=8
        ),
        "msgs": st.lists(
            st.fixed_dictionaries(
                {"x": st.integers(0, 1 << 40), "t": st.text(max_size=8)}
            ),
            max_size=4,
        ),
        "f64": st.integers(0, (1 << 64) - 1),
        "f32": st.integers(0, (1 << 32) - 1),
    },
)


@settings(max_examples=120, deadline=None)
@given(rec=pb_records)
def test_protobuf_roundtrip(rec):
    # empty repeated fields are wire-absent, so drop them from the
    # expectation the way proto3 semantics do
    want = {k: v for k, v in rec.items() if v != []}
    assert decode_message(encode_message(rec, PB_SPEC), PB_SPEC) == want


# -- avro: a record schema exercising every supported type -----------------

AV_SCHEMA = {
    "type": "record",
    "name": "R",
    "fields": [
        {"name": "l", "type": "long"},
        {"name": "s", "type": "string"},
        {"name": "d", "type": "double"},
        {"name": "b", "type": "boolean"},
        {"name": "raw", "type": "bytes"},
        {"name": "xs", "type": {"type": "array", "items": "long"}},
        {"name": "m", "type": {"type": "map", "values": "string"}},
        {"name": "o", "type": ["null", "long"]},
    ],
}

av_records = st.fixed_dictionaries(
    {
        "l": st.integers(-(1 << 63), (1 << 63) - 1),
        "s": st.text(max_size=30),
        "d": st.floats(allow_nan=False),
        "b": st.booleans(),
        "raw": st.binary(max_size=30),
        "xs": st.lists(
            st.integers(-(1 << 62), (1 << 62) - 1), max_size=8
        ),
        "m": st.dictionaries(st.text(max_size=6), st.text(max_size=6),
                             max_size=5),
        "o": st.one_of(st.none(), st.integers(-(1 << 62), 1 << 62)),
    }
)


@settings(max_examples=60, deadline=None)
@given(
    recs=st.lists(av_records, max_size=6),
    codec=st.sampled_from(["null", "deflate"]),
    per_block=st.sampled_from([0, 2]),
)
def test_avro_roundtrip(recs, codec, per_block):
    blob = write_container(
        recs, AV_SCHEMA, codec=codec, records_per_block=per_block
    )
    schema, got = read_container(blob)
    assert got == recs
