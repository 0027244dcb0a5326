"""Conformance + fuzz tests for the from-scratch snappy block codec
and its Avro container integration."""

import zlib

import pytest
from hypothesis import given, settings, strategies as st

from trollflow2_spark.extensions.snappy import (
    SnappyError,
    compress,
    decompress,
)


def test_known_answer_literals():
    # "hi": varint 2, literal tag len-1=1 -> 0x04, bytes
    assert decompress(b"\x02\x04hi") == b"hi"
    assert decompress(b"\x00") == b""


def test_known_answer_copy_forms():
    # "abcd" + copy1(len 4, off 4) -> "abcdabcd"
    # copy1 tag: kind 1, len 4 -> (4-4)<<2 | 1 = 0x01, off 4 -> hi=0, lo=4
    blob = b"\x08" + b"\x0cabcd" + b"\x01\x04"
    assert decompress(blob) == b"abcdabcd"
    # copy2: same copy with 2-byte offset: tag (4-1)<<2|2 = 0x0e
    blob = b"\x08" + b"\x0cabcd" + b"\x0e\x04\x00"
    assert decompress(blob) == b"abcdabcd"
    # copy4: tag (4-1)<<2|3 = 0x0f
    blob = b"\x08" + b"\x0cabcd" + b"\x0f\x04\x00\x00\x00"
    assert decompress(blob) == b"abcdabcd"


def test_overlapping_copy_is_rle():
    # "a" then copy(len 7, off 1) -> "aaaaaaaa"
    blob = b"\x08" + b"\x00a" + b"\x0e\x01\x00"  # copy2 len 4 off 1
    # len 4 via copy2 gives "aaaaa" total 5; declared 8 -> mismatch;
    # build precisely: literal "a" + copy2 len 7 off 1
    blob = b"\x08" + b"\x00a" + bytes([(7 - 1) << 2 | 2]) + b"\x01\x00"
    assert decompress(blob) == b"a" * 8


def test_long_literal_length_escape():
    data = bytes(range(256)) * 2  # 512 bytes, no 4-byte repeats? has;
    # force all-literal via direct emit: length 512 needs 2-byte escape
    from trollflow2_spark.extensions.snappy import (
        _emit_literal,
        _write_uvarint,
    )

    out = bytearray(_write_uvarint(512))
    _emit_literal(out, data)
    assert decompress(bytes(out)) == data


@pytest.mark.parametrize(
    "bad",
    [
        b"",  # no varint
        b"\x80",  # truncated varint
        b"\x05\x04hi",  # declared 5, produces 2
        b"\x02\xf0",  # literal length escape truncated
        b"\x04\x0cab",  # literal overruns input
        b"\x08\x0cabcd\x0e\x00\x00",  # offset 0
        b"\x08\x0cabcd\x0e\x09\x00",  # offset beyond window
        b"\x08\x0cabcd\x0e\x04",  # truncated copy2 offset
    ],
)
def test_malformed_raises(bad):
    with pytest.raises(SnappyError):
        decompress(bad)


@settings(max_examples=200, deadline=None)
@given(
    st.binary(max_size=4096)
    | st.builds(
        lambda pat, n: pat * n,
        st.binary(min_size=1, max_size=8),
        st.integers(min_value=1, max_value=600),
    )
)
def test_roundtrip_fuzz(data):
    assert decompress(compress(data)) == data


def test_compressor_actually_compresses_repeats():
    data = b"the quick brown fox " * 200
    assert len(compress(data)) < len(data) // 4


def test_avro_container_snappy_roundtrip_and_crc():
    from trollflow2_spark.extensions.avro import (
        AvroError,
        read_container,
        write_container,
    )

    schema = {
        "type": "record",
        "name": "R",
        "fields": [{"name": "x", "type": "long"},
                   {"name": "s", "type": "string"}],
    }
    recs = [{"x": i, "s": f"value-{i % 7}"} for i in range(50)]
    blob = write_container(
        recs, schema, codec="snappy", records_per_block=16
    )
    _, out = read_container(blob)
    assert out == recs
    # corrupt one payload byte: either the snappy stream breaks or
    # the CRC catches it — silent corruption is the only wrong answer
    corrupt = bytearray(blob)
    corrupt[-30] ^= 0xFF
    with pytest.raises(AvroError):
        read_container(bytes(corrupt))


def test_crc_is_of_uncompressed_data():
    from trollflow2_spark.extensions.avro import write_container

    schema = {"type": "record", "name": "R",
              "fields": [{"name": "x", "type": "long"}]}
    blob = write_container([{"x": 1}], schema, codec="snappy")
    # last 16 bytes are the sync marker; the 4 before that are the CRC
    crc = int.from_bytes(blob[-20:-16], "big")
    from trollflow2_spark.extensions.avro import _encode

    payload = _encode(schema, {"x": 1})
    assert crc == zlib.crc32(payload)
