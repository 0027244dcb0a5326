"""From-scratch MessagePack reader/writer (`extensions/msgpack.py`)."""

import math
import struct

import pytest

from trollflow2_spark.extensions.msgpack import MsgpackError, pack, unpack


def test_int_boundaries_roundtrip():
    cases = [
        0, 1, 0x7F,                       # positive fixint edges
        -1, -32,                          # negative fixint edges
        0x80, 0xFF,                       # uint8
        0x100, 0xFFFF,                    # uint16
        0x10000, 0xFFFFFFFF,              # uint32
        0x100000000, (1 << 64) - 1,       # uint64
        -33, -128,                        # int8
        -129, -32768,                     # int16
        -32769, -(1 << 31),               # int32
        -(1 << 31) - 1, -(1 << 63),       # int64
    ]
    for v in cases:
        assert unpack(pack(v)) == v, v
    # the wire codes are the smallest ones
    assert pack(0x7F) == b"\x7f"
    assert pack(-32) == b"\xe0"
    assert pack(0xFF) == b"\xcc\xff"
    assert pack((1 << 64) - 1)[0] == 0xCF
    assert pack(-(1 << 63))[0] == 0xD3
    with pytest.raises(MsgpackError):
        pack(1 << 64)
    with pytest.raises(MsgpackError):
        pack(-(1 << 63) - 1)


def test_str_bin_array_map_boundaries():
    s31, s32 = "a" * 31, "b" * 32
    assert pack(s31)[0] == 0xA0 | 31
    assert pack(s32)[0] == 0xD9
    assert unpack(pack(s31)) == s31
    assert unpack(pack(s32)) == s32
    big = "c" * 300
    assert pack(big)[0] == 0xDA  # str16
    assert unpack(pack(big)) == big
    assert unpack(pack(b"\x00\xff")) == b"\x00\xff"
    a15, a16 = list(range(15)), list(range(16))
    assert pack(a15)[0] == 0x90 | 15
    assert pack(a16)[0] == 0xDC
    assert unpack(pack(a15)) == a15
    assert unpack(pack(a16)) == a16
    m15 = {f"k{i}": i for i in range(15)}
    m16 = {f"k{i}": i for i in range(16)}
    assert pack(m15)[0] == 0x80 | 15
    assert pack(m16)[0] == 0xDE
    assert unpack(pack(m15)) == m15
    assert unpack(pack(m16)) == m16


def test_scalars_and_nesting():
    assert unpack(pack(None)) is None
    assert unpack(pack(True)) is True
    assert unpack(pack(False)) is False
    assert unpack(pack(2.5)) == 2.5
    assert math.isnan(unpack(pack(float("nan"))))
    # float32 decodes too (we never emit it, but readers must accept)
    assert unpack(b"\xca" + struct.pack(">f", 1.5)) == 1.5
    nested = {"a": [1, {"b": None}, "x"], "c": {"d": [True, -5]}}
    assert unpack(pack(nested)) == nested


def test_ext_passthrough():
    # fixext4 (e.g. the timestamp ext type -1): surfaced, not dropped
    blob = b"\xd6\xff\x00\x00\x00\x2a"
    assert unpack(blob) == {"__ext__": 0xFF, "data": "0000002a"}


def test_malformed_inputs():
    with pytest.raises(MsgpackError, match="truncated"):
        unpack(b"\xcc")  # uint8 missing its byte
    with pytest.raises(MsgpackError, match="truncated"):
        unpack(pack({"k": "longish-value"})[:5])
    with pytest.raises(MsgpackError, match="unknown type code"):
        unpack(b"\xc1")  # the spec's never-used code
    with pytest.raises(MsgpackError, match="trailing"):
        unpack(pack(1) + b"\x00")
    with pytest.raises(MsgpackError, match="non-string map key"):
        unpack(b"\x81\x01\x02")  # {1: 2}
    with pytest.raises(MsgpackError, match="utf-8"):
        unpack(b"\xa2\xff\xfe")  # fixstr with invalid utf-8


def test_read_msgpack_kernel(spark):
    from trollflow2_spark.extensions.msgpack import read_msgpack

    rows = [
        (1, pack({"x": 1, "raw": b"\xab"})),
        (2, b"\xc1"),
        (3, pack([1, "two", None])),
    ]
    df = spark.createDataFrame(rows, "doc_id long, blob binary")
    got = {r["doc_id"]: r for r in read_msgpack(df).collect()}
    assert got[1]["json"] == '{"raw":"ab","x":1}'  # canonical: sorted, hex
    assert got[1]["error"] is None
    assert got[2]["json"] is None and "unknown" in got[2]["error"]
    assert got[3]["json"] == '[1,"two",null]'


# --- EML/MIME intake (extensions/eml.py) — shares this file's
# binary-intake fixtures style ---


def test_read_eml_paths(spark):
    """Multipart with qp+base64, RFC 2047 subject, single-part,
    nested multipart/alternative, and junk bytes -> error row."""
    from trollflow2_spark.extensions.eml import read_eml

    multi = (
        b"From: a@x.org\r\nSubject: =?utf-8?b?SMOpbGxv?=\r\n"
        b"MIME-Version: 1.0\r\n"
        b'Content-Type: multipart/mixed; boundary="BB"\r\n\r\n'
        b"--BB\r\n"
        b"Content-Type: text/plain; charset=utf-8\r\n"
        b"Content-Transfer-Encoding: quoted-printable\r\n\r\n"
        b"caf=C3=A9\r\n"
        b"--BB\r\n"
        b"Content-Type: application/pdf\r\n"
        b'Content-Disposition: attachment; filename="doc.pdf"\r\n'
        b"Content-Transfer-Encoding: base64\r\n\r\n"
        b"QUJD\r\n"
        b"--BB--\r\n"
    )
    single = b"From: b@x.org\r\nSubject: s\r\n\r\nhello\r\n"
    # alternative: html preferred by clients, but WE want text/plain
    alt = (
        b"From: c@x.org\r\nSubject: alt\r\nMIME-Version: 1.0\r\n"
        b'Content-Type: multipart/alternative; boundary="CC"\r\n\r\n'
        b"--CC\r\n"
        b"Content-Type: text/plain\r\n\r\nplain wins\r\n"
        b"--CC\r\n"
        b"Content-Type: text/html\r\n\r\n<b>html</b>\r\n"
        b"--CC--\r\n"
    )
    rows = [(1, multi), (2, single), (3, alt)]
    df = spark.createDataFrame(rows, "doc_id long, blob binary")
    got = {r["doc_id"]: r for r in read_eml(df).collect()}
    assert got[1]["subject"] == "Héllo"  # RFC 2047 decoded
    assert got[1]["body_text"].strip() == "café"
    assert (got[1]["n_attachments"], got[1]["att0_name"],
            got[1]["att0_bytes"]) == (1, "doc.pdf", 3)  # b64 'QUJD'='ABC'
    assert got[2]["body_text"].strip() == "hello"
    assert got[2]["n_parts"] == 1
    assert got[3]["body_text"].strip() == "plain wins"
    assert got[3]["n_parts"] == 2
