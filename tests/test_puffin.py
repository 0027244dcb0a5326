"""Puffin framing + Iceberg v3 deletion-vector conformance
(`extensions/puffin.py`, VERDICT r14 "What's missing #2")."""

import json
import struct

import pytest

from trollflow2_spark.extensions.puffin import (
    PUFFIN_MAGIC,
    PuffinError,
    decode_dv_v3,
    encode_dv_v3,
    puffin_dv_slice,
    read_puffin_footer,
    write_puffin,
)
from trollflow2_spark.extensions.roaring import RoaringError


def _dv_meta(path, seq=1):
    return {
        "type": "deletion-vector-v1",
        "fields": [2147483546],
        "snapshot-id": 1,
        "sequence-number": seq,
        "properties": {"referenced-data-file": path},
    }


class TestFraming:
    def test_round_trip(self):
        d1 = encode_dv_v3([0, 3, 5, 2**34])
        d2 = encode_dv_v3(range(100))
        blob = write_puffin([(d1, _dv_meta("a")), (d2, _dv_meta("b"))])
        assert blob[:4] == PUFFIN_MAGIC and blob[-4:] == PUFFIN_MAGIC
        footer = read_puffin_footer(blob)
        b1, b2 = footer["blobs"]
        assert b1["offset"] == 4 and b1["length"] == len(d1)
        assert b2["offset"] == 4 + len(d1) and b2["length"] == len(d2)
        assert puffin_dv_slice(blob, b1["offset"], b1["length"]) == [
            0, 3, 5, 2**34,
        ]
        assert puffin_dv_slice(
            blob, b2["offset"], b2["length"]
        ) == list(range(100))

    def test_bad_magics_and_size(self):
        blob = write_puffin([(encode_dv_v3([1]), _dv_meta("a"))])
        with pytest.raises(PuffinError, match="head magic"):
            read_puffin_footer(b"XXXX" + blob[4:])
        with pytest.raises(PuffinError, match="tail magic"):
            read_puffin_footer(blob[:-4] + b"XXXX")
        with pytest.raises(PuffinError, match="too short"):
            read_puffin_footer(b"PFA1")
        # corrupt the payload-size word
        bad = blob[:-12] + struct.pack("<i", 10**6) + blob[-8:]
        with pytest.raises(PuffinError, match="payload size"):
            read_puffin_footer(bad)

    def test_compressed_footer_refuses(self):
        blob = bytearray(write_puffin([(encode_dv_v3([1]), _dv_meta("a"))]))
        blob[-8] |= 0x01  # flags byte 0 bit 0: lz4 footer
        with pytest.raises(NotImplementedError, match="LZ4"):
            read_puffin_footer(bytes(blob))
        blob[-8] = 0x02  # unknown flag bit
        with pytest.raises(PuffinError, match="flag bits"):
            read_puffin_footer(bytes(blob))

    def test_blob_range_validated(self):
        d = encode_dv_v3([1])
        meta = _dv_meta("a")
        blob = write_puffin([(d, meta)])
        payload = json.loads(
            blob[4 + len(d) + 4 : len(blob) - 12]
        )
        payload["blobs"][0]["offset"] = 10**6
        doctored = json.dumps(payload).encode()
        bad = (
            blob[: 4 + len(d)]
            + PUFFIN_MAGIC
            + doctored
            + struct.pack("<i", len(doctored))
            + b"\x00\x00\x00\x00"
            + PUFFIN_MAGIC
        )
        with pytest.raises(PuffinError, match="outside data region"):
            read_puffin_footer(bad)

    def test_per_blob_compression_refuses(self):
        d = encode_dv_v3([1])
        meta = {**_dv_meta("a"), "compression-codec": "zstd"}
        blob = write_puffin([(d, meta)])
        with pytest.raises(NotImplementedError, match="zstd"):
            read_puffin_footer(blob)


class TestDvBlob:
    def test_length_word_and_crc(self):
        d = bytearray(encode_dv_v3([7, 9]))
        with pytest.raises(RoaringError, match="length word"):
            decode_dv_v3(bytes(d) + b"\x00")
        d[6] ^= 0xFF
        with pytest.raises(RoaringError, match="checksum"):
            decode_dv_v3(bytes(d))
        with pytest.raises(RoaringError, match="too short"):
            decode_dv_v3(b"\x00\x01")

    def test_slice_bounds(self):
        blob = write_puffin([(encode_dv_v3([1]), _dv_meta("a"))])
        with pytest.raises(PuffinError, match="outside Puffin"):
            puffin_dv_slice(blob, len(blob), 16)
        with pytest.raises(PuffinError, match="outside Puffin"):
            puffin_dv_slice(blob, 0, 16)  # head magic is not a blob

    def test_empty_vector_round_trip(self):
        d = encode_dv_v3([])
        blob = write_puffin([(d, _dv_meta("a"))])
        b = read_puffin_footer(blob)["blobs"][0]
        assert puffin_dv_slice(blob, b["offset"], b["length"]) == []
