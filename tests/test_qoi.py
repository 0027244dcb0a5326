"""Conformance tests for the from-scratch QOI codec."""

import numpy as np
import pytest

from trollflow2_spark.extensions.qoi import QoiError, decode_qoi, encode_qoi


def test_handcrafted_vector_all_ops():
    """A stream written byte-by-byte from the spec: literal RGB, RUN,
    DIFF, LUMA, INDEX, RGBA — decoded pixels checked exactly."""
    import struct

    body = bytearray()
    body += bytes([0xFE, 10, 20, 30])          # px0 = (10,20,30,255)
    body += bytes([0xC0 | 1])                  # px1..2: run of 2
    body += bytes([0x40 | (3 << 4) | (2 << 2) | 0])  # DIFF +1,0,-2
    # px3 = (11,20,28,255)
    body += bytes([0x80 | (10 + 32), ((2 + 8) << 4) | (0 + 8)])
    # LUMA dg=10, dr=12, db=10 -> px4 = (23,30,38,255)
    idx0 = (10 * 3 + 20 * 5 + 30 * 7 + 255 * 11) % 64
    body += bytes([idx0])                      # INDEX back to px0
    body += bytes([0xFF, 1, 2, 3, 4])          # RGBA literal
    blob = (
        b"qoif" + struct.pack(">II", 7, 1) + bytes([4, 0])
        + bytes(body) + b"\x00" * 7 + b"\x01"
    )
    got = decode_qoi(blob)
    want = np.array(
        [[(10, 20, 30, 255)] * 3
         + [(11, 20, 28, 255), (23, 30, 38, 255),
            (10, 20, 30, 255), (1, 2, 3, 4)]],
        dtype=np.uint8,
    )
    assert np.array_equal(got, want)


def test_roundtrip_shapes_and_alpha():
    rng = np.random.default_rng(11)
    for shape in [(1, 1, 3), (4, 4, 4), (3, 62, 3), (9, 5, 4)]:
        a = rng.integers(0, 256, size=shape, dtype=np.uint8)
        assert np.array_equal(decode_qoi(encode_qoi(a)), a)


def test_run_boundary_62():
    # exactly 62 and 63 identical pixels straddle the run cap
    for n in (62, 63, 124, 125):
        a = np.full((1, n, 3), 7, dtype=np.uint8)
        assert np.array_equal(decode_qoi(encode_qoi(a)), a)


def test_wraparound_deltas():
    a = np.array([[[255, 255, 255], [0, 0, 0], [254, 1, 255]]],
                 dtype=np.uint8)
    assert np.array_equal(decode_qoi(encode_qoi(a)), a)


@pytest.mark.parametrize(
    "mutate,msg",
    [
        (lambda b: b"x" + b[1:], "magic"),
        (lambda b: b[:20], "truncated|end marker"),
        (lambda b: b[:-8] + b"\x00" * 8, "end marker"),
        (lambda b: b[:12] + b"\x05" + b[13:], "channels"),
    ],
)
def test_malformed_raises(mutate, msg):
    blob = encode_qoi(np.zeros((2, 2, 3), dtype=np.uint8))
    with pytest.raises(QoiError, match=msg):
        decode_qoi(mutate(blob))


def test_decode_media_route(spark):
    from pyspark.sql import Row

    from trollflow2_spark.extensions.multimodal import decode_media

    a = np.arange(27, dtype=np.uint8).reshape(3, 3, 3)
    df = spark.createDataFrame(
        [Row(doc_id=1, media=encode_qoi(a), media_meta="image/qoi")]
    )
    r = decode_media(df).collect()[0]
    assert (r.width, r.height, r.n_channels) == (3, 3, 3)
    assert r.n_bytes == 27 and r.max_byte == 26
