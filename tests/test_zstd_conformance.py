"""Conformance suite for the from-scratch Zstandard decoder.

The system libzstd (ctypes, test-only) is the reference encoder: its
output across levels and content shapes — which exercises raw/RLE/
compressed blocks, Huffman 1- and 4-stream literals, direct and
FSE-compressed weights, treeless repeats, every sequence table mode and
the repeat-offset machinery — must decode byte-exact under our decoder.
Skipped wholesale when libzstd is absent; the production decoder never
touches it (STORE-mode fixtures are self-made)."""

from __future__ import annotations

import ctypes
import ctypes.util

import numpy as np
import pytest

from trollflow2_spark.sources.zstdcodec import (
    zstd_compress_store,
    zstd_decompress,
)


def _load_libzstd():
    for name in ("libzstd.so.1", ctypes.util.find_library("zstd")):
        if not name:
            continue
        try:
            lib = ctypes.CDLL(name)
        except OSError:
            continue
        if hasattr(lib, "ZSTD_compress"):
            lib.ZSTD_compress.restype = ctypes.c_size_t
            lib.ZSTD_compress.argtypes = [
                ctypes.c_char_p, ctypes.c_size_t, ctypes.c_char_p,
                ctypes.c_size_t, ctypes.c_int,
            ]
            lib.ZSTD_compressBound.restype = ctypes.c_size_t
            lib.ZSTD_isError.restype = ctypes.c_uint
            return lib
    return None


_LIB = _load_libzstd()

pytestmark = pytest.mark.skipif(
    _LIB is None, reason="libzstd not available for conformance checks"
)


def _ref_compress(data: bytes, level: int) -> bytes:
    bound = _LIB.ZSTD_compressBound(len(data))
    out = ctypes.create_string_buffer(bound)
    n = _LIB.ZSTD_compress(out, bound, data, len(data), level)
    assert not _LIB.ZSTD_isError(n)
    return out.raw[:n]


def test_decoder_matches_libzstd_across_levels_and_shapes():
    for seed in range(24):
        rng = np.random.default_rng(seed)
        kind = seed % 6
        n = int(rng.integers(1, 120_000))
        if kind == 0:  # incompressible -> raw blocks
            data = rng.integers(0, 256, size=n, dtype=np.uint8).tobytes()
        elif kind == 1:  # text-like -> Huffman literals
            data = rng.integers(97, 123, size=n, dtype=np.uint8).tobytes()
        elif kind == 2:  # repetitive -> long matches, repeat offsets
            unit = rng.integers(
                0, 256, size=max(1, n // 100), dtype=np.uint8
            ).tobytes()
            data = (unit * 120)[:n]
        elif kind == 3:  # constant -> RLE blocks
            data = bytes([int(rng.integers(0, 3))]) * n
        elif kind == 4:  # word soup -> FSE-compressed sequence tables
            words = [
                rng.integers(
                    97, 123, size=int(rng.integers(2, 12)), dtype=np.uint8
                ).tobytes()
                for _ in range(50)
            ]
            data = b" ".join(
                words[int(i)] for i in rng.integers(0, 50, size=n // 6 + 1)
            )[:n]
        else:  # short runs -> RLE sequence modes
            data = np.repeat(
                rng.integers(0, 256, size=n // 50 + 1, dtype=np.uint8), 50
            ).tobytes()[:n]
        level = int(rng.choice([1, 3, 6, 9, 12, 17, 19, 22]))
        blob = _ref_compress(data, level)
        assert zstd_decompress(blob) == data, (seed, kind, level, n)


def test_multiblock_and_treeless_repeats():
    """A multi-megabyte source forces many blocks in one frame —
    treeless literal repeats and table-repeat sequence modes."""
    base = open("/root/repo/trollflow2_spark/queries.py", "rb").read()
    data = base * 40
    for level in (1, 3, 9):
        assert zstd_decompress(_ref_compress(data, level)) == data


def test_concatenated_and_skippable_frames():
    a = _ref_compress(b"first part. ", 3)
    skip = (
        bytes.fromhex("502a4d18") + (5).to_bytes(4, "little") + b"dicts"
    )
    b = _ref_compress(b"second part.", 19)
    assert zstd_decompress(a + skip + b) == b"first part. second part."


def test_store_mode_roundtrip_and_cross_decode():
    """STORE-mode frames (the fixture encoder) must decode under BOTH
    implementations."""
    lib = _LIB
    lib.ZSTD_decompress.restype = ctypes.c_size_t
    lib.ZSTD_decompress.argtypes = [
        ctypes.c_char_p, ctypes.c_size_t, ctypes.c_char_p, ctypes.c_size_t
    ]
    rng = np.random.default_rng(1)
    for n in (0, 1, 255, 256, 5000, 400_000):
        payload = rng.integers(0, 256, size=n, dtype=np.uint8).tobytes()
        frame = zstd_compress_store(payload)
        assert zstd_decompress(frame) == payload
        out = ctypes.create_string_buffer(max(n, 1))
        got = lib.ZSTD_decompress(out, max(n, 1), frame, len(frame))
        assert not lib.ZSTD_isError(got) and out.raw[:got] == payload


def test_warc_zst_route():
    """gunzip_members dispatches zstd frames to the from-scratch
    decoder, so .warc.zst records parse like .warc.gz ones."""
    from trollflow2_spark.extensions.warc import gunzip_members, parse_warc_bytes

    body = b"HTTP/1.1 200 OK\r\ncontent-type: text/html\r\n\r\n<p>hi</p>"
    rec = (
        b"WARC/1.0\r\nWARC-Type: response\r\n"
        b"WARC-Target-URI: http://x/1\r\n"
        + f"Content-Length: {len(body)}".encode()
        + b"\r\n\r\n" + body + b"\r\n\r\n"
    )
    blob = _ref_compress(rec, 9) + zstd_compress_store(rec)
    assert gunzip_members(blob) == rec + rec
    parsed = parse_warc_bytes(blob, "x.warc.zst")
    assert len(parsed) == 2 and parsed[0]["http_status"] == 200


def test_zstd_rejects_garbage_without_hanging():
    rng = np.random.RandomState(0)
    for size in (0, 4, 40, 400):
        junk = rng.randint(0, 256, size=size, dtype=np.uint8).tobytes()
        try:
            zstd_decompress(b"\x28\xb5\x2f\xfd" + junk)
        except Exception:
            pass  # raising is expected; termination is the property


def test_zstd_bitflip_terminates():
    """Bit-flipped streams must terminate AND every corruption must
    surface as ValueError — the WARC intake's keep-raw-on-corruption
    contract catches ValueError, so a decoder that leaks IndexError or
    struct.error on a wild crawled body would crash the executor task
    instead of quarantining the record."""
    data = (b"the quick brown fox " * 50)
    blob = bytearray(_ref_compress(data, 9))
    rng = np.random.RandomState(3)
    for _ in range(200):
        b2 = bytearray(blob)
        i = rng.randint(4, len(b2))
        b2[i] ^= 1 << rng.randint(0, 8)
        try:
            zstd_decompress(bytes(b2), max_output=10_000_000)
        except ValueError:
            pass  # the documented corruption contract


def test_dictionary_frames_raise_with_guidance():
    with pytest.raises(ValueError, match="dictionary"):
        # frame header declaring a 1-byte dictionary id of 7
        zstd_decompress(
            bytes.fromhex("28b52ffd") + bytes([0x01, 0x00, 0x07])
            + (1 | (0 << 1) | (0 << 3)).to_bytes(3, "little")
        )


def test_content_checksums_verify_and_reject_corruption():
    """Frames written with ZSTD_c_checksumFlag verify under the
    from-scratch XXH64; a flipped checksum byte is rejected."""
    lib = _LIB
    lib.ZSTD_createCCtx.restype = ctypes.c_void_p
    lib.ZSTD_createCCtx.argtypes = []
    lib.ZSTD_CCtx_setParameter.restype = ctypes.c_size_t
    lib.ZSTD_CCtx_setParameter.argtypes = [
        ctypes.c_void_p, ctypes.c_int, ctypes.c_int
    ]
    lib.ZSTD_compress2.restype = ctypes.c_size_t
    lib.ZSTD_compress2.argtypes = [
        ctypes.c_void_p, ctypes.c_char_p, ctypes.c_size_t,
        ctypes.c_char_p, ctypes.c_size_t,
    ]
    cctx = lib.ZSTD_createCCtx()
    lib.ZSTD_CCtx_setParameter(cctx, 201, 1)  # ZSTD_c_checksumFlag
    rng = np.random.default_rng(2)
    for n in (0, 5, 1000, 50000):
        data = (rng.integers(0, 256, size=n, dtype=np.uint8).tobytes()
                if n else b"")
        bound = _LIB.ZSTD_compressBound(n)
        out = ctypes.create_string_buffer(bound)
        m = lib.ZSTD_compress2(cctx, out, bound, data, n)
        assert not _LIB.ZSTD_isError(m)
        blob = out.raw[:m]
        assert zstd_decompress(blob) == data
        bad = bytearray(blob)
        bad[-1] ^= 0xFF
        with pytest.raises(ValueError, match="checksum"):
            zstd_decompress(bytes(bad))


def test_dictionary_frames_decode_with_trained_dict():
    """Frames compressed against a ZDICT-trained dictionary decode
    byte-exact — explicitly via dict_data= and via the Common Crawl
    layout (dictionary in a 0x184D2A5D skippable frame); a referencing
    frame without its dictionary raises with guidance."""
    lib = _LIB
    lib.ZDICT_trainFromBuffer.restype = ctypes.c_size_t
    lib.ZDICT_trainFromBuffer.argtypes = [
        ctypes.c_char_p, ctypes.c_size_t, ctypes.c_char_p,
        ctypes.POINTER(ctypes.c_size_t), ctypes.c_uint,
    ]
    lib.ZDICT_isError.restype = ctypes.c_uint
    lib.ZSTD_createCCtx.restype = ctypes.c_void_p
    lib.ZSTD_createCCtx.argtypes = []
    lib.ZSTD_compress_usingDict.restype = ctypes.c_size_t
    lib.ZSTD_compress_usingDict.argtypes = [
        ctypes.c_void_p, ctypes.c_char_p, ctypes.c_size_t,
        ctypes.c_char_p, ctypes.c_size_t, ctypes.c_char_p,
        ctypes.c_size_t, ctypes.c_int,
    ]
    rng = np.random.default_rng(0)
    words = [b"the", b"crawl", b"warc", b"response", b"content", b"http",
             b"record"]
    samples = [
        b" ".join(words[int(i)] for i in rng.integers(0, 7, size=80))
        for _ in range(200)
    ]
    blob = b"".join(samples)
    sizes = (ctypes.c_size_t * len(samples))(*[len(s) for s in samples])
    buf = ctypes.create_string_buffer(20000)
    n = lib.ZDICT_trainFromBuffer(buf, 20000, blob, sizes, len(samples))
    assert not lib.ZDICT_isError(n)
    zdict = buf.raw[:n]
    cctx = lib.ZSTD_createCCtx()
    for seed in range(6):
        r = np.random.default_rng(seed + 50)
        sample = b" ".join(
            words[int(i)] for i in r.integers(0, 7,
                                              size=int(r.integers(20, 200)))
        )
        bound = _LIB.ZSTD_compressBound(len(sample))
        out = ctypes.create_string_buffer(bound)
        m = lib.ZSTD_compress_usingDict(
            cctx, out, bound, sample, len(sample), zdict, len(zdict),
            int(r.choice([1, 3, 9, 19])),
        )
        assert not _LIB.ZSTD_isError(m)
        frame = out.raw[:m]
        assert zstd_decompress(frame, dict_data=zdict) == sample
        cc = (bytes.fromhex("5d2a4d18") + len(zdict).to_bytes(4, "little")
              + zdict + frame)
        assert zstd_decompress(cc) == sample
        with pytest.raises(ValueError, match="dictionary"):
            zstd_decompress(frame)


def _load_liblz4():
    try:
        lib = ctypes.CDLL("liblz4.so.1")
    except OSError:
        return None
    if not hasattr(lib, "LZ4F_compressFrame"):
        return None
    lib.LZ4F_compressFrame.restype = ctypes.c_size_t
    lib.LZ4F_compressFrame.argtypes = [
        ctypes.c_char_p, ctypes.c_size_t, ctypes.c_char_p,
        ctypes.c_size_t, ctypes.c_void_p,
    ]
    lib.LZ4F_compressFrameBound.restype = ctypes.c_size_t
    lib.LZ4F_isError.restype = ctypes.c_uint
    return lib


_LZ4 = _load_liblz4()


@pytest.mark.skipif(_LZ4 is None, reason="liblz4 not available")
def test_lz4_decoder_matches_liblz4():
    """LZ4 frames across content shapes decode byte-exact, and the
    from-scratch XXH32 matches the known test vectors."""
    from trollflow2_spark.sources.lz4codec import lz4_decompress, xxh32

    assert xxh32(b"") == 0x02CC5D05
    assert xxh32(b"a") == 0x550D7456

    def lz4c(data):
        bound = _LZ4.LZ4F_compressFrameBound(len(data), None)
        out = ctypes.create_string_buffer(bound)
        n = _LZ4.LZ4F_compressFrame(out, bound, data, len(data), None)
        assert not _LZ4.LZ4F_isError(n)
        return out.raw[:n]

    for seed in range(8):
        rng = np.random.default_rng(seed)
        kind = seed % 4
        n = int(rng.integers(1, 200_000))
        if kind == 0:
            data = rng.integers(0, 256, size=n, dtype=np.uint8).tobytes()
        elif kind == 1:
            data = (b"repetitive pattern " * 200)[:n]
        elif kind == 2:
            data = bytes([7]) * n
        else:
            data = open(
                "/root/repo/trollflow2_spark/queries.py", "rb"
            ).read()[:n]
        assert lz4_decompress(lz4c(data)) == data
    skip = bytes.fromhex("502a4d18") + (2).to_bytes(4, "little") + b"xy"
    assert lz4_decompress(lz4c(b"one ") + skip + lz4c(b"two")) == b"one two"

    # frames with block + content checksums (explicit preferences)
    class _Prefs(ctypes.Structure):
        _fields_ = [
            ("blockSizeID", ctypes.c_int),
            ("blockMode", ctypes.c_int),
            ("contentChecksumFlag", ctypes.c_int),
            ("frameType", ctypes.c_int),
            ("contentSize", ctypes.c_ulonglong),
            ("dictID", ctypes.c_uint),
            ("blockChecksumFlag", ctypes.c_int),
            ("compressionLevel", ctypes.c_int),
            ("autoFlush", ctypes.c_uint),
            ("favorDecSpeed", ctypes.c_uint),
            ("reserved", ctypes.c_uint * 3),
        ]

    prefs = _Prefs()
    prefs.contentChecksumFlag = 1
    prefs.blockChecksumFlag = 1
    data = b"payload under checksum protection " * 40
    bound = _LZ4.LZ4F_compressFrameBound(len(data), ctypes.byref(prefs))
    out = ctypes.create_string_buffer(bound)
    n = _LZ4.LZ4F_compressFrame(out, bound, data, len(data),
                                ctypes.byref(prefs))
    assert not _LZ4.LZ4F_isError(n)
    blob = out.raw[:n]
    assert lz4_decompress(blob) == data
    bad = bytearray(blob)
    bad[-1] ^= 0xFF  # the trailing 4 bytes are the content checksum
    with pytest.raises(ValueError, match="checksum"):
        lz4_decompress(bytes(bad))
    # garbage behind the magic terminates cleanly
    rng = np.random.RandomState(0)
    for size in (0, 10, 100):
        junk = rng.randint(0, 256, size=size, dtype=np.uint8).tobytes()
        try:
            lz4_decompress(b"\x04\x22\x4d\x18" + junk)
        except Exception:
            pass


@pytest.mark.skipif(_LZ4 is None, reason="liblz4 not available")
def test_lz4_archive_member_route(tmp_path):
    """A bare .lz4 member decompresses through the scene archive
    dispatcher."""
    from trollflow2_spark.sources.scene import (
        _decompress_single_member,
        _sniff_archive_kind,
    )

    def lz4c(data):
        bound = _LZ4.LZ4F_compressFrameBound(len(data), None)
        out = ctypes.create_string_buffer(bound)
        n = _LZ4.LZ4F_compressFrame(out, bound, data, len(data), None)
        return out.raw[:n]

    p = tmp_path / "scene.dat.lz4"
    p.write_bytes(lz4c(b"scene payload bytes"))
    assert _sniff_archive_kind(str(p)) == "compressed"
    out = _decompress_single_member(str(p), ["scene.dat"])
    assert open(out[0], "rb").read() == b"scene payload bytes"
