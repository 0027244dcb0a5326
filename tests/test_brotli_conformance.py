"""Conformance suite for the from-scratch Brotli (RFC 7932) decoder.

The system libbrotlienc (ctypes, test-only) is the reference encoder:
its output across qualities 0-11, window sizes, and content shapes —
which exercises simple and complex prefix codes, context modeling in
all four modes, block switching, uncompressed meta-blocks, the distance
ring buffer across meta-block boundaries, and static-dictionary
references with word transforms — must decode byte-exact under our
decoder. Skipped wholesale when libbrotlienc is absent. The production
decoder reads only the RFC's DATA tables (dictionary / transforms /
context LUTs) from libbrotlicommon; the decode ALGORITHM is this
repo's."""

from __future__ import annotations

import ctypes
import ctypes.util

import numpy as np
import pytest

from trollflow2_spark.extensions.brotlicodec import brotli_decompress


def _load_libbrotlienc():
    for name in ("libbrotlienc.so.1", ctypes.util.find_library("brotlienc")):
        if not name:
            continue
        try:
            lib = ctypes.CDLL(name)
        except OSError:
            continue
        if hasattr(lib, "BrotliEncoderCompress"):
            lib.BrotliEncoderCompress.restype = ctypes.c_int
            lib.BrotliEncoderCompress.argtypes = [
                ctypes.c_int, ctypes.c_int, ctypes.c_int, ctypes.c_size_t,
                ctypes.c_char_p, ctypes.POINTER(ctypes.c_size_t),
                ctypes.c_char_p,
            ]
            lib.BrotliEncoderMaxCompressedSize.restype = ctypes.c_size_t
            return lib
    return None


_ENC = _load_libbrotlienc()

pytestmark = pytest.mark.skipif(
    _ENC is None, reason="libbrotlienc not available for conformance checks"
)


def _ref_compress(data: bytes, quality: int = 5, wbits: int = 22,
                  mode: int = 0) -> bytes:
    bound = _ENC.BrotliEncoderMaxCompressedSize(len(data)) + 64
    out = ctypes.create_string_buffer(bound)
    n = ctypes.c_size_t(bound)
    ok = _ENC.BrotliEncoderCompress(
        quality, wbits, mode, len(data), data, ctypes.byref(n), out
    )
    assert ok
    return out.raw[: n.value]


def _shapes() -> dict[str, bytes]:
    rng = np.random.RandomState(0)
    return {
        "empty": b"",
        "one": b"x",
        "random": rng.randint(0, 256, 100_000, dtype=np.uint8).tobytes(),
        "source": open(
            "/root/repo/trollflow2_spark/queries.py", "rb"
        ).read()[:150_000],
        "html": (
            b"<html><head><title>Example Domain</title></head><body><p>"
            b"This domain is for use in illustrative examples in documents."
            b" You may use this domain without prior coordination or asking"
            b" for permission.</p></body></html>" * 150
        ),
        "zeros": bytes(300_000),
        "utf8": (
            "Die Würde des Menschen ist unantastbar. Sie zu achten und"
            " zu schützen ist Verpflichtung aller staatlichen Gewalt. "
            * 400
        ).encode(),
        "mixed": (
            rng.randint(0, 256, 1000, dtype=np.uint8).tobytes()
            + b"a" * 10_000
            + open("/root/repo/README.md", "rb").read()
        ),
    }


def test_decoder_matches_libbrotli_across_qualities_and_shapes():
    """Every (shape, quality, window, mode) combination decodes
    byte-exact. q0-1 use the fast one-meta-block path, q2-9 the hashed
    matchers (multi-meta-block, complex codes), q10-11 the zopflified
    encoder with heavy context modeling and dictionary references; text
    mode leans on the static dictionary, generic on backward refs."""
    for name, data in _shapes().items():
        for q in (0, 1, 2, 5, 9, 11):
            for wbits in (10, 18, 24):
                for mode in (0, 1):  # generic, text
                    blob = _ref_compress(data, q, wbits, mode)
                    assert brotli_decompress(blob) == data, (
                        name, q, wbits, mode
                    )


def test_dictionary_words_and_transforms():
    """Short common-English payloads compress at high quality almost
    entirely into static-dictionary references with transforms (the
    compressed stream is SMALLER than any backward-reference-only
    encoding could be) — decode must replay Appendix A/B exactly."""
    phrases = [
        b"the time of the public and the other side of the world",
        b"The Internet is a global system of interconnected computer "
        b"networks that use the Internet protocol suite.",
        b"download information about the development of the government",
    ]
    for p in phrases:
        blob = _ref_compress(p, quality=11, mode=1)
        assert brotli_decompress(blob) == p
        # high-quality text-mode encoding of dictionary-heavy text must
        # actually be beating raw storage, i.e. the dictionary fired
        assert len(blob) < len(p)


def test_ring_buffer_persists_across_meta_blocks():
    """A payload larger than one meta-block whose repeats straddle the
    boundary: the first commands of meta-block N+1 reference the last
    distances of meta-block N (regression for the per-stream ring
    buffer)."""
    unit = open("/root/repo/trollflow2_spark/queries.py", "rb").read()
    data = (unit * 4)[:400_000]
    for q in (2, 5, 9):
        blob = _ref_compress(data, q)
        assert brotli_decompress(blob) == data


def test_corruption_surfaces_as_valueerror():
    """Bit flips, truncations, and pure garbage must terminate AND
    raise ValueError only — the WARC intake's keep-raw contract."""
    data = open("/root/repo/trollflow2_spark/extensions/text.py", "rb").read()
    blob = bytearray(_ref_compress(data, 9))
    rng = np.random.RandomState(11)
    for cut in range(1, 60):
        with pytest.raises(ValueError):
            brotli_decompress(bytes(blob[:-cut]), max_output=10_000_000)
            # a shorter prefix CAN be a valid stream only if it still
            # carries the final meta-block — with q9 framing it never is
    for _ in range(120):
        b2 = bytearray(blob)
        for _ in range(rng.randint(1, 4)):
            b2[rng.randint(0, len(b2))] = rng.randint(0, 256)
        try:
            brotli_decompress(bytes(b2), max_output=10_000_000)
        except ValueError:
            pass  # the documented corruption contract
    for seed in range(30):
        g = np.random.RandomState(seed).randint(
            0, 256, 2000, dtype=np.uint8
        ).tobytes()
        try:
            brotli_decompress(g, max_output=10_000_000)
        except ValueError:
            pass


def test_uncompressed_and_empty_blocks():
    """Incompressible data at q0 forces ISUNCOMPRESSED meta-blocks;
    empty input is the 1-byte last-empty stream."""
    rng = np.random.RandomState(3)
    data = rng.randint(0, 256, 70_000, dtype=np.uint8).tobytes()
    assert brotli_decompress(_ref_compress(data, 0)) == data
    assert brotli_decompress(_ref_compress(b"", 5)) == b""


def test_warc_br_body_route():
    """An HTTP response with content-encoding: br inside a WARC record
    decodes through the intake; a corrupt br body stays raw (hygiene
    gates flag it) instead of crashing the parse."""
    from trollflow2_spark.extensions.warc import _parse_http

    body = (b"<html><body>" + b"brotli encoded page " * 50 + b"</body></html>")
    comp = _ref_compress(body, 5, mode=1)
    payload = (
        b"HTTP/1.1 200 OK\r\ncontent-type: text/html\r\n"
        b"content-encoding: br\r\n\r\n" + comp
    )
    status, ctype, got = _parse_http(payload)
    assert status == 200 and got == body

    corrupt = comp[:-7]
    payload = (
        b"HTTP/1.1 200 OK\r\ncontent-type: text/html\r\n"
        b"content-encoding: br\r\n\r\n" + corrupt
    )
    status, ctype, got = _parse_http(payload)
    assert status == 200 and got == corrupt  # kept raw, no crash
