"""Property-based round-trip tests for the stdlib raster codecs.

The PNG/TIFF/NetCDF encoders are from-scratch implementations of public
format specs; hypothesis drives shape/dtype/content edge cases the
golden-pixel tests don't reach (1-pixel images, extreme values, NaN
patterns, multi-channel layouts)."""

import numpy as np
from hypothesis import given, settings, strategies as st

from trollflow2_spark.sinks import imagery, netcdf

dims = st.integers(min_value=1, max_value=17)


@settings(max_examples=30, deadline=None)
@given(h=dims, w=dims, seed=st.integers(0, 2**31 - 1))
def test_png_gray_roundtrip(h, w, seed):
    rng = np.random.RandomState(seed)
    arr = rng.randint(0, 256, size=(h, w), dtype=np.uint8)
    assert np.array_equal(imagery.decode_png(imagery.encode_png(arr)), arr)


@settings(max_examples=20, deadline=None)
@given(h=dims, w=dims, ch=st.sampled_from([3, 4]), seed=st.integers(0, 2**31 - 1))
def test_png_color_roundtrip(h, w, ch, seed):
    rng = np.random.RandomState(seed)
    arr = rng.randint(0, 256, size=(h, w, ch), dtype=np.uint8)
    assert np.array_equal(imagery.decode_png(imagery.encode_png(arr)), arr)


@settings(max_examples=30, deadline=None)
@given(
    h=dims,
    w=dims,
    seed=st.integers(0, 2**31 - 1),
    deflate=st.booleans(),
    dtype=st.sampled_from(["uint8", "float32", "float64"]),
)
def test_geotiff_roundtrip(h, w, seed, deflate, dtype):
    rng = np.random.RandomState(seed)
    if dtype == "uint8":
        arr = rng.randint(0, 256, size=(h, w), dtype=np.uint8)
    else:
        arr = (rng.randn(h, w) * 1e6).astype(dtype)
    blob = imagery.encode_geotiff(
        arr, compress="DEFLATE" if deflate else "NONE", pixel_scale=(0.5, 0.25),
        tiepoint=(-10.0, 60.0),
    )
    pages, tags = imagery.decode_geotiff(blob)
    assert len(pages) == 1
    np.testing.assert_array_equal(pages[0], arr)
    assert tags[imagery.TAG_MODEL_PIXEL_SCALE][:2] == [0.5, 0.25]


@settings(max_examples=30, deadline=None)
@given(
    h=dims,
    w=dims,
    n_vars=st.integers(1, 4),
    seed=st.integers(0, 2**31 - 1),
    with_nan=st.booleans(),
)
def test_netcdf_roundtrip(h, w, n_vars, seed, with_nan):
    rng = np.random.RandomState(seed)
    variables = {}
    for i in range(n_vars):
        a = rng.randn(h, w) * 10 ** rng.randint(-3, 6)
        if with_nan:
            a[rng.rand(h, w) < 0.3] = np.nan
        variables[f"var_{i}"] = a
    attrs = {"sensor": "x", "count": 3, "scale": 0.125}
    blob = netcdf.encode_netcdf(variables, attrs)
    out_vars, out_attrs = netcdf.decode_netcdf(blob)
    assert set(out_vars) == set(variables)
    for k, a in variables.items():
        np.testing.assert_array_equal(out_vars[k], a)  # NaN-exact (bitwise IEEE)
    assert out_attrs == attrs


@settings(max_examples=30, deadline=None)
@given(h=dims, w=dims, seed=st.integers(0, 2**31 - 1))
def test_stretch_never_crashes_and_bounds(h, w, seed):
    rng = np.random.RandomState(seed)
    arr = rng.randn(h, w) * 10 ** rng.randint(-2, 8)
    arr[rng.rand(h, w) < 0.4] = np.nan
    out = imagery.stretch_to_uint8(arr, fill_value=5)
    assert out.dtype == np.uint8 and out.shape == (h, w)
    assert np.isnan(arr).sum() == (out == 5).sum() or not np.isnan(arr).any() or (
        # fill value may coincide with stretched values; the guarantee is
        # only that every NaN cell carries the fill value
        (out[np.isnan(arr)] == 5).all()
    )


@settings(max_examples=25, deadline=None)
@given(h=dims, w=dims, v=st.integers(0, 127))
def test_jpeg_constant_even_blocks_exact(h, w, v):
    """Constant even-valued images survive baseline JPEG losslessly:
    DC-only blocks whose quantized coefficient divides exactly."""
    from trollflow2_spark.extensions import jpeg

    arr = np.full((h, w), v * 2, dtype=np.uint8)
    out = jpeg.decode_jpeg(jpeg.encode_jpeg_gray(arr, quality=50))
    assert out.shape == arr.shape
    assert np.array_equal(out, arr)


@settings(max_examples=15, deadline=None)
@given(h=dims, w=dims, seed=st.integers(0, 2**31 - 1),
       quality=st.integers(70, 95))
def test_jpeg_lossy_roundtrip_tolerance(h, w, seed, quality):
    """Arbitrary images round-trip within a lossy-compression tolerance
    that tightens with quality (worst-case random noise stays bounded)."""
    from trollflow2_spark.extensions import jpeg

    rng = np.random.RandomState(seed)
    arr = rng.randint(0, 256, size=(h, w), dtype=np.uint8)
    out = jpeg.decode_jpeg(jpeg.encode_jpeg_gray(arr, quality=quality))
    assert out.shape == arr.shape
    err = np.abs(out.astype(int) - arr.astype(int))
    # random noise is JPEG's worst case; q>=70 keeps it bounded but not
    # small — these are spec-realistic bounds, not fidelity claims
    assert err.max() <= 60
    assert err.mean() <= 20


@settings(max_examples=10, deadline=None)
@given(seed=st.integers(0, 2**31 - 1))
def test_jpeg_smooth_images_high_fidelity(seed):
    """Smooth gradients (what JPEG is built for) reconstruct closely."""
    from trollflow2_spark.extensions import jpeg

    rng = np.random.RandomState(seed)
    fx, fy = rng.uniform(4, 15, size=2)
    x, y = np.meshgrid(np.arange(40), np.arange(24))
    arr = ((np.sin(x / fx) + np.cos(y / fy)) * 55 + 128).astype(np.uint8)
    out = jpeg.decode_jpeg(jpeg.encode_jpeg_gray(arr, quality=85))
    err = np.abs(out.astype(int) - arr.astype(int))
    assert err.max() <= 12


@settings(max_examples=12, deadline=None)
@given(h=dims, w=dims, v=st.integers(0, 127),
       subsample=st.sampled_from(["444", "420"]))
def test_jpeg_constant_color_exact(h, w, v, subsample):
    """Constant gray-RGB images survive color JPEG losslessly in both
    subsampling modes (zero chroma coefficients, lossless even luma)."""
    from trollflow2_spark.extensions import jpeg

    arr = np.full((h, w, 3), v * 2, dtype=np.uint8)
    out = jpeg.decode_jpeg(jpeg.encode_jpeg(arr, quality=50, subsample=subsample))
    assert out.shape == arr.shape
    assert np.array_equal(out, arr)


@settings(max_examples=10, deadline=None)
@given(h=dims, w=dims, seed=st.integers(0, 2**31 - 1),
       subsample=st.sampled_from(["444", "420"]))
def test_jpeg_color_roundtrip_tolerance(h, w, seed, subsample):
    """Arbitrary RGB images round-trip within tolerance; 4:2:0 pays the
    chroma-resolution price on sharp color edges but stays bounded."""
    from trollflow2_spark.extensions import jpeg

    rng = np.random.RandomState(seed)
    arr = rng.randint(0, 256, size=(h, w, 3), dtype=np.uint8)
    out = jpeg.decode_jpeg(jpeg.encode_jpeg(arr, quality=90, subsample=subsample))
    assert out.shape == arr.shape
    err = np.abs(out.astype(int) - arr.astype(int))
    # random-color noise is the pathological case for chroma
    # subsampling (tiny images especially) — sanity bounds only
    assert err.mean() <= (65 if subsample == "420" else 25)


@settings(max_examples=20, deadline=None)
@given(h=dims, w=dims, seed=st.integers(0, 2**31 - 1),
       color=st.booleans(), subsample=st.sampled_from(["444", "420"]))
def test_jpeg_progressive_equals_baseline(h, w, seed, color, subsample):
    """The progressive encoder carries the exact same quantized
    coefficients as the baseline one, so decoding its stream must
    reproduce the baseline decode PIXEL-EXACTLY — a far stronger
    property than a lossy tolerance: any error in the four progressive
    scan codecs (DC/AC x first/refine) breaks exact equality."""
    from trollflow2_spark.extensions import jpeg

    rng = np.random.RandomState(seed)
    shape = (h, w, 3) if color else (h, w)
    arr = rng.randint(0, 256, size=shape, dtype=np.uint8)
    base = jpeg.decode_jpeg(jpeg.encode_jpeg(arr, quality=75, subsample=subsample))
    prog = jpeg.decode_jpeg(
        jpeg.encode_jpeg_progressive(arr, quality=75, subsample=subsample)
    )
    assert np.array_equal(base, prog)


@settings(max_examples=15, deadline=None)
@given(h=dims, w=dims, v=st.integers(0, 127))
def test_jpeg_progressive_constant_even_exact(h, w, v):
    """Constant even-valued images survive the progressive path
    losslessly, like baseline — the contract-query oracle's premise."""
    from trollflow2_spark.extensions import jpeg

    arr = np.full((h, w), v * 2, dtype=np.uint8)
    out = jpeg.decode_jpeg(jpeg.encode_jpeg_progressive(arr, quality=50))
    assert out.shape == arr.shape
    assert np.array_equal(out, arr)


@settings(max_examples=20, deadline=None)
@given(h=dims, w=dims, seed=st.integers(0, 2**31 - 1),
       color=st.booleans(), ri=st.integers(1, 9))
def test_jpeg_restart_interval_equals_plain(h, w, seed, color, ri):
    """Restart markers are a pure entropy-layout feature: a stream
    encoded with any DRI decodes pixel-identically to the plain stream
    (same quantized coefficients; predictors reset at each RSTn).
    Exercises byte-pad + marker consumption and the modulo-8 marker
    cycle across arbitrary MCU counts."""
    from trollflow2_spark.extensions import jpeg

    rng = np.random.RandomState(seed)
    shape = (h, w, 3) if color else (h, w)
    arr = rng.randint(0, 256, size=shape, dtype=np.uint8)
    plain = jpeg.decode_jpeg(jpeg.encode_jpeg(arr, quality=80))
    rst = jpeg.decode_jpeg(
        jpeg.encode_jpeg(arr, quality=80, restart_interval=ri)
    )
    assert np.array_equal(plain, rst)


@settings(max_examples=20, deadline=None)
@given(
    n=st.integers(1, 700),
    ch=st.integers(1, 3),
    bps=st.sampled_from([8, 12, 16, 24]),
    seed=st.integers(0, 2**31 - 1),
    strategy=st.sampled_from(["fixed", "verbatim"]),
    block=st.sampled_from([32, 256, 4096]),
)
def test_flac_roundtrip_exact(n, ch, bps, seed, strategy, block):
    """FLAC is lossless: any signal round-trips EXACTLY through both
    encoder strategies, at every supported bit depth, across frame
    boundaries (block < n) and partial tail frames."""
    from trollflow2_spark.extensions import flac

    rng = np.random.RandomState(seed)
    lo, hi = -(1 << (bps - 1)), (1 << (bps - 1)) - 1
    s = rng.randint(lo, hi + 1, size=(n, ch)).astype(np.int64)
    blob = flac.encode_flac(
        s, 22050, bits_per_sample=bps, block_size=block, subframe=strategy
    )
    out, rate, obps = flac.decode_flac(blob)
    assert (rate, obps) == (22050, bps)
    assert np.array_equal(out, s)


def _flac_stream_with_frame(frame: bytes, n: int, n_ch: int) -> bytes:
    """fLaC header + STREAMINFO (borrowed from the encoder) + one
    hand-crafted frame — lets tests drive decoder paths the encoder
    never emits (LPC subframes, stereo decorrelation modes)."""
    from trollflow2_spark.extensions import flac

    tmpl = flac.encode_flac(
        np.zeros((n, n_ch), dtype=np.int64), 8000, 16, block_size=max(n, 16)
    )
    return tmpl[: 4 + 4 + 34] + frame


def _frame_header(n: int, ch_code: int) -> bytearray:
    from trollflow2_spark.extensions import flac

    bw = flac._BitWriter()
    bw.write(0x3FFE, 14)
    bw.write(0, 2)  # reserved + fixed blocking
    bw.write(0b0111, 4)  # 16-bit blocksize at end
    bw.write(0b0000, 4)  # rate from STREAMINFO
    bw.write(ch_code, 4)
    bw.write(0b100, 3)  # 16 bps
    bw.write(0, 1)
    bw.align()
    hdr = bytearray(bw.bytes())
    hdr += flac._utf8_number(0)
    hdr += (n - 1).to_bytes(2, "big")
    hdr.append(flac._crc8(bytes(hdr)))
    return hdr


def _finish_frame(hdr: bytearray, body) -> bytes:
    from trollflow2_spark.extensions import flac

    body.align()
    frame = bytes(hdr) + body.bytes()
    return frame + flac._crc16(frame).to_bytes(2, "big")


def test_flac_decodes_handcrafted_lpc_subframe():
    """LPC subframes (which the fixed-predictor encoder never emits)
    decode correctly: order-2 coefficients [2, -1] at shift 0 replicate
    the fixed-2 predictor, so a linear ramp has all-zero residuals."""
    from trollflow2_spark.extensions import flac

    n = 12
    ramp = np.arange(40, 40 + n, dtype=np.int64)
    hdr = _frame_header(n, ch_code=0)  # 1 channel
    body = flac._BitWriter()
    body.write(0, 1)
    body.write(0b100001, 6)  # LPC, order 2
    body.write(0, 1)  # no wasted bits
    body.write(int(ramp[0]), 16)
    body.write(int(ramp[1]), 16)
    body.write(3, 4)  # precision 4
    body.write(0, 5)  # shift 0
    body.write(2, 4)  # coef 2
    body.write(-1, 4)  # coef -1
    body.write(0b00, 2)  # rice method
    body.write(0, 4)  # partition order 0
    body.write(0, 4)  # rice param 0
    for _ in range(n - 2):
        body.write(1, 1)  # zero residual: unary 0 -> single 1-bit
    blob = _flac_stream_with_frame(_finish_frame(hdr, body), n, 1)
    out, rate, bps = flac.decode_flac(blob)
    assert np.array_equal(out[:, 0], ramp)


def test_flac_decodes_stereo_decorrelation_modes():
    """left/side, right/side and mid/side channel assignments (never
    emitted by the independent-channels encoder) reconstruct the
    original stereo pair; the side channel carries its extra bit."""
    from trollflow2_spark.extensions import flac

    n = 8
    left, right = 1000, -25
    side = left - right
    for ch_code, subvals in [
        (0b1000, [(16, left), (17, side)]),  # left/side
        (0b1001, [(17, side), (16, right)]),  # right/side
        (0b1010, [(16, (left + right) >> 1), (17, side)]),  # mid/side
    ]:
        hdr = _frame_header(n, ch_code=ch_code)
        body = flac._BitWriter()
        for bits, val in subvals:
            body.write(0, 1)
            body.write(0b000000, 6)  # CONSTANT
            body.write(0, 1)
            body.write(int(val), bits)
        blob = _flac_stream_with_frame(_finish_frame(hdr, body), n, 2)
        out, _rate, _bps = flac.decode_flac(blob)
        assert np.array_equal(out[:, 0], np.full(n, left)), bin(ch_code)
        assert np.array_equal(out[:, 1], np.full(n, right)), bin(ch_code)


@settings(max_examples=40, deadline=None)
@given(seed=st.integers(0, 2**31 - 1), size=st.integers(0, 400),
       codec=st.sampled_from(["jpeg", "flac", "warc", "webp"]))
def test_decoders_reject_garbage_without_hanging(seed, size, codec):
    """Random bytes behind a valid magic prefix must raise cleanly
    (ValueError/struct errors), never hang or segfault — these decoders
    run inside executor quarantine loops where an infinite loop stalls
    a whole task. Any exception is acceptable; termination is the
    property."""
    rng = np.random.RandomState(seed)
    junk = rng.randint(0, 256, size=size, dtype=np.uint8).tobytes()
    if codec == "jpeg":
        from trollflow2_spark.extensions.jpeg import decode_jpeg

        blob = b"\xff\xd8" + junk
        decode = decode_jpeg
    elif codec == "flac":
        from trollflow2_spark.extensions.flac import decode_flac

        blob = b"fLaC" + junk
        decode = decode_flac
    elif codec == "webp":
        from trollflow2_spark.extensions.webp import decode_webp

        blob = (b"RIFF" + (len(junk) + 10).to_bytes(4, "little") + b"WEBP"
                + b"VP8L" + len(junk).to_bytes(4, "little") + b"\x2f" + junk)
        decode = decode_webp
    else:
        from trollflow2_spark.extensions.warc import parse_warc_bytes

        blob = b"WARC/1.0\r\n" + junk
        decode = lambda b: parse_warc_bytes(b, "fuzz")  # noqa: E731
    try:
        decode(blob)
    except Exception:
        pass  # raising is the expected outcome; hanging is the failure


def test_corrupt_flac_quarantines_in_decode_media(spark):
    """A corrupt FLAC blob rides the audio route's NULL quarantine
    (on_error='null'): id kept, every feature column NULL, good rows
    unaffected."""
    from trollflow2_spark.extensions.multimodal import decode_media
    from trollflow2_spark.extensions.flac import encode_flac

    good = encode_flac(np.arange(100, dtype=np.int64), 8000, 16)
    bad = good[:40] + b"\x00" * 10
    df = spark.createDataFrame(
        [
            (1, bytearray(good), {"media_type": "audio/flac"}),
            (2, bytearray(bad), {"media_type": "audio/flac"}),
        ],
        "doc_id long, media binary, media_meta map<string,string>",
    )
    rows = {r["doc_id"]: r for r in decode_media(df, on_error="null").collect()}
    assert rows[1]["n_bytes"] == 100 and rows[1]["width"] == 8000
    assert rows[2]["n_bytes"] is None and rows[2]["mean_byte"] is None


def test_flac_rejects_corrupt_crc():
    """A flipped bit in the frame payload fails the CRC-16 check."""
    import pytest as _pytest

    from trollflow2_spark.extensions import flac

    s = np.arange(0, 200, dtype=np.int64)
    blob = bytearray(flac.encode_flac(s, 8000, 16, block_size=256))
    blob[-5] ^= 0x10  # inside the last frame's payload
    with _pytest.raises(ValueError):
        flac.decode_flac(bytes(blob))


@settings(max_examples=30, deadline=None)
@given(seed=st.integers(0, 2**31 - 1), h=st.integers(1, 12),
       w=st.integers(1, 12), nflip=st.integers(1, 6))
def test_webp_bitflip_terminates(seed, h, w, nflip):
    """Byte corruption inside a valid VP8L stream must terminate —
    raise, or decode to wrong pixels with in-range dimensions — never
    hang (the executor-quarantine property)."""
    from trollflow2_spark.extensions.webp import decode_webp, encode_webp_lossless

    rng = np.random.RandomState(seed)
    arr = rng.randint(0, 256, (h, w, 3), np.uint8)
    blob = bytearray(encode_webp_lossless(arr, cache_bits=seed % 6))
    for _ in range(nflip):
        blob[rng.randint(20, len(blob))] ^= 1 << rng.randint(0, 8)
    try:
        out = decode_webp(bytes(blob))
        assert out.shape[0] <= 1 << 14 and out.shape[1] <= 1 << 14
    except Exception:
        pass  # raising is fine; hanging is the failure


def test_bmp_pnm_roundtrip_properties():
    """BMP (8-bit palette + 24-bit, padding widths) and binary netpbm
    (P5/P6, comment-tolerant headers) round-trip exactly; corrupt
    inputs raise instead of mis-decoding."""
    import numpy as np
    import pytest

    from trollflow2_spark.extensions.bmp import (
        decode_bmp,
        decode_pnm,
        encode_bmp,
        encode_pnm,
    )

    rng = np.random.RandomState(3)
    for w in (1, 2, 3, 5, 8):
        for h in (1, 4, 7):
            g = rng.randint(0, 256, (h, w), dtype=np.uint8)
            c = rng.randint(0, 256, (h, w, 3), dtype=np.uint8)
            assert np.array_equal(decode_bmp(encode_bmp(g)), g)
            assert np.array_equal(decode_bmp(encode_bmp(c)), c)
            assert np.array_equal(decode_pnm(encode_pnm(g)), g)
            assert np.array_equal(decode_pnm(encode_pnm(c)), c)
    # header comments and flexible whitespace
    hdr = b"P5\n# c\n 5 4 \n255\n" + bytes(range(20))
    assert decode_pnm(hdr).shape == (4, 5)
    # corruption surfaces as errors
    blob = bytearray(encode_bmp(rng.randint(0, 256, (4, 4), dtype=np.uint8)))
    with pytest.raises(ValueError):
        decode_bmp(bytes(blob[:30]))  # truncated
    with pytest.raises(ValueError):
        decode_pnm(b"P6\n4 4\n255\nshort")
    with pytest.raises(NotImplementedError):
        # BI_RLE8 compression field
        rle = bytes(blob[:30]) + b"\x01\x00\x00\x00" + bytes(blob[34:])
        decode_bmp(rle)
    with pytest.raises(ValueError):
        decode_pnm(b"P3\n1 1\n255\n0 0 0")  # ASCII netpbm out of scope


def test_png_adam7_and_palette_roundtrips():
    """Wild-crawl PNG surface: Adam7 interlacing (all seven passes,
    including shapes where passes are empty) and palette images (gray
    palettes collapse to 2-D, color palettes resolve to RGB) decode
    back to the original pixels; sequential and interlaced encodings
    of the same image decode identically."""
    import numpy as np

    from trollflow2_spark.sinks.imagery import decode_png, encode_png

    rng = np.random.RandomState(5)
    for shape in [(1, 1), (2, 3), (7, 7), (8, 8), (9, 10), (13, 5),
                  (16, 17, 3), (11, 9, 4), (5, 1), (1, 5)]:
        a = rng.randint(0, 256, shape, dtype=np.uint8)
        assert np.array_equal(decode_png(encode_png(a)), a)
        assert np.array_equal(
            decode_png(encode_png(a, interlace=True)), a
        )
    idx = rng.randint(0, 16, (6, 7), dtype=np.uint8)
    gray_pal = np.stack([np.arange(16) * 16] * 3, axis=1).astype(np.uint8)
    assert np.array_equal(
        decode_png(encode_png(idx, palette=gray_pal)),
        gray_pal[idx][:, :, 0],
    )
    color_pal = rng.randint(0, 256, (16, 3), dtype=np.uint8)
    assert np.array_equal(
        decode_png(encode_png(idx, palette=color_pal)), color_pal[idx]
    )
    assert np.array_equal(
        decode_png(encode_png(idx, palette=color_pal, interlace=True)),
        color_pal[idx],
    )


def test_tiff_lzw_and_predictor_roundtrips():
    """TIFF LZW (MSB-first, 9..12-bit early-change codes, table reset)
    and the horizontal-differencing predictor round-trip exactly,
    including streams long enough to cross every width boundary and
    force a table reset."""
    import numpy as np

    from trollflow2_spark.sinks.imagery import (
        decode_geotiff,
        encode_geotiff,
        tiff_lzw_decode,
        tiff_lzw_encode,
    )

    rng = np.random.RandomState(9)
    for n in (0, 1, 10, 1000, 60000):
        blob = rng.randint(0, 256, n).astype(np.uint8).tobytes()
        assert tiff_lzw_decode(tiff_lzw_encode(blob)) == blob
        rep = (b"abcabd" * (n // 6 + 1))[:n]
        assert tiff_lzw_decode(tiff_lzw_encode(rep)) == rep
    for shape in [(5, 7), (33, 65), (8, 8, 3)]:
        a = rng.randint(0, 256, shape, dtype=np.uint8)
        for mode in ("LZW", "LZW+PRED"):
            pages, tags = decode_geotiff(encode_geotiff(a, compress=mode))
            assert np.array_equal(pages[0], a), (shape, mode)


def test_ico_decode_properties():
    """ICO favicons: largest-entry selection, DIB payloads (doubled
    height + AND mask) and embedded-PNG payloads both decode; corrupt
    containers raise."""
    import numpy as np
    import pytest

    from trollflow2_spark.extensions.bmp import decode_ico, encode_ico
    from trollflow2_spark.sinks.imagery import encode_png

    rng = np.random.RandomState(4)
    big = rng.randint(0, 256, (9, 7, 3), dtype=np.uint8)
    small = rng.randint(0, 256, (2, 2, 3), dtype=np.uint8)
    assert np.array_equal(decode_ico(encode_ico([small, big])), big)
    assert np.array_equal(decode_ico(encode_ico([big])), big)
    # embedded-PNG payload (modern favicons): splice one in by hand
    import struct as _struct

    g = rng.randint(0, 256, (16, 16), dtype=np.uint8)
    png = encode_png(g)
    blob = (
        b"\x00\x00\x01\x00" + _struct.pack("<H", 1)
        + _struct.pack("<BBBBHHII", 16, 16, 0, 0, 1, 32, len(png), 22)
        + png
    )
    assert np.array_equal(decode_ico(blob), g)
    with pytest.raises(ValueError):
        decode_ico(b"\x00\x00\x02\x00junk")  # cursor (.cur), not icon
    with pytest.raises(ValueError):
        decode_ico(encode_ico([big])[:30])  # truncated directory/payload
