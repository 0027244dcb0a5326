"""Property + handcrafted-stream tests for the from-scratch GIF codec.

Round-trips pin the LZW core (variable code width, table resets,
interlacing) and exact RGB palettization; the animation tests pin real
canvas compositing — sub-rectangle placement, transparency holes,
disposal methods 2 (restore background) and 3 (restore previous) that
the encoder itself never emits, built as handcrafted streams."""

import struct

import numpy as np
import pytest
from hypothesis import given, settings, strategies as st

from trollflow2_spark.extensions import gif

dims = st.integers(min_value=1, max_value=17)


@settings(max_examples=30, deadline=None)
@given(h=dims, w=dims, seed=st.integers(0, 2**31 - 1),
       interlace=st.booleans())
def test_gif_gray_roundtrip(h, w, seed, interlace):
    rng = np.random.RandomState(seed)
    arr = rng.randint(0, 256, size=(h, w), dtype=np.uint8)
    out = gif.decode_gif(gif.encode_gif(arr, interlace=interlace))
    assert out.shape == arr.shape
    assert np.array_equal(out, arr)


@settings(max_examples=20, deadline=None)
@given(h=dims, w=dims, seed=st.integers(0, 2**31 - 1),
       ncolors=st.integers(2, 256))
def test_gif_rgb_roundtrip_exact_palette(h, w, seed, ncolors):
    rng = np.random.RandomState(seed)
    palette = rng.randint(0, 256, size=(ncolors, 3), dtype=np.uint8)
    arr = palette[rng.randint(0, ncolors, size=(h, w))]
    out = gif.decode_gif(gif.encode_gif(arr))
    # a gray-valued random palette collapses to 2-D by design; lift back
    if out.ndim == 2:
        out = np.repeat(out[:, :, None], 3, axis=2)
    assert np.array_equal(out, arr)


def test_gif_large_image_crosses_table_reset():
    """>4096 LZW table entries forces the clear-code reset path."""
    rng = np.random.RandomState(3)
    arr = rng.randint(0, 256, size=(180, 260), dtype=np.uint8)
    assert np.array_equal(gif.decode_gif(gif.encode_gif(arr)), arr)
    smooth = (np.arange(220 * 220).reshape(220, 220) // 997 % 256).astype(
        np.uint8
    )
    assert np.array_equal(
        gif.decode_gif(gif.encode_gif(smooth, interlace=True)), smooth
    )


@settings(max_examples=15, deadline=None)
@given(seed=st.integers(0, 2**31 - 1), n_frames=st.integers(2, 6),
       transparent=st.booleans())
def test_gif_animation_compositing_matches_full_frames(
    seed, n_frames, transparent
):
    """Sub-rectangle + transparent-unchanged storage must composite back
    to exactly the full-canvas frames that were encoded."""
    rng = np.random.RandomState(seed)
    cols = rng.randint(0, 256, size=(40, 3), dtype=np.uint8)
    cur = cols[rng.randint(0, 40, size=(12, 15))]
    frames = [cur.copy()]
    for _ in range(n_frames - 1):
        cur = cur.copy()
        y0, x0 = rng.randint(0, 9), rng.randint(0, 12)
        cur[y0 : y0 + 3, x0 : x0 + 4] = cols[
            rng.randint(0, 40, size=cur[y0 : y0 + 3, x0 : x0 + 4].shape[:2])
        ]
        frames.append(cur.copy())
    blob = gif.encode_gif_animation(
        frames, transparent_unchanged=transparent
    )
    dec = gif.decode_gif_frames(blob)
    assert len(dec) == len(frames)
    for a, b in zip(frames, dec):
        if b.ndim == 2:
            b = np.repeat(b[:, :, None], 3, axis=2)
        assert np.array_equal(a, b)


def _handcrafted_anim(frame_specs):
    """Minimal GIF89a with an identity gray GCT; frame_specs is a list of
    (array2d, left, top, disposal)."""
    pal = np.repeat(np.arange(256, dtype=np.uint8)[:, None], 3, axis=1)
    raw, bits = gif._color_table_bytes(pal)
    h = max(s[0].shape[0] + s[2] for s in frame_specs)
    w = max(s[0].shape[1] + s[1] for s in frame_specs)
    out = bytearray(b"GIF89a")
    out += struct.pack("<HH", w, h)
    out.append(0x80 | (7 << 4) | bits)
    out += b"\x00\x00"
    out += raw
    for arr, left, top, disposal in frame_specs:
        gce = bytes([(disposal & 0x07) << 2]) + b"\x00\x00\x00"
        out += b"\x21\xf9" + gif._write_subblocks(gce)
        out += gif._encode_frame_block(
            np.ascontiguousarray(arr, dtype=np.uint8), left, top, None,
            False, 256,
        )
    out.append(0x3B)
    return bytes(out)


def test_gif_disposal_restore_background():
    """Disposal=2 clears the frame's rectangle to the background color
    before the next frame renders."""
    f0 = np.full((3, 4), 10, dtype=np.uint8)
    f1 = np.full((1, 2), 20, dtype=np.uint8)
    blob = _handcrafted_anim([(f0, 0, 0, 2), (f1, 1, 1, 0)])
    dec = gif.decode_gif_frames(blob)
    assert np.array_equal(dec[0], f0)
    expect = np.zeros((3, 4), dtype=np.uint8)  # bg index 0 -> gray 0
    expect[1, 1:3] = 20
    assert np.array_equal(dec[1], expect)


def test_gif_disposal_restore_previous():
    """Disposal=3 rewinds the canvas to its pre-frame state, so the
    frame after it composites onto the older canvas."""
    f0 = np.full((3, 4), 10, dtype=np.uint8)
    f1 = np.full((2, 2), 20, dtype=np.uint8)
    f2 = np.full((1, 1), 30, dtype=np.uint8)
    blob = _handcrafted_anim([(f0, 0, 0, 0), (f1, 2, 1, 3), (f2, 0, 0, 0)])
    dec = gif.decode_gif_frames(blob)
    mid = np.full((3, 4), 10, dtype=np.uint8)
    mid[1:3, 2:4] = 20
    assert np.array_equal(dec[1], mid)
    last = np.full((3, 4), 10, dtype=np.uint8)  # f1's rect rewound
    last[0, 0] = 30
    assert np.array_equal(dec[2], last)


def test_gif_rejects_oversize_palette():
    rng = np.random.RandomState(0)
    arr = rng.randint(0, 256, size=(40, 40, 3), dtype=np.uint8)
    assert len(np.unique(arr.reshape(-1, 3), axis=0)) > 256
    with pytest.raises(ValueError, match="256"):
        gif.encode_gif(arr)


@settings(max_examples=40, deadline=None)
@given(seed=st.integers(0, 2**31 - 1), size=st.integers(0, 400))
def test_gif_decoder_rejects_garbage_without_hanging(seed, size):
    """Random bytes behind the GIF magic must raise cleanly, never hang
    — the decoder runs inside executor quarantine loops."""
    rng = np.random.RandomState(seed)
    junk = rng.randint(0, 256, size=size, dtype=np.uint8).tobytes()
    try:
        gif.decode_gif(b"GIF89a" + junk)
    except Exception:
        pass  # raising is expected; termination is the property


@settings(max_examples=25, deadline=None)
@given(seed=st.integers(0, 2**31 - 1), nflip=st.integers(1, 6))
def test_gif_bitflip_terminates(seed, nflip):
    """Bit-flipped valid streams either decode or raise — no hangs."""
    rng = np.random.RandomState(seed)
    arr = rng.randint(0, 256, size=(9, 11), dtype=np.uint8)
    blob = bytearray(gif.encode_gif(arr))
    for _ in range(nflip):
        i = rng.randint(6, len(blob))  # keep the magic intact
        blob[i] ^= 1 << rng.randint(0, 8)
    try:
        gif.decode_gif(bytes(blob))
    except Exception:
        pass


def test_corrupt_gif_quarantines_in_decode_media(spark):
    """A corrupt GIF blob rides the image route's NULL quarantine
    (on_error='null'): id kept, feature columns NULL, good rows fine."""
    from trollflow2_spark.extensions.multimodal import decode_media

    good = gif.encode_gif(np.arange(12, dtype=np.uint8).reshape(3, 4))
    bad = good[:18] + b"\x00\x00"
    df = spark.createDataFrame(
        [
            (1, bytearray(good), {"media_type": "image/gif"}),
            (2, bytearray(bad), {"media_type": "image/gif"}),
        ],
        "doc_id long, media binary, media_meta map<string,string>",
    )
    rows = {
        r["doc_id"]: r
        for r in decode_media(df, on_error="null").collect()
    }
    assert rows[1]["n_bytes"] == 12 and rows[1]["width"] == 4
    assert rows[2]["n_bytes"] is None and rows[2]["width"] is None


def test_gif_resize_real_route(spark):
    """image/gif rides the real resize path: decode -> nearest-neighbor
    -> re-encode; the output blob decodes to the index-sampled pixels."""
    from trollflow2_spark.extensions.multimodal import resize_media

    arr = (np.arange(48, dtype=np.uint8) * 5 % 256).reshape(6, 8)
    blob = gif.encode_gif(arr)
    df = spark.createDataFrame(
        [(1, bytearray(blob), ("image/gif", 8, 6, len(blob)))],
        "doc_id long, media binary, media_meta "
        "struct<media_type:string,width:int,height:int,n_bytes:bigint>",
    )
    row = resize_media(df, target=(4, 3)).collect()[0]
    assert row["media_meta"]["width"] == 4
    out = gif.decode_gif(bytes(row["media"]))
    ys = np.minimum(np.arange(3) * 6 // 3, 5)
    xs = np.minimum(np.arange(4) * 8 // 4, 7)
    assert np.array_equal(out, arr[np.ix_(ys, xs)])


def test_gif_out_of_table_transparent_index_decodes():
    """Real-world GIFs legally use a transparent index OUTSIDE the color
    table (those pixels are never palette-looked-up).  The decoder must
    exempt exactly that index from the palette-bounds corruption check
    and composite such pixels as background, not raise."""
    import struct

    import numpy as np

    from trollflow2_spark.extensions.gif import (
        _encode_frame_block,
        decode_gif,
    )

    # 2-entry GCT (black, white); transparent index 2 is out of table.
    # min LZW code size is 2, so index values up to 3 are encodable even
    # though the palette holds only 2 entries — exactly the wild layout.
    indices = np.array([[0, 1], [2, 2]], dtype=np.uint8)
    blob = bytearray(b"GIF89a")
    blob += struct.pack("<HH", 2, 2)
    blob.append(0x80 | (7 << 4) | 0)      # GCT present, size field 0 -> 2
    blob += b"\x00\x00"                   # bg index 0, no aspect
    blob += bytes([0, 0, 0, 255, 255, 255])
    blob += b"\x21\xf9\x04\x01\x00\x00\x02\x00"  # GCE: transparent idx 2
    blob += _encode_frame_block(indices, 0, 0, None, False, 2)
    blob.append(0x3B)

    out = decode_gif(bytes(blob))
    # black/white palette is grayscale -> 2-D gray canvas
    assert out.shape == (2, 2)
    assert out[0, 0] == 0      # palette index 0 (black)
    assert out[0, 1] == 255    # palette index 1 (white)
    # transparent pixels keep the background (bg index 0 = black)
    assert out[1, 0] == 0 and out[1, 1] == 0

    # a genuinely-corrupt index (out of table, NOT the transparent one)
    # must still raise
    import pytest

    blob2 = bytearray(b"GIF89a")
    blob2 += struct.pack("<HH", 2, 2)
    blob2.append(0x80 | (7 << 4) | 0)
    blob2 += b"\x00\x00"
    blob2 += bytes([0, 0, 0, 255, 255, 255])
    blob2 += b"\x21\xf9\x04\x01\x00\x00\x03\x00"  # transparent idx 3 != 2
    blob2 += _encode_frame_block(indices, 0, 0, None, False, 2)
    blob2.append(0x3B)
    with pytest.raises(ValueError, match="outside color table"):
        decode_gif(bytes(blob2))
