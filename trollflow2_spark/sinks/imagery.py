"""Pure-stdlib single-file raster encoders/decoders (PNG + GeoTIFF).

Parity: the reference's core output path is writing single-file images
via satpy's ``geotiff`` / ``simple_image`` / ``ninjogeotiff`` writers
(``/root/reference/trollflow2/plugins/__init__.py:277-310``; golden
pixel test ``tests/test_trollflow2.py:701-768``). rasterio/PIL are not
in this container, so these are from-scratch encoders using only
``zlib`` / ``struct`` / numpy — they emit *real* files with correct
magic bytes and standard layout, readable by any PNG/TIFF viewer.

Spark shape / 100 TB note: a single-file image for one (area, product)
is bounded by the *area definition* (config-sized — e.g. a 2048x2048
grid), not by the input data size. Collecting one product's grid to the
driver to encode is therefore the correct plan even when total input is
100 TB: upstream resampling reduced the data to one fixed-size raster
per output, and each output is encoded independently (the driver loop
is over configured formats, never over input rows). ``save_datasets``
gathers a batch's output columns once, as Arrow, and each image writer
encodes from its (y, x, value) slice of that table.

Format background is public knowledge: the PNG spec (RFC 2083 /
ISO 15948) and the TIFF 6.0 + GeoTIFF 1.1 (OGC 19-008r4) specs.
"""

from __future__ import annotations

import json
import struct
import zlib
from typing import Iterator

import numpy as np

# ---------------------------------------------------------------------------
# Enhancement (satpy-default-like linear stretch) and grid gathering.


def stretch_to_uint8(
    arr: np.ndarray,
    vmin: float | None = None,
    vmax: float | None = None,
    fill_value: int = 0,
) -> np.ndarray:
    """Min-max linear stretch to uint8 with round-half-even, NaN -> fill.

    Matches the default enhancement applied by the reference's image
    writers before encoding (linear stretch over the data range), which
    is what makes ``arange(100).reshape(10, 10)`` encode pixel [5, 5]
    as ``round(55 * 255 / 99) == 142`` — the golden value asserted in
    the reference's ``test_save_datasets_callback``.
    """
    a = np.asarray(arr, dtype="float64")
    mask = ~np.isfinite(a)
    if mask.all():
        # fully-invalid product (e.g. a left-join resample that missed
        # everywhere): emit a fill-valued image instead of crashing
        return np.full(a.shape, int(fill_value), dtype=np.uint8)
    lo = float(np.nanmin(a[~mask])) if vmin is None else float(vmin)
    hi = float(np.nanmax(a[~mask])) if vmax is None else float(vmax)
    span = hi - lo if hi > lo else 1.0
    out = np.rint((a - lo) * 255.0 / span)
    out = np.clip(out, 0, 255)
    out[mask] = int(fill_value)
    return out.astype(np.uint8)


def grid_from_pandas(pdf, value_col: str, x_col: str = "x", y_col: str = "y") -> np.ndarray:
    """Pivot a (y, x, value) point table into a 2-D array (row 0 = min y).

    Cells absent from the table become NaN (miss -> fill semantics,
    ``plugins/__init__.py:149-156``). Falls back to a near-square
    row-order reshape when the table has no coordinate columns.
    """
    if x_col in pdf.columns and y_col in pdf.columns:
        xs = np.sort(pdf[x_col].unique())
        ys = np.sort(pdf[y_col].unique())
        arr = np.full((len(ys), len(xs)), np.nan)
        yi = np.searchsorted(ys, pdf[y_col].to_numpy())
        xi = np.searchsorted(xs, pdf[x_col].to_numpy())
        arr[yi, xi] = pdf[value_col].to_numpy(dtype="float64")
        return arr
    vals = pdf[value_col].to_numpy(dtype="float64")
    n = len(vals)
    w = int(np.ceil(np.sqrt(max(n, 1))))
    h = int(np.ceil(n / w)) if n else 1
    arr = np.full(w * h, np.nan)
    arr[:n] = vals
    return arr.reshape(h, w)


# ---------------------------------------------------------------------------
# PNG (RFC 2083): signature + IHDR/IDAT/IEND chunks, filter 0 scanlines.

_PNG_SIG = b"\x89PNG\r\n\x1a\n"


def _png_chunk(tag: bytes, payload: bytes) -> bytes:
    crc = zlib.crc32(tag + payload) & 0xFFFFFFFF
    return struct.pack(">I", len(payload)) + tag + payload + struct.pack(">I", crc)


def encode_png(
    arr: np.ndarray,
    interlace: bool = False,
    palette: np.ndarray | None = None,
) -> bytes:
    """Encode a uint8 array as PNG: (H, W) gray, (H, W, 3) RGB,
    (H, W, 4) RGBA. ``interlace=True`` writes Adam7 passes
    (filter-0 scanlines per pass); ``palette`` ((N,3) uint8) treats a
    2-D array as palette indices (color type 3) — both exist so the
    decoder's wild-crawl paths have first-party fixtures."""
    a = np.ascontiguousarray(arr, dtype=np.uint8)
    if palette is not None:
        if a.ndim != 2:
            raise ValueError("palette PNG needs a 2-D index array")
        color_type = 3
    elif a.ndim == 2:
        color_type = 0
    elif a.ndim == 3 and a.shape[2] in (3, 4):
        color_type = 2 if a.shape[2] == 3 else 6
    else:
        raise ValueError(f"unsupported PNG shape {a.shape}")
    h, w = a.shape[:2]
    a3 = a.reshape(h, w, -1)
    if interlace:
        parts = []
        for x0, y0, dx, dy in _ADAM7:
            sub = a3[y0::dy, x0::dx]
            if sub.shape[0] == 0 or sub.shape[1] == 0:
                continue
            parts.extend(
                b"\x00" + sub[r].tobytes() for r in range(sub.shape[0])
            )
        raw = b"".join(parts)
    else:
        raw = b"".join(b"\x00" + a3[r].tobytes() for r in range(h))
    ihdr = struct.pack(
        ">IIBBBBB", w, h, 8, color_type, 0, 0, 1 if interlace else 0
    )
    out = _PNG_SIG + _png_chunk(b"IHDR", ihdr)
    if color_type == 3:
        pal = np.ascontiguousarray(palette, dtype=np.uint8)
        if pal.ndim != 2 or pal.shape[1] != 3 or pal.shape[0] > 256:
            raise ValueError("palette must be (N<=256, 3) uint8")
        out += _png_chunk(b"PLTE", pal.tobytes())
    return (
        out
        + _png_chunk(b"IDAT", zlib.compress(raw, 6))
        + _png_chunk(b"IEND", b"")
    )


def _paeth(a: int, b: int, c: int) -> int:
    p = a + b - c
    pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
    if pa <= pb and pa <= pc:
        return a
    return b if pb <= pc else c


#: Adam7 pass grid: (x0, y0, dx, dy) per pass (PNG spec 8.2)
_ADAM7 = (
    (0, 0, 8, 8), (4, 0, 8, 8), (0, 4, 4, 8), (2, 0, 4, 4),
    (0, 2, 2, 4), (1, 0, 2, 2), (0, 1, 1, 2),
)


def _png_unfilter(raw: bytes, p: int, w: int, h: int, nch: int):
    """Unfilter one (sub-)image of ``h`` scanlines at offset ``p`` in
    the decompressed stream -> ((h, w*nch) uint8, next offset)."""
    stride = w * nch
    out = np.zeros((h, stride), dtype=np.uint8)
    prev = np.zeros(stride, dtype=np.int32)
    for r in range(h):
        ftype = raw[p]
        line = np.frombuffer(
            raw, dtype=np.uint8, count=stride, offset=p + 1
        ).astype(np.int32)
        p += 1 + stride
        if ftype == 0:
            cur = line
        elif ftype == 1:  # Sub
            cur = line.copy()
            for i in range(nch, stride):
                cur[i] = (cur[i] + cur[i - nch]) & 0xFF
        elif ftype == 2:  # Up
            cur = (line + prev) & 0xFF
        elif ftype == 3:  # Average
            cur = line.copy()
            for i in range(stride):
                left = cur[i - nch] if i >= nch else 0
                cur[i] = (cur[i] + (left + prev[i]) // 2) & 0xFF
        elif ftype == 4:  # Paeth
            cur = line.copy()
            for i in range(stride):
                left = cur[i - nch] if i >= nch else 0
                ul = prev[i - nch] if i >= nch else 0
                cur[i] = (cur[i] + _paeth(left, int(prev[i]), ul)) & 0xFF
        else:
            raise ValueError(f"bad PNG filter {ftype}")
        out[r] = cur.astype(np.uint8)
        prev = cur
    return out, p


def decode_png(data: bytes) -> np.ndarray:
    """Decode a PNG produced by any filter-0..4 8-bit encoder: gray /
    RGB(A) / gray+alpha, PALETTE images (PLTE; gray palettes collapse
    to 2-D, matching the BMP route), and Adam7 INTERLACING (each of
    the seven passes unfilters as its own sub-image and scatters into
    the output grid) — the wild-crawl PNG surface, not just this
    encoder's own output."""
    if data[:8] != _PNG_SIG:
        raise ValueError("not a PNG (bad signature)")
    pos = 8
    w = h = color_type = None
    interlace = 0
    plte = None
    idat = b""
    while pos < len(data):
        (length,) = struct.unpack(">I", data[pos : pos + 4])
        tag = data[pos + 4 : pos + 8]
        payload = data[pos + 8 : pos + 8 + length]
        if tag == b"IHDR":
            w, h, depth, color_type, _comp, _filt, interlace = struct.unpack(
                ">IIBBBBB", payload
            )
            if depth != 8:
                raise ValueError("only 8-bit PNG supported")
            if interlace not in (0, 1):
                raise ValueError(f"bad PNG interlace method {interlace}")
        elif tag == b"PLTE":
            plte = np.frombuffer(payload, np.uint8).reshape(-1, 3)
        elif tag == b"IDAT":
            idat += payload
        elif tag == b"IEND":
            break
        pos += 12 + length
    if color_type == 3 and plte is None:
        raise ValueError("palette PNG without PLTE chunk")
    nch = {0: 1, 2: 3, 3: 1, 4: 2, 6: 4}[color_type]
    raw = zlib.decompress(idat)
    if interlace == 0:
        out, _p = _png_unfilter(raw, 0, w, h, nch)
        img = out.reshape(h, w) if nch == 1 else out.reshape(h, w, nch)
    else:  # Adam7
        grid = np.zeros((h, w, nch), dtype=np.uint8)
        p = 0
        for x0, y0, dx, dy in _ADAM7:
            pw = (w - x0 + dx - 1) // dx
            ph = (h - y0 + dy - 1) // dy
            if pw <= 0 or ph <= 0:
                continue
            sub, p = _png_unfilter(raw, p, pw, ph, nch)
            grid[y0::dy, x0::dx] = sub.reshape(ph, pw, nch)
        img = grid[:, :, 0] if nch == 1 else grid
    if color_type == 3:
        rgb = plte[img]  # (h, w, 3)
        if np.all(rgb[:, :, 0] == rgb[:, :, 1]) and np.all(
            rgb[:, :, 1] == rgb[:, :, 2]
        ):
            return np.ascontiguousarray(rgb[:, :, 0])
        return np.ascontiguousarray(rgb)
    return np.ascontiguousarray(img)


def png_shape(data) -> tuple[int, ...]:
    """Shape of the array :func:`decode_png` returns — (h, w) or (h, w,
    channels) — from the chunks before the first IDAT. A palette counts
    as gray only when every entry is gray; :func:`decode_png` also
    collapses a colour palette whose *used* entries are all gray."""
    if data[:8] != _PNG_SIG:
        raise ValueError("not a PNG (bad signature)")
    w, h, _depth, color_type = struct.unpack_from(">IIBB", data, 16)
    nch = {0: 1, 2: 3, 3: 3, 4: 2, 6: 4}[color_type]
    if color_type == 3:
        pos = 8
        while data[pos + 4 : pos + 8] not in (b"PLTE", b"IDAT", b""):
            pos += 12 + struct.unpack_from(">I", data, pos)[0]
        if data[pos + 4 : pos + 8] == b"PLTE":
            (length,) = struct.unpack_from(">I", data, pos)
            plte = np.frombuffer(data[pos + 8 : pos + 8 + length], np.uint8).reshape(-1, 3)
            nch = 1 if np.all(plte == plte[:, :1]) else 3
    return (h, w) if nch == 1 else (h, w, nch)


# ---------------------------------------------------------------------------
# TIFF 6.0 + GeoTIFF 1.1 keys. Little-endian, strip-per-image layout,
# optional deflate compression, optional reduced-resolution overview
# pages (NewSubfileType=1 IFDs — the standard GeoTIFF pyramid layout).

_T_ASCII, _T_SHORT, _T_LONG, _T_RATIONAL, _T_DOUBLE = 2, 3, 4, 5, 12
_TYPE_SIZE = {_T_ASCII: 1, _T_SHORT: 2, _T_LONG: 4, _T_RATIONAL: 8, _T_DOUBLE: 8}

TAG_IMAGE_WIDTH = 256
TAG_IMAGE_LENGTH = 257
TAG_BITS_PER_SAMPLE = 258
TAG_COMPRESSION = 259
TAG_PHOTOMETRIC = 262
TAG_DESCRIPTION = 270
TAG_STRIP_OFFSETS = 273
TAG_SAMPLES_PER_PIXEL = 277
TAG_ROWS_PER_STRIP = 278
TAG_STRIP_BYTE_COUNTS = 279
TAG_NEW_SUBFILE_TYPE = 254
TAG_SAMPLE_FORMAT = 339
TAG_MODEL_PIXEL_SCALE = 33550
TAG_MODEL_TIEPOINT = 33922
TAG_GEO_KEY_DIRECTORY = 34735


def _pack_tag_payload(typ: int, values) -> bytes:
    if typ == _T_ASCII:
        return values if isinstance(values, bytes) else values.encode() + b"\x00"
    fmt = {_T_SHORT: "H", _T_LONG: "I", _T_DOUBLE: "d"}[typ]
    return struct.pack(f"<{len(values)}{fmt}", *values)


def _dtype_fields(a: np.ndarray) -> tuple[int, int]:
    """(bits per sample, TIFF SampleFormat) for the supported dtypes."""
    if a.dtype == np.uint8:
        return 8, 1
    if a.dtype == np.float32:
        return 32, 3
    if a.dtype == np.float64:
        return 64, 3
    raise ValueError(f"unsupported TIFF dtype {a.dtype}")


def encode_geotiff(
    arr: np.ndarray,
    pixel_scale: tuple[float, float] | None = None,
    tiepoint: tuple[float, float] | None = None,
    epsg: int = 4326,
    description: str | None = None,
    compress: str = "NONE",
    overviews: list[np.ndarray] | None = None,
) -> bytes:
    """Encode a single-band (H, W) or RGB (H, W, 3) uint8/float array as
    GeoTIFF. ``pixel_scale``/``tiepoint`` become ModelPixelScale /
    ModelTiepoint; ``overviews`` become reduced-resolution pages (the
    ``add_overviews`` pyramid, ``plugins/__init__.py:928-944``)."""
    pages = [np.ascontiguousarray(arr)] + [
        np.ascontiguousarray(o) for o in (overviews or [])
    ]
    mode = compress.upper()
    deflate = mode in ("DEFLATE", "ZLIB", "8")
    lzw = mode in ("LZW", "LZW+PRED")
    predictor = mode == "LZW+PRED"

    # page payloads (possibly compressed single strip per page)
    strips = []
    for a in pages:
        if predictor:
            if a.dtype != np.uint8:
                raise ValueError("LZW+PRED needs uint8 samples")
            d = a.copy()
            if a.ndim == 2:
                d[:, 1:] = a[:, 1:] - a[:, :-1]
            else:
                d[:, 1:, :] = a[:, 1:, :] - a[:, :-1, :]
            raw = d.tobytes()
        else:
            raw = a.tobytes()
        if deflate:
            strips.append(zlib.compress(raw, 6))
        elif lzw:
            strips.append(tiff_lzw_encode(raw))
        else:
            strips.append(raw)

    def page_tags(a: np.ndarray, strip_off: int, strip_len: int, is_overview: bool):
        h, w = a.shape[:2]
        spp = 1 if a.ndim == 2 else a.shape[2]
        bits, sfmt = _dtype_fields(a)
        tags = [
            (TAG_IMAGE_WIDTH, _T_LONG, [w]),
            (TAG_IMAGE_LENGTH, _T_LONG, [h]),
            (TAG_BITS_PER_SAMPLE, _T_SHORT, [bits] * spp),
            (TAG_COMPRESSION, _T_SHORT,
             [8 if deflate else (5 if lzw else 1)]),
            (TAG_PHOTOMETRIC, _T_SHORT, [2 if spp >= 3 else 1]),
            (TAG_STRIP_OFFSETS, _T_LONG, [strip_off]),
            (TAG_SAMPLES_PER_PIXEL, _T_SHORT, [spp]),
            (TAG_ROWS_PER_STRIP, _T_LONG, [h]),
            (TAG_STRIP_BYTE_COUNTS, _T_LONG, [strip_len]),
            (TAG_SAMPLE_FORMAT, _T_SHORT, [sfmt] * spp),
        ]
        if predictor:
            tags.append((TAG_PREDICTOR, _T_SHORT, [2]))
        if is_overview:
            tags.append((TAG_NEW_SUBFILE_TYPE, _T_LONG, [1]))
        else:
            if description is not None:
                tags.append((TAG_DESCRIPTION, _T_ASCII, description))
            if pixel_scale is not None:
                sx, sy = pixel_scale
                tags.append(
                    (TAG_MODEL_PIXEL_SCALE, _T_DOUBLE, [float(sx), float(sy), 0.0])
                )
            if tiepoint is not None:
                x0, y0 = tiepoint
                tags.append(
                    (
                        TAG_MODEL_TIEPOINT,
                        _T_DOUBLE,
                        [0.0, 0.0, 0.0, float(x0), float(y0), 0.0],
                    )
                )
            # GeoKeyDirectory: ModelType=2 (geographic), RasterType=1
            # (pixel-is-area), GeographicTypeGeoKey=epsg
            tags.append(
                (
                    TAG_GEO_KEY_DIRECTORY,
                    _T_SHORT,
                    [1, 1, 0, 3, 1024, 0, 1, 2, 1025, 0, 1, 1, 2048, 0, 1, int(epsg)],
                )
            )
        return tags

    # layout: header | strip0..N | ifd0 (+extra) | ifd1 (+extra) | ...
    out = bytearray(b"II*\x00\x00\x00\x00\x00")
    strip_offs = []
    for s in strips:
        strip_offs.append(len(out))
        out += s
        if len(out) % 2:
            out += b"\x00"

    # precompute IFD block sizes so each can point at the next
    packed_pages = []
    for i, a in enumerate(pages):
        tags = page_tags(a, strip_offs[i], len(strips[i]), is_overview=i > 0)
        packed = []
        extra_len = 0
        for tag, typ, values in sorted(tags):
            payload = _pack_tag_payload(typ, values)
            count = (
                len(payload)
                if typ == _T_ASCII
                else len(payload) // _TYPE_SIZE[typ]
            )
            packed.append((tag, typ, count, payload))
            if len(payload) > 4:
                extra_len += len(payload) + (len(payload) % 2)
        packed_pages.append((packed, 2 + 12 * len(packed) + 4 + extra_len))

    ifd_offsets = []
    pos = len(out)
    for _packed, size in packed_pages:
        ifd_offsets.append(pos)
        pos += size
    struct.pack_into("<I", out, 4, ifd_offsets[0])

    for i, (packed, _size) in enumerate(packed_pages):
        ifd_off = ifd_offsets[i]
        next_off = ifd_offsets[i + 1] if i + 1 < len(packed_pages) else 0
        extra_off = ifd_off + 2 + 12 * len(packed) + 4
        entries = b""
        extra = b""
        for tag, typ, count, payload in packed:
            if len(payload) <= 4:
                val = payload.ljust(4, b"\x00")
            else:
                val = struct.pack("<I", extra_off + len(extra))
                extra += payload
                if len(extra) % 2:
                    extra += b"\x00"
            entries += struct.pack("<HHI", tag, typ, count) + val
        out += struct.pack("<H", len(packed)) + entries + struct.pack("<I", next_off)
        out += extra
    return bytes(out)


TAG_PREDICTOR = 317


def tiff_lzw_decode(data: bytes) -> bytes:
    """TIFF-flavor LZW (TIFF 6.0 §13): MSB-first code packing, 9→12
    bit codes with EARLY CHANGE (width bumps at 511/1023/2047, one
    code before the table actually fills — the libtiff convention
    every real file follows), ClearCode 256 / EOI 257."""
    out = bytearray()
    nbits = 9
    table: list[bytes] = []
    prev: bytes | None = None
    acc = 0
    acc_n = 0
    pos = 0
    n = len(data)
    while True:
        while acc_n < nbits:
            if pos >= n:
                return bytes(out)  # missing EOI: tolerate, data is whole
            acc = (acc << 8) | data[pos]
            pos += 1
            acc_n += 8
        code = (acc >> (acc_n - nbits)) & ((1 << nbits) - 1)
        acc_n -= nbits
        if code == 256:  # clear
            table = []
            nbits = 9
            prev = None
            continue
        if code == 257:  # end of information
            return bytes(out)
        if code < 256:
            entry = bytes([code])
        elif code - 258 < len(table):
            entry = table[code - 258]
        elif code == 258 + len(table) and prev is not None:
            entry = prev + prev[:1]  # the KwKwK case
        else:
            raise ValueError(f"TIFF LZW: invalid code {code}")
        if prev is not None:
            table.append(prev + entry[:1])
        out += entry
        prev = entry
        # EARLY CHANGE, decoder side: the decoder's table lags the
        # encoder's by exactly one entry (it learns entry k only on
        # code k+1), so it must widen one code BEFORE the naive
        # table-full computation says to
        if 258 + len(table) == (1 << nbits) - 2 and nbits < 12:
            nbits += 1


def tiff_lzw_encode(data: bytes) -> bytes:
    """Encoder mirror of :func:`tiff_lzw_decode` (fixtures + the
    ``compress="LZW"`` writer path): emits a leading ClearCode,
    resets at table 4094, EOI-terminated."""
    out = bytearray()
    acc = 0
    acc_n = 0

    def emit(code: int, nbits: int) -> None:
        nonlocal acc, acc_n
        acc = (acc << nbits) | code
        acc_n += nbits
        while acc_n >= 8:
            out.append((acc >> (acc_n - 8)) & 0xFF)
            acc_n -= 8

    def fresh():
        return {bytes([i]): i for i in range(256)}

    table = fresh()
    next_code = 258
    nbits = 9
    emit(256, nbits)
    w = b""
    for b in data:
        k = w + bytes([b])
        if k in table:
            w = k
            continue
        emit(table[w], nbits)
        table[k] = next_code
        next_code += 1
        if next_code == (1 << nbits) - 1 and nbits < 12:
            nbits += 1  # early change, mirrored
        if next_code > 4093:
            emit(256, nbits)
            table = fresh()
            next_code = 258
            nbits = 9
        w = bytes([b])
    if w:
        emit(table[w], nbits)
    emit(257, nbits)
    if acc_n:
        out.append((acc << (8 - acc_n)) & 0xFF)
    return bytes(out)


def _tiff_ifds(data) -> Iterator[tuple[dict[int, list], str]]:
    """Yield (tags, byte-order prefix) per TIFF IFD, in file order.
    Touches only the IFDs and their out-of-line tag values, so ``data``
    may be an ``mmap``."""
    if data[:4] == b"II*\x00":
        e = "<"
    elif data[:4] == b"MM\x00*":
        e = ">"
    else:
        raise ValueError("not a TIFF (bad byte-order signature)")
    (ifd_off,) = struct.unpack_from(e + "I", data, 4)
    while ifd_off:
        (n,) = struct.unpack_from(e + "H", data, ifd_off)
        tags: dict[int, list] = {}
        for i in range(n):
            tag, typ, count = struct.unpack_from(
                e + "HHI", data, ifd_off + 2 + 12 * i
            )
            size = _TYPE_SIZE.get(typ, 1) * count
            vpos = ifd_off + 2 + 12 * i + 8
            if size > 4:
                (vpos,) = struct.unpack_from(e + "I", data, vpos)
            if typ == _T_ASCII:
                tags[tag] = [data[vpos : vpos + count].rstrip(b"\x00").decode()]
            else:
                fmt = {_T_SHORT: "H", _T_LONG: "I", _T_DOUBLE: "d", _T_RATIONAL: "II"}[typ]
                tags[tag] = list(struct.unpack_from(f"{e}{count}{fmt}", data, vpos))
        yield tags, e
        (ifd_off,) = struct.unpack_from(e + "I", data, ifd_off + 2 + 12 * n)


def geotiff_shape(data) -> tuple[int, ...]:
    """Shape of page 0 as :func:`decode_geotiff` returns it — (h, w) or
    (h, w, samples) — read from its IFD alone."""
    tags, _e = next(_tiff_ifds(data))
    h, w = tags[TAG_IMAGE_LENGTH][0], tags[TAG_IMAGE_WIDTH][0]
    spp = tags.get(TAG_SAMPLES_PER_PIXEL, [1])[0]
    return (h, w) if spp == 1 else (h, w, spp)


def decode_geotiff(data: bytes) -> tuple[list[np.ndarray], dict]:
    """Decode a (Geo)TIFF written by :func:`encode_geotiff` (and any
    strip TIFF, little- OR big-endian, with compression
    NONE/deflate/LZW, optionally with the horizontal-differencing
    predictor). Returns (pages, tags-of-page-0)."""
    pages = []
    first_tags: dict[int, list] = {}
    for tags, e in _tiff_ifds(data):
        if not pages:
            first_tags = tags
        w = tags[TAG_IMAGE_WIDTH][0]
        h = tags[TAG_IMAGE_LENGTH][0]
        spp = tags.get(TAG_SAMPLES_PER_PIXEL, [1])[0]
        bits = tags[TAG_BITS_PER_SAMPLE][0]
        sfmt = tags.get(TAG_SAMPLE_FORMAT, [1])[0]
        comp = tags.get(TAG_COMPRESSION, [1])[0]
        dtype = {
            (8, 1): np.dtype(np.uint8),
            (32, 3): np.dtype(e + "f4"),
            (64, 3): np.dtype(e + "f8"),
        }[(bits, sfmt)]
        if comp not in (1, 5, 8):
            raise NotImplementedError(
                f"TIFF compression {comp} not supported "
                "(NONE/LZW/deflate are)"
            )
        chunks = []
        for off, cnt in zip(tags[TAG_STRIP_OFFSETS], tags[TAG_STRIP_BYTE_COUNTS]):
            blob = data[off : off + cnt]
            if comp == 8:
                chunks.append(zlib.decompress(blob))
            elif comp == 5:
                chunks.append(tiff_lzw_decode(blob))
            else:
                chunks.append(blob)
        arr = np.frombuffer(b"".join(chunks), dtype=dtype)
        if arr.dtype.byteorder == ">":
            arr = arr.astype(arr.dtype.newbyteorder("="))
        page = arr.reshape((h, w) if spp == 1 else (h, w, spp))
        if tags.get(TAG_PREDICTOR, [1])[0] == 2:
            if page.dtype != np.uint8:
                raise NotImplementedError(
                    "TIFF predictor 2 supported for 8-bit samples only"
                )
            # horizontal differencing: undo via per-row running sum
            # (uint8 cumsum wraps mod 256 by definition)
            page = np.cumsum(page, axis=1, dtype=np.uint8)
        pages.append(page)
    return pages, first_tags


def block_mean_2d(arr: np.ndarray, factor: int) -> np.ndarray:
    """Reduced-resolution page for overview pyramids (trailing partial
    blocks are averaged over the pixels present)."""
    a = np.asarray(arr, dtype="float64")
    h, w = a.shape[:2]
    ph, pw = -h % factor, -w % factor
    if ph or pw:
        a = np.pad(a, [(0, ph), (0, pw)] + [(0, 0)] * (a.ndim - 2), constant_values=np.nan)
    hh, ww = a.shape[0] // factor, a.shape[1] // factor
    blocks = a.reshape((hh, factor, ww, factor) + a.shape[2:])
    import warnings

    with warnings.catch_warnings():
        # padded all-NaN blocks legitimately average to NaN
        warnings.simplefilter("ignore", RuntimeWarning)
        out = np.nanmean(np.nanmean(blocks, axis=3), axis=1)
    if arr.dtype == np.uint8:
        return np.clip(np.rint(np.nan_to_num(out)), 0, 255).astype(np.uint8)
    return out.astype(arr.dtype)


def add_tiff_overviews(path: str, factors: list[int]) -> None:
    """Append reduced-resolution pages to an existing single-page TIFF
    (≙ ``add_overviews``, ``plugins/__init__.py:928-944``)."""
    with open(path, "rb") as fh:
        pages, tags = decode_geotiff(fh.read())
    base = pages[0]
    ovs = [block_mean_2d(base, int(f)) for f in factors]
    desc = tags.get(TAG_DESCRIPTION, [None])[0]
    scale = tags.get(TAG_MODEL_PIXEL_SCALE)
    tp = tags.get(TAG_MODEL_TIEPOINT)
    blob = encode_geotiff(
        base,
        pixel_scale=(scale[0], scale[1]) if scale else None,
        tiepoint=(tp[3], tp[4]) if tp else None,
        description=desc,
        compress="DEFLATE" if tags.get(TAG_COMPRESSION, [1])[0] == 8 else "NONE",
        overviews=ovs,
    )
    with open(path, "wb") as fh:
        fh.write(blob)


def ninjo_description(kwargs: dict) -> str | None:
    """Serialize ninjo-specific writer kwargs (ChannelID, PhysicUnit, …)
    into the TIFF ImageDescription tag — the single-file stand-in for
    ninjogeotiff's embedded NinJo metadata (``plugins/__init__.py`` ninjo
    writers; keys per the reference's test at
    ``tests/test_trollflow2.py:733-737``)."""
    ninjo_keys = {
        k: str(v)
        for k, v in kwargs.items()
        if k
        in (
            "ChannelID",
            "DataType",
            "PhysicUnit",
            "PhysicValue",
            "SatelliteNameID",
        )
    }
    return json.dumps(ninjo_keys, sort_keys=True) if ninjo_keys else None
