"""Pure-stdlib NetCDF classic (CDF-1) encoder/decoder.

Closes the last writer stub: the reference's ``cf`` writer emits CF
NetCDF files via satpy (``/root/reference/trollflow2/plugins/
__init__.py:277-310``; writer registry ``dict_tools.py:58``). netCDF4 is
not in this container, so this encodes the classic format directly from
the public spec (NetCDF User Guide, appendix B / ESDS-RFC-011): header
(dims, global attributes, variables) + big-endian data — readable by
any standard NetCDF tool.

Layout written: non-record file, shared (y, x) dims, one NC_DOUBLE
variable per product, NC_CHAR/NC_DOUBLE global attributes.
"""

from __future__ import annotations

import struct

import numpy as np

NC_BYTE, NC_CHAR, NC_SHORT, NC_INT, NC_FLOAT, NC_DOUBLE = 1, 2, 3, 4, 5, 6
_NC_DIMENSION, _NC_VARIABLE, _NC_ATTRIBUTE = 0x0A, 0x0B, 0x0C
_TYPE_NP = {NC_DOUBLE: ">f8", NC_FLOAT: ">f4", NC_INT: ">i4", NC_SHORT: ">i2"}
_TYPE_SIZE = {NC_BYTE: 1, NC_CHAR: 1, NC_SHORT: 2, NC_INT: 4, NC_FLOAT: 4, NC_DOUBLE: 8}


def _pad4(b: bytes) -> bytes:
    return b + b"\x00" * (-len(b) % 4)


def _name(s: str) -> bytes:
    e = s.encode()
    return struct.pack(">i", len(e)) + _pad4(e)


def _attr_bytes(name: str, value) -> bytes:
    if isinstance(value, str):
        e = value.encode()
        return _name(name) + struct.pack(">ii", NC_CHAR, len(e)) + _pad4(e)
    if isinstance(value, int):
        return _name(name) + struct.pack(">iii", NC_INT, 1, int(value))
    return _name(name) + struct.pack(">iid", NC_DOUBLE, 1, float(value))


def encode_netcdf(
    variables: dict[str, np.ndarray], global_attrs: dict | None = None
) -> bytes:
    """Encode 2-D arrays sharing one (y, x) grid as a classic NetCDF
    file; all variables are written as NC_DOUBLE."""
    if not variables:
        raise ValueError("need at least one variable")
    arrays = {
        k: np.ascontiguousarray(np.asarray(v, dtype="float64"), dtype=">f8")
        for k, v in variables.items()
    }
    shapes = {a.shape for a in arrays.values()}
    if len(shapes) != 1 or len(next(iter(shapes))) != 2:
        raise ValueError(f"all variables must share one 2-D shape, got {shapes}")
    h, w = next(iter(shapes))

    header = bytearray(b"CDF\x01")
    header += struct.pack(">i", 0)  # numrecs
    # dim_list
    header += struct.pack(">ii", _NC_DIMENSION, 2)
    header += _name("y") + struct.pack(">i", h)
    header += _name("x") + struct.pack(">i", w)
    # gatt_list
    attrs = global_attrs or {}
    if attrs:
        header += struct.pack(">ii", _NC_ATTRIBUTE, len(attrs))
        for k in sorted(attrs):
            header += _attr_bytes(k, attrs[k])
    else:
        header += struct.pack(">ii", 0, 0)
    # var_list: entry sizes depend only on names, so compute offsets in a
    # dry pass first
    names = list(arrays)
    vsize = h * w * 8

    def var_entry(name: str, begin: int) -> bytes:
        return (
            _name(name)
            + struct.pack(">i", 2)  # ndims
            + struct.pack(">ii", 0, 1)  # dimids y, x
            + struct.pack(">ii", 0, 0)  # vatt_list ABSENT
            + struct.pack(">i", NC_DOUBLE)
            + struct.pack(">i", vsize)
            + struct.pack(">i", begin)
        )

    var_list_len = 8 + sum(len(var_entry(n, 0)) for n in names)
    data_start = len(header) + var_list_len
    header += struct.pack(">ii", _NC_VARIABLE, len(names))
    for i, n in enumerate(names):
        header += var_entry(n, data_start + i * vsize)
    out = bytes(header)
    for n in names:
        out += arrays[n].tobytes()
    return out


def read_netcdf_header(data) -> tuple[list[tuple[str, tuple, int, int]], dict]:
    """Parse the header of a classic NetCDF file: ([(name, shape, nc
    type, data offset)] per variable, global attrs). Reads only the
    header bytes, so ``data`` may be an ``mmap`` of a large file."""
    if data[:4] != b"CDF\x01":
        raise ValueError("not a classic (CDF-1) NetCDF file")
    pos = 8  # skip magic + numrecs

    def read_i() -> int:
        nonlocal pos
        (v,) = struct.unpack_from(">i", data, pos)
        pos += 4
        return v

    def read_name() -> str:
        nonlocal pos
        n = read_i()
        s = data[pos : pos + n].decode()
        pos += n + (-n % 4)
        return s

    tag, ndims = read_i(), read_i()
    dims = []
    if tag == _NC_DIMENSION:
        for _ in range(ndims):
            dims.append((read_name(), read_i()))
    tag, natts = read_i(), read_i()
    attrs: dict = {}
    if tag == _NC_ATTRIBUTE:
        for _ in range(natts):
            name = read_name()
            typ, nel = read_i(), read_i()
            if typ == NC_CHAR:
                attrs[name] = data[pos : pos + nel].decode()
                pos += nel + (-nel % 4)
            elif typ == NC_INT:
                attrs[name] = read_i()
            elif typ == NC_DOUBLE:
                (attrs[name],) = struct.unpack_from(">d", data, pos)
                pos += 8
            else:
                raise ValueError(f"unsupported attr type {typ}")
    tag, nvars = read_i(), read_i()
    variables = []
    if tag == _NC_VARIABLE:
        for _ in range(nvars):
            name = read_name()
            nd = read_i()
            dimids = [read_i() for _ in range(nd)]
            vtag, vatts = read_i(), read_i()
            if vtag == _NC_ATTRIBUTE:  # pragma: no cover - we write ABSENT
                for _ in range(vatts):
                    read_name()
                    typ, nel = read_i(), read_i()
                    skip = nel * _TYPE_SIZE[typ]
                    pos += skip + (-skip % 4)
            typ = read_i()
            _vsize = read_i()
            begin = read_i()
            variables.append((name, tuple(dims[d][1] for d in dimids), typ, begin))
    return variables, attrs


def decode_netcdf(data: bytes) -> tuple[dict[str, np.ndarray], dict]:
    """Decode a classic NetCDF file written by :func:`encode_netcdf`
    (non-record doubles over named dims). Returns (variables, attrs)."""
    specs, attrs = read_netcdf_header(data)
    variables: dict[str, np.ndarray] = {}
    for name, shape, typ, begin in specs:
        count = int(np.prod(shape)) if shape else 1
        arr = np.frombuffer(data, dtype=_TYPE_NP[typ], count=count, offset=begin)
        variables[name] = arr.reshape(shape).astype(_TYPE_NP[typ].replace(">", "="))
    return variables, attrs
