"""Sinks: one gather per batch, every format written from it, atomic commit.

Maps the reference's writer stack (``save_datasets`` /
``save_dataset`` / tmp-file + staging-zone atomic renames / callbacks /
``check_results`` — ``/root/reference/trollflow2/plugins/__init__.py:
223-473`` and ``launcher.py:90-143``):

- *one computation, many sinks*: the columns every output of a batch
  writes are gathered once into one Arrow table on the driver, and each
  writer encodes its file from that table (≙ the single
  ``compute_writer_results`` call at ``plugins/__init__.py:395``). The
  gather is ``sources.scene.gather_arrow``: a parquet scene no plugin
  changed is read from its files with pyarrow, with no Spark job and
  no Spark plan built; any other frame runs one ``toArrow()`` Spark job;
- *atomic commit*: each output is written to ``<final>.<token>.tmp`` and
  renamed into place after success (≙ ``use_tmp_file``/``staging_zone``,
  ``plugins/__init__.py:235-255``), so downstream pollers only ever see
  whole products; a failing writer's ``.tmp`` is removed;
- *callbacks*: per-output hooks run post-commit
  (≙ ``call_on_done``, ``plugins/__init__.py:1082-1138``);
- *manifest*: every write appends a row; ``check_results`` audits it
  (counts / empty / missing — ``launcher.py:90-143``).

Table formats keep Spark's dataset layout (a directory holding one
``part-00000-<uuid>-c000.<ext>`` file and ``_SUCCESS``) and its text
tokens, so ``spark.read`` sees the same datasets Spark's own writers made.

Scale notes: the gather is bounded by one batch's output columns over
its area, the same bound the reference's single in-process compute has;
writer fan-out is a driver loop over *formats* (config-sized).
"""

from __future__ import annotations

import datetime as _dt
import functools
import json
import logging
import math
import os
import shutil
import time
import uuid
from dataclasses import dataclass, field
from decimal import Decimal
from typing import Any, Callable, Sequence

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession

logger = logging.getLogger(__name__)

# ---------------------------------------------------------------------------
# Writer registry (≙ geotiff/cf/simple_image/ninjotiff writers,
# dict_tools.py:58, examples/pl.yaml:23-26). Every writer takes the
# batch's gathered Arrow table (only the item's columns): table formats
# write Spark-layout datasets with pyarrow / the text encoders below;
# image/netcdf writers encode single files with the stdlib encoders in
# ``sinks.imagery`` / ``sinks.netcdf`` (PNG, GeoTIFF, NetCDF CDF-1; no
# rasterio/netCDF4 needed).

WRITER_REGISTRY: dict[str, Callable[[pa.Table, str, dict], None]] = {}


def register_writer(name: str):
    def deco(fn):
        WRITER_REGISTRY[name] = fn
        return fn

    return deco


def _remove(path: str) -> None:
    """Delete a file or directory output if it exists."""
    if os.path.isdir(path) and not os.path.islink(path):
        shutil.rmtree(path)
    elif os.path.lexists(path):
        os.remove(path)


def _write_dataset(path: str, ext: str, write_part: Callable[[str], None]) -> None:
    """Write one part file plus ``_SUCCESS`` into a fresh dataset
    directory, replacing any existing output (Spark's overwrite mode)."""
    _remove(path)
    os.makedirs(path)
    write_part(os.path.join(path, f"part-00000-{uuid.uuid4()}-c000.{ext}"))
    open(os.path.join(path, "_SUCCESS"), "wb").close()


def _write_lines(path: str, ext: str, lines) -> None:
    def write_part(part: str) -> None:
        with open(part, "w", encoding="utf-8", newline="") as fh:
            fh.writelines(lines)

    _write_dataset(path, ext, write_part)


# --- Spark's text tokens (JSON and CSV writers)


def _java_float(v: float, single: bool = False) -> str:
    """``Double.toString`` / ``Float.toString``: plain notation for
    1e-3 <= |v| < 1e7, else ``d.dddE<n>``; always one fractional digit."""
    if math.isnan(v):
        return "NaN"
    if math.isinf(v):
        return "Infinity" if v > 0 else "-Infinity"
    if v == 0:
        return "-0.0" if math.copysign(1.0, v) < 0 else "0.0"
    sign, digits, exp = Decimal(str(np.float32(v)) if single else repr(v)).as_tuple()
    text = "".join(map(str, digits)).rstrip("0")
    point = len(digits) + exp  # value = 0.<text> * 10**point
    lo = float(np.float32(1e-3)) if single else 1e-3
    if lo <= abs(v) < 1e7:
        if point <= 0:
            body = "0." + "0" * -point + text
        elif point >= len(text):
            body = text + "0" * (point - len(text)) + ".0"
        else:
            body = text[:point] + "." + text[point:]
    else:
        body = f"{text[0]}.{text[1:] or '0'}E{point - 1}"
    return "-" + body if sign else body


def _spark_timestamp(v: _dt.datetime) -> str:
    """``yyyy-MM-dd'T'HH:mm:ss.SSS[XXX]`` (UTC offset written ``Z``)."""
    text = v.isoformat(timespec="milliseconds")
    return text[:-6] + "Z" if text.endswith("+00:00") else text


def _scalar_token(t: pa.DataType) -> Callable[[Any], str]:
    """The text Spark's JSON and CSV writers print for a non-string value."""
    if pa.types.is_boolean(t):
        return lambda v: "true" if v else "false"
    if pa.types.is_floating(t):
        single = t.bit_width == 32
        return lambda v: _java_float(v, single)
    if pa.types.is_integer(t) or pa.types.is_decimal(t):
        return str
    if pa.types.is_timestamp(t):
        return _spark_timestamp
    if pa.types.is_date(t):
        return _dt.date.isoformat
    raise TypeError(f"no text encoding for column type {t}")


def _json_token(t: pa.DataType) -> Callable[[Any], str]:
    """Spark's JSON token: strings escaped; non-finite floats, timestamps
    and dates quoted; structs as objects without their null fields;
    arrays with ``null``."""
    if pa.types.is_string(t) or pa.types.is_large_string(t):
        return lambda v: json.dumps(v, ensure_ascii=False)
    if pa.types.is_struct(t):
        fields = [(json.dumps(f.name, ensure_ascii=False) + ":", _json_token(f.type)) for f in t]
        return lambda v: "{" + ",".join(
            name + tok(x) for (name, tok), x in zip(fields, v.values()) if x is not None
        ) + "}"
    if pa.types.is_list(t) or pa.types.is_large_list(t):
        tok = _json_token(t.value_type)
        return lambda v: "[" + ",".join("null" if x is None else tok(x) for x in v) + "]"
    scalar = _scalar_token(t)
    if pa.types.is_floating(t):
        return lambda v: scalar(v) if math.isfinite(v) else f'"{scalar(v)}"'
    if pa.types.is_timestamp(t) or pa.types.is_date(t):
        return lambda v: f'"{scalar(v)}"'
    return scalar


_CSV_TRIM = "".join(map(chr, range(33)))  # what Spark trims on write: chars <= ' '


def _csv_field(s: str) -> str:
    """Spark's CSV text for a string: edges trimmed, empty as ``""``, and
    quoted (``\\`` and ``\"`` escaped) when it held ``,`` ``"`` or a newline."""
    quote = any(c in s for c in ',"\r\n')
    s = s.strip(_CSV_TRIM)
    if not s:
        return '""'
    return '"' + s.replace("\\", "\\\\").replace('"', '\\"') + '"' if quote else s


def _csv_token(t: pa.DataType) -> Callable[[Any], str]:
    if pa.types.is_string(t) or pa.types.is_large_string(t):
        return _csv_field
    return _scalar_token(t)


@register_writer("parquet")
def _write_parquet(table: pa.Table, path: str, kwargs: dict) -> None:
    import pyarrow.parquet as pq

    _write_dataset(
        path, "snappy.parquet", lambda part: pq.write_table(table, part, compression="snappy")
    )


@register_writer("json")
def _write_json(table: pa.Table, path: str, kwargs: dict) -> None:
    """JSON lines as Spark writes them: one object per row, null fields omitted."""
    row_token = _json_token(pa.struct(list(table.schema)))
    _write_lines(path, "json", (row_token(row) + "\n" for row in table.to_pylist()))


@register_writer("csv")
def _write_csv(table: pa.Table, path: str, kwargs: dict) -> None:
    """CSV as Spark writes it with a header row: nulls as empty fields."""
    tokens = [_csv_token(f.type) for f in table.schema]
    header = ",".join(map(_csv_field, table.column_names)) + "\n"
    lines = (
        ",".join("" if v is None else tok(v) for tok, v in zip(tokens, row)) + "\n"
        for row in zip(*(col.to_pylist() for col in table.columns))
    )
    _write_lines(path, "csv", [header, *lines])


def _float_opt(kwargs: dict, key: str):
    v = kwargs.get(key)
    return None if v is None else float(v)


# --- blob builders: (pandas frame of (y, x, value...), kwargs) -> bytes.

def _png_blob(pdf, kwargs: dict) -> bytes:
    from trollflow2_spark.sinks import imagery

    x_col = kwargs.get("x_col", "x")
    y_col = kwargs.get("y_col", "y")
    value_col = kwargs.get("value_col") or next(
        (c for c in pdf.columns if c not in (x_col, y_col)), pdf.columns[0]
    )
    grid = imagery.grid_from_pandas(pdf, value_col, x_col=x_col, y_col=y_col)
    stretched = imagery.stretch_to_uint8(
        grid,
        vmin=_float_opt(kwargs, "vmin"),
        vmax=_float_opt(kwargs, "vmax"),
        fill_value=int(kwargs.get("fill_value", 0)),
    )
    return imagery.encode_png(stretched)


def _geotiff_blob(pdf, kwargs: dict, ninjo: bool = False) -> bytes:
    from trollflow2_spark.sinks import imagery

    x_col = kwargs.get("x_col", "x")
    y_col = kwargs.get("y_col", "y")
    value_col = kwargs.get("value_col") or next(
        (c for c in pdf.columns if c not in (x_col, y_col)), pdf.columns[0]
    )
    grid = imagery.grid_from_pandas(pdf, value_col, x_col=x_col, y_col=y_col)
    if str(kwargs.get("dtype", "uint8")).startswith("float"):
        arr = grid.astype("float32")
    else:
        arr = imagery.stretch_to_uint8(
            grid,
            vmin=_float_opt(kwargs, "vmin"),
            vmax=_float_opt(kwargs, "vmax"),
            fill_value=int(kwargs.get("fill_value", 0)),
        )
    desc = imagery.ninjo_description(kwargs) if ninjo else None
    scale = kwargs.get("pixel_scale")
    tp = kwargs.get("tiepoint")
    return imagery.encode_geotiff(
        arr,
        pixel_scale=tuple(scale) if scale else None,
        tiepoint=tuple(tp) if tp else None,
        epsg=int(kwargs.get("epsg", 4326)),
        description=desc,
        compress=str(kwargs.get("compress", "NONE")),
    )


def _cf_blob(pdf, kwargs: dict) -> bytes:
    from trollflow2_spark.sinks import imagery, netcdf

    x_col = kwargs.get("x_col", "x")
    y_col = kwargs.get("y_col", "y")
    coord = {x_col, y_col}
    value_cols = [c for c in pdf.columns if c not in coord]
    grids = {
        c: imagery.grid_from_pandas(pdf, c, x_col=x_col, y_col=y_col)
        for c in value_cols
    }
    attrs = {"Conventions": "CF-1.7"}
    for k in ("platform_name", "sensor", "start_time", "area", "productname"):
        if kwargs.get(k) is not None:
            attrs[k] = str(kwargs[k])
    return netcdf.encode_netcdf(grids, attrs)


def _write_single_file(table: pa.Table, path: str, kwargs: dict, blob_fn) -> None:
    """Encode one bounded raster to a single file from the gathered grid
    (area-definition-sized, config-bounded — see the scale note in
    :mod:`trollflow2_spark.sinks.imagery`)."""
    x_col = kwargs.get("x_col", "x")
    y_col = kwargs.get("y_col", "y")
    cols = [c for c in (y_col, x_col) if c in table.column_names]
    value_col = kwargs.get("value_col")
    if value_col:
        cols.append(value_col)
    else:
        cols += [c for c in table.column_names if c not in cols]
    with open(path, "wb") as fh:
        fh.write(blob_fn(table.select(cols).to_pandas(), kwargs))


def _write_simple_image(table: pa.Table, path: str, kwargs: dict) -> None:
    """Real single-file PNG (≙ satpy ``simple_image`` writer dispatch at
    ``plugins/__init__.py:277-310``): min-max stretch to uint8 + stdlib
    PNG encoding."""
    _write_single_file(table, path, kwargs, _png_blob)


_write_simple_image.needs_coords = True


def _geotiff_writer(ninjo: bool):
    def writer(table: pa.Table, path: str, kwargs: dict) -> None:
        _write_single_file(
            table, path, kwargs, functools.partial(_geotiff_blob, ninjo=ninjo)
        )

    writer.needs_coords = True
    return writer


WRITER_REGISTRY["simple_image"] = _write_simple_image
WRITER_REGISTRY["geotiff"] = _geotiff_writer(ninjo=False)
WRITER_REGISTRY["ninjotiff"] = _geotiff_writer(ninjo=True)
WRITER_REGISTRY["ninjogeotiff"] = _geotiff_writer(ninjo=True)


def _write_cf(table: pa.Table, path: str, kwargs: dict) -> None:
    """Real single-file CF NetCDF (classic/CDF-1 encoded from the public
    spec — no netCDF4 in this container): every product column becomes
    an NC_DOUBLE variable on the shared (y, x) grid, with CF-ish global
    attributes from the work-item metadata."""
    _write_single_file(table, path, kwargs, _cf_blob)


_write_cf.needs_coords = True
WRITER_REGISTRY["cf"] = _write_cf


# ---------------------------------------------------------------------------
# Filename composition (driver-side trollsift analog for output paths;
# the Column version lives in extensions/column_plugins.py).

import re as _re

_FIELD_RE = _re.compile(r"\{([A-Za-z_][A-Za-z0-9_]*)(?::([^}]+))?\}")


class PatternFieldError(ValueError):
    """A metadata value that its pattern field's format spec cannot
    render: a type the spec does not fit, an unreadable time, or a
    non-time value under a ``%`` spec. It comes from the message, so it
    aborts the batch rather than the process."""


def compose_filename(pattern: str, mda: dict) -> str:
    """Render ``{field}`` / ``{field:%strftime}`` patterns from metadata
    (≙ trollsift ``compose`` used at ``plugins/__init__.py:211-212``).
    Raises :class:`PatternFieldError` for a value its spec cannot
    render."""

    def sub(m: _re.Match) -> str:
        field_name, spec = m.group(1), m.group(2)
        val = mda.get(field_name)
        if val is None:
            return ""
        try:
            if spec and "%" in spec:
                when = _dt.datetime.fromisoformat(val) if isinstance(val, str) else val
                return when.strftime(spec)
            if spec:
                return format(val, spec)
        except (AttributeError, TypeError, ValueError) as exc:
            raise PatternFieldError(
                f"pattern field {field_name!r} with spec {spec!r} cannot "
                f"render {val!r}: {exc}"
            ) from exc
        return str(val)

    return _FIELD_RE.sub(sub, pattern)


# ---------------------------------------------------------------------------
# Callbacks (≙ call_on_done, plugins/__init__.py:1082-1138). Each takes
# (produced: dict, job: dict) and may rewrite the produced-file record.

def callback_log(produced: dict, job: dict) -> dict:
    """Log the size of a produced dataset (≙ ``callback_log``,
    ``plugins/__init__.py:1110-1121``)."""
    size = produced.get("size_bytes", -1)
    logger.info("Wrote %s (%d bytes)", produced.get("filename"), size)
    return produced


def _commit(staged: str, final: str) -> None:
    """Put ``staged`` in place of ``final`` so a reader always finds a
    whole product. A file replaces the old one atomically; a directory
    cannot, so the old output is renamed aside first and deleted only
    once the new one is in. If the replace fails, the old output is
    restored and the staged one removed."""
    aside = None
    if os.path.lexists(final) and (os.path.isdir(final) or os.path.isdir(staged)):
        aside = f"{final}.{uuid.uuid4().hex[:8]}.old"
        os.replace(final, aside)
    try:
        os.replace(staged, final)
    except BaseException:
        if aside:
            os.replace(aside, final)
        _remove(staged)
        raise
    if aside:
        _remove(aside)


def callback_move(produced: dict, job: dict) -> dict:
    """Move a finished output from the staging zone to its final
    destination (≙ ``callback_move``, ``plugins/__init__.py:1124-1138``)."""
    staging = produced.get("staged_filename")
    final = produced["filename"]
    if staging and staging != final:
        _commit(staging, final)
        produced = {**produced, "staged_filename": None}
    return produced


def callback_close(produced: dict, job: dict) -> dict:
    """Close/flush the output target (writers close their files before
    the commit — no-op hook kept for parity with ``callback_close``,
    ``plugins/__init__.py:1096-1107``)."""
    return produced


CALLBACK_REGISTRY: dict[str, Callable[[dict, dict], dict]] = {
    "callback_log": callback_log,
    "callback_move": callback_move,
    "callback_close": callback_close,
}


# ---------------------------------------------------------------------------


def _dir_size(path: str) -> tuple[int, int]:
    """(total data bytes, part-file count) for a committed directory
    dataset; counts only data files, not _SUCCESS/CRC."""
    total = 0
    nfiles = 0
    if os.path.isfile(path):
        return os.path.getsize(path), 1
    for root, _dirs, files in os.walk(path):
        for f in files:
            if f.startswith(("_", ".")):
                continue
            total += os.path.getsize(os.path.join(root, f))
            nfiles += 1
    return total, nfiles


@dataclass
class SaveResult:
    produced: list[dict] = field(default_factory=list)


def save_datasets(
    spark: SparkSession,
    scene: DataFrame,
    work_items: Sequence[dict],
    base_mda: dict | None = None,
    eager_writing: bool = False,
    use_tmp_file: bool = True,
    staging_zone: str | None = None,
    call_on_done: Sequence[str] | None = None,
    job: dict | None = None,
) -> SaveResult:
    """Fan out the scene to every work-item leaf's writer/format.

    Parity: ``save_datasets`` (``plugins/__init__.py:330-395``) — one
    shared computation, per-leaf writer dispatch, atomic tmp/staging
    commit, post-commit callbacks, manifest.

    The union of the columns the leaves write is gathered once
    (:func:`~trollflow2_spark.sources.scene.gather_arrow`: a read of the
    files for an unchanged parquet scene, else one Spark job), and every
    writer encodes from that Arrow table on the driver.
    ``eager_writing`` is accepted so reference configs load; it has no
    effect, since every batch is computed once anyway. When
    ``job["cancelled"]`` is set (its worker timed out) no further output
    is committed and the pending ``.tmp`` is removed.
    """
    result = SaveResult()
    callbacks = [CALLBACK_REGISTRY[c] for c in (call_on_done or ["callback_log"])]
    if use_tmp_file and "callback_move" not in (call_on_done or []):
        callbacks.append(callback_move)
    cancelled = (job or {}).get("cancelled")

    # resolve every leaf's writer, columns and path before any data moves
    columns = scene.columns
    leaves = []
    for item in work_items:
        mda = {**(base_mda or {}), **{k: v for k, v in item.items() if v is not None}}
        mda.setdefault("productname", (item.get("product") or [""])[0])
        writer_name = mda.get("writer", "parquet")
        writer = WRITER_REGISTRY.get(writer_name)
        if writer is None:
            raise ValueError(
                f"unknown writer {writer_name!r}; registered: "
                f"{sorted(WRITER_REGISTRY)}"
            )
        # tuple products: select only that product's columns when they
        # exist in the scene; unknown product -> warn & skip
        # (plugins/__init__.py:306-307).
        cols = [c for c in (item.get("product") or []) if c in columns]
        if item.get("product") and not cols:
            logger.warning("product %s missing from scene, skipping", item.get("product"))
            continue
        if getattr(writer, "needs_coords", False):
            # image writers pivot on the grid coordinates
            cols = [
                c
                for c in (mda.get("y_col", "y"), mda.get("x_col", "x"))
                if c in columns and c not in cols
            ] + cols
        pattern = mda.get("fname_pattern", "{productname}.{format}")
        final_path = os.path.join(
            mda.get("output_dir", "."), compose_filename(pattern, mda)
        )
        leaves.append((item, mda, writer_name, writer, cols or columns, final_path))
    if not leaves:
        return result

    # imported here: sources.scene imports the sinks package
    from trollflow2_spark.sources.scene import gather_arrow

    table = gather_arrow(
        scene, list(dict.fromkeys(c for *_, cols, _path in leaves for c in cols))
    )
    for item, mda, writer_name, writer, cols, final_path in leaves:
        out_dir = mda.get("output_dir", ".")
        stage_dir = staging_zone or out_dir
        os.makedirs(stage_dir, exist_ok=True)
        os.makedirs(out_dir, exist_ok=True)
        write_path = final_path
        if use_tmp_file:
            token = uuid.uuid4().hex[:8]
            write_path = os.path.join(
                stage_dir, os.path.basename(final_path) + f".{token}.tmp"
            )

        t0 = time.time()
        try:
            writer(table.select(cols), write_path, dict(mda))
        except BaseException:
            if use_tmp_file:
                _remove(write_path)
            raise
        if cancelled is not None and cancelled.is_set():
            if use_tmp_file:
                _remove(write_path)
            logger.warning("save_datasets cancelled before committing %s", final_path)
            break
        size, nfiles = _dir_size(write_path)
        produced = {
            "filename": final_path,
            "staged_filename": write_path if use_tmp_file else None,
            "area": item.get("area"),
            "product": ",".join(item.get("product") or []) or mda.get("productname"),
            "format": mda.get("format"),
            "writer": writer_name,
            "size_bytes": size,
            "n_files": nfiles,
            "n_rows": table.num_rows,
            "elapsed_sec": round(time.time() - t0, 3),
        }
        for cb in callbacks:
            produced = cb(produced, job or {})
        result.produced.append(produced)
    return result


def check_results(
    result: SaveResult, start_time: float | None = None, expected: int | None = None
) -> dict:
    """Audit the produced-files manifest: missing/empty/nominal counts
    (≙ ``check_results``, ``launcher.py:90-143``)."""
    n_produced = len(result.produced)
    empties = [
        p["filename"]
        for p in result.produced
        if p.get("size_bytes", 0) == 0 or p.get("n_rows", 1) == 0
    ]
    missing = [] if expected is None else [None] * max(0, expected - n_produced)
    elapsed = None if start_time is None else round(time.time() - start_time, 3)
    status = "nominal"
    if empties:
        status = "empty_files"
    if missing:
        status = "missing_files"
    return {
        "status": status,
        "n_produced": n_produced,
        "n_empty": len(empties),
        "empty_files": empties,
        "n_missing": len(missing),
        "elapsed_sec": elapsed,
    }
