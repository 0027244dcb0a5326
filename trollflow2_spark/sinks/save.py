"""Sinks: multi-format fan-out with atomic commit + output manifest.

Maps the reference's writer stack (``save_datasets`` /
``save_dataset`` / tmp-file + staging-zone atomic renames / callbacks /
``check_results`` — ``/root/reference/trollflow2/plugins/__init__.py:
223-473`` and ``launcher.py:90-143``) onto Spark write actions:

- *one computation, many sinks*: the shared scene plan is persisted once
  and every format writes from it (≙ the single
  ``compute_writer_results`` call at ``plugins/__init__.py:395``;
  ``eager_writing=True`` skips the persist, like ``:376``);
- *atomic commit*: each output is written to ``<final>.<token>.tmp`` and
  atomically renamed after success (≙ ``use_tmp_file``/``staging_zone``,
  ``plugins/__init__.py:235-255``). Spark's own FileOutputCommitter
  already stages task files; this directory-level rename additionally
  makes the *whole dataset* appear atomically for downstream pollers;
- *callbacks*: per-output hooks run post-commit
  (≙ ``call_on_done``, ``plugins/__init__.py:1082-1138``);
- *manifest*: every write appends a row; ``check_results`` audits it
  (counts / empty / missing — ``launcher.py:90-143``).

Scale notes: outputs are directories of part-files (cluster-writable,
committer-backed); writer fan-out is a driver loop over *formats*
(config-sized), never over rows; the persisted prefix is unpersisted at
the end to return executor memory.
"""

from __future__ import annotations

import functools
import json
import os
import time
import uuid
from dataclasses import dataclass, field
from typing import Any, Callable, Sequence

from pyspark.sql import DataFrame, SparkSession

# ---------------------------------------------------------------------------
# Writer registry (≙ geotiff/cf/simple_image/ninjotiff writers,
# dict_tools.py:58, examples/pl.yaml:23-26). Table formats write natively
# through Spark; image/netcdf writers encode single files with the
# stdlib encoders in ``sinks.imagery`` / ``sinks.netcdf`` (PNG, GeoTIFF,
# NetCDF CDF-1; no rasterio/netCDF4 needed).

WRITER_REGISTRY: dict[str, Callable[[DataFrame, str, dict], None]] = {}


def register_writer(name: str):
    def deco(fn):
        WRITER_REGISTRY[name] = fn
        return fn

    return deco


def _strip_engine_kwargs(kwargs: dict) -> dict:
    """Drop engine-only keys before handing kwargs to a writer
    (≙ ``plugins/__init__.py:290-291``)."""
    engine_only = {
        "fname_pattern", "output_dir", "staging_zone", "use_tmp_file",
        "eager_writing", "call_on_done", "format", "writer", "priority",
        "productname", "areaname", "area", "product", "resolution",
        "publish_topic", "dispatch",
    }
    return {k: str(v) for k, v in kwargs.items() if k not in engine_only and v is not None}


@register_writer("parquet")
def _write_parquet(df: DataFrame, path: str, kwargs: dict) -> None:
    df.write.options(**_strip_engine_kwargs(kwargs)).mode("overwrite").parquet(path)


@register_writer("csv")
def _write_csv(df: DataFrame, path: str, kwargs: dict) -> None:
    opts = {"header": "true", **_strip_engine_kwargs(kwargs)}
    df.write.options(**opts).mode("overwrite").csv(path)


@register_writer("json")
def _write_json(df: DataFrame, path: str, kwargs: dict) -> None:
    df.write.options(**_strip_engine_kwargs(kwargs)).mode("overwrite").json(path)


def _float_opt(kwargs: dict, key: str):
    v = kwargs.get(key)
    return None if v is None else float(v)


# --- blob builders: (pandas frame of (y, x, value...), kwargs) -> bytes.
# Module-level so both encode paths can use them: the default driver
# gather AND the executor-side single-task encode (pickled into the
# kernel closure for very large areas).


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


def _truthy(v) -> bool:
    return str(v).lower() in ("true", "1", "yes", "on")


def _write_single_file(df: DataFrame, path: str, kwargs: dict, blob_fn) -> None:
    """Encode one bounded raster to a single file.

    Default: one Arrow ``toPandas`` gather (the grid is area-definition-
    sized, config-bounded — see the scale note in
    :mod:`trollflow2_spark.sinks.imagery`). With
    ``encode_on_executor: true`` the grid instead coalesces into ONE
    executor task that assembles, encodes, and writes the file itself —
    the driver never holds the pixels (the upgrade for very large areas,
    e.g. a 10k×10k float grid ~800 MB; the output path must then be a
    shared filesystem, which local mode and any DFS mount satisfy)."""
    x_col = kwargs.get("x_col", "x")
    y_col = kwargs.get("y_col", "y")
    cols = [c for c in (y_col, x_col) if c in df.columns]
    value_col = kwargs.get("value_col")
    if value_col:
        cols.append(value_col)
    else:
        cols += [c for c in df.columns if c not in cols]
    sel = df.select(*cols)
    if not _truthy(kwargs.get("encode_on_executor")):
        with open(path, "wb") as fh:
            fh.write(blob_fn(sel.toPandas(), kwargs))
        return

    kw = {
        k: v
        for k, v in kwargs.items()
        if isinstance(v, (str, int, float, bool, list, tuple, type(None)))
    }

    def kernel(batches):
        import pandas as pd

        frames = list(batches)
        pdf = (
            pd.concat(frames, ignore_index=True)
            if frames
            else pd.DataFrame(columns=cols)
        )
        blob = blob_fn(pdf, kw)
        with open(path, "wb") as fh:
            fh.write(blob)
        yield pd.DataFrame({"path": [path], "n_bytes": [len(blob)]})

    written = sel.coalesce(1).mapInPandas(kernel, "path string, n_bytes long")
    written.collect()  # one control row; triggers the single encode task


def _write_simple_image(df: DataFrame, path: str, kwargs: dict) -> None:
    """Real single-file PNG (≙ satpy ``simple_image`` writer dispatch at
    ``plugins/__init__.py:277-310``): min-max stretch to uint8 + stdlib
    PNG encoding."""
    _write_single_file(df, path, kwargs, _png_blob)


_write_simple_image.needs_coords = True


def _geotiff_writer(ninjo: bool):
    def writer(df: DataFrame, path: str, kwargs: dict) -> None:
        _write_single_file(
            df, path, kwargs, functools.partial(_geotiff_blob, ninjo=ninjo)
        )

    writer.needs_coords = True
    return writer


WRITER_REGISTRY["simple_image"] = _write_simple_image
WRITER_REGISTRY["geotiff"] = _geotiff_writer(ninjo=False)
WRITER_REGISTRY["ninjotiff"] = _geotiff_writer(ninjo=True)
WRITER_REGISTRY["ninjogeotiff"] = _geotiff_writer(ninjo=True)


def _write_cf(df: DataFrame, path: str, kwargs: dict) -> None:
    """Real single-file CF NetCDF (classic/CDF-1 encoded from the public
    spec — no netCDF4 in this container): every product column becomes
    an NC_DOUBLE variable on the shared (y, x) grid, with CF-ish global
    attributes from the work-item metadata."""
    _write_single_file(df, path, kwargs, _cf_blob)


_write_cf.needs_coords = True
WRITER_REGISTRY["cf"] = _write_cf


# ---------------------------------------------------------------------------
# Filename composition (driver-side trollsift analog for output paths;
# the Column version lives in operators/transforms.py).

import datetime as _dt
import re as _re

_FIELD_RE = _re.compile(r"\{([A-Za-z_][A-Za-z0-9_]*)(?::([^}]+))?\}")


def compose_filename(pattern: str, mda: dict) -> str:
    """Render ``{field}`` / ``{field:%strftime}`` patterns from metadata
    (≙ trollsift ``compose`` used at ``plugins/__init__.py:211-212``)."""

    def sub(m: _re.Match) -> str:
        field_name, spec = m.group(1), m.group(2)
        val = mda.get(field_name)
        if val is None:
            return ""
        if spec and "%" in spec:
            if isinstance(val, str):
                val = _dt.datetime.fromisoformat(val)
            return val.strftime(spec)
        if spec:
            return format(val, spec)
        return str(val)

    return _FIELD_RE.sub(sub, pattern)


# ---------------------------------------------------------------------------
# Callbacks (≙ call_on_done, plugins/__init__.py:1082-1138). Each takes
# (produced: dict, job: dict) and may rewrite the produced-file record.

def callback_log(produced: dict, job: dict) -> dict:
    """Log the size of a produced dataset (≙ ``callback_log``,
    ``plugins/__init__.py:1110-1121``)."""
    import logging

    size = produced.get("size_bytes", -1)
    logging.getLogger(__name__).info(
        "Wrote %s (%d bytes)", produced.get("filename"), size
    )
    return produced


def callback_move(produced: dict, job: dict) -> dict:
    """Move a finished output from the staging zone to its final
    destination (≙ ``callback_move``, ``plugins/__init__.py:1124-1138``)."""
    import shutil

    staging = produced.get("staged_filename")
    final = produced["filename"]
    if staging and staging != final:
        if os.path.exists(final):
            shutil.rmtree(final) if os.path.isdir(final) else os.remove(final)
        os.replace(staging, final)
        for side in (staging + ".meta.json",):
            if os.path.exists(side):
                os.replace(side, final + ".meta.json")
        produced = {**produced, "staged_filename": None}
    return produced


def callback_close(produced: dict, job: dict) -> dict:
    """Close/flush the output target (directory datasets are already
    committed by Spark's committer — no-op hook kept for parity with
    ``callback_close``, ``plugins/__init__.py:1096-1107``)."""
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

    Parity: ``save_datasets`` (``plugins/__init__.py:330-395``) — shared
    computation via persist (unless ``eager_writing``), per-leaf writer
    dispatch, atomic tmp/staging commit, post-commit callbacks, manifest.

    The work-item loop is config-sized (driver-side by design); the data
    itself never leaves the cluster.
    """
    result = SaveResult()
    callbacks = [CALLBACK_REGISTRY[c] for c in (call_on_done or ["callback_log"])]
    if use_tmp_file and "callback_move" not in (call_on_done or []):
        callbacks.append(callback_move)

    shared = scene if eager_writing else scene.persist()
    try:
        for item in work_items:
            mda = {**(base_mda or {}), **{k: v for k, v in item.items() if v is not None}}
            mda.setdefault("productname", (item.get("product") or [""])[0])
            pattern = mda.get("fname_pattern", "{productname}.{format}")
            out_dir = mda.get("output_dir", ".")
            final_path = os.path.join(out_dir, compose_filename(pattern, mda))

            stage_dir = staging_zone or out_dir
            os.makedirs(stage_dir, exist_ok=True)
            os.makedirs(out_dir, exist_ok=True)
            write_path = final_path
            if use_tmp_file:
                token = uuid.uuid4().hex[:8]
                write_path = os.path.join(
                    stage_dir, os.path.basename(final_path) + f".{token}.tmp"
                )

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
            prod_cols = [c for c in (item.get("product") or []) if c in shared.columns]
            if item.get("product") and not prod_cols:
                import logging

                logging.getLogger(__name__).warning(
                    "product %s missing from scene, skipping", item.get("product")
                )
                continue
            if getattr(writer, "needs_coords", False):
                # image writers pivot on the grid coordinates
                coord_cols = [
                    c
                    for c in (mda.get("y_col", "y"), mda.get("x_col", "x"))
                    if c in shared.columns and c not in prod_cols
                ]
                prod_cols = coord_cols + prod_cols
            to_write = shared.select(*prod_cols) if prod_cols else shared

            t0 = time.time()
            # single-pass row audit: df.observe rides the writer's own
            # action, so the manifest gets a row count WITHOUT the
            # separate count() scan a 100 TB write could not afford
            from pyspark.sql import Observation, functions as _F

            obs = Observation()
            observed = to_write.observe(
                obs, _F.count(_F.lit(1)).alias("n_rows")
            )
            writer(observed, write_path, dict(mda))
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
                "n_rows": int(obs.get.get("n_rows", 0)),
                "elapsed_sec": round(time.time() - t0, 3),
            }
            for cb in callbacks:
                produced = cb(produced, job or {})
            result.produced.append(produced)
    finally:
        if not eager_writing:
            shared.unpersist()
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
