"""The pipeline runner: (message × product list) -> jobs -> manifest.

This is the engine's query lifecycle (≙ ``process_files`` →
``message_to_jobs`` → ``process_jobs`` in
``/root/reference/trollflow2/launcher.py:269-457``), re-expressed so a
*job* carries lazy DataFrames instead of dask graphs:

    job = {
      "spark":            SparkSession,
      "input_filenames":  [uri, ...],
      "input_mda":        {message metadata},
      "product_list":     {raw config dict},
      "work_items":       [flat leaf dicts for this priority batch],
      "scene":            DataFrame (set by create_scene; a parquet scene's
                          Spark plan is built on first use),
      "cached_scene":     the frame cache_scene persisted (until released),
      "resampled_scenes": {area: DataFrame},
      "produced_files":   SaveResult (set by save_datasets),
      "cancelled":        threading.Event (set when a worker times out),
    }

Worker plugins are ``fn(job, **kwargs)`` callables resolved from
:data:`PLUGIN_REGISTRY` by *name* (safe-YAML pipelines; no code-exec
tags). ``AbortProcessing`` skips the rest of the current priority batch
(≙ ``plugins/__init__.py:82-83``, caught at ``launcher.py:456-457``), and
so do the ``MessageTimeError`` of a message time that is unreadable and
the ``PatternFieldError`` of a message value that a file name, topic or
decoration pattern cannot render.
Per-worker ``timeout`` cancels the batch's Spark jobs via job-group
cancellation — the cluster-side replacement for the reference's
SIGALRM-based timers (``launcher.py:441-455``) — and sets the batch's
``cancelled`` event, so the abandoned worker commits and publishes
nothing more.

Scale notes: per-message work is one Spark job-group on the shared
session; the work-item loop is config-sized; data-path operations stay
declarative inside the registered stages. Executor-side isolation +
task retry replace the reference's process-per-message model
(``launcher.py:23-26``).
"""

from __future__ import annotations

import hashlib
import json
import logging
import math
import threading
import time
import uuid
from collections import OrderedDict
from datetime import datetime, timezone
from typing import Any, Callable, Sequence

from pyspark import InheritableThread
from pyspark.sql import DataFrame, SparkSession, functions as F

from trollflow2_spark.config.work_items import (
    DEFAULT_PRIORITY,
    flatten_product_list,
)
from trollflow2_spark.operators.transforms import (
    COMPOSITE_REGISTRY,
    block_aggregate,
)
from trollflow2_spark.sinks.save import (
    PatternFieldError,
    SaveResult,
    check_results,
    save_datasets,
)
from trollflow2_spark.sinks.publish import publisher_messages, write_messages
from trollflow2_spark.sources.scene import (
    ACCEPTED_MESSAGE_TYPES,
    MessageTimeError,
    SceneCreationError,
    create_scene,
    message_time,
    read_parquet,
    resolve_filesystem_paths,
)

logger = logging.getLogger(__name__)


class AbortProcessing(Exception):
    """Abort the current priority batch (≙ ``plugins/__init__.py:82-83``)."""


# ---------------------------------------------------------------------------
# job building


def message_to_jobs(
    spark: SparkSession, message: dict, product_list: dict
) -> "OrderedDict[int, dict]":
    """(message × product list) -> jobs grouped by ascending priority
    (≙ ``message_to_jobs``/``get_area_priorities``,
    ``launcher.py:253-300``; NULL priority -> 999)."""
    leaves = list(flatten_product_list(product_list, base_mda=None))
    by_prio: dict[int, list[dict]] = {}
    for leaf in leaves:
        prio = leaf.get("priority")
        prio = DEFAULT_PRIORITY if prio is None else int(prio)
        by_prio.setdefault(prio, []).append(leaf)

    # resolved once: an archive message is unpacked once, not per batch
    input_filenames = resolve_filesystem_paths(message)
    jobs: "OrderedDict[int, dict]" = OrderedDict()
    for prio in sorted(by_prio):
        jobs[prio] = {
            "spark": spark,
            "input_filenames": input_filenames,
            "input_mda": dict(message),
            "product_list": product_list,
            "work_items": by_prio[prio],
            "scene": None,
            "resampled_scenes": {},
            "produced_files": SaveResult(),
            "processing_priority": prio,
            "cancelled": threading.Event(),
        }
    return jobs


# ---------------------------------------------------------------------------
# worker plugins (job-level; each wraps the DataFrame operators)

PLUGIN_REGISTRY: dict[str, Callable[..., None]] = {}


def register_plugin(name: str):
    def deco(fn):
        PLUGIN_REGISTRY[name] = fn
        return fn

    return deco


@register_plugin("create_scene")
def create_scene_plugin(
    job: dict, reader: str = "parquet", reader_kwargs: dict | None = None
) -> None:
    """Open the job's input files (≙ ``plugins/__init__.py:86-99``)."""
    try:
        job["scene"] = create_scene(
            job["spark"], job["input_filenames"], reader, reader_kwargs
        )
    except SceneCreationError as exc:
        raise AbortProcessing(str(exc)) from exc


@register_plugin("scene_to_wide")
def scene_to_wide_plugin(job: dict) -> None:
    """No-op, kept so product lists that name it still load: every
    reader, the raster ones included, already emits the wide scene (y, x,
    one column per variable)."""


@register_plugin("check_metadata")
def check_metadata_plugin(job: dict, **criteria: Any) -> None:
    """Scene-level metadata gate on the *message* metadata
    (≙ ``plugins/__init__.py:687-714``): list criterion = categorical
    membership; numeric criterion on a ``*_time`` key = max age in
    minutes (negative = "not older than"). A missing or null key (intake
    drops null fields): warn & pass; an unreadable time aborts the batch."""
    mda = job["input_mda"]
    for key, want in criteria.items():
        if mda.get(key) is None:
            logger.warning("check_metadata: %r not in message metadata, passing", key)
            continue
        val = mda[key]
        if isinstance(want, (list, tuple, set)):
            if val not in want:
                raise AbortProcessing(
                    f"metadata {key}={val!r} not in allowed {sorted(map(str, want))}"
                )
        elif isinstance(want, (int, float)) and not isinstance(want, bool) and (
            key == "start_time" or key.endswith("_time")
        ):
            # age gate applies only to *_time keys (the reference limits
            # the numeric criterion to start_time)
            ts = message_time(mda, key)
            age_min = (datetime.now(timezone.utc) - ts).total_seconds() / 60.0
            if age_min > abs(float(want)):
                raise AbortProcessing(
                    f"metadata {key} age {age_min:.1f} min exceeds {abs(want)} min"
                )
        else:
            if val != want:
                raise AbortProcessing(f"metadata {key}={val!r} != {want!r}")


@register_plugin("metadata_alias")
def metadata_alias_plugin(job: dict, **aliases: dict) -> None:
    """Rewrite message metadata values through per-key alias maps
    (≙ ``plugins/__init__.py:717-736``); list/tuple values element-wise."""
    mda = job["input_mda"]
    for key, amap in aliases.items():
        if key not in mda:
            continue
        val = mda[key]
        if isinstance(val, (list, tuple)):
            mda[key] = type(val)(amap.get(v, v) for v in val)
        else:
            mda[key] = amap.get(val, val)


@register_plugin("load_composites")
def load_composites_plugin(job: dict, composites: Sequence[str] | None = None) -> None:
    """Derive requested composite columns on the scene
    (≙ ``plugins/__init__.py:102-121``). ``composites=None`` derives the
    union of all products named by the work items that exist in the
    registry — unknown names are assumed to be raw channels."""
    scene = job["scene"]
    if composites is None:
        wanted: list[str] = []
        for item in job["work_items"]:
            for p in item.get("product") or []:
                if p in COMPOSITE_REGISTRY and p not in wanted:
                    wanted.append(p)
        composites = wanted
    for name in composites:
        scene = scene.withColumn(name, COMPOSITE_REGISTRY[name](scene))
    job["scene"] = scene


@register_plugin("aggregate")
def aggregate_plugin(job: dict, value_cols: Sequence[str] | None = None, **factors: int) -> None:
    """Block-aggregate the scene by integer factors
    (≙ ``plugins/__init__.py:124-130``)."""
    scene = job["scene"]
    if value_cols is None:
        keyed = set(factors)
        value_cols = [
            c for c, t in scene.dtypes
            if c not in keyed and t in ("double", "float", "int", "bigint")
        ]
    job["scene"] = block_aggregate(scene, factors, value_cols, agg="avg")


def _sun_zenith_angle_py(ts: datetime, lon: float, lat: float) -> float:
    """Driver-side twin of functions.geometry.sun_zenith_angle_deg (UTC ``ts``)."""
    doy = ts.timetuple().tm_yday
    decl = -23.44 * math.cos(2.0 * math.pi / 365.0 * (doy + 10.0))
    hour = ts.hour + ts.minute / 60.0 + ts.second / 3600.0
    ha = 15.0 * (hour - 12.0) + lon
    cosz = (
        math.sin(math.radians(lat)) * math.sin(math.radians(decl))
        + math.cos(math.radians(lat))
        * math.cos(math.radians(decl))
        * math.cos(math.radians(ha))
    )
    return math.degrees(math.acos(max(-1.0, min(1.0, cosz))))


@register_plugin("sza_check")
def sza_check_plugin(job: dict) -> None:
    """Prune work items by sun-zenith angle at their configured
    (lon, lat) and the message start time in UTC (≙ ``plugins/__init__.py:
    739-783``). Items without SZA config pass untouched. No start time:
    skip; an unreadable one aborts the batch."""
    ts = message_time(job["input_mda"], "start_time")
    if ts is None:
        logger.warning("sza_check: no start_time in message, skipping")
        return
    kept = []
    for item in job["work_items"]:
        lo, hi = item.get("sunzen_minimum_angle"), item.get("sunzen_maximum_angle")
        if lo is None and hi is None:
            kept.append(item)
            continue
        lon = item.get("sunzen_check_lon", 0.0) or 0.0
        lat = item.get("sunzen_check_lat", 0.0) or 0.0
        sza = _sun_zenith_angle_py(ts, float(lon), float(lat))
        if (lo is None or sza >= float(lo)) and (hi is None or sza <= float(hi)):
            kept.append(item)
        else:
            logger.info(
                "sza_check: dropping %s/%s (sza=%.1f)",
                item.get("area"), item.get("product"), sza,
            )
    job["work_items"] = kept


@register_plugin("check_sunlight_coverage")
def check_sunlight_coverage_plugin(job: dict, grid_step_deg: float = 10.0) -> None:
    """Prune work items whose area has a sunlit fraction outside their
    ``[sunlight_min, sunlight_max]`` band at the message start time
    (≙ ``check_sunlight_coverage``, ``plugins/__init__.py:786-902``).

    The sunlit fraction is the share of sample points around the item's
    check coordinates whose SZA < 90 deg (twilight boundary), sampled on
    a coarse lat/lon grid — the closed-form stand-in for the reference's
    spherical polygon intersection. Coverage is cached per (lon, lat)
    so areas sharing a grid compute once (≙ the per-area cache at
    ``:829,853-856``). No start time: skip; an unreadable one aborts."""
    ts = message_time(job["input_mda"], "start_time")
    if ts is None:
        logger.warning("check_sunlight_coverage: no start_time, skipping")
        return
    cache: dict[tuple, float] = {}

    def lit_fraction(lon0: float, lat0: float) -> float:
        key = (lon0, lat0)
        if key not in cache:
            pts = [
                (lon0 + dx, max(-89.0, min(89.0, lat0 + dy)))
                for dx in (-grid_step_deg, 0.0, grid_step_deg)
                for dy in (-grid_step_deg, 0.0, grid_step_deg)
            ]
            lit = sum(
                1 for lon, lat in pts if _sun_zenith_angle_py(ts, lon, lat) < 90.0
            )
            cache[key] = 100.0 * lit / len(pts)
        return cache[key]

    kept = []
    for item in job["work_items"]:
        lo, hi = item.get("sunlight_min"), item.get("sunlight_max")
        if lo is None and hi is None:
            kept.append(item)
            continue
        pct = lit_fraction(
            float(item.get("sunzen_check_lon") or 0.0),
            float(item.get("sunzen_check_lat") or 0.0),
        )
        item["area_sunlight_coverage_percent"] = pct
        if (lo is None or pct >= float(lo)) and (hi is None or pct <= float(hi)):
            kept.append(item)
        else:
            logger.info(
                "sunlight: dropping %s/%s (%.0f%% lit)",
                item.get("area"), item.get("product"), pct,
            )
    job["work_items"] = kept


@register_plugin("covers")
def covers_plugin(job: dict, coverage_fn: Callable[[dict, dict], float] | None = None) -> None:
    """Prune work items whose pass/area coverage is below their
    ``min_coverage`` (≙ ``plugins/__init__.py:582-684``).

    The default backend is the closed-form circular-orbit swath model
    (:func:`~trollflow2_spark.functions.geometry.swath_coverage_percent`
    — the dependency-free stand-in for trollsched's
    ``Pass.area_coverage``). Items without an ``area_extent`` (no
    geometry to intersect) pass with a warning — the reference's
    graceful degradation when its geo stack is missing
    (``plugins/__init__.py:588-591``). An unreadable time aborts."""
    if coverage_fn is None:
        from trollflow2_spark.functions.geometry import coverage_percent_udf

        coverage_fn = coverage_percent_udf()
    kept = []
    for item in job["work_items"]:
        min_cov = item.get("min_coverage")
        if min_cov is None:
            kept.append(item)
            continue
        cov = coverage_fn(job["input_mda"], item)
        if cov is None:
            logger.warning(
                "covers: no geometry for %s, keeping item", item.get("area")
            )
            kept.append(item)
            continue
        item["area_coverage_percent"] = cov
        if cov >= float(min_cov):
            kept.append(item)
        else:
            logger.info(
                "covers: dropping %s (coverage %.1f%% < %.1f%%)",
                item.get("area"), cov, min_cov,
            )
    job["work_items"] = kept


@register_plugin("check_valid_data_fraction")
def check_valid_data_fraction_plugin(job: dict, min_valid_data_fraction: float = 10.0) -> None:
    """Prune work items whose product column has too little valid
    (non-NULL, non-NaN) data (≙ ``plugins/__init__.py:955-1079``).

    One aggregation pass over the scene computes every product's
    fraction at once (≙ the batched ``dask.persist`` at ``:1014-1032`` —
    same compute-once motivation). The scene is not persisted: this pass
    and the save gather each decode it."""
    scene = job["scene"]
    prods = sorted(
        {p for item in job["work_items"] for p in (item.get("product") or []) if p in scene.columns}
    )
    if not prods:
        return
    aggs = []
    for p in prods:
        c = F.col(p)
        valid = F.count(F.when(c.isNotNull() & ~F.isnan(c.cast("double")), F.lit(1)))
        aggs.append((valid / F.count(F.lit(1))).alias(p))
    fractions = scene.agg(*aggs).collect()[0].asDict()
    thresh = float(min_valid_data_fraction) / 100.0
    kept = []
    for item in job["work_items"]:
        named = [p for p in (item.get("product") or []) if p in fractions]
        if not named:
            kept.append(item)
            continue
        rel = min(float(fractions[p] or 0.0) for p in named)
        # sanity band 0 <= rel < 1.05 then threshold (plugins/__init__.py:1069-1072)
        if thresh <= rel < 1.05:
            kept.append(item)
        else:
            logger.info("valid_fraction: dropping %s (%.2f)", item.get("product"), rel)
    job["work_items"] = kept


# Per-resampler default option sets (≙ RESAMPLER_DEFAULT_OPTIONS /
# GLOBAL_RESAMPLER_DEFAULTS, plugins/__init__.py:133-156). Keys the Spark
# engine has no analog for (dask chunking, on-disk caches) are accepted
# and ignored so reference configs load unchanged.
RESAMPLER_DEFAULT_OPTIONS: dict[str, dict] = {
    "ewa": {
        "radius_of_influence": 1.0,
        "reduce_data": True,
        "kernel": "gaussian",
        "weight_min": 0.01,
        "weight_distance_max": 1.0,
        "weight_sum_min": -1.0,
    },
    "bilinear": {
        "radius_of_influence": 1.0,
        "reduce_data": True,
        "kernel": "inverse",
        "weight_min": 0.0,
    },
}
GLOBAL_RESAMPLER_DEFAULTS: dict[str, Any] = {
    "radius_of_influence": 1.0,
    "reduce_data": True,
    "epsilon": 0.0,
}


def resolve_resampler_options(resampler: str, overrides: dict) -> dict:
    """Per-resampler defaults overlaid with explicit config
    (≙ ``_get_plugin_conf`` over ``RESAMPLER_DEFAULT_OPTIONS``,
    ``plugins/__init__.py:159-165``)."""
    defaults = RESAMPLER_DEFAULT_OPTIONS.get(resampler, GLOBAL_RESAMPLER_DEFAULTS)
    return {**defaults, **{k: v for k, v in overrides.items() if v is not None}}


# (application id, source GridArea, target GridArea, radius) -> persisted
# mapping DataFrame (≙ the reference's per-area resampler cache).
# Rebuilding a mapping per batch measurably slowed the resample plugin, so
# within one application the cache keeps one mapping per grid pair the
# product lists name. Entries of a stopped application are dropped.
_MAPPING_CACHE: dict[tuple, DataFrame] = {}
_MAPPING_CACHE_LOCK = threading.Lock()


def _resample_mapped(
    spark: SparkSession,
    scene: DataFrame,
    src_area,
    tgt_area,
    radius: float,
    coords: tuple[str, str],
) -> DataFrame:
    """Fixed grid-pair nearest resample through the precomputed broadcast
    mapping table (``operators/resample.py:grid_to_grid_mapping``): the
    big source side gets its pixel index map-side and broadcast-joins the
    target-area-sized mapping — no explode, no source shuffle. The
    mapping is persisted once per grid pair and application."""
    from trollflow2_spark.operators.resample import (
        grid_to_grid_mapping,
        resample_nearest_mapped,
    )

    app = spark.sparkContext.applicationId
    key = (app, src_area, tgt_area, float(radius))
    with _MAPPING_CACHE_LOCK:
        for stale in [k for k in _MAPPING_CACHE if k[0] != app]:
            # a stopped session's cached blocks went with it: nothing to
            # unpersist, and its DataFrames can no longer be called
            del _MAPPING_CACHE[stale]
        mapping = _MAPPING_CACHE.get(key)
        if mapping is None:
            mapping = grid_to_grid_mapping(spark, tgt_area, src_area, radius).persist()
            _MAPPING_CACHE[key] = mapping
    x, y = coords
    value_cols = [
        c for c, t in scene.dtypes
        if c not in (x, y) and t in ("double", "float", "int", "bigint")
    ]
    keyed = scene.withColumn(
        "s_col",
        F.floor((F.col(x) - F.lit(src_area.x0)) / F.lit(src_area.dx)).cast("int"),
    ).withColumn(
        "s_row",
        F.floor((F.col(y) - F.lit(src_area.y0)) / F.lit(src_area.dy)).cast("int"),
    )
    out = resample_nearest_mapped(keyed, mapping, key_cols=("s_row", "s_col"))
    return out.select(
        (F.lit(tgt_area.x0) + (F.col("t_col") + 0.5) * F.lit(tgt_area.dx)).alias(x),
        (F.lit(tgt_area.y0) + (F.col("t_row") + 0.5) * F.lit(tgt_area.dy)).alias(y),
        *value_cols,
    )


@register_plugin("resample")
def resample_plugin(
    job: dict,
    resampler: str = "null",
    coords: tuple[str, str] = ("x", "y"),
    radius_of_influence: float | None = None,
    reduce_data: bool | None = None,
    aggregate_factors: dict | None = None,
    bbox: tuple[float, float, float, float] | None = None,
    use_coarsest_area: bool = False,
    use_finest_area: bool = False,
    use_min_area: bool = False,
    use_max_area: bool = False,
    resolution_col: str = "resolution",
    band_col: str | None = "band",
    **resampler_options: Any,
) -> None:
    """Resample the scene per the configured kernel
    (≙ ``resample``, ``plugins/__init__.py:159-201``):

    - ``"null"`` (passthrough): keep the native grid — the reference's
      null-area mode;
    - ``"native"``: integer block aggregation by ``aggregate_factors``
      (e.g. ``{"x": 2, "y": 2}``);
    - ``"nearest"``: map scene points onto the target grid found in
      ``job["target_grid"]`` (a DataFrame of target coordinates) via the
      cell-bucketed equi-join + top-1;
    - ``"ewa"`` / ``"bilinear"``: weighted kernels over the same cell
      join (per-resampler defaults from ``RESAMPLER_DEFAULT_OPTIONS``).

    ``use_coarsest_area`` (alias ``use_min_area``) / ``use_finest_area``
    (``use_max_area``) pick the target grid from the scene itself: the
    pixels of the band with the max/min ``resolution_col`` value become
    the target grid and every band is nearest-resampled onto it
    (≙ ``scn.coarsest_area()`` / ``scn.finest_area()``,
    ``plugins/__init__.py:171-198``, tested at
    ``tests/test_trollflow2.py:1022-1055``).

    ``reduce_data`` + ``bbox`` crops the source to the target bounding
    box *before* the join — the pushed-down-filter form of the
    reference's ``reduce_data: True`` default (``plugins/__init__.py:
    149-156``). Results land in ``job["resampled_scenes"]`` keyed by
    area; the first area's frame also replaces ``job["scene"]`` for the
    downstream chain. Only the mapped nearest path depends on the area:
    there each target area gets its own frame, every other kernel builds
    one frame that all areas share.
    """
    scene = job["scene"]
    if scene is None:
        raise AbortProcessing("resample: no scene loaded")
    opts = resolve_resampler_options(
        resampler,
        {
            "radius_of_influence": radius_of_influence,
            "reduce_data": reduce_data,
            **resampler_options,
        },
    )
    radius = float(opts.get("radius_of_influence") or 1.0)
    per_area: dict = {}  # area -> its own frame (mapped nearest only)
    if opts.get("reduce_data", True) and bbox is not None:
        x, y = coords
        xmin, ymin, xmax, ymax = bbox
        scene = scene.filter(
            (F.col(x) >= xmin) & (F.col(x) <= xmax)
            & (F.col(y) >= ymin) & (F.col(y) <= ymax)
        )

    coarsest = use_coarsest_area or use_min_area
    finest = use_finest_area or use_max_area
    if coarsest or finest:
        from trollflow2_spark.operators.resample import nearest_join_2d

        if resolution_col not in scene.columns:
            raise AbortProcessing(
                f"coarsest/finest area needs a {resolution_col!r} column"
            )
        pick = F.max if coarsest else F.min
        # control-row agg: one scalar, not a data collect
        target_res = scene.agg(pick(F.col(resolution_col))).collect()[0][0]
        if target_res is None:
            raise AbortProcessing("coarsest/finest: no resolution values")
        x, y = coords
        band = band_col if band_col and band_col in scene.columns else None
        target_xy = (
            scene.filter(F.col(resolution_col) == target_res)
            .select(x, y)
            .distinct()
        )
        skip = {x, y, resolution_col} | ({band} if band else set())
        value_cols = [
            c for c, t in scene.dtypes
            if c not in skip and t in ("double", "float", "int", "bigint")
        ]
        # deterministic tie-breakers: equidistant sources resolve by
        # (resolution, coords, values) ordering, never row_number chance
        ties = [
            F.col(f"src_{c}").asc_nulls_last()
            for c in [resolution_col, x, y] + value_cols
        ]
        eff_radius = float(target_res) if radius <= 1.0 else radius
        if band:
            # keep every band (≙ scn.resample(coarsest_area()) keeping
            # every dataset): one join partitioned per band, target grid
            # replicated over the control-sized band list
            bands = scene.select(band).distinct()
            joined = nearest_join_2d(
                target_xy.crossJoin(F.broadcast(bands)),
                scene,
                coords=coords,
                radius=eff_radius,
                tie_breakers=ties,
                how="inner",
                partition_cols=[band],
            )
            resampled = joined.select(
                band, x, y, *[F.col(f"src_{c}").alias(c) for c in value_cols]
            )
        else:
            joined = nearest_join_2d(
                target_xy,
                scene,
                coords=coords,
                radius=eff_radius,
                tie_breakers=ties,
                how="inner",
            )
            resampled = joined.select(
                x, y, *[F.col(f"src_{c}").alias(c) for c in value_cols]
            )
    elif resampler == "null":
        resampled = scene
    elif resampler == "native":
        factors = aggregate_factors or {coords[0]: 2, coords[1]: 2}
        value_cols = [
            c for c, t in scene.dtypes
            if c not in factors and t in ("double", "float", "int", "bigint")
        ]
        resampled = block_aggregate(scene, factors, value_cols, agg="avg")
    elif resampler == "nearest":
        from trollflow2_spark.operators.resample import nearest_join_2d, resolve_area

        # scale-safe mapped path: when both the work item's target area
        # and the scene's source area resolve to GridArea definitions,
        # the (target px -> source px) mapping is computed once per
        # (source, target) pair, cached, and broadcast-joined — no 9x
        # probe explode of the target side per message (the reference's
        # cached resamplers, plugins/__init__.py:159-201). The mapping
        # depends on the target area, so each distinct target area of the
        # batch gets its own frame; items without one share the
        # target_grid frame.
        src_area = resolve_area(
            job.get("source_area") or job["input_mda"].get("source_area")
        )
        by_target: dict = {}
        for item in job["work_items"]:
            tgt_area = None if src_area is None else resolve_area(
                job.get("target_area")
                or item.get("area_def")  # inline grid definition in the YAML
                or item.get("area")  # registered name
            )
            if tgt_area not in by_target:
                if tgt_area is not None:
                    by_target[tgt_area] = _resample_mapped(
                        job["spark"], scene, src_area, tgt_area, radius, coords
                    )
                elif job.get("target_grid") is not None:
                    by_target[tgt_area] = nearest_join_2d(
                        job["target_grid"], scene, coords=coords, radius=radius,
                        how="inner",
                    )
                else:
                    raise AbortProcessing(
                        "resample: nearest needs job['target_grid'] or resolvable "
                        "source/target GridArea definitions"
                    )
            per_area[item.get("area")] = by_target[tgt_area]
        resampled = next(iter(by_target.values()), scene)
    elif resampler in ("ewa", "bilinear"):
        target = job.get("target_grid")
        if target is None:
            raise AbortProcessing(f"resample: {resampler} needs job['target_grid']")
        from trollflow2_spark.operators.resample import weighted_resample_2d

        # weight_distance_max narrows the join radius only when the user
        # set it explicitly — the merged defaults always contain 1.0,
        # which must not silently beat an explicit radius_of_influence
        wdm = resampler_options.get("weight_distance_max")
        resampled = weighted_resample_2d(
            target,
            scene,
            coords=coords,
            radius=float(wdm) if wdm is not None else radius,
            kernel=str(opts.get("kernel", "inverse")),
            weight_min=float(opts.get("weight_min") or 0.0),
        )
    else:
        raise AbortProcessing(f"unknown resampler {resampler!r}")
    for item in job["work_items"]:
        job["resampled_scenes"][item.get("area")] = per_area.get(
            item.get("area"), resampled
        )
    job["scene"] = resampled


@register_plugin("format_decoration")
def format_decoration_plugin(
    job: dict, text: str = "", out_key: str = "decoration_text"
) -> None:
    """Render a decoration template from message metadata
    (≙ ``format_decoration``/``_format_decoration_text``,
    ``plugins/__init__.py:258-274``): the rendered text is stored on the
    job and substituted into every work item's metadata for writers that
    stamp overlays."""
    from trollflow2_spark.sinks.save import compose_filename

    rendered = compose_filename(text, job["input_mda"])
    job[out_key] = rendered
    for item in job["work_items"]:
        item[out_key] = rendered


@register_plugin("cache_scene")
def cache_scene_plugin(job: dict) -> None:
    """Persist the scene across the downstream multi-consumer stages
    (≙ ``use_fsspec_cache``, ``plugins/__init__.py:1141-1158`` — input
    caching; under Spark the useful cache level is the parsed columnar
    scene, not raw bytes). The persisted frame is kept as
    ``job["cached_scene"]``: plugins after this one may replace
    ``job["scene"]`` with a frame derived from it."""
    if job.get("scene") is not None:
        job["cached_scene"] = job["scene"] = job["scene"].persist()


@register_plugin("clear_cache")
def clear_cache_plugin(job: dict) -> None:
    """Drop the frame :func:`cache_scene_plugin` persisted, whatever
    ``job["scene"]`` holds by now (≙ ``clear_fsspec_cache``,
    ``plugins/__init__.py:1161-1167``). Without a ``cache_scene`` it
    does nothing; a batch that ends before it runs is released by
    :func:`process_message`."""
    cached = job.pop("cached_scene", None)
    if cached is not None:
        cached.unpersist()


@register_plugin("add_overviews")
def add_overviews_plugin(job: dict, factors: Sequence[int] = (4, 16)) -> None:
    """Post-write hook: attach multi-scale overview levels next to each
    produced dataset (≙ ``add_overviews`` embedding GeoTIFF pyramids,
    ``plugins/__init__.py:928-944``). Each level is a block mean over the
    first numeric column, written as ``<output>.overviews/level=F``."""
    spark = job["spark"]
    for p in job["produced_files"].produced:
        if p.get("writer") in ("geotiff", "ninjotiff", "ninjogeotiff"):
            # real TIFF: append reduced-resolution pages in-file (the
            # standard GeoTIFF pyramid layout, plugins/__init__.py:928-944)
            from trollflow2_spark.sinks.imagery import add_tiff_overviews

            add_tiff_overviews(p["filename"], [int(f) for f in factors])
            p["overview_levels"] = list(factors)
            continue
        if p.get("writer") != "parquet":
            continue
        # typed from the part file's footer: no inference job per product
        df = read_parquet(spark, [p["filename"]])
        numeric = [c for c, t in df.dtypes if t in ("double", "float", "bigint", "int")]
        if not numeric:
            continue
        base = df.select(
            F.monotonically_increasing_id().alias("__idx"), F.col(numeric[0])
        )
        for f in factors:
            lvl = block_aggregate(base, {"__idx": int(f)}, [numeric[0]], agg="avg")
            lvl.write.mode("overwrite").parquet(
                p["filename"] + f".overviews/level={int(f)}"
            )
        p["overview_levels"] = list(factors)


@register_plugin("save_datasets")
def save_datasets_plugin(job: dict, **kwargs: Any) -> None:
    """Write every work-item leaf from its area's resampled frame
    (≙ ``plugins/__init__.py:330-395``, which saves each area's
    resampled scene): one ``save_datasets`` call, and so one gather, per
    distinct frame."""
    if job.get("scene") is None:
        raise AbortProcessing("save_datasets: no scene loaded")
    frames: dict[int, tuple[DataFrame, list]] = {}
    for item in job["work_items"]:
        frame = job["resampled_scenes"].get(item.get("area"), job["scene"])
        frames.setdefault(id(frame), (frame, []))[1].append(item)
    if len(frames) <= 1:
        # one frame for the whole batch: write the scene as the plugins
        # after the resample left it
        frames = {0: (job["scene"], job["work_items"])}
    base_mda = {
        k: v for k, v in job["input_mda"].items() if not isinstance(v, (dict, list))
    }
    for frame, items in frames.values():
        result = save_datasets(
            job["spark"], frame, items, base_mda=base_mda, job=job, **kwargs
        )
        job["produced_files"].produced.extend(result.produced)


@register_plugin("publish")
def publish_plugin(
    job: dict,
    topic_pattern: str = "/{format}/{area}",
    out_dir: str | None = None,
    dispatch_targets: Sequence[str] | None = None,
) -> None:
    """Emit one message per produced file (≙ FilePublisher,
    ``plugins/__init__.py:476-579``) as one JSON-lines file under the
    output dir; plain Python, no Spark job. The file is named after the
    message metadata and the priority, so replaying a message replaces
    its batch's file instead of publishing the batch twice."""
    msgs = publisher_messages(
        job["produced_files"],
        base_mda=job["input_mda"],
        topic_pattern=topic_pattern,
        dispatch_targets=dispatch_targets,
    )
    target = out_dir
    if target is None:
        target = job["work_items"][0].get("output_dir", ".") if job["work_items"] else "."
    if job.get("cancelled") is not None and job["cancelled"].is_set():
        logger.warning("publish cancelled; %d messages dropped", len(msgs))
        return
    identity = json.dumps(job["input_mda"], sort_keys=True, default=str)
    name = f"{hashlib.sha1(identity.encode()).hexdigest()}-p{job.get('processing_priority')}"
    job["published_to"] = write_messages(msgs, target, name=name)


# ---------------------------------------------------------------------------
# the runner

DEFAULT_WORKERS: list[dict] = [
    {"fun": "check_metadata"},
    {"fun": "create_scene"},
    {"fun": "load_composites"},
    {"fun": "covers"},
    {"fun": "sza_check"},
    {"fun": "save_datasets"},
]


def _run_with_timeout(
    spark: SparkSession,
    fn: Callable[[], None],
    timeout: float | None,
    group: str,
    cancelled: threading.Event,
) -> None:
    """Run a worker; on timeout set ``cancelled``, cancel its Spark job
    group and fail the batch (cluster-side analog of the SIGALRM timer at
    ``launcher.py:441-455``). The worker thread cannot be killed, so the
    plain-Python steps that follow it check ``cancelled`` instead."""
    if not timeout:
        fn()
        return
    err: list[BaseException] = []

    def body() -> None:
        try:
            fn()
        except BaseException as exc:  # noqa: BLE001 - reported below
            err.append(exc)

    # InheritableThread carries the batch's job group into the worker's JVM
    # thread (pinned-thread mode), so cancelJobGroup reaches its jobs
    t = InheritableThread(target=body, daemon=True)
    t.start()
    t.join(timeout)
    if t.is_alive():
        cancelled.set()
        spark.sparkContext.cancelJobGroup(group)
        raise TimeoutError(f"worker exceeded {timeout}s; job group {group} cancelled")
    if err:
        raise err[0]


def process_message(
    spark: SparkSession,
    message: dict,
    product_list: dict,
    workers: Sequence[dict] | None = None,
) -> dict:
    """Run the full plugin chain for one message, priority batch by
    priority batch (≙ ``process_jobs``, ``launcher.py:432-457``).

    ``workers``: list of ``{"fun": name, ...kwargs}`` dicts (the safe
    analog of the reference's ``workers:`` YAML). Returns a summary with
    the merged :class:`SaveResult` and a ``check_results`` audit.
    """
    mtype = message.get("type")
    if mtype is not None and mtype not in ACCEPTED_MESSAGE_TYPES:
        return {"status": "ignored", "reason": f"message type {mtype!r}"}

    # workers default: explicit arg > product list's own `workers:` section
    # (≙ the reference reading the chain from config, launcher.py:404-416)
    # > built-in chain
    config_workers = (product_list.get("product_list") or {}).get("workers")
    workers = list(workers or config_workers or DEFAULT_WORKERS)
    t0 = time.time()
    merged = SaveResult()
    aborted: dict[int, str] = {}
    try:
        jobs = message_to_jobs(spark, message, product_list)
    except SceneCreationError as exc:
        logger.warning("message rejected: %s", exc)
        return {
            "status": "aborted",
            "aborted_priorities": {},
            "reason": str(exc),
            "result": merged,
            "audit": check_results(merged, start_time=t0),
        }
    for prio, job in jobs.items():
        group = f"tf2-{uuid.uuid4().hex[:8]}-p{prio}"
        spark.sparkContext.setJobGroup(group, f"priority batch {prio}", True)
        try:
            for wrk in workers:
                conf = dict(wrk)
                name = conf.pop("fun")
                timeout = conf.pop("timeout", None)
                plugin = PLUGIN_REGISTRY.get(name)
                if plugin is None:
                    raise ValueError(
                        f"unknown worker {name!r}; registered: {sorted(PLUGIN_REGISTRY)}"
                    )
                _run_with_timeout(
                    spark, lambda: plugin(job, **conf), timeout, group, job["cancelled"]
                )
                if not job["work_items"]:
                    logger.info("priority %s: all work items pruned", prio)
                    break
        except (AbortProcessing, MessageTimeError, PatternFieldError) as exc:
            logger.warning("priority %s aborted: %s", prio, exc)
            aborted[prio] = str(exc)
        finally:
            spark.sparkContext.setJobGroup("", "", False)
            clear_cache_plugin(job)  # an aborted, timed-out or crashed batch's cached scene
        merged.produced.extend(job["produced_files"].produced)

    audit = check_results(merged, start_time=t0)
    return {
        "status": audit["status"] if not aborted else "aborted",
        "aborted_priorities": aborted,
        "result": merged,
        "audit": audit,
    }


def run_product_list(
    spark: SparkSession,
    input_files: Sequence[str],
    metadata: dict,
    product_list: dict,
    workers: Sequence[dict] | None = None,
) -> dict:
    """Batch one-shot entry point (≙ the ``satpy_cli`` path,
    ``/root/reference/trollflow2/cli.py:46-65``): files + metadata in,
    manifest summary out."""
    message = {**metadata, "type": "file", "dataset": [{"uri": f} for f in input_files]}
    return process_message(spark, message, product_list, workers)
