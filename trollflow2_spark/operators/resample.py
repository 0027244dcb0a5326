"""Resampling = the engine's join family.

The reference's only join-shaped operator is spatial resampling: map each
target-grid pixel to source pixels (nearest within a radius, or k
weighted neighbors) — ``/root/reference/trollflow2/plugins/__init__.py:
133-201``. Spark-first formulation (SURVEY §2.5):

- bucket both grids into cells of size ``radius`` (so any neighbor within
  the radius is in the 3x3 cell neighborhood),
- equi-join on cell id (target cells exploded to their neighborhood —
  this is the standard "spatial join as equi-join" trick; 9x row fanout
  on the *small* side only),
- filter by true distance <= radius (``radius_of_influence``),
- nearest: window top-1 per target pixel; weighted (bilinear/EWA-like):
  groupBy target pixel with sum(w*v)/sum(w).

Scale: the shuffle key is the cell id, which is dense and uniform for
regular grids (no skew); for a *fixed* grid->grid pair the mapping table
is computed once and broadcast-joined (``reduce_data: True``'s bbox crop
≙ a pushed-down filter on the source cells).

This module is written for generic (x, y[, value]) point tables — the
1-D "as-of nearest in time" variant is the same algebra with time as the
single coordinate.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import Column, DataFrame, SparkSession, Window, functions as F


def _with_cell(df: DataFrame, coord: str, cell_size: float, name: str) -> DataFrame:
    return df.withColumn(name, F.floor(F.col(coord) / F.lit(float(cell_size))).cast("long"))


def nearest_join_1d(
    target: DataFrame,
    source: DataFrame,
    target_coord: str,
    source_coord: str,
    radius: float,
    tie_breaker: Column | None = None,
    how: str = "left",
    target_id: str | None = None,
) -> DataFrame:
    """For each target row, attach the nearest source row whose coordinate
    is within ``radius`` (absolute distance); with ``how='left'`` targets
    with no neighbor in range are kept with NULL source columns (fill
    behavior ≙ ``radius_of_influence`` miss -> fill value,
    ``plugins/__init__.py:149-156``); ``'inner'`` drops them.

    The radius predicate lives *in the join condition* (not a post-join
    filter), so left-mode misses survive; the top-1 window partitions on
    a unique per-target id — ``target_id`` if the caller has one, else a
    generated ``monotonically_increasing_id`` — never on payload columns
    (duplicate target rows stay distinct, and wide columns stay out of
    the shuffle key).

    Columns of ``source`` are prefixed ``src_`` in the output.
    """
    src = source.select(
        *[F.col(c).alias(f"src_{c}") for c in source.columns]
    )
    tgt = target if target_id else target.withColumn(
        "__tid", F.monotonically_increasing_id()
    )
    tid = target_id or "__tid"
    tgt = _with_cell(tgt, target_coord, radius, "__cell")
    src = _with_cell(src, f"src_{source_coord}", radius, "__scell")

    # explode each target to its 3-cell neighborhood; any source within
    # `radius` lives in one of these cells
    tgt = tgt.withColumn(
        "__probe", F.explode(F.array(F.col("__cell") - 1, F.col("__cell"), F.col("__cell") + 1))
    )
    dist = F.abs(
        tgt[target_coord].cast("double") - src[f"src_{source_coord}"].cast("double")
    )
    joined = tgt.join(
        src,
        (tgt["__probe"] == src["__scell"]) & (dist <= F.lit(float(radius))),
        how,
    )
    joined = joined.withColumn(
        "__dist",
        F.abs(
            F.col(target_coord).cast("double")
            - F.col(f"src_{source_coord}").cast("double")
        ),
    )
    order = [F.col("__dist").asc_nulls_last()]
    if tie_breaker is not None:
        order.append(tie_breaker)
    w = Window.partitionBy(tid).orderBy(*order)
    out = joined.withColumn("__rn", F.row_number().over(w)).filter(F.col("__rn") == 1)
    return out.drop("__rn", "__cell", "__scell", "__probe", "__tid")


def nearest_join_2d(
    target: DataFrame,
    source: DataFrame,
    coords: tuple[str, str] = ("x", "y"),
    radius: float = 1.0,
    tie_breakers: list[Column] | None = None,
    how: str = "left",
    target_id: str | None = None,
    partition_cols: list[str] | None = None,
) -> DataFrame:
    """2-D nearest-neighbor resample: bucketed equi-join on (cx, cy) cell
    pairs + window top-1 per target pixel (SURVEY §2.5 mapping for the
    default 'nearest' resampler, ``plugins/__init__.py:159-201``).

    ``how='left'`` (default) keeps every target: the radius predicate is
    part of the join condition, so a target whose probe cells contain
    only out-of-range sources comes back with NULL ``src_*`` columns
    (miss -> fill value, ≙ ``plugins/__init__.py:149-156``);
    ``'inner'`` keeps only targets with an in-range source.

    The top-1 window partitions on a unique per-target id (``target_id``
    or a generated ``monotonically_increasing_id``) — duplicate target
    rows stay distinct and payload columns stay out of the shuffle key.

    ``partition_cols``: columns present on *both* sides that must match
    (e.g. a band/dataset id) — added to the equi-join keys, so each
    partition value is resampled independently in one join (≙ the
    reference resampling every dataset of the scene, not collapsing them,
    ``plugins/__init__.py:171-198``). The matching ``src_<col>``
    duplicates are dropped from the output.
    """
    cx, cy = coords
    src = source.select(*[F.col(c).alias(f"src_{c}") for c in source.columns])
    tgt = target if target_id else target.withColumn(
        "__tid", F.monotonically_increasing_id()
    )
    tid = target_id or "__tid"
    tgt = _with_cell(_with_cell(tgt, cx, radius, "__cx"), cy, radius, "__cy")
    src = _with_cell(_with_cell(src, f"src_{cx}", radius, "__scx"), f"src_{cy}", radius, "__scy")

    tgt = tgt.withColumn(
        "__px", F.explode(F.array(F.col("__cx") - 1, F.col("__cx"), F.col("__cx") + 1))
    ).withColumn(
        "__py", F.explode(F.array(F.col("__cy") - 1, F.col("__cy"), F.col("__cy") + 1))
    )
    dist = F.sqrt(
        F.pow(tgt[cx].cast("double") - src[f"src_{cx}"].cast("double"), 2)
        + F.pow(tgt[cy].cast("double") - src[f"src_{cy}"].cast("double"), 2)
    )
    cond = (
        (tgt["__px"] == src["__scx"])
        & (tgt["__py"] == src["__scy"])
        & (dist <= F.lit(float(radius)))
    )
    for pc in partition_cols or []:
        cond = cond & (tgt[pc] == src[f"src_{pc}"])
    joined = tgt.join(src, cond, how)
    joined = joined.withColumn(
        "__dist",
        F.sqrt(
            F.pow(F.col(cx).cast("double") - F.col(f"src_{cx}").cast("double"), 2)
            + F.pow(F.col(cy).cast("double") - F.col(f"src_{cy}").cast("double"), 2)
        ),
    )
    order = [F.col("__dist").asc_nulls_last()]
    for tb in tie_breakers or []:
        order.append(tb)
    w = Window.partitionBy(tid).orderBy(*order)
    out = joined.withColumn("__rn", F.row_number().over(w)).filter(F.col("__rn") == 1)
    return out.drop(
        "__rn", "__cx", "__cy", "__scx", "__scy", "__px", "__py", "__tid",
        *[f"src_{pc}" for pc in partition_cols or []],
    )


@dataclass(frozen=True)
class GridArea:
    """A regular grid area definition (≙ a pyresample AreaDefinition as
    consumed by ``resample``, ``plugins/__init__.py:159-201``): origin,
    pixel size, extent. Pixel centers are at
    ``origin + (index + 0.5) * step``. Config-sized: a GridArea is a few
    scalars; its pixel *count* (width x height) bounds every derived
    mapping table."""

    name: str
    width: int
    height: int
    x0: float = 0.0
    y0: float = 0.0
    dx: float = 1.0
    dy: float = 1.0

    def center_x(self, col):  # numpy-friendly
        return self.x0 + (col + 0.5) * self.dx

    def center_y(self, row):
        return self.y0 + (row + 0.5) * self.dy


#: Named area definitions (≙ the areas.yaml registry pyresample loads for
#: the reference's ``area:`` keys). Product lists name areas by string;
#: registering a GridArea here makes that name resolvable by the
#: resample plugin's scale-safe mapped path.
AREA_REGISTRY: dict[str, GridArea] = {}


def register_area(area: GridArea) -> GridArea:
    AREA_REGISTRY[area.name] = area
    return area


def resolve_area(spec) -> GridArea | None:
    """GridArea | registered name | kwargs-dict -> GridArea (else None)."""
    if isinstance(spec, GridArea):
        return spec
    if isinstance(spec, str):
        return AREA_REGISTRY.get(spec)
    if isinstance(spec, dict):
        try:
            return GridArea(**spec)
        except TypeError:
            return None
    return None


def grid_to_grid_mapping(
    spark: SparkSession,
    target: GridArea,
    source: GridArea,
    radius: float,
) -> DataFrame:
    """Precompute the (target pixel -> nearest source pixel) table for a
    *fixed* grid pair — the scale-safe path SCALE.md promises for
    repeated area-to-area resampling (SURVEY §2.5;
    ``plugins/__init__.py:159-201``'s cached resamplers).

    Closed form, driver-side numpy: for every target pixel center the
    nearest source pixel index is ``clip(round((c - o)/step - 0.5))``;
    pixels whose nearest source center is farther than ``radius`` are
    dropped (miss -> fill). The result is bounded by the *target area
    size* (config-sized), so it broadcasts: at 100 TB the big source
    table never shuffles and never explodes — one BroadcastHashJoin on
    (s_row, s_col) replaces the 9x probe-cell explode of
    :func:`nearest_join_2d`.
    """
    import numpy as np

    cols = np.arange(target.width, dtype=np.int64)
    rows = np.arange(target.height, dtype=np.int64)
    tx = target.center_x(cols)
    ty = target.center_y(rows)
    scol = np.clip(
        np.rint((tx - source.x0) / source.dx - 0.5).astype(np.int64),
        0,
        source.width - 1,
    )
    srow = np.clip(
        np.rint((ty - source.y0) / source.dy - 0.5).astype(np.int64),
        0,
        source.height - 1,
    )
    dx2 = (source.center_x(scol) - tx) ** 2
    dy2 = (source.center_y(srow) - ty) ** 2
    # cross the two 1-D mappings (regular grids factorize per axis)
    tc, tr = np.meshgrid(cols, rows)
    keep = (dx2[tc] + dy2[tr]) <= float(radius) ** 2
    kr, kc = tr[keep].ravel(), tc[keep].ravel()

    import pandas as pd

    pdf = pd.DataFrame(
        {
            "t_row": kr.astype("int32"),
            "t_col": kc.astype("int32"),
            "s_row": srow[kr].astype("int32"),
            "s_col": scol[kc].astype("int32"),
        }
    )
    return spark.createDataFrame(pdf, "t_row int, t_col int, s_row int, s_col int")


def resample_nearest_mapped(
    source: DataFrame,
    mapping: DataFrame,
    key_cols: tuple[str, str] = ("s_row", "s_col"),
    how: str = "inner",
) -> DataFrame:
    """Resample a gridded source through a precomputed mapping table:
    one broadcast equi-join on the source pixel index — no explode, no
    shuffle of the source side (the mapping is target-area-sized).

    ``source`` must carry the key columns (derive them map-side via
    ``floor((coord - origin)/step)`` when starting from x/y points).
    """
    return source.join(F.broadcast(mapping), list(key_cols), how)


def weighted_resample_2d(
    target: DataFrame,
    source: DataFrame,
    coords: tuple[str, str] = ("x", "y"),
    value_cols: list[str] | None = None,
    radius: float = 1.0,
    kernel: str = "inverse",
    sigma: float | None = None,
    weight_min: float = 0.0,
    target_id: str | None = None,
) -> DataFrame:
    """2-D weighted (bilinear/EWA-like) resample: every in-radius source
    contributes ``sum(w*v)/sum(w)`` per target pixel
    (≙ the ``ewa``/``bilinear`` resamplers and their weight options,
    ``RESAMPLER_DEFAULT_OPTIONS``, ``plugins/__init__.py:133-148``).

    Kernels: ``"inverse"`` -> ``1/(d + 1e-9)``; ``"gaussian"`` (EWA-like)
    -> ``exp(-d^2 / sigma^2)`` with ``sigma`` defaulting to ``radius/2``.
    ``weight_min`` drops negligible contributions
    (≙ ``weight_min``/``weight_distance_max``). Same bucketed cell
    equi-join shape as :func:`nearest_join_2d`; the aggregation replaces
    the top-1 window, so partial (map-side) aggregation applies.
    """
    cx, cy = coords
    if value_cols is None:
        value_cols = [
            c for c, t in source.dtypes
            if c not in coords and t in ("double", "float", "int", "bigint")
        ]
    src = source.select(*[F.col(c).alias(f"src_{c}") for c in source.columns])
    tgt = target if target_id else target.withColumn(
        "__tid", F.monotonically_increasing_id()
    )
    tid = target_id or "__tid"
    tgt = _with_cell(_with_cell(tgt, cx, radius, "__cx"), cy, radius, "__cy")
    src = _with_cell(_with_cell(src, f"src_{cx}", radius, "__scx"), f"src_{cy}", radius, "__scy")
    tgt = tgt.withColumn(
        "__px", F.explode(F.array(F.col("__cx") - 1, F.col("__cx"), F.col("__cx") + 1))
    ).withColumn(
        "__py", F.explode(F.array(F.col("__cy") - 1, F.col("__cy"), F.col("__cy") + 1))
    )
    dist = F.sqrt(
        F.pow(tgt[cx].cast("double") - src[f"src_{cx}"].cast("double"), 2)
        + F.pow(tgt[cy].cast("double") - src[f"src_{cy}"].cast("double"), 2)
    )
    joined = tgt.join(
        src,
        (tgt["__px"] == src["__scx"])
        & (tgt["__py"] == src["__scy"])
        & (dist <= F.lit(float(radius))),
        "inner",
    )
    d = F.sqrt(
        F.pow(F.col(cx).cast("double") - F.col(f"src_{cx}").cast("double"), 2)
        + F.pow(F.col(cy).cast("double") - F.col(f"src_{cy}").cast("double"), 2)
    )
    if kernel == "gaussian":
        s = float(sigma) if sigma is not None else float(radius) / 2.0
        w = F.exp(-(d * d) / F.lit(s * s))
    elif kernel == "inverse":
        w = 1.0 / (d + F.lit(1e-9))
    else:
        raise ValueError(f"unknown kernel {kernel!r}")
    joined = joined.withColumn("__w", w)
    if weight_min:
        joined = joined.filter(F.col("__w") >= F.lit(float(weight_min)))
    # group on the unique target id alone (payload columns stay out of the
    # aggregation shuffle key); re-attach payload via first() — exact,
    # since tid is unique per target row
    aggs = (
        [F.first(F.col(c)).alias(c) for c in target.columns if c != tid]
        + [
            (F.sum(F.col("__w") * F.col(f"src_{v}")) / F.sum("__w")).alias(
                f"{v}_resampled"
            )
            for v in value_cols
        ]
        + [F.count(F.lit(1)).alias("n_neighbors")]
    )
    return joined.groupBy(tid).agg(*aggs).drop("__tid")


def weighted_resample_1d(
    target: DataFrame,
    source: DataFrame,
    target_coord: str,
    source_coord: str,
    source_value: str,
    radius: float,
) -> DataFrame:
    """Weighted (bilinear/EWA-like) variant: join every source within the
    radius and aggregate sum(w*v)/sum(w) per target row, with inverse-
    distance weights (``RESAMPLER_DEFAULT_OPTIONS['ewa']``-style kernels
    reduce to a weight expression — ``plugins/__init__.py:133-148``).

    Determinism note: weighted sums are floating-point and order-
    sensitive; callers comparing against an oracle should round.
    """
    src = source.select(
        F.col(source_coord).alias("__sc"), F.col(source_value).alias("__sv")
    )
    tgt = _with_cell(target, target_coord, radius, "__cell")
    src = _with_cell(src, "__sc", radius, "__scell")
    tgt = tgt.withColumn(
        "__probe", F.explode(F.array(F.col("__cell") - 1, F.col("__cell"), F.col("__cell") + 1))
    )
    joined = tgt.join(src, F.col("__probe") == F.col("__scell"), "inner")
    dist = F.abs(F.col(target_coord).cast("double") - F.col("__sc"))
    joined = joined.filter(dist <= F.lit(float(radius))).withColumn(
        "__w", 1.0 / (dist + F.lit(1e-9))
    )
    group_cols = [c for c in target.columns]
    return (
        joined.groupBy(*group_cols)
        .agg(
            (F.sum(F.col("__w") * F.col("__sv")) / F.sum("__w")).alias(
                f"{source_value}_resampled"
            ),
            F.count(F.lit(1)).alias("n_neighbors"),
        )
    )
