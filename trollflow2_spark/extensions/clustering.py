"""Density clustering at corpus scale: grid-bucketed DBSCAN.

Completes the clustering tier next to the k-means family
(`similarity.py`: Lloyd training, SemDeDup cells) with the classic
density algorithm (Ester et al. 1996, public): points with ≥
``min_pts`` neighbors within ``eps`` are CORE; core points within
``eps`` of each other share a cluster; non-core points within
``eps`` of a core point join as BORDER; everything else is NOISE.

Scale shape — the same economics as
`extensions/geo.py::spatial_join_points_in_polygons`:

- the neighbor search never goes quadratic: points bucket into
  eps-sized grid cells, ONE side explodes to its 3×3 cell
  neighborhood, and candidates come from a plain EQUI join on the
  cell key with the exact distance filter applied in the joined
  stage. Pair fan-out is bounded by local density (what DBSCAN
  assumes anyway), not corpus size.
- cluster resolution reuses `dedup.py::connected_components`
  (min-label propagation, localCheckpoint per round) over CORE-CORE
  edges only — border points attach afterwards with one min-agg
  join, so the iterative part runs on the (small) core graph.
- cluster ids are DETERMINISTIC: the minimum point id in the
  cluster's core set; border points take the smallest cluster id
  among their core neighbors (ties can't flap — min is total).

Output: (id, <coords>, is_core, cluster_id) with cluster_id NULL
for noise. Exact-arithmetic contract: distances compare as squared
sums against eps² — no sqrt — so quarter-aligned fixtures replay
bit-identically on any engine.

Dimensionality contract: `dbscan_grid_kd` takes any coordinate list
up to ``max_dims`` (default 4 — the 3^k neighbor-cell fan-out is 81
there and doubles per added dim; `dbscan_grid` is its 2-D
specialization). HIGH-dimensional embedding clustering should NOT
come here at all: grid buckets lose selectivity as k grows (the
curse of dimensionality applies to every exact method) — use the
k-means / IVF tier in `similarity.py`, which this module's guard
names loudly.
"""

from __future__ import annotations

from itertools import product

from pyspark.sql import DataFrame, functions as F

__all__ = ["dbscan_grid", "dbscan_grid_kd"]


def dbscan_grid(
    points: DataFrame,
    eps: float,
    min_pts: int,
    id_col: str = "id",
    x_col: str = "x",
    y_col: str = "y",
) -> DataFrame:
    """Grid-bucketed exact DBSCAN, 2-D specialization of
    :func:`dbscan_grid_kd` (see module docstring)."""
    return dbscan_grid_kd(
        points, eps, min_pts, id_col=id_col, coord_cols=[x_col, y_col]
    )


def dbscan_grid_kd(
    points: DataFrame,
    eps: float,
    min_pts: int,
    id_col: str = "id",
    coord_cols: list[str] | None = None,
    max_dims: int = 4,
) -> DataFrame:
    """Grid-bucketed exact DBSCAN over k coordinate columns: cell key
    = (floor(x_i/eps), …), one side explodes to its 3^k neighbor
    cells, candidates come from a k-column EQUI join with the exact
    squared-distance filter in the joined stage."""
    coord_cols = list(coord_cols or ["x", "y"])
    k = len(coord_cols)
    if eps <= 0 or min_pts < 1:
        raise ValueError(f"bad eps={eps!r} / min_pts={min_pts!r}")
    if not 1 <= k <= max_dims:
        raise ValueError(
            f"dbscan_grid_kd handles 1..{max_dims} dims (3^k "
            f"neighbor-cell fan-out), got {k}; for high-dimensional "
            "embedding clustering use the k-means/IVF tier "
            "(extensions/similarity.py) instead of an exact grid"
        )
    inv = 1.0 / float(eps)
    eps2 = float(eps) * float(eps)
    vcols = [f"__v{i}" for i in range(k)]
    ccols = [f"__c{i}" for i in range(k)]
    pts = points.select(
        F.col(id_col).alias("__id"),
        *[
            F.col(c).cast("double").alias(v)
            for c, v in zip(coord_cols, vcols)
        ],
        *[
            F.floor(F.col(c).cast("double") * inv).alias(cc)
            for c, cc in zip(coord_cols, ccols)
        ],
    ).localCheckpoint()
    # one side explodes to its 3^k neighborhood (the offset tuples
    # are plan literals); equi join on the k cell-key columns
    jcols = [f"__jc{i}" for i in range(k)]
    offsets = F.array(
        *[
            F.array(*[F.lit(o) for o in tup])
            for tup in product((-1, 0, 1), repeat=k)
        ]
    )
    a = pts.select(
        F.col("__id").alias("__ia"),
        *[F.col(v).alias(f"{v}a") for v in vcols],
        F.explode(offsets).alias("__off"),
        *ccols,
    ).select(
        "__ia",
        *[f"{v}a" for v in vcols],
        *[
            (F.col(cc) + F.col("__off")[i]).alias(jc)
            for i, (cc, jc) in enumerate(zip(ccols, jcols))
        ],
    )
    b = pts.select(
        F.col("__id").alias("__ib"),
        *[F.col(v).alias(f"{v}b") for v in vcols],
        *[F.col(cc).alias(jc) for cc, jc in zip(ccols, jcols)],
    )
    d2 = None
    for v in vcols:
        term = (F.col(f"{v}a") - F.col(f"{v}b")) ** 2
        d2 = term if d2 is None else d2 + term
    nbr = (
        a.join(b, jcols)
        .where((F.col("__ia") != F.col("__ib")) & (d2 <= F.lit(eps2)))
        .select("__ia", "__ib")
        .localCheckpoint()
    )
    deg = nbr.groupBy("__ia").agg(F.count(F.lit(1)).alias("__deg"))
    core = (
        pts.join(deg, pts["__id"] == deg["__ia"], "left")
        .select(
            "__id",
            (
                F.coalesce(F.col("__deg"), F.lit(0)) + 1 >= min_pts
            ).alias("__core"),
        )
        .localCheckpoint()
    )
    core_ids = core.where("__core").select(F.col("__id"))
    # core-core edges drive the component resolution
    cc_edges = (
        nbr.join(
            core_ids.select(F.col("__id").alias("__ia")), "__ia",
            "left_semi",
        )
        .join(
            core_ids.select(F.col("__id").alias("__ib")), "__ib",
            "left_semi",
        )
        .select(F.col("__ia").alias("id_a"), F.col("__ib").alias("id_b"))
    )
    from trollflow2_spark.extensions.dedup import connected_components

    comp = connected_components(cc_edges)  # (id, cluster_id)
    # isolated core points (no core neighbor) form singleton clusters
    core_clusters = (
        core_ids.join(
            comp, core_ids["__id"] == comp["id"], "left"
        )
        .select(
            F.col("__id"),
            F.coalesce(F.col("cluster_id"), F.col("__id")).alias(
                "__cluster"
            ),
        )
        .localCheckpoint()
    )
    # border points: smallest cluster among their CORE neighbors
    border = (
        nbr.join(
            core_clusters.select(
                F.col("__id").alias("__ib"),
                F.col("__cluster").alias("__bc"),
            ),
            "__ib",
        )
        .groupBy("__ia")
        .agg(F.min("__bc").alias("__border_cluster"))
    )
    return (
        pts.join(core, "__id")
        .join(
            core_clusters.select(
                "__id", F.col("__cluster").alias("__own")
            ),
            "__id",
            "left",
        )
        .join(
            border.select(
                F.col("__ia").alias("__id"), "__border_cluster"
            ),
            "__id",
            "left",
        )
        .select(
            F.col("__id").alias(id_col),
            *[
                F.col(v).alias(c)
                for v, c in zip(vcols, coord_cols)
            ],
            F.col("__core").cast("int").alias("is_core"),
            F.when(F.col("__core"), F.col("__own"))
            .otherwise(F.col("__border_cluster"))
            .alias("cluster_id"),
        )
    )
