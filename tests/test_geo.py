"""Grid-bucketed radius join (`extensions/geo.py`)."""

import pytest
from pyspark.sql import functions as F

from trollflow2_spark.extensions.geo import geo_radius_join, haversine_km


def _brute(spark, points, sites, radius):
    d = haversine_km(
        F.col("lat"), F.col("lon"), F.col("site_lat"), F.col("site_lon")
    )
    return {
        (r["point_id"], r["site_id"])
        for r in points.crossJoin(sites).where(d <= radius).collect()
    }


def test_grid_join_equals_brute_force(spark):
    """The correctness property that matters: the 3x3-cell candidate
    neighborhood NEVER misses a pair the naive cross join finds —
    across latitudes from the equator to the cap."""
    sites = spark.createDataFrame(
        [(i, float(lat), float(lon))
         for i, (lat, lon) in enumerate(
             (la, lo)
             for la in (-70, -45, 0.3, 33.7, 69.9)
             for lo in (-179.8, -90.25, 0.1, 120.6, 179.9)
         )],
        ["site_id", "site_lat", "site_lon"],
    )
    # deterministic pseudo-random scatter incl. near-seam points
    points = spark.range(400).select(
        F.col("id").alias("point_id"),
        (((F.col("id") * 37) % 1440) / 10.0 - 72.0).alias("lat"),
        (((F.col("id") * 91) % 3600) / 10.0 - 180.0).alias("lon"),
    )
    got = {
        (r["point_id"], r["site_id"])
        for r in geo_radius_join(points, sites, 500.0).collect()
    }
    want = _brute(spark, points, sites, 500.0)
    assert got == want
    assert len(want) > 10  # the fixture actually exercises matches


def test_antimeridian_pair_found(spark):
    sites = spark.createDataFrame(
        [(1, 10.0, 179.8)], ["site_id", "site_lat", "site_lon"]
    )
    points = spark.createDataFrame(
        [(1, 10.0, -179.9), (2, 10.0, 170.0)], ["point_id", "lat", "lon"]
    )
    got = {
        (r["point_id"], round(r["dist_km"]))
        for r in geo_radius_join(points, sites, 100.0).collect()
    }
    # 0.3 deg of lon at lat 10 ~= 32.9 km; point 2 is ~1000 km away
    assert got == {(1, 33)}


def test_lat_cap_drops_polar_points(spark):
    sites = spark.createDataFrame(
        [(1, 80.0, 0.0)], ["site_id", "site_lat", "site_lon"]
    )
    points = spark.createDataFrame(
        [(1, 80.0, 0.0)], ["point_id", "lat", "lon"]
    )
    assert geo_radius_join(points, sites, 100.0, lat_cap=75.0).count() == 0
    assert geo_radius_join(points, sites, 100.0, lat_cap=85.0).count() == 1


def test_huge_radius_rejected(spark):
    sites = spark.createDataFrame(
        [(1, 0.0, 0.0)], ["site_id", "site_lat", "site_lon"]
    )
    with pytest.raises(ValueError):
        geo_radius_join(sites, sites, 20000.0, point_cols=("site_lat",
                        "site_lon"))


def test_plan_is_hash_join_and_fixture_margin(spark, sf_dir):
    """Plan must be the broadcast EQUI hash join; and the contract
    fixture's distances stay > 0.5 km from the 300 km threshold so
    the float filter cannot flap between engines."""
    from trollflow2_spark.queries import QUERIES
    from trollflow2_spark.tables import load_table

    out = QUERIES["geo_radius_join"](spark, sf_dir)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan

    nat = load_table(spark, sf_dir, "nation").select("n_nationkey")
    k = F.col("n_nationkey").cast("long")
    sites = nat.select(
        k.alias("site_id"),
        ((k * 7) % 120 - 60 + 0.5).alias("site_lat"),
        ((k * 13) % 360 - 180 + 0.5).alias("site_lon"),
    )
    cust = load_table(spark, sf_dir, "customer").select("c_custkey")
    c = F.col("c_custkey")
    points = cust.select(
        c.alias("point_id"),
        ((c * 3) % 120 - 60 + 0.25).alias("lat"),
        ((c * 17) % 360 - 180 + 0.25).alias("lon"),
    )
    d = haversine_km(
        F.col("lat"), F.col("lon"), F.col("site_lat"), F.col("site_lon")
    )
    margin = (
        points.crossJoin(sites)
        .agg(F.min(F.abs(d - 300.0)).alias("m"))
        .collect()[0]["m"]
    )
    assert margin > 0.5


def test_point_in_polygon_degenerate_polygon_raises(spark):
    import pytest as _pytest

    from trollflow2_spark.extensions.geo import point_in_polygon

    pts = spark.createDataFrame([(0.5, 0.5)], ["lon", "lat"])
    with _pytest.raises(ValueError, match="non-horizontal"):
        point_in_polygon(
            pts, {"flat": [[(0, 0), (1, 0), (2, 0)]]}
        )


def test_spatial_join_pip_semantics(spark):
    from pyspark.sql import Row

    from trollflow2_spark.extensions.geo import (
        spatial_join_points_in_polygons,
    )

    square = [
        {"x": 0.0, "y": 0.0},
        {"x": 4.0, "y": 0.0},
        {"x": 4.0, "y": 4.0},
        {"x": 0.0, "y": 4.0},
        {"x": 0.0, "y": 0.0},
    ]
    far = [{"x": 100.0 + dx, "y": 100.0 + dy}
           for dx, dy in [(0, 0), (2, 0), (2, 2), (0, 2), (0, 0)]]
    polys = spark.createDataFrame(
        [("sq", square), ("far", far)],
        "poly_id string, ring array<struct<x: double, y: double>>",
    )
    pts = spark.createDataFrame(
        [
            Row(id=1, x=2.0, y=2.0),     # inside sq
            Row(id=2, x=5.0, y=5.0),     # outside both
            Row(id=3, x=101.0, y=101.0), # inside far
            Row(id=4, x=2.0, y=9.0),     # same cell col as sq, outside
        ]
    )
    out = spatial_join_points_in_polygons(pts, polys, cell=3.0)
    got = {(r.id, r.poly_id) for r in out.collect()}
    assert got == {(1, "sq"), (3, "far")}


def test_spatial_join_pip_hole_via_parity(spark):
    from pyspark.sql import Row

    from trollflow2_spark.extensions.geo import (
        spatial_join_points_in_polygons,
    )

    # concatenating outer ring + hole ring into one array: parity
    # excludes the hole interior (the ray crosses both boundaries)
    outer = [(0, 0), (10, 0), (10, 10), (0, 10), (0, 0)]
    hole = [(4, 4), (4, 6), (6, 6), (6, 4), (4, 4)]
    ring = [{"x": float(x), "y": float(y)} for x, y in outer + hole]
    polys = spark.createDataFrame(
        [("donut", ring)],
        "poly_id string, ring array<struct<x: double, y: double>>",
    )
    pts = spark.createDataFrame(
        [Row(id=1, x=2.0, y=2.0), Row(id=2, x=5.0, y=5.0)]
    )
    out = spatial_join_points_in_polygons(pts, polys, cell=5.0)
    assert {r.id for r in out.collect()} == {1}


def test_spatial_join_pip_degenerate_ring_fails_loudly(spark):
    from pyspark.sql import Row

    from trollflow2_spark.extensions.geo import (
        spatial_join_points_in_polygons,
    )

    polys = spark.createDataFrame(
        [("bad", [{"x": 0.0, "y": 0.0}, {"x": 1.0, "y": 1.0}])],
        "poly_id string, ring array<struct<x: double, y: double>>",
    )
    pts = spark.createDataFrame([Row(id=1, x=0.5, y=0.5)])
    out = spatial_join_points_in_polygons(pts, polys, cell=2.0)
    import pytest as _pytest

    with _pytest.raises(Exception, match="ring has < 4"):
        out.collect()
