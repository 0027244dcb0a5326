"""Semantics tests for the round-12 spatial ops: ray-cast
point-in-polygon tagging and pure-Column geohash encoding."""

from pyspark.sql import Row, functions as F

from trollflow2_spark.functions.geometry import geohash_encode
from trollflow2_spark.extensions.geo import point_in_polygon
from trollflow2_spark import qconst as C


def _tag(spark, pts):
    df = spark.createDataFrame(
        [Row(point_id=i, lon=float(x), lat=float(y))
         for i, (x, y) in enumerate(pts)]
    )
    out = point_in_polygon(df, C.PIP_POLYGONS, scale=C.PIP_SCALE)
    tags = {}
    for r in out.collect():
        tags.setdefault(r.point_id, set()).add(r.poly_id)
    return [tags.get(i, set()) for i in range(len(pts))]


def test_pip_catalog_membership(spark):
    got = _tag(
        spark,
        [
            (-20.25, 10.25),  # inside box
            (-60.25, 10.25),  # west of box -> nothing
            (100.25, -10.25),  # inside holed's HOLE -> excluded
            (70.25, 10.25),  # inside holed ring proper
            (25.25, -50.25),  # inside lshape base
            (50.25, -10.25),  # in the concave notch -> outside lshape
            (-120.25, 40.25),  # near triangle apex, inside
            (-120.25, 49.25),  # above apex narrows: still inside?
        ],
    )
    assert got[0] == {"box"}
    assert got[1] == set()
    assert got[2] == set()
    assert got[3] == {"holed"}
    assert got[4] == {"lshape"}
    assert got[5] == set()
    assert got[6] == {"tri"}
    # apex row: the triangle narrows to a point at (-120, 50); at
    # lat 49.25 the half-width is ~0.36 deg, so lon -120.25 is inside
    assert got[7] == {"tri"}


def test_pip_hole_boundary_ring(spark):
    # just outside the hole but inside the outer ring -> tagged
    got = _tag(spark, [(79.25, -10.25), (80.25, -10.25)])
    assert got[0] == {"holed"}  # west of hole edge at lon 80
    assert got[1] == set()  # inside hole


def _gh(spark, lon, lat, precision):
    df = spark.createDataFrame([Row(lon=lon, lat=lat)])
    return df.select(
        geohash_encode(F.col("lon"), F.col("lat"), precision).alias("g")
    ).collect()[0].g


def test_geohash_known_vectors(spark):
    # canonical public examples
    assert _gh(spark, 10.40744, 57.64911, 11) == "u4pruydqqvj"
    assert _gh(spark, 10.40744, 57.64911, 8) == "u4pruydq"
    assert _gh(spark, -5.6, 42.6, 5) == "ezs42"


def test_geohash_domain_corners(spark):
    assert _gh(spark, 180.0, 90.0, 6) == "zzzzzz"
    assert _gh(spark, -180.0, -90.0, 6) == "000000"


def test_geohash_prefix_locality(spark):
    a = _gh(spark, 10.40744, 57.64911, 8)
    b = _gh(spark, 10.40745, 57.64912, 8)
    assert a[:6] == b[:6]
