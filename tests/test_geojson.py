"""Semantics tests for the GeoJSON feature reader
(`extensions/geojson.py`): bbox recursion, shoelace areas with holes,
RFC 7946 winding audit, malformed-feature taxonomy."""

import json

import pytest
from pyspark.sql import Row

from trollflow2_spark.extensions.geojson import feature_metrics, read_geojson


def _feat(geom, props=None):
    return {"type": "Feature", "geometry": geom, "properties": props or {}}


def _sq(x0, y0, s, ccw=True):
    ring = [[x0, y0], [x0 + s, y0], [x0 + s, y0 + s], [x0, y0 + s], [x0, y0]]
    return ring if ccw else ring[::-1]


def test_point_metrics():
    m = feature_metrics(
        _feat({"type": "Point", "coordinates": [3.5, -2.0]}, {"a": 1})
    )
    assert m["gtype"] == "Point" and m["n_points"] == 1
    assert (m["bbox_xmin"], m["bbox_ymax"]) == (3.5, -2.0)
    assert m["area"] == 0.0 and m["ccw"] is None
    assert m["props"] == '{"a":1}'


def test_polygon_area_winding_and_hole():
    m = feature_metrics(
        _feat({"type": "Polygon", "coordinates": [_sq(0, 0, 10)]})
    )
    assert m["area"] == 100.0 and m["ccw"] == 1 and m["n_rings"] == 1
    cw = feature_metrics(
        _feat({"type": "Polygon", "coordinates": [_sq(0, 0, 10, ccw=False)]})
    )
    assert cw["area"] == 100.0 and cw["ccw"] == 0
    holed = feature_metrics(
        _feat(
            {
                "type": "Polygon",
                "coordinates": [_sq(0, 0, 10), _sq(2, 2, 3, ccw=False)],
            }
        )
    )
    assert holed["area"] == 91.0 and holed["n_rings"] == 2


def test_multipolygon_outer_rings_add():
    m = feature_metrics(
        _feat(
            {
                "type": "MultiPolygon",
                "coordinates": [[_sq(0, 0, 2)], [_sq(10, 10, 3)]],
            }
        )
    )
    assert m["area"] == 13.0 and m["n_rings"] == 2
    assert m["bbox_xmax"] == 13.0


def test_geometry_collection_recursed():
    m = feature_metrics(
        _feat(
            {
                "type": "GeometryCollection",
                "geometries": [
                    {"type": "Point", "coordinates": [50, 7]},
                    {"type": "Polygon", "coordinates": [_sq(0, 0, 4)]},
                ],
            }
        )
    )
    assert m["n_points"] == 6 and m["area"] == 16.0
    assert m["bbox_xmax"] == 50.0


@pytest.mark.parametrize(
    "geom",
    [
        {"type": "Nope", "coordinates": [0, 0]},
        {"type": "Polygon", "coordinates": [[[0, 0], [1, 0], [0, 0]]]},
        {"type": "Polygon",
         "coordinates": [[[0, 0], [1, 0], [1, 1], [0, 1]]]},  # unclosed
        {"type": "Point", "coordinates": ["x", 0]},
    ],
)
def test_malformed_geometries_raise(geom):
    with pytest.raises(ValueError):
        feature_metrics(_feat(geom))


def test_spark_reader_quarantine(spark):
    fc = json.dumps(
        {
            "type": "FeatureCollection",
            "features": [_feat({"type": "Point", "coordinates": [1, 2]})],
        }
    )
    df = spark.createDataFrame(
        [Row(doc_id=1, text=fc), Row(doc_id=2, text=fc[:20])]
    )
    out = {r.doc_id: r for r in read_geojson(df).collect()}
    assert out[1].error is None and out[1].gtype == "Point"
    assert out[2].error is not None and out[2].gtype is None


def test_multipolygon_all_exterior_rings_audited():
    """ccw = 1 only if EVERY exterior ring winds CCW; holes never
    participate in the audit."""
    from trollflow2_spark.extensions.geojson import feature_metrics

    sq = lambda x: [[x, 0], [x + 1, 0], [x + 1, 1], [x, 1], [x, 0]]  # noqa: E731
    both_ccw = {
        "type": "Feature",
        "geometry": {
            "type": "MultiPolygon",
            "coordinates": [[sq(0)], [sq(3)]],
        },
        "properties": {},
    }
    second_cw = {
        "type": "Feature",
        "geometry": {
            "type": "MultiPolygon",
            "coordinates": [[sq(0)], [sq(3)[::-1]]],
        },
        "properties": {},
    }
    assert feature_metrics(both_ccw)["ccw"] == 1
    assert feature_metrics(second_cw)["ccw"] == 0
    # a CW hole inside a CCW exterior does not flip the audit
    holed = {
        "type": "Feature",
        "geometry": {
            "type": "Polygon",
            "coordinates": [
                [[0, 0], [4, 0], [4, 4], [0, 4], [0, 0]],
                [[1, 1], [1, 2], [2, 2], [2, 1], [1, 1]],  # CW hole
            ],
        },
        "properties": {},
    }
    assert feature_metrics(holed)["ccw"] == 1
