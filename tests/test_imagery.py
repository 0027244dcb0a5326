"""Single-file image writer tests.

Mirrors the reference's golden-pixel writer test
(``/root/reference/trollflow2/tests/test_trollflow2.py:701-768``): a
10x10 ``arange`` scene saved through geotiff/ninjogeotiff/simple_image
must produce real files whose pixel [5, 5] reads back as 142
(= round(55 * 255 / 99) after the min-max stretch).
"""

import os

import numpy as np
import pytest

from trollflow2_spark.sinks import imagery


# ---------------------------------------------------------------------------
# codec units


def test_png_roundtrip_gray():
    arr = np.arange(100, dtype=np.uint8).reshape(10, 10)
    blob = imagery.encode_png(arr)
    assert blob[:8] == b"\x89PNG\r\n\x1a\n"
    back = imagery.decode_png(blob)
    np.testing.assert_array_equal(back, arr)


def test_png_roundtrip_rgb():
    rng = np.random.default_rng(7)
    arr = rng.integers(0, 256, size=(8, 5, 3), dtype=np.uint8)
    back = imagery.decode_png(imagery.encode_png(arr))
    np.testing.assert_array_equal(back, arr)


@pytest.mark.parametrize("compress", ["NONE", "DEFLATE"])
def test_geotiff_roundtrip_uint8(compress):
    arr = np.arange(100, dtype=np.uint8).reshape(10, 10)
    blob = imagery.encode_geotiff(
        arr,
        pixel_scale=(0.5, 0.5),
        tiepoint=(10.0, 60.0),
        description="hello",
        compress=compress,
    )
    assert blob[:4] == b"II*\x00"
    pages, tags = imagery.decode_geotiff(blob)
    np.testing.assert_array_equal(pages[0], arr)
    assert tags[imagery.TAG_MODEL_PIXEL_SCALE][:2] == [0.5, 0.5]
    assert tags[imagery.TAG_MODEL_TIEPOINT][3:5] == [10.0, 60.0]
    assert tags[imagery.TAG_DESCRIPTION] == ["hello"]
    # GeoKeyDirectory carries EPSG:4326
    assert tags[imagery.TAG_GEO_KEY_DIRECTORY][-1] == 4326


def test_geotiff_float32_and_overviews():
    arr = (np.arange(64, dtype=np.float32) / 3.0).reshape(8, 8)
    ovs = [imagery.block_mean_2d(arr, 2), imagery.block_mean_2d(arr, 4)]
    pages, _ = imagery.decode_geotiff(
        imagery.encode_geotiff(arr, overviews=ovs, compress="DEFLATE")
    )
    assert len(pages) == 3
    np.testing.assert_allclose(pages[0], arr, rtol=1e-6)
    assert pages[1].shape == (4, 4)
    assert pages[2].shape == (2, 2)


def test_stretch_golden_value():
    arr = np.arange(100, dtype="float64").reshape(10, 10)
    out = imagery.stretch_to_uint8(arr)
    assert out[5, 5] == 142  # round(55 * 255 / 99)
    assert out[0, 0] == 0 and out[9, 9] == 255


def test_stretch_nan_fill():
    arr = np.array([[0.0, np.nan], [50.0, 100.0]])
    out = imagery.stretch_to_uint8(arr, fill_value=7)
    assert out[0, 1] == 7
    assert out[1, 1] == 255


def test_stretch_all_nan_writes_fill():
    """A fully-invalid product (left-join resample missing everywhere)
    must encode to a fill-valued image, not crash on nanmin of empty."""
    arr = np.full((4, 4), np.nan)
    out = imagery.stretch_to_uint8(arr, fill_value=9)
    assert out.dtype == np.uint8 and (out == 9).all()
    # and the PNG writer end-to-end survives it
    blob = imagery.encode_png(out)
    assert imagery.decode_png(blob).max() == 9


def test_block_mean_partial_blocks():
    arr = np.arange(25, dtype="float64").reshape(5, 5)
    out = imagery.block_mean_2d(arr, 2)
    assert out.shape == (3, 3)
    assert out[0, 0] == pytest.approx((0 + 1 + 5 + 6) / 4)
    assert out[2, 2] == pytest.approx(24.0)  # single surviving pixel


# ---------------------------------------------------------------------------
# golden-pixel e2e through save_datasets (≙ test_save_datasets_callback)


@pytest.fixture
def golden_scene(spark):
    rows = [(x, y, float(y * 10 + x)) for y in range(10) for x in range(10)]
    return spark.createDataFrame(rows, "x int, y int, dragon_top_height double")


def _items(tmp_path, writers):
    return [
        {
            "area": "sargasso",
            "product": ["dragon_top_height"],
            "productname": "dragon_top_height",
            "format": fmt,
            "writer": w,
            "fname_pattern": "{productname}-{writer}.{format}",
            "output_dir": str(tmp_path),
            "fill_value": 0,
            "compress": "NONE",
        }
        for w, fmt in writers
    ]


def test_save_datasets_golden_pixel(spark, tmp_path, golden_scene):
    from trollflow2_spark.sinks.save import save_datasets

    res = save_datasets(
        spark,
        golden_scene,
        _items(
            tmp_path,
            [("geotiff", "tif"), ("ninjogeotiff", "tif"), ("simple_image", "png")],
        ),
    )
    assert len(res.produced) == 3
    by_writer = {p["writer"]: p for p in res.produced}

    tif = by_writer["geotiff"]["filename"]
    assert os.path.basename(tif) == "dragon_top_height-geotiff.tif"
    with open(tif, "rb") as fh:
        pages, _tags = imagery.decode_geotiff(fh.read())
    assert pages[0][5, 5] == 142

    with open(by_writer["ninjogeotiff"]["filename"], "rb") as fh:
        pages, tags = imagery.decode_geotiff(fh.read())
    assert pages[0][5, 5] == 142

    png = by_writer["simple_image"]["filename"]
    with open(png, "rb") as fh:
        blob = fh.read()
    assert blob[:8] == b"\x89PNG\r\n\x1a\n"
    assert imagery.decode_png(blob)[5, 5] == 142

    # atomic commit: no .tmp leftovers
    assert not [f for f in os.listdir(tmp_path) if ".tmp" in f]


def test_ninjo_metadata_in_description(spark, tmp_path, golden_scene):
    from trollflow2_spark.sinks.save import save_datasets

    items = _items(tmp_path, [("ninjogeotiff", "tif")])
    items[0].update(
        {"ChannelID": "IR -2+3i", "PhysicUnit": "K", "SatelliteNameID": "PytrollSat"}
    )
    res = save_datasets(spark, golden_scene, items)
    with open(res.produced[0]["filename"], "rb") as fh:
        _pages, tags = imagery.decode_geotiff(fh.read())
    import json

    desc = json.loads(tags[imagery.TAG_DESCRIPTION][0])
    assert desc["ChannelID"] == "IR -2+3i"
    assert desc["SatelliteNameID"] == "PytrollSat"


def test_add_overviews_on_real_tiff(spark, tmp_path, golden_scene):
    from trollflow2_spark.plans.pipeline import add_overviews_plugin
    from trollflow2_spark.sinks.save import save_datasets

    res = save_datasets(spark, golden_scene, _items(tmp_path, [("geotiff", "tif")]))
    job = {"spark": spark, "produced_files": res}
    add_overviews_plugin(job, factors=[2, 5])
    with open(res.produced[0]["filename"], "rb") as fh:
        pages, _ = imagery.decode_geotiff(fh.read())
    assert [p.shape for p in pages] == [(10, 10), (5, 5), (2, 2)]
    assert res.produced[0]["overview_levels"] == [2, 5]


def test_netcdf_roundtrip():
    from trollflow2_spark.sinks import netcdf

    a = np.arange(12, dtype="float64").reshape(3, 4)
    b = a * 2.5
    blob = netcdf.encode_netcdf(
        {"band_a": a, "band_b": b}, {"Conventions": "CF-1.7", "orbit": 42, "scale": 0.5}
    )
    assert blob[:4] == b"CDF\x01"
    variables, attrs = netcdf.decode_netcdf(blob)
    np.testing.assert_array_equal(variables["band_a"], a)
    np.testing.assert_array_equal(variables["band_b"], b)
    assert attrs == {"Conventions": "CF-1.7", "orbit": 42, "scale": 0.5}


def test_cf_writer_end_to_end(spark, tmp_path, golden_scene):
    """The cf writer emits a real classic NetCDF file with the product
    as an NC_DOUBLE variable and CF attributes (closing the last writer
    stub; ≙ the reference's cf writer, plugins/__init__.py:277-310)."""
    from trollflow2_spark.sinks import netcdf
    from trollflow2_spark.sinks.save import save_datasets

    items = _items(tmp_path, [("cf", "nc")])
    items[0]["platform_name"] = "SAT-1"
    res = save_datasets(spark, golden_scene, items)
    path = res.produced[0]["filename"]
    assert path.endswith("dragon_top_height-cf.nc")
    with open(path, "rb") as fh:
        variables, attrs = netcdf.decode_netcdf(fh.read())
    assert variables["dragon_top_height"][5, 5] == 55.0
    assert attrs["platform_name"] == "SAT-1"
    assert attrs["Conventions"] == "CF-1.7"


def test_geotiff_float_dtype_passthrough(spark, tmp_path, golden_scene):
    from trollflow2_spark.sinks.save import save_datasets

    items = _items(tmp_path, [("geotiff", "tif")])
    items[0]["dtype"] = "float32"
    res = save_datasets(spark, golden_scene, items)
    with open(res.produced[0]["filename"], "rb") as fh:
        pages, _ = imagery.decode_geotiff(fh.read())
    assert pages[0].dtype == np.float32
    assert pages[0][5, 5] == 55.0  # no stretch in float mode
