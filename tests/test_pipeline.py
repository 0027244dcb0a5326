"""End-to-end pipeline runtime tests: message -> jobs -> scene -> sinks
-> manifest -> publisher (the reference's golden-path CLI test shape,
mirrored: a real input file, a full run, asserts on produced outputs)."""

import json
import os

import pytest
from pyspark.sql import functions as F

from trollflow2_spark.config.product_list import read_product_list
from trollflow2_spark.plans.pipeline import (
    AbortProcessing,
    message_to_jobs,
    process_message,
    run_product_list,
)
from trollflow2_spark.operators.transforms import register_composite
from trollflow2_spark.sinks.save import SaveResult, check_results, compose_filename
from trollflow2_spark.sources.scene import create_scene, extract_filenames


@pytest.fixture(scope="module")
def input_file(spark, sf_dir, tmp_path_factory):
    """A real parquet input: a small slice of events as the 'scene'."""
    path = str(tmp_path_factory.mktemp("input") / "scene.parquet")
    (
        spark.read.parquet(os.path.join(sf_dir, "events.parquet"))
        .limit(200)
        .withColumn("ch1", F.col("value"))
        .withColumn("ch2", F.col("value") * 2)
        .write.mode("overwrite")
        .parquet(path)
    )
    return path


PL_YAML = """
product_list:
  output_dir: "{out_dir}"
  fname_pattern: "{{platform_name}}_{{areaname}}_{{productname}}.{{format}}"
  formats:
    - format: parquet
      writer: parquet
  areas:
    euron1:
      areaname: euron1
      priority: 1
      products:
        ch1:
          productname: channel_1
          formats:
            - format: parquet
              writer: parquet
            - format: csv
              writer: csv
    germ:
      areaname: germ
      products:
        night_fog:
          productname: night_fog
          sunzen_minimum_angle: 90.0
        ch2:
          productname: channel_2
"""


def _message(input_file):
    return {
        "type": "file",
        "platform_name": "TEST-1",
        "sensor": "avhrr",
        "start_time": "2024-01-15T12:00:00",
        "dataset": [{"uri": input_file, "uid": os.path.basename(input_file)}],
    }


def test_extract_filenames_prefers_uri(input_file):
    msg = _message(input_file)
    assert extract_filenames(msg) == [input_file]
    # nested collection form + path fallback
    msg2 = {"collection": [{"dataset": [{"path": "/a"}, {"path": "/b"}]}]}
    assert extract_filenames(msg2) == ["/a", "/b"]


def test_create_scene_reads_parquet(spark, input_file):
    scene = create_scene(spark, [input_file], reader="parquet")
    assert scene.count() == 200
    assert "ch1" in scene.columns


def test_netcdf_reader_roundtrip(spark, tmp_path):
    """The engine reads back the NetCDF it writes: one row per pixel,
    (y, x, one double column per variable in sorted order), decoded
    executor-side; a NaN pixel stays a NaN cell."""
    import math

    import numpy as np

    from trollflow2_spark.sinks import netcdf

    arr = np.arange(12, dtype="float64").reshape(3, 4)
    arr[0, 0] = np.nan
    path = str(tmp_path / "scene.nc")
    with open(path, "wb") as fh:
        fh.write(netcdf.encode_netcdf({"u": arr * 2.0, "t": arr}, {"sensor": "x"}))
    scene = create_scene(spark, [path], reader="netcdf")
    assert scene.columns == ["y", "x", "t", "u"]
    rows = scene.collect()
    assert len(rows) == 12  # every pixel, the NaN one included
    got = {(r["y"], r["x"]): (r["t"], r["u"]) for r in rows}
    assert got[(1, 2)] == (6.0, 12.0)
    assert got[(2, 3)] == (11.0, 22.0)
    assert all(v is not None and math.isnan(v) for v in got[(0, 0)])

    small = np.arange(6, dtype="float64").reshape(2, 3)
    path2 = str(tmp_path / "wide.nc")
    with open(path2, "wb") as fh:
        fh.write(netcdf.encode_netcdf({"a": small, "b": small + 10.0}))
    wide = create_scene(spark, [path2], reader="netcdf")
    row = {(r["y"], r["x"]): (r["a"], r["b"]) for r in wide.collect()}
    assert row[(1, 2)] == (5.0, 15.0)


def test_png_and_geotiff_readers_roundtrip(spark, tmp_path):
    import numpy as np

    from trollflow2_spark.sinks import imagery

    gray = np.arange(100, dtype="float64").reshape(10, 10)
    png_path = str(tmp_path / "img.png")
    with open(png_path, "wb") as fh:
        fh.write(imagery.encode_png(gray.astype(np.uint8)))
    png_scene = create_scene(spark, [png_path], reader="png")
    assert png_scene.columns == ["y", "x", "image"]
    got = {(r["y"], r["x"]): r["image"] for r in png_scene.collect()}
    assert len(got) == 100 and got[(5, 5)] == 55.0

    rgb = np.zeros((4, 4, 3), dtype=np.uint8)
    rgb[:, :, 1] = 200
    tif_path = str(tmp_path / "img.tif")
    with open(tif_path, "wb") as fh:
        fh.write(imagery.encode_geotiff(rgb, compress="DEFLATE"))
    tif_scene = create_scene(spark, [tif_path], reader="geotiff")
    assert tif_scene.columns == ["y", "x", "band_0", "band_1", "band_2"]
    rows = tif_scene.collect()
    assert len(rows) == 16 and all(r["band_1"] == 200.0 for r in rows)
    assert all(r["band_0"] == r["band_2"] == 0.0 for r in rows)


def test_png_palette_reader_names_bands_from_the_header(spark, tmp_path):
    """A gray palette reads as one ``image`` variable; a colour palette
    as three bands, even when the pixels use only its gray entries."""
    import numpy as np

    from trollflow2_spark.sinks import imagery

    idx = np.array([[0, 1], [1, 0]], dtype=np.uint8)
    cases = {
        "gray.png": (np.array([[0, 0, 0], [9, 9, 9]], np.uint8), ["image"]),
        "colour.png": (
            np.array([[0, 0, 0], [9, 9, 9], [255, 0, 0]], np.uint8),
            ["band_0", "band_1", "band_2"],
        ),
    }
    for name, (palette, cols) in cases.items():
        path = str(tmp_path / name)
        with open(path, "wb") as fh:
            fh.write(imagery.encode_png(idx, palette=palette))
        scene = create_scene(spark, [path], reader="png")
        assert scene.columns == ["y", "x", *cols]
        got = {(r["y"], r["x"]): [r[c] for c in cols] for r in scene.collect()}
        assert got[(0, 1)] == [9.0] * len(cols) and got[(1, 1)] == [0.0] * len(cols)


def _write_netcdf(path, variables):
    from trollflow2_spark.sinks import netcdf

    with open(path, "wb") as fh:
        fh.write(netcdf.encode_netcdf(variables))
    return str(path)


def test_raster_scene_build_starts_no_spark_job(spark, tmp_path):
    """create_scene + scene_to_wide only read headers on the driver:
    the scene's schema is known without a Spark job."""
    import numpy as np

    from trollflow2_spark.plans.pipeline import PLUGIN_REGISTRY
    from trollflow2_spark.sinks import imagery

    arr = np.arange(12, dtype="float64").reshape(3, 4)
    paths = {"netcdf": _write_netcdf(tmp_path / "s.nc", {"t": arr})}
    paths["png"] = str(tmp_path / "s.png")
    with open(paths["png"], "wb") as fh:
        fh.write(imagery.encode_png(arr.astype(np.uint8)))
    paths["geotiff"] = str(tmp_path / "s.tif")
    with open(paths["geotiff"], "wb") as fh:
        fh.write(imagery.encode_geotiff(np.stack([arr.astype(np.uint8)] * 3, axis=2)))
    sc = spark.sparkContext
    for reader, path in paths.items():
        group = f"raster-scene-{reader}"
        job = {"spark": spark, "input_filenames": [path]}
        sc.setJobGroup(group, "raster scene build probe", True)
        try:
            PLUGIN_REGISTRY["create_scene"](job, reader=reader)
            PLUGIN_REGISTRY["scene_to_wide"](job)
            started = sc.statusTracker().getJobIdsForGroup(group)
        finally:
            sc.setJobGroup("", "", False)
        assert started == [], reader
        assert job["scene"].columns[:2] == ["y", "x"]


RASTER_PL_YAML = """
product_list:
  output_dir: "{out}"
  fname_pattern: "{{productname}}.{{format}}"
  areas:
    a1:
      areaname: a1
      products:
        v:
          productname: v
          formats:
            - format: png
              writer: simple_image
"""


def _raster_workers(**valid_fraction):
    return [
        {"fun": "create_scene", "reader": "netcdf"},
        {"fun": "scene_to_wide"},
        {"fun": "check_valid_data_fraction", **valid_fraction},
        {"fun": "save_datasets"},
    ]


def test_sparse_granule_is_pruned_by_valid_fraction(spark, tmp_path):
    """5 finite pixels of 100 is 5% valid: below the default 10% the
    item is pruned; at 1% the image keeps the full 10x10 grid."""
    import numpy as np

    from trollflow2_spark.sinks.imagery import decode_png

    v = np.full((10, 10), np.nan)
    v[2, 1:6] = [10.0, 20.0, 30.0, 40.0, 50.0]
    path = _write_netcdf(tmp_path / "sparse.nc", {"v": v})
    msg = {"type": "file", "platform_name": "TEST-1", "dataset": [{"uri": path}]}
    out = tmp_path / "out"
    plist = read_product_list(raw_string=RASTER_PL_YAML.format(out=out))

    summary = process_message(spark, msg, plist, _raster_workers())
    assert summary["result"].produced == []
    assert not (out / "v.png").exists()

    summary = process_message(
        spark, msg, plist, _raster_workers(min_valid_data_fraction=1.0)
    )
    assert summary["status"] == "nominal"
    with open(out / "v.png", "rb") as fh:
        assert decode_png(fh.read()).shape == (10, 10)


def test_files_repeating_a_variable_abort(spark, tmp_path):
    """Two granules of one variable are rejected, not merged: the batch
    aborts with a reason naming the variable."""
    import numpy as np

    arr = np.arange(6, dtype="float64").reshape(2, 3)
    paths = [_write_netcdf(tmp_path / f"g{i}.nc", {"v": arr + i}) for i in (1, 2)]
    msg = {"type": "file", "dataset": [{"uri": p} for p in paths]}
    plist = read_product_list(raw_string=RASTER_PL_YAML.format(out=tmp_path / "out"))
    summary = process_message(spark, msg, plist, _raster_workers())
    assert summary["status"] == "aborted"
    (reason,) = summary["aborted_priorities"].values()
    assert "variable 'v'" in reason
    assert summary["result"].produced == []


def test_files_with_distinct_variables_on_one_grid_make_one_scene(spark, tmp_path):
    import numpy as np

    arr = np.arange(6, dtype="float64").reshape(2, 3)
    paths = [
        _write_netcdf(tmp_path / "ch_b.nc", {"b": arr + 10.0}),
        _write_netcdf(tmp_path / "ch_a.nc", {"a": arr}),
    ]
    scene = create_scene(spark, paths, reader="netcdf")
    assert scene.columns == ["y", "x", "a", "b"]
    got = {(r["y"], r["x"]): (r["a"], r["b"]) for r in scene.collect()}
    assert len(got) == 6 and got[(1, 2)] == (5.0, 15.0)


def test_bad_scene_layouts_raise(spark, tmp_path):
    """Variables on different grids, or a variable named like a pixel
    index column, raise from create_scene."""
    import numpy as np

    from trollflow2_spark.sources.scene import SceneCreationError

    paths = [
        _write_netcdf(tmp_path / "a.nc", {"a": np.zeros((2, 3))}),
        _write_netcdf(tmp_path / "b.nc", {"b": np.zeros((3, 2))}),
    ]
    with pytest.raises(SceneCreationError, match="one 2-D grid"):
        create_scene(spark, paths, reader="netcdf")
    clash = _write_netcdf(tmp_path / "x.nc", {"x": np.zeros((2, 3))})
    with pytest.raises(SceneCreationError, match="pixel index"):
        create_scene(spark, [clash], reader="netcdf")


def test_raster_reader_rejects_wrong_magic(spark, tmp_path):
    from trollflow2_spark.sources.scene import SceneCreationError

    path = str(tmp_path / "notnc.nc")
    with open(path, "wb") as fh:
        fh.write(b"not a netcdf file")
    with pytest.raises(SceneCreationError):
        create_scene(spark, [path], reader="netcdf")


def test_message_to_jobs_priority_batches(spark, input_file, tmp_path):
    plist = read_product_list(raw_string=PL_YAML.format(out_dir=tmp_path))
    jobs = message_to_jobs(spark, _message(input_file), plist)
    assert list(jobs) == [1, 999]  # explicit prio first, default 999 after
    # euron1/ch1 has 2 formats -> 2 leaves in priority 1
    assert len(jobs[1]["work_items"]) == 2
    assert len(jobs[999]["work_items"]) == 2


def test_full_pipeline_run(spark, input_file, tmp_path):
    out_dir = str(tmp_path / "out")
    plist = read_product_list(raw_string=PL_YAML.format(out_dir=out_dir))
    summary = process_message(spark, _message(input_file), plist)

    assert summary["status"] == "nominal"
    produced = summary["result"].produced
    # euron1/ch1: parquet + csv; germ: night_fog dropped by sza at noon
    # (sza@(0,0) ~ 23 deg < min 90), ch2 written with global format.
    names = sorted(os.path.basename(p["filename"]) for p in produced)
    assert names == [
        "TEST-1_euron1_channel_1.csv",
        "TEST-1_euron1_channel_1.parquet",
        "TEST-1_germ_channel_2.parquet",
    ]
    for p in produced:
        assert os.path.exists(p["filename"]), p
        assert p["size_bytes"] > 0
        assert p["staged_filename"] is None  # atomically renamed
    # no leftover tmp staging dirs
    assert not [f for f in os.listdir(out_dir) if ".tmp" in f]
    # written parquet is the selected product column only
    pq = [p for p in produced if p["filename"].endswith("channel_1.parquet")][0]
    df = spark.read.parquet(pq["filename"])
    assert df.columns == ["ch1"]
    assert df.count() == 200


def test_abort_on_bad_metadata(spark, input_file, tmp_path):
    plist = read_product_list(raw_string=PL_YAML.format(out_dir=tmp_path))
    workers = [
        {"fun": "check_metadata", "platform_name": ["OTHER-SAT"]},
        {"fun": "create_scene"},
        {"fun": "save_datasets"},
    ]
    summary = process_message(spark, _message(input_file), plist, workers)
    assert summary["status"] == "aborted"
    assert summary["result"].produced == []
    assert set(summary["aborted_priorities"]) == {1, 999}


def test_check_metadata_numeric_non_time_key(spark):
    """A numeric criterion on a non-time key is an equality check, not an
    age check (round-1 defect: any numeric criterion hit the age branch
    and crashed on ts.replace)."""
    from trollflow2_spark.plans.pipeline import AbortProcessing, PLUGIN_REGISTRY
    import pytest as _pytest

    check = PLUGIN_REGISTRY["check_metadata"]
    job = {"input_mda": {"orbit_number": 42, "start_time": "2024-01-15T12:00:00"}}
    check(job, orbit_number=42)  # equality pass, no crash
    with _pytest.raises(AbortProcessing):
        check(job, orbit_number=43)
    with _pytest.raises(AbortProcessing):
        # very old start_time fails a 10-minute age gate
        check(job, start_time=10)


def test_abort_on_unreadable_input(spark, tmp_path):
    plist = read_product_list(raw_string=PL_YAML.format(out_dir=tmp_path))
    msg = {"type": "file", "platform_name": "TEST-1",
           "start_time": "2024-01-15T12:00:00",
           "dataset": [{"uri": str(tmp_path / "nope.parquet")}]}
    summary = process_message(spark, msg, plist)
    assert summary["status"] == "aborted"


def test_ignored_message_type(spark, input_file, tmp_path):
    plist = read_product_list(raw_string=PL_YAML.format(out_dir=tmp_path))
    msg = {**_message(input_file), "type": "beat"}
    summary = process_message(spark, msg, plist)
    assert summary["status"] == "ignored"


def test_composites_and_valid_fraction(spark, input_file, tmp_path):
    @register_composite("bright")
    def _bright(df):
        return (F.col("ch1") + F.col("ch2")) / 2.0

    out_dir = str(tmp_path / "out")
    yaml_text = """
product_list:
  output_dir: "{out}"
  fname_pattern: "{{productname}}.{{format}}"
  areas:
    a1:
      areaname: a1
      products:
        bright:
          productname: bright
          formats: [{{format: parquet, writer: parquet}}]
""".format(out=out_dir)
    plist = read_product_list(raw_string=yaml_text)
    workers = [
        {"fun": "create_scene"},
        {"fun": "load_composites"},
        {"fun": "check_valid_data_fraction", "min_valid_data_fraction": 10.0},
        {"fun": "save_datasets"},
    ]
    summary = process_message(spark, _message(input_file), plist, workers)
    assert summary["status"] == "nominal"
    df = spark.read.parquet(summary["result"].produced[0]["filename"])
    assert df.columns == ["bright"]


def test_run_product_list_batch_entry(spark, input_file, tmp_path):
    out_dir = str(tmp_path / "out")
    plist = read_product_list(raw_string=PL_YAML.format(out_dir=out_dir))
    summary = run_product_list(
        spark,
        [input_file],
        {"platform_name": "TEST-1", "start_time": "2024-01-15T12:00:00"},
        plist,
    )
    assert summary["status"] == "nominal"
    assert len(summary["result"].produced) == 3


def test_publisher_messages(spark, input_file, tmp_path):
    out_dir = str(tmp_path / "out")
    plist = read_product_list(raw_string=PL_YAML.format(out_dir=out_dir))
    workers = [
        {"fun": "create_scene"},
        {"fun": "sza_check"},
        {"fun": "save_datasets"},
        {"fun": "publish", "topic_pattern": "/{format}/{area}", "out_dir": out_dir},
    ]
    summary = process_message(spark, _message(input_file), plist, workers)
    assert summary["status"] == "nominal"
    pub_dir = os.path.join(out_dir, "published_messages")
    rows = spark.read.json(pub_dir).collect()
    assert len(rows) == 3
    payload = json.loads(rows[0]["message"])
    assert payload["platform_name"] == "TEST-1"
    assert payload["uri"].startswith(out_dir)
    topics = {r["topic"] for r in rows}
    assert topics == {"/parquet/euron1", "/csv/euron1", "/parquet/germ"}


def test_check_results_empty_detection():
    r = SaveResult()
    r.produced = [
        {"filename": "a", "size_bytes": 10},
        {"filename": "b", "size_bytes": 0},
    ]
    audit = check_results(r)
    assert audit["status"] == "empty_files"
    assert audit["empty_files"] == ["b"]
    r2 = SaveResult()
    r2.produced = [{"filename": "a", "size_bytes": 10}]
    assert check_results(r2, expected=2)["status"] == "missing_files"
    assert check_results(r2, expected=1)["status"] == "nominal"


def test_compose_filename_strftime():
    out = compose_filename(
        "{platform_name}_{start_time:%Y%m%d_%H%M}_{areaname}.{format}",
        {
            "platform_name": "TEST-1",
            "start_time": "2024-01-15T12:34:00",
            "areaname": "euron1",
            "format": "tif",
        },
    )
    assert out == "TEST-1_20240115_1234_euron1.tif"


def test_worker_timeout(spark, input_file, tmp_path):
    from trollflow2_spark.plans.pipeline import register_plugin

    @register_plugin("sleepy")
    def _sleepy(job):
        import time

        time.sleep(5)

    plist = read_product_list(raw_string=PL_YAML.format(out_dir=tmp_path))
    workers = [{"fun": "sleepy", "timeout": 0.5}]
    with pytest.raises(TimeoutError):
        process_message(spark, _message(input_file), plist, workers)


def test_worker_timeout_cancels_spark_job(spark, input_file, tmp_path):
    """A timed-out worker's Spark job is cancelled with its batch's job
    group, not left running to completion behind the TimeoutError."""
    import threading
    import time

    from trollflow2_spark.plans.pipeline import register_plugin

    outcome = {}
    finished = threading.Event()

    @register_plugin("slow_spark_job")
    def _slow_spark_job(job):
        rdd = job["spark"].sparkContext.parallelize([0], 1)
        try:
            rdd.map(lambda x: time.sleep(4) or x).collect()
            outcome["job"] = "completed"
        except Exception as exc:  # noqa: BLE001 - the cancellation under test
            outcome["job"] = str(exc)
        finally:
            finished.set()

    plist = read_product_list(raw_string=PL_YAML.format(out_dir=tmp_path))
    workers = [{"fun": "slow_spark_job", "timeout": 1}]
    with pytest.raises(TimeoutError):
        process_message(spark, _message(input_file), plist, workers)
    assert finished.wait(60)
    assert outcome["job"] != "completed"
    assert "cancelled" in outcome["job"]


def test_cache_and_overviews(spark, input_file, tmp_path):
    out_dir = str(tmp_path / "out")
    yaml_text = """
product_list:
  output_dir: "{out}"
  fname_pattern: "{{productname}}.{{format}}"
  areas:
    a1:
      areaname: a1
      products:
        ch1:
          productname: p1
          formats: [{{format: parquet, writer: parquet}}]
""".format(out=out_dir)
    plist = read_product_list(raw_string=yaml_text)
    workers = [
        {"fun": "create_scene"},
        {"fun": "cache_scene"},
        {"fun": "save_datasets"},
        {"fun": "add_overviews", "factors": [4]},
        {"fun": "clear_cache"},
    ]
    summary = process_message(spark, _message(input_file), plist, workers)
    assert summary["status"] == "nominal"
    p = summary["result"].produced[0]
    assert p["overview_levels"] == [4]
    lvl = spark.read.parquet(p["filename"] + ".overviews/level=4")
    assert lvl.count() > 0
    assert "ch1_avg" in lvl.columns


def test_metadata_alias_plugin_list_values(spark, input_file, tmp_path):
    from trollflow2_spark.plans.pipeline import PLUGIN_REGISTRY

    job = {"input_mda": {"sensor": ["avhrr/3", "mhs"], "platform_name": "noaa15"}}
    PLUGIN_REGISTRY["metadata_alias"](
        job,
        sensor={"avhrr/3": "avhrr-3"},
        platform_name={"noaa15": "NOAA-15"},
    )
    assert job["input_mda"]["sensor"] == ["avhrr-3", "mhs"]
    assert job["input_mda"]["platform_name"] == "NOAA-15"


def test_resample_plugin_native_and_crop(spark, input_file, tmp_path):
    out_dir = str(tmp_path / "out")
    yaml_text = """
product_list:
  output_dir: "{out}"
  fname_pattern: "{{productname}}.{{format}}"
  areas:
    a1:
      areaname: a1
      products:
        value_avg:
          productname: resampled
          formats: [{{format: parquet, writer: parquet}}]
""".format(out=out_dir)
    plist = read_product_list(raw_string=yaml_text)
    workers = [
        {"fun": "create_scene"},
        {"fun": "resample", "resampler": "native",
         "aggregate_factors": {"event_id": 4},
         "reduce_data": True, "bbox": None},
        {"fun": "save_datasets"},
    ]
    summary = process_message(spark, _message(input_file), plist, workers)
    assert summary["status"] == "nominal"
    df = spark.read.parquet(summary["result"].produced[0]["filename"])
    assert df.columns == ["value_avg"]
    assert 0 < df.count() <= 200


def test_resample_plugin_nearest_grid(spark, input_file, tmp_path):
    from pyspark.sql import functions as F
    from trollflow2_spark.plans.pipeline import message_to_jobs, PLUGIN_REGISTRY

    plist = read_product_list(raw_string=PL_YAML.format(out_dir=tmp_path))
    job = list(message_to_jobs(spark, _message(input_file), plist).values())[0]
    PLUGIN_REGISTRY["create_scene"](job)
    scene = job["scene"].withColumn("x", (F.col("event_id") % 10).cast("double")) \
                        .withColumn("y", (F.col("user_id") % 10).cast("double"))
    job["scene"] = scene
    job["target_grid"] = spark.createDataFrame(
        [(float(i), float(j)) for i in range(5) for j in range(5)], "x double, y double"
    )
    PLUGIN_REGISTRY["resample"](job, resampler="nearest", radius_of_influence=2.0)
    out = job["scene"]
    assert out.count() > 0
    assert "src_ch1" in out.columns  # scene columns attached to grid points


def test_covers_plugin_real_swath_model(spark):
    """The closed-form orbit swath model prunes areas the pass misses
    (≙ covers + Pass.area_coverage, plugins/__init__.py:582-684) while
    items without geometry pass with a warning (graceful degradation)."""
    from trollflow2_spark.plans.pipeline import covers_plugin

    job = {
        "input_mda": {
            "platform_name": "SAT-1",
            "start_time": "2024-01-15T12:00:00",
            "end_time": "2024-01-15T12:15:00",
        },
        "work_items": [
            # on-track: ascending node at lon 10, track sweeps ~lat 0..50
            {"area": "near", "min_coverage": 30.0, "area_extent": (0.0, 0.0, 20.0, 30.0)},
            # opposite side of the planet
            {"area": "far", "min_coverage": 50.0, "area_extent": (150.0, -40.0, 170.0, -10.0)},
            # no geometry -> graceful keep
            {"area": "nogeo", "min_coverage": 50.0},
            # no threshold -> keep untouched
            {"area": "nocheck"},
        ],
    }
    covers_plugin(job)
    kept = [i["area"] for i in job["work_items"]]
    assert kept == ["near", "nogeo", "nocheck"]
    near = job["work_items"][0]
    assert near["area_coverage_percent"] >= 30.0


def test_swath_coverage_function_bounds():
    from trollflow2_spark.functions.geometry import swath_coverage_percent

    full = swath_coverage_percent(900.0, (5.0, 0.0, 15.0, 10.0))
    none = swath_coverage_percent(900.0, (150.0, -40.0, 170.0, -10.0))
    assert 0.0 <= none < full <= 100.0
    assert none == 0.0


def _multires_scene(spark):
    """Two bands on nested grids: fine (res=1) 4x4 integer pixels, coarse
    (res=2) 2x2 pixels at half-integer centers."""
    rows = [
        (float(x), float(y), 1, float(x + 10 * y))
        for y in range(4)
        for x in range(4)
    ] + [
        (x, y, 2, 100.0 + x + y)
        for y in (0.5, 2.5)
        for x in (0.5, 2.5)
    ]
    return spark.createDataFrame(rows, "x double, y double, resolution int, value double")


def test_resample_plugin_coarsest_area(spark):
    """use_coarsest_area picks the max-resolution band's grid and
    resamples everything onto it (≙ scn.coarsest_area(),
    tests/test_trollflow2.py:1022-1055)."""
    from trollflow2_spark.plans.pipeline import resample_plugin

    job = {
        "spark": spark,
        "scene": _multires_scene(spark),
        "work_items": [{"area": "None"}],
        "resampled_scenes": {},
    }
    resample_plugin(job, use_coarsest_area=True)
    out = job["resampled_scenes"]["None"].collect()
    assert len(out) == 4  # the coarse 2x2 grid
    # each coarse pixel keeps its own value (distance 0 beats any fine pixel)
    got = {(r["x"], r["y"]): r["value"] for r in out}
    assert got[(0.5, 0.5)] == 101.0
    assert got[(2.5, 2.5)] == 105.0


def test_resample_plugin_finest_area(spark):
    from trollflow2_spark.plans.pipeline import resample_plugin

    job = {
        "spark": spark,
        "scene": _multires_scene(spark),
        "work_items": [{"area": "None"}],
        "resampled_scenes": {},
    }
    resample_plugin(job, use_max_area=True)  # alias for use_finest_area
    out = job["resampled_scenes"]["None"].collect()
    assert len(out) == 16  # the fine 4x4 grid
    got = {(r["x"], r["y"]): r["value"] for r in out}
    assert got[(3.0, 3.0)] == 33.0


def test_resample_plugin_coarsest_keeps_every_band(spark):
    """With a band column the coarsest-area resample keeps every band
    (≙ scn.resample(coarsest_area()) resampling each dataset, not
    collapsing them) and ties resolve deterministically."""
    from trollflow2_spark.plans.pipeline import resample_plugin

    rows = [
        ("ir", float(x) + 0.5, float(y) + 0.5, 1, float(10 * y + x))
        for y in range(4)
        for x in range(4)
    ] + [
        ("vis", x, y, 2, 100.0 + x + y)
        for y in (0.5, 2.5)
        for x in (0.5, 2.5)
    ]
    scene = spark.createDataFrame(
        rows, "band string, x double, y double, resolution int, value double"
    )
    job = {
        "spark": spark,
        "scene": scene,
        "work_items": [{"area": "None"}],
        "resampled_scenes": {},
    }
    resample_plugin(job, use_coarsest_area=True)
    out = job["resampled_scenes"]["None"].collect()
    # 2x2 coarse grid x 2 bands: every band survives on the shared grid
    assert len(out) == 8
    got = {(r["band"], r["x"], r["y"]): r["value"] for r in out}
    assert got[("vis", 0.5, 0.5)] == 101.0  # own pixel, distance 0
    assert got[("ir", 0.5, 0.5)] == 0.0  # ir's own (0.5, 0.5) pixel
    assert got[("vis", 2.5, 2.5)] == 105.0


def test_resample_plugin_mapped_path_broadcasts(spark):
    """resample_plugin reaches the precomputed grid->grid broadcast
    mapping when source and target areas resolve to GridArea definitions:
    the plugin-built plan must broadcast-join and never explode."""
    from trollflow2_spark.operators.resample import GridArea, register_area
    from trollflow2_spark.plans.pipeline import resample_plugin

    register_area(GridArea("src9", width=8, height=8, dx=1.0, dy=1.0))
    register_area(GridArea("tgt9", width=4, height=4, dx=2.0, dy=2.0))
    rows = [
        (x + 0.5, y + 0.5, float(10 * y + x)) for y in range(8) for x in range(8)
    ]
    scene = spark.createDataFrame(rows, "x double, y double, value double")
    job = {
        "spark": spark,
        "scene": scene,
        "input_mda": {"source_area": "src9"},
        "work_items": [{"area": "tgt9"}],
        "resampled_scenes": {},
    }
    resample_plugin(job, resampler="nearest", radius_of_influence=2.0)
    out_df = job["resampled_scenes"]["tgt9"]
    qe = out_df._jdf.queryExecution()
    mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
        "formatted"
    )
    plan = qe.explainString(mode)
    assert "BroadcastHashJoin" in plan
    assert "Generate" not in plan  # no probe-cell explode
    out = out_df.collect()
    assert len(out) == 16  # the 4x4 target grid, every pixel hit
    got = {(r["x"], r["y"]): r["value"] for r in out}
    # target center (1.0, 1.0) -> nearest source pixel center (0.5, 0.5)
    assert got[(1.0, 1.0)] == 0.0


def test_mapped_resample_cache_reuses_and_drops_stale_sessions(
    spark, tmp_path, monkeypatch
):
    """The mapped nearest path persists one mapping per grid pair: a
    repeated pair reuses its mapping, a new pair adds one, and an entry
    of a stopped session is dropped without being called."""
    import numpy as np

    from trollflow2_spark.operators.resample import GridArea, register_area
    from trollflow2_spark.plans import pipeline

    stopped = ("stopped-app", None, None, 0.0)
    monkeypatch.setitem(pipeline._MAPPING_CACHE, stopped, object())
    register_area(GridArea("src_rdd", width=8, height=8, dx=1.0, dy=1.0))
    # grids no other test maps onto: equal mappings share one cache entry
    register_area(GridArea("tgt_rdd_a", width=4, height=4, x0=0.5, dx=2.0, dy=2.0))
    register_area(GridArea("tgt_rdd_b", width=2, height=2, dx=4.0, dy=4.0))
    path = _write_netcdf(
        tmp_path / "g.nc", {"v": np.arange(64, dtype="float64").reshape(8, 8)}
    )
    workers = [
        {"fun": "create_scene", "reader": "netcdf"},
        {"fun": "resample", "resampler": "nearest", "radius_of_influence": 4.0},
        {"fun": "save_datasets"},
    ]
    jsc = spark.sparkContext._jsc
    before = set(jsc.getPersistentRDDs().keySet())

    def run(uid, area):
        plist = read_product_list(raw_string=f"""
product_list:
  output_dir: "{tmp_path / 'out'}"
  fname_pattern: "{{uid}}_{{productname}}.{{format}}"
  areas:
    {area}:
      products:
        v:
          productname: v
          formats:
            - format: parquet
              writer: parquet
""")
        msg = {"type": "file", "uid": uid, "uri": path, "source_area": "src_rdd"}
        summary = process_message(spark, msg, plist, workers)
        assert summary["status"] == "nominal"
        assert (tmp_path / "out" / f"{uid}_v.parquet").exists()
        return set(jsc.getPersistentRDDs().keySet()) - before

    first = run("m1", "tgt_rdd_a")
    assert len(first) == 1
    assert stopped not in pipeline._MAPPING_CACHE
    assert run("m2", "tgt_rdd_a") == first
    both = run("m3", "tgt_rdd_b")
    assert len(both) == 2 and first < both


def test_mapped_nearest_resamples_each_area_of_a_batch_onto_its_own_grid(
    spark, tmp_path
):
    """One priority batch naming two target areas writes each area on its
    own grid: 16 rows for the 4x4 area, 4 for the 2x2 one, the same rows
    the 2x2 area writes when it is the batch's only area."""
    import numpy as np

    from trollflow2_spark.operators.resample import GridArea, register_area

    register_area(GridArea("src8", width=8, height=8, dx=1.0, dy=1.0))
    register_area(GridArea("tgt4", width=4, height=4, dx=2.0, dy=2.0))
    register_area(GridArea("tgt2", width=2, height=2, dx=4.0, dy=4.0))
    path = _write_netcdf(
        tmp_path / "g.nc", {"v": np.arange(64, dtype="float64").reshape(8, 8)}
    )
    workers = [
        {"fun": "create_scene", "reader": "netcdf"},
        {"fun": "resample", "resampler": "nearest", "radius_of_influence": 4.0},
        {"fun": "save_datasets"},
    ]

    def run(out, areas):
        area_yaml = "".join(f"""
    {area}:
      products:
        v:
          productname: v
          formats: [{{format: parquet, writer: parquet}}]""" for area in areas)
        plist = read_product_list(raw_string=f"""
product_list:
  output_dir: "{tmp_path / out}"
  fname_pattern: "{{area}}_{{productname}}.{{format}}"
  areas:{area_yaml}
""")
        msg = {"type": "file", "uid": out, "uri": path, "source_area": "src8"}
        summary = process_message(spark, msg, plist, workers)
        assert summary["status"] == "nominal"
        assert summary["aborted_priorities"] == {}
        return {
            area: sorted(
                spark.read.parquet(str(tmp_path / out / f"{area}_v.parquet")).collect()
            )
            for area in areas
        }

    both = run("both", ["tgt4", "tgt2"])
    assert [len(both["tgt4"]), len(both["tgt2"])] == [16, 4]
    assert both["tgt2"] == run("alone", ["tgt2"])["tgt2"]


def test_resample_plugin_ewa_radius_precedence(spark):
    """An explicit radius_of_influence must not be silently beaten by the
    *default* weight_distance_max=1.0; an explicit weight_distance_max
    still narrows the join."""
    from trollflow2_spark.plans.pipeline import resample_plugin

    target = spark.createDataFrame([(0.0, 0.0)], "x double, y double")
    # single source at distance 2: only reachable when radius 3 survives
    source = spark.createDataFrame([(2.0, 0.0, 7.0)], "x double, y double, value double")
    job = {
        "spark": spark,
        "scene": source,
        "target_grid": target,
        "work_items": [{"area": "None"}],
        "resampled_scenes": {},
    }
    resample_plugin(job, resampler="ewa", radius_of_influence=3.0)
    assert job["resampled_scenes"]["None"].count() == 1
    job2 = {
        "spark": spark,
        "scene": source,
        "target_grid": target,
        "work_items": [{"area": "None"}],
        "resampled_scenes": {},
    }
    resample_plugin(
        job2, resampler="ewa", radius_of_influence=3.0, weight_distance_max=1.0
    )
    assert job2["resampled_scenes"]["None"].count() == 0


def test_resampler_default_options_merge():
    from trollflow2_spark.plans.pipeline import resolve_resampler_options

    ewa = resolve_resampler_options("ewa", {})
    assert ewa["weight_min"] == 0.01 and ewa["kernel"] == "gaussian"
    over = resolve_resampler_options("ewa", {"weight_min": 0.5, "reduce_data": None})
    assert over["weight_min"] == 0.5
    assert over["reduce_data"] is True  # None never overrides a default
    other = resolve_resampler_options("nearest", {"radius_of_influence": 9.0})
    assert other["radius_of_influence"] == 9.0 and "epsilon" in other


def test_resample_plugin_ewa_kernel(spark):
    """The ewa/bilinear path resolves kernel defaults and aggregates
    weighted neighbors onto the target grid."""
    from trollflow2_spark.plans.pipeline import resample_plugin

    scene = spark.createDataFrame(
        [(0.0, 0.0, 10.0), (1.0, 0.0, 20.0)], "x double, y double, value double"
    )
    target = spark.createDataFrame([(0.5, 0.0)], "x double, y double")
    job = {
        "spark": spark,
        "scene": scene,
        "work_items": [{"area": "a"}],
        "resampled_scenes": {},
        "target_grid": target,
    }
    resample_plugin(job, resampler="bilinear", radius_of_influence=2.0)
    out = job["resampled_scenes"]["a"].collect()
    assert len(out) == 1
    # equidistant inverse-distance weights -> plain mean
    assert abs(out[0]["value_resampled"] - 15.0) < 1e-6
    assert out[0]["n_neighbors"] == 2


def test_format_decoration_plugin(spark, input_file, tmp_path):
    from trollflow2_spark.plans.pipeline import message_to_jobs, PLUGIN_REGISTRY

    plist = read_product_list(raw_string=PL_YAML.format(out_dir=tmp_path))
    job = list(message_to_jobs(spark, _message(input_file), plist).values())[0]
    PLUGIN_REGISTRY["format_decoration"](
        job, text="Time {start_time:%Y-%m-%d %H:%M} sat {platform_name}"
    )
    assert job["decoration_text"] == "Time 2024-01-15 12:00 sat TEST-1"
    assert job["work_items"][0]["decoration_text"] == job["decoration_text"]


def test_resolve_filesystem_paths():
    from trollflow2_spark.sources.scene import (
        SceneCreationError,
        resolve_filesystem_paths,
    )
    import pytest as _pytest

    msg = {
        "dataset": [{"uri": "/bucket/key/file.parquet"}],
        "filesystem": '{"cls": "s3fs.core.S3FileSystem", "protocol": "s3"}',
    }
    assert resolve_filesystem_paths(msg) == ["s3a://bucket/key/file.parquet"]
    # already-qualified URIs pass through
    msg2 = {"dataset": [{"uri": "file:///x.parquet"}], "filesystem": '{"protocol": "file"}'}
    assert resolve_filesystem_paths(msg2) == ["file:///x.parquet"]
    # libarchive without a target is an error like zip/tar
    with _pytest.raises(SceneCreationError):
        resolve_filesystem_paths(
            {"dataset": [{"uri": "/a.7z"}], "filesystem": '{"protocol": "libarchive"}'}
        )
    # zip/tar without a target is an error
    for proto in ("zip", "tar"):
        with _pytest.raises(SceneCreationError):
            resolve_filesystem_paths(
                {"dataset": [{"uri": f"{proto}://x.parquet"}],
                 "filesystem": '{"protocol": "%s"}' % proto}
            )


def test_zip_filesystem_roundtrip(spark, sf_dir, tmp_path):
    """A zip fsspec spec (per-dataset-entry, as posttroll emits it) is
    unpacked driver-side and the scene reads the extracted file
    (≙ tests/test_launcher.py:205-246 real-fsspec round-trip)."""
    import zipfile

    from trollflow2_spark.sources.scene import resolve_filesystem_paths

    inner = "somedir/events.parquet"
    zpath = tmp_path / "bundle.zip"
    with zipfile.ZipFile(zpath, "w") as zf:
        zf.write(os.path.join(sf_dir, "events.parquet"), arcname=inner)
    fs = {
        "cls": "fsspec.implementations.zip:ZipFileSystem",
        "protocol": "zip",
        "target_protocol": "file",
        "fo": str(zpath),
    }
    msg = {
        "type": "file",
        "dataset": [{"uri": "zip://" + inner, "filesystem": fs}],
    }
    paths = resolve_filesystem_paths(msg)
    assert len(paths) == 1 and paths[0].endswith("somedir/events.parquet")
    assert os.path.exists(paths[0])
    # and the scene actually loads from the extracted member
    df = spark.read.parquet(paths[0])
    assert df.count() > 0


def test_archive_message_is_unpacked_once(spark, sf_dir, tmp_path, monkeypatch):
    """A zip message fanned out to two priority batches is unpacked once;
    both batches read the same extracted file."""
    import zipfile

    from trollflow2_spark.sources import scene as scene_mod

    zpath = tmp_path / "bundle.zip"
    with zipfile.ZipFile(zpath, "w") as zf:
        zf.write(os.path.join(sf_dir, "events.parquet"), arcname="d/events.parquet")
    calls = []
    real = scene_mod._extract_archive_members
    monkeypatch.setattr(
        scene_mod,
        "_extract_archive_members",
        lambda *a, **k: calls.append(a) or real(*a, **k),
    )
    fs = {"protocol": "zip", "fo": str(zpath)}
    msg = {**_message("zip://d/events.parquet"), "filesystem": fs}
    plist = read_product_list(raw_string=PL_YAML.format(out_dir=tmp_path))
    jobs = message_to_jobs(spark, msg, plist)
    assert list(jobs) == [1, 999]
    assert len(calls) == 1
    (path,) = jobs[1]["input_filenames"]
    assert jobs[999]["input_filenames"] == [path] and os.path.exists(path)


def test_tar_filesystem_roundtrip(spark, sf_dir, tmp_path):
    """A tar.gz fsspec spec unpacks driver-side like zip (stdlib
    tarfile, compression auto-detected) and the member is readable."""
    import tarfile as _tarfile

    from trollflow2_spark.sources.scene import resolve_filesystem_paths

    inner = "somedir/region.parquet"
    tpath = tmp_path / "bundle.tar.gz"
    with _tarfile.open(tpath, "w:gz") as tf:
        tf.add(os.path.join(sf_dir, "region.parquet"), arcname=inner)
    fs = {
        "cls": "fsspec.implementations.tar.TarFileSystem",
        "protocol": "tar",
        "target_protocol": "file",
        "fo": str(tpath),
    }
    msg = {"type": "file", "dataset": [{"uri": "tar://" + inner, "filesystem": fs}]}
    paths = resolve_filesystem_paths(msg)
    assert len(paths) == 1 and os.path.exists(paths[0])
    assert spark.read.parquet(paths[0]).count() > 0


def test_check_sunlight_coverage_plugin(spark, input_file, tmp_path):
    """Noon at (0,0): fully lit -> a night-only band [0, 20] drops the
    item; a day band [50, 100] keeps it."""
    from trollflow2_spark.plans.pipeline import message_to_jobs, PLUGIN_REGISTRY

    plist = read_product_list(raw_string=PL_YAML.format(out_dir=tmp_path))
    job = list(message_to_jobs(spark, _message(input_file), plist).values())[0]
    job["work_items"] = [
        {"area": "day", "product": ["p"], "sunlight_min": 50.0, "sunlight_max": 100.0,
         "sunzen_check_lon": 0.0, "sunzen_check_lat": 0.0},
        {"area": "night", "product": ["p"], "sunlight_min": 0.0, "sunlight_max": 20.0,
         "sunzen_check_lon": 0.0, "sunzen_check_lat": 0.0},
        {"area": "nocheck", "product": ["p"]},
    ]
    PLUGIN_REGISTRY["check_sunlight_coverage"](job)
    areas = [i["area"] for i in job["work_items"]]
    assert areas == ["day", "nocheck"]
    assert job["work_items"][0]["area_sunlight_coverage_percent"] >= 50.0


def test_staging_zone_and_eager_writing(spark, input_file, tmp_path):
    """Outputs stage in a separate zone and move to the final dir on
    commit; eager_writing skips the persist but produces the same files."""
    from trollflow2_spark.sinks.save import save_datasets
    from trollflow2_spark.sources.scene import create_scene

    scene = create_scene(spark, [input_file])
    out_dir = str(tmp_path / "final")
    staging = str(tmp_path / "staging")
    items = [
        {"area": "a1", "product": ["ch1"], "productname": "p1",
         "format": "parquet", "writer": "parquet",
         "fname_pattern": "{productname}.{format}", "output_dir": out_dir},
    ]
    r = save_datasets(spark, scene, items, staging_zone=staging)
    assert [os.path.basename(p["filename"]) for p in r.produced] == ["p1.parquet"]
    assert os.path.exists(os.path.join(out_dir, "p1.parquet"))
    assert os.listdir(staging) == []  # staged dataset moved out

    r2 = save_datasets(spark, scene, items, eager_writing=True, use_tmp_file=False)
    assert r2.produced[0]["size_bytes"] > 0
    assert r2.produced[0]["staged_filename"] is None


def test_libarchive_spec_dispatches_by_magic(sf_dir, tmp_path):
    """libarchive specs round-trip generically: zip and tar.xz targets
    dispatch to the stdlib unpackers by magic bytes, a bare gzip file
    decompresses as a single member, and genuinely exotic formats raise
    with guidance."""
    import gzip
    import tarfile as _tarfile
    import zipfile

    from trollflow2_spark.sources.scene import (
        SceneCreationError,
        resolve_filesystem_paths,
    )

    src = os.path.join(sf_dir, "events.parquet")

    def msg_for(fo, uri):
        fs = {"cls": "fsspec.implementations.libarchive:LibArchiveFileSystem",
              "protocol": "libarchive", "fo": str(fo)}
        return {"type": "file", "dataset": [{"uri": uri, "filesystem": fs}]}

    # tar.xz target
    txz = tmp_path / "bundle.tar.xz"
    with _tarfile.open(txz, "w:xz") as tf:
        tf.add(src, arcname="inner/events.parquet")
    paths = resolve_filesystem_paths(msg_for(txz, "inner/events.parquet"))
    assert os.path.exists(paths[0]) and paths[0].endswith("inner/events.parquet")

    # zip target through the same libarchive protocol
    zpath = tmp_path / "bundle2.zip"
    with zipfile.ZipFile(zpath, "w") as zf:
        zf.write(src, arcname="z/events.parquet")
    paths = resolve_filesystem_paths(msg_for(zpath, "z/events.parquet"))
    assert os.path.exists(paths[0]) and paths[0].endswith("z/events.parquet")

    # bare gzip single member (not a tar)
    gz = tmp_path / "events.parquet.gz"
    with open(src, "rb") as fh, gzip.open(gz, "wb") as out:
        out.write(fh.read())
    paths = resolve_filesystem_paths(msg_for(gz, "events.parquet"))
    assert os.path.exists(paths[0])
    import pyarrow.parquet as pq

    assert pq.read_table(paths[0]).num_rows > 0  # decompressed intact

    # corrupt 7z (valid magic, garbage body) raises loudly
    seven = tmp_path / "x.7z"
    seven.write_bytes(b"7z\xbc\xaf\x27\x1c" + b"\x00" * 64)
    with pytest.raises(SceneCreationError):
        resolve_filesystem_paths(msg_for(seven, "whatever"))

    # real 7z archives round-trip through the repo's own parser —
    # LZMA2 solid with an encoded header, the shape 7-Zip writes
    from trollflow2_spark.sources.sevenzip import write_7z

    with open(src, "rb") as fh:
        payload = fh.read()
    sz = tmp_path / "bundle3.7z"
    sz.write_bytes(write_7z(
        [("s/events.parquet", payload), ("s/readme.txt", b"hi")],
        codec="lzma2", encode_header=True,
    ))
    paths = resolve_filesystem_paths(msg_for(sz, "s/events.parquet"))
    assert os.path.exists(paths[0])
    assert pq.read_table(paths[0]).num_rows > 0


def test_create_scene_reads_orc(spark, input_file, tmp_path):
    """ORC route: same native scan treatment as parquet (pushdown,
    pruning); the scene read back equals the parquet original."""
    orc_path = str(tmp_path / "scene_orc")
    spark.read.parquet(input_file).write.orc(orc_path)
    scene = create_scene(spark, [orc_path], reader="orc")
    assert scene.count() == 200
    assert "ch1" in scene.columns
    # filters push into the ORC scan
    plan = (
        scene.filter(scene["ch1"] > 0)._jdf.queryExecution()
        .executedPlan().toString()
    )
    assert "orc" in plan.lower()


def test_save_manifest_carries_observed_row_count(spark, tmp_path):
    """The manifest's n_rows is the gathered table's row count — no
    second count() scan — and a zero-row result flags the audit as
    empty."""
    from trollflow2_spark.sinks.save import check_results, save_datasets

    df = spark.range(37).selectExpr("id", "id * 2 AS v")
    items = [{"area": "a1", "product": None, "format": "parquet",
              "writer": "parquet", "output_dir": str(tmp_path),
              "fname_pattern": "out.{format}"}]
    res = save_datasets(spark, df, items, use_tmp_file=False)
    assert res.produced[0]["n_rows"] == 37
    empty = save_datasets(
        spark, df.where("id < 0"), items, use_tmp_file=False
    )
    assert empty.produced[0]["n_rows"] == 0
    audit = check_results(empty)
    assert audit["status"] == "empty_files"
