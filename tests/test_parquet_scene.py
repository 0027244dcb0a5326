"""Parquet scenes are typed from the files' footers on the driver: the
schema equals what ``spark.read.parquet`` infers, building the scene
starts no Spark job, and an unreadable file still aborts at
``create_scene``. The save gather of an unchanged parquet scene reads
its files on the driver and equals ``toArrow()``, and the scan's Spark
plan is built only when a plugin derives a frame from it; any other
frame is gathered through Spark."""

import collections
import datetime as dt
import glob
import json
import math
import os
import uuid
from decimal import Decimal

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import DataFrameReader
from pyspark.sql import types as T

from trollflow2_spark.config.product_list import read_product_list
from trollflow2_spark.plans.pipeline import PLUGIN_REGISTRY, process_message
from trollflow2_spark.sources.scene import (
    FooterScan,
    SceneCreationError,
    create_scene,
    gather_arrow,
    parquet_footer_schema,
)


def _write(path, columns, schema=None):
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(pa.table(columns, schema=schema), path)
    return str(path)


def _started_jobs(spark, group, fn):
    sc = spark.sparkContext
    sc.setJobGroup(group, "parquet scene build probe", True)
    try:
        fn()
        return sc.statusTracker().getJobIdsForGroup(group)
    finally:
        sc.setJobGroup("", "", False)


def _spark_dataset(spark, path):
    """A dataset directory as Spark writes it: part files, ``_SUCCESS``
    and ``.crc`` files, and the row-metadata footer key."""
    spark.range(5).selectExpr(
        "id",
        "cast(id as string) s",
        "array(id) a",
        "named_struct('x', id) st",
        "timestamp'2024-01-15 12:00:00' ts",
        "cast(id as decimal(10, 2)) d",
        "cast(id as tinyint) b",
    ).write.mode("overwrite").parquet(str(path))
    return str(path)


def test_parquet_scene_build_starts_no_spark_job(spark, tmp_path):
    """create_scene + scene_to_wide read footers on the driver: the
    scene's schema is known without a Spark job, for a pyarrow-written
    file and a Spark-written dataset directory alike."""
    yy, xx = np.divmod(np.arange(16, dtype="int32"), 4)
    cols = {"y": yy, "x": xx, "p00": np.linspace(0, 1, 16)}
    single = _write(tmp_path / "scene.parquet", cols)
    dataset = _spark_dataset(spark, tmp_path / "dataset.parquet")
    for path in (single, dataset):
        job = {"spark": spark, "input_filenames": [path]}

        def build():
            PLUGIN_REGISTRY["create_scene"](job, reader="parquet")
            PLUGIN_REGISTRY["scene_to_wide"](job)

        assert _started_jobs(spark, "parquet-scene", build) == [], path
    assert job["scene"].columns == ["id", "s", "a", "st", "ts", "d", "b"]
    assert job["scene"].count() == 5


def _spark_write(spark, sql, path, crc=True, **confs):
    """``sql``'s rows as Spark writes them under ``confs``; ``crc=False``
    deletes the Hadoop ``.crc`` sidecars."""
    before = {k: spark.conf.get(k) for k in confs}
    for k, v in confs.items():
        spark.conf.set(k, v)
    try:
        spark.sql(sql).coalesce(1).write.mode("overwrite").parquet(str(path))
    finally:
        for k, v in before.items():
            spark.conf.set(k, v)
    if not crc:
        for f in glob.glob(os.path.join(str(path), ".*.crc")):
            os.remove(f)
    return str(path)


def _corpus(spark, root):
    """name -> (paths, typed from the footer?, gathered on the driver?)."""
    ts = dt.datetime(2024, 1, 15, 12, 30)
    one = {
        "ints": {
            **{f"i{w}": pa.array([-1, None], getattr(pa, f"int{w}")()) for w in (8, 16, 32, 64)},
            **{f"u{w}": pa.array([1, None], getattr(pa, f"uint{w}")()) for w in (8, 16, 32, 64)},
        },
        "scalars": {
            "f": pa.array([1.5, None], pa.float32()),
            "d": pa.array([2.5, float("nan")], pa.float64()),
            "b": pa.array([True, None]),
            "s": pa.array(["a", None]),
            "bin": pa.array([b"\x00", None]),
            "date": pa.array([dt.date(2024, 1, 15), None], pa.date32()),
        },
        "timestamps": {
            f"t_{unit}_{tz or 'naive'}": pa.array([ts, None], pa.timestamp(unit, tz))
            for unit in ("ms", "us")
            for tz in (None, "UTC", "Europe/Paris")
        },
        "decimals": {
            "d5": pa.array([Decimal("1.23"), None], pa.decimal128(5, 2)),
            "d30": pa.array([Decimal("1.23"), None], pa.decimal128(30, 2)),
        },
        "nested": {
            "lst": pa.array([[1, None], None], pa.list_(pa.int32())),
            "st": pa.array(
                [{"a": 1, "b": "x"}, None], pa.struct([("a", pa.int64()), ("b", pa.string())])
            ),
            "mp": pa.array([[("k", 1.0)], None], pa.map_(pa.string(), pa.float64())),
            "deep": pa.array(
                [[{"v": [1]}], None], pa.list_(pa.struct([("v", pa.list_(pa.int16()))]))
            ),
        },
        "all_null_typed": {
            "s": pa.array([None, None], pa.string()),
            "i": pa.array([None, None], pa.int64()),
        },
    }
    corpus = {
        name: ([_write(root / f"{name}.parquet", c)], True, True) for name, c in one.items()
    }
    required = pa.schema([pa.field("r", pa.int32(), nullable=False), pa.field("o", pa.float64())])
    corpus["required"] = (
        [_write(root / "required.parquet", {"r": [1, 2], "o": [None, 1.0]}, required)], True, True
    )
    null = {"n": pa.array([None, None], pa.null())}
    corpus["null_type"] = ([_write(root / "null.parquet", null)], False, False)
    # INT96 timestamps and .crc sidecars: Spark's read
    corpus["spark_written"] = ([_spark_dataset(spark, root / "spark_written")], True, False)
    rows = (
        "select id, cast(id as string) s, array(id) a, named_struct('x', id) st,"
        " cast(id as decimal(10, 2)) d, date'2024-01-15' dt,"
        " timestamp_ntz'2024-01-15 12:00:00' tn, timestamp'2024-01-15 12:00:00' ts"
        " from range(5)"
    )
    micros = {"spark.sql.parquet.outputTimestampType": "TIMESTAMP_MICROS"}
    corpus["spark_written_crc"] = (
        [_spark_write(spark, rows, root / "spark_crc", **micros)], True, False
    )
    corpus["spark_written_no_crc"] = (
        [_spark_write(spark, rows, root / "spark_no_crc", crc=False, **micros)], True, True
    )
    # Spark's default timestamp output is INT96
    for name, ts_sql in (("int96_before_1677", "1500-01-01"), ("int96", "2024-01-15 12:00:00")):
        rows_sql = f"select timestamp'{ts_sql}' t, 1 i"
        corpus[name] = ([_spark_write(spark, rows_sql, root / name, crc=False)], True, False)
    old_date = "select date'1500-01-01' d"
    legacy = {"spark.sql.parquet.datetimeRebaseModeInWrite": "LEGACY"}
    corpus["legacy_rebased_date"] = (
        [_spark_write(spark, old_date, root / "legacy", crc=False, **legacy)], True, False
    )
    same = [_write(root / f"same_{i}.parquet", {"y": [i], "v": [float(i)]}) for i in (1, 2)]
    corpus["two_files_one_schema"] = (same, True, True)
    differ = [
        _write(root / "differ_1.parquet", {"y": [1], "v": [1.0]}),
        _write(root / "differ_2.parquet", {"y": [2], "w": ["x"]}),
    ]
    corpus["two_files_schemas_differ"] = (differ, False, False)
    flat = root / "flat_dir"
    _write(flat / "part-00000.snappy.parquet", {"y": [1, 2], "v": [1.0, 2.0]})
    _write(flat / "part-00001.snappy.parquet", {"y": [3], "v": [3.0]})
    (flat / "_SUCCESS").write_bytes(b"")
    (flat / ".part-00000.snappy.parquet.crc").write_bytes(b"not parquet")
    corpus["directory"] = ([str(flat)], True, False)
    nested_dir = root / "partitioned"
    _write(nested_dir / "band=1" / "part-0.parquet", {"v": [1.0]})
    corpus["directory_with_subdirectory"] = ([str(nested_dir)], False, False)
    corpus["nanoseconds"] = (
        [_write(root / "ns.parquet", {"t": pa.array([ts], pa.timestamp("ns"))})], False, False
    )
    return corpus


def _rows(table):
    """A table's rows as hashable tuples; NaN compares equal to NaN."""

    def norm(v):
        if isinstance(v, float) and math.isnan(v):
            return "NaN"
        if isinstance(v, dict):
            return tuple((k, norm(x)) for k, x in v.items())
        if isinstance(v, (list, tuple)):
            return tuple(norm(x) for x in v)
        return v

    return [tuple(norm(v) for v in row.values()) for row in table.to_pylist()]


def _outcome(spark, fn):
    """(result or exception type, Spark jobs started)."""
    out = []

    def run():
        try:
            out.append(fn())
        except Exception as exc:  # noqa: BLE001 - compared by type below
            out.append(type(exc))

    jobs = _started_jobs(spark, f"gather-parity-{uuid.uuid4().hex}", run)
    return out[0], len(jobs)


def _assert_gather_is_to_arrow(spark, scene, name=""):
    """The save gather equals ``toArrow()``: the same schema, nullability
    included, and the same rows (in order for one file, as a multiset
    across files), or the same exception. Returns whether the gather
    ran no Spark job, i.e. read the files on the driver."""
    cols = scene.columns
    want, _ = _outcome(spark, lambda: scene.select(*cols).toArrow())
    got, jobs = _outcome(spark, lambda: gather_arrow(scene, cols))
    if isinstance(want, type):
        assert got is want, name
        return jobs == 0
    assert got.schema.equals(want.schema, check_metadata=True), (name, got.schema, want.schema)
    if len(scene.inputFiles()) == 1:
        assert _rows(got) == _rows(want), name
    else:
        assert collections.Counter(_rows(got)) == collections.Counter(_rows(want)), name
    return jobs == 0


def test_footer_schema_equals_spark_inference(spark, tmp_path):
    """Over a type corpus the scene's schema is Spark's inferred schema
    and the save gather is ``toArrow()``'s table; the corpus pins which
    cases the footer types and which the gather reads on the driver
    (INT96, a legacy-calendar file and ``.crc`` sidecars keep Spark's
    read; the bad ``.crc`` directory fails on both routes)."""
    for name, (paths, from_footer, on_driver) in _corpus(spark, tmp_path).items():
        assert (parquet_footer_schema(spark, paths) is not None) == from_footer, name
        scene = create_scene(spark, paths)
        assert scene.schema == spark.read.parquet(*paths).schema, name
        assert _assert_gather_is_to_arrow(spark, scene, name) == on_driver, name
        assert isinstance(scene, FooterScan) == from_footer, name
        if from_footer:
            # the preset schema is the one the JVM reports once the plan is built
            jvm = T.StructType.fromJson(json.loads(scene._jdf.schema().json()))
            assert jvm == scene.schema, (name, jvm, scene.schema)


@pytest.mark.parametrize(
    "conf", ["spark.sql.parquet.binaryAsString", "spark.sql.parquet.inferTimestampNTZ.enabled"]
)
def test_footer_schema_follows_session_confs(spark, tmp_path, conf):
    """The two session confs that change how Spark types a parquet
    column change the footer schema the same way."""
    path = _write(
        tmp_path / "c.parquet",
        {"bin": pa.array([b"a"]), "t": pa.array([dt.datetime(2024, 1, 15)], pa.timestamp("us"))},
    )
    before = spark.conf.get(conf)
    spark.conf.set(conf, "false" if before == "true" else "true")
    try:
        assert parquet_footer_schema(spark, [path]) is not None
        scene = create_scene(spark, [path])
        assert scene.schema == spark.read.parquet(path).schema
        assert _assert_gather_is_to_arrow(spark, scene, conf)
    finally:
        spark.conf.set(conf, before)


def test_reader_options_fall_back_to_spark(spark, tmp_path):
    """A reader option may change inference (``mergeSchema`` merges the
    files' schemas), so with options given Spark infers the schema."""
    paths = [
        _write(tmp_path / "a.parquet", {"y": [1], "v": [1.0]}),
        _write(tmp_path / "b.parquet", {"y": [2], "w": ["x"]}),
    ]
    merged = create_scene(spark, paths, reader_kwargs={"mergeSchema": "true"})
    assert merged.columns == ["y", "v", "w"]


def test_nanosecond_timestamps_fail_at_create_scene_when_spark_rejects_them(spark, tmp_path):
    """Nanosecond timestamps are not in the map: Spark infers, so the
    file reads as bigint under ``nanosAsLong`` (the engine's session
    default) and fails at create_scene without it, as Spark alone does."""
    path = _write(tmp_path / "ns.parquet", {"t": pa.array([1], pa.timestamp("ns", "UTC"))})
    conf = "spark.sql.legacy.parquet.nanosAsLong"
    before = spark.conf.get(conf)
    spark.conf.set(conf, "false")
    try:
        with pytest.raises(SceneCreationError, match="ns.parquet"):
            create_scene(spark, [path])
    finally:
        spark.conf.set(conf, before)


def test_nanosecond_timestamps_read_as_epoch_nanoseconds(spark, tmp_path):
    """Under ``nanosAsLong`` (the engine's session default) Spark reads a
    zoned nanosecond timestamp as bigint nanoseconds since the epoch;
    the type is outside the footer map, so the gather is Spark's."""
    path = _write(
        tmp_path / "ns.parquet",
        {"t": pa.array([dt.datetime(2024, 1, 15, 12, 30)], pa.timestamp("ns", "UTC"))},
    )
    scene = create_scene(spark, [path])
    assert scene.schema == T.StructType([T.StructField("t", T.LongType(), True)])
    table, jobs = _outcome(spark, lambda: gather_arrow(scene, ["t"]))
    assert jobs == 1
    assert table.column("t").to_pylist() == [1705321800000000000]


PL_YAML = """
product_list:
  output_dir: "{out}"
  fname_pattern: "{{productname}}.{{format}}"
  areas:
    a1:
      areaname: a1
      products:
        {product}:
          productname: {product}
          formats: [{{format: parquet, writer: parquet}}]
"""


def test_unreadable_parquet_aborts_at_create_scene(spark, tmp_path, monkeypatch):
    """A missing file, a truncated parquet and a non-parquet file each
    abort at create_scene with a reason naming the file: no save (so no
    gather) runs, and no output or ``.tmp`` is left behind."""
    good = _write(
        tmp_path / "in" / "good.parquet", {"y": np.arange(64, dtype="int32"), "v": np.ones(64)}
    )
    truncated = tmp_path / "in" / "truncated.parquet"
    truncated.write_bytes(open(good, "rb").read()[:-40])
    text = tmp_path / "in" / "text.parquet"
    text.write_text("y,v\n1,1.0\n")
    missing = tmp_path / "in" / "missing.parquet"
    saves = []
    monkeypatch.setitem(PLUGIN_REGISTRY, "save_datasets", lambda job, **kw: saves.append(job))
    out = tmp_path / "out"
    plist = read_product_list(raw_string=PL_YAML.format(out=out, product="v"))
    workers = [{"fun": "create_scene"}, {"fun": "save_datasets"}]
    for bad in (missing, truncated, text):
        msg = {"type": "file", "platform_name": "TEST-1", "dataset": [{"uri": str(bad)}]}
        summary = process_message(spark, msg, plist, workers)
        assert summary["status"] == "aborted", bad
        (reason,) = summary["aborted_priorities"].values()
        assert "create_scene" in reason or "could not open" in reason, reason
        assert bad.name in reason, reason
    assert saves == []
    assert not out.exists() or os.listdir(out) == []


def test_add_overviews_levels_from_footer_typed_read(spark, tmp_path):
    """add_overviews types each parquet product from its part file's
    footer; the levels are the block means over the first numeric
    column, as with Spark's inferred schema."""
    from trollflow2_spark.sinks.save import SaveResult

    product = tmp_path / "v.parquet"
    values = np.arange(10, dtype="float64")
    part = product / "part-00000-x.snappy.parquet"
    _write(part, {"s": [str(v) for v in values], "v": values})
    (product / "_SUCCESS").write_bytes(b"")
    assert parquet_footer_schema(spark, [str(product)]) is not None
    result = SaveResult()
    result.produced.append({"filename": str(product), "writer": "parquet"})
    PLUGIN_REGISTRY["add_overviews"]({"spark": spark, "produced_files": result}, factors=[4])
    assert result.produced[0]["overview_levels"] == [4]
    level = spark.read.parquet(str(product) + ".overviews/level=4")
    got = sorted(r["v_avg"] for r in level.collect())
    assert got == [1.5, 5.5, 8.5]



def _process_counting_jobs(spark, monkeypatch, path, product, workers):
    """process_message on one scene file -> (summary, Spark jobs started
    in the batches' job groups, Spark parquet plans built, written
    values, published messages)."""
    sc = spark.sparkContext
    groups = []
    set_job_group = sc.setJobGroup

    def record(group, *args, **kwargs):
        if group:
            groups.append(group)
        return set_job_group(group, *args, **kwargs)

    monkeypatch.setattr(sc, "setJobGroup", record)
    plans = []
    parquet = DataFrameReader.parquet

    def plan(reader, *paths, **options):
        plans.append(paths)
        return parquet(reader, *paths, **options)

    monkeypatch.setattr(DataFrameReader, "parquet", plan)
    out = os.path.join(os.path.dirname(path), "out")
    plist = read_product_list(raw_string=PL_YAML.format(out=out, product=product))
    msg = {"type": "file", "platform_name": "TEST-1", "dataset": [{"uri": path}]}
    summary = process_message(spark, msg, plist, workers)
    jobs = sum(len(sc.statusTracker().getJobIdsForGroup(g)) for g in groups)
    written = pq.read_table(os.path.join(out, f"{product}.parquet")).column(product).to_pylist()
    published = [
        json.loads(line)
        for f in glob.glob(os.path.join(out, "published_messages", "*.json"))
        for line in open(f)
    ]
    return summary, jobs, len(plans), written, published


def _grid_scene(tmp_path):
    yy, xx = np.divmod(np.arange(16, dtype="int32"), 4)
    return _write(tmp_path / "scene.parquet", {"y": yy, "x": xx, "v": np.arange(16.0)})


def test_unchanged_parquet_scene_batch_starts_no_spark_job(spark, tmp_path, monkeypatch):
    """create_scene -> save_datasets -> publish on a pyarrow-written
    scene: the gather reads the file on the driver, so the batch starts
    no Spark job (one before this route existed), builds no Spark plan
    for the scan, and writes the scene's rows in file order."""
    workers = [{"fun": "create_scene"}, {"fun": "save_datasets"}, {"fun": "publish"}]
    summary, jobs, plans, written, published = _process_counting_jobs(
        spark, monkeypatch, _grid_scene(tmp_path), "v", workers
    )
    assert summary["status"] == "nominal"
    assert jobs == 0
    assert plans == 0
    assert written == list(np.arange(16.0))
    assert len(published) == 1


def test_clear_cache_without_cache_scene_builds_no_plan(spark, tmp_path, monkeypatch):
    """A clear_cache with nothing cached has nothing to release: the
    unchanged batch still builds no Spark plan for the scan."""
    workers = [{"fun": "create_scene"}, {"fun": "save_datasets"}, {"fun": "clear_cache"}]
    summary, jobs, plans, written, _published = _process_counting_jobs(
        spark, monkeypatch, _grid_scene(tmp_path), "v", workers
    )
    assert summary["status"] == "nominal"
    assert (jobs, plans) == (0, 0)
    assert written == list(np.arange(16.0))


@pytest.mark.parametrize("changed_by", ["resample_bbox", "load_composites"])
def test_changed_parquet_scene_is_gathered_by_spark(spark, tmp_path, monkeypatch, changed_by):
    """A frame a plugin replaced (a bbox crop, a composite) is not the
    footer-typed scan: the scan's Spark plan is built once, the batch's
    gather is its one Spark job, and the rows written are the plugin's."""
    from pyspark.sql import functions as F

    from trollflow2_spark.operators.transforms import COMPOSITE_REGISTRY

    if changed_by == "resample_bbox":
        product, want = "v", [0.0, 1.0, 4.0, 5.0]
        step = {"fun": "resample", "resampler": "null", "bbox": (0, 0, 1, 1)}
    else:
        product, want = "v2", [2.0 * v for v in range(16)]
        monkeypatch.setitem(COMPOSITE_REGISTRY, "v2", lambda scene: F.col("v") * 2)
        step = {"fun": "load_composites"}
    workers = [{"fun": "create_scene"}, step, {"fun": "save_datasets"}, {"fun": "publish"}]
    summary, jobs, plans, written, published = _process_counting_jobs(
        spark, monkeypatch, _grid_scene(tmp_path), product, workers
    )
    assert summary["status"] == "nominal"
    assert jobs == 1
    assert plans == 1
    assert sorted(written) == want
    assert len(published) == 1
