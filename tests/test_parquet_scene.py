"""Parquet scenes are typed from the files' footers on the driver: the
schema equals what ``spark.read.parquet`` infers, building the scene
starts no Spark job, and an unreadable file still aborts at
``create_scene``."""

import datetime as dt
import os
from decimal import Decimal

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from trollflow2_spark.config.product_list import read_product_list
from trollflow2_spark.plans.pipeline import PLUGIN_REGISTRY, process_message
from trollflow2_spark.sources.scene import (
    SceneCreationError,
    create_scene,
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


def _corpus(spark, root):
    """name -> (paths, typed from the footer?)."""
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
    corpus = {name: ([_write(root / f"{name}.parquet", c)], True) for name, c in one.items()}
    required = pa.schema([pa.field("r", pa.int32(), nullable=False), pa.field("o", pa.float64())])
    corpus["required"] = (
        [_write(root / "required.parquet", {"r": [1, 2], "o": [None, 1.0]}, required)], True
    )
    null = {"n": pa.array([None, None], pa.null())}
    corpus["null_type"] = ([_write(root / "null.parquet", null)], False)
    corpus["spark_written"] = ([_spark_dataset(spark, root / "spark_written")], True)
    same = [_write(root / f"same_{i}.parquet", {"y": [i], "v": [float(i)]}) for i in (1, 2)]
    corpus["two_files_one_schema"] = (same, True)
    differ = [
        _write(root / "differ_1.parquet", {"y": [1], "v": [1.0]}),
        _write(root / "differ_2.parquet", {"y": [2], "w": ["x"]}),
    ]
    corpus["two_files_schemas_differ"] = (differ, False)
    flat = root / "flat_dir"
    _write(flat / "part-00000.snappy.parquet", {"y": [1, 2], "v": [1.0, 2.0]})
    _write(flat / "part-00001.snappy.parquet", {"y": [3], "v": [3.0]})
    (flat / "_SUCCESS").write_bytes(b"")
    (flat / ".part-00000.snappy.parquet.crc").write_bytes(b"not parquet")
    corpus["directory"] = ([str(flat)], True)
    nested_dir = root / "partitioned"
    _write(nested_dir / "band=1" / "part-0.parquet", {"v": [1.0]})
    corpus["directory_with_subdirectory"] = ([str(nested_dir)], False)
    corpus["nanoseconds"] = (
        [_write(root / "ns.parquet", {"t": pa.array([ts], pa.timestamp("ns"))})], False
    )
    return corpus


def test_footer_schema_equals_spark_inference(spark, tmp_path):
    """Over a type corpus the scene's schema is Spark's inferred schema,
    and the corpus pins which cases the footer types and which fall back
    to Spark's inference."""
    for name, (paths, from_footer) in _corpus(spark, tmp_path).items():
        assert (parquet_footer_schema(spark, paths) is not None) == from_footer, name
        assert create_scene(spark, paths).schema == spark.read.parquet(*paths).schema, name


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
        assert create_scene(spark, [path]).schema == spark.read.parquet(path).schema
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


PL_YAML = """
product_list:
  output_dir: "{out}"
  fname_pattern: "{{productname}}.{{format}}"
  areas:
    a1:
      areaname: a1
      products:
        v:
          productname: v
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
    plist = read_product_list(raw_string=PL_YAML.format(out=out))
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
