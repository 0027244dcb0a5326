"""Sink contract: one Spark job per save_datasets call, Spark-equal table
outputs, and no debris from failing writers, failed commits or timed-out
workers."""

import datetime
import glob
import os
import threading
import time

import pytest
from pyspark import InheritableThread
from pyspark.sql import types as T

from trollflow2_spark.plans.pipeline import PLUGIN_REGISTRY, process_message
from trollflow2_spark.sinks import save
from trollflow2_spark.sinks.save import SaveResult, callback_move, save_datasets

UTC = datetime.timezone.utc

#: int, long, a double holding NaN / Infinity / null, a non-ASCII string
#: with a quote, a bool, a timestamp and a date
FIXTURE_SCHEMA = T.StructType([
    T.StructField("i", T.IntegerType()),
    T.StructField("l", T.LongType()),
    T.StructField("d", T.DoubleType()),
    T.StructField("s", T.StringType()),
    T.StructField("b", T.BooleanType()),
    T.StructField("ts", T.TimestampType()),
    T.StructField("dt", T.DateType()),
])
FIXTURE_ROWS = [
    (1, 2**40, float("nan"), 'Zürich "north"', True,
     datetime.datetime(2024, 1, 15, 12, 0, 0, tzinfo=UTC), datetime.date(2024, 1, 15)),
    (-2, -3, float("inf"), "a,b", False,
     datetime.datetime(2024, 1, 15, 12, 0, 0, 123456, tzinfo=UTC), datetime.date(1999, 12, 31)),
    (3, 4, None, None, None, None, None),
    (5, 6, 1.0e20, "", True,
     datetime.datetime(1969, 12, 31, 23, 59, 59, 999000, tzinfo=UTC), datetime.date(1, 1, 1)),
    (7, 8, 0.000125, "plain", False, None, None),
]


def _items(out_dir, writers, product=("v",)):
    return [
        {"area": "a1", "product": list(product) if product else None,
         "productname": "p", "format": fmt, "writer": w,
         "fname_pattern": "{productname}-{writer}.{format}", "output_dir": str(out_dir)}
        for w, fmt in writers
    ]


def _part(path):
    (part,) = glob.glob(os.path.join(path, "part-*"))
    with open(part, "rb") as fh:
        return fh.read()


def _rows(df):
    return sorted(tuple(map(repr, r)) for r in df.collect())


def test_save_datasets_runs_one_spark_job(spark, tmp_path):
    scene = spark.range(100).selectExpr(
        "CAST(id % 10 AS INT) AS y", "CAST(id DIV 10 AS INT) AS x", "id * 1.5 AS v"
    )
    items = _items(tmp_path, [("parquet", "parquet"), ("json", "json"), ("csv", "csv"),
                              ("simple_image", "png"), ("cf", "nc")])
    sc = spark.sparkContext
    group = "save-datasets-one-job"
    sc.setJobGroup(group, "save_datasets probe", True)
    try:
        res = save_datasets(spark, scene, items)
        jobs = sc.statusTracker().getJobIdsForGroup(group)
    finally:
        sc.setJobGroup("", "", False)
    assert len(res.produced) == 5
    assert all(p["n_rows"] == 100 for p in res.produced)
    assert len(jobs) == 1


def test_table_outputs_read_back_like_spark_writers(spark, tmp_path):
    df = spark.createDataFrame(FIXTURE_ROWS, FIXTURE_SCHEMA)
    items = _items(tmp_path / "new", [("parquet", "parquet"), ("json", "json"), ("csv", "csv")],
                   product=None)
    res = save_datasets(spark, df, items)
    new = {p["writer"]: p["filename"] for p in res.produced}
    ref = {w: str(tmp_path / "ref" / w) for w in new}
    one = df.coalesce(1)
    one.write.parquet(ref["parquet"])
    one.write.json(ref["json"])
    one.write.option("header", "true").csv(ref["csv"])

    for path in new.values():
        names = sorted(os.listdir(path))
        assert names[0] == "_SUCCESS" and len(names) == 2
        assert names[1].startswith("part-00000-") and "-c000." in names[1]
    readers = {
        "parquet": spark.read.parquet,
        "json": spark.read.json,
        "csv": lambda p: spark.read.csv(p, header=True, inferSchema=True),
    }
    for writer, read in readers.items():
        got, want = read(new[writer]), read(ref[writer])
        assert got.schema == want.schema, writer
        assert _rows(got) == _rows(want), writer
    # the text writers' tokens are Spark's, byte for byte
    assert _part(new["json"]) == _part(ref["json"])
    assert _part(new["csv"]) == _part(ref["csv"])


def test_nested_json_matches_spark_writer(spark, tmp_path):
    df = spark.createDataFrame(
        [((1, None, [0.5, None]), ["a", None]), (None, [])],
        "st struct<i: int, s: string, xs: array<double>>, tags array<string>",
    )
    res = save_datasets(spark, df, _items(tmp_path / "new", [("json", "json")], product=None))
    ref = str(tmp_path / "ref")
    df.coalesce(1).write.json(ref)
    assert _part(res.produced[0]["filename"]) == _part(ref)


def test_java_float_text():
    cases = {1.0: "1.0", 0.001: "0.001", 0.0001: "1.0E-4", 1234567.0: "1234567.0",
             1.0e7: "1.0E7", -2.5e-10: "-2.5E-10", 123.456: "123.456", -0.0: "-0.0",
             float("-inf"): "-Infinity"}
    for v, text in cases.items():
        assert save._java_float(v) == text
    assert save._java_float(0.1, single=True) == "0.1"
    assert save._java_float(12345678.0, single=True) == "1.2345678E7"


def test_failing_writer_leaves_no_debris(spark, tmp_path, monkeypatch):
    def partial_then_fail(table, path, kwargs):
        with open(path, "wb") as fh:
            fh.write(b"half a product")
        raise OSError("injected writer failure")

    monkeypatch.setitem(save.WRITER_REGISTRY, "partial", partial_then_fail)
    scene = spark.range(4).selectExpr("id AS v")
    with pytest.raises(OSError, match="injected"):
        save_datasets(spark, scene, _items(tmp_path, [("partial", "bin")]))
    assert os.listdir(tmp_path) == []


@pytest.mark.parametrize("as_dir", [False, True])
def test_failed_commit_keeps_old_product(tmp_path, monkeypatch, as_dir):
    final = str(tmp_path / "p.out")
    staged = final + ".abcd1234.tmp"

    def put(path, body):
        if as_dir:
            os.makedirs(path)
            path = os.path.join(path, "part-" + body.decode())
        with open(path, "wb") as fh:
            fh.write(body)

    def content():
        if as_dir:
            (name,) = os.listdir(final)
        with open(os.path.join(final, name) if as_dir else final, "rb") as fh:
            return fh.read()

    put(final, b"old")
    put(staged, b"new")
    real_replace = os.replace

    def replace(src, dst):
        if src == staged:
            raise OSError("injected replace failure")
        return real_replace(src, dst)

    monkeypatch.setattr(save.os, "replace", replace)
    with pytest.raises(OSError, match="injected"):
        callback_move({"filename": final, "staged_filename": staged}, {})
    assert os.listdir(tmp_path) == ["p.out"]
    assert content() == b"old"

    monkeypatch.setattr(save.os, "replace", real_replace)
    put(staged, b"new")
    callback_move({"filename": final, "staged_filename": staged}, {})
    assert os.listdir(tmp_path) == ["p.out"]
    assert content() == b"new"


def test_timed_out_save_commits_and_publishes_nothing(spark, tmp_path, monkeypatch):
    """A writer that outlives its worker timeout wakes into a cancelled
    batch: no final product, no .tmp, no published file."""
    woke = threading.Event()

    def sleepy(table, path, kwargs):
        time.sleep(3)
        with open(path, "wb") as fh:
            fh.write(b"late product")
        woke.set()

    monkeypatch.setitem(save.WRITER_REGISTRY, "sleepy", sleepy)
    src = str(tmp_path / "in.parquet")
    spark.range(10).selectExpr("id AS y", "id AS x", "id * 0.5 AS ch1").write.parquet(src)
    out = tmp_path / "out"
    plist = {"product_list": {
        "output_dir": str(out), "fname_pattern": "{productname}.{format}",
        "areas": {"a1": {"products": {"ch1": {
            "productname": "p1", "formats": [{"format": "bin", "writer": "sleepy"}]}}}},
    }}
    workers = [{"fun": "create_scene"}, {"fun": "save_datasets", "timeout": 1},
               {"fun": "publish"}]
    before = set(threading.enumerate())
    with pytest.raises(TimeoutError):
        process_message(spark, {"type": "file", "dataset": [{"uri": src}]}, plist, workers)
    assert woke.wait(30)
    for t in set(threading.enumerate()) - before:
        if isinstance(t, InheritableThread):
            t.join(30)
            assert not t.is_alive()
    assert os.listdir(out) == []


def test_cancelled_publish_writes_nothing(tmp_path):
    cancelled = threading.Event()
    cancelled.set()
    produced = SaveResult(produced=[{"filename": "/o/a.png", "product": "p", "area": "a",
                                     "format": "png", "size_bytes": 3}])
    job = {"produced_files": produced, "input_mda": {}, "work_items": [],
           "cancelled": cancelled}
    PLUGIN_REGISTRY["publish"](job, out_dir=str(tmp_path))
    assert os.listdir(tmp_path) == []
    assert "published_to" not in job
