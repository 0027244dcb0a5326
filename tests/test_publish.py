"""Publisher sink: exact published bytes, the atomic file commit, and
the publish plugin's independence from Spark."""

import datetime
import glob
import os

import pytest

from trollflow2_spark.plans.pipeline import PLUGIN_REGISTRY
from trollflow2_spark.sinks import publish
from trollflow2_spark.sinks.publish import publisher_messages, write_messages
from trollflow2_spark.sinks.save import SaveResult

#: the lines Spark's JSON writer (createDataFrame -> to_json(struct) ->
#: write.json) emitted for ``_result()`` / ``MDA`` with one dispatch target
SPARK_WRITER_LINES = [
    r'{"topic":"/parquet/ar","message":"{\"uri\":\"/o/a_ü.parquet\",\"uid\":\"a_ü.parquet\",\"product\":\"p\",\"area\":\"ar\",\"format\":\"parquet\",\"size_bytes\":5,\"platform_name\":\"X\",\"orbit_number\":12345,\"start_time\":\"2024-01-15 12:00:00\"}"}',
    r'{"topic":"/parquet/ar","message":"{\"uri\":\"/o/a_ü.parquet\",\"uid\":\"a_ü.parquet\",\"product\":\"p\",\"area\":\"ar\",\"format\":\"parquet\",\"size_bytes\":5,\"platform_name\":\"X\",\"orbit_number\":12345,\"start_time\":\"2024-01-15 12:00:00\",\"dispatch\":\"t1\"}"}',
    r'{"topic":"/png/","message":"{\"uri\":\"/o/b.png\",\"uid\":\"b.png\",\"product\":\"q\",\"format\":\"png\",\"size_bytes\":0,\"platform_name\":\"X\",\"orbit_number\":12345,\"start_time\":\"2024-01-15 12:00:00\"}"}',
    r'{"topic":"/png/","message":"{\"uri\":\"/o/b.png\",\"uid\":\"b.png\",\"product\":\"q\",\"format\":\"png\",\"size_bytes\":0,\"platform_name\":\"X\",\"orbit_number\":12345,\"start_time\":\"2024-01-15 12:00:00\",\"dispatch\":\"t1\"}"}',
]

MDA = {
    "platform_name": "X",
    "sensor": None,
    "orbit_number": 12345,
    "start_time": datetime.datetime(2024, 1, 15, 12, 0, 0),
}


def _result():
    r = SaveResult()
    r.produced = [
        {"filename": "/o/a_ü.parquet", "product": "p", "area": "ar",
         "format": "parquet", "size_bytes": 5},
        {"filename": "/o/b.png", "product": "q", "area": None,
         "format": "png", "size_bytes": 0},
    ]
    return r


def _publish(out_dir):
    msgs = publisher_messages(_result(), base_mda=MDA, dispatch_targets=["t1"])
    return write_messages(msgs, str(out_dir))


def test_published_lines_match_spark_writer(tmp_path):
    path = _publish(tmp_path)
    with open(path, "rb") as fh:
        data = fh.read()
    assert data == "".join(line + "\n" for line in SPARK_WRITER_LINES).encode("utf-8")


def test_publish_dir_holds_only_whole_json_files(tmp_path):
    first = _publish(tmp_path)
    second = _publish(tmp_path)
    assert first != second  # one unique file per batch, never appended to
    pub_dir = os.path.join(str(tmp_path), "published_messages")
    assert sorted(os.listdir(pub_dir)) == sorted(
        os.path.basename(p) for p in (first, second)
    )
    assert all(name.endswith(".json") for name in os.listdir(pub_dir))


def test_publish_commit_failure_leaves_nothing(tmp_path, monkeypatch):
    def failing_replace(src, dst):
        assert os.path.exists(src)  # the temp file was open and written
        raise OSError("injected rename failure")

    monkeypatch.setattr(publish.os, "replace", failing_replace)
    with pytest.raises(OSError, match="injected"):
        _publish(tmp_path)
    assert os.listdir(os.path.join(str(tmp_path), "published_messages")) == []


def test_no_messages_no_file(tmp_path):
    assert write_messages(publisher_messages(SaveResult()), str(tmp_path)) is None
    assert not os.path.exists(os.path.join(str(tmp_path), "published_messages"))


def test_publish_plugin_runs_no_spark_job(spark, tmp_path):
    job = {
        "spark": spark,
        "produced_files": _result(),
        "input_mda": MDA,
        "work_items": [],
    }
    sc = spark.sparkContext
    group = "publish-no-spark-job"
    sc.setJobGroup(group, "publish plugin probe", True)
    try:
        before = sc.statusTracker().getJobIdsForGroup(group)
        PLUGIN_REGISTRY["publish"](job, out_dir=str(tmp_path))
        after = sc.statusTracker().getJobIdsForGroup(group)
    finally:
        sc.setJobGroup("", "", False)
    assert before == after == []
    files = glob.glob(os.path.join(str(tmp_path), "published_messages", "*.json"))
    assert files == [job["published_to"]]
