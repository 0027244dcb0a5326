"""One message contract: Kafka, file and socket intake share one parse,
and every reader of a message time uses message_time (ISO 8601 by
datetime.fromisoformat, no zone = UTC). Each test injects a message the
old forks read differently or crashed on."""

import datetime
import json
import os

import pytest

from trollflow2_spark.config.product_list import read_product_list
from trollflow2_spark.plans.pipeline import (
    DEFAULT_WORKERS,
    check_sunlight_coverage_plugin,
    covers_plugin,
    process_message,
    sza_check_plugin,
)
from trollflow2_spark.sources.scene import MessageTimeError, message_time
from trollflow2_spark.streaming import runner
from trollflow2_spark.streaming.runner import (
    KAFKA_WIRE_SCHEMA,
    PROCESSED_LOG,
    accept_message,
    run_streaming,
)
from tests.test_streaming import FakeKafkaBroker

PL_YAML = """
product_list:
  output_dir: "{out_dir}"
  fname_pattern: "{{platform_name}}_{{productname}}.{{format}}"
  areas:
    a1:
      areaname: a1
      priority: 1
      products:
        ch1:
          productname: p1
          formats: [{{format: parquet, writer: parquet}}]
"""

#: numbers and an object in string fields: Spark's from_json rewrote
#: them (1.5, 1.0E20, compact JSON), the file reader kept the source text
ODD_LINE = (
    '{"type": "file", "uid": "odd", "platform_name": "SAT-A", "sensor": 1.50,'
    ' "end_time": 1e20, "subject": {"a": [1, true]},'
    ' "start_time": "2024-01-15T12:00:00"}'
)


def _plist(tmp_path):
    return read_product_list(raw_string=PL_YAML.format(out_dir=tmp_path / "out"))


def _write(msg_dir, name, *lines):
    os.makedirs(msg_dir, exist_ok=True)
    with open(os.path.join(msg_dir, name), "w", encoding="utf-8") as fh:
        fh.write("\n".join(lines) + "\n")


def _record_messages(monkeypatch):
    got = []

    def fake_process_message(spark, message, product_list, workers=None):
        got.append(message)
        return {"status": "nominal"}

    monkeypatch.setattr(runner, "process_message", fake_process_message)
    return got


def test_message_time_rule():
    utc = datetime.timezone.utc
    noon = datetime.datetime(2024, 1, 15, 12, tzinfo=utc)
    assert message_time({"start_time": "2024-01-15T12:00:00"}) == noon
    assert message_time({"start_time": "2024-01-15T14:00:00+02:00"}) == noon
    assert message_time({"start_time": "20240115T120000Z"}) == noon
    assert message_time({"start_time": datetime.datetime(2024, 1, 15, 12)}) == noon
    assert message_time({"t": noon.astimezone(datetime.timezone(datetime.timedelta(hours=-3)))},
                        "t").tzinfo is utc
    assert message_time({}) is None and message_time({"end_time": None}, "end_time") is None
    for bad in ("not a time", "2024-1-5 3:04", "2024-01-15 12:00 UTC", 1705320000,
                "0001-01-01T00:00+01:00"):
        with pytest.raises(MessageTimeError, match="start_time"):
            message_time({"start_time": bad})


def test_check_metadata_aborts_on_unreadable_time(spark, tmp_path):
    message = {"type": "file", "uid": "m", "start_time": "not a time",
               "dataset": [{"uri": str(tmp_path / "missing.parquet")}]}
    summary = process_message(spark, message, _plist(tmp_path),
                              [{"fun": "check_metadata", "start_time": -60}])
    assert summary["status"] == "aborted"
    (reason,) = summary["aborted_priorities"].values()
    assert "start_time" in reason and "not a time" in reason


def test_unreadable_time_aborts_one_message_and_listener_goes_on(spark, tmp_path):
    """No on_crash: a start_time only Spark's cast read aborts its message
    in sza_check, and the next message is handled."""
    scene = str(tmp_path / "scene.parquet")
    spark.range(10).selectExpr("cast(id as double) as ch1").write.parquet(scene)
    msg_dir = str(tmp_path / "messages")

    def msg(uid, start):
        return json.dumps({"type": "file", "uid": uid, "platform_name": "SAT-A",
                           "start_time": start, "dataset": [{"uri": scene}]})

    _write(msg_dir, "m1.json", msg("bad", "2024-1-5 3:04"))
    results = []
    query = run_streaming(spark, msg_dir, _plist(tmp_path), str(tmp_path / "ckpt"),
                          workers=[{"fun": "sza_check"}, *DEFAULT_WORKERS],
                          on_result=lambda m, s: results.append((m["uid"], s)))
    try:
        _write(msg_dir, "m2.json", msg("good", "2024-01-15T12:00:00"))
        deadline = datetime.datetime.now() + datetime.timedelta(seconds=120)
        while len(results) < 2 and query.isActive and datetime.datetime.now() < deadline:
            query.awaitTermination(0.05)
        assert [(uid, s["status"]) for uid, s in results] == [
            ("bad", "aborted"), ("good", "nominal")]
        assert "2024-1-5 3:04" in results[0][1]["aborted_priorities"][1]
        assert query.isActive
    finally:
        query.stop()


def _kept(plugin, start, items):
    job = {"input_mda": {"start_time": start}, "work_items": [dict(i) for i in items]}
    plugin(job)
    return [i["area"] for i in job["work_items"]]


def test_sun_checks_read_the_utc_offset():
    """12:00+02:00 is 10:00 UTC: 36.2 deg at (0, 0), all of the grid
    around lon 100 lit (at 12:00 UTC only one point of nine is)."""
    offset, zulu = "2024-01-15T12:00:00+02:00", "2024-01-15T10:00:00Z"
    sza_items = [
        {"area": "at_angle", "sunzen_minimum_angle": 30, "sunzen_maximum_angle": 40},
        {"area": "noon_angle", "sunzen_minimum_angle": 15, "sunzen_maximum_angle": 25},
    ]
    assert _kept(sza_check_plugin, offset, sza_items) == ["at_angle"]
    assert _kept(sza_check_plugin, zulu, sza_items) == ["at_angle"]
    lit_items = [
        {"area": "lit", "sunlight_min": 50, "sunzen_check_lon": 100.0},
        {"area": "dark", "sunlight_max": 50, "sunzen_check_lon": 100.0},
    ]
    assert _kept(check_sunlight_coverage_plugin, offset, lit_items) == ["lit"]
    assert _kept(check_sunlight_coverage_plugin, zulu, lit_items) == ["lit"]


def test_covers_mixed_zone_times():
    def coverage(start, end):
        job = {"input_mda": {"start_time": start, "end_time": end},
               "work_items": [{"area": "a", "min_coverage": 0,
                               "area_extent": [-10.0, -10.0, 10.0, 10.0]}]}
        covers_plugin(job)
        return job["work_items"][0]["area_coverage_percent"]

    naive = coverage("2024-01-15T12:00:00", "2024-01-15T12:10:00")
    assert coverage("2024-01-15T12:00:00Z", "2024-01-15T12:10:00") == naive
    assert coverage(datetime.datetime(2024, 1, 15, 12),
                    "2024-01-15T13:10:00+01:00") == naive


def test_kafka_and_file_intake_deliver_identical_messages(spark, tmp_path, monkeypatch):
    """One line as a fake-broker wire record (through run_streaming's
    Kafka foreachBatch) and as a message file: identical dicts reach
    process_message. Null and non-UTF-8 record values are dropped."""
    got = _record_messages(monkeypatch)
    broker = FakeKafkaBroker()
    broker.produce("msgs", ODD_LINE, key="odd")
    broker.produce("msgs", None)
    broker.produce("msgs", b'{"type": "file", "uid": "latin1 \xe9"}')
    wire = str(tmp_path / "wire")
    broker.records_df(spark, "msgs").write.parquet(wire)
    monkeypatch.setattr(runner, "message_stream_kafka", lambda spark, **kw:
                        spark.readStream.schema(KAFKA_WIRE_SCHEMA).parquet(wire))
    query = run_streaming(spark, "kafka://b1:9092/msgs", {}, str(tmp_path / "kafka-ckpt"),
                          available_now=True)
    assert query.awaitTermination(120)
    from_kafka = list(got)

    got.clear()
    _write(str(tmp_path / "messages"), "odd.json", ODD_LINE)
    assert run_streaming(spark, str(tmp_path / "messages"), {}, str(tmp_path / "ckpt"),
                         available_now=True).awaitTermination(120)

    assert from_kafka == got
    assert len(got) == 1
    assert (got[0]["sensor"], got[0]["end_time"], got[0]["subject"]) == (
        "1.50", "1e20", '{"a": [1, true]}')


def test_age_gate_reads_iso_8601_only():
    """A fresh time in a form only Spark's cast read is dropped; a fresh
    basic-format ISO 8601 time is kept."""
    fresh = datetime.datetime.now(datetime.timezone.utc) - datetime.timedelta(minutes=5)

    def verdict(start):
        return accept_message({"type": "file", "start_time": start}, max_age_minutes=60)

    assert verdict(fresh.strftime("%Y-%m-%dT%H:%M:%S") + " UTC") is None
    assert verdict(fresh.strftime("%Y%m%dT%H%M%S")) is not None
    assert verdict(fresh.strftime("%Y-%m-%dT%H:%M:%S+00:00")) is not None
    assert verdict(None) is not None


def test_start_rewrites_the_replay_log_to_present_files(spark, tmp_path, monkeypatch):
    got = _record_messages(monkeypatch)
    msg_dir, ckpt = str(tmp_path / "messages"), str(tmp_path / "ckpt")
    _write(msg_dir, "kept.json", json.dumps({"type": "file", "uid": "kept"}))
    os.makedirs(ckpt)
    log_path = os.path.join(ckpt, PROCESSED_LOG)
    with open(log_path, "w", encoding="utf-8") as fh:
        fh.writelines(json.dumps(n) + "\n" for n in ("gone1.json", "kept.json", "gone2.json"))

    assert run_streaming(spark, msg_dir, {}, ckpt, available_now=True).awaitTermination(120)
    assert got == []
    with open(log_path, encoding="utf-8") as fh:
        assert fh.read().splitlines() == ['"kept.json"']
    assert os.listdir(ckpt) == [PROCESSED_LOG]
