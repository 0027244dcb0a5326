"""One message contract: Kafka, file and socket intake share one decode
and parse, a message is the JSON object its sender wrote, and every
reader of a message time uses message_time (ISO 8601 by
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

#: numbers and an object where a Spark schema once read text: every
#: source delivers them as the JSON values the sender wrote
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
        1.5, 1e20, {"a": [1, True]})


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


LATIN1_LINE = b'{"type": "file", "uid": "latin1 \xe9"}'
VALID_LINE = b'{"type": "file", "uid": "valid"}'


def test_undecodable_line_is_dropped_from_file_and_socket(spark, tmp_path, monkeypatch):
    """A Latin-1 byte makes its line malformed, as a non-UTF-8 Kafka
    record is: a message file handles only its valid line, a socket
    drops the line, and a leading UTF-8 BOM is still stripped."""
    import socket
    import threading

    got = _record_messages(monkeypatch)
    msg_dir = tmp_path / "messages"
    msg_dir.mkdir()
    (msg_dir / "a.json").write_bytes(LATIN1_LINE + b"\n" + VALID_LINE + b"\n")
    (msg_dir / "b.json").write_bytes(b"\xef\xbb\xbf" + VALID_LINE.replace(b"valid", b"bom"))
    assert run_streaming(spark, str(msg_dir), {}, str(tmp_path / "ckpt"),
                         available_now=True).awaitTermination(120)
    assert sorted(m["uid"] for m in got) == ["bom", "valid"]

    got.clear()
    srv = socket.socket(socket.AF_INET, socket.SOCK_STREAM)
    srv.bind(("127.0.0.1", 0))
    srv.listen(1)

    def serve():
        conn, _ = srv.accept()
        conn.sendall(LATIN1_LINE + b"\n" + VALID_LINE + b"\n")
        conn.close()
        srv.close()

    threading.Thread(target=serve, daemon=True).start()
    query = run_streaming(spark, f"socket://127.0.0.1:{srv.getsockname()[1]}", {},
                          str(tmp_path / "ckpt_sock"), available_now=True)
    assert query.awaitTermination(120)
    assert [m["uid"] for m in got] == ["valid"]


def _scene(spark, tmp_path, cols="cast(id as double) as ch1"):
    path = str(tmp_path / "scene.parquet")
    spark.range(64).selectExpr(cols).write.parquet(path)
    return path


def _through_daemon(spark, tmp_path, message, product_list, workers):
    """One message file through run_streaming(available_now=True): the
    summary of the one message it handles."""
    msg_dir = str(tmp_path / "messages")
    _write(msg_dir, "m.json", json.dumps(message))
    summaries = []
    assert run_streaming(spark, msg_dir, product_list, str(tmp_path / "ckpt"),
                         workers=workers, available_now=True,
                         on_result=lambda m, s: summaries.append(s)).awaitTermination(120)
    (summary,) = summaries
    return summary


def test_daemon_gates_on_a_key_outside_the_old_schema(spark, tmp_path):
    message = {"type": "file", "uid": "nrt", "platform_name": "SAT-A", "variant": "NRT",
               "dataset": [{"uri": _scene(spark, tmp_path)}]}
    summary = _through_daemon(spark, tmp_path, message, _plist(tmp_path),
                              [{"fun": "check_metadata", "variant": ["DR"]}, *DEFAULT_WORKERS])
    assert summary["status"] == "aborted"
    (reason,) = summary["aborted_priorities"].values()
    assert "variant" in reason and "NRT" in reason


def test_daemon_resamples_nearest_from_the_message_source_area(spark, tmp_path):
    """source_area reaches the job: the mapped nearest path runs from the
    daemon and writes the rows process_message writes for the same dict."""
    from trollflow2_spark.operators.resample import GridArea, register_area

    register_area(GridArea("src_daemon", width=8, height=8, dx=1.0, dy=1.0))
    register_area(GridArea("tgt_daemon", width=4, height=4, dx=2.0, dy=2.0))
    scene = _scene(spark, tmp_path, ["cast(id % 8 as double) + 0.5 as x",
                                     "cast(id div 8 as double) + 0.5 as y",
                                     "cast(id as double) as v"])
    message = {"type": "file", "uid": "m", "source_area": "src_daemon",
               "dataset": [{"uri": scene}]}
    workers = [
        {"fun": "create_scene"},
        {"fun": "resample", "resampler": "nearest", "radius_of_influence": 2.0},
        {"fun": "save_datasets"},
    ]

    def plist(out):
        return read_product_list(raw_string=f"""
product_list:
  output_dir: "{tmp_path / out}"
  fname_pattern: "{{uid}}_{{productname}}.{{format}}"
  areas:
    tgt_daemon:
      products:
        v:
          productname: v
          formats: [{{format: parquet, writer: parquet}}]
""")

    assert _through_daemon(spark, tmp_path, message, plist("daemon"), workers)["status"] == (
        "nominal")
    assert process_message(spark, dict(message), plist("direct"), workers)["status"] == (
        "nominal")
    daemon, direct = (
        sorted(spark.read.parquet(str(tmp_path / out / "m_v.parquet")).collect())
        for out in ("daemon", "direct"))
    assert len(direct) == 16 and daemon == direct


def test_daemon_aliases_a_list_sensor_element_wise(spark, tmp_path):
    """metadata_alias maps a posttroll list sensor element by element; the
    check_metadata after it and the published message see the mapped list."""
    message = {"type": "file", "uid": "m", "platform_name": "SAT-A", "sensor": ["avhrr/3"],
               "dataset": [{"uri": _scene(spark, tmp_path)}]}
    workers = [
        {"fun": "metadata_alias", "sensor": {"avhrr/3": "avhrr-3"}},
        {"fun": "check_metadata", "sensor": [["avhrr-3"]]},
        *DEFAULT_WORKERS,
        {"fun": "publish"},
    ]
    summary = _through_daemon(spark, tmp_path, message, _plist(tmp_path), workers)
    assert summary["status"] == "nominal"
    pub_dir = tmp_path / "out" / "published_messages"
    (published,) = [json.loads(line) for f in pub_dir.iterdir()
                    for line in f.read_text(encoding="utf-8").splitlines()]
    assert json.loads(published["message"])["sensor"] == ["avhrr-3"]


def test_list_sensor_is_published_as_a_json_array(tmp_path):
    from trollflow2_spark.sinks.publish import publisher_messages, write_messages
    from trollflow2_spark.sinks.save import SaveResult

    result = SaveResult()
    result.produced = [{"filename": "/o/a.parquet", "product": "p", "area": "ar",
                        "format": "parquet", "size_bytes": 5}]
    msgs = publisher_messages(result, base_mda={"platform_name": "X",
                                                "sensor": ["viirs", "avhrr-3"]})
    with open(write_messages(msgs, str(tmp_path)), "rb") as fh:
        assert fh.read() == (
            rb'{"topic":"/parquet/ar","message":"{\"uri\":\"/o/a.parquet\",\"uid\":\"a.parquet\",'
            rb'\"product\":\"p\",\"area\":\"ar\",\"format\":\"parquet\",\"size_bytes\":5,'
            rb'\"platform_name\":\"X\",\"sensor\":[\"viirs\",\"avhrr-3\"]}"}' b"\n")
