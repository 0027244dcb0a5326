"""Message intake as plain Python: the listener's parse and age gate,
the replay log, the handle's failure paths, and publishing that a replay
does not duplicate."""

import datetime
import json
import os
import threading
import time

import pytest

from trollflow2_spark.config.product_list import read_product_list
from trollflow2_spark.plans.pipeline import DEFAULT_WORKERS, process_message, register_plugin
from trollflow2_spark.streaming import runner
from trollflow2_spark.streaming.runner import run_streaming

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
    a2:
      areaname: a2
      priority: 2
      products:
        ch1:
          productname: p2
          formats: [{{format: parquet, writer: parquet}}]
"""

WORKERS = [*DEFAULT_WORKERS, {"fun": "publish"}]


@pytest.fixture
def scene_file(spark, tmp_path):
    path = str(tmp_path / "scene.parquet")
    spark.range(40).selectExpr("cast(id as double) as ch1").write.parquet(path)
    return path


def _plist(tmp_path):
    return read_product_list(raw_string=PL_YAML.format(out_dir=tmp_path / "out"))


def _write(msg_dir, name, *lines):
    os.makedirs(msg_dir, exist_ok=True)
    with open(os.path.join(msg_dir, name), "w", encoding="utf-8") as fh:
        fh.write("\n".join(lines) + "\n")


def _message(uid, scene_file, platform="SAT-A"):
    return json.dumps({
        "type": "file", "uid": uid, "platform_name": platform,
        "start_time": "2024-01-15T12:00:00",
        "dataset": [{"uri": scene_file, "uid": os.path.basename(scene_file)}],
    })


def _published(out_dir):
    pub = os.path.join(out_dir, "published_messages")
    out = {}
    for name in sorted(os.listdir(pub)):
        with open(os.path.join(pub, name), "rb") as fh:
            out[name] = fh.read()
    return out


def _tmp_leftovers(root):
    return [os.path.join(d, n) for d, dirs, files in os.walk(root)
            for n in dirs + files if n.endswith(".tmp")]


def test_parse_and_age_gate_keep_the_senders_object(spark, tmp_path, monkeypatch):
    """One corpus through run_streaming's listener: each accepted message
    is the JSON object on its line, every key and value as written, less
    its top-level nulls; the type and age filters drop the rest."""
    now = datetime.datetime.now(datetime.timezone.utc).replace(tzinfo=None)
    fresh = (now - datetime.timedelta(minutes=5)).isoformat()
    stale = (now - datetime.timedelta(days=2)).isoformat()
    corpus = str(tmp_path / "corpus")

    def msg(**kw):
        return json.dumps({"type": "file", "start_time": fresh, **kw})

    _write(corpus, "01_beat.json", msg(type="beat", uid="hb"))
    _write(corpus, "02_extra.json", msg(
        uid="extra", station="norrköping",
        dataset=[{"uri": "/d/a.nc", "uid": "a.nc", "size": 5, "path": None}]))
    _write(corpus, "03_numeric.json",
           '{"type": "file", "uid": "num", "platform_name": 19, "sensor": 1.50,'
           ' "subject": {"a": [1, true]}, "start_time": "%s"}' % fresh)
    _write(corpus, "04_orbit_int.json", msg(type="dataset", uid="orb-int", orbit_number=12345))
    _write(corpus, "05_orbit_str.json", msg(uid="orb-str", orbit_number="12345"))
    _write(corpus, "06_stale.json", msg(uid="stale", start_time=stale))
    _write(corpus, "07_null_time.json", msg(uid="null-time", start_time=None))
    _write(corpus, "08_bad_time.json", msg(uid="bad-time", start_time="not a time"))
    _write(corpus, "09_malformed.json", '{"type": "file", "uid": "broken"', "", "   ")
    _write(corpus, "10_two.json", msg(type="collection", uid="two-a"),
           msg(uid="two-b", start_time=fresh.replace("T", " ") + "Z"))
    _write(corpus, "11_array.json", "[%s]" % msg(uid="array"))
    _write(corpus, "12_deep.json",
           '{"type": "file", "uid": "deep", "x": %s}' % ("[" * 100_000 + "]" * 100_000))
    _write(corpus, "_skipped.json", msg(uid="underscore"))
    _write(corpus, ".hidden.json", msg(uid="dot"))

    want = [
        {"type": "file", "start_time": fresh, "uid": "extra", "station": "norrköping",
         "dataset": [{"uri": "/d/a.nc", "uid": "a.nc", "size": 5, "path": None}]},
        {"type": "file", "uid": "num", "platform_name": 19, "sensor": 1.5,
         "subject": {"a": [1, True]}, "start_time": fresh},
        {"type": "dataset", "start_time": fresh, "uid": "orb-int", "orbit_number": 12345},
        {"type": "file", "start_time": fresh, "uid": "orb-str", "orbit_number": "12345"},
        {"type": "file", "uid": "null-time"},
        {"type": "collection", "start_time": fresh, "uid": "two-a"},
        {"type": "file", "start_time": fresh.replace("T", " ") + "Z", "uid": "two-b"},
    ]

    got = []

    def fake_process_message(spark, message, product_list, workers=None):
        got.append(message)
        return {"status": "nominal"}

    monkeypatch.setattr(runner, "process_message", fake_process_message)
    query = run_streaming(spark, corpus, {}, str(tmp_path / "ckpt"),
                          max_age_minutes=60, available_now=True)
    query.awaitTermination(120)

    def key(m):
        return json.dumps(m, sort_keys=True)

    assert sorted(map(key, got)) == sorted(map(key, want))
    assert sorted(m["uid"] for m in got) == [
        "extra", "null-time", "num", "orb-int", "orb-str", "two-a", "two-b"]
    # arrival order: the two messages of one file keep their line order
    assert [m["uid"] for m in got if m["uid"].startswith("two")] == ["two-a", "two-b"]


def test_replayed_message_publishes_once(spark, scene_file, tmp_path):
    """process_message twice on one message: one published file per
    priority batch, byte for byte the same after the replay."""
    plist = _plist(tmp_path)
    message = json.loads(_message("m1", scene_file))
    out_dir = str(tmp_path / "out")

    assert process_message(spark, message, plist, WORKERS)["status"] == "nominal"
    first = _published(out_dir)
    assert process_message(spark, message, plist, WORKERS)["status"] == "nominal"
    assert len(first) == 2  # priorities 1 and 2
    assert _published(out_dir) == first
    assert _tmp_leftovers(out_dir) == []


def test_crash_before_log_append_replays_without_duplicates(spark, scene_file, tmp_path):
    """A crash after process_message returns but before the replay log
    append: the restart handles the message again, and leaves one
    product per output, one published file per batch and no .tmp."""
    plist = _plist(tmp_path)
    msg_dir, ckpt = str(tmp_path / "messages"), str(tmp_path / "ckpt")
    out_dir = str(tmp_path / "out")
    _write(msg_dir, "m1.json", _message("m1", scene_file))

    def crash(message, summary):
        raise RuntimeError("crash before the log append")

    query = run_streaming(spark, msg_dir, plist, ckpt, workers=WORKERS, on_result=crash)
    with pytest.raises(RuntimeError, match="crash before the log append"):
        query.awaitTermination(120)
    assert not query.isActive
    first = _published(out_dir)

    results = []
    query = run_streaming(spark, msg_dir, plist, ckpt, workers=WORKERS, available_now=True,
                          on_result=lambda m, s: results.append((m["uid"], s["status"])))
    query.awaitTermination(120)
    assert results == [("m1", "nominal")]
    assert sorted(os.listdir(out_dir)) == [
        "SAT-A_p1.parquet", "SAT-A_p2.parquet", "published_messages"]
    assert _published(out_dir) == first and len(first) == 2
    assert _tmp_leftovers(out_dir) == []

    # the replay was logged: a third start handles nothing
    again = []
    query = run_streaming(spark, msg_dir, plist, ckpt, workers=WORKERS, available_now=True,
                          on_result=lambda m, s: again.append(m["uid"]))
    query.awaitTermination(120)
    assert again == []


def test_uncaught_exception_ends_listener(spark, tmp_path):
    """Without on_crash, a failing message ends the listener and
    awaitTermination re-raises the exception."""

    def intake_boom(job, **kwargs):
        raise RuntimeError("intake kaboom")

    register_plugin("intake_boom")(intake_boom)
    msg_dir = str(tmp_path / "messages")
    _write(msg_dir, "m1.json", _message("m1", str(tmp_path / "missing.parquet")))
    query = run_streaming(spark, msg_dir, _plist(tmp_path), str(tmp_path / "ckpt"),
                          workers=[{"fun": "intake_boom"}])
    with pytest.raises(RuntimeError, match="intake kaboom"):
        query.awaitTermination(120)
    assert not query.isActive


def test_stop_waits_for_the_in_flight_message(spark, tmp_path):
    """stop() during a message returns only after that message is
    handled and committed to the replay log."""
    entered, release = threading.Event(), threading.Event()

    def intake_slow(job, **kwargs):
        entered.set()
        assert release.wait(120)

    register_plugin("intake_slow")(intake_slow)
    msg_dir, ckpt = str(tmp_path / "messages"), str(tmp_path / "ckpt")
    _write(msg_dir, "m1.json", _message("m1", str(tmp_path / "scene.parquet")))
    results = []
    query = run_streaming(spark, msg_dir, _plist(tmp_path), ckpt,
                          workers=[{"fun": "intake_slow"}],
                          on_result=lambda m, s: results.append(m["uid"]))
    assert entered.wait(120)
    stopper = threading.Thread(target=query.stop)
    stopper.start()
    time.sleep(0.3)
    assert stopper.is_alive() and results == []  # stop() waits for the message
    release.set()
    stopper.join(120)
    assert not stopper.is_alive()
    assert results == ["m1"] and not query.isActive

    again = []
    query = run_streaming(spark, msg_dir, _plist(tmp_path), ckpt,
                          workers=[{"fun": "intake_slow"}], available_now=True,
                          on_result=lambda m, s: again.append(m["uid"]))
    query.awaitTermination(120)
    assert again == []  # committed before stop() returned


def test_file_listener_runs_no_streaming_query_and_bounds_progress(spark, tmp_path):
    """While the file listener runs, Spark has no active streaming
    query; it keeps the last 100 progress entries, one per file."""
    msg_dir = str(tmp_path / "messages")
    for i in range(105):
        _write(msg_dir, f"hb{i:03d}.json", json.dumps({"type": "beat", "uid": f"hb{i}"}))
    query = run_streaming(spark, msg_dir, {}, str(tmp_path / "ckpt"))
    try:
        deadline = time.time() + 120
        while time.time() < deadline and (query.lastProgress or {}).get("batchId") != 104:
            time.sleep(0.05)
        assert query.isActive
        assert spark.streams.active == []
        progress = query.recentProgress
        assert [p["batchId"] for p in progress] == list(range(5, 105))
        assert all(p["numInputRows"] == 1 for p in progress)
        assert all(set(p["durationMs"]) == {"triggerExecution", "walCommit"} for p in progress)
    finally:
        query.stop()
    assert not query.isActive
