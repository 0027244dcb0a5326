"""Streaming runner tests: message files -> foreachBatch pipeline ->
outputs, using availableNow to drain deterministically."""

import json
import os

from trollflow2_spark.config.product_list import read_product_list
from trollflow2_spark.streaming.runner import run_streaming


PL_YAML = """
product_list:
  output_dir: "{out_dir}"
  fname_pattern: "{{platform_name}}_{{productname}}.{{format}}"
  areas:
    a1:
      areaname: a1
      products:
        ch1:
          productname: p1
          formats: [{{format: parquet, writer: parquet}}]
"""


def _write_message(msg_dir, name, input_file, mtype="file", platform="SAT-A"):
    os.makedirs(msg_dir, exist_ok=True)
    msg = {
        "type": mtype,
        "platform_name": platform,
        "start_time": "2024-01-15T12:00:00",
        "dataset": [{"uri": input_file, "uid": os.path.basename(input_file)}],
    }
    with open(os.path.join(msg_dir, name), "w") as fh:
        json.dump(msg, fh)


def test_streaming_drains_messages(spark, sf_dir, tmp_path):
    input_file = str(tmp_path / "scene.parquet")
    (
        spark.read.parquet(os.path.join(sf_dir, "events.parquet"))
        .limit(50)
        .withColumnRenamed("value", "ch1")
        .write.parquet(input_file)
    )
    msg_dir = str(tmp_path / "messages")
    out_dir = str(tmp_path / "out")
    _write_message(msg_dir, "m1.json", input_file, platform="SAT-A")
    _write_message(msg_dir, "m2.json", input_file, platform="SAT-B")
    _write_message(msg_dir, "m3.json", input_file, mtype="beat", platform="SAT-C")

    plist = read_product_list(raw_string=PL_YAML.format(out_dir=out_dir))
    results = []
    query = run_streaming(
        spark,
        msg_dir,
        plist,
        checkpoint_dir=str(tmp_path / "ckpt"),
        on_result=lambda msg, summary: results.append((msg["platform_name"], summary["status"])),
        available_now=True,
    )
    query.awaitTermination(120)
    assert not query.isActive

    # two accepted messages processed; 'beat' filtered out by type
    assert sorted(results) == [("SAT-A", "nominal"), ("SAT-B", "nominal")]
    produced = sorted(os.listdir(out_dir))
    assert produced == ["SAT-A_p1.parquet", "SAT-B_p1.parquet"]
    assert spark.read.parquet(os.path.join(out_dir, "SAT-A_p1.parquet")).count() == 50


def test_socket_message_stream_drains(spark, sf_dir, tmp_path):
    """Network daemon mode: messages arrive as JSON lines over a TCP
    socket (≙ the posttroll/ZMQ listener, launcher.py:146-171) and run
    the same per-message pipeline."""
    import socket
    import threading
    import time

    input_file = str(tmp_path / "scene.parquet")
    (
        spark.read.parquet(os.path.join(sf_dir, "events.parquet"))
        .limit(20)
        .withColumnRenamed("value", "ch1")
        .write.parquet(input_file)
    )
    out_dir = str(tmp_path / "out")
    messages = [
        {
            "type": "file",
            "platform_name": "SAT-S",
            "start_time": "2024-01-15T12:00:00",
            "uid": "sock1",
            "dataset": [{"uri": input_file}],
        },
        {"type": "beat", "platform_name": "SAT-X", "uid": "hb"},  # filtered
    ]

    srv = socket.socket(socket.AF_INET, socket.SOCK_STREAM)
    srv.setsockopt(socket.SOL_SOCKET, socket.SO_REUSEADDR, 1)
    srv.bind(("127.0.0.1", 0))
    srv.listen(1)
    port = srv.getsockname()[1]
    done = threading.Event()

    def serve():
        conn, _ = srv.accept()
        for m in messages:
            conn.sendall((json.dumps(m) + "\n").encode())
        done.wait(120)  # keep the connection open until the test is done
        conn.close()
        srv.close()

    threading.Thread(target=serve, daemon=True).start()

    plist = read_product_list(raw_string=PL_YAML.format(out_dir=out_dir))
    results = []
    query = run_streaming(
        spark,
        f"socket://127.0.0.1:{port}",
        plist,
        checkpoint_dir=str(tmp_path / "ckpt_sock"),
        on_result=lambda msg, summary: results.append(
            (msg["platform_name"], summary["status"])
        ),
    )
    try:
        deadline = time.time() + 120
        while time.time() < deadline and not results:
            time.sleep(0.5)
    finally:
        done.set()
        query.stop()
        query.awaitTermination(60)
    assert results == [("SAT-S", "nominal")]
    assert "SAT-S_p1.parquet" in os.listdir(out_dir)


def test_streaming_crash_handler(spark, tmp_path):
    msg_dir = str(tmp_path / "messages")
    out_dir = str(tmp_path / "out")
    _write_message(msg_dir, "bad.json", str(tmp_path / "missing.parquet"))
    plist = read_product_list(raw_string=PL_YAML.format(out_dir=out_dir))

    crashes = []

    def boom(job, **kwargs):
        raise RuntimeError("kaboom")

    from trollflow2_spark.plans.pipeline import register_plugin

    register_plugin("boom")(boom)

    query = run_streaming(
        spark,
        msg_dir,
        plist,
        checkpoint_dir=str(tmp_path / "ckpt"),
        workers=[{"fun": "boom"}],
        on_crash=lambda msg, exc: crashes.append(str(exc)),
        available_now=True,
    )
    query.awaitTermination(120)
    assert crashes == ["kaboom"]


def test_windowed_counts_with_watermark(spark, sf_dir, tmp_path):
    """Event-time tumbling windows over a file stream, drained with
    availableNow into a memory sink."""
    import os
    from pyspark.sql import functions as F
    from trollflow2_spark.extensions.stream_windows import windowed_counts

    from trollflow2_spark.tables import load_table

    src_dir = str(tmp_path / "stream_in")
    (
        load_table(spark, sf_dir, "events")
        .limit(500)
        .select("event_id", "event_type", F.col("ts").cast("timestamp").alias("ts"))
        .write.json(src_dir)
    )
    schema = "event_id bigint, event_type string, ts timestamp"
    stream = spark.readStream.schema(schema).json(src_dir)
    out = windowed_counts(stream, "ts", ["event_type"], window="1 day")
    q = (
        out.writeStream.format("memory")
        .queryName("win_counts")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    rows = spark.sql("select * from win_counts").collect()
    assert rows, "no windows produced"
    assert sum(r["n_events"] for r in rows) == 500
    assert {c for c in out.columns} == {
        "window_start", "window_end", "event_type", "n_events",
    }


def test_sessionized_counts_stream(spark, sf_dir, tmp_path):
    import os
    from pyspark.sql import functions as F
    from trollflow2_spark.extensions.stream_windows import sessionized_counts

    from trollflow2_spark.tables import load_table

    src_dir = str(tmp_path / "sess_in")
    (
        load_table(spark, sf_dir, "events")
        .limit(300)
        .select("user_id", F.col("ts").cast("timestamp").alias("ts"))
        .write.json(src_dir)
    )
    stream = spark.readStream.schema("user_id bigint, ts timestamp").json(src_dir)
    out = sessionized_counts(stream, "ts", ["user_id"], gap="30 minutes")
    q = (
        out.writeStream.format("memory")
        .queryName("sess_counts")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    rows = spark.sql("select * from sess_counts").collect()
    assert rows
    assert sum(r["n_events"] for r in rows) == 300


def test_streaming_dedup_across_batches(spark, tmp_path):
    """Exact streaming dedup: a digest seen in batch 1 is dropped when
    it reappears in batch 2 (state store carries the seen set)."""
    import json as _json
    import os
    from trollflow2_spark.extensions.stream_state import streaming_dedup

    src_dir = str(tmp_path / "dedup_in")
    os.makedirs(src_dir)
    with open(os.path.join(src_dir, "b1.json"), "w") as fh:
        fh.write(_json.dumps({"doc_id": 1, "text": "alpha beta gamma"}) + "\n")
        fh.write(_json.dumps({"doc_id": 2, "text": "delta epsilon"}) + "\n")
        fh.write(_json.dumps({"doc_id": 3, "text": "Alpha  beta GAMMA"}) + "\n")
    with open(os.path.join(src_dir, "b2.json"), "w") as fh:
        fh.write(_json.dumps({"doc_id": 4, "text": "alpha beta gamma"}) + "\n")
        fh.write(_json.dumps({"doc_id": 5, "text": "zeta eta"}) + "\n")

    stream = (
        spark.readStream.schema("doc_id bigint, text string")
        .option("maxFilesPerTrigger", 1)
        .json(src_dir)
    )
    out = streaming_dedup(stream)
    q = (
        out.writeStream.format("memory")
        .queryName("stream_dedup")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "dedup_ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    rows = spark.sql("select * from stream_dedup").collect()
    kept = sorted(r["doc_id"] for r in rows)
    # doc 3 is a normalized dup of 1 (same batch); doc 4 a cross-batch dup
    assert kept == [1, 2, 5]


def test_stateful_running_counts(spark, sf_dir, tmp_path):
    """applyInPandasWithState: counts accumulate across micro-batches."""
    import json as _json
    import os
    from trollflow2_spark.extensions.stream_state import running_counts

    src_dir = str(tmp_path / "state_in")
    os.makedirs(src_dir)
    # two files -> (with maxFilesPerTrigger=1) two micro-batches
    with open(os.path.join(src_dir, "b1.json"), "w") as fh:
        for i in range(10):
            fh.write(_json.dumps({"k": f"u{i % 2}"}) + "\n")
    with open(os.path.join(src_dir, "b2.json"), "w") as fh:
        for i in range(6):
            fh.write(_json.dumps({"k": "u0"}) + "\n")

    stream = (
        spark.readStream.schema("k string")
        .option("maxFilesPerTrigger", 1)
        .json(src_dir)
    )
    out = running_counts(stream, "k")
    q = (
        out.writeStream.format("memory")
        .queryName("running_counts")
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    rows = spark.sql("select * from running_counts").collect()
    # update mode emits one row per key per batch; the LAST row per key
    # carries the accumulated state
    final = {}
    for r in rows:
        if r["key"] not in final or r["n_batches"] > final[r["key"]]["n_batches"]:
            final[r["key"]] = r
    totals = {k: r["n_events"] for k, r in final.items()}
    assert totals == {"u0": 11, "u1": 5}
    assert final["u0"]["n_batches"] == 2  # state carried across batches


class FakeKafkaBroker:
    """Embedded in-memory stand-in for a Kafka broker, speaking the two
    DataFrame contracts the engine's Kafka integration uses: the READER
    contract (records exposed with Spark's Kafka wire schema —
    key/value binary, topic, partition, offset, timestamp) and the
    WRITER contract (consuming topic/value[/key] rows, the shape
    ``to_kafka_rows`` produces for ``publish_to_kafka``). Lets the
    message→jobs→files→publish path run end-to-end through the very
    same parse/shape code the real connector would drive."""

    def __init__(self):
        from collections import defaultdict

        self.topics = defaultdict(list)  # topic -> [(key, value), ...]

    def produce(self, topic, value, key=None):
        self.topics[topic].append((key, value))

    def records_df(self, spark, topic):
        """Reader side: the topic's records with the Kafka wire schema."""
        import datetime

        from trollflow2_spark.streaming.runner import KAFKA_WIRE_SCHEMA

        ts = datetime.datetime(2024, 1, 15, 12, 0, 0)
        rows = [
            (
                k.encode() if isinstance(k, str) else k,
                v.encode() if isinstance(v, str) else v,
                topic, 0, off, ts, 0,
            )
            for off, (k, v) in enumerate(self.topics[topic])
        ]
        return spark.createDataFrame(rows, KAFKA_WIRE_SCHEMA)

    def consume(self, kafka_rows):
        """Writer side: accept (topic, value[, key]) rows — exactly what
        ``publish_to_kafka`` hands to ``df.write.format('kafka')``."""
        for r in kafka_rows:
            self.produce(r["topic"], r["value"], r.get("key"))


def test_kafka_e2e_through_fake_broker(spark, sf_dir, tmp_path):
    """End-to-end over the Kafka-shaped source/sink pair: JSON messages
    produced into the fake broker's in-topic flow through the SAME
    record parse the connector source uses (kafka_record_lines), drive
    the batch pipeline to real output files, and the publisher messages
    — shaped by to_kafka_rows with area keying — land in the broker's
    per-file out-topics. Closes the 'shape-tested only' gap left when
    no broker exists in the sandbox."""
    from trollflow2_spark.sinks.publish import publisher_messages, to_kafka_rows
    from trollflow2_spark.plans.pipeline import process_message
    from trollflow2_spark.streaming.runner import accepted_messages, kafka_record_lines

    input_file = str(tmp_path / "scene.parquet")
    (
        spark.read.parquet(os.path.join(sf_dir, "events.parquet"))
        .limit(20)
        .withColumnRenamed("value", "ch1")
        .write.parquet(input_file)
    )
    broker = FakeKafkaBroker()
    for platform, mtype in [("SAT-A", "file"), ("SAT-B", "file"), ("SAT-C", "beat")]:
        broker.produce(
            "tf2-messages",
            json.dumps(
                {
                    "type": mtype,
                    "platform_name": platform,
                    "start_time": "2024-01-15T12:00:00",
                    "dataset": [
                        {"uri": input_file, "uid": os.path.basename(input_file)}
                    ],
                }
            ),
            key=platform,
        )

    out_dir = str(tmp_path / "out")
    plist = read_product_list(raw_string=PL_YAML.format(out_dir=out_dir))
    raw = broker.records_df(spark, "tf2-messages")
    messages = list(accepted_messages(kafka_record_lines(raw.collect())))
    # the 'beat' record is filtered by the shared parse, like file/socket
    assert sorted(m["platform_name"] for m in messages) == ["SAT-A", "SAT-B"]

    for message in messages:
        summary = process_message(spark, message, plist)
        assert summary["status"] == "nominal"
        msgs = publisher_messages(summary["result"], base_mda=message)
        broker.consume(to_kafka_rows(msgs, key_field="area"))

    assert sorted(os.listdir(out_dir)) == ["SAT-A_p1.parquet", "SAT-B_p1.parquet"]
    published = broker.topics["/parquet/a1"]
    assert len(published) == 2
    for key, value in published:
        assert key == "a1"  # partition affinity by area
        payload = json.loads(value)
        assert payload["area"] == "a1" and payload["format"] == "parquet"
        assert payload["uri"].endswith(".parquet")
        assert payload["platform_name"] in ("SAT-A", "SAT-B")


def test_kafka_source_sink_shape(spark):
    """Kafka source/sink registration is shape-pinned without a broker:
    URI routing, constructed reader options, and the sink's
    (topic, value[, key]) row contract."""
    from trollflow2_spark.sinks.publish import (
        kafka_sink_options,
        publish_to_kafka,
        to_kafka_rows,
    )
    from trollflow2_spark.streaming.runner import (
        kafka_source_options,
        parse_message_source_uri,
    )

    fmt, opts = kafka_source_options("b1:9092,b2:9092", "tf2-messages")
    assert fmt == "kafka"
    assert opts["kafka.bootstrap.servers"] == "b1:9092,b2:9092"
    assert opts["subscribe"] == "tf2-messages"
    assert opts["startingOffsets"] == "earliest"
    assert opts["failOnDataLoss"] == "false"

    assert parse_message_source_uri("kafka://b1:9092/msgs") == (
        "kafka", {"bootstrap_servers": "b1:9092", "topic": "msgs"},
    )
    assert parse_message_source_uri("socket://h:1234") == (
        "socket", {"host": "h", "port": 1234},
    )
    assert parse_message_source_uri("/tmp/messages") == (
        "file", {"message_dir": "/tmp/messages"},
    )
    import pytest as _pytest

    with _pytest.raises(ValueError):
        parse_message_source_uri("kafka://only-servers")

    fmt, opts = kafka_sink_options("b1:9092")
    assert (fmt, opts) == ("kafka", {"kafka.bootstrap.servers": "b1:9092"})
    msgs = [{"topic": "/png/areaA", "message": {"uri": "f.png", "area": "areaA"}}]
    rows = to_kafka_rows(msgs)
    assert list(rows[0]) == ["topic", "value"]
    keyed = to_kafka_rows(msgs, key_field="area")
    assert list(keyed[0]) == ["topic", "value", "key"]
    got = keyed[0]
    assert got["topic"] == "/png/areaA" and got["key"] == "areaA"
    assert json.loads(got["value"])["uri"] == "f.png"
    # the DataFrame handed to the connector builds; only the jar is absent
    from pyspark.errors import AnalysisException

    with _pytest.raises(AnalysisException, match="Failed to find data source: kafka"):
        publish_to_kafka(spark, msgs, "b1:9092", key_field="area")


def test_streaming_simhash_dedup(spark, tmp_path):
    """Near-dup streaming filter: identical token sets fingerprint
    identically (whitespace/order-insensitive), so template re-renders
    drop across batches while genuinely different docs pass."""
    import json as _json

    from trollflow2_spark.extensions.stream_state import streaming_simhash_dedup

    src_dir = str(tmp_path / "shdedup_in")
    os.makedirs(src_dir)
    with open(os.path.join(src_dir, "b1.json"), "w") as fh:
        fh.write(_json.dumps({"doc_id": 1, "text": "alpha beta gamma"}) + "\n")
        fh.write(_json.dumps({"doc_id": 2, "text": "delta epsilon zeta"}) + "\n")
    with open(os.path.join(src_dir, "b2.json"), "w") as fh:
        # same tokens, different order/spacing -> same fingerprint
        fh.write(_json.dumps({"doc_id": 3, "text": "gamma  alpha beta"}) + "\n")
        fh.write(_json.dumps({"doc_id": 4, "text": "totally different words"}) + "\n")

    stream = (
        spark.readStream.schema("doc_id bigint, text string")
        .option("maxFilesPerTrigger", 1)
        .json(src_dir)
    )
    out = streaming_simhash_dedup(stream)
    q = (
        out.writeStream.format("memory")
        .queryName("stream_shdedup")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "shdedup_ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    rows = spark.sql("select * from stream_shdedup").collect()
    kept = sorted(r["doc_id"] for r in rows)
    assert kept == [1, 2, 4]  # doc 3 is a token-set dup of doc 1


def test_streaming_url_dedup_on_canonical_key(spark, tmp_path):
    """Crawl-frontier streaming dedup keyed on the CANONICAL URL:
    tracking-param/case/port variants of one page collapse to a single
    kept row across micro-batches (the canonicalizer runs in-stream as
    a Column chain, then dropDuplicates holds the seen set in the state
    store)."""
    import json as _json
    import os

    from pyspark.sql import functions as F

    from trollflow2_spark.extensions.warc import canonicalize_url

    src_dir = str(tmp_path / "frontier_in")
    os.makedirs(src_dir)
    with open(os.path.join(src_dir, "b1.json"), "w") as fh:
        fh.write(_json.dumps(
            {"doc_id": 1, "url": "HTTP://A.com:80/p?utm_source=x&k=1"}) + "\n")
        fh.write(_json.dumps(
            {"doc_id": 2, "url": "http://b.com/q"}) + "\n")
    with open(os.path.join(src_dir, "b2.json"), "w") as fh:
        fh.write(_json.dumps(
            {"doc_id": 3, "url": "http://A.COM/p?k=1&fbclid=z"}) + "\n")
        fh.write(_json.dumps(
            {"doc_id": 4, "url": "http://c.com/r"}) + "\n")

    stream = (
        spark.readStream.schema("doc_id bigint, url string")
        .option("maxFilesPerTrigger", 1)
        .json(src_dir)
    )
    out = stream.withColumn(
        "canonical_url", canonicalize_url(F.col("url"))
    ).dropDuplicates(["canonical_url"])
    q = (
        out.writeStream.format("memory")
        .queryName("stream_url_dedup")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "frontier_ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    rows = spark.sql("select * from stream_url_dedup").collect()
    kept = sorted(r["doc_id"] for r in rows)
    # doc 3 is the same page as doc 1 after canonicalization
    assert kept == [1, 2, 4]


def test_host_rate_limit_token_bucket(spark, tmp_path):
    """Two micro-batches through the per-host politeness gate: burst
    capacity admits 4 of 6 first-batch URLs, the refill admits 2 more
    next batch; decisions are deterministic (sorted order) and the
    overflow is deferred, not dropped."""
    import json
    import time

    from trollflow2_spark.extensions.stream_state import host_rate_limit

    src = tmp_path / "frontier"
    src.mkdir()
    schema = "host string, url string"
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .json(str(src))
    )
    out = host_rate_limit(stream, capacity=4, refill=2)
    with open(src / "b1.json", "w") as f:
        for i in range(6):
            f.write(json.dumps({"host": "a", "url": f"u{i}"}) + "\n")
        f.write(json.dumps({"host": "b", "url": "x0"}) + "\n")
    q = (
        out.writeStream.format("memory")
        .queryName("rate_limit")
        .outputMode("update")
        .trigger(processingTime="500 milliseconds")
        .start()
    )
    try:
        def rows_now():
            return spark.sql("select * from rate_limit").collect()

        deadline = time.time() + 120
        while time.time() < deadline and len(rows_now()) < 7:
            time.sleep(0.5)
        rows = {(r["host"], r["url"]): r for r in rows_now()}
        assert len(rows) == 7
        a_admitted = sorted(u for (h, u), r in rows.items()
                            if h == "a" and r["admitted"] == 1)
        assert a_admitted == ["u0", "u1", "u2", "u3"]  # sorted-order burst
        assert sorted(u for (h, u), r in rows.items()
                      if h == "a" and r["admitted"] == 0) == ["u4", "u5"]
        assert rows[("b", "x0")]["admitted"] == 1
        # batch 2: the deferred urls re-enqueue; refill admits exactly 2
        with open(src / "b2.json", "w") as f:
            f.write(json.dumps({"host": "a", "url": "u4"}) + "\n")
            f.write(json.dumps({"host": "a", "url": "u5"}) + "\n")
            f.write(json.dumps({"host": "a", "url": "u6"}) + "\n")
        while time.time() < deadline and len(rows_now()) < 10:
            time.sleep(0.5)
        rows2 = rows_now()[7:] if len(rows_now()) >= 10 else []
        assert len(rows2) == 3, f"expected a second batch, got {rows_now()}"
        admitted2 = sorted(r["url"] for r in rows2 if r["admitted"] == 1)
        deferred2 = sorted(r["url"] for r in rows2 if r["admitted"] == 0)
        assert admitted2 == ["u4", "u5"] and deferred2 == ["u6"]
    finally:
        q.stop()


def test_host_rate_limit_timeout_expires_state():
    """A timed-out invocation (idle host) must REMOVE the state and
    emit nothing.  The pre-fix behavior refilled tokens, re-armed the
    timeout, and yielded a spurious empty row — unbounded state
    accretion for the crawl frontier's long tail of one-shot hosts."""
    import pandas as pd

    from trollflow2_spark.extensions.stream_state import _rate_limit_kernel

    class FakeState:
        def __init__(self):
            self.exists = True
            self.hasTimedOut = True
            self.get = (3, 7)
            self.removed = False
            self.updated = None
            self.timeout_rearmed = False

        def remove(self):
            self.removed = True

        def update(self, v):
            self.updated = v

        def setTimeoutDuration(self, ms):
            self.timeout_rearmed = True

    kernel = _rate_limit_kernel(capacity=4, refill=2,
                                timeout="ProcessingTimeTimeout")
    state = FakeState()
    out = list(kernel(("idle-host",), iter([]), state))
    assert out == []                    # no spurious empty output row
    assert state.removed                # state actually expired
    assert state.updated is None        # no refill on the timeout path
    assert not state.timeout_rearmed    # and no re-armed timeout

    # sanity: a LIVE invocation still admits and re-arms
    live = FakeState()
    live.hasTimedOut = False
    live.exists = False
    out = list(kernel(("h",), iter([pd.DataFrame({"url": ["u1", "u0"]})]),
                      live))
    assert len(out) == 1 and list(out[0]["url"]) == ["u0", "u1"]
    assert live.updated == (2, 2) and live.timeout_rearmed


def test_stream_stream_join_attribution(spark, tmp_path):
    """Watermarked stream-stream join: clicks attribute to the
    impression they follow within the delay bound; a click outside
    the bound never matches; left_outer emits the unmatched
    impression with NULL click columns once the watermark passes."""
    import json as _json

    from pyspark.sql import types as T

    from trollflow2_spark.extensions.stream_windows import stream_stream_join

    imp_dir, clk_dir = str(tmp_path / "imp"), str(tmp_path / "clk")
    os.makedirs(imp_dir), os.makedirs(clk_dir)
    schema = T.StructType(
        [
            T.StructField("ad", T.StringType()),
            T.StructField("ts", T.TimestampType()),
            T.StructField("id", T.LongType()),
        ]
    )

    def write(d, name, rows):
        with open(os.path.join(d, name), "w") as fh:
            for r in rows:
                fh.write(_json.dumps(r) + "\n")

    write(imp_dir, "i.json", [
        {"ad": "a", "ts": "2024-01-01T10:00:00", "id": 1},
        {"ad": "b", "ts": "2024-01-01T10:01:00", "id": 2},   # never clicked
        {"ad": "c", "ts": "2024-01-01T10:02:00", "id": 3},   # clicked too late
        # sentinel far in the future: advances the watermark so the
        # left-outer NULL rows for ids 2 and 3 actually emit
        {"ad": "zz", "ts": "2024-01-01T13:00:00", "id": 99},
    ])
    write(clk_dir, "c.json", [
        {"ad": "a", "ts": "2024-01-01T10:05:00", "id": 101},  # within 15 min
        {"ad": "c", "ts": "2024-01-01T11:30:00", "id": 103},  # outside bound
        {"ad": "zz", "ts": "2024-01-01T13:00:01", "id": 199},
    ])

    imps = spark.readStream.schema(schema).json(imp_dir)
    clks = spark.readStream.schema(schema).json(clk_dir)
    joined = stream_stream_join(
        imps, clks, key="ad", left_ts="ts", right_ts="ts",
        watermark="10 minutes", max_delay="15 minutes", how="left_outer",
    )
    q = (
        joined.writeStream.format("memory")
        .queryName("attrib")
        .outputMode("append")
        .trigger(availableNow=True)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    q.awaitTermination(120)
    rows = {
        r["id"]: r["r_id"] for r in spark.table("attrib").collect()
    }
    assert rows[1] == 101      # attributed within the bound
    assert rows[2] is None     # no click at all -> NULL right side
    assert rows[3] is None     # click outside max_delay -> unmatched


def test_drift_replay_equals_one_pass(spark):
    """Micro-batched drift state merged across any batch split must
    equal the one-pass drift_psi bit-for-bit (integer bucket counts
    merge exactly; the finishing float chain is shared code)."""
    from trollflow2_spark.extensions.profile import drift_psi
    from trollflow2_spark.extensions.snapshot import drift_replay_state

    ref_rows = [("a", float(v % 90)) for v in range(120)]
    cur_rows = [("a", float(v % 90) + 25.0) for v in range(150)]
    ref = spark.createDataFrame(ref_rows, ["g", "v"])
    cur = spark.createDataFrame(cur_rows, ["g", "v"])
    one_pass = drift_psi(
        ref, cur, "v", ["g"], bucket_width=20.0, n_buckets=8
    ).collect()[0]
    batches = [
        [{"g": g, "v": v} for g, v in cur_rows[i::3]] for i in range(3)
    ]
    replayed = drift_replay_state(
        spark, ref, batches, "g string, v double",
        value_col="v", group_cols=["g"], bucket_width=20.0, n_buckets=8,
    ).collect()[0]
    assert replayed.asDict() == one_pass.asDict()
