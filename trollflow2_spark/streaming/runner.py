"""Streaming runner: unbounded message source -> per-message pipeline.

Maps the reference's daemon loop (posttroll/ZMQ listener →
per-message subprocess → plugin chain;
``/root/reference/trollflow2/launcher.py:146-250``) to Structured
Streaming:

- the message stream is a ``readStream`` source (file/JSON locally; the
  same code takes Kafka by swapping the reader) filtered to the accepted
  message types (``launcher.py:60``);
- each micro-batch runs the batch pipeline per message row via
  ``foreachBatch`` (≙ the per-message spawned subprocess at
  ``launcher.py:237-250`` — executor isolation + task retry replace
  process isolation);
- the stale-message age gate (``check_metadata`` ``start_time: -N``,
  ``plugins/__init__.py:705-711``) maps to an event-time filter /
  watermark;
- graceful shutdown = ``query.stop()`` after the in-flight batch
  (≙ SIGTERM drain, ``launcher.py:151-157``);
- crash handlers = a listener/callback invoked on batch failure
  (≙ ``crash_handlers`` config, ``launcher.py:410-416,483-497``).

Scale notes: messages are tiny control rows — the heavy data is opened
*inside* the per-message pipeline as a normal distributed scan, so the
streaming layer itself never shuffles anything big. Checkpointing makes
the message intake exactly-once per micro-batch.
"""

from __future__ import annotations

import logging
from typing import Callable, Sequence

from pyspark.sql import DataFrame, SparkSession, functions as F

from trollflow2_spark.plans.pipeline import process_message
from trollflow2_spark.sources.scene import ACCEPTED_MESSAGE_TYPES, MESSAGE_SCHEMA

logger = logging.getLogger(__name__)


# ---------------------------------------------------------------------------
# Named crash handlers (≙ the YAML-configured ``crash_handlers`` section,
# ``launcher.py:410-416,483-499``): resolvable by name so pipelines stay
# safe-YAML (no code-exec tags).

CRASH_HANDLER_REGISTRY: dict[str, Callable[[dict, BaseException], None]] = {}


def register_crash_handler(name: str):
    def deco(fn):
        CRASH_HANDLER_REGISTRY[name] = fn
        return fn

    return deco


@register_crash_handler("log")
def crash_log(message: dict, exc: BaseException) -> None:
    """Log-and-continue (the default daemon behavior)."""
    logger.error("message %s crashed: %s", message.get("uid"), exc)


@register_crash_handler("reraise")
def crash_reraise(message: dict, exc: BaseException) -> None:
    """Fail the stream (crash-fast deployments)."""
    raise exc


def sendmail_crash_handler(config: dict) -> Callable[[dict, BaseException], None]:
    """Email-on-crash handler bound to its YAML config
    (≙ ``sendmail``, ``launcher.py:483-499``): pipes a MIME message with
    the traceback into a sendmail-compatible binary."""

    def handler(message: dict, exc: BaseException) -> None:
        import subprocess
        import traceback
        from email.mime.text import MIMEText

        settings = config["sendmail"]
        trace = "".join(traceback.format_exception(type(exc), exc, exc.__traceback__))
        body = f"{settings['header']}\n\nmessage uid: {message.get('uid')}\n\n{trace}"
        msg = MIMEText(body)
        msg["From"] = settings["from"]
        msg["To"] = settings["to"]
        msg["Subject"] = settings["subject"]
        binary = settings.get("sendmail", "/usr/bin/sendmail")
        proc = subprocess.Popen([binary, "-t", "-oi"], stdin=subprocess.PIPE)
        proc.communicate(msg.as_bytes())
        proc.terminate()

    return handler


def resolve_crash_handler(
    spec: str | dict | Callable[[dict, BaseException], None] | None,
) -> Callable[[dict, BaseException], None] | None:
    """Name / YAML-dict / callable -> crash handler. A dict spec names
    the handler and carries its config, e.g.
    ``{"name": "sendmail", "sendmail": {"from": ..., "to": ...}}``."""
    if spec is None or callable(spec):
        return spec
    if isinstance(spec, str):
        return CRASH_HANDLER_REGISTRY[spec]
    if isinstance(spec, dict):
        name = spec.get("name")
        if name == "sendmail":
            return sendmail_crash_handler(spec)
        return CRASH_HANDLER_REGISTRY[name]
    raise TypeError(f"bad crash handler spec: {spec!r}")


def message_stream(spark: SparkSession, message_dir: str) -> DataFrame:
    """The unbounded message source: JSON message files appearing in a
    directory (the local stand-in for the ZMQ subscription; production
    swaps in ``spark.readStream.format("kafka")`` — same downstream
    code). One file per trigger ≙ the reference's one-message-at-a-time
    loop."""
    stream = (
        spark.readStream.schema(MESSAGE_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .json(message_dir)
    )
    return stream.filter(F.col("type").isin(*ACCEPTED_MESSAGE_TYPES))


def message_stream_socket(
    spark: SparkSession, host: str = "localhost", port: int = 40000
) -> DataFrame:
    """Network message source: newline-delimited JSON messages over a TCP
    socket — the shape of the reference's posttroll/ZMQ subscription
    (``launcher.py:146-171``: a network listener delivering one message
    per line). Spark's built-in ``socket`` source yields the lines in a
    ``value`` column, which :func:`parse_kafka_records` parses exactly
    as it parses Kafka record values.

    Production note: the socket source is at-most-once (no replay); for
    exactly-once intake swap Kafka in — same downstream code. That
    matches the reference: a missed ZMQ message is simply gone.
    """
    raw = (
        spark.readStream.format("socket")
        .option("host", host)
        .option("port", int(port))
        .load()
    )
    return parse_kafka_records(raw)


def kafka_source_options(
    bootstrap_servers: str,
    topic: str,
    starting_offsets: str = "earliest",
) -> tuple[str, dict[str, str]]:
    """(format, options) for the Kafka message source — the exactly-once
    production replacement for the file/socket listeners. Split out as a
    pure builder so the constructed options are testable in environments
    without the Kafka connector jar or a broker."""
    return "kafka", {
        "kafka.bootstrap.servers": bootstrap_servers,
        "subscribe": topic,
        "startingOffsets": starting_offsets,
        # a compacted/expired offset should quarantine-and-continue like
        # every other intake path, not kill the daemon
        "failOnDataLoss": "false",
    }


#: The column layout Spark's Kafka reader produces (spark-sql-kafka
#: docs). The embedded fake broker used in tests builds DataFrames with
#: exactly this schema, so :func:`parse_kafka_records` is exercised
#: end-to-end without the connector jar.
KAFKA_WIRE_SCHEMA = (
    "key binary, value binary, topic string, partition int, offset long,"
    " timestamp timestamp, timestampType int"
)


def parse_kafka_records(raw: DataFrame) -> DataFrame:
    """Kafka wire records -> accepted messages: each record's ``value``
    is one JSON message (the same payload the file/socket sources
    carry), parsed against :data:`MESSAGE_SCHEMA` and filtered to
    accepted types. Shared verbatim by the real connector source, the
    socket source and the embedded-fake e2e tests — what the tests pin
    IS the production parse."""
    parsed = raw.select(
        F.from_json(F.col("value").cast("string"), MESSAGE_SCHEMA).alias("m")
    ).select("m.*")
    return parsed.filter(F.col("type").isin(*ACCEPTED_MESSAGE_TYPES))


def message_stream_kafka(
    spark: SparkSession,
    bootstrap_servers: str,
    topic: str,
    starting_offsets: str = "earliest",
) -> DataFrame:
    """Kafka message source — identical downstream code to the
    file/socket listeners (see :func:`parse_kafka_records`). Requires
    the ``spark-sql-kafka`` connector on the classpath (not bundled in
    this container; the option shape and the record parse are pinned by
    tests against an embedded fake, the wire path needs a real
    deployment).

    Unlike the socket source, Kafka offsets + checkpointing give
    exactly-once intake per micro-batch.
    """
    fmt, opts = kafka_source_options(bootstrap_servers, topic, starting_offsets)
    raw = spark.readStream.format(fmt).options(**opts).load()
    return parse_kafka_records(raw)


def parse_message_source_uri(uri: str) -> tuple[str, dict]:
    """Route a message-source URI to (kind, kwargs): a plain path is the
    file source, ``socket://host:port`` the TCP listener, and
    ``kafka://host1:9092,host2:9092/topic`` the Kafka subscription."""
    if uri.startswith("kafka://"):
        rest = uri[len("kafka://"):]
        servers, _, topic = rest.partition("/")
        if not servers or not topic:
            raise ValueError(f"kafka URI needs servers and topic: {uri!r}")
        return "kafka", {"bootstrap_servers": servers, "topic": topic}
    if uri.startswith("socket://"):
        hostport = uri[len("socket://"):]
        host, _, port = hostport.partition(":")
        return "socket", {"host": host or "localhost", "port": int(port)}
    return "file", {"message_dir": uri}


def run_streaming(
    spark: SparkSession,
    message_dir: str,
    product_list: dict,
    checkpoint_dir: str,
    workers: Sequence[dict] | None = None,
    max_age_minutes: float | None = None,
    on_result: Callable[[dict, dict], None] | None = None,
    on_crash: Callable[[dict, BaseException], None] | None = None,
    available_now: bool = False,
):
    """Start the daemon: for every incoming message run the batch
    pipeline (≙ ``Runner.run``, ``launcher.py:197-250``).

    ``max_age_minutes`` drops stale messages by ``start_time`` before any
    work happens (the watermark analog of ``check_metadata: start_time:
    -N``). ``available_now=True`` drains what is present and stops — the
    test-message/batch mode (``launcher.py:206-215``).

    Returns the StreamingQuery; callers stop it with ``query.stop()``
    (graceful: the in-flight batch completes — SIGTERM semantics).

    ``message_dir`` may be a directory path (file source), a
    ``socket://host:port`` URI (network listener, ≙ the daemon's ZMQ
    subscription), or a ``kafka://servers/topic`` URI (production
    message bus; needs the Kafka connector on the classpath).
    """
    on_crash = resolve_crash_handler(on_crash)
    kind, kwargs = parse_message_source_uri(message_dir)
    if kind == "kafka":
        stream = message_stream_kafka(spark, **kwargs)
    elif kind == "socket":
        stream = message_stream_socket(spark, **kwargs)
    else:
        stream = message_stream(spark, **kwargs)
    if max_age_minutes is not None:
        cutoff = F.current_timestamp() - F.make_dt_interval(
            mins=F.lit(float(max_age_minutes))
        )
        stream = stream.filter(
            F.col("start_time").isNull()
            | (F.to_timestamp("start_time") >= cutoff)
        )

    def handle_batch(batch_df: DataFrame, batch_id: int) -> None:
        # Messages are control rows: collecting them is O(messages), never
        # O(data). The data tables are scanned inside process_message.
        for row in batch_df.collect():
            message = {k: v for k, v in row.asDict(recursive=True).items() if v is not None}
            try:
                summary = process_message(spark, message, product_list, workers)
                logger.info(
                    "batch %d message %s: %s",
                    batch_id, message.get("uid"), summary["status"],
                )
                if on_result is not None:
                    on_result(message, summary)
            except BaseException as exc:  # noqa: BLE001 - crash handler hook
                logger.exception("message processing crashed")
                if on_crash is not None:
                    on_crash(message, exc)
                else:
                    raise

    writer = (
        stream.writeStream.foreachBatch(handle_batch)
        .option("checkpointLocation", checkpoint_dir)
        .queryName("trollflow2_spark_runner")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
