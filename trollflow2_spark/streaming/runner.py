"""Streaming runner: unbounded message source -> per-message pipeline.

Maps the reference's daemon loop (posttroll/ZMQ listener → message
queue → per-message plugin chain; ``trollflow2/launcher.py:146-250``):

- file and socket intake is one plain-Python listener thread (≙ the
  reference's listener feeding its message queue,
  ``launcher.py:146-183``). It polls a directory in arrival order, or
  reads JSON lines from a TCP socket, and hands each accepted message to
  :func:`process_message` (≙ the per-message subprocess at
  ``launcher.py:237-250`` — executor isolation + task retry replace
  process isolation). Messages are control rows, so no Spark job runs
  before the pipeline opens the message's data;
- every source shares one decode, parse and gate: :func:`decode_line`
  reads a line's bytes as strict UTF-8, :func:`parse_message_line`
  returns the JSON object its sender wrote (every key reaches the job's
  ``input_mda``, as the whole posttroll message does in
  ``launcher.py:276-300``), and :func:`accept_message` keeps the accepted
  message types (``launcher.py:60``) and applies the stale-message age
  gate (``check_metadata`` ``start_time: -N``,
  ``plugins/__init__.py:705-711``);
- Kafka stays a Structured Streaming source (the connector is its only
  client); its ``foreachBatch`` collects each record's ``value`` bytes
  into the same decode, parse, gate and per-message handler;
- replay: file intake appends a file's name to a log under
  ``checkpoint_dir`` after its messages are handled, so a crash replays
  the file in flight (at-least-once); product commits and publish file
  names are idempotent, so the replay rewrites the same outputs;
- graceful shutdown = ``stop()`` after the in-flight file
  (≙ SIGTERM drain, ``launcher.py:151-157``);
- crash handlers = a callback invoked on message failure
  (≙ ``crash_handlers`` config, ``launcher.py:410-416,483-497``).

Scale notes: messages are tiny control rows — the heavy data is opened
*inside* the per-message pipeline as a normal distributed scan, so the
intake itself never touches anything big.
"""

from __future__ import annotations

import codecs
import collections
import functools
import json
import logging
import os
import re
import socket
import threading
import time
from datetime import datetime, timedelta, timezone
from typing import Callable, Iterable, Iterator, Sequence

from pyspark import InheritableThread
from pyspark.sql import DataFrame, Row, SparkSession

from trollflow2_spark.plans.pipeline import process_message
from trollflow2_spark.sources.scene import ACCEPTED_MESSAGE_TYPES, MessageTimeError
from trollflow2_spark.sources.scene import message_time

logger = logging.getLogger(__name__)

#: pause between two listings of an idle message directory, and the
#: socket read timeout after which the listener checks for ``stop()``
POLL_INTERVAL_S = 0.01
#: how long a socket listener waits for its connection
CONNECT_TIMEOUT_S = 30.0
#: progress entries a listener keeps (a StreamingQuery keeps 100 too)
PROGRESS_KEPT = 100
#: the replay log under ``checkpoint_dir``: one JSON-encoded file name a line
PROCESSED_LOG = "processed-files.log"


# ---------------------------------------------------------------------------
# One parse and gate for every source: a line is the JSON object its
# sender wrote, then the type filter and the age gate.

_LINE_BREAK = re.compile(rb"\r\n|\r|\n")


def decode_line(data: bytes | None) -> str:
    """One line's bytes as strict UTF-8 text, the one decode every source
    uses. Absent or undecodable bytes give ``""``, a malformed line that
    :func:`parse_message_line` drops."""
    try:
        return bytes(data).decode("utf-8")
    except (TypeError, UnicodeDecodeError):
        return ""


def parse_message_line(line: str) -> dict | None:
    """One line -> the JSON object on it, every key and value as its
    sender wrote it, or ``None`` when the line is not exactly one JSON
    object (malformed, a top-level array or scalar, or nested too deep to
    decode). Times stay text, read by :func:`message_time` where they are
    used."""
    try:
        message = json.loads(line)
    except (ValueError, RecursionError):
        return None
    return message if isinstance(message, dict) else None


def accept_message(row: dict, max_age_minutes: float | None = None) -> dict | None:
    """The gate every source shares: the message with its ``None`` fields
    dropped, or ``None`` when its ``type`` is not an accepted message
    type or, with ``max_age_minutes``, its ``start_time`` is older than
    that, read by :func:`message_time` (ISO 8601, no zone = UTC): a
    missing ``start_time`` passes, an unreadable one is dropped."""
    if row.get("type") not in ACCEPTED_MESSAGE_TYPES:
        return None
    if max_age_minutes is not None:
        try:
            ts = message_time(row)
        except MessageTimeError:
            return None
        cutoff = datetime.now(timezone.utc) - timedelta(minutes=float(max_age_minutes))
        if ts is not None and ts < cutoff:
            return None
    return {k: v for k, v in row.items() if v is not None}


def accepted_messages(lines: Iterable[str], max_age_minutes: float | None = None) -> Iterator[dict]:
    """Each line through :func:`parse_message_line` then
    :func:`accept_message`: the accepted messages, in line order."""
    for line in lines:
        message = parse_message_line(line)
        if message is not None:
            message = accept_message(message, max_age_minutes)
        if message is not None:
            yield message


def _lines(data: bytes) -> list[str]:
    """The non-blank lines of ``data`` (split at ``\\n``, ``\\r\\n`` or
    ``\\r``), each through :func:`decode_line`: one undecodable line
    does not take the others with it."""
    return [decode_line(line) for line in _LINE_BREAK.split(data) if line.strip()]


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
#: exactly this schema, so :func:`kafka_record_lines` is exercised
#: end-to-end without the connector jar.
KAFKA_WIRE_SCHEMA = (
    "key binary, value binary, topic string, partition int, offset long,"
    " timestamp timestamp, timestampType int"
)


def kafka_record_lines(records: Iterable[Row]) -> list[str]:
    """Kafka wire records -> message lines: each record's ``value``
    through :func:`decode_line`, so a null or non-UTF-8 ``value`` is a
    malformed line and is dropped."""
    return [decode_line(record["value"]) for record in records]


def message_stream_kafka(
    spark: SparkSession,
    bootstrap_servers: str,
    topic: str,
    starting_offsets: str = "earliest",
) -> DataFrame:
    """Kafka message source: the connector's raw records. Each batch's
    ``value`` texts (:func:`kafka_record_lines`) go through the parse,
    gate and clock the file and socket listeners use. Requires the
    ``spark-sql-kafka`` connector on the classpath (not bundled here; the
    option shape and the record parse are pinned by tests against an
    embedded fake, the wire path needs a real deployment).

    Unlike the socket listener, Kafka offsets + checkpointing replay
    intake per micro-batch.
    """
    fmt, opts = kafka_source_options(bootstrap_servers, topic, starting_offsets)
    return spark.readStream.format(fmt).options(**opts).load()


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


# ---------------------------------------------------------------------------
# The listener


def _message_handler(
    spark: SparkSession,
    product_list: dict,
    workers: Sequence[dict] | None,
    max_age_minutes: float | None,
    on_result: Callable[[dict, dict], None] | None,
    on_crash: Callable[[dict, BaseException], None] | None,
) -> Callable[[list[str], int], None]:
    """The step every source runs on a batch of message lines: each
    message :func:`accepted_messages` keeps goes to :func:`process_message`,
    then ``on_result``; on failure ``on_crash``, or without one the
    exception propagates and ends the intake. ``process_message`` is
    looked up in this module at each call, so a wrapper installed on the
    module sees every message."""

    def handle(lines: list[str], batch_id: int) -> None:
        for message in accepted_messages(lines, max_age_minutes):
            try:
                summary = process_message(spark, message, product_list, workers)
                logger.info(
                    "batch %d message %s: %s", batch_id, message.get("uid"), summary["status"]
                )
                if on_result is not None:
                    on_result(message, summary)
            except BaseException as exc:  # noqa: BLE001 - crash handler hook
                logger.exception("message processing crashed")
                if on_crash is None:
                    raise
                on_crash(message, exc)

    return handle


#: one unit of intake: (start time, its lines, the commit that follows
#: handling them)
Batch = tuple[float, list[str], Callable[[], None]]


def _listing(message_dir: str) -> dict[str, os.DirEntry]:
    """The regular files of ``message_dir`` by name, less the names
    Spark's file source skips (a leading ``.`` or ``_``); a missing
    directory lists as empty."""
    try:
        with os.scandir(message_dir) as it:
            return {e.name: e for e in it if e.name[0] not in "._" and e.is_file()}
    except FileNotFoundError:
        return {}


def _file_batches(
    stop: threading.Event, message_dir: str, checkpoint_dir: str, drain: bool
) -> Iterator[Batch]:
    """File intake: each new file in ``message_dir`` is one batch of its
    non-blank lines, oldest first by ``(st_mtime_ns, name)``. A batch's
    commit appends the file's name to the replay log, and a restart skips
    the logged names. The set of handled names keeps only names still in
    the directory, and a start rewrites the log to that set, so neither
    is ever larger than the directory. ``drain`` handles the files of the
    first listing, then ends."""
    os.makedirs(checkpoint_dir, exist_ok=True)
    log_path = os.path.join(checkpoint_dir, PROCESSED_LOG)
    names = _listing(message_dir)
    done: set[str] = set()
    if os.path.exists(log_path):
        with open(log_path, encoding="utf-8") as fh:
            for line in fh:
                try:
                    name = json.loads(line)
                except ValueError:  # the last line, torn by a crash mid-append
                    continue
                if name in names:
                    done.add(name)
    with open(log_path + ".tmp", "w", encoding="utf-8") as fh:
        fh.writelines(json.dumps(name) + "\n" for name in sorted(done))
    os.replace(log_path + ".tmp", log_path)

    with open(log_path, "a", encoding="utf-8") as log:

        def commit(name: str) -> None:
            log.write(json.dumps(name) + "\n")
            log.flush()
            done.add(name)

        while not stop.is_set():
            done.intersection_update(names)
            new = []
            for name, entry in names.items():
                if name not in done:
                    try:
                        new.append((entry.stat().st_mtime_ns, name, entry.path))
                    except FileNotFoundError:  # removed since the listing
                        pass
            for _mtime, name, path in sorted(new):
                if stop.is_set():
                    return
                t0 = time.perf_counter()
                try:
                    with open(path, "rb") as fh:
                        data = fh.read().removeprefix(codecs.BOM_UTF8)
                except FileNotFoundError:
                    continue
                yield t0, _lines(data), functools.partial(commit, name)
            if drain:
                return
            if not new:
                stop.wait(POLL_INTERVAL_S)
            names = _listing(message_dir)


def _socket_batches(
    stop: threading.Event, host: str, port: int, drain: bool
) -> Iterator[Batch]:
    """Socket intake, at most once: connects to ``host:port`` as a client
    and makes each non-blank line one batch. Nothing is logged, so a line
    lost in a crash is gone, as a missed ZMQ message is. When the peer
    closes, the listener idles until ``stop()``; with ``drain`` it ends."""
    with socket.create_connection((host, port), timeout=CONNECT_TIMEOUT_S) as sock:
        sock.settimeout(POLL_INTERVAL_S)
        pending = b""
        while not stop.is_set():
            try:
                chunk = sock.recv(1 << 16)
            except TimeoutError:
                continue
            data, pending = pending + chunk, b""
            if chunk:
                data, _, pending = data.rpartition(b"\n")
            for line in _lines(data):
                yield time.perf_counter(), [line], lambda: None
            if not chunk:
                break
    if not drain:
        stop.wait()


class MessageListener:
    """What :func:`run_streaming` returns for file and socket intake: the
    StreamingQuery surface its callers use, over one listener thread. The
    thread takes batches from ``batches``, hands each batch's lines to
    ``handle``, runs the batch's commit and records a progress entry
    (``batchId``, ``numInputRows`` = lines read, ``durationMs`` with
    ``triggerExecution`` = the whole batch and ``walCommit`` = the
    commit)."""

    def __init__(
        self,
        batches: Iterator[Batch],
        stop: threading.Event,
        handle: Callable[[list[str], int], None],
    ) -> None:
        self._stop = stop
        self._error: BaseException | None = None
        self._lock = threading.Lock()
        self._progress: collections.deque = collections.deque(maxlen=PROGRESS_KEPT)
        # InheritableThread carries the caller's Spark local properties into
        # the listener's JVM thread (pinned-thread mode)
        self._thread = InheritableThread(
            target=self._run, args=(batches, handle),
            name="trollflow2_spark_runner", daemon=True,
        )
        self._thread.start()

    def _run(self, batches, handle) -> None:
        try:
            for batch_id, (t0, lines, commit) in enumerate(batches):
                handle(lines, batch_id)
                t1 = time.perf_counter()
                commit()
                t2 = time.perf_counter()
                entry = {
                    "batchId": batch_id,
                    "numInputRows": len(lines),
                    "durationMs": {
                        "triggerExecution": round((t2 - t0) * 1000),
                        "walCommit": round((t2 - t1) * 1000),
                    },
                }
                with self._lock:
                    self._progress.append(entry)
        except BaseException as exc:  # noqa: BLE001 - re-raised by awaitTermination
            logger.error("message intake stopped: %r", exc)
            self._error = exc
        finally:
            batches.close()

    @property
    def isActive(self) -> bool:
        return self._thread.is_alive()

    @property
    def lastProgress(self) -> dict | None:
        with self._lock:
            return self._progress[-1] if self._progress else None

    @property
    def recentProgress(self) -> list[dict]:
        with self._lock:
            return list(self._progress)

    def stop(self) -> None:
        """Graceful: returns once the batch in flight is handled and
        committed."""
        self._stop.set()
        if threading.current_thread() is not self._thread:
            self._thread.join()

    def awaitTermination(self, timeout: float | None = None) -> bool | None:
        """Wait for the intake to end; re-raise the exception that ended
        it. With ``timeout``, returns whether it ended in time."""
        self._thread.join(timeout)
        if self._error is not None:
            raise self._error
        return None if timeout is None else not self._thread.is_alive()


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
    work happens (≙ ``check_metadata: start_time: -N``).
    ``available_now=True`` drains what is present and stops — the
    test-message/batch mode (``launcher.py:206-215``).

    ``message_dir`` may be a directory path (file intake; its replay log
    lives in ``checkpoint_dir``), a ``socket://host:port`` URI (network
    listener, ≙ the daemon's ZMQ subscription), or a
    ``kafka://servers/topic`` URI (production message bus; needs the
    Kafka connector on the classpath, and ``checkpoint_dir`` is its
    Structured Streaming checkpoint).

    Returns a :class:`MessageListener` for file and socket intake and the
    StreamingQuery for Kafka. Both have ``stop()`` (graceful: the
    in-flight batch completes — SIGTERM semantics),
    ``awaitTermination(timeout)``, ``isActive``, ``lastProgress`` and
    ``recentProgress``.
    """
    handle = _message_handler(
        spark, product_list, workers, max_age_minutes, on_result,
        resolve_crash_handler(on_crash),
    )
    kind, kwargs = parse_message_source_uri(message_dir)
    if kind == "kafka":

        def handle_batch(batch_df: DataFrame, batch_id: int) -> None:
            # Messages are control rows: collecting them is O(messages), never
            # O(data). The data tables are scanned inside process_message.
            handle(kafka_record_lines(batch_df.select("value").collect()), batch_id)

        writer = (
            message_stream_kafka(spark, **kwargs)
            .writeStream.foreachBatch(handle_batch)
            .option("checkpointLocation", checkpoint_dir)
            .queryName("trollflow2_spark_runner")
        )
        if available_now:
            writer = writer.trigger(availableNow=True)
        return writer.start()

    stop = threading.Event()
    if kind == "socket":
        batches = _socket_batches(stop, drain=available_now, **kwargs)
    else:
        batches = _file_batches(stop, kwargs["message_dir"], checkpoint_dir, available_now)
    return MessageListener(batches, stop, handle)
