"""Publisher sink: one message per produced file, as plain Python.

Maps ``FilePublisher`` (``/root/reference/trollflow2/plugins/__init__.py:
476-579``): every produced file becomes one ``{"topic", "message"}`` dict
whose payload carries uri/uid/product/area plus selected input metadata;
optional *dispatch* orders add one message per configured target
(``plugins/__init__.py:551-569``). Messages are control rows, so building
and writing them runs no Spark job. Locally a batch's messages are
committed as one JSON-lines file in ``<out>/published_messages/`` (temp
file + rename, so pollers only see whole files); in production they go
to Kafka through :func:`publish_to_kafka`.
"""

from __future__ import annotations

import contextlib
import functools
import json
import os
import uuid
from typing import Sequence

from pyspark.sql import SparkSession

from trollflow2_spark.sinks.save import SaveResult, compose_filename

#: metadata keys forwarded from the input message into published messages
#: (≙ the explicit key list at ``plugins/__init__.py:511-527``)
FORWARDED_MDA_KEYS = (
    "platform_name",
    "sensor",
    "orbit_number",
    "start_time",
    "end_time",
)

#: payload fields kept as JSON numbers; a list value (posttroll's
#: ``sensor``) is kept as a JSON array; every other field is text
_INTEGER_KEYS = ("size_bytes", "orbit_number")

#: compact JSON with non-ASCII written raw (the byte form Spark's JSON
#: writer produced for these rows)
_dumps = functools.partial(json.dumps, ensure_ascii=False, separators=(",", ":"))


def publisher_messages(
    result: SaveResult,
    base_mda: dict | None = None,
    topic_pattern: str = "/{format}/{area}",
    dispatch_targets: Sequence[str] | None = None,
) -> list[dict]:
    """Build the publisher messages for a save result.

    One ``{"topic": str, "message": payload dict}`` per produced file:
    ``topic`` composed from the work item (≙ topic composition at
    ``plugins/__init__.py:528``), the payload holding file + forwarded
    metadata with ``None`` fields left out. ``dispatch_targets`` adds one
    extra message per (file, target) with a trailing ``dispatch`` field.
    """
    mda = base_mda or {}
    messages = []
    for p in result.produced:
        fields = {
            "uri": p["filename"],
            "uid": os.path.basename(p["filename"]),
            "product": p.get("product"),
            "area": p.get("area"),
            "format": p.get("format"),
            "size_bytes": p.get("size_bytes"),
            **{k: mda.get(k) for k in FORWARDED_MDA_KEYS},
        }
        payload = {
            k: v if k in _INTEGER_KEYS or isinstance(v, list) else str(v)
            for k, v in fields.items()
            if v is not None
        }
        topic = compose_filename(topic_pattern, {**mda, **p})
        messages.append({"topic": topic, "message": payload})
        for target in dispatch_targets or []:
            messages.append({"topic": topic, "message": {**payload, "dispatch": target}})
    return messages


def write_messages(
    messages: Sequence[dict], out_dir: str, name: str | None = None
) -> str | None:
    """Commit messages as one JSON-lines file in
    ``<out_dir>/published_messages/`` (the local Kafka stand-in: one
    ``{"topic", "message"}`` line per record, the payload as a JSON
    string). ``name`` is the file's stem: writing the same name again
    replaces the file atomically, so a replayed batch publishes once.
    Without it the stem is a fresh uuid. Returns the file's path, or
    ``None`` when there is nothing to publish and no file is written."""
    if not messages:
        return None
    pub_dir = os.path.join(out_dir, "published_messages")
    os.makedirs(pub_dir, exist_ok=True)
    name = name or uuid.uuid4().hex
    tmp = os.path.join(pub_dir, f".{name}.tmp")
    final = os.path.join(pub_dir, f"{name}.json")
    try:
        with open(tmp, "w", encoding="utf-8") as fh:
            for m in messages:
                fh.write(_dumps({"topic": m["topic"], "message": _dumps(m["message"])}) + "\n")
        os.replace(tmp, final)
    except BaseException:
        with contextlib.suppress(FileNotFoundError):
            os.remove(tmp)
        raise
    return final


def kafka_sink_options(bootstrap_servers: str) -> tuple[str, dict[str, str]]:
    """(format, options) for the Kafka publisher sink. A pure builder so
    the constructed options are testable without the connector jar or a
    broker (the wire path needs a real deployment)."""
    return "kafka", {"kafka.bootstrap.servers": bootstrap_servers}


def to_kafka_rows(messages: Sequence[dict], key_field: str | None = None) -> list[dict]:
    """Shape publisher messages into the Kafka sink's expected columns:
    ``topic`` (per-row routing — the composed ``/{format}/{area}`` topic
    rides along, matching the reference's per-file topic composition),
    ``value`` (the JSON payload), and optionally ``key``, the payload's
    ``key_field`` (for partition affinity, e.g. by area so one area's
    files stay ordered)."""
    rows = []
    for m in messages:
        row = {"topic": m["topic"], "value": _dumps(m["message"])}
        if key_field:
            key = m["message"].get(key_field)
            row["key"] = None if key is None else str(key)
        rows.append(row)
    return rows


def publish_to_kafka(
    spark: SparkSession,
    messages: Sequence[dict],
    bootstrap_servers: str,
    key_field: str | None = None,
) -> None:
    """Publish messages to Kafka (one record per produced file, per-row
    topic routing). Requires the ``spark-sql-kafka`` connector on the
    classpath — absent here; row shape pinned by tests."""
    fmt, opts = kafka_sink_options(bootstrap_servers)
    schema = "topic string, value string" + (", key string" if key_field else "")
    rows = spark.createDataFrame(to_kafka_rows(messages, key_field), schema)
    rows.write.format(fmt).options(**opts).save()
