"""Command-line entry points.

Parity with the reference's two console scripts
(``/root/reference/trollflow2/pyproject.toml:37-39``):

- :func:`cli` (``tf2spark-cli``) ≙ ``satpy_cli`` / ``trollflow2.cli:cli``
  (``cli.py:18-65``): one-shot batch — data files + ``-p`` product list
  + ``-m`` JSON metadata in, manifest summary out. The dask profiler
  flags have no Spark analog (the Spark UI / event log covers that) and
  are accepted-but-ignored for drop-in compatibility.
- :func:`launch` (``tf2spark-launcher``) ≙ ``satpy_launcher.py`` /
  ``launcher.py:500-556``: the streaming daemon — listens on a message
  directory (the Kafka-swappable local source), or drains a single
  ``-m`` test-message file and exits (``launcher.py:206-215``).

Both decode ISO timestamps in metadata JSON to ``datetime`` objects
(≙ ``datetime_decoder``, ``cli.py:83-101``) and accept ``-c`` YAML
logging config (≙ ``logging_on``).
"""

from __future__ import annotations

import argparse
import json
import logging
import os
import sys
import tempfile
from datetime import datetime
from typing import Any

logger = logging.getLogger(__name__)


def datetime_decoder(obj: Any) -> Any:
    """Recursively turn ISO-format strings into datetimes
    (≙ ``datetime_decoder``, ``cli.py:83-101``)."""
    if isinstance(obj, list):
        return [datetime_decoder(v) for v in obj]
    if isinstance(obj, dict):
        return {k: datetime_decoder(v) for k, v in obj.items()}
    if isinstance(obj, str):
        try:
            return datetime.fromisoformat(obj)
        except ValueError:
            return obj
    return obj


def _logging_on(log_config_path: str | None, queued: bool = False):
    """Apply the ``-c`` YAML logging config (≙ ``logging_on``). With
    ``queued=True`` the configured handlers move into a QueueListener and
    the root logger gets a non-blocking queue handler — the daemon-mode
    analog of the reference's cross-process queued logging
    (``logging.py:120-162``). Returns the QueuedLogging to stop, or
    None."""
    from trollflow2_spark.logging_utils import (
        QueuedLogging,
        attach_queue_handler,
        setup_logging,
    )

    config = None
    if log_config_path:
        import yaml

        with open(log_config_path, "r", encoding="utf-8") as fh:
            config = yaml.safe_load(fh)
    setup_logging(config)
    if not queued:
        return None
    root = logging.getLogger()
    real = root.handlers[:]
    for h in real:
        root.removeHandler(h)
    qlog = QueuedLogging(real or None)
    attach_queue_handler(qlog.start())
    return qlog


def parse_args(args: list[str] | None = None) -> argparse.Namespace:
    """Batch CLI arguments (≙ ``parse_args``, ``cli.py:18-43``)."""
    parser = argparse.ArgumentParser(
        description="Run trollflow2_spark processing on the provided files, then quit."
    )
    parser.add_argument("files", nargs="*", help="Data files to run on", type=str)
    parser.add_argument(
        "-p", "--product-list", help="The yaml file with the product list",
        type=str, required=True,
    )
    parser.add_argument(
        "-m", "--metadata", help="Metadata (json) to pass on",
        type=str, required=False, default="{}",
    )
    parser.add_argument(
        "-c", "--log-config", help="Log config file (yaml) to use",
        type=str, required=False, default=None,
    )
    parser.add_argument(
        "--master", help="Spark master (default local[$SPARK_GRAFT_CPUS])",
        type=str, required=False, default=None,
    )
    # accepted for drop-in compatibility with satpy_cli; no Spark analog
    parser.add_argument("--dask-profiler", type=str, required=False, default=None,
                        help=argparse.SUPPRESS)
    parser.add_argument("--dask-resource-profiler", type=float, required=False,
                        default=None, help=argparse.SUPPRESS)
    return parser.parse_args(args)


def cli(args: list[str] | None = None) -> dict:
    """Batch entry point (≙ ``cli``, ``cli.py:46-65``): process the
    files through the product list's worker chain and print a one-line
    JSON manifest summary."""
    ns = parse_args(args)
    _logging_on(ns.log_config)

    from trollflow2_spark.config.product_list import read_product_list
    from trollflow2_spark.plans.pipeline import run_product_list
    from trollflow2_spark.session import get_spark

    spark = get_spark("tf2spark-cli", master=ns.master)
    product_list = read_product_list(ns.product_list)
    metadata = json.loads(ns.metadata, object_hook=lambda d: datetime_decoder(d))
    summary = run_product_list(spark, list(ns.files), metadata, product_list)
    out = {
        "status": summary["status"],
        "aborted_priorities": {
            str(k): v for k, v in summary.get("aborted_priorities", {}).items()
        },
        "n_produced": summary["audit"]["n_produced"],
        "n_empty": summary["audit"]["n_empty"],
        "files": [p["filename"] for p in summary["result"].produced],
    }
    print(json.dumps(out, sort_keys=True))
    return out


def parse_launcher_args(args: list[str] | None = None) -> dict:
    """Streaming launcher arguments (≙ ``parse_args``,
    ``launcher.py:525-556``; topics become the message directory)."""
    parser = argparse.ArgumentParser(
        description=(
            "Launch trollflow2_spark processing, listening for message files "
            "in a directory (Kafka-swappable in production)."
        )
    )
    parser.add_argument(
        "message_dir", nargs="?", default=None,
        help="Directory to watch for JSON message files", type=str,
    )
    parser.add_argument(
        "product_list", help="The yaml file with the product list", type=str,
    )
    parser.add_argument(
        "-m", "--test_message", type=str, required=False, default=None,
        help="File path with a message used for offline testing; drains and exits.",
    )
    parser.add_argument(
        "-c", "--log-config", help="Log config file (yaml) to use",
        type=str, required=False, default=None,
    )
    parser.add_argument(
        "--checkpoint", type=str, required=False, default=None,
        help="Replay log directory for file intake; the Structured Streaming "
        "checkpoint for kafka:// (default: a temp dir)",
    )
    parser.add_argument(
        "--max-age", type=float, required=False, default=None,
        help="Drop messages whose start_time (ISO 8601; no zone = UTC) is older "
        "than this many minutes; an unreadable start_time is dropped too",
    )
    parser.add_argument(
        "--crash-handler", type=str, required=False, default="log",
        help="Named crash handler from CRASH_HANDLER_REGISTRY (default: log)",
    )
    parser.add_argument(
        "--master", type=str, required=False, default=None, help="Spark master",
    )
    # parity no-op: the message listener already runs in-process
    parser.add_argument("-t", "--threaded", action="store_true", help=argparse.SUPPRESS)
    return vars(parser.parse_args(args))


def launch(args_in: list[str] | None = None):
    """Streaming entry point (≙ ``launch``, ``launcher.py:500-515``).

    With ``-m test_message.json`` the message is drained (available_now) and
    the process exits (the reference's offline test mode); otherwise the
    daemon keeps running until interrupted.
    """
    args = parse_launcher_args(args_in)
    # daemon mode funnels plugin-thread/callback logs through one queued
    # listener (≙ the reference's cross-process queued logging)
    qlog = _logging_on(args.pop("log_config"), queued=True)

    from trollflow2_spark.config.product_list import read_product_list
    from trollflow2_spark.session import get_spark
    from trollflow2_spark.streaming.runner import (
        CRASH_HANDLER_REGISTRY,
        run_streaming,
    )

    spark = get_spark("tf2spark-launcher", master=args.pop("master"))
    product_list = read_product_list(args.pop("product_list"))
    on_crash = CRASH_HANDLER_REGISTRY[args.pop("crash_handler")]

    test_message = args.pop("test_message")
    message_dir = args.pop("message_dir")
    drain = test_message is not None
    if drain:
        message_dir = tempfile.mkdtemp(prefix="tf2_msgs_")
        import shutil

        shutil.copy(test_message, message_dir)
    elif message_dir is None:
        raise SystemExit("either a message_dir or -m test_message is required")

    checkpoint = args.pop("checkpoint") or tempfile.mkdtemp(prefix="tf2_ckpt_")
    results: list[dict] = []
    query = run_streaming(
        spark,
        message_dir,
        product_list,
        checkpoint_dir=checkpoint,
        max_age_minutes=args.pop("max_age"),
        on_result=lambda msg, summary: results.append(
            {"uid": msg.get("uid"), "status": summary["status"]}
        ),
        on_crash=on_crash,
        available_now=drain,
    )
    try:
        if drain:
            query.awaitTermination()
            print(json.dumps({"processed": results}, sort_keys=True))
            return results
        try:  # pragma: no cover - interactive daemon loop
            query.awaitTermination()
        except KeyboardInterrupt:
            logger.info("stopping (graceful: the in-flight message completes)")
            query.stop()
        return results
    finally:
        if qlog is not None:
            qlog.stop()  # drain queued records before exit


if __name__ == "__main__":  # pragma: no cover
    if os.path.basename(sys.argv[0]).startswith("tf2spark-launcher"):
        launch()
    else:
        cli()
