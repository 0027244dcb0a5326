"""trollflow2_spark — a PySpark-native analytics/ETL engine.

A from-scratch engine with the query and data-processing capabilities of
pytroll/trollflow2 (a message-driven, YAML-configured batch ETL framework
for satellite imagery), re-expressed Spark-first:

- message stream       -> a listener thread (file, socket) or a Kafka
                          stream; each message, the JSON object its
                          sender wrote, runs ``plans.process_message``
- product list (YAML)  -> flat work-item dicts, batched by priority
- plugin worker chain  -> named plugins ``fn(job)`` over the scene
- filter plugins       -> plain-Python pruning of the work items
- resampling           -> broadcast grid-to-grid mapping join, or a
                          bucketed spatial equi-join + window top-1
- multi-format sinks   -> one Arrow gather per priority batch feeding every
                          writer + output manifest
- publisher            -> plain-Python messages, one atomically renamed
                          JSON-lines file per batch (Kafka rows in production)

Design notes (scale): everything is declarative DataFrame API so Catalyst
handles pushdown/pruning/join strategy; small dims are broadcast; data-path
code never collects to the driver; NaN is the in-data missing marker while
SQL NULL is the metadata missing marker.
"""

__version__ = "0.1.0"

from trollflow2_spark.session import get_spark, tune_for_oracle  # noqa: F401
