"""SparkSession helpers.

The engine is designed for a real cluster (1000 executors, 100 TB); these
helpers only centralize the session options that matter in both worlds:
AQE on, Arrow on, UTC session time zone, shuffle partitions sized to the
parallelism at hand, and nanosecond-parquet tolerance (the synthetic test
tables are written with INT64 TIMESTAMP(NANOS) which Spark rejects unless
``spark.sql.legacy.parquet.nanosAsLong`` is set).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Runtime-settable confs every query needs regardless of who built the
# session (the correctness driver builds its own SparkSession).
_RUNTIME_CONFS = {
    # Test parquet uses TIMESTAMP(NANOS), which Spark rejects without this
    # flag. Under it Spark reads such a column, with or without a zone, as
    # bigint nanoseconds since the epoch (2024-01-15T12:30Z reads as
    # 1705321800000000000), not as a timestamp; tables.load_table turns
    # events.ts back into a timestamp_ntz.
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # Naive timestamps + UTC rendering keeps date_format() deterministic.
    "spark.sql.session.timeZone": "UTC",
    # Media-column OOM guard (SCALE.md, Multimodal): decoded frames are
    # much larger than their compressed bytes, so pandas-UDF batches must
    # stay small — executor memory is bounded by batch size, not
    # partition size. 1024 rows/batch keeps a 1 MB-per-item media column
    # around ~1 GB decoded per in-flight batch.
    "spark.sql.execution.arrow.maxRecordsPerBatch": "1024",
}


def tune_for_oracle(spark: SparkSession) -> SparkSession:
    """Apply runtime confs needed for deterministic, oracle-comparable runs.

    Safe to call on any session (all confs are runtime-settable).
    """
    for k, v in _RUNTIME_CONFS.items():
        try:
            spark.conf.set(k, v)
        except Exception:  # pragma: no cover - conf locked by the host
            pass
    return spark


def get_spark(
    app_name: str = "trollflow2_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    """Build (or get) a tuned SparkSession.

    Local default: ``local[$SPARK_GRAFT_CPUS]`` with shuffle partitions
    matched to core count (the 200 default over-parallelizes small local
    runs and under-parallelizes big clusters; on a real cluster you'd set
    this to ~2-3x total cores or rely on AQE coalescing).
    """
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    master = master or f"local[{cpus}]"
    shuffle_partitions = shuffle_partitions or cpus

    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
    )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return tune_for_oracle(spark)
