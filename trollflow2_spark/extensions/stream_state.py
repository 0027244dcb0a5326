"""Custom stateful streaming operators (applyInPandasWithState).

The reference keeps no cross-message state (each message is an
independent job — SURVEY §2.10); a training-data intake pipeline does:
running per-source document counts, dedup-seen sets, rate monitors.
This module shows the query library's pattern for arbitrary keyed state:
``applyInPandasWithState`` — Arrow-batched groups, explicit state
object, event-time or processing-time timeouts bounding state size.

Scale notes: state is partitioned by the group key across executors and
persisted in the state store per micro-batch; the timeout is mandatory
hygiene at 100 TB (an unbounded keyed state is a slow OOM). Group keys
must be high-cardinality/uniform — a single hot key serializes into one
state partition (salt upstream if needed).
"""

from __future__ import annotations

from typing import Any, Iterable, Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql import types as T

RUNNING_COUNT_OUTPUT = T.StructType(
    [
        T.StructField("key", T.StringType()),
        T.StructField("n_events", T.LongType()),
        T.StructField("n_batches", T.LongType()),
    ]
)

RUNNING_COUNT_STATE = T.StructType(
    [
        T.StructField("n_events", T.LongType()),
        T.StructField("n_batches", T.LongType()),
    ]
)


def streaming_dedup(
    stream: DataFrame,
    text_col: str = "text",
    ts_col: str | None = None,
    watermark: str = "1 hour",
    hash_fn=None,
) -> DataFrame:
    """First-seen filter over a document stream: exact dedup as data
    arrives, so a re-crawled page never reaches the corpus twice.

    Spark-first: the digest of the normalized text becomes a key column
    and the built-in streaming ``dropDuplicates`` family keeps the seen
    set in the state store — partitioned by digest across executors,
    fault-tolerant via checkpoint, no custom kernel. With ``ts_col``
    set, state is BOUNDED: ``dropDuplicatesWithinWatermark`` expires
    digests older than the watermark (the 100 TB hygiene — an unbounded
    seen-set is a slow OOM; re-crawl windows are what the watermark
    models). Without ``ts_col`` the seen-set grows forever — batch
    backfills only.
    """
    from pyspark.sql import functions as F

    from trollflow2_spark.functions.hashing import hash64

    fn = hash_fn or hash64
    norm = F.regexp_replace(F.lower(F.trim(F.col(text_col))), r"\s+", " ")
    d = stream.withColumn("digest", fn(norm))
    if ts_col is None:
        return d.dropDuplicates(["digest"])
    return d.withWatermark(ts_col, watermark).dropDuplicatesWithinWatermark(
        ["digest"]
    )


def streaming_simhash_dedup(
    stream: DataFrame,
    text_col: str = "text",
    ts_col: str | None = None,
    watermark: str = "1 hour",
    bits: int = 32,
) -> DataFrame:
    """Template-level near-dup filter over a document stream: the first
    document of each simhash fingerprint passes, later template
    re-renders (whitespace/token-order-insensitive at the fingerprint
    level) are dropped as they arrive.

    Only possible because :func:`~trollflow2_spark.extensions.dedup.
    simhash_column` is a pure per-row Column expression (no groupBy):
    the fingerprint computes inside the streaming scan and the built-in
    ``dropDuplicates[WithinWatermark]`` state store does the seen-set,
    watermark-BOUNDED when ``ts_col`` is set — same hygiene contract as
    :func:`streaming_dedup`, one tier fuzzier.
    """
    from pyspark.sql import functions as F

    from trollflow2_spark.extensions.dedup import simhash_column

    d = stream.withColumn("simhash", simhash_column(F.col(text_col), bits=bits))
    if ts_col is None:
        return d.dropDuplicates(["simhash"])
    return d.withWatermark(ts_col, watermark).dropDuplicatesWithinWatermark(
        ["simhash"]
    )


def _running_count_fn(
    key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
) -> Iterable[pd.DataFrame]:
    (n_events, n_batches) = state.get if state.exists else (0, 0)
    seen = 0
    for pdf in pdfs:
        seen += len(pdf)
    n_events += seen
    n_batches += 1
    state.update((n_events, n_batches))
    yield pd.DataFrame(
        {"key": [key[0]], "n_events": [n_events], "n_batches": [n_batches]}
    )


def running_counts(
    stream: DataFrame,
    key_col: str,
    timeout: str = "NoTimeout",
) -> DataFrame:
    """Running per-key event counts across micro-batches — the minimal
    custom stateful operator; swap the kernel to carry any state
    (seen-hash sets for streaming dedup, rate windows, ...).

    ``timeout``: ``"NoTimeout"`` or ``"ProcessingTimeTimeout"`` (callers
    then set ``state.setTimeoutDuration`` in a custom kernel to expire
    idle keys — the state-bound at scale).
    """
    mode = {
        "NoTimeout": GroupStateTimeout.NoTimeout,
        "ProcessingTimeTimeout": GroupStateTimeout.ProcessingTimeTimeout,
    }[timeout]
    keyed = stream.select(stream[key_col].cast("string").alias("key"))
    return keyed.groupBy("key").applyInPandasWithState(
        _running_count_fn,
        outputStructType=RUNNING_COUNT_OUTPUT,
        stateStructType=RUNNING_COUNT_STATE,
        outputMode="update",
        timeoutConf=mode,
    )


RATE_LIMIT_OUTPUT = T.StructType(
    [
        T.StructField("host", T.StringType()),
        T.StructField("url", T.StringType()),
        T.StructField("admitted", T.IntegerType()),
        T.StructField("tokens_left", T.LongType()),
    ]
)

RATE_LIMIT_STATE = T.StructType(
    [
        T.StructField("tokens", T.LongType()),
        T.StructField("n_admitted", T.LongType()),
    ]
)


def _rate_limit_kernel(capacity: int, refill: int, timeout: str):
    """Build the per-host token-bucket kernel (module-level so the
    timed-out-invocation contract is unit-testable without a running
    stream)."""

    def kernel(
        key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterable[pd.DataFrame]:
        # A timed-out invocation (no new data for this host within the
        # timeout window) must REMOVE the state and emit nothing — the
        # whole point of the timeout is expiring idle hosts.  Falling
        # through to the normal path would refill tokens, update state,
        # and re-arm the timeout, so idle-host state would accrete
        # forever (plus a spurious empty output row per timeout).
        if state.hasTimedOut:
            state.remove()
            return
        if state.exists:
            tokens, admitted_total = state.get
            tokens = min(capacity, tokens + refill)
        else:
            tokens, admitted_total = capacity, 0
        urls: list[str] = []
        for pdf in pdfs:
            urls.extend(pdf["url"].tolist())
        urls.sort()
        n_admit = min(len(urls), tokens)
        tokens -= n_admit
        admitted_total += n_admit
        state.update((tokens, admitted_total))
        if timeout == "ProcessingTimeTimeout":
            state.setTimeoutDuration(60_000)
        yield pd.DataFrame(
            {
                "host": [key[0]] * len(urls),
                "url": urls,
                "admitted": [1] * n_admit + [0] * (len(urls) - n_admit),
                "tokens_left": [tokens] * len(urls),
            }
        )

    return kernel


def host_rate_limit(
    stream: DataFrame,
    host_col: str = "host",
    url_col: str = "url",
    capacity: int = 4,
    refill: int = 2,
    timeout: str = "NoTimeout",
) -> DataFrame:
    """Per-host politeness gate for a crawl-frontier stream: a token
    bucket per host admits at most ``capacity`` URLs as a burst and
    ``refill`` more per micro-batch thereafter; the overflow is emitted
    with ``admitted = 0`` (deferred — re-enqueue upstream) instead of
    silently dropped. Within a batch, URLs admit in sorted order so the
    decision is deterministic under any partitioning.

    Scale: state is two longs per host — millions of hosts fit any
    state store; hosts hash across executors, and a
    ``ProcessingTimeTimeout`` expires idle hosts so the frontier's long
    tail does not accrete state forever.
    """
    kernel = _rate_limit_kernel(capacity, refill, timeout)
    mode = {
        "NoTimeout": GroupStateTimeout.NoTimeout,
        "ProcessingTimeTimeout": GroupStateTimeout.ProcessingTimeTimeout,
    }[timeout]
    keyed = stream.select(
        stream[host_col].cast("string").alias("host"),
        stream[url_col].cast("string").alias("url"),
    )
    return keyed.groupBy("host").applyInPandasWithState(
        kernel,
        outputStructType=RATE_LIMIT_OUTPUT,
        stateStructType=RATE_LIMIT_STATE,
        outputMode="update",
        timeoutConf=mode,
    )


def replay_batches(
    spark,
    batches,
    schema: str,
    op,
    timeout_s: int = 180,
    output_mode: str = "update",
    shuffle_partitions: int | None = 2,
):
    """Drive a stateful operator through a REAL micro-batched stream
    deterministically, batch-by-batch, and return the memory-sink rows
    as a batch DataFrame — the replay harness behind the stateful
    tier's contract queries (so the driver can hash
    ``applyInPandasWithState`` state like any batch query).

    One JSON file is written per batch with strictly increasing mtimes;
    ``maxFilesPerTrigger=1`` + ``availableNow`` makes the file source
    process exactly one file per micro-batch, oldest first, so batch
    order (and therefore every state transition) is closed-form.

    The fixture write is driver-side by design: contract fixtures are
    config-bounded subsets (the real ingest path streams from object
    storage), so this is control-plane work like the k-means sample.
    """
    import json
    import os
    import tempfile
    import uuid

    d = tempfile.mkdtemp(prefix="tf2_replay_")
    src = os.path.join(d, "src")
    os.makedirs(src)
    t0 = 1_700_000_000
    for i, rows in enumerate(batches):
        path = os.path.join(src, f"b{i:04d}.json")
        with open(path, "w") as fh:
            for r in rows:
                fh.write(json.dumps(r) + "\n")
        os.utime(path, (t0 + i * 10, t0 + i * 10))
    # a stateful query's state-store count is pinned to
    # spark.sql.shuffle.partitions at FIRST start; replay fixtures are
    # config-bounded, so a small fixed count avoids paying hundreds of
    # near-empty state tasks per micro-batch (restored after the run).
    # r15: 8 -> 2 measured ~2.5x off the whole replay (each partition
    # opens+commits its state stores EVERY micro-batch — a stream-
    # stream join carries 4 stores/side/partition, so the per-batch
    # floor is store-count-bound, not data-bound; 2 keeps partitioned
    # state semantics on a tens-of-rows fixture). Production streams
    # size this to state volume via the parameter — the count scales
    # with the stream, not with this default.
    prev_parts = spark.conf.get("spark.sql.shuffle.partitions")
    name = "tf2_replay_" + uuid.uuid4().hex[:12]
    try:
        if shuffle_partitions is not None:
            spark.conf.set(
                "spark.sql.shuffle.partitions", str(shuffle_partitions)
            )
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .json(src)
        )
        q = (
            op(stream)
            .writeStream.format("memory")
            .queryName(name)
            .outputMode(output_mode)
            .option("checkpointLocation", os.path.join(d, "ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        # awaitTermination(timeout) returns False when the timeout
        # elapsed with the query still running — returning the memory
        # table then would silently yield a partially-populated
        # contract result AND leak the live query + temp dir.  Stop
        # the query and fail loudly instead.
        if not q.awaitTermination(timeout_s):
            q.stop()
            raise TimeoutError(
                f"replay_batches: streaming query {name!r} did not "
                f"drain {len(batches)} batches within {timeout_s}s"
            )
    finally:
        if shuffle_partitions is not None:
            spark.conf.set("spark.sql.shuffle.partitions", prev_parts)
    return spark.table(name)
