"""Corpus snapshot management: diff two crawl/corpus snapshots.

The recurring production question at 100 TB is "what changed between
snapshot N and snapshot N+1" — which documents were added, removed, or
edited — because downstream incremental work (dedup, embedding refresh,
index rebuild) should touch ONLY the delta, never the full corpus.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F


def corpus_diff(
    old: DataFrame,
    new: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Per-document diff of two snapshots keyed on ``id_col``: status is
    ``added`` (only in new), ``removed`` (only in old), ``changed``
    (both, content digest differs) or ``unchanged``. Returns
    ``(id, status)`` — join back to either snapshot for payloads.

    Scale shape: both sides reduce to ``(id, md5(text))`` BEFORE the
    join, so the shuffle carries 40-byte rows instead of document
    payloads; the full-outer equi-join on the id is one co-partitioned
    shuffle each side and AQE handles size imbalance between snapshots.
    """
    o = old.select(
        F.col(id_col), F.md5(F.col(text_col)).alias("__old_digest")
    )
    n = new.select(
        F.col(id_col), F.md5(F.col(text_col)).alias("__new_digest")
    )
    joined = o.join(n, id_col, "full_outer")
    status = (
        F.when(F.col("__old_digest").isNull(), "added")
        .when(F.col("__new_digest").isNull(), "removed")
        .when(F.col("__old_digest") == F.col("__new_digest"), "unchanged")
        .otherwise("changed")
    )
    return joined.select(F.col(id_col), status.alias("status"))


def corpus_diff_summary(
    old: DataFrame,
    new: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """4-row rollup of :func:`corpus_diff` — the snapshot health check
    (one extra hash agg over the digest-only diff rows)."""
    return (
        corpus_diff(old, new, id_col=id_col, text_col=text_col)
        .groupBy("status")
        .agg(F.count(F.lit(1)).alias("n_docs"))
    )


def merge_agg_state(
    state: DataFrame,
    delta: DataFrame,
    key_cols: list[str],
    add_cols: list[str],
) -> DataFrame:
    """Incremental aggregate maintenance: merge a prior per-key state
    table with a new increment's aggregate of the SAME shape — the
    production form of corpus statistics at 100 TB, where each daily
    batch contributes one small aggregation and the historical corpus
    is never re-scanned.

    Both inputs carry ``key_cols`` plus additive measure columns
    ``add_cols`` (counts, sums; anything linear — averages must be
    stored as sum+count and derived at read time). The merge is one
    full-outer equi-join on the keys with null-safe addition, so its
    cost is O(|state| + |delta|) — state is key-cardinality-sized,
    delta is batch-sized, and the corpus appears in neither.
    """
    d = delta.select(
        *key_cols, *[F.col(c).alias(f"__d_{c}") for c in add_cols]
    )
    merged = state.join(d, key_cols, "full_outer")
    return merged.select(
        *key_cols,
        *[
            (
                F.coalesce(F.col(c), F.lit(0))
                + F.coalesce(F.col(f"__d_{c}"), F.lit(0))
            ).alias(c)
            for c in add_cols
        ],
    )


def distinct_state(
    df: DataFrame,
    key_cols: list[str],
    value_col: str,
    sketch_col: str = "sketch",
) -> DataFrame:
    """Per-key HLL sketch of distinct ``value_col`` — the MERGEABLE
    form of a distinct count. A plain count-distinct state table
    cannot be incrementally maintained (yesterday's count + today's
    count double-counts returning values); the sketch can, which is
    why this is the distinct-count sibling of :func:`merge_agg_state`
    (whose additive columns need no sketch)."""
    return df.groupBy(*key_cols).agg(
        F.hll_sketch_agg(value_col).alias(sketch_col)
    )


def merge_distinct_state(
    state: DataFrame,
    delta: DataFrame,
    key_cols: list[str],
    sketch_col: str = "sketch",
) -> DataFrame:
    """Merge two per-key sketch tables (one full-outer join on the
    keys; per-key HLL union). O(|state| + |delta|), corpus never
    re-scanned; read estimates with ``hll_sketch_estimate``."""
    d = delta.select(
        *key_cols, F.col(sketch_col).alias("__d_sketch")
    )
    merged = state.join(d, key_cols, "full_outer")
    a, b = F.col(sketch_col), F.col("__d_sketch")
    return merged.select(
        *key_cols,
        F.when(a.isNull(), b)
        .when(b.isNull(), a)
        .otherwise(F.hll_union(a, b))
        .alias(sketch_col),
    )


def cms_sketch(
    df: DataFrame,
    text_col: str = "text",
    depth: int = 3,
    width: int = 1024,
    seed_base: int = 101,
) -> DataFrame:
    """Count-min sketch of the token stream as a RELATIONAL sketch
    table — (row, cell, cnt), ``depth x width`` rows, bounded by
    construction regardless of vocabulary size. The CMS is the
    fixed-memory member of the sketch tier (HLL counts distincts; CMS
    answers per-item frequency with one-sided error <= eps*N): two
    sketches MERGE by summing cells, so daily increments maintain the
    state without re-scanning the corpus, and the whole build is one
    map-side-combinable hash agg over (row, cell) pairs — shuffle
    volume bounded by depth x width counters per partition.

    Determinism: the row hashes are the portable md5-derived
    :func:`hash64` with per-row seeds, so a SQL oracle reproduces
    every cell exactly."""
    from trollflow2_spark.extensions.hashing import hash64, tokens

    tk = df.select(
        F.explode(
            F.transform(tokens(F.col(text_col)), lambda t: F.lower(t))
        ).alias("tok")
    )
    cells = tk.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(r).alias("row"),
                        F.pmod(
                            hash64(F.col("tok"), seed=seed_base + r),
                            F.lit(width),
                        )
                        .cast("int")
                        .alias("cell"),
                    )
                    for r in range(depth)
                ]
            )
        ).alias("rc")
    )
    return cells.select("rc.row", "rc.cell").groupBy("row", "cell").agg(
        F.count(F.lit(1)).alias("cnt")
    )


def cms_heavy_hitter_audit(
    df: DataFrame,
    text_col: str = "text",
    k: int = 20,
    depth: int = 3,
    width: int = 1024,
    seed_base: int = 101,
) -> DataFrame:
    """The sketch-error audit every approximate tier here ships with:
    the exact top-k tokens (count desc, token tie-break) joined against
    their count-min estimates — ``cms_est = min over rows of the
    hashed cell's count`` — with the one-sided ``overestimate`` stated
    per token (CMS never undercounts; collisions only inflate). The
    candidate side is k rows, so the estimate join is broadcast-sized;
    the sketch side is the bounded depth x width table."""
    from trollflow2_spark.extensions.hashing import hash64, tokens

    sketch = cms_sketch(
        df, text_col=text_col, depth=depth, width=width,
        seed_base=seed_base,
    )
    tk = df.select(
        F.explode(
            F.transform(tokens(F.col(text_col)), lambda t: F.lower(t))
        ).alias("tok")
    )
    exact = tk.groupBy("tok").agg(F.count(F.lit(1)).alias("exact_cnt"))
    # TakeOrdered top-k (per-partition heads merged on the driver) —
    # no single-partition global window over the vocabulary table
    topk = exact.orderBy(
        F.col("exact_cnt").desc(), F.col("tok").asc()
    ).limit(k)
    cand_cells = topk.select(
        "tok",
        "exact_cnt",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(r).alias("row"),
                        F.pmod(
                            hash64(F.col("tok"), seed=seed_base + r),
                            F.lit(width),
                        )
                        .cast("int")
                        .alias("cell"),
                    )
                    for r in range(depth)
                ]
            )
        ).alias("rc"),
    ).select("tok", "exact_cnt", "rc.row", "rc.cell")
    est = (
        F.broadcast(cand_cells)
        .join(sketch, ["row", "cell"])
        .groupBy("tok", "exact_cnt")
        .agg(F.min("cnt").alias("cms_est"))
    )
    return est.select(
        "tok",
        "exact_cnt",
        "cms_est",
        (F.col("cms_est") - F.col("exact_cnt")).alias("overestimate"),
    )


def cms_replay_state(
    spark,
    batches: list[list[dict]],
    schema: str,
    text_col: str = "text",
    depth: int = 3,
    width: int = 1024,
    seed_base: int = 101,
    timeout_s: int = 120,
) -> DataFrame:
    """Drive the CMS through a REAL micro-batched stream: one JSON
    file per batch (mtime-pinned order, ``maxFilesPerTrigger=1``,
    ``availableNow``), each batch's sketch appending as a batch-tagged
    DELTA to the parquet state — the mergeable-sketch property as an
    operating procedure, not just an algebraic fact. Reads merge by
    summing cells (state is batches x depth x width rows, bounded per
    batch; periodic compaction is the same groupBy). Batch tags make
    checkpoint-recovery re-runs idempotent, same discipline as the
    recipe sink's digest state. Returns the merged sketch."""
    import json
    import os
    import tempfile
    import uuid

    d = tempfile.mkdtemp(prefix="tf2_cms_")
    src = os.path.join(d, "src")
    os.makedirs(src)
    state_dir = os.path.join(d, "state")
    t0 = 1_700_000_000
    for i, rows in enumerate(batches):
        path = os.path.join(src, f"b{i:04d}.json")
        with open(path, "w") as fh:
            for r in rows:
                fh.write(json.dumps(r) + "\n")
        os.utime(path, (t0 + i * 10, t0 + i * 10))

    def fn(batch_df: DataFrame, batch_id: int) -> None:
        sk = cms_sketch(
            batch_df, text_col=text_col, depth=depth, width=width,
            seed_base=seed_base,
        )
        sk.withColumn(
            "__bid", F.lit(batch_id).cast("long")
        ).write.mode("append").parquet(state_dir)

    prev_parts = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        spark.conf.set(
            "spark.sql.shuffle.partitions", "2"
        )  # fixture-scale replay: see stream_state.replay_batches
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .json(src)
        )
        q = (
            stream.writeStream.foreachBatch(fn)
            .queryName("tf2_cms_" + uuid.uuid4().hex[:12])
            .option("checkpointLocation", os.path.join(d, "ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        if not q.awaitTermination(timeout_s):
            q.stop()
            raise TimeoutError(
                f"cms_replay_state: stream did not drain "
                f"{len(batches)} batches within {timeout_s}s"
            )
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev_parts)
    return merge_cms_state(spark.read.parquet(state_dir))


def merge_cms_state(state: DataFrame) -> DataFrame:
    """Merge batch-tagged CMS deltas. A foreachBatch retry after
    checkpoint recovery re-appends the SAME batch-tagged delta, so
    dedup on the tag BEFORE summing — that is what makes recovery
    re-runs idempotent, not the tag's existence."""
    return (
        state.dropDuplicates(["__bid", "row", "cell"])
        .groupBy("row", "cell")
        .agg(F.sum("cnt").alias("cnt"))
    )


def drift_replay_state(
    spark,
    ref: DataFrame,
    batches: list[list[dict]],
    schema: str,
    value_col: str,
    group_cols: list[str],
    bucket_width: float,
    n_buckets: int,
    timeout_s: int = 120,
) -> DataFrame:
    """Streaming drift-state maintenance: the current snapshot
    arrives as REAL micro-batches (same file-source/availableNow
    harness as :func:`cms_replay_state`); each batch appends its
    per-(group, bucket) histogram as a batch-tagged DELTA to parquet
    state, and the monitor reads PSI-vs-reference at any moment by
    summing the state — no raw-row retention, no re-scan. Bucket
    counts are exactly mergeable (integers), so the replayed PSI
    equals the one-pass batch PSI bit-for-bit: the finishing stage is
    literally shared (`extensions/profile.py:psi_from_counts`).
    State is (batches x groups x occupied buckets) rows — bounded by
    the bucket grid, not row volume; batch tags keep
    checkpoint-recovery re-runs idempotent."""
    import json
    import os
    import tempfile
    import uuid

    from trollflow2_spark.extensions.profile import psi_from_counts

    d = tempfile.mkdtemp(prefix="tf2_drift_")
    src = os.path.join(d, "src")
    os.makedirs(src)
    state_dir = os.path.join(d, "state")
    t0 = 1_700_000_000
    for i, rows in enumerate(batches):
        path = os.path.join(src, f"b{i:04d}.json")
        with open(path, "w") as fh:
            for r in rows:
                fh.write(json.dumps(r) + "\n")
        os.utime(path, (t0 + i * 10, t0 + i * 10))

    bucket = F.least(
        F.floor(F.col(value_col) / bucket_width).cast("int"),
        F.lit(int(n_buckets) - 1),
    )

    def fn(batch_df: DataFrame, batch_id: int) -> None:
        (
            batch_df.select(*group_cols, bucket.alias("__b"))
            .groupBy(*group_cols, "__b")
            .agg(F.count(F.lit(1)).alias("cnt"))
            .withColumn("__bid", F.lit(batch_id).cast("long"))
            .write.mode("append")
            .parquet(state_dir)
        )

    prev_parts = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        spark.conf.set(
            "spark.sql.shuffle.partitions", "2"
        )  # fixture-scale replay: see stream_state.replay_batches
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .json(src)
        )
        q = (
            stream.writeStream.foreachBatch(fn)
            .queryName("tf2_drift_" + uuid.uuid4().hex[:12])
            .option("checkpointLocation", os.path.join(d, "ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        if not q.awaitTermination(timeout_s):
            q.stop()
            raise TimeoutError(
                f"drift_replay_state: stream did not drain "
                f"{len(batches)} batches within {timeout_s}s"
            )
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev_parts)

    # dedup re-appended batch deltas on the tag before summing
    # (checkpoint-recovery idempotency, as for cms_replay_state)
    cur = (
        spark.read.parquet(state_dir)
        .dropDuplicates([*group_cols, "__b", "__bid"])
        .groupBy(*group_cols, "__b")
        .agg(F.sum("cnt").alias("__cc"))
        .withColumn("__cr", F.lit(0))
    )
    ref_counts = (
        ref.select(*group_cols, bucket.alias("__b"))
        .groupBy(*group_cols, "__b")
        .agg(F.count(F.lit(1)).alias("__cr"))
        .withColumn("__cc", F.lit(0))
    )
    counts = (
        cur.select(*group_cols, "__b", "__cr", "__cc")
        .unionByName(ref_counts.select(*group_cols, "__b", "__cr", "__cc"))
        .groupBy(*group_cols, "__b")
        .agg(F.sum("__cr").alias("__cr"), F.sum("__cc").alias("__cc"))
    )
    return psi_from_counts(counts, group_cols, n_buckets)


KMV_MAX_HASH = float(1 << 60)  # hash64 is 60-bit: estimates scale by 2^60


def kmv_sketch(
    df: DataFrame,
    key_cols: list[str],
    value_col: str,
    k: int = 64,
    seed: int = 77,
    n_salt: int = 16,
) -> DataFrame:
    """Bottom-k (KMV) distinct sketch per key: the k smallest portable
    hashes of the distinct values. Where HLL answers "how many
    distinct", KMV additionally supports SET OPERATIONS — union
    sketches merge by taking the bottom-k of the concatenation, and
    the Jaccard of two sets is estimated directly from the shared
    members of the union sketch — which HLL registers cannot do
    without inclusion-exclusion error stacking.

    Scale shape: a naive per-key ``sort + limit k`` would collect
    every distinct hash into one reducer per key. This builds the
    sketch as a TWO-LEVEL tree: distinct hashes first split into
    ``n_salt`` buckets per key and reduce to a per-bucket bottom-k
    (bounded state per group), then the ``n_salt x k`` survivors
    reduce to the final bottom-k — the classic distributed top-k
    shape, every stage bounded. The sketch column is a sorted
    ``array<bigint>`` of length <= k, mergeable by construction."""
    from trollflow2_spark.extensions.hashing import hash64

    h = hash64(F.col(value_col).cast("string"), seed=seed)
    d = df.select(*key_cols, h.alias("__h")).distinct()
    per_bucket = (
        d.groupBy(*key_cols, F.pmod(F.col("__h"), F.lit(n_salt)).alias("__salt"))
        .agg(
            F.slice(F.sort_array(F.collect_list("__h")), 1, k).alias("__part")
        )
    )
    return (
        per_bucket.select(*key_cols, F.explode("__part").alias("__h"))
        .groupBy(*key_cols)
        .agg(
            F.slice(F.sort_array(F.collect_list("__h")), 1, k).alias("sketch")
        )
    )


def kmv_estimate(sketch: Column, k: int) -> Column:
    """Distinct-count estimate off a KMV sketch column: exact when the
    set was smaller than k (the sketch IS the set), else the standard
    ``(k-1) * M / kth_min`` estimator over the 60-bit hash space."""
    kth = F.element_at(sketch, k).cast("double")
    return F.when(
        F.size(sketch) < k, F.size(sketch).cast("double")
    ).otherwise(F.lit(float(k - 1)) * F.lit(KMV_MAX_HASH) / kth)


def kmv_set_ops(
    df: DataFrame,
    key_col: str,
    value_col: str,
    k: int = 64,
    seed: int = 77,
) -> DataFrame:
    """Pairwise set-operation estimates between per-key distinct sets,
    KMV-sketched — est_union / est_jaccard / est_intersection per key
    pair — with the exact values alongside (the sketch-error audit
    every approximate tier here ships): at production cardinalities
    the exact columns are the expensive path this sketch replaces; at
    audit scale they prove the estimator honest.

    The pair table is key-cardinality squared (control-plane sized);
    union sketches are the bottom-k of the two sketch arrays' union,
    and Jaccard is the shared-member fraction of the union sketch —
    pure array algebra, no re-scan of the fact table."""
    sk = kmv_sketch(df, [key_col], value_col, k=k, seed=seed)
    a = sk.select(
        F.col(key_col).alias("key_a"), F.col("sketch").alias("__sa")
    )
    b = sk.select(
        F.col(key_col).alias("key_b"), F.col("sketch").alias("__sb")
    )
    pairs = a.join(b, F.col("key_a") < F.col("key_b"))
    allv = F.array_sort(F.array_union(F.col("__sa"), F.col("__sb")))
    pairs = pairs.withColumn(
        "__us", F.when(F.size(allv) > k, F.slice(allv, 1, k)).otherwise(allv)
    )
    in_both = F.size(
        F.filter(
            F.col("__us"),
            lambda x: F.array_contains(F.col("__sa"), x)
            & F.array_contains(F.col("__sb"), x),
        )
    )
    jacc = in_both.cast("double") / F.size("__us").cast("double")
    est_union = F.when(
        F.size("__us") < k, F.size("__us").cast("double")
    ).otherwise(
        F.lit(float(k - 1))
        * F.lit(KMV_MAX_HASH)
        / F.element_at(F.col("__us"), k).cast("double")
    )
    # exact audit: distinct counts + pairwise intersections off the
    # distinct (key, value) projection
    dv = df.select(
        F.col(key_col).alias("__k"), F.col(value_col).alias("__v")
    ).distinct()
    ex = dv.groupBy("__k").agg(F.count(F.lit(1)).alias("__c"))
    inter = (
        dv.select(F.col("__k").alias("key_a"), "__v")
        .join(
            dv.select(F.col("__k").alias("key_b"), "__v"),
            ["__v"],
        )
        .where(F.col("key_a") < F.col("key_b"))
        .groupBy("key_a", "key_b")
        .agg(F.count(F.lit(1)).alias("exact_intersection"))
    )
    out = (
        pairs.select(
            "key_a",
            "key_b",
            F.round(kmv_estimate(F.col("__sa"), k), 4).alias("est_a"),
            F.round(kmv_estimate(F.col("__sb"), k), 4).alias("est_b"),
            F.round(est_union, 4).alias("est_union"),
            F.round(jacc, 6).alias("est_jaccard"),
            F.round(jacc * est_union, 4).alias("est_intersection"),
        )
        .join(
            F.broadcast(ex.select(F.col("__k").alias("key_a"), F.col("__c").alias("exact_a"))),
            "key_a",
        )
        .join(
            F.broadcast(ex.select(F.col("__k").alias("key_b"), F.col("__c").alias("exact_b"))),
            "key_b",
        )
        .join(F.broadcast(inter), ["key_a", "key_b"], "left")
    )
    ia = F.coalesce(F.col("exact_intersection"), F.lit(0))
    return out.select(
        "key_a",
        "key_b",
        "est_a",
        "est_b",
        "est_union",
        "est_jaccard",
        "est_intersection",
        "exact_a",
        "exact_b",
        (F.col("exact_a") + F.col("exact_b") - ia).alias("exact_union"),
        ia.alias("exact_intersection2"),
        F.round(
            ia.cast("double")
            / (F.col("exact_a") + F.col("exact_b") - ia).cast("double"),
            6,
        ).alias("exact_jaccard"),
    ).withColumnRenamed("exact_intersection2", "exact_intersection")


def kmv_replay_state(
    spark,
    batches: list[list[dict]],
    schema: str,
    key_col: str,
    value_col: str,
    k: int = 64,
    seed: int = 77,
    timeout_s: int = 120,
) -> DataFrame:
    """Drive the KMV sketch through REAL micro-batches (the
    `cms_replay_state` harness): each batch appends its own per-key
    bottom-k as a batch-tagged parquet delta; the merged read explodes
    the deltas and re-takes the bottom-k per key — which must equal
    the one-pass sketch EXACTLY, because bottom-k is a semilattice
    (merge = min-k of union, associative + idempotent). That exactness
    is the property that lets a daily increment maintain corpus-wide
    distinct/set-op estimates without re-scanning history — and makes
    checkpoint-recovery double-appends harmless."""
    import json
    import os
    import tempfile
    import uuid

    d = tempfile.mkdtemp(prefix="tf2_kmv_")
    src = os.path.join(d, "src")
    os.makedirs(src)
    state_dir = os.path.join(d, "state")
    t0 = 1_700_000_000
    for i, rows in enumerate(batches):
        path = os.path.join(src, f"b{i:04d}.json")
        with open(path, "w") as fh:
            for r in rows:
                fh.write(json.dumps(r) + "\n")
        os.utime(path, (t0 + i * 10, t0 + i * 10))

    def fn(batch_df: DataFrame, batch_id: int) -> None:
        sk = kmv_sketch(batch_df, [key_col], value_col, k=k, seed=seed)
        sk.withColumn(
            "__bid", F.lit(batch_id).cast("long")
        ).write.mode("append").parquet(state_dir)

    prev_parts = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        spark.conf.set(
            "spark.sql.shuffle.partitions", "2"
        )  # fixture-scale replay: see stream_state.replay_batches
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .json(src)
        )
        q = (
            stream.writeStream.foreachBatch(fn)
            .queryName("tf2_kmv_" + uuid.uuid4().hex[:12])
            .option("checkpointLocation", os.path.join(d, "ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        if not q.awaitTermination(timeout_s):
            q.stop()
            raise TimeoutError(
                f"kmv_replay_state: stream did not drain "
                f"{len(batches)} batches within {timeout_s}s"
            )
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev_parts)
    merged = (
        spark.read.parquet(state_dir)
        .select(key_col, F.explode("sketch").alias("__h"))
        .distinct()
        .groupBy(key_col)
        .agg(
            F.slice(F.sort_array(F.collect_list("__h")), 1, k).alias("sketch")
        )
    )
    return merged.select(
        key_col,
        F.size("sketch").alias("sketch_size"),
        F.element_at("sketch", 1).alias("min_hash"),
        F.element_at("sketch", F.size("sketch")).alias("kth_hash"),
        F.round(kmv_estimate(F.col("sketch"), k), 4).alias("est_distinct"),
    )


def balance_replay_state(
    spark,
    batches: list[list[dict]],
    schema: str,
    key_cols: list[str],
    seq_col: str,
    delta_col: str,
    timeout_s: int = 120,
) -> DataFrame:
    """Streaming maintenance of the zero-clamped running balance
    (`extensions/windows.py::clamped_running_balance`) — the state is
    just ``(batch_sum, batch_min_prefix)`` per key per micro-batch,
    because the clamp's closed form merges: with prefix offset P
    (sum of earlier batches), a batch contributes candidate minimum
    ``P + batch_min_prefix``, and the final balance is
    ``S_total − min(0, min over batches)``. So an unbounded movement
    stream maintains exact clamped balances with TWO decimals per
    (key, batch) of state — no raw-row retention, no re-scan, and the
    replay equals the one-pass batch closed form bit-for-bit (the
    oracle). Same file-source/availableNow harness as
    :func:`cms_replay_state`; batch tags keep recovery idempotent."""
    import json
    import os
    import tempfile
    import uuid

    from pyspark.sql import Window

    d = tempfile.mkdtemp(prefix="tf2_bal_")
    src = os.path.join(d, "src")
    os.makedirs(src)
    state_dir = os.path.join(d, "state")
    t0 = 1_700_000_000
    for i, rows in enumerate(batches):
        path = os.path.join(src, f"b{i:04d}.json")
        with open(path, "w") as fh:
            for r in rows:
                fh.write(json.dumps(r) + "\n")
        os.utime(path, (t0 + i * 10, t0 + i * 10))

    def fn(batch_df: DataFrame, batch_id: int) -> None:
        w = (
            Window.partitionBy(*key_cols)
            .orderBy(seq_col)
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        )
        dq = F.round(F.col(delta_col), 6).cast("decimal(38,6)")
        staged = batch_df.select(
            *key_cols, F.sum(dq).over(w).alias("__ps"), dq.alias("__d")
        )
        (
            staged.groupBy(*key_cols)
            .agg(
                F.min("__ps").alias("batch_min_prefix"),
                F.sum("__d").alias("batch_sum"),
            )
            .withColumn("__bid", F.lit(batch_id).cast("long"))
            .write.mode("append")
            .parquet(state_dir)
        )

    prev_parts = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        spark.conf.set(
            "spark.sql.shuffle.partitions", "2"
        )  # fixture-scale replay: see stream_state.replay_batches
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .json(src)
        )
        q = (
            stream.writeStream.foreachBatch(fn)
            .queryName("tf2_bal_" + uuid.uuid4().hex[:12])
            .option("checkpointLocation", os.path.join(d, "ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        if not q.awaitTermination(timeout_s):
            q.stop()
            raise TimeoutError(
                f"balance_replay_state: stream did not drain "
                f"{len(batches)} batches within {timeout_s}s"
            )
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev_parts)

    return resolve_balance_state(spark.read.parquet(state_dir), key_cols)


def resolve_balance_state(
    state: DataFrame, key_cols: list[str]
) -> DataFrame:
    """Resolve batch-tagged (sum, min-prefix) deltas to final
    balances. Dedup on the batch tag first: without it a
    checkpoint-recovery retry double-counts its batch_sum AND
    poisons the prefix window."""
    from pyspark.sql import Window

    state = state.dropDuplicates([*key_cols, "__bid"])
    wprev = (
        Window.partitionBy(*key_cols)
        .orderBy("__bid")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    zero = F.lit(0).cast("decimal(38,6)")
    cand = F.coalesce(F.sum("batch_sum").over(wprev), zero) + F.col(
        "batch_min_prefix"
    )
    staged = state.select(
        *key_cols, "batch_sum", cand.alias("__cand")
    )
    agg = staged.groupBy(*key_cols).agg(
        F.count(F.lit(1)).alias("n_batches"),
        F.sum("batch_sum").alias("__total"),
        F.min("__cand").alias("__gmin"),
    )
    return agg.select(
        *key_cols,
        "n_batches",
        F.round(F.col("__total").cast("double"), 6).alias("final_raw"),
        F.round(
            (F.col("__total") - F.least(zero, F.col("__gmin"))).cast(
                "double"
            ),
            6,
        ).alias("final_balance"),
    )
