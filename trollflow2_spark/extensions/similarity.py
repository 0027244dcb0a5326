"""Similarity search over an embedding column (array<float>).

- brute-force cosine top-k: exact baseline; one pass over the table per
  query batch, dot products as JVM-side higher-order functions
  (``aggregate``/``zip_with``) — no Python in the loop.
- LSH/IVF-bucketed ANN: sign-bit coarse quantization restricts the scan
  to the query's cell (+ optional neighbor probes) — the 100 TB path:
  the bucket id is a uniform small key, so candidate generation is a
  broadcast-able equi-join instead of a cross join.

Determinism: cosine is float math; scores are rounded before ranking and
ties broken by id so results are stable across partitionings and match
the SQL oracle.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, Window, functions as F

from trollflow2_spark.extensions.windows import topk_per_group


def _dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def _norm(a: Column) -> Column:
    return F.sqrt(
        F.aggregate(
            F.transform(a, lambda x: x.cast("double") * x.cast("double")),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
    )


def embedding_pair_gate(
    df: DataFrame,
    vec_a: str = "vec_a",
    vec_b: str = "vec_b",
    threshold: float = 0.8,
    round_to: int = 6,
) -> DataFrame:
    """CLIP-score-style pair curation (the LAION recipe): a
    multimodal training pair survives only if its two embeddings
    (caption vs image, query vs passage, transcript vs audio) agree —
    ``pair_cos`` below ``threshold`` marks a mismatched/noisy pair.
    Appends ``pair_cos`` (rounded BEFORE the gate, so Spark and the
    SQL oracle compare identical doubles — the float filter cannot
    flap) and a ``kept`` flag; callers filter or audit drop rates per
    source. Pure Column algebra over the two array columns — one
    fused cosine fold per row, zero shuffle, scan-stage cost."""
    c = F.round(cosine(F.col(vec_a), F.col(vec_b)), round_to)
    return df.withColumn("pair_cos", c).withColumn(
        "kept", (F.col("pair_cos") >= threshold).cast("int")
    )


def cosine(a: Column, b: Column) -> Column:
    """One fused fold instead of three (dot + two norms): a single
    struct accumulator computes the same per-element ops in the same
    left-to-right order — bit-identical result, one array traversal,
    and a third of the codegen (the triple-fold form paid ~seconds of
    per-invocation compile in the int8 serving plan)."""
    acc = F.aggregate(
        F.zip_with(
            a,
            b,
            lambda x, y: F.struct(
                x.cast("double").alias("x"), y.cast("double").alias("y")
            ),
        ),
        F.struct(
            F.lit(0.0).alias("d"),
            F.lit(0.0).alias("na"),
            F.lit(0.0).alias("nb"),
        ),
        lambda s, p: F.struct(
            (s["d"] + p["x"] * p["y"]).alias("d"),
            (s["na"] + p["x"] * p["x"]).alias("na"),
            (s["nb"] + p["y"] * p["y"]).alias("nb"),
        ),
    )
    return acc["d"] / (F.sqrt(acc["na"]) * F.sqrt(acc["nb"]))


def brute_force_topk(
    df: DataFrame,
    queries: DataFrame,
    k: int = 10,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    query_id_col: str = "query_id",
    round_digits: int = 6,
) -> DataFrame:
    """Exact top-k cosine neighbors for each query row.

    ``queries``: (query_id, embedding). The query set is broadcast (it is
    small by construction); the base table is scanned once — the correct
    shape at scale, since the 100 TB side never shuffles.
    """
    q = F.broadcast(
        queries.select(
            F.col(query_id_col),
            F.col(vec_col).alias("__qvec"),
            _norm(F.col(vec_col)).alias("__qn"),
        )
    )
    # norms hoisted above the join (per-ROW facts): the per-pair work is
    # one dot fold; accumulation order — hence every double — matches
    # the fused cosine() exactly (the embedding_neardup convention)
    scored = df.withColumn("__vn", _norm(F.col(vec_col))).crossJoin(q).select(
        query_id_col,
        id_col,
        F.round(
            _dot(F.col(vec_col), F.col("__qvec"))
            / (F.col("__vn") * F.col("__qn")),
            round_digits,
        ).alias("cosine_sim"),
    )
    # exclude self-matches when query ids come from the same table
    scored = scored.filter(F.col(id_col) != F.col(query_id_col))
    return topk_per_group(
        scored,
        [query_id_col],
        [F.col("cosine_sim").desc(), F.col(id_col).asc()],
        k,
    ).select(query_id_col, id_col, "cosine_sim", "rank")


def quantize_embeddings(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Symmetric per-vector int8 quantization: ``scale = max|v| / 127``,
    ``q_i = round(v_i / scale)`` — the standard 4× compression for
    embedding stores (a 100 TB float32 embedding table becomes 25 TB of
    int8 + one float scale per row; scan, shuffle and cache traffic all
    shrink with it). Zero vectors keep scale 1 so dequantization is
    well-defined. Pure Column algebra in the scan stage — zero shuffle.

    Output: (id, q_embedding array<int>, q_scale double). Dequantize as
    ``q_i * q_scale``; for COSINE similarity the scales cancel, so
    quantized cosine needs only the int arrays (see
    :func:`quantized_topk`).
    """
    v = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    amax = F.array_max(F.transform(v, F.abs))
    scale = F.when(amax > 0, amax / F.lit(127.0)).otherwise(F.lit(1.0))
    q = F.transform(v, lambda x: F.round(x / scale).cast("int"))
    return df.select(
        F.col(id_col), q.alias("q_embedding"), scale.alias("q_scale")
    )


def quantized_topk(
    df: DataFrame,
    queries: DataFrame,
    k: int = 10,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    query_id_col: str = "query_id",
    round_digits: int = 6,
) -> DataFrame:
    """Top-k cosine neighbors over int8-QUANTIZED vectors — the memory/
    IO-bound scale path. Since cosine normalizes per vector, the
    per-vector dequantization scales cancel exactly:
    ``cos(q_a * s_a, q_b * s_b) = cos(q_a, q_b)`` — so the search runs
    entirely on the int arrays and never materializes dequantized
    floats. Same broadcast-queries / scan-once shape as
    :func:`brute_force_topk`; recall vs the float baseline is pinned in
    tests (int8 is near-lossless for cosine ranking).
    """
    # the int arrays feed the scorer directly: cosine casts per element
    # inside its fold, so a standalone cast-to-double transform would be
    # one more full interpreted array traversal for nothing
    qd = quantize_embeddings(df, vec_col, id_col).select(
        F.col(id_col), F.col("q_embedding").alias(vec_col)
    )
    qq = quantize_embeddings(queries, vec_col, query_id_col).select(
        F.col(query_id_col), F.col("q_embedding").alias(vec_col)
    )
    return brute_force_topk(
        qd, qq, k=k, vec_col=vec_col, id_col=id_col,
        query_id_col=query_id_col, round_digits=round_digits,
    )


def ivf_topk_quantized(
    df: DataFrame,
    queries: DataFrame,
    k: int = 5,
    n_probe: int = 2,
    n_clusters: int = 16,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    query_id_col: str = "query_id",
    round_digits: int = 6,
    max_cell_share: float | None = None,
) -> DataFrame:
    """The full production ANN stack: k-means IVF cells bound WHICH
    vectors are scored, int8 quantization bounds HOW BIG each scored
    vector is. Centroids are trained on the full-precision sample (the
    quantizer is fit once at index-build time); the stored/served
    vectors are int8, and since the per-vector dequantization scales
    cancel in cosine, assignment and scoring both run on the raw int
    arrays — floats never materialize on the serving path. At 100 TB:
    the scan reads a 4× smaller store AND touches only n_probe/k of it.
    """
    centroids = kmeans_centroids(
        df, vec_col=vec_col, id_col=id_col, k=n_clusters
    )
    # int arrays feed assignment + scoring directly (the numpy kernels
    # astype and the cosine fold casts per element) — no extra
    # interpreted cast traversal
    qd = quantize_embeddings(df, vec_col, id_col).select(
        F.col(id_col), F.col("q_embedding").alias(vec_col)
    )
    qq = quantize_embeddings(queries, vec_col, query_id_col).select(
        F.col(query_id_col), F.col("q_embedding").alias(vec_col)
    )
    return ivf_topk(
        qd, qq, centroids=centroids, k=k, n_probe=n_probe,
        n_clusters=n_clusters, vec_col=vec_col, id_col=id_col,
        query_id_col=query_id_col, round_digits=round_digits,
        max_cell_share=max_cell_share,
    )


def signbit_cell(vec: Column, n_bits: int = 4) -> Column:
    """Coarse IVF-style cell id from the sign bits of the first
    ``n_bits`` dimensions (a fixed axis-aligned hyperplane LSH)."""
    cell = F.lit(0)
    for i in range(n_bits):
        cell = cell + F.when(
            F.element_at(vec, i + 1).cast("double") >= 0, F.lit(2 ** i)
        ).otherwise(F.lit(0))
    return cell


def embedding_neardup_pairs(
    df: DataFrame,
    threshold: float = 0.3,
    n_bits: int = 4,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    round_digits: int = 6,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs: candidates from the sign-bit
    LSH cell self-join, verified by cosine >= ``threshold``.

    This is the embedding tier of the dedup family (exact / minhash /
    simhash / Jaccard / cosine): candidate generation is an equi-join on
    the cell id, so the all-pairs O(n^2) never materializes — at 100 TB
    the cell key is what keeps the shuffle bounded; more bits (or a
    k-means IVF) shrink cells at the cost of recall, and multi-probe
    wins it back.
    """
    # norms are per-vector: compute them once before the self-join instead
    # of twice per candidate pair (the pair count is quadratic in cell
    # size; the norm cost must stay linear in rows).
    base = df.select(
        F.col(id_col),
        F.col(vec_col),
        _norm(F.col(vec_col)).alias("__n"),
    ).withColumn("__cell", signbit_cell(F.col(vec_col), n_bits))
    a = base.select(
        F.col("__cell"), F.col(id_col).alias("id_a"),
        F.col(vec_col).alias("__va"), F.col("__n").alias("__na"),
    )
    b = base.select(
        F.col("__cell"), F.col(id_col).alias("id_b"),
        F.col(vec_col).alias("__vb"), F.col("__n").alias("__nb"),
    )
    sim = _dot(F.col("__va"), F.col("__vb")) / (F.col("__na") * F.col("__nb"))
    pairs = (
        a.join(b, "__cell")
        .filter(F.col("id_a") < F.col("id_b"))
        .select(
            "id_a",
            "id_b",
            F.round(sim, round_digits).alias("cosine_sim"),
        )
    )
    return pairs.filter(F.col("cosine_sim") >= F.lit(float(threshold)))


def label_centroids(
    df: DataFrame,
    dim: int,
    vec_col: str = "embedding",
    label_col: str = "label",
    round_digits: int = 6,
) -> DataFrame:
    """Per-label embedding centroids, long-form: (label, n_vectors, dim,
    centroid) — the class-prototype / cluster-drift profile of an
    embedded corpus.

    Shape note: NOT posexplode-then-group (that inflates the corpus
    ``dim``× before the shuffle). Instead one hash agg with ``dim``
    ``avg`` buffers — element access is JVM codegen, map-side combine
    collapses each partition to one row per label, and the shuffle
    carries labels × dim doubles total. The tiny result then unpivots to
    long form for consumers/oracles.
    """
    aggs = [
        F.avg(F.col(vec_col)[i]).alias(f"_d{i}") for i in range(int(dim))
    ]
    cent = df.groupBy(label_col).agg(F.count(F.lit(1)).alias("n_vectors"), *aggs)
    return cent.select(
        F.col(label_col),
        F.col("n_vectors"),
        F.posexplode(F.array(*[F.col(f"_d{i}") for i in range(int(dim))])).alias(
            "dim", "_v"
        ),
    ).select(
        label_col,
        "n_vectors",
        "dim",
        F.round(F.col("_v"), round_digits).alias("centroid"),
    )


def kmeans_centroids(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    k: int = 16,
    n_iter: int = 5,
    sample_n: int = 2048,
):
    """Deterministic driver-side Lloyd's k-means on a fixed sample — the
    coarse quantizer of a real IVF index (the production upgrade over
    the sign-bit cells).

    Determinism: the sample is the ``sample_n`` lowest-id vectors and
    the initial centroids are the first ``k`` of them, so every run (and
    every engine) converges identically. The sample is config-sized; the
    result is a tiny (k x dim) numpy array that broadcasts with the
    assignment UDF — training never shuffles the corpus.
    """
    pdf = (
        df.select(id_col, vec_col)
        .orderBy(id_col)
        .limit(int(sample_n))
        .toPandas()
    )
    X = np.stack(pdf[vec_col].to_numpy()).astype("float64")
    return kmeans_centroids_np(X, k=k, n_iter=n_iter)


def kmeans_centroids_np(X, k: int = 16, n_iter: int = 5):
    """Numpy core of :func:`kmeans_centroids` on the raw sample matrix —
    shared with the oracle generator (oracles.py) so the centroid
    literals in the DuckDB SQL are bit-identical to the Spark path."""
    X = np.asarray(X, dtype="float64").copy()
    X /= np.maximum(np.linalg.norm(X, axis=1, keepdims=True), 1e-12)
    C = X[: int(k)].copy()
    for _ in range(int(n_iter)):
        assign = np.argmax(X @ C.T, axis=1)  # cosine on unit vectors
        for j in range(int(k)):
            members = X[assign == j]
            if len(members):
                c = members.mean(axis=0)
                C[j] = c / max(np.linalg.norm(c), 1e-12)
    return C


def kmeans_train_distributed(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    k: int = 4,
    iters: int = 3,
) -> DataFrame:
    """Distributed Lloyd's k-means over the FULL corpus — the training
    twin of the driver-sample quantizer :func:`kmeans_centroids`, for
    when the assignment structure must come from every vector, not a
    config-sized sample. Same iterative-trainer discipline as
    ``logreg_train`` / ``bpe_train``: the corpus is scanned once into
    a narrow checkpointed (id, quantized-vector) table; every Lloyd
    iteration is ONE map-side-combinable aggregation (k x dim bigint
    means) whose k-row result is the only collect — shuffle volume is
    k x dim longs per partition, independent of corpus size.

    Determinism (the unrolled-recurrence oracle contract): vector
    components quantize once to integer micro-units (1e-6), so
    distances are EXACT bigint sums with argmin ties broken by lowest
    cell index; centroid updates round the per-cell mean back to
    micro-units each iteration (both engines round half away from
    zero); empty cells keep their previous centroid. A DuckDB replay
    of all ``iters`` iterations reproduces the final assignment and
    distances bit-for-bit.

    Output: one row per vector — (id, cell, dist_q) under the FINAL
    centroids, dist_q the exact squared L2 in micro-unit space.
    """
    q = df.select(
        F.col(id_col),
        F.transform(
            F.col(vec_col),
            lambda x: F.round(x.cast("double") * F.lit(1000000.0)).cast(
                "bigint"
            ),
        ).alias("xq"),
    ).localCheckpoint()
    # init = the k lowest-id vectors (NOT `id < k` — ids need not be
    # dense); fewer vectors than k degrades to k = n cleanly
    init = q.orderBy(id_col).limit(k).collect()
    cents: list[list[int]] = [list(r["xq"]) for r in init]
    if not cents:
        raise ValueError("kmeans_train_distributed: empty input")
    k = len(cents)
    dim = len(cents[0])

    # r15 planning-cost shave: the old form projected k flat distance
    # columns (dim quadratic terms each) and argmin'd them with a
    # CASE whose conditions referenced every column up to k-1 times —
    # CollapseProject inlined the distances into the CASE, so every
    # iteration's optimizer pass walked a ~k²·dim-node tree (~0.9 s of
    # DRIVER time per iteration at k=4, dim=64; the tasks took 0.1 s).
    # One transform over a k×dim array literal computes the same exact
    # bigint distances in a ~k·dim-node tree; array_position of the
    # array_min picks the SAME argmin (first match = lowest-index
    # tie-break, least() = array_min). Arithmetic is identical bigint
    # ops, so values are unchanged (oracle-verified).
    def dists_sql(cs: list[list[int]]) -> str:
        lit = "array(" + ", ".join(
            "array(" + ", ".join(f"{int(x)}L" for x in c) + ")"
            for c in cs
        ) + ")"
        return (
            f"transform({lit}, c -> aggregate("
            "zip_with(xq, c, (x, cc) -> (x - cc) * (x - cc)), "
            "0L, (a, b) -> a + b))"
        )

    # coalesce restores the old CASE's ELSE branch for the NULL edge:
    # a NULL vector component (or a short vector NULL-padded by
    # zip_with) turns that row's k distances NULL, array_min/
    # array_position then yield NULL, and the cell must fall back to
    # k-1 exactly as the flat CASE did — not crash the training loop
    # on cents[int(None)]. Non-null rows are untouched (coalesce is a
    # no-op on a found position).
    CELL_SQL = (
        f"CAST(coalesce(array_position(__d, array_min(__d)), {k}L) - 1 "
        "AS INT)"
    )

    spark = q.sparkSession
    # fresh literal-bearing plan per iteration: interpreted mode skips
    # per-iteration codegen compilation of one narrow cached agg.
    # The toggle is scoped to a CHILD session (spark.newSession():
    # shared SparkContext + cached blocks, isolated SQL conf) reached
    # through a global temp view over the localCheckpointed input —
    # concurrent queries on the caller's session keep whole-stage
    # codegen; the parent conf is never written (pinned in
    # tests/test_kmeans_train.py).
    train = spark.newSession()
    train.conf.set("spark.sql.codegen.wholeStage", "false")
    # AQE off for the merge loop (same discipline as logreg_train /
    # the tokenizer trainers, r15): each iteration is one map-side-
    # combinable agg whose result is k rows — AQE's per-exchange
    # re-planning adds a query stage + job per iteration with nothing
    # to adapt. Scoped to the child session; the caller's session (and
    # the checkpointed scan + final scoring plan) keep AQE.
    train.conf.set("spark.sql.adaptive.enabled", "false")
    # the iteration agg's reduce side holds ≤ k rows (map-side combine
    # collapses each partition to ≤ k first) — one reduce partition is
    # right at ANY corpus scale; sized to k, not to the local host
    train.conf.set("spark.sql.shuffle.partitions", "1")
    view = f"kmeans_train_{id(q)}"
    q.createOrReplaceGlobalTempView(view)
    qt = train.table(f"global_temp.{view}")
    try:
        for _ in range(iters):
            scored = qt.selectExpr(
                "xq", f"{dists_sql(cents)} AS __d"
            ).selectExpr("xq", f"{CELL_SQL} AS cell")
            rows = (
                scored.groupBy("cell")
                .agg(
                    *[
                        F.round(F.avg(F.expr(f"xq[{j}]")))
                        .cast("bigint")
                        .alias(f"c{j}")
                        for j in range(dim)
                    ]
                )
                .collect()
            )
            for r in rows:  # absent cells keep their previous centroid
                cents[int(r["cell"])] = [
                    int(r[f"c{j}"]) for j in range(dim)
                ]
    finally:
        spark.catalog.dropGlobalTempView(view)

    out = q.selectExpr(id_col, f"{dists_sql(cents)} AS __d")
    return out.selectExpr(
        id_col,
        f"{CELL_SQL} AS cell",
        "CAST(array_min(__d) AS BIGINT) AS dist_q",
    )


def ivf_topk(
    df: DataFrame,
    queries: DataFrame,
    centroids=None,
    k: int = 5,
    n_probe: int = 2,
    n_clusters: int = 16,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    query_id_col: str = "query_id",
    round_digits: int = 6,
    max_cell_share: float | None = None,
) -> DataFrame:
    """IVF approximate top-k: k-means coarse cells instead of sign bits.

    Corpus vectors are assigned to their nearest centroid by an
    Arrow-batched pandas UDF (one numpy matmul per batch — map-side, no
    shuffle); each query probes its ``n_probe`` nearest cells, and only
    those cells' members are scored exactly. At 100 TB: assignment is a
    map over the corpus, candidate generation is an equi-join on a
    balanced small key (k-means balances cells where sign-bit cells
    can't), and multi-probe trades scan fraction for recall.
    """
    if centroids is None:
        centroids = kmeans_centroids(
            df, vec_col=vec_col, id_col=id_col, k=n_clusters
        )
    if max_cell_share is not None:
        # pre-flight skew audit: a cell holding more than max_share of
        # the corpus makes the probe equi-join one hot partition
        assert_cell_balance(
            df, centroids=centroids, n_clusters=n_clusters,
            vec_col=vec_col, id_col=id_col, max_share=max_cell_share,
        )
    C = np.asarray(centroids, dtype="float64")

    # dots are rounded to 6 before argmax/argsort (ties -> lowest cell,
    # stable) so the cell choice is reproducible across engines — the
    # DuckDB oracle replicates the same rounded comparison
    @F.pandas_udf("int")
    def assign_cell(vecs: pd.Series) -> pd.Series:
        X = np.stack(vecs.to_numpy()).astype("float64")
        X /= np.maximum(np.linalg.norm(X, axis=1, keepdims=True), 1e-12)
        return pd.Series(np.argmax(np.round(X @ C.T, 6), axis=1).astype("int32"))

    probe = int(n_probe)

    @F.pandas_udf("array<int>")
    def probe_cells(vecs: pd.Series) -> pd.Series:
        X = np.stack(vecs.to_numpy()).astype("float64")
        X /= np.maximum(np.linalg.norm(X, axis=1, keepdims=True), 1e-12)
        d = np.round(X @ C.T, 6)
        order = np.argsort(-d, axis=1, kind="stable")[:, :probe].astype("int32")
        return pd.Series(list(order))

    base = df.withColumn("__cell", assign_cell(F.col(vec_col))).withColumn(
        "__vn", _norm(F.col(vec_col))
    )
    q = F.broadcast(
        queries.select(
            F.col(query_id_col),
            F.col(vec_col).alias("__qvec"),
            _norm(F.col(vec_col)).alias("__qn"),
        ).withColumn("__cell", F.explode(probe_cells(F.col("__qvec"))))
    )
    # norms hoisted above the join — bit-identical to cosine(), one dot
    # fold per pair instead of the fused three-sum traversal
    scored = base.join(q, "__cell").select(
        query_id_col,
        id_col,
        F.round(
            _dot(F.col(vec_col), F.col("__qvec"))
            / (F.col("__vn") * F.col("__qn")),
            round_digits,
        ).alias("cosine_sim"),
    )
    scored = scored.filter(F.col(id_col) != F.col(query_id_col))
    return topk_per_group(
        scored,
        [query_id_col],
        [F.col("cosine_sim").desc(), F.col(id_col).asc()],
        k,
    ).select(query_id_col, id_col, "cosine_sim", "rank")


def semantic_dedup_clusters(
    df: DataFrame,
    centroids=None,
    threshold: float = 0.3,
    n_clusters: int = 8,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    round_digits: int = 6,
    max_cell: int = 100_000,
    salt_threshold: int = 256,
    recover_rounds: int = 0,
    max_cell_share: float | None = None,
) -> DataFrame:
    """SemDeDup-shaped semantic deduplication (Abbas et al. 2023,
    arXiv:2303.09540): k-means coarse cells bound the candidate space,
    within-cell pairs whose cosine clears ``threshold`` become edges,
    connected components resolve duplicate clusters, and the min-id
    member of each cluster is canonical. Output per vector:
    (id, cluster_id, is_canonical, cluster_size) — filter
    ``is_canonical = 1`` for the semantically deduplicated corpus.

    This is the embedding-space sibling of the minhash/simhash dedup
    chain: where those catch lexical near-dups, this catches *semantic*
    ones (same content re-written, translated boilerplate, templated
    paraphrases) that no shingle tier can see.

    Scale shape: centroid training reads a fixed config-sized sample
    (never shuffles the corpus); assignment is one Arrow-batched matmul
    map over the scan; candidate pairs go through the SAME salt/cap/
    audit machinery as the lexical LSH tier (``_bucketed_pairs``):
    cells larger than ``max_cell`` are dropped outright, cells larger
    than ``salt_threshold`` are salted into bounded round-robin
    sub-buckets (``recover_rounds`` buys back part of the recall loss
    with rotated re-chunk passes), so a hot k-means cell can NEVER
    materialize a single O(n_cell²) task — k-means balances cells where
    sign bits can't, and the guard covers the case where it doesn't.
    The cosine verify then joins the candidate ids back to the vectors
    (two hash joins keyed on id), so only (id, cell) and (id_a, id_b)
    rows ride the candidate shuffles, never the vectors. Clustering is
    the same per-round equi-join + min-agg label propagation as the
    lexical tiers.

    Pre-flight: pass ``max_cell_share`` (e.g. ``0.25``) to abort with
    guidance when any cell holds more than that share of the corpus —
    :func:`assert_cell_balance` wired in as the skew audit
    (:func:`kmeans_cluster_stats` is the observable histogram behind
    it). Defaults keep the guard-free direct path at oracle/test scale
    (no cell near 256 members), so results stay exactly the within-cell
    all-pairs closure the DuckDB oracle replays.

    Determinism: same rounded-argmax assignment as :func:`ivf_topk`
    (ties to the lowest cell), cosine rounded before the threshold —
    the DuckDB oracle replays centroid literals from the shared
    :func:`kmeans_centroids_np` bit-for-bit.
    """
    from trollflow2_spark.extensions.dedup import duplicate_clusters

    if centroids is None:
        centroids = kmeans_centroids(
            df, vec_col=vec_col, id_col=id_col, k=n_clusters
        )
    if max_cell_share is not None:
        assert_cell_balance(
            df,
            centroids=centroids,
            n_clusters=n_clusters,
            vec_col=vec_col,
            id_col=id_col,
            max_share=max_cell_share,
        )
    pairs = semantic_candidate_pairs(
        df,
        centroids,
        threshold=threshold,
        vec_col=vec_col,
        id_col=id_col,
        round_digits=round_digits,
        max_cell=max_cell,
        salt_threshold=salt_threshold,
        recover_rounds=recover_rounds,
    )
    return duplicate_clusters(df.select(F.col(id_col)), pairs, id_col=id_col)


def semantic_candidate_pairs(
    df: DataFrame,
    centroids,
    threshold: float = 0.3,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    round_digits: int = 6,
    max_cell: int = 100_000,
    salt_threshold: int = 256,
    recover_rounds: int = 0,
) -> DataFrame:
    """Cosine-verified within-cell candidate pairs — the SemDeDup edge
    generator, exposed standalone for API parity with
    :func:`~trollflow2_spark.extensions.dedup.lsh_candidate_pairs` (and
    so the guard plan is pinnable by tests). Cell membership rides the
    shared ``_bucketed_pairs`` salt/cap machinery; the cosine verify
    joins candidate ids back to the vectors (two hash joins on id), so
    a hot cell costs many bounded sub-bucket tasks, never one
    O(n_cell²) task.

    Adaptive routing (r8): unlike the lexical LSH tier, the cell-key
    cardinality here is the *config-bounded* ``n_clusters`` — so a
    k-row cell histogram is control-plane-cheap, and the guard only
    needs to be PAID where it is needed.  Membership (id, cell) is
    persisted (two narrow columns — the assignment matmul runs exactly
    once), the histogram is collected, and then per-cell routing:
    balanced cells take the direct within-cell pair closure (one hash
    agg, no salting union, no pair ``distinct``); only cells above
    ``salt_threshold`` ride the salt/cap/recover machinery.  When the
    histogram shows no hot cell at all — the common case after the
    :func:`assert_cell_balance` pre-flight — the whole salted branch
    (and its extra aggregation + distinct shuffle) vanishes from the
    plan."""
    from trollflow2_spark.extensions.dedup import (
        _bucketed_pairs,
        _pair_explode,
    )

    Cm = np.asarray(centroids, dtype="float64")

    @F.pandas_udf("int")
    def assign_cell(vecs: pd.Series) -> pd.Series:
        X = np.stack(vecs.to_numpy()).astype("float64")
        X /= np.maximum(np.linalg.norm(X, axis=1, keepdims=True), 1e-12)
        return pd.Series(np.argmax(np.round(X @ Cm.T, 6), axis=1).astype("int32"))

    # localCheckpoint, not persist(): the (id, cell) table is
    # materialized exactly once (eager) for the histogram AND the
    # downstream routing, but its blocks are released by the
    # ContextCleaner when the plan is garbage-collected — a plain
    # .persist() here stayed pinned for the session's lifetime, one
    # leaked cached table per invocation across a 175-query sweep.
    members = df.select(
        F.col(id_col), assign_cell(F.col(vec_col)).alias("__cell")
    ).localCheckpoint(eager=True)
    hist = {
        r["__cell"]: r["n"]
        for r in members.groupBy("__cell").agg(F.count("*").alias("n")).collect()
    }
    hot = [c for c, n in hist.items() if salt_threshold < n <= max_cell]
    oversized = [c for c, n in hist.items() if n > max_cell]

    def _direct(m: DataFrame) -> DataFrame:
        return _pair_explode(
            m.groupBy("__cell")
            .agg(F.array_sort(F.collect_list(id_col)).alias("ids"))
            .filter(F.size("ids") >= 2)
        )

    if not hot and not oversized:
        cand = _direct(members)
    else:
        cold = members.filter(~F.col("__cell").isin(hot + oversized))
        cand = _direct(cold)
        if hot:
            cand = cand.unionByName(
                _bucketed_pairs(
                    members.filter(F.col("__cell").isin(hot)),
                    id_col,
                    ["__cell"],
                    max_bucket=max_cell,
                    salt_threshold=salt_threshold,
                    recover_rounds=recover_rounds,
                )
            )
    # The verify joins need only (id, vector, norm) — NOT the cell — so
    # they read the raw table and skip re-running the assignment UDF
    # (which would otherwise re-score the whole corpus twice more).
    # shuffle_hash: the pair side is bigger than the vector side and
    # neither needs to be sorted — SMJ's two sorts are pure overhead.
    va = df.select(
        F.col(id_col).alias("id_a"),
        F.col(vec_col).alias("__va"),
        _norm(F.col(vec_col)).alias("__na"),
    ).hint("shuffle_hash")
    vb = df.select(
        F.col(id_col).alias("id_b"),
        F.col(vec_col).alias("__vb"),
        _norm(F.col(vec_col)).alias("__nb"),
    ).hint("shuffle_hash")
    sim = _dot(F.col("__va"), F.col("__vb")) / (F.col("__na") * F.col("__nb"))
    return (
        cand.join(va, "id_a")
        .join(vb, "id_b")
        .select("id_a", "id_b", F.round(sim, round_digits).alias("__cos"))
        .filter(F.col("__cos") >= F.lit(float(threshold)))
        .select("id_a", "id_b")
    )


def kmeans_cluster_stats(
    df: DataFrame,
    centroids=None,
    n_clusters: int = 8,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    round_digits: int = 6,
) -> DataFrame:
    """Per-k-means-cell corpus profile: member count, mean/min cosine
    to the assigned centroid, corpus share — the cluster-quality /
    drift dashboard behind IVF indexes and SemDeDup (a cell with low
    mean cosine is a bad quantizer cell; a cell holding half the corpus
    is a skew risk for every downstream cell-keyed join).

    Scale: assignment is the same Arrow matmul map as :func:`ivf_topk`;
    the rollup is ONE hash agg keyed on the cell id (k rows out). The
    corpus total rides a window over the k-row result, not a second
    scan."""
    if centroids is None:
        centroids = kmeans_centroids(
            df, vec_col=vec_col, id_col=id_col, k=n_clusters
        )
    Cm = np.asarray(centroids, dtype="float64")

    @F.pandas_udf("struct<cell:int,cos:double>")
    def assign_and_cos(vecs: pd.Series) -> pd.DataFrame:
        X = np.stack(vecs.to_numpy()).astype("float64")
        X /= np.maximum(np.linalg.norm(X, axis=1, keepdims=True), 1e-12)
        d = np.round(X @ Cm.T, 6)
        cell = np.argmax(d, axis=1)
        return pd.DataFrame(
            {
                "cell": cell.astype("int32"),
                "cos": d[np.arange(len(cell)), cell],
            }
        )

    base = df.select(assign_and_cos(F.col(vec_col)).alias("ac")).select(
        F.col("ac.cell").alias("cell"), F.col("ac.cos").alias("cos")
    )
    agg = base.groupBy("cell").agg(
        F.count(F.lit(1)).alias("n_vectors"),
        F.round(F.avg("cos"), round_digits).alias("mean_cos"),
        F.round(F.min("cos"), round_digits).alias("min_cos"),
    )
    total = Window.partitionBy()
    return agg.select(
        "cell",
        "n_vectors",
        "mean_cos",
        "min_cos",
        F.round(
            F.col("n_vectors") / F.sum("n_vectors").over(total), round_digits
        ).alias("share"),
    )


def assert_cell_balance(
    df: DataFrame,
    centroids=None,
    n_clusters: int = 8,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    max_share: float = 0.5,
) -> DataFrame:
    """Pre-flight skew audit for every cell-keyed tier (IVF serving,
    IVF-PQ, SemDeDup): computes :func:`kmeans_cluster_stats` and raises
    ``ValueError`` with sizing guidance when any k-means cell holds more
    than ``max_share`` of the corpus — a cell that big turns every
    downstream cell equi-join into one hot partition, which salting can
    bound but not make cheap. Returns the stats DataFrame (k rows,
    already computed) so callers can log the histogram they were gated
    on.

    Scale: the audit is one Arrow-matmul map + one k-row hash agg —
    strictly cheaper than any query it gates.
    """
    stats = kmeans_cluster_stats(
        df,
        centroids=centroids,
        n_clusters=n_clusters,
        vec_col=vec_col,
        id_col=id_col,
    )
    hot = (
        stats.filter(F.col("share") > float(max_share))
        .select("cell", "n_vectors", "share")
        .collect()  # k-row result at most — control-plane sized
    )
    if hot:
        worst = max(hot, key=lambda r: r["share"])
        raise ValueError(
            f"k-means cell {worst['cell']} holds {worst['share']:.1%} of the "
            f"corpus ({worst['n_vectors']} vectors) — exceeds the "
            f"max_share={max_share:.0%} balance gate. Retrain with a larger "
            f"k (n_clusters), a bigger training sample, or normalize the "
            f"embedding space; see kmeans_cluster_stats for the histogram."
        )
    return stats


def semantic_cell_guard_stats(
    df: DataFrame,
    centroids=None,
    n_clusters: int = 8,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    max_cell: int = 100_000,
    salt_threshold: int = 256,
) -> DataFrame:
    """One-row visibility audit for the SemDeDup cell guards — the
    embedding-space sibling of ``lsh_bucket_stats``: how many pairable
    cells exist, how many would be salted, how many dropped, the
    largest cell, and the share of within-cell candidate pairs the
    salt/cap guards would skip (``pairs_skipped_share``). Recall loss
    from guarding must be observable, not silent.

    Scale: assignment map + one k-row agg; no pair materialization —
    the pair counts are closed-form n*(n-1)/2 per cell.
    """
    if centroids is None:
        centroids = kmeans_centroids(
            df, vec_col=vec_col, id_col=id_col, k=n_clusters
        )
    Cm = np.asarray(centroids, dtype="float64")

    @F.pandas_udf("int")
    def assign_cell(vecs: pd.Series) -> pd.Series:
        X = np.stack(vecs.to_numpy()).astype("float64")
        X /= np.maximum(np.linalg.norm(X, axis=1, keepdims=True), 1e-12)
        return pd.Series(np.argmax(np.round(X @ Cm.T, 6), axis=1).astype("int32"))

    t = int(salt_threshold)
    sizes = (
        df.select(assign_cell(F.col(vec_col)).alias("cell"))
        .groupBy("cell")
        .agg(F.count(F.lit(1)).alias("n"))
        .filter(F.col("n") >= 2)
    )
    all_pairs = F.col("n") * (F.col("n") - 1) / 2
    # salted cells keep ~floor(n/t) full sub-buckets of t(t-1)/2 pairs
    # each (plus a remainder chunk) — closed-form lower bound on kept
    kept_salted = (
        F.floor(F.col("n") / t) * F.lit(t * (t - 1) / 2)
        + (F.col("n") % t) * (F.col("n") % t - 1) / 2
    )
    return sizes.agg(
        F.count(F.lit(1)).alias("n_cells"),
        F.sum(
            F.when((F.col("n") > t) & (F.col("n") <= max_cell), 1).otherwise(0)
        ).alias("n_salted"),
        F.sum(F.when(F.col("n") > max_cell, 1).otherwise(0)).alias("n_dropped"),
        F.max("n").alias("max_cell_size"),
        F.round(
            (
                F.sum(
                    F.when(F.col("n") > max_cell, all_pairs)
                    .when(F.col("n") > t, all_pairs - kept_salted)
                    .otherwise(F.lit(0))
                )
                / F.sum(all_pairs)
            ),
            6,
        ).alias("pairs_skipped_share"),
    )


def ann_bucketed_topk(
    df: DataFrame,
    queries: DataFrame,
    k: int = 5,
    n_bits: int = 4,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    query_id_col: str = "query_id",
    round_digits: int = 6,
) -> DataFrame:
    """Approximate top-k: only candidates in the query's sign-bit cell are
    scored. Recall improves with multi-probe (neighbor cells); this is
    the single-probe baseline.

    Scale: the equi-join on ``cell`` prunes ~(1 - 2^-n_bits) of the scan;
    with a real IVF (k-means coarse centroids) the cells are balanced by
    construction — the sign-bit variant keeps everything closed-form.
    """
    base = df.withColumn("__cell", signbit_cell(F.col(vec_col), n_bits)).withColumn(
        "__vn", _norm(F.col(vec_col))
    )
    q = F.broadcast(
        queries.select(
            F.col(query_id_col),
            F.col(vec_col).alias("__qvec"),
            _norm(F.col(vec_col)).alias("__qn"),
        ).withColumn("__cell", signbit_cell(F.col("__qvec"), n_bits))
    )
    scored = base.join(q, "__cell").select(
        query_id_col,
        id_col,
        F.round(
            _dot(F.col(vec_col), F.col("__qvec"))
            / (F.col("__vn") * F.col("__qn")),
            round_digits,
        ).alias("cosine_sim"),
    )
    scored = scored.filter(F.col(id_col) != F.col(query_id_col))
    return topk_per_group(
        scored,
        [query_id_col],
        [F.col("cosine_sim").desc(), F.col(id_col).asc()],
        k,
    ).select(query_id_col, id_col, "cosine_sim", "rank")


def pca_components_np(X, n_components: int = 4, n_iter: int = 50):
    """Deterministic power-iteration PCA on the raw sample matrix:
    center, then per component run ``n_iter`` fixed iterations of
    ``v <- normalize(Cov v)`` from the deterministic init ``e_j`` (the
    j-th unit basis vector), deflating the covariance action after each
    component. No RNG, no LAPACK — every engine reproduces the same
    components bit-for-bit, which is what lets the DuckDB oracle carry
    them as literals. Returns ``(mean, components[k][d])``.

    Shared with the oracle generator (oracles.py), mirroring
    :func:`kmeans_centroids_np`.
    """
    X = np.asarray(X, dtype="float64")
    mu = X.mean(axis=0)
    Xc = X - mu
    n, d = Xc.shape
    comps = []
    for j in range(int(n_components)):
        v = np.zeros(d)
        v[j % d] = 1.0
        for _ in range(int(n_iter)):
            w = Xc.T @ (Xc @ v) / n
            for c in comps:  # deflate prior components
                w -= (w @ c) * c
            nv = np.linalg.norm(w)
            if nv < 1e-12:
                break
            v = w / nv
        # deterministic sign: largest-|coord| entry is positive
        a = int(np.argmax(np.abs(v)))
        if v[a] < 0:
            v = -v
        comps.append(v)
    return mu, np.stack(comps)


def pca_project(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    n_components: int = 4,
    sample_n: int = 2048,
    round_digits: int = 6,
) -> DataFrame:
    """Project embeddings onto deterministic PCA components — the
    dimensionality-reduction step before clustering / visualization /
    cheap ANN. Components fit driver-side on the ``sample_n``-lowest-id
    sample (config-sized, like the IVF coarse quantizer — training
    never shuffles the corpus) and fold into pure Column expressions:
    ``pc_k = dot(x, w_k) - dot(mu, w_k)`` where the second term is a
    folded literal. ZERO shuffle — projection happens in the scan
    stage under whole-stage codegen, no UDF.
    """
    pdf = (
        df.select(id_col, vec_col).orderBy(id_col).limit(int(sample_n))
        .toPandas()
    )
    X = np.stack(pdf[vec_col].to_numpy()).astype("float64")
    mu, W = pca_components_np(X, n_components=n_components)
    cols = [F.col(id_col)]
    for k in range(W.shape[0]):
        w = W[k]
        lits = F.array(*[F.lit(float(v)) for v in w])
        dot = F.aggregate(
            F.zip_with(F.col(vec_col), lits,
                       lambda x, c: x.cast("double") * c),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
        cols.append(
            F.round(dot - F.lit(float(mu @ w)), round_digits).alias(
                f"pc{k}"
            )
        )
    return df.select(*cols)


def pq_codebooks_np(X, m: int = 8, k: int = 16, n_iter: int = 5):
    """Deterministic product-quantization codebooks: dimensions split
    into ``m`` contiguous sub-vectors; plain-L2 Lloyd's k-means per
    subspace (first-``k`` init, fixed iterations, L2 argmin with
    lowest-code ties) — no RNG, so both engines and the oracle agree
    bit-for-bit. Returns ``(m, k, d/m)`` float64 codebooks."""
    X = np.asarray(X, dtype="float64")
    n, d = X.shape
    if d % m:
        raise ValueError(f"dim {d} not divisible by m={m}")
    sub = d // m
    books = np.empty((m, k, sub))
    for s in range(m):
        Xs = X[:, s * sub : (s + 1) * sub]
        C_ = Xs[:k].copy()
        for _ in range(int(n_iter)):
            d2 = ((Xs[:, None, :] - C_[None, :, :]) ** 2).sum(axis=2)
            assign = np.argmin(d2, axis=1)  # ties -> lowest code
            for j in range(k):
                members = Xs[assign == j]
                if len(members):
                    C_[j] = members.mean(axis=0)
        books[s] = C_
    return books


def pq_encode(
    df: DataFrame,
    books: np.ndarray,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Encode each vector as ``m`` one-byte codes (nearest codebook
    entry per subspace, squared L2; ties to the lowest code). The
    64-dim float store becomes m bytes/vector — 32x smaller than
    float32.

    Arrow-batched numpy kernel over ``mapInPandas`` — map-side, ZERO
    shuffle; the distance accumulates dimension-by-dimension in double
    (the same left-to-right order as the SQL oracle's term sum, so both
    engines produce bit-identical doubles and the argmin ties
    identically without any rounding fudge). A pure-Column form exists
    but its m*k*(d/m)-term expression tree costs more in Catalyst
    analysis + codegen than the whole job at any scale — the kernel is
    the production path.
    """
    from pyspark.sql import types as T

    m, k, sub = books.shape
    B = np.ascontiguousarray(books, dtype="float64")
    out_schema = T.StructType(
        [T.StructField(id_col, T.LongType())]
        + [T.StructField(f"code_{s}", T.IntegerType()) for s in range(m)]
    )

    def kernel(batches):
        import pandas as pd

        for pdf in batches:
            X = np.stack(pdf[vec_col].to_numpy()).astype("float64")
            out = {id_col: pdf[id_col]}
            for s in range(m):
                Xs = X[:, s * sub : (s + 1) * sub]
                d2 = np.zeros((len(X), k))
                for i in range(sub):  # sequential: matches SQL term order
                    t = Xs[:, i, None] - B[s, :, i][None, :]
                    d2 += t * t
                out[f"code_{s}"] = np.argmin(d2, axis=1).astype("int32")
            yield pd.DataFrame(out)

    return df.select(id_col, vec_col).mapInPandas(kernel, out_schema)


def pq_topk(
    df_codes: DataFrame,
    books: np.ndarray,
    query_vecs,
    k: int = 10,
    id_col: str = "vec_id",
    round_digits: int = 6,
) -> DataFrame:
    """Asymmetric-distance top-k over PQ codes (the IVF-PQ serving
    read path): for each query, the per-subspace distance table to all
    codebook entries is computed ONCE driver-side (m x k doubles —
    config-sized) and folded in as array literals; each stored vector's
    approximate distance is then m table lookups + a sum — the float
    vectors are never read. ONE scan serves every query (the per-query
    scores ride an exploded struct array); smallest distance wins,
    ties to the lowest id.
    """
    m, kc, sub = books.shape
    structs = []
    for qid, qv in query_vecs:
        qv = np.asarray(qv, dtype="float64")
        score = F.lit(0.0)
        for s in range(m):
            table = [
                round(
                    float(((qv[s * sub : (s + 1) * sub] - books[s, j]) ** 2
                           ).sum()),
                    10,
                )
                for j in range(kc)
            ]
            lut = F.array(*[F.lit(v) for v in table])
            score = score + F.element_at(lut, F.col(f"code_{s}") + 1)
        structs.append(
            F.struct(
                F.lit(int(qid)).alias("query_id"),
                F.round(score, round_digits).alias("adc_dist"),
            )
        )
    exploded = df_codes.select(
        F.col(id_col), F.explode(F.array(*structs)).alias("s")
    ).select("s.query_id", id_col, "s.adc_dist")
    return topk_per_group(
        exploded, ["query_id"],
        [F.col("adc_dist").asc(), F.col(id_col).asc()], k,
    )


def ivf_drift_audit(
    base: DataFrame,
    new: DataFrame,
    centroids=None,
    n_clusters: int = 16,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    round_digits: int = 6,
) -> DataFrame:
    """Incremental-index maintenance: assign a new embedding increment
    to the FROZEN IVF coarse quantizer and audit drift per cell — the
    operational answer to "when do we re-train the index" at 100 TB,
    where re-clustering the corpus per increment is off the table.

    One Arrow matmul kernel assigns base∪new map-side (broadcast
    centroids, no shuffle before the k-row cell aggregate); per cell:
    old/new populations, growth, and mean assignment similarity of
    each population. A cell whose new members sit much further from
    its centroid than the old ones (``sim_drift`` > 0) is where the
    increment's distribution has left the index behind.

    Cross-engine float discipline: the per-vector similarity is
    rounded (the shared rounded-argmax convention), then accumulated
    as integer MICRO-UNITS (sum of round(sim*1e6) as bigint) so the
    mean is a ratio of exact integers — no float-summation-order
    drift between Spark and the oracle.
    """
    if centroids is None:
        centroids = kmeans_centroids(
            base, vec_col=vec_col, id_col=id_col, k=n_clusters
        )
    Cm = np.asarray(centroids, dtype="float64")

    @F.pandas_udf("struct<cell:int,sim:double>")
    def assign(vecs: pd.Series) -> pd.DataFrame:
        X = np.stack(vecs.to_numpy()).astype("float64")
        X /= np.maximum(np.linalg.norm(X, axis=1, keepdims=True), 1e-12)
        d = np.round(X @ Cm.T, 6)
        cell = np.argmax(d, axis=1)
        return pd.DataFrame(
            {
                "cell": cell.astype("int32"),
                "sim": d[np.arange(len(cell)), cell],
            }
        )

    both = base.select(
        F.col(vec_col).alias("__v"), F.lit(False).alias("__new")
    ).unionByName(
        new.select(F.col(vec_col).alias("__v"), F.lit(True).alias("__new"))
    )
    lab = both.select(
        assign(F.col("__v")).alias("__a"), "__new"
    ).select(
        F.col("__a.cell").alias("cell"),
        F.round(F.col("__a.sim") * 1e6).cast("bigint").alias("__micro"),
        "__new",
    )
    agg = lab.groupBy("cell").agg(
        F.sum(F.when(~F.col("__new"), 1).otherwise(0)).alias("n_base"),
        F.sum(F.when(F.col("__new"), 1).otherwise(0)).alias("n_new"),
        F.sum(
            F.when(~F.col("__new"), F.col("__micro")).otherwise(0)
        ).alias("__mb"),
        F.sum(
            F.when(F.col("__new"), F.col("__micro")).otherwise(0)
        ).alias("__mn"),
    )
    mean_b = F.when(
        F.col("n_base") > 0,
        F.round(
            F.col("__mb").cast("double") / F.col("n_base") / 1e6,
            round_digits,
        ),
    )
    mean_n = F.when(
        F.col("n_new") > 0,
        F.round(
            F.col("__mn").cast("double") / F.col("n_new") / 1e6,
            round_digits,
        ),
    )
    return agg.select(
        "cell",
        "n_base",
        "n_new",
        mean_b.alias("mean_sim_base"),
        mean_n.alias("mean_sim_new"),
        F.when(
            (F.col("n_base") > 0) & (F.col("n_new") > 0),
            F.round(mean_b - mean_n, round_digits),
        ).alias("sim_drift"),
        F.round(
            F.col("n_new").cast("double")
            / F.greatest(F.col("n_base"), F.lit(1)).cast("double"),
            round_digits,
        ).alias("growth"),
    )


def bitext_mine(
    side_x: DataFrame,
    side_y: DataFrame,
    k: int = 4,
    margin_threshold: float = 1.02,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Margin-based bitext mining (the LASER/CCMatrix recipe that
    builds parallel translation corpora from comparable crawls):
    candidate pairs are MUTUAL nearest neighbors across the two sides,
    scored by the ratio margin ``cos(x,y) / ((avgk(x) + avgk(y))/2)``
    where ``avgk`` is the mean cosine of a point's top-k neighbors on
    the OTHER side — the normalization that kills hub vectors (points
    globally close to everything) which raw cosine thresholds keep.

    Determinism: per-pair cosines round to 6 before anything reads
    them; the top-k means sum those ROUNDED values in DECIMAL
    (order-insensitive) and divide by the actual neighbor count, so
    both engines produce identical doubles; the margin is one stated
    float chain over them. Mutuality = rank-1 in both directions
    (cosine desc, id asc tie-break).

    Scale shape: this is the exact O(|X|·|Y|) audit path; production
    swaps the neighbor search for the IVF-bucketed variant
    (`ann_bucketed_topk`) — the margin/mutuality algebra on top is
    identical, and that's the part this operator pins."""
    nx = brute_force_topk(
        side_y,
        side_x.select(F.col(id_col).alias("query_id"), F.col(vec_col)),
        k=k, vec_col=vec_col, id_col=id_col,
    )
    ny = brute_force_topk(
        side_x,
        side_y.select(F.col(id_col).alias("query_id"), F.col(vec_col)),
        k=k, vec_col=vec_col, id_col=id_col,
    )

    def avgk(nbrs: DataFrame, out: str) -> DataFrame:
        return nbrs.groupBy("query_id").agg(
            (
                F.sum(F.col("cosine_sim").cast("decimal(38,6)"))
                .cast("double")
                / F.count(F.lit(1)).cast("double")
            ).alias(out)
        )

    best_x = nx.where(F.col("rank") == 1).select(
        F.col("query_id").alias("x_id"), F.col(id_col).alias("y_id"),
        F.col("cosine_sim"),
    )
    best_y = ny.where(F.col("rank") == 1).select(
        F.col("query_id").alias("y_id2"), F.col(id_col).alias("x_id2")
    )
    mutual = best_x.join(
        best_y,
        (F.col("x_id") == F.col("x_id2")) & (F.col("y_id") == F.col("y_id2")),
    )
    ax = avgk(nx, "__ax").withColumnRenamed("query_id", "x_id")
    ay = avgk(ny, "__ay").withColumnRenamed("query_id", "y_id")
    margin = F.col("cosine_sim") / (
        (F.col("__ax") + F.col("__ay")) * 0.5
    )
    return (
        mutual.join(F.broadcast(ax), "x_id")
        .join(F.broadcast(ay), "y_id")
        .select(
            "x_id",
            "y_id",
            F.col("cosine_sim").alias("cosine"),
            F.round(margin, 6).alias("margin"),
            F.when(F.round(margin, 6) > margin_threshold, 1)
            .otherwise(0)
            .cast("int")
            .alias("accepted"),
        )
    )
