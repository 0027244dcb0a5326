"""Benchmark-contamination detection: held-out vs training-corpus overlap.

Before training on a 100 TB corpus you must know how much of your eval
set leaks into it. Two tiers, mirroring the dedup family's design:

- :func:`exact_overlap` — held-out docs whose normalized text appears
  verbatim in the corpus (hash equi-join on the text digest; the raw
  text never shuffles).
- :func:`contamination_scores` — per held-out doc, the fraction of its
  word n-gram shingles that occur ANYWHERE in the corpus; score =
  matched / total. A doc quoted wholesale scores ~1; topical overlap
  scores low.

100 TB shape: the held-out set is an *eval set* — small by definition —
so its shingle-hash set broadcasts, and the corpus's exploded shingles
are filtered MAP-SIDE against it (broadcast semi-join inside the scan
stage). Only the surviving matches (bounded by the held-out set size)
ever shuffle, for one distinct. The corpus never materializes a global
distinct-shingle set.

Portable ``hash64`` keeps both oracle-checkable in DuckDB.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column, DataFrame, functions as F

from trollflow2_spark.extensions.hashing import hash64, word_shingles

HashFn = type(hash64)


def _norm_text(col: Column) -> Column:
    """Whitespace-collapsed, lowercased text (the exact-match key)."""
    return F.regexp_replace(F.lower(F.trim(col)), r"\s+", " ")


def exact_overlap(
    corpus: DataFrame,
    held_out: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    hash_fn=hash64,
) -> DataFrame:
    """Held-out rows whose normalized text occurs verbatim in the corpus
    (id + the digest, for auditability)."""
    digest = lambda df: df.select(  # noqa: E731
        F.col(id_col), hash_fn(_norm_text(F.col(text_col))).alias("text_hash")
    )
    held = digest(held_out)
    # broadcast the small held-out digest set; the corpus filters
    # map-side and only its (tiny) matching digests reach the distinct
    held_set = F.broadcast(held.select("text_hash").distinct())
    matched = (
        digest(corpus)
        .select("text_hash")
        .join(held_set, "text_hash", "left_semi")
        .distinct()
    )
    return held.join(F.broadcast(matched), "text_hash", "left_semi").select(
        id_col, "text_hash"
    )


def contamination_scores(
    corpus: DataFrame,
    held_out: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_words: int = 8,
    hash_fn=hash64,
    round_digits: int = 6,
) -> DataFrame:
    """Per held-out doc: fraction of its distinct word n-gram shingles
    present anywhere in the corpus (0 = clean, 1 = fully contained).

    Output: (id, n_shingles, n_matched, contamination).
    """
    def shingle_hashes(df: DataFrame, keep_id: bool) -> DataFrame:
        cols = [F.col(id_col)] if keep_id else []
        sh = df.select(
            *cols, F.explode(word_shingles(F.col(text_col), shingle_words)).alias("__sh")
        )
        return sh.select(*cols, hash_fn(F.col("__sh")).alias("__h")).distinct()

    held = shingle_hashes(held_out, keep_id=True)
    held_set = F.broadcast(held.select("__h").distinct())
    # corpus shingles filter map-side against the broadcast held set;
    # only hashes the eval set actually contains survive to the distinct
    corpus_matched = (
        corpus.select(
            F.explode(word_shingles(F.col(text_col), shingle_words)).alias("__sh")
        )
        .select(hash_fn(F.col("__sh")).alias("__h"))
        .join(held_set, "__h", "left_semi")
        .distinct()
    )
    matched = held.join(
        F.broadcast(corpus_matched.withColumn("__m", F.lit(1))), "__h", "left"
    )
    return (
        matched.groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_shingles"),
            F.count("__m").alias("n_matched"),
        )
        .withColumn(
            "contamination",
            F.round(
                F.col("n_matched").cast("double") / F.col("n_shingles"),
                round_digits,
            ),
        )
    )


# ---------------------------------------------------------------------------
# Bloom-prefiltered tier: when the held-out set is NOT small (a full
# eval harness can carry 10^7-10^8 shingles), broadcasting its distinct
# hash set as a join side costs GBs per executor. A Bloom bitmap is the
# classic fix: fixed-size (m bits for any set size), built distributed,
# broadcast once, tested map-side. False positives are harmless here —
# the final left join against the true held set removes them — so the
# result is EXACT; the bloom only bounds how much corpus data survives
# the scan stage.

_BLOOM_DEFAULT_BITS = 1 << 20


def _bloom_probes_cols(h: Column, m_bits: int, k: int) -> list[Column]:
    """k bit positions for a 64-bit hash Column via double hashing:
    pos_i = (h_hi + i * h_lo|1) mod m — pure Column algebra, replicated
    bit-for-bit by the numpy test kernel."""
    h1 = F.shiftrightunsigned(h, 32)
    h2 = h.bitwiseAND(F.lit(0xFFFFFFFF)).bitwiseOR(F.lit(1))
    return [F.pmod(h1 + F.lit(i) * h2, F.lit(m_bits)) for i in range(k)]


def build_hash_bloom(
    df: DataFrame,
    hash_col: str = "__h",
    m_bits: int = _BLOOM_DEFAULT_BITS,
    k: int = 4,
):
    """Distributed Bloom build over a hash column: k probe positions per
    hash (Column algebra), grouped into 64-bit words with ``bit_or`` —
    the shuffle carries at most m/64 rows regardless of input size —
    then assembled into a numpy uint64 bitmap on the driver.

    Returns ``(bitmap, m_bits, k)``; pass to :func:`bloom_might_contain`.
    """
    import numpy as np

    pos = df.select(
        F.explode(
            F.array(*_bloom_probes_cols(F.col(hash_col), m_bits, k))
        ).alias("__pos")
    )
    words = (
        pos.select(
            (F.col("__pos") / 64).cast("long").alias("__w"),
            # shiftleft's bit count must be a literal in the Python API;
            # the SQL form takes a column
            F.expr(
                "shiftleft(CAST(1 AS BIGINT), CAST(__pos % 64 AS INT))"
            ).alias("__b"),
        )
        .groupBy("__w")
        .agg(F.bit_or("__b").alias("__bits"))
        .collect()
    )
    bitmap = np.zeros(m_bits // 64, dtype=np.uint64)
    for r in words:
        bitmap[int(r["__w"])] = np.uint64(r["__bits"] & 0xFFFFFFFFFFFFFFFF)
    return bitmap, m_bits, k


def bloom_might_contain(spark, bloom) -> "function":
    """Vectorized membership-test pandas UDF for a bloom built by
    :func:`build_hash_bloom`. The bitmap rides a SparkContext broadcast
    (shipped once per executor, not per task)."""
    import numpy as np

    bitmap, m_bits, k = bloom
    bc = spark.sparkContext.broadcast(bitmap)

    @F.pandas_udf("boolean")
    def might_contain(h: pd.Series) -> pd.Series:
        bm = bc.value
        hv = h.to_numpy(dtype=np.int64).view(np.uint64)
        h1 = hv >> np.uint64(32)
        h2 = (hv & np.uint64(0xFFFFFFFF)) | np.uint64(1)
        ok = np.ones(len(hv), dtype=bool)
        for i in range(k):
            pos = (h1 + np.uint64(i) * h2) % np.uint64(m_bits)
            word = bm[(pos >> np.uint64(6)).astype(np.int64)]
            bit = np.uint64(1) << (pos & np.uint64(63))
            ok &= (word & bit) != 0
        return pd.Series(ok)

    return might_contain


def contamination_scores_bloom(
    corpus: DataFrame,
    held_out: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_words: int = 8,
    hash_fn=hash64,
    m_bits: int = _BLOOM_DEFAULT_BITS,
    k: int = 4,
    round_digits: int = 6,
) -> DataFrame:
    """Same result as :func:`contamination_scores`, different 100 TB
    plan: the corpus's exploded shingle hashes are prefiltered map-side
    by a fixed-size Bloom bitmap of the held-out set (instead of a
    broadcast hash-set join), and the final left join against the true
    held hashes removes bloom false positives — so the output is
    byte-identical to the exact tier (shared oracle) while the
    executor-resident held-set footprint drops from O(set) to m bits.
    """
    def shingle_hashes(df: DataFrame, keep_id: bool) -> DataFrame:
        cols = [F.col(id_col)] if keep_id else []
        sh = df.select(
            *cols,
            F.explode(word_shingles(F.col(text_col), shingle_words)).alias(
                "__sh"
            ),
        )
        return sh.select(*cols, hash_fn(F.col("__sh")).alias("__h")).distinct()

    spark = corpus.sparkSession
    held = shingle_hashes(held_out, keep_id=True)
    bloom = build_hash_bloom(
        held.select("__h").distinct(), "__h", m_bits=m_bits, k=k
    )
    test = bloom_might_contain(spark, bloom)
    corpus_matched = (
        corpus.select(
            F.explode(word_shingles(F.col(text_col), shingle_words)).alias(
                "__sh"
            )
        )
        .select(hash_fn(F.col("__sh")).alias("__h"))
        .filter(test(F.col("__h")))
        .distinct()
    )
    matched = held.join(
        corpus_matched.withColumn("__m", F.lit(1)), "__h", "left"
    )
    return (
        matched.groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_shingles"),
            F.count("__m").alias("n_matched"),
        )
        .withColumn(
            "contamination",
            F.round(
                F.col("n_matched").cast("double") / F.col("n_shingles"),
                round_digits,
            ),
        )
    )


def semantic_contamination(
    corpus: DataFrame,
    held: DataFrame,
    centroids,
    threshold: float,
    n_probe: int = 1,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    round_digits: int = 6,
) -> DataFrame:
    """Embedding-space contamination — the semantic tier above
    :func:`exact_overlap` (verbatim) and :func:`contamination_scores`
    (shingles): an eval example whose *paraphrase* sits in the
    training corpus shares no 8-gram but lands in the same embedding
    neighborhood.

    Candidates come from the frozen IVF coarse cells (the shared
    rounded-argmax assignment): corpus and held vectors are assigned
    map-side, and only same-cell pairs are scored exactly — at 100 TB
    the eval side is small by definition, so its (cell, vec) rows
    broadcast and the corpus never shuffles; cosine verify + the
    per-held rollup are the only aggregation. The held side probes its
    ``n_probe`` nearest cells (the ivf_topk trade: scan fraction for
    recall), which closes most of the cell-boundary miss; what remains
    past the probed cells is the same documented recall boundary as
    SemDeDup, audited by the cell histogram.

    Output per held vector with >=1 same-cell corpus neighbor:
    (vec_id, n_candidates, n_contaminated, max_sim).
    """
    import numpy as np

    Cm = np.asarray(centroids, dtype="float64")

    @F.pandas_udf("int")
    def assign_cell(vecs: pd.Series) -> pd.Series:
        import numpy as np

        X = np.stack(vecs.to_numpy()).astype("float64")
        X /= np.maximum(np.linalg.norm(X, axis=1, keepdims=True), 1e-12)
        return pd.Series(
            np.argmax(np.round(X @ Cm.T, 6), axis=1).astype("int32")
        )

    from trollflow2_spark.extensions.similarity import _dot, _norm

    # norms are per-ROW facts: computing them before the join makes the
    # per-pair work a single dot fold instead of the fused three-sum
    # traversal — the accumulation order and therefore every double is
    # bit-identical to cosine(), just not recomputed ~|cell| times
    c = corpus.select(
        F.col(id_col).alias("__cid"),
        F.col(vec_col).alias("__cvec"),
        _norm(F.col(vec_col)).alias("__cn"),
        assign_cell(F.col(vec_col)).alias("__cell"),
    )
    probe = int(n_probe)

    @F.pandas_udf("array<int>")
    def probe_cells(vecs: pd.Series) -> pd.Series:
        import numpy as np

        X = np.stack(vecs.to_numpy()).astype("float64")
        X /= np.maximum(np.linalg.norm(X, axis=1, keepdims=True), 1e-12)
        d = np.round(X @ Cm.T, 6)
        order = np.argsort(-d, axis=1, kind="stable")[:, :probe]
        return pd.Series(list(order.astype("int32")))

    h = F.broadcast(
        held.select(
            F.col(id_col),
            F.col(vec_col).alias("__hvec"),
            _norm(F.col(vec_col)).alias("__hn"),
            F.explode(probe_cells(F.col(vec_col))).alias("__cell"),
        )
    )
    pairs = c.join(h, "__cell").select(
        id_col,
        F.round(
            _dot(F.col("__cvec"), F.col("__hvec"))
            / (F.col("__cn") * F.col("__hn")),
            round_digits,
        ).alias("__sim"),
    )
    return pairs.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_candidates"),
        F.sum(
            F.when(F.col("__sim") >= float(threshold), 1).otherwise(0)
        ).alias("n_contaminated"),
        F.max("__sim").alias("max_sim"),
    )
