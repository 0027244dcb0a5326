"""Retrieve -> rerank serving: the pluggable second-stage scorer seam.

First-stage retrieval (BM25 / hybrid RRF) proposes a k-bounded
candidate set per query; only those rows pay the second-stage scorer.
The scorer is a REGISTERED, name-addressed interface (same extension
discipline as the corpus-stage/plugin registries — no config
code-exec): it receives the bounded candidate DataFrame with document
text already attached — (query_id, doc_id, rrf_score, text) — and
returns one scored row per candidate carrying a ``rerank_score``
column (plus any evidence columns it wants to surface). The harness
applies the per-query rank window. The default ``lexical_proxy``
scorer is deterministic and value-checkable against a SQL oracle; a
production cross-encoder slots in as a ``mapInPandas`` scorer over the
SAME bounded input without touching the candidate plan (pinned in
tests/test_rerank_seam.py).

Scale: the candidate set (nq x 2k rows) broadcasts to the doc-text
join BEFORE any scorer runs, so the corpus-side cost is one id
semi-join inside the scan regardless of which scorer is registered;
every scorer sees only nq x 2k rows.

Reference parity: none — serving-path surface beyond the reference
(`/root/reference/trollflow2/launcher.py` has no retrieval tier).
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

RERANK_SCORERS: dict[str, Callable[..., DataFrame]] = {}


def register_rerank_scorer(name: str):
    """Register a second-stage scorer under ``name``. The callable
    takes the bounded candidate DataFrame (query_id, doc_id,
    rrf_score, text) plus scorer-specific keyword params and returns
    one row per (query_id, doc_id) with a ``rerank_score`` column."""

    def deco(fn: Callable[..., DataFrame]):
        RERANK_SCORERS[name] = fn
        return fn

    return deco


def candidate_text(docs: DataFrame, candidates: DataFrame) -> DataFrame:
    """Attach document text to the k-bounded candidate set: the
    candidates BROADCAST to the doc join, so the corpus is read
    through an id semi-join and never rescanned wider — the
    scorer-independent half of the serving plan."""
    return docs.select("doc_id", "text").join(
        F.broadcast(candidates), "doc_id"
    )


def rerank(
    candidates_with_text: DataFrame,
    scorer: str = "lexical_proxy",
    **params,
) -> DataFrame:
    """Run the named second-stage scorer over the bounded candidate
    set and attach the per-query ``rerank_rank`` window (score desc,
    doc_id tie-break — deterministic on any engine)."""
    if scorer not in RERANK_SCORERS:
        raise ValueError(
            f"unknown rerank scorer {scorer!r}; available: "
            + ", ".join(sorted(RERANK_SCORERS))
        )
    scored = RERANK_SCORERS[scorer](candidates_with_text, **params)
    w = Window.partitionBy("query_id").orderBy(
        F.col("rerank_score").desc(), F.col("doc_id").asc()
    )
    return scored.withColumn(
        "rerank_rank", F.row_number().over(w).cast("int")
    )


@register_rerank_scorer("lexical_proxy")
def lexical_proxy_scorer(
    cand_text: DataFrame, terms: DataFrame
) -> DataFrame:
    """The deterministic default: per-mille term coverage dominating a
    first-occurrence proximity bonus, all integers (value-checkable in
    SQL). ``terms`` is the (query_id, term) table — broadcast onto the
    bounded candidates, never onto the corpus."""
    from trollflow2_spark.extensions.hashing import tokens

    toks = F.transform(tokens(F.col("text")), lambda t: F.lower(t))
    base = cand_text.select(
        "query_id", "doc_id", "rrf_score", toks.alias("__tk")
    )
    # LEFT join: a query_id absent from the terms table keeps its
    # candidates and scores them n_present = 0 / bonus = 0 (score 0,
    # doc_id tie-break ranks them deterministically) instead of
    # silently dropping every candidate of that query — the contract
    # a pluggable seam needs when callers supply partial term tables
    scored = base.join(F.broadcast(terms), "query_id", "left").withColumn(
        "__pos",
        F.when(
            F.col("term").isNotNull(),
            F.array_position(F.col("__tk"), F.col("term")),
        ).otherwise(F.lit(0)),
    )
    agg = scored.groupBy("query_id", "doc_id").agg(
        F.min("rrf_score").alias("rrf_score"),
        F.sum(F.when(F.col("__pos") > 0, 1).otherwise(0))
        .cast("int")
        .alias("n_present"),
        F.sum(
            F.when(
                F.col("__pos") > 0,
                F.floor(F.lit(1000.0) / (F.lit(1) + F.col("__pos"))),
            ).otherwise(F.lit(0))
        )
        .cast("bigint")
        .alias("bonus"),
    )
    return agg.withColumn(
        "rerank_score",
        F.col("n_present").cast("bigint") * 100000 + F.col("bonus"),
    )


def retrieval_metrics(
    ranked: DataFrame,
    gold: DataFrame,
    k: int = 10,
    query_col: str = "query_id",
    doc_col: str = "doc_id",
    rank_col: str = "rank",
    grade_col: str = "grade",
) -> DataFrame:
    """IR evaluation per query — recall@k (integer per-mille), MRR,
    and nDCG@k — the readout that closes the retrieval tier's loop
    (BM25/hybrid/rerank produce rankings; this scores them against
    graded gold labels, the binary_metrics analog for ranked
    output).

    nDCG uses LINEAR gains (the grade itself) with the 1/log2(r+1)
    discount; both the DCG fold (by ascending rank) and the IDCG
    fold (grades descending) run in a pinned order via sorted-array
    ``aggregate``, so the float series replays exactly in SQL.
    Queries with no gold are dropped (undefined metrics, not fake
    zeros); queries with gold but no hits score 0.

    Shape: the ranked list is pre-cut to rank <= k, LEFT-joined to
    gold on (query, doc) — gold is label-table sized and
    broadcastable; one collect_list per query bounded by k, one per
    gold set; no corpus-wide window."""
    r = ranked.where(F.col(rank_col) <= k).select(
        F.col(query_col).alias("__q"),
        F.col(doc_col).alias("__d"),
        F.col(rank_col).alias("__r"),
    )
    g = gold.select(
        F.col(query_col).alias("__q"),
        F.col(doc_col).alias("__d"),
        F.col(grade_col).cast("long").alias("__g"),
    )
    hits = r.join(g, ["__q", "__d"], "left").select(
        "__q", "__r", F.coalesce(F.col("__g"), F.lit(0)).alias("__g")
    )
    per_q = hits.groupBy("__q").agg(
        F.collect_list(F.struct("__r", "__g")).alias("__cells")
    )
    cells = F.array_sort(F.col("__cells"))
    dcg = F.aggregate(
        cells,
        F.lit(0.0),
        lambda acc, c: acc
        + F.when(
            c["__g"] > 0,
            c["__g"].cast("double")
            / (F.log2(c["__r"].cast("double") + 1.0)),
        ).otherwise(F.lit(0.0)),
    )
    first_rel = F.array_min(
        F.transform(
            F.filter(cells, lambda c: c["__g"] > 0), lambda c: c["__r"]
        )
    )
    mrr = F.when(
        first_rel.isNotNull(), 1.0 / first_rel.cast("double")
    ).otherwise(F.lit(0.0))
    n_hits = F.size(F.filter(cells, lambda c: c["__g"] > 0))
    gold_q = g.groupBy("__q").agg(
        F.count(F.lit(1)).alias("n_gold"),
        F.reverse(F.array_sort(F.collect_list("__g"))).alias("__grades"),
    )
    # ideal DCG: top-k grades descending, discounted at ranks 1..k —
    # fold carries (position, sum) so the series order is pinned
    idcg = F.aggregate(
        F.slice(F.col("__grades"), 1, k),
        F.struct(F.lit(0).alias("i"), F.lit(0.0).alias("s")),
        lambda acc, x: F.struct(
            (acc["i"] + 1).alias("i"),
            (
                acc["s"]
                + x.cast("double")
                / F.log2((acc["i"] + 1).cast("double") + 1.0)
            ).alias("s"),
        ),
        lambda acc: acc["s"],
    )
    out = per_q.join(gold_q, "__q")
    return out.select(
        F.col("__q").alias(query_col),
        "n_gold",
        n_hits.alias("n_hits"),
        (n_hits * 1000 / F.col("n_gold")).cast("long").alias("recall_pm"),
        F.round(mrr, 6).alias("mrr"),
        F.round(
            F.when(idcg > 0, dcg / idcg).otherwise(F.lit(0.0)), 6
        ).alias("ndcg"),
    )
