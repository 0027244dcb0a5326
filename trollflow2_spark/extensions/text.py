"""Text analysis operators for training-data pipelines.

Language ID (marker-n-gram heuristic), quality scoring (length / token /
stopword ratios), token counting (whitespace + BPE-ish regex), and
document fingerprinting (sampled n-gram hashes, winnowing-style).

All pure Column algebra: string/regex/array builtins, no UDFs — at
100 TB these run inside whole-stage codegen and scan-pushdown keeps only
the text column in flight.
"""

from __future__ import annotations

from typing import Callable

import pandas as pd
from pyspark.sql import Column, DataFrame, Window, functions as F

from trollflow2_spark.extensions.hashing import hash64, tokens, word_shingles

HashFn = Callable[..., Column]

# Tiny marker lexicons per language; counting marker hits with the
# length-difference trick keeps the same semantics in any SQL dialect.
LANG_MARKERS: dict[str, list[str]] = {
    "en": [" the ", " and ", " of "],
    "de": [" der ", " und ", " die "],
    "fr": [" le ", " et ", " la "],
    "es": [" el ", " y ", " los "],
}

STOPWORDS = ["the", "a", "and", "of", "to"]

# words, numbers, or single non-space symbols — a BPE-ish pre-tokenizer
BPE_ISH_PATTERN = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"


def substr_count(text: Column, sub: str) -> Column:
    """Occurrences of ``sub`` in ``text`` via the length-difference trick
    (portable to every SQL dialect, unlike regexp_count)."""
    return (
        (F.length(text) - F.length(F.replace(text, F.lit(sub), F.lit(""))))
        / F.lit(len(sub))
    ).cast("int")


def token_count(text: Column) -> Column:
    return F.size(tokens(text))


def bpe_ish_token_count(text: Column) -> Column:
    return F.size(F.regexp_extract_all(text, F.lit(BPE_ISH_PATTERN), F.lit(0)))


def readability_features(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Flesch Reading Ease + Flesch-Kincaid grade per document — the
    classic curriculum/difficulty signal used to bucket training text
    by complexity (and to route simple-English corpora). Syllables use
    the standard vowel-group heuristic, stated exactly so the SQL
    oracle replays it: lowercase word, count ``[aeiouy]+`` runs,
    subtract one for a trailing silent 'e' when more than one run
    exists, floor at 1. Sentences = non-blank ``[.!?]+`` segments,
    floored at 1 (headlines still score). Pure Column algebra — one
    regexp pass per word inside a transform, no shuffle; formula
    floats are identical expression trees on both engines, rounded to
    4."""
    t = F.col(text_col)
    words = F.filter(F.split(t, r"\s+"), lambda x: x != "")
    n_words = F.size(words)
    syl_per_word = F.transform(
        words,
        lambda w: F.greatest(
            F.lit(1),
            F.size(F.regexp_extract_all(F.lower(w), F.lit("[aeiouy]+"), 0))
            - F.when(
                F.lower(w).rlike("[^aeiouy]e$")
                & (
                    F.size(
                        F.regexp_extract_all(
                            F.lower(w), F.lit("[aeiouy]+"), 0
                        )
                    )
                    > 1
                ),
                F.lit(1),
            ).otherwise(F.lit(0)),
        ),
    )
    n_syllables = F.aggregate(
        syl_per_word, F.lit(0), lambda acc, x: acc + x
    )
    n_sentences = F.greatest(
        F.lit(1),
        F.size(F.filter(F.split(t, r"[.!?]+"), lambda x: F.trim(x) != "")),
    )
    wps = n_words.cast("double") / n_sentences.cast("double")
    spw = F.when(
        n_words > 0, n_syllables.cast("double") / n_words.cast("double")
    ).otherwise(F.lit(0.0))
    flesch = F.lit(206.835) - F.lit(1.015) * wps - F.lit(84.6) * spw
    fk_grade = F.lit(0.39) * wps + F.lit(11.8) * spw - F.lit(15.59)
    return df.select(
        F.col(id_col),
        n_words.cast("long").alias("n_words"),
        n_sentences.cast("long").alias("n_sentences"),
        n_syllables.cast("long").alias("n_syllables"),
        F.round(flesch, 4).alias("flesch"),
        F.round(fk_grade, 4).alias("fk_grade"),
    )


def quality_features(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    extra_cols: list[str] | None = None,
) -> DataFrame:
    """Per-document quality metrics: token count, mean token length,
    stopword ratio, alpha ratio, and a blended quality score in [0, 1].
    ``extra_cols`` pass through untouched (for downstream grouping
    without a re-join).
    """
    t = F.col(text_col)
    toks = tokens(t)
    n_tok = F.size(toks)
    stop_hits = F.size(F.filter(toks, lambda x: F.lower(x).isin(STOPWORDS)))
    n_alpha = F.length(F.regexp_replace(t, r"[^A-Za-z]", ""))
    n_chars = F.length(t)
    mean_tok_len = F.when(n_tok > 0, n_chars.cast("double") / n_tok).otherwise(0.0)
    stop_ratio = F.when(n_tok > 0, stop_hits.cast("double") / n_tok).otherwise(0.0)
    alpha_ratio = F.when(n_chars > 0, n_alpha.cast("double") / n_chars).otherwise(0.0)
    # blended score: length sweet spot + stopword presence + alphabetic mass
    len_score = F.least(n_tok.cast("double") / F.lit(20.0), F.lit(1.0))
    score = F.round(
        len_score * 0.4 + F.least(stop_ratio * 5.0, F.lit(1.0)) * 0.2 + alpha_ratio * 0.4,
        6,
    )
    return df.select(
        F.col(id_col),
        *[F.col(c) for c in (extra_cols or [])],
        n_tok.alias("n_tokens"),
        F.round(mean_tok_len, 6).alias("mean_token_len"),
        F.round(stop_ratio, 6).alias("stopword_ratio"),
        F.round(alpha_ratio, 6).alias("alpha_ratio"),
        score.alias("quality_score"),
    )


def lang_id(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Marker-based language guess: count per-language marker hits in the
    (space-padded, lowercased) text; argmax with deterministic order
    (score desc, then language code asc); 'und' when nothing matched.
    """
    padded = F.concat(F.lit(" "), F.lower(F.col(text_col)), F.lit(" "))
    scores = {
        lang: sum((substr_count(padded, m) for m in markers), F.lit(0).cast("int"))
        for lang, markers in sorted(LANG_MARKERS.items())
    }
    best_score = F.greatest(*scores.values())
    # among max-score languages pick the alphabetically-smallest code
    # (array_min skips the NULLs of non-winning languages)
    pick = F.array_min(
        F.array(
            *[F.when(s == best_score, F.lit(lang)) for lang, s in scores.items()]
        )
    )
    predicted = F.when(best_score > 0, pick).otherwise(F.lit("und"))
    return df.select(
        F.col(id_col),
        predicted.alias("predicted_lang"),
        best_score.alias("marker_hits"),
    )


def doc_fingerprint(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_words: int = 4,
    mod: int = 8,
    hash_fn: HashFn = hash64,
) -> DataFrame:
    """Winnowing-style fingerprint: hash all word n-grams, keep hashes
    ≡ 0 (mod ``mod``) — the standard mod-p sampled fingerprint (0-mod-p
    selection is position-independent, robust to insertions). Output:
    (id, n_fingerprints, min_fingerprint).

    Pure Column algebra (hash + filter + size/array_min over the
    shingle array): ZERO shuffle — the earlier explode + left-join +
    groupBy form paid two Exchanges for what is a per-row computation.
    """
    hashes = F.transform(
        F.array_distinct(word_shingles(F.col(text_col), shingle_words)),
        lambda s: hash_fn(s),
    )
    kept = F.filter(hashes, lambda h: h % mod == 0)
    return df.select(
        F.col(id_col),
        F.size(kept).cast("bigint").alias("n_fingerprints"),
        F.array_min(kept).alias("min_fingerprint"),
    )


def vocab_topk(
    df: DataFrame,
    text_col: str = "text",
    k: int = 100,
    min_count: int = 1,
) -> DataFrame:
    """Corpus vocabulary: the ``k`` most frequent whitespace tokens
    (lowercased), with doc frequency — the first tokenizer-design
    artifact you derive from a new corpus.

    One explode + one hash agg (map-side partial combine collapses each
    partition to its distinct tokens before the shuffle, so the shuffle
    volume is vocabulary-sized, not corpus-sized). The top-k is
    ``orderBy().limit(k)`` — Spark plans TakeOrderedAndProject
    (per-partition top-k, merged), so even a 10^8-token vocabulary never
    funnels through a global sort; ranks are then numbered on the k
    surviving rows. Ties break on the token itself, deterministically.

    Output: (rank, token, n_occurrences, n_docs).
    """
    tok = df.select(
        F.col("doc_id"), F.explode(tokens(F.col(text_col))).alias("tk")
    ).select("doc_id", F.lower(F.col("tk")).alias("token"))
    counts = tok.groupBy("token").agg(
        F.count(F.lit(1)).alias("n_occurrences"),
        F.countDistinct("doc_id").alias("n_docs"),
    ).filter(F.col("n_occurrences") >= min_count)
    top = counts.orderBy(F.desc("n_occurrences"), F.col("token")).limit(k)
    from pyspark.sql import Window

    w = Window.orderBy(F.desc("n_occurrences"), F.col("token"))
    return top.withColumn("rank", F.row_number().over(w)).select(
        "rank", "token", "n_occurrences", "n_docs"
    )


def unigram_logprob(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    vocab_k: int = 5000,
    alpha: float = 0.5,
    round_digits: int = 6,
) -> DataFrame:
    """Per-document mean unigram log-probability under an
    additive-smoothed language model fit on the corpus itself — the
    classic perplexity-style quality signal: gibberish, boilerplate-free
    noise and wrong-language text score far below typical prose, so the
    score is the standard pretraining-corpus filter threshold input
    (KenLM-filtering's cheap unigram cousin).

    Model: the top-``vocab_k`` tokens by frequency, each with
    ``ln((c + alpha) / (N + alpha * (V + 1)))``; everything else gets
    the single OOV mass ``ln(alpha / (N + alpha * (V + 1)))``, where N
    is total token count and V the full vocabulary size.

    Scale: one explode + one vocabulary-sized hash agg (map-side
    combine ⇒ shuffle volume is vocab-sized, not corpus-sized); the
    top-k model is TakeOrdered (no global sort) and BROADCASTS to the
    scoring join, so scoring is map-side over the token stream; N/V
    ride a broadcast 1-row aggregate. The per-doc reduce groups on the
    id while a doc's exploded tokens are still partition-local, so
    partial aggregation collapses them before the final shuffle.
    Output: (id, n_tokens, n_oov, mean_logprob).
    """
    tok = df.select(
        F.col(id_col), F.explode(tokens(F.col(text_col))).alias("tk")
    ).select(id_col, F.lower(F.col("tk")).alias("token"))
    # vocabulary-sized and persisted: the N/V stats and the top-k model
    # both derive from it without re-tokenizing the corpus — scoring is
    # the only other corpus pass (2 scans total)
    counts = (
        tok.groupBy("token").agg(F.count(F.lit(1)).alias("c")).persist()
    )
    stats = counts.agg(
        F.sum("c").cast("double").alias("n"),
        F.count(F.lit(1)).cast("double").alias("v"),
    )
    model = counts.orderBy(F.desc("c"), F.col("token")).limit(int(vocab_k))
    scored = (
        tok.join(F.broadcast(model), "token", "left")
        .crossJoin(F.broadcast(stats))
        .withColumn(
            "logp",
            F.log(
                (F.coalesce(F.col("c"), F.lit(0)) + F.lit(float(alpha)))
                / (F.col("n") + F.lit(float(alpha)) * (F.col("v") + 1))
            ),
        )
        .withColumn("oov", F.col("c").isNull().cast("int"))
    )
    return scored.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_tokens"),
        F.sum("oov").cast("bigint").alias("n_oov"),
        F.round(F.avg("logp"), round_digits).alias("mean_logprob"),
    )


def tfidf_top_terms(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    top_n: int = 3,
    round_digits: int = 6,
) -> DataFrame:
    """Top-``top_n`` characteristic terms per document by tf-idf
    (``tf * ln(N / df)``, natural log, no smoothing) — the classic
    keyword/topic signal for corpus exploration and near-dup triage.

    Two hash aggs — (doc, term) counts, then doc frequency — plus one
    join keyed on the term. The df table is vocabulary-sized (tiny next
    to the corpus), so the join broadcasts; the per-doc top-n window
    partitions by doc id — dense, never skewed. Ties break on the term
    string, so ranks are deterministic.

    Output: (id, term, tf, tfidf, term_rank).
    """
    from pyspark.sql import Window

    tok = df.select(
        F.col(id_col), F.explode(tokens(F.col(text_col))).alias("tk")
    ).select(id_col, F.lower(F.col("tk")).alias("term"))
    tf = tok.groupBy(id_col, "term").agg(F.count(F.lit(1)).alias("tf"))
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    # corpus size joins in as a broadcast 1-row aggregate, not a separate
    # driver-side count() pass over the scan
    n = df.agg(F.countDistinct(id_col).cast("double").alias("_n_docs"))
    scored = (
        tf.join(F.broadcast(dfreq), "term")
        .crossJoin(F.broadcast(n))
        .withColumn(
            "tfidf",
            F.round(F.col("tf") * F.log(F.col("_n_docs") / F.col("df")),
                    round_digits),
        )
    )
    w = Window.partitionBy(id_col).orderBy(
        F.desc("tfidf"), F.col("term")
    )
    return (
        scored.withColumn("term_rank", F.row_number().over(w))
        .filter(F.col("term_rank") <= top_n)
        .select(id_col, "term", "tf", "tfidf", "term_rank")
    )


def bm25_scores_multi(
    df: DataFrame,
    query_terms: dict | list | tuple,
    text_col: str = "text",
    id_col: str = "doc_id",
    k1: float = 1.2,
    b: float = 0.75,
) -> DataFrame:
    """Okapi BM25 retrieval scores for MANY queries in ONE corpus pass
    — the serving shape: real RAG/eval runs score thousands of queries
    per sweep, and re-scanning 100 TB once per query is the wrong
    plan. (Robertson & Zaragoza, "The Probabilistic Relevance
    Framework: BM25 and Beyond"; idf in the Lucene
    ``ln(1 + (N - df + .5)/(df + .5))`` form, so scores are never
    negative.)

    ``query_terms``: {query_id: [terms...]} (or an iterable of
    (query_id, terms) pairs) — broadcast as a (query_id, term) table.

    Scale shape: the full inverted index is never materialized.
    Corpus stats (N, total tokens) and per-doc lengths are MAP-SIDE
    facts of the tokenizer — one agg over the raw scan for the 1-row
    stats, and ``dl = size(tokens)`` carried alongside the explode —
    so the only thing that ever shuffles is the QUERY-MATCHED token
    subset (the broadcast distinct-term filter sits before the
    (doc, term) aggregation). Per-term document frequencies compute
    once over the distinct query terms (shared across queries) and
    broadcast with the stats; adding queries adds broadcast rows and
    (query_id, doc) rollup keys, never another corpus pass. Per-term
    contributions go through micro-units (round x 1e6 to BIGINT)
    before the per-doc sum, so scores are independent of Spark's
    float summation order.

    Output: (query_id, id, n_matched, score) for (query, document)
    pairs matching >= 1 term; score = sum of matched-term BM25
    contributions, 1e-6 granular.
    """
    spark = df.sparkSession
    pairs = (
        list(query_terms.items())
        if isinstance(query_terms, dict)
        else list(query_terms)
    )
    qrows = [
        (int(qid), t.lower()) for qid, terms in pairs for t in terms
    ]
    tokd = df.select(
        F.col(id_col), tokens(F.col(text_col)).alias("__tk")
    )
    # 1-row corpus stats straight off the scan: N = docs with >= 1
    # token, tot = total token count — no explode, no shuffle beyond
    # the partial-agg reduce
    stats = tokd.agg(
        F.sum((F.size("__tk") >= 1).cast("long"))
        .cast("double")
        .alias("_n"),
        F.sum(F.size("__tk")).cast("double").alias("_tot"),
    )
    q = spark.createDataFrame(qrows, "query_id int, term string")
    qterms = spark.createDataFrame(
        sorted({(t,) for _, t in qrows}), "term string"
    )
    # doc length rides the explode map-side (constant per doc); the
    # broadcast term filter drops every non-query token BEFORE the
    # (doc, term) aggregation, so the shuffle carries only matches
    matched = (
        tokd.select(
            id_col,
            F.size("__tk").alias("__dl"),
            F.explode("__tk").alias("tk"),
        )
        .select(
            id_col, "__dl", F.lower(F.col("tk")).alias("term")
        )
        .join(F.broadcast(qterms), "term")
    )
    from pyspark.sql import Window

    tf2 = matched.groupBy(id_col, "term").agg(
        F.count(F.lit(1)).alias("tf"), F.max("__dl").alias("dl")
    )
    # per-term document frequency as a window over the already-small
    # matched (doc, term) rows — shared across queries, and no second
    # pass over the corpus to compute it
    tf2 = tf2.withColumn(
        "dfc", F.count(F.lit(1)).over(Window.partitionBy("term"))
    )
    m = tf2.join(F.broadcast(q), "term").crossJoin(F.broadcast(stats))
    idf = F.log(
        F.lit(1.0)
        + (F.col("_n") - F.col("dfc") + F.lit(0.5))
        / (F.col("dfc") + F.lit(0.5))
    )
    tf_part = (F.col("tf") * F.lit(k1 + 1.0)) / (
        F.col("tf")
        + F.lit(k1)
        * (
            F.lit(1.0 - b)
            + F.lit(b) * F.col("dl") / (F.col("_tot") / F.col("_n"))
        )
    )
    micro = F.round(idf * tf_part * F.lit(1_000_000.0)).cast("bigint")
    return (
        m.select("query_id", F.col(id_col), micro.alias("__micro"))
        .groupBy("query_id", id_col)
        .agg(
            F.count(F.lit(1)).alias("n_matched"),
            (F.sum("__micro") / F.lit(1_000_000.0)).alias("score"),
        )
    )


def bm25_scores(
    df: DataFrame,
    query_terms: list[str] | tuple[str, ...],
    text_col: str = "text",
    id_col: str = "doc_id",
    k1: float = 1.2,
    b: float = 0.75,
) -> DataFrame:
    """Okapi BM25 for ONE query: a projection of
    :func:`bm25_scores_multi` with a single broadcast query row —
    same plan, the query_id column dropped.

    Output: (id, n_matched, score) for documents matching >= 1 query
    term; score = sum of matched-term BM25 contributions, 1e-6
    granular."""
    return bm25_scores_multi(
        df,
        {0: list(query_terms)},
        text_col=text_col,
        id_col=id_col,
        k1=k1,
        b=b,
    ).drop("query_id")


GOPHER_STOPWORDS = ("the", "be", "to", "of", "and", "that", "have", "with")


def gopher_rules(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_words: int = 50,
    max_words: int = 100_000,
    min_mean_word_len: float = 3.0,
    max_mean_word_len: float = 10.0,
    max_symbol_ratio: float = 0.1,
    max_bullet_ratio: float = 0.9,
    max_ellipsis_ratio: float = 0.3,
    min_alpha_ratio: float = 0.8,
    min_stop_hits: int = 2,
    round_digits: int = 6,
) -> DataFrame:
    """The Gopher document-quality rule set (Rae et al., "Scaling
    Language Models: Methods, Analysis & Insights from Training
    Gopher", Appendix A): word-count bounds, mean-word-length band,
    symbol-per-word cap, bullet-line and ellipsis-line caps, the
    alphabetic-word floor, and the required-stop-word presence test —
    emitted per rule (audit-friendly) plus the conjunctive keep flag.

    Scale shape: every metric is a higher-order Column fold over the
    token / line arrays — whole-stage codegen inside the scan stage,
    zero shuffles, zero Python.

    Output: (id, n_words, mean_word_len, symbol_ratio,
    bullet_line_ratio, ellipsis_line_ratio, alpha_word_ratio,
    n_stop_hits, keep).
    """
    t = F.col(text_col)
    words = tokens(t)
    n = F.size(words)
    nd = n.cast("double")
    total_len = F.aggregate(
        F.transform(words, F.length), F.lit(0), lambda a, x: a + x
    )
    mwl = F.when(n > 0, total_len.cast("double") / nd).otherwise(0.0)
    symbols = (
        substr_count(t, "#") + substr_count(t, "...")
    ).cast("double")
    sym_ratio = F.when(n > 0, symbols / nd).otherwise(0.0)
    lines = F.split(t, "\n")
    nl = F.size(lines).cast("double")
    bullet = F.size(
        F.filter(
            lines,
            lambda ln: ln.startswith("\u2022") | F.trim(ln).startswith("- "),
        )
    )
    ellipsis = F.size(F.filter(lines, lambda ln: ln.endswith("...")))
    alpha_words = F.size(F.filter(words, lambda w: w.rlike("[A-Za-z]")))
    alpha_ratio = F.when(n > 0, alpha_words.cast("double") / nd).otherwise(0.0)
    low = F.transform(words, F.lower)
    stop_hits = sum(
        (
            F.when(F.array_contains(low, sw), 1).otherwise(0)
            for sw in GOPHER_STOPWORDS
        ),
        F.lit(0),
    )
    bullet_ratio = bullet.cast("double") / nl
    ellipsis_ratio = ellipsis.cast("double") / nl
    keep = (
        n.between(min_words, max_words)
        & mwl.between(min_mean_word_len, max_mean_word_len)
        & (sym_ratio <= max_symbol_ratio)
        & (bullet_ratio <= max_bullet_ratio)
        & (ellipsis_ratio <= max_ellipsis_ratio)
        & (alpha_ratio >= min_alpha_ratio)
        & (stop_hits >= min_stop_hits)
    )
    return df.select(
        F.col(id_col),
        n.cast("bigint").alias("n_words"),
        F.round(mwl, round_digits).alias("mean_word_len"),
        F.round(sym_ratio, round_digits).alias("symbol_ratio"),
        F.round(bullet_ratio, round_digits).alias("bullet_line_ratio"),
        F.round(ellipsis_ratio, round_digits).alias("ellipsis_line_ratio"),
        F.round(alpha_ratio, round_digits).alias("alpha_word_ratio"),
        stop_hits.cast("bigint").alias("n_stop_hits"),
        keep.cast("int").alias("keep"),
    )


def c4_line_filter(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_words: int = 3,
    min_kept_lines: int = 2,
) -> DataFrame:
    """C4-style line-level cleaning (Raffel et al., "Exploring the
    Limits of Transfer Learning with a Unified Text-to-Text
    Transformer", §2.2): keep only lines that end in terminal
    punctuation, carry at least ``min_words`` words, and contain
    neither "javascript" nor a curly brace (the boilerplate tells);
    re-join the survivors and flag documents keeping fewer than
    ``min_kept_lines`` lines for doc-level removal.

    Scale shape: pure higher-order Column work over the line array
    (filter + nested word-count + concat) — whole-stage codegen inside
    the scan stage, zero shuffles, zero Python.

    Output: (id, clean_text, n_lines, n_kept, keep_doc).
    """
    lines = F.split(F.col(text_col), "\n")

    def line_ok(ln):
        words = F.size(F.filter(F.split(ln, " "), lambda t: t != ""))
        return (
            ln.rlike('[.!?"]\\s*$')
            & (words >= min_words)
            & ~F.lower(ln).contains("javascript")
            & ~ln.contains("{")
        )

    kept = F.filter(lines, line_ok)
    return df.select(
        F.col(id_col),
        F.array_join(kept, "\n").alias("clean_text"),
        F.size(lines).cast("bigint").alias("n_lines"),
        F.size(kept).cast("bigint").alias("n_kept"),
        (F.size(kept) >= min_kept_lines).cast("int").alias("keep_doc"),
    )


def quality_filter(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_tokens: int = 20,
    min_stopword_ratio: float = 0.03,
    min_quality: float = 0.5,
) -> DataFrame:
    """The filter chain a corpus actually ships through: every doc gets
    ``keep`` plus the FIRST rule that rejected it (``reject_reason``,
    NULL when kept) — the audit trail that tells you *why* 40% of a
    crawl vanished, not just that it did.

    Rules apply in order over :func:`quality_features` (rounded values,
    so thresholds compare identically in any engine): token floor,
    stopword floor (word-soup/boilerplate gate), blended-quality floor.
    Map-side Column algebra; filtering to ``keep = 1`` is the shipped
    corpus.
    """
    feats = quality_features(df, text_col=text_col, id_col=id_col)
    reason = (
        F.when(F.col("n_tokens") < min_tokens, "too_few_tokens")
        .when(F.col("stopword_ratio") < min_stopword_ratio, "low_stopword_ratio")
        .when(F.col("quality_score") < min_quality, "low_quality_score")
    )
    return feats.select(
        F.col(id_col),
        F.when(reason.isNull(), 1).otherwise(0).alias("keep"),
        reason.alias("reject_reason"),
    )


def blocklist_filter(
    df: DataFrame,
    terms: tuple[str, ...],
    text_col: str = "text",
    id_col: str = "doc_id",
    min_distinct: int = 2,
    max_density_bp: int = 500,
) -> DataFrame:
    """Wordlist-based content filter (the NSFW/spam-blocklist gate every
    production crawl runs): a document is dropped when it matches
    ``min_distinct`` or more DISTINCT blocklist terms, or when blocklist
    hits exceed ``max_density_bp`` basis points (1/10000) of its tokens
    — the two-signal rule that keeps a single incidental slur from
    nuking an article while still catching keyword-stuffed spam.

    Scale: the blocklist is a plan literal (broadcast by construction);
    matching is whole-word on the lowered token array — pure
    higher-order Column algebra in the scan stage, zero shuffle. The
    density gate cross-multiplies integers (``hits * 10000 >
    bp * n_tokens``) so no float ratio ever forms — bit-identical in
    any engine. Output keeps the evidence columns for the drop audit.
    """
    # Document tokens are lowered below, so the term literals must be
    # too — a mixed-case blocklist entry would otherwise never match.
    term_arr = F.array(*[F.lit(t.lower()) for t in terms])
    toks = F.transform(tokens(F.col(text_col)), lambda t: F.lower(t))
    hits = F.filter(toks, lambda t: F.array_contains(term_arr, t))
    out = df.select(
        F.col(id_col),
        F.size(toks).alias("n_tokens"),
        F.size(hits).alias("n_hits"),
        F.size(F.array_distinct(hits)).alias("n_distinct_hits"),
    )
    drop = (F.col("n_distinct_hits") >= min_distinct) | (
        F.col("n_hits") * 10000 > max_density_bp * F.col("n_tokens")
    )
    return out.withColumn(
        "keep", F.when(drop, F.lit(0)).otherwise(F.lit(1))
    )


def script_mixing_audit(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    confusables: str = "аеорсх"
    "АЕОРСХ",
) -> DataFrame:
    """Homoglyph / mixed-script audit — the spam-and-spoofing gate
    (SEO keyword stuffing, phishing domains, adversarial dedup
    evasion) that hides Cyrillic/Greek lookalikes inside Latin words
    so exact and fuzzy matchers miss them: per document, the count of
    tokens mixing Latin with Cyrillic/Greek codepoints, the count of
    characters from the classic confusable set (Cyrillic
    а е о р с х and capitals), and the verdict. Pure Column regexp +
    translate algebra in the scan stage — zero shuffle, zero Python.
    """
    t = F.coalesce(F.col(text_col), F.lit(""))  # NULL text: zero counts
    toks = tokens(t)
    mixed = F.filter(
        toks,
        lambda x: x.rlike("[A-Za-z]")
        & x.rlike("[Ѐ-ӿͰ-Ͽ]"),
    )
    n_confusable = F.length(t) - F.length(F.translate(t, confusables, ""))
    out = df.select(
        F.col(id_col),
        F.size(toks).alias("n_tokens"),
        F.size(mixed).alias("n_mixed_tokens"),
        n_confusable.cast("int").alias("n_confusable_chars"),
    )
    return out.withColumn(
        "suspicious",
        F.when(F.col("n_mixed_tokens") > 0, 1).otherwise(0).cast("int"),
    )


def cdc_chunks(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    mod: int = 8,
    seed: int = 37,
) -> DataFrame:
    """Content-defined chunking (the rsync/LBFS/CDC idea at token
    granularity): a token whose portable hash is ``0 mod mod`` closes a
    chunk, so chunk boundaries are decided by CONTENT, not position —
    insert a sentence into a document and every chunk outside the edit
    re-appears byte-identical, which is what makes sub-document dedup
    robust to edits (fixed-width windows re-align everything after the
    insertion point).

    Zero shuffle AND linear per document: one pass extracts the
    boundary POSITIONS (1-based indexes of tokens whose hash is 0 mod
    ``mod``), then chunk *k* is a single ``slice`` of the token array
    between consecutive boundaries — every token is hashed once,
    copied once and joined once, so a monster document costs O(n),
    not the O(n²) a per-token prefix recount (or per-chunk re-filter)
    would pay on the long-doc skew tail. One ``posexplode`` emits
    (id, chunk_idx, chunk_text, n_tokens) rows in the scan stage.
    Average chunk length is ``mod`` tokens. Empty documents yield no
    rows.
    """
    # STAGED selects: each expensive array materializes once per row
    # (the hash array would otherwise re-evaluate its md5s inside every
    # nested lambda; multi-reference aliases block projection collapse)
    toks = tokens(F.col(text_col))
    s1 = df.select(
        F.col(id_col),
        F.transform(
            toks,
            lambda t: F.struct(
                t.alias("t"),
                F.pmod(hash64(t, seed=seed), F.lit(mod)).alias("h"),
            ),
        ).alias("zp"),
    )
    zp = F.col("zp")
    s2 = s1.select(
        F.col(id_col),
        F.transform(zp, lambda s: s["t"]).alias("ta"),
        # 1-based positions of boundary tokens (each closes its chunk)
        F.filter(
            F.transform(
                zp, lambda s, i: F.when(s["h"] == F.lit(0), i + 1)
            ),
            lambda x: x.isNotNull(),
        ).alias("bp"),
    )
    ta, bp = F.col("ta"), F.col("bp")
    n, m = F.size(ta), F.size(bp)
    # chunk count: one chunk per boundary, plus a trailing partial
    # chunk when tokens remain after the last boundary
    n_chunks = F.when(m == 0, F.when(n > 0, F.lit(1)).otherwise(F.lit(0)))\
        .otherwise(m + F.when(n > F.element_at(bp, -1), 1).otherwise(0))

    def _start(k):  # last boundary before chunk k (0 for the first)
        return F.when(k == 0, F.lit(0)).otherwise(F.element_at(bp, k))

    def _end(k):  # chunk k's own boundary, or n for the trailing chunk
        return F.when(k < m, F.element_at(bp, k + 1)).otherwise(n)

    chunk_arr = F.transform(
        F.sequence(F.lit(0), n_chunks - 1),
        lambda k: F.struct(
            F.array_join(
                F.slice(ta, _start(k) + 1, _end(k) - _start(k)), " "
            ).alias("chunk_text"),
            (_end(k) - _start(k)).cast("int").alias("n_tokens"),
        ),
    )
    out = s2.select(
        F.col(id_col),
        F.posexplode(
            F.when(n_chunks > 0, chunk_arr).otherwise(
                F.array().cast(
                    "array<struct<chunk_text:string,n_tokens:int>>"
                )
            )
        ).alias("chunk_idx", "c"),
    )
    return out.select(
        id_col,
        "chunk_idx",
        F.col("c")["chunk_text"].alias("chunk_text"),
        F.col("c")["n_tokens"].alias("n_tokens"),
    )


def source_quality(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    strata_col: str = "source",
    min_tokens: int = 20,
    min_stopword_ratio: float = 0.03,
    min_quality: float = 0.5,
    round_digits: int = 6,
) -> DataFrame:
    """Per-source quality rollup: doc count, mean quality score, and the
    filter-chain keep rate — the table you read before assigning
    :func:`~trollflow2_spark.extensions.sampling.stratified_sample`
    rates or :func:`~trollflow2_spark.extensions.sampling.interleave_sources`
    weights to each source.

    One map pass computing features + the rule verdict, one hash agg on
    the stratum — no joins (the filter chain re-evaluates inline rather
    than joining :func:`quality_filter` back, so the corpus is scanned
    once).
    """
    feats = quality_features(
        df, text_col=text_col, id_col=id_col, extra_cols=[strata_col]
    )
    keep = (
        (F.col("n_tokens") >= min_tokens)
        & (F.col("stopword_ratio") >= min_stopword_ratio)
        & (F.col("quality_score") >= min_quality)
    ).cast("int")
    return (
        feats.withColumn("_keep", keep)
        .groupBy(strata_col)
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.round(F.avg("quality_score"), round_digits).alias("mean_quality"),
            F.round(F.avg("_keep"), round_digits).alias("keep_rate"),
        )
    )


def corpus_stats(
    df: DataFrame,
    strata_col: str = "source",
    size_col: str = "n_chars",
    round_digits: int = 6,
    percentile_mode: str = "approx",
    approx_accuracy: int = 10_000,
) -> DataFrame:
    """Per-stratum corpus profile: doc count, total/mean size, and
    p50/p90/p99 size percentiles — the first thing you compute on a new
    crawl dump.

    ``percentile_mode="approx"`` (the default — the 100 TB form) uses
    ``approx_percentile``, whose sketches merge map-side so only
    fixed-size digests shuffle; ``"exact"`` routes through
    ``exact_quantiles`` (GK-bracket distributed exact selection,
    identical interpolation semantics to ``percentile``) — the
    oracle-reproducible mode the contract query pins without ever
    buffering a stratum's sizes in one aggregate (approx results are
    accuracy-parameterized, not bit-stable across engines).
    """
    if percentile_mode not in ("approx", "exact"):
        raise ValueError(
            f"percentile_mode must be 'approx' or 'exact', got {percentile_mode!r}"
        )
    if percentile_mode == "approx":
        qs = F.lit([0.5, 0.9, 0.99])
        pcts = F.approx_percentile(F.col(size_col), qs, F.lit(approx_accuracy))
        return (
            df.groupBy(strata_col)
            .agg(
                F.count(F.lit(1)).alias("n_docs"),
                F.sum(size_col).alias("total_size"),
                F.round(F.avg(size_col), round_digits).alias("mean_size"),
                pcts.alias("_p"),
            )
            .select(
                strata_col,
                "n_docs",
                "total_size",
                "mean_size",
                F.round(F.col("_p")[0], round_digits).alias("p50_size"),
                F.round(F.col("_p")[1], round_digits).alias("p90_size"),
                F.round(F.col("_p")[2], round_digits).alias("p99_size"),
            )
        )
    from trollflow2_spark.extensions.profile import exact_quantiles

    # the rollup aggs ride exact_quantiles' group-cardinality stats
    # pass (r15): one fused scan instead of a second agg + join
    eq = exact_quantiles(
        df,
        [strata_col],
        size_col,
        [0.5, 0.9, 0.99],
        round_dp=None,
        extra_aggs={
            "n_docs": F.count(F.lit(1)),
            "total_size": F.sum(size_col),
            "mean_size": F.round(F.avg(size_col), round_digits),
        },
    )

    def pick(p: float, name: str):
        return F.round(
            F.max(F.when(F.col("p") == p, F.col("q"))), round_digits
        ).alias(name)

    return eq.groupBy(strata_col).agg(
        F.first("n_docs").alias("n_docs"),
        F.first("total_size").alias("total_size"),
        F.first("mean_size").alias("mean_size"),
        pick(0.5, "p50_size"),
        pick(0.9, "p90_size"),
        pick(0.99, "p99_size"),
    ).select(
        strata_col,
        "n_docs",
        "total_size",
        "mean_size",
        "p50_size",
        "p90_size",
        "p99_size",
    )


# PII redaction rules, applied IN ORDER (earlier redactions change what
# later patterns can match — ordering is part of the contract). Patterns
# stay in the Java-regex / RE2 common subset so the DuckDB oracle can run
# the identical expressions: no backreferences, no lookaround.
PII_RULES: tuple[tuple[str, str, str], ...] = (
    ("email", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "[EMAIL]"),
    ("ipv4", r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b", "[IP]"),
    ("phone", r"\b\d{3}[-. ]\d{3,4}\b", "[PHONE]"),
)


def pii_scrub(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Redact PII-shaped spans (emails, IPv4s, phone-like digit runs)
    before training: per doc, the match count per rule plus the scrubbed
    text with each span replaced by its ``[TOKEN]``.

    Pure Column algebra (``regexp_count`` + chained ``regexp_replace``)
    — codegen'd, no shuffle, scan reads only (id, text). Rules apply in
    :data:`PII_RULES` order: emails first (their local parts contain
    digits), then IPs (dotted digits would otherwise feed the looser
    phone pattern), then phones.

    Output: (id, n_email, n_ipv4, n_phone, scrubbed).
    """
    # counts are taken on the progressively-scrubbed text so each one is
    # exactly the number of replacements that rule performed (a digit run
    # inside an already-redacted email/IP is not double-counted)
    scrubbed = F.col(text_col)
    counts = []
    for name, pat, token in PII_RULES:
        counts.append(F.regexp_count(scrubbed, F.lit(pat)).alias(f"n_{name}"))
        scrubbed = F.regexp_replace(scrubbed, pat, token)
    return df.select(F.col(id_col), *counts, scrubbed.alias("scrubbed"))


def repetition_features(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    round_digits: int = 6,
) -> DataFrame:
    """Intra-document repetition signals (Gopher/RefinedWeb-style
    quality filters): boilerplate and template spam repeat lines and
    n-grams within a single document.

    - ``dup_line_frac``: fraction of non-blank lines that are repeats of
      an earlier line — pure array algebra per row (codegen'd, no
      shuffle).
    - ``top_bigram_frac``: share of the document's word bigrams taken by
      its single most frequent bigram. Counted via explode + two-level
      aggregation (one shuffle on (id, gram)) — linear in document
      length, unlike per-row quadratic array scans.

    Output: (id, n_lines, dup_line_frac, top_bigram_frac).
    """
    lines = F.filter(
        F.split(F.col(text_col), r"\n"), lambda s: F.trim(s) != ""
    )
    n_lines = F.size(lines)
    dup_frac = F.when(
        n_lines > 0,
        F.round(
            1.0 - F.size(F.array_distinct(lines)).cast("double") / n_lines,
            round_digits,
        ),
    ).otherwise(0.0)
    base = df.select(
        F.col(id_col),
        n_lines.cast("int").alias("n_lines"),
        dup_frac.alias("dup_line_frac"),
    )
    grams = df.select(
        F.col(id_col), F.explode(word_shingles(F.col(text_col), 2)).alias("g")
    )
    counts = grams.groupBy(id_col, "g").count()
    top = counts.groupBy(id_col).agg(
        F.round(F.max("count").cast("double") / F.sum("count"), round_digits).alias(
            "top_bigram_frac"
        )
    )
    return base.join(top, id_col)


def normalize_text(col: Column) -> Column:
    """Unicode-normalize a text Column for corpus hygiene: NFC
    composition (decomposed "e + combining accent" sequences become the
    precomposed codepoint, so dedup/fingerprint keys stop splitting on
    byte-identical-looking text), C0/C1 control characters stripped,
    non-breaking-space variants mapped to plain space, whitespace runs
    collapsed, ends trimmed.

    The NFC step is the one thing Spark SQL cannot express — it runs as
    an Arrow-batched pandas UDF (``unicodedata.normalize`` over the
    batch); everything after it is JVM-side Column regex, so the Python
    surface is exactly one string pass. At 100 TB this is a map-only
    stage: no shuffle, text column in flight only.

    The DuckDB oracle replays it with ``nfc_normalize`` + the same
    regex chain (ASCII ``\\s`` on both engines; NBSP handled
    explicitly so dialect character-class differences cannot bite).
    """

    @F.pandas_udf("string")
    def _nfc(s: pd.Series) -> pd.Series:
        import unicodedata

        return s.map(
            lambda v: unicodedata.normalize("NFC", v) if v is not None else None
        )

    out = _nfc(col)
    out = F.regexp_replace(out, "[\u00a0\u2007\u202f]", " ")
    out = F.regexp_replace(
        out, r"[\x00-\x08\x0b\x0c\x0e-\x1f\x7f]", ""
    )
    out = F.regexp_replace(out, r"\s+", " ")
    return F.trim(out)


def hashed_embedding(
    df: DataFrame,
    dim: int = 64,
    text_col: str = "text",
    id_col: str = "doc_id",
    round_digits: int = 6,
) -> DataFrame:
    """Feature-hashing ("hashing trick", Weinberger et al. 2009) text
    embeddings: every token hashes into one of ``dim`` buckets, the
    per-doc bucket counts L1-normalize into a dense vector — a
    model-free text embedding that feeds the repo's entire vector tier
    (cosine near-dup, ANN, k-means cells, SemDeDup) without any
    external encoder. No vocabulary to build or broadcast: the hash IS
    the vocabulary, which is what lets it run over 100 TB in one pass.

    Shape: explode -> (id, bucket) hash agg (map-side combined; shuffle
    carries at most dim rows per doc) -> per-doc map assembly -> dense
    array via a sequence transform. No UDFs, no shuffle of the text.
    Output: (id, n_tokens, embedding array<double>).
    """
    tok = df.select(
        F.col(id_col), F.explode(tokens(F.col(text_col))).alias("tk")
    ).select(
        id_col,
        F.pmod(hash64(F.lower(F.col("tk"))), F.lit(int(dim))).alias("b"),
    )
    c = tok.groupBy(id_col, "b").agg(F.count(F.lit(1)).alias("n"))
    m = c.groupBy(id_col).agg(
        F.map_from_entries(
            F.collect_list(F.struct(F.col("b"), F.col("n")))
        ).alias("m"),
        F.sum("n").alias("n_tokens"),
    )
    emb = F.transform(
        F.sequence(F.lit(0), F.lit(int(dim) - 1)),
        lambda i: F.round(
            F.coalesce(
                F.element_at(F.col("m"), i.cast("long")), F.lit(0)
            ).cast("double")
            / F.col("n_tokens"),
            round_digits,
        ),
    )
    return m.select(id_col, "n_tokens", emb.alias("embedding"))


def chunk_documents(
    df: DataFrame,
    chunk_tokens: int = 50,
    overlap: int = 10,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Split documents into overlapping token-window chunks — the RAG /
    context-window prep step: chunk ``i`` covers whitespace tokens
    ``[i*stride, i*stride + chunk_tokens)`` with ``stride = chunk_tokens
    - overlap``, so consecutive chunks share ``overlap`` tokens and no
    token is lost at a boundary. Emits ``(id, chunk_idx, n_chunk_tokens,
    chunk_text)``; zero-token documents emit no chunks.

    Scale shape: pure Column algebra in the scan stage — ``sequence``
    over chunk starts + ``slice`` of the token array, exploded map-side.
    ZERO shuffle; the fan-out (rows multiply by ~n_tokens/stride)
    happens after the scan, so partition sizing follows output rows via
    AQE, and no UDF touches the hot path.
    """
    if not 0 <= overlap < chunk_tokens:
        raise ValueError(
            f"need 0 <= overlap < chunk_tokens, got {overlap}/{chunk_tokens}"
        )
    stride = chunk_tokens - overlap
    toks = tokens(F.col(text_col))
    n = F.size(toks)
    starts = F.sequence(F.lit(0), F.greatest(n - 1, F.lit(0)), F.lit(stride))
    chunks = F.when(
        n > 0,
        F.transform(
            starts,
            lambda s: F.struct(
                (s / stride).cast("int").alias("chunk_idx"),
                F.slice(toks, s + 1, chunk_tokens).alias("chunk_toks"),
            ),
        ),
    ).otherwise(F.array())
    exploded = df.select(
        F.col(id_col), F.explode(chunks).alias("c")
    )
    return exploded.select(
        F.col(id_col),
        F.col("c.chunk_idx").alias("chunk_idx"),
        F.size(F.col("c.chunk_toks")).alias("n_chunk_tokens"),
        F.array_join(F.col("c.chunk_toks"), " ").alias("chunk_text"),
    )


def dsir_weights(
    df: DataFrame,
    target: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    vocab_k: int = 5000,
    alpha: float = 0.5,
    round_digits: int = 6,
) -> DataFrame:
    """DSIR-style importance weights (Xie et al., *Data Selection for
    Language Models via Importance Resampling*): score every corpus
    document by how much more likely its tokens are under a unigram LM
    fit on a small TARGET-domain sample than under one fit on the raw
    corpus — ``mean_log_ratio = avg(ln p_target(tok) - ln p_raw(tok))``.
    Positive means target-like; the weight feeds :func:`dsir_resample`.

    Both models use the same additive-smoothed top-k construction as
    :func:`unigram_logprob` (top-``vocab_k`` tokens, OOV mass), fit
    independently on their side's token stream.

    Scale: two vocabulary-sized hash aggs (map-side combine), both
    models BROADCAST into one pass over the exploded corpus tokens —
    the 100 TB corpus is read once and never shuffled on tokens; the
    per-doc reduce collapses partition-locally first. Output:
    ``(id, n_tokens, mean_log_ratio)``; zero-token docs emit no row.
    """
    a = float(alpha)

    def _model(frame: DataFrame, prefix: str):
        tok = frame.select(
            F.explode(tokens(F.col(text_col))).alias("tk")
        ).select(F.lower(F.col("tk")).alias("token"))
        counts = tok.groupBy("token").agg(
            F.count(F.lit(1)).alias(f"{prefix}_c")
        )
        stats = counts.agg(
            F.sum(f"{prefix}_c").cast("double").alias(f"{prefix}_n"),
            F.count(F.lit(1)).cast("double").alias(f"{prefix}_v"),
        )
        model = counts.orderBy(
            F.desc(f"{prefix}_c"), F.col("token")
        ).limit(int(vocab_k))
        return model, stats

    t_model, t_stats = _model(target, "t")
    r_model, r_stats = _model(df, "r")
    tok = df.select(
        F.col(id_col), F.explode(tokens(F.col(text_col))).alias("tk")
    ).select(id_col, F.lower(F.col("tk")).alias("token"))
    scored = (
        tok.join(F.broadcast(t_model), "token", "left")
        .join(F.broadcast(r_model), "token", "left")
        .crossJoin(F.broadcast(t_stats))
        .crossJoin(F.broadcast(r_stats))
        .withColumn(
            "log_ratio",
            F.log(
                (F.coalesce(F.col("t_c"), F.lit(0)) + F.lit(a))
                / (F.col("t_n") + F.lit(a) * (F.col("t_v") + 1))
            )
            - F.log(
                (F.coalesce(F.col("r_c"), F.lit(0)) + F.lit(a))
                / (F.col("r_n") + F.lit(a) * (F.col("r_v") + 1))
            ),
        )
    )
    return scored.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_tokens"),
        F.round(F.avg("log_ratio"), round_digits).alias("mean_log_ratio"),
    )


def dsir_resample(
    df: DataFrame,
    target: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    tau: float = 1.0,
    vocab_k: int = 5000,
    alpha: float = 0.5,
    seed: int | None = 17,
) -> DataFrame:
    """Deterministic importance resampling over :func:`dsir_weights`:
    keep probability ``min(1, exp(tau * mean_log_ratio))`` (target-like
    docs survive, off-domain docs are down-sampled proportionally to
    their likelihood ratio), decided by the same portable-hash bucket
    predicate the sampling family uses — no RNG state, identical
    decisions on any engine/partitioning/retry. Output:
    ``(id, mean_log_ratio, keep_prob, kept)``; filter ``kept = 1`` for
    the selected corpus. Map-side after the broadcast-scored weights —
    the resample itself adds zero shuffles.
    """
    from trollflow2_spark.extensions.sampling import (
        RATE_BUCKETS,
        _rate_bucket,
    )

    w = dsir_weights(
        df, target, text_col=text_col, id_col=id_col,
        vocab_k=vocab_k, alpha=alpha,
    )
    keep_prob = F.round(
        F.least(F.lit(1.0), F.exp(F.lit(float(tau)) * F.col("mean_log_ratio"))),
        4,
    )
    bucket = _rate_bucket(F.col(id_col), seed)
    kept = (
        bucket < F.round(keep_prob * RATE_BUCKETS, 0).cast("int")
    ).cast("int")
    return w.select(
        F.col(id_col),
        F.col("mean_log_ratio"),
        keep_prob.alias("keep_prob"),
        kept.alias("kept"),
    )


def encoding_quality(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Per-document encoding-hygiene signals — the crawl reality check
    (HTML served as latin-1, double-decoded UTF-8, lossy transcodes):

    - ``n_mojibake``: hits of the classic UTF-8-read-as-latin-1
      signatures (``\u00c3``/``\u00c2``/``\u00e2`` followed by a
      high character — how ``\u00e9`` becomes ``\u00c3\u00a9`` and a
      curly quote becomes ``\u00e2\u20ac\u2122``);
    - ``n_replacement``: U+FFFD replacement characters (a decoder
      already gave up);
    - ``n_control``: C0 control characters that survive in text
      (excluding tab/newline/CR) — binary-in-text leakage;
    - ``enc_ok``: 1 when all three are zero — the filter predicate.

    Pure Column regex in the scan stage — zero shuffle, no UDF; the
    identical patterns run in any SQL dialect with regex support.
    """
    t = F.col(text_col)
    moji = F.size(
        F.regexp_extract_all(
            t, F.lit("[\u00c3\u00c2\u00e2][\u0080-\u00ff]"), F.lit(0)
        )
    )
    repl = F.size(F.regexp_extract_all(t, F.lit("\ufffd"), F.lit(0)))
    ctrl = F.size(
        F.regexp_extract_all(
            t,
            F.lit("[\u0000-\u0008\u000b\u000c\u000e-\u001f]"),
            F.lit(0),
        )
    )
    return df.select(
        F.col(id_col),
        moji.alias("n_mojibake"),
        repl.alias("n_replacement"),
        ctrl.alias("n_control"),
        F.when((moji == 0) & (repl == 0) & (ctrl == 0), 1)
        .otherwise(0)
        .alias("enc_ok"),
    )


def bigram_logprob(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    vocab_k: int = 5000,
    bigram_k: int = 2000,
    alpha: float = 0.5,
    lam: float = 0.7,
    round_digits: int = 6,
) -> DataFrame:
    """Per-document mean log-probability of token TRANSITIONS under a
    Jelinek-Mercer-interpolated bigram LM fit on the corpus itself —
    the KenLM-filtering upgrade over :func:`unigram_logprob`: word soup
    with plausible unigrams but impossible transitions scores low.

    ``p(w2|w1) = lam * c(w1,w2)/c(w1) + (1-lam) * p_uni(w2)`` with the
    bigram table truncated to the top ``bigram_k`` pairs (absent pairs
    back off to the unigram term alone) and ``p_uni`` the same
    smoothed top-``vocab_k`` unigram model as :func:`unigram_logprob`.

    Scale: the unigram AND bigram count tables derive from ONE corpus
    scan and ONE map-side-combinable hash agg — each doc emits its
    token events (``(w, NULL)``) and transition events (``(w1, w2)``)
    into a single explode, and the grouped result splits into the two
    tables by the NULL marker. That combined counts table is
    vocabulary-sized and PERSISTED, so the three model derivations
    (N/V stats, unigram top-k, bigram top-k + left-count join) reuse it
    without re-reading the corpus. The top-k tables are TakeOrdered (no
    global sort) and BROADCAST, so scoring is the only other corpus
    pass: one explode of transition pairs with two broadcast joins and
    a per-doc reduce — 2 corpus scans total, where the naive lineage
    re-tokenized the corpus 5x. Output:
    ``(id, n_transitions, mean_bigram_logprob)``; docs with fewer than
    two tokens emit no row.
    """
    from trollflow2_spark.tables import parallelism_floor

    a = float(alpha)
    lo = F.transform(tokens(F.col(text_col)), F.lower)
    n = F.size(lo)
    transitions = F.when(
        n >= 2,
        F.zip_with(
            F.slice(lo, 1, n - 1),
            F.slice(lo, 2, n - 1),
            lambda x, y: F.struct(x.alias("w1"), y.alias("w2")),
        ),
    ).otherwise(F.array().cast("array<struct<w1:string,w2:string>>"))
    # scale-adaptive floor (guide §2.5): BOTH corpus passes (the
    # events agg and the scoring explode) tokenize every document —
    # on single-row-group fixtures that ran as two SERIAL 1-task jobs
    # (~1.3 s of the query's 1.9 s job-time); no-op on real scans
    df = parallelism_floor(df, id_col, text_col)
    pairs = df.select(
        F.col(id_col), F.explode(transitions).alias("p")
    ).select(id_col, F.col("p.w1").alias("w1"), F.col("p.w2").alias("w2"))

    # one scan, one shuffle: token events carry a NULL w2 marker,
    # transition events carry the real pair
    events = df.select(
        F.explode(
            F.concat(
                F.transform(
                    lo,
                    lambda t: F.struct(
                        t.alias("w1"),
                        F.lit(None).cast("string").alias("w2"),
                    ),
                ),
                transitions,
            )
        ).alias("e")
    ).select(F.col("e.w1").alias("w1"), F.col("e.w2").alias("w2"))
    counts_all = (
        events.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("c")).persist()
    )
    counts = counts_all.filter(F.col("w2").isNull()).select(
        F.col("w1").alias("token"), F.col("c").alias("c1")
    )
    stats = counts.agg(
        F.sum("c1").cast("double").alias("n"),
        F.count(F.lit(1)).cast("double").alias("v"),
    )
    uni_model = counts.orderBy(F.desc("c1"), F.col("token")).limit(
        int(vocab_k)
    ).select(F.col("token").alias("w2"), F.col("c1").alias("uc"))
    big_counts = counts_all.filter(F.col("w2").isNotNull()).select(
        "w1", "w2", F.col("c").alias("c12")
    )
    big_model = (
        big_counts.orderBy(F.desc("c12"), "w1", "w2")
        .limit(int(bigram_k))
        .join(
            F.broadcast(counts.select(F.col("token").alias("w1"), "c1")),
            "w1",
        )
    )
    scored = (
        pairs.join(F.broadcast(big_model), ["w1", "w2"], "left")
        .join(F.broadcast(uni_model), "w2", "left")
        .crossJoin(F.broadcast(stats))
        .withColumn(
            "p_uni",
            (F.coalesce(F.col("uc"), F.lit(0)) + F.lit(a))
            / (F.col("n") + F.lit(a) * (F.col("v") + 1)),
        )
        .withColumn(
            "logp",
            F.log(
                F.lit(float(lam))
                * F.coalesce(F.col("c12") / F.col("c1"), F.lit(0.0))
                + F.lit(1.0 - float(lam)) * F.col("p_uni")
            ),
        )
    )
    return scored.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_transitions"),
        F.round(F.avg("logp"), round_digits).alias("mean_bigram_logprob"),
    )


# --- Python UDTF extension surface -----------------------------------------

#: sentence boundary rule shared verbatim with the SQL oracle: mark
#: terminator+space with a \x01 separator, split, drop empties. RE2-safe
#: (no lookbehind), so DuckDB replays it with regexp_replace + split.
SENTENCE_MARK_RE = r"([.!?]) +"


def register_sentence_udtf(spark) -> None:
    """Register ``split_sentences(text)`` — a Python UDTF usable from
    SQL as a LATERAL table function, yielding (pos, sentence) rows.

    This pins the UDTF extension surface (the table-valued analog of
    the reference's name-addressed plugin registries). UDTFs are
    row-at-a-time Python — the EXTENSION path, not the hot path: a
    corpus-scale sentence explode belongs in the Column/split form
    this same rule compiles to. Registration is idempotent."""
    import re as _re

    from pyspark.sql.functions import udtf

    @udtf(returnType="pos int, sentence string")
    class _SplitSentences:
        def eval(self, text: str):
            if text is None:
                return
            marked = _re.sub(SENTENCE_MARK_RE, "\\1\x01", text)
            pos = 0
            for part in marked.split("\x01"):
                if part != "":
                    yield pos, part
                    pos += 1

    spark.udtf.register("split_sentences", _SplitSentences)


def collocations_pmi(
    df: DataFrame,
    text_col: str = "text",
    min_count: int = 5,
) -> DataFrame:
    """PMI collocation mining — the phrase-discovery pass (Mikolov-era
    word2phrase, still how corpus pipelines decide 'new york' is one
    token): pointwise mutual information of adjacent token pairs,
    ``pmi = ln((c_ab/N_bi) / ((c_a/N_uni)(c_b/N_uni)))``, floored at
    ``min_count`` occurrences so rare coincidences don't dominate.

    Bigram extraction is array algebra in the scan stage (the token
    array binds once; adjacent pairs via one sequence transform);
    counts are three map-side-combinable hash aggs; the unigram side
    broadcasts back onto the bigram table. The PMI is one scalar log
    per surviving pair — no float folds to order."""
    from trollflow2_spark.extensions.hashing import tokens

    tk = df.select(
        F.transform(tokens(F.col(text_col)), lambda t: F.lower(t)).alias(
            "__t"
        )
    )
    t = F.col("__t")
    bigrams = tk.where(F.size(t) >= 2).select(
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.size(t) - 1),
                lambda i: F.struct(
                    F.element_at(t, i).alias("tok_a"),
                    F.element_at(t, i + 1).alias("tok_b"),
                ),
            )
        ).alias("__bg")
    ).select("__bg.tok_a", "__bg.tok_b")
    unigrams = tk.select(F.explode(t).alias("tok"))
    c_ab = bigrams.groupBy("tok_a", "tok_b").agg(
        F.count(F.lit(1)).alias("c_ab")
    )
    c_u = unigrams.groupBy("tok").agg(F.count(F.lit(1)).alias("__cu"))
    n_bi = bigrams.agg(F.count(F.lit(1)).alias("__NB"))
    n_uni = unigrams.agg(F.count(F.lit(1)).alias("__NU"))
    ca = F.broadcast(
        c_u.select(F.col("tok").alias("tok_a"), F.col("__cu").alias("__ca"))
    )
    cb = F.broadcast(
        c_u.select(F.col("tok").alias("tok_b"), F.col("__cu").alias("__cb"))
    )
    j = (
        c_ab.where(F.col("c_ab") >= min_count)
        .join(ca, "tok_a")
        .join(cb, "tok_b")
        .crossJoin(F.broadcast(n_bi))
        .crossJoin(F.broadcast(n_uni))
    )
    nb, nu = F.col("__NB").cast("double"), F.col("__NU").cast("double")
    pmi = F.log(
        (F.col("c_ab").cast("double") / nb)
        / (
            (F.col("__ca").cast("double") / nu)
            * (F.col("__cb").cast("double") / nu)
        )
    )
    return j.select(
        "tok_a",
        "tok_b",
        "c_ab",
        F.col("__ca").alias("count_a"),
        F.col("__cb").alias("count_b"),
        F.round(pmi, 6).alias("pmi"),
    )


def rake_keyphrases(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_phrase_len: int = 3,
    min_phrase_count: int = 3,
) -> DataFrame:
    """RAKE keyphrase extraction (Rose et al.) — the zero-model
    within-document complement of corpus-level `collocations_pmi`:
    candidate phrases are maximal stopword-free token runs (capped at
    ``max_phrase_len``), each word scores ``degree / frequency`` over
    the candidate set (degree = summed length of phrases containing
    it — words that live in long phrases matter more), and a phrase
    scores the sum of its word scores.

    Relational shape: tokens posexplode once; phrase ids are a
    cumulative stopword count per doc (one window keyed on the doc);
    word stats are two hash aggs; the phrase score folds ROUNDED word
    scores in DECIMAL (order-insensitive). Output: distinct phrases
    above the count floor with their score."""
    from pyspark.sql import Window

    from trollflow2_spark.extensions.hashing import tokens

    tk = df.select(
        F.col(id_col),
        F.posexplode(
            F.transform(tokens(F.col(text_col)), lambda t: F.lower(t))
        ).alias("pos", "tok"),
    )
    is_stop = F.col("tok").isin(STOPWORDS)
    w = Window.partitionBy(id_col).orderBy("pos").rowsBetween(
        Window.unboundedPreceding, 0
    )
    marked = tk.withColumn(
        "__pid", F.sum(is_stop.cast("int")).over(w)
    ).where(~is_stop)
    phrases = (
        marked.groupBy(id_col, "__pid")
        .agg(F.sort_array(F.collect_list(F.struct("pos", "tok"))).alias("__w"))
        .select(
            F.col(id_col),
            F.transform(
                F.slice(F.col("__w"), 1, max_phrase_len), lambda s: s["tok"]
            ).alias("words"),
        )
    )
    members = phrases.select(
        F.array_join("words", " ").alias("phrase"),
        F.size("words").alias("__plen"),
        F.explode("words").alias("tok"),
    )
    word_stats = members.groupBy("tok").agg(
        F.count(F.lit(1)).alias("__freq"),
        F.sum("__plen").alias("__deg"),
    )
    scored_words = word_stats.select(
        "tok",
        F.round(
            F.col("__deg").cast("double") / F.col("__freq").cast("double"), 9
        ).alias("__wscore"),
    )
    phrase_rows = (
        members.join(F.broadcast(scored_words), "tok")
        .groupBy("phrase")
        .agg(
            F.sum(F.col("__wscore").cast("decimal(38,9)"))
            .cast("double")
            .alias("__raw"),
            F.count(F.lit(1)).alias("__members"),
        )
    )
    counts = phrases.groupBy(
        F.array_join("words", " ").alias("phrase")
    ).agg(F.count(F.lit(1)).alias("n_occurrences"))
    return (
        counts.where(F.col("n_occurrences") >= min_phrase_count)
        .join(phrase_rows, "phrase")
        .select(
            "phrase",
            "n_occurrences",
            F.round(
                F.col("__raw") / F.col("n_occurrences").cast("double"), 6
            ).alias("score"),
        )
    )


ACCESS_LOG_RE = (
    r'^(\S+) (\S+) (\S+) \[([^ \]]+) ([^\]]+)\] '
    r'"(\S+) (\S+) (\S+)" (\d{3}) (\S+) "([^"]*)" "([^"]*)"$'
)


def parse_access_log(df: DataFrame, line_col: str = "line") -> DataFrame:
    """Combined-log-format (Apache/nginx) parsing as PURE Column regex
    — no Python in the path, the whole parse rides the scan stage in
    whole-stage codegen. CLF dash conventions map to NULL (ident/user
    `-`, byte count `-` on 204/301-style responses); the timestamp
    re-parses through `dd/MMM/yyyy:HH:mm:ss`; a line that does not
    match the grammar yields err=1 with NULL fields (the quarantine
    taxonomy, scan-stage edition). `is_bot` is the case-insensitive
    UA heuristic every traffic rollup starts from.

    Cost shape: ONE regex evaluation per row. Per-group
    `regexp_extract` calls each re-run the full pattern (12 groups =
    12 matches/row, 2.4x slower on the 100k-line bench), so the
    single pass rewrites the line to a \\x01-delimited record and
    splits — a match yields exactly 12 fields, anything else (incl.
    the unchanged non-matching line) quarantines."""
    ln = F.col(line_col)
    sep = "\x01"
    repl = sep.join(f"${i}" for i in range(1, 13))
    parts = F.split(F.regexp_replace(ln, ACCESS_LOG_RE, repl), sep)

    def g(i: int) -> Column:
        # F.get is NULL-safe out of bounds (element_at throws under
        # Spark 4's default ANSI mode when the line didn't match)
        return F.get(parts, i - 1)

    # 12 fields + a cheap shape check on the tiny status field (guards
    # the pathological pre-delimited non-matching line)
    matched = (F.size(parts) == 12) & g(9).rlike("^[0-9]{3}$")
    dash_null = lambda c: F.when(c != "-", c)  # noqa: E731
    ts = F.to_timestamp(g(4), "dd/MMM/yyyy:HH:mm:ss")
    out = df.select(
        "*",
        F.when(matched, g(1)).alias("ip"),
        F.when(matched, dash_null(g(3))).alias("user"),
        F.when(matched, ts).alias("req_ts"),
        F.when(matched, g(6)).alias("method"),
        F.when(matched, g(7)).alias("path"),
        F.when(matched, g(8)).alias("proto"),
        F.when(matched, g(9).cast("int")).alias("status"),
        F.when(matched, dash_null(g(10)).cast("long")).alias("bytes"),
        F.when(matched, dash_null(g(11))).alias("referer"),
        F.when(matched, g(12)).alias("ua"),
        (~matched).cast("int").alias("err"),
    )
    return out.withColumn(
        "status_class",
        F.when(matched, (F.col("status") / 100).cast("int")),
    ).withColumn(
        "is_bot",
        F.when(
            matched, F.col("ua").rlike("(?i)(bot|crawler|spider)").cast("int")
        ),
    )


def luhn_valid(s: Column) -> Column:
    """ISO/IEC 7812 Luhn check as pure Column algebra: reverse, split
    to chars, double every second digit (folding >9 by -9), aggregate
    sum, mod 10 — zero Python, rides whole-stage codegen."""
    rev = F.split(F.reverse(s), "")
    terms = F.transform(
        rev,
        lambda c, i: F.when(
            (i % 2 == 1) & (c.cast("int") * 2 > 9), c.cast("int") * 2 - 9
        )
        .when(i % 2 == 1, c.cast("int") * 2)
        .otherwise(c.cast("int")),
    )
    return F.aggregate(terms, F.lit(0), lambda a, x: a + x) % 10 == 0


def card_brand(s: Column) -> Column:
    """Issuer class from the public IIN prefixes (detection only)."""
    two = F.substring(s, 1, 2)
    return (
        F.when(F.substring(s, 1, 1) == "4", F.lit("visa"))
        .when(two.isin("51", "52", "53", "54", "55"), F.lit("mastercard"))
        .when(two.isin("34", "37"), F.lit("amex"))
        .otherwise(F.lit("other"))
    )


def luhn_audit(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Payment-card exposure audit for a text corpus — the
    checksum-verified tier above regex-only `pii_scrub`: candidate
    13-19 digit runs are extracted in the scan stage, Luhn-validated
    in Column algebra (a random digit run passes at only ~10%), and
    surfaced MASKED (first 6 + last 4, the PCI-DSS display rule) with
    the issuer class. One explode, zero shuffle, zero Python."""
    cand = F.explode(
        F.regexp_extract_all(F.col(text_col), F.lit(r"[0-9]{13,19}"), 0)
    )
    c = df.select(F.col(id_col), cand.alias("pan"))
    masked = F.concat(
        F.substring(F.col("pan"), 1, 6),
        F.lit("******"),
        F.substring(F.col("pan"), -4, 4),
    )
    return c.select(
        id_col,
        masked.alias("pan_masked"),
        F.length("pan").alias("pan_len"),
        luhn_valid(F.col("pan")).cast("int").alias("luhn_valid"),
        card_brand(F.col("pan")).alias("brand"),
    )


def posting_lists(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_df: int = 10,
) -> DataFrame:
    """Inverted-index construction as a first-class artifact — the
    materialized form behind `bm25_retrieval`: per (term, doc) the
    term frequency and the full ascending position list (rendered as
    a CSV string so the row is hash-comparable), plus the term's
    document frequency.

    Shape: posexplode in the scan stage, ONE shuffle to (term, doc)
    with map-side combine, then a window count over the term key for
    df (the second exchange is on a strict prefix of the first —
    Spark reuses the partitioning). ``min_df`` prunes the long tail
    BEFORE the artifact materializes; at index-build scale that floor
    is what keeps the term dimension bounded."""
    toks = docs.select(
        F.col(id_col).alias("doc_id"),
        F.posexplode(tokens(F.col(text_col))).alias("pos", "term"),
    )
    per_doc = toks.groupBy("term", "doc_id").agg(
        F.count(F.lit(1)).alias("tf"),
        F.array_join(F.sort_array(F.collect_list("pos")), ",").alias(
            "positions"
        ),
    )
    w = Window.partitionBy("term")
    out = per_doc.select(
        "term",
        F.count(F.lit(1)).over(w).alias("df"),
        "doc_id",
        "tf",
        "positions",
    )
    return out.where(F.col("df") >= min_df)
