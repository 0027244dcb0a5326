"""Config-driven corpus pipelines: the reference's name-addressed
stage model (`/root/reference/trollflow2/launcher.py` resolves each
product-list ``fun:`` through a registry — no code execution from
config) applied to the training-data tier.

A recipe is a YAML/JSON list of ``{stage: <name>, <param>: <value>}``
items; every stage is a registered function ``(docs DataFrame,
**params) -> DataFrame`` over the conventional corpus schema
(``doc_id``, ``text``, extra columns pass through). Stages resolve by
NAME ONLY — config can never execute code — and unknown names or
parameters fail fast with the available choices, mirroring
``plans/pipeline.py``'s stage registry semantics.

Scale: the runner is a driver-side fold over a config-sized list; each
stage contributes its own documented plan (semi-joins on the id for
filters, digest windows for dedup, map-side predicates for splits), so
the composed job is exactly the union of the stages' plans — no extra
shuffles from the orchestration itself.
"""

from __future__ import annotations

from typing import Any, Callable

from pyspark.sql import DataFrame, Window, functions as F

CORPUS_STAGES: dict[str, Callable[..., DataFrame]] = {}


def register_corpus_stage(name: str):
    def deco(fn: Callable[..., DataFrame]):
        CORPUS_STAGES[name] = fn
        return fn

    return deco


@register_corpus_stage("quality_filter")
def _stage_quality_filter(df: DataFrame, **params) -> DataFrame:
    """Keep docs passing the ordered quality rule chain (token floor,
    stopword floor, blended score); left-semi join on the id so every
    input column passes through."""
    from trollflow2_spark.extensions.text import quality_filter

    kept = (
        quality_filter(df, **params).where(F.col("keep") == 1).select("doc_id")
    )
    return df.join(kept, "doc_id", "left_semi")


@register_corpus_stage("gopher_rules")
def _stage_gopher(df: DataFrame, **params) -> DataFrame:
    """Keep docs passing the Gopher rule set."""
    from trollflow2_spark.extensions.text import gopher_rules

    kept = (
        gopher_rules(df, **params).where(F.col("keep") == 1).select("doc_id")
    )
    return df.join(kept, "doc_id", "left_semi")


@register_corpus_stage("scrub_repeated_spans")
def _stage_scrub(df: DataFrame, **params) -> DataFrame:
    """Cut cross-document repeated spans out of the text (Lee et al.
    removal half); ``text`` is replaced by the scrubbed text."""
    from trollflow2_spark.extensions.dedup import scrub_repeated_spans

    scrubbed = scrub_repeated_spans(df, **params).select(
        "doc_id", F.col("clean_text")
    )
    return (
        df.drop("text")
        .join(scrubbed, "doc_id")
        .withColumnRenamed("clean_text", "text")
    )


@register_corpus_stage("exact_dedup")
def _stage_exact_dedup(df: DataFrame, **params) -> DataFrame:
    """Keep the lowest-id document of every exact content class (the
    digest window form, so non-canonical duplicates drop with all
    columns preserved)."""
    w = Window.partitionBy(F.md5(F.col(params.get("text_col", "text"))))
    return (
        df.withColumn("__keep_id", F.min("doc_id").over(w))
        .where(F.col("doc_id") == F.col("__keep_id"))
        .drop("__keep_id")
    )


@register_corpus_stage("split")
def _stage_split(df: DataFrame, **params) -> DataFrame:
    """Assign the deterministic train/val/test split column."""
    from trollflow2_spark.extensions.sampling import deterministic_split

    fractions = params.pop("fractions")
    if isinstance(fractions, list):  # YAML pairs
        fractions = dict(fractions)
    return deterministic_split(df, fractions, **params)


@register_corpus_stage("c4_line_filter")
def _stage_c4(df: DataFrame, **params) -> DataFrame:
    """Apply C4 line cleaning; text becomes the cleaned text and docs
    below the surviving-line floor drop."""
    from trollflow2_spark.extensions.text import c4_line_filter

    cleaned = c4_line_filter(df, **params)
    return (
        df.drop("text")
        .join(
            cleaned.where(F.col("keep_doc") == 1).select(
                "doc_id", F.col("clean_text").alias("text")
            ),
            "doc_id",
        )
    )


@register_corpus_stage("near_dedup")
def _stage_near_dedup(df: DataFrame, **params) -> DataFrame:
    """Keep each near-duplicate cluster's canonical doc: minhash-LSH
    candidates -> n-gram Jaccard verify -> connected components ->
    is_canonical survivors (the production dedup chain as one stage)."""
    from trollflow2_spark.extensions.dedup import (
        duplicate_clusters,
        lsh_candidate_pairs,
        minhash_signatures,
        ngram_jaccard_pairs,
    )

    threshold = params.pop("threshold", 0.2)
    # signature width must agree between the minhash pass and the
    # banding, or a recipe's num_hashes silently applies to only one
    sigs = minhash_signatures(df, num_hashes=params.get("num_hashes", 8))
    cand = lsh_candidate_pairs(sigs, **params)
    verified = ngram_jaccard_pairs(
        df, candidates=cand, threshold=threshold
    ).select("id_a", "id_b")
    clusters = duplicate_clusters(df.select("doc_id"), verified)
    kept = clusters.where(F.col("is_canonical") == 1).select("doc_id")
    return df.join(kept, "doc_id", "left_semi")


@register_corpus_stage("lang_filter")
def _stage_lang_filter(df: DataFrame, **params) -> DataFrame:
    """Keep docs whose marker-based language guess is in the allowed
    set (default: English)."""
    from trollflow2_spark.extensions.text import lang_id

    allowed = params.pop("allowed", ["en"])
    kept = (
        lang_id(df, **params)
        .where(F.col("predicted_lang").isin(list(allowed)))
        .select("doc_id")
    )
    return df.join(kept, "doc_id", "left_semi")


@register_corpus_stage("pii_scrub")
def _stage_pii_scrub(df: DataFrame, **params) -> DataFrame:
    """Replace PII-shaped spans with their [TOKEN]s; ``text`` becomes
    the scrubbed text."""
    from trollflow2_spark.extensions.text import pii_scrub

    scrubbed = pii_scrub(df, **params).select("doc_id", F.col("scrubbed"))
    return (
        df.drop("text")
        .join(scrubbed, "doc_id")
        .withColumnRenamed("scrubbed", "text")
    )


@register_corpus_stage("epoch_mixture")
def _stage_epoch_mixture(df: DataFrame, **params) -> DataFrame:
    """Fan each source out to its repeat-factor epochs (adds an
    ``epoch`` column; factor 2.5 = two full + a half partial epoch)."""
    from trollflow2_spark.extensions.sampling import epoch_mixture

    factors = params.pop("factors")
    if isinstance(factors, list):  # YAML pairs
        factors = dict(factors)
    return epoch_mixture(df, factors, **params)


@register_corpus_stage("decontaminate")
def _stage_decontaminate(
    df: DataFrame,
    mod: int | None = None,
    residue: int | None = None,
    min_hits: int = 1,
    shingle_words: int | None = None,
    held_path: str | None = None,
) -> DataFrame:
    """Benchmark decontamination as a recipe stage (the GPT-3 n-gram
    filter shape): held-out docs leave the corpus entirely, and
    training docs sharing >= ``min_hits`` distinct word shingles with
    the held set drop.

    The held set comes either from the id convention (``mod`` /
    ``residue`` — the batch contract fixture) or, the PRODUCTION and
    streaming shape, from ``held_path``: a parquet eval set loaded as
    static state, so the stage is a pure per-doc map against fixed
    config and therefore commutes with micro-batching (per-batch
    id-derived held sets would NOT — leakage against another batch's
    held docs would be missed).

    100 TB shape: the held shingle-digest set is eval-sized ->
    broadcast; corpus shingles filter MAP-SIDE against it (broadcast
    semi-join in the scan stage), so only matching digests reach the
    per-doc hit count, and the final keep is a left-anti on the id.
    """
    from trollflow2_spark import qconst as C
    from trollflow2_spark.functions.hashing import hash64, word_shingles

    mod = C.CONTAM_MOD if mod is None else int(mod)
    residue = C.CONTAM_RESIDUE if residue is None else int(residue)
    shingle_words = (
        C.CONTAM_SHINGLE_WORDS if shingle_words is None
        else int(shingle_words)
    )
    if held_path is not None:
        held = df.sparkSession.read.parquet(held_path).select(
            "doc_id", "text"
        )
        corpus = df
    else:
        held = df.filter(F.col("doc_id") % mod == residue)
        corpus = df.filter(F.col("doc_id") % mod != residue)

    def sh(d: DataFrame) -> DataFrame:
        return d.select(
            "doc_id",
            F.explode(
                word_shingles(F.col("text"), shingle_words)
            ).alias("__s"),
        ).select("doc_id", hash64(F.col("__s")).alias("__h"))

    held_set = F.broadcast(sh(held).select("__h").distinct())
    bad = (
        sh(corpus)
        .join(held_set, "__h", "left_semi")
        .groupBy("doc_id")
        .agg(F.countDistinct("__h").alias("__hits"))
        .filter(F.col("__hits") >= int(min_hits))
        .select("doc_id")
    )
    return corpus.join(bad, "doc_id", "left_anti")


@register_corpus_stage("blocklist")
def _stage_blocklist(df: DataFrame, **params) -> DataFrame:
    """Keep docs passing the wordlist content gate (distinct-term +
    hit-density rules); left-semi on the id so all columns pass."""
    from trollflow2_spark.extensions.text import blocklist_filter

    kept = (
        blocklist_filter(df, **params)
        .where(F.col("keep") == 1)
        .select("doc_id")
    )
    return df.join(kept, "doc_id", "left_semi")


def run_recipe_audited(
    df: DataFrame, recipe: list[dict[str, Any]]
) -> DataFrame:
    """Run the recipe and return the per-stage row-accounting audit —
    the lineage trail every production corpus run ships with ("where
    did 40% of the crawl go?"): one row per stage with
    (stage_idx, stage, rows_in, rows_out, rows_dropped), stage_idx 0
    being the raw input.

    Each stage's output is localCheckpointed: it is consumed twice (by
    the next stage and by its own count), and the checkpoint both
    stops O(k^2) upstream re-derivation and avoids leaking persisted
    tables past the audit (the `semantic_candidate_pairs` lesson). The
    counts themselves are 1-row aggregates unioned into one audit
    DataFrame; the in/out/dropped arithmetic is a lag window over k+1
    rows — control-plane sized at any corpus scale.
    """
    out = df
    counts = [
        df.agg(F.count(F.lit(1)).alias("rows_out")).select(
            F.lit(0).alias("stage_idx"),
            F.lit("input").alias("stage"),
            F.col("rows_out"),
        )
    ]
    for i, item in enumerate(recipe):
        item = dict(item)
        name = item.pop("stage", None)
        item.pop("cache", False)  # audit checkpoints every stage anyway
        if not name or name not in CORPUS_STAGES:
            raise ValueError(
                f"recipe[{i}]: unknown stage {name!r}; available: "
                + ", ".join(sorted(CORPUS_STAGES))
            )
        out = CORPUS_STAGES[name](out, **item).localCheckpoint()
        counts.append(
            out.agg(F.count(F.lit(1)).alias("rows_out")).select(
                F.lit(i + 1).alias("stage_idx"),
                F.lit(name).alias("stage"),
                F.col("rows_out"),
            )
        )
    audit = counts[0]
    for c in counts[1:]:
        audit = audit.unionAll(c)
    w = Window.orderBy("stage_idx")
    return audit.select(
        "stage_idx",
        "stage",
        F.coalesce(F.lag("rows_out").over(w), F.col("rows_out")).alias(
            "rows_in"
        ),
        "rows_out",
        (
            F.coalesce(F.lag("rows_out").over(w), F.col("rows_out"))
            - F.col("rows_out")
        ).alias("rows_dropped"),
    )


def run_recipe(df: DataFrame, recipe: list[dict[str, Any]]) -> DataFrame:
    """Fold the recipe's stages over the corpus, by name.

    Per-stage ``cache: true`` persists that stage's OUTPUT
    (MEMORY_AND_DISK) — the knob for stages whose result is consumed
    more than once downstream (e.g. the span scrub reads its input
    twice: span detection + the cut join-back). Without it Spark
    re-derives the full upstream chain per consumer — fine when the
    upstream is one cheap scan, wasteful after a filter stack; with one
    cache on the quality gate the composed contract recipe reads the
    raw source twice and the cached survivors three times (3
    InMemoryTableScans) instead of six full source replays."""
    out = df
    for i, item in enumerate(recipe):
        item = dict(item)
        name = item.pop("stage", None)
        cache = bool(item.pop("cache", False))
        if not name or name not in CORPUS_STAGES:
            raise ValueError(
                f"recipe[{i}]: unknown stage {name!r}; available: "
                + ", ".join(sorted(CORPUS_STAGES))
            )
        out = CORPUS_STAGES[name](out, **item)
        if cache:
            out = out.persist()
    return out


def neardup_candidates(
    state_bands: DataFrame, batch_bands: DataFrame
) -> DataFrame:
    """(id_a=batch doc, id_b=state doc) LSH candidates of a batch
    against the CARRIED band state: the batch side broadcasts, so the
    accumulated state is one map-side parquet probe — no shuffle keyed
    on (band, bh) ever forms on the corpus side (plan-pinned in
    tests/test_recipe.py)."""
    return (
        state_bands.withColumnRenamed("doc_id", "corpus_id")
        .join(
            F.broadcast(
                batch_bands.withColumnRenamed("doc_id", "batch_id")
            ),
            ["band", "bh"],
        )
        .select(
            F.col("batch_id").alias("id_a"),
            F.col("corpus_id").alias("id_b"),
        )
        .distinct()
    )


def neardup_increment(
    batch_df: DataFrame,
    batch_bands: DataFrame,
    state_bands: DataFrame,
    state_text: DataFrame,
    threshold: float,
) -> DataFrame:
    """Batch survivors after the cross-batch near-dup gate: LSH
    candidates against the carried band state, n-gram-Jaccard
    confirmed on a candidate-BOUNDED text set (the state's text is
    semi-joined down to matched ids before any verify work), matched
    batch docs anti-joined away. Per-batch cost scales with the
    increment and the candidate count, not the corpus."""
    from trollflow2_spark.extensions.dedup import ngram_jaccard_pairs

    cand = neardup_candidates(state_bands, batch_bands)
    seen_needed = state_text.join(
        cand.select(F.col("id_b").alias("doc_id")).distinct(),
        "doc_id",
        "left_semi",
    )
    both = seen_needed.unionByName(batch_df.select("doc_id", "text"))
    confirmed = (
        ngram_jaccard_pairs(both, candidates=cand, threshold=threshold)
        .select(F.col("id_a").alias("doc_id"))
        .distinct()
    )
    return batch_df.join(confirmed, "doc_id", "left_anti")


def _compact_state(
    spark,
    path: str,
    batch_id: int,
    ttl_batches: int | None,
    target_bytes: int,
) -> None:
    """Rewrite one batch-tagged parquet state directory into
    ~``target_bytes`` files (bin count from the repo's own
    :func:`trollflow2_spark.extensions.profile.compaction_plan` over
    the directory's file listing — control-plane-sized), optionally
    dropping rows older than ``ttl_batches`` micro-batches. The
    ``__bid`` column survives verbatim, so the ``< batch_id``
    recovery-idempotence read discipline is untouched; the swap is
    write-tmp -> rename-old -> rename-tmp -> drop-old, the same
    staged-commit shape as the sink writers (a crash between renames
    leaves either the old or the new state whole, never a mix)."""
    from trollflow2_spark.extensions.profile import compaction_plan

    jvm = spark._jvm
    hpath = jvm.org.apache.hadoop.fs.Path
    jpath = hpath(path)
    fs = jpath.getFileSystem(spark._jsc.hadoopConfiguration())
    if not fs.exists(jpath):
        return
    listing = [
        (st.getPath().getName(), int(st.getLen()))
        for st in fs.listStatus(jpath)
        if st.getPath().getName().endswith(".parquet")
    ]
    if not listing:
        return
    files = spark.createDataFrame(listing, "file_id string, bytes long")
    n_bins = int(
        compaction_plan(files, target_bytes)
        .agg(F.max("bin"))
        .collect()[0][0]
        or 0
    ) + 1
    df = spark.read.parquet(path)
    if ttl_batches is not None:
        # bounded state: rows older than the TTL window drop — a doc
        # that re-arrives after its state expired is re-admitted (the
        # documented tradeoff of ANY TTL'd streaming dedup)
        df = df.where(F.col("__bid") > F.lit(batch_id - ttl_batches))
    tmp, old = path + ".compact", path + ".old"
    df.repartition(max(1, n_bins)).write.mode("overwrite").parquet(tmp)
    fs.delete(hpath(old), True)
    fs.rename(jpath, hpath(old))
    fs.rename(hpath(tmp), jpath)
    fs.delete(hpath(old), True)


def streaming_recipe_sink(
    recipe: list[dict[str, Any]],
    state_dir: str,
    out_dir: str,
    compact_every: int | None = None,
    state_ttl_batches: int | None = None,
    state_target_bytes: int = 32 << 20,
):
    """``foreachBatch`` function applying a corpus recipe PER
    MICRO-BATCH — the reference's message-driven shape
    (`/root/reference/trollflow2/launcher.py:237-250` runs the plugin
    chain once per incoming message) applied to the corpus tier: a
    crawl's intake is incremental, so the recipe must be too.

    Stateless stages (quality gates, splits, scrubs) run unchanged on
    each batch DataFrame through the same name-addressed registry. The
    ``exact_dedup`` stage swaps its batch digest window for the
    INCREMENTAL tier: first-seen-within-batch (min doc_id per digest)
    + anti-join against the accumulated digest state, then the batch's
    surviving digests append to the state — so across batches the
    first-seen document of every content class survives, and the
    corpus-sized state lives in a parquet table, never in executor
    memory.

    Each batch's post-dedup survivors are ``localCheckpoint``ed before
    the state append: the output write re-evaluates the batch plan,
    and without the barrier that re-evaluation would anti-join against
    a state that already contains the batch's own digests — dropping
    everything (self-invalidation). Results append to ``out_dir``.
    """

    def fn(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        out = batch_df
        for i, item in enumerate(recipe):
            item = dict(item)
            name = item.pop("stage", None)
            item.pop("cache", None)  # per-batch plans are small
            if not name or name not in CORPUS_STAGES:
                raise ValueError(
                    f"recipe[{i}]: unknown stage {name!r}; available: "
                    + ", ".join(sorted(CORPUS_STAGES))
                )
            if name == "near_dedup":
                # incremental near-dup with CARRIED band state: the
                # within-batch LSH->verify->CC stage runs unchanged,
                # then the batch's bands probe the ACCUMULATED band
                # table persisted by earlier batches — the corpus side
                # is a plain parquet scan (never re-minhashed, never
                # re-shuffled: the batch bands broadcast), so each
                # batch pays increment-sized signature work plus one
                # map-side probe, not a full corpus re-hash per batch.
                # Jaccard-confirm reads TEXT only for the candidates'
                # corpus ids (semi-join-bounded). Survivors append
                # (doc_id, text) to the text state and their bands to
                # the band state. Greedy first-seen equals the batch
                # CC canonical when arrival order matches id order and
                # cross-batch clusters are cliques (the contract
                # fixture's shape); a later bridge doc that would have
                # merged two already-admitted clusters cannot
                # retroactively drop either — inherent to ANY
                # streaming dedup, documented here.
                from trollflow2_spark.extensions.dedup import (
                    _band_buckets,
                    minhash_signatures,
                )

                threshold = item.get("threshold", 0.2)
                # banding params come from the recipe item (the knobs
                # lsh_param_plan's S-curve table exists to choose) —
                # never hardcoded; they parameterize BOTH the in-batch
                # stage and the carried cross-batch band state
                num_hashes = item.get("num_hashes", 8)
                bands = item.get("bands", 4)
                # materialize the within-batch dedup ONCE: its output
                # fans out to the batch re-minhash (band state), the
                # increment's union AND the post-gate checkpoint —
                # unmaterialized, each consumer re-ran the whole
                # LSH->verify->CC machine (guide §5; same fix as the
                # batch operators' fan-out subtrees). Increment-sized.
                out = CORPUS_STAGES[name](out, **item).localCheckpoint(
                    eager=True
                )
                nd_dir = state_dir + "_nd"
                ndb_dir = state_dir + "_ndb"
                jvm = spark._jvm
                jpath = jvm.org.apache.hadoop.fs.Path(nd_dir)
                fs = jpath.getFileSystem(
                    spark._jsc.hadoopConfiguration()
                )
                # consumed twice (increment candidates + band-state
                # append): cache the batch-sized band rows instead of
                # re-minhashing the survivors per consumer
                batch_bands = _band_buckets(
                    minhash_signatures(out, num_hashes=num_hashes),
                    "doc_id",
                    num_hashes,
                    bands,
                ).persist()
                if fs.exists(jpath):
                    # explicit schemas (derived from the very frames
                    # the appends below write): a bare read.parquet
                    # pays a schema-inference job per state dir per
                    # micro-batch — pure control plane
                    from pyspark.sql.types import (
                        LongType,
                        StructField,
                        StructType,
                    )

                    bid_f = StructField("__bid", LongType())
                    state_bands = (
                        spark.read.schema(
                            StructType(
                                list(batch_bands.schema.fields)
                                + [bid_f]
                            )
                        )
                        .parquet(ndb_dir)
                        .where(F.col("__bid") < F.lit(batch_id))
                        .select("doc_id", "band", "bh")
                    )
                    seen = (
                        spark.read.schema(
                            StructType(
                                [
                                    out.schema["doc_id"],
                                    out.schema["text"],
                                    bid_f,
                                ]
                            )
                        )
                        .parquet(nd_dir)
                        .where(F.col("__bid") < F.lit(batch_id))
                        .select("doc_id", "text")
                    )
                    out = neardup_increment(
                        out, batch_bands, state_bands, seen, threshold
                    )
                    # barrier BEFORE the state append: the writes below
                    # re-evaluate the batch plan, and an un-frozen
                    # anti-join would then see a state that already
                    # contains this batch's own rows (self-
                    # invalidation). Batch 0's plan is already frozen
                    # by the stage checkpoint above.
                    out = out.localCheckpoint(eager=True)
                out.select(
                    "doc_id",
                    "text",
                    F.lit(batch_id).cast("long").alias("__bid"),
                ).write.mode("append").parquet(nd_dir)
                # survivors' bands join the carried state so the NEXT
                # batch probes them off parquet instead of re-hashing
                batch_bands.join(
                    out.select("doc_id"), "doc_id", "left_semi"
                ).withColumn(
                    "__bid", F.lit(batch_id).cast("long")
                ).write.mode("append").parquet(ndb_dir)
                # a long-running stream would otherwise accumulate one
                # cached RDD per micro-batch
                batch_bands.unpersist()
            elif name == "exact_dedup":
                text_col = item.get("text_col", "text")
                dig = F.md5(F.col(text_col))
                w = Window.partitionBy(dig)
                out = (
                    out.withColumn("__keep_id", F.min("doc_id").over(w))
                    .where(F.col("doc_id") == F.col("__keep_id"))
                    .drop("__keep_id")
                )
                # Hadoop-FS existence check (works on object stores,
                # unlike os.path); state rows are batch-tagged so a
                # checkpoint-recovery re-run of batch N anti-joins only
                # digests from batches < N, never its own partial
                # append (idempotent under exactly-once replay)
                jvm = spark._jvm
                jpath = jvm.org.apache.hadoop.fs.Path(state_dir)
                fs = jpath.getFileSystem(
                    spark._jsc.hadoopConfiguration()
                )
                if fs.exists(jpath):
                    # digest is always md5 hex (string); explicit
                    # schema skips the per-batch schema-inference job
                    seen = (
                        spark.read.schema("digest string, __bid long")
                        .parquet(state_dir)
                        .where(F.col("__bid") < F.lit(batch_id))
                        .select("digest")
                    )
                    out = out.join(
                        seen, dig == F.col("digest"), "left_anti"
                    )
                out = out.localCheckpoint(eager=True)
                out.select(
                    dig.alias("digest"),
                    F.lit(batch_id).cast("long").alias("__bid"),
                ).write.mode("append").parquet(state_dir)
            else:
                out = CORPUS_STAGES[name](out, **item)
        out.write.mode("append").parquet(out_dir)
        # periodic state maintenance: without it, per-batch appends
        # make the carried state both unbounded AND a small-files
        # problem at production batch counts — each compaction pass
        # rewrites every state dir into ~target-size files (bin count
        # from compaction_plan) and applies the optional TTL, while
        # preserving the __bid tags the recovery reads key on
        if compact_every and (batch_id + 1) % compact_every == 0:
            for sdir in (
                state_dir,
                state_dir + "_nd",
                state_dir + "_ndb",
            ):
                _compact_state(
                    spark,
                    sdir,
                    batch_id,
                    state_ttl_batches,
                    state_target_bytes,
                )

    return fn


def replay_recipe_batches(
    spark,
    batches: list[list[dict]],
    schema: str,
    recipe: list[dict[str, Any]],
    shuffle_partitions: int | None = 2,
    timeout_s: int = 120,
    work_dir: str | None = None,
    compact_every: int | None = None,
    state_ttl_batches: int | None = None,
    state_target_bytes: int = 32 << 20,
    adaptive: bool | None = False,
) -> DataFrame:
    """Drive a corpus recipe through a REAL micro-batched stream: one
    JSON file per batch (mtime-pinned order, ``maxFilesPerTrigger=1``,
    ``availableNow`` drain) into a ``foreachBatch``
    :func:`streaming_recipe_sink`; returns the accumulated parquet
    output. The contract harness for the incremental recipe tier —
    same replay discipline as ``stream_state.replay_batches``."""
    import json
    import os
    import tempfile
    import uuid

    # shuffle_partitions default mirrors replay_batches: state-store
    # and shuffle task count per micro-batch is fixture-scale here
    # (config-bounded batches); production sizes it via the parameter.
    # adaptive=False likewise: foreachBatch bodies run as BATCH
    # queries, and on config-bounded replay batches AQE's per-exchange
    # re-planning only multiplies tiny driver-bound jobs (the replay
    # profile showed ~half the wall clock in inter-job gaps across
    # 25-66 jobs/batch) — a production stream with real micro-batch
    # volumes passes adaptive=None/True to keep its session setting
    d = work_dir or tempfile.mkdtemp(prefix="tf2recipe_")
    src = os.path.join(d, "src")
    os.makedirs(src, exist_ok=True)
    state_dir = os.path.join(d, "state")
    out_dir = os.path.join(d, "out")
    t0 = 1_700_000_000
    for i, rows in enumerate(batches):
        path = os.path.join(src, f"b{i:04d}.json")
        with open(path, "w") as fh:
            for r in rows:
                fh.write(json.dumps(r) + "\n")
        os.utime(path, (t0 + i * 10, t0 + i * 10))
    prev_parts = spark.conf.get("spark.sql.shuffle.partitions")
    prev_aqe = spark.conf.get("spark.sql.adaptive.enabled", "true")
    try:
        if shuffle_partitions is not None:
            spark.conf.set(
                "spark.sql.shuffle.partitions", str(shuffle_partitions)
            )
        if adaptive is not None:
            spark.conf.set(
                "spark.sql.adaptive.enabled", str(bool(adaptive)).lower()
            )
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .json(src)
        )
        q = (
            stream.writeStream.foreachBatch(
                streaming_recipe_sink(
                    recipe,
                    state_dir,
                    out_dir,
                    compact_every=compact_every,
                    state_ttl_batches=state_ttl_batches,
                    state_target_bytes=state_target_bytes,
                )
            )
            .queryName("tf2_recipe_" + uuid.uuid4().hex[:12])
            .option(
                "checkpointLocation", os.path.join(d, "ckpt")
            )
            .trigger(availableNow=True)
            .start()
        )
        if not q.awaitTermination(timeout_s):
            q.stop()
            raise TimeoutError(
                f"replay_recipe_batches: stream did not drain "
                f"{len(batches)} batches within {timeout_s}s"
            )
    finally:
        if shuffle_partitions is not None:
            spark.conf.set("spark.sql.shuffle.partitions", prev_parts)
        if adaptive is not None:
            spark.conf.set("spark.sql.adaptive.enabled", prev_aqe)
    return spark.read.parquet(out_dir)


def read_recipe(path: str) -> list[dict[str, Any]]:
    """Load a recipe list from YAML (SafeLoader only — name-addressed
    stages, never code)."""
    import yaml

    with open(path) as fh:
        recipe = yaml.safe_load(fh)
    if not isinstance(recipe, list):
        raise ValueError("recipe file must contain a list of stages")
    return recipe
