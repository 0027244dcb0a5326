"""Sampling, splitting, mixing, and packing for training-data pipelines.

The corpus-building primitives every LLM data pipeline needs between
dedup and tokenization:

- :func:`deterministic_split` — stable train/val/test assignment by a
  portable hash of the document id. No RNG state, no ordering
  dependence: the same doc lands in the same split on any engine, any
  cluster size, any run (the property ``df.randomSplit`` cannot give).
- :func:`stratified_sample` — per-stratum keep rates (e.g. downsample
  crawl, upweight reference text) via the same hash: the
  mixture-weighting primitive. Rates are exact in expectation and
  deterministic per document.
- :func:`pack_sequences` — token-budget packing: documents accumulate
  into bins of ~``budget`` tokens per shard (window cumulative sum →
  bin id). Sharding keeps the window partitioned — nothing global —
  which is how packing parallelizes at 100 TB.

All pure Column algebra over the portable ``hash64`` (md5-derived), so
every operator is oracle-checkable in DuckDB.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window, functions as F

from trollflow2_spark.extensions.hashing import hash64

#: hash buckets for rate thresholds: rates are exact to 1/10000
RATE_BUCKETS = 10_000


def _rate_bucket(id_col: Column, seed: int | None) -> Column:
    return F.pmod(hash64(id_col.cast("string"), seed=seed), F.lit(RATE_BUCKETS))


def deterministic_split(
    df: DataFrame,
    fractions: dict[str, float],
    id_col: str = "doc_id",
    seed: int | None = 7,
    out_col: str = "split",
) -> DataFrame:
    """Assign every row to a named split with the given fractions.

    The bucket is ``portable_hash(id) % 10000``; cumulative fraction
    thresholds carve it into splits, so fractions are exact to 0.01 %.
    Fractions must sum to ~1 (a trailing remainder falls into the last
    split). Map-side only: no shuffle, no RNG.
    """
    if not fractions:
        raise ValueError("need at least one split fraction")
    bucket = _rate_bucket(F.col(id_col), seed)
    names = list(fractions)
    expr: Column | None = None
    cum = 0.0
    for name in names[:-1]:
        cum += float(fractions[name])
        cond = bucket < int(round(cum * RATE_BUCKETS))
        expr = F.when(cond, name) if expr is None else expr.when(cond, name)
    last = F.lit(names[-1])
    out = last if expr is None else expr.otherwise(last)
    return df.withColumn(out_col, out)


def stratified_sample(
    df: DataFrame,
    rates: dict[str, float],
    strata_col: str = "source",
    id_col: str = "doc_id",
    default_rate: float = 1.0,
    seed: int | None = 11,
) -> DataFrame:
    """Keep each row with its stratum's rate, deterministically.

    ``rates`` maps stratum value -> keep fraction in [0, 1]; strata not
    listed use ``default_rate``. The filter is a pure Column predicate
    evaluated map-side inside the scan stage (whole-stage codegen) — a
    1 % sample of a 100 TB stratum is one pass with no shuffle. (The
    hash expression itself can't become a parquet PushedFilter; simple
    stratum-membership filters composed with it still push down.)
    """
    bucket = _rate_bucket(F.col(id_col), seed)
    rate: Column = F.lit(float(default_rate))
    for value, r in sorted(rates.items()):
        rate = F.when(F.col(strata_col) == value, F.lit(float(r))).otherwise(rate)
    threshold = F.round(rate * RATE_BUCKETS, 0).cast("int")
    return df.filter(bucket < threshold)


def epoch_mixture(
    df: DataFrame,
    factors: dict[str, float],
    strata_col: str = "source",
    id_col: str = "doc_id",
    default_factor: float = 1.0,
    seed: int | None = 29,
    out_col: str = "epoch",
) -> DataFrame:
    """Epoch-aware source mixture — the repeat-factor convention of
    LLM data recipes: factor 2.5 for a source means two full epochs of
    it plus a deterministic half epoch; factor 0.4 is a plain 40 %
    subsample (zero full epochs).

    Each row fans out to its epochs with a map-side
    ``explode(sequence(0, n_full))`` (bounded by ceil of the largest
    factor); the last epoch is the partial one and keeps rows whose
    portable hash bucket clears the fractional threshold. The
    (n_full, threshold) pair per source is precomputed driver-side as
    INTEGERS (exact to 0.01 %), so no float arithmetic differs between
    engines. Pure map-side fan-out + predicate: no RNG, no shuffle —
    a 3-epoch source at 100 TB is three scan-stage row emissions, not
    three copies on disk.
    """
    import math

    def parts(f: float) -> tuple[int, int]:
        if float(f) < 0:
            # sequence(0, n_full) with a negative bound would emit a
            # DESCENDING range (the F.sequence footgun) — fail fast
            raise ValueError(f"epoch factor must be >= 0, got {f}")
        n = int(math.floor(float(f)))
        return n, int(round((float(f) - n) * RATE_BUCKETS))

    dn, dthr = parts(default_factor)
    n_full: Column = F.lit(dn)
    thr: Column = F.lit(dthr)
    for value, f in sorted(factors.items()):
        n, t = parts(f)
        n_full = F.when(F.col(strata_col) == value, F.lit(n)).otherwise(
            n_full
        )
        thr = F.when(F.col(strata_col) == value, F.lit(t)).otherwise(thr)
    bucket = _rate_bucket(F.col(id_col), seed)
    out = (
        df.withColumn("__nf", n_full)
        .withColumn("__thr", thr)
        .withColumn(
            out_col, F.explode(F.sequence(F.lit(0), F.col("__nf")))
        )
    )
    return (
        out.filter(
            (F.col(out_col) < F.col("__nf")) | (bucket < F.col("__thr"))
        )
        .withColumn(out_col, F.col(out_col).cast("int"))
        .drop("__nf", "__thr")
    )


#: hash range for ordinal ordering (2^31 — coarse buckets are a prefix
#: of this order, so bucketed ordinals equal the global hash order)
ORD_HASH_MOD = 1 << 31


def weighted_sample_topk(
    df: DataFrame,
    weight_col: str,
    k: int,
    strata_col: str = "source",
    id_col: str = "doc_id",
    seed: int | None = 23,
    round_digits: int = 9,
) -> DataFrame:
    """Weighted sampling WITHOUT replacement, k per stratum,
    deterministic (Efraimidis & Spirakis, "Weighted random sampling
    with a reservoir"): each row draws key ``u^(1/w)`` with ``u`` the
    portable-hash uniform of its id, and the k largest keys per
    stratum are exactly a weight-proportional without-replacement
    draw — quality-weighted corpus subsampling with no RNG state, so
    every engine (and every retry) selects the same rows.

    Scale shape: the key is a pure map-side Column (hash + pow); the
    only shuffle is the per-stratum top-k window. Keys round to
    ``round_digits`` BEFORE ranking (ties then break on the id), so a
    last-ulp ``pow`` difference between engines cannot flip a rank.
    Rows with non-positive weight never sample.

    Output: input columns + ``rank`` (1-based within stratum).
    """
    from trollflow2_spark.extensions.windows import topk_per_group

    u = (
        hash64(F.col(id_col).cast("string"), seed=seed).cast("double")
        + F.lit(0.5)
    ) / F.lit(float(1 << 60))
    key = F.round(
        F.pow(u, F.lit(1.0) / F.col(weight_col).cast("double")),
        round_digits,
    )
    scored = df.where(F.col(weight_col) > 0).withColumn("__wkey", key)
    return topk_per_group(
        scored,
        [strata_col],
        [F.col("__wkey").desc(), F.col(id_col).asc()],
        k,
    ).drop("__wkey")


def _bucketed_ordinal(
    df: DataFrame,
    id_col: str,
    partition_cols: list[str],
    seed: int | None,
    n_buckets: int,
    out_col: str,
) -> DataFrame:
    """1-based ordinal of every row in the deterministic hash order
    ``(h, id)``, per partition group — WITHOUT a global window.

    The scale trick: a global ``row_number()`` funnels all data through
    one task. Instead the hash range splits into ``n_buckets`` coarse
    buckets (a prefix of the sort order), ranks are taken per bucket
    (parallel windows), and each bucket's start offset is the cumulative
    count of earlier buckets — computed on the tiny (groups x buckets)
    count table and broadcast back. Two narrow aggs + one broadcast join
    instead of a single-task sort of the corpus.
    """
    h = F.pmod(hash64(F.col(id_col).cast("string"), seed=seed), F.lit(ORD_HASH_MOD))
    width = -(-ORD_HASH_MOD // n_buckets)  # ceil div
    out = df.withColumn("_h", h).withColumn(
        "_bucket", F.floor(F.col("_h") / F.lit(width)).cast("int")
    )
    pcols = [F.col(c) for c in partition_cols]
    counts = out.groupBy(*pcols, F.col("_bucket")).agg(
        F.count(F.lit(1)).alias("_n")
    )
    w_off = (
        Window.partitionBy(*pcols).orderBy("_bucket")
        if partition_cols
        else Window.orderBy("_bucket")
    )
    offsets = counts.withColumn(
        "_offset", F.coalesce(F.sum("_n").over(w_off) - F.col("_n"), F.lit(0))
    ).drop("_n")
    joined = out.join(F.broadcast(offsets), partition_cols + ["_bucket"])
    w_rank = Window.partitionBy(*(pcols + [F.col("_bucket")])).orderBy(
        F.col("_h"), F.col(id_col)
    )
    return (
        joined.withColumn(
            out_col, (F.col("_offset") + F.row_number().over(w_rank)).cast("bigint")
        )
        .drop("_h", "_bucket", "_offset")
    )


def global_shuffle(
    df: DataFrame,
    id_col: str = "doc_id",
    seed: int | None = 17,
    n_buckets: int = 4096,
    out_col: str = "shuffle_pos",
) -> DataFrame:
    """Deterministic global shuffle order for training: every row gets a
    1-based position in the portable-hash order of its id — the same
    permutation on any engine, any partitioning, any run (what
    ``orderBy(rand())`` cannot give). Positions come from
    :func:`_bucketed_ordinal`, so nothing funnels through one task; the
    consumer range-partitions on ``shuffle_pos`` to materialize shards
    in shuffle order.
    """
    return _bucketed_ordinal(df, id_col, [], seed, n_buckets, out_col)


def interleave_sources(
    df: DataFrame,
    weights: dict[str, float],
    strata_col: str = "source",
    id_col: str = "doc_id",
    seed: int | None = 17,
    default_weight: float = 1.0,
    n_buckets: int = 4096,
    round_digits: int = 6,
) -> DataFrame:
    """Deterministic weighted interleave of sources (mixture ordering):
    each source's rows are ranked in hash order, and row *k* of a
    weight-*w* source gets stride-scheduling key ``(k - 0.5) / w`` —
    sorting by ``mix_key`` yields the classic weighted-fair interleave
    (a weight-2 source contributes twice as often as a weight-1 source,
    evenly spread, no RNG). Sources with weight <= 0 are dropped.

    Adds ``src_rank`` and ``mix_key``; the consumer range-sorts by
    ``(mix_key, source, id)`` — kept as a sort key rather than a global
    ordinal so the operator stays fully map-parallel at 100 TB.
    """
    rate: Column = F.lit(float(default_weight))
    for value, wt in sorted(weights.items()):
        rate = F.when(F.col(strata_col) == value, F.lit(float(wt))).otherwise(rate)
    kept = df.withColumn("_w", rate).filter(F.col("_w") > 0)
    ranked = _bucketed_ordinal(
        kept, id_col, [strata_col], seed, n_buckets, "src_rank"
    )
    return ranked.withColumn(
        "mix_key",
        F.round((F.col("src_rank") - 0.5) / F.col("_w"), round_digits),
    ).drop("_w")


def write_training_shards(
    df: DataFrame,
    path: str,
    n_shards: int,
    order_col: str = "shuffle_pos",
    format: str = "parquet",
) -> DataFrame:
    """Materialize a corpus as ``n_shards`` shard files in deterministic
    order: range-partition on the order column (each output task owns a
    contiguous slice of the global order — boundaries come from Spark's
    range sampler) and sort within partitions, so every shard file is
    internally ordered and shard ranges never overlap. With
    ``order_col=shuffle_pos`` from :func:`global_shuffle` this is the
    standard "shuffle once, stream shards sequentially" training layout.

    Returns the manifest (one row per shard file: rows, min/max
    position) — the audit the trainer checks before a run. For parquet
    output the manifest comes from the shard files' FOOTER metadata
    (row counts + per-row-group min/max statistics of the order
    column): footers are a few KB per file, so the audit never re-reads
    data pages — a second full corpus scan per materialization would be
    real money at 100 TB. Non-parquet formats (no footer statistics)
    fall back to the read-back aggregation.
    """
    (
        df.repartitionByRange(n_shards, F.col(order_col))
        .sortWithinPartitions(order_col)
        .write.mode("overwrite")
        .format(format)
        .save(path)
    )
    if format == "parquet":
        return _parquet_footer_manifest(df.sparkSession, path, order_col)
    back = df.sparkSession.read.format(format).load(path)
    return (
        back.groupBy(F.input_file_name().alias("shard_file"))
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.min(order_col).alias("min_pos"),
            F.max(order_col).alias("max_pos"),
        )
    )


def _manifest_filesystem(path: str):
    """Resolve ``path`` to a ``(pyarrow FileSystem, root, uri_prefix)``
    triple. Handles local paths (absolute or relative), ``file://``,
    and object-store / HDFS URIs via ``pyarrow.fs.FileSystem.from_uri``
    (Hadoop's ``s3a://``/``s3n://`` spellings are normalized to the
    ``s3://`` scheme pyarrow understands). ``uri_prefix`` restores the
    caller's original scheme in emitted shard paths."""
    import os

    import pyarrow.fs as pafs

    if "://" not in path:
        return pafs.LocalFileSystem(), os.path.abspath(path), "file://"
    scheme, rest = path.split("://", 1)
    lookup_scheme = {"s3a": "s3", "s3n": "s3"}.get(scheme, scheme)
    fs, root = pafs.FileSystem.from_uri(f"{lookup_scheme}://{rest}")
    return fs, root, f"{scheme}://"


def _parquet_footer_manifest(spark, path: str, order_col: str) -> DataFrame:
    """Shard manifest from parquet footer metadata only (no data-page
    reads): per file, ``num_rows`` from the footer and min/max of
    ``order_col`` folded over the row-group column statistics. The loop
    is O(n_shards) footers — control-sized driver work, same class as
    collecting the manifest itself.

    Listing goes through ``pyarrow.fs`` so the audit works wherever the
    shards were written — local disk, s3/s3a, hdfs — not just the local
    filesystem; at 100 TB the write target is an object store, and a
    manifest that silently came back empty there would defeat the audit
    it exists to provide. An empty listing is therefore an error, never
    an empty manifest."""
    import pyarrow.fs as pafs
    import pyarrow.parquet as pq

    fs, root, prefix = _manifest_filesystem(path)
    infos = fs.get_file_info(
        pafs.FileSelector(root, recursive=False, allow_not_found=True)
    )
    files = sorted(
        i.path
        for i in infos
        if i.type == pafs.FileType.File and i.path.endswith(".parquet")
    )
    if not files:
        raise FileNotFoundError(
            f"no shard .parquet files under {path!r}; refusing to emit an "
            "empty manifest (the write failed or the path is wrong)"
        )
    rows = []
    for f in files:
        with fs.open_input_file(f) as fh:
            md = pq.ParquetFile(fh).metadata
        names = [md.schema.column(i).name for i in range(md.num_columns)]
        idx = names.index(order_col)
        mn = mx = None
        for rg in range(md.num_row_groups):
            st = md.row_group(rg).column(idx).statistics
            if st is None or not st.has_min_max:
                raise ValueError(
                    f"shard {f} row-group {rg} lacks {order_col} statistics; "
                    "cannot build a footer-only manifest"
                )
            mn = st.min if mn is None else min(mn, st.min)
            mx = st.max if mx is None else max(mx, st.max)
        rows.append((f"{prefix}{f}", int(md.num_rows), mn, mx))
    return spark.createDataFrame(
        rows, "shard_file string, n_rows bigint, min_pos bigint, max_pos bigint"
    )


def pack_sequences(
    df: DataFrame,
    budget: int,
    token_col: Column | str = "n_tokens",
    id_col: str = "doc_id",
    n_shards: int = 32,
    seed: int | None = 13,
) -> DataFrame:
    """Assign documents to token-budget bins (sequence packing).

    Documents are sharded by a portable hash (``n_shards`` independent
    packers — the window never goes global) and, within a shard, packed
    in id order by cumulative token count: ``bin = floor((cumsum -
    n_tokens) / budget)`` — each bin targets ``budget`` tokens; a
    document longer than the leftover space spills into its bin anyway
    (standard concat-then-chunk semantics — downstream chunking handles
    the overflow, exactly like fixed-context pretraining packers).

    Output adds ``shard``, ``bin``, ``cum_tokens`` (cumulative tokens in
    the shard, inclusive). Deterministic: same corpus -> same packing,
    on any engine (window ordered by the unique id).
    """
    tok = F.col(token_col) if isinstance(token_col, str) else token_col
    shard = F.pmod(hash64(F.col(id_col).cast("string"), seed=seed), F.lit(n_shards))
    out = df.withColumn("shard", shard.cast("int"))
    w = (
        Window.partitionBy("shard")
        .orderBy(F.col(id_col))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    out = out.withColumn("cum_tokens", F.sum(tok).over(w).cast("bigint"))
    return out.withColumn(
        "bin",
        F.floor((F.col("cum_tokens") - tok) / F.lit(int(budget))).cast("int"),
    )


def sft_chat_masks(
    df: DataFrame,
    prompt_col: str = "prompt",
    response_col: str = "response",
    id_col: str = "doc_id",
    max_len: int = 64,
    user_marker: str = "<|user|>",
    asst_marker: str = "<|assistant|>",
    end_marker: str = "<|end|>",
) -> DataFrame:
    """Chat-template assembly with LOSS MASKS — the SFT-data step
    between raw (prompt, response) pairs and the packing tier: each
    example becomes ``<|user|> prompt <|assistant|> response <|end|>``
    at token granularity, with loss computed only on the response and
    end-marker positions (mask 1) and never on the user/prompt
    positions (mask 0). Fit policy is the standard serving rule: the
    response always survives; the prompt LEFT-truncates (oldest
    context dropped) into the leftover budget; an example whose
    response plus the 3 markers cannot fit ``max_len`` is dropped with
    an accounted reason, never silently.

    One pure-Column map pass (tokenize, slice, concat — zero shuffle,
    scan-stage work); the assembled sequence and mask are emitted as
    digests plus the scalar accounting columns, which is what the
    audit joins want (the packer consumes ``n_tokens`` downstream).
    """
    from trollflow2_spark.extensions.hashing import tokens

    over = 3  # marker tokens
    # NULL prompt/response coalesce to empty so such rows flow through
    # the same accounted fit policy instead of NULL-propagating into
    # an unaccounted drop (kept=0 with no reason)
    s1 = df.select(
        F.col(id_col),
        tokens(F.coalesce(F.col(prompt_col), F.lit(""))).alias("pt"),
        tokens(F.coalesce(F.col(response_col), F.lit(""))).alias("rt"),
    )
    np_, nr = F.size("pt"), F.size("rt")
    s2 = s1.select(
        F.col(id_col),
        "pt",
        "rt",
        np_.alias("np"),
        nr.alias("nr"),
        (nr + over <= max_len).alias("fits"),
        F.least(np_, F.lit(max_len) - over - nr).alias("kp"),
    )
    kp, nrr = F.col("kp"), F.col("nr")
    ptrunc = F.when(
        kp > 0, F.slice(F.col("pt"), F.col("np") - kp + 1, kp)
    ).otherwise(F.array().cast("array<string>"))
    seq = F.concat(
        F.array(F.lit(user_marker)),
        ptrunc,
        F.array(F.lit(asst_marker)),
        F.col("rt"),
        F.array(F.lit(end_marker)),
    )
    mask_str = F.concat(
        F.repeat(F.lit("0"), (kp + 2).cast("int")),
        F.repeat(F.lit("1"), (nrr + 1).cast("int")),
    )
    fits = F.col("fits")
    return s2.select(
        F.col(id_col),
        F.when(fits, 1).otherwise(0).cast("int").alias("kept"),
        F.when(~fits, F.lit("response_overflow")).alias("reason"),
        F.when(fits, kp + nrr + over).cast("int").alias("n_tokens"),
        F.when(fits, nrr + 1).cast("int").alias("n_loss"),
        F.when(fits, (F.col("np") > kp).cast("int")).alias("truncated"),
        F.when(fits, F.md5(F.array_join(seq, " "))).alias("tokens_md5"),
        F.when(fits, F.md5(mask_str)).alias("mask_md5"),
    )


def dpo_pairs(
    df: DataFrame,
    prompt_col: str = "prompt",
    chosen_col: str = "chosen",
    rejected_col: str = "rejected",
    id_col: str = "doc_id",
    max_len: int = 64,
    min_len_ratio_permille: int = 300,
    user_marker: str = "<|user|>",
    asst_marker: str = "<|assistant|>",
    end_marker: str = "<|end|>",
) -> DataFrame:
    """Preference-pair (DPO/RLHF) assembly — the sibling of
    :func:`sft_chat_masks` for (prompt, chosen, rejected) triples.
    Both completions share ONE prompt truncation (the leftover budget
    after the LONGER response), because a pair whose two sequences saw
    different prompts is not a preference judgment. Two accounted drop
    reasons: ``response_overflow`` (the longer response + 3 markers
    cannot fit ``max_len``) and ``length_skew`` — the known DPO
    verbosity bias: when the shorter response is under
    ``min_len_ratio_permille`` of the longer, the pair teaches length,
    not preference, so it drops with the ratio stated. Pure-Column
    scan-stage work; sequence digests + scalar accounting out."""
    from trollflow2_spark.extensions.hashing import tokens

    over = 3
    # NULL columns coalesce to empty — same accounted-policy rationale
    # as sft_chat_masks
    s1 = df.select(
        F.col(id_col),
        tokens(F.coalesce(F.col(prompt_col), F.lit(""))).alias("pt"),
        tokens(F.coalesce(F.col(chosen_col), F.lit(""))).alias("ct"),
        tokens(F.coalesce(F.col(rejected_col), F.lit(""))).alias("rt"),
    )
    np_ = F.size("pt")
    nc, nr = F.size("ct"), F.size("rt")
    longer = F.greatest(nc, nr)
    shorter = F.least(nc, nr)
    s2 = s1.select(
        F.col(id_col),
        "pt",
        "ct",
        "rt",
        np_.alias("np"),
        nc.alias("nc"),
        nr.alias("nr"),
        (longer + over <= max_len).alias("fits"),
        (shorter * 1000 >= min_len_ratio_permille * longer).alias(
            "balanced"
        ),
        F.least(np_, F.lit(max_len) - over - longer).alias("kp"),
        F.when(longer > 0, shorter * 1000 / longer)
        .otherwise(F.lit(1000))
        .cast("int")
        .alias("len_ratio_permille"),
    )
    kp = F.col("kp")
    ptrunc = F.when(
        kp > 0, F.slice(F.col("pt"), F.col("np") - kp + 1, kp)
    ).otherwise(F.array().cast("array<string>"))

    def seq(resp_col: str):
        return F.concat(
            F.array(F.lit(user_marker)),
            ptrunc,
            F.array(F.lit(asst_marker)),
            F.col(resp_col),
            F.array(F.lit(end_marker)),
        )

    keep = F.col("fits") & F.col("balanced")
    reason = F.when(~F.col("fits"), F.lit("response_overflow")).when(
        ~F.col("balanced"), F.lit("length_skew")
    )
    return s2.select(
        F.col(id_col),
        F.when(keep, 1).otherwise(0).cast("int").alias("kept"),
        reason.alias("reason"),
        F.col("len_ratio_permille"),
        F.when(keep, kp).cast("int").alias("n_prompt_kept"),
        F.when(keep, F.col("nc")).cast("int").alias("n_chosen"),
        F.when(keep, F.col("nr")).cast("int").alias("n_rejected"),
        F.when(keep, F.md5(F.array_join(seq("ct"), " "))).alias(
            "chosen_md5"
        ),
        F.when(keep, F.md5(F.array_join(seq("rt"), " "))).alias(
            "rejected_md5"
        ),
    )


def temperature_rates(
    counts: dict, alpha: float, target_frac: float
) -> dict:
    """Per-stratum keep rates for temperature-balanced mixing (the
    XLM-R / mT5 rebalancing scheme): stratum probability p_l = n_l / N
    is flattened to q_l = p_l^alpha / sum(p^alpha), and the keep rate
    r_l = min(1, target * q_l / n_l) makes the SAMPLED corpus follow q
    while holding its total near ``target_frac * N``. Low-resource
    strata are upsampled relative to their share; dominant strata
    downsampled — the standard fix for head-language dominance.

    Driver-side pure Python on the stratum-count table (k rows — the
    mixture weights are config-sized, like every production mixture);
    the SAME routine feeds the oracle generator, so the thresholds are
    literal-identical across engines.
    """
    n_total = float(sum(counts.values()))
    if n_total <= 0:
        return {}
    pw = {k: (v / n_total) ** float(alpha) for k, v in counts.items()}
    z = sum(pw.values())
    target = float(target_frac) * n_total
    return {
        k: min(1.0, target * (pw[k] / z) / counts[k])
        for k in sorted(counts)
    }


def temperature_sample(
    df: DataFrame,
    strata_col: str = "lang",
    id_col: str = "doc_id",
    alpha: float = 0.7,
    target_frac: float = 0.5,
    seed: int | None = 19,
) -> DataFrame:
    """Temperature-balanced corpus sample: stratum counts (one k-row
    agg), driver-computed keep rates (:func:`temperature_rates`), then
    the same map-side portable-hash predicate as
    :func:`stratified_sample` — one scan, no shuffle beyond the count."""
    counts = {
        r[strata_col]: r["n"]
        for r in df.groupBy(strata_col).agg(
            F.count(F.lit(1)).alias("n")
        ).collect()
    }
    rates = temperature_rates(counts, alpha, target_frac)
    return stratified_sample(
        df, rates, strata_col=strata_col, id_col=id_col,
        default_rate=0.0, seed=seed,
    )


def concat_chunk_spans(
    df: DataFrame,
    example_tokens: int,
    token_col: Column | str = "n_tokens",
    id_col: str = "doc_id",
    shard_size: int = 1_000_000,
) -> DataFrame:
    """GPT-style concat-then-chunk: documents concatenate in id order
    (each followed by one EOS token) into one virtual token stream that
    is cut into fixed ``example_tokens`` windows — training examples
    cross document boundaries, nothing is padded or dropped. Emits one
    row per (example, document) overlap:
    ``(example_id, id, doc_tok_start, n_toks)`` where ``doc_tok_start``
    indexes into the document's own token sequence (EOS is its final
    token) — the span table a loader joins back to text/token shards.

    Scale shape: the global running offset never runs through one task.
    Ids shard into CONTIGUOUS ranges (``id DIV shard_size``); each
    shard cumsums independently under a per-shard window, shard totals
    (one row per shard — control-sized) turn into shard base offsets
    via a window over that tiny aggregate, and a broadcast join adds
    them back. The example fan-out is map-side sequence+explode.
    """
    tok = F.col(token_col) if isinstance(token_col, str) else token_col
    n = int(example_tokens)
    toks = (tok + 1).cast("bigint")  # +1: the doc's EOS token
    out = df.withColumn("__nt", toks).withColumn(
        "__shard", F.expr(f"{id_col} DIV {int(shard_size)}")
    )
    w = (
        Window.partitionBy("__shard")
        .orderBy(F.col(id_col))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    out = out.withColumn("__cum", F.sum("__nt").over(w))
    totals = out.groupBy("__shard").agg(F.sum("__nt").alias("__t"))
    wo = (
        Window.orderBy("__shard")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    offsets = totals.select(
        "__shard",
        F.coalesce(F.sum("__t").over(wo), F.lit(0)).alias("__base"),
    )
    out = out.join(F.broadcast(offsets), "__shard")
    start = F.col("__base") + F.col("__cum") - F.col("__nt")
    first_ex = F.floor(start / n)
    last_ex = F.floor((start + F.col("__nt") - 1) / n)
    ex = F.explode(F.sequence(first_ex, last_ex)).alias("example_id")
    e = out.select(F.col(id_col), start.alias("__s"), F.col("__nt"), ex)
    return e.select(
        F.col("example_id").cast("bigint"),
        F.col(id_col),
        F.greatest(
            F.lit(0), F.col("example_id") * n - F.col("__s")
        ).cast("int").alias("doc_tok_start"),
        (
            F.least(F.col("__s") + F.col("__nt"),
                    (F.col("example_id") + 1) * F.lit(n))
            - F.greatest(F.col("__s"), F.col("example_id") * F.lit(n))
        ).cast("int").alias("n_toks"),
    )
