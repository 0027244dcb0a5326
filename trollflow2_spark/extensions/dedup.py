"""Deduplication operators over a documents table.

Four tiers, each a DataFrame transform:

- exact:        md5-hash groupBy (content-hash dedup)
- minhash LSH:  shingle -> minhash signature -> band-bucket join
- simhash:      token-hash bit-vote fingerprint, hamming buckets
- n-gram Jaccard: verified similarity on LSH/blocking candidates

Scale design: every candidate-generation step is an equi-join on a hash
bucket (shuffle on dense uniform keys, no cross join); verification runs
only on bucket-colliding pairs. The pairwise step's worst case is bounded
by bucket size — salting degenerate buckets (boilerplate docs) is the
known mitigation and is applied via a max-bucket-size guard.

All hashes default to the portable md5-derived family
(:mod:`trollflow2_spark.extensions.hashing`) so a SQL oracle reproduces
results bit-for-bit; every operator takes ``hash_fn=`` so production
pipelines can inject :func:`~trollflow2_spark.extensions.hashing.fast_hash64`
(xxhash64, ~3-5x cheaper, no oracle) without touching the plan shape.
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import Column, DataFrame, Window, functions as F

from trollflow2_spark.extensions.hashing import (
    fast_hash64,
    hash64,
    hash64_lane,
    tokens,
    word_shingles,
)

HashFn = Callable[..., Column]


def exact_dedup(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Content-hash exact dedup: one row per distinct text, keeping the
    lowest id as canonical plus the duplicate count.

    Scale: a single hash aggregation; at 100 TB, group keys are 32-byte
    digests — pre-hashing to the md5 digest (not the raw text) keeps
    shuffle rows small.
    """
    return (
        df.select(F.md5(F.col(text_col)).alias("content_hash"), F.col(id_col))
        .groupBy("content_hash")
        .agg(
            F.min(id_col).alias("canonical_id"),
            F.count(F.lit(1)).alias("n_copies"),
        )
    )


def minhash_signatures(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_words: int = 3,
    num_hashes: int = 8,
    hash_fn: HashFn = hash64,
) -> DataFrame:
    """Per-document minhash signature: min over shingle hashes for each of
    ``num_hashes`` seeded hash functions. Output: id + minhash_0..N-1.

    Implementation: pure Column algebra — ``array_min`` over a
    higher-order ``transform`` of the distinct-shingle array, once per
    seed, with the shingle array bound through a single-element
    ``transform`` so it is built exactly once per row. ZERO shuffle:
    signatures compute inside the scan stage (the earlier
    explode+groupBy form paid an Exchange plus an aggregation hash
    table), which shortens every downstream dedup plan (banding starts
    from an un-shuffled projection).

    ``hash_fn`` defaults to the portable oracle-reproducible hash, in
    which case hashes come in LANE PAIRS — two independent 60-bit
    values sliced from each seeded md5 digest
    (:func:`~trollflow2_spark.extensions.hashing.hash64_lane`), so
    ``num_hashes`` functions cost ``num_hashes / 2`` md5 calls per
    shingle. Pass :func:`~trollflow2_spark.extensions.hashing.
    fast_hash64` in production (per-seed xxhash64 — already one cheap
    call per hash).
    """
    shingles = F.array_distinct(word_shingles(F.col(text_col), shingle_words))

    def seeded(i: int):
        # NOT `lambda s, i=i`: a second parameter (even defaulted) makes
        # PySpark pass the array INDEX as its value, silently replacing
        # the seed
        return lambda s: hash_fn(s, seed=i)

    def lane_extract(lane: int):
        off = 1 + lane * 16
        return lambda d: F.conv(F.substring(d, off, 15), 16, 10).cast("bigint")

    if hash_fn is hash64:
        # portable path: one md5 DIGEST ARRAY per seed pair, bound once
        # (expressions are trees, not DAGs — two lane columns that each
        # call md5 would evaluate it twice; slicing a bound digest array
        # really does halve the md5 work)
        def seeded_digest(k: int):
            # factory, NOT `lambda s, k=k` (second param would become the
            # array index — see the seeded() note above)
            return lambda s: F.md5(F.concat(s, F.lit(f":{k}")))

        def digests(sh: Column) -> Column:
            return F.struct(
                *[
                    F.transform(sh, seeded_digest(k)).alias(f"d{k}")
                    for k in range(0, (num_hashes + 1) // 2)
                ]
            )

        def mins(d: Column) -> Column:
            return F.struct(
                *[
                    F.array_min(
                        F.transform(d[f"d{i // 2}"], lane_extract(i % 2))
                    ).alias(f"minhash_{i}")
                    for i in range(num_hashes)
                ]
            )

        def signature(sh: Column) -> Column:
            return F.get(F.transform(F.array(digests(sh)), mins), 0)
    else:

        def signature(sh: Column) -> Column:
            return F.struct(
                *[
                    F.array_min(F.transform(sh, seeded(i))).alias(f"minhash_{i}")
                    for i in range(num_hashes)
                ]
            )

    packed = F.get(F.transform(F.array(shingles), signature), 0)
    # scale-adaptive parallelism floor (r15): the md5-per-shingle
    # signature work runs inside the scan stage, and single-row-group
    # fixtures scan as ONE task — spread (id, text) rows first when
    # (and only when) the scan under-parallelizes (no-op at cluster
    # scale); measured 3x on every minhash consumer
    from trollflow2_spark.tables import parallelism_floor

    narrow = parallelism_floor(df, id_col, text_col)
    return narrow.select(F.col(id_col), packed.alias("_sig")).select(
        id_col, "_sig.*"
    )


def _band_buckets(
    signatures: DataFrame,
    id_col: str,
    num_hashes: int,
    bands: int,
    hash_fn: HashFn | None = None,
) -> DataFrame:
    """(id, band, band_hash) membership rows for banded LSH.

    Default band hash is the oracle-matched md5 hex digest; with a
    ``hash_fn`` the band hash is that function over the joined members
    (bigint — cheaper to shuffle than a 32-char digest, no oracle).
    """
    rows_per_band = num_hashes // bands
    band_cols = []
    for b in range(bands):
        members = [F.col(f"minhash_{i}").cast("string") for i in range(b * rows_per_band, (b + 1) * rows_per_band)]
        joined = F.concat_ws("|", *members)
        bh = F.md5(joined) if hash_fn is None else hash_fn(joined).cast("string")
        band_cols.append(F.struct(F.lit(b).alias("band"), bh.alias("bh")))
    return signatures.select(
        F.col(id_col), F.explode(F.array(*band_cols)).alias("bk")
    ).select(id_col, F.col("bk.band").alias("band"), F.col("bk.bh").alias("bh"))


def _pair_explode(df: DataFrame) -> DataFrame:
    """Upper-triangle (id_a < id_b) pairs from each row's sorted ``ids``
    array."""
    return df.select(
        F.explode(
            F.flatten(
                F.transform(
                    F.col("ids"),
                    lambda x, i: F.transform(
                        F.slice(
                            F.col("ids"), i + 2, F.greatest(F.size("ids") - i - 1, F.lit(0))
                        ),
                        lambda y: F.struct(x.alias("id_a"), y.alias("id_b")),
                    ),
                )
            )
        ).alias("p")
    ).select(F.col("p.id_a"), F.col("p.id_b"))


def lsh_candidate_pairs(
    signatures: DataFrame,
    id_col: str = "doc_id",
    num_hashes: int = 8,
    bands: int = 4,
    max_bucket: int = 100_000,
    salt_threshold: int = 256,
    hash_fn: HashFn | None = None,
    recover_rounds: int = 0,
    rot_seed: int = 91,
) -> DataFrame:
    """Banded LSH: split the signature into ``bands`` bands, bucket docs
    by (band_id, band_hash), emit candidate pairs that share any bucket.

    ``hash_fn=None`` keeps the oracle-matched md5 band hash; pass
    :func:`~trollflow2_spark.extensions.hashing.fast_hash64` for the
    production band hash (bigint buckets, one xxhash64 call).

    Scale guards, in order:

    - buckets larger than ``max_bucket`` are dropped outright
      (pathological boilerplate clusters; count them with
      :func:`lsh_bucket_stats` so the recall loss is visible);
    - buckets larger than ``salt_threshold`` are *salted*: the sorted
      member array is split into contiguous sub-buckets of at most
      ``salt_threshold`` ids, sub-buckets are redistributed round-robin
      (one small shuffle of id arrays), and pairs are generated within
      each sub-bucket. A hot template bucket therefore costs many
      ~``salt_threshold²/2``-pair tasks instead of one quadratic task,
      at the explicit price of missing cross-sub-bucket pairs;
    - small buckets take the direct single-pass path (the upstream
      signature pipeline is evaluated exactly once — a sizes-join +
      self-join shape would re-execute it ~5x);
    - ``recover_rounds`` > 0 runs extra passes over the *salted* buckets
      only, re-chunking their members in rotated hash orders
      (``hash64(id, seed=rot_seed + round)``) and unioning the pair
      sets: a pair split across id-order sub-buckets gets another
      chance to land in one rotated sub-bucket, recovering part of the
      salting recall loss at the cost of one extra bounded pass per
      round (:func:`lsh_bucket_stats` reports ``n_recovered``).
    """
    return _bucketed_pairs(
        _band_buckets(signatures, id_col, num_hashes, bands, hash_fn=hash_fn),
        id_col,
        ["band", "bh"],
        max_bucket=max_bucket,
        salt_threshold=salt_threshold,
        recover_rounds=recover_rounds,
        rot_seed=rot_seed,
    )


def _chunk_arrays(df: DataFrame, t: int) -> DataFrame:
    """Split each row's ``ids`` array into contiguous chunks of at most
    ``t`` elements (one output row per chunk, singletons dropped)."""
    n_chunks = F.ceil(F.size("ids") / F.lit(t)).cast("int")
    return df.select(
        F.explode(
            F.transform(
                F.sequence(F.lit(0), n_chunks - 1),
                lambda c: F.slice(F.col("ids"), c * t + 1, t),
            )
        ).alias("ids")
    ).filter(F.size("ids") >= 2)


def _bucketed_pairs(
    members: DataFrame,
    id_col: str,
    bucket_cols: list[str],
    max_bucket: int,
    salt_threshold: int,
    recover_rounds: int = 0,
    rot_seed: int = 91,
) -> DataFrame:
    """Candidate pairs from bucket membership rows (id + bucket key),
    with the shared scale guards: oversized buckets dropped, hot buckets
    salted into round-robin-redistributed sub-buckets (see
    :func:`lsh_candidate_pairs` for the semantics). Used by both the
    minhash-band and simhash-band candidate generators.

    ``recover_rounds`` re-chunks the salted buckets' members in rotated
    hash orders and unions the resulting pair sets (bounded extra
    passes, partial recovery of cross-sub-bucket pairs).
    """
    t = int(salt_threshold)
    # materialize the bucket arrays ONCE: small and big both read
    # grouped, and without the cache each branch re-evaluates the
    # whole upstream signature pipeline (minhash/simhash/phash decode
    # + hash + the bucket shuffle) from the source scan — the r15
    # plan audit showed every _bucketed_pairs caller paying that
    # pipeline twice (guide §2.4: share one exchange, don't repeat it)
    grouped = (
        members.groupBy(*bucket_cols)
        .agg(F.array_sort(F.collect_list(id_col)).alias("ids"))
        .filter((F.size("ids") >= 2) & (F.size("ids") <= max_bucket))
        .persist()
    )
    small = grouped.filter(F.size("ids") <= t)
    big = grouped.filter(F.size("ids") > t)
    shuffle_parts = int(
        members.sparkSession.conf.get("spark.sql.shuffle.partitions", "200")
    )
    # round-robin: sub-buckets of one hot bucket spread across tasks
    chunk_sets = [_chunk_arrays(big, t).repartition(shuffle_parts)]
    for r in range(int(recover_rounds)):
        rot = hash64(F.col("_rid").cast("string"), seed=rot_seed + r)
        rotated = (
            big.select(*bucket_cols, F.explode("ids").alias("_rid"))
            .withColumn("_rh", rot)
            .groupBy(*bucket_cols)
            .agg(
                F.array_sort(
                    F.collect_list(
                        F.struct(F.col("_rh").alias("h"), F.col("_rid").alias("i"))
                    )
                ).alias("s")
            )
            .select(F.transform("s", lambda x: x["i"]).alias("ids"))
        )
        # rotated chunks are ordered by the rotated hash, not by id —
        # re-sort each chunk so _pair_explode's (id_a < id_b) canonical
        # form holds and the union's distinct() actually dedups against
        # the id-order pairs
        rot_chunks = _chunk_arrays(rotated, t).select(
            F.array_sort("ids").alias("ids")
        )
        chunk_sets.append(rot_chunks.repartition(shuffle_parts))
    pairs = _pair_explode(small)
    for chunks in chunk_sets:
        pairs = pairs.unionByName(_pair_explode(chunks))
    return pairs.distinct()


def lsh_bucket_stats(
    signatures: DataFrame,
    id_col: str = "doc_id",
    num_hashes: int = 8,
    bands: int = 4,
    max_bucket: int = 100_000,
    salt_threshold: int = 256,
    hash_fn: HashFn | None = None,
    rot_seed: int = 91,
) -> DataFrame:
    """One-row visibility audit for the LSH guards: how many pairable
    buckets exist, how many get salted, how many are dropped, and how
    many extra pairs ONE rotated recovery round would add over the
    salted buckets (``n_recovered``) — recall loss, and how much of it
    ``recover_rounds=1`` buys back, must be observable, not silent.

    The recovery audit runs only over salted buckets' members (bounded:
    the same rows a recovery round itself would touch)."""
    # bk feeds both the size audit and the salted-membership join;
    # materialize so the signature pipeline runs once (guide §2.4)
    bk = _band_buckets(
        signatures, id_col, num_hashes, bands, hash_fn=hash_fn
    ).persist()
    sizes = (
        bk.groupBy("band", "bh")
        .agg(F.count(F.lit(1)).alias("n"))
        .filter(F.col("n") >= 2)
    )
    base = sizes.agg(
        F.count(F.lit(1)).alias("n_buckets"),
        F.sum(
            F.when((F.col("n") > salt_threshold) & (F.col("n") <= max_bucket), 1).otherwise(0)
        ).alias("n_salted"),
        F.sum(F.when(F.col("n") > max_bucket, 1).otherwise(0)).alias("n_dropped"),
        F.max("n").alias("max_bucket_size"),
    )
    t = int(salt_threshold)
    salted = sizes.filter((F.col("n") > t) & (F.col("n") <= max_bucket)).select(
        "band", "bh"
    )
    mem = bk.join(salted, ["band", "bh"]).withColumn(
        "_rh", hash64(F.col(id_col).cast("string"), seed=rot_seed)
    )
    # salted-bucket arrays feed both chunk orders — materialize once
    g = mem.groupBy("band", "bh").agg(
        F.array_sort(F.collect_list(id_col)).alias("ids_id"),
        F.array_sort(
            F.collect_list(F.struct(F.col("_rh").alias("h"), F.col(id_col).alias("i")))
        ).alias("s_rot"),
    ).persist()
    pairs_id = _pair_explode(
        _chunk_arrays(g.select(F.col("ids_id").alias("ids")), t)
    ).distinct()
    pairs_rot = _pair_explode(
        # chunk in rotated-hash order, then sort each chunk so pairs
        # come out canonical (id_a < id_b) — otherwise the anti-join
        # against the id-order pairs misses reversed duplicates
        _chunk_arrays(
            g.select(F.transform("s_rot", lambda x: x["i"]).alias("ids")), t
        ).select(F.array_sort("ids").alias("ids"))
    ).distinct()
    n_rec = (
        pairs_rot.join(pairs_id, ["id_a", "id_b"], "left_anti")
        .agg(F.count(F.lit(1)).alias("n_recovered"))
    )
    return base.crossJoin(n_rec)


def ngram_jaccard_pairs(
    df: DataFrame,
    candidates: DataFrame | None = None,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_words: int = 2,
    threshold: float = 0.5,
    block_cols: list[str] | None = None,
) -> DataFrame:
    """Verified near-dup pairs by n-gram Jaccard similarity.

    Candidates come from ``candidates`` (id_a, id_b) when given, else
    from blocking on ``block_cols`` (cheap deterministic blocking for
    small corpora / tests). Jaccard is computed on distinct word
    n-gram sets via array_intersect/array_union sizes.
    """
    if candidates is None:
        if not block_cols:
            raise ValueError("need candidates or block_cols")
        shingled = df.select(
            F.col(id_col),
            F.array_distinct(
                word_shingles(F.col(text_col), shingle_words)
            ).alias("sh"),
            *[F.col(c) for c in block_cols],
        )
        a = shingled.select(
            *block_cols, F.col(id_col).alias("id_a"), F.col("sh").alias("sh_a")
        )
        b = shingled.select(
            *block_cols, F.col(id_col).alias("id_b"), F.col("sh").alias("sh_b")
        )
        pairs = a.join(b, block_cols).filter(F.col("id_a") < F.col("id_b"))
    else:
        # r15: shingle ONLY the candidate ids — the verify stage used
        # to re-tokenize the whole corpus for each join side; candidate
        # volume is LSH-bounded, a tiny fraction of the corpus, so the
        # two shingle passes shrink from corpus-sized to output-sized.
        # persist (NOT localCheckpoint): the shared subtrees must
        # materialize once — candidates feeds the id restriction AND
        # the pair join, shingled feeds both join sides — but a
        # checkpoint's LogicalRDD loses Catalyst's size estimate
        # (sizeInBytes=MAX), which flips every downstream join to an
        # initial-plan SortMergeJoin; persist keeps the lineage. The
        # count() materializes the cache up front (guide §7.4:
        # compute/cache the small side first), so every downstream
        # join — the id-restriction semi-join included — plans
        # against the candidates' ACTUAL size, broadcasting when the
        # LSH guards kept them bounded and sort-merging only when
        # they really are corpus-scale
        candidates = candidates.persist()
        candidates.count()
        cand_ids = (
            candidates.select(F.col("id_a").alias(id_col))
            .unionByName(candidates.select(F.col("id_b").alias(id_col)))
            .distinct()
        )
        shingled = df.join(cand_ids, id_col, "left_semi").select(
            F.col(id_col),
            F.array_distinct(
                word_shingles(F.col(text_col), shingle_words)
            ).alias("sh"),
        )
        # shingled is NOT persisted: each verify side re-runs the
        # broadcast semi-join + shingle over candidate ids only
        # (bounded), and measurement showed caching the shingle
        # arrays costs more than recomputing them (A/B'd r15)
        sa = shingled.select(F.col(id_col).alias("id_a"), F.col("sh").alias("sh_a"))
        sb = shingled.select(F.col(id_col).alias("id_b"), F.col("sh").alias("sh_b"))
        pairs = candidates.join(sa, "id_a").join(sb, "id_b")
    inter = F.size(F.array_intersect("sh_a", "sh_b")).cast("double")
    union = F.size(F.array_union("sh_a", "sh_b")).cast("double")
    jac = F.when(union > 0, inter / union).otherwise(F.lit(0.0))
    return (
        pairs.withColumn("jaccard", F.round(jac, 6))
        .filter(F.col("jaccard") >= F.lit(float(threshold)))
        .select("id_a", "id_b", "jaccard")
    )


def ngram_containment_pairs(
    df: DataFrame,
    candidates: DataFrame | None = None,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_words: int = 2,
    threshold: float = 0.5,
    block_cols: list[str] | None = None,
) -> DataFrame:
    """Asymmetric near-dup: per candidate pair, the containment of each
    side's shingle set in the intersection (``|A∩B| / |A|`` and
    ``/ |B|``). Jaccard misses one-sided duplication — a tweet quoted
    inside a news article scores ~0 Jaccard but ~1 containment on the
    tweet side; this is the quote/subset-duplication detector. A pair
    survives if EITHER side's containment reaches ``threshold``.

    Same candidate/blocking contract and join shape as
    :func:`ngram_jaccard_pairs` (candidates from LSH at scale; shingle
    arrays ride the candidate join, all set math JVM-side).
    """
    if candidates is None:
        if not block_cols:
            raise ValueError("need candidates or block_cols")
        shingled = df.select(
            F.col(id_col),
            F.array_distinct(
                word_shingles(F.col(text_col), shingle_words)
            ).alias("sh"),
            *[F.col(c) for c in block_cols],
        )
        a = shingled.select(
            *block_cols, F.col(id_col).alias("id_a"), F.col("sh").alias("sh_a")
        )
        b = shingled.select(
            *block_cols, F.col(id_col).alias("id_b"), F.col("sh").alias("sh_b")
        )
        pairs = a.join(b, block_cols).filter(F.col("id_a") < F.col("id_b"))
    else:
        # r15: same candidate-restricted verify as ngram_jaccard_pairs
        # — shingle ONLY candidate ids (semi-join prunes the corpus
        # before the expensive tokenize), candidates cached and
        # materialized up front so every downstream join plans against
        # actual size; shingled deliberately not cached (A/B'd)
        candidates = candidates.persist()
        candidates.count()
        cand_ids = (
            candidates.select(F.col("id_a").alias(id_col))
            .unionByName(candidates.select(F.col("id_b").alias(id_col)))
            .distinct()
        )
        shingled = df.join(cand_ids, id_col, "left_semi").select(
            F.col(id_col),
            F.array_distinct(
                word_shingles(F.col(text_col), shingle_words)
            ).alias("sh"),
        )
        sa = shingled.select(F.col(id_col).alias("id_a"), F.col("sh").alias("sh_a"))
        sb = shingled.select(F.col(id_col).alias("id_b"), F.col("sh").alias("sh_b"))
        pairs = candidates.join(sa, "id_a").join(sb, "id_b")
    inter = F.size(F.array_intersect("sh_a", "sh_b")).cast("double")
    cont = lambda side: F.round(  # noqa: E731
        F.when(F.size(side) > 0, inter / F.size(side)).otherwise(0.0), 6
    )
    return (
        pairs.withColumn("containment_a", cont(F.col("sh_a")))
        .withColumn("containment_b", cont(F.col("sh_b")))
        .filter(
            (F.col("containment_a") >= float(threshold))
            | (F.col("containment_b") >= float(threshold))
        )
        .select("id_a", "id_b", "containment_a", "containment_b")
    )


def simhash_column(
    text_col: Column | str,
    bits: int = 32,
    hash_fn: HashFn = hash64,
) -> Column:
    """Simhash fingerprint as a PURE Column expression: for each bit
    position, a bit is set iff more than half of the distinct tokens'
    hashes have that bit set (equivalent to the classic +1/-1 vote sum
    being positive). NULL for token-less input (parity with the
    aggregation form, which emits no row for them).

    Scale: no explode, no shuffle — the fingerprint computes inside the
    scan stage via higher-order functions (one hash per distinct token,
    bound once through a single-element ``transform`` so the 32 bit
    filters never re-hash), which also makes it usable per-row in
    Structured Streaming (:func:`trollflow2_spark.extensions.stream_state.
    streaming_simhash_dedup`).
    """
    c = F.col(text_col) if isinstance(text_col, str) else text_col
    hashes = F.transform(F.array_distinct(tokens(c)), lambda t: hash_fn(t))

    def fingerprint(hs: Column) -> Column:
        n = F.size(hs)
        total = None
        for i in range(bits):
            n_set = F.size(
                F.filter(
                    hs,
                    lambda h: F.shiftright(h, i).bitwiseAND(F.lit(1)) == 1,
                )
            )
            bit = (
                F.when(n_set * 2 > n, F.lit(2 ** i).cast("bigint"))
                .otherwise(F.lit(0).cast("bigint"))
            )
            total = bit if total is None else total + bit
        return F.when(n > 0, total)

    return F.get(F.transform(F.array(hashes), fingerprint), 0)


def simhash(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    bits: int = 32,
    hash_fn: HashFn = hash64,
) -> DataFrame:
    """Per-document simhash fingerprint: for each bit position, sum +1/-1
    votes of each distinct token's hash bit; bit set iff the vote is
    positive. Output: (id, simhash BIGINT).

    Built on :func:`simhash_column`, so the whole computation is
    map-side Column algebra — NO shuffle (the earlier explode+groupBy
    form shuffled one row per token). Near-dup detection then buckets by
    simhash bands (:func:`simhash_pairs`); grouping on the full
    fingerprint finds exact template-level dups.
    """
    # parallelism floor before the per-token bit-vote kernel (r15) —
    # see minhash_signatures; no-op when the scan is already spread
    from trollflow2_spark.tables import parallelism_floor

    out = parallelism_floor(df, id_col, text_col).select(
        F.col(id_col),
        simhash_column(F.col(text_col), bits=bits, hash_fn=hash_fn).alias("simhash"),
    )
    # token-less docs produce no fingerprint row (parity with the
    # aggregation form: groupBy over zero exploded rows emits nothing)
    return out.filter(F.col("simhash").isNotNull())


def simhash_pairs(
    fingerprints: DataFrame,
    id_col: str = "doc_id",
    bits: int = 32,
    bands: int = 4,
    max_hamming: int = 6,
    max_bucket: int = 100_000,
    salt_threshold: int = 256,
) -> DataFrame:
    """Hamming-band near-dup pairs over simhash fingerprints: split the
    ``bits``-bit fingerprint into ``bands`` contiguous segments, bucket
    docs by (band, segment value), and keep bucket-colliding pairs whose
    full-fingerprint hamming distance is at most ``max_hamming``.
    Output: (id_a, id_b, hamming).

    By pigeonhole, any pair within hamming distance ``bands - 1`` is
    guaranteed to share an unchanged segment and therefore a bucket;
    pairs between ``bands`` and ``max_hamming`` bits apart are found
    only when the flipped bits cluster outside some band (the standard
    simhash-banding recall trade, mirroring minhash LSH).

    Scale: candidate generation is the same guarded bucket equi-join as
    :func:`lsh_candidate_pairs` (drop + salt guards, round-robin
    sub-bucket redistribution); verification joins the two fingerprint
    columns back and computes one ``bit_count(xor)`` per candidate —
    never an all-pairs comparison.
    """
    seg_bits = bits // bands
    mask = (1 << seg_bits) - 1
    # the fingerprint table feeds banding + BOTH verify sides (3
    # consumers): materialize the narrow (id, simhash) table once so
    # an expensive fingerprint pipeline (32 bit-votes per doc — or a
    # full image decode for phash/audio callers) never re-runs
    # (guide §2.4; r15 plan audit: phash_dedup_clusters decoded its
    # PNG fixture three times without this); persist keeps lineage
    # stats/partitioning so downstream join planning is unchanged (an
    # up-front count() materialization was tried and measured ~2x
    # SLOWER for the phash/audio callers — the serial barrier beats
    # any static-broadcast gain AQE was already providing at runtime)
    fingerprints = fingerprints.persist()
    membership = fingerprints.select(
        F.col(id_col),
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.shiftright(F.col("simhash"), b * seg_bits)
                        .bitwiseAND(F.lit(mask))
                        .alias("seg"),
                    )
                    for b in range(bands)
                ]
            )
        ).alias("bk"),
    ).select(id_col, F.col("bk.band").alias("band"), F.col("bk.seg").alias("seg"))
    pairs = _bucketed_pairs(
        membership,
        id_col,
        ["band", "seg"],
        max_bucket=max_bucket,
        salt_threshold=salt_threshold,
    )
    fp_a = fingerprints.select(
        F.col(id_col).alias("id_a"), F.col("simhash").alias("sh_a")
    )
    fp_b = fingerprints.select(
        F.col(id_col).alias("id_b"), F.col("simhash").alias("sh_b")
    )
    return (
        pairs.join(fp_a, "id_a")
        .join(fp_b, "id_b")
        .withColumn(
            "hamming",
            F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b"))).cast("int"),
        )
        .filter(F.col("hamming") <= int(max_hamming))
        .select("id_a", "id_b", "hamming")
    )


def repeated_ngram_spans(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 4,
    min_docs: int = 2,
) -> DataFrame:
    """Exact-substring duplication spans: for every document, the merged
    token ranges covered by word ``n``-grams that also occur in at least
    ``min_docs`` distinct documents — the per-span form of
    exact-substring dedup (train-set boilerplate/quotation scrubbing cuts
    these RANGES out of documents rather than dropping whole docs; the
    suffix-array method in Lee et al., "Deduplicating Training Data
    Makes Language Models Better", computes the same spans — this is its
    shingle-table formulation, which distributes as plain joins/aggs).

    Scale: positions ride ``posexplode`` over the shingle array (token
    locality preserved — no shuffle to build them), and the shingle
    TEXT is dropped for its md5 before anything shuffles. For the
    default ``min_docs=2`` the repeated test is ``min(doc) != max(doc)``
    over a window keyed by the hash — ONE pass over the corpus and one
    shuffle of (id, pos, h) rows, where the two-sided join formulation
    scans and explodes the corpus twice (measured ~1.1× slower at sf0.1
    where shuffle dominates; the second full scan is what hurts when
    the corpus doesn't fit in page cache). For
    ``min_docs > 2`` the distinct-count needs the agg+join form: the
    repeated-shingle table is map-side-combinable and its join side is
    one row per repeated shingle. Either way a boilerplate shingle
    occurring in millions of docs skews the shuffle-by-hash — AQE skew
    handling applies; output stays one row per occurrence. Span merging
    is the gaps-and-islands window per (doc, position order) —
    partitioned by doc id, never global.

    Output: (id, span_start, span_end, span_tokens) in token indices,
    end-inclusive.
    """
    toks_arr = tokens(F.col(text_col))
    sh = df.select(
        F.col(id_col),
        F.size(toks_arr).alias("__ntok"),
        F.posexplode(word_shingles(F.col(text_col), n)).alias("pos", "shingle"),
    ).select(
        F.col(id_col), "__ntok", "pos", F.md5(F.col("shingle")).alias("h")
    )
    if int(min_docs) == 2:
        wh = Window.partitionBy("h")
        repeated = sh.select(
            F.col(id_col), "__ntok", "pos",
            F.min(id_col).over(wh).alias("__dmin"),
            F.max(id_col).over(wh).alias("__dmax"),
        ).filter(F.col("__dmin") != F.col("__dmax"))
    else:
        multi = (
            sh.groupBy("h")
            .agg(F.countDistinct(id_col).alias("nd"))
            .filter(F.col("nd") >= int(min_docs))
            .select("h")
        )
        repeated = sh.join(multi, "h")
    hits = repeated.select(
        F.col(id_col),
        F.col("pos"),
        F.least(
            F.col("pos") + F.lit(n - 1), F.col("__ntok") - 1
        ).alias("end"),
    )
    w = Window.partitionBy(id_col).orderBy("pos")
    prev_end = F.max("end").over(w.rowsBetween(Window.unboundedPreceding, -1))
    hits = hits.withColumn(
        "new_island",
        F.when(prev_end.isNull() | (F.col("pos") > prev_end + 1), 1).otherwise(0),
    ).withColumn(
        "island", F.sum("new_island").over(w.rowsBetween(Window.unboundedPreceding, 0))
    )
    spans = hits.groupBy(id_col, "island").agg(
        F.min("pos").cast("bigint").alias("span_start"),
        F.max("end").cast("bigint").alias("span_end"),
    )
    return spans.select(
        F.col(id_col),
        "span_start",
        "span_end",
        (F.col("span_end") - F.col("span_start") + 1).alias("span_tokens"),
    )


def scrub_repeated_spans(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 4,
    min_docs: int = 2,
) -> DataFrame:
    """The REMOVAL half of exact-substring dedup (Lee et al.,
    "Deduplicating Training Data Makes Language Models Better"): cut
    the :func:`repeated_ngram_spans` token ranges OUT of each document
    and return the scrubbed text — span-level dedup keeps the unique
    prose where doc-level dedup would drop the whole document.

    Scale shape: the spans table is grouped to one bounded array per
    affected doc (spans are disjoint merged islands, so there are at
    most n_tokens/n of them), LEFT-joined back to the corpus on the id,
    and the cut itself is pure nested higher-order Column work
    (transform-with-index + exists + filter + concat_ws) — whole-stage
    codegen, no Python, no extra shuffle beyond the span build.

    Output: (id, clean_text, n_tokens, n_removed, n_spans).
    """
    spans = repeated_ngram_spans(
        df, text_col=text_col, id_col=id_col, n=n, min_docs=min_docs
    )
    sp = spans.groupBy(id_col).agg(
        F.sort_array(
            F.collect_list(
                F.struct(
                    F.col("span_start").alias("s"),
                    F.col("span_end").alias("e"),
                )
            )
        ).alias("__spans")
    )
    empty = F.array().cast("array<struct<s:bigint,e:bigint>>")
    joined = df.join(sp, id_col, "left").select(
        F.col(id_col),
        tokens(F.col(text_col)).alias("__toks"),
        F.coalesce(F.col("__spans"), empty).alias("__spans"),
    )
    kept = F.filter(
        F.transform(
            "__toks", lambda t, i: F.struct(t.alias("t"), i.alias("i"))
        ),
        lambda p: ~F.exists(
            "__spans",
            lambda sp_: (p["i"] >= sp_["s"]) & (p["i"] <= sp_["e"]),
        ),
    )
    return joined.select(
        F.col(id_col),
        F.concat_ws(
            " ", F.transform(kept, lambda p: p["t"])
        ).alias("clean_text"),
        F.size("__toks").cast("bigint").alias("n_tokens"),
        (F.size("__toks") - F.size(kept)).cast("bigint").alias("n_removed"),
        F.size("__spans").cast("bigint").alias("n_spans"),
    )


def incremental_exact_dedup(
    corpus: DataFrame,
    batch: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Exact dedup of a NEW batch against an existing (already-deduped)
    corpus — the daily-increment path: every batch doc gets ``is_new``
    (1 iff it duplicates neither a corpus doc nor an earlier batch doc)
    and ``dup_of`` (the canonical id it duplicates: corpus id first,
    else the batch's first occurrence, else NULL).

    Scale: the corpus NEVER shuffles. A left join can only broadcast
    its right side, so joining batch-LEFT-JOIN-corpus directly would
    shuffle the full corpus digest aggregation every increment; instead
    the batch's distinct digests broadcast INTO the corpus scan (map-
    side inner join — the Bloom/semi-filter shape), the surviving hits
    (at most one per batch digest, a control-sized set) aggregate to
    their min corpus id, and that tiny match table broadcasts back onto
    the batch for the left join. Both joins are BroadcastHashJoin; the
    only exchanges touch batch-sized data.
    """
    b = batch.select(F.col(id_col), F.md5(F.col(text_col)).alias("h"))
    b = b.withColumn("batch_first", F.min(id_col).over(Window.partitionBy("h")))
    hits = corpus.select(F.md5(F.col(text_col)).alias("h"), F.col(id_col)).join(
        F.broadcast(b.select("h").distinct()), "h"
    )
    c = hits.groupBy("h").agg(F.min(id_col).alias("corpus_id"))
    out = b.join(F.broadcast(c), "h", "left")
    dup_of = F.coalesce(
        F.col("corpus_id"),
        F.when(F.col("batch_first") < F.col(id_col), F.col("batch_first")),
    )
    is_new = (
        F.col("corpus_id").isNull() & (F.col("batch_first") == F.col(id_col))
    ).cast("int")
    return out.select(F.col(id_col), dup_of.alias("dup_of"), is_new.alias("is_new"))


def incremental_lsh_matches(
    corpus_sigs: DataFrame,
    batch_sigs: DataFrame,
    id_col: str = "doc_id",
    num_hashes: int = 8,
    bands: int = 4,
    hash_fn: HashFn | None = None,
) -> DataFrame:
    """Near-dup candidate matches of a NEW batch against an existing
    corpus: (batch_id, corpus_id) pairs whose minhash signatures share a
    band bucket — feed them to the n-gram verify tier via
    ``candidates=`` exactly like the self-join LSH pairs.

    Scale: the batch band table is the SMALL side and is broadcast, so
    the corpus band table never shuffles — a daily increment against a
    100 TB corpus is one map-side equi-join over the (precomputable)
    corpus bands. This is the asymmetric twin of
    :func:`lsh_candidate_pairs`.
    """
    cb = _band_buckets(
        corpus_sigs, id_col, num_hashes, bands, hash_fn=hash_fn
    ).withColumnRenamed(id_col, "corpus_id")
    bb = _band_buckets(
        batch_sigs, id_col, num_hashes, bands, hash_fn=hash_fn
    ).withColumnRenamed(id_col, "batch_id")
    return (
        cb.join(F.broadcast(bb), ["band", "bh"])
        .select("batch_id", "corpus_id")
        .distinct()
    )


def connected_components(
    pairs: DataFrame,
    max_iter: int = 25,
) -> DataFrame:
    """Connected components over candidate pairs (``id_a``/``id_b``) by
    iterative min-label propagation: every node's label converges to the
    smallest id reachable in its component. Output: (id, cluster_id).

    This is the cluster-resolution step of near-dup dedup (LSH/simhash
    pairs -> duplicate clusters -> one canonical doc per cluster), the
    reference point being the standard "large-star/small-star" family
    (Kiveris et al.); plain min-propagation is O(diameter) rounds, and
    near-dup graphs are shallow (dup clusters are dense cliques), so it
    converges in a handful of rounds.

    Scale design: each round is one equi-join (edges x labels, both keyed
    by node id) plus a map-side-combinable min() agg — no cross joins,
    no driver-side graph. Lineage is truncated with an eager
    ``localCheckpoint`` per round (iterative plans otherwise grow
    exponentially), and convergence is detected from ``sum(label)``,
    which strictly decreases until fixpoint (labels only ever shrink),
    so the check is a one-row aggregate instead of a self-join diff.
    """
    # symmetrize by EXPLODING each pair into both directions instead
    # of unioning the pair table with its own reversal: the union
    # shape evaluated the caller's pairs subtree TWICE (once per
    # branch — the phash profile showed two 64-task jobs re-running
    # the banding+pair machine), the explode evaluates it once for
    # the identical directed-edge set (guide §2.4).
    # Lazy checkpoints + fused convergence agg (r15/r16): the sum
    # action below materializes the EDGES checkpoint and the labels
    # checkpoint in the SAME job it reads them, so setup costs ONE
    # Spark job instead of two and each round costs ONE job instead
    # of two (eager materialization + separate sum). Single-threaded
    # loop — no concurrent-materialization race.
    edges = (
        pairs.select(
            F.explode(
                F.array(
                    F.struct(
                        F.col("id_a").alias("src"),
                        F.col("id_b").alias("dst"),
                    ),
                    F.struct(
                        F.col("id_b").alias("src"),
                        F.col("id_a").alias("dst"),
                    ),
                )
            ).alias("__e")
        )
        .select("__e.src", "__e.dst")
        .distinct()
        .localCheckpoint(eager=False)
    )
    labels = (
        edges.select(F.col("src").alias("id"))
        .distinct()
        .withColumn("label", F.col("id"))
        .localCheckpoint(eager=False)
    )
    prev_sum = labels.agg(F.sum("label")).collect()[0][0]
    # sum(label) over zero rows is NULL: no edges means no labels and
    # the propagation loop cannot change anything — skip its round
    # (per-batch streaming dedup increments routinely carry an empty
    # verified-pair set, so this saves a whole job per such batch)
    if prev_sum is None:
        return labels.select(F.col("id"), F.col("label").alias("cluster_id"))
    for _ in range(max_iter):
        prop = edges.join(
            labels.withColumnRenamed("id", "src"), "src"
        ).select(F.col("dst").alias("id"), "label")
        labels = (
            labels.unionByName(prop)
            .groupBy("id")
            .agg(F.min("label").alias("label"))
            .localCheckpoint(eager=False)
        )
        new_sum = labels.agg(F.sum("label")).collect()[0][0]
        if new_sum == prev_sum:
            break
        prev_sum = new_sum
    return labels.select(F.col("id"), F.col("label").alias("cluster_id"))


def label_propagation(
    pairs: DataFrame,
    iters: int = 3,
) -> DataFrame:
    """Synchronous label propagation over an undirected graph
    (``id_a``/``id_b`` edges): every node starts labeled with itself
    and each round adopts the MODE of its neighbors' previous-round
    labels (ties to the smallest label). Where
    :func:`connected_components` answers "what is reachable", LP finds
    DENSITY communities inside one component — link farms and mirror
    rings in a host graph collapse onto one label within a couple of
    rounds while bridges keep legitimate neighborhoods apart.

    Deterministic by construction: synchronous updates (each round
    reads only the previous round's snapshot — no update-order
    dependence, unlike the classic asynchronous formulation) and a
    total argmax (count desc, label asc) via one ``min_by`` over a
    (-count, label) struct. Scale shape mirrors CC: per round, one
    equi-join (edges x labels, keyed by node) + two hash aggs, all
    map-side combinable; lineage truncated per round with an eager
    ``localCheckpoint``. Fixed ``iters`` (LP has no monotone
    convergence invariant to cheaply test, and bounded rounds are the
    production norm). Isolated nodes keep their own label. Output:
    (id, community).
    """
    # same explode-symmetrization as connected_components: one
    # evaluation of the caller's pairs subtree, identical edge set
    edges = (
        pairs.select(
            F.explode(
                F.array(
                    F.struct(
                        F.col("id_a").alias("src"),
                        F.col("id_b").alias("dst"),
                    ),
                    F.struct(
                        F.col("id_b").alias("src"),
                        F.col("id_a").alias("dst"),
                    ),
                )
            ).alias("__e")
        )
        .select("__e.src", "__e.dst")
        .distinct()
        .localCheckpoint(eager=True)
    )
    nodes = (
        edges.select(F.col("src").alias("id")).distinct()
        .localCheckpoint(eager=True)
    )
    labels = nodes.withColumn("label", F.col("id"))
    for _ in range(int(iters)):
        neigh = edges.join(
            labels.select(
                F.col("id").alias("dst"), F.col("label").alias("__nl")
            ),
            "dst",
        )
        cnt = neigh.groupBy(F.col("src"), F.col("__nl")).agg(
            F.count(F.lit(1)).alias("__c")
        )
        new = cnt.groupBy("src").agg(
            F.min_by(
                F.col("__nl"),
                F.struct((-F.col("__c")).alias("nc"), F.col("__nl")),
            ).alias("__new")
        )
        labels = (
            labels.join(new.withColumnRenamed("src", "id"), "id", "left")
            .select(
                "id",
                F.coalesce(F.col("__new"), F.col("label")).alias("label"),
            )
            .localCheckpoint(eager=True)
        )
    return labels.select("id", F.col("label").alias("community"))


def duplicate_clusters(
    documents: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    max_iter: int = 25,
) -> DataFrame:
    """Resolve candidate pairs into duplicate clusters over the full
    corpus: every document gets a ``cluster_id`` (the smallest doc id in
    its component; singletons cluster with themselves), an
    ``is_canonical`` flag (the doc to keep), and the ``cluster_size``.
    Filtering to ``is_canonical = 1`` yields the deduplicated corpus.

    The broadcast-ability of the label table is corpus-dependent: labels
    cover only docs that appear in >=1 pair, which after LSH is usually a
    small fraction of the corpus — but a heavily duplicated corpus can
    label most of it, so the join is left to AQE (which broadcasts when
    the runtime size is under the threshold) instead of a hard
    ``F.broadcast`` hint that could OOM the driver at 100 TB; the
    cluster_size window shuffles only (id, cluster_id) pairs.
    """
    labels = connected_components(pairs, max_iter=max_iter)
    lab = labels.withColumnRenamed("id", id_col)
    out = (
        documents.select(id_col)
        .join(lab, id_col, "left")
        .withColumn("cluster_id", F.coalesce(F.col("cluster_id"), F.col(id_col)))
    )
    w = Window.partitionBy("cluster_id")
    return out.select(
        F.col(id_col),
        F.col("cluster_id"),
        F.when(F.col(id_col) == F.col("cluster_id"), 1).otherwise(0).alias(
            "is_canonical"
        ),
        F.count(F.lit(1)).over(w).alias("cluster_size"),
    )


def best_representatives(
    clusters: DataFrame,
    quality: DataFrame,
    quality_col: str = "n_chars",
    id_col: str = "doc_id",
) -> DataFrame:
    """Pick each duplicate cluster's highest-quality member instead of
    the min-id canonical: production dedup should ship the BEST copy of
    a near-dup family (longest, highest quality score), not whichever
    happened to carry the smallest id. ``clusters`` is
    :func:`duplicate_clusters` output; ``quality`` maps ``id_col`` to an
    ordering column (higher wins, ties broken by smallest id for
    determinism). Returns one row per cluster: the chosen
    representative with its ``cluster_size`` and quality value.

    Scale: the quality join is an id-equi-join AQE broadcasts when the
    clustered side is small (post-LSH it usually is); the per-cluster
    argmax is a window over the SAME (cluster_id) partitioning the
    cluster_size window already established — narrow rows, one shuffle
    class, no corpus re-scan.
    """
    joined = clusters.join(
        quality.select(id_col, quality_col), id_col
    )
    w = (
        Window.partitionBy("cluster_id")
        .orderBy(F.col(quality_col).desc(), F.col(id_col).asc())
    )
    return (
        joined.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(id_col, "cluster_id", "cluster_size", quality_col)
    )


def line_dedup(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    sep: str = "\n",
) -> DataFrame:
    """C4-style global line-level deduplication: every line (``sep``-
    separated segment) is kept only at its FIRST occurrence across the
    whole corpus — first = lowest ``(doc_id, line position)`` — and each
    document is reassembled from its surviving lines in original order.
    This is the boilerplate killer (nav bars, cookie banners, footers
    repeated across millions of pages) that document-level dedup cannot
    touch. Returns ``(id, text, n_lines, n_lines_kept)``; documents that
    lose every line stay in the output with an empty string (filter
    ``n_lines_kept = 0`` for the drop audit).

    Scale shape: the first-occurrence table is ONE hash aggregation
    keyed on ``md5(line)`` — ``min(struct(doc_id, pos))`` combines
    map-side, so a line repeated on a billion pages arrives at its
    reducer as one partial per map task, never as a billion rows (the
    boilerplate hot key is exactly the skew case). Survivors are an
    equi-join on the 32-byte digest (line text rides only the exploded
    side), then one groupBy per doc to reassemble. No window over
    per-line partitions — a ``row_number`` there would re-concentrate
    every hot line's rows in one task.
    """
    lines = df.select(
        F.col(id_col),
        F.posexplode(F.split(F.col(text_col), F.lit(sep), -1)).alias(
            "pos", "line"
        ),
    ).withColumn("line_key", F.md5(F.col("line")))
    firsts = lines.groupBy("line_key").agg(
        F.min(F.struct(F.col(id_col), F.col("pos"))).alias("first_at")
    )
    kept = lines.join(firsts, "line_key").where(
        (F.col(id_col) == F.col("first_at")[id_col])
        & (F.col("pos") == F.col("first_at.pos"))
    )
    n_lines = df.select(
        F.col(id_col),
        F.size(F.split(F.col(text_col), F.lit(sep), -1)).alias("n_lines"),
    )
    rebuilt = kept.groupBy(id_col).agg(
        F.array_join(
            F.transform(
                F.array_sort(
                    F.collect_list(F.struct(F.col("pos"), F.col("line")))
                ),
                lambda s: s["line"],
            ),
            sep,
        ).alias(text_col),
        F.count(F.lit(1)).alias("n_lines_kept"),
    )
    return (
        n_lines.join(rebuilt, id_col, "left")
        .select(
            F.col(id_col),
            F.coalesce(F.col(text_col), F.lit("")).alias(text_col),
            F.col("n_lines"),
            F.coalesce(F.col("n_lines_kept"), F.lit(0)).cast("long").alias(
                "n_lines_kept"
            ),
        )
    )


def domain_boilerplate(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    domain_col: str = "domain",
    sep: str = "\n",
    min_pages: int = 3,
    share_pct: int = 50,
) -> DataFrame:
    """Domain-frequency boilerplate removal (the CCNet gate): a line
    is template chrome — nav bar, cookie banner, footer — when it
    appears on MORE than ``share_pct``% of its own domain's pages
    (domains with fewer than ``min_pages`` pages are exempt: no
    denominator to trust). Complements :func:`line_dedup`, which
    keeps a boilerplate line's FIRST occurrence and is blind to
    "frequent within one site, rare globally" templates; this drops
    every occurrence, but only where the per-domain evidence is
    strong, so a quote duplicated on two blogs survives.

    The share test is integer cross-multiplication
    (``n_docs_with_line * 100 > n_pages * share_pct``) — no float
    boundary to flap. Scale shape: page counts are one hash agg per
    domain (domain-cardinality output); line evidence is one
    count_distinct agg keyed on ``(domain, md5(line))`` — the hot
    boilerplate key combines map-side; removal is a broadcast-able
    anti-join on the digest pair, then one groupBy per doc to
    reassemble. Returns ``(id, domain, text, n_lines,
    n_lines_kept)``; fully-boilerplate docs stay with empty text.
    """
    lines = df.select(
        F.col(id_col),
        F.col(domain_col),
        F.posexplode(F.split(F.col(text_col), F.lit(sep), -1)).alias(
            "pos", "line"
        ),
    ).withColumn("line_key", F.md5(F.col("line")))
    pages = df.groupBy(domain_col).agg(
        F.count_distinct(F.col(id_col)).alias("__n_pages")
    )
    evidence = (
        lines.groupBy(domain_col, "line_key")
        .agg(F.count_distinct(F.col(id_col)).alias("__n_docs"))
        .join(pages, domain_col)
    )
    boiler = evidence.where(
        (F.col("__n_pages") >= min_pages)
        & (F.col("__n_docs") * 100 > F.col("__n_pages") * share_pct)
    ).select(domain_col, "line_key")
    kept = lines.join(boiler, [domain_col, "line_key"], "left_anti")
    n_lines = df.select(
        F.col(id_col),
        F.col(domain_col),
        F.size(F.split(F.col(text_col), F.lit(sep), -1)).alias("n_lines"),
    )
    rebuilt = kept.groupBy(id_col).agg(
        F.array_join(
            F.transform(
                F.array_sort(
                    F.collect_list(F.struct(F.col("pos"), F.col("line")))
                ),
                lambda s: s["line"],
            ),
            sep,
        ).alias(text_col),
        F.count(F.lit(1)).alias("n_lines_kept"),
    )
    return n_lines.join(rebuilt, id_col, "left").select(
        F.col(id_col),
        F.col(domain_col),
        F.coalesce(F.col(text_col), F.lit("")).alias(text_col),
        F.col("n_lines"),
        F.coalesce(F.col("n_lines_kept"), F.lit(0))
        .cast("long")
        .alias("n_lines_kept"),
    )


def hamming1_pairs(
    df: DataFrame,
    id_col: str,
    str_col: str,
    max_len: int = 64,
    id_chunk: int = 4096,
) -> DataFrame:
    """Fuzzy string matching at edit distance 1 (substitution) via
    DELETION-NEIGHBORHOOD blocking — the entity-resolution primitive
    (near-identical ids, typo'd titles, off-by-one serials).

    A quadratic ``levenshtein(a, b) <= 1`` theta-join is a cross
    product; this instead explodes each string into ``len`` variants
    with one position wildcarded (``abc -> _bc, a_c, ab_``). Two
    equal-length strings are hamming-distance<=1 (identical strings
    share every variant) IFF they share a wildcard variant at the same
    position, so a plain shuffled equi-join on ``(variant, length,
    pos)`` finds EXACTLY that set — no verification misses, and the
    blowup is bounded by the string length, never the corpus. For
    equal-length strings hamming<=1 == levenshtein<=1, which is what
    the oracle replays with a quadratic reference join. For TRUE
    levenshtein<=1 (insertions/deletions across lengths too) see
    :func:`levenshtein1_pairs`.

    Returns distinct ``(id_a, id_b)`` with ``id_a < id_b``. Strings
    longer than ``max_len`` are skipped (degenerate blow-up guard —
    fuzzy-matching megabyte blobs is a different problem).
    """
    return _edit1_pairs(df, id_col, str_col, max_len, id_chunk, indel=False)


def levenshtein1_pairs(
    df: DataFrame,
    id_col: str,
    str_col: str,
    max_len: int = 64,
    id_chunk: int = 4096,
) -> DataFrame:
    """TRUE ``levenshtein(a, b) <= 1`` pairs — substitutions AND
    insertions/deletions — still without any quadratic join.

    Substitutions ride the same same-position wildcard equi-join as
    :func:`hamming1_pairs`.  Length±1 pairs use the other half of the
    deletion-neighborhood construction: deleting one character from
    ``a`` and landing EXACTLY on ``b`` is, by definition, one edit —
    so an equi-join of each string's one-deletion set against the
    distinct-string table is both complete (every indel pair is some
    single deletion) and exact (no verification pass needed).  A
    deletion-result bucket is alphabet*length-bounded: the strings
    deleting to ``b`` are ``b`` with one char inserted somewhere, at
    most ``|alphabet| * (len(b)+1)`` distinct strings.
    """
    return _edit1_pairs(df, id_col, str_col, max_len, id_chunk, indel=True)


def levenshtein_pairs(
    df: DataFrame,
    id_col: str,
    str_col: str,
    max_dist: int = 2,
    max_len: int = 32,
    id_chunk: int = 4096,
) -> DataFrame:
    """General ``levenshtein(a, b) <= max_dist`` pairs (currently
    max_dist in {1, 2}) — distance 1 via the exact wildcard +
    one-deletion constructions (:func:`levenshtein1_pairs`), distance 2
    via FastSS deletion neighborhoods (Bocek et al., "Fast Similarity
    Search in Large Dictionaries"): candidates share a <=2-deletion
    variant and verify with the exact JVM ``levenshtein`` before id
    expansion. Still no quadratic join anywhere; the id classes
    re-attach through the same adaptive chunked machinery."""
    if max_dist == 1:
        return levenshtein1_pairs(
            df, id_col, str_col, max_len=max_len, id_chunk=id_chunk
        )
    if max_dist != 2:
        raise ValueError("levenshtein_pairs supports max_dist 1 or 2")
    return _edit1_pairs(
        df, id_col, str_col, max_len, id_chunk, indel=True, max_dist=2
    )


def _chunked_classes(
    df: DataFrame,
    id_col: str,
    str_col: str,
    max_len: int,
    id_chunk: int,
    min_len: int = 1,
) -> tuple[DataFrame, DataFrame, int]:
    """Shared id-class prelude of every fuzzy tier: returns
    ``(chunked, dstr, max_class)`` where ``dstr`` is the distinct
    (__fs, __flen) string table the blocking runs over and ``chunked``
    carries each string's id class as bounded (__fs, __chunk, __ids)
    rows.

    Adaptive (r8): the chunk machinery (count join + hash-chunked
    re-agg + chunk-pair self-join) costs three extra shuffles, and on
    the common distinct-heavy entity table every class is tiny.  One
    map-side-combinable count agg + a 1-row max to the driver (control
    plane) decides: classes all within id_chunk -> the direct
    single-agg path (each collect_list row is <= id_chunk by the same
    bound the chunks would enforce); any oversized class -> every
    class rides bounded chunk rows."""
    base = df.select(
        F.col(id_col).alias("__fid"), F.col(str_col).alias("__fs")
    ).where(F.length("__fs").between(min_len, max_len))
    # persist: the max_class action below materializes it, and the
    # chunked path's join + dstr then read the cached table instead of
    # re-running the count agg; persist (not localCheckpoint) keeps
    # the lineage so plan pins and join-size estimates survive
    counts = base.groupBy("__fs").agg(
        F.count("*").alias("__n")
    ).persist()
    max_class = counts.agg(F.max("__n")).first()[0] or 0
    if max_class <= int(id_chunk):
        # ONE aggregation feeds variants AND id re-attachment — the
        # count scan above is array-free and map-side-combinable, so
        # the guard never materializes what it is guarding against.
        # Materialized once via persist: the class table fans out to
        # 4-7 consumers downstream (variant a/b sides, deletion sets,
        # id re-attachment, within-class closure), each of which
        # would otherwise re-run this agg from the source scan
        # (r15 plan audit: fuzzy_lev_pairs paid 14 scans; guide §2.4)
        full = base.groupBy("__fs").agg(
            F.collect_list("__fid").alias("__ids")
        ).persist()
        chunked = full.select("__fs", F.lit(0).alias("__chunk"), "__ids")
        dstr = full.select("__fs", F.length("__fs").alias("__flen"))
    else:
        n_chunks = F.ceil(F.col("__n") / F.lit(int(id_chunk))).cast("bigint")
        chunked = (
            base.join(counts, "__fs")
            .withColumn("__chunk", F.pmod(F.xxhash64("__fid"), n_chunks))
            .groupBy("__fs", "__chunk")
            .agg(F.collect_list("__fid").alias("__ids"))
            .persist()
        )
        # counts is checkpointed above, so this projection is free to
        # recompute per consumer
        dstr = counts.select("__fs", F.length("__fs").alias("__flen"))
    return chunked, dstr, max_class


def _edit1_pairs(
    df: DataFrame,
    id_col: str,
    str_col: str,
    max_len: int,
    id_chunk: int,
    indel: bool,
    max_dist: int = 1,
) -> DataFrame:
    """Shared edit-distance-1 machinery over DISTINCT strings.

    Blocking runs over distinct strings, which makes every variant
    bucket ALPHABET-BOUNDED by construction: two distinct strings
    share a wildcard variant only by resolving the wildcard to
    different characters, so a bucket holds at most |alphabet| members
    no matter how skewed the id table is (a million rows of the same
    template name collapse to one distinct string before any explode).

    Ids re-attach afterwards, CHUNKED: each string's id class is split
    into ``id_chunk``-sized chunk rows (chunk = portable hash of the
    id mod ceil(n/chunk) — no per-class window sort), so a
    duplicate-heavy table never materializes one unbounded
    ``collect_list`` array row on a single executor.  Cross-string
    matches expand chunk-by-chunk; identical-id-class (distance-0)
    pairs come from a bounded chunk-pair self-join — both proportional
    to the OUTPUT, never an intermediate blow-up.
    """
    chunked, dstr, max_class = _chunked_classes(
        df, id_col, str_col, max_len, id_chunk
    )
    if max_dist == 2:
        spairs = _lev2_string_pairs(dstr)
        return _attach_ids_to_pairs(spairs, chunked, max_class, id_chunk)
    variants = dstr.select(
        "__fs",
        "__flen",
        F.posexplode(F.split(F.col("__fs"), "")).alias("__pos", "__ch"),
    ).select(
        "__fs",
        "__flen",
        "__pos",
        F.concat(
            F.substring(F.col("__fs"), 1, F.col("__pos")),
            F.lit("\x00"),
            F.expr("substring(__fs, __pos + 2)"),
        ).alias("__variant"),
    )
    a = variants.select(
        F.col("__fs").alias("__sa"), "__flen", "__pos", "__variant"
    )
    b = variants.select(
        F.col("__fs").alias("__sb"), "__flen", "__pos", "__variant"
    )
    spairs = (
        a.join(b, ["__variant", "__flen", "__pos"])
        .where(F.col("__sa") < F.col("__sb"))
        .select("__sa", "__sb")
        .distinct()
    )
    if indel:
        # one-deletion set of every string joined back against the
        # distinct strings: del(a) == b  <=>  lev(a, b) == 1 exactly
        # (lengths differ, so the two branches can never overlap)
        dels = (
            dstr.where(F.col("__flen") >= 2)
            .select(
                F.col("__fs").alias("__sa"),
                F.posexplode(F.split(F.col("__fs"), "")).alias(
                    "__pos", "__ch"
                ),
            )
            .select(
                "__sa",
                F.concat(
                    F.substring(F.col("__sa"), 1, F.col("__pos")),
                    F.expr("substring(__sa, __pos + 2)"),
                ).alias("__del"),
            )
            .distinct()
        )
        indel_pairs = dels.join(
            dstr.select(F.col("__fs").alias("__sb")),
            F.col("__del") == F.col("__sb"),
        ).select("__sa", "__sb")
        spairs = spairs.unionByName(indel_pairs)
    return _attach_ids_to_pairs(spairs, chunked, max_class, id_chunk)


def _lev2_string_pairs(dstr: DataFrame) -> DataFrame:
    """FastSS at distance 2: candidates are DISTINCT strings sharing a
    <=2-deletion variant (complete by the deletion-alignment argument);
    unlike the exact distance-1 constructions this admits false
    positives, so candidates verify with the exact JVM ``levenshtein``
    before id expansion. Variant fan-out is ~L^2/2 per distinct string
    and buckets stay (alphabet x length)^2-bounded."""

    def del1(fs, i):
        return F.concat(
            F.substring(fs, F.lit(1), i),
            F.substring(fs, i + F.lit(2), F.lit(1 << 20)),
        )

    def del2(fs, i, j):
        return F.concat(
            F.substring(fs, F.lit(1), i),
            F.substring(fs, i + F.lit(2), j - i - F.lit(1)),
            F.substring(fs, j + F.lit(2), F.lit(1 << 20)),
        )

    fs = F.col("__fs")
    idx = F.sequence(F.lit(0), F.col("__flen") - 1)
    d1 = F.transform(idx, lambda i: del1(fs, i))
    d2 = F.flatten(
        F.transform(
            idx,
            lambda i: F.transform(
                F.filter(idx, lambda j: j > i), lambda j: del2(fs, i, j)
            ),
        )
    )
    variants = F.array_distinct(
        F.concat(F.array(fs), d1, d2)
    )
    dels = dstr.select(
        "__fs", "__flen", F.explode(variants).alias("__v")
    )
    a = dels.select(
        F.col("__fs").alias("__sa"), F.col("__flen").alias("__la"), "__v"
    )
    b = dels.select(
        F.col("__fs").alias("__sb"), F.col("__flen").alias("__lb"), "__v"
    )
    return (
        a.join(b, "__v")
        .where(
            (F.col("__sa") < F.col("__sb"))
            & (F.abs(F.col("__la") - F.col("__lb")) <= 2)
        )
        .select("__sa", "__sb")
        .distinct()
        .where(F.levenshtein("__sa", "__sb") <= 2)
    )


def lsh_recall_audit(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.2,
    jaccard_shingle_words: int = 2,
    minhash_shingle_words: int = 3,
    num_hashes: int = 8,
    bands: int = 4,
    max_sample_rows: int = 20_000,
) -> DataFrame:
    """Measured recall/precision of the banded-LSH candidate generator
    against EXACT Jaccard ground truth on a bounded sample — the
    tuning audit behind every production dedup config: bands/hashes
    trade recall for candidate volume, and at 100 TB that trade must
    be a measured number, not a hope. Run it on a fixed-budget sample
    (the caller bounds ``df``); the quadratic reference join is the
    point — affordable BECAUSE the sample is bounded, definitional
    because it skips the very blocking being audited.

    Output (one row): n_true (exact pairs >= threshold), n_candidates
    (LSH pairs within the sample), n_hit (true pairs surfaced),
    recall, precision.

    The sample-budget contract is ENFORCED, not a fixture
    convention: an input above ``max_sample_rows`` raises before the
    quadratic join materializes — an unwitting caller passing a full
    corpus must get this error, never corpus². Audit a larger budget
    deliberately by raising the cap (cost grows with rows²)."""
    base = df.select(F.col(id_col), F.col(text_col))
    n_rows = base.limit(int(max_sample_rows) + 1).count()
    if n_rows > int(max_sample_rows):
        raise ValueError(
            f"lsh_recall_audit input exceeds max_sample_rows="
            f"{max_sample_rows}: the exact-Jaccard reference join is "
            "quadratic BY DESIGN and must run on a bounded sample — "
            "pass df.limit(...) / .sample(...) (or raise "
            "max_sample_rows deliberately, cost grows with rows**2)"
        )
    sh = base.select(
        F.col(id_col),
        F.array_distinct(
            word_shingles(F.col(text_col), jaccard_shingle_words)
        ).alias("sh"),
    )
    # the sample usually arrives as ONE partition (budget limit);
    # spread the left side so the quadratic reference runs as
    # parallelism-many tasks against the broadcast right side
    par = df.sparkSession.sparkContext.defaultParallelism
    a = sh.select(
        F.col(id_col).alias("id_a"), F.col("sh").alias("sh_a")
    ).repartition(par)
    b = F.broadcast(
        sh.select(F.col(id_col).alias("id_b"), F.col("sh").alias("sh_b"))
    )
    inter = F.size(F.array_intersect("sh_a", "sh_b")).cast("double")
    union = F.size(F.array_union("sh_a", "sh_b")).cast("double")
    jac = F.when(union > 0, inter / union).otherwise(F.lit(0.0))
    # both fan out to two consumers (their own count + the hit
    # semi-join), and without materialization each consumer re-runs
    # the full upstream — the quadratic reference join TWICE and the
    # minhash->banding->pair machine twice (guide §2.4/§5, the same
    # fan-out discipline as the r15 persists). Outputs are bounded:
    # true pairs above threshold and guard-capped LSH candidates on a
    # budget-bounded sample. The counts materialize each cache up
    # front so the single final action's concurrent subtree builds
    # cannot race to compute them twice.
    true_pairs = (
        a.crossJoin(b)
        .where(F.col("id_a") < F.col("id_b"))
        .where(F.round(jac, 6) >= F.lit(float(threshold)))
        .select("id_a", "id_b")
    ).persist()
    true_pairs.count()
    cand = lsh_candidate_pairs(
        minhash_signatures(
            base,
            text_col=text_col,
            id_col=id_col,
            shingle_words=minhash_shingle_words,
            num_hashes=num_hashes,
        ),
        id_col=id_col,
        num_hashes=num_hashes,
        bands=bands,
    ).persist()
    cand.count()
    hit = true_pairs.join(cand, ["id_a", "id_b"], "left_semi")
    t = true_pairs.agg(F.count(F.lit(1)).alias("n_true"))
    c = cand.agg(F.count(F.lit(1)).alias("n_candidates"))
    h = hit.agg(F.count(F.lit(1)).alias("n_hit"))
    return (
        t.crossJoin(c)
        .crossJoin(h)
        .select(
            "n_true",
            "n_candidates",
            "n_hit",
            F.round(
                F.when(
                    F.col("n_true") > 0,
                    F.col("n_hit") / F.col("n_true"),
                ).otherwise(F.lit(0.0)),
                6,
            ).alias("recall"),
            F.round(
                F.when(
                    F.col("n_candidates") > 0,
                    F.col("n_hit") / F.col("n_candidates"),
                ).otherwise(F.lit(0.0)),
                6,
            ).alias("precision"),
        )
    )


def levenshtein_long_pairs(
    df: DataFrame,
    id_col: str,
    str_col: str,
    max_dist: int = 2,
    q: int = 3,
    max_len: int = 256,
    id_chunk: int = 4096,
) -> DataFrame:
    """``levenshtein(a, b) <= max_dist`` over LONG strings (document
    titles, product names — the 100+-char class the deletion-
    neighborhood tiers cap out of: FastSS variant fan-out is ~L^2/2
    per string, ruinous at L=200).

    Ed-join shape (Gravano et al. q-gram joins + Chaudhuri et al.
    prefix filtering): an edit destroys at most ``q`` positional
    q-grams, so ed(a,b) <= t strings share all but q*t of their grams
    — meaning any such pair shares at least one gram among each side's
    ``q*t+1`` RAREST grams (global-frequency order), at positions
    within t of each other and lengths within t. Candidates therefore
    come from an equi-join on the prefix grams (rarest-first keeps
    buckets cold by construction: a gram shared by many strings sorts
    out of the prefix), then verify with the exact JVM
    ``levenshtein`` before id expansion. Complete — the prefix bound
    is a theorem, not a recall knob; ``max_len`` bounds only the
    per-string gram count (linear, vs the short tier's quadratic
    variant fan-out).

    Domain: strings with ``q <= len <= max_len``; shorter strings
    belong to the deletion-neighborhood tiers
    (:func:`levenshtein_pairs`). Use :func:`fuzzy_scope_audit` to
    count rows outside a tier's declared domain instead of silently
    dropping them.

    Returns distinct ``(id_a, id_b)``, ``id_a < id_b``, including the
    distance-0 closure over identical strings via the shared adaptive
    chunked class machinery."""
    from pyspark.sql import Window

    chunked, dstr, max_class = _chunked_classes(
        df, id_col, str_col, max_len, id_chunk, min_len=q
    )
    t = int(max_dist)
    grams = dstr.select(
        "__fs",
        "__flen",
        F.posexplode(
            F.transform(
                F.sequence(F.lit(0), F.col("__flen") - q),
                lambda i: F.substring(F.col("__fs"), i + F.lit(1), F.lit(q)),
            )
        ).alias("__pos", "__g"),
    )
    freq = grams.groupBy("__g").agg(F.count(F.lit(1)).alias("__gf"))
    w = Window.partitionBy("__fs").orderBy("__gf", "__g", "__pos")
    prefix = (
        grams.join(freq, "__g")
        .withColumn("__rk", F.row_number().over(w))
        .where(F.col("__rk") <= q * t + 1)
        .select("__fs", "__flen", "__pos", "__g")
    )
    a = prefix.select(
        F.col("__fs").alias("__sa"),
        F.col("__flen").alias("__la"),
        F.col("__pos").alias("__pa"),
        "__g",
    )
    # the RARE-prefix side joins the partner's FULL gram set: of a's
    # q*t+1 rarest grams at most q*t are destroyed by <= t edits, so
    # one survives IN B — at some position within t, but not
    # necessarily inside b's own prefix (prefix-vs-prefix plus the
    # positional filter would be a recall hole). Buckets stay cold
    # anyway: a common gram has ~zero prefix occurrences by the
    # rarest-first order, a rare gram few full-side occurrences.
    b = grams.select(
        F.col("__fs").alias("__sb"),
        F.col("__flen").alias("__lb"),
        F.col("__pos").alias("__pb"),
        "__g",
    )
    spairs = (
        a.join(b, "__g")
        .where(
            (F.col("__sa") < F.col("__sb"))
            & (F.abs(F.col("__la") - F.col("__lb")) <= t)
            & (F.abs(F.col("__pa") - F.col("__pb")) <= t)
        )
        .select("__sa", "__sb")
        .distinct()
        .where(F.levenshtein("__sa", "__sb") <= t)
    )
    return _attach_ids_to_pairs(spairs, chunked, max_class, id_chunk)


def fuzzy_scope_audit(
    df: DataFrame,
    id_col: str,
    str_col: str,
    min_len: int = 1,
    max_len: int = 64,
) -> DataFrame:
    """One-row audit of a fuzzy tier's declared domain: how many rows
    fall inside/outside ``[min_len, max_len]`` (plus the longest
    out-of-scope length). A tier's length cap must be an ACCOUNTED
    quarantine, not a silent WHERE — at 100 TB a silently-skipped 2%
    is millions of unmatched entities nobody knows about. One
    map-side-combinable aggregation, zero shuffle beyond the 1-row
    reduce."""
    ln = F.length(F.col(str_col))
    # NULL strings give a NULL predicate, which SUM would silently
    # skip from BOTH buckets — route them to an explicit n_null column
    # so n_in_scope + n_skipped + n_null == n_total always holds.
    is_null = F.col(str_col).isNull()
    in_scope = F.coalesce(ln.between(min_len, max_len), F.lit(False))
    return df.agg(
        F.count(F.lit(1)).alias("n_total"),
        F.sum(in_scope.cast("long")).alias("n_in_scope"),
        F.sum((~in_scope & ~is_null).cast("long")).alias("n_skipped"),
        F.sum(is_null.cast("long")).alias("n_null"),
        F.max(F.when(~in_scope & ~is_null, ln)).alias("max_skipped_len"),
    )


def _attach_ids_to_pairs(
    spairs: DataFrame, chunked: DataFrame, max_class: int, id_chunk: int
) -> DataFrame:
    """Expand string-level pairs to id-level pairs through the chunked
    class table, plus the within-class distance-0 closure (fast path:
    join-free explode when every class fit one chunk)."""
    ids_a = chunked.select(
        F.col("__fs").alias("__sa"), F.col("__ids").alias("__ids_a")
    )
    ids_b = chunked.select(
        F.col("__fs").alias("__sb"), F.col("__ids").alias("__ids_b")
    )
    cross = (
        spairs.join(ids_a, "__sa")
        .join(ids_b, "__sb")
        .select(F.explode("__ids_a").alias("__ia"), F.col("__ids_b"))
        .select("__ia", F.explode("__ids_b").alias("__ib"))
        .select(
            F.least("__ia", "__ib").alias("id_a"),
            F.greatest("__ia", "__ib").alias("id_b"),
        )
    )
    # identical strings: every id pair within the class (distance 0).
    # Fast path: one chunk per class, so the closure explodes straight
    # out of each class's own array — no join at all.  Chunked path:
    # chunk-pair self-join, each side a bounded array.
    if max_class <= int(id_chunk):
        within = (
            chunked.where(F.size("__ids") > 1)
            .select(F.explode("__ids").alias("__ia"), "__ids")
            .select("__ia", F.explode("__ids").alias("__ib"))
            .where(F.col("__ia") < F.col("__ib"))
            .select(
                F.col("__ia").alias("id_a"), F.col("__ib").alias("id_b")
            )
        )
    else:
        c1 = chunked.select(
            "__fs",
            F.col("__chunk").alias("__c1"),
            F.col("__ids").alias("__ids_a"),
        )
        c2 = chunked.select(
            "__fs",
            F.col("__chunk").alias("__c2"),
            F.col("__ids").alias("__ids_b"),
        )
        within = (
            c1.join(c2, "__fs")
            .where(F.col("__c1") <= F.col("__c2"))
            .select(F.explode("__ids_a").alias("__ia"), F.col("__ids_b"))
            .select("__ia", F.explode("__ids_b").alias("__ib"))
            .where(F.col("__ia") != F.col("__ib"))
            .select(
                F.least("__ia", "__ib").alias("id_a"),
                F.greatest("__ia", "__ib").alias("id_b"),
            )
        )
    return cross.unionByName(within).distinct()


def winnow_fingerprints(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 4,
    w: int = 4,
    seed: int = 31,
) -> DataFrame:
    """Winnowing document fingerprints (the MOSS algorithm,
    Schleimer/Wilkerson/Aiken): hash every k-token shingle, slide a
    w-window over the hash sequence and select each window's minimum
    (position tie -> leftmost) — the selection guarantee is that any
    match of length >= w+k-1 tokens shares at least one fingerprint,
    with density ~2/(w+1) instead of every-position. The standard
    code/document plagiarism and near-dup fingerprint, complementing
    minhash (set similarity) with POSITIONAL match evidence.

    Shapes that matter: the shingle-hash array binds ONCE per row
    before the window transform reads it (the `word_shingles` O(n^2)
    re-split trap); selection is pure array algebra in the scan stage
    — zero shuffle until the selected (doc, pos, print) rows explode,
    and those are ~2/(w+1) of the token count."""
    from trollflow2_spark.tables import parallelism_floor

    sh = word_shingles(F.col(text_col), k)
    # scale-adaptive floor (guide §2.5, same as minhash/simhash): the
    # md5 shingle hashing + per-window slice/min selection is the
    # compute-heavy kernel, and single-row-group fixtures scan as ONE
    # task — the r15 profile showed winnow_dedup_pairs paying a 1.8-
    # 2.5 s SERIAL job for it; a no-op on many-partition cluster scans
    narrow = parallelism_floor(df, id_col, text_col)
    with_h = narrow.select(
        F.col(id_col),
        F.transform(sh, lambda s: hash64(s, seed=seed)).alias("__hs"),
    )
    hs = F.col("__hs")
    nw = F.greatest(F.size(hs) - F.lit(w - 1), F.lit(1))

    def pick(j: Column) -> Column:
        sl = F.slice(hs, j + 1, w)
        mh = F.array_min(sl)
        return F.struct(
            (F.array_position(sl, mh) + j).cast("int").alias("pos"),
            mh.alias("print"),
        )

    sel = with_h.select(
        F.col(id_col),
        F.explode(
            F.transform(F.sequence(F.lit(0), nw - 1), pick)
        ).alias("__s"),
    )
    return sel.select(
        id_col, F.col("__s.pos").alias("pos"), F.col("__s.print").alias("print")
    ).distinct()


def winnow_pairs(
    prints: DataFrame,
    id_col: str = "doc_id",
    min_shared: int = 2,
    max_bucket: int = 64,
) -> DataFrame:
    """Candidate near-dup pairs from winnowing fingerprints: docs
    sharing >= ``min_shared`` distinct prints, scored by the integer
    per-mille overlap ``shared * 1000 // min(np_a, np_b)``. Prints
    shared by more than ``max_bucket`` documents are boilerplate
    (license headers, templates) and are dropped BEFORE the pair
    self-join — the same hot-bucket guard as the LSH tier, which is
    what keeps the join quadratic only in true duplicate groups."""
    # the fingerprint pipeline (shingle hash + window-min selection)
    # feeds 4 consumers (doc sizes, bucket counts, both join sides):
    # materialize the distinct print table once (guide §2.4); persist
    # keeps lineage size estimates so the pair join still plans its
    # broadcast side (a checkpoint's LogicalRDD would force SMJ)
    dp = (
        prints.select(F.col(id_col).alias("__id"), "print")
        .distinct()
        .persist()
    )
    sizes = dp.groupBy("__id").agg(F.count(F.lit(1)).alias("__np"))
    bucket = dp.groupBy("print").agg(F.count(F.lit(1)).alias("__bc"))
    kept = dp.join(
        F.broadcast(bucket.where(F.col("__bc") <= max_bucket).select("print")),
        "print",
        "left_semi",
    )
    a = kept.select(F.col("__id").alias("doc_a"), "print")
    b = kept.select(F.col("__id").alias("doc_b"), "print")
    shared = (
        a.join(b, "print")
        .where(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("shared_prints"))
        .where(F.col("shared_prints") >= min_shared)
    )
    na = sizes.select(F.col("__id").alias("doc_a"), F.col("__np").alias("__na"))
    nb = sizes.select(F.col("__id").alias("doc_b"), F.col("__np").alias("__nb"))
    return (
        shared.join(na, "doc_a")
        .join(nb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            "shared_prints",
            F.floor(
                F.col("shared_prints") * 1000
                / F.least(F.col("__na"), F.col("__nb"))
            )
            .cast("long")
            .alias("overlap_permille"),
        )
    )


def fs_linkage_weights(
    labeled_pairs: DataFrame,
    agree_cols: list[str],
    label_col: str = "is_match",
    smooth: float = 0.5,
) -> DataFrame:
    """Fellegi-Sunter record-linkage weights — the probabilistic
    entity-resolution model the fuzzy tier's candidate pairs feed:
    from labeled (match / nonmatch) comparison vectors, estimate per
    field ``m = P(agree | match)`` and ``u = P(agree | nonmatch)``
    (Laplace-smoothed), and the log-likelihood-ratio weights
    ``w_agree = ln(m/u)``, ``w_disagree = ln((1-m)/(1-u))`` that score
    unlabeled pairs by summation. One hash agg over the pair table ->
    a field-cardinality weights row set; everything downstream is a
    broadcast of these few numbers onto the candidate stream."""
    lbl = F.col(label_col).cast("long")
    aggs = [
        F.sum(lbl).alias("__nm"),
        F.sum(1 - lbl).alias("__nu"),
    ]
    for c in agree_cols:
        a = F.col(c).cast("long")
        aggs.append(F.sum(a * lbl).alias(f"__am_{c}"))
        aggs.append(F.sum(a * (1 - lbl)).alias(f"__au_{c}"))
    wide = labeled_pairs.agg(*aggs)
    parts = []
    for c in agree_cols:
        m = (F.col(f"__am_{c}").cast("double") + F.lit(smooth)) / (
            F.col("__nm").cast("double") + F.lit(2.0 * smooth)
        )
        u = (F.col(f"__au_{c}").cast("double") + F.lit(smooth)) / (
            F.col("__nu").cast("double") + F.lit(2.0 * smooth)
        )
        parts.append(
            wide.select(
                F.lit(c).alias("field"),
                F.col("__nm").alias("n_match"),
                F.col("__nu").alias("n_nonmatch"),
                F.round(m, 6).alias("m"),
                F.round(u, 6).alias("u"),
                F.round(F.log(m / u), 6).alias("w_agree"),
                F.round(F.log((1.0 - m) / (1.0 - u)), 6).alias("w_disagree"),
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out
