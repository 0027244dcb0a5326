"""Distributed text classification: multinomial Naive Bayes.

The workhorse cheap classifier of corpus pipelines (language ID,
source/domain routing, quality tiering): training is NOTHING BUT
aggregations — per-class token counts, class totals, priors — so unlike
iterative learners both training AND scoring are exactly replayable in
SQL, which makes the whole train→score round-trip oracle-checkable
(the same property the k-means/IVF and BPE tiers exploit: deterministic
fit, literal-free replay).

100 TB shape:
- training: one explode + one (label, token) hash agg (map-side
  combined — shuffle volume is vocab × classes, not corpus-sized);
  class totals and priors are label-sized aggs.
- model: the (label, token, count) table is model-sized (vocab ×
  classes) and BROADCASTS to scoring; production caps the vocab like
  the unigram LM's top-k when vocabularies explode — same join shape.
- scoring: token stream × classes (a handful) map-side, left join the
  broadcast model, per-(doc,class) partial agg, then a per-doc argmax
  window (dense partitions — one row per class).

Determinism: per-token log-likelihoods are identical double
expressions on both engines; per-class sums are rounded to 6 before
the argmax and ties break on the class name, so the winner is stable
under any partitioning (the `unigram_logprob` convention).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window, functions as F

from trollflow2_spark.extensions.hashing import hash64, tokens


def nb_train_score(
    train: DataFrame,
    score: DataFrame,
    label_col: str = "lang",
    text_col: str = "text",
    id_col: str = "doc_id",
    alpha: float = 0.5,
    round_digits: int = 6,
) -> DataFrame:
    """Fit multinomial NB (add-``alpha`` smoothing) on ``train``,
    classify ``score``. Output per scored doc:
    (id, label, pred_label, score, n_tokens, correct) — ``label`` is
    the true class (for accuracy audits), ``score`` the winning
    class's rounded joint log-likelihood."""
    def tok(df: DataFrame, *extra):
        return df.select(
            *extra, F.explode(tokens(F.col(text_col))).alias("tk")
        ).select(*extra, F.lower(F.col("tk")).alias("token"))

    tok_t = tok(train, F.col(label_col))
    ctc = tok_t.groupBy(label_col, "token").agg(F.count(F.lit(1)).alias("c"))
    totals = ctc.groupBy(label_col).agg(
        F.sum("c").cast("double").alias("total_c")
    )
    nd = train.groupBy(label_col).agg(F.count(F.lit(1)).alias("ndc"))
    n_all = train.agg(F.count(F.lit(1)).cast("double").alias("n"))
    vstat = ctc.agg(F.countDistinct("token").cast("double").alias("v"))
    classes = (
        nd.join(totals, label_col)
        .crossJoin(F.broadcast(n_all))
        .select(
            label_col,
            F.log(F.col("ndc") / F.col("n")).alias("prior"),
            "total_c",
        )
    )
    a = float(alpha)
    tok_s = tok(score, F.col(id_col))
    scored = (
        tok_s.crossJoin(F.broadcast(classes))
        .join(F.broadcast(ctc), [label_col, "token"], "left")
        .crossJoin(F.broadcast(vstat))
        .withColumn(
            "logp",
            F.log(
                (F.coalesce(F.col("c"), F.lit(0)) + F.lit(a))
                / (F.col("total_c") + F.lit(a) * (F.col("v") + 1))
            ),
        )
    )
    per = scored.groupBy(id_col, label_col).agg(
        F.round(F.first("prior") + F.sum("logp"), round_digits).alias(
            "score"
        ),
        F.count(F.lit(1)).alias("n_tokens"),
    )
    w = Window.partitionBy(id_col).orderBy(
        F.col("score").desc(), F.col(label_col).asc()
    )
    win = (
        per.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            id_col,
            F.col(label_col).alias("pred_" + label_col),
            "score",
            "n_tokens",
        )
    )
    truth = score.select(id_col, label_col)
    return win.join(truth, id_col).select(
        id_col,
        label_col,
        "pred_" + label_col,
        "score",
        "n_tokens",
        F.when(F.col("pred_" + label_col) == F.col(label_col), 1)
        .otherwise(0)
        .alias("correct"),
    )


def logreg_train_score(
    df: DataFrame,
    label_col: str = "y",
    text_col: str = "text",
    id_col: str = "doc_id",
    dim: int = 8,
    iters: int = 6,
    lr: float = 0.05,
    seed: int = 29,
    round_digits: int = 6,
    score_df: DataFrame | None = None,
) -> DataFrame:
    """Distributed logistic-regression TRAINING by full-batch gradient
    descent — the iterative learner NB cannot be, trained without any
    ML library: features are hashed token-bucket counts (the hashing
    trick, integers by construction), and every iteration is ONE
    aggregation over the cached feature table producing the next
    weight vector (dim+1 doubles, the only collect — control plane).

    100 TB shape: the corpus is scanned once to build the narrow
    (id, y, x0..x{dim-1}) feature table (pure map-side Column algebra,
    zero shuffle); each GD step is a map-side-combinable sum over that
    table — shuffle volume is dim+1 longs per partition, independent
    of corpus size; scoring is one more map pass. This is exactly how
    distributed GD scales: O(iters) cheap jobs over cached narrow
    features, never re-tokenizing.

    Determinism (the unrolled-recurrence oracle contract): per-doc
    sigmoid outputs round to ``round_digits`` before use, per-doc
    gradient contributions quantize to integer micro-units (1e-6)
    before the order-free BIGINT sum, the weight update is the same
    double expression text on both engines, and weights re-round each
    step — so a SQL replay of all ``iters`` iterations reproduces the
    final scores bit-for-bit (the ``bpe_train`` discipline applied to
    gradient descent).
    """
    toks = F.transform(tokens(F.col(text_col)), lambda t: F.lower(t))
    bks = F.transform(toks, lambda t: F.pmod(hash64(t, seed=seed), F.lit(dim)))
    # ONE fold builds the whole bucket histogram, so each token is
    # hashed exactly once (16 independent filter() scans would leave
    # Catalyst re-evaluating the md5 transform per bucket — measured
    # ~6x slower at sf0.01)
    hist = F.aggregate(
        bks,
        F.array_repeat(F.lit(0), dim),
        lambda acc, b: F.transform(
            acc, lambda v, i: v + F.when(i.cast("bigint") == b, 1).otherwise(0)
        ),
    )
    n_tok = F.size(bks)

    def bucket_ratio(j: int):
        # per-mille length-normalized count: keeps features integer
        # (portable) while decoupling them from document length
        cnt = F.col("hist")[j]
        return (
            F.when(
                F.col("n_tok") > 0,
                F.round(
                    cnt.cast("double") * F.lit(1000.0)
                    / F.col("n_tok").cast("double")
                ),
            )
            .otherwise(F.lit(0.0))
            .cast("int")
        )

    # checkpoint at the histogram level (one eager tokenize+hash pass);
    # the per-mille projection below it is integer arithmetic recomputed
    # per iteration for free — checkpointing the ratios instead would
    # either collapse the projection back into the md5 chain or cost a
    # second eager job
    def featurize(frame: DataFrame) -> DataFrame:
        # scale-adaptive parallelism floor (guide §2.5 input skew):
        # the corpus fixtures are single-row-group parquet, so the
        # scan is ONE task and the whole tokenize+hash pass runs
        # serially on one core; spread it when (and only when) the
        # scan has fewer partitions than the session's parallelism —
        # at cluster scale inputs carry plenty of partitions and this
        # is a no-op, so no shuffle is added where it would hurt
        target = frame.sparkSession.sparkContext.defaultParallelism
        if frame.rdd.getNumPartitions() < target:
            frame = frame.repartition(target)
        base = frame.select(
            F.col(id_col),
            F.col(label_col).cast("int").alias("y"),
            hist.alias("hist"),
            n_tok.alias("n_tok"),
        ).localCheckpoint()
        return base.select(
            F.col(id_col),
            F.col("y"),
            *[bucket_ratio(j).alias(f"x{j}") for j in range(dim)],
        )

    feats = featurize(df)

    def dot(w: list[float]) -> Column:
        z: Column = F.lit(float(w[0]))
        for j in range(dim):
            z = z + F.col(f"x{j}").cast("double") * F.lit(float(w[j + 1]))
        return z

    def prob(w: list[float]) -> Column:
        return F.round(
            F.lit(1.0) / (F.lit(1.0) + F.exp(-dot(w))), round_digits
        )

    # the GD loop builds each iteration's 17 aggregate expressions as
    # SQL text parsed JVM-side in one call each — constructing them as
    # Column trees costs ~0.6 s/iteration of py4j round trips alone
    # (measured); weight/lr literals go through CAST('<repr>' AS
    # DOUBLE), which parses to the identical IEEE double
    def lit_d(v: float) -> str:
        return f"CAST('{float(v)!r}' AS DOUBLE)"

    def dot_sql(w: list[float]) -> str:
        z = lit_d(w[0])
        for j in range(dim):
            z = f"({z} + (CAST(x{j} AS DOUBLE) * {lit_d(w[j + 1])}))"
        return z

    def prob_sql(w: list[float]) -> str:
        return (
            f"round(1.0D / (1.0D + exp(-({dot_sql(w)}))), {round_digits})"
        )

    w = [0.0] * (dim + 1)
    # every GD step is a fresh plan (the weights are literals), so
    # whole-stage codegen would recompile per iteration to aggregate one
    # narrow cached table — interpreted mode wins for these
    # control-plane jobs; values are identical either way
    spark = feats.sparkSession
    prev_cg = spark.conf.get("spark.sql.codegen.wholeStage", "true")
    prev_aqe = spark.conf.get("spark.sql.adaptive.enabled", "true")
    spark.conf.set("spark.sql.codegen.wholeStage", "false")
    # AQE re-plans every iteration's one-exchange agg as two jobs and
    # buys nothing on a dim+1-double result: off for the control-plane
    # loop (restored below), halving the per-iteration job count
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        for _ in range(iters):
            # sigmoid projected ONCE per row (like the oracle's inner
            # select) — embedding it in all 17 gradient sums hands the
            # analyzer a 10x bigger tree each iteration (measured)
            scored = feats.selectExpr(
                "y",
                *[f"x{j}" for j in range(dim)],
                f"{prob_sql(w)} AS p",
            )
            err = "(CAST(y AS DOUBLE) - p)"
            upd = []
            for k in range(dim + 1):
                xk = "1.0D" if k == 0 else f"CAST(x{k - 1} AS DOUBLE)"
                g = (
                    f"CAST(sum(CAST(round(({err} * {xk}) * 1000000.0D)"
                    " AS BIGINT)) AS DOUBLE)"
                )
                upd.append(
                    F.expr(
                        f"round({lit_d(w[k])} + {lit_d(lr)} * {g}"
                        f" / CAST(count(1) AS DOUBLE) / 1000000.0D,"
                        f" {round_digits})"
                    ).alias(f"w{k}")
                )
            row = scored.agg(*upd).collect()[0]
            w = [float(row[f"w{k}"]) for k in range(dim + 1)]
    finally:
        spark.conf.set("spark.sql.codegen.wholeStage", prev_cg)
        spark.conf.set("spark.sql.adaptive.enabled", prev_aqe)

    # score the held-out frame when given (the production train/serve
    # split), else the training corpus (the fit-diagnostics form)
    target = feats if score_df is None else featurize(score_df)
    p = prob(w)
    pred = F.when(p >= 0.5, 1).otherwise(0)
    return target.select(
        F.col(id_col),
        F.col("y"),
        p.alias("score"),
        pred.alias("pred"),
        F.when(pred == F.col("y"), 1).otherwise(0).alias("correct"),
    )


def binary_metrics(
    df: DataFrame,
    score_col: str,
    label_col: str,
    group_cols: list[str] | None = None,
    threshold: float = 0.5,
) -> DataFrame:
    """Exact binary-classifier evaluation per group: ROC-AUC via the
    Mann-Whitney rank statistic plus thresholded
    precision/recall/F1/accuracy — the evaluation loop for the
    classifier-quality tier (`nb_train_score`, `logreg_train_score`)
    without a sklearn dependency.

    AUC handles ties EXACTLY by average ranks, kept in integer
    arithmetic until the final division: per distinct score,
    ``avg_rank * 2 = 2 * (count below) + count_at + 1`` (doubling
    clears the half), so ``U * 2 = sum(pos_at * avg_rank2) -
    n_pos * (n_pos + 1)`` and ``AUC = U2 / (2 * n_pos * n_neg)`` —
    two engines computing this agree bit-for-bit because everything
    before the one division is integer.

    Scale shape: one map-side-combinable hash agg to the DISTINCT
    SCORE table (bounded by score cardinality, not rows — quantized
    production scores keep this tiny), a window over that bounded
    table for the cumulative counts, one final agg per group. Never a
    row-level rank over the raw data. Degenerate groups (single
    class) return NULL auc rather than a fake 0.5.
    """
    gcols = list(group_cols or [])
    s, y = F.col(score_col), F.col(label_col).cast("long")
    per_score = df.groupBy(*gcols, s.alias("__s")).agg(
        F.count(F.lit(1)).alias("__n_at"),
        F.sum(y).alias("__pos_at"),
    )
    w = Window.partitionBy(*[F.col(c) for c in gcols]).orderBy("__s")
    below = F.coalesce(
        F.sum("__n_at").over(
            w.rowsBetween(Window.unboundedPreceding, -1)
        ),
        F.lit(0),
    )
    ranked = per_score.withColumn(
        "__rank2_x_pos",
        (2 * below + F.col("__n_at") + 1) * F.col("__pos_at"),
    )
    thr = ranked.groupBy(*gcols).agg(
        F.sum("__n_at").alias("n"),
        F.sum("__pos_at").alias("n_pos"),
        F.sum("__rank2_x_pos").alias("__r2p"),
        F.sum(
            F.when(F.col("__s") >= threshold, F.col("__pos_at")).otherwise(0)
        ).alias("tp"),
        F.sum(
            F.when(
                F.col("__s") >= threshold,
                F.col("__n_at") - F.col("__pos_at"),
            ).otherwise(0)
        ).alias("fp"),
    )
    n_neg = F.col("n") - F.col("n_pos")
    fn = F.col("n_pos") - F.col("tp")
    tn = n_neg - F.col("fp")
    u2 = F.col("__r2p") - F.col("n_pos") * (F.col("n_pos") + 1)
    auc = F.when(
        (F.col("n_pos") > 0) & (n_neg > 0),
        F.round(
            u2.cast("double") / (2.0 * F.col("n_pos") * n_neg), 6
        ),
    )
    prec = F.when(
        F.col("tp") + F.col("fp") > 0,
        F.col("tp").cast("double") / (F.col("tp") + F.col("fp")),
    ).otherwise(0.0)
    rec = F.when(
        F.col("n_pos") > 0, F.col("tp").cast("double") / F.col("n_pos")
    ).otherwise(0.0)
    f1 = F.when(
        prec + rec > 0, 2.0 * prec * rec / (prec + rec)
    ).otherwise(0.0)
    return thr.select(
        *gcols,
        "n",
        "n_pos",
        auc.alias("auc"),
        "tp",
        "fp",
        tn.alias("tn"),
        fn.alias("fn"),
        F.round(prec, 6).alias("precision"),
        F.round(rec, 6).alias("recall"),
        F.round(f1, 6).alias("f1"),
        F.round(
            (F.col("tp") + tn).cast("double") / F.col("n"), 6
        ).alias("accuracy"),
    )


def calibration_bins(
    df: DataFrame,
    score_col: str,
    label_col: str,
    n_bins: int = 10,
    group_cols: list[str] | None = None,
) -> DataFrame:
    """Reliability diagram + Expected Calibration Error per group —
    the companion to :func:`binary_metrics`: AUC says the model
    RANKS well, calibration says its probabilities MEAN something
    (a 0.8 bucket should be right ~80% of the time), which decides
    whether classifier-quality-filter thresholds transfer across
    corpora. Scores bin by ``floor(score * n_bins)`` capped at the
    top bin; per bin: count, positives, mean predicted score (exact
    DECIMAL score sum -> one double division), observed rate; ECE is
    the count-weighted |observed - predicted| average, folded in BIN
    ORDER (the PSI discipline) so float addition order matches the
    SQL oracle exactly. One hash agg to the (groups x bins) table +
    one per-group rollup joined back — never a row-level window."""
    gcols = list(group_cols or [])
    s, y = F.col(score_col), F.col(label_col).cast("long")
    b = F.least(
        F.floor(s * n_bins).cast("int"), F.lit(int(n_bins) - 1)
    )
    bins = df.groupBy(*gcols, b.alias("bin")).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(y).alias("n_pos"),
        F.sum(s.cast("decimal(38,9)")).alias("__ssum"),
    )
    pred = F.col("__ssum").cast("double") / F.col("n")
    obs = F.col("n_pos").cast("double") / F.col("n")

    def cell_term(c):
        cp = c["__ssum"].cast("double") / c["n"]
        co = c["n_pos"].cast("double") / c["n"]
        return c["n"].cast("double") * F.abs(co - cp)

    rolled = bins.groupBy(*gcols).agg(
        F.sum("n").alias("__n_tot"),
        F.collect_list(
            F.struct("bin", "n", "n_pos", "__ssum")
        ).alias("__cells"),
    )
    ece = F.aggregate(
        F.array_sort(F.col("__cells")),
        F.lit(0.0),
        lambda acc, c: acc + cell_term(c),
    ) / F.col("__n_tot").cast("double")
    per_group = rolled.select(
        *gcols, F.round(ece, 6).alias("ece")
    )
    out = bins.join(per_group, gcols) if gcols else bins.crossJoin(
        per_group
    )
    return out.select(
        *gcols,
        "bin",
        "n",
        "n_pos",
        F.round(pred, 6).alias("mean_pred"),
        F.round(obs, 6).alias("obs_rate"),
        "ece",
    )


def woe_iv(
    df: DataFrame,
    feature_col: str,
    label_col: str,
    smooth: float = 0.5,
) -> DataFrame:
    """Weight-of-evidence / information-value feature scoring — the
    credit-scoring-era screen for "how much does this categorical
    feature separate a binary label", still the standard pre-training
    audit for tabular features (`chi2_feature_selection`'s
    label-aware sibling). Per feature value: ``woe = ln(pr/nr)`` over
    the Laplace-smoothed positive/negative rate pair; the feature's
    IV folds ``(pr - nr) * woe`` across values, summed in DECIMAL
    over round(12) terms so the replay is order-insensitive.

    Cost: one (feature) hash agg + one control-plane totals row
    broadcast back; everything else is scan-stage algebra."""
    cells = df.groupBy(F.col(feature_col).alias("feature_value")).agg(
        F.sum(F.col(label_col).cast("long")).alias("pos"),
        F.sum(F.lit(1) - F.col(label_col).cast("long")).alias("neg"),
    )
    totals = cells.agg(
        F.sum("pos").alias("__POS"),
        F.sum("neg").alias("__NEG"),
        F.count(F.lit(1)).alias("__K"),
    )
    j = cells.crossJoin(F.broadcast(totals))
    pr = (F.col("pos").cast("double") + F.lit(smooth)) / (
        F.col("__POS").cast("double") + F.lit(smooth) * F.col("__K").cast("double")
    )
    nr = (F.col("neg").cast("double") + F.lit(smooth)) / (
        F.col("__NEG").cast("double") + F.lit(smooth) * F.col("__K").cast("double")
    )
    woe = F.log(pr / nr)
    scored = j.select(
        "feature_value",
        (F.col("pos") + F.col("neg")).alias("n"),
        "pos",
        "neg",
        F.round(woe, 6).alias("woe"),
        F.round((pr - nr) * woe, 12).alias("__term"),
    )
    iv = scored.agg(
        F.sum(F.col("__term").cast("decimal(38,12)"))
        .cast("double")
        .alias("__iv")
    )
    return scored.crossJoin(F.broadcast(iv)).select(
        "feature_value",
        "n",
        "pos",
        "neg",
        "woe",
        F.round(F.col("__iv"), 6).alias("iv"),
    )
