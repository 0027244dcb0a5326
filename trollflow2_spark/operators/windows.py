"""Window-function operators: top-1-per-group patterns.

The reference's two window-shaped semantics (SURVEY §2.7): nearest-
neighbor keeps the top-1 source pixel per target pixel, and product
loading prefers the highest resolution per product
(``/root/reference/trollflow2/plugins/__init__.py:63-68``,
``doc/source/plugins.rst:60-62``).
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import Column, DataFrame, Window, functions as F


def top1_per_group(
    df: DataFrame,
    partition_cols: Sequence[str],
    order_by: Sequence[Column],
    keep_rank_col: bool = False,
) -> DataFrame:
    """Keep exactly one row per group, ordered by ``order_by`` (callers
    must include a unique tie-breaker for determinism).

    Scale note: ``row_number`` over a partitioned window shuffles once on
    the partition keys; with AQE the skewed-partition split handles hot
    groups. For top-1 specifically, ``max_by``-style aggregation avoids
    the full sort, but the window form generalizes to top-k.
    """
    w = Window.partitionBy(*partition_cols).orderBy(*order_by)
    out = df.withColumn("__rn", F.row_number().over(w)).filter(F.col("__rn") == 1)
    return out if keep_rank_col else out.drop("__rn")


def topk_per_group(
    df: DataFrame,
    partition_cols: Sequence[str],
    order_by: Sequence[Column],
    k: int,
    rank_col: str = "rank",
    salt_col: str | None = None,
    salt_buckets: int | None = None,
) -> DataFrame:
    """Top-k rows per group (callers must order by a total order —
    include a unique tie-breaker).

    With ``salt_col``/``salt_buckets`` the selection runs in TWO
    stages: a first window over (group, hash(salt_col) % buckets)
    keeps k rows per sub-bucket, then the final window ranks the
    <= buckets*k survivors per group. Exact (every global top-k row is
    top-k within its sub-bucket) and the shape to use when the group
    count is small relative to the row count — e.g. a handful of
    retrieval queries each ranking the whole corpus, where a direct
    per-group window would funnel the corpus through few hot
    partitions."""
    if salt_col is not None and salt_buckets and salt_buckets > 1:
        # collision-safe temp name: a caller column named "__sk" must
        # survive untouched, so probe for a free suffix first
        sk = "__sk"
        while sk in df.columns:
            sk += "_"
        salt = F.pmod(F.xxhash64(F.col(salt_col)), F.lit(salt_buckets))
        w1 = Window.partitionBy(*partition_cols, salt).orderBy(*order_by)
        df = (
            df.withColumn(sk, F.row_number().over(w1))
            .filter(F.col(sk) <= k)
            .drop(sk)
        )
    w = Window.partitionBy(*partition_cols).orderBy(*order_by)
    return df.withColumn(rank_col, F.row_number().over(w)).filter(
        F.col(rank_col) <= k
    )


def funnel_stages(
    df: DataFrame,
    steps: Sequence[str],
    user_col: str = "user_id",
    ts_col: str = "ts",
    type_col: str = "event_type",
) -> DataFrame:
    """Ordered-funnel conversion: per user, how deep into ``steps`` the
    event stream advances — step *i* only counts after step *i-1* has
    occurred (strictly sequential, the semantics a conditional-min-per-
    step chain cannot express without N join passes).

    Single-shuffle shape: one groupBy(user) collects the (ts, type)
    events, sorts the array, and a higher-order ``aggregate`` walks it
    with a one-int state machine — order-dependent logic WITHOUT N
    self-joins or a per-user Python UDF. Per-user arrays are bounded by
    per-user event counts (sessions, not corpora); a pathological power
    user is one fat row, not a hot shuffle partition. Ties at the same
    timestamp resolve by the type string (struct sort order) —
    deterministic on any engine.

    Output: (user, funnel_stage, converted).
    """
    steps = list(steps)
    ev = df.filter(F.col(type_col).isin(steps)).select(
        F.col(user_col),
        F.struct(F.col(ts_col).alias("ts"), F.col(type_col).alias("ty")).alias("e"),
    )
    seq = ev.groupBy(user_col).agg(
        F.sort_array(F.collect_list("e")).alias("seq")
    )
    step_no = F.transform(
        F.col("seq"),
        lambda s: F.coalesce(
            *[
                F.when(s["ty"] == step, F.lit(i + 1))
                for i, step in enumerate(steps)
            ]
        ),
    )

    def advance(acc: Column, x: Column) -> Column:
        expr = None
        for i in range(1, len(steps) + 1):
            cond = (acc == i - 1) & (x == i)
            expr = F.when(cond, i) if expr is None else expr.when(cond, i)
        return expr.otherwise(acc)

    stage = F.aggregate(step_no, F.lit(0), advance)
    return seq.select(
        F.col(user_col),
        stage.alias("funnel_stage"),
        (stage == len(steps)).cast("int").alias("converted"),
    )


def downsample_ohlc(
    df: DataFrame,
    ts_col: str,
    value_col: str,
    id_col: str,
    group_cols: list[str],
    window: str = "hour",
) -> DataFrame:
    """Open/high/low/close downsampling per (group, time bucket) —
    the telemetry/metrics rollup (first reading, extremes, last
    reading per hour/day) that naive implementations write as TWO
    row_number windows over the raw stream. Here it is ONE hash
    aggregation: open/close via ``min_by``/``max_by`` on a total
    (ts, id) key — map-side combinable, so a billion readings reduce
    to one candidate per map task before the shuffle, and ties at
    the same timestamp resolve identically everywhere. ``sum_value``
    accumulates in DECIMAL (order-insensitive) for the companion
    mean."""
    bucket = F.date_trunc(window, F.col(ts_col))
    ord_key = F.struct(F.col(ts_col), F.col(id_col))
    v = F.col(value_col)
    return df.groupBy(*group_cols, bucket.alias("bucket")).agg(
        F.min_by(v, ord_key).alias("open"),
        F.max(v).alias("high"),
        F.min(v).alias("low"),
        F.max_by(v, ord_key).alias("close"),
        F.count(F.lit(1)).alias("n"),
        F.sum(v.cast("decimal(38,6)")).cast("double").alias("sum_value"),
    )


def ewma_bounded(
    df: DataFrame,
    key_cols: list[str],
    order_cols: list[str],
    value_col: str,
    alpha: float = 0.3,
    lags: int = 8,
) -> DataFrame:
    """Bounded-lag exponential moving average per key — the
    fixed-memory form of EWMA smoothing (weights ``(1-alpha)^j`` over
    the last ``lags`` observations, renormalized over the lags that
    exist). The unbounded recursive EWMA needs either a sequential
    scan or an overflow-prone ``(1-alpha)^-i`` rescale; the bounded
    form is what a streaming/stateful implementation actually keeps
    (a ring of the last W readings), truncation error is
    ``(1-alpha)^W`` (≈1e-5 at the defaults), and — because the
    definition IS the bounded window — it replays bit-exactly on any
    engine.

    Plan: one window over (key, order) materializing ``lags`` LAG
    columns; a single shuffle on the key, zero Python. The weighted
    sum is a fixed literal expression chain (j = 0..W-1 in order), so
    the float fold is the identical instruction sequence on both
    engines."""
    w = Window.partitionBy(*key_cols).orderBy(*order_cols)
    v = F.col(value_col)
    num = None
    den = None
    for j in range(lags):
        wj = (1.0 - alpha) ** j
        xj = v if j == 0 else F.lag(v, j).over(w)
        t_num = F.when(xj.isNotNull(), F.lit(wj) * xj).otherwise(F.lit(0.0))
        t_den = F.when(xj.isNotNull(), F.lit(wj)).otherwise(F.lit(0.0))
        num = t_num if num is None else num + t_num
        den = t_den if den is None else den + t_den
    return df.select(
        *key_cols,
        *order_cols,
        v.alias("value"),
        F.round(num / den, 6).alias("ewma"),
    )


def gaps_islands(
    df: DataFrame,
    key_cols: list[str],
    seq_col: str,
    min_length: int = 1,
) -> DataFrame:
    """Gaps-and-islands: maximal runs of CONSECUTIVE integer sequence
    values per key (activity streaks, contiguous id ranges, missing-
    chunk detection). The classic rank trick, upgraded: ``seq -
    dense_rank()`` is constant exactly within a consecutive run, and
    dense_rank (unlike row_number) keeps the invariant under
    DUPLICATE (key, seq) rows with no pre-dedup pass — so the whole
    operator is one per-key window plus one hash agg whose (key, grp)
    grouping is satisfied by the window's key partitioning: a SINGLE
    exchange end to end (pinned in tests/test_plans_r12.py).
    ``island_len`` counts distinct sequence values."""
    d = df.select(*key_cols, F.col(seq_col).alias("__s"))
    w = Window.partitionBy(*key_cols).orderBy("__s")
    grp = (F.col("__s") - F.dense_rank().over(w)).alias("__g")
    return (
        d.select(*key_cols, "__s", grp)
        .groupBy(*key_cols, "__g")
        .agg(
            F.min("__s").alias("island_start"),
            F.max("__s").alias("island_end"),
            F.count_distinct(F.col("__s")).alias("island_len"),
        )
        .where(F.col("island_len") >= min_length)
        .drop("__g")
    )


def peak_concurrency(
    df: DataFrame,
    key_cols: list[str],
    start_col: str,
    end_col: str,
) -> DataFrame:
    """Maximum interval overlap per key (peak concurrent sessions /
    calls / jobs) by sweep line: unpivot every interval to a +1 start
    and a -1 end event, cumulative-sum in time order, take the max.
    Tie rule: at an identical timestamp, starts count BEFORE ends
    (delta descending), so touching intervals [a,t] and [t,b] DO
    overlap at t — the inclusive convention, pinned by tests.

    One shuffle (the per-key window; the unpivot is a zero-shuffle
    inline explode), integer deltas all the way — engine-exact. The
    peak instant reported is the earliest timestamp attaining the
    maximum (min_by over the running level)."""
    deltas = df.select(
        *key_cols,
        F.explode(
            F.array(
                F.struct(
                    F.col(start_col).alias("t"), F.lit(1).alias("delta")
                ),
                F.struct(
                    F.col(end_col).alias("t"), F.lit(-1).alias("delta")
                ),
            )
        ).alias("__e"),
    ).select(*key_cols, F.col("__e.t").alias("t"), F.col("__e.delta").alias("delta"))
    w = (
        Window.partitionBy(*key_cols)
        .orderBy(F.col("t"), F.col("delta").desc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    lev = deltas.select(
        *key_cols, "t", F.sum("delta").over(w).alias("level")
    )
    key = F.struct((-F.col("level")).alias("neg"), F.col("t").alias("t"))
    return lev.groupBy(*key_cols).agg(
        F.max("level").alias("peak"),
        F.min_by(F.col("t"), key).alias("peak_at"),
    )


def touch_attribution(
    events: DataFrame,
    key_col: str,
    ts_col: str,
    type_col: str,
    id_col: str,
    conversion_type: str,
    lookback_seconds: int,
) -> DataFrame:
    """Marketing-style conversion attribution: for every conversion
    event, the FIRST and LAST touch (any non-conversion event) within
    the lookback window, plus the touch count — first/last/linear
    attribution all read off this table.

    Shape: ONE range window per user (ordered by epoch seconds,
    RANGE [-lookback, -1s]) computes min/max over (ts, event-id)-
    keyed touch structs and the touch count; conversions filter
    afterwards. A single shuffle on the user key, no self-join, no
    fan-out — the range frame is how Spark expresses 'preceding N
    seconds' without exploding candidate pairs. Ties on ts break by
    event id inside the struct comparison (total order, engine-
    exact)."""
    # NTZ-safe epoch seconds (timestamp->long casts are rejected for
    # TIMESTAMP_NTZ): whole seconds since a fixed naive epoch, the
    # same floor semantics as date_diff('second', ...) elsewhere
    sec = F.expr(
        f"timestampdiff(SECOND, TIMESTAMP_NTZ '1970-01-01 00:00:00', "
        f"{ts_col})"
    )
    w = (
        Window.partitionBy(key_col)
        .orderBy(sec)
        .rangeBetween(-lookback_seconds, -1)
    )
    is_touch = F.col(type_col) != conversion_type
    touch_struct = F.when(
        is_touch,
        F.struct(
            sec.alias("s"),
            F.col(id_col).alias("i"),
            F.col(type_col).alias("t"),
        ),
    )
    enriched = events.select(
        F.col(key_col).alias("user"),
        F.col(ts_col).alias("conv_ts"),
        F.col(id_col).alias("conv_id"),
        F.col(type_col).alias("__type"),
        F.min(touch_struct).over(w).alias("__first"),
        F.max(touch_struct).over(w).alias("__last"),
        F.count(touch_struct).over(w).alias("n_touches"),
    )
    return enriched.where(
        F.col("__type") == conversion_type
    ).select(
        "user",
        "conv_id",
        "conv_ts",
        "n_touches",
        F.col("__first.t").alias("first_touch"),
        F.col("__last.t").alias("last_touch"),
    )


def clamped_running_balance(
    df: DataFrame,
    key_cols: list[str],
    order_cols: list[str],
    delta_col: str,
) -> DataFrame:
    """Running balance clamped at zero (stock on hand, rate-limit
    tokens, prepaid credit): ``b_t = max(0, b_{t-1} + x_t)``. The
    recurrence looks inherently sequential, but the closed form
    ``b_t = S_t - min(0, min_{k<=t} S_k)`` (prefix sums and their
    running minimum — deficits are forgiven exactly once) turns it
    into TWO cumulative windows over the same (key, order) sort: one
    shuffle, no UDF, no sequential scan. Deltas quantize to
    DECIMAL(38,6) so both prefix aggregates are order-exact."""
    w = (
        Window.partitionBy(*key_cols)
        .orderBy(*order_cols)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    d = F.round(F.col(delta_col), 6).cast("decimal(38,6)")
    staged = df.select(
        *key_cols,
        *order_cols,
        F.col(delta_col).alias("delta"),
        F.sum(d).over(w).alias("__s"),
    )
    # second window over the SAME (key, order) sort: Spark reuses the
    # one exchange+sort — still a single-shuffle plan (pinned)
    run_min = F.min(F.col("__s")).over(w)
    clamped = F.col("__s") - F.least(
        F.lit(0).cast("decimal(38,6)"), run_min
    )
    return staged.select(
        *key_cols,
        *order_cols,
        "delta",
        F.round(F.col("__s").cast("double"), 6).alias("raw_balance"),
        F.round(clamped.cast("double"), 6).alias("balance"),
    )


def conversion_time_stats(
    events: DataFrame,
    key_col: str,
    ts_col: str,
    type_col: str,
    start_type: str,
    end_type: str,
    group_expr: Column | None = None,
    group_name: str = "cohort",
) -> DataFrame:
    """Time-to-convert: per key, the FIRST ``start_type`` event and
    the first ``end_type`` AFTER it; converted keys roll up to
    p50/p90 duration percentiles and a conversion rate per group
    (product analytics' headline funnel metric). Two conditional
    min-aggregates per key — no window, no self-join — then one
    bounded-cardinality percentile agg; durations are exact integer
    seconds (NTZ-safe)."""
    sec = F.expr(
        f"timestampdiff(SECOND, TIMESTAMP_NTZ '1970-01-01 00:00:00', "
        f"{ts_col})"
    )
    per = events.groupBy(F.col(key_col).alias("key")).agg(
        F.min(F.when(F.col(type_col) == start_type, sec)).alias("__s")
    )
    ends = events.select(
        F.col(key_col).alias("key"),
        F.when(F.col(type_col) == end_type, sec).alias("__e"),
    )
    j = per.join(ends, "key").groupBy("key").agg(
        F.max("__s").alias("started"),
        F.min(
            F.when(F.col("__e") >= F.col("__s"), F.col("__e"))
        ).alias("converted"),
    )
    started = j.where(F.col("started").isNotNull())
    dur = (F.col("converted") - F.col("started")).cast("double")
    grp = (
        group_expr
        if group_expr is not None
        else F.lit("all")
    ).alias(group_name)
    from trollflow2_spark.extensions.profile import exact_quantiles

    base = started.select(grp, dur.alias("__d")).localCheckpoint()
    # conversion-time p50/p90 via GK-bracket exact selection — same
    # interpolation (and 6dp rounding) as percentile, without one
    # buffer per group; the funnel counters ride the same
    # group-cardinality stats pass (r15: no second agg + join, and
    # exact_quantiles skips nulls itself, so unconverted rows stay
    # in the scan for n_started)
    eq = exact_quantiles(
        base,
        [group_name],
        "__d",
        [0.5, 0.9],
        extra_aggs={
            "n_started": F.count(F.lit(1)),
            "n_converted": F.count("__d"),
            "conversion_rate": F.round(
                F.count("__d").cast("double") / F.count(F.lit(1)), 6
            ),
        },
    )
    return eq.groupBy(group_name).agg(
        F.first("n_started").alias("n_started"),
        F.first("n_converted").alias("n_converted"),
        F.first("conversion_rate").alias("conversion_rate"),
        F.max(F.when(F.col("p") == 0.5, F.col("q"))).alias(
            "p50_seconds"
        ),
        F.max(F.when(F.col("p") == 0.9, F.col("q"))).alias(
            "p90_seconds"
        ),
    ).select(
        group_name,
        "n_started",
        "n_converted",
        "conversion_rate",
        "p50_seconds",
        "p90_seconds",
    )
