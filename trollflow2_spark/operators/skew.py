"""Skew mitigation: salted two-stage aggregation.

AQE's skew-join splitting handles joins; for *aggregations* over skewed
keys (a boilerplate-dup content hash owning 1% of a 100 TB corpus, a
power user owning half a session log), a single groupBy sends the whole
hot key to one task. The standard fix is salting: aggregate on
``(key, salt)`` first (spreads the hot key over ``n_salts`` tasks), then
re-aggregate on ``key``. Both stages keep map-side partial aggregation,
so total shuffled rows grow only by the salt fanout on unique keys.

Used when a dedup/count pipeline knows its key distribution is heavy-
tailed; the cost (a second tiny shuffle) is the insurance premium.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import Column, DataFrame, functions as F


# Aggregates that re-combine with themselves across salt partitions.
_MERGE = {
    "count": F.sum,  # counts add up
    "sum": F.sum,
    "min": F.min,
    "max": F.max,
}


def salted_agg(
    df: DataFrame,
    keys: Sequence[str],
    aggs: dict[str, tuple[str, str]],
    n_salts: int = 16,
    salt_col: str | None = None,
) -> DataFrame:
    """Two-stage aggregation over possibly-skewed ``keys``.

    ``aggs``: output name -> (agg fn in {count,sum,min,max}, column).
    Example::

        salted_agg(docs.select(F.md5("text").alias("h"), "doc_id"),
                   ["h"],
                   {"n_copies": ("count", "doc_id"),
                    "canonical_id": ("min", "doc_id")},
                   salt_col="doc_id")

    Stage 1 groups by (keys..., salt); stage 2 merges partials per key.
    When the caller names a ``salt_col`` (any column whose values spread
    the hot key — typically a row id), the salt is
    ``pmod(xxhash64(salt_col), n_salts)``: a pure function of row data,
    so a task retry or different input partitioning re-salts every row
    identically and stage-1 partials are reproducible. Without one we
    fall back to ``pmod(monotonically_increasing_id, n_salts)``, which
    spreads rows evenly but is partitioning-dependent (still correct —
    the aggregates are decomposable — just not replay-stable). Only
    decomposable aggregates are supported — avg must be expressed as
    sum+count by the caller (exactly how Spark's own partial
    aggregation does it).
    """
    for name, (fn, _col) in aggs.items():
        if fn not in _MERGE:
            raise ValueError(
                f"{name}: {fn!r} is not decomposable; use sum+count instead"
            )
    if salt_col is not None:
        salt = F.pmod(F.xxhash64(F.col(salt_col)), F.lit(int(n_salts)))
    else:
        salt = F.pmod(F.monotonically_increasing_id(), F.lit(int(n_salts)))
    salted = df.withColumn("__salt", salt)
    stage1 = salted.groupBy(*keys, "__salt").agg(
        *[
            getattr(F, fn)(F.col(col)).alias(f"__p_{name}")
            for name, (fn, col) in aggs.items()
        ]
    )
    stage2 = stage1.groupBy(*keys).agg(
        *[
            _MERGE[fn](F.col(f"__p_{name}")).alias(name)
            for name, (fn, col) in aggs.items()
        ]
    )
    return stage2


def sequence_fingerprint(
    df: DataFrame,
    key_col: str,
    order_col: str,
    value_col: str,
    bucket_width: int | None = None,
    sep: str = "|",
) -> DataFrame:
    """Per-key fingerprint of the ordered value sequence:
    ``md5(value_1 | value_2 | ...)`` in ``order_col`` order, plus the
    event count — the session-replay / funnel-sequence shape where skew
    actually hurts Spark: ``collect_list`` has no map-side reduction, so
    a hot key ships ALL its rows to one reduce task and sorts one giant
    array there (unlike count/min/max, whose partial aggregation makes
    plain groupBy skew-immune).

    ``bucket_width=None`` is that plain single-stage shape (the oracle
    twin). With a ``bucket_width``, the salted two-stage *digest-chain*
    form: stage 1 hashes each contiguous ``order_col`` range per
    (key, bucket) down to a 32-char md5 — spreading a hot key over
    ``range/width`` tasks — and stage 2 hashes the concatenation of the
    bucket digests in bucket order (= global order; buckets are
    contiguous ranges). Stage 2's payload per key is O(n_buckets x 32)
    bytes, NOT the key's full byte volume: at 100 TB the hot key's
    reduce task carries kilobytes of digests instead of its entire
    payload, so neither stage re-concentrates the data. The chained
    hash ``md5(d_1 | d_2 | ...)`` is a different (equally
    deterministic) fingerprint from the plain form's
    ``md5(v_1 | v_2 | ...)``; a SQL oracle replays it exactly as
    md5-of-md5s.
    """
    k, o, v = F.col(key_col), F.col(order_col), F.col(value_col)
    if bucket_width is None:
        seq = F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct(o.alias("o"), v.alias("v")))),
                lambda x: x["v"],
            ),
            sep,
        )
        return df.groupBy(k.alias(key_col)).agg(
            F.md5(seq).alias("seq_hash"),
            F.count(F.lit(1)).alias("n_events"),
        )
    bucket = F.floor(o / F.lit(int(bucket_width))).cast("bigint")
    part = F.array_join(
        F.transform(
            F.array_sort(F.collect_list(F.struct(o.alias("o"), v.alias("v")))),
            lambda x: x["v"],
        ),
        sep,
    )
    stage1 = df.groupBy(k.alias(key_col), bucket.alias("__bucket")).agg(
        F.md5(part).alias("__digest"), F.count(F.lit(1)).alias("__n")
    )
    merged = F.array_join(
        F.transform(
            F.array_sort(
                F.collect_list(
                    F.struct(
                        F.col("__bucket").alias("b"), F.col("__digest").alias("d")
                    )
                )
            ),
            lambda x: x["d"],
        ),
        sep,
    )
    return stage1.groupBy(key_col).agg(
        F.md5(merged).alias("seq_hash"),
        F.sum("__n").alias("n_events"),
    )
