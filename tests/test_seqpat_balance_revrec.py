"""Semantics tests for sequential patterns, clamped balances and
cent-exact revenue recognition."""

import datetime

from pyspark.sql import Row, functions as F

from trollflow2_spark.extensions.mining import sequential_pattern_support
from trollflow2_spark.extensions.windows import clamped_running_balance


def _t(m):
    return datetime.datetime(2026, 2, 1, 10, m)


def _pat(spark, events, min_support=1):
    rows = [
        Row(u=u, ts=_t(m), eid=i, et=et)
        for i, (u, m, et) in enumerate(events)
    ]
    out = sequential_pattern_support(
        spark.createDataFrame(rows), "u", "et", ["ts", "eid"],
        min_support=min_support,
    )
    return {(r.antecedent, r.consequent): r for r in out.collect()}


def test_seqpat_order_matters(spark):
    got = _pat(spark, [(1, 0, "a"), (1, 5, "b")])
    assert ("a", "b") in got and ("b", "a") not in got
    assert got[("a", "b")].support == 1
    assert got[("a", "b")].support_frac == 1.0


def test_seqpat_non_adjacent_counts(spark):
    # a ... x ... b still supports a->b (markov would miss it)
    got = _pat(spark, [(1, 0, "a"), (1, 3, "x"), (1, 9, "b")])
    assert got[("a", "b")].support == 1


def test_seqpat_existence_not_frequency(spark):
    # many a-b occurrences in one user still count once
    got = _pat(
        spark, [(1, 0, "a"), (1, 1, "b"), (1, 2, "a"), (1, 3, "b")]
    )
    assert got[("a", "b")].support == 1
    # and b->a holds too here (b at 1 precedes a at 2)
    assert got[("b", "a")].support == 1


def test_seqpat_support_across_users(spark):
    evs = [(1, 0, "a"), (1, 5, "b"), (2, 0, "a"), (2, 5, "b"),
           (3, 0, "b"), (3, 5, "a")]
    got = _pat(spark, evs, min_support=2)
    assert got[("a", "b")].support == 2
    assert ("b", "a") not in got  # support 1 < floor


def _bal(spark, deltas):
    rows = [
        Row(k="s", ts=_t(i), eid=i, d=float(x))
        for i, x in enumerate(deltas)
    ]
    out = clamped_running_balance(
        spark.createDataFrame(rows), ["k"], ["ts", "eid"], "d"
    )
    return [r.balance for r in sorted(out.collect(), key=lambda r: r.eid)]


def test_balance_never_negative_and_forgives_deficit(spark):
    assert _bal(spark, [5, -10, 3]) == [5.0, 0.0, 3.0]


def test_balance_plain_cumsum_when_positive(spark):
    assert _bal(spark, [2, 3, 4]) == [2.0, 5.0, 9.0]


def test_balance_multiple_clamps(spark):
    assert _bal(spark, [-3, 4, -10, 2]) == [0.0, 4.0, 0.0, 2.0]


def test_revenue_recognition_sums_exactly(spark, sf_dir):
    from trollflow2_spark.queries import q_revenue_recognition
    from trollflow2_spark.tables import load_table

    out = q_revenue_recognition(spark, sf_dir)
    spread = out.groupBy("o_orderkey").agg(
        F.sum("amount_cents").alias("sum_cents"),
        F.max("amount_cents").alias("mx"),
        F.min("amount_cents").alias("mn"),
    )
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.round(F.col("o_totalprice") * 100, 0)
        .cast("long")
        .alias("total_cents"),
    )
    j = spread.join(orders, "o_orderkey")
    bad = j.where(F.col("sum_cents") != F.col("total_cents")).count()
    assert bad == 0  # every schedule sums to its invoice, to the cent
    lumpy = j.where(F.col("mx") - F.col("mn") > 1).count()
    assert lumpy == 0  # largest-remainder: shares differ by at most 1
