"""Semantics tests for conversion_time_stats (and the freshness
audit's stale rule, pinned through the query's components)."""

import datetime

from pyspark.sql import Row, functions as F

from trollflow2_spark.extensions.windows import conversion_time_stats


def _t(m):
    return datetime.datetime(2026, 4, 1, 10, m)


def _conv(spark, events):
    rows = [Row(u=u, ts=_t(m), et=et) for u, m, et in events]
    out = conversion_time_stats(
        spark.createDataFrame(rows), "u", "ts", "et",
        "signup", "purchase",
    )
    return out.collect()[0]


def test_first_purchase_after_signup_counts(spark):
    r = _conv(
        spark,
        [
            (1, 0, "signup"), (1, 5, "purchase"), (1, 9, "purchase"),
            (2, 0, "signup"), (2, 3, "purchase"),
        ],
    )
    assert (r.n_started, r.n_converted) == (2, 2)
    assert r.conversion_rate == 1.0
    # durations 300 s and 180 s -> p50 interpolates to 240
    assert r.p50_seconds == 240.0


def test_purchase_before_signup_ignored(spark):
    r = _conv(
        spark,
        [(1, 5, "signup"), (1, 2, "purchase"), (2, 0, "signup")],
    )
    # user 1's only purchase predates signup; user 2 never converts
    assert (r.n_started, r.n_converted) == (2, 0)
    assert r.conversion_rate == 0.0 and r.p50_seconds is None


def test_never_signed_up_excluded(spark):
    r = _conv(spark, [(1, 0, "purchase"), (2, 1, "signup")])
    assert r.n_started == 1  # user 1 never started


def test_same_instant_conversion_counts(spark):
    r = _conv(spark, [(1, 4, "signup"), (1, 4, "purchase")])
    assert r.n_converted == 1 and r.p50_seconds == 0.0
