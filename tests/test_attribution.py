"""Semantics tests for touch_attribution (range-window lookback)."""

import datetime

from pyspark.sql import Row

from trollflow2_spark.extensions.windows import touch_attribution


def _t(m):
    return datetime.datetime(2026, 1, 10, 12, m)


def _attr(spark, events, lookback_s=3600):
    rows = [
        Row(u=u, ts=_t(m), et=et, eid=i)
        for i, (u, m, et) in enumerate(events)
    ]
    out = touch_attribution(
        spark.createDataFrame(rows), "u", "ts", "et", "eid",
        "purchase", lookback_s,
    )
    return {r.conv_id: r for r in out.collect()}


def test_first_last_and_count(spark):
    got = _attr(
        spark,
        [
            (1, 0, "view"),
            (1, 5, "click"),
            (1, 9, "signup"),
            (1, 30, "purchase"),
        ],
    )
    (r,) = got.values()
    assert r.n_touches == 3
    assert r.first_touch == "view" and r.last_touch == "signup"


def test_lookback_excludes_old_touches(spark):
    got = _attr(
        spark,
        [(1, 0, "view"), (1, 50, "click"), (1, 55, "purchase")],
        lookback_s=300,  # 5 min: the minute-0 view is out of window
    )
    (r,) = got.values()
    assert r.n_touches == 1
    assert r.first_touch == r.last_touch == "click"


def test_conversion_not_its_own_touch(spark):
    got = _attr(
        spark,
        [(1, 0, "purchase"), (1, 10, "purchase")],
    )
    assert all(r.n_touches == 0 for r in got.values())
    assert all(r.first_touch is None for r in got.values())


def test_prior_purchase_excluded_same_instant_boundary(spark):
    # a touch at the conversion's own second is OUTSIDE [-L, -1]
    got = _attr(spark, [(1, 30, "click"), (1, 30, "purchase")])
    (r,) = got.values()
    assert r.n_touches == 0


def test_users_independent(spark):
    got = _attr(
        spark,
        [(1, 0, "view"), (2, 5, "purchase"), (1, 10, "purchase")],
    )
    by_user = {r.user: r for r in got.values()}
    assert by_user[2].n_touches == 0
    assert by_user[1].n_touches == 1 and by_user[1].last_touch == "view"
