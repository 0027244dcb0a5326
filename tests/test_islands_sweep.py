"""Semantics tests for gaps_islands and peak_concurrency."""

import datetime

from pyspark.sql import Row

from trollflow2_spark.extensions.windows import gaps_islands, peak_concurrency


def _islands(spark, seqs, min_length=1):
    rows = [Row(k=k, s=s) for k, vals in seqs.items() for s in vals]
    out = gaps_islands(
        spark.createDataFrame(rows), ["k"], "s", min_length=min_length
    )
    return {
        k: sorted(
            (r.island_start, r.island_end, r.island_len)
            for r in out.collect()
            if r.k == k
        )
        for k in seqs
    }


def test_islands_basic_runs(spark):
    got = _islands(spark, {"a": [1, 2, 3, 7, 8, 12]})
    assert got["a"] == [(1, 3, 3), (7, 8, 2), (12, 12, 1)]


def test_islands_duplicates_collapse(spark):
    got = _islands(spark, {"a": [5, 5, 6, 6, 6, 7]})
    assert got["a"] == [(5, 7, 3)]


def test_islands_min_length_floor(spark):
    got = _islands(spark, {"a": [1, 2, 4, 9, 10, 11]}, min_length=3)
    assert got["a"] == [(9, 11, 3)]


def test_islands_keys_independent(spark):
    got = _islands(spark, {"a": [1, 2], "b": [2, 3, 4]})
    assert got["a"] == [(1, 2, 2)] and got["b"] == [(2, 4, 3)]


def _t(m):
    return datetime.datetime(2026, 1, 1, 0, m)


def _peaks(spark, intervals):
    rows = [Row(k=k, t0=_t(a), t1=_t(b)) for k, a, b in intervals]
    out = peak_concurrency(spark.createDataFrame(rows), ["k"], "t0", "t1")
    return {r.k: (r.peak, r.peak_at) for r in out.collect()}


def test_peak_overlap_count(spark):
    # [0,10) [5,15) [8,12) -> level 3 starting at minute 8
    got = _peaks(spark, [("a", 0, 10), ("a", 5, 15), ("a", 8, 12)])
    assert got["a"] == (3, _t(8))


def test_peak_touching_intervals_inclusive(spark):
    # starts sort before ends at the same instant: [0,5] and [5,9]
    # overlap AT minute 5 (level 2), then the end decrements
    got = _peaks(spark, [("a", 0, 5), ("a", 5, 9)])
    assert got["a"] == (2, _t(5))


def test_peak_earliest_instant_reported(spark):
    # two disjoint level-2 plateaus; the earlier one wins
    got = _peaks(
        spark,
        [("a", 0, 4), ("a", 1, 5), ("a", 20, 24), ("a", 21, 25)],
    )
    assert got["a"] == (2, _t(1))


def test_peak_keys_independent(spark):
    got = _peaks(spark, [("a", 0, 10), ("b", 0, 5), ("b", 2, 7)])
    assert got["a"][0] == 1 and got["b"][0] == 2
