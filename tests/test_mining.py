"""Semantics tests for the analytics-mining tier (round 12):
association rules, triangle counting, pareto frontier, Bradley-Terry,
Benford / l-diversity audits, bounded-lag EWMA."""

import math

import pytest
from pyspark.sql import Row, functions as F

from trollflow2_spark.extensions.mining import (
    assoc_rules,
    bradley_terry_strengths,
    pareto_frontier,
    triangle_count,
)
from trollflow2_spark.extensions.profile import (
    benford_audit,
    l_diversity_audit,
)
from trollflow2_spark.extensions.windows import ewma_bounded


def test_assoc_rules_counts_and_prune(spark):
    # baskets: x,y together 3x; z appears once (below minsup) and must
    # be pruned before pairing; duplicate (basket,item) rows collapse
    rows = []
    for b in range(3):
        rows += [Row(basket_id=b, item="x"), Row(basket_id=b, item="y")]
    rows.append(Row(basket_id=0, item="x"))  # dup row, ignored
    rows.append(Row(basket_id=1, item="z"))
    out = assoc_rules(
        spark.createDataFrame(rows), min_support_count=2
    ).collect()
    assert len(out) == 1
    r = out[0]
    assert (r.item_a, r.item_b) == ("x", "y")
    assert r.pair_count == 3 and r.count_a == 3 and r.count_b == 3
    assert r.support == 1.0
    assert r.conf_a_b == 1.0 and r.conf_b_a == 1.0
    assert r.lift == 1.0


def test_assoc_rules_lift_direction(spark):
    # x in 4 baskets, y in 2, together 2 -> conf asymmetry, lift = 2
    rows = [Row(basket_id=b, item="x") for b in range(4)]
    rows += [Row(basket_id=b, item="y") for b in range(2)]
    out = assoc_rules(
        spark.createDataFrame(rows), min_support_count=2
    ).collect()
    (r,) = out
    assert r.conf_a_b == 0.5  # p(y|x)
    assert r.conf_b_a == 1.0  # p(x|y)
    assert r.lift == 1.0  # 4 baskets: 4*2/(4*2)


def test_triangle_count_known_graph(spark):
    # K4 minus edge (2,3): triangles (0,1,2) and (0,1,3)
    edges = spark.createDataFrame(
        [
            Row(id_a=0, id_b=1),
            Row(id_a=0, id_b=2),
            Row(id_a=0, id_b=3),
            Row(id_a=1, id_b=2),
            Row(id_a=3, id_b=1),  # reversed direction folds in
            Row(id_a=1, id_b=1),  # self loop dropped
            Row(id_a=1, id_b=0),  # duplicate folds in
        ]
    )
    out = {r.node: r for r in triangle_count(edges).collect()}
    assert out[0].triangles == 2 and out[1].triangles == 2
    assert out[2].triangles == 1 and out[3].triangles == 1
    assert out[0].degree == 3 and out[2].degree == 2
    # node 2: degree 2, 1 triangle -> cc = 1.0
    assert out[2].local_cc == 1.0
    # node 0: degree 3, 2 triangles -> 2*2/(3*2) = 0.666667
    assert abs(out[0].local_cc - 2 / 3) < 1e-5


def test_triangle_count_no_triangles(spark):
    edges = spark.createDataFrame(
        [Row(id_a=0, id_b=1), Row(id_a=1, id_b=2)]
    )
    out = {r.node: r for r in triangle_count(edges).collect()}
    assert all(r.triangles == 0 for r in out.values())
    assert out[1].local_cc == 0.0


def test_pareto_frontier_dominance(spark):
    df = spark.createDataFrame(
        [
            Row(k=1, cost=1.0, gain=5),
            Row(k=2, cost=2.0, gain=7),
            Row(k=3, cost=2.0, gain=6),  # dominated: same cost, less gain
            Row(k=4, cost=3.0, gain=7),  # dominated: dearer, same gain
            Row(k=5, cost=4.0, gain=9),
            Row(k=6, cost=5.0, gain=1),  # dominated
        ]
    )
    keep = sorted(
        r.k for r in pareto_frontier(df, "cost", "gain").collect()
    )
    assert keep == [1, 2, 5]


def test_pareto_frontier_duplicate_points_both_kept(spark):
    df = spark.createDataFrame(
        [Row(k=1, cost=1.0, gain=5), Row(k=2, cost=1.0, gain=5)]
    )
    keep = sorted(
        r.k for r in pareto_frontier(df, "cost", "gain").collect()
    )
    assert keep == [1, 2]  # identical points don't dominate each other


def test_bradley_terry_ordering_and_normalization(spark):
    # a beats b 9:1, b beats c 9:1, a beats c 9:1 -> s_a > s_b > s_c
    m = spark.createDataFrame(
        [
            Row(player_a="a", player_b="b", wins_a=9, wins_b=1),
            Row(player_a="b", player_b="c", wins_a=9, wins_b=1),
            Row(player_a="a", player_b="c", wins_a=9, wins_b=1),
        ]
    )
    out = {r.player: r for r in bradley_terry_strengths(m, iters=4).collect()}
    assert out["a"].strength > out["b"].strength > out["c"].strength
    assert abs(sum(r.strength for r in out.values()) - 3.0) < 1e-4
    assert out["a"].wins == 18 and out["c"].wins == 2


def test_bradley_terry_symmetric_is_uniform(spark):
    m = spark.createDataFrame(
        [
            Row(player_a="a", player_b="b", wins_a=5, wins_b=5),
            Row(player_a="b", player_b="c", wins_a=5, wins_b=5),
            Row(player_a="a", player_b="c", wins_a=5, wins_b=5),
        ]
    )
    out = bradley_terry_strengths(m, iters=3).collect()
    for r in out:
        assert abs(r.strength - 1.0) < 1e-6


def test_benford_conforming_vs_constant(spark):
    # conforming group: first digits drawn to match Benford shares of
    # n=1000; rigged group: every value starts with digit 9
    rows = []
    shares = [301, 176, 125, 97, 79, 67, 58, 51, 46]
    for d, cnt in enumerate(shares, start=1):
        rows += [Row(g="ok", v=float(d)) for _ in range(cnt)]
    rows += [Row(g="bad", v=9000.0) for _ in range(1000)]
    out = {
        r.g: r
        for r in benford_audit(
            spark.createDataFrame(rows), "v", ["g"]
        ).collect()
    }
    assert out["ok"].chi2 < 1.0
    assert out["bad"].chi2 > 10000.0
    assert out["bad"].top_digit_share == 1.0
    assert out["ok"].n == 1000


def test_benford_zero_values_excluded(spark):
    rows = [Row(g="a", v=0.0), Row(g="a", v=0.001), Row(g="a", v=12.0)]
    out = benford_audit(spark.createDataFrame(rows), "v", ["g"]).collect()
    # 0.0 and sub-cent values drop; only 12.0 counts
    assert out[0].n == 1


def test_l_diversity_flags_homogeneous_group(spark):
    rows = [Row(seg="A", s=1) for _ in range(6)]
    rows += [Row(seg="B", s=i % 3) for i in range(6)]
    rows += [Row(seg="C", s=i % 3) for i in range(3)]
    out = {
        r.seg: r
        for r in l_diversity_audit(
            spark.createDataFrame(rows), ["seg"], "s", k=5, l_min=3
        ).collect()
    }
    assert out["A"].k_ok == 1 and out["A"].l_ok == 0  # homogeneous
    assert out["A"].l_distinct == 1 and out["A"].max_sensitive_count == 6
    assert out["B"].k_ok == 1 and out["B"].l_ok == 1
    assert out["C"].k_ok == 0 and out["C"].l_ok == 1  # too small


def test_ewma_constant_series(spark):
    rows = [Row(k=1, t=i, v=5.0) for i in range(20)]
    out = ewma_bounded(
        spark.createDataFrame(rows), ["k"], ["t"], "v", alpha=0.3, lags=8
    ).collect()
    for r in out:
        assert r.ewma == 5.0


def test_ewma_first_row_and_second_row(spark):
    rows = [Row(k=1, t=0, v=10.0), Row(k=1, t=1, v=0.0)]
    out = {
        r.t: r
        for r in ewma_bounded(
            spark.createDataFrame(rows), ["k"], ["t"], "v",
            alpha=0.3, lags=8,
        ).collect()
    }
    assert out[0].ewma == 10.0  # no history: renormalized to the value
    # second row: (1.0*0 + 0.7*10) / (1.0 + 0.7)
    assert abs(out[1].ewma - 7.0 / 1.7) < 1e-6


def test_ewma_keys_isolated(spark):
    rows = [Row(k=1, t=0, v=100.0), Row(k=2, t=1, v=1.0)]
    out = {
        r.k: r
        for r in ewma_bounded(
            spark.createDataFrame(rows), ["k"], ["t"], "v",
            alpha=0.3, lags=8,
        ).collect()
    }
    assert out[2].ewma == 1.0  # key 2 sees none of key 1's history


def test_k_core_peels_tail(spark):
    # triangle 0-1-2 all deg>=2 after peeling; chain 2-3-4 peels away
    from trollflow2_spark.extensions.mining import k_core

    edges = spark.createDataFrame(
        [
            Row(id_a=0, id_b=1),
            Row(id_a=1, id_b=2),
            Row(id_a=2, id_b=0),
            Row(id_a=2, id_b=3),
            Row(id_a=3, id_b=4),
        ]
    )
    out = sorted(
        (r.node, r.core_degree)
        for r in k_core(edges, k=2, rounds=3).collect()
    )
    assert out == [(0, 2), (1, 2), (2, 2)]


def test_k_core_fixture_converges(spark, sf_dir):
    """The contract query's 4 rounds are a fixed point: a 5th round
    changes nothing (peeling is monotone, so equality == converged)."""
    from trollflow2_spark.extensions.mining import k_core
    from pyspark.sql import functions as F

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id")
    d = F.col("doc_id")
    edges = docs.select(
        (d % 40).alias("id_a"), ((d * 7 + 11) % 40).alias("id_b")
    ).unionByName(
        docs.select((d % 40).alias("id_a"), ((d * 3 + 5) % 40).alias("id_b"))
    )
    r4 = sorted(map(tuple, k_core(edges, k=3, rounds=4).collect()))
    r5 = sorted(map(tuple, k_core(edges, k=3, rounds=5).collect()))
    assert r4 == r5 and len(r4) > 0


def test_markov_transitions_known_sequence(spark):
    from trollflow2_spark.extensions.mining import markov_transitions

    rows = []
    seq = ["a", "a", "b", "a", "b"]  # transitions: aa, ab, ba, ab
    for i, s in enumerate(seq):
        rows.append(Row(user_id=1, ts=i, event_id=i, event_type=s))
    rows.append(Row(user_id=2, ts=0, event_id=10, event_type="c"))  # no pair
    out = {
        (r.from_state, r.to_state): r
        for r in markov_transitions(spark.createDataFrame(rows)).collect()
    }
    assert out[("a", "a")].n == 1 and out[("a", "b")].n == 2
    assert out[("b", "a")].n == 1
    assert out[("a", "b")].prob == pytest.approx(2 / 3)
    assert out[("a", "a")].self_loop == 1
    assert ("c", None) not in out and (None, "c") not in out


def test_t_closeness_uniform_vs_skewed(spark):
    from trollflow2_spark.extensions.profile import t_closeness_audit

    rows = []
    # group U mirrors the global distribution exactly -> emd 0
    for s in range(4):
        rows += [Row(g="U", s=s) for _ in range(5)]
        rows += [Row(g="V", s=s) for _ in range(5)]
    # group W crowds the top band -> large emd
    rows += [Row(g="W", s=3) for _ in range(20)]
    out = {
        r.g: r
        for r in t_closeness_audit(
            spark.createDataFrame(rows), ["g"], "s", t_permille=200
        ).collect()
    }
    # U and V still match each other but the global includes W's skew
    assert out["U"].emd == out["V"].emd
    assert out["W"].emd > out["U"].emd
    assert out["W"].t_ok == 0
    assert out["U"].m_values == 4 and out["U"].group_k == 20


def test_bitext_mutual_and_margin(spark):
    from trollflow2_spark.extensions.similarity import bitext_mine

    # x0 <-> y1 aligned exactly; x2's best is y1 too, but y1's best is
    # x0, so (x2, y1) is NOT mutual; y3 pairs with x2
    vecs = {
        0: [1.0, 0.0, 0.0],
        1: [1.0, 0.05, 0.0],
        2: [0.7, 0.6, 0.0],
        3: [0.6, 0.7, 0.0],
    }
    df = spark.createDataFrame(
        [Row(vec_id=k, embedding=v) for k, v in vecs.items()]
    )
    x = df.where(F.col("vec_id") % 2 == 0)
    y = df.where(F.col("vec_id") % 2 == 1)
    out = {(r.x_id, r.y_id): r for r in bitext_mine(x, y, k=2).collect()}
    assert set(out) == {(0, 1), (2, 3)}
    assert out[(0, 1)].cosine > 0.99
    # margin > 1: the pair beats each side's neighborhood average
    assert out[(0, 1)].margin > 1.0
