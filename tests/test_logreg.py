"""Distributed logistic-regression training: the Spark GD loop must
(a) learn — perfectly separate a linearly separable synthetic corpus
and beat the base rate on the real documents label — and (b) equal a
pure-Python replay of the same quantized recurrence weight-for-weight
(the determinism contract the SQL oracle also checks)."""

import math

import pytest
from pyspark.sql import functions as F

from trollflow2_spark.extensions.classify import logreg_train_score
from trollflow2_spark.extensions.hashing import hash64


def _python_reference(rows, dim, iters, lr):
    """The same quantized full-batch GD recurrence, sequentially."""
    ws = [0.0] * (dim + 1)
    n = len(rows)
    for _ in range(iters):
        g = [0] * (dim + 1)
        for y, x in rows:
            z = ws[0] + sum(x[j] * ws[j + 1] for j in range(dim))
            try:
                p = round(1.0 / (1.0 + math.exp(-z)), 6)
            except OverflowError:
                p = 0.0 if z < 0 else 1.0
            e = y - p
            g[0] += round(e * 1e6)
            for j in range(dim):
                g[j + 1] += round(e * x[j] * 1e6)
        for k in range(dim + 1):
            ws[k] = round(ws[k] + lr * g[k] / n / 1e6, 6)
    return ws


def test_separable_corpus_learns(spark):
    # two disjoint vocabularies -> hashed buckets disjoint -> linearly
    # separable; the trained model must classify every doc correctly
    pos_words = "alpha beta gamma delta"
    neg_words = "omega sigma kappa lambda"
    rows = []
    for i in range(60):
        rows.append((i, 1, (pos_words + " ") * (3 + i % 4)))
        rows.append((100 + i, 0, (neg_words + " ") * (3 + i % 4)))
    df = spark.createDataFrame(rows, ["doc_id", "y", "text"])
    out = logreg_train_score(df, dim=8, iters=12, lr=0.0005, seed=29)
    res = out.collect()
    assert len(res) == 120
    acc = sum(r["correct"] for r in res) / len(res)
    assert acc == 1.0
    # scores must be rounded to 6 decimals and inside (0, 1)
    for r in res:
        assert 0.0 <= r["score"] <= 1.0
        assert r["score"] == round(r["score"], 6)


def test_matches_python_recurrence(spark):
    # replicate the exact feature construction driver-side, run the
    # quantized recurrence sequentially, and require the distributed
    # scores to match the reference model's scores exactly
    dim, iters, lr, seed = 4, 5, 0.0008, 29
    texts = [
        (0, 1, "red green blue red red"),
        (1, 0, "dog cat fish bird dog cat"),
        (2, 1, "red blue blue"),
        (3, 0, "cat bird fish fish fish"),
        (4, 1, "green green red blue"),
        (5, 0, "dog dog bird"),
    ]
    df = spark.createDataFrame(texts, ["doc_id", "y", "text"])
    out = {
        r["doc_id"]: r
        for r in logreg_train_score(
            df, dim=dim, iters=iters, lr=lr, seed=seed
        ).collect()
    }

    # driver-side feature replay via the same portable hash Column
    bdf = spark.createDataFrame(
        sorted({w for _, _, t in texts for w in t.split()}, key=str),
        "string",
    ).toDF("tok")
    bmap = {
        r["tok"]: r["b"]
        for r in bdf.select(
            "tok", F.pmod(hash64(F.col("tok"), seed=seed), F.lit(dim)).alias("b")
        ).collect()
    }
    rows = []
    for _, y, t in texts:
        toks = t.split()
        cnt = [0] * dim
        for w in toks:
            cnt[bmap[w]] += 1
        x = [round(c * 1000.0 / len(toks)) for c in cnt]
        rows.append((y, x))
    ws = _python_reference(rows, dim, iters, lr)
    for (doc_id, y, _), (yy, x) in zip(texts, rows):
        z = ws[0] + sum(x[j] * ws[j + 1] for j in range(dim))
        p = round(1.0 / (1.0 + math.exp(-z)), 6)
        assert out[doc_id]["score"] == pytest.approx(p, abs=1e-9)
        assert out[doc_id]["y"] == y


def test_binary_metrics_exact_auc(spark):
    """AUC with ties matches the closed-form average-rank value;
    perfect and inverted classifiers hit 1.0 / 0.0; single-class
    groups return NULL auc; confusion counts add up."""
    from trollflow2_spark.extensions.classify import binary_metrics

    # scores: pos at {0.8, 0.8, 0.6}, neg at {0.8, 0.4}
    # ranks (asc): 0.4->1, 0.6->2, 0.8->avg(3,4,5)=4
    # U = (4+4+2) - 3*4/2 = 4 ; AUC = 4 / (3*2) = 0.666667
    rows = [
        ("m", 0.8, 1), ("m", 0.8, 1), ("m", 0.6, 1),
        ("m", 0.8, 0), ("m", 0.4, 0),
        ("p", 0.9, 1), ("p", 0.1, 0),          # perfect
        ("q", 0.1, 1), ("q", 0.9, 0),          # inverted
        ("z", 0.5, 1), ("z", 0.6, 1),          # single class
    ]
    df = spark.createDataFrame(rows, ["g", "score", "label"])
    got = {r["g"]: r for r in binary_metrics(
        df, "score", "label", group_cols=["g"], threshold=0.5
    ).collect()}
    assert got["m"]["auc"] == 0.666667
    assert (got["m"]["tp"], got["m"]["fp"], got["m"]["tn"],
            got["m"]["fn"]) == (3, 1, 1, 0)
    assert got["p"]["auc"] == 1.0
    assert got["q"]["auc"] == 0.0
    assert got["z"]["auc"] is None
    assert got["m"]["recall"] == 1.0
    assert got["m"]["precision"] == 0.75


def test_calibration_bins_semantics(spark):
    """A perfectly calibrated bucket scores ece contribution 0; a
    confident-but-wrong bucket dominates ECE; top bin caps at
    n_bins-1."""
    from trollflow2_spark.extensions.classify import calibration_bins

    rows = (
        # bin 5: pred mean 0.5, observed 0.5 -> calibrated
        [("g", 0.5, 1), ("g", 0.5, 0)]
        # bin 9 (score 1.0 capped): pred 1.0, observed 0.0 -> off by 1
        + [("g", 1.0, 0), ("g", 1.0, 0)]
    )
    df = spark.createDataFrame(rows, ["g", "score", "label"])
    got = {r["bin"]: r for r in calibration_bins(
        df, "score", "label", n_bins=10, group_cols=["g"]
    ).collect()}
    assert set(got) == {5, 9}
    assert (got[5]["mean_pred"], got[5]["obs_rate"]) == (0.5, 0.5)
    assert (got[9]["mean_pred"], got[9]["obs_rate"]) == (1.0, 0.0)
    # ece = (2*0 + 2*1.0) / 4 = 0.5, attached to every bin row
    assert got[5]["ece"] == 0.5 and got[9]["ece"] == 0.5
