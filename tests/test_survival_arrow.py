"""Batch-5 tests: Kaplan-Meier survival, weighted median, CUSUM
report, Arrow IPC intake."""

import pytest
from pyspark.sql import Row, functions as F

from trollflow2_spark.extensions.profile import (
    cusum_report,
    survival_curve,
    weighted_median,
)
from trollflow2_spark.extensions.arrowipc import read_arrow_ipc, write_ipc_blob


def test_km_known_curve(spark):
    # t=1: event among 4 at risk -> 3/4; t=2: censored (no step);
    # t=3: 1 event among 2 at risk -> 3/4 * 1/2 = 0.375
    subj = spark.createDataFrame(
        [
            Row(g=1, duration=1, event=1),
            Row(g=1, duration=2, event=0),
            Row(g=1, duration=3, event=1),
            Row(g=1, duration=3, event=0),
        ]
    )
    out = {r.t: r for r in survival_curve(subj, ["g"]).collect()}
    assert out[1].at_risk == 4 and out[1].survival == 0.75
    assert out[2].survival == 0.75  # censoring doesn't step the curve
    assert out[3].at_risk == 2 and out[3].events == 1
    assert out[3].survival == pytest.approx(0.375)


def test_km_full_death_pins_zero(spark):
    subj = spark.createDataFrame(
        [Row(g=1, duration=1, event=1), Row(g=1, duration=1, event=1)]
    )
    out = survival_curve(subj, ["g"]).collect()
    assert out[0].survival == 0.0


def test_weighted_median_vs_plain(spark):
    # values 1..4; weight 10 on value 4 dominates
    rows = [Row(g="a", v=float(i), w=1, i1=i) for i in (1, 2, 3)]
    rows.append(Row(g="a", v=4.0, w=10, i1=4))
    out = weighted_median(
        spark.createDataFrame(rows), ["g"], "v", "w", ["i1"]
    ).collect()
    assert out[0].weighted_median == 4.0
    assert out[0].total_weight == 13


def test_weighted_median_even_crossing(spark):
    # W=4: crossing at 2*cw >= 4 -> first value with cw >= 2 -> v=2
    rows = [Row(g="a", v=float(i), w=1, i1=i) for i in (1, 2, 3, 4)]
    out = weighted_median(
        spark.createDataFrame(rows), ["g"], "v", "w", ["i1"]
    ).collect()
    assert out[0].weighted_median == 2.0


def test_cusum_peak_at_shift(spark):
    # mean 5 for t<50 then mean 15: cusum is most negative right
    # before the shift -> peak excursion at t=49
    rows = [
        Row(g="x", ts=t, eid=t, v=5.0 if t < 50 else 15.0)
        for t in range(100)
    ]
    out = cusum_report(
        spark.createDataFrame(rows), ["g"], ["ts", "eid"], "v"
    ).collect()
    (r,) = out
    assert r.peak_ts == 49 and r.n == 100
    assert r.peak_cusum == pytest.approx(-250.0)  # 50 * (5 - 10)


def test_arrow_ipc_roundtrip_and_quarantine(spark):
    blob = write_ipc_blob(
        {"id": [1, 2, 3], "name": ["a", "b", "c"]}, batch_rows=2
    )
    df = spark.createDataFrame(
        [Row(doc_id=1, blob=bytearray(blob)),
         Row(doc_id=2, blob=bytearray(blob[:10]))]
    )
    out = read_arrow_ipc(df).collect()
    good = sorted(
        (r for r in out if r.doc_id == 1), key=lambda r: r.row_idx
    )
    assert len(good) == 3  # multi-batch concat preserves all rows
    assert good[0].json == '{"id":1,"name":"a"}'
    assert good[2].json == '{"id":3,"name":"c"}'
    bad = [r for r in out if r.doc_id == 2]
    assert len(bad) == 1 and bad[0].error is not None
    assert bad[0].row_idx is None and bad[0].json is None
