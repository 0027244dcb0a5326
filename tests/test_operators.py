"""Transform / window / resample operator tests on hand-built data
(golden cases from the reference: 2x2 block aggregate of a 10x10 arange
scene, nearest-neighbor with radius misses, top-1 preference)."""

from pyspark.sql import functions as F

from trollflow2_spark.extensions.column_plugins import compose_pattern
from trollflow2_spark.operators.resample import (
    nearest_join_1d,
    weighted_resample_1d,
)
from trollflow2_spark.operators.transforms import block_aggregate
from trollflow2_spark.operators.windows import top1_per_group, topk_per_group


def test_block_aggregate_2x2(spark):
    """10x10 scene with value = y*10 + x, 2x2 blocks -> block mean
    (golden case ≙ reference fake_scene tests/test_trollflow2.py:682-698,
    aggregate test :904-939)."""
    rows = [(y, x, float(y * 10 + x)) for y in range(10) for x in range(10)]
    df = spark.createDataFrame(rows, ["y", "x", "value"])
    out = block_aggregate(df, {"y": 2, "x": 2}, ["value"])
    got = {
        (r["y_block"], r["x_block"]): (r["value_avg"], r["n_rows"])
        for r in out.collect()
    }
    assert len(got) == 25
    # block (0,0): values 0,1,10,11 -> mean 5.5
    assert got[(0, 0)] == (5.5, 4)
    # block (4,4): values 88,89,98,99 -> mean 93.5
    assert got[(4, 4)] == (93.5, 4)


def test_compose_pattern(spark):
    import datetime

    df = spark.createDataFrame(
        [("sat1", datetime.datetime(2022, 2, 2, 11, 22), "eurol", "overview", "tif")],
        ["platform_name", "start_time", "areaname", "productname", "format"],
    )
    pat = "{platform_name}_{start_time:%Y%m%d_%H%M}_{areaname}_{productname}.{format}"
    out = df.select(
        compose_pattern(pat, {"start_time": "timestamp"}).alias("f")
    ).collect()[0]["f"]
    # golden filename from reference tests/utils.py:73-93
    assert out == "sat1_20220202_1122_eurol_overview.tif"


def test_top1_and_topk(spark):
    df = spark.createDataFrame(
        [("p", 500, "a"), ("p", 1000, "b"), ("q", 250, "c")],
        ["product", "resolution", "tag"],
    )
    best = top1_per_group(
        df, ["product"], [F.col("resolution").asc(), F.col("tag")]
    )
    got = {r["product"]: r["tag"] for r in best.collect()}
    assert got == {"p": "a", "q": "c"}  # finest resolution preferred
    k2 = topk_per_group(df, ["product"], [F.col("resolution")], 2)
    assert k2.count() == 3


def test_topk_salted_preserves_caller_sk_column(spark):
    """A caller column literally named '__sk' must survive the salted
    two-stage path (the temp rank column probes for a free name)."""
    df = spark.createDataFrame(
        [("p", i, f"v{i}") for i in range(10)],
        ["grp", "score", "__sk"],
    )
    out = topk_per_group(
        df,
        ["grp"],
        [F.col("score").desc()],
        3,
        salt_col="__sk",
        salt_buckets=4,
    )
    assert "__sk" in out.columns
    got = {(r["score"], r["__sk"]) for r in out.collect()}
    assert got == {(9, "v9"), (8, "v8"), (7, "v7")}


def test_nearest_join_radius_miss(spark):
    """Targets with no source within radius keep NULL neighbors
    (radius_of_influence miss -> fill, plugins/__init__.py:149-156)."""
    target = spark.createDataFrame([(1, 0.0), (2, 100.0)], ["t_id", "pos"])
    source = spark.createDataFrame([(10, 1.5), (11, 3.0)], ["s_id", "spos"])
    out = nearest_join_1d(target, source, "pos", "spos", radius=5.0)
    got = {r["t_id"]: r["src_s_id"] for r in out.collect()}
    assert got == {1: 10, 2: None}
    assert out.count() == 2  # every target exactly once


def test_nearest_join_left_in_cell_but_out_of_range(spark):
    """A target whose probe cells contain ONLY out-of-range sources must
    still be kept with NULL src columns in left mode (the round-1 defect:
    the radius predicate was a post-join filter and dropped it)."""
    target = spark.createDataFrame([(1, 0.0)], ["t_id", "pos"])
    # source at 1.2 * radius: inside the 3-cell probe neighborhood,
    # outside the radius
    source = spark.createDataFrame([(10, 1.2)], ["s_id", "spos"])
    out = nearest_join_1d(target, source, "pos", "spos", radius=1.0).collect()
    assert len(out) == 1
    assert out[0]["src_s_id"] is None


def test_nearest_join_2d_left_miss_and_inner(spark):
    from trollflow2_spark.operators.resample import nearest_join_2d

    target = spark.createDataFrame(
        [(1, 0.0, 0.0), (2, 50.0, 50.0)], ["t_id", "x", "y"]
    )
    source = spark.createDataFrame([(10, 0.5, 0.5), (11, 1.3, 0.0)], ["s_id", "x", "y"])
    left = nearest_join_2d(target, source, radius=1.0, how="left", target_id="t_id")
    got = {r["t_id"]: r["src_s_id"] for r in left.collect()}
    assert got == {1: 10, 2: None}
    inner = nearest_join_2d(target, source, radius=1.0, how="inner", target_id="t_id")
    assert [r["t_id"] for r in inner.collect()] == [1]


def test_nearest_join_duplicate_targets_stay_distinct(spark):
    """Two identical target rows must yield two output rows (round-1
    defect: the window partitioned by every target column and collapsed
    duplicates)."""
    target = spark.createDataFrame([(0.0,), (0.0,)], ["pos"])
    source = spark.createDataFrame([(10, 0.5)], ["s_id", "spos"])
    out = nearest_join_1d(target, source, "pos", "spos", radius=1.0)
    assert out.count() == 2


def test_weighted_resample(spark):
    target = spark.createDataFrame([(1, 10.0)], ["t_id", "pos"])
    source = spark.createDataFrame(
        [(9.0, 100.0), (11.0, 200.0)], ["spos", "sval"]
    )
    out = weighted_resample_1d(target, source, "pos", "spos", "sval", 5.0).collect()
    assert len(out) == 1
    # equidistant -> plain mean
    assert abs(out[0]["sval_resampled"] - 150.0) < 1e-6
    assert out[0]["n_neighbors"] == 2


def test_funnel_stages_strict_order(spark):
    """Steps only count after the previous one: a view BEFORE the first
    click is ignored; ties at one timestamp resolve by type string."""
    from datetime import datetime
    from trollflow2_spark.operators.windows import funnel_stages

    t = lambda s: datetime(2024, 1, 1, 0, 0, s)  # noqa: E731
    rows = [
        # u1: full ordered funnel
        (1, t(1), "click"), (1, t(2), "view"), (1, t(3), "purchase"),
        # u2: view before any click -> that view must not count
        (2, t(1), "view"), (2, t(2), "click"), (2, t(3), "purchase"),
        # u3: click only
        (3, t(5), "click"),
        # u4: purchase first, never clicks
        (4, t(1), "purchase"), (4, t(2), "view"),
    ]
    df = spark.createDataFrame(rows, ["user_id", "ts", "event_type"])
    got = {r["user_id"]: (r["funnel_stage"], r["converted"])
           for r in funnel_stages(df, ["click", "view", "purchase"]).collect()}
    assert got[1] == (3, 1)
    assert got[2] == (1, 0)  # click seen, but no view AFTER it
    assert got[3] == (1, 0)
    assert got[4] == (0, 0)


def test_salted_agg_matches_plain_groupby(spark, sf_dir):
    """Salted two-stage aggregation must be value-identical to the plain
    groupBy (counts/min/max are decomposable)."""
    import os
    from pyspark.sql import functions as F
    from trollflow2_spark.operators.skew import salted_agg

    docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    hashed = docs.select(F.md5("text").alias("h"), "doc_id")
    salted = salted_agg(
        hashed,
        ["h"],
        {"n_copies": ("count", "doc_id"), "canonical_id": ("min", "doc_id")},
        n_salts=8,
    )
    plain = hashed.groupBy("h").agg(
        F.count("doc_id").alias("n_copies"),
        F.min("doc_id").alias("canonical_id"),
    )
    assert sorted(map(tuple, salted.collect())) == sorted(map(tuple, plain.collect()))
    # and it actually has two aggregation exchanges (the salting stage)
    qe = salted._jdf.queryExecution()
    mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    assert qe.explainString(mode).count("Exchange") >= 2


def test_salted_agg_rejects_non_decomposable(spark, sf_dir):
    import pytest as _pytest
    from trollflow2_spark.operators.skew import salted_agg

    with _pytest.raises(ValueError):
        salted_agg(spark.range(5), ["id"], {"a": ("avg", "id")})


def test_skew_join_profile_aqe_split(spark, sf_dir):
    """AQE skew-join splitting engages on the skewed fact-to-dim join:
    with fixture-scaled thresholds the hot partition splits
    (SortMergeJoin is marked skew=true in the final adaptive plan).
    Guards two silent disablers found the hard way: a single-mapper
    fact side (splits happen along MAPPER boundaries) and AQE demoting
    the hinted merge join to broadcast."""
    from trollflow2_spark.queries import QUERIES

    conf = {
        "spark.sql.adaptive.skewJoin.enabled": "true",
        # sf0.001-scale thresholds: the hot partition is ~2 MB there
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "64k",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2.0",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "64k",
        "spark.sql.adaptive.autoBroadcastJoinThreshold": "-1",
    }
    saved = {k: spark.conf.get(k, None) for k in conf}
    try:
        for k, v in conf.items():
            spark.conf.set(k, v)
        df = QUERIES["skew_join_profile"](spark, sf_dir)
        # collect() so the inspected queryExecution is the one that ran
        # (a noop write would execute a separate copy of the plan)
        assert len(df.collect()) > 0
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "skew=true" in plan
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_salted_agg_deterministic_salt(spark):
    """With ``salt_col`` the salt is a pure function of row data, so
    stage-1 partials are identical across re-runs and re-partitionings
    (a task retry re-salts rows the same way); final results still
    match the plain groupBy."""
    from pyspark.sql import functions as F

    from trollflow2_spark.operators.skew import salted_agg

    rows = [(i, "hot" if i % 3 else f"k{i % 11}") for i in range(2000)]
    df = spark.createDataFrame(rows, ["rid", "key"])

    def stage1_partials(d):
        salted = d.withColumn(
            "__salt", F.pmod(F.xxhash64(F.col("rid")), F.lit(16))
        )
        return sorted(
            (r["key"], r["__salt"], r["n"])
            for r in salted.groupBy("key", "__salt")
            .agg(F.count("rid").alias("n"))
            .collect()
        )

    p1 = stage1_partials(df.repartition(1))
    p8 = stage1_partials(df.repartition(8, "key"))
    assert p1 == p8
    got = {
        r["key"]: (r["n"], r["lo"])
        for r in salted_agg(
            df, ["key"], {"n": ("count", "rid"), "lo": ("min", "rid")},
            salt_col="rid",
        ).collect()
    }
    want = {
        r["key"]: (r["n"], r["lo"])
        for r in df.groupBy("key")
        .agg(F.count("rid").alias("n"), F.min("rid").alias("lo"))
        .collect()
    }
    assert got == want


def test_sequence_fingerprint_salted_digest_chain(spark):
    """The salted two-stage sequence fingerprint is the digest chain:
    per contiguous order-bucket md5 in stage 1, md5 of the ordered
    bucket digests in stage 2.  Verified against a Python replay of the
    chain; counts match the plain form exactly."""
    import hashlib
    from collections import defaultdict

    from trollflow2_spark.operators.skew import sequence_fingerprint

    rows = [(i, -1 if i % 2 == 0 else i % 5, f"e{i % 7}") for i in range(1000)]
    df = spark.createDataFrame(rows, ["seq_id", "key", "val"])
    plain = {
        r["key"]: (r["seq_hash"], r["n_events"])
        for r in sequence_fingerprint(df, "key", "seq_id", "val").collect()
    }
    salted = {
        r["key"]: (r["seq_hash"], r["n_events"])
        for r in sequence_fingerprint(
            df, "key", "seq_id", "val", bucket_width=100
        ).collect()
    }
    # python replay of the digest chain
    by_key_bucket = defaultdict(list)
    for seq_id, key, val in rows:
        by_key_bucket[(key, seq_id // 100)].append((seq_id, val))
    digests = defaultdict(list)
    for (key, bucket), vals in by_key_bucket.items():
        part = "|".join(v for _, v in sorted(vals))
        digests[key].append((bucket, hashlib.md5(part.encode()).hexdigest()))
    expected = {
        key: hashlib.md5(
            "|".join(d for _, d in sorted(ds)).encode()
        ).hexdigest()
        for key, ds in digests.items()
    }
    assert {k: v[0] for k, v in salted.items()} == expected
    # counts are identical between the two forms; hashes differ by design
    assert {k: v[1] for k, v in salted.items()} == {
        k: v[1] for k, v in plain.items()
    }
    assert plain[-1][1] == 500  # the hot key owns half the rows


def test_interval_join_semantics_and_plan(spark):
    """Bucketed interval join: points match intervals they fall in
    (inclusive bounds), multi-bucket intervals don't duplicate
    matches, and the physical plan is an equi-join — never the
    BroadcastNestedLoopJoin a naive inequality join produces."""
    from datetime import datetime as DT

    from trollflow2_spark.operators.interval import interval_join

    pts = spark.createDataFrame(
        [
            (1, DT(2024, 1, 1, 2, 30)),   # inside w1
            (2, DT(2024, 1, 1, 4, 0)),    # == w1 end (inclusive)
            (3, DT(2024, 1, 1, 5, 0)),    # outside
            (4, DT(2024, 1, 1, 1, 59)),   # just before w1
            (5, DT(2024, 1, 2, 3, 59)),   # inside w2 (spans 3 buckets)
        ],
        ["pid", "ts"],
    )
    wins = spark.createDataFrame(
        [
            ("w1", DT(2024, 1, 1, 2, 0), DT(2024, 1, 1, 4, 0)),
            ("w2", DT(2024, 1, 2, 1, 30), DT(2024, 1, 2, 4, 30)),
        ],
        ["wid", "w_start", "w_end"],
    )
    out = interval_join(pts, wins, "ts", "w_start", "w_end",
                        bucket_seconds=3600)
    got = sorted((r["pid"], r["wid"]) for r in out.collect())
    assert got == [(1, "w1"), (2, "w1"), (5, "w2")]
    # no duplicate rows even though w2 overlaps 4 hour-buckets
    assert out.count() == 3
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    # semi form: each point at most once
    semi = interval_join(pts, wins, "ts", "w_start", "w_end",
                         bucket_seconds=3600, how="left_semi")
    assert sorted(r["pid"] for r in semi.collect()) == [1, 2, 5]


def test_zorder_key_matches_python_reference(spark):
    """The Column-expression Morton interleave equals a bit-twiddling
    python reference over adversarial values (0, max, powers of two)."""
    from trollflow2_spark.functions.zorder import zorder_key

    def ref(x, y, bits=16):
        out = 0
        for i in range(bits):
            out |= ((x >> i) & 1) << (2 * i)
            out |= ((y >> i) & 1) << (2 * i + 1)
        return out

    vals = [0, 1, 2, 3, 255, 256, 32767, 65535, 43210, 12345]
    rows = [(x, y) for x in vals for y in vals]
    df = spark.createDataFrame(rows, ["x", "y"])
    got = df.select(
        "x", "y", zorder_key(["x", "y"], bits=16).alias("z")
    ).collect()
    for r in got:
        assert r["z"] == ref(r["x"], r["y"]), (r["x"], r["y"])


def test_zorder_time_bucket_wraps_not_aliases(spark):
    """q_zorder_layout's minute dimension pmods into [0, 2**bits):
    events far past (or before) the epoch wrap deterministically to
    the oracle-shared residue instead of silently aliasing on the low
    bits of an out-of-range value."""
    import datetime

    from pyspark.sql import functions as F

    from trollflow2_spark import qconst as C

    epoch = datetime.datetime(2024, 1, 1)
    rows = [
        (1, epoch + datetime.timedelta(minutes=5)),
        (2, epoch + datetime.timedelta(minutes=(1 << C.ZORDER_BITS) + 5)),
        (3, epoch - datetime.timedelta(minutes=7)),
    ]
    df = spark.createDataFrame(rows, "event_id long, ts timestamp")
    tb = F.pmod(
        F.floor(
            (F.unix_timestamp("ts")
             - F.unix_timestamp(F.lit(C.ZORDER_EPOCH).cast("timestamp")))
            / 60
        ),
        F.lit(1 << C.ZORDER_BITS),
    )
    got = {r["event_id"]: r["tb"] for r in df.select("event_id", tb.alias("tb")).collect()}
    m = 1 << C.ZORDER_BITS
    assert got[1] == 5
    assert got[2] == 5  # wraps, same residue as event 1
    assert got[3] == (m - 7)  # negative minutes wrap into range


def test_zorder_write_clusters_both_dimensions(spark, tmp_path):
    """Writing z-ordered makes every output file compact in BOTH
    dimensions: the sum of per-file bounding-box areas is a small
    fraction of (n_files x full area) — which is what parquet min/max
    pruning feeds on. A 1-D sort would leave the second dimension's
    per-file range at full width."""
    import numpy as np

    from trollflow2_spark.functions.zorder import zorder_write

    rng = np.random.RandomState(7)
    n = 20_000
    rows = [
        (int(x), int(y))
        for x, y in zip(
            rng.randint(0, 1 << 16, n), rng.randint(0, 1 << 16, n)
        )
    ]
    df = spark.createDataFrame(rows, ["x", "y"])
    path = str(tmp_path / "zordered")
    zorder_write(df, path, ["x", "y"], bits=16, n_files=16)

    per_file = (
        spark.read.parquet(path)
        .groupBy(F.input_file_name().alias("f"))
        .agg(
            F.min("x").alias("x0"), F.max("x").alias("x1"),
            F.min("y").alias("y0"), F.max("y").alias("y1"),
        )
        .collect()
    )
    assert len(per_file) >= 8
    full_area = float(1 << 32)
    frac = [
        ((r["x1"] - r["x0"] + 1) * (r["y1"] - r["y0"] + 1)) / full_area
        for r in per_file
    ]
    # each file covers a compact hyper-rectangle: far below the full
    # square a 1-D layout would give the unsorted dimension
    assert max(frac) < 0.5
    assert sum(frac) / len(frac) < 0.25


def test_interval_join_property_vs_bruteforce(spark):
    """Property: bucketed interval join equals the brute-force
    containment filter over random points/intervals, across bucket
    widths (narrower or wider than the intervals)."""
    import numpy as np

    rng = np.random.RandomState(11)
    base = 1_700_000_000
    from datetime import datetime as DT, timezone as TZ

    def ts(s):
        return DT.fromtimestamp(base + int(s), tz=TZ.utc).replace(
            tzinfo=None
        )

    pts_s = rng.randint(0, 100_000, 300)
    ivs_s = [
        (int(a), int(a + rng.randint(1, 20_000)))
        for a in rng.randint(0, 100_000, 40)
    ]
    pts = spark.createDataFrame(
        [(i, ts(s)) for i, s in enumerate(pts_s)], ["pid", "t"]
    )
    ivs = spark.createDataFrame(
        [(j, ts(a), ts(b)) for j, (a, b) in enumerate(ivs_s)],
        ["wid", "lo", "hi"],
    )
    expected = sorted(
        (i, j)
        for i, s in enumerate(pts_s)
        for j, (a, b) in enumerate(ivs_s)
        if a <= s <= b
    )
    from trollflow2_spark.operators.interval import interval_join

    for width in (600, 3600, 50_000):
        got = sorted(
            (r["pid"], r["wid"])
            for r in interval_join(
                pts, ivs, "t", "lo", "hi", bucket_seconds=width
            ).collect()
        )
        assert got == expected, f"width={width}"


def test_downsample_ohlc_tie_semantics(spark):
    """Same-timestamp ties resolve by id (total order); open is the
    earliest reading, close the latest, and the agg is one pass."""
    from datetime import datetime as DT

    from trollflow2_spark.operators.windows import downsample_ohlc

    t = DT(2024, 1, 1, 10, 15)
    rows = [
        ("a", 1, t, 5.0),
        ("a", 2, t, 7.0),                    # same ts: id 2 later
        ("a", 3, DT(2024, 1, 1, 10, 50), 1.0),
        ("a", 4, DT(2024, 1, 1, 11, 5), 9.0),  # next hour bucket
    ]
    df = spark.createDataFrame(rows, ["g", "event_id", "ts", "value"])
    out = {r["bucket"].hour: r for r in downsample_ohlc(
        df, "ts", "value", "event_id", ["g"], window="hour"
    ).collect()}
    h10 = out[10]
    assert (h10["open"], h10["close"]) == (5.0, 1.0)
    assert (h10["high"], h10["low"], h10["n"]) == (7.0, 1.0, 3)
    assert out[11]["open"] == out[11]["close"] == 9.0
    # one-pass plan: no window exchange, a single aggregate pair
    plan = downsample_ohlc(
        df, "ts", "value", "event_id", ["g"]
    )._jdf.queryExecution().executedPlan().toString()
    assert "Window" not in plan


def test_cohort_retention_semantics(spark, sf_dir):
    """A user active twice in a week counts once; retention is the
    truncating per-mille of distinct actives over cohort size; k=0
    cell equals the cohort size by construction."""
    from trollflow2_spark.queries import QUERIES

    rows = QUERIES["cohort_retention"](spark, sf_dir).collect()
    assert rows
    by = {(r["cohort"], r["k"]): r for r in rows}
    for (c, k), r in by.items():
        if k == 0:
            assert r["active_users"] == r["cohort_users"]
            assert r["retention_pm"] == 1000
        assert 0 < r["active_users"] <= r["cohort_users"]
        assert r["retention_pm"] == r["active_users"] * 1000 // r["cohort_users"]
