"""The engine's query suite: one entry per implemented operator
(SURVEY.md §2 + the training-data extensions).

Each ``q_*`` takes ``(spark, sf_dir)`` and returns a DataFrame; the
matching DuckDB SQL lives in :mod:`trollflow2_spark.oracles`. Every
computed column is aliased identically on both sides, floats are either
decimal-exact or rounded, and orderings carry unique tie-breakers, so
results hash-match the oracle bit-for-bit regardless of partitioning.

Determinism conventions:
- big sums -> exact DECIMAL(38,s) accumulation, cast to DOUBLE at the end
  (float sums are order-sensitive; decimal sums are associative);
- small float math (trig, cosine) -> both sides compute the identical
  expression tree and round before any filter/rank on the value;
- top-k -> unique tie-breaker columns in the ordering.
"""

from __future__ import annotations

import functools

from pyspark.sql import Column, DataFrame, SparkSession, Window, functions as F
from pyspark.sql import types as T

from trollflow2_spark import qconst as C
from trollflow2_spark.config.work_items import flatten_product_list
from trollflow2_spark.extensions.column_plugins import (
    check_metadata_age,
    check_metadata_categorical,
    compose_pattern,
    covers_filter,
    metadata_alias,
    sza_check,
    valid_fraction_filter,
)
from trollflow2_spark.extensions.dedup import (
    duplicate_clusters,
    exact_dedup,
    lsh_candidate_pairs,
    minhash_signatures,
    ngram_jaccard_pairs,
    simhash,
)
from trollflow2_spark.extensions.multimodal import (
    MEDIA_META_SCHEMA,
    attach_fake_media,
    decode_media,
    media_metadata,
)
from trollflow2_spark.extensions.similarity import (
    ann_bucketed_topk,
    brute_force_topk,
    embedding_neardup_pairs,
)
from trollflow2_spark.extensions.text import (
    bpe_ish_token_count,
    doc_fingerprint,
    lang_id,
    quality_features,
    token_count,
)
from trollflow2_spark.extensions.hashing import fast_hash64
from trollflow2_spark.functions.geometry import (
    pseudo_coverage_percent,
    sun_zenith_angle_deg,
)
from trollflow2_spark.operators.resample import (
    nearest_join_1d,
    nearest_join_2d,
    weighted_resample_1d,
)
from trollflow2_spark.operators.transforms import block_aggregate
from trollflow2_spark.extensions.windows import top1_per_group, topk_per_group
from trollflow2_spark.tables import load_table


def _ntz(lit: str) -> Column:
    return F.lit(lit).cast("timestamp_ntz")


def dsum(col: Column, scale: int = 4) -> Column:
    """Order-insensitive exact sum of a double column via decimal."""
    return F.sum(col.cast(f"decimal(38,{scale})")).cast("double")


# ---------------------------------------------------------------------------
# Relational core (TPC-H-shaped anchors for agg/join/window plans)


def q_q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1 shape: scan + filter + 2-key hash agg with 8 aggregates.

    Plan check: filter and column pruning push to the parquet scan;
    partial aggregation map-side; no join.
    """
    li = load_table(spark, sf_dir, "lineitem")
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    charge = disc_price * (1 + F.col("l_tax"))
    out = (
        li.filter(F.col("l_shipdate") <= _ntz(C.Q1_SHIPDATE_MAX))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            dsum(F.col("l_quantity")).alias("sum_qty"),
            dsum(F.col("l_extendedprice")).alias("sum_base_price"),
            dsum(disc_price, 6).alias("sum_disc_price"),
            dsum(charge, 6).alias("sum_charge"),
            F.count(F.lit(1)).alias("count_order"),
            (dsum(F.col("l_quantity")) / F.count(F.lit(1))).alias("avg_qty"),
            (dsum(F.col("l_extendedprice")) / F.count(F.lit(1))).alias("avg_price"),
            (dsum(F.col("l_discount"), 6) / F.count(F.lit(1))).alias("avg_disc"),
        )
    )
    return out


def q_q3_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 shape: 3-way join + agg + deterministic top-N."""
    cust = load_table(spark, sf_dir, "customer").filter(
        F.col("c_mktsegment") == C.Q3_SEGMENT
    )
    orders = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < _ntz(C.Q3_DATE)
    )
    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > _ntz(C.Q3_DATE)
    )
    revenue = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    joined = li.join(
        orders, li.l_orderkey == orders.o_orderkey
    ).join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
    out = (
        joined.groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(dsum(revenue, 6).alias("revenue"))
        .orderBy(F.col("revenue").desc(), F.col("l_orderkey"))
        .limit(C.Q3_LIMIT)
        .select(
            "l_orderkey",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("orderdate"),
            "o_orderpriority",
            "revenue",
        )
    )
    return out


def q_q3_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q3 over pre-bucketed fact tables: orders and lineitem are written
    bucketed+sorted on the order key (``extensions/bucketing.py``), so
    the fact-fact join needs NO exchange and the subsequent group-by on
    the order key reuses the same clustering — the named 100 TB fix for
    recurring fact-fact joins. Results identical to
    ``q3_shipping_priority`` (same oracle); the zero-Exchange plan is
    pinned by tests/test_plans.py. Table creation is once per scale
    factor (first bench run pays it, best-of-2 reads the steady state).
    """
    import os as _os
    import re as _re2
    import shutil as _shutil
    from urllib.parse import urlparse as _urlparse

    from trollflow2_spark.extensions.bucketing import write_bucketed

    tag = _re2.sub(r"[^0-9A-Za-z]", "_", sf_dir.rstrip("/").rsplit("/", 1)[-1])

    def ensure(table: str, source: str, key: str) -> None:
        if spark.catalog.tableExists(table):
            return
        # a previous session's table directory survives the in-memory
        # catalog; it is a derived cache we own — clear and rebuild
        wh = _urlparse(spark.conf.get("spark.sql.warehouse.dir")).path
        loc = _os.path.join(wh, table.lower())
        if _os.path.exists(loc):
            _shutil.rmtree(loc)
        write_bucketed(
            load_table(spark, sf_dir, source), table, [key], 16, sort_cols=[key]
        )

    ot, lt = f"tf2b_orders_{tag}", f"tf2b_lineitem_{tag}"
    ensure(ot, "orders", "o_orderkey")
    ensure(lt, "lineitem", "l_orderkey")
    cust = load_table(spark, sf_dir, "customer").filter(
        F.col("c_mktsegment") == C.Q3_SEGMENT
    )
    orders = spark.table(ot).filter(F.col("o_orderdate") < _ntz(C.Q3_DATE))
    li = spark.table(lt).filter(F.col("l_shipdate") > _ntz(C.Q3_DATE))
    revenue = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    joined = li.join(
        orders, li.l_orderkey == orders.o_orderkey
    ).join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
    return (
        joined.groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(dsum(revenue, 6).alias("revenue"))
        .orderBy(F.col("revenue").desc(), F.col("l_orderkey"))
        .limit(C.Q3_LIMIT)
        .select(
            "l_orderkey",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("orderdate"),
            "o_orderpriority",
            "revenue",
        )
    )


def q_q5_local_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5 shape: 6-way join with broadcast dims + single-key agg."""
    region = load_table(spark, sf_dir, "region").filter(F.col("r_name") == C.Q5_REGION)
    nation = load_table(spark, sf_dir, "nation")
    cust = load_table(spark, sf_dir, "customer")
    supp = load_table(spark, sf_dir, "supplier")
    orders = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= _ntz(C.Q5_DATE_LO))
        & (F.col("o_orderdate") < _ntz(C.Q5_DATE_HI))
    )
    li = load_table(spark, sf_dir, "lineitem")
    revenue = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    joined = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(supp), li.l_suppkey == supp.s_suppkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .filter(cust.c_nationkey == supp.s_nationkey)
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
    )
    return joined.groupBy("n_name").agg(dsum(revenue, 6).alias("revenue"))


def q_q6_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6 shape: pure filter + scalar agg (pushdown check)."""
    li = load_table(spark, sf_dir, "lineitem")
    out = li.filter(
        (F.col("l_shipdate") >= _ntz(C.Q6_YEAR_LO))
        & (F.col("l_shipdate") < _ntz(C.Q6_YEAR_HI))
        & (F.col("l_discount") >= C.Q6_DISC_LO)
        & (F.col("l_discount") <= C.Q6_DISC_HI)
        & (F.col("l_quantity") < C.Q6_QTY)
    ).agg(
        dsum(F.col("l_extendedprice") * F.col("l_discount"), 6).alias("revenue"),
        F.count(F.lit(1)).alias("n_items"),
    )
    return out


# ---------------------------------------------------------------------------
# Config expansion (the reference's logical planning)

CANONICAL_PRODUCT_LIST: dict = {
    "product_list": {
        "output_dir": "/data/out",
        "publish_topic": "/raster",
        "fname_pattern": "{start_time:%Y%m%d_%H%M}_{areaname}_{productname}.{format}",
        "min_coverage": 5.0,
        "formats": [{"format": "png", "writer": "simple_image"}],
        "areas": {
            "euron1": {
                "areaname": "euron1",
                "min_coverage": 20.0,
                "priority": 1,
                "products": {
                    "cloud_top_height": {
                        "productname": "cloud_top_height",
                        "formats": [
                            {"format": "tif", "writer": "geotiff"},
                            {"format": "nc", "writer": "cf", "fill_value": 0.0},
                        ],
                    },
                    "overview": {"productname": "overview", "resolution": 1000},
                },
            },
            "germ": {
                "areaname": "germ",
                "fname_pattern": "{productname}_germ.{format}",
                "products": {
                    ("ch1", "ch2"): {"productname": "double_channels"},
                    "night_fog": {
                        "productname": "night_fog",
                        "sunzen_minimum_angle": 90.0,
                    },
                },
            },
            "omerc_bb": {
                "areaname": "omerc",
                "priority": None,
                "products": {
                    "natural_color": {
                        "productname": "natural_color",
                        "formats": [{"format": "tif"}],
                    },
                },
            },
        },
    },
    "common": {"sensor": "avhrr"},
}


# The pinned work-item schema (FIXTURES.md §2). Open-world extras ride in
# an `extra` map column.
WORK_ITEM_FIELDS: list[tuple[str, T.DataType]] = [
    ("area", T.StringType()),
    ("areaname", T.StringType()),
    ("priority", T.IntegerType()),
    ("product", T.ArrayType(T.StringType())),
    ("productname", T.StringType()),
    ("resolution", T.IntegerType()),
    ("format", T.StringType()),
    ("writer", T.StringType()),
    ("fname_pattern", T.StringType()),
    ("output_dir", T.StringType()),
    ("fill_value", T.DoubleType()),
    ("min_coverage", T.DoubleType()),
    ("sunzen_check_lon", T.DoubleType()),
    ("sunzen_check_lat", T.DoubleType()),
    ("sunzen_minimum_angle", T.DoubleType()),
    ("sunzen_maximum_angle", T.DoubleType()),
    ("sunlight_min", T.DoubleType()),
    ("sunlight_max", T.DoubleType()),
    ("check_pass", T.BooleanType()),
    ("min_valid_data_fraction", T.DoubleType()),
    ("resampler", T.StringType()),
    ("radius_of_influence", T.DoubleType()),
    ("reduce_data", T.BooleanType()),
    ("epsilon", T.DoubleType()),
    ("publish_topic", T.StringType()),
]

_FIELD_NAMES = [name for name, _ in WORK_ITEM_FIELDS]

_CASTS = {
    T.IntegerType(): int,
    T.DoubleType(): float,
    T.BooleanType(): bool,
}


def work_items_df(
    spark: SparkSession, product_list: dict, base_mda: dict | None = None
) -> DataFrame:
    """Build the typed work-items DataFrame from a product list."""
    schema = T.StructType(
        [T.StructField(n, t, True) for n, t in WORK_ITEM_FIELDS]
        + [T.StructField("extra", T.MapType(T.StringType(), T.StringType()), True)]
    )
    rows = []
    for leaf in flatten_product_list(product_list, base_mda):
        row = []
        for name, dtype in WORK_ITEM_FIELDS:
            val = leaf.get(name)
            if val is not None and dtype in _CASTS:
                val = _CASTS[dtype](val)
            elif val is not None and isinstance(dtype, T.ArrayType):
                val = [str(v) for v in val]
            elif val is not None and dtype == T.StringType():
                val = str(val)
            row.append(val)
        extra = {
            str(k): str(v)
            for k, v in leaf.items()
            if k not in _FIELD_NAMES and v is not None and not isinstance(v, (dict, list))
        }
        rows.append(tuple(row) + (extra or None,))
    return spark.createDataFrame(rows, schema)


def q_work_items_flatten(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-list -> work-items flattening with inheritance resolution
    (``plist_iter``/``get_config_value`` semantics; oracle = hand-computed
    golden rows). Independent of sf_dir (config, not data)."""
    wi = work_items_df(spark, CANONICAL_PRODUCT_LIST)
    return wi.select(
        "area",
        "areaname",
        "priority",
        F.array_join("product", ",").alias("product"),
        "productname",
        "resolution",
        "format",
        "writer",
        "fname_pattern",
        "min_coverage",
        "fill_value",
        "sunzen_minimum_angle",
        "output_dir",
        "publish_topic",
    )


# ---------------------------------------------------------------------------
# Filter / pruning operators (work-list WHERE clauses)


def q_check_metadata_categorical(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    out = check_metadata_categorical(ev, "event_type", C.EVENT_TYPES_ALLOWED)
    return out.select("event_id", "event_type", "user_id")


def q_check_metadata_age(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    out = check_metadata_age(
        ev, "ts", max_age_minutes=C.AGE_MAX_MINUTES, now=_ntz(C.AGE_NOW)
    )
    return out.select(
        "event_id", F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("ts_s")
    )


def q_metadata_alias(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    out = metadata_alias(ev, "event_type", C.ALIASES)
    return out.select("event_id", "event_type")


def q_coverage_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`covers` semantics with the deterministic pseudo-coverage stand-in
    (the real ephemeris hook degrades gracefully when geo libs are
    absent, matching the reference)."""
    ev = load_table(spark, sf_dir, "events")
    ev = ev.withColumn(
        "area_coverage_percent", pseudo_coverage_percent(F.col("event_id"))
    ).withColumn(
        "min_coverage",
        F.when(F.col("event_type") == "error", F.lit(None).cast("double")).otherwise(
            F.lit(C.COVERAGE_MIN_PCT)
        ),
    )
    out = covers_filter(ev)
    return out.select("event_id", "event_type", "area_coverage_percent")


def q_sza_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sun-zenith-angle day gate as pure Column trig (no UDF)."""
    ev = load_table(spark, sf_dir, "events")
    lon = (F.col("user_id") % 360 - 180).cast("double")
    lat = (F.col("user_id") % 180 - 90).cast("double")
    ev = ev.withColumn(
        "sza", F.round(sun_zenith_angle_deg(F.col("ts"), lon, lat), 4)
    ).withColumn("sunzen_minimum_angle", F.lit(None).cast("double")).withColumn(
        "sunzen_maximum_angle", F.lit(C.SZA_MAX_DEG)
    )
    out = sza_check(ev)
    return out.select("event_id", "sza")


def q_valid_fraction_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-dependent pruning: keep rows of event types whose valid-value
    fraction is at or above the threshold (NaN/NULL-aware agg + semi-join
    back)."""
    ev = load_table(spark, sf_dir, "events")
    ev = ev.withColumn(
        "valid_value",
        F.when(F.col("value") >= C.VALID_MIN_VALUE, F.col("value")),
    )
    out = valid_fraction_filter(
        ev, ["event_type"], "valid_value", C.VALID_MIN_FRACTION
    )
    return out.select("event_id", "event_type")


# ---------------------------------------------------------------------------
# Projection / derivation / aggregation


def q_priority_batches(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Priority grouping (`get_area_priorities`): parse priority, NULL ->
    999 default, batch counts + exact totals."""
    orders = load_table(spark, sf_dir, "orders")
    prio = F.coalesce(
        F.split(F.col("o_orderpriority"), "-").getItem(0).cast("int"), F.lit(999)
    )
    return (
        orders.withColumn("priority", prio)
        .groupBy("priority")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            dsum(F.col("o_totalprice")).alias("total_price"),
        )
    )


def q_block_aggregate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Block mean (the `aggregate` plugin): hash agg on floor-divided keys."""
    ev = load_table(spark, sf_dir, "events")
    return block_aggregate(ev, {"event_id": C.BLOCK_FACTOR}, ["value"], agg="avg")


def q_resolution_top1(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Highest-resolution-first preference as window top-1: latest order
    per customer, deterministic tie-break by orderkey."""
    orders = load_table(spark, sf_dir, "orders")
    out = top1_per_group(
        orders,
        ["o_custkey"],
        [F.col("o_orderdate").desc(), F.col("o_orderkey").asc()],
    )
    return out.select(
        "o_custkey",
        "o_orderkey",
        F.date_format("o_orderdate", "yyyy-MM-dd").alias("orderdate"),
    )


def q_composite_union_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Union-of-needed-composites as distinct set op."""
    docs = load_table(spark, sf_dir, "documents")
    return docs.select("lang", "source").distinct()


def q_filename_compose(spark: SparkSession, sf_dir: str) -> DataFrame:
    """trollsift-style pattern composition as JVM string functions."""
    orders = load_table(spark, sf_dir, "orders")
    fname = compose_pattern(C.FNAME_PATTERN, {"o_orderdate": "timestamp"})
    return orders.select("o_orderkey", fname.alias("filename"))


def q_json_key_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema-on-read profiling of a semi-structured JSON column: per
    key, presence count/share and the text-level type distribution
    (int / float / bool / other-string) — what you run BEFORE deciding
    a from_json schema for 100 TB of crawl metadata. The fixture JSON
    is built closed-form from events (to_json drops null fields, so
    key presence genuinely varies); keys explode map-side and the
    profile is ONE hash agg keyed on the key name (key-cardinality
    rows out). Type inference is over the extracted JSON text — the
    documented level for schemaless profiling (a quoted "123" is
    indistinguishable from 123 at this level)."""
    from trollflow2_spark.tables import parallelism_floor

    ev = load_table(spark, sf_dir, "events")
    js = F.to_json(
        F.struct(
            F.col("value").alias("v"),
            F.col("event_type").alias("t"),
            (F.col("event_id") % 2 == 0).alias("flag"),
            F.when(F.col("event_id") % 3 == 0, F.col("event_id")).alias(
                "maybe"
            ),
        )
    )
    n_rows = ev.count()  # control plane: one scalar for the share
    # scale-adaptive floor (guide §2.5): the to_json + key-explode +
    # get_json_object + regex kernel ran as ONE serial task on the
    # single-row-group fixture scan (2.7 s of this query's 2.9 s
    # job-time); no-op on real many-partition scans
    keyed = parallelism_floor(ev, "value", "event_type", "event_id").select(
        js.alias("js")
    ).select("js", F.explode(F.json_object_keys("js")).alias("k"))
    val = F.expr("get_json_object(js, concat('$.', k))")
    is_int = val.rlike("^-?[0-9]+$")
    is_float = val.rlike(r"^-?[0-9]+\.[0-9]+([eE][+-]?[0-9]+)?$")
    is_bool = val.isin("true", "false")
    return (
        keyed.select(
            "k",
            is_int.cast("int").alias("__i"),
            (~is_int & is_float).cast("int").alias("__f"),
            is_bool.cast("int").alias("__b"),
        )
        .groupBy("k")
        .agg(
            F.count(F.lit(1)).alias("n_present"),
            F.sum("__i").alias("n_int"),
            F.sum("__f").alias("n_float"),
            F.sum("__b").alias("n_bool"),
            (F.count(F.lit(1)) - F.sum("__i") - F.sum("__f") - F.sum("__b"))
            .alias("n_string"),
            F.round(F.count(F.lit(1)) / F.lit(float(n_rows)), 6).alias(
                "presence_share"
            ),
        )
    )


def q_json_schema_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema drift between two snapshots of a semi-structured feed:
    per key, presence share in each snapshot and a status
    (added / dropped / drifted / stable by a 10% share delta). The
    fixture derives 'old' (even event_ids) and 'new' (odd) snapshots
    whose JSON genuinely differs: the new snapshot adds a 'v2' key for
    half its rows and emits 'maybe' twice as often. Two key-cardinality
    profiles full-outer-joined on the key name — snapshot-sized scans,
    key-sized everything else."""
    ev = load_table(spark, sf_dir, "events")

    def profile(df, n_rows):
        js = F.to_json(
            F.struct(
                F.col("value").alias("v"),
                F.col("event_type").alias("t"),
                F.when(F.col("event_id") % 3 == 0, F.col("event_id")).alias(
                    "maybe"
                ),
                F.when(
                    (F.col("event_id") % 2 == 1)
                    & (F.col("event_id") % 4 == 1),
                    F.lit("x"),
                ).alias("v2"),
            )
        )
        # NO parallelism floor here (measured, r15): unlike
        # q_json_key_profile this kernel is just to_json + key explode
        # (no per-key get_json_object / regex pass), and the floor's
        # shuffle cost more than the parallel gain (1.03 -> 1.31 s)
        return (
            df.select(F.explode(F.json_object_keys(js)).alias("k"))
            .groupBy("k")
            .agg(
                F.round(F.count(F.lit(1)) / F.lit(float(n_rows)), 6).alias(
                    "share"
                )
            )
        )

    old_df = ev.where(F.col("event_id") % 2 == 0)
    new_df = ev.where(F.col("event_id") % 2 == 1)
    po = profile(old_df, old_df.count()).withColumnRenamed("share", "share_old")
    pn = profile(new_df, new_df.count()).withColumnRenamed("share", "share_new")
    j = po.join(pn, "k", "full")
    status = (
        F.when(F.col("share_old").isNull(), "added")
        .when(F.col("share_new").isNull(), "dropped")
        .when(
            F.abs(F.col("share_new") - F.col("share_old")) > 0.1, "drifted"
        )
        .otherwise("stable")
    )
    return j.select(
        "k",
        "share_old",
        "share_new",
        status.alias("status"),
    )


def q_key_skew_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-key skew audit: the N heaviest customer keys in orders with
    their row share and a skew flag — the observability query you run
    BEFORE choosing salting / AQE thresholds for a fact join. One
    map-side-combinable count agg; the top-N is a distributed
    orderBy+limit (TakeOrderedAndProject), never a global window over
    the key space."""
    orders = load_table(spark, sf_dir, "orders")
    total = orders.count()  # control plane: one scalar
    counts = orders.groupBy("o_custkey").agg(F.count(F.lit(1)).alias("n"))
    top = counts.orderBy(F.desc("n"), "o_custkey").limit(C.SKEW_AUDIT_TOPN)
    w = Window.orderBy(F.desc("n"), "o_custkey")  # N rows only
    share = F.round(F.col("n") / F.lit(float(total)), 6)
    return top.select(
        F.col("o_custkey").alias("key"),
        "n",
        share.alias("share"),
        F.row_number().over(w).alias("rank"),
        (share > C.SKEW_AUDIT_SHARE).cast("int").alias("skewed"),
    )


def q_json_extract_props(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Message-metadata JSON extraction (fsspec/message payloads)."""
    ev = load_table(spark, sf_dir, "events")
    return ev.select(
        "event_id",
        F.get_json_object("props", "$.k").cast("int").alias("k"),
    )


def q_variant_extract_props(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured extraction through the VariantType path (Spark
    4): build a nested JSON document, ``parse_json`` it into a
    variant, and pull typed fields back with ``variant_get`` JSON
    paths. Variant parses once into a binary-encoded tree, so N path
    extractions cost one parse — the scan-stage answer to schema-less
    columns (vs per-path re-parsing with get_json_object)."""
    ev = load_table(spark, sf_dir, "events")
    doc = F.concat(
        F.lit('{"meta":'), F.col("props"),
        F.lit(',"type":"'), F.col("event_type"), F.lit('"}'),
    )
    v = ev.select("event_id", F.parse_json(doc).alias("v"))
    return v.select(
        "event_id",
        F.variant_get("v", "$.meta.k", "int").alias("k"),
        F.variant_get("v", "$.type", "string").alias("etype"),
    )


def q_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention matrix: users cohort by their FIRST activity
    week; cell (cohort, k) counts distinct users active k weeks later
    — the standard product/engagement rollup the sessionize/funnel
    tier doesn't cover. Retention is reported per-mille as an integer
    (numerator x 1000 // cohort size — no float division to drift).
    Shape: one min-agg to the (user, first week) table (map-side
    combinable), the activity join rides the user key, then one
    count_distinct agg per (cohort, offset) — cells bounded by
    weeks^2, control-plane sized."""
    ev = load_table(spark, sf_dir, "events").select("user_id", "ts")
    week = F.floor(
        F.datediff(F.date_trunc("day", "ts"), F.lit("2024-01-01")) / 7
    ).cast("long")
    acts = ev.select("user_id", week.alias("week")).distinct()
    first = acts.groupBy("user_id").agg(F.min("week").alias("cohort"))
    joined = acts.join(first, "user_id").select(
        "user_id", "cohort", (F.col("week") - F.col("cohort")).alias("k")
    )
    sizes = first.groupBy("cohort").agg(
        F.count_distinct("user_id").alias("cohort_users")
    )
    cells = joined.groupBy("cohort", "k").agg(
        F.count_distinct("user_id").alias("active_users")
    )
    return cells.join(sizes, "cohort").select(
        "cohort",
        "k",
        "active_users",
        "cohort_users",
        (F.col("active_users") * 1000 / F.col("cohort_users"))
        .cast("long")
        .alias("retention_pm"),
    )


def q_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sessionization: lag + gap-flag + running sum — the batch analog of
    the streaming session window."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap = F.col("ts").cast("timestamp_ntz") - F.lag("ts").over(w)
    new_sess = F.when(
        F.lag("ts").over(w).isNull()
        | (F.col("ts") > F.lag("ts").over(w) + F.make_dt_interval(mins=F.lit(C.SESSION_GAP_MIN))),
        1,
    ).otherwise(0)
    sess = ev.withColumn("new_sess", new_sess).withColumn(
        "session_id",
        F.sum("new_sess").over(w.rowsBetween(Window.unboundedPreceding, 0)),
    )
    return sess.groupBy("user_id").agg(
        F.max("session_id").alias("n_sessions"),
        F.count(F.lit(1)).alias("n_events"),
    )


def q_funnel_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered funnel (click -> view -> purchase) per user over the
    first-days window: one shuffle, sorted-array state-machine scan —
    no N-pass self-joins. (Unwindowed, every synthetic user converts;
    the cutoff spreads users across stages 0-3.)"""
    from trollflow2_spark.extensions.windows import funnel_stages

    ev = load_table(spark, sf_dir, "events").filter(
        F.col("ts") < F.lit(C.FUNNEL_TS_MAX).cast("timestamp_ntz")
    )
    return funnel_stages(ev, steps=list(C.FUNNEL_STEPS))


def q_event_counts_salted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-proof aggregation: event_type has 3 hot keys owning the
    whole table; the salted two-stage agg spreads each over 16 tasks.
    The oracle is the plain GROUP BY (salting is semantics-preserving)."""
    from trollflow2_spark.extensions.skew import salted_agg

    ev = load_table(spark, sf_dir, "events")
    return salted_agg(
        ev.select("event_type", "event_id"),
        ["event_type"],
        {
            "n_events": ("count", "event_id"),
            "first_event": ("min", "event_id"),
            "last_event": ("max", "event_id"),
        },
        salt_col="event_id",
    )


def _skewed_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew stress fixture: events replicated ``SKEW_REPLICATE``x with a
    synthetic hot key owning 50% of all rows (every even event_id maps
    to user -1). ``seq_id`` is the unique global order column.

    The base scan is repartitioned across the cluster before the
    explode for two reasons: (a) generating 9.6M rows from a
    single-file scan would otherwise serialize in 1-2 tasks, and (b)
    AQE's skew-join splitting divides a skewed reduce partition along
    MAPPER boundaries — with one mapper there is nothing to split, so a
    single-task map side silently disables the mitigation downstream
    queries demonstrate (true on any cluster whose source collapses to
    few splits)."""
    ev = load_table(spark, sf_dir, "events").repartition(
        spark.sparkContext.defaultParallelism
    )
    rep = ev.select(
        "event_id",
        "user_id",
        "event_type",
        "props",
        F.explode(F.sequence(F.lit(0), F.lit(C.SKEW_REPLICATE - 1))).alias("r"),
    )
    # the fingerprint rides the full event payload (type@props), not just
    # the type tag — the realistic session-replay row, and heavy enough
    # that the hot key's single-task cost dominates the shared scan
    return rep.select(
        (F.col("event_id") * C.SKEW_REPLICATE + F.col("r")).alias("seq_id"),
        F.when(F.col("event_id") % 2 == 0, F.lit(-1))
        .otherwise(F.col("user_id"))
        .alias("skew_user"),
        F.concat_ws("@", "event_type", "props").alias("payload"),
    )


def q_skew_seq_plain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered event-sequence fingerprint per user on the hot-key
    fixture, single-stage groupBy: collect_list has no map-side
    reduction, so the hot key's full history lands in ONE reduce task —
    the benched skew baseline the salted twin must beat."""
    from trollflow2_spark.extensions.skew import sequence_fingerprint

    out = sequence_fingerprint(
        _skewed_events(spark, sf_dir), "skew_user", "seq_id", "payload"
    )
    # the length gate is a tautology (md5 is always 32 hex chars) but it
    # anchors seq_hash in the plan: under a bare count() Catalyst would
    # otherwise prune the whole fingerprint computation and the bench
    # would measure an empty aggregate
    return out.filter(F.length("seq_hash") == 32)


def q_skew_seq_salted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The salted two-stage twin of ``skew_seq_plain``, digest-chained:
    stage 1 md5-fingerprints contiguous seq_id ranges per (user, bucket)
    — the hot key spreads over range/width tasks — and stage 2 hashes
    the 32-char bucket digests in bucket order (= global order, buckets
    are contiguous). Stage 2 carries O(n_buckets x 32) bytes per key,
    never the key's full payload, so no task re-concentrates the hot
    key at any scale. Oracle: DuckDB replays the md5-of-md5s chain."""
    from trollflow2_spark.extensions.skew import sequence_fingerprint

    out = sequence_fingerprint(
        _skewed_events(spark, sf_dir),
        "skew_user",
        "seq_id",
        "payload",
        bucket_width=C.SKEW_BUCKET_WIDTH,
    )
    return out.filter(F.length("seq_hash") == 32)  # anti-pruning anchor


def q_skew_join_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skewed fact-to-dim join: the hot key owns 50% of the fact side;
    the dim is hinted ``merge`` so the join actually shuffles (the
    broadcast fast-path would hide the very skew this query stresses —
    at 100 TB the dim side of such a join is often too big to
    broadcast). With AQE skew-join splitting ON the hot partition
    splits into advisory-sized sub-tasks; OFF, one task sorts and joins
    half the fixture. ``bench.py`` runs this query under both settings
    as a stress pair. The trailing groupBy rides a fresh key (``w``) so
    the skew split never needs to be coalesced back for the
    aggregation. Oracle: plain SQL join + GROUP BY — AQE skew handling
    is semantics-preserving.

    The fact payload carries a per-row md5 suffix on purpose: AQE
    detects skew from COMPRESSED map-output sizes, and the replicated
    fixture's repetitive payload compresses ~100:1, hiding the hot
    partition from the detector (a real finding — replication-heavy
    fixtures under-report skew). The incompressible suffix restores
    the realistic byte profile of unique event payloads."""
    sk = _skewed_events(spark, sf_dir).withColumn(
        "payload",
        F.concat_ws("#", F.col("payload"), F.md5(F.col("seq_id").cast("string"))),
    )
    # the dim: every customer key (events.user_id's domain) plus the
    # synthetic hot key. Built WITHOUT an aggregation on purpose: AQE's
    # OptimizeSkewedJoin only matches a sort-merge join whose children
    # are both sort-over-shuffle-stage; a distinct's trailing
    # HashAggregate under the Sort would silently disable the very skew
    # split this query stresses (a scan-shaped dim is also the
    # realistic 100 TB shape — profiles are tables, not derived aggs).
    cust = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("skew_user")
    )
    hot = spark.range(1).select(F.lit(-1).cast("bigint").alias("skew_user"))
    profile = cust.unionAll(hot).withColumn(
        "w", F.pmod(F.col("skew_user") + F.lit(1000003), F.lit(7)) + 1
    )
    joined = sk.join(profile.hint("merge"), "skew_user")
    return joined.groupBy("w").agg(
        F.sum(F.length("payload")).alias("payload_bytes"),
        F.count(F.lit(1)).alias("n_events"),
    )


# ---------------------------------------------------------------------------
# Joins / spatial (resample family)


def q_nearest_join_asof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nearest-neighbor resample in 1-D (time): for each 'error' event the
    nearest 'click' within the radius — bucketed equi-join + window top-1.
    """
    ev = load_table(spark, sf_dir, "events").withColumn(
        "epoch", F.unix_timestamp(F.col("ts").cast("timestamp")).cast("double")
    )
    target = ev.filter(F.col("event_type") == "error").select(
        F.col("event_id").alias("t_id"), F.col("epoch").alias("t_epoch")
    )
    source = ev.filter(F.col("event_type") == "click").select(
        F.col("event_id").alias("s_id"), F.col("epoch").alias("s_epoch")
    )
    out = nearest_join_1d(
        target,
        source,
        "t_epoch",
        "s_epoch",
        C.NEAREST_RADIUS_SEC,
        tie_breaker=F.col("src_s_id").asc(),
    )
    return out.select(
        "t_id",
        F.col("src_s_id").alias("nearest_click_id"),
        F.col("__dist").cast("long").alias("dist_sec"),
    )


def q_weighted_resample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted (EWA-style) resample: inverse-distance-weighted click
    values at error-event timestamps."""
    ev = load_table(spark, sf_dir, "events").withColumn(
        "epoch", F.unix_timestamp(F.col("ts").cast("timestamp")).cast("double")
    )
    target = ev.filter(F.col("event_type") == "error").select(
        F.col("event_id").alias("t_id"), F.col("epoch").alias("t_epoch")
    )
    source = ev.filter(F.col("event_type") == "click").select(
        F.col("epoch").alias("s_epoch"), F.col("value").alias("s_value")
    )
    out = weighted_resample_1d(
        target, source, "t_epoch", "s_epoch", "s_value", C.NEAREST_RADIUS_SEC
    )
    return out.select(
        "t_id",
        F.round(F.col("s_value_resampled"), 4).alias("resampled_value"),
        "n_neighbors",
    )


def _xy_points(ev: DataFrame, etype: str, id_alias: str) -> DataFrame:
    """Deterministic synthetic 2-D points from event ids (both engines
    derive identical coordinates)."""
    return ev.filter(F.col("event_type") == etype).select(
        F.col("event_id").alias(id_alias),
        (F.col("user_id") % C.R2D_XMOD).cast("double").alias("x"),
        (F.col("event_id") % C.R2D_YMOD).cast("double").alias("y"),
    )


def q_resample_2d_nearest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """2-D grid nearest-neighbor resample (the default 'nearest'
    resampler): purchase points resampled onto click points via the
    cell-bucketed equi-join + window top-1. Targets with no source within
    the radius are dropped (miss -> fill handled by the caller)."""
    ev = load_table(spark, sf_dir, "events")
    target = _xy_points(ev, "purchase", "t_id")
    source = _xy_points(ev, "click", "s_id")
    out = nearest_join_2d(
        target,
        source,
        coords=("x", "y"),
        radius=C.R2D_RADIUS,
        tie_breakers=[F.col("src_s_id").asc()],
        how="inner",
    )
    return out.select(
        "t_id",
        F.col("src_s_id").alias("nearest_id"),
        F.round(F.col("__dist"), 6).alias("dist"),
    )


def q_coverage_real(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ephemeris-backed pass/area coverage: the closed-form circular
    sun-synchronous orbit's ground track (16 one-minute samples) swept
    against a 12x12 sample grid per region-keyed area box; a box is kept
    when the swath covers >= COVERAGE_MIN_PCT of it
    (≙ trollsched ``Pass.area_coverage`` in ``covers``,
    ``plugins/__init__.py:582-684``). All orbit scalars are precomputed
    Python constants shared with the oracle, so only per-row trig runs
    engine-side; the row count is track x grid x areas (config-sized
    broadcasts, no data shuffle)."""
    G = C.COV_GRID_N
    k = F.col("id").cast("double")
    u = F.lit(C.COV_U_STEP) * k
    track = spark.range(C.COV_TRACK_N).select(
        F.degrees(F.asin(F.lit(C.COV_SIN_INCL) * F.sin(u))).alias("lat_s"),
        (
            F.lit(C.COV_NODE_LON)
            + F.degrees(F.atan2(F.lit(C.COV_COS_INCL) * F.sin(u), F.cos(u)))
            - F.lit(C.COV_DRIFT_STEP) * k
        ).alias("lon_s"),
    )
    grid = spark.range(G * G).select(
        (F.col("id") % G).alias("gi"), F.floor(F.col("id") / G).alias("gj")
    )
    reg = load_table(spark, sf_dir, "region").select("r_regionkey", "r_name")
    pts = reg.crossJoin(F.broadcast(grid)).select(
        "r_name",
        "gi",
        "gj",
        (
            (F.col("r_regionkey") * 60 - 150)
            + (F.col("gi") + F.lit(0.5)) * F.lit(40.0) / F.lit(float(G))
        ).alias("lon_g"),
        (
            (F.col("r_regionkey") * 25 - 60)
            + (F.col("gj") + F.lit(0.5)) * F.lit(30.0) / F.lit(float(G))
        ).alias("lat_g"),
    )
    cosang = (
        F.sin(F.radians(F.col("lat_g"))) * F.sin(F.radians(F.col("lat_s")))
        + F.cos(F.radians(F.col("lat_g")))
        * F.cos(F.radians(F.col("lat_s")))
        * F.cos(F.radians(F.col("lon_g") - F.col("lon_s")))
    )
    ang = F.acos(F.greatest(F.lit(-1.0), F.least(F.lit(1.0), cosang)))
    covered = F.when(
        F.round(ang, 6) <= F.lit(C.COV_HALF_SWATH_RAD), F.lit(1)
    ).otherwise(F.lit(0))
    per_point = (
        pts.crossJoin(F.broadcast(track))
        .groupBy("r_name", "gi", "gj")
        .agg(F.max(covered).alias("covered"))
    )
    pct = F.round(F.lit(100.0) * F.sum("covered") / F.lit(G * G), 4)
    return (
        per_point.groupBy("r_name")
        .agg(pct.alias("coverage_pct"))
        .withColumn("kept", F.col("coverage_pct") >= F.lit(C.COVERAGE_MIN_PCT))
    )


def q_resample_coarsest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """use_coarsest_area semantics as a query: bands (event types) carry
    per-band resolution metadata (click=1, view=2, purchase=4); the
    target grid resolution is picked by an agg over that metadata
    (max -> coarsest, ≙ ``scn.coarsest_area()``,
    ``plugins/__init__.py:171-198``) and every band's pixels roll up
    onto the chosen grid. The scalar is a 1-row broadcast, never a
    driver loop."""
    ev = load_table(spark, sf_dir, "events")
    res = (
        F.when(F.col("event_type") == "click", 1)
        .when(F.col("event_type") == "view", 2)
        .otherwise(4)
        .cast("int")
    )
    pts = ev.filter(
        F.col("event_type").isin("click", "view", "purchase")
    ).select(
        F.col("event_type").alias("band"),
        res.alias("res"),
        (F.col("user_id") % C.R2D_XMOD).cast("double").alias("x"),
        (F.col("event_id") % C.R2D_YMOD).cast("double").alias("y"),
        "value",
    )
    target_res = pts.agg(F.max("res").alias("target_res"))
    return (
        pts.crossJoin(F.broadcast(target_res))
        .groupBy(
            "band",
            F.floor(F.col("y") / F.col("target_res")).cast("int").alias("t_row"),
            F.floor(F.col("x") / F.col("target_res")).cast("int").alias("t_col"),
        )
        .agg(
            dsum(F.col("value")).alias("value_sum"),
            F.count(F.lit(1)).alias("n_points"),
        )
    )


def q_weighted_resample_2d(spark: SparkSession, sf_dir: str) -> DataFrame:
    """2-D weighted (bilinear-style inverse-distance) resample: click
    values aggregated onto purchase points with 1/d weights over the
    bucketed cell join (``RESAMPLER_DEFAULT_OPTIONS`` kernels,
    ``plugins/__init__.py:133-148``)."""
    from trollflow2_spark.operators.resample import weighted_resample_2d

    ev = load_table(spark, sf_dir, "events")
    target = _xy_points(ev, "purchase", "t_id")
    source = ev.filter(F.col("event_type") == "click").select(
        (F.col("user_id") % C.R2D_XMOD).cast("double").alias("x"),
        (F.col("event_id") % C.R2D_YMOD).cast("double").alias("y"),
        "value",
    )
    out = weighted_resample_2d(
        target,
        source,
        coords=("x", "y"),
        value_cols=["value"],
        radius=C.R2D_RADIUS,
        kernel="inverse",
        target_id="t_id",
    )
    return out.select(
        "t_id",
        F.round(F.col("value_resampled"), 4).alias("resampled_value"),
        "n_neighbors",
    )


def q_resample_grid_mapped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grid->grid nearest resample through the precomputed broadcast
    mapping table (the 100 TB path: one BroadcastHashJoin on the source
    pixel index, no explode, no shuffle of the source side).

    Source grid: events aggregated onto a 64x48 unit grid. Target grid:
    32x24 at 2x pixel size with origin 0.3 (offset avoids ties), whose
    nearest source pixel is (2*t+1) per axis — the oracle states that
    closed form directly.
    """
    from trollflow2_spark.operators.resample import (
        GridArea,
        grid_to_grid_mapping,
        resample_nearest_mapped,
    )

    ev = load_table(spark, sf_dir, "events")
    src = ev.groupBy(
        (F.col("event_id") % C.GRID_SRC_H).cast("int").alias("s_row"),
        (F.col("user_id") % C.GRID_SRC_W).cast("int").alias("s_col"),
    ).agg(
        dsum(F.col("value")).alias("value_sum"),  # decimal-exact, order-free
        F.count(F.lit(1)).alias("n_points"),
    )
    mapping = grid_to_grid_mapping(
        spark,
        target=GridArea("tgt", C.GRID_TGT_W, C.GRID_TGT_H, 0.3, 0.3, 2.0, 2.0),
        source=GridArea("src", C.GRID_SRC_W, C.GRID_SRC_H, 0.0, 0.0, 1.0, 1.0),
        radius=2.0,
    )
    out = resample_nearest_mapped(src, mapping)
    return out.select("t_row", "t_col", "value_sum", "n_points")


def q_resample_2d_nearest_left(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left-mode 2-D nearest resample: every target pixel is kept; a
    target with no source within the (deliberately small) radius gets
    NULL nearest_id/dist — the miss -> fill-value semantics of the
    reference's ``radius_of_influence`` (``plugins/__init__.py:149-156``).
    Also exercises the caller-supplied unique ``target_id`` window key.
    """
    ev = load_table(spark, sf_dir, "events")
    target = _xy_points(ev, "purchase", "t_id")
    source = _xy_points(ev, "click", "s_id")
    out = nearest_join_2d(
        target,
        source,
        coords=("x", "y"),
        radius=C.R2D_RADIUS_LEFT,
        tie_breakers=[F.col("src_s_id").asc_nulls_last()],
        how="left",
        target_id="t_id",
    )
    return out.select(
        "t_id",
        F.col("src_s_id").alias("nearest_id"),
        F.round(F.col("__dist"), 6).alias("dist"),
    )


def q_sunlight_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """check_sunlight_coverage semantics: per group ("area"), the percent
    of its sample points inside the sunlit hemisphere (SZA < 90 deg);
    keep groups within the configured [min, max] band. The per-area
    cached coverage of the reference becomes one aggregate row per group
    that downstream joins broadcast."""
    ev = load_table(spark, sf_dir, "events")
    lon = (F.col("user_id") % 360 - 180).cast("double")
    lat = (F.col("user_id") % 180 - 90).cast("double")
    sza = F.round(sun_zenith_angle_deg(F.col("ts"), lon, lat), 4)
    cov = (
        ev.withColumn("lit_flag", F.when(sza < 90.0, 1).otherwise(0))
        .groupBy("event_type")
        .agg(
            F.round(F.avg("lit_flag") * 100.0, 4).alias("sunlight_pct"),
            F.count(F.lit(1)).alias("n_points"),
        )
    )
    return cov.filter(
        (F.col("sunlight_pct") >= C.SUNLIGHT_MIN_PCT)
        & (F.col("sunlight_pct") <= C.SUNLIGHT_MAX_PCT)
    )


def q_overview_pyramid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """add_overviews analog: multi-level overview pyramid as a union of
    block aggregations at growing factors (each level is a map-side
    combinable hash agg; levels are independent so they parallelize)."""
    ev = load_table(spark, sf_dir, "events")
    levels = []
    for f in C.PYRAMID_FACTORS:
        lvl = block_aggregate(ev, {"event_id": f}, ["value"], agg="avg").select(
            F.lit(int(f)).alias("level"),
            F.col("event_id_block").alias("block"),
            F.round(F.col("value_avg"), 6).alias("value_avg"),
            "n_rows",
        )
        levels.append(lvl)
    out = levels[0]
    for lvl in levels[1:]:
        out = out.unionAll(lvl)
    return out


def q_native_upsample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """'native' resampler integer upsampling: each aggregated block is
    replicated factor x (explode over a generated offset sequence — the
    inverse of block_aggregate, no shuffle beyond the agg itself)."""
    ev = load_table(spark, sf_dir, "events")
    f = C.UPSAMPLE_FACTOR
    agg = block_aggregate(ev, {"event_id": 64}, ["value"], agg="avg")
    return agg.select(
        F.col("event_id_block").alias("block"),
        F.explode(F.sequence(F.lit(0), F.lit(f - 1))).alias("offset"),
        F.round(F.col("value_avg"), 6).alias("value"),
    ).select(
        (F.col("block") * f + F.col("offset")).alias("up_id"),
        "block",
        "offset",
        "value",
    )


def q_pair_similarity_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Image-text pair curation
    (`extensions/similarity.py:embedding_pair_gate`): the LAION/CLIP
    recipe — keep a multimodal pair only when its two embeddings
    agree. Fixture: the embeddings table is the 'image' side; the
    'caption' side is the same vector nudged by a tiny deterministic
    perturbation (aligned pairs, cos ~ 1) except every 4th doc, whose
    caption is the REVERSED vector (a mismatched pair, cos ~ 0).
    pair_cos rounds to 6 BEFORE the 0.8 gate on both engines, so the
    filter compares identical doubles. One fused cosine fold per row,
    zero shuffle beyond the doc-embedding equi-join."""
    from trollflow2_spark.extensions.similarity import embedding_pair_gate

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "source")
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", "embedding"
    )
    pairs = docs.join(emb, docs["doc_id"] == emb["vec_id"]).select(
        "doc_id", "source", "embedding"
    )
    d = F.col("doc_id")
    caption = F.when(
        d % 4 == 0,
        F.transform(F.reverse(F.col("embedding")), lambda x: x.cast("double")),
    ).otherwise(
        F.transform(
            F.col("embedding"),
            lambda x, i: x.cast("double")
            + ((d + i) % 7 - 3).cast("double") * 0.01,
        )
    )
    gated = embedding_pair_gate(
        pairs.select(
            "doc_id",
            "source",
            F.col("embedding").alias("vec_a"),
            caption.alias("vec_b"),
        ),
        threshold=0.8,
    )
    return gated.select("doc_id", "source", "pair_cos", "kept")


def q_embedding_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    return embedding_neardup_pairs(
        emb, threshold=C.NEARDUP_THRESHOLD, n_bits=C.NEARDUP_BITS
    )


def q_minhash_lsh_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Banded-LSH candidate pairs off the minhash signatures (the
    candidate-generation half of minhash dedup; ngram_jaccard then
    verifies)."""
    docs = load_table(spark, sf_dir, "documents")
    sigs = minhash_signatures(
        docs,
        shingle_words=C.MINHASH_SHINGLE_WORDS,
        num_hashes=C.MINHASH_NUM_HASHES,
    )
    # the oracle states the plain drop-guard semantics (no salting):
    # salt_threshold == max_bucket == 1000 reproduces it exactly; salted
    # sub-bucketing is pinned by tests/test_extensions.py instead
    return lsh_candidate_pairs(
        sigs,
        num_hashes=C.MINHASH_NUM_HASHES,
        bands=C.MINHASH_BANDS,
        max_bucket=1000,
        salt_threshold=1000,
    )


def q_minhash_lsh_pairs_fast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The PRODUCTION dedup candidate path: same plan shape as
    ``minhash_lsh_pairs`` but with the injectable ``fast_hash64``
    (JVM-native xxhash64 — one codegen'd call per shingle-hash instead
    of the md5 family, and bigint band buckets instead of 32-char
    digests). No DuckDB twin exists for xxhash64, so this is a
    rows-only/bench entry quantifying what the portable oracle hash
    costs; recall equivalence of the two hash families is pinned by
    tests/test_extensions.py::test_fast_hash_mode_same_dups_no_md5."""
    docs = load_table(spark, sf_dir, "documents")
    sigs = minhash_signatures(
        docs,
        shingle_words=C.MINHASH_SHINGLE_WORDS,
        num_hashes=C.MINHASH_NUM_HASHES,
        hash_fn=fast_hash64,
    )
    return lsh_candidate_pairs(
        sigs,
        num_hashes=C.MINHASH_NUM_HASHES,
        bands=C.MINHASH_BANDS,
        max_bucket=1000,
        salt_threshold=1000,
        hash_fn=fast_hash64,
    )


def _corpus_batch_split(spark: SparkSession, sf_dir: str, spread: bool = False):
    """Incremental-dedup fixture: every 10th doc is the 'new batch', the
    rest are the existing corpus. ``spread=True`` spreads an under-split
    scan — worth it only for the minhash-signature consumers, whose
    shingling dominates; the exact-dedup md5 path is too cheap to repay
    a repartition."""
    docs = load_table(spark, sf_dir, "documents")
    if spread:
        docs = _spread(docs)
    return (
        docs.filter(F.col("doc_id") % 10 != 0),
        docs.filter(F.col("doc_id") % 10 == 0),
    )


def _spread(df: DataFrame) -> DataFrame:
    """Repartition ONLY when the scan under-splits the cluster — the
    single-local-file case here, or a handful of huge unsplittable
    files in production (where post-read repartition is the standard
    fix). When a many-file scan already saturates the cluster this is
    a no-op: no shuffle is added at full scale, so map-heavy pipelines
    keep their scan-stage locality."""
    spark = df.sparkSession
    p = spark.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < p:
        return df.repartition(p)
    return df


def _blob_spread(df: DataFrame) -> DataFrame:
    """Decode parallelism for the persisted iceberg/delta blob stores:
    repartition to an eighth of the session's shuffle-partition
    setting (floor 4) before the persist. Scale-adaptive, not the
    former literal 4 — a production session sizes shuffle partitions
    to the cluster, and the literal capped every decode pass at 4
    tasks on a larger store (r15 ADVICE) — but deliberately BELOW the
    full shuffle setting: several passes re-read this small cached
    table per query, and each pays per-task scheduling on every
    cached partition (full-width 32 measured +53 % on
    iceberg_eq_deletes vs 4-way locally)."""
    parts = max(
        4,
        int(
            df.sparkSession.conf.get(
                "spark.sql.shuffle.partitions", "32"
            )
        )
        // 8,
    )
    return df.repartition(parts)


def q_warc_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WARC (Common Crawl shape) ingestion + HTML->text: deterministic
    per-doc WARC files — gzip members, request+response records, HTTP
    envelopes — parsed executor-side, response payloads stripped to
    text by the JVM-side regexp chain. The oracle knows the extracted
    text closed-form."""
    from trollflow2_spark.extensions.warc import html_to_text, parse_warc_bytes

    docs = load_table(spark, sf_dir, "documents").select("doc_id").repartition(
        spark.sparkContext.defaultParallelism
    )
    out_schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("n_records", T.IntegerType()),
            T.StructField("http_status", T.IntegerType()),
            T.StructField("content_type", T.StringType()),
            T.StructField("payload", T.BinaryType()),
        ]
    )

    def make_and_parse(batches):
        import gzip

        import pandas as pd

        for pdf in batches:
            rows = []
            for d in pdf["doc_id"]:
                d = int(d)
                html = (
                    "<html><head><script>skip();</script>"
                    "<style>p{}</style></head>"
                    f"<body><!-- c --><h1>Doc {d}</h1>"
                    f"<p>alpha &amp; beta {d % 7}</p></body></html>"
                ).encode()
                http = (
                    b"HTTP/1.1 200 OK\r\ncontent-type: text/html\r\n\r\n"
                    + html
                )
                recs = []
                for wtype, body in [(b"request", b"GET / HTTP/1.1"), (b"response", http)]:
                    recs.append(
                        b"WARC/1.0\r\nWARC-Type: " + wtype
                        + f"\r\nWARC-Target-URI: http://x/{d}".encode()
                        + b"\r\nWARC-Date: 2024-01-15T12:00:00Z"
                        + f"\r\nContent-Length: {len(body)}".encode()
                        + b"\r\n\r\n" + body + b"\r\n\r\n"
                    )
                # one gzip member per record, the real crawl layout
                blob = b"".join(gzip.compress(r) for r in recs)
                parsed = parse_warc_bytes(blob, f"doc{d}.warc.gz")
                resp = [r for r in parsed if r["warc_type"] == "response"]
                rows.append(
                    (
                        d,
                        len(parsed),
                        resp[0]["http_status"],
                        resp[0]["content_type"],
                        resp[0]["payload"],
                    )
                )
            yield pd.DataFrame(
                rows,
                columns=[
                    "doc_id", "n_records", "http_status", "content_type",
                    "payload",
                ],
            )

    parsed = docs.mapInPandas(make_and_parse, out_schema)
    text = html_to_text(F.col("payload").cast("string"))
    return parsed.select(
        "doc_id",
        "n_records",
        "http_status",
        "content_type",
        text.alias("text"),
        F.length(text).alias("text_len"),
    )


def q_warc_ingest_zst(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The .warc.zst intake route (Common Crawl's current distribution
    format): the same deterministic WARC records as ``warc_ingest``,
    but containerized as concatenated ZSTD frames and decoded by the
    repo's from-scratch RFC 8878 decoder inside the parse kernel. The
    fixture frames are STORE-mode (spec-valid raw blocks — any zstd
    implementation reads them); REAL compressed-frame decoding is
    conformance-pinned against libzstd in tests."""
    from trollflow2_spark.extensions.warc import html_to_text, parse_warc_bytes

    docs = load_table(spark, sf_dir, "documents").select("doc_id").repartition(
        spark.sparkContext.defaultParallelism
    )
    out_schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("n_records", T.IntegerType()),
            T.StructField("http_status", T.IntegerType()),
            T.StructField("content_type", T.StringType()),
            T.StructField("payload", T.BinaryType()),
        ]
    )

    def make_and_parse(batches):
        import pandas as pd

        from trollflow2_spark.sources.zstdcodec import zstd_compress_store

        for pdf in batches:
            rows = []
            for d in pdf["doc_id"]:
                d = int(d)
                html = (
                    "<html><head><script>skip();</script>"
                    "<style>p{}</style></head>"
                    f"<body><!-- c --><h1>Doc {d}</h1>"
                    f"<p>alpha &amp; beta {d % 7}</p></body></html>"
                ).encode()
                http = (
                    b"HTTP/1.1 200 OK\r\ncontent-type: text/html\r\n\r\n"
                    + html
                )
                recs = []
                for wtype, body in [
                    (b"request", b"GET / HTTP/1.1"),
                    (b"response", http),
                ]:
                    recs.append(
                        b"WARC/1.0\r\nWARC-Type: " + wtype
                        + f"\r\nWARC-Target-URI: http://x/{d}".encode()
                        + b"\r\nWARC-Date: 2024-01-15T12:00:00Z"
                        + f"\r\nContent-Length: {len(body)}".encode()
                        + b"\r\n\r\n" + body + b"\r\n\r\n"
                    )
                # one zstd frame per record, the .warc.zst layout
                blob = b"".join(zstd_compress_store(r) for r in recs)
                parsed = parse_warc_bytes(blob, f"doc{d}.warc.zst")
                resp = [r for r in parsed if r["warc_type"] == "response"]
                rows.append(
                    (
                        d,
                        len(parsed),
                        resp[0]["http_status"],
                        resp[0]["content_type"],
                        resp[0]["payload"],
                    )
                )
            yield pd.DataFrame(
                rows,
                columns=[
                    "doc_id", "n_records", "http_status", "content_type",
                    "payload",
                ],
            )

    parsed = docs.mapInPandas(make_and_parse, out_schema)
    text = html_to_text(F.col("payload").cast("string"))
    return parsed.select(
        "doc_id",
        "n_records",
        "http_status",
        "content_type",
        text.alias("text"),
        F.length(text).alias("text_len"),
    )


def q_warc_ingest_br(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ``content-encoding: br`` intake route: the same
    deterministic WARC records as ``warc_ingest``, but the HTTP
    response BODY is brotli-compressed and the intake decodes it with
    the repo's from-scratch RFC 7932 decoder inside the parse kernel
    (``warc.py:_parse_http``). The fixture streams are store-mode
    (spec-valid uncompressed meta-blocks — any brotli implementation
    reads them, cross-checked against libbrotlidec in tests); REAL
    compressed-stream decoding is conformance-pinned against
    libbrotlienc across qualities in ``test_brotli_conformance.py``."""
    from trollflow2_spark.extensions.warc import html_to_text, parse_warc_bytes

    docs = load_table(spark, sf_dir, "documents").select("doc_id").repartition(
        spark.sparkContext.defaultParallelism
    )
    out_schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("n_records", T.IntegerType()),
            T.StructField("http_status", T.IntegerType()),
            T.StructField("content_type", T.StringType()),
            T.StructField("payload", T.BinaryType()),
        ]
    )

    def make_and_parse(batches):
        import pandas as pd

        from trollflow2_spark.extensions.brotlicodec import brotli_compress_store

        for pdf in batches:
            rows = []
            for d in pdf["doc_id"]:
                d = int(d)
                html = (
                    "<html><head><script>skip();</script>"
                    "<style>p{}</style></head>"
                    f"<body><!-- c --><h1>Doc {d}</h1>"
                    f"<p>alpha &amp; beta {d % 7}</p></body></html>"
                ).encode()
                http = (
                    b"HTTP/1.1 200 OK\r\ncontent-type: text/html\r\n"
                    b"content-encoding: br\r\n\r\n"
                    + brotli_compress_store(html)
                )
                recs = []
                for wtype, body in [
                    (b"request", b"GET / HTTP/1.1"),
                    (b"response", http),
                ]:
                    recs.append(
                        b"WARC/1.0\r\nWARC-Type: " + wtype
                        + f"\r\nWARC-Target-URI: http://x/{d}".encode()
                        + b"\r\nWARC-Date: 2024-01-15T12:00:00Z"
                        + f"\r\nContent-Length: {len(body)}".encode()
                        + b"\r\n\r\n" + body + b"\r\n\r\n"
                    )
                blob = b"".join(recs)
                parsed = parse_warc_bytes(blob, f"doc{d}.warc")
                resp = [r for r in parsed if r["warc_type"] == "response"]
                rows.append(
                    (
                        d,
                        len(parsed),
                        resp[0]["http_status"],
                        resp[0]["content_type"],
                        resp[0]["payload"],
                    )
                )
            yield pd.DataFrame(
                rows,
                columns=[
                    "doc_id", "n_records", "http_status", "content_type",
                    "payload",
                ],
            )

    parsed = docs.mapInPandas(make_and_parse, out_schema)
    text = html_to_text(F.col("payload").cast("string"))
    return parsed.select(
        "doc_id",
        "n_records",
        "http_status",
        "content_type",
        text.alias("text"),
        F.length(text).alias("text_len"),
    )


def _warc_fixture_records(spark, sf_dir, build_records):
    """Shared planted-WARC harness: per doc_id, ``build_records(d)``
    returns [(warc_type, extra_headers, content_type, body)] record
    specs; the kernel assembles spec-shaped gzip-member WARC bytes and
    round-trips them through the REAL parser — same discipline as
    ``warc_ingest``, reused by the WET/WAT sidecar contracts."""
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id"
    ).repartition(spark.sparkContext.defaultParallelism)
    out_schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("warc_type", T.StringType()),
            T.StructField("warc_target_uri", T.StringType()),
            T.StructField("warc_date", T.StringType()),
            T.StructField("content_type", T.StringType()),
            T.StructField("payload", T.BinaryType()),
        ]
    )

    def kernel(batches):
        import gzip

        import pandas as pd

        from trollflow2_spark.extensions.warc import parse_warc_bytes

        for pdf in batches:
            rows = []
            for d in pdf["doc_id"]:
                d = int(d)
                recs = []
                for wtype, headers, ctype, body in build_records(d):
                    hdr = (
                        b"WARC/1.0\r\nWARC-Type: " + wtype.encode()
                        + b"\r\nWARC-Date: 2024-01-15T12:00:00Z"
                        + b"\r\nContent-Type: " + ctype.encode()
                    )
                    for k, v in headers.items():
                        hdr += f"\r\n{k}: {v}".encode()
                    hdr += f"\r\nContent-Length: {len(body)}".encode()
                    recs.append(hdr + b"\r\n\r\n" + body + b"\r\n\r\n")
                blob = b"".join(gzip.compress(r) for r in recs)
                for r in parse_warc_bytes(blob, f"doc{d}.wet.gz"):
                    rows.append(
                        (
                            d,
                            r["warc_type"],
                            r["warc_target_uri"],
                            r["warc_date"],
                            r["content_type"],
                            r["payload"],
                        )
                    )
            yield pd.DataFrame(
                rows,
                columns=[
                    "doc_id", "warc_type", "warc_target_uri",
                    "warc_date", "content_type", "payload",
                ],
            )

    return docs.mapInPandas(kernel, out_schema)


def q_wet_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WET sidecar intake (Common Crawl's extracted-text distribution):
    deterministic per-doc .wet.gz files — a warcinfo record plus a
    ``conversion`` record whose payload IS the page text — round-trip
    the real WARC parser executor-side, then the ``wet_text``
    projection keeps conversion records only and derives text length +
    non-empty line count Column-side. The oracle states the planted
    text closed-form; the warcinfo row vanishing is implicit in the
    row count."""
    from trollflow2_spark.extensions.warc import wet_text

    def build(d):
        text = (
            f"Doc {d} conversion\nalpha {d % 7} beta\n\ngamma {d % 3}\n"
        )
        return [
            (
                "warcinfo",
                {},
                "application/warc-fields",
                b"software: tf2-spark\r\n",
            ),
            (
                "conversion",
                {"WARC-Target-URI":
                 f"http://site{d % 20}.com/p/{d}"},
                "text/plain",
                text.encode(),
            ),
        ]

    recs = _warc_fixture_records(spark, sf_dir, build)
    return wet_text(recs).select(
        "doc_id",
        F.col("warc_target_uri").alias("url"),
        "text",
        "text_len",
        "n_lines",
    )


def q_warc_charset(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Charset-aware text intake (`extensions/warc.py:decoded_text`): the
    crawl reality the UTF-8-only cast loses. Planted response records
    cycle five charset situations — windows-1252 and Shift_JIS
    declared in the HTTP Content-Type header, ISO-8859-1 declared only
    by a <meta charset> tag (folded to cp1252 per WHATWG, the browser
    behavior), a UTF-8 BOM with no declaration anywhere, a bare
    UTF-8 default, and a LYING header (genuine multi-byte UTF-8
    declared iso-8859-1) that strict-UTF-8 detection overrides with
    charset_source='detected'  — each with non-ASCII text that mojibakes under a
    plain cast. The real HTTP envelope parse supplies the header path;
    resolution order header -> meta -> BOM -> default is observable in
    charset_source. The oracle restates the decoded UTF-8 text, the
    resolved codec and the source closed-form per doc_id."""
    from trollflow2_spark.extensions.warc import decoded_text

    def build(d):
        m = d % 6
        if m == 0:
            body = f"Prix {d % 7} € — “déjà vu”".encode("cp1252")
            ctype = "text/html; charset=windows-1252"
        elif m == 1:
            body = f"日本語 {d % 7} 円です".encode("shift_jis")
            ctype = "text/html; charset=Shift_JIS"
        elif m == 2:
            body = (
                "<html><head><meta charset=iso-8859-1></head>"
                f"<body>café niño {d % 7}</body></html>"
            ).encode("latin-1")
            ctype = "text/html"
        elif m == 3:
            body = b"\xef\xbb\xbf" + (
                f"BOM doc {d % 7} ✓ 中文".encode("utf-8")
            )
            ctype = "text/html"
        elif m == 4:
            body = f"plain {d % 7} naïve text".encode("utf-8")
            ctype = "text/html"
        else:
            # the lying header: genuine multi-byte UTF-8 declared as
            # ISO-8859-1 — strict-UTF-8 detection must override
            body = f"lied {d % 7} übergröße 中".encode("utf-8")
            ctype = "text/html; charset=iso-8859-1"
        http = (
            b"HTTP/1.1 200 OK\r\nContent-Type: " + ctype.encode()
            + b"\r\n\r\n" + body
        )
        return [
            (
                "response",
                {"WARC-Target-URI": f"http://site{d % 20}.com/p/{d}"},
                "application/http; msgtype=response",
                http,
            )
        ]

    recs = _warc_fixture_records(spark, sf_dir, build)
    dec = decoded_text(recs)
    return dec.select(
        "doc_id",
        "charset",
        "charset_source",
        "decode_ok",
        "text",
        F.length("text").alias("text_len"),
    )


def q_webdataset_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WebDataset shard intake
    (`extensions/webdataset.py:read_webdataset`): LAION-style .tar
    shards become one row per sample (key = basename to the FIRST
    dot, contiguous grouping). Fixture shards carry 2 + d%2 samples
    of jpg+json(+txt — missing on every (d+j)%4==0 sample, the
    caption-less case the pair-gate tier must see); every 6th shard
    appends a NON-contiguous reuse of sample 0's key, which must
    flag dup_key=1 as its own occurrence; every 19th shard is
    truncated -> one error row. Oracle restates every sample
    closed-form."""
    from trollflow2_spark.extensions.webdataset import read_webdataset

    docs = load_table(spark, sf_dir, "documents").select("doc_id").repartition(
        spark.sparkContext.defaultParallelism
    )
    blob_schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("blob", T.BinaryType()),
        ]
    )

    def make_shards(batches):
        import pandas as pd

        from trollflow2_spark.extensions.webdataset import write_webdataset

        for pdf in batches:
            blobs = []
            for d in pdf["doc_id"]:
                d = int(d)
                samples = []
                for j in range(2 + d % 2):
                    parts = {
                        "jpg": b"J" * (10 + (d + j) % 20),
                        "json": ('{"label":%d}' % ((d + j) % 5)).encode(),
                    }
                    if (d + j) % 4 != 0:
                        parts["txt"] = f"caption {d} {j}".encode()
                    samples.append(
                        {"key": f"{d:05d}{j}", "parts": parts}
                    )
                if d % 6 == 0:
                    samples.append(
                        {"key": f"{d:05d}0", "parts": {"txt": b"extra"}}
                    )
                blob = write_webdataset(samples)
                blobs.append(blob[:100] if d % 19 == 0 else blob)
            yield pd.DataFrame({"doc_id": pdf["doc_id"], "blob": blobs})

    blobs = docs.mapInPandas(make_shards, blob_schema)
    out = read_webdataset(blobs)
    return out.select(
        "doc_id",
        F.col("error").isNotNull().cast("int").alias("err"),
        "sample_key",
        "ord",
        "n_parts",
        "exts",
        "caption",
        F.get_json_object(F.col("meta_json"), "$.label")
        .cast("int")
        .alias("meta_label"),
        "image_bytes",
        "dup_key",
    )


def q_avro_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Avro container intake (`extensions/avro.py:read_avro`): Kafka
    archives/Hadoop exports, read by the from-scratch spec reader
    (zigzag varints, blocks, VERIFIED sync markers, null + deflate
    codecs — spark-avro does not ship here). Each doc's fixture file
    holds 1 + d%3 records (record/array/union/enum/fixed fields,
    dyadic doubles) split 2-per-block so multi-block reads exercise;
    every 6th file is deflate-coded, every 11th%7 snappy-coded
    (from-scratch `extensions/snappy.py` + the spec's uncompressed-data
    CRC32); every 17th truncated -> one
    err row with rec_idx -1. r13 adds the spec's logical types to
    the record (bytes-decimal incl. negatives, date,
    timestamp-millis/micros, time-millis, uuid, and an UNKNOWN
    logicalType that must fall back to its physical long). Oracle
    restates every record closed-form."""
    from trollflow2_spark.extensions.avro import read_avro

    docs = load_table(spark, sf_dir, "documents").select("doc_id").repartition(
        spark.sparkContext.defaultParallelism
    )
    blob_schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("blob", T.BinaryType()),
        ]
    )
    avro_schema = {
        "type": "record",
        "name": "Log",
        "fields": [
            {"name": "id", "type": "long"},
            {"name": "name", "type": "string"},
            {"name": "score", "type": "double"},
            {"name": "tags", "type": {"type": "array", "items": "string"}},
            {"name": "opt", "type": ["null", "long"]},
            {"name": "kind", "type": {
                "type": "enum", "name": "K", "symbols": ["A", "B", "C"]}},
            {"name": "chk", "type": {
                "type": "fixed", "name": "F", "size": 2}},
            # r13: logical types — real exports carry these
            {"name": "amount", "type": {
                "type": "bytes", "logicalType": "decimal",
                "precision": 12, "scale": 2}},
            {"name": "day", "type": {
                "type": "int", "logicalType": "date"}},
            {"name": "ts_us", "type": {
                "type": "long", "logicalType": "timestamp-micros"}},
            {"name": "ts_ms", "type": {
                "type": "long", "logicalType": "timestamp-millis"}},
            {"name": "t_ms", "type": {
                "type": "int", "logicalType": "time-millis"}},
            {"name": "uid", "type": {
                "type": "string", "logicalType": "uuid"}},
            {"name": "raw", "type": {
                "type": "long", "logicalType": "mystery-type"}},
        ],
    }

    def make_avro(batches):
        import datetime as _dt
        import decimal as _decimal

        import pandas as pd

        from trollflow2_spark.extensions.avro import write_container

        epoch_d = _dt.date(1970, 1, 1)
        epoch_t = _dt.datetime(1970, 1, 1)

        for pdf in batches:
            blobs = []
            for d in pdf["doc_id"]:
                d = int(d)
                recs = [
                    {
                        "id": d * 10 + j,
                        "name": f"n{(d + j) % 6}",
                        "score": (d + j) * 0.5,
                        "tags": [f"t{j}", f"t{d % 3}"],
                        "opt": None if (d + j) % 4 == 0 else d + j,
                        "kind": "ABC"[(d + j) % 3],
                        "chk": bytes([d % 256, j % 256]),
                        "amount": _decimal.Decimal(
                            d * 100 + j * 7 - 5000
                        ).scaleb(-2),
                        "day": epoch_d
                        + _dt.timedelta(days=19000 + (d + j) % 400),
                        "ts_us": epoch_t
                        + _dt.timedelta(microseconds=d * 1000003 + j),
                        "ts_ms": epoch_t
                        + _dt.timedelta(milliseconds=d * 997 + j),
                        "t_ms": (
                            epoch_t
                            + _dt.timedelta(
                                milliseconds=(d * 37 + j) % 86400000
                            )
                        ).time(),
                        "uid": f"00000000-0000-4000-8000-{d % 10**12:012d}",
                        "raw": d + j,
                    }
                    for j in range(d % 3 + 1)
                ]
                codec = "null"
                if d % 6 == 0:
                    codec = "deflate"
                elif d % 11 == 7:
                    codec = "snappy"  # from-scratch block codec + CRC
                blob = write_container(
                    recs,
                    avro_schema,
                    codec=codec,
                    records_per_block=2,
                )
                blobs.append(blob[:40] if d % 17 == 0 else blob)
            yield pd.DataFrame({"doc_id": pdf["doc_id"], "blob": blobs})

    blobs = docs.mapInPandas(make_avro, blob_schema)
    parsed = read_avro(blobs)
    schema = (
        "id bigint, name string, score double, tags array<string>,"
        " opt bigint, kind string, chk string, amount string,"
        " day string, ts_us string, ts_ms string, t_ms string,"
        " uid string, raw bigint"
    )
    j = F.from_json(F.col("json"), schema)
    return parsed.select(
        "doc_id",
        "rec_idx",
        F.col("error").isNotNull().cast("int").alias("err"),
        j["id"].alias("id"),
        j["name"].alias("name"),
        j["score"].alias("score"),
        F.size(j["tags"]).alias("n_tags"),
        j["opt"].alias("opt"),
        j["kind"].alias("kind"),
        j["chk"].alias("chk_hex"),
        j["amount"].cast("double").alias("amount"),
        j["day"].alias("day"),
        j["ts_us"].alias("ts_us"),
        j["ts_ms"].alias("ts_ms"),
        j["t_ms"].alias("t_ms"),
        j["uid"].alias("uid"),
        j["raw"].alias("raw"),
    )


def q_avro_wire_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Confluent wire-format Avro intake (`extensions/avro.py::
    read_avro_wire`): Kafka-exported Avro is registry-framed — magic
    ``0x00`` + 4-byte BE schema id + one raw datum, NO container —
    far more often than it is container files; pointing the
    container reader at such blobs yields only a magic-bytes
    quarantine. Fixture: each doc is one wire message under a
    2-schema id map (d%3==0 -> schema 1 user records, else schema 2
    event records with enum + dyadic double); every 13th%5 message
    references UNKNOWN id 99 and must quarantine loudly with the
    known ids named (schema_id preserved), every 17th has a non-zero
    magic byte and quarantines with schema_id null. One Arrow pass,
    one message per row."""
    from trollflow2_spark.extensions.avro import (
        encode_wire_message,
        read_avro_wire,
    )

    docs = load_table(spark, sf_dir, "documents").select("doc_id").repartition(
        spark.sparkContext.defaultParallelism
    )
    blob_schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("blob", T.BinaryType()),
        ]
    )
    user_v1 = {
        "type": "record",
        "name": "User",
        "fields": [
            {"name": "id", "type": "long"},
            {"name": "name", "type": "string"},
        ],
    }
    event_v1 = {
        "type": "record",
        "name": "Event",
        "fields": [
            {"name": "id", "type": "long"},
            {"name": "kind", "type": {
                "type": "enum", "name": "EK",
                "symbols": ["A", "B", "C"]}},
            {"name": "val", "type": "double"},
        ],
    }
    registry = {1: user_v1, 2: event_v1}

    def make_wire(batches):
        import pandas as pd

        for pdf in batches:
            blobs = []
            for d in pdf["doc_id"]:
                d = int(d)
                if d % 3 == 0:
                    msg = encode_wire_message(
                        {"id": d, "name": f"n{d % 6}"}, 1, user_v1
                    )
                else:
                    msg = encode_wire_message(
                        {"id": d, "kind": "ABC"[d % 3], "val": d + 0.5},
                        2,
                        event_v1,
                    )
                if d % 17 == 0:
                    msg = b"\x01" + msg[1:]  # non-Confluent magic
                elif d % 13 == 5:
                    # registry id the consumer does not know
                    msg = b"\x00\x00\x00\x00\x63" + msg[5:]
                blobs.append(msg)
            yield pd.DataFrame({"doc_id": pdf["doc_id"], "blob": blobs})

    blobs = docs.mapInPandas(make_wire, blob_schema)
    return read_avro_wire(blobs, registry)


def q_eml_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Email/MIME intake (`extensions/eml.py:read_eml`): mailing-list
    corpora as RFC 5322 bytes — multipart/mixed with a
    quoted-printable UTF-8 text part and a base64 attachment, RFC
    2047 encoded-word subjects on every third message, and a
    single-part message every 7th. The stdlib parser must decode
    transfer encodings + encoded-words; the oracle restates every
    decoded field closed-form (body compared trimmed: the trailing
    CRLF before a MIME boundary belongs to the boundary)."""
    from trollflow2_spark.extensions.eml import read_eml

    docs = load_table(spark, sf_dir, "documents").select("doc_id").repartition(
        spark.sparkContext.defaultParallelism
    )
    blob_schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("blob", T.BinaryType()),
        ]
    )

    def make_eml(batches):
        import base64

        import pandas as pd

        for pdf in batches:
            blobs = []
            for d in pdf["doc_id"]:
                d = int(d)
                if d % 3 == 0:
                    subj = (
                        "=?utf-8?b?"
                        + base64.b64encode(f"Héllo {d}".encode()).decode()
                        + "?="
                    )
                else:
                    subj = f"Plain {d}"
                head = (
                    f"From: user{d % 50}@example.org\r\n"
                    "To: list@example.org\r\n"
                    f"Subject: {subj}\r\n"
                    f"Date: Tue, 05 Mar 2024 10:{d % 60:02d}:00 +0000\r\n"
                    "MIME-Version: 1.0\r\n"
                )
                if d % 7 == 0:
                    raw = (
                        head
                        + "Content-Type: text/plain; charset=utf-8\r\n\r\n"
                        + f"plain body {d}\r\n"
                    )
                else:
                    att = base64.b64encode(b"A" * (d % 5 + 1)).decode()
                    raw = (
                        head
                        + f'Content-Type: multipart/mixed; boundary="B{d}"'
                        + "\r\n\r\n"
                        + f"--B{d}\r\n"
                        + "Content-Type: text/plain; charset=utf-8\r\n"
                        + "Content-Transfer-Encoding: quoted-printable"
                        + "\r\n\r\n"
                        + f"caf=C3=A9 {d}\r\n"
                        + f"--B{d}\r\n"
                        + "Content-Type: application/octet-stream\r\n"
                        + "Content-Disposition: attachment; "
                        + f'filename="f{d}.bin"\r\n'
                        + "Content-Transfer-Encoding: base64\r\n\r\n"
                        + att
                        + "\r\n"
                        + f"--B{d}--\r\n"
                    )
                blobs.append(raw.encode("utf-8"))
            yield pd.DataFrame({"doc_id": pdf["doc_id"], "blob": blobs})

    blobs = docs.mapInPandas(make_eml, blob_schema)
    out = read_eml(blobs)
    return out.select(
        "doc_id",
        F.col("error").isNotNull().cast("int").alias("err"),
        "from_addr",
        "subject",
        "date",
        "n_parts",
        # trim() strips only spaces; the MIME tail is CRLF
        F.regexp_replace(F.col("body_text"), r"^\s+|\s+$", "").alias("body"),
        "n_attachments",
        "att0_name",
        "att0_bytes",
    )


def q_protobuf_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Protobuf wire intake (`extensions/protobuf.py:read_protobuf`):
    span-shaped telemetry decoded descriptor-free from the raw wire
    encoding — varint, ZigZag sint (negative deltas), fixed64,
    packed repeated varints, repeated nested messages — plus an
    UNKNOWN field appended to every blob that the decoder must skip
    (forward compatibility), and every 13th blob truncated to the
    quarantine path. The double field is dyadic (d * 0.25) so JSON
    round-tripping is exact. Oracle restates every field closed-form."""
    from trollflow2_spark.extensions.protobuf import read_protobuf

    spec = {
        1: ("trace_id", "fixed64"),
        2: ("name", "string"),
        3: ("dur_us", "uint"),
        4: ("delta", "sint"),
        5: ("ok", "bool"),
        6: ("sampled_pcts", ["uint"]),
        7: ("tags", [{1: ("k", "string"), 2: ("v", "string")}]),
        8: ("score", "double"),
    }
    docs = load_table(spark, sf_dir, "documents").select("doc_id").repartition(
        spark.sparkContext.defaultParallelism
    )
    blob_schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("blob", T.BinaryType()),
        ]
    )

    def make_blobs(batches):
        import pandas as pd

        from trollflow2_spark.extensions.protobuf import (
            _key,
            _varint,
            encode_message,
        )

        for pdf in batches:
            blobs = []
            for d in pdf["doc_id"]:
                d = int(d)
                rec = {
                    "trace_id": (d * 123457) % (1 << 53),
                    "name": f"span-{d % 20}",
                    "dur_us": d * 17,
                    "delta": d % 100 if d % 2 == 0 else -(d % 100) - 1,
                    "ok": d % 3 == 0,
                    "sampled_pcts": [d % 5, (d + 1) % 5, (d + 2) % 5],
                    "tags": [
                        {"k": f"k{j}", "v": f"v{(d + j) % 4}"}
                        for j in range(d % 2 + 1)
                    ],
                    "score": d * 0.25,
                }
                b = encode_message(rec, spec)
                # an unknown field (no 99, varint) the reader must skip
                b += _key(99, 0) + _varint(7)
                blobs.append(b[:12] if d % 13 == 0 else b)
            yield pd.DataFrame({"doc_id": pdf["doc_id"], "blob": blobs})

    blobs = docs.mapInPandas(make_blobs, blob_schema)
    parsed = read_protobuf(blobs, spec)
    schema = (
        "trace_id bigint, name string, dur_us bigint, delta bigint,"
        " ok boolean, sampled_pcts array<bigint>,"
        " tags array<struct<k: string, v: string>>, score double"
    )
    j = F.from_json(F.col("json"), schema)
    return parsed.select(
        "doc_id",
        F.col("error").isNotNull().cast("int").alias("err"),
        j["trace_id"].alias("trace_id"),
        j["name"].alias("name"),
        j["dur_us"].alias("dur_us"),
        j["delta"].alias("delta"),
        j["ok"].cast("int").alias("ok"),
        F.size(j["sampled_pcts"]).alias("n_pcts"),
        F.aggregate(
            j["sampled_pcts"], F.lit(0).cast("long"), lambda a, x: a + x
        ).alias("sum_pcts"),
        F.size(j["tags"]).alias("n_tags"),
        j["tags"][0]["v"].alias("tag0_v"),
        j["score"].alias("score"),
    )


def q_msgpack_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MessagePack intake (`extensions/msgpack.py:read_msgpack`): the
    fluentd/Redis-stream wire format, decoded by the from-scratch
    spec-v5 reader to canonical JSON (one Arrow kernel pass), then
    cut up JVM-side with native `from_json`. The fixture packs a
    telemetry-shaped record per doc with the canonical encoder —
    covering fixint, negative ints, uint64-width, bool, nil, fixstr,
    bin (hex-rendered), fixarray and nested fixmap — and TRUNCATES
    every 11th blob, which must surface as err=1 with NULL fields,
    never an exception. Oracle restates every field closed-form."""
    from trollflow2_spark.extensions.msgpack import read_msgpack

    docs = load_table(spark, sf_dir, "documents").select("doc_id").repartition(
        spark.sparkContext.defaultParallelism
    )
    blob_schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("blob", T.BinaryType()),
        ]
    )

    def make_blobs(batches):
        import pandas as pd

        from trollflow2_spark.extensions.msgpack import pack

        for pdf in batches:
            blobs = []
            for d in pdf["doc_id"]:
                d = int(d)
                rec = {
                    "id": d,
                    "name": f"sensor-{d % 30}",
                    "neg": -(d % 40) - 1,
                    "big": (1 << 40) + d,
                    "ok": d % 2 == 0,
                    "none": None,
                    "tags": [f"t{(d + j) % 5}" for j in range(d % 4)],
                    "bin": bytes([d % 256, (d * 3) % 256]),
                    "nested": {"a": d % 7, "b": "x" * (d % 3)},
                }
                b = pack(rec)
                blobs.append(b[:10] if d % 11 == 0 else b)
            yield pd.DataFrame({"doc_id": pdf["doc_id"], "blob": blobs})

    blobs = docs.mapInPandas(make_blobs, blob_schema)
    parsed = read_msgpack(blobs)
    schema = (
        "id bigint, name string, neg bigint, big bigint, ok boolean,"
        " tags array<string>, bin string, nested struct<a: bigint, b: string>"
    )
    j = F.from_json(F.col("json"), schema)
    return parsed.select(
        "doc_id",
        F.col("error").isNotNull().cast("int").alias("err"),
        j["id"].alias("id"),
        j["name"].alias("name"),
        j["neg"].alias("neg"),
        j["big"].alias("big"),
        j["ok"].cast("int").alias("ok"),
        F.size(j["tags"]).alias("n_tags"),
        j["bin"].alias("bin_hex"),
        j["nested"]["a"].alias("nested_a"),
        F.length(j["nested"]["b"]).alias("nested_b_len"),
    )


def q_html_jsonld(spark: SparkSession, sf_dir: str) -> DataFrame:
    """schema.org JSON-LD provenance extraction
    (`extensions/warc.py:jsonld_metadata`): the structured headline /
    publish-date / author / language block publishers embed — the
    metadata a training corpus keeps when page text alone loses it.
    Fixture classes per doc_id % 4: a well-formed NewsArticle block,
    the same with reversed script attributes and single quotes, no
    block at all (has_jsonld=0, NULLs), and a PRESENT-but-truncated
    block (has_jsonld=1, NULL fields — the quarantine signal).
    Everything — fixture assembly, regexp extraction, the typed
    from_json — is Column algebra in the scan stage; the oracle
    restates every field closed-form."""
    from trollflow2_spark.extensions.warc import jsonld_metadata

    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    d = F.col("doc_id")
    m = d % 4
    lang = F.element_at(
        F.array(F.lit("en"), F.lit("de"), F.lit("ja")),
        (d % 3 + 1).cast("int"),
    )
    payload = F.concat(
        F.lit('{"@type":"NewsArticle","headline":"Story '),
        (d % 7).cast("string"),
        F.lit('","datePublished":"2024-03-'),
        (10 + d % 18).cast("string"),
        F.lit('","author":{"@type":"Person","name":"Writer '),
        (d % 5).cast("string"),
        F.lit('"},"inLanguage":"'),
        lang,
        F.lit('"}'),
    )
    script = F.when(
        m == 0,
        F.concat(
            F.lit('<script type="application/ld+json">'),
            payload,
            F.lit("</script>"),
        ),
    ).when(
        m == 1,
        F.concat(
            F.lit("<script data-x='1' type='application/ld+json'>"),
            payload,
            F.lit("</script>"),
        ),
    ).when(
        m == 3,
        F.concat(
            F.lit('<script type="application/ld+json">'),
            F.substring(payload, 1, 25),  # truncated: malformed JSON
            F.lit("</script>"),
        ),
    ).otherwise(F.lit(""))
    html = F.concat(
        F.lit("<html><head>"),
        script,
        F.lit("</head><body><p>body "),
        d.cast("string"),
        F.lit("</p></body></html>"),
    )
    meta = jsonld_metadata(html)
    return docs.select(
        "doc_id",
        meta["has_jsonld"].alias("has_jsonld"),
        meta["ld_type"].alias("ld_type"),
        meta["headline"].alias("headline"),
        meta["date_published"].alias("date_published"),
        meta["author_name"].alias("author_name"),
        meta["language"].alias("language"),
    )


def q_html_tables(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HTML table extraction (`extensions/warc.py:html_table_rows`):
    tables carry the densest facts on a page and plain text
    extraction shreds them — this is the table-to-text intake step.
    Fixture: a header row (<th>) plus 1 + d%3 data rows with an
    entity-bearing cell, followed by a DECOY second table that must
    be ignored; every 6th doc has no table (zero rows). Fixture and
    extraction are both pure Column algebra; the oracle restates
    every row and cell verbatim."""
    from trollflow2_spark.extensions.warc import html_table_rows

    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    d = F.col("doc_id")
    n_rows = (d % 3 + 1).cast("int")
    row = F.transform(
        F.sequence(F.lit(1), n_rows),
        lambda i: F.concat(
            F.lit("<tr><td>item"),
            (d % 5).cast("string"),
            F.lit("-"),
            i.cast("string"),
            F.lit(" &amp; co</td><td>"),
            ((d + i) % 100).cast("string"),
            F.lit("</td></tr>"),
        ),
    )
    table = F.concat(
        F.lit("<table class=x><tr><th>Name</th><th>Qty</th></tr>"),
        F.array_join(row, ""),
        F.lit("</table><table><tr><td>decoy</td></tr></table>"),
    )
    html = F.when(d % 6 == 0, F.lit("<html><p>no tables</p></html>")).otherwise(
        F.concat(F.lit("<html><body>"), table, F.lit("</body></html>"))
    )
    return html_table_rows(
        docs.select("doc_id", html.alias("html"))
    )


def q_wat_outlinks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WAT sidecar intake (Common Crawl's metadata distribution):
    ``metadata`` records carry a JSON envelope; the typed
    ``from_json`` schema (JVM Jackson, no inference pass) surfaces the
    page title and posexplodes the outlink array, resolving
    root-relative hrefs against the target-URI origin. The oracle
    states both planted links closed-form — absolute passthrough and
    origin-resolved relative."""
    import json as _json

    from trollflow2_spark.extensions.warc import wat_outlinks

    def build(d):
        env = {
            "Envelope": {
                "Payload-Metadata": {
                    "HTTP-Response-Metadata": {
                        "HTML-Metadata": {
                            "Head": {"Title": f"Doc {d} title"},
                            "Links": [
                                {
                                    "path": "A@/href",
                                    "url": (
                                        f"http://site{(d + 1) % 20}"
                                        f".com/x/{d}"
                                    ),
                                },
                                {"path": "A@/href",
                                 "url": f"/rel/{d % 5}"},
                            ],
                        }
                    }
                }
            }
        }
        return [
            (
                "metadata",
                {"WARC-Target-URI":
                 f"http://site{d % 20}.com/p/{d}"},
                "application/json",
                _json.dumps(env).encode(),
            )
        ]

    recs = _warc_fixture_records(spark, sf_dir, build)
    return wat_outlinks(recs).select(
        "doc_id",
        "url",
        "title",
        F.col("link_ord").cast("int").alias("link_ord"),
        "link_url",
    )


def q_wat_frontier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Crawl-frontier rollup straight from WAT metadata — the sidecar
    intake composed with the URL tier: planted WAT records carry MESSY
    outlinks (uppercase scheme/host, default port, tracking params,
    fragment, and a root-relative href against a subdomain origin);
    ``wat_outlinks`` resolves them, then ``host_of_url ->
    registrable_domain`` (PSL) keys the per-domain frontier stats a
    scheduler budgets by. Whole chain is scan-stage Column algebra +
    one hash agg. The oracle rebuilds the messy link strings
    closed-form and replays the host regex + PSL rule in SQL (the
    group_split chain applied to the WAT link graph)."""
    import json as _json

    from trollflow2_spark.extensions.warc import (
        host_of_url,
        registrable_domain,
        wat_outlinks,
    )

    def build(d):
        env = {
            "Envelope": {
                "Payload-Metadata": {
                    "HTTP-Response-Metadata": {
                        "HTML-Metadata": {
                            "Head": {"Title": f"Doc {d}"},
                            "Links": [
                                {
                                    "path": "A@/href",
                                    "url": (
                                        f"HTTPS://WWW.Site{(d + 1) % 20}"
                                        f".CO.UK:443/x/{d}"
                                        "?utm_source=z&b=1#f"
                                    ),
                                },
                                {"path": "A@/href",
                                 "url": f"/rel/{d % 5}"},
                            ],
                        }
                    }
                }
            }
        }
        return [
            (
                "metadata",
                {"WARC-Target-URI":
                 f"http://sub.site{d % 20}.co.uk/p/{d}"},
                "application/json",
                _json.dumps(env).encode(),
            )
        ]

    recs = _warc_fixture_records(spark, sf_dir, build)
    links = wat_outlinks(recs).select(
        "doc_id", host_of_url(F.col("link_url")).alias("host")
    )
    return (
        links.withColumn("domain", registrable_domain(F.col("host")))
        .groupBy("domain")
        .agg(
            F.count(F.lit(1)).alias("n_links"),
            F.countDistinct("doc_id").alias("n_source_docs"),
            F.countDistinct("host").alias("n_hosts"),
        )
    )


def q_crawl_to_training(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The CAPSTONE composition — raw crawl to training examples in one
    DataFrame plan: the full crawl-preprocessing chain
    (``q_crawl_pipeline``: WARC parse -> HTML->text -> canonicalize ->
    keep-newest -> exact dedup -> length gate) feeds straight into
    GPT-style concat-then-chunk packing (``concat_chunk_spans``) — the
    surviving documents' token streams concatenate in id order and cut
    into 32-token examples. What lands in the span table is exactly
    what a trainer loads; every stage replays closed-form in the
    oracle."""
    from trollflow2_spark.extensions.sampling import concat_chunk_spans
    from trollflow2_spark.extensions.hashing import tokens

    survivors = q_crawl_pipeline(spark, sf_dir).select(
        "doc_id", F.size(tokens(F.col("text"))).alias("n_tokens")
    )
    return concat_chunk_spans(
        survivors, example_tokens=32, shard_size=100
    )


def q_url_canonicalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL canonicalization over deterministic messy fixtures (mixed
    case, default ports, tracking params, fragments, unsorted query
    params, empty paths): the canonicalizer is the real Column chain
    on the messy string; the oracle states the clean form closed-form.
    The fixture construction itself is Column concat — the whole query
    is JVM-side, zero Python."""
    from trollflow2_spark.extensions.warc import canonicalize_url

    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    d = F.col("doc_id")
    messy = F.concat(
        F.when(d % 2 == 1, F.lit("HTTPS://")).otherwise(F.lit("HTTP://")),
        F.lit("WWW.Site"), (d % 20).cast("string"), F.lit(".COM"),
        F.when(d % 2 == 1, F.lit(":443")).otherwise(F.lit(":80")),
        F.when(d % 5 == 0, F.lit("")).otherwise(
            F.concat(F.lit("/p/"), d.cast("string"))
        ),
        F.lit("?utm_source=tw&z=2&a="), (d % 3).cast("string"),
        F.lit("&fbclid=xyz#sec"), d.cast("string"),
    )
    out = docs.select(d.alias("doc_id"), messy.alias("url"))
    return out.select(
        "doc_id",
        "url",
        canonicalize_url(F.col("url")).alias("canonical_url"),
    )


def q_embedding_ivf_quantized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF cells + int8 store combined — the production ANN serving
    plan (scan 4x smaller, touch n_probe/k of it). Centroids come from
    the full-precision training sample (shared with ``embedding_ivf``'s
    oracle literals); assignment and scoring run on the int arrays."""
    from trollflow2_spark.extensions.similarity import ivf_topk_quantized

    emb = load_table(spark, sf_dir, "embeddings")
    return ivf_topk_quantized(
        emb,
        _query_vectors(emb),
        k=C.ANN_K,
        n_probe=C.IVF_N_PROBE,
        n_clusters=C.IVF_N_CLUSTERS,
    )


def q_embedding_cluster_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-k-means-cell corpus profile (count, mean/min cosine to the
    centroid, share) — the cluster-quality dashboard behind IVF and
    SemDeDup. The oracle replays the shared centroid literals and the
    rounded-argmax assignment."""
    from trollflow2_spark.extensions.similarity import kmeans_cluster_stats

    emb = load_table(spark, sf_dir, "embeddings")
    return kmeans_cluster_stats(emb, n_clusters=C.IVF_N_CLUSTERS)


def q_semantic_cell_guard_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-row audit of the SemDeDup cell guards (the embedding-space
    sibling of ``lsh_bucket_stats``): pairable cells, salted / dropped
    counts, largest cell, and the closed-form share of within-cell
    candidate pairs the salt/cap guards skip. The salt threshold is
    deliberately fixture-sized (``SEMDEDUP_GUARD_T``) so the sf0.01
    cells exercise the salted branch and the oracle validates the skip
    accounting with nonzero numbers."""
    from trollflow2_spark.extensions.similarity import semantic_cell_guard_stats

    emb = load_table(spark, sf_dir, "embeddings")
    return semantic_cell_guard_stats(
        emb,
        n_clusters=C.IVF_N_CLUSTERS,
        max_cell=C.SEMDEDUP_GUARD_MAX,
        salt_threshold=C.SEMDEDUP_GUARD_T,
    )


def _hot_cell_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semantic-skew stress fixture (the embedding-space twin of
    ``_skewed_events``): embeddings replicated ``SEMSKEW_REPLICATE``x,
    odd replicas overwritten with one near-identical direction
    (``[1, jitter, 0, ...]``), so a single k-means cell ends up holding
    well over half the corpus — the exact shape that turns an unguarded
    within-cell self-join into one quadratic task. The base scan is
    repartitioned first so fixture generation itself parallelizes
    (single-file scans otherwise collapse to 1-2 tasks)."""
    emb = load_table(spark, sf_dir, "embeddings").repartition(
        spark.sparkContext.defaultParallelism
    )
    rep = emb.select(
        "vec_id",
        "embedding",
        F.explode(
            F.array(*[F.lit(i) for i in range(C.SEMSKEW_REPLICATE)])
        ).alias("r"),
    )
    nid = F.col("vec_id") * C.SEMSKEW_REPLICATE + F.col("r")
    hot = F.array(
        F.lit(1.0),
        (nid % C.SEMSKEW_MOD).cast("double") / F.lit(10000.0),
        *[F.lit(0.0)] * (C.EMB_DIM - 2),
    ).cast("array<float>")
    return rep.select(
        nid.alias("vec_id"),
        F.when(F.col("r") % 2 == 1, hot).otherwise(F.col("embedding")).alias(
            "embedding"
        ),
    )


def _semskew_pairs(spark: SparkSession, sf_dir: str, salt_threshold: int) -> DataFrame:
    from trollflow2_spark.extensions.similarity import (
        kmeans_centroids,
        semantic_candidate_pairs,
    )

    emb = _hot_cell_embeddings(spark, sf_dir)
    cents = kmeans_centroids(emb, k=C.IVF_N_CLUSTERS)
    return semantic_candidate_pairs(
        emb,
        cents,
        threshold=C.SEMSKEW_THRESHOLD,
        salt_threshold=salt_threshold,
    ).select("id_a", "id_b")


def q_semantic_cells_plain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup candidate generation on the hot-cell fixture with the
    salt guard disabled — the benched anti-pattern baseline: the hot
    cell's full cross-product (~n_hot²/2 pairs) explodes from ONE array
    row in ONE task. Oracle: plain within-cell all-pairs SQL."""
    return _semskew_pairs(spark, sf_dir, salt_threshold=1 << 30)


def q_semantic_cells_guarded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The guarded twin: default ``salt_threshold=256`` routes the hot
    cell through bounded contiguous sub-buckets (round-robin across
    tasks), trading cross-sub-bucket recall (audited by
    ``semantic_cell_guard_stats``) for bounded per-task pair volume.
    Oracle: DuckDB replays the deterministic sorted-id chunking with a
    row_number/chunk-id join — the salted path's exact semantics,
    value-verified, not just rows-counted."""
    return _semskew_pairs(spark, sf_dir, salt_threshold=256)


def q_nb_lang_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multinomial Naive Bayes language classifier: fit on 2/3 of the
    corpus (per-class token counts — pure aggregation, no iteration),
    classify the held-out third. Training and scoring are BOTH exactly
    SQL-replayable, so the oracle value-checks the full train->score
    round trip: per-doc winning class, rounded joint log-likelihood,
    and the correctness flag against the true label."""
    from trollflow2_spark.extensions.classify import nb_train_score

    docs = load_table(spark, sf_dir, "documents")
    train = docs.filter(F.col("doc_id") % C.NB_SPLIT_MOD != 0)
    score = docs.filter(F.col("doc_id") % C.NB_SPLIT_MOD == 0)
    return nb_train_score(train, score, alpha=C.NB_ALPHA)


def q_bpe_tokenize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Real subword tokenization: a BPE vocabulary trained on the
    lowest-id document sample (deterministic, driver-side — the k-means
    convention), then greedy longest-match encoding as one Arrow UDF
    pass over a doc subset. The oracle embeds the identical vocab
    (shared training routine) and replays the greedy match as a
    per-character recursive CTE — the full token stream is
    value-checked, not just counts."""
    from trollflow2_spark.extensions.tokenizer import (
        sample_vocab,
        tokenize_greedy,
    )

    docs = load_table(spark, sf_dir, "documents")
    vocab = sample_vocab(docs)
    subset = docs.filter(F.col("doc_id") % C.BPE_DOC_MOD == 0)
    return tokenize_greedy(subset, vocab)


def q_bpe_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed BPE vocabulary TRAINING (vs ``bpe_tokenize``'s
    driver-side sample trainer): ONE corpus pass hash-aggregates the
    distinct-word frequency table, then every merge iteration runs on
    that Heaps-bounded vocab table alone — adjacent-pair explode + agg,
    a 1-row TakeOrdered argmax (the only collect), and a higher-order
    ``aggregate`` fold rewriting the symbol arrays. The corpus is never
    re-scanned, so at 100 TB the cost is one map pass + k small jobs.
    The oracle replays ALL ``BPE_DIST_MERGES`` iterations in unrolled
    SQL (island-parity greedy rewrite) — merge order, lexicographic
    tie-breaks and winning-pair counts are recomputed independently,
    no Python-trained literals."""
    from trollflow2_spark.extensions.tokenizer import (
        train_bpe_distributed,
    )

    docs = load_table(spark, sf_dir, "documents")
    return train_bpe_distributed(docs, n_merges=C.BPE_DIST_MERGES)


def _bpe_bytes_docs(spark: SparkSession, sf_dir: str):
    """The byte-level BPE fixture corpus: every document's text gains
    a non-ASCII suffix (accented latin, a 3-byte symbol, CJK) so the
    byte tier trains and encodes over real multi-byte UTF-8 — the SQL
    oracle rebuilds the identical text closed-form."""
    docs = load_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.lit(" Café №"),
            (F.col("doc_id") % 3).cast("string"),
            F.lit(" 日本語"),
        ).alias("text"),
    )


def q_bpe_tokenize_bytes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Byte-level BPE encoding (GPT-2 byte fallback): words split on
    ASCII whitespace keep their case, map their UTF-8 bytes through
    the 256-symbol table, and greedy-encode against a vocabulary
    seeded with the FULL byte alphabet — so accented latin, CJK and
    any other byte sequence tokenizes with <unk> unreachable (n_unk
    pinned 0 by construction). The oracle embeds the shared-routine
    vocab plus the byte-symbol map as literal tables and replays
    normalization (hex(encode(word)) -> symbol join) and the greedy
    match in SQL over the same non-ASCII fixture."""
    from trollflow2_spark.extensions.tokenizer import (
        sample_vocab,
        tokenize_greedy,
    )

    docs = _bpe_bytes_docs(spark, sf_dir)
    vocab = sample_vocab(docs, byte_level=True)
    subset = docs.filter(F.col("doc_id") % C.BPE_DOC_MOD == 0)
    return tokenize_greedy(subset, vocab, byte_level=True)


def q_wordpiece_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed WordPiece training
    (`extensions/tokenizer.py:train_wordpiece_distributed`): the
    third tokenizer family next to BPE (`bpe_train`) and unigram-LM
    (`unigram_tokenize`). Same scan-once / iterate-on-the-vocab-table
    scale shape as the BPE trainer; the defining difference is the
    merge objective — likelihood score cnt(ab)/(cnt(a)*cnt(b)) as a
    fixed-point BIGINT, so rare-symbol units win over ubiquitous
    pairs. The oracle replays ALL iterations (symbol counts, scored
    argmax, island-parity rewrite) in unrolled SQL — no
    Python-trained literals."""
    from trollflow2_spark.extensions.tokenizer import (
        train_wordpiece_distributed,
    )

    docs = load_table(spark, sf_dir, "documents")
    return train_wordpiece_distributed(docs, n_merges=C.BPE_DIST_MERGES)


def q_bpe_train_bytes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed BPE training at BYTE level: the one-pass word-
    frequency table is built from UTF-8 bytes mapped to symbols
    entirely JVM-side (encode -> latin-1 decode -> one translate), and
    the merge loop's literal-bearing fold expressions are built by
    ESCAPING (quotes/backslashes in byte symbols), not by alphabet
    restriction — the injection-safety contract of the byte tier. The
    oracle replays every iteration unrolled in SQL over the same
    byte-symbolized words (no Python-trained literals)."""
    from trollflow2_spark.extensions.tokenizer import (
        train_bpe_distributed,
    )

    docs = _bpe_bytes_docs(spark, sf_dir)
    return train_bpe_distributed(
        docs, n_merges=C.BPE_DIST_MERGES, byte_level=True
    )


def q_hashed_embedding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Feature-hashing embeddings (the hashing trick): model-free dense
    text vectors from token-bucket counts — the entry point that feeds
    real documents into the vector tier (near-dup, ANN, SemDeDup)
    without an external encoder. The oracle replays the hash, the
    bucket histogram and the L1 normalization."""
    from trollflow2_spark.extensions.text import hashed_embedding

    docs = load_table(spark, sf_dir, "documents")
    return hashed_embedding(docs, dim=C.HASH_EMB_DIM)


def q_pack_sequences_bpe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence packing driven by the REAL tokenizer: the BPE token
    stream's counts (not the regex estimator) feed the shard/cumsum
    bin assignment — tokenize -> pack is the training-data endgame,
    and the whole chain stays map + one sharded window."""
    from trollflow2_spark.extensions.sampling import pack_sequences
    from trollflow2_spark.extensions.tokenizer import (
        sample_vocab,
        tokenize_greedy,
    )

    docs = load_table(spark, sf_dir, "documents")
    vocab = sample_vocab(docs)
    subset = docs.filter(F.col("doc_id") % C.BPE_DOC_MOD == 0)
    counted = tokenize_greedy(subset, vocab).select(
        "doc_id", F.col("n_tokens").cast("bigint").alias("n_tokens")
    )
    return pack_sequences(
        counted,
        budget=C.PACK_BUDGET,
        token_col="n_tokens",
        n_shards=C.PACK_SHARDS,
        seed=C.PACK_SEED,
    ).select("doc_id", "n_tokens", "shard", "bin", "cum_tokens")


def q_text_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unicode corpus hygiene: deterministic messy fixtures (decomposed
    vs precomposed accents, C0 control bytes, NBSP variants, tab runs)
    prepended to each document, then the real ``normalize_text`` chain
    (NFC pandas UDF + JVM regex cleanup). The oracle replays NFC with
    DuckDB's ``nfc_normalize`` and the identical regex chain — an
    independent NFC implementation checking ours."""
    from trollflow2_spark.extensions.text import normalize_text

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    d = F.col("doc_id")
    messy = F.concat(
        F.when(d % 2 == 0, F.lit("e\u0301")).otherwise(F.lit("\u00e9")),
        F.when(d % 3 == 0, F.lit("\x07")).otherwise(F.lit("")),
        F.lit("\u00a0\t "),
        F.col("text"),
    )
    norm = normalize_text(messy)
    return docs.select(
        d.alias("doc_id"),
        norm.alias("norm_text"),
        F.length(norm).alias("n_chars"),
    )


def q_domain_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-registrable-domain corpus rollup: canonical URL -> host ->
    eTLD+1 (public-suffix-aware, so news.portal3.co.uk rolls up to
    portal3.co.uk, not co.uk), then one hash agg per domain — doc count,
    distinct hosts/URLs, text-length stats. The domain key is what
    politeness budgets, per-site quality priors, and crawl sampling
    weights hang off; the fixture covers all four host shapes (www/
    bare/subdomain x .com/.org/.io/.co.uk). The whole chain is Column
    algebra in the scan stage + one groupBy — the only shuffle carries
    (domain, partial aggs)."""
    from trollflow2_spark.extensions.warc import (
        canonicalize_url,
        host_of_url,
        registrable_domain,
    )

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.length("text").alias("text_len")
    )
    d = F.col("doc_id")
    site = (d % C.DOMAIN_SITE_MOD).cast("string")
    # subdomain variants make several hosts roll up to one domain —
    # the merge the eTLD+1 key exists to perform
    sub0 = F.when(d % 8 == 0, F.lit("WWW.")).otherwise(F.lit(""))
    sub1 = F.when(d % 8 == 1, F.lit("news.")).otherwise(F.lit(""))
    sub3 = F.when(d % 8 == 3, F.lit("cdn.")).otherwise(F.lit("img."))
    host = (
        F.when(d % 4 == 0, F.concat(sub0, F.lit("Site"), site, F.lit(".COM")))
        .when(d % 4 == 1, F.concat(sub1, F.lit("Portal"), site, F.lit(".CO.UK")))
        .when(d % 4 == 2, F.concat(F.lit("Blog"), site, F.lit(".ORG")))
        .otherwise(F.concat(sub3, F.lit("App"), site, F.lit(".IO")))
    )
    messy = F.concat(
        F.when(d % 2 == 1, F.lit("HTTPS://")).otherwise(F.lit("HTTP://")),
        host,
        F.when(d % 2 == 1, F.lit(":443")).otherwise(F.lit(":80")),
        F.lit("/a/"), d.cast("string"),
        F.lit("?utm_campaign=x&id="), (d % 3).cast("string"),
    )
    curl = canonicalize_url(messy)
    rolled = (
        docs.select(
            "text_len",
            curl.alias("curl"),
            host_of_url(curl).alias("host"),
        )
        .withColumn("domain", registrable_domain(F.col("host")))
        .groupBy("domain")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.countDistinct("host").alias("n_hosts"),
            F.countDistinct("curl").alias("n_urls"),
            F.sum("text_len").alias("sum_text_len"),
        )
    )
    return rolled.select(
        "domain",
        "n_docs",
        "n_hosts",
        "n_urls",
        "sum_text_len",
        F.round(F.col("sum_text_len") / F.col("n_docs"), 6).alias(
            "avg_text_len"
        ),
    )


def q_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semantic (embedding-space) deduplication, SemDeDup shape: k-means
    cells -> within-cell cosine edges -> connected components ->
    canonical min-id per cluster. The oracle replays the shared-numpy
    centroid literals, the rounded-argmax assignment, and the closure
    as a recursive CTE."""
    from trollflow2_spark.extensions.similarity import semantic_dedup_clusters

    emb = load_table(spark, sf_dir, "embeddings")
    return semantic_dedup_clusters(
        emb,
        threshold=C.SEMDEDUP_THRESHOLD,
        n_clusters=C.IVF_N_CLUSTERS,
    )


def _replay_subset(df: DataFrame, id_col: str = "event_id") -> DataFrame:
    """Cap a replay fixture at the fixed REPLAY_ROW_BUDGET, picking
    rows in portable spread-hash order (Knuth multiplicative, same
    arithmetic in the oracles) so the subset stays representative of
    the full event-time range. Keeps the driver-side contract collect
    O(1) in sf — the replay queries are contract artifacts, not
    data-plane operators, and must cost the same at any scale."""
    h = F.pmod(
        F.col(id_col) * F.lit(C.REPLAY_SPREAD), F.lit(2**32)
    )
    return df.orderBy(h, F.col(id_col)).limit(C.REPLAY_ROW_BUDGET)


def q_streaming_running_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stateful-streaming contract: running per-key counts
    (``applyInPandasWithState``) driven through a REAL 3-micro-batch
    replay of a deterministic events fixture (key = user_id % 41,
    batch = event_id % 3). The memory sink's update rows reduce to the
    final state per key (the max-n_batches row); the oracle replays
    the state semantics as one aggregate: n_events = count, n_batches
    = count of distinct batches the key appears in (the kernel is
    invoked only for keys with data in the batch)."""
    from trollflow2_spark.extensions.stream_state import (
        replay_batches,
        running_counts,
    )

    ev = _replay_subset(
        load_table(spark, sf_dir, "events").where(
            F.col("event_id") % C.REPLAY_SUB_MOD == 0
        )
    ).select(
        (F.col("user_id") % C.REPLAY_KEY_MOD).cast("string").alias("k"),
        (F.col("event_id") % C.REPLAY_BATCHES).alias("b"),
    )
    rows = ev.collect()  # config-bounded fixture subset (control plane)
    batches = [
        [{"k": r["k"]} for r in rows if r["b"] == i]
        for i in range(C.REPLAY_BATCHES)
    ]
    sunk = replay_batches(
        spark, batches, "k string", lambda st: running_counts(st, "k")
    )
    return (
        sunk.groupBy("key")
        .agg(F.max(F.struct("n_batches", "n_events")).alias("s"))
        .select(
            "key",
            F.col("s.n_events").alias("n_events"),
            F.col("s.n_batches").alias("n_batches"),
        )
    )


def q_streaming_rate_limit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stateful-streaming contract: the per-host token-bucket
    politeness gate replayed over 3 deterministic micro-batches
    (capacity 2, refill 1; host = (event_id/50) % 23, batch =
    (event_id/50) % 3, urls zero-padded so byte order == numeric
    order). Every admit/defer decision and tokens_left value is
    closed-form, so the oracle replays the 3-step bucket recurrence in
    SQL — including hosts that miss batches (no invocation => no
    refill, no state)."""
    from trollflow2_spark.extensions.stream_state import (
        host_rate_limit,
        replay_batches,
    )

    j = (F.col("event_id") / C.RATE_SUB_MOD).cast("bigint")
    ev = (
        _replay_subset(
            load_table(spark, sf_dir, "events").where(
                F.col("event_id") % C.RATE_SUB_MOD == 0
            )
        )
        .select(
            F.concat(F.lit("h"), (j % C.RATE_HOST_MOD).cast("string")).alias(
                "host"
            ),
            F.concat(
                F.lit("u"), F.lpad(F.col("event_id").cast("string"), 10, "0")
            ).alias("url"),
            (j % C.REPLAY_BATCHES).alias("b"),
        )
    )
    rows = ev.collect()  # config-bounded fixture subset (control plane)
    batches = [
        [{"host": r["host"], "url": r["url"]} for r in rows if r["b"] == i]
        for i in range(C.REPLAY_BATCHES)
    ]
    sunk = replay_batches(
        spark,
        batches,
        "host string, url string",
        lambda st: host_rate_limit(
            st, capacity=C.RATE_CAPACITY, refill=C.RATE_REFILL
        ),
    )
    return sunk.select("host", "url", "admitted", "tokens_left")


def q_event_time_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling event-time windows as a BATCH contract query: Spark's
    native ``F.window`` (epoch-aligned 1-hour buckets — the same
    operator Structured Streaming aggregates on, so the batch oracle
    also validates the streaming tier's bucketing) with per-(window,
    type) counts and an exact decimal value sum. One hash agg; the
    window struct is derived map-side."""
    ev = load_table(spark, sf_dir, "events")
    agg = (
        ev.groupBy(
            F.window(F.col("ts"), "1 hour").alias("w"), F.col("event_type")
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(38,6)")).alias("_sv"),
        )
    )
    return agg.select(
        F.col("w.start").alias("window_start"),
        "event_type",
        "n_events",
        F.col("_sv").cast("double").alias("sum_value"),
    )


def q_temperature_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-balanced language mixture (p^alpha rebalancing, the
    XLM-R / mT5 scheme): per-lang keep rates computed driver-side from
    the k-row count table by the shared ``temperature_rates`` routine
    — the oracle generator runs the SAME routine on the same counts, so
    thresholds are literal-identical — then one map-side hash predicate
    samples the corpus in a single scan."""
    from trollflow2_spark.extensions.sampling import temperature_sample

    docs = load_table(spark, sf_dir, "documents")
    return temperature_sample(
        docs.select("doc_id", "lang"),
        strata_col="lang",
        alpha=C.TEMP_ALPHA,
        target_frac=C.TEMP_TARGET_FRAC,
        seed=C.TEMP_SEED,
    )


def q_fetch_schedule(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Polite fetch planning (`extensions/warc.py:fetch_schedule`): the
    scored frontier becomes an executable plan — per-domain slots in
    (priority desc, url asc) order, offset = slot x crawl_delay, and
    DOMAIN-AFFINE worker assignment (portable hash), the only
    assignment that preserves per-domain politeness under horizontal
    scale. One bounded per-domain window; everything else map-side.
    Oracle replays the window and the md5-derived worker hash."""
    from trollflow2_spark.extensions.warc import fetch_schedule

    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    d = F.col("doc_id")
    domain = F.concat(F.lit("d"), (d % 12).cast("string"))
    frontier = docs.select(
        "doc_id",
        domain.alias("domain"),
        F.concat(F.lit("https://"), domain, F.lit("/p"), d.cast("string"))
        .alias("url"),
        ((d * 7) % 100).alias("priority"),
        (F.lit(1) + (d % 12) % 5).alias("crawl_delay_s"),
    )
    out = fetch_schedule(frontier, n_workers=64)
    return out.select(
        "doc_id", "domain", "url", "priority", "slot", "offset_s", "worker"
    )


def q_robots_sitemaps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sitemap discovery from robots.txt
    (`extensions/warc.py:robots_sitemaps`): the `Sitemap:` directive
    lives outside user-agent groups and is how a crawl finds the
    sitemap XML that `feed_urls` then parses — the missing hop
    between the politeness tier and the frontier tier. Fixture
    robots bodies mix comments, rule lines, and 0-2 Sitemap lines
    (one lowercase-keyed, indented) per fetch; URLs must come back
    verbatim and in file order."""
    from trollflow2_spark.extensions.warc import robots_sitemaps

    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    d = F.col("doc_id")
    site = (d % 15).cast("string")
    body = F.concat(
        F.lit("# robots\nUser-agent: *\nDisallow: /tmp\n"),
        F.when(
            d % 3 != 0,
            F.concat(
                F.lit("Sitemap: https://s"), site, F.lit(".com/map1.xml\n")
            ),
        ).otherwise(F.lit("")),
        F.lit("Allow: /pub\n"),
        F.when(
            d % 4 == 0,
            F.concat(
                F.lit("  sitemap: https://s"), site,
                F.lit(".com/sub/map2.XML\n"),
            ),
        ).otherwise(F.lit("")),
        F.lit("Crawl-delay: 2\n"),
    )
    return docs.select(
        "doc_id",
        F.posexplode(robots_sitemaps(body)).alias("pos", "sitemap_url"),
    ).select(
        "doc_id", F.col("pos").cast("int").alias("pos"), "sitemap_url"
    )


def q_host_communities(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Host-graph communities via synchronous label propagation
    (`extensions/dedup.py:label_propagation`): the density clustering
    that splits link farms / mirror rings from legitimate
    neighborhoods INSIDE one connected component — complements
    `host_pagerank` (authority) and the CC tier (reachability) on the
    same crawl graph shape. The 20-host fixture graph (k -> (k+1)%20,
    k -> (3k+7)%20, derived from documents) runs 3 synchronous rounds;
    the oracle unrolls every round in SQL — per-node neighbor-label
    mode with (count desc, label asc) argmax — so update order can
    never leak in."""
    from trollflow2_spark.extensions.dedup import label_propagation

    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    k = F.col("doc_id") % 20
    e1 = docs.select(k.alias("id_a"), ((k + 1) % 20).alias("id_b"))
    e2 = docs.select(k.alias("id_a"), ((k * 3 + 7) % 20).alias("id_b"))
    pairs = e1.unionByName(e2).distinct()
    out = label_propagation(pairs, iters=3)
    return out.select(
        F.concat(F.lit("site"), F.col("id").cast("string")).alias("host"),
        F.col("community").cast("long").alias("community"),
    )


def q_host_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Crawl link graph + PageRank: deterministic per-doc HTML carries
    two outlinks (closed-form targets), hrefs are extracted with
    ``regexp_extract_all`` in the scan stage, host-level edges dedup,
    and 3 power iterations of PageRank (d=0.85, dangling-free fixture)
    run as iterative join+agg rounds — the engine's iterative-algorithm
    shape (same per-round equi-join + agg + bounded lineage as
    connected components). Ranks round to 8 per iteration so the
    replay is bit-stable; output rounds to 6.

    Scale: edges shuffle once per iteration keyed on the target host;
    out-degrees broadcast (host-cardinality table); the rank table is
    host-sized, not page-sized — the standard web-graph rollup."""
    from trollflow2_spark.extensions.warc import host_of_url

    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    d = F.col("doc_id")
    h = (d % 20).cast("long")
    t1 = ((h + 1) % 20).cast("string")
    t2 = ((h * 3 + 7) % 20).cast("string")
    html = F.concat(
        F.lit('<html><body><a href="http://site'), t1,
        F.lit('.com/a">x</a> <a HREF="https://site'), t2,
        F.lit('.com/b?utm_source=z">y</a></body></html>'),
    )
    pages = docs.select(
        F.concat(F.lit("site"), h.cast("string"), F.lit(".com")).alias(
            "src_host"
        ),
        html.alias("html"),
    ).select(
        "src_host",
        F.expr(
            r"regexp_extract_all(html, '(?i)href=\"([^\"]+)\"', 1)"
        ).alias("hrefs"),
    )
    # the host-level edge table is graph-sized (hosts x outlinks), tiny
    # next to the page scan that produced it: checkpoint it once so the
    # power iterations never re-run the extraction
    edges = (
        pages.select(
            "src_host", F.explode("hrefs").alias("href")
        )
        .select(
            "src_host", host_of_url(F.col("href")).alias("dst_host")
        )
        .filter(F.col("dst_host") != "")
        .distinct()
        .localCheckpoint(eager=True)
    )
    hosts = (
        edges.select(F.col("src_host").alias("host"))
        .unionByName(edges.select(F.col("dst_host").alias("host")))
        .distinct()
    )
    n_hosts = hosts.count()  # control-sized: host cardinality
    outdeg = edges.groupBy("src_host").agg(
        F.count(F.lit(1)).alias("outdeg")
    )
    damping = 0.85
    base = (1.0 - damping) / n_hosts
    ranks = hosts.withColumn("rank", F.lit(1.0 / n_hosts))
    for _ in range(3):
        contrib = (
            edges.join(
                ranks.withColumnRenamed("host", "src_host"), "src_host"
            )
            .join(F.broadcast(outdeg), "src_host")
            .select(
                F.col("dst_host").alias("host"),
                (F.col("rank") / F.col("outdeg")).alias("c"),
            )
            .groupBy("host")
            .agg(F.sum("c").alias("in_sum"))
        )
        ranks = (
            hosts.join(contrib, "host", "left")
            .select(
                "host",
                F.round(
                    F.lit(base)
                    + F.lit(damping) * F.coalesce(F.col("in_sum"), F.lit(0.0)),
                    8,
                ).alias("rank"),
            )
            .localCheckpoint(eager=True)
        )
    return ranks.select(
        "host", F.round("rank", 6).alias("pagerank")
    )


def q_split_leakage_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train/eval leakage audit: deterministic split -> minhash
    signatures per side -> banded LSH candidates of eval docs against
    the TRAIN side (train bands never re-shuffle; eval side broadcasts,
    the incremental-dedup shape) -> n-gram Jaccard verify -> per eval
    doc: candidate count, verified leak count, worst (max) Jaccard.
    This is the pre-training gate that catches val/test examples whose
    near-duplicates sit in train — contamination's within-corpus twin.
    Output rows: eval docs with >= 1 LSH candidate."""
    from trollflow2_spark.extensions.dedup import (
        incremental_lsh_matches,
        minhash_signatures,
        ngram_jaccard_pairs,
    )
    from trollflow2_spark.extensions.sampling import deterministic_split

    docs = load_table(spark, sf_dir, "documents")
    split = deterministic_split(
        docs, dict(C.SPLIT_FRACS), seed=C.SPLIT_SEED
    )
    train = split.filter(F.col("split") == "train")
    evald = split.filter(F.col("split") != "train")
    tsig = minhash_signatures(
        train, shingle_words=C.MINHASH_SHINGLE_WORDS,
        num_hashes=C.MINHASH_NUM_HASHES,
    )
    esig = minhash_signatures(
        evald, shingle_words=C.MINHASH_SHINGLE_WORDS,
        num_hashes=C.MINHASH_NUM_HASHES,
    )
    cand = incremental_lsh_matches(
        tsig, esig, num_hashes=C.MINHASH_NUM_HASHES, bands=C.MINHASH_BANDS
    ).select(
        F.col("batch_id").alias("id_a"), F.col("corpus_id").alias("id_b")
    )
    verified = ngram_jaccard_pairs(
        docs,
        candidates=cand,
        shingle_words=C.JACCARD_SHINGLE_WORDS,
        threshold=C.JACCARD_THRESHOLD,
    )
    # verified is a filtered subset of cand — candidate-bounded, so it
    # broadcasts; without the hint Catalyst sort-merges two tiny tables
    per_eval = (
        cand.join(
            F.broadcast(verified.select("id_a", "id_b", "jaccard")),
            ["id_a", "id_b"],
            "left",
        )
        .groupBy(F.col("id_a").alias("doc_id"))
        .agg(
            F.count(F.lit(1)).alias("n_candidates"),
            F.count("jaccard").alias("n_leaks"),
            F.max("jaccard").alias("max_jaccard"),
        )
    )
    return per_eval.join(
        split.select("doc_id", "split"), "doc_id"
    ).select(
        "doc_id", "split", "n_candidates", "n_leaks", "max_jaccard"
    )


def q_crawl_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full crawl-preprocessing chain in ONE DataFrame plan — what
    a user of this engine actually runs over Common Crawl: WARC
    ingestion (gzip members, HTTP envelopes, executor-side) ->
    HTML->text extraction -> URL canonicalization -> keep-newest
    capture per canonical URL -> exact text dedup (digest groupBy,
    min-id canonical) -> quality gate (minimum extracted length).
    The fixture plants every hazard the chain exists to remove:
    tracking-param URL variants (2 captures per page), cross-URL
    exact-duplicate content (2-3 URLs per text), and junk-short pages;
    the oracle replays every stage closed-form.

    Scale: one mapInPandas parse (file-per-task in production), Column
    regex extraction in the scan stage, one window shuffle keyed on
    canonical_url, one digest agg — the text itself shuffles once, as
    (digest, id)."""
    from trollflow2_spark.extensions.warc import (
        canonicalize_url,
        html_to_text,
        parse_warc_bytes,
    )

    docs = load_table(spark, sf_dir, "documents").select("doc_id").repartition(
        spark.sparkContext.defaultParallelism
    )
    out_schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("url", T.StringType()),
            T.StructField("payload", T.BinaryType()),
        ]
    )

    def make_and_parse(batches):
        import gzip

        import pandas as pd

        for pdf in batches:
            rows = []
            for d in pdf["doc_id"]:
                d = int(d)
                pid = d % 100  # content key: same pid -> same page text
                uid = d % 250  # url key: 2 captures per url at sf0.01
                if pid % 10 == 0:
                    body = "<p>x</p>"  # junk-short page
                else:
                    body = (
                        f"<h1>Doc {pid}</h1>"
                        f"<p>alpha &amp; beta {pid % 7}</p>"
                    )
                html = f"<html><body>{body}</body></html>".encode()
                url = (
                    f"HTTP://Site{uid % 25}.COM:80/p/{uid}"
                    f"?utm_source=t&k={uid % 3}"
                )
                http = (
                    b"HTTP/1.1 200 OK\r\ncontent-type: text/html\r\n\r\n"
                    + html
                )
                rec = (
                    b"WARC/1.0\r\nWARC-Type: response"
                    + f"\r\nWARC-Target-URI: {url}".encode()
                    + b"\r\nWARC-Date: 2024-01-15T12:00:00Z"
                    + f"\r\nContent-Length: {len(http)}".encode()
                    + b"\r\n\r\n" + http + b"\r\n\r\n"
                )
                parsed = parse_warc_bytes(
                    gzip.compress(rec), f"doc{d}.warc.gz"
                )
                rows.append((d, parsed[0]["warc_target_uri"],
                             parsed[0]["payload"]))
            yield pd.DataFrame(rows, columns=["doc_id", "url", "payload"])

    parsed = docs.mapInPandas(make_and_parse, out_schema)
    d = F.col("doc_id")
    extracted = parsed.select(
        "doc_id",
        canonicalize_url(F.col("url")).alias("canonical_url"),
        html_to_text(F.col("payload").cast("string")).alias("text"),
        (d * 37 % 1000).cast("long").alias("fetch_ts"),
    )
    # stage: newest capture per canonical URL
    w = Window.partitionBy("canonical_url").orderBy(
        F.col("fetch_ts").desc(), F.col("doc_id").asc()
    )
    latest = (
        extracted.withColumn("rn", F.row_number().over(w))
        .withColumn(
            "n_captures",
            F.count(F.lit(1)).over(Window.partitionBy("canonical_url")),
        )
        .filter(F.col("rn") == 1)
        .drop("rn", "fetch_ts")
    )
    # stage: exact text dedup over the survivors (digest keyed). The
    # digest is materialized as a column so BOTH windows partition on
    # the same attribute — expression-partitioned windows would each
    # get their own projected key and pay two exchanges
    wd = Window.partitionBy("__digest")
    deduped = (
        latest.withColumn("__digest", F.md5("text"))
        .withColumn("group_size", F.count(F.lit(1)).over(wd))
        .withColumn("keep_id", F.min("doc_id").over(wd))
        .filter(F.col("doc_id") == F.col("keep_id"))
        .drop("keep_id", "__digest")
    )
    # stage: quality gate on extracted length
    return deduped.filter(F.length("text") >= 10).select(
        "doc_id",
        "canonical_url",
        "text",
        F.length("text").alias("text_len"),
        "n_captures",
        "group_size",
    )


def q_robots_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robots.txt politeness gate, full RFC 9309 group-member
    semantics (`extensions/warc.py:robots_allowed`): per-domain robots
    bodies carry BOTH Allow and Disallow rules with `*` wildcards and
    `$` end anchors; each URL's verdict is the longest-matching
    pattern (length in octets as written, the Google-matcher
    convention), ties to Allow, unmatched paths allowed. The fixture
    keeps the legacy Disallow-prefix cases verbatim (/p/1 blocks /p/10
    too) and layers the overrides Disallow-only matching gets wrong:
    an anchored Allow un-blocking exactly /p/19, a wildcard+anchor
    Allow (/p/1*7$) un-blocking /p/17, /p/*4$ un-blocking /p/14 and
    the even-domain /p/24, and an equal-length Allow/Disallow tie on
    /p/33 resolved to Allow. Rules are domain-cardinality and the
    match is a higher-order fold over a small array — at 100 TB this
    broadcasts against the scan, zero Python, no data-derived regex."""
    from trollflow2_spark.extensions.warc import (
        parse_robots_rules,
        robots_allowed,
    )

    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    d = F.col("doc_id")
    k = (d % 20).cast("long")
    domain = F.concat(F.lit("site"), k.cast("string"), F.lit(".com"))
    path = F.concat(F.lit("/p/"), (d % 40).cast("string"))
    robots = F.concat(
        F.lit("User-agent: *\nDisallow: /p/1\n"),
        F.when(k % 2 == 0, F.lit("Disallow: /p/2\n")).otherwise(F.lit("")),
        F.lit(
            "Allow: /p/19$\n"
            "Allow: /p/1*7$\n"
            "Allow: /p/*4$\n"
            "Disallow: /p/33\n"
            "Allow: /p/33\n"
            "Disallow:\n"  # empty pattern = RFC no-op, dropped at parse
            "Crawl-delay: 1\n"
        ),
    )
    rules = parse_robots_rules(robots)
    base = docs.select(
        d.alias("doc_id"),
        domain.alias("domain"),
        path.alias("path"),
        rules.alias("rules"),
    )
    return base.select(
        "doc_id",
        "domain",
        "path",
        F.size("rules").alias("n_rules"),
        robots_allowed(F.col("path"), F.col("rules")).alias("allowed"),
    )


def q_chi2_feature_selection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chi-square feature selection: the terms most associated with a
    document label (here the length heuristic), from one presence
    aggregation over exploded distinct (doc, token) pairs. The 2x2
    contingency counts per term come from a single hash agg; the
    class totals are a broadcast 1-row aggregate; the statistic is
    exact integer arithmetic divided once at the end, so the oracle
    replays it bit-for-bit. Top-K by (chi2, term) without a global
    sort (TakeOrderedAndProject)."""
    from trollflow2_spark.extensions.hashing import tokens

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        (F.col("n_chars") >= C.CHI2_LEN_THRESHOLD).alias("hi"),
        tokens(F.col("text")).alias("toks"),
    )
    pres = docs.select(
        "doc_id", "hi", F.explode(F.array_distinct("toks")).alias("term")
    )
    totals = docs.agg(
        F.sum(F.when(F.col("hi"), 1).otherwise(0)).alias("n1"),
        F.sum(F.when(F.col("hi"), 0).otherwise(1)).alias("n0"),
    )
    per_term = (
        pres.groupBy("term")
        .agg(
            F.sum(F.when(F.col("hi"), 1).otherwise(0)).alias("n11"),
            F.sum(F.when(F.col("hi"), 0).otherwise(1)).alias("n01"),
        )
        .where(F.col("n11") + F.col("n01") >= C.CHI2_MIN_DF)
    )
    j = per_term.join(F.broadcast(totals))
    n10 = F.col("n1") - F.col("n11")
    n00 = F.col("n0") - F.col("n01")
    num = (
        (F.col("n11") * n00 - n10 * F.col("n01"))
        .cast("decimal(38,0)")
    )
    denom = (
        (F.col("n11") + F.col("n01")).cast("decimal(38,0)")
        * (n10 + n00).cast("decimal(38,0)")
        * F.col("n1").cast("decimal(38,0)")
        * F.col("n0").cast("decimal(38,0)")
    )
    chi2 = F.round(
        (F.col("n1") + F.col("n0")).cast("double")
        * (num * num).cast("double") / denom.cast("double"),
        6,
    )
    return (
        j.select(
            "term",
            F.col("n11").cast("long").alias("df_hi"),
            F.col("n01").cast("long").alias("df_lo"),
            chi2.alias("chi2"),
        )
        .orderBy(F.col("chi2").desc(), "term")
        .limit(C.CHI2_TOP_K)
    )


def q_spend_rank_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Relative-rank window surface: percent_rank + cume_dist per
    nation over customer spend (the other half of the NTILE family) —
    partitioned windows, deterministic tie-break, both functions
    replayed verbatim by the oracle."""
    cust = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    orders = load_table(spark, sf_dir, "orders")
    spend = orders.groupBy("o_custkey").agg(
        dsum(F.col("o_totalprice"), 2).alias("spend")
    )
    w = (
        Window.partitionBy("n_name")
        .orderBy(F.col("spend").desc(), F.col("c_custkey"))
    )
    return (
        spend.join(cust, spend.o_custkey == cust.c_custkey)
        .join(
            F.broadcast(nation),
            F.col("c_nationkey") == F.col("n_nationkey"),
        )
        .select(
            F.col("c_custkey").alias("custkey"),
            F.col("n_name").alias("nation"),
            "spend",
            F.round(F.percent_rank().over(w), 6).alias("pct_rank"),
            F.round(F.cume_dist().over(w), 6).alias("cume"),
        )
    )


def q_locf_gap_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-series gap filling: last-observation-carried-forward via
    ``last_value(... ignorenulls)`` over a per-user ordered window —
    sensor dropouts inherit the preceding reading. Partitioned by
    user, so the window sort is bounded per key; fixture nulls every
    third event's value to create the gaps."""
    ev = load_table(spark, sf_dir, "events")
    gappy = ev.select(
        "event_id",
        "user_id",
        "ts",
        F.when(F.col("event_id") % 3 == 0, None)
        .otherwise(F.col("value"))
        .alias("value"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return gappy.select(
        "event_id",
        "user_id",
        F.round(
            F.last("value", ignorenulls=True).over(w), 6
        ).alias("filled_value"),
        F.col("value").isNull().cast("int").alias("was_gap"),
    )


def q_robots_crawl_delay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robots.txt Crawl-delay extraction: per-domain delay parsed
    Column-side from the robots body and converted to the token-bucket
    refill rate the frontier's `host_rate_limit` consumes — the
    politeness CONFIG tier feeding the streaming rate limiter. Rules
    are domain-cardinality: one row per host, broadcastable anywhere."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    d = F.col("doc_id")
    k = (d % 20).cast("long")
    domain = F.concat(F.lit("site"), k.cast("string"), F.lit(".com"))
    robots = F.concat(
        F.lit("User-agent: *\nDisallow: /private\n"),
        F.lit("Crawl-delay: "), (k % 7 + 1).cast("string"), F.lit("\n"),
    )
    delay_line = F.element_at(
        F.filter(
            F.split(robots, "\n"),
            lambda ln: ln.startswith("Crawl-delay: "),
        ),
        1,
    )
    delay = F.substring(delay_line, 14, 10).cast("int")
    return (
        docs.select(
            domain.alias("domain"), delay.alias("crawl_delay_s")
        )
        .distinct()
        .select(
            "domain",
            "crawl_delay_s",
            F.round(60.0 / F.col("crawl_delay_s"), 4)
            .alias("fetches_per_min"),
        )
    )


def q_url_dedup_latest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Crawl-level URL dedup: keep the NEWEST capture of each canonical
    URL (recrawls reach the same page repeatedly; the freshest capture
    wins, ties to the lowest doc_id for determinism). One window over
    (canonical_url) ordered by (fetch_ts DESC, doc_id ASC) — the
    standard keep-latest shape; at 100 TB the shuffle key is the
    canonical URL, whose cardinality tracks unique pages, so the
    window partitions stay tiny (captures per page)."""
    from trollflow2_spark.extensions.warc import canonicalize_url

    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    d = F.col("doc_id")
    # every 4 doc_ids alias to one page via d % (n/4)-style folding;
    # fetch order deliberately disagrees with doc order for some rows
    messy = F.concat(
        F.lit("HTTP://Site"), ((d % 125)).cast("string"),
        F.lit(".COM:80/p/"), ((d % 250)).cast("string"),
        F.lit("?utm_source=x&v="), (d % 2).cast("string"),
    )
    fetch_ts = (d * 37 % 1000).cast("long")
    base = docs.select(
        d.alias("doc_id"),
        canonicalize_url(messy).alias("canonical_url"),
        fetch_ts.alias("fetch_ts"),
    )
    w = Window.partitionBy("canonical_url").orderBy(
        F.col("fetch_ts").desc(), F.col("doc_id").asc()
    )
    # n_captures counts BEFORE the keep-latest filter; both windows
    # share one partitioning, so this is a single shuffle
    return (
        base.withColumn("rn", F.row_number().over(w))
        .withColumn(
            "n_captures",
            F.count(F.lit(1)).over(Window.partitionBy("canonical_url")),
        )
        .filter(F.col("rn") == 1)
        .select("canonical_url", "doc_id", "fetch_ts", "n_captures")
    )


def q_corpus_recipe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The config-driven corpus pipeline capstone: a name-addressed
    recipe (quality gate -> repeated-span scrub -> exact dedup ->
    deterministic split) folded over the corpus by the stage registry
    — the reference's product-list extension model applied to the
    training-data tier. The oracle replays the full composed chain
    (quality CASE -> span CTEs over the survivors -> digest window ->
    split CASE)."""
    from trollflow2_spark.extensions.recipe import run_recipe

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    recipe = [
        {"stage": "quality_filter", "cache": True},
        {
            "stage": "scrub_repeated_spans",
            "n": C.REPEAT_NGRAM_N,
            "min_docs": C.REPEAT_MIN_DOCS,
        },
        {"stage": "exact_dedup"},
        {
            "stage": "split",
            "fractions": dict(C.SPLIT_FRACS),
            "seed": C.SPLIT_SEED,
        },
    ]
    out = run_recipe(docs, recipe)
    return out.select(
        "doc_id",
        F.length("text").cast("bigint").alias("n_chars"),
        "split",
    )


def q_corpus_recipe_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The corpus recipe run INCREMENTALLY — a real 3-micro-batch
    stream through ``foreachBatch`` (the reference's message-driven
    plugin chain applied to the corpus tier: intake is incremental, so
    the recipe must be). quality gate and split run per batch
    unchanged; ``exact_dedup`` swaps the batch digest window for the
    incremental tier (first-seen within batch + anti-join against the
    accumulated parquet digest state). Fixture: a budget-bounded doc
    subset where each doc carries its group leader's text (groups of
    3 spanning the 3 batches, batch index == id order within the
    group), so first-seen-across-batches == the batch recipe's
    min-id-per-digest on the concatenation — which is exactly what
    the oracle replays."""
    from trollflow2_spark.extensions.recipe import replay_recipe_batches

    docs = load_table(spark, sf_dir, "documents")
    sub = _replay_subset(docs.select("doc_id"), "doc_id")
    lead = docs.select(
        F.col("doc_id").alias("__lid"), F.col("text").alias("__ltext")
    )
    fix = (
        sub.withColumn(
            "__lid", (F.col("doc_id") / 3).cast("bigint") * 3
        )
        .join(lead, "__lid")
        .select(
            "doc_id",
            F.col("__ltext").alias("text"),
            (F.col("doc_id") % 3).alias("b"),
        )
    )
    rows = fix.collect()  # budget-bounded fixture subset (control plane)
    batches = [
        [
            {"doc_id": r["doc_id"], "text": r["text"]}
            for r in rows
            if r["b"] == i
        ]
        for i in range(3)
    ]
    recipe = [
        {"stage": "quality_filter"},
        {"stage": "exact_dedup"},
        {
            "stage": "split",
            "fractions": dict(C.SPLIT_FRACS),
            "seed": C.SPLIT_SEED,
        },
    ]
    out = replay_recipe_batches(
        spark, batches, "doc_id long, text string", recipe
    )
    return out.select(
        "doc_id",
        F.length("text").cast("bigint").alias("n_chars"),
        "split",
    )


def q_lsh_recall_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Banded-LSH recall/precision measured against exact Jaccard
    ground truth on the fixed-budget jittered-leader sample: the
    bands/hashes tuning loop as an oracle-checked number. The
    quadratic reference join is affordable BECAUSE the sample is
    budget-bounded (O(1) in sf) and definitional because it bypasses
    the blocking under audit; the oracle replays both sides — the md5
    minhash/banding chain AND the quadratic jaccard — and the same
    count arithmetic."""
    from trollflow2_spark.extensions.dedup import lsh_recall_audit

    docs = load_table(spark, sf_dir, "documents")
    sub = _replay_subset(docs.select("doc_id"), "doc_id")
    lead = docs.select(
        F.col("doc_id").alias("__lid"), F.col("text").alias("__ltext")
    )
    fix = (
        sub.withColumn("__lid", (F.col("doc_id") / 3).cast("bigint") * 3)
        .join(lead, "__lid")
        .select(
            "doc_id",
            F.concat(
                F.col("__ltext"),
                F.lit(" v"),
                (F.col("doc_id") % 3).cast("string"),
            ).alias("text"),
        )
    )
    return lsh_recall_audit(fix, threshold=C.JACCARD_THRESHOLD)


def q_corpus_recipe_neardup_replay(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The NEAR-dup recipe run incrementally: 3-batch replay of a
    near_dedup -> split recipe where each batch's survivors verify by
    n-gram Jaccard against the accumulated survivor corpus (batch
    signatures broadcast into the state bands — the daily-increment
    shape) before admission. Fixture: the budget subset where members
    of each 3-doc group share the group leader's text plus a tiny
    ' v{k}' jitter (near- but not exact duplicates; jaccard ~0.9,
    threshold 0.6 mutes organic pairs), one member per batch in id
    order — so greedy first-seen equals the batch CC canonical, which
    is exactly what the oracle replays (full md5 minhash -> banding ->
    jaccard verify -> recursive closure in SQL over the same
    fixture)."""
    from trollflow2_spark.extensions.recipe import replay_recipe_batches

    docs = load_table(spark, sf_dir, "documents")
    sub = _replay_subset(docs.select("doc_id"), "doc_id")
    lead = docs.select(
        F.col("doc_id").alias("__lid"), F.col("text").alias("__ltext")
    )
    fix = (
        sub.withColumn("__lid", (F.col("doc_id") / 3).cast("bigint") * 3)
        .join(lead, "__lid")
        .select(
            "doc_id",
            F.concat(
                F.col("__ltext"),
                F.lit(" v"),
                (F.col("doc_id") % 3).cast("string"),
            ).alias("text"),
            (F.col("doc_id") % 3).alias("b"),
        )
    )
    rows = fix.collect()  # budget-bounded fixture subset (control plane)
    batches = [
        [
            {"doc_id": r["doc_id"], "text": r["text"]}
            for r in rows
            if r["b"] == i
        ]
        for i in range(3)
    ]
    recipe = [
        {"stage": "near_dedup", "threshold": C.RECIPE_ND_THRESHOLD},
        {
            "stage": "split",
            "fractions": dict(C.SPLIT_FRACS),
            "seed": C.SPLIT_SEED,
        },
    ]
    out = replay_recipe_batches(
        spark, batches, "doc_id long, text string", recipe
    )
    return out.select(
        "doc_id",
        F.length("text").cast("bigint").alias("n_chars"),
        "split",
    )


def q_scrub_repeated_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Span-level exact-substring dedup, the removal half (Lee et al.
    scrub): the repeated_ngram_spans token ranges are cut OUT of each
    document with nested higher-order Column ops (transform-with-index
    + exists + filter) — scrubbed text plus removal accounting, no
    Python in the cut."""
    from trollflow2_spark.extensions.dedup import scrub_repeated_spans

    docs = _spread(load_table(spark, sf_dir, "documents"))
    return scrub_repeated_spans(
        docs, n=C.REPEAT_NGRAM_N, min_docs=C.REPEAT_MIN_DOCS
    )


def q_repeated_ngram_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-substring duplication spans (the Lee-et-al. scrub shape):
    per doc, merged token ranges covered by word n-grams repeated
    across >= REPEAT_MIN_DOCS documents — what a span-level dedup cuts
    OUT of training text instead of dropping whole documents."""
    from trollflow2_spark.extensions.dedup import repeated_ngram_spans

    # tokenize+explode is the dominant map cost: spread an under-split
    # scan across the cluster's cores (no-op when the many-file
    # production scan already saturates — see _spread)
    docs = _spread(load_table(spark, sf_dir, "documents"))
    return repeated_ngram_spans(
        docs, n=C.REPEAT_NGRAM_N, min_docs=C.REPEAT_MIN_DOCS
    )


def q_line_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4-style global line dedup: every line survives only at its first
    corpus occurrence, documents reassembled from surviving lines — the
    cross-page boilerplate killer. The fixture synthesizes 4-line docs
    from a 40-line vocabulary (``seg (doc_id*7 + j*13) % 40``), so
    near-every line is a cross-doc duplicate and most docs shrink."""
    from trollflow2_spark.extensions.dedup import line_dedup

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        F.concat_ws(
            "\n",
            *[
                F.concat(
                    F.lit("seg "),
                    ((F.col("doc_id") * 7 + j * 13) % 40).cast("string"),
                )
                for j in range(4)
            ],
        ).alias("text"),
    )
    return line_dedup(docs)


def q_chunk_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overlapping token-window chunking (RAG / context-window prep):
    20-token chunks, 5-token overlap, emitted map-side with zero
    shuffle."""
    from trollflow2_spark.extensions.text import chunk_documents

    docs = load_table(spark, sf_dir, "documents")
    return chunk_documents(docs, chunk_tokens=20, overlap=5)


def _dsir_inputs(spark: SparkSession, sf_dir: str):
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "text", "lang"
    )
    target = docs.where(F.col("lang") == C.DSIR_TARGET_LANG).select(
        "doc_id", "text"
    )
    return docs, target


def q_dsir_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR importance weights: per-doc mean log likelihood-ratio under
    a target-domain (lang='en') unigram LM vs the raw-corpus LM — the
    domain-selection signal for pretraining-data curation."""
    from trollflow2_spark.extensions.text import dsir_weights

    docs, target = _dsir_inputs(spark, sf_dir)
    return dsir_weights(
        docs, target, vocab_k=C.DSIR_VOCAB_K, alpha=C.DSIR_ALPHA
    )


def q_dsir_resample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic DSIR resampling: keep probability
    min(1, exp(tau * mean_log_ratio)) decided by the portable-hash
    bucket — target-like docs survive, off-domain docs down-sample."""
    from trollflow2_spark.extensions.text import dsir_resample

    docs, target = _dsir_inputs(spark, sf_dir)
    return dsir_resample(
        docs, target, tau=C.DSIR_TAU, vocab_k=C.DSIR_VOCAB_K,
        alpha=C.DSIR_ALPHA, seed=C.DSIR_SEED,
    )


def q_concat_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GPT-style concat-then-chunk spans: documents concatenate in id
    order (one EOS each) into a virtual token stream cut into 64-token
    examples; output is the (example, doc) overlap span table a loader
    joins back to token shards. Sharded cumsum — no global window."""
    from trollflow2_spark.extensions.sampling import concat_chunk_spans
    from trollflow2_spark.extensions.hashing import tokens

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.size(tokens(F.col("text"))).alias("n_tokens")
    )
    return concat_chunk_spans(docs, example_tokens=64, shard_size=100)


def q_embedding_pca(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic PCA projection of the embedding table — the
    dimensionality-reduction step before clustering / cheap ANN.
    Components fit driver-side on the fixed 2048-lowest-id sample
    (power iteration, no RNG/LAPACK) and fold into pure Column dot
    products — ZERO shuffle, whole-stage codegen, no UDF."""
    from trollflow2_spark.extensions.similarity import pca_project

    emb = load_table(spark, sf_dir, "embeddings")
    return pca_project(emb, n_components=C.PCA_COMPONENTS)


def q_classifier_quality_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Model-based quality filtering, bootstrapped the way production
    pipelines bootstrap it (fastText quality classifiers trained on
    heuristic/proxy labels): the rule-based quality score labels a
    training split hi/lo, a multinomial NB model fits on those labels,
    and the held-out split is admitted by the MODEL's prediction —
    which generalizes beyond the rules that seeded it. Training is
    pure aggregation, the model broadcasts, scoring is map-side; the
    whole train->score->filter chain replays in SQL."""
    from trollflow2_spark.extensions.classify import nb_train_score
    from trollflow2_spark.extensions.text import quality_features

    docs = load_table(spark, sf_dir, "documents")
    labeled = quality_features(docs, extra_cols=["text"]).select(
        "doc_id",
        "text",
        F.when(
            F.col("quality_score") >= C.QFILTER_SCORE_THRESHOLD, "hi"
        ).otherwise("lo").alias("q_label"),
    )
    train = labeled.where(F.col("doc_id") % C.QFILTER_SPLIT_MOD != 0)
    score = labeled.where(F.col("doc_id") % C.QFILTER_SPLIT_MOD == 0)
    out = nb_train_score(
        train, score, label_col="q_label", alpha=C.NB_ALPHA
    )
    return out.select(
        "doc_id",
        "q_label",
        "pred_q_label",
        "score",
        F.when(F.col("pred_q_label") == "hi", 1).otherwise(0).alias("keep"),
    )


def _pq_books(spark: SparkSession, sf_dir: str):
    import numpy as np

    from trollflow2_spark.extensions.similarity import pq_codebooks_np

    emb = load_table(spark, sf_dir, "embeddings")
    pdf = emb.select("vec_id", "embedding").orderBy("vec_id").limit(
        2048
    ).toPandas()
    X = np.stack(pdf["embedding"].to_numpy()).astype("float64")
    return emb, X, pq_codebooks_np(X, m=C.PQ_M, k=C.PQ_K)


def q_embedding_pq_codes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization encoding: deterministic per-subspace
    codebooks (plain-L2 Lloyd's on the fixed lowest-id sample) fold in
    as literals and every vector becomes m one-byte codes — a 32x
    smaller store than float32, computed with pure Column algebra in
    the scan stage (zero shuffle, no UDF)."""
    from trollflow2_spark.extensions.similarity import pq_encode

    emb, _X, books = _pq_books(spark, sf_dir)
    return pq_encode(emb, books)


def q_embedding_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ's serving read path: asymmetric-distance top-k — each
    query's per-subspace distance table to all codebook entries is
    driver-computed (m x k doubles) and folded in as array literals, so
    scoring a stored vector is m table lookups + a sum; the float
    vectors are never read. Smallest distance wins, ties to lowest
    id."""
    from trollflow2_spark.extensions.similarity import pq_encode, pq_topk

    emb, X, books = _pq_books(spark, sf_dir)
    codes = pq_encode(emb, books)
    queries = [(i, X[i]) for i in range(C.PQ_N_QUERIES)]
    return pq_topk(codes, books, queries, k=C.PQ_TOPK)


def q_embedding_pq_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-stage ANN serving, completed: the PQ asymmetric-distance
    scan proposes a PQ_SHORTLIST-deep candidate list per query (float
    vectors never read), then ONLY those rows fetch their full vectors
    for an exact-cosine re-rank — the FAISS refine step. The shortlist
    (nq x 30 rows) broadcasts to the vector fetch, so the second stage
    costs an id semi-join however big the store is; ADC ordering
    errors inside the shortlist are corrected by construction. Oracle
    replays codes -> ADC shortlist -> exact cosine -> window."""
    from trollflow2_spark.extensions.similarity import (
        _dot,
        _norm,
        pq_encode,
        pq_topk,
    )
    from trollflow2_spark.extensions.windows import topk_per_group

    emb, X, books = _pq_books(spark, sf_dir)
    codes = pq_encode(emb, books)
    queries = [(i, X[i]) for i in range(C.PQ_N_QUERIES)]
    short = pq_topk(codes, books, queries, k=C.PQ_SHORTLIST).select(
        "query_id", "vec_id", "adc_dist"
    )
    qv = F.broadcast(
        emb.filter(F.col("vec_id") < C.PQ_N_QUERIES).select(
            F.col("vec_id").alias("query_id"),
            F.col("embedding").alias("__q"),
            _norm(F.col("embedding")).alias("__qn"),
        )
    )
    fetched = emb.select("vec_id", "embedding").join(
        F.broadcast(short), "vec_id"
    )
    scored = (
        fetched.withColumn("__vn", _norm(F.col("embedding")))
        .join(qv, "query_id")
        .filter(F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            "vec_id",
            "adc_dist",
            F.round(
                _dot(F.col("embedding"), F.col("__q"))
                / (F.col("__vn") * F.col("__qn")),
                6,
            ).alias("cosine_sim"),
        )
    )
    return topk_per_group(
        scored,
        ["query_id"],
        [F.col("cosine_sim").desc(), F.col("vec_id").asc()],
        C.PQ_TOPK,
    )


def q_encoding_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Encoding-hygiene audit: mojibake signatures, replacement chars,
    stray control bytes — planted deterministically into the fixture
    (doc_id%9==0 gets a mojibake pair, %11==0 a U+FFFD, %13==0 a
    control byte) so every signal fires and replays in SQL."""
    from trollflow2_spark.extensions.text import encoding_quality

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.when(
                F.col("doc_id") % 9 == 0, " caf\u00c3\u00a9"
            ).otherwise(""),
            F.when(
                F.col("doc_id") % 11 == 0, " bad\ufffdchar"
            ).otherwise(""),
            F.when(F.col("doc_id") % 13 == 0, "\u0007").otherwise(""),
        ).alias("text"),
    )
    return encoding_quality(docs)


def q_q4_order_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 shape: EXISTS semi-join — orders with at least one
    returned lineitem, counted by priority. The LEFT SEMI join is the
    operator under test: the probe side reduces to a distinct key set
    and never duplicates order rows."""
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    returned = li.where(F.col("l_returnflag") == "R").select("l_orderkey")
    return (
        orders.join(
            returned, orders["o_orderkey"] == returned["l_orderkey"],
            "left_semi",
        )
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("order_count"))
    )


def q_q16_parts_never_returned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q16 shape: NOT EXISTS anti-join — parts with no
    bulk-quantity return on record, counted by brand. LEFT ANTI is the
    operator under test."""
    part = load_table(spark, sf_dir, "part")
    li = load_table(spark, sf_dir, "lineitem")
    returned = li.where(
        (F.col("l_returnflag") == "R") & (F.col("l_quantity") > 45)
    ).select("l_partkey")
    return (
        part.join(
            returned, part["p_partkey"] == returned["l_partkey"],
            "left_anti",
        )
        .groupBy("p_brand")
        .agg(F.count(F.lit(1)).alias("n_parts"))
    )


def q_q18_big_spenders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18 shape: groupBy-HAVING feeding a join — customers whose
    total order value clears a threshold, with their order counts. The
    HAVING prunes before the dimension join, so only qualifying keys
    shuffle into it."""
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    big = (
        orders.groupBy("o_custkey")
        .agg(
            F.round(F.sum("o_totalprice"), 2).alias("total_spend"),
            F.count(F.lit(1)).alias("n_orders"),
        )
        .where(F.col("total_spend") > C.Q18_SPEND_THRESHOLD)
    )
    return big.join(
        cust, big["o_custkey"] == cust["c_custkey"]
    ).select(
        F.col("c_custkey").alias("custkey"),
        "c_name",
        "total_spend",
        "n_orders",
    )


# ---------------------------------------------------------------------------
# Full TPC-H sweep (q2..q22 shapes, adapted to the driver schema — see
# qconst for the adaptation notes; each keeps the ORIGINAL query's
# operator pattern so the planner faces the same decorrelation /
# pushdown / scalar-subquery problems)


def _li_revenue() -> Column:
    return F.col("l_extendedprice") * (1 - F.col("l_discount"))


def q_q2_min_cost_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q2 shape: correlated-min subquery — for each qualifying
    part, the region's suppliers achieving the MINIMUM unit cost.
    partsupp stand-in: observed (partkey, suppkey) unit costs from
    lineitem. Decorrelated as agg→min→join-back; dims broadcast, so
    the only shuffle is the (part, supp) cost agg."""
    part = load_table(spark, sf_dir, "part").filter(
        (F.col("p_size") == C.Q2_SIZE) & (F.col("p_type") == C.Q2_TYPE)
    )
    region = load_table(spark, sf_dir, "region").filter(
        F.col("r_name") == C.Q2_REGION
    )
    nation = load_table(spark, sf_dir, "nation").join(
        F.broadcast(region),
        F.col("n_regionkey") == F.col("r_regionkey"),
    )
    supp = load_table(spark, sf_dir, "supplier").join(
        F.broadcast(nation),
        F.col("s_nationkey") == F.col("n_nationkey"),
    )
    li = load_table(spark, sf_dir, "lineitem")
    costs = (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .join(F.broadcast(supp), li.l_suppkey == supp.s_suppkey)
        .groupBy("p_partkey", "p_brand", "s_suppkey", "s_name",
                 "s_acctbal", "n_name")
        .agg(
            F.round(
                F.min(F.col("l_extendedprice") / F.col("l_quantity")), 4
            ).alias("unit_cost")
        )
    )
    best = costs.groupBy(F.col("p_partkey").alias("bp")).agg(
        F.min("unit_cost").alias("min_cost")
    )
    return (
        costs.join(
            best,
            (costs.p_partkey == best.bp)
            & (costs.unit_cost == best.min_cost),
        )
        .select("s_acctbal", "s_name", "n_name", "p_partkey", "p_brand",
                "unit_cost")
        .orderBy(
            F.col("s_acctbal").desc(), "n_name", "s_name", "p_partkey"
        )
        .limit(C.Q2_LIMIT)
    )


def q_q7_volume_shipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7 shape: two-nation bilateral trade — the nation dim
    joins TWICE (supplier side and customer side) with a symmetric
    pair filter, grouped by (supp_nation, cust_nation, year)."""
    n1 = load_table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("sn_key"),
        F.col("n_name").alias("supp_nation"),
    )
    n2 = load_table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("cn_key"),
        F.col("n_name").alias("cust_nation"),
    )
    supp = load_table(spark, sf_dir, "supplier")
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= _ntz(C.Q7_DATE_LO))
        & (F.col("l_shipdate") < _ntz(C.Q7_DATE_HI))
    )
    a, b = C.Q7_NATION_A, C.Q7_NATION_B
    pair_ok = (
        (F.col("supp_nation") == a) & (F.col("cust_nation") == b)
    ) | ((F.col("supp_nation") == b) & (F.col("cust_nation") == a))
    joined = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(supp), li.l_suppkey == supp.s_suppkey)
        .join(F.broadcast(n1), F.col("s_nationkey") == F.col("sn_key"))
        .join(F.broadcast(n2), F.col("c_nationkey") == F.col("cn_key"))
        .filter(pair_ok)
    )
    return (
        joined.groupBy(
            "supp_nation", "cust_nation",
            F.year("l_shipdate").alias("l_year"),
        )
        .agg(dsum(_li_revenue(), 6).alias("revenue"))
    )


def q_q8_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8 shape: national market share — conditional-sum ratio
    per year over a 5-way join; the CASE numerator and the total share
    the one aggregation."""
    region = load_table(spark, sf_dir, "region").filter(
        F.col("r_name") == C.Q8_REGION
    )
    nation_c = load_table(spark, sf_dir, "nation").join(
        F.broadcast(region),
        F.col("n_regionkey") == F.col("r_regionkey"),
    ).select(F.col("n_nationkey").alias("cn_key"))
    nation_s = load_table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("sn_key"),
        F.col("n_name").alias("supp_nation"),
    )
    part = load_table(spark, sf_dir, "part").filter(
        F.col("p_type") == C.Q8_TYPE
    )
    supp = load_table(spark, sf_dir, "supplier")
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= _ntz(C.Q8_DATE_LO))
        & (F.col("o_orderdate") < _ntz(C.Q8_DATE_HI))
    )
    li = load_table(spark, sf_dir, "lineitem")
    volume = _li_revenue().cast("decimal(38,6)")
    national = F.when(
        F.col("supp_nation") == C.Q8_NATION, volume
    ).otherwise(F.lit(0).cast("decimal(38,6)"))
    joined = (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(nation_c), F.col("c_nationkey") == F.col("cn_key"))
        .join(F.broadcast(supp), li.l_suppkey == supp.s_suppkey)
        .join(F.broadcast(nation_s), F.col("s_nationkey") == F.col("sn_key"))
    )
    return (
        joined.groupBy(F.year("o_orderdate").alias("o_year"))
        .agg(
            F.round(
                F.sum(national).cast("double")
                / F.sum(volume).cast("double"), 6
            ).alias("mkt_share"),
            F.sum(volume).cast("double").alias("total_volume"),
        )
    )


def q_q9_product_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9 shape: profit by nation and year over a pattern-matched
    part set. Supply-cost stand-in: Q9_COST_FRACTION of retail price."""
    part = load_table(spark, sf_dir, "part").filter(
        F.col("p_name").contains(C.Q9_NAME_PATTERN)
    )
    supp = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    amount = (
        F.col("l_extendedprice") * (1 - F.col("l_discount"))
        - F.lit(C.Q9_COST_FRACTION)
        * F.col("p_retailprice") * F.col("l_quantity")
    )
    joined = (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(supp), li.l_suppkey == supp.s_suppkey)
        .join(
            F.broadcast(nation),
            F.col("s_nationkey") == F.col("n_nationkey"),
        )
    )
    return (
        joined.groupBy(
            F.col("n_name").alias("nation"),
            F.year("o_orderdate").alias("o_year"),
        )
        .agg(dsum(amount, 6).alias("sum_profit"))
    )


def q_q10_returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10 shape: revenue lost to returns per customer in one
    quarter, deterministic top-N. Customer joins AFTER the fact-side
    agg, so only qualifying custkeys reach the dimension join."""
    cust = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    orders = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= _ntz(C.Q10_DATE_LO))
        & (F.col("o_orderdate") < _ntz(C.Q10_DATE_HI))
    )
    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_returnflag") == "R"
    )
    per_cust = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .groupBy("o_custkey")
        .agg(dsum(_li_revenue(), 6).alias("revenue"))
    )
    return (
        per_cust.join(cust, per_cust.o_custkey == cust.c_custkey)
        .join(
            F.broadcast(nation),
            F.col("c_nationkey") == F.col("n_nationkey"),
        )
        .select("c_custkey", "c_name", "revenue", "c_acctbal", "n_name")
        .orderBy(F.col("revenue").desc(), F.col("c_custkey"))
        .limit(C.Q10_LIMIT)
    )


def q_q11_part_value_concentration(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """TPC-H Q11 shape: per-part value with a HAVING threshold that is
    a SCALAR SUBQUERY over the same aggregation (a fraction of total
    national inventory value). The one-row total broadcasts into the
    filter — no second scan of the fact table (the per-part agg is
    computed once and reused for both the total and the filter)."""
    nation = load_table(spark, sf_dir, "nation").filter(
        F.col("n_name") == C.Q11_NATION
    )
    supp = load_table(spark, sf_dir, "supplier").join(
        F.broadcast(nation),
        F.col("s_nationkey") == F.col("n_nationkey"),
    )
    li = load_table(spark, sf_dir, "lineitem")
    per_part = (
        li.join(F.broadcast(supp), li.l_suppkey == supp.s_suppkey)
        .groupBy("l_partkey")
        .agg(dsum(F.col("l_extendedprice"), 2).alias("value"))
    )
    total = per_part.agg(
        F.sum(F.col("value").cast("decimal(38,2)"))
        .cast("double").alias("total_value")
    )
    return (
        per_part.join(F.broadcast(total))
        .filter(F.col("value") > F.col("total_value") * C.Q11_FRACTION)
        .select(
            F.col("l_partkey").alias("partkey"), "value",
            F.round(F.col("value") / F.col("total_value"), 8)
            .alias("share"),
        )
        .orderBy(F.col("value").desc(), F.col("partkey"))
    )


def q_q12_shipping_delay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12 shape: conditional counts per category — ship-latency
    buckets (the shipmode stand-in) × order-priority criticality, one
    fact join + one agg."""
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= _ntz(C.Q12_DATE_LO))
        & (F.col("l_shipdate") < _ntz(C.Q12_DATE_HI))
    )
    delay = F.datediff(F.col("l_shipdate"), F.col("o_orderdate"))
    bucket = (
        F.when(delay >= C.Q12_LATE_DAYS, "late")
        .when(delay >= C.Q12_FAST_DAYS, "medium")
        .otherwise("fast")
    )
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .groupBy(bucket.alias("delay_bucket"))
        .agg(
            F.sum(F.when(high, 1).otherwise(0)).alias("high_line_count"),
            F.sum(F.when(high, 0).otherwise(1)).alias("low_line_count"),
        )
    )


def q_q13_customer_order_counts(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """TPC-H Q13 shape: customer distribution — LEFT OUTER join with a
    join-side predicate (not a WHERE: customers with zero qualifying
    orders must survive with count 0), then a histogram of the
    counts (two-level aggregation)."""
    cust = load_table(spark, sf_dir, "customer")
    # aggregate BEFORE the outer join: orders shrink to <=1 row per
    # customer, so the join shuffles key+count pairs instead of every
    # order row (the scale difference at 100 TB)
    oc = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderpriority") != C.Q13_PRIORITY_EXCLUDE)
        .groupBy("o_custkey")
        .agg(F.count(F.lit(1)).alias("n_orders"))
    )
    per_cust = cust.join(
        oc, cust.c_custkey == oc.o_custkey, "left_outer"
    ).select(F.coalesce("n_orders", F.lit(0)).alias("c_count"))
    return (
        per_cust.groupBy("c_count")
        .agg(F.count(F.lit(1)).alias("custdist"))
    )


def q_q14_promo_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14 shape: conditional-sum ratio over one month — promo
    revenue share, single-row output."""
    part = load_table(spark, sf_dir, "part")
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= _ntz(C.Q14_DATE_LO))
        & (F.col("l_shipdate") < _ntz(C.Q14_DATE_HI))
    )
    volume = _li_revenue().cast("decimal(38,6)")
    promo = F.when(
        F.col("p_type") == "PROMO", volume
    ).otherwise(F.lit(0).cast("decimal(38,6)"))
    return (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .agg(
            F.round(
                F.lit(100.0) * F.sum(promo).cast("double")
                / F.sum(volume).cast("double"), 6
            ).alias("promo_revenue_pct"),
            F.sum(volume).cast("double").alias("total_revenue"),
        )
    )


def q_q15_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15 shape: the revenue view + scalar-max subquery — the
    supplier(s) whose quarter revenue equals the global maximum. The
    1-row max broadcasts back into the equality filter; its branch
    re-evaluates the view off the same pushed-filter scan (the
    canonical decorrelation; the scan is date-bounded so the second
    pass reads one quarter, not the corpus)."""
    supp = load_table(spark, sf_dir, "supplier")
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= _ntz(C.Q15_DATE_LO))
        & (F.col("l_shipdate") < _ntz(C.Q15_DATE_HI))
    )
    revenue = (
        li.groupBy(F.col("l_suppkey").alias("supplier_no"))
        .agg(dsum(_li_revenue(), 6).alias("total_revenue"))
    )
    mx = revenue.agg(F.max("total_revenue").alias("max_revenue"))
    return (
        revenue.join(F.broadcast(mx))
        .filter(F.col("total_revenue") == F.col("max_revenue"))
        .join(
            F.broadcast(supp),
            F.col("supplier_no") == F.col("s_suppkey"),
        )
        .select("s_suppkey", "s_name", "total_revenue")
        .orderBy("s_suppkey")
    )


def q_q17_small_qty_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17 shape: correlated per-part AVG subquery — revenue from
    orders below half the part's mean quantity. Decorrelated: the
    per-part mean aggregates once and broadcasts back (part-bounded,
    so the broadcast is dim-sized at any corpus scale)."""
    part = load_table(spark, sf_dir, "part").filter(
        (F.col("p_brand") == C.Q17_BRAND)
        & (F.col("p_size") <= C.Q17_SIZE_MAX)
    )
    li = load_table(spark, sf_dir, "lineitem")
    matched = li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
    # deterministic mean: exact decimal sum / count (a float AVG is
    # order-sensitive and would make the correlated threshold flap)
    means = matched.groupBy(F.col("p_partkey").alias("mp")).agg(
        (dsum(F.col("l_quantity")) / F.count(F.lit(1))).alias("avg_qty")
    )
    return (
        matched.join(F.broadcast(means), F.col("p_partkey") == F.col("mp"))
        .filter(F.col("l_quantity") < C.Q17_QTY_FRACTION * F.col("avg_qty"))
        .agg(
            F.round(
                dsum(F.col("l_extendedprice")) / 7.0, 2
            ).alias("avg_yearly"),
            F.count(F.lit(1)).alias("n_lines"),
        )
    )


def q_q19_disjunctive_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19 shape: three OR'd brand/size/quantity branches — the
    disjunction must still push into the scans (brand+size to part,
    the quantity envelope to lineitem) instead of forcing a full
    cartesian check."""
    part = load_table(spark, sf_dir, "part")
    li = load_table(spark, sf_dir, "lineitem")
    j = li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
    cond = None
    for brand, size_max, qty_lo, qty_hi in C.Q19_BRANCHES:
        branch = (
            (F.col("p_brand") == brand)
            & (F.col("p_size").between(1, size_max))
            & (F.col("l_quantity").between(qty_lo, qty_hi))
        )
        cond = branch if cond is None else (cond | branch)
    return j.filter(cond).agg(
        dsum(_li_revenue(), 6).alias("revenue"),
        F.count(F.lit(1)).alias("n_lines"),
    )


def q_q20_excess_shippers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q20 shape: nested semi-join chain — suppliers who shipped
    more than a threshold quantity of pattern-matched parts in a year.
    The (supp, part) agg runs on the fact side; suppliers reduce via
    LEFT SEMI, then the nation filter applies."""
    part = load_table(spark, sf_dir, "part").filter(
        F.col("p_name").startswith(C.Q20_NAME_PREFIX)
    )
    nation = load_table(spark, sf_dir, "nation").filter(
        F.col("n_name") == C.Q20_NATION
    )
    supp = load_table(spark, sf_dir, "supplier")
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= _ntz(C.Q20_DATE_LO))
        & (F.col("l_shipdate") < _ntz(C.Q20_DATE_HI))
    )
    heavy = (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .groupBy("l_suppkey", "l_partkey")
        .agg(dsum(F.col("l_quantity")).alias("qty"))
        .filter(F.col("qty") > C.Q20_QTY_THRESHOLD)
        .select("l_suppkey")
    )
    return (
        supp.join(
            heavy, supp.s_suppkey == heavy.l_suppkey, "left_semi"
        )
        .join(
            F.broadcast(nation),
            F.col("s_nationkey") == F.col("n_nationkey"),
        )
        .select("s_suppkey", "s_name")
        .orderBy("s_suppkey")
    )


def q_q21_waiting_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21 shape: the EXISTS + NOT-EXISTS pair, decorrelated —
    orders a supplier kept waiting (late ship) where OTHER suppliers
    participated but NONE of them was also late. One order-level
    conditional agg replaces both correlated subqueries; the late
    lineitems then equi-join it."""
    nation = load_table(spark, sf_dir, "nation").filter(
        F.col("n_name") == C.Q21_NATION
    )
    supp = load_table(spark, sf_dir, "supplier").join(
        F.broadcast(nation),
        F.col("s_nationkey") == F.col("n_nationkey"),
    )
    orders = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderstatus") == "F"
    )
    li = load_table(spark, sf_dir, "lineitem")
    late = F.datediff(F.col("l_shipdate"), F.col("o_orderdate")) \
        > C.Q21_LATE_DAYS
    lo = li.join(orders, li.l_orderkey == orders.o_orderkey).select(
        "l_orderkey", "l_suppkey", late.alias("is_late")
    )
    # ONE pass over the fact join: per order, the distinct supplier
    # count plus the SET of late suppliers (bounded by suppliers-per-
    # order, a handful of keys — never corpus-scale state). A second
    # fact scan to re-find the late rows is thereby avoided; orders
    # with exactly one late supplier among several explode that
    # singleton back out.
    per_order = lo.groupBy("l_orderkey").agg(
        F.countDistinct("l_suppkey").alias("n_supp"),
        F.collect_set(
            F.when(F.col("is_late"), F.col("l_suppkey"))
        ).alias("late_supps"),
    )
    blamed = (
        per_order.filter(
            (F.col("n_supp") > 1) & (F.size("late_supps") == 1)
        )
        .select(F.explode("late_supps").alias("bad_supp"))
        .join(F.broadcast(supp), F.col("bad_supp") == F.col("s_suppkey"))
    )
    return (
        blamed.groupBy("s_name")
        .agg(F.count(F.lit(1)).alias("numwait"))
        .orderBy(F.col("numwait").desc(), "s_name")
        .limit(C.Q21_LIMIT)
    )


def q_q22_dormant_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22 shape: scalar-subquery threshold + NOT EXISTS —
    above-average-balance customers with no recent orders, aggregated
    by nation (the phone-prefix stand-in). The 1-row average
    broadcasts; the anti-join prunes before the final agg."""
    cust = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    recent = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") >= _ntz(C.Q22_ORDER_CUTOFF)
    ).select("o_custkey")
    # deterministic mean: exact decimal sum / count, so the scalar
    # threshold is bit-identical to the oracle's
    avg_bal = cust.filter(F.col("c_acctbal") > 0).agg(
        (dsum(F.col("c_acctbal"), 2) / F.count(F.lit(1))).alias("avg_bal")
    )
    return (
        cust.join(F.broadcast(avg_bal))
        .filter(F.col("c_acctbal") > F.col("avg_bal"))
        .join(
            recent, cust.c_custkey == recent.o_custkey, "left_anti"
        )
        .join(
            F.broadcast(nation),
            F.col("c_nationkey") == F.col("n_nationkey"),
        )
        .groupBy(F.col("n_name").alias("nation"))
        .agg(
            F.count(F.lit(1)).alias("numcust"),
            F.round(
                F.sum(F.col("c_acctbal").cast("decimal(38,2)"))
                .cast("double"), 2
            ).alias("totacctbal"),
        )
    )


# ---------------------------------------------------------------------------
# OLAP surface: multi-level aggregation, pivot, exact percentiles,
# set operations, interval (range) join


def q_rollup_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP (nation, year): per-nation-per-year revenue plus nation
    subtotals plus the grand total in ONE aggregation — Spark expands
    the grouping sets map-side, so the fact table shuffles once, not
    once per level. ``gid`` disambiguates a NULL group key from a
    subtotal row (the standard GROUPING_ID contract)."""
    cust = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    orders = load_table(spark, sf_dir, "orders")
    joined = orders.join(
        cust, orders.o_custkey == cust.c_custkey
    ).join(
        F.broadcast(nation),
        F.col("c_nationkey") == F.col("n_nationkey"),
    )
    return (
        joined.select(
            F.col("n_name").alias("nation"),
            F.year("o_orderdate").alias("o_year"),
            "o_totalprice",
        )
        .rollup("nation", "o_year")
        .agg(
            F.grouping_id().cast("int").alias("gid"),
            dsum(F.col("o_totalprice"), 2).alias("revenue"),
            F.count(F.lit(1)).alias("n_orders"),
        )
    )


def q_cube_order_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE (status, priority): all four grouping-set combinations in
    one pass — the cross-classified margin table every monitoring
    rollup needs."""
    orders = load_table(spark, sf_dir, "orders")
    return (
        orders.cube("o_orderstatus", "o_orderpriority")
        .agg(
            F.grouping_id().cast("int").alias("gid"),
            F.count(F.lit(1)).alias("n_orders"),
            dsum(F.col("o_totalprice"), 2).alias("revenue"),
        )
    )


def q_grouping_sets_customers(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Arbitrary GROUPING SETS (not a rollup/cube prefix lattice):
    (nation, segment), (segment), () — e.g. skipping the per-nation
    margin a CUBE would force. One Expand + one hash agg, same
    one-pass property as ROLLUP."""
    cust = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    cust.join(
        F.broadcast(nation),
        F.col("c_nationkey") == F.col("n_nationkey"),
    ).select(
        F.col("n_name").alias("nation"),
        F.col("c_mktsegment").alias("segment"),
        "c_acctbal",
    ).createOrReplaceTempView("tf2_gs_customers")
    return spark.sql(
        """
        SELECT nation, segment,
          CAST(grouping_id(nation, segment) AS INT) AS gid,
          count(*) AS n_customers,
          round(CAST(SUM(CAST(c_acctbal AS DECIMAL(38,2))) AS DOUBLE),
                2) AS total_balance
        FROM tf2_gs_customers
        GROUP BY GROUPING SETS ((nation, segment), (segment), ())
        """
    )


def q_pivot_event_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PIVOT: daily event counts, one column per event type. The pivot
    values are the FIXED taxonomy (no discovery pre-scan — an
    unpinned pivot would scan the corpus once just to learn the
    columns); the physical plan is one hash agg with conditional
    counts, identical to the SQL CASE expansion."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.select(
            F.date_format(F.date_trunc("day", "ts"), "yyyy-MM-dd")
            .alias("day"),
            "event_type",
        )
        .groupBy("day")
        .pivot("event_type", list(C.EVENT_TYPES_ALL))
        .agg(F.count(F.lit(1)))
        .na.fill(0, list(C.EVENT_TYPES_ALL))
    )


def q_percentile_order_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated percentiles (median/p90/p99) of order value
    per priority class, via `exact_quantiles` (GK-bracket distributed
    exact selection — identical interpolation semantics to
    ``percentile``, but no per-group value buffer, so the same plan
    survives a heavy group): one fused sketch+count agg, exact
    below-counts, and only ~10% bracket slices ever rank."""
    from trollflow2_spark.extensions.profile import exact_quantiles

    orders = load_table(spark, sf_dir, "orders")
    pcts = list(C.PERCENTILES)
    eq = exact_quantiles(
        orders, ["o_orderpriority"], "o_totalprice", pcts, round_dp=None
    )
    return eq.groupBy("o_orderpriority").agg(
        *[
            F.round(
                F.max(F.when(F.col("p") == p, F.col("q"))), 4
            ).alias(f"p{int(p * 100)}")
            for p in pcts
        ],
        F.max("n").alias("n_orders"),
    )


def q_active_customers_setops(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """INTERSECT + EXCEPT set operators: customers active in BOTH years
    minus those who ever placed a low-priority order. Spark plans
    these as semi/anti joins over distinct key sets — no row-level
    materialization of either year's order list survives the
    distinct."""
    orders = load_table(spark, sf_dir, "orders")

    def active(lo: str, hi: str) -> DataFrame:
        return orders.filter(
            (F.col("o_orderdate") >= _ntz(lo))
            & (F.col("o_orderdate") < _ntz(hi))
        ).select(F.col("o_custkey").alias("custkey"))

    both = active(C.SETOPS_YEAR_A_LO, C.SETOPS_YEAR_A_HI).intersect(
        active(C.SETOPS_YEAR_B_LO, C.SETOPS_YEAR_B_HI)
    )
    low = orders.filter(
        F.col("o_orderpriority") == C.Q13_PRIORITY_EXCLUDE
    ).select(F.col("o_custkey").alias("custkey"))
    return both.exceptAll(low.distinct()).orderBy("custkey")


def _maintenance_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily maintenance windows derived from the event span: one
    [02:00, 04:00) interval per observed day — a dimension-sized
    interval table (one row per day)."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.select(F.date_trunc("day", "ts").alias("day"))
        .distinct()
        .select(
            F.date_format("day", "yyyy-MM-dd").alias("window_day"),
            (F.col("day") + F.expr(
                f"INTERVAL {C.MAINT_START_HOUR} HOURS"
            )).alias("w_start"),
            (F.col("day") + F.expr(
                f"INTERVAL {C.MAINT_END_HOUR} HOURS"
            )).alias("w_end"),
        )
    )


def q_interval_join_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval (range) join via time bucketing: events landing inside
    any daily maintenance window, counted per window. The operator
    (`extensions/interval.py`) turns point-in-interval matching into a
    shuffled equi-join on hour buckets + exact verify — never the
    BroadcastNestedLoopJoin a naive inequality join plans, so it
    survives interval tables too big to broadcast."""
    from trollflow2_spark.extensions.interval import interval_join

    ev = load_table(spark, sf_dir, "events")
    wins = _maintenance_windows(spark, sf_dir)
    joined = interval_join(
        ev.select("event_id", "user_id", "ts"),
        wins,
        ts_col="ts",
        start_col="w_start",
        end_col="w_end",
        bucket_seconds=C.INTERVAL_BUCKET_S,
    )
    # the window end is exclusive in the contract; interval_join is
    # inclusive-inclusive, so trim the boundary row here
    return (
        joined.filter(F.col("ts") < F.col("w_end"))
        .groupBy("window_day")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.countDistinct("user_id").alias("n_users"),
        )
    )


def q_streaming_drift_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming drift monitoring
    (`extensions/snapshot.py:drift_replay_state`): the current
    snapshot streams through 3 REAL micro-batches, each appending its
    per-(type, bucket) histogram as batch-tagged parquet state; the
    monitor's PSI-vs-reference read over the summed state must equal
    the one-pass batch PSI bit-for-bit — bucket counts merge exactly
    and the finishing float chain is literally shared with
    `drift_psi`. Budget-capped replay subset (O(1) in sf), even ids
    as the reference, odd ids streamed with the purchase +40 shift."""
    from trollflow2_spark.extensions.snapshot import drift_replay_state

    sub = _replay_subset(
        load_table(spark, sf_dir, "events")
    ).select("event_id", "event_type", "value")
    ref = sub.where(F.col("event_id") % 2 == 0).select(
        "event_type", "value"
    )
    shifted = F.when(
        F.col("event_type") == "purchase", F.col("value") + 40.0
    ).otherwise(F.col("value"))
    cur_rows = (
        sub.where(F.col("event_id") % 2 == 1)
        .select("event_id", "event_type", shifted.alias("value"))
        .collect()  # budget-capped fixture (control plane)
    )
    batches = [
        [
            {"event_type": r["event_type"], "value": r["value"]}
            for r in cur_rows
            if r["event_id"] % 3 == i
        ]
        for i in range(3)
    ]
    return drift_replay_state(
        spark,
        ref,
        batches,
        "event_type string, value double",
        value_col="value",
        group_cols=["event_type"],
        bucket_width=50.0,
        n_buckets=13,
    )


def q_streaming_cms_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The CMS's mergeable-state property as an OPERATING procedure:
    a budget-capped document subset streams through 3 real
    micro-batches (foreachBatch), each batch appending its own sketch
    as a batch-tagged delta; the merged state must equal the
    batch-concat sketch cell-for-cell — which is exactly what the
    oracle computes over the same subset in one pass. The property
    that lets a daily crawl increment maintain corpus-wide token
    frequencies without ever re-scanning history."""
    from trollflow2_spark.extensions.snapshot import cms_replay_state

    sub = _replay_subset(
        load_table(spark, sf_dir, "documents"), id_col="doc_id"
    ).select("doc_id", "text", (F.col("doc_id") % 3).alias("b"))
    rows = sub.collect()  # budget-capped fixture (control plane)
    batches = [
        [{"doc_id": r["doc_id"], "text": r["text"]} for r in rows
         if r["b"] == i]
        for i in range(3)
    ]
    return cms_replay_state(
        spark,
        batches,
        "doc_id long, text string",
        depth=C.CMS_DEPTH,
        width=C.CMS_WIDTH,
        seed_base=C.CMS_SEED,
    )


def q_dataset_datasheet(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The dataset card every corpus release ships: one tall
    (metric, value) table with document/token volumes, exact-duplicate
    rate, mean quality, quality-gate keep rate and source/language
    cardinalities — all integers (per-mille rates, micro-unit means),
    all from ONE aggregation pass over the per-doc feature projection
    (countDistinct pairs expand once; the output is 8 control-plane
    rows at any corpus scale). The oracle restates every metric with
    the same rounded fragments the quality_filter oracle pins."""
    from trollflow2_spark.extensions.text import quality_features

    docs = load_table(spark, sf_dir, "documents")
    feats = quality_features(docs, extra_cols=["text", "source", "lang"])
    keep = (
        (F.col("n_tokens") >= 20)
        & (F.col("stopword_ratio") >= 0.03)
        & (F.col("quality_score") >= 0.5)
    )
    agg = feats.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").cast("bigint").alias("tt"),
        F.countDistinct(F.md5("text")).alias("nd"),
        F.sum(
            F.round(F.col("quality_score") * F.lit(1000000.0)).cast(
                "bigint"
            )
        ).alias("qsum"),
        F.sum(keep.cast("long")).alias("keeps"),
        F.countDistinct("source").alias("nsrc"),
        F.countDistinct("lang").alias("nlang"),
    )
    return agg.selectExpr(
        "stack(8,"
        " 'n_docs', CAST(n_docs AS BIGINT),"
        " 'total_tokens', tt,"
        " 'mean_doc_tokens', tt div n_docs,"
        " 'exact_dup_rate_permille', (1000 * (n_docs - nd)) div n_docs,"
        " 'mean_quality_micro', qsum div n_docs,"
        " 'quality_keep_rate_permille', (1000 * keeps) div n_docs,"
        " 'n_sources', CAST(nsrc AS BIGINT),"
        " 'n_langs', CAST(nlang AS BIGINT)"
        ") AS (metric, value)"
    )


def q_table_expectations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-quality expectations (the dbt-test / Great-Expectations
    shape the warehouse tier was missing): not-null, uniqueness,
    accepted-range and referential-integrity rules evaluated as one
    aggregation each over the real tables, unioned into a
    control-plane-sized report with violation counts and pass flags.
    The discount-range rule FAILS by design (TPC-H discounts run past
    0.05) — a report that can only say pass proves nothing. NULLs fail
    range and FK rules explicitly (unknown is not known-good). The
    oracle restates every count with plain SQL aggregates."""
    from trollflow2_spark.extensions.profile import (
        expect_foreign_key,
        expect_not_null,
        expect_range,
        expect_unique,
        expectations_report,
    )

    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    lineitem = load_table(spark, sf_dir, "lineitem")
    return expectations_report(
        [
            expect_not_null(orders, "o_orderdate"),
            expect_unique(customer, "c_custkey"),
            expect_range(lineitem, "l_quantity", 1, 50),
            expect_range(lineitem, "l_discount", 0.0, 0.05),
            expect_foreign_key(orders, "o_custkey", customer, "c_custkey"),
        ]
    )


def q_cms_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min sketch frequency estimation with its error AUDIT: the
    exact top-k tokens joined against their CMS estimates (min over
    depth hashed cells) with the one-sided overestimate stated per
    token. The sketch is the fixed-memory (depth x width) mergeable
    state a 100 TB token stream needs when the vocabulary won't fit an
    exact table; the audit is what makes shipping it honest. One
    map-side-combinable agg builds the sketch; the k-row candidate
    side broadcasts. The oracle replays every cell count and the min
    estimates exactly (portable seeded hash)."""
    from trollflow2_spark.extensions.snapshot import cms_heavy_hitter_audit

    docs = load_table(spark, sf_dir, "documents")
    return cms_heavy_hitter_audit(
        docs,
        k=C.CMS_TOPK,
        depth=C.CMS_DEPTH,
        width=C.CMS_WIDTH,
        seed_base=C.CMS_SEED,
    )


def q_incremental_corpus_stats(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Incremental aggregate maintenance: per-(lang, source) corpus
    stats kept up to date by MERGING a daily batch's aggregate into
    the prior state — the historical corpus is never re-scanned.
    Fixture: docs with doc_id%5==0 arrive as 'today's batch'; the
    merged state must equal the full recompute (the oracle aggregates
    the whole table — equality IS the correctness statement of
    incremental view maintenance)."""
    from trollflow2_spark.extensions.snapshot import merge_agg_state

    docs = load_table(spark, sf_dir, "documents")

    def agg(part: DataFrame) -> DataFrame:
        return part.groupBy("lang", "source").agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").alias("total_chars"),
        )

    state = agg(docs.where(F.col("doc_id") % 5 != 0))
    delta = agg(docs.where(F.col("doc_id") % 5 == 0))
    return merge_agg_state(
        state, delta, ["lang", "source"], ["n_docs", "total_chars"]
    )


def q_zorder_layout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order (Morton) clustering key: user bucket × minute-of-month
    interleaved bit-by-bit, rolled up per key prefix. The key is a
    pure shift/mask Column expression (whole-stage codegen); sorting
    the write by it gives parquet files compact min/max ranges in
    BOTH dimensions, so 2-D predicates prune (the Delta OPTIMIZE
    ZORDER strategy). Locality is pinned behaviorally in
    `test_zorder_write_clusters_both_dimensions`; this query pins the
    key arithmetic against the oracle's replay."""
    from trollflow2_spark.extensions.zorder import zorder_key

    ev = load_table(spark, sf_dir, "events")
    ub = F.pmod(F.col("user_id"), F.lit(1024))
    # pmod into the key's bit range: minutes past ~45 days (or before
    # the epoch) would otherwise alias silently on the low 16 bits —
    # the wrap is now explicit and shared with the oracle
    tb = F.pmod(
        F.floor(
            (F.unix_timestamp("ts") - F.unix_timestamp(_ntz(C.ZORDER_EPOCH)))
            / 60
        ),
        F.lit(1 << C.ZORDER_BITS),
    )
    keyed = ev.select(
        F.col("event_id"),
        zorder_key([ub, tb], bits=C.ZORDER_BITS).alias("zkey"),
    )
    return (
        keyed.groupBy(
            F.shiftright("zkey", C.ZORDER_PREFIX_SHIFT).alias("zprefix")
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.min("zkey").alias("zkey_min"),
            F.max("zkey").alias("zkey_max"),
        )
    )


def _phash_fixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic gray PNG per document: ``w = doc_id%8+12``,
    ``h = doc_id%4+10``, pixel ``((doc_id%32)*37 + (y*w+x)*11) % 256``
    — encoded with the repo's stdlib PNG encoder executor-side. The
    multiplicative wrap pattern makes hashes diverse ACROSS the 32
    residue classes while docs in the same class are pixel-identical
    (bounded duplicate groups ~n/32 — small enough that the banding
    guard never sheds them; a global ramp fixture instead collapses
    every image to the same all-ones gradient and the hot-bucket
    guard rightly drops the degenerate bucket). All SQL-expressible."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id").repartition(
        spark.sparkContext.defaultParallelism
    )
    media_schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("media", T.BinaryType()),
            T.StructField("media_meta", T.StringType()),
        ]
    )

    def make_png(batches):
        import numpy as np
        import pandas as pd

        from trollflow2_spark.sinks.imagery import encode_png

        for pdf in batches:
            out = []
            for d in pdf["doc_id"]:
                d = int(d)
                w, h = d % 8 + 12, d % 4 + 10
                px = (
                    ((d % 32) * 37 + np.arange(w * h) * 11) % 256
                ).astype(np.uint8).reshape(h, w)
                out.append((d, encode_png(px), "image/png"))
            yield pd.DataFrame(
                out, columns=["doc_id", "media", "media_meta"]
            )

    return docs.mapInPandas(make_png, media_schema)


def q_perceptual_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """dHash image fingerprints over real PNG decode: encode the ramp
    fixture executor-side, decode it back through the stdlib codec,
    grayscale -> 9x8 nearest grid -> 64 gradient bits. The integer
    resample map makes the whole hash a closed-form function of
    doc_id, which the oracle evaluates term by term."""
    from trollflow2_spark.extensions.multimodal import perceptual_hash

    return perceptual_hash(_phash_fixture(spark, sf_dir))


def q_phash_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Image near-dup pairs: dHash fingerprints through the SAME
    hamming-band machinery as text simhash (64 bits, 8 bands). With
    max_hamming=6 < bands, pigeonhole guarantees every qualifying
    pair shares a band — the result is EXACTLY the quadratic
    reference join the oracle runs, with the plan staying a guarded
    bucket equi-join."""
    from trollflow2_spark.extensions.dedup import simhash_pairs
    from trollflow2_spark.extensions.multimodal import perceptual_hash

    fp = perceptual_hash(_phash_fixture(spark, sf_dir)).select(
        "doc_id", F.col("phash").alias("simhash")
    )
    return simhash_pairs(
        fp, id_col="doc_id", bits=64, bands=8, max_hamming=C.PHASH_MAX_HAMMING
    )


def q_udtf_sentences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Python UDTF surface: ``split_sentences`` registered as a SQL
    table function and invoked via LATERAL — one (pos, sentence) row
    per sentence. The boundary rule is RE2-safe and shared verbatim
    with the oracle's regexp_replace + split replay. UDTFs are the
    extension path (row-at-a-time Python); the hot-path equivalent of
    this explode is the Column split the same rule compiles to."""
    from trollflow2_spark.extensions.text import register_sentence_udtf

    register_sentence_udtf(spark)
    docs = load_table(spark, sf_dir, "documents").where(
        F.col("doc_id") % 7 == 0
    )
    docs.select("doc_id", "text").createOrReplaceTempView(
        "tf2_udtf_docs"
    )
    return spark.sql(
        """
        SELECT doc_id, s.pos, s.sentence
        FROM tf2_udtf_docs, LATERAL split_sentences(text) s
        """
    )


def q_phash_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Image-dedup capstone: decode → dHash → hamming-band pairs →
    connected components → canonical per cluster, in one plan — the
    visual twin of the lexical dedup chain, sharing its banding guard
    AND its label-propagation clustering. The oracle replays the whole
    chain: closed-form hashes, quadratic bit_count edges, recursive
    closure."""
    from trollflow2_spark.extensions.dedup import (
        duplicate_clusters,
        simhash_pairs,
    )
    from trollflow2_spark.extensions.multimodal import perceptual_hash

    fixture = _phash_fixture(spark, sf_dir)
    fp = perceptual_hash(fixture).select(
        "doc_id", F.col("phash").alias("simhash")
    )
    pairs = simhash_pairs(
        fp, id_col="doc_id", bits=64, bands=8,
        max_hamming=C.PHASH_MAX_HAMMING,
    ).select("id_a", "id_b")
    # the id universe comes from the RAW table — passing the fixture
    # here would re-encode every PNG just to list its doc_ids
    ids = load_table(spark, sf_dir, "documents").select("doc_id")
    return duplicate_clusters(ids, pairs, id_col="doc_id")


def q_unigram_tokenize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unigram-LM (SentencePiece-style) subword encoding: EM-trained
    token probabilities on the fixed lowest-id sample, then
    max-likelihood segmentation per word with a global lexicographic
    tie-break. Model broadcast, map-only encode with a distinct-word
    cache; the oracle replays the exact segmentation rule by
    enumerating vocab-constrained paths in a recursive CTE (bounded
    by word truncation) and arg-maxing with the same tie-break."""
    from trollflow2_spark.extensions.tokenizer import (
        sample_unigram_model,
        tokenize_unigram,
    )

    docs = load_table(spark, sf_dir, "documents")
    model = sample_unigram_model(docs)
    return tokenize_unigram(
        docs.where(F.col("doc_id") % C.UNI_DOC_MOD == 0), model
    )


def q_fuzzy_name_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Entity-resolution fuzzy match: customer-name pairs at edit
    distance <=1 via deletion-neighborhood blocking (one wildcard
    variant per character position, equi-join on the variant) — the
    quadratic levenshtein theta-join the oracle runs is exactly what
    this plan avoids at scale."""
    from trollflow2_spark.extensions.dedup import hamming1_pairs

    cust = load_table(spark, sf_dir, "customer")
    return hamming1_pairs(cust, "c_custkey", "c_name").select(
        F.col("id_a").alias("custkey_a"),
        F.col("id_b").alias("custkey_b"),
    )


def q_fuzzy_lev_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TRUE levenshtein<=1 entity resolution over a duplicate-heavy,
    mixed-length name fixture ('c' || custkey%300, every 7th row with
    an extra trailing char): substitutions ride the same-position
    wildcard join, insert/delete pairs the one-deletion equi-join —
    the oracle replays the full quadratic levenshtein theta-join this
    plan avoids. Id classes re-attach in bounded chunks (no unbounded
    per-class array row)."""
    from trollflow2_spark.extensions.dedup import levenshtein1_pairs

    cust = load_table(spark, sf_dir, "customer")
    fix = cust.select(
        "c_custkey",
        F.concat(
            F.lit("c"),
            (F.col("c_custkey") % C.FUZZY_MOD).cast("string"),
            F.when(
                F.col("c_custkey") % C.FUZZY_SUFFIX_MOD == 0, F.lit("x")
            ).otherwise(F.lit("")),
        ).alias("nm"),
    )
    return levenshtein1_pairs(fix, "c_custkey", "nm").select(
        F.col("id_a").alias("custkey_a"),
        F.col("id_b").alias("custkey_b"),
    )


def q_fuzzy_lev2_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Levenshtein<=2 entity resolution over the duplicate-heavy
    mixed-length name fixture: FastSS <=2-deletion neighborhoods block
    the candidates, exact JVM levenshtein verifies, ids expand through
    the adaptive chunked classes — vs the oracle's full quadratic
    theta-join at threshold 2."""
    from trollflow2_spark.extensions.dedup import levenshtein_pairs

    # threshold-2 matches nearly every same-length numeric label, so
    # the PAIR OUTPUT is inherently ~quadratic in class size; subset
    # the fixture to keep the contract about the algorithm, not about
    # materializing a 50M-row demo table at bench scale
    cust = load_table(spark, sf_dir, "customer").where(
        F.col("c_custkey") % 10 == 0
    )
    fix = cust.select(
        "c_custkey",
        F.concat(
            F.lit("c"),
            (F.col("c_custkey") % C.FUZZY_MOD).cast("string"),
            F.when(
                F.col("c_custkey") % C.FUZZY_SUFFIX_MOD == 0, F.lit("x")
            ).otherwise(F.lit("")),
        ).alias("nm"),
    )
    return levenshtein_pairs(fix, "c_custkey", "nm", max_dist=2).select(
        F.col("id_a").alias("custkey_a"),
        F.col("id_b").alias("custkey_b"),
    )


_FUZZY_LONG_TAIL = (
    " lorem ipsum dolor sit amet consectetur adipiscing"
    " elit sed do eiusmod tempor incididunt ut labore"
)


def q_fuzzy_long_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Levenshtein<=2 over LONG strings (~115-145 chars — the
    document-title class the deletion-neighborhood tiers cap out of):
    the ed-join shape — positional q-gram prefix filter (rarest q*t+1
    grams vs the partner's full gram set, length/position bands) +
    exact levenshtein verify. Fixture: 80 title groups x 4 variants
    (identity, first-char substitution, first-char deletion, 2-char
    append) on a FIXED 320-doc subset (the oracle is a quadratic
    ground-truth join, so the fixture is O(1) in sf like the replay
    fixtures). The oracle computes truth with DuckDB's own
    levenshtein over all pairs — no structural assumption shared with
    the engine under test."""
    from trollflow2_spark.extensions.dedup import levenshtein_long_pairs

    docs = load_table(spark, sf_dir, "documents").where(
        F.col("doc_id") < C.FUZZY_LONG_DOCS
    )
    g = (F.col("doc_id") / 4).cast("bigint").cast("string")
    v = F.col("doc_id") % 4
    t = F.concat(
        F.lit("Title "),
        F.repeat(g, 9),
        F.lit(_FUZZY_LONG_TAIL),
    )
    title = (
        F.when(v == 0, t)
        .when(v == 1, F.concat(F.lit("X"), F.substring(t, 2, 1 << 20)))
        .when(v == 2, F.substring(t, 2, 1 << 20))
        .otherwise(F.concat(t, F.lit("!!")))
    )
    fix = docs.select("doc_id", title.alias("title"))
    return levenshtein_long_pairs(
        fix,
        "doc_id",
        "title",
        max_dist=2,
        q=C.FUZZY_LONG_Q,
        max_len=C.FUZZY_LONG_MAXLEN,
    )


def q_fuzzy_scope_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The fuzzy tiers' length caps as an ACCOUNTED quarantine: one
    map-side aggregation reports how many strings fall outside the
    short tier's [1, 64] domain (and the longest skipped length) —
    the audit that turns a silent WHERE into an operational number.
    Fixture: document text truncated to doc_id-dependent lengths so
    both in- and out-of-scope rows exist closed-form."""
    from trollflow2_spark.extensions.dedup import fuzzy_scope_audit

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        F.substring(
            F.col("text"), 1, (20 + (F.col("doc_id") % 13) * 9).cast("int")
        ).alias("s"),
    )
    return fuzzy_scope_audit(docs, "doc_id", "s", min_len=1, max_len=64)


def q_outlier_mad_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust outlier gate: per event type, median and MAD (median
    absolute deviation) flag values beyond k*MAD — the
    heavy-tail-safe alternative to z-scores. Both medians run
    through `_bracket_median`'s distributed exact selection (same
    interpolation as percentile(v, 0.5), no per-group value buffer)
    and broadcast back, so the events table scans feed plain joins,
    no global sort."""
    from trollflow2_spark.extensions.profile import _bracket_median

    ev = load_table(spark, sf_dir, "events").select("event_type", "value")
    # medians see only non-null values (percentile semantics);
    # n_total downstream still counts every row
    nn = ev.where(F.col("value").isNotNull())
    # the median table is broadcast-sized BY this query's contract
    # (it is F.broadcast below); materializing it stops the whole
    # median DAG from re-running inside every downstream job that
    # rebuilds the broadcast (r15 constant-factor shave)
    med = _bracket_median(
        nn, ["event_type"], val_col="value", median_col="med",
        round_dp=None,
    ).select(F.col("event_type").alias("mt"), "med").localCheckpoint()
    dev = ev.join(
        F.broadcast(med), F.col("event_type") == F.col("mt")
    ).select("event_type", "value", "med",
             F.abs(F.col("value") - F.col("med")).alias("adev"))
    dev_nn = dev.where(F.col("adev").isNotNull())
    mad = _bracket_median(
        dev_nn, ["event_type"], val_col="adev", median_col="mad",
        round_dp=None,
    ).select(F.col("event_type").alias("at"), "mad").localCheckpoint()
    flagged = dev.join(
        F.broadcast(mad), F.col("event_type") == F.col("at")
    ).select(
        "event_type",
        (F.col("adev") > C.MAD_K * F.col("mad")).alias("is_outlier"),
        "med", "mad",
    )
    return flagged.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_total"),
        F.sum(F.when(F.col("is_outlier"), 1).otherwise(0))
        .alias("n_outliers"),
        F.round(F.first("med"), 6).alias("median_value"),
        F.round(F.first("mad"), 6).alias("mad_value"),
    )


def q_value_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-width histogram of order values: bucket arithmetic stays
    a pure Column expression feeding one hash agg — the portable form
    of width_bucket (no sort, no UDF)."""
    orders = load_table(spark, sf_dir, "orders")
    w = float(C.HIST_BUCKET_WIDTH)
    return (
        orders.groupBy(
            F.floor(F.col("o_totalprice") / w).cast("long")
            .alias("bucket")
        )
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.round(
                F.min("o_totalprice"), 2
            ).alias("min_price"),
            F.round(
                F.max("o_totalprice"), 2
            ).alias("max_price"),
        )
    )


def q_parquet_layout_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Physical-layout observability from parquet FOOTERS only: per
    (file, column) compressed/uncompressed bytes, codec and row-group
    shape across every corpus table — which columns dominate storage,
    whether row groups suit maxPartitionBytes, which files want
    compaction. Footer reads parallelize across executors; the oracle
    is DuckDB's INDEPENDENT parquet_metadata() reader over the same
    footers — two parsers, byte-identical numbers."""
    import os

    from trollflow2_spark.extensions.profile import parquet_layout_audit
    from trollflow2_spark.tables import TABLE_NAMES

    paths = [os.path.join(sf_dir, f"{t}.parquet") for t in TABLE_NAMES]
    return parquet_layout_audit(spark, paths)


def q_compaction_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Small-files compaction planner over a closed-form manifest
    fixture (one file row per doc, per-partition strata, sizes mixing
    KB-noise and multi-hundred-MB files): deterministic sorted-fill
    bin assignment toward a 512 MB target, computed per partition so
    the window never goes global. The consumer of the layout audit's
    byte numbers; the oracle replays the same window arithmetic."""
    from trollflow2_spark.extensions.profile import compaction_plan

    files = load_table(spark, sf_dir, "documents").select(
        F.col("doc_id").alias("file_id"),
        (F.col("doc_id") % 8).alias("part"),
        ((1 + (F.col("doc_id") * 37) % 256) * 1048576).alias("bytes"),
    )
    return compaction_plan(
        files,
        target_bytes=512 * 1024 * 1024,
        size_col="bytes",
        id_col="file_id",
        strata_col="part",
    )


def q_compaction_from_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The audit feeding the planner, composed: per-FILE compressed
    byte totals roll up from the footer layout audit and drive the
    sorted-fill compaction bins (8 MB target — sized so the corpus
    tables actually split across bins). This is the real operational
    loop — measure layout, plan merges — in one plan; the oracle
    composes DuckDB's parquet_metadata() rollup with the same window
    arithmetic."""
    import os

    from trollflow2_spark.extensions.profile import (
        compaction_plan,
        parquet_layout_audit,
    )
    from trollflow2_spark.tables import TABLE_NAMES

    paths = [os.path.join(sf_dir, f"{t}.parquet") for t in TABLE_NAMES]
    audit = parquet_layout_audit(spark, paths)
    files = audit.groupBy("file_name").agg(
        F.sum("compressed_bytes").alias("bytes")
    )
    return compaction_plan(
        files,
        target_bytes=8 * 1024 * 1024,
        size_col="bytes",
        id_col="file_name",
    ).select("file_name", "bytes", "bin", "cum_bytes")


def q_table_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Generic column profiler: null count / exact distinct / min /
    max per column in one aggregation, unpivoted via stack(). The
    exact=True path (multi-column COUNT DISTINCT -> Expand) is the
    contract; corpus-scale profiles flip to HLL sketches with the
    same output shape."""
    from trollflow2_spark.extensions.profile import profile_table

    docs = load_table(spark, sf_dir, "documents")
    return profile_table(
        docs, ["lang", "source", "n_chars"], exact=True
    )


def q_scd2_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Type-2 slowly-changing-dimension merge: a batch of customer
    updates folds into the dimension history — changed rows close and
    re-open, no-op re-deliveries are absorbed, new keys open their
    first row, and already-closed history passes through untouched.
    Fixture: custkey%10==0 carries a pre-closed 2022 row; updates at
    2024-06-01 change the balance for custkey%3==0, re-deliver the
    unchanged row for %3==1, and introduce new NEW-segment keys for
    custkey%500==0."""
    from trollflow2_spark.extensions.profile import scd2_merge

    cust = load_table(spark, sf_dir, "customer")
    current = cust.select(
        F.col("c_custkey").alias("custkey"),
        F.col("c_mktsegment").alias("segment"),
        F.round("c_acctbal", 2).alias("balance"),
        F.lit("2023-01-01").alias("valid_from"),
        F.lit(None).cast("string").alias("valid_to"),
    )
    closed = cust.where(F.col("c_custkey") % 10 == 0).select(
        F.col("c_custkey").alias("custkey"),
        F.col("c_mktsegment").alias("segment"),
        F.round(F.col("c_acctbal") - 50.0, 2).alias("balance"),
        F.lit("2022-01-01").alias("valid_from"),
        F.lit("2023-01-01").alias("valid_to"),
    )
    history = closed.unionByName(current)
    upd_changed = cust.where(F.col("c_custkey") % 3 == 0).select(
        F.col("c_custkey").alias("custkey"),
        F.col("c_mktsegment").alias("segment"),
        F.round(F.col("c_acctbal") + 100.0, 2).alias("balance"),
    )
    upd_noop = cust.where(F.col("c_custkey") % 3 == 1).select(
        F.col("c_custkey").alias("custkey"),
        F.col("c_mktsegment").alias("segment"),
        F.round("c_acctbal", 2).alias("balance"),
    )
    upd_new = cust.where(F.col("c_custkey") % 500 == 0).select(
        (F.col("c_custkey") + 100000).alias("custkey"),
        F.lit("NEW").alias("segment"),
        F.lit(0.0).alias("balance"),
    )
    updates = (
        upd_changed.unionByName(upd_noop)
        .unionByName(upd_new)
        .withColumn("ts", F.lit("2024-06-01"))
    )
    return scd2_merge(
        history, updates, "custkey", ["segment", "balance"], ts_col="ts"
    )


def q_file_skip_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zone-map pruning audit
    (`extensions/profile.py:file_skip_plan`): REAL parquet footers —
    the fixture writes 6 files x 4 row groups (50 rows each, value
    ranges closed-form: file i, group g covers
    [1000i + 100g, 1000i + 100g + 49]) executor-side with pyarrow,
    then the planner reads ONLY footers and decides, per row group,
    whether BETWEEN 1250 AND 2040 could skip it. The oracle restates
    min/max and the skip decision from the range arithmetic — the
    footer reader must agree with what was written."""
    import os
    import tempfile

    from trollflow2_spark.extensions.profile import file_skip_plan

    base = os.path.join(
        tempfile.gettempdir(), "tf2_skipplan", os.path.basename(sf_dir)
    )
    os.makedirs(base, exist_ok=True)
    spec = spark.createDataFrame(
        [(i, os.path.join(base, f"f{i}.parquet")) for i in range(6)],
        "i int, path string",
    ).repartition(6)

    def write_fixture(batches):
        import pandas as pd
        import pyarrow as pa
        import pyarrow.parquet as pq

        for pdf in batches:
            for i, path in zip(pdf["i"], pdf["path"]):
                i = int(i)
                vals = [
                    1000 * i + 100 * g + r
                    for g in range(4)
                    for r in range(50)
                ]
                t = pa.table({"value": pa.array(vals, pa.int64())})
                pq.write_table(t, path, row_group_size=50)
            yield pd.DataFrame({"path": pdf["path"]})

    paths = [
        r["path"]
        for r in spec.mapInPandas(write_fixture, "path string").collect()
    ]
    return file_skip_plan(spark, sorted(paths), "value", 1250, 2040)


def q_delta_snapshot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Delta transaction-log replay
    (`extensions/profile.py:delta_log_snapshot`): reconstruct the
    live-file snapshot AS OF version 20 from raw `_delta_log` JSON
    action lines — reading a Delta table (with time travel) without
    the Delta library. Fixture: docs map to commits 0-24; every 5th
    doc emits a remove of a shifted path, others add
    `part-(d%80)` with size d*100; versions 21-24 must be invisible.
    One from_json scan + one path-keyed max_by (the Delta log is a
    CDC feed over files); the oracle replays the same precedence with
    a window."""
    from trollflow2_spark.extensions.profile import delta_log_snapshot

    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    d = F.col("doc_id")
    line = F.when(
        d % 5 == 0,
        F.concat(
            F.lit('{"remove":{"path":"part-'),
            ((d + 40) % 80).cast("string"),
            F.lit('"}}'),
        ),
    ).otherwise(
        F.concat(
            F.lit('{"add":{"path":"part-'),
            (d % 80).cast("string"),
            F.lit('","size":'),
            (d * 100).cast("string"),
            F.lit("}}"),
        )
    )
    log = docs.select((d % 25).alias("version"), line.alias("line"))
    return delta_log_snapshot(log, as_of_version=20)


def q_delta_snapshot_checkpoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Checkpointed Delta replay (`extensions/profile.py::
    delta_snapshot_from_checkpoint`): the same 25-commit fixture as
    `delta_snapshot`, but commits 0-14 are VACUUMED — the engine only
    sees the 14.checkpoint.parquet state (built here by compacting
    the early log, exactly what a writer does) plus JSON commits
    15-24, while the oracle replays the FULL log. Files untouched
    since the checkpoint report last_version = 14 (version knowledge
    compacts with the log)."""
    from trollflow2_spark.extensions.profile import (
        delta_log_snapshot,
        delta_snapshot_from_checkpoint,
    )

    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    d = F.col("doc_id")
    line = F.when(
        d % 5 == 0,
        F.concat(
            F.lit('{"remove":{"path":"part-'),
            ((d + 40) % 80).cast("string"),
            F.lit('"}}'),
        ),
    ).otherwise(
        F.concat(
            F.lit('{"add":{"path":"part-'),
            (d % 80).cast("string"),
            F.lit('","size":'),
            (d * 100).cast("string"),
            F.lit("}}"),
        )
    )
    log = docs.select((d % 25).alias("version"), line.alias("line"))
    # the writer's compaction: resolve commits <= 14 into checkpoint
    # action rows (live adds only — expired tombstones are dropped,
    # as real checkpoints may do after the retention window)
    checkpoint = delta_log_snapshot(log, as_of_version=14).select(
        F.struct(
            F.col("path").alias("path"), F.col("size").alias("size")
        ).alias("add"),
        F.lit(None).cast("struct<path: string>").alias("remove"),
    )
    vacuumed_tail = log.where(F.col("version") >= 15)
    return delta_snapshot_from_checkpoint(
        checkpoint, vacuumed_tail, checkpoint_version=14
    )


def q_delta_changes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Delta version-window change feed (`extensions/profile.py::
    delta_log_changes`): net file-level added/removed/updated between
    versions 10 and 20 of the same 25-commit fixture `delta_snapshot`
    replays — the incremental-consumer read path; unchanged files
    never emit."""
    from trollflow2_spark.extensions.profile import delta_log_changes

    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    d = F.col("doc_id")
    line = F.when(
        d % 5 == 0,
        F.concat(
            F.lit('{"remove":{"path":"part-'),
            ((d + 40) % 80).cast("string"),
            F.lit('"}}'),
        ),
    ).otherwise(
        F.concat(
            F.lit('{"add":{"path":"part-'),
            (d % 80).cast("string"),
            F.lit('","size":'),
            (d * 100).cast("string"),
            F.lit("}}"),
        )
    )
    log = docs.select((d % 25).alias("version"), line.alias("line"))
    return delta_log_changes(log, from_version=10, to_version=20)


def q_delta_time_travel_ts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Delta TIMESTAMP AS OF (`extensions/profile.py::
    delta_version_as_of`): commitInfo timestamps resolve the cutoff
    to the latest covered version (a control-plane agg), then the
    same total-precedence snapshot replays AS OF it. Fixture: the
    25-commit `delta_snapshot` log plus one commitInfo line per
    version at ts=(v+1)*1000; the 21000 cutoff lands exactly on
    version 20, so the oracle is the version-20 snapshot."""
    from trollflow2_spark.extensions.profile import (
        delta_log_snapshot,
        delta_version_as_of,
    )

    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    d = F.col("doc_id")
    line = F.when(
        d % 5 == 0,
        F.concat(
            F.lit('{"remove":{"path":"part-'),
            ((d + 40) % 80).cast("string"),
            F.lit('"}}'),
        ),
    ).otherwise(
        F.concat(
            F.lit('{"add":{"path":"part-'),
            (d % 80).cast("string"),
            F.lit('","size":'),
            (d * 100).cast("string"),
            F.lit("}}"),
        )
    )
    log = docs.select((d % 25).alias("version"), line.alias("line"))
    commits = (
        docs.select((d % 25).alias("version"))
        .distinct()
        .select(
            "version",
            F.concat(
                F.lit('{"commitInfo":{"timestamp":'),
                ((F.col("version") + 1) * 1000).cast("string"),
                F.lit("}}"),
            ).alias("line"),
        )
    )
    full = log.unionByName(commits)
    v = delta_version_as_of(full, ts_ms=21000)
    return delta_log_snapshot(full, as_of_version=v)


def q_delta_cdf_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Change-data-feed file resolution (`extensions/profile.py::
    delta_cdf_files`): versions that wrote cdc actions route to
    their _change_data files ONLY (the coexisting add actions of
    those commits must be excluded — double-reading a changed row is
    the classic CDF bug); versions without cdc synthesize from
    add/remove. Fixture: v=d%25, window 5..20; v%3==0 commits carry
    cdc lines (even d) alongside add lines (odd d, must drop);
    others carry adds (d%5!=0) and removes (d%5==0)."""
    from trollflow2_spark.extensions.profile import delta_cdf_files

    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    d = F.col("doc_id")
    v = d % 25
    line = F.when(
        (v % 3 == 0) & (d % 2 == 0),
        F.concat(
            F.lit('{"cdc":{"path":"cdf-'),
            d.cast("string"),
            F.lit('","size":'),
            d.cast("string"),
            F.lit("}}"),
        ),
    ).when(
        v % 3 == 0,
        F.concat(
            F.lit('{"add":{"path":"shadow-'),
            d.cast("string"),
            F.lit('","size":1}}'),
        ),
    ).when(
        d % 5 == 0,
        F.concat(
            F.lit('{"remove":{"path":"rm-'),
            d.cast("string"),
            F.lit('"}}'),
        ),
    ).otherwise(
        F.concat(
            F.lit('{"add":{"path":"part-'),
            d.cast("string"),
            F.lit('","size":'),
            (d * 10).cast("string"),
            F.lit("}}"),
        )
    )
    log = docs.select(v.alias("version"), line.alias("line"))
    return delta_cdf_files(log, from_version=5, to_version=20)


def q_delta_partition_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Delta partition pruning (`extensions/profile.py::
    delta_log_snapshot(stats=True)` + `partitionValues`): the scan
    planner's first move on a partitioned table — replay the log,
    keep only files whose partitionValues match the predicate, and
    roll up what a pruned scan would read. The filter is a plain
    Column predicate on the map column, so Catalyst folds it into
    the snapshot resolution; same 25-commit precedence fixture as
    `delta_snapshot` with region = path-number % 4 and numRecords
    in stats."""
    from trollflow2_spark.extensions.profile import delta_log_snapshot

    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    d = F.col("doc_id")
    line = F.when(
        d % 5 == 0,
        F.concat(
            F.lit('{"remove":{"path":"part-'),
            ((d + 40) % 80).cast("string"),
            F.lit('"}}'),
        ),
    ).otherwise(
        F.concat(
            F.lit('{"add":{"path":"part-'),
            (d % 80).cast("string"),
            F.lit('","size":'),
            (d * 100).cast("string"),
            F.lit(',"stats":"{\\"numRecords\\":'),
            (100 + d % 50).cast("string"),
            F.lit('}","partitionValues":{"region":"'),
            ((d % 80) % 4).cast("string"),
            F.lit('"}}}'),
        )
    )
    log = docs.select((d % 25).alias("version"), line.alias("line"))
    snap = delta_log_snapshot(log, as_of_version=20, stats=True)
    region = F.col("partition_values")["region"]
    return (
        snap.where(region.isin("0", "1"))
        .groupBy(region.alias("region"))
        .agg(
            F.count(F.lit(1)).alias("n_files"),
            F.sum("live_records").alias("live_rows"),
        )
    )


def q_delta_snapshot_dv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Delta deletion vectors (`extensions/profile.py::
    delta_log_snapshot(stats=True)` + `delta_dv_positions` +
    `extensions/roaring.py`): modern Delta writers attach a
    `deletionVector` descriptor to add actions instead of rewriting
    files — counting DV-masked rows as live silently overstates
    every rollup. Fixture (`_delta_dv_fixture`): every doc adds
    `part-<d>` with numRecords = 100+d%50; d%3==0 carries an INLINE
    Z85-encoded RoaringBitmapArray DV deleting positions 0..d%4;
    d%6==0 REPLACES that DV at version 1 with one more deleted
    position (the normal DELETE-on-DELETE path — the replacement
    must win); d%18==0 uses the ON-DISK storage form ("u": Z85 uuid
    -> deletion_vector_<uuid>.bin with version byte / BE size / CRC
    framing) instead of inline. `dv_gone` counts DECODED positions —
    the value only matches the oracle if the Z85 + roaring + framing
    decode is actually right, not just the descriptor's cardinality
    field."""
    from trollflow2_spark.extensions.profile import (
        delta_dv_positions,
        delta_log_snapshot,
    )

    log, dv_files = _delta_dv_fixture(spark, sf_dir)
    snap = delta_log_snapshot(log, stats=True)
    gone = (
        delta_dv_positions(snap, dv_files)
        .groupBy("path")
        .agg(F.count(F.lit(1)).alias("dv_gone"))
    )
    return (
        snap.join(gone, "path", "left")
        .select(
            "path",
            "num_records",
            "dv_cardinality",
            F.coalesce(F.col("dv_gone"), F.lit(0)).alias("dv_gone"),
            "live_records",
        )
    )


def _delta_dv_fixture(spark: SparkSession, sf_dir: str):
    """(log, dv_files) for the deletion-vector contract queries —
    see `q_delta_snapshot_dv` for the planted scheme."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    out_schema = (
        "version int, line string, dvf_path string, dvf_blob binary"
    )

    def build(batches):
        import json as _json
        import uuid as _uuid

        import pandas as pd

        from trollflow2_spark.extensions.roaring import (
            encode_dv_data,
            frame_dv_file,
            z85_encode,
        )

        def dv_descr(d, positions, on_disk):
            data = encode_dv_data(positions)
            if not on_disk:
                payload = z85_encode(
                    data + b"\x00" * ((-len(data)) % 4)
                )
                descr = {
                    "storageType": "i",
                    "pathOrInlineDv": payload,
                    "sizeInBytes": len(data),
                    "cardinality": len(positions),
                }
                return descr, None, None
            u = _uuid.UUID(int=d)
            blob, offs = frame_dv_file([data])
            descr = {
                "storageType": "u",
                "pathOrInlineDv": z85_encode(u.bytes),
                "offset": offs[0],
                "sizeInBytes": len(data),
                "cardinality": len(positions),
            }
            return descr, f"deletion_vector_{u}.bin", blob

        for pdf in batches:
            rows = []
            for d in pdf["doc_id"]:
                d = int(d)
                add = {
                    "path": f"part-{d}",
                    "size": 100 + d % 77,
                    "stats": _json.dumps({"numRecords": 100 + d % 50}),
                }
                if d % 3 == 0:
                    descr, _f, _b = dv_descr(d, list(range(d % 4 + 1)),
                                             on_disk=False)
                    add["deletionVector"] = descr
                rows.append((0, _json.dumps({"add": add}), None, None))
                if d % 6 == 0:
                    add2 = dict(add)
                    descr, fname, blob = dv_descr(
                        d, list(range(d % 4 + 2)), on_disk=(d % 18 == 0)
                    )
                    add2["deletionVector"] = descr
                    rows.append(
                        (1, _json.dumps({"add": add2}), None, None)
                    )
                    if fname is not None:
                        rows.append((None, None, fname, blob))
            yield pd.DataFrame(
                rows, columns=["version", "line", "dvf_path", "dvf_blob"]
            )

    built = docs.mapInPandas(build, out_schema)
    log = built.where(F.col("line").isNotNull()).select("version", "line")
    dv_files = built.where(F.col("dvf_path").isNotNull()).select(
        F.col("dvf_path").alias("path"), F.col("dvf_blob").alias("blob")
    )
    return log, dv_files


def q_delta_changes_live(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Row-aware change feed (`extensions/profile.py::
    delta_log_changes(stats=True)`): between versions 0 and 1 of the
    DV fixture, exactly the d%6==0 files changed — their deletion
    vector was REPLACED (one more masked row) — and the feed must
    carry live_records before/after while every untouched file stays
    silent."""
    from trollflow2_spark.extensions.profile import delta_log_changes

    log, _dv = _delta_dv_fixture(spark, sf_dir)
    return delta_log_changes(
        log, from_version=0, to_version=1, stats=True
    )


def q_delta_file_skip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Delta data skipping (`extensions/profile.py::
    delta_file_skip_plan`): per-column minValues/maxValues from each
    add action's stats decide which files a [200, 300] range
    predicate must read; every 9th file has NO column stats and must
    be read conservatively (skipping on absent evidence is the bug).
    Pure Column algebra over the file-cardinality snapshot."""
    from trollflow2_spark.extensions.profile import (
        delta_file_skip_plan,
        delta_log_snapshot,
    )

    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    d = F.col("doc_id")
    lo = (d * 10) % 1000
    stats_full = F.concat(
        F.lit('{\\"numRecords\\":'),
        (10 + d % 5).cast("string"),
        F.lit(',\\"minValues\\":{\\"v\\":'),
        lo.cast("string"),
        F.lit('},\\"maxValues\\":{\\"v\\":'),
        (lo + 50).cast("string"),
        F.lit("}}"),
    )
    stats_bare = F.concat(
        F.lit('{\\"numRecords\\":'),
        (10 + d % 5).cast("string"),
        F.lit("}"),
    )
    line = F.concat(
        F.lit('{"add":{"path":"part-'),
        d.cast("string"),
        F.lit('","size":1,"stats":"'),
        F.when(d % 9 == 0, stats_bare).otherwise(stats_full),
        F.lit('"}}'),
    )
    log = docs.select(F.lit(0).alias("version"), line.alias("line"))
    snap = delta_log_snapshot(log, stats=True)
    return delta_file_skip_plan(snap, "v", 200.0, 300.0)


def q_delta_column_mapping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Delta column mapping, read path (`extensions/profile.py::
    delta_table_info` + `delta_apply_column_mapping`): under
    ``delta.columnMapping.mode = name`` (flipped on by ANY column
    rename on a modern writer) the add actions key stats and
    partitionValues by parquet PHYSICAL names — logical-name lookups
    silently find nothing without the remap. Fixture: a renamed
    column (logical ``amount``, physical ``col-ab12``) and a
    physical partition key (``col-r7`` -> ``region``); the gate
    resolves the mapping from the schemaString's physicalName
    annotations (driver-side control plane), ONE remap projection
    translates the snapshot, and the untouched `delta_file_skip_plan`
    + partition pruning then run in logical namespace. Values only
    match if the remap really happened: unmapped, the region filter
    returns zero rows and every file degrades to must_read=1."""
    import json as _json

    from trollflow2_spark.extensions.profile import (
        delta_apply_column_mapping,
        delta_file_skip_plan,
        delta_log_snapshot,
        delta_table_info,
    )

    sch = {"type": "struct", "fields": [
        {"name": "amount", "type": "double", "nullable": True,
         "metadata": {"delta.columnMapping.id": 1,
                      "delta.columnMapping.physicalName": "col-ab12"}},
        {"name": "region", "type": "string", "nullable": True,
         "metadata": {"delta.columnMapping.id": 2,
                      "delta.columnMapping.physicalName": "col-r7"}},
    ]}
    proto = _json.dumps({"protocol": {
        "minReaderVersion": 2, "minWriterVersion": 5}})
    meta = _json.dumps({"metaData": {
        "schemaString": _json.dumps(sch),
        "partitionColumns": ["region"],
        "configuration": {"delta.columnMapping.mode": "name"}}})
    info = delta_table_info([proto, meta])

    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    d = F.col("doc_id")
    lo = (d * 10) % 1000
    line = F.concat(
        F.lit('{"add":{"path":"part-'),
        d.cast("string"),
        F.lit('","size":1,"stats":"{\\"numRecords\\":'),
        (10 + d % 5).cast("string"),
        F.lit(',\\"minValues\\":{\\"col-ab12\\":'),
        lo.cast("string"),
        F.lit('},\\"maxValues\\":{\\"col-ab12\\":'),
        (lo + 50).cast("string"),
        F.lit('}}","partitionValues":{"col-r7":"'),
        (d % 4).cast("string"),
        F.lit('"}}}'),
    )
    log = docs.select(F.lit(0).alias("version"), line.alias("line"))
    snap = delta_log_snapshot(log, stats=True)
    mapped = delta_apply_column_mapping(snap, info["column_mapping"])
    region = F.col("partition_values")["region"]
    return (
        delta_file_skip_plan(
            mapped.where(region.isin("0", "1")), "amount", 200.0, 300.0
        )
        .join(
            mapped.select("path", region.alias("region")), "path"
        )
        .select("path", "region", "num_records", "must_read")
    )


def q_delta_dv_compaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DV compaction planner (`extensions/profile.py::
    delta_dv_compaction_plan`): deletion vectors trade write
    amplification for read-side masking — once a file's dead
    fraction passes a threshold, OPTIMIZE should rewrite it first.
    Same planted-DV fixture as `delta_snapshot_dv`; threshold 0.03
    splits the planted fractions (1/149 .. 5/100), and reclaim_bytes
    = floor(size x dead fraction). Pure Column algebra over the
    file-cardinality snapshot."""
    from trollflow2_spark.extensions.profile import (
        delta_dv_compaction_plan,
        delta_log_snapshot,
    )

    log, _dv_files = _delta_dv_fixture(spark, sf_dir)
    snap = delta_log_snapshot(log, stats=True)
    return delta_dv_compaction_plan(snap, dead_fraction=0.03)


def q_downsample_ohlc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OHLC telemetry downsampling
    (`extensions/windows.py:downsample_ohlc`): first/extreme/last
    reading per (event type, hour) as ONE map-side-combinable hash
    agg — min_by/max_by on the total (ts, event_id) key — instead of
    the two row_number windows the naive form pays. The oracle
    replays open/close with ordered windows; everything else is
    plain min/max/decimal-sum."""
    from trollflow2_spark.extensions.windows import downsample_ohlc

    ev = load_table(spark, sf_dir, "events")
    out = downsample_ohlc(
        ev, ts_col="ts", value_col="value", id_col="event_id",
        group_cols=["event_type"], window="hour",
    )
    return out.select(
        "event_type",
        F.date_format("bucket", "yyyy-MM-dd HH:00").alias("bucket"),
        "open",
        "high",
        "low",
        "close",
        "n",
        F.round(F.col("sum_value"), 6).alias("sum_value"),
    )


def q_binary_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact classifier evaluation
    (`extensions/classify.py:binary_metrics`): ROC-AUC by the
    Mann-Whitney average-rank statistic — integer arithmetic until
    the single final division, so ties resolve identically on both
    engines — plus thresholded precision/recall/F1/accuracy, per
    'model' (event_id parity). The fixture score quantizes to 100
    tie-heavy levels and correlates with the label by construction.
    One hash agg to the bounded distinct-score table, a window over
    THAT (never a row-level rank), one final agg."""
    from trollflow2_spark.extensions.classify import binary_metrics

    ev = load_table(spark, sf_dir, "events")
    y = F.col("event_type").isin("purchase", "signup").cast("long")
    score = (
        (F.floor(F.col("value")).cast("long") + y * 97) % 100
    ).cast("double") / 100.0
    scored = ev.select(
        (F.col("event_id") % 2).alias("model_id"),
        score.alias("score"),
        y.alias("label"),
    )
    return binary_metrics(
        scored, "score", "label", group_cols=["model_id"], threshold=0.5
    )


def q_calibration_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reliability diagram + ECE
    (`extensions/classify.py:calibration_bins`) over the same
    quantized fixture scores as `binary_metrics` — ranking quality
    (AUC) and probability quality (calibration) are different
    failures, and threshold transfer depends on the latter. Exact
    DECIMAL score sums feed the per-bin means; the ECE folds in bin
    order (the PSI discipline) so both engines add floats in the
    same sequence."""
    from trollflow2_spark.extensions.classify import calibration_bins

    ev = load_table(spark, sf_dir, "events")
    y = F.col("event_type").isin("purchase", "signup").cast("long")
    score = (
        (F.floor(F.col("value")).cast("long") + y * 97) % 100
    ).cast("double") / 100.0
    scored = ev.select(
        (F.col("event_id") % 2).alias("model_id"),
        score.alias("score"),
        y.alias("label"),
    )
    return calibration_bins(
        scored, "score", "label", n_bins=10, group_cols=["model_id"]
    )


def q_correlation_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-pass Pearson correlation matrix
    (`extensions/profile.py:correlation_matrix`) over lineitem's four
    numeric measures: every moment accumulates exactly in DECIMAL
    fixed point (mergeable, order-insensitive), the six pair
    correlations derive through one stated float chain. The oracle
    recomputes the HUGEINT moments and the identical formula."""
    from trollflow2_spark.extensions.profile import correlation_matrix

    li = load_table(spark, sf_dir, "lineitem")
    return correlation_matrix(
        li, ["l_quantity", "l_extendedprice", "l_discount", "l_tax"]
    )


def q_mutual_information(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Categorical dependence audit
    (`extensions/profile.py:mutual_information`): MI(lang; source)
    in nats over the documents table — does the source already
    determine the language (routing shortcut) or not? Exact integer
    cell counts; the p*log(p/(px*py)) series folds in category order
    on both engines."""
    from trollflow2_spark.extensions.profile import mutual_information

    docs = load_table(spark, sf_dir, "documents")
    return mutual_information(docs, "lang", "source")


def q_ab_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-proportion z-test
    (`extensions/profile.py:two_proportion_ztest`): the A/B readout
    over events — control converts on purchases only, treatment
    (odd event_ids) also on signups, so the fixture has a real
    effect. Integer counts through one pooled-variance float chain;
    per-mille rates use truncating division."""
    from trollflow2_spark.extensions.profile import two_proportion_ztest

    ev = load_table(spark, sf_dir, "events")
    variant = F.when(
        F.col("event_id") % 2 == 0, F.lit("control")
    ).otherwise(F.lit("treatment"))
    success = (F.col("event_type") == "purchase") | (
        (F.col("event_id") % 2 == 1) & (F.col("event_type") == "signup")
    )
    return two_proportion_ztest(
        ev.select(variant.alias("variant"), success.alias("success")),
        "variant",
        "success",
    )


def q_moments_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable moments sketch (`extensions/profile.py:
    moments_profile`): per event type, exact DECIMAL power sums ->
    mean/variance/skewness/kurtosis + fixed-point min/max. The
    7-number state merges by addition, so partial aggregation IS the
    distributed merge and day/shard rollups never re-read data — the
    shape-profile sibling of the HLL/CMS sketch tier. Oracle
    recomputes the HUGEINT power sums and the identical derived-stat
    float chain (m2*sqrt(m2), never pow)."""
    from trollflow2_spark.extensions.profile import moments_profile

    ev = load_table(spark, sf_dir, "events").select("event_type", "value")
    return moments_profile(ev, "value", ["event_type"])


def q_ks_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample KS drift statistic
    (`extensions/profile.py:ks_test`) over the drift_psi fixture
    (even ids reference, odd current with the purchase +40 shift) —
    the bucket-free nonparametric twin. D is exact integer
    cross-multiplication until one final division; the shifted group
    must dominate."""
    from trollflow2_spark.extensions.profile import ks_test

    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "event_type", "value"
    )
    shifted = F.when(
        (F.col("event_type") == "purchase"), F.col("value") + 40.0
    ).otherwise(F.col("value"))
    ref = ev.where(F.col("event_id") % 2 == 0).select("event_type", "value")
    cur = ev.where(F.col("event_id") % 2 == 1).select(
        "event_type", shifted.alias("value")
    )
    return ks_test(ref, cur, "value", ["event_type"])


def q_drift_psi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population Stability Index drift gate
    (`extensions/profile.py:drift_psi`): the go/no-go check a feature
    store or corpus-mix monitor runs between snapshots. Fixture:
    even event_ids are the reference snapshot, odd the current, with
    the current values shifted +40 for the 'purchase' type so one
    group genuinely drifts. Laplace-smoothed bucket shares keep empty
    buckets finite; the per-group PSI folds the dense bucket grid in
    bucket order on BOTH engines (array fold here, ordered-list fold
    in SQL), so even float addition order matches."""
    from trollflow2_spark.extensions.profile import drift_psi

    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "event_type", "value"
    )
    shifted = F.when(
        (F.col("event_type") == "purchase"), F.col("value") + 40.0
    ).otherwise(F.col("value"))
    ref = ev.where(F.col("event_id") % 2 == 0).select("event_type", "value")
    cur = ev.where(F.col("event_id") % 2 == 1).select(
        "event_type", shifted.alias("value")
    )
    return drift_psi(
        ref, cur, "value", ["event_type"], bucket_width=50.0, n_buckets=13
    )


def q_point_in_time(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time dimension lookup
    (`extensions/profile.py:point_in_time_join`): every order joins
    the customer-tier version valid AT its order date — the read side
    of the SCD2 tier (`scd2_customers` maintains the history; this
    consumes it). Fixture history: per customer, 'bronze' until a
    per-customer boundary month (1996-01 + custkey % 36 months, so
    boundaries cross the whole order-date range) then 'gold' open-
    ended. EQUI hash join on the key + validity residual — never a
    range join; the oracle restates the tier with a CASE on the
    boundary."""
    from trollflow2_spark.extensions.profile import point_in_time_join

    cust = load_table(spark, sf_dir, "customer").select("c_custkey")
    c = F.col("c_custkey")
    boundary = F.add_months(
        F.to_timestamp(F.lit("1996-01-01")), (c % 36).cast("int")
    )
    v1 = cust.select(
        c.alias("custkey"),
        F.lit("bronze").alias("tier"),
        F.to_timestamp(F.lit("1990-01-01")).alias("valid_from"),
        boundary.alias("valid_to"),
    )
    v2 = cust.select(
        c.alias("custkey"),
        F.lit("gold").alias("tier"),
        boundary.alias("valid_from"),
        F.lit(None).cast("timestamp").alias("valid_to"),
    )
    history = v1.unionByName(v2)
    facts = load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.col("o_custkey").alias("custkey"),
        F.col("o_orderdate").alias("ts"),
    )
    out = point_in_time_join(facts, history, key_col="custkey")
    return out.select(
        "o_orderkey",
        "custkey",
        F.date_format("ts", "yyyy-MM-dd").alias("order_date"),
        "tier",
    )


def q_cdc_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC apply-changes (`extensions/profile.py:cdc_apply`): replay
    an I/U/D change feed into the latest snapshot — the MERGE step
    that turns a Debezium-style log back into a table, complementing
    `scd2_customers` (full history) with the current-state view.
    Fixture feed from `events`: entity = event_id % 300 (~n/300
    changes per key), seq = event_id (unique, so the winner is
    unambiguous), op cycling I/I/U/U/D/U/U by event_id % 7; keys
    whose LAST change is the delete must vanish. One max_by hash agg
    — map-side combinable where the window-row_number formulation
    would sort-shuffle the whole feed; attrs pass through raw (no
    float arithmetic to drift)."""
    from trollflow2_spark.extensions.profile import cdc_apply

    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "event_type", "value"
    )
    e = F.col("event_id")
    op = (
        F.when(e % 7 == 4, F.lit("D"))
        .when(e % 7 <= 1, F.lit("I"))
        .otherwise(F.lit("U"))
    )
    changes = ev.select(
        (e % 300).alias("entity_id"),
        e.alias("seq"),
        op.alias("op"),
        F.col("value").alias("val"),
        F.col("event_type").alias("tag"),
    )
    return cdc_apply(
        changes, key_col="entity_id", seq_col="seq", op_col="op",
        attr_cols=["val", "tag"],
    )


def q_private_release(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Aggregate-release protection
    (`extensions/profile.py:dp_noisy_counts`): the publication step
    after `k_anonymity`'s risk audit — per (nation, segment) counts
    with groups under 5 SUPPRESSED and Laplace(1/eps) noise on the
    rest (replayable seeded-hash noise source; the operator docstring
    carries the loud production-RNG caveat). Oracle replays the
    portable hash -> uniform -> inverse-CDF chain."""
    from trollflow2_spark.extensions.profile import dp_noisy_counts

    cust = load_table(spark, sf_dir, "customer").select(
        F.col("c_nationkey").alias("nation"),
        F.col("c_mktsegment").alias("segment"),
    )
    return dp_noisy_counts(
        cust, ["nation", "segment"], epsilon=0.5, seed=7, min_group=5
    )


def q_token_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer fertility per language: BPE-ish subword tokens per
    whitespace word, in exact per-mille — THE cross-lingual tokenizer
    health metric (a vocabulary that fragments one language 3x
    inflates its training cost and starves its share of a token
    budget). One map-side-combinable hash agg over the scan-stage
    token counts; the ratio is truncating integer arithmetic."""
    docs = load_table(spark, sf_dir, "documents")
    # the SAME counting pair token_count pins per-doc (tokens() /
    # BPE_ISH_PATTERN), rolled up per language
    agg = docs.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(token_count(F.col("text")).cast("long")).alias("ws_tokens"),
        F.sum(bpe_ish_token_count(F.col("text")).cast("long")).alias(
            "bpe_tokens"
        ),
    )
    return agg.select(
        "lang",
        "n_docs",
        "ws_tokens",
        "bpe_tokens",
        (F.col("bpe_tokens") * 1000 / F.col("ws_tokens"))
        .cast("long")
        .alias("fertility_pm"),
    )


def q_forget_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Right-to-be-forgotten impact audit: for each deletion request
    (every 97th customer), count the rows that must purge across the
    LINEAGE — the customer row, their orders, and the order lines two
    hops away — the scoping step a GDPR/CCPA erasure job runs before
    touching data. The request side broadcasts into keyed equi-joins
    (the fact tables never shuffle on anything new); counts are one
    hash agg per hop. Completes the privacy tier's lifecycle:
    scrub -> audit -> release -> ERASE."""
    cust = load_table(spark, sf_dir, "customer").select("c_custkey")
    req = cust.where(F.col("c_custkey") % 97 == 0).select(
        F.col("c_custkey").alias("custkey")
    )
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey"
    )
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey")
    ro = orders.join(
        F.broadcast(req), orders["o_custkey"] == req["custkey"]
    ).select("custkey", "o_orderkey")
    n_orders = ro.groupBy("custkey").agg(
        F.count(F.lit(1)).alias("n_orders")
    )
    n_lines = (
        li.join(
            F.broadcast(ro),
            li["l_orderkey"] == ro["o_orderkey"],
        )
        .groupBy("custkey")
        .agg(F.count(F.lit(1)).alias("n_lineitems"))
    )
    out = (
        req.join(n_orders, "custkey", "left")
        .join(n_lines, "custkey", "left")
        .select(
            "custkey",
            F.lit(1).alias("n_customer"),
            F.coalesce(F.col("n_orders"), F.lit(0)).alias("n_orders"),
            F.coalesce(F.col("n_lineitems"), F.lit(0)).alias(
                "n_lineitems"
            ),
        )
    )
    return out.select(
        "custkey",
        "n_customer",
        "n_orders",
        "n_lineitems",
        (
            F.col("n_customer") + F.col("n_orders") + F.col("n_lineitems")
        ).alias("total_rows"),
    )


def q_k_anonymity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-anonymity / l-diversity release audit
    (`extensions/profile.py:k_anonymity_audit`): the row-level
    scrubbers (`pii_scrub`, `exif_gps_scrub`) remove direct
    identifiers; this measures what the surviving quasi-identifier
    combination (nation x segment x a synthetic cohort band) still
    leaks about the sensitive attribute (account-balance bucket) —
    group sizes below k=5 are re-identifiable, single-valued groups
    disclose the attribute outright. One hash agg keyed by the quasi
    tuple; output is quasi-space-sized, never row-sized."""
    from trollflow2_spark.extensions.profile import k_anonymity_audit

    cust = load_table(spark, sf_dir, "customer")
    rows = cust.select(
        F.col("c_nationkey").alias("nation"),
        F.col("c_mktsegment").alias("segment"),
        (F.col("c_custkey") % 4).alias("band"),
        F.floor(F.col("c_acctbal") / 2000.0).cast("long").alias("bal_bucket"),
    )
    return k_anonymity_audit(
        rows, ["nation", "segment", "band"], "bal_bucket", k=5
    )


def q_rolling_revenue_7d(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RANGE-frame window: 7-day trailing revenue over the DAILY
    rollup. Scale contract: the unpartitioned ordered window runs on
    the date-grain aggregate (one row per day — bounded by the
    calendar, not the corpus), never on the fact table; the fact
    table contributes through one map-side-combinable hash agg. The
    RANGE frame (day-number distance) handles calendar gaps correctly
    where a ROWS frame would silently span them."""
    orders = load_table(spark, sf_dir, "orders")
    daily = (
        orders.groupBy(
            F.date_format(
                F.date_trunc("day", "o_orderdate"), "yyyy-MM-dd"
            ).alias("day"),
            F.datediff(
                F.date_trunc("day", "o_orderdate"), F.lit("1970-01-01")
            ).alias("day_no"),
        )
        .agg(dsum(F.col("o_totalprice"), 2).alias("day_revenue"))
    )
    w = Window.orderBy("day_no").rangeBetween(-6, 0)
    return daily.select(
        "day",
        "day_revenue",
        F.round(
            F.sum(F.col("day_revenue").cast("decimal(38,2)")).over(w)
            .cast("double"), 2
        ).alias("rev_7d"),
        F.count(F.lit(1)).over(w).alias("days_in_window"),
    )


def q_customer_spend_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NTILE window: per-nation customer spend deciles. Partitioning by
    nation bounds each window sort to one nation's customers — the
    scale-safe form (a GLOBAL ntile would funnel every row through a
    single ordered partition). Ties break on custkey so the decile
    assignment replays bit-identically."""
    cust = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    orders = load_table(spark, sf_dir, "orders")
    spend = (
        orders.groupBy("o_custkey")
        .agg(dsum(F.col("o_totalprice"), 2).alias("spend"))
    )
    w = (
        Window.partitionBy("n_name")
        .orderBy(F.col("spend").desc(), F.col("c_custkey"))
    )
    return (
        spend.join(cust, spend.o_custkey == cust.c_custkey)
        .join(
            F.broadcast(nation),
            F.col("c_nationkey") == F.col("n_nationkey"),
        )
        .select(
            F.col("c_custkey").alias("custkey"),
            F.col("n_name").alias("nation"),
            "spend",
            F.ntile(10).over(w).alias("decile"),
        )
    )


def q_bigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interpolated bigram LM score (the KenLM-filtering shape): word
    soup with plausible unigrams but impossible transitions scores
    low. Both model tables broadcast; scoring is one pass over the
    exploded transition pairs."""
    from trollflow2_spark.extensions.text import bigram_logprob

    docs = load_table(spark, sf_dir, "documents")
    return bigram_logprob(
        docs, vocab_k=C.UNIGRAM_VOCAB_K, bigram_k=C.BIGRAM_TOP_K,
        alpha=C.UNIGRAM_ALPHA, lam=C.BIGRAM_LAMBDA,
    )


def q_corpus_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot-to-snapshot corpus diff: per-doc added / removed /
    changed / unchanged so incremental passes touch only the delta.
    Fixture: old skips doc_id%13==3 (those become 'added'), new skips
    doc_id%11==7 ('removed') and rewrites text when doc_id%7==0
    ('changed')."""
    from trollflow2_spark.extensions.snapshot import corpus_diff

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    old = docs.where(F.col("doc_id") % 13 != 3)
    new = docs.where(F.col("doc_id") % 11 != 7).select(
        "doc_id",
        F.when(
            F.col("doc_id") % 7 == 0, F.concat(F.col("text"), F.lit(" v2"))
        )
        .otherwise(F.col("text"))
        .alias("text"),
    )
    return corpus_diff(old, new)


def q_incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily-increment exact dedup: new-batch docs flagged against the
    existing corpus (and each other) with the canonical id they
    duplicate — digest-only join, batch side broadcastable."""
    from trollflow2_spark.extensions.dedup import incremental_exact_dedup

    corpus, batch = _corpus_batch_split(spark, sf_dir)
    return incremental_exact_dedup(corpus, batch)


def q_incremental_lsh_matches(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily-increment near-dup candidates: batch minhash bands broadcast
    against corpus bands — the corpus never shuffles per increment."""
    from trollflow2_spark.extensions.dedup import incremental_lsh_matches

    corpus, batch = _corpus_batch_split(spark, sf_dir, spread=True)
    mk = lambda df: minhash_signatures(  # noqa: E731
        df,
        shingle_words=C.MINHASH_SHINGLE_WORDS,
        num_hashes=C.MINHASH_NUM_HASHES,
    )
    return incremental_lsh_matches(
        mk(corpus),
        mk(batch),
        num_hashes=C.MINHASH_NUM_HASHES,
        bands=C.MINHASH_BANDS,
    )


def q_incremental_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full incremental near-dup path: batch-vs-corpus LSH candidate
    matches fed through the n-gram Jaccard verify tier — which batch
    docs are confirmed near-dups of which corpus docs, before any
    increment is admitted. Same broadcast-batch shape as the candidate
    stage; the verify join rides (id_a, id_b) like every other consumer."""
    cand = q_incremental_lsh_matches(spark, sf_dir).select(
        F.col("batch_id").alias("id_a"), F.col("corpus_id").alias("id_b")
    )
    docs = load_table(spark, sf_dir, "documents")
    return (
        ngram_jaccard_pairs(
            docs,
            candidates=cand,
            shingle_words=C.JACCARD_SHINGLE_WORDS,
            threshold=C.JACCARD_THRESHOLD,
        )
        .select(
            F.col("id_a").alias("batch_id"),
            F.col("id_b").alias("corpus_id"),
            "jaccard",
        )
    )


def q_lsh_bucket_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The LSH guard audit (pairable/salted/dropped bucket counts) —
    recall loss must be observable, and now value-checked."""
    from trollflow2_spark.extensions.dedup import lsh_bucket_stats

    docs = load_table(spark, sf_dir, "documents")
    sigs = minhash_signatures(
        docs,
        shingle_words=C.MINHASH_SHINGLE_WORDS,
        num_hashes=C.MINHASH_NUM_HASHES,
    )
    return lsh_bucket_stats(
        sigs,
        num_hashes=C.MINHASH_NUM_HASHES,
        bands=C.MINHASH_BANDS,
        salt_threshold=C.LSH_STATS_SALT_THRESHOLD,
        rot_seed=C.LSH_ROT_SEED,
    )


def q_duplicate_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH candidate pairs resolved into duplicate clusters by iterative
    min-label connected components: every doc gets (cluster_id,
    is_canonical, cluster_size). The oracle replays the closure as a
    DuckDB recursive CTE (transitive reachability -> min reachable id),
    value-checking the iterative Spark algorithm end-to-end."""
    docs = load_table(spark, sf_dir, "documents")
    pairs = q_minhash_lsh_pairs(spark, sf_dir)
    return duplicate_clusters(docs, pairs)


def q_dedup_source_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WHERE the duplicates come from — the corpus-ops question every
    dedup run should answer before the next crawl budget is set:
    cluster membership joins back to the documents' source column and
    rolls up per source to doc counts, non-canonical (wasted) docs,
    and the duplicate rate in integer ppm. A source whose ppm runs hot
    is re-crawling content some other source already supplies. One
    hash agg over the cluster table; the oracle re-roots the recursive
    closure onto the source rollup."""
    docs = load_table(spark, sf_dir, "documents")
    pairs = q_minhash_lsh_pairs(spark, sf_dir)
    clusters = duplicate_clusters(docs, pairs)
    joined = clusters.join(docs.select("doc_id", "source"), "doc_id")
    per = joined.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum((F.col("is_canonical") == 0).cast("long")).alias("n_dup"),
    )
    return per.select(
        "source",
        F.col("n_docs").cast("bigint").alias("n_docs"),
        F.col("n_dup").cast("bigint").alias("n_dup"),
        (F.col("n_dup") * 1_000_000 / F.col("n_docs"))
        .cast("bigint")
        .alias("dup_ppm"),
    )


def q_dedup_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full dedup pipeline end-to-end: LSH candidates -> connected
    components -> keep only each cluster's canonical doc. The shipped
    corpus, with cluster sizes as the audit column."""
    docs = load_table(spark, sf_dir, "documents")
    pairs = q_minhash_lsh_pairs(spark, sf_dir)
    clusters = duplicate_clusters(docs, pairs)
    return (
        clusters.filter(F.col("is_canonical") == 1)
        .join(docs.select("doc_id", "n_chars"), "doc_id")
        .select("doc_id", "cluster_size", "n_chars")
    )


def q_dedup_corpus_verified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The PRODUCTION dedup pipeline end-to-end: LSH candidates ->
    n-gram Jaccard VERIFY -> connected components -> canonical corpus.
    Unlike ``dedup_corpus`` (which clusters raw LSH candidates — the
    recall-heavy variant), this one only links pairs the verify tier
    confirms, so false LSH collisions cannot glue unrelated documents
    into one cluster. The oracle replays the whole chain, recursive
    closure included."""
    docs = load_table(spark, sf_dir, "documents")
    cand = q_minhash_lsh_pairs(spark, sf_dir)
    verified = ngram_jaccard_pairs(
        docs,
        candidates=cand,
        shingle_words=C.JACCARD_SHINGLE_WORDS,
        threshold=C.JACCARD_THRESHOLD,
    ).select("id_a", "id_b")
    clusters = duplicate_clusters(docs, verified)
    return (
        clusters.filter(F.col("is_canonical") == 1)
        .join(docs.select("doc_id", "n_chars"), "doc_id")
        .select("doc_id", "cluster_size", "n_chars")
    )


def q_dedup_best_representative(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-preferred dedup: LSH candidates -> connected components
    -> keep each cluster's HIGHEST-QUALITY member (longest text, ties
    to smallest id) instead of the min-id canonical. This is what a
    production dedup actually ships — when a near-dup family mixes a
    full article with its truncated syndicated copies, the full copy
    survives. The oracle replays the recursive closure and the argmax
    window; the quality key (n_chars) is an integer, so the ordering
    is float-drift-free across engines."""
    from trollflow2_spark.extensions.dedup import best_representatives

    docs = load_table(spark, sf_dir, "documents")
    pairs = q_minhash_lsh_pairs(spark, sf_dir)
    clusters = duplicate_clusters(docs, pairs)
    return best_representatives(
        clusters, docs.select("doc_id", "n_chars"), quality_col="n_chars"
    )


def q_cluster_atomic_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup-leakage-safe train/val/test assignment: the split
    bucket hashes the duplicate CLUSTER id, not the doc id, so an
    entire near-dup family lands in one split — the vector-space
    counterpart of ``group_split``'s domain atomicity, closing the
    front-door path by which test-set paraphrases leak into training.
    Composition: LSH candidates -> connected components -> the same
    portable map-side bucket predicate as ``dataset_split`` keyed on
    ``cluster_id``. The oracle replays closure + bucket arithmetic."""
    from trollflow2_spark.extensions.sampling import deterministic_split

    docs = load_table(spark, sf_dir, "documents")
    pairs = q_minhash_lsh_pairs(spark, sf_dir)
    clusters = duplicate_clusters(docs, pairs)
    return deterministic_split(
        clusters.select("doc_id", "cluster_id"),
        dict(C.SPLIT_FRACS),
        id_col="cluster_id",
        seed=C.SPLIT_SEED,
    ).select("doc_id", "cluster_id", "split")


def q_corpus_release(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The release capstone, one plan end-to-end: quality gate ->
    blocklist gate -> LSH candidates -> connected components ->
    QUALITY-PREFERRED representative per near-dup cluster ->
    CLUSTER-ATOMIC train/val/test split. What actually ships to a
    trainer: the best copy of every surviving near-dup family, with a
    split assignment no paraphrase can straddle. The oracle re-roots
    the recursive-closure chain onto the gated subset and replays the
    argmax window and the bucket arithmetic."""
    from trollflow2_spark.extensions.dedup import (
        best_representatives,
        lsh_candidate_pairs,
    )
    from trollflow2_spark.extensions.sampling import deterministic_split
    from trollflow2_spark.extensions.text import (
        blocklist_filter,
        quality_filter,
    )

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    q_ok = quality_filter(docs).where(F.col("keep") == 1).select("doc_id")
    kept1 = docs.join(q_ok, "doc_id", "left_semi")
    b_ok = (
        blocklist_filter(
            kept1,
            terms=C.BLOCKLIST_TERMS,
            min_distinct=C.BLOCKLIST_MIN_DISTINCT,
            max_density_bp=C.BLOCKLIST_MAX_DENSITY_BP,
        )
        .where(F.col("keep") == 1)
        .select("doc_id")
    )
    kept = kept1.join(b_ok, "doc_id", "left_semi")
    sigs = minhash_signatures(
        kept,
        shingle_words=C.MINHASH_SHINGLE_WORDS,
        num_hashes=C.MINHASH_NUM_HASHES,
    )
    pairs = lsh_candidate_pairs(
        sigs,
        num_hashes=C.MINHASH_NUM_HASHES,
        bands=C.MINHASH_BANDS,
        max_bucket=1000,
        salt_threshold=1000,
    )
    clusters = duplicate_clusters(kept, pairs)
    reps = best_representatives(
        clusters,
        kept.select(
            "doc_id", F.length("text").cast("bigint").alias("n_chars")
        ),
        quality_col="n_chars",
    )
    return deterministic_split(
        reps,
        dict(C.SPLIT_FRACS),
        id_col="cluster_id",
        seed=C.SPLIT_SEED,
    ).select("doc_id", "cluster_id", "cluster_size", "n_chars", "split")


def q_pipeline_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full pipeline smoke as a query: message -> jobs -> scene -> sinks
    -> manifest rows. The manifest's deterministic fields (composed
    filename, area, product, format, writer, nonempty) are data-
    independent, so the oracle pins them as literals — the write path
    itself is value-checked by ``pipeline_roundtrip``, which reads the
    produced NetCDF back and hash-compares every pixel."""
    import shutil
    import tempfile

    from trollflow2_spark.plans.pipeline import run_product_list

    out_dir = tempfile.mkdtemp(prefix="tf2_e2e_")
    try:
        plist = {
            "product_list": {
                "output_dir": out_dir,
                "fname_pattern": "{platform_name}_{areaname}_{productname}.{format}",
                "areas": {
                    "areaA": {
                        "areaname": "areaA",
                        "products": {
                            "value": {
                                "productname": "val",
                                "formats": [
                                    {"format": "parquet", "writer": "parquet"},
                                    {"format": "csv", "writer": "csv"},
                                    # real single-file writers (round 2)
                                    {"format": "tif", "writer": "geotiff"},
                                    {"format": "png", "writer": "simple_image"},
                                    {"format": "nc", "writer": "cf"},
                                ],
                            },
                            "user_id": {"productname": "uid"},
                        },
                    }
                },
            }
        }
        summary = run_product_list(
            spark,
            [f"{sf_dir}/events.parquet"],
            {"platform_name": "SAT-1", "start_time": "2024-01-15T12:00:00"},
            plist,
            workers=[{"fun": "create_scene"}, {"fun": "save_datasets"}],
        )
        import os

        rows = [
            (
                os.path.basename(p["filename"]),
                p["area"],
                p["product"],
                p["format"],
                p["writer"],
                bool(p["size_bytes"] > 0),
            )
            for p in summary["result"].produced
        ]
    finally:
        shutil.rmtree(out_dir, ignore_errors=True)
    return spark.createDataFrame(
        rows,
        "filename string, area string, product string, format string,"
        " writer string, nonempty boolean",
    )


def q_pipeline_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Write->read loop on a real single-file NetCDF: events aggregated
    onto a small grid, written through the pipeline sink (save_datasets:
    writer dispatch, atomic tmp commit), then read back with
    ``create_scene(reader="netcdf")`` — the engine's primary input mode
    (≙ satpy NetCDF readers at ``plugins/__init__.py:86-99``; the
    reference's golden e2e reads NetCDF, ``tests/test_cli.py:154-191``).

    Fully oracle-checkable: the grid cells are deterministic decimal sums
    stored as exact float64; pixel indices are positions in the sorted
    unique coordinate values (``grid_from_pandas``), which the oracle
    reproduces with dense_rank. Grid cells no event fell in read back as
    NaN and are dropped, as the oracle never had them. The file
    round-trip happens inside the query; only the recovered pixels come
    back."""
    import os
    import shutil
    import tempfile

    from trollflow2_spark.sinks.save import save_datasets
    from trollflow2_spark.sources.scene import create_scene

    ev = load_table(spark, sf_dir, "events")
    grid = ev.groupBy(
        (F.col("event_id") % C.RT_YMOD).cast("int").alias("y"),
        (F.col("user_id") % C.RT_XMOD).cast("int").alias("x"),
    ).agg(dsum(F.col("value")).alias("value"))
    out_dir = tempfile.mkdtemp(prefix="tf2_rt_")
    try:
        save_datasets(
            spark,
            grid,
            [
                {
                    "area": "rt",
                    "product": ["value"],
                    "writer": "cf",
                    "format": "nc",
                    "output_dir": out_dir,
                    "fname_pattern": "roundtrip.nc",
                }
            ],
        )
        scene = create_scene(
            spark, [os.path.join(out_dir, "roundtrip.nc")], reader="netcdf"
        )
        # materialize before the temp file is deleted (the scan is
        # lazy) — eager localCheckpoint pins the partitions in block
        # storage WITHOUT the old collect -> createDataFrame double
        # driver hop (two Py4J row transfers that dominated the
        # query's fixed cost; the r10 bench regression was this
        # driver-side overhead breathing with JVM load, see NOTES_r11)
        return (
            scene.filter(~F.isnan("value"))
            .select(F.lit("value").alias("product"), "y", "x", "value")
            .localCheckpoint(eager=True)
        )
    finally:
        shutil.rmtree(out_dir, ignore_errors=True)


# ---------------------------------------------------------------------------
# Sinks: manifest audit + publisher


def q_manifest_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`check_results` audit over an output manifest: file counts, empty
    files, size extrema per source."""
    docs = load_table(spark, sf_dir, "documents")
    manifest = docs.select(
        "source",
        F.concat(F.col("source"), F.lit("/"), F.col("doc_id"), F.lit(".txt")).alias(
            "filename"
        ),
        F.col("n_chars").alias("size_bytes"),
    )
    return manifest.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_files"),
        F.count(F.when(F.col("size_bytes") == 0, 1)).alias("n_empty"),
        F.min("size_bytes").alias("min_size"),
        F.max("size_bytes").alias("max_size"),
    )


def q_publisher_messages(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FilePublisher: one JSON message per produced file with a composed
    topic (Kafka-sink row shape)."""
    docs = load_table(spark, sf_dir, "documents")
    uri = F.concat(F.lit("file:///out/"), F.col("source"), F.lit("/"), F.col("doc_id"), F.lit(".txt"))
    msg = F.format_string(
        C.PUBLISH_PATTERN, uri, F.col("doc_id"), F.col("n_chars"), F.col("source")
    )
    return docs.select(F.col("doc_id"), msg.alias("message"))


# ---------------------------------------------------------------------------
# Extensions: dedup


def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return exact_dedup(docs)


def q_minhash_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return minhash_signatures(
        docs,
        shingle_words=C.MINHASH_SHINGLE_WORDS,
        num_hashes=C.MINHASH_NUM_HASHES,
    )


def q_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return simhash(docs, bits=C.SIMHASH_BITS)


def q_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hamming-band simhash near-dup pairs: the candidate-generation +
    verify half of the simhash tier (mirrors minhash_lsh_pairs ->
    ngram verify on the minhash side). Runs WITH the production salt
    guard: the synthetic corpus is template-heavy and an 8-bit segment
    space concentrates those templates into hot buckets, so unguarded
    pair generation is quadratic in template-family size (benched 10.9s
    vs ~1s guarded at sf0.1). The oracle replays the deterministic
    id-order chunking exactly (row_number windows)."""
    from trollflow2_spark.extensions.dedup import simhash_pairs

    docs = load_table(spark, sf_dir, "documents")
    fp = simhash(docs, bits=C.SIMHASH_BITS)
    return simhash_pairs(
        fp,
        bits=C.SIMHASH_BITS,
        bands=C.SIMHASH_BANDS,
        max_hamming=C.SIMHASH_MAX_HAMMING,
        salt_threshold=C.SIMHASH_SALT_THRESHOLD,
    )


def q_ngram_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Verified near-dup pairs: LSH candidate pairs (banded minhash) fed
    into the n-gram Jaccard verifier via ``candidates=``. The scale
    path — candidate volume is bounded by LSH bucket sizes, never
    quadratic in corpus/block size (``block_cols`` blocking remains an
    explicit small-corpus option on the operator)."""
    docs = load_table(spark, sf_dir, "documents")
    return ngram_jaccard_pairs(
        docs,
        candidates=q_minhash_lsh_pairs(spark, sf_dir),
        shingle_words=C.JACCARD_SHINGLE_WORDS,
        threshold=C.JACCARD_THRESHOLD,
    )


def q_paragraph_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Paragraph-level near-dup detection — the granularity document
    dedup misses (boilerplate paragraphs shared across distinct pages).
    Documents explode into paragraphs (fixture: 3 paragraphs per doc
    per doc; docs 2k and 2k+1 share each paragraph template up to the
    tail word, so near-dups are ~0.75-Jaccard sibling pairs), each
    paragraph becomes a mini-doc keyed ``doc_id*4 + position``, and the
    standard chain runs at paragraph grain: minhash signatures ->
    banded LSH candidates -> n-gram Jaccard verify. Output decomposes
    the keys back to (doc, paragraph) pairs.

    Scale: identical plan shape to the document-level chain — the
    explode multiplies rows before the signature scan but signatures
    stay zero-shuffle Column algebra, and candidate volume is bounded
    by the same bucket guards."""
    from trollflow2_spark.extensions.dedup import (
        lsh_candidate_pairs,
        minhash_signatures,
        ngram_jaccard_pairs,
    )

    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    # template = (doc_id DIV 2, j): docs 2k and 2k+1 share every
    # paragraph template but differ in the tail word -> near-dup pairs
    # are LINEAR in corpus size (each LSH bucket holds exactly the two
    # template members at any scale — no quadratic fixture blowup)
    para_structs = []
    for j in range(3):
        words = [
            F.concat(
                F.lit("w"),
                (
                    F.expr("doc_id DIV 2") * 5 + F.lit(j * 11 + k)
                ).cast("string"),
            )
            for k in range(7)
        ]
        tail = F.concat(F.lit("t"), (F.col("doc_id") % 2).cast("string"))
        para_structs.append(
            F.struct(
                F.lit(j).alias("j"),
                F.concat_ws(" ", *words, tail).alias("text"),
            )
        )
    paras = docs.select(
        F.col("doc_id"), F.explode(F.array(*para_structs)).alias("p")
    ).select(
        (F.col("doc_id") * 4 + F.col("p.j")).alias("pid"),
        F.col("p.text").alias("text"),
    )
    sigs = minhash_signatures(
        paras,
        id_col="pid",
        shingle_words=C.MINHASH_SHINGLE_WORDS,
        num_hashes=C.MINHASH_NUM_HASHES,
    )
    cands = lsh_candidate_pairs(
        sigs,
        id_col="pid",
        num_hashes=C.MINHASH_NUM_HASHES,
        bands=C.MINHASH_BANDS,
        max_bucket=1000,
        salt_threshold=1000,
    )
    pairs = ngram_jaccard_pairs(
        paras,
        candidates=cands,
        id_col="pid",
        shingle_words=C.JACCARD_SHINGLE_WORDS,
        threshold=C.JACCARD_THRESHOLD,
    )
    return pairs.select(
        F.expr("id_a DIV 4").alias("doc_a"),
        (F.col("id_a") % 4).cast("int").alias("para_a"),
        F.expr("id_b DIV 4").alias("doc_b"),
        (F.col("id_b") % 4).cast("int").alias("para_b"),
        "jaccard",
    )


def q_ngram_containment_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric (one-sided) near-dup: shingle containment per side —
    the quote/subset-duplication detector Jaccard misses. Candidates
    come from banded LSH (same feed as ``q_ngram_jaccard_pairs``), so
    the verify tier scales with bucket collisions, not block sizes."""
    from trollflow2_spark.extensions.dedup import ngram_containment_pairs

    docs = load_table(spark, sf_dir, "documents")
    return ngram_containment_pairs(
        docs,
        candidates=q_minhash_lsh_pairs(spark, sf_dir),
        shingle_words=C.JACCARD_SHINGLE_WORDS,
        threshold=C.CONTAINMENT_THRESHOLD,
    )


def q_doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return doc_fingerprint(
        docs,
        shingle_words=C.FINGERPRINT_SHINGLE_WORDS,
        mod=C.FINGERPRINT_MOD,
    )


# ---------------------------------------------------------------------------
# Extensions: similarity search


def _query_vectors(df: DataFrame) -> DataFrame:
    return df.filter(F.col("vec_id") < C.TOPK_N_QUERIES).select(
        F.col("vec_id").alias("query_id"), F.col("embedding")
    )


def q_embedding_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label embedding centroids (dim avg buffers in ONE hash agg —
    no posexplode inflation before the shuffle)."""
    from trollflow2_spark.extensions.similarity import label_centroids

    emb = load_table(spark, sf_dir, "embeddings")
    return label_centroids(emb, dim=C.EMB_DIM)


def q_embedding_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    return brute_force_topk(emb, _query_vectors(emb), k=C.TOPK_K)


def q_ann_dim_truncation_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-store compression audit (the Matryoshka question):
    how much of the exact full-dimension top-k survives when the store
    keeps only the first TRUNC_DIM components? Per query, both exact
    top-k sets compute with the same brute-force plan (query side
    broadcast, corpus scanned once each) and the overlap is stated in
    integer per-mille recall — the number that decides whether a 4x
    smaller store is safe BEFORE anyone re-embeds a corpus. The oracle
    replays both rankings and the set intersection."""
    from trollflow2_spark.extensions.similarity import brute_force_topk

    emb = load_table(spark, sf_dir, "embeddings")
    qs = _query_vectors(emb)
    full = brute_force_topk(emb, qs, k=C.TOPK_K)
    t = C.TRUNC_DIM
    emb_t = emb.select(
        "vec_id", F.slice("embedding", 1, t).alias("embedding")
    )
    qs_t = qs.select(
        "query_id", F.slice("embedding", 1, t).alias("embedding")
    )
    trunc = brute_force_topk(emb_t, qs_t, k=C.TOPK_K)
    fs = full.groupBy("query_id").agg(
        F.collect_set("vec_id").alias("full_ids")
    )
    ts_ = trunc.groupBy("query_id").agg(
        F.collect_set("vec_id").alias("trunc_ids")
    )
    return fs.join(ts_, "query_id").select(
        "query_id",
        F.lit(C.TOPK_K).cast("int").alias("k"),
        F.size(F.array_intersect("full_ids", "trunc_ids"))
        .cast("int")
        .alias("n_overlap"),
        (
            F.size(F.array_intersect("full_ids", "trunc_ids"))
            * 1000
            / C.TOPK_K
        )
        .cast("int")
        .alias("recall_permille"),
    )


def q_embedding_topk_quantized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-k cosine over int8-quantized embeddings (4x smaller store;
    scales cancel in cosine so the search runs on int arrays). Oracle:
    DuckDB replays the quantization and the quantized cosine exactly."""
    from trollflow2_spark.extensions.similarity import quantized_topk

    emb = load_table(spark, sf_dir, "embeddings")
    return quantized_topk(emb, _query_vectors(emb), k=C.TOPK_K)


def q_embedding_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    return ann_bucketed_topk(
        emb, _query_vectors(emb), k=C.ANN_K, n_bits=C.ANN_BITS
    )


def q_embedding_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF (k-means coarse cells) approximate top-k — the production
    upgrade over the sign-bit ANN. The k-means training loop is a
    Python/numpy kernel, not SQL-expressible: rows-only check; the
    recall-vs-brute-force contract is pinned in
    tests/test_extensions.py::test_ivf_topk_recall."""
    from trollflow2_spark.extensions.similarity import ivf_topk

    emb = load_table(spark, sf_dir, "embeddings")
    return ivf_topk(
        emb,
        _query_vectors(emb),
        k=C.ANN_K,
        n_probe=C.IVF_N_PROBE,
        n_clusters=C.IVF_N_CLUSTERS,
    )


def q_incremental_ivf_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental ANN-index maintenance, joining the incremental tier
    (dedup/LSH/corpus-stats) on the vector side: the frozen IVF coarse
    quantizer (the SAME deterministic k-means as every IVF query)
    assigns a daily increment (vec_id % 10 == 0) next to the indexed
    base, and the per-cell audit — populations, growth, mean
    assignment similarity in integer micro-units — is what decides a
    re-train. The oracle replays assignment from the shared centroid
    literals and the same micro-unit arithmetic."""
    from trollflow2_spark.extensions.similarity import (
        ivf_drift_audit,
        kmeans_centroids,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    cents = kmeans_centroids(emb, k=C.IVF_N_CLUSTERS)
    return ivf_drift_audit(
        emb.filter(F.col("vec_id") % 10 != 0),
        emb.filter(F.col("vec_id") % 10 == 0),
        centroids=cents,
    )


# ---------------------------------------------------------------------------
# Extensions: text analysis


def q_text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    out = quality_features(docs)
    return out.withColumn("n_tokens", F.col("n_tokens").cast("long"))


def q_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return lang_id(docs)


def q_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        token_count(F.col("text")).cast("long").alias("ws_tokens"),
        bpe_ish_token_count(F.col("text")).cast("long").alias("bpe_tokens"),
    )


# ---------------------------------------------------------------------------
# Extensions: multimodal


def _container_blob(d: int) -> bytes:
    """Deterministic container-format fixture blob for doc_id ``d``
    (cycles wav / mp3 / mp4 / ogg-vorbis); every header field is
    closed-form in ``d`` so the oracle states the parsed metadata
    directly."""
    m = d % 4
    if m == 0:  # RIFF-WAVE, pcm, with an INFO/INAM title
        sr = 8000 * (1 + d % 3)
        ch = 1 + d % 2
        ns = 500 + d % 100
        block = ch * 2
        byte_rate = sr * block
        title = f"doc{d}".encode()
        if len(title) % 2:
            title += b"\x00"
        inam = b"INAM" + len(title).to_bytes(4, "little") + title
        info = b"INFO" + inam
        fmt = (
            b"fmt " + (16).to_bytes(4, "little")
            + (1).to_bytes(2, "little") + ch.to_bytes(2, "little")
            + sr.to_bytes(4, "little") + byte_rate.to_bytes(4, "little")
            + block.to_bytes(2, "little") + (16).to_bytes(2, "little")
        )
        lst = b"LIST" + len(info).to_bytes(4, "little") + info
        data = b"data" + (ns * block).to_bytes(4, "little") + bytes(ns * block)
        body = b"WAVE" + fmt + lst + data
        return b"RIFF" + len(body).to_bytes(4, "little") + body
    if m == 1:  # ID3v2 tag (with a TIT2 title) + MPEG1 Layer III.
        # d % 8 == 5 plants an ID3v2.3 tag — plain 32-bit BE frame
        # sizes, led by a 131-byte TXXX frame whose size byte 0x83
        # would misparse under a syncsafe read (v2.4-only semantics):
        # the majority-legacy class the container parser must branch on.
        t = 100 + d % 50
        kbps_idx = 1 + d % 14
        sr_idx = d % 3
        audio = 4000 + d % 512
        title = f"doc{d}".encode()
        if d % 8 == 5:
            t += 160
            txxx = (
                b"TXXX" + (131).to_bytes(4, "big") + b"\x00\x00"
                + b"\x00" + bytes(130)
            )
            tit2 = (
                b"TIT2" + (len(title) + 1).to_bytes(4, "big")
                + b"\x00\x00\x00" + title
            )
            frames = txxx + tit2
            ver = 3
        else:
            tit2 = (
                b"TIT2"
                + bytes(
                    [0, 0, (len(title) + 1) >> 7, (len(title) + 1) & 0x7F]
                )
                + b"\x00\x00\x03" + title
            )
            frames = tit2
            ver = 4
        hdr = b"ID3" + bytes([ver, 0, 0]) + bytes(
            [(t >> 21) & 0x7F, (t >> 14) & 0x7F, (t >> 7) & 0x7F, t & 0x7F]
        )
        fh = bytes([0xFF, 0xFB, (kbps_idx << 4) | (sr_idx << 2), 0])
        return hdr + frames + bytes(t - len(frames)) + fh + bytes(audio - 4)
    if m == 2:  # ISO-BMFF: ftyp + moov/mvhd + mdat
        ts = 600 * (1 + d % 4)
        dur = 3000 + d % 1000
        ftyp = (
            (24).to_bytes(4, "big") + b"ftypisom"
            + (0).to_bytes(4, "big") + b"isomiso2"
        )
        mvhd_body = bytes(12) + ts.to_bytes(4, "big") + dur.to_bytes(4, "big") + bytes(80)
        mvhd = (8 + len(mvhd_body)).to_bytes(4, "big") + b"mvhd" + mvhd_body
        moov = (8 + len(mvhd)).to_bytes(4, "big") + b"moov" + mvhd
        mdat = (40).to_bytes(4, "big") + b"mdat" + bytes(32)
        return ftyp + moov + mdat
    # Ogg page 0 carrying the Vorbis identification header
    sr = 22050 * (1 + d % 2)
    ch = 1 + d % 2
    nominal = 64000 + 1000 * (d % 32)
    pkt = (
        b"\x01vorbis" + (0).to_bytes(4, "little") + bytes([ch])
        + sr.to_bytes(4, "little") + (0).to_bytes(4, "little")
        + nominal.to_bytes(4, "little") + (0).to_bytes(4, "little")
        + bytes([0xB8]) + b"\x01"
    )
    page = (
        b"OggS" + bytes([0, 2]) + bytes(8) + bytes(4) + bytes(4)
        + bytes(4) + bytes([1, len(pkt)])
    )
    return page + pkt


def _sps_nal(
    profile: int, level: int, w_mbs: int, h_units: int, crop: bool
) -> bytes:
    """Minimal valid H.264 SPS NAL (4:2:0, frame_mbs_only,
    pic_order_cnt_type 2) written bit-exact with Exp-Golomb fields and
    emulation-prevention insertion."""
    bits: list[int] = []

    def u(v: int, nb: int) -> None:
        for i in range(nb - 1, -1, -1):
            bits.append((v >> i) & 1)

    def ue(v: int) -> None:
        k = v + 1
        nb = k.bit_length()
        bits.extend([0] * (nb - 1))
        u(k, nb)

    u(profile, 8)
    u(0, 8)  # constraint flags
    u(level, 8)
    ue(0)  # seq_parameter_set_id
    if profile == 100:
        ue(1)  # chroma_format_idc 4:2:0
        ue(0)  # bit_depth_luma_minus8
        ue(0)  # bit_depth_chroma_minus8
        u(0, 1)  # qpprime
        u(0, 1)  # no scaling matrix
    ue(4)  # log2_max_frame_num_minus4
    ue(2)  # pic_order_cnt_type
    ue(1)  # max_num_ref_frames
    u(0, 1)  # gaps_in_frame_num
    ue(w_mbs - 1)
    ue(h_units - 1)
    u(1, 1)  # frame_mbs_only
    u(1, 1)  # direct_8x8
    if crop:
        u(1, 1)
        ue(0)
        ue(1)  # crop_right = 1 chroma unit -> width - 2
        ue(0)
        ue(1)  # crop_bottom = 1 -> height - 2
    else:
        u(0, 1)
    u(0, 1)  # vui_parameters_present
    bits.append(1)  # rbsp stop bit
    while len(bits) % 8:
        bits.append(0)
    raw = bytearray()
    for i in range(0, len(bits), 8):
        v = 0
        for bit in bits[i : i + 8]:
            v = (v << 1) | bit
        raw.append(v)
    out = bytearray()
    zeros = 0
    for byte in raw:  # emulation prevention
        if zeros >= 2 and byte <= 3:
            out.append(3)
            zeros = 0
        out.append(byte)
        zeros = zeros + 1 if byte == 0 else 0
    return b"\x67" + bytes(out)


def _mp4_index_blob(d: int, real_nals: bool = False) -> bytes:
    """Closed-form ISO-BMFF fixture with REAL sample tables: one avc1
    video track, stts/stsz/stss/stsc/stco all derived from doc_id, an
    embedded bit-exact H.264 SPS (profile 100/66 alternating, cropping
    every 5th doc), moov AFTER mdat so the first chunk offset is the
    constant 32. Every 11th doc is not an mp4 (zero index rows).

    With ``real_nals`` the mdat carries real length-prefixed H.264
    NALs per sample: keyframes are IDR slices (nal type 5, slice_type
    7 -> I), other samples alternate P/B by (d + i) % 2 — the
    exp-golomb prelude (first_mb_in_slice, slice_type) is bit-exact so
    the slice-type indexer decodes it."""
    if d % 11 == 0:
        return b"\x00\x00\x00\x08oops" + bytes([d % 256])

    def box(ty: bytes, payload: bytes) -> bytes:
        return (8 + len(payload)).to_bytes(4, "big") + ty + payload

    ts = 600 * (1 + d % 4)
    delta = 100 + d % 50
    n = 10 + d % 20
    k = 3 + d % 3
    sizes = [200 + ((d + i) % 37) for i in range(1, n + 1)]
    sps = _sps_nal(
        100 if d % 2 == 0 else 66,
        30 + d % 21,
        4 + d % 5,
        3 + d % 4,
        d % 5 == 0,
    )
    avcc = (
        bytes([1, sps[1], sps[2], sps[3], 0xFF, 0xE1])
        + len(sps).to_bytes(2, "big")
        + sps
        + b"\x00"
    )
    avc1 = box(b"avc1", bytes(78) + box(b"avcC", avcc))
    stsd = box(b"stsd", bytes(4) + (1).to_bytes(4, "big") + avc1)
    stts = box(
        b"stts",
        bytes(4) + (1).to_bytes(4, "big") + n.to_bytes(4, "big")
        + delta.to_bytes(4, "big"),
    )
    stsz = box(
        b"stsz",
        bytes(4) + (0).to_bytes(4, "big") + n.to_bytes(4, "big")
        + b"".join(s.to_bytes(4, "big") for s in sizes),
    )
    # with real NALs, every 13th doc is a NO-KEYFRAME stream (empty
    # stss = zero sync samples per spec — the broken/unseekable class
    # the gop rollup's whole-stream tail path exists for); the plain
    # index fixture keeps its cadence so mp4_frame_index is untouched
    if real_nals and d % 13 == 0:
        kfs: list[int] = []
    else:
        kfs = list(range(1, n + 1, k))
    stss = box(
        b"stss",
        bytes(4) + len(kfs).to_bytes(4, "big")
        + b"".join(s.to_bytes(4, "big") for s in kfs),
    )
    stsc = box(
        b"stsc",
        bytes(4) + (1).to_bytes(4, "big") + (1).to_bytes(4, "big")
        + n.to_bytes(4, "big") + (1).to_bytes(4, "big"),
    )
    stco = box(
        b"stco", bytes(4) + (1).to_bytes(4, "big") + (32).to_bytes(4, "big")
    )
    stbl = box(b"stbl", stsd + stts + stsz + stss + stsc + stco)
    minf = box(b"minf", box(b"vmhd", bytes(12)) + stbl)
    mdhd = box(
        b"mdhd",
        bytes(12) + ts.to_bytes(4, "big")
        + (n * delta).to_bytes(4, "big") + bytes(4),
    )
    mdia = box(b"mdia", mdhd + minf)
    moov = box(b"moov", box(b"trak", mdia))
    ftyp = (24).to_bytes(4, "big") + b"ftypisom" + bytes(4) + b"isomiso2"
    if real_nals:
        kfset = set(kfs)
        payload = bytearray()
        for i in range(1, n + 1):
            sz = sizes[i - 1]
            if i in kfset:
                # IDR: nal header 0x65, ue(0)+ue(7) = '1'+'0001000'
                nal = bytes([0x65, 0x88])
            elif (d + i) % 2 == 0:
                # P slice: 0x61, ue(0)+ue(0) = '11' + pad
                nal = bytes([0x61, 0xC0])
            else:
                # B slice: 0x61, ue(0)+ue(1) = '1010' + pad
                nal = bytes([0x61, 0xA0])
            payload += (sz - 4).to_bytes(4, "big")
            payload += nal + bytes(sz - 4 - len(nal))
        mdat = box(b"mdat", bytes(payload))
    else:
        mdat = box(b"mdat", bytes(sum(sizes)))
    return ftyp + mdat + moov


def q_mp4_frame_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Header-only video intake: the mp4 sample tables
    (stts/stsz/stss/stsc/stco) resolved into one row per KEYFRAME with
    absolute byte offset, size, presentation time — plus the H.264
    resolution/profile parsed bit-exact out of the avcC SPS
    (Exp-Golomb, high-profile chroma prefix, crop units). This is what
    a 100 TB crawl needs from video it will never transcode at intake:
    hand frame-accurate byte ranges to a decode farm; the intake
    cluster reads headers only. Non-mp4 payloads yield zero rows. The
    oracle restates the whole table closed-form — keyframe cadence,
    prefix-sum offsets, SPS arithmetic."""
    import pandas as pd

    from trollflow2_spark.extensions.multimodal import mp4_frame_index

    docs = load_table(spark, sf_dir, "documents").select("doc_id")

    def gen(batches):
        for pdf in batches:
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "media": [
                        _mp4_index_blob(int(d)) for d in pdf["doc_id"]
                    ],
                }
            )

    media = docs.mapInPandas(
        gen,
        T.StructType(
            [
                T.StructField("doc_id", T.LongType()),
                T.StructField("media", T.BinaryType()),
            ]
        ),
    )
    return mp4_frame_index(media)


def q_h264_slice_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inter-frame H.264 structure WITHOUT decoding: each sample's
    first VCL NAL is walked through avcC length prefixes and its
    slice header's exp-golomb prelude read bit-exact — giving the real
    I/P/B cadence plus a per-sample consistency check of the
    container's stss sync-sample claims against the coded IDR
    evidence (the broken-muxer detector). The fixture plants real NAL
    bytes (IDR at the stss cadence, P/B alternating closed-form), so
    the oracle states every row verbatim."""
    import pandas as pd

    from trollflow2_spark.extensions.multimodal import h264_slice_index

    docs = load_table(spark, sf_dir, "documents").select("doc_id")

    def gen(batches):
        for pdf in batches:
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "media": [
                        _mp4_index_blob(int(d), real_nals=True)
                        for d in pdf["doc_id"]
                    ],
                }
            )

    media = docs.mapInPandas(
        gen,
        T.StructType(
            [
                T.StructField("doc_id", T.LongType()),
                T.StructField("media", T.BinaryType()),
            ]
        ),
    )
    return h264_slice_index(media)


def _mp4_h264_blob(d: int) -> bytes:
    """Closed-form DECODABLE mp4/avc1 fixture: a 32x32 IDR picture
    authored by the repo's full-control H.264 encoder
    (`extensions/h264.py`) — four macroblocks whose DC chains are
    closed-form in doc_id at QP 28: MB0 is Intra_16x16 DC (or, every
    7th doc, an Intra_4x4 all-DC macroblock) with a single luma DC
    level, MB1/MB2 predict DC from MB0's reconstructed edges, MB3
    from both, and MB0 carries one chroma-U DC level. The avcC box
    embeds the real SPS+PPS; the one stss keyframe sample is the
    length-prefixed IDR NAL. Every 11th doc is not an mp4."""
    if d % 11 == 0:
        return b"\x00\x00\x00\x08oops" + bytes([d % 256])
    from trollflow2_spark.extensions.h264 import (
        H264IntraEncoder,
        build_pps,
        build_sps,
        split_annexb,
    )

    k0 = d % 9 - 4
    k1 = (d + 3) % 9 - 4
    k2 = (d + 5) % 9 - 4
    k3 = (d + 7) % 9 - 4
    lx = d % 5 - 2
    enc = H264IntraEncoder(2, 2, qp=28)
    cdc = [[6 * lx, 0, 0, 0], [0, 0, 0, 0]]
    if d % 7 == 0:
        enc.add_i4(
            [2] * 16,
            luma=[[lx] + [0] * 15] + [[0] * 16] * 15,
            chroma_dc=cdc,
        )
    else:
        enc.add_i16(2, dc=[8 * k0] + [0] * 15, chroma_dc=cdc)
    enc.add_i16(2, dc=[8 * k1] + [0] * 15)
    enc.add_i16(2, dc=[8 * k2] + [0] * 15)
    enc.add_i16(2, dc=[8 * k3] + [0] * 15)
    nals = split_annexb(enc.encode())
    idr = next(n for n in nals if (n[0] & 0x1F) == 5)
    sps_nal, pps_nal = build_sps(2, 2), build_pps()

    def box(ty: bytes, payload: bytes) -> bytes:
        return (8 + len(payload)).to_bytes(4, "big") + ty + payload

    avcc = (
        bytes([1, sps_nal[1], sps_nal[2], sps_nal[3], 0xFF, 0xE1])
        + len(sps_nal).to_bytes(2, "big") + sps_nal
        + b"\x01" + len(pps_nal).to_bytes(2, "big") + pps_nal
    )
    avc1 = box(b"avc1", bytes(78) + box(b"avcC", avcc))
    stsd = box(b"stsd", bytes(4) + (1).to_bytes(4, "big") + avc1)
    sample = len(idr).to_bytes(4, "big") + idr
    stts = box(
        b"stts",
        bytes(4) + (1).to_bytes(4, "big") + (1).to_bytes(4, "big")
        + (100).to_bytes(4, "big"),
    )
    stsz = box(
        b"stsz",
        bytes(4) + (0).to_bytes(4, "big") + (1).to_bytes(4, "big")
        + len(sample).to_bytes(4, "big"),
    )
    stss = box(
        b"stss", bytes(4) + (1).to_bytes(4, "big") + (1).to_bytes(4, "big")
    )
    stsc = box(
        b"stsc",
        bytes(4) + (1).to_bytes(4, "big") + (1).to_bytes(4, "big")
        + (1).to_bytes(4, "big") + (1).to_bytes(4, "big"),
    )
    stco = box(
        b"stco", bytes(4) + (1).to_bytes(4, "big") + (32).to_bytes(4, "big")
    )
    stbl = box(b"stbl", stsd + stts + stsz + stss + stsc + stco)
    minf = box(b"minf", box(b"vmhd", bytes(12)) + stbl)
    mdhd = box(
        b"mdhd",
        bytes(12) + (600).to_bytes(4, "big") + (100).to_bytes(4, "big")
        + bytes(4),
    )
    mdia = box(b"mdia", mdhd + minf)
    moov = box(b"moov", box(b"trak", mdia))
    ftyp = (24).to_bytes(4, "big") + b"ftypisom" + bytes(4) + b"isomiso2"
    mdat = box(b"mdat", sample)
    return ftyp + mdat + moov


def q_multimodal_decode_h264(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """REAL H.264 IDR decode from mp4 — the inter-frame-video tier's
    keyframe-decode step (CODECS.md): `h264_keyframe_decode` walks the
    sample tables to the first stss keyframe, reads SPS/PPS from
    avcC, and decodes the IDR slice through the from-scratch baseline
    intra decoder (CAVLC entropy, I16x16/I4x4 prediction, integer
    inverse transforms, per-spec dequant). The fixture's DC-only
    macroblock chains reconstruct in closed form, so every output
    pixel sample and the exact luma sum are SQL-restatable (spec
    8.5.10/8.5.12 arithmetic inlined in the oracle). Non-mp4 docs
    (every 11th) yield zero rows."""
    import pandas as pd

    from trollflow2_spark.extensions.multimodal import (
        h264_keyframe_decode,
    )

    docs = load_table(spark, sf_dir, "documents").select("doc_id").repartition(
        spark.sparkContext.defaultParallelism
    )

    def gen(batches):
        for pdf in batches:
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "media": [
                        _mp4_h264_blob(int(d)) for d in pdf["doc_id"]
                    ],
                }
            )

    media = docs.mapInPandas(
        gen,
        T.StructType(
            [
                T.StructField("doc_id", T.LongType()),
                T.StructField("media", T.BinaryType()),
            ]
        ),
    )
    return h264_keyframe_decode(media)


def _mp4_h264_multi_blob(d: int) -> bytes:
    """Multi-keyframe decodable mp4: 2 + d%3 samples, EVERY one an
    independent 16x16 IDR picture (I16x16 DC, luma DC level
    8*((d+k)%9-4) at QP 28), all listed in stss — the clip-sampling
    fixture for frame_sample's mp4 route. Every 11th doc is not an
    mp4."""
    if d % 11 == 0:
        return b"\x00\x00\x00\x08oops" + bytes([d % 256])
    from trollflow2_spark.extensions.h264 import (
        H264IntraEncoder,
        build_pps,
        build_sps,
        split_annexb,
    )

    n = 2 + d % 3
    samples = []
    for k in range(n):
        enc = H264IntraEncoder(1, 1, qp=28)
        enc.add_i16(2, dc=[8 * ((d + k) % 9 - 4)] + [0] * 15)
        nals = split_annexb(enc.encode())
        idr = next(x for x in nals if (x[0] & 0x1F) == 5)
        samples.append(len(idr).to_bytes(4, "big") + idr)
    sps_nal, pps_nal = build_sps(1, 1), build_pps()

    def box(ty: bytes, payload: bytes) -> bytes:
        return (8 + len(payload)).to_bytes(4, "big") + ty + payload

    avcc = (
        bytes([1, sps_nal[1], sps_nal[2], sps_nal[3], 0xFF, 0xE1])
        + len(sps_nal).to_bytes(2, "big") + sps_nal
        + b"\x01" + len(pps_nal).to_bytes(2, "big") + pps_nal
    )
    avc1 = box(b"avc1", bytes(78) + box(b"avcC", avcc))
    stsd = box(b"stsd", bytes(4) + (1).to_bytes(4, "big") + avc1)
    stts = box(
        b"stts",
        bytes(4) + (1).to_bytes(4, "big") + n.to_bytes(4, "big")
        + (100).to_bytes(4, "big"),
    )
    stsz = box(
        b"stsz",
        bytes(4) + (0).to_bytes(4, "big") + n.to_bytes(4, "big")
        + b"".join(len(sm).to_bytes(4, "big") for sm in samples),
    )
    stss = box(
        b"stss",
        bytes(4) + n.to_bytes(4, "big")
        + b"".join((i + 1).to_bytes(4, "big") for i in range(n)),
    )
    stsc = box(
        b"stsc",
        bytes(4) + (1).to_bytes(4, "big") + (1).to_bytes(4, "big")
        + n.to_bytes(4, "big") + (1).to_bytes(4, "big"),
    )
    stco = box(
        b"stco", bytes(4) + (1).to_bytes(4, "big") + (32).to_bytes(4, "big")
    )
    stbl = box(b"stbl", stsd + stts + stsz + stss + stsc + stco)
    minf = box(b"minf", box(b"vmhd", bytes(12)) + stbl)
    mdhd = box(
        b"mdhd",
        bytes(12) + (600).to_bytes(4, "big")
        + (n * 100).to_bytes(4, "big") + bytes(4),
    )
    mdia = box(b"mdia", mdhd + minf)
    moov = box(b"moov", box(b"trak", mdia))
    ftyp = (24).to_bytes(4, "big") + b"ftypisom" + bytes(4) + b"isomiso2"
    mdat = box(b"mdat", b"".join(samples))
    return ftyp + mdat + moov


def q_frame_sample_mp4(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Clip sampling from REAL video: frame_sample's mp4/avc1 route
    decodes every stss keyframe through the from-scratch H.264
    baseline intra decoder and samples every 2nd one. The fixture's
    DC-only 16x16 IDR pictures are constant planes, so each sampled
    frame_byte (the frame's max pixel) is the closed-form 8.5.10
    constant in doc_id and frame index."""
    import pandas as pd

    from trollflow2_spark.extensions.multimodal import frame_sample

    docs = load_table(spark, sf_dir, "documents").select("doc_id").where(
        F.col("doc_id") % 11 != 0
    ).repartition(spark.sparkContext.defaultParallelism)

    def gen(batches):
        for pdf in batches:
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "media": [
                        _mp4_h264_multi_blob(int(d))
                        for d in pdf["doc_id"]
                    ],
                }
            )

    media = docs.mapInPandas(
        gen,
        T.StructType(
            [
                T.StructField("doc_id", T.LongType()),
                T.StructField("media", T.BinaryType()),
            ]
        ),
    )
    return frame_sample(media, every_n_frames=2)


def q_video_gop_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GOP-structure rollup over the coded slice evidence: per video,
    I/P/B counts and the maximum GOP length (spacing between
    consecutive coded I frames, tail measured to the stream end) —
    the numbers a clip-sampling pipeline routes on (a 300-frame GOP
    means a 300-frame decode to seek mid-GOP). One hash agg over the
    slice index plus a lead window partitioned per video. The oracle
    restates counts and spacing closed-form from the fixture's
    keyframe cadence."""
    import pandas as pd

    from trollflow2_spark.extensions.multimodal import (
        h264_slice_index,
        video_gop_stats,
    )

    docs = load_table(spark, sf_dir, "documents").select("doc_id")

    def gen(batches):
        for pdf in batches:
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "media": [
                        _mp4_index_blob(int(d), real_nals=True)
                        for d in pdf["doc_id"]
                    ],
                }
            )

    media = docs.mapInPandas(
        gen,
        T.StructType(
            [
                T.StructField("doc_id", T.LongType()),
                T.StructField("media", T.BinaryType()),
            ]
        ),
    )
    si = h264_slice_index(media)
    return video_gop_stats(si)


def _mp3_index_blob(d: int) -> bytes:
    """Closed-form MPEG-1 Layer III fixture with a REAL frame chain: a
    fixed 64-byte-body ID3v2.3 tag (frames start at byte 74), then
    5 + d%7 audio frames whose per-frame bitrate index cycles the full
    table (1 + (d+i)%14 — a VBR stream), sample rate d%3, padding bit
    (d+i)%2, so every frame size 144*kbps*1000//rate + pad and every
    prefix-sum offset is closed-form in doc_id. Every 9th doc is not
    an mp3."""
    if d % 9 == 0:
        return b"notanmp3" + bytes([d % 256])
    title = f"doc{d}".encode()
    frame = b"TIT2" + len(title + b"\x00").to_bytes(4, "big") + bytes(2) \
        + b"\x00" + title
    body = (frame + bytes(64))[:64]
    blob = bytearray(b"ID3\x03\x00\x00" + bytes([0, 0, 0, 64]) + body)
    kbps_tab = [32, 40, 48, 56, 64, 80, 96, 112, 128, 160, 192, 224,
                256, 320]
    rates = [44100, 48000, 32000]
    n = 5 + d % 7
    si = d % 3
    for i in range(n):
        bi = 1 + (d + i) % 14
        pad = (d + i) % 2
        kbps = kbps_tab[bi - 1]
        size = 144 * kbps * 1000 // rates[si] + pad
        hdr = bytes([0xFF, 0xFB, (bi << 4) | (si << 2) | (pad << 1), 0])
        blob += hdr + bytes(size - 4)
    return bytes(blob)


def q_mp3_frame_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Header-only MPEG-audio intake — the perceptual-audio analog of
    mp4_frame_index and the honest 100 TB answer to "we don't decode
    mp3 here": one Arrow pass walks the frame chain (per-frame VBR
    bitrate, padding, sample rate) into byte-accurate (offset, size,
    pts) rows a decode farm can seek with, while the intake cluster
    never touches coded audio. Non-mp3 payloads yield zero rows. The
    oracle restates the whole index closed-form: table-driven frame
    sizes, prefix-sum offsets, 1152-sample frame timing."""
    import pandas as pd

    from trollflow2_spark.extensions.multimodal import mp3_frame_index

    docs = load_table(spark, sf_dir, "documents").select("doc_id")

    def gen(batches):
        for pdf in batches:
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "media": [
                        _mp3_index_blob(int(d)) for d in pdf["doc_id"]
                    ],
                }
            )

    media = docs.mapInPandas(
        gen,
        T.StructType(
            [
                T.StructField("doc_id", T.LongType()),
                T.StructField("media", T.BinaryType()),
            ]
        ),
    )
    return mp3_frame_index(media)


def _ogg_index_blob(d: int) -> bytes:
    """Closed-form Ogg fixture: a BOS page carrying a 30-byte Vorbis id
    header (sample rate 8000*(1+d%3)), then 2 + d%4 data pages with
    closed-form payload sizes 50 + (d+i)%40, granules i*(1000 + d%500)
    and an EOS flag on the last — every page offset, size and pts is
    stated by the oracle. Every 9th doc is not Ogg."""
    if d % 9 == 0:
        return b"notanogg" + bytes([d % 256])
    sr = 8000 * (1 + d % 3)
    vorbis_id = (
        b"\x01vorbis" + bytes(4) + bytes([2])
        + sr.to_bytes(4, "little") + bytes(4)
        + (64000).to_bytes(4, "little") + bytes(4) + bytes(2)
    )
    assert len(vorbis_id) == 30

    def page(seq: int, htype: int, granule: int, payload: bytes) -> bytes:
        return (
            b"OggS\x00" + bytes([htype])
            + granule.to_bytes(8, "little", signed=True)
            + (7).to_bytes(4, "little")  # serial
            + seq.to_bytes(4, "little")
            + bytes(4)  # crc (not validated by the indexer)
            + bytes([1]) + bytes([len(payload)])
            + payload
        )

    n_data = 2 + d % 4
    out = page(0, 2, 0, vorbis_id)  # BOS
    for i in range(1, n_data + 1):
        psz = 50 + (d + i) % 40
        htype = 4 if i == n_data else 0
        out += page(i, htype, i * (1000 + d % 500), bytes(psz))
    return out


def q_ogg_page_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Header-only Ogg (Vorbis/Opus) intake: one Arrow pass walks the
    page chain — lacing-table sizes, granule positions, bos/eos flags
    — into the byte-accurate seek index, with granules converted to
    presentation times through the Vorbis id header's sample rate.
    Non-Ogg payloads yield zero rows. The oracle restates offsets
    (prefix sums over closed-form page sizes), granule arithmetic and
    flags verbatim."""
    import pandas as pd

    from trollflow2_spark.extensions.multimodal import ogg_page_index

    docs = load_table(spark, sf_dir, "documents").select("doc_id")

    def gen(batches):
        for pdf in batches:
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "media": [
                        _ogg_index_blob(int(d)) for d in pdf["doc_id"]
                    ],
                }
            )

    media = docs.mapInPandas(
        gen,
        T.StructType(
            [
                T.StructField("doc_id", T.LongType()),
                T.StructField("media", T.BinaryType()),
            ]
        ),
    )
    return ogg_page_index(media)


def q_streaming_late_data(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermark semantics proven end-to-end: a windowed event-time
    count driven through the 3-batch replay with a 6-hour watermark.
    Batches interleave the month uniformly (batch = event_id % 3), so
    once the watermark takes effect it sits ~6 hours below the stream
    maximum and most later rows arrive LATE: Spark drops exactly those
    whose hour-window end is at or below the watermark in force for
    their batch. Micro-batch watermark propagation lags one batch (the
    update from batch b-1's data takes effect in batch b+1), so batch
    2 is the first filtered batch — the oracle restates the lag-2 rule
    row-by-row; final counts are the max update per (window, type)
    from the memory sink."""
    from trollflow2_spark.extensions.stream_state import replay_batches

    ev = _replay_subset(
        load_table(spark, sf_dir, "events").where(
            F.col("event_id") % C.REPLAY_SUB_MOD == 0
        )
    ).select("ts", "event_type", (F.col("event_id") % 3).alias("b"))
    rows = ev.collect()  # config-bounded fixture subset (control plane)
    batches = [
        [
            {"ts": r["ts"].isoformat(sep=" "), "event_type": r["event_type"]}
            for r in rows
            if r["b"] == i
        ]
        for i in range(3)
    ]

    def op(st):
        return (
            st.withColumn("ts", F.col("ts").cast("timestamp"))
            .withWatermark("ts", "6 hours")
            .groupBy(F.window("ts", "1 hour"), "event_type")
            .agg(F.count(F.lit(1)).alias("n"))
        )

    sunk = replay_batches(
        spark, batches, "ts string, event_type string", op
    )
    return (
        sunk.groupBy(
            F.col("window.start").alias("window_start"), "event_type"
        )
        .agg(F.max("n").alias("n_events"))
    )


def q_streaming_join_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermarked stream-stream attribution join through the 3-batch
    replay: impressions (even event_ids) joined to clicks (odd) on
    user bucket within 1 hour, both sides watermarked 2 hours.
    Emitted pairs = condition-satisfying pairs whose rows each cleared
    the watermark in force for their batch (raw event time here — the
    aggregate case gates on window end), with the same lag-2 watermark
    propagation the late-data replay pins. The oracle restates the
    rule and the time-range join."""
    from trollflow2_spark.extensions.stream_state import replay_batches
    from trollflow2_spark.extensions.stream_windows import stream_stream_join

    ev = _replay_subset(
        load_table(spark, sf_dir, "events").where(
            F.col("event_id") % C.REPLAY_SUB_MOD == 0
        )
    ).select(
        (F.col("user_id") % 5).alias("k"),
        "ts",
        (F.col("event_id") % 2 == 0).alias("is_l"),
        ((F.col("event_id") / C.REPLAY_SUB_MOD).cast("bigint") % 3).alias(
            "b"
        ),
        "event_id",
    )
    rows = ev.collect()  # config-bounded fixture subset (control plane)
    batches = [
        [
            {
                "k": r["k"],
                "ts": r["ts"].isoformat(sep=" "),
                "side": "L" if r["is_l"] else "R",
                "eid": r["event_id"],
            }
            for r in rows
            if r["b"] == i
        ]
        for i in range(3)
    ]

    def op(st):
        st = st.withColumn("ts", F.col("ts").cast("timestamp"))
        left = st.filter(F.col("side") == "L").select(
            "k", "ts", F.col("eid").alias("l_eid")
        )
        right = st.filter(F.col("side") == "R").select(
            "k", "ts", F.col("eid").alias("r_eid")
        )
        return stream_stream_join(
            left,
            right,
            "k",
            "ts",
            "ts",
            watermark="2 hours",
            max_delay="1 hour",
        ).select("k", "l_eid", F.col("r_r_eid").alias("r_eid"))

    return replay_batches(
        spark,
        batches,
        "k long, ts string, side string, eid long",
        op,
        output_mode="append",
    )


def q_streaming_dedup_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming first-seen dedup driven through the 3-batch replay
    harness: content 'content k' rides docs {3k, 3k+1, 3k+2} in
    batches 0/1/2 (unique WITHIN each batch, duplicated only across
    batches), so the state-store survivor set is closed-form — the
    min-batch doc of each content group. The digest column is the
    portable md5 hash the oracle replays."""
    from trollflow2_spark.extensions.stream_state import (
        replay_batches,
        streaming_dedup,
    )

    ev = _replay_subset(
        load_table(spark, sf_dir, "documents"), id_col="doc_id"
    ).select(
        "doc_id",
        F.concat(
            F.lit("content "), F.floor(F.col("doc_id") / 3).cast("string")
        ).alias("text"),
        (F.col("doc_id") % 3).alias("b"),
    )
    rows = ev.collect()  # config-bounded fixture subset (control plane)
    batches = [
        [{"doc_id": r["doc_id"], "text": r["text"]} for r in rows
         if r["b"] == i]
        for i in range(3)
    ]
    sunk = replay_batches(
        spark,
        batches,
        "doc_id long, text string",
        lambda st: streaming_dedup(st, text_col="text"),
    )
    return sunk.select("doc_id", "text", "digest")


def _exif_blob(d: int) -> bytes:
    """Deterministic JPEG fixture for doc_id ``d``: real segment
    structure (SOI / APP1-Exif / SOF0 / EOI) with closed-form EXIF
    fields; byte order alternates II/MM, every 7th doc has no APP1,
    every 11th is not a JPEG at all."""
    if d % 11 == 0:
        return b"notjpeg" + bytes([d % 256])
    bo = "little" if d % 2 == 0 else "big"

    def b2(v):
        return v.to_bytes(2, bo)

    def b4(v):
        return v.to_bytes(4, bo)

    w, h = 100 + d % 50, 80 + d % 40
    sof = (
        b"\xff\xc0" + (11).to_bytes(2, "big") + bytes([8])
        + h.to_bytes(2, "big") + w.to_bytes(2, "big")
        + bytes([1, 1, 0x11, 0])
    )
    if d % 7 == 0:
        return b"\xff\xd8" + sof + b"\xff\xd9"
    make = f"cam{d % 5}".encode() + b"\x00"
    dt = ("2024:01:%02d 00:00:00" % (d % 28 + 1)).encode() + b"\x00"
    off_make = 50  # header 8 + count 2 + 3*12 + next-IFD 4
    off_dt = off_make + len(make)
    header = (b"II" if bo == "little" else b"MM") + b2(42) + b4(8)
    entries = (
        b2(0x010F) + b2(2) + b4(len(make)) + b4(off_make)
        + b2(0x0112) + b2(3) + b4(1) + b2(1 + d % 8) + b2(0)
        + b2(0x0132) + b2(2) + b4(len(dt)) + b4(off_dt)
    )
    tiff = header + b2(3) + entries + b4(0) + make + dt
    exif = b"Exif\x00\x00" + tiff
    app1 = b"\xff\xe1" + (len(exif) + 2).to_bytes(2, "big") + exif
    return b"\xff\xd8" + app1 + sof + b"\xff\xd9"


def _exif_gps_blob(d: int) -> bytes:
    """The EXIF fixture extended with a GPS IFD: every 3rd doc's IFD0
    carries the GPSInfo pointer (tag 0x8825) to a real GPS IFD
    (latitude-ref entry), so the scrubber has genuine geotags to
    strip. Every 7th doc ships no APP1, every 11th is not a JPEG —
    same quarantine shape as ``_exif_blob``."""
    if d % 11 == 0:
        return b"notjpeg" + bytes([d % 256])
    bo = "little" if d % 2 == 0 else "big"

    def b2(v):
        return v.to_bytes(2, bo)

    def b4(v):
        return v.to_bytes(4, bo)

    w, h = 100 + d % 50, 80 + d % 40
    sof = (
        b"\xff\xc0" + (11).to_bytes(2, "big") + bytes([8])
        + h.to_bytes(2, "big") + w.to_bytes(2, "big")
        + bytes([1, 1, 0x11, 0])
    )
    if d % 7 == 0:
        return b"\xff\xd8" + sof + b"\xff\xd9"
    gps = d % 3 == 0
    make = f"cam{d % 5}".encode() + b"\x00"
    dt = ("2024:01:%02d 00:00:00" % (d % 28 + 1)).encode() + b"\x00"
    n_entries = 4 if gps else 3
    off_make = 8 + 2 + n_entries * 12 + 4
    off_dt = off_make + len(make)
    gps_off = off_dt + len(dt)
    header = (b"II" if bo == "little" else b"MM") + b2(42) + b4(8)
    entries = (
        b2(0x010F) + b2(2) + b4(len(make)) + b4(off_make)
        + b2(0x0112) + b2(3) + b4(1) + b2(1 + d % 8) + b2(0)
        + b2(0x0132) + b2(2) + b4(len(dt)) + b4(off_dt)
    )
    if gps:
        entries += b2(0x8825) + b2(4) + b4(1) + b4(gps_off)
    tiff = header + b2(n_entries) + entries + b4(0) + make + dt
    if gps:
        # GPS IFD: 1 entry — GPSLatitudeRef, ASCII "N\0" inline
        tiff += b2(1) + (b2(0x0001) + b2(2) + b4(2) + b"N\x00\x00\x00") \
            + b4(0)
    exif = b"Exif\x00\x00" + tiff
    app1 = b"\xff\xe1" + (len(exif) + 2).to_bytes(2, "big") + exif
    return b"\xff\xd8" + app1 + sof + b"\xff\xd9"


def q_exif_gps_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Image privacy — the PII scrub for binaries: APP1 blocks whose
    IFD0 carries a GPSInfo pointer are stripped whole (surgical IFD
    zeroing leaves pointer structure betraying the redaction), image
    data and dimensions untouched, and the audit columns (had_exif,
    had_gps, byte sizes, scrubbed flag) state exactly what left.
    Every 3rd fixture doc is geotagged; the oracle restates every
    audit column closed-form from the fixture's segment sizes."""
    import pandas as pd

    from trollflow2_spark.extensions.multimodal import exif_gps_scrub

    docs = load_table(spark, sf_dir, "documents").select("doc_id")

    def gen(batches):
        for pdf in batches:
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "media": [
                        _exif_gps_blob(int(d)) for d in pdf["doc_id"]
                    ],
                }
            )

    media = docs.mapInPandas(
        gen,
        T.StructType(
            [
                T.StructField("doc_id", T.LongType()),
                T.StructField("media", T.BinaryType()),
            ]
        ),
    )
    return exif_gps_scrub(media).select(
        "doc_id", "had_exif", "had_gps", "bytes_before", "bytes_after",
        "scrubbed",
    )


def _pdf_blob(d: int) -> bytes:
    """Closed-form PDF fixture: 1 + d%3 pages; each page's content
    stream exercises literal strings with escapes, TJ arrays with
    kerning, hex strings and octal escapes; streams Flate-compressed
    for even d; every 9th doc is not a PDF, every 10th carries a CID
    (Type0) font marker."""
    import zlib

    if d % 9 == 0:
        return b"%NOTAPDF" + bytes([d % 256])
    n_pages = 1 + d % 3
    objs: list[bytes] = []
    kids = " ".join(f"{3 + 2 * p} 0 R" for p in range(n_pages))
    objs.append(
        b"1 0 obj << /Type /Catalog /Pages 2 0 R >> endobj\n"
    )
    objs.append(
        f"2 0 obj << /Type /Pages /Kids [{kids}] /Count {n_pages} >> "
        "endobj\n".encode()
    )
    for p in range(n_pages):
        content = (
            f"BT /F1 12 Tf (Doc {d}) Tj (pa\\(ren\\)) Tj "
            f"[(pg) -120 ({p})] TJ <6865782A> Tj (\\101\\102) Tj ET"
        ).encode()
        filt = b""
        if d % 2 == 0:
            content = zlib.compress(content)
            filt = b"/Filter /FlateDecode "
        objs.append(
            f"{3 + 2 * p} 0 obj << /Type /Page /Parent 2 0 R "
            f"/Contents {4 + 2 * p} 0 R >> endobj\n".encode()
        )
        objs.append(
            (
                f"{4 + 2 * p} 0 obj << {filt.decode()}/Length "
                f"{len(content)} >> stream\n"
            ).encode()
            + content
            + b"\nendstream endobj\n"
        )
    info = f"{3 + 2 * n_pages} 0 obj << /Producer (gen{d % 7}) >> endobj\n"
    objs.append(info.encode())
    if d % 10 == 0:
        objs.append(
            f"{4 + 2 * n_pages} 0 obj << /Subtype /Type0 /BaseFont "
            "/Fake-Identity-H >> endobj\n".encode()
        )
    return b"%PDF-1.4\n" + b"".join(objs) + b"%%EOF"


def q_html_markdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Structure-preserving HTML -> markdown extraction over a
    closed-form page fixture (headings, entity text, lists, links,
    bold/italic, script/style noise): the modern crawl default —
    markdown keeps the structure LLM training wants where flat text
    loses headings and link targets. Pure regexp chain in the scan
    stage; the oracle states the converted markdown verbatim."""
    from trollflow2_spark.extensions.warc import html_to_markdown

    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    d = F.col("doc_id").cast("string")
    html = F.concat(
        F.lit(
            "<html><head><script>var x=1;</script><style>p{}</style>"
            "</head><body><h1>Title "
        ),
        d,
        F.lit("</h1><p>Intro &amp; more</p><ul><li>item0</li><li>item "),
        (F.col("doc_id") % 5).cast("string"),
        F.lit('</li></ul><p>See <a href="http://s'),
        (F.col("doc_id") % 9).cast("string"),
        F.lit('.com/p">link '),
        d,
        F.lit("</a> now.</p><p><b>bold</b> and <em>it</em></p></body></html>"),
    )
    md = html_to_markdown(html)
    return docs.select(
        "doc_id",
        md.alias("markdown"),
        F.regexp_count(md, F.lit(r"\]\(")).cast("int").alias("n_links"),
        F.regexp_count(md, F.lit("(?m)^#{1,6} "))
        .cast("int")
        .alias("n_headings"),
        F.regexp_count(md, F.lit("(?m)^- ")).cast("int").alias("n_items"),
    )


def q_lsh_param_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The LSH S-curve as an oracle-checked planning table: for every
    (bands b, rows-per-band r) split of the signature budget and every
    Jaccard grid point s, the candidate probability
    ``1 - (1 - s^r)^b`` in integer micro-units, plus each scheme's
    50%-threshold estimate ``(1/b)^(1/r)`` — the table an operator
    reads BEFORE committing a 100 TB dedup run to a banding scheme
    (recall at the target threshold vs candidate volume below it is
    THE cost knob of minhash dedup). Pure Column arithmetic over a
    generated grid; the oracle replays the identical double
    expressions and rounding."""
    num_hashes = C.MINHASH_NUM_HASHES
    schemes = [
        (b, num_hashes // b)
        for b in range(1, num_hashes + 1)
        if num_hashes % b == 0
    ]
    sdf = spark.createDataFrame(schemes, "bands int, rows_per_band int")
    grid = spark.range(1, 20).select(
        (F.col("id") * 5).cast("int").alias("s_pct")
    )
    j = sdf.crossJoin(grid)
    s = F.col("s_pct").cast("double") / F.lit(100.0)
    p = F.lit(1.0) - F.pow(
        F.lit(1.0) - F.pow(s, F.col("rows_per_band").cast("double")),
        F.col("bands").cast("double"),
    )
    thr = F.pow(
        F.lit(1.0) / F.col("bands").cast("double"),
        F.lit(1.0) / F.col("rows_per_band").cast("double"),
    )
    return j.select(
        "bands",
        "rows_per_band",
        "s_pct",
        F.round(p * F.lit(1000000.0)).cast("bigint").alias("p_micro"),
        F.round(thr * F.lit(1000000.0))
        .cast("bigint")
        .alias("threshold_micro"),
    )


def q_readability(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Readability scoring (`extensions/text.py:readability_features`):
    Flesch Reading Ease + Flesch-Kincaid grade over the real document
    text — the curriculum/difficulty bucket signal. The vowel-group
    syllable heuristic, sentence floor, and formula float chain are
    stated identically on both engines; scores round to 4."""
    from trollflow2_spark.extensions.text import readability_features

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    return readability_features(docs)


def q_domain_boilerplate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Domain-frequency boilerplate gate
    (`extensions/dedup.py:domain_boilerplate`): CCNet-style removal
    of lines on > 50% of their own domain's pages. Fixture: 12
    domains by doc_id % 12; a nav line on EVERY page (dropped), a
    promo line on every third page (~33% — kept), two unique body
    lines (kept). Integer cross-multiplied share test, so there is
    no float boundary; the oracle replays the counting and
    reassembly in SQL."""
    from trollflow2_spark.extensions.dedup import domain_boilerplate

    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    d = F.col("doc_id")
    domain = F.concat(F.lit("d"), (d % 12).cast("string"))
    # concat_ws skips NULLs: the promo line exists only on d%3==0 pages
    text = F.concat_ws(
        "\n",
        F.concat(F.lit("nav "), domain),
        F.when(d % 3 == 0, F.concat(F.lit("promo "), domain)),
        F.concat(F.lit("body "), d.cast("string"), F.lit(" alpha")),
        F.concat(F.lit("body "), d.cast("string"), F.lit(" beta")),
    )
    return domain_boilerplate(
        docs.select("doc_id", domain.alias("domain"), text.alias("text"))
    )


def q_geo_radius_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Free-form radius join (`extensions/geo.py:geo_radius_join`):
    every customer point within 300 km of a nation site — the
    store-catchment / POI-tagging join Spark lacks, planned as a
    grid-cell EQUI hash join (sites explode to a 3x3 cell
    neighborhood and broadcast) with the haversine as a residual
    filter, never a nested loop. Deterministic synthetic coordinates
    keep every candidate distance > 0.5 km away from the threshold
    (engine float divergence is ~1e-10 km), so the float filter
    cannot flap (`test_geo.py` pins the margin).
    The oracle is the naive cross join + identical haversine — the
    bucketed plan must reproduce it exactly."""
    from trollflow2_spark.extensions.geo import geo_radius_join

    nat = load_table(spark, sf_dir, "nation").select("n_nationkey")
    k = F.col("n_nationkey").cast("long")
    sites = nat.select(
        k.alias("site_id"),
        ((k * 7) % 120 - 60 + 0.5).alias("site_lat"),
        ((k * 13) % 360 - 180 + 0.5).alias("site_lon"),
    )
    cust = load_table(spark, sf_dir, "customer").select("c_custkey")
    c = F.col("c_custkey")
    points = cust.select(
        c.alias("point_id"),
        ((c * 3) % 120 - 60 + 0.25).alias("lat"),
        ((c * 17) % 360 - 180 + 0.25).alias("lon"),
    )
    out = geo_radius_join(points, sites, radius_km=300.0)
    return out.select(
        "point_id",
        "site_id",
        F.round(F.col("dist_km"), 6).alias("dist_km"),
    )


def q_cidr_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IP -> CIDR longest-prefix enrichment
    (`extensions/net.py:cidr_enrich`): the GeoIP/ASN join every crawl
    log and serving log needs, which Spark has no native join type
    for. The range table (built from `nation`: a /16 and a more
    specific /17 per nation, plus a 10.0.0.0/8 catch-all) is exploded
    onto the /16 grid and broadcast, so the match is an EQUI hash
    join with a residual range filter — never a nested loop — and
    longest-prefix precedence is one map-side-combinable max_by agg.
    Fixture IPs are 10.(d%32).(d%256).(7d%256): the upper-half third
    octet must pick the /17 over the /16, nations 25-31 exist only
    under the catch-all /8, and the /8's 256-bucket explosion
    exercises the short-prefix grid path. Oracle restates the
    longest-prefix winner closed-form."""
    from trollflow2_spark.extensions.net import cidr_enrich, long_to_ipv4

    nat = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    k = F.col("n_nationkey").cast("long")
    ks = k.cast("string")
    r16 = nat.select(
        F.concat(F.lit("10."), ks, F.lit(".0.0/16")).alias("cidr"),
        (F.lit(64500) + k).cast("int").alias("asn"),
        F.col("n_name").alias("country"),
    )
    r17 = nat.select(
        F.concat(F.lit("10."), ks, F.lit(".128.0/17")).alias("cidr"),
        (F.lit(64800) + k).cast("int").alias("asn"),
        F.col("n_name").alias("country"),
    )
    r8 = spark.range(1).select(
        F.lit("10.0.0.0/8").alias("cidr"),
        F.lit(64000).cast("int").alias("asn"),
        F.lit("ANY").alias("country"),
    )
    ranges = r16.unionByName(r17).unionByName(r8)

    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    d = F.col("doc_id")
    ip_long = (
        F.shiftleft(F.lit(10).cast("long"), 24)
        + F.shiftleft(d % 32, 16)
        + F.shiftleft(d % 256, 8)
        + (d * 7) % 256
    )
    points = docs.select("doc_id", ip_long.alias("ip_long"))
    out = cidr_enrich(points, ranges, id_col="doc_id")
    return out.select(
        "doc_id",
        long_to_ipv4(F.col("ip_long")).alias("ip"),
        "cidr",
        "prefix_len",
        "asn",
        "country",
    )


def q_recrawl_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Closing the crawl lifecycle loop: the snapshot diff
    (added/changed/unchanged per doc) rolls up to per-domain change
    rates in integer ppm, which bucket into recrawl priorities —
    change-hungry domains get daily attention, static ones monthly
    (the adaptive-recrawl policy every production crawler runs;
    fetch budget goes where content actually moves). Fixture: the new
    snapshot edits docs where doc_id % 3 == 0 and adds shifted-id
    docs where doc_id % 7 == 0, domains cycle doc_id % 20. Diff =
    digest-only full-outer join (40-byte rows); rollup = one hash agg
    to domain grain. The oracle replays diff, ppm and buckets."""
    from trollflow2_spark.extensions.snapshot import corpus_diff

    docs = load_table(spark, sf_dir, "documents")
    old = docs.select("doc_id", "text")
    d = F.col("doc_id")
    edited = docs.select(
        "doc_id",
        F.when(
            d % 3 == 0, F.concat(F.col("text"), F.lit(" [edited]"))
        )
        .otherwise(F.col("text"))
        .alias("text"),
    )
    added = (
        docs.where(d % 7 == 0)
        .select(
            (d + 10_000_000).alias("doc_id"),
            F.concat(F.lit("new page "), d.cast("string")).alias("text"),
        )
    )
    new = edited.unionByName(added)
    diff = corpus_diff(old, new)
    dom = F.concat(
        F.lit("site"),
        (F.pmod(F.col("doc_id"), 10_000_000) % 20).cast("string"),
    )
    per_dom = (
        diff.select(dom.alias("domain"), "status")
        .groupBy("domain")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(
                (F.col("status") != "unchanged").cast("long")
            ).alias("n_moved"),
        )
    )
    rate = (F.col("n_moved") * 1_000_000 / F.col("n_docs")).cast("bigint")
    return per_dom.select(
        "domain",
        F.col("n_docs").cast("bigint").alias("n_docs"),
        F.col("n_moved").cast("bigint").alias("n_moved"),
        rate.alias("change_ppm"),
        F.when(rate >= 400_000, "daily")
        .when(rate >= 100_000, "weekly")
        .otherwise("monthly")
        .alias("recrawl"),
    )


def q_url_spam_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frontier-side URL spam scoring — the cheapest quality gate
    there is (no bytes fetched): planted URLs cycle clean /
    deep-path+param-stuffed / digit-and-hyphen-host / merely-long
    shapes, and the feature struct (length, depth, params, host digit
    share, host hyphens) plus the two-signal verdict must resolve each
    correctly (the merely-long URL fires one signal and stays
    unflagged — single oddities are not spam). The oracle rebuilds the
    same URLs and replays the same regexp arithmetic."""
    from trollflow2_spark.extensions.warc import url_spam_features

    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    d = F.col("doc_id")
    m = (d % 50).cast("string")
    did = d.cast("string")
    s = d % 4
    url = (
        F.when(
            s == 0,
            F.concat(F.lit("https://site"), m, F.lit(".co.uk/a/"), did),
        )
        .when(
            s == 1,
            F.concat(
                F.lit("https://site"), m, F.lit(".co.uk/a/b/c/d/e/f/g/"),
                did, F.lit("?p1=1&p2=2&p3=3&p4=4&p5=5&p6=6"),
            ),
        )
        .when(
            s == 2,
            F.concat(F.lit("http://9-4-2-s"), m, F.lit(".com/p")),
        )
        .otherwise(
            F.concat(
                F.lit("https://site"), m, F.lit(".com/"),
                F.lit("x" * 120),
            )
        )
    )
    rows = docs.select("doc_id", url.alias("url"))
    f = url_spam_features(F.col("url"))
    return rows.select(
        "doc_id",
        f["url_len"].alias("url_len"),
        f["path_depth"].alias("path_depth"),
        f["n_params"].alias("n_params"),
        f["host_digit_pct"].alias("host_digit_pct"),
        f["host_hyphens"].alias("host_hyphens"),
        f["spammy"].alias("spammy"),
    )


def q_main_content_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Boilerplate-removing main-content extraction (the
    trafilatura/readability move): the planted page carries a
    link-dense nav, 2 + d%3 real paragraphs and a short link-bearing
    footer — the block-level text/link-density rule must keep exactly
    the paragraphs. Pure Column algebra; the oracle restates the
    extracted text and every count verbatim."""
    from trollflow2_spark.extensions.warc import main_content_blocks

    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    d = F.col("doc_id")
    did = d.cast("string")
    paras = []
    for i in range(5):
        paras.append(
            F.when(
                F.lit(i) < d % 3 + 2,
                F.concat(
                    F.lit("<p>Paragraph "),
                    did,
                    F.lit(f" {i} with enough plain words to pass the "
                          "density gate</p>"),
                ),
            ).otherwise(F.lit(""))
        )
    html = F.concat(
        F.lit('<div><a href="/a">Home</a> <a href="/b">About</a> '
              '<a href="/c">Contact us</a></div>'),
        *paras,
        F.lit('<footer><a href="/t">Terms</a> '
              '<a href="/p">Privacy</a></footer>'),
    )
    pages = docs.select("doc_id", html.alias("html"))
    mc = main_content_blocks(F.col("html"))
    return pages.select(
        "doc_id",
        mc["main_text"].alias("main_text"),
        mc["n_blocks"].alias("n_blocks"),
        mc["n_kept"].alias("n_kept"),
        mc["boilerplate_ratio_permille"].alias(
            "boilerplate_ratio_permille"
        ),
    )


def q_canonical_url_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup by the crawl's OWN hint: pages declaring the same
    ``<link rel="canonical">`` target are duplicates by the site's own
    testimony — no shingles or hashes needed, and it catches
    pagination/tracking variants content-based dedup pays real work
    for. Planted fixture: groups of 3 docs share one canonical target
    (either attribute order); pages without the tag are their own
    canonical (self). One hash agg on the canonical key: per target,
    the kept doc (min id), the duplicate count, and whether the group
    had an explicit tag. The oracle replays the grouping closed-form."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    d = F.col("doc_id")
    grp = (d - d % 3).cast("string")
    tag = F.when(
        d % 7 == 0,
        F.concat(
            F.lit('<link href="http://c'), grp,
            F.lit('.com/page" rel="canonical">'),
        ),
    ).otherwise(
        F.concat(
            F.lit('<link rel="canonical" href="http://c'), grp,
            F.lit('.com/page">'),
        )
    )
    html = F.when(
        d % 5 == 0, F.lit("<head></head>")  # no canonical tag
    ).otherwise(F.concat(F.lit("<head>"), tag, F.lit("</head>")))
    pages = docs.select("doc_id", html.alias("html"))
    href = F.coalesce(
        F.nullif(
            F.regexp_extract(
                F.col("html"),
                r'(?is)rel\s*=\s*["\']canonical["\'][^>]*'
                r'href\s*=\s*["\']([^"\']+)["\']',
                1,
            ),
            F.lit(""),
        ),
        F.nullif(
            F.regexp_extract(
                F.col("html"),
                r'(?is)href\s*=\s*["\']([^"\']+)["\'][^>]*'
                r'rel\s*=\s*["\']canonical["\']',
                1,
            ),
            F.lit(""),
        ),
    )
    keyed = pages.select(
        "doc_id",
        F.coalesce(
            href, F.concat(F.lit("self:"), F.col("doc_id").cast("string"))
        ).alias("canonical"),
        href.isNotNull().cast("int").alias("explicit"),
    )
    return keyed.groupBy("canonical").agg(
        F.min("doc_id").alias("kept_doc"),
        F.count(F.lit(1)).cast("int").alias("n_pages"),
        F.max("explicit").cast("int").alias("explicit"),
    )


def q_script_mixing_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Homoglyph/mixed-script audit over planted confusables: every
    4th document has its latin a/e swapped for the Cyrillic
    lookalikes а/е (the classic dedup-evasion / phishing trick), and
    the audit reports mixed-script token counts, confusable character
    counts and the verdict — the gate that catches what exact and
    fuzzy matchers are built to miss. The oracle replays the plant
    (same translate) and the same regexp/translate arithmetic."""
    from trollflow2_spark.extensions.text import script_mixing_audit

    docs = load_table(spark, sf_dir, "documents")
    planted = docs.select(
        "doc_id",
        F.when(
            F.col("doc_id") % 4 == 0,
            F.translate(F.col("text"), "ae", "ае"),
        )
        .otherwise(F.col("text"))
        .alias("text"),
    )
    return script_mixing_audit(planted)


def q_meta_robots_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The politeness gate robots.txt cannot express: per-page
    ``<meta name="robots">`` directives (noindex/nofollow/none, either
    attribute order) and per-link ``rel=nofollow`` annotations parsed
    straight out of raw HTML — a compliant crawl drops noindex pages
    and keeps nofollow links out of the frontier before any dedup or
    quality work runs. Scan-stage Column regexps; the oracle states
    every flag and count closed-form from the planted fixture."""
    from trollflow2_spark.extensions.warc import meta_robots_flags

    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    d = F.col("doc_id")
    content = (
        F.when(d % 15 == 0, F.lit("noindex, nofollow"))
        .when(d % 3 == 0, F.lit("noindex"))
        .when(d % 5 == 0, F.lit("nofollow"))
        .otherwise(F.lit(None))
    )
    meta = F.when(
        content.isNull(), F.lit("")
    ).otherwise(
        F.when(
            d % 7 == 0,
            F.concat(
                F.lit('<meta content="'), content, F.lit('" name="robots">')
            ),
        ).otherwise(
            F.concat(
                F.lit('<meta name="robots" content="'), content, F.lit('">')
            )
        )
    )
    n = d % 4 + 2
    link_parts = []
    for j in range(5):
        rel = (
            F.when(d % 2 == 0, F.lit(' rel="nofollow"')).otherwise(
                F.lit("")
            )
            if j == 0
            else F.lit("")
        )
        link_parts.append(
            F.when(
                F.lit(j) < n,
                F.concat(
                    F.lit(f'<a href="http://s'),
                    d.cast("string"),
                    F.lit(f".com/{j}\""),
                    rel,
                    F.lit(f">t{j}</a>"),
                ),
            ).otherwise(F.lit(""))
        )
    html = F.concat(
        F.lit("<html><head>"),
        meta,
        F.lit("</head><body>"),
        *link_parts,
        F.lit("</body></html>"),
    )
    pages = docs.select("doc_id", html.alias("html"))
    flags = meta_robots_flags(F.col("html"))
    return pages.select(
        "doc_id",
        flags["noindex"].alias("noindex"),
        flags["nofollow"].alias("nofollow"),
        flags["n_links"].alias("n_links"),
        flags["n_follow_links"].alias("n_follow_links"),
    )


def q_pdf_text(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PDF text extraction over real COS structures: sequential object
    parse (no xref needed — robust to the truncated files crawls see),
    zlib-inflated FlateDecode content streams, and the text-showing
    operator set (Tj / TJ arrays with kerning / hex strings / octal
    and delimiter escapes). Non-PDFs degrade to ok=0 rows; Type0/CID
    fonts are flagged. Every field of the fixture is closed-form in
    doc_id, so the oracle states the extracted text verbatim."""
    import pandas as pd

    from trollflow2_spark.extensions.pdftext import pdf_text_table

    docs = load_table(spark, sf_dir, "documents").select("doc_id")

    def gen(batches):
        for pdf in batches:
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "media": [_pdf_blob(int(d)) for d in pdf["doc_id"]],
                }
            )

    media = docs.mapInPandas(
        gen,
        T.StructType(
            [
                T.StructField("doc_id", T.LongType()),
                T.StructField("media", T.BinaryType()),
            ]
        ),
    )
    return pdf_text_table(media)


def _pdf_cid_blob(d: int) -> bytes:
    """Closed-form Type0/CID PDF fixture: one page whose content shows
    a single 2-byte-CID hex string spelling ``Doc {d}``; the /F7 font
    is Type0 (Identity-H) with an embedded ToUnicode CMap exercising
    bfchar singles, the array-destination bfrange form AND a
    continuous bfrange span (digits). Every 5th doc omits the
    ToUnicode stream — text must be suppressed (not garbled) and
    ``has_cid`` stays 1. Streams Flate-compressed for even d."""
    import zlib

    cid = {"D": 1, "o": 5, "c": 6, " ": 4}
    codes = [cid["D"], cid["o"], cid["c"], cid[" "]] + [
        0x10 + int(ch) for ch in str(d)
    ]
    hexstr = "".join(f"{c:04X}" for c in codes)
    content = f"BT /F7 12 Tf <{hexstr}> Tj ET".encode()
    cmap = (
        b"/CIDInit /ProcSet findresource begin\nbegincmap\n"
        b"2 beginbfchar\n<0001> <0044>\n<0004> <0020>\nendbfchar\n"
        b"2 beginbfrange\n<0005> <0006> [<006F> <0063>]\n"
        b"<0010> <0019> <0030>\nendbfrange\nendcmap\nend"
    )
    objs = [
        b"1 0 obj << /Type /Catalog /Pages 2 0 R >> endobj\n",
        b"2 0 obj << /Type /Pages /Kids [3 0 R] /Count 1 >> endobj\n",
        b"3 0 obj << /Type /Page /Parent 2 0 R /Resources "
        b"<< /Font << /F7 5 0 R >> >> /Contents 4 0 R >> endobj\n",
    ]
    cf = b""
    if d % 2 == 0:
        content = zlib.compress(content)
        cf = b"/Filter /FlateDecode "
    objs.append(
        b"4 0 obj << " + cf + b"/Length " + str(len(content)).encode()
        + b" >> stream\n" + content + b"\nendstream endobj\n"
    )
    if d % 5 == 0:
        objs.append(
            b"5 0 obj << /Subtype /Type0 /BaseFont /Fake "
            b"/Encoding /Identity-H >> endobj\n"
        )
    else:
        objs.append(
            b"5 0 obj << /Subtype /Type0 /BaseFont /Fake "
            b"/Encoding /Identity-H /ToUnicode 6 0 R >> endobj\n"
        )
        mf = b""
        if d % 2 == 0:
            cmap = zlib.compress(cmap)
            mf = b"/Filter /FlateDecode "
        objs.append(
            b"6 0 obj << " + mf + b"/Length " + str(len(cmap)).encode()
            + b" >> stream\n" + cmap + b"\nendstream endobj\n"
        )
    return b"%PDF-1.4\n" + b"".join(objs) + b"%%EOF"


def _audio_blob(d: int) -> bytes:
    """Closed-form PCM16 mono WAV fixture: 512 samples
    ``x_j = (((g*131+7)*j*j + j*13 + g*97) % 2048) - 1024`` with group
    ``g = d//2`` (the group multiplies the quadratic term, so distinct
    groups decorrelate across the whole envelope — exactly the planted
    odd/even pairs match, nothing else); odd docs add a +1
    perturbation on every 50th sample — the planted near-duplicate
    (few fingerprint bits flip). Every 13th doc is not audio."""
    import io
    import wave as wavemod

    if d % 13 == 0:
        return b"notaudio" + bytes([d % 256])
    g = d // 2
    buf = io.BytesIO()
    with wavemod.open(buf, "wb") as w:
        w.setnchannels(1)
        w.setsampwidth(2)
        w.setframerate(8000)
        frames = bytearray()
        for j in range(512):
            x = (((g * 131 + 7) * j * j + j * 13 + g * 97) % 2048) - 1024
            if d % 2 == 1 and j % 50 == 0:
                x += 1
            frames += int(x).to_bytes(2, "little", signed=True)
        w.writeframes(bytes(frames))
    return buf.getvalue()


def _audio_fp_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    import pandas as pd

    from trollflow2_spark.extensions.multimodal import audio_fingerprint

    docs = load_table(spark, sf_dir, "documents").select("doc_id")

    def gen(batches):
        for pdf in batches:
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "media": [_audio_blob(int(d)) for d in pdf["doc_id"]],
                }
            )

    media = docs.mapInPandas(
        gen,
        T.StructType(
            [
                T.StructField("doc_id", T.LongType()),
                T.StructField("media", T.BinaryType()),
            ]
        ),
    )
    return audio_fingerprint(media)


def q_feed_urls(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Crawl-frontier extraction over a closed-form XML fixture
    cycling all four feed dialects (sitemap urlset, sitemap INDEX —
    whose locs are more sitemaps, not pages —, RSS 2.0, Atom with
    href attributes): one (kind, url, stamp) row per entry via a pure
    Column regexp block parse + posexplode, zero Python. The oracle
    restates every entry verbatim."""
    from trollflow2_spark.extensions.warc import feed_urls

    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    d = F.col("doc_id")
    n = (F.lit(2) + d % 3).cast("int")
    m = d % 4

    def ent(i):
        u = F.concat(
            F.lit("https://s"), (d % 9).cast("string"), F.lit(".com/"),
            d.cast("string"), F.lit("/"), i.cast("string"),
        )
        stamp = F.concat(
            F.lit("2024-02-"),
            F.lpad(((d + i) % 28 + 1).cast("string"), 2, "0"),
        )
        site = F.concat(
            F.lit("<url><loc> "), u, F.lit(" </loc><lastmod>"), stamp,
            F.lit("</lastmod></url>"),
        )
        idx = F.concat(
            F.lit("<sitemap><loc>"), u, F.lit("/map.xml</loc><lastmod>"),
            stamp, F.lit("</lastmod></sitemap>"),
        )
        rss = F.concat(
            F.lit("<item><title>t</title><link>"), u,
            F.lit("</link><pubDate>"), stamp, F.lit("</pubDate></item>"),
        )
        atom = F.concat(
            F.lit('<entry><link rel="alternate" href="'), u,
            F.lit('"/><updated>'), stamp, F.lit("</updated></entry>"),
        )
        return (
            F.when(m == 0, site).when(m == 1, idx).when(m == 2, rss)
            .otherwise(atom)
        )

    body = F.array_join(F.transform(F.sequence(F.lit(0), n - 1), ent), "")
    doc = (
        F.when(m == 0, F.concat(
            F.lit('<urlset xmlns="x">'), body, F.lit("</urlset>")))
        .when(m == 1, F.concat(
            F.lit('<sitemapindex xmlns="x">'), body,
            F.lit("</sitemapindex>")))
        .when(m == 2, F.concat(
            F.lit('<rss version="2.0"><channel>'), body,
            F.lit("</channel></rss>")))
        .otherwise(F.concat(
            F.lit('<feed xmlns="a">'), body, F.lit("</feed>")))
    )
    feeds = docs.select("doc_id", doc.alias("xml"))
    return feeds.select(
        "doc_id", F.posexplode(feed_urls(F.col("xml"))).alias("pos", "e")
    ).select(
        "doc_id",
        F.col("pos").cast("int").alias("pos"),
        F.col("e.kind").alias("kind"),
        F.col("e.url").alias("url"),
        F.col("e.stamp").alias("stamp"),
    )


def q_audio_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio curation gates over REAL WAV decode
    (`extensions/multimodal.py:audio_samples` + pure-Column
    `audio_quality_stats`): peak / fixed-point RMS / clipping count /
    longest-silence run / leading-silence length — the audio analog
    of the text-quality tier. Fixture clips are real PCM16 WAVs
    written executor-side: leading zeros (d%8), trailing zeros (d%5),
    a mod-401 tone, and every 9th tone sample hard-clipped to 32767
    on d%5==0 docs; the tone itself crosses zero so mid-clip
    3-sample silence islands exercise the run fold. The oracle
    regenerates the identical PCM in SQL and recomputes every stat
    independently (islands for runs, BIGINT energy, IEEE sqrt)."""
    from trollflow2_spark.extensions.multimodal import (
        audio_quality_stats,
        audio_samples,
    )

    docs = load_table(spark, sf_dir, "documents").select("doc_id").repartition(
        spark.sparkContext.defaultParallelism
    )
    wav_schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("media", T.BinaryType()),
        ]
    )

    def make_wav(batches):
        import io
        import wave

        import numpy as np
        import pandas as pd

        for pdf in batches:
            blobs = []
            for d in pdf["doc_id"]:
                d = int(d)
                n = d % 40 + 20
                lead, tail = d % 8, d % 5
                i = np.arange(n)
                s = ((d * 11 + i) % 401) - 200
                if d % 5 == 0:
                    clip = (i >= lead) & (i < n - tail) & ((i - lead) % 9 == 0)
                    s = np.where(clip, 32767, s)
                s[:lead] = 0
                if tail:
                    s[n - tail:] = 0
                buf = io.BytesIO()
                with wave.open(buf, "wb") as wf:
                    wf.setnchannels(1)
                    wf.setsampwidth(2)
                    wf.setframerate(8000)
                    wf.writeframes(s.astype("<i2").tobytes())
                blobs.append(buf.getvalue())
            yield pd.DataFrame({"doc_id": pdf["doc_id"], "media": blobs})

    media = docs.mapInPandas(make_wav, wav_schema)
    return audio_quality_stats(audio_samples(media))


def q_audio_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perceptual audio fingerprints over REAL WAV decode (stdlib PCM16
    reader): Haitsma-Kalker-style sign-of-band-energy-difference bits
    on an 8-frame x 9-band integer energy envelope, packed to a signed
    BIGINT. The envelope is integer arithmetic end to end, so the
    oracle replays every band sum and difference bit exactly in SQL.
    Non-audio payloads yield no row."""
    return _audio_fp_table(spark, sf_dir)


def q_audio_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio near-dup pairs — the audio member of the near-dup family:
    fingerprints from q_audio_fingerprint through the SAME
    hamming-band machinery as text simhash and image dHash (64 bits,
    8 bands, pigeonhole-complete at max_hamming < bands). The planted
    odd/even perturbation pairs surface; the oracle is the quadratic
    ground-truth bit_count(xor) join over the closed-form
    fingerprints."""
    from trollflow2_spark.extensions.dedup import simhash_pairs

    fp = _audio_fp_table(spark, sf_dir).select(
        "doc_id", F.col("afp").alias("simhash")
    )
    return simhash_pairs(
        fp, id_col="doc_id", bits=64, bands=8,
        max_hamming=C.PHASH_MAX_HAMMING,
    )


def q_subtitle_text(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Subtitle intake over a closed-form WebVTT/SRT fixture (format
    alternates by doc): headers, NOTE lines, cue ids / SRT indexes,
    timestamp lines (both millisecond separators) and inline markup
    stripped to spoken text, with (n_cues, spoken_ms) parsed from the
    timing lines via a higher-order fold — all pure Column regexp
    algebra in the scan stage, the same family as HTML->markdown. The
    oracle restates text and timing arithmetic verbatim."""
    from trollflow2_spark.extensions.subtitles import (
        subtitle_cue_stats,
        subtitle_text,
    )

    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    d = F.col("doc_id")
    n = (F.lit(2) + d % 4).cast("int")
    dur = F.lit(1000) + (d % 5) * 200

    def ts(ms, sep):
        return F.format_string(
            "%02d:%02d:%02d" + sep + "%03d",
            (ms / 3600000).cast("int"),
            ((ms / 60000) % 60).cast("int"),
            ((ms / 1000) % 60).cast("int"),
            (ms % 1000).cast("int"),
        )

    def block(i):
        start = i * 3000 + (d % 7) * 100
        end = start + dur
        text_line = F.concat(
            F.lit("line "), d.cast("string"), F.lit(" "),
            i.cast("string"), F.lit(" <i>em"), i.cast("string"),
            F.lit("</i>"),
        )
        vtt = F.concat(
            ts(start, "."), F.lit(" --> "), ts(end, "."),
            F.lit("\n"), text_line,
        )
        srt = F.concat(
            (i + 1).cast("string"), F.lit("\n"),
            ts(start, ","), F.lit(" --> "), ts(end, ","),
            F.lit("\n"), text_line,
        )
        return F.when(d % 2 == 0, vtt).otherwise(srt)

    body = F.array_join(
        F.transform(F.sequence(F.lit(0), n - 1), block), "\n\n"
    )
    doc = F.when(
        d % 2 == 0,
        F.concat(
            F.lit("WEBVTT\n\nNOTE generated "), d.cast("string"),
            F.lit("\n\n"), body,
        ),
    ).otherwise(body)
    sub = docs.select("doc_id", doc.alias("vtt"))
    n_cues, spoken = subtitle_cue_stats(F.col("vtt"))
    return sub.select(
        "doc_id",
        subtitle_text(F.col("vtt")).alias("text"),
        n_cues.alias("n_cues"),
        spoken.alias("spoken_ms"),
    )


def q_pdf_text_cid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CID/Type0 PDF text extraction — the dominant post-2010 class:
    2-byte CIDs decoded through the PDF's own embedded ToUnicode CMap
    (bfchar + both bfrange forms), resolved per page via
    /Resources → /Font and the content stream's ``Tf`` operator. Docs
    whose Type0 font ships no ToUnicode CMap yield NO text (suppressed,
    never garbled as latin-1) and stay flagged ``has_cid=1``. The
    fixture is closed-form in doc_id so the oracle states the decoded
    text verbatim."""
    import pandas as pd

    from trollflow2_spark.extensions.pdftext import pdf_text_table

    docs = load_table(spark, sf_dir, "documents").select("doc_id")

    def gen(batches):
        for pdf in batches:
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "media": [_pdf_cid_blob(int(d)) for d in pdf["doc_id"]],
                }
            )

    media = docs.mapInPandas(
        gen,
        T.StructType(
            [
                T.StructField("doc_id", T.LongType()),
                T.StructField("media", T.BinaryType()),
            ]
        ),
    )
    return pdf_text_table(media)


def _pdf_objstm_blob(d: int) -> bytes:
    """Closed-form PDF **1.5 object-stream** fixture — the modern-crawl
    shape where the page tree and font dicts never appear as top-level
    ``N M obj`` patterns: catalog, pages node, page dicts (with inline
    /Resources), the Type0/Identity-H font dict, a simple /F1 font and
    the /Producer info dict are all packed inside one Flate-compressed
    ``/Type /ObjStm`` stream (``/N`` pairs + ``/First`` header), while
    the content streams and the ToUnicode CMap stay top-level stream
    objects (the spec forbids streams inside object streams). Each
    page shows simple-font text then a 2-byte-CID hex string spelling
    ``Doc {d}`` through the packed font's CMap. Every 9th doc is not a
    PDF; every 6th carries a trailer ``/Encrypt`` ref — flagged
    ``encrypted=1`` with text suppressed, never a task failure."""
    import zlib

    if d % 9 == 0:
        return b"%NOTAPDF" + bytes([d % 256])
    n_pages = 1 + d % 2
    enc = d % 6 == 0
    # ---- packed objects (the ObjStm payload) ----
    kids = " ".join(f"{12 + p} 0 R" for p in range(n_pages))
    packed: list[tuple[int, bytes]] = [
        (10, b"<< /Type /Catalog /Pages 11 0 R >>"),
        (
            11,
            f"<< /Type /Pages /Kids [{kids}] /Count {n_pages} >>".encode(),
        ),
    ]
    for p in range(n_pages):
        packed.append(
            (
                12 + p,
                (
                    "<< /Type /Page /Parent 11 0 R /Resources "
                    "<< /Font << /F1 30 0 R /F7 20 0 R >> >> "
                    f"/Contents {4 + p} 0 R >>"
                ).encode(),
            )
        )
    packed.append(
        (
            20,
            b"<< /Subtype /Type0 /BaseFont /Fake "
            b"/Encoding /Identity-H /ToUnicode 6 0 R >>",
        )
    )
    packed.append((30, b"<< /Subtype /TrueType /BaseFont /Helv >>"))
    packed.append((21, f"<< /Producer (objstm{d % 7}) >>".encode()))
    offsets, bodies, pos = [], [], 0
    for num, body in packed:
        offsets.append((num, pos))
        bodies.append(body + b" ")
        pos += len(body) + 1
    header = " ".join(f"{n} {o}" for n, o in offsets).encode() + b" "
    first = len(header)
    objstm_data = zlib.compress(header + b"".join(bodies))
    # ---- top-level objects ----
    objs: list[bytes] = [
        (
            f"1 0 obj << /Type /ObjStm /N {len(packed)} /First {first} "
            f"/Filter /FlateDecode /Length {len(objstm_data)} >> stream\n"
        ).encode()
        + objstm_data
        + b"\nendstream endobj\n"
    ]
    cid = {"D": 1, "o": 5, "c": 6, " ": 4}
    codes = [cid["D"], cid["o"], cid["c"], cid[" "]] + [
        0x10 + int(ch) for ch in str(d)
    ]
    hexstr = "".join(f"{c:04X}" for c in codes)
    for p in range(n_pages):
        content = (
            f"BT /F1 12 Tf (pg{p} d{d}) Tj /F7 12 Tf <{hexstr}> Tj ET"
        ).encode()
        cf = b""
        if d % 2 == 0:
            content = zlib.compress(content)
            cf = b"/Filter /FlateDecode "
        objs.append(
            (
                f"{4 + p} 0 obj << {cf.decode()}/Length {len(content)} "
                ">> stream\n"
            ).encode()
            + content
            + b"\nendstream endobj\n"
        )
    cmap = (
        b"/CIDInit /ProcSet findresource begin\nbegincmap\n"
        b"2 beginbfchar\n<0001> <0044>\n<0004> <0020>\nendbfchar\n"
        b"2 beginbfrange\n<0005> <0006> [<006F> <0063>]\n"
        b"<0010> <0019> <0030>\nendbfrange\nendcmap\nend"
    )
    mf = b""
    if d % 2 == 0:
        cmap = zlib.compress(cmap)
        mf = b"/Filter /FlateDecode "
    objs.append(
        b"6 0 obj << " + mf + b"/Length " + str(len(cmap)).encode()
        + b" >> stream\n" + cmap + b"\nendstream endobj\n"
    )
    trailer = b"trailer << /Root 10 0 R >>\n"
    if enc:
        objs.append(b"9 0 obj << /Filter /Standard /V 1 >> endobj\n")
        trailer = b"trailer << /Root 10 0 R /Encrypt 9 0 R >>\n"
    return b"%PDF-1.5\n" + b"".join(objs) + trailer + b"%%EOF"


def q_pdf_text_objstm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PDF 1.5+ object-stream resolution — the dominant modern class:
    page-tree and font dicts packed inside Flate-compressed
    ``/Type /ObjStm`` streams (``/N`` offset pairs + ``/First``) are
    unpacked into the object table, so text and CID/ToUnicode decoding
    reach documents whose structural dicts never appear top-level.
    ``/Encrypt`` trailers flag ``encrypted=1`` with text suppressed
    (ciphertext, not garbage). The fixture is closed-form in doc_id so
    the oracle states pages, object counts, flags and the decoded
    mixed simple+CID text verbatim."""
    import pandas as pd

    from trollflow2_spark.extensions.pdftext import pdf_text_table

    docs = load_table(spark, sf_dir, "documents").select("doc_id")

    def gen(batches):
        for pdf in batches:
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "media": [
                        _pdf_objstm_blob(int(d)) for d in pdf["doc_id"]
                    ],
                }
            )

    media = docs.mapInPandas(
        gen,
        T.StructType(
            [
                T.StructField("doc_id", T.LongType()),
                T.StructField("media", T.BinaryType()),
            ]
        ),
    )
    return pdf_text_table(media)


def _encrypted_pdf_blob(d: int) -> bytes:
    """Closed-form standard-security-handler fixture: a one-page PDF
    whose content stream is REALLY encrypted — per doc_id % 3 with
    RC4 40-bit (/V 1 /R 2), RC4 128-bit (/V 2 /R 3 /Length 128), or
    AES-128-CBC (/V 4 /R 4 /AESV2) — with /O, /U and the file /ID
    derived exactly per ISO 32000-1 Algorithms 2/3/4/5 (forward
    authoring of the same math `extensions/pdftext.py` inverts). The user
    password is EMPTY (the owner-restricted crawl case) except every
    7th doc, which locks with a real user password and must stay
    text-suppressed. The IV and /ID are md5-derived from doc_id —
    deterministic, so the oracle states the recovered text verbatim."""
    import hashlib
    import struct

    from trollflow2_spark.extensions.pdftext import (
        _PDF_PAD,
        _aes128_cbc_encrypt,
        _rc4,
    )

    locked = d % 7 == 0
    mode = d % 4
    user_pw = b"secret" if locked else b""
    owner_pw = b"owner"
    p_flags = -44
    id0 = hashlib.md5(f"id{d}".encode()).digest()
    if mode == 3:
        return _encrypted_pdf_blob_v5(d, user_pw, owner_pw)
    if mode == 0:
        v, r, nbytes = 1, 2, 5
    elif mode == 1:
        v, r, nbytes = 2, 3, 16
    else:
        v, r, nbytes = 4, 4, 16

    def padded(pw: bytes) -> bytes:
        return (pw + _PDF_PAD)[:32]

    # Algorithm 3: /O from the owner password
    h = hashlib.md5(padded(owner_pw)).digest()
    if r >= 3:
        for _ in range(50):
            h = hashlib.md5(h).digest()
    ko = h[:nbytes]
    o = _rc4(ko, padded(user_pw))
    if r >= 3:
        for i in range(1, 20):
            o = _rc4(bytes(b ^ i for b in ko), o)
    # Algorithm 2: the file key (from the USER password)
    hh = hashlib.md5(
        padded(user_pw) + o + struct.pack("<i", p_flags) + id0
    )
    key = hh.digest()
    if r >= 3:
        for _ in range(50):
            key = hashlib.md5(key[:nbytes]).digest()
    key = key[:nbytes]
    # Algorithms 4/5: /U
    if r == 2:
        u = _rc4(key, _PDF_PAD)
    else:
        x = hashlib.md5(_PDF_PAD + id0).digest()
        x = _rc4(key, x)
        for i in range(1, 20):
            x = _rc4(bytes(b ^ i for b in key), x)
        u = x + bytes(16)
    # Algorithm 1: encrypt the content stream as object 4 0
    base = f"BT /F1 12 Tf (enc doc {d} code {d % 5}) Tj ET".encode()
    ok = hashlib.md5(
        key + (4).to_bytes(3, "little") + (0).to_bytes(2, "little")
        + (b"sAlT" if mode == 2 else b"")
    ).digest()[: min(nbytes + 5, 16)]
    # the sequential no-xref reader frames streams by regex, so the
    # (pseudorandom) ciphertext must not collide with the framing
    # tokens or end in \\r (which stream\\r?\\n trimming would eat);
    # pad the plaintext with spaces after ET (extraction-invariant)
    # until the ciphertext is framing-clean — deterministic in doc_id
    for j in range(64):
        content = base + b" " * j
        if mode == 2:
            iv = hashlib.md5(f"iv{d}:{j}".encode()).digest()
            ct = _aes128_cbc_encrypt(ok, iv, content)
        else:
            ct = _rc4(ok, content)
        if (
            b"endstream" not in ct
            and b"endobj" not in ct
            and ct[-1] not in (0x0D, 0x0A)
        ):
            break
    if mode == 0:
        enc = (
            b"<< /Filter /Standard /V 1 /R 2 /O <" + o.hex().encode()
            + b"> /U <" + u.hex().encode() + b"> /P -44 >>"
        )
    elif mode == 1:
        enc = (
            b"<< /Filter /Standard /V 2 /R 3 /Length 128 /O <"
            + o.hex().encode() + b"> /U <" + u.hex().encode()
            + b"> /P -44 >>"
        )
    else:
        enc = (
            b"<< /Filter /Standard /V 4 /R 4 /Length 128 "
            b"/CF << /StdCF << /CFM /AESV2 /Length 16 >> >> "
            b"/StmF /StdCF /StrF /StdCF /O <" + o.hex().encode()
            + b"> /U <" + u.hex().encode() + b"> /P -44 >>"
        )
    objs = [
        b"1 0 obj << /Type /Catalog /Pages 2 0 R >> endobj\n",
        b"2 0 obj << /Type /Pages /Kids [3 0 R] /Count 1 >> endobj\n",
        b"3 0 obj << /Type /Page /Parent 2 0 R /Contents 4 0 R >> "
        b"endobj\n",
        b"4 0 obj << /Length " + str(len(ct)).encode()
        + b" >> stream\n" + ct + b"\nendstream endobj\n",
        b"5 0 obj " + enc + b" endobj\n",
    ]
    trailer = (
        b"trailer << /Root 1 0 R /Encrypt 5 0 R /ID [<"
        + id0.hex().encode() + b"> <" + id0.hex().encode()
        + b">] >>\n"
    )
    return b"%PDF-1.6\n" + b"".join(objs) + trailer + b"%%EOF"


def _encrypted_pdf_blob_v5(d: int, user_pw: bytes, owner_pw: bytes) -> bytes:
    """The PDF 2.0 branch of the encrypted fixture: /V 5 /R 6 AES-256
    with the hardened Algorithm 2.B hash — /U carries
    hash+validation-salt+key-salt, /UE wraps a doc-deterministic
    256-bit file key, /O//OE computed per spec over U as udata, and
    the content stream encrypts under the FILE key directly (no
    per-object derivation at /V 5)."""
    import hashlib

    from trollflow2_spark.extensions.pdftext import (
        _aes128_cbc_encrypt,
        _aes_cbc_encrypt_nopad,
        pdf2_hardened_hash,
    )

    # one fixture salt set: the hardened hash costs ~64x128 AES
    # blocks BY DESIGN (an anti-brute-force KDF), so the fixture
    # shares salts and the memoized hash makes authoring and the
    # decoder's verification batch-cheap (8 evaluations per executor,
    # total) while the planted text and content IV stay per-doc
    file_key = hashlib.sha256(b"fk").digest()
    vsalt = hashlib.sha256(b"vs").digest()[:8]
    ksalt = hashlib.sha256(b"ks").digest()[:8]
    u = pdf2_hardened_hash(user_pw, vsalt) + vsalt + ksalt
    ue = _aes_cbc_encrypt_nopad(
        pdf2_hardened_hash(user_pw, ksalt), bytes(16), file_key
    )
    ovs = hashlib.sha256(b"ov").digest()[:8]
    oks = hashlib.sha256(b"ok").digest()[:8]
    o = pdf2_hardened_hash(owner_pw, ovs, u) + ovs + oks
    oe = _aes_cbc_encrypt_nopad(
        pdf2_hardened_hash(owner_pw, oks, u), bytes(16), file_key
    )
    base = f"BT /F1 12 Tf (enc doc {d} code {d % 5}) Tj ET".encode()
    for j in range(64):
        iv = hashlib.md5(f"iv{d}:{j}".encode()).digest()
        ct = _aes128_cbc_encrypt(file_key, iv, base + b" " * j)
        if (
            b"endstream" not in ct
            and b"endobj" not in ct
            and ct[-1] not in (0x0D, 0x0A)
        ):
            break
    enc = (
        b"<< /Filter /Standard /V 5 /R 6 /Length 256 "
        b"/CF << /StdCF << /CFM /AESV3 /Length 32 >> >> "
        b"/StmF /StdCF /StrF /StdCF "
        b"/O <" + o.hex().encode() + b"> /U <" + u.hex().encode()
        + b"> /OE <" + oe.hex().encode() + b"> /UE <"
        + ue.hex().encode() + b"> /P -44 >>"
    )
    objs = [
        b"1 0 obj << /Type /Catalog /Pages 2 0 R >> endobj\n",
        b"2 0 obj << /Type /Pages /Kids [3 0 R] /Count 1 >> endobj\n",
        b"3 0 obj << /Type /Page /Parent 2 0 R /Contents 4 0 R >> "
        b"endobj\n",
        b"4 0 obj << /Length " + str(len(ct)).encode()
        + b" >> stream\n" + ct + b"\nendstream endobj\n",
        b"5 0 obj " + enc + b" endobj\n",
    ]
    trailer = (
        b"trailer << /Root 1 0 R /Encrypt 5 0 R /ID [<"
        + hashlib.md5(f"id{d}".encode()).hexdigest().encode() + b"> <"
        + hashlib.md5(f"id{d}".encode()).hexdigest().encode()
        + b">] >>\n"
    )
    return b"%PDF-2.0\n" + b"".join(objs) + trailer + b"%%EOF"


def q_pdf_text_encrypted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Empty-user-password PDF decryption — the owner-restricted class
    that dominates encrypted crawl PDFs: the standard security handler
    derives the file key from the EMPTY padded password, checks it
    against /U, and decrypts streams per object (RC4 /V 1-2, AES-128
    /V 4 /AESV2) before text extraction; a REAL user password fails
    the /U check and stays encrypted=1 with text suppressed (every 7th
    fixture doc). Ciphers are from-scratch stdlib, pinned against
    FIPS-197 / SP800-38A / classic RC4 vectors in tests. The oracle
    restates the recovered plaintext closed-form per doc_id."""
    import pandas as pd

    from trollflow2_spark.extensions.pdftext import pdf_text_table

    docs = load_table(spark, sf_dir, "documents").select("doc_id").repartition(
        spark.sparkContext.defaultParallelism
    )

    def gen(batches):
        for pdf in batches:
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "media": [
                        _encrypted_pdf_blob(int(d)) for d in pdf["doc_id"]
                    ],
                }
            )

    media = docs.mapInPandas(
        gen,
        T.StructType(
            [
                T.StructField("doc_id", T.LongType()),
                T.StructField("media", T.BinaryType()),
            ]
        ),
    )
    return pdf_text_table(media).select(
        "doc_id",
        "ok",
        "n_pages",
        "encrypted",
        "text",
        F.length("text").alias("text_len"),
    )


def q_exif_metadata(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXIF extraction over real JPEG segment structures: closed-form
    APP1/Exif IFD0 fields in BOTH TIFF byte orders, SOF dimensions,
    EXIF-less and non-JPEG payloads degrading to NULL fields — the
    header-only image-metadata pass a crawl runs before deciding what
    to decode."""
    import pandas as pd

    from trollflow2_spark.extensions.multimodal import exif_metadata

    docs = load_table(spark, sf_dir, "documents").select("doc_id")

    def gen(batches):
        for pdf in batches:
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "media": [_exif_blob(int(d)) for d in pdf["doc_id"]],
                }
            )

    media = docs.mapInPandas(
        gen,
        T.StructType(
            [
                T.StructField("doc_id", T.LongType()),
                T.StructField("media", T.BinaryType()),
            ]
        ),
    )
    return exif_metadata(media)


def q_media_container_metadata(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Container-metadata extraction over real wav/mp3/mp4/ogg bytes:
    the fixture blobs carry genuine RIFF / ID3v2+MPEG / ISO-BMFF / Ogg
    headers built closed-form from doc_id, and
    :func:`container_metadata` parses them back header-only (no
    decode) — duration, bitrate, codec, title: the metadata a crawl
    keeps for media it will never transcode. The oracle states the
    same arithmetic per container branch."""
    import pandas as pd

    from trollflow2_spark.extensions.multimodal import (
        CONTAINER_META_SCHEMA,
        container_metadata,
    )

    docs = load_table(spark, sf_dir, "documents").select("doc_id")

    def gen(batches):
        for pdf in batches:
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "media": [_container_blob(int(d)) for d in pdf["doc_id"]],
                }
            )

    media = docs.mapInPandas(
        gen,
        T.StructType(
            [
                T.StructField("doc_id", T.LongType()),
                T.StructField("media", T.BinaryType()),
            ]
        ),
    )
    return container_metadata(media)


def q_multimodal_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return media_metadata(attach_fake_media(docs))


def q_multimodal_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arrow-batched mapInPandas decode with the deterministic
    byte-statistics stand-in (real decoders stubbed — no media libs
    here). The fake media payload is the UTF-8 text bytes, so the byte
    statistics ARE SQL-expressible: oracle-checked."""
    docs = load_table(spark, sf_dir, "documents")
    out = decode_media(attach_fake_media(docs), fake=True)
    return out.select(
        "doc_id", "n_bytes", F.round(F.col("mean_byte"), 6).alias("mean_byte"),
        "max_byte",
    )


def q_multimodal_decode_png(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL image decode: deterministic gray PNGs are encoded with the
    repo's stdlib encoder executor-side (mapInPandas), then
    ``decode_media`` routes ``image/png`` through the real stdlib
    decoder — pixel statistics and dimensions are oracle-checked (the
    pixel ramp ``(doc_id + k) % 256`` is SQL-expressible)."""
    # media kernels are per-item Python work: spread the single-file scan
    # over the cluster's cores or mapInPandas runs on 1-2 input splits
    docs = load_table(spark, sf_dir, "documents").select("doc_id").repartition(
        spark.sparkContext.defaultParallelism
    )
    media_schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("media", T.BinaryType()),
            T.StructField(
                "media_meta",
                T.StructType(
                    [
                        T.StructField("media_type", T.StringType()),
                        T.StructField("width", T.IntegerType()),
                        T.StructField("height", T.IntegerType()),
                        T.StructField("n_bytes", T.LongType()),
                    ]
                ),
            ),
        ]
    )

    def make_png(batches):
        import numpy as np
        import pandas as pd

        from trollflow2_spark.sinks.imagery import encode_png

        for pdf in batches:
            blobs, metas = [], []
            for d in pdf["doc_id"]:
                d = int(d)
                w, h = d % 5 + 2, d % 3 + 2
                px = ((d + np.arange(w * h)) % 256).astype(np.uint8).reshape(h, w)
                # cycle the decoder's wild-crawl paths by doc residue:
                # sequential, Adam7-interlaced, identity-gray palette
                # (pixel VALUES identical in all three, so the stats
                # oracle is unchanged while every route is exercised)
                if d % 3 == 1:
                    blob = encode_png(px, interlace=True)
                elif d % 3 == 2:
                    ident = np.stack([np.arange(256)] * 3, axis=1).astype(
                        np.uint8
                    )
                    blob = encode_png(px, palette=ident)
                else:
                    blob = encode_png(px)
                blobs.append(blob)
                metas.append(
                    {
                        "media_type": "image/png",
                        "width": w,
                        "height": h,
                        "n_bytes": len(blob),
                    }
                )
            yield pd.DataFrame(
                {"doc_id": pdf["doc_id"], "media": blobs, "media_meta": metas}
            )

    media = docs.mapInPandas(make_png, media_schema)
    out = decode_media(media)  # fake=False: the real image/png route
    return out.select(
        "doc_id",
        "n_bytes",
        F.round(F.col("mean_byte"), 6).alias("mean_byte"),
        "max_byte",
        "width",
        "height",
        "n_channels",
    )


def _decode_fixture_query(
    spark: SparkSession,
    sf_dir: str,
    media_type: str,
    encode_gray,
    encode_rgb,
) -> DataFrame:
    """Shared fixture for the BMP/netpbm decode routes: even docs get a
    gray image, odd docs RGB, pixel value ``(doc_id + k) % 256`` over
    the flattened array, ``w = doc_id%6+2``, ``h = doc_id%4+2`` — all
    SQL-expressible."""
    from trollflow2_spark.extensions.multimodal import decode_media

    docs = load_table(spark, sf_dir, "documents").select("doc_id").repartition(
        spark.sparkContext.defaultParallelism
    )
    media_schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("media", T.BinaryType()),
            T.StructField("media_meta", T.StringType()),
        ]
    )

    def make(batches):
        import numpy as np
        import pandas as pd

        for pdf in batches:
            out = []
            for d in pdf["doc_id"]:
                d = int(d)
                w, h = d % 6 + 2, d % 4 + 2
                if d % 2 == 0:
                    px = ((d + np.arange(w * h)) % 256).astype(
                        np.uint8
                    ).reshape(h, w)
                    blob = encode_gray(px)
                else:
                    px = ((d + np.arange(w * h * 3)) % 256).astype(
                        np.uint8
                    ).reshape(h, w, 3)
                    blob = encode_rgb(px)
                out.append((d, blob, media_type))
            yield pd.DataFrame(
                out, columns=["doc_id", "media", "media_meta"]
            )

    media = docs.mapInPandas(make, media_schema)
    return decode_media(media).select(
        "doc_id",
        "n_bytes",
        F.round(F.col("mean_byte"), 6).alias("mean_byte"),
        "max_byte",
        "width",
        "height",
        "n_channels",
    )


def q_multimodal_decode_bmp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL BMP decode: 8-bit gray-palette DIBs (even docs) and 24-bit
    BGR DIBs (odd docs) encoded with the repo's own encoder —
    bottom-up rows, 4-byte padding, palette resolution all exercised;
    pixel statistics replay closed-form in SQL."""
    from trollflow2_spark.extensions.bmp import encode_bmp

    return _decode_fixture_query(
        spark, sf_dir, "image/bmp", encode_bmp, encode_bmp
    )


def q_multimodal_decode_qoi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL QOI decode (`extensions/qoi.py`, the from-scratch qoiformat.org
    codec): even docs carry a gray ramp replicated to RGB (RUN/INDEX
    heavy), docs ≡1 (mod 4) an RGBA ramp (alpha ops), the rest an RGB
    ramp (DIFF/LUMA heavy) — every op family exercised; pixel
    statistics replay closed-form."""
    import numpy as _np

    from trollflow2_spark.extensions.qoi import encode_qoi

    from trollflow2_spark.extensions.multimodal import decode_media

    docs = load_table(spark, sf_dir, "documents").select("doc_id").repartition(
        spark.sparkContext.defaultParallelism
    )
    media_schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("media", T.BinaryType()),
            T.StructField("media_meta", T.StringType()),
        ]
    )

    def make(batches):
        import numpy as np
        import pandas as pd

        for pdf in batches:
            out = []
            for d in pdf["doc_id"]:
                d = int(d)
                w, h = d % 6 + 2, d % 4 + 2
                if d % 2 == 0:
                    g = ((d + np.arange(w * h)) % 256).astype(
                        np.uint8
                    ).reshape(h, w)
                    px = np.stack([g, g, g], axis=2)
                elif d % 4 == 1:
                    px = ((d + np.arange(w * h * 4)) % 256).astype(
                        np.uint8
                    ).reshape(h, w, 4)
                else:
                    px = ((d + np.arange(w * h * 3)) % 256).astype(
                        np.uint8
                    ).reshape(h, w, 3)
                out.append((d, encode_qoi(px), "image/qoi"))
            yield pd.DataFrame(
                out, columns=["doc_id", "media", "media_meta"]
            )

    media = docs.mapInPandas(make, media_schema)
    _np  # imported for parity with sibling fixtures
    return decode_media(media).select(
        "doc_id",
        "n_bytes",
        F.round(F.col("mean_byte"), 6).alias("mean_byte"),
        "max_byte",
        "width",
        "height",
        "n_channels",
    )


def q_multimodal_decode_pnm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL netpbm decode: binary P5 (even docs) and P6 (odd docs)
    through the whitespace/comment-tolerant header parser."""
    from trollflow2_spark.extensions.bmp import encode_pnm

    return _decode_fixture_query(
        spark, sf_dir, "image/x-portable-anymap", encode_pnm, encode_pnm
    )


def q_multimodal_decode_ico(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL ICO (favicon) decode: each fixture carries a 2×2 decoy
    entry AND the real ramp image, so the largest-entry selection is
    part of what the oracle checks; payloads are 24-bit ICO DIBs
    (doubled-height header + AND mask)."""
    from trollflow2_spark.extensions.multimodal import decode_media

    docs = load_table(spark, sf_dir, "documents").select("doc_id").repartition(
        spark.sparkContext.defaultParallelism
    )
    media_schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("media", T.BinaryType()),
            T.StructField("media_meta", T.StringType()),
        ]
    )

    def make_ico(batches):
        import numpy as np
        import pandas as pd

        from trollflow2_spark.extensions.bmp import encode_ico

        for pdf in batches:
            out = []
            for d in pdf["doc_id"]:
                d = int(d)
                w, h = d % 6 + 4, d % 4 + 4
                big = (
                    (d + np.arange(w * h * 3)) % 256
                ).astype(np.uint8).reshape(h, w, 3)
                decoy = np.zeros((2, 2, 3), np.uint8)
                out.append(
                    (d, encode_ico([decoy, big]), "image/x-icon")
                )
            yield pd.DataFrame(
                out, columns=["doc_id", "media", "media_meta"]
            )

    media = docs.mapInPandas(make_ico, media_schema)
    return decode_media(media).select(
        "doc_id",
        "n_bytes",
        F.round(F.col("mean_byte"), 6).alias("mean_byte"),
        "max_byte",
        "width",
        "height",
        "n_channels",
    )


def q_multimodal_decode_webp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL WebP-lossless decode: deterministic gray images (the same
    pixel ramp as the PNG route, ``(doc_id + k) % 256``) are encoded
    with the repo's from-scratch VP8L encoder executor-side, cycling
    through the encoder's feature grid by doc_id — default
    (subtract-green + LZ77), per-block predictor + color cache,
    palette (color-indexing with sub-byte bundling), and cache without
    subtract-green — then ``decode_media`` routes ``image/webp``
    through the from-scratch VP8L decoder. Gray input encodes as RGB,
    so the stats are the ramp's over 3 replicated channels."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id").repartition(
        spark.sparkContext.defaultParallelism
    )
    media_schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("media", T.BinaryType()),
            T.StructField(
                "media_meta",
                T.StructType(
                    [
                        T.StructField("media_type", T.StringType()),
                        T.StructField("width", T.IntegerType()),
                        T.StructField("height", T.IntegerType()),
                        T.StructField("n_bytes", T.LongType()),
                    ]
                ),
            ),
        ]
    )

    def make_webp(batches):
        import numpy as np
        import pandas as pd

        from trollflow2_spark.extensions.webp import encode_webp_lossless

        for pdf in batches:
            blobs, metas = [], []
            for d in pdf["doc_id"]:
                d = int(d)
                w, h = d % 5 + 2, d % 3 + 2
                px = ((d + np.arange(w * h)) % 256).astype(np.uint8).reshape(h, w)
                variant = d % 4
                if variant == 0:
                    blob = encode_webp_lossless(px)
                elif variant == 1:
                    blob = encode_webp_lossless(
                        px, predictor_mode=d % 14, cache_bits=d % 6
                    )
                elif variant == 2:
                    blob = encode_webp_lossless(px, use_palette=True)
                else:
                    blob = encode_webp_lossless(
                        px, use_subtract_green=False, cache_bits=4
                    )
                blobs.append(blob)
                metas.append(
                    {
                        "media_type": "image/webp",
                        "width": w,
                        "height": h,
                        "n_bytes": len(blob),
                    }
                )
            yield pd.DataFrame(
                {"doc_id": pdf["doc_id"], "media": blobs, "media_meta": metas}
            )

    media = docs.mapInPandas(make_webp, media_schema)
    out = decode_media(media)  # fake=False: the real image/webp route
    return out.select(
        "doc_id",
        "n_bytes",
        F.round(F.col("mean_byte"), 6).alias("mean_byte"),
        "max_byte",
        "width",
        "height",
        "n_channels",
    )


def q_multimodal_decode_tiff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL TIFF decode: deterministic gray deflate-compressed GeoTIFFs
    are encoded with the repo's stdlib encoder executor-side, then
    ``decode_media`` routes ``image/tiff`` through the real stdlib
    decoder (page-0 strips inflated, pixel statistics + dimensions) —
    the pixel ramp ``(doc_id*3 + k) % 256`` is SQL-expressible."""
    # media kernels are per-item Python work: spread the single-file scan
    # over the cluster's cores or mapInPandas runs on 1-2 input splits
    docs = load_table(spark, sf_dir, "documents").select("doc_id").repartition(
        spark.sparkContext.defaultParallelism
    )
    media_schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("media", T.BinaryType()),
            T.StructField("media_meta", MEDIA_META_SCHEMA),
        ]
    )

    def make_tiff(batches):
        import numpy as np
        import pandas as pd

        from trollflow2_spark.sinks.imagery import encode_geotiff

        for pdf in batches:
            blobs, metas = [], []
            for d in pdf["doc_id"]:
                d = int(d)
                w, h = d % 6 + 2, d % 4 + 2
                px = ((d * 3 + np.arange(w * h)) % 256).astype(np.uint8).reshape(h, w)
                # cycle all strip codecs by doc residue (deflate, LZW,
                # LZW + horizontal predictor, uncompressed) — pixel
                # values identical, so the stats oracle is unchanged
                # while every decode route is exercised
                comp = ("DEFLATE", "LZW", "LZW+PRED", "NONE")[d % 4]
                blob = encode_geotiff(px, compress=comp)
                blobs.append(blob)
                metas.append(
                    {
                        "media_type": "image/tiff",
                        "width": w,
                        "height": h,
                        "n_bytes": len(blob),
                    }
                )
            yield pd.DataFrame(
                {"doc_id": pdf["doc_id"], "media": blobs, "media_meta": metas}
            )

    media = docs.mapInPandas(make_tiff, media_schema)
    out = decode_media(media)  # fake=False: the real image/tiff route
    return out.select(
        "doc_id",
        "n_bytes",
        F.round(F.col("mean_byte"), 6).alias("mean_byte"),
        "max_byte",
        "width",
        "height",
        "n_channels",
    )


def q_multimodal_decode_jpeg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL JPEG decode through the repo's from-scratch baseline codec
    (extensions/jpeg.py — DCT, Annex-K tables, Huffman entropy coding). JPEG
    is lossy, so the fixture uses constant EVEN-valued images, which
    quantize losslessly (only the DC coefficient survives and Annex-K
    Q[0,0]=16 divides 8*(v-128) exactly for even v): the decoded pixels
    equal the constant exactly and the oracle is closed-form."""
    # media kernels are per-item Python work: spread the single-file scan
    # over the cluster's cores or mapInPandas runs on 1-2 input splits
    docs = load_table(spark, sf_dir, "documents").select("doc_id").repartition(
        spark.sparkContext.defaultParallelism
    )
    media_schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("media", T.BinaryType()),
            T.StructField("media_meta", MEDIA_META_SCHEMA),
        ]
    )

    def make_jpeg(batches):
        import numpy as np
        import pandas as pd

        from trollflow2_spark.extensions.jpeg import encode_jpeg_gray

        for pdf in batches:
            blobs, metas = [], []
            for d in pdf["doc_id"]:
                d = int(d)
                w, h = 8 * (d % 3 + 1), 8 * (d % 2 + 1)
                v = (d * 2) % 256
                blob = encode_jpeg_gray(
                    np.full((h, w), v, dtype=np.uint8), quality=50
                )
                blobs.append(blob)
                metas.append(
                    {
                        "media_type": "image/jpeg",
                        "width": w,
                        "height": h,
                        "n_bytes": len(blob),
                    }
                )
            yield pd.DataFrame(
                {"doc_id": pdf["doc_id"], "media": blobs, "media_meta": metas}
            )

    media = docs.mapInPandas(make_jpeg, media_schema)
    out = decode_media(media)  # fake=False: the real image/jpeg route
    return out.select(
        "doc_id",
        "n_bytes",
        F.round(F.col("mean_byte"), 6).alias("mean_byte"),
        "max_byte",
        "width",
        "height",
        "n_channels",
    )


def q_multimodal_decode_jpeg_color(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL color JPEG decode: constant gray-RGB images through the
    4:2:0-subsampled YCbCr path (constant chroma 128 => all-zero chroma
    coefficients; constant even luma quantizes losslessly), so the
    decoded (H, W, 3) statistics are closed-form."""
    # media kernels are per-item Python work: spread the single-file scan
    # over the cluster's cores or mapInPandas runs on 1-2 input splits
    docs = load_table(spark, sf_dir, "documents").select("doc_id").repartition(
        spark.sparkContext.defaultParallelism
    )
    media_schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("media", T.BinaryType()),
            T.StructField("media_meta", MEDIA_META_SCHEMA),
        ]
    )

    def make_jpeg(batches):
        import numpy as np
        import pandas as pd

        from trollflow2_spark.extensions.jpeg import encode_jpeg

        for pdf in batches:
            blobs, metas = [], []
            for d in pdf["doc_id"]:
                d = int(d)
                w, h = 16 * (d % 2 + 1), 16
                v = (d * 2) % 256
                blob = encode_jpeg(
                    np.full((h, w, 3), v, dtype=np.uint8),
                    quality=50,
                    subsample="420",
                )
                blobs.append(blob)
                metas.append(
                    {
                        "media_type": "image/jpeg",
                        "width": w,
                        "height": h,
                        "n_bytes": len(blob),
                    }
                )
            yield pd.DataFrame(
                {"doc_id": pdf["doc_id"], "media": blobs, "media_meta": metas}
            )

    media = docs.mapInPandas(make_jpeg, media_schema)
    out = decode_media(media)
    return out.select(
        "doc_id",
        "n_bytes",
        F.round(F.col("mean_byte"), 6).alias("mean_byte"),
        "max_byte",
        "width",
        "height",
        "n_channels",
    )


def q_multimodal_decode_jpeg_progressive(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """REAL progressive-JPEG decode (SOF2, T.81 Annex G: successive
    approximation + spectral selection, the significant-minority shape
    of real crawl JPEGs). The progressive encoder produces the exact
    same quantized coefficients as the baseline one, so the constant
    even-valued fixture decodes exactly and shares the baseline
    closed-form oracle; only the entropy-coded scan layout differs."""
    # media kernels are per-item Python work: spread the single-file scan
    # over the cluster's cores or mapInPandas runs on 1-2 input splits
    docs = load_table(spark, sf_dir, "documents").select("doc_id").repartition(
        spark.sparkContext.defaultParallelism
    )
    media_schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("media", T.BinaryType()),
            T.StructField("media_meta", MEDIA_META_SCHEMA),
        ]
    )

    def make_progressive(batches):
        import numpy as np
        import pandas as pd

        from trollflow2_spark.extensions.jpeg import encode_jpeg_progressive

        for pdf in batches:
            blobs, metas = [], []
            for d in pdf["doc_id"]:
                d = int(d)
                w, h = 8 * (d % 3 + 1), 8 * (d % 2 + 1)
                v = (d * 2) % 256
                blob = encode_jpeg_progressive(
                    np.full((h, w), v, dtype=np.uint8), quality=50
                )
                blobs.append(blob)
                metas.append(
                    {
                        "media_type": "image/jpeg",
                        "width": w,
                        "height": h,
                        "n_bytes": len(blob),
                    }
                )
            yield pd.DataFrame(
                {"doc_id": pdf["doc_id"], "media": blobs, "media_meta": metas}
            )

    media = docs.mapInPandas(make_progressive, media_schema)
    out = decode_media(media)  # the same real image/jpeg route
    return out.select(
        "doc_id",
        "n_bytes",
        F.round(F.col("mean_byte"), 6).alias("mean_byte"),
        "max_byte",
        "width",
        "height",
        "n_channels",
    )


def q_multimodal_decode_flac(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL FLAC decode through the repo's from-scratch codec
    (extensions/flac.py — fixed predictors, Rice residuals, CRC-verified
    frames). FLAC is LOSSLESS, so unlike the JPEG fixtures no
    even-value trickery is needed: deterministic ramp signals decode to
    exactly the encoded samples and every statistic is closed-form."""
    # media kernels are per-item Python work: spread the single-file scan
    # over the cluster's cores or mapInPandas runs on 1-2 input splits
    docs = load_table(spark, sf_dir, "documents").select("doc_id").repartition(
        spark.sparkContext.defaultParallelism
    )
    media_schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("media", T.BinaryType()),
            T.StructField("media_meta", MEDIA_META_SCHEMA),
        ]
    )

    def make_flac(batches):
        import numpy as np
        import pandas as pd

        from trollflow2_spark.extensions.flac import encode_flac

        for pdf in batches:
            blobs, metas = [], []
            for d in pdf["doc_id"]:
                d = int(d)
                base = d % 50
                n = 100 + (d % 7) * 10
                ch = 1 + d % 2
                ramp = base + np.arange(n, dtype=np.int64)
                samples = np.stack(
                    [ramp + 100 * c for c in range(ch)], axis=1
                )
                blob = encode_flac(
                    samples, sample_rate=8000, bits_per_sample=16,
                    block_size=64, subframe="fixed",
                )
                blobs.append(blob)
                metas.append(
                    {
                        "media_type": "audio/flac",
                        "width": 8000,
                        "height": n,
                        "n_bytes": len(blob),
                    }
                )
            yield pd.DataFrame(
                {"doc_id": pdf["doc_id"], "media": blobs, "media_meta": metas}
            )

    media = docs.mapInPandas(make_flac, media_schema)
    out = decode_media(media)  # the real audio/flac route
    return out.select(
        "doc_id",
        "n_bytes",
        F.round(F.col("mean_byte"), 6).alias("mean_byte"),
        "max_byte",
        "width",
        "height",
        "n_channels",
    )


def q_multimodal_decode_wav(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL audio decode: deterministic 16-bit PCM WAV files are written
    with the stdlib ``wave`` module executor-side, then ``decode_media``
    routes ``audio/wav`` through the real stdlib decoder — sample
    statistics and (rate, frames, channels) oracle-checked (the PCM ramp
    ``(doc_id*7 + i) % 201 - 100`` is SQL-expressible)."""
    # media kernels are per-item Python work: spread the single-file scan
    # over the cluster's cores or mapInPandas runs on 1-2 input splits
    docs = load_table(spark, sf_dir, "documents").select("doc_id").repartition(
        spark.sparkContext.defaultParallelism
    )
    media_schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("media", T.BinaryType()),
            T.StructField(
                "media_meta",
                T.StructType(
                    [
                        T.StructField("media_type", T.StringType()),
                        T.StructField("width", T.IntegerType()),
                        T.StructField("height", T.IntegerType()),
                        T.StructField("n_bytes", T.LongType()),
                    ]
                ),
            ),
        ]
    )

    def make_wav(batches):
        import io
        import wave

        import numpy as np
        import pandas as pd

        for pdf in batches:
            blobs, metas = [], []
            for d in pdf["doc_id"]:
                d = int(d)
                n = d % 50 + 10
                samples = (((d * 7 + np.arange(n)) % 201) - 100).astype("<i2")
                buf = io.BytesIO()
                with wave.open(buf, "wb") as wf:
                    wf.setnchannels(1)
                    wf.setsampwidth(2)
                    wf.setframerate(8000)
                    wf.writeframes(samples.tobytes())
                blob = buf.getvalue()
                blobs.append(blob)
                metas.append(
                    {
                        "media_type": "audio/wav",
                        "width": 8000,
                        "height": n,
                        "n_bytes": len(blob),
                    }
                )
            yield pd.DataFrame(
                {"doc_id": pdf["doc_id"], "media": blobs, "media_meta": metas}
            )

    media = docs.mapInPandas(make_wav, media_schema)
    out = decode_media(media)  # fake=False: the real audio/wav route
    return out.select(
        "doc_id",
        "n_bytes",
        F.round(F.col("mean_byte"), 6).alias("mean_byte"),
        "max_byte",
        "width",
        "height",
        "n_channels",
    )


def q_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame-sampling fan-out (video -> every Nth frame analog): one
    media row becomes one row per sampled byte via the vectorized
    mapInPandas kernel. Oracle: every 64th byte of the UTF-8 payload."""
    from trollflow2_spark.extensions.multimodal import frame_sample

    docs = load_table(spark, sf_dir, "documents")
    return frame_sample(attach_fake_media(docs), every_n_bytes=64, fake=True)


def q_frame_sample_tiff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL frame sampling: deterministic paged-TIFF containers (one
    page per frame — the motion-TIFF stand-in for video) are encoded
    executor-side, then ``frame_sample`` decodes every 2nd page through
    the stdlib TIFF codec and reports its max pixel; the per-frame ramp
    ``(doc_id*5 + f*7 + k) % 256`` is SQL-expressible."""
    from trollflow2_spark.extensions.multimodal import frame_sample

    # media kernels are per-item Python work: spread the single-file scan
    # over the cluster's cores or mapInPandas runs on 1-2 input splits
    docs = load_table(spark, sf_dir, "documents").select("doc_id").repartition(
        spark.sparkContext.defaultParallelism
    )
    media_schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("media", T.BinaryType()),
        ]
    )

    def make_paged_tiff(batches):
        import numpy as np
        import pandas as pd

        from trollflow2_spark.sinks.imagery import encode_geotiff

        for pdf in batches:
            blobs = []
            for d in pdf["doc_id"]:
                d = int(d)
                n_frames = d % 6 + 2
                pages = [
                    ((d * 5 + f * 7 + np.arange(20)) % 256)
                    .astype(np.uint8)
                    .reshape(4, 5)
                    for f in range(n_frames)
                ]
                blobs.append(encode_geotiff(pages[0], overviews=pages[1:]))
            yield pd.DataFrame({"doc_id": pdf["doc_id"], "media": blobs})

    media = docs.mapInPandas(make_paged_tiff, media_schema)
    return frame_sample(media, every_n_frames=2)  # fake=False: real decode


def q_frame_sample_pnm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL concatenated-netpbm frame sampling (the ``ffmpeg -f
    image2pipe`` raw-video shape): back-to-back P5 frames split by
    header parsing, every 2nd frame sampled; the per-frame ramp
    ``(doc_id*3 + f*11 + k) % 256`` over 12 pixels is
    SQL-expressible."""
    from trollflow2_spark.extensions.multimodal import frame_sample

    docs = load_table(spark, sf_dir, "documents").select("doc_id").repartition(
        spark.sparkContext.defaultParallelism
    )
    media_schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("media", T.BinaryType()),
        ]
    )

    def make_stream(batches):
        import numpy as np
        import pandas as pd

        from trollflow2_spark.extensions.bmp import encode_pnm

        for pdf in batches:
            blobs = []
            for d in pdf["doc_id"]:
                d = int(d)
                n_frames = d % 5 + 2
                blobs.append(
                    b"".join(
                        encode_pnm(
                            ((d * 3 + f * 11 + np.arange(12)) % 256)
                            .astype(np.uint8).reshape(3, 4)
                        )
                        for f in range(n_frames)
                    )
                )
            yield pd.DataFrame({"doc_id": pdf["doc_id"], "media": blobs})

    media = docs.mapInPandas(make_stream, media_schema)
    return frame_sample(media, every_n_frames=2)  # fake=False: real route


def q_frame_sample_mjpeg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL MJPEG frame sampling: concatenated baseline-JPEG frames
    (the motion-JPEG container) split on SOI markers and decoded through
    the repo's own T.81 codec. Constant even-valued frames decode
    losslessly, so each sampled frame's max pixel is closed-form."""
    from trollflow2_spark.extensions.multimodal import frame_sample

    # media kernels are per-item Python work: spread the single-file scan
    # over the cluster's cores or mapInPandas runs on 1-2 input splits
    docs = load_table(spark, sf_dir, "documents").select("doc_id").repartition(
        spark.sparkContext.defaultParallelism
    )
    media_schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("media", T.BinaryType()),
        ]
    )

    def make_mjpeg(batches):
        import numpy as np
        import pandas as pd

        from trollflow2_spark.extensions.jpeg import encode_jpeg_gray

        for pdf in batches:
            blobs = []
            for d in pdf["doc_id"]:
                d = int(d)
                n_frames = d % 6 + 2
                blobs.append(
                    b"".join(
                        encode_jpeg_gray(
                            np.full((8, 8), (d * 2 + f * 4) % 256, dtype=np.uint8),
                            quality=50,
                        )
                        for f in range(n_frames)
                    )
                )
            yield pd.DataFrame({"doc_id": pdf["doc_id"], "media": blobs})

    media = docs.mapInPandas(make_mjpeg, media_schema)
    return frame_sample(media, every_n_frames=2)  # fake=False: real decode


def q_frame_sample_webp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL animated-WebP frame sampling: VP8X+ANMF containers with
    lossless VP8L frames built executor-side by the repo's own codec,
    then every 2nd frame decoded back through it — lossless, so each
    sampled frame's max pixel is closed-form."""
    from trollflow2_spark.extensions.multimodal import frame_sample

    docs = load_table(spark, sf_dir, "documents").select("doc_id").repartition(
        spark.sparkContext.defaultParallelism
    )
    media_schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("media", T.BinaryType()),
        ]
    )

    def make_anim(batches):
        import numpy as np
        import pandas as pd

        from trollflow2_spark.extensions.webp import encode_webp_animation

        for pdf in batches:
            blobs = []
            for d in pdf["doc_id"]:
                d = int(d)
                n_frames = d % 5 + 2
                frames = [
                    np.full((6, 9), (d * 7 + f * 13) % 256, dtype=np.uint8)
                    for f in range(n_frames)
                ]
                blobs.append(encode_webp_animation(frames))
            yield pd.DataFrame({"doc_id": pdf["doc_id"], "media": blobs})

    media = docs.mapInPandas(make_anim, media_schema)
    return frame_sample(media, every_n_frames=2)  # fake=False: real decode


def q_multimodal_decode_webp_lossy(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """REAL lossy-WebP (VP8 keyframe) decode: single-macroblock streams
    with one Y2 DC level ``doc_id % 9 - 4`` at quantizer index 40 are
    built executor-side by the repo's own VP8 encoder, then
    ``decode_media`` routes ``image/webp`` through the from-scratch VP8
    decoder (boolean decoder, token trees, WHT/DCT, intra prediction,
    loop filter — conformance-pinned bit-exact against libwebp's YUV in
    tests). DC-only constant frames reconstruct in closed form, so the
    decoded RGB constant is SQL-computable from the quantizer math."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id").repartition(
        spark.sparkContext.defaultParallelism
    )
    media_schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("media", T.BinaryType()),
            T.StructField("media_meta", MEDIA_META_SCHEMA),
        ]
    )

    def make_vp8(batches):
        import pandas as pd

        from trollflow2_spark.extensions.vp8 import encode_vp8_i16, wrap_webp

        for pdf in batches:
            blobs, metas = [], []
            for d in pdf["doc_id"]:
                d = int(d)
                blob = wrap_webp(
                    encode_vp8_i16([d % 9 - 4], 1, 1, 16, 16, qi=40)
                )
                blobs.append(blob)
                metas.append(
                    {
                        "media_type": "image/webp",
                        "width": 16,
                        "height": 16,
                        "n_bytes": len(blob),
                    }
                )
            yield pd.DataFrame(
                {"doc_id": pdf["doc_id"], "media": blobs, "media_meta": metas}
            )

    media = docs.mapInPandas(make_vp8, media_schema)
    out = decode_media(media)  # fake=False: the real image/webp route
    return out.select(
        "doc_id",
        "n_bytes",
        F.round(F.col("mean_byte"), 6).alias("mean_byte"),
        "max_byte",
        "width",
        "height",
        "n_channels",
    )


def q_multimodal_decode_gif(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL GIF decode: deterministic gray images (pixel ramp
    ``(doc_id*11 + k) % 256``) are encoded with the repo's from-scratch
    GIF89a encoder executor-side — odd doc_ids interlaced (the 8/8/4/2
    four-pass row order), even doc_ids sequential — then ``decode_media``
    routes ``image/gif`` through the from-scratch LZW decoder. The
    identity gray palette makes decode exact, so the stats are
    closed-form over the ramp."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id").repartition(
        spark.sparkContext.defaultParallelism
    )
    media_schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("media", T.BinaryType()),
            T.StructField("media_meta", MEDIA_META_SCHEMA),
        ]
    )

    def make_gif(batches):
        import numpy as np
        import pandas as pd

        from trollflow2_spark.extensions.gif import encode_gif

        for pdf in batches:
            blobs, metas = [], []
            for d in pdf["doc_id"]:
                d = int(d)
                w, h = d % 7 + 2, d % 4 + 2
                px = ((d * 11 + np.arange(w * h)) % 256).astype(
                    np.uint8
                ).reshape(h, w)
                blob = encode_gif(px, interlace=bool(d % 2))
                blobs.append(blob)
                metas.append(
                    {
                        "media_type": "image/gif",
                        "width": w,
                        "height": h,
                        "n_bytes": len(blob),
                    }
                )
            yield pd.DataFrame(
                {"doc_id": pdf["doc_id"], "media": blobs, "media_meta": metas}
            )

    media = docs.mapInPandas(make_gif, media_schema)
    out = decode_media(media)  # fake=False: the real image/gif route
    return out.select(
        "doc_id",
        "n_bytes",
        F.round(F.col("mean_byte"), 6).alias("mean_byte"),
        "max_byte",
        "width",
        "height",
        "n_channels",
    )


def q_frame_sample_gif(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL animated-GIF frame sampling: GIF89a streams with per-frame
    Graphic Control Extensions and changed-bounding-box sub-rectangle
    storage (disposal=1) built executor-side by the repo's own encoder,
    then every 2nd frame composited back through the decoder — the
    identity gray palette keeps each composited canvas exact, so the
    sampled maxima are the constants the fixture painted."""
    from trollflow2_spark.extensions.multimodal import frame_sample

    docs = load_table(spark, sf_dir, "documents").select("doc_id").repartition(
        spark.sparkContext.defaultParallelism
    )
    media_schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("media", T.BinaryType()),
        ]
    )

    def make_anim(batches):
        import numpy as np
        import pandas as pd

        from trollflow2_spark.extensions.gif import encode_gif_animation

        for pdf in batches:
            blobs = []
            for d in pdf["doc_id"]:
                d = int(d)
                n_frames = d % 5 + 2
                frames = [
                    np.full((5, 8), (d * 3 + f * 17) % 256, dtype=np.uint8)
                    for f in range(n_frames)
                ]
                blobs.append(encode_gif_animation(frames))
            yield pd.DataFrame({"doc_id": pdf["doc_id"], "media": blobs})

    media = docs.mapInPandas(make_anim, media_schema)
    return frame_sample(media, every_n_frames=2)  # fake=False: real decode


def q_multimodal_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Resize plumbing (binary in, binary out, metadata rescaled) with
    the deterministic stand-in kernel. Binary output column => rows-only
    check; the metadata columns are projected for visibility."""
    from trollflow2_spark.extensions.multimodal import resize_media

    docs = load_table(spark, sf_dir, "documents")
    out = resize_media(attach_fake_media(docs), target=(64, 64), fake=True)
    return out.select(
        "doc_id",
        F.col("media_meta.width").alias("width"),
        F.col("media_meta.height").alias("height"),
        F.col("media_meta.n_bytes").alias("n_bytes"),
        F.length("media").alias("payload_bytes"),
    )


def q_dataset_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic train/val/test assignment by portable id-hash —
    reproducible across engines, runs, and cluster sizes (the property
    randomSplit cannot give). Map-side only; no shuffle."""
    from trollflow2_spark.extensions.sampling import deterministic_split

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "source")
    return deterministic_split(
        docs, dict(C.SPLIT_FRACS), seed=C.SPLIT_SEED
    ).select("doc_id", "source", "split")


def q_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source keep rates (mixture weighting): downsample some strata,
    drop others, keep the rest — a pure Column predicate evaluated
    map-side in the scan stage (no shuffle)."""
    from trollflow2_spark.extensions.sampling import stratified_sample

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "source")
    return stratified_sample(
        docs,
        dict(C.SAMPLE_RATES),
        default_rate=C.SAMPLE_DEFAULT_RATE,
        seed=C.SAMPLE_SEED,
    )


def q_global_shuffle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic global shuffle position for every doc — computed
    with bucketed parallel windows (no global row_number funnel); the
    oracle replays it as the plain global ordinal it equals."""
    from trollflow2_spark.extensions.sampling import global_shuffle

    # media kernels are per-item Python work: spread the single-file scan
    # over the cluster's cores or mapInPandas runs on 1-2 input splits
    docs = load_table(spark, sf_dir, "documents").select("doc_id").repartition(
        spark.sparkContext.defaultParallelism
    )
    return global_shuffle(docs, seed=C.SHUFFLE_SEED).select(
        "doc_id", "shuffle_pos"
    )


def q_interleave_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted-fair interleave of sources (stride scheduling): per-source
    hash rank -> mixture sort key. Weight-0 sources drop out."""
    from trollflow2_spark.extensions.sampling import interleave_sources

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "source")
    return interleave_sources(
        docs, dict(C.MIX_WEIGHTS), seed=C.SHUFFLE_SEED,
        default_weight=C.MIX_DEFAULT_WEIGHT,
    ).select("doc_id", "source", "src_rank", "mix_key")


def q_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-budget sequence packing: per-shard window cumsum assigns
    each doc a bin targeting PACK_BUDGET tokens (concat-then-chunk
    semantics). Shards keep the window partitioned — nothing global."""
    from trollflow2_spark.extensions.sampling import pack_sequences
    from trollflow2_spark.extensions.text import token_count

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", token_count(F.col("text")).cast("bigint").alias("n_tokens")
    )
    out = pack_sequences(
        docs,
        budget=C.PACK_BUDGET,
        token_col="n_tokens",
        n_shards=C.PACK_SHARDS,
        seed=C.PACK_SEED,
    )
    return out.select("doc_id", "n_tokens", "shard", "bin", "cum_tokens")


def _contam_parts(spark: SparkSession, sf_dir: str, plant: bool = False):
    """Held-out / corpus split of `documents`. With ``plant=True`` a
    deterministic subset of the held-out docs is re-injected into the
    corpus under shifted ids — a known-leak fixture so the contamination
    contract queries return non-empty, value-checkable results (the
    synthetic corpus has no organic verbatim overlap)."""
    docs = load_table(spark, sf_dir, "documents")
    held = docs.filter(F.col("doc_id") % C.CONTAM_MOD == C.CONTAM_RESIDUE)
    corpus = docs.filter(F.col("doc_id") % C.CONTAM_MOD != C.CONTAM_RESIDUE)
    if plant:
        leak = held.filter(
            (F.col("doc_id") / C.CONTAM_MOD).cast("long") % C.CONTAM_PLANT_MOD
            == 0
        ).withColumn("doc_id", F.col("doc_id") + F.lit(C.CONTAM_PLANT_ID_SHIFT))
        corpus = corpus.unionByName(leak)
    return corpus, held


def q_text_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Intra-document repetition signals (duplicate-line fraction,
    top-bigram share) — the boilerplate/template-spam quality filters."""
    from trollflow2_spark.extensions.text import repetition_features

    docs = load_table(spark, sf_dir, "documents")
    return repetition_features(docs)


def q_bm25_retrieval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Okapi BM25 corpus retrieval for a fixed query (Lucene idf form,
    micro-unit-summed so float order can't drift the score): the
    full-text ranking primitive behind RAG candidate retrieval and
    query-directed triage. One (doc, term) aggregation + window doc
    length; query df and corpus stats broadcast."""
    from trollflow2_spark.extensions.text import bm25_scores

    docs = load_table(spark, sf_dir, "documents")
    return bm25_scores(
        docs, C.BM25_TERMS, k1=C.BM25_K1, b=C.BM25_B
    )


def q_bm25_multi_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-query BM25 — the serving shape: a broadcast (query_id,
    term) table scores THREE queries in one corpus pass (real RAG/eval
    sweeps score thousands; one corpus re-scan per query is the wrong
    plan at 100 TB). Document frequencies are computed once over the
    distinct query terms and shared across queries; the corpus side
    shuffles exactly twice (term counts, (query_id, doc) rollup) no
    matter how many queries ride along. Query 0 is the single-query
    contract's term set, so ``bm25_retrieval`` is a projection of this
    result (pinned by tests/test_extensions.py)."""
    from trollflow2_spark.extensions.text import bm25_scores_multi

    docs = load_table(spark, sf_dir, "documents")
    return bm25_scores_multi(
        docs, C.BM25_MULTI, k1=C.BM25_K1, b=C.BM25_B
    )


def q_hybrid_multi_retrieval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-query hybrid retrieval: BM25 and dense cosine candidates
    for THREE (term set, query vector) pairs in one pass each, fused
    per query by reciprocal-rank fusion. Both rankers produce
    per-query top-k via the salted two-stage window (exact: stage 1
    keeps k per (query, hash-sub-bucket), stage 2 ranks the bounded
    survivors) so a handful of queries never funnels the corpus
    through single hot partitions; the fuse is a full-outer join of
    two (nq x k)-row sides on (query_id, doc_id)."""
    from trollflow2_spark.extensions.similarity import cosine
    from trollflow2_spark.extensions.text import bm25_scores_multi
    from trollflow2_spark.extensions.windows import topk_per_group

    docs = load_table(spark, sf_dir, "documents")
    emb = load_table(spark, sf_dir, "embeddings")
    k0, k = C.RRF_K0, C.RRF_TOPK

    bm_r = topk_per_group(
        bm25_scores_multi(docs, C.BM25_MULTI, k1=C.BM25_K1, b=C.BM25_B),
        ["query_id"],
        [F.desc("score"), F.col("doc_id").asc()],
        k,
        rank_col="bm25_rank",
        salt_col="doc_id",
        salt_buckets=C.TOPK_SALT_BUCKETS,
    ).select("query_id", "doc_id", "bm25_rank")

    qmap = spark.createDataFrame(
        list(C.HYBRID_VECS), "query_id int, __qvid bigint"
    )
    from trollflow2_spark.extensions.similarity import _dot, _norm

    qv = F.broadcast(
        qmap.join(emb, qmap["__qvid"] == emb["vec_id"]).select(
            "query_id",
            "__qvid",
            F.col("embedding").alias("__q"),
            _norm(F.col("embedding")).alias("__qn"),
        )
    )
    # norms hoisted above the join (bit-identical to cosine())
    scored = (
        emb.withColumn("__vn", _norm(F.col("embedding")))
        .crossJoin(qv)
        .filter(F.col("vec_id") != F.col("__qvid"))
        .select(
            "query_id",
            F.col("vec_id").alias("doc_id"),
            F.round(
                _dot(F.col("embedding"), F.col("__q"))
                / (F.col("__vn") * F.col("__qn")),
                6,
            ).alias("cos"),
        )
    )
    cs_r = topk_per_group(
        scored,
        ["query_id"],
        [F.desc("cos"), F.col("doc_id").asc()],
        k,
        rank_col="cos_rank",
        salt_col="doc_id",
        salt_buckets=C.TOPK_SALT_BUCKETS,
    ).select("query_id", "doc_id", "cos_rank")

    fused = bm_r.join(cs_r, ["query_id", "doc_id"], "full")
    rrf = F.round(
        F.coalesce(F.lit(1.0) / (F.lit(k0) + F.col("bm25_rank")), F.lit(0.0))
        + F.coalesce(F.lit(1.0) / (F.lit(k0) + F.col("cos_rank")), F.lit(0.0)),
        6,
    )
    return fused.select(
        "query_id", "doc_id", "bm25_rank", "cos_rank", rrf.alias("rrf_score")
    )


def q_domain_quality_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Domain-LEVEL quality gating (the RefinedWeb move: judge the
    site, not just the page): per-doc quality scores roll up to a
    per-registrable-domain mean — integer micro-unit sums, so the mean
    is float-drift-free — and every doc of a below-threshold domain is
    gated, including its individually-fine pages (content farms emit
    plausible pages; the SITE is the signal). Domains come through the
    same planted messy-URL canonicalize -> PSL chain as group_split.
    One hash agg to domain grain (k rows) joined back onto the
    per-doc stream. The verdict side is NOT hint-forced to broadcast:
    registrable-domain cardinality grows with the corpus (~1e7 at
    crawl scale — (domain, double) rows at 1e7-1e8 is a multi-GB
    broadcast), so AQE decides at runtime from the agg's ACTUAL size —
    broadcast when small, shuffled join fallback when not (plan-pinned
    both ways in tests/test_plans.py)."""
    from trollflow2_spark.extensions.text import quality_features
    from trollflow2_spark.extensions.warc import (
        canonicalize_url,
        host_of_url,
        registrable_domain,
    )

    m = (F.col("doc_id") % 50).cast("string")
    s = F.col("doc_id") % 4
    did = F.col("doc_id").cast("string")
    url = (
        F.when(
            s == 0,
            F.concat(
                F.lit("https://www.site"), m, F.lit(".co.uk/p/"), did,
                F.lit("?utm_source=x&b=2#frag"),
            ),
        )
        .when(
            s == 1,
            F.concat(F.lit("http://site"), m, F.lit(".co.uk:80/p?b=2&a=1")),
        )
        .when(
            s == 2,
            F.concat(F.lit("https://a.b.site"), m, F.lit(".co.uk/q")),
        )
        .otherwise(F.concat(F.lit("HTTPS://SITE"), m, F.lit(".CO.UK#x")))
    )
    docs = load_table(spark, sf_dir, "documents")
    dom = docs.select(
        "doc_id",
        registrable_domain(host_of_url(canonicalize_url(url))).alias(
            "domain"
        ),
    )
    q = quality_features(docs).select(
        "doc_id",
        F.round(F.col("quality_score") * F.lit(1000000.0))
        .cast("bigint")
        .alias("qm"),
    )
    per_dom = (
        dom.join(q, "doc_id")
        .groupBy("domain")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("qm").alias("qs"),
        )
        .select(
            "domain",
            F.round(
                F.col("qs").cast("double")
                / F.col("n_docs").cast("double")
                / F.lit(1000000.0),
                6,
            ).alias("domain_q"),
        )
    )
    return dom.join(per_dom, "domain").select(
        "doc_id",
        "domain",
        "domain_q",
        F.when(
            F.col("domain_q") >= C.DOMAIN_Q_THRESHOLD, 1
        )
        .otherwise(0)
        .alias("keep"),
    )


def q_retrieval_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IR evaluation (`extensions/rerank.py:retrieval_metrics`):
    recall@10 / MRR / nDCG@10 per query — the scored readout that
    closes the BM25/hybrid/rerank loop, as `binary_metrics` does for
    classifiers. Fixture: 10 queries with a deterministic 20-deep
    ranking ((q*37 + 13r) % 500) against graded gold sets
    (doc_id % 50 == q, grade 1 + doc_id % 3); DCG and IDCG fold in
    pinned order on both engines."""
    from trollflow2_spark.extensions.rerank import retrieval_metrics

    nat = load_table(spark, sf_dir, "nation").where(
        F.col("n_nationkey") < 10
    )
    qid = F.col("n_nationkey").cast("long")
    ranked = nat.select(
        qid.alias("query_id"),
        F.explode(F.sequence(F.lit(1), F.lit(20))).alias("rank"),
    ).select(
        "query_id",
        "rank",
        ((F.col("query_id") * 37 + F.col("rank") * 13) % 500).alias(
            "doc_id"
        ),
    )
    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    gold = docs.where(F.col("doc_id") % 50 <= 9).select(
        (F.col("doc_id") % 50).alias("query_id"),
        "doc_id",
        (1 + F.col("doc_id") % 3).alias("grade"),
    )
    return retrieval_metrics(ranked, gold, k=10)


def q_rerank_retrieval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The retrieve -> rerank serving shape: hybrid RRF fusion proposes
    a k-bounded candidate set per query, and only THOSE rows pay the
    expensive second-stage scorer (in production a cross-encoder over
    ``mapInPandas``; here a deterministic lexical proxy so the whole
    chain is value-checkable: per-mille term coverage dominating a
    first-occurrence proximity bonus, all integers). The candidate set
    (nq x 2k rows) BROADCASTS to the doc-text join — the corpus is
    never rescanned wider than the id semi-join — and the final rank
    is a per-query window over <= 2k rows. The scorer rides the
    REGISTERED seam (extensions/rerank.py): the candidate plan is
    scorer-independent, so a production cross-encoder (mapInPandas
    over the same bounded set) slots in by name without touching it.
    The oracle replays hybrid fusion AND the rerank arithmetic."""
    from trollflow2_spark.extensions.rerank import candidate_text, rerank

    docs = load_table(spark, sf_dir, "documents")
    cand = q_hybrid_multi_retrieval(spark, sf_dir).select(
        "query_id", "doc_id", "rrf_score"
    )
    terms = spark.createDataFrame(
        [(qid, t) for qid, ts in C.BM25_MULTI for t in ts],
        "query_id int, term string",
    )
    out = rerank(
        candidate_text(docs, cand), scorer="lexical_proxy", terms=terms
    )
    return out.select(
        "query_id",
        "doc_id",
        "rrf_score",
        "n_present",
        "bonus",
        "rerank_score",
        "rerank_rank",
    )


def q_group_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leakage-safe train/val/test assignment keyed on the REAL
    production domain chain: planted messy URLs (www/subdomain
    prefixes, default ports, uppercase, tracking params, fragments)
    run through ``canonicalize_url -> host_of_url ->
    registrable_domain`` (PSL-aware eTLD+1), and the split hashes THAT
    group key — so every document of a registrable domain, however its
    URLs are spelled, lands in one split; near-dups within a site can
    never straddle the eval boundary (the failure mode
    split_leakage_audit detects after the fact, prevented up front).
    The whole chain is pure Column regexp algebra + the same map-side
    bucket predicate as deterministic_split: zero shuffle. The oracle
    replays canonicalization, the PSL rule, and the bucket arithmetic
    in SQL over the same planted URLs."""
    from trollflow2_spark.extensions.sampling import deterministic_split
    from trollflow2_spark.extensions.warc import (
        canonicalize_url,
        host_of_url,
        registrable_domain,
    )

    m = (F.col("doc_id") % 50).cast("string")
    s = F.col("doc_id") % 4
    did = F.col("doc_id").cast("string")
    url = (
        F.when(
            s == 0,
            F.concat(
                F.lit("https://www.site"), m, F.lit(".co.uk/p/"), did,
                F.lit("?utm_source=x&b=2#frag"),
            ),
        )
        .when(
            s == 1,
            F.concat(F.lit("http://site"), m, F.lit(".co.uk:80/p?b=2&a=1")),
        )
        .when(
            s == 2,
            F.concat(F.lit("https://a.b.site"), m, F.lit(".co.uk/q")),
        )
        .otherwise(F.concat(F.lit("HTTPS://SITE"), m, F.lit(".CO.UK#x")))
    )
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        registrable_domain(host_of_url(canonicalize_url(url))).alias(
            "domain"
        ),
    )
    return deterministic_split(
        docs,
        dict(C.SPLIT_FRACS),
        id_col="domain",
        seed=C.SPLIT_SEED,
    )


def q_hybrid_retrieval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid lexical+dense retrieval capstone: BM25 top-k and
    embedding-cosine top-k fused by reciprocal-rank fusion
    (Cormack et al., score = sum 1/(k0 + rank)). Both candidate lists
    come from DISTRIBUTED top-k (orderBy+limit plans as
    TakeOrderedAndProject — no single-partition window over the
    corpus); ranks attach on the k-row results, and the fuse is a
    full-outer join of two k-row sides."""
    from trollflow2_spark.extensions.similarity import cosine
    from trollflow2_spark.extensions.text import bm25_scores

    docs = load_table(spark, sf_dir, "documents")
    emb = load_table(spark, sf_dir, "embeddings")
    k0, k = C.RRF_K0, C.RRF_TOPK

    bm_top = (
        bm25_scores(docs, C.BM25_TERMS, k1=C.BM25_K1, b=C.BM25_B)
        .orderBy(F.desc("score"), "doc_id")
        .limit(k)
    )
    w = Window.orderBy(F.desc("score"), "doc_id")  # k rows only
    bm_r = bm_top.select(
        "doc_id", F.row_number().over(w).alias("bm25_rank")
    )

    from trollflow2_spark.extensions.similarity import _dot, _norm

    qv = emb.where(F.col("vec_id") == C.RRF_QUERY_VEC).select(
        F.col("embedding").alias("__q"),
        _norm(F.col("embedding")).alias("__qn"),
    )
    cs_top = (
        emb.where(F.col("vec_id") != C.RRF_QUERY_VEC)
        .withColumn("__vn", _norm(F.col("embedding")))
        .crossJoin(F.broadcast(qv))
        .select(
            F.col("vec_id").alias("doc_id"),
            F.round(
                _dot(F.col("embedding"), F.col("__q"))
                / (F.col("__vn") * F.col("__qn")),
                6,
            ).alias("cos"),
        )
        .orderBy(F.desc("cos"), "doc_id")
        .limit(k)
    )
    wc = Window.orderBy(F.desc("cos"), "doc_id")
    cs_r = cs_top.select(
        "doc_id", F.row_number().over(wc).alias("cos_rank")
    )

    fused = bm_r.join(cs_r, "doc_id", "full")
    rrf = F.round(
        F.coalesce(F.lit(1.0) / (F.lit(k0) + F.col("bm25_rank")), F.lit(0.0))
        + F.coalesce(F.lit(1.0) / (F.lit(k0) + F.col("cos_rank")), F.lit(0.0)),
        6,
    )
    return fused.select("doc_id", "bm25_rank", "cos_rank", rrf.alias("rrf_score"))


def q_gopher_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher document-quality rule audit over the raw corpus:
    per-rule metrics plus the conjunctive keep flag (thresholds
    corpus-tuned per qconst; the synthetic text carries only 'the'
    from the required-stop-word list, so min_stop_hits=1)."""
    from trollflow2_spark.extensions.text import gopher_rules

    docs = load_table(spark, sf_dir, "documents")
    return gopher_rules(
        docs,
        min_words=C.GOPHER_MIN_WORDS,
        max_words=C.GOPHER_MAX_WORDS,
        min_mean_word_len=C.GOPHER_MIN_MWL,
        max_mean_word_len=C.GOPHER_MAX_MWL,
        max_symbol_ratio=C.GOPHER_MAX_SYMBOL,
        max_bullet_ratio=C.GOPHER_MAX_BULLET,
        max_ellipsis_ratio=C.GOPHER_MAX_ELLIPSIS,
        min_alpha_ratio=C.GOPHER_MIN_ALPHA,
        min_stop_hits=C.GOPHER_MIN_STOP,
    )


def q_c4_line_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4-style line cleaning over a line-structured fixture: doc text
    re-lined into 8-token pseudo-lines whose closed-form suffixes
    exercise every rule (terminal punct, min words, javascript tell,
    curly brace); the operator is pure higher-order Column work in the
    scan stage — zero shuffles, zero Python."""
    from trollflow2_spark.extensions.text import c4_line_filter
    from trollflow2_spark.extensions.hashing import tokens

    docs = load_table(spark, sf_dir, "documents")
    toks = tokens(F.col("text"))
    n_lines = F.ceil(F.size(toks) / C.C4_LINE_TOKENS).cast("bigint")

    def mk_line(i):
        sfx = (
            F.when((F.col("doc_id") + i) % 5 == 0, F.lit("."))
            .when((F.col("doc_id") + i) % 5 == 1, F.lit(""))
            .when(
                (F.col("doc_id") + i) % 5 == 2,
                F.lit(" javascript enabled."),
            )
            .when((F.col("doc_id") + i) % 5 == 3, F.lit(" {x}."))
            .otherwise(F.lit("!"))
        )
        return F.concat(
            F.array_join(
                F.slice(toks, (i * C.C4_LINE_TOKENS + 1).cast("int"),
                        C.C4_LINE_TOKENS),
                " ",
            ),
            sfx,
        )

    # n_lines=0 (empty/whitespace-only doc) must yield ZERO lines:
    # an unguarded F.sequence(0, -1) infers step -1 and fabricates
    # two garbage lines where the oracle's range(0) emits none.
    line_idx = F.when(
        n_lines > 0, F.sequence(F.lit(0).cast("bigint"), n_lines - 1)
    ).otherwise(F.array().cast("array<bigint>"))
    lined = docs.select(
        "doc_id",
        F.array_join(F.transform(line_idx, mk_line), "\n").alias("text"),
    )
    return c4_line_filter(
        lined, min_words=C.C4_MIN_WORDS, min_kept_lines=C.C4_MIN_LINES
    )


def q_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-weighted without-replacement sampling, k per source
    (Efraimidis-Spirakis keys u^(1/w) over the portable hash — no RNG
    state, every engine/retry selects the same rows). Weight fixture:
    (doc_id % 10) + 1."""
    from trollflow2_spark.extensions.sampling import weighted_sample_topk

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        "source",
        ((F.col("doc_id") % 10) + 1).cast("double").alias("weight"),
    )
    return weighted_sample_topk(
        docs,
        "weight",
        C.WSAMPLE_K,
        strata_col="source",
        id_col="doc_id",
        seed=C.WSAMPLE_SEED,
        round_digits=C.WSAMPLE_ROUND,
    )


def q_tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc characteristic terms by tf-idf (two hash aggs + broadcast
    df join + per-doc top-n window, deterministic term ties)."""
    from trollflow2_spark.extensions.text import tfidf_top_terms

    docs = load_table(spark, sf_dir, "documents")
    return tfidf_top_terms(docs, top_n=C.TFIDF_TOP_N)


def q_vocab_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-k corpus vocabulary with term and doc frequencies
    (TakeOrderedAndProject — no global sort)."""
    from trollflow2_spark.extensions.text import vocab_topk

    docs = load_table(spark, sf_dir, "documents")
    return vocab_topk(docs, k=C.VOCAB_TOPK)


def q_unigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perplexity-style quality score: per-doc mean unigram
    log-probability under a corpus-fit additive-smoothed LM with a
    top-k vocabulary and a single OOV mass — the cheap cousin of KenLM
    filtering every pretraining pipeline runs. Broadcast model,
    map-side scoring; only vocabulary-sized data ever shuffles."""
    from trollflow2_spark.extensions.text import unigram_logprob

    docs = load_table(spark, sf_dir, "documents")
    return unigram_logprob(
        docs, vocab_k=C.UNIGRAM_VOCAB_K, alpha=C.UNIGRAM_ALPHA
    )


def q_quality_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered quality filter chain with per-doc reject reasons (the
    corpus-shipping audit trail)."""
    from trollflow2_spark.extensions.text import quality_filter

    docs = load_table(spark, sf_dir, "documents")
    return quality_filter(docs)


def q_sft_chat_masks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SFT data assembly: (prompt, response) pairs — carved closed-form
    out of each document's token stream — become chat-templated
    sequences with LOSS MASKS (loss on response + end marker only),
    under the standard fit policy: response always survives, prompt
    left-truncates into the leftover budget, response-overflow drops
    with an accounted reason. Pure-Column scan-stage work; the oracle
    replays tokenization, slicing, the mask string and both digests
    verbatim."""
    from trollflow2_spark.extensions.sampling import sft_chat_masks
    from trollflow2_spark.extensions.hashing import tokens

    docs = load_table(spark, sf_dir, "documents")
    toks = tokens(F.col("text"))
    p = (3 + F.col("doc_id") % 10).cast("int")
    r = (1 + F.col("doc_id") % 20).cast("int")
    pairs = docs.select(
        "doc_id",
        F.array_join(F.slice(toks, F.lit(1), p), " ").alias("prompt"),
        F.array_join(F.slice(toks, p + 1, r), " ").alias("response"),
    )
    return sft_chat_masks(pairs, max_len=C.SFT_MAX_LEN)


def q_dpo_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Preference-pair assembly for DPO/RLHF: (prompt, chosen,
    rejected) triples carved closed-form from the document token
    stream become marker-templated sequence pairs sharing ONE prompt
    truncation (budgeted by the longer response), with the two
    accounted drop reasons — response overflow and the length-skew
    verbosity-bias gate (integer per-mille ratio). The oracle replays
    slicing, both gates and both sequence digests."""
    from trollflow2_spark.extensions.sampling import dpo_pairs
    from trollflow2_spark.extensions.hashing import tokens

    docs = load_table(spark, sf_dir, "documents")
    toks = tokens(F.col("text"))
    p = (3 + F.col("doc_id") % 10).cast("int")
    c = (1 + F.col("doc_id") % 12).cast("int")
    r = (1 + (F.col("doc_id") * 7) % 15).cast("int")
    triples = docs.select(
        "doc_id",
        F.array_join(F.slice(toks, F.lit(1), p), " ").alias("prompt"),
        F.array_join(F.slice(toks, p + 1, c), " ").alias("chosen"),
        F.array_join(F.slice(toks, p + c + 1, r), " ").alias("rejected"),
    )
    return dpo_pairs(
        triples,
        max_len=C.SFT_MAX_LEN,
        min_len_ratio_permille=C.DPO_MIN_RATIO_PERMILLE,
    )


def q_kmeans_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed Lloyd's k-means TRAINED ON THE FULL CORPUS — the
    third member of the iterative-trainer tier (bpe_train,
    logreg_train): vectors quantize once to integer micro-units into a
    checkpointed narrow table, and every Lloyd iteration is ONE
    map-side-combinable aggregation collecting only the k x dim
    centroid means (shuffle volume independent of corpus size).
    Distances are EXACT bigint sums, argmin ties break to the lowest
    cell, centroid means re-round to micro-units, empty cells carry
    their previous centroid — so the oracle replays all iterations in
    unrolled SQL (relational centroid CTEs, no Python-trained
    literals) and the final (cell, dist_q) assignment is value-exact."""
    from trollflow2_spark.extensions.similarity import (
        kmeans_train_distributed,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    return kmeans_train_distributed(
        emb, k=C.KMEANS_TRAIN_K, iters=C.KMEANS_TRAIN_ITERS
    )


def q_logreg_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed logistic-regression training end-to-end: heuristic
    quality labels (the same bootstrap as ``classifier_quality_filter``)
    + hashed token-bucket count features, fit by LOGREG_ITERS full-batch
    gradient-descent steps where each step is ONE map-side-combinable
    aggregation over the cached narrow feature table, then the corpus
    is scored with the learned weights. The iterative learner the NB
    tier cannot express — and the oracle replays EVERY GD iteration in
    unrolled SQL (micro-unit integer gradient sums, re-rounded weights,
    identical double expression text), so the final per-doc scores are
    value-exact with no Python-trained literals."""
    from trollflow2_spark.extensions.classify import logreg_train_score
    from trollflow2_spark.extensions.text import quality_features

    docs = load_table(spark, sf_dir, "documents")
    labeled = quality_features(docs, extra_cols=["text"]).select(
        "doc_id",
        "text",
        F.when(F.col("quality_score") >= C.LOGREG_LABEL_THRESHOLD, 1)
        .otherwise(0)
        .alias("y"),
    )
    return logreg_train_score(
        labeled,
        label_col="y",
        dim=C.LOGREG_DIM,
        iters=C.LOGREG_ITERS,
        lr=C.LOGREG_LR,
        seed=C.LOGREG_SEED,
    )


def q_logreg_holdout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The production train/serve split for the distributed GD
    classifier: fit on doc_id % QFILTER_SPLIT_MOD != 0, score the
    HELD-OUT residue-0 docs the model never saw — held-out accuracy,
    not fit diagnostics, is what decides whether a quality classifier
    ships. Same quantized recurrence as ``logreg_train``; the oracle
    replays every iteration over the train split and scores the
    held split."""
    from trollflow2_spark.extensions.classify import logreg_train_score
    from trollflow2_spark.extensions.text import quality_features

    docs = load_table(spark, sf_dir, "documents")
    labeled = quality_features(docs, extra_cols=["text"]).select(
        "doc_id",
        "text",
        F.when(F.col("quality_score") >= C.LOGREG_LABEL_THRESHOLD, 1)
        .otherwise(0)
        .alias("y"),
    )
    train = labeled.where(F.col("doc_id") % C.QFILTER_SPLIT_MOD != 0)
    held = labeled.where(F.col("doc_id") % C.QFILTER_SPLIT_MOD == 0)
    return logreg_train_score(
        train,
        label_col="y",
        dim=C.LOGREG_DIM,
        iters=C.LOGREG_ITERS,
        lr=C.LOGREG_LR,
        seed=C.LOGREG_SEED,
        score_df=held,
    )


def q_blocklist_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wordlist content gate: drop docs matching >= BLOCKLIST_MIN_DISTINCT
    distinct blocklist terms or exceeding the basis-point hit-density
    cap. Whole-word matching on the lowered token array — pure
    scan-stage Column algebra, integer-only thresholds (no float ratio
    exists to drift), zero shuffle; evidence columns ship for the
    audit. The oracle replays the token split, the list intersection
    and the integer cross-multiplied density rule."""
    from trollflow2_spark.extensions.text import blocklist_filter

    docs = load_table(spark, sf_dir, "documents")
    return blocklist_filter(
        docs,
        terms=C.BLOCKLIST_TERMS,
        min_distinct=C.BLOCKLIST_MIN_DISTINCT,
        max_density_bp=C.BLOCKLIST_MAX_DENSITY_BP,
    )


def q_packing_efficiency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Packing-efficiency audit over the sequence-packing tier: per
    (shard, bin) document count, packed token total, integer-ppm fill
    rate against the budget, and an overflow flag (a doc that STARTS
    inside the budget may run past it — concat-then-chunk semantics;
    the audit is how you see whether the budget/corpus pairing wastes
    context window or overflows it). One map-side-combinable agg over
    the pack assignment."""
    packed = q_pack_sequences(spark, sf_dir)
    fill_ppm = F.round(
        F.col("tokens_packed").cast("double")
        * F.lit(1000000.0)
        / F.lit(float(C.PACK_BUDGET))
    ).cast("bigint")
    return (
        packed.groupBy("shard", "bin")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").alias("tokens_packed"),
        )
        .select(
            "shard",
            "bin",
            "n_docs",
            "tokens_packed",
            fill_ppm.alias("fill_ppm"),
            F.when(F.col("tokens_packed") > C.PACK_BUDGET, 1)
            .otherwise(0)
            .alias("overflow"),
        )
    )


def q_token_budget_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-budget-capped sampling: mixtures are specified in TOKENS,
    not documents (a 50-token page and a 5000-token article are not
    the same amount of training data) — each source admits docs in
    portable spread-hash order until its token budget is spent (greedy:
    the doc that crosses the line is admitted, then the tap closes).
    One per-source cumulative window over narrow (id, n_tokens) rows;
    the admission decision, the running total and the budget are all
    integers. The oracle replays the hash order and the running-sum
    window."""
    from trollflow2_spark.extensions.hashing import tokens

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "source", "text"
    )
    n_tok = F.size(tokens(F.col("text")))
    h = F.pmod(F.col("doc_id") * F.lit(C.REPLAY_SPREAD), F.lit(2**32))
    budget = F.lit(C.TOKEN_BUDGET_DEFAULT)
    for src, b in C.TOKEN_BUDGET_OVERRIDES:
        budget = F.when(F.col("source") == src, F.lit(b)).otherwise(budget)
    w = (
        Window.partitionBy("source")
        .orderBy(h.asc(), F.col("doc_id").asc())
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    base = docs.select(
        "doc_id",
        "source",
        n_tok.cast("bigint").alias("n_tokens"),
        budget.cast("bigint").alias("budget"),
    )
    cum_before = F.coalesce(F.sum("n_tokens").over(w), F.lit(0))
    return base.select(
        "doc_id",
        "source",
        "n_tokens",
        "budget",
        cum_before.alias("tokens_before"),
        F.when(cum_before < F.col("budget"), 1).otherwise(0).alias("keep"),
    )


def q_vocab_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot-to-snapshot vocabulary drift: per-token relative
    frequencies of two corpus snapshots (the corpus_diff fixture's
    old/new split) over the combined top-K vocabulary, as integer
    parts-per-million — the distribution-shift audit that catches a
    crawl batch quietly changing the corpus (new spam template, lost
    source) before it trains into a model. ONE token-grain hash agg
    with conditional sums (map-side combinable), 1-row totals
    broadcast back, distributed TakeOrdered for the top-K — and every
    output is an integer, so the contract is drift-free by
    construction."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    old = docs.where(F.col("doc_id") % 13 != 3)
    new = docs.where(F.col("doc_id") % 11 != 7)
    from trollflow2_spark.extensions.hashing import tokens

    def toks(df: DataFrame, side: str) -> DataFrame:
        return df.select(
            F.explode(tokens(F.col("text"))).alias("tk")
        ).select(F.lower(F.col("tk")).alias("token"), F.lit(side).alias("s"))

    both = toks(old, "a").unionAll(toks(new, "b"))
    counts = both.groupBy("token").agg(
        F.sum(F.when(F.col("s") == "a", 1).otherwise(0)).alias("cnt_a"),
        F.sum(F.when(F.col("s") == "b", 1).otherwise(0)).alias("cnt_b"),
    )
    totals = F.broadcast(
        counts.agg(
            F.sum("cnt_a").alias("tot_a"), F.sum("cnt_b").alias("tot_b")
        )
    )
    topk = counts.orderBy(
        (F.col("cnt_a") + F.col("cnt_b")).desc(), F.col("token").asc()
    ).limit(C.VOCAB_DRIFT_K)
    ppm_a = F.round(
        F.col("cnt_a").cast("double")
        * F.lit(1000000.0)
        / F.col("tot_a").cast("double")
    ).cast("bigint")
    ppm_b = F.round(
        F.col("cnt_b").cast("double")
        * F.lit(1000000.0)
        / F.col("tot_b").cast("double")
    ).cast("bigint")
    return (
        topk.crossJoin(totals)
        .select(
            "token",
            "cnt_a",
            "cnt_b",
            ppm_a.alias("ppm_a"),
            ppm_b.alias("ppm_b"),
        )
        .withColumn("drift_ppm", F.abs(F.col("ppm_a") - F.col("ppm_b")))
    )


def q_cdc_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content-defined chunking: boundaries decided by token hash, not
    position, so an edit anywhere re-aligns nothing outside its own
    chunk (the rsync/LBFS property fixed-width windows lack). All
    higher-order Column algebra + one posexplode — zero shuffle. The
    oracle replays flags, prefix-sum chunk ids, and the per-chunk
    string_agg re-assembly."""
    from trollflow2_spark.extensions.text import cdc_chunks

    docs = load_table(spark, sf_dir, "documents")
    return cdc_chunks(docs, mod=C.CDC_MOD, seed=C.CDC_SEED)


def q_cdc_chunk_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sub-document dedup over content-defined chunks: the digest-
    keyed hash agg surfaces chunks repeated across documents
    (boilerplate paragraphs, quoted passages) that document-level
    dedup can never see and fixed windows only catch when aligned.
    One map-side-combinable agg over the chunk stream."""
    from trollflow2_spark.extensions.text import cdc_chunks

    docs = load_table(spark, sf_dir, "documents")
    ch = cdc_chunks(docs, mod=C.CDC_MOD, seed=C.CDC_SEED)
    return (
        ch.groupBy(F.md5("chunk_text").alias("chunk_md5"))
        .agg(
            F.count(F.lit(1)).alias("n_occurrences"),
            F.countDistinct("doc_id").alias("n_docs"),
            F.min("doc_id").alias("first_doc"),
            F.min("n_tokens").alias("n_tokens"),
        )
        .filter(F.col("n_docs") >= C.CDC_MIN_DOCS)
    )


def q_cdc_monster_doc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Long-doc skew-tail proof for the CDC chunker: 8 planted monster
    documents of 20k closed-form tokens each (sf-independent, like the
    replay fixtures) chunk in sub-second wall clock — sizes that were
    intractable under a quadratic per-token prefix recount (4e8
    md5-bearing slice elements per doc). Output is per-doc control
    plane: chunk count, token conservation, and an md5 over the
    chunk_idx-ordered reassembly proving every token landed in exactly
    one chunk in order. The oracle recomputes boundaries LINEARLY
    (boundary-position list, closed-form chunk count) and states the
    reassembly digest as md5 of the original text."""
    from trollflow2_spark.extensions.text import cdc_chunks

    n = C.CDC_MONSTER_TOKENS
    docs = spark.range(C.CDC_MONSTER_DOCS).select(
        F.col("id").alias("doc_id"),
        F.array_join(
            F.transform(
                F.sequence(F.lit(0), F.lit(n - 1)),
                lambda j: F.concat(
                    F.lit("t"),
                    ((F.col("id") * 7 + j * j) % 2048).cast("string"),
                ),
            ),
            " ",
        ).alias("text"),
    )
    ch = cdc_chunks(docs, mod=C.CDC_MOD, seed=C.CDC_SEED)
    return ch.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("int").alias("n_chunks"),
        F.sum("n_tokens").cast("long").alias("n_tokens_total"),
        F.md5(
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct("chunk_idx", "chunk_text"))
                    ),
                    lambda s: s["chunk_text"],
                ),
                " ",
            )
        ).alias("reassembly_md5"),
    )


def q_recipe_drop_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-stage row accounting for a composed corpus recipe (quality
    gate -> blocklist -> exact dedup -> split): every stage reports
    (rows_in, rows_out, rows_dropped) — the lineage trail that answers
    "where did 40% of the crawl go?" before anyone asks. Stage outputs
    localCheckpoint (each is read twice: next stage + its count), the
    counts are 1-row aggs, and the arithmetic is a lag window over k+1
    rows — the audit costs one pass per stage and its OUTPUT is
    control-plane sized at any corpus scale. The oracle replays the
    whole filter chain and the count recurrence in SQL."""
    from trollflow2_spark.extensions.recipe import run_recipe_audited

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    recipe = [
        {"stage": "quality_filter"},
        {
            "stage": "blocklist",
            "terms": C.BLOCKLIST_TERMS,
            "min_distinct": C.BLOCKLIST_MIN_DISTINCT,
            "max_density_bp": C.BLOCKLIST_MAX_DENSITY_BP,
        },
        {"stage": "exact_dedup"},
        {
            "stage": "split",
            "fractions": dict(C.SPLIT_FRACS),
            "seed": C.SPLIT_SEED,
        },
    ]
    return run_recipe_audited(docs, recipe)


def q_source_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source quality rollup (mean score + filter keep rate) — the
    input for choosing stratified-sampling rates / mixture weights."""
    from trollflow2_spark.extensions.text import source_quality

    docs = load_table(spark, sf_dir, "documents")
    return source_quality(docs)


def q_media_quarantine_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The intake reject audit: a fixture corpus mixing valid PNGs,
    corrupt blobs, unsupported codecs (video/mp4) and oversized blobs
    runs through ``decode_media(on_error="null", max_bytes=...)``, and
    the per-item ``quarantine_reason`` column rolls up corpus-stats
    style — a 100 TB run reports WHAT it skipped (corrupt vs
    unsupported_codec vs oversized), not just how much. Closed-form
    oracle: the class is ``doc_id % 4``."""
    from trollflow2_spark.extensions.multimodal import decode_media

    docs = load_table(spark, sf_dir, "documents").select("doc_id").repartition(
        spark.sparkContext.defaultParallelism
    )
    media_schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("media", T.BinaryType()),
            T.StructField(
                "media_meta",
                T.StructType([T.StructField("media_type", T.StringType())]),
            ),
        ]
    )

    def make_media(batches):
        import numpy as np
        import pandas as pd

        from trollflow2_spark.sinks.imagery import encode_png

        for pdf in batches:
            rows = []
            for d in pdf["doc_id"]:
                d = int(d)
                cls = d % 4
                if cls == 0:  # valid gray PNG
                    arr = np.full((4, 4), d % 256, dtype=np.uint8)
                    blob, mt = encode_png(arr), "image/png"
                elif cls == 1:  # corrupt: magic + garbage
                    blob = b"\x89PNG\r\n\x1a\n" + str(d).encode() * 3
                    mt = "image/png"
                elif cls == 2:  # no decoder for this type
                    blob, mt = b"mp4 atoms " * (d % 3 + 1), "video/mp4"
                else:  # over the size cap
                    blob, mt = b"x" * (4096 + 1 + d % 7), "image/png"
                rows.append((d, blob, {"media_type": mt}))
            yield pd.DataFrame(rows, columns=["doc_id", "media", "media_meta"])

    media = docs.mapInPandas(make_media, media_schema)
    decoded = decode_media(media, on_error="null", max_bytes=4096)
    return (
        decoded.groupBy(
            F.coalesce(F.col("quarantine_reason"), F.lit("ok")).alias(
                "quarantine_reason"
            )
        )
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            F.min("doc_id").alias("min_doc_id"),
        )
    )


def q_corpus_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source corpus profile: counts, total/mean size, p50/p90/p99
    size percentiles. The contract pins percentile_mode="exact" (oracle
    bit-parity); the operator's default is the approx-sketch 100 TB
    form, tolerance-tested in tests/test_extensions.py."""
    from trollflow2_spark.extensions.text import corpus_stats

    docs = load_table(spark, sf_dir, "documents")
    return corpus_stats(docs, percentile_mode="exact")


def q_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII redaction over the corpus. The synthetic documents carry no
    digits at all, so the contract query plants deterministic PII
    (email + IPv4 + phone derived from doc_id) on every third doc before
    scrubbing — the oracle replays the plant and the staged redaction,
    value-checking counts and the scrubbed text itself."""
    from trollflow2_spark.extensions.text import pii_scrub

    docs = load_table(spark, sf_dir, "documents")
    pii = F.concat(
        F.col("text"),
        F.lit(" contact user"), F.col("doc_id").cast("string"),
        F.lit("@example.com from 10.0."),
        (F.col("doc_id") % 256).cast("string"), F.lit(".1 call 555-0"),
        F.lpad((F.col("doc_id") % 1000).cast("string"), 3, "0"),
    )
    planted = docs.withColumn(
        "text", F.when(F.col("doc_id") % 3 == 0, pii).otherwise(F.col("text"))
    )
    return pii_scrub(planted)


def q_contamination_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark contamination: per held-out doc, the fraction of its
    word 8-gram shingles occurring anywhere in the training corpus. The
    corpus collapses to a distinct shingle-hash set map-side before any
    join — 100 TB of text reduces to hashes first."""
    from trollflow2_spark.extensions.contamination import contamination_scores

    corpus, held = _contam_parts(spark, sf_dir)
    return contamination_scores(
        corpus, held, shingle_words=C.CONTAM_SHINGLE_WORDS
    )


def q_contamination_bloom(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-prefiltered contamination: identical output to
    ``contamination_check`` (shared oracle) via a different 100 TB
    plan — the held-out set becomes a fixed-size Bloom bitmap tested
    map-side over the corpus scan (O(m bits) per executor instead of a
    broadcast hash set), and the verify join removes false positives,
    keeping the result exact."""
    from trollflow2_spark.extensions.contamination import (
        contamination_scores_bloom,
    )

    corpus, held = _contam_parts(spark, sf_dir)
    return contamination_scores_bloom(
        corpus, held, shingle_words=C.CONTAM_SHINGLE_WORDS
    )


def q_contamination_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Verbatim leakage: held-out docs whose normalized text appears
    exactly in the corpus (digest equi-join; raw text never shuffles).
    Runs against the planted-leak fixture so the result is a non-empty,
    value-checked set of exactly the planted doc ids."""
    from trollflow2_spark.extensions.contamination import exact_overlap

    corpus, held = _contam_parts(spark, sf_dir, plant=True)
    return exact_overlap(corpus, held)


def q_epoch_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Epoch-aware source mixture — the repeat-factor convention of
    LLM data recipes (factor 2.5 = two full epochs + a deterministic
    half epoch; 0.4 = a 40 % subsample). Map-side sequence explode
    bounded by ceil(max factor) + the portable bucket predicate for
    the partial epoch; per-source (n_full, threshold) precomputed as
    integers so no float differs between engines. The oracle replays
    the fan-out and predicate with the same integer literals."""
    from trollflow2_spark.extensions.sampling import epoch_mixture

    docs = load_table(spark, sf_dir, "documents")
    out = epoch_mixture(
        docs, dict(C.EPOCH_FACTORS), seed=C.EPOCH_SEED
    )
    return out.select("doc_id", "source", "epoch")


def q_corpus_recipe_decontam(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Decontamination wired INTO the config-driven recipe tier: a
    name-addressed decontaminate -> exact_dedup -> split chain — the
    pre-training gate that removes the eval set AND its n-gram
    leakage from train before splitting. The oracle replays the held
    shingle-digest semi-join, the distinct-hit floor, the digest
    window and the split CASE as one SQL chain."""
    from trollflow2_spark.extensions.recipe import run_recipe

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    recipe = [
        {"stage": "decontaminate", "min_hits": C.DECONTAM_MIN_HITS},
        {"stage": "exact_dedup"},
        {
            "stage": "split",
            "fractions": dict(C.SPLIT_FRACS),
            "seed": C.SPLIT_SEED,
        },
    ]
    out = run_recipe(docs, recipe)
    return out.select(
        "doc_id",
        F.length("text").cast("bigint").alias("n_chars"),
        "split",
    )


def q_corpus_recipe_decontam_replay(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Static-held decontamination run INCREMENTALLY: the held/eval
    set is a parquet file (``held_path`` — the production shape: eval
    sets are fixed artifacts, not id conventions), so the
    decontaminate stage is a pure per-doc map against static state and
    commutes with micro-batching BY CONSTRUCTION — which is exactly
    what this contract proves: a real 3-batch ``foreachBatch`` replay
    of decontaminate -> split equals the batch recipe on the
    concatenation. Fixture is the REPLAY_ROW_BUDGET spread-hash
    subset (O(1) in sf); the oracle replays the held shingle-digest
    semi-join, the hit floor and the split CASE over the same
    subset."""
    import os as _os
    import tempfile

    from trollflow2_spark.extensions.recipe import replay_recipe_batches

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    sub = _replay_subset(docs.select("doc_id"), "doc_id").join(docs, "doc_id")
    rows = sub.collect()  # budget-bounded fixture subset (control plane)
    held = [
        r for r in rows if r["doc_id"] % C.CONTAM_MOD == C.CONTAM_RESIDUE
    ]
    train = [
        r for r in rows if r["doc_id"] % C.CONTAM_MOD != C.CONTAM_RESIDUE
    ]
    d = tempfile.mkdtemp(prefix="tf2decontam_")
    held_path = _os.path.join(d, "held")
    spark.createDataFrame(
        [(r["doc_id"], r["text"]) for r in held],
        "doc_id long, text string",
    ).write.mode("overwrite").parquet(held_path)
    batches = [
        [
            {"doc_id": r["doc_id"], "text": r["text"]}
            for r in train
            if r["doc_id"] % 3 == i
        ]
        for i in range(3)
    ]
    recipe = [
        {
            "stage": "decontaminate",
            "min_hits": C.DECONTAM_MIN_HITS,
            "held_path": held_path,
        },
        {
            "stage": "split",
            "fractions": dict(C.SPLIT_FRACS),
            "seed": C.SPLIT_SEED,
        },
    ]
    out = replay_recipe_batches(
        spark, batches, "doc_id long, text string", recipe
    )
    return out.select(
        "doc_id",
        F.length("text").cast("bigint").alias("n_chars"),
        "split",
    )


def q_contamination_semantic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-space contamination — catches eval examples whose
    PARAPHRASE sits in train (no shared shingle, same neighborhood).
    Held set mirrors the text-tier convention (vec_id % CONTAM_MOD ==
    RESIDUE) with the planted-leak subset re-injected verbatim at
    shifted ids (guaranteed sim-1.0 hits); candidates = same frozen
    IVF cells — the held side multi-probes its IVF_N_PROBE nearest
    cells (scan fraction for recall) — exact cosine verify, per-held
    rollup. The oracle replays cells, the planted
    union and the cosine from the same centroid literals."""
    from trollflow2_spark.extensions.contamination import (
        semantic_contamination,
    )
    from trollflow2_spark.extensions.similarity import kmeans_centroids

    emb = load_table(spark, sf_dir, "embeddings")
    held = emb.filter(F.col("vec_id") % C.CONTAM_MOD == C.CONTAM_RESIDUE)
    rest = emb.filter(F.col("vec_id") % C.CONTAM_MOD != C.CONTAM_RESIDUE)
    plant = held.filter(
        F.expr(
            f"((vec_id - {C.CONTAM_RESIDUE}) div {C.CONTAM_MOD})"
            f" % {C.CONTAM_PLANT_MOD} = 0"
        )
    ).select(
        (F.col("vec_id") + C.CONTAM_PLANT_ID_SHIFT).alias("vec_id"),
        "embedding",
    )
    corpus = rest.select("vec_id", "embedding").unionByName(plant)
    cents = kmeans_centroids(emb, k=C.IVF_N_CLUSTERS)
    return semantic_contamination(
        corpus, held, cents, C.SEMCONTAM_THRESHOLD,
        n_probe=C.IVF_N_PROBE,
    )


# ---------------------------------------------------------------------------
# Analytics-mining tier (round 12)


def q_assoc_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket association rules over lineitem: baskets are
    orders, items are part categories with a deliberate long tail
    (30 head categories + 400 rare ones) so the Apriori
    frequent-item prune visibly cuts the pair self-join's input
    before it shuffles. Support/confidence/lift per surviving pair,
    both rule directions."""
    from trollflow2_spark.extensions.mining import assoc_rules

    li = load_table(spark, sf_dir, "lineitem")
    pk = F.col("l_partkey")
    item = F.when(pk % 7 < 5, pk % 30).otherwise(1000 + pk % 400)
    baskets = li.select(
        F.col("l_orderkey").alias("basket_id"), item.alias("item")
    )
    return assoc_rules(
        baskets, min_support_count=C.ASSOC_MIN_SUPPORT
    )


def q_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangles + local clustering coefficient on the crawl host
    graph (the same 20-host closed-form edge fixture as
    `host_pagerank`/`host_communities`), via degree-ordered edge
    orientation — completes the graph tier: CC = reachability,
    PageRank = authority, label propagation = communities,
    triangles = cohesion. Orientation bounds wedge fan-out by
    O(sqrt(m)) per node, the property that makes the join survivable
    on a skewed web graph."""
    from trollflow2_spark.extensions.mining import triangle_count

    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    k = F.col("doc_id") % 20
    e1 = docs.select(k.alias("id_a"), ((k + 1) % 20).alias("id_b"))
    e2 = docs.select(k.alias("id_a"), ((k * 3 + 7) % 20).alias("id_b"))
    out = triangle_count(e1.unionByName(e2))
    return out.select(
        F.concat(F.lit("site"), F.col("node").cast("string")).alias("host"),
        F.col("degree").cast("long").alias("degree"),
        F.col("triangles").cast("long").alias("triangles"),
        "local_cc",
    )


def q_pareto_skyline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pareto frontier (skyline) of parts on (retail price low, size
    high) — the model/data selection trade-off query. The full table
    reduces to per-price best size in one hash agg; the ordered
    dominance scan runs over that distinct-price reduction only."""
    from trollflow2_spark.extensions.mining import pareto_frontier

    part = load_table(spark, sf_dir, "part").select(
        "p_partkey", "p_retailprice", "p_size"
    )
    return pareto_frontier(part, "p_retailprice", "p_size").select(
        "p_partkey",
        F.round(F.col("p_retailprice"), 2).alias("price"),
        F.col("p_size").cast("int").alias("size"),
    )


def q_bradley_terry(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bradley-Terry preference-strength fitting (Zermelo/Hunter MM,
    3 iterations) over closed-form pairwise match counts between 12
    'models' — the RLHF preference-aggregation core next to
    `dpo_pairs`/`sft_chat_masks`. The oracle unrolls every MM
    iteration in SQL; per-term round(12)+DECIMAL sums and
    per-iteration round(8) pin the trajectory bit-stable."""
    from trollflow2_spark.extensions.mining import bradley_terry_strengths

    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    d = F.col("doc_id")
    a = (d % 12).alias("player_a")
    b = ((d * 7 + 3) % 12).alias("player_b")
    win_a = F.when((d * 13) % ((d % 12) + ((d * 7 + 3) % 12) + 2) <= (d % 12), 1).otherwise(0)
    matches = (
        docs.select(a, b, win_a.alias("wa"))
        .where(F.col("player_a") != F.col("player_b"))
        .groupBy("player_a", "player_b")
        .agg(
            F.sum("wa").alias("wins_a"),
            F.sum(1 - F.col("wa")).alias("wins_b"),
        )
    )
    return bradley_terry_strengths(matches, iters=3)


def q_benford_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford first-digit audit of order totals per order priority —
    the fabricated-numbers screen. First digits come off exact
    fixed-point integers (never float log10); chi-square folds via
    the sum(o^2/(n p)) - n identity in DECIMAL."""
    from trollflow2_spark.extensions.profile import benford_audit

    orders = load_table(spark, sf_dir, "orders")
    return benford_audit(
        orders, "o_totalprice", ["o_orderpriority"]
    )


def q_l_diversity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """l-diversity release audit over customers: QI groups
    (nation, market segment) vs the account-balance band as the
    sensitive attribute — the homogeneity-attack gate one notch past
    `k_anonymity`. Integer-only output."""
    from trollflow2_spark.extensions.profile import l_diversity_audit

    cust = load_table(spark, sf_dir, "customer").select(
        "c_nationkey",
        "c_mktsegment",
        F.floor(F.col("c_acctbal") / 2000).cast("int").alias("bal_band"),
    )
    return l_diversity_audit(
        cust, ["c_nationkey", "c_mktsegment"], "bal_band",
        k=C.LDIV_K, l_min=C.LDIV_L,
    )


def q_ewma_smooth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded-lag EWMA smoothing of per-user event values — the
    fixed-memory exponential smoother (weights (1-a)^j over the last
    8 readings, renormalized at sequence starts). One window shuffle
    on user_id, zero Python; the weighted sum is a literal expression
    chain identical on both engines."""
    from trollflow2_spark.extensions.windows import ewma_bounded

    ev = load_table(spark, sf_dir, "events")
    return ewma_bounded(
        ev, ["user_id"], ["ts", "event_id"], "value",
        alpha=C.EWMA_ALPHA, lags=C.EWMA_LAGS,
    )


def q_kmv_set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bottom-k (KMV) distinct sketches per event type + pairwise SET
    OPERATION estimates (union / intersection / Jaccard) with the
    exact values alongside as the sketch-error audit — the set-op
    capability HLL registers can't offer without stacking
    inclusion-exclusion error. The sketch builds as a two-level
    bounded tree (salt buckets then final bottom-k), pairs are
    key-cardinality-squared control-plane rows."""
    from trollflow2_spark.extensions.snapshot import kmv_set_ops

    ev = load_table(spark, sf_dir, "events").select(
        "event_type",
        (F.col("user_id") * 8 + F.col("event_id") % 8).alias("slot"),
    )
    return kmv_set_ops(
        ev, "event_type", "slot", k=C.KMV_K, seed=C.KMV_SEED
    )


def q_streaming_kmv_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KMV mergeability as an OPERATING procedure: the budget-capped
    event subset streams through 3 real micro-batches, each appending
    its per-type bottom-k as a batch-tagged parquet delta; the merged
    state must equal the one-pass sketch EXACTLY (bottom-k is a
    semilattice: merge = min-k of union, associative + idempotent) —
    which is what the oracle computes over the same subset in one
    pass. The distinct-count sibling of `streaming_cms_replay`."""
    from trollflow2_spark.extensions.snapshot import kmv_replay_state

    sub = _replay_subset(load_table(spark, sf_dir, "events")).select(
        "event_id",
        "event_type",
        (F.col("user_id") * 8 + F.col("event_id") % 8).alias("slot"),
        (F.col("event_id") % 3).alias("b"),
    )
    rows = sub.collect()  # budget-capped fixture (control plane)
    batches = [
        [
            {"event_id": r["event_id"], "event_type": r["event_type"],
             "slot": r["slot"]}
            for r in rows if r["b"] == i
        ]
        for i in range(3)
    ]
    return kmv_replay_state(
        spark,
        batches,
        "event_id long, event_type string, slot long",
        key_col="event_type",
        value_col="slot",
        k=C.KMV_K,
        seed=C.KMV_SEED,
    )


def q_xml_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Structured XML intake (`extensions/xmlsrc.py:read_xml`): the
    from-scratch pull parser — attributes (both quote styles),
    CDATA, predefined entities + numeric charrefs, comments/PI/
    DOCTYPE skipping with NO entity expansion (XXE/billion-laughs
    impossible by construction), full nesting validation — flattening
    each catalog-shaped document to the relational (elem_id,
    parent_id, tag, attrs, text) element table; every field below is
    then native DataFrame algebra over that table. Every 13th blob
    truncates mid-document and must surface as err=1 with NULL
    fields. The structured complement of the regexp-level
    `feed_urls` (extensions/warc.py:1020-1035)."""
    from trollflow2_spark.extensions.xmlsrc import read_xml

    docs = load_table(spark, sf_dir, "documents").select("doc_id").repartition(
        spark.sparkContext.defaultParallelism
    )
    d = F.col("doc_id")
    np_ = 1 + d % 3

    def product(i: int) -> Column:
        return F.when(
            F.lit(i) < np_,
            F.concat(
                F.lit('\n  <product sku="P'),
                ((d + i) % 100).cast("string"),
                F.lit("\" price='"),
                ((d * 7 + i) % 90).cast("string"),
                F.lit(".5'>\n    <name>Widget &amp; Co "),
                ((d + i) % 7).cast("string"),
                F.lit("</name>\n    <desc><![CDATA[a <b> raw & stuff "),
                ((d + i) % 5).cast("string"),
                F.lit("]]></desc>\n    <stock>"),
                ((d * 3 + i) % 40).cast("string"),
                F.lit("</stock>\n  </product>"),
            ),
        ).otherwise(F.lit(""))

    xml = F.concat(
        F.lit('<?xml version="1.0"?>\n<!-- catalog export -->\n<catalog id="c'),
        (d % 50).cast("string"),
        F.lit('" xmlns="http://example.com/cat">'),
        product(0),
        product(1),
        product(2),
        F.lit("\n  <note>&#65;&#x42;"),
        (d % 3).cast("string"),
        F.lit("</note>\n</catalog>\n"),
    )
    xml = F.when(d % 13 == 0, F.substring(xml, 1, 40)).otherwise(xml)
    el = read_xml(docs.select("doc_id", xml.alias("xml")))
    tag = F.col("tag")
    return el.groupBy("doc_id").agg(
        F.max(F.col("error").isNotNull().cast("int")).alias("err"),
        F.max(
            F.when(F.col("elem_id") == 0, F.col("attrs")["id"])
        ).alias("catalog_id"),
        F.sum(F.when(tag == "product", 1)).alias("n_products"),
        (F.max("elem_id") + 1).alias("n_elems"),
        F.min(
            F.when(
                tag == "product",
                F.struct(
                    F.col("elem_id"), F.col("attrs")["sku"].alias("sku")
                ),
            )
        )["sku"].alias("first_sku"),
        F.min(F.when(tag == "name", F.struct("elem_id", "text")))[
            "text"
        ].alias("first_name"),
        F.sum(
            F.when(tag == "stock", F.col("text").cast("int"))
        ).alias("stock_sum"),
        F.max(F.when(tag == "note", F.col("text"))).alias("note_text"),
        F.max(
            F.when(tag == "desc", F.length("text"))
        ).alias("max_desc_len"),
    )


def q_bitext_mining(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Margin-based bitext mining (LASER/CCMatrix): mutual nearest
    neighbors across the two embedding 'languages' (vec_id parity),
    scored by the ratio margin that suppresses hub vectors. The exact
    bipartite audit path at fixture scale; the margin/mutuality
    algebra — the part this query pins — is unchanged when production
    swaps in the IVF-bucketed neighbor search."""
    from trollflow2_spark.extensions.similarity import bitext_mine

    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", "embedding"
    ).where(F.col("vec_id") < C.BITEXT_ID_CAP)
    side_x = emb.where(F.col("vec_id") % 2 == 0)
    side_y = emb.where(F.col("vec_id") % 2 == 1)
    return bitext_mine(
        side_x, side_y, k=C.BITEXT_K, margin_threshold=C.BITEXT_MARGIN
    )


def q_k_core(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-core decomposition (synchronous peeling, fixed rounds — the
    label-prop contract): the density skeleton of the 40-host crawl
    graph, the spam-ring / link-farm signal next to triangles. Each
    round is one degree agg + two endpoint semi-joins; the fixture
    converges inside the round budget (pytest proves a further round
    is a no-op) and the oracle unrolls every round."""
    from trollflow2_spark.extensions.mining import k_core

    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    d = F.col("doc_id")
    e1 = docs.select(
        (d % 40).alias("id_a"), ((d * 7 + 11) % 40).alias("id_b")
    )
    e2 = docs.select(
        (d % 40).alias("id_a"), ((d * 3 + 5) % 40).alias("id_b")
    )
    out = k_core(
        e1.unionByName(e2), k=C.KCORE_K, rounds=C.KCORE_ROUNDS
    )
    return out.select(
        F.concat(F.lit("site"), F.col("node").cast("string")).alias("host"),
        F.col("core_degree").cast("long").alias("core_degree"),
    )


def q_event_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix over per-user event
    sequences — the path-analysis rollup next to sessionize/funnel:
    one LAG window (single shuffle on user_id) + one hash agg to the
    state-cardinality-squared matrix with row-normalized
    probabilities."""
    from trollflow2_spark.extensions.mining import markov_transitions

    ev = load_table(spark, sf_dir, "events")
    return markov_transitions(ev)


def q_t_closeness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """t-closeness audit (ordered-EMD of Li et al.) over the same
    (nation, segment) QI groups and acctbal bands as
    `l_diversity_audit` — the release gate that catches groups whose
    values crowd one end of the range. Every cumulative term
    cross-multiplies to exact integers (the ks_test discipline);
    one division at the end."""
    from trollflow2_spark.extensions.profile import t_closeness_audit

    cust = load_table(spark, sf_dir, "customer").select(
        "c_nationkey",
        "c_mktsegment",
        F.floor(F.col("c_acctbal") / 2000).cast("int").alias("bal_band"),
    )
    return t_closeness_audit(
        cust, ["c_nationkey", "c_mktsegment"], "bal_band",
        t_permille=C.TCLOSE_T_PERMILLE,
    )


def q_woe_iv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weight-of-evidence / information-value feature scoring of
    order priority against the finished-order label — the label-aware
    sibling of chi2_feature_selection: per-value WOE plus the
    feature's IV folded in DECIMAL over round(12) terms."""
    from trollflow2_spark.extensions.classify import woe_iv

    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderpriority",
        (F.col("o_orderstatus") == "F").cast("int").alias("label"),
    )
    return woe_iv(orders, "o_orderpriority", "label", smooth=C.WOE_SMOOTH)


def q_quantile_binning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equal-frequency decile binning of customer balances over the
    total (value, custkey) order — per-bin count + range, the
    feature-prep step feeding WOE/monotonic binning. Audit-grain
    global sort; production computes sketch edges and assigns
    scan-side."""
    from trollflow2_spark.extensions.profile import quantile_binning

    cust = load_table(spark, sf_dir, "customer")
    return quantile_binning(cust, "c_acctbal", "c_custkey", n_bins=C.QBIN_N)


def q_winnow_dedup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing (MOSS) fingerprint near-dup pairs: k-token shingle
    hashes, per-window minimum selection (the ~2/(w+1)-density
    POSITIONAL fingerprint that guarantees any k+w-1-token match
    shares a print), boilerplate prints dropped at the hot-bucket
    guard, pairs gated on shared-print count with integer per-mille
    overlap. Complements minhash-LSH (set similarity) with
    positional match evidence — the code-corpus dedup standard."""
    from trollflow2_spark.extensions.dedup import (
        winnow_fingerprints,
        winnow_pairs,
    )

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    prints = winnow_fingerprints(
        docs, k=C.WINNOW_K, w=C.WINNOW_W, seed=C.WINNOW_SEED
    )
    return winnow_pairs(
        prints,
        min_shared=C.WINNOW_MIN_SHARED,
        max_bucket=C.WINNOW_MAX_BUCKET,
    )


def q_collocations_pmi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PMI collocation mining (the word2phrase pass): pointwise
    mutual information of adjacent token pairs above the count floor
    — array-algebra bigram extraction in the scan stage, three
    map-side-combinable hash aggs, broadcast unigram join, one scalar
    log per surviving pair."""
    from trollflow2_spark.extensions.text import collocations_pmi

    docs = load_table(spark, sf_dir, "documents").select("text")
    return collocations_pmi(docs, min_count=C.COLL_MIN_COUNT)


def q_survival_km(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kaplan-Meier signup->purchase survival per user cohort, with
    right-censoring for users never observed purchasing — the
    time-to-event readout naive conversion rates bias. Log-space KM:
    round(12) log terms in a DECIMAL window sum, one exp at the end;
    a fully-dying risk set pins survival to exact 0 via an integer
    flag."""
    from trollflow2_spark.extensions.profile import survival_curve

    ev = load_table(spark, sf_dir, "events")
    per_user = ev.groupBy("user_id").agg(
        F.min("ts").alias("__first"),
        F.min(
            F.when(F.col("event_type") == "purchase", F.col("ts"))
        ).alias("__p"),
        F.max("ts").alias("__last"),
    )
    end = F.when(F.col("__p").isNotNull(), F.col("__p")).otherwise(
        F.col("__last")
    )
    subj = per_user.select(
        (F.col("user_id") % 3).alias("cohort"),
        F.floor(
            (F.unix_timestamp(end) - F.unix_timestamp(F.col("__first")))
            / 3600.0
        )
        .cast("int")
        .alias("duration"),
        F.col("__p").isNotNull().cast("int").alias("event"),
    )
    return survival_curve(subj, ["cohort"])


def q_weighted_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact quantity-weighted median extended price per return flag —
    half the WEIGHT on each side, all-integer cumulative crossings
    over the total (value, orderkey, linenumber) order."""
    from trollflow2_spark.extensions.profile import weighted_median

    li = load_table(spark, sf_dir, "lineitem")
    return weighted_median(
        li,
        ["l_returnflag"],
        "l_extendedprice",
        "l_quantity",
        ["l_orderkey", "l_linenumber"],
    )


def q_cusum_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUSUM mean-shift excursion report per event type: the running
    sum of deviations from the type mean at its maximum |excursion| —
    the most-likely-changepoint readout. DECIMAL-exact mean and
    cumulative trajectory; argmax via one min_by on the total
    (|cusum| desc, ts, event_id) key."""
    from trollflow2_spark.extensions.profile import cusum_report

    ev = load_table(spark, sf_dir, "events")
    return cusum_report(
        ev, ["event_type"], ["ts", "event_id"], "value"
    )


def q_arrow_ipc_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arrow IPC stream intake (`extensions/arrowipc.py`): multi-batch
    feature-store blobs -> one canonical-JSON row per record in one
    Arrow pass, downstream cuts native from_json; every 17th blob
    truncates and must surface as err=1 with NULL fields. pyarrow is
    the reference implementation here (it IS Spark's Python data
    plane) — the contract under test is the Spark intake shape +
    quarantine taxonomy."""
    from trollflow2_spark.extensions.arrowipc import read_arrow_ipc

    docs = load_table(spark, sf_dir, "documents").select("doc_id").repartition(
        spark.sparkContext.defaultParallelism
    )
    blob_schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("blob", T.BinaryType()),
        ]
    )

    def make_blobs(batches):
        import pandas as pd

        from trollflow2_spark.extensions.arrowipc import write_ipc_blob

        for pdf in batches:
            blobs = []
            for d in pdf["doc_id"]:
                d = int(d)
                n = 2 + d % 3
                blob = write_ipc_blob(
                    {
                        "id": [d * 10 + j for j in range(n)],
                        "name": [f"row-{(d + j) % 20}" for j in range(n)],
                        "score": [(d * j % 97) / 10.0 for j in range(n)],
                        "tags": [
                            [f"t{(d + j) % 3}"] * (j % 3) for j in range(n)
                        ],
                    },
                    batch_rows=2,
                )
                if d % 17 == 0:
                    blob = blob[:16]
                blobs.append(blob)
            yield pd.DataFrame({"doc_id": pdf["doc_id"], "blob": blobs})

    blobs = docs.mapInPandas(make_blobs, blob_schema)
    parsed = read_arrow_ipc(blobs)
    j = F.from_json(
        F.col("json"),
        "id bigint, name string, score double, tags array<string>",
    )
    return parsed.select(
        "doc_id",
        "row_idx",
        F.col("error").isNotNull().cast("int").alias("err"),
        j["id"].alias("id"),
        j["name"].alias("name"),
        j["score"].alias("score"),
        F.size(j["tags"]).alias("n_tags"),
    )


def q_fs_linkage_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fellegi-Sunter record-linkage weights from labeled comparison
    vectors — the probabilistic scoring model behind the fuzzy tier's
    candidate pairs: per field m/u probabilities and the log-LR
    agree/disagree weights. Fixture: per customer one MATCH vector
    (perturbed re-entry, fields agree on closed-form high-rate
    patterns) and one NONMATCH vector (next customer, low-rate
    agreement)."""
    from trollflow2_spark.extensions.dedup import fs_linkage_weights

    cust = load_table(spark, sf_dir, "customer").select("c_custkey")
    k = F.col("c_custkey")
    match = cust.select(
        F.lit(1).alias("is_match"),
        (k % 7 != 0).cast("int").alias("name_agree"),
        (k % 11 != 0).cast("int").alias("nation_agree"),
        (k % 5 != 0).cast("int").alias("segment_agree"),
        (k % 3 != 0).cast("int").alias("band_agree"),
    )
    nonmatch = cust.select(
        F.lit(0).alias("is_match"),
        (k % 13 == 0).cast("int").alias("name_agree"),
        (k % 4 == 0).cast("int").alias("nation_agree"),
        (k % 5 == 0).cast("int").alias("segment_agree"),
        (k % 2 == 0).cast("int").alias("band_agree"),
    )
    return fs_linkage_weights(
        match.unionByName(nonmatch),
        ["name_agree", "nation_agree", "segment_agree", "band_agree"],
    )


def q_rake_keyphrases(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RAKE keyphrase extraction over the document corpus — maximal
    stopword-free token runs scored by summed word degree/frequency;
    the zero-model within-document complement of collocations_pmi.
    One posexplode, one per-doc window, two hash aggs, DECIMAL-folded
    phrase scores."""
    from trollflow2_spark.extensions.text import rake_keyphrases

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    return rake_keyphrases(docs, min_phrase_count=C.RAKE_MIN_COUNT)


def q_backtest_smape(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Forecast backtesting: the seasonal-naive baseline (count at
    hour h predicted by hour h-24) scored with sMAPE per event type —
    the accuracy floor every real forecaster must beat. Hourly counts
    are one hash agg; the forecast join is keyed (type, hour-24);
    sMAPE folds round(12) terms in DECIMAL."""
    ev = load_table(spark, sf_dir, "events")
    hourly = ev.groupBy(
        "event_type", F.date_trunc("hour", F.col("ts")).alias("bucket")
    ).agg(F.count(F.lit(1)).alias("actual"))
    fc = hourly.select(
        "event_type",
        (F.col("bucket") + F.expr("INTERVAL 24 HOURS")).alias("bucket"),
        F.col("actual").alias("forecast"),
    )
    j = hourly.join(fc, ["event_type", "bucket"])
    a, f = F.col("actual").cast("double"), F.col("forecast").cast("double")
    term = F.round(2.0 * F.abs(f - a) / (f + a), 12)
    return j.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_hours"),
        F.round(
            F.sum(term.cast("decimal(38,12)")).cast("double")
            / F.count(F.lit(1)).cast("double"),
            6,
        ).alias("smape"),
    )


def q_period_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Month-over-month revenue growth — the warehouse staple: one
    hash agg to monthly DECIMAL-exact revenue, one lag window over
    the month-cardinality table, growth as a rounded ratio."""
    orders = load_table(spark, sf_dir, "orders")
    monthly = orders.groupBy(
        F.trunc(F.col("o_orderdate"), "month").alias("month")
    ).agg(dsum(F.col("o_totalprice"), 2).alias("revenue"))
    # The lag window is over the post-agg month-cardinality table
    # (bounded: one row per calendar month) — the single-partition
    # WindowExec is control-plane-sized at any data scale.
    w = Window.orderBy("month")
    prev = F.lag("revenue").over(w)
    return monthly.select(
        "month",
        F.round(F.col("revenue"), 2).alias("revenue"),
        F.round((F.col("revenue") - prev) / prev, 6).alias("mom_growth"),
    )


def q_linear_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-priority OLS trend of daily revenue — one hash agg to the
    exact daily series, one hash agg to six DECIMAL power sums per
    group, closed-form slope/intercept/R² as a scalar double chain
    (`extensions/profile.py::linear_trend`)."""
    from trollflow2_spark.extensions.profile import linear_trend

    orders = load_table(spark, sf_dir, "orders")
    daily = orders.groupBy(
        F.col("o_orderpriority").alias("priority"),
        F.datediff(
            F.col("o_orderdate").cast("date"), F.lit("1970-01-01").cast("date")
        ).alias("day_idx"),
    ).agg(dsum(F.col("o_totalprice"), 2).alias("revenue"))
    return linear_trend(daily, ["priority"], "day_idx", "revenue")


def q_link_prediction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Link prediction over the supplier–part bipartite graph from
    lineitem: common-neighbor / Jaccard / Adamic-Adar scores per
    supplier pair, hub parts pruned before the pair join
    (`extensions/mining.py::link_prediction_scores`)."""
    from trollflow2_spark.extensions.mining import link_prediction_scores

    li = load_table(spark, sf_dir, "lineitem")
    return link_prediction_scores(
        li.select(
            F.col("l_suppkey").alias("supp"), F.col("l_partkey").alias("part")
        ),
        "supp",
        "part",
        min_common=C.LINKPRED_MIN_CN,
        max_degree=C.LINKPRED_MAX_DEG,
    )


def q_sqlite_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQLite file intake (`extensions/sqlitefile.py`): from-scratch
    b-tree/record/overflow parsing of .sqlite blobs — one canonical-
    JSON row per record, INTEGER PRIMARY KEY rowid-alias substitution,
    512-byte pages so long names exercise overflow chains; every 17th
    blob truncates and must surface as ONE err=1 quarantine row. The
    stdlib sqlite3 module authors the fixture blobs (reference
    implementation, the arrowipc pattern); the reader under test
    never touches it."""
    from trollflow2_spark.extensions.sqlitefile import read_sqlite_blobs

    docs = load_table(spark, sf_dir, "documents").select("doc_id").repartition(
        spark.sparkContext.defaultParallelism
    )
    blob_schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("blob", T.BinaryType()),
        ]
    )

    def make_blobs(batches):
        import pandas as pd

        from trollflow2_spark.extensions.sqlitefile import write_sqlite_blob

        sql = (
            "CREATE TABLE t(id INTEGER PRIMARY KEY, name TEXT, "
            "score REAL, data BLOB, flag INTEGER, big INTEGER)"
        )
        for pdf in batches:
            blobs = []
            for d in pdf["doc_id"]:
                d = int(d)
                rows = []
                for j in range(2 + d % 3):
                    name = (
                        None
                        if (d + j) % 7 == 0
                        else (
                            "L" * (600 + d % 100)
                            if (j == 0 and d % 5 == 0)
                            else f"row-{(d + j) % 20}"
                        )
                    )
                    big = (1 + d % 1000) << (8 * ((d + j) % 7))
                    rows.append(
                        (
                            d * 10 + j,
                            name,
                            (d * j % 97) / 10.0,
                            bytes([d % 256, j, 255]),
                            j % 2,
                            -big if j % 2 else big,
                        )
                    )
                blob = write_sqlite_blob(sql, "t", rows)
                if d % 17 == 0:
                    blob = blob[:50]
                blobs.append(blob)
            yield pd.DataFrame({"doc_id": pdf["doc_id"], "blob": blobs})

    blobs = docs.mapInPandas(make_blobs, blob_schema)
    parsed = read_sqlite_blobs(blobs, "t")
    j = F.from_json(
        F.col("json"),
        "id bigint, name string, score double, data string, "
        "flag bigint, big bigint",
    )
    return parsed.select(
        "doc_id",
        "rowid",
        F.col("error").isNotNull().cast("int").alias("err"),
        j["id"].alias("id"),
        j["name"].alias("name"),
        j["score"].alias("score"),
        j["data"].alias("data_hex"),
        j["flag"].alias("flag"),
        j["big"].alias("big"),
    )


def q_bson_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BSON/mongodump intake (`extensions/bson.py`): from-scratch wire
    decode of concatenated BSON documents — ObjectId/datetime/binary/
    nested docs/arrays to canonical JSON in one Arrow pass, downstream
    cuts native from_json; every 17th dump truncates and must surface
    as ONE err=1 quarantine row."""
    from trollflow2_spark.extensions.bson import read_bson_dump

    docs = load_table(spark, sf_dir, "documents").select("doc_id").repartition(
        spark.sparkContext.defaultParallelism
    )
    blob_schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("blob", T.BinaryType()),
        ]
    )

    def make_blobs(batches):
        import pandas as pd

        from trollflow2_spark.extensions.bson import (
            ObjectId,
            UtcDatetime,
            pack_dump,
        )

        for pdf in batches:
            blobs = []
            for d in pdf["doc_id"]:
                d = int(d)
                records = []
                for j in range(2 + d % 3):
                    big = (1 + d % 1000) << (8 * ((d + j) % 7))
                    records.append(
                        {
                            "_id": ObjectId(
                                (d * 1000 + j).to_bytes(12, "big")
                            ),
                            "seq": d * 10 + j,
                            "big": -big if j % 2 else big,
                            "name": (
                                None
                                if (d + j) % 7 == 0
                                else f"row-{(d + j) % 20}"
                            ),
                            "score": (d * j % 97) / 10.0,
                            "tags": [f"t{k}" for k in range(j % 3)],
                            "meta": {
                                "flag": j % 2 == 1,
                                "bin": bytes([d % 256, j, 254]),
                            },
                            "ts": UtcDatetime(1700000000000 + d * 1000 + j),
                        }
                    )
                blob = pack_dump(records)
                if d % 17 == 0:
                    blob = blob[:25]
                blobs.append(blob)
            yield pd.DataFrame({"doc_id": pdf["doc_id"], "blob": blobs})

    blobs = docs.mapInPandas(make_blobs, blob_schema)
    parsed = read_bson_dump(blobs)
    j = F.from_json(
        F.col("json"),
        "_id string, seq bigint, big bigint, name string, score double, "
        "tags array<string>, meta struct<flag:boolean, bin:string>, "
        "ts bigint",
    )
    return parsed.select(
        "doc_id",
        "idx",
        F.col("error").isNotNull().cast("int").alias("err"),
        j["_id"].alias("oid"),
        j["seq"].alias("seq"),
        j["big"].alias("big"),
        j["name"].alias("name"),
        j["score"].alias("score"),
        F.size(j["tags"]).alias("n_tags"),
        j["meta"]["flag"].cast("int").alias("flag"),
        j["meta"]["bin"].alias("bin_hex"),
        j["ts"].alias("ts_ms"),
    )


def q_point_in_polygon(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Geofence tagging (`extensions/geo.py::point_in_polygon`):
    customer points ray-cast against the shared integer-vertex
    polygon catalog (a concave shape, a polygon with a hole, a
    triangle) as ZERO-shuffle scan-stage Column algebra — all-integer
    crossing tests, no float flap. The oracle is the naive
    edges-cross-join parity count."""
    from trollflow2_spark.extensions.geo import point_in_polygon

    cust = load_table(spark, sf_dir, "customer").select("c_custkey")
    c = F.col("c_custkey")
    points = cust.select(
        c.alias("point_id"),
        ((c * 17) % 360 - 180 + 0.25).alias("lon"),
        ((c * 3) % 120 - 60 + 0.25).alias("lat"),
    )
    out = point_in_polygon(
        points, C.PIP_POLYGONS, "lon", "lat", scale=C.PIP_SCALE
    )
    return out.select(
        "point_id",
        "poly_id",
        F.round(F.col("lon"), 2).alias("lon"),
        F.round(F.col("lat"), 2).alias("lat"),
    )


def q_geohash_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Geohash bucketing (`functions/geometry.py::geohash_encode`):
    base-32 cell ids as pure Column bit algebra — the spatial
    shuffle/partition key every geo pipeline wants (join on a prefix
    = co-locate a cell neighborhood). Emits the 8-char hash and its
    4-char parent cell per customer point; the oracle replays the
    identical interleave arithmetic in SQL."""
    from trollflow2_spark.functions.geometry import geohash_encode

    cust = load_table(spark, sf_dir, "customer").select("c_custkey")
    c = F.col("c_custkey")
    points = cust.select(
        c.alias("point_id"),
        ((c * 17) % 360 - 180 + 0.25).alias("lon"),
        ((c * 3) % 120 - 60 + 0.25).alias("lat"),
    )
    gh = geohash_encode(F.col("lon"), F.col("lat"), precision=8)
    return points.select(
        "point_id",
        gh.alias("gh8"),
        F.substring(gh, 1, 4).alias("cell4"),
    )


def q_seasonal_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hour-of-day seasonality of event volume per type
    (`extensions/profile.py::seasonal_profile`): centered-MA trend as
    a literal lag/lead chain, DECIMAL-exact detrended phase means,
    centered seasonal indices — one window shuffle + two hash aggs to
    a period-cardinality table."""
    from trollflow2_spark.extensions.profile import seasonal_profile

    ev = load_table(spark, sf_dir, "events")
    hourly = ev.groupBy(
        "event_type", F.date_trunc("hour", F.col("ts")).alias("bucket")
    ).agg(F.count(F.lit(1)).cast("double").alias("y"))
    hourly = hourly.withColumn("phase", F.hour("bucket"))
    return seasonal_profile(
        hourly, ["event_type"], "bucket", "phase", "y", period=24
    )


def q_activity_streaks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gaps-and-islands (`extensions/windows.py::gaps_islands`):
    maximal runs of consecutive active DAYS per user — the streak
    readout. One exchange end to end (window and agg share the user
    key); day indices are exact integers."""
    from trollflow2_spark.extensions.windows import gaps_islands

    ev = load_table(spark, sf_dir, "events")
    days = ev.select(
        "user_id",
        F.datediff(
            F.col("ts").cast("date"), F.lit("1970-01-01").cast("date")
        ).alias("day_idx"),
    )
    return gaps_islands(
        days, ["user_id"], "day_idx", min_length=C.STREAK_MIN_DAYS
    )


def q_peak_concurrency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sweep-line interval overlap (`extensions/windows.py::
    peak_concurrency`): peak concurrent synthetic sessions per event
    type (each event holds a slot for event_id%7+1 minutes), with the
    inclusive starts-before-ends tie rule and the earliest peak
    instant via one min_by."""
    from trollflow2_spark.extensions.windows import peak_concurrency

    ev = load_table(spark, sf_dir, "events")
    iv = ev.select(
        "event_type",
        F.col("ts").alias("t0"),
        F.expr("ts + make_dt_interval(0, 0, event_id % 7 + 1, 0)").alias(
            "t1"
        ),
    )
    return peak_concurrency(iv, ["event_type"], "t0", "t1")


def q_geojson_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GeoJSON FeatureCollection intake (`extensions/geojson.py`):
    per-feature bbox, shoelace areas with hole subtraction, and the
    RFC 7946 exterior-winding audit, all computed at the byte
    boundary; every 17th document truncates to ONE err=1 quarantine
    row. Fixture coordinates are binary-exact (integers + quarter
    offsets), so areas replay exactly. r13 adds a MultiPolygon whose
    SECOND exterior flips winding on d%4==1 docs — the RFC 7946
    audit must check every exterior ring, not just the first."""
    from trollflow2_spark.extensions.geojson import read_geojson

    docs = load_table(spark, sf_dir, "documents").select("doc_id").repartition(
        spark.sparkContext.defaultParallelism
    )
    text_schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("text", T.StringType()),
        ]
    )

    def make_docs(batches):
        import json as _json

        import pandas as pd

        for pdf in batches:
            texts = []
            for d in pdf["doc_id"]:
                d = int(d)
                x0, y0 = d % 100, d % 40
                w, h = 1 + d % 5, 2 + d % 3
                ring = [
                    [x0, y0],
                    [x0 + w, y0],
                    [x0 + w, y0 + h],
                    [x0, y0 + h],
                    [x0, y0],
                ]
                if d % 2 == 1:
                    ring = ring[::-1]  # clockwise exterior: flagged
                rings = [ring]
                sq1 = [
                    [200, 0], [201, 0], [201, 1], [200, 1], [200, 0],
                ]
                sq2 = [
                    [203, 0], [204, 0], [204, 1], [203, 1], [203, 0],
                ]
                if d % 3 == 0:
                    rings.append(
                        [
                            [x0 + 0.25, y0 + 0.25],
                            [x0 + 0.5, y0 + 0.25],
                            [x0 + 0.5, y0 + 0.5],
                            [x0 + 0.25, y0 + 0.5],
                            [x0 + 0.25, y0 + 0.25],
                        ]
                    )
                fc = {
                    "type": "FeatureCollection",
                    "features": [
                        {
                            "type": "Feature",
                            "geometry": {
                                "type": "Point",
                                "coordinates": [
                                    d % 360 - 180 + 0.5,
                                    d % 120 - 60 + 0.5,
                                ],
                            },
                            "properties": {
                                "name": f"p{d % 50}",
                                "rank": d % 9,
                            },
                        },
                        {
                            "type": "Feature",
                            "geometry": {
                                "type": "Polygon",
                                "coordinates": rings,
                            },
                            "properties": {},
                        },
                        {
                            "type": "Feature",
                            "geometry": {
                                "type": "LineString",
                                "coordinates": [
                                    [0, 0],
                                    [d % 10, 0],
                                    [d % 10, d % 7],
                                ],
                            },
                            "properties": {},
                        },
                        {
                            # two unit squares; the SECOND exterior
                            # flips winding on d%4==1 docs — the
                            # all-exterior-rings audit must flag it
                            "type": "Feature",
                            "geometry": {
                                "type": "MultiPolygon",
                                "coordinates": [
                                    [sq1],
                                    [
                                        sq2
                                        if d % 4 != 1
                                        else sq2[::-1]
                                    ],
                                ],
                            },
                            "properties": {},
                        },
                    ],
                }
                text = _json.dumps(fc)
                if d % 17 == 0:
                    text = text[: len(text) // 2]
                texts.append(text)
            yield pd.DataFrame({"doc_id": pdf["doc_id"], "text": texts})

    texts = docs.mapInPandas(make_docs, text_schema)
    parsed = read_geojson(texts)
    p = F.from_json(F.col("props"), "name string, rank bigint")
    return parsed.select(
        "doc_id",
        "feat_idx",
        F.col("error").isNotNull().cast("int").alias("err"),
        "gtype",
        "n_points",
        "n_rings",
        "bbox_xmax",
        "bbox_ymax",
        F.round(F.col("area"), 6).alias("area"),
        "ccw",
        p["name"].alias("name"),
        p["rank"].alias("rank"),
    )


def q_winsorized_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust means (`extensions/profile.py::winsorized_stats`):
    exact 5/95 winsorized and trimmed mean of order value per
    priority — one window + one agg on the same shuffle key, ranks
    total-ordered by (value, orderkey) so duplicates cannot flap."""
    from trollflow2_spark.extensions.profile import winsorized_stats

    orders = load_table(spark, sf_dir, "orders")
    return winsorized_stats(
        orders.select("o_orderpriority", "o_totalprice", "o_orderkey"),
        ["o_orderpriority"],
        "o_totalprice",
        ["o_orderkey"],
        p_lo=0.05,
        p_hi=0.95,
    )


def q_join_cardinality_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pre-join key health (`extensions/profile.py::
    join_cardinality_audit`): lineitem ⋈ orders on orderkey — each
    side collapses to a key profile first (map-side-combinable), the
    profiles meet in ONE full-outer equi join, and the report carries
    orphans, fan-outs, worst-case output size and the N:1 class."""
    from trollflow2_spark.extensions.profile import join_cardinality_audit

    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey")
    orders = load_table(spark, sf_dir, "orders").select("o_orderkey")
    return join_cardinality_audit(li, orders, "l_orderkey", "o_orderkey")


def q_ics_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """iCalendar intake (`extensions/ics.py`): RFC 5545 line unfolding,
    TEXT unescaping, DURATION parsing and DAILY-RRULE expansion to
    one row per occurrence; every 17th document truncates to ONE
    err=1 quarantine row. r13 adds a YEARLY event per doc — every
    5th doc a Feb-29 leap rule whose occurrences skip non-leap years
    without consuming COUNT (2020/2024/2028), every 7th an explicit
    BYMONTH/BYMONTHDAY pair."""
    from trollflow2_spark.extensions.ics import read_ics

    docs = load_table(spark, sf_dir, "documents").select("doc_id").repartition(
        spark.sparkContext.defaultParallelism
    )
    text_schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("text", T.StringType()),
        ]
    )

    def make_docs(batches):
        import datetime as _dt

        import pandas as pd

        base1 = _dt.datetime(2024, 1, 1)
        base2 = _dt.datetime(2024, 3, 1, 12)
        for pdf in batches:
            texts = []
            for d in pdf["doc_id"]:
                d = int(d)
                s1 = (base1 + _dt.timedelta(hours=d)).strftime(
                    "%Y%m%dT%H%M%SZ"
                )
                s2 = base2 + _dt.timedelta(minutes=d)
                lines = [
                    "BEGIN:VCALENDAR",
                    "VERSION:2.0",
                    "BEGIN:VEVENT",
                    f"UID:e1-{d}@x",
                    f"SUMMARY:Sync\\, team {d % 10}",
                    f"DTSTART:{s1}",
                    "DURATION:PT1H30M",
                    "END:VEVENT",
                    "BEGIN:VEVENT",
                    f"UID:e2-{d}@x",
                    "SUMMARY:Daily",
                    f"DTSTART:{s2.strftime('%Y%m%dT%H%M%SZ')}",
                    f"DTEND:{(s2 + _dt.timedelta(minutes=45)).strftime('%Y%m%dT%H%M%SZ')}",
                    f"RRULE:FREQ=DAILY;INTERVAL={1 + d % 2};COUNT={2 + d % 4}",
                    "END:VEVENT",
                ]
                mm, dd = 1 + d % 12, 1 + d % 28
                if d % 5 == 0:
                    s3 = "20200229T080000Z"  # leap-day rule
                else:
                    s3 = f"2020{mm:02d}{dd:02d}T080000Z"
                rr = "RRULE:FREQ=YEARLY;COUNT=3"
                if d % 7 == 0 and d % 5 != 0:
                    # explicit BYMONTH/BYMONTHDAY equal to DTSTART:
                    # same expansion, exercises the BY* parse path
                    rr += f";BYMONTH={mm};BYMONTHDAY={dd}"
                lines += [
                    "BEGIN:VEVENT",
                    f"UID:e3-{d}@x",
                    "SUMMARY:Yearly",
                    f"DTSTART:{s3}",
                    "DURATION:PT1H",
                    rr,
                    "END:VEVENT",
                ]
                # r14: the business recurrences beyond plain monthly —
                # nth weekday, last-day-of-month, and from-month-end
                # yearly (all previously quarantined)
                rr4 = [
                    "RRULE:FREQ=MONTHLY;BYDAY=3TH;COUNT=3",
                    "RRULE:FREQ=MONTHLY;BYMONTHDAY=-1;COUNT=3",
                    "RRULE:FREQ=YEARLY;BYMONTH=2;BYMONTHDAY=-1;COUNT=3",
                ][d % 3]
                lines += [
                    "BEGIN:VEVENT",
                    f"UID:e4-{d}@x",
                    "SUMMARY:Biz",
                    "DTSTART:20260101T090000Z",
                    "DURATION:PT30M",
                    rr4,
                    "END:VEVENT",
                ]
                # r15: BYSETPOS / WKST / year-scoped BYDAY — the
                # last recurrence residue after r14 (the
                # "last weekday of month" idiom, the RFC 5545
                # §3.8.5.3 WKST pair, nth-weekday-of-year)
                s5, rr5 = [
                    (
                        "20260101T090000Z",
                        "RRULE:FREQ=MONTHLY;BYDAY=MO,TU,WE,TH,FR;"
                        "BYSETPOS=-1;COUNT=3",
                    ),
                    (
                        "19970805T090000Z",
                        "RRULE:FREQ=WEEKLY;INTERVAL=2;BYDAY=TU,SU;"
                        "WKST=SU;COUNT=4",
                    ),
                    (
                        "20240101T090000Z",
                        "RRULE:FREQ=YEARLY;BYDAY=20MO;COUNT=2",
                    ),
                ][d % 3]
                lines += [
                    "BEGIN:VEVENT",
                    f"UID:e5-{d}@x",
                    "SUMMARY:Biz2",
                    f"DTSTART:{s5}",
                    "DURATION:PT30M",
                    rr5,
                    "END:VEVENT",
                ]
                # r15: EXDATE cancellation + RDATE extra session —
                # previously these properties were silently ignored
                # and cancelled meetings still emitted
                lines += [
                    "BEGIN:VEVENT",
                    f"UID:e6-{d}@x",
                    "SUMMARY:Ops",
                    "DTSTART:20240101T090000Z",
                    "DURATION:PT20M",
                    "RRULE:FREQ=DAILY;COUNT=4",
                    "EXDATE:20240102T090000Z",
                ]
                if d % 2 == 0:
                    lines.append("RDATE:20240110T090000Z")
                lines += [
                    "END:VEVENT",
                    "END:VCALENDAR",
                ]
                text = "\r\n".join(lines)
                if d % 17 == 0:
                    text = text[: len(text) // 2]
                texts.append(text)
            yield pd.DataFrame({"doc_id": pdf["doc_id"], "text": texts})

    texts = docs.mapInPandas(make_docs, text_schema)
    parsed = read_ics(texts)
    return parsed.select(
        "doc_id",
        "uid",
        "summary",
        "occ_idx",
        "occ_start",
        "occ_end",
        "all_day",
        "capped",
        F.col("error").isNotNull().cast("int").alias("err"),
    )


def q_access_log_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Combined-log-format parsing (`extensions/text.py::
    parse_access_log`): synthetic Apache lines built closed-form from
    events, recovered by PURE Column regex in the scan stage — dash
    conventions to NULL, timestamp re-parse, status class, bot UA
    flag; every 17th line is mangled and must surface err=1."""
    from trollflow2_spark.extensions.text import parse_access_log

    ev = load_table(spark, sf_dir, "events")
    e = F.col("event_id")
    u = F.col("user_id")
    status = (
        F.when(e % 7 == 0, F.lit(500))
        .when(e % 7 == 1, F.lit(404))
        .when(e % 7 == 2, F.lit(301))
        .otherwise(F.lit(200))
    )
    ip = F.concat_ws(
        ".",
        (e % 223 + 1).cast("string"),
        (e * 7 % 256).cast("string"),
        (e * 13 % 256).cast("string"),
        (e * 31 % 256).cast("string"),
    )
    user_str = F.when(u % 5 == 0, F.lit("-")).otherwise(
        F.concat(F.lit("u"), (u % 100).cast("string"))
    )
    method = (
        F.when(e % 4 == 0, F.lit("GET"))
        .when(e % 4 == 1, F.lit("POST"))
        .when(e % 4 == 2, F.lit("PUT"))
        .otherwise(F.lit("DELETE"))
    )
    path = F.concat(
        F.lit("/api/"), F.col("event_type"), F.lit("/"),
        (e % 50).cast("string"),
    )
    bytes_str = F.when(status == 301, F.lit("-")).otherwise(
        (e % 5000).cast("string")
    )
    referer = F.when(e % 3 == 0, F.lit("-")).otherwise(
        F.concat(F.lit("https://ref.example/x"), (e % 9).cast("string"))
    )
    ua = F.when(
        u % 10 == 0,
        F.concat(F.lit("crawler-bot/2."), (u % 3).cast("string")),
    ).otherwise(F.lit("Mozilla/5.0 (X11; Linux x86_64)"))
    tstr = F.concat(
        F.date_format(
            F.date_trunc("second", F.col("ts")), "dd/MMM/yyyy:HH:mm:ss"
        ),
        F.lit(" +0000"),
    )
    line = F.concat(
        ip, F.lit(" - "), user_str, F.lit(" ["), tstr, F.lit('] "'),
        method, F.lit(" "), path, F.lit(' HTTP/1.1" '),
        status.cast("string"), F.lit(" "), bytes_str, F.lit(' "'),
        referer, F.lit('" "'), ua, F.lit('"'),
    )
    line = F.when(e % 17 == 0, F.substring(line, 1, 30)).otherwise(line)
    parsed = parse_access_log(ev.select("event_id", line.alias("line")))
    return parsed.select(
        "event_id", "err", "ip", "user", "req_ts", "method", "path",
        "proto", "status", "bytes", "referer", "ua", "status_class",
        "is_bot",
    )


def _luhn_fixture_pan() -> Column:
    """A 16-digit card number per doc, built entirely in Column
    algebra: 2-digit brand prefix + 13 deterministic digits + the
    Luhn check digit (correct on d%3!=1 docs, off by 5 otherwise).
    The identical arithmetic exists in the oracle SQL."""
    d = F.col("doc_id")
    prefix = (
        F.when(d % 4 == 0, F.lit("40"))
        .when(d % 4 == 1, F.lit("51"))
        .when(d % 4 == 2, F.lit("37"))
        .otherwise(F.lit("60"))
    )
    base = F.concat(
        prefix,
        F.lpad((d * 7919 % 10000000000000).cast("string"), 13, "0"),
    )
    s = F.lit(0)
    for j in range(1, 16):
        dig = F.substring(base, j, 1).cast("int")
        if j % 2 == 1:  # odd position from the left doubles (len 15)
            t = dig * 2
            term = F.when(t > 9, t - 9).otherwise(t)
        else:
            term = dig
        s = s + term
    check = (10 - s % 10) % 10
    check = F.when(d % 3 == 1, (check + 5) % 10).otherwise(check)
    return F.concat(base, check.cast("string"))


def q_luhn_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Payment-card exposure audit (`extensions/text.py::luhn_audit`):
    candidate digit runs extracted and Luhn-validated in PURE Column
    algebra, surfaced masked per the PCI display rule with issuer
    class; short digit runs in the same text must not trigger."""
    from trollflow2_spark.extensions.text import luhn_audit

    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    text = F.concat(
        F.lit("acct 1234567 ref "),
        _luhn_fixture_pan(),
        F.lit(" code 999999999999 done"),
    )
    return luhn_audit(docs.select("doc_id", text.alias("text")))


def q_gini_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spend-inequality readout (`extensions/profile.py::
    gini_concentration`): exact Gini of per-customer order spend
    within each nation — DECIMAL rank-weighted sums, one window + one
    agg on the nation key."""
    from trollflow2_spark.extensions.profile import gini_concentration

    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_nationkey"
    )
    spend = (
        orders.groupBy("o_custkey")
        .agg(dsum(F.col("o_totalprice"), 2).alias("spend"))
        .join(
            F.broadcast(cust),
            F.col("o_custkey") == F.col("c_custkey"),
        )
    )
    return gini_concentration(
        spend.select("c_nationkey", "spend", "c_custkey"),
        ["c_nationkey"],
        "spend",
        ["c_custkey"],
    )


def q_tree_flatten(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hierarchy flattening (`extensions/mining.py::
    flatten_hierarchy`): the part catalog as a quad-forest (parent =
    partkey DIV 4, keys ≤3 are roots) resolved to (root, depth,
    materialized path) in log-depth pointer-doubling joins; the
    oracle walks the same tree with a recursive CTE."""
    from trollflow2_spark.extensions.mining import flatten_hierarchy

    part = load_table(spark, sf_dir, "part").select("p_partkey")
    k = F.col("p_partkey")
    edges = part.select(
        k.alias("node"),
        F.when(k <= 3, F.lit(None).cast("long"))
        .otherwise(F.expr("p_partkey DIV 4"))
        .alias("parent"),
    )
    return flatten_hierarchy(edges, max_depth=C.TREE_MAX_DEPTH)


def q_touch_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conversion attribution (`extensions/windows.py::
    touch_attribution`): first/last touch and touch count in the 7
    days before each purchase — ONE range window per user, no
    self-join fan-out."""
    from trollflow2_spark.extensions.windows import touch_attribution

    ev = load_table(spark, sf_dir, "events")
    return touch_attribution(
        ev,
        "user_id",
        "ts",
        "event_type",
        "event_id",
        "purchase",
        C.ATTR_LOOKBACK_S,
    )


def q_posting_lists(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inverted-index artifact (`extensions/text.py::posting_lists`):
    per-(term, doc) tf + ascending position CSV + term df over the
    document corpus, tail terms pruned below df 25."""
    from trollflow2_spark.extensions.text import posting_lists

    docs = load_table(spark, sf_dir, "documents")
    return posting_lists(docs, "doc_id", "text", min_df=C.POSTING_MIN_DF)


def q_critical_path(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DAG critical path (`extensions/mining.py::dag_longest_path`):
    longest weighted dependency chain from the root to every node of
    a 512-node two-parent DAG — bounded-frontier relaxation vs the
    oracle's full path-enumerating recursive CTE."""
    from trollflow2_spark.extensions.mining import dag_longest_path

    part = load_table(spark, sf_dir, "part").select("p_partkey")
    k = F.col("p_partkey")
    base = part.where((k >= 2) & (k < 512))
    e1 = base.select(
        k.alias("child"),
        F.expr("p_partkey DIV 2").alias("parent"),
        (k % 7 + 1).alias("w"),
    )
    e2 = base.select(
        k.alias("child"),
        F.expr("p_partkey DIV 3").alias("parent"),
        (k % 5 + 1).alias("w"),
    )
    root_edge = part.where(k == 1).select(
        k.alias("child"),
        F.lit(0).cast("long").alias("parent"),
        F.lit(1).cast("long").alias("w"),
    )
    edges = e1.unionByName(e2).unionByName(root_edge)
    return dag_longest_path(edges, iterations=C.DAG_MAX_DEPTH_LOGPATH)


def q_knn_label_vote(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-NN classification eval over the embedding store: exact
    cosine top-k per query (the existing broadcast brute-force plan),
    then a majority label vote with the (votes desc, label asc) tie
    rule — the sanity baseline every embedding-quality audit starts
    from. One extra hash agg + one argmax over the k·q-row candidate
    table; the corpus is scanned once."""
    from trollflow2_spark.extensions.similarity import brute_force_topk

    emb = load_table(spark, sf_dir, "embeddings")
    top = brute_force_topk(emb, _query_vectors(emb), k=C.TOPK_K)
    labels = emb.select("vec_id", "label")
    votes = (
        top.join(F.broadcast(labels), "vec_id")
        .groupBy("query_id", "label")
        .agg(F.count(F.lit(1)).alias("votes"))
    )
    key = F.struct(
        (-F.col("votes")).alias("nv"), F.col("label").alias("lb")
    )
    pred = votes.groupBy("query_id").agg(
        F.min_by(F.col("label"), key).alias("predicted"),
        F.max("votes").alias("top_votes"),
    )
    truth = emb.select(
        F.col("vec_id").alias("query_id"), F.col("label").alias("actual")
    )
    return pred.join(F.broadcast(truth), "query_id").select(
        "query_id",
        "actual",
        "predicted",
        "top_votes",
        (F.col("predicted") == F.col("actual")).cast("int").alias("hit"),
    )


SOUNDEX_NAMES = [
    "Smith", "Schmidt", "Pfister", "Robert", "Rupert",
    "Ashcraft", "Tymczak", "Honeyman", "Jackson", "Washington",
]


def q_soundex_blocking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Phonetic blocking keys for record linkage: American Soundex
    (Spark's JVM built-in — the Spark-first choice) over a classic
    name set incl. the H/W-rule cases (Ashcraft, Pfister, Tymczak),
    plus the per-code block size a linkage planner feeds into its
    pair budget. The oracle implements the full algorithm from
    scratch in SQL (translate + H/W removal + run collapse + vowel
    drop), so the built-in is conformance-checked, not trusted."""
    cust = load_table(spark, sf_dir, "customer").select("c_custkey")
    name = F.element_at(
        F.array(*[F.lit(n) for n in SOUNDEX_NAMES]),
        (F.col("c_custkey") % 10 + 1).cast("int"),
    )
    coded = cust.select(
        "c_custkey",
        name.alias("name"),
        F.soundex(name).alias("code"),
    )
    w = Window.partitionBy("code")
    return coded.select(
        "c_custkey", "name", "code",
        F.count(F.lit(1)).over(w).alias("block_size"),
    )


def q_seq_patterns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Length-2 sequential patterns (`extensions/mining.py::
    sequential_pattern_support`): a-THEN-b support across users —
    FIRST(a) < LAST(b) existence algebra, one hash agg + a
    type-enum self-join per user."""
    from trollflow2_spark.extensions.mining import (
        sequential_pattern_support,
    )

    ev = load_table(spark, sf_dir, "events")
    return sequential_pattern_support(
        ev, "user_id", "event_type", ["ts", "event_id"],
        min_support=C.SEQPAT_MIN_SUPPORT,
    )


def q_stock_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zero-clamped running balance (`extensions/windows.py::
    clamped_running_balance`): per event type, signed event values
    folded as stock movements — the max(0, b+x) recurrence computed
    via the prefix-sum/running-min closed form in ONE shuffle (two
    windows over the same sort). Budget-capped to the first 400
    events per type so the row set stays artifact-sized."""
    from trollflow2_spark.extensions.windows import clamped_running_balance

    ev = load_table(spark, sf_dir, "events")
    capped = ev.where(F.col("event_id") < 2000).select(
        "event_type",
        "ts",
        "event_id",
        # signed movement: alternate restock / draw by event parity
        F.when(
            F.col("event_id") % 3 == 0, F.col("value")
        ).otherwise(-F.col("value")).alias("delta"),
    )
    return clamped_running_balance(
        capped, ["event_type"], ["ts", "event_id"], "delta"
    )


def q_revenue_recognition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cent-exact revenue recognition: each order's total spreads
    over 1 + o_orderkey%6 service months — integer cents, floor
    share + largest-remainder cents to the EARLIEST months, so every
    order's schedule sums exactly to its invoice. Pure Column
    sequence/explode in the scan stage; the oracle replays the same
    integer allocation."""
    orders = load_table(spark, sf_dir, "orders")
    n = (F.col("o_orderkey") % 6 + 1).cast("int")
    cents = F.round(F.col("o_totalprice") * 100, 0).cast("long")
    base = orders.select(
        "o_orderkey",
        F.trunc(F.col("o_orderdate").cast("date"), "month").alias("m0"),
        n.alias("n_months"),
        cents.alias("total_cents"),
    )
    j = F.explode(F.sequence(F.lit(0), F.col("n_months") - 1)).alias("j")
    out = base.select("o_orderkey", "m0", "n_months", "total_cents", j)
    share = F.expr("total_cents DIV n_months")  # exact integer floor
    rem = F.col("total_cents") % F.col("n_months")
    amount = share + (F.col("j") < rem).cast("long")
    return out.select(
        "o_orderkey",
        F.col("j").alias("period_idx"),
        F.add_months(F.col("m0"), F.col("j")).alias("period_month"),
        amount.alias("amount_cents"),
        "n_months",
    )


def q_twap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-weighted average value per event type
    (`extensions/profile.py::time_weighted_average`): each reading
    holds until the next, weights are exact integer seconds — the
    honest mean for irregular sampling. One LEAD window per type."""
    from trollflow2_spark.extensions.profile import time_weighted_average

    ev = load_table(spark, sf_dir, "events")
    return time_weighted_average(
        ev, ["event_type"], "ts", ["event_id"], "value"
    )


def q_encoding_advisor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Columnar-encoding advisor (`extensions/profile.py::
    encoding_advisor`): exact distincts + sharded run counts over
    lineitem's write order -> RLE/DICT/PLAIN recommendations."""
    from trollflow2_spark.extensions.profile import encoding_advisor

    li = load_table(spark, sf_dir, "lineitem")
    # the synthetic lineitem is NOT unique on (orderkey, linenumber),
    # so the write order includes the advised columns — ties between
    # fully identical rows cannot move a run boundary
    return encoding_advisor(
        li,
        ["l_returnflag", "l_linestatus", "l_quantity", "l_partkey"],
        [
            "l_orderkey", "l_linenumber", "l_returnflag",
            "l_linestatus", "l_quantity", "l_partkey",
        ],
        bucket_size=C.ENC_ADVISOR_BUCKET,
    )


def q_streaming_balance_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The clamp's mergeable state as an operating procedure
    (`extensions/snapshot.py::balance_replay_state`): the budget-
    capped movement stream splits into 3 time-contiguous REAL
    micro-batches; each appends only (batch_sum, batch_min_prefix)
    per key, and the final read folds offsets — the result must
    equal the one-pass closed form bit-for-bit (the oracle)."""
    from trollflow2_spark.extensions.snapshot import balance_replay_state

    ev = load_table(spark, sf_dir, "events")
    sub = _replay_subset(ev).select(
        "event_id",
        "ts",
        "event_type",
        F.when(F.col("event_id") % 3 == 0, F.col("value"))
        .otherwise(-F.col("value"))
        .alias("delta"),
    )
    rows = sorted(
        sub.collect(), key=lambda r: (r["ts"], r["event_id"])
    )  # budget-capped fixture (control plane)
    seq_rows = [
        {"seq": i, "event_type": r["event_type"], "delta": r["delta"]}
        for i, r in enumerate(rows)
    ]
    n = len(seq_rows)
    cuts = [0, n // 3, 2 * n // 3, n]
    batches = [seq_rows[cuts[i] : cuts[i + 1]] for i in range(3)]
    return balance_replay_state(
        spark,
        batches,
        "seq long, event_type string, delta double",
        ["event_type"],
        "seq",
        "delta",
    )


def q_bitmap_contingency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bitmap-index predicate algebra (`extensions/profile.py::
    bitmap_index`/`bitmap_contingency`): the returnflag × linestatus
    contingency table computed purely from word-level mask ANDs +
    popcounts over two indexes sharing one sharded row numbering.
    The oracle is a direct GROUP BY of the base table — an
    independent algorithm the bitmap math must reproduce exactly."""
    from trollflow2_spark.extensions.profile import (
        bitmap_contingency,
        bitmap_index,
    )

    li = load_table(spark, sf_dir, "lineitem")
    # shared total order: include both indexed columns so duplicate
    # write-keys cannot flap the numbering (encoding_advisor note)
    order_cols = [
        "l_orderkey", "l_linenumber", "l_returnflag",
        "l_linestatus", "l_quantity", "l_partkey",
    ]
    ia = bitmap_index(
        li, "l_returnflag", order_cols, bucket_size=C.ENC_ADVISOR_BUCKET
    )
    ib = bitmap_index(
        li, "l_linestatus", order_cols, bucket_size=C.ENC_ADVISOR_BUCKET
    )
    return bitmap_contingency(ia, ib).select(
        F.col("value_a").alias("returnflag"),
        F.col("value_b").alias("linestatus"),
        "n_rows",
    )


def q_seasonal_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seasonality-aware spike detection (`extensions/profile.py::
    seasonal_anomalies`): hourly event volumes judged against their
    OWN hour-of-day behaviour — centered-MA trend + phase mean
    removed, then the k·MAD robust cut on residuals."""
    from trollflow2_spark.extensions.profile import seasonal_anomalies

    ev = load_table(spark, sf_dir, "events")
    hourly = ev.groupBy(
        "event_type", F.date_trunc("hour", F.col("ts")).alias("bucket")
    ).agg(F.count(F.lit(1)).cast("double").alias("y"))
    hourly = hourly.withColumn("phase", F.hour("bucket"))
    return seasonal_anomalies(
        hourly, ["event_type"], "bucket", "phase", "y",
        period=24, k=C.SEASANOM_K,
    )


def q_iceberg_snapshot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Iceberg metadata-tree reading (`extensions/iceberg.py`): a
    two-snapshot table whose manifests derive from the documents
    table — snapshot 2 drops ten manifests, REWRITES ten with
    status=2 deletions (doc_id%7 files), REUSES ten unchanged and
    adds ten new; manifest lists resolve on the driver, manifest
    Avro decodes distributed through the from-scratch container
    codec, and the per-(snapshot, partition) live rollup must match
    the closed-form oracle for BOTH snapshots (time travel)."""
    from trollflow2_spark.extensions.iceberg import (
        MANIFEST_LIST_SCHEMA,
        snapshot_partition_summary,
    )
    from trollflow2_spark.extensions.avro import write_container

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", (F.col("doc_id") % 40).alias("bucket")
    )
    blob_schema = T.StructType(
        [
            T.StructField("path", T.StringType()),
            T.StructField("blob", T.BinaryType()),
        ]
    )

    def make_manifests(key, pdf):
        import pandas as pd

        from trollflow2_spark.extensions.avro import write_container as wc
        from trollflow2_spark.extensions.iceberg import MANIFEST_SCHEMA

        b = int(key[0])
        ids = sorted(int(d) for d in pdf["doc_id"])

        def entries(status_fn):
            return [
                {
                    "status": status_fn(d),
                    "file_path": f"f-{d}.parquet",
                    "partition": f"p{d % 5}",
                    "record_count": 100 + d % 50,
                    "file_size": 1000 + d % 77,
                }
                for d in ids
            ]

        out = []
        if b <= 29:
            out.append(
                (f"m1-{b}", wc(entries(lambda d: 1), MANIFEST_SCHEMA))
            )
        if 10 <= b <= 19:  # snapshot-2 rewrite with deletions
            out.append(
                (
                    f"m2-{b}",
                    wc(
                        entries(lambda d: 2 if d % 7 == 0 else 0),
                        MANIFEST_SCHEMA,
                    ),
                )
            )
        if b >= 30:  # snapshot-2 additions
            out.append(
                (f"m2add-{b}", wc(entries(lambda d: 1), MANIFEST_SCHEMA))
            )
        return pd.DataFrame(out, columns=["path", "blob"])

    manifests = docs.groupBy("bucket").applyInPandas(
        make_manifests, blob_schema
    )
    snap1_paths = [f"m1-{b}" for b in range(0, 30)]
    snap2_paths = (
        [f"m2-{b}" for b in range(10, 20)]
        + [f"m1-{b}" for b in range(20, 30)]
        + [f"m2add-{b}" for b in range(30, 40)]
    )

    def mlist(paths):
        return write_container(
            [
                {
                    "manifest_path": p,
                    "added_files_count": 0,
                    "deleted_files_count": 0,
                }
                for p in paths
            ],
            MANIFEST_LIST_SCHEMA,
        )

    lists = spark.createDataFrame(
        [("snap-1.avro", mlist(snap1_paths)), ("snap-2.avro", mlist(snap2_paths))],
        blob_schema,
    )
    metadata = {
        "format-version": 2,
        "current-snapshot-id": 2,
        "snapshots": [
            {
                "snapshot-id": 1,
                "timestamp-ms": 1000,
                "manifest-list": "snap-1.avro",
            },
            {
                "snapshot-id": 2,
                "timestamp-ms": 2000,
                "manifest-list": "snap-2.avro",
            },
        ],
    }
    import json as _json

    # the blob store is read by several decode passes (manifest
    # lists, data manifests, delete planes) — cache the Python-encoded
    # fixture ONCE per run instead of re-running the applyInPandas
    # encode per consumer (guide §5; fixture-sized, computed in-run)
    return snapshot_partition_summary(
        spark,
        _json.dumps(metadata),
        _blob_spread(manifests.unionByName(lists)).persist(),
    )


def q_iceberg_snapshot_v2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Iceberg v2 merge-on-read (`extensions/iceberg.py`): snapshot 2
    overlays POSITION-delete files on the same 20 data manifests
    snapshot 1 reads — delete manifests route by manifest-list
    ``content``, delete files decode distributed, and DISTINCT
    (file, pos) per snapshot makes the overlapping second delete
    file (same pos 0 re-deleted, one new pos) count each row once.
    Live rollups must match the closed-form oracle for BOTH
    snapshots: v1 semantics for snapshot 1, subtracted rows for
    snapshot 2."""
    from trollflow2_spark.extensions.avro import write_container
    from trollflow2_spark.extensions.iceberg import (
        MANIFEST_LIST_V2_SCHEMA,
        snapshot_partition_summary,
    )

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", (F.col("doc_id") % 20).alias("bucket")
    )
    blob_schema = T.StructType(
        [
            T.StructField("path", T.StringType()),
            T.StructField("blob", T.BinaryType()),
        ]
    )

    def make_blobs(key, pdf):
        import pandas as pd

        from trollflow2_spark.extensions.avro import write_container as wc
        from trollflow2_spark.extensions.iceberg import (
            DELETE_MANIFEST_SCHEMA,
            MANIFEST_SCHEMA,
            POSITION_DELETE_SCHEMA,
        )

        b = int(key[0])
        ids = sorted(int(d) for d in pdf["doc_id"])
        out = [
            (
                f"v2m-{b}",
                wc(
                    [
                        {
                            "status": 1,
                            "file_path": f"f-{d}.parquet",
                            "partition": f"p{d % 5}",
                            "record_count": 100 + d % 50,
                            "file_size": 1000 + d % 77,
                        }
                        for d in ids
                    ],
                    MANIFEST_SCHEMA,
                ),
            )
        ]
        if b <= 9:
            pos = [
                {"file_path": f"f-{d}.parquet", "pos": p}
                for d in ids
                if d % 3 == 0
                for p in range(d % 4 + 1)
            ]
            out.append((f"pd-{b}", wc(pos, POSITION_DELETE_SCHEMA)))
            out.append(
                (
                    f"v2dm-{b}",
                    wc(
                        [
                            {
                                "status": 1,
                                "file_path": f"pd-{b}",
                                "content": 1,
                                "record_count": len(pos),
                                "file_size": 64 + len(pos),
                            }
                        ],
                        DELETE_MANIFEST_SCHEMA,
                    ),
                )
            )
        if b <= 4:
            # overlapping second delete file: pos 0 again (must
            # dedup) plus one genuinely new position
            pos2 = [
                {"file_path": f"f-{d}.parquet", "pos": p}
                for d in ids
                if d % 6 == 0
                for p in (0, 50 + d % 10)
            ]
            out.append((f"pd2-{b}", wc(pos2, POSITION_DELETE_SCHEMA)))
            out.append(
                (
                    f"v2dm2-{b}",
                    wc(
                        [
                            {
                                "status": 1,
                                "file_path": f"pd2-{b}",
                                "content": 1,
                                "record_count": len(pos2),
                                "file_size": 64 + len(pos2),
                            }
                        ],
                        DELETE_MANIFEST_SCHEMA,
                    ),
                )
            )
        return pd.DataFrame(out, columns=["path", "blob"])

    blobs = docs.groupBy("bucket").applyInPandas(make_blobs, blob_schema)

    def mlist(entries):
        return write_container(
            [
                {
                    "manifest_path": p,
                    "added_files_count": 0,
                    "deleted_files_count": 0,
                    "content": c,
                }
                for p, c in entries
            ],
            MANIFEST_LIST_V2_SCHEMA,
        )

    snap1 = [(f"v2m-{b}", 0) for b in range(20)]
    snap2 = (
        snap1
        + [(f"v2dm-{b}", 1) for b in range(10)]
        + [(f"v2dm2-{b}", 1) for b in range(5)]
    )
    lists = spark.createDataFrame(
        [("v2snap-1.avro", mlist(snap1)), ("v2snap-2.avro", mlist(snap2))],
        blob_schema,
    )
    metadata = {
        "format-version": 2,
        "current-snapshot-id": 2,
        "snapshots": [
            {
                "snapshot-id": 1,
                "timestamp-ms": 1000,
                "manifest-list": "v2snap-1.avro",
            },
            {
                "snapshot-id": 2,
                "timestamp-ms": 2000,
                "manifest-list": "v2snap-2.avro",
            },
        ],
    }
    import json as _json

    # cache the encoded fixture store once per run (see
    # q_iceberg_snapshot) — the v2 read path decodes data manifests,
    # delete manifests AND position-delete blobs from it
    return snapshot_partition_summary(
        spark, _json.dumps(metadata), _blob_spread(blobs.unionByName(lists)).persist()
    )


def q_iceberg_eq_deletes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Iceberg v2 EQUALITY deletes (`extensions/iceberg.py::
    snapshot_partition_summary(equality_id_fields=...)`): the default
    output of Flink CDC writers — delete-file rows are identifier
    tuples masking matching rows of data files with a STRICTLY lower
    sequence number. Fixture: every doc is a data file of d%5+3 rows
    with ids (d*10+j)%1000 at seq 1 (seq 3 for d%4==0 — added after
    the delete, must stay live); one global equality-delete file at
    seq 2 masks every id divisible by 7; per-bucket position-delete
    files at seq 3 delete pos 0 of d%6==0 files — a row masked by
    BOTH forms must count once (d%6==0 files whose pos-0 id is ≡0
    mod 7). Only affected data files decode rows; snapshot 1 (data
    only) must be untouched."""
    from trollflow2_spark.extensions.avro import write_container
    from trollflow2_spark.extensions.iceberg import (
        MANIFEST_LIST_V2_SCHEMA,
        snapshot_partition_summary,
    )

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", (F.col("doc_id") % 20).alias("bucket")
    )
    blob_schema = T.StructType(
        [
            T.StructField("path", T.StringType()),
            T.StructField("blob", T.BinaryType()),
        ]
    )

    _MSEQ = {
        "type": "record",
        "name": "manifest_entry",
        "fields": [
            {"name": "status", "type": "int"},
            {"name": "file_path", "type": "string"},
            {"name": "partition", "type": "string"},
            {"name": "record_count", "type": "long"},
            {"name": "file_size", "type": "long"},
            {"name": "sequence_number", "type": "long"},
        ],
    }
    _DSEQ = {
        "type": "record",
        "name": "delete_manifest_entry",
        "fields": [
            {"name": "status", "type": "int"},
            {"name": "file_path", "type": "string"},
            {"name": "content", "type": "int"},
            {"name": "record_count", "type": "long"},
            {"name": "file_size", "type": "long"},
            {"name": "sequence_number", "type": "long"},
        ],
    }
    _IDROW = {
        "type": "record",
        "name": "data_row",
        "fields": [{"name": "id", "type": "long"}],
    }

    def make_blobs(key, pdf):
        import pandas as pd

        from trollflow2_spark.extensions.avro import write_container as wc
        from trollflow2_spark.extensions.iceberg import (
            POSITION_DELETE_SCHEMA,
        )

        b = int(key[0])
        ids = sorted(int(d) for d in pdf["doc_id"])
        entries = []
        out = []
        for d in ids:
            n = d % 5 + 3
            entries.append(
                {
                    "status": 1,
                    "file_path": f"f-{d}",
                    "partition": f"p{d % 5}",
                    "record_count": n,
                    "file_size": 1000 + d % 77,
                    "sequence_number": 3 if d % 4 == 0 else 1,
                }
            )
            out.append(
                (
                    f"f-{d}",
                    wc(
                        [{"id": (d * 10 + j) % 1000} for j in range(n)],
                        _IDROW,
                    ),
                )
            )
        out.append((f"eqm-{b}", wc(entries, _MSEQ)))
        pos = [
            {"file_path": f"f-{d}", "pos": 0} for d in ids if d % 6 == 0
        ]
        out.append((f"eqpd-{b}", wc(pos, POSITION_DELETE_SCHEMA)))
        out.append(
            (
                f"eqdm-{b}",
                wc(
                    [
                        {
                            "status": 1,
                            "file_path": f"eqpd-{b}",
                            "content": 1,
                            "record_count": len(pos),
                            "file_size": 64,
                            "sequence_number": 3,
                        }
                    ],
                    _DSEQ,
                ),
            )
        )
        return pd.DataFrame(out, columns=["path", "blob"])

    blobs = docs.groupBy("bucket").applyInPandas(make_blobs, blob_schema)

    eq_file = write_container(
        [{"id": k} for k in range(0, 1000, 7)], _IDROW
    )
    eq_dm = write_container(
        [
            {
                "status": 1,
                "file_path": "eq-global",
                "content": 2,
                "record_count": 143,
                "file_size": 64,
                "sequence_number": 2,
            }
        ],
        _DSEQ,
    )

    def mlist(entries):
        return write_container(
            [
                {
                    "manifest_path": p,
                    "added_files_count": 0,
                    "deleted_files_count": 0,
                    "content": c,
                }
                for p, c in entries
            ],
            MANIFEST_LIST_V2_SCHEMA,
        )

    snap1 = [(f"eqm-{b}", 0) for b in range(20)]
    snap2 = (
        snap1
        + [(f"eqdm-{b}", 1) for b in range(20)]
        + [("eqdm-g", 1)]
    )
    import json as _json

    driver_blobs = spark.createDataFrame(
        [
            ("eq-global", eq_file),
            ("eqdm-g", eq_dm),
            ("eqsnap-1.avro", mlist(snap1)),
            ("eqsnap-2.avro", mlist(snap2)),
        ],
        blob_schema,
    )
    metadata = {
        "format-version": 2,
        "current-snapshot-id": 2,
        "snapshots": [
            {
                "snapshot-id": 1,
                "timestamp-ms": 1000,
                "manifest-list": "eqsnap-1.avro",
            },
            {
                "snapshot-id": 2,
                "timestamp-ms": 2000,
                "manifest-list": "eqsnap-2.avro",
            },
        ],
    }
    # cache the encoded fixture store once per run (see
    # q_iceberg_snapshot) — the equality path reads it for manifest
    # lists, both manifest planes, delete rows and affected data files
    return snapshot_partition_summary(
        spark,
        _json.dumps(metadata),
        _blob_spread(blobs.unionByName(driver_blobs)).persist(),
        equality_id_fields=["id"],
    )


def q_iceberg_dv_v3(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Iceberg v3 deletion vectors (`extensions/puffin.py` +
    `extensions/iceberg.py::read_dv_positions`): v3 replaces
    position-delete Avro files with roaring deletion vectors stored
    as ``deletion-vector-v1`` blobs in PUFFIN files, referenced from
    delete manifests by (puffin path, content_offset,
    content_size_in_bytes, referenced_data_file). Fixture: every doc
    is a data file of d%5+3 rows at seq 1 (seq 3 for d%7==0 — added
    after the deletes, must stay untouched); d%3==0 files get a DV
    at seq 2 deleting positions 0..min(d%4, n-1), packed per-bucket
    into REAL Puffin files (magic sandwich + JSON footer + CRC'd
    blobs, offsets taken from the footer round-trip); d%2==0 files
    ALSO carry a leftover v2 position-delete file (pos 0,1) at seq 2
    — where a DV covers the same file the position deletes must be
    SUPERSEDED (DV is the complete mask), elsewhere they apply.
    Snapshot 1 is data-only and must be untouched. The rollup only
    matches the closed-form oracle if the Puffin framing, the DV
    blob CRC/magic/length validation, the roaring decode, the seq
    scoping AND the supersede rule are all right."""
    from trollflow2_spark.extensions.iceberg import (
        DELETE_MANIFEST_V3_SCHEMA,
        MANIFEST_LIST_V2_SCHEMA,
        snapshot_partition_summary,
    )
    from trollflow2_spark.extensions.avro import write_container

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", (F.col("doc_id") % 20).alias("bucket")
    )
    blob_schema = T.StructType(
        [
            T.StructField("path", T.StringType()),
            T.StructField("blob", T.BinaryType()),
        ]
    )
    _MSEQ = {
        "type": "record",
        "name": "manifest_entry",
        "fields": [
            {"name": "status", "type": "int"},
            {"name": "file_path", "type": "string"},
            {"name": "partition", "type": "string"},
            {"name": "record_count", "type": "long"},
            {"name": "file_size", "type": "long"},
            {"name": "sequence_number", "type": "long"},
        ],
    }
    _DSEQ = {
        "type": "record",
        "name": "delete_manifest_entry",
        "fields": [
            {"name": "status", "type": "int"},
            {"name": "file_path", "type": "string"},
            {"name": "content", "type": "int"},
            {"name": "record_count", "type": "long"},
            {"name": "file_size", "type": "long"},
            {"name": "sequence_number", "type": "long"},
        ],
    }

    def make_blobs(key, pdf):
        import pandas as pd

        from trollflow2_spark.extensions.avro import write_container as wc
        from trollflow2_spark.extensions.iceberg import (
            POSITION_DELETE_SCHEMA,
        )
        from trollflow2_spark.extensions.puffin import (
            encode_dv_v3,
            read_puffin_footer,
            write_puffin,
        )

        b = int(key[0])
        ids = sorted(int(d) for d in pdf["doc_id"])
        out = []
        entries = [
            {
                "status": 1,
                "file_path": f"f3-{d}",
                "partition": f"p{d % 5}",
                "record_count": d % 5 + 3,
                "file_size": 1000 + d % 77,
                "sequence_number": 3 if d % 7 == 0 else 1,
            }
            for d in ids
        ]
        out.append((f"m3-{b}", wc(entries, _MSEQ)))

        dv_ids = [d for d in ids if d % 3 == 0]
        dv_entries = []
        if dv_ids:
            puffin_blobs = []
            for d in dv_ids:
                n = d % 5 + 3
                pos = list(range(min(d % 4 + 1, n)))
                puffin_blobs.append(
                    (
                        encode_dv_v3(pos),
                        {
                            "type": "deletion-vector-v1",
                            "fields": [2147483546],
                            "snapshot-id": 2,
                            "sequence-number": 2,
                            "properties": {
                                "referenced-data-file": f"f3-{d}",
                                "cardinality": len(pos),
                            },
                        },
                    )
                )
            puffin = write_puffin(puffin_blobs)
            # offsets from the footer round-trip: the fixture goes
            # through the real framing both ways
            footer = read_puffin_footer(puffin)
            out.append((f"dv3-{b}.puffin", puffin))
            dv_entries = [
                {
                    "status": 1,
                    "file_path": f"dv3-{b}.puffin",
                    "content": 1,
                    "record_count": fb["properties"]["cardinality"],
                    "file_size": len(puffin),
                    "sequence_number": 2,
                    "referenced_data_file": fb["properties"][
                        "referenced-data-file"
                    ],
                    "content_offset": fb["offset"],
                    "content_size_in_bytes": fb["length"],
                }
                for fb in footer["blobs"]
            ]
        # manifests emit even when empty: every bucket's v3m-/pdm3-
        # path appears in the snapshot-2 manifest list, and a listed
        # manifest with no blob would silently drop
        out.append(
            (f"v3m-{b}", wc(dv_entries, DELETE_MANIFEST_V3_SCHEMA))
        )
        pos_rows = [
            {"file_path": f"f3-{d}", "pos": p}
            for d in ids
            if d % 2 == 0
            for p in (0, 1)
        ]
        out.append((f"pd3-{b}", wc(pos_rows, POSITION_DELETE_SCHEMA)))
        out.append(
            (
                f"pdm3-{b}",
                wc(
                    [
                        {
                            "status": 1,
                            "file_path": f"pd3-{b}",
                            "content": 1,
                            "record_count": len(pos_rows),
                            "file_size": 64,
                            "sequence_number": 2,
                        }
                    ],
                    _DSEQ,
                ),
            )
        )
        return pd.DataFrame(out, columns=["path", "blob"])

    blobs = docs.groupBy("bucket").applyInPandas(make_blobs, blob_schema)

    def mlist(entries):
        return write_container(
            [
                {
                    "manifest_path": p,
                    "added_files_count": 0,
                    "deleted_files_count": 0,
                    "content": c,
                }
                for p, c in entries
            ],
            MANIFEST_LIST_V2_SCHEMA,
        )

    snap1 = [(f"m3-{b}", 0) for b in range(20)]
    snap2 = (
        snap1
        + [(f"v3m-{b}", 1) for b in range(20)]
        + [(f"pdm3-{b}", 1) for b in range(20)]
    )
    import json as _json

    driver_blobs = spark.createDataFrame(
        [
            ("dvsnap-1.avro", mlist(snap1)),
            ("dvsnap-2.avro", mlist(snap2)),
        ],
        blob_schema,
    )
    metadata = {
        "format-version": 3,
        "current-snapshot-id": 2,
        "snapshots": [
            {
                "snapshot-id": 1,
                "timestamp-ms": 1000,
                "manifest-list": "dvsnap-1.avro",
            },
            {
                "snapshot-id": 2,
                "timestamp-ms": 2000,
                "manifest-list": "dvsnap-2.avro",
            },
        ],
    }
    # cache the encoded fixture store once per run (see
    # q_iceberg_snapshot)
    return snapshot_partition_summary(
        spark,
        _json.dumps(metadata),
        _blob_spread(blobs.unionByName(driver_blobs)).persist(),
    )


def q_iceberg_partition_transforms(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Iceberg hidden-partitioning transforms (`extensions/iceberg.py::
    partition_projection` + `extensions/murmur3.py`): bucket[16] over
    a 997-value long domain and bucket[8] over the 5 priority
    strings (murmur3_x86_32 with the spec's byte layouts —
    conformance-pinned against the spec's published hashes),
    truncate[100] on custkey, year/month epoch ordinals on the order
    timestamp — rolled up per (long-bucket, year). The oracle joins
    a VALUES table generated from the SAME spec-pinned murmur3 (the
    hash itself is verified against the spec's vectors in pytest;
    the oracle verifies the Spark-side plumbing end to end)."""
    from trollflow2_spark.extensions.iceberg import partition_projection

    orders = load_table(spark, sf_dir, "orders").select(
        (F.col("o_orderkey") % 997).alias("k"),
        "o_custkey",
        "o_orderdate",
        "o_orderpriority",
    )
    proj = partition_projection(
        orders,
        [
            ("b", "k", "bucket", 16),
            ("pb", "o_orderpriority", "bucket", 8),
            ("t", "o_custkey", "truncate", 100),
            ("y", "o_orderdate", "year", None),
            ("m", "o_orderdate", "month", None),
        ],
    )
    return proj.groupBy("b", "y").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.sum("t").alias("sum_trunc"),
        F.sum("pb").alias("sum_pri_bucket"),
        F.min("m").alias("min_month"),
        F.max("m").alias("max_month"),
    )


def q_iceberg_expire_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot-expiry / orphan-file planner (`extensions/iceberg.py::
    expire_snapshots_plan`): snapshot 1 (ts 1000) falls out of the
    ts>=1500/keep-1 retention; its manifest list and per-bucket
    manifests become deletable, and of its data files exactly those
    NOT also listed live by snapshot 2's manifests (the d%3==0 files
    are shared) survive the reachability anti-join into the delete
    list. Manifest lists resolve on the driver; the file-level
    subtraction is one anti-join of two distributed manifest
    decodes."""
    import json as _json

    from trollflow2_spark.extensions.avro import write_container
    from trollflow2_spark.extensions.iceberg import (
        MANIFEST_LIST_V2_SCHEMA,
        expire_snapshots_plan,
    )

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", (F.col("doc_id") % 20).alias("bucket")
    )
    blob_schema = T.StructType(
        [
            T.StructField("path", T.StringType()),
            T.StructField("blob", T.BinaryType()),
        ]
    )

    def make_blobs(key, pdf):
        import pandas as pd

        from trollflow2_spark.extensions.avro import write_container as wc
        from trollflow2_spark.extensions.iceberg import (
            DELETE_MANIFEST_SCHEMA,
            MANIFEST_SCHEMA,
        )

        b = int(key[0])
        ids = sorted(int(d) for d in pdf["doc_id"])

        def entry(path, d):
            return {
                "status": 1,
                "file_path": path,
                "partition": f"p{d % 5}",
                "record_count": 10 + d % 9,
                "file_size": 100 + d % 7,
            }

        m1 = [entry(f"fa-{d}", d) for d in ids]
        m2 = [entry(f"fb-{d}", d) for d in ids] + [
            entry(f"fa-{d}", d) for d in ids if d % 3 == 0
        ]

        # r15: DELETE manifests per snapshot — expired-only delete
        # FILES (pos-delete Avro / eq Avro / DV Puffin all look the
        # same to expiry: paths) must emit as 'delete-file' via the
        # same anti-join; pda- files shared with snapshot 2
        # (d % 12 == 0) survive reachability
        def dentry(path):
            return {
                "status": 1,
                "file_path": path,
                "content": 1,
                "record_count": 1,
                "file_size": 8,
            }

        dm1 = [dentry(f"pda-{d}") for d in ids if d % 4 == 0]
        dm2 = [dentry(f"pdb-{d}") for d in ids if d % 4 == 0] + [
            dentry(f"pda-{d}") for d in ids if d % 12 == 0
        ]
        return pd.DataFrame(
            [
                (f"em1-{b}", wc(m1, MANIFEST_SCHEMA)),
                (f"em2-{b}", wc(m2, MANIFEST_SCHEMA)),
                (f"edm1-{b}", wc(dm1, DELETE_MANIFEST_SCHEMA)),
                (f"edm2-{b}", wc(dm2, DELETE_MANIFEST_SCHEMA)),
            ],
            columns=["path", "blob"],
        )

    blobs = docs.groupBy("bucket").applyInPandas(make_blobs, blob_schema)

    def mlist(entries):
        return write_container(
            [
                {
                    "manifest_path": p,
                    "added_files_count": 0,
                    "deleted_files_count": 0,
                    "content": c,
                }
                for p, c in entries
            ],
            MANIFEST_LIST_V2_SCHEMA,
        )

    lists = spark.createDataFrame(
        [
            (
                "exsnap-1.avro",
                mlist(
                    [(f"em1-{b}", 0) for b in range(20)]
                    + [(f"edm1-{b}", 1) for b in range(20)]
                ),
            ),
            (
                "exsnap-2.avro",
                mlist(
                    [(f"em2-{b}", 0) for b in range(20)]
                    + [(f"edm2-{b}", 1) for b in range(20)]
                ),
            ),
        ],
        blob_schema,
    )
    metadata = _json.dumps(
        {
            "format-version": 2,
            "current-snapshot-id": 2,
            "snapshots": [
                {
                    "snapshot-id": 1,
                    "timestamp-ms": 1000,
                    "manifest-list": "exsnap-1.avro",
                },
                {
                    "snapshot-id": 2,
                    "timestamp-ms": 2000,
                    "manifest-list": "exsnap-2.avro",
                },
            ],
        }
    )
    # cache the encoded fixture store once per run (see
    # q_iceberg_snapshot) — expiry decodes expired AND retained
    # manifest sets for two content planes from it
    return expire_snapshots_plan(
        spark,
        metadata,
        _blob_spread(blobs.unionByName(lists)).persist(),
        expire_before_ms=1500,
        keep_last=1,
    )


def q_spatial_join_pip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grid-bucketed point-in-polygon JOIN (`extensions/geo.py::
    spatial_join_points_in_polygons`): polygons as DATA, not plan
    literals — 12 closed-form diamonds explode onto covering grid
    cells, customers land in exactly one cell each, the candidate
    equi-join carries no cartesian, and the ray-cast verify is a
    pure Column fold over the ring array. Quarter-aligned points vs
    .625-radius diamonds keep every comparison exact-binary, and
    the oracle is the CLOSED-FORM L1 diamond test — a different
    algorithm agreeing exactly."""
    from trollflow2_spark.extensions.geo import (
        spatial_join_points_in_polygons,
    )

    cust = load_table(spark, sf_dir, "customer")
    k = F.col("c_custkey")
    pts = cust.select(
        "c_custkey",
        (k % 100 + 0.25).alias("x"),
        (k % 60 + 0.25).alias("y"),
    )
    diamonds = []
    for j in range(12):
        cx, cy = float(j * 17 % 100), float(j * 11 % 60)
        r = 1.625 + (j % 4)
        ring = [
            (cx + r, cy),
            (cx, cy + r),
            (cx - r, cy),
            (cx, cy - r),
            (cx + r, cy),
        ]
        diamonds.append((f"d{j}", [{"x": x, "y": y} for x, y in ring]))
    polys = spark.createDataFrame(
        diamonds,
        "poly_id string, ring array<struct<x: double, y: double>>",
    )
    out = spatial_join_points_in_polygons(
        pts, polys, cell=4.0, x_col="x", y_col="y"
    )
    return out.select("c_custkey", "x", "y", "poly_id")


def q_dbscan_blobs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grid-bucketed exact DBSCAN (`extensions/clustering.py::
    dbscan_grid`): two planted 5x5 grid blobs (spacing 0.5, eps
    0.75, min_pts 4 — every blob point is core, incl. corners at
    exactly min_pts) plus far-apart noise; deterministic cluster ids
    = min doc_id per blob. The oracle assigns membership by
    construction — a different derivation agreeing exactly."""
    from trollflow2_spark.extensions.clustering import dbscan_grid

    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    d = F.col("doc_id")
    g = d % 7
    q = F.floor(d / 7)
    pts = docs.select(
        d.alias("id"),
        F.when(
            g < 2, (g * 100 + (q % 5) * 0.5).cast("double")
        ).otherwise((1000 + d * 10).cast("double")).alias("x"),
        F.when(
            g < 2, ((F.floor(q / 5) % 5) * 0.5).cast("double")
        ).otherwise((5000 + d * 10).cast("double")).alias("y"),
    )
    return dbscan_grid(pts, eps=0.75, min_pts=4)


def q_dbscan_blobs_3d(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-D DBSCAN (`extensions/clustering.py::dbscan_grid_kd`): two
    planted 3x3x3 blobs (spacing 0.5, eps 0.75 — axis and face-
    diagonal neighbors are in range, space diagonals are not) plus
    far-apart noise, clustered over a 3-column cell key with 27
    neighbor cells per point. min_pts=5: cube corners have 6
    in-range neighbors, so every blob point is core. Cluster ids =
    min doc_id per blob; the oracle assigns membership by
    construction."""
    from trollflow2_spark.extensions.clustering import dbscan_grid_kd

    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    d = F.col("doc_id")
    g = d % 7
    q = F.floor(d / 7)
    pts = docs.select(
        d.alias("id"),
        F.when(
            g < 2, (g * 100 + (q % 3) * 0.5).cast("double")
        ).otherwise((1000 + d * 10).cast("double")).alias("x"),
        F.when(
            g < 2, ((F.floor(q / 3) % 3) * 0.5).cast("double")
        ).otherwise((5000 + d * 10).cast("double")).alias("y"),
        F.when(
            g < 2, ((F.floor(q / 9) % 3) * 0.5).cast("double")
        ).otherwise((9000 + d * 10).cast("double")).alias("z"),
    )
    return dbscan_grid_kd(
        pts, eps=0.75, min_pts=5, coord_cols=["x", "y", "z"]
    )


def q_latency_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact p50/p95/p99 (`extensions/profile.py::exact_quantiles`):
    per-event-type value quantiles with percentile-interpolation
    semantics, computed by GK-bracket selection — no per-group sort
    of the full column ever happens; only ~10 % bracket slices rank.
    The oracle is quantile_cont, a different algorithm agreeing
    exactly."""
    from trollflow2_spark.extensions.profile import exact_quantiles

    ev = load_table(spark, sf_dir, "events")
    return exact_quantiles(
        ev.select("event_type", F.col("value").cast("double").alias("v")),
        ["event_type"],
        "v",
        [0.5, 0.95, 0.99],
    )


def q_dictionary_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Aho-Corasick dictionary scan (`extensions/dictmatch.py`):
    multi-word phrase matching in one pass per document — the scale
    path for production blocklists where per-token array_contains is
    O(|dict|)/token and regex alternation goes pathological. Fixture
    plants 'spam'/'click here'/'free money' with closed-form counts;
    the dominant phrase ties to lexicographic order."""
    from trollflow2_spark.extensions.dictmatch import dictionary_match

    docs = load_table(spark, sf_dir, "documents").select("doc_id").repartition(
        spark.sparkContext.defaultParallelism
    )
    d = F.col("doc_id")
    text = F.concat(
        F.repeat(F.lit("spam "), (d % 4).cast("int")),
        F.lit("regular words "),
        F.repeat(F.lit("click here "), (d % 3).cast("int")),
        F.when(d % 7 == 0, F.lit("free money! ")).otherwise(F.lit("")),
        F.lit("trailing"),
    )
    fixture = docs.select("doc_id", text.alias("text"))
    return dictionary_match(
        fixture, ["spam", "click here", "free money"]
    )


def q_dictmatch_bigdict(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Large-gazetteer stress twin of `dictionary_match`: the same 3
    planted phrases plus ~30k never-matching ones, pushing the
    automaton over the explicit-broadcast threshold (one ship per
    executor, not one pickle per task). Aho-Corasick is O(len +
    matches) per document regardless of dictionary size, so this
    must stay in the same time class as the 3-phrase query — and its
    output (same oracle) must be identical."""
    from trollflow2_spark.extensions.dictmatch import dictionary_match

    docs = load_table(spark, sf_dir, "documents").select("doc_id").repartition(
        spark.sparkContext.defaultParallelism
    )
    d = F.col("doc_id")
    text = F.concat(
        F.repeat(F.lit("spam "), (d % 4).cast("int")),
        F.lit("regular words "),
        F.repeat(F.lit("click here "), (d % 3).cast("int")),
        F.when(d % 7 == 0, F.lit("free money! ")).otherwise(F.lit("")),
        F.lit("trailing"),
    )
    fixture = docs.select("doc_id", text.alias("text"))
    # 'zq…x' tokens never occur in the fixture text; multi-word forms
    # exercise deep trie paths and failure links
    noise = [f"zq{i}x never {i} matches" for i in range(30_000)]
    return dictionary_match(
        fixture, ["spam", "click here", "free money"] + noise
    )


def q_cbor_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CBOR sequence intake (`extensions/cbor.py`, RFC 8949 from
    scratch): per doc a 3-item sequence — a definite map (ints,
    negatives, bytes, nested array with true/null), a tag-1 epoch
    int, and an INDEFINITE-length text string — decoded to one
    canonical sorted-key JSON row per item; every 17th document
    truncates mid-map into ONE err=1 quarantine row. The oracle
    restates the exact canonical JSON strings closed-form."""
    from trollflow2_spark.extensions.cbor import read_cbor

    docs = load_table(spark, sf_dir, "documents").select("doc_id").repartition(
        spark.sparkContext.defaultParallelism
    )
    blob_schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("blob", T.BinaryType()),
        ]
    )

    def make_blobs(batches):
        import pandas as pd

        from trollflow2_spark.extensions.cbor import encode

        for pdf in batches:
            blobs = []
            for d in pdf["doc_id"]:
                d = int(d)
                item0 = encode(
                    {
                        "arr": [d % 3, True, None],
                        "bin": bytes([d % 256, 255]),
                        "id": d,
                        "neg": -(d % 50) - 1,
                        "txt": f"s{d % 7}",
                    }
                )
                item1 = b"\xc1" + encode(d)  # tag 1: epoch seconds
                item2 = (
                    b"\x7f" + encode("ch") + encode(str(d % 10)) + b"\xff"
                )  # indefinite text chunks
                blob = item0 + item1 + item2
                blobs.append(blob[: len(blob) // 2] if d % 17 == 0 else blob)
            yield pd.DataFrame({"doc_id": pdf["doc_id"], "blob": blobs})

    blobs = docs.mapInPandas(make_blobs, blob_schema)
    out = read_cbor(blobs)
    return out.select(
        "doc_id",
        "item_idx",
        F.col("error").isNotNull().cast("int").alias("err"),
        "json",
    )


def q_cdc_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot-diff change feed (`extensions/profile.py::
    cdc_extract` — the inverse of `cdc_apply`): two closed-form
    customer dumps (13ths new, 17ths dropped, 5ths rebalanced)
    classified I/U/D with old+new values; unchanged rows never
    emitted."""
    from trollflow2_spark.extensions.profile import cdc_extract

    cust = load_table(spark, sf_dir, "customer")
    k = F.col("c_custkey")
    old = cust.where(k % 13 != 0).select(
        "c_custkey", "c_acctbal", "c_mktsegment"
    )
    new = cust.where(k % 17 != 0).select(
        "c_custkey",
        F.when(k % 5 == 0, F.col("c_acctbal") + 100.0)
        .otherwise(F.col("c_acctbal"))
        .alias("c_acctbal"),
        "c_mktsegment",
    )
    return cdc_extract(
        old, new, ["c_custkey"], ["c_acctbal", "c_mktsegment"]
    )


def q_quantile_transform(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rank-based quantile normalization (`extensions/profile.py::
    quantile_transform`): order values to uniform (0,1) midrank
    scores per priority — ties share one score, single exchange."""
    from trollflow2_spark.extensions.profile import quantile_transform

    orders = load_table(spark, sf_dir, "orders")
    return quantile_transform(
        orders.select("o_orderpriority", "o_totalprice"),
        ["o_orderpriority"],
        "o_totalprice",
    )


def q_target_encoding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leave-one-out target encoding (`extensions/profile.py::
    target_encoding_loo`): account balance encoded by market segment
    with each row excluded from its own mean — the leakage-safe
    categorical encoder."""
    from trollflow2_spark.extensions.profile import target_encoding_loo

    cust = load_table(spark, sf_dir, "customer")
    return target_encoding_loo(
        cust.select("c_mktsegment", "c_acctbal"),
        "c_mktsegment",
        "c_acctbal",
    )


def q_theil_sen_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust daily-revenue trend (`extensions/profile.py::
    theil_sen_trend`): Theil-Sen median slope + the Mann-Kendall
    tie-corrected test per priority, over the same exact daily
    series `linear_trend` fits — the bounded-cardinality series
    contract (the O(n²) pair table is ~2.9M rows per group at this
    series length, all from one equi join)."""
    from trollflow2_spark.extensions.profile import theil_sen_trend

    orders = load_table(spark, sf_dir, "orders")
    daily = orders.groupBy(
        F.col("o_orderpriority").alias("priority"),
        F.datediff(
            F.col("o_orderdate").cast("date"), F.lit("1970-01-01").cast("date")
        ).alias("day_idx"),
    ).agg(dsum(F.col("o_totalprice"), 2).alias("revenue"))
    return theil_sen_trend(daily, ["priority"], "day_idx", "revenue")


def q_hodges_lehmann(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust location estimate (`extensions/profile.py::
    hodges_lehmann`): median of all Walsh averages of the daily
    revenue series per priority — the location twin of
    `theil_sen_trend`, sharing its broadcast pair stage and the
    GK-bracket distributed exact median."""
    from trollflow2_spark.extensions.profile import hodges_lehmann

    orders = load_table(spark, sf_dir, "orders")
    daily = orders.groupBy(
        F.col("o_orderpriority").alias("priority"),
        F.datediff(
            F.col("o_orderdate").cast("date"), F.lit("1970-01-01").cast("date")
        ).alias("day_idx"),
    ).agg(dsum(F.col("o_totalprice"), 2).alias("revenue"))
    return hodges_lehmann(daily, ["priority"], "revenue", "day_idx")


def q_wilcoxon_shift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Paired-shift test (`extensions/profile.py::
    wilcoxon_signed_rank`): week-over-week daily revenue pairs per
    priority (day d paired with day d+7) — did revenue shift? Zero
    diffs drop; midranks ride the distinct-|d| cumulative table as
    doubled integers, so W+ replays bit-for-bit; tie-corrected
    variance + continuity-corrected z."""
    from trollflow2_spark.extensions.profile import (
        wilcoxon_signed_rank,
    )

    orders = load_table(spark, sf_dir, "orders")
    daily = orders.groupBy(
        F.col("o_orderpriority").alias("priority"),
        F.datediff(
            F.col("o_orderdate").cast("date"), F.lit("1970-01-01").cast("date")
        ).alias("day_idx"),
    ).agg(dsum(F.col("o_totalprice"), 2).alias("revenue"))
    nxt = daily.select(
        F.col("priority").alias("p2"),
        (F.col("day_idx") - 7).alias("d2"),
        F.col("revenue").alias("after"),
    )
    paired = daily.join(
        nxt,
        (F.col("priority") == F.col("p2"))
        & (F.col("day_idx") == F.col("d2")),
    ).select("priority", F.col("revenue").alias("before"), "after")
    return wilcoxon_signed_rank(paired, ["priority"], "before", "after")


def q_kendall_tau(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Monotone association (`extensions/profile.py::kendall_tau_b`):
    τ-b between daily revenue and daily order count per priority —
    concordant/discordant pairs over the same broadcast pair stage
    as Theil-Sen, tie pairs from per-value hash aggs (no pair table
    for ties)."""
    from trollflow2_spark.extensions.profile import kendall_tau_b

    orders = load_table(spark, sf_dir, "orders")
    daily = orders.groupBy(
        F.col("o_orderpriority").alias("priority"),
        F.datediff(
            F.col("o_orderdate").cast("date"), F.lit("1970-01-01").cast("date")
        ).alias("day_idx"),
    ).agg(
        dsum(F.col("o_totalprice"), 2).alias("revenue"),
        F.count(F.lit(1)).alias("n_orders"),
    )
    return kendall_tau_b(
        daily, ["priority"], "revenue", "n_orders", "day_idx"
    )


def q_logrank_ab(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Log-rank A/B test (`extensions/profile.py::logrank_test`):
    signup->purchase survival compared between even/odd users within
    each cohort — censoring-aware significance where naive
    conversion-rate comparisons are biased by follow-up length.
    Risk sets ride integer windows over the distinct-time table;
    E/V terms decimal-sum."""
    from trollflow2_spark.extensions.profile import logrank_test

    ev = load_table(spark, sf_dir, "events")
    per_user = ev.groupBy("user_id").agg(
        F.min("ts").alias("__first"),
        F.min(
            F.when(F.col("event_type") == "purchase", F.col("ts"))
        ).alias("__p"),
        F.max("ts").alias("__last"),
    )
    end = F.when(F.col("__p").isNotNull(), F.col("__p")).otherwise(
        F.col("__last")
    )
    subj = per_user.select(
        (F.col("user_id") % 3).alias("cohort"),
        F.when(F.col("user_id") % 2 == 0, F.lit("A"))
        .otherwise(F.lit("B"))
        .alias("arm"),
        F.floor(
            (F.unix_timestamp(end) - F.unix_timestamp(F.col("__first")))
            / 3600.0
        )
        .cast("int")
        .alias("duration"),
        F.col("__p").isNotNull().cast("int").alias("event"),
    )
    return logrank_test(subj, ["cohort"], "arm")


def q_conversion_time(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-to-convert (`extensions/windows.py::
    conversion_time_stats`): signup -> first subsequent purchase per
    user, rolled to weekly start cohorts with conversion rate and
    p50/p90 durations — two conditional min-aggs, no self-join
    fan-out."""
    from trollflow2_spark.extensions.windows import conversion_time_stats

    ev = load_table(spark, sf_dir, "events")
    return conversion_time_stats(
        ev,
        "user_id",
        "ts",
        "event_type",
        "signup",
        "purchase",
        group_expr=F.expr("started DIV 604800"),
        group_name="start_week",
    )


def q_freshness_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Source-freshness SLA audit: per event type, the last arrival,
    the median inter-arrival gap (the source's OWN cadence), the
    current gap against the table's global high-water mark, and a
    stale flag at k x median — the dead-man's switch a pipeline runs
    before trusting a day's loads. One lag window + exact medians +
    a one-row broadcast high-water mark."""
    ev = load_table(spark, sf_dir, "events")
    sec = F.expr(
        "timestampdiff(SECOND, TIMESTAMP_NTZ '1970-01-01 00:00:00', ts)"
    )
    w = Window.partitionBy("event_type").orderBy(sec, "event_id")
    from trollflow2_spark.extensions.profile import _bracket_median

    gaps = ev.select(
        "event_type",
        sec.alias("__s"),
        (sec - F.lag(sec).over(w)).alias("__gap"),
    ).localCheckpoint()
    # last-arrival / count ride _bracket_median's group-stats pass
    # (r15 fusion): the median machinery is null-safe, so the
    # unfiltered gaps table goes straight in — each group's first
    # event (null gap) feeds the extras but not the median, and a
    # single-event group still emits with a null median
    per = _bracket_median(
        gaps,
        ["event_type"],
        val_col="__gap",
        median_col="median_gap_s",
        extra_aggs={
            "last_s": F.max("__s"),
            "n_events": F.count(F.lit(1)),
        },
    ).select("event_type", "last_s", "n_events", "median_gap_s")
    hwm = ev.agg(F.max(sec).alias("__hwm"))
    cur_gap = (F.col("__hwm") - F.col("last_s")).cast("double")
    return per.crossJoin(F.broadcast(hwm)).select(
        "event_type",
        "n_events",
        "last_s",
        "median_gap_s",
        cur_gap.alias("current_gap_s"),
        (cur_gap > C.FRESH_K * F.col("median_gap_s"))
        .cast("int")
        .alias("stale"),
    )


def q_ltv_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort cumulative-LTV curve — the growth team's payback
    readout next to `cohort_retention`: users cohort by first-signup
    week, purchase revenue buckets by age-week since that signup,
    and a DECIMAL-exact running cumulative per cohort divides by
    cohort size. Two hash aggs + one window over the
    (cohort, age)-cardinality rollup — control-plane sized."""
    ev = load_table(spark, sf_dir, "events")
    sec = F.expr(
        "timestampdiff(SECOND, TIMESTAMP_NTZ '1970-01-01 00:00:00', ts)"
    )
    first_signup = ev.where(F.col("event_type") == "signup").groupBy(
        "user_id"
    ).agg(F.min(sec).alias("__s0"))
    cohorts = first_signup.select(
        "user_id",
        "__s0",
        F.expr("__s0 DIV 604800").alias("cohort_week"),
    )
    sizes = cohorts.groupBy("cohort_week").agg(
        F.count(F.lit(1)).alias("n_users")
    )
    buys = (
        ev.where(F.col("event_type") == "purchase")
        .select("user_id", sec.alias("__sp"), "value")
        .join(cohorts, "user_id")
        .where(F.col("__sp") >= F.col("__s0"))
    )
    weekly = buys.groupBy(
        "cohort_week",
        F.expr("(__sp - __s0) DIV 604800").alias("age_week"),
    ).agg(dsum(F.col("value"), 2).alias("revenue"))
    w = (
        Window.partitionBy("cohort_week")
        .orderBy("age_week")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = F.sum(
        F.round(F.col("revenue"), 2).cast("decimal(38,2)")
    ).over(w)
    return (
        weekly.join(F.broadcast(sizes), "cohort_week")
        .select(
            "cohort_week",
            "age_week",
            "n_users",
            F.round(F.col("revenue"), 2).alias("revenue"),
            F.round(
                cum.cast("double") / F.col("n_users").cast("double"), 6
            ).alias("cum_ltv_per_user"),
        )
    )


# ---------------------------------------------------------------------------

QUERIES = {
    "q1_pricing_summary": q_q1_pricing_summary,
    "q3_shipping_priority": q_q3_shipping_priority,
    "q3_bucketed": q_q3_bucketed,
    "q5_local_supplier": q_q5_local_supplier,
    "q6_forecast_revenue": q_q6_forecast_revenue,
    "q4_order_priority": q_q4_order_priority,
    "q16_parts_never_returned": q_q16_parts_never_returned,
    "q18_big_spenders": q_q18_big_spenders,
    "q2_min_cost_supplier": q_q2_min_cost_supplier,
    "q7_volume_shipping": q_q7_volume_shipping,
    "q8_market_share": q_q8_market_share,
    "q9_product_profit": q_q9_product_profit,
    "q10_returned_items": q_q10_returned_items,
    "q11_part_value_concentration": q_q11_part_value_concentration,
    "q12_shipping_delay": q_q12_shipping_delay,
    "q13_customer_order_counts": q_q13_customer_order_counts,
    "q14_promo_revenue": q_q14_promo_revenue,
    "q15_top_supplier": q_q15_top_supplier,
    "q17_small_qty_revenue": q_q17_small_qty_revenue,
    "q19_disjunctive_revenue": q_q19_disjunctive_revenue,
    "q20_excess_shippers": q_q20_excess_shippers,
    "q21_waiting_suppliers": q_q21_waiting_suppliers,
    "q22_dormant_customers": q_q22_dormant_customers,
    "rollup_revenue": q_rollup_revenue,
    "cube_order_stats": q_cube_order_stats,
    "grouping_sets_customers": q_grouping_sets_customers,
    "variant_extract_props": q_variant_extract_props,
    "pivot_event_matrix": q_pivot_event_matrix,
    "percentile_order_value": q_percentile_order_value,
    "active_customers_setops": q_active_customers_setops,
    "interval_join_events": q_interval_join_events,
    "rolling_revenue_7d": q_rolling_revenue_7d,
    "customer_spend_deciles": q_customer_spend_deciles,
    "incremental_corpus_stats": q_incremental_corpus_stats,
    "cms_heavy_hitters": q_cms_heavy_hitters,
    "table_expectations": q_table_expectations,
    "dataset_datasheet": q_dataset_datasheet,
    "zorder_layout": q_zorder_layout,
    "table_profile": q_table_profile,
    "parquet_layout_audit": q_parquet_layout_audit,
    "compaction_plan": q_compaction_plan,
    "compaction_from_audit": q_compaction_from_audit,
    "scd2_customers": q_scd2_customers,
    "cdc_apply": q_cdc_apply,
    "point_in_time": q_point_in_time,
    "moments_profile": q_moments_profile,
    "correlation_matrix": q_correlation_matrix,
    "mutual_information": q_mutual_information,
    "ab_test": q_ab_test,
    "delta_snapshot": q_delta_snapshot,
    "delta_snapshot_checkpoint": q_delta_snapshot_checkpoint,
    "delta_changes": q_delta_changes,
    "delta_snapshot_dv": q_delta_snapshot_dv,
    "delta_partition_prune": q_delta_partition_prune,
    "delta_dv_compaction": q_delta_dv_compaction,
    "delta_time_travel_ts": q_delta_time_travel_ts,
    "delta_cdf_window": q_delta_cdf_window,
    "delta_changes_live": q_delta_changes_live,
    "delta_file_skip": q_delta_file_skip,
    "delta_column_mapping": q_delta_column_mapping,
    "file_skip_plan": q_file_skip_plan,
    "binary_metrics": q_binary_metrics,
    "calibration_bins": q_calibration_bins,
    "downsample_ohlc": q_downsample_ohlc,
    "drift_psi": q_drift_psi,
    "ks_test": q_ks_test,
    "k_anonymity": q_k_anonymity,
    "private_release": q_private_release,
    "forget_audit": q_forget_audit,
    "fuzzy_name_pairs": q_fuzzy_name_pairs,
    "fuzzy_lev_pairs": q_fuzzy_lev_pairs,
    "fuzzy_lev2_pairs": q_fuzzy_lev2_pairs,
    "fuzzy_long_pairs": q_fuzzy_long_pairs,
    "fuzzy_scope_audit": q_fuzzy_scope_audit,
    "streaming_running_counts": q_streaming_running_counts,
    "streaming_rate_limit": q_streaming_rate_limit,
    "streaming_dedup_replay": q_streaming_dedup_replay,
    "streaming_late_data": q_streaming_late_data,
    "streaming_join_replay": q_streaming_join_replay,
    "media_container_metadata": q_media_container_metadata,
    "mp4_frame_index": q_mp4_frame_index,
    "mp3_frame_index": q_mp3_frame_index,
    "ogg_page_index": q_ogg_page_index,
    "h264_slice_index": q_h264_slice_index,
    "video_gop_stats": q_video_gop_stats,
    "multimodal_decode_h264": q_multimodal_decode_h264,
    "frame_sample_mp4": q_frame_sample_mp4,
    "exif_metadata": q_exif_metadata,
    "pdf_text": q_pdf_text,
    "pdf_text_cid": q_pdf_text_cid,
    "pdf_text_objstm": q_pdf_text_objstm,
    "pdf_text_encrypted": q_pdf_text_encrypted,
    "subtitle_text": q_subtitle_text,
    "audio_fingerprint": q_audio_fingerprint,
    "audio_quality": q_audio_quality,
    "feed_urls": q_feed_urls,
    "audio_neardup": q_audio_neardup,
    "html_markdown": q_html_markdown,
    "meta_robots_gate": q_meta_robots_gate,
    "script_mixing_audit": q_script_mixing_audit,
    "canonical_url_dedup": q_canonical_url_dedup,
    "streaming_cms_replay": q_streaming_cms_replay,
    "streaming_drift_replay": q_streaming_drift_replay,
    "main_content_extract": q_main_content_extract,
    "url_spam_features": q_url_spam_features,
    "recrawl_priority": q_recrawl_priority,
    "cidr_enrich": q_cidr_enrich,
    "geo_radius_join": q_geo_radius_join,
    "domain_boilerplate": q_domain_boilerplate,
    "readability": q_readability,
    "lsh_param_plan": q_lsh_param_plan,
    "dedup_source_attribution": q_dedup_source_attribution,
    "exif_gps_scrub": q_exif_gps_scrub,
    "outlier_mad_filter": q_outlier_mad_filter,
    "value_histogram": q_value_histogram,
    "perceptual_hash": q_perceptual_hash,
    "phash_near_dup": q_phash_near_dup,
    "unigram_tokenize": q_unigram_tokenize,
    "phash_dedup_clusters": q_phash_dedup_clusters,
    "udtf_sentences": q_udtf_sentences,
    "multimodal_decode_bmp": q_multimodal_decode_bmp,
    "multimodal_decode_pnm": q_multimodal_decode_pnm,
    "multimodal_decode_qoi": q_multimodal_decode_qoi,
    "frame_sample_pnm": q_frame_sample_pnm,
    "multimodal_decode_ico": q_multimodal_decode_ico,
    "robots_crawl_delay": q_robots_crawl_delay,
    "locf_gap_fill": q_locf_gap_fill,
    "spend_rank_profile": q_spend_rank_profile,
    "chi2_feature_selection": q_chi2_feature_selection,
    "work_items_flatten": q_work_items_flatten,
    "check_metadata_categorical": q_check_metadata_categorical,
    "check_metadata_age": q_check_metadata_age,
    "metadata_alias": q_metadata_alias,
    "coverage_filter": q_coverage_filter,
    "sza_filter": q_sza_filter,
    "valid_fraction_filter": q_valid_fraction_filter,
    "priority_batches": q_priority_batches,
    "block_aggregate": q_block_aggregate,
    "resolution_top1": q_resolution_top1,
    "composite_union_distinct": q_composite_union_distinct,
    "filename_compose": q_filename_compose,
    "json_extract_props": q_json_extract_props,
    "json_key_profile": q_json_key_profile,
    "key_skew_audit": q_key_skew_audit,
    "json_schema_drift": q_json_schema_drift,
    "sessionize": q_sessionize,
    "cohort_retention": q_cohort_retention,
    "funnel_conversion": q_funnel_conversion,
    "event_counts_salted": q_event_counts_salted,
    "skew_seq_plain": q_skew_seq_plain,
    "skew_seq_salted": q_skew_seq_salted,
    "skew_join_profile": q_skew_join_profile,
    "nearest_join_asof": q_nearest_join_asof,
    "weighted_resample": q_weighted_resample,
    "resample_2d_nearest": q_resample_2d_nearest,
    "resample_2d_nearest_left": q_resample_2d_nearest_left,
    "resample_grid_mapped": q_resample_grid_mapped,
    "resample_coarsest": q_resample_coarsest,
    "coverage_real": q_coverage_real,
    "weighted_resample_2d": q_weighted_resample_2d,
    "sunlight_coverage": q_sunlight_coverage,
    "overview_pyramid": q_overview_pyramid,
    "native_upsample": q_native_upsample,
    "manifest_check": q_manifest_check,
    "publisher_messages": q_publisher_messages,
    "dedup_exact": q_dedup_exact,
    "minhash_signatures": q_minhash_signatures,
    "simhash": q_simhash,
    "ngram_jaccard_pairs": q_ngram_jaccard_pairs,
    "paragraph_neardup": q_paragraph_neardup,
    "ngram_containment_pairs": q_ngram_containment_pairs,
    "doc_fingerprint": q_doc_fingerprint,
    "dataset_split": q_dataset_split,
    "global_shuffle": q_global_shuffle,
    "interleave_mixture": q_interleave_mixture,
    "stratified_sample": q_stratified_sample,
    "pack_sequences": q_pack_sequences,
    "contamination_check": q_contamination_check,
    "contamination_exact": q_contamination_exact,
    "contamination_semantic": q_contamination_semantic,
    "text_repetition": q_text_repetition,
    "pii_scrub": q_pii_scrub,
    "quality_filter": q_quality_filter,
    "blocklist_filter": q_blocklist_filter,
    "logreg_train": q_logreg_train,
    "kmeans_train": q_kmeans_train,
    "sft_chat_masks": q_sft_chat_masks,
    "dpo_pairs": q_dpo_pairs,
    "logreg_holdout": q_logreg_holdout,
    "recipe_drop_audit": q_recipe_drop_audit,
    "vocab_drift": q_vocab_drift,
    "token_budget_sample": q_token_budget_sample,
    "packing_efficiency": q_packing_efficiency,
    "cdc_chunks": q_cdc_chunks,
    "cdc_chunk_dedup": q_cdc_chunk_dedup,
    "cdc_monster_doc": q_cdc_monster_doc,
    "rerank_retrieval": q_rerank_retrieval,
    "retrieval_metrics": q_retrieval_metrics,
    "domain_quality_gate": q_domain_quality_gate,
    "embedding_pq_rerank": q_embedding_pq_rerank,
    "vocab_topk": q_vocab_topk,
    "unigram_logprob": q_unigram_logprob,
    "tfidf_top_terms": q_tfidf_top_terms,
    "bm25_retrieval": q_bm25_retrieval,
    "bm25_multi_query": q_bm25_multi_query,
    "hybrid_multi_retrieval": q_hybrid_multi_retrieval,
    "weighted_sample": q_weighted_sample,
    "group_split": q_group_split,
    "c4_line_filter": q_c4_line_filter,
    "gopher_rules": q_gopher_rules,
    "hybrid_retrieval": q_hybrid_retrieval,
    "corpus_stats": q_corpus_stats,
    "media_quarantine_audit": q_media_quarantine_audit,
    "source_quality": q_source_quality,
    "embedding_topk": q_embedding_topk,
    "ann_dim_truncation_audit": q_ann_dim_truncation_audit,
    "embedding_topk_quantized": q_embedding_topk_quantized,
    "embedding_centroids": q_embedding_centroids,
    "embedding_ann": q_embedding_ann,
    "embedding_ivf": q_embedding_ivf,
    "incremental_ivf_drift": q_incremental_ivf_drift,
    "embedding_neardup": q_embedding_neardup,
    "pair_similarity_gate": q_pair_similarity_gate,
    "simhash_pairs": q_simhash_pairs,
    "minhash_lsh_pairs": q_minhash_lsh_pairs,
    "minhash_lsh_pairs_fast": q_minhash_lsh_pairs_fast,
    "repeated_ngram_spans": q_repeated_ngram_spans,
    "scrub_repeated_spans": q_scrub_repeated_spans,
    "corpus_recipe": q_corpus_recipe,
    "corpus_recipe_decontam": q_corpus_recipe_decontam,
    "corpus_recipe_decontam_replay": q_corpus_recipe_decontam_replay,
    "corpus_recipe_replay": q_corpus_recipe_replay,
    "corpus_recipe_neardup_replay": q_corpus_recipe_neardup_replay,
    "lsh_recall_audit": q_lsh_recall_audit,
    "line_dedup": q_line_dedup,
    "embedding_pca": q_embedding_pca,
    "classifier_quality_filter": q_classifier_quality_filter,
    "embedding_pq_codes": q_embedding_pq_codes,
    "embedding_pq_topk": q_embedding_pq_topk,
    "encoding_quality": q_encoding_quality,
    "bigram_logprob": q_bigram_logprob,
    "corpus_diff": q_corpus_diff,
    "concat_chunks": q_concat_chunks,
    "dsir_weights": q_dsir_weights,
    "dsir_resample": q_dsir_resample,
    "chunk_documents": q_chunk_documents,
    "warc_ingest": q_warc_ingest,
    "warc_charset": q_warc_charset,
    "warc_ingest_zst": q_warc_ingest_zst,
    "warc_ingest_br": q_warc_ingest_br,
    "wet_ingest": q_wet_ingest,
    "wat_outlinks": q_wat_outlinks,
    "html_jsonld": q_html_jsonld,
    "msgpack_ingest": q_msgpack_ingest,
    "protobuf_ingest": q_protobuf_ingest,
    "eml_ingest": q_eml_ingest,
    "avro_ingest": q_avro_ingest,
    "avro_wire_ingest": q_avro_wire_ingest,
    "webdataset_ingest": q_webdataset_ingest,
    "html_tables": q_html_tables,
    "wat_frontier": q_wat_frontier,
    "url_canonicalize": q_url_canonicalize,
    "domain_rollup": q_domain_rollup,
    "semantic_dedup": q_semantic_dedup,
    "text_normalize": q_text_normalize,
    "hashed_embedding": q_hashed_embedding,
    "pack_sequences_bpe": q_pack_sequences_bpe,
    "contamination_bloom": q_contamination_bloom,
    "bpe_tokenize": q_bpe_tokenize,
    "bpe_train": q_bpe_train,
    "wordpiece_train": q_wordpiece_train,
    "bpe_train_bytes": q_bpe_train_bytes,
    "bpe_tokenize_bytes": q_bpe_tokenize_bytes,
    "url_dedup_latest": q_url_dedup_latest,
    "robots_filter": q_robots_filter,
    "nb_lang_classifier": q_nb_lang_classifier,
    "embedding_cluster_stats": q_embedding_cluster_stats,
    "semantic_cell_guard_stats": q_semantic_cell_guard_stats,
    "semantic_cells_plain": q_semantic_cells_plain,
    "semantic_cells_guarded": q_semantic_cells_guarded,
    "crawl_pipeline": q_crawl_pipeline,
    "crawl_to_training": q_crawl_to_training,
    "split_leakage_audit": q_split_leakage_audit,
    "embedding_ivf_quantized": q_embedding_ivf_quantized,
    "host_pagerank": q_host_pagerank,
    "host_communities": q_host_communities,
    "robots_sitemaps": q_robots_sitemaps,
    "fetch_schedule": q_fetch_schedule,
    "epoch_mixture": q_epoch_mixture,
    "temperature_mixture": q_temperature_mixture,
    "event_time_windows": q_event_time_windows,
    "incremental_dedup": q_incremental_dedup,
    "incremental_lsh_matches": q_incremental_lsh_matches,
    "incremental_neardup": q_incremental_neardup,
    "lsh_bucket_stats": q_lsh_bucket_stats,
    "duplicate_clusters": q_duplicate_clusters,
    "dedup_corpus": q_dedup_corpus,
    "dedup_corpus_verified": q_dedup_corpus_verified,
    "dedup_best_representative": q_dedup_best_representative,
    "cluster_atomic_split": q_cluster_atomic_split,
    "corpus_release": q_corpus_release,
    "text_quality": q_text_quality,
    "lang_id": q_lang_id,
    "token_count": q_token_count,
    "token_fertility": q_token_fertility,
    "multimodal_meta": q_multimodal_meta,
    "multimodal_decode": q_multimodal_decode,
    "multimodal_decode_png": q_multimodal_decode_png,
    "multimodal_decode_webp": q_multimodal_decode_webp,
    "multimodal_decode_gif": q_multimodal_decode_gif,
    "multimodal_decode_webp_lossy": q_multimodal_decode_webp_lossy,
    "multimodal_decode_tiff": q_multimodal_decode_tiff,
    "multimodal_decode_jpeg": q_multimodal_decode_jpeg,
    "multimodal_decode_jpeg_color": q_multimodal_decode_jpeg_color,
    "multimodal_decode_jpeg_progressive": q_multimodal_decode_jpeg_progressive,
    "multimodal_decode_flac": q_multimodal_decode_flac,
    "multimodal_decode_wav": q_multimodal_decode_wav,
    "frame_sample": q_frame_sample,
    "frame_sample_tiff": q_frame_sample_tiff,
    "frame_sample_mjpeg": q_frame_sample_mjpeg,
    "frame_sample_webp": q_frame_sample_webp,
    "frame_sample_gif": q_frame_sample_gif,
    "multimodal_resize": q_multimodal_resize,
    "pipeline_e2e": q_pipeline_e2e,
    "pipeline_roundtrip": q_pipeline_roundtrip,
    "assoc_rules": q_assoc_rules,
    "triangle_count": q_triangle_count,
    "pareto_skyline": q_pareto_skyline,
    "bradley_terry": q_bradley_terry,
    "benford_audit": q_benford_audit,
    "l_diversity_audit": q_l_diversity_audit,
    "ewma_smooth": q_ewma_smooth,
    "kmv_set_ops": q_kmv_set_ops,
    "streaming_kmv_replay": q_streaming_kmv_replay,
    "xml_ingest": q_xml_ingest,
    "bitext_mining": q_bitext_mining,
    "k_core": q_k_core,
    "event_transitions": q_event_transitions,
    "t_closeness": q_t_closeness,
    "woe_iv": q_woe_iv,
    "quantile_binning": q_quantile_binning,
    "winnow_dedup_pairs": q_winnow_dedup_pairs,
    "collocations_pmi": q_collocations_pmi,
    "survival_km": q_survival_km,
    "weighted_median": q_weighted_median,
    "cusum_report": q_cusum_report,
    "arrow_ipc_ingest": q_arrow_ipc_ingest,
    "fs_linkage_weights": q_fs_linkage_weights,
    "rake_keyphrases": q_rake_keyphrases,
    "backtest_smape": q_backtest_smape,
    "period_growth": q_period_growth,
    "linear_trend": q_linear_trend,
    "link_prediction": q_link_prediction,
    "sqlite_ingest": q_sqlite_ingest,
    "bson_ingest": q_bson_ingest,
    "point_in_polygon": q_point_in_polygon,
    "geohash_encode": q_geohash_encode,
    "seasonal_profile": q_seasonal_profile,
    "activity_streaks": q_activity_streaks,
    "peak_concurrency": q_peak_concurrency,
    "geojson_ingest": q_geojson_ingest,
    "winsorized_stats": q_winsorized_stats,
    "join_cardinality_audit": q_join_cardinality_audit,
    "ics_ingest": q_ics_ingest,
    "access_log_parse": q_access_log_parse,
    "luhn_audit": q_luhn_audit,
    "gini_concentration": q_gini_concentration,
    "tree_flatten": q_tree_flatten,
    "touch_attribution": q_touch_attribution,
    "posting_lists": q_posting_lists,
    "critical_path": q_critical_path,
    "knn_label_vote": q_knn_label_vote,
    "soundex_blocking": q_soundex_blocking,
    "seq_patterns": q_seq_patterns,
    "stock_balance": q_stock_balance,
    "revenue_recognition": q_revenue_recognition,
    "twap": q_twap,
    "encoding_advisor": q_encoding_advisor,
    "streaming_balance_replay": q_streaming_balance_replay,
    "bitmap_contingency": q_bitmap_contingency,
    "seasonal_anomaly": q_seasonal_anomaly,
    "iceberg_snapshot": q_iceberg_snapshot,
    "iceberg_snapshot_v2": q_iceberg_snapshot_v2,
    "iceberg_eq_deletes": q_iceberg_eq_deletes,
    "iceberg_dv_v3": q_iceberg_dv_v3,
    "iceberg_expire_plan": q_iceberg_expire_plan,
    "iceberg_partition_transforms": q_iceberg_partition_transforms,
    "cbor_ingest": q_cbor_ingest,
    "dictionary_match": q_dictionary_match,
    "dictmatch_bigdict": q_dictmatch_bigdict,
    "latency_quantiles": q_latency_quantiles,
    "dbscan_blobs": q_dbscan_blobs,
    "dbscan_blobs_3d": q_dbscan_blobs_3d,
    "cdc_extract": q_cdc_extract,
    "spatial_join_pip": q_spatial_join_pip,
    "quantile_transform": q_quantile_transform,
    "target_encoding": q_target_encoding,
    "theil_sen_trend": q_theil_sen_trend,
    "hodges_lehmann": q_hodges_lehmann,
    "wilcoxon_shift": q_wilcoxon_shift,
    "kendall_tau": q_kendall_tau,
    "logrank_ab": q_logrank_ab,
    "conversion_time": q_conversion_time,
    "freshness_audit": q_freshness_audit,
    "ltv_curve": q_ltv_curve,
}
