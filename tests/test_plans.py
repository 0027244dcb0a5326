"""Plan-quality regression tests: the physical plans that make these
operators scale are asserted, not hoped for.

Each assertion pins a property that matters at 100 TB: filters reaching
the parquet scan, projection pruning, broadcast joins for small sides,
no accidental cartesian products, map-side partial aggregation.
"""

import re

import pytest
from pyspark.sql import functions as F

from trollflow2_spark.queries import QUERIES


def plan_of(spark, name, sf_dir):
    df = QUERIES[name](spark, sf_dir)
    qe = df._jdf.queryExecution()
    mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    return qe.explainString(mode)


@pytest.fixture(scope="module")
def sf(sf_dir):
    return sf_dir


def test_q1_pushdown_and_pruning(spark, sf):
    plan = plan_of(spark, "q1_pricing_summary", sf)
    assert "LessThanOrEqual(l_shipdate" in plan  # filter reached the scan
    read = re.search(r"ReadSchema: (\S+)", plan).group(1)
    assert "l_comment" not in read  # projection pruned
    assert "l_quantity" in read
    # partial (map-side) + final aggregation, exactly one shuffle
    assert plan.count("HashAggregate") >= 2
    # the whole aggregation pipeline compiles into whole-stage codegen
    df = QUERIES["q1_pricing_summary"](spark, sf)
    qe = df._jdf.queryExecution()
    mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("codegen")
    assert "WholeStageCodegen" in qe.explainString(mode)


def test_q6_range_pushdown(spark, sf):
    plan = plan_of(spark, "q6_forecast_revenue", sf)
    assert "GreaterThanOrEqual(l_shipdate" in plan
    assert "LessThan(l_shipdate" in plan
    read = re.search(r"ReadSchema: (\S+)", plan).group(1)
    assert set(re.findall(r"(l_\w+):", read)) == {
        "l_quantity", "l_extendedprice", "l_discount", "l_shipdate",
    }


def test_q3_broadcasts_dimension(spark, sf):
    plan = plan_of(spark, "q3_shipping_priority", sf)
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    # the customer filter is pushed before the join
    assert "EqualTo(c_mktsegment,BUILDING)" in plan


def test_q5_no_cartesian_all_filters_pushed(spark, sf):
    plan = plan_of(spark, "q5_local_supplier", sf)
    assert "CartesianProduct" not in plan
    assert "EqualTo(r_name,ASIA)" in plan
    assert "GreaterThanOrEqual(o_orderdate" in plan


def test_spatial_join_is_equi_join(spark, sf):
    """The resample family must never degrade to a cartesian product —
    the cell bucketing turns it into an equi-join."""
    for name in ("nearest_join_asof", "resample_2d_nearest", "weighted_resample"):
        plan = plan_of(spark, name, sf)
        assert "CartesianProduct" not in plan, name
        assert re.search(r"BroadcastHashJoin|SortMergeJoin|ShuffledHashJoin", plan), name


def test_bucketed_join_has_no_exchange(spark, sf):
    """Co-bucketed fact tables join with NO shuffle on either side — the
    SCALE.md (Joins) path for recurring lineitem×orders-class joins."""
    import os

    from trollflow2_spark.extensions.bucketing import bucketed_join, write_bucketed

    orders = spark.read.parquet(os.path.join(sf, "orders.parquet"))
    lineitem = spark.read.parquet(os.path.join(sf, "lineitem.parquet"))
    write_bucketed(orders, "tf2_orders_b", ["o_orderkey"], 8, ["o_orderkey"])
    write_bucketed(
        lineitem.withColumnRenamed("l_orderkey", "o_orderkey"),
        "tf2_lineitem_b", ["o_orderkey"], 8, ["o_orderkey"],
    )
    thresh = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        j = bucketed_join(spark, "tf2_orders_b", "tf2_lineitem_b", ["o_orderkey"])
        qe = j._jdf.queryExecution()
        mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"
        )
        plan = qe.explainString(mode)
        assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan
        assert "Exchange" not in plan  # bucketing removed the shuffle
        assert j.count() > 0
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", thresh)
        spark.sql("DROP TABLE IF EXISTS tf2_orders_b")
        spark.sql("DROP TABLE IF EXISTS tf2_lineitem_b")


def test_q3_bucketed_zero_fact_exchange(spark, sf):
    """The bucketed Q3 variant plans the lineitem×orders join AND the
    order-key aggregation with no hash exchange at all — proof of the
    bucketing win on the headline join query (the broadcast dim is the
    only exchange left)."""
    thresh = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        plan = plan_of(spark, "q3_bucketed", sf)
        assert "SortMergeJoin" in plan
        assert "Exchange hashpartitioning" not in plan
        assert "Exchange rangepartitioning" not in plan
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", thresh)
        spark.sql("DROP TABLE IF EXISTS tf2b_orders_sf0_001")
        spark.sql("DROP TABLE IF EXISTS tf2b_lineitem_sf0_001")


def test_contamination_broadcasts_held_set(spark, sf):
    """The corpus side must filter map-side against the broadcast
    held-out shingle set — the corpus never materializes a global
    distinct-shingle shuffle."""
    plan = plan_of(spark, "contamination_check", sf)
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_mapped_resample_broadcasts_no_explode(spark, sf):
    """The precomputed grid->grid mapping path must be one broadcast
    equi-join on the source pixel index: no probe-cell explode, no
    cartesian, no shuffle of the source side."""
    plan = plan_of(spark, "resample_grid_mapped", sf)
    assert "BroadcastHashJoin" in plan
    assert "Generate" not in plan  # no explode anywhere in the mapped path
    assert "CartesianProduct" not in plan


def test_topk_broadcasts_query_side(spark, sf):
    """Brute-force similarity deliberately broadcasts the tiny query set;
    the 100 TB base table is scanned once and never shuffled for the
    join."""
    plan = plan_of(spark, "embedding_topk", sf)
    assert "BroadcastNestedLoopJoin" in plan
    assert "CartesianProduct" not in plan


def test_ann_prunes_with_equi_join(spark, sf):
    """The LSH-bucketed ANN variant upgrades the cross join to a cell
    equi-join (hash join on __cell)."""
    plan = plan_of(spark, "embedding_ann", sf)
    assert "BroadcastNestedLoopJoin" not in plan
    assert "BroadcastHashJoin" in plan or "SortMergeJoin" in plan


def test_valid_fraction_broadcast_semi_join(spark, sf):
    plan = plan_of(spark, "valid_fraction_filter", sf)
    assert "BroadcastHashJoin" in plan
    assert "LeftSemi" in plan


def test_dedup_exact_single_shuffle(spark, sf):
    """Exact dedup is one hash aggregation: partial + final, one
    exchange; shuffle rows are (digest, id), never the raw text."""
    plan = plan_of(spark, "dedup_exact", sf)
    assert plan.count("Exchange") <= 2  # agg shuffle (+AQE read)
    read = re.search(r"ReadSchema: (\S+)", plan).group(1)
    assert "text" in read and "lang" not in read


def test_minhash_single_shuffle(spark, sf):
    """Minhash signatures: explode + hash happen map-side; the only
    shuffle is the per-doc min() aggregation."""
    plan = plan_of(spark, "minhash_signatures", sf)
    assert plan.count("Exchange") <= 2


def test_pii_scrub_is_pure_map_work(spark, sf):
    """PII redaction is chained regexp Column algebra: no shuffle at
    all, and the scan reads only (doc_id, text)."""
    plan = plan_of(spark, "pii_scrub", sf)
    assert "Exchange" not in plan
    read = re.search(r"ReadSchema: (\S+)", plan).group(1)
    assert "text" in read and "lang" not in read and "source" not in read


def test_global_shuffle_no_single_task_sort(spark, sf):
    """The global ordinal must come from bucketed parallel windows +
    a broadcast offset join — never a global sort/window funnel."""
    plan = plan_of(spark, "global_shuffle", sf)
    assert "BroadcastHashJoin" in plan
    # the only SinglePartition exchange feeds the tiny bucket-count
    # offsets table, never the corpus: the corpus side's window
    # partitions by bucket (hashpartitioning on _bucket)
    assert "hashpartitioning(_bucket" in plan


def test_tfidf_broadcasts_docfreq(spark, sf):
    """The doc-frequency table (vocabulary-sized) broadcasts; the corpus
    never shuffles for the join."""
    plan = plan_of(spark, "tfidf_top_terms", sf)
    assert "BroadcastHashJoin" in plan


def test_embedding_centroids_single_agg_shuffle(spark, sf):
    """dim avg buffers run in ONE hash agg: no posexplode before the
    shuffle (Generate only appears on the post-agg unpivot)."""
    plan = plan_of(spark, "embedding_centroids", sf)
    assert plan.count("Exchange") <= 2
    # partial + final agg (map-side combine before the label shuffle)
    assert plan.count("HashAggregate") >= 2


def test_vocab_topk_no_global_sort(spark, sf):
    """Top-k vocabulary plans TakeOrderedAndProject (per-partition
    top-k, merged) — not a full Sort of the vocabulary."""
    plan = plan_of(spark, "vocab_topk", sf)
    assert "TakeOrderedAndProject" in plan


def test_unigram_logprob_broadcast_model(spark, sf):
    """The LM scoring join is a broadcast over the top-k model (and the
    1-row N/V stats) — the corpus-sized token stream never shuffles for
    scoring; the model build uses TakeOrdered, not a global sort."""
    plan = plan_of(spark, "unigram_logprob", sf)
    assert plan.count("BroadcastHashJoin") >= 1
    assert "BroadcastNestedLoopJoin" in plan  # the 1-row stats cross join
    assert "TakeOrderedAndProject" in plan
    assert "SortMergeJoin" not in plan


def test_quality_filter_single_pass(spark, sf):
    """The filter chain evaluates every rule in one map pass over the
    scan — no shuffle, no join between rules."""
    plan = plan_of(spark, "quality_filter", sf)
    assert "Exchange" not in plan
    assert "Join" not in plan


def test_partitioned_write_prunes_partitions(spark, sf, tmp_path):
    """Hive-style partitioned layout: writing events partitioned by
    event_type and reading with a partition predicate must prune at
    PLANNING time (PartitionFilters on the scan, only the matching
    directory read) — at 100 TB partition pruning is the difference
    between scanning one day and scanning the lake."""
    import os

    out = str(tmp_path / "events_parted")
    events = spark.read.parquet(os.path.join(sf, "events.parquet"))
    events.write.partitionBy("event_type").mode("overwrite").parquet(out)
    got = spark.read.parquet(out).filter("event_type = 'click'")
    qe = got._jdf.queryExecution()
    mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
        "formatted"
    )
    plan = qe.explainString(mode)
    m = re.search(r"PartitionFilters: \[([^\]]*)\]", plan)
    assert m and "event_type" in m.group(1)
    n_click = events.filter("event_type = 'click'").count()
    assert got.count() == n_click


def test_dynamic_partition_pruning_on_fact_join(spark, sf, tmp_path):
    """Dynamic partition pruning: a fact table partitioned on the join
    key joined to a FILTERED dim must plan a dynamicpruning subquery on
    the fact scan — the dim filter prunes fact partitions at runtime,
    the star-schema pattern every 100 TB warehouse lives on."""
    import os

    out = str(tmp_path / "orders_parted")
    orders = spark.read.parquet(os.path.join(sf, "orders.parquet"))
    orders.withColumn(
        "prio", F.col("o_orderpriority")
    ).write.partitionBy("prio").mode("overwrite").parquet(out)
    fact = spark.read.parquet(out)
    # the dim filter must be on a NON-join column: a literal filter on
    # the join key itself would transfer to the fact statically
    # (constraint propagation) and no DYNAMIC pruning would be needed
    raw = spark.read.parquet(os.path.join(sf, "orders.parquet"))
    dim = (
        raw.select(
            F.col("o_orderpriority").alias("prio"),
            F.substring("o_orderpriority", 1, 1).alias("lead"),
        )
        .distinct()
        .filter(F.col("lead").isin("1", "2"))
    )
    prev = spark.conf.get(
        "spark.sql.optimizer.dynamicPartitionPruning.enabled", "true"
    )
    try:
        spark.conf.set(
            "spark.sql.optimizer.dynamicPartitionPruning.enabled", "true"
        )
        joined = fact.join(dim.select("prio"), "prio").groupBy("prio").count()
        qe = joined._jdf.queryExecution()
        mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"
        )
        plan = qe.explainString(mode)
        assert "dynamicpruning" in plan.lower()
        rows = {r["prio"]: r["count"] for r in joined.collect()}
        want = {
            r["o_orderpriority"]: r["count"]
            for r in raw.filter(
                "o_orderpriority LIKE '1%' OR o_orderpriority LIKE '2%'"
            ).groupBy("o_orderpriority").count().collect()
        }
        assert rows == want
    finally:
        spark.conf.set(
            "spark.sql.optimizer.dynamicPartitionPruning.enabled", prev
        )


def test_crawl_pipeline_exactly_two_shuffles(spark, sf):
    """The end-to-end crawl chain pays exactly two hash exchanges: one
    for the canonical-url capture window, one for the text-digest dedup
    windows (digest materialized so count+min share the partitioning).
    Everything else — parse, extraction, canonicalization, quality
    gate — stays in the scan stage."""
    df = QUERIES["crawl_pipeline"](spark, sf)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert len(re.findall(r"Exchange hashpartitioning", plan)) == 2
    assert "SortMergeJoin" not in plan


def test_split_leakage_audit_no_sort_merge(spark, sf):
    """Every join in the leakage audit is broadcast (eval bands into
    train bands, candidate-bounded verify results, audit rows back to
    the split) — the train side never sort-merges."""
    df = QUERIES["split_leakage_audit"](spark, sf)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "SortMergeJoin" not in plan


def test_lm_builders_tokenize_once(spark, sf):
    """The bigram LM derives its unigram AND bigram count tables from
    ONE corpus scan (token events + transition events through a single
    explode/shuffle, persisted vocabulary-sized); scoring is the only
    other pass — so the formatted plan holds exactly TWO distinct
    parquet scan nodes, where the naive lineage re-tokenized the corpus
    five times. The unigram LM gets the same treatment."""
    for name, scans in [("bigram_logprob", 2), ("unigram_logprob", 2)]:
        plan = plan_of(spark, name, sf)
        node_ids = set(re.findall(r"\((\d+)\) Scan parquet", plan))
        assert len(node_ids) == scans, (name, sorted(node_ids))
        # model reuses ride the cache, not fresh scans
        assert "InMemoryTableScan" in plan


def test_q19_disjunction_pushes_to_both_scans(spark, sf):
    """The three OR'd brand/size/quantity branches reach the parquet
    scans as PushedFilters on BOTH sides of the join — no
    read-everything-then-filter."""
    plan = plan_of(spark, "q19_disjunctive_revenue", sf)
    pushed = re.findall(r"PushedFilters: \[[^\]]*\]", plan)
    assert any("l_quantity" in p and "Or(" in p for p in pushed)
    assert any("p_brand" in p and "Or(" in p for p in pushed)
    assert "CartesianProduct" not in plan


def test_q21_single_fact_pass(spark, sf):
    """The EXISTS + NOT-EXISTS decorrelation makes ONE pass over the
    fact join: lineitem is scanned exactly once (the per-order
    late-supplier set replaces the correlated re-probe)."""
    plan = plan_of(spark, "q21_waiting_suppliers", sf)
    assert plan.count("lineitem.parquet") == 1
    assert plan.count("orders.parquet") == 1


def test_q13_aggregates_below_outer_join(spark, sf):
    """The order counts aggregate BEFORE the left-outer join with
    customer: the join input on the orders side is the post-agg
    key+count table, so the HashAggregate on o_custkey sits under the
    join, not above it."""
    plan = plan_of(spark, "q13_customer_order_counts", sf)
    join_pos = plan.find("Join")
    agg_pos = plan.find("HashAggregate")
    assert join_pos != -1 and agg_pos != -1
    # formatted plans list operators bottom-up in the tree dump; assert
    # via the numbered tree: the first (innermost) aggregate id exceeds
    # the join id, i.e. the agg is deeper in the tree
    import re as _re

    tree = plan.split("\n\n")[0]
    agg_ids = [int(m) for m in _re.findall(r"HashAggregate \((\d+)\)", tree)]
    join_ids = [
        int(m) for m in _re.findall(r"Join[^\(]*\((\d+)\)", tree)
    ]
    assert agg_ids and join_ids
    # the deepest aggregate has a smaller operator id than the outer
    # join consuming it (formatted trees number leaves first)
    assert min(agg_ids) < min(join_ids)


def test_fuzzy_adaptive_paths(spark, sf):
    """Distinct-heavy tables take the direct single-agg id path (no
    hash-chunk machinery in the plan); a hot duplicate class switches
    to bounded chunk rows (xxhash64 chunk assignment appears)."""
    from trollflow2_spark.extensions.dedup import levenshtein1_pairs

    rows = [(i, f"name{i}") for i in range(500)]
    distinct_df = spark.createDataFrame(rows, "id bigint, s string")
    fast = levenshtein1_pairs(distinct_df, "id", "s", id_chunk=64)
    fast_plan = fast._jdf.queryExecution().toString()
    assert "xxhash64" not in fast_plan

    hot = spark.createDataFrame(
        [(i, "template") for i in range(500)], "id bigint, s string"
    )
    chunked = levenshtein1_pairs(hot, "id", "s", id_chunk=64)
    chunked_plan = chunked._jdf.queryExecution().toString()
    assert "xxhash64" in chunked_plan


def test_semantic_guard_vanishes_when_cells_balanced(spark, sf):
    """The SemDeDup salt/cap branch routes per cell: a balanced corpus
    plans the direct within-cell closure with NO salted union and NO
    pair distinct; the hot-cell fixture keeps the salted branch."""
    import numpy as np

    from trollflow2_spark.extensions.similarity import (
        kmeans_centroids,
        semantic_candidate_pairs,
    )
    from trollflow2_spark.tables import load_table

    emb = load_table(spark, sf, "embeddings")
    cents = kmeans_centroids(emb, k=8)
    balanced = semantic_candidate_pairs(emb, cents, salt_threshold=256)
    plan = balanced._jdf.queryExecution().toString()
    assert "Union" not in plan

    # one hot cell: every vector identical -> single cell of size n
    n = 600
    one = [(i, [1.0] + [0.0] * 63) for i in range(n)]
    hot = spark.createDataFrame(one, "vec_id bigint, embedding array<float>")
    cents2 = kmeans_centroids(hot, k=4)
    guarded = semantic_candidate_pairs(hot, cents2, salt_threshold=256)
    plan2 = guarded._jdf.queryExecution().toString()
    assert "Union" in plan2


def test_bm25_broadcasts_model_sides(spark, sf):
    """BM25's query-term and df sides broadcast; the 1-row stats ride a
    broadcast nested loop; no cartesian product anywhere."""
    plan = plan_of(spark, "bm25_retrieval", sf)
    assert "CartesianProduct" not in plan
    assert plan.count("BroadcastHashJoin") >= 2


def test_bm25_multi_query_single_corpus_scan(spark, sf):
    """The multi-query BM25 plan holds exactly ONE documents parquet
    scan: adding queries adds broadcast (query_id, term) rows and
    rollup keys, never another corpus pass — the property that makes
    thousand-query eval sweeps affordable at 100 TB."""
    plan = plan_of(spark, "bm25_multi_query", sf)
    # exactly TWO corpus scans — the 1-row stats agg and the
    # broadcast-filtered match pipeline — independent of the number
    # of queries (r9 first materialized the full inverted index via
    # localCheckpoint; serializing corpus-sized (doc, term) rows cost
    # more than the scan it saved, so stats/dl are map-side facts and
    # only query-matched tokens ever shuffle)
    assert len(re.findall(r"\(\d+\) Scan parquet", plan)) == 2, plan
    assert "CartesianProduct" not in plan
    assert plan.count("BroadcastHashJoin") >= 2


def test_bm25_single_query_is_projection_of_multi(spark, sf):
    """bm25_retrieval (one query) returns exactly the query_id=0 slice
    of bm25_multi_query, column-projected — one code path, two
    shapes."""
    from trollflow2_spark.queries import QUERIES

    single = {
        (r["doc_id"]): (r["n_matched"], r["score"])
        for r in QUERIES["bm25_retrieval"](spark, sf).collect()
    }
    multi = {
        r["doc_id"]: (r["n_matched"], r["score"])
        for r in QUERIES["bm25_multi_query"](spark, sf).collect()
        if r["query_id"] == 0
    }
    assert single == multi and len(single) > 0


def test_hybrid_multi_topk_is_two_stage_salted(spark, sf):
    """The multi-query rankers' top-k runs as the salted two-stage
    window: per-(query, sub-bucket) pre-rank bounds every window
    partition, so a 3-query sweep never funnels the corpus through 3
    hot partitions. Both stages present => two window nodes per
    ranker."""
    plan = plan_of(spark, "hybrid_multi_retrieval", sf)
    assert plan.count("Window") >= 4
    assert "CartesianProduct" not in plan


def test_wet_wat_intake_stay_in_scan_stage(spark, sf):
    """The sidecar projections add no shuffle of their own: the only
    Exchange in wet_ingest is the fixture's deliberate repartition,
    and wat_frontier adds only the distinct-agg pair for the domain
    rollup. No Python beyond the single fixture/parse kernel."""
    plan = plan_of(spark, "wet_ingest", sf)
    assert len(re.findall(r"\(\d+\) Exchange", plan)) == 1
    assert len(re.findall(r"\(\d+\) MapInPandas", plan)) == 1
    plan = plan_of(spark, "wat_frontier", sf)
    # fixture repartition + two-phase distinct aggregate
    assert len(re.findall(r"\(\d+\) Exchange", plan)) == 3
    assert "BatchEvalPython" not in plan  # from_json is JVM-side


def test_ivf_drift_single_map_pass(spark, sf):
    """The drift audit's only exchange carries the k-row per-cell
    aggregate; assignment is one Arrow kernel over the union — the
    corpus never hash-partitions on anything else."""
    plan = plan_of(spark, "incremental_ivf_drift", sf)
    assert len(re.findall(r"\(\d+\) Exchange", plan)) == 1
    assert "ArrowEvalPython" in plan
    assert "CartesianProduct" not in plan


def test_semantic_contamination_broadcasts_held(spark, sf):
    """The held (eval) side broadcasts into the cell join; the corpus
    side reaches the join straight from its scan+assignment with no
    Exchange below the join — the 100 TB property."""
    plan = plan_of(spark, "contamination_semantic", sf)
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    # only the per-held rollup shuffles
    assert len(re.findall(r"\(\d+\) Exchange", plan)) == 1


def test_decontaminate_broadcast_semi_anti(spark, sf):
    """Decontamination's held digests broadcast (LeftSemi) and the
    leaky-id removal is a broadcast LeftAnti — the corpus is never
    the build side and never sort-merge-joins."""
    plan = plan_of(spark, "corpus_recipe_decontam", sf)
    assert "BroadcastHashJoin LeftSemi" in plan
    assert "BroadcastHashJoin LeftAnti" in plan
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan


def test_blocklist_filter_zero_shuffle(spark, sf):
    """The wordlist gate is pure scan-stage Column algebra: no
    Exchange, no Python eval, one parquet scan reading only the two
    columns it needs."""
    plan = plan_of(spark, "blocklist_filter", sf)
    assert "Exchange" not in plan
    assert "BatchEvalPython" not in plan and "MapInPandas" not in plan
    read = re.search(r"ReadSchema: (\S+)", plan).group(1)
    assert "text" in read and "lang" not in read


def test_logreg_scoring_is_map_only(spark, sf):
    """After training, scoring is a projection over the checkpointed
    feature table — no Exchange, no Python; the feature build happened
    once (the plan scans an ExistingRDD, not the parquet source)."""
    plan = plan_of(spark, "logreg_train", sf)
    assert "Exchange" not in plan
    assert "BatchEvalPython" not in plan and "MapInPandas" not in plan
    assert "ExistingRDD" in plan or "Scan ExistingRDD" in plan


def test_recipe_drop_audit_counts_are_partial_agged(spark, sf):
    """Every stage count aggregates map-side over a checkpointed stage
    output (ExistingRDD scans — no upstream re-derivation), and the
    final lag-window runs over the k+1-row union only."""
    plan = plan_of(spark, "recipe_drop_audit", sf)
    assert plan.count("ExistingRDD") >= 4  # one per audited stage
    # per-count partial+final HashAggregate pairs
    assert plan.count("HashAggregate") >= 10
    assert "BatchEvalPython" not in plan


def test_rerank_scores_only_broadcast_candidates(spark, sf):
    """The second-stage scorer touches only the k-bounded candidate
    set: the candidate x term table reaches the doc-text join as a
    BroadcastHashJoin build side, and the final rank window partitions
    per query over <= 2k rows. No Python anywhere in the chain."""
    plan = plan_of(spark, "rerank_retrieval", sf)
    assert "BroadcastHashJoin" in plan
    assert "BatchEvalPython" not in plan and "MapInPandas" not in plan
    assert "CartesianProduct" not in plan


def test_pq_rerank_broadcasts_shortlist(spark, sf):
    """Two-stage ANN: the ADC shortlist reaches the full-vector fetch
    as a broadcast build side — the float store is read through an id
    join, never shuffled; final window partitions per query over the
    bounded shortlist."""
    plan = plan_of(spark, "embedding_pq_rerank", sf)
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan


def test_domain_gate_broadcast_is_runtime_decided(spark, sf):
    """The per-domain verdict join must not FORCE a broadcast hint:
    registrable-domain cardinality grows with the corpus (~1e7 at
    crawl scale, a multi-GB broadcast), so the decision belongs to
    AQE's runtime size measurement. Small k (the fixture): AQE
    converts the join to broadcast. Large k (simulated by flooring
    both broadcast thresholds): the executed plan survives as a
    SortMergeJoin instead of forcing an undeliverable broadcast."""
    df = QUERIES["domain_quality_gate"](spark, sf)
    qe = df._jdf.queryExecution()
    df.collect()
    small = qe.executedPlan().toString()
    assert "BroadcastHashJoin" in small  # AQE picked it from real size

    keys = (
        "spark.sql.autoBroadcastJoinThreshold",
        "spark.sql.adaptive.autoBroadcastJoinThreshold",
    )
    saved = {k: spark.conf.get(k, None) for k in keys}
    try:
        for k in keys:
            spark.conf.set(k, "-1")
        df2 = QUERIES["domain_quality_gate"](spark, sf)
        qe2 = df2._jdf.queryExecution()
        df2.collect()
        large = qe2.executedPlan().toString()
        assert "BroadcastHashJoin" not in large
        assert "SortMergeJoin" in large  # the large-k fallback exists
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_continuation_flagship_plan_properties(spark, sf_dir):
    """Plan pins for the continuation operators: CDC/Delta/moments
    plan as aggregations without Window sorts; binary_metrics windows
    only over the bounded distinct-score table (its input is an
    Aggregate, not a raw scan)."""
    from trollflow2_spark.queries import QUERIES

    for name in ("cdc_apply", "delta_snapshot", "moments_profile"):
        plan = (
            QUERIES[name](spark, sf_dir)
            ._jdf.queryExecution().executedPlan().toString()
        )
        assert "Window" not in plan, name
        assert "Aggregate" in plan, name

    bm = (
        QUERIES["binary_metrics"](spark, sf_dir)
        ._jdf.queryExecution().optimizedPlan().toString()
    )
    # the Window node must sit ABOVE an Aggregate (distinct-score
    # table), i.e. an Aggregate appears below the Window in the tree
    assert "Window" in bm
    below_window = bm.split("Window", 1)[1]
    assert "Aggregate" in below_window
