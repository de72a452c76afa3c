"""Plan-quality assertions: the optimizations the engine relies on at scale
must actually appear in the physical plans (SURVEY.md §4.2)."""

from __future__ import annotations

import re

import pytest
from pyspark.sql import functions as F

from pipes_spark.catalog import QUERIES


def _plan(spark, sf_dir, name):
    return QUERIES[name].fn(spark, sf_dir)._jdf.queryExecution().executedPlan().toString()


def test_filter_pushdown_reaches_scan(spark, sf_dir):
    plan = _plan(spark, sf_dir, "q1_pricing_summary")
    pushed = re.search(r"PushedFilters: \[([^\]]*)\]", plan)
    assert pushed and "LessThanOrEqual(l_shipdate" in pushed.group(1)


def test_column_pruning_reaches_scan(spark, sf_dir):
    plan = _plan(spark, sf_dir, "q1_pricing_summary")
    schema = re.search(r"ReadSchema: struct<([^>]*)", plan).group(1)
    # q1 needs 7 of lineitem's 16 columns; the scan must not read the rest
    assert "l_comment" not in schema and "l_partkey" not in schema
    assert "l_quantity" in schema


def test_small_dims_broadcast(spark, sf_dir):
    plan = _plan(spark, sf_dir, "q3_shipping_priority")
    assert "BroadcastHashJoin" in plan


def test_minhash_band_join_carries_no_text_or_signatures(spark, sf_dir):
    """The band self-join must shuffle ids + band keys only — neither the
    document text nor the 64-long signature arrays ride the shuffle."""
    plan = _plan(spark, sf_dir, "dedup_minhash_lsh")
    m = re.search(r"SortMergeJoin.*?\[band", plan) or re.search(r"ShuffledHashJoin", plan)
    # join inputs listed in the plan around the band join must not mention text
    joins = [seg for seg in plan.split("+- ") if "band_hash" in seg and "Exchange hashpartitioning" in seg]
    assert joins, "expected shuffle exchanges keyed on band_hash"
    assert all("text#" not in seg for seg in joins)


def test_salted_join_matches_plain_join(spark, sf_dir):
    from pipes_spark.operators.scale import salted_equi_join
    from pipes_spark.sources import load_table

    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer").withColumnRenamed("c_custkey", "o_custkey")
    plain = orders.join(cust, ["o_custkey"]).count()
    salted = salted_equi_join(orders, cust, ["o_custkey"]).count()
    assert salted == plain


def test_bucketed_join_avoids_shuffle(spark, sf_dir, tmp_path_factory):
    """Bucketing both sides on the join key at write time removes the
    exchange from the join plan — the pay-the-shuffle-once pattern for
    repeatedly-joined fact tables."""
    from pipes_spark.sinks import write_bucketed
    from pipes_spark.sources import load_table

    orders = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_quantity")
    write_bucketed("b_orders", ["o_orderkey"], 8)(orders)
    write_bucketed("b_lineitem", ["l_orderkey"], 8)(li)
    try:
        bo, bl = spark.table("b_orders"), spark.table("b_lineitem")
        # the toy tables would be broadcast; force the sort-merge path the
        # pattern targets (100 TB fact×fact joins are never broadcastable)
        joined = bo.hint("merge").join(bl, bo.o_orderkey == bl.l_orderkey)
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "Exchange hashpartitioning" not in plan
        assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan
        assert joined.count() == orders.join(li, orders.o_orderkey == li.l_orderkey).count()
    finally:
        spark.sql("DROP TABLE IF EXISTS b_orders")
        spark.sql("DROP TABLE IF EXISTS b_lineitem")


def test_subquery_exists_decorrelates_to_semi_join(spark, sf_dir):
    """The correlated EXISTS must plan as a single semi join, not a per-row
    subquery (RewritePredicateSubquery)."""
    plan = _plan(spark, sf_dir, "subquery_exists")
    assert "LeftSemi" in plan
    assert "Subquery" not in plan  # fully decorrelated: no subquery stage left


def test_subquery_not_in_plans_null_aware_anti_join(spark, sf_dir):
    plan = _plan(spark, sf_dir, "subquery_not_in")
    assert "LeftAnti" in plan


def test_subquery_scalar_corr_aggregates_once(spark, sf_dir):
    """The correlated scalar subquery must decorrelate to ONE aggregate over
    lineitem joined back — not a per-outer-row execution."""
    plan = _plan(spark, sf_dir, "subquery_scalar_corr")
    assert plan.count("HashAggregate") >= 2  # partial+final of the inner agg
    assert "LeftOuter" in plan or "Inner" in plan


def test_q3_bucketed_is_exchange_free(spark, sf_dir):
    """With both facts bucketed on orderkey, q3's fact-fact join and its
    orderkey-leading aggregation must add NO hash exchange (the only
    exchange allowed is the dimension broadcast)."""
    plan = _plan(spark, sf_dir, "q3_bucketed_colocated")
    assert "Exchange hashpartitioning" not in plan
    assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan
    assert "BroadcastHashJoin" in plan  # customer dim still broadcasts


def test_q19_disjunction_derives_single_side_pushdowns(spark, sf_dir):
    """Catalyst must extract the derivable per-side conjuncts of the
    OR-of-ANDs predicate and push them into BOTH scans — at scale this is
    the difference between scanning 3 quantity bands and the whole fact."""
    plan = _plan(spark, sf_dir, "q19_disjunctive_revenue")
    li_scan = next(s for s in plan.split("FileScan parquet")[1:] if "l_quantity" in s.split("]")[0])
    part_scan = next(s for s in plan.split("FileScan parquet")[1:] if "p_brand" in s.split("]")[0])
    # derived bounds in the scans' DataFilters. The plan string truncates
    # long filter lists at a position that depends on attribute-id width,
    # so assert on the early, short conjuncts: the quantity band on the
    # fact scan and the size bound on the dim scan exist ONLY as derived
    # single-side consequences of the OR-of-ANDs predicate.
    assert "l_quantity" in li_scan.split("Format:")[0]
    assert re.search(r"\(p_size#\d+ >= 1\)", part_scan.split("Format:")[0])


def test_q10_aggregates_before_customer_join(spark, sf_dir):
    """Revenue must be reduced to one row per custkey BEFORE the customer
    dim join (the post-agg join moves |active customers| rows, not
    |lineitems|), and the top-20 must plan as TakeOrderedAndProject."""
    plan = _plan(spark, sf_dir, "q10_returned_items")
    assert re.search(r"HashAggregate\(keys=\[o_custkey", plan)
    assert "TakeOrderedAndProject(limit=20" in plan


def test_q18_having_subquery_plans_as_semi_join(spark, sf_dir):
    plan = _plan(spark, sf_dir, "q18_large_volume")
    assert "LeftSemi" in plan


def test_q8_single_fact_shuffle(spark, sf_dir):
    """All dims broadcast: the lineitem path must reach the final group-by
    with exactly one hash exchange (the aggregation itself)."""
    plan = _plan(spark, sf_dir, "q8_market_share")
    assert plan.count("Exchange hashpartitioning") == 1
    assert "SortMergeJoin" not in plan


def test_runtime_bloom_filter_prunes_fact_probe_side(spark, sf_dir):
    """Spark's runtime bloom-filter injection (on by default in the session
    factory) semi-join-reduces the fact probe side of a shuffle join from a
    selectively-filtered build side — at 100 TB this skips most of the fact
    scan's output before the exchange. The size thresholds are tuned for
    clusters, so pin them down to demonstrate injection on test data."""
    from pipes_spark.sources import load_table

    confs = {
        "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold": "10GB",
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "0",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
    }
    saved = {k: spark.conf.get(k) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        li = load_table(spark, sf_dir, "lineitem")
        orders = load_table(spark, sf_dir, "orders").filter(
            F.col("o_orderpriority") == "1-URGENT"
        )
        j = (
            li.join(orders, li.l_orderkey == orders.o_orderkey)
            .groupBy("o_orderpriority")
            .count()
        )
        plan = j._jdf.queryExecution().optimizedPlan().toString()
        assert "might_contain" in plan and "bloom_filter_agg" in plan
    finally:
        for k, v in saved.items():
            spark.conf.set(k, v)


def test_q2_reuses_one_partkey_exchange(spark, sf_dir):
    """The correlated-min decorrelation must hash-partition lineitem ONCE:
    the partkey exchange satisfies both the (partkey, suppkey) aggregation
    and the per-part window min."""
    plan = _plan(spark, sf_dir, "q2_min_cost_supplier")
    assert plan.count("Exchange hashpartitioning") == 1


def test_q6_pushes_all_predicates_and_prunes_columns(spark, sf_dir):
    """The canonical scan-filter-aggregate: every predicate must reach the
    parquet scan and the read schema must shrink to the 4 referenced
    columns — at 100 TB this is the difference between scanning the table
    and scanning a few row groups of 4 columns."""
    plan = _plan(spark, sf_dir, "q6_forecast_revenue")
    scan = next(s for s in plan.splitlines() if "FileScan" in s and "lineitem" in s)
    for col in ("l_shipdate", "l_discount", "l_quantity"):
        assert col in scan.split("PushedFilters: ")[1], col
    read = scan.split("ReadSchema: ")[1]
    assert sorted(re.findall(r"l_\w+", read)) == [
        "l_discount", "l_extendedprice", "l_quantity", "l_shipdate",
    ]


def test_ivf_indexed_scan_prunes_unprobed_lists(spark, sf_dir):
    """The list-partitioned IVF corpus scan must carry a static partition
    filter on the probed list ids and open only those partitions' files —
    the 'read n_probe of num_centroids lists' promise, enforced by the
    storage layer."""
    from pipes_spark.operators.similarity import ivf_cosine_topk_indexed
    from pipes_spark.sources import load_table
    from pipes_spark.warehouse import ivf_index_tables

    codebook, corpus = ivf_index_tables(spark, sf_dir)
    q = load_table(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 2)
    df = ivf_cosine_topk_indexed(codebook, corpus, q, k=3, n_probe=2)
    seg = next(
        s
        for s in df._jdf.queryExecution().executedPlan().toString().splitlines()
        if "ivf_corpus" in s and "FileScan" in s
    )
    assert "PartitionFilters: [list_id" in seg
    m = re.search(r"InMemoryFileIndex\((\d+) paths?\)", seg)
    assert m and int(m.group(1)) <= 4  # 2 queries × 2 probes of 16 lists


def test_contamination_benchmark_broadcasts(spark, sf_dir):
    """The corpus side must stream map-side against a broadcast benchmark
    shingle set — no shuffle of the (much larger) corpus shingles."""
    plan = _plan(spark, sf_dir, "text_contamination")
    assert "BroadcastHashJoin" in plan
    # the only exchange moving corpus rows is the final per-doc aggregation
    assert "SortMergeJoin" not in plan


def test_mixture_sample_broadcasts_thresholds(spark, sf_dir):
    """The per-group keep-thresholds (tiny) broadcast onto the stream; the
    corpus itself is never hash-shuffled for the join."""
    plan = _plan(spark, sf_dir, "sample_mixture")
    assert "BroadcastHashJoin" in plan


def test_merge_upsert_single_key_shuffle(spark, sf_dir):
    """MERGE = one full-outer sort-merge join keyed on the merge key."""
    plan = _plan(spark, sf_dir, "merge_upsert_orders")
    assert len(re.findall(r"SortMergeJoin .*FullOuter", plan)) == 1


def test_salted_agg_two_hash_aggregate_phases(spark, sf_dir):
    """Both phases must be hash aggregates with partial combine — the
    (key, salt) phase and the key phase (each HashAggregate pair =
    partial + final)."""
    plan = _plan(spark, sf_dir, "agg_skew_salted")
    assert plan.count("HashAggregate") >= 4
    assert "_salt" in plan


def test_lsh_verified_broadcasts_candidates_and_keeps_text_off_shuffles(spark, sf_dir):
    """The composed LSH→verify plan must (a) reach the corpus through a
    broadcast-able semi-join against the candidate id set (the corpus side
    never shuffles for candidate selection), (b) serve the signature table
    from the persisted InMemoryRelation (text hashed exactly once), and
    (c) never carry document text through ANY shuffle exchange — shuffles
    move ids/hashes only."""
    plan = _plan(spark, sf_dir, "dedup_lsh_verified")
    assert "LeftSemi" in plan
    assert "InMemoryTableScan" in plan
    shuffles = [s for s in plan.split("+- ") if "Exchange hashpartitioning" in s]
    assert shuffles
    assert all("text#" not in s for s in shuffles)


def test_funnel_shuffles_events_once(spark, sf_dir):
    """funnel's contract: ONE shuffle of the (filtered) raw event table —
    the per-(user, step) collect_list aggregation; every later round joins
    the small aggregates. The step predicate must reach the parquet scan."""
    plan = _plan(spark, sf_dir, "timeseries_funnel")
    raw_shuffles = re.findall(r"Exchange hashpartitioning\(_u#\d+L, _etype#\d+", plan)
    assert len(raw_shuffles) >= 1
    pushed = re.findall(r"PushedFilters: \[([^\]]*)\]", plan)
    assert any("In(event_type" in p for p in pushed), pushed


def test_gapfill_grid_join_keys_on_bucket(spark, sf_dir):
    """gapfill joins grid←→observations on the compound (keys, bucket) key —
    as a broadcast join when one side is small (AQE's pick here) or a
    co-partitioned shuffle join at scale; either way the join keys must be
    the compound key and the events scan must prune to referenced columns."""
    plan = _plan(spark, sf_dir, "timeseries_gapfill")
    compound_join = re.search(
        r"(BroadcastHashJoin|SortMergeJoin|ShuffledHashJoin) \[user_id#\d+L, bucket#\d+\]",
        plan,
    )
    assert compound_join, "expected a join keyed on (user_id, bucket)"
    schema = re.search(r"ReadSchema: struct<([^>]*)", plan).group(1)
    assert "props" not in schema and "event_type" not in schema


def test_top_ngrams_plans_takeordered_not_global_sort(spark, sf_dir):
    """Corpus top-k must execute as TakeOrderedAndProject (per-partition
    top-k + driver merge), never a full global Sort of the n-gram counts,
    and the shuffle must carry (ngram, count) only — no doc ids or text."""
    plan = _plan(spark, sf_dir, "text_top_ngrams")
    assert "TakeOrderedAndProject" in plan
    assert "Sort " not in plan
    shuffles = [s for s in plan.split("+- ") if "Exchange hashpartitioning" in s]
    assert shuffles and all("text#" not in s and "doc_id#" not in s for s in shuffles)


def test_scd2_point_in_time_is_hash_join_not_bnlj(spark, sf_dir):
    """The validity-interval lookup must plan as a hash join driven by the
    key equality (broadcast here; key-shuffled at scale) with the interval
    bounds as residual condition — never a BroadcastNestedLoopJoin."""
    plan = _plan(spark, sf_dir, "scd2_point_in_time")
    assert "BroadcastNestedLoopJoin" not in plan
    assert "BroadcastHashJoin" in plan or "SortMergeJoin" in plan


def test_ivfpq_indexed_scan_prunes_unprobed_lists(spark, sf_dir):
    """The list-partitioned IVFPQ codes scan must carry a static partition
    filter on the probed lists — IVFPQ's n_probe/num_lists byte promise
    through the storage layer, same contract as the IVF-flat index."""
    from pipes_spark.operators.similarity import ivfpq_topk
    from pipes_spark.sources import load_table
    from pipes_spark.warehouse import ivfpq_index_tables, load_ivfpq_model

    _, codes = ivfpq_index_tables(spark, sf_dir)
    C, books = load_ivfpq_model(spark, sf_dir)
    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 2)
    df = ivfpq_topk(emb, q, C, books, k=3, n_probe=2, encoded_corpus=codes)
    seg = next(
        s
        for s in df._jdf.queryExecution().executedPlan().toString().splitlines()
        if "ivfpq_codes" in s and "FileScan" in s
    )
    assert "PartitionFilters: [list_id" in seg
    m = re.search(r"InMemoryFileIndex\((\d+) paths?\)", seg)
    assert m and int(m.group(1)) <= 4  # 2 queries x 2 probes of 16 lists


def test_chunk_token_windows_has_no_exchange(spark, sf_dir):
    """Chunking claims 'map-side only — no shuffle at all': the physical
    plan must contain ZERO Exchange operators."""
    from pipes_spark.operators.text import chunk_token_windows
    from pipes_spark.sources import load_table

    df = chunk_token_windows(load_table(spark, sf_dir, "documents"))
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan


def test_mad_outliers_broadcasts_the_aggregates(spark, sf_dir):
    """The median and MAD per-group tables are tiny and must broadcast back
    onto the stream — the value table itself never sort-merge-joins."""
    from pipes_spark.operators.profiling import mad_outliers
    from pipes_spark.sources import load_table

    ev = load_table(spark, sf_dir, "events").select("event_id", "event_type", "value")
    df = mad_outliers(ev, ["event_type"], "value")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("BroadcastHashJoin") >= 2
    assert "SortMergeJoin" not in plan


def test_fuzzy_join_blocks_on_equi_keys_not_cartesian(spark, sf_dir):
    """The segment pigeonhole must plan as an equi-join on (length,
    segment index, segment) — never a BroadcastNestedLoop/Cartesian pass
    over the string pairs."""
    plan = _plan(spark, sf_dir, "text_fuzzy_join")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_triangle_wedge_join_is_equi_not_cartesian(spark, sf_dir):
    plan = _plan(spark, sf_dir, "graph_triangles")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_knn_graph_no_cartesian(spark, sf_dir):
    """kNN pair generation must ride the block-cartesian cogroup (an
    explicit, bounded replication), not an engine-planned cartesian."""
    plan = _plan(spark, sf_dir, "sim_knn_graph")
    assert "CartesianProduct" not in plan
    assert "FlatMapCoGroupsInPandas" in plan  # the tiled scan


def test_quality_checks_row_rules_single_aggregate(spark, sf_dir):
    """The three row-level rules must fold into ONE aggregate pass over
    orders (plus one per-key aggregate for the uniqueness rule) — the
    plan may scan orders at most twice."""
    plan = _plan(spark, sf_dir, "quality_orders")
    # one scan for the folded row-level rules + one for the uniqueness agg
    assert plan.count("FileScan parquet") <= 2


def test_ab_test_single_stats_aggregate_shape(spark, sf_dir):
    plan = _plan(spark, sf_dir, "events_ab_test")
    # sufficient-statistics pattern: partial_ then final HashAggregate
    assert "HashAggregate" in plan
    assert "CartesianProduct" not in plan or "1 rows" not in plan


def test_attribution_single_user_shuffle(spark, sf_dir):
    """Attribution is one window pass per user: exactly one exchange of
    the events by user_id, no joins."""
    plan = _plan(spark, sf_dir, "events_attribution")
    assert plan.count("Exchange hashpartitioning(user_id") == 1
    assert "Join" not in plan


def test_shuffle_hash_hint_takes_effect(spark, sf_dir):
    plan = _plan(spark, sf_dir, "join_shuffle_hash")
    assert "ShuffledHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_oov_vocab_joins_broadcast_not_shuffle(spark, sf_dir):
    """The 20-row vocabulary must broadcast to the token stream — a
    shuffled join would move every (group, token) pair twice."""
    plan = _plan(spark, sf_dir, "text_vocab_oov")
    assert "BroadcastHashJoin" in plan


def test_shard_assignment_offsets_broadcast(spark, sf_dir):
    """The ≤4096-row bucket-offset table joins back broadcast; the ranked
    side must NOT round-trip an extra shuffle for it."""
    plan = _plan(spark, sf_dir, "sample_shard_assignment")
    assert "BroadcastHashJoin" in plan


def test_chi_square_marginals_broadcast(spark, sf_dir):
    plan = _plan(spark, sf_dir, "stats_chi_square")
    assert plan.count("BroadcastHashJoin") >= 2  # row + column marginals
    assert "CartesianProduct" not in plan


def test_shortest_paths_rounds_are_hash_joins(spark):
    """Every BFS round must be an equi hash join on the vertex id — no
    cartesian/BNLJ fallback on the frontier expansion. The declared query
    checkpoints each round (empty final plan), so this inspects the FULL
    uncut lineage via the operator's cut_lineage=False audit switch."""
    from pipes_spark.operators.components import shortest_paths

    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(8)], "src bigint, dst bigint"
    )
    sp = shortest_paths(edges, [0], max_hops=3, cut_lineage=False)
    plan = sp._jdf.queryExecution().executedPlan().toString()
    assert "Join" in plan  # the frontier joins are actually in this plan
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan


def test_auc_groups_before_window(spark, sf_dir):
    """The global cumulative window must run over the GROUPED score domain
    — a HashAggregate must appear below the Window in the plan."""
    plan = _plan(spark, sf_dir, "ml_auc_roc")
    w = plan.find("Window")
    assert w != -1
    assert "HashAggregate" in plan[w:]


def test_geo_nearest_join_no_cartesian(spark, sf_dir):
    """The grid-cell blocking must plan as an equi (hash) join on the cell
    key — never a cartesian/BNLJ of points × POIs."""
    plan = _plan(spark, sf_dir, "geo_nearest_poi")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert re.search(r"(BroadcastHashJoin|SortMergeJoin|ShuffledHashJoin)", plan)


def test_phash_pairs_filters_before_dedup_exchange(spark, sf_dir):
    """The bit_count(XOR) hamming verify must run BELOW the pair-dedup
    exchange: only true near-pairs reach the shuffle (the review-fixed
    ordering)."""
    plan = _plan(spark, sf_dir, "multimodal_phash_pairs")
    # the dedup exchange partitions on (id_a, id_b); locate it, then check
    # the subtree UNDER it already applies the hamming filter
    segs = plan.split("Exchange hashpartitioning(id_a")
    assert len(segs) >= 2, "expected a pair-dedup exchange keyed on id_a"
    below = segs[-1]
    assert "bit_count" in below, "hamming filter must sit below the dedup exchange"


def test_link_pred_prunes_scans_to_join_keys(spark, sf_dir):
    """Column pruning must reach both scans: the edge build needs ONLY the
    two key columns of each table — payload columns (prices, dates,
    names) never enter the plan, so nothing but ids and weights can ride
    the banding shuffle."""
    plan = _plan(spark, sf_dir, "graph_link_pred")
    schemas = re.findall(r"ReadSchema: struct<([^>]*)", plan)
    assert schemas, "expected parquet scans"
    for sch in schemas:
        assert "l_extendedprice" not in sch and "l_quantity" not in sch
        assert "o_totalprice" not in sch and "o_orderdate" not in sch
    assert any("l_orderkey" in sch and "l_partkey" in sch for sch in schemas)
    assert any("o_orderkey" in sch and "o_custkey" in sch for sch in schemas)


def test_naive_bayes_model_join_keys_on_token(spark, sf_dir):
    """Scoring re-keys the token stream by word to meet the (w, class)
    count table — an equi-join, with the tiny class spine broadcast."""
    plan = _plan(spark, sf_dir, "ml_naive_bayes")
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


# ---------------------------------------------------------------------------
# construction laziness: the reference runs nothing before Runner.Start
# (ref: pipe/runner.go:18-22) — building a query's DataFrame must fire no
# Spark job. Exemptions are the documented contracts where construction IS
# the work, each with its reason.

CONSTRUCTION_JOB_EXEMPT = {
    # iterative algorithms: driver-side convergence loop / per-round
    # checkpoint (documented contract — collect only per-round scalars)
    "dedup_components": "iterative (large-star/small-star rounds)",
    "dedup_drop_near_dups": "iterative (connected components)",
    "dedup_drop_near_dups_best": "iterative + signature-table ingest",
    "dedup_rate_report": "iterative + signature-table ingest",
    "dedup_semantic_pairs": "k-means training sample (codebook contract)",
    "entity_resolution": "iterative (connected components)",
    "graph_pagerank": "iterative (power rounds, checkpointed)",
    "graph_cc_incremental": "iterative (CC rounds on base + touched delta)",
    "graph_labelprop": "iterative + signature-table ingest",
    "graph_kcore": "iterative (peel rounds)",
    "graph_shortest_paths": "iterative (relaxation rounds)",
    "graph_modularity": "iterative (label propagation)",
    "ml_logistic_confusion": "gradient iterations (per-round scalars)",
    "ml_record_linkage": "EM rounds (per-round scalar collects)",
    "ml_ridge": "closed-form solve collects sufficient statistics",
    "ml_pca": "power-iteration rounds",
    "ml_silhouette": "k-means training rounds",
    "cluster_kmeans_stats": "k-means training rounds",
    "ts_harmonic": "normal-equation solve collects Gram scalars",
    "events_markov_stationary": "power-iteration rounds",
    "text_bpe_vocab": "iterative (per-round argmax merge scalar)",
    # ingest artifacts: construction build-or-reads a persisted warehouse
    # table (idempotent per sf; bench/ingest pre-builds them)
    "dedup_minhash_lsh": "minhash signature table build-or-read",
    "dedup_lsh_verified": "minhash signature table build-or-read",
    "dedup_incremental_ingest": "delta signature ingest artifact",
    "sim_quantized_topk": "int8 table build-or-read + query-set collect",
    "sim_ivf_indexed": "IVF index table build-or-read",
    "sim_ivfpq_indexed": "IVFPQ index table build-or-read",
    "q3_bucketed_colocated": "bucketed fact table build-or-read",
    "text_phrase_indexed": "postings table build-or-read",
    "text_kn_perplexity_indexed": "bigram count table build-or-read",
    "events_daily_from_rollup": "hourly rollup table build-or-read",
    "events_daily_users_from_rollup": "hourly rollup table build-or-read",
    # documented small-side collect contracts (codebooks / probe sets)
    "sim_ivf_topk": "centroid training sample (codebook contract)",
    "sim_pq_topk": "PQ codebook training sample",
    "sim_ivfpq_topk": "IVFPQ codebook training sample",
    "quality_observed": "observe-API demo: metrics exist only after a run",
    "scan_transpose": "Spark transpose() collects the index values",
    "sql_scripting": "SQL script body executes statements at sql() time",
}


def test_query_construction_fires_no_spark_job(spark, sf_dir):
    """Every declared non-exempt query must build its DataFrame without
    launching a single Spark job (no hidden counts/collects/inference —
    the lazy-build contract). Uses per-query job groups + the status
    tracker; streaming queries are exempt wholesale (construction runs
    the availableNow stream by design, on threads job groups can't tag)."""
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    offenders = {}
    for name, spec in QUERIES.items():
        if name in CONSTRUCTION_JOB_EXEMPT or name.startswith("streaming_"):
            continue
        group = f"lazybuild-{name}"
        sc.setJobGroup(group, name)
        try:
            spec.fn(spark, sf_dir)
        finally:
            sc.setJobGroup("lazybuild-idle", "idle")
        jobs = tracker.getJobIdsForGroup(group)
        if jobs:
            offenders[name] = len(jobs)
    assert not offenders, f"construction ran Spark jobs: {offenders}"


def test_laziness_exemptions_are_declared_queries():
    """The exemption list must not rot: every entry names a live query."""
    unknown = sorted(set(CONSTRUCTION_JOB_EXEMPT) - set(QUERIES))
    assert not unknown, f"exempt names not in registry: {unknown}"


#: py4j commands one warm construction of each ``perfbench`` relational
#: query sends on the tests' data (memory deletes left out; see
#: ``py4j_budget``) — the counts repeat exactly. Each round trip costs
#: ~1 ms of driver time at any data size; lower a budget when a change
#: cuts its count.
CONSTRUCTION_PY4J_BUDGET = {
    "q3_shipping_priority": 156,
    "q5_local_supplier_volume": 179,
    "q8_market_share": 311,
    "q18_large_volume": 212,
    "subquery_exists": 35,
}


@pytest.mark.parametrize("name", list(CONSTRUCTION_PY4J_BUDGET))
def test_query_construction_py4j_budget(spark, sf_dir, py4j_budget, name):
    # the first construction in a process sends a few one-time calls, and
    # building the query also releases other queries' cached blocks: do
    # both before counting
    QUERIES[name].fn(spark, sf_dir)
    with py4j_budget(name, CONSTRUCTION_PY4J_BUDGET[name]):
        QUERIES[name].fn(spark, sf_dir)


def test_pii_redact_plans_zero_exchange(spark, sf_dir):
    """The redaction rewrite is a pure map-side regexp chain — no shuffle
    may appear anywhere in the plan."""
    plan = _plan(spark, sf_dir, "text_pii_redact")
    assert "Exchange" not in plan
    # the starred project is the whole-stage-codegen span
    assert re.search(r"\*\(\d+\) Project", plan)


def test_dsir_model_join_broadcasts(spark, sf_dir):
    """The per-doc fold joins the (≤num_buckets)-row model via broadcast —
    the corpus-sized (id, bucket) stream must never sort-merge against
    it."""
    plan = _plan(spark, sf_dir, "text_dsir")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_boilerplate_mark_join_broadcasts(spark, sf_dir):
    """The boiler-gram set (grams in ≥min_doc_frac of all docs — inherently
    tiny) is broadcast, so the full gram stream shuffles only for the two
    map-side-combined aggregates."""
    plan = _plan(spark, sf_dir, "text_boilerplate")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_phrase_search_legs_read_the_cached_posting_slice(spark, sf_dir):
    """The per-token join legs must read the scoped-persisted posting
    slice (InMemoryTableScan), not re-derive the posexplode per leg: the
    documents scan appears only inside the one cached-relation build."""
    plan = _plan(spark, sf_dir, "text_phrase_search")
    assert "InMemoryTableScan" in plan
    # outside the InMemoryRelation definition block, no second parquet scan
    # of documents feeds a join leg
    legs = plan.split("InMemoryRelation")[0]
    assert legs.count("FileScan parquet") == 0


def test_kmv_selection_windows_are_bucket_partitioned_first(spark, sf_dir):
    """The two-level top-k must run the first window PARTITIONED by the
    hash bucket (pmod) — never a whole set ordered on one task before the
    bucket cap."""
    plan = _plan(spark, sf_dir, "sketch_kmv_overlap")
    # Spark pre-projects the pmod bucket as _w0 and rewrites rank<=k into
    # WindowGroupLimit: assert the bucket-keyed exchange precedes the
    # per-set one, and the group-limit pushdown kicked in (partial+final)
    assert re.search(r"Exchange hashpartitioning\(_s#\d+, _w0#\d+", plan)
    assert "WindowGroupLimit" in plan


def test_table_diff_plans_one_full_outer_join(spark, sf_dir):
    plan = _plan(spark, sf_dir, "profile_table_diff")
    assert "FullOuter" in plan
    assert plan.count("FullOuter") == 1


def test_incremental_cc_broadcasts_touched_components(spark, sf_dir):
    """The touched-component set (tiny by construction) must broadcast
    into both the affected semi-join and the untouched anti-join — the
    corpus-sized assignment table never shuffles for the split."""
    plan = _plan(spark, sf_dir, "graph_cc_incremental")
    assert re.search(r"BroadcastHashJoin .*LeftSemi", plan)
    assert re.search(r"BroadcastHashJoin .*LeftAnti", plan)


# every declared query's optimized plan is screened for the one plan
# shape that silently stops scaling: a Window that globally sorts its
# input into a single task (tools/window_lint.py — Catalyst folds away
# constant partition keys, so bounded stitch windows are recognized by
# their reserved `_rkb` bucket-id order). The residual allowance below is
# the full documented list of bounded-domain windows; anything new must
# either route through operators/ranks.py or be added here with a reason.
WINDOW_LINT_ALLOWED = {
    # rank over ≤k rows surviving an orderBy().limit(k) TakeOrdered
    "search_hybrid_rrf": (1, "rank over the LIMIT-20 lexical top-k"),
    "stats_skew_report": (1, "rank over the LIMIT top_n heaviest keys"),
    # calendar-compressed domains: one row per day/time bucket — thousands
    # of rows at ANY corpus size (the window input is bounded by elapsed
    # time, not by data volume)
    "ts_period_over_period": (1, "per-day compressed series"),
    "events_cumulative_users": (1, "per-day first-seen counts"),
    "ts_concurrency": (1, "per-time-bucket concurrency deltas"),
    # bounded-dimension domain: one row per part brand
    "stats_pareto": (1, "per-brand revenue concentration sweep"),
}


def test_no_unpartitioned_data_window_in_any_query(spark, sf_dir):
    """No declared query may plan an unpartitioned ordered Window outside
    the documented bounded-domain allowance — the gate form of the
    round-6 finding that the survival family / zipf / sorted-neighborhood
    rode one-task global sorts (this test fails on any such regression:
    reverting timeseries.kaplan_meier to `Window.orderBy("duration")`
    trips it)."""
    import os
    import sys

    sys.path.insert(
        0, os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    )
    from tools.window_lint import unpartitioned_windows

    offenders = {}
    for name, spec in QUERIES.items():
        if name in CONSTRUCTION_JOB_EXEMPT or name.startswith("streaming_"):
            continue
        plan = (
            spec.fn(spark, sf_dir)
            ._jdf.queryExecution()
            .optimizedPlan()
            .toString()
        )
        hits = unpartitioned_windows(plan)
        allowed = WINDOW_LINT_ALLOWED.get(name, (0, ""))[0]
        # exact match, not <=: a stale allowance must fail too, or it
        # silently grants its query one future one-task window for free
        if len(hits) != allowed:
            offenders[name] = [order[:80] for _, order in hits] or [
                f"allowance says {allowed}, plan has none — remove the entry"
            ]
    assert not offenders, f"unpartitioned data windows: {offenders}"


def test_window_lint_allowance_is_tight():
    """The allowance lists must not rot: every entry names a live query."""
    unknown = sorted(set(WINDOW_LINT_ALLOWED) - set(QUERIES))
    assert not unknown, f"allowance names not in registry: {unknown}"
    unknown_s = sorted(
        (set(STREAMING_LINT_ALLOWED) | set(STREAMING_LINT_UNCAPTURED_ALLOWED))
        - set(QUERIES)
    )
    assert not unknown_s, f"streaming allowance names not in registry: {unknown_s}"


# streaming queries with a documented reason to have no capturable
# micro-batch plan (none today — every finite runner records its final
# IncrementalExecution via streaming.record_executed_plan)
STREAMING_LINT_UNCAPTURED_ALLOWED: dict = {}

# bounded-domain allowance for the streaming lint (exact counts, like
# WINDOW_LINT_ALLOWED): windows whose input is provably tiny at any scale
STREAMING_LINT_ALLOWED = {
    # kmv_merge's final top-k rank runs over the UNION OF SKETCHES —
    # ≤ 64 rows per micro-batch regardless of data volume (each batch's
    # kmv_sketch caps itself bucket-parallel first)
    "streaming_kmv_distinct": (1, "kmv_merge rank over ≤ 64·n_batches sketch rows"),
}


def test_no_unpartitioned_data_window_in_streaming_microbatch(spark, sf_dir):
    """Streaming twin of the batch window lint: a streaming query has no
    construction-time optimized plan (the plan exists per micro-batch), so
    every finite runner records its final micro-batch EXECUTED plan
    (streaming.EXECUTED_MICROBATCH_PLANS) and the lint screens that — plus
    the returned batch DataFrame's optimized plan, which covers the
    foreachBatch merge trees (upsert/count-min/KMV) the streaming engine
    never sees. Closes the `streaming_*` skip of the batch lint above."""
    import os
    import sys

    sys.path.insert(
        0, os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    )
    from pipes_spark import streaming as st
    from tools.window_lint import unpartitioned_windows

    offenders, uncaptured = {}, []
    for name, spec in QUERIES.items():
        if not name.startswith("streaming_"):
            continue
        st.EXECUTED_MICROBATCH_PLANS.clear()
        df = spec.fn(spark, sf_dir)
        plans = [p for _, p in st.EXECUTED_MICROBATCH_PLANS]
        if not plans and name not in STREAMING_LINT_UNCAPTURED_ALLOWED:
            uncaptured.append(name)
        plans.append(
            df._jdf.queryExecution().optimizedPlan().toString()
        )
        # dedup ACROSS plans but not within one: the returned batch
        # DataFrame's plan can repeat a window already captured in a
        # micro-batch plan (the foreachBatch merge trees) — that is one
        # window, not two. But two DISTINCT windows sharing an order
        # spec inside the SAME plan are two real bottlenecks, so count
        # each order spec at its max per-plan multiplicity.
        per_plan: dict = {}
        examples: dict = {}
        for p in plans:
            counts_in_plan: dict = {}
            for h in unpartitioned_windows(p):
                counts_in_plan[h[1]] = counts_in_plan.get(h[1], 0) + 1
                examples.setdefault(h[1], h)
            for order, c in counts_in_plan.items():
                per_plan[order] = max(per_plan.get(order, 0), c)
        hits = [
            examples[order] for order, c in per_plan.items() for _ in range(c)
        ]
        allowed = STREAMING_LINT_ALLOWED.get(name, (0, ""))[0]
        # exact match, not <=: a stale allowance must fail too
        if len(hits) != allowed:
            offenders[name] = [order[:80] for _, order in hits] or [
                f"allowance says {allowed}, plan has none — remove the entry"
            ]
    assert not uncaptured, f"no micro-batch plan captured for: {uncaptured}"
    assert not offenders, f"unpartitioned streaming windows: {offenders}"
