"""Plan-shape gates: the properties that decide 100 TB behavior must hold
in the physical plan, not just the answer (SURVEY §4 — the reference's
golden-plan tests reinterpreted for Catalyst).

Every gate here failing means a real regression at scale: a filter
evaluated post-scan, a fact-table shuffle for a dimension join, or a
Python row loop in a hot path.
"""

from __future__ import annotations

from my_flink_1_10_2_spark import plans
from my_flink_1_10_2_spark.queries import all_queries
from tests.conftest import SF_DIR

QUERIES = all_queries()


def _df(spark, name):
    return QUERIES[name].spark_fn(spark, SF_DIR)


def test_q6_filters_pushed_and_columns_pruned(spark):
    """TPC-H Q6 is the pushdown benchmark: all predicates at the scan,
    only the 4 referenced columns read."""
    df = _df(spark, "q6_forecast_revenue")
    plans.assert_plan(
        df,
        pushed=["l_shipdate", "l_discount", "l_quantity"],
        columns_subset={"l_shipdate", "l_discount", "l_quantity", "l_extendedprice"},
        no_batch_python=True,
    )


def test_q1_single_shuffle(spark):
    """Scan → partial agg → exchange → final agg: exactly one shuffle
    (plus AQE reads); the map-side combine keeps shuffled volume at
    |groups|."""
    df = _df(spark, "q1_pricing_summary")
    assert plans.num_shuffles(df) <= 2  # group-agg exchange + orderBy range exchange
    assert plans.python_eval_count(df) == 0


def test_star_join_broadcasts_dimensions(spark):
    """q9: part/supplier/nation must ride broadcast joins — never
    shuffle the lineitem fact for dimension enrichment."""
    df = _df(spark, "q9_profit_by_nation_year")
    assert plans.broadcast_join_count(df) >= 3
    assert plans.python_eval_count(df) == 0


def test_q7_fact_joins_shuffle_only_facts(spark):
    df = _df(spark, "q7_volume_shipping")
    # supplier + both nation copies broadcast; orders/customer may shuffle
    assert plans.broadcast_join_count(df) >= 3


def test_scan_prunes_columns_for_projection(spark):
    """A 2-column projection over lineitem must read exactly 2 columns."""
    from my_flink_1_10_2_spark.queries import read

    df = read(spark, SF_DIR, "lineitem").select("l_orderkey", "l_quantity")
    assert plans.scan_columns(df) == {"l_orderkey", "l_quantity"}


def test_no_row_python_in_llm_pipeline(spark):
    """MinHash/LSH pipelines must stay JVM-side or Arrow-vectorized —
    BatchEvalPython (row-at-a-time) is banned."""
    for name in ["q_minhash_signatures", "q_text_stats", "q_embedding_topk"]:
        assert plans.python_eval_count(_df(spark, name)) == 0, name


def test_wholestage_codegen_active(spark):
    df = _df(spark, "q1_pricing_summary")
    assert plans.wholestage_codegen_spans(df) >= 1


def test_analyze_table_feeds_cbo_stats(spark, tmp_path):
    """ANALYZE TABLE (ref: TpcdsStatsProvider.java — the reference
    preloads TPC-DS stats the same way) must surface rowCount into the
    optimized plan's cost model, which CBO join-ordering consumes."""
    from my_flink_1_10_2_spark.catalog import analyze_table, read_table

    name = "nation_stats_t"
    spark.sql(f"DROP TABLE IF EXISTS {name}")
    read_table(spark, SF_DIR, "nation").write.saveAsTable(name)
    try:
        n = spark.table(name).count()
        analyze_table(spark, name, columns=["n_nationkey", "n_regionkey"])
        cost = spark.table(name)._jdf.queryExecution().optimizedPlan().stats().toString()
        assert f"rowCount={n}" in cost
        desc = spark.sql(
            f"DESCRIBE EXTENDED {name} n_nationkey"
        ).collect()
        info = {r.info_name: r.info_value for r in desc}
        assert info.get("distinct_count") == str(n)
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {name}")


def test_topk_has_no_nested_loop_join(spark):
    """Exact cosine top-k must score via the broadcast-matrix BLAS
    kernel, not a per-pair BroadcastNestedLoopJoin on a != condition."""
    df = _df(spark, "q_embedding_topk")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastNestedLoopJoin" not in plan


def test_neardup_path_never_collects_corpus(spark):
    """Building the near-dup / connected-components DataFrames must not
    launch ANY Spark job: an eager toPandas()/collect() of the corpus
    during query construction is the driver bottleneck at 100 TB."""
    import inspect

    from my_flink_1_10_2_spark.queries import graph

    src = inspect.getsource(graph.neardup_pairs)
    assert "toPandas" not in src and ".collect(" not in src

    tracker = spark.sparkContext.statusTracker()
    before = set(tracker.getJobIdsForGroup(None) or [])
    df = _df(spark, "q_embedding_neardup")   # construct only — no action
    after = set(tracker.getJobIdsForGroup(None) or [])
    for jid in after - before:
        info = tracker.getJobInfo(jid)
        tasks = [
            tracker.getStageInfo(s).numTasks
            for s in info.stageIds
            if tracker.getStageInfo(s) is not None
        ]
        # parquet footer/schema-inference jobs are 1-task metadata reads;
        # anything larger means the corpus was materialized on the driver
        assert all(t <= 1 for t in tasks), f"data job during construction: {tasks}"
    # and the pair scoring itself runs distributed, as a grouped kernel
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "FlatMapGroupsInPandas" in plan
    # q_connected_components shares the pair kernel; its iterate loop
    # does run jobs per superstep (inherent to iteration), but the edge
    # generation itself is the same job-free blocked plan.


def test_ds3_star_joins_broadcast_dimensions(spark):
    """tpcds3 batch: dimension tables (part/nation/region) ride
    broadcast joins; only fact-fact joins may shuffle."""
    for name, min_bc in [
        ("ds_hierarchy_rank", 2),
        ("ds_before_after_pivot", 1),
        ("ds_multi_period_quantity", 1),
        ("ds_above_type_avg_buyers", 2),
    ]:
        df = _df(spark, name)
        assert plans.broadcast_join_count(df) >= min_bc, name
        assert plans.python_eval_count(df) == 0, name


def test_ds3_single_pass_conditional_aggregates(spark):
    """Q40/Q29-style pivot splits must be ONE aggregation pass over the
    fact, not a per-period self-join union: bounded shuffle count and
    zero Python."""
    for name, max_sh in [
        ("ds_before_after_pivot", 2),
        ("ds_count_buckets", 3),
        ("ds_multi_supplier_no_return", 3),
    ]:
        df = _df(spark, name)
        assert plans.num_shuffles(df) <= max_sh, name
        assert plans.python_eval_count(df) == 0, name


def test_gelly_library_all_jvm_side(spark):
    """Graph algorithms are DataFrame programs: zero Python eval nodes
    anywhere (the NFA-style Python escape hatch is never needed here)."""
    for name in [
        "q_sssp",
        "q_hits",
        "q_local_clustering",
        "q_jaccard_index",
        "q_adamic_adar",
        "q_vertex_metrics",
        "q_triadic_census",
        "q_graph_summarization",
    ]:
        df = _df(spark, name)
        assert plans.python_eval_count(df) == 0, name


def test_pipeline_sampling_is_scan_time_filter(spark):
    """Hash sampling must evaluate as a plain filter over the scan: no
    shuffle, no Python, and only the referenced columns read."""
    for name in ["q_sample_uniform_hash", "q_sample_stratified"]:
        df = _df(spark, name)
        assert plans.num_shuffles(df) == 0, name
        assert plans.python_eval_count(df) == 0, name
    cols = plans.scan_columns(_df(spark, "q_sample_uniform_hash"))
    assert cols and cols <= {"doc_id", "lang", "source"}


def test_pipeline_topn_never_sorts_corpus(spark):
    """consistent_topn and bigram top-k must plan as
    TakeOrderedAndProject (per-partition heap), never a global Sort of
    the corpus-sized relation."""
    for name in ["q_sample_consistent_topn", "q_bigram_topk"]:
        txt = plans.explain_str(_df(spark, name))
        assert "TakeOrderedAndProject" in txt, name


def test_pipeline_ops_all_jvm_side(spark):
    """Vocab/quantization/repetition/report kernels are codegen
    expressions — zero Python eval nodes."""
    for name in [
        "q_vocab_coverage",
        "q_embedding_quantize",
        "q_repetition_ratio",
        "q_source_quality_report",
        "q_train_test_split",
        "q_doc_length_buckets",
    ]:
        df = _df(spark, name)
        assert plans.python_eval_count(df) == 0, name


def test_ds4_star_joins_broadcast_dimensions(spark):
    """Batch-four DS shapes keep dimensions broadcast and the fact on a
    bounded shuffle count, all JVM-side."""
    for name, min_bc in [
        ("ds_dow_pivot", 1),
        ("ds_fulfillment_latency_nations", 2),
        ("ds_best_worst_performers", 2),
        ("ds_triple_channel_brand", 3),
    ]:
        df = _df(spark, name)
        assert plans.broadcast_join_count(df) >= min_bc, name
        assert plans.python_eval_count(df) == 0, name


def test_ds5_star_joins_broadcast_dimensions(spark):
    """Batch-five DS shapes: dimension joins stay broadcast, no Python
    eval anywhere in the plan."""
    for name, min_bc in [
        ("ds_city_switch", 2),
        ("ds_segment_or_filter", 1),
        ("ds_demo_rollup_avgs", 1),
        ("ds_above_nation_avg_returns", 1),
    ]:
        df = _df(spark, name)
        assert plans.broadcast_join_count(df) >= min_bc, name
        assert plans.python_eval_count(df) == 0, name


def test_ds5_aggregate_then_window(spark):
    """Deviation/lag/peak shapes window over the aggregated matrix, not
    base rows: the window's exchange must sit above a partial/final agg,
    and the whole plan stays JVM-side."""
    for name in [
        "ds_brand_month_deviation",
        "ds_priority_month_lag",
        "ds_peak_month_per_customer",
        "ds_net_sales_after_returns",
        "ds_frequent_buyer_band",
        "ds_price_band_parts",
        "ds_allchannel_parts_rollup",
        "ds_channel_exists_not_exists",
    ]:
        df = _df(spark, name)
        assert plans.python_eval_count(df) == 0, name


def test_ds6_star_joins_broadcast_dimensions(spark):
    """Batch-six DS shapes: derived key sets and dimensions broadcast,
    fact-side joins bounded, zero Python eval."""
    for name, min_bc in [
        ("ds_preferred_nation_market", 2),
        ("ds_cross_location_brand", 2),
        ("ds_before_after_ratio_band", 2),
        ("ds_onhand_hierarchy_avg", 1),
        ("ds_channel_net_rollup", 1),
        ("ds_returns_reason_report", 1),
        ("ds_bought_returned_above_avg", 1),
    ]:
        df = _df(spark, name)
        assert plans.broadcast_join_count(df) >= min_bc, name
        assert plans.python_eval_count(df) == 0, name


def test_ds6_semi_filter_single_pass(spark):
    """Q10-analog compiles three correlated EXISTS into ONE aggregate
    over orders plus a semi join — exactly one left-semi in the plan and
    no repeated orders scans beyond the flag aggregate."""
    df = _df(spark, "ds_active_customer_demo")
    txt = df._jdf.queryExecution().executedPlan().toString()
    assert txt.count("LeftSemi") == 1
    assert plans.python_eval_count(df) == 0


def test_pipeline2_plans_jvm_side(spark):
    """Second pipeline batch stays codegen'd: no Python eval anywhere,
    and the contamination check joins the benchmark shingle set
    broadcast (the big exploded side never shuffles for the semi join)."""
    for name in [
        "q_sequence_packing",
        "q_contamination_check",
        "q_mixture_weights",
        "q_blocklist_filter",
        "q_pii_pseudonymize",
    ]:
        df = _df(spark, name)
        assert plans.python_eval_count(df) == 0, name
    contam = _df(spark, "q_contamination_check")
    assert plans.broadcast_join_count(contam) >= 1


def test_ds7_plans(spark):
    """Batch-seven DS shapes: part dimension broadcast, lag window above
    the aggregate, zero Python eval."""
    for name, min_bc in [
        ("ds_late_availability", 1),
        ("ds_three_period_returns", 1),
    ]:
        df = _df(spark, name)
        assert plans.broadcast_join_count(df) >= min_bc, name
        assert plans.python_eval_count(df) == 0, name


def test_zip_with_index_no_global_window(spark):
    """zip_with_index must not funnel the row data through a
    single-partition global window: every window over the full input
    partitions by the bucket column `__b`.  The one intentionally
    unpartitioned window — the running sum over the ~n_buckets counts
    table — is whitelisted by its `sum(__n)` expression."""
    import re

    df = _df(spark, "q_zip_with_index")
    txt = df._jdf.queryExecution().executedPlan().toString()
    specs = re.findall(r"\w*\([^()]*\)?\s*windowspecdefinition\([^)]*\)", txt)
    assert specs, "expected Window nodes in the zip_with_index plan"
    row_data_specs = [s for s in specs if "sum(__n" not in s]
    assert row_data_specs, "expected the bucket-local row_number window"
    for s in row_data_specs:
        # partition columns come first, before any 'ASC'/'DESC' sort arg:
        # windowspecdefinition(__b#22, doc_id#0L ASC NULLS FIRST, ...)
        assert re.search(r"windowspecdefinition\(__b#\d+,", s), (
            f"window over row data is not partitioned by __b: {s}"
        )
    assert plans.python_eval_count(df) == 0


def test_vocab_coverage_no_full_vocab_global_window(spark):
    """q_vocab_coverage must prune with a salted partition-local top-k
    BEFORE the single-task rank/cumsum window: the plan shows map-side
    WindowGroupLimit under a __salt-partitioned window, so the
    unpartitioned window only ever sees <= 64*30 rows (round-2 verdict
    scale defect #2)."""
    df = _df(spark, "q_vocab_coverage")
    txt = df._jdf.queryExecution().executedPlan().toString()
    assert "WindowGroupLimit" in txt
    assert "windowspecdefinition(__salt" in txt


def test_fluent_window_join_is_hash_join_no_python(spark):
    """The fluent JoinedStreams chain must plan a hash-family equi-join
    on (key, window) — never BroadcastNestedLoopJoin (a range-condition
    formulation would) — and stay fully JVM-side."""
    df = _df(spark, "q_fluent_window_join")
    plan = plans.explain_str(df)
    assert "BroadcastNestedLoopJoin" not in plan
    assert (
        plans.broadcast_join_count(df) + plans.sort_merge_join_count(df) >= 1
        or "ShuffledHashJoin" in plan
    )
    assert plans.python_eval_count(df) == 0


def test_fluent_group_and_over_windows_stay_jvm(spark):
    """Fluent Tumble/Over spellings compile to native window aggregation
    / window functions — zero Python eval nodes."""
    for name in ("q_table_api_fluent_window", "q_table_api_over_window"):
        df = _df(spark, name)
        assert plans.python_eval_count(df) == 0, name
    # the OVER path carries a native Window node
    assert "Window" in plans.explain_str(_df(spark, "q_table_api_over_window"))


def test_hll_registers_partial_agg_no_python(spark):
    """HLL register build: pure JVM expressions (no Python eval) with
    map-side partial aggregation feeding the (group, bucket) shuffle."""
    df = _df(spark, "q_hll_registers")
    assert plans.python_eval_count(df) == 0
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("HashAggregate") >= 2  # partial + final


def test_semantic_neardup_blocked_join_shape(spark):
    """IVF-blocked near-dup shuffles every vector exactly ONCE onto its
    centroid and scores the bucket in a blocked-GEMM Arrow kernel — no
    pair join at all (a cartesian/NL pair join, or even the centroid
    equi self-join this replaced, ships O(pairs·dim) bytes)."""
    df = _df(spark, "q_semantic_neardup_ivf")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "FlatMapGroupsInPandas" in plan  # the per-bucket GEMM kernel
    assert "BatchEvalPython" not in plan


def test_lsh_int_bucket_join_shape(spark):
    """Integer-LSH top-k: candidates come from the (tbl, bucket)
    equi-join; the kernel stages are Arrow (ArrowEvalPython/MapInPandas),
    never row-at-a-time BatchEvalPython."""
    df = _df(spark, "q_embedding_topk_lsh")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "BatchEvalPython" not in plan


def test_ivf_centroid_partition_layout_prunes(spark, tmp_path):
    """The SCALE.md claim made executable: materializing the corpus
    PARTITIONED BY its IVF centroid turns probing into partition
    pruning — a 4-of-16-probe query plans PartitionFilters and lists
    only the probed directories, so at 100 TB the corpus scan reads
    n_probe/n_centroids of the data."""
    import glob

    from my_flink_1_10_2_spark.llm.similarity import (
        _assign_int,
        int_vec,
        kmeans_centroids_int,
    )
    from my_flink_1_10_2_spark.queries import read
    from pyspark.sql import functions as F

    emb = read(spark, SF_DIR, "embeddings")
    cents = kmeans_centroids_int(emb, 16, iterations=0)
    bucketed = _assign_int(emb.withColumn("__vi", int_vec(F.col("embedding"))), cents)
    layout = str(tmp_path / "ivf_layout")
    bucketed.drop("__vi").write.partitionBy("centroid").parquet(layout)
    n_dirs = len(glob.glob(f"{layout}/centroid=*"))
    assert n_dirs > 4  # enough partitions for pruning to matter

    probes = [0, 3, 7, 11]
    scan = spark.read.parquet(layout).where(F.col("centroid").isin(probes))
    plan = scan._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "centroid" in plan
    # pruning is real: the scan reads only the probed directories
    files = scan.select(F.input_file_name()).distinct().collect()
    read_dirs = {f.split("centroid=")[1].split("/")[0] for (f,) in files}
    assert read_dirs, "probe scan read nothing"
    assert read_dirs <= {str(p) for p in probes}


# --- round-4 operator gates -------------------------------------------------


def test_bm25_broadcasts_stats_no_row_python(spark):
    """BM25: the per-term df/idf relation and the (N, avgdl) scalar must
    ride broadcast joins (never shuffle the corpus for them) and the idf
    UDF must be Arrow-batched, not row-at-a-time."""
    df = _df(spark, "q_bm25_ranking")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BatchEvalPython" not in plan
    assert "ArrowEvalPython" in plan  # libm idf on the tiny df relation
    assert plans.broadcast_join_count(df) >= 1


def test_gopher_is_single_projection(spark):
    """The Gopher rule set is one scan + one projection: no shuffle, no
    Python, inside whole-stage codegen."""
    df = _df(spark, "q_gopher_quality")
    assert plans.num_shuffles(df) == 0
    assert plans.python_eval_count(df) == 0
    assert plans.wholestage_codegen_spans(df) >= 1


def test_feature_hash_partial_aggregates_before_exchange(spark):
    """The (doc, bucket) count must map-side combine: two HashAggregate
    levels around each exchange, and no Python anywhere."""
    df = _df(spark, "q_feature_hash")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("HashAggregate") >= 2
    assert plans.python_eval_count(df) == 0


def test_pq_corpus_side_never_shuffles(spark):
    """PQ/ADC: the corpus flows scan → encode (Arrow map) → broadcast
    join → local top-k; the only exchange allowed is the final rank
    stage's, never one that moves the corpus codes by key."""
    from my_flink_1_10_2_spark.llm.pq import pq_topk_adc

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    df = pq_topk_adc(emb, emb.filter("vec_id < 3"), k=3, m=4, ksub=8)
    plan = df._jdf.queryExecution().executedPlan().toString()
    # corpus scoring joins against the broadcast query tables
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan


def test_ivfadc_probe_is_equi_join(spark):
    """IVFADC must join corpus codes to probes on centroid (a bucket
    join) — a cross join here would defeat list pruning."""
    from my_flink_1_10_2_spark.llm.pq import ivfadc_topk

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    df = ivfadc_topk(emb, emb.filter("vec_id < 3"), k=3, n_centroids=4,
                     n_probe=1, m=4, ksub=8)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan  # equi-join on centroid
    assert "BroadcastNestedLoopJoin" not in plan


def test_standardize_broadcasts_dim_stats(spark):
    """Per-dimension stats (64 rows) broadcast back onto the exploded
    corpus — the corpus must not shuffle for the join."""
    df = _df(spark, "q_embedding_standardize")
    assert plans.broadcast_join_count(df) >= 1
    assert plans.python_eval_count(df) == 0


# --- round-5 operator gates -------------------------------------------------


def test_skyline_avoids_dominance_join(spark):
    """The skyline must run as pre-agg + running-max (global_running),
    never the O(n²) dominance self-join the NOT EXISTS oracle spells
    out.  (Since round 12 global_running folds its prefix offsets on the
    driver — no nested-loop should appear at all; the __pid allowance
    below is kept for the historical triangular-join shape.)"""
    df = _df(spark, "q_skyline_pareto")
    plan = df._jdf.queryExecution().executedPlan().toString()
    for line in plan.splitlines():
        if "BroadcastNestedLoopJoin" in line:
            assert "__pid" in line, f"row-data nested loop: {line.strip()}"
    assert "CartesianProduct" not in plan
    assert plans.python_eval_count(df) == 0
    assert plans.single_partition_windows(df) == []


def test_copurchase_pairs_are_order_local(spark):
    """Pair generation is order-local: baskets build with ONE
    groupBy(okey) shuffle and pairs enumerate map-side from the sorted
    basket array (Generate over the agg — no okey self-join at all);
    the per-part count relation rides broadcast."""
    df = _df(spark, "q_copurchase_affinity")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "Generate explode" in plan  # map-side basket enumeration
    assert plans.broadcast_join_count(df) >= 2  # both per-part count joins
    assert plans.python_eval_count(df) == 0


def test_cascade_rollup_reaggregates_hourly(spark):
    """Two aggregation levels (hourly, then daily OVER the hourly rows),
    each with map-side partials; no Python anywhere."""
    df = _df(spark, "q_cascade_rollup_daily")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("HashAggregate") >= 4  # partial+final at both levels
    assert plans.python_eval_count(df) == 0


def test_ivm_merge_stays_engine_side(spark):
    df = _df(spark, "q_ivm_delta_merge")
    assert plans.python_eval_count(df) == 0


def test_partition_custom_routes_via_exchange(spark):
    """partition_custom must materialize as a hash exchange on the pid
    expression — the physical routing, not a logical no-op."""
    df = _df(spark, "q_partition_custom_layout")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "hashpartitioning(pid" in plan
    assert plans.python_eval_count(df) == 0


def test_kl_divergence_broadcasts_log_table(spark):
    """KL: the quantized-log lookup and the per-source/corpus totals all
    ride broadcast joins; the only Python is the Arrow libm kernel over
    the distinct count values (never row-at-a-time)."""
    df = _df(spark, "q_kl_divergence_sources")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BatchEvalPython" not in plan
    assert "ArrowEvalPython" in plan
    assert plans.broadcast_join_count(df) >= 4


def test_ntile_and_inversions_stay_engine_side(spark):
    for name in ("q_window_ntile_dist", "q_event_time_inversions",
                 "q_cumulative_distinct_users", "q_sampling_budget"):
        df = _df(spark, name)
        assert plans.python_eval_count(df) == 0, name


def test_weighted_median_windows_are_bucket_bounded(spark):
    """Both cumulative windows run over pre-aggregated bucket relations;
    no Python, no cartesian."""
    df = _df(spark, "q_weighted_median_price")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert plans.python_eval_count(df) == 0
    # pass-2 selected-bucket filter must ride a broadcast (scan-side),
    # not a shuffle against the full price relation
    assert plans.broadcast_join_count(df) >= 1


def test_fuzzy_levenshtein_joins_on_blocking_key(spark):
    """Fuzzy linkage must pair names via the noun blocking-key equi-join
    over the DISTINCT name domain — never an all-pairs nested loop, and
    levenshtein runs JVM-side (no Python eval)."""
    df = _df(spark, "q_fuzzy_dedup_levenshtein")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert plans.python_eval_count(df) == 0


def test_cosine_rare_term_candidates_are_equi_joined(spark):
    """Prefix-filter cosine: candidates come from the rare-term posting
    equi-join (rare set rides broadcast); verification re-joins the tf
    relation on (doc, term).  No cartesian, no Python."""
    df = _df(spark, "q_cosine_pairs_rare_term")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert plans.broadcast_join_count(df) >= 1  # rare-term set
    assert plans.python_eval_count(df) == 0


def test_containment_join_shape(spark):
    df = _df(spark, "q_shingle_containment")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert plans.python_eval_count(df) == 0


def test_welch_collapses_to_one_partial_agg(spark):
    """The t-test reads the corpus once: a single map-side-combined
    aggregate produces the six integer moments; the float math runs on
    the one-row result."""
    df = _df(spark, "q_welch_ttest")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("HashAggregate") >= 2  # partial + final
    assert plans.num_shuffles(df) <= 1
    assert plans.python_eval_count(df) == 0


def test_twa_window_partitioning_reused_by_groupby(spark):
    """LEAD window and the per-user rollup share the user_id hash
    partitioning — one exchange for the whole query (plus the output
    sort's range exchange)."""
    df = _df(spark, "q_time_weighted_avg")
    assert plans.num_shuffles(df) <= 2
    assert plans.python_eval_count(df) == 0


def test_stats_suite_single_pass_engine_side(spark):
    """z-test and Welch each collapse the corpus in one partial+final
    aggregate; Mann-Whitney's window runs over the value DOMAIN, not the
    corpus; chi2's windows run over the cell relation.  No Python."""
    for name in ("q_proportion_ztest", "q_mannwhitney_u", "q_chi2_independence"):
        df = _df(spark, name)
        assert plans.python_eval_count(df) == 0, name
    df = _df(spark, "q_proportion_ztest")
    assert plans.num_shuffles(df) <= 1


def test_correlation_queries_engine_side(spark):
    """Pearson: one partial+final aggregate over the corpus.  Spearman:
    domain-sized rank relations joined back (k rides broadcast)."""
    for name in ("q_pearson_corr", "q_spearman_corr"):
        df = _df(spark, name)
        assert plans.python_eval_count(df) == 0, name
    df = _df(spark, "q_pearson_corr")
    assert plans.num_shuffles(df) <= 1
    df = _df(spark, "q_spearman_corr")
    assert plans.broadcast_join_count(df) >= 1


def test_timeseries_trio_engine_side(spark):
    """Decay/trend: one corpus aggregate each with the one-row
    max/min-day relation broadcast; CUSUM windows run on the per-type
    day relation.  No Python eval anywhere."""
    for name in ("q_decayed_event_counts", "q_trend_slope_daily",
                 "q_cusum_changepoint"):
        df = _df(spark, name)
        assert plans.python_eval_count(df) == 0, name
    assert plans.broadcast_join_count(_df(spark, "q_trend_slope_daily")) >= 1


def test_eval_operators_plan_shapes(spark):
    """NDCG: weight table + query labels ride broadcast over the proven
    BLAS top-k (Arrow only, no row-Python).  RRF: both rankers truncate
    before the fusion join; no cartesian.  PRF: pure JVM expressions."""
    df = _df(spark, "q_retrieval_ndcg")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BatchEvalPython" not in plan
    assert plans.broadcast_join_count(df) >= 2
    df = _df(spark, "q_rank_fusion_rrf")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan
    df = _df(spark, "q_classifier_prf")
    assert plans.python_eval_count(df) == 0


def test_quality_audits_plan_shapes(spark):
    """Benford: one corpus aggregate + 9-row literal joins, pure JVM.
    PSI: corpus aggregate + bucket-relation windows; the only Python is
    the Arrow libm kernel over distinct count values."""
    df = _df(spark, "q_benford_digit_audit")
    assert plans.python_eval_count(df) == 0
    df = _df(spark, "q_psi_value_drift")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BatchEvalPython" not in plan


def test_winsorize_and_km_plan_shapes(spark):
    """Winsorize: one corpus groupBy to the (type, value) domain; the
    percentile windows walk that relation.  KM: one corpus
    groupBy(user); the libm kernel is Arrow, never row-Python."""
    df = _df(spark, "q_winsorized_stats")
    assert plans.python_eval_count(df) == 0
    df = _df(spark, "q_kaplan_meier")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BatchEvalPython" not in plan


def test_wilson_and_ig_plan_shapes(spark):
    df = _df(spark, "q_wilson_daily_conversion")
    assert plans.python_eval_count(df) == 0
    assert plans.num_shuffles(df) <= 2  # day agg + output sort
    df = _df(spark, "q_information_gain")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BatchEvalPython" not in plan


def test_dhash_neardup_band_join_is_equi(spark):
    """Image near-dup candidates come from the band-bucket EQUI join —
    a cartesian/nested-loop pair enumeration would be the 100 TB
    killer."""
    df = _df(spark, "q_image_dhash_neardup")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan or "BroadcastHashJoin" in plan


def test_inventory_cross_is_broadcast_bounded(spark):
    """The synthetic inventory (part x 52 weeks) must build via a
    BROADCAST cross of the 52-row literal relation; the downstream
    sales join must be a hash equi-join with the year filter pushed to
    the lineitem scan."""
    df = _df(spark, "ds_inventory_stockout")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan  # only the broadcast NL cross
    assert "BroadcastNestedLoopJoin" in plan  # the 52-row week relation
    assert "PushedFilters" in plan or "l_shipdate" in plan


def test_png_decode_queries_stay_arrow_batched(spark):
    """The real-codec queries run Python ONLY as Arrow mapInPandas
    stages (no row-at-a-time BatchEvalPython)."""
    for name in ("q_png_pixel_stats", "q_image_dhash_neardup"):
        plan = _df(spark, name)._jdf.queryExecution().executedPlan().toString()
        assert "BatchEvalPython" not in plan, name
        assert "MapInPandas" in plan, name


def test_ddsketch_joins_fold_before_quantile_lookup(spark):
    """The DDSketch quantile lookup may nested-loop ONLY the broadcast
    3-row quantile list against the ~128-bucket sketch — the raw value
    table must have been folded by a hash aggregate first, and nothing
    runs in Python."""
    df = _df(spark, "q_ddsketch_quantiles")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "HashAggregate" in plan  # values -> buckets before any join
    assert plans.python_eval_count(df) == 0


def test_curriculum_global_ntile_plan(spark):
    """Curriculum staging ranks through global_ntile: one range exchange
    for the corpus order, tiny count/offset aggregates, stage rollup +
    output sort — and NEVER an unpartitioned ntile window (the
    single-task shape the round-6 verdict flagged)."""
    df = _df(spark, "q_curriculum_stages")
    assert plans.python_eval_count(df) == 0
    assert plans.single_partition_windows(df) == []
    # range exchange (rank) + count agg + offsets aggs + stage agg + sort;
    # only ONE of these moves corpus-sized data (the range exchange)
    assert plans.num_shuffles(df) <= 7


def test_connector_drain_sources_surface_as_scans(spark):
    """The jar-free drain sources (AMQP / Pub/Sub / NiFi / HTTP-stream)
    must surface rows as ordinary distributed scans feeding native
    operators — one task per consumer, no BatchEvalPython stages in the
    downstream aggregation plans."""
    from my_flink_1_10_2_spark.sources.amqp_py import (
        rmq_drain_source,
    )
    from my_flink_1_10_2_spark.testing import InMemoryAmqpBroker

    broker = InMemoryAmqpBroker()
    try:
        broker.publish("q", b"x")
        df = rmq_drain_source(spark, broker.config(), "q", consumers=3)
        agg = df.groupBy("correlation_id").count()
        plan = agg._jdf.queryExecution().executedPlan().toString()
        assert "BatchEvalPython" not in plan
        assert df.rdd.getNumPartitions() == 3  # one per competing consumer
    finally:
        broker.close()


# ---------------------------------------------------------------------------
# Single-partition-window gate (round 7): Window.orderBy with no
# partitionBy compiles to `Exchange SinglePartition` — the whole relation
# through ONE task.  Banned over row-granularity data everywhere in the
# registry; the only unpartitioned windows allowed are over provably
# bounded inputs (each documented in its query's docstring).
# Full-registry audit: tools/spw_audit.py.
# ---------------------------------------------------------------------------

# bounded-input whitelist: query -> why the window's input is bounded
SPW_BOUNDED_OK = {
    "q_chi2_independence": "contingency cells: |event_types| x 2 variants",
    "q_mixture_weights": "one row per source (~20)",
    "q_sampling_budget": "one row per source (~20)",
    "q_psi_value_drift": "30 PSI value buckets",
    "q_ddsketch_quantiles": "<=128 integer sketch buckets",
    "q_vocab_coverage": "<=64x30 rows after the salted local top-30 prune",
}

# the 11 queries the round-6 verdict + round-7 audit found routing row
# data through one task — now rebuilt on operators/rank.py global_rank /
# global_ntile / global_running; must stay clean
SPW_FIXED = [
    "q_curriculum_stages",
    "q_user_rfm_segments",
    "q_lorenz_deciles",
    "q_mannwhitney_u",
    "q_spearman_corr",
    "q_kaplan_meier",
    "q_auc_roc",
    "q_funnel_time_percentiles",
    "q_skyline_pareto",
    "q_cumulative_distinct_users",
    "q_zip_with_index",
]


def test_fixed_queries_have_no_single_partition_window(spark):
    for name in SPW_FIXED:
        hits = plans.single_partition_windows(_df(spark, name))
        assert not hits, f"{name}: row data through one task: {hits}"


def test_global_rank_ntile_running_plans_are_clean(spark):
    """The scale-safe operators themselves must never regress into the
    unpartitioned-window shape (their offsets step is a triangular
    broadcast join over O(partitions) rows, not a window)."""
    from pyspark.sql import functions as F

    from my_flink_1_10_2_spark.operators.rank import (
        global_ntile,
        global_rank,
        global_running,
    )
    from my_flink_1_10_2_spark.queries import read

    df = read(spark, SF_DIR, "orders").select("o_orderkey", "o_totalprice")
    for out in (
        global_rank(df, ["o_totalprice", "o_orderkey"], "r"),
        global_ntile(df, 7, ["o_totalprice", "o_orderkey"], "b"),
        global_running(
            df,
            ["o_orderkey"],
            [("cs", "o_totalprice", "sum", True), ("cm", "o_totalprice", "max", False)],
        ),
    ):
        assert plans.single_partition_windows(out) == []


def test_vocab_coverage_window_is_fed_by_salted_prune(spark):
    """q_vocab_coverage's unpartitioned top-30 window is whitelisted ONLY
    because the salted partition-local top-30 prune bounds its input to
    <=64x30 rows.  Mutation gate: if the prune (the __lrk filter) ever
    stops feeding the SinglePartition exchange, this fails."""
    df = _df(spark, "q_vocab_coverage")
    hits = plans.single_partition_windows(df)
    assert hits, "expected the bounded top-30 window"
    nodes = plans._tree_nodes(plans.explain_str(df, "simple"))
    exch = [i for i, (_, t) in enumerate(nodes)
            if t.startswith("Exchange SinglePartition")]
    assert exch, "expected a SinglePartition exchange"
    ok = False
    for i in exch:
        d0 = nodes[i][0]
        for j in range(i + 1, len(nodes)):
            dj, tj = nodes[j]
            if dj <= d0:
                break
            if "__lrk" in tj and ("Filter" in tj or "<= 30" in tj):
                ok = True
    assert ok, "salted top-30 prune no longer feeds the global window"


def test_post_limit_rank_windows_stay_bounded(spark):
    """zipf_fit / top-k ranking rank AFTER limit(k) — the limit bounds
    the window input so no SinglePartition exchange feeds it.  Removing
    the limit would re-introduce the exchange and trip this gate."""
    for name in ("q_zipf_fit", "q_stopword_profile"):
        if name not in QUERIES:
            continue
        hits = plans.single_partition_windows(_df(spark, name))
        assert not hits, f"{name}: {hits}"


def test_round7_codec_queries_stay_arrow_batched(spark):
    """Every round-7 real-codec query runs Python ONLY as Arrow
    mapInPandas stages — one projection-shaped scan, no row-at-a-time
    UDFs, no shuffle before the stats rollup."""
    for name in (
        "q_png_interlaced_palette_stats",
        "q_adpcm_wav_stats",
        "q_jpeg_progressive_tile_stats",
        "q_jpeg_color_tile_stats",
    ):
        df = _df(spark, name)
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "BatchEvalPython" not in plan, name
        assert "MapInPandas" in plan, name
        assert plans.single_partition_windows(df) == [], name


def test_ml_pipeline_query_is_scan_plus_broadcast(spark):
    """q_ml_pipeline_scaler: fit collapses to scalar literals at build
    time, so the scoring plan is ONE corpus aggregation with codegen
    expressions — no Python anywhere, no single-partition window."""
    df = _df(spark, "q_ml_pipeline_scaler")
    assert plans.python_eval_count(df) == 0
    assert plans.single_partition_windows(df) == []
