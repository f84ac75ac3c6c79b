"""Benchmark runner: headline queries at $SPARK_GRAFT_SF_DIR (default
sf0.1) on local[$SPARK_GRAFT_CPUS].

Each query is sampled through ``my_flink_1_10_2_spark.observe``.
Prints ONE compact JSON line on stdout (everything else goes to stderr):
  {"metric": "headline_query_wall_sec", "value": total_sec, "unit": "sec",
   "sf": ..., "n_queries": N, "calibration_sec": ..., "value_normalized": ...,
   "cpus": defaultParallelism, "values": {name: sec, ...}}   (values 2 dp)
The query names are those of the historical "queries" dict (entries are
only ever added, never removed or renamed); bench_detail.json holds the
full-precision and calibration-normalized times.
"""

from __future__ import annotations

import json
import os
import sys
import time


HEADLINE = [
    "q1_pricing_summary",
    "q3_shipping_priority",
    "q5_local_supplier",
    "q10_returned_items",
    "q_join_broadcast_star",
    "q_agg_functions",
    "q_grouping_sets",
    "q_window_rank",
    "q_topn_per_group",
    "q_tumble_window",
    "q_session_window",
    "q_interval_join",
    "q_asof_join",
    "q_dedup_exact",
    "q_minhash_lsh_pairs",
    "q_embedding_topk",
    "q_text_stats",
    "q6_forecast_revenue",
    "q9_profit_by_nation_year",
    "q18_large_volume_customer",
    "q_cep_v_shape",
    "q_embedding_neardup",
    "q_connected_components",
    "q_token_count",
    "q_udaf_median",
    "q2_min_cost_supplier",
    "q21_waiting_suppliers",
    "ds_rollup_geo_report",
    "ds_yoy_growth",
    "q_cep_funnel_within",
    "q_kmv_distinct_parts",
    "q_pagerank",
    "q_triangle_count",
    "ds_wide_two_year_join",
    "q_sql_match_within",
    "q_sequence_packing",
    "q_contamination_check",
    "q_pii_pseudonymize",
    "ds_channel_net_rollup",
    "ds_active_customer_demo",
    # round-3 additions: heaviest DS shapes, a second Gelly iteration,
    # the salted vocab window, and a variable-length CEP quantifier
    "ds_bought_returned_above_avg",
    "ds_best_worst_performers",
    "ds_monthly_pivot_matrix",
    "q_sssp",
    "q_vocab_coverage",
    "q_cep_times_or_more",
    # round-3 second wave: the fluent-API paths over full sf data
    "q_table_api_fluent_window",
    "q_fluent_window_join",
    "q_table_api_over_window",
    # round-3 third wave: chunking (map-only explode) and k-core
    # (shrinking-edge-set iteration)
    "q_chunk_documents",
    "q_k_core",
    # round-3 close: changelog materialization and the bigram LM filter
    "q_upsert_snapshot",
    "q_bigram_backoff_score",
    # round-4: the two oracle-graded ANN index paths, the BPE trainer
    # (driver-looped iterative class), and IVF-blocked semantic dedup
    "q_embedding_topk_lsh",
    "q_embedding_topk_ivf",
    "q_bpe_vocab",
    "q_semantic_neardup_ivf",
    # round-4 second wave: the PQ/ADC index (compressed-corpus scan),
    # BM25 (two-level corpus stats + broadcast idf), the Gopher rule
    # projection, and the PCA factorization (Arrow Gram pass + exact
    # power iteration)
    "q_embedding_topk_pq",
    "q_bm25_ranking",
    "q_gopher_quality",
    "q_pca_projection",
    # round-5: the basket self-join (pair generation), the frontier scan,
    # the incremental-distinct rewrite, the hourly->daily cascade, and
    # the weighted-quantile window
    "q_copurchase_affinity",
    "q_skyline_pareto",
    "q_cumulative_distinct_users",
    "q_cascade_rollup_daily",
    "q_weighted_median_price",
    # round-5 second wave: blocked fuzzy linkage, the domain-grouped
    # rank statistic, the sigma-carrying BFS, and retrieval NDCG over
    # the broadcast-BLAS top-k
    "q_fuzzy_dedup_levenshtein",
    "q_mannwhitney_u",
    "q_stress_centrality",
    "q_retrieval_ndcg",
    # round-7: the global_ntile rewrites (range-partitioned global
    # ranks instead of single-task windows), DSIR importance weighting
    # (token-granular two-model scoring), the heaviest real-codec leg
    # (color JPEG), and the ml-pipeline fit+score path
    "q_curriculum_stages",
    "q_user_rfm_segments",
    "q_dsir_importance_weights",
    "q_jpeg_color_tile_stats",
    "q_ml_pipeline_scaler",
    # round-8: exact-substring dedup (suffix-array-style spans), the two
    # training-export containers (WebDataset tar / TFRecord), and the
    # Gopher intra-doc repetition signals
    "q_exact_substring_spans",
    "q_webdataset_roundtrip",
    "q_tfrecord_roundtrip",
    "q_gopher_repetition",
    # round-8 second wave: Kneser-Ney LM scoring, SemDeDup pruning,
    # winnowing fingerprints, hard-negative mining, the GIF/LZW codec,
    # and the Common Crawl WET container
    "q_kneser_ney_score",
    "q_semdedup_prune",
    "q_winnowing_fingerprints",
    "q_hard_negatives_blas",
    "q_gif_anim_stats",
    "q_wet_shard_roundtrip",
]


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    from my_flink_1_10_2_spark import observe
    from my_flink_1_10_2_spark.queries import all_queries
    from my_flink_1_10_2_spark.session import get_spark

    spark = get_spark(app_name="bench")
    spark.sparkContext.setLogLevel("ERROR")
    reg = all_queries()
    observe.warm_up(spark, sf_dir)

    # Fixed calibration workload (pure Spark, no engine code): hash-agg +
    # sort over lineitem.  Round-over-round query deltas should be read
    # relative to this number — it moves only with the machine (CPU
    # speed, contention), never with engine changes, so a round where
    # every query slows by the same ratio as the calibration is a slower
    # host, not a plan regression.
    def _calibrate(n: int = 5) -> list[float]:
        df = spark.read.parquet(os.path.join(sf_dir, "lineitem.parquet"))
        samples = []
        for _ in range(n):
            t0 = time.perf_counter()
            (
                df.groupBy("l_orderkey")
                .count()
                .orderBy("count", "l_orderkey")
                .limit(100)
                .write.format("noop")
                .mode("overwrite")
                .save()
            )
            samples.append(time.perf_counter() - t0)
        return samples

    # Calibration is sampled BEFORE and AFTER the query loop (the bench
    # runs ~100s — host contention during it must count), and the
    # normalizer is the median of all 10 samples.  The old 3-before-only
    # scheme swung the normalized headline +/-30% run-to-run (r8's
    # 0.517 vs 0.734 calibration on identical code).
    cal_before = _calibrate()
    print(
        f"# calibration (before, lineitem hash-agg): "
        f"{[round(s, 3) for s in cal_before]}",
        file=sys.stderr,
    )

    # Median of 3 runs per query: machine noise is ±40% run-to-run, so
    # single-run numbers can't support round-over-round comparisons.
    runs = int(os.environ.get("SPARK_GRAFT_BENCH_RUNS", "3"))
    timings: dict[str, float] = {}
    for name in HEADLINE:
        q = reg[name]

        def _sample() -> float:
            return observe.sample(spark, q, sf_dir)["wall_s"]

        samples = sorted(_sample() for _ in range(runs))
        # Sub-0.5s queries have a ±2x run-to-run noise floor: widen to 5
        # samples so their medians are comparable across rounds.
        if samples[len(samples) // 2] < 0.5 and runs < 5:
            samples = sorted(samples + [_sample() for _ in range(5 - runs)])
        timings[name] = round(samples[len(samples) // 2], 3)
        print(
            f"# {name}: median {timings[name]:.3f}s of "
            f"{[round(s, 3) for s in samples]}",
            file=sys.stderr,
        )

    cal_after = _calibrate()
    print(
        f"# calibration (after): {[round(s, 3) for s in cal_after]}",
        file=sys.stderr,
    )
    cal_all = sorted(cal_before + cal_after)
    calibration = round(
        (cal_all[len(cal_all) // 2] + cal_all[(len(cal_all) - 1) // 2]) / 2, 3
    )
    print(f"# calibration (median of {len(cal_all)}): {calibration}s", file=sys.stderr)

    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    result = {
        "metric": "headline_query_wall_sec",
        "value": round(sum(timings.values()), 3),
        "unit": "sec",
        "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
        "n_queries": len(timings),
        "calibration_sec": calibration,
        "value_normalized": round(sum(timings.values()) / calibration, 2),
    }
    detail = {
        **result,
        "queries": timings,
        # Machine-independent per-query numbers: sec / calibration_sec.
        # Compare THESE across rounds — a uniform shift in raw seconds
        # with stable ratios is host drift, not a plan change.
        "queries_normalized": {
            n: round(t / calibration, 2) for n, t in timings.items()
        },
    }
    try:
        with open(os.path.join(os.path.dirname(os.path.abspath(__file__)),
                               "bench_detail.json"), "w") as f:
            json.dump(detail, f, indent=1)
    except OSError:
        pass
    # The final line carries the per-query times at 2 dp, compact (~2.5 KB
    # for 85 queries), after the scalars: a reader that keeps only a
    # bounded tail of stdout still gets the whole line.
    final = {
        **result,
        "cpus": spark.sparkContext.defaultParallelism,
        "values": {n: round(t, 2) for n, t in timings.items()},
    }
    print(json.dumps(final, separators=(",", ":")))


if __name__ == "__main__":
    main()
