package graft.tools

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.execution.FormattedMode

import graft.{Queries, Session}

/** Dev tool: dumps formatted physical plans of the headline queries to
  * PLANS.md — the artifact backing the scale claims (pushdown, pruning,
  * broadcasts, exchange placement). Regenerate after plan-shape changes:
  * sbt "runMain graft.tools.ExplainDump"
  */
object ExplainDump {
  val headline = Seq(
    "scan_parquet", "filter_pushdown", "agg_salary_stats",
    "join_sort_merge_3way", "join_inner_equi", "skill_category_counts",
    "skill_category_counts_ref", "skills_cascade",
    "join_sixway_regions", "topk_limit", "window_rank_topn",
    "window_rank_topn_agg", "partitioned_write_prune",
    "knn_cosine_topk", "knn_ann_ivf", "dedup_minhash", "dedup_pipeline",
    "dedup_embedding", "vocab_topk",
    "decontam_overlap", "tfidf_topk", "pack_sequences", "repetition_ratio",
    "domain_cap", "quality_gate", "dedup_incremental",
    "dedup_incremental_prefix", "knn_q8_rescore",
    "chunk_dedup", "lm_bigram_score", "sample_temperature",
    "embedding_norms", "length_histogram", "url_canonicalize",
    "bpe_merge_topk", "join_asof_native", "dedup_canonical_pick",
    "decontam_verbatim", "chunk_dedup_rewrite",
    "stream_tumbling_count", "source_paginated_scan",
    "subquery_exists", "subquery_in", "subquery_correlated",
    "subquery_lateral", "funnel_steps", "cohort_retention",
    "kmeans_assign", "dedup_semantic", "graph_pagerank",
    "tpch_q1", "tpch_q6", "data_skipping_prune", "stream_interval_join",
    "join_range_binned", "join_range_auto", "curation_e2e",
    "record_linkage", "ts_ewma", "sample_weighted", "sql_recursive_chain",
    "stream_topk_trend", "multimodal_frames", "graph_triangles",
    "global_rownum", "window_rank_family", "table_diff", "event_transitions",
    "audit_checksum", "profile_table", "text_jaro_winkler",
    "agg_histogram", "bpe_encode", "dedup_prefix_jaccard",
    "anomaly_mad", "join_null_safe", "profile_table_approx",
    "dict_term_match_gen", "dict_term_match", "drift_psi",
    "join_asof_tolerance", "ts_dist_drift", "join_interval_overlap",
    "sessionize_events", "dedup_split_leak", "dataset_split_atomic",
    "drift_ks", "funnel_windowed", "tpch_q3", "join_bloom_prefilter",
    "decontam_bloom", "sketch_theta_overlap", "stream_distinct_sketch",
    "corr_pearson", "corr_spearman", "winsorize_stats",
    "agg_histogram_eqdepth", "sample_reservoir", "text_entropy",
    "tpch_q18", "tpch_q21", "stream_static_join",
    "index_postings", "search_bm25", "search_bm25_batch",
    "search_phrase", "index_merge_delta", "dataset_shuffle_shard",
    "tpch_q14", "dq_expectations", "schema_evolution_read",
    "window_range_frame", "window_range_frame_bucketed",
    "ts_rolling_median_scaled", "ts_hampel_filter_scaled",
    "dedup_simhash_scaled", "dedup_simhash_auto",
    "search_autocomplete", "search_snippet", "search_cooccur",
    "ref_daily_e2e", "corr_spearman_scaled",
    "knn_join_blocked", "dedup_containment", "dataset_interleave",
    "rfm_segments", "join_asof_nearest", "graph_common_neighbors",
    "search_prf_expand", "search_more_like_this", "doc_winnowing",
    "event_pattern_match", "ts_theil_sen", "growth_cumulative_users",
    "agg_mode", "agg_skewness", "dq_benford",
    "heavy_hitters_exact", "graph_kcore", "ts_hampel_filter",
    "embedding_outliers", "agg_bitmap_distinct", "search_rerank_twostage",
    "rolling_active_users", "attribution_linear", "graph_assortativity",
    "dataset_token_budget", "text_novelty", "multimodal_frame_dedup",
    "assoc_rules", "knn_ann_lsh_bound", "sketch_percentiles_bound",
    "dedup_substring_spans", "mine_hard_negatives", "embedding_quant_calib",
    "stream_decontam_bloom", "graph_label_prop", "chunk_cdc",
    "graph_wcc", "shard_rendezvous",
    "window_ntile", "window_ntile_scaled", "rfm_segments_scaled",
    "drift_ks_scaled",
    "tpch_q13", "tpch_q19", "tpch_q15", "tpch_q7", "pivot_wide",
    "format_roundtrip", "ts_ols_trend", "dq_chi_square",
    "join_asof_forward", "join_pit_scd2", "text_pii_redact",
    "stream_interval_join_semi",
    "set_intersect_all", "set_union_evolved", "stream_watermark_sim",
    "search_diversify", "search_ndcg", "eval_cohen_kappa",
    "eval_calibration", "eval_confusion", "eval_auc", "eval_auc_scaled",
    "ab_welch_ttest",
    "tpch_q5", "tpch_q8", "tpch_q9", "tpch_q12", "tpch_q11", "tpch_q16",
    "tpch_q2", "tpch_q20",
    "search_rrf_fusion", "knn_matryoshka_recall", "eval_subsample_ci",
    "attribution_time_decay", "graph_clustering_coeff",
    "dq_k_anonymity", "dsir_importance_select", "lm_heldout_perplexity",
    "eval_conformal_coverage", "cdc_apply", "score_standardize_by_source",
    "graph_ppr", "text_hashing_vectorizer", "source_overlap_matrix",
    "funnel_latency_percentiles", "format_roundtrip",
    "tpch_q4", "tpch_q17", "tpch_q22",
    "score_logistic_infer", "eval_pr_auc", "embedding_gram_matrix",
    "graph_louvain_pass", "dq_freshness", "graph_closeness",
    "sample_kcenter", "text_rake_keywords", "join_size_cms",
    "median_two_pass", "agg_weighted_percentile", "dq_key_discovery",
    "graph_mst_boruvka", "eval_gains_table")

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val spark = Session.local(8)
    val sb = new StringBuilder
    sb.append("# PLANS — formatted physical plans of headline queries\n\n")
    sb.append(s"Generated by `graft.tools.ExplainDump` at $sfDir. What to look\n")
    sb.append("for: `PushedFilters`/`ReadSchema` on scans (pushdown + pruning),\n")
    sb.append("`BroadcastHashJoin` on dimension joins, `TakeOrderedAndProject`\n")
    sb.append("for top-k, `partial_`/`final` aggregate pairs, and exchange\n")
    sb.append("placement (one shuffle per semantic repartitioning, none extra).\n")
    // Sketch/Bloom literals render as multi-KB hex blobs; keep the plan
    // readable (the literal's SIZE is the interesting fact, not its bytes).
    def elideHex(plan: String): String =
      "0x[0-9A-F]{64,}".r.replaceAllIn(plan,
        m => s"0x<${(m.matched.length - 2) / 2}-byte literal elided>")
    for (name <- headline) {
      val df = Queries.byName(name).build(spark, sfDir)
      sb.append(s"\n## $name\n\n```\n")
      sb.append(elideHex(df.queryExecution.explainString(FormattedMode).trim))
      sb.append("\n```\n")
    }
    Files.writeString(Paths.get("PLANS.md"), sb.toString)
    println(s"[explain-dump] wrote PLANS.md (${headline.size} plans)")
    spark.stop()
  }
}
