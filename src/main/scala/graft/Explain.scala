package graft

/** Plan auditor: prints `explain("formatted")` for the named queries
  * (or a default audit set) so scan pushdown (`PushedFilters` /
  * `ReadSchema`), join strategies (BroadcastHashJoin vs shuffle), and
  * WholeStageCodegen spans can be reviewed query by query.
  *
  * Usage: runMain graft.Explain [sfDir] [query ...]
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val names =
      if (args.length > 1) args.drop(1).toSeq
      else Seq("q_enrich", "q_filter_project", "q_agg_pricing", "q_join_inner",
        "q_star_join", "q_topk", "q_sim_bruteforce", "q_asof_join", "q_tfidf",
        "q_dedup_minhash", "q_corpus_clean", "q_join_volume_flow",
        "q_market_share", "q_embed_dedup", "q_dedup_clusters", "q_corpus_mix",
        "q_decontaminate", "q_month_spine", "q_sim_lsh", "q_sim_ivf",
        "q_minhash_estimate", "q_simhash_estimate", "q_decontaminate_sliding",
        "q_simhash_closure", "q_simhash_sizes", "q_dedup_incremental",
        "q_chunk", "q_pack_sequences", "q_heavy_hitters", "q_winsorize",
        "q_session_paths", "q_containment", "q_collocations", "q_lm_score",
        "q_graph_degrees", "q_pagerank", "q_anomaly", "q_dedup_edit",
        "q_line_dedup", "q_semdedup", "q_bpe_encode", "q_shard_plan",
        "q_sim_pq", "q_span_dedup", "q_domain_cap", "q_keeper_quality",
        "q_bm25", "q_hybrid_rrf", "q_inverted_index", "q_dedup_prefix",
        "q_triangles", "q_local_cc", "q_basket_lift", "q_chi2",
        "q_sample_weighted", "q_zorder", "q_kcore", "q_sim_ivfpq",
        "q_hard_negatives", "q_rebalance", "q_quality_tiers", "q_auc",
        "q_pr_curve", "q_source_overlap", "q_centroid_outliers",
        "q_knn_classify", "q_novelty_curve", "q_ann_recall", "q_calibration",
        "q_url_canonicalize", "q_ndcg", "q_retrieval_metrics", "q_winnow",
        "q_winnow_pairs", "q_key_skew", "q_communities", "q_link_jaccard",
        "q_markov", "q_attribution", "q_boilerplate", "q_embed_project",
        "q_time_split", "q_mmr", "q_active_users", "q_top_movers",
        "q_robust_stats", "q_ewma", "q_js_divergence", "q_oov", "q_leakage",
        "q_confusion", "q_cusum", "q_autocorr", "q_vocab_growth",
        "q_blocklist", "q_dedup_stats", "q_rfm", "q_custdist",
        "q_dormant_customers", "q_jdbc_dim", "q_revenue_concentration",
        "q_top_supplier", "q_promo_share", "q_small_qty_revenue",
        "q_big_orders", "q_or_predicates", "q_priority_mix",
        "q_waiting_suppliers", "q_brier", "q_ab_lift", "q_ks_test",
        "q_gini", "q_moments", "q_modularity", "q_assortativity",
        "q_bootstrap", "q_image_ahash", "q_auc_by_source", "q_mutual_info",
        "q_hill_tail", "q_adamic_adar", "q_spearman", "q_psi",
        "q_supplier_part_counts", "q_dominant_suppliers", "q_audio_stats",
        "q_kneser_ney", "q_skipping_stats", "q_training_manifest",
        "q_ann_recall", "q_sim_histogram", "q_token_median",
        "q_split_groupsafe", "q_profit_by_nation", "q_returned_customers")
    val spark = Bench.localSession()
    names.foreach { name =>
      println(s"\n=================== $name ===================")
      SparkEntry.queries(name)(spark, sfDir).explain("formatted")
    }
    spark.stop()
  }
}
