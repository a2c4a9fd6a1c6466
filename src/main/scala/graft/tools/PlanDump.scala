package graft.tools

import java.nio.file.{Files, Paths}

/** Writes `PLANS_DUMP.md`: the actual `explain("formatted")` output for
  * the headline queries at the given SF — the evidence backing PLANS.md's
  * claims (pushdown, broadcast choices, exchange reuse, partial aggs).
  *
  * Usage: `SPARK_GRAFT_CPUS=8 sbt "runMain graft.tools.PlanDump [sfDir] [outFile]"`
  * — the committed PLANS_DUMP.md was generated at 8 cores, and partition
  * counts in the plans follow the core count.
  */
object PlanDump {
  private val Headline = Seq(
    "rel_q3_top_orders", "rel_q1_pricing_summary", "dedup_minhash_lsh_pairs",
    "dedup_pipeline", "sim_topk_bruteforce", "sim_ivf_kmeans",
    "sim_lsh_multiprobe", "asof_last_click", "text_fingerprint",
    "log_append_dump", "rel_interval_join", "dedup_containment",
    "sim_hamming_topk", "rel_correlated_scalar",
    "sim_pq_codes", "sim_pq_adc", "text_bigram_lm", "rel_q13_custdist",
    "rel_window_range_frame", "rel_q18_large_orders", "log_checksum_verify",
    "dedup_minhash_signatures", "sim_ivf_pq", "text_perplexity",
    "shard_hash_split", "shard_pack_manifest", "shard_quality_topk",
    "rel_q4_order_priority", "rel_q16_supplier_cnt",
    "rel_q7_nation_volume", "rel_q19_disjunctive", "rel_bloom_filter_join",
    "shard_leakage_split", "text_tfidf_topk", "text_pmi_bigrams",
    "sim_range_search", "sim_lsh_topk", "dedup_simhash_pairs",
    "dedup_embedding_neardup", "pipeline_curate", "mm_av_align",
    "log_compaction_latest", "text_passage_dedup", "log_tvf_read",
    "rel_q6_forecast_revenue", "rel_q15_top_supplier",
    "rel_bloom_manual_prune", "log_tvf_topics",
    "sim_sq8_recon", "shard_curriculum", "shard_diversity_sample",
    "text_zipf", "text_pii_scrub", "asof_tolerance",
    "dedup_winnow_pairs", "text_dsir_weights", "shard_epoch_shuffle",
    "text_cms_topk", "shard_importance_sample", "rel_q2_min_cost_supplier",
    "rel_q9_nation_profit", "rel_q11_important_stock",
    "rel_q20_scarce_stock", "rel_kmv_distinct", "text_novelty",
    "text_quality_classifier", "shard_decontaminate_semantic",
    "sim_hard_negatives", "sim_hybrid_rrf",
    "rel_funnel_stages", "dedup_bloom_probe", "text_bpe_pairs",
    "shard_length_buckets", "dedup_canonical", "sim_ndcg_eval",
    "rel_partition_pruning", "rel_bucketed_join", "mm_phash_neardup",
    "graph_pagerank", "graph_triangles", "graph_components",
    "rel_retention_cohorts", "rel_zorder_layout", "rel_scd2_history",
    "rel_incremental_view", "rel_observed_audit", "text_inverted_index",
    "text_kneser_ney", "text_bpe_train", "sim_centroid_outliers",
    "sim_matryoshka_eval", "mm_scene_detect", "text_bpe_apply", "log_dlq",
    "rel_unpivot", "rel_markov_transitions", "rel_spike_detection",
    "graph_jaccard_items", "sim_dim_stats", "text_langid_confusion",
    "sim_binary_quant", "sim_mmr_rerank", "sim_ivf_stats",
    "graph_label_prop", "graph_kcore", "rel_skyline", "rel_cdc_apply",
    "rel_gaps_islands", "rel_histogram", "mm_format_sniff",
    "text_chunk_windows", "text_js_divergence",
    "dedup_substring_spans", "dedup_edit_distance", "graph_adamic_adar",
    "log_retention_bytes", "text_gopher_rules", "sim_kmeans_balanced",
    "shard_temperature_mix", "text_hash_embedding", "rel_scd2_pointintime",
    "log_snapshot_manifest", "log_runtime_pruned_join", "log_time_travel",
    "shard_decontaminate_13gram", "dedup_span_removal", "dedup_cluster_stats",
    "pipeline_pretrain_mix", "pipeline_dataset_card",
    "pipeline_ccnet", "graph_hits", "graph_link_predict",
    "log_agg_pushdown", "sketch_kmv_distinct", "sketch_kmv_overlap",
    "rel_q6_log_scan", "rel_conversion_lag", "text_heaps_law",
    "sim_cascade_rerank")

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val out = args.lift(1).getOrElse("PLANS_DUMP.md")
    val spark = graft.GraftSession.local()
    spark.sparkContext.setLogLevel("ERROR")

    val sb = new StringBuilder
    sb.append("# PLANS_DUMP — `explain(\"formatted\")` for headline queries\n\n")
    sb.append(s"Generated by `graft.tools.PlanDump` against `$sfDir`. ")
    sb.append("Plans are pre-execution (AQE may further coalesce/convert at run time).\n")
    Headline.foreach { name =>
      val df = graft.SparkEntry.queries(name)(spark, sfDir)
      sb.append(s"\n## $name\n\n```\n")
      sb.append(df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode))
      sb.append("```\n")
    }
    Files.writeString(Paths.get(out), sb.toString)
    println(s"wrote $out")
    spark.stop()
  }
}
