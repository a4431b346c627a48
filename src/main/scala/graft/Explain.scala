package graft

import java.nio.file.{Files, Paths}

/** Plan dump: the executed physical plan of each named registry query,
  * one markdown section per query — evidence that filters/columns push
  * to the scans, dims broadcast, and aggregation is partial before
  * every exchange. `PLANS.md` is this dump over [[names]]; before/after
  * dumps of a few queries are the optimization rounds' plan evidence.
  *
  *   sbt "runMain graft.Explain <sfDir> <out.md> [q1,q2,...]"
  *
  * Note: building a lifecycle query's DataFrame executes its side
  * effects (table writes, streams); the dumped plan is the plan of the
  * frame the query RETURNS. For declarative queries that is the whole
  * computation.
  */
object Explain {
  /** The representative declarative (non-streaming-lifecycle) queries
    * whose executed plans are dumped to PLANS.md and swept by
    * PlanInvariantsSpec's global scale-invariant assertions. */
  val names: Seq[String] = Seq("q1_pricing", "gold_region_sales", "rank_topk",
      "dedup_minhash_lsh", "ann_bruteforce", "ann_lsh", "ann_ivf",
      "ann_ivf_indexed", "dedup_embedding_quantized",
      "contamination_check", "asof_join", "range_join",
      "salted_join", "event_window_agg", "subquery_above_avg",
      "tfidf_topterms", "text_repetition", "pii_scrub",
      "sequence_pack", "heavy_hitters", "curation_pipeline",
      "asof_join_tolerance", "conversion_funnel", "value_quantiles",
      "dedup_simhash", "multimodal_meta", "sql_catalog_ctas",
      "paragraph_dedup", "paragraph_dedup_antijoin", "intradoc_dedup",
      "quality_classifier", "domain_mix", "semdedup_keep",
      "semdedup_rate", "dedup_incremental", "bloom_pruned_join",
      "range_join_auto", "window_frames", "session_window_agg",
      "sessionize", "bpe_encode", "table_profile", "word_pmi",
      "interval_join", "ann_pq", "ann_ivfpq", "ann_pq_indexed",
      "label_centroids", "doc_chunk", "inverted_index", "ngram_lm",
      "lm_score", "contamination_fuzzy", "random_projection",
      "duplicate_spans", "span_clean", "embedding_cluster",
      "bpe_fertility", "profile_diff", "cohort_retention",
      "multimodal_framesample", "hybrid_search", "dedup_apply",
      "ingest_text", "multimodal_ingest_decode", "mlm_mask",
      "quality_gate", "k_anonymity", "corpus_sample_exact",
      "text_normalize", "curriculum_order", "skew_report",
      "dedup_stats", "l_diversity", "quality_resample", "t_closeness",
      "textrank_keywords", "edit_distance_join", "similarity_join_exact",
      "dedup_lsh_recall", "value_winsorize", "anonymize_generalize",
      "market_basket", "event_interpolate", "graph_triangles", "ann_sq8",
      "asof_join_forward", "value_histogram_eqdepth", "dedup_golden",
      "dedup_threshold_curve", "ivf_cell_stats", "pii_report",
      "script_mix", "ts_changepoint", "decayed_popularity",
      "stratified_kfold", "ngram_novelty", "boilerplate_source",
      "centroid_outliers", "doclen_histogram", "corpus_drift",
      "ks_drift", "shard_balance", "dedup_bloom_ingest",
      // hilbert_write / zorder_write / mmr_rerank are lifecycle
      // queries (they write or materialize when BUILT) — covered by
      // their own specs, not the declarative plan sweep
      "ann_twostage", "knn_classify",
      "skyline_2d", "token_gini", "bm25_search",
      "ann_twostage_recall", "centroid_drift", "table_diff",
      "event_paths", "value_outliers_mad", "user_rfm", "image_dedup",
      "dsir_resample", "vocab_coverage", "moments_profile", "ab_test",
      "join_size_estimate", "ivm_delta_gold", "cluster_quality",
      "late_arrival_audit",
      // bloom_fpp_audit builds its filter when the frame is BUILT
      // (lifecycle, like hilbert_write) — spec-covered instead
      "compaction_plan", "approx_quantiles_audit", "image_phash_dedup",
      "multimodal_audio_features", "langid_confusion", "session_stats",
      "watermark_curve", "ivm_delta_retract", "training_epoch",
      "semdedup_curve", "ann_filtered", "split_leakage_audit",
      // r8 declarative additions (fold/component-drop queries carry a
      // driver-side CC loop and stream_/ingest_ rows execute side
      // effects when built — spec-covered instead, like dedup_clusters)
      "dataset_fingerprint", "pii_pseudonymize", "pii_pseudonym_map",
      "token_budget_fit", "budget_sample", "epoch_expand",
      "mixture_curve", "mixture_manifest",
      "embedding_covariance", "embedding_pca", "pca_project",
      "retrieval_mrr", "ref_integrity", "freshness_audit",
      "embedding_isotropy", "source_overlap", "bootstrap_ci",
      // dsir_mix_report composes dsir_resample (swept above) with a
      // |langs|-row totals fold — its plan carries THREE tiny
      // single-partition frames (1024-row bin stats, 1-row share,
      // |langs|-row totals), each bounded by construction but over
      // the sweep's ≤2 global-funnel census; exempted with this
      // note rather than weakening the census for everyone
      "split_leakage_fix", "source_dedup_report",
      // r8 session-2 declarative additions
      "gopher_rules", "hard_negatives", "chi2_drift", "ts_autocorr",
      "quality_calibration", "branch_merge", "pack_efficiency",
      "ann_dim_sweep", "ann_nprobe_curve", "ts_decompose",
      "column_corr", "context_len_fit", "sketch_countmin",
      "dedup_graph_degrees", "pq_distortion", "phrase_search",
      "lexicon_filter", "triplet_audit", "sql_lateral_topk",
      "ts_seasonal_anomaly",
      // r9 declarative additions
      "ts_crosscorr", "asof_join_native", "event_debounce",
      "asof_join_forward_native", "dedup_method_agreement",
      "dsv2_pruned_read", "versioned_pruned_read_str")

  def main(args: Array[String]): Unit = {
    val (sfDir, out) = (args(0), args(1))
    val dump = if (args.length > 2) args(2).split(",").toSeq else names
    val spark = SessionTuning.session()
    val sb = new StringBuilder
    sb ++= "# Physical plans (generated by graft.Explain)\n\n"
    sb ++= "Evidence per query: `PushedFilters`/`ReadSchema` at the "
    sb ++= "parquet scans, `BroadcastHashJoin` for dims, partial "
    sb ++= "HashAggregate before each Exchange, `WindowGroupLimit` "
    sb ++= "for top-k.\n"
    for (n <- dump) {
      try {
        val plan = Queries.queries(n)(spark, sfDir)
          .queryExecution.executedPlan.toString
        sb ++= s"\n## $n\n\n```\n$plan\n```\n"
      } catch { case e: Throwable =>
        System.err.println(s"[explain] $n failed: ${e.getMessage}")
      }
      spark.catalog.clearCache()
    }
    Files.writeString(Paths.get(out), sb.toString)
    println(s"wrote $out (${dump.size} plans)")
    spark.stop()
  }
}
