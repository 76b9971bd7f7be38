package graft

/** Plan-audit main: prints `explain("formatted")` for selected queries so
  * pushdown (PushedFilters/ReadSchema), join strategies (broadcast vs
  * shuffle), and WholeStageCodegen spans can be inspected per round.
  *
  * Usage: runMain graft.Explain [sfDir] [query ...]  (default: audit set)
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val names = if (args.length > 1) args.drop(1).toSeq
      else Seq("q1_pricing_summary", "q3_top_unshipped_orders",
        "q5_local_supplier_volume", "q6_forecast_revenue",
        "dedup_minhash_full", "emb_cosine_topk",
        "q25_range_join_pairs", "dedup_ngram_jaccard",
        "dedup_embedding_lsh", "text_top_terms", "text_langid_counts",
        // round-4 additions: recall gates, decontamination, LM scoring
        "ann_lsh_topk", "pipeline_contamination_ngram",
        "text_unigram_logprob", "emb_quantize_int8",
        // round-6 additions: normalized decontamination, quantized IVF,
        // IVF-PQ, the NB quality classifier, token-budget mixture fill
        "pipeline_contamination_norm", "ann_ivf_int8_topk",
        "ann_ivf_pq_topk", "text_quality_classifier",
        "pipeline_mixture_budget",
        // round-6 retrieval + LM + selection additions. text_bm25_topk
        // and conv_cdc_merge are EAGER/side-effecting (the former
        // returns a localized result, the latter writes tables), so
        // explaining them would execute the pipeline and print a plan
        // without its structure — the serve path is the lazy BM25 plan
        // and the merge plan is audited by CdcMergeSpec instead.
        "text_bm25_serve", "text_hybrid_rrf", "text_kn_bigram",
        "pipeline_dsir_select", "pipeline_decontaminate_scrub",
        // round-7: top-k via TakeOrderedAndProject (the r6 global-window
        // finding) — the plan must show no single-partition WindowExec
        // before the limit. conv_cdc_partitioned is eager (writes + merges
        // tables); its write-scope pruning is proven by the gate's
        // byte-identity check + CdcMergeSpec, not an explain.
        "text_heavy_hitters",
        // round-7: persistent-index serving (corpus side must plan with
        // no exchange before the candidate join), paragraph keep-first
        // (no per-fingerprint window), JL-projection shortlist+re-rank
        "dedup_incremental_serve", "dedup_paragraphs", "ann_rp_topk",
        // round-8: event analytics (funnel/retention/resample must plan
        // with map-side partial aggs + broadcast stats frames, no
        // fact-side shuffles beyond the keyed exchanges), PCA shortlist,
        // fuzzy join (inverted-index equi-join, no cartesian), dhash /
        // audio pair funnels (block equi-join, no cartesian)
        "q34_funnel_conversion", "q35_retention_cohorts",
        "q36_resample_ffill", "q37_outliers_mad", "q38_user_similarity",
        "q39_asof_forward", "q40_winsorize", "q41_sketch_overlap",
        "q42_ewma", "ann_pca_topk",
        "dedup_fuzzy_names", "dedup_fuzzy_serve", "dedup_jw_names",
        "text_min_k_prob", "pipeline_dataset_card",
        // round-9: C4 cleaning + entropy (one posexplode + doc-keyed
        // exchanges), NFC (zero shuffle), ppl terciles (broadcast cuts),
        // IR metrics (#queries-sized frames after the hits join),
        // cross-source matrix (fp-keyed self-join, #strata-bounded keys)
        "text_c4_clean", "text_entropy", "text_normalize",
        "pipeline_ppl_buckets", "retrieval_metrics", "dedup_cross_source",
        // round-9 second batch: radius search (broadcast query frame,
        // sub-threshold rows die at the scan), IVF radius (cell equi-join),
        // per-language calibration (one lang-keyed window exchange).
        // conv_xml_roundtrip / conv_schema_evolution are eager (stage
        // fixtures + write ORC) — their shapes are asserted lazily in
        // PlanAuditSpec instead.
        "emb_cosine_radius", "ann_ivf_radius", "pipeline_score_calibrate",
        // round-10: URL curation (map-only canon chain + one
        // domain-keyed exchange on the cap), audit operators
        // (doc-keyed / group-keyed aggs), matryoshka funnel (broadcast
        // query frame, prefix slice at the scan). The converter legs
        // (fixed-width, exports) are eager and audited lazily in
        // PlanAuditSpec.
        "text_url_canon", "dedup_url", "pipeline_cap_per_domain",
        "pipeline_url_blocklist", "pipeline_length_buckets",
        "profile_k_anon", "profile_zipf", "ann_truncated_topk",
        // round-10 fourth batch: partition-offset global ids (tiny-frame
        // prefix-sum window + broadcast offsets), Aho-Corasick scrub
        // (map-only scan agg), compiled cluster routing, margin mining
        "pipeline_global_ids", "text_keyword_scrub", "emb_cluster_assign",
        "pipeline_cluster_balance", "emb_bitext_margin",
        // round-10 fifth batch (stream_minhash_ingest and the multimodal
        // decode gates are eager — index build / RDD decode — and are
        // audited by their specs instead)
        "text_readability",
        // round-10 sixth batch
        "pipeline_curriculum", "profile_term_pmi", "profile_ks_drift",
        // round-10 seventh batch
        "pipeline_chat_stats", "emb_outlier_flags",
        // round-10 eighth batch (stream_ks_drift is eager — it drives
        // the monitor loop — and is pinned by spec + oracle instead)
        "pipeline_curate_v2", "text_vocab_coverage", "emb_bitext_margin_engine",
        "text_collocations", "text_lang_confusion", "emb_dim_stats",
        "emb_whitening")
    val spark = GraftSession("graft-explain")
    spark.sparkContext.setLogLevel("ERROR")
    names.foreach { n =>
      println(s"\n========== $n ==========")
      SparkEntry.queries(n)(spark, sfDir).explain("formatted")
    }
    spark.stop()
  }
}
