package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.queries.{AnalyticsQueries, ConverterQueries, LlmQueries, PipelineQueries}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Every implemented operator from SURVEY.md §2 (and the beyond-reference
  * LLM-pipeline operators) registers a named query here plus, where the
  * semantics are ANSI-SQL-expressible, a DuckDB oracle statement over the
  * same parquet tables. Column names are aligned between the Spark plan and
  * the oracle SQL because the driver's compare sorts columns by name before
  * hashing.
  */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    queries("q1_pricing_summary")(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    AnalyticsQueries.queries ++ ConverterQueries.queries ++ LlmQueries.queries ++
      PipelineQueries.queries

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops. */
  def oracleSql: Map[String, String] =
    AnalyticsQueries.oracles ++ ConverterQueries.oracles ++ LlmQueries.oracles ++
      PipelineQueries.oracles

  /** Headline subset used by Bench (kept fast enough for per-round runs).
    * Covers every plan family for round-over-round regression tracking:
    * scans/aggs, joins (broadcast, as-of, range, bucketed co-located),
    * windows, pivot, streaming-equivalent, text, dedup, ANN, converters. */
  def benchQueries: Seq[String] = Seq(
    "q1_pricing_summary", "q3_top_unshipped_orders", "q5_local_supplier_volume",
    "q6_forecast_revenue", "q7_window_top_orders", "q9_topk_orders",
    "q13_events_hourly",
    "q18_large_orders",
    "q23_asof_clicks", "q39_asof_forward", "q44_asof_nearest",
    "q40_winsorize", "q43_scd2_join",
    "q25_range_join_pairs", "q45_interval_overlap", "q26_pivot_events",
    "q28_user_sessions", "q34_funnel_conversion", "q35_retention_cohorts",
    "q36_resample_ffill", "q37_outliers_mad", "q38_user_similarity",
    "q42_ewma",
    "pipeline_split", "pipeline_time_split",
    "stream_hourly_agg", "stream_hourly_quantiles", "stream_hourly_distinct",
    "stream_funnel_depth", "stream_ewma", "stream_session_window",
    "conv_stream_orc",
    "conv_cdc_stream", "stream_ingest_dedup", "stream_bm25_ingest",
    "stream_ivf_ingest", "stream_left_join", "stream_url_dedup",
    "stream_late_policy", "stream_late_fenced", "stream_static_enrich",
    "text_stats", "text_normalize", "text_html_strip", "text_c4_clean",
    "text_line_quality", "text_entropy",
    "text_bpe_tokens",
    "text_bpe_fertility", "text_pii_scrub",
    "text_heavy_hitters",
    "text_tfidf_top", "text_repetition_full",
    "text_bm25_topk", "text_bm25_serve", "text_bm25_incremental",
    "text_hybrid_rrf",
    "retrieval_hybrid_serve", "retrieval_hybrid_serve_engine",
    "retrieval_metrics", "retrieval_negatives", "text_kn_bigram",
    "text_min_k_prob", "pipeline_ppl_buckets",
    "dedup_exact_docs", "dedup_cross_source", "dedup_paragraphs",
    "dedup_fuzzy_names",
    "dedup_fuzzy_serve", "dedup_jw_names",
    "dedup_minhash_full",
    "dedup_simhash_full", "dedup_clusters", "dedup_span_exact",
    "dedup_span_scrub",
    "dedup_incremental", "dedup_incremental_near", "dedup_incremental_serve",
    "dedup_keep_best",
    "pipeline_contamination_norm", "pipeline_decontaminate_scrub",
    "pipeline_bloom_decontam",
    "pipeline_dsir_select", "pipeline_quality_ensemble",
    "pipeline_seeded_shuffle", "pipeline_leakfree_split",
    "pipeline_weighted_sample", "pipeline_weighted_stratum",
    "pipeline_temperature_mix", "pipeline_snapshot_diff",
    "pipeline_dataset_card", "pipeline_dp_counts",
    "text_countmin", "text_source_divergence", "q41_sketch_overlap",
    "profile_documents", "profile_documents_approx", "profile_histogram",
    "profile_key_skew",
    "profile_incremental",
    "emb_cosine_topk", "emb_benchmark_overlap",
    "ann_lsh_topk", "ann_lsh_topk_engine", "ann_rp_topk", "ann_pca_topk",
    "ann_pca_serve", "ann_truncated_topk", "ann_truncated_engine",
    "ann_mmr_rerank",
    "ann_ivf_topk", "ann_ivf_topk_engine", "ann_ivf_index_serve",
    "ann_ivf_int8_topk", "ann_ivf_int8_topk_engine", "ann_ivf_int8_serve",
    "ann_ivf_pq_topk", "ann_ivf_pq_topk_engine", "ann_ivf_pq_serve",
    "ann_ivf_pq_refine",
    "dedup_semdedup", "dedup_semdedup_engine",
    "multimodal_decode", "multimodal_decode_jpeg", "multimodal_decode_gif",
    "multimodal_dhash_pairs",
    "multimodal_dhash_mixed", "multimodal_audio_pairs",
    "multimodal_video_pairs", "multimodal_avi_pairs",
    "conv_csv_roundtrip", "conv_csv_gzip", "conv_csv_badrecords",
    "conv_csv_multiline",
    "conv_orc_roundtrip",
    "conv_dump_gzip", "conv_dump_dialect", "conv_pgdump_roundtrip",
    "conv_export_roundtrip", "conv_lineitem_orc",
    "conv_cdc_merge", "conv_cdc_partitioned", "conv_sorted_orc",
    "conv_bloom_orc",
    "conv_zorder_orc", "conv_bucketed_join",
    // round-9 second batch
    "conv_xml_roundtrip", "conv_schema_evolution", "conv_compact_orc",
    "emb_cosine_radius", "ann_ivf_radius", "ann_ivf_radius_engine",
    "pipeline_score_calibrate",
    // round-10: universal-input breadth + URL curation + dump export
    "conv_parquet_roundtrip", "conv_avro_roundtrip", "conv_dump_bz2",
    "conv_dump_zst", "conv_sqlitedump_roundtrip", "conv_export_dump",
    "conv_export_xml", "conv_export_jdbc", "conv_export_avro",
    "conv_fixedwidth_roundtrip",
    "text_url_canon", "dedup_url", "pipeline_cap_per_domain",
    "pipeline_url_blocklist", "pipeline_length_buckets", "profile_k_anon",
    "profile_zipf",
    // round-10 fourth batch: global ids, Aho-Corasick scrub, clustering,
    // bitext margin mining
    "pipeline_global_ids", "text_keyword_scrub", "emb_cluster_assign",
    "pipeline_cluster_balance", "emb_bitext_margin",
    // round-10 fifth batch: readability, streamed minhash index,
    // resolution curation
    "text_readability", "stream_minhash_ingest",
    "multimodal_resolution_buckets",
    // round-10 sixth batch: curriculum order, PMI table, KS drift
    "pipeline_curriculum", "profile_term_pmi", "profile_ks_drift",
    // round-10 seventh batch: chat/SFT stats, embedding outlier audit
    "pipeline_chat_stats", "emb_outlier_flags",
    // round-10 eighth batch: streaming drift monitor, composed curation,
    // vocabulary coverage curve
    "stream_ks_drift", "pipeline_curate_v2", "text_vocab_coverage",
    "emb_bitext_margin_engine", "conv_export_fixedwidth",
    "stream_decontam_gate",
    // round-10 eleventh batch: collocations, langid confusion, streaming
    // cluster admission
    "text_collocations", "text_lang_confusion", "stream_cluster_route",
    "emb_dim_stats", "emb_whitening", "conv_csv_sniff",
    // round-11: arbitrary-length substring dedup (suffix-array pass),
    // drift-triggered IVF recluster
    "dedup_substring", "ann_ivf_recluster", "stream_curate",
    // round-11 second batch: link-graph centrality, declarative
    // data-quality expectations
    "graph_pagerank", "profile_expectations",
    // round-11 third batch: snapshot table format (commit log, time
    // travel, manifest pruning)
    "conv_table_timetravel", "conv_table_prune",
    // round-11 fourth batch: pseudo-relevance-feedback retrieval
    "retrieval_prf",
    // round-11 fifth batch: table maintenance (copy-on-write merge,
    // change feed)
    "conv_table_merge", "conv_table_changes", "stream_table_ingest",
    // round-12: snapshot-table schema evolution + exactly-once
    // table→table sync (vacuum/cluster/delete gates mutate and rebuild
    // per call — correctness-only, not timing rows)
    "conv_table_schema_evo", "conv_table_sync", "conv_table_prune_str",
    "conv_table_manyfiles", "conv_table_ckpt_orc", "conv_table_restore",
    "conv_table_dsv2", "stream_table_source", "stream_table_sink",
    // round-14: string-keyed merge-rebase + lexicographic range delete
    "conv_table_rebase_str",
    // round-14 (cont.): SQL row-level DML through the path catalog —
    // group-based copy-on-write MERGE (all three action legs) and the
    // metadata-only ranged DELETE fast path — plus the change data feed
    // in both shapes (batch net-mass gate, DML-aware streaming source)
    "conv_table_sql_merge", "conv_table_sql_delete", "conv_table_cdf",
    "stream_table_cdf",
    // round-14 (cont. 3): merge-on-read equality deletes — a point
    // DELETE writes one key sidecar instead of rewriting data files
    // (zero data I/O; the Iceberg v2 delete-file shape). The COW row
    // (conv_table_sql_delete) is the direct cost comparison; the CDF
    // row exercises the per-task key-filter reader over a MOR span.
    "conv_table_mor_delete", "conv_table_mor_sql", "conv_table_cdf_mor",
    // ALTER TABLE ADD COLUMNS / DROP COLUMN through the path catalog —
    // both zero-data-I/O log commits — and manifest-answered
    // COUNT/MIN/MAX (complete aggregate pushdown, zero-scan)
    "conv_table_agg_push",
    // round-15: runtime file-group pruning (DPP) — a selective dim join
    // drops manifest groups at execution time, before any data I/O —
    // and merge-on-read UPDATE (API upsert + delta-path SQL UPDATE):
    // key sidecar + appended replacements, zero existing-file rewrites
    "conv_table_dpp", "conv_table_mor_update", "conv_table_mor_update_sql",
    // GROUP BY + filtered aggregate pushdown: manifest-answered
    // per-group and filtered COUNT/MIN/MAX (zero-scan plans pinned),
    // and the change feed crossing ALTER boundaries (window-end schema
    // with null fill, batch/stream agreement)
    "conv_table_agg_group", "conv_table_cdf_evo",
    // round-16: SQL MERGE INTO through the delta (merge-on-read) path —
    // matched legs as key sidecar + appends, one rowupdate commit, zero
    // existing-data-file rewrites (VERDICT r15 #2) — plus partition
    // transforms (exact tuple pruning) and the storage-partitioned
    // join (co-partitioned scans, shuffle-free join) (VERDICT r15 #1)
    "conv_table_mor_merge", "conv_table_partition_prune",
    "conv_table_bucket_join",
    // MOR debt lifecycle: threshold-triggered maintenance drains the
    // sidecar debt with results identical and time travel intact
    // (VERDICT r15 #4)
    "conv_table_compact_mor",
    // round-17: partition-spec evolution (mixed epochs -> compact
    // convergence) and streaming writes into a partition-spec'd table
    // (tuple-routed epoch files, stamped like batch)
    "conv_table_partition_evolve", "stream_table_partitioned")

  /** Bench-only engine probes — NOT part of the correctness contract.
    * The gated ANN rows time approximate top-k PLUS the brute-force
    * reference PLUS the recall join (the deterministic oracle needs all
    * three), which hides the approximate path's own cost — the number
    * that matters at the scale where brute force is unrunnable. These
    * time just the engine, with the same dials as the gated rows. */
  def benchOnlyQueries: Map[String, (SparkSession, String) => DataFrame] = {
    import graft.Tables.t
    import graft.operators.Similarity
    // index-build fixtures for the serve-only probes: a production
    // deployment trains once at index build; the serve row must not
    // re-time that. The IVF centroids are the hybrid gates' model, staged
    // under their key, so one JVM trains it once for both.
    import LlmQueries.hybridCentroidsFor
    def codebooksFor(s: SparkSession, d: String): Seq[Seq[Seq[Double]]] =
      Staging.once(s"bench_pq_codebooks|$d") {
        Similarity.trainPqCodebooks(t(s, d, "embeddings"), "vec_id",
          "embedding", m = 8, ksub = 32, lloydIters = 2)
      }
    def pcaFor(s: SparkSession, d: String): (Array[Double], Array[Array[Double]]) =
      Staging.once(s"bench_pca|$d") {
        Similarity.trainPcaProjection(t(s, d, "embeddings"), "vec_id",
          "embedding", outDim = 16)
      }
    def nVecs(s: SparkSession, d: String): Long =
      Staging.once(s"bench_embedding_count|$d")(t(s, d, "embeddings").count())
    Map(
      "ann_lsh_topk_engine" -> ((s, d) =>
        Similarity.lshTopK(t(s, d, "embeddings"), "vec_id", "embedding",
          queryIds = _ < 10, k = 5, tables = 8, nBits = 3)),
      // the truncated-dim funnel alone (the gated row also runs the
      // brute-force truth + recall join); corpus-scaled shortlist, gate
      // dials
      "ann_truncated_engine" -> ((s, d) =>
        Similarity.truncatedTopK(t(s, d, "embeddings"), "vec_id",
          "embedding", queryIds = _ < 10, k = 5, prefixDims = 32,
          shortlist = math.max(100L, nVecs(s, d) * 5 / 100).toInt)),
      // PCA serving with a FROZEN pre-trained projection — the training
      // collect happens once at index build, outside the timed window
      "ann_pca_serve" -> ((s, d) => {
        val (mean, comps) = pcaFor(s, d)
        Similarity.pcaTopKServe(t(s, d, "embeddings"), "vec_id", "embedding",
          queryIds = _ < 10, k = 5, mean = mean, components = comps,
          shortlist = 100)
      }),
      "ann_ivf_topk_engine" -> ((s, d) =>
        Similarity.ivfTopK(t(s, d, "embeddings"), "vec_id", "embedding",
          queryIds = _ < 10, k = 5, nCentroids = 16, nProbe = 4)),
      // IVF radius alone with FROZEN centroids (the gated row also runs
      // the brute-force truth + recall join)
      "ann_ivf_radius_engine" -> ((s, d) =>
        Similarity.ivfRadius(t(s, d, "embeddings"), "vec_id", "embedding",
          queryIds = _ < 10, minCosine = 0.3,
          centroids = hybridCentroidsFor(s, d), nProbe = 6)),
      "ann_ivf_int8_topk_engine" -> ((s, d) =>
        Similarity.ivfTopKInt8(t(s, d, "embeddings"), "vec_id", "embedding",
          queryIds = _ < 10, k = 5, nCentroids = 16, nProbe = 4)),
      // serving cost with FROZEN centroids — index built once, excluded
      // from the timed window (the recurring per-batch cost at scale)
      "ann_ivf_int8_serve" -> ((s, d) =>
        Similarity.ivfTopKInt8Serve(t(s, d, "embeddings"), "vec_id",
          "embedding", queryIds = _ < 10, k = 5,
          centroids = hybridCentroidsFor(s, d), nProbe = 4)),
      "ann_ivf_pq_topk_engine" -> ((s, d) =>
        Similarity.ivfTopKPq(t(s, d, "embeddings"), "vec_id", "embedding",
          queryIds = _ < 10, k = 5, nCentroids = 16, nProbe = 4,
          m = 8, ksub = 32, shortlist = 60)),
      // IVF-PQ serving with FROZEN coarse centroids + codebooks — index
      // trained once outside the timed window, the recurring cost shape
      "ann_ivf_pq_serve" -> ((s, d) =>
        Similarity.ivfTopKPqServe(t(s, d, "embeddings"), "vec_id",
          "embedding", queryIds = _ < 10, k = 5,
          centroids = hybridCentroidsFor(s, d), codebooks = codebooksFor(s, d),
          nProbe = 4, shortlist = 60)),
      // the SemDeDup sweep alone — the gated row re-replays every
      // decision in Column space, roughly tripling the timed work
      "dedup_semdedup_engine" -> ((s, d) =>
        Similarity.semDedupServe(t(s, d, "embeddings"), "vec_id",
          "embedding", threshold = 0.40, centroids = hybridCentroidsFor(s, d))),
      // the full SERVING stack for hybrid retrieval: BM25 from the
      // staged term-sorted index + IVF from frozen centroids + RRF —
      // zero corpus scans on the lexical leg, no Lloyd training in the
      // timed span. r7: renamed _engine now that retrieval_hybrid_serve
      // is a correctness gate (whose row times gate verdict overhead
      // too); this row keeps the pure serving cost comparable across
      // rounds.
      "retrieval_hybrid_serve_engine" -> ((s, d) => {
        val qIds = graft.operators.Retrieval.PinnedQueries.map(_._1)
        val lex = graft.queries.LlmQueries.bm25Served(s, d, k = 20)
          .select(org.apache.spark.sql.functions.col("query_id"),
            org.apache.spark.sql.functions.col("doc_id"),
            org.apache.spark.sql.functions.col("rank"))
        val vec = Similarity.ivfTopKServe(t(s, d, "embeddings"), "vec_id",
            "embedding", queryIds = c => c.isin(qIds: _*), k = 20,
            centroids = hybridCentroidsFor(s, d))
          .select(org.apache.spark.sql.functions.col("query_id"),
            org.apache.spark.sql.functions.col("neighbor_id").as("doc_id"),
            org.apache.spark.sql.functions.col("rank"))
        graft.operators.Retrieval.rrfFuse(Seq(lex, vec), "doc_id", k = 10)
      }))
  }

  /** Gate-definition version per bench row: bumped whenever a query's
    * DEFINITION changes (scope, dials, timed span — not a faster plan for
    * the same definition), so cross-round tooling can auto-exclude
    * redefinitions instead of parsing BENCH_NOTES prose. Unlisted
    * queries are at version 1. */
  def gateDefVersion: Map[String, Int] = Map(
    "ann_lsh_topk" -> 2,      // r4: times the full recall gate; nBits 4->3
    "ann_ivf_topk" -> 2,      // r4: times the full recall gate
    "dedup_span_exact" -> 2,  // r4: default maxDf=1000 df-pass included
    "dedup_simhash_full" -> 2, // r4: portable MD5 token-hash mode
    "text_tfidf_top" -> 2,    // r4: full corpus (was doc_id < 50 slice)
    "retrieval_hybrid_serve" -> 2, // r7: now the correctness gate (adds
                                  // verdict work); pure serving timing
                                  // moved to retrieval_hybrid_serve_engine
    "stream_curate" -> 2,         // r12: 3rd cross-batch dup rule in the
                                  // fixture; bench times ONE
                                  // deployment-sized batch (gate keeps 3)
    "conv_table_agg_push" -> 2,   // r15: double MIN/MAX now correctly
                                  // DECLINES (NaN-blind footers) — the
                                  // gate added a plain-scan probe
    "conv_table_agg_group" -> 3,  // r16: hybrid-aggregate probes added
                                  // (second range-clustered fixture, a
                                  // straddling read + a double-MIN
                                  // decline probe) — the row prices
                                  // more work by definition.
                                  // r17: grouped-hybrid probes added
    "conv_table_partition_prune" -> 2, // r17: planted empty-string/null
                                  // partition-value legs (second staged
                                  // table — VERDICT r16 bug pin)
    "conv_table_bucket_join" -> 2 // r17: SPJ-under-MOR-debt leg added
                                  // (second co-bucketed pair + sidecar)
  ).withDefaultValue(1)
}
