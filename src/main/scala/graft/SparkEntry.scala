package graft
import org.apache.spark.sql.{SparkSession, DataFrame}
import graft.operators._

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Query-name prefixes map to SURVEY.md §2 categories:
  *   rel_*  relational core (EXT §2.2: joins/aggs/windows/sorts/set ops)
  *   art_*  article pipeline (reference O4-O6, O10-O13, O18-O20)
  * Every query has a DuckDB oracle in [[oracleSql]] with identical column
  * names and ORDER BY, so the driver's hash compare is deterministic.
  */
object SparkEntry {
  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0.
    * The reference's raison d'être: keyword search over the cleansed
    * article corpus (api.py:26). */
  def entry(spark: SparkSession): DataFrame =
    ArticleOps.searchKeyword(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // --- relational core ---
    "rel_pricing_summary"      -> RelationalOps.pricingSummary _,
    "rel_shipping_priority"    -> RelationalOps.shippingPriority _,
    "rel_sql_returned_items"   -> RelationalOps.sqlReturnedItems _,
    "rel_region_revenue"       -> RelationalOps.regionRevenue _,
    "rel_semi_join_open_orders" -> RelationalOps.customersWithOpenOrders _,
    "rel_anti_join_no_orders"  -> RelationalOps.customersWithoutOrders _,
    "rel_window_topk_parts"    -> RelationalOps.topPartsPerBrand _,
    "rel_orders_by_month"      -> RelationalOps.orderPriorityByMonth _,
    "rel_rollup_customers"     -> RelationalOps.customerRollup _,
    "rel_top_orders"           -> RelationalOps.topOrders _,
    "rel_intersect_customers"  -> RelationalOps.setOpsCustomers _,
    "rel_range_join_ship_lag"  -> RelationalOps.shipLagWithin30Days _,
    "rel_above_brand_avg"      -> RelationalOps.partsAboveBrandAvg _,
    "rel_cube_orders"          -> RelationalOps.orderCube _,
    "rel_grouping_sets"        -> RelationalOps.orderGroupingSets _,
    "rel_except_customers"     -> RelationalOps.exceptCustomers _,
    "rel_distinct_custs"       -> RelationalOps.distinctCustomersPerStatus _,
    "rel_upsert_merge"         -> RelationalOps.upsertCustomers _,
    "rel_median_price"         -> RelationalOps.medianPricePerBrand _,
    "rel_full_outer"           -> RelationalOps.fullOuterSegments _,
    "rel_null_safe_join"       -> RelationalOps.nullSafeJoin _,
    "rel_skew_null_bucket"     -> RelationalOps.skewNullBucketJoin _,
    // DSv2 generator source (sources/SynthDocsSource.scala): corpus
    // synthesized at scan time; doc_id bounds prune InputPartitions at
    // planning, column pruning reaches the row builder
    "src_synth_pushdown"       -> ((s: SparkSession, _: String) =>
      graft.sources.SynthDocs.sliceSummary(s)),
    "src_synth_agg_pushdown"   -> ((s: SparkSession, _: String) =>
      graft.sources.SynthDocs.corpusSizing(s)),
    "rel_sql_lateral_topk"     -> RelationalOps.sqlLateralTopItems _,
    "rel_sql_hierarchy"        -> RelationalOps.sqlHierarchyRollup _,
    "rel_table_profile"        -> RelationalOps.tableProfile _,
    "rel_benford"              -> RelationalOps.benfordProfile _,
    "rel_constraint_suite"     -> RelationalOps.constraintSuite _,
    "rel_fd_check"             -> RelationalOps.fdCheck _,
    "rel_incremental_agg"      -> RelationalOps.incrementalAggMerge _,
    "rel_rank_family"          -> RelationalOps.rankFamilyParts _,
    "rel_dist_family"          -> RelationalOps.distFamilyParts _,
    "rel_unpivot"              -> RelationalOps.unpivotPartMeasures _,
    "rel_revenue_share"        -> RelationalOps.revenueShareByPriority _,
    "rel_window_distinct"      -> RelationalOps.runningDistinctTypes _,
    "pipe_data_quality"        -> RelationalOps.dataQualityReport _,
    "evt_cdc_apply"            -> EventOps.cdcApply _,
    "evt_scd2_history"         -> EventOps.scd2History _,
    "evt_time_weighted_avg"    -> EventOps.timeWeightedAvg _,
    "evt_anomaly_2sigma"       -> EventOps.anomalyFlags2Sigma _,
    "rel_universe_sample"      -> RelationalOps.universeSampleSpend _,
    "rel_sql_waiting_suppliers" -> RelationalOps.sqlWaitingSuppliers _,
    "rel_sql_min_price_part"   -> RelationalOps.sqlMinPricePerPart _,
    "rel_sql_top_supplier"     -> RelationalOps.sqlTopSupplier _,
    "rel_sql_nation_volume"    -> RelationalOps.sqlNationVolume _,
    "rel_sql_mkt_share"        -> RelationalOps.sqlMarketShare _,
    "rel_sql_product_profit"   -> RelationalOps.sqlProductProfit _,
    "rel_sql_order_priority"   -> RelationalOps.sqlOrderPriority _,
    "rel_sql_cust_distribution" -> RelationalOps.sqlCustDistribution _,
    "rel_sql_promo_revenue"    -> RelationalOps.sqlPromoRevenue _,
    "rel_sql_small_qty_revenue" -> RelationalOps.sqlSmallQtyRevenue _,
    "rel_sql_disjunctive"      -> RelationalOps.sqlDisjunctiveRevenue _,
    "rel_sql_global_sales"     -> RelationalOps.sqlGlobalSales _,
    "rel_sql_simple_revenue"   -> RelationalOps.sqlSimpleRevenue _,
    "rel_sql_important_stock"  -> RelationalOps.sqlImportantStock _,
    "rel_sql_parts_suppliers"  -> RelationalOps.sqlPartsSupplierCount _,
    "rel_sql_ship_lag_priority" -> RelationalOps.sqlShipLagPriority _,
    "rel_sql_excess_suppliers" -> RelationalOps.sqlExcessSuppliers _,
    // --- article pipeline ---
    "art_cleanse_text"         -> ArticleOps.cleanseText _,
    "art_extract_fields"       -> ArticleOps.extractArticleFields _,
    "art_route_links"          -> ArticleOps.routeLinks _,
    "art_route_counts"         -> ArticleOps.routeCounts _,
    "art_search_keyword"       -> ((s: SparkSession, d: String) => ArticleOps.searchKeyword(s, d)),
    "art_search_json"          -> ArticleOps.searchKeywordJson _,
    "art_search_any"           -> ((s: SparkSession, d: String) => ArticleOps.searchAnyKeyword(s, d)),
    "art_search_folded"        -> ((s: SparkSession, d: String) => ArticleOps.searchDiacriticFolded(s, d)),
    "art_search_folded_full"   -> ((s: SparkSession, d: String) => ArticleOps.searchFoldedFull(s, d)),
    "art_search_textq"         -> ((s: SparkSession, d: String) => ArticleOps.searchTextQuery(s, d)),
    "art_inverted_index"       -> ArticleOps.invertedIndex _,
    "art_search_via_index"     -> ((s: SparkSession, d: String) => ArticleOps.searchViaIndex(s, d)),
    "art_search_indexed"       -> ((s: SparkSession, d: String) => ArticleOps.searchIndexed(s, d)),
    "art_search_ranked"        -> ((s: SparkSession, d: String) => ArticleOps.searchRanked(s, d)),
    "art_search_ranked_auto"   -> ((s: SparkSession, d: String) => ArticleOps.searchRankedAuto(s, d)),
    "art_search_bm25"          -> ((s: SparkSession, d: String) => ArticleOps.searchBm25(s, d)),
    "art_search_qlm"           -> ((s: SparkSession, d: String) => ArticleOps.searchQlm(s, d)),
    "art_search_qlm_idx"       -> ((s: SparkSession, d: String) => ArticleOps.searchQlmIndexed(s, d)),
    "art_search_snippet"       -> ((s: SparkSession, d: String) => ArticleOps.searchSnippet(s, d)),
    "art_search_snippet_idx"   -> ((s: SparkSession, d: String) => ArticleOps.searchSnippetIndexed(s, d)),
    "art_search_bm25_idx"      -> ((s: SparkSession, d: String) => ArticleOps.searchBm25Indexed(s, d)),
    "art_search_bm25_auto"     -> ((s: SparkSession, d: String) => ArticleOps.searchBm25Auto(s, d)),
    "art_search_phrase"        -> ((s: SparkSession, d: String) => ArticleOps.searchPhrase(s, d)),
    "art_search_phrase_idx"    -> ((s: SparkSession, d: String) => ArticleOps.searchPhraseIndexed(s, d)),
    "art_search_fuzzy"         -> ((s: SparkSession, d: String) => ArticleOps.searchFuzzy(s, d)),
    "art_search_negation"      -> ((s: SparkSession, d: String) => ArticleOps.searchNegation(s, d)),
    "art_search_stemmed"       -> ((s: SparkSession, d: String) => ArticleOps.searchStemmed(s, d)),
    "art_search_stemmed_idx"   -> ((s: SparkSession, d: String) => ArticleOps.searchStemmedIndexed(s, d)),
    "art_search_stemmed_auto"  -> ((s: SparkSession, d: String) => ArticleOps.searchStemmedAuto(s, d)),
    "art_search_porter"        -> ((s: SparkSession, d: String) => ArticleOps.searchStemmedPorter(s, d)),
    "art_search_snowball"      -> ((s: SparkSession, d: String) => ArticleOps.searchStemmedSnowball(s, d)),
    "art_keywords_split"       -> ArticleOps.keywordsSplit _,
    "art_batch_report"         -> ArticleOps.batchReport _,
    "art_crawl_e2e"            -> ((s: SparkSession, d: String) => ArticleOps.crawlExtractSearch(s, d)),
    // --- event analytics (batch forms of the streaming ops) ---
    "evt_tumbling_window"      -> EventOps.tumblingWindowStats _,
    "evt_sliding_window"       -> EventOps.slidingWindowStats _,
    "evt_session_windows"      -> EventOps.sessionWindows _,
    "evt_asof_purchase_signup" -> EventOps.asofPurchaseSignup _,
    "evt_asof_merge"           -> AsOfJoinOps.purchaseSignupMerge _,
    "evt_json_props"           -> EventOps.jsonPropsStats _,
    "evt_variant_props"        -> EventOps.variantProps _,
    "evt_running_totals"       -> EventOps.userRunningTotals _,
    "evt_gaps"                 -> EventOps.eventGaps _,
    "evt_dedup_first"          -> EventOps.earliestEventPerUserType _,
    "evt_lead_next"            -> EventOps.nextEvent _,
    "evt_transition_matrix"    -> EventOps.transitionMatrix _,
    "evt_quantile_by_type"     -> EventOps.quantileSketchByType _,
    "evt_sessionize_gap"       -> ((s: SparkSession, d: String) => EventOps.sessionizeByGap(s, d)),
    "evt_scd2_lookup"          -> EventOps.scd2Lookup _,
    "evt_weekly_change"        -> EventOps.weeklyChange _,
    "evt_mad_outliers"         -> EventOps.madOutliers _,
    "evt_funnel_latency"       -> EventOps.funnelLatency _,
    "evt_first_last"           -> EventOps.firstLastPerUser _,
    "evt_range_frame"          -> EventOps.rolling1hSum _,
    "evt_topk_udaf"            -> EventOps.topEventsPerType _,
    "evt_salted_totals"        -> EventOps.saltedUserTotals _,
    "evt_value_histogram"      -> EventOps.valueHistogram _,
    "evt_kmv_distinct"         -> ((s: SparkSession, d: String) => EventOps.kmvDistinct(s, d)),
    "evt_kmv_by_type"          -> ((s: SparkSession, d: String) => EventOps.kmvByType(s, d)),
    "evt_kmv_overlap"          -> ((s: SparkSession, d: String) => EventOps.kmvOverlap(s, d)),
    "evt_ewma"                 -> EventOps.ewmaSmoothing _,
    "evt_winsorize"            -> EventOps.winsorize _,
    "evt_quantile_sketch"      -> EventOps.quantileSketch _,
    "evt_gapfill"              -> EventOps.hourlyGapFill _,
    "rel_large_orders"         -> ((s: SparkSession, d: String) => RelationalOps.largeOrders(s, d)),
    "evt_pivot_types"          -> EventOps.userTypePivot _,
    "evt_funnel"               -> EventOps.funnel _,
    "evt_retention"            -> EventOps.cohortRetention _,
    "evt_attribution"          -> EventOps.lastTouchAttribution _,
    "evt_rfm"                  -> EventOps.rfmSegments _,
    "evt_ltv_cohort"           -> EventOps.ltvCohortCurve _,
    "evt_position_attribution" -> EventOps.positionAttribution _,
    "evt_markov_attribution"   -> ((s: SparkSession, d: String) => EventOps.markovAttribution(s, d)),
    "evt_sequence_match"       -> EventOps.sequenceMatch _,
    "evt_holt_linear"          -> EventOps.holtLinear _,
    "evt_dau_mau"              -> EventOps.dauMau _,
    "evt_survival"             -> EventOps.survivalCurve _,
    "evt_path_analysis"        -> ((s: SparkSession, d: String) => EventOps.pathAnalysis(s, d)),
    "evt_promo_sessions"       -> EventOps.promoSessionOverlap _,
    "evt_seasonal_naive"       -> EventOps.seasonalNaiveEval _,
    "evt_pareto"               -> EventOps.paretoRevenue _,
    "evt_ab_test"              -> EventOps.abTest _,
    // --- iterative graph (crawl frontier O8) ---
    "graph_frontier_bfs"       -> ((s: SparkSession, d: String) => GraphOps.frontierBfs(s, d)),
    "graph_pagerank"           -> ((s: SparkSession, d: String) => GraphOps.pageRank(s, d)),
    "graph_ppr"                -> ((s: SparkSession, d: String) => GraphOps.personalizedPageRank(s, d)),
    "graph_triangles"          -> ((s: SparkSession, d: String) => GraphOps.triangleCounts(s, d)),
    "graph_clustering"         -> GraphOps.clusteringCoefficients _,
    "graph_label_prop"         -> ((s: SparkSession, d: String) => GraphOps.labelPropagation(s, d)),
    "graph_anf"                -> ((s: SparkSession, d: String) => GraphOps.anf(s, d)),
    "graph_hits"               -> ((s: SparkSession, d: String) => GraphOps.hits(s, d)),
    "graph_link_predict"       -> ((s: SparkSession, d: String) => GraphOps.linkPrediction(s, d)),
    "graph_kcore"              -> ((s: SparkSession, d: String) => GraphOps.kcorePeel(s, d)),
    // --- text analysis (LLM-pipeline EXT) ---
    "txt_token_stats"          -> TextOps.tokenStats _,
    "txt_quality"              -> TextOps.qualityScore _,
    "txt_langid"               -> TextOps.langId _,
    "txt_fingerprint"          -> TextOps.fingerprint _,
    "txt_tfidf_top"            -> TextOps.tfidfTopTerms _,
    "txt_sql_fingerprint"      -> TextOps.sqlFingerprint _,
    "txt_mixture_sample"       -> TextOps.mixtureSample _,
    "txt_stratified_sample"    -> TextOps.stratifiedSample _,
    "txt_weighted_sample"      -> ((s: SparkSession, d: String) => TextOps.weightedSample(s, d)),
    "txt_collocations"         -> ((s: SparkSession, d: String) => TextOps.collocations(s, d)),
    "pipe_curriculum"          -> TextOps.curriculumMixture _,
    "txt_rarity"               -> TextOps.rarityScore _,
    "txt_redact_pii"           -> TextOps.redactPii _,
    "txt_repetition"           -> TextOps.repetitionScore _,
    "txt_classifier_score"     -> TextOps.classifierScore _,
    "txt_classifier_trained"   -> TextOps.classifierScoreTrained _,
    "txt_classifier_pr"        -> ((s: SparkSession, d: String) => TextOps.classifierPr(s, d)),
    "txt_readability"          -> TextOps.readability _,
    "txt_gopher_rules"         -> TextOps.gopherRules _,
    "pipe_k_anonymity"         -> ((s: SparkSession, d: String) => TextOps.kAnonymize(s, d)),
    "sim_bitext_mine"          -> SimilarityOps.bitextMine _,
    "txt_epoch_repeat"         -> TextOps.epochRepeat _,
    "pipe_curation"            -> TextOps.curateCorpus _,
    "pipe_source_blocklist"    -> TextOps.sourceBlocklistSurvivors _,
    "pipe_training_corpus"     -> ((s: SparkSession, d: String) => TextOps.trainingCorpusDecision(s, d)),
    "pipe_shard_export"        -> ((s: SparkSession, d: String) => TextOps.shardExport(s, d)),
    "pipe_shard_rebalance"     -> ((s: SparkSession, d: String) => TextOps.shardRebalance(s, d)),
    "pipe_split_groups"        -> ((s: SparkSession, d: String) => TextOps.trainValSplit(s, d)),
    "txt_term_drift"           -> ((s: SparkSession, d: String) => TextOps.termDrift(s, d)),
    "txt_chunks"               -> ((s: SparkSession, d: String) => TextOps.chunkDocs(s, d)),
    "txt_cms_terms"            -> TextOps.cmsTermCounts _,
    "txt_bpe_pairs"            -> ((s: SparkSession, d: String) => TextOps.bpePairStats(s, d)),
    "txt_bpe_merges"           -> ((s: SparkSession, d: String) => TextOps.bpeMerges(s, d)),
    "txt_cdc_chunks"           -> TextOps.cdcChunks _,
    "txt_bpe_encode"           -> TextOps.bpeEncode _,
    "txt_bpe_fertility"        -> TextOps.bpeFertility _,
    "txt_zipf_fit"             -> ((s: SparkSession, d: String) => TextOps.zipfFit(s, d)),
    "txt_good_turing"          -> ((s: SparkSession, d: String) => TextOps.goodTuring(s, d)),
    "txt_textrank"             -> ((s: SparkSession, d: String) => TextOps.textrankKeywords(s, d)),
    "txt_l_diversity"          -> ((s: SparkSession, d: String) => TextOps.lDiversity(s, d)),
    "txt_winnowing"            -> ((s: SparkSession, d: String) => TextOps.winnowing(s, d)),
    "txt_doremi_step"          -> ((s: SparkSession, d: String) => TextOps.doremiStep(s, d)),
    "txt_bigram_lm"            -> ((s: SparkSession, d: String) => TextOps.bigramLmCounts(s, d)),
    "txt_kneser_ney"           -> ((s: SparkSession, d: String) => TextOps.kneserNeyBigrams(s, d)),
    "txt_lm_surprisal"         -> TextOps.lmSurprisal _,
    "txt_lm_from_stats"        -> TextOps.lmSurprisalFromStats _,
    "txt_perplexity_buckets"   -> TextOps.perplexityBuckets _,
    "txt_dsir_weights"         -> ((s: SparkSession, d: String) => TextOps.dsirWeights(s, d)),
    "txt_oov_rate"             -> ((s: SparkSession, d: String) => TextOps.oovRate(s, d)),
    "txt_entropy"              -> TextOps.wordEntropy _,
    "txt_temperature_mix"      -> TextOps.temperatureMixture _,
    "txt_domain_cap"           -> ((s: SparkSession, d: String) => TextOps.domainCap(s, d)),
    "pipe_pack_sequences"      -> ((s: SparkSession, d: String) => TextOps.packSequences(s, d)),
    "pipe_rag_context"         -> ((s: SparkSession, d: String) => TextOps.ragContext(s, d)),
    "pipe_dataset_card"        -> TextOps.datasetCard _,
    "pipe_corpus_diff"         -> TextOps.corpusDiff _,
    "pipe_shuffle_order"       -> ((s: SparkSession, d: String) => TextOps.shuffleOrder(s, d)),
    "txt_heavy_hitters"        -> ((s: SparkSession, d: String) => TextOps.heavyHitters(s, d)),
    "txt_ngram_novelty"        -> ((s: SparkSession, d: String) => TextOps.ngramNovelty(s, d)),
    // --- dedup ladder (LLM-pipeline EXT; generalizes reference O7) ---
    "dd_exact"                 -> DedupOps.exactDups _,
    "dd_url_canonical"         -> DedupOps.urlCanonicalDups _,
    "dd_ngram_jaccard"         -> DedupOps.ngramJaccardPairs _,
    "dd_containment"           -> DedupOps.containmentPairs _,
    "dd_minhash_oph"           -> ((s: SparkSession, d: String) => DedupOps.minhashOph(s, d)),
    "dd_minhash_jaccard_est"   -> DedupOps.minhashJaccardEst _,
    "dd_minhash_lsh"           -> DedupOps.minhashLsh _,
    "dd_published_pairs"       -> DedupOps.publishedPairs _,
    "dd_minhash_band_sweep"    -> DedupOps.minhashBandSweep _,
    "dd_simhash"               -> DedupOps.simhash _,
    "dd_simhash_pairs"         -> DedupOps.simhashPairs _,
    "dd_contamination"         -> DedupOps.contamination _,
    "dd_contamination_bloom"   -> DedupOps.contaminationBloom _,
    "dd_dup_clusters"          -> DedupOps.dupClusters _,
    "dd_incremental"           -> DedupOps.incrementalDedup _,
    "dd_exact_substr"          -> DedupOps.exactSubstrDedup _,
    "dd_span_audit"            -> DedupOps.spanAudit _,
    "dd_block_dedup"           -> ((s: SparkSession, d: String) => DedupOps.blockDedup(s, d)),
    "dd_record_linkage"        -> DedupOps.recordLinkage _,
    "dd_linkage_block_sweep"   -> DedupOps.linkageBlockSweep _,
    "dd_soft_dedup"            -> DedupOps.softDedupWeights _,
    "dd_source_overlap"        -> DedupOps.sourceOverlapMatrix _,
    "dd_lsh_quality"           -> DedupOps.lshQuality _,
    "dd_pipeline_survivors"    -> DedupOps.dedupSurvivors _,
    // --- similarity search over embeddings (LLM-pipeline EXT) ---
    "sim_brute_topk"           -> SimilarityOps.bruteForceTopK _,
    "sim_hard_negatives"       -> SimilarityOps.hardNegatives _,
    "sim_mmr_rerank"           -> ((s: SparkSession, d: String) => SimilarityOps.mmrRerank(s, d)),
    "sim_lsh_ann"              -> ((s: SparkSession, d: String) => SimilarityOps.lshAnnTopK(s, d)),
    "sim_ivf_ann"              -> ((s: SparkSession, d: String) => SimilarityOps.ivfAnnTopK(s, d)),
    "sim_recall"               -> SimilarityOps.annRecall _,
    "sim_bits_sweep"           -> ((s: SparkSession, d: String) => SimilarityOps.bitsSweep(s, d)),
    "sim_mrr"                  -> SimilarityOps.annMrr _,
    "sim_ndcg"                 -> SimilarityOps.annNdcg _,
    "sim_hybrid_rrf"           -> SimilarityOps.hybridRrf _,
    "sim_matryoshka_recall"    -> ((s: SparkSession, d: String) => SimilarityOps.matryoshkaRecall(s, d)),
    "sim_training_triplets"    -> ((s: SparkSession, d: String) => SimilarityOps.trainingTriplets(s, d)),
    "dd_emb_neardup"           -> SimilarityOps.embeddingNearDups _,
    "dd_semantic"              -> ((s: SparkSession, d: String) => SimilarityOps.semanticDedup(s, d)),
    "sim_quantize_int8"        -> SimilarityOps.quantizeInt8 _,
    "sim_kmeans_step"          -> ((s: SparkSession, d: String) => SimilarityOps.kmeansStep(s, d)),
    "sim_silhouette"           -> ((s: SparkSession, d: String) => SimilarityOps.silhouette(s, d)),
    "sim_cluster_purity"       -> ((s: SparkSession, d: String) => SimilarityOps.clusterPurity(s, d)),
    "sim_int8_topk"            -> SimilarityOps.int8TopK _,
    "sim_binary_hamming"       -> SimilarityOps.binaryHammingTopK _,
    "sim_knn_graph"            -> ((s: SparkSession, d: String) => SimilarityOps.knnGraphIndex(s, d)),
    "sim_sparse_topk"          -> ((s: SparkSession, d: String) => TextOps.sparseRelatedDocs(s, d)),
    "sim_pq_codes"             -> SimilarityOps.pqCodes _,
    "sim_rq_codes"             -> SimilarityOps.rqCodes _,
    "sim_graph_search"         -> ((s: SparkSession, d: String) => SimilarityOps.graphSearchTopK(s, d)),
    "sim_lsh_multiprobe"       -> ((s: SparkSession, d: String) => SimilarityOps.lshMultiprobeRecall(s, d)),
    "sim_pq_recall"            -> SimilarityOps.pqRecall _,
    "sim_ivf_pq"               -> ((s: SparkSession, d: String) => SimilarityOps.ivfPqTopK(s, d)),
    "sim_ivf_pq_rerank"        -> ((s: SparkSession, d: String) => SimilarityOps.ivfPqRerank(s, d)),
    // --- multimodal binary plumbing (LLM-pipeline EXT; decode stubbed) ---
    "mm_binary_stats"          -> MultimodalOps.binaryStats _,
    "mm_patchify"              -> MultimodalOps.patchify _,
    "mm_dhash_pairs"           -> ((s: SparkSession, d: String) => MultimodalOps.dhashPairs(s, d)),
    "mm_dhash_px_pairs"        -> ((s: SparkSession, d: String) => MultimodalOps.dhashPxPairs(s, d)),
    "mm_dhash_inflate_pairs"   -> ((s: SparkSession, d: String) => MultimodalOps.dhashInflatePairs(s, d)),
    "mm_dhash_px_file"         -> ((s: SparkSession, d: String) => MultimodalOps.dhashPxFilePairs(s, d)),
    "mm_dhash_inflate_file"    -> ((s: SparkSession, d: String) => MultimodalOps.dhashInflateFilePairs(s, d)),
    "mm_wav_fp_file"           -> ((s: SparkSession, d: String) => MultimodalOps.wavFpFilePairs(s, d)),
    "mm_wav_fp_pairs"          -> ((s: SparkSession, d: String) => MultimodalOps.wavFpPairs(s, d)),
    "mm_gif_header"            -> MultimodalOps.gifHeaderDecode _,
    "mm_decode_features"       -> MultimodalOps.decodeFeatures _,
    "mm_png_ihdr"              -> MultimodalOps.pngIhdrDecode _,
    "mm_wav_header"            -> MultimodalOps.wavHeaderDecode _,
    "mm_jpeg_sof"              -> MultimodalOps.jpegSofDecode _,
    "mm_wav_pcm_stats"         -> MultimodalOps.wavPcmStats _,
    "mm_mp4_boxes"             -> MultimodalOps.mp4BoxDecode _,
    "mm_frame_sample"          -> MultimodalOps.frameSample _,
  )

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops.
    * Aliased entries (queries whose CONTRACT is result-identity with
    * another registered query — e.g. the durable-catalog serving path)
    * share the base entry's SQL verbatim below the literal. */
  def oracleSql: Map[String, String] = oracleSqlBase +
    // publication must not change results: the published-signature
    // serving path returns dd_minhash_lsh's exact verified pair set
    ("dd_published_pairs" -> oracleSqlBase("dd_minhash_lsh")) +
    // the file round-trip must not change results: the binaryFile
    // tiers read byte-identical payloads back off disk
    ("mm_dhash_px_file" -> oracleSqlBase("mm_dhash_px_pairs")) +
    ("mm_dhash_inflate_file" -> oracleSqlBase("mm_dhash_inflate_pairs")) +
    ("mm_wav_fp_file" -> oracleSqlBase("mm_wav_fp_pairs")) +
    // serving the LM through the durable stats store must not change
    // a single scored bit
    ("txt_lm_from_stats" -> oracleSqlBase("txt_lm_surprisal"))

  private lazy val oracleSqlBase: Map[String, String] = Map(
    "rel_pricing_summary" ->
      """SELECT l_returnflag, l_linestatus,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_qty,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS sum_base_price,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l_discount AS DECIMAL(12,2)))) AS DOUBLE) AS sum_disc_price,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l_discount AS DECIMAL(12,2))) * (1 + CAST(l_tax AS DECIMAL(12,2)))) AS DOUBLE) AS sum_charge,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE)/COUNT(*) AS avg_qty,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE)/COUNT(*) AS avg_price,
        |  CAST(SUM(CAST(l_discount AS DECIMAL(12,2))) AS DOUBLE)/COUNT(*) AS avg_disc,
        |  COUNT(*) AS count_order
        |FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02'
        |GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin,
    "rel_shipping_priority" ->
      """SELECT l_orderkey, o_orderdate, o_orderpriority,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l_discount AS DECIMAL(12,2)))) AS DOUBLE) AS revenue
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |WHERE c_mktsegment = 'BUILDING'
        |  AND o_orderdate < TIMESTAMP '1998-01-01'
        |  AND l_shipdate > TIMESTAMP '1998-01-01'
        |GROUP BY l_orderkey, o_orderdate, o_orderpriority
        |ORDER BY revenue DESC, l_orderkey LIMIT 10""".stripMargin,
    // SQL-entry Q10 shape: same decimal discipline as rel_region_revenue
    "rel_sql_returned_items" ->
      """SELECT c_custkey, c_name, n_name,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l_discount AS DECIMAL(12,2)))) AS DOUBLE) AS revenue
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |WHERE l_returnflag = 'R'
        |  AND o_orderdate >= TIMESTAMP '1997-10-01'
        |  AND o_orderdate < TIMESTAMP '1998-01-01'
        |GROUP BY c_custkey, c_name, n_name
        |ORDER BY revenue DESC, c_custkey
        |LIMIT 20""".stripMargin,
    // Q21-shape: correlated EXISTS + NOT EXISTS, decorrelated to
    // semi/anti joins on l_orderkey with the <> residual
    "rel_sql_waiting_suppliers" ->
      """SELECT s_name, COUNT(*) AS numwait
        |FROM supplier, lineitem l1, orders
        |WHERE s_suppkey = l1.l_suppkey
        |  AND o_orderkey = l1.l_orderkey
        |  AND o_orderstatus = 'F'
        |  AND l1.l_returnflag = 'R'
        |  AND EXISTS (
        |    SELECT 1 FROM lineitem l2
        |    WHERE l2.l_orderkey = l1.l_orderkey
        |      AND l2.l_suppkey <> l1.l_suppkey)
        |  AND NOT EXISTS (
        |    SELECT 1 FROM lineitem l3
        |    WHERE l3.l_orderkey = l1.l_orderkey
        |      AND l3.l_suppkey <> l1.l_suppkey
        |      AND l3.l_returnflag = 'R')
        |GROUP BY s_name
        |ORDER BY numwait DESC, s_name
        |LIMIT 20""".stripMargin,
    // Q2-shape: correlated scalar MIN, decorrelated to a per-key
    // aggregate + equi-join
    "rel_sql_min_price_part" ->
      """SELECT p_partkey, p_brand, l_suppkey, l_orderkey, l_linenumber,
        |       l_extendedprice AS min_price
        |FROM part, lineitem
        |WHERE l_partkey = p_partkey
        |  AND p_size >= 45
        |  AND l_extendedprice = (
        |    SELECT MIN(l2.l_extendedprice) FROM lineitem l2
        |    WHERE l2.l_partkey = p_partkey)
        |ORDER BY p_partkey, l_suppkey, l_orderkey, l_linenumber""".stripMargin,
    // Q15-shape: uncorrelated scalar MAX over a derived aggregate view
    "rel_sql_top_supplier" ->
      """WITH revenue AS (
        |  SELECT l_suppkey AS supplier_no,
        |    SUM(CAST(l_extendedprice AS DECIMAL(12,2))
        |        * (1 - CAST(l_discount AS DECIMAL(12,2)))) AS total_revenue
        |  FROM lineitem GROUP BY l_suppkey)
        |SELECT s_suppkey, s_name,
        |  CAST(total_revenue AS DOUBLE) AS total_revenue
        |FROM supplier, revenue
        |WHERE s_suppkey = supplier_no
        |  AND total_revenue = (SELECT MAX(total_revenue) FROM revenue)
        |ORDER BY s_suppkey""".stripMargin,
    // Q7-shape: six-relation join with the bidirectional nation OR
    "rel_sql_nation_volume" ->
      """SELECT supp_nation, cust_nation, l_year, CAST(SUM(volume) AS DOUBLE) AS revenue
        |FROM (
        |  SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
        |    CAST(year(l_shipdate) AS BIGINT) AS l_year,
        |    CAST(l_extendedprice AS DECIMAL(12,2))
        |      * (1 - CAST(l_discount AS DECIMAL(12,2))) AS volume
        |  FROM supplier, lineitem, orders, customer, nation n1, nation n2
        |  WHERE s_suppkey = l_suppkey AND o_orderkey = l_orderkey
        |    AND c_custkey = o_custkey AND s_nationkey = n1.n_nationkey
        |    AND c_nationkey = n2.n_nationkey
        |    AND ((n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
        |      OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1'))) shipping
        |GROUP BY supp_nation, cust_nation, l_year
        |ORDER BY supp_nation, cust_nation, l_year""".stripMargin,
    // Q8-shape: eight-relation join + conditional-aggregate ratio
    "rel_sql_mkt_share" ->
      """SELECT o_year,
        |  CAST(SUM(CASE WHEN nation = 'NATION_1' THEN volume ELSE 0 END) AS DOUBLE)
        |    / CAST(SUM(volume) AS DOUBLE) AS mkt_share
        |FROM (
        |  SELECT CAST(year(o_orderdate) AS BIGINT) AS o_year,
        |    CAST(l_extendedprice AS DECIMAL(12,2))
        |      * (1 - CAST(l_discount AS DECIMAL(12,2))) AS volume,
        |    n2.n_name AS nation
        |  FROM part, supplier, lineitem, orders, customer,
        |    nation n1, nation n2, region
        |  WHERE p_partkey = l_partkey AND s_suppkey = l_suppkey
        |    AND l_orderkey = o_orderkey AND o_custkey = c_custkey
        |    AND c_nationkey = n1.n_nationkey AND n1.n_regionkey = r_regionkey
        |    AND r_name = 'EUROPE' AND s_nationkey = n2.n_nationkey
        |    AND p_type = 'PROMO') all_nations
        |GROUP BY o_year ORDER BY o_year""".stripMargin,
    // Q9-shape: part-name fan-through profit (0.1*retailprice stands in
    // for the absent ps_supplycost; the join structure is the exercise)
    "rel_sql_product_profit" ->
      """SELECT nation, o_year, CAST(SUM(amount) AS DOUBLE) AS sum_profit
        |FROM (
        |  SELECT n_name AS nation, CAST(year(o_orderdate) AS BIGINT) AS o_year,
        |    CAST(l_extendedprice AS DECIMAL(12,2))
        |      * (1 - CAST(l_discount AS DECIMAL(12,2)))
        |      - CAST(p_retailprice AS DECIMAL(12,2)) * CAST(0.1 AS DECIMAL(3,1))
        |        * CAST(l_quantity AS DECIMAL(12,2)) AS amount
        |  FROM part, supplier, lineitem, orders, nation
        |  WHERE s_suppkey = l_suppkey AND p_partkey = l_partkey
        |    AND o_orderkey = l_orderkey AND s_nationkey = n_nationkey
        |    AND p_name LIKE '%red%') profit
        |GROUP BY nation, o_year ORDER BY nation, o_year""".stripMargin,
    // Q4-shape: correlated EXISTS with a non-equi residual -> LEFT SEMI
    "rel_sql_order_priority" ->
      """SELECT o_orderpriority, COUNT(*) AS order_count
        |FROM orders
        |WHERE o_orderdate >= TIMESTAMP '1997-01-01'
        |  AND o_orderdate < TIMESTAMP '1997-04-01'
        |  AND EXISTS (
        |    SELECT 1 FROM lineitem
        |    WHERE l_orderkey = o_orderkey AND l_shipdate > o_orderdate)
        |GROUP BY o_orderpriority
        |ORDER BY o_orderpriority""".stripMargin,
    // Q13-shape: outer join with non-key predicate in the ON clause,
    // count-including-zeros distribution
    "rel_sql_cust_distribution" ->
      """SELECT c_count, COUNT(*) AS custdist
        |FROM (
        |  SELECT c_custkey, COUNT(o_orderkey) AS c_count
        |  FROM customer LEFT OUTER JOIN orders
        |    ON c_custkey = o_custkey AND o_orderpriority <> '1-URGENT'
        |  GROUP BY c_custkey) c_orders
        |GROUP BY c_count
        |ORDER BY custdist DESC, c_count DESC""".stripMargin,
    // Q14-shape: conditional-aggregate ratio, decimal-exact until the
    // single final division
    "rel_sql_promo_revenue" ->
      """SELECT CAST(SUM(CASE WHEN p_type = 'PROMO' THEN volume ELSE 0 END) AS DOUBLE)
        |     / CAST(SUM(volume) AS DOUBLE) AS promo_share
        |FROM (
        |  SELECT p_type,
        |    CAST(l_extendedprice AS DECIMAL(12,2))
        |      * (1 - CAST(l_discount AS DECIMAL(12,2))) AS volume
        |  FROM lineitem, part
        |  WHERE l_partkey = p_partkey
        |    AND l_shipdate >= TIMESTAMP '1997-09-01'
        |    AND l_shipdate < TIMESTAMP '1997-10-01') promo""".stripMargin,
    // Q17-shape: correlated scalar AVG (count-bug decorrelation path);
    // integral quantities keep the AVG order-independent-exact
    "rel_sql_small_qty_revenue" ->
      """SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) / 7.0
        |       AS avg_yearly
        |FROM lineitem, part
        |WHERE p_partkey = l_partkey
        |  AND p_brand = 'Brand#3' AND p_type = 'PROMO'
        |  AND l_quantity < 0.2 * (
        |    SELECT AVG(l2.l_quantity) FROM lineitem l2
        |    WHERE l2.l_partkey = p_partkey)""".stripMargin,
    // Q19-shape: OR-of-ANDs join condition; the common equi-conjunct is
    // factored out of the disjunction by both planners
    "rel_sql_disjunctive" ->
      """SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))
        |                * (1 - CAST(l_discount AS DECIMAL(12,2)))) AS DOUBLE)
        |       AS revenue
        |FROM lineitem, part
        |WHERE (p_partkey = l_partkey AND p_brand = 'Brand#12'
        |       AND p_size BETWEEN 1 AND 15 AND l_quantity BETWEEN 1 AND 11)
        |   OR (p_partkey = l_partkey AND p_brand = 'Brand#23'
        |       AND p_size BETWEEN 1 AND 25 AND l_quantity BETWEEN 10 AND 20)
        |   OR (p_partkey = l_partkey AND p_brand = 'Brand#24'
        |       AND p_size BETWEEN 1 AND 35 AND l_quantity BETWEEN 20 AND 30)""".stripMargin,
    // Q6-shape: pure scan + pushdown probe, 1-row decimal-exact answer
    "rel_sql_simple_revenue" ->
      """SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))
        |                * CAST(l_discount AS DECIMAL(12,2))) AS DOUBLE) AS revenue
        |FROM lineitem
        |WHERE l_shipdate >= TIMESTAMP '1997-01-01'
        |  AND l_shipdate < TIMESTAMP '1998-01-01'
        |  AND l_discount BETWEEN 0.05 AND 0.07
        |  AND l_quantity < 24""".stripMargin,
    // Q11-shape: HAVING gated by an uncorrelated scalar aggregate,
    // exact-decimal threshold comparison
    "rel_sql_important_stock" ->
      """SELECT l_partkey,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))
        |           * CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS stock_value
        |FROM lineitem
        |GROUP BY l_partkey
        |HAVING SUM(CAST(l_extendedprice AS DECIMAL(12,2))
        |           * CAST(l_quantity AS DECIMAL(12,2)))
        |       * (SELECT COUNT(DISTINCT l_partkey) FROM lineitem) * 2 > (
        |  SELECT SUM(CAST(l_extendedprice AS DECIMAL(12,2))
        |             * CAST(l_quantity AS DECIMAL(12,2))) * 3
        |  FROM lineitem)
        |ORDER BY stock_value DESC, l_partkey""".stripMargin,
    // Q16-shape: NOT IN over a subquery -> null-aware anti join
    "rel_sql_parts_suppliers" ->
      """SELECT p_brand, p_type, p_size, COUNT(DISTINCT l_suppkey) AS supplier_cnt
        |FROM part, lineitem
        |WHERE p_partkey = l_partkey
        |  AND p_brand <> 'Brand#1'
        |  AND p_type <> 'PROMO'
        |  AND p_size IN (1, 5, 9, 13, 17, 21, 25, 29)
        |  AND l_suppkey NOT IN (
        |    SELECT s_suppkey FROM supplier WHERE s_acctbal < 0.0)
        |GROUP BY p_brand, p_type, p_size
        |ORDER BY supplier_cnt DESC, p_brand, p_type, p_size""".stripMargin,
    // Q12-shape: conditional priority counts per derived ship-lag class
    "rel_sql_ship_lag_priority" ->
      """SELECT lag_class,
        |  CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
        |      THEN 1 ELSE 0 END) AS BIGINT) AS high_count,
        |  CAST(SUM(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
        |      THEN 1 ELSE 0 END) AS BIGINT) AS low_count
        |FROM (
        |  SELECT o_orderpriority,
        |    CASE WHEN date_diff('day', o_orderdate, l_shipdate) <= 30 THEN 'fast'
        |         WHEN date_diff('day', o_orderdate, l_shipdate) <= 90 THEN 'medium'
        |         ELSE 'slow' END AS lag_class
        |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey) x
        |GROUP BY lag_class
        |ORDER BY lag_class""".stripMargin,
    // Q20-shape: IN over an aggregate-with-HAVING subquery -> semi join
    // against the pre-collapsed group table
    "rel_sql_excess_suppliers" ->
      """SELECT s_suppkey, s_name
        |FROM supplier
        |WHERE s_suppkey IN (
        |  SELECT l_suppkey FROM lineitem, part
        |  WHERE l_partkey = p_partkey AND p_name LIKE '%red%'
        |  GROUP BY l_suppkey, l_partkey
        |  HAVING SUM(l_quantity) > 50)
        |ORDER BY s_suppkey""".stripMargin,
    // Q22-shape: scalar-subquery pair + NOT EXISTS anti join; the
    // above-average test is bal*n > s in exact decimals, never a float AVG
    "rel_sql_global_sales" ->
      """WITH pos AS (
        |  SELECT COUNT(*) AS n, SUM(CAST(c_acctbal AS DECIMAL(12,2))) AS s
        |  FROM customer WHERE c_acctbal > 0.0)
        |SELECT cntrycode, COUNT(*) AS numcust,
        |       CAST(SUM(bal) AS DOUBLE) AS totacctbal
        |FROM (
        |  SELECT SUBSTRING(c_name, LENGTH(c_name) - 1, 2) AS cntrycode,
        |         CAST(c_acctbal AS DECIMAL(12,2)) AS bal
        |  FROM customer
        |  WHERE CAST(c_acctbal AS DECIMAL(12,2)) * (SELECT n FROM pos)
        |        > (SELECT s FROM pos)
        |    AND NOT EXISTS (
        |      SELECT 1 FROM orders
        |      WHERE o_custkey = c_custkey
        |        AND o_orderdate >= TIMESTAMP '2000-01-01')) custsale
        |GROUP BY cntrycode
        |ORDER BY cntrycode""".stripMargin,
    "rel_region_revenue" ->
      """SELECT r_name, n_name,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l_discount AS DECIMAL(12,2)))) AS DOUBLE) AS revenue
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |WHERE o_orderdate >= TIMESTAMP '1997-01-01' AND o_orderdate < TIMESTAMP '1999-01-01'
        |GROUP BY r_name, n_name ORDER BY r_name, n_name""".stripMargin,
    "rel_semi_join_open_orders" ->
      """SELECT c_custkey, c_name, c_mktsegment FROM customer
        |WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey AND o_orderstatus = 'O')
        |ORDER BY c_custkey""".stripMargin,
    "rel_anti_join_no_orders" ->
      """SELECT c_custkey, c_name, c_acctbal FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey AND o_orderstatus = 'P')
        |ORDER BY c_custkey""".stripMargin,
    "rel_window_topk_parts" ->
      """SELECT p_brand, p_partkey, p_name, p_retailprice, rn FROM (
        |  SELECT p_brand, p_partkey, p_name, p_retailprice,
        |    row_number() OVER (PARTITION BY p_brand ORDER BY p_retailprice DESC, p_partkey) AS rn
        |  FROM part) t
        |WHERE rn <= 3 ORDER BY p_brand, rn""".stripMargin,
    "rel_orders_by_month" ->
      """SELECT date_trunc('month', o_orderdate) AS order_month, o_orderpriority,
        |  COUNT(*) AS order_count,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS sum_total
        |FROM orders GROUP BY 1, 2 ORDER BY order_month, o_orderpriority""".stripMargin,
    "rel_rollup_customers" ->
      """SELECT r_name, n_name, COUNT(*) AS n_customers,
        |  CAST(SUM(CAST(c_acctbal AS DECIMAL(12,2))) AS DOUBLE) AS sum_acctbal
        |FROM customer
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |GROUP BY ROLLUP (r_name, n_name)
        |ORDER BY r_name NULLS FIRST, n_name NULLS FIRST""".stripMargin,
    "rel_top_orders" ->
      """SELECT o_orderkey, o_custkey, CAST(CAST(o_totalprice AS DECIMAL(12,2)) AS DOUBLE) AS total
        |FROM orders ORDER BY total DESC, o_orderkey LIMIT 10""".stripMargin,
    "rel_intersect_customers" ->
      """SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'
        |INTERSECT
        |SELECT c_custkey FROM customer WHERE c_acctbal > 5000
        |ORDER BY c_custkey""".stripMargin,
    "rel_range_join_ship_lag" ->
      """SELECT l_orderkey, COUNT(*) AS n_quick_lines
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |  AND l_shipdate >= o_orderdate
        |  AND l_shipdate <= o_orderdate + INTERVAL 30 DAY
        |GROUP BY l_orderkey ORDER BY l_orderkey""".stripMargin,
    "rel_above_brand_avg" ->
      """SELECT p_partkey, p_brand, p_retailprice FROM (
        |  SELECT p_partkey, p_brand, p_retailprice,
        |    COUNT(*) OVER (PARTITION BY p_brand) AS cnt,
        |    SUM(CAST(p_retailprice AS DECIMAL(12,2))) OVER (PARTITION BY p_brand) AS s
        |  FROM part) t
        |WHERE CAST(p_retailprice AS DECIMAL(12,2)) * cnt > s
        |ORDER BY p_partkey""".stripMargin,
    "rel_cube_orders" ->
      """SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n_orders,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS sum_total
        |FROM orders GROUP BY CUBE (o_orderstatus, o_orderpriority)
        |ORDER BY o_orderstatus NULLS FIRST, o_orderpriority NULLS FIRST""".stripMargin,
    "rel_grouping_sets" ->
      """SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n_orders,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS sum_total
        |FROM orders
        |GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
        |ORDER BY o_orderstatus NULLS FIRST, o_orderpriority NULLS FIRST""".stripMargin,
    "rel_except_customers" ->
      """SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'
        |EXCEPT
        |SELECT c_custkey FROM customer WHERE c_acctbal > 5000
        |ORDER BY c_custkey""".stripMargin,
    "rel_distinct_custs" ->
      """SELECT o_orderstatus, COUNT(DISTINCT o_custkey) AS n_customers,
        |  COUNT(*) AS n_orders
        |FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin,
    "rel_upsert_merge" ->
      """WITH u AS (
        |  SELECT c_custkey AS u_custkey,
        |    CAST(CAST(c_acctbal AS DECIMAL(12,2)) AS DOUBLE) + 1000.0 AS u_acctbal,
        |    'UPDATED' AS u_mktsegment
        |  FROM customer WHERE c_custkey % 7 = 0)
        |SELECT c_custkey,
        |  COALESCE(u_acctbal, CAST(CAST(c_acctbal AS DECIMAL(12,2)) AS DOUBLE)) AS acctbal,
        |  COALESCE(u_mktsegment, c_mktsegment) AS mktsegment,
        |  u_custkey IS NOT NULL AS was_updated
        |FROM customer LEFT JOIN u ON c_custkey = u_custkey
        |ORDER BY c_custkey""".stripMargin,
    "rel_median_price" ->
      """SELECT p_brand, quantile_cont(p_retailprice, 0.5) AS median_price,
        |  COUNT(*) AS n_parts
        |FROM part GROUP BY p_brand ORDER BY p_brand""".stripMargin,
    "art_batch_report" ->
      """WITH n AS (
        |  SELECT doc_id, n_chars,
        |    CAST(row_number() OVER (ORDER BY doc_id) AS BIGINT) AS line_nb
        |  FROM documents)
        |SELECT CASE WHEN n_chars % 13 = 0 THEN 'error' ELSE 'ok' END AS outcome,
        |  COUNT(*) AS n, MIN(line_nb) AS first_line, MAX(line_nb) AS last_line
        |FROM n GROUP BY 1 ORDER BY outcome""".stripMargin,
    "evt_lead_next" ->
      """SELECT user_id, event_id,
        |  lead(event_type) OVER w AS next_type,
        |  (epoch_ms(lead(ts) OVER w) - epoch_ms(ts)) / 1000.0 AS secs_to_next
        |FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        |ORDER BY user_id, event_id""".stripMargin,
    // grouped fixed-grid quantile sketch: per-type grids, bounded bins
    "evt_quantile_by_type" ->
      """WITH stats AS (
        |  SELECT event_type, min(value) AS mn, max(value) AS mx, COUNT(*) AS n
        |  FROM events WHERE value IS NOT NULL GROUP BY event_type),
        |bins AS (
        |  SELECT e.event_type, CASE WHEN s.mx = s.mn THEN 0
        |    ELSE LEAST(CAST(floor((e.value - s.mn) / ((s.mx - s.mn) / 256)) AS BIGINT), 255)
        |    END AS bin, COUNT(*) AS cnt
        |  FROM events e JOIN stats s ON e.event_type = s.event_type
        |  WHERE e.value IS NOT NULL GROUP BY e.event_type, 2),
        |cum AS (
        |  SELECT event_type, bin, cnt,
        |    SUM(cnt) OVER (PARTITION BY event_type ORDER BY bin
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
        |  FROM bins),
        |ps AS (SELECT CAST(unnest([0.5, 0.95]) AS DOUBLE) AS p)
        |SELECT c.event_type, p.p AS p,
        |  CASE WHEN s.mx = s.mn THEN s.mn
        |    ELSE s.mn + ((s.mx - s.mn) / 256) *
        |      (c.bin + (p.p * s.n - (c.cum - c.cnt)) / c.cnt) END AS est
        |FROM ps p, cum c JOIN stats s ON c.event_type = s.event_type
        |WHERE c.cum >= p.p * s.n AND c.cum - c.cnt < p.p * s.n
        |ORDER BY c.event_type, p""".stripMargin,
    // gap sessionization: lag flag + running sum, per-session bounds
    "evt_sessionize_gap" ->
      """WITH x AS (
        |  SELECT user_id, event_id, epoch_ms(ts) AS ts_ms,
        |    epoch_ms(lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)) AS prev_ms
        |  FROM events),
        |f AS (
        |  SELECT user_id, event_id, ts_ms,
        |    CASE WHEN prev_ms IS NULL OR ts_ms - prev_ms > 1800000 THEN 1 ELSE 0 END AS new_s
        |  FROM x),
        |s AS (
        |  SELECT user_id, ts_ms,
        |    CAST(SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts_ms, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_nb
        |  FROM f)
        |SELECT user_id, session_nb, MIN(ts_ms) AS start_ms, MAX(ts_ms) AS end_ms,
        |  COUNT(*) AS n_events
        |FROM s GROUP BY user_id, session_nb
        |ORDER BY user_id, session_nb""".stripMargin,
    // interval-overlap join: the oracle is the brute theta join the
    // engine's bin-then-verify plan provably equals; promos synthesized
    // off the corpus min timestamp (12 one-day windows, every 2 days)
    "evt_promo_sessions" ->
      """WITH x AS (
        |  SELECT user_id, event_id, epoch_ms(ts) AS ts_ms,
        |    epoch_ms(lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)) AS prev_ms
        |  FROM events),
        |f AS (
        |  SELECT user_id, event_id, ts_ms,
        |    CASE WHEN prev_ms IS NULL OR ts_ms - prev_ms > 1800000 THEN 1 ELSE 0 END AS new_s
        |  FROM x),
        |s AS (
        |  SELECT user_id, ts_ms,
        |    CAST(SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts_ms, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_nb
        |  FROM f),
        |sess AS (
        |  SELECT user_id, session_nb, MIN(ts_ms) AS start_ms, MAX(ts_ms) AS end_ms
        |  FROM s GROUP BY user_id, session_nb),
        |lo AS (SELECT MIN(epoch_ms(ts)) AS lo FROM events),
        |promos AS (
        |  SELECT p AS promo_id, lo + p * 172800000 AS ps,
        |    lo + p * 172800000 + 86400000 AS pe
        |  FROM (SELECT unnest(range(0, 12)) AS p) z, lo)
        |SELECT user_id, session_nb, promo_id,
        |  LEAST(end_ms, pe - 1) - GREATEST(start_ms, ps) + 1 AS overlap_ms
        |FROM sess JOIN promos
        |  ON start_ms <= pe - 1 AND ps <= end_ms
        |ORDER BY user_id, session_nb, promo_id""".stripMargin,
    // seasonal-naive baseline: forecast(d) = actual(d-7); per
    // day-of-week MAE, integers except the one closing division
    "evt_seasonal_naive" ->
      """WITH daily AS (
        |  SELECT epoch_ms(ts) // 86400000 AS day,
        |    CAST(SUM(CAST(value AS DECIMAL(12,2)) * 100) AS BIGINT) AS cents
        |  FROM events WHERE event_type = 'purchase'
        |  GROUP BY 1)
        |SELECT a.day % 7 AS dow, COUNT(*) AS n_days,
        |  CAST(SUM(ABS(a.cents - f.cents)) AS BIGINT) AS total_abs_err_cents,
        |  CAST(CAST(SUM(ABS(a.cents - f.cents)) AS BIGINT) AS DOUBLE)
        |    / COUNT(*) AS mae_cents
        |FROM daily a JOIN daily f ON a.day = f.day + 7
        |GROUP BY 1 ORDER BY dow""".stripMargin,
    // Pareto/Lorenz: spend deciles ranked from the top, shares in exact
    // integer basis points off one total-cents denominator
    "evt_pareto" ->
      """WITH u AS (
        |  SELECT user_id,
        |    COALESCE(CAST(SUM(CAST(value AS DECIMAL(12,2)) * 100) AS BIGINT), 0) AS cents
        |  FROM events WHERE event_type = 'purchase' GROUP BY user_id),
        |t AS (SELECT COUNT(*) AS n_users, CAST(SUM(cents) AS BIGINT) AS tc FROM u),
        |r AS (SELECT cents,
        |    ((row_number() OVER (ORDER BY cents DESC, user_id) - 1) * 10)
        |      // n_users + 1 AS decile
        |  FROM u, t),
        |d AS (SELECT decile, COUNT(*) AS n_users_d,
        |    CAST(SUM(cents) AS BIGINT) AS cents_d
        |  FROM r GROUP BY decile)
        |SELECT decile, n_users_d, cents_d,
        |  cents_d * 10000 // tc AS share_bp,
        |  CAST(SUM(cents_d) OVER (ORDER BY decile
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
        |    * 10000 // tc AS cum_share_bp
        |FROM d, t ORDER BY decile""".stripMargin,
    // A/B readout: hash-assigned variants, exact-integer counts/rates,
    // z-squared as the identical IEEE expression tree both engines
    "evt_ab_test" ->
      """WITH a AS (
        |  SELECT user_id, event_type, value,
        |    CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT) AS cents,
        |    CASE WHEN (user_id * 2654435761) % 1000000007 % 2 = 0
        |      THEN 'A' ELSE 'B' END AS variant
        |  FROM events),
        |o AS (SELECT
        |    COUNT(DISTINCT CASE WHEN variant = 'A' THEN user_id END) AS users_a,
        |    COUNT(DISTINCT CASE WHEN variant <> 'A' THEN user_id END) AS users_b,
        |    COUNT(DISTINCT CASE WHEN variant = 'A' AND event_type = 'purchase'
        |      AND value > 95.0 THEN user_id END) AS conv_a,
        |    COUNT(DISTINCT CASE WHEN variant <> 'A' AND event_type = 'purchase'
        |      AND value > 95.0 THEN user_id END) AS conv_b,
        |    COALESCE(CAST(SUM(CASE WHEN variant = 'A' AND event_type = 'purchase'
        |      THEN cents END) AS BIGINT), 0) AS rev_a_cents,
        |    COALESCE(CAST(SUM(CASE WHEN variant <> 'A' AND event_type = 'purchase'
        |      THEN cents END) AS BIGINT), 0) AS rev_b_cents
        |  FROM a)
        |SELECT users_a, users_b, conv_a, conv_b, rev_a_cents, rev_b_cents,
        |  conv_a * 10000 // users_a AS conv_a_bp,
        |  conv_b * 10000 // users_b AS conv_b_bp,
        |  conv_b * 10000 // users_b - conv_a * 10000 // users_a AS lift_bp,
        |  CASE WHEN conv_a + conv_b = 0
        |         OR conv_a + conv_b = users_a + users_b THEN 0.0
        |  ELSE
        |  ((CAST(conv_a AS DOUBLE) / users_a - CAST(conv_b AS DOUBLE) / users_b)
        |    * (CAST(conv_a AS DOUBLE) / users_a - CAST(conv_b AS DOUBLE) / users_b))
        |  / ((CAST(conv_a + conv_b AS DOUBLE) / (users_a + users_b))
        |    * (1.0 - CAST(conv_a + conv_b AS DOUBLE) / (users_a + users_b))
        |    * (1.0 / users_a + 1.0 / users_b)) END AS z2
        |FROM o""".stripMargin,
    // SCD2 time-travel lookup: interval join against the versioned dim
    "evt_scd2_lookup" ->
      """WITH d0 AS (
        |  SELECT user_id, event_id, value, epoch_ms(ts) AS valid_from_ms,
        |    epoch_ms(lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)) AS valid_to_ms
        |  FROM events WHERE event_type = 'signup'),
        |f AS (SELECT event_id, user_id, epoch_ms(ts) AS ts_ms
        |      FROM events WHERE event_type = 'purchase')
        |SELECT f.event_id, f.user_id, f.ts_ms, d0.event_id AS dim_version,
        |  d0.value AS dim_value, d0.valid_from_ms
        |FROM f JOIN d0 ON f.user_id = d0.user_id
        |  AND f.ts_ms >= d0.valid_from_ms
        |  AND (d0.valid_to_ms IS NULL OR f.ts_ms < d0.valid_to_ms)
        |ORDER BY f.event_id""".stripMargin,
    // week-over-week change in floored basis points over weekly counts
    "evt_weekly_change" ->
      """WITH weekly AS (
        |  SELECT date_trunc('week', ts) AS wk, COUNT(*) AS n FROM events GROUP BY 1),
        |x AS (SELECT wk, n, lag(n) OVER (ORDER BY wk) AS prev_n FROM weekly)
        |SELECT epoch_ms(wk) AS week_ms, n, prev_n,
        |  CASE WHEN prev_n IS NOT NULL
        |    THEN CAST(FLOOR(10000.0 * (n - prev_n) / prev_n) AS BIGINT) END AS delta_bp
        |FROM x ORDER BY week_ms""".stripMargin,
    // MAD outliers: 3-MAD robust gate per type, exact medians
    "evt_mad_outliers" ->
      """WITH med AS (
        |  SELECT event_type, quantile_cont(value, 0.5) AS med
        |  FROM events WHERE value IS NOT NULL GROUP BY event_type),
        |dev AS (
        |  SELECT e.event_id, e.event_type, e.value, m.med,
        |    abs(e.value - m.med) AS adev
        |  FROM events e JOIN med m ON e.event_type = m.event_type
        |  WHERE e.value IS NOT NULL),
        |mad AS (
        |  SELECT event_type, quantile_cont(adev, 0.5) AS mad
        |  FROM dev GROUP BY event_type)
        |SELECT d.event_id, d.event_type, d.value, d.med, d.adev, m.mad
        |FROM dev d JOIN mad m ON d.event_type = m.event_type
        |WHERE d.adev > 3.0 * m.mad
        |ORDER BY d.event_id""".stripMargin,
    // funnel time-to-convert: per-transition latency stats off the
    // strictly-later first-qualifying step timestamps
    "evt_funnel_latency" ->
      """WITH t1 AS (
        |  SELECT user_id, MIN(ts) AS t1 FROM events
        |  WHERE event_type = 'view' GROUP BY user_id),
        |t2 AS (
        |  SELECT e.user_id, MIN(e.ts) AS t2, MIN(t1.t1) AS t1m
        |  FROM events e JOIN t1 ON e.user_id = t1.user_id
        |  WHERE e.event_type = 'click' AND e.ts > t1.t1
        |  GROUP BY e.user_id),
        |t3 AS (
        |  SELECT e.user_id, MIN(e.ts) AS t3, MIN(t2.t2) AS t2m
        |  FROM events e JOIN t2 ON e.user_id = t2.user_id
        |  WHERE e.event_type = 'purchase' AND e.ts > t2.t2
        |  GROUP BY e.user_id),
        |l2 AS (SELECT epoch_ms(t2) - epoch_ms(t1m) AS lat_ms FROM t2),
        |l3 AS (SELECT epoch_ms(t3) - epoch_ms(t2m) AS lat_ms FROM t3),
        |s2 AS (
        |  SELECT '1_view_to_click' AS transition, COUNT(*) AS n_users,
        |    MIN(lat_ms) AS min_ms, quantile_cont(lat_ms, 0.5) AS median_ms,
        |    MAX(lat_ms) AS max_ms,
        |    CAST(FLOOR(CAST(SUM(lat_ms) AS DOUBLE) / COUNT(*)) AS BIGINT) AS mean_ms_floor
        |  FROM l2),
        |s3 AS (
        |  SELECT '2_click_to_purchase' AS transition, COUNT(*) AS n_users,
        |    MIN(lat_ms) AS min_ms, quantile_cont(lat_ms, 0.5) AS median_ms,
        |    MAX(lat_ms) AS max_ms,
        |    CAST(FLOOR(CAST(SUM(lat_ms) AS DOUBLE) / COUNT(*)) AS BIGINT) AS mean_ms_floor
        |  FROM l3)
        |SELECT * FROM s2 UNION ALL SELECT * FROM s3 ORDER BY transition""".stripMargin,
    // Markov transitions: per-user lead pairs, row-conditional shares in
    // exact integer basis points (floor division)
    "evt_transition_matrix" ->
      """WITH s AS (
        |  SELECT event_type AS from_type,
        |    lead(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS to_type
        |  FROM events),
        |c AS (SELECT from_type, to_type, COUNT(*) AS n_transitions
        |      FROM s WHERE to_type IS NOT NULL GROUP BY from_type, to_type),
        |t AS (SELECT from_type, CAST(SUM(n_transitions) AS BIGINT) AS tot
        |      FROM c GROUP BY from_type)
        |SELECT c.from_type, to_type, n_transitions,
        |  CAST((10000 * n_transitions) // tot AS BIGINT) AS share_bp
        |FROM c JOIN t ON c.from_type = t.from_type
        |ORDER BY c.from_type, to_type""".stripMargin,
    // full-frame boundary picks; (ts, event_id) order makes ties deterministic
    "evt_first_last" ->
      """SELECT user_id, event_id,
        |  first_value(event_type) OVER w AS first_type,
        |  last_value(event_type) OVER w AS last_type,
        |  nth_value(event_type, 2) OVER w AS second_type
        |FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
        |  ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
        |ORDER BY user_id, event_id""".stripMargin,
    // DQ gate: one conditional-aggregate pass per table, FK as anti count
    "pipe_data_quality" ->
      """WITH o AS (SELECT COUNT(*) AS n_rows,
        |    COUNT(*) - COUNT(DISTINCT o_orderkey) AS pk_dup,
        |    SUM(CASE WHEN o_orderstatus NOT IN ('P','O','F') THEN 1 ELSE 0 END) AS status_dom,
        |    SUM(CASE WHEN o_orderdate >= TIMESTAMP '2000-01-01' THEN 1 ELSE 0 END) AS stale
        |  FROM orders),
        |fk AS (SELECT COUNT(*) AS v FROM orders
        |  WHERE o_custkey NOT IN (SELECT c_custkey FROM customer)),
        |li AS (SELECT COUNT(*) AS n_rows,
        |    SUM(CASE WHEN l_quantity NOT BETWEEN 1 AND 40 THEN 1 ELSE 0 END) AS qty_range
        |  FROM lineitem),
        |ev AS (SELECT COUNT(*) AS n_rows,
        |    SUM(CASE WHEN value < 0 THEN 1 ELSE 0 END) AS neg_value,
        |    SUM(CASE WHEN props IS NULL THEN 1 ELSE 0 END) AS null_props
        |  FROM events),
        |u AS (
        |  SELECT 'orders_pk_unique' AS check_name, n_rows, pk_dup AS n_violations FROM o
        |  UNION ALL SELECT 'orders_status_domain', n_rows, status_dom FROM o
        |  UNION ALL SELECT 'orders_fresh_before_2000', n_rows, stale FROM o
        |  UNION ALL SELECT 'orders_fk_customer', o.n_rows, fk.v FROM o, fk
        |  UNION ALL SELECT 'lineitem_qty_1_40', n_rows, qty_range FROM li
        |  UNION ALL SELECT 'events_value_nonneg', n_rows, neg_value FROM ev
        |  UNION ALL SELECT 'events_props_complete', n_rows, null_props FROM ev)
        |SELECT check_name, CAST(n_rows AS BIGINT) AS n_rows,
        |  CAST(n_violations AS BIGINT) AS n_violations,
        |  n_violations = 0 AS ok
        |FROM u ORDER BY check_name""".stripMargin,
    // SCD2: each change opens [valid_from, valid_to) closed by the next
    "evt_scd2_history" ->
      """SELECT user_id, event_id, value,
        |  epoch_ms(ts) AS valid_from_ms,
        |  epoch_ms(lead(ts) OVER w) AS valid_to_ms,
        |  lead(ts) OVER w IS NULL AS is_current
        |FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        |ORDER BY user_id, event_id""".stripMargin,
    // duration-weighted mean in exact cents*ms decimals, one final division
    "evt_time_weighted_avg" ->
      """WITH d AS (
        |  SELECT user_id,
        |    CAST(CAST(value AS DECIMAL(12,2)) * 100 AS DECIMAL(38,0)) AS cents,
        |    epoch_ms(lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id))
        |      - epoch_ms(ts) AS dur_ms
        |  FROM events)
        |SELECT user_id,
        |  CAST(SUM(cents * dur_ms) AS DOUBLE) / CAST(SUM(dur_ms) AS DOUBLE)
        |    / 100.0 AS tw_avg,
        |  CAST(SUM(dur_ms) AS BIGINT) AS total_ms
        |FROM d WHERE dur_ms IS NOT NULL
        |GROUP BY user_id ORDER BY user_id""".stripMargin,
    // key-hash universe: both sides filtered by the same predicate
    "rel_universe_sample" ->
      """SELECT c_custkey, c_mktsegment,
        |  COUNT(o_custkey) AS n_orders,
        |  COALESCE(CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE), 0.0)
        |    AS total_spend
        |FROM customer LEFT JOIN orders ON c_custkey = o_custkey
        |  AND (o_custkey * 2654435761) % 1000000007 % 100 < 20
        |WHERE (c_custkey * 2654435761) % 1000000007 % 100 < 20
        |GROUP BY c_custkey, c_mktsegment ORDER BY c_custkey""".stripMargin,
    // 2-sigma flags scale-free in HUGEINT: (n*x-S)^2 > 4*(n*Sxx-S^2)
    "evt_anomaly_2sigma" ->
      """WITH b AS (
        |  SELECT user_id, event_id,
        |    CAST(CAST(value AS DECIMAL(12,2)) * 100 AS HUGEINT) AS c
        |  FROM events),
        |w AS (
        |  SELECT user_id, event_id, c,
        |    CAST(COUNT(*) OVER u AS HUGEINT) AS n,
        |    CAST(SUM(c) OVER u AS HUGEINT) AS s,
        |    CAST(SUM(c * c) OVER u AS HUGEINT) AS sxx
        |  FROM b WINDOW u AS (PARTITION BY user_id))
        |SELECT user_id, event_id,
        |  (n*c - s) * (n*c - s) > 4 * (n*sxx - s*s) AS is_anomaly
        |FROM w ORDER BY user_id, event_id""".stripMargin,
    // CDC apply: last write wins per key, tombstones delete
    "evt_cdc_apply" ->
      """SELECT user_id, value AS current_value, n_changes FROM (
        |  SELECT user_id, value,
        |    row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn,
        |    CASE WHEN event_type = 'view' THEN 'D' ELSE 'U' END AS op,
        |    COUNT(*) OVER (PARTITION BY user_id) AS n_changes
        |  FROM events)
        |WHERE rn = 1 AND op = 'U' ORDER BY user_id""".stripMargin,
    // percent-of-total in integer basis points (cents*10000 // total_cents)
    "rel_revenue_share" ->
      """WITH per AS (
        |  SELECT o_orderpriority, SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS rev
        |  FROM orders GROUP BY o_orderpriority),
        |tot AS (SELECT SUM(rev) AS t FROM per)
        |SELECT o_orderpriority,
        |  CAST(rev AS DOUBLE) AS revenue,
        |  CAST(CAST(rev * 100 AS BIGINT) * 10000 // CAST(t * 100 AS BIGINT) AS BIGINT)
        |    AS share_bps
        |FROM per, tot ORDER BY o_orderpriority""".stripMargin,
    // COUNT(DISTINCT) OVER rewrite: first-occurrence flags, running sum
    "rel_window_distinct" ->
      """SELECT p_brand, p_partkey,
        |  CAST(SUM(first_occ) OVER (PARTITION BY p_brand
        |    ORDER BY p_retailprice DESC, p_partkey
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
        |    AS distinct_types_so_far
        |FROM (
        |  SELECT p_brand, p_partkey, p_retailprice,
        |    CASE WHEN row_number() OVER (PARTITION BY p_brand, p_type
        |      ORDER BY p_retailprice DESC, p_partkey) = 1
        |    THEN CAST(1 AS BIGINT) ELSE CAST(0 AS BIGINT) END AS first_occ
        |  FROM part)
        |ORDER BY p_brand, p_partkey""".stripMargin,
    // UNION ALL is the oracle's model of the single-Expand unpivot
    "rel_unpivot" ->
      """SELECT p_partkey, measure, val FROM (
        |  SELECT p_partkey, 'p_size' AS measure, CAST(p_size AS DOUBLE) AS val FROM part
        |  UNION ALL
        |  SELECT p_partkey, 'p_retailprice' AS measure, p_retailprice AS val FROM part)
        |ORDER BY p_partkey, measure""".stripMargin,
    // LATERAL correlated top-2 per order: DuckDB executes the same
    // LATERAL text natively; Spark decorrelates it to WindowGroupLimit
    "rel_sql_lateral_topk" ->
      """SELECT o.o_orderkey, t.l_linenumber, t.revenue
        |FROM orders o, LATERAL (
        |  SELECT l_linenumber,
        |         CAST(CAST(l_extendedprice AS DECIMAL(12,2))
        |              * (1 - CAST(l_discount AS DECIMAL(12,2))) AS DOUBLE) AS revenue
        |  FROM lineitem l
        |  WHERE l.l_orderkey = o.o_orderkey
        |  ORDER BY revenue DESC, l_linenumber LIMIT 2) t
        |WHERE o.o_orderstatus = 'P'
        |ORDER BY o_orderkey, l_linenumber""".stripMargin,
    // recursive-CTE subtree rollup: DuckDB executes the same WITH
    // RECURSIVE text natively; 8-ary forest => unique paths, so the
    // UNION ALL recursion emits each (anchor, node) exactly once
    "rel_sql_hierarchy" ->
      """WITH RECURSIVE sub(anchor, node, depth) AS (
        |  SELECT c_custkey, c_custkey, 0
        |  FROM customer WHERE c_custkey BETWEEN 1 AND 7
        |  UNION ALL
        |  SELECT s.anchor, c.c_custkey, s.depth + 1
        |  FROM sub s JOIN customer c
        |    ON CAST(FLOOR(c.c_custkey / 8) AS BIGINT) = s.node
        |   AND c.c_custkey > 7
        |)
        |SELECT sub.anchor, CAST(COUNT(*) AS BIGINT) AS n_nodes,
        |       CAST(MAX(sub.depth) AS BIGINT) AS max_depth,
        |       CAST(SUM(CAST(CAST(c.c_acctbal AS DECIMAL(12,2)) * 100 AS BIGINT))
        |            AS BIGINT) AS bal_cents
        |FROM sub JOIN customer c ON c.c_custkey = sub.node
        |GROUP BY sub.anchor
        |ORDER BY anchor""".stripMargin,
    // per-column profile: one row per column; min/max rendered as
    // strings (o_totalprice via DECIMAL(12,2) for fixed 2-dp text;
    // o_orderdate is midnight-aligned so both engines print
    // 'yyyy-MM-dd HH:mm:ss'); COUNT FILTER / COUNT DISTINCT are BIGINT
    "rel_table_profile" ->
      """WITH n AS (SELECT COUNT(*) AS n_rows FROM orders)
        |SELECT 'o_orderkey' AS col_name, n_rows,
        |  COUNT(*) FILTER (WHERE o_orderkey IS NULL) AS n_null,
        |  COUNT(DISTINCT o_orderkey) AS n_distinct,
        |  CAST(MIN(o_orderkey) AS VARCHAR) AS min_s,
        |  CAST(MAX(o_orderkey) AS VARCHAR) AS max_s
        |FROM orders, n GROUP BY n_rows
        |UNION ALL
        |SELECT 'o_custkey', n_rows,
        |  COUNT(*) FILTER (WHERE o_custkey IS NULL),
        |  COUNT(DISTINCT o_custkey),
        |  CAST(MIN(o_custkey) AS VARCHAR), CAST(MAX(o_custkey) AS VARCHAR)
        |FROM orders, n GROUP BY n_rows
        |UNION ALL
        |SELECT 'o_orderstatus', n_rows,
        |  COUNT(*) FILTER (WHERE o_orderstatus IS NULL),
        |  COUNT(DISTINCT o_orderstatus),
        |  MIN(o_orderstatus), MAX(o_orderstatus)
        |FROM orders, n GROUP BY n_rows
        |UNION ALL
        |SELECT 'o_totalprice', n_rows,
        |  COUNT(*) FILTER (WHERE o_totalprice IS NULL),
        |  COUNT(DISTINCT CAST(o_totalprice AS DECIMAL(12,2))),
        |  CAST(MIN(CAST(o_totalprice AS DECIMAL(12,2))) AS VARCHAR),
        |  CAST(MAX(CAST(o_totalprice AS DECIMAL(12,2))) AS VARCHAR)
        |FROM orders, n GROUP BY n_rows
        |UNION ALL
        |SELECT 'o_orderdate', n_rows,
        |  COUNT(*) FILTER (WHERE o_orderdate IS NULL),
        |  COUNT(DISTINCT o_orderdate),
        |  CAST(MIN(o_orderdate) AS VARCHAR), CAST(MAX(o_orderdate) AS VARCHAR)
        |FROM orders, n GROUP BY n_rows
        |UNION ALL
        |SELECT 'o_orderpriority', n_rows,
        |  COUNT(*) FILTER (WHERE o_orderpriority IS NULL),
        |  COUNT(DISTINCT o_orderpriority),
        |  MIN(o_orderpriority), MAX(o_orderpriority)
        |FROM orders, n GROUP BY n_rows
        |ORDER BY col_name""".stripMargin,
    // Benford first-digit screen: exact basis points, expectation as
    // precomputed integer constants — no float log10 in either engine
    "rel_benford" ->
      """WITH c0 AS (
        |  SELECT CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT)
        |    AS cents
        |  FROM orders),
        |c AS (SELECT cents FROM c0 WHERE cents > 0),
        |d AS (
        |  SELECT CAST(substr(CAST(cents AS VARCHAR), 1, 1) AS BIGINT) AS digit,
        |    COUNT(*) AS n
        |  FROM c GROUP BY 1),
        |t AS (SELECT CAST(SUM(n) AS BIGINT) AS total FROM d)
        |SELECT digit, n, n * 10000 // total AS obs_bp,
        |  CAST(CASE digit WHEN 1 THEN 3010 WHEN 2 THEN 1761 WHEN 3 THEN 1249
        |    WHEN 4 THEN 969 WHEN 5 THEN 792 WHEN 6 THEN 669 WHEN 7 THEN 580
        |    WHEN 8 THEN 512 ELSE 458 END AS BIGINT) AS exp_bp,
        |  ABS(n * 10000 // total -
        |    CASE digit WHEN 1 THEN 3010 WHEN 2 THEN 1761 WHEN 3 THEN 1249
        |      WHEN 4 THEN 969 WHEN 5 THEN 792 WHEN 6 THEN 669 WHEN 7 THEN 580
        |      WHEN 8 THEN 512 ELSE 458 END) AS dev_bp
        |FROM d, t ORDER BY digit""".stripMargin,
    // Deequ-style validation battery: one row per declared check
    "rel_constraint_suite" ->
      """WITH nr AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_rows FROM orders),
        |checks AS (
        |  SELECT 'o_orderkey_not_null' AS check_name,
        |    CAST(COUNT(CASE WHEN o_orderkey IS NULL THEN 1 END) AS BIGINT)
        |      AS n_violations FROM orders
        |  UNION ALL
        |  SELECT 'o_custkey_not_null',
        |    CAST(COUNT(CASE WHEN o_custkey IS NULL THEN 1 END) AS BIGINT)
        |  FROM orders
        |  UNION ALL
        |  SELECT 'o_orderdate_not_null',
        |    CAST(COUNT(CASE WHEN o_orderdate IS NULL THEN 1 END) AS BIGINT)
        |  FROM orders
        |  UNION ALL
        |  SELECT 'o_orderstatus_in_domain',
        |    CAST(COUNT(CASE WHEN o_orderstatus NOT IN ('O','F','P')
        |      OR o_orderstatus IS NULL THEN 1 END) AS BIGINT)
        |  FROM orders
        |  UNION ALL
        |  SELECT 'o_totalprice_positive',
        |    CAST(COUNT(CASE WHEN CAST(o_totalprice AS DECIMAL(12,2)) <= 0
        |      OR o_totalprice IS NULL THEN 1 END) AS BIGINT)
        |  FROM orders
        |  UNION ALL
        |  SELECT 'o_orderkey_unique',
        |    CAST(COALESCE(SUM(c - 1), 0) AS BIGINT)
        |  FROM (SELECT COUNT(*) AS c FROM orders GROUP BY o_orderkey)
        |  UNION ALL
        |  SELECT 'o_custkey_references_customer', CAST(COUNT(*) AS BIGINT)
        |  FROM (SELECT DISTINCT o_custkey FROM orders
        |        WHERE o_custkey IS NOT NULL) o
        |  WHERE NOT EXISTS (SELECT 1 FROM customer c
        |                    WHERE c.c_custkey = o.o_custkey))
        |SELECT check_name, n_rows AS n_checked, n_violations,
        |  n_violations = 0 AS ok
        |FROM checks CROSS JOIN nr ORDER BY check_name""".stripMargin,
    // FD audit: lhs -> rhs holds iff |distinct lhs| = |distinct pairs|
    "rel_fd_check" ->
      """WITH cand AS (
        |  SELECT 'n_nationkey' AS lhs, 'n_regionkey' AS rhs,
        |    CAST(COUNT(DISTINCT n_nationkey) AS BIGINT) AS n_lhs,
        |    CAST(COUNT(*) AS BIGINT) AS n_pairs
        |  FROM (SELECT DISTINCT n_nationkey, n_regionkey FROM nation)
        |  UNION ALL
        |  SELECT 'c_custkey', 'c_mktsegment',
        |    CAST(COUNT(DISTINCT c_custkey) AS BIGINT), CAST(COUNT(*) AS BIGINT)
        |  FROM (SELECT DISTINCT c_custkey, c_mktsegment FROM customer)
        |  UNION ALL
        |  SELECT 'c_nationkey', 'c_mktsegment',
        |    CAST(COUNT(DISTINCT c_nationkey) AS BIGINT), CAST(COUNT(*) AS BIGINT)
        |  FROM (SELECT DISTINCT c_nationkey, c_mktsegment FROM customer)
        |  UNION ALL
        |  SELECT 'c_mktsegment', 'c_nationkey',
        |    CAST(COUNT(DISTINCT c_mktsegment) AS BIGINT), CAST(COUNT(*) AS BIGINT)
        |  FROM (SELECT DISTINCT c_mktsegment, c_nationkey FROM customer))
        |SELECT lhs, rhs, n_lhs, n_pairs, n_pairs - n_lhs AS n_violating,
        |  n_pairs = n_lhs AS holds
        |FROM cand ORDER BY lhs, rhs""".stripMargin,
    // MV maintenance: merge(partial(base), partial(delta)) == recompute —
    // the oracle IS the full recompute, proving the algebraic merge
    "rel_incremental_agg" ->
      """SELECT o_orderpriority AS prio,
        |  CAST(COUNT(*) AS BIGINT) AS n_orders,
        |  CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT))
        |    AS BIGINT) AS sum_cents,
        |  CAST(MIN(CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT))
        |    AS BIGINT) AS min_cents,
        |  CAST(MAX(CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT))
        |    AS BIGINT) AS max_cents,
        |  CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT))
        |    AS BIGINT) // COUNT(*) AS avg_cents
        |FROM orders GROUP BY prio ORDER BY prio""".stripMargin,
    // null-safe equi-join: NULL keys match each other (IS NOT DISTINCT
    // FROM == Spark's <=>), the "unknown is a legitimate bucket" merge
    "rel_null_safe_join" ->
      """WITH c AS (SELECT c_custkey, nullif(c_nationkey % 5, 4) AS ck FROM customer),
        |s AS (SELECT s_suppkey, nullif(s_nationkey % 5, 4) AS sk FROM supplier)
        |SELECT c.ck AS key_bucket, CAST(COUNT(*) AS BIGINT) AS n_pairs,
        |  CAST(COUNT(DISTINCT c_custkey) AS BIGINT) AS n_customers,
        |  CAST(COUNT(DISTINCT s_suppkey) AS BIGINT) AS n_suppliers
        |FROM c JOIN s ON c.ck IS NOT DISTINCT FROM s.sk
        |GROUP BY c.ck ORDER BY key_bucket NULLS FIRST""".stripMargin,
    // synthdocs DSv2 oracle: regenerate the same deterministic corpus
    // from range() arithmetic and aggregate the same slice
    "src_synth_pushdown" ->
      """WITH g AS (SELECT i AS doc_id, 'synth' || (i % 5) AS source,
        |    'alpha tok' || (i % 97) || ' tok' || ((i * 31) % 89)
        |      || ' tok' || ((i * 7) % 83) || ' end' AS text
        |  FROM range(0, 5000) t(i))
        |SELECT source, COUNT(*) AS n_docs,
        |  CAST(SUM(length(text)) AS BIGINT) AS total_chars,
        |  CAST(SUM(doc_id) AS BIGINT) AS sum_ids
        |FROM g WHERE doc_id >= 1200 AND doc_id < 3800
        |GROUP BY source ORDER BY source""".stripMargin,
    // synthdocs aggregate pushdown: COUNT/MIN/MAX answered from range
    // arithmetic in the source; the oracle regenerates from range()
    "src_synth_agg_pushdown" ->
      """SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
        |  CAST(MIN(i) AS BIGINT) AS min_id, CAST(MAX(i) AS BIGINT) AS max_id
        |FROM range(0, 200000) t(i)""".stripMargin,
    // unknown-dominated null-safe merge: the skewed-join driver (AQE
    // OptimizeSkewedJoin splits the hot NULL partition at runtime;
    // results are plan-independent, which is what this row checks)
    "rel_skew_null_bucket" ->
      """WITH c AS (SELECT c_custkey,
        |    CASE WHEN c_nationkey = 0 THEN 0 ELSE NULL END AS ck FROM customer),
        |s AS (SELECT s_suppkey,
        |    CASE WHEN s_nationkey = 0 THEN 0 ELSE NULL END AS sk FROM supplier)
        |SELECT s.s_suppkey, CAST(s.sk AS BIGINT) AS key_bucket,
        |  CAST(COUNT(*) AS BIGINT) AS n_matches,
        |  CAST(SUM(c.c_custkey) AS BIGINT) AS sum_custkeys
        |FROM c JOIN s ON c.ck IS NOT DISTINCT FROM s.sk
        |GROUP BY s.s_suppkey, s.sk
        |ORDER BY s.s_suppkey""".stripMargin,
    "rel_full_outer" ->
      """WITH b AS (SELECT c_custkey AS b_custkey FROM customer WHERE c_mktsegment = 'BUILDING'),
        |p AS (SELECT o_custkey AS p_custkey, COUNT(*) AS n_pending
        |      FROM orders WHERE o_orderstatus = 'P' GROUP BY o_custkey)
        |SELECT COALESCE(b_custkey, p_custkey) AS custkey,
        |  b_custkey IS NOT NULL AS in_building,
        |  COALESCE(n_pending, 0) AS n_pending
        |FROM b FULL OUTER JOIN p ON b_custkey = p_custkey
        |ORDER BY custkey""".stripMargin,
    // distribution ranks: exact small-integer divisions, bit-identical
    "rel_dist_family" ->
      """SELECT p_brand, p_partkey, pr, cd FROM (
        |  SELECT p_brand, p_partkey,
        |    percent_rank() OVER w AS pr,
        |    cume_dist() OVER w AS cd
        |  FROM part WINDOW w AS (PARTITION BY p_brand ORDER BY p_retailprice DESC)) t
        |WHERE pr <= 0.1 ORDER BY p_brand, p_partkey""".stripMargin,
    "rel_rank_family" ->
      """SELECT p_brand, p_partkey, rnk, drnk, quartile FROM (
        |  SELECT p_brand, p_partkey,
        |    rank() OVER w AS rnk,
        |    dense_rank() OVER w AS drnk,
        |    ntile(4) OVER w AS quartile
        |  FROM part WINDOW w AS (PARTITION BY p_brand ORDER BY p_retailprice DESC, p_partkey)) t
        |WHERE rnk <= 8 ORDER BY p_brand, rnk, p_partkey""".stripMargin,
    "evt_range_frame" ->
      """SELECT user_id, event_id,
        |  CAST(SUM(CAST(value AS DECIMAL(12,2))) OVER (
        |    PARTITION BY user_id ORDER BY epoch_ms(ts)
        |    RANGE BETWEEN 3600000 PRECEDING AND CURRENT ROW) AS DOUBLE) AS rolling_1h
        |FROM events ORDER BY user_id, event_id""".stripMargin,
    "evt_topk_udaf" ->
      """SELECT event_type,
        |  array_to_string((list(event_id ORDER BY value DESC, event_id))[1:3], ',') AS top_ids
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
    "evt_salted_totals" ->
      """SELECT user_id,
        |  CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS total_value,
        |  COUNT(*) AS n
        |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin,
    "art_cleanse_text" ->
      """SELECT doc_id,
        |  trim(regexp_replace('<article><p>' || text || '</p></article>', '<[^>]*>', '', 'g')) AS clean_text
        |FROM documents ORDER BY doc_id""".stripMargin,
    "art_extract_fields" ->
      """WITH h AS (
        |  SELECT doc_id, source,
        |    (CASE WHEN doc_id % 5 <> 0 THEN '<meta property="og:title" content="Doc ' || doc_id || '"/>' ELSE '' END)
        |    || '<h1 itemprop="headline">Headline ' || doc_id || '</h1>'
        |    || '<meta property="og:description" content="' || substr(text, 1, 40) || '"/>'
        |    || (CASE WHEN doc_id % 3 <> 0 THEN '<meta property="article:author" content="author_' || (doc_id % 7) || '"/>' ELSE '' END)
        |    || '<meta property="article:section" content="' || source || '"/>'
        |    || '<meta name="keywords" content="' || lang || ',' || source || '"/>' AS html
        |  FROM documents)
        |SELECT doc_id,
        |  'https://www.example.com/' || source || '/' || doc_id AS url,
        |  COALESCE(
        |    nullif(regexp_extract(html, '<meta property="og:title" content="([^"]*)"', 1), ''),
        |    nullif(regexp_extract(html, '<h1 itemprop="headline">([^<]*)</h1>', 1), '')) AS title,
        |  nullif(regexp_extract(html, '<meta property="og:description" content="([^"]*)"', 1), '') AS description,
        |  nullif(regexp_extract(html, '<meta property="article:author" content="([^"]*)"', 1), '') AS author,
        |  nullif(regexp_extract(html, '<meta property="article:section" content="([^"]*)"', 1), '') AS section,
        |  nullif(regexp_extract(html, '<meta name="keywords" content="([^"]*)"', 1), '') AS keywords
        |FROM h ORDER BY doc_id""".stripMargin,
    "art_route_links" ->
      """WITH l AS (
        |  SELECT doc_id,
        |    CASE doc_id % 6
        |      WHEN 0 THEN '/news/uk-' || doc_id
        |      WHEN 1 THEN 'https://www.example.com/sport/' || doc_id
        |      WHEN 2 THEN 'https://www.example.com/files/report' || doc_id || '.pdf'
        |      WHEN 3 THEN 'https://other.site/page' || doc_id
        |      WHEN 4 THEN 'https://www.example.com/img/logo' || doc_id || '.jpg'
        |      ELSE 'report-' || doc_id || '.csv' END AS href
        |  FROM documents),
        |r AS (
        |  SELECT doc_id, href,
        |    CASE WHEN regexp_matches(href, '^https?://') THEN href
        |         WHEN href LIKE '/%' THEN 'https://www.example.com' || href
        |         ELSE 'https://www.example.com/' || href END AS resolved
        |  FROM l)
        |SELECT doc_id, href, resolved,
        |  CASE WHEN regexp_matches(resolved, '\.(pdf|csv|docx?|xlsx?|zip|tar\.gz)$') THEN 'doc'
        |       WHEN contains(resolved, 'www.example.com') AND NOT regexp_matches(resolved, '\.(jpe?g|png|gif|js|css|ico)$') THEN 'frontier'
        |       ELSE 'junk' END AS route
        |FROM r ORDER BY doc_id""".stripMargin,
    "art_route_counts" ->
      """WITH l AS (
        |  SELECT doc_id,
        |    CASE doc_id % 6
        |      WHEN 0 THEN '/news/uk-' || doc_id
        |      WHEN 1 THEN 'https://www.example.com/sport/' || doc_id
        |      WHEN 2 THEN 'https://www.example.com/files/report' || doc_id || '.pdf'
        |      WHEN 3 THEN 'https://other.site/page' || doc_id
        |      WHEN 4 THEN 'https://www.example.com/img/logo' || doc_id || '.jpg'
        |      ELSE 'report-' || doc_id || '.csv' END AS href
        |  FROM documents),
        |r AS (
        |  SELECT doc_id, href,
        |    CASE WHEN regexp_matches(href, '^https?://') THEN href
        |         WHEN href LIKE '/%' THEN 'https://www.example.com' || href
        |         ELSE 'https://www.example.com/' || href END AS resolved
        |  FROM l)
        |SELECT route, COUNT(*) AS n FROM (
        |  SELECT CASE WHEN regexp_matches(resolved, '\.(pdf|csv|docx?|xlsx?|zip|tar\.gz)$') THEN 'doc'
        |       WHEN contains(resolved, 'www.example.com') AND NOT regexp_matches(resolved, '\.(jpe?g|png|gif|js|css|ico)$') THEN 'frontier'
        |       ELSE 'junk' END AS route
        |  FROM r) t
        |GROUP BY route ORDER BY route""".stripMargin,
    "art_search_keyword" ->
      """SELECT doc_id, lang, source, n_chars, text FROM documents
        |WHERE list_contains(string_split(lower(text), ' '), 'spark')
        |ORDER BY doc_id""".stripMargin,
    "art_search_json" ->
      """SELECT doc_id,
        |  '{"doc_id":' || doc_id || ',"lang":"' || lang || '","source":"' || source || '"}' AS js
        |FROM documents
        |WHERE list_contains(string_split(lower(text), ' '), 'spark')
        |ORDER BY doc_id""".stripMargin,
    "art_search_any" ->
      """SELECT doc_id, lang, source FROM documents
        |WHERE list_has_any(string_split(lower(text), ' '), ['spark', 'merge'])
        |ORDER BY doc_id""".stripMargin,
    // diacritic-insensitive search: the IDENTICAL translate fold table
    // on both engines (not each engine's own strip-accents); every 7th
    // doc gets accents injected so folding is genuinely exercised
    "art_search_folded" ->
      """WITH acc AS (
        |  SELECT doc_id, lang, source,
        |    CASE WHEN doc_id % 7 = 0 THEN translate(text, 'ae', 'áé')
        |         ELSE text END AS text
        |  FROM documents)
        |SELECT doc_id, lang, source FROM acc
        |WHERE list_contains(
        |  string_split(translate(lower(text),
        |    'áàâäãåéèêëíìîïóòôöõúùûüýñç', 'aaaaaaeeeeiiiiooooouuuuync'), ' '),
        |  'merge')
        |ORDER BY doc_id""".stripMargin,
    // full Latin fold: the SQL is RENDERED from the same
    // LatinFoldFrom/To + LigatureFolds tables the engine folds with
    // (ArticleOps.foldLatin), so the two sides cannot drift; Extended-A
    // accents synthesized on every 7th doc fold back, the ß docs' tokens
    // expand to 'ss' forms and correctly stop matching
    "art_search_folded_full" -> {
      def foldSql(e: String): String = {
        val rep = ArticleOps.LigatureFolds.foldLeft(s"lower($e)") {
          case (acc, (f, t)) => s"replace($acc, '$f', '$t')"
        }
        s"translate($rep, '${ArticleOps.LatinFoldFrom}', '${ArticleOps.LatinFoldTo}')"
      }
      s"""WITH acc AS (
         |  SELECT doc_id, lang, source,
         |    CASE WHEN doc_id % 11 = 0 THEN replace(t1, 's', 'ß')
         |         ELSE t1 END AS text
         |  FROM (
         |    SELECT doc_id, lang, source,
         |      CASE WHEN doc_id % 7 = 0 THEN translate(text, 'ae', 'āě')
         |           ELSE text END AS t1
         |    FROM documents) z)
         |SELECT doc_id, lang, source FROM acc
         |WHERE list_contains(string_split(${foldSql("text")}, ' '),
         |  ${foldSql("'spark'")})
         |ORDER BY doc_id""".stripMargin
    },
    // Mongo $text query-string semantics: stop words are dropped at
    // query compile ("the spark and merge" -> spark OR merge); the data
    // plane is exactly the art_search_any arrays_overlap
    "art_search_textq" ->
      """SELECT doc_id, lang, source FROM documents
        |WHERE list_has_any(string_split(lower(text), ' '), ['spark', 'merge'])
        |ORDER BY doc_id""".stripMargin,
    // same semantics as art_search_keyword (the rewrite must not change
    // results) — narrower projection, plan goes through the postings join
    "art_search_indexed" ->
      """SELECT doc_id, lang, source, n_chars FROM documents
        |WHERE list_contains(string_split(lower(text), ' '), 'spark')
        |ORDER BY doc_id""".stripMargin,
    "art_search_ranked" ->
      """WITH w AS (
        |  SELECT doc_id, unnest(string_split(lower(text), ' ')) AS term
        |  FROM documents),
        |h AS (
        |  SELECT doc_id, COUNT(*) AS score FROM w
        |  WHERE term IN ('spark', 'merge') GROUP BY doc_id)
        |SELECT d.doc_id, d.lang, d.source, h.score
        |FROM documents d JOIN h ON d.doc_id = h.doc_id
        |ORDER BY h.score DESC, d.doc_id""".stripMargin,
    // same semantics as art_search_ranked (serving from the index must
    // not change results) — the Spark plan aggregates postings tf
    "art_search_ranked_auto" ->
      """WITH w AS (
        |  SELECT doc_id, unnest(string_split(lower(text), ' ')) AS term
        |  FROM documents),
        |h AS (
        |  SELECT doc_id, COUNT(*) AS score FROM w
        |  WHERE term IN ('spark', 'merge') GROUP BY doc_id)
        |SELECT d.doc_id, d.lang, d.source, h.score
        |FROM documents d JOIN h ON d.doc_id = h.doc_id
        |ORDER BY h.score DESC, d.doc_id""".stripMargin,
    // BM25-style score: identical expression tree both engines — exact
    // integer inputs through +,×,/ and floor only (no ln), so the floored
    // per-term parts and their BIGINT sum hash-match bitwise
    // Dirichlet query-likelihood: the qlog2 sixteenth-bit integer log
    // (see txt_entropy) over the C-multiplied smoothed ratio — both
    // engines evaluate the identical pure-integer tree
    // keyword-in-context snippet: first-occurrence position, +-3-word
    // window clamped at the document edges
    // positional-postings snippet serving: same result as the scan
    // form (positions are in the same empty-filtered coordinates, the
    // list head + 1 is list_position's first hit), hence the same oracle
    "art_search_snippet_idx" ->
      """WITH t AS (
        |  SELECT doc_id, lang, source,
        |    list_filter(string_split(lower(text), ' '), x -> length(x) > 0) AS w
        |  FROM documents),
        |m AS (
        |  SELECT doc_id, lang, source, w, list_position(w, 'merge') AS p
        |  FROM t WHERE list_position(w, 'merge') > 0)
        |SELECT doc_id, lang, source,
        |  CAST(p AS BIGINT) AS hit_pos,
        |  array_to_string(list_slice(w, greatest(1, p - 3), least(len(w), p + 3)), ' ') AS snippet
        |FROM m ORDER BY doc_id""".stripMargin,
    "art_search_snippet" ->
      """WITH t AS (
        |  SELECT doc_id, lang, source,
        |    list_filter(string_split(lower(text), ' '), x -> length(x) > 0) AS w
        |  FROM documents),
        |m AS (
        |  SELECT doc_id, lang, source, w, list_position(w, 'merge') AS p
        |  FROM t WHERE list_position(w, 'merge') > 0)
        |SELECT doc_id, lang, source,
        |  CAST(p AS BIGINT) AS hit_pos,
        |  array_to_string(list_slice(w, greatest(1, p - 3), least(len(w), p + 3)), ' ') AS snippet
        |FROM m ORDER BY doc_id""".stripMargin,
    "art_search_qlm" ->
      """WITH toks AS (
        |  SELECT doc_id, unnest(string_split(lower(text), ' ')) AS term
        |  FROM documents),
        |tok AS (SELECT doc_id, term FROM toks WHERE length(term) > 0),
        |dl AS (SELECT doc_id, COUNT(*) AS dl FROM tok GROUP BY doc_id),
        |stats AS (SELECT CAST(SUM(dl) AS BIGINT) AS ctot FROM dl),
        |tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM tok
        |  WHERE term IN ('spark', 'merge') GROUP BY doc_id, term),
        |cfreq AS (SELECT term, CAST(SUM(tf) AS BIGINT) AS cf FROM tf GROUP BY term),
        |cand AS (SELECT DISTINCT doc_id FROM tf),
        |x AS (
        |  SELECT cand.doc_id,
        |    COALESCE(tf.tf, 0) * ctot + 2000 * cfreq.cf AS num,
        |    ctot * (dl.dl + 2000) AS den
        |  FROM cand CROSS JOIN cfreq
        |  LEFT JOIN tf ON tf.doc_id = cand.doc_id AND tf.term = cfreq.term
        |  JOIN dl ON dl.doc_id = cand.doc_id
        |  CROSS JOIN stats),
        |p AS (
        |  SELECT doc_id,
        |    (16 * (LENGTH(bin(num)) - 1)
        |      + ((num - CAST(2 ** (LENGTH(bin(num)) - 1) AS BIGINT)) * 16)
        |        // CAST(2 ** (LENGTH(bin(num)) - 1) AS BIGINT))
        |    - (16 * (LENGTH(bin(den)) - 1)
        |      + ((den - CAST(2 ** (LENGTH(bin(den)) - 1) AS BIGINT)) * 16)
        |        // CAST(2 ** (LENGTH(bin(den)) - 1) AS BIGINT)) AS part
        |  FROM x),
        |scores AS (SELECT doc_id, CAST(SUM(part) AS BIGINT) AS score
        |  FROM p GROUP BY doc_id)
        |SELECT d.doc_id, d.lang, d.source, s.score
        |FROM documents d JOIN scores s ON d.doc_id = s.doc_id
        |ORDER BY s.score DESC, d.doc_id""".stripMargin,
    // identical semantics served off the materialized postings index
    "art_search_qlm_idx" ->
      """WITH toks AS (
        |  SELECT doc_id, unnest(string_split(lower(text), ' ')) AS term
        |  FROM documents),
        |tok AS (SELECT doc_id, term FROM toks WHERE length(term) > 0),
        |dl AS (SELECT doc_id, COUNT(*) AS dl FROM tok GROUP BY doc_id),
        |stats AS (SELECT CAST(SUM(dl) AS BIGINT) AS ctot FROM dl),
        |tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM tok
        |  WHERE term IN ('spark', 'merge') GROUP BY doc_id, term),
        |cfreq AS (SELECT term, CAST(SUM(tf) AS BIGINT) AS cf FROM tf GROUP BY term),
        |cand AS (SELECT DISTINCT doc_id FROM tf),
        |x AS (
        |  SELECT cand.doc_id,
        |    COALESCE(tf.tf, 0) * ctot + 2000 * cfreq.cf AS num,
        |    ctot * (dl.dl + 2000) AS den
        |  FROM cand CROSS JOIN cfreq
        |  LEFT JOIN tf ON tf.doc_id = cand.doc_id AND tf.term = cfreq.term
        |  JOIN dl ON dl.doc_id = cand.doc_id
        |  CROSS JOIN stats),
        |p AS (
        |  SELECT doc_id,
        |    (16 * (LENGTH(bin(num)) - 1)
        |      + ((num - CAST(2 ** (LENGTH(bin(num)) - 1) AS BIGINT)) * 16)
        |        // CAST(2 ** (LENGTH(bin(num)) - 1) AS BIGINT))
        |    - (16 * (LENGTH(bin(den)) - 1)
        |      + ((den - CAST(2 ** (LENGTH(bin(den)) - 1) AS BIGINT)) * 16)
        |        // CAST(2 ** (LENGTH(bin(den)) - 1) AS BIGINT)) AS part
        |  FROM x),
        |scores AS (SELECT doc_id, CAST(SUM(part) AS BIGINT) AS score
        |  FROM p GROUP BY doc_id)
        |SELECT d.doc_id, d.lang, d.source, s.score
        |FROM documents d JOIN scores s ON d.doc_id = s.doc_id
        |ORDER BY s.score DESC, d.doc_id""".stripMargin,
    "art_search_bm25" ->
      """WITH toks AS (
        |  SELECT doc_id, unnest(string_split(lower(text), ' ')) AS term
        |  FROM documents),
        |tok AS (SELECT doc_id, term FROM toks WHERE length(term) > 0),
        |dl AS (SELECT doc_id, COUNT(*) AS dl FROM tok GROUP BY doc_id),
        |stats AS (SELECT COUNT(*) AS n_docs, SUM(dl) AS tot FROM dl),
        |tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM tok
        |  WHERE term IN ('spark', 'merge') GROUP BY doc_id, term),
        |dfq AS (SELECT term, COUNT(DISTINCT doc_id) AS df FROM tok
        |  WHERE term IN ('spark', 'merge') GROUP BY term),
        |parts AS (
        |  SELECT tf.doc_id,
        |    CAST(floor(1000000.0 *
        |      ((CAST(n_docs AS DOUBLE) - CAST(df AS DOUBLE) + 0.5) /
        |        (CAST(df AS DOUBLE) + 0.5)) *
        |      ((CAST(tf AS DOUBLE) * 2.2) /
        |        (CAST(tf AS DOUBLE) + 1.2 * (0.25 + 0.75 *
        |          (CAST(dl.dl AS DOUBLE) /
        |            (CAST(tot AS DOUBLE) / CAST(n_docs AS DOUBLE))))))
        |    ) AS BIGINT) AS part
        |  FROM tf JOIN dfq USING (term) JOIN dl ON tf.doc_id = dl.doc_id
        |  CROSS JOIN stats),
        |scores AS (SELECT doc_id, CAST(SUM(part) AS BIGINT) AS score
        |  FROM parts GROUP BY doc_id)
        |SELECT d.doc_id, d.lang, d.source, s.score
        |FROM documents d JOIN scores s ON d.doc_id = s.doc_id
        |ORDER BY s.score DESC, d.doc_id""".stripMargin,
    // same semantics as art_search_bm25 (the postings tf/dl/df inputs
    // are the very counts the scan computes, and the score tree is
    // identical) — the Spark plan reads ONLY the index at query time
    "art_search_bm25_idx" ->
      """WITH toks AS (
        |  SELECT doc_id, unnest(string_split(lower(text), ' ')) AS term
        |  FROM documents),
        |tok AS (SELECT doc_id, term FROM toks WHERE length(term) > 0),
        |dl AS (SELECT doc_id, COUNT(*) AS dl FROM tok GROUP BY doc_id),
        |stats AS (SELECT COUNT(*) AS n_docs, SUM(dl) AS tot FROM dl),
        |tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM tok
        |  WHERE term IN ('spark', 'merge') GROUP BY doc_id, term),
        |dfq AS (SELECT term, COUNT(DISTINCT doc_id) AS df FROM tok
        |  WHERE term IN ('spark', 'merge') GROUP BY term),
        |parts AS (
        |  SELECT tf.doc_id,
        |    CAST(floor(1000000.0 *
        |      ((CAST(n_docs AS DOUBLE) - CAST(df AS DOUBLE) + 0.5) /
        |        (CAST(df AS DOUBLE) + 0.5)) *
        |      ((CAST(tf AS DOUBLE) * 2.2) /
        |        (CAST(tf AS DOUBLE) + 1.2 * (0.25 + 0.75 *
        |          (CAST(dl.dl AS DOUBLE) /
        |            (CAST(tot AS DOUBLE) / CAST(n_docs AS DOUBLE))))))
        |    ) AS BIGINT) AS part
        |  FROM tf JOIN dfq USING (term) JOIN dl ON tf.doc_id = dl.doc_id
        |  CROSS JOIN stats),
        |scores AS (SELECT doc_id, CAST(SUM(part) AS BIGINT) AS score
        |  FROM parts GROUP BY doc_id)
        |SELECT d.doc_id, d.lang, d.source, s.score
        |FROM documents d JOIN scores s ON d.doc_id = s.doc_id
        |ORDER BY s.score DESC, d.doc_id""".stripMargin,
    // phrase = adjacent positions in the empty-filtered token sequence;
    // the position base (0 vs 1) cancels in the +1 adjacency join
    // fuzzy search: a doc matches iff any token is within edit distance
    // 1 of the query ('soft' reaches docs via 'sort' etc.) — plain
    // Levenshtein in both engines, so the scan spelling IS the oracle
    "art_search_fuzzy" ->
      """SELECT doc_id, lang, source FROM documents
        |WHERE len(list_filter(string_split(lower(text), ' '),
        |  t -> length(t) > 0 AND levenshtein(t, 'soft') <= 1)) > 0
        |ORDER BY doc_id""".stripMargin,
    // positional-postings phrase serving: same result as the scan-verify
    // phrase form, hence the same oracle
    "art_search_phrase_idx" ->
      """WITH t AS (
        |  SELECT doc_id,
        |    list_filter(string_split(lower(text), ' '), x -> length(x) > 0) AS l
        |  FROM documents),
        |tok AS (SELECT doc_id, unnest(l) AS term, generate_subscripts(l, 1) AS pos FROM t),
        |a AS (SELECT doc_id, pos FROM tok WHERE term = 'merge'),
        |b AS (SELECT doc_id, pos FROM tok WHERE term = 'group'),
        |hits AS (SELECT DISTINCT a.doc_id FROM a
        |  JOIN b ON a.doc_id = b.doc_id AND b.pos = a.pos + 1)
        |SELECT doc_id, lang, source FROM documents
        |WHERE doc_id IN (SELECT doc_id FROM hits)
        |ORDER BY doc_id""".stripMargin,
    "art_search_phrase" ->
      """WITH t AS (
        |  SELECT doc_id,
        |    list_filter(string_split(lower(text), ' '), x -> length(x) > 0) AS l
        |  FROM documents),
        |tok AS (SELECT doc_id, unnest(l) AS term, generate_subscripts(l, 1) AS pos FROM t),
        |a AS (SELECT doc_id, pos FROM tok WHERE term = 'merge'),
        |b AS (SELECT doc_id, pos FROM tok WHERE term = 'group'),
        |hits AS (SELECT DISTINCT a.doc_id FROM a
        |  JOIN b ON a.doc_id = b.doc_id AND b.pos = a.pos + 1)
        |SELECT doc_id, lang, source FROM documents
        |WHERE doc_id IN (SELECT doc_id FROM hits)
        |ORDER BY doc_id""".stripMargin,
    "art_search_negation" ->
      """SELECT doc_id, lang, source FROM documents
        |WHERE list_contains(string_split(lower(text), ' '), 'spark')
        |  AND NOT list_contains(string_split(lower(text), ' '), 'merge')
        |ORDER BY doc_id""".stripMargin,
    // S-stemmer applied to doc tokens and the query term ('merges' stems
    // to 'merge') — same three endsWith rules both engines, no regex
    "art_search_stemmed" ->
      """WITH t AS (
        |  SELECT doc_id, lang, source,
        |    list_transform(
        |      list_filter(string_split(lower(text), ' '), x -> length(x) > 0),
        |      x -> CASE
        |        WHEN length(x) <= 2 THEN x
        |        WHEN ends_with(x, 'ies') THEN
        |          CASE WHEN NOT ends_with(x, 'eies') AND NOT ends_with(x, 'aies')
        |            THEN substr(x, 1, length(x) - 3) || 'y' ELSE x END
        |        WHEN ends_with(x, 'es') THEN
        |          CASE WHEN NOT ends_with(x, 'aes') AND NOT ends_with(x, 'ees')
        |            AND NOT ends_with(x, 'oes')
        |            THEN substr(x, 1, length(x) - 1) ELSE x END
        |        WHEN ends_with(x, 's') THEN
        |          CASE WHEN NOT ends_with(x, 'us') AND NOT ends_with(x, 'ss')
        |            THEN substr(x, 1, length(x) - 1) ELSE x END
        |        ELSE x END) AS st
        |  FROM documents)
        |SELECT doc_id, lang, source FROM t
        |WHERE list_contains(st, 'merge')
        |ORDER BY doc_id""".stripMargin,
    // index-served form (searchStemmedIndexed): the observable result,
    // and so the oracle, is the scan form's
    "art_search_stemmed_auto" ->
      """WITH t AS (
        |  SELECT doc_id, lang, source,
        |    list_transform(
        |      list_filter(string_split(lower(text), ' '), x -> length(x) > 0),
        |      x -> CASE
        |        WHEN length(x) <= 2 THEN x
        |        WHEN ends_with(x, 'ies') THEN
        |          CASE WHEN NOT ends_with(x, 'eies') AND NOT ends_with(x, 'aies')
        |            THEN substr(x, 1, length(x) - 3) || 'y' ELSE x END
        |        WHEN ends_with(x, 'es') THEN
        |          CASE WHEN NOT ends_with(x, 'aes') AND NOT ends_with(x, 'ees')
        |            AND NOT ends_with(x, 'oes')
        |            THEN substr(x, 1, length(x) - 1) ELSE x END
        |        WHEN ends_with(x, 's') THEN
        |          CASE WHEN NOT ends_with(x, 'us') AND NOT ends_with(x, 'ss')
        |            THEN substr(x, 1, length(x) - 1) ELSE x END
        |        ELSE x END) AS st
        |  FROM documents)
        |SELECT doc_id, lang, source FROM t
        |WHERE list_contains(st, 'merge')
        |ORDER BY doc_id""".stripMargin,
    // index form of the stemmed search: same observable result (the
    // oracle is the declarative spec; the Spark side goes through the
    // stemmed-postings semi-join)
    "art_search_stemmed_idx" ->
      """WITH t AS (
        |  SELECT doc_id, lang, source,
        |    list_transform(
        |      list_filter(string_split(lower(text), ' '), x -> length(x) > 0),
        |      x -> CASE
        |        WHEN length(x) <= 2 THEN x
        |        WHEN ends_with(x, 'ies') THEN
        |          CASE WHEN NOT ends_with(x, 'eies') AND NOT ends_with(x, 'aies')
        |            THEN substr(x, 1, length(x) - 3) || 'y' ELSE x END
        |        WHEN ends_with(x, 'es') THEN
        |          CASE WHEN NOT ends_with(x, 'aes') AND NOT ends_with(x, 'ees')
        |            AND NOT ends_with(x, 'oes')
        |            THEN substr(x, 1, length(x) - 1) ELSE x END
        |        WHEN ends_with(x, 's') THEN
        |          CASE WHEN NOT ends_with(x, 'us') AND NOT ends_with(x, 'ss')
        |            THEN substr(x, 1, length(x) - 1) ELSE x END
        |        ELSE x END) AS st
        |  FROM documents)
        |SELECT doc_id, lang, source FROM t
        |WHERE list_contains(st, 'merge')
        |ORDER BY doc_id""".stripMargin,
    // Porter-stemmed search: the oracle renders the 1980 algorithm in
    // DuckDB SQL from the SAME step tables the JVM stemmer runs
    // (functions/PorterSql.scala — CV-pattern scan per token, suffix
    // conditions as slices of it; the keyword rides the pipeline as
    // sentinel doc_id -1)
    "art_search_porter" ->
      graft.functions.PorterSql.searchOracle("merges"),
    // Snowball-stemmed search: same contract, rendered from the
    // published Porter2 definition (functions/SnowballSql.scala —
    // prelude y-marking scan, R1/R2 as carried positions, fin column
    // for the exception lists)
    "art_search_snowball" ->
      graft.functions.SnowballSql.searchOracle("merges"),
    // keywords CSV -> array derivation (SURVEY §1.3): the synthetic
    // keywords meta field is lang,source; posexplode is 0-based and
    // generate_subscripts 1-based, hence the -1
    "art_keywords_split" ->
      """WITH k AS (
        |  SELECT doc_id, string_split(lang || ',' || source, ',') AS kws
        |  FROM documents)
        |SELECT doc_id, CAST(generate_subscripts(kws, 1) - 1 AS BIGINT) AS kw_pos,
        |  unnest(kws) AS keyword
        |FROM k ORDER BY doc_id, kw_pos""".stripMargin,
    "evt_value_histogram" ->
      """SELECT CAST(floor(value / 10) AS BIGINT) AS bucket, COUNT(*) AS n,
        |  CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS sum_value
        |FROM events GROUP BY 1 ORDER BY bucket""".stripMargin,
    // hourly date-spine gap fill: every (hour, type) cell of the
    // observed range, zero-filled where no events landed
    "evt_gapfill" ->
      """WITH spine AS (
        |  SELECT unnest(generate_series(
        |    date_trunc('hour', (SELECT MIN(ts) FROM events)),
        |    date_trunc('hour', (SELECT MAX(ts) FROM events)),
        |    INTERVAL 1 HOUR)) AS hr),
        |types AS (SELECT DISTINCT event_type FROM events),
        |counts AS (
        |  SELECT date_trunc('hour', ts) AS hr, event_type, COUNT(*) AS n,
        |    CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS sum_value
        |  FROM events GROUP BY 1, 2)
        |SELECT s.hr, t.event_type, COALESCE(c.n, 0) AS n,
        |  COALESCE(c.sum_value, 0.0) AS sum_value
        |FROM spine s CROSS JOIN types t
        |LEFT JOIN counts c ON c.hr = s.hr AND c.event_type = t.event_type
        |ORDER BY s.hr, t.event_type""".stripMargin,
    // Q18 shape: aggregate lineitem first, HAVING-filter, join survivors
    "rel_large_orders" ->
      """WITH big AS (
        |  SELECT l_orderkey,
        |    CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS total_qty
        |  FROM lineitem GROUP BY 1
        |  HAVING CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) > 250)
        |SELECT c_custkey, c_name, o_orderkey,
        |  CAST(CAST(o_totalprice AS DECIMAL(12,2)) AS DOUBLE) AS o_price, total_qty
        |FROM orders JOIN big ON o_orderkey = l_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |ORDER BY total_qty DESC, o_orderkey LIMIT 20""".stripMargin,
    // KMV distinct sketch: deterministic k-minima of the portable hash,
    // est = (k-1)*M // h_k — exactly reproducible, unlike engine HLL
    "evt_kmv_distinct" ->
      """WITH h AS (
        |  SELECT DISTINCT list_reduce(list_prepend(CAST(0 AS BIGINT),
        |    list_transform(string_split(CAST(user_id AS VARCHAR) || '-kmv-sketch-salt', ''),
        |      c -> ascii(c))),
        |    (h, c) -> (h * 31 + c) % 1000000000000000) AS h
        |  FROM events),
        |k AS (SELECT h FROM h ORDER BY h LIMIT 64)
        |SELECT
        |  (SELECT COUNT(DISTINCT user_id) FROM events) AS n_exact,
        |  CAST(COUNT(*) AS BIGINT) AS k_seen,
        |  MAX(h) AS kth_hash,
        |  CAST(CASE WHEN COUNT(*) < 64 THEN COUNT(*)
        |    ELSE 63000000000000000 // MAX(h) END AS BIGINT) AS est_kmv
        |FROM k""".stripMargin,
    // grouped KMV: per-type k-minimum salted hashes (the engine keeps
    // them through the bounded TopK aggregator with score = -hash)
    "evt_kmv_by_type" ->
      """WITH h AS (
        |  SELECT DISTINCT event_type,
        |    list_reduce(list_prepend(CAST(0 AS BIGINT),
        |      list_transform(string_split(CAST(user_id AS VARCHAR) || '-kmv-sketch-salt', ''),
        |        c -> ascii(c))),
        |      (h, c) -> (h * 31 + c) % 1000000000000000) AS h
        |  FROM events),
        |r AS (SELECT event_type, h,
        |  row_number() OVER (PARTITION BY event_type ORDER BY h) AS rn FROM h),
        |k AS (SELECT event_type, CAST(COUNT(*) AS BIGINT) AS k_seen, MAX(h) AS kth_hash
        |      FROM r WHERE rn <= 32 GROUP BY event_type),
        |x AS (SELECT event_type, CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_exact
        |      FROM events GROUP BY event_type)
        |SELECT x.event_type AS event_type, n_exact, k_seen, kth_hash,
        |  CAST(CASE WHEN k_seen < 32 THEN k_seen
        |    ELSE 31000000000000000 // kth_hash END AS BIGINT) AS est_kmv
        |FROM x JOIN k ON x.event_type = k.event_type
        |ORDER BY x.event_type""".stripMargin,
    // KMV sketch set algebra: theta-sketch pairwise intersection —
    // theta = min of the two thresholds, n_common = shared sketch
    // hashes below theta, estimate = n_common * M // theta; the exact
    // user-level self-join rides along as the accuracy report
    "evt_kmv_overlap" ->
      """WITH h AS (
        |  SELECT DISTINCT event_type,
        |    list_reduce(list_prepend(CAST(0 AS BIGINT),
        |      list_transform(string_split(CAST(user_id AS VARCHAR) || '-kmv-sketch-salt', ''),
        |        c -> ascii(c))),
        |      (h, c) -> (h * 31 + c) % 1000000000000000) AS h
        |  FROM events),
        |r AS (SELECT event_type, h, row_number() OVER (PARTITION BY event_type ORDER BY h) AS rn FROM h),
        |m AS (SELECT event_type, h FROM r WHERE rn <= 32),
        |sk AS (SELECT event_type, CAST(COUNT(*) AS BIGINT) AS k_seen, MAX(h) AS kth FROM m GROUP BY 1),
        |th AS (SELECT event_type, CASE WHEN k_seen < 32 THEN 1000000000000000 ELSE kth END AS theta FROM sk),
        |pb AS (SELECT a.event_type AS type_a, b.event_type AS type_b,
        |         least(a.theta, b.theta) AS theta
        |       FROM th a JOIN th b ON a.event_type < b.event_type),
        |cm AS (SELECT x.event_type AS type_a, y.event_type AS type_b, COUNT(*) AS n_common
        |       FROM m x JOIN m y ON x.h = y.h AND x.event_type < y.event_type
        |       JOIN pb ON pb.type_a = x.event_type AND pb.type_b = y.event_type
        |       WHERE x.h < pb.theta GROUP BY 1,2),
        |tu AS (SELECT DISTINCT event_type, user_id FROM events),
        |ex AS (SELECT p.event_type AS type_a, q.event_type AS type_b, CAST(COUNT(*) AS BIGINT) AS n_exact
        |       FROM tu p JOIN tu q ON p.user_id = q.user_id AND p.event_type < q.event_type
        |       GROUP BY 1,2)
        |SELECT pb.type_a, pb.type_b,
        |  COALESCE(ex.n_exact, 0) AS n_exact, pb.theta,
        |  CAST(COALESCE(cm.n_common, 0) AS BIGINT) AS n_common,
        |  CAST(COALESCE(cm.n_common, 0) * 1000000000000000 // pb.theta AS BIGINT) AS est_kmv
        |FROM pb LEFT JOIN ex USING (type_a, type_b) LEFT JOIN cm USING (type_a, type_b)
        |ORDER BY type_a, type_b""".stripMargin,
    // per-user integer EWMA (alpha = 1/2): fold over the (ts, event_id)-
    // sorted cents list; list_reduce seeds from the first element, the
    // same recursion as the engine's aggregate(slice(...), es[0], ...)
    "evt_ewma" ->
      """WITH e AS (
        |  SELECT user_id, ts, event_id,
        |    CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT) AS cents
        |  FROM events),
        |g AS (SELECT user_id,
        |    list_sort(list({'ts': ts, 'event_id': event_id, 'cents': cents})) AS es
        |  FROM e GROUP BY user_id)
        |SELECT user_id, CAST(len(es) AS BIGINT) AS n_events,
        |  es[len(es)].cents AS last_cents,
        |  CAST(list_reduce(list_transform(es, x -> x.cents),
        |    (a, c) -> (a + c) // 2) AS BIGINT) AS ewma_cents
        |FROM g ORDER BY user_id""".stripMargin,
    // fixed-grid histogram quantile sketch: deterministic (grid pinned
    // by min/max/1024), so estimates reproduce exactly on both engines;
    // linear interpolation inside the quantile's bin
    // winsorize: sketch-estimated [p05, p95] floored to cents, clamp +
    // totals in exact BIGINT — same histogram CTEs as evt_quantile_sketch
    "evt_winsorize" ->
      """WITH stats AS (
        |  SELECT min(value) AS mn, max(value) AS mx, COUNT(*) AS n
        |  FROM events WHERE value IS NOT NULL),
        |bins AS (
        |  SELECT CASE WHEN s.mx = s.mn THEN 0
        |    ELSE LEAST(CAST(floor((e.value - s.mn) / ((s.mx - s.mn) / 1024)) AS BIGINT), 1023)
        |    END AS bin, COUNT(*) AS cnt
        |  FROM events e, stats s WHERE e.value IS NOT NULL GROUP BY 1),
        |cum AS (
        |  SELECT bin, cnt,
        |    SUM(cnt) OVER (ORDER BY bin ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
        |  FROM bins),
        |ps AS (SELECT CAST(unnest([0.05, 0.95]) AS DOUBLE) AS p),
        |est AS (
        |  SELECT p.p AS p,
        |    CASE WHEN s.mx = s.mn THEN s.mn
        |      ELSE s.mn + ((s.mx - s.mn) / 1024) *
        |        (c.bin + (p.p * s.n - (c.cum - c.cnt)) / c.cnt) END AS est
        |  FROM ps p, cum c, stats s
        |  WHERE c.cum >= p.p * s.n AND c.cum - c.cnt < p.p * s.n),
        |b AS (
        |  SELECT CAST(floor(MIN(CASE WHEN p = 0.05 THEN est END) * 100) AS BIGINT) AS lo_cents,
        |         CAST(floor(MIN(CASE WHEN p = 0.95 THEN est END) * 100) AS BIGINT) AS hi_cents
        |  FROM est),
        |c AS (
        |  SELECT b.lo_cents, b.hi_cents,
        |    CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT) AS cents
        |  FROM events, b WHERE value IS NOT NULL)
        |SELECT lo_cents, hi_cents, CAST(COUNT(*) AS BIGINT) AS n,
        |  CAST(SUM(CASE WHEN cents < lo_cents THEN 1 ELSE 0 END) AS BIGINT) AS n_clipped_lo,
        |  CAST(SUM(CASE WHEN cents > hi_cents THEN 1 ELSE 0 END) AS BIGINT) AS n_clipped_hi,
        |  CAST(SUM(LEAST(GREATEST(cents, lo_cents), hi_cents)) AS BIGINT) AS sum_winsorized_cents,
        |  CAST(SUM(cents) AS BIGINT) AS sum_raw_cents
        |FROM c GROUP BY lo_cents, hi_cents""".stripMargin,
    "evt_quantile_sketch" ->
      """WITH stats AS (
        |  SELECT min(value) AS mn, max(value) AS mx, COUNT(*) AS n
        |  FROM events WHERE value IS NOT NULL),
        |bins AS (
        |  SELECT CASE WHEN s.mx = s.mn THEN 0
        |    ELSE LEAST(CAST(floor((e.value - s.mn) / ((s.mx - s.mn) / 1024)) AS BIGINT), 1023)
        |    END AS bin, COUNT(*) AS cnt
        |  FROM events e, stats s WHERE e.value IS NOT NULL GROUP BY 1),
        |cum AS (
        |  SELECT bin, cnt,
        |    SUM(cnt) OVER (ORDER BY bin ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
        |  FROM bins),
        |ps AS (SELECT CAST(unnest([0.5, 0.9, 0.95, 0.99]) AS DOUBLE) AS p)
        |SELECT p.p AS p,
        |  CASE WHEN s.mx = s.mn THEN s.mn
        |    ELSE s.mn + ((s.mx - s.mn) / 1024) *
        |      (c.bin + (p.p * s.n - (c.cum - c.cnt)) / c.cnt) END AS est
        |FROM ps p, cum c, stats s
        |WHERE c.cum >= p.p * s.n AND c.cum - c.cnt < p.p * s.n
        |ORDER BY p""".stripMargin,
    "art_inverted_index" ->
      """SELECT term, COUNT(DISTINCT doc_id) AS doc_count, COUNT(*) AS total_count,
        |  array_to_string(list_sort(list(DISTINCT doc_id)), ',') AS doc_ids
        |FROM (SELECT doc_id, unnest(string_split(lower(text), ' ')) AS term FROM documents) t
        |WHERE length(term) > 0
        |GROUP BY term ORDER BY term""".stripMargin,
    "art_search_via_index" ->
      """SELECT doc_id, lang, source FROM documents WHERE doc_id IN (
        |  SELECT DISTINCT doc_id FROM
        |    (SELECT doc_id, unnest(string_split(lower(text), ' ')) AS term FROM documents) t
        |  WHERE term = 'merge')
        |ORDER BY doc_id""".stripMargin,
    "art_crawl_e2e" ->
      """WITH RECURSIVE
        |edges AS (
        |  SELECT doc_id AS src,
        |    (doc_id * 7 + 1) % (SELECT COUNT(*) FROM documents) AS dst
        |  FROM documents),
        |reach(node, depth) AS (
        |  SELECT CAST(0 AS BIGINT) AS node, 0 AS depth
        |  UNION
        |  SELECT e.dst AS node, r.depth + 1 AS depth
        |  FROM reach r JOIN edges e ON e.src = r.node WHERE r.depth < 6),
        |reached AS (SELECT node AS doc_id, MIN(depth) AS depth FROM reach GROUP BY node),
        |h AS (
        |  SELECT doc_id, source,
        |    (CASE WHEN doc_id % 5 <> 0 THEN '<meta property="og:title" content="Doc ' || doc_id || '"/>' ELSE '' END)
        |    || '<h1 itemprop="headline">Headline ' || doc_id || '</h1>'
        |    || '<meta property="article:section" content="' || source || '"/>' AS html
        |  FROM documents),
        |x AS (
        |  SELECT doc_id,
        |    COALESCE(
        |      nullif(regexp_extract(html, '<meta property="og:title" content="([^"]*)"', 1), ''),
        |      nullif(regexp_extract(html, '<h1 itemprop="headline">([^<]*)</h1>', 1), '')) AS title,
        |    nullif(regexp_extract(html, '<meta property="article:section" content="([^"]*)"', 1), '') AS section
        |  FROM h),
        |hits AS (
        |  SELECT doc_id FROM documents
        |  WHERE list_contains(string_split(lower(text), ' '), 'spark'))
        |SELECT x.doc_id, CAST(reached.depth AS BIGINT) AS depth, x.title, x.section
        |FROM x JOIN reached ON x.doc_id = reached.doc_id
        |JOIN hits ON x.doc_id = hits.doc_id
        |ORDER BY x.doc_id""".stripMargin,
    "evt_tumbling_window" ->
      """SELECT date_trunc('hour', ts) AS window_start, event_type, COUNT(*) AS n,
        |  CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS sum_value
        |FROM events GROUP BY 1, 2 ORDER BY window_start, event_type""".stripMargin,
    "evt_sliding_window" ->
      """WITH b AS (
        |  SELECT date_trunc('hour', ts)
        |    + CASE WHEN minute(ts) >= 30 THEN INTERVAL 30 MINUTE ELSE INTERVAL 0 MINUTE END AS b0,
        |    value
        |  FROM events),
        |e AS (SELECT unnest([b0, b0 - INTERVAL 30 MINUTE]) AS window_start, value FROM b)
        |SELECT window_start, COUNT(*) AS n, CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS sum_value
        |FROM e GROUP BY 1 ORDER BY window_start""".stripMargin,
    "evt_session_windows" ->
      """WITH o AS (
        |  SELECT user_id, event_id, ts, value,
        |    CASE WHEN lag(ts) OVER w IS NULL
        |           OR ts - lag(ts) OVER w >= INTERVAL 30 MINUTE THEN 1 ELSE 0 END AS new_s
        |  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |s AS (
        |  SELECT user_id, ts, value,
        |    SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
        |  FROM o)
        |SELECT user_id, MIN(ts) AS session_start,
        |  MAX(ts) + INTERVAL 30 MINUTE AS session_end,
        |  COUNT(*) AS n_events, CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS sum_value
        |FROM s GROUP BY user_id, sid ORDER BY user_id, session_start""".stripMargin,
    "evt_asof_purchase_signup" ->
      """SELECT event_id, user_id, ts, last_signup_ts FROM (
        |  SELECT event_id, user_id, ts, kind,
        |    max(CASE WHEN kind = 0 THEN ts END) OVER (
        |      PARTITION BY user_id ORDER BY ts, kind, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS last_signup_ts
        |  FROM (SELECT event_id, user_id, ts,
        |          CASE WHEN event_type = 'signup' THEN 0 ELSE 1 END AS kind
        |        FROM events WHERE event_type IN ('signup', 'purchase')) t) x
        |WHERE kind = 1 ORDER BY event_id""".stripMargin,
    // same oracle as evt_asof_purchase_signup: the merge-join operator
    // must reproduce the window formulation exactly
    "evt_asof_merge" ->
      """SELECT event_id, user_id, ts, last_signup_ts FROM (
        |  SELECT event_id, user_id, ts, kind,
        |    max(CASE WHEN kind = 0 THEN ts END) OVER (
        |      PARTITION BY user_id ORDER BY ts, kind, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS last_signup_ts
        |  FROM (SELECT event_id, user_id, ts,
        |          CASE WHEN event_type = 'signup' THEN 0 ELSE 1 END AS kind
        |        FROM events WHERE event_type IN ('signup', 'purchase')) t) x
        |WHERE kind = 1 ORDER BY event_id""".stripMargin,
    "evt_json_props" ->
      """SELECT event_type, COUNT(*) AS n,
        |  CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
        |  MAX(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS max_k
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
    // the VARIANT twin: identical values through DuckDB's JSON reads —
    // the engine-side difference is the parse-once binary encoding
    "evt_variant_props" ->
      """WITH k AS (
        |  SELECT event_type,
        |    CAST(json_extract_string(props, '$.k') AS BIGINT) AS k,
        |    CAST(json_extract_string(props, '$.missing') AS BIGINT) AS miss
        |  FROM events)
        |SELECT event_type, COUNT(*) AS n_events,
        |  COUNT(k) AS n_with_k,
        |  CAST(SUM(k) AS BIGINT) AS sum_k,
        |  MIN(k) AS min_k, MAX(k) AS max_k,
        |  COUNT(miss) AS n_missing_path
        |FROM k GROUP BY event_type ORDER BY event_type""".stripMargin,
    "evt_running_totals" ->
      """SELECT user_id, event_id, ts,
        |  CAST(SUM(CAST(value AS DECIMAL(12,2))) OVER (
        |    PARTITION BY user_id ORDER BY ts, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS running_value
        |FROM events ORDER BY user_id, event_id""".stripMargin,
    "evt_gaps" ->
      """SELECT user_id, event_id,
        |  epoch_ms(ts) - epoch_ms(lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)) AS gap_ms
        |FROM events ORDER BY user_id, event_id""".stripMargin,
    "evt_dedup_first" ->
      """SELECT user_id, event_type, MIN(event_id) AS first_event_id,
        |  MIN(ts) AS first_ts, COUNT(*) AS n
        |FROM events GROUP BY user_id, event_type
        |ORDER BY user_id, event_type""".stripMargin,
    "evt_pivot_types" ->
      """SELECT user_id,
        |  COUNT(*) FILTER (WHERE event_type = 'click') AS click,
        |  COUNT(*) FILTER (WHERE event_type = 'error') AS error,
        |  COUNT(*) FILTER (WHERE event_type = 'purchase') AS purchase,
        |  COUNT(*) FILTER (WHERE event_type = 'signup') AS signup,
        |  COUNT(*) FILTER (WHERE event_type = 'view') AS view
        |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin,
    // ordered funnel: each step's timestamp must strictly follow the
    // previous step's min timestamp
    "evt_funnel" ->
      """WITH e AS (SELECT user_id, event_type, ts FROM events),
        |t1 AS (SELECT user_id, MIN(ts) AS t1 FROM e
        |  WHERE event_type = 'view' GROUP BY user_id),
        |t2 AS (SELECT e.user_id, MIN(ts) AS t2 FROM e JOIN t1 USING (user_id)
        |  WHERE event_type = 'click' AND ts > t1 GROUP BY e.user_id),
        |t3 AS (SELECT e.user_id, MIN(ts) AS t3 FROM e JOIN t2 USING (user_id)
        |  WHERE event_type = 'purchase' AND ts > t2 GROUP BY e.user_id)
        |SELECT step, users FROM (
        |  SELECT '1_view' AS step, COUNT(*) AS users FROM t1
        |  UNION ALL SELECT '2_click', COUNT(*) FROM t2
        |  UNION ALL SELECT '3_purchase', COUNT(*) FROM t3) z
        |ORDER BY step""".stripMargin,
    // cohort = week of first event (date_trunc week = Monday in both
    // engines, session TZ UTC); offset in exact 7-day integer steps
    "evt_retention" ->
      """WITH u AS (
        |  SELECT user_id, date_trunc('week', MIN(ts)) AS cw
        |  FROM events GROUP BY user_id),
        |a AS (SELECT DISTINCT user_id, date_trunc('week', ts) AS w FROM events)
        |SELECT u.cw AS cohort_week,
        |  date_diff('day', u.cw, a.w) // 7 AS week_offset,
        |  COUNT(DISTINCT a.user_id) AS active_users
        |FROM a JOIN u USING (user_id)
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    // last-touch attribution: carry the latest click forward per user
    // (LAST_VALUE IGNORE NULLS over the same rows frame Spark uses),
    // 3-day lookback, organic fallback; revenue exact in DECIMAL(12,2)
    "evt_attribution" ->
      """WITH e AS (
        |  SELECT user_id, ts, event_id, event_type, value,
        |    CASE WHEN event_type = 'click' THEN ts END AS cts,
        |    CASE WHEN event_type = 'click'
        |      THEN 'ch' || COALESCE(CAST(CAST(json_extract_string(props, '$.k')
        |        AS BIGINT) % 4 AS VARCHAR), 'x') END AS ch
        |  FROM events),
        |w AS (
        |  SELECT *,
        |    LAST_VALUE(cts IGNORE NULLS) OVER
        |      (PARTITION BY user_id ORDER BY ts, event_id
        |       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS lcts,
        |    LAST_VALUE(ch IGNORE NULLS) OVER
        |      (PARTITION BY user_id ORDER BY ts, event_id
        |       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS lch
        |  FROM e)
        |SELECT
        |  CASE WHEN lcts IS NOT NULL
        |        AND epoch_ms(ts) - epoch_ms(lcts) <= 3 * 86400000
        |    THEN lch ELSE 'organic' END AS channel,
        |  COUNT(*) AS n_purchases,
        |  CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS revenue
        |FROM w WHERE event_type = 'purchase'
        |GROUP BY 1 ORDER BY channel""".stripMargin,
    // RFM quintiles: exact-integer metrics, rank formula
    // ((rank-1)*5) DIV n + 1 over (value, user_id) order — the same
    // quintile the engine's two-level numbering produces
    "evt_rfm" ->
      """WITH mx AS (SELECT MAX(epoch_ms(ts)) AS mx FROM events),
        |u AS (
        |  SELECT user_id,
        |    (ANY_VALUE(mx.mx) - MAX(epoch_ms(ts))) // 86400000 AS r,
        |    COUNT(*) AS f,
        |    COALESCE(CAST(SUM(CAST(value AS DECIMAL(12,2)) * 100)
        |      AS BIGINT), 0) AS m
        |  FROM events, mx GROUP BY user_id),
        |n AS (SELECT COUNT(*) AS n_users FROM u),
        |q AS (
        |  SELECT user_id,
        |    ((row_number() OVER (ORDER BY r, user_id) - 1) * 5)
        |      // (SELECT n_users FROM n) + 1 AS r_q,
        |    ((row_number() OVER (ORDER BY f, user_id) - 1) * 5)
        |      // (SELECT n_users FROM n) + 1 AS f_q,
        |    ((row_number() OVER (ORDER BY m, user_id) - 1) * 5)
        |      // (SELECT n_users FROM n) + 1 AS m_q
        |  FROM u)
        |SELECT user_id, r_q, f_q, m_q,
        |  r_q * 100 + f_q * 10 + m_q AS rfm_code
        |FROM q ORDER BY user_id""".stripMargin,
    // cohort LTV: weekly cohorts (retention's datediff-div-7 offsets),
    // cumulative BIGINT-cents revenue per cohort along the age axis
    "evt_ltv_cohort" ->
      """WITH co AS (
        |  SELECT user_id, date_trunc('week', MIN(ts)) AS cohort_week
        |  FROM events GROUP BY user_id),
        |sz AS (SELECT cohort_week, COUNT(*) AS n_users FROM co GROUP BY 1),
        |p AS (
        |  SELECT co.cohort_week,
        |    CAST(date_diff('day', co.cohort_week,
        |      date_trunc('week', e.ts)) // 7 AS BIGINT) AS age_wk,
        |    e.user_id,
        |    CAST(CAST(e.value AS DECIMAL(12,2)) * 100 AS BIGINT) AS cents
        |  FROM events e JOIN co USING (user_id)
        |  WHERE e.event_type = 'purchase'),
        |a AS (
        |  SELECT cohort_week, age_wk, COUNT(*) AS n_purchases,
        |    COUNT(DISTINCT user_id) AS buyers,
        |    COALESCE(CAST(SUM(cents) AS BIGINT), 0) AS rev_cents
        |  FROM p GROUP BY 1, 2),
        |w AS (
        |  SELECT a.cohort_week, a.age_wk, sz.n_users, a.n_purchases,
        |    a.buyers, a.rev_cents,
        |    CAST(SUM(a.rev_cents) OVER (PARTITION BY a.cohort_week
        |      ORDER BY a.age_wk ROWS BETWEEN UNBOUNDED PRECEDING AND
        |      CURRENT ROW) AS BIGINT) AS cum_rev_cents
        |  FROM a JOIN sz USING (cohort_week))
        |SELECT cohort_week, age_wk, n_users, n_purchases, buyers, rev_cents,
        |  cum_rev_cents, cum_rev_cents // n_users AS ltv_cents_per_user
        |FROM w ORDER BY cohort_week, age_wk""".stripMargin,
    // U-shaped multi-touch: integer basis-point split 4000/2000/4000,
    // floor remainder folded into the last touch — sums to 10000 exactly
    "evt_position_attribution" ->
      """WITH p AS (
        |  SELECT event_id AS pid, user_id, ts AS pts,
        |    CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT) AS cents
        |  FROM events WHERE event_type = 'purchase'),
        |c AS (
        |  SELECT user_id, ts AS cts, event_id AS cid,
        |    'ch' || COALESCE(CAST(CAST(json_extract_string(props, '$.k')
        |      AS BIGINT) % 4 AS VARCHAR), 'x') AS channel
        |  FROM events WHERE event_type = 'click'),
        |j AS (
        |  SELECT p.pid, p.cents, c.cts, c.cid, c.channel
        |  FROM p LEFT JOIN c ON p.user_id = c.user_id AND c.cts <= p.pts
        |    AND epoch_ms(p.pts) - epoch_ms(c.cts) <= 3 * 86400000),
        |r AS (
        |  SELECT pid, cents, channel, cid,
        |    CASE WHEN cid IS NOT NULL THEN
        |      row_number() OVER (PARTITION BY pid ORDER BY cts, cid) END AS pos,
        |    COUNT(cid) OVER (PARTITION BY pid) AS k
        |  FROM j),
        |cr AS (
        |  SELECT COALESCE(channel, 'organic') AS channel, cents,
        |    CAST(CASE WHEN k <= 1 THEN 10000 WHEN k = 2 THEN 5000
        |      WHEN pos = 1 THEN 4000
        |      WHEN pos = k THEN 4000 + 2000 - (k - 2) * (2000 // (k - 2))
        |      ELSE 2000 // (k - 2) END AS BIGINT) AS credit_bp
        |  FROM r)
        |SELECT channel, COUNT(*) AS n_credits,
        |  CAST(SUM(credit_bp) AS BIGINT) AS credit_bp_sum,
        |  CAST(SUM(cents * credit_bp) AS BIGINT) AS rev_cents_bp,
        |  CAST(SUM(cents * credit_bp) AS BIGINT) // 10000 AS rev_cents
        |FROM cr GROUP BY channel ORDER BY channel""".stripMargin,
    // Markov removal-effect attribution: transition probs in exact ppm,
    // 6 absorption steps unrolled with per-edge floor — BIGINT all the way
    "evt_markov_attribution" ->
      """WITH seq AS (
        |  SELECT user_id, ts, event_id,
        |    CASE WHEN event_type = 'purchase' THEN 'conv'
        |      ELSE 'ch' || COALESCE(CAST(CAST(json_extract_string(props, '$.k')
        |        AS BIGINT) % 4 AS VARCHAR), 'x') END AS state
        |  FROM events WHERE event_type IN ('click', 'purchase')),
        |s2 AS (
        |  SELECT user_id, ts, event_id, state,
        |    COUNT(CASE WHEN state = 'conv' THEN 1 END) OVER
        |      (PARTITION BY user_id ORDER BY ts, event_id
        |       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS cb
        |  FROM seq),
        |s3 AS (
        |  SELECT state,
        |    COALESCE(lag(state) OVER (PARTITION BY user_id
        |      ORDER BY ts, event_id), 'start') AS prev,
        |    lead(state) OVER (PARTITION BY user_id
        |      ORDER BY ts, event_id) IS NULL AS is_last
        |  FROM s2 WHERE cb = 0),
        |tr AS (SELECT src, dst, COUNT(*) AS cnt FROM (
        |    SELECT prev AS src, state AS dst FROM s3
        |    UNION ALL
        |    SELECT state, 'null' FROM s3 WHERE is_last AND state <> 'conv')
        |  GROUP BY src, dst),
        |deg AS (SELECT src, CAST(SUM(cnt) AS BIGINT) AS deg FROM tr GROUP BY src),
        |tp AS (SELECT tr.src, tr.dst, cnt * 1000000 // deg AS t_ppm
        |  FROM tr JOIN deg USING (src)),
        |scen AS (
        |  SELECT DISTINCT ch AS removed FROM (
        |    SELECT src AS ch FROM tp UNION ALL SELECT dst FROM tp)
        |  WHERE ch NOT IN ('start', 'conv', 'null')
        |  UNION ALL SELECT 'none'),
        |edges AS (
        |  SELECT removed, src, dst, CAST(SUM(t_ppm) AS BIGINT) AS t_ppm FROM (
        |    SELECT s.removed, t.src,
        |      CASE WHEN t.dst = s.removed THEN 'null' ELSE t.dst END AS dst,
        |      t.t_ppm
        |    FROM scen s CROSS JOIN tp t
        |    UNION ALL
        |    SELECT s.removed, x.src, x.dst, CAST(x.t_ppm AS BIGINT)
        |    FROM scen s CROSS JOIN (VALUES ('conv', 'conv', 1000000),
        |      ('null', 'null', 1000000)) AS x(src, dst, t_ppm))
        |  GROUP BY removed, src, dst),
        |p0 AS (SELECT removed, 'start' AS state,
        |  CAST(1000000 AS BIGINT) AS p_ppm FROM scen),
        |p1 AS (SELECT e.removed, e.dst AS state,
        |  CAST(SUM(p.p_ppm * e.t_ppm // 1000000) AS BIGINT) AS p_ppm
        |  FROM p0 p JOIN edges e ON p.removed = e.removed AND p.state = e.src
        |  GROUP BY 1, 2),
        |p2 AS (SELECT e.removed, e.dst AS state,
        |  CAST(SUM(p.p_ppm * e.t_ppm // 1000000) AS BIGINT) AS p_ppm
        |  FROM p1 p JOIN edges e ON p.removed = e.removed AND p.state = e.src
        |  GROUP BY 1, 2),
        |p3 AS (SELECT e.removed, e.dst AS state,
        |  CAST(SUM(p.p_ppm * e.t_ppm // 1000000) AS BIGINT) AS p_ppm
        |  FROM p2 p JOIN edges e ON p.removed = e.removed AND p.state = e.src
        |  GROUP BY 1, 2),
        |p4 AS (SELECT e.removed, e.dst AS state,
        |  CAST(SUM(p.p_ppm * e.t_ppm // 1000000) AS BIGINT) AS p_ppm
        |  FROM p3 p JOIN edges e ON p.removed = e.removed AND p.state = e.src
        |  GROUP BY 1, 2),
        |p5 AS (SELECT e.removed, e.dst AS state,
        |  CAST(SUM(p.p_ppm * e.t_ppm // 1000000) AS BIGINT) AS p_ppm
        |  FROM p4 p JOIN edges e ON p.removed = e.removed AND p.state = e.src
        |  GROUP BY 1, 2),
        |p6 AS (SELECT e.removed, e.dst AS state,
        |  CAST(SUM(p.p_ppm * e.t_ppm // 1000000) AS BIGINT) AS p_ppm
        |  FROM p5 p JOIN edges e ON p.removed = e.removed AND p.state = e.src
        |  GROUP BY 1, 2),
        |conv AS (SELECT removed, p_ppm AS p_conv_ppm FROM p6
        |  WHERE state = 'conv'),
        |base AS (SELECT p_conv_ppm AS p_base_ppm FROM conv
        |  WHERE removed = 'none'),
        |eff AS (
        |  SELECT removed AS channel, p_conv_ppm, p_base_ppm,
        |    p_base_ppm - p_conv_ppm AS removal_ppm
        |  FROM conv, base WHERE removed <> 'none'),
        |tot AS (SELECT CAST(SUM(removal_ppm) AS BIGINT) AS tot_removal FROM eff)
        |SELECT channel, p_conv_ppm, p_base_ppm, removal_ppm,
        |  removal_ppm * 10000 // NULLIF(tot_removal, 0) AS share_bp
        |FROM eff, tot ORDER BY channel""".stripMargin,
    // MATCH_RECOGNIZE-lite: journeys as order-pinned symbol strings,
    // patterns in the Java-regex ∩ RE2 common subset
    "evt_sequence_match" ->
      """WITH j AS (
        |  SELECT user_id, string_agg(
        |    CASE event_type WHEN 'view' THEN 'V' WHEN 'click' THEN 'C'
        |      WHEN 'purchase' THEN 'P' WHEN 'signup' THEN 'S'
        |      WHEN 'error' THEN 'E' ELSE 'O' END,
        |    '' ORDER BY ts, event_id) AS journey
        |  FROM events GROUP BY user_id),
        |m AS (
        |  SELECT CAST(COUNT(*) AS BIGINT) AS n_users,
        |    CAST(COUNT(CASE WHEN regexp_matches(journey, 'V.*C.*P')
        |      THEN 1 END) AS BIGINT) AS m_funnel,
        |    CAST(COUNT(CASE WHEN regexp_matches(journey, 'CP')
        |      THEN 1 END) AS BIGINT) AS m_impulse,
        |    CAST(COUNT(CASE WHEN regexp_matches(journey, 'E.*P')
        |      THEN 1 END) AS BIGINT) AS m_error,
        |    CAST(COUNT(CASE WHEN regexp_matches(journey, '^S')
        |      THEN 1 END) AS BIGINT) AS m_signup,
        |    CAST(COUNT(CASE WHEN regexp_matches(journey, 'P.*P')
        |      THEN 1 END) AS BIGINT) AS m_repeat
        |  FROM j),
        |rows_ AS (
        |  SELECT 'funnel_view_click_purchase' AS pattern, m_funnel AS n_matched,
        |    n_users FROM m
        |  UNION ALL SELECT 'impulse_click_purchase', m_impulse, n_users FROM m
        |  UNION ALL SELECT 'error_then_purchase', m_error, n_users FROM m
        |  UNION ALL SELECT 'starts_with_signup', m_signup, n_users FROM m
        |  UNION ALL SELECT 'repeat_purchaser', m_repeat, n_users FROM m)
        |SELECT pattern, n_matched, n_users,
        |  n_matched * 10000 // n_users AS share_bp
        |FROM rows_ ORDER BY pattern""".stripMargin,
    // Holt linear smoothing: milli-scaled BIGINT recurrence, truncating
    // division both sides (Spark DIV == DuckDB // == toward zero)
    "evt_holt_linear" ->
      """WITH RECURSIVE daily AS (
        |  SELECT strftime(ts, '%Y-%m-%d') AS day,
        |    CAST(COUNT(*) AS BIGINT) AS y
        |  FROM events GROUP BY 1),
        |idx AS (SELECT CAST(row_number() OVER (ORDER BY day) AS BIGINT) AS i,
        |  day, y FROM daily),
        |h AS (
        |  SELECT i.i, i.day, i.y,
        |    CAST(i.y * 1000 AS BIGINT) AS l,
        |    CAST((i2.y - i.y) * 1000 AS BIGINT) AS b
        |  FROM idx i JOIN idx i2 ON i2.i = 2 WHERE i.i = 1
        |  UNION ALL
        |  SELECT d.i, d.day, d.y,
        |    CAST((300 * d.y * 1000 + 700 * (h.l + h.b)) // 1000 AS BIGINT),
        |    CAST((200 * ((300 * d.y * 1000 + 700 * (h.l + h.b)) // 1000 - h.l)
        |      + 800 * h.b) // 1000 AS BIGINT)
        |  FROM h JOIN idx d ON d.i = h.i + 1)
        |SELECT day, y, l AS level_milli, b AS trend_milli,
        |  l + b AS forecast_milli
        |FROM h ORDER BY day""".stripMargin,
    // DAU / rolling-28-day MAU: the oracle spells MAU as the brute
    // range-join COUNT(DISTINCT) the engine's disjoint-interval explode
    // provably equals; stickiness in integer basis points
    "evt_dau_mau" ->
      """WITH p AS (
        |  SELECT DISTINCT user_id, epoch_ms(ts) // 86400000 AS day
        |  FROM events),
        |spine AS (
        |  SELECT unnest(range(MIN(day), MAX(day) + 1)) AS day FROM p),
        |dau AS (SELECT day, COUNT(*) AS dau FROM p GROUP BY day),
        |mau AS (
        |  SELECT s.day, COUNT(DISTINCT p.user_id) AS mau
        |  FROM spine s JOIN p ON p.day BETWEEN s.day - 27 AND s.day
        |  GROUP BY s.day)
        |SELECT s.day,
        |  COALESCE(dau.dau, 0) AS dau,
        |  COALESCE(mau.mau, 0) AS mau,
        |  CASE WHEN COALESCE(mau.mau, 0) > 0
        |    THEN COALESCE(dau.dau, 0) * 10000 // mau.mau
        |    ELSE 0 END AS stickiness_bp
        |FROM spine s LEFT JOIN mau USING (day) LEFT JOIN dau USING (day)
        |ORDER BY day""".stripMargin,
    // Kaplan-Meier time-to-first-purchase: never-purchasers censored at
    // their last observed day; survival = ordered cumulative product of
    // (n_risk - d)/n_risk, folded ascending-t from 1.0 in BOTH engines
    "evt_survival" ->
      """WITH u AS (SELECT user_id,
        |    MIN(epoch_ms(ts) // 86400000) AS d0,
        |    MAX(epoch_ms(ts) // 86400000) AS d1,
        |    MIN(CASE WHEN event_type = 'purchase'
        |        THEN epoch_ms(ts) // 86400000 END) AS p0
        |  FROM events GROUP BY user_id),
        |uu AS (SELECT
        |    CASE WHEN p0 IS NOT NULL THEN p0 - d0 ELSE d1 - d0 END AS dur,
        |    CASE WHEN p0 IS NOT NULL THEN 1 ELSE 0 END AS churned
        |  FROM u),
        |tot AS (SELECT COUNT(*) AS n FROM uu),
        |byt AS (SELECT dur, COUNT(*) AS n_at,
        |    CAST(SUM(churned) AS BIGINT) AS d
        |  FROM uu GROUP BY dur),
        |r AS (SELECT dur, n_at, d,
        |    CAST(n - COALESCE(SUM(n_at) OVER (ORDER BY dur
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |      AS BIGINT) AS n_risk
        |  FROM byt, tot),
        |f AS (SELECT dur, n_risk, d,
        |    CAST(n_risk - d AS DOUBLE) / n_risk AS factor
        |  FROM r WHERE d > 0)
        |SELECT dur AS t_days, n_risk, d AS n_events,
        |  list_reduce(list_prepend(1.0, list(factor) OVER (ORDER BY dur
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
        |    (a, b) -> a * b) AS survival
        |FROM f ORDER BY t_days""".stripMargin,
    // session 3-step paths: 30-min gap sessionization + two leads over
    // the same user window; in-session iff lead(sn,2) = sn
    "evt_path_analysis" ->
      """WITH b AS (SELECT user_id, event_id, event_type,
        |    epoch_ms(ts) AS ts_ms FROM events),
        |s AS (SELECT *, CASE WHEN prev_ms IS NULL
        |      OR ts_ms - prev_ms > 1800000 THEN 1 ELSE 0 END AS new_s
        |  FROM (SELECT *, lag(ts_ms) OVER
        |      (PARTITION BY user_id ORDER BY ts_ms, event_id) AS prev_ms
        |    FROM b) z),
        |t AS (SELECT *, SUM(new_s) OVER (PARTITION BY user_id
        |    ORDER BY ts_ms, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sn
        |  FROM s),
        |g AS (SELECT event_type AS t1,
        |    lead(event_type, 1) OVER w AS t2,
        |    lead(event_type, 2) OVER w AS t3,
        |    sn, lead(sn, 2) OVER w AS sn3
        |  FROM t WINDOW w AS (PARTITION BY user_id ORDER BY ts_ms, event_id))
        |SELECT t1 || '>' || t2 || '>' || t3 AS path, COUNT(*) AS n
        |FROM g WHERE sn3 = sn
        |GROUP BY 1 ORDER BY n DESC, path LIMIT 20""".stripMargin,
    // degree-oriented triangle counting over the block-clique formula
    // graph: orient edges from the (degree, id)-smaller endpoint, wedge
    // self-join on the low endpoint, close against the undirected edges
    "graph_triangles" ->
      """WITH d AS (SELECT doc_id FROM documents),
        |n AS (SELECT COUNT(*) AS c FROM d),
        |und AS (
        |  SELECT doc_id AS a, doc_id + 1 AS b FROM d, n
        |  WHERE doc_id % 4 < 3 AND doc_id + 1 < c
        |  UNION ALL
        |  SELECT doc_id, doc_id + 2 FROM d, n
        |  WHERE doc_id % 4 < 2 AND doc_id + 2 < c),
        |deg AS (SELECT x, COUNT(*) AS dg FROM (
        |  SELECT a AS x FROM und UNION ALL SELECT b FROM und) GROUP BY x),
        |o AS (
        |  SELECT CASE WHEN da.dg < db.dg OR (da.dg = db.dg AND u.a < u.b)
        |           THEN u.a ELSE u.b END AS lo,
        |         CASE WHEN da.dg < db.dg OR (da.dg = db.dg AND u.a < u.b)
        |           THEN u.b ELSE u.a END AS hi
        |  FROM und u JOIN deg da ON da.x = u.a JOIN deg db ON db.x = u.b),
        |tri AS (
        |  SELECT e1.lo AS x, e1.hi AS y, e2.hi AS z
        |  FROM o e1 JOIN o e2 ON e1.lo = e2.lo AND e1.hi < e2.hi
        |  JOIN und t ON t.a = LEAST(e1.hi, e2.hi) AND t.b = GREATEST(e1.hi, e2.hi))
        |SELECT node, COUNT(*) AS n_tri FROM (
        |  SELECT x AS node FROM tri UNION ALL SELECT y FROM tri
        |  UNION ALL SELECT z FROM tri)
        |GROUP BY node ORDER BY n_tri DESC, node LIMIT 20""".stripMargin,
    // local clustering coefficient: same oriented wedge join, per-node
    // triangle corners outer-joined to the degree table, cc in floored
    // synchronous LPA, 3 unrolled rounds over the rankEdges graph:
    // per round each node adopts its neighbors' most frequent label,
    // ties to the smallest label (deterministic min-tie LPA)
    "graph_label_prop" ->
      """WITH nn AS (SELECT COUNT(*) AS n FROM documents),
        |e AS (
        |  SELECT doc_id AS src, (doc_id * 7 + 1) % n AS dst FROM documents CROSS JOIN nn
        |  UNION ALL
        |  SELECT doc_id, (doc_id * 13 + 3) % n FROM documents CROSS JOIN nn
        |  UNION ALL
        |  SELECT doc_id, (doc_id * 3 + 5) % n FROM documents CROSS JOIN nn
        |  WHERE doc_id % 2 = 0),
        |und AS (SELECT src AS v, dst AS u FROM e
        |        UNION ALL SELECT dst, src FROM e),
        |l0 AS (SELECT doc_id AS node, doc_id AS lbl FROM documents),
        |r1 AS (SELECT l.node, COALESCE(a.lbl, l.lbl) AS lbl FROM l0 l LEFT JOIN (
        |    SELECT v AS node, lbl FROM (
        |      SELECT und.v, l.lbl, COUNT(*) AS c,
        |        row_number() OVER (PARTITION BY und.v
        |          ORDER BY COUNT(*) DESC, l.lbl) AS rn
        |      FROM und JOIN l0 l ON l.node = und.u GROUP BY und.v, l.lbl) z
        |    WHERE rn = 1) a ON a.node = l.node),
        |r2 AS (SELECT l.node, COALESCE(a.lbl, l.lbl) AS lbl FROM r1 l LEFT JOIN (
        |    SELECT v AS node, lbl FROM (
        |      SELECT und.v, l.lbl, COUNT(*) AS c,
        |        row_number() OVER (PARTITION BY und.v
        |          ORDER BY COUNT(*) DESC, l.lbl) AS rn
        |      FROM und JOIN r1 l ON l.node = und.u GROUP BY und.v, l.lbl) z
        |    WHERE rn = 1) a ON a.node = l.node),
        |r3 AS (SELECT l.node, COALESCE(a.lbl, l.lbl) AS lbl FROM r2 l LEFT JOIN (
        |    SELECT v AS node, lbl FROM (
        |      SELECT und.v, l.lbl, COUNT(*) AS c,
        |        row_number() OVER (PARTITION BY und.v
        |          ORDER BY COUNT(*) DESC, l.lbl) AS rn
        |      FROM und JOIN r2 l ON l.node = und.u GROUP BY und.v, l.lbl) z
        |    WHERE rn = 1) a ON a.node = l.node)
        |SELECT node, lbl FROM r3 ORDER BY node""".stripMargin,
    // ANF neighbourhood function: the bottom-k sketches are EXACT below
    // capacity (max 2-hop closed neighbourhood is 26 < k=64 at test
    // SFs), so the oracle counts exact pairs via the reflexive-closure
    // join; avg is floored integer milli-units
    "graph_anf" ->
      """WITH d AS (SELECT doc_id FROM documents),
        |nn AS (SELECT COUNT(*) AS n FROM d),
        |e AS (
        |  SELECT doc_id AS src, (doc_id * 7 + 1) % n AS dst FROM d CROSS JOIN nn
        |  UNION ALL
        |  SELECT doc_id, (doc_id * 13 + 3) % n FROM d CROSS JOIN nn
        |  UNION ALL
        |  SELECT doc_id, (doc_id * 3 + 5) % n FROM d CROSS JOIN nn
        |  WHERE doc_id % 2 = 0),
        |und AS (SELECT src AS v, dst AS u FROM e
        |        UNION SELECT dst, src FROM e
        |        UNION SELECT doc_id, doc_id FROM d),
        |h1 AS (SELECT CAST(COUNT(*) AS BIGINT) AS nf_pairs FROM und),
        |h2 AS (SELECT CAST(COUNT(*) AS BIGINT) AS nf_pairs FROM (
        |  SELECT DISTINCT a.v, b.u FROM und a JOIN und b ON a.u = b.v)),
        |r AS (
        |  SELECT CAST(1 AS BIGINT) AS radius, nf_pairs FROM h1
        |  UNION ALL
        |  SELECT CAST(2 AS BIGINT), nf_pairs FROM h2)
        |SELECT radius, nf_pairs,
        |  CAST(nf_pairs * 1000 // (SELECT n FROM nn) AS BIGINT) AS avg_size_milli
        |FROM r ORDER BY radius""".stripMargin,
    // HITS unrolled 2 rounds: unnormalized power steps over exact
    // integers (normalization is a rank-preserving global scalar both
    // engines skip), multi-edges contribute per copy
    "graph_hits" ->
      """WITH nodes AS (SELECT doc_id AS node FROM documents),
        |nn AS (SELECT COUNT(*) AS n FROM documents),
        |e AS (
        |  SELECT doc_id AS src, (doc_id * 7 + 1) % n AS dst FROM documents CROSS JOIN nn
        |  UNION ALL
        |  SELECT doc_id, (doc_id * 13 + 3) % n FROM documents CROSS JOIN nn
        |  UNION ALL
        |  SELECT doc_id, (doc_id * 3 + 5) % n FROM documents CROSS JOIN nn
        |  WHERE doc_id % 2 = 0),
        |h0 AS (SELECT node, CAST(1 AS BIGINT) AS hub FROM nodes),
        |a1 AS (SELECT n1.node, CAST(COALESCE(s.s, 0) AS BIGINT) AS auth
        |       FROM nodes n1 LEFT JOIN (
        |         SELECT e.dst, SUM(h.hub) AS s FROM e JOIN h0 h ON h.node = e.src
        |         GROUP BY e.dst) s ON s.dst = n1.node),
        |h1 AS (SELECT n1.node, CAST(COALESCE(s.s, 0) AS BIGINT) AS hub
        |       FROM nodes n1 LEFT JOIN (
        |         SELECT e.src, SUM(a.auth) AS s FROM e JOIN a1 a ON a.node = e.dst
        |         GROUP BY e.src) s ON s.src = n1.node),
        |a2 AS (SELECT n1.node, CAST(COALESCE(s.s, 0) AS BIGINT) AS auth
        |       FROM nodes n1 LEFT JOIN (
        |         SELECT e.dst, SUM(h.hub) AS s FROM e JOIN h1 h ON h.node = e.src
        |         GROUP BY e.dst) s ON s.dst = n1.node),
        |h2 AS (SELECT n1.node, CAST(COALESCE(s.s, 0) AS BIGINT) AS hub
        |       FROM nodes n1 LEFT JOIN (
        |         SELECT e.src, SUM(a.auth) AS s FROM e JOIN a2 a ON a.node = e.dst
        |         GROUP BY e.src) s ON s.src = n1.node)
        |SELECT a2.node AS node, a2.auth AS auth, h2.hub AS hub
        |FROM a2 JOIN h2 ON a2.node = h2.node
        |ORDER BY 2 DESC, 3 DESC, 1 LIMIT 20""".stripMargin,
    // wedge join on the shared-neighbor center over the triangle graph;
    // the deg<=64 center cap mirrors the Spark hub-cap (a no-op here —
    // max degree is 3 — but part of the operator's contract)
    "graph_link_predict" ->
      """WITH d AS (SELECT doc_id FROM documents),
        |n AS (SELECT COUNT(*) AS c FROM d),
        |und AS (
        |  SELECT doc_id AS a, doc_id + 1 AS b FROM d, n
        |  WHERE doc_id % 4 < 3 AND doc_id + 1 < c
        |  UNION ALL
        |  SELECT doc_id, doc_id + 2 FROM d, n
        |  WHERE doc_id % 4 < 2 AND doc_id + 2 < c),
        |adj AS (SELECT a AS node, b AS nbr FROM und
        |        UNION ALL SELECT b, a FROM und),
        |deg AS (SELECT node, COUNT(*) AS dg FROM adj GROUP BY node),
        |ctr AS (SELECT adj.nbr AS c0, adj.node AS x
        |        FROM adj JOIN deg ON deg.node = adj.nbr WHERE deg.dg <= 64),
        |cand AS (
        |  SELECT c1.x AS x, c2.x AS y, CAST(COUNT(*) AS BIGINT) AS cn
        |  FROM ctr c1 JOIN ctr c2 ON c1.c0 = c2.c0 AND c1.x < c2.x
        |  GROUP BY 1, 2),
        |nc AS (SELECT cand.x, cand.y, cand.cn FROM cand
        |       WHERE NOT EXISTS (SELECT 1 FROM und
        |                         WHERE und.a = cand.x AND und.b = cand.y))
        |SELECT nc.x AS a, nc.y AS b, nc.cn AS cn,
        |  CAST(nc.cn * 10000 // (dx.dg + dy.dg - nc.cn) AS BIGINT) AS jaccard_bp,
        |  CAST(dx.dg * dy.dg AS BIGINT) AS pref_attach
        |FROM nc JOIN deg dx ON dx.node = nc.x JOIN deg dy ON dy.node = nc.y
        |ORDER BY cn DESC, jaccard_bp DESC, a, b LIMIT 20""".stripMargin,
    // 3 unrolled peel rounds at k = 3 over the symmetrized, self-loop-
    // free rank graph: survivors = degree >= 3, then both-endpoint edge
    // filter; n_edges halves the directed count
    "graph_kcore" ->
      """WITH d AS (SELECT doc_id FROM documents),
        |nn AS (SELECT COUNT(*) AS n FROM d),
        |e0 AS (
        |  SELECT doc_id AS src, (doc_id * 7 + 1) % n AS dst FROM d CROSS JOIN nn
        |  UNION ALL
        |  SELECT doc_id, (doc_id * 13 + 3) % n FROM d CROSS JOIN nn
        |  UNION ALL
        |  SELECT doc_id, (doc_id * 3 + 5) % n FROM d CROSS JOIN nn
        |  WHERE doc_id % 2 = 0),
        |und AS (SELECT src AS v, dst AS u FROM e0 WHERE src <> dst
        |        UNION SELECT dst, src FROM e0 WHERE src <> dst),
        |s1 AS (SELECT v FROM und GROUP BY v HAVING COUNT(*) >= 3),
        |l1 AS (SELECT und.v, und.u FROM und
        |       WHERE und.v IN (SELECT v FROM s1) AND und.u IN (SELECT v FROM s1)),
        |s2 AS (SELECT v FROM l1 GROUP BY v HAVING COUNT(*) >= 3),
        |l2 AS (SELECT l1.v, l1.u FROM l1
        |       WHERE l1.v IN (SELECT v FROM s2) AND l1.u IN (SELECT v FROM s2)),
        |s3 AS (SELECT v FROM l2 GROUP BY v HAVING COUNT(*) >= 3),
        |l3 AS (SELECT l2.v, l2.u FROM l2
        |       WHERE l2.v IN (SELECT v FROM s3) AND l2.u IN (SELECT v FROM s3)),
        |c AS (SELECT
        |  (SELECT n FROM nn) AS n0,
        |  (SELECT COUNT(*) FROM s1) AS a1, (SELECT COUNT(*) FROM l1) AS e1,
        |  (SELECT COUNT(*) FROM s2) AS a2, (SELECT COUNT(*) FROM l2) AS e2,
        |  (SELECT COUNT(*) FROM s3) AS a3, (SELECT COUNT(*) FROM l3) AS e3)
        |SELECT * FROM (
        |  SELECT CAST(1 AS BIGINT) AS round, CAST(n0 - a1 AS BIGINT) AS n_removed,
        |    CAST(a1 AS BIGINT) AS n_alive, CAST(e1 // 2 AS BIGINT) AS n_edges FROM c
        |  UNION ALL
        |  SELECT 2, a1 - a2, a2, e2 // 2 FROM c
        |  UNION ALL
        |  SELECT 3, a2 - a3, a3, e3 // 2 FROM c)
        |ORDER BY round""".stripMargin,
    // basis points (degree-1 nodes emit 0)
    "graph_clustering" ->
      """WITH d AS (SELECT doc_id FROM documents),
        |n AS (SELECT COUNT(*) AS c FROM d),
        |und AS (
        |  SELECT doc_id AS a, doc_id + 1 AS b FROM d, n
        |  WHERE doc_id % 4 < 3 AND doc_id + 1 < c
        |  UNION ALL
        |  SELECT doc_id, doc_id + 2 FROM d, n
        |  WHERE doc_id % 4 < 2 AND doc_id + 2 < c),
        |deg AS (SELECT x, COUNT(*) AS dg FROM (
        |  SELECT a AS x FROM und UNION ALL SELECT b FROM und) GROUP BY x),
        |o AS (
        |  SELECT CASE WHEN da.dg < db.dg OR (da.dg = db.dg AND u.a < u.b)
        |           THEN u.a ELSE u.b END AS lo,
        |         CASE WHEN da.dg < db.dg OR (da.dg = db.dg AND u.a < u.b)
        |           THEN u.b ELSE u.a END AS hi
        |  FROM und u JOIN deg da ON da.x = u.a JOIN deg db ON db.x = u.b),
        |tri AS (
        |  SELECT e1.lo AS x, e1.hi AS y, e2.hi AS z
        |  FROM o e1 JOIN o e2 ON e1.lo = e2.lo AND e1.hi < e2.hi
        |  JOIN und t ON t.a = LEAST(e1.hi, e2.hi) AND t.b = GREATEST(e1.hi, e2.hi)),
        |tc AS (SELECT node, COUNT(*) AS n_tri FROM (
        |  SELECT x AS node FROM tri UNION ALL SELECT y FROM tri
        |  UNION ALL SELECT z FROM tri) GROUP BY node)
        |SELECT deg.x AS node, CAST(deg.dg AS BIGINT) AS degree,
        |  CAST(COALESCE(tc.n_tri, 0) AS BIGINT) AS n_tri,
        |  CAST(CASE WHEN deg.dg >= 2
        |    THEN (2 * COALESCE(tc.n_tri, 0) * 10000) // (deg.dg * (deg.dg - 1))
        |    ELSE 0 END AS BIGINT) AS cc_bp
        |FROM deg LEFT JOIN tc ON tc.node = deg.x
        |ORDER BY node""".stripMargin,
    "graph_frontier_bfs" ->
      """WITH RECURSIVE
        |edges AS (
        |  SELECT doc_id AS src,
        |    (doc_id * 7 + 1) % (SELECT COUNT(*) FROM documents) AS dst
        |  FROM documents),
        |reach(node, depth) AS (
        |  SELECT CAST(0 AS BIGINT) AS node, 0 AS depth
        |  UNION
        |  SELECT e.dst AS node, r.depth + 1 AS depth
        |  FROM reach r JOIN edges e ON e.src = r.node WHERE r.depth < 6)
        |SELECT node, MIN(depth) AS depth FROM reach GROUP BY node ORDER BY node""".stripMargin,
    // integer-scaled PageRank, 3 unrolled power iterations: ranks ×1e6,
    // contribution = rank // outdeg, damping = 150000 + (85·Σ) // 100 —
    // all-BIGINT floor arithmetic, identical in both engines
    // personalized PageRank: same integer iteration as graph_pagerank,
    // rank mass started at and teleported to the doc_id mod-97 seeds
    "graph_ppr" ->
      """WITH nodes AS (SELECT doc_id AS node, doc_id % 97 = 0 AS is_seed FROM documents),
        |nn AS (SELECT COUNT(*) AS n FROM documents),
        |edges AS (
        |  SELECT doc_id AS src, (doc_id * 7 + 1) % n AS dst FROM documents CROSS JOIN nn
        |  UNION ALL
        |  SELECT doc_id, (doc_id * 13 + 3) % n FROM documents CROSS JOIN nn
        |  UNION ALL
        |  SELECT doc_id, (doc_id * 3 + 5) % n FROM documents CROSS JOIN nn
        |  WHERE doc_id % 2 = 0),
        |deg AS (SELECT src, COUNT(*) AS outdeg FROM edges GROUP BY src),
        |it0 AS (SELECT node, is_seed,
        |  CAST(CASE WHEN is_seed THEN 1000000 ELSE 0 END AS BIGINT) AS pr FROM nodes),
        |it1 AS (
        |  SELECT n1.node, n1.is_seed,
        |    CAST(CASE WHEN n1.is_seed THEN 150000 ELSE 0 END
        |      + (85 * COALESCE(s.cs, 0)) // 100 AS BIGINT) AS pr
        |  FROM nodes n1 LEFT JOIN (
        |    SELECT e.dst, SUM(p.pr // d.outdeg) AS cs
        |    FROM edges e JOIN deg d ON e.src = d.src JOIN it0 p ON p.node = e.src
        |    GROUP BY e.dst) s ON s.dst = n1.node),
        |it2 AS (
        |  SELECT n1.node, n1.is_seed,
        |    CAST(CASE WHEN n1.is_seed THEN 150000 ELSE 0 END
        |      + (85 * COALESCE(s.cs, 0)) // 100 AS BIGINT) AS pr
        |  FROM nodes n1 LEFT JOIN (
        |    SELECT e.dst, SUM(p.pr // d.outdeg) AS cs
        |    FROM edges e JOIN deg d ON e.src = d.src JOIN it1 p ON p.node = e.src
        |    GROUP BY e.dst) s ON s.dst = n1.node),
        |it3 AS (
        |  SELECT n1.node, n1.is_seed,
        |    CAST(CASE WHEN n1.is_seed THEN 150000 ELSE 0 END
        |      + (85 * COALESCE(s.cs, 0)) // 100 AS BIGINT) AS pr
        |  FROM nodes n1 LEFT JOIN (
        |    SELECT e.dst, SUM(p.pr // d.outdeg) AS cs
        |    FROM edges e JOIN deg d ON e.src = d.src JOIN it2 p ON p.node = e.src
        |    GROUP BY e.dst) s ON s.dst = n1.node)
        |SELECT node, pr FROM it3 ORDER BY node""".stripMargin,
    "graph_pagerank" ->
      """WITH nodes AS (SELECT doc_id AS node FROM documents),
        |nn AS (SELECT COUNT(*) AS n FROM documents),
        |edges AS (
        |  SELECT doc_id AS src, (doc_id * 7 + 1) % n AS dst FROM documents CROSS JOIN nn
        |  UNION ALL
        |  SELECT doc_id, (doc_id * 13 + 3) % n FROM documents CROSS JOIN nn
        |  UNION ALL
        |  SELECT doc_id, (doc_id * 3 + 5) % n FROM documents CROSS JOIN nn
        |  WHERE doc_id % 2 = 0),
        |deg AS (SELECT src, COUNT(*) AS outdeg FROM edges GROUP BY src),
        |it0 AS (SELECT node, CAST(1000000 AS BIGINT) AS pr FROM nodes),
        |it1 AS (
        |  SELECT n1.node, CAST(150000 + (85 * COALESCE(s.cs, 0)) // 100 AS BIGINT) AS pr
        |  FROM nodes n1 LEFT JOIN (
        |    SELECT e.dst, SUM(p.pr // d.outdeg) AS cs
        |    FROM edges e JOIN deg d ON e.src = d.src JOIN it0 p ON p.node = e.src
        |    GROUP BY e.dst) s ON s.dst = n1.node),
        |it2 AS (
        |  SELECT n1.node, CAST(150000 + (85 * COALESCE(s.cs, 0)) // 100 AS BIGINT) AS pr
        |  FROM nodes n1 LEFT JOIN (
        |    SELECT e.dst, SUM(p.pr // d.outdeg) AS cs
        |    FROM edges e JOIN deg d ON e.src = d.src JOIN it1 p ON p.node = e.src
        |    GROUP BY e.dst) s ON s.dst = n1.node),
        |it3 AS (
        |  SELECT n1.node, CAST(150000 + (85 * COALESCE(s.cs, 0)) // 100 AS BIGINT) AS pr
        |  FROM nodes n1 LEFT JOIN (
        |    SELECT e.dst, SUM(p.pr // d.outdeg) AS cs
        |    FROM edges e JOIN deg d ON e.src = d.src JOIN it2 p ON p.node = e.src
        |    GROUP BY e.dst) s ON s.dst = n1.node)
        |SELECT node, pr FROM it3 ORDER BY node""".stripMargin,
    "txt_token_stats" ->
      """WITH w AS (
        |  SELECT doc_id, text,
        |    list_filter(string_split(lower(text), ' '), x -> length(x) > 0) AS ws
        |  FROM documents)
        |SELECT doc_id,
        |  CAST(len(ws) AS BIGINT) AS ws_tokens,
        |  CAST(len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9\s]')) AS BIGINT) AS bpe_tokens,
        |  CAST(length(replace(text, ' ', '')) AS DOUBLE) / len(ws) AS avg_token_len
        |FROM w ORDER BY doc_id""".stripMargin,
    "txt_quality" ->
      """WITH w AS (
        |  SELECT doc_id, text,
        |    list_filter(string_split(lower(text), ' '), x -> length(x) > 0) AS ws
        |  FROM documents),
        |m AS (
        |  SELECT doc_id, text, len(ws) AS n_tok,
        |    len(list_filter(ws, x -> list_contains(['the','a','of','and','to'], x))) AS n_stop,
        |    length(text) - length(regexp_replace(text, '[.,!?;:]', '', 'g')) AS n_punct,
        |    len(list_distinct(ws)) AS n_distinct
        |  FROM w)
        |SELECT doc_id,
        |  CAST(n_tok AS BIGINT) AS n_tokens,
        |  CAST(n_distinct AS DOUBLE) / n_tok AS type_token_ratio,
        |  CAST(n_stop AS DOUBLE) / n_tok AS stopword_ratio,
        |  CAST(n_punct AS DOUBLE) / length(text) AS punct_ratio,
        |  CASE WHEN n_tok = 0 OR length(text) = 0 THEN 0.0 ELSE
        |    (CAST(n_distinct AS DOUBLE) / n_tok) * 0.5
        |    + (CAST(n_stop AS DOUBLE) / n_tok) * 0.3
        |    + (1.0 - CAST(n_punct AS DOUBLE) / length(text)) * 0.2 END AS quality_score
        |FROM m ORDER BY doc_id""".stripMargin,
    "txt_langid" ->
      """WITH w AS (
        |  SELECT doc_id,
        |    list_filter(string_split(lower(text), ' '), x -> length(x) > 0) AS ws
        |  FROM documents),
        |h AS (
        |  SELECT doc_id,
        |    CAST(len(list_filter(ws, x -> list_contains(['the','a','of','and','to'], x))) AS BIGINT) AS en_hits,
        |    CAST(len(list_filter(ws, x -> list_contains(['der','die','das','und','ein'], x))) AS BIGINT) AS de_hits,
        |    CAST(len(list_filter(ws, x -> list_contains(['le','les','et','une','dans'], x))) AS BIGINT) AS fr_hits,
        |    CAST(len(list_filter(ws, x -> list_contains(['el','los','y','que','por'], x))) AS BIGINT) AS es_hits,
        |    CAST(len(list_filter(ws, x -> ascii(x) >= 11904)) AS BIGINT) AS zh_hits
        |  FROM w)
        |SELECT doc_id, en_hits, de_hits, fr_hits, es_hits, zh_hits,
        |  CASE WHEN en_hits >= greatest(de_hits, fr_hits, es_hits, zh_hits) THEN 'en'
        |       WHEN de_hits >= greatest(fr_hits, es_hits, zh_hits) THEN 'de'
        |       WHEN fr_hits >= greatest(es_hits, zh_hits) THEN 'fr'
        |       WHEN es_hits >= zh_hits THEN 'es'
        |       ELSE 'zh' END AS predicted
        |FROM h ORDER BY doc_id""".stripMargin,
    "txt_fingerprint" ->
      """WITH w AS (
        |  SELECT doc_id, text,
        |    list_filter(string_split(lower(text), ' '), x -> length(x) > 0) AS ws
        |  FROM documents),
        |s AS (
        |  SELECT doc_id, text,
        |    CASE WHEN len(ws) >= 3 THEN
        |      list_transform(range(1, len(ws) - 1),
        |        i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2])
        |    ELSE [] END AS shingles
        |  FROM w)
        |SELECT doc_id,
        |  list_reduce(list_prepend(CAST(0 AS BIGINT),
        |    list_transform(string_split(text, ''), c -> ascii(c))),
        |    (h, c) -> (h * 31 + c) % 1000000000000000) AS fp_full,
        |  list_min(list_transform(shingles,
        |    sh -> list_reduce(list_prepend(CAST(0 AS BIGINT),
        |      list_transform(string_split(sh, ''), c -> ascii(c))),
        |      (h, c) -> (h * 31 + c) % 1000000000000000))) AS fp_min_shingle
        |FROM s ORDER BY doc_id""".stripMargin,
    "txt_tfidf_top" ->
      """WITH w AS (
        |  SELECT doc_id,
        |    unnest(list_filter(string_split(lower(text), ' '), x -> length(x) > 0)) AS term
        |  FROM documents),
        |tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM w GROUP BY doc_id, term),
        |dfq AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY term),
        |n AS (SELECT COUNT(*) AS n FROM documents),
        |s AS (
        |  SELECT tf.doc_id, tf.term,
        |    CAST(tf.tf * n.n AS DOUBLE) / dfq.df AS score
        |  FROM tf JOIN dfq ON tf.term = dfq.term CROSS JOIN n),
        |r AS (
        |  SELECT doc_id, term, score,
        |    CAST(row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, term) AS BIGINT) AS rn
        |  FROM s)
        |SELECT doc_id, term, score, rn FROM r WHERE rn <= 3
        |ORDER BY doc_id, rn""".stripMargin,
    // injected PII is deterministic per doc; DuckDB regexp_replace needs
    // the 'g' flag to match Spark's replace-all semantics
    "txt_redact_pii" ->
      """WITH raw AS (
        |  SELECT doc_id,
        |    text || ' contact user' || doc_id || '@example.com or call +1-555-'
        |      || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') AS r
        |  FROM documents)
        |SELECT doc_id,
        |  CAST(len(regexp_extract_all(r, '[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}')) AS BIGINT) AS n_emails,
        |  CAST(len(regexp_extract_all(r, '\+1-555-[0-9]{4}')) AS BIGINT) AS n_phones,
        |  md5(regexp_replace(regexp_replace(r, '[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}', '<EMAIL>', 'g'), '\+1-555-[0-9]{4}', '<PHONE>', 'g')) AS redacted_md5
        |FROM raw ORDER BY doc_id""".stripMargin,
    // hashed linear classifier: same word-hash pipeline, weight = PRF(bucket)
    // trained-weights variant: same hashed-bucket inference, weight =
    // ((bucket · 1103515245 + 12345) mod 4001) − 2000 — the oracle
    // recomputes the materialized weight array's generating formula
    "txt_classifier_trained" ->
      """WITH t AS (
        |  SELECT doc_id,
        |    list_filter(string_split(lower(text), ' '), x -> length(x) > 0) AS w
        |  FROM documents),
        |w2 AS (
        |  SELECT doc_id,
        |    list_transform(w, x -> list_reduce(list_prepend(CAST(0 AS BIGINT),
        |      list_transform(string_split(x, ''), c -> ascii(c))),
        |      (h, c) -> (h * 31 + c) % 1000000000000000)) AS whs
        |  FROM t)
        |SELECT doc_id,
        |  CAST(COALESCE(list_sum(list_transform(whs,
        |    h -> ((h % 1048576) * 1103515245 + 12345) % 4001 - 2000)), 0) AS BIGINT) AS score,
        |  CAST(COALESCE(list_sum(list_transform(whs,
        |    h -> ((h % 1048576) * 1103515245 + 12345) % 4001 - 2000)), 0) AS BIGINT) > 0 AS kept
        |FROM w2 ORDER BY doc_id""".stripMargin,
    // PR sweep: student (trained weights) scored against the incumbent
    // PRF teacher's labels; one-pass cumulative tp/fp down a 16-cell
    // score grid — identical integer arithmetic both engines
    "txt_classifier_pr" ->
      """WITH t AS (
        |  SELECT doc_id,
        |    list_filter(string_split(lower(text), ' '), x -> length(x) > 0) AS w
        |  FROM documents),
        |w2 AS (
        |  SELECT doc_id,
        |    list_transform(w, x -> list_reduce(list_prepend(CAST(0 AS BIGINT),
        |      list_transform(string_split(x, ''), c -> ascii(c))),
        |      (h, c) -> (h * 31 + c) % 1000000000000000)) AS whs
        |  FROM t),
        |sc AS (
        |  SELECT doc_id,
        |    CAST(COALESCE(list_sum(list_transform(whs,
        |      h -> ((h % 1048576) * 1103515245 + 12345) % 4001 - 2000)), 0) AS BIGINT) AS s,
        |    CASE WHEN CAST(COALESCE(list_sum(list_transform(whs,
        |      h -> ((h % 1048576) * 2654435761 + 13) % 2001 - 1000)), 0) AS BIGINT) > 0
        |      THEN 1 ELSE 0 END AS pos
        |  FROM w2),
        |tot AS (SELECT MIN(s) AS smin, MAX(s) AS smax,
        |          CAST(SUM(pos) AS BIGINT) AS p_total FROM sc),
        |g AS (SELECT (s - smin) * 16 // (smax - smin + 1) AS cell,
        |        CAST(SUM(pos) AS BIGINT) AS n_pos,
        |        CAST(SUM(1 - pos) AS BIGINT) AS n_neg
        |      FROM sc, tot GROUP BY 1),
        |c AS (SELECT cell,
        |        CAST(SUM(n_pos) OVER (ORDER BY cell DESC
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS tp,
        |        CAST(SUM(n_neg) OVER (ORDER BY cell DESC
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS fp
        |      FROM g)
        |SELECT cell AS threshold_cell, tp, fp, p_total - tp AS fn,
        |  tp * 10000 // (tp + fp) AS precision_bp,
        |  CASE WHEN p_total = 0 THEN CAST(0 AS BIGINT)
        |       ELSE tp * 10000 // p_total END AS recall_bp,
        |  CASE WHEN 2 * tp + fp + (p_total - tp) = 0 THEN CAST(0 AS BIGINT)
        |       ELSE 2 * tp * 10000 // (2 * tp + fp + (p_total - tp)) END AS f1_bp
        |FROM c, tot ORDER BY threshold_cell""".stripMargin,
    // readability: same vowel-run syllable heuristic, same truncating
    // milli-scaled Flesch arithmetic
    // Gopher/MassiveText rule gate: five integer/milli rules, per-source
    // pass + per-rule failure counts; mode count via a row-local fold
    // (list_sum is FLOAT-typed in DuckDB — cast inside the CTE)
    "txt_gopher_rules" ->
      """WITH w AS (
        |  SELECT source,
        |    list_filter(string_split(lower(text), ' '), x -> length(x) > 0) AS ws
        |  FROM documents),
        |m AS (
        |  SELECT source, CAST(len(ws) AS BIGINT) AS n,
        |    CAST(len(list_distinct(ws)) AS BIGINT) AS nd,
        |    CAST(len(list_filter(list_distinct(ws),
        |      x -> list_contains(['the','a','of','and','to'], x))) AS BIGINT) AS nstop,
        |    CAST(list_sum(list_transform(ws, x -> length(x))) AS BIGINT) AS wc,
        |    CAST(list_max(list_transform(list_distinct(ws),
        |      d -> len(list_filter(ws, x -> x = d)))) AS BIGINT) AS mf
        |  FROM w),
        |r AS (
        |  SELECT source,
        |    (n >= 30 AND n <= 1000) AS r1,
        |    (wc * 1000 // n >= 3000 AND wc * 1000 // n <= 10000) AS r2,
        |    (nstop >= 2) AS r3,
        |    (nd * 1000 // n >= 200) AS r4,
        |    (mf * 1000 // n <= 200) AS r5
        |  FROM m)
        |SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
        |  CAST(SUM(CASE WHEN r1 AND r2 AND r3 AND r4 AND r5 THEN 1 ELSE 0 END) AS BIGINT) AS n_pass,
        |  CAST(SUM(CASE WHEN r1 THEN 0 ELSE 1 END) AS BIGINT) AS fail_wordcount,
        |  CAST(SUM(CASE WHEN r2 THEN 0 ELSE 1 END) AS BIGINT) AS fail_meanlen,
        |  CAST(SUM(CASE WHEN r3 THEN 0 ELSE 1 END) AS BIGINT) AS fail_stopwords,
        |  CAST(SUM(CASE WHEN r4 THEN 0 ELSE 1 END) AS BIGINT) AS fail_ttr,
        |  CAST(SUM(CASE WHEN r5 THEN 0 ELSE 1 END) AS BIGINT) AS fail_dominance
        |FROM r GROUP BY source ORDER BY source""".stripMargin,
    "txt_readability" ->
      """WITH t AS (
        |  SELECT doc_id,
        |    len(list_filter(string_split(lower(text), ' '),
        |      x -> length(x) > 0)) AS n_words_i,
        |    GREATEST(1, len(list_filter(string_split_regex(text, '[.!?]+'),
        |      s -> length(trim(s)) > 0))) AS n_sent_i,
    |    CAST(COALESCE(list_sum(list_transform(
        |      list_filter(string_split(lower(text), ' '), x -> length(x) > 0),
        |      w -> len(list_filter(string_split_regex(w, '[^aeiou]+'),
        |        g -> length(g) > 0)))), 0) AS BIGINT) AS n_syll_i
        |  FROM documents),
        |f AS (
        |  SELECT doc_id, CAST(n_words_i AS BIGINT) AS n_words,
        |    CAST(n_sent_i AS BIGINT) AS n_sent,
        |    CAST(n_syll_i AS BIGINT) AS n_syll,
        |    CASE WHEN n_words_i = 0 THEN CAST(0 AS BIGINT)
        |         ELSE 206835 - (1015 * n_words_i) // n_sent_i
        |                     - (84600 * n_syll_i) // n_words_i END AS flesch_milli
        |  FROM t)
        |SELECT doc_id, n_words, n_sent, n_syll, flesch_milli,
        |  CASE WHEN n_words = 0 THEN 'empty'
        |       WHEN flesch_milli >= 70000 THEN 'easy'
        |       WHEN flesch_milli >= 50000 THEN 'standard'
        |       WHEN flesch_milli >= 30000 THEN 'difficult'
        |       ELSE 'very_difficult' END AS band
        |FROM f ORDER BY doc_id""".stripMargin,
    // k-anonymity generalization ladder: same level group counts, same
    // generalized QI rendering
    "pipe_k_anonymity" ->
      """WITH b AS (SELECT doc_id, source, length(text) // 50 AS fine,
        |    length(text) // 200 AS coarse FROM documents),
        |g0 AS (SELECT source, fine, COUNT(*) AS n0 FROM b GROUP BY 1, 2),
        |g1 AS (SELECT source, coarse, COUNT(*) AS n1 FROM b GROUP BY 1, 2),
        |g2 AS (SELECT source, COUNT(*) AS n2 FROM b GROUP BY 1),
        |j AS (SELECT b.doc_id, b.source, b.fine, b.coarse,
        |    CASE WHEN n0 >= 8 THEN 0 WHEN n1 >= 8 THEN 1
        |         WHEN n2 >= 8 THEN 2 ELSE 3 END AS gen_level
        |  FROM b JOIN g0 USING (source, fine)
        |         JOIN g1 USING (source, coarse)
        |         JOIN g2 USING (source))
        |SELECT doc_id, CAST(gen_level AS BIGINT) AS gen_level,
        |  gen_level < 3 AS released,
        |  CASE WHEN gen_level < 3 THEN source ELSE '*' END AS qi_source,
        |  CASE WHEN gen_level = 0 THEN 'f' || fine
        |       WHEN gen_level = 1 THEN 'c' || coarse ELSE '*' END AS qi_bucket
        |FROM j ORDER BY doc_id""".stripMargin,
    // margin-based mining: same hyperplane buckets as dd_emb_neardup
    // (seed table 0), even ids query the odd-id pool, margin over the
    // runner-up as the acceptance score
    "sim_bitext_mine" ->
      """WITH e0 AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
        |e AS (
        |  SELECT vec_id, emb,
        |    sqrt(list_reduce(list_prepend(0.0, list_transform(range(1, len(emb)+1),
        |      i -> emb[i] * emb[i])), (x, y) -> x + y)) AS nrm,
        |    CAST(list_sum(list_transform(range(0, 8), p ->
        |      CASE WHEN list_reduce(list_prepend(0.0, list_transform(range(1, len(emb)+1),
        |          j -> emb[j] * CAST((1 + p*73 + (j-1)*179) * 2654435761 % 1024 - 512 AS DOUBLE))),
        |          (x, y) -> x + y) >= 0
        |      THEN CAST(floor(pow(2, p)) AS BIGINT) ELSE 0 END)) AS BIGINT) AS bucket
        |  FROM e0),
        |c AS (
        |  SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
        |    list_reduce(list_prepend(0.0, list_transform(range(1, len(a.emb)+1),
        |      i -> a.emb[i] * b.emb[i])), (x, y) -> x + y) / (a.nrm * b.nrm) AS cos
        |  FROM e a JOIN e b ON a.bucket = b.bucket
        |  WHERE a.vec_id % 2 = 0 AND b.vec_id % 2 = 1),
        |r AS (SELECT *, row_number() OVER (PARTITION BY vec_a
        |        ORDER BY cos DESC, vec_b) AS rn FROM c),
        |m AS (SELECT vec_a,
        |    MAX(CASE WHEN rn = 1 THEN vec_b END) AS match_id,
        |    MAX(CASE WHEN rn = 1 THEN cos END) AS best_cos,
        |    MAX(CASE WHEN rn = 2 THEN cos END) AS runner_cos
        |  FROM r WHERE rn <= 2 GROUP BY vec_a)
        |SELECT vec_a, match_id, best_cos, runner_cos,
        |  best_cos - COALESCE(runner_cos, 0.0) AS margin,
        |  best_cos - COALESCE(runner_cos, 0.0) >= 0.05 AS confident
        |FROM m ORDER BY vec_a""".stripMargin,
    "txt_classifier_score" ->
      """WITH t AS (
        |  SELECT doc_id,
        |    list_filter(string_split(lower(text), ' '), x -> length(x) > 0) AS w
        |  FROM documents),
        |w2 AS (
        |  SELECT doc_id,
        |    list_transform(w, x -> list_reduce(list_prepend(CAST(0 AS BIGINT),
        |      list_transform(string_split(x, ''), c -> ascii(c))),
        |      (h, c) -> (h * 31 + c) % 1000000000000000)) AS whs
        |  FROM t)
        |SELECT doc_id,
        |  CAST(COALESCE(list_sum(list_transform(whs,
        |    h -> ((h % 1048576) * 2654435761 + 13) % 2001 - 1000)), 0) AS BIGINT) AS score,
        |  CAST(COALESCE(list_sum(list_transform(whs,
        |    h -> ((h % 1048576) * 2654435761 + 13) % 2001 - 1000)), 0) AS BIGINT) > 0 AS kept
        |FROM w2 ORDER BY doc_id""".stripMargin,
    "txt_repetition" ->
      """WITH t AS (
        |  SELECT doc_id,
        |    list_filter(string_split(lower(text), ' '), x -> length(x) > 0) AS w
        |  FROM documents),
        |w2 AS (
        |  SELECT doc_id,
        |    list_transform(w, x -> list_reduce(list_prepend(CAST(0 AS BIGINT),
        |      list_transform(string_split(x, ''), c -> ascii(c))),
        |      (h, c) -> (h * 31 + c) % 1000000000000000)) AS whs
        |  FROM t),
        |s AS (
        |  SELECT doc_id,
        |    list_transform(range(1, len(whs) - 1),
        |      i -> ((whs[i] * 31 + whs[i+1]) % 1000000000000000 * 31
        |            + whs[i+2]) % 1000000000000000) AS sh
        |  FROM w2 WHERE len(whs) >= 3)
        |SELECT doc_id, CAST(len(sh) AS BIGINT) AS n_trigrams,
        |  CAST(len(list_distinct(sh)) AS BIGINT) AS n_distinct,
        |  CAST(len(sh) - len(list_distinct(sh)) AS DOUBLE) / len(sh) AS dup_frac
        |FROM s WHERE len(sh) > 0 ORDER BY doc_id""".stripMargin,
    // tokenizer-vocab coverage: top-16 vocab, per-doc OOV basis points
    "txt_oov_rate" ->
      """WITH t AS (
        |  SELECT doc_id,
        |    list_filter(string_split(lower(text), ' '), x -> length(x) > 0) AS w
        |  FROM documents),
        |tok AS (SELECT doc_id, unnest(w) AS w FROM t),
        |db AS (SELECT doc_id, w, COUNT(*) AS tf FROM tok GROUP BY doc_id, w),
        |vocab AS (
        |  SELECT w FROM (
        |    SELECT w, CAST(SUM(tf) AS BIGINT) AS cnt FROM db GROUP BY w) z
        |  ORDER BY cnt DESC, w LIMIT 16),
        |s AS (
        |  SELECT doc_id, CAST(SUM(tf) AS BIGINT) AS n_tokens,
        |    CAST(SUM(CASE WHEN vocab.w IS NULL THEN tf ELSE 0 END) AS BIGINT) AS n_oov
        |  FROM db LEFT JOIN vocab ON db.w = vocab.w
        |  GROUP BY doc_id)
        |SELECT doc_id, n_tokens, n_oov,
        |  CAST(FLOOR(10000 * n_oov / n_tokens) AS BIGINT) AS oov_bp
        |FROM s ORDER BY doc_id""".stripMargin,
    // word-distribution entropy in sixteenth-bits via interpolated
    // integer log2 — no float log anywhere
    "txt_entropy" ->
      """WITH t AS (
        |  SELECT doc_id,
        |    list_filter(string_split(lower(text), ' '), x -> length(x) > 0) AS w
        |  FROM documents),
        |db AS (
        |  SELECT doc_id, w, COUNT(*) AS tf
        |  FROM (SELECT doc_id, unnest(w) AS w FROM t) GROUP BY doc_id, w),
        |wn AS (
        |  SELECT doc_id, w, tf,
        |    CAST(SUM(tf) OVER (PARTITION BY doc_id) AS BIGINT) AS n_tokens
        |  FROM db),
        |q AS (
        |  SELECT doc_id, n_tokens, tf,
        |    16 * (LENGTH(bin(n_tokens)) - 1)
        |      + ((n_tokens - CAST(2 ** (LENGTH(bin(n_tokens)) - 1) AS BIGINT)) * 16)
        |        // CAST(2 ** (LENGTH(bin(n_tokens)) - 1) AS BIGINT) AS qn,
        |    16 * (LENGTH(bin(tf)) - 1)
        |      + ((tf - CAST(2 ** (LENGTH(bin(tf)) - 1) AS BIGINT)) * 16)
        |        // CAST(2 ** (LENGTH(bin(tf)) - 1) AS BIGINT) AS qtf
        |  FROM wn),
        |s AS (
        |  SELECT doc_id, MAX(n_tokens) AS n_tokens,
        |    CAST(SUM(tf * (qn - qtf)) AS BIGINT) AS entropy_16b
        |  FROM q GROUP BY doc_id)
        |SELECT doc_id, n_tokens, entropy_16b,
        |  CAST(FLOOR(1000 * entropy_16b / (16 * n_tokens)) AS BIGINT) AS mbits_per_token
        |FROM s ORDER BY doc_id""".stripMargin,
    // quality-driven source blocklist: exact micro-unit cross-multiplied
    // below-mean test, survivors = docs of unblocked sources
    "pipe_source_blocklist" ->
      """WITH w AS (
        |  SELECT doc_id, source, text,
        |    list_filter(string_split(lower(text), ' '), x -> length(x) > 0) AS ws
        |  FROM documents),
        |m AS (
        |  SELECT doc_id, source, text, len(ws) AS n_tok,
        |    len(list_filter(ws, x -> list_contains(['the','a','of','and','to'], x))) AS n_stop,
        |    length(text) - length(regexp_replace(text, '[.,!?;:]', '', 'g')) AS n_punct,
        |    len(list_distinct(ws)) AS n_distinct
        |  FROM w),
        |q AS (
        |  SELECT doc_id, source,
        |    CAST(FLOOR(1000000 * (CASE WHEN n_tok = 0 OR length(text) = 0 THEN 0.0 ELSE
        |      (CAST(n_distinct AS DOUBLE) / n_tok) * 0.5
        |      + (CAST(n_stop AS DOUBLE) / n_tok) * 0.3
        |      + (1.0 - CAST(n_punct AS DOUBLE) / length(text)) * 0.2 END)) AS BIGINT) AS q_micro
        |  FROM m),
        |s AS (SELECT source, COUNT(*) AS n_docs, CAST(SUM(q_micro) AS BIGINT) AS sum_micro
        |      FROM q GROUP BY source),
        |t AS (SELECT CAST(SUM(n_docs) AS BIGINT) AS n_total,
        |             CAST(SUM(sum_micro) AS BIGINT) AS micro_total FROM s),
        |b AS (SELECT source FROM s, t
        |      WHERE CAST(sum_micro AS DECIMAL(38,0)) * n_total
        |          < CAST(micro_total AS DECIMAL(38,0)) * n_docs)
        |SELECT doc_id, source, q_micro FROM q
        |WHERE source NOT IN (SELECT source FROM b)
        |ORDER BY doc_id""".stripMargin,
    "pipe_curation" ->
      """WITH corpus AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 100000, text FROM documents WHERE doc_id % 10 = 0
        |  UNION ALL
        |  SELECT doc_id + 200000, 'extra words added ' || text FROM documents WHERE doc_id % 10 = 5),
        |keepers AS (
        |  SELECT MIN(doc_id) AS doc_id FROM corpus GROUP BY md5(text)),
        |m AS (
        |  SELECT c.doc_id,
        |    list_filter(string_split(lower(text), ' '), x -> length(x) > 0) AS ws
        |  FROM corpus c JOIN keepers k ON c.doc_id = k.doc_id),
        |s AS (
        |  SELECT doc_id, CAST(len(ws) AS BIGINT) AS n_tokens,
        |    (CAST(len(list_distinct(ws)) AS DOUBLE) / len(ws)) * 0.5
        |      + (CAST(len(list_filter(ws, x -> list_contains(['the','a','of','and','to'], x))) AS DOUBLE) / len(ws)) * 0.3
        |      + 0.2 AS quality_score
        |  FROM m)
        |SELECT doc_id, n_tokens, quality_score FROM s
        |WHERE quality_score >= 0.45 AND n_tokens BETWEEN 20 AND 400
        |ORDER BY doc_id""".stripMargin,
    // same curation CTE, finished by the deterministic shard assignment
    "pipe_shard_export" ->
      """WITH corpus AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 100000, text FROM documents WHERE doc_id % 10 = 0
        |  UNION ALL
        |  SELECT doc_id + 200000, 'extra words added ' || text FROM documents WHERE doc_id % 10 = 5),
        |keepers AS (
        |  SELECT MIN(doc_id) AS doc_id FROM corpus GROUP BY md5(text)),
        |m AS (
        |  SELECT c.doc_id,
        |    list_filter(string_split(lower(text), ' '), x -> length(x) > 0) AS ws
        |  FROM corpus c JOIN keepers k ON c.doc_id = k.doc_id),
        |s AS (
        |  SELECT doc_id, CAST(len(ws) AS BIGINT) AS n_tokens,
        |    (CAST(len(list_distinct(ws)) AS DOUBLE) / len(ws)) * 0.5
        |      + (CAST(len(list_filter(ws, x -> list_contains(['the','a','of','and','to'], x))) AS DOUBLE) / len(ws)) * 0.3
        |      + 0.2 AS quality_score
        |  FROM m),
        |curated AS (
        |  SELECT doc_id, n_tokens FROM s
        |  WHERE quality_score >= 0.45 AND n_tokens BETWEEN 20 AND 400),
        |sharded AS (
        |  SELECT doc_id, CAST(((doc_id * 2654435761) % 1000000007) % 64 AS BIGINT) AS shard, n_tokens
        |  FROM curated)
        |SELECT doc_id, shard,
        |  CAST(row_number() OVER (PARTITION BY shard ORDER BY doc_id) AS BIGINT) AS pos,
        |  n_tokens
        |FROM sharded ORDER BY doc_id""".stripMargin,
    // shard-rebalance cost N=16 -> 17: hash-mod moves ~N/(N+1), HRW
    // (rendezvous) moves ~1/(N+1); same integer hash family both sides,
    // HRW winner = FIRST index attaining the list max (ties to smallest)
    "pipe_shard_rebalance" ->
      """WITH dh AS (
        |  SELECT doc_id,
        |    (doc_id * 2246822519 + 7) % 999999937 AS d_hash
        |  FROM documents),
        |a AS (
        |  SELECT doc_id,
        |    (doc_id * 2654435761) % 999999937 % 16 AS mod_old,
        |    (doc_id * 2654435761) % 999999937 % 17 AS mod_new,
        |    CAST(list_position(
        |      [(d_hash + (k * 2654435761 + 40503) % 999999937)
        |         * (d_hash + (k * 2654435761 + 40503) % 999999937) % 999999937
        |       for k in range(0, 16)],
        |      list_max(
        |      [(d_hash + (k * 2654435761 + 40503) % 999999937)
        |         * (d_hash + (k * 2654435761 + 40503) % 999999937) % 999999937
        |       for k in range(0, 16)]))
        |      - 1 AS BIGINT) AS hrw_old,
        |    CAST(list_position(
        |      [(d_hash + (k * 2654435761 + 40503) % 999999937)
        |         * (d_hash + (k * 2654435761 + 40503) % 999999937) % 999999937
        |       for k in range(0, 17)],
        |      list_max(
        |      [(d_hash + (k * 2654435761 + 40503) % 999999937)
        |         * (d_hash + (k * 2654435761 + 40503) % 999999937) % 999999937
        |       for k in range(0, 17)]))
        |      - 1 AS BIGINT) AS hrw_new
        |  FROM dh),
        |c AS (
        |  SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
        |    CAST(COUNT(CASE WHEN mod_old <> mod_new THEN 1 END) AS BIGINT)
        |      AS mod_moved,
        |    CAST(COUNT(CASE WHEN hrw_old <> hrw_new THEN 1 END) AS BIGINT)
        |      AS hrw_moved
        |  FROM a),
        |r AS (
        |  SELECT 'mod' AS scheme, n_docs, mod_moved AS n_moved FROM c
        |  UNION ALL SELECT 'rendezvous', n_docs, hrw_moved FROM c)
        |SELECT scheme, n_docs, n_moved, n_moved * 10000 // n_docs AS moved_bp
        |FROM r ORDER BY scheme""".stripMargin,
    // same semantics as art_search_bm25 (serving from the index must
    // not change results) — the Spark plan is searchBm25Indexed's
    "art_search_bm25_auto" ->
      """WITH toks AS (
        |  SELECT doc_id, unnest(string_split(lower(text), ' ')) AS term
        |  FROM documents),
        |tok AS (SELECT doc_id, term FROM toks WHERE length(term) > 0),
        |dl AS (SELECT doc_id, COUNT(*) AS dl FROM tok GROUP BY doc_id),
        |stats AS (SELECT COUNT(*) AS n_docs, SUM(dl) AS tot FROM dl),
        |tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM tok
        |  WHERE term IN ('spark', 'merge') GROUP BY doc_id, term),
        |dfq AS (SELECT term, COUNT(DISTINCT doc_id) AS df FROM tok
        |  WHERE term IN ('spark', 'merge') GROUP BY term),
        |parts AS (
        |  SELECT tf.doc_id,
        |    CAST(floor(1000000.0 *
        |      ((CAST(n_docs AS DOUBLE) - CAST(df AS DOUBLE) + 0.5) /
        |        (CAST(df AS DOUBLE) + 0.5)) *
        |      ((CAST(tf AS DOUBLE) * 2.2) /
        |        (CAST(tf AS DOUBLE) + 1.2 * (0.25 + 0.75 *
        |          (CAST(dl.dl AS DOUBLE) /
        |            (CAST(tot AS DOUBLE) / CAST(n_docs AS DOUBLE))))))
        |    ) AS BIGINT) AS part
        |  FROM tf JOIN dfq USING (term) JOIN dl ON tf.doc_id = dl.doc_id
        |  CROSS JOIN stats),
        |scores AS (SELECT doc_id, CAST(SUM(part) AS BIGINT) AS score
        |  FROM parts GROUP BY doc_id)
        |SELECT d.doc_id, d.lang, d.source, s.score
        |FROM documents d JOIN scores s ON d.doc_id = s.doc_id
        |ORDER BY s.score DESC, d.doc_id""".stripMargin,
    // group-aware split: bucket = poly_hash(source) mod 100 (the shared
    // rolling hash, replicated as the same char fold), train < 80,
    // val < 90, else test
    "pipe_split_groups" ->
      """WITH b AS (
        |  SELECT doc_id, source,
        |    list_reduce(list_prepend(CAST(0 AS BIGINT),
        |      list_transform(string_split(source, ''), c -> ascii(c))),
        |      (h, c) -> (h * 31 + c) % 1000000000000000) % 100 AS bucket
        |  FROM documents)
        |SELECT doc_id, source, CAST(bucket AS BIGINT) AS bucket,
        |  CASE WHEN bucket < 80 THEN 'train'
        |       WHEN bucket < 90 THEN 'val'
        |       ELSE 'test' END AS split
        |FROM b ORDER BY doc_id""".stripMargin,
    // chi-square drift per source over the global top-50 terms: per-cell
    // parts floored to BIGINT (1e6 scale) so the per-source sum is an
    // exact integer fold — same no-ln discipline as art_search_bm25
    "txt_term_drift" ->
      """WITH toks AS (
        |  SELECT source,
        |    unnest(list_filter(string_split(lower(text), ' '), x -> length(x) > 0)) AS term
        |  FROM documents),
        |obs AS (SELECT source, term, COUNT(*) AS o FROM toks GROUP BY source, term),
        |top AS (SELECT term, CAST(SUM(o) AS BIGINT) AS ct FROM obs GROUP BY term
        |  ORDER BY ct DESC, term LIMIT 50),
        |obstop AS (SELECT o.source, o.term, o.o FROM obs o JOIN top t ON o.term = t.term),
        |rowtot AS (SELECT source, CAST(SUM(o) AS BIGINT) AS rs FROM obstop GROUP BY source),
        |grand AS (SELECT CAST(SUM(rs) AS BIGINT) AS g FROM rowtot),
        |grid AS (
        |  SELECT r.source, t.term, r.rs, t.ct, COALESCE(ob.o, 0) AS o
        |  FROM rowtot r CROSS JOIN top t
        |  LEFT JOIN obstop ob ON ob.source = r.source AND ob.term = t.term),
        |scored AS (
        |  SELECT source, o,
        |    CAST(rs AS DOUBLE) * CAST(ct AS DOUBLE) / CAST(g AS DOUBLE) AS e
        |  FROM grid CROSS JOIN grand),
        |parts AS (
        |  SELECT source,
        |    CAST(floor(1000000.0 *
        |      ((CAST(o AS DOUBLE) - e) * (CAST(o AS DOUBLE) - e) / e)) AS BIGINT) AS part
        |  FROM scored)
        |SELECT source, CAST(SUM(part) AS BIGINT) AS drift
        |FROM parts GROUP BY source ORDER BY drift DESC, source""".stripMargin,
    // overlapping token windows: chunk=64 advancing by stride=48;
    // DuckDB list_slice is 1-based inclusive-end (== Spark slice start/
    // length); chunk content compared via the shared polynomial hash
    // exact ground truth for the sketch-then-recount pipeline: the MG
    // candidate pass provably covers everything >= N/(cap+1) < 2%, and
    // the engine's final filter runs on exact recounts, so the composed
    // answer equals this direct exact query
    "txt_heavy_hitters" ->
      """WITH terms AS (
        |  SELECT unnest(list_filter(string_split(lower(text), ' '),
        |    x -> length(x) > 0)) AS word
        |  FROM documents),
        |n AS (SELECT COUNT(*) AS total FROM terms),
        |tc AS (SELECT word, CAST(COUNT(*) AS BIGINT) AS n_occ
        |       FROM terms GROUP BY word)
        |SELECT word, n_occ,
        |  CAST(n_occ * 10000 // total AS BIGINT) AS freq_bp
        |FROM tc, n WHERE n_occ * 1000 >= total * 20
        |ORDER BY n_occ DESC, word""".stripMargin,
    // per-release-batch first-seen 3-gram rate; gram hash = polyHash of
    // the space-joined shingle STRING (the Spark side's exact spelling)
    "txt_ngram_novelty" ->
      """WITH nn AS (
        |  SELECT CAST((COUNT(*) + 7) // 8 AS BIGINT) AS bs FROM documents),
        |t AS (SELECT doc_id // bs AS batch,
        |    list_filter(string_split(lower(text), ' '), x -> length(x) > 0) AS ws
        |  FROM documents, nn),
        |w2 AS (SELECT batch,
        |    list_transform(ws, w -> list_reduce(list_prepend(CAST(0 AS BIGINT),
        |      list_transform(string_split(w, ''), c -> ascii(c))),
        |      (h, c) -> (h * 31 + c) % 1000000000000000)) AS whs
        |  FROM t),
        |g AS (SELECT DISTINCT batch,
        |    unnest(CASE WHEN len(whs) >= 3 THEN
        |      list_transform(range(1, len(whs) - 1),
        |        i -> ((whs[i] * 31 + whs[i+1]) % 1000000000000000 * 31
        |              + whs[i+2]) % 1000000000000000)
        |    ELSE [] END) AS gh
        |  FROM w2),
        |pb AS (SELECT batch, CAST(COUNT(*) AS BIGINT) AS n_distinct
        |       FROM g GROUP BY batch),
        |fn AS (SELECT gh, MIN(batch) AS batch FROM g GROUP BY gh),
        |nw AS (SELECT batch, CAST(COUNT(*) AS BIGINT) AS n_new
        |       FROM fn GROUP BY batch)
        |SELECT pb.batch AS batch, n_distinct,
        |  CAST(COALESCE(n_new, 0) AS BIGINT) AS n_new,
        |  CAST(COALESCE(n_new, 0) * 10000 // n_distinct AS BIGINT) AS novelty_bp,
        |  CAST(SUM(COALESCE(n_new, 0)) OVER (ORDER BY pb.batch
        |    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_distinct
        |FROM pb LEFT JOIN nw ON pb.batch = nw.batch ORDER BY 1""".stripMargin,
    // deterministic seeded shuffle: global rank of md5('epoch1:' || id),
    // shards of 64 in rank order; the window here is the oracle's
    // single-node luxury — the engine ranks via TwoLevelRank
    "pipe_shuffle_order" ->
      """WITH d AS (
        |  SELECT doc_id, source,
        |    md5(concat('epoch1:', CAST(doc_id AS VARCHAR))) AS h
        |  FROM documents),
        |r AS (SELECT *, row_number() OVER (ORDER BY h, doc_id) AS rnk FROM d)
        |SELECT CAST((rnk - 1) // 64 AS BIGINT) AS shard,
        |  COUNT(*) AS n_docs,
        |  CAST(COUNT(DISTINCT source) AS BIGINT) AS n_sources,
        |  CAST(SUM(doc_id) AS BIGINT) AS sum_ids,
        |  MIN(h) AS first_hash
        |FROM r GROUP BY 1 ORDER BY 1""".stripMargin,
    // dataset card: per-(source, lang) release profile; quality rides as
    // a floored micro-unit integer sum (order-free), share in exact bp
    "pipe_dataset_card" ->
      """WITH w AS (
        |  SELECT source, lang, text,
        |    list_filter(string_split(lower(text), ' '), x -> length(x) > 0) AS ws
        |  FROM documents),
        |m AS (
        |  SELECT source, lang, CAST(len(ws) AS BIGINT) AS n_tok,
        |    CAST(floor(1000000.0 * (
        |      CASE WHEN len(ws) = 0 OR length(text) = 0 THEN 0.0 ELSE
        |        (CAST(len(list_distinct(ws)) AS DOUBLE) / len(ws)) * 0.5
        |        + (CAST(len(list_filter(ws, x -> list_contains(['the','a','of','and','to'], x))) AS DOUBLE) / len(ws)) * 0.3
        |        + (1.0 - CAST(length(text) - length(regexp_replace(text, '[.,!?;:]', '', 'g')) AS DOUBLE) / length(text)) * 0.2
        |      END)) AS BIGINT) AS q
        |  FROM w),
        |g AS (
        |  SELECT source, lang, COUNT(*) AS n_docs,
        |    CAST(SUM(n_tok) AS BIGINT) AS total_tokens,
        |    MIN(n_tok) AS min_tokens, MAX(n_tok) AS max_tokens,
        |    CAST(SUM(q) AS BIGINT) AS quality_musum
        |  FROM m GROUP BY source, lang),
        |t AS (SELECT COUNT(*) AS n_all FROM m)
        |SELECT source, lang, n_docs, total_tokens, min_tokens, max_tokens,
        |  quality_musum, CAST(10000 * n_docs // n_all AS BIGINT) AS share_bp
        |FROM g, t ORDER BY source, lang""".stripMargin,
    // corpus snapshot diff: deterministic v1/v2 snapshots (disjoint drop
    // /revise residues), full-outer join on doc_id, md5 class collapse
    "pipe_corpus_diff" ->
      """WITH v1 AS (
        |  SELECT doc_id AS id1, source AS src1, md5(text) AS h1
        |  FROM documents WHERE doc_id % 17 <> 3),
        |v2 AS (
        |  SELECT doc_id AS id2, source AS src2,
        |    md5(CASE WHEN doc_id % 11 = 7 THEN text || ' rev2' ELSE text END) AS h2
        |  FROM documents WHERE doc_id % 13 <> 5)
        |SELECT COALESCE(src1, src2) AS source,
        |  CASE WHEN id1 IS NULL THEN 'added'
        |       WHEN id2 IS NULL THEN 'removed'
        |       WHEN h1 <> h2 THEN 'changed'
        |       ELSE 'unchanged' END AS status,
        |  CAST(COUNT(*) AS BIGINT) AS n_docs,
        |  MIN(COALESCE(id1, id2)) AS first_doc
        |FROM v1 FULL JOIN v2 ON id1 = id2
        |GROUP BY 1, 2 ORDER BY source, status""".stripMargin,
    // RAG context assembly: chunk -> per-chunk BM25 (same floored
    // integer expression tree as art_search_bm25, over chunk stats) ->
    // top-32 candidates -> prefix-pack under the 256-token budget
    "pipe_rag_context" ->
      """WITH t AS (
        |  SELECT doc_id,
        |    list_filter(string_split(lower(text), ' '), x -> length(x) > 0) AS ws
        |  FROM documents),
        |f AS (SELECT doc_id, ws, CAST(len(ws) AS BIGINT) AS n FROM t WHERE len(ws) > 0),
        |c AS (SELECT doc_id, ws, n,
        |    CASE WHEN n <= 64 THEN 1 ELSE (n - 64 + 47) // 48 + 1 END AS n_chunks
        |  FROM f),
        |e AS (SELECT doc_id, ws, unnest(range(0, n_chunks)) AS chunk_id FROM c),
        |p AS (SELECT doc_id, chunk_id,
        |    list_slice(ws, chunk_id * 48 + 1, chunk_id * 48 + 64) AS piece
        |  FROM e),
        |x AS (SELECT doc_id, chunk_id, CAST(len(piece) AS BIGINT) AS n_tok,
        |    CAST(len(list_filter(piece, w -> w = 'spark')) AS BIGINT) AS tf0,
        |    CAST(len(list_filter(piece, w -> w = 'merge')) AS BIGINT) AS tf1
        |  FROM p),
        |st AS (SELECT COUNT(*) AS nc, SUM(n_tok) AS tot FROM x),
        |dfs AS (SELECT COUNT(*) FILTER (WHERE tf0 > 0) AS df0,
        |    COUNT(*) FILTER (WHERE tf1 > 0) AS df1 FROM x),
        |sc AS (SELECT doc_id, chunk_id, n_tok,
        |    (CASE WHEN tf0 > 0 THEN CAST(floor(1000000.0 *
        |      ((CAST(nc AS DOUBLE) - CAST(df0 AS DOUBLE) + 0.5) / (CAST(df0 AS DOUBLE) + 0.5)) *
        |      ((CAST(tf0 AS DOUBLE) * 2.2) /
        |        (CAST(tf0 AS DOUBLE) + 1.2 * (0.25 + 0.75 *
        |          (CAST(n_tok AS DOUBLE) / (CAST(tot AS DOUBLE) / CAST(nc AS DOUBLE)))))))
        |      AS BIGINT) ELSE 0 END
        |    + CASE WHEN tf1 > 0 THEN CAST(floor(1000000.0 *
        |      ((CAST(nc AS DOUBLE) - CAST(df1 AS DOUBLE) + 0.5) / (CAST(df1 AS DOUBLE) + 0.5)) *
        |      ((CAST(tf1 AS DOUBLE) * 2.2) /
        |        (CAST(tf1 AS DOUBLE) + 1.2 * (0.25 + 0.75 *
        |          (CAST(n_tok AS DOUBLE) / (CAST(tot AS DOUBLE) / CAST(nc AS DOUBLE)))))))
        |      AS BIGINT) ELSE 0 END) AS score
        |  FROM x, st, dfs),
        |cands AS (SELECT * FROM (
        |    SELECT doc_id, chunk_id, n_tok, score,
        |      CAST(row_number() OVER (ORDER BY score DESC, doc_id, chunk_id) AS BIGINT) AS rank
        |    FROM sc WHERE score > 0) z
        |  WHERE rank <= 32),
        |packed AS (SELECT *,
        |    CAST(SUM(n_tok) OVER (ORDER BY rank ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_tok
        |  FROM cands)
        |SELECT rank, doc_id, chunk_id, n_tok, cum_tok, score
        |FROM packed WHERE cum_tok <= 256 ORDER BY rank""".stripMargin,
    "txt_chunks" ->
      """WITH t AS (
        |  SELECT doc_id,
        |    list_filter(string_split(lower(text), ' '), x -> length(x) > 0) AS ws
        |  FROM documents),
        |f AS (SELECT doc_id, ws, CAST(len(ws) AS BIGINT) AS n FROM t WHERE len(ws) > 0),
        |c AS (SELECT doc_id, ws, n,
        |    CASE WHEN n <= 64 THEN 1 ELSE (n - 64 + 47) // 48 + 1 END AS n_chunks
        |  FROM f),
        |e AS (SELECT doc_id, ws, unnest(range(0, n_chunks)) AS chunk_id FROM c),
        |p AS (SELECT doc_id, chunk_id,
        |    list_slice(ws, chunk_id * 48 + 1, chunk_id * 48 + 64) AS piece
        |  FROM e)
        |SELECT doc_id, chunk_id, CAST(len(piece) AS BIGINT) AS n_tok,
        |  list_reduce(list_prepend(CAST(0 AS BIGINT),
        |    list_transform(string_split(array_to_string(piece, ' '), ''),
        |      c -> ascii(c))),
        |    (h, c) -> (h * 31 + c) % 1000000000000000) AS chunk_hash
        |FROM p ORDER BY doc_id, chunk_id""".stripMargin,
    // count-min sketch: d=4 universal-hash rows x w=1024 buckets; cell
    // counts = sum of per-term instance counts landing in the bucket;
    // estimate = min over rows (left join: absent probe terms read the
    // bucket's pure collision mass)
    "txt_cms_terms" ->
      """WITH terms AS (
        |  SELECT unnest(list_filter(string_split(lower(text), ' '),
        |    x -> length(x) > 0)) AS term
        |  FROM documents),
        |tc AS (SELECT term, COUNT(*) AS n FROM terms GROUP BY term),
        |thc AS (SELECT term, n,
        |    list_reduce(list_prepend(CAST(0 AS BIGINT),
        |      list_transform(string_split(term, ''), c -> ascii(c))),
        |      (h, c) -> (h * 31 + c) % 1000000000000000) AS th
        |  FROM tc),
        |hp AS (SELECT * FROM (VALUES (0, 3, 17), (1, 7, 101),
        |    (2, 11, 1009), (3, 13, 10007)) AS v(r, a, b)),
        |cells AS (
        |  SELECT r, (a * th + b) % 1000000000000037 % 1024 AS bkt,
        |    CAST(SUM(n) AS BIGINT) AS cnt
        |  FROM thc, hp GROUP BY 1, 2),
        |probes AS (SELECT unnest(['the','a','of','and','to','zzz_absent']) AS term),
        |ph AS (SELECT term,
        |    list_reduce(list_prepend(CAST(0 AS BIGINT),
        |      list_transform(string_split(term, ''), c -> ascii(c))),
        |      (h, c) -> (h * 31 + c) % 1000000000000000) AS th
        |  FROM probes),
        |pe AS (SELECT term, r, (a * th + b) % 1000000000000037 % 1024 AS bkt
        |  FROM ph, hp),
        |est AS (SELECT term, MIN(COALESCE(cnt, 0)) AS cms_estimate
        |  FROM pe LEFT JOIN cells USING (r, bkt) GROUP BY term)
        |SELECT est.term, cms_estimate, COALESCE(tc.n, 0) AS exact_count
        |FROM est LEFT JOIN tc USING (term) ORDER BY term""".stripMargin,
    // concat-and-chunk packing at budget=512: a doc spans every sequence
    // its [cum - n_tok, cum) token interval overlaps; SUM OVER gives the
    // same running offsets as the two-level bucket computation
    "pipe_pack_sequences" ->
      """WITH t AS (
        |  SELECT doc_id,
        |    CAST(len(list_filter(string_split(lower(text), ' '),
        |      x -> length(x) > 0)) AS BIGINT) AS n_tok
        |  FROM documents),
        |f AS (SELECT doc_id, n_tok FROM t WHERE n_tok > 0),
        |c AS (SELECT doc_id, n_tok,
        |    CAST(SUM(n_tok) OVER (ORDER BY doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum
        |  FROM f),
        |s AS (SELECT doc_id, n_tok, cum, cum - n_tok AS strt FROM c),
        |e AS (SELECT doc_id, strt, cum,
        |    unnest(range(strt // 512, (cum - 1) // 512 + 1)) AS seq_id
        |  FROM s)
        |SELECT seq_id, doc_id,
        |  GREATEST(strt, seq_id * 512) - strt AS tok_from,
        |  LEAST(cum, (seq_id + 1) * 512) - strt AS tok_to
        |FROM e ORDER BY seq_id, doc_id""".stripMargin,
    // eval set = 10-token window of every 50th doc; contamination = any
    // shared word 8-gram (1-based inclusive slice w[6:15] == Spark
    // slice(ws, 6, 10); comprehension range mirrors sequence(0, n-8))
    "dd_contamination" ->
      """WITH t AS (
        |  SELECT doc_id,
        |    list_filter(string_split(lower(text), ' '), x -> length(x) > 0) AS w
        |  FROM documents),
        |w2 AS (
        |  SELECT doc_id,
        |    list_transform(w, x -> list_reduce(list_prepend(CAST(0 AS BIGINT),
        |      list_transform(string_split(x, ''), c -> ascii(c))),
        |      (h, c) -> (h * 31 + c) % 1000000000000000)) AS whs
        |  FROM t),
        |ev AS (
        |  SELECT DISTINCT unnest(
        |    [list_reduce(list_slice(ew, i, i + 7),
        |       (a, b) -> (a * 31 + b) % 1000000000000000)
        |     for i in range(1, len(ew) - 6)]) AS g
        |  FROM (SELECT whs[6:15] AS ew FROM w2 WHERE doc_id % 50 = 0 AND len(whs) >= 15)),
        |tr AS (
        |  SELECT doc_id, unnest(
        |    [list_reduce(list_slice(whs, i, i + 7),
        |       (a, b) -> (a * 31 + b) % 1000000000000000)
        |     for i in range(1, len(whs) - 6)]) AS g
        |  FROM w2 WHERE len(whs) >= 8)
        |SELECT tr.doc_id, COUNT(DISTINCT tr.g) AS n_shared
        |FROM tr JOIN ev ON tr.g = ev.g
        |GROUP BY tr.doc_id ORDER BY tr.doc_id""".stripMargin,
    // Bloom prefilter is exact after verify (no false negatives; the
    // equi-join removes false positives) => same oracle as the plain form
    "dd_contamination_bloom" ->
      """WITH t AS (
        |  SELECT doc_id,
        |    list_filter(string_split(lower(text), ' '), x -> length(x) > 0) AS w
        |  FROM documents),
        |w2 AS (
        |  SELECT doc_id,
        |    list_transform(w, x -> list_reduce(list_prepend(CAST(0 AS BIGINT),
        |      list_transform(string_split(x, ''), c -> ascii(c))),
        |      (h, c) -> (h * 31 + c) % 1000000000000000)) AS whs
        |  FROM t),
        |ev AS (
        |  SELECT DISTINCT unnest(
        |    [list_reduce(list_slice(ew, i, i + 7),
        |       (a, b) -> (a * 31 + b) % 1000000000000000)
        |     for i in range(1, len(ew) - 6)]) AS g
        |  FROM (SELECT whs[6:15] AS ew FROM w2 WHERE doc_id % 50 = 0 AND len(whs) >= 15)),
        |tr AS (
        |  SELECT doc_id, unnest(
        |    [list_reduce(list_slice(whs, i, i + 7),
        |       (a, b) -> (a * 31 + b) % 1000000000000000)
        |     for i in range(1, len(whs) - 6)]) AS g
        |  FROM w2 WHERE len(whs) >= 8)
        |SELECT tr.doc_id, COUNT(DISTINCT tr.g) AS n_shared
        |FROM tr JOIN ev ON tr.g = ev.g
        |GROUP BY tr.doc_id ORDER BY tr.doc_id""".stripMargin,
    // one BPE-training statistics pass: char-pair frequencies over the
    // word vocabulary, weighted by word occurrence count
    "txt_bpe_pairs" ->
      """WITH tok AS (
        |  SELECT unnest(list_filter(string_split(lower(text), ' '),
        |    x -> length(x) > 0)) AS word
        |  FROM documents),
        |wc AS (SELECT word, COUNT(*) AS cnt FROM tok GROUP BY word),
        |p AS (
        |  SELECT unnest([substr(word, i, 2) for i in range(1, length(word))]) AS pair,
        |    cnt
        |  FROM wc WHERE length(word) >= 2)
        |SELECT pair, CAST(SUM(cnt) AS BIGINT) AS freq
        |FROM p GROUP BY pair ORDER BY freq DESC, pair LIMIT 20""".stripMargin,
    // Zipf fit: qlog2 sixteenth-bit logs over the top-64 term table,
    // exact BIGINT least squares, sign-symmetric truncating divisions
    "txt_zipf_fit" ->
      """WITH tok AS (
        |  SELECT unnest(list_filter(string_split(lower(text), ' '),
        |    x -> length(x) > 0)) AS term
        |  FROM documents),
        |tc AS (SELECT term, COUNT(*) AS freq FROM tok GROUP BY term),
        |top AS (SELECT term, freq FROM tc ORDER BY freq DESC, term LIMIT 64),
        |rk AS (SELECT CAST(row_number() OVER (ORDER BY freq DESC, term) AS BIGINT) AS r,
        |         CAST(freq AS BIGINT) AS freq FROM top),
        |q AS (SELECT
        |  16 * (LENGTH(bin(r)) - 1) + ((r - CAST(2 ** (LENGTH(bin(r)) - 1) AS BIGINT)) * 16)
        |    // CAST(2 ** (LENGTH(bin(r)) - 1) AS BIGINT) AS x,
        |  16 * (LENGTH(bin(freq)) - 1) + ((freq - CAST(2 ** (LENGTH(bin(freq)) - 1) AS BIGINT)) * 16)
        |    // CAST(2 ** (LENGTH(bin(freq)) - 1) AS BIGINT) AS y
        |  FROM rk),
        |s AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_terms,
        |        CAST(SUM(x) AS BIGINT) AS sum_x16, CAST(SUM(y) AS BIGINT) AS sum_y16,
        |        CAST(SUM(x * y) AS BIGINT) AS sxy, CAST(SUM(x * x) AS BIGINT) AS sxx
        |      FROM q),
        |sl AS (SELECT n_terms, sum_x16, sum_y16,
        |  CAST(CASE WHEN n_terms * sxx - sum_x16 * sum_x16 = 0 THEN 0
        |    WHEN n_terms * sxy - sum_x16 * sum_y16 >= 0
        |    THEN ((n_terms * sxy - sum_x16 * sum_y16) * 1000)
        |         // (n_terms * sxx - sum_x16 * sum_x16)
        |    ELSE -(((sum_x16 * sum_y16 - n_terms * sxy) * 1000)
        |         // (n_terms * sxx - sum_x16 * sum_x16)) END AS BIGINT) AS slope_milli
        |  FROM s)
        |SELECT n_terms, sum_x16, sum_y16, slope_milli,
        |  CAST(CASE WHEN sum_y16 * 1000 - slope_milli * sum_x16 >= 0
        |    THEN (sum_y16 * 1000 - slope_milli * sum_x16) // (16 * n_terms)
        |    ELSE -((slope_milli * sum_x16 - sum_y16 * 1000) // (16 * n_terms)) END
        |    AS BIGINT) AS intercept_milli
        |FROM sl""".stripMargin,
    // Good-Turing count-of-counts: r* in exact thousandths via BIGINT
    // floor division; 0 where N_{r+1} is empty (estimator undefined)
    "txt_good_turing" ->
      """WITH t AS (
        |  SELECT list_filter(string_split(lower(text), ' '),
        |    x -> length(x) > 0) AS w
        |  FROM documents),
        |wc AS (SELECT word, COUNT(*) AS r FROM (
        |    SELECT unnest(w) AS word FROM t) GROUP BY word),
        |cc AS (SELECT r, COUNT(*) AS n_types FROM wc GROUP BY r)
        |SELECT cc.r, cc.n_types,
        |  COALESCE((cc.r + 1) * 1000 * nx.n_types // cc.n_types,
        |    CAST(0 AS BIGINT)) AS rstar_milli
        |FROM cc LEFT JOIN cc nx ON nx.r = cc.r + 1
        |WHERE cc.r <= 30 ORDER BY cc.r""".stripMargin,
    // TextRank: integer PageRank (the graph_pagerank recurrence) over
    // the distinct adjacent-word co-occurrence graph, words >= 4 chars
    "txt_textrank" ->
      """WITH w AS (
        |  SELECT list_filter(string_split(lower(text), ' '),
        |    x -> length(x) > 0) AS ws
        |  FROM documents),
        |pp AS (SELECT unnest([struct_pack(a := ws[i], b := ws[i+1])
        |    for i in range(1, len(ws))]) AS p FROM w),
        |pairs AS (
        |  SELECT p.a AS a, p.b AS b FROM pp
        |  WHERE length(p.a) >= 4 AND length(p.b) >= 4 AND p.a <> p.b),
        |edges AS (SELECT DISTINCT src, dst FROM (
        |  SELECT a AS src, b AS dst FROM pairs
        |  UNION ALL SELECT b, a FROM pairs)),
        |nodes AS (SELECT DISTINCT wd AS node FROM (
        |  SELECT unnest(ws) AS wd FROM w) WHERE length(wd) >= 4),
        |deg AS (SELECT src, COUNT(*) AS outdeg FROM edges GROUP BY src),
        |it0 AS (SELECT node, CAST(1000000 AS BIGINT) AS pr FROM nodes),
        |it1 AS (
        |  SELECT n1.node, CAST(150000 + (85 * COALESCE(s.cs, 0)) // 100 AS BIGINT) AS pr
        |  FROM nodes n1 LEFT JOIN (
        |    SELECT e.dst, SUM(p.pr // d.outdeg) AS cs
        |    FROM edges e JOIN deg d ON e.src = d.src JOIN it0 p ON p.node = e.src
        |    GROUP BY e.dst) s ON s.dst = n1.node),
        |it2 AS (
        |  SELECT n1.node, CAST(150000 + (85 * COALESCE(s.cs, 0)) // 100 AS BIGINT) AS pr
        |  FROM nodes n1 LEFT JOIN (
        |    SELECT e.dst, SUM(p.pr // d.outdeg) AS cs
        |    FROM edges e JOIN deg d ON e.src = d.src JOIN it1 p ON p.node = e.src
        |    GROUP BY e.dst) s ON s.dst = n1.node),
        |it3 AS (
        |  SELECT n1.node, CAST(150000 + (85 * COALESCE(s.cs, 0)) // 100 AS BIGINT) AS pr
        |  FROM nodes n1 LEFT JOIN (
        |    SELECT e.dst, SUM(p.pr // d.outdeg) AS cs
        |    FROM edges e JOIN deg d ON e.src = d.src JOIN it2 p ON p.node = e.src
        |    GROUP BY e.dst) s ON s.dst = n1.node),
        |ranked AS (SELECT node, pr,
        |  CAST(row_number() OVER (ORDER BY pr DESC, node) AS BIGINT) AS rank_pos
        |  FROM it3)
        |SELECT rank_pos, node AS word, pr FROM ranked
        |WHERE rank_pos <= 20 ORDER BY rank_pos""".stripMargin,
    // winnowing (MOSS): min-hash of every 4-window over POSITIONAL
    // trigram hashes, distinct selection, density vs window count
    "txt_winnowing" ->
      """WITH t AS (
        |  SELECT doc_id,
        |    list_filter(string_split(lower(text), ' '), x -> length(x) > 0) AS ws
        |  FROM documents),
        |w2 AS (
        |  SELECT doc_id,
        |    list_transform(ws, w -> list_reduce(list_prepend(CAST(0 AS BIGINT),
        |      list_transform(string_split(w, ''), c -> ascii(c))),
        |      (h, c) -> (h * 31 + c) % 1000000000000000)) AS whs
        |  FROM t),
        |s AS (
        |  SELECT doc_id,
        |    CASE WHEN len(whs) >= 3 THEN
        |      list_transform(range(1, len(whs) - 1),
        |        i -> ((whs[i] * 31 + whs[i+1]) % 1000000000000000 * 31
        |              + whs[i+2]) % 1000000000000000)
        |    ELSE [] END AS hs
        |  FROM w2),
        |f AS (SELECT doc_id, hs FROM s WHERE len(hs) >= 4),
        |fp AS (
        |  SELECT doc_id, CAST(len(hs) AS BIGINT) AS n_grams,
        |    list_distinct([list_min(hs[i:i+3])
        |      for i in range(1, len(hs) - 2)]) AS fps
        |  FROM f)
        |SELECT doc_id, n_grams, CAST(len(fps) AS BIGINT) AS n_fps,
        |  CAST(len(fps) AS BIGINT) * 10000 // (n_grams - 3) AS density_bp,
        |  list_min(fps) AS min_fp, list_max(fps) AS max_fp
        |FROM fp ORDER BY doc_id""".stripMargin,
    // l-diversity: distinct sensitive values per QI group (the coarse
    // kAnonymize lattice level), l >= 2 gate
    "txt_l_diversity" ->
      """SELECT source, length(text) // 200 AS bucket,
        |  CAST(COUNT(*) AS BIGINT) AS n_docs,
        |  CAST(COUNT(DISTINCT lang) AS BIGINT) AS l_langs,
        |  COUNT(DISTINCT lang) >= 2 AS diverse
        |FROM documents GROUP BY 1, 2 ORDER BY source, bucket""".stripMargin,
    // BPE ENCODE: train the same 3 rounds (word column carried through
    // the lockstep folds), apply ALL three merges (f3/v4), then join the
    // per-doc word stream to the encoded vocabulary for token accounting
    "txt_bpe_encode" ->
      """WITH RECURSIVE tok AS (
        |  SELECT unnest(list_filter(string_split(lower(text), ' '),
        |    x -> length(x) > 0)) AS word
        |  FROM documents),
        |wc AS (SELECT word, COUNT(*) AS cnt FROM tok GROUP BY word),
        |v1 AS (SELECT word, list_transform(range(1, length(word) + 1),
        |         i -> substr(word, CAST(i AS INT), 1)) AS syms, cnt FROM wc),
        |x1 AS (SELECT unnest(range(1, len(syms))) AS i, syms, cnt
        |       FROM v1 WHERE len(syms) >= 2),
        |c1 AS (SELECT syms[CAST(i AS INT)] AS p1, syms[CAST(i + 1 AS INT)] AS p2,
        |         CAST(SUM(cnt) AS BIGINT) AS freq
        |       FROM x1 GROUP BY 1, 2),
        |b1 AS (SELECT p1, p2, freq FROM c1 ORDER BY freq DESC, p1, p2 LIMIT 1),
        |f1 AS (
        |  SELECT word, syms AS old, cnt, 0 AS i, CAST([] AS VARCHAR[]) AS acc FROM v1
        |  UNION ALL
        |  SELECT word, old, cnt, i + 1,
        |    CASE WHEN len(acc) > 0 AND acc[len(acc)] = (SELECT p1 FROM b1)
        |              AND old[i + 1] = (SELECT p2 FROM b1)
        |         THEN list_append(acc[1:len(acc) - 1], (SELECT p1 || p2 FROM b1))
        |         ELSE list_append(acc, old[i + 1]) END
        |  FROM f1 WHERE i < len(old)),
        |v2 AS (SELECT word, acc AS syms, cnt FROM f1 WHERE i = len(old)),
        |x2 AS (SELECT unnest(range(1, len(syms))) AS i, syms, cnt
        |       FROM v2 WHERE len(syms) >= 2),
        |c2 AS (SELECT syms[CAST(i AS INT)] AS p1, syms[CAST(i + 1 AS INT)] AS p2,
        |         CAST(SUM(cnt) AS BIGINT) AS freq
        |       FROM x2 GROUP BY 1, 2),
        |b2 AS (SELECT p1, p2, freq FROM c2 ORDER BY freq DESC, p1, p2 LIMIT 1),
        |f2 AS (
        |  SELECT word, syms AS old, cnt, 0 AS i, CAST([] AS VARCHAR[]) AS acc FROM v2
        |  UNION ALL
        |  SELECT word, old, cnt, i + 1,
        |    CASE WHEN len(acc) > 0 AND acc[len(acc)] = (SELECT p1 FROM b2)
        |              AND old[i + 1] = (SELECT p2 FROM b2)
        |         THEN list_append(acc[1:len(acc) - 1], (SELECT p1 || p2 FROM b2))
        |         ELSE list_append(acc, old[i + 1]) END
        |  FROM f2 WHERE i < len(old)),
        |v3 AS (SELECT word, acc AS syms, cnt FROM f2 WHERE i = len(old)),
        |x3 AS (SELECT unnest(range(1, len(syms))) AS i, syms, cnt
        |       FROM v3 WHERE len(syms) >= 2),
        |c3 AS (SELECT syms[CAST(i AS INT)] AS p1, syms[CAST(i + 1 AS INT)] AS p2,
        |         CAST(SUM(cnt) AS BIGINT) AS freq
        |       FROM x3 GROUP BY 1, 2),
        |b3 AS (SELECT p1, p2, freq FROM c3 ORDER BY freq DESC, p1, p2 LIMIT 1),
        |f3 AS (
        |  SELECT word, syms AS old, cnt, 0 AS i, CAST([] AS VARCHAR[]) AS acc FROM v3
        |  UNION ALL
        |  SELECT word, old, cnt, i + 1,
        |    CASE WHEN len(acc) > 0 AND acc[len(acc)] = (SELECT p1 FROM b3)
        |              AND old[i + 1] = (SELECT p2 FROM b3)
        |         THEN list_append(acc[1:len(acc) - 1], (SELECT p1 || p2 FROM b3))
        |         ELSE list_append(acc, old[i + 1]) END
        |  FROM f3 WHERE i < len(old)),
        |v4 AS (SELECT word, acc AS syms, cnt FROM f3 WHERE i = len(old)),
        |docw AS (
        |  SELECT doc_id, unnest(list_filter(string_split(lower(text), ' '),
        |    x -> length(x) > 0)) AS word
        |  FROM documents)
        |SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_words,
        |  CAST(SUM(length(w.word)) AS BIGINT) AS n_chars,
        |  CAST(SUM(len(v4.syms)) AS BIGINT) AS n_tokens
        |FROM docw w JOIN v4 ON v4.word = w.word
        |GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    // per-source tokenizer fertility: the SAME unrolled 3-merge BPE
    // training chain as txt_bpe_encode, rolled up to milli-scaled
    // tokens-per-kiloword / chars-per-kilotoken by source
    "txt_bpe_fertility" ->
      """WITH RECURSIVE tok AS (
        |  SELECT unnest(list_filter(string_split(lower(text), ' '),
        |    x -> length(x) > 0)) AS word
        |  FROM documents),
        |wc AS (SELECT word, COUNT(*) AS cnt FROM tok GROUP BY word),
        |v1 AS (SELECT word, list_transform(range(1, length(word) + 1),
        |         i -> substr(word, CAST(i AS INT), 1)) AS syms, cnt FROM wc),
        |x1 AS (SELECT unnest(range(1, len(syms))) AS i, syms, cnt
        |       FROM v1 WHERE len(syms) >= 2),
        |c1 AS (SELECT syms[CAST(i AS INT)] AS p1, syms[CAST(i + 1 AS INT)] AS p2,
        |         CAST(SUM(cnt) AS BIGINT) AS freq
        |       FROM x1 GROUP BY 1, 2),
        |b1 AS (SELECT p1, p2, freq FROM c1 ORDER BY freq DESC, p1, p2 LIMIT 1),
        |f1 AS (
        |  SELECT word, syms AS old, cnt, 0 AS i, CAST([] AS VARCHAR[]) AS acc FROM v1
        |  UNION ALL
        |  SELECT word, old, cnt, i + 1,
        |    CASE WHEN len(acc) > 0 AND acc[len(acc)] = (SELECT p1 FROM b1)
        |              AND old[i + 1] = (SELECT p2 FROM b1)
        |         THEN list_append(acc[1:len(acc) - 1], (SELECT p1 || p2 FROM b1))
        |         ELSE list_append(acc, old[i + 1]) END
        |  FROM f1 WHERE i < len(old)),
        |v2 AS (SELECT word, acc AS syms, cnt FROM f1 WHERE i = len(old)),
        |x2 AS (SELECT unnest(range(1, len(syms))) AS i, syms, cnt
        |       FROM v2 WHERE len(syms) >= 2),
        |c2 AS (SELECT syms[CAST(i AS INT)] AS p1, syms[CAST(i + 1 AS INT)] AS p2,
        |         CAST(SUM(cnt) AS BIGINT) AS freq
        |       FROM x2 GROUP BY 1, 2),
        |b2 AS (SELECT p1, p2, freq FROM c2 ORDER BY freq DESC, p1, p2 LIMIT 1),
        |f2 AS (
        |  SELECT word, syms AS old, cnt, 0 AS i, CAST([] AS VARCHAR[]) AS acc FROM v2
        |  UNION ALL
        |  SELECT word, old, cnt, i + 1,
        |    CASE WHEN len(acc) > 0 AND acc[len(acc)] = (SELECT p1 FROM b2)
        |              AND old[i + 1] = (SELECT p2 FROM b2)
        |         THEN list_append(acc[1:len(acc) - 1], (SELECT p1 || p2 FROM b2))
        |         ELSE list_append(acc, old[i + 1]) END
        |  FROM f2 WHERE i < len(old)),
        |v3 AS (SELECT word, acc AS syms, cnt FROM f2 WHERE i = len(old)),
        |x3 AS (SELECT unnest(range(1, len(syms))) AS i, syms, cnt
        |       FROM v3 WHERE len(syms) >= 2),
        |c3 AS (SELECT syms[CAST(i AS INT)] AS p1, syms[CAST(i + 1 AS INT)] AS p2,
        |         CAST(SUM(cnt) AS BIGINT) AS freq
        |       FROM x3 GROUP BY 1, 2),
        |b3 AS (SELECT p1, p2, freq FROM c3 ORDER BY freq DESC, p1, p2 LIMIT 1),
        |f3 AS (
        |  SELECT word, syms AS old, cnt, 0 AS i, CAST([] AS VARCHAR[]) AS acc FROM v3
        |  UNION ALL
        |  SELECT word, old, cnt, i + 1,
        |    CASE WHEN len(acc) > 0 AND acc[len(acc)] = (SELECT p1 FROM b3)
        |              AND old[i + 1] = (SELECT p2 FROM b3)
        |         THEN list_append(acc[1:len(acc) - 1], (SELECT p1 || p2 FROM b3))
        |         ELSE list_append(acc, old[i + 1]) END
        |  FROM f3 WHERE i < len(old)),
        |v4 AS (SELECT word, acc AS syms, cnt FROM f3 WHERE i = len(old)),
        |docw AS (
        |  SELECT source, unnest(list_filter(string_split(lower(text), ' '),
        |    x -> length(x) > 0)) AS word
        |  FROM documents),
        |agg AS (
        |  SELECT source, CAST(COUNT(*) AS BIGINT) AS n_words,
        |    CAST(SUM(length(w.word)) AS BIGINT) AS n_chars,
        |    CAST(SUM(len(v4.syms)) AS BIGINT) AS n_tokens
        |  FROM docw w JOIN v4 ON v4.word = w.word GROUP BY source)
        |SELECT source, n_words, n_tokens,
        |  CAST(n_tokens * 1000 // n_words AS BIGINT) AS tokens_per_kword,
        |  CAST(n_chars * 1000 // n_tokens AS BIGINT) AS chars_per_ktoken
        |FROM agg ORDER BY source""".stripMargin,
    // content-defined chunking: boundaries where the 8-char rolling
    // poly-hash hits 0 mod 64 — same fold as the engine's native
    // poly_hash, recomputed per window
    "txt_cdc_chunks" ->
      """WITH d AS (
        |  SELECT doc_id, text, CAST(length(text) AS BIGINT) AS n
        |  FROM documents WHERE length(text) >= 1),
        |b AS (SELECT doc_id, text, n,
        |  CASE WHEN n >= 8 THEN list_filter(list_transform(range(8, n + 1), p ->
        |    CASE WHEN list_reduce(list_prepend(CAST(0 AS BIGINT),
        |        list_transform(string_split(substr(text, CAST(p - 7 AS INT), 8), ''),
        |          c -> ascii(c))),
        |        (h, c) -> (h * 31 + c) % 1000000000000000) % 64 = 0
        |      THEN p ELSE CAST(-1 AS BIGINT) END), p -> p > 0)
        |  ELSE CAST([] AS BIGINT[]) END AS bnd FROM d),
        |s AS (SELECT doc_id, text, n,
        |  list_prepend(CAST(1 AS BIGINT), list_transform(bnd, p -> p + 1)) AS starts,
        |  list_append(bnd, n) AS ends FROM b),
        |e AS (SELECT doc_id, text,
        |  unnest(range(1, len(starts) + 1)) AS ci, starts, ends FROM s),
        |c AS (SELECT doc_id, CAST(ci AS BIGINT) AS chunk_idx, text,
        |  starts[CAST(ci AS INT)] AS c_start,
        |  ends[CAST(ci AS INT)] - starts[CAST(ci AS INT)] + 1 AS c_len
        |  FROM e)
        |SELECT doc_id, chunk_idx, c_start, c_len,
        |  md5(substr(text, CAST(c_start AS INT), CAST(c_len AS INT))) AS chunk_md5
        |FROM c WHERE c_len >= 1
        |ORDER BY doc_id, chunk_idx""".stripMargin,
    // BPE TRAINING loop, 3 rounds unrolled: per round the pair-count
    // argmax (freq DESC, pair ASC) becomes a merge rule, APPLIED to the
    // vocabulary by the same greedy leftmost fold as the engine — the
    // fold is replayed as a lockstep recursive walk over each word's
    // symbol list (one step per symbol, all words advancing together)
    "txt_bpe_merges" ->
      """WITH RECURSIVE tok AS (
        |  SELECT unnest(list_filter(string_split(lower(text), ' '),
        |    x -> length(x) > 0)) AS word
        |  FROM documents),
        |wc AS (SELECT word, COUNT(*) AS cnt FROM tok GROUP BY word),
        |v1 AS (SELECT list_transform(range(1, length(word) + 1),
        |         i -> substr(word, CAST(i AS INT), 1)) AS syms, cnt FROM wc),
        |x1 AS (SELECT unnest(range(1, len(syms))) AS i, syms, cnt
        |       FROM v1 WHERE len(syms) >= 2),
        |c1 AS (SELECT syms[CAST(i AS INT)] AS p1, syms[CAST(i + 1 AS INT)] AS p2,
        |         CAST(SUM(cnt) AS BIGINT) AS freq
        |       FROM x1 GROUP BY 1, 2),
        |b1 AS (SELECT p1, p2, freq FROM c1 ORDER BY freq DESC, p1, p2 LIMIT 1),
        |f1 AS (
        |  SELECT syms AS old, cnt, 0 AS i, CAST([] AS VARCHAR[]) AS acc FROM v1
        |  UNION ALL
        |  SELECT old, cnt, i + 1,
        |    CASE WHEN len(acc) > 0 AND acc[len(acc)] = (SELECT p1 FROM b1)
        |              AND old[i + 1] = (SELECT p2 FROM b1)
        |         THEN list_append(acc[1:len(acc) - 1], (SELECT p1 || p2 FROM b1))
        |         ELSE list_append(acc, old[i + 1]) END
        |  FROM f1 WHERE i < len(old)),
        |v2 AS (SELECT acc AS syms, cnt FROM f1 WHERE i = len(old)),
        |x2 AS (SELECT unnest(range(1, len(syms))) AS i, syms, cnt
        |       FROM v2 WHERE len(syms) >= 2),
        |c2 AS (SELECT syms[CAST(i AS INT)] AS p1, syms[CAST(i + 1 AS INT)] AS p2,
        |         CAST(SUM(cnt) AS BIGINT) AS freq
        |       FROM x2 GROUP BY 1, 2),
        |b2 AS (SELECT p1, p2, freq FROM c2 ORDER BY freq DESC, p1, p2 LIMIT 1),
        |f2 AS (
        |  SELECT syms AS old, cnt, 0 AS i, CAST([] AS VARCHAR[]) AS acc FROM v2
        |  UNION ALL
        |  SELECT old, cnt, i + 1,
        |    CASE WHEN len(acc) > 0 AND acc[len(acc)] = (SELECT p1 FROM b2)
        |              AND old[i + 1] = (SELECT p2 FROM b2)
        |         THEN list_append(acc[1:len(acc) - 1], (SELECT p1 || p2 FROM b2))
        |         ELSE list_append(acc, old[i + 1]) END
        |  FROM f2 WHERE i < len(old)),
        |v3 AS (SELECT acc AS syms, cnt FROM f2 WHERE i = len(old)),
        |x3 AS (SELECT unnest(range(1, len(syms))) AS i, syms, cnt
        |       FROM v3 WHERE len(syms) >= 2),
        |c3 AS (SELECT syms[CAST(i AS INT)] AS p1, syms[CAST(i + 1 AS INT)] AS p2,
        |         CAST(SUM(cnt) AS BIGINT) AS freq
        |       FROM x3 GROUP BY 1, 2),
        |b3 AS (SELECT p1, p2, freq FROM c3 ORDER BY freq DESC, p1, p2 LIMIT 1)
        |SELECT CAST(1 AS BIGINT) AS round, p1, p2, p1 || p2 AS merged, freq FROM b1
        |UNION ALL SELECT CAST(2 AS BIGINT), p1, p2, p1 || p2, freq FROM b2
        |UNION ALL SELECT CAST(3 AS BIGINT), p1, p2, p1 || p2, freq FROM b3
        |ORDER BY round""".stripMargin,
    // temperature-weighted mixture (alpha = 1/2): rates from
    // floor(sqrt(per-source token mass)), membership by content hash
    "txt_temperature_mix" ->
      """WITH d AS (
        |  SELECT source,
        |    len(list_filter(string_split(lower(text), ' '), x -> length(x) > 0)) AS nt,
        |    list_reduce(list_prepend(CAST(0 AS BIGINT),
        |      list_transform(string_split(text, ''), c -> ascii(c))),
        |      (h, c) -> (h * 31 + c) % 1000000000000000) % 100 AS h
        |  FROM documents),
        |m AS (SELECT source, CAST(SUM(nt) AS BIGINT) AS tok_s,
        |        CAST(FLOOR(SQRT(CAST(SUM(nt) AS DOUBLE))) AS BIGINT) AS w
        |      FROM d GROUP BY source),
        |t AS (SELECT CAST(SUM(w) AS BIGINT) AS wsum FROM m),
        |r AS (SELECT source, tok_s, w,
        |        CAST((100 * w) // wsum AS BIGINT) AS rate FROM m CROSS JOIN t)
        |SELECT d.source, MAX(r.tok_s) AS tok_s, MAX(r.w) AS w, MAX(r.rate) AS rate,
        |  CAST(SUM(CASE WHEN d.h < r.rate THEN 1 ELSE 0 END) AS BIGINT) AS n_sampled
        |FROM d JOIN r ON d.source = r.source
        |GROUP BY d.source ORDER BY d.source""".stripMargin,
    // KN-ingredient bigram LM counts: c(w1,w2) + continuation count of w2
    "txt_bigram_lm" ->
      """WITH t AS (
        |  SELECT doc_id,
        |    list_filter(string_split(lower(text), ' '), x -> length(x) > 0) AS w
        |  FROM documents),
        |bg AS (
        |  SELECT w[i] AS w1, w[i + 1] AS w2
        |  FROM (SELECT w, unnest(range(1, len(w))) AS i FROM t WHERE len(w) >= 2)),
        |bgc AS (SELECT w1, w2, COUNT(*) AS cnt FROM bg GROUP BY w1, w2),
        |cont AS (SELECT w2, COUNT(*) AS cont_w2 FROM bgc GROUP BY w2)
        |SELECT w1, w2, cnt, cont_w2 FROM bgc JOIN cont USING (w2)
        |ORDER BY cnt DESC, w1, w2 LIMIT 20""".stripMargin,
    // interpolated Kneser-Ney: the probability is the IDENTICAL IEEE
    // expression tree both engines (each op correctly rounded), all
    // factors exact integers off the one bigram table
    "txt_kneser_ney" ->
      """WITH t AS (
        |  SELECT doc_id,
        |    list_filter(string_split(lower(text), ' '), x -> length(x) > 0) AS w
        |  FROM documents),
        |bg AS (
        |  SELECT w[i] AS w1, w[i + 1] AS w2
        |  FROM (SELECT w, unnest(range(1, len(w))) AS i FROM t WHERE len(w) >= 2)),
        |bgc AS (SELECT w1, w2, COUNT(*) AS cnt FROM bg GROUP BY w1, w2),
        |lm AS (SELECT w1, SUM(cnt) AS ca, COUNT(*) AS n1p_left FROM bgc GROUP BY w1),
        |rm AS (SELECT w2, COUNT(*) AS n1p_right FROM bgc GROUP BY w2),
        |tot AS (SELECT COUNT(*) AS nb FROM bgc)
        |SELECT w1, w2, cnt,
        |  (CAST(cnt AS DOUBLE) - 0.75) / CAST(ca AS DOUBLE) +
        |    0.75 * CAST(n1p_left AS DOUBLE) / CAST(ca AS DOUBLE) *
        |      (CAST(n1p_right AS DOUBLE) / CAST(nb AS DOUBLE)) AS pkn
        |FROM bgc JOIN lm USING (w1) JOIN rm USING (w2) CROSS JOIN tot
        |ORDER BY pkn DESC, w1, w2 LIMIT 20""".stripMargin,
    // collocations: lift = cnt*N/(ca*cb) as the IDENTICAL IEEE double
    // expression both engines — monotone in PMI, so the ranking is PMI's
    "txt_collocations" ->
      """WITH t AS (
        |  SELECT doc_id,
        |    list_filter(string_split(lower(text), ' '), x -> length(x) > 0) AS w
        |  FROM documents),
        |bg AS (
        |  SELECT w[i] AS w1, w[i + 1] AS w2
        |  FROM (SELECT w, unnest(range(1, len(w))) AS i FROM t WHERE len(w) >= 2)),
        |bgc AS (SELECT w1, w2, COUNT(*) AS cnt FROM bg GROUP BY w1, w2),
        |l AS (SELECT w1, CAST(SUM(cnt) AS BIGINT) AS ca FROM bgc GROUP BY w1),
        |r AS (SELECT w2, CAST(SUM(cnt) AS BIGINT) AS cb FROM bgc GROUP BY w2),
        |n AS (SELECT CAST(SUM(cnt) AS BIGINT) AS nb FROM bgc)
        |SELECT w1, w2, cnt,
        |  (CAST(cnt AS DOUBLE) * CAST(nb AS DOUBLE)) /
        |    (CAST(ca AS DOUBLE) * CAST(cb AS DOUBLE)) AS lift
        |FROM bgc JOIN l USING (w1) JOIN r USING (w2) CROSS JOIN n
        |WHERE cnt >= 5
        |ORDER BY lift DESC, w1, w2 LIMIT 50""".stripMargin,
    // bigram surprisal in whole bits: floored-log2 count ratios via
    // length(bin(x)) — no transcendentals, integer-exact both engines
    // CCNet head/middle/tail terciles of integer milli-bit surprisal;
    // exact boundaries off the bounded value histogram
    "txt_perplexity_buckets" ->
      """WITH t AS (
        |  SELECT doc_id,
        |    list_filter(string_split(lower(text), ' '), x -> length(x) > 0) AS w
        |  FROM documents),
        |bg AS (
        |  SELECT doc_id, w[i] AS w1, w[i + 1] AS w2
        |  FROM (SELECT doc_id, w, unnest(range(1, len(w))) AS i
        |        FROM t WHERE len(w) >= 2)),
        |db AS (SELECT doc_id, w1, w2, COUNT(*) AS tf FROM bg GROUP BY doc_id, w1, w2),
        |lm AS (SELECT w1, w2, CAST(SUM(tf) AS BIGINT) AS cnt FROM db GROUP BY w1, w2),
        |lt AS (SELECT w1, CAST(SUM(cnt) AS BIGINT) AS left_cnt FROM lm GROUP BY w1),
        |s AS (
        |  SELECT doc_id, CAST(SUM(tf) AS BIGINT) AS n_bigrams,
        |    CAST(SUM(tf * (CAST(LENGTH(bin(left_cnt)) - 1 AS BIGINT)
        |            - CAST(LENGTH(bin(cnt)) - 1 AS BIGINT))) AS BIGINT) AS surprisal_bits
        |  FROM db JOIN lm USING (w1, w2) JOIN lt USING (w1)
        |  GROUP BY doc_id),
        |v AS (SELECT doc_id,
        |    CAST(FLOOR(1000 * surprisal_bits / n_bigrams) AS BIGINT) AS v FROM s),
        |hist AS (SELECT v, COUNT(*) AS cnt FROM v GROUP BY v),
        |cum AS (SELECT v, cnt,
        |    SUM(cnt) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING) AS cum FROM hist),
        |nn AS (SELECT COUNT(*) AS n FROM v),
        |bounds AS (
        |  SELECT MIN(CASE WHEN cum * 3 >= n THEN v END) AS t1,
        |    MIN(CASE WHEN cum * 3 >= n * 2 THEN v END) AS t2
        |  FROM cum CROSS JOIN nn)
        |SELECT CASE WHEN v <= t1 THEN 'head' WHEN v <= t2 THEN 'middle'
        |    ELSE 'tail' END AS bucket,
        |  COUNT(*) AS n_docs,
        |  MIN(v) AS min_milli,
        |  MAX(v) AS max_milli,
        |  CAST(SUM(v) AS BIGINT) AS sum_milli
        |FROM v CROSS JOIN bounds
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "txt_lm_surprisal" ->
      """WITH t AS (
        |  SELECT doc_id,
        |    list_filter(string_split(lower(text), ' '), x -> length(x) > 0) AS w
        |  FROM documents),
        |bg AS (
        |  SELECT doc_id, w[i] AS w1, w[i + 1] AS w2
        |  FROM (SELECT doc_id, w, unnest(range(1, len(w))) AS i
        |        FROM t WHERE len(w) >= 2)),
        |db AS (SELECT doc_id, w1, w2, COUNT(*) AS tf FROM bg GROUP BY doc_id, w1, w2),
        |lm AS (SELECT w1, w2, CAST(SUM(tf) AS BIGINT) AS cnt FROM db GROUP BY w1, w2),
        |lt AS (SELECT w1, CAST(SUM(cnt) AS BIGINT) AS left_cnt FROM lm GROUP BY w1),
        |s AS (
        |  SELECT doc_id, CAST(SUM(tf) AS BIGINT) AS n_bigrams,
        |    CAST(SUM(tf * (CAST(LENGTH(bin(left_cnt)) - 1 AS BIGINT)
        |            - CAST(LENGTH(bin(cnt)) - 1 AS BIGINT))) AS BIGINT) AS surprisal_bits
        |  FROM db JOIN lm USING (w1, w2) JOIN lt USING (w1)
        |  GROUP BY doc_id)
        |SELECT doc_id, n_bigrams, surprisal_bits,
        |  CAST(FLOOR(1000 * surprisal_bits / n_bigrams) AS BIGINT) AS surprisal_milli
        |FROM s ORDER BY doc_id""".stripMargin,
    // DoReMi step, linearized: per-source excess surprisal over the
    // corpus mean -> clamped integer multiplicative factor -> ppm
    "txt_doremi_step" ->
      """WITH t AS (
        |  SELECT doc_id, source,
        |    list_filter(string_split(lower(text), ' '), x -> length(x) > 0) AS w
        |  FROM documents),
        |bg AS (
        |  SELECT doc_id, source, w[i] AS w1, w[i + 1] AS w2
        |  FROM (SELECT doc_id, source, w, unnest(range(1, len(w))) AS i
        |        FROM t WHERE len(w) >= 2)),
        |db AS (SELECT doc_id, source, w1, w2, COUNT(*) AS tf
        |  FROM bg GROUP BY doc_id, source, w1, w2),
        |lm AS (SELECT w1, w2, CAST(SUM(tf) AS BIGINT) AS cnt
        |  FROM db GROUP BY w1, w2),
        |lt AS (SELECT w1, CAST(SUM(cnt) AS BIGINT) AS left_cnt
        |  FROM lm GROUP BY w1),
        |s AS (
        |  SELECT doc_id, source, CAST(SUM(tf) AS BIGINT) AS n_bigrams,
        |    CAST(SUM(tf * (CAST(LENGTH(bin(left_cnt)) - 1 AS BIGINT)
        |            - CAST(LENGTH(bin(cnt)) - 1 AS BIGINT))) AS BIGINT) AS sb
        |  FROM db JOIN lm USING (w1, w2) JOIN lt USING (w1)
        |  GROUP BY doc_id, source),
        |src AS (
        |  SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
        |    CAST(SUM(n_bigrams) AS BIGINT) AS nb,
        |    CAST(SUM(sb) AS BIGINT) AS sbs
        |  FROM s GROUP BY source),
        |tot AS (SELECT CAST(SUM(nb) AS BIGINT) AS tnb,
        |  CAST(SUM(sbs) AS BIGINT) AS tsb FROM src),
        |sc AS (
        |  SELECT source, n_docs, 1000 * sbs // nb AS src_milli,
        |    1000 * sbs // nb - 1000 * tsb // tnb AS excess_milli
        |  FROM src, tot),
        |fac AS (
        |  SELECT source, n_docs, src_milli, excess_milli,
        |    1000 + GREATEST(CAST(0 AS BIGINT),
        |      LEAST(excess_milli, CAST(1000 AS BIGINT))) AS factor_milli
        |  FROM sc),
        |fs AS (SELECT CAST(SUM(factor_milli) AS BIGINT) AS fsum FROM fac)
        |SELECT source, n_docs, src_milli AS mean_surprisal_milli,
        |  excess_milli, factor_milli,
        |  factor_milli * 1000000 // fsum AS weight_ppm
        |FROM fac, fs ORDER BY source""".stripMargin,
    // DSIR importance weights: hashed-unigram target-vs-raw log ratios
    // in SIXTEENTHS of a bit (linear-mantissa-interpolated integer
    // log2), Laplace-smoothed — integer-exact in both engines
    "txt_dsir_weights" ->
      """WITH t AS (
        |  SELECT doc_id, lang,
        |    list_filter(string_split(lower(text), ' '), x -> length(x) > 0) AS w
        |  FROM documents),
        |tok AS (
        |  SELECT doc_id, lang,
        |    list_reduce(list_prepend(CAST(0 AS BIGINT),
        |      list_transform(string_split(wrd, ''), c -> ascii(c))),
        |      (h, c) -> (h * 31 + c) % 1000000000000000) % 1024 AS b
        |  FROM (SELECT doc_id, lang, unnest(w) AS wrd FROM t)),
        |db AS (SELECT doc_id, lang, b, COUNT(*) AS tf FROM tok GROUP BY doc_id, lang, b),
        |raw AS (SELECT b, CAST(SUM(tf) AS BIGINT) AS rcnt FROM db GROUP BY b),
        |tgt AS (SELECT b, CAST(SUM(tf) AS BIGINT) AS tcnt FROM db WHERE lang = 'en' GROUP BY b),
        |tot AS (SELECT CAST(SUM(rcnt) AS BIGINT) AS r_total FROM raw),
        |ttot AS (SELECT CAST(SUM(tcnt) AS BIGINT) AS t_total FROM tgt),
        |l0 AS (
        |  SELECT raw.b, COALESCE(tcnt, 0) + 1 AS tv, t_total + 1024 AS ttv,
        |         rcnt + 1 AS rv, r_total + 1024 AS rtv
        |  FROM raw LEFT JOIN tgt ON raw.b = tgt.b, tot, ttot),
        |l1 AS (
        |  SELECT b,
        |    16 * (LENGTH(bin(tv)) - 1) + ((tv - CAST(2 ** (LENGTH(bin(tv)) - 1) AS BIGINT)) * 16)
        |      // CAST(2 ** (LENGTH(bin(tv)) - 1) AS BIGINT) AS qtv,
        |    16 * (LENGTH(bin(ttv)) - 1) + ((ttv - CAST(2 ** (LENGTH(bin(ttv)) - 1) AS BIGINT)) * 16)
        |      // CAST(2 ** (LENGTH(bin(ttv)) - 1) AS BIGINT) AS qttv,
        |    16 * (LENGTH(bin(rv)) - 1) + ((rv - CAST(2 ** (LENGTH(bin(rv)) - 1) AS BIGINT)) * 16)
        |      // CAST(2 ** (LENGTH(bin(rv)) - 1) AS BIGINT) AS qrv,
        |    16 * (LENGTH(bin(rtv)) - 1) + ((rtv - CAST(2 ** (LENGTH(bin(rtv)) - 1) AS BIGINT)) * 16)
        |      // CAST(2 ** (LENGTH(bin(rtv)) - 1) AS BIGINT) AS qrtv
        |  FROM l0),
        |lut AS (SELECT b, CAST((qtv - qttv) - (qrv - qrtv) AS BIGINT) AS bits16 FROM l1),
        |s AS (
        |  SELECT doc_id, CAST(SUM(tf) AS BIGINT) AS n_tokens,
        |    CAST(SUM(tf * bits16) AS BIGINT) AS logw_bits16
        |  FROM db JOIN lut ON db.b = lut.b GROUP BY doc_id)
        |SELECT doc_id, n_tokens, logw_bits16,
        |  CAST(FLOOR(1000 * logw_bits16 / n_tokens) AS BIGINT) AS logw_milli16
        |FROM s ORDER BY doc_id""".stripMargin,
    // epoch repeat: integer part unconditional, fraction by content hash
    "txt_epoch_repeat" ->
      """WITH h AS (
        |  SELECT doc_id, source,
        |    list_reduce(list_prepend(CAST(0 AS BIGINT),
        |      list_transform(string_split(text, ''), c -> ascii(c))),
        |      (h, c) -> (h * 31 + c) % 1000000000000000) AS ph,
        |    CASE WHEN source IN ('src0','src1','src2') THEN 25
        |         WHEN source IN ('src3','src4') THEN 16 ELSE 10 END AS tenths
        |  FROM documents),
        |c AS (
        |  SELECT doc_id, source,
        |    tenths // 10 + CASE WHEN ph % 10 < tenths % 10 THEN 1 ELSE 0 END AS n
        |  FROM h)
        |SELECT doc_id, source, CAST(unnest(range(1, n + 1)) AS BIGINT) AS copy_nb
        |FROM c ORDER BY doc_id, copy_nb""".stripMargin,
    "txt_mixture_sample" ->
      """SELECT source, COUNT(*) AS n_sampled FROM documents
        |WHERE list_reduce(list_prepend(CAST(0 AS BIGINT),
        |    list_transform(string_split(text, ''), c -> ascii(c))),
        |    (h, c) -> (h * 31 + c) % 1000000000000000) % 100
        |  < CASE WHEN source IN ('src0','src1','src2','src3','src4') THEN 30 ELSE 10 END
        |GROUP BY source ORDER BY source""".stripMargin,
    // per-domain document cap: keep each domain's k longest docs
    "txt_domain_cap" ->
      """SELECT source, rnk, doc_id, n_chars FROM (
        |  SELECT source, doc_id, n_chars,
        |    CAST(row_number() OVER (
        |      PARTITION BY source ORDER BY n_chars DESC, doc_id) AS BIGINT) AS rnk
        |  FROM documents)
        |WHERE rnk <= 15 ORDER BY source, rnk""".stripMargin,
    // unigram rarity: integer inverse-frequency surprisal proxy
    "txt_rarity" ->
      """WITH tok AS (
        |  SELECT doc_id, unnest(list_filter(string_split(lower(text), ' '),
        |    x -> length(x) > 0)) AS term
        |  FROM documents),
        |cnts AS (SELECT term, COUNT(*) AS cnt FROM tok GROUP BY term),
        |tot AS (SELECT CAST(SUM(cnt) AS BIGINT) AS n_total FROM cnts)
        |SELECT doc_id, COUNT(*) AS n_tokens,
        |  CAST(SUM(n_total // cnt) AS BIGINT) AS rarity_sum,
        |  CAST(SUM(n_total // cnt) // COUNT(*) AS BIGINT) AS rarity_per_token
        |FROM tok JOIN cnts USING (term) CROSS JOIN tot
        |GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    // curriculum mixture: exact global quality rank -> decile x source
    // contingency table (two-level numbering on the Spark side, plain
    // global window here)
    "pipe_curriculum" ->
      """WITH w AS (
        |  SELECT doc_id, source, text,
        |    list_filter(string_split(lower(text), ' '), x -> length(x) > 0) AS ws
        |  FROM documents),
        |m AS (
        |  SELECT doc_id, source,
        |    CASE WHEN len(ws) = 0 OR length(text) = 0 THEN 0.0 ELSE
        |    (CAST(len(list_distinct(ws)) AS DOUBLE) / len(ws)) * 0.5
        |    + (CAST(len(list_filter(ws, x -> list_contains(['the','a','of','and','to'], x))) AS DOUBLE) / len(ws)) * 0.3
        |    + (1.0 - CAST(length(text) - length(regexp_replace(text, '[.,!?;:]', '', 'g')) AS DOUBLE) / length(text)) * 0.2 END AS qs
        |  FROM w),
        |r AS (
        |  SELECT source, row_number() OVER (ORDER BY qs, doc_id) AS rnk,
        |    COUNT(*) OVER () AS n FROM m)
        |SELECT CAST((rnk - 1) * 10 // n AS BIGINT) AS decile, source,
        |  COUNT(*) AS n_docs
        |FROM r GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    // exact per-stratum quota: rank by the portable content hash inside
    // each source, keep the first ceil(n_s/5)
    "txt_stratified_sample" ->
      """WITH d AS (
        |  SELECT doc_id, source,
        |    list_reduce(list_prepend(CAST(0 AS BIGINT),
        |      list_transform(string_split(text, ''), c -> ascii(c))),
        |      (h, c) -> (h * 31 + c) % 1000000000000000) AS h
        |  FROM documents),
        |r AS (
        |  SELECT doc_id, source,
        |    COUNT(*) OVER (PARTITION BY source) AS ns,
        |    row_number() OVER (PARTITION BY source ORDER BY h, doc_id) AS rn
        |  FROM d)
        |SELECT doc_id, source, CAST(rn AS BIGINT) AS sample_rank
        |FROM r WHERE rn <= (ns + 4) // 5
        |ORDER BY source, sample_rank""".stripMargin,
    // priority sampling: u from md5(doc_id), priority = w/(h+1) — one
    // IEEE division, correctly rounded, so the double is bit-identical
    // across engines and safe to emit
    "txt_weighted_sample" ->
      """SELECT doc_id, n_chars,
        |  CAST(n_chars AS DOUBLE) /
        |    (CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))
        |      AS BIGINT) + 1) AS priority
        |FROM documents
        |ORDER BY priority DESC, doc_id LIMIT 100""".stripMargin,
    "txt_sql_fingerprint" ->
      """WITH wh AS (
        |  SELECT doc_id, text,
        |    list_transform(
        |      list_filter(string_split(lower(text), ' '), x -> length(x) > 0),
        |      w -> list_reduce(list_prepend(CAST(0 AS BIGINT),
        |        list_transform(string_split(w, ''), c -> ascii(c))),
        |        (h, c) -> (h * 31 + c) % 1000000000000000)) AS whs
        |  FROM documents)
        |SELECT doc_id,
        |  list_reduce(list_prepend(CAST(0 AS BIGINT),
        |    list_transform(string_split(text, ''), c -> ascii(c))),
        |    (h, c) -> (h * 31 + c) % 1000000000000000) AS fp_full,
        |  CAST(list_sum(list_transform(range(0, 48), j ->
        |    CASE WHEN 2 * len(list_filter(whs,
        |        h -> CAST(floor(h / pow(2, j)) AS BIGINT) % 2 = 1)) >= len(whs)
        |      THEN CAST(floor(pow(2, j)) AS BIGINT) ELSE 0 END)) AS BIGINT) AS fp_simhash
        |FROM wh ORDER BY doc_id""".stripMargin,
    // ExactSubstr span dedup: every non-canonical occurrence of a
    // duplicated word-8-gram (canonical = min (doc_id, pos)) marks its 8
    // covered words removed; survivors re-join into dedup_text. Gram
    // keys are the same 60-bit polynomial shingle hashes as
    // dd_contamination (shinglek_hashes spelling, copied verbatim).
    // aligned block-level dedup: first occurrence (min doc_id*1e6+bpos)
    // of each 8-word block survives; docs reassemble from kept blocks
    "dd_block_dedup" ->
      """WITH corpus AS (
        |  SELECT doc_id, source, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 100000, source, text FROM documents WHERE doc_id % 10 = 0
        |  UNION ALL
        |  SELECT doc_id + 200000, source, 'extra words added ' || text FROM documents WHERE doc_id % 10 = 5),
        |base AS (
        |  SELECT doc_id,
        |    list_filter(string_split(lower(text), ' '), x -> length(x) > 0) AS ws
        |  FROM corpus),
        |b0 AS (
        |  SELECT doc_id, ws, CAST((len(ws) + 7) // 8 AS BIGINT) AS n_blocks
        |  FROM base WHERE len(ws) > 0),
        |blk AS (
        |  SELECT doc_id, u.bpos AS bpos, u.bh AS bh FROM (
        |    SELECT doc_id, unnest([{'bpos': b,
        |        'bh': md5(array_to_string(ws[b*8+1 : b*8+8], ' '))}
        |      for b in range(0, n_blocks)]) AS u
        |    FROM b0)),
        |gs AS (
        |  SELECT doc_id, bpos,
        |    MIN(doc_id * 1000000 + bpos) OVER (PARTITION BY bh) AS firstk
        |  FROM blk),
        |rm AS (
        |  SELECT doc_id, list(bpos) AS rmv FROM gs
        |  WHERE doc_id * 1000000 + bpos <> firstk GROUP BY doc_id)
        |SELECT b0.doc_id, n_blocks,
        |  CAST(n_blocks - COALESCE(len(rmv), 0) AS BIGINT) AS n_kept,
        |  COALESCE(array_to_string(flatten(list_transform(
        |    list_filter(range(0, n_blocks),
        |      b -> NOT list_contains(COALESCE(rmv, CAST([] AS BIGINT[])), b)),
        |    b -> ws[b*8+1 : b*8+8])), ' '), '') AS dedup_text
        |FROM b0 LEFT JOIN rm ON b0.doc_id = rm.doc_id
        |ORDER BY b0.doc_id""".stripMargin,
    // blocked fuzzy record linkage: deterministic noise replayed here,
    // block on the digit-run suffix, levenshtein verify, best-match
    // resolve — levenshtein is the same built-in both engines
    "dd_record_linkage" ->
      """WITH noisy AS (
        |  SELECT c_custkey AS n_id,
        |    CASE CAST(c_custkey % 4 AS INT)
        |      WHEN 0 THEN replace(c_name, '#', '-')
        |      WHEN 1 THEN lower(c_name)
        |      WHEN 2 THEN substr(c_name, 2)
        |      ELSE concat(c_name, 'X') END AS n_name
        |  FROM customer),
        |nb AS (SELECT n_id, n_name,
        |  substr(regexp_replace(n_name, '[^0-9]', '', 'g'), -4) AS blk FROM noisy),
        |cb AS (SELECT c_custkey, c_name,
        |  substr(regexp_replace(c_name, '[^0-9]', '', 'g'), -4) AS blk FROM customer),
        |cand AS (
        |  SELECT n_id, c_custkey, levenshtein(lower(n_name), lower(c_name)) AS dist
        |  FROM nb JOIN cb USING (blk)
        |  WHERE levenshtein(lower(n_name), lower(c_name)) <= 2),
        |best AS (
        |  SELECT n_id, c_custkey, dist,
        |    row_number() OVER (PARTITION BY n_id ORDER BY dist, c_custkey) AS rn
        |  FROM cand)
        |SELECT n_id, CAST(c_custkey AS BIGINT) AS matched_custkey,
        |       CAST(dist AS BIGINT) AS dist
        |FROM best WHERE rn = 1 ORDER BY n_id""".stripMargin,
    // blocking-key sweep: both key widths on one corpus — block bound,
    // pre-verify candidate volume, and linkage accuracy per scheme
    "dd_linkage_block_sweep" ->
      """WITH noisy AS (
        |  SELECT c_custkey AS n_id,
        |    CASE CAST(c_custkey % 4 AS INT)
        |      WHEN 0 THEN replace(c_name, '#', '-')
        |      WHEN 1 THEN lower(c_name)
        |      WHEN 2 THEN substr(c_name, 2)
        |      ELSE concat(c_name, 'X') END AS n_name
        |  FROM customer),
        |s4_nb AS (SELECT n_id, n_name,
        |  substr(regexp_replace(n_name, '[^0-9]', '', 'g'), -4) AS blk FROM noisy),
        |s4_cb AS (SELECT c_custkey, c_name,
        |  substr(regexp_replace(c_name, '[^0-9]', '', 'g'), -4) AS blk FROM customer),
        |s4_blocks AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_blocks,
        |    CAST(MAX(bn) AS BIGINT) AS max_block
        |  FROM (SELECT blk, COUNT(*) AS bn FROM s4_cb GROUP BY blk) z),
        |s4_cand AS (SELECT n_id, c_custkey,
        |    levenshtein(lower(n_name), lower(c_name)) AS dist
        |  FROM s4_nb JOIN s4_cb USING (blk)),
        |s4_ncand AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_cand FROM s4_cand),
        |s4_best AS (SELECT n_id, c_custkey,
        |    row_number() OVER (PARTITION BY n_id ORDER BY dist, c_custkey) AS rn
        |  FROM s4_cand WHERE dist <= 2),
        |s4_acc AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_linked,
        |    CAST(COUNT(CASE WHEN n_id = c_custkey THEN 1 END) AS BIGINT)
        |      AS n_correct
        |  FROM s4_best WHERE rn = 1),
        |s6_nb AS (SELECT n_id, n_name,
        |  substr(regexp_replace(n_name, '[^0-9]', '', 'g'), -6) AS blk FROM noisy),
        |s6_cb AS (SELECT c_custkey, c_name,
        |  substr(regexp_replace(c_name, '[^0-9]', '', 'g'), -6) AS blk FROM customer),
        |s6_blocks AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_blocks,
        |    CAST(MAX(bn) AS BIGINT) AS max_block
        |  FROM (SELECT blk, COUNT(*) AS bn FROM s6_cb GROUP BY blk) z),
        |s6_cand AS (SELECT n_id, c_custkey,
        |    levenshtein(lower(n_name), lower(c_name)) AS dist
        |  FROM s6_nb JOIN s6_cb USING (blk)),
        |s6_ncand AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_cand FROM s6_cand),
        |s6_best AS (SELECT n_id, c_custkey,
        |    row_number() OVER (PARTITION BY n_id ORDER BY dist, c_custkey) AS rn
        |  FROM s6_cand WHERE dist <= 2),
        |s6_acc AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_linked,
        |    CAST(COUNT(CASE WHEN n_id = c_custkey THEN 1 END) AS BIGINT)
        |      AS n_correct
        |  FROM s6_best WHERE rn = 1)
        |SELECT 'digits4' AS scheme, n_blocks, max_block, n_cand, n_linked,
        |    n_correct, n_correct * 10000 // n_linked AS acc_bp
        |  FROM s4_blocks, s4_ncand, s4_acc
        |UNION ALL
        |SELECT 'digits6', n_blocks, max_block, n_cand, n_linked,
        |    n_correct, n_correct * 10000 // n_linked
        |  FROM s6_blocks, s6_ncand, s6_acc
        |ORDER BY scheme""".stripMargin,
    // soft dedup: the dd_dup_clusters pipeline, ending in 1e6/csize
    // weights LEFT-joined back onto the full corpus (singletons weigh 1e6)
    "dd_soft_dedup" ->
      """WITH RECURSIVE corpus AS (
        |  SELECT doc_id, source, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 100000, source, text FROM documents
        |  WHERE doc_id % 10 = 0
        |  UNION ALL
        |  SELECT doc_id + 200000, source, 'extra words added ' || text
        |  FROM documents WHERE doc_id % 10 = 5),
        |t AS (
        |  SELECT doc_id,
        |    list_filter(string_split(lower(text), ' '), x -> length(x) > 0) AS ws
        |  FROM corpus),
        |w2 AS (
        |  SELECT doc_id,
        |    list_transform(ws, w -> list_reduce(list_prepend(CAST(0 AS BIGINT),
        |      list_transform(string_split(w, ''), c -> ascii(c))),
        |      (h, c) -> (h * 31 + c) % 1000000000000000)) AS whs
        |  FROM t),
        |s AS (
        |  SELECT doc_id,
        |    list_distinct(CASE WHEN len(whs) >= 3 THEN
        |      list_transform(range(1, len(whs) - 1),
        |        i -> ((whs[i] * 31 + whs[i+1]) % 1000000000000000 * 31
        |              + whs[i+2]) % 1000000000000000)
        |    ELSE [] END) AS sh
        |  FROM w2),
        |f AS (SELECT doc_id, sh FROM s WHERE len(sh) > 0),
        |ex AS (SELECT doc_id, len(sh) AS n, unnest(sh) AS s FROM f),
        |dfq AS (SELECT s, COUNT(*) AS df FROM ex GROUP BY s),
        |pr AS (SELECT doc_id, n, s FROM (
        |    SELECT ex.doc_id, ex.s, ex.n,
        |      row_number() OVER (PARTITION BY ex.doc_id ORDER BY dfq.df, ex.s) AS rn
        |    FROM ex JOIN dfq USING (s)) z
        |  WHERE rn <= n // 2 + 1),
        |cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        |  FROM pr a JOIN pr b ON a.s = b.s AND a.doc_id < b.doc_id
        |    AND 2 * LEAST(a.n, b.n) >= GREATEST(a.n, b.n)),
        |v AS (SELECT doc_a, doc_b,
        |    CAST(len(list_intersect(fa.sh, fb.sh)) AS DOUBLE)
        |      / (len(fa.sh) + len(fb.sh) - len(list_intersect(fa.sh, fb.sh))) AS jaccard
        |  FROM cand
        |  JOIN f fa ON fa.doc_id = doc_a
        |  JOIN f fb ON fb.doc_id = doc_b),
        |pairs AS (SELECT doc_a, doc_b FROM v WHERE jaccard >= 0.5),
        |edges AS (SELECT doc_a AS src, doc_b AS dst FROM pairs
        |  UNION ALL SELECT doc_b, doc_a FROM pairs),
        |r AS (
        |  SELECT src AS node, src AS reach FROM edges
        |  UNION
        |  SELECT r.node, e.dst FROM r JOIN edges e ON e.src = r.reach),
        |lab AS (SELECT node AS doc_id, MIN(reach) AS cluster_id FROM r GROUP BY node),
        |sz AS (SELECT cluster_id, COUNT(*) AS csize FROM lab GROUP BY cluster_id),
        |cl AS (SELECT l.doc_id, l.cluster_id, sz.csize
        |  FROM lab l JOIN sz USING (cluster_id))
        |SELECT c.doc_id, c.source,
        |  COALESCE(cl.cluster_id, c.doc_id) AS cluster_id,
        |  COALESCE(cl.csize, CAST(1 AS BIGINT)) AS csize,
        |  1000000 // COALESCE(cl.csize, CAST(1 AS BIGINT)) AS weight_ppm
        |FROM corpus c LEFT JOIN cl USING (doc_id)
        |ORDER BY doc_id""".stripMargin,
    // source-level containment matrix over distinct trigram-shingle sets
    "dd_source_overlap" ->
      """WITH t AS (
        |  SELECT source,
        |    list_filter(string_split(lower(text), ' '), x -> length(x) > 0) AS ws
        |  FROM documents),
        |w2 AS (
        |  SELECT source,
        |    list_transform(ws, w -> list_reduce(list_prepend(CAST(0 AS BIGINT),
        |      list_transform(string_split(w, ''), c -> ascii(c))),
        |      (h, c) -> (h * 31 + c) % 1000000000000000)) AS whs
        |  FROM t),
        |s AS (
        |  SELECT source,
        |    list_distinct(CASE WHEN len(whs) >= 3 THEN
        |      list_transform(range(1, len(whs) - 1),
        |        i -> ((whs[i] * 31 + whs[i+1]) % 1000000000000000 * 31
        |              + whs[i+2]) % 1000000000000000)
        |    ELSE [] END) AS sh
        |  FROM w2),
        |g AS (SELECT DISTINCT source, unnest(sh) AS gh
        |  FROM s WHERE len(sh) > 0),
        |sizes AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n
        |  FROM g GROUP BY source),
        |shared AS (
        |  SELECT a.source AS src_a, b.source AS src_b,
        |    CAST(COUNT(*) AS BIGINT) AS sh_n
        |  FROM g a JOIN g b ON a.gh = b.gh AND a.source <> b.source
        |  GROUP BY 1, 2)
        |SELECT sa.source AS src_a, sb.source AS src_b, sa.n AS n_a,
        |  COALESCE(sh_n, CAST(0 AS BIGINT)) AS n_shared,
        |  COALESCE(sh_n, CAST(0 AS BIGINT)) * 10000 // sa.n AS containment_bp
        |FROM sizes sa CROSS JOIN sizes sb
        |LEFT JOIN shared ON shared.src_a = sa.source AND shared.src_b = sb.source
        |WHERE sa.source <> sb.source
        |ORDER BY src_a, src_b""".stripMargin,
    // same corpus/gram/first-occurrence CTEs as dd_exact_substr (the
    // audit is defined over the exact removable set that pass cuts),
    // then gaps-and-islands over removable positions per doc
    "dd_span_audit" ->
      """WITH corpus AS (
        |  SELECT doc_id, source, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 100000, source, text FROM documents WHERE doc_id % 10 = 0
        |  UNION ALL
        |  SELECT doc_id + 200000, source, 'extra words added ' || text FROM documents WHERE doc_id % 10 = 5),
        |t AS (
        |  SELECT doc_id,
        |    list_filter(string_split(lower(text), ' '), x -> length(x) > 0) AS w
        |  FROM corpus),
        |w2 AS (
        |  SELECT doc_id, w,
        |    list_transform(w, x -> list_reduce(list_prepend(CAST(0 AS BIGINT),
        |      list_transform(string_split(x, ''), c -> ascii(c))),
        |      (h, c) -> (h * 31 + c) % 1000000000000000)) AS whs
        |  FROM t),
        |g AS (
        |  SELECT doc_id, u.p AS gpos, u.g AS gh FROM (
        |    SELECT doc_id, unnest([{'p': i, 'g': list_reduce(list_slice(whs, i, i + 7),
        |        (a, b) -> (a * 31 + b) % 1000000000000000)}
        |      for i in range(1, len(whs) - 6)]) AS u
        |    FROM w2 WHERE len(whs) >= 8)),
        |gs AS (
        |  SELECT doc_id, gpos,
        |    COUNT(*) OVER (PARTITION BY gh) AS cnt,
        |    MIN(doc_id * 1000000000 + gpos) OVER (PARTITION BY gh) AS firstk
        |  FROM g),
        |rmv AS (
        |  SELECT doc_id, gpos FROM gs
        |  WHERE cnt >= 2 AND doc_id * 1000000000 + gpos <> firstk),
        |isl AS (
        |  SELECT doc_id,
        |    gpos - ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY gpos) AS isl
        |  FROM rmv),
        |runs AS (
        |  SELECT doc_id, COUNT(*) + 7 AS span_words
        |  FROM isl GROUP BY doc_id, isl)
        |SELECT span_words,
        |  COUNT(*) AS n_runs,
        |  CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs
        |FROM runs GROUP BY span_words ORDER BY span_words""".stripMargin,
    "dd_exact_substr" ->
      """WITH corpus AS (
        |  SELECT doc_id, source, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 100000, source, text FROM documents WHERE doc_id % 10 = 0
        |  UNION ALL
        |  SELECT doc_id + 200000, source, 'extra words added ' || text FROM documents WHERE doc_id % 10 = 5),
        |t AS (
        |  SELECT doc_id,
        |    list_filter(string_split(lower(text), ' '), x -> length(x) > 0) AS w
        |  FROM corpus),
        |w2 AS (
        |  SELECT doc_id, w,
        |    list_transform(w, x -> list_reduce(list_prepend(CAST(0 AS BIGINT),
        |      list_transform(string_split(x, ''), c -> ascii(c))),
        |      (h, c) -> (h * 31 + c) % 1000000000000000)) AS whs
        |  FROM t),
        |g AS (
        |  SELECT doc_id, u.p AS gpos, u.g AS gh FROM (
        |    SELECT doc_id, unnest([{'p': i, 'g': list_reduce(list_slice(whs, i, i + 7),
        |        (a, b) -> (a * 31 + b) % 1000000000000000)}
        |      for i in range(1, len(whs) - 6)]) AS u
        |    FROM w2 WHERE len(whs) >= 8)),
        |gs AS (
        |  SELECT doc_id, gpos,
        |    COUNT(*) OVER (PARTITION BY gh) AS cnt,
        |    MIN(doc_id * 1000000000 + gpos) OVER (PARTITION BY gh) AS firstk
        |  FROM g),
        |rm AS (
        |  SELECT DISTINCT doc_id, wpos FROM (
        |    SELECT doc_id, unnest([gpos + o for o in range(0, 8)]) AS wpos
        |    FROM gs WHERE cnt >= 2 AND doc_id * 1000000000 + gpos <> firstk)),
        |tok AS (
        |  SELECT doc_id, unnest(w) AS word, generate_subscripts(w, 1) AS wpos FROM t)
        |SELECT tok.doc_id,
        |  COUNT(*) AS n_words,
        |  CAST(COUNT(*) FILTER (WHERE rm.wpos IS NULL) AS BIGINT) AS n_kept,
        |  COALESCE(string_agg(tok.word, ' ' ORDER BY tok.wpos)
        |    FILTER (WHERE rm.wpos IS NULL), '') AS dedup_text
        |FROM tok LEFT JOIN rm ON tok.doc_id = rm.doc_id AND tok.wpos = rm.wpos
        |GROUP BY tok.doc_id ORDER BY tok.doc_id""".stripMargin,
    "dd_exact" ->
      """WITH corpus AS (
        |  SELECT doc_id, source, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 100000, source, text FROM documents WHERE doc_id % 10 = 0
        |  UNION ALL
        |  SELECT doc_id + 200000, source, 'extra words added ' || text FROM documents WHERE doc_id % 10 = 5)
        |SELECT md5(text) AS text_md5, MIN(doc_id) AS rep_id, COUNT(*) AS n_copies,
        |  array_to_string(list_sort(list(doc_id)), ',') AS ids
        |FROM corpus GROUP BY md5(text) HAVING COUNT(*) > 1 ORDER BY rep_id""".stripMargin,
    // URL canonicalization dedup: the same regex/list normalization
    // pipeline rendered in DuckDB (lowercase authority, default-port /
    // fragment / tracking-param strip, param sort, trailing slash)
    "dd_url_canonical" ->
      """WITH u AS (
        |  SELECT doc_id,
        |    CASE doc_id % 4
        |      WHEN 0 THEN 'HTTPS://WWW.EXAMPLE.COM:443/p' || (doc_id // 4) || '/#sec'
        |      WHEN 1 THEN 'https://www.example.com/p' || (doc_id // 4) || '/?utm_campaign=x&utm_source=y'
        |      WHEN 2 THEN 'https://www.example.com/p' || (doc_id // 4) || '?b=2&a=1'
        |      ELSE 'https://www.example.com/p' || (doc_id // 4) || '/?a=1&gclid=zz&b=2'
        |    END AS url
        |  FROM documents),
        |c AS (
        |  SELECT doc_id, url,
        |    regexp_replace(
        |      regexp_replace(
        |        regexp_replace(
        |          lower(regexp_extract(url, '^([^/]*//[^/]*)', 1)) ||
        |            substr(url, length(regexp_extract(url, '^([^/]*//[^/]*)', 1)) + 1),
        |          '#.*$', ''),
        |        '^(https://[^/:]*):443(/|$)', '\1\2'),
        |      '^(http://[^/:]*):80(/|$)', '\1\2') AS np
        |  FROM u),
        |p AS (
        |  SELECT doc_id, url,
        |    regexp_replace(regexp_extract(np, '^([^?]*)', 1), '/$', '') AS base,
        |    COALESCE(array_to_string(list_sort(list_filter(
        |      string_split(regexp_extract(np, '\?(.*)$', 1), '&'),
        |      x -> length(x) > 0 AND NOT regexp_matches(x, '^(utm_[^=]*|gclid|fbclid)='))), '&'), '') AS params
        |  FROM c)
        |SELECT CASE WHEN params = '' THEN base ELSE base || '?' || params END AS canonical_url,
        |  CAST(COUNT(*) AS BIGINT) AS n_variants,
        |  CAST(COUNT(DISTINCT url) AS BIGINT) AS n_spellings,
        |  MIN(doc_id) AS rep_id
        |FROM p GROUP BY 1 HAVING COUNT(*) > 1 ORDER BY canonical_url""".stripMargin,
    "dd_ngram_jaccard" ->
      """WITH corpus AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 100000, text FROM documents WHERE doc_id % 10 = 0
        |  UNION ALL
        |  SELECT doc_id + 200000, 'extra words added ' || text FROM documents WHERE doc_id % 10 = 5),
        |t AS (
        |  SELECT doc_id,
        |    list_filter(string_split(lower(text), ' '), x -> length(x) > 0) AS ws
        |  FROM corpus),
        |w2 AS (
        |  SELECT doc_id,
        |    list_transform(ws, w -> list_reduce(list_prepend(CAST(0 AS BIGINT),
        |      list_transform(string_split(w, ''), c -> ascii(c))),
        |      (h, c) -> (h * 31 + c) % 1000000000000000)) AS whs
        |  FROM t),
        |s AS (
        |  SELECT doc_id,
        |    list_distinct(CASE WHEN len(whs) >= 3 THEN
        |      list_transform(range(1, len(whs) - 1),
        |        i -> ((whs[i] * 31 + whs[i+1]) % 1000000000000000 * 31
        |              + whs[i+2]) % 1000000000000000)
        |    ELSE [] END) AS sh
        |  FROM w2),
        |f AS (SELECT doc_id, sh FROM s WHERE len(sh) > 0),
        |ex AS (SELECT doc_id, len(sh) AS n, unnest(sh) AS s FROM f),
        |dfq AS (SELECT s, COUNT(*) AS df FROM ex GROUP BY s),
        |pr AS (SELECT doc_id, n, s FROM (
        |    SELECT ex.doc_id, ex.s, ex.n,
        |      row_number() OVER (PARTITION BY ex.doc_id ORDER BY dfq.df, ex.s) AS rn
        |    FROM ex JOIN dfq USING (s)) z
        |  WHERE rn <= n // 2 + 1),
        |cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        |  FROM pr a JOIN pr b ON a.s = b.s AND a.doc_id < b.doc_id
        |    AND 2 * LEAST(a.n, b.n) >= GREATEST(a.n, b.n)),
        |v AS (SELECT doc_a, doc_b,
        |    CAST(len(list_intersect(fa.sh, fb.sh)) AS DOUBLE)
        |      / (len(fa.sh) + len(fb.sh) - len(list_intersect(fa.sh, fb.sh))) AS jaccard
        |  FROM cand
        |  JOIN f fa ON fa.doc_id = doc_a
        |  JOIN f fb ON fb.doc_id = doc_b)
        |SELECT doc_a, doc_b, jaccard FROM v WHERE jaccard >= 0.5
        |ORDER BY doc_a, doc_b""".stripMargin,
    // asymmetric containment (|A∩B|/|A| >= 0.8, |A| <= |B|): overlap
    // counted via the shared-shingle equi-join (no all-pairs), exact
    // integer threshold 5*inter >= 4*|A|
    "dd_containment" ->
      """WITH corpus AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 100000, text FROM documents WHERE doc_id % 10 = 0
        |  UNION ALL
        |  SELECT doc_id + 200000, 'extra words added ' || text FROM documents WHERE doc_id % 10 = 5),
        |t AS (
        |  SELECT doc_id,
        |    list_filter(string_split(lower(text), ' '), x -> length(x) > 0) AS ws
        |  FROM corpus),
        |w2 AS (
        |  SELECT doc_id,
        |    list_transform(ws, w -> list_reduce(list_prepend(CAST(0 AS BIGINT),
        |      list_transform(string_split(w, ''), c -> ascii(c))),
        |      (h, c) -> (h * 31 + c) % 1000000000000000)) AS whs
        |  FROM t),
        |s AS (
        |  SELECT doc_id,
        |    list_distinct(CASE WHEN len(whs) >= 3 THEN
        |      list_transform(range(1, len(whs) - 1),
        |        i -> ((whs[i] * 31 + whs[i+1]) % 1000000000000000 * 31
        |              + whs[i+2]) % 1000000000000000)
        |    ELSE [] END) AS sh
        |  FROM w2),
        |f AS (SELECT doc_id, sh FROM s WHERE len(sh) > 0),
        |ex AS (SELECT doc_id, len(sh) AS n, unnest(sh) AS s FROM f),
        |ov AS (SELECT a.doc_id AS doc_small, b.doc_id AS doc_big, a.n AS ns,
        |         COUNT(*) AS inter
        |       FROM ex a JOIN ex b USING (s)
        |       WHERE a.n < b.n OR (a.n = b.n AND a.doc_id < b.doc_id)
        |       GROUP BY 1, 2, 3)
        |SELECT doc_small, doc_big, CAST(inter AS DOUBLE) / ns AS containment
        |FROM ov WHERE inter * 5 >= ns * 4
        |ORDER BY doc_small, doc_big""".stripMargin,
    // connected components of the near-dup pair graph (pairs CTE = the
    // dd_ngram_jaccard result): recursive reachability closure over the
    // bidirected edges, min reachable id = the component label the
    // min-label propagation loop converges to
    "dd_dup_clusters" ->
      """WITH RECURSIVE corpus AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 100000, text FROM documents WHERE doc_id % 10 = 0
        |  UNION ALL
        |  SELECT doc_id + 200000, 'extra words added ' || text FROM documents WHERE doc_id % 10 = 5),
        |t AS (
        |  SELECT doc_id,
        |    list_filter(string_split(lower(text), ' '), x -> length(x) > 0) AS ws
        |  FROM corpus),
        |w2 AS (
        |  SELECT doc_id,
        |    list_transform(ws, w -> list_reduce(list_prepend(CAST(0 AS BIGINT),
        |      list_transform(string_split(w, ''), c -> ascii(c))),
        |      (h, c) -> (h * 31 + c) % 1000000000000000)) AS whs
        |  FROM t),
        |s AS (
        |  SELECT doc_id,
        |    list_distinct(CASE WHEN len(whs) >= 3 THEN
        |      list_transform(range(1, len(whs) - 1),
        |        i -> ((whs[i] * 31 + whs[i+1]) % 1000000000000000 * 31
        |              + whs[i+2]) % 1000000000000000)
        |    ELSE [] END) AS sh
        |  FROM w2),
        |f AS (SELECT doc_id, sh FROM s WHERE len(sh) > 0),
        |ex AS (SELECT doc_id, len(sh) AS n, unnest(sh) AS s FROM f),
        |dfq AS (SELECT s, COUNT(*) AS df FROM ex GROUP BY s),
        |pr AS (SELECT doc_id, n, s FROM (
        |    SELECT ex.doc_id, ex.s, ex.n,
        |      row_number() OVER (PARTITION BY ex.doc_id ORDER BY dfq.df, ex.s) AS rn
        |    FROM ex JOIN dfq USING (s)) z
        |  WHERE rn <= n // 2 + 1),
        |cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        |  FROM pr a JOIN pr b ON a.s = b.s AND a.doc_id < b.doc_id
        |    AND 2 * LEAST(a.n, b.n) >= GREATEST(a.n, b.n)),
        |v AS (SELECT doc_a, doc_b,
        |    CAST(len(list_intersect(fa.sh, fb.sh)) AS DOUBLE)
        |      / (len(fa.sh) + len(fb.sh) - len(list_intersect(fa.sh, fb.sh))) AS jaccard
        |  FROM cand
        |  JOIN f fa ON fa.doc_id = doc_a
        |  JOIN f fb ON fb.doc_id = doc_b),
        |pairs AS (SELECT doc_a, doc_b FROM v WHERE jaccard >= 0.5),
        |edges AS (SELECT doc_a AS src, doc_b AS dst FROM pairs
        |  UNION ALL SELECT doc_b, doc_a FROM pairs),
        |r AS (
        |  SELECT src AS node, src AS reach FROM edges
        |  UNION
        |  SELECT r.node, e.dst FROM r JOIN edges e ON e.src = r.reach),
        |lab AS (SELECT node AS doc_id, MIN(reach) AS cluster_id FROM r GROUP BY node),
        |sz AS (SELECT cluster_id, COUNT(*) AS csize FROM lab GROUP BY cluster_id)
        |SELECT l.doc_id, l.cluster_id, sz.csize,
        |  CAST(l.doc_id = l.cluster_id AS BIGINT) AS is_canonical
        |FROM lab l JOIN sz USING (cluster_id)
        |ORDER BY doc_id""".stripMargin,
    // incremental dedup: delta verdicts vs the documents snapshot —
    // exact via md5 lookup, near via the two-sided prefix-filtered
    // trigram-Jaccard join (df from the base only; delta-only shingles
    // take df 0), else new
    "dd_incremental" ->
      """WITH delta AS (
        |  SELECT doc_id + 300000 AS doc_id, text FROM documents WHERE doc_id % 10 = 0
        |  UNION ALL
        |  SELECT doc_id + 400000, 'minor edit ' || text FROM documents WHERE doc_id % 10 = 3
        |  UNION ALL
        |  SELECT doc_id + 500000,
        |    array_to_string(list_transform(range(len(string_split(text, ' ')), 0, -1),
        |      i -> string_split(text, ' ')[i]), ' ')
        |  FROM documents WHERE doc_id % 10 = 7),
        |ex AS (
        |  SELECT d.doc_id, MIN(b.doc_id) AS exact_base
        |  FROM delta d JOIN documents b ON md5(d.text) = md5(b.text)
        |  GROUP BY d.doc_id),
        |bt AS (SELECT doc_id, list_filter(string_split(lower(text), ' '), x -> length(x) > 0) AS ws FROM documents),
        |bw AS (SELECT doc_id, list_transform(ws, w -> list_reduce(list_prepend(CAST(0 AS BIGINT),
        |    list_transform(string_split(w, ''), c -> ascii(c))),
        |    (h, c) -> (h * 31 + c) % 1000000000000000)) AS whs FROM bt),
        |bsg AS (SELECT doc_id, list_distinct(CASE WHEN len(whs) >= 3 THEN
        |    list_transform(range(1, len(whs) - 1),
        |      i -> ((whs[i] * 31 + whs[i+1]) % 1000000000000000 * 31
        |            + whs[i+2]) % 1000000000000000)
        |  ELSE [] END) AS sh FROM bw),
        |bf AS (SELECT doc_id, sh FROM bsg WHERE len(sh) > 0),
        |dt AS (SELECT doc_id, list_filter(string_split(lower(text), ' '), x -> length(x) > 0) AS ws FROM delta),
        |dw AS (SELECT doc_id, list_transform(ws, w -> list_reduce(list_prepend(CAST(0 AS BIGINT),
        |    list_transform(string_split(w, ''), c -> ascii(c))),
        |    (h, c) -> (h * 31 + c) % 1000000000000000)) AS whs FROM dt),
        |dsg AS (SELECT doc_id, list_distinct(CASE WHEN len(whs) >= 3 THEN
        |    list_transform(range(1, len(whs) - 1),
        |      i -> ((whs[i] * 31 + whs[i+1]) % 1000000000000000 * 31
        |            + whs[i+2]) % 1000000000000000)
        |  ELSE [] END) AS sh FROM dw),
        |df_ AS (SELECT doc_id, sh FROM dsg WHERE len(sh) > 0),
        |bex AS (SELECT doc_id, len(sh) AS n, unnest(sh) AS s FROM bf),
        |dex AS (SELECT doc_id, len(sh) AS n, unnest(sh) AS s FROM df_),
        |dfq AS (SELECT s, COUNT(*) AS df FROM bex GROUP BY s),
        |bpr AS (SELECT doc_id AS base_id, n AS nb, s FROM (
        |    SELECT bex.doc_id, bex.s, bex.n,
        |      row_number() OVER (PARTITION BY bex.doc_id ORDER BY dfq.df, bex.s) AS rn
        |    FROM bex JOIN dfq USING (s)) z
        |  WHERE rn <= n // 2 + 1),
        |dpr AS (SELECT doc_id, n AS nd, s FROM (
        |    SELECT dex.doc_id, dex.s, dex.n,
        |      row_number() OVER (PARTITION BY dex.doc_id
        |        ORDER BY coalesce(dfq.df, 0), dex.s) AS rn
        |    FROM dex LEFT JOIN dfq USING (s)) z
        |  WHERE rn <= n // 2 + 1),
        |cand AS (SELECT DISTINCT d.doc_id, b.base_id
        |  FROM dpr d JOIN bpr b ON d.s = b.s
        |    AND 2 * LEAST(d.nd, b.nb) >= GREATEST(d.nd, b.nb)),
        |nr AS (SELECT doc_id, MIN(base_id) AS near_base FROM (
        |    SELECT c.doc_id, c.base_id
        |    FROM cand c
        |    JOIN df_ fd ON fd.doc_id = c.doc_id
        |    JOIN bf fb ON fb.doc_id = c.base_id
        |    WHERE CAST(len(list_intersect(fd.sh, fb.sh)) AS DOUBLE)
        |        / (len(fd.sh) + len(fb.sh) - len(list_intersect(fd.sh, fb.sh))) >= 0.5) z
        |  GROUP BY doc_id)
        |SELECT d.doc_id,
        |  coalesce(ex.exact_base, nr.near_base, -1) AS base_id,
        |  CASE WHEN ex.exact_base IS NOT NULL THEN 'exact'
        |       WHEN nr.near_base IS NOT NULL THEN 'near' ELSE 'new' END AS verdict
        |FROM delta d
        |LEFT JOIN ex ON ex.doc_id = d.doc_id
        |LEFT JOIN nr ON nr.doc_id = d.doc_id
        |ORDER BY d.doc_id""".stripMargin,
    // MinHash estimator accuracy: candidate pairs with matching-component
    // count (est = n_match/8) next to the exact shingle Jaccard
    "dd_minhash_jaccard_est" ->
      """WITH corpus AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 100000, text FROM documents WHERE doc_id % 10 = 0
        |  UNION ALL
        |  SELECT doc_id + 200000, 'extra words added ' || text FROM documents WHERE doc_id % 10 = 5),
        |t AS (
        |  SELECT doc_id,
        |    list_filter(string_split(lower(text), ' '), x -> length(x) > 0) AS ws
        |  FROM corpus),
        |w2 AS (
        |  SELECT doc_id,
        |    list_transform(ws, w -> list_reduce(list_prepend(CAST(0 AS BIGINT),
        |      list_transform(string_split(w, ''), c -> ascii(c))),
        |      (h, c) -> (h * 31 + c) % 1000000000000000)) AS whs
        |  FROM t),
        |s AS (
        |  SELECT doc_id,
        |    list_distinct(CASE WHEN len(whs) >= 3 THEN
        |      list_transform(range(1, len(whs) - 1),
        |        i -> ((whs[i] * 31 + whs[i+1]) % 1000000000000000 * 31
        |              + whs[i+2]) % 1000000000000000)
        |    ELSE [] END) AS sh
        |  FROM w2),
        |f AS (SELECT doc_id, sh FROM s WHERE len(sh) > 0),
        |m AS (
        |  SELECT doc_id, sh,
        |    list_min(list_transform(sh, h -> ((h % 2147483647) * 2654435761 + 1) % 999999999999989)) AS mh0,
        |    list_min(list_transform(sh, h -> ((h % 2147483647) * 2246822519 + 7) % 999999999999989)) AS mh1,
        |    list_min(list_transform(sh, h -> ((h % 2147483647) * 3266489917 + 13) % 999999999999989)) AS mh2,
        |    list_min(list_transform(sh, h -> ((h % 2147483647) * 668265263 + 31) % 999999999999989)) AS mh3,
        |    list_min(list_transform(sh, h -> ((h % 2147483647) * 374761393 + 101) % 999999999999989)) AS mh4,
        |    list_min(list_transform(sh, h -> ((h % 2147483647) * 3141592653 + 1009) % 999999999999989)) AS mh5,
        |    list_min(list_transform(sh, h -> ((h % 2147483647) * 1597334677 + 10007) % 999999999999989)) AS mh6,
        |    list_min(list_transform(sh, h -> ((h % 2147483647) * 2869860233 + 100003) % 999999999999989)) AS mh7
        |  FROM f),
        |bands AS (
        |  SELECT doc_id, '0_' || CAST(mh0 AS VARCHAR) || '_' || CAST(mh1 AS VARCHAR)
        |    || '_' || CAST(mh2 AS VARCHAR) || '_' || CAST(mh3 AS VARCHAR) AS bkey FROM m
        |  UNION ALL
        |  SELECT doc_id, '1_' || CAST(mh4 AS VARCHAR) || '_' || CAST(mh5 AS VARCHAR)
        |    || '_' || CAST(mh6 AS VARCHAR) || '_' || CAST(mh7 AS VARCHAR) FROM m),
        |cand AS (
        |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        |  FROM bands a JOIN bands b ON a.bkey = b.bkey AND a.doc_id < b.doc_id),
        |v AS (
        |  SELECT doc_a, doc_b,
        |    CAST((CASE WHEN sa.mh0 = sb.mh0 THEN 1 ELSE 0 END
        |        + CASE WHEN sa.mh1 = sb.mh1 THEN 1 ELSE 0 END
        |        + CASE WHEN sa.mh2 = sb.mh2 THEN 1 ELSE 0 END
        |        + CASE WHEN sa.mh3 = sb.mh3 THEN 1 ELSE 0 END
        |        + CASE WHEN sa.mh4 = sb.mh4 THEN 1 ELSE 0 END
        |        + CASE WHEN sa.mh5 = sb.mh5 THEN 1 ELSE 0 END
        |        + CASE WHEN sa.mh6 = sb.mh6 THEN 1 ELSE 0 END
        |        + CASE WHEN sa.mh7 = sb.mh7 THEN 1 ELSE 0 END) AS BIGINT) AS n_match,
        |    CAST(len(list_intersect(sa.sh, sb.sh)) AS DOUBLE)
        |      / (len(sa.sh) + len(sb.sh) - len(list_intersect(sa.sh, sb.sh))) AS jaccard
        |  FROM cand
        |  JOIN m sa ON sa.doc_id = doc_a
        |  JOIN m sb ON sb.doc_id = doc_b)
        |SELECT doc_a, doc_b, n_match, jaccard FROM v
        |ORDER BY doc_a, doc_b""".stripMargin,
    // LSH parameter sweep: the SAME 8-hash signatures banded four ways;
    // recall denominator = (8x1)'s verified pairs (every banding's
    // candidates are a subset of the single-hash bands')
    "dd_minhash_band_sweep" ->
      """WITH corpus AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 100000, text FROM documents WHERE doc_id % 10 = 0
        |  UNION ALL
        |  SELECT doc_id + 200000, 'extra words added ' || text FROM documents WHERE doc_id % 10 = 5
        |  UNION ALL
        |  SELECT doc_id + 300000, array_to_string(ws[:CAST(len(ws) // 2 AS INT)], ' ')
        |  FROM (SELECT doc_id, string_split(text, ' ') AS ws
        |        FROM documents WHERE doc_id % 10 = 7)),
        |t AS (
        |  SELECT doc_id,
        |    list_filter(string_split(lower(text), ' '), x -> length(x) > 0) AS ws
        |  FROM corpus),
        |w2 AS (
        |  SELECT doc_id,
        |    list_transform(ws, w -> list_reduce(list_prepend(CAST(0 AS BIGINT),
        |      list_transform(string_split(w, ''), c -> ascii(c))),
        |      (h, c) -> (h * 31 + c) % 1000000000000000)) AS whs
        |  FROM t),
        |s AS (
        |  SELECT doc_id,
        |    list_distinct(CASE WHEN len(whs) >= 3 THEN
        |      list_transform(range(1, len(whs) - 1),
        |        i -> ((whs[i] * 31 + whs[i+1]) % 1000000000000000 * 31
        |              + whs[i+2]) % 1000000000000000)
        |    ELSE [] END) AS sh
        |  FROM w2),
        |f AS (SELECT doc_id, sh FROM s WHERE len(sh) > 0),
        |m AS (
        |  SELECT doc_id, sh,
        |    list_min(list_transform(sh, h -> ((h % 2147483647) * 2654435761 + 1) % 999999999999989)) AS mh0,
        |    list_min(list_transform(sh, h -> ((h % 2147483647) * 2246822519 + 7) % 999999999999989)) AS mh1,
        |    list_min(list_transform(sh, h -> ((h % 2147483647) * 3266489917 + 13) % 999999999999989)) AS mh2,
        |    list_min(list_transform(sh, h -> ((h % 2147483647) * 668265263 + 31) % 999999999999989)) AS mh3,
        |    list_min(list_transform(sh, h -> ((h % 2147483647) * 374761393 + 101) % 999999999999989)) AS mh4,
        |    list_min(list_transform(sh, h -> ((h % 2147483647) * 3141592653 + 1009) % 999999999999989)) AS mh5,
        |    list_min(list_transform(sh, h -> ((h % 2147483647) * 1597334677 + 10007) % 999999999999989)) AS mh6,
        |    list_min(list_transform(sh, h -> ((h % 2147483647) * 2869860233 + 100003) % 999999999999989)) AS mh7
        |  FROM f),
        |b81 AS (
        |  SELECT doc_id, '0_' || CAST(mh0 AS VARCHAR) AS bkey FROM m
        |  UNION ALL SELECT doc_id, '1_' || CAST(mh1 AS VARCHAR) FROM m
        |  UNION ALL SELECT doc_id, '2_' || CAST(mh2 AS VARCHAR) FROM m
        |  UNION ALL SELECT doc_id, '3_' || CAST(mh3 AS VARCHAR) FROM m
        |  UNION ALL SELECT doc_id, '4_' || CAST(mh4 AS VARCHAR) FROM m
        |  UNION ALL SELECT doc_id, '5_' || CAST(mh5 AS VARCHAR) FROM m
        |  UNION ALL SELECT doc_id, '6_' || CAST(mh6 AS VARCHAR) FROM m
        |  UNION ALL SELECT doc_id, '7_' || CAST(mh7 AS VARCHAR) FROM m),
        |b42 AS (
        |  SELECT doc_id, '0_' || CAST(mh0 AS VARCHAR) || '_' || CAST(mh1 AS VARCHAR) AS bkey FROM m
        |  UNION ALL SELECT doc_id, '1_' || CAST(mh2 AS VARCHAR) || '_' || CAST(mh3 AS VARCHAR) FROM m
        |  UNION ALL SELECT doc_id, '2_' || CAST(mh4 AS VARCHAR) || '_' || CAST(mh5 AS VARCHAR) FROM m
        |  UNION ALL SELECT doc_id, '3_' || CAST(mh6 AS VARCHAR) || '_' || CAST(mh7 AS VARCHAR) FROM m),
        |b24 AS (
        |  SELECT doc_id, '0_' || CAST(mh0 AS VARCHAR) || '_' || CAST(mh1 AS VARCHAR)
        |    || '_' || CAST(mh2 AS VARCHAR) || '_' || CAST(mh3 AS VARCHAR) AS bkey FROM m
        |  UNION ALL
        |  SELECT doc_id, '1_' || CAST(mh4 AS VARCHAR) || '_' || CAST(mh5 AS VARCHAR)
        |    || '_' || CAST(mh6 AS VARCHAR) || '_' || CAST(mh7 AS VARCHAR) FROM m),
        |b18 AS (
        |  SELECT doc_id, '0_' || CAST(mh0 AS VARCHAR) || '_' || CAST(mh1 AS VARCHAR)
        |    || '_' || CAST(mh2 AS VARCHAR) || '_' || CAST(mh3 AS VARCHAR)
        |    || '_' || CAST(mh4 AS VARCHAR) || '_' || CAST(mh5 AS VARCHAR)
        |    || '_' || CAST(mh6 AS VARCHAR) || '_' || CAST(mh7 AS VARCHAR) AS bkey FROM m),
        |c81 AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        |  FROM b81 a JOIN b81 b ON a.bkey = b.bkey AND a.doc_id < b.doc_id),
        |c42 AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        |  FROM b42 a JOIN b42 b ON a.bkey = b.bkey AND a.doc_id < b.doc_id),
        |c24 AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        |  FROM b24 a JOIN b24 b ON a.bkey = b.bkey AND a.doc_id < b.doc_id),
        |c18 AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        |  FROM b18 a JOIN b18 b ON a.bkey = b.bkey AND a.doc_id < b.doc_id),
        |v81 AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_candidates,
        |  CAST(SUM(CASE WHEN CAST(len(list_intersect(sa.sh, sb.sh)) AS DOUBLE)
        |    / (len(sa.sh) + len(sb.sh) - len(list_intersect(sa.sh, sb.sh))) >= 0.5
        |    THEN 1 ELSE 0 END) AS BIGINT) AS n_verified
        |  FROM c81 JOIN f sa ON sa.doc_id = doc_a JOIN f sb ON sb.doc_id = doc_b),
        |v42 AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_candidates,
        |  CAST(SUM(CASE WHEN CAST(len(list_intersect(sa.sh, sb.sh)) AS DOUBLE)
        |    / (len(sa.sh) + len(sb.sh) - len(list_intersect(sa.sh, sb.sh))) >= 0.5
        |    THEN 1 ELSE 0 END) AS BIGINT) AS n_verified
        |  FROM c42 JOIN f sa ON sa.doc_id = doc_a JOIN f sb ON sb.doc_id = doc_b),
        |v24 AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_candidates,
        |  CAST(SUM(CASE WHEN CAST(len(list_intersect(sa.sh, sb.sh)) AS DOUBLE)
        |    / (len(sa.sh) + len(sb.sh) - len(list_intersect(sa.sh, sb.sh))) >= 0.5
        |    THEN 1 ELSE 0 END) AS BIGINT) AS n_verified
        |  FROM c24 JOIN f sa ON sa.doc_id = doc_a JOIN f sb ON sb.doc_id = doc_b),
        |v18 AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_candidates,
        |  CAST(SUM(CASE WHEN CAST(len(list_intersect(sa.sh, sb.sh)) AS DOUBLE)
        |    / (len(sa.sh) + len(sb.sh) - len(list_intersect(sa.sh, sb.sh))) >= 0.5
        |    THEN 1 ELSE 0 END) AS BIGINT) AS n_verified
        |  FROM c18 JOIN f sa ON sa.doc_id = doc_a JOIN f sb ON sb.doc_id = doc_b),
        |allstats AS (
        |  SELECT CAST(8 AS BIGINT) AS bands, CAST(1 AS BIGINT) AS rows_per_band,
        |    n_candidates, COALESCE(n_verified, 0) AS n_verified FROM v81
        |  UNION ALL SELECT 4, 2, n_candidates, COALESCE(n_verified, 0) FROM v42
        |  UNION ALL SELECT 2, 4, n_candidates, COALESCE(n_verified, 0) FROM v24
        |  UNION ALL SELECT 1, 8, n_candidates, COALESCE(n_verified, 0) FROM v18),
        |truth AS (SELECT COALESCE(n_verified, 0) AS n_true FROM v81)
        |SELECT bands, rows_per_band, n_candidates, n_verified,
        |  CAST(CASE WHEN n_candidates = 0 THEN 0
        |    ELSE n_verified * 10000 // n_candidates END AS BIGINT) AS precision_bp,
        |  CAST(CASE WHEN n_true = 0 THEN 0
        |    ELSE n_verified * 10000 // n_true END AS BIGINT) AS recall_bp
        |FROM allstats, truth ORDER BY bands DESC""".stripMargin,
    "dd_minhash_lsh" ->
      """WITH corpus AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 100000, text FROM documents WHERE doc_id % 10 = 0
        |  UNION ALL
        |  SELECT doc_id + 200000, 'extra words added ' || text FROM documents WHERE doc_id % 10 = 5),
        |t AS (
        |  SELECT doc_id,
        |    list_filter(string_split(lower(text), ' '), x -> length(x) > 0) AS ws
        |  FROM corpus),
        |w2 AS (
        |  SELECT doc_id,
        |    list_transform(ws, w -> list_reduce(list_prepend(CAST(0 AS BIGINT),
        |      list_transform(string_split(w, ''), c -> ascii(c))),
        |      (h, c) -> (h * 31 + c) % 1000000000000000)) AS whs
        |  FROM t),
        |s AS (
        |  SELECT doc_id,
        |    list_distinct(CASE WHEN len(whs) >= 3 THEN
        |      list_transform(range(1, len(whs) - 1),
        |        i -> ((whs[i] * 31 + whs[i+1]) % 1000000000000000 * 31
        |              + whs[i+2]) % 1000000000000000)
        |    ELSE [] END) AS sh
        |  FROM w2),
        |f AS (SELECT doc_id, sh FROM s WHERE len(sh) > 0),
        |m AS (
        |  SELECT doc_id, sh,
        |    list_min(list_transform(sh, h -> ((h % 2147483647) * 2654435761 + 1) % 999999999999989)) AS mh0,
        |    list_min(list_transform(sh, h -> ((h % 2147483647) * 2246822519 + 7) % 999999999999989)) AS mh1,
        |    list_min(list_transform(sh, h -> ((h % 2147483647) * 3266489917 + 13) % 999999999999989)) AS mh2,
        |    list_min(list_transform(sh, h -> ((h % 2147483647) * 668265263 + 31) % 999999999999989)) AS mh3,
        |    list_min(list_transform(sh, h -> ((h % 2147483647) * 374761393 + 101) % 999999999999989)) AS mh4,
        |    list_min(list_transform(sh, h -> ((h % 2147483647) * 3141592653 + 1009) % 999999999999989)) AS mh5,
        |    list_min(list_transform(sh, h -> ((h % 2147483647) * 1597334677 + 10007) % 999999999999989)) AS mh6,
        |    list_min(list_transform(sh, h -> ((h % 2147483647) * 2869860233 + 100003) % 999999999999989)) AS mh7
        |  FROM f),
        |bands AS (
        |  SELECT doc_id, '0_' || CAST(mh0 AS VARCHAR) || '_' || CAST(mh1 AS VARCHAR)
        |    || '_' || CAST(mh2 AS VARCHAR) || '_' || CAST(mh3 AS VARCHAR) AS bkey FROM m
        |  UNION ALL
        |  SELECT doc_id, '1_' || CAST(mh4 AS VARCHAR) || '_' || CAST(mh5 AS VARCHAR)
        |    || '_' || CAST(mh6 AS VARCHAR) || '_' || CAST(mh7 AS VARCHAR) FROM m),
        |cand AS (
        |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        |  FROM bands a JOIN bands b ON a.bkey = b.bkey AND a.doc_id < b.doc_id),
        |v AS (
        |  SELECT doc_a, doc_b,
        |    CAST(len(list_intersect(sa.sh, sb.sh)) AS DOUBLE)
        |      / (len(sa.sh) + len(sb.sh) - len(list_intersect(sa.sh, sb.sh))) AS jaccard
        |  FROM cand
        |  JOIN f sa ON sa.doc_id = doc_a
        |  JOIN f sb ON sb.doc_id = doc_b)
        |SELECT doc_a, doc_b, jaccard FROM v WHERE jaccard >= 0.5
        |ORDER BY doc_a, doc_b""".stripMargin,
    // LSH candidate quality: banded candidates (pre-verify) scored
    // against the exact prefix-filtered Jaccard >= 0.5 ground truth
    "dd_lsh_quality" ->
      """WITH corpus AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 100000, text FROM documents WHERE doc_id % 10 = 0
        |  UNION ALL
        |  SELECT doc_id + 200000, 'extra words added ' || text FROM documents WHERE doc_id % 10 = 5),
        |t AS (
        |  SELECT doc_id,
        |    list_filter(string_split(lower(text), ' '), x -> length(x) > 0) AS ws
        |  FROM corpus),
        |w2 AS (
        |  SELECT doc_id,
        |    list_transform(ws, w -> list_reduce(list_prepend(CAST(0 AS BIGINT),
        |      list_transform(string_split(w, ''), c -> ascii(c))),
        |      (h, c) -> (h * 31 + c) % 1000000000000000)) AS whs
        |  FROM t),
        |s AS (
        |  SELECT doc_id,
        |    list_distinct(CASE WHEN len(whs) >= 3 THEN
        |      list_transform(range(1, len(whs) - 1),
        |        i -> ((whs[i] * 31 + whs[i+1]) % 1000000000000000 * 31
        |              + whs[i+2]) % 1000000000000000)
        |    ELSE [] END) AS sh
        |  FROM w2),
        |f AS (SELECT doc_id, sh FROM s WHERE len(sh) > 0),
        |ex AS (SELECT doc_id, len(sh) AS n, unnest(sh) AS s FROM f),
        |dfq AS (SELECT s, COUNT(*) AS df FROM ex GROUP BY s),
        |pr AS (SELECT doc_id, n, s FROM (
        |    SELECT ex.doc_id, ex.s, ex.n,
        |      row_number() OVER (PARTITION BY ex.doc_id ORDER BY dfq.df, ex.s) AS rn
        |    FROM ex JOIN dfq USING (s)) z
        |  WHERE rn <= n // 2 + 1),
        |tcand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        |  FROM pr a JOIN pr b ON a.s = b.s AND a.doc_id < b.doc_id
        |    AND 2 * LEAST(a.n, b.n) >= GREATEST(a.n, b.n)),
        |truth AS (SELECT doc_a, doc_b FROM (
        |  SELECT doc_a, doc_b,
        |    CAST(len(list_intersect(fa.sh, fb.sh)) AS DOUBLE)
        |      / (len(fa.sh) + len(fb.sh) - len(list_intersect(fa.sh, fb.sh))) AS jaccard
        |  FROM tcand
        |  JOIN f fa ON fa.doc_id = doc_a
        |  JOIN f fb ON fb.doc_id = doc_b) v WHERE jaccard >= 0.5),
        |m AS (
        |  SELECT doc_id,
        |    list_min(list_transform(sh, h -> ((h % 2147483647) * 2654435761 + 1) % 999999999999989)) AS mh0,
        |    list_min(list_transform(sh, h -> ((h % 2147483647) * 2246822519 + 7) % 999999999999989)) AS mh1,
        |    list_min(list_transform(sh, h -> ((h % 2147483647) * 3266489917 + 13) % 999999999999989)) AS mh2,
        |    list_min(list_transform(sh, h -> ((h % 2147483647) * 668265263 + 31) % 999999999999989)) AS mh3,
        |    list_min(list_transform(sh, h -> ((h % 2147483647) * 374761393 + 101) % 999999999999989)) AS mh4,
        |    list_min(list_transform(sh, h -> ((h % 2147483647) * 3141592653 + 1009) % 999999999999989)) AS mh5,
        |    list_min(list_transform(sh, h -> ((h % 2147483647) * 1597334677 + 10007) % 999999999999989)) AS mh6,
        |    list_min(list_transform(sh, h -> ((h % 2147483647) * 2869860233 + 100003) % 999999999999989)) AS mh7
        |  FROM f),
        |bands AS (
        |  SELECT doc_id, '0_' || CAST(mh0 AS VARCHAR) || '_' || CAST(mh1 AS VARCHAR)
        |    || '_' || CAST(mh2 AS VARCHAR) || '_' || CAST(mh3 AS VARCHAR) AS bkey FROM m
        |  UNION ALL
        |  SELECT doc_id, '1_' || CAST(mh4 AS VARCHAR) || '_' || CAST(mh5 AS VARCHAR)
        |    || '_' || CAST(mh6 AS VARCHAR) || '_' || CAST(mh7 AS VARCHAR) FROM m),
        |cand AS (
        |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        |  FROM bands a JOIN bands b ON a.bkey = b.bkey AND a.doc_id < b.doc_id),
        |nc AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_candidates FROM cand),
        |nt AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_true FROM truth),
        |tp AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_tp FROM cand
        |  WHERE EXISTS (SELECT 1 FROM truth t2
        |    WHERE t2.doc_a = cand.doc_a AND t2.doc_b = cand.doc_b))
        |SELECT n_candidates, n_true, n_tp,
        |  n_tp * 10000 // n_candidates AS precision_bp,
        |  n_tp * 10000 // n_true AS recall_bp
        |FROM nc, nt, tp""".stripMargin,
    // one-permutation minhash: slot i = min hash in bin (h mod 8),
    // empty bins densified by cyclic-right borrow + d*P offset; same
    // band -> bucket-join -> exact-Jaccard-verify tail as minhash_lsh
    "dd_minhash_oph" ->
      """WITH corpus AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 100000, text FROM documents WHERE doc_id % 10 = 0
        |  UNION ALL
        |  SELECT doc_id + 200000, 'extra words added ' || text FROM documents WHERE doc_id % 10 = 5),
        |t AS (
        |  SELECT doc_id,
        |    list_filter(string_split(lower(text), ' '), x -> length(x) > 0) AS ws
        |  FROM corpus),
        |w2 AS (
        |  SELECT doc_id,
        |    list_transform(ws, w -> list_reduce(list_prepend(CAST(0 AS BIGINT),
        |      list_transform(string_split(w, ''), c -> ascii(c))),
        |      (h, c) -> (h * 31 + c) % 1000000000000000)) AS whs
        |  FROM t),
        |s AS (
        |  SELECT doc_id,
        |    list_distinct(CASE WHEN len(whs) >= 3 THEN
        |      list_transform(range(1, len(whs) - 1),
        |        i -> ((whs[i] * 31 + whs[i+1]) % 1000000000000000 * 31
        |              + whs[i+2]) % 1000000000000000)
        |    ELSE [] END) AS sh
        |  FROM w2),
        |f AS (SELECT doc_id, sh FROM s WHERE len(sh) > 0),
        |sl AS (
        |  SELECT doc_id, sh,
        |    list_transform(range(0, 8),
        |      i -> list_min(list_filter(sh, h -> h % 8 = i))) AS slots
        |  FROM f),
        |ds AS (
        |  SELECT doc_id, sh,
        |    list_transform(range(0, 8), i ->
        |      [slots[((i + d) % 8) + 1] + d * 999999999999989
        |       FOR d IN range(0, 8)
        |       IF slots[((i + d) % 8) + 1] IS NOT NULL][1]) AS d8
        |  FROM sl),
        |bands AS (
        |  SELECT doc_id, '0_' || CAST(d8[1] AS VARCHAR) || '_' || CAST(d8[2] AS VARCHAR)
        |    || '_' || CAST(d8[3] AS VARCHAR) || '_' || CAST(d8[4] AS VARCHAR) AS bkey FROM ds
        |  UNION ALL
        |  SELECT doc_id, '1_' || CAST(d8[5] AS VARCHAR) || '_' || CAST(d8[6] AS VARCHAR)
        |    || '_' || CAST(d8[7] AS VARCHAR) || '_' || CAST(d8[8] AS VARCHAR) FROM ds),
        |cand AS (
        |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        |  FROM bands a JOIN bands b ON a.bkey = b.bkey AND a.doc_id < b.doc_id),
        |v AS (
        |  SELECT doc_a, doc_b,
        |    CAST(len(list_intersect(sa.sh, sb.sh)) AS DOUBLE)
        |      / (len(sa.sh) + len(sb.sh) - len(list_intersect(sa.sh, sb.sh))) AS jaccard
        |  FROM cand
        |  JOIN f sa ON sa.doc_id = doc_a
        |  JOIN f sb ON sb.doc_id = doc_b)
        |SELECT doc_a, doc_b, jaccard FROM v WHERE jaccard >= 0.5
        |ORDER BY doc_a, doc_b""".stripMargin,
    // end-to-end dedup decision: the dd_minhash_lsh pair pipeline, then
    // the recursive reachability closure (as in dd_dup_clusters) over
    // those pairs, then keep = min reachable id; unclustered docs keep
    // themselves
    // the whole curation decision: blocklist > quality floor > near-dup
    // verdicts with the replacement pointer, one row per source doc
    "pipe_training_corpus" ->
      """WITH RECURSIVE corpus AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 100000, text FROM documents WHERE doc_id % 10 = 0
        |  UNION ALL
        |  SELECT doc_id + 200000, 'extra words added ' || text FROM documents WHERE doc_id % 10 = 5),
        |t AS (
        |  SELECT doc_id,
        |    list_filter(string_split(lower(text), ' '), x -> length(x) > 0) AS ws
        |  FROM corpus),
        |w2 AS (
        |  SELECT doc_id,
        |    list_transform(ws, w -> list_reduce(list_prepend(CAST(0 AS BIGINT),
        |      list_transform(string_split(w, ''), c -> ascii(c))),
        |      (h, c) -> (h * 31 + c) % 1000000000000000)) AS whs
        |  FROM t),
        |s AS (
        |  SELECT doc_id,
        |    list_distinct(CASE WHEN len(whs) >= 3 THEN
        |      list_transform(range(1, len(whs) - 1),
        |        i -> ((whs[i] * 31 + whs[i+1]) % 1000000000000000 * 31
        |              + whs[i+2]) % 1000000000000000)
        |    ELSE [] END) AS sh
        |  FROM w2),
        |f AS (SELECT doc_id, sh FROM s WHERE len(sh) > 0),
        |m AS (
        |  SELECT doc_id, sh,
        |    list_min(list_transform(sh, h -> ((h % 2147483647) * 2654435761 + 1) % 999999999999989)) AS mh0,
        |    list_min(list_transform(sh, h -> ((h % 2147483647) * 2246822519 + 7) % 999999999999989)) AS mh1,
        |    list_min(list_transform(sh, h -> ((h % 2147483647) * 3266489917 + 13) % 999999999999989)) AS mh2,
        |    list_min(list_transform(sh, h -> ((h % 2147483647) * 668265263 + 31) % 999999999999989)) AS mh3,
        |    list_min(list_transform(sh, h -> ((h % 2147483647) * 374761393 + 101) % 999999999999989)) AS mh4,
        |    list_min(list_transform(sh, h -> ((h % 2147483647) * 3141592653 + 1009) % 999999999999989)) AS mh5,
        |    list_min(list_transform(sh, h -> ((h % 2147483647) * 1597334677 + 10007) % 999999999999989)) AS mh6,
        |    list_min(list_transform(sh, h -> ((h % 2147483647) * 2869860233 + 100003) % 999999999999989)) AS mh7
        |  FROM f),
        |bands AS (
        |  SELECT doc_id, '0_' || CAST(mh0 AS VARCHAR) || '_' || CAST(mh1 AS VARCHAR)
        |    || '_' || CAST(mh2 AS VARCHAR) || '_' || CAST(mh3 AS VARCHAR) AS bkey FROM m
        |  UNION ALL
        |  SELECT doc_id, '1_' || CAST(mh4 AS VARCHAR) || '_' || CAST(mh5 AS VARCHAR)
        |    || '_' || CAST(mh6 AS VARCHAR) || '_' || CAST(mh7 AS VARCHAR) FROM m),
        |cand AS (
        |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        |  FROM bands a JOIN bands b ON a.bkey = b.bkey AND a.doc_id < b.doc_id),
        |v AS (
        |  SELECT doc_a, doc_b,
        |    CAST(len(list_intersect(sa.sh, sb.sh)) AS DOUBLE)
        |      / (len(sa.sh) + len(sb.sh) - len(list_intersect(sa.sh, sb.sh))) AS jaccard
        |  FROM cand
        |  JOIN f sa ON sa.doc_id = doc_a
        |  JOIN f sb ON sb.doc_id = doc_b),
        |pairs AS (SELECT doc_a, doc_b FROM v WHERE jaccard >= 0.5),
        |edges AS (SELECT doc_a AS src, doc_b AS dst FROM pairs
        |  UNION ALL SELECT doc_b, doc_a FROM pairs),
        |r AS (
        |  SELECT src AS node, src AS reach FROM edges
        |  UNION
        |  SELECT r.node, e.dst FROM r JOIN edges e ON e.src = r.reach),
        |lab AS (SELECT node AS doc_id, MIN(reach) AS keep FROM r GROUP BY node),
        |surv AS (
        |  SELECT c.doc_id, coalesce(l.keep, c.doc_id) AS keep_id,
        |    CAST(c.doc_id = coalesce(l.keep, c.doc_id) AS BIGINT) AS is_kept
        |  FROM corpus c LEFT JOIN lab l ON l.doc_id = c.doc_id),
        |qw AS (
        |  SELECT doc_id, source, text,
        |    list_filter(string_split(lower(text), ' '), x -> length(x) > 0) AS ws
        |  FROM documents),
        |qm AS (
        |  SELECT doc_id, source, text, len(ws) AS n_tok,
        |    len(list_filter(ws, x -> list_contains(['the','a','of','and','to'], x))) AS n_stop,
        |    length(text) - length(regexp_replace(text, '[.,!?;:]', '', 'g')) AS n_punct,
        |    len(list_distinct(ws)) AS n_distinct
        |  FROM qw),
        |qq AS (
        |  SELECT doc_id, source,
        |    CAST(FLOOR(1000000 * (CASE WHEN n_tok = 0 OR length(text) = 0 THEN 0.0 ELSE
        |      (CAST(n_distinct AS DOUBLE) / n_tok) * 0.5
        |      + (CAST(n_stop AS DOUBLE) / n_tok) * 0.3
        |      + (1.0 - CAST(n_punct AS DOUBLE) / length(text)) * 0.2 END)) AS BIGINT) AS q_micro
        |  FROM qm),
        |qs AS (SELECT source, COUNT(*) AS n_docs, CAST(SUM(q_micro) AS BIGINT) AS sum_micro
        |       FROM qq GROUP BY source),
        |qt AS (SELECT CAST(SUM(n_docs) AS BIGINT) AS n_total,
        |              CAST(SUM(sum_micro) AS BIGINT) AS micro_total FROM qs),
        |qb AS (SELECT source FROM qs, qt
        |       WHERE CAST(sum_micro AS DECIMAL(38,0)) * n_total
        |           < CAST(micro_total AS DECIMAL(38,0)) * n_docs)
        |SELECT q.doc_id, q.source, q.q_micro,
        |  CASE WHEN qb.source IS NOT NULL THEN 'blocked_source'
        |       WHEN q.q_micro < 400000 THEN 'low_quality'
        |       WHEN sv.is_kept = 0 THEN 'near_duplicate'
        |       ELSE 'kept' END AS verdict,
        |  sv.keep_id
        |FROM qq q
        |JOIN surv sv ON q.doc_id = sv.doc_id
        |LEFT JOIN qb ON q.source = qb.source
        |ORDER BY q.doc_id""".stripMargin,
    "dd_pipeline_survivors" ->
      """WITH RECURSIVE corpus AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 100000, text FROM documents WHERE doc_id % 10 = 0
        |  UNION ALL
        |  SELECT doc_id + 200000, 'extra words added ' || text FROM documents WHERE doc_id % 10 = 5),
        |t AS (
        |  SELECT doc_id,
        |    list_filter(string_split(lower(text), ' '), x -> length(x) > 0) AS ws
        |  FROM corpus),
        |w2 AS (
        |  SELECT doc_id,
        |    list_transform(ws, w -> list_reduce(list_prepend(CAST(0 AS BIGINT),
        |      list_transform(string_split(w, ''), c -> ascii(c))),
        |      (h, c) -> (h * 31 + c) % 1000000000000000)) AS whs
        |  FROM t),
        |s AS (
        |  SELECT doc_id,
        |    list_distinct(CASE WHEN len(whs) >= 3 THEN
        |      list_transform(range(1, len(whs) - 1),
        |        i -> ((whs[i] * 31 + whs[i+1]) % 1000000000000000 * 31
        |              + whs[i+2]) % 1000000000000000)
        |    ELSE [] END) AS sh
        |  FROM w2),
        |f AS (SELECT doc_id, sh FROM s WHERE len(sh) > 0),
        |m AS (
        |  SELECT doc_id, sh,
        |    list_min(list_transform(sh, h -> ((h % 2147483647) * 2654435761 + 1) % 999999999999989)) AS mh0,
        |    list_min(list_transform(sh, h -> ((h % 2147483647) * 2246822519 + 7) % 999999999999989)) AS mh1,
        |    list_min(list_transform(sh, h -> ((h % 2147483647) * 3266489917 + 13) % 999999999999989)) AS mh2,
        |    list_min(list_transform(sh, h -> ((h % 2147483647) * 668265263 + 31) % 999999999999989)) AS mh3,
        |    list_min(list_transform(sh, h -> ((h % 2147483647) * 374761393 + 101) % 999999999999989)) AS mh4,
        |    list_min(list_transform(sh, h -> ((h % 2147483647) * 3141592653 + 1009) % 999999999999989)) AS mh5,
        |    list_min(list_transform(sh, h -> ((h % 2147483647) * 1597334677 + 10007) % 999999999999989)) AS mh6,
        |    list_min(list_transform(sh, h -> ((h % 2147483647) * 2869860233 + 100003) % 999999999999989)) AS mh7
        |  FROM f),
        |bands AS (
        |  SELECT doc_id, '0_' || CAST(mh0 AS VARCHAR) || '_' || CAST(mh1 AS VARCHAR)
        |    || '_' || CAST(mh2 AS VARCHAR) || '_' || CAST(mh3 AS VARCHAR) AS bkey FROM m
        |  UNION ALL
        |  SELECT doc_id, '1_' || CAST(mh4 AS VARCHAR) || '_' || CAST(mh5 AS VARCHAR)
        |    || '_' || CAST(mh6 AS VARCHAR) || '_' || CAST(mh7 AS VARCHAR) FROM m),
        |cand AS (
        |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        |  FROM bands a JOIN bands b ON a.bkey = b.bkey AND a.doc_id < b.doc_id),
        |v AS (
        |  SELECT doc_a, doc_b,
        |    CAST(len(list_intersect(sa.sh, sb.sh)) AS DOUBLE)
        |      / (len(sa.sh) + len(sb.sh) - len(list_intersect(sa.sh, sb.sh))) AS jaccard
        |  FROM cand
        |  JOIN f sa ON sa.doc_id = doc_a
        |  JOIN f sb ON sb.doc_id = doc_b),
        |pairs AS (SELECT doc_a, doc_b FROM v WHERE jaccard >= 0.5),
        |edges AS (SELECT doc_a AS src, doc_b AS dst FROM pairs
        |  UNION ALL SELECT doc_b, doc_a FROM pairs),
        |r AS (
        |  SELECT src AS node, src AS reach FROM edges
        |  UNION
        |  SELECT r.node, e.dst FROM r JOIN edges e ON e.src = r.reach),
        |lab AS (SELECT node AS doc_id, MIN(reach) AS keep FROM r GROUP BY node)
        |SELECT c.doc_id, coalesce(l.keep, c.doc_id) AS keep_id,
        |  CAST(c.doc_id = coalesce(l.keep, c.doc_id) AS BIGINT) AS is_kept
        |FROM corpus c LEFT JOIN lab l ON l.doc_id = c.doc_id
        |ORDER BY c.doc_id""".stripMargin,
    "dd_simhash" ->
      """WITH corpus AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 100000, text FROM documents WHERE doc_id % 10 = 0
        |  UNION ALL
        |  SELECT doc_id + 200000, 'extra words added ' || text FROM documents WHERE doc_id % 10 = 5),
        |t AS (
        |  SELECT doc_id,
        |    list_filter(string_split(lower(text), ' '), x -> length(x) > 0) AS ws
        |  FROM corpus),
        |wh AS (
        |  SELECT doc_id,
        |    list_transform(ws, w -> list_reduce(list_prepend(CAST(0 AS BIGINT),
        |      list_transform(string_split(w, ''), c -> ascii(c))),
        |      (h, c) -> (h * 31 + c) % 1000000000000000)) AS whs
        |  FROM t)
        |SELECT doc_id,
        |  CAST(list_sum(list_transform(range(0, 48), j ->
        |    CASE WHEN 2 * len(list_filter(whs,
        |        h -> CAST(floor(h / pow(2, j)) AS BIGINT) % 2 = 1)) >= len(whs)
        |      THEN CAST(floor(pow(2, j)) AS BIGINT) ELSE 0 END)) AS BIGINT) AS simhash
        |FROM wh ORDER BY doc_id""".stripMargin,
    "dd_simhash_pairs" ->
      """WITH corpus AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 100000, text FROM documents WHERE doc_id % 10 = 0
        |  UNION ALL
        |  SELECT doc_id + 200000, 'extra words added ' || text FROM documents WHERE doc_id % 10 = 5),
        |t AS (
        |  SELECT doc_id,
        |    list_filter(string_split(lower(text), ' '), x -> length(x) > 0) AS ws
        |  FROM corpus),
        |wh AS (
        |  SELECT doc_id,
        |    list_transform(ws, w -> list_reduce(list_prepend(CAST(0 AS BIGINT),
        |      list_transform(string_split(w, ''), c -> ascii(c))),
        |      (h, c) -> (h * 31 + c) % 1000000000000000)) AS whs
        |  FROM t),
        |sh AS (
        |  SELECT doc_id,
        |    CAST(list_sum(list_transform(range(0, 48), j ->
        |      CASE WHEN 2 * len(list_filter(whs,
        |          h -> CAST(floor(h / pow(2, j)) AS BIGINT) % 2 = 1)) >= len(whs)
        |        THEN CAST(floor(pow(2, j)) AS BIGINT) ELSE 0 END)) AS BIGINT) AS simhash
        |  FROM wh),
        |ch AS (
        |  SELECT doc_id, simhash,
        |    CAST(k AS VARCHAR) || '_' ||
        |      CAST(CAST(floor(simhash / pow(2, 24 * k)) AS BIGINT) % 16777216 AS VARCHAR) AS ckey
        |  FROM sh, (SELECT unnest([0, 1]) AS k)),
        |cand AS (
        |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |    a.simhash AS sim_a, b.simhash AS sim_b
        |  FROM ch a JOIN ch b ON a.ckey = b.ckey AND a.doc_id < b.doc_id)
        |SELECT doc_a, doc_b, CAST(bit_count(xor(sim_a, sim_b)) AS BIGINT) AS hamming
        |FROM cand WHERE bit_count(xor(sim_a, sim_b)) <= 1
        |ORDER BY doc_a, doc_b""".stripMargin,
    // MMR: integer 7*rel - 3*maxsim objective over the top-20 pool,
    // greedy unrolled to k=5 (the Spark side runs the same greedy over
    // the collected bounded model)
    "sim_mmr_rerank" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
        |n AS (SELECT vec_id, emb,
        |  sqrt(list_reduce(list_prepend(0.0, list_transform(range(1, len(emb)+1),
        |    i -> emb[i] * emb[i])), (x, y) -> x + y)) AS nrm FROM e),
        |q AS (SELECT emb AS q_emb, nrm AS q_nrm FROM n WHERE vec_id = 0),
        |rl AS (
        |  SELECT vec_id,
        |    CAST(floor(1000000.0 * (list_reduce(list_prepend(0.0,
        |      list_transform(range(1, len(q_emb)+1), i -> q_emb[i] * emb[i])),
        |      (x, y) -> x + y) / (q_nrm * nrm))) AS BIGINT) AS rel
        |  FROM n, q WHERE vec_id <> 0),
        |pool AS (SELECT vec_id, rel FROM rl ORDER BY rel DESC, vec_id LIMIT 20),
        |pe AS (SELECT p.vec_id, p.rel, n.emb, n.nrm FROM pool p JOIN n USING (vec_id)),
        |sims AS (
        |  SELECT a.vec_id AS a, b.vec_id AS b,
        |    CAST(floor(1000000.0 * (list_reduce(list_prepend(0.0,
        |      list_transform(range(1, len(a.emb)+1), i -> a.emb[i] * b.emb[i])),
        |      (x, y) -> x + y) / (a.nrm * b.nrm))) AS BIGINT) AS s
        |  FROM pe a, pe b WHERE a.vec_id <> b.vec_id),
        |s1 AS (SELECT vec_id, 7 * rel AS obj FROM pool ORDER BY 7 * rel DESC, vec_id LIMIT 1),
        |r2 AS (SELECT p.vec_id,
        |    7 * p.rel - 3 * (SELECT MAX(s) FROM sims, s1 WHERE a = p.vec_id AND b = s1.vec_id) AS obj
        |  FROM pool p WHERE p.vec_id NOT IN (SELECT vec_id FROM s1)),
        |s2 AS (SELECT vec_id, obj FROM r2 ORDER BY obj DESC, vec_id LIMIT 1),
        |sel2 AS (SELECT vec_id FROM s1 UNION ALL SELECT vec_id FROM s2),
        |r3 AS (SELECT p.vec_id,
        |    7 * p.rel - 3 * (SELECT MAX(s) FROM sims WHERE a = p.vec_id AND b IN (SELECT vec_id FROM sel2)) AS obj
        |  FROM pool p WHERE p.vec_id NOT IN (SELECT vec_id FROM sel2)),
        |s3 AS (SELECT vec_id, obj FROM r3 ORDER BY obj DESC, vec_id LIMIT 1),
        |sel3 AS (SELECT vec_id FROM sel2 UNION ALL SELECT vec_id FROM s3),
        |r4 AS (SELECT p.vec_id,
        |    7 * p.rel - 3 * (SELECT MAX(s) FROM sims WHERE a = p.vec_id AND b IN (SELECT vec_id FROM sel3)) AS obj
        |  FROM pool p WHERE p.vec_id NOT IN (SELECT vec_id FROM sel3)),
        |s4 AS (SELECT vec_id, obj FROM r4 ORDER BY obj DESC, vec_id LIMIT 1),
        |sel4 AS (SELECT vec_id FROM sel3 UNION ALL SELECT vec_id FROM s4),
        |r5 AS (SELECT p.vec_id,
        |    7 * p.rel - 3 * (SELECT MAX(s) FROM sims WHERE a = p.vec_id AND b IN (SELECT vec_id FROM sel4)) AS obj
        |  FROM pool p WHERE p.vec_id NOT IN (SELECT vec_id FROM sel4)),
        |s5 AS (SELECT vec_id, obj FROM r5 ORDER BY obj DESC, vec_id LIMIT 1)
        |SELECT CAST(rank AS BIGINT) AS rank, vec_id, obj AS mmr_obj FROM (
        |  SELECT 1 AS rank, vec_id, obj FROM s1
        |  UNION ALL SELECT 2, vec_id, obj FROM s2
        |  UNION ALL SELECT 3, vec_id, obj FROM s3
        |  UNION ALL SELECT 4, vec_id, obj FROM s4
        |  UNION ALL SELECT 5, vec_id, obj FROM s5)
        |ORDER BY rank""".stripMargin,
    "sim_brute_topk" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
        |q AS (SELECT vec_id AS q_id, emb AS q_emb FROM e WHERE vec_id < 5),
        |s AS (
        |  SELECT q_id, vec_id,
        |    list_reduce(list_prepend(0.0, list_transform(range(1, len(q_emb)+1),
        |      i -> q_emb[i] * emb[i])), (x, y) -> x + y)
        |    / (sqrt(list_reduce(list_prepend(0.0, list_transform(range(1, len(q_emb)+1),
        |      i -> q_emb[i] * q_emb[i])), (x, y) -> x + y))
        |     * sqrt(list_reduce(list_prepend(0.0, list_transform(range(1, len(emb)+1),
        |      i -> emb[i] * emb[i])), (x, y) -> x + y))) AS score
        |  FROM q, e WHERE e.vec_id <> q.q_id),
        |r AS (
        |  SELECT q_id, vec_id, score,
        |    CAST(row_number() OVER (PARTITION BY q_id ORDER BY score DESC, vec_id) AS BIGINT) AS rn
        |  FROM s)
        |SELECT q_id, vec_id, score, rn FROM r WHERE rn <= 10 ORDER BY q_id, rn""".stripMargin,
    // hard negatives: brute-force cosine rank restricted to vectors
    // whose label differs from the anchor's
    "sim_hard_negatives" ->
      """WITH e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
        |q AS (SELECT vec_id AS q_id, label AS q_label, emb AS q_emb FROM e WHERE vec_id < 5),
        |s AS (
        |  SELECT q_id, vec_id,
        |    list_reduce(list_prepend(0.0, list_transform(range(1, len(q_emb)+1),
        |      i -> q_emb[i] * emb[i])), (x, y) -> x + y)
        |    / (sqrt(list_reduce(list_prepend(0.0, list_transform(range(1, len(q_emb)+1),
        |      i -> q_emb[i] * q_emb[i])), (x, y) -> x + y))
        |     * sqrt(list_reduce(list_prepend(0.0, list_transform(range(1, len(emb)+1),
        |      i -> emb[i] * emb[i])), (x, y) -> x + y))) AS score
        |  FROM q, e WHERE e.vec_id <> q.q_id AND e.label <> q.q_label),
        |r AS (
        |  SELECT q_id, vec_id, score,
        |    CAST(row_number() OVER (PARTITION BY q_id ORDER BY score DESC, vec_id) AS BIGINT) AS rn
        |  FROM s)
        |SELECT q_id, vec_id, score, rn FROM r WHERE rn <= 10 ORDER BY q_id, rn""".stripMargin,
    "sim_lsh_ann" ->
      """WITH e0 AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
        |n AS (SELECT vec_id, emb,
        |  sqrt(list_reduce(list_prepend(0.0, list_transform(range(1, len(emb)+1),
        |    i -> emb[i] * emb[i])), (x, y) -> x + y)) AS nrm FROM e0),
        |tb AS (
        |  SELECT vec_id, t,
        |    CAST(list_sum(list_transform(range(0, 4), b ->
        |      CASE WHEN list_reduce(list_prepend(0.0, list_transform(range(1, len(emb)+1),
        |          j -> emb[j] * CAST((1 + (t*4+b)*73 + (j-1)*179) * 2654435761 % 1024 - 512 AS DOUBLE))),
        |          (x, y) -> x + y) >= 0
        |      THEN CAST(floor(pow(2, b)) AS BIGINT) ELSE 0 END)) AS BIGINT) AS bkt
        |  FROM n, (SELECT unnest([0, 1, 2, 3, 4, 5, 6, 7]) AS t) tt),
        |cand AS (SELECT DISTINCT q.vec_id AS q_id, c.vec_id AS vec_id
        |  FROM tb q JOIN tb c ON q.t = c.t AND q.bkt = c.bkt
        |  WHERE q.vec_id < 5 AND c.vec_id <> q.vec_id),
        |s AS (
        |  SELECT q_id, cand.vec_id,
        |    list_reduce(list_prepend(0.0, list_transform(range(1, len(qe.emb)+1),
        |      i -> qe.emb[i] * ce.emb[i])), (x, y) -> x + y) / (qe.nrm * ce.nrm) AS score
        |  FROM cand
        |  JOIN n qe ON qe.vec_id = cand.q_id
        |  JOIN n ce ON ce.vec_id = cand.vec_id),
        |r AS (
        |  SELECT q_id, vec_id, score,
        |    CAST(row_number() OVER (PARTITION BY q_id ORDER BY score DESC, vec_id) AS BIGINT) AS rn
        |  FROM s)
        |SELECT q_id, vec_id, score, rn FROM r WHERE rn <= 10 ORDER BY q_id, rn""".stripMargin,
    // corpus-wide approximate k-NN graph: the SAME bucket construction
    // as sim_lsh_ann, but every vector is an anchor (bucket self-join,
    // pairs deduped across tables) and each keeps its top 4
    "sim_knn_graph" ->
      """WITH e0 AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
        |n AS (SELECT vec_id, emb,
        |  sqrt(list_reduce(list_prepend(0.0, list_transform(range(1, len(emb)+1),
        |    i -> emb[i] * emb[i])), (x, y) -> x + y)) AS nrm FROM e0),
        |nb AS (SELECT GREATEST(4, CAST(CEIL(LOG2(GREATEST(count(*), 1) / 32.0)) AS INT)) AS bits
        |       FROM e0),
        |tb AS (
        |  SELECT vec_id, t,
        |    CAST(list_sum(list_transform(range(0, bits), b ->
        |      CASE WHEN list_reduce(list_prepend(0.0, list_transform(range(1, len(emb)+1),
        |          j -> emb[j] * CAST((1 + (t*bits+b)*73 + (j-1)*179) * 2654435761 % 1024 - 512 AS DOUBLE))),
        |          (x, y) -> x + y) >= 0
        |      THEN CAST(floor(pow(2, b)) AS BIGINT) ELSE 0 END)) AS BIGINT) AS bkt
        |  FROM n, nb, (SELECT unnest([0, 1, 2, 3, 4, 5, 6, 7]) AS t) tt),
        |cand AS (SELECT DISTINCT a.vec_id AS a_id, b.vec_id AS b_id
        |  FROM tb a JOIN tb b ON a.t = b.t AND a.bkt = b.bkt
        |  WHERE b.vec_id <> a.vec_id),
        |s AS (
        |  SELECT a_id, b_id,
        |    list_reduce(list_prepend(0.0, list_transform(range(1, len(ae.emb)+1),
        |      i -> ae.emb[i] * be.emb[i])), (x, y) -> x + y) / (ae.nrm * be.nrm) AS score
        |  FROM cand
        |  JOIN n ae ON ae.vec_id = cand.a_id
        |  JOIN n be ON be.vec_id = cand.b_id),
        |r AS (
        |  SELECT a_id, b_id, score,
        |    CAST(row_number() OVER (PARTITION BY a_id ORDER BY score DESC, b_id) AS BIGINT) AS rn
        |  FROM s)
        |SELECT e0.vec_id AS a_id, r.b_id, r.score, r.rn
        |FROM e0 LEFT JOIN (SELECT * FROM r WHERE rn <= 4) r ON r.a_id = e0.vec_id
        |ORDER BY a_id, rn""".stripMargin,
    // multi-probe LSH: each query probes its bucket + all 1-bit flips
    // per table; candidate recall vs the brute top-10, next to the
    // single-probe numbers off the same signatures
    "sim_lsh_multiprobe" ->
      """WITH e0 AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
        |n AS (SELECT vec_id, emb,
        |  sqrt(list_reduce(list_prepend(0.0, list_transform(range(1, len(emb)+1),
        |    i -> emb[i] * emb[i])), (x, y) -> x + y)) AS nrm FROM e0),
        |ltb AS (
        |  SELECT vec_id, t,
        |    CAST(list_sum(list_transform(range(0, 4), b ->
        |      CASE WHEN list_reduce(list_prepend(0.0, list_transform(range(1, len(emb)+1),
        |          j -> emb[j] * CAST((1 + (t*4+b)*73 + (j-1)*179) * 2654435761 % 1024 - 512 AS DOUBLE))),
        |          (x, y) -> x + y) >= 0
        |      THEN CAST(floor(pow(2, b)) AS BIGINT) ELSE 0 END)) AS BIGINT) AS bkt
        |  FROM n, (SELECT unnest([0, 1, 2, 3, 4, 5, 6, 7]) AS t) tt),
        |qp AS (
        |  SELECT vec_id AS q_id, t, 0 AS d, bkt FROM ltb WHERE vec_id < 5
        |  UNION ALL
        |  SELECT vec_id, t, 1, xor(bkt, p) FROM ltb,
        |    (SELECT unnest([1, 2, 4, 8]) AS p) pp
        |  WHERE vec_id < 5),
        |cand AS (
        |  SELECT q_id, c.vec_id, CAST(MIN(d) AS BIGINT) AS d
        |  FROM qp JOIN ltb c ON c.t = qp.t AND c.bkt = qp.bkt
        |  WHERE c.vec_id <> qp.q_id GROUP BY 1, 2),
        |bq AS (SELECT vec_id AS q_id, emb AS q_emb, nrm AS q_nrm FROM n WHERE vec_id < 5),
        |bs AS (
        |  SELECT q_id, n.vec_id,
        |    list_reduce(list_prepend(0.0, list_transform(range(1, len(q_emb)+1),
        |      i -> q_emb[i] * emb[i])), (x, y) -> x + y) / (q_nrm * nrm) AS score
        |  FROM bq, n WHERE n.vec_id <> bq.q_id),
        |br AS (SELECT q_id, vec_id FROM (
        |  SELECT q_id, vec_id, row_number() OVER (PARTITION BY q_id
        |    ORDER BY score DESC, vec_id) AS rn FROM bs) t
        |  WHERE rn <= 10),
        |tot AS (SELECT COUNT(*) AS possible FROM br),
        |p1 AS (SELECT COUNT(*) AS n_candidates FROM cand WHERE d = 0),
        |h1 AS (SELECT COUNT(*) AS hits FROM br WHERE EXISTS (
        |  SELECT 1 FROM cand WHERE d = 0 AND cand.q_id = br.q_id
        |    AND cand.vec_id = br.vec_id)),
        |pm AS (SELECT COUNT(*) AS n_candidates FROM cand),
        |hm AS (SELECT COUNT(*) AS hits FROM br WHERE EXISTS (
        |  SELECT 1 FROM cand WHERE cand.q_id = br.q_id
        |    AND cand.vec_id = br.vec_id))
        |SELECT method, n_candidates, hits, possible,
        |  CAST(hits AS DOUBLE) / possible AS recall FROM (
        |  SELECT 'probe1' AS method, p1.n_candidates, h1.hits, tot.possible
        |  FROM p1, h1, tot
        |  UNION ALL
        |  SELECT 'multiprobe', pm.n_candidates, hm.hits, tot.possible
        |  FROM pm, hm, tot) z
        |ORDER BY method""".stripMargin,
    // greedy beam search over the kNN graph (HNSW layer-0 walk): entry
    // = hash-min vector, 3 unrolled hops of expand+score+beam(8), final
    // top-5 excluding self; scores are the same-fold exact cosine
    "sim_graph_search" ->
      """WITH e0 AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
        |n AS (SELECT vec_id, emb,
        |  sqrt(list_reduce(list_prepend(0.0, list_transform(range(1, len(emb)+1),
        |    i -> emb[i] * emb[i])), (x, y) -> x + y)) AS nrm FROM e0),
        |nb AS (SELECT GREATEST(4, CAST(CEIL(LOG2(GREATEST(count(*), 1) / 32.0)) AS INT)) AS bits
        |       FROM e0),
        |tb AS (
        |  SELECT vec_id, t,
        |    CAST(list_sum(list_transform(range(0, bits), b ->
        |      CASE WHEN list_reduce(list_prepend(0.0, list_transform(range(1, len(emb)+1),
        |          j -> emb[j] * CAST((1 + (t*bits+b)*73 + (j-1)*179) * 2654435761 % 1024 - 512 AS DOUBLE))),
        |          (x, y) -> x + y) >= 0
        |      THEN CAST(floor(pow(2, b)) AS BIGINT) ELSE 0 END)) AS BIGINT) AS bkt
        |  FROM n, nb, (SELECT unnest([0, 1, 2, 3, 4, 5, 6, 7]) AS t) tt),
        |cand AS (SELECT DISTINCT a.vec_id AS a_id, b.vec_id AS b_id
        |  FROM tb a JOIN tb b ON a.t = b.t AND a.bkt = b.bkt
        |  WHERE b.vec_id <> a.vec_id),
        |es AS (
        |  SELECT a_id, b_id,
        |    list_reduce(list_prepend(0.0, list_transform(range(1, len(ae.emb)+1),
        |      i -> ae.emb[i] * be.emb[i])), (x, y) -> x + y) / (ae.nrm * be.nrm) AS score
        |  FROM cand
        |  JOIN n ae ON ae.vec_id = cand.a_id
        |  JOIN n be ON be.vec_id = cand.b_id),
        |g AS (SELECT a_id, b_id FROM (
        |    SELECT a_id, b_id,
        |      row_number() OVER (PARTITION BY a_id ORDER BY score DESC, b_id) AS rn
        |    FROM es) z WHERE rn <= 4),
        |q AS (SELECT vec_id AS q_id, emb AS q_emb, nrm AS q_nrm
        |      FROM n WHERE vec_id < 5),
        |ent AS (SELECT vec_id FROM n
        |        ORDER BY (vec_id * 2654435761) % 1000000007, vec_id LIMIT 1),
        |b0 AS (SELECT q_id, ent.vec_id FROM q, ent),
        |x1 AS (SELECT DISTINCT q_id, vec_id FROM (
        |    SELECT b0.q_id, g.b_id AS vec_id FROM b0 JOIN g ON g.a_id = b0.vec_id
        |    UNION ALL SELECT q_id, vec_id FROM b0) z),
        |s1 AS (SELECT x1.q_id, x1.vec_id,
        |    list_reduce(list_prepend(0.0, list_transform(range(1, len(n.emb)+1),
        |      i -> n.emb[i] * q.q_emb[i])), (x, y) -> x + y) / (n.nrm * q.q_nrm) AS score
        |  FROM x1 JOIN n ON n.vec_id = x1.vec_id JOIN q ON q.q_id = x1.q_id),
        |b1 AS (SELECT q_id, vec_id FROM (
        |    SELECT q_id, vec_id,
        |      row_number() OVER (PARTITION BY q_id ORDER BY score DESC, vec_id) AS rn
        |    FROM s1) z WHERE rn <= 8),
        |x2 AS (SELECT DISTINCT q_id, vec_id FROM (
        |    SELECT b1.q_id, g.b_id AS vec_id FROM b1 JOIN g ON g.a_id = b1.vec_id
        |    UNION ALL SELECT q_id, vec_id FROM b1) z),
        |s2 AS (SELECT x2.q_id, x2.vec_id,
        |    list_reduce(list_prepend(0.0, list_transform(range(1, len(n.emb)+1),
        |      i -> n.emb[i] * q.q_emb[i])), (x, y) -> x + y) / (n.nrm * q.q_nrm) AS score
        |  FROM x2 JOIN n ON n.vec_id = x2.vec_id JOIN q ON q.q_id = x2.q_id),
        |b2 AS (SELECT q_id, vec_id FROM (
        |    SELECT q_id, vec_id,
        |      row_number() OVER (PARTITION BY q_id ORDER BY score DESC, vec_id) AS rn
        |    FROM s2) z WHERE rn <= 8),
        |x3 AS (SELECT DISTINCT q_id, vec_id FROM (
        |    SELECT b2.q_id, g.b_id AS vec_id FROM b2 JOIN g ON g.a_id = b2.vec_id
        |    UNION ALL SELECT q_id, vec_id FROM b2) z),
        |s3 AS (SELECT x3.q_id, x3.vec_id,
        |    list_reduce(list_prepend(0.0, list_transform(range(1, len(n.emb)+1),
        |      i -> n.emb[i] * q.q_emb[i])), (x, y) -> x + y) / (n.nrm * q.q_nrm) AS score
        |  FROM x3 JOIN n ON n.vec_id = x3.vec_id JOIN q ON q.q_id = x3.q_id)
        |SELECT q_id, vec_id, score, rn FROM (
        |  SELECT q_id, vec_id, score,
        |    CAST(row_number() OVER (PARTITION BY q_id
        |      ORDER BY score DESC, vec_id) AS BIGINT) AS rn
        |  FROM s3 WHERE vec_id <> q_id) z
        |WHERE rn <= 5 ORDER BY q_id, rn""".stripMargin,
    // sparse lexical top-k: bigram-term integer TF-IDF, df-capped
    // postings (stop-terms dropped before any pair forms), one unordered
    // pair per doc pair, both orientations ranked top-3
    "sim_sparse_topk" ->
      """WITH base AS (
        |  SELECT doc_id, list_filter(string_split(lower(text),' '), x->length(x)>0) AS ws
        |  FROM documents),
        |tok AS (
        |  SELECT doc_id, unnest([ws[i]||' '||ws[i+1] for i in range(1, len(ws))]) AS t
        |  FROM base WHERE len(ws) >= 2),
        |tf AS (SELECT doc_id, t, CAST(count(*) AS BIGINT) AS tf FROM tok GROUP BY 1,2),
        |d AS (SELECT t, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY t
        |      HAVING count(*) BETWEEN 2 AND 50),
        |w AS (SELECT tf.doc_id, tf.t, tf.tf * (1000000 // d.df) AS w
        |      FROM tf JOIN d USING (t)),
        |pairs AS (
        |  SELECT a.doc_id AS da, b.doc_id AS db, SUM(a.w * b.w) AS dot
        |  FROM w a JOIN w b ON a.t = b.t AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2),
        |ori AS (
        |  SELECT da AS anchor, db AS neighbor, dot FROM pairs
        |  UNION ALL
        |  SELECT db AS anchor, da AS neighbor, dot FROM pairs),
        |rk AS (
        |  SELECT anchor, neighbor, dot,
        |    row_number() OVER (PARTITION BY anchor ORDER BY dot DESC, neighbor) AS rank
        |  FROM ori)
        |SELECT anchor, neighbor, CAST(dot AS BIGINT) AS dot, CAST(rank AS BIGINT) AS rank
        |FROM rk WHERE rank <= 3 ORDER BY anchor, rank""".stripMargin,
    "sim_ivf_ann" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
        |n AS (SELECT vec_id, emb,
        |  sqrt(list_reduce(list_prepend(0.0, list_transform(range(1, len(emb)+1),
        |    i -> emb[i] * emb[i])), (x, y) -> x + y)) AS nrm FROM e),
        |c AS (SELECT vec_id AS cent_id, emb AS cemb, nrm AS cnrm
        |      FROM n ORDER BY (vec_id * 2654435761) % 1000000007, vec_id LIMIT 16),
        |a0 AS (
        |  SELECT n.vec_id, n.emb, n.nrm, c.cent_id,
        |    list_reduce(list_prepend(0.0, list_transform(range(1, len(emb)+1),
        |      i -> emb[i] * cemb[i])), (x, y) -> x + y) / (nrm * cnrm) AS cscore
        |  FROM n CROSS JOIN c),
        |ar AS (
        |  SELECT *, row_number() OVER (PARTITION BY vec_id
        |    ORDER BY cscore DESC, cent_id) AS arn FROM a0),
        |a AS (SELECT vec_id, emb, nrm, cent_id FROM ar WHERE arn = 1),
        |q AS (SELECT vec_id AS q_id, emb AS q_emb, nrm AS q_nrm, cent_id
        |      FROM ar WHERE vec_id < 5 AND arn <= 2),
        |s AS (
        |  SELECT q_id, a.vec_id,
        |    list_reduce(list_prepend(0.0, list_transform(range(1, len(q_emb)+1),
        |      i -> q_emb[i] * emb[i])), (x, y) -> x + y) / (q_nrm * nrm) AS score
        |  FROM q JOIN a ON q.cent_id = a.cent_id AND a.vec_id <> q.q_id),
        |r AS (
        |  SELECT q_id, vec_id, score,
        |    CAST(row_number() OVER (PARTITION BY q_id ORDER BY score DESC, vec_id) AS BIGINT) AS rn
        |  FROM s)
        |SELECT q_id, vec_id, score, rn FROM r WHERE rn <= 10
        |ORDER BY q_id, rn""".stripMargin,
    "dd_emb_neardup" ->
      """WITH e0 AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
        |corpus AS (
        |  SELECT vec_id, emb FROM e0
        |  UNION ALL
        |  SELECT vec_id + 100000, list_transform(emb, x -> x * 2.0) FROM e0 WHERE vec_id % 10 = 0
        |  UNION ALL
        |  SELECT vec_id + 200000, list_transform(emb, x -> x * 0.5) FROM e0 WHERE vec_id % 10 = 5),
        |e AS (
        |  SELECT vec_id, emb,
        |    sqrt(list_reduce(list_prepend(0.0, list_transform(range(1, len(emb)+1),
        |      i -> emb[i] * emb[i])), (x, y) -> x + y)) AS nrm,
        |    CAST(list_sum(list_transform(range(0, 8), p ->
        |      CASE WHEN list_reduce(list_prepend(0.0, list_transform(range(1, len(emb)+1),
        |          j -> emb[j] * CAST((1 + p*73 + (j-1)*179) * 2654435761 % 1024 - 512 AS DOUBLE))),
        |          (x, y) -> x + y) >= 0
        |      THEN CAST(floor(pow(2, p)) AS BIGINT) ELSE 0 END)) AS BIGINT) AS bucket
        |  FROM corpus),
        |p AS (
        |  SELECT a.vec_id AS vec_a, b.vec_id AS vec_b, a.bucket AS bucket,
        |    list_reduce(list_prepend(0.0, list_transform(range(1, len(a.emb)+1),
        |      i -> a.emb[i] * b.emb[i])), (x, y) -> x + y) / (a.nrm * b.nrm) AS cos
        |  FROM e a JOIN e b ON a.bucket = b.bucket AND a.vec_id < b.vec_id)
        |SELECT vec_a, vec_b, bucket, cos FROM p WHERE cos >= 0.999
        |ORDER BY vec_a, vec_b""".stripMargin,
    // SemDeDup-style cluster-blocked dedup: 32-centroid coarse
    // assignment (same deterministic sample family as sim_ivf_ann),
    // within-cluster pairs only, drop when a lower-id cluster-mate has
    // cosine >= 0.999
    "dd_semantic" ->
      """WITH e0 AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
        |corpus AS (
        |  SELECT vec_id, emb FROM e0
        |  UNION ALL
        |  SELECT vec_id + 100000, list_transform(emb, x -> x * 2.0) FROM e0 WHERE vec_id % 10 = 0
        |  UNION ALL
        |  SELECT vec_id + 200000, list_transform(emb, x -> x * 0.5) FROM e0 WHERE vec_id % 10 = 5),
        |n AS (SELECT vec_id, emb,
        |  sqrt(list_reduce(list_prepend(0.0, list_transform(range(1, len(emb)+1),
        |    i -> emb[i] * emb[i])), (x, y) -> x + y)) AS nrm FROM corpus),
        |kk AS (SELECT GREATEST(16, CAST(ceil(sqrt(count(*) * 1.0)) AS BIGINT)) AS k FROM corpus),
        |c AS (SELECT vec_id AS cent_id, cemb, cnrm FROM (
        |    SELECT vec_id, emb AS cemb, nrm AS cnrm, row_number() OVER (
        |      ORDER BY (vec_id * 2654435761) % 1000000007, vec_id) AS crn FROM n) z, kk
        |  WHERE crn <= k),
        |a0 AS (SELECT n.vec_id, c.cent_id,
        |    list_reduce(list_prepend(0.0, list_transform(range(1, len(emb)+1),
        |      i -> emb[i] * cemb[i])), (x, y) -> x + y) / (nrm * cnrm) AS cscore
        |  FROM n CROSS JOIN c),
        |asg AS (SELECT vec_id, cent_id AS cluster_id FROM (
        |    SELECT vec_id, cent_id, row_number() OVER (PARTITION BY vec_id
        |      ORDER BY cscore DESC, cent_id) AS arn FROM a0) z WHERE arn = 1),
        |csz AS (SELECT cluster_id, count(*) AS csz FROM asg GROUP BY cluster_id),
        |w AS (SELECT asg.vec_id, asg.cluster_id,
        |    ((asg.vec_id * 2654435761) % 1000000007) %
        |      CAST(floor((csz + 255.0) / 256.0) AS BIGINT) AS sub, emb, nrm
        |  FROM asg JOIN n ON n.vec_id = asg.vec_id
        |  JOIN csz ON csz.cluster_id = asg.cluster_id),
        |dropped AS (SELECT DISTINCT wb.vec_id FROM w wa JOIN w wb
        |  ON wa.cluster_id = wb.cluster_id AND wa.sub = wb.sub AND wa.vec_id < wb.vec_id
        |  AND list_reduce(list_prepend(0.0, list_transform(range(1, len(wa.emb)+1),
        |      i -> wa.emb[i] * wb.emb[i])), (x, y) -> x + y) / (wa.nrm * wb.nrm) >= 0.999)
        |SELECT w.vec_id, cluster_id,
        |  CAST(CASE WHEN d.vec_id IS NULL THEN 1 ELSE 0 END AS BIGINT) AS is_kept
        |FROM w LEFT JOIN dropped d ON d.vec_id = w.vec_id
        |ORDER BY w.vec_id""".stripMargin,
    // integer-scaled MRR: per-anchor reciprocal-rank contribution of the
    // LSH index against the brute-force true NN, scaled by lcm(1..10)
    // contrastive triplets: hardest same-label positive (rn=1) + top-3
    // different-label hard negatives, one row per (anchor, negative)
    "sim_training_triplets" ->
      """WITH e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
        |n AS (SELECT vec_id, label, emb,
        |  sqrt(list_reduce(list_prepend(0.0, list_transform(range(1, len(emb)+1),
        |    i -> emb[i] * emb[i])), (x, y) -> x + y)) AS nrm FROM e),
        |q AS (SELECT vec_id AS q_id, label AS q_label, emb AS q_emb, nrm AS q_nrm
        |  FROM n WHERE vec_id < 5),
        |s AS (
        |  SELECT q_id, q_label, n.vec_id, n.label,
        |    list_reduce(list_prepend(0.0, list_transform(range(1, len(q_emb)+1),
        |      i -> q_emb[i] * emb[i])), (x, y) -> x + y) / (q_nrm * nrm) AS score
        |  FROM q, n WHERE n.vec_id <> q.q_id),
        |pos AS (SELECT q_id, vec_id AS pos_id, score AS pos_score FROM (
        |    SELECT q_id, vec_id, score,
        |      row_number() OVER (PARTITION BY q_id ORDER BY score DESC, vec_id) AS rn
        |    FROM s WHERE label = q_label) z
        |  WHERE rn = 1),
        |neg AS (SELECT q_id, CAST(rn AS BIGINT) AS neg_rank, vec_id AS neg_id,
        |    score AS neg_score FROM (
        |    SELECT q_id, vec_id, score,
        |      row_number() OVER (PARTITION BY q_id ORDER BY score DESC, vec_id) AS rn
        |    FROM s WHERE label <> q_label) z
        |  WHERE rn <= 3)
        |SELECT pos.q_id, pos_id, pos_score, neg_rank, neg_id, neg_score
        |FROM pos JOIN neg ON neg.q_id = pos.q_id
        |ORDER BY pos.q_id, neg_rank""".stripMargin,
    // matryoshka truncation recall: per tier, the brute-force ranking
    // re-run on prefix-sliced renormalized embeddings, semi-joined
    // against the full-dim top-10 (tier CTEs generated from one template
    // so the three tiers cannot drift)
    "sim_matryoshka_recall" -> {
      def dot(a: String, b: String): String =
        s"list_reduce(list_prepend(0.0, list_transform(range(1, len($a)+1), " +
          s"i -> $a[i] * $b[i])), (x, y) -> x + y)"
      def tier(d: Int): String =
        s"""e$d AS (SELECT vec_id, emb[1:$d] AS emb FROM e0),
           |n$d AS (SELECT vec_id, emb, sqrt(${dot("emb", "emb")}) AS nrm FROM e$d),
           |q$d AS (SELECT vec_id AS q_id, emb AS q_emb, nrm AS q_nrm FROM n$d WHERE vec_id < 5),
           |s$d AS (
           |  SELECT q_id, n$d.vec_id,
           |    ${dot("q_emb", "emb")} / (q_nrm * nrm) AS score
           |  FROM q$d, n$d WHERE n$d.vec_id <> q$d.q_id),
           |r$d AS (SELECT q_id, vec_id FROM (
           |    SELECT q_id, vec_id,
           |      row_number() OVER (PARTITION BY q_id ORDER BY score DESC, vec_id) AS rn
           |    FROM s$d) z
           |  WHERE rn <= 10),
           |h$d AS (SELECT COUNT(*) AS hits FROM rf JOIN r$d USING (q_id, vec_id))""".stripMargin
      def row(d: Int): String =
        s"""SELECT CAST($d AS BIGINT) AS dims_kept, hits, possible,
           |  CAST(hits AS DOUBLE) / possible AS recall FROM h$d, pt""".stripMargin
      s"""WITH e0 AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
         |nf AS (SELECT vec_id, emb, sqrt(${dot("emb", "emb")}) AS nrm FROM e0),
         |qf AS (SELECT vec_id AS q_id, emb AS q_emb, nrm AS q_nrm FROM nf WHERE vec_id < 5),
         |sf AS (
         |  SELECT q_id, nf.vec_id,
         |    ${dot("q_emb", "emb")} / (q_nrm * nrm) AS score
         |  FROM qf, nf WHERE nf.vec_id <> qf.q_id),
         |rf AS (SELECT q_id, vec_id FROM (
         |    SELECT q_id, vec_id,
         |      row_number() OVER (PARTITION BY q_id ORDER BY score DESC, vec_id) AS rn
         |    FROM sf) z
         |  WHERE rn <= 10),
         |pt AS (SELECT COUNT(*) AS possible FROM rf),
         |${Seq(8, 16, 32).map(tier).mkString(",\n")}
         |${Seq(8, 16, 32).map(row).mkString("\nUNION ALL\n")}
         |ORDER BY dims_kept""".stripMargin
    },
    "sim_mrr" ->
      """WITH e0 AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
        |n AS (SELECT vec_id, emb,
        |  sqrt(list_reduce(list_prepend(0.0, list_transform(range(1, len(emb)+1),
        |    i -> emb[i] * emb[i])), (x, y) -> x + y)) AS nrm FROM e0),
        |bq AS (SELECT vec_id AS q_id, emb AS q_emb, nrm AS q_nrm FROM n WHERE vec_id < 5),
        |bs AS (
        |  SELECT q_id, n.vec_id,
        |    list_reduce(list_prepend(0.0, list_transform(range(1, len(q_emb)+1),
        |      i -> q_emb[i] * emb[i])), (x, y) -> x + y) / (q_nrm * nrm) AS score
        |  FROM bq, n WHERE n.vec_id <> bq.q_id),
        |brr AS (SELECT q_id, vec_id,
        |  row_number() OVER (PARTITION BY q_id ORDER BY score DESC, vec_id) AS rn FROM bs),
        |tn AS (SELECT q_id, vec_id AS true_nn FROM brr WHERE rn = 1),
        |ltb AS (
        |  SELECT vec_id, t,
        |    CAST(list_sum(list_transform(range(0, 4), b ->
        |      CASE WHEN list_reduce(list_prepend(0.0, list_transform(range(1, len(emb)+1),
        |          j -> emb[j] * CAST((1 + (t*4+b)*73 + (j-1)*179) * 2654435761 % 1024 - 512 AS DOUBLE))),
        |          (x, y) -> x + y) >= 0
        |      THEN CAST(floor(pow(2, b)) AS BIGINT) ELSE 0 END)) AS BIGINT) AS bkt
        |  FROM n, (SELECT unnest([0, 1, 2, 3, 4, 5, 6, 7]) AS t) tt),
        |lcand AS (SELECT DISTINCT q.vec_id AS q_id, c.vec_id AS vec_id
        |  FROM ltb q JOIN ltb c ON q.t = c.t AND q.bkt = c.bkt
        |  WHERE q.vec_id < 5 AND c.vec_id <> q.vec_id),
        |ls AS (SELECT q_id, lcand.vec_id,
        |    list_reduce(list_prepend(0.0, list_transform(range(1, len(qe.emb)+1),
        |      i -> qe.emb[i] * ce.emb[i])), (x, y) -> x + y) / (qe.nrm * ce.nrm) AS score
        |  FROM lcand
        |  JOIN n qe ON qe.vec_id = lcand.q_id
        |  JOIN n ce ON ce.vec_id = lcand.vec_id),
        |lr AS (SELECT q_id, vec_id, rn FROM (
        |  SELECT q_id, vec_id, row_number() OVER (PARTITION BY q_id ORDER BY score DESC, vec_id) AS rn FROM ls) t
        |  WHERE rn <= 10)
        |SELECT tn.q_id, tn.true_nn,
        |  CAST(coalesce(lr.rn, -1) AS BIGINT) AS ann_rank,
        |  CAST(CASE WHEN lr.rn IS NOT NULL THEN 2520 // lr.rn ELSE 0 END AS BIGINT) AS contrib_scaled
        |FROM tn LEFT JOIN lr ON lr.q_id = tn.q_id AND lr.vec_id = tn.true_nn
        |ORDER BY tn.q_id""".stripMargin,
    // NDCG@10: binary relevance vs exact top-10; discounts are the
    // precomputed ⌊1e6/log2(i+1)⌋ integer constants — no runtime log
    "sim_ndcg" ->
      """WITH e0 AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
        |n AS (SELECT vec_id, emb,
        |  sqrt(list_reduce(list_prepend(0.0, list_transform(range(1, len(emb)+1),
        |    i -> emb[i] * emb[i])), (x, y) -> x + y)) AS nrm FROM e0),
        |bq AS (SELECT vec_id AS q_id, emb AS q_emb, nrm AS q_nrm FROM n WHERE vec_id < 5),
        |bs AS (
        |  SELECT q_id, n.vec_id,
        |    list_reduce(list_prepend(0.0, list_transform(range(1, len(q_emb)+1),
        |      i -> q_emb[i] * emb[i])), (x, y) -> x + y) / (q_nrm * nrm) AS score
        |  FROM bq, n WHERE n.vec_id <> bq.q_id),
        |gold AS (SELECT q_id, vec_id FROM (
        |  SELECT q_id, vec_id,
        |    row_number() OVER (PARTITION BY q_id ORDER BY score DESC, vec_id) AS rn
        |  FROM bs) t WHERE rn <= 10),
        |ltb AS (
        |  SELECT vec_id, t,
        |    CAST(list_sum(list_transform(range(0, 4), b ->
        |      CASE WHEN list_reduce(list_prepend(0.0, list_transform(range(1, len(emb)+1),
        |          j -> emb[j] * CAST((1 + (t*4+b)*73 + (j-1)*179) * 2654435761 % 1024 - 512 AS DOUBLE))),
        |          (x, y) -> x + y) >= 0
        |      THEN CAST(floor(pow(2, b)) AS BIGINT) ELSE 0 END)) AS BIGINT) AS bkt
        |  FROM n, (SELECT unnest([0, 1, 2, 3, 4, 5, 6, 7]) AS t) tt),
        |lcand AS (SELECT DISTINCT q.vec_id AS q_id, c.vec_id AS vec_id
        |  FROM ltb q JOIN ltb c ON q.t = c.t AND q.bkt = c.bkt
        |  WHERE q.vec_id < 5 AND c.vec_id <> q.vec_id),
        |ls AS (SELECT q_id, lcand.vec_id,
        |    list_reduce(list_prepend(0.0, list_transform(range(1, len(qe.emb)+1),
        |      i -> qe.emb[i] * ce.emb[i])), (x, y) -> x + y) / (qe.nrm * ce.nrm) AS score
        |  FROM lcand
        |  JOIN n qe ON qe.vec_id = lcand.q_id
        |  JOIN n ce ON ce.vec_id = lcand.vec_id),
        |lr AS (SELECT q_id, vec_id, rn FROM (
        |  SELECT q_id, vec_id, row_number() OVER (PARTITION BY q_id ORDER BY score DESC, vec_id) AS rn FROM ls) t
        |  WHERE rn <= 10),
        |wtab AS (SELECT * FROM (VALUES (1, 1000000), (2, 630929), (3, 500000),
        |  (4, 430676), (5, 386852), (6, 356207), (7, 333333), (8, 315464),
        |  (9, 301029), (10, 289064)) AS t(rnk, w)),
        |cumt AS (SELECT * FROM (VALUES (1, 1000000), (2, 1630929), (3, 2130929),
        |  (4, 2561605), (5, 2948457), (6, 3304664), (7, 3637997), (8, 3953461),
        |  (9, 4254490), (10, 4543554)) AS c(ng, cw)),
        |gn AS (SELECT q_id, COUNT(*) AS n_gold FROM gold GROUP BY q_id),
        |dcg AS (
        |  SELECT lr.q_id, CAST(SUM(w) AS BIGINT) AS dcg_scaled,
        |    CAST(COUNT(*) AS BIGINT) AS n_hits
        |  FROM lr JOIN gold g ON g.q_id = lr.q_id AND g.vec_id = lr.vec_id
        |  JOIN wtab ON wtab.rnk = lr.rn GROUP BY lr.q_id)
        |SELECT gn.q_id, CAST(n_gold AS BIGINT) AS n_gold,
        |  CAST(COALESCE(n_hits, 0) AS BIGINT) AS n_hits,
        |  CAST(COALESCE(dcg_scaled, 0) AS BIGINT) AS dcg_scaled,
        |  CAST(cw AS BIGINT) AS idcg_scaled,
        |  CAST(COALESCE(dcg_scaled, 0) * 10000 // cw AS BIGINT) AS ndcg_bp
        |FROM gn LEFT JOIN dcg ON dcg.q_id = gn.q_id
        |JOIN cumt ON cumt.ng = LEAST(n_gold, 10)
        |ORDER BY gn.q_id""".stripMargin,
    // hybrid RRF: BM25 top-10 (art_search_bm25's exact score tree)
    // fused with exact-cosine top-10 of doc 0's embedding; integer
    // contributions 1000000 DIV (60+rank), absent arm contributes 0
    "sim_hybrid_rrf" ->
      """WITH toks AS (
        |  SELECT doc_id, unnest(string_split(lower(text), ' ')) AS term
        |  FROM documents),
        |tok AS (SELECT doc_id, term FROM toks WHERE length(term) > 0),
        |dl AS (SELECT doc_id, COUNT(*) AS dl FROM tok GROUP BY doc_id),
        |stats AS (SELECT COUNT(*) AS n_docs, SUM(dl) AS tot FROM dl),
        |tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM tok
        |  WHERE term IN ('spark', 'merge') GROUP BY doc_id, term),
        |dfq AS (SELECT term, COUNT(DISTINCT doc_id) AS df FROM tok
        |  WHERE term IN ('spark', 'merge') GROUP BY term),
        |parts AS (
        |  SELECT tf.doc_id,
        |    CAST(floor(1000000.0 *
        |      ((CAST(n_docs AS DOUBLE) - CAST(df AS DOUBLE) + 0.5) /
        |        (CAST(df AS DOUBLE) + 0.5)) *
        |      ((CAST(tf AS DOUBLE) * 2.2) /
        |        (CAST(tf AS DOUBLE) + 1.2 * (0.25 + 0.75 *
        |          (CAST(dl.dl AS DOUBLE) /
        |            (CAST(tot AS DOUBLE) / CAST(n_docs AS DOUBLE))))))
        |    ) AS BIGINT) AS part
        |  FROM tf JOIN dfq USING (term) JOIN dl ON tf.doc_id = dl.doc_id
        |  CROSS JOIN stats),
        |scores AS (SELECT doc_id, CAST(SUM(part) AS BIGINT) AS score
        |  FROM parts GROUP BY doc_id),
        |lexr AS (SELECT doc_id, lex_rank FROM (
        |  SELECT doc_id, CAST(row_number() OVER (ORDER BY score DESC, doc_id)
        |    AS BIGINT) AS lex_rank FROM scores) t WHERE lex_rank <= 10),
        |e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
        |corp AS (SELECT vec_id, emb FROM e
        |  WHERE vec_id IN (SELECT doc_id FROM documents)),
        |q AS (SELECT emb AS q_emb FROM e WHERE vec_id = 0),
        |s AS (
        |  SELECT vec_id,
        |    list_reduce(list_prepend(0.0, list_transform(range(1, len(q_emb)+1),
        |      i -> q_emb[i] * emb[i])), (x, y) -> x + y)
        |    / (sqrt(list_reduce(list_prepend(0.0, list_transform(range(1, len(q_emb)+1),
        |      i -> q_emb[i] * q_emb[i])), (x, y) -> x + y))
        |     * sqrt(list_reduce(list_prepend(0.0, list_transform(range(1, len(emb)+1),
        |      i -> emb[i] * emb[i])), (x, y) -> x + y))) AS score
        |  FROM q, corp WHERE vec_id <> 0),
        |semr AS (SELECT doc_id, sem_rank FROM (
        |  SELECT vec_id AS doc_id, CAST(row_number() OVER (ORDER BY score DESC, vec_id)
        |    AS BIGINT) AS sem_rank FROM s) t WHERE sem_rank <= 10),
        |f AS (
        |  SELECT COALESCE(l.doc_id, m.doc_id) AS doc_id,
        |    l.lex_rank AS lr, m.sem_rank AS sr
        |  FROM lexr l FULL OUTER JOIN semr m ON l.doc_id = m.doc_id),
        |g AS (
        |  SELECT doc_id,
        |    CAST(COALESCE(lr, -1) AS BIGINT) AS lex_rank,
        |    CAST(COALESCE(sr, -1) AS BIGINT) AS sem_rank,
        |    CAST(COALESCE(1000000 // (60 + lr), 0) +
        |         COALESCE(1000000 // (60 + sr), 0) AS BIGINT) AS rrf_score
        |  FROM f)
        |SELECT doc_id, lex_rank, sem_rank, rrf_score,
        |  CAST(row_number() OVER (ORDER BY rrf_score DESC, doc_id) AS BIGINT) AS rn
        |FROM g ORDER BY rn""".stripMargin,
    // LSH bits sweep: bucket bound, deduped candidate-pair volume, and
    // recall@10 vs brute truth at 4 and 6 sign bits over the same tables
    "sim_bits_sweep" ->
      """WITH e0 AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
        |n AS (SELECT vec_id, emb,
        |  sqrt(list_reduce(list_prepend(0.0, list_transform(range(1, len(emb)+1),
        |    i -> emb[i] * emb[i])), (x, y) -> x + y)) AS nrm FROM e0),
        |bq AS (SELECT vec_id AS q_id, emb AS q_emb, nrm AS q_nrm FROM n WHERE vec_id < 5),
        |bs AS (
        |  SELECT q_id, n.vec_id,
        |    list_reduce(list_prepend(0.0, list_transform(range(1, len(q_emb)+1),
        |      i -> q_emb[i] * emb[i])), (x, y) -> x + y) / (q_nrm * nrm) AS score
        |  FROM bq, n WHERE n.vec_id <> bq.q_id),
        |br AS (SELECT q_id, vec_id FROM (
        |  SELECT q_id, vec_id, row_number() OVER (PARTITION BY q_id ORDER BY score DESC, vec_id) AS rn FROM bs) t
        |  WHERE rn <= 10),
        |tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS possible FROM br),
        |b4tb AS (
        |  SELECT vec_id, t,
        |    CAST(list_sum(list_transform(range(0, 4), b ->
        |      CASE WHEN list_reduce(list_prepend(0.0, list_transform(range(1, len(emb)+1),
        |          j -> emb[j] * CAST((1 + (t*4+b)*73 + (j-1)*179) * 2654435761 % 1024 - 512 AS DOUBLE))),
        |          (x, y) -> x + y) >= 0
        |      THEN CAST(floor(pow(2, b)) AS BIGINT) ELSE 0 END)) AS BIGINT) AS bkt
        |  FROM n, (SELECT unnest([0, 1, 2, 3, 4, 5, 6, 7]) AS t) tt),
        |b4st AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_buckets,
        |    CAST(MAX(bn) AS BIGINT) AS max_bucket
        |  FROM (SELECT t, bkt, COUNT(*) AS bn FROM b4tb GROUP BY t, bkt) z),
        |b4nc AS (SELECT CAST(COUNT(*) AS BIGINT) AS cand_pairs FROM (
        |  SELECT DISTINCT a.vec_id AS a_id, b.vec_id AS b_id
        |  FROM b4tb a JOIN b4tb b ON a.t = b.t AND a.bkt = b.bkt
        |  WHERE a.vec_id < b.vec_id) z),
        |b4cand AS (SELECT DISTINCT q.vec_id AS q_id, c.vec_id AS vec_id
        |  FROM b4tb q JOIN b4tb c ON q.t = c.t AND q.bkt = c.bkt
        |  WHERE q.vec_id < 5 AND c.vec_id <> q.vec_id),
        |b4s AS (SELECT q_id, b4cand.vec_id,
        |    list_reduce(list_prepend(0.0, list_transform(range(1, len(qe.emb)+1),
        |      i -> qe.emb[i] * ce.emb[i])), (x, y) -> x + y) / (qe.nrm * ce.nrm) AS score
        |  FROM b4cand
        |  JOIN n qe ON qe.vec_id = b4cand.q_id
        |  JOIN n ce ON ce.vec_id = b4cand.vec_id),
        |b4r AS (SELECT q_id, vec_id FROM (
        |  SELECT q_id, vec_id, row_number() OVER (PARTITION BY q_id ORDER BY score DESC, vec_id) AS rn FROM b4s) t
        |  WHERE rn <= 10),
        |b4h AS (SELECT CAST(COUNT(*) AS BIGINT) AS hits FROM br WHERE EXISTS (
        |  SELECT 1 FROM b4r WHERE b4r.q_id = br.q_id AND b4r.vec_id = br.vec_id)),
        |b6tb AS (
        |  SELECT vec_id, t,
        |    CAST(list_sum(list_transform(range(0, 6), b ->
        |      CASE WHEN list_reduce(list_prepend(0.0, list_transform(range(1, len(emb)+1),
        |          j -> emb[j] * CAST((1 + (t*6+b)*73 + (j-1)*179) * 2654435761 % 1024 - 512 AS DOUBLE))),
        |          (x, y) -> x + y) >= 0
        |      THEN CAST(floor(pow(2, b)) AS BIGINT) ELSE 0 END)) AS BIGINT) AS bkt
        |  FROM n, (SELECT unnest([0, 1, 2, 3, 4, 5, 6, 7]) AS t) tt),
        |b6st AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_buckets,
        |    CAST(MAX(bn) AS BIGINT) AS max_bucket
        |  FROM (SELECT t, bkt, COUNT(*) AS bn FROM b6tb GROUP BY t, bkt) z),
        |b6nc AS (SELECT CAST(COUNT(*) AS BIGINT) AS cand_pairs FROM (
        |  SELECT DISTINCT a.vec_id AS a_id, b.vec_id AS b_id
        |  FROM b6tb a JOIN b6tb b ON a.t = b.t AND a.bkt = b.bkt
        |  WHERE a.vec_id < b.vec_id) z),
        |b6cand AS (SELECT DISTINCT q.vec_id AS q_id, c.vec_id AS vec_id
        |  FROM b6tb q JOIN b6tb c ON q.t = c.t AND q.bkt = c.bkt
        |  WHERE q.vec_id < 5 AND c.vec_id <> q.vec_id),
        |b6s AS (SELECT q_id, b6cand.vec_id,
        |    list_reduce(list_prepend(0.0, list_transform(range(1, len(qe.emb)+1),
        |      i -> qe.emb[i] * ce.emb[i])), (x, y) -> x + y) / (qe.nrm * ce.nrm) AS score
        |  FROM b6cand
        |  JOIN n qe ON qe.vec_id = b6cand.q_id
        |  JOIN n ce ON ce.vec_id = b6cand.vec_id),
        |b6r AS (SELECT q_id, vec_id FROM (
        |  SELECT q_id, vec_id, row_number() OVER (PARTITION BY q_id ORDER BY score DESC, vec_id) AS rn FROM b6s) t
        |  WHERE rn <= 10),
        |b6h AS (SELECT CAST(COUNT(*) AS BIGINT) AS hits FROM br WHERE EXISTS (
        |  SELECT 1 FROM b6r WHERE b6r.q_id = br.q_id AND b6r.vec_id = br.vec_id))
        |SELECT bits, n_buckets, max_bucket, cand_pairs, hits, possible,
        |  CAST(hits AS DOUBLE) / possible AS recall FROM (
        |  SELECT CAST(4 AS BIGINT) AS bits, b4st.n_buckets, b4st.max_bucket,
        |    b4nc.cand_pairs, b4h.hits, tot.possible FROM b4st, b4nc, b4h, tot
        |  UNION ALL
        |  SELECT CAST(6 AS BIGINT), b6st.n_buckets, b6st.max_bucket,
        |    b6nc.cand_pairs, b6h.hits, tot.possible FROM b6st, b6nc, b6h, tot) u
        |ORDER BY bits""".stripMargin,
    "sim_recall" ->
      """WITH e0 AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
        |n AS (SELECT vec_id, emb,
        |  sqrt(list_reduce(list_prepend(0.0, list_transform(range(1, len(emb)+1),
        |    i -> emb[i] * emb[i])), (x, y) -> x + y)) AS nrm FROM e0),
        |bq AS (SELECT vec_id AS q_id, emb AS q_emb, nrm AS q_nrm FROM n WHERE vec_id < 5),
        |bs AS (
        |  SELECT q_id, n.vec_id,
        |    list_reduce(list_prepend(0.0, list_transform(range(1, len(q_emb)+1),
        |      i -> q_emb[i] * emb[i])), (x, y) -> x + y) / (q_nrm * nrm) AS score
        |  FROM bq, n WHERE n.vec_id <> bq.q_id),
        |br AS (SELECT q_id, vec_id FROM (
        |  SELECT q_id, vec_id, row_number() OVER (PARTITION BY q_id ORDER BY score DESC, vec_id) AS rn FROM bs) t
        |  WHERE rn <= 10),
        |ltb AS (
        |  SELECT vec_id, t,
        |    CAST(list_sum(list_transform(range(0, 4), b ->
        |      CASE WHEN list_reduce(list_prepend(0.0, list_transform(range(1, len(emb)+1),
        |          j -> emb[j] * CAST((1 + (t*4+b)*73 + (j-1)*179) * 2654435761 % 1024 - 512 AS DOUBLE))),
        |          (x, y) -> x + y) >= 0
        |      THEN CAST(floor(pow(2, b)) AS BIGINT) ELSE 0 END)) AS BIGINT) AS bkt
        |  FROM n, (SELECT unnest([0, 1, 2, 3, 4, 5, 6, 7]) AS t) tt),
        |lcand AS (SELECT DISTINCT q.vec_id AS q_id, c.vec_id AS vec_id
        |  FROM ltb q JOIN ltb c ON q.t = c.t AND q.bkt = c.bkt
        |  WHERE q.vec_id < 5 AND c.vec_id <> q.vec_id),
        |ls AS (SELECT q_id, lcand.vec_id,
        |    list_reduce(list_prepend(0.0, list_transform(range(1, len(qe.emb)+1),
        |      i -> qe.emb[i] * ce.emb[i])), (x, y) -> x + y) / (qe.nrm * ce.nrm) AS score
        |  FROM lcand
        |  JOIN n qe ON qe.vec_id = lcand.q_id
        |  JOIN n ce ON ce.vec_id = lcand.vec_id),
        |lr AS (SELECT q_id, vec_id FROM (
        |  SELECT q_id, vec_id, row_number() OVER (PARTITION BY q_id ORDER BY score DESC, vec_id) AS rn FROM ls) t
        |  WHERE rn <= 10),
        |ic AS (SELECT vec_id AS cent_id, emb AS cemb, nrm AS cnrm FROM n
        |       ORDER BY (vec_id * 2654435761) % 1000000007, vec_id LIMIT 16),
        |ia0 AS (SELECT n.vec_id, n.emb, n.nrm, ic.cent_id,
        |    list_reduce(list_prepend(0.0, list_transform(range(1, len(emb)+1),
        |      i -> emb[i] * cemb[i])), (x, y) -> x + y) / (nrm * cnrm) AS cscore
        |  FROM n CROSS JOIN ic),
        |iar AS (
        |  SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY cscore DESC, cent_id) AS arn FROM ia0),
        |ia AS (SELECT vec_id, emb, nrm, cent_id FROM iar WHERE arn = 1),
        |iq AS (SELECT vec_id AS q_id, emb AS q_emb, nrm AS q_nrm, cent_id
        |       FROM iar WHERE vec_id < 5 AND arn <= 2),
        |isc AS (SELECT q_id, ia.vec_id,
        |    list_reduce(list_prepend(0.0, list_transform(range(1, len(q_emb)+1),
        |      i -> q_emb[i] * emb[i])), (x, y) -> x + y) / (q_nrm * nrm) AS score
        |  FROM iq JOIN ia ON iq.cent_id = ia.cent_id AND ia.vec_id <> iq.q_id),
        |ir AS (SELECT q_id, vec_id FROM (
        |  SELECT q_id, vec_id, row_number() OVER (PARTITION BY q_id ORDER BY score DESC, vec_id) AS rn FROM isc) t
        |  WHERE rn <= 10),
        |tot AS (SELECT COUNT(*) AS possible FROM br),
        |ih AS (SELECT COUNT(*) AS hits FROM br WHERE EXISTS (
        |  SELECT 1 FROM ir WHERE ir.q_id = br.q_id AND ir.vec_id = br.vec_id)),
        |lh AS (SELECT COUNT(*) AS hits FROM br WHERE EXISTS (
        |  SELECT 1 FROM lr WHERE lr.q_id = br.q_id AND lr.vec_id = br.vec_id))
        |SELECT method, hits, possible, CAST(hits AS DOUBLE) / possible AS recall FROM (
        |  SELECT 'ivf' AS method, ih.hits AS hits, tot.possible AS possible FROM ih, tot
        |  UNION ALL
        |  SELECT 'lsh', lh.hits, tot.possible FROM lh, tot) u
        |ORDER BY method""".stripMargin,
    // int8 quantization: floor(x*127/scale + 0.5) round-half-up both
    // engines; float -> double widening is exact, so scales and codes match
    "sim_quantize_int8" ->
      """WITH e AS (
        |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
        |s AS (
        |  SELECT vec_id, emb,
        |    list_max(list_transform(emb, x -> abs(x))) AS scale
        |  FROM e)
        |SELECT vec_id, scale,
        |  array_to_string(list_transform(emb,
        |    x -> CAST(CAST(floor(x * 127.0 / scale + 0.5) AS BIGINT) AS VARCHAR)), ',') AS q_csv
        |FROM s WHERE scale > 0 ORDER BY vec_id""".stripMargin,
    // one integer-exact Lloyd step: IVF argmax assignment (same CTEs as
    // sim_ivf_ann), then per-(centroid, dim) BIGINT sums of the int8
    // codes — order-independent, so the mean estimate matches bitwise
    "sim_kmeans_step" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
        |n AS (SELECT vec_id, emb,
        |  sqrt(list_reduce(list_prepend(0.0, list_transform(range(1, len(emb)+1),
        |    i -> emb[i] * emb[i])), (x, y) -> x + y)) AS nrm FROM e),
        |c AS (SELECT vec_id AS cent_id, emb AS cemb, nrm AS cnrm
        |      FROM n ORDER BY (vec_id * 2654435761) % 1000000007, vec_id LIMIT 16),
        |a0 AS (
        |  SELECT n.vec_id, n.emb, c.cent_id,
        |    list_reduce(list_prepend(0.0, list_transform(range(1, len(emb)+1),
        |      i -> emb[i] * cemb[i])), (x, y) -> x + y) / (nrm * cnrm) AS cscore
        |  FROM n CROSS JOIN c),
        |ar AS (
        |  SELECT *, row_number() OVER (PARTITION BY vec_id
        |    ORDER BY cscore DESC, cent_id) AS arn FROM a0),
        |a AS (SELECT vec_id, emb, cent_id FROM ar WHERE arn = 1),
        |qv AS (SELECT cent_id, emb,
        |  list_max(list_transform(emb, x -> abs(x))) AS scale FROM a),
        |qq AS (
        |  SELECT cent_id, unnest(list_transform(range(0, len(emb)),
        |    i -> {'dim': i,
        |          'qc': CAST(floor(emb[i+1] * 127.0 / scale + 0.5) AS BIGINT)})) AS u
        |  FROM qv WHERE scale > 0)
        |SELECT cent_id, u.dim AS dim, COUNT(*) AS cnt,
        |  CAST(SUM(u.qc) AS BIGINT) AS qsum,
        |  CAST(SUM(u.qc) AS DOUBLE) / COUNT(*) AS qmean
        |FROM qq GROUP BY cent_id, u.dim
        |ORDER BY cent_id, dim""".stripMargin,
    // supervised cluster quality: same IVF assignment, majority label
    // per cluster (ties to the SMALLEST label), purity in floored bp
    "sim_cluster_purity" ->
      """WITH e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
        |n AS (SELECT vec_id, label, emb,
        |  sqrt(list_reduce(list_prepend(0.0, list_transform(range(1, len(emb)+1),
        |    i -> emb[i] * emb[i])), (x, y) -> x + y)) AS nrm FROM e),
        |c AS (SELECT vec_id AS cent_id, emb AS cemb, nrm AS cnrm
        |      FROM n ORDER BY (vec_id * 2654435761) % 1000000007, vec_id LIMIT 16),
        |a0 AS (
        |  SELECT n.vec_id, n.label, c.cent_id,
        |    list_reduce(list_prepend(0.0, list_transform(range(1, len(emb)+1),
        |      i -> emb[i] * cemb[i])), (x, y) -> x + y) / (nrm * cnrm) AS cscore
        |  FROM n CROSS JOIN c),
        |ar AS (
        |  SELECT *, row_number() OVER (PARTITION BY vec_id
        |    ORDER BY cscore DESC, cent_id) AS arn FROM a0),
        |a AS (SELECT vec_id, label, cent_id FROM ar WHERE arn = 1),
        |lc AS (SELECT cent_id, label, CAST(COUNT(*) AS BIGINT) AS c
        |       FROM a GROUP BY 1, 2),
        |r AS (SELECT cent_id, label, c,
        |    row_number() OVER (PARTITION BY cent_id ORDER BY c DESC, label) AS rn,
        |    SUM(c) OVER (PARTITION BY cent_id) AS n_vecs,
        |    COUNT(*) OVER (PARTITION BY cent_id) AS n_labels
        |  FROM lc)
        |SELECT cent_id, CAST(n_vecs AS BIGINT) AS n_vecs,
        |  CAST(n_labels AS BIGINT) AS n_labels, c AS top_n,
        |  label AS top_label,
        |  CAST(c * 10000 // n_vecs AS BIGINT) AS purity_bp
        |FROM r WHERE rn = 1 ORDER BY cent_id""".stripMargin,
    // centroid-based silhouette on int8 codes vs milli-scaled integer
    // centroids: same assignment CTEs as sim_kmeans_step, every distance
    // an exact BIGINT, signed s_milli truncates toward zero in BOTH
    // engines (DuckDB // and Spark DIV agree on negatives)
    "sim_silhouette" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
        |n AS (SELECT vec_id, emb,
        |  sqrt(list_reduce(list_prepend(0.0, list_transform(range(1, len(emb)+1),
        |    i -> emb[i] * emb[i])), (x, y) -> x + y)) AS nrm FROM e),
        |c AS (SELECT vec_id AS cent_id, emb AS cemb, nrm AS cnrm
        |      FROM n ORDER BY (vec_id * 2654435761) % 1000000007, vec_id LIMIT 16),
        |a0 AS (
        |  SELECT n.vec_id, n.emb, c.cent_id,
        |    list_reduce(list_prepend(0.0, list_transform(range(1, len(emb)+1),
        |      i -> emb[i] * cemb[i])), (x, y) -> x + y) / (nrm * cnrm) AS cscore
        |  FROM n CROSS JOIN c),
        |ar AS (
        |  SELECT *, row_number() OVER (PARTITION BY vec_id
        |    ORDER BY cscore DESC, cent_id) AS arn FROM a0),
        |a AS (SELECT vec_id, emb, cent_id FROM ar WHERE arn = 1),
        |qv AS (SELECT vec_id, cent_id, emb,
        |  list_max(list_transform(emb, x -> abs(x))) AS scale FROM a),
        |q AS (SELECT vec_id, cent_id,
        |  list_transform(emb,
        |    x -> CAST(floor(x * 127.0 / scale + 0.5) AS BIGINT)) AS q
        |  FROM qv WHERE scale > 0),
        |qq AS (
        |  SELECT cent_id, unnest(list_transform(range(0, len(q)),
        |    i -> {'dim': i, 'qc': q[i+1]})) AS u
        |  FROM q),
        |cd AS (SELECT cent_id, u.dim AS dim,
        |    CAST(SUM(u.qc) * 1000 // COUNT(*) AS BIGINT) AS cmilli
        |  FROM qq GROUP BY 1, 2),
        |cml AS (SELECT cent_id AS c_id, list(cmilli ORDER BY dim) AS cm
        |        FROM cd GROUP BY 1),
        |sc AS (
        |  SELECT q.vec_id, q.cent_id, cml.c_id,
        |    list_reduce(list_prepend(CAST(0 AS BIGINT),
        |      list_transform(range(1, len(q.q)+1),
        |        i -> (q.q[i]*1000 - cml.cm[i]) * (q.q[i]*1000 - cml.cm[i]))),
        |      (x, y) -> x + y) AS d2
        |  FROM q CROSS JOIN cml),
        |ab AS (SELECT vec_id, cent_id,
        |    MIN(CASE WHEN c_id = cent_id THEN d2 END) AS a,
        |    MIN(CASE WHEN c_id <> cent_id THEN d2 END) AS b
        |  FROM sc GROUP BY 1, 2),
        |s AS (SELECT vec_id, cent_id, a, b,
        |  (b - a) * 1000 // greatest(a, b, 1) AS s_milli FROM ab)
        |SELECT cent_id, COUNT(*) AS n_vecs,
        |  CAST(SUM(CASE WHEN b > a THEN 1 ELSE 0 END) AS BIGINT) AS n_well,
        |  CAST(SUM(s_milli) // COUNT(*) AS BIGINT) AS mean_sil_milli
        |FROM s GROUP BY cent_id ORDER BY cent_id""".stripMargin,
    // int8 MIPS serving: exact integer dot of the quantized vectors,
    // dequantized by both scale factors in the same expression order
    "sim_int8_topk" ->
      """WITH e AS (
        |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
        |s AS (
        |  SELECT vec_id, list_max(list_transform(emb, x -> abs(x))) AS scale, emb
        |  FROM e),
        |q8 AS (
        |  SELECT vec_id, scale,
        |    list_transform(emb, x -> floor(x * 127.0 / scale + 0.5)) AS q
        |  FROM s WHERE scale > 0),
        |qs AS (SELECT vec_id AS q_id, scale AS q_scale, q AS qq
        |  FROM q8 WHERE vec_id < 5),
        |sc AS (
        |  SELECT q_id, vec_id,
        |    list_reduce(list_prepend(0.0, list_transform(range(1, len(qq)+1),
        |      i -> qq[i] * q[i])), (x, y) -> x + y)
        |      * q_scale * scale / 16129.0 AS score
        |  FROM qs, q8 WHERE q8.vec_id <> qs.q_id),
        |r AS (SELECT q_id, vec_id, score,
        |    CAST(row_number() OVER (
        |      PARTITION BY q_id ORDER BY score DESC, vec_id) AS BIGINT) AS rn
        |  FROM sc)
        |SELECT q_id, vec_id, score, rn FROM r WHERE rn <= 10
        |ORDER BY q_id, rn""".stripMargin,
    // binary sign quantization: two 32-bit halves (no sign-bit traffic),
    // Hamming top-16 candidates, exact-cosine rerank to top-10
    "sim_binary_hamming" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
        |c AS (
        |  SELECT vec_id, emb,
        |    list_reduce(list_prepend(CAST(0 AS BIGINT), list_transform(range(1, 33),
        |      i -> CASE WHEN emb[i] > 0 THEN (CAST(1 AS BIGINT) << (i - 1))
        |           ELSE CAST(0 AS BIGINT) END)), (x, y) -> x + y) AS code_lo,
        |    list_reduce(list_prepend(CAST(0 AS BIGINT), list_transform(range(33, 65),
        |      i -> CASE WHEN emb[i] > 0 THEN (CAST(1 AS BIGINT) << (i - 33))
        |           ELSE CAST(0 AS BIGINT) END)), (x, y) -> x + y) AS code_hi
        |  FROM e),
        |q AS (SELECT vec_id AS q_id, emb AS q_emb, code_lo AS q_lo, code_hi AS q_hi
        |  FROM c WHERE vec_id < 5),
        |h AS (
        |  SELECT q_id, vec_id,
        |    CAST(bit_count(xor(code_lo, q_lo))
        |       + bit_count(xor(code_hi, q_hi)) AS BIGINT) AS hamming
        |  FROM q, c WHERE c.vec_id <> q.q_id),
        |cand AS (
        |  SELECT q_id, vec_id, hamming FROM (
        |    SELECT q_id, vec_id, hamming,
        |      row_number() OVER (PARTITION BY q_id ORDER BY hamming, vec_id) AS hrn
        |    FROM h) z WHERE hrn <= 16),
        |r AS (
        |  SELECT cand.q_id, cand.vec_id, cand.hamming,
        |    list_reduce(list_prepend(0.0, list_transform(range(1, len(q_emb)+1),
        |      i -> q_emb[i] * emb[i])), (x, y) -> x + y)
        |    / (sqrt(list_reduce(list_prepend(0.0, list_transform(range(1, len(q_emb)+1),
        |      i -> q_emb[i] * q_emb[i])), (x, y) -> x + y))
        |     * sqrt(list_reduce(list_prepend(0.0, list_transform(range(1, len(emb)+1),
        |      i -> emb[i] * emb[i])), (x, y) -> x + y))) AS score
        |  FROM cand JOIN q ON cand.q_id = q.q_id JOIN e ON cand.vec_id = e.vec_id)
        |SELECT q_id, vec_id, hamming, score, rn FROM (
        |  SELECT q_id, vec_id, hamming, score,
        |    CAST(row_number() OVER (
        |      PARTITION BY q_id ORDER BY score DESC, vec_id) AS BIGINT) AS rn
        |  FROM r) z WHERE rn <= 10
        |ORDER BY q_id, rn""".stripMargin,
    // product-quantization encode: 8 subspaces x 16 centroids over unit
    // vectors; codebook = the deterministic multiplicative-hash sample
    // re-indexed 0..15; code = argmax subspace inner product, ties low
    "sim_pq_codes" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
        |n AS (SELECT vec_id,
        |    list_transform(emb, x -> x / sqrt(list_reduce(list_prepend(0.0,
        |      list_transform(emb, y -> y * y)), (a, b) -> a + b))) AS u
        |  FROM e),
        |sub AS (SELECT vec_id, s, list_slice(u, s*8+1, s*8+8) AS vs
        |  FROM n, (SELECT unnest(range(0, 8)) AS s) g),
        |samp AS (SELECT u, c FROM (
        |    SELECT u, row_number() OVER (
        |      ORDER BY (vec_id * 2654435761) % 1000000007, vec_id) - 1 AS c
        |    FROM n) z WHERE c < 16),
        |csub AS (SELECT c, s, list_slice(u, s*8+1, s*8+8) AS cs
        |  FROM samp, (SELECT unnest(range(0, 8)) AS s) g),
        |scored AS (SELECT vec_id, sub.s, c,
        |    list_reduce(list_prepend(0.0, [vs[i] * cs[i] for i in range(1, 9)]),
        |      (x, y) -> x + y) AS d
        |  FROM sub JOIN csub ON sub.s = csub.s),
        |codes AS (SELECT vec_id, s, c FROM (
        |    SELECT vec_id, s, c, row_number() OVER (
        |      PARTITION BY vec_id, s ORDER BY d DESC, c) AS rn
        |    FROM scored) z WHERE rn = 1)
        |SELECT vec_id, string_agg(CAST(c AS VARCHAR), ',' ORDER BY s) AS codes_csv
        |FROM codes GROUP BY vec_id ORDER BY vec_id""".stripMargin,
    // residual quantizer: stage-1 argmax-dot over the hash-sampled unit
    // codebook, stage-2 argmin squared distance over the residuals of a
    // second hash sample; e1/e2 are same-order FP folds, bit-identical
    "sim_rq_codes" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
        |n AS (SELECT vec_id,
        |    list_transform(emb, x -> x / sqrt(list_reduce(list_prepend(0.0,
        |      list_transform(emb, y -> y * y)), (a, b) -> a + b))) AS u
        |  FROM e),
        |cb1 AS (SELECT u AS cu, c1 FROM (
        |    SELECT u, row_number() OVER (
        |      ORDER BY (vec_id * 2654435761) % 1000000007, vec_id) - 1 AS c1
        |    FROM n) z WHERE c1 < 16),
        |a0 AS (SELECT vec_id, u, c1, cu,
        |    list_reduce(list_prepend(0.0, [u[i] * cu[i] for i in range(1, 65)]),
        |      (x, y) -> x + y) AS s
        |  FROM n CROSS JOIN cb1),
        |a AS (SELECT vec_id, c1,
        |    [u[i] - cu[i] for i in range(1, 65)] AS r
        |  FROM (SELECT *, row_number() OVER (
        |      PARTITION BY vec_id ORDER BY s DESC, c1) AS rn FROM a0) z
        |  WHERE rn = 1),
        |cb2 AS (SELECT r AS q, c2 FROM (
        |    SELECT r, row_number() OVER (
        |      ORDER BY (vec_id * 2246822519) % 1000000007, vec_id) - 1 AS c2
        |    FROM a) z WHERE c2 < 16),
        |b0 AS (SELECT vec_id, c1, r, c2,
        |    list_reduce(list_prepend(0.0,
        |      [(r[i] - q[i]) * (r[i] - q[i]) for i in range(1, 65)]),
        |      (x, y) -> x + y) AS d2
        |  FROM a CROSS JOIN cb2)
        |SELECT vec_id, CAST(c1 AS BIGINT) AS c1, CAST(c2 AS BIGINT) AS c2,
        |  list_reduce(list_prepend(0.0, [r[i] * r[i] for i in range(1, 65)]),
        |    (x, y) -> x + y) AS e1,
        |  d2 AS e2
        |FROM (SELECT *, row_number() OVER (
        |    PARTITION BY vec_id ORDER BY d2, c2) AS rn FROM b0) z
        |WHERE rn = 1 ORDER BY vec_id""".stripMargin,
    // PQ-ADC recall@10 vs exact brute force: approx score = subspace-
    // ordered sum of the query's centroid inner products at the corpus
    // vector's codes; brute = the sim_brute_topk cosine on raw emb
    "sim_pq_recall" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
        |n AS (SELECT vec_id,
        |    list_transform(emb, x -> x / sqrt(list_reduce(list_prepend(0.0,
        |      list_transform(emb, y -> y * y)), (a, b) -> a + b))) AS u
        |  FROM e),
        |sub AS (SELECT vec_id, s, list_slice(u, s*8+1, s*8+8) AS vs
        |  FROM n, (SELECT unnest(range(0, 8)) AS s) g),
        |samp AS (SELECT u, c FROM (
        |    SELECT u, row_number() OVER (
        |      ORDER BY (vec_id * 2654435761) % 1000000007, vec_id) - 1 AS c
        |    FROM n) z WHERE c < 16),
        |csub AS (SELECT c, s, list_slice(u, s*8+1, s*8+8) AS cs
        |  FROM samp, (SELECT unnest(range(0, 8)) AS s) g),
        |scored AS (SELECT vec_id, sub.s, c,
        |    list_reduce(list_prepend(0.0, [vs[i] * cs[i] for i in range(1, 9)]),
        |      (x, y) -> x + y) AS d
        |  FROM sub JOIN csub ON sub.s = csub.s),
        |codes AS (SELECT vec_id, s, c FROM (
        |    SELECT vec_id, s, c, row_number() OVER (
        |      PARTITION BY vec_id, s ORDER BY d DESC, c) AS rn
        |    FROM scored) z WHERE rn = 1),
        |dt AS (SELECT vec_id AS q_id, s, c, d AS part FROM scored WHERE vec_id < 5),
        |parts AS (SELECT dt.q_id, codes.vec_id, codes.s, dt.part
        |  FROM codes JOIN dt ON codes.s = dt.s AND codes.c = dt.c
        |    AND codes.vec_id <> dt.q_id),
        |adc AS (SELECT q_id, vec_id,
        |    list_reduce(list_prepend(0.0, list(part ORDER BY s)), (x, y) -> x + y) AS score
        |  FROM parts GROUP BY q_id, vec_id),
        |r AS (SELECT q_id, vec_id,
        |    row_number() OVER (PARTITION BY q_id ORDER BY score DESC, vec_id) AS rn
        |  FROM adc),
        |pqt AS (SELECT q_id, vec_id FROM r WHERE rn <= 10),
        |q AS (SELECT vec_id AS q_id, emb AS q_emb FROM e WHERE vec_id < 5),
        |bs AS (
        |  SELECT q_id, vec_id,
        |    list_reduce(list_prepend(0.0, list_transform(range(1, len(q_emb)+1),
        |      i -> q_emb[i] * emb[i])), (x, y) -> x + y)
        |    / (sqrt(list_reduce(list_prepend(0.0, list_transform(range(1, len(q_emb)+1),
        |      i -> q_emb[i] * q_emb[i])), (x, y) -> x + y))
        |     * sqrt(list_reduce(list_prepend(0.0, list_transform(range(1, len(emb)+1),
        |      i -> emb[i] * emb[i])), (x, y) -> x + y))) AS score
        |  FROM q, e WHERE e.vec_id <> q.q_id),
        |br AS (SELECT q_id, vec_id,
        |    row_number() OVER (PARTITION BY q_id ORDER BY score DESC, vec_id) AS rn
        |  FROM bs),
        |bt AS (SELECT q_id, vec_id FROM br WHERE rn <= 10)
        |SELECT method, hits, possible, CAST(hits AS DOUBLE) / possible AS recall
        |FROM (SELECT 'pq' AS method,
        |  (SELECT COUNT(*) FROM bt JOIN pqt
        |     ON bt.q_id = pqt.q_id AND bt.vec_id = pqt.vec_id) AS hits,
        |  (SELECT COUNT(*) FROM bt) AS possible) z""".stripMargin,
    // IVFADC serving: coarse IVF assignment picks candidate lists
    // (nprobe=2), PQ asymmetric distance scores them — coarse cosine is
    // the flat sequential dot (as sim_ivf_ann), ADC the subspace-ordered
    // part sum (as sim_pq_recall)
    // IVFADC + exact rerank: ADC top-32 shortlist, full-precision rerank
    "sim_ivf_pq_rerank" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
        |n AS (SELECT vec_id, emb,
        |  sqrt(list_reduce(list_prepend(0.0, list_transform(range(1, len(emb)+1),
        |    i -> emb[i] * emb[i])), (x, y) -> x + y)) AS nrm FROM e),
        |c AS (SELECT vec_id AS cent_id, emb AS cemb, nrm AS cnrm
        |      FROM n ORDER BY (vec_id * 2654435761) % 1000000007, vec_id LIMIT 16),
        |a0 AS (
        |  SELECT n.vec_id, c.cent_id,
        |    list_reduce(list_prepend(0.0, list_transform(range(1, len(emb)+1),
        |      i -> emb[i] * cemb[i])), (x, y) -> x + y) / (nrm * cnrm) AS cscore
        |  FROM n CROSS JOIN c),
        |ar AS (
        |  SELECT *, row_number() OVER (PARTITION BY vec_id
        |    ORDER BY cscore DESC, cent_id) AS arn FROM a0),
        |a AS (SELECT vec_id, cent_id FROM ar WHERE arn = 1),
        |q AS (SELECT vec_id AS q_id, cent_id FROM ar WHERE vec_id < 5 AND arn <= 2),
        |nu AS (SELECT vec_id,
        |    list_transform(emb, x -> x / sqrt(list_reduce(list_prepend(0.0,
        |      list_transform(emb, y -> y * y)), (x2, y2) -> x2 + y2))) AS u
        |  FROM e),
        |sub AS (SELECT vec_id, s, list_slice(u, s*8+1, s*8+8) AS vs
        |  FROM nu, (SELECT unnest(range(0, 8)) AS s) g),
        |samp AS (SELECT u, cc FROM (
        |    SELECT u, row_number() OVER (
        |      ORDER BY (vec_id * 2654435761) % 1000000007, vec_id) - 1 AS cc
        |    FROM nu) z WHERE cc < 16),
        |csub AS (SELECT cc, s, list_slice(u, s*8+1, s*8+8) AS cs
        |  FROM samp, (SELECT unnest(range(0, 8)) AS s) g),
        |scored AS (SELECT vec_id, sub.s, cc,
        |    list_reduce(list_prepend(0.0, [vs[i] * cs[i] for i in range(1, 9)]),
        |      (x, y) -> x + y) AS d
        |  FROM sub JOIN csub ON sub.s = csub.s),
        |codes AS (SELECT vec_id, s, cc FROM (
        |    SELECT vec_id, s, cc, row_number() OVER (
        |      PARTITION BY vec_id, s ORDER BY d DESC, cc) AS rn
        |    FROM scored) z WHERE rn = 1),
        |dt AS (SELECT vec_id AS q_id, s, cc, d AS part FROM scored WHERE vec_id < 5),
        |cand AS (SELECT q.q_id, a.vec_id FROM q JOIN a
        |  ON q.cent_id = a.cent_id AND a.vec_id <> q.q_id),
        |parts AS (SELECT cand.q_id, cand.vec_id, codes.s, dt.part
        |  FROM cand
        |  JOIN codes ON codes.vec_id = cand.vec_id
        |  JOIN dt ON dt.q_id = cand.q_id AND dt.s = codes.s AND dt.cc = codes.cc),
        |adc AS (SELECT q_id, vec_id,
        |    list_reduce(list_prepend(0.0, list(part ORDER BY s)), (x, y) -> x + y) AS score
        |  FROM parts GROUP BY q_id, vec_id),
        |shortlist AS (SELECT q_id, vec_id, score AS adc_score FROM (
        |    SELECT q_id, vec_id, score,
        |      row_number() OVER (PARTITION BY q_id ORDER BY score DESC, vec_id) AS hrn
        |    FROM adc) z WHERE hrn <= 32),
        |qv AS (SELECT vec_id AS q_id, emb AS q_emb FROM e WHERE vec_id < 5),
        |rr AS (
        |  SELECT sl.q_id, sl.vec_id, sl.adc_score,
        |    list_reduce(list_prepend(0.0, list_transform(range(1, len(q_emb)+1),
        |      i -> q_emb[i] * e.emb[i])), (x, y) -> x + y)
        |    / (sqrt(list_reduce(list_prepend(0.0, list_transform(range(1, len(q_emb)+1),
        |      i -> q_emb[i] * q_emb[i])), (x, y) -> x + y))
        |     * sqrt(list_reduce(list_prepend(0.0, list_transform(range(1, len(e.emb)+1),
        |      i -> e.emb[i] * e.emb[i])), (x, y) -> x + y))) AS score
        |  FROM shortlist sl JOIN qv ON sl.q_id = qv.q_id JOIN e ON sl.vec_id = e.vec_id)
        |SELECT q_id, vec_id, adc_score, score, rn FROM (
        |  SELECT q_id, vec_id, adc_score, score,
        |    CAST(row_number() OVER (PARTITION BY q_id ORDER BY score DESC, vec_id) AS BIGINT) AS rn
        |  FROM rr) z WHERE rn <= 10
        |ORDER BY q_id, rn""".stripMargin,
    "sim_ivf_pq" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
        |n AS (SELECT vec_id, emb,
        |  sqrt(list_reduce(list_prepend(0.0, list_transform(range(1, len(emb)+1),
        |    i -> emb[i] * emb[i])), (x, y) -> x + y)) AS nrm FROM e),
        |c AS (SELECT vec_id AS cent_id, emb AS cemb, nrm AS cnrm
        |      FROM n ORDER BY (vec_id * 2654435761) % 1000000007, vec_id LIMIT 16),
        |a0 AS (
        |  SELECT n.vec_id, c.cent_id,
        |    list_reduce(list_prepend(0.0, list_transform(range(1, len(emb)+1),
        |      i -> emb[i] * cemb[i])), (x, y) -> x + y) / (nrm * cnrm) AS cscore
        |  FROM n CROSS JOIN c),
        |ar AS (
        |  SELECT *, row_number() OVER (PARTITION BY vec_id
        |    ORDER BY cscore DESC, cent_id) AS arn FROM a0),
        |a AS (SELECT vec_id, cent_id FROM ar WHERE arn = 1),
        |q AS (SELECT vec_id AS q_id, cent_id FROM ar WHERE vec_id < 5 AND arn <= 2),
        |nu AS (SELECT vec_id,
        |    list_transform(emb, x -> x / sqrt(list_reduce(list_prepend(0.0,
        |      list_transform(emb, y -> y * y)), (x2, y2) -> x2 + y2))) AS u
        |  FROM e),
        |sub AS (SELECT vec_id, s, list_slice(u, s*8+1, s*8+8) AS vs
        |  FROM nu, (SELECT unnest(range(0, 8)) AS s) g),
        |samp AS (SELECT u, cc FROM (
        |    SELECT u, row_number() OVER (
        |      ORDER BY (vec_id * 2654435761) % 1000000007, vec_id) - 1 AS cc
        |    FROM nu) z WHERE cc < 16),
        |csub AS (SELECT cc, s, list_slice(u, s*8+1, s*8+8) AS cs
        |  FROM samp, (SELECT unnest(range(0, 8)) AS s) g),
        |scored AS (SELECT vec_id, sub.s, cc,
        |    list_reduce(list_prepend(0.0, [vs[i] * cs[i] for i in range(1, 9)]),
        |      (x, y) -> x + y) AS d
        |  FROM sub JOIN csub ON sub.s = csub.s),
        |codes AS (SELECT vec_id, s, cc FROM (
        |    SELECT vec_id, s, cc, row_number() OVER (
        |      PARTITION BY vec_id, s ORDER BY d DESC, cc) AS rn
        |    FROM scored) z WHERE rn = 1),
        |dt AS (SELECT vec_id AS q_id, s, cc, d AS part FROM scored WHERE vec_id < 5),
        |cand AS (SELECT q.q_id, a.vec_id FROM q JOIN a
        |  ON q.cent_id = a.cent_id AND a.vec_id <> q.q_id),
        |parts AS (SELECT cand.q_id, cand.vec_id, codes.s, dt.part
        |  FROM cand
        |  JOIN codes ON codes.vec_id = cand.vec_id
        |  JOIN dt ON dt.q_id = cand.q_id AND dt.s = codes.s AND dt.cc = codes.cc),
        |adc AS (SELECT q_id, vec_id,
        |    list_reduce(list_prepend(0.0, list(part ORDER BY s)), (x, y) -> x + y) AS score
        |  FROM parts GROUP BY q_id, vec_id),
        |r AS (SELECT q_id, vec_id, score,
        |    CAST(row_number() OVER (PARTITION BY q_id ORDER BY score DESC, vec_id) AS BIGINT) AS rn
        |  FROM adc)
        |SELECT q_id, vec_id, score, rn FROM r WHERE rn <= 10
        |ORDER BY q_id, rn""".stripMargin,
    "mm_binary_stats" ->
      """WITH m AS (
        |  SELECT doc_id,
        |    CASE WHEN doc_id % 3 = 0 THEN 'image'
        |         WHEN doc_id % 3 = 1 THEN 'audio' ELSE 'video' END AS media_type,
        |    octet_length(encode(text)) AS n_bytes
        |  FROM documents)
        |SELECT media_type, COUNT(*) AS n,
        |  CAST(SUM(n_bytes) AS BIGINT) AS total_bytes,
        |  CAST(SUM(n_bytes) AS DOUBLE) / COUNT(*) AS avg_bytes
        |FROM m GROUP BY media_type ORDER BY media_type""".stripMargin,
    // mm_decode_features: rebuild all three byte-identical container
    // corpora (PNG / WAV / MP4), then parse each with the SAME byte
    // offsets / box walk the engine's mapPartitions decoder runs — one
    // uniform manifest row per payload, per-container fields NULL where
    // the format has no such field
    "mm_decode_features" ->
      """WITH png AS (
        |  SELECT doc_id,
        |    from_hex('89504E470D0A1A0A' || '0000000D' || '49484452'
        |      || lpad(to_hex(16 + doc_id % 2033), 8, '0')
        |      || lpad(to_hex(16 + (doc_id * 7) % 1017), 8, '0')
        |      || lpad(to_hex(([1,8,8,8,16])[CAST(doc_id % 5 + 1 AS INT)]), 2, '0')
        |      || lpad(to_hex(([0,0,2,3,6])[CAST(doc_id % 5 + 1 AS INT)]), 2, '0')
        |      || '000000' || 'DEADBEEF') || encode(text) AS payload
        |  FROM documents WHERE doc_id % 3 = 0),
        |png_h AS (SELECT doc_id, upper(hex(payload)) AS h,
        |            octet_length(payload) AS n FROM png),
        |wf AS (
        |  SELECT doc_id, text,
        |    1 + doc_id % 2 AS channels,
        |    ([8000,16000,22050,44100,48000])[CAST(doc_id % 5 + 1 AS INT)] AS rate,
        |    ([8,16,24])[CAST(doc_id % 3 + 1 AS INT)] AS bits,
        |    octet_length(encode(text)) AS data_size
        |  FROM documents WHERE doc_id % 3 = 1),
        |wg AS (
        |  SELECT doc_id, text, data_size,
        |    lpad(to_hex(data_size + 36), 8, '0') AS cs,
        |    lpad(to_hex(channels), 4, '0') AS ch,
        |    lpad(to_hex(rate), 8, '0') AS ra,
        |    lpad(to_hex(rate * channels * (bits // 8)), 8, '0') AS br,
        |    lpad(to_hex(channels * (bits // 8)), 4, '0') AS ba,
        |    lpad(to_hex(bits), 4, '0') AS bi,
        |    lpad(to_hex(data_size), 8, '0') AS ds
        |  FROM wf),
        |wav AS (
        |  SELECT doc_id,
        |    from_hex(upper('52494646'
        |      || substr(cs,7,2) || substr(cs,5,2) || substr(cs,3,2) || substr(cs,1,2)
        |      || '57415645' || '666D7420' || '10000000' || '0100'
        |      || substr(ch,3,2) || substr(ch,1,2)
        |      || substr(ra,7,2) || substr(ra,5,2) || substr(ra,3,2) || substr(ra,1,2)
        |      || substr(br,7,2) || substr(br,5,2) || substr(br,3,2) || substr(br,1,2)
        |      || substr(ba,3,2) || substr(ba,1,2)
        |      || substr(bi,3,2) || substr(bi,1,2)
        |      || '64617461'
        |      || substr(ds,7,2) || substr(ds,5,2) || substr(ds,3,2) || substr(ds,1,2)))
        |      || encode(text) AS payload
        |  FROM wg),
        |wav_h AS (SELECT doc_id, upper(hex(payload)) AS h,
        |            octet_length(payload) AS n FROM wav),
        |mf AS (
        |  SELECT doc_id, text, doc_id % 19 AS fl,
        |    ([600,1000,12288,44100,90000])[CAST(doc_id % 5 + 1 AS INT)] AS ts
        |  FROM documents WHERE doc_id % 3 = 2),
        |mg AS (SELECT doc_id, text, fl, ts,
        |        (doc_id * 37) % 100000 + ts AS dur FROM mf),
        |mp4 AS (SELECT doc_id,
        |  from_hex(upper('00000014' || '66747970' || '69736F6D' || '00000200' || '6D703431'
        |    || lpad(to_hex(fl + 8), 8, '0') || '66726565'
        |    || repeat('41', CAST(fl AS INT))
        |    || '00000074' || '6D6F6F76'
        |    || '0000006C' || '6D766864' || '00000000'
        |    || '00000000' || '00000000'
        |    || lpad(to_hex(ts), 8, '0') || lpad(to_hex(dur), 8, '0')
        |    || '00010000' || '0100' || '0000'
        |    || '0000000000000000'
        |    || '00010000' || '00000000' || '00000000'
        |    || '00000000' || '00010000' || '00000000'
        |    || '00000000' || '00000000' || '40000000'
        |    || '000000000000000000000000' || '000000000000000000000000'
        |    || '00000002'
        |    || lpad(to_hex(octet_length(encode(text)) + 8), 8, '0') || '6D646174'))
        |    || encode(text) AS payload
        |  FROM mg),
        |mp4_h AS (SELECT doc_id, upper(hex(payload)) AS h,
        |            octet_length(payload) AS n FROM mp4),
        |w0 AS (SELECT *, CAST(1 AS BIGINT) AS off0 FROM mp4_h),
        |w1 AS (SELECT *, off0 + ('0x' || substr(h, CAST((off0-1)*2+1 AS INT), 8))::BIGINT AS off1 FROM w0),
        |w2 AS (SELECT *, off1 + ('0x' || substr(h, CAST((off1-1)*2+1 AS INT), 8))::BIGINT AS off2 FROM w1),
        |w3 AS (SELECT *, off2 + ('0x' || substr(h, CAST((off2-1)*2+1 AS INT), 8))::BIGINT AS off3 FROM w2),
        |ms AS (SELECT *,
        |  CASE WHEN substr(h, CAST((off0+3)*2+1 AS INT), 8) = '6D6F6F76' THEN off0
        |       WHEN substr(h, CAST((off1+3)*2+1 AS INT), 8) = '6D6F6F76' THEN off1
        |       WHEN substr(h, CAST((off2+3)*2+1 AS INT), 8) = '6D6F6F76' THEN off2
        |       WHEN substr(h, CAST((off3+3)*2+1 AS INT), 8) = '6D6F6F76' THEN off3 END AS moov_off
        |  FROM w3),
        |mt AS (SELECT doc_id, n,
        |  ('0x' || substr(h, CAST((moov_off+27)*2+1 AS INT), 8))::BIGINT AS timescale,
        |  ('0x' || substr(h, CAST((moov_off+31)*2+1 AS INT), 8))::BIGINT AS duration
        |  FROM ms)
        |SELECT doc_id, 'png' AS container,
        |  ('0x' || substr(h, 33, 8))::BIGINT AS width,
        |  ('0x' || substr(h, 41, 8))::BIGINT AS height,
        |  CAST(NULL AS BIGINT) AS sample_rate,
        |  CAST(NULL AS BIGINT) AS duration_ms,
        |  CAST(n AS BIGINT) AS n_bytes
        |FROM png_h
        |UNION ALL
        |SELECT doc_id, 'wav' AS container,
        |  CAST(NULL AS BIGINT) AS width, CAST(NULL AS BIGINT) AS height,
        |  ('0x' || substr(h,55,2) || substr(h,53,2) || substr(h,51,2) || substr(h,49,2))::BIGINT AS sample_rate,
        |  ('0x' || substr(h,87,2) || substr(h,85,2) || substr(h,83,2) || substr(h,81,2))::BIGINT * 1000
        |    // ('0x' || substr(h,63,2) || substr(h,61,2) || substr(h,59,2) || substr(h,57,2))::BIGINT AS duration_ms,
        |  CAST(n AS BIGINT) AS n_bytes
        |FROM wav_h
        |UNION ALL
        |SELECT doc_id, 'mp4' AS container,
        |  CAST(NULL AS BIGINT) AS width, CAST(NULL AS BIGINT) AS height,
        |  CAST(NULL AS BIGINT) AS sample_rate,
        |  (duration * 1000) // timescale AS duration_ms,
        |  CAST(n AS BIGINT) AS n_bytes
        |FROM mt
        |ORDER BY doc_id""".stripMargin,
    // mm_png_ihdr: rebuild the byte-identical PNG blobs, then parse
    // them with the SAME byte offsets in hex-string space — the oracle
    // decodes the container, it does not shortcut via the generation
    // formula
    "mm_png_ihdr" ->
      """WITH m AS (
        |  SELECT doc_id,
        |    from_hex('89504E470D0A1A0A' || '0000000D' || '49484452'
        |      || lpad(to_hex(16 + doc_id % 2033), 8, '0')
        |      || lpad(to_hex(16 + (doc_id * 7) % 1017), 8, '0')
        |      || lpad(to_hex(([1,8,8,8,16])[CAST(doc_id % 5 + 1 AS INT)]), 2, '0')
        |      || lpad(to_hex(([0,0,2,3,6])[CAST(doc_id % 5 + 1 AS INT)]), 2, '0')
        |      || '000000' || 'DEADBEEF') || encode(text) AS payload
        |  FROM documents WHERE doc_id % 3 = 0),
        |hx AS (SELECT doc_id, upper(hex(payload)) AS h,
        |         octet_length(payload) AS n FROM m)
        |SELECT doc_id,
        |  substr(h, 1, 16) = '89504E470D0A1A0A' AS sig_ok,
        |  substr(h, 25, 8) = '49484452' AS ihdr_ok,
        |  ('0x' || substr(h, 17, 8))::BIGINT AS ihdr_len,
        |  ('0x' || substr(h, 33, 8))::BIGINT AS width,
        |  ('0x' || substr(h, 41, 8))::BIGINT AS height,
        |  ('0x' || substr(h, 49, 2))::BIGINT AS bit_depth,
        |  ('0x' || substr(h, 51, 2))::BIGINT AS color_type,
        |  CAST(n - 33 AS BIGINT) AS n_body_bytes
        |FROM hx ORDER BY doc_id""".stripMargin,
    // mm_wav_header: rebuild the byte-identical 44-byte PCM WAV
    // headers (little-endian fields synthesized by byte-swapping the
    // big-endian hex), then parse them back at the SAME fixed byte
    // offsets — duration derives from the PARSED byte-rate and data
    // size, never the generation formulas
    "mm_wav_header" ->
      """WITH f AS (
        |  SELECT doc_id, text,
        |    1 + doc_id % 2 AS channels,
        |    ([8000,16000,22050,44100,48000])[CAST(doc_id % 5 + 1 AS INT)] AS rate,
        |    ([8,16,24])[CAST(doc_id % 3 + 1 AS INT)] AS bits,
        |    octet_length(encode(text)) AS data_size
        |  FROM documents WHERE doc_id % 3 = 1),
        |g AS (
        |  SELECT doc_id, text, data_size,
        |    lpad(to_hex(data_size + 36), 8, '0') AS cs,
        |    lpad(to_hex(channels), 4, '0') AS ch,
        |    lpad(to_hex(rate), 8, '0') AS ra,
        |    lpad(to_hex(rate * channels * (bits // 8)), 8, '0') AS br,
        |    lpad(to_hex(channels * (bits // 8)), 4, '0') AS ba,
        |    lpad(to_hex(bits), 4, '0') AS bi,
        |    lpad(to_hex(data_size), 8, '0') AS ds
        |  FROM f),
        |m AS (
        |  SELECT doc_id,
        |    from_hex(upper('52494646'
        |      || substr(cs,7,2) || substr(cs,5,2) || substr(cs,3,2) || substr(cs,1,2)
        |      || '57415645' || '666D7420' || '10000000' || '0100'
        |      || substr(ch,3,2) || substr(ch,1,2)
        |      || substr(ra,7,2) || substr(ra,5,2) || substr(ra,3,2) || substr(ra,1,2)
        |      || substr(br,7,2) || substr(br,5,2) || substr(br,3,2) || substr(br,1,2)
        |      || substr(ba,3,2) || substr(ba,1,2)
        |      || substr(bi,3,2) || substr(bi,1,2)
        |      || '64617461'
        |      || substr(ds,7,2) || substr(ds,5,2) || substr(ds,3,2) || substr(ds,1,2)))
        |      || encode(text) AS payload
        |  FROM g),
        |p AS (SELECT doc_id, upper(hex(payload)) AS h FROM m)
        |SELECT doc_id,
        |  substr(h, 1, 8) = '52494646' AS riff_ok,
        |  substr(h, 17, 8) = '57415645' AS wave_ok,
        |  substr(h, 73, 8) = '64617461' AS data_ok,
        |  ('0x' || substr(h,43,2) || substr(h,41,2))::BIGINT = 1 AS pcm_ok,
        |  ('0x' || substr(h,47,2) || substr(h,45,2))::BIGINT AS channels,
        |  ('0x' || substr(h,55,2) || substr(h,53,2) || substr(h,51,2) || substr(h,49,2))::BIGINT AS sample_rate,
        |  ('0x' || substr(h,63,2) || substr(h,61,2) || substr(h,59,2) || substr(h,57,2))::BIGINT AS byte_rate,
        |  ('0x' || substr(h,67,2) || substr(h,65,2))::BIGINT AS block_align,
        |  ('0x' || substr(h,71,2) || substr(h,69,2))::BIGINT AS bits_per_sample,
        |  ('0x' || substr(h,87,2) || substr(h,85,2) || substr(h,83,2) || substr(h,81,2))::BIGINT AS data_size,
        |  ('0x' || substr(h,87,2) || substr(h,85,2) || substr(h,83,2) || substr(h,81,2))::BIGINT * 1000
        |    // ('0x' || substr(h,63,2) || substr(h,61,2) || substr(h,59,2) || substr(h,57,2))::BIGINT AS duration_ms
        |FROM p ORDER BY doc_id""".stripMargin,
    // mm_jpeg_sof: rebuild the byte-identical JFIF blobs, then run the
    // SAME bounded segment walk — each hop's offset comes from the
    // length field just parsed, so the oracle proves the data-dependent
    // scan, not an offset table
    "mm_jpeg_sof" ->
      """WITH j AS (
        |  SELECT doc_id,
        |    from_hex(upper('FFD8'
        |      || 'FFE00010' || '4A46494600' || '0101' || '00' || '0001' || '0001' || '0000'
        |      || 'FFFE' || lpad(to_hex(doc_id % 23 + 2), 4, '0')
        |      || repeat('41', CAST(doc_id % 23 AS INT))
        |      || 'FFE1' || lpad(to_hex((doc_id * 7) % 17 + 2), 4, '0')
        |      || repeat('58', CAST((doc_id * 7) % 17 AS INT))
        |      || 'FFC0' || '0011' || '08'
        |      || lpad(to_hex(16 + (doc_id * 11) % 2021), 4, '0')
        |      || lpad(to_hex(16 + (doc_id * 3) % 1999), 4, '0')
        |      || '03' || '012200' || '021101' || '031101'))
        |      || encode(text) AS payload
        |  FROM documents WHERE doc_id % 3 = 0),
        |hx AS (SELECT doc_id, upper(hex(payload)) AS h FROM j),
        |w0 AS (SELECT *, CAST(3 AS BIGINT) AS off0 FROM hx),
        |w1 AS (SELECT *, substr(h, CAST((off0-1)*2+1 AS INT), 4) AS m0,
        |         off0 + 2 + ('0x' || substr(h, CAST((off0+1)*2+1 AS INT), 4))::BIGINT AS off1 FROM w0),
        |w2 AS (SELECT *, substr(h, CAST((off1-1)*2+1 AS INT), 4) AS m1,
        |         off1 + 2 + ('0x' || substr(h, CAST((off1+1)*2+1 AS INT), 4))::BIGINT AS off2 FROM w1),
        |w3 AS (SELECT *, substr(h, CAST((off2-1)*2+1 AS INT), 4) AS m2,
        |         off2 + 2 + ('0x' || substr(h, CAST((off2+1)*2+1 AS INT), 4))::BIGINT AS off3 FROM w2),
        |w4 AS (SELECT *, substr(h, CAST((off3-1)*2+1 AS INT), 4) AS m3 FROM w3),
        |s AS (SELECT *,
        |  CASE WHEN m0 IN ('FFC0','FFC1','FFC2','FFC3') THEN off0
        |       WHEN m1 IN ('FFC0','FFC1','FFC2','FFC3') THEN off1
        |       WHEN m2 IN ('FFC0','FFC1','FFC2','FFC3') THEN off2
        |       WHEN m3 IN ('FFC0','FFC1','FFC2','FFC3') THEN off3 END AS sof_off,
        |  CASE WHEN m0 IN ('FFC0','FFC1','FFC2','FFC3') THEN CAST(0 AS BIGINT)
        |       WHEN m1 IN ('FFC0','FFC1','FFC2','FFC3') THEN 1
        |       WHEN m2 IN ('FFC0','FFC1','FFC2','FFC3') THEN 2
        |       WHEN m3 IN ('FFC0','FFC1','FFC2','FFC3') THEN 3 END AS n_segments_skipped
        |  FROM w4)
        |SELECT doc_id,
        |  substr(h, 1, 4) = 'FFD8' AS soi_ok,
        |  sof_off IS NOT NULL AS sof_found,
        |  n_segments_skipped,
        |  sof_off,
        |  substr(h, CAST((sof_off-1)*2+1 AS INT), 4) AS sof_marker,
        |  ('0x' || substr(h, CAST((sof_off+3)*2+1 AS INT), 2))::BIGINT AS precision,
        |  ('0x' || substr(h, CAST((sof_off+4)*2+1 AS INT), 4))::BIGINT AS height,
        |  ('0x' || substr(h, CAST((sof_off+6)*2+1 AS INT), 4))::BIGINT AS width,
        |  ('0x' || substr(h, CAST((sof_off+8)*2+1 AS INT), 2))::BIGINT AS n_components
        |FROM s ORDER BY doc_id""".stripMargin,
    // mm_wav_pcm_stats: rebuild the byte-identical PCM blobs (md5-block
    // bodies), decode the 64 LE s16 samples with the SAME byte slices,
    // and fold the SAME integer features over the decoded list
    "mm_wav_pcm_stats" ->
      """WITH f AS (
        |  SELECT doc_id, text,
        |    ([8000,16000,22050,44100,48000])[CAST(doc_id % 5 + 1 AS INT)] AS rate
        |  FROM documents WHERE doc_id % 3 = 1),
        |g AS (
        |  SELECT doc_id,
        |    lpad(to_hex(rate), 8, '0') AS ra,
        |    lpad(to_hex(rate * 2), 8, '0') AS br,
        |    md5(text || '0') || md5(text || '1') || md5(text || '2')
        |      || md5(text || '3') || md5(text || '4') || md5(text || '5')
        |      || md5(text || '6') || md5(text || '7') AS bodyhex
        |  FROM f),
        |m AS (
        |  SELECT doc_id,
        |    from_hex(upper('52494646' || 'A4000000' || '57415645666D7420'
        |      || '10000000' || '0100' || '0100'
        |      || substr(ra,7,2) || substr(ra,5,2) || substr(ra,3,2) || substr(ra,1,2)
        |      || substr(br,7,2) || substr(br,5,2) || substr(br,3,2) || substr(br,1,2)
        |      || '0200' || '1000' || '64617461' || '80000000'
        |      || bodyhex)) AS payload
        |  FROM g),
        |p AS (SELECT doc_id, upper(hex(payload)) AS h FROM m),
        |r AS (SELECT doc_id, h,
        |  list_transform(range(0, 64), i ->
        |    ('0x' || substr(h, CAST((44 + 2*i)*2 + 1 AS INT), 2))::BIGINT
        |    + 256 * ('0x' || substr(h, CAST((45 + 2*i)*2 + 1 AS INT), 2))::BIGINT) AS raw
        |  FROM p),
        |t AS (SELECT doc_id, h,
        |  list_transform(raw, v -> CASE WHEN v >= 32768 THEN v - 65536 ELSE v END) AS s
        |  FROM r)
        |SELECT doc_id,
        |  ('0x' || substr(h,55,2) || substr(h,53,2) || substr(h,51,2) || substr(h,49,2))::BIGINT AS sample_rate,
        |  CAST(list_sum(list_transform(s, x -> abs(x))) AS BIGINT) AS sum_abs,
        |  CAST(list_max(list_transform(s, x -> abs(x))) AS BIGINT) AS peak_abs,
        |  CAST(list_sum(s) AS BIGINT) AS dc_sum,
        |  CAST(list_sum(list_transform(s, x -> x * x)) AS BIGINT) AS energy_sq,
        |  CAST(list_sum(list_transform(range(1, 64), i ->
        |    CASE WHEN (s[CAST(i + 1 AS INT)] >= 0) <> (s[CAST(i AS INT)] >= 0)
        |         THEN 1 ELSE 0 END)) AS BIGINT) AS zero_crossings
        |FROM t ORDER BY doc_id""".stripMargin,
    // mm_mp4_boxes: rebuild the byte-identical ISO BMFF blobs, then run
    // the SAME size-field box walk — moov/mdat located by TYPE at
    // data-dependent offsets, mvhd geometry parsed from inside moov,
    // structural end == payload length verified
    "mm_mp4_boxes" ->
      """WITH f AS (
        |  SELECT doc_id, text, doc_id % 19 AS fl,
        |    ([600,1000,12288,44100,90000])[CAST(doc_id % 5 + 1 AS INT)] AS ts
        |  FROM documents WHERE doc_id % 3 = 2),
        |g AS (SELECT doc_id, text, fl, ts,
        |        (doc_id * 37) % 100000 + ts AS dur FROM f),
        |m AS (SELECT doc_id,
        |  from_hex(upper('00000014' || '66747970' || '69736F6D' || '00000200' || '6D703431'
        |    || lpad(to_hex(fl + 8), 8, '0') || '66726565'
        |    || repeat('41', CAST(fl AS INT))
        |    || '00000074' || '6D6F6F76'
        |    || '0000006C' || '6D766864' || '00000000'
        |    || '00000000' || '00000000'
        |    || lpad(to_hex(ts), 8, '0') || lpad(to_hex(dur), 8, '0')
        |    || '00010000' || '0100' || '0000'
        |    || '0000000000000000'
        |    || '00010000' || '00000000' || '00000000'
        |    || '00000000' || '00010000' || '00000000'
        |    || '00000000' || '00000000' || '40000000'
        |    || '000000000000000000000000' || '000000000000000000000000'
        |    || '00000002'
        |    || lpad(to_hex(octet_length(encode(text)) + 8), 8, '0') || '6D646174'))
        |    || encode(text) AS payload
        |  FROM g),
        |p AS (SELECT doc_id, upper(hex(payload)) AS h,
        |        octet_length(payload) AS n FROM m),
        |w0 AS (SELECT *, CAST(1 AS BIGINT) AS off0 FROM p),
        |w1 AS (SELECT *, off0 + ('0x' || substr(h, CAST((off0-1)*2+1 AS INT), 8))::BIGINT AS off1 FROM w0),
        |w2 AS (SELECT *, off1 + ('0x' || substr(h, CAST((off1-1)*2+1 AS INT), 8))::BIGINT AS off2 FROM w1),
        |w3 AS (SELECT *, off2 + ('0x' || substr(h, CAST((off2-1)*2+1 AS INT), 8))::BIGINT AS off3 FROM w2),
        |w4 AS (SELECT *, off3 + ('0x' || substr(h, CAST((off3-1)*2+1 AS INT), 8))::BIGINT AS end4 FROM w3),
        |s AS (SELECT *,
        |  CASE WHEN substr(h, CAST((off0+3)*2+1 AS INT), 8) = '6D6F6F76' THEN off0
        |       WHEN substr(h, CAST((off1+3)*2+1 AS INT), 8) = '6D6F6F76' THEN off1
        |       WHEN substr(h, CAST((off2+3)*2+1 AS INT), 8) = '6D6F6F76' THEN off2
        |       WHEN substr(h, CAST((off3+3)*2+1 AS INT), 8) = '6D6F6F76' THEN off3 END AS moov_off,
        |  CASE WHEN substr(h, CAST((off0+3)*2+1 AS INT), 8) = '6D646174' THEN off0
        |       WHEN substr(h, CAST((off1+3)*2+1 AS INT), 8) = '6D646174' THEN off1
        |       WHEN substr(h, CAST((off2+3)*2+1 AS INT), 8) = '6D646174' THEN off2
        |       WHEN substr(h, CAST((off3+3)*2+1 AS INT), 8) = '6D646174' THEN off3 END AS mdat_off
        |  FROM w4),
        |t AS (SELECT doc_id, h, n, end4, moov_off, mdat_off,
        |  ('0x' || substr(h, CAST((moov_off+27)*2+1 AS INT), 8))::BIGINT AS timescale,
        |  ('0x' || substr(h, CAST((moov_off+31)*2+1 AS INT), 8))::BIGINT AS duration
        |  FROM s)
        |SELECT doc_id,
        |  substr(h, 9, 8) = '66747970' AS ftyp_ok,
        |  decode(from_hex(substr(h, 17, 8))) AS major_brand,
        |  end4 - 1 = n AS sizes_ok,
        |  moov_off,
        |  substr(h, CAST((moov_off+11)*2+1 AS INT), 8) = '6D766864' AS mvhd_ok,
        |  timescale, duration,
        |  ('0x' || substr(h, CAST((mdat_off-1)*2+1 AS INT), 8))::BIGINT - 8 AS n_media_bytes,
        |  (duration * 1000) // timescale AS duration_ms
        |FROM t ORDER BY doc_id""".stripMargin,
    // GIF89a decode: LE u16 geometry + the bit-packed flags byte split
    // by div-mod (identical arithmetic both engines)
    "mm_gif_header" ->
      """WITH m AS (
        |  SELECT doc_id,
        |    from_hex('474946383961'
        |      || substr(lpad(to_hex(16 + doc_id % 1009), 4, '0'), 3, 2)
        |      || substr(lpad(to_hex(16 + doc_id % 1009), 4, '0'), 1, 2)
        |      || substr(lpad(to_hex(16 + (doc_id * 13) % 997), 4, '0'), 3, 2)
        |      || substr(lpad(to_hex(16 + (doc_id * 13) % 997), 4, '0'), 1, 2)
        |      || lpad(to_hex(128 + (doc_id % 8) * 16 + doc_id % 7), 2, '0')
        |      || lpad(to_hex(doc_id % 256), 2, '0')
        |      || '00') || encode(text) AS payload
        |  FROM documents WHERE doc_id % 3 = 0),
        |hx AS (SELECT doc_id, upper(hex(payload)) AS h,
        |         octet_length(payload) AS n FROM m)
        |SELECT doc_id,
        |  substr(h, 1, 12) = '474946383961' AS sig_ok,
        |  ('0x' || substr(h, 15, 2) || substr(h, 13, 2))::BIGINT AS width,
        |  ('0x' || substr(h, 19, 2) || substr(h, 17, 2))::BIGINT AS height,
        |  CAST(('0x' || substr(h, 21, 2))::BIGINT // 128 AS BIGINT) AS gct_flag,
        |  CAST((('0x' || substr(h, 21, 2))::BIGINT // 16) % 8 AS BIGINT) AS color_res,
        |  CAST(('0x' || substr(h, 21, 2))::BIGINT % 8 AS BIGINT) AS gct_size_exp,
        |  ('0x' || substr(h, 23, 2))::BIGINT AS bg_color_idx,
        |  CAST(n - 13 AS BIGINT) AS n_body_bytes
        |FROM hx ORDER BY doc_id""".stripMargin,
    // 2D patchify: 4x4 tiles over the 16-byte-wide grid; strided gathers
    // perceptual dHash near-dup: 56-bit neighbor-comparison signature
    // over 64 proportionally-sampled payload bytes, 4x14-bit banding,
    // hamming verify — planted exact copies land at hamming 0
    // mm_wav_fp_pairs: the audio twin — rebuild the byte-identical
    // RIFF/WAVE blobs over the dedup-seeded corpus with MIXED PCM
    // GEOMETRY (length(text) mod 4 selects channels/bits, the r13
    // verdict's open arm: mono/stereo x 8/16-bit all present in the
    // registered corpus), then parse channels (byte 22) and bit depth
    // (byte 34) back out of the blob hex (LE16 — the oracle decodes
    // the container, it does not shortcut via the generation formula),
    // derive block align and the frame count, then the same integer
    // energy-contour fingerprint the native wav_fp56 computes: 57
    // windows anchored at (2w+1)·nS DIV 114, each the Σ of 4
    // consecutive FIRST-CHANNEL sample magnitudes (8-bit: |b-128|;
    // 16-bit: sign-folded |int16 LE|), 56 neighbor-comparison bits,
    // 4×14 banding at the exhaustive hamming-3 bound. A 0-frame
    // payload (ns = 0, a sub-block-align body) takes the byte-sampler
    // fallback branch exactly as the native wav_fp56 does — the
    // contour arm divides by greatest(1, ns) only so the untaken
    // branch can't raise
    // mm_dhash_inflate_pairs: the full-codec tier over the MIXED
    // corpus (every 3rd container png_deflate — real Huffman zlib +
    // per-row filters 0-4; the rest png_stored). DuckDB cannot
    // inflate, so this oracle replays the DECODED RASTER domain both
    // generators share (content cycled over w*h*3 RGB bytes, geometry
    // from content length): luma grid straight off the raster hex —
    // off = py*rowpx + gx*3, no filter bytes, no container framing.
    // The engine must RECOVER exactly that raster from real containers
    // (Inflater + unfilter for the deflate rows, the integer walk for
    // stored rows) or the hashes — and the pair set — diverge; the
    // spec additionally pins both decodes against ImageIO.
    "mm_dhash_inflate_pairs" ->
      """WITH corpus AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 100000, text FROM documents WHERE doc_id % 10 = 0
        |  UNION ALL
        |  SELECT doc_id + 200000, 'extra words added ' || text FROM documents WHERE doc_id % 10 = 5),
        |g0 AS (SELECT doc_id, text,
        |  8 + length(text) % 9 AS w0, 8 + (length(text) * 7) % 9 AS h0 FROM corpus),
        |g1 AS (SELECT doc_id, text, w0, h0, 3 * w0 AS rowpx, h0 * 3 * w0 AS need FROM g0),
        |ras AS (SELECT doc_id, w0, h0, rowpx,
        |  substr(repeat(upper(hex(encode(text))),
        |    CAST(need // length(text) + 1 AS INT)), 1, CAST(need * 2 AS INT)) AS rhex FROM g1),
        |lum AS (SELECT doc_id,
        |  list_transform(
        |    list_transform(range(0, 64), g ->
        |      (((2 * (g // 8) + 1) * h0) // 16) * rowpx + (((2 * (g % 8) + 1) * w0) // 16) * 3),
        |    o -> (299 * ('0x' || substr(rhex, CAST(o * 2 + 1 AS INT), 2))::BIGINT
        |        + 587 * ('0x' || substr(rhex, CAST((o + 1) * 2 + 1 AS INT), 2))::BIGINT
        |        + 114 * ('0x' || substr(rhex, CAST((o + 2) * 2 + 1 AS INT), 2))::BIGINT) // 1000) AS luma
        |  FROM ras),
        |h AS (SELECT doc_id,
        |  list_reduce(list_prepend(CAST(0 AS BIGINT),
        |    list_transform(range(0, 56), b ->
        |      CASE WHEN luma[CAST((b // 7) * 8 + (b % 7) + 2 AS INT)]
        |             > luma[CAST((b // 7) * 8 + (b % 7) + 1 AS INT)]
        |      THEN (CAST(1 AS BIGINT) << b) ELSE CAST(0 AS BIGINT) END)),
        |    (a, x) -> a + x) AS dhash FROM lum),
        |bnd AS (
        |  SELECT doc_id, dhash, band, (dhash >> (band * 14)) & 16383 AS bv
        |  FROM h CROSS JOIN (SELECT unnest([0, 1, 2, 3]) AS band)),
        |cand AS (
        |  SELECT DISTINCT a.doc_id AS doc_a, b2.doc_id AS doc_b,
        |    a.dhash AS ha, b2.dhash AS hb
        |  FROM bnd a JOIN bnd b2 ON a.band = b2.band AND a.bv = b2.bv
        |    AND a.doc_id < b2.doc_id)
        |SELECT doc_a, doc_b, CAST(bit_count(xor(ha, hb)) AS BIGINT) AS hamming
        |FROM cand WHERE bit_count(xor(ha, hb)) <= 3 ORDER BY doc_a, doc_b""".stripMargin,
    "mm_wav_fp_pairs" ->
      """WITH corpus AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 100000, text FROM documents WHERE doc_id % 10 = 0
        |  UNION ALL
        |  SELECT doc_id + 200000, 'extra words added ' || text FROM documents WHERE doc_id % 10 = 5),
        |g AS (SELECT doc_id, text,
        |  lpad(to_hex(length(text) + 36), 8, '0') AS cs,
        |  lpad(to_hex(length(text)), 8, '0') AS ds FROM corpus),
        |gp AS (SELECT doc_id, text, cs, ds,
        |  CASE WHEN length(text) % 4 IN (0, 1) THEN 1 ELSE 2 END AS gch,
        |  CASE WHEN length(text) % 4 IN (0, 2) THEN 8 ELSE 16 END AS gbits FROM g),
        |gp2 AS (SELECT doc_id, text, cs, ds, gch, gbits,
        |  gch * (gbits // 8) AS gba,
        |  lpad(to_hex(8000 * gch * (gbits // 8)), 8, '0') AS br FROM gp),
        |m AS (SELECT doc_id,
        |  upper('52494646'
        |    || substr(cs,7,2) || substr(cs,5,2) || substr(cs,3,2) || substr(cs,1,2)
        |    || '57415645' || '666D7420' || '10000000' || '0100'
        |    || lpad(to_hex(gch), 2, '0') || '00'
        |    || '401F0000'
        |    || substr(br,7,2) || substr(br,5,2) || substr(br,3,2) || substr(br,1,2)
        |    || lpad(to_hex(gba), 2, '0') || '00'
        |    || lpad(to_hex(gbits), 2, '0') || '00'
        |    || '64617461'
        |    || substr(ds,7,2) || substr(ds,5,2) || substr(ds,3,2) || substr(ds,1,2))
        |    || upper(hex(encode(text))) AS hh FROM gp2),
        |geo AS (SELECT doc_id, hh,
        |  ('0x' || substr(hh, 47, 2) || substr(hh, 45, 2))::BIGINT AS ch,
        |  ('0x' || substr(hh, 71, 2) || substr(hh, 69, 2))::BIGINT AS bits FROM m),
        |par AS (SELECT doc_id, hh, bits, ch * (bits // 8) AS ba,
        |  (length(hh) // 2 - 44) // (ch * (bits // 8)) AS ns,
        |  greatest(1, (length(hh) // 2 - 44) // (ch * (bits // 8))) AS nss FROM geo),
        |en AS (SELECT doc_id, hh, ns,
        |  list_transform(range(0, 57), w -> (
        |    list_reduce(list_prepend(CAST(0 AS BIGINT),
        |      list_transform(range(0, 4), i -> (
        |        CASE WHEN bits = 8 THEN
        |          abs(('0x' || substr(hh, CAST((44 + (((2*w+1) * nss // 114 + i) % nss) * ba) * 2 + 1 AS INT), 2))::BIGINT - 128)
        |        WHEN ('0x' || substr(hh, CAST((44 + (((2*w+1) * nss // 114 + i) % nss) * ba + 1) * 2 + 1 AS INT), 2)
        |                        || substr(hh, CAST((44 + (((2*w+1) * nss // 114 + i) % nss) * ba) * 2 + 1 AS INT), 2))::BIGINT >= 32768
        |         THEN 65536 - ('0x' || substr(hh, CAST((44 + (((2*w+1) * nss // 114 + i) % nss) * ba + 1) * 2 + 1 AS INT), 2)
        |                            || substr(hh, CAST((44 + (((2*w+1) * nss // 114 + i) % nss) * ba) * 2 + 1 AS INT), 2))::BIGINT
        |         ELSE ('0x' || substr(hh, CAST((44 + (((2*w+1) * nss // 114 + i) % nss) * ba + 1) * 2 + 1 AS INT), 2)
        |                    || substr(hh, CAST((44 + (((2*w+1) * nss // 114 + i) % nss) * ba) * 2 + 1 AS INT), 2))::BIGINT END))),
        |      (a, x) -> a + x))) AS e FROM par),
        |h AS (SELECT doc_id,
        |  CASE WHEN ns > 0 THEN
        |    list_reduce(list_prepend(CAST(0 AS BIGINT),
        |      list_transform(range(0, 56), b ->
        |        CASE WHEN e[CAST(b + 2 AS INT)] > e[CAST(b + 1 AS INT)]
        |        THEN (CAST(1 AS BIGINT) << b) ELSE CAST(0 AS BIGINT) END)),
        |      (a, x) -> a + x)
        |  ELSE
        |    list_reduce(list_prepend(CAST(0 AS BIGINT),
        |      list_transform(range(0, 56), b ->
        |        CASE WHEN ('0x' || substr(hh, CAST((((2*((b // 7) * 8 + b % 7)+3) * (length(hh) // 2)) // 128) * 2 + 1 AS INT), 2))::BIGINT
        |                 > ('0x' || substr(hh, CAST((((2*((b // 7) * 8 + b % 7)+1) * (length(hh) // 2)) // 128) * 2 + 1 AS INT), 2))::BIGINT
        |        THEN (CAST(1 AS BIGINT) << b) ELSE CAST(0 AS BIGINT) END)),
        |      (a, x) -> a + x)
        |  END AS dhash FROM en),
        |bnd AS (
        |  SELECT doc_id, dhash, band, (dhash >> (band * 14)) & 16383 AS bv
        |  FROM h CROSS JOIN (SELECT unnest([0, 1, 2, 3]) AS band)),
        |cand AS (
        |  SELECT DISTINCT a.doc_id AS doc_a, b2.doc_id AS doc_b,
        |    a.dhash AS ha, b2.dhash AS hb
        |  FROM bnd a JOIN bnd b2 ON a.band = b2.band AND a.bv = b2.bv
        |    AND a.doc_id < b2.doc_id)
        |SELECT doc_a, doc_b, CAST(bit_count(xor(ha, hb)) AS BIGINT) AS hamming
        |FROM cand WHERE bit_count(xor(ha, hb)) <= 3 ORDER BY doc_a, doc_b""".stripMargin,
    // mm_dhash_px_pairs: rebuild the content-keyed VALID PNG blobs over
    // the dedup-seeded corpus in hex space, BYTE-IDENTICAL to the
    // engine's png_stored output — signature; IHDR; an IDAT whose zlib
    // stream carries each filter-prefixed scanline in its own
    // stored-deflate block (LEN/NLEN); a real adler32 folded from the
    // raster bytes; and real chunk CRC32s, derived in SQL by the
    // standard table-driven fold (the 256-entry CRC-32/ISO-HDLC table
    // is itself derived in the crct CTE from the reflected polynomial
    // 0xEDB88320 — nothing is a baked-in magic blob); IEND carries its
    // constant type-only CRC. Then PARSE geometry back out of the blob
    // hex (IHDR width/height/depth/color), derive the scanline stride
    // and the stored-block framing arithmetic from the PARSED fields
    // (the engine walks arbitrary block layouts; this generator emits
    // one block per scanline, so the walk closes to block = off DIV
    // stride), and run the same integer 2-D luma-grid resample through
    // the block map + 56-bit neighbor compare + 4×14 banding at the
    // exhaustive hamming-3 bound
    "mm_dhash_px_pairs" ->
      """WITH corpus AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 100000, text FROM documents WHERE doc_id % 10 = 0
        |  UNION ALL
        |  SELECT doc_id + 200000, 'extra words added ' || text FROM documents WHERE doc_id % 10 = 5),
        |g0 AS (SELECT doc_id, text,
        |  8 + length(text) % 9 AS w0, 8 + (length(text) * 7) % 9 AS h0
        |  FROM corpus),
        |g1 AS (SELECT doc_id, text, w0, h0, 3 * w0 AS rowpx,
        |  1 + 3 * w0 AS lb, h0 * 3 * w0 AS need FROM g0),
        |ras AS (SELECT doc_id, w0, h0, rowpx, lb, need,
        |  substr(repeat(upper(hex(encode(text))),
        |    CAST(need // length(text) + 1 AS INT)), 1,
        |    CAST(need * 2 AS INT)) AS rhex FROM g1),
        |adl AS (SELECT doc_id, w0, h0, rowpx, lb, need, rhex,
        |  (1 + list_reduce(list_prepend(CAST(0 AS BIGINT),
        |    list_transform(range(0, need), j ->
        |      ('0x' || substr(rhex, CAST(j * 2 + 1 AS INT), 2))::BIGINT)),
        |    (a, x) -> a + x)) % 65521 AS ad_a,
        |  (h0 * lb + list_reduce(list_prepend(CAST(0 AS BIGINT),
        |    list_transform(range(0, need), j ->
        |      ('0x' || substr(rhex, CAST(j * 2 + 1 AS INT), 2))::BIGINT
        |        * (h0 * lb - ((j // rowpx) * lb + 1 + j % rowpx)))),
        |    (a, x) -> a + x)) % 65521 AS ad_b FROM ras),
        |crct AS (SELECT list_transform(range(0, 256), n ->
        |  list_reduce(list_prepend(CAST(n AS BIGINT),
        |    list_transform(range(0, 8), i -> CAST(0 AS BIGINT))),
        |    (c, z) -> CASE WHEN c % 2 = 1 THEN xor(c // 2, 3988292384)
        |              ELSE c // 2 END)) AS tbl),
        |td AS (SELECT doc_id, w0, h0, lb,
        |  upper('49484452' || lpad(to_hex(w0), 8, '0') || lpad(to_hex(h0), 8, '0')
        |    || '08' || '02' || '000000') AS ihdr_td,
        |  upper('49444154' || '7801'
        |    || list_reduce(list_prepend('',
        |         list_transform(range(0, h0), y ->
        |           (CASE WHEN y = h0 - 1 THEN '01' ELSE '00' END)
        |           || lpad(to_hex(lb % 256), 2, '0') || lpad(to_hex(lb // 256), 2, '0')
        |           || lpad(to_hex((65535 - lb) % 256), 2, '0') || lpad(to_hex((65535 - lb) // 256), 2, '0')
        |           || '00'
        |           || substr(rhex, CAST(y * rowpx * 2 + 1 AS INT), CAST(rowpx * 2 AS INT)))),
        |         (a, x) -> a || x)
        |    || lpad(to_hex(ad_b), 4, '0') || lpad(to_hex(ad_a), 4, '0')) AS idat_td
        |  FROM adl),
        |m AS (SELECT doc_id,
        |  '89504E470D0A1A0A' || '0000000D' || ihdr_td
        |  || lpad(to_hex(xor(list_reduce(list_prepend(CAST(4294967295 AS BIGINT),
        |       list_transform(range(0, length(ihdr_td) // 2), k ->
        |         ('0x' || substr(ihdr_td, CAST(k * 2 + 1 AS INT), 2))::BIGINT)),
        |       (c, b) -> xor(c >> 8, tbl[CAST((xor(c, b) & 255) + 1 AS INT)])),
        |     4294967295)), 8, '0')
        |  || lpad(to_hex(2 + h0 * (5 + lb) + 4), 8, '0') || idat_td
        |  || lpad(to_hex(xor(list_reduce(list_prepend(CAST(4294967295 AS BIGINT),
        |       list_transform(range(0, length(idat_td) // 2), k ->
        |         ('0x' || substr(idat_td, CAST(k * 2 + 1 AS INT), 2))::BIGINT)),
        |       (c, b) -> xor(c >> 8, tbl[CAST((xor(c, b) & 255) + 1 AS INT)])),
        |     4294967295)), 8, '0')
        |  || '00000000' || '49454E44' || 'AE426082' AS hh0
        |  FROM td CROSS JOIN crct),
        |mm AS (SELECT doc_id, upper(hh0) AS hh FROM m),
        |geo AS (SELECT doc_id, hh,
        |  ('0x' || substr(hh, 33, 8))::BIGINT AS w,
        |  ('0x' || substr(hh, 41, 8))::BIGINT AS ht,
        |  ('0x' || substr(hh, 49, 2))::BIGINT AS depth,
        |  ('0x' || substr(hh, 51, 2))::BIGINT AS color FROM mm),
        |par AS (SELECT doc_id, hh, w, ht,
        |  CASE WHEN color = 2 THEN 3 WHEN color = 4 THEN 2
        |       WHEN color = 6 THEN 4 ELSE 1 END AS ch,
        |  greatest(1, depth // 8) AS db FROM geo),
        |lum AS (SELECT doc_id,
        |  list_transform(
        |    list_transform(range(0, 64), g ->
        |      ((((2 * (g // 8) + 1) * ht) // 16) * (1 + w * ch * db)
        |        + 1 + (((2 * (g % 8) + 1) * w) // 16) * (ch * db))),
        |    o -> CASE WHEN ch >= 3 THEN
        |        (299 * ('0x' || substr(hh, CAST((48 + (o // (1 + w * ch * db)) * (5 + 1 + w * ch * db) + o % (1 + w * ch * db)) * 2 + 1 AS INT), 2))::BIGINT
        |       + 587 * ('0x' || substr(hh, CAST((48 + (o // (1 + w * ch * db)) * (5 + 1 + w * ch * db) + o % (1 + w * ch * db) + db) * 2 + 1 AS INT), 2))::BIGINT
        |       + 114 * ('0x' || substr(hh, CAST((48 + (o // (1 + w * ch * db)) * (5 + 1 + w * ch * db) + o % (1 + w * ch * db) + 2 * db) * 2 + 1 AS INT), 2))::BIGINT) // 1000
        |      ELSE ('0x' || substr(hh, CAST((48 + (o // (1 + w * ch * db)) * (5 + 1 + w * ch * db) + o % (1 + w * ch * db)) * 2 + 1 AS INT), 2))::BIGINT END) AS luma
        |  FROM par),
        |h AS (
        |  SELECT doc_id,
        |    list_reduce(list_prepend(CAST(0 AS BIGINT),
        |      list_transform(range(0, 56), b ->
        |        CASE WHEN luma[CAST((b // 7) * 8 + (b % 7) + 2 AS INT)]
        |               > luma[CAST((b // 7) * 8 + (b % 7) + 1 AS INT)]
        |        THEN (CAST(1 AS BIGINT) << b) ELSE CAST(0 AS BIGINT) END)),
        |      (a, x) -> a + x) AS dhash
        |  FROM lum),
        |bnd AS (
        |  SELECT doc_id, dhash, band, (dhash >> (band * 14)) & 16383 AS bv
        |  FROM h CROSS JOIN (SELECT unnest([0, 1, 2, 3]) AS band)),
        |cand AS (
        |  SELECT DISTINCT a.doc_id AS doc_a, b2.doc_id AS doc_b,
        |    a.dhash AS ha, b2.dhash AS hb
        |  FROM bnd a JOIN bnd b2 ON a.band = b2.band AND a.bv = b2.bv
        |    AND a.doc_id < b2.doc_id)
        |SELECT doc_a, doc_b, CAST(bit_count(xor(ha, hb)) AS BIGINT) AS hamming
        |FROM cand WHERE bit_count(xor(ha, hb)) <= 3 ORDER BY doc_a, doc_b""".stripMargin,
    "mm_dhash_pairs" ->
      """WITH corpus AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 100000, text FROM documents WHERE doc_id % 10 = 0
        |  UNION ALL
        |  SELECT doc_id + 200000, 'extra words added ' || text FROM documents WHERE doc_id % 10 = 5),
        |h AS (
        |  SELECT doc_id,
        |    list_reduce(list_prepend(CAST(0 AS BIGINT),
        |      list_transform(range(0, 56), b ->
        |        CASE WHEN ascii(substring(text,
        |            CAST((((((b // 7) * 8 + (b % 7)) * 2 + 1) * length(text)) // 128 + 1) AS INT), 1))
        |          < ascii(substring(text,
        |            CAST((((((b // 7) * 8 + (b % 7) + 1) * 2 + 1) * length(text)) // 128 + 1) AS INT), 1))
        |        THEN (CAST(1 AS BIGINT) << b) ELSE CAST(0 AS BIGINT) END)),
        |      (a, x) -> a + x) AS dhash
        |  FROM corpus),
        |bnd AS (
        |  SELECT doc_id, dhash, band, (dhash >> (band * 14)) & 16383 AS bv
        |  FROM h CROSS JOIN (SELECT unnest([0, 1, 2, 3]) AS band)),
        |cand AS (
        |  SELECT DISTINCT a.doc_id AS doc_a, b2.doc_id AS doc_b,
        |    a.dhash AS ha, b2.dhash AS hb
        |  FROM bnd a JOIN bnd b2 ON a.band = b2.band AND a.bv = b2.bv
        |    AND a.doc_id < b2.doc_id)
        |SELECT doc_a, doc_b, CAST(bit_count(xor(ha, hb)) AS BIGINT) AS hamming
        |FROM cand WHERE bit_count(xor(ha, hb)) <= 6 ORDER BY doc_a, doc_b""".stripMargin,
    "mm_patchify" ->
      """WITH v AS (
        |  SELECT doc_id, text, octet_length(encode(text)) AS n_bytes
        |  FROM documents WHERE doc_id % 3 = 0),
        |g AS (SELECT doc_id, text, n_bytes // 64 AS tiles_y
        |      FROM v WHERE n_bytes >= 64),
        |p AS (SELECT doc_id, text, unnest(range(0, tiles_y * 4)) AS pid FROM g),
        |q AS (SELECT doc_id, CAST(pid // 4 AS BIGINT) AS ty,
        |             CAST(pid % 4 AS BIGINT) AS tx, text FROM p)
        |SELECT doc_id, ty, tx,
        |  md5(substr(text, CAST((ty * 4 + 0) * 16 + tx * 4 + 1 AS INT), 4)
        |   || substr(text, CAST((ty * 4 + 1) * 16 + tx * 4 + 1 AS INT), 4)
        |   || substr(text, CAST((ty * 4 + 2) * 16 + tx * 4 + 1 AS INT), 4)
        |   || substr(text, CAST((ty * 4 + 3) * 16 + tx * 4 + 1 AS INT), 4)) AS patch_md5
        |FROM q ORDER BY doc_id, ty, tx""".stripMargin,
    "mm_frame_sample" ->
      """WITH v AS (
        |  SELECT doc_id, text, octet_length(encode(text)) // 16 AS n_frames
        |  FROM documents WHERE doc_id % 3 = 2),
        |f AS (SELECT doc_id, text, n_frames,
        |        greatest(1, n_frames // 4) AS step FROM v),
        |x AS (SELECT doc_id, text,
        |        unnest(range(0, n_frames, step)) AS frame_idx FROM f)
        |SELECT doc_id, frame_idx, frame_idx * 16 + 1 AS frame_off,
        |  md5(substr(text, CAST(frame_idx * 16 + 1 AS INT), 16)) AS frame_md5
        |FROM x ORDER BY doc_id, frame_idx""".stripMargin,
  )
}
