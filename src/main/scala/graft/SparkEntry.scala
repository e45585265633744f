package graft

import graft.operators._
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * `queries` is the full operator surface (SURVEY.md §2 + §7.4 extensions);
  * `oracleSql` is per-query ANSI SQL the driver runs in DuckDB over the
  * same parquet tables. Column names AND value types are aligned pairwise
  * (explicit casts on whichever side is narrower) because the driver's
  * compare hashes values after sorting columns by name.
  *
  * Every query has a DuckDB oracle — including the engine-specific
  * sketches (HLL distinct, percentile_approx, SpaceSaving top-k), which
  * are checked via acceptance audits: the query emits the algorithm's
  * PROVEN guarantee as a boolean the oracle asserts literally, exact
  * witnesses alongside. SimHash (md5-prefix token hash, chosen for
  * oracle parity), dedup assignments (recursive-CTE connected
  * components), and chunk pairs (portable position-independent CDC)
  * are DuckDB-verified value-for-value.
  */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    Relational.pricingSummary(spark, "/root/testdata/sf0.001")

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // -- relational core (SURVEY §2.3–§2.7) --------------------------------
    "q_pricing_summary" -> Relational.pricingSummary,
    "q_filter_project" -> Relational.filterProject,
    "q_join_revenue" -> Relational.joinRevenue,
    "q_region_revenue" -> Relational.regionRevenue,
    "q_nation_volume" -> Relational.nationVolume,
    "q_returned_items" -> ((s, dir) => Relational.returnedItemReport(s, dir)),
    "q_cust_without_recent_orders" -> Relational.custWithoutRecentOrders,
    "q_segments_with_orders" -> Relational.segmentsWithOrders,
    "q_top_orders_per_customer" -> Relational.topOrdersPerCustomer,
    "q_order_day_expansion" -> Relational.orderDayExpansion,
    "q_geo_radius" -> Relational.geoRadius,
    "q_geo_pairs" -> ((s, dir) => Relational.geoPairs(s, dir)),
    "q_shape_lengths" -> Relational.shapePolylineLengths,
    "q_checksum_xor" -> Relational.checksumXor,
    "q_nation_rollup" -> Relational.nationRollup,
    "q_purchasers_without_errors" -> Relational.purchasersWithoutErrors,
    "q_set_ops_bag" -> Relational.setOpsBag,
    "q_skew_profile" -> Relational.skewProfile,
    "q_cube_status" -> Relational.cubeStatus,
    "q_repeat_purchasers" -> Relational.repeatPurchasers,
    "q_salted_join_revenue" -> ((s, dir) => Relational.saltedJoinRevenue(s, dir)),
    "q_running_revenue" -> Relational.runningRevenue,
    "q_part_brand_stats" -> Relational.partBrandStats,
    "q_asof_join" -> AsOf.eventOrderAsof,
    "q_asof_forward" -> AsOf.orderNextEventAsof,
    "q_range_join_attrib" -> Relational.attributionRangeJoin,
    "q_linear_attribution" -> Relational.linearAttribution,
    "q_above_avg_orders" -> Relational.aboveAvgOrders,
    "q_grouping_sets" -> Relational.groupingSetsRevenue,
    "q_scd2_customers" -> Relational.scd2Customers,
    "q_pit_enrichment" -> Relational.pitEnrichment,
    "q_profile_orders" -> Relational.profileOrders,
    "q_profile_events" -> Relational.profileEvents,
    "q_cohort_retention" -> Events.cohortRetention,
    "q_order_gaps" -> Relational.orderGaps,
    // -- event/stream batch twins (SURVEY §2.14, §7.4) ---------------------
    "q_hourly_type_counts" -> Events.hourlyTypeCounts,
    "q_user_sessions" -> Events.userSessions,
    "q_session_outage_overlap" -> ((s, dir) => Events.sessionOutageOverlap(s, dir)),
    "q_value_window_funcs" -> Events.valueWindowFuncs,
    "q_json_prop_stats" -> Events.jsonPropStats,
    "q_daily_type_pivot" -> Events.dailyTypePivot,
    "q_value_percentiles" -> Events.valuePercentiles,
    "q_robust_stats" -> Events.robustStats,
    "q_cuped_adjust" -> Events.cupedAdjust,
    "q_distinct_users" -> Events.distinctUsers,
    "q_user_type_sets" -> Events.userTypeSets,
    "q_approx_distinct_users" -> Events.approxDistinctUsers,
    "q_funnel_stages" -> Events.funnelStages,
    "q_value_deciles" -> Events.valueDeciles,
    "q_approx_quantile_audit" -> ((s, dir) => Events.approxQuantileAudit(s, dir)),
    "q_daily_anomalies" -> Events.dailyAnomalies,
    "q_weekday_profile" -> Events.weekdayProfile,
    "q_type_transitions" -> Events.typeTransitions,
    "q_source_reconciliation" -> Relational.sourceReconciliation,
    "q_snapshot_diff" -> Relational.corpusSnapshotDiff,
    "q_cdc_apply" -> Relational.cdcApply,
    // -- text analysis (§7.4) ----------------------------------------------
    "q_lang_id_confusion" -> TextOps.langIdConfusion,
    "q_quality_scores" -> TextOps.qualityScores,
    "q_source_influence" -> TextOps.sourceInfluence,
    "q_split_balance" -> TextOps.splitBalance,
    "q_token_stats" -> TextOps.tokenStats,
    "q_fingerprint_stats" -> TextOps.fingerprintStats,
    "q_top_tokens" -> ((s, dir) => TextOps.topTokensPerLang(s, dir)),
    "q_tfidf_top_terms" -> ((s, dir) => TextOps.tfidfTopTerms(s, dir)),
    "q_pii_stats" -> TextOps.piiStats,
    "q_hash_split" -> TextOps.hashSplit,
    "q_boilerplate_scores" -> ((s, dir) => TextOps.boilerplateScores(s, dir)),
    "q_dataset_card" -> TextOps.datasetCard,
    "q_training_order" -> ((s, dir) => TextOps.trainingOrder(s, dir)),
    "q_source_overlap" -> Dedup.sourceOverlap,
    "q_decontamination" -> ((s, dir) => TextOps.decontamination(s, dir)),
    "q_contamination_report" -> ((s, dir) => TextOps.contaminationReport(s, dir)),
    "q_bloom_decontamination" -> ((s, dir) => TextOps.bloomDecontamination(s, dir)),
    "q_bpe_merges" -> ((s, dir) => TextOps.bpeMerges(s, dir)),
    "q_bpe_encode" -> ((s, dir) => TextOps.bpeEncode(s, dir)),
    "q_bpe_vocab_stats" -> ((s, dir) => TextOps.bpeVocabStats(s, dir)),
    "q_bpe_roundtrip" -> ((s, dir) => TextOps.bpeRoundtrip(s, dir)),
    "q_bpe_compression" -> ((s, dir) => TextOps.bpeCompressionStats(s, dir)),
    "q_packing_encoded" -> ((s, dir) => Packing.sequencePackingEncoded(s, dir)),
    "q_packed_sequences" -> ((s, dir) => Packing.packedSequences(s, dir)),
    "q_zorder_key" -> graft.warehouse.Layout.zOrderKeys,
    "q_domain_cap_sample" -> ((s, dir) => TextOps.domainCapSample(s, dir)),
    "q_stratified_sample" -> TextOps.stratifiedSample,
    "q_group_sample" -> ((s, dir) => TextOps.groupSample(s, dir)),
    "q_repetition_scores" -> TextOps.repetitionScores,
    "q_topk_audit" -> ((s, dir) => TextOps.topkAudit(s, dir)),
    "q_token_cooccurrence" -> ((s, dir) => TextOps.tokenCooccurrence(s, dir)),
    "q_seq_packing" -> ((s, dir) => Packing.sequencePacking(s, dir)),
    "q_context_windows" -> ((s, dir) => Packing.contextWindows(s, dir)),
    "q_char_entropy" -> TextOps.charEntropy,
    "q_inverted_index" -> ((s, dir) => TextOps.invertedIndex(s, dir)),
    "q_keyword_search" -> ((s, dir) => TextOps.keywordSearch(s, dir)),
    "q_keyword_search_indexed" -> ((s, dir) => TextOps.keywordSearchIndexed(s, dir)),
    "q_bm25_topk" -> ((s, dir) => TextOps.bm25TopK(s, dir)),
    "q_quality_lr" -> ((s, dir) => TextOps.qualityLrTrain(s, dir)),
    "q_quality_lr_scores" -> ((s, dir) => TextOps.qualityLrScores(s, dir)),
    "q_lr_calibration" -> ((s, dir) => TextOps.qualityLrCalibration(s, dir)),
    "q_dataset_cartography" ->
      ((s, dir) => TextOps.datasetCartography(s, dir)),
    "q_conformal_gate" ->
      ((s, dir) => TextOps.conformalQualityGate(s, dir)),
    "q_dsir_select" -> ((s, dir) => TextOps.dsirSelect(s, dir)),
    "q_span_scrub" -> ((s, dir) => TextOps.spanScrub(s, dir)),
    "q_span_scrub_clean" -> ((s, dir) => TextOps.spanScrubClean(s, dir)),
    "q_hybrid_rrf" -> ((s, dir) => TextOps.hybridRrfTopK(s, dir)),
    "q_rbo_overlap" -> ((s, dir) => TextOps.rboOverlap(s, dir)),
    "q_curriculum_order" -> ((s, dir) => TextOps.curriculumOrder(s, dir)),
    "q_surprisal_filter" -> TextOps.surprisalFilter,
    "q_mixture_reweight" -> TextOps.mixtureReweight,
    "q_bigram_surprisal" -> TextOps.bigramSurprisal,
    "q_trigram_backoff" -> TextOps.trigramBackoff,
    "q_zipf_slope" -> ((s, dir) => TextOps.zipfSlope(s, dir)),
    "q_quality_weighted_sample" -> ((s, dir) => TextOps.qualityWeightedSample(s, dir)),
    "q_weighted_sample_es" -> ((s, dir) => TextOps.weightedSampleES(s, dir)),
    "q_filter_cascade" -> ((s, dir) => TextOps.filterCascade(s, dir)),
    "q_release_manifest" -> TextOps.releaseManifest,
    "q_cms_audit" -> ((s, dir) => TextOps.cmsAudit(s, dir)),
    "q_mixture_sample" -> ((s, dir) => TextOps.mixtureSample(s, dir)),
    "q_repeated_spans" -> ((s, dir) => TextOps.repeatedSpans(s, dir)),
    "q_winnow_fingerprints" -> ((s, dir) => TextOps.winnowFingerprints(s, dir)),
    "q_winnow_pairs" -> ((s, dir) => TextOps.winnowPairs(s, dir)),
    "q_temperature_mix" -> ((s, dir) => TextOps.temperatureMix(s, dir)),
    "q_source_lang_mi" -> TextOps.sourceLangMi,
    "q_edit_neardup" -> ((s, dir) => Dedup.editNearDupPairs(s, dir)),
    "q_jl_recall" -> ((s, dir) => Similarity.jlRecall(s, dir)),
    "q_winnow_incremental" -> ((s, dir) => TextOps.winnowIncrementalPairs(s, dir)),
    "q_bpe_fertility" -> ((s, dir) => TextOps.bpeFertility(s, dir)),
    // required-word list = this corpus' two function words (see
    // TextOps.GopherRequiredWords on why the list is corpus-tuned)
    "q_gopher_rules" -> ((s, dir) => TextOps.gopherRules(s, dir, Seq("the", "a"))),
    "q_temperature_sample" -> ((s, dir) => TextOps.temperatureSample(s, dir)),
    "q_winnow_spans" -> ((s, dir) => TextOps.winnowMatchSpans(s, dir)),
    "q_code_switch" -> ((s, dir) => TextOps.codeSwitchScreen(s, dir)),
    "q_pii_scrub" -> TextOps.piiScrub,
    "q_constraint_audit" -> Relational.constraintAudit,
    "q_benford_audit" -> Relational.benfordAudit,
    "q_ewma_anomalies" -> ((s, dir) => Relational.ewmaAnomalies(s, dir)),
    "q_psi_drift" -> ((s, dir) => Events.psiDrift(s, dir)),
    "q_ks_drift" -> Events.ksDrift,
    "q_mann_whitney" -> Events.mannWhitney,
    "q_gini_sources" -> TextOps.giniSources,
    "q_good_turing" -> TextOps.goodTuringMass,
    "q_markov_stationary" ->
      ((s, dir) => Events.markovStationary(s, dir)),
    "q_absorption_steps" ->
      ((s, dir) => Events.absorptionSteps(s, dir)),
    "q_price_elasticity" ->
      ((s, dir) => Relational.priceElasticity(s, dir)),
    "q_cusum_arl" -> ((s, dir) => Relational.cusumArl(s, dir)),
    "q_dominant_period" -> ((s, dir) => Relational.dominantPeriod(s, dir)),
    "q_haar_energy" -> ((s, dir) => Relational.haarEnergy(s, dir)),
    "q_holt_linear" -> Relational.holtLinear,
    "q_t_closeness" -> ((s, dir) => Relational.tCloseness(s, dir)),
    "q_dedup_survivorship" -> Dedup.dedupSurvivorship,
    "q_dedup_design_report" ->
      ((s, dir) => Dedup.dedupDesignReport(s, dir)),
    "q_rho_learnability" ->
      ((s, dir) => TextOps.rhoLearnability(s, dir)),
    "q_doremi_step" -> TextOps.doremiStep,
    "q_ngram_novelty" -> TextOps.ngramNovelty,
    "q_skyline_docs" -> TextOps.skylineDocs,
    "q_sprt_monitor" -> ((s, dir) => Events.sprtMonitor(s, dir)),
    "q_markov_attribution" -> ((s, dir) => Events.markovAttribution(s, dir)),
    "q_label_centroid_shift" ->
      ((s, dir) => Similarity.labelCentroidShift(s, dir)),
    "q_negative_sampling" -> ((s, dir) => TextOps.negativeSampling(s, dir)),
    "q_fdr_bh" -> ((s, dir) => Relational.fdrBhNations(s, dir)),
    "q_region_nation_share" ->
      ((s, dir) => Relational.regionNationShare(s, dir)),
    "q_did_orders" -> ((s, dir) => Relational.didOrders(s, dir)),
    "q_holt_winters" -> Relational.holtWinters,
    "q_mann_kendall" -> ((s, dir) => Relational.mannKendall(s, dir)),
    "q_pettitt" -> ((s, dir) => Relational.pettittChangepoint(s, dir)),
    "q_fisher_index" -> ((s, dir) => Relational.fisherPriceIndex(s, dir)),
    "q_welch_ttest" -> ((s, dir) => Stats.welchTTest(s, dir)),
    "q_chi_square" -> ((s, dir) => Stats.chiSquareTypeWeekday(s, dir)),
    "q_anova_f" -> ((s, dir) => Stats.anovaF(s, dir)),
    "q_kendall_tau" -> ((s, dir) => Stats.kendallTauDaily(s, dir)),
    "q_average_precision" -> ((s, dir) => Stats.averagePrecision(s, dir)),
    "q_holdout_calibration" ->
      ((s, dir) => Stats.holdoutCalibration(s, dir)),
    "q_link_prediction" -> ((s, dir) => Stats.linkPrediction(s, dir)),
    "q_hits" -> ((s, dir) => Stats.hitsSupplierCustomer(s, dir)),
    "q_tost_equivalence" -> ((s, dir) => Stats.tostEquivalence(s, dir)),
    "q_entropy_l_diversity" ->
      ((s, dir) => Relational.entropyLDiversity(s, dir)),
    "q_median_polish" -> ((s, dir) => Relational.medianPolish(s, dir)),
    "q_rouge_pairs" -> ((s, dir) => Dedup.rougePairs(s, dir)),
    "q_abc_xyz" -> ((s, dir) => Relational.xyzClassification(s, dir)),
    "q_croston" -> ((s, dir) => Relational.croston(s, dir)),
    "q_dtw_profiles" -> ((s, dir) => Stats.dtwWeekdayProfiles(s, dir)),
    "q_p_chart" -> ((s, dir) => Events.pChart(s, dir)),
    "q_nelson_aalen" -> ((s, dir) => Events.nelsonAalen(s, dir)),
    "q_hurst" -> ((s, dir) => Stats.hurstExponent(s, dir)),
    "q_seasonal_strength" ->
      ((s, dir) => Relational.seasonalStrength(s, dir)),
    "q_pacf" -> ((s, dir) => Relational.pacf3(s, dir)),
    "q_cohort_ltv" -> ((s, dir) => Events.cohortLtv(s, dir)),
    "q_abc_classification" ->
      ((s, dir) => Relational.abcClassification(s, dir)),
    "q_largest_remainder" ->
      ((s, dir) => TextOps.largestRemainderAllocation(s, dir)),
    "q_readability" -> ((s, dir) => TextOps.readabilityScores(s, dir)),
    "q_brier_decomposition" ->
      ((s, dir) => TextOps.qualityBrierDecomposition(s, dir)),
    "q_kneser_ney" -> ((s, dir) => TextOps.kneserNeySurprisal(s, dir)),
    "q_lsh_planner" -> ((s, dir) => Dedup.lshPlanner(s, dir)),
    "q_planned_lsh_pairs" -> ((s, dir) => Dedup.plannedLshPairs(s, dir)),
    "q_neardup_robustness" ->
      ((s, dir) => Dedup.nearDupRobustness(s, dir)),
    "q_energy_distance" -> ((s, dir) => Events.energyDistance(s, dir)),
    "q_event_burstiness" -> ((s, dir) => Events.eventBurstiness(s, dir)),
    "q_funnel_latency" -> ((s, dir) => Events.funnelLatency(s, dir)),
    "q_youden_cutoff" -> ((s, dir) => TextOps.youdenCutoff(s, dir)),
    "q_gtfs_arrivals" ->
      ((s, _) => gtfs.GtfsFixture.arrivalsOracleQuery(s)),
    "q_gtfs_frequencies" ->
      ((s, _) => gtfs.GtfsFixture.frequenciesOracleQuery(s)),
    "q_gtfs_connections" ->
      ((s, _) => gtfs.GtfsFixture.connectionsOracleQuery(s)),
    "q_gtfs_earliest_arrival" ->
      ((s, _) => gtfs.GtfsFixture.earliestArrivalOracleQuery(s)),
    "q_gtfs_arrival_profile" ->
      ((s, _) => gtfs.GtfsFixture.earliestArrivalProfileOracleQuery(s)),
    "q_gtfs_isochrone" ->
      ((s, _) => gtfs.GtfsFixture.isochroneOracleQuery(s)),
    "q_gtfs_trip_patterns" ->
      ((s, _) => gtfs.GtfsFixture.tripPatternsOracleQuery(s)),
    "q_gtfs_headway_cv" ->
      ((s, _) => gtfs.GtfsFixture.headwayOracleQuery(s)),
    "q_heaps_law" -> TextOps.heapsLaw,
    "q_neyman_alloc" -> ((s, dir) => Events.neymanAllocation(s, dir)),
    "q_burrows_delta" -> ((s, dir) => TextOps.burrowsDelta(s, dir)),
    "q_coverage_select" -> ((s, dir) => TextOps.coverageSelect(s, dir)),
    "q_dp_counts" -> ((s, dir) => Relational.dpCounts(s, dir)),
    "q_kcenter_seeds" -> ((s, dir) => Similarity.kCenterSeeds(s, dir)),
    "q_poisson_bootstrap" -> ((s, dir) => Events.poissonBootstrap(s, dir)),
    "q_emd_drift" -> Events.emdDrift,
    "q_shard_balance" -> ((s, dir) => TextOps.shardBalance(s, dir)),
    "q_entropy_rate" -> TextOps.entropyRate,
    "q_key_terms" -> ((s, dir) => TextOps.keyTerms(s, dir)),
    "q_assortativity" -> ((s, dir) => Dedup.degreeAssortativity(s, dir)),
    "q_ndcg_audit" -> ((s, dir) => TextOps.ndcgAudit(s, dir)),
    "q_quantile_transform" -> Events.quantileTransform,
    "q_chao1_richness" -> TextOps.chao1Richness,
    "q_source_diversity" -> TextOps.sourceDiversity,
    "q_screen_auc" -> ((s, dir) => TextOps.screenAuc(s, dir)),
    "q_rendezvous_shards" -> ((s, dir) => TextOps.rendezvousShards(s, dir)),
    "q_changepoint" -> Relational.changepoint,
    "q_join_size_est" -> ((s, dir) => Relational.joinSizeEst(s, dir)),
    "q_hill_tail" -> ((s, dir) => Relational.hillTail(s, dir)),
    "q_theil_decomposition" -> Relational.theilDecomposition,
    "q_acf_ljung_box" -> ((s, dir) => Relational.acfLjungBox(s, dir)),
    "q_kruskal_weekday" -> Relational.kruskalWallis,
    "q_linkage_weights" -> Dedup.linkageWeights,
    "q_isotonic_calibration" -> Dedup.isotonicCalibration,
    "q_dirichlet_ql" -> ((s, dir) => TextOps.dirichletQlTopK(s, dir)),
    "q_capture_recapture" -> Dedup.captureRecapture,
    "q_theil_sen" -> Relational.theilSenTrend,
    "q_page_hinkley" -> Relational.pageHinkley,
    "q_kaplan_meier" -> ((s, dir) => Events.kaplanMeier(s, dir)),
    "q_log_rank" -> Events.logRankTest,
    "q_durbin_watson" -> Relational.durbinWatson,
    "q_knn_shapley" -> ((s, dir) => Similarity.knnShapley(s, dir)),
    "q_matrix_profile" -> ((s, dir) => Relational.matrixProfile(s, dir)),
    "q_conformal_calibration" ->
      ((s, dir) => TextOps.conformalCalibration(s, dir)),
    "q_voptimal_histogram" ->
      ((s, dir) => Relational.vOptimalHistogram(s, dir)),
    "q_ivm_agg" -> Relational.ivmAggApply,
    "q_basket_rules" -> ((s, dir) => Relational.basketRules(s, dir)),
    "q_permutation_test" ->
      ((s, dir) => Relational.permutationTest(s, dir)),
    "q_gini_stump" -> TextOps.giniStump,
    "q_jsd_sources" -> ((s, dir) => TextOps.jsdSources(s, dir)),
    "q_mcnemar_truncation" ->
      ((s, dir) => Similarity.mcnemarTruncation(s, dir)),
    "q_seasonal_decomp" -> Relational.seasonalDecompose,
    "q_seasonal_anomalies" -> Relational.seasonalAnomalies,
    "q_mase_backtest" -> Relational.maseBacktest,
    "q_rolling_median_mad" ->
      ((s, dir) => Relational.rollingMedianMad(s, dir)),
    "q_column_stats" -> Relational.columnStats,
    "q_power_analysis" -> ((s, dir) => Relational.powerAnalysis(s, dir)),
    "q_cust_order_histogram" -> Relational.custOrderHistogram,
    "q_priority_check" -> Relational.priorityCheck,
    "q_sql_revenue_share" -> Relational.sqlRevenueShare,
    "q_schema_drift" -> Relational.schemaDrift,
    "q_funnel_dropoff" -> Events.funnelDropoffTest,
    "q_lorenz_curve" -> Relational.lorenzCurve,
    "q_brand_hhi" -> Relational.brandHhi,
    "q_newsvendor" -> ((s, dir) => Relational.newsvendor(s, dir)),
    "q_rfm_segments" -> Relational.rfmSegments,
    "q_ccf_lead_lag" -> ((s, dir) => Events.ccfLeadLag(s, dir)),
    "q_touch_attribution" -> ((s, dir) => Events.touchAttribution(s, dir)),
    "q_runs_test" -> Relational.runsTest,
    "q_kmv_overlap" -> ((s, dir) => Dedup.kmvOverlap(s, dir)),
    "q_cusum_shift" -> Relational.cusumShift,
    "q_token_dispersion" -> ((s, dir) => TextOps.tokenDispersion(s, dir)),
    "q_quality_surprisal_rho" -> TextOps.qualitySurprisalRho,
    "q_screen_kappa" -> ((s, dir) => TextOps.screenKappa(s, dir)),
    "q_unimax_budget" -> ((s, dir) => TextOps.unimaxBudget(s, dir)),
    "q_k_anonymity" -> ((s, dir) => Relational.kAnonymity(s, dir)),
    "q_distinct_ngrams" -> TextOps.distinctNgrams,
    "q_ccnet_buckets" -> TextOps.ccnetBuckets,
    // -- dedup suite (§7.4) ------------------------------------------------
    "q_dedup_exact" -> Dedup.exact,
    "q_jaccard_pairs" -> Dedup.ngramJaccardPairs,
    "q_sorted_neighborhood" ->
      ((s, dir) => Dedup.sortedNeighborhoodPairs(s, dir)),
    "q_minhash_lsh_pairs" -> ((s, dir) => Dedup.minhashLshPairs(s, dir)),
    "q_minhash_jaccard_est" -> ((s, dir) => Dedup.minhashJaccardEst(s, dir)),
    "q_incremental_lsh" -> ((s, dir) => Dedup.incrementalLshPairs(s, dir)),
    "q_minhash_signatures" -> ((s, dir) => {
      import org.apache.spark.sql.functions.col
      Dedup.minhashSignatures(Tables(s, dir, "documents"), 3, 12)
        .orderBy(col("doc_id"), col("seed"))
    }),
    "q_hashed_tf_neardup" -> ((s, dir) => TextOps.hashedTfNearDupPairs(s, dir)),
    "q_simhash_fingerprints" -> Dedup.simhashFingerprints,
    "q_simhash_pairs" -> ((s, dir) => Dedup.simhashPairs(s, dir)),
    "q_chunk_pairs" -> ((s, dir) => Chunker.sharedChunkPairs(s, dir)),
    "q_chunk_search" -> ((s, dir) => Chunker.chunkSearch(s, dir)),
    "q_dedup_assignments" -> Dedup.dedupAssignments,
    "q_cluster_provenance" -> ((s, dir) => Dedup.clusterProvenance(s, dir)),
    "q_incremental_clusters" ->
      ((s, dir) => Dedup.incrementalClusters(s, dir)),
    "q_cluster_split" -> Dedup.clusterSplit,
    "q_source_dup_burden" -> Dedup.sourceDupBurden,
    "q_dedup_corpus" -> Dedup.dedupCorpus,
    "q_dedup_best" -> Dedup.dedupBest,
    "q_neardup_pagerank" -> ((s, dir) => Dedup.nearDupPageRank(s, dir)),
    "q_neardup_hops" -> ((s, dir) => Dedup.bfsHops(s, dir)),
    "q_eval_ppr" -> ((s, dir) => Dedup.evalProximityPpr(s, dir)),
    "q_neardup_kcore" -> ((s, dir) => Dedup.kCore(s, dir)),
    "q_neardup_coreness" -> ((s, dir) => Dedup.coreness(s, dir)),
    "q_neardup_lpa" -> ((s, dir) => Dedup.labelPropagation(s, dir)),
    "q_neardup_modularity" -> ((s, dir) => Dedup.nearDupModularity(s, dir)),
    "q_dedup_method_agreement" ->
      ((s, dir) => Dedup.dedupMethodAgreement(s, dir)),
    "q_neardup_triangles" -> ((s, dir) => Dedup.nearDupTriangles(s, dir)),
    "q_triangles_oriented" -> ((s, dir) => Dedup.nearDupTrianglesOriented(s, dir)),
    "q_containment_pairs" -> ((s, dir) => Dedup.containmentPairs(s, dir)),
    "q_sim_histogram" -> ((s, dir) => Dedup.pairSimilarityHistogram(s, dir)),
    "q_dedup_threshold_sweep" ->
      ((s, dir) => Dedup.dedupThresholdSweep(s, dir)),
    "q_trend_sign_reversals" ->
      ((s, dir) => Relational.trendSignReversals(s, dir)),
    "q_dedup_profile" -> Dedup.dedupProfile,
    // -- similarity search (§7.4) ------------------------------------------
    "q_brute_force_topk" -> ((s, dir) => Similarity.bruteForceTopK(s, dir)),
    "q_ivf_topk" -> ((s, dir) => Similarity.ivfTopK(s, dir)),
    "q_ivf_topk_indexed" -> ((s, dir) => Similarity.ivfTopKIndexed(s, dir)),
    "q_label_silhouette" -> Similarity.labelSilhouette,
    "q_matryoshka_recall" -> ((s, dir) => Similarity.matryoshkaRecall(s, dir)),
    "q_power_iteration" -> ((s, dir) => Similarity.powerIteration(s, dir)),
    "q_anisotropy" -> ((s, dir) => Similarity.anisotropyReport(s, dir)),
    "q_label_suspects" -> Similarity.labelSuspects,
    "q_ann_recall" -> ((s, dir) => Similarity.annRecall(s, dir)),
    "q_mmr_rerank" -> ((s, dir) => Similarity.mmrRerank(s, dir)),
    "q_bitext_mine" -> ((s, dir) => Similarity.bitextMine(s, dir)),
    "q_knn_label_agreement" ->
      ((s, dir) => Similarity.knnLabelAgreement(s, dir)),
    "q_knn_banded_recall" ->
      ((s, dir) => Similarity.knnBandedRecall(s, dir)),
    "q_hyperplane_lsh_topk" -> ((s, dir) => Similarity.hyperplaneLshTopK(s, dir)),
    "q_embedding_neardup" -> ((s, dir) => Similarity.embeddingNearDupPairs(s, dir)),
    "q_embedding_lsh_recall" -> ((s, dir) => Similarity.embeddingLshRecall(s, dir)),
    "q_embedding_mp_recall" ->
      ((s, dir) => Similarity.embeddingLshRecall(s, dir, multiProbe = true)),
    "q_embedding_incremental" -> ((s, dir) => Similarity.incrementalEmbeddingPairs(s, dir)),
    "q_hard_negatives" -> ((s, dir) => Similarity.hardNegatives(s, dir)),
    "q_quant_stats" -> Similarity.quantizationStats,
    "q_quantized_recall" -> ((s, dir) => Similarity.quantizedRecall(s, dir)),
    "q_pq_topk" -> ((s, dir) => Similarity.pqTopK(s, dir)),
    "q_pq_recall" -> ((s, dir) => Similarity.pqRecall(s, dir)),
    "q_ivfpq_topk" -> ((s, dir) => Similarity.ivfPqTopK(s, dir)),
    "q_pq_topk_indexed" -> ((s, dir) => Similarity.pqTopKIndexed(s, dir)),
    "q_semdedup" -> ((s, dir) => Similarity.semDedup(s, dir)),
    "q_semantic_decontamination" ->
      ((s, dir) => Similarity.semanticDecontamination(s, dir)),
    "q_semantic_decon_indexed" ->
      ((s, dir) => Similarity.semanticDecontaminationIndexed(s, dir)),
    "q_kmeans_step" -> ((s, dir) => Similarity.kmeansStep(s, dir)),
    "q_embedding_clusters" -> ((s, dir) => Similarity.embeddingClusters(s, dir)),
    // -- multimodal metadata path (§7.4) -----------------------------------
    "q_blob_metadata" -> Multimodal.blobMetadata,
    "q_frame_samples" -> ((s, dir) => Multimodal.frameSampleStats(s, dir)),
    "q_media_neardup" -> ((s, dir) => Multimodal.mediaNearDupPairs(s, dir)),
    "q_media_lsh_recall" -> ((s, dir) => Multimodal.mediaLshRecall(s, dir)),
    "q_media_dedup_best" -> ((s, dir) => Multimodal.mediaDedupBest(s, dir)),
    "q_media_mp_recall" ->
      ((s, dir) => Multimodal.mediaLshRecall(s, dir, multiProbe = true)),
    // -- round-4 additions: exact-moment stats, window frames, islands -----
    "q_corr_stats" -> Relational.corrStats,
    "q_moving_avg_revenue" -> Relational.movingAvgRevenue,
    "q_nations_listagg" -> Relational.nationsListagg,
    "q_activity_streaks" -> Events.activityStreaks,
    "q_value_histogram" -> Events.valueHistogram,
    "q_median_value" -> Events.medianValue,
    "q_rolling_active_users" -> Events.rollingActiveUsers,
    "q_value_skewness" -> Events.valueSkewness,
  )

  // DuckDB dialect notes: `//` = integer division (Spark `/ .cast("int")`),
  // `strlen` = bytes (Spark octet_length), sums of INT are cast BIGINT to
  // match Spark's long, len() casts to INT where Spark size() yields int.
  /** Funnel-stage chain (distinct users → first view → first later
    * click → first later purchase → per-user stage), shared by
    * q_funnel_stages and q_funnel_dropoff so the stage convention
    * cannot drift.
    */
  private val funnelCtes =
    """u AS (SELECT DISTINCT user_id FROM events),
         v AS (SELECT user_id, min(ts) AS view_ts FROM events
               WHERE event_type = 'view' GROUP BY user_id),
         c AS (SELECT e.user_id, min(e.ts) AS click_ts FROM events e
               JOIN v ON e.user_id = v.user_id
               WHERE e.event_type = 'click' AND e.ts > v.view_ts
               GROUP BY e.user_id),
         p AS (SELECT e.user_id, min(e.ts) AS purchase_ts FROM events e
               JOIN c ON e.user_id = c.user_id
               WHERE e.event_type = 'purchase' AND e.ts > c.click_ts
               GROUP BY e.user_id),
         st AS (SELECT u.user_id,
           CAST(CASE WHEN p.user_id IS NOT NULL THEN 3
                     WHEN c.user_id IS NOT NULL THEN 2
                     WHEN v.user_id IS NOT NULL THEN 1
                     ELSE 0 END AS INT) AS stage
         FROM u LEFT JOIN v ON u.user_id = v.user_id
                LEFT JOIN c ON u.user_id = c.user_id
                LEFT JOIN p ON u.user_id = p.user_id)"""

  /** Weekly additive decomposition chain (daily → centered-MA trend →
    * detrended → per-weekday seasonal), shared by q_seasonal_decomp
    * and q_seasonal_anomalies so a convention tweak cannot drift.
    */
  private val seasonalCtes =
    """daily AS (SELECT CAST(o_orderdate AS DATE) AS day,
           CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
             AS cents FROM orders GROUP BY 1),
         det AS (SELECT day, cents,
             CAST(date_part('isodow', day) - 1 AS BIGINT) AS weekday,
             count(*) OVER w7 AS n_win,
             sum(cents) OVER w7 * 1000000 // 7 AS trend_u
           FROM daily
           WINDOW w7 AS (ORDER BY day ROWS BETWEEN 3 PRECEDING AND
             3 FOLLOWING)),
         f AS (SELECT day, cents, weekday, CAST(trend_u AS BIGINT)
             AS trend_u, cents * 1000000 - trend_u AS d_u
           FROM det WHERE n_win = 7),
         seas AS (SELECT weekday,
             CAST(sum(d_u) // count(*) AS BIGINT) AS seasonal_u
           FROM f GROUP BY 1)"""

  private val toks =
    """list_filter(regexp_split_to_array(lower(trim(text)), '\s+'), x -> x <> '')"""

  /** BM25 per-(doc, term) contribution chain (ends at c(doc_id, cf)) —
    * shared by q_bm25_topk and the lexical run of q_hybrid_rrf.
    */
  private lazy val bm25Ctes =
    s"""dd AS (SELECT doc_id, len($toks) AS dl FROM documents),
       st AS (SELECT count(*) AS n_docs, sum(dl) AS sum_dl FROM dd),
       tf AS (SELECT doc_id, dl, tok, count(*) AS tf FROM
           (SELECT doc_id, len($toks) AS dl, unnest($toks) AS tok
            FROM documents)
         WHERE tok IN ('vector', 'hash', 'spark') GROUP BY doc_id, dl, tok),
       dfreq AS (SELECT tok, count(*) AS df FROM tf GROUP BY tok),
       c AS (SELECT doc_id,
           CAST(round(ln(1.0 + (n_docs - df + 0.5) / (df + 0.5)) *
             (tf * ${1.2 + 1.0}) /
             (tf + 1.2 * (${1.0 - 0.75} + 0.75 * dl /
               (CAST(sum_dl AS DOUBLE) / n_docs))) * 1000000.0) AS BIGINT)
             AS cf
         FROM tf JOIN dfreq USING (tok) CROSS JOIN st)"""

  /** Hashed-TF dense document vectors (ends at e(vec_id, v), zero
    * vectors dropped) — shared by q_hashed_tf_neardup and the vector
    * run of q_hybrid_rrf. Internal tf stage named htf so the chain can
    * coexist with [[bm25Ctes]] in one WITH.
    */
  private lazy val hashedTfVecCtes =
    s"""tk AS (SELECT doc_id, unnest($toks) AS tok FROM documents),
       nn AS (SELECT count(DISTINCT doc_id) AS nd FROM tk),
       dfc AS (SELECT tok, count(DISTINCT doc_id) AS d FROM tk GROUP BY tok),
       kept AS (SELECT tk.doc_id, tk.tok FROM tk JOIN dfc USING (tok), nn
         WHERE dfc.d * 10 <= nn.nd),
       htf AS (SELECT doc_id, h % 64 AS j,
           sum(CASE WHEN (h // 64) % 2 = 0 THEN 1 ELSE -1 END) AS x
         FROM (SELECT doc_id,
             CAST(concat('0x', substring(md5(concat('fh:', tok)), 1, 15)) AS BIGINT) AS h
           FROM kept)
         GROUP BY doc_id, h % 64),
       pr AS (SELECT doc_id, list(struct_pack(j := j, x := x)) AS pairs
         FROM htf GROUP BY doc_id),
       e0 AS (SELECT doc_id AS vec_id, list_transform(generate_series(0, 63),
           jj -> CAST(coalesce(list_sum(list_transform(
             list_filter(pairs, w -> w.j = jj), w -> w.x)), 0) AS DOUBLE)) AS v
         FROM pr),
       e AS (SELECT vec_id, v FROM e0 WHERE list_dot_product(v, v) > 0)"""

  /** The hashed query-term vector as a SQL double-list literal —
    * generated from the same driver-side hash as the engine's query
    * vector (TextOps.fhQueryVector), so both runs score the identical
    * embedding.
    */
  /** RBO depth weights as literal (depth, BIGINT) VALUES rows — the
    * identical driver-computed longs the Spark plan consumes
    * (TextOps.rboWeightsU), so neither engine evaluates pow().
    */
  /** EWMA lag weights as literal (lag, BIGINT) VALUES rows — the
    * identical driver-computed longs the Spark plan consumes
    * (Relational.ewmaWeightsU), so neither engine evaluates pow().
    */
  private lazy val ewmaWeightValues =
    operators.Relational.ewmaWeightsU(7, 30).zipWithIndex
      .map { case (wu, i) => s"(${i + 1}, CAST($wu AS BIGINT))" }
      .mkString(", ")

  private lazy val rboWeightValues =
    operators.TextOps.rboWeightsU(25, 900).zipWithIndex
      .map { case (wu, i) => s"(${i + 1}, CAST($wu AS BIGINT))" }
      .mkString(", ")

  private lazy val fhQueryLit =
    operators.TextOps.fhQueryVector(Seq("vector", "hash", "spark"))
      .map(x => s"CAST($x AS DOUBLE)").mkString("[", ", ", "]")

  /** a–z letter-count fragments for the char-entropy oracle — generated
    * from one letter seq (the same 'a' to 'z' range TextOps.charEntropy
    * folds over, in the same order, so the double-sum association and
    * the SQL cannot drift from the Scala).
    */
  private val entLetters = ('a' to 'z').map(_.toString)
  private val entCountCols = entLetters.map(l =>
    s"length(t) - length(replace(t, '$l', '')) AS c_$l").mkString(", ")
  private val entSumN = entLetters.map(l => s"c_$l").mkString(" + ")
  private val entTerms = entLetters.map(l =>
    s"CASE WHEN c_$l > 0 THEN -(CAST(c_$l AS DOUBLE) / n_letters) * " +
      s"ln(CAST(c_$l AS DOUBLE) / n_letters) ELSE 0.0 END").mkString(" + ")

  /** Composite quality score SQL (mirrors text.qualityScoreTokens) —
    * shared by the quality-scores oracle and the quality-weighted
    * sampling oracle so the two cannot drift.
    */
  private val qualityExpr =
    s"""round(
       0.4 * (len(regexp_extract_all(text, '[A-Za-z]', 0)) / CAST(n_chars AS DOUBLE)) +
       0.3 * (1.0 - least((len(regexp_extract_all(text, '[^A-Za-z0-9\\s]', 0)) / CAST(n_chars AS DOUBLE)) * 4, 1.0)) +
       0.3 * least((len(list_filter($toks, t -> list_contains(['the','of','and','to','in','is','that','it','was','for'], t)))
         / CAST(greatest(len($toks), 1) AS DOUBLE)) * 5, 1.0),
       4)"""

  /** 2-gram shingle stream (same slice algebra as the 3-gram minhash
    * CTE) — shared by the bigram-LM oracle's train and eval sides.
    */
  private def bigramUnnest(where: String) =
    s"""SELECT doc_id, unnest(list_transform(
          generate_series(1, len(toks) - 1),
          i -> array_to_string(toks[i:i+1], ' '))) AS g
        FROM docs WHERE $where AND len(toks) >= 2"""

  /** Product-quantization CTE chain (vectors → subspace slices → sampled
    * codebook → fixed-point distances → code assignment) — shared by the
    * ADC top-k and PQ-recall oracles. Distances are per-dim squared
    * diffs rounded to the 1e-12 grid and summed as BIGINTs, mirroring
    * `vectors.l2SqFixed` exactly (same per-element IEEE expression, same
    * rounding, order-free integer sum).
    */
  private val pqCtes =
    """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       sv AS (SELECT vec_id, j, v[(j * 8 + 1):(j * 8 + 8)] AS sub FROM e
         CROSS JOIN (SELECT unnest(generate_series(0, 7)) AS j)),
       cb AS (SELECT vec_id AS cid, j, sub AS cv FROM sv WHERE vec_id < 16),
       ad0 AS (SELECT sv.vec_id, sv.j, cb.cid,
           CAST(round((sv.sub[i] - cb.cv[i]) * (sv.sub[i] - cb.cv[i])
             * 1000000000000.0) AS BIGINT) AS t
         FROM sv JOIN cb USING (j)
         CROSS JOIN (SELECT unnest(generate_series(1, 8)) AS i)),
       ad AS (SELECT vec_id, j, cid, CAST(sum(t) AS BIGINT) AS d
         FROM ad0 GROUP BY vec_id, j, cid),
       asg AS (SELECT vec_id, j, cid FROM (
           SELECT vec_id, j, cid,
             row_number() OVER (PARTITION BY vec_id, j ORDER BY d, cid) AS rn
           FROM ad) WHERE rn = 1)"""

  /** MinHash CTE chain (docs → shingles → per-seed mins → LSH bands) —
    * the single source for every MinHash-derived oracle (candidate
    * pairs, dedup edges, Jaccard estimates), so they cannot drift.
    */
  /** Per-user survival triple (lives(user_id, t, death)) for the
    * time-to-first-fatal-error family — shared by the q_kaplan_meier
    * and q_log_rank oracles, mirroring Events.survivalLives so the
    * censoring definition cannot drift between curve and test.
    */
  private val survivalLivesCtes =
    """ev AS (SELECT user_id, event_type, event_id,
         CAST(epoch_us(ts) // 3600000000 AS BIGINT) AS hr FROM events),
       birth AS (SELECT user_id, min(hr) AS birth FROM ev GROUP BY 1),
       fe AS (SELECT user_id, min(hr) AS err_hr FROM ev
         WHERE event_type = 'error' AND event_id % 11 = 0 GROUP BY 1),
       wend AS (SELECT max(hr) AS wend FROM ev),
       lives AS (SELECT birth.user_id, birth,
           err_hr IS NOT NULL AS death,
           CASE WHEN err_hr IS NOT NULL THEN err_hr - birth
             ELSE wend - birth END AS t
         FROM birth LEFT JOIN fe USING (user_id) CROSS JOIN wend)"""

  /** Click→purchase hourly CCF oracle, lead columns generated from the
    * same lag list as Events.ccfLeadLag so the two cannot drift.
    */
  private def ccfOracle(maxLag: Int): String = {
    def nm(k: Int) = if (k < 0) s"ym${-k}" else s"yp$k"
    val leadCols = (-maxLag to maxLag).map { k =>
      if (k == 0) s"yc AS ${nm(0)}"
      else if (k > 0) s"lead(yc, $k) OVER w AS ${nm(k)}"
      else s"lag(yc, ${-k}) OVER w AS ${nm(k)}"
    }.mkString(", ")
    val gCols = (-maxLag to maxLag).map(k =>
      s"CAST(sum(CAST(x0 AS HUGEINT) * ${nm(k)}) AS HUGEINT) AS g_${nm(k)}")
      .mkString(", ")
    val unions = (-maxLag to maxLag).map(k =>
      s"SELECT n, gxx, gyy, $k AS lag_k, g_${nm(k)} AS gxy_num FROM a")
      .mkString(" UNION ALL ")
    s"""WITH ev AS (SELECT event_type,
         CAST(epoch_us(ts) // 3600000000 AS BIGINT) AS hr FROM events),
       gr AS (SELECT unnest(generate_series((SELECT min(hr) FROM ev),
         (SELECT max(hr) FROM ev))) AS hr),
       xs AS (SELECT hr, CAST(count(*) AS BIGINT) AS x FROM ev
         WHERE event_type = 'click' GROUP BY 1),
       ys AS (SELECT hr, CAST(count(*) AS BIGINT) AS y FROM ev
         WHERE event_type = 'purchase' GROUP BY 1),
       xy AS (SELECT gr.hr, coalesce(x, 0) AS x, coalesce(y, 0) AS y
         FROM gr LEFT JOIN xs USING (hr) LEFT JOIN ys USING (hr)),
       st AS (SELECT CAST(count(*) AS BIGINT) AS n,
         CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy
         FROM xy),
       c AS (SELECT hr, n * x - sx AS xc, n * y - sy AS yc, n
         FROM xy CROSS JOIN st),
       l AS (SELECT xc AS x0, yc AS y0, n, $leadCols FROM c
         WINDOW w AS (ORDER BY hr)),
       a AS (SELECT max(n) AS n,
           CAST(sum(CAST(x0 AS HUGEINT) * x0) AS HUGEINT) AS gxx,
           CAST(sum(CAST(y0 AS HUGEINT) * y0) AS HUGEINT) AS gyy,
           $gCols FROM l),
       stk AS ($unions)
       SELECT CAST(lag_k AS BIGINT) AS lag_k,
         n - abs(lag_k) AS n_pairs,
         CAST(gxy_num AS BIGINT) AS gxy_num,
         CAST(gxx AS BIGINT) AS gxx, CAST(gyy AS BIGINT) AS gyy,
         round(CAST(gxy_num AS DOUBLE) / (sqrt(CAST(gxx AS DOUBLE))
           * sqrt(CAST(gyy AS DOUBLE))), 4) AS rho
       FROM stk ORDER BY lag_k"""
  }

  /** Matrix-profile oracle: lead columns and the squared-distance sum
    * generated from the same window length as Relational.matrixProfile.
    */
  private def matrixProfileOracle(m: Int): String = {
    val leads = (1 until m).map(k => s"lead(cents, $k) OVER w AS y$k")
      .mkString(", ")
    val dist = (0 until m).map(k =>
      s"CAST(a.y$k - b.y$k AS HUGEINT) * (a.y$k - b.y$k)").mkString(" + ")
    s"""WITH daily AS (SELECT CAST(o_orderdate AS DATE) AS day,
         CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
           AS cents FROM orders GROUP BY 1),
       t0 AS (SELECT min(day) AS d0 FROM daily),
       d AS (SELECT CAST(datediff('day', d0, day) AS BIGINT) AS t,
         cents FROM daily CROSS JOIN t0),
       wins AS (SELECT t, cents AS y0, $leads FROM d
         WINDOW w AS (ORDER BY t)),
       cw AS (SELECT * FROM wins WHERE y${m - 1} IS NOT NULL),
       pairs AS (SELECT a.t AS ti, b.t AS tj, $dist AS d2
         FROM cw a JOIN cw b ON abs(a.t - b.t) >= $m),
       mins AS (SELECT ti, min(d2) AS dist2 FROM pairs GROUP BY ti),
       prof AS (SELECT p.ti, mn.dist2, min(p.tj) AS nn_t
         FROM pairs p JOIN mins mn ON mn.ti = p.ti AND p.d2 = mn.dist2
         GROUP BY p.ti, mn.dist2)
       SELECT ti AS t, nn_t, CAST(dist2 AS BIGINT) AS dist2,
         CAST(row_number() OVER (ORDER BY dist2 DESC, ti) AS BIGINT)
           AS discord_rank
       FROM prof ORDER BY t"""
  }

  /** V-optimal histogram oracle: DP levels and the backtrack chain
    * unrolled from the same bucket count as Relational.vOptimalHistogram.
    * `pre`, `c_l` and `dp_l` are each read twice, and DuckDB inlines a
    * CTE that is not MATERIALIZED, so without it the plan doubles per
    * level.
    */
  private def vOptOracle(b: Int): String = {
    val sse = "(p.cs2 - q.cs2) - CAST(p.cs - q.cs AS HUGEINT)" +
      " * (p.cs - q.cs) // (p.i - q.i)"
    val levels = (2 to b).map { l =>
      s"""c$l AS MATERIALIZED (SELECT p.i AS i, d.i AS j,
           d.v + $sse AS cost FROM dp${l - 1} d JOIN p0 q ON q.i = d.i
           JOIN p ON p.i > d.i),
         dp$l AS MATERIALIZED (SELECT i, min(cost) AS v FROM c$l GROUP BY i),
         arg$l AS (SELECT c.i, min(c.j) AS am FROM c$l c
           JOIN dp$l m ON m.i = c.i AND c.cost = m.v GROUP BY c.i)"""
    }.mkString(",\n         ")
    val backs = (b - 1 to 1 by -1).map { l =>
      s"""e$l AS (SELECT am AS e FROM arg${l + 1} a
           JOIN e${l + 1} ON a.i = e${l + 1}.e)"""
    }.mkString(",\n         ")
    val cuts = (1 to b).map(l =>
      s"SELECT $l AS bucket, e${l - 1}.e AS j, e$l.e AS i" +
        s" FROM e${l - 1}, e$l").mkString(" UNION ALL ")
    s"""WITH daily AS (SELECT CAST(o_orderdate AS DATE) AS day,
         CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
           AS cents FROM orders GROUP BY 1),
       pre AS MATERIALIZED (SELECT day,
         CAST(row_number() OVER (ORDER BY day) AS BIGINT) AS i,
         CAST(sum(cents) OVER (ORDER BY day ROWS BETWEEN UNBOUNDED
           PRECEDING AND CURRENT ROW) AS BIGINT) AS cs,
         CAST(sum(CAST(cents AS HUGEINT) * cents) OVER (ORDER BY day
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS HUGEINT)
           AS cs2 FROM daily),
       p AS (SELECT i, cs, cs2 FROM pre),
       p0 AS (SELECT i, cs, cs2 FROM pre UNION ALL
         SELECT CAST(0 AS BIGINT), CAST(0 AS BIGINT),
           CAST(0 AS HUGEINT)),
       dp1 AS (SELECT p.i, $sse AS v FROM p JOIN p0 q ON q.i = 0),
       $levels,
       e$b AS (SELECT max(i) AS e FROM p),
       $backs,
       e0 AS (SELECT CAST(0 AS BIGINT) AS e),
       cuts AS ($cuts)
       SELECT bucket, ds.day AS day_start, de.day AS day_end,
         cuts.i - cuts.j AS n_days, p.cs - q.cs AS sum_cents,
         CAST($sse AS VARCHAR) AS sse_u
       FROM cuts JOIN p0 q ON q.i = cuts.j JOIN p ON p.i = cuts.i
         JOIN pre ds ON ds.i = cuts.j + 1 JOIN pre de ON de.i = cuts.i
       ORDER BY bucket"""
  }

  private val minhashMhCtes =
    s"""docs AS (SELECT doc_id, $toks AS toks FROM documents),
       sh AS (SELECT doc_id, unnest(list_transform(
           generate_series(1, len(toks) - 2),
           i -> array_to_string(toks[i:i+2], ' '))) AS sh
         FROM docs WHERE len(toks) >= 3),
       seeds AS (SELECT unnest(generate_series(0, 11)) AS seed),
       mh AS (SELECT doc_id, seed,
           min(md5(concat(CAST(seed AS VARCHAR), ':', sh))) AS mh
         FROM sh, seeds GROUP BY doc_id, seed)"""

  /** Band CTE over `mh` with a pluggable rows-per-band divisor — "3"
    * for the fixed-scheme pair oracles, a scalar subquery over the
    * planner's chosen config for q_planned_lsh_pairs.
    */
  private def minhashBandsCte(rDivisor: String): String =
    s"""bands AS (SELECT doc_id, seed // $rDivisor AS band,
           string_agg(lpad(CAST(seed AS VARCHAR), 2, '0') || ':' || mh, ','
             ORDER BY lpad(CAST(seed AS VARCHAR), 2, '0') || ':' || mh) AS sig
         FROM mh GROUP BY doc_id, band)"""

  private def minhashCtesFor(rDivisor: String): String =
    s"""$minhashMhCtes,
       ${minhashBandsCte(rDivisor)}"""

  private val minhashCtes = minhashCtesFor("3")

  private val minhashPairsSelect =
    """SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
       FROM bands a JOIN bands b
         ON a.band = b.band AND a.sig = b.sig AND a.doc_id < b.doc_id"""

  /** MinHash-LSH candidate pairs, sans ORDER BY — shared between the
    * q_minhash_lsh_pairs oracle and the dedup-assignments oracle's edge
    * list (both must agree bit-for-bit with Dedup.minhashLshPairs).
    * The `For` variant takes the band divisor (a literal or a scalar
    * subquery over a planner-chosen config) so compositions can band
    * with a non-default scheme.
    */
  private def minhashPairsCoreFor(rDivisor: String): String =
    s"""WITH ${minhashCtesFor(rDivisor)}
       $minhashPairsSelect"""

  private val minhashPairsCore = minhashPairsCoreFor("3")

  /** Windowed polynomial hash terms for the portable-CDC chunk oracle —
    * generated from Chunker.Bpow so the SQL constants cannot drift from
    * the Scala chunker.
    */
  private val chunkHashTerms: String = (0 until operators.Chunker.W).map { k =>
    val bk = operators.Chunker.Bpow(k)
    if (k == 0) s"(c % ${operators.Chunker.M}) * $bk"
    else s"(coalesce(lag(c, $k) OVER w, 0) % ${operators.Chunker.M}) * $bk"
  }.mkString(" + ")

  /** Near-dup connected components as recursive-CTE fragments (edges =
    * exact-dup star pairs ∪ MinHash-LSH candidates, symmetrized; `reach`
    * = transitive closure) — shared by the dedup-assignments and
    * dedup-corpus oracles so their edge lists cannot drift.
    */
  private def ccReachCtesFor(rDivisor: String): String =
    s"""lsh AS (${minhashPairsCoreFor(rDivisor)}),
       ex AS (SELECT mn AS doc_a, doc_id AS doc_b FROM (
           SELECT doc_id, min(doc_id) OVER (PARTITION BY md5(text)) AS mn
           FROM documents)
         WHERE doc_id > mn),
       e0 AS (SELECT doc_a, doc_b FROM lsh
              UNION SELECT doc_a, doc_b FROM ex),
       edges AS (SELECT doc_a AS a, doc_b AS b FROM e0
                 UNION SELECT doc_b AS a, doc_a AS b FROM e0),
       reach(a, r) AS (
         SELECT a, b FROM edges
         UNION SELECT a, a FROM edges
         UNION SELECT e.a, reach.r FROM edges e JOIN reach ON e.b = reach.a)"""

  private val ccReachCtes = ccReachCtesFor("3")

  /** Per-doc 60-bit SimHash (md5-prefix token hash — the same
    * engine-portable hash Dedup.tokenHash60 uses), sans ORDER BY.
    * Token-less docs get fingerprint 0 via the left join.
    */
  private val simhashCore =
    s"""SELECT d.doc_id, CAST(coalesce(f.simhash, 0) AS BIGINT) AS simhash
       FROM documents d LEFT JOIN (
         SELECT doc_id, CAST(sum(CASE WHEN v > 0
             THEN (CAST(1 AS BIGINT) << i) ELSE 0 END) AS BIGINT) AS simhash
         FROM (
           SELECT doc_id, i,
             sum(CASE WHEN (h >> i) & 1 = 1 THEN 1 ELSE -1 END) AS v
           FROM (
             SELECT doc_id,
               CAST(concat('0x', substring(md5(tok), 1, 15)) AS BIGINT) AS h
             FROM (SELECT doc_id, unnest($toks) AS tok FROM documents)),
             (SELECT unnest(generate_series(0, 59)) AS i)
           GROUP BY doc_id, i)
         GROUP BY doc_id) f USING (doc_id)"""

  /** Banded sign-projection LSH over the embeddings (24 bands × 4
    * planes, mirroring Similarity.bandedPlaneBuckets): planes from the
    * md5 scheme of Similarity.planeComponent, per-band sign bitmask
    * signatures, candidates = any shared (band, sig) bucket. Spliced
    * mid-WITH (expects an `e(vec_id, v)` CTE before it; no trailing
    * comma — the splice site adds one if more CTEs follow).
    */
  private val EmbLshPlSgCte =
    """pl AS (SELECT j, list(comp ORDER BY d) AS p FROM (
           SELECT j, d,
             (CAST(concat('0x', substring(md5(concat(CAST(j AS VARCHAR), ':', CAST(d AS VARCHAR))), 1, 15)) AS BIGINT) % 2001 - 1000) / 1000.0 AS comp
           FROM (SELECT unnest(generate_series(0, 95)) AS j),
                (SELECT unnest(generate_series(0, 63)) AS d))
         GROUP BY j),
       sg AS (SELECT vec_id, j // 4 AS band,
           sum(CASE WHEN list_dot_product(v, p) > 0 THEN (1 << (j % 4)) ELSE 0 END) AS sig
         FROM e, pl GROUP BY vec_id, j // 4)"""

  /** Stationary-distribution oracle: the exact integer power rounds of
    * Events.markovStationary unrolled as generated CTEs.
    */
  private def markovStationaryOracle(iters: Int): String = {
    val rounds = (1 to iters).map { i =>
      s"""r$i AS MATERIALIZED (SELECT m.to_type AS t,
           CAST(sum(r.pi * m.p_ppm) // 1000000 AS BIGINT) AS pi
         FROM r${i - 1} r JOIN m ON m.from_type = r.t GROUP BY m.to_type)"""
    }.mkString(",\n         ")
    s"""WITH pr AS (SELECT user_id, event_type AS from_type,
           lead(event_type) OVER (PARTITION BY user_id
             ORDER BY ts, event_id) AS to_type
         FROM events),
       c AS (SELECT from_type, to_type, CAST(count(*) AS BIGINT) AS n
         FROM pr WHERE to_type IS NOT NULL GROUP BY 1, 2),
       states AS MATERIALIZED (SELECT DISTINCT from_type AS t FROM c),
       cl AS (SELECT c.* FROM c JOIN states s ON s.t = c.to_type),
       ot AS (SELECT from_type, CAST(sum(n) AS BIGINT) AS tot
         FROM cl GROUP BY 1),
       m AS MATERIALIZED (SELECT cl.from_type, cl.to_type,
           CAST(n * 1000000 // tot AS BIGINT) AS p_ppm
         FROM cl JOIN ot USING (from_type)),
       kk AS (SELECT CAST(count(*) AS BIGINT) AS k FROM states),
       r0 AS MATERIALIZED (SELECT t, 1000000 // k AS pi
         FROM states CROSS JOIN kk),
       $rounds,
       emp AS (SELECT from_type AS t, CAST(sum(n) AS BIGINT) AS n_out
         FROM c GROUP BY 1),
       g AS (SELECT CAST(sum(n_out) AS BIGINT) AS grand FROM emp)
       SELECT s.t AS event_type, e.n_out,
         CAST(e.n_out * 1000000 // grand AS BIGINT) AS emp_share_ppm,
         CAST(coalesce(r.pi, 0) AS BIGINT) AS pi_ppm
       FROM states s JOIN emp e ON e.t = s.t CROSS JOIN g
         LEFT JOIN r$iters r ON r.t = s.t
       ORDER BY event_type"""
  }

  /** LSH planner oracle: per (b, r) factorization, the same literal
    * multiplication chains (no libm pow) over the blocked-Jaccard pair
    * frame, unioned and ranked.
    */
  /** Planner CTE block (corpus sims + per-config expected FP/FN union)
    * — shared by the standalone q_lsh_planner oracle and the
    * q_planned_lsh_pairs composition so the decision cannot drift.
    */
  private def lshPlannerCtes(numHashes: Int, thresholdMilli: Long): String = {
    val configs = (1 to numHashes).filter(numHashes % _ == 0)
      .map(r => (numHashes / r, r))
    val branches = configs.map { case (b, r) =>
      val srChain = (1 to r).map(_ => "sd").mkString(" * ")
      val ombChain = (1 to b).map(_ => "om").mkString(" * ")
      s"""SELECT $b AS b, $r AS r, CAST(count(*) AS BIGINT) AS n_pairs,
           CAST(sum(CASE WHEN s_milli < $thresholdMilli
             THEN CAST(round(pc * 1000000.0) AS BIGINT) ELSE 0 END)
             AS BIGINT) AS fp_mass_u,
           CAST(sum(CASE WHEN s_milli >= $thresholdMilli
             THEN CAST(round((1.0 - pc) * 1000000.0) AS BIGINT) ELSE 0 END)
             AS BIGINT) AS fn_mass_u
         FROM (SELECT s_milli, 1.0 - ($ombChain) AS pc
           FROM (SELECT s_milli, 1.0 - ($srChain) AS om
             FROM (SELECT s_milli, CAST(s_milli AS DOUBLE) / 1000.0 AS sd
               FROM sims)))"""
    }.mkString("\n         UNION ALL ")
    s"""d AS (SELECT doc_id, lang, n_chars, list_distinct($toks) AS toks
           FROM documents),
         sims AS MATERIALIZED (SELECT
             CAST(round(jaccard * 1000) AS BIGINT) AS s_milli
           FROM (SELECT
               round(CAST(len(list_intersect(a.toks, b.toks)) AS DOUBLE) /
                 len(list_distinct(a.toks || b.toks)), 4) AS jaccard
             FROM d a JOIN d b ON a.lang = b.lang
               AND a.n_chars = b.n_chars AND a.doc_id < b.doc_id)),
         u AS ($branches)"""
  }

  private def lshPlannerOracle(numHashes: Int, thresholdMilli: Long): String =
    s"""WITH ${lshPlannerCtes(numHashes, thresholdMilli)}
         SELECT b, r, n_pairs, fp_mass_u, fn_mass_u,
           fp_mass_u + fn_mass_u AS cost_u,
           CAST(row_number() OVER (ORDER BY fp_mass_u + fn_mass_u, b)
             AS BIGINT) AS rank,
           row_number() OVER (ORDER BY fp_mass_u + fn_mass_u, b) = 1
             AS chosen
         FROM u ORDER BY b"""

  /** RHO-learnability oracle: the surprisal chain twice (base = whole
    * train split, reference = its quality-≥-threshold slice), one
    * scoring pass with four left joins, excess-xent rank.
    */
  private def rhoLearnabilityOracle(refQualityMin: Long,
                                    topK: Int): String =
    s"""WITH docs AS (SELECT doc_id,
           CAST(concat('0x', substring(md5(concat('split:', CAST(doc_id AS VARCHAR))), 1, 15)) AS BIGINT) % 100 AS bucket,
           CAST(round($qualityExpr * 10000) AS BIGINT) AS qu,
           $toks AS toks FROM documents),
         tgb AS (${bigramUnnest("bucket < 80")}),
         cabb AS (SELECT g, count(*) AS c FROM tgb GROUP BY g),
         cab2 AS (SELECT a, count(*) AS c FROM (SELECT unnest(toks) AS a
           FROM docs WHERE bucket < 80) GROUP BY a),
         vb AS (SELECT count(*) AS v FROM cab2),
         tgr AS (${bigramUnnest(s"bucket < 80 AND qu >= $refQualityMin")}),
         cabr AS (SELECT g, count(*) AS c FROM tgr GROUP BY g),
         car2 AS (SELECT a, count(*) AS c FROM (SELECT unnest(toks) AS a
           FROM docs WHERE bucket < 80 AND qu >= $refQualityMin)
           GROUP BY a),
         vr AS (SELECT count(*) AS v FROM car2),
         ev AS (${bigramUnnest("TRUE")}),
         sc AS (SELECT ev.doc_id,
             CAST(round(-ln(CAST(coalesce(cb.c, 0) + 1 AS DOUBLE) /
               CAST(coalesce(ab.c, 0) + vb.v AS DOUBLE)) * 1000000.0)
               AS BIGINT) AS lpb_u,
             CAST(round(-ln(CAST(coalesce(cr.c, 0) + 1 AS DOUBLE) /
               CAST(coalesce(ar.c, 0) + vr.v AS DOUBLE)) * 1000000.0)
               AS BIGINT) AS lpr_u
           FROM ev
           LEFT JOIN cabb cb ON cb.g = ev.g
           LEFT JOIN cabr cr ON cr.g = ev.g
           LEFT JOIN cab2 ab ON ab.a = split_part(ev.g, ' ', 1)
           LEFT JOIN car2 ar ON ar.a = split_part(ev.g, ' ', 1)
           CROSS JOIN vb CROSS JOIN vr),
         pd AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
             CAST(sum(lpb_u) AS BIGINT) AS slb,
             CAST(sum(lpr_u) AS BIGINT) AS slr
           FROM sc GROUP BY doc_id),
         x AS (SELECT doc_id, n_bigrams,
             slb // n_bigrams AS xent_base_u,
             slr // n_bigrams AS xent_ref_u,
             slb // n_bigrams - slr // n_bigrams AS learn_u
           FROM pd)
         SELECT doc_id, n_bigrams, xent_base_u, xent_ref_u, learn_u,
           CAST(row_number() OVER (ORDER BY learn_u DESC, doc_id)
             AS BIGINT) AS rnk,
           row_number() OVER (ORDER BY learn_u DESC, doc_id) <= $topK
             AS selected
         FROM x ORDER BY doc_id"""

  /** Shared dedup-QA oracle fragments — each is a standalone query row
    * AND a facet of the q_dedup_design_report composition, so the
    * report's oracle literally recombines the parents' SQL (lazy: they
    * reference fragments defined later in the object).
    */
  private def dedupThresholdSweepOracleFor(rDivisor: String): String =
    s"""WITH ${minhashCtesFor(rDivisor)},
         pairs AS ($minhashPairsSelect),
         shs AS (SELECT doc_id, list_distinct(list_transform(
             generate_series(1, len(toks) - 2),
             i -> array_to_string(toks[i:i+2], ' '))) AS shs
           FROM docs WHERE len(toks) >= 3),
         nn AS (SELECT CAST(count(*) AS BIGINT) AS n_docs FROM documents),
         sc AS (SELECT p.doc_a, p.doc_b,
             (len(list_intersect(a.shs, b.shs)) * 10000)
               // (len(a.shs) + len(b.shs)
                  - len(list_intersect(a.shs, b.shs))) AS sim_bp
           FROM pairs p JOIN shs a ON a.doc_id = p.doc_a
             JOIN shs b ON b.doc_id = p.doc_b),
         grid AS (SELECT unnest(generate_series(5000, 9500, 500))
           AS thr_bp)
         SELECT CAST(thr_bp AS BIGINT) AS thr_bp,
           CAST(count(*) AS BIGINT) AS n_pairs,
           CAST(count(DISTINCT doc_b) AS BIGINT) AS n_docs_dropped,
           CAST(count(DISTINCT doc_b) * 10000 // max(n_docs) AS BIGINT)
             AS loss_bp
         FROM sc JOIN grid ON sim_bp >= thr_bp CROSS JOIN nn
         GROUP BY thr_bp ORDER BY thr_bp"""

  private lazy val dedupThresholdSweepOracle: String =
    dedupThresholdSweepOracleFor("3")

  private def captureRecaptureOracleFor(rDivisor: String): String =
    s"""WITH ${minhashCtesFor(rDivisor)},
         mp AS ($minhashPairsSelect),
         f AS ($simhashCore),
         sbk AS (SELECT doc_id, simhash,
             concat(CAST(bi AS VARCHAR), ':',
               CAST((simhash >> (bi * 15)) & 32767 AS VARCHAR)) AS bucket
           FROM f, (SELECT unnest(generate_series(0, 3)) AS bi)),
         sp AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
           FROM sbk a JOIN sbk b
             ON a.bucket = b.bucket AND a.doc_id < b.doc_id
           WHERE bit_count(xor(a.simhash, b.simhash))
             <= ${operators.Dedup.DefaultMaxHamming}),
         c1 AS (SELECT CAST(count(*) AS BIGINT) AS n_minhash FROM mp),
         c2 AS (SELECT CAST(count(*) AS BIGINT) AS n_simhash FROM sp),
         cb AS (SELECT CAST(count(*) AS BIGINT) AS n_both
           FROM mp JOIN sp USING (doc_a, doc_b)),
         j AS (SELECT n_minhash, n_simhash, n_both,
             n_minhash + n_simhash - n_both AS n_union,
             (n_minhash + 1) * (n_simhash + 1) // (n_both + 1) - 1
               AS chapman_est
           FROM c1 CROSS JOIN c2 CROSS JOIN cb)
         SELECT n_minhash, n_simhash, n_both, n_union, chapman_est,
           chapman_est - n_union AS est_missed,
           n_minhash * 1000000 // greatest(chapman_est, 1)
             AS minhash_recall_ppm,
           n_simhash * 1000000 // greatest(chapman_est, 1)
             AS simhash_recall_ppm
         FROM j"""

  private lazy val captureRecaptureOracle: String =
    captureRecaptureOracleFor("3")

  private def dedupSurvivorshipOracleFor(rDivisor: String): String =
    s"""WITH RECURSIVE ${ccReachCtesFor(rDivisor)},
         canon AS (SELECT a AS doc_id, min(r) AS canon_id
           FROM reach GROUP BY a),
         q AS (SELECT doc_id,
             CAST(round($qualityExpr * 10000) AS BIGINT) AS qu
           FROM documents),
         m AS (SELECT c.doc_id, qu,
             CASE WHEN c.doc_id = c.canon_id THEN CAST(1 AS BIGINT)
               ELSE CAST(0 AS BIGINT) END AS surv
           FROM canon c JOIN q USING (doc_id)),
         cells AS (SELECT qu, CAST(sum(surv) AS BIGINT) AS s1,
             CAST(sum(1 - surv) AS BIGINT) AS s2
           FROM m GROUP BY qu),
         f AS (SELECT qu,
             CAST(sum(s1) OVER (ORDER BY qu) AS BIGINT) AS f1,
             CAST(sum(s2) OVER (ORDER BY qu) AS BIGINT) AS f2
           FROM cells),
         tt AS (SELECT CAST(sum(s1) AS BIGINT) AS n1,
             CAST(sum(s2) AS BIGINT) AS n2,
             CAST(sum(s1 * qu) AS BIGINT) AS sq1,
             CAST(sum(s2 * qu) AS BIGINT) AS sq2
           FROM cells)
         SELECT n1 AS n_survivors, n2 AS n_victims,
           CAST(CAST(max(abs(f1 * n2 - f2 * n1)) AS HUGEINT) * 10000
             // (n1 * n2) AS BIGINT) AS ks_bp,
           sq1 // n1 AS mean_qu_surv, sq2 // n2 AS mean_qu_vict
         FROM f CROSS JOIN tt GROUP BY n1, n2, sq1, sq2"""

  private lazy val dedupSurvivorshipOracle: String =
    dedupSurvivorshipOracleFor("3")

  /** The dedup design report: the four parent oracles as materialized
    * CTE subqueries, pivoted to the long (facet, metric, value) schema —
    * the same composition Dedup.dedupDesignReport does over the
    * operators. The planner CTEs run ONCE at the outer level; the
    * chosen rows-per-band feeds the three candidate-set facets' band
    * CTEs as a scalar subquery (the q_planned_lsh_pairs composition),
    * so the lsh_scheme facet names exactly the scheme that produced the
    * adjudicated candidate set, whatever the planner picks.
    */
  private lazy val dedupDesignReportOracle: String = {
    val rDiv = "(SELECT r FROM design_chosen)"
    s"""WITH ${lshPlannerCtes(12, 700L)},
         design_chosen AS MATERIALIZED (SELECT b, r FROM u
           ORDER BY fp_mass_u + fn_mass_u, b LIMIT 1),
         pl AS MATERIALIZED (SELECT b, r,
             fp_mass_u + fn_mass_u AS cost_u,
             row_number() OVER (ORDER BY fp_mass_u + fn_mass_u, b) = 1
               AS chosen
           FROM u),
         ts AS MATERIALIZED (${dedupThresholdSweepOracleFor(rDiv)}),
         cr AS MATERIALIZED (${captureRecaptureOracleFor(rDiv)}),
         sv AS MATERIALIZED (${dedupSurvivorshipOracleFor(rDiv)})
         SELECT facet, metric, value FROM (
           SELECT 'lsh_scheme' AS facet, 'bands' AS metric,
             CAST(b AS BIGINT) AS value FROM pl WHERE chosen
           UNION ALL SELECT 'lsh_scheme', 'rows_per_band',
             CAST(r AS BIGINT) FROM pl WHERE chosen
           UNION ALL SELECT 'lsh_scheme', 'cost_u', cost_u
             FROM pl WHERE chosen
           UNION ALL SELECT 'threshold_7000bp', 'n_pairs', n_pairs
             FROM ts WHERE thr_bp = 7000
           UNION ALL SELECT 'threshold_7000bp', 'n_docs_dropped',
             n_docs_dropped FROM ts WHERE thr_bp = 7000
           UNION ALL SELECT 'threshold_7000bp', 'loss_bp', loss_bp
             FROM ts WHERE thr_bp = 7000
           UNION ALL SELECT 'capture_recapture', 'chapman_est',
             chapman_est FROM cr
           UNION ALL SELECT 'capture_recapture', 'est_missed',
             est_missed FROM cr
           UNION ALL SELECT 'capture_recapture', 'minhash_recall_ppm',
             minhash_recall_ppm FROM cr
           UNION ALL SELECT 'capture_recapture', 'simhash_recall_ppm',
             simhash_recall_ppm FROM cr
           UNION ALL SELECT 'survivorship', 'ks_bp', ks_bp FROM sv
           UNION ALL SELECT 'survivorship', 'mean_qu_surv',
             mean_qu_surv FROM sv
           UNION ALL SELECT 'survivorship', 'mean_qu_vict',
             mean_qu_vict FROM sv)
         ORDER BY facet, metric"""
  }

  /** Planner-driven pair oracle: the planner CTEs pick the cost-argmin
    * (b, r), and the SAME minhash band CTEs re-band with the chosen
    * rows-per-band via a scalar subquery — composing the q_lsh_planner
    * and q_minhash_lsh_pairs oracles exactly like Dedup.plannedLshPairs
    * composes the operators.
    */
  private def plannedLshPairsOracle(numHashes: Int,
                                    thresholdMilli: Long): String =
    s"""WITH ${lshPlannerCtes(numHashes, thresholdMilli)},
         chosen AS (SELECT b, r FROM u
           ORDER BY fp_mass_u + fn_mass_u, b LIMIT 1),
         $minhashMhCtes,
         ${minhashBandsCte("(SELECT r FROM chosen)")}
         SELECT DISTINCT ba.doc_id AS doc_a, bb.doc_id AS doc_b, c.b, c.r
         FROM bands ba JOIN bands bb
           ON ba.band = bb.band AND ba.sig = bb.sig
             AND ba.doc_id < bb.doc_id
         CROSS JOIN chosen c
         ORDER BY doc_a, doc_b"""

  /** Earliest-arrival oracle: RAPTOR-style label-relaxation rounds of
    * ArrivalsQuery.earliestArrivals unrolled as generated CTEs over the
    * fixture feed (origin S1, 08:00, service day 2019-02-21). Ride legs
    * are trip SUFFIXES (board call i, alight any later call j), exactly
    * like the engine's seq-inequality self-join.
    */
  /** Shared relaxation-round CTE prefix (through l<rounds>) for the
    * earliest-arrival and arrival-profile oracles — one generator, so
    * the two queries' round semantics cannot drift.
    */
  private def gtfsEarliestArrivalCtes(rounds: Int): String = {
    val rcte = (1 to rounds).map { i =>
      s"""l$i AS (SELECT run_id, stop_id, CAST(min(cand) AS BIGINT) AS best
         FROM (
           SELECT run_id, stop_id, best AS cand FROM l${i - 1}
           UNION ALL SELECT g.run_id, g.to_stop AS stop_id, g.arr AS cand
             FROM l${i - 1} l JOIN legs g ON g.run_id = l.run_id
               AND g.from_stop = l.stop_id AND l.best <= g.dep
           UNION ALL SELECT f.run_id, f.to_stop_id AS stop_id,
               l.best + f.mtt AS cand
             FROM l${i - 1} l JOIN foot f ON f.run_id = l.run_id
               AND f.from_stop_id = l.stop_id)
         GROUP BY 1, 2)"""
    }.mkString(",\n         ")
    s"""$gtfsArrivalCtes,
         act AS (SELECT DISTINCT run_id, trip_id FROM unioned
           WHERE service_date = DATE '2019-02-21'),
         calls AS (SELECT st.run_id, st.trip_id, st.stop_id,
             CAST(st.arrival_time AS BIGINT) AS arr_t,
             CAST(st.departure_time AS BIGINT) AS dep_t,
             row_number() OVER (PARTITION BY st.run_id, st.trip_id
               ORDER BY st.arrival_time, st.stop_id) AS seq
           FROM st JOIN act USING (run_id, trip_id)),
         legs AS (SELECT bd.run_id, bd.stop_id AS from_stop,
             bd.dep_t AS dep, al.stop_id AS to_stop, al.arr_t AS arr
           FROM calls bd JOIN calls al ON al.run_id = bd.run_id
             AND al.trip_id = bd.trip_id AND bd.seq < al.seq),
         tx(run_id, from_stop_id, to_stop_id, transfer_type,
             min_transfer_time) AS (VALUES
             (1, 'S1', 'S2', 2, 300), (1, 'S2', 'S1', 0, NULL),
             (1, 'S1', 'S3', 3, 0)),
         foot AS (SELECT run_id, from_stop_id, to_stop_id,
             CAST(coalesce(min_transfer_time, 0) AS BIGINT) AS mtt
           FROM tx WHERE coalesce(transfer_type, 0) <> 3),
         l0 AS (SELECT run_id, stop_id, CAST(28800 AS BIGINT) AS best
           FROM sp WHERE stop_id = 'S1'),
         $rcte"""
  }

  private def gtfsEarliestArrivalOracle(rounds: Int): String =
    s"""WITH ${gtfsEarliestArrivalCtes(rounds)}
         SELECT CAST(sp.run_id AS BIGINT) AS run_id, sp.stop_id,
           sp.stop_name, lr.best AS arr_secs,
           CASE WHEN lr.best IS NULL THEN NULL
             ELSE strftime(CAST(DATE '2019-02-21' AS TIMESTAMP)
               + lr.best * INTERVAL 1 SECOND,
               '%Y-%m-%d %H:%M:%S.%f') || '0' END AS arr_time
         FROM sp LEFT JOIN l$rounds lr
           ON lr.run_id = sp.run_id AND lr.stop_id = sp.stop_id
         ORDER BY sp.run_id, sp.stop_id"""

  /** RAPTOR profile oracle: the same relaxation CTEs, one SELECT per
    * leg budget k emitting l<k>'s cumulative labels.
    */
  private def gtfsArrivalProfileOracle(rounds: Int): String = {
    val perRound = (1 to rounds).map { k =>
      s"""SELECT run_id, stop_id, CAST($k AS BIGINT) AS n_legs, best
         FROM l$k"""
    }.mkString("\n         UNION ALL ")
    s"""WITH ${gtfsEarliestArrivalCtes(rounds)},
         pr AS ($perRound)
         SELECT CAST(sp.run_id AS BIGINT) AS run_id, sp.stop_id,
           sp.stop_name, pr.n_legs, pr.best AS arr_secs
         FROM pr JOIN sp ON sp.run_id = pr.run_id
           AND sp.stop_id = pr.stop_id
         ORDER BY sp.run_id, sp.stop_id, pr.n_legs"""
  }

  /** Removal-effect attribution oracle: the exact ppm value-iteration
    * rounds of Events.markovAttribution unrolled as generated CTEs over
    * a (removed-channel × state) grid — one CTE per round, the removal
    * variants riding as grid rows rather than per-channel CTE chains.
    */
  private def markovAttributionOracle(target: String, iters: Int): String = {
    val rounds = (1 to iters).map { i =>
      s"""p$i AS MATERIALIZED (SELECT g.rc, g.t,
           CAST(coalesce(x.acc, 0) AS BIGINT) AS pv
         FROM grid g LEFT JOIN (
           SELECT mm.rc, mm.from_t,
             CAST(sum(mm.p_ppm * (CASE WHEN mm.to_t = '__conv'
               THEN 1000000 WHEN mm.to_t = '__null' THEN 0
               ELSE coalesce(pp.pv, 0) END)) // 1000000 AS BIGINT) AS acc
           FROM mrc mm LEFT JOIN p${i - 1} pp
             ON pp.rc = mm.rc AND pp.t = mm.to_t
           GROUP BY 1, 2) x ON x.rc = g.rc AND x.from_t = g.t)"""
    }.mkString(",\n       ")
    s"""WITH ev AS (SELECT user_id, event_type, ts, event_id,
           coalesce(sum(CASE WHEN event_type = '$target' THEN 1 ELSE 0 END)
             OVER (PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS jid
         FROM events),
       tr AS (SELECT
           coalesce(lag(event_type) OVER wj, '__start') AS from_t,
           CASE WHEN event_type = '$target' THEN '__conv'
             ELSE event_type END AS to_t,
           lead(event_type) OVER wj AS nxt, event_type AS et
         FROM ev WINDOW wj AS (PARTITION BY user_id, jid
           ORDER BY ts, event_id)),
       st AS (SELECT from_t, to_t FROM tr
         UNION ALL SELECT et, '__null' FROM tr
           WHERE nxt IS NULL AND et <> '$target'),
       c AS MATERIALIZED (SELECT from_t, to_t, CAST(count(*) AS BIGINT) AS n
         FROM st GROUP BY 1, 2),
       ot AS (SELECT from_t, CAST(sum(n) AS BIGINT) AS tot FROM c GROUP BY 1),
       m AS MATERIALIZED (SELECT c.from_t, c.to_t,
           CAST(n * 1000000 // tot AS BIGINT) AS p_ppm
         FROM c JOIN ot USING (from_t)),
       ch AS MATERIALIZED (SELECT DISTINCT t FROM (
           SELECT from_t AS t FROM c WHERE from_t <> '__start'
           UNION SELECT to_t FROM c WHERE to_t NOT IN ('__conv', '__null'))),
       rcs AS MATERIALIZED (SELECT '__none' AS rc UNION ALL SELECT t FROM ch),
       mrc AS MATERIALIZED (SELECT r.rc, m.from_t,
           CASE WHEN m.to_t = r.rc THEN '__null' ELSE m.to_t END AS to_t,
           CAST(sum(p_ppm) AS BIGINT) AS p_ppm
         FROM m CROSS JOIN rcs r WHERE m.from_t <> r.rc GROUP BY 1, 2, 3),
       grid AS MATERIALIZED (SELECT r.rc, g.t
         FROM rcs r CROSS JOIN (SELECT '__start' AS t
           UNION ALL SELECT t FROM ch) g
         WHERE g.t <> r.rc),
       p0 AS MATERIALIZED (SELECT rc, t, CAST(0 AS BIGINT) AS pv FROM grid),
       $rounds,
       pf AS (SELECT pv AS p_full FROM p$iters
         WHERE rc = '__none' AND t = '__start'),
       re AS (SELECT rc AS channel, pv AS p_removed, p_full,
           p_full - pv AS removal
         FROM p$iters CROSS JOIN pf WHERE rc <> '__none' AND t = '__start'),
       sp AS (SELECT CAST(sum(CASE WHEN removal > 0 THEN removal ELSE 0 END)
           AS BIGINT) AS spos FROM re),
       nout AS (SELECT from_t AS channel, CAST(sum(n) AS BIGINT) AS n_out
         FROM c WHERE from_t <> '__start' GROUP BY 1)
       SELECT r.channel, n.n_out,
         CAST(p_full AS BIGINT) AS p_full_ppm,
         CAST(p_removed AS BIGINT) AS p_removed_ppm,
         CAST(removal AS BIGINT) AS removal_ppm,
         CAST(CASE WHEN spos > 0 AND removal > 0
           THEN removal * 1000000 // spos ELSE 0 END AS BIGINT) AS attr_ppm
       FROM re r JOIN nout n USING (channel) CROSS JOIN sp
       ORDER BY r.channel"""
  }

  /** Absorption-steps oracle: the exact milli-step value-iteration
    * rounds of Events.absorptionSteps unrolled as generated CTEs.
    */
  private def absorptionStepsOracle(target: String, iters: Int): String = {
    val rounds = (1 to iters).map { i =>
      s"""e$i AS MATERIALIZED (SELECT s.t,
           CAST(CASE WHEN s.t = '$target' THEN 0
             ELSE 1000 + coalesce(x.acc, 0) END AS BIGINT) AS ev
         FROM states s LEFT JOIN (
           SELECT m.from_type AS t,
             CAST(sum(m.p_ppm * e.ev) // 1000000 AS BIGINT) AS acc
           FROM m JOIN e${i - 1} e ON e.t = m.to_type GROUP BY 1) x
           ON x.t = s.t)"""
    }.mkString(",\n         ")
    s"""WITH pr AS (SELECT user_id, event_type AS from_type,
           lead(event_type) OVER (PARTITION BY user_id
             ORDER BY ts, event_id) AS to_type
         FROM events),
       c AS (SELECT from_type, to_type, CAST(count(*) AS BIGINT) AS n
         FROM pr WHERE to_type IS NOT NULL GROUP BY 1, 2),
       states AS MATERIALIZED (SELECT DISTINCT from_type AS t FROM c),
       cl AS (SELECT c.* FROM c JOIN states s ON s.t = c.to_type),
       ot AS (SELECT from_type, CAST(sum(n) AS BIGINT) AS tot
         FROM cl GROUP BY 1),
       m AS MATERIALIZED (SELECT cl.from_type, cl.to_type,
           CAST(n * 1000000 // tot AS BIGINT) AS p_ppm
         FROM cl JOIN ot USING (from_type)),
       e0 AS MATERIALIZED (SELECT t, CAST(0 AS BIGINT) AS ev
         FROM states),
       $rounds,
       emp AS (SELECT from_type AS t, CAST(sum(n) AS BIGINT) AS n_out
         FROM c GROUP BY 1)
       SELECT s.t AS event_type, emp.n_out, e.ev AS e_steps_milli
       FROM states s JOIN emp ON emp.t = s.t
         JOIN e$iters e ON e.t = s.t
       ORDER BY event_type"""
  }

  /** Integer-autocorrelation dominant-period oracle: lead columns and
    * exact ppm rho generated from the same maxLag as
    * Relational.dominantPeriod.
    */
  private def dominantPeriodOracle(maxLag: Int): String = {
    val leads = (1 to maxLag).map(k => s"lead(y, $k) OVER w AS y$k")
      .mkString(", ")
    val gs = (1 to maxLag).map(k =>
      s"CAST(sum(CAST(y0 AS HUGEINT) * y$k) AS HUGEINT) AS g$k")
      .mkString(", ")
    val unions = (1 to maxLag).map(k =>
      s"SELECT g0, $k AS lag_k, g$k AS gamma FROM a")
      .mkString(" UNION ALL ")
    s"""WITH daily AS (SELECT CAST(o_orderdate AS DATE) AS day,
         CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
           AS cents FROM orders GROUP BY 1),
       st AS (SELECT CAST(count(*) AS BIGINT) AS n,
         CAST(sum(cents) AS BIGINT) AS s FROM daily),
       y AS (SELECT day, n * cents - s AS y FROM daily CROSS JOIN st),
       l AS (SELECT y AS y0, $leads FROM y WINDOW w AS (ORDER BY day)),
       a AS (SELECT CAST(sum(CAST(y0 AS HUGEINT) * y0) AS HUGEINT) AS g0,
           $gs
         FROM l),
       stk AS ($unions),
       r AS (SELECT lag_k,
           CAST((gamma * 1000000 + 1000000 * g0) // g0
             - 1000000 AS BIGINT) AS rho_u FROM stk),
       b AS (SELECT lag_k AS best_lag FROM r
         ORDER BY rho_u DESC, lag_k LIMIT 1)
       SELECT CAST(lag_k AS BIGINT) AS lag_k, rho_u,
         lag_k = best_lag AS dominant
       FROM r CROSS JOIN b ORDER BY lag_k"""
  }

  /** Haar wavelet-energy oracle: the exact integer pair-sum/difference
    * cascade of Relational.haarEnergy unrolled as generated CTEs (one
    * h/g pair per level) — generated so every level's even/odd split
    * and the BIGINT casts are written once and cannot drift from the
    * Scala loop.
    */
  private def haarEnergyOracle(levels: Int): String = {
    val rounds = (1 to levels).map { i =>
      s"""h$i AS (SELECT idx // 2 AS idx,
           CAST(sum(CASE WHEN idx % 2 = 0 THEN v ELSE 0 END) AS BIGINT) AS ev,
           CAST(sum(CASE WHEN idx % 2 = 1 THEN v ELSE 0 END) AS BIGINT) AS od
         FROM g${i - 1} GROUP BY 1),
       g$i AS (SELECT idx, ev + od AS v, ev - od AS d FROM h$i)"""
    }.mkString(",\n       ")
    val energies = (1 to levels).map { i =>
      s"""SELECT CAST($i AS INT) AS level,
           CAST(count(*) AS BIGINT) AS n_coeffs,
           CAST(sum(d * d) AS BIGINT) AS energy FROM g$i"""
    }.mkString("\n       UNION ALL ")
    s"""WITH dc AS (SELECT CAST(o_orderdate AS DATE) AS day,
         count(*) AS c FROM orders GROUP BY 1),
       mn AS (SELECT min(day) AS d0 FROM dc),
       cal AS (SELECT unnest(generate_series(0, ${(1 << levels) - 1})) AS idx),
       g0 AS (SELECT idx, CAST(coalesce(c, 0) AS BIGINT) AS v
         FROM cal CROSS JOIN mn
         LEFT JOIN dc ON dc.day = mn.d0 + CAST(idx AS INT)),
       $rounds
       SELECT level, n_coeffs, energy FROM (
         $energies) ORDER BY level"""
  }

  /** The GtfsFixture feed as literal VALUES CTEs (cal/cd/tr/st/sp) —
    * MUST mirror graft.gtfs.GtfsFixture row for row; the fixture IS the
    * table, since the driver's testdata has no GTFS-shaped parquet.
    */
  private val gtfsValuesCtes =
    """cal(run_id, service_id, monday, tuesday, wednesday,
             thursday, friday, saturday, sunday, start_date, end_date)
           AS (VALUES
             (1, 'WD', true, true, true, true, true, false, false,
              20190201, 20190331),
             (1, 'WE', false, false, false, false, false, true, true,
              20190201, 20190331),
             (1, 'EXP', true, true, true, true, true, true, true,
              20190201, 20190218)),
         cd(run_id, service_id, dt, exception_type) AS (VALUES
             (1, 'WD', 20190220, 2), (1, 'WE', 20190220, 1),
             (1, 'WD', 20190219, 1), (1, 'XTRA', 20190221, 1)),
         tr(run_id, service_id, trip_id) AS (VALUES
             (1, 'WD', 'T1'), (1, 'WE', 'T2'), (1, 'EXP', 'T3'),
             (1, 'XTRA', 'T4')),
         st0(run_id, trip_id, arrival_time, stop_id) AS (VALUES
             (1, 'T1', 30615, 'S1'), (1, 'T1', 90600, 'S2'),
             (1, 'T2', 36000, 'S1'), (1, 'T2', 36600, 'S2'),
             (1, 'T3', 32400, 'S3'), (1, 'T3', 34200, 'S1'),
             (1, 'T4', 32400, 'S2'), (1, 'T4', 39600, 'S1')),
         st AS (SELECT *, arrival_time + 60 AS departure_time FROM st0),
         sp(run_id, stop_id, stop_name, stop_lat, stop_lon) AS (VALUES
             (1, 'S1', 'Alexanderplatz', CAST(52.52437 AS DOUBLE),
              CAST(13.41053 AS DOUBLE)),
             (1, 'S2', 'Potsdam Hbf', CAST(52.39886 AS DOUBLE),
              CAST(13.06566 AS DOUBLE)),
             (1, 'S3', 'Outer Rim', CAST(48.13743 AS DOUBLE),
              CAST(11.57549 AS DOUBLE)))"""

  /** The full arrivals expansion over [[gtfsValuesCtes]] (window
    * 2019-02-18 .. 2019-02-25 exclusive, weekday flags, validity,
    * type-1/2 exceptions) ending in `unioned` — shared by the arrivals
    * and transfer-connection oracles.
    */
  private val gtfsArrivalCtes =
    s"""$gtfsValuesCtes,
         days AS (SELECT CAST(unnest(generate_series(DATE '2019-02-18',
             DATE '2019-02-24', INTERVAL 1 DAY)) AS DATE) AS d),
         joined AS (SELECT cal.run_id, cal.service_id, monday, tuesday,
             wednesday, thursday, friday, saturday, sunday, start_date,
             end_date, tr.trip_id, st.arrival_time, st.stop_id,
             sp.stop_name, sp.stop_lat, sp.stop_lon
           FROM cal JOIN tr USING (run_id, service_id)
             JOIN st USING (run_id, trip_id)
             JOIN sp USING (run_id, stop_id)
           WHERE end_date >= 20190218 AND start_date < 20190225),
         reg0 AS (SELECT j.*, days.d AS service_date
           FROM joined j CROSS JOIN days
           WHERE (CASE isodow(days.d) WHEN 1 THEN monday
               WHEN 2 THEN tuesday WHEN 3 THEN wednesday
               WHEN 4 THEN thursday WHEN 5 THEN friday
               WHEN 6 THEN saturday ELSE sunday END)
             AND CAST(strftime(days.d, '%Y%m%d') AS INT)
               BETWEEN start_date AND end_date),
         reg AS (SELECT * FROM reg0 r WHERE NOT EXISTS (
           SELECT 1 FROM cd WHERE cd.exception_type = 2
             AND cd.run_id = r.run_id AND cd.service_id = r.service_id
             AND CAST(strptime(CAST(cd.dt AS VARCHAR), '%Y%m%d') AS DATE)
               = r.service_date)),
         addd AS (SELECT run_id, service_id,
             CAST(strptime(CAST(dt AS VARCHAR), '%Y%m%d') AS DATE)
               AS service_date
           FROM cd WHERE exception_type = 1
             AND dt >= 20190218 AND dt < 20190225),
         added AS (SELECT tr.run_id, tr.service_id, tr.trip_id,
             st.arrival_time, st.stop_id, sp.stop_name, sp.stop_lat,
             sp.stop_lon, a.service_date
           FROM tr JOIN st USING (run_id, trip_id)
             JOIN sp USING (run_id, stop_id)
             JOIN addd a USING (run_id, service_id)
             LEFT JOIN cal USING (run_id, service_id)
           WHERE NOT coalesce(cal.start_date IS NOT NULL
             AND (CASE isodow(a.service_date) WHEN 1 THEN monday
               WHEN 2 THEN tuesday WHEN 3 THEN wednesday
               WHEN 4 THEN thursday WHEN 5 THEN friday
               WHEN 6 THEN saturday ELSE sunday END)
             AND CAST(strftime(a.service_date, '%Y%m%d') AS INT)
               BETWEEN cal.start_date AND cal.end_date, false)),
         unioned AS (SELECT run_id, service_id, trip_id, stop_id,
             stop_name, arrival_time, stop_lat, stop_lon, service_date
           FROM reg
           UNION ALL SELECT run_id, service_id, trip_id, stop_id,
             stop_name, arrival_time, stop_lat, stop_lon, service_date
           FROM added)"""

  private val EmbLshSigCte =
    s"""$EmbLshPlSgCte,
       cand AS (SELECT DISTINCT x.vec_id AS vec_a, y.vec_id AS vec_b
         FROM sg x JOIN sg y
           ON x.band = y.band AND x.sig = y.sig AND x.vec_id < y.vec_id)"""

  /** Decoded-media feature + banded-LSH fragments for q_media_neardup —
    * the 8-dim twin of [[EmbLshSigCte]] (8 bands × the width
    * autoPlanesPerBand yields at the oracle SFs, which is the floor 4 —
    * same convention as the embedding oracle). Features mirror
    * Multimodal.FakeDecoder: per residue class mod 8, the exact integer
    * byte sum (documents are ASCII, so byte i = unicode of char i), one
    * float division at the end; centering is the explicit left-to-right
    * 8-term mean the engine writes out. Zero vectors drop before
    * banding on both sides.
    */
  private val MediaFeatureCtes =
    """fe AS (SELECT doc_id AS vec_id,
           list_transform(generate_series(0, 7), j ->
             CAST(coalesce(list_sum(list_transform(generate_series(1, length(text)),
               i -> CASE WHEN (i - 1) % 8 = j THEN unicode(text[i:i]) ELSE 0 END)), 0)
               / 255.0 AS FLOAT)) AS vf
         FROM documents),
       ed AS (SELECT vec_id, CAST(vf AS DOUBLE[]) AS vd FROM fe),
       e AS (SELECT vec_id, list_transform(vd,
             x -> x - (vd[1]+vd[2]+vd[3]+vd[4]+vd[5]+vd[6]+vd[7]+vd[8]) / 8.0) AS v
         FROM ed),
       e2 AS (SELECT vec_id, v FROM e WHERE list_dot_product(v, v) > 0),
       pl AS (SELECT j, list(comp ORDER BY d) AS p FROM (
           SELECT j, d,
             (CAST(concat('0x', substring(md5(concat(CAST(j AS VARCHAR), ':', CAST(d AS VARCHAR))), 1, 15)) AS BIGINT) % 2001 - 1000) / 1000.0 AS comp
           FROM (SELECT unnest(generate_series(0, 31)) AS j),
                (SELECT unnest(generate_series(0, 7)) AS d))
         GROUP BY j),
       sg AS (SELECT vec_id, j // 4 AS band,
           sum(CASE WHEN list_dot_product(v, p) > 0 THEN (1 << (j % 4)) ELSE 0 END) AS sig
         FROM e2, pl GROUP BY vec_id, j // 4),
       cand AS (SELECT DISTINCT x.vec_id AS vec_a, y.vec_id AS vec_b
         FROM sg x JOIN sg y
           ON x.band = y.band AND x.sig = y.sig AND x.vec_id < y.vec_id)"""

  /** BPE oracle fragments: the word-frequency seed and one unrolled
    * merge round — generated so every round's pair counting, argmax
    * tie-break, and left-to-right `replace` rewrite are written once and
    * cannot drift between rounds or from the Spark loop.
    */
  private val bpeSeedCtes =
    s"""bpe_words AS (SELECT word, count(*) AS cnt FROM (
           SELECT unnest($toks) AS word FROM documents)
         WHERE regexp_matches(word, '^[a-z]+$$') GROUP BY 1),
       v0 AS (SELECT ' ' || array_to_string(regexp_extract_all(word, '[a-z]'), ' ') || ' ' AS w, cnt
         FROM bpe_words)"""

  private def bpeRoundCtes(i: Int): String =
    s"""p$i AS (SELECT pr, sum(cnt) AS total FROM (
           SELECT unnest(list_transform(generate_series(1, len(a) - 1),
             j -> a[j] || ' ' || a[j + 1])) AS pr, cnt
           FROM (SELECT string_split(trim(w), ' ') AS a, cnt FROM v${i - 1})
           WHERE len(a) >= 2) GROUP BY 1),
       b$i AS (SELECT pr, total FROM p$i ORDER BY total DESC, pr LIMIT 1),
       v$i AS (SELECT replace(w, ' ' || pr || ' ', ' ' || replace(pr, ' ', '') || ' ') AS w, cnt
         FROM v${i - 1}, b$i)"""

  private def bpeStepSelect(i: Int): String =
    s"""SELECT $i AS step, pr AS pair, replace(pr, ' ', '') AS merged,
       CAST(total AS BIGINT) AS cnt FROM b$i"""

  /** Encode-side fragments for q_bpe_encode / q_packing_encoded —
    * generated from the same round CTEs as training so the merge
    * application order and `replace` semantics are written once. The
    * k merges are applied innermost-first (step 1 innermost = first),
    * per WORD, never whole-document: a global rewrite could consume a
    * word-final space and let a later merge match across a boundary.
    */
  private def bpeApplySql(spelled: String): String =
    (1 to 5).foldLeft(spelled)((acc, i) =>
      s"replace($acc,\n ' ' || b$i.pr || ' ', ' ' || replace(b$i.pr, ' ', '') || ' ')")

  // CASE order = step order (first-match-wins), mirroring the engine's
  // reversed when-chain; letters fall through to alphabet position
  private def bpeIdCaseSql(sym: String = "s"): String =
    s"""CASE ${(1 to 5).map(i =>
        s"WHEN $sym = replace(b$i.pr, ' ', '') THEN ${25 + i}").mkString(" ")}
       ELSE ascii($sym) - 97 END"""

  // id → symbol, the inverse of bpeIdCaseSql (26+i → step-i merged
  // symbol, letters fall through to chr) — the decode half of the
  // q_bpe_roundtrip oracle
  private def bpeSymCaseSql(id: String = "id"): String =
    s"""CASE ${(1 to 5).map(i =>
        s"WHEN $id = ${25 + i} THEN replace(b$i.pr, ' ', '')").mkString(" ")}
       ELSE chr($id + 97) END"""

  /** Per-doc encoded symbol list: filter to the trained `^[a-z]+$` word
    * population, spell, apply merges, split back to symbols, flatten.
    */
  private def bpeSymsCte: String =
    s"""encw AS (SELECT doc_id, lang, list_transform(
           list_filter($toks, w -> regexp_matches(w, '^[a-z]+$$')),
           w -> ${bpeApplySql("' ' || array_to_string(regexp_extract_all(w, '[a-z]'), ' ') || ' '")}) AS ws
         FROM documents, b1, b2, b3, b4, b5),
       syms AS (SELECT doc_id, lang,
           flatten(list_transform(ws, w -> string_split(trim(w), ' '))) AS syms
         FROM encw)"""

  /** One unrolled BFS min-relaxation round for the q_neardup_hops
    * oracle: current distances unioned with every neighbor's
    * distance + 1, min per node.
    */
  private def bfsRoundCte(prev: String, next: String): String =
    s"""$next AS (SELECT v, min(hops) AS hops FROM (
         SELECT v, hops FROM $prev
         UNION ALL SELECT e.a AS v, $prev.hops + 1 AS hops
         FROM e JOIN $prev ON e.b = $prev.v) GROUP BY v)"""

  /** One unrolled PageRank round for the q_neardup_pagerank oracle —
    * generated so every round's integer arithmetic (rank div degree,
    * 0.85 damping as `(85 * sum) // 100`) is written once and cannot
    * drift between rounds or from the Spark loop's expressions.
    */
  private def prIterCte(prev: String, next: String): String =
    s"""$next AS (SELECT d0.doc_id,
         15000 + (85 * coalesce(s.c, 0)) // 100 AS r
       FROM docs0 d0 LEFT JOIN (
         SELECT e.dst AS doc_id, sum($prev.r // deg.d) AS c
         FROM e JOIN $prev ON $prev.doc_id = e.src
           JOIN deg ON deg.src = e.src
         GROUP BY 1) s ON s.doc_id = d0.doc_id)"""

  /** Cross-doc duplicated-span CTE chain (docs → 8-gram occurrences →
    * duplicated shingles → merged islands, ends at sp(doc_id, isl, s, e))
    * — shared by the q_span_scrub stats and q_span_scrub_clean rebuild
    * oracles.
    */
  /** Winnowing selection CTE chain (docs → 4-gram hashes → sortable
    * (hash ‖ 10⁹−pos) keys → window-of-4 min → decoded selections, ends
    * at wsel(doc_id, h, pos)) — shared by the q_winnow_fingerprints and
    * q_winnow_pairs oracles, mirroring `TextOps.winnowSelected` (k=4,
    * w=4, rightmost-min tie rule via the reversed-position key).
    */
  private lazy val winnowCtes =
    s"""docs AS (SELECT doc_id, $toks AS toks FROM documents),
       wg AS (SELECT doc_id, i AS pos,
           md5(array_to_string(toks[i:i+3], ' ')) AS h
         FROM (SELECT doc_id, toks,
             unnest(generate_series(1, len(toks) - 3)) AS i
           FROM docs WHERE len(toks) >= 4)),
       wk AS (SELECT doc_id, pos,
           h || lpad(CAST(1000000000 - pos AS VARCHAR), 10, '0') AS kk
         FROM wg),
       wmin AS (SELECT doc_id, pos,
           min(kk) OVER (PARTITION BY doc_id ORDER BY pos
             ROWS BETWEEN 3 PRECEDING AND CURRENT ROW) AS sk
         FROM wk),
       wsel AS (SELECT DISTINCT doc_id, substring(sk, 1, 32) AS h,
           1000000000 - CAST(substring(sk, 33, 10) AS BIGINT) AS pos
         FROM wmin WHERE pos >= 4)"""

  private lazy val spanScrubCtes =
    s"""docs AS (SELECT doc_id, $toks AS toks FROM documents),
       occ AS (SELECT doc_id, i AS st, i + 7 AS en,
           md5(array_to_string(toks[i:i+7], ' ')) AS h
         FROM (SELECT doc_id, toks,
             unnest(generate_series(1, len(toks) - 7)) AS i
           FROM docs WHERE len(toks) >= 8)),
       dup AS (SELECT h FROM occ GROUP BY h
         HAVING count(DISTINCT doc_id) >= 2),
       iv AS (SELECT doc_id, st, en FROM occ JOIN dup USING (h)),
       m AS (SELECT doc_id, st, en,
           CASE WHEN st > coalesce(max(en) OVER (PARTITION BY doc_id
               ORDER BY st ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
               -1) THEN 1 ELSE 0 END AS newi
         FROM iv),
       isl AS (SELECT doc_id, st, en,
           sum(newi) OVER (PARTITION BY doc_id ORDER BY st
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS isl
         FROM m),
       sp AS (SELECT doc_id, isl, min(st) AS s, max(en) AS e
         FROM isl GROUP BY doc_id, isl)"""

  /** Per-document fixed-point LM cross-entropy CTE chain (train-split
    * bigram model scoring every doc, ends at pd2(doc_id, n_bigrams,
    * xent_u)) — shared by the q_surprisal_filter and q_mixture_reweight
    * oracles, mirroring `TextOps.surprisalPerDoc`.
    */
  private lazy val surprisalPerDocCtes =
    s"""docs AS (SELECT doc_id,
         CAST(concat('0x', substring(md5(concat('split:', CAST(doc_id AS VARCHAR))), 1, 15)) AS BIGINT) % 100 AS bucket,
         $toks AS toks FROM documents),
       tg AS (${bigramUnnest("bucket < 80")}),
       cab AS (SELECT g, count(*) AS c_ab FROM tg GROUP BY g),
       tu AS (SELECT unnest(toks) AS a FROM docs WHERE bucket < 80),
       ca AS (SELECT a, count(*) AS c_a FROM tu GROUP BY a),
       voc AS (SELECT count(*) AS v FROM ca),
       ev AS (${bigramUnnest("TRUE")}),
       sc AS (SELECT ev.doc_id,
           CAST(round(-ln(CAST(coalesce(c_ab, 0) + 1 AS DOUBLE) /
             CAST(coalesce(c_a, 0) + v AS DOUBLE)) * 1000000.0) AS BIGINT)
             AS lp_u
         FROM ev
         LEFT JOIN cab USING (g)
         LEFT JOIN ca ON split_part(ev.g, ' ', 1) = ca.a
         CROSS JOIN voc),
       pd AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
           CAST(sum(lp_u) AS BIGINT) AS slp
         FROM sc GROUP BY doc_id),
       pd2 AS (SELECT doc_id, n_bigrams,
           CAST(slp // n_bigrams AS BIGINT) AS xent_u FROM pd)"""

  /** Conjunctive keyword search oracle — shared verbatim by
    * q_keyword_search and q_keyword_search_indexed: the stored-index
    * path must produce the identical result to the tokenize-per-query
    * path.
    */
  private lazy val keywordSearchSql =
    s"""SELECT doc_id, count(*) AS score
       FROM (SELECT doc_id, unnest($toks) AS tok FROM documents)
       WHERE tok IN ('vector', 'hash', 'spark')
       GROUP BY doc_id
       HAVING count(DISTINCT tok) = 3
       ORDER BY score DESC, doc_id LIMIT 25"""

  /** One DTW anti-diagonal for the q_dtw_profiles oracle: cells with
    * i+j = k take cost + least(up, left, diag) over the accumulated
    * frontier u(k−1); `least` skips NULL border predecessors in both
    * engines (verified), mirroring Stats.dtwWeekdayProfiles' wavefront
    * rounds join for join.
    */
  private def dtwRoundCtes(k: Int): String =
    s"""d$k AS MATERIALIZED (SELECT c.na, c.nb, c.i, c.j,
           c.c + least(p1.d, p2.d, p3.d) AS d
         FROM costs c
         LEFT JOIN u${k - 1} p1 ON p1.na = c.na AND p1.nb = c.nb
           AND p1.i = c.i - 1 AND p1.j = c.j
         LEFT JOIN u${k - 1} p2 ON p2.na = c.na AND p2.nb = c.nb
           AND p2.i = c.i AND p2.j = c.j - 1
         LEFT JOIN u${k - 1} p3 ON p3.na = c.na AND p3.nb = c.nb
           AND p3.i = c.i - 1 AND p3.j = c.j - 1
         WHERE c.i + c.j = $k),
       u$k AS MATERIALIZED (SELECT * FROM u${k - 1}
         UNION ALL SELECT * FROM d$k)"""

  /** One unrolled power-iteration round for the q_power_iteration
    * oracle — fixed-point matvec terms, exact-integer norm², HALF_UP
    * renormalization, mirroring `Similarity.powerIteration`'s driver
    * loop expression for expression.
    */
  private def powerRoundCtes(i: Int): String =
    s"""s$i AS (SELECT list_dot_product(v, (SELECT vl FROM vv${i - 1})) AS sc, v
         FROM e),
       t$i AS (SELECT d,
           CAST(sum(CAST(round(x * sc * 1000000.0) AS BIGINT)) AS BIGINT) AS t
         FROM (SELECT sc, unnest(generate_series(1, len(v))) AS d,
             unnest(v) AS x FROM s$i)
         GROUP BY d),
       n$i AS (SELECT CAST(sum(CAST(t AS HUGEINT) * CAST(t AS HUGEINT))
           AS HUGEINT) AS n2 FROM t$i),
       u$i AS (SELECT d,
           CAST(round(t / sqrt(CAST(n2 AS DOUBLE)) * 1000000.0) AS BIGINT)
             AS vu
         FROM t$i, n$i),
       vv$i AS (SELECT list(vu / 1000000.0 ORDER BY d) AS vl FROM u$i)"""

  /** IVF cell search oracle — shared verbatim by q_ivf_topk and
    * q_ivf_topk_indexed: the stored-index path must produce the
    * IDENTICAL result to the recompute-per-query path.
    */
  /** One unrolled greedy MMR round for the q_mmr_rerank oracle: the
    * not-yet-selected pool rows get max-similarity-to-selected from the
    * pairwise frame, and the integer score 7*cs_u - 3*ms_u picks the
    * round's winner (vec_id tie-break).
    */
  private def mmrRoundCte(r: Int): String = {
    val prev = s"sel${r - 1}"
    s"""c$r AS (SELECT p.qid, p.vec_id, p.cs_u, max(pr.sim_u) AS ms_u
         FROM pool p
         JOIN pr ON pr.qid = p.qid AND pr.a = p.vec_id
         JOIN $prev s ON s.qid = pr.qid AND s.vec_id = pr.b
         WHERE NOT EXISTS (SELECT 1 FROM $prev x
           WHERE x.qid = p.qid AND x.vec_id = p.vec_id)
         GROUP BY 1, 2, 3),
       s$r AS (SELECT qid, vec_id, $r AS rank, cs_u,
           7 * cs_u - 3 * ms_u AS score_u
         FROM (SELECT *, row_number() OVER (PARTITION BY qid
             ORDER BY 7 * cs_u - 3 * ms_u DESC, vec_id) AS rn FROM c$r)
         WHERE rn = 1),
       sel$r AS (SELECT * FROM $prev UNION ALL SELECT * FROM s$r)"""
  }

  /** Gopher keep-verdict CTE chain ending at k(doc_id, keep) with the
    * corpus-tuned required words ('the', 'a') — shared by the
    * screen-kappa and screen-AUC oracles so the label side of both
    * cross-screen metrics cannot drift.
    */
  private lazy val gopherKeepCtes =
    s"""d AS (SELECT doc_id, text, $toks AS toks,
         string_split(text, chr(10)) AS lines FROM documents),
       sc AS (SELECT doc_id,
           CAST(len(toks) AS BIGINT) AS n_words,
           CAST(coalesce(list_sum(list_transform(toks, t -> length(t))), 0)
             AS BIGINT) AS sum_len,
           CAST(length(text) - length(replace(text, '#', ''))
             + (length(text) - length(replace(text, '...', ''))) / 3
             + length(text) - length(replace(text, '…', ''))
             AS BIGINT) AS n_sym,
           CAST(len(list_filter(toks, t -> regexp_matches(t, '[a-z]')))
             AS BIGINT) AS n_alpha,
           CAST((CASE WHEN list_contains(toks, 'the') THEN 1 ELSE 0 END)
             + (CASE WHEN list_contains(toks, 'a') THEN 1 ELSE 0 END)
             AS BIGINT) AS n_stop,
           CAST(len(lines) AS BIGINT) AS n_lines,
           CAST(len(list_filter(lines,
             l -> regexp_matches(ltrim(l), '^[-*•]'))) AS BIGINT) AS n_bullet,
           CAST(len(list_filter(lines,
             l -> regexp_matches(l, '(\\.\\.\\.|…)\\s*$$'))) AS BIGINT)
             AS n_ell_end
         FROM d),
       k AS (SELECT doc_id,
           (n_words >= 50 AND n_words <= 100000)
             AND (sum_len >= 3 * n_words AND sum_len <= 10 * n_words)
             AND 10 * n_sym <= n_words AND 5 * n_alpha >= 4 * n_words
             AND n_stop >= 2 AND 10 * n_bullet <= 9 * n_lines
             AND 10 * n_ell_end <= 3 * n_lines AS keep
         FROM sc)"""

  /** Unrolled Gonzalez k-center oracle (6 rounds): d$r is the per-point
    * min fixed-point distance to the first r centers, w$r the farthest
    * point — the coverage-select unrolling style in embedding space.
    * Distances mirror vectors.l2SqFixed (1e-12 grid per element, BIGINT
    * sums, order-free).
    */
  private lazy val kCenterSql = {
    def distCte(name: String, centerCte: String): String =
      s"""$name AS (SELECT e.vec_id,
         CAST(sum(CAST(round((e.v[i] - cv[i]) * (e.v[i] - cv[i])
           * 1000000000000.0) AS BIGINT)) AS BIGINT) AS nd
         FROM e CROSS JOIN $centerCte
         CROSS JOIN (SELECT unnest(generate_series(1, 64)) AS i)
         GROUP BY e.vec_id)"""
    val rounds = (2 to 6).map { r =>
      s"""w$r AS (SELECT vec_id, md FROM d${r - 1}
         ORDER BY md DESC, vec_id LIMIT 1),
       c$r AS (SELECT v AS cv FROM e JOIN w$r USING (vec_id)),
       ${distCte(s"n$r", s"c$r")},
       d$r AS (SELECT d${r - 1}.vec_id, least(md, nd) AS md
         FROM d${r - 1} JOIN n$r USING (vec_id))"""
    }.mkString(",\n       ")
    val rows = Seq(
      s"""SELECT CAST(1 AS INT) AS round, CAST(0 AS BIGINT) AS vec_id,
         CAST(0 AS BIGINT) AS picked_d,
         (SELECT max(md) FROM d1) AS radius_after""") ++
      (2 to 6).map(r =>
        s"""SELECT CAST($r AS INT), w$r.vec_id, w$r.md,
           (SELECT max(md) FROM d$r) FROM w$r""")
    s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
         FROM embeddings),
       c1 AS (SELECT v AS cv FROM e WHERE vec_id = 0),
       ${distCte("n1", "c1")},
       d1 AS (SELECT vec_id, nd AS md FROM n1),
       $rounds
       ${rows.mkString(" UNION ALL ")}
       ORDER BY round"""
  }

  /** Unrolled greedy max-coverage oracle (6 rounds): each w$r argmaxes
    * the uncovered-shingle gain, each c$r accumulates the covered set —
    * the q_mmr_rerank unrolling style applied to submodular selection.
    */
  private lazy val coverageSelectSql = {
    val rounds = (2 to 6).map { r =>
      val pc = s"c${r - 1}"
      s"""w$r AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS gain FROM sh
         WHERE h NOT IN (SELECT h FROM $pc)
         GROUP BY doc_id ORDER BY gain DESC, doc_id LIMIT 1),
       c$r AS (SELECT h FROM $pc UNION
         SELECT h FROM sh JOIN w$r USING (doc_id))"""
    }.mkString(",\n       ")
    val unions = (1 to 6).map(r =>
      s"SELECT CAST($r AS INT) AS round, doc_id, gain FROM w$r")
      .mkString(" UNION ALL ")
    s"""WITH docs AS (SELECT doc_id, $toks AS toks FROM documents),
       sh AS (SELECT DISTINCT doc_id,
           md5(array_to_string(toks[i:i+2], ' ')) AS h
         FROM (SELECT doc_id, toks,
             unnest(generate_series(1, len(toks) - 2)) AS i
           FROM docs WHERE len(toks) >= 3)),
       tot AS (SELECT CAST(count(DISTINCT h) AS BIGINT) AS tot FROM sh),
       w1 AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS gain FROM sh
         GROUP BY doc_id ORDER BY gain DESC, doc_id LIMIT 1),
       c1 AS (SELECT DISTINCT h FROM sh JOIN w1 USING (doc_id)),
       $rounds,
       u AS ($unions),
       f AS (SELECT round, doc_id, gain,
           CAST(sum(gain) OVER (ORDER BY round) AS BIGINT) AS covered_total
         FROM u)
       SELECT round, doc_id, gain, covered_total,
         CAST(covered_total * 10000 // tot AS BIGINT) AS coverage_bp
       FROM f CROSS JOIN tot ORDER BY round"""
  }

  private val mmrRerankSql = {
    val rounds = (2 to 5).map(mmrRoundCte).mkString(",\n       ")
    s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
         FROM embeddings),
       q AS (SELECT vec_id AS qid, v AS qv FROM e WHERE vec_id < 8),
       p0 AS (SELECT qid, vec_id,
           CAST(round(list_cosine_similarity(v, qv) * 10000) AS BIGINT)
             AS cs_u
         FROM e, q WHERE vec_id <> qid),
       p1 AS (SELECT qid, vec_id, cs_u, row_number() OVER (
           PARTITION BY qid ORDER BY cs_u DESC, vec_id) AS rn FROM p0),
       pool AS (SELECT qid, vec_id, cs_u FROM p1 WHERE rn <= 20),
       pr AS (SELECT a.qid, a.vec_id AS a, b.vec_id AS b,
           CAST(round(list_cosine_similarity(av.v, bv.v) * 10000)
             AS BIGINT) AS sim_u
         FROM pool a JOIN pool b ON a.qid = b.qid AND a.vec_id <> b.vec_id
         JOIN e av ON av.vec_id = a.vec_id
         JOIN e bv ON bv.vec_id = b.vec_id),
       sel1 AS (SELECT qid, vec_id, 1 AS rank, cs_u, 7 * cs_u AS score_u
         FROM (SELECT qid, vec_id, cs_u, row_number() OVER (
             PARTITION BY qid ORDER BY cs_u DESC, vec_id) AS rn FROM pool)
         WHERE rn = 1),
       $rounds
       SELECT qid AS query_id, rank, vec_id, cs_u, score_u
       FROM sel5 ORDER BY query_id, rank"""
  }

  private val ivfTopKSql =
    """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       c AS (SELECT vec_id AS cid, v AS cv FROM e WHERE vec_id < 8),
       a AS (SELECT e.vec_id, e.v, c.cid,
           list_cosine_similarity(e.v, c.cv) AS sim FROM e, c),
       r AS (SELECT vec_id, v, cid,
           row_number() OVER (PARTITION BY vec_id ORDER BY sim DESC, cid) AS rn
         FROM a),
       asg AS (SELECT vec_id, v, cid FROM r WHERE rn = 1),
       qc AS (SELECT cid AS qcid, v AS qv FROM asg WHERE vec_id = 0)
       SELECT asg.vec_id, asg.cid,
         round(list_cosine_similarity(asg.v, qv), 4) AS cos_sim
       FROM asg, qc WHERE asg.cid = qcid AND asg.vec_id <> 0
       ORDER BY cos_sim DESC, asg.vec_id LIMIT 5"""

  /** One unrolled PERSONALIZED PageRank round for the q_eval_ppr oracle
    * — identical damping/degree arithmetic to [[prIterCte]], with the
    * uniform 15000 baseline replaced by the seed-concentrated teleport
    * from the base CTE.
    */
  private def pprIterCte(prev: String, next: String): String =
    s"""$next AS (SELECT d0.doc_id, d0.is_seed,
         CAST(CASE WHEN d0.is_seed THEN b ELSE 0 END AS BIGINT)
           + (85 * coalesce(s.c, 0)) // 100 AS r
       FROM docs0 d0 CROSS JOIN base LEFT JOIN (
         SELECT e.dst AS doc_id, sum($prev.r // deg.d) AS c
         FROM e JOIN $prev ON $prev.doc_id = e.src
           JOIN deg ON deg.src = e.src
         GROUP BY 1) s ON s.doc_id = d0.doc_id)"""

  /** One synchronous label-propagation round for the q_neardup_lpa
    * oracle — generated so every round's neighbor-label counting and
    * (count DESC, label ASC) argmax are written once and cannot drift
    * between rounds or from the Spark loop.
    */
  private def lpaRoundCtes(i: Int): String =
    s"""r$i AS (SELECT e.a AS v, l.lbl, count(*) AS c
         FROM edges e JOIN l${i - 1} l ON l.v = e.b GROUP BY 1, 2),
       l$i AS (SELECT v, lbl FROM (
           SELECT v, lbl, row_number() OVER (PARTITION BY v
             ORDER BY c DESC, lbl) AS rn FROM r$i) WHERE rn = 1)"""

  /** One gradient-descent step for the q_quality_lr oracle: hard-sigmoid
    * forward pass with the weights of CTE w(i-1) folded into the
    * expression (same left-assoc dot order as the Spark loop), per-row
    * gradients fixed-pointed to 1e-6 and summed as BIGINTs, weight
    * update in integer micro-units. Generated so all steps are the same
    * text and cannot drift from the Scala loop.
    */
  /** The hard-sigmoid forward pass with CTE-held weights — shared by
    * every GD step and the final scoring oracle.
    */
  private val lrP = {
    val z = (0 to 3)
      .map(j => s"CAST(w${j}u AS DOUBLE) / 1000000.0 * x$j")
      .mkString(" + ")
    s"greatest(0.0, least(1.0, 0.5 + 0.25 * ($z)))"
  }

  private def lrStepCtes(i: Int): String = {
    val gs = (0 to 3)
      .map(j => s"CAST(sum(CAST(round((p - y) * x$j * 1000000.0) AS BIGINT)) AS BIGINT) AS g$j")
      .mkString(", ")
    val ws = (0 to 3)
      .map(j => s"w${j}u - CAST(round(0.5 * CAST(g$j AS DOUBLE) / n) AS BIGINT) AS w${j}u")
      .mkString(", ")
    s"""g$i AS (SELECT $gs FROM (
         SELECT y, x0, x1, x2, x3, $lrP AS p
         FROM feats CROSS JOIN w${i - 1})),
       w$i AS (SELECT $ws FROM w${i - 1} CROSS JOIN g$i CROSS JOIN nn)"""
  }

  /** Feature table + zero init + the 5 unrolled GD steps — the training
    * prefix shared by the weight-history and scoring oracles.
    */
  private lazy val lrBaseCtes =
    s"""feats AS (SELECT doc_id,
         CASE WHEN list_contains(toks, 'spark') AND len(toks) >= 54
           THEN 1.0 ELSE 0.0 END AS y,
         1.0 AS x0,
         len(toks) / 100.0 AS x1,
         CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks) AS x2,
         CAST(n_chars AS DOUBLE) / len(toks) / 10.0 AS x3
       FROM (SELECT doc_id, n_chars, $toks AS toks FROM documents)),
       nn AS (SELECT count(*) AS n FROM feats),
       w0 AS (SELECT CAST(0 AS BIGINT) AS w0u, CAST(0 AS BIGINT) AS w1u,
         CAST(0 AS BIGINT) AS w2u, CAST(0 AS BIGINT) AS w3u),
       ${lrStepCtes(1)},
       ${lrStepCtes(2)},
       ${lrStepCtes(3)},
       ${lrStepCtes(4)},
       ${lrStepCtes(5)}"""

  /** One k-core peel round for the q_neardup_kcore oracle — an edge
    * survives iff BOTH endpoints currently keep ≥ k incident edges.
    * Written as windows over a single scan of the previous round (the
    * symmetrized edge set makes count-over-a ≡ count-over-b per node),
    * NOT as semi-joins: DuckDB inlines CTEs, so a round referencing its
    * predecessor twice would re-expand the whole MinHash chain 2^rounds
    * times. Generated so every round is the same text and cannot drift
    * from the Spark loop.
    */
  private def kcoreRoundCtes(i: Int, k: Int): String =
    s"""e$i AS (SELECT a, b FROM (
         SELECT a, b, count(*) OVER (PARTITION BY a) AS da,
           count(*) OVER (PARTITION BY b) AS db
         FROM e${i - 1})
       WHERE da >= $k AND db >= $k)"""

  /** A whole named peel chain (`rounds` k-core rounds from `prev`,
    * CTEs `name_1..name_rounds`) — the coreness oracle runs one chain
    * per k over the previous k's converged core (cores nest).
    */
  private def kcorePeelChain(prev: String, name: String, k: Int,
                             rounds: Int): String =
    (1 to rounds).map { i =>
      val p = if (i == 1) prev else s"${name}_${i - 1}"
      s"""${name}_$i AS (SELECT a, b FROM (
           SELECT a, b, count(*) OVER (PARTITION BY a) AS da,
             count(*) OVER (PARTITION BY b) AS db FROM $p)
         WHERE da >= $k AND db >= $k)"""
    }.mkString(",\n       ")

  /** Explicit Morton-interleave bit arithmetic for the q_zorder_key
    * oracle: bit `b` of lane `lane` (of `n` lanes) lands at result bit
    * `b * n + lane` — written out as integer terms DuckDB evaluates
    * directly, so the oracle pins the interleave contract independently
    * of the engine's ZOrderKey expression.
    */
  private def zOracleTerms(col: String, lane: Int, n: Int): String =
    (0 until 16).map(b =>
      s"(($col // ${1L << b}) % 2) * ${1L << (b * n + lane)}").mkString(" + ")

  def oracleSql: Map[String, String] = Map(
    "q_zorder_key" ->
      s"""SELECT l_orderkey, l_linenumber,
         CAST(${zOracleTerms("(l_partkey % 65536)", 0, 2)}
            + ${zOracleTerms("(l_suppkey % 65536)", 1, 2)} AS BIGINT) AS zkey
         FROM lineitem ORDER BY l_orderkey, l_linenumber""",
    "q_pricing_summary" ->
      """SELECT l_returnflag, l_linestatus,
         CAST(round(sum(CAST(l_quantity AS DECIMAL(12,2))), 2) AS DOUBLE) AS sum_qty,
         CAST(round(sum(CAST(l_extendedprice AS DECIMAL(12,2))), 2) AS DOUBLE) AS sum_base_price,
         CAST(round(sum(CAST(l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l_discount AS DECIMAL(4,2)))), 2) AS DOUBLE) AS sum_disc_price,
         CAST(round(sum(CAST(l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l_discount AS DECIMAL(4,2))) * (1 + CAST(l_tax AS DECIMAL(4,2)))), 2) AS DOUBLE) AS sum_charge,
         round(CAST(sum(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) / count(*), 4) AS avg_qty,
         round(CAST(sum(CAST(l_discount AS DECIMAL(4,2))) AS DOUBLE) / count(*), 4) AS avg_disc,
         count(*) AS count_order
         FROM lineitem
         WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
         GROUP BY l_returnflag, l_linestatus
         ORDER BY l_returnflag, l_linestatus""",
    "q_filter_project" ->
      """SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice
         FROM lineitem
         WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
           AND l_shipdate < TIMESTAMP '1996-04-01 00:00:00'
           AND l_discount > 0.05
         ORDER BY l_orderkey, l_linenumber""",
    "q_join_revenue" ->
      """SELECT l_orderkey,
         CAST(round(sum(CAST(l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l_discount AS DECIMAL(4,2)))), 2) AS DOUBLE) AS revenue,
         count(*) AS n_items
         FROM customer JOIN orders ON c_custkey = o_custkey
                       JOIN lineitem ON o_orderkey = l_orderkey
         WHERE c_mktsegment = 'BUILDING'
           AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
           AND l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
         GROUP BY l_orderkey ORDER BY l_orderkey""",
    "q_region_revenue" ->
      """SELECT r_name, n_name,
         CAST(round(sum(CAST(l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l_discount AS DECIMAL(4,2)))), 2) AS DOUBLE) AS revenue,
         count(*) AS n_items
         FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
                       JOIN nation ON s_nationkey = n_nationkey
                       JOIN region ON n_regionkey = r_regionkey
         GROUP BY r_name, n_name ORDER BY r_name, n_name""",
    "q_nation_volume" ->
      """SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
         CAST(year(l_shipdate) AS INT) AS ship_year,
         CAST(round(sum(CAST(l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l_discount AS DECIMAL(4,2)))), 2) AS DOUBLE) AS volume,
         count(*) AS n_items
         FROM lineitem
           JOIN orders ON l_orderkey = o_orderkey
           JOIN customer ON o_custkey = c_custkey
           JOIN supplier ON l_suppkey = s_suppkey
           JOIN nation n1 ON s_nationkey = n1.n_nationkey
           JOIN nation n2 ON c_nationkey = n2.n_nationkey
         WHERE n1.n_name <> n2.n_name
         GROUP BY supp_nation, cust_nation, ship_year
         ORDER BY supp_nation, cust_nation, ship_year""",
    "q_returned_items" ->
      """SELECT c_custkey, c_name, n_name,
         CAST(round(sum(CAST(l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l_discount AS DECIMAL(4,2)))), 2) AS DOUBLE) AS lost_revenue,
         count(*) AS n_returned
         FROM lineitem
           JOIN orders ON l_orderkey = o_orderkey
           JOIN customer ON o_custkey = c_custkey
           JOIN nation ON c_nationkey = n_nationkey
         WHERE l_returnflag = 'R'
         GROUP BY c_custkey, c_name, n_name
         ORDER BY lost_revenue DESC, c_custkey LIMIT 20""",
    "q_cust_without_recent_orders" ->
      """SELECT c_custkey, c_name, c_mktsegment FROM customer
         WHERE NOT EXISTS (SELECT 1 FROM orders
           WHERE o_custkey = c_custkey
             AND o_orderdate >= TIMESTAMP '2001-01-01 00:00:00')
         ORDER BY c_custkey""",
    "q_segments_with_orders" ->
      """SELECT c_mktsegment, count(*) AS n_customers,
         CAST(round(sum(CAST(c_acctbal AS DECIMAL(12,2))), 2) AS DOUBLE) AS sum_acctbal
         FROM customer
         WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
         GROUP BY c_mktsegment ORDER BY c_mktsegment""",
    "q_top_orders_per_customer" ->
      """SELECT o_custkey, CAST(rank_in_cust AS INT) AS rank_in_cust,
                o_orderkey, o_totalprice
         FROM (SELECT o_custkey, o_orderkey, o_totalprice,
                 row_number() OVER (PARTITION BY o_custkey
                   ORDER BY o_totalprice DESC, o_orderkey) AS rank_in_cust
               FROM orders)
         WHERE rank_in_cust <= 3 ORDER BY o_custkey, rank_in_cust""",
    "q_order_day_expansion" ->
      """SELECT CAST(gs AS DATE) AS d, count(*) AS n_active_orders
         FROM orders, LATERAL (SELECT unnest(generate_series(
           CAST(o_orderdate AS DATE),
           CAST(o_orderdate AS DATE) + INTERVAL 6 DAY,
           INTERVAL 1 DAY))) t(gs)
         GROUP BY 1 ORDER BY 1""",
    "q_shape_lengths" ->
      """WITH pts AS (
           SELECT user_id % 40 AS shape_id, event_id AS seq,
             52.0 + (event_id % 400) / 1000.0 AS lat,
             13.0 + ((event_id * 7) % 400) / 1000.0 AS lon
           FROM events),
         legs AS (
           SELECT shape_id,
             lag(lat) OVER (PARTITION BY shape_id ORDER BY seq) AS plat,
             lag(lon) OVER (PARTITION BY shape_id ORDER BY seq) AS plon,
             lat, lon
           FROM pts),
         mm AS (
           SELECT shape_id,
             CASE WHEN plat IS NULL THEN 0 ELSE
               CAST(round(2 * 6371000.0 * atan2(sqrt(
                 pow(sin((radians(lat) - radians(plat)) / 2), 2) +
                 cos(radians(plat)) * cos(radians(lat)) *
                 pow(sin((radians(lon) - radians(plon)) / 2), 2)),
                 sqrt(1.0 - (
                 pow(sin((radians(lat) - radians(plat)) / 2), 2) +
                 cos(radians(plat)) * cos(radians(lat)) *
                 pow(sin((radians(lon) - radians(plon)) / 2), 2)))) * 1000, 0)
               AS BIGINT) END AS leg_mm
           FROM legs)
         SELECT shape_id, count(*) AS n_points,
           CAST(sum(leg_mm) AS BIGINT) AS length_mm
         FROM mm GROUP BY shape_id ORDER BY shape_id""",
    "q_geo_pairs" ->
      """WITH pts AS (
           SELECT c_custkey,
             52.0 + (c_custkey % 100) / 100.0 AS lat,
             13.0 + ((c_custkey // 100) % 100) / 100.0 AS lon,
             (c_custkey % 100) // 2 AS cy,
             ((c_custkey // 100) % 100) // 2 AS cx
           FROM customer),
         nb AS (SELECT p.c_custkey AS cust_a, p.lat AS lat_a, p.lon AS lon_a,
             p.cy + dy.d AS ncy, p.cx + dx.d AS ncx
           FROM pts p,
             (SELECT unnest([-1, 0, 1]) AS d) dy,
             (SELECT unnest([-1, 0, 1]) AS d) dx),
         cand AS (SELECT n.cust_a, n.lat_a, n.lon_a,
             q.c_custkey AS cust_b, q.lat AS lat_b, q.lon AS lon_b
           FROM nb n JOIN pts q
             ON q.cy = n.ncy AND q.cx = n.ncx AND n.cust_a < q.c_custkey),
         d AS (SELECT cust_a, cust_b,
             2 * 6371000.0 * atan2(sqrt(
               pow(sin((radians(lat_b) - radians(lat_a)) / 2), 2) +
               cos(radians(lat_a)) * cos(radians(lat_b)) *
               pow(sin((radians(lon_b) - radians(lon_a)) / 2), 2)),
               sqrt(1.0 - (
               pow(sin((radians(lat_b) - radians(lat_a)) / 2), 2) +
               cos(radians(lat_a)) * cos(radians(lat_b)) *
               pow(sin((radians(lon_b) - radians(lon_a)) / 2), 2)))) AS dist
           FROM cand)
         SELECT cust_a, cust_b, CAST(round(dist, 0) AS BIGINT) AS dist_m
         FROM d WHERE dist <= 800.0 ORDER BY cust_a, cust_b""",
    "q_geo_radius" ->
      """WITH pts AS (
           SELECT c_custkey,
             52.0 + (c_custkey % 100) / 100.0 AS lat,
             13.0 + ((c_custkey * 7) % 100) / 100.0 AS lon
           FROM customer),
         d AS (
           SELECT c_custkey,
             2 * 6371000.0 * atan2(sqrt(
               pow(sin((radians(lat) - radians(52.52437)) / 2), 2) +
               cos(radians(52.52437)) * cos(radians(lat)) *
               pow(sin((radians(lon) - radians(13.41053)) / 2), 2)),
               sqrt(1.0 - (
               pow(sin((radians(lat) - radians(52.52437)) / 2), 2) +
               cos(radians(52.52437)) * cos(radians(lat)) *
               pow(sin((radians(lon) - radians(13.41053)) / 2), 2)))) AS dist_m
           FROM pts)
         SELECT c_custkey, CAST(round(dist_m, 0) AS BIGINT) AS dist_m
         FROM d WHERE dist_m <= 30000.0 ORDER BY c_custkey""",
    "q_checksum_xor" ->
      """SELECT source,
         bit_xor(CAST(concat('0x', substring(md5(text), 1, 15)) AS BIGINT)) AS fingerprint,
         count(*) AS n_docs
         FROM documents GROUP BY source ORDER BY source""",
    "q_nation_rollup" ->
      """SELECT r_name, n_name, count(*) AS n_customers,
         CAST(round(sum(CAST(c_acctbal AS DECIMAL(12,2))), 2) AS DOUBLE) AS sum_acctbal
         FROM customer JOIN nation ON c_nationkey = n_nationkey
                       JOIN region ON n_regionkey = r_regionkey
         GROUP BY ROLLUP(r_name, n_name)
         ORDER BY r_name ASC NULLS FIRST, n_name ASC NULLS FIRST""",
    "q_cube_status" ->
      """SELECT o_orderstatus, o_orderpriority, count(*) AS n_orders,
         CAST(round(sum(CAST(o_totalprice AS DECIMAL(12,2))), 2) AS DOUBLE) AS sum_price
         FROM orders GROUP BY CUBE(o_orderstatus, o_orderpriority)
         ORDER BY o_orderstatus ASC NULLS FIRST, o_orderpriority ASC NULLS FIRST""",
    "q_repeat_purchasers" ->
      """SELECT user_id FROM (
           SELECT DISTINCT user_id FROM events
             WHERE event_type = 'purchase' AND day(ts) <= 15
           INTERSECT
           SELECT DISTINCT user_id FROM events
             WHERE event_type = 'purchase' AND day(ts) > 15)
         ORDER BY user_id""",
    "q_salted_join_revenue" ->
      """SELECT l_orderkey,
         CAST(round(sum(CAST(l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l_discount AS DECIMAL(4,2)))), 2) AS DOUBLE) AS revenue,
         count(*) AS n_items
         FROM customer JOIN orders ON c_custkey = o_custkey
                       JOIN lineitem ON o_orderkey = l_orderkey
         WHERE c_mktsegment = 'BUILDING'
           AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
           AND l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
         GROUP BY l_orderkey ORDER BY l_orderkey""",
    "q_running_revenue" ->
      """SELECT o_custkey, o_orderkey,
         CAST(round(sum(CAST(o_totalprice AS DECIMAL(12,2)))
           OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2) AS DOUBLE) AS cum_spend
         FROM orders ORDER BY o_custkey, o_orderkey""",
    "q_part_brand_stats" ->
      """SELECT p_brand, count(*) AS n_parts,
         CAST(round(sum(CAST(p_retailprice AS DECIMAL(12,2))), 2) AS DOUBLE) AS sum_retail,
         max(upper(substring(p_name, 1, 8))) AS max_name_prefix
         FROM part WHERE p_type LIKE '%ECO%' OR p_size >= 40
         GROUP BY p_brand ORDER BY p_brand""",
    "q_asof_join" ->
      """WITH r AS (
           SELECT o_custkey, o_orderdate, o_orderkey, o_totalprice
           FROM (SELECT o_custkey, o_orderdate, o_orderkey, o_totalprice,
                   row_number() OVER (PARTITION BY o_custkey, o_orderdate
                     ORDER BY o_orderkey DESC) AS rn
                 FROM orders) WHERE rn = 1)
         SELECT e.event_id, e.user_id, r.o_orderkey, r.o_totalprice
         FROM events e ASOF JOIN r
           ON e.user_id = r.o_custkey AND e.ts >= r.o_orderdate
         ORDER BY e.event_id""",
    "q_asof_forward" ->
      """WITH e AS (SELECT user_id, ts, max(event_id) AS event_id
           FROM events GROUP BY user_id, ts),
         j AS (SELECT o.o_orderkey, o.o_custkey, e.event_id,
             row_number() OVER (PARTITION BY o.o_orderkey
               ORDER BY e.ts, e.event_id DESC) AS rn
           FROM orders o JOIN e
             ON o.o_custkey = e.user_id AND e.ts >= o.o_orderdate)
         SELECT o_orderkey, o_custkey, event_id
         FROM j WHERE rn = 1 ORDER BY o_orderkey""",
    "q_purchasers_without_errors" ->
      """SELECT user_id, day FROM (
           SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events
             WHERE event_type = 'purchase'
           EXCEPT
           SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events
             WHERE event_type = 'error')
         ORDER BY user_id, day""",
    "q_set_ops_bag" ->
      """WITH p AS (SELECT user_id, CAST(ts AS DATE) AS day FROM events
             WHERE event_type = 'purchase'),
         e AS (SELECT user_id, CAST(ts AS DATE) AS day FROM events
             WHERE event_type = 'error'),
         ea AS (SELECT 'except_all' AS op, user_id FROM
             (SELECT * FROM p EXCEPT ALL SELECT * FROM e)),
         ia AS (SELECT 'intersect_all' AS op, user_id FROM
             (SELECT * FROM p INTERSECT ALL SELECT * FROM e))
         SELECT op, user_id, count(*) AS n_days
         FROM (SELECT * FROM ea UNION ALL SELECT * FROM ia)
         GROUP BY 1, 2 ORDER BY op, user_id""",
    "q_skew_profile" ->
      """WITH c1 AS (SELECT o_custkey AS k, count(*) AS n FROM orders GROUP BY 1),
         a1 AS (SELECT count(*) AS n_keys, max(n) AS max_rows,
             quantile_cont(n, 0.5) AS p50_rows, quantile_cont(n, 0.99) AS p99_rows,
             sum(n) AS total FROM c1),
         t1 AS (SELECT sum(n) AS top10 FROM
             (SELECT n FROM c1 ORDER BY n DESC, k LIMIT 10)),
         c2 AS (SELECT l_suppkey AS k, count(*) AS n FROM lineitem GROUP BY 1),
         a2 AS (SELECT count(*) AS n_keys, max(n) AS max_rows,
             quantile_cont(n, 0.5) AS p50_rows, quantile_cont(n, 0.99) AS p99_rows,
             sum(n) AS total FROM c2),
         t2 AS (SELECT sum(n) AS top10 FROM
             (SELECT n FROM c2 ORDER BY n DESC, k LIMIT 10))
         SELECT 'orders.o_custkey' AS join_key, n_keys, max_rows, p50_rows, p99_rows,
           CAST((top10 * 10000) // total AS BIGINT) AS top10_share4 FROM a1, t1
         UNION ALL
         SELECT 'lineitem.l_suppkey', n_keys, max_rows, p50_rows, p99_rows,
           CAST((top10 * 10000) // total AS BIGINT) FROM a2, t2
         ORDER BY join_key""",
    "q_hourly_type_counts" ->
      """SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:00') AS hour,
         event_type, count(*) AS n_events,
         CAST(round(sum(CAST(value AS DECIMAL(12,2))), 2) AS DOUBLE) AS sum_value
         FROM events GROUP BY 1, 2 ORDER BY 1, 2""",
    "q_user_sessions" ->
      """WITH e AS (SELECT user_id, ts, value, epoch_us(ts) AS us,
           lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts) AS prev_us
         FROM events)
         SELECT user_id,
           CAST(sum(CASE WHEN prev_us IS NULL OR us - prev_us > 1800000000
             THEN 1 ELSE 0 END) AS BIGINT) AS n_sessions,
           count(*) AS n_events,
           CAST(round(sum(CAST(value AS DECIMAL(12,2))), 2) AS DOUBLE) AS sum_value
         FROM e GROUP BY user_id ORDER BY user_id""",
    "q_value_window_funcs" ->
      """SELECT user_id, event_id, value,
         lag(value) OVER w AS prev_value,
         lead(value) OVER w AS next_value,
         percent_rank() OVER w AS pct_rank,
         cume_dist() OVER w AS cume,
         nth_value(value, 2) OVER w AS second_value
         FROM events WHERE event_type = 'purchase'
         WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
         ORDER BY user_id, ts, event_id""",
    // The oracle states the overlap join directly as the inequality join
    // (DuckDB plans it as an IEJoin); the engine's banded equi-join form
    // must produce the identical pair set.
    "q_session_outage_overlap" ->
      """WITH e AS (SELECT user_id, event_type, epoch_us(ts) AS us FROM events),
         w AS (SELECT (us // 3600000000) * 3600000000 AS w_start,
                      ((us // 3600000000) + 1) * 3600000000 AS w_end
           FROM e WHERE event_type = 'error'
           GROUP BY 1, 2 HAVING count(*) >= 8),
         se AS (SELECT user_id, us,
             CASE WHEN lag(us) OVER (PARTITION BY user_id ORDER BY us) IS NULL
                    OR us - lag(us) OVER (PARTITION BY user_id ORDER BY us) > 1800000000
               THEN 1 ELSE 0 END AS new_s
           FROM e),
         ss AS (SELECT user_id, us, sum(new_s) OVER
             (PARTITION BY user_id ORDER BY us ROWS UNBOUNDED PRECEDING) AS sid
           FROM se),
         sess AS (SELECT user_id, sid, min(us) AS s_start, max(us) AS s_end
           FROM ss GROUP BY 1, 2)
         SELECT user_id, s_start AS session_start_us,
           count(*) AS n_outage_windows,
           CAST(sum(least(s_end, w_end) - greatest(s_start, w_start)) AS BIGINT) AS overlap_us
         FROM sess JOIN w ON s_start < w_end AND w_start <= s_end
         GROUP BY 1, 2 ORDER BY 1, 2""",
    "q_daily_type_pivot" ->
      """SELECT CAST(ts AS DATE) AS day,
         count(CASE WHEN event_type = 'click' THEN 1 END) AS click,
         count(CASE WHEN event_type = 'error' THEN 1 END) AS error,
         count(CASE WHEN event_type = 'purchase' THEN 1 END) AS purchase,
         count(CASE WHEN event_type = 'signup' THEN 1 END) AS signup,
         count(CASE WHEN event_type = 'view' THEN 1 END) AS view
         FROM events GROUP BY 1 ORDER BY 1""",
    "q_value_percentiles" ->
      """SELECT event_type,
         quantile_cont(value, 0.25) AS p25, quantile_cont(value, 0.5) AS p50,
         quantile_cont(value, 0.75) AS p75, quantile_cont(value, 0.9) AS p90
         FROM events GROUP BY event_type ORDER BY event_type""",
    "q_robust_stats" ->
      """WITH b AS (SELECT event_type,
           CAST(round(value * 10000) AS BIGINT) AS vq FROM events),
         c AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n
           FROM b GROUP BY event_type),
         rk AS (SELECT event_type, vq, CAST(row_number() OVER
             (PARTITION BY event_type ORDER BY vq) AS BIGINT) AS rk
           FROM b),
         s AS (SELECT event_type, n, p,
             (p * (n - 1)) // 100 AS lo, (p * (n - 1)) % 100 AS rem,
             CASE WHEN (p * (n - 1)) % 100 > 0
               THEN (p * (n - 1)) // 100 + 2
               ELSE (p * (n - 1)) // 100 + 1 END AS rk2
           FROM c CROSS JOIN (SELECT unnest([CAST(5 AS BIGINT),
             CAST(50 AS BIGINT), CAST(95 AS BIGINT)]) AS p)),
         q AS (SELECT s.event_type, s.p,
             sum(CASE WHEN rem = 0 THEN vq * 100
               WHEN rk = lo + 1 THEN vq * (100 - rem)
               ELSE vq * rem END) AS qx100
           FROM s JOIN rk ON rk.event_type = s.event_type
             AND rk.rk >= lo + 1 AND rk.rk <= rk2
           GROUP BY 1, 2),
         qq AS (SELECT event_type,
             (max(CASE WHEN p = 5 THEN qx100 END) + 99) // 100 AS loq,
             max(CASE WHEN p = 50 THEN qx100 END) AS medx100,
             max(CASE WHEN p = 95 THEN qx100 END) // 100 AS hiq
           FROM q GROUP BY 1),
         j AS (SELECT b.event_type, loq, hiq, medx100,
             least(greatest(vq, loq), hiq) AS wq,
             abs(vq * 100 - medx100) AS adev
           FROM b JOIN qq USING (event_type)),
         ws AS (SELECT event_type, CAST(sum(wq) AS BIGINT) AS wsum
           FROM j GROUP BY 1),
         ar AS (SELECT event_type, adev, CAST(row_number() OVER
             (PARTITION BY event_type ORDER BY adev) AS BIGINT) AS rk
           FROM j),
         mq AS (SELECT s.event_type,
             sum(CASE WHEN rem = 0 THEN adev * 100
               WHEN rk = lo + 1 THEN adev * (100 - rem)
               ELSE adev * rem END) AS madx10000
           FROM s JOIN ar ON ar.event_type = s.event_type
             AND ar.rk >= lo + 1 AND ar.rk <= rk2
           WHERE s.p = 50 GROUP BY 1)
         SELECT c.event_type, n, round(loq / 10000.0, 4) AS p05,
           round(hiq / 10000.0, 4) AS p95,
           round(CAST(wsum AS DOUBLE) / n / 10000.0, 4) AS winsor_mean,
           round(medx100 / 1e6, 4) AS median,
           round(madx10000 / 1e8, 4) AS mad
         FROM c JOIN qq USING (event_type) JOIN ws USING (event_type)
           JOIN mq USING (event_type)
         ORDER BY event_type""",
    "q_cuped_adjust" ->
      """WITH e AS (SELECT user_id, day(CAST(ts AS DATE)) <= 15 AS pre,
           CAST(round(value * 10000) AS BIGINT) AS vq FROM events),
         u AS (SELECT CAST(user_id % 2 AS INT) AS arm,
             CAST(sum(CASE WHEN pre THEN vq ELSE 0 END) AS BIGINT) AS xq,
             CAST(sum(CASE WHEN pre THEN 0 ELSE vq END) AS BIGINT) AS yq
           FROM e GROUP BY user_id),
         g AS (SELECT CAST(count(*) AS BIGINT) AS n,
             CAST(sum(xq) AS BIGINT) AS sx, CAST(sum(yq) AS BIGINT) AS sy,
             sum(CAST(xq AS HUGEINT) * yq) AS sxy,
             sum(CAST(xq AS HUGEINT) * xq) AS sxx
           FROM u),
         gg AS (SELECT
             CAST(n * sxy - CAST(sx AS HUGEINT) * sy AS DOUBLE)
               / CAST(n * sxx - CAST(sx AS HUGEINT) * sx AS DOUBLE)
               AS theta,
             CAST(sx AS DOUBLE) / n AS mean_x
           FROM g),
         a AS (SELECT arm, CAST(count(*) AS BIGINT) AS n_a,
             CAST(sum(xq) AS BIGINT) AS sxa,
             CAST(sum(yq) AS BIGINT) AS sya,
             sum(CAST(xq AS HUGEINT) * yq) AS sxya,
             sum(CAST(xq AS HUGEINT) * xq) AS sxxa,
             sum(CAST(yq AS HUGEINT) * yq) AS syya
           FROM u GROUP BY arm),
         m AS (SELECT arm, n_a, sxa, sya, theta, mean_x,
             CAST(n_a * (n_a - 1) AS DOUBLE) AS den,
             CAST(n_a * syya - CAST(sya AS HUGEINT) * sya AS DOUBLE)
               / CAST(n_a * (n_a - 1) AS DOUBLE) AS vy,
             CAST(n_a * sxxa - CAST(sxa AS HUGEINT) * sxa AS DOUBLE)
               / CAST(n_a * (n_a - 1) AS DOUBLE) AS vx,
             CAST(n_a * sxya - CAST(sxa AS HUGEINT) * sya AS DOUBLE)
               / CAST(n_a * (n_a - 1) AS DOUBLE) AS cxy
           FROM a CROSS JOIN gg),
         v AS (SELECT *,
             vy - 2.0 * theta * cxy + theta * theta * vx AS vc FROM m)
         SELECT arm, n_a AS n_users, round(theta, 6) AS theta,
           round(((sya * 100) // n_a) / 1e6, 4) AS mean_post,
           round((CAST(sya AS DOUBLE) / n_a - theta *
             (CAST(sxa AS DOUBLE) / n_a - mean_x)) / 1e4, 4)
             AS mean_cuped,
           round(vy / 1e8, 4) AS var_post,
           round(vc / 1e8, 4) AS var_cuped,
           round((1.0 - vc / vy) * 100, 4) AS vr_pct
         FROM v ORDER BY arm""",
    "q_distinct_users" ->
      """SELECT event_type, count(DISTINCT user_id) AS n_users,
         count(*) AS n_events
         FROM events GROUP BY event_type ORDER BY event_type""",
    "q_approx_distinct_users" ->
      """SELECT event_type, count(DISTINCT user_id) AS exact_users,
         count(*) AS n_events, CAST(true AS BOOLEAN) AS ok
         FROM events GROUP BY event_type ORDER BY event_type""",
    "q_user_type_sets" ->
      """SELECT user_id,
         array_to_string(list_sort(list(DISTINCT event_type)), ',') AS types,
         count(*) AS n_events
         FROM events GROUP BY user_id ORDER BY user_id""",
    "q_json_prop_stats" ->
      """SELECT event_type, count(*) AS n_events,
         CAST(sum(k) AS BIGINT) AS sum_k, min(k) AS min_k, max(k) AS max_k
         FROM (SELECT event_type,
                 CAST(json_extract_string(props, '$.k') AS INT) AS k
               FROM events)
         WHERE k IS NOT NULL GROUP BY event_type ORDER BY event_type""",
    "q_lang_id_confusion" ->
      s"""WITH s AS (SELECT lang,
           len(list_filter($toks, t -> list_contains(['the','of','and','to','in','is','that','it','was','for'], t))) AS en,
           len(list_filter($toks, t -> list_contains(['der','die','das','und','ist','ich','nicht','mit','ein','zu'], t))) AS de,
           len(list_filter($toks, t -> list_contains(['le','la','les','et','est','un','une','des','du','je'], t))) AS fr,
           len(list_filter($toks, t -> list_contains(['el','los','de','que','y','en','se','no','por','con'], t))) AS es,
           len(regexp_extract_all(text, '[\\x{4e00}-\\x{9fff}]', 0)) AS cjk
         FROM documents)
         SELECT lang,
           CASE WHEN cjk > 0 THEN 'zh'
                WHEN en >= de AND en >= fr AND en >= es THEN 'en'
                WHEN de >= fr AND de >= es THEN 'de'
                WHEN fr >= es THEN 'fr' ELSE 'es' END AS pred,
           count(*) AS n_docs
         FROM s GROUP BY lang, pred ORDER BY lang, pred""",
    "q_quality_scores" ->
      s"""SELECT doc_id, $qualityExpr AS quality
         FROM documents ORDER BY doc_id""",
    "q_source_influence" ->
      s"""WITH q AS (SELECT source,
           CAST(round($qualityExpr * 10000) AS BIGINT) AS qu
           FROM documents),
         per AS (SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
             CAST(sum(qu) AS BIGINT) AS sum_u
           FROM q GROUP BY source),
         tot AS (SELECT CAST(sum(n_docs) AS BIGINT) AS n,
             CAST(sum(sum_u) AS BIGINT) AS su FROM per),
         m AS (SELECT source, n_docs,
             sum_u * 10000 // n_docs AS mean_src_u,
             su * 10000 // n AS mean_all_u,
             (su - sum_u) * 10000 // (n - n_docs) AS mean_without_u
           FROM per CROSS JOIN tot)
         SELECT source, n_docs, mean_src_u, mean_all_u, mean_without_u,
           mean_without_u - mean_all_u AS delta_u,
           CAST(row_number() OVER (ORDER BY mean_without_u - mean_all_u
             DESC, source) AS INT) AS rank
         FROM m ORDER BY rank""",
    "q_split_balance" ->
      """WITH d AS (SELECT source,
           CASE WHEN bucket < 80 THEN 'train' WHEN bucket < 90 THEN 'val'
             ELSE 'test' END AS split
           FROM (SELECT source,
             CAST(concat('0x', substring(md5(concat('split:',
               CAST(doc_id AS VARCHAR))), 1, 15)) AS BIGINT) % 100
               AS bucket
             FROM documents)),
         cells AS (SELECT split, source, CAST(count(*) AS BIGINT) AS obs
           FROM d GROUP BY 1, 2),
         full0 AS (SELECT sp.split, so.source,
             coalesce(obs, CAST(0 AS BIGINT)) AS obs
           FROM (SELECT DISTINCT split FROM cells) sp
           CROSS JOIN (SELECT DISTINCT source FROM cells) so
           LEFT JOIN cells USING (split, source)),
         rt AS (SELECT split, CAST(sum(obs) AS BIGINT) AS rt FROM full0
           GROUP BY 1),
         ct AS (SELECT source, CAST(sum(obs) AS BIGINT) AS ct FROM full0
           GROUP BY 1),
         tot AS (SELECT CAST(sum(obs) AS BIGINT) AS n,
             CAST(count(DISTINCT split) AS BIGINT) AS r,
             CAST(count(DISTINCT source) AS BIGINT) AS c FROM full0),
         m AS (SELECT split, source, obs,
             CAST(rt * ct AS DOUBLE) / n AS e, n, r, c
           FROM full0 JOIN rt USING (split) JOIN ct USING (source)
           CROSS JOIN tot),
         k AS (SELECT split, source, obs, e, n, r, c,
             CAST(round((obs - e) * (obs - e) / e * 1e6) AS BIGINT)
               AS contrib_u
           FROM m),
         f AS (SELECT *, round(CAST(sum(contrib_u) OVER () AS DOUBLE)
             / 1e6, 4) AS chi2 FROM k)
         SELECT split, source, obs, round(e, 4) AS expected,
           round(contrib_u / 1e6, 4) AS contrib, chi2,
           round(sqrt(chi2 / CAST(n * least(r - 1, c - 1) AS DOUBLE)), 4)
             AS cramers_v
         FROM f ORDER BY split, source""",
    "q_quality_weighted_sample" ->
      s"""SELECT doc_id, quality FROM (
           SELECT doc_id, quality,
             CAST(round(quality * 50) AS BIGINT) AS rate,
             CAST(concat('0x', substring(md5(concat('qsample:', CAST(doc_id AS VARCHAR))), 1, 15)) AS BIGINT) % 100 AS b
           FROM (SELECT doc_id, $qualityExpr AS quality FROM documents))
         WHERE b < rate ORDER BY doc_id""",
    "q_token_stats" ->
      s"""WITH d AS (SELECT lang,
           CAST(len($toks) AS INT) AS ws,
           CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]', 0)) AS INT) AS bpe
         FROM documents)
         SELECT lang, count(*) AS n_docs,
           CAST(sum(ws) AS BIGINT) AS sum_ws_tokens, round(avg(ws), 2) AS avg_ws_tokens,
           CAST(sum(bpe) AS BIGINT) AS sum_bpe_tokens, round(avg(bpe), 2) AS avg_bpe_tokens
         FROM d GROUP BY lang ORDER BY lang""",
    "q_fingerprint_stats" ->
      """SELECT source, count(*) AS n_docs, count(DISTINCT fp) AS n_distinct_fp
         FROM (SELECT source,
                 md5(lower(regexp_replace(trim(text), '\s+', ' ', 'g'))) AS fp
               FROM documents)
         GROUP BY source ORDER BY source""",
    "q_chunk_pairs" ->
      s"""WITH ch AS (SELECT doc_id, i, unicode(text[i:i]) AS c
           FROM (SELECT doc_id, text,
               unnest(generate_series(1, len(text))) AS i
             FROM documents)),
         h AS (SELECT doc_id, i, $chunkHashTerms AS hv
           FROM ch WINDOW w AS (PARTITION BY doc_id ORDER BY i)),
         cuts AS (SELECT doc_id, i AS cut FROM h
             WHERE i >= ${operators.Chunker.W}
               AND hv % ${operators.Chunker.M} % 64 = 0
           UNION SELECT doc_id, len(text) AS cut FROM documents),
         segs AS (SELECT doc_id, cut,
             coalesce(lag(cut) OVER (PARTITION BY doc_id ORDER BY cut), 0) AS prev
           FROM cuts),
         fps AS (SELECT DISTINCT s.doc_id,
             md5(substring(d.text, s.prev + 1, s.cut - s.prev)) AS fp
           FROM segs s JOIN documents d USING (doc_id)),
         rare AS (SELECT doc_id, fp FROM (
             SELECT doc_id, fp, count(*) OVER (PARTITION BY fp) AS df FROM fps)
           WHERE df <= ${operators.Chunker.MaxChunkDf})
         SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_shared
         FROM rare a JOIN rare b ON a.fp = b.fp AND a.doc_id < b.doc_id
         GROUP BY doc_a, doc_b HAVING count(*) >= 2
         ORDER BY doc_a, doc_b""",
    "q_chunk_search" ->
      s"""WITH ch AS (SELECT doc_id, i, unicode(text[i:i]) AS c
           FROM (SELECT doc_id, text,
               unnest(generate_series(1, len(text))) AS i
             FROM documents)),
         h AS (SELECT doc_id, i, $chunkHashTerms AS hv
           FROM ch WINDOW w AS (PARTITION BY doc_id ORDER BY i)),
         cuts AS (SELECT doc_id, i AS cut FROM h
             WHERE i >= ${operators.Chunker.W}
               AND hv % ${operators.Chunker.M} % 64 = 0
           UNION SELECT doc_id, len(text) AS cut FROM documents),
         segs AS (SELECT doc_id, cut,
             coalesce(lag(cut) OVER (PARTITION BY doc_id ORDER BY cut), 0) AS prev
           FROM cuts),
         chunks AS (SELECT s.doc_id,
             CAST(row_number() OVER (PARTITION BY s.doc_id ORDER BY s.cut)
               AS INT) AS chunk_idx,
             substring(d.text, s.prev + 1, s.cut - s.prev) AS chunk
           FROM segs s JOIN documents d USING (doc_id) WHERE s.cut > s.prev)
         SELECT doc_id, chunk_idx, md5(chunk) AS chunk_fp
         FROM chunks
         WHERE list_contains(list_filter(
             regexp_split_to_array(lower(trim(chunk)), '\\s+'), x -> x <> ''),
           'spark')
         ORDER BY doc_id, chunk_idx""",
    "q_dedup_exact" ->
      """SELECT md5(text) AS content_hash, min(doc_id) AS keep_id,
         count(*) AS n_copies
         FROM documents GROUP BY 1 ORDER BY 1""",
    "q_jaccard_pairs" ->
      s"""WITH d AS (SELECT doc_id, lang, n_chars, list_distinct($toks) AS toks
           FROM documents)
         SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           round(CAST(len(list_intersect(a.toks, b.toks)) AS DOUBLE) /
                 len(list_distinct(a.toks || b.toks)), 4) AS jaccard
         FROM d a JOIN d b
           ON a.lang = b.lang AND a.n_chars = b.n_chars AND a.doc_id < b.doc_id
         ORDER BY doc_a, doc_b""",
    "q_minhash_lsh_pairs" ->
      s"""$minhashPairsCore
         ORDER BY doc_a, doc_b""",
    // Sorted-neighborhood blocking: DuckDB's one-node row_number is the
    // oracle twin of the engine's range-partitioned globalRowNumber
    "q_sorted_neighborhood" ->
      s"""WITH d AS (SELECT doc_id,
           substring(regexp_replace(lower(text), '[^a-z0-9]', '', 'g'),
             1, 24) AS bk,
           list_distinct($toks) AS toks FROM documents),
         r AS (SELECT doc_id, bk, toks,
             row_number() OVER (ORDER BY bk, doc_id) AS rk FROM d),
         g AS (SELECT unnest(generate_series(1, 3)) AS g)
         SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           CAST(g.g AS BIGINT) AS rank_gap,
           CAST(CAST(len(list_intersect(a.toks, b.toks)) AS BIGINT)
             * 1000000
             // nullif(CAST(len(list_distinct(a.toks || b.toks)) AS BIGINT),
               0) AS BIGINT) AS jaccard_ppm
         FROM r a CROSS JOIN g JOIN r b ON b.rk = a.rk + g.g
         ORDER BY doc_a, doc_b""",
    "q_incremental_lsh" ->
      s"""WITH $minhashCtes
         SELECT DISTINCT a.doc_id AS new_doc, b.doc_id AS index_doc
         FROM bands a JOIN bands b ON a.band = b.band AND a.sig = b.sig
         WHERE a.doc_id % 4 = 3 AND b.doc_id % 4 <> 3
         ORDER BY new_doc, index_doc""",
    "q_minhash_jaccard_est" ->
      s"""WITH $minhashCtes,
         pairs AS ($minhashPairsSelect),
         est AS (SELECT p.doc_a, p.doc_b,
             round(CAST(sum(CASE WHEN ma.mh = mb.mh THEN 1 ELSE 0 END) AS DOUBLE)
               / 12, 4) AS est_jaccard
           FROM pairs p
           JOIN mh ma ON ma.doc_id = p.doc_a
           JOIN mh mb ON mb.doc_id = p.doc_b AND mb.seed = ma.seed
           GROUP BY p.doc_a, p.doc_b),
         shs AS (SELECT doc_id, list_distinct(list_transform(
             generate_series(1, len(toks) - 2),
             i -> array_to_string(toks[i:i+2], ' '))) AS shs
           FROM docs WHERE len(toks) >= 3)
         SELECT e.doc_a, e.doc_b, e.est_jaccard,
           round(CAST(len(list_intersect(a.shs, b.shs)) AS DOUBLE)
             / len(list_distinct(a.shs || b.shs)), 4) AS true_jaccard
         FROM est e JOIN shs a ON a.doc_id = e.doc_a
                    JOIN shs b ON b.doc_id = e.doc_b
         ORDER BY doc_a, doc_b""",
    "q_sim_histogram" ->
      s"""WITH $minhashCtes,
         pairs AS ($minhashPairsSelect),
         shs AS (SELECT doc_id, list_distinct(list_transform(
             generate_series(1, len(toks) - 2),
             i -> array_to_string(toks[i:i+2], ' '))) AS shs
           FROM docs WHERE len(toks) >= 3),
         jt AS (SELECT least(((len(list_intersect(a.shs, b.shs)) * 10000)
             // (len(a.shs) + len(b.shs) - len(list_intersect(a.shs, b.shs))))
             // 1000, 9) AS bin
           FROM pairs p JOIN shs a ON a.doc_id = p.doc_a
             JOIN shs b ON b.doc_id = p.doc_b)
         SELECT CAST(bin AS INT) AS bin, CAST(count(*) AS BIGINT) AS n_pairs
         FROM jt GROUP BY bin ORDER BY bin""",
    "q_dedup_threshold_sweep" -> dedupThresholdSweepOracle,
    "q_trend_sign_reversals" ->
      """WITH daily AS (SELECT c.c_nationkey, CAST(o_orderdate AS DATE)
             AS day,
             CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT))
               AS BIGINT) AS cents
           FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
           GROUP BY 1, 2),
         t0 AS (SELECT min(day) AS d0 FROM daily),
         d AS (SELECT c_nationkey,
             CAST(datediff('day', d0, day) AS BIGINT) AS t, cents
           FROM daily CROSS JOIN t0),
         pern AS (SELECT c_nationkey, CAST(count(*) AS BIGINT) AS n,
             CAST(sum(t) AS BIGINT) AS st,
             CAST(sum(cents) AS BIGINT) AS sc,
             CAST(sum(CAST(t AS HUGEINT) * cents) AS HUGEINT) AS stc,
             CAST(sum(t * t) AS BIGINT) AS stt
           FROM d GROUP BY 1),
         ns AS (SELECT c_nationkey, n,
             CAST(((CAST(n AS HUGEINT) * stc - CAST(st AS HUGEINT) * sc)
               * 1000000 + 2000000000000000
               * (CAST(n AS HUGEINT) * stt - CAST(st AS HUGEINT) * st))
               // (CAST(n AS HUGEINT) * stt - CAST(st AS HUGEINT) * st)
               - 2000000000000000 AS BIGINT) AS slope_u
           FROM pern),
         pd AS (SELECT t, CAST(sum(cents) AS BIGINT) AS cents FROM d
           GROUP BY t),
         pool AS (SELECT CAST(count(*) AS BIGINT) AS n,
             CAST(sum(t) AS BIGINT) AS st,
             CAST(sum(cents) AS BIGINT) AS sc,
             CAST(sum(CAST(t AS HUGEINT) * cents) AS HUGEINT) AS stc,
             CAST(sum(t * t) AS BIGINT) AS stt FROM pd),
         ps AS (SELECT CAST(((CAST(n AS HUGEINT) * stc
               - CAST(st AS HUGEINT) * sc) * 1000000 + 2000000000000000
               * (CAST(n AS HUGEINT) * stt - CAST(st AS HUGEINT) * st))
               // (CAST(n AS HUGEINT) * stt - CAST(st AS HUGEINT) * st)
               - 2000000000000000 AS BIGINT) AS pooled_slope_u
           FROM pool)
         SELECT c_nationkey, n AS n_days, slope_u, pooled_slope_u,
           (slope_u > 0) <> (pooled_slope_u > 0) AS reversed
         FROM ns CROSS JOIN ps ORDER BY c_nationkey""",
    "q_containment_pairs" ->
      s"""WITH $minhashCtes,
         pairs AS ($minhashPairsSelect),
         shs AS (SELECT doc_id, list_distinct(list_transform(
             generate_series(1, len(toks) - 2),
             i -> array_to_string(toks[i:i+2], ' '))) AS shs
           FROM docs WHERE len(toks) >= 3)
         SELECT p.doc_a, p.doc_b,
           CAST(len(list_intersect(a.shs, b.shs)) AS BIGINT) AS n_shared,
           CAST((len(list_intersect(a.shs, b.shs)) * 10000) // len(a.shs) AS BIGINT) AS cont_a4,
           CAST((len(list_intersect(a.shs, b.shs)) * 10000) // len(b.shs) AS BIGINT) AS cont_b4
         FROM pairs p JOIN shs a ON a.doc_id = p.doc_a
           JOIN shs b ON b.doc_id = p.doc_b
         ORDER BY doc_a, doc_b""",
    "q_minhash_signatures" ->
      s"""WITH docs AS (SELECT doc_id, $toks AS toks FROM documents),
         sh AS (SELECT doc_id, unnest(list_transform(
             generate_series(1, len(toks) - 2),
             i -> array_to_string(toks[i:i+2], ' '))) AS sh
           FROM docs WHERE len(toks) >= 3)
         SELECT doc_id, CAST(seed AS INT) AS seed,
           min(md5(concat(CAST(seed AS VARCHAR), ':', sh))) AS mh
         FROM sh, (SELECT unnest(generate_series(0, 11)) AS seed)
         GROUP BY doc_id, seed ORDER BY doc_id, seed""",
    "q_simhash_fingerprints" ->
      s"""SELECT doc_id, simhash,
         (simhash >> 0) & 32767 AS band0,
         (simhash >> 15) & 32767 AS band1,
         (simhash >> 30) & 32767 AS band2,
         (simhash >> 45) & 32767 AS band3
         FROM ($simhashCore)
         ORDER BY doc_id""",
    "q_simhash_pairs" ->
      s"""WITH f AS ($simhashCore),
         buckets AS (SELECT doc_id, simhash,
             concat(CAST(bi AS VARCHAR), ':',
               CAST((simhash >> (bi * 15)) & 32767 AS VARCHAR)) AS bucket
           FROM f, (SELECT unnest(generate_series(0, 3)) AS bi))
         SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
           CAST(bit_count(xor(a.simhash, b.simhash)) AS INT) AS hamming
         FROM buckets a JOIN buckets b
           ON a.bucket = b.bucket AND a.doc_id < b.doc_id
         WHERE bit_count(xor(a.simhash, b.simhash)) <= ${operators.Dedup.DefaultMaxHamming}
         ORDER BY doc_a, doc_b""",
    "q_filter_cascade" ->
      s"""WITH s AS (SELECT lang, n_chars, len($toks) AS n_toks,
           $qualityExpr AS q,
           len(list_distinct($toks)) * 2 >= len($toks) AS dok,
           len(list_filter($toks, t -> list_contains(['the','of','and','to','in','is','that','it','was','for'], t))) AS en,
           len(list_filter($toks, t -> list_contains(['der','die','das','und','ist','ich','nicht','mit','ein','zu'], t))) AS de,
           len(list_filter($toks, t -> list_contains(['le','la','les','et','est','un','une','des','du','je'], t))) AS fr,
           len(list_filter($toks, t -> list_contains(['el','los','de','que','y','en','se','no','por','con'], t))) AS es,
           len(regexp_extract_all(text, '[\\x{4e00}-\\x{9fff}]', 0)) AS cjk
         FROM documents),
         f AS (SELECT n_toks,
           CASE WHEN n_chars < ${operators.TextOps.DefaultMinChars} THEN 0
                WHEN q < ${operators.TextOps.DefaultMinQuality} THEN 1
                WHEN (CASE WHEN cjk > 0 THEN 'zh'
                           WHEN en >= de AND en >= fr AND en >= es THEN 'en'
                           WHEN de >= fr AND de >= es THEN 'de'
                           WHEN fr >= es THEN 'fr' ELSE 'es' END) <> lang THEN 2
                WHEN NOT dok THEN 3 ELSE 4 END AS lvl
         FROM s)
         SELECT CAST(v.stage AS INT) AS stage, v.stage_name,
           count(*) FILTER (WHERE f.lvl >= v.stage) AS n_docs,
           CAST(coalesce(sum(f.n_toks) FILTER (WHERE f.lvl >= v.stage), 0) AS BIGINT) AS n_tokens
         FROM f, (VALUES (0,'raw'),(1,'min_length'),(2,'quality'),
                         (3,'lang_match'),(4,'distinct_ratio')) AS v(stage, stage_name)
         GROUP BY v.stage, v.stage_name
         ORDER BY stage""",
    "q_cms_audit" ->
      s"""WITH tk AS (SELECT unnest($toks) AS tok FROM documents),
         rr AS (SELECT unnest(generate_series(0, 3)) AS r),
         counters AS (SELECT r,
             CAST(concat('0x', substring(md5(concat(CAST(r AS VARCHAR), ':cms:', tok)), 1, 15)) AS BIGINT) % 16 AS b,
             count(*) AS c
           FROM tk, rr GROUP BY 1, 2),
         top AS (SELECT tok, count(*) AS true_cnt FROM tk GROUP BY tok
           ORDER BY true_cnt DESC, tok LIMIT 10),
         probes AS (SELECT tok, true_cnt, r,
             CAST(concat('0x', substring(md5(concat(CAST(r AS VARCHAR), ':cms:', tok)), 1, 15)) AS BIGINT) % 16 AS b
           FROM top, rr),
         est AS (SELECT p.tok, p.true_cnt, min(c.c) AS est_cnt
           FROM probes p JOIN counters c ON c.r = p.r AND c.b = p.b
           GROUP BY p.tok, p.true_cnt)
         SELECT tok, CAST(true_cnt AS BIGINT) AS true_cnt,
           CAST(est_cnt AS BIGINT) AS est_cnt,
           CAST(est_cnt - true_cnt AS BIGINT) AS overestimate,
           est_cnt >= true_cnt AS sound
         FROM est ORDER BY true_cnt DESC, tok""",
    "q_release_manifest" ->
      s"""WITH RECURSIVE $ccReachCtes,
         canon AS (SELECT a AS doc_id, min(r) AS canon_id
           FROM reach GROUP BY a),
         cs AS (SELECT doc_id, lang, n_chars, len($toks) AS n_toks,
           $qualityExpr AS q,
           len(list_distinct($toks)) * 2 >= len($toks) AS dok,
           len(list_filter($toks, t -> list_contains(['the','of','and','to','in','is','that','it','was','for'], t))) AS en,
           len(list_filter($toks, t -> list_contains(['der','die','das','und','ist','ich','nicht','mit','ein','zu'], t))) AS de,
           len(list_filter($toks, t -> list_contains(['le','la','les','et','est','un','une','des','du','je'], t))) AS fr,
           len(list_filter($toks, t -> list_contains(['el','los','de','que','y','en','se','no','por','con'], t))) AS es,
           len(regexp_extract_all(text, '[\\x{4e00}-\\x{9fff}]', 0)) AS cjk
         FROM documents),
         lv AS (SELECT doc_id, CAST(n_toks AS BIGINT) AS n_toks,
           CASE WHEN n_chars < ${operators.TextOps.DefaultMinChars} THEN 0
                WHEN q < ${operators.TextOps.DefaultMinQuality} THEN 1
                WHEN (CASE WHEN cjk > 0 THEN 'zh'
                           WHEN en >= de AND en >= fr AND en >= es THEN 'en'
                           WHEN de >= fr AND de >= es THEN 'de'
                           WHEN fr >= es THEN 'fr' ELSE 'es' END) <> lang THEN 2
                WHEN NOT dok THEN 3 ELSE 4 END AS lvl
         FROM cs),
         db AS (SELECT doc_id, $toks AS toks,
           CAST(concat('0x', substring(md5(concat('split:', CAST(doc_id AS VARCHAR))), 1, 15)) AS BIGINT) % 100 AS bucket
           FROM documents),
         dsh AS (SELECT doc_id, bucket, md5(unnest(list_transform(
             generate_series(1, len(toks) - 7),
             i -> array_to_string(toks[i:i+7], ' ')))) AS h
           FROM db WHERE len(toks) >= 8),
         dt AS (SELECT DISTINCT doc_id, h FROM dsh WHERE bucket < 80),
         dev AS (SELECT DISTINCT h FROM dsh WHERE bucket >= 90),
         flagged AS (SELECT DISTINCT dt.doc_id FROM dt JOIN dev USING (h)),
         g AS (SELECT lv.doc_id, lv.n_toks,
             (db.bucket < 80) AS g1,
             (db.bucket < 80 AND lv.lvl = 4) AS g2,
             (db.bucket < 80 AND lv.lvl = 4
               AND (c.canon_id IS NULL OR c.canon_id = lv.doc_id)) AS g3,
             (db.bucket < 80 AND lv.lvl = 4
               AND (c.canon_id IS NULL OR c.canon_id = lv.doc_id)
               AND f.doc_id IS NULL) AS g4
           FROM lv
             JOIN db ON db.doc_id = lv.doc_id
             LEFT JOIN canon c ON c.doc_id = lv.doc_id
             LEFT JOIN flagged f ON f.doc_id = lv.doc_id)
         SELECT CAST(v.stage AS INT) AS stage, v.stage_name,
           CAST(count(*) FILTER (WHERE v.stage = 0
             OR (v.stage = 1 AND g1) OR (v.stage = 2 AND g2)
             OR (v.stage = 3 AND g3) OR (v.stage = 4 AND g4)) AS BIGINT)
             AS n_docs,
           CAST(coalesce(sum(n_toks) FILTER (WHERE v.stage = 0
             OR (v.stage = 1 AND g1) OR (v.stage = 2 AND g2)
             OR (v.stage = 3 AND g3) OR (v.stage = 4 AND g4)), 0) AS BIGINT)
             AS n_tokens
         FROM g, (VALUES (0,'raw'),(1,'train_split'),(2,'quality_cascade'),
                         (3,'near_dup_dedup'),(4,'decontamination'))
           AS v(stage, stage_name)
         GROUP BY v.stage, v.stage_name ORDER BY stage""",
    "q_mixture_sample" ->
      s"""WITH t AS (SELECT source, CAST(sum(len($toks)) AS BIGINT) AS total
           FROM documents GROUP BY source),
         w AS (SELECT source, total,
             CAST(floor(sqrt(CAST(total AS DOUBLE))) AS BIGINT) AS w FROM t),
         sw AS (SELECT CAST(sum(w) AS BIGINT) AS sw FROM w),
         r AS (SELECT source,
             least(CAST(10000 AS BIGINT),
               CAST((CAST(${operators.TextOps.DefaultMixtureBudget} AS HUGEINT) * w * 10000)
                 // (CAST(sw.sw AS HUGEINT) * total) AS BIGINT)) AS rate_bp
           FROM w, sw),
         b AS (SELECT doc_id, source,
             CAST(concat('0x', substring(md5(concat('mix:', CAST(doc_id AS VARCHAR))), 1, 15)) AS BIGINT) % 10000 AS bk
           FROM documents)
         SELECT b.doc_id, b.source, CAST(r.rate_bp AS INT) AS rate_bp
         FROM b JOIN r USING (source)
         WHERE b.bk < r.rate_bp ORDER BY doc_id""",
    "q_snapshot_diff" ->
      """WITH d AS (SELECT doc_id, text,
           CAST(concat('0x', substring(md5(concat('snap:', CAST(doc_id AS VARCHAR))), 1, 15)) AS BIGINT) % 100 AS bk
         FROM documents),
         a AS (SELECT doc_id, md5(text) AS fp FROM d WHERE bk < 90),
         b AS (SELECT doc_id,
             md5(CASE WHEN bk >= 40 AND bk < 60 THEN upper(text) ELSE text END) AS fp
           FROM d WHERE bk >= 10),
         j AS (SELECT coalesce(a.doc_id, b.doc_id) AS doc_id,
             CASE WHEN a.doc_id IS NULL THEN 'added'
                  WHEN b.doc_id IS NULL THEN 'removed'
                  WHEN a.fp <> b.fp THEN 'modified'
                  ELSE 'unchanged' END AS status
           FROM a FULL OUTER JOIN b ON a.doc_id = b.doc_id)
         SELECT doc_id, status FROM j WHERE status <> 'unchanged'
         ORDER BY doc_id""",
    "q_cdc_apply" ->
      """SELECT doc_id,
         md5(CASE WHEN bk >= 40 AND bk < 60 THEN upper(text) ELSE text END)
           AS fp
         FROM (SELECT doc_id, text,
             CAST(concat('0x', substring(md5(concat('snap:', CAST(doc_id AS VARCHAR))), 1, 15)) AS BIGINT) % 100 AS bk
           FROM documents)
         WHERE bk >= 10 ORDER BY doc_id""",
    "q_repeated_spans" ->
      s"""WITH docs AS (SELECT doc_id, $toks AS toks FROM documents),
         sh AS (SELECT doc_id, unnest(list_transform(
             generate_series(1, len(toks) - 7),
             i -> array_to_string(toks[i:i+7], ' '))) AS span
           FROM docs WHERE len(toks) >= 8)
         SELECT span, count(DISTINCT doc_id) AS n_docs,
           count(*) AS n_occur
         FROM sh GROUP BY span HAVING n_docs >= 2
         ORDER BY n_docs DESC, n_occur DESC, span LIMIT 25""",
    "q_dedup_profile" ->
      s"""WITH RECURSIVE $ccReachCtes,
         canon AS (SELECT a AS doc_id, min(r) AS canon_id
           FROM reach GROUP BY a),
         cs AS (SELECT canon_id, count(*) AS cluster_size
           FROM canon GROUP BY canon_id)
         SELECT cluster_size, count(*) AS n_clusters,
           CAST(sum(cluster_size) AS BIGINT) AS n_docs
         FROM cs GROUP BY cluster_size ORDER BY cluster_size""",
    "q_dedup_best" ->
      s"""WITH RECURSIVE $ccReachCtes,
         canon AS (SELECT a AS doc_id, min(r) AS canon_id
           FROM reach GROUP BY a),
         q AS (SELECT doc_id, $qualityExpr AS quality FROM documents),
         j AS (SELECT c.canon_id, c.doc_id, q.quality,
             row_number() OVER (PARTITION BY c.canon_id
               ORDER BY q.quality DESC, c.doc_id) AS rk,
             count(*) OVER (PARTITION BY c.canon_id) AS nm
           FROM canon c JOIN q USING (doc_id))
         SELECT canon_id, CAST(doc_id AS BIGINT) AS best_id,
           CAST(nm AS BIGINT) AS n_members, quality
         FROM j WHERE rk = 1 ORDER BY canon_id""",
    "q_dedup_assignments" ->
      s"""WITH RECURSIVE $ccReachCtes
         SELECT a AS doc_id, min(r) AS canon_id
         FROM reach GROUP BY a ORDER BY doc_id""",
    // provenance rollup of the SAME CC assignments: cross-source dup
    // families are the ones whose removal shifts the source mixture
    "q_cluster_provenance" ->
      s"""WITH RECURSIVE $ccReachCtes,
         asn AS (SELECT a AS doc_id, min(r) AS canon_id
           FROM reach GROUP BY a),
         j AS (SELECT asn.canon_id, d.source, d.lang
           FROM asn JOIN documents d USING (doc_id))
         SELECT canon_id, CAST(count(*) AS BIGINT) AS n_docs,
           CAST(count(DISTINCT source) AS BIGINT) AS n_sources,
           CAST(count(DISTINCT lang) AS BIGINT) AS n_langs,
           count(DISTINCT source) > 1 AS cross_source
         FROM j GROUP BY 1 HAVING count(*) > 1 ORDER BY canon_id""",
    // the incremental maintenance must EQUAL the full recompute — the
    // oracle is deliberately the same full-corpus CC
    "q_incremental_clusters" ->
      s"""WITH RECURSIVE $ccReachCtes
         SELECT a AS doc_id, min(r) AS canon_id
         FROM reach GROUP BY a ORDER BY doc_id""",
    "q_cluster_split" ->
      s"""WITH RECURSIVE $ccReachCtes,
         canon AS (SELECT a AS doc_id, min(r) AS canon_id
           FROM reach GROUP BY a),
         g AS (SELECT d.doc_id, coalesce(c.canon_id, d.doc_id) AS group_id
           FROM documents d LEFT JOIN canon c ON d.doc_id = c.doc_id)
         SELECT doc_id, group_id,
           CASE WHEN b < 80 THEN 'train' WHEN b < 90 THEN 'val'
                ELSE 'test' END AS split
         FROM (SELECT doc_id, group_id,
             CAST(concat('0x', substring(md5(concat('split:', CAST(group_id AS VARCHAR))), 1, 15)) AS BIGINT) % 100 AS b
           FROM g)
         ORDER BY doc_id""",
    "q_source_dup_burden" ->
      s"""WITH RECURSIVE $ccReachCtes,
         canon AS (SELECT a AS doc_id, min(r) AS canon_id
           FROM reach GROUP BY a),
         j AS (SELECT d.source,
             CASE WHEN c.canon_id IS NOT NULL THEN 1 ELSE 0 END AS clustered,
             CASE WHEN c.canon_id IS NOT NULL AND c.canon_id <> d.doc_id
               THEN 1 ELSE 0 END AS loser
           FROM documents d LEFT JOIN canon c ON d.doc_id = c.doc_id)
         SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(clustered) AS BIGINT) AS n_clustered,
           CAST(sum(loser) AS BIGINT) AS n_dropped,
           CAST(sum(loser) * 10000 // count(*) AS BIGINT) AS burden_bp
         FROM j GROUP BY source ORDER BY source""",
    "q_dedup_corpus" ->
      s"""WITH RECURSIVE $ccReachCtes,
         canon AS (SELECT a AS doc_id, min(r) AS canon_id
           FROM reach GROUP BY a)
         SELECT d.doc_id, d.lang FROM documents d
         LEFT JOIN canon c ON d.doc_id = c.doc_id
         WHERE c.doc_id IS NULL OR c.canon_id = d.doc_id
         ORDER BY d.doc_id""",
    "q_brute_force_topk" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         q AS (SELECT v AS qv FROM e WHERE vec_id = 0)
         SELECT vec_id, round(list_cosine_similarity(v, qv), 4) AS cos_sim
         FROM e, q WHERE vec_id <> 0
         ORDER BY cos_sim DESC, vec_id LIMIT 10""",
    "q_ivf_topk" -> ivfTopKSql,
    "q_ivf_topk_indexed" -> ivfTopKSql,
    "q_mmr_rerank" -> mmrRerankSql,
    "q_bitext_mine" ->
      s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
           FROM embeddings),
         $EmbLshPlSgCte,
         cand AS (SELECT DISTINCT x.vec_id AS x, y.vec_id AS y
           FROM sg x JOIN sg y ON x.band = y.band AND x.sig = y.sig
           WHERE x.vec_id % 2 = 0 AND y.vec_id % 2 = 1),
         sims AS (SELECT c.x, c.y,
             CAST(round(list_cosine_similarity(a.v, b.v) * 10000)
               AS BIGINT) AS cs_u
           FROM cand c JOIN e a ON a.vec_id = c.x
             JOIN e b ON b.vec_id = c.y),
         fwd AS (SELECT x, y, cs_u, row_number() OVER (
             PARTITION BY x ORDER BY cs_u DESC, y) AS rn FROM sims),
         fk AS (SELECT * FROM fwd WHERE rn <= 4),
         sax AS (SELECT x, CAST(sum(cs_u) AS BIGINT) AS sax_u FROM fk
           GROUP BY x),
         bwd AS (SELECT x, y, cs_u, row_number() OVER (
             PARTITION BY y ORDER BY cs_u DESC, x) AS rn FROM sims),
         say AS (SELECT y, CAST(sum(cs_u) AS BIGINT) AS say_u FROM bwd
           WHERE rn <= 4 GROUP BY y)
         SELECT fk.x AS x_id, fk.y AS y_id, CAST(fk.rn AS INT) AS fwd_rank,
           fk.cs_u, (2 * 4 * cs_u * 10000) // (sax_u + say_u) AS margin_bp
         FROM fk JOIN sax USING (x) JOIN say USING (y)
         WHERE fk.cs_u > 0 AND sax_u + say_u > 0
           AND (2 * 4 * cs_u * 10000) // (sax_u + say_u) >= 10200
         ORDER BY x_id, y_id""",
    "q_knn_label_agreement" ->
      s"""WITH e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v
           FROM embeddings),
         $EmbLshPlSgCte,
         cand AS (SELECT DISTINCT x.vec_id AS a, y.vec_id AS b
           FROM sg x JOIN sg y ON x.band = y.band AND x.sig = y.sig
             AND x.vec_id <> y.vec_id),
         s AS (SELECT c.a, ea.label AS la, eb.label AS lb, c.b,
             CAST(round(list_cosine_similarity(ea.v, eb.v) * 10000)
               AS BIGINT) AS cs_u
           FROM cand c JOIN e ea ON ea.vec_id = c.a
             JOIN e eb ON eb.vec_id = c.b),
         r AS (SELECT a, la, lb, row_number() OVER (
             PARTITION BY a ORDER BY cs_u DESC, b) AS rn FROM s),
         vt AS (SELECT a, CAST(sum(CASE WHEN la = lb THEN 1 ELSE 0
             END) AS BIGINT) AS agree
           FROM r WHERE rn <= 5 GROUP BY a),
         pv AS (SELECT e.vec_id AS a, e.label AS la,
             CAST(coalesce(vt.agree, 0) AS BIGINT) AS agree
           FROM e LEFT JOIN vt ON vt.a = e.vec_id)
         SELECT la AS label, CAST(count(*) AS BIGINT) AS n_vecs,
           CAST(sum(agree) AS BIGINT) * 10000
             // (CAST(count(*) AS BIGINT) * 5) AS agree_bp,
           CAST(sum(CASE WHEN agree * 2 < 5 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_suspect
         FROM pv GROUP BY la ORDER BY label""",
    "q_knn_banded_recall" ->
      s"""WITH e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v
           FROM embeddings),
         $EmbLshPlSgCte,
         pr AS (SELECT vec_id AS a, label AS la, v AS av FROM e
           WHERE vec_id < 100),
         ex0 AS (SELECT pr.a, pr.la, b.vec_id AS b, b.label AS lb,
             CAST(round(list_cosine_similarity(pr.av, b.v) * 10000)
               AS BIGINT) AS cs_u
           FROM pr JOIN e b ON b.vec_id <> pr.a),
         ex AS (SELECT * FROM (SELECT *, row_number() OVER (
             PARTITION BY a ORDER BY cs_u DESC, b) AS rn FROM ex0)
           WHERE rn <= 5),
         bc AS (SELECT DISTINCT x.vec_id AS a, y.vec_id AS b
           FROM sg x JOIN sg y ON x.band = y.band AND x.sig = y.sig
             AND x.vec_id <> y.vec_id
           WHERE x.vec_id < 100),
         bs0 AS (SELECT bc.a, ea.label AS la, bc.b, eb.label AS lb,
             CAST(round(list_cosine_similarity(ea.v, eb.v) * 10000)
               AS BIGINT) AS cs_u
           FROM bc JOIN e ea ON ea.vec_id = bc.a
             JOIN e eb ON eb.vec_id = bc.b),
         bs AS (SELECT * FROM (SELECT *, row_number() OVER (
             PARTITION BY a ORDER BY cs_u DESC, b) AS rn FROM bs0)
           WHERE rn <= 5),
         ov AS (SELECT ex.a, count(*) AS hits FROM ex
           JOIN bs ON ex.a = bs.a AND ex.b = bs.b GROUP BY ex.a),
         ve AS (SELECT a, sum(CASE WHEN la = lb THEN 1 ELSE 0 END)
             AS agree FROM ex GROUP BY a),
         vb AS (SELECT a, sum(CASE WHEN la = lb THEN 1 ELSE 0 END)
             AS agree FROM bs GROUP BY a),
         per AS (SELECT pr.a,
             CAST(coalesce(ov.hits, 0) AS BIGINT) AS hits,
             CAST(coalesce(ve.agree, 0) AS BIGINT) AS ae,
             CAST(coalesce(vb.agree, 0) AS BIGINT) AS ab
           FROM pr LEFT JOIN ov ON ov.a = pr.a
             LEFT JOIN ve ON ve.a = pr.a LEFT JOIN vb ON vb.a = pr.a)
         SELECT CAST(count(*) AS BIGINT) AS n_probes,
           CAST(sum(hits) AS BIGINT) AS nn_hits,
           CAST(sum(hits) AS BIGINT) * 10000 // (count(*) * 5)
             AS recall_bp,
           CAST(sum(CASE WHEN hits = 5 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_probes_full,
           CAST(sum(CASE WHEN (ae * 2 < 5) <> (ab * 2 < 5) THEN 1
             ELSE 0 END) AS BIGINT) AS n_vote_flips
         FROM per""",
    "q_label_suspects" ->
      """WITH e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v
           FROM embeddings),
         dx0 AS (SELECT label, unnest(generate_series(1, len(v))) AS d,
             unnest(v) AS x FROM e),
         dx AS (SELECT label, d, CAST(round(x * 1000000.0) AS BIGINT) AS xf
           FROM dx0),
         g AS (SELECT label, d, CAST(sum(xf) AS BIGINT) AS sx, count(*) AS n
           FROM dx GROUP BY label, d),
         cm AS (SELECT label, d, CAST(sx AS DOUBLE) / n / 1000000.0 AS m
           FROM g),
         cent AS (SELECT label AS clabel, list(m ORDER BY d) AS cv
           FROM cm GROUP BY label),
         sc AS (SELECT e.vec_id, e.label, c.clabel,
             round(list_cosine_similarity(e.v, c.cv), 4) AS cs
           FROM e, cent c),
         intra AS (SELECT vec_id, label,
             CAST(round(cs * 10000.0) AS BIGINT) AS intra_t
           FROM sc WHERE label = clabel),
         rival AS (SELECT vec_id, clabel AS rival_label,
             CAST(round(cs * 10000.0) AS BIGINT) AS rival_t
           FROM (SELECT vec_id, clabel, cs, row_number() OVER (
               PARTITION BY vec_id ORDER BY cs DESC, clabel) AS rn
             FROM sc WHERE label <> clabel)
           WHERE rn = 1)
         SELECT i.vec_id, i.label, r.rival_label, i.intra_t, r.rival_t,
           CAST(r.rival_t - i.intra_t AS BIGINT) AS margin_t
         FROM intra i JOIN rival r USING (vec_id)
         WHERE r.rival_t > i.intra_t
         ORDER BY vec_id""",
    "q_label_silhouette" ->
      """WITH e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v
           FROM embeddings),
         dx0 AS (SELECT label, unnest(generate_series(1, len(v))) AS d,
             unnest(v) AS x FROM e),
         dx AS (SELECT label, d, CAST(round(x * 1000000.0) AS BIGINT) AS xf
           FROM dx0),
         g AS (SELECT label, d, CAST(sum(xf) AS BIGINT) AS sx, count(*) AS n
           FROM dx GROUP BY label, d),
         cm AS (SELECT label, d, CAST(sx AS DOUBLE) / n / 1000000.0 AS m
           FROM g),
         cent AS (SELECT label AS clabel, list(m ORDER BY d) AS cv
           FROM cm GROUP BY label),
         sc AS (SELECT e.vec_id, e.label, c.clabel,
             round(list_cosine_similarity(e.v, c.cv), 4) AS cs
           FROM e, cent c),
         intra AS (SELECT vec_id, label,
             CAST(round(cs * 10000.0) AS BIGINT) AS it
           FROM sc WHERE label = clabel),
         inter AS (SELECT vec_id,
             CAST(round(max(cs) * 10000.0) AS BIGINT) AS xt
           FROM sc WHERE label <> clabel GROUP BY vec_id),
         j AS (SELECT label, it, xt FROM intra JOIN inter USING (vec_id))
         SELECT label, CAST(count(*) AS BIGINT) AS n_vecs,
           CAST((sum(it) + 10000 * count(*)) // count(*) - 10000 AS BIGINT)
             AS mean_intra_t,
           CAST((sum(xt) + 10000 * count(*)) // count(*) - 10000 AS BIGINT)
             AS mean_inter_t,
           CAST(((sum(it) + 10000 * count(*)) // count(*))
             - ((sum(xt) + 10000 * count(*)) // count(*)) AS BIGINT)
             AS separation_t
         FROM j GROUP BY label ORDER BY label""",
    "q_ann_recall" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         c AS (SELECT vec_id AS cid, v AS cv FROM e WHERE vec_id < 8),
         a AS (SELECT e.vec_id, e.v, c.cid,
             list_cosine_similarity(e.v, c.cv) AS sim FROM e, c),
         r AS (SELECT vec_id, v, cid,
             row_number() OVER (PARTITION BY vec_id ORDER BY sim DESC, cid) AS rn
           FROM a),
         asg AS (SELECT vec_id, v, cid FROM r WHERE rn = 1),
         q AS (SELECT vec_id AS qid, v AS qv, cid AS qcid FROM asg
           WHERE vec_id < 20),
         brute AS (SELECT qid, vec_id FROM (
             SELECT q.qid, e.vec_id, row_number() OVER (PARTITION BY q.qid
                 ORDER BY round(list_cosine_similarity(e.v, q.qv), 4) DESC,
                   e.vec_id) AS rn
             FROM e, q WHERE e.vec_id <> q.qid)
           WHERE rn <= 5),
         ivf AS (SELECT qid, vec_id FROM (
             SELECT q.qid, asg.vec_id, row_number() OVER (PARTITION BY q.qid
                 ORDER BY round(list_cosine_similarity(asg.v, q.qv), 4) DESC,
                   asg.vec_id) AS rn
             FROM asg, q WHERE asg.cid = q.qcid AND asg.vec_id <> q.qid)
           WHERE rn <= 5)
         SELECT b.qid AS query_id, CAST(count(*) AS BIGINT) AS n_brute,
           CAST(sum(CASE WHEN i.vec_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
             AS n_overlap,
           round(CAST(sum(CASE WHEN i.vec_id IS NOT NULL THEN 1 ELSE 0 END)
             AS DOUBLE) / count(*), 4) AS recall
         FROM brute b LEFT JOIN ivf i ON i.qid = b.qid AND i.vec_id = b.vec_id
         GROUP BY b.qid ORDER BY query_id""",
    "q_power_iteration" ->
      s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
           FROM embeddings),
         vv0 AS (SELECT list_transform(generate_series(1, 64), x -> 0.125)
           AS vl),
         ${powerRoundCtes(1)},
         ${powerRoundCtes(2)},
         ${powerRoundCtes(3)}
         SELECT CAST(u3.d AS INT) AS d, u3.vu AS v_u,
           CAST(n3.n2 AS BIGINT) AS norm2_p
         FROM u3, n3 ORDER BY d""",
    "q_anisotropy" ->
      s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
           FROM embeddings),
         vv0 AS (SELECT list_transform(generate_series(1, 64), x -> 0.125)
           AS vl),
         ${powerRoundCtes(1)},
         ${powerRoundCtes(2)},
         ${powerRoundCtes(3)},
         ms AS (SELECT d,
             CAST(sum(CAST(round(x * 1000000.0) AS BIGINT)) AS BIGINT) AS sx
           FROM (SELECT unnest(generate_series(1, len(v))) AS d,
               unnest(v) AS x FROM e)
           GROUP BY d),
         nn AS (SELECT count(*) AS n FROM e),
         mu AS (SELECT d, CAST(sx AS DOUBLE) / n / 1000000.0 AS m
           FROM ms, nn),
         vdir AS (SELECT d, vu / 1000000.0 AS vd FROM u3),
         j AS (SELECT mu.d, mu.m, vdir.vd FROM mu JOIN vdir USING (d)),
         mun AS (SELECT CAST(sum(CAST(round(m * m * 1000000000000.0)
             AS BIGINT)) AS BIGINT) AS q FROM j),
         pj AS (SELECT CAST(sum(CAST(round(m * vd * 1000000000000.0)
             AS BIGINT)) AS BIGINT) AS p FROM j),
         res AS (SELECT d, m - (CAST(p AS DOUBLE) / 1000000000000.0) * vd AS r
           FROM j, pj),
         resn AS (SELECT CAST(sum(CAST(round(r * r * 1000000000000.0)
             AS BIGINT)) AS BIGINT) AS q FROM res)
         SELECT CAST(nn.n AS BIGINT) AS n_vecs,
           CAST(round(sqrt(CAST(mun.q AS DOUBLE) / 1000000000000.0)
             * 1000000.0) AS BIGINT) AS mu_norm_u,
           CAST(round(abs(CAST(pj.p AS DOUBLE) / 1000000000000.0)
             * 1000000.0) AS BIGINT) AS proj_u,
           CAST(round(sqrt(CAST(resn.q AS DOUBLE) / 1000000000000.0)
             * 1000000.0) AS BIGINT) AS res_norm_u
         FROM nn, mun, pj, resn""",
    "q_matryoshka_recall" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
           CAST(embedding[1:16] AS DOUBLE[]) AS p FROM embeddings),
         q AS (SELECT vec_id AS qid, v AS qv, p AS qp FROM e
           WHERE vec_id < 20),
         fl AS (SELECT qid, vec_id FROM (
             SELECT q.qid, e.vec_id, row_number() OVER (PARTITION BY q.qid
                 ORDER BY round(list_cosine_similarity(e.v, q.qv), 4) DESC,
                   e.vec_id) AS rn
             FROM e, q WHERE e.vec_id <> q.qid)
           WHERE rn <= 5),
         pr AS (SELECT qid, vec_id FROM (
             SELECT q.qid, e.vec_id, row_number() OVER (PARTITION BY q.qid
                 ORDER BY round(list_cosine_similarity(e.p, q.qp), 4) DESC,
                   e.vec_id) AS rn
             FROM e, q WHERE e.vec_id <> q.qid)
           WHERE rn <= 5)
         SELECT f.qid AS query_id, CAST(count(*) AS BIGINT) AS n_full,
           CAST(sum(CASE WHEN p.vec_id IS NOT NULL THEN 1 ELSE 0 END)
             AS BIGINT) AS n_overlap,
           round(CAST(sum(CASE WHEN p.vec_id IS NOT NULL THEN 1 ELSE 0 END)
             AS DOUBLE) / count(*), 4) AS recall
         FROM fl f LEFT JOIN pr p ON p.qid = f.qid AND p.vec_id = f.vec_id
         GROUP BY f.qid ORDER BY query_id""",
    "q_hashed_tf_neardup" ->
      s"""WITH $hashedTfVecCtes,
         $EmbLshSigCte
         SELECT c.vec_a AS doc_a, c.vec_b AS doc_b,
           round(list_cosine_similarity(a.v, b.v), 4) AS cos_sim
         FROM cand c JOIN e a ON a.vec_id = c.vec_a JOIN e b ON b.vec_id = c.vec_b
         WHERE round(list_cosine_similarity(a.v, b.v), 4) >= 0.9
         ORDER BY doc_a, doc_b""",
    "q_embedding_neardup" ->
      s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
           FROM embeddings),
         $EmbLshSigCte
         SELECT c.vec_a, c.vec_b,
           round(list_cosine_similarity(a.v, b.v), 4) AS cos_sim
         FROM cand c JOIN e a ON a.vec_id = c.vec_a JOIN e b ON b.vec_id = c.vec_b
         WHERE round(list_cosine_similarity(a.v, b.v), 4) >= 0.3
         ORDER BY vec_a, vec_b""",
    "q_media_neardup" ->
      s"""WITH $MediaFeatureCtes
         SELECT c.vec_a AS asset_a, c.vec_b AS asset_b,
           round(list_cosine_similarity(a.v, b.v), 4) AS cos_sim
         FROM cand c JOIN e2 a ON a.vec_id = c.vec_a
           JOIN e2 b ON b.vec_id = c.vec_b
         WHERE round(list_cosine_similarity(a.v, b.v), 4) >= 0.8
         ORDER BY asset_a, asset_b""",
    "q_media_lsh_recall" ->
      s"""WITH $MediaFeatureCtes,
         truth AS (SELECT p.vec_id AS vec_a, o.vec_id AS vec_b,
             round(list_cosine_similarity(p.v, o.v), 4) AS cos_sim
           FROM e2 p JOIN e2 o ON p.vec_id < o.vec_id AND p.vec_id < 100
           WHERE round(list_cosine_similarity(p.v, o.v), 4) >= 0.8)
         SELECT round(t.cos_sim, 1) AS cos_bucket,
           count(*) AS n_true,
           CAST(sum(CASE WHEN c.vec_a IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
             AS n_caught,
           round(CAST(sum(CASE WHEN c.vec_a IS NOT NULL THEN 1 ELSE 0 END)
             AS DOUBLE) / count(*), 4) AS recall
         FROM truth t LEFT JOIN (SELECT * FROM cand WHERE vec_a < 100) c
           ON c.vec_a = t.vec_a AND c.vec_b = t.vec_b
         GROUP BY 1 ORDER BY cos_bucket""",
    "q_media_dedup_best" ->
      s"""WITH RECURSIVE $MediaFeatureCtes,
         vp AS (SELECT c.vec_a AS a0, c.vec_b AS b0 FROM cand c
           JOIN e2 a ON a.vec_id = c.vec_a JOIN e2 b ON b.vec_id = c.vec_b
           WHERE round(list_cosine_similarity(a.v, b.v), 4) >= 0.8),
         edges AS (SELECT a0 AS a, b0 AS b FROM vp
                   UNION SELECT b0 AS a, a0 AS b FROM vp),
         reach(a, r) AS (
           SELECT a, b FROM edges
           UNION SELECT a, a FROM edges
           UNION SELECT e.a, reach.r FROM edges e JOIN reach ON e.b = reach.a),
         canon AS (SELECT a AS asset_id, min(r) AS canon_id
           FROM reach GROUP BY a),
         byts AS (SELECT doc_id AS asset_id,
             CAST(strlen(text) AS BIGINT) AS n_bytes FROM documents),
         j AS (SELECT c.canon_id, c.asset_id, b.n_bytes,
             row_number() OVER (PARTITION BY c.canon_id
               ORDER BY b.n_bytes DESC, c.asset_id) AS rn,
             count(*) OVER (PARTITION BY c.canon_id) AS n_members
           FROM canon c JOIN byts b USING (asset_id))
         SELECT canon_id, asset_id AS best_id,
           CAST(n_members AS BIGINT) AS n_members, n_bytes
         FROM j WHERE rn = 1 ORDER BY canon_id""",
    "q_media_mp_recall" ->
      s"""WITH $MediaFeatureCtes,
         mp AS (SELECT DISTINCT x.vec_id AS vec_a, y.vec_id AS vec_b
           FROM sg x JOIN sg y ON x.band = y.band
             AND bit_count(xor(CAST(x.sig AS BIGINT), CAST(y.sig AS BIGINT))) <= 1
             AND x.vec_id < y.vec_id AND x.vec_id < 100),
         truth AS (SELECT p.vec_id AS vec_a, o.vec_id AS vec_b,
             round(list_cosine_similarity(p.v, o.v), 4) AS cos_sim
           FROM e2 p JOIN e2 o ON p.vec_id < o.vec_id AND p.vec_id < 100
           WHERE round(list_cosine_similarity(p.v, o.v), 4) >= 0.8)
         SELECT round(t.cos_sim, 1) AS cos_bucket,
           count(*) AS n_true,
           CAST(sum(CASE WHEN c.vec_a IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
             AS n_caught,
           round(CAST(sum(CASE WHEN c.vec_a IS NOT NULL THEN 1 ELSE 0 END)
             AS DOUBLE) / count(*), 4) AS recall
         FROM truth t LEFT JOIN mp c
           ON c.vec_a = t.vec_a AND c.vec_b = t.vec_b
         GROUP BY 1 ORDER BY cos_bucket""",
    "q_embedding_lsh_recall" ->
      s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
           FROM embeddings),
         $EmbLshSigCte,
         truth AS (SELECT p.vec_id AS vec_a, o.vec_id AS vec_b,
             round(list_cosine_similarity(p.v, o.v), 4) AS cos_sim
           FROM e p JOIN e o ON p.vec_id < o.vec_id AND p.vec_id < 100
           WHERE round(list_cosine_similarity(p.v, o.v), 4) >= 0.3)
         SELECT round(t.cos_sim, 1) AS cos_bucket,
           count(*) AS n_true,
           CAST(sum(CASE WHEN c.vec_a IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
             AS n_caught,
           round(CAST(sum(CASE WHEN c.vec_a IS NOT NULL THEN 1 ELSE 0 END)
             AS DOUBLE) / count(*), 4) AS recall
         FROM truth t LEFT JOIN (SELECT * FROM cand WHERE vec_a < 100) c
           ON c.vec_a = t.vec_a AND c.vec_b = t.vec_b
         GROUP BY 1 ORDER BY cos_bucket""",
    "q_hard_negatives" ->
      """WITH e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v
           FROM embeddings),
         p AS (SELECT vec_id AS query_id, label AS qlabel, v AS qv
           FROM e WHERE vec_id < 20),
         scored AS (SELECT p.query_id, e.vec_id,
             round(list_cosine_similarity(e.v, p.qv), 4) AS cos_sim,
             CAST(row_number() OVER (PARTITION BY p.query_id
               ORDER BY round(list_cosine_similarity(e.v, p.qv), 4) DESC,
                 e.vec_id) AS INT) AS rank
           FROM e JOIN p ON e.label <> p.qlabel)
         SELECT query_id, vec_id, cos_sim, rank FROM scored
         WHERE rank <= 3 ORDER BY query_id, rank""",
    "q_embedding_mp_recall" ->
      s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
           FROM embeddings),
         $EmbLshSigCte,
         mp AS (SELECT DISTINCT x.vec_id AS vec_a, y.vec_id AS vec_b
           FROM sg x JOIN sg y ON x.band = y.band
             AND bit_count(xor(CAST(x.sig AS BIGINT), CAST(y.sig AS BIGINT))) <= 1
             AND x.vec_id < y.vec_id AND x.vec_id < 100),
         truth AS (SELECT p.vec_id AS vec_a, o.vec_id AS vec_b,
             round(list_cosine_similarity(p.v, o.v), 4) AS cos_sim
           FROM e p JOIN e o ON p.vec_id < o.vec_id AND p.vec_id < 100
           WHERE round(list_cosine_similarity(p.v, o.v), 4) >= 0.3)
         SELECT round(t.cos_sim, 1) AS cos_bucket,
           count(*) AS n_true,
           CAST(sum(CASE WHEN c.vec_a IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
             AS n_caught,
           round(CAST(sum(CASE WHEN c.vec_a IS NOT NULL THEN 1 ELSE 0 END)
             AS DOUBLE) / count(*), 4) AS recall
         FROM truth t LEFT JOIN mp c
           ON c.vec_a = t.vec_a AND c.vec_b = t.vec_b
         GROUP BY 1 ORDER BY cos_bucket""",
    "q_embedding_incremental" ->
      s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
           FROM embeddings),
         $EmbLshSigCte,
         ip AS (SELECT DISTINCT x.vec_id AS new_vec, y.vec_id AS index_vec
           FROM sg x JOIN sg y ON x.band = y.band AND x.sig = y.sig
           WHERE x.vec_id % 4 = 3 AND y.vec_id % 4 <> 3)
         SELECT ip.new_vec, ip.index_vec,
           round(list_cosine_similarity(a.v, b.v), 4) AS cos_sim
         FROM ip JOIN e a ON a.vec_id = ip.new_vec
           JOIN e b ON b.vec_id = ip.index_vec
         WHERE round(list_cosine_similarity(a.v, b.v), 4) >= 0.3
         ORDER BY new_vec, index_vec""",
    "q_embedding_clusters" ->
      s"""WITH RECURSIVE
         e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
           FROM embeddings),
         $EmbLshSigCte,
         p AS (SELECT c.vec_a AS doc_a, c.vec_b AS doc_b
           FROM cand c JOIN e a ON a.vec_id = c.vec_a JOIN e b ON b.vec_id = c.vec_b
           WHERE round(list_cosine_similarity(a.v, b.v), 4) >= 0.3),
         edges AS (SELECT doc_a AS a, doc_b AS b FROM p
                   UNION SELECT doc_b AS a, doc_a AS b FROM p),
         reach(a, r) AS (
           SELECT a, b FROM edges
           UNION SELECT a, a FROM edges
           UNION SELECT e2.a, reach.r FROM edges e2 JOIN reach ON e2.b = reach.a)
         SELECT a AS vec_id, min(r) AS canon_id
         FROM reach GROUP BY a ORDER BY vec_id""",
    "q_range_join_attrib" ->
      """SELECT p.event_id, count(*) AS n_clicks,
         CAST(round(sum(CAST(c.value AS DECIMAL(12,2))), 2) AS DOUBLE) AS sum_click_value
         FROM (SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase') p
         JOIN (SELECT user_id, ts, value FROM events WHERE event_type = 'click') c
           ON c.user_id = p.user_id
           AND c.ts >= p.ts - INTERVAL 30 MINUTE AND c.ts < p.ts
         GROUP BY p.event_id ORDER BY p.event_id""",
    "q_linear_attribution" ->
      """WITH p AS (SELECT event_id AS p_id, user_id, ts AS p_ts,
           CAST(round(value * 100) AS BIGINT) AS value_c
           FROM events WHERE event_type = 'purchase'),
         t AS (SELECT event_id AS t_id, user_id, ts FROM events
           WHERE event_type IN ('view', 'click')),
         c AS (SELECT p.p_id, p.value_c, t.t_id,
             row_number() OVER (PARTITION BY p.p_id
               ORDER BY t.ts, t.t_id) AS rk,
             count(*) OVER (PARTITION BY p.p_id) AS n
           FROM p JOIN t ON t.user_id = p.user_id
             AND t.ts > p.p_ts - INTERVAL 60 MINUTE AND t.ts <= p.p_ts)
         SELECT p_id, t_id, CAST(rk AS INT) AS rk,
           CAST(value_c // n
             + CASE WHEN rk <= value_c % n THEN 1 ELSE 0 END AS BIGINT)
             AS share_c
         FROM c ORDER BY p_id, rk""",
    "q_top_tokens" ->
      s"""WITH t AS (SELECT lang, unnest($toks) AS tok FROM documents),
         c AS (SELECT lang, tok, count(*) AS n FROM t GROUP BY lang, tok),
         r AS (SELECT lang, tok, n,
             row_number() OVER (PARTITION BY lang ORDER BY n DESC, tok) AS rk
           FROM c)
         SELECT lang, CAST(rk AS INT) AS rk, tok, n
         FROM r WHERE rk <= 5 ORDER BY lang, rk""",
    "q_tfidf_top_terms" ->
      s"""WITH t AS (SELECT doc_id, unnest($toks) AS tok FROM documents),
         tf AS (SELECT doc_id, tok, count(*) AS n_tf FROM t GROUP BY doc_id, tok),
         idf AS (SELECT tok, count(*) AS df FROM tf GROUP BY tok),
         n AS (SELECT count(*) AS n_docs FROM documents),
         x AS (SELECT doc_id, tok,
             round(n_tf * ln(CAST(n_docs AS DOUBLE) / df), 4) AS tfidf
           FROM tf JOIN idf USING (tok), n),
         r AS (SELECT doc_id, tok, tfidf,
             row_number() OVER (PARTITION BY doc_id ORDER BY tfidf DESC, tok) AS rk
           FROM x)
         SELECT doc_id, CAST(rk AS INT) AS rk, tok, tfidf
         FROM r WHERE rk <= 3 ORDER BY doc_id, rk""",
    "q_pii_stats" ->
      """SELECT source, count(*) AS n_docs,
         CAST(sum(len(regexp_extract_all(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', 0))) AS BIGINT) AS n_emails,
         CAST(sum(len(regexp_extract_all(text, 'https?://[^ \t\n]+', 0))) AS BIGINT) AS n_urls,
         CAST(sum(len(regexp_extract_all(text, '[0-9]+', 0))) AS BIGINT) AS n_digit_runs
         FROM documents GROUP BY source ORDER BY source""",
    "q_decontamination" ->
      s"""WITH b AS (SELECT doc_id, $toks AS toks,
           CAST(concat('0x', substring(md5(concat('split:', CAST(doc_id AS VARCHAR))), 1, 15)) AS BIGINT) % 100 AS bucket
           FROM documents),
         sh AS (SELECT doc_id, bucket, md5(unnest(list_transform(
             generate_series(1, len(toks) - 7),
             i -> array_to_string(toks[i:i+7], ' ')))) AS h
           FROM b WHERE len(toks) >= 8),
         t AS (SELECT DISTINCT doc_id AS train_doc, h FROM sh WHERE bucket < 80),
         e AS (SELECT DISTINCT doc_id AS eval_doc, h FROM sh WHERE bucket >= 90)
         SELECT train_doc, eval_doc, count(*) AS n_shared_ngrams
         FROM t JOIN e USING (h)
         GROUP BY train_doc, eval_doc
         ORDER BY train_doc, eval_doc""",
    "q_contamination_report" ->
      s"""WITH b AS (SELECT doc_id, $toks AS toks,
           CAST(concat('0x', substring(md5(concat('split:', CAST(doc_id AS VARCHAR))), 1, 15)) AS BIGINT) % 100 AS bucket
           FROM documents),
         sh AS (SELECT doc_id, bucket, md5(unnest(list_transform(
             generate_series(1, len(toks) - 7),
             i -> array_to_string(toks[i:i+7], ' ')))) AS h
           FROM b WHERE len(toks) >= 8),
         t AS (SELECT DISTINCT doc_id AS train_doc, h FROM sh WHERE bucket < 80),
         ng0 AS (SELECT train_doc, eval_doc, count(*) AS n_shared
           FROM t JOIN (SELECT DISTINCT doc_id AS eval_doc, h FROM sh
             WHERE bucket >= 90) e USING (h)
           GROUP BY train_doc, eval_doc),
         ng AS (SELECT eval_doc, CAST(count(*) AS BIGINT) AS n_ngram_train_docs,
             CAST(sum(n_shared) AS BIGINT) AS n_shared_ngrams
           FROM ng0 GROUP BY eval_doc),
         ve AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
           CAST(concat('0x', substring(md5(concat('split:', CAST(vec_id AS VARCHAR))), 1, 15)) AS BIGINT) % 100 AS vb
           FROM embeddings),
         tr AS (SELECT vec_id, v FROM ve WHERE vb < 80),
         ev AS (SELECT vec_id AS eval_id, v AS evv FROM ve WHERE vb >= 90),
         sem AS (SELECT eval_id, cs, cs >= 0.3 AS sem_flag FROM (
             SELECT ev.eval_id,
               round(list_cosine_similarity(tr.v, ev.evv), 4) AS cs,
               row_number() OVER (PARTITION BY ev.eval_id
                 ORDER BY round(list_cosine_similarity(tr.v, ev.evv), 4) DESC,
                   tr.vec_id) AS rn
             FROM tr, ev) WHERE rn = 1)
         SELECT d.doc_id AS eval_doc,
           coalesce(ng.n_ngram_train_docs, 0) AS n_ngram_train_docs,
           coalesce(ng.n_shared_ngrams, 0) AS n_shared_ngrams,
           coalesce(sem.cs, -9.0) AS sem_cos,
           (coalesce(ng.n_ngram_train_docs, 0) > 0
             OR coalesce(sem.sem_flag, FALSE)) AS flagged
         FROM (SELECT doc_id FROM b WHERE bucket >= 90) d
         LEFT JOIN ng ON ng.eval_doc = d.doc_id
         LEFT JOIN sem ON sem.eval_id = d.doc_id
         ORDER BY eval_doc""",
    "q_bpe_merges" ->
      s"""WITH $bpeSeedCtes,
         ${(1 to 5).map(bpeRoundCtes).mkString(",\n")}
         SELECT * FROM (${(1 to 5).map(bpeStepSelect).mkString(" UNION ALL ")})
         ORDER BY step""",
    "q_bpe_encode" ->
      s"""WITH $bpeSeedCtes,
         ${(1 to 5).map(bpeRoundCtes).mkString(",\n")},
         $bpeSymsCte
         SELECT doc_id, lang, CAST(len(syms) AS BIGINT) AS n_tokens,
           array_to_string(list_transform(syms,
             s -> CAST(${bpeIdCaseSql()} AS VARCHAR)), ' ') AS ids
         FROM syms, b1, b2, b3, b4, b5
         ORDER BY doc_id""",
    "q_bpe_roundtrip" ->
      s"""WITH $bpeSeedCtes,
         ${(1 to 5).map(bpeRoundCtes).mkString(",\n")},
         $bpeSymsCte,
         dec AS (SELECT doc_id, CAST(len(syms) AS BIGINT) AS n_tokens,
             array_to_string(list_transform(
               list_transform(syms, t -> ${bpeIdCaseSql("t")}),
               id -> ${bpeSymCaseSql()}), '') AS decoded
           FROM syms, b1, b2, b3, b4, b5)
         SELECT d.doc_id, d.n_tokens,
           CAST(length(d.decoded) AS BIGINT) AS decoded_chars,
           d.decoded = array_to_string(list_filter($toks,
             w -> regexp_matches(w, '^[a-z]+$$')), '') AS roundtrip_ok
         FROM dec d JOIN documents doc ON doc.doc_id = d.doc_id
         ORDER BY d.doc_id""",
    "q_bpe_compression" ->
      s"""WITH $bpeSeedCtes,
         ${(1 to 5).map(bpeRoundCtes).mkString(",\n")},
         $bpeSymsCte,
         d AS (SELECT lang,
             CAST(length(array_to_string(syms, '')) AS BIGINT) AS nl,
             CAST(len(syms) AS BIGINT) AS nt FROM syms),
         g AS (SELECT lang, count(*) AS n_docs,
             CAST(sum(nl) AS BIGINT) AS n_letters,
             CAST(sum(nt) AS BIGINT) AS n_tokens FROM d GROUP BY lang)
         SELECT lang, n_docs, n_letters, n_tokens,
           CAST((n_letters * 10000) // n_tokens AS DOUBLE) / 10000.0
             AS chars_per_token
         FROM g ORDER BY lang""",
    "q_packed_sequences" ->
      s"""WITH $bpeSeedCtes,
         ${(1 to 5).map(bpeRoundCtes).mkString(",\n")},
         $bpeSymsCte,
         d AS (SELECT doc_id, lang, CAST(len(syms) AS BIGINT) AS n_tok,
             array_to_string(list_transform(syms,
               s -> CAST(${bpeIdCaseSql()} AS VARCHAR)), ' ') AS ids
           FROM syms, b1, b2, b3, b4, b5),
         o AS (SELECT lang, doc_id, n_tok, ids,
             CAST(sum(n_tok) OVER (PARTITION BY lang ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
               - n_tok AS off
           FROM d)
         SELECT lang, off // ${operators.Packing.PackBudget} AS bin,
           count(*) AS n_docs, CAST(sum(n_tok) AS BIGINT) AS n_tokens,
           coalesce(string_agg(ids, ' ' ORDER BY doc_id)
             FILTER (WHERE n_tok > 0), '') AS token_ids
         FROM o GROUP BY lang, bin ORDER BY lang, bin""",
    "q_bpe_vocab_stats" ->
      s"""WITH $bpeSeedCtes,
         ${(1 to 5).map(bpeRoundCtes).mkString(",\n")},
         $bpeSymsCte,
         u AS (SELECT unnest(syms) AS sym FROM syms),
         g AS (SELECT sym, count(*) AS n_uses FROM u GROUP BY sym)
         SELECT CAST(${bpeIdCaseSql("sym")} AS INT) AS token_id, sym AS symbol,
           CAST(n_uses AS BIGINT) AS n_uses, len(sym) > 1 AS is_merge
         FROM g, b1, b2, b3, b4, b5
         ORDER BY token_id, symbol""",
    "q_packing_encoded" ->
      s"""WITH $bpeSeedCtes,
         ${(1 to 5).map(bpeRoundCtes).mkString(",\n")},
         $bpeSymsCte,
         d AS (SELECT lang, doc_id, CAST(len(syms) AS BIGINT) AS n_tok FROM syms),
         o AS (SELECT lang, doc_id, n_tok,
             CAST(sum(n_tok) OVER (PARTITION BY lang ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
               - n_tok AS off
           FROM d)
         SELECT lang, off // ${operators.Packing.PackBudget} AS bin,
           count(*) AS n_docs, CAST(sum(n_tok) AS BIGINT) AS n_tokens,
           min(doc_id) AS first_doc, max(doc_id) AS last_doc
         FROM o GROUP BY lang, bin ORDER BY lang, bin""",
    // Identical oracle to q_decontamination by design: the bloom prune
    // has no false negatives and survivors are verified exactly, so the
    // pruned operator must reproduce the exact result bit for bit.
    "q_bloom_decontamination" ->
      s"""WITH b AS (SELECT doc_id, $toks AS toks,
           CAST(concat('0x', substring(md5(concat('split:', CAST(doc_id AS VARCHAR))), 1, 15)) AS BIGINT) % 100 AS bucket
           FROM documents),
         sh AS (SELECT doc_id, bucket, md5(unnest(list_transform(
             generate_series(1, len(toks) - 7),
             i -> array_to_string(toks[i:i+7], ' ')))) AS h
           FROM b WHERE len(toks) >= 8),
         t AS (SELECT DISTINCT doc_id AS train_doc, h FROM sh WHERE bucket < 80),
         e AS (SELECT DISTINCT doc_id AS eval_doc, h FROM sh WHERE bucket >= 90)
         SELECT train_doc, eval_doc, count(*) AS n_shared_ngrams
         FROM t JOIN e USING (h)
         GROUP BY train_doc, eval_doc
         ORDER BY train_doc, eval_doc""",
    "q_hash_split" ->
      """SELECT doc_id,
         CASE WHEN b < 80 THEN 'train' WHEN b < 90 THEN 'val' ELSE 'test' END AS split
         FROM (SELECT doc_id,
             CAST(concat('0x', substring(md5(concat('split:', CAST(doc_id AS VARCHAR))), 1, 15)) AS BIGINT) % 100 AS b
           FROM documents)
         ORDER BY doc_id""",
    "q_boilerplate_scores" ->
      s"""WITH docs AS (SELECT doc_id, $toks AS toks FROM documents),
         sh AS (SELECT doc_id, unnest(list_transform(
             generate_series(1, len(toks) - 2),
             i -> array_to_string(toks[i:i+2], ' '))) AS sh
           FROM docs WHERE len(toks) >= 3),
         bp AS (SELECT sh FROM (
             SELECT sh, count(DISTINCT doc_id) AS nd FROM sh GROUP BY sh)
           WHERE nd >= 4)
         SELECT s.doc_id, count(*) AS n_shingles,
           CAST(sum(CASE WHEN b.sh IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
             AS n_boilerplate,
           round(CAST(sum(CASE WHEN b.sh IS NOT NULL THEN 1 ELSE 0 END)
             AS DOUBLE) / count(*), 4) AS bp_frac
         FROM sh s LEFT JOIN bp b ON s.sh = b.sh
         GROUP BY s.doc_id ORDER BY doc_id""",
    "q_dataset_card" ->
      s"""WITH scored AS (SELECT lang, source, n_chars, md5(text) AS h,
             len($toks) AS n_toks,
             CAST(round($qualityExpr * 10000) AS BIGINT) AS q4
           FROM documents),
         dup AS (SELECT md5(text) AS h, count(*) AS n_copies
           FROM documents GROUP BY 1)
         SELECT lang, source, count(*) AS n_docs,
           CAST(sum(s.n_toks) AS BIGINT) AS n_tokens,
           CAST(sum(s.n_chars) AS BIGINT) AS n_chars,
           CAST(CAST(sum(q4) AS BIGINT) * 10000 // count(*) AS DOUBLE)
             / 100000000.0 AS avg_quality,
           CAST(sum(CASE WHEN d.n_copies > 1 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_exact_dup_docs
         FROM scored s JOIN dup d USING (h)
         GROUP BY lang, source ORDER BY lang, source""",
    "q_training_order" ->
      """WITH o AS (SELECT doc_id,
             md5(concat('s0', ':', CAST(doc_id AS VARCHAR))) AS ok
           FROM documents),
         s2 AS (SELECT doc_id, ok,
             CAST(CAST(concat('0x', substring(ok, 1, 15)) AS BIGINT) % 8 AS INT)
               AS shard
           FROM o)
         SELECT doc_id, shard,
           CAST(row_number() OVER (PARTITION BY shard ORDER BY ok, doc_id)
             AS BIGINT) AS pos
         FROM s2 ORDER BY shard, pos""",
    "q_source_overlap" ->
      s"""WITH lsh AS ($minhashPairsCore),
         d AS (SELECT doc_id, source FROM documents)
         SELECT least(a.source, b.source) AS source_x,
           greatest(a.source, b.source) AS source_y,
           count(*) AS n_pairs
         FROM lsh JOIN d a ON a.doc_id = lsh.doc_a
           JOIN d b ON b.doc_id = lsh.doc_b
         GROUP BY 1, 2 ORDER BY source_x, source_y""",
    "q_neardup_hops" ->
      s"""WITH lsh AS ($minhashPairsCore),
         e AS (SELECT doc_a AS a, doc_b AS b FROM lsh
               UNION ALL SELECT doc_b AS a, doc_a AS b FROM lsh),
         d0 AS (SELECT a AS v, 0 AS hops FROM e
           GROUP BY a HAVING min(b) > a),
         ${bfsRoundCte("d0", "d1")},
         ${bfsRoundCte("d1", "d2")},
         ${bfsRoundCte("d2", "d3")},
         ${bfsRoundCte("d3", "d4")}
         SELECT v AS doc_id, hops FROM d4 ORDER BY doc_id""",
    "q_neardup_pagerank" ->
      s"""WITH lsh AS ($minhashPairsCore),
         e AS (SELECT doc_a AS src, doc_b AS dst FROM lsh
               UNION ALL SELECT doc_b AS src, doc_a AS dst FROM lsh),
         deg AS (SELECT src, count(*) AS d FROM e GROUP BY 1),
         docs0 AS (SELECT doc_id FROM documents),
         r0 AS (SELECT doc_id, CAST(100000 AS BIGINT) AS r FROM docs0),
         ${prIterCte("r0", "r1")},
         ${prIterCte("r1", "r2")},
         ${prIterCte("r2", "r3")}
         SELECT doc_id, CAST(r AS BIGINT) AS pr FROM r3 ORDER BY doc_id""",
    "q_eval_ppr" ->
      s"""WITH lsh AS ($minhashPairsCore),
         e AS (SELECT doc_a AS src, doc_b AS dst FROM lsh
               UNION ALL SELECT doc_b AS src, doc_a AS dst FROM lsh),
         deg AS (SELECT src, count(*) AS d FROM e GROUP BY 1),
         docs0 AS (SELECT doc_id,
             (CAST(concat('0x', substring(md5(concat('split:', CAST(doc_id AS VARCHAR))), 1, 15)) AS BIGINT) % 100) >= 90 AS is_seed
           FROM documents),
         ns AS (SELECT count(*) AS n,
             sum(CASE WHEN is_seed THEN 1 ELSE 0 END) AS k FROM docs0),
         base AS (SELECT (15000 * n) // k AS b FROM ns),
         r0 AS (SELECT doc_id, is_seed,
             CAST(CASE WHEN is_seed THEN b ELSE 0 END AS BIGINT) AS r
           FROM docs0 CROSS JOIN base),
         ${pprIterCte("r0", "r1")},
         ${pprIterCte("r1", "r2")},
         ${pprIterCte("r2", "r3")}
         SELECT doc_id, is_seed, CAST(r AS BIGINT) AS ppr
         FROM r3 ORDER BY doc_id""",
    "q_neardup_lpa" ->
      s"""WITH lsh AS ($minhashPairsCore),
         edges AS (SELECT doc_a AS a, doc_b AS b FROM lsh
                   UNION ALL SELECT doc_b AS a, doc_a AS b FROM lsh),
         l0 AS (SELECT DISTINCT a AS v, a AS lbl FROM edges),
         ${lpaRoundCtes(1)},
         ${lpaRoundCtes(2)},
         ${lpaRoundCtes(3)}
         SELECT v AS doc_id, lbl AS community FROM l3 ORDER BY doc_id""",
    // Modularity of the SAME 3-round LPA partition q_neardup_lpa emits:
    // identical edge list and round CTEs, plus the integer-ppm Q terms
    "q_neardup_modularity" ->
      s"""WITH lsh AS ($minhashPairsCore),
         edges AS (SELECT doc_a AS a, doc_b AS b FROM lsh
                   UNION ALL SELECT doc_b AS a, doc_a AS b FROM lsh),
         l0 AS (SELECT DISTINCT a AS v, a AS lbl FROM edges),
         ${lpaRoundCtes(1)},
         ${lpaRoundCtes(2)},
         ${lpaRoundCtes(3)},
         mm AS (SELECT CAST(count(*) AS BIGINT) AS m FROM lsh),
         ein AS (SELECT la.lbl AS community, CAST(count(*) AS BIGINT) AS e_in
           FROM lsh p JOIN l3 la ON la.v = p.doc_a
             JOIN l3 lb ON lb.v = p.doc_b
           WHERE la.lbl = lb.lbl GROUP BY 1),
         degs AS (SELECT a AS v, CAST(count(*) AS BIGINT) AS d
           FROM edges GROUP BY 1),
         comm AS (SELECT lbl AS community, CAST(count(*) AS BIGINT) AS n_nodes,
             CAST(sum(d) AS BIGINT) AS deg_sum
           FROM l3 JOIN degs USING (v) GROUP BY 1)
         SELECT c.community, c.n_nodes,
           CAST(coalesce(e.e_in, 0) AS BIGINT) AS e_in, c.deg_sum,
           CAST(coalesce(e.e_in, 0) * 1000000 // m
             - ((c.deg_sum * c.deg_sum) // (4 * m)) * 1000000 // m
             AS BIGINT) AS q_term_ppm
         FROM comm c LEFT JOIN ein e USING (community) CROSS JOIN mm
         ORDER BY community""",
    // The three pair sets are verbatim the q_minhash_lsh_pairs /
    // q_simhash_pairs / q_embedding_neardup oracle pipelines (vec_id ==
    // doc_id by fixture contract), so the agreement matrix adjudicates
    // exactly the frames those queries emit
    "q_dedup_method_agreement" ->
      s"""WITH mhp AS ($minhashPairsCore),
         f AS ($simhashCore),
         shb AS (SELECT doc_id, simhash,
             concat(CAST(bi AS VARCHAR), ':',
               CAST((simhash >> (bi * 15)) & 32767 AS VARCHAR)) AS bucket
           FROM f, (SELECT unnest(generate_series(0, 3)) AS bi)),
         shp AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
           FROM shb a JOIN shb b
             ON a.bucket = b.bucket AND a.doc_id < b.doc_id
           WHERE bit_count(xor(a.simhash, b.simhash))
             <= ${operators.Dedup.DefaultMaxHamming}),
         e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
           FROM embeddings),
         $EmbLshSigCte,
         emp AS (SELECT c.vec_a AS doc_a, c.vec_b AS doc_b
           FROM cand c JOIN e a ON a.vec_id = c.vec_a
             JOIN e b ON b.vec_id = c.vec_b
           WHERE round(list_cosine_similarity(a.v, b.v), 4) >= 0.3),
         tagged AS (SELECT 'minhash' AS method, doc_a, doc_b FROM mhp
           UNION ALL SELECT 'simhash', doc_a, doc_b FROM shp
           UNION ALL SELECT 'embedding', doc_a, doc_b FROM emp),
         sizes AS (SELECT method, CAST(count(*) AS BIGINT) AS n
           FROM tagged GROUP BY 1),
         inter AS (SELECT a.method AS method_a, b.method AS method_b,
             CAST(count(*) AS BIGINT) AS n_both
           FROM tagged a JOIN tagged b
             ON a.doc_a = b.doc_a AND a.doc_b = b.doc_b
               AND a.method < b.method
           GROUP BY 1, 2)
         SELECT method_a, method_b, n_a, n_b,
           CAST(coalesce(n_both, 0) AS BIGINT) AS n_both,
           CAST(coalesce(n_both, 0) * 1000000
             // nullif(n_a + n_b - coalesce(n_both, 0), 0)
             AS BIGINT) AS jaccard_ppm
         FROM (SELECT a.method AS method_a, a.n AS n_a,
               b.method AS method_b, b.n AS n_b
             FROM sizes a, sizes b WHERE a.method < b.method) cmb
         LEFT JOIN inter USING (method_a, method_b)
         ORDER BY method_a, method_b""",
    "q_neardup_triangles" ->
      s"""WITH lsh AS ($minhashPairsCore),
         t AS (SELECT x.doc_a AS a, x.doc_b AS b, y.doc_b AS c
           FROM lsh x JOIN lsh y ON y.doc_a = x.doc_b
             JOIN lsh z ON z.doc_a = x.doc_a AND z.doc_b = y.doc_b),
         m AS (SELECT unnest([a, b, c]) AS doc_id FROM t)
         SELECT doc_id, count(*) AS n_triangles FROM m
         GROUP BY 1 ORDER BY doc_id""",
    "q_neardup_kcore" ->
      s"""WITH lsh AS ($minhashPairsCore),
         e0 AS (SELECT doc_a AS a, doc_b AS b FROM lsh
                UNION ALL SELECT doc_b AS a, doc_a AS b FROM lsh),
         ${kcoreRoundCtes(1, 2)},
         ${kcoreRoundCtes(2, 2)},
         ${kcoreRoundCtes(3, 2)},
         ${kcoreRoundCtes(4, 2)},
         ${kcoreRoundCtes(5, 2)},
         ${kcoreRoundCtes(6, 2)}
         SELECT a AS doc_id, count(*) AS core_degree FROM e6
         GROUP BY 1 ORDER BY doc_id""",
    "q_neardup_coreness" ->
      s"""WITH lsh AS ($minhashPairsCore),
         e0 AS (SELECT doc_a AS a, doc_b AS b FROM lsh
                UNION ALL SELECT doc_b AS a, doc_a AS b FROM lsh),
         ${kcorePeelChain("e0", "c2", 2, 6)},
         ${kcorePeelChain("c2_6", "c3", 3, 6)},
         ${kcorePeelChain("c3_6", "c4", 4, 6)},
         n1 AS (SELECT DISTINCT a AS doc_id FROM e0),
         m2 AS (SELECT DISTINCT a AS doc_id FROM c2_6),
         m3 AS (SELECT DISTINCT a AS doc_id FROM c3_6),
         m4 AS (SELECT DISTINCT a AS doc_id FROM c4_6)
         SELECT n1.doc_id, CAST(CASE
             WHEN m4.doc_id IS NOT NULL THEN 4
             WHEN m3.doc_id IS NOT NULL THEN 3
             WHEN m2.doc_id IS NOT NULL THEN 2
             ELSE 1 END AS INT) AS coreness
         FROM n1 LEFT JOIN m2 USING (doc_id) LEFT JOIN m3 USING (doc_id)
           LEFT JOIN m4 USING (doc_id)
         ORDER BY doc_id""",
    // Identical oracle to q_neardup_triangles by design: orientation
    // changes the join schedule, never the triangle set
    "q_triangles_oriented" ->
      s"""WITH lsh AS ($minhashPairsCore),
         t AS (SELECT x.doc_a AS a, x.doc_b AS b, y.doc_b AS c
           FROM lsh x JOIN lsh y ON y.doc_a = x.doc_b
             JOIN lsh z ON z.doc_a = x.doc_a AND z.doc_b = y.doc_b),
         m AS (SELECT unnest([a, b, c]) AS doc_id FROM t)
         SELECT doc_id, count(*) AS n_triangles FROM m
         GROUP BY 1 ORDER BY doc_id""",
    "q_domain_cap_sample" ->
      """SELECT doc_id, source, CAST(rk AS BIGINT) AS rank_in_domain FROM (
           SELECT doc_id, source,
             row_number() OVER (PARTITION BY source ORDER BY
               CAST(concat('0x', substring(md5(concat('domcap:', CAST(doc_id AS VARCHAR))), 1, 15)) AS BIGINT) % 1000000,
               doc_id) AS rk
           FROM documents)
         WHERE rk <= 10 ORDER BY doc_id""",
    "q_stratified_sample" ->
      """SELECT doc_id, lang FROM (
           SELECT doc_id, lang,
             CAST(concat('0x', substring(md5(concat('sample:', CAST(doc_id AS VARCHAR))), 1, 15)) AS BIGINT) % 100 AS b
           FROM documents)
         WHERE b < CASE lang WHEN 'en' THEN 10 WHEN 'de' THEN 20
           WHEN 'fr' THEN 30 WHEN 'es' THEN 40 ELSE 50 END
         ORDER BY doc_id""",
    "q_group_sample" ->
      """SELECT lang, rk, doc_id FROM (
           SELECT lang, doc_id,
             row_number() OVER (PARTITION BY lang
               ORDER BY md5(concat('gsample:', CAST(doc_id AS VARCHAR))), doc_id) AS rk
           FROM documents)
         WHERE rk <= 5 ORDER BY lang, rk""",
    "q_topk_audit" ->
      s"""WITH tk AS (SELECT lang, unnest($toks) AS tok FROM documents),
         s AS (SELECT lang, count(*) AS n_tokens,
             count(DISTINCT tok) AS vocab FROM tk GROUP BY lang)
         SELECT lang, n_tokens, least(16, vocab) AS n_tracked,
           CAST(true AS BOOLEAN) AS ok
         FROM s ORDER BY lang""",
    "q_order_gaps" ->
      """WITH g AS (SELECT o_custkey,
           date_diff('day',
             CAST(lag(o_orderdate) OVER (PARTITION BY o_custkey
               ORDER BY o_orderdate, o_orderkey) AS DATE),
             CAST(o_orderdate AS DATE)) AS gap
           FROM orders)
         SELECT o_custkey, count(*) AS n_orders,
           round(avg(gap), 2) AS avg_gap_days,
           max(gap) AS max_gap_days
         FROM g GROUP BY o_custkey HAVING count(*) >= 5
         ORDER BY o_custkey""",
    "q_approx_quantile_audit" ->
      """SELECT event_type, CAST(p AS DOUBLE) AS p, CAST(true AS BOOLEAN) AS ok
         FROM (SELECT DISTINCT event_type FROM events)
         CROSS JOIN (VALUES (0.25), (0.5), (0.75), (0.95)) t(p)
         ORDER BY event_type, p""",
    "q_char_entropy" ->
      s"""WITH t0 AS (SELECT doc_id, lower(text) AS t FROM documents),
         c AS (SELECT doc_id, $entCountCols FROM t0),
         n AS (SELECT *, $entSumN AS n_letters FROM c)
         SELECT doc_id, CAST(n_letters AS BIGINT) AS n_letters,
           round(CASE WHEN n_letters > 0 THEN $entTerms ELSE 0.0 END, 4) AS entropy
         FROM n ORDER BY doc_id""",
    "q_inverted_index" ->
      s"""WITH dt AS (SELECT DISTINCT doc_id, tok FROM (
             SELECT doc_id, unnest($toks) AS tok FROM documents)),
         d AS (SELECT tok, count(*) AS df FROM dt GROUP BY tok),
         cap AS (SELECT tok, doc_id FROM (
             SELECT tok, doc_id,
               row_number() OVER (PARTITION BY tok ORDER BY doc_id) AS rk
             FROM dt)
           WHERE rk <= 20),
         p AS (SELECT tok, array_to_string(list(doc_id ORDER BY doc_id), ',') AS postings
           FROM cap GROUP BY tok)
         SELECT d.tok, d.df, p.postings
         FROM d JOIN p USING (tok)
         ORDER BY d.df DESC, d.tok LIMIT 50""",
    "q_keyword_search" -> keywordSearchSql,
    "q_keyword_search_indexed" -> keywordSearchSql,
    "q_weighted_sample_es" ->
      s"""WITH sc AS (SELECT doc_id, $qualityExpr AS w,
           (CAST(concat('0x', substring(md5(concat('aes:', CAST(doc_id AS VARCHAR))), 1, 15)) AS BIGINT) % 1000000 + 1) / 1000001.0 AS u
         FROM documents),
         k AS (SELECT doc_id, w,
             CAST(round(pow(u, 1.0 / w) * 1000000.0) AS BIGINT) AS key_u
           FROM sc WHERE w > 0)
         SELECT CAST(row_number() OVER (ORDER BY key_u DESC, doc_id) AS INT)
             AS rk, doc_id, w, key_u
         FROM k ORDER BY key_u DESC, doc_id LIMIT 100""",
    "q_quality_lr" ->
      s"""WITH $lrBaseCtes
         SELECT * FROM (
           SELECT CAST(1 AS INT) AS step, w0u AS w0_u, w1u AS w1_u,
             w2u AS w2_u, w3u AS w3_u FROM w1
           UNION ALL SELECT CAST(2 AS INT), w0u, w1u, w2u, w3u FROM w2
           UNION ALL SELECT CAST(3 AS INT), w0u, w1u, w2u, w3u FROM w3
           UNION ALL SELECT CAST(4 AS INT), w0u, w1u, w2u, w3u FROM w4
           UNION ALL SELECT CAST(5 AS INT), w0u, w1u, w2u, w3u FROM w5)
         ORDER BY step""",
    "q_quality_lr_scores" ->
      s"""WITH $lrBaseCtes
         SELECT doc_id, CAST(round(p * 1000000.0) AS BIGINT) AS p_u,
           p >= 0.5 AS pred, CAST(y AS INT) AS y
         FROM (SELECT doc_id, y, $lrP AS p FROM feats CROSS JOIN w5)
         ORDER BY doc_id""",
    "q_event_burstiness" ->
      """WITH daily AS (SELECT event_type, CAST(ts AS DATE) AS day,
           CAST(count(*) AS BIGINT) AS x
         FROM events GROUP BY 1, 2),
         sp AS (SELECT CAST(datediff('day', min(day), max(day)) + 1
           AS BIGINT) AS d FROM daily),
         pt AS (SELECT event_type,
             CAST(count(*) AS BIGINT) AS n_active_days,
             CAST(sum(x) AS BIGINT) AS s,
             CAST(sum(x * x) AS BIGINT) AS q
           FROM daily GROUP BY 1)
         SELECT event_type, d AS n_days, n_active_days, s AS n_events,
           CAST(s * 1000 // d AS BIGINT) AS mean_milli,
           CAST(round(CAST(d * q - s * s AS DOUBLE)
             / CAST(d * s AS DOUBLE) * 1000) AS BIGINT) AS fano_milli,
           CAST(floor((sqrt(CAST(d * q - s * s AS DOUBLE)) - s)
             / (sqrt(CAST(d * q - s * s AS DOUBLE)) + s) * 1000000)
             AS BIGINT) AS burstiness_u
         FROM pt CROSS JOIN sp ORDER BY event_type""",
    "q_conformal_gate" ->
      s"""WITH q AS (SELECT doc_id,
           CAST(concat('0x', substring(md5(concat('split:', CAST(doc_id AS VARCHAR))), 1, 15)) AS BIGINT) % 100 AS bucket,
           CAST(round($qualityExpr * 10000) AS BIGINT) AS qu
           FROM documents),
         cal AS (SELECT doc_id, qu FROM q
           WHERE bucket >= 80 AND bucket < 90),
         nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM cal),
         kk AS (SELECT CAST(1000 * (n + 1) // 10000 AS BIGINT) AS k
           FROM nn),
         thr AS (SELECT qu FROM (SELECT qu,
             row_number() OVER (ORDER BY qu, doc_id) AS rn FROM cal)
           CROSS JOIN kk WHERE rn = k),
         ev AS (SELECT qu FROM q WHERE bucket >= 90)
         SELECT (SELECT n FROM nn) AS n_cal, (SELECT k FROM kk) AS k,
           CASE WHEN (SELECT k FROM kk) >= 1
             THEN (SELECT qu FROM thr) END AS threshold_qu,
           CAST(count(*) AS BIGINT) AS n_eval,
           CASE WHEN (SELECT k FROM kk) >= 1 THEN
             CAST(sum(CASE WHEN qu >= (SELECT qu FROM thr)
               THEN 1 ELSE 0 END) AS BIGINT) END AS n_covered,
           CASE WHEN (SELECT k FROM kk) >= 1 AND count(*) > 0 THEN
             CAST(sum(CASE WHEN qu >= (SELECT qu FROM thr)
               THEN 1 ELSE 0 END) * 1000000 // count(*) AS BIGINT) END
             AS coverage_u,
           CAST(900000 AS BIGINT) AS target_u
         FROM ev""",
    "q_dataset_cartography" ->
      s"""WITH $lrBaseCtes,
         ws AS (SELECT w0u, w1u, w2u, w3u FROM w1
           UNION ALL SELECT w0u, w1u, w2u, w3u FROM w2
           UNION ALL SELECT w0u, w1u, w2u, w3u FROM w3
           UNION ALL SELECT w0u, w1u, w2u, w3u FROM w4
           UNION ALL SELECT w0u, w1u, w2u, w3u FROM w5),
         stepc AS (SELECT doc_id, y,
             CASE WHEN y = 1.0
               THEN CAST(round(($lrP) * 1000000.0) AS BIGINT)
               ELSE 1000000 - CAST(round(($lrP) * 1000000.0) AS BIGINT)
               END AS c
           FROM feats CROSS JOIN ws),
         pd AS (SELECT doc_id, y,
             CAST(sum(c) AS BIGINT) AS sc,
             CAST(sum(c * c) AS BIGINT) AS sc2
           FROM stepc GROUP BY doc_id, y)
         SELECT doc_id, CAST(y AS INT) AS y,
           CAST(sc // 5 AS BIGINT) AS conf_u,
           CAST(round(sqrt(CAST(5 * sc2 - sc * sc AS DOUBLE)) / 5.0)
             AS BIGINT) AS vari_u,
           CASE WHEN CAST(round(sqrt(CAST(5 * sc2 - sc * sc AS DOUBLE))
               / 5.0) AS BIGINT) >= 150000 THEN 'ambiguous'
             WHEN sc // 5 >= 500000 THEN 'easy_to_learn'
             ELSE 'hard_to_learn' END AS region
         FROM pd ORDER BY doc_id""",
    "q_lr_calibration" ->
      s"""WITH $lrBaseCtes,
         scored AS (SELECT y, p, CAST(round(p * 1000000.0) AS BIGINT) AS p_u
           FROM (SELECT y, $lrP AS p FROM feats CROSS JOIN w5)),
         b AS (SELECT CAST(least(p_u * 10 // 1000000, 9) AS INT) AS bin,
             y, p, p_u FROM scored)
         SELECT bin, CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(p_u) // count(*) AS BIGINT) AS mean_p_u,
           CAST(CAST(round(sum(y)) AS BIGINT) * 1000000 // count(*) AS BIGINT)
             AS pos_rate_u,
           CAST(sum(CAST(round((p - y) * (p - y) * 1000000.0) AS BIGINT))
             AS BIGINT) AS brier_su
         FROM b GROUP BY bin ORDER BY bin""",
    "q_dsir_select" ->
      s"""WITH tk AS (SELECT doc_id, lang,
           CAST(concat('0x', substring(md5(concat('dsir:', tok)), 1, 15)) AS BIGINT) % 1024 AS f
         FROM (SELECT doc_id, lang, unnest($toks) AS tok FROM documents)),
         raw AS (SELECT f, count(*) AS cr FROM tk GROUP BY f),
         nr AS (SELECT count(*) AS nr FROM tk),
         tgt AS (SELECT f, count(*) AS ct FROM tk WHERE lang = 'en' GROUP BY f),
         nt AS (SELECT count(*) AS nt FROM tk WHERE lang = 'en'),
         llr AS (SELECT raw.f,
             CAST(round((ln(CAST(coalesce(ct, 0) + 1 AS DOUBLE) / (nt + 1024.0))
               - ln(CAST(cr + 1 AS DOUBLE) / (nr + 1024.0))) * 1000000.0)
               AS BIGINT) AS llr_u
           FROM raw LEFT JOIN tgt USING (f) CROSS JOIN nr CROSS JOIN nt),
         w AS (SELECT doc_id, CAST(sum(llr_u) AS BIGINT) AS weight_u
           FROM tk JOIN llr USING (f) GROUP BY doc_id)
         SELECT CAST(row_number() OVER (ORDER BY weight_u DESC, doc_id) AS INT)
             AS rk, doc_id, weight_u
         FROM w ORDER BY weight_u DESC, doc_id LIMIT 100""",
    "q_span_scrub" ->
      s"""WITH $spanScrubCtes,
         agg AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_spans,
             CAST(sum(e - s + 1) AS BIGINT) AS n_removed
           FROM sp GROUP BY doc_id)
         SELECT d.doc_id, CAST(len(toks) AS BIGINT) AS n_toks, n_spans,
           n_removed, CAST(len(toks) - n_removed AS BIGINT) AS n_kept
         FROM docs d JOIN agg USING (doc_id) ORDER BY doc_id""",
    "q_gopher_rules" ->
      s"""WITH d AS (SELECT doc_id, text, $toks AS toks,
           string_split(text, chr(10)) AS lines FROM documents),
         sc AS (SELECT doc_id,
             CAST(len(toks) AS BIGINT) AS n_words,
             CAST(coalesce(list_sum(list_transform(toks, t -> length(t))), 0)
               AS BIGINT) AS sum_len,
             CAST(length(text) - length(replace(text, '#', ''))
               + (length(text) - length(replace(text, '...', ''))) / 3
               + length(text) - length(replace(text, '…', ''))
               AS BIGINT) AS n_sym,
             CAST(len(list_filter(toks, t -> regexp_matches(t, '[a-z]')))
               AS BIGINT) AS n_alpha,
             CAST(${Seq("the", "a")
               .map(w => s"(CASE WHEN list_contains(toks, '$w') THEN 1 ELSE 0 END)")
               .mkString(" + ")} AS BIGINT) AS n_stop,
             CAST(len(lines) AS BIGINT) AS n_lines,
             CAST(len(list_filter(lines,
               l -> regexp_matches(ltrim(l), '^[-*•]'))) AS BIGINT) AS n_bullet,
             CAST(len(list_filter(lines,
               l -> regexp_matches(l, '(\\.\\.\\.|…)\\s*$$'))) AS BIGINT)
               AS n_ell_end
           FROM d)
         SELECT doc_id, n_words,
           n_words >= 50 AND n_words <= 100000 AS rule_word_count,
           sum_len >= 3 * n_words AND sum_len <= 10 * n_words
             AS rule_mean_word_len,
           10 * n_sym <= n_words AS rule_symbol_ratio,
           5 * n_alpha >= 4 * n_words AS rule_alpha_words,
           n_stop >= 2 AS rule_stopwords,
           10 * n_bullet <= 9 * n_lines AS rule_bullet_lines,
           10 * n_ell_end <= 3 * n_lines AS rule_ellipsis_lines,
           (n_words >= 50 AND n_words <= 100000)
             AND (sum_len >= 3 * n_words AND sum_len <= 10 * n_words)
             AND 10 * n_sym <= n_words AND 5 * n_alpha >= 4 * n_words
             AND n_stop >= 2 AND 10 * n_bullet <= 9 * n_lines
             AND 10 * n_ell_end <= 3 * n_lines AS keep
         FROM sc ORDER BY doc_id""",
    "q_distinct_ngrams" ->
      s"""WITH docs AS (SELECT lang, $toks AS toks FROM documents),
         g1 AS (SELECT lang, CAST(count(*) AS BIGINT) AS total_1,
             CAST(count(DISTINCT g) AS BIGINT) AS uniq_1
           FROM (SELECT lang, unnest(toks) AS g FROM docs) GROUP BY lang),
         g2 AS (SELECT lang, CAST(count(*) AS BIGINT) AS total_2,
             CAST(count(DISTINCT g) AS BIGINT) AS uniq_2
           FROM (SELECT lang, unnest(list_transform(
               generate_series(1, len(toks) - 1),
               i -> array_to_string(toks[i:i+1], ' '))) AS g
             FROM docs WHERE len(toks) >= 2) GROUP BY lang),
         g3 AS (SELECT lang, CAST(count(*) AS BIGINT) AS total_3,
             CAST(count(DISTINCT g) AS BIGINT) AS uniq_3
           FROM (SELECT lang, unnest(list_transform(
               generate_series(1, len(toks) - 2),
               i -> array_to_string(toks[i:i+2], ' '))) AS g
             FROM docs WHERE len(toks) >= 3) GROUP BY lang)
         SELECT lang,
           total_1, uniq_1, CAST(uniq_1 * 10000 // total_1 AS BIGINT) AS d1_bp,
           total_2, uniq_2, CAST(uniq_2 * 10000 // total_2 AS BIGINT) AS d2_bp,
           total_3, uniq_3, CAST(uniq_3 * 10000 // total_3 AS BIGINT) AS d3_bp
         FROM g1 JOIN g2 USING (lang) JOIN g3 USING (lang)
         ORDER BY lang""",
    "q_ccnet_buckets" ->
      s"""WITH $surprisalPerDocCtes,
         r AS (SELECT doc_id, xent_u,
             row_number() OVER (ORDER BY xent_u, doc_id) AS rk FROM pd2),
         t AS (SELECT CAST(count(*) AS BIGINT) AS nn FROM pd2),
         b AS (SELECT xent_u,
             CASE WHEN (rk - 1) * 3 < nn THEN 'head'
               WHEN (rk - 1) * 3 < 2 * nn THEN 'middle'
               ELSE 'tail' END AS bucket
           FROM r CROSS JOIN t)
         SELECT bucket, CAST(count(*) AS BIGINT) AS n_docs,
           CAST(min(xent_u) AS BIGINT) AS min_xent_u,
           CAST(sum(xent_u) // count(*) AS BIGINT) AS mean_xent_u,
           CAST(max(xent_u) AS BIGINT) AS max_xent_u
         FROM b GROUP BY bucket ORDER BY bucket""",
    "q_winnow_incremental" ->
      s"""WITH $winnowCtes,
         sel2 AS (SELECT DISTINCT doc_id, h FROM wsel),
         np AS (SELECT doc_id AS new_doc, h FROM sel2 WHERE doc_id % 4 = 3),
         ix AS (SELECT doc_id AS index_doc, h FROM sel2 WHERE doc_id % 4 <> 3)
         SELECT new_doc, index_doc, CAST(count(*) AS BIGINT) AS n_shared
         FROM np JOIN ix USING (h)
         GROUP BY 1, 2 HAVING count(*) >= 2
         ORDER BY new_doc, index_doc""",
    "q_bpe_fertility" ->
      s"""WITH $bpeSeedCtes,
         ${(1 to 5).map(bpeRoundCtes).mkString(",\n")},
         $bpeSymsCte,
         d AS (SELECT e.doc_id, e.lang, CAST(len(e.ws) AS BIGINT) AS nw,
             CAST(len(s.syms) AS BIGINT) AS nt
           FROM encw e JOIN syms s USING (doc_id)),
         g AS (SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
             CAST(sum(nw) AS BIGINT) AS n_words,
             CAST(sum(nt) AS BIGINT) AS n_tokens
           FROM d GROUP BY lang HAVING sum(nw) > 0)
         SELECT lang, n_docs, n_words, n_tokens,
           CAST((n_tokens * 10000) // n_words AS DOUBLE) / 10000.0
             AS tokens_per_word
         FROM g ORDER BY lang""",
    "q_constraint_audit" ->
      """WITH b AS (SELECT CAST(count(*) AS BIGINT) AS n,
           CAST(sum(CASE WHEN l_returnflag IS NOT NULL THEN 1 ELSE 0 END)
             AS BIGINT) AS c_ret,
           CAST(sum(CASE WHEN l_quantity >= 1 AND l_quantity <= 50
             THEN 1 ELSE 0 END) AS BIGINT) AS c_qty,
           CAST(sum(CASE WHEN l_discount >= 0 AND l_discount <= 0.1
             THEN 1 ELSE 0 END) AS BIGINT) AS c_disc,
           CAST(sum(CASE WHEN l_extendedprice > 0 THEN 1 ELSE 0 END)
             AS BIGINT) AS c_price,
           CAST(count(DISTINCT (l_orderkey, l_linenumber)) AS BIGINT) AS c_pk
           FROM lineitem),
         r AS (SELECT CAST(sum(CASE WHEN o.o_orderkey IS NOT NULL
             THEN 1 ELSE 0 END) AS BIGINT) AS c_ri
           FROM lineitem l LEFT JOIN orders o ON l.l_orderkey = o.o_orderkey),
         m AS (SELECT * FROM b CROSS JOIN r),
         rows AS (
           SELECT 'completeness_returnflag' AS check_name,
             CAST(c_ret * 10000 // n AS BIGINT) AS metric_bp FROM m
           UNION ALL SELECT 'pk_uniqueness',
             CAST(c_pk * 10000 // n AS BIGINT) FROM m
           UNION ALL SELECT 'range_quantity_1_50',
             CAST(c_qty * 10000 // n AS BIGINT) FROM m
           UNION ALL SELECT 'range_discount_0_01',
             CAST(c_disc * 10000 // n AS BIGINT) FROM m
           UNION ALL SELECT 'positive_price',
             CAST(c_price * 10000 // n AS BIGINT) FROM m
           UNION ALL SELECT 'ri_orderkey_in_orders',
             CAST(c_ri * 10000 // n AS BIGINT) FROM m)
         SELECT check_name, metric_bp,
           CAST(10000 AS BIGINT) AS threshold_bp,
           metric_bp >= 10000 AS pass
         FROM rows ORDER BY check_name""",
    "q_ewma_anomalies" ->
      s"""WITH rev AS (SELECT CAST(o_orderdate AS DATE) AS day,
           CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
             AS cents
           FROM orders GROUP BY 1),
         w(lag, w_u) AS (VALUES $ewmaWeightValues),
         j AS (SELECT r.day, r.cents, w.w_u, r2.cents AS x
           FROM rev r CROSS JOIN w
           JOIN rev r2 ON r2.day = r.day - w.lag),
         g AS (SELECT day, cents, CAST(sum(w_u * x) AS BIGINT) AS swx,
             CAST(sum(w_u) AS BIGINT) AS sw
           FROM j GROUP BY day, cents)
         SELECT day, cents, swx // sw AS ewma_cents,
           cents * 10000 // (swx // sw) - 10000 AS dev_bp,
           abs(cents * 10000 // (swx // sw) - 10000) >= 3000 AS alarm
         FROM g ORDER BY day""",
    "q_benford_audit" ->
      """WITH d AS (SELECT CAST(substring(CAST(CAST(floor(o_totalprice)
             AS DECIMAL(18,0)) AS VARCHAR), 1, 1) AS INT) AS digit
           FROM orders WHERE o_totalprice >= 1.0),
         c AS (SELECT digit, CAST(count(*) AS BIGINT) AS n_obs
           FROM d GROUP BY digit),
         t AS (SELECT CAST(sum(n_obs) AS BIGINT) AS n_tot FROM c),
         spine AS (SELECT unnest(generate_series(1, 9)) AS digit),
         j AS (SELECT CAST(s.digit AS INT) AS digit,
             coalesce(n_obs, CAST(0 AS BIGINT)) AS n_obs, n_tot,
             ln(1.0 + 1.0 / s.digit) / ln(10.0) AS exp_share
           FROM spine s LEFT JOIN c ON s.digit = c.digit CROSS JOIN t),
         k AS (SELECT digit, n_obs, exp_share, n_tot * exp_share AS exp_n,
             CAST(round((n_obs - n_tot * exp_share)
               * (n_obs - n_tot * exp_share)
               / (n_tot * exp_share) * 1e6) AS BIGINT) AS contrib_u
           FROM j)
         SELECT digit, n_obs, round(exp_share, 4) AS exp_share,
           round(exp_n, 4) AS exp_n, round(contrib_u / 1e6, 4) AS contrib,
           round(CAST(sum(contrib_u) OVER () AS DOUBLE) / 1e6, 4) AS chi2
         FROM k ORDER BY digit""",
    "q_psi_drift" ->
      """WITH e AS (SELECT
           CASE WHEN day(CAST(ts AS DATE)) <= 15 THEN 1 ELSE 0 END AS is_ref,
           CAST(least(9, floor(value / 50.0)) AS BIGINT) AS bin FROM events),
         c0 AS (SELECT bin, CAST(sum(is_ref) AS BIGINT) AS ref_n,
             CAST(sum(1 - is_ref) AS BIGINT) AS cur_n FROM e GROUP BY bin),
         spine AS (SELECT unnest(generate_series(0, 9)) AS bin),
         cells AS (SELECT CAST(s.bin AS BIGINT) AS bin,
             coalesce(ref_n, 0) AS ref_n, coalesce(cur_n, 0) AS cur_n
           FROM spine s LEFT JOIN c0 ON c0.bin = s.bin),
         t AS (SELECT CAST(sum(ref_n) AS BIGINT) AS rt,
             CAST(sum(cur_n) AS BIGINT) AS ct FROM cells),
         sc AS (SELECT bin, ref_n, cur_n,
             CAST((ref_n + 1) * 10000 // (rt + 10) AS BIGINT) AS p_ref_bp,
             CAST((cur_n + 1) * 10000 // (ct + 10) AS BIGINT) AS p_cur_bp,
             CAST(round(ln(CAST((ref_n + 1) * (ct + 10) AS DOUBLE) /
               CAST((cur_n + 1) * (rt + 10) AS DOUBLE)) * 1000000.0)
               AS BIGINT) AS lnr_u
           FROM cells CROSS JOIN t)
         SELECT bin, ref_n, cur_n, p_ref_bp, p_cur_bp, lnr_u,
           CAST((p_ref_bp - p_cur_bp) * lnr_u AS BIGINT) AS contrib
         FROM sc ORDER BY bin""",
    "q_dirichlet_ql" ->
      s"""WITH dd AS (SELECT doc_id, CAST(len($toks) AS BIGINT) AS dl
           FROM documents),
         tot AS (SELECT CAST(sum(dl) AS BIGINT) AS c_total FROM dd),
         qt AS (SELECT doc_id, tok FROM
             (SELECT doc_id, unnest($toks) AS tok FROM documents)
           WHERE tok IN ('vector', 'hash', 'spark')),
         tf AS (SELECT doc_id, tok, CAST(count(*) AS BIGINT) AS tf
           FROM qt GROUP BY 1, 2),
         ctf AS (SELECT tok, CAST(count(*) AS BIGINT) AS ctf
           FROM qt GROUP BY 1),
         cr AS (SELECT dd.doc_id, dd.dl, ctf.tok, ctf.ctf, c_total
           FROM dd CROSS JOIN ctf CROSS JOIN tot),
         sc AS (SELECT cr.doc_id, cr.dl,
             CAST(round(ln(
               CAST(coalesce(tf.tf, 0) * c_total + 2000 * ctf AS DOUBLE)
               / CAST((cr.dl + 2000) * c_total AS DOUBLE)) * 1e6)
               AS BIGINT) AS term_u
           FROM cr LEFT JOIN tf
             ON tf.doc_id = cr.doc_id AND tf.tok = cr.tok),
         ag AS (SELECT doc_id, CAST(max(dl) AS BIGINT) AS dl,
             CAST(sum(term_u) AS BIGINT) AS score_u FROM sc GROUP BY 1),
         top AS (SELECT *, CAST(row_number() OVER (ORDER BY score_u DESC,
             doc_id) AS INT) AS rank FROM ag)
         SELECT rank, doc_id, dl, score_u FROM top
         WHERE rank <= 25 ORDER BY rank""",
    "q_capture_recapture" -> captureRecaptureOracle,
    "q_matrix_profile" -> matrixProfileOracle(7),
    "q_voptimal_histogram" -> vOptOracle(6),
    "q_basket_rules" ->
      """WITH ob AS (SELECT DISTINCT l.l_orderkey AS okey, p.p_brand AS brand
           FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey),
         n AS (SELECT count(DISTINCT okey) AS n_orders FROM ob),
         singles AS (SELECT brand, count(*) AS n_b FROM ob GROUP BY 1),
         pairs AS (SELECT a.brand AS antecedent, b.brand AS consequent,
             count(*) AS n_both
           FROM ob a JOIN ob b ON a.okey = b.okey AND a.brand <> b.brand
           GROUP BY 1, 2 HAVING count(*) >= 20)
         SELECT antecedent, consequent, CAST(n_both AS BIGINT) AS n_both,
           CAST(sa.n_b AS BIGINT) AS n_ante, CAST(sc.n_b AS BIGINT) AS n_cons,
           CAST(n_both * 10000 // sa.n_b AS BIGINT) AS confidence_bp,
           CAST(CAST(n_both AS HUGEINT) * n.n_orders * 1000000
             // (sa.n_b * sc.n_b) AS BIGINT) AS lift_ppm
         FROM pairs JOIN singles sa ON sa.brand = antecedent
           JOIN singles sc ON sc.brand = consequent CROSS JOIN n
         ORDER BY lift_ppm DESC, antecedent, consequent LIMIT 30""",
    "q_permutation_test" ->
      """WITH o AS (SELECT o_orderkey,
           CAST(round(o_totalprice * 100) AS BIGINT) AS cents FROM orders),
         ps AS (SELECT unnest(generate_series(0, 199)) AS p),
         oh AS (SELECT cents, concat(
             md5(concat('perm:', CAST(o_orderkey AS VARCHAR))),
             md5(concat('perm2:', CAST(o_orderkey AS VARCHAR)))) AS h
           FROM o),
         ob AS (SELECT cents, [
             CAST(concat('0x', substring(h, 1, 15)) AS BIGINT),
             CAST(concat('0x', substring(h, 16, 15)) AS BIGINT),
             CAST(concat('0x', substring(h, 31, 15)) AS BIGINT),
             CAST(concat('0x', substring(h, 46, 15)) AS BIGINT)] AS hb
           FROM oh),
         perms AS (SELECT p,
             (hb[p // 60 + 1] >> (p % 60)) & 1 AS arm, cents
           FROM ob CROSS JOIN ps),
         agg AS (SELECT p,
             sum(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS n_a,
             sum(CASE WHEN arm = 0 THEN cents ELSE 0 END) AS s_a,
             sum(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS n_b,
             sum(CASE WHEN arm = 1 THEN cents ELSE 0 END) AS s_b
           FROM perms GROUP BY 1),
         t AS (SELECT p, n_a, n_b, abs(n_b * s_a - n_a * s_b) AS t_stat
           FROM agg),
         obs AS (SELECT t_stat AS t_obs, CAST(n_a AS BIGINT) AS n_arm_a,
             CAST(n_b AS BIGINT) AS n_arm_b FROM t WHERE p = 0)
         SELECT n_arm_a, n_arm_b, CAST(t_obs AS BIGINT) AS t_obs,
           count(*) AS n_perms,
           CAST(sum(CASE WHEN t.t_stat >= obs.t_obs THEN 1 ELSE 0 END)
             AS BIGINT) AS n_ge,
           CAST((1 + sum(CASE WHEN t.t_stat >= obs.t_obs THEN 1 ELSE
             0 END)) * 1000 // (count(*) + 1) AS BIGINT) AS p_milli
         FROM t CROSS JOIN obs WHERE t.p >= 1 GROUP BY 1, 2, 3""",
    "q_mcnemar_truncation" ->
      """WITH e AS (SELECT vec_id, CAST(label AS BIGINT) AS label,
           list_transform(CAST(embedding AS DOUBLE[]),
             x -> CAST(round(x * 1000000) AS BIGINT)) AS vu
           FROM embeddings),
         dx AS (SELECT label AS clabel,
             unnest(generate_series(1, len(vu))) AS d, unnest(vu) AS xf
           FROM e),
         g AS (SELECT clabel, d,
             CAST(CAST(sum(xf) AS BIGINT) // count(*) AS BIGINT) AS cu
           FROM dx GROUP BY 1, 2),
         c AS (SELECT clabel, list(cu ORDER BY d) AS cu_arr
           FROM g GROUP BY 1),
         a AS (SELECT e.vec_id, e.label, c.clabel,
             list_sum(list_transform(generate_series(1, len(vu)),
               i -> (vu[i] - cu_arr[i]) * (vu[i] - cu_arr[i]))) AS d_full,
             list_sum(list_transform(generate_series(1, 32),
               i -> (vu[i] - cu_arr[i]) * (vu[i] - cu_arr[i]))) AS d_half
           FROM e, c),
         r AS (SELECT vec_id, label, clabel,
             row_number() OVER (PARTITION BY vec_id
               ORDER BY d_full, clabel) AS rf,
             row_number() OVER (PARTITION BY vec_id
               ORDER BY d_half, clabel) AS rh
           FROM a),
         p AS (SELECT vec_id, label,
             max(CASE WHEN rf = 1 THEN clabel END) AS pa,
             max(CASE WHEN rh = 1 THEN clabel END) AS pb
           FROM r GROUP BY 1, 2),
         o AS (SELECT pa = label AS ok_a, pb = label AS ok_b FROM p),
         t AS (SELECT
           CAST(sum(CASE WHEN ok_a AND ok_b THEN 1 ELSE 0 END) AS BIGINT)
             AS n_both_right,
           CAST(sum(CASE WHEN ok_a AND NOT ok_b THEN 1 ELSE 0 END)
             AS BIGINT) AS n_only_a,
           CAST(sum(CASE WHEN NOT ok_a AND ok_b THEN 1 ELSE 0 END)
             AS BIGINT) AS n_only_b,
           CAST(sum(CASE WHEN NOT ok_a AND NOT ok_b THEN 1 ELSE 0 END)
             AS BIGINT) AS n_both_wrong
         FROM o)
         SELECT *,
           n_both_right + n_only_a + n_only_b + n_both_wrong AS n_vecs,
           (n_both_right + n_only_a) * 10000
             // (n_both_right + n_only_a + n_only_b + n_both_wrong)
             AS acc_full_bp,
           (n_both_right + n_only_b) * 10000
             // (n_both_right + n_only_a + n_only_b + n_both_wrong)
             AS acc_half_bp,
           (n_only_a - n_only_b) * (n_only_a - n_only_b) * 1000
             // nullif(n_only_a + n_only_b, 0) AS chi2_milli,
           coalesce((n_only_a - n_only_b) * (n_only_a - n_only_b) * 1000
             // nullif(n_only_a + n_only_b, 0) > 3841, FALSE)
             AS significant_5pct
         FROM t""",
    "q_jsd_sources" ->
      s"""WITH dt AS (SELECT source, unnest($toks) AS tok FROM documents),
         top AS (SELECT tok FROM (SELECT tok, count(*) AS c FROM dt
           GROUP BY 1) ORDER BY c DESC, tok LIMIT 100),
         cnt AS (SELECT source, dt.tok, count(*) AS c_st
           FROM dt JOIN top ON top.tok = dt.tok GROUP BY 1, 2),
         den AS (SELECT source, CAST(sum(c_st) + 100 AS BIGINT) AS d
           FROM cnt GROUP BY 1),
         grid AS (SELECT den.source, top.tok,
             CAST(coalesce(c_st, 0) + 1 AS BIGINT) AS cn, d
           FROM den CROSS JOIN top
           LEFT JOIN cnt ON cnt.source = den.source AND cnt.tok = top.tok),
         pr AS (SELECT a.s1, a.s2, a.x1, a.x2,
             CAST(round(ln(CAST(x1 AS DOUBLE) * 2.0
               / CAST(x1 + x2 AS DOUBLE)) * 1000000) AS BIGINT) AS l1,
             CAST(round(ln(CAST(x2 AS DOUBLE) * 2.0
               / CAST(x1 + x2 AS DOUBLE)) * 1000000) AS BIGINT) AS l2,
             a.d1, a.d2
           FROM (SELECT g1.source AS s1, g2.source AS s2,
               g1.cn * g2.d AS x1, g2.cn * g1.d AS x2,
               g1.d AS d1, g2.d AS d2
             FROM grid g1 JOIN grid g2 ON g1.tok = g2.tok
               AND g1.source < g2.source) a)
         SELECT s1, s2, count(*) AS n_vocab,
           CAST(sum(CAST(x1 AS HUGEINT) * l1 + CAST(x2 AS HUGEINT) * l2)
             // (2 * CAST(max(d1) AS HUGEINT) * max(d2)) AS BIGINT)
             AS jsd_micro
         FROM pr GROUP BY 1, 2 ORDER BY s1, s2""",
    "q_gini_stump" ->
      """WITH bv AS (SELECT n_chars, count(*) AS cnt,
           sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS pos
           FROM documents GROUP BY 1),
         cum AS (SELECT n_chars,
             sum(cnt) OVER (ORDER BY n_chars) AS nl,
             sum(pos) OVER (ORDER BY n_chars) AS posl
           FROM bv),
         tot AS (SELECT max(nl) AS n, max(posl) AS p FROM cum),
         cand AS (SELECT n_chars, nl, posl, nl - posl AS negl,
             n - nl AS nr, p - posl AS posr,
             (n - nl) - (p - posl) AS negr, n, p
           FROM cum CROSS JOIN tot WHERE nl < n),
         cost AS (SELECT *, CAST(n AS HUGEINT) * 1000000000
             - (CAST(posl AS HUGEINT) * posl
                + CAST(negl AS HUGEINT) * negl) * 1000000000 // nl
             - (CAST(posr AS HUGEINT) * posr
                + CAST(negr AS HUGEINT) * negr) * 1000000000 // nr
             AS cost_u9 FROM cand),
         best AS (SELECT *, CAST(n AS HUGEINT) * 1000000000
             - (CAST(p AS HUGEINT) * p
                + CAST(n - p AS HUGEINT) * (n - p)) * 1000000000 // n
             AS root_u9
           FROM cost ORDER BY cost_u9, n_chars LIMIT 1)
         SELECT n_chars AS threshold, CAST(nl AS BIGINT) AS n_left,
           CAST(posl AS BIGINT) AS pos_left, CAST(nr AS BIGINT) AS n_right,
           CAST(posr AS BIGINT) AS pos_right,
           CAST(cost_u9 AS BIGINT) AS cost_u9,
           CAST(n AS BIGINT) AS n_docs, CAST(p AS BIGINT) AS n_en,
           CAST(root_u9 AS BIGINT) AS root_u9,
           CAST(root_u9 - cost_u9 AS BIGINT) AS gain_u9
         FROM best""",
    "q_seasonal_decomp" ->
      s"""WITH $seasonalCtes
         SELECT day, f.weekday, cents, trend_u, seasonal_u,
           CAST(d_u - seasonal_u AS BIGINT) AS remainder_u
         FROM f JOIN seas ON seas.weekday = f.weekday
         ORDER BY day""",
    "q_seasonal_anomalies" ->
      s"""WITH $seasonalCtes,
         r AS (SELECT day, cents, CAST(d_u - seasonal_u AS BIGINT)
             AS remainder_u
           FROM f JOIN seas ON seas.weekday = f.weekday),
         ar AS (SELECT list_sort(list(remainder_u)) AS a FROM r),
         m AS (SELECT a[(len(a) + 1) // 2] + a[(len(a) + 2) // 2]
             AS med2_u FROM ar),
         dv AS (SELECT list_sort(list(abs(2 * remainder_u - med2_u)))
             AS d FROM r CROSS JOIN m),
         m2 AS (SELECT d[(len(d) + 1) // 2] + d[(len(d) + 2) // 2]
             AS mad4_u FROM dv)
         SELECT day, cents, remainder_u, med2_u, mad4_u,
           abs(remainder_u * 2 - med2_u) * 2 > mad4_u * 3 AS anomaly
         FROM r CROSS JOIN m CROSS JOIN m2 ORDER BY day""",
    "q_schema_drift" -> {
      val vExprs = Seq(
        "doc_id" -> "lpad(CAST(doc_id AS VARCHAR), 12, '0')",
        "lang" -> "lang", "source" -> "source",
        "n_chars" -> "lpad(CAST(n_chars AS VARCHAR), 12, '0')",
        "fp" -> "md5(text)")
      def legs(src: String, sfx: String) = vExprs.map { case (n, e) =>
        s"""SELECT '$n' AS col, count(*) AS n_$sfx,
           count(DISTINCT v) AS ndv_$sfx, min(v) AS min_$sfx,
           max(v) AS max_$sfx,
           CAST(sum(length(v)) * 1000 // count(*) AS BIGINT)
             AS len_milli_$sfx
         FROM (SELECT $e AS v FROM $src)"""
      }.mkString(" UNION ALL ")
      s"""WITH d AS (SELECT doc_id, lang, source, n_chars, text,
           CAST(concat('0x', substring(md5(concat('snap:',
             CAST(doc_id AS VARCHAR))), 1, 15)) AS BIGINT) % 100 AS bk
           FROM documents),
         a AS (SELECT * FROM d WHERE bk < 90),
         b0 AS (SELECT doc_id, lang, source, n_chars,
             CASE WHEN bk >= 40 AND bk < 60 THEN upper(text)
               ELSE text END AS text
           FROM d WHERE bk >= 10),
         sa AS (${legs("a", "a")}),
         sb AS (${legs("b0", "b")})
         SELECT sa.col AS "column", n_a, n_b, n_b - n_a AS row_delta,
           ndv_a, ndv_b, ndv_b - ndv_a AS ndv_delta,
           min_a <> min_b AS min_changed, max_a <> max_b AS max_changed,
           len_milli_b - len_milli_a AS len_delta_milli,
           (ndv_b - ndv_a <> 0 OR min_a <> min_b OR max_a <> max_b
             OR len_milli_b - len_milli_a <> 0) AS drifted
         FROM sa JOIN sb ON sa.col = sb.col ORDER BY sa.col"""
    },
    "q_sql_revenue_share" ->
      """WITH r AS (
        SELECT n.n_name, CAST(round(o.o_totalprice * 100) AS BIGINT)
          AS cents
        FROM orders o
        JOIN customer c ON o.o_custkey = c.c_custkey
        JOIN nation n ON c.c_nationkey = n.n_nationkey)
      SELECT n_name, CAST(sum(cents) AS BIGINT) AS revenue_cents,
        CAST(sum(cents) * 10000 // sum(sum(cents)) OVER () AS BIGINT)
          AS share_bp
      FROM r GROUP BY n_name
      ORDER BY revenue_cents DESC, n_name""",
    "q_cust_order_histogram" ->
      """WITH pc AS (SELECT o_custkey, count(*) AS n FROM orders
           GROUP BY 1)
         SELECT coalesce(n, 0) AS c_count, count(*) AS n_customers
         FROM customer LEFT JOIN pc ON c_custkey = o_custkey
         GROUP BY 1 ORDER BY n_customers DESC, c_count DESC""",
    "q_priority_check" ->
      """SELECT o_orderpriority, count(*) AS n_orders
         FROM orders o
         WHERE EXISTS (SELECT 1 FROM lineitem l
           WHERE l.l_orderkey = o.o_orderkey
             AND CAST(l.l_shipdate AS DATE) > CAST(o.o_orderdate AS DATE))
         GROUP BY 1 ORDER BY 1""",
    "q_power_analysis" ->
      """WITH m AS (SELECT count(*) AS n_obs,
           CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS HUGEINT)
             AS s,
           sum(CAST(CAST(round(o_totalprice * 100) AS BIGINT) AS HUGEINT)
             * CAST(round(o_totalprice * 100) AS BIGINT)) AS q
           FROM orders),
         v AS (SELECT n_obs, CAST(s // n_obs AS BIGINT) AS mean_c,
             CAST((n_obs * q - s * s) // (CAST(n_obs AS HUGEINT)
               * (n_obs - 1)) AS BIGINT) AS var_c2
           FROM m),
         d AS (SELECT *, CAST(200 AS BIGINT) AS mde_bp,
             CAST(mean_c * 200 // 10000 AS BIGINT) AS delta_c FROM v)
         SELECT n_obs, mean_c, var_c2, mde_bp, delta_c,
           CAST((2 * CAST(2801585 AS HUGEINT) * 2801585 * var_c2
             + CAST(delta_c AS HUGEINT) * delta_c * 1000000000000 - 1)
             // (CAST(delta_c AS HUGEINT) * delta_c * 1000000000000)
             AS BIGINT) AS n_required
         FROM d""",
    "q_column_stats" -> {
      val vExprs = Seq(
        "l_orderkey" -> "lpad(CAST(l_orderkey AS VARCHAR), 12, '0')",
        "l_partkey" -> "lpad(CAST(l_partkey AS VARCHAR), 12, '0')",
        "l_suppkey" -> "lpad(CAST(l_suppkey AS VARCHAR), 12, '0')",
        "l_quantity" ->
          "lpad(CAST(CAST(l_quantity AS BIGINT) AS VARCHAR), 12, '0')",
        "l_cents" -> ("lpad(CAST(CAST(round(l_extendedprice * 100)" +
          " AS BIGINT) AS VARCHAR), 12, '0')"),
        "l_returnflag" -> "l_returnflag",
        "l_shipdate" -> "CAST(CAST(l_shipdate AS DATE) AS VARCHAR)")
      vExprs.map { case (n, e) =>
        s"""SELECT '$n' AS "column", count(*) AS n_rows,
           CAST(sum(CASE WHEN v IS NULL THEN 1 ELSE 0 END) AS BIGINT)
             AS n_nulls,
           count(DISTINCT v) AS ndv, min(v) AS min_v, max(v) AS max_v,
           CAST(sum(length(v)) * 1000 // count(*) AS BIGINT)
             AS avg_len_milli
         FROM (SELECT $e AS v FROM lineitem)"""
      }.mkString(" UNION ALL ") + " ORDER BY \"column\""
    },
    "q_rolling_median_mad" ->
      """WITH daily AS (SELECT CAST(o_orderdate AS DATE) AS day,
           CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
             AS cents FROM orders GROUP BY 1),
         win AS (SELECT day, cents,
             list_sort(list(cents) OVER (ORDER BY day ROWS BETWEEN 27
               PRECEDING AND CURRENT ROW)) AS arr
           FROM daily),
         m AS (SELECT day, cents, arr,
             arr[(len(arr) + 1) // 2] + arr[(len(arr) + 2) // 2] AS med2
           FROM win WHERE len(arr) = 28),
         d AS (SELECT day, cents, med2,
             list_sort(list_transform(arr, v -> abs(2 * v - med2)))
               AS devs
           FROM m)
         SELECT day, cents, med2,
           devs[(len(devs) + 1) // 2] + devs[(len(devs) + 2) // 2]
             AS mad4,
           abs(cents * 2 - med2) * 2 >
             (devs[(len(devs) + 1) // 2] + devs[(len(devs) + 2) // 2]) * 3
             AS anomaly
         FROM d ORDER BY day""",
    "q_mase_backtest" ->
      """WITH daily AS (SELECT CAST(o_orderdate AS DATE) AS day,
           CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
             AS cents FROM orders GROUP BY 1),
         fc AS (SELECT day, cents,
             count(*) OVER wp AS n_prev,
             sum(cents) OVER wp * 1000000 // 7 AS fc_u,
             lag(cents, 7) OVER (ORDER BY day) AS naive
           FROM daily
           WINDOW wp AS (ORDER BY day ROWS BETWEEN 7 PRECEDING AND
             1 PRECEDING)),
         e AS (SELECT abs(cents * 1000000 - fc_u) AS e_model_u,
             abs(cents - naive) * 1000000 AS e_naive_u
           FROM fc WHERE n_prev = 7)
         SELECT count(*) AS n_eval,
           CAST(sum(e_model_u) // count(*) AS BIGINT) AS mae_model_u,
           CAST(sum(e_naive_u) // count(*) AS BIGINT) AS mae_naive_u,
           CAST(sum(e_model_u) * 1000 // sum(e_naive_u) AS BIGINT)
             AS mase_milli,
           CAST(sum(CASE WHEN e_model_u < e_naive_u THEN 1 ELSE 0 END)
             * 10000 // count(*) AS BIGINT) AS win_bp
         FROM e""",
    "q_ivm_agg" ->
      """WITH b AS (SELECT o_orderkey, o_custkey,
           CAST(round(o_totalprice * 100) AS BIGINT) AS cents,
           CAST(concat('0x', substring(md5(concat('ivm:',
             CAST(o_orderkey AS VARCHAR))), 1, 15)) AS BIGINT) % 100 AS bk
           FROM orders),
         base AS (SELECT * FROM b WHERE bk < 90),
         v0 AS (SELECT o_custkey, min(cents) AS m FROM base GROUP BY 1),
         dmin AS (SELECT o_custkey, min(cents) AS dm FROM base
           WHERE bk >= 80 GROUP BY 1),
         post AS (
           SELECT o_custkey, cents FROM base WHERE bk < 80
           UNION ALL
           SELECT o_custkey, cents + 1000 FROM base
             WHERE bk >= 80 AND bk < 85
           UNION ALL
           SELECT o_custkey, cents FROM b WHERE bk >= 90),
         agg AS (SELECT o_custkey, count(*) AS n_orders,
             CAST(sum(cents) AS BIGINT) AS sum_cents,
             min(cents) AS min_cents
           FROM post GROUP BY 1)
         SELECT a.o_custkey, a.n_orders, a.sum_cents, a.min_cents,
           coalesce(d.dm <= v.m, FALSE) AS min_repaired
         FROM agg a LEFT JOIN v0 v ON v.o_custkey = a.o_custkey
           LEFT JOIN dmin d ON d.o_custkey = a.o_custkey
         ORDER BY a.o_custkey""",
    "q_conformal_calibration" ->
      s"""WITH d AS (SELECT doc_id, n_chars,
           CAST(len($toks) AS BIGINT) AS toks,
           CAST(concat('0x', substring(md5(concat('split:',
             CAST(doc_id AS VARCHAR))), 1, 15)) AS BIGINT) % 100
             AS bucket
           FROM documents),
         ols0 AS (SELECT CAST(count(*) AS BIGINT) AS n_train,
             CAST(sum(n_chars) AS BIGINT) AS sx,
             CAST(sum(toks) AS BIGINT) AS sy,
             CAST(sum(CAST(n_chars AS HUGEINT) * toks) AS HUGEINT)
               AS sxy,
             CAST(sum(CAST(n_chars AS HUGEINT) * n_chars) AS HUGEINT)
               AS sxx
           FROM d WHERE bucket < 80),
         ols1 AS (SELECT n_train, sx, sy,
             CAST(n_train AS HUGEINT) * sxy - CAST(sx AS HUGEINT) * sy
               AS num,
             CAST(n_train AS HUGEINT) * sxx - CAST(sx AS HUGEINT) * sx
               AS den FROM ols0),
         ols2 AS (SELECT n_train, sx, sy,
             CAST((num * 1000000 + 2000000000000000 * den) // den
               - 2000000000000000 AS BIGINT) AS b_u FROM ols1),
         ols AS (SELECT n_train, b_u,
             CAST((CAST(sy AS HUGEINT) * 1000000 - CAST(b_u AS HUGEINT)
               * sx + 2000000000000000 * CAST(n_train AS HUGEINT))
               // n_train - 2000000000000000 AS BIGINT) AS a_u
           FROM ols2),
         cal AS (SELECT doc_id,
             abs(toks * 1000000 - a_u - b_u * n_chars) AS s_u
           FROM d CROSS JOIN ols WHERE bucket >= 80 AND bucket < 90),
         nc AS (SELECT CAST(count(*) AS BIGINT) AS n_cal FROM cal),
         kr AS (SELECT n_cal, least(((n_cal + 1) * 9000 + 9999) // 10000,
             n_cal) AS k_rank FROM nc),
         rkd AS (SELECT s_u, row_number() OVER (ORDER BY s_u, doc_id)
             AS rk FROM cal),
         qh AS (SELECT s_u AS q_hat FROM rkd CROSS JOIN kr
           WHERE rk = k_rank),
         ts AS (SELECT abs(toks * 1000000 - a_u - b_u * n_chars) AS s_u
           FROM d CROSS JOIN ols WHERE bucket >= 90)
         SELECT n_train, n_cal, CAST(count(*) AS BIGINT) AS n_test,
           b_u, a_u, k_rank, max(q_hat) AS q_hat,
           CAST(sum(CASE WHEN s_u <= q_hat THEN 1 ELSE 0 END) AS BIGINT)
             AS n_covered,
           CAST(sum(CASE WHEN s_u <= q_hat THEN 1 ELSE 0 END) AS BIGINT)
             * 10000 // CAST(count(*) AS BIGINT) AS coverage_bp,
           CAST(9000 AS BIGINT) AS target_bp
         FROM ts CROSS JOIN qh CROSS JOIN ols CROSS JOIN kr
         GROUP BY n_train, n_cal, b_u, a_u, k_rank""",
    "q_knn_shapley" ->
      """WITH e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v,
           CAST(concat('0x', substring(md5(concat('split:',
             CAST(vec_id AS VARCHAR))), 1, 15)) AS BIGINT) % 100
             AS bucket
           FROM embeddings),
         pr AS (SELECT vec_id AS a, label AS la, v AS av FROM e
           WHERE bucket >= 90 ORDER BY vec_id LIMIT 40),
         tr AS (SELECT vec_id AS b, label AS lb, v AS bv FROM e
           WHERE bucket < 90),
         nt AS (SELECT CAST(count(*) AS BIGINT) AS n FROM tr),
         pairs AS (SELECT a, la, b, lb,
             CAST(round(list_cosine_similarity(av, bv) * 10000)
               AS BIGINT) AS cs_u
           FROM pr CROSS JOIN tr),
         rk AS (SELECT a, b, lb,
             CAST(row_number() OVER (PARTITION BY a ORDER BY cs_u DESC,
               b) AS BIGINT) AS rk,
             CASE WHEN la = lb THEN CAST(1 AS BIGINT)
               ELSE CAST(0 AS BIGINT) END AS ind
           FROM pairs),
         nx AS (SELECT rk.*, lead(ind, 1) OVER (PARTITION BY a
             ORDER BY rk) AS ind_next, n
           FROM rk CROSS JOIN nt),
         tm AS (SELECT a, b, lb, rk,
             CASE WHEN rk = n THEN 1000000 * ind // n
               ELSE (ind - ind_next) * 1000000 * least(5, rk)
                 // (5 * rk) END AS term_u
           FROM nx),
         su AS (SELECT a, b, lb,
             CAST(sum(term_u) OVER (PARTITION BY a ORDER BY rk DESC
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS BIGINT) AS s_u
           FROM tm),
         ag AS (SELECT b, lb, CAST(count(*) AS BIGINT) AS n_probes,
             CAST(sum(s_u) AS BIGINT) AS sum_s_u FROM su GROUP BY 1, 2),
         top AS (SELECT *, CAST(row_number() OVER (ORDER BY sum_s_u
             DESC, b) AS INT) AS rank FROM ag)
         SELECT rank, b AS vec_id, lb AS label, n_probes, sum_s_u
         FROM top WHERE rank <= 25 ORDER BY rank""",
    "q_durbin_watson" ->
      """WITH daily AS (SELECT CAST(o_orderdate AS DATE) AS day,
           CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
             AS cents FROM orders GROUP BY 1),
         t0 AS (SELECT min(day) AS d0 FROM daily),
         d AS (SELECT CAST(datediff('day', d0, day) AS BIGINT) AS t,
             cents FROM daily CROSS JOIN t0),
         ols AS (SELECT CAST(count(*) AS BIGINT) AS n,
             CAST(sum(t) AS BIGINT) AS st,
             CAST(sum(cents) AS BIGINT) AS sc,
             CAST(sum(CAST(t AS HUGEINT) * cents) AS HUGEINT) AS stc,
             CAST(sum(t * t) AS BIGINT) AS stt FROM d),
         o2 AS (SELECT n, st, sc,
             CAST(n AS HUGEINT) * stc - CAST(st AS HUGEINT) * sc AS num,
             CAST(n AS HUGEINT) * stt - CAST(st AS HUGEINT) * st AS den
           FROM ols),
         o3 AS (SELECT n, st, sc,
             CAST((num * 1000000 + 2000000000000000 * den) // den
               - 2000000000000000 AS BIGINT) AS b_u FROM o2),
         o4 AS (SELECT n, b_u,
             CAST((CAST(sc AS HUGEINT) * 1000000 - CAST(b_u AS HUGEINT)
               * st + 2000000000000000 * CAST(n AS HUGEINT)) // n
               - 2000000000000000 AS BIGINT) AS a_u FROM o3),
         res AS (SELECT t,
             CAST(cents AS HUGEINT) * 1000000 - a_u
               - CAST(b_u AS HUGEINT) * t AS e_u, n, b_u, a_u
           FROM d CROSS JOIN o4),
         res2 AS (SELECT *, e_u - lag(e_u) OVER (ORDER BY t) AS de
           FROM res),
         ag AS (SELECT max(n) AS n_days, max(b_u) AS b_u,
             max(a_u) AS a_u,
             CAST(sum(e_u * e_u) AS HUGEINT) AS sse,
             CAST(sum(de * de) AS HUGEINT) AS ssd FROM res2)
         SELECT n_days, b_u, a_u,
           CAST(sse AS VARCHAR) AS sse, CAST(ssd AS VARCHAR) AS ssd,
           CAST(1000 * ssd // sse AS BIGINT) AS dw_milli,
           1000 - CAST(1000 * ssd // sse AS BIGINT) // 2 AS rho_milli
         FROM ag""",
    "q_rfm_segments" ->
      """WITH o AS (SELECT o_custkey, CAST(o_orderdate AS DATE) AS day,
           CAST(round(o_totalprice * 100) AS BIGINT) AS cents
           FROM orders),
         mx AS (SELECT max(day) AS dmax FROM o),
         per AS (SELECT o_custkey, max(day) AS last_day,
             CAST(count(*) AS BIGINT) AS frequency,
             CAST(sum(cents) AS BIGINT) AS monetary_cents
           FROM o GROUP BY 1),
         rec AS (SELECT per.*, CAST(datediff('day', last_day, dmax)
             AS BIGINT) AS recency_days FROM per CROSS JOIN mx),
         sc AS (SELECT *,
             CAST(ntile(5) OVER (ORDER BY recency_days, o_custkey)
               AS BIGINT) AS r_q,
             CAST(ntile(5) OVER (ORDER BY frequency DESC, o_custkey)
               AS BIGINT) AS f_q,
             CAST(ntile(5) OVER (ORDER BY monetary_cents DESC,
               o_custkey) AS BIGINT) AS m_q
           FROM rec),
         lab AS (SELECT *,
             CASE WHEN r_q = 1 AND f_q <= 2 AND m_q <= 2 THEN 'champion'
               WHEN r_q <= 2 AND f_q <= 2 THEN 'loyal'
               WHEN r_q >= 4 AND m_q <= 2 THEN 'at_risk_high_value'
               WHEN r_q >= 4 THEN 'hibernating'
               ELSE 'regular' END AS segment
           FROM sc)
         SELECT segment, r_q, f_q, m_q,
           CAST(count(*) AS BIGINT) AS n_customers,
           CAST(sum(frequency) AS BIGINT) AS n_orders,
           CAST(sum(monetary_cents) AS BIGINT) AS revenue_cents,
           CAST(sum(recency_days) AS BIGINT) // count(*)
             AS mean_recency_days
         FROM lab GROUP BY 1, 2, 3, 4 ORDER BY r_q, f_q, m_q""",
    "q_log_rank" ->
      s"""WITH $survivalLivesCtes,
         lv AS (SELECT t, death,
             CAST(concat('0x', substring(md5(concat('arm:',
               CAST(user_id AS VARCHAR))), 1, 15)) AS BIGINT) % 100 < 50
               AS in_a
           FROM lives),
         byt AS (SELECT t,
             CAST(sum(CASE WHEN death THEN 1 ELSE 0 END) AS BIGINT) AS d,
             CAST(sum(CASE WHEN death AND in_a THEN 1 ELSE 0 END)
               AS BIGINT) AS d1,
             CAST(count(*) AS BIGINT) AS leave0,
             CAST(sum(CASE WHEN in_a THEN 1 ELSE 0 END) AS BIGINT)
               AS leave1
           FROM lv GROUP BY t),
         tot AS (SELECT CAST(count(*) AS BIGINT) AS n_tot,
             CAST(sum(CASE WHEN in_a THEN 1 ELSE 0 END) AS BIGINT)
               AS n_a,
             CAST(sum(CASE WHEN death AND in_a THEN 1 ELSE 0 END)
               AS BIGINT) AS deaths_a,
             CAST(sum(CASE WHEN death AND NOT in_a THEN 1 ELSE 0 END)
               AS BIGINT) AS deaths_b
           FROM lv),
         rs AS (SELECT t, d, d1, n_tot, n_a, deaths_a, deaths_b,
             n_tot - CAST(coalesce(sum(leave0) OVER (ORDER BY t ROWS
               BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS BIGINT) AS n_risk,
             n_a - CAST(coalesce(sum(leave1) OVER (ORDER BY t ROWS
               BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS BIGINT) AS n1_risk
           FROM byt CROSS JOIN tot),
         tm AS (SELECT *,
             d1 * 1000000 - d * n1_risk * 1000000 // n_risk AS oe_u,
             CASE WHEN n_risk <= 1 THEN CAST(0 AS HUGEINT)
               ELSE CAST(d AS HUGEINT) * n1_risk * (n_risk - n1_risk)
                 * (n_risk - d) * 1000000
                 // (CAST(n_risk AS HUGEINT) * n_risk * (n_risk - 1))
               END AS v_u
           FROM rs WHERE d > 0),
         ag AS (SELECT max(n_tot) AS n_total, max(n_a) AS n_a,
             max(deaths_a) AS deaths_a, max(deaths_b) AS deaths_b,
             CAST(sum(oe_u) AS BIGINT) AS oe_u,
             CAST(sum(v_u) AS HUGEINT) AS v_u FROM tm)
         SELECT n_total, n_a, n_total - n_a AS n_b, deaths_a, deaths_b,
           oe_u, CAST(v_u AS BIGINT) AS v_u,
           CAST(CAST(oe_u AS HUGEINT) * oe_u // v_u AS BIGINT) AS chi2_u,
           round(CAST(oe_u AS DOUBLE) / (1000.0 * sqrt(CAST(v_u AS
             DOUBLE))), 4) AS z
         FROM ag""",
    "q_ccf_lead_lag" -> ccfOracle(12),
    "q_kaplan_meier" ->
      s"""WITH $survivalLivesCtes,
         lt AS (SELECT t, death FROM lives),
         byt AS (SELECT t,
             CAST(sum(CASE WHEN death THEN 1 ELSE 0 END) AS BIGINT) AS d,
             CAST(sum(CASE WHEN death THEN 0 ELSE 1 END) AS BIGINT) AS c
           FROM lt GROUP BY t),
         tot AS (SELECT CAST(count(*) AS BIGINT) AS n_total FROM lt),
         rs AS (SELECT t, d, c, n_total
             - CAST(coalesce(sum(d + c) OVER (ORDER BY t ROWS BETWEEN
               UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
               AS n_risk
           FROM byt CROSS JOIN tot),
         km AS (SELECT t, n_risk, d, c,
             1000000 * d // n_risk AS hazard_ppm,
             CASE WHEN d = 0 THEN CAST(0 AS BIGINT)
               WHEN d = n_risk THEN CAST(-30000000 AS BIGINT)
               ELSE CAST(round(ln(CAST(n_risk - d AS DOUBLE)
                 / CAST(n_risk AS DOUBLE)) * 1e6) AS BIGINT) END
               AS ln_term_u
           FROM rs)
         SELECT t AS t_hours, n_risk, d AS n_deaths, c AS n_censored,
           CAST(hazard_ppm AS BIGINT) AS hazard_ppm, ln_term_u,
           CAST(sum(ln_term_u) OVER (ORDER BY t ROWS BETWEEN UNBOUNDED
             PRECEDING AND CURRENT ROW) AS BIGINT) AS ln_s_u
         FROM km ORDER BY t_hours""",
    "q_touch_attribution" ->
      """WITH p AS (SELECT user_id, event_id AS p_id,
           epoch_us(ts) AS p_us,
           CAST(round(value * 100) AS BIGINT) AS cents
           FROM events WHERE event_type = 'purchase'),
         c AS (SELECT user_id, event_id AS c_id, epoch_us(ts) AS c_us,
           CAST(hour(ts) AS BIGINT) AS click_hour
           FROM events WHERE event_type = 'click'),
         path AS (SELECT p.p_id, p.cents, c.c_id, c.c_us, c.click_hour
           FROM p JOIN c USING (user_id)
           WHERE c.c_us < p.p_us
             AND c.c_us >= p.p_us - 604800000000),
         rk AS (SELECT *,
             CAST(row_number() OVER (PARTITION BY p_id ORDER BY c_us,
               c_id) AS BIGINT) AS pos,
             CAST(count(*) OVER (PARTITION BY p_id) AS BIGINT) AS n
           FROM path),
         cr AS (SELECT click_hour, cents,
             CASE WHEN n = 1 THEN 10000
               WHEN n = 2 THEN 5000
               WHEN pos = 1 OR pos = n THEN 4000
               ELSE 2000 // (n - 2) + (CASE WHEN pos - 1 <= 2000 % (n - 2)
                 THEN 1 ELSE 0 END) END AS credit_bp
           FROM rk)
         SELECT click_hour,
           CAST(count(*) AS BIGINT) AS n_touches,
           CAST(sum(credit_bp) AS BIGINT) AS credit_bp_sum,
           CAST(sum(CAST(cents AS HUGEINT) * credit_bp) AS BIGINT)
             AS attr_cents_bp,
           CAST(sum(CAST(cents AS HUGEINT) * credit_bp) // 10000
             AS BIGINT) AS attr_cents
         FROM cr GROUP BY click_hour ORDER BY click_hour""",
    "q_page_hinkley" ->
      """WITH daily AS (SELECT CAST(o_orderdate AS DATE) AS day,
           CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
             AS cents FROM orders GROUP BY 1),
         a AS (SELECT day, cents,
             CAST(row_number() OVER w AS BIGINT) AS t,
             CAST(sum(cents) OVER w AS BIGINT) AS s_cum
           FROM daily WINDOW w AS (ORDER BY day
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
         b AS (SELECT day, cents, t,
             CAST(CAST(s_cum AS HUGEINT) * 1000000 // t AS BIGINT)
               AS mbar_u FROM a),
         c AS (SELECT day, cents, t, mbar_u,
             CAST(sum(CAST(cents AS HUGEINT) * 1000000 - mbar_u)
               OVER (ORDER BY day ROWS BETWEEN UNBOUNDED PRECEDING AND
                 CURRENT ROW) AS HUGEINT) AS m_cum FROM b),
         d AS (SELECT c.*,
             m_cum - min(m_cum) OVER (ORDER BY day ROWS BETWEEN UNBOUNDED
               PRECEDING AND CURRENT ROW) AS ph_hi,
             max(m_cum) OVER (ORDER BY day ROWS BETWEEN UNBOUNDED
               PRECEDING AND CURRENT ROW) - m_cum AS ph_lo FROM c)
         SELECT day, cents, t, mbar_u,
           CAST(m_cum AS BIGINT) AS m_cum,
           CAST(ph_hi AS BIGINT) AS ph_hi, CAST(ph_lo AS BIGINT)
             AS ph_lo,
           ph_hi >= mbar_u // 4 AS alarm_hi,
           ph_lo >= mbar_u // 4 AS alarm_lo
         FROM d ORDER BY day""",
    "q_theil_sen" ->
      """WITH daily AS (SELECT CAST(o_orderdate AS DATE) AS day,
           CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
             AS cents FROM orders GROUP BY 1),
         t0 AS (SELECT min(day) AS d0 FROM daily),
         d AS (SELECT CAST(datediff('day', d0, day) AS BIGINT) AS t,
             cents FROM daily CROSS JOIN t0),
         sl AS (SELECT ((b.cents - a.cents) * 1000000) // (b.t - a.t)
             AS slope_u
           FROM d a JOIN d b ON a.t < b.t),
         np AS (SELECT CAST(count(*) AS BIGINT) AS n_pairs FROM sl),
         rk AS (SELECT slope_u,
             row_number() OVER (ORDER BY slope_u) AS rk FROM sl),
         med AS (SELECT CAST(sum(slope_u) * (CASE WHEN max(n_pairs) % 2
               = 1 THEN 2 ELSE 1 END) AS BIGINT) AS slope_med_x2_u
           FROM rk CROSS JOIN np
           WHERE rk = (n_pairs + 1) // 2 OR rk = n_pairs // 2 + 1),
         ols AS (SELECT CAST(count(*) AS BIGINT) AS n,
             CAST(sum(t) AS BIGINT) AS st,
             CAST(sum(cents) AS BIGINT) AS sc,
             CAST(sum(CAST(t AS HUGEINT) * cents) AS HUGEINT) AS stc,
             CAST(sum(t * t) AS BIGINT) AS stt FROM d),
         o2 AS (SELECT n,
             CAST(n AS HUGEINT) * stc - CAST(st AS HUGEINT) * sc
               AS ols_num,
             CAST(n AS HUGEINT) * stt - CAST(st AS HUGEINT) * st
               AS ols_den FROM ols),
         o3 AS (SELECT n, CAST((ols_num * 1000000
             + 2000000000000000 * ols_den) // ols_den
             - 2000000000000000 AS BIGINT) AS ols_slope_u FROM o2)
         SELECT n AS n_days, n_pairs, slope_med_x2_u, ols_slope_u,
           slope_med_x2_u - 2 * ols_slope_u AS robust_minus_ols_x2_u
         FROM med CROSS JOIN o3 CROSS JOIN np""",
    "q_isotonic_calibration" ->
      s"""WITH $minhashCtes,
         p AS ($minhashPairsSelect),
         mem AS (SELECT DISTINCT doc_id FROM
           (SELECT doc_a AS doc_id FROM p
            UNION ALL SELECT doc_b FROM p)),
         d AS (SELECT
             CAST(round($qualityExpr * 10000) AS BIGINT) // 500 AS bin,
             CASE WHEN mem.doc_id IS NULL THEN CAST(0 AS BIGINT)
               ELSE CAST(1 AS BIGINT) END AS dup
           FROM documents LEFT JOIN mem ON mem.doc_id = documents.doc_id),
         bins AS (SELECT bin, CAST(count(*) AS BIGINT) AS n_docs,
             CAST(sum(dup) AS BIGINT) AS n_dup FROM d GROUP BY bin),
         pre AS (SELECT bin, n_docs, n_dup,
             CAST(row_number() OVER (ORDER BY bin) AS BIGINT) AS idx,
             CAST(sum(n_docs) OVER (ORDER BY bin) AS BIGINT) AS cn,
             CAST(sum(n_dup) OVER (ORDER BY bin) AS BIGINT) AS cd
           FROM bins),
         rg AS (SELECT a.idx AS i, b.idx AS j,
             1000000 * (b.cd - (a.cd - a.n_dup))
               // (b.cn - (a.cn - a.n_docs)) AS rate_u
           FROM pre a JOIN pre b ON a.idx <= b.idx),
         fi AS (SELECT p2.idx AS b, r.i, min(r.rate_u) AS mn,
             max(r.rate_u) AS mx
           FROM pre p2 JOIN rg r ON r.i <= p2.idx AND p2.idx <= r.j
           GROUP BY 1, 2),
         ft AS (SELECT b, CAST(max(mn) AS BIGINT) AS fit_inc_u,
             CAST(min(mx) AS BIGINT) AS fit_dec_u FROM fi GROUP BY b),
         f AS (SELECT bin, n_docs, n_dup,
             1000000 * n_dup // n_docs AS rate_u, fit_inc_u, fit_dec_u
           FROM pre JOIN ft ON ft.b = pre.idx),
         g AS (SELECT f.*,
             CAST(sum(CAST(n_docs AS HUGEINT) * (rate_u - fit_inc_u)
               * (rate_u - fit_inc_u)) OVER () AS HUGEINT) AS sse_inc,
             CAST(sum(CAST(n_docs AS HUGEINT) * (rate_u - fit_dec_u)
               * (rate_u - fit_dec_u)) OVER () AS HUGEINT) AS sse_dec
           FROM f)
         SELECT bin, n_docs, n_dup, CAST(rate_u AS BIGINT) AS rate_u,
           fit_inc_u, fit_dec_u,
           CAST(sse_inc AS BIGINT) AS sse_inc,
           CAST(sse_dec AS BIGINT) AS sse_dec,
           sse_inc <= sse_dec AS monotone_up
         FROM g ORDER BY bin""",
    "q_linkage_weights" ->
      s"""WITH $minhashCtes,
         p AS ($minhashPairsSelect),
         f AS (SELECT doc_id, lang, source,
             CAST(strlen(text) AS BIGINT) // 128 AS len_band,
             split_part(text, ' ', 1) AS tok1 FROM documents),
         nn AS (SELECT CAST(count(*) AS BIGINT) // 2 AS h FROM documents),
         rk AS (SELECT doc_id, CAST(row_number() OVER (ORDER BY
             md5(concat('link:', CAST(doc_id AS VARCHAR))), doc_id)
             AS BIGINT) AS r FROM documents),
         ps AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
           FROM rk a CROSS JOIN nn JOIN rk b ON b.r = a.r + h
           WHERE a.r <= h),
         mt AS (SELECT CAST(count(*) AS BIGINT) AS n_match,
             CAST(sum(CASE WHEN fa.lang = fb.lang THEN 1 ELSE 0 END)
               AS BIGINT) AS a_lang,
             CAST(sum(CASE WHEN fa.source = fb.source THEN 1 ELSE 0 END)
               AS BIGINT) AS a_source,
             CAST(sum(CASE WHEN fa.len_band = fb.len_band THEN 1 ELSE 0
               END) AS BIGINT) AS a_len_band,
             CAST(sum(CASE WHEN fa.tok1 = fb.tok1 THEN 1 ELSE 0 END)
               AS BIGINT) AS a_first_token
           FROM p JOIN f fa ON fa.doc_id = p.doc_a
             JOIN f fb ON fb.doc_id = p.doc_b),
         ut AS (SELECT CAST(count(*) AS BIGINT) AS n_unmatch,
             CAST(sum(CASE WHEN fa.lang = fb.lang THEN 1 ELSE 0 END)
               AS BIGINT) AS a_lang,
             CAST(sum(CASE WHEN fa.source = fb.source THEN 1 ELSE 0 END)
               AS BIGINT) AS a_source,
             CAST(sum(CASE WHEN fa.len_band = fb.len_band THEN 1 ELSE 0
               END) AS BIGINT) AS a_len_band,
             CAST(sum(CASE WHEN fa.tok1 = fb.tok1 THEN 1 ELSE 0 END)
               AS BIGINT) AS a_first_token
           FROM ps JOIN f fa ON fa.doc_id = ps.doc_a
             JOIN f fb ON fb.doc_id = ps.doc_b),
         sm AS (SELECT 'lang' AS comparator, n_match, a_lang AS m_agree
             FROM mt UNION ALL
           SELECT 'source', n_match, a_source FROM mt UNION ALL
           SELECT 'len_band', n_match, a_len_band FROM mt UNION ALL
           SELECT 'first_token', n_match, a_first_token FROM mt),
         su AS (SELECT 'lang' AS comparator, n_unmatch, a_lang AS u_agree
             FROM ut UNION ALL
           SELECT 'source', n_unmatch, a_source FROM ut UNION ALL
           SELECT 'len_band', n_unmatch, a_len_band FROM ut UNION ALL
           SELECT 'first_token', n_unmatch, a_first_token FROM ut),
         j AS (SELECT * FROM sm JOIN su USING (comparator))
         SELECT comparator, n_match, n_unmatch, m_agree, u_agree,
           (m_agree + 1) * 1000000 // (n_match + 2) AS m_ppm,
           (u_agree + 1) * 1000000 // (n_unmatch + 2) AS u_ppm,
           CAST(round(log2(CAST((m_agree + 1) * (n_unmatch + 2) AS DOUBLE)
             / ((n_match + 2) * (u_agree + 1))) * 1e6) AS BIGINT)
             AS w_agree_u,
           CAST(round(log2(CAST((n_match + 1 - m_agree) * (n_unmatch + 2)
             AS DOUBLE) / ((n_match + 2) * (n_unmatch + 1 - u_agree)))
             * 1e6) AS BIGINT) AS w_disagree_u
         FROM j ORDER BY comparator""",
    "q_acf_ljung_box" ->
      """WITH daily AS (SELECT CAST(o_orderdate AS DATE) AS day,
           CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
             AS cents FROM orders GROUP BY 1),
         st AS (SELECT CAST(count(*) AS BIGINT) AS n,
             CAST(sum(cents) AS BIGINT) AS s FROM daily),
         y AS (SELECT day, n * cents - s AS y, n FROM daily CROSS JOIN st),
         l AS (SELECT y AS y0, n,
             lead(y, 1) OVER w AS y1, lead(y, 2) OVER w AS y2,
             lead(y, 3) OVER w AS y3, lead(y, 4) OVER w AS y4,
             lead(y, 5) OVER w AS y5, lead(y, 6) OVER w AS y6,
             lead(y, 7) OVER w AS y7, lead(y, 8) OVER w AS y8,
             lead(y, 9) OVER w AS y9, lead(y, 10) OVER w AS y10
           FROM y WINDOW w AS (ORDER BY day)),
         a AS (SELECT max(n) AS n,
             CAST(sum(CAST(y0 AS HUGEINT) * y0) AS HUGEINT) AS g0,
             CAST(sum(CAST(y0 AS HUGEINT) * y1) AS HUGEINT) AS g1,
             CAST(sum(CAST(y0 AS HUGEINT) * y2) AS HUGEINT) AS g2,
             CAST(sum(CAST(y0 AS HUGEINT) * y3) AS HUGEINT) AS g3,
             CAST(sum(CAST(y0 AS HUGEINT) * y4) AS HUGEINT) AS g4,
             CAST(sum(CAST(y0 AS HUGEINT) * y5) AS HUGEINT) AS g5,
             CAST(sum(CAST(y0 AS HUGEINT) * y6) AS HUGEINT) AS g6,
             CAST(sum(CAST(y0 AS HUGEINT) * y7) AS HUGEINT) AS g7,
             CAST(sum(CAST(y0 AS HUGEINT) * y8) AS HUGEINT) AS g8,
             CAST(sum(CAST(y0 AS HUGEINT) * y9) AS HUGEINT) AS g9,
             CAST(sum(CAST(y0 AS HUGEINT) * y10) AS HUGEINT) AS g10
           FROM l),
         stk AS (
           SELECT n, g0, 1 AS lag_k, g1 AS gamma_num FROM a UNION ALL
           SELECT n, g0, 2, g2 FROM a UNION ALL
           SELECT n, g0, 3, g3 FROM a UNION ALL
           SELECT n, g0, 4, g4 FROM a UNION ALL
           SELECT n, g0, 5, g5 FROM a UNION ALL
           SELECT n, g0, 6, g6 FROM a UNION ALL
           SELECT n, g0, 7, g7 FROM a UNION ALL
           SELECT n, g0, 8, g8 FROM a UNION ALL
           SELECT n, g0, 9, g9 FROM a UNION ALL
           SELECT n, g0, 10, g10 FROM a),
         c(lag_c, crit_milli) AS (VALUES (1, 3841), (2, 5991), (3, 7815),
           (4, 9488), (5, 11070), (6, 12592), (7, 14067), (8, 15507),
           (9, 16919), (10, 18307)),
         r AS (SELECT lag_k, n, g0, gamma_num, crit_milli,
             CAST((gamma_num * 1000000 + 1000000 * g0) // g0
               - 1000000 AS BIGINT) AS rho_u
           FROM stk JOIN c ON lag_c = lag_k),
         t AS (SELECT r.*, n * (n + 2) * rho_u * rho_u
             // ((n - lag_k) * 1000000000) AS term_milli FROM r)
         SELECT CAST(lag_k AS BIGINT) AS lag_k,
           CAST(g0 AS VARCHAR) AS g0_num,
           CAST(gamma_num AS VARCHAR) AS gamma_num,
           rho_u,
           CAST(sum(term_milli) OVER (ORDER BY lag_k) AS BIGINT)
             AS q_milli,
           CAST(crit_milli AS BIGINT) AS crit_milli,
           CAST(sum(term_milli) OVER (ORDER BY lag_k) AS BIGINT)
             > crit_milli AS reject
         FROM t ORDER BY lag_k""",
    "q_kruskal_weekday" ->
      """WITH daily AS (SELECT CAST(o_orderdate AS DATE) AS day,
           CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
             AS cents FROM orders GROUP BY 1),
         st AS (SELECT CAST(sum(t) AS BIGINT) AS n,
             CAST(sum(t * t * t - t) AS BIGINT) AS tie_sum
           FROM (SELECT CAST(count(*) AS BIGINT) AS t FROM daily
                 GROUP BY cents)),
         rk AS (SELECT CAST(date_part('isodow', day) - 1 AS BIGINT) AS wd,
             2 * rank() OVER (ORDER BY cents)
               + count(*) OVER (PARTITION BY cents) - 1 AS dr
           FROM daily),
         g AS (SELECT wd, CAST(count(*) AS BIGINT) AS n_days,
             CAST(sum(dr) AS BIGINT) AS r2_sum FROM rk GROUP BY wd),
         f AS (SELECT wd, n_days, r2_sum, n, tie_sum,
             3000 * r2_sum * r2_sum // (n_days * n * (n + 1))
               AS h_contrib_milli
           FROM g CROSS JOIN st),
         h AS (SELECT f.*,
             CAST(sum(h_contrib_milli) OVER () AS BIGINT)
               - 3000 * (n + 1) AS h_milli,
             1000000 - 1000000 * tie_sum // (n * n * n - n)
               AS tie_denom_ppm FROM f)
         SELECT wd, n_days, r2_sum,
           1000 * r2_sum // (2 * n_days) AS mean_rank_milli,
           CAST(h_contrib_milli AS BIGINT) AS h_contrib_milli, h_milli,
           tie_sum, tie_denom_ppm,
           CAST((h_milli * 1000000 + 1000000000 * tie_denom_ppm)
             // tie_denom_ppm - 1000000000 AS BIGINT) AS h_adj_milli,
           ((h_milli * 1000000 + 1000000000 * tie_denom_ppm)
             // tie_denom_ppm - 1000000000) > 12592 AS reject
         FROM h ORDER BY wd""",
    "q_theil_decomposition" ->
      """WITH cust AS (SELECT o_custkey,
           CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
             AS x FROM orders GROUP BY 1),
         cn AS (SELECT cust.o_custkey, x, c_nationkey
           FROM cust JOIN customer ON c_custkey = o_custkey),
         tot AS (SELECT CAST(sum(x) AS BIGINT) AS xt,
             CAST(count(*) AS BIGINT) AS n FROM cn),
         grp AS (SELECT c_nationkey, CAST(sum(x) AS BIGINT) AS xg,
             CAST(count(*) AS BIGINT) AS ng FROM cn GROUP BY 1),
         terms AS (SELECT cn.c_nationkey, x, xg, ng, xt, n,
             CAST(round(ln(CAST(x * n AS DOUBLE) / CAST(xt AS DOUBLE))
               * 1e6) AS BIGINT) AS ln_tot_u,
             CAST(round(ln(CAST(x * ng AS DOUBLE) / CAST(xg AS DOUBLE))
               * 1e6) AS BIGINT) AS ln_win_u
           FROM cn JOIN grp USING (c_nationkey) CROSS JOIN tot),
         pn AS (SELECT c_nationkey, CAST(max(ng) AS BIGINT) AS n_cust,
             CAST(max(xg) AS BIGINT) AS revenue_cents,
             CAST(sum(CAST(x AS HUGEINT) * ln_win_u) AS HUGEINT)
               AS win_num,
             CAST(max(CAST(xg AS HUGEINT) * CAST(round(ln(
               CAST(xg * n AS DOUBLE) / CAST(xt * ng AS DOUBLE)) * 1e6)
               AS BIGINT)) AS HUGEINT) AS btw_num
           FROM terms GROUP BY 1),
         tt AS (SELECT CAST(sum(CAST(x AS HUGEINT) * ln_tot_u) AS HUGEINT)
             AS tot_num, CAST(max(xt) AS BIGINT) AS xt FROM terms),
         f AS (SELECT pn.*, tot_num, xt,
             CAST((CAST(sum(win_num) OVER () AS HUGEINT)
               + 100000000 * CAST(xt AS HUGEINT)) // xt - 100000000
               AS BIGINT) AS within_u,
             CAST((CAST(sum(btw_num) OVER () AS HUGEINT)
               + 100000000 * CAST(xt AS HUGEINT)) // xt - 100000000
               AS BIGINT) AS between_u,
             CAST((tot_num + 100000000 * CAST(xt AS HUGEINT)) // xt
               - 100000000 AS BIGINT) AS theil_u
           FROM pn CROSS JOIN tt)
         SELECT c_nationkey, n_cust, revenue_cents,
           CAST((win_num + 100000000 * CAST(xt AS HUGEINT)) // xt
             - 100000000 AS BIGINT) AS within_contrib_u,
           CAST((btw_num + 100000000 * CAST(xt AS HUGEINT)) // xt
             - 100000000 AS BIGINT) AS between_contrib_u,
           theil_u, between_u, within_u,
           theil_u - between_u - within_u AS residual_u
         FROM f ORDER BY c_nationkey""",
    "q_hill_tail" ->
      """WITH o AS (SELECT o_orderkey,
           CAST(round(o_totalprice * 100) AS BIGINT) AS cents FROM orders),
         top1 AS (SELECT * FROM o ORDER BY cents DESC, o_orderkey
           LIMIT 201),
         thr AS (SELECT cents AS thr FROM top1 ORDER BY cents, o_orderkey
           LIMIT 1),
         rk AS (SELECT cents, thr, row_number() OVER (ORDER BY cents DESC,
             o_orderkey) AS rk FROM top1 CROSS JOIN thr),
         lsumt AS (SELECT CAST(count(*) AS BIGINT) AS k,
             CAST(max(thr) AS BIGINT) AS threshold_cents,
             CAST(sum(CAST(round(ln(CAST(cents AS DOUBLE)
               / CAST(thr AS DOUBLE)) * 1e6) AS BIGINT)) AS BIGINT)
               AS lsum_u
           FROM rk WHERE rk <= 200)
         SELECT k, threshold_cents, lsum_u,
           CAST(k * 1000000000 // lsum_u AS BIGINT) AS alpha_milli
         FROM lsumt""",
    "q_runs_test" ->
      """WITH daily AS (SELECT CAST(o_orderdate AS DATE) AS day,
           CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
             AS cents FROM orders GROUP BY 1),
         n0 AS (SELECT CAST(count(*) AS BIGINT) AS n FROM daily),
         rkd AS (SELECT cents, row_number() OVER (ORDER BY cents, day)
             AS rk FROM daily),
         med AS (SELECT CAST(sum(cents) *
             (CASE WHEN max(n) % 2 = 1 THEN 2 ELSE 1 END) AS BIGINT)
             AS med_x2
           FROM rkd CROSS JOIN n0
           WHERE rk = (n + 1) // 2 OR rk = n // 2 + 1),
         sg AS (SELECT day, cents * 2 > med_x2 AS above
           FROM daily CROSS JOIN med WHERE cents * 2 <> med_x2),
         fl AS (SELECT above, CASE WHEN lag(above) OVER (ORDER BY day)
             IS NULL OR lag(above) OVER (ORDER BY day) <> above
             THEN 1 ELSE 0 END AS flip FROM sg),
         a AS (SELECT CAST(count(*) AS BIGINT) AS n_days,
             CAST(sum(CASE WHEN above THEN 1 ELSE 0 END) AS BIGINT)
               AS n_above,
             CAST(sum(CASE WHEN NOT above THEN 1 ELSE 0 END) AS BIGINT)
               AS n_below,
             CAST(sum(flip) AS BIGINT) AS runs FROM fl)
         SELECT n_days, n_above, n_below, runs,
           n_days + 2 * n_above * n_below AS e_runs_x_n,
           round((CAST(runs AS DOUBLE)
             - (1.0 + 2.0 * n_above * n_below / n_days)) /
             sqrt((2.0 * n_above * n_below
               * (2.0 * n_above * n_below - n_days)) /
               (CAST(n_days AS DOUBLE) * n_days * (n_days - 1))), 4) AS z
         FROM a""",
    "q_join_size_est" ->
      """WITH ka AS (SELECT o_custkey AS k FROM orders),
         kb AS (SELECT user_id AS k FROM events),
         sa AS (SELECT r, b, CAST(count(*) AS BIGINT) AS c FROM (
             SELECT r, CAST(concat('0x', substring(md5(concat(
               CAST(r AS VARCHAR), ':js:', CAST(k AS VARCHAR))), 1, 15))
               AS BIGINT) % 32 AS b
             FROM ka CROSS JOIN
               (SELECT unnest(generate_series(0, 3)) AS r))
           GROUP BY r, b),
         sb AS (SELECT r, b, CAST(count(*) AS BIGINT) AS c2 FROM (
             SELECT r, CAST(concat('0x', substring(md5(concat(
               CAST(r AS VARCHAR), ':js:', CAST(k AS VARCHAR))), 1, 15))
               AS BIGINT) % 32 AS b
             FROM kb CROSS JOIN
               (SELECT unnest(generate_series(0, 3)) AS r))
           GROUP BY r, b),
         pr AS (SELECT sa.r, CAST(sum(c * c2) AS BIGINT) AS est
           FROM sa JOIN sb ON sa.r = sb.r AND sa.b = sb.b GROUP BY sa.r),
         fa AS (SELECT k, CAST(count(*) AS BIGINT) AS fa FROM ka
           GROUP BY 1),
         fb AS (SELECT k, CAST(count(*) AS BIGINT) AS fb FROM kb
           GROUP BY 1),
         ex AS (SELECT CAST(coalesce(sum(fa * fb), 0) AS BIGINT)
             AS exact_size FROM fa JOIN fb USING (k)),
         sz AS (SELECT (SELECT CAST(count(*) AS BIGINT) FROM ka) AS n_a,
             (SELECT CAST(count(*) AS BIGINT) FROM kb) AS n_b),
         f AS (SELECT r, est, exact_size, n_a, n_b,
             CAST(min(est) OVER () AS BIGINT) AS cms_est
           FROM pr CROSS JOIN ex CROSS JOIN sz)
         SELECT CAST(r AS BIGINT) AS r, est, exact_size, n_a, n_b,
           est - exact_size AS overestimate, est >= exact_size AS sound,
           cms_est
         FROM f ORDER BY r""",
    "q_changepoint" ->
      """WITH daily AS (SELECT CAST(o_orderdate AS DATE) AS day,
           CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
             AS cents FROM orders GROUP BY 1),
         r AS (SELECT day, cents,
             CAST(row_number() OVER (ORDER BY day) AS BIGINT) AS t,
             CAST(sum(cents) OVER (ORDER BY day ROWS BETWEEN UNBOUNDED
               PRECEDING AND CURRENT ROW) AS BIGINT) AS p FROM daily),
         tt AS (SELECT CAST(count(*) AS BIGINT) AS n,
             CAST(sum(cents) AS BIGINT) AS pn FROM daily),
         g AS (SELECT day, t, p, n, pn, abs(n * p - t * pn) AS g
           FROM r CROSS JOIN tt WHERE t < n),
         mx AS (SELECT *, max(g) OVER () AS gmax FROM g),
         w AS (SELECT * FROM mx WHERE g = gmax ORDER BY day LIMIT 1)
         SELECT day AS split_day, t AS n_before, n - t AS n_after,
           CAST(p // t AS BIGINT) AS mean_before_cents,
           CAST((pn - p) // (n - t) AS BIGINT) AS mean_after_cents,
           g AS g_stat,
           CAST((pn - p) // (n - t) AS BIGINT) - CAST(p // t AS BIGINT)
             AS shift_cents
         FROM w""",
    "q_rendezvous_shards" ->
      """WITH docs AS (SELECT doc_id FROM documents),
         sp AS (SELECT CAST(unnest(generate_series(0, 7)) AS INT) AS shard),
         wt AS (SELECT doc_id, shard,
             CAST(concat('0x', substring(md5(concat('hrw:',
               CAST(shard AS VARCHAR), ':', CAST(doc_id AS VARCHAR))),
               1, 15)) AS BIGINT) AS hw
           FROM docs CROSS JOIN sp),
         mx AS (SELECT doc_id, CAST(max(hw) AS BIGINT) AS full_max,
             CAST(max(CASE WHEN shard <> 7 THEN hw END) AS BIGINT)
               AS red_max
           FROM wt GROUP BY doc_id),
         asg AS (SELECT wt.doc_id,
             max(CASE WHEN hw = full_max THEN shard END) AS shard_full,
             max(CASE WHEN hw = red_max THEN shard END) AS shard_reduced
           FROM wt JOIN mx USING (doc_id) GROUP BY wt.doc_id)
         SELECT shard_full AS shard, CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(CASE WHEN shard_full <> shard_reduced THEN 1 ELSE 0
             END) AS BIGINT) AS n_moved,
           shard_full = 7 AS is_removed,
           ((shard_full = 7 AND sum(CASE WHEN shard_full <> shard_reduced
               THEN 1 ELSE 0 END) = count(*))
             OR (shard_full <> 7 AND sum(CASE WHEN shard_full <>
               shard_reduced THEN 1 ELSE 0 END) = 0))
             AS disruption_minimal
         FROM asg GROUP BY shard_full ORDER BY shard""",
    "q_quantile_transform" ->
      """WITH b AS (SELECT event_type,
           CAST(round(value * 10000) AS BIGINT) AS vq FROM events),
         c AS (SELECT event_type, vq, CAST(count(*) AS BIGINT) AS t
           FROM b GROUP BY 1, 2),
         w AS (SELECT event_type, vq, t,
             CAST(coalesce(sum(t) OVER (PARTITION BY event_type
               ORDER BY vq ROWS BETWEEN UNBOUNDED PRECEDING AND
               1 PRECEDING), 0) AS BIGINT) AS cb,
             CAST(sum(t) OVER (PARTITION BY event_type) AS BIGINT) AS n
           FROM c)
         SELECT event_type, vq, t,
           CAST((2 * cb + t) * 10000 // (2 * n) AS BIGINT) AS pct_bp
         FROM w ORDER BY event_type, vq""",
    "q_chao1_richness" ->
      s"""WITH d AS (SELECT lang, unnest($toks) AS tok FROM documents),
         c AS (SELECT lang, tok, CAST(count(*) AS BIGINT) AS c
           FROM d GROUP BY 1, 2),
         a AS (SELECT lang, CAST(count(*) AS BIGINT) AS vocab,
             CAST(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n1,
             CAST(sum(CASE WHEN c = 2 THEN 1 ELSE 0 END) AS BIGINT) AS n2
           FROM c GROUP BY 1)
         SELECT lang, vocab, n1, n2,
           vocab + CAST(n1 * (n1 - 1) // (2 * (n2 + 1)) AS BIGINT)
             AS chao1,
           CAST(n1 * (n1 - 1) // (2 * (n2 + 1)) AS BIGINT) AS unseen_est
         FROM a ORDER BY lang""",
    "q_source_diversity" ->
      """WITH per AS (SELECT source, CAST(count(*) AS BIGINT) AS n
           FROM documents GROUP BY 1),
         w AS (SELECT *, CAST(sum(n) OVER () AS BIGINT) AS nt FROM per),
         l AS (SELECT *, CAST(round(ln(CAST(n AS DOUBLE)
             / CAST(nt AS DOUBLE)) * 1e6) AS BIGINT) AS lnu FROM w),
         a AS (SELECT CAST(count(*) AS BIGINT) AS n_sources,
             CAST(max(nt) AS BIGINT) AS n_docs,
             CAST(sum(n * n) AS BIGINT) AS sum_sq,
             CAST((-sum(n * lnu)) // max(nt) AS BIGINT) AS shannon_u
           FROM l),
         f AS (SELECT n_sources, n_docs,
             CAST(n_docs * n_docs * 1000 // sum_sq AS BIGINT)
               AS inv_simpson_milli,
             shannon_u,
             CAST(round(ln(CAST(n_sources AS DOUBLE)) * 1e6) AS BIGINT)
               AS ln_m_u
           FROM a)
         SELECT *, CAST(shannon_u * 10000 // ln_m_u AS BIGINT)
           AS evenness_bp FROM f""",
    "q_funnel_latency" ->
      s"""WITH $funnelCtes,
         ft AS (SELECT u.user_id, v.view_ts, c.click_ts, p.purchase_ts
           FROM u LEFT JOIN v ON u.user_id = v.user_id
                  LEFT JOIN c ON u.user_id = c.user_id
                  LEFT JOIN p ON u.user_id = p.user_id),
         lats AS (
           SELECT 1 AS stage,
             CAST((epoch_us(click_ts) - epoch_us(view_ts)) // 1000000
               AS BIGINT) AS lat_s
           FROM ft WHERE click_ts IS NOT NULL
           UNION ALL
           SELECT 2,
             CAST((epoch_us(purchase_ts) - epoch_us(click_ts)) // 1000000
               AS BIGINT)
           FROM ft WHERE purchase_ts IS NOT NULL),
         c2 AS (SELECT stage, lat_s, CAST(count(*) AS BIGINT) AS c
           FROM lats GROUP BY 1, 2),
         t AS (SELECT stage, CAST(sum(c) AS BIGINT) AS n,
             CAST(sum(c * lat_s) AS BIGINT) AS s_lat
           FROM c2 GROUP BY 1),
         w AS (SELECT c2.*, CAST(sum(c) OVER (PARTITION BY stage
             ORDER BY lat_s ROWS BETWEEN UNBOUNDED PRECEDING AND
             CURRENT ROW) AS BIGINT) AS cc FROM c2),
         j AS (SELECT w.*, t.n, t.s_lat FROM w JOIN t USING (stage))
         SELECT CAST(stage AS INT) AS stage, max(n) AS n_transitions,
           CAST(min(CASE WHEN cc >= (n + 1) // 2 THEN lat_s END)
             + min(CASE WHEN cc >= n // 2 + 1 THEN lat_s END) AS BIGINT)
             AS med2_s,
           CAST(min(CASE WHEN cc >= (n * 9 + 9) // 10 THEN lat_s END)
             AS BIGINT) AS p90_s,
           CAST(max(s_lat // n) AS BIGINT) AS mean_s
         FROM j GROUP BY stage ORDER BY stage""",
    "q_energy_distance" ->
      """WITH b AS (SELECT epoch_us(ts) AS us,
           CAST(round(value * 10000) AS BIGINT) AS vq FROM events),
         m AS (SELECT (min(us) + max(us)) // 2 AS mid FROM b),
         h AS (SELECT vq, us <= mid AS early FROM b CROSS JOIN m),
         c AS (SELECT vq,
             CAST(sum(CASE WHEN early THEN 1 ELSE 0 END) AS BIGINT) AS c1,
             CAST(sum(CASE WHEN NOT early THEN 1 ELSE 0 END) AS BIGINT)
               AS c2
           FROM h GROUP BY vq),
         t AS (SELECT CAST(sum(c1) AS BIGINT) AS n1,
             CAST(sum(c2) AS BIGINT) AS n2,
             CAST(sum(CAST(c1 AS HUGEINT) * vq) AS HUGEINT) AS s1t,
             CAST(sum(CAST(c2 AS HUGEINT) * vq) AS HUGEINT) AS s2t
           FROM c),
         w AS (SELECT vq, c1, c2,
             CAST(sum(c1) OVER wc AS BIGINT) AS cc1,
             CAST(sum(CAST(c1 AS HUGEINT) * vq) OVER wc AS HUGEINT)
               AS ss1,
             CAST(sum(c2) OVER wc AS BIGINT) AS cc2,
             CAST(sum(CAST(c2 AS HUGEINT) * vq) OVER wc AS HUGEINT)
               AS ss2
           FROM c WINDOW wc AS (ORDER BY vq ROWS BETWEEN UNBOUNDED
             PRECEDING AND CURRENT ROW)),
         g AS (SELECT max(n1) AS n_early, max(n2) AS n_late,
             CAST(sum(CAST(c2 AS HUGEINT) * (CAST(cc1 AS HUGEINT) * vq
               - ss1 + (s1t - ss1) - CAST(n1 - cc1 AS HUGEINT) * vq))
               AS HUGEINT) AS sxy,
             CAST(sum(CAST(c1 AS HUGEINT) * (CAST(cc1 AS HUGEINT) * vq
               - ss1 + (s1t - ss1) - CAST(n1 - cc1 AS HUGEINT) * vq))
               AS HUGEINT) AS sxx,
             CAST(sum(CAST(c2 AS HUGEINT) * (CAST(cc2 AS HUGEINT) * vq
               - ss2 + (s2t - ss2) - CAST(n2 - cc2 AS HUGEINT) * vq))
               AS HUGEINT) AS syy
           FROM w CROSS JOIN t),
         f AS (SELECT n_early, n_late,
             CAST(sxy * 100 // (n_early * n_late) AS BIGINT) AS a_u,
             CAST(sxx * 100 // (CAST(n_early AS HUGEINT) * n_early)
               AS BIGINT) AS b_u,
             CAST(syy * 100 // (CAST(n_late AS HUGEINT) * n_late)
               AS BIGINT) AS c_u
           FROM g)
         SELECT n_early, n_late, a_u, b_u, c_u,
           2 * a_u - b_u - c_u AS energy_u
         FROM f""",
    "q_youden_cutoff" ->
      s"""WITH $gopherKeepCtes,
         q AS (SELECT doc_id, CAST(round($qualityExpr * 10000) AS BIGINT)
             AS qu FROM documents),
         j AS (SELECT keep, qu FROM k JOIN q USING (doc_id)),
         c AS (SELECT qu, CAST(count(*) AS BIGINT) AS t,
             CAST(sum(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT) AS t1
           FROM j GROUP BY 1),
         t2 AS (SELECT CAST(sum(t1) AS BIGINT) AS n_pos,
             CAST(sum(t - t1) AS BIGINT) AS n_neg FROM c),
         w AS (SELECT qu,
             CAST(coalesce(sum(t1) OVER wb, 0) AS BIGINT) AS cp,
             CAST(coalesce(sum(t - t1) OVER wb, 0) AS BIGINT) AS cn
           FROM c WINDOW wb AS (ORDER BY qu ROWS BETWEEN UNBOUNDED
             PRECEDING AND 1 PRECEDING)),
         r AS (SELECT qu, n_pos, n_neg, n_pos - cp AS tp,
             n_neg - cn AS fp,
             (n_pos - cp) * 1000000 // n_pos AS tpr_u,
             (n_neg - cn) * 1000000 // n_neg AS fpr_u
           FROM w CROSS JOIN t2),
         best AS (SELECT * FROM r
           ORDER BY tpr_u - fpr_u DESC, qu LIMIT 1)
         SELECT qu AS threshold_qu, n_pos, n_neg, tp, fp,
           CAST(tpr_u AS BIGINT) AS tpr_u, CAST(fpr_u AS BIGINT) AS fpr_u,
           CAST(tpr_u - fpr_u AS BIGINT) AS j_u
         FROM best""",
    "q_screen_auc" ->
      s"""WITH $gopherKeepCtes,
         q AS (SELECT doc_id, CAST(round($qualityExpr * 10000) AS BIGINT)
             AS qu FROM documents),
         j AS (SELECT keep, qu FROM k JOIN q USING (doc_id)),
         c AS (SELECT qu, CAST(count(*) AS BIGINT) AS t,
             CAST(sum(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT) AS t1
           FROM j GROUP BY 1),
         w AS (SELECT *, CAST(coalesce(sum(t) OVER (ORDER BY qu ROWS
             BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
             AS cb FROM c),
         a AS (SELECT CAST(sum(t1) AS BIGINT) AS n_pos,
             CAST(sum(t - t1) AS BIGINT) AS n_neg,
             CAST(sum(t1 * (2 * cb + t + 1)) AS BIGINT) AS r1x2 FROM w),
         f AS (SELECT n_pos, n_neg,
             CAST((r1x2 - n_pos * (n_pos + 1)) * 10000
               // (2 * n_pos * n_neg) AS BIGINT) AS auc_bp FROM a)
         SELECT n_pos, n_neg, auc_bp, 2 * auc_bp - 10000 AS gini_bp
         FROM f""",
    "q_ndcg_audit" -> {
      val wVals = operators.TextOps.ndcgWeightsU(10)
        .map { case (i, w) => s"($i, CAST($w AS BIGINT))" }.mkString(", ")
      s"""WITH $bm25Ctes,
         bm AS (SELECT doc_id,
             round(CAST(sum(cf) AS DOUBLE) / 1000000.0, 4) AS bm25
           FROM c GROUP BY doc_id),
         dens AS (SELECT doc_id,
             CAST(sum(tf) AS BIGINT) * 1000000 // dl AS dens_u
           FROM tf GROUP BY doc_id, dl),
         pool AS (SELECT bm.doc_id, bm25, dens_u
           FROM bm JOIN dens USING (doc_id)
           ORDER BY bm25 DESC, doc_id LIMIT 10),
         a2 AS (SELECT doc_id,
             CAST(row_number() OVER (ORDER BY bm25 DESC, doc_id) AS INT)
               AS rank_gold FROM pool),
         a3 AS (SELECT doc_id, rank_gold,
             CAST(10 - rank_gold + 1 AS BIGINT) AS rel FROM a2),
         b2 AS (SELECT doc_id,
             CAST(row_number() OVER (ORDER BY dens_u DESC, doc_id) AS INT)
               AS rank_eval FROM pool),
         w(pos, w_u) AS (VALUES $wVals),
         j AS (SELECT a3.doc_id, rank_gold, rank_eval, rel, we.w_u,
             rel * we.w_u AS contrib, rel * wg.w_u AS gcontrib
           FROM a3 JOIN b2 USING (doc_id)
           JOIN w we ON we.pos = rank_eval
           JOIN w wg ON wg.pos = rank_gold),
         t AS (SELECT *, CAST(sum(contrib) OVER () AS BIGINT) AS dcg_num,
             CAST(sum(gcontrib) OVER () AS BIGINT) AS idcg_num FROM j)
         SELECT doc_id, rank_gold, rank_eval, rel, w_u, contrib,
           dcg_num, idcg_num,
           CAST(dcg_num * 10000 // idcg_num AS BIGINT) AS ndcg_bp
         FROM t ORDER BY rank_gold"""
    },
    "q_kmv_overlap" ->
      s"""WITH d AS (SELECT doc_id,
           CAST(concat('0x', substring(md5(concat('split:',
             CAST(doc_id AS VARCHAR))), 1, 15)) AS BIGINT) % 100
             AS bucket, $toks AS toks FROM documents),
         sh0 AS (SELECT bucket < 80 AS is_train,
             md5(array_to_string(toks[i:i+2], ' ')) AS g
           FROM (SELECT bucket, toks,
               unnest(generate_series(1, len(toks) - 2)) AS i
             FROM d WHERE (bucket < 80 OR bucket >= 90)
               AND len(toks) >= 3)),
         sh AS (SELECT DISTINCT is_train,
             CAST(concat('0x', substring(g, 1, 15)) AS BIGINT) AS h
           FROM sh0),
         tr AS (SELECT h FROM sh WHERE is_train),
         ev AS (SELECT h FROM sh WHERE NOT is_train),
         tmin AS (SELECT h FROM tr ORDER BY h LIMIT 256),
         emin AS (SELECT h FROM ev ORDER BY h LIMIT 256),
         umin AS (SELECT h FROM (SELECT DISTINCT h FROM
             (SELECT h FROM tmin UNION ALL SELECT h FROM emin))
           ORDER BY h LIMIT 256),
         kth AS (SELECT (SELECT max(h) FROM tmin) AS t_k,
             (SELECT max(h) FROM emin) AS e_k),
         cnts AS (SELECT
             (SELECT CAST(count(*) AS BIGINT) FROM tr) AS n_train,
             (SELECT CAST(count(*) AS BIGINT) FROM ev) AS n_eval,
             (SELECT CAST(count(*) AS BIGINT) FROM tr JOIN ev USING (h))
               AS n_inter,
             (SELECT CAST(count(*) AS BIGINT) FROM umin
               JOIN tmin USING (h) JOIN emin USING (h)) AS matches)
         SELECT CAST(256 AS INT) AS k, n_train,
           CAST(CAST(255 AS HUGEINT) * (CAST(1 AS BIGINT) << 60) // t_k
             AS BIGINT) AS n_train_est,
           n_eval,
           CAST(CAST(255 AS HUGEINT) * (CAST(1 AS BIGINT) << 60) // e_k
             AS BIGINT) AS n_eval_est,
           n_inter,
           CAST(n_inter * 10000 // (n_train + n_eval - n_inter) AS BIGINT)
             AS jacc_exact_bp,
           matches, CAST(matches * 10000 // 256 AS BIGINT) AS jacc_est_bp,
           abs(CAST(matches * 10000 // 256 AS BIGINT)
             - CAST(n_inter * 10000 // (n_train + n_eval - n_inter)
               AS BIGINT)) AS err_bp
         FROM kth CROSS JOIN cnts""",
    "q_entropy_rate" ->
      s"""WITH docs AS (SELECT lang, $toks AS toks FROM documents),
         uni AS (SELECT lang, unnest(toks) AS w FROM docs),
         uc AS (SELECT lang, w, CAST(count(*) AS BIGINT) AS c
           FROM uni GROUP BY 1, 2),
         n1 AS (SELECT lang, CAST(sum(c) AS BIGINT) AS n FROM uc
           GROUP BY 1),
         h1 AS (SELECT lang, CAST(max(n) AS BIGINT) AS n_tokens,
             CAST((-sum(c * CAST(round(ln(CAST(c AS DOUBLE)
               / CAST(n AS DOUBLE)) * 1e6) AS BIGINT))) // max(n)
               AS BIGINT) AS h1_u
           FROM uc JOIN n1 USING (lang) GROUP BY lang),
         bg AS (SELECT lang, unnest(list_transform(
             generate_series(1, len(toks) - 1),
             i -> array_to_string(toks[i:i+1], ' '))) AS g
           FROM docs WHERE len(toks) >= 2),
         bc AS (SELECT lang, g, CAST(count(*) AS BIGINT) AS c
           FROM bg GROUP BY 1, 2),
         bca AS (SELECT *, split_part(g, ' ', 1) AS a FROM bc),
         ctx AS (SELECT lang, a, CAST(sum(c) AS BIGINT) AS ca
           FROM bca GROUP BY 1, 2),
         hc AS (SELECT lang, CAST(sum(c) AS BIGINT) AS n_bigrams,
             CAST((-sum(c * CAST(round(ln(CAST(c AS DOUBLE)
               / CAST(ca AS DOUBLE)) * 1e6) AS BIGINT))) // sum(c)
               AS BIGINT) AS hcond_u
           FROM bca JOIN ctx USING (lang, a) GROUP BY lang)
         SELECT lang, n_tokens, h1_u, n_bigrams, hcond_u,
           CAST(greatest(h1_u - hcond_u, 0) * 10000 // h1_u AS BIGINT)
             AS gain_bp
         FROM h1 JOIN hc USING (lang) ORDER BY lang""",
    "q_key_terms" ->
      s"""WITH dt AS (SELECT source, unnest($toks) AS tok FROM documents),
         cells AS (SELECT source, tok, CAST(count(*) AS BIGINT) AS y
           FROM dt GROUP BY 1, 2),
         tw AS (SELECT tok, CAST(sum(y) AS BIGINT) AS yt FROM cells
           GROUP BY 1 HAVING sum(y) >= 5),
         nsrc AS (SELECT source, CAST(sum(y) AS BIGINT) AS ns FROM cells
           GROUP BY 1),
         nall AS (SELECT CAST(sum(y) AS BIGINT) AS nt FROM cells),
         sc AS (SELECT source, tok, y, yt - y AS yr, ns, nt - ns AS nr
           FROM cells JOIN tw USING (tok) JOIN nsrc USING (source)
           CROSS JOIN nall),
         z AS (SELECT source, tok, y,
             CAST(round((ln(CAST(2 * y + 1 AS DOUBLE)
                 / CAST(2 * (ns - y) + 1 AS DOUBLE))
               - ln(CAST(2 * yr + 1 AS DOUBLE)
                 / CAST(2 * (nr - yr) + 1 AS DOUBLE))) * 1e6) AS BIGINT)
               AS delta_u,
             CAST(2000000000000 // (2 * y + 1)
               + 2000000000000 // (2 * (ns - y) + 1)
               + 2000000000000 // (2 * yr + 1)
               + 2000000000000 // (2 * (nr - yr) + 1) AS BIGINT) AS s2_u
           FROM sc),
         zz AS (SELECT *, CAST(round(delta_u / sqrt(CAST(s2_u AS DOUBLE))
             * 1e4) AS BIGINT) AS z_u4 FROM z),
         rk AS (SELECT *, row_number() OVER (PARTITION BY source
             ORDER BY z_u4 DESC, tok) AS rank FROM zz)
         SELECT source, CAST(rank AS INT) AS rank, tok, y, delta_u, z_u4
         FROM rk WHERE rank <= 5 ORDER BY source, rank""",
    "q_assortativity" ->
      s"""WITH lsh AS ($minhashPairsCore),
         edges AS (SELECT doc_a AS src, doc_b AS dst FROM lsh
           UNION ALL SELECT doc_b, doc_a FROM lsh),
         deg AS (SELECT src, CAST(count(*) AS BIGINT) AS d FROM edges
           GROUP BY 1),
         j AS (SELECT da.d AS dx, db.d AS dy FROM edges e
           JOIN deg da ON da.src = e.src JOIN deg db ON db.src = e.dst),
         m AS (SELECT CAST(count(*) AS HUGEINT) AS n,
             CAST(sum(dx) AS HUGEINT) AS sx,
             CAST(sum(dy) AS HUGEINT) AS sy,
             CAST(sum(CAST(dx AS HUGEINT) * dy) AS HUGEINT) AS sxy,
             CAST(sum(CAST(dx AS HUGEINT) * dx) AS HUGEINT) AS sxx,
             CAST(sum(CAST(dy AS HUGEINT) * dy) AS HUGEINT) AS syy
           FROM j),
         nn AS (SELECT CAST(count(*) AS BIGINT) AS n_nodes FROM deg)
         SELECT CAST(n AS BIGINT) AS n_edges, n_nodes,
           CAST(n * sxy - sx * sy AS BIGINT) AS cov_num,
           round(CAST(n * sxy - sx * sy AS DOUBLE) /
             (sqrt(CAST(n * sxx - sx * sx AS DOUBLE))
               * sqrt(CAST(n * syy - sy * sy AS DOUBLE))), 4)
             AS assortativity
         FROM m CROSS JOIN nn""",
    "q_emd_drift" ->
      """WITH b AS (SELECT epoch_us(ts) AS us,
           CAST(round(value * 10000) AS BIGINT) AS vq FROM events),
         m AS (SELECT (min(us) + max(us)) // 2 AS mid FROM b),
         h AS (SELECT vq, us <= mid AS early FROM b CROSS JOIN m),
         c AS (SELECT vq,
             CAST(sum(CASE WHEN early THEN 1 ELSE 0 END) AS BIGINT) AS c1,
             CAST(sum(CASE WHEN NOT early THEN 1 ELSE 0 END) AS BIGINT) AS c2
           FROM h GROUP BY vq),
         f AS (SELECT vq,
             CAST(sum(c1) OVER (ORDER BY vq ROWS BETWEEN UNBOUNDED
               PRECEDING AND CURRENT ROW) AS BIGINT) AS f1,
             CAST(sum(c2) OVER (ORDER BY vq ROWS BETWEEN UNBOUNDED
               PRECEDING AND CURRENT ROW) AS BIGINT) AS f2,
             lead(vq) OVER (ORDER BY vq) - vq AS dv
           FROM c),
         t AS (SELECT CAST(sum(c1) AS BIGINT) AS n1,
             CAST(sum(c2) AS BIGINT) AS n2 FROM c),
         g AS (SELECT CAST(max(n1) AS BIGINT) AS n_early,
             CAST(max(n2) AS BIGINT) AS n_late,
             CAST(sum(CAST(abs(f1 * n2 - f2 * n1) AS HUGEINT) * dv)
               AS HUGEINT) AS w1h
           FROM f CROSS JOIN t WHERE dv IS NOT NULL)
         SELECT n_early, n_late,
           CAST(w1h AS BIGINT) AS w1_num,
           CAST(w1h * 100 // (n_early * n_late) AS BIGINT) AS w1_micro
         FROM g""",
    "q_shard_balance" ->
      s"""WITH d AS (SELECT doc_id, CAST(len($toks) AS BIGINT) AS tk
           FROM documents),
         r AS (SELECT doc_id, tk,
             row_number() OVER (ORDER BY tk DESC, doc_id) AS rk FROM d),
         a AS (SELECT CAST((rk - 1) % 8 AS INT) AS shard, tk FROM r),
         g AS (SELECT shard, CAST(count(*) AS BIGINT) AS n_docs,
             CAST(sum(tk) AS BIGINT) AS tokens FROM a GROUP BY 1),
         w AS (SELECT *, CAST(sum(tokens) OVER () AS BIGINT) AS tot FROM g),
         i AS (SELECT *, tot // 8 AS ideal FROM w),
         dv AS (SELECT *, abs(tokens - ideal) * 10000 // ideal AS dev_bp
           FROM i)
         SELECT shard, n_docs, tokens, ideal,
           CAST(dev_bp AS BIGINT) AS dev_bp,
           CAST(max(dev_bp) OVER () AS BIGINT) AS max_dev_bp
         FROM dv ORDER BY shard""",
    "q_ks_drift" ->
      """WITH b AS (SELECT epoch_us(ts) AS us,
           CAST(round(value * 10000) AS BIGINT) AS vq FROM events),
         m AS (SELECT (min(us) + max(us)) // 2 AS mid FROM b),
         h AS (SELECT vq, us <= mid AS early FROM b CROSS JOIN m),
         c AS (SELECT vq,
             CAST(sum(CASE WHEN early THEN 1 ELSE 0 END) AS BIGINT) AS c1,
             CAST(sum(CASE WHEN NOT early THEN 1 ELSE 0 END) AS BIGINT) AS c2
           FROM h GROUP BY vq),
         f AS (SELECT vq,
             CAST(sum(c1) OVER (ORDER BY vq ROWS BETWEEN UNBOUNDED PRECEDING
               AND CURRENT ROW) AS BIGINT) AS f1,
             CAST(sum(c2) OVER (ORDER BY vq ROWS BETWEEN UNBOUNDED PRECEDING
               AND CURRENT ROW) AS BIGINT) AS f2
           FROM c),
         t AS (SELECT CAST(sum(c1) AS BIGINT) AS n1,
             CAST(sum(c2) AS BIGINT) AS n2 FROM c),
         g AS (SELECT vq, abs(f1 * n2 - f2 * n1) AS gap, n1, n2
           FROM f CROSS JOIN t),
         g2 AS (SELECT *, max(gap) OVER () AS dmax FROM g),
         a AS (SELECT max(n1) AS n_early, max(n2) AS n_late,
             max(gap) AS d_num,
             min(CASE WHEN gap = dmax THEN vq END) AS at_vq FROM g2),
         z AS (SELECT n_early, n_late, d_num, at_vq,
             CAST(d_num * 10000 // (n_early * n_late) AS BIGINT) AS d_bp,
             CAST(round(13581.0 * sqrt(CAST(n_early + n_late AS DOUBLE)
               / CAST(n_early * n_late AS DOUBLE))) AS BIGINT) AS crit_bp
           FROM a)
         SELECT n_early, n_late, d_num, at_vq, d_bp, crit_bp,
           d_bp >= crit_bp AS drifted FROM z""",
    "q_mann_whitney" ->
      """WITH b AS (SELECT epoch_us(ts) AS us,
           CAST(round(value * 10000) AS BIGINT) AS vq FROM events),
         m AS (SELECT (min(us) + max(us)) // 2 AS mid FROM b),
         h AS (SELECT vq, us <= mid AS early FROM b CROSS JOIN m),
         c AS (SELECT vq, CAST(count(*) AS BIGINT) AS t,
             CAST(sum(CASE WHEN early THEN 1 ELSE 0 END) AS BIGINT) AS t1
           FROM h GROUP BY vq),
         w AS (SELECT vq, t, t1,
             CAST(coalesce(sum(t) OVER (ORDER BY vq ROWS BETWEEN UNBOUNDED
               PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS cb FROM c),
         a AS (SELECT CAST(sum(t1) AS BIGINT) AS n1,
             CAST(sum(t - t1) AS BIGINT) AS n2,
             CAST(sum(t1 * (2 * cb + t + 1)) AS BIGINT) AS r1_x2,
             CAST(sum(t * t * t - t) AS BIGINT) AS tie_term FROM w),
         d AS (SELECT n1, n2, n1 + n2 AS n, r1_x2, tie_term,
             r1_x2 - n1 * (n1 + 1) AS u1_x2 FROM a)
         SELECT n1 AS n_early, n2 AS n_late, r1_x2, u1_x2,
           2 * n1 * n2 - u1_x2 AS u2_x2, tie_term,
           CAST(u1_x2 * 10000 // (2 * n1 * n2) AS BIGINT) AS auc_bp,
           round((CAST(u1_x2 - n1 * n2 AS DOUBLE) / 2.0) /
             sqrt(CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE)
               * (CAST(n + 1 AS DOUBLE) - CAST(tie_term AS DOUBLE)
                 / (CAST(n AS DOUBLE) * CAST(n - 1 AS DOUBLE))) / 12.0), 4)
             AS z
         FROM d""",
    "q_coverage_select" -> coverageSelectSql,
    "q_kcenter_seeds" -> kCenterSql,
    "q_poisson_bootstrap" -> {
      // thresholds computed ONCE driver-side (Events.poissonThresholds)
      // and injected as identical literals into both engines
      val caseChain = operators.Events.poissonThresholds.zipWithIndex
        .map { case (t, k) => s"WHEN u < $t THEN $k" }.mkString(" ")
      s"""WITH base AS (SELECT event_type, event_id,
           CAST(round(value * 10000) AS BIGINT) AS vq FROM events),
         reps AS (SELECT event_type, event_id, vq, rep
           FROM base CROSS JOIN
             (SELECT unnest(generate_series(1, 20)) AS rep)),
         uu AS (SELECT event_type, rep, vq,
             CAST(concat('0x', substring(md5(concat('boot:',
               CAST(event_id AS VARCHAR), ':', CAST(rep AS VARCHAR))),
               1, 15)) AS BIGINT) AS u FROM reps),
         w AS (SELECT event_type, rep, vq,
             CAST(CASE $caseChain ELSE 8 END AS BIGINT) AS w FROM uu),
         rm AS (SELECT event_type, rep,
             CAST(sum(w * vq) // sum(w) AS BIGINT) AS mean_q
           FROM w GROUP BY 1, 2),
         rk AS (SELECT event_type, mean_q, row_number() OVER (
             PARTITION BY event_type ORDER BY mean_q, rep) AS rk FROM rm),
         ci AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n_reps,
             CAST(max(CASE WHEN rk = 2 THEN mean_q END) AS BIGINT)
               AS ci_lo_q,
             CAST(max(CASE WHEN rk = 19 THEN mean_q END) AS BIGINT)
               AS ci_hi_q
           FROM rk GROUP BY 1),
         pt AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n,
             CAST(sum(vq) // count(*) AS BIGINT) AS mean_q
           FROM base GROUP BY 1)
         SELECT event_type, n, mean_q, n_reps, ci_lo_q, ci_hi_q,
           ci_hi_q - ci_lo_q AS ci_width_q
         FROM ci JOIN pt USING (event_type) ORDER BY event_type"""
    },
    "q_dp_counts" ->
      """WITH g AS (SELECT source, CAST(count(*) AS BIGINT) AS n_docs
           FROM documents GROUP BY 1),
         u AS (SELECT source, n_docs,
             3 * CAST(concat('0x', substring(md5(concat('dp:', source)),
               1, 15)) AS BIGINT) AS u3 FROM g),
         th AS (SELECT CAST(k AS BIGINT) AS k,
             CASE WHEN k = 30 THEN 9223372036854775807
               WHEN k < 0 THEN (CAST(1 AS BIGINT) << (61 + k))
               ELSE 3 * (CAST(1 AS BIGINT) << 60)
                 - (CAST(1 AS BIGINT) << (60 - k)) END AS t3
           FROM (SELECT unnest(generate_series(-30, 30)) AS k)),
         j AS (SELECT source, n_docs, CAST(min(k) AS BIGINT) AS noise
           FROM u JOIN th ON u3 < t3 GROUP BY 1, 2)
         SELECT source, n_docs, noise,
           greatest(n_docs + noise, 0) AS released
         FROM j ORDER BY source""",
    "q_neyman_alloc" ->
      """WITH b AS (SELECT event_type,
           CAST(round(value * 10000) AS BIGINT) AS vq FROM events),
         per AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n_h,
             CAST(sum(vq) AS HUGEINT) AS sx,
             CAST(sum(CAST(vq AS HUGEINT) * vq) AS HUGEINT) AS sxx
           FROM b GROUP BY 1),
         sg AS (SELECT event_type, n_h,
             CAST(round(sqrt(CAST(n_h * sxx - sx * sx AS DOUBLE)
               / CAST(n_h * (n_h - 1) AS DOUBLE))) AS BIGINT) AS sigma_q
           FROM per),
         w AS (SELECT *, n_h * sigma_q AS w FROM sg),
         t AS (SELECT *, CAST(sum(w) OVER () AS BIGINT) AS wt,
             CAST(10000 * w // CAST(sum(w) OVER () AS BIGINT) AS BIGINT)
               AS base FROM w),
         d AS (SELECT *,
             10000 - CAST(sum(base) OVER () AS BIGINT) AS deficit,
             CAST(row_number() OVER (ORDER BY (10000 * w) % wt DESC,
               event_type) AS BIGINT) AS rr FROM t)
         SELECT event_type, n_h, sigma_q, w,
           base + (CASE WHEN rr <= deficit THEN 1 ELSE 0 END) AS alloc
         FROM d ORDER BY event_type""",
    "q_burrows_delta" ->
      s"""WITH dt AS (SELECT source, unnest($toks) AS tok FROM documents),
         sl AS (SELECT source, CAST(count(*) AS BIGINT) AS len_s
           FROM dt GROUP BY 1),
         top AS (SELECT tok FROM (SELECT tok,
             CAST(count(*) AS BIGINT) AS c FROM dt GROUP BY tok
             ORDER BY c DESC, tok LIMIT 30)),
         cnt AS (SELECT source, tok, CAST(count(*) AS BIGINT) AS c_st
           FROM dt JOIN top USING (tok) GROUP BY 1, 2),
         f AS (SELECT sl.source, top.tok,
             CAST(coalesce(c_st, 0) * 1000000 // len_s AS BIGINT) AS f_ppm
           FROM sl CROSS JOIN top
           LEFT JOIN cnt ON cnt.source = sl.source AND cnt.tok = top.tok),
         st AS (SELECT tok,
             CAST(round(sqrt(CAST(m_s * sff - sf * sf AS DOUBLE)
               / CAST(m_s * (m_s - 1) AS DOUBLE))) AS BIGINT) AS sigma_ppm
           FROM (SELECT tok, CAST(count(*) AS BIGINT) AS m_s,
               CAST(sum(f_ppm) AS BIGINT) AS sf,
               CAST(sum(f_ppm * f_ppm) AS BIGINT) AS sff FROM f
             GROUP BY tok)),
         st2 AS (SELECT * FROM st WHERE sigma_ppm > 0),
         p AS (SELECT a.source AS s1, b.source AS s2, a.tok,
             CAST(round(abs(a.f_ppm - b.f_ppm)
               / CAST(sigma_ppm AS DOUBLE) * 1e6) AS BIGINT) AS d_u
           FROM f a JOIN f b ON a.tok = b.tok AND a.source < b.source
           JOIN st2 ON st2.tok = a.tok)
         SELECT s1, s2, CAST(count(*) AS BIGINT) AS n_terms,
           CAST(sum(d_u) // count(*) AS BIGINT) AS delta_u
         FROM p GROUP BY 1, 2 ORDER BY s1, s2""",
    "q_markov_stationary" -> markovStationaryOracle(20),
    "q_absorption_steps" -> absorptionStepsOracle("purchase", 25),
    "q_markov_attribution" -> markovAttributionOracle("purchase", 25),
    "q_gtfs_earliest_arrival" -> gtfsEarliestArrivalOracle(4),
    // Same relaxation CTEs as the earliest-arrival oracle; the
    // isochrone is a budget-bucketed rollup of the final labels
    "q_gtfs_isochrone" ->
      s"""WITH ${gtfsEarliestArrivalCtes(4)},
         arr AS (SELECT sp.run_id, lr.best FROM sp LEFT JOIN l4 lr
           ON lr.run_id = sp.run_id AND lr.stop_id = sp.stop_id),
         bud AS (SELECT unnest([900, 1800, 3600]) AS budget_secs)
         SELECT CAST(run_id AS BIGINT) AS run_id,
           CAST(budget_secs AS BIGINT) AS budget_secs,
           CAST(sum(CASE WHEN best IS NOT NULL
             AND best <= ${8 * 3600} + budget_secs
             THEN 1 ELSE 0 END) AS BIGINT) AS n_stops,
           CAST(count(*) AS BIGINT) AS n_total
         FROM arr CROSS JOIN bud GROUP BY 1, 2 ORDER BY 1, 2""",
    "q_gtfs_arrival_profile" -> gtfsArrivalProfileOracle(4),
    "q_gtfs_trip_patterns" ->
      s"""WITH $gtfsValuesCtes,
         pat AS (SELECT run_id, trip_id,
             string_agg(stop_id, '>' ORDER BY arrival_time, stop_id)
               AS pattern,
             CAST(count(*) AS BIGINT) AS n_stops
           FROM st GROUP BY run_id, trip_id)
         SELECT CAST(run_id AS BIGINT) AS run_id, pattern, n_stops,
           CAST(count(*) AS BIGINT) AS n_trips,
           min(trip_id) AS first_trip
         FROM pat GROUP BY run_id, pattern, n_stops
         ORDER BY run_id, pattern""",
    "q_gtfs_headway_cv" ->
      s"""WITH $gtfsArrivalCtes,
         ev AS (SELECT run_id, trip_id, stop_id, service_date,
             CAST(epoch(CAST(service_date AS TIMESTAMP)) AS BIGINT)
               + arrival_time AS tsec
           FROM unioned),
         g AS (SELECT run_id, stop_id, service_date,
             lead(tsec) OVER w - tsec AS gap
           FROM ev WINDOW w AS (PARTITION BY run_id, stop_id, service_date
             ORDER BY tsec, trip_id)),
         a AS (SELECT run_id, stop_id, service_date,
             CAST(count(*) AS BIGINT) AS n_gaps,
             CAST(sum(gap) AS BIGINT) AS gap_sum,
             CAST(sum(gap * gap) AS BIGINT) AS gap_sq_sum
           FROM g WHERE gap IS NOT NULL GROUP BY 1, 2, 3),
         r AS (SELECT *, CAST(gap_sum // n_gaps AS BIGINT)
               AS mean_gap_secs,
             CASE WHEN gap_sum > 0 THEN CAST(round(
               sqrt(CAST(n_gaps * gap_sq_sum - gap_sum * gap_sum
                 AS DOUBLE)) / CAST(gap_sum AS DOUBLE) * 1000) AS BIGINT)
             END AS cv_milli
           FROM a)
         SELECT CAST(run_id AS BIGINT) AS run_id, stop_id, service_date,
           n_gaps, gap_sum, gap_sq_sum, mean_gap_secs, cv_milli,
           coalesce(cv_milli > 500, false) AS irregular
         FROM r ORDER BY run_id, stop_id, service_date""",
    "q_lsh_planner" -> lshPlannerOracle(12, 700L),
    "q_planned_lsh_pairs" -> plannedLshPairsOracle(12, 700L),
    "q_neardup_robustness" ->
      s"""WITH RECURSIVE lsh AS ($minhashPairsCore),
         p AS (SELECT doc_a, doc_b FROM lsh),
         e1 AS (SELECT doc_a AS a, doc_b AS b FROM p
           UNION ALL SELECT doc_b, doc_a FROM p),
         hubs AS (SELECT a AS doc_id FROM (
           SELECT a, count(*) AS d FROM e1 GROUP BY a
           ORDER BY d DESC, a LIMIT 5)),
         p2 AS (SELECT doc_a, doc_b FROM p
           WHERE doc_a NOT IN (SELECT doc_id FROM hubs)
             AND doc_b NOT IN (SELECT doc_id FROM hubs)),
         e2 AS (SELECT doc_a AS a, doc_b AS b FROM p2
           UNION ALL SELECT doc_b, doc_a FROM p2),
         r1(a, r) AS (SELECT a, b FROM e1 UNION SELECT a, a FROM e1
           UNION SELECT e.a, r1.r FROM e1 e JOIN r1 ON e.b = r1.a),
         s1 AS (SELECT canon, CAST(count(*) AS BIGINT) AS sz FROM (
           SELECT a, min(r) AS canon FROM r1 GROUP BY a) GROUP BY canon),
         r2(a, r) AS (SELECT a, b FROM e2 UNION SELECT a, a FROM e2
           UNION SELECT e.a, r2.r FROM e2 e JOIN r2 ON e.b = r2.a),
         s2 AS (SELECT canon, CAST(count(*) AS BIGINT) AS sz FROM (
           SELECT a, min(r) AS canon FROM r2 GROUP BY a) GROUP BY canon),
         a1 AS (SELECT CAST(count(*) AS BIGINT) AS n_cc_before,
             CAST(coalesce(max(sz), 0) AS BIGINT) AS max_cc_before,
             CAST(coalesce(sum(sz), 0) AS BIGINT) AS n_docs_before
           FROM s1),
         a2 AS (SELECT CAST(count(*) AS BIGINT) AS n_cc_after,
             CAST(coalesce(max(sz), 0) AS BIGINT) AS max_cc_after,
             CAST(coalesce(sum(sz), 0) AS BIGINT) AS n_docs_after
           FROM s2)
         SELECT (SELECT CAST(count(*) AS BIGINT) FROM p) AS n_edges_before,
           n_docs_before, n_cc_before, max_cc_before,
           (SELECT CAST(count(*) AS BIGINT) FROM p2) AS n_edges_after,
           n_docs_after, n_cc_after, max_cc_after,
           CASE WHEN max_cc_before > 0 THEN
             CAST((max_cc_before - max_cc_after) * 10000 // max_cc_before
               AS BIGINT) END AS largest_cc_drop_bp
         FROM a1 CROSS JOIN a2""",
    "q_kneser_ney" ->
      s"""WITH docs AS (SELECT doc_id,
           CAST(concat('0x', substring(md5(concat('split:', CAST(doc_id AS VARCHAR))), 1, 15)) AS BIGINT) % 100 AS bucket,
           $toks AS toks FROM documents),
         tg AS (${bigramUnnest("bucket < 80")}),
         cab AS (SELECT g, CAST(count(*) AS BIGINT) AS c_ab,
             split_part(g, ' ', 1) AS a, split_part(g, ' ', 2) AS b
           FROM tg GROUP BY g),
         bya AS (SELECT a, CAST(sum(c_ab) AS BIGINT) AS c_a,
             CAST(count(*) AS BIGINT) AS n1_fwd FROM cab GROUP BY a),
         byb AS (SELECT b, CAST(count(*) AS BIGINT) AS n1_back
           FROM cab GROUP BY b),
         tt AS (SELECT CAST(count(*) AS BIGINT) AS t_types FROM cab),
         ev AS (${bigramUnnest("bucket >= 90")}),
         sc AS (SELECT ev.doc_id,
             greatest(1, CASE WHEN c_a IS NULL
               THEN coalesce(n1_back, 0) * 1000000 // t_types
               ELSE greatest(coalesce(c_ab, 0) * 1000 - 750, 0) * 1000 // c_a
                 + (750 * 1000 * n1_fwd // c_a)
                   * (coalesce(n1_back, 0) * 1000000 // t_types) // 1000000
               END) AS p_ppm
           FROM ev LEFT JOIN cab USING (g)
             LEFT JOIN bya ON split_part(ev.g, ' ', 1) = bya.a
             LEFT JOIN byb ON split_part(ev.g, ' ', 2) = byb.b
             CROSS JOIN tt),
         lp AS (SELECT doc_id,
             CAST(round(-ln(CAST(p_ppm AS DOUBLE) / 1000000.0) * 1000000.0)
               AS BIGINT) AS lp_u
           FROM sc)
         SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
           CAST(sum(lp_u) // count(*) AS BIGINT) AS xent_kn_u
         FROM lp GROUP BY doc_id ORDER BY doc_id""",
    "q_holt_winters" ->
      """WITH RECURSIVE daily AS (SELECT CAST(o_orderdate AS DATE) AS day,
           CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
             AS cents FROM orders GROUP BY 1),
         idx AS (SELECT day, cents,
             CAST(row_number() OVER (ORDER BY day) AS BIGINT) AS i
           FROM daily),
         hw(i, day, cents, l, b, s0, s1, s2, s3, s4, s5, s6,
            season, forecast, err) AS (
           SELECT i, day, cents, cents * 1000000, CAST(0 AS BIGINT),
             CAST(0 AS BIGINT), CAST(0 AS BIGINT), CAST(0 AS BIGINT),
             CAST(0 AS BIGINT), CAST(0 AS BIGINT), CAST(0 AS BIGINT),
             CAST(0 AS BIGINT), CAST(0 AS BIGINT),
             cents * 1000000, CAST(0 AS BIGINT)
           FROM idx WHERE i = 1
           UNION ALL
           SELECT x.i, x.day, x.cents,
             (x.cents * 1000000 - h.s0 + 3 * (h.l + h.b)) // 4,
             ((x.cents * 1000000 - h.s0 + 3 * (h.l + h.b)) // 4
               - h.l + 7 * h.b) // 8,
             h.s1, h.s2, h.s3, h.s4, h.s5, h.s6,
             (x.cents * 1000000
               - ((x.cents * 1000000 - h.s0 + 3 * (h.l + h.b)) // 4)
               + 7 * h.s0) // 8,
             (x.cents * 1000000
               - ((x.cents * 1000000 - h.s0 + 3 * (h.l + h.b)) // 4)
               + 7 * h.s0) // 8,
             h.l + h.b + h.s0,
             x.cents * 1000000 - (h.l + h.b + h.s0)
           FROM hw h JOIN idx x ON x.i = h.i + 1)
         SELECT day, cents, CAST(l AS BIGINT) AS level_u,
           CAST(b AS BIGINT) AS trend_u, CAST(season AS BIGINT)
             AS season_u,
           CAST(forecast AS BIGINT) AS forecast_u,
           CAST(err AS BIGINT) AS err_u
         FROM hw ORDER BY day""",
    "q_mann_kendall" ->
      """WITH daily AS (SELECT CAST(o_orderdate AS DATE) AS day,
           CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
             AS cents FROM orders GROUP BY 1),
         p AS (SELECT CAST(sum(CASE WHEN b.cents > a.cents THEN 1
               WHEN b.cents < a.cents THEN -1 ELSE 0 END) AS BIGINT)
               AS s_stat,
             CAST(count(*) AS BIGINT) AS n_pairs
           FROM daily a JOIN daily b ON a.day < b.day),
         t AS (SELECT CAST(sum(t * (t - 1) * (2 * t + 5)) AS BIGINT)
               AS tie_term,
             CAST(sum(t) AS BIGINT) AS n_days
           FROM (SELECT CAST(count(*) AS BIGINT) AS t FROM daily
             GROUP BY cents))
         SELECT n_days, n_pairs, s_stat, tie_term,
           n_days * (n_days - 1) * (2 * n_days + 5) - tie_term AS var18,
           CASE WHEN n_days * (n_days - 1) * (2 * n_days + 5) - tie_term
               > 0 THEN
             CAST(round((CAST(s_stat AS DOUBLE)
               - sign(CAST(s_stat AS DOUBLE)))
               / sqrt(CAST(n_days * (n_days - 1) * (2 * n_days + 5)
                 - tie_term AS DOUBLE) / 18.0) * 1000) AS BIGINT) END
             AS z_milli
         FROM p CROSS JOIN t""",
    "q_pettitt" ->
      """WITH daily AS (SELECT CAST(o_orderdate AS DATE) AS day,
           CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
             AS cents FROM orders GROUP BY 1),
         v AS (SELECT a.day, CAST(sum(CASE WHEN a.cents > b.cents THEN 1
               WHEN a.cents < b.cents THEN -1 ELSE 0 END) AS BIGINT)
               AS v_t
           FROM daily a CROSS JOIN daily b GROUP BY a.day),
         u AS (SELECT day, CAST(sum(v_t) OVER (ORDER BY day ROWS BETWEEN
               UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS u_t,
             CAST(count(*) OVER () AS BIGINT) AS n_days FROM v),
         top AS (SELECT * FROM u ORDER BY abs(u_t) DESC, day LIMIT 1)
         SELECT day AS change_day, abs(u_t) AS k_stat,
           u_t AS u_at_change, n_days,
           CAST(round(2.0 * exp(-6.0 * CAST(u_t * u_t AS DOUBLE)
             / CAST(n_days * n_days * n_days + n_days * n_days AS DOUBLE))
             * 1000) AS BIGINT) AS p_approx_milli
         FROM top""",
    "q_did_orders" ->
      """WITH o AS (SELECT (c_mktsegment = 'BUILDING') AS treated,
           CAST(o_orderdate AS DATE) AS day,
           CAST(round(o_totalprice * 100) AS BIGINT) AS cents
           FROM orders JOIN customer ON c_custkey = o_custkey),
         b AS (SELECT min(day) AS d0, max(day) AS d1 FROM o),
         b2 AS (SELECT d0, d1,
             d0 + CAST(datediff('day', d0, d1) // 2 AS INT) AS mid
           FROM b),
         b3 AS (SELECT *,
             d0 + CAST(datediff('day', d0, mid) // 2 AS INT) AS pre_mid
           FROM b2),
         cells_a AS (SELECT treated, day > mid AS post,
             CAST(count(*) AS BIGINT) AS n,
             CAST(sum(cents) // count(*) AS BIGINT) AS mean_cents
           FROM o, b3 WHERE day >= d0 AND day <= d1 GROUP BY 1, 2),
         row_a AS (SELECT 'actual' AS design,
             CAST(sum(n) AS BIGINT) AS n_orders,
             CAST(sum(CASE WHEN treated AND NOT post THEN mean_cents END)
               AS BIGINT) AS t_pre,
             CAST(sum(CASE WHEN treated AND post THEN mean_cents END)
               AS BIGINT) AS t_post,
             CAST(sum(CASE WHEN NOT treated AND NOT post THEN mean_cents
               END) AS BIGINT) AS c_pre,
             CAST(sum(CASE WHEN NOT treated AND post THEN mean_cents END)
               AS BIGINT) AS c_post
           FROM cells_a),
         cells_p AS (SELECT treated, day > pre_mid AS post,
             CAST(count(*) AS BIGINT) AS n,
             CAST(sum(cents) // count(*) AS BIGINT) AS mean_cents
           FROM o, b3 WHERE day >= d0 AND day <= mid GROUP BY 1, 2),
         row_p AS (SELECT 'placebo_pre_only' AS design,
             CAST(sum(n) AS BIGINT) AS n_orders,
             CAST(sum(CASE WHEN treated AND NOT post THEN mean_cents END)
               AS BIGINT) AS t_pre,
             CAST(sum(CASE WHEN treated AND post THEN mean_cents END)
               AS BIGINT) AS t_post,
             CAST(sum(CASE WHEN NOT treated AND NOT post THEN mean_cents
               END) AS BIGINT) AS c_pre,
             CAST(sum(CASE WHEN NOT treated AND post THEN mean_cents END)
               AS BIGINT) AS c_post
           FROM cells_p)
         SELECT design, n_orders, t_pre, t_post, c_pre, c_post,
           (t_post - t_pre) - (c_post - c_pre) AS did_cents
         FROM (SELECT * FROM row_a UNION ALL SELECT * FROM row_p)
         ORDER BY design""",
    "q_fisher_index" ->
      """WITH li AS (SELECT l_partkey, year(o_orderdate) AS yr,
           CAST(round(l_extendedprice * 100) AS BIGINT) AS rev_cents,
           CAST(round(l_quantity) AS BIGINT) AS qty
           FROM lineitem JOIN orders ON o_orderkey = l_orderkey),
         y AS (SELECT min(yr) AS y0, max(yr) AS y1 FROM li),
         base AS (SELECT l_partkey,
             CAST(sum(rev_cents) * 10 // sum(qty) AS BIGINT) AS p0,
             CAST(sum(qty) AS BIGINT) AS q0
           FROM li, y WHERE yr = y0 GROUP BY l_partkey
           HAVING sum(qty) > 0),
         cur AS (SELECT l_partkey,
             CAST(sum(rev_cents) * 10 // sum(qty) AS BIGINT) AS p1,
             CAST(sum(qty) AS BIGINT) AS q1
           FROM li, y WHERE yr = y1 GROUP BY l_partkey
           HAVING sum(qty) > 0),
         a AS (SELECT CAST(count(*) AS BIGINT) AS n_parts_matched,
             CAST(sum(CAST(p1 AS HUGEINT) * q0) AS HUGEINT) AS l_num,
             CAST(sum(CAST(p0 AS HUGEINT) * q0) AS HUGEINT) AS l_den,
             CAST(sum(CAST(p1 AS HUGEINT) * q1) AS HUGEINT) AS p_num,
             CAST(sum(CAST(p0 AS HUGEINT) * q1) AS HUGEINT) AS p_den
           FROM base JOIN cur USING (l_partkey)),
         r AS (SELECT n_parts_matched,
             CAST(l_num * 10000 // l_den AS BIGINT) AS laspeyres_bp,
             CAST(p_num * 10000 // p_den AS BIGINT) AS paasche_bp
           FROM a)
         SELECT *, CAST(round(sqrt(CAST(laspeyres_bp * paasche_bp
           AS DOUBLE))) AS BIGINT) AS fisher_bp
         FROM r""",
    "q_abc_classification" ->
      """WITH pp AS (SELECT l_partkey,
           CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT))
             AS BIGINT) AS rev
           FROM lineitem GROUP BY 1),
         c AS (SELECT *,
             CAST(coalesce(sum(rev) OVER (ORDER BY rev DESC, l_partkey
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) + rev
               AS BIGINT) AS cum,
             CAST(sum(rev) OVER () AS BIGINT) AS total
           FROM pp)
         SELECT CASE WHEN cum * 10 <= total * 7 THEN 'A'
             WHEN cum * 10 <= total * 9 THEN 'B' ELSE 'C' END AS abc_class,
           CAST(count(*) AS BIGINT) AS n_parts,
           CAST(sum(rev) AS BIGINT) AS revenue_cents,
           CAST(sum(rev) * 10000 // max(total) AS BIGINT) AS share_bp
         FROM c GROUP BY 1 ORDER BY 1""",
    "q_region_nation_share" ->
      """WITH nat AS (SELECT r_name, n_name,
           CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
             AS cents,
           CAST(count(*) AS BIGINT) AS n_orders
           FROM orders
             JOIN customer ON c_custkey = o_custkey
             JOIN nation ON n_nationkey = c_nationkey
             JOIN region ON r_regionkey = n_regionkey
           GROUP BY 1, 2),
         reg AS (SELECT r_name, CAST(sum(cents) AS BIGINT) AS r_cents
           FROM nat GROUP BY 1),
         tot AS (SELECT CAST(sum(cents) AS BIGINT) AS t_cents FROM nat)
         SELECT n.r_name, n.n_name, n.n_orders, n.cents,
           CAST(n.cents * 10000 // r.r_cents AS BIGINT)
             AS share_of_region_bp,
           CAST(n.cents * 10000 // t.t_cents AS BIGINT)
             AS share_of_total_bp
         FROM nat n JOIN reg r USING (r_name) CROSS JOIN tot t
         ORDER BY n.r_name, n.n_name""",
    "q_largest_remainder" ->
      """WITH srcs AS (SELECT source, CAST(count(*) AS BIGINT) AS n_docs
           FROM documents GROUP BY 1),
         t AS (SELECT *, CAST(sum(n_docs) OVER () AS BIGINT) AS n_total
           FROM srcs),
         q AS (SELECT *, CAST(1000 * n_docs // n_total AS BIGINT) AS base,
             CAST((1000 * n_docs) % n_total AS BIGINT) AS rem
           FROM t),
         l AS (SELECT *, 1000 - CAST(sum(base) OVER () AS BIGINT)
             AS leftover,
             CAST(row_number() OVER (ORDER BY rem DESC, source) AS BIGINT)
               AS rrank
           FROM q)
         SELECT source, n_docs, base, rem, rrank,
           CAST(base + CASE WHEN rrank <= leftover THEN 1 ELSE 0 END
             AS BIGINT) AS alloc,
           CAST((base + CASE WHEN rrank <= leftover THEN 1 ELSE 0 END)
             * 1000000 // 1000 AS BIGINT) AS alloc_ppm,
           CAST(n_docs * 1000000 // n_total AS BIGINT) AS mass_ppm
         FROM l ORDER BY source""",
    "q_readability" ->
      s"""WITH d AS (SELECT doc_id, text, $toks AS toks FROM documents),
         syl AS (SELECT doc_id, CAST(sum(greatest(1,
             len(regexp_extract_all(tok, '[aeiouy]+')))) AS BIGINT)
               AS n_syllables
           FROM (SELECT doc_id, unnest(toks) AS tok FROM d) GROUP BY 1),
         base AS (SELECT doc_id,
             CAST(len(toks) AS BIGINT) AS n_words,
             CAST(greatest(1, len(regexp_extract_all(text, '[.!?]+')))
               AS BIGINT) AS n_sentences
           FROM d WHERE len(toks) > 0),
         f AS (SELECT b.doc_id, n_words, n_sentences, n_syllables,
             CAST(round((206.835
               - 1.015 * (CAST(n_words AS DOUBLE) / CAST(n_sentences AS DOUBLE))
               - 84.6 * (CAST(n_syllables AS DOUBLE) / CAST(n_words AS DOUBLE)))
               * 1000) AS BIGINT) AS flesch_milli
           FROM base b JOIN syl USING (doc_id))
         SELECT doc_id, n_words, n_sentences, n_syllables, flesch_milli,
           CASE WHEN flesch_milli >= 90000 THEN 'very_easy'
             WHEN flesch_milli >= 70000 THEN 'easy'
             WHEN flesch_milli >= 50000 THEN 'medium'
             WHEN flesch_milli >= 30000 THEN 'hard'
             ELSE 'very_hard' END AS band
         FROM f ORDER BY doc_id""",
    "q_brier_decomposition" ->
      s"""WITH $lrBaseCtes,
         scored AS (SELECT y, p, CAST(round(p * 1000000.0) AS BIGINT) AS p_u
           FROM (SELECT y, $lrP AS p FROM feats CROSS JOIN w5)),
         b AS (SELECT CAST(least(p_u * 10 // 1000000, 9) AS INT) AS bin,
             y, p, p_u FROM scored),
         bins AS (SELECT bin, CAST(count(*) AS BIGINT) AS n_docs,
             CAST(sum(p_u) // count(*) AS BIGINT) AS mean_p_u,
             CAST(CAST(round(sum(y)) AS BIGINT) * 1000000 // count(*)
               AS BIGINT) AS pos_rate_u,
             CAST(sum(CAST(round((p - y) * (p - y) * 1000000.0) AS BIGINT))
               AS BIGINT) AS brier_su
           FROM b GROUP BY bin),
         t AS (SELECT *, CAST(sum(n_docs) OVER () AS BIGINT) AS n_total,
             CAST(sum(pos_rate_u * n_docs) OVER () AS BIGINT) AS ysum
           FROM bins),
         t2 AS (SELECT *, CAST(ysum // n_total AS BIGINT) AS ybar_u FROM t),
         a AS (SELECT max(n_total) AS n_docs, max(ybar_u) AS ybar_u,
             CAST(sum(brier_su) AS BIGINT) AS brier_s,
             CAST(sum(CAST(mean_p_u - pos_rate_u AS HUGEINT)
               * (mean_p_u - pos_rate_u) * n_docs) AS HUGEINT) AS rel_num,
             CAST(sum(CAST(pos_rate_u - ybar_u AS HUGEINT)
               * (pos_rate_u - ybar_u) * n_docs) AS HUGEINT) AS res_num
           FROM t2),
         r AS (SELECT n_docs, ybar_u,
             CAST(brier_s // n_docs AS BIGINT) AS brier_u,
             CAST(rel_num // (CAST(n_docs AS HUGEINT) * 1000000)
               AS BIGINT) AS reliability_u,
             CAST(res_num // (CAST(n_docs AS HUGEINT) * 1000000)
               AS BIGINT) AS resolution_u,
             CAST(ybar_u * (1000000 - ybar_u) // 1000000 AS BIGINT)
               AS uncertainty_u
           FROM a)
         SELECT *, brier_u - (reliability_u - resolution_u + uncertainty_u)
           AS decomp_gap_u
         FROM r""",
    "q_label_centroid_shift" ->
      """WITH x AS (SELECT label, d, CAST(round(x * 1000000.0) AS BIGINT)
             AS xu
           FROM (SELECT label, unnest(generate_series(1, len(v))) AS d,
               unnest(v) AS x
             FROM (SELECT label, CAST(embedding AS DOUBLE[]) AS v
               FROM embeddings))),
         bl AS (SELECT label, d, CAST(sum(xu) AS BIGINT) AS sx,
             CAST(count(*) AS BIGINT) AS n
           FROM x GROUP BY 1, 2),
         g AS (SELECT d, CAST(sum(sx) AS BIGINT) AS gx,
             CAST(sum(n) AS BIGINT) AS gn FROM bl GROUP BY 1),
         j AS (SELECT label, n, (sx // n) - (gx // gn) AS dd
           FROM bl JOIN g USING (d))
         SELECT label, max(n) AS n_vecs,
           CAST(sum(dd * dd) AS BIGINT) AS dist_sq_u2,
           CAST(floor(sqrt(CAST(sum(dd * dd) AS DOUBLE))) AS BIGINT)
             AS shift_u
         FROM j GROUP BY label ORDER BY label""",
    "q_negative_sampling" ->
      s"""WITH f AS (SELECT tok, CAST(count(*) AS BIGINT) AS freq
           FROM (SELECT unnest($toks) AS tok FROM documents) GROUP BY tok
           ORDER BY freq DESC, tok LIMIT 100),
         wts AS (SELECT tok, freq,
             CAST(floor(sqrt(sqrt(CAST(freq * freq * freq AS DOUBLE)))
               * 1000) AS BIGINT) AS w
           FROM f),
         rng AS (SELECT tok, freq, w,
             CAST(sum(w) OVER (ORDER BY freq DESC, tok ROWS BETWEEN
               UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS hi,
             CAST(sum(w) OVER () AS BIGINT) AS w_tot
           FROM wts),
         rng2 AS (SELECT tok, freq, w, hi - w AS lo, hi, w_tot FROM rng),
         draws AS (SELECT CAST(concat('0x',
             substring(md5(concat('neg:', CAST(i AS VARCHAR))), 1, 15))
             AS BIGINT) % w_tot AS u
           FROM generate_series(0, 1999) t(i)
             CROSS JOIN (SELECT DISTINCT w_tot FROM rng2)),
         dr AS (SELECT tok, CAST(count(*) AS BIGINT) AS n_drawn
           FROM draws JOIN rng2 ON u >= lo AND u < hi GROUP BY tok)
         SELECT r.tok, r.freq, r.w AS w_u,
           CAST(r.w * 1000000 // r.w_tot AS BIGINT) AS exp_ppm,
           CAST(coalesce(dr.n_drawn, 0) AS BIGINT) AS n_drawn,
           CAST(coalesce(dr.n_drawn, 0) * 1000000 // 2000 AS BIGINT)
             AS drawn_ppm
         FROM rng2 r LEFT JOIN dr USING (tok)
         ORDER BY r.freq DESC, r.tok""",
    "q_fdr_bh" ->
      """WITH c0 AS (SELECT c_nationkey, CAST(o_orderdate AS DATE) AS day,
           CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
             AS cents
           FROM orders JOIN customer ON c_custkey = o_custkey
           GROUP BY 1, 2),
         cells AS MATERIALIZED (SELECT c_nationkey, cents,
             concat(lpad(CAST(c_nationkey AS VARCHAR), 4, '0'), ':',
               CAST(day AS VARCHAR)) AS cell_key
           FROM c0),
         tt AS (SELECT CAST(count(*) AS BIGINT) AS n_cells,
             CAST(sum(cents) AS BIGINT) AS s_all FROM cells),
         vals AS (SELECT CAST(row_number() OVER (ORDER BY cell_key)
             AS BIGINT) AS rb, cents AS pcents FROM cells),
         ps AS (SELECT unnest(generate_series(0, 64)) AS p),
         px AS (SELECT p, c_nationkey,
             CASE WHEN p = 0 THEN cell_key
               ELSE md5(concat('fdr:', CAST(p AS VARCHAR), ':', cell_key))
             END AS ok
           FROM cells CROSS JOIN ps),
         pr AS (SELECT p, c_nationkey,
             CAST(row_number() OVER (PARTITION BY p ORDER BY ok) AS BIGINT)
               AS rp
           FROM px),
         pj AS (SELECT p, c_nationkey, CAST(sum(pcents) AS BIGINT) AS s_n,
             CAST(count(*) AS BIGINT) AS c_n
           FROM pr JOIN vals ON rp = rb GROUP BY 1, 2),
         ts AS (SELECT p, c_nationkey, c_n,
             abs(CAST(s_n AS HUGEINT) * n_cells
               - CAST(s_all AS HUGEINT) * c_n) AS t_stat
           FROM pj CROSS JOIN tt),
         ob AS (SELECT c_nationkey, c_n AS n_days, t_stat AS t_obs
           FROM ts WHERE p = 0),
         pv AS (SELECT t.c_nationkey, max(o.n_days) AS n_days,
             max(o.t_obs) AS t_obs,
             CAST(sum(CASE WHEN t.t_stat >= o.t_obs THEN 1 ELSE 0 END)
               AS BIGINT) AS n_ge
           FROM ts t JOIN ob o USING (c_nationkey)
           WHERE t.p >= 1 GROUP BY 1),
         pm AS (SELECT c_nationkey, n_days, t_obs, n_ge,
             CAST((1 + n_ge) * 1000 // 65 AS BIGINT) AS p_milli FROM pv),
         bh AS (SELECT *, CAST(count(*) OVER () AS BIGINT) AS m,
             CAST(row_number() OVER (ORDER BY p_milli, c_nationkey)
               AS BIGINT) AS rk
           FROM pm),
         bh2 AS (SELECT *, CAST(max(CASE WHEN p_milli * m <= rk * 100
             THEN rk ELSE 0 END) OVER () AS BIGINT) AS k_star FROM bh)
         SELECT c_nationkey, n_days, CAST(t_obs AS BIGINT) AS t_obs, n_ge,
           p_milli, rk, k_star, rk <= k_star AS rejected
         FROM bh2 ORDER BY c_nationkey""",
    "q_price_elasticity" ->
      """WITH p AS (SELECT p_partkey, p_brand,
           CAST(round(p_retailprice * 100) AS BIGINT) AS price_cents
           FROM part),
         q AS (SELECT l_partkey AS p_partkey,
             CAST(round(sum(l_quantity)) AS BIGINT) AS qty
           FROM lineitem GROUP BY 1),
         u AS (SELECT p_brand,
             CAST(round(ln(CAST(price_cents AS DOUBLE)) * 1e6) AS BIGINT)
               AS x_u,
             CAST(round(ln(CAST(qty AS DOUBLE)) * 1e6) AS BIGINT) AS y_u
           FROM q JOIN p USING (p_partkey)),
         m AS (SELECT p_brand, CAST(count(*) AS HUGEINT) AS n,
             CAST(sum(x_u) AS HUGEINT) AS sx,
             CAST(sum(y_u) AS HUGEINT) AS sy,
             CAST(sum(CAST(x_u AS HUGEINT) * y_u) AS HUGEINT) AS sxy,
             CAST(sum(CAST(x_u AS HUGEINT) * x_u) AS HUGEINT) AS sxx
           FROM u GROUP BY 1)
         SELECT p_brand, CAST(n AS BIGINT) AS n_parts,
           round(CAST(n * sxy - sx * sy AS DOUBLE) /
             CAST(n * sxx - sx * sx AS DOUBLE), 4) AS elasticity
         FROM m ORDER BY p_brand""",
    "q_cusum_arl" ->
      """WITH daily AS (SELECT CAST(o_orderdate AS DATE) AS day,
           CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
             AS cents FROM orders GROUP BY 1),
         dsg AS (SELECT mu, mu // 20 AS slack, mu // 4 AS h FROM
           (SELECT CAST(sum(cents) // count(*) AS BIGINT) AS mu
            FROM daily)),
         ps AS (SELECT unnest(generate_series(0, 64)) AS p),
         px AS (SELECT p, day, cents, mu, slack, h,
             CASE WHEN p = 0 THEN CAST(day AS VARCHAR)
               ELSE md5(concat('arl:', CAST(p AS VARCHAR), ':',
                 CAST(day AS VARCHAR))) END AS ok
           FROM daily CROSS JOIN ps CROSS JOIN dsg),
         wk AS (SELECT p, h,
             CAST(row_number() OVER wp AS BIGINT) AS t,
             CAST(sum(cents - mu - slack) OVER wc AS BIGINT) AS p_hi,
             CAST(sum(cents - mu + slack) OVER wc AS BIGINT) AS p_lo
           FROM px WINDOW wp AS (PARTITION BY p ORDER BY ok),
             wc AS (PARTITION BY p ORDER BY ok ROWS BETWEEN UNBOUNDED
               PRECEDING AND CURRENT ROW)),
         s2 AS (SELECT p, t, h,
             p_hi - least(min(p_hi) OVER w2, 0) AS s_hi,
             greatest(max(p_lo) OVER w2, 0) - p_lo AS s_lo
           FROM wk WINDOW w2 AS (PARTITION BY p ORDER BY t ROWS BETWEEN
             UNBOUNDED PRECEDING AND CURRENT ROW))
         SELECT CAST(p AS BIGINT) AS p,
           CAST(count(*) AS BIGINT) AS n_days,
           min(CASE WHEN s_hi >= h THEN t END) AS first_hi_t,
           min(CASE WHEN s_lo >= h THEN t END) AS first_lo_t
         FROM s2 GROUP BY p ORDER BY p""",
    "q_dominant_period" -> dominantPeriodOracle(30),
    "q_haar_energy" -> haarEnergyOracle(10),
    "q_holt_linear" ->
      """WITH RECURSIVE daily AS (SELECT CAST(o_orderdate AS DATE) AS day,
           CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
             AS cents FROM orders GROUP BY 1),
         idx AS (SELECT day, cents,
             CAST(row_number() OVER (ORDER BY day) AS BIGINT) AS i
           FROM daily),
         hw(i, day, cents, l, b, forecast, err) AS (
           SELECT i, day, cents, cents * 1000000, CAST(0 AS BIGINT),
             cents * 1000000, CAST(0 AS BIGINT)
           FROM idx WHERE i = 1
           UNION ALL
           SELECT x.i, x.day, x.cents,
             (x.cents * 1000000 + 3 * (h.l + h.b)) // 4,
             ((x.cents * 1000000 + 3 * (h.l + h.b)) // 4 - h.l
               + 7 * h.b) // 8,
             h.l + h.b,
             x.cents * 1000000 - (h.l + h.b)
           FROM hw h JOIN idx x ON x.i = h.i + 1)
         SELECT day, cents, CAST(l AS BIGINT) AS level_u,
           CAST(b AS BIGINT) AS trend_u,
           CAST(forecast AS BIGINT) AS forecast_u,
           CAST(err AS BIGINT) AS err_u
         FROM hw ORDER BY day""",
    "q_t_closeness" ->
      """WITH b AS (SELECT c_nationkey, c_mktsegment,
           CASE WHEN c_acctbal < 0 THEN 0 WHEN c_acctbal < 5000 THEN 1
             ELSE 2 END AS band
           FROM customer),
         g AS (SELECT band, CAST(count(*) AS BIGINT) AS g FROM b
           GROUP BY band),
         t AS (SELECT CAST(count(*) AS BIGINT) AS n_tot FROM b),
         cl AS (SELECT c_nationkey, c_mktsegment, band,
             CAST(count(*) AS BIGINT) AS c
           FROM b GROUP BY 1, 2, 3),
         keys AS (SELECT DISTINCT c_nationkey, c_mktsegment FROM cl),
         grid AS (SELECT k.c_nationkey, k.c_mktsegment, g.band, g.g,
             CAST(coalesce(cl.c, 0) AS BIGINT) AS c, t.n_tot
           FROM keys k CROSS JOIN g CROSS JOIN t
             LEFT JOIN cl ON cl.c_nationkey = k.c_nationkey
               AND cl.c_mktsegment = k.c_mktsegment AND cl.band = g.band),
         w AS (SELECT *,
             CAST(sum(c) OVER (PARTITION BY c_nationkey, c_mktsegment)
               AS BIGINT) AS n_class,
             CAST(sum(c) OVER (PARTITION BY c_nationkey, c_mktsegment
               ORDER BY band) AS BIGINT) AS cum_c,
             CAST(sum(g) OVER (PARTITION BY c_nationkey, c_mktsegment
               ORDER BY band) AS BIGINT) AS cum_g
           FROM grid),
         a AS (SELECT c_nationkey, c_mktsegment,
             max(n_class) AS class_size, max(n_tot) AS n_tot,
             CAST(sum(abs(cum_c * n_tot - cum_g * n_class)) AS BIGINT)
               AS gap_sum
           FROM w GROUP BY 1, 2)
         SELECT c_nationkey, c_mktsegment, class_size,
           CAST(CAST(gap_sum AS HUGEINT) * 10000
             // (class_size * n_tot * 2) AS BIGINT) AS t_bp,
           CAST(CAST(gap_sum AS HUGEINT) * 10000
             // (class_size * n_tot * 2) AS BIGINT) > 2000 AS t_risky
         FROM a ORDER BY c_nationkey, c_mktsegment""",
    "q_dedup_survivorship" -> dedupSurvivorshipOracle,
    "q_dedup_design_report" -> dedupDesignReportOracle,
    "q_rho_learnability" -> rhoLearnabilityOracle(5000L, 100),
    "q_doremi_step" ->
      s"""WITH $surprisalPerDocCtes,
         d AS (SELECT pd2.doc_id, xent_u, source
           FROM pd2 JOIN documents USING (doc_id)),
         per AS (SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
             CAST(sum(xent_u) AS BIGINT) AS sx
           FROM d GROUP BY source),
         t AS (SELECT CAST(sum(n_docs) AS BIGINT) AS n_tot,
             CAST(sum(sx) AS BIGINT) AS sx_tot FROM per),
         e AS (SELECT source, n_docs, n_tot,
             sx // n_docs AS mean_xent_u,
             greatest(sx // n_docs - sx_tot // n_tot, 0) AS excess_u
           FROM per CROSS JOIN t),
         x AS (SELECT *, CAST(round(exp(CAST(excess_u AS DOUBLE) / 1e6)
             * 1e6) AS BIGINT) AS exp_u FROM e),
         u AS (SELECT *, n_docs * exp_u AS u_i FROM x)
         SELECT source, n_docs,
           CAST(n_docs * 10000 // n_tot AS BIGINT) AS base_share_bp,
           CAST(mean_xent_u AS BIGINT) AS mean_xent_u,
           CAST(excess_u AS BIGINT) AS excess_u, exp_u,
           CAST(CAST(u_i AS HUGEINT) * 1000000
             // (SELECT sum(u_i) FROM u) AS BIGINT) AS weight_ppm
         FROM u ORDER BY source""",
    "q_ngram_novelty" ->
      s"""WITH docs AS (SELECT doc_id, $toks AS toks FROM documents),
         sh AS (SELECT DISTINCT doc_id, sh FROM (
           SELECT doc_id, unnest(list_transform(
               generate_series(1, len(toks) - 2),
               i -> array_to_string(toks[i:i+2], ' '))) AS sh
           FROM docs WHERE len(toks) >= 3)),
         f AS (SELECT sh, min(doc_id) AS fd FROM sh GROUP BY sh),
         p AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_shingles,
             CAST(sum(CASE WHEN fd = doc_id THEN 1 ELSE 0 END)
               AS BIGINT) AS n_novel
           FROM sh JOIN f USING (sh) GROUP BY doc_id)
         SELECT doc_id, n_shingles, n_novel,
           CAST(n_novel * 10000 // n_shingles AS BIGINT) AS novelty_bp
         FROM p ORDER BY doc_id""",
    "q_sprt_monitor" ->
      """WITH daily AS (SELECT CAST(ts AS DATE) AS day,
           CAST(count(*) AS BIGINT) AS trials,
           CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
             AS BIGINT) AS successes
           FROM events GROUP BY 1),
         pl AS (SELECT CAST(sum(successes) * 10000 // sum(trials)
             AS BIGINT) AS p0_bp FROM daily),
         p2 AS (SELECT p0_bp, CAST(p0_bp * 11 // 10 AS BIGINT) AS p1_bp
           FROM pl),
         lt AS (SELECT *,
             CASE WHEN p0_bp > 0 AND p1_bp < 10000 THEN
               CAST(round(ln(CAST(p1_bp AS DOUBLE) / p0_bp) * 1e6)
                 AS BIGINT) END AS lw_u,
             CASE WHEN p0_bp > 0 AND p1_bp < 10000 THEN
               CAST(round(ln(CAST(10000 - p1_bp AS DOUBLE)
                 / (10000 - p0_bp)) * 1e6) AS BIGINT) END AS ll_u
           FROM p2),
         wk AS (SELECT day, trials, successes, p0_bp, p1_bp,
             successes * lw_u + (trials - successes) * ll_u AS llr_day_u
           FROM daily CROSS JOIN lt)
         SELECT day, trials, successes, p0_bp, p1_bp,
           CAST(llr_day_u AS BIGINT) AS llr_day_u,
           CAST(sum(llr_day_u) OVER (ORDER BY day ROWS BETWEEN UNBOUNDED
             PRECEDING AND CURRENT ROW) AS BIGINT) AS llr_cum_u,
           CASE WHEN sum(llr_day_u) OVER (ORDER BY day ROWS BETWEEN
               UNBOUNDED PRECEDING AND CURRENT ROW) IS NULL
               THEN 'degenerate'
             WHEN sum(llr_day_u) OVER (ORDER BY day ROWS BETWEEN
               UNBOUNDED PRECEDING AND CURRENT ROW) >= 2944439 THEN 'h1'
             WHEN sum(llr_day_u) OVER (ORDER BY day ROWS BETWEEN
               UNBOUNDED PRECEDING AND CURRENT ROW) <= -2944439 THEN 'h0'
             ELSE 'continue' END AS state
         FROM wk ORDER BY day""",
    "q_skyline_docs" ->
      s"""WITH docs AS (SELECT doc_id, $toks AS toks FROM documents),
         sh AS (SELECT DISTINCT doc_id, sh FROM (
           SELECT doc_id, unnest(list_transform(
               generate_series(1, len(toks) - 2),
               i -> array_to_string(toks[i:i+2], ' '))) AS sh
           FROM docs WHERE len(toks) >= 3)),
         f AS (SELECT sh, min(doc_id) AS fd FROM sh GROUP BY sh),
         nv AS (SELECT doc_id,
             CAST(sum(CASE WHEN fd = doc_id THEN 1 ELSE 0 END) * 10000
               // count(*) AS BIGINT) AS novelty_bp
           FROM sh JOIN f USING (sh) GROUP BY doc_id),
         pts AS (SELECT d.doc_id,
             CAST(round($qualityExpr * 10000) AS BIGINT) AS qu,
             nv.novelty_bp
           FROM documents d JOIN nv ON nv.doc_id = d.doc_id)
         SELECT p.doc_id, p.qu, p.novelty_bp
         FROM pts p WHERE NOT EXISTS (
           SELECT 1 FROM pts q
           WHERE q.qu >= p.qu AND q.novelty_bp >= p.novelty_bp
             AND (q.qu > p.qu OR q.novelty_bp > p.novelty_bp))
         ORDER BY p.doc_id""",
    "q_gtfs_arrivals" ->
      s"""WITH $gtfsArrivalCtes
         SELECT strftime(CAST(service_date AS TIMESTAMP)
             + arrival_time * INTERVAL 1 SECOND,
             '%Y-%m-%d %H:%M:%S.%f') || '0' AS event_time,
           stop_name, stop_lat, stop_lon, CAST(run_id AS BIGINT)
             AS run_id, service_id, trip_id, stop_id, service_date
         FROM unioned""",
    "q_gtfs_frequencies" ->
      s"""WITH $gtfsValuesCtes,
         fr(run_id, trip_id, fs, fe, hw) AS (VALUES
             (1, 'T2', 36000, 39600, 1200)),
         fq AS (SELECT * FROM fr WHERE hw > 0 AND fe > fs),
         fk AS (SELECT DISTINCT run_id, trip_id FROM fq),
         base AS (SELECT run_id, trip_id,
             min(departure_time) AS trip_base
           FROM st JOIN fk USING (run_id, trip_id)
           GROUP BY run_id, trip_id),
         starts AS (SELECT run_id, trip_id,
             unnest(generate_series(fs, fe - 1, hw)) AS tss FROM fq),
         inst AS (SELECT st.run_id, st.trip_id, st.stop_id,
             CAST(tss AS BIGINT) AS trip_start_secs,
             CAST(tss + (st.arrival_time - trip_base) AS BIGINT)
               AS arrival_time,
             CAST(tss + (st.departure_time - trip_base) AS BIGINT)
               AS departure_time
           FROM st JOIN starts USING (run_id, trip_id)
             JOIN base USING (run_id, trip_id)),
         pass AS (SELECT st.run_id, st.trip_id, st.stop_id,
             CAST(NULL AS BIGINT) AS trip_start_secs,
             CAST(arrival_time AS BIGINT) AS arrival_time,
             CAST(departure_time AS BIGINT) AS departure_time
           FROM st WHERE NOT EXISTS (SELECT 1 FROM fk
             WHERE fk.run_id = st.run_id AND fk.trip_id = st.trip_id))
         SELECT CAST(run_id AS BIGINT) AS run_id, trip_id, stop_id,
           trip_start_secs, arrival_time, departure_time
         FROM (SELECT * FROM pass UNION ALL SELECT * FROM inst)""",
    "q_gtfs_connections" ->
      s"""WITH $gtfsArrivalCtes,
         ev AS (SELECT run_id, trip_id, stop_id,
             CAST(service_date AS TIMESTAMP)
               + arrival_time * INTERVAL 1 SECOND AS ts
           FROM unioned),
         tx(run_id, from_stop_id, to_stop_id, transfer_type,
             min_transfer_time) AS (VALUES
             (1, 'S1', 'S2', 2, 300), (1, 'S2', 'S1', 0, NULL),
             (1, 'S1', 'S3', 3, 0)),
         edges AS (SELECT run_id, from_stop_id, to_stop_id,
             CAST(CASE WHEN transfer_type = 2
               THEN coalesce(min_transfer_time, 0) ELSE 0 END AS BIGINT)
               AS min_xfer
           FROM tx WHERE coalesce(transfer_type, 0) <> 3),
         cand AS (SELECT a.run_id, a.trip_id AS from_trip,
             a.stop_id AS from_stop_id, a.ts AS arr_ts,
             b.trip_id AS to_trip, b.stop_id AS to_stop_id,
             b.ts AS dep_ts, e.min_xfer
           FROM ev a JOIN edges e ON e.run_id = a.run_id
               AND e.from_stop_id = a.stop_id
             JOIN ev b ON b.run_id = a.run_id
               AND b.stop_id = e.to_stop_id
           WHERE b.trip_id <> a.trip_id
             AND epoch(b.ts) >= epoch(a.ts) + e.min_xfer
             AND epoch(b.ts) <= epoch(a.ts) + 3600),
         rk AS (SELECT *, row_number() OVER (PARTITION BY run_id,
             from_trip, from_stop_id, arr_ts, to_stop_id
             ORDER BY dep_ts, to_trip) AS rn FROM cand)
         SELECT CAST(run_id AS BIGINT) AS run_id, from_trip,
           from_stop_id,
           strftime(arr_ts, '%Y-%m-%d %H:%M:%S.%f') || '0' AS arr_time,
           to_trip, to_stop_id,
           strftime(dep_ts, '%Y-%m-%d %H:%M:%S.%f') || '0' AS dep_time,
           CAST(epoch(dep_ts) - epoch(arr_ts) AS BIGINT) AS wait_secs
         FROM rk WHERE rn = 1""",
    "q_heaps_law" ->
      s"""WITH docs AS (SELECT doc_id, $toks AS toks FROM documents),
         lens AS (SELECT doc_id, CAST(len(toks) AS BIGINT) AS len
           FROM docs),
         offs AS (SELECT doc_id, CAST(coalesce(sum(len) OVER (ORDER BY
             doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
             AS BIGINT) AS o FROM lens),
         pos AS (SELECT doc_id, toks[i] AS tok, CAST(i AS BIGINT) AS p
           FROM (SELECT doc_id, toks,
             unnest(generate_series(1, len(toks))) AS i
             FROM docs WHERE len(toks) >= 1)),
         fp AS (SELECT tok, CAST(min(o + p) AS BIGINT) AS fp
           FROM pos JOIN offs USING (doc_id) GROUP BY tok),
         nt AS (SELECT CAST(sum(len) AS BIGINT) AS n_tot FROM lens),
         ck AS (SELECT CAST(k AS BIGINT) AS k,
             CAST(k * n_tot // 10 AS BIGINT) AS n_k
           FROM (SELECT unnest(generate_series(1, 10)) AS k) CROSS JOIN nt),
         v AS (SELECT k, n_k, CAST(count(*) AS BIGINT) AS v_k
           FROM fp JOIN ck ON fp.fp <= ck.n_k GROUP BY 1, 2),
         lg AS (SELECT *,
             CAST(round(ln(CAST(n_k AS DOUBLE)) * 1e6) AS BIGINT) AS x_u,
             CAST(round(ln(CAST(v_k AS DOUBLE)) * 1e6) AS BIGINT) AS y_u
           FROM v),
         w AS (SELECT *, CAST(count(*) OVER () AS BIGINT) AS m,
             CAST(sum(x_u) OVER () AS BIGINT) AS sx,
             CAST(sum(y_u) OVER () AS BIGINT) AS sy,
             CAST(sum(x_u * y_u) OVER () AS BIGINT) AS sxy,
             CAST(sum(x_u * x_u) OVER () AS BIGINT) AS sxx FROM lg)
         SELECT k, n_k, v_k, CAST(v_k * 10000 // n_k AS BIGINT) AS ttr_bp,
           round(CAST(m * sxy - sx * sy AS DOUBLE)
             / CAST(m * sxx - sx * sx AS DOUBLE), 4) AS beta
         FROM w ORDER BY k""",
    "q_cusum_shift" ->
      """WITH daily AS (SELECT CAST(o_orderdate AS DATE) AS day,
           CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
             AS cents
           FROM orders GROUP BY 1),
         m AS (SELECT *, CAST(sum(cents) OVER () AS BIGINT) AS scents,
             CAST(count(*) OVER () AS BIGINT) AS nd FROM daily),
         b AS (SELECT *, scents // nd AS mu FROM m),
         c AS (SELECT *, mu // 4 AS h,
             cents - mu - mu // 20 AS d_hi,
             cents - mu + mu // 20 AS d_lo FROM b),
         p AS (SELECT *,
             CAST(sum(d_hi) OVER (ORDER BY day ROWS BETWEEN UNBOUNDED
               PRECEDING AND CURRENT ROW) AS BIGINT) AS p_hi,
             CAST(sum(d_lo) OVER (ORDER BY day ROWS BETWEEN UNBOUNDED
               PRECEDING AND CURRENT ROW) AS BIGINT) AS p_lo FROM c),
         sdf AS (SELECT *,
             p_hi - least(min(p_hi) OVER (ORDER BY day ROWS BETWEEN
               UNBOUNDED PRECEDING AND CURRENT ROW), 0) AS s_hi,
             greatest(max(p_lo) OVER (ORDER BY day ROWS BETWEEN UNBOUNDED
               PRECEDING AND CURRENT ROW), 0) - p_lo AS s_lo FROM p)
         SELECT day, cents, mu, h, s_hi, s_lo,
           s_hi >= h AS alarm_hi, s_lo >= h AS alarm_lo
         FROM sdf ORDER BY day""",
    "q_good_turing" ->
      s"""WITH d AS (SELECT lang, unnest($toks) AS tok FROM documents),
         c AS (SELECT lang, tok, CAST(count(*) AS BIGINT) AS c
           FROM d GROUP BY 1, 2),
         a AS (SELECT lang, CAST(sum(c) AS BIGINT) AS n_tokens,
             CAST(count(*) AS BIGINT) AS vocab,
             CAST(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n1,
             CAST(sum(CASE WHEN c = 2 THEN 1 ELSE 0 END) AS BIGINT) AS n2
           FROM c GROUP BY lang)
         SELECT lang, n_tokens, vocab, n1, n2,
           CAST(n1 * 10000 // n_tokens AS BIGINT) AS missing_mass_bp,
           CASE WHEN n1 > 0 THEN CAST(2000000 * n2 // n1 AS BIGINT) END
             AS r1_star_u
         FROM a ORDER BY lang""",
    "q_token_dispersion" ->
      s"""WITH dt AS (SELECT doc_id, $toks AS toks FROM documents),
         e AS (SELECT doc_id, CAST(len(toks) AS BIGINT) AS l_d,
             unnest(toks) AS tok FROM dt),
         lt AS (SELECT CAST(count(*) AS BIGINT) AS l_tot FROM e),
         top AS (SELECT tok, CAST(count(*) AS BIGINT) AS c_t FROM e
           GROUP BY tok ORDER BY c_t DESC, tok LIMIT 25),
         pd AS (SELECT doc_id, l_d, tok, CAST(count(*) AS BIGINT) AS c_dt
           FROM e GROUP BY 1, 2, 3),
         agg AS (SELECT tok, c_t, l_tot,
             CAST(count(*) AS BIGINT) AS n_docs_present,
             CAST(sum(abs(c_dt * l_tot - l_d * c_t)) AS BIGINT) AS pres_abs,
             CAST(sum(l_d) AS BIGINT) AS pres_len
           FROM pd JOIN top USING (tok) CROSS JOIN lt GROUP BY 1, 2, 3)
         SELECT tok, c_t, n_docs_present,
           CAST((pres_abs + (l_tot - pres_len) * c_t) * 10000
             // (2 * c_t * l_tot) AS BIGINT) AS dp_bp
         FROM agg ORDER BY c_t DESC, tok""",
    "q_quality_surprisal_rho" ->
      s"""WITH $surprisalPerDocCtes,
         q AS (SELECT doc_id, CAST(round($qualityExpr * 10000) AS BIGINT)
             AS qu FROM documents),
         j AS (SELECT q.doc_id, qu, xent_u FROM q JOIN pd2 USING (doc_id)),
         cx AS (SELECT qu AS v, CAST(count(*) AS BIGINT) AS t
           FROM j GROUP BY 1),
         wx AS (SELECT v,
             2 * CAST(coalesce(sum(t) OVER (ORDER BY v ROWS BETWEEN
               UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) + t + 1
               AS rx FROM cx),
         cy AS (SELECT xent_u AS v, CAST(count(*) AS BIGINT) AS t
           FROM j GROUP BY 1),
         wy AS (SELECT v,
             2 * CAST(coalesce(sum(t) OVER (ORDER BY v ROWS BETWEEN
               UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) + t + 1
               AS ry FROM cy),
         r AS (SELECT j.doc_id, rx, ry FROM j
           JOIN wx ON j.qu = wx.v JOIN wy ON j.xent_u = wy.v),
         m AS (SELECT CAST(count(*) AS HUGEINT) AS n,
             CAST(sum(rx) AS HUGEINT) AS sx,
             CAST(sum(ry) AS HUGEINT) AS sy,
             CAST(sum(CAST(rx AS HUGEINT) * ry) AS HUGEINT) AS sxy,
             CAST(sum(CAST(rx AS HUGEINT) * rx) AS HUGEINT) AS sxx,
             CAST(sum(CAST(ry AS HUGEINT) * ry) AS HUGEINT) AS syy FROM r)
         SELECT CAST(n AS BIGINT) AS n_docs,
           CAST(n * sxy - sx * sy AS BIGINT) AS cov_num,
           round(CAST(n * sxy - sx * sy AS DOUBLE) /
             (sqrt(CAST(n * sxx - sx * sx AS DOUBLE))
               * sqrt(CAST(n * syy - sy * sy AS DOUBLE))), 4) AS rho
         FROM m""",
    "q_gini_sources" ->
      s"""WITH d AS (SELECT source, CAST(len($toks) AS BIGINT) AS tk
           FROM documents),
         per AS (SELECT source, CAST(sum(tk) AS BIGINT) AS n_tokens
           FROM d GROUP BY source),
         r AS (SELECT source, n_tokens,
             CAST(row_number() OVER (ORDER BY n_tokens, source) AS BIGINT)
               AS i FROM per),
         w AS (SELECT *,
             CAST(sum(n_tokens) OVER (ORDER BY n_tokens, source ROWS BETWEEN
               UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum,
             CAST(sum(n_tokens) OVER () AS BIGINT) AS tot,
             CAST(count(*) OVER () AS BIGINT) AS m,
             CAST(sum(i * n_tokens) OVER () AS BIGINT) AS wsum FROM r)
         SELECT source, n_tokens, CAST(i AS INT) AS rank,
           CAST(cum * 10000 // tot AS BIGINT) AS lorenz_bp,
           CAST((2 * wsum - (m + 1) * tot) * 10000 // (m * tot) AS BIGINT)
             AS gini_bp
         FROM w ORDER BY rank""",
    "q_screen_kappa" ->
      s"""WITH $gopherKeepCtes,
         q AS (SELECT doc_id,
             CAST(round($qualityExpr * 10000) AS BIGINT) >= 5000 AS hi_q
           FROM documents),
         ct AS (SELECT
             CAST(sum(CASE WHEN keep AND hi_q THEN 1 ELSE 0 END) AS BIGINT)
               AS a,
             CAST(sum(CASE WHEN keep AND NOT hi_q THEN 1 ELSE 0 END)
               AS BIGINT) AS b,
             CAST(sum(CASE WHEN NOT keep AND hi_q THEN 1 ELSE 0 END)
               AS BIGINT) AS c,
             CAST(sum(CASE WHEN NOT keep AND NOT hi_q THEN 1 ELSE 0 END)
               AS BIGINT) AS d
           FROM k JOIN q USING (doc_id))
         SELECT a, b, c, d, a + b + c + d AS n,
           CAST((a + d) * 10000 // (a + b + c + d) AS BIGINT) AS po_bp,
           CAST(((a + b) * (a + c) + (c + d) * (b + d)) * 10000
             // ((a + b + c + d) * (a + b + c + d)) AS BIGINT) AS pe_bp,
           CAST((2000000 * (a * d - b * c)
             + 1000000 * ((a + b) * (b + d) + (a + c) * (c + d)))
             // ((a + b) * (b + d) + (a + c) * (c + d)) - 1000000 AS BIGINT)
             AS kappa_u
         FROM ct""",
    "q_unimax_budget" ->
      s"""WITH d AS (SELECT lang, CAST(len($toks) AS BIGINT) AS tk
           FROM documents),
         per AS (SELECT lang, CAST(sum(tk) AS BIGINT) AS n_tokens
           FROM d GROUP BY lang),
         c AS (SELECT lang, n_tokens, n_tokens * 2 AS cap FROM per),
         r AS (SELECT *,
             CAST(row_number() OVER (ORDER BY cap, lang) AS BIGINT) AS i,
             CAST(count(*) OVER () AS BIGINT) AS m,
             CAST(sum(n_tokens) OVER () AS BIGINT) AS budget,
             CAST(coalesce(sum(cap) OVER (ORDER BY cap, lang ROWS BETWEEN
               UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
               AS cum_before FROM c),
         cp AS (SELECT *, cap * (m - i + 1) <= budget - cum_before AS capped
           FROM r),
         t AS (SELECT *,
             CAST(sum(CASE WHEN capped THEN 1 ELSE 0 END) OVER () AS BIGINT)
               AS j,
             budget - CAST(sum(CASE WHEN capped THEN cap ELSE 0 END)
               OVER () AS BIGINT) AS rem FROM cp),
         al AS (SELECT *, CAST(CASE WHEN capped THEN cap
             ELSE rem // (m - j)
               + (CASE WHEN i - j <= rem % (m - j) THEN 1 ELSE 0 END) END
             AS BIGINT) AS alloc FROM t)
         SELECT lang, n_tokens, cap, capped, alloc,
           CAST(alloc * 10000 // n_tokens AS BIGINT) AS epochs_bp, budget
         FROM al ORDER BY lang""",
    "q_k_anonymity" ->
      """WITH b AS (SELECT c_nationkey, c_mktsegment,
           CASE WHEN c_acctbal < 0 THEN 'debt'
             WHEN c_acctbal < 5000 THEN 'low' ELSE 'high' END AS band
           FROM customer),
         g AS (SELECT c_nationkey, c_mktsegment,
             CAST(count(*) AS BIGINT) AS class_size,
             CAST(count(DISTINCT band) AS BIGINT) AS l_diversity
           FROM b GROUP BY 1, 2),
         f AS (SELECT *, class_size < 5 AS k_risky,
             l_diversity <= 1 AS l_risky FROM g),
         w AS (SELECT *, min(class_size) OVER () AS k_min,
             CAST(sum(CASE WHEN k_risky OR l_risky THEN class_size ELSE 0
               END) OVER () AS BIGINT) AS risky_rows,
             CAST(sum(class_size) OVER () AS BIGINT) AS n_rows FROM f)
         SELECT c_nationkey, c_mktsegment, class_size, l_diversity,
           k_risky, l_risky, k_min,
           CAST(risky_rows * 10000 // n_rows AS BIGINT) AS risky_share_bp
         FROM w ORDER BY c_nationkey, c_mktsegment""",
    "q_pii_scrub" ->
      """WITH sc AS (SELECT doc_id,
           CAST(len(regexp_extract_all(text,
             '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS BIGINT)
             AS n_emails,
           CAST(len(regexp_extract_all(text, 'https?://[^ \t\n]+'))
             AS BIGINT) AS n_urls,
           CAST(len(regexp_extract_all(text, '[0-9]{8,}')) AS BIGINT)
             AS n_digit_runs,
           regexp_replace(
             regexp_replace(
               regexp_replace(text,
                 '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}',
                 '<EMAIL>', 'g'),
               'https?://[^ \t\n]+', '<URL>', 'g'),
             '[0-9]{8,}', '<NUMBER>', 'g') AS clean_text
         FROM documents)
         SELECT doc_id, n_emails, n_urls, n_digit_runs, clean_text
         FROM sc ORDER BY doc_id""",
    "q_code_switch" -> {
      val hitExprs = Seq("en", "de", "fr", "es").map { l =>
        val list = graft.functions.text.stopwords(l)
          .map(w => s"'$w'").mkString("[", ", ", "]")
        s"CAST(len(list_filter(toks, t -> list_contains($list, t))) AS BIGINT)"
      }
      s"""WITH d AS (SELECT doc_id, lang, $toks AS toks FROM documents),
         h AS (SELECT doc_id, lang,
             list_sort([${hitExprs.mkString(", ")}], 'DESC') AS hs,
             ${hitExprs.zipWithIndex.map { case (e, i) =>
               s"CASE WHEN $e > 0 THEN 1 ELSE 0 END AS p$i" }.mkString(", ")}
           FROM d)
         SELECT doc_id, lang,
           CAST(p0 + p1 + p2 + p3 AS BIGINT) AS n_langs_hit,
           hs[1] AS best_hits, hs[2] AS second_hits,
           hs[1] > 0 AND hs[2] * 10000 >= hs[1] * 3000 AS mixed
         FROM h ORDER BY doc_id""" },
    "q_temperature_sample" ->
      """WITH c AS (SELECT lang, CAST(count(*) AS BIGINT) AS n_docs
           FROM documents GROUP BY lang),
         w AS (SELECT lang, n_docs,
             CAST(round(sqrt(n_docs) * 1000000.0) AS BIGINT) AS w_u FROM c),
         t AS (SELECT CAST(sum(w_u) AS BIGINT) AS tot FROM w),
         b AS (SELECT lang, n_docs, w_u,
             CAST(w_u * 200 // tot AS BIGINT) AS base,
             CAST((w_u * 200) % tot AS BIGINT) AS rem
           FROM w CROSS JOIN t),
         b2 AS (SELECT *, CAST(200 - sum(base) OVER () AS BIGINT) AS deficit,
             row_number() OVER (ORDER BY rem DESC, lang) AS rk FROM b),
         q AS (SELECT lang,
             CAST(base + CASE WHEN rk <= deficit THEN 1 ELSE 0 END AS BIGINT)
               AS quota_docs FROM b2),
         r AS (SELECT doc_id, lang, CAST(row_number() OVER (
               PARTITION BY lang
               ORDER BY md5(concat('tsamp:', CAST(doc_id AS VARCHAR))), doc_id)
             AS BIGINT) AS rk
           FROM documents)
         SELECT doc_id, r.lang, rk FROM r JOIN q ON q.lang = r.lang
         WHERE rk <= quota_docs ORDER BY doc_id""",
    "q_winnow_spans" ->
      s"""WITH $winnowCtes,
         doch AS (SELECT DISTINCT doc_id, h FROM wsel),
         matchable AS (SELECT h FROM doch GROUP BY h
           HAVING count(*) BETWEEN 2 AND 50),
         occ AS (SELECT doc_id, h, pos FROM wsel JOIN matchable USING (h))
         SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           CAST(count(DISTINCT a.h) AS BIGINT) AS n_shared,
           CAST(min(a.pos) AS BIGINT) AS a_min_pos,
           CAST(max(a.pos) AS BIGINT) AS a_max_pos,
           CAST(min(b.pos) AS BIGINT) AS b_min_pos,
           CAST(max(b.pos) AS BIGINT) AS b_max_pos
         FROM occ a JOIN occ b ON a.h = b.h AND a.doc_id < b.doc_id
         GROUP BY 1, 2 HAVING count(DISTINCT a.h) >= 2
         ORDER BY doc_a, doc_b""",
    "q_temperature_mix" ->
      """WITH c AS (SELECT lang, CAST(count(*) AS BIGINT) AS n_docs
           FROM documents GROUP BY lang),
         w AS (SELECT lang, n_docs,
             CAST(round(sqrt(n_docs) * 1000000.0) AS BIGINT) AS w_u FROM c),
         t AS (SELECT CAST(sum(w_u) AS BIGINT) AS tot FROM w),
         b AS (SELECT lang, n_docs, w_u,
             CAST(w_u * 100000 // tot AS BIGINT) AS base,
             CAST((w_u * 100000) % tot AS BIGINT) AS rem
           FROM w CROSS JOIN t),
         b2 AS (SELECT *, CAST(100000 - sum(base) OVER () AS BIGINT)
               AS deficit,
             row_number() OVER (ORDER BY rem DESC, lang) AS rk FROM b)
         SELECT lang, n_docs, w_u,
           CAST(base + CASE WHEN rk <= deficit THEN 1 ELSE 0 END AS BIGINT)
             AS quota_docs
         FROM b2 ORDER BY lang""",
    "q_source_lang_mi" ->
      """WITH cells AS (SELECT source, lang, CAST(count(*) AS BIGINT) AS n
           FROM documents GROUP BY source, lang),
         ms AS (SELECT source, CAST(sum(n) AS BIGINT) AS ns
           FROM cells GROUP BY source),
         ml AS (SELECT lang, CAST(sum(n) AS BIGINT) AS nl
           FROM cells GROUP BY lang),
         mt AS (SELECT CAST(sum(n) AS BIGINT) AS nt FROM cells),
         p AS (SELECT n, CAST(round(ln(CAST(n * nt AS DOUBLE) /
               CAST(ns * nl AS DOUBLE)) * 1000000.0) AS BIGINT) AS pmi_u
           FROM cells JOIN ms USING (source) JOIN ml USING (lang)
             CROSS JOIN mt)
         SELECT CAST(sum(n) AS BIGINT) AS n_docs,
           CAST(count(*) AS BIGINT) AS n_cells,
           CAST((sum(n * pmi_u) + 1000000 * sum(n)) // sum(n) - 1000000
             AS BIGINT) AS mi_u
         FROM p""",
    "q_edit_neardup" ->
      s"""WITH lsh AS ($minhashPairsCore),
         t AS (SELECT doc_id, substring(text, 1, 400) AS p FROM documents),
         sc AS (SELECT doc_a, doc_b,
             CAST(levenshtein(a.p, b.p) AS BIGINT) AS lev,
             CAST(greatest(length(a.p), length(b.p)) AS BIGINT) AS mx
           FROM lsh JOIN t a ON a.doc_id = lsh.doc_a
             JOIN t b ON b.doc_id = lsh.doc_b),
         sb AS (SELECT doc_a, doc_b, lev,
             CAST(CASE WHEN mx = 0 THEN 10000
               ELSE 10000 - (lev * 10000) // mx END AS BIGINT) AS sim_bp
           FROM sc)
         SELECT doc_a, doc_b, lev, sim_bp FROM sb
         WHERE sim_bp >= 7000 ORDER BY doc_a, doc_b""",
    "q_jl_recall" ->
      """WITH e0 AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
           FROM embeddings),
         pl AS (SELECT j, list(comp ORDER BY d) AS p FROM (
             SELECT j, d,
               (CAST(concat('0x', substring(md5(concat(CAST(j AS VARCHAR), ':', CAST(d AS VARCHAR))), 1, 15)) AS BIGINT) % 2001 - 1000) / 1000.0 AS comp
             FROM (SELECT unnest(generate_series(0, 15)) AS j),
                  (SELECT unnest(generate_series(0, 63)) AS d))
           GROUP BY j),
         py AS (SELECT vec_id, j, CAST(list_sum(list_transform(
               generate_series(1, 64),
               i -> CAST(round(p[i] * v[i] * 10000.0) AS BIGINT)))
             AS DOUBLE) AS y
           FROM e0, pl),
         e AS (SELECT e0.vec_id, e0.v, pp.p FROM e0 JOIN
             (SELECT vec_id, list(y ORDER BY j) AS p FROM py
              GROUP BY vec_id) pp ON pp.vec_id = e0.vec_id),
         q AS (SELECT vec_id AS qid, v AS qv, p AS qp FROM e
           WHERE vec_id < 20),
         fl AS (SELECT qid, vec_id FROM (
             SELECT q.qid, e.vec_id, row_number() OVER (PARTITION BY q.qid
                 ORDER BY round(list_cosine_similarity(e.v, q.qv), 4) DESC,
                   e.vec_id) AS rn
             FROM e, q WHERE e.vec_id <> q.qid)
           WHERE rn <= 5),
         pr AS (SELECT qid, vec_id FROM (
             SELECT q.qid, e.vec_id, row_number() OVER (PARTITION BY q.qid
                 ORDER BY round(list_cosine_similarity(e.p, q.qp), 4) DESC,
                   e.vec_id) AS rn
             FROM e, q WHERE e.vec_id <> q.qid)
           WHERE rn <= 5)
         SELECT f.qid AS query_id, CAST(count(*) AS BIGINT) AS n_full,
           CAST(sum(CASE WHEN p.vec_id IS NOT NULL THEN 1 ELSE 0 END)
             AS BIGINT) AS n_overlap,
           round(CAST(sum(CASE WHEN p.vec_id IS NOT NULL THEN 1 ELSE 0 END)
             AS DOUBLE) / count(*), 4) AS recall
         FROM fl f LEFT JOIN pr p ON p.qid = f.qid AND p.vec_id = f.vec_id
         GROUP BY f.qid ORDER BY query_id""",
    "q_winnow_fingerprints" ->
      s"""WITH $winnowCtes,
         ng AS (SELECT doc_id, CAST(len(toks) - 3 AS BIGINT) AS n_grams
           FROM docs WHERE len(toks) - 3 >= 4),
         sc AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_selected
           FROM wsel GROUP BY doc_id)
         SELECT doc_id, n_grams, n_selected,
           CAST(n_selected * 10000 // n_grams AS BIGINT) AS density_bp
         FROM ng JOIN sc USING (doc_id) ORDER BY doc_id""",
    "q_winnow_pairs" ->
      s"""WITH $winnowCtes,
         sel2 AS (SELECT DISTINCT doc_id, h FROM wsel),
         matchable AS (SELECT h FROM sel2 GROUP BY h
           HAVING count(*) BETWEEN 2 AND 50),
         sh AS (SELECT doc_id, h FROM sel2 JOIN matchable USING (h)),
         cnt AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_sel
           FROM sel2 GROUP BY doc_id),
         p AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
             CAST(count(*) AS BIGINT) AS n_shared
           FROM sh a JOIN sh b ON a.h = b.h AND a.doc_id < b.doc_id
           GROUP BY 1, 2 HAVING count(*) >= 2)
         SELECT doc_a, doc_b, n_shared,
           CAST(n_shared * 10000 // least(ca.n_sel, cb.n_sel) AS BIGINT)
             AS containment_bp
         FROM p JOIN cnt ca ON ca.doc_id = p.doc_a
           JOIN cnt cb ON cb.doc_id = p.doc_b
         ORDER BY doc_a, doc_b""",
    "q_span_scrub_clean" ->
      s"""WITH $spanScrubCtes,
         cov AS (SELECT doc_id, unnest(generate_series(s, e)) AS p FROM sp),
         tk AS (SELECT doc_id, i AS p, toks[i] AS tok
           FROM (SELECT doc_id, toks,
               unnest(generate_series(1, len(toks))) AS i FROM docs)),
         kept AS (SELECT t.doc_id, t.p, t.tok, c.p IS NOT NULL AS cut
           FROM tk t LEFT JOIN cov c ON t.doc_id = c.doc_id AND t.p = c.p)
         SELECT doc_id,
           CAST(sum(CASE WHEN cut THEN 1 ELSE 0 END) AS BIGINT) AS n_removed,
           CAST(sum(CASE WHEN NOT cut THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
           coalesce(string_agg(CASE WHEN NOT cut THEN tok END, ' '
             ORDER BY p), '') AS clean_text
         FROM kept GROUP BY doc_id
         HAVING sum(CASE WHEN cut THEN 1 ELSE 0 END) > 0
         ORDER BY doc_id""",
    "q_curriculum_order" ->
      s"""WITH d AS (SELECT doc_id, CAST(len($toks) AS BIGINT) AS n_toks
           FROM documents),
         s AS (SELECT doc_id, n_toks,
             CAST(length(bin(n_toks)) AS INT) AS stage,
             CAST(concat('0x', substring(md5(concat('curr:', CAST(doc_id AS VARCHAR))), 1, 15)) AS BIGINT) % 1000000 AS sk
           FROM d)
         SELECT stage,
           CAST(row_number() OVER (PARTITION BY stage ORDER BY sk, doc_id)
             AS BIGINT) AS pos,
           doc_id, n_toks
         FROM s ORDER BY stage, pos""",
    "q_bm25_topk" ->
      s"""WITH $bm25Ctes
         SELECT doc_id, CAST(count(*) AS BIGINT) AS n_terms,
           round(CAST(sum(cf) AS DOUBLE) / 1000000.0, 4) AS bm25
         FROM c GROUP BY doc_id ORDER BY bm25 DESC, doc_id LIMIT 25""",
    "q_hybrid_rrf" ->
      s"""WITH $bm25Ctes,
         bm AS (SELECT doc_id,
             round(CAST(sum(cf) AS DOUBLE) / 1000000.0, 4) AS bm25
           FROM c GROUP BY doc_id),
         pa AS (SELECT doc_id,
             CAST(row_number() OVER (ORDER BY bm25 DESC, doc_id) AS BIGINT)
               AS rank_a
           FROM (SELECT * FROM bm ORDER BY bm25 DESC, doc_id LIMIT 50)),
         $hashedTfVecCtes,
         qv AS (SELECT $fhQueryLit AS q),
         pb AS (SELECT vec_id AS doc_id,
             CAST(row_number() OVER (ORDER BY cos_q DESC, vec_id) AS BIGINT)
               AS rank_b
           FROM (SELECT vec_id,
               round(list_cosine_similarity(v, q), 4) AS cos_q
             FROM e, qv ORDER BY cos_q DESC, vec_id LIMIT 50)),
         f AS (SELECT coalesce(pa.doc_id, pb.doc_id) AS doc_id, rank_a, rank_b,
             coalesce(1000000 // (60 + rank_a), 0)
               + coalesce(1000000 // (60 + rank_b), 0) AS rrf_u
           FROM pa FULL OUTER JOIN pb ON pa.doc_id = pb.doc_id)
         SELECT CAST(row_number() OVER (ORDER BY rrf_u DESC, doc_id) AS INT)
             AS rk, doc_id, rank_a, rank_b, CAST(rrf_u AS BIGINT) AS rrf_u
         FROM (SELECT * FROM f ORDER BY rrf_u DESC, doc_id LIMIT 25)
         ORDER BY rk""",
    "q_rbo_overlap" ->
      s"""WITH $bm25Ctes,
         bm AS (SELECT doc_id,
             round(CAST(sum(cf) AS DOUBLE) / 1000000.0, 4) AS bm25
           FROM c GROUP BY doc_id),
         dens AS (SELECT doc_id,
             CAST(sum(tf) AS BIGINT) * 1000000 // dl AS dens_u
           FROM tf GROUP BY doc_id, dl),
         pool AS (SELECT bm.doc_id, bm25, dens_u
           FROM bm JOIN dens USING (doc_id)
           ORDER BY bm25 DESC, doc_id LIMIT 25),
         pa AS (SELECT doc_id,
             CAST(row_number() OVER (ORDER BY bm25 DESC, doc_id) AS BIGINT)
               AS rank_a FROM pool),
         pb AS (SELECT doc_id,
             CAST(row_number() OVER (ORDER BY dens_u DESC, doc_id)
               AS BIGINT) AS rank_b FROM pool),
         m AS (SELECT greatest(rank_a, rank_b) AS m
           FROM pa JOIN pb USING (doc_id)),
         w(depth, w_u) AS (VALUES $rboWeightValues),
         cnt AS (SELECT depth, CAST(count(m.m) AS BIGINT) AS n_overlap
           FROM w LEFT JOIN m ON m.m <= w.depth GROUP BY depth),
         t AS (SELECT w.depth, n_overlap, w_u,
             n_overlap * 10000 // w.depth AS agree_bp,
             w_u * n_overlap // w.depth AS term_u
           FROM cnt JOIN w USING (depth))
         SELECT CAST(depth AS INT) AS depth, n_overlap, agree_bp, w_u,
           term_u, CAST(sum(term_u) OVER (ORDER BY depth
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
             AS rbo_u
         FROM t ORDER BY depth""",
    "q_bigram_surprisal" ->
      s"""WITH docs AS (SELECT doc_id,
           CAST(concat('0x', substring(md5(concat('split:', CAST(doc_id AS VARCHAR))), 1, 15)) AS BIGINT) % 100 AS bucket,
           $toks AS toks FROM documents),
         tg AS (${bigramUnnest("bucket < 80")}),
         cab AS (SELECT g, count(*) AS c_ab FROM tg GROUP BY g),
         tu AS (SELECT unnest(toks) AS a FROM docs WHERE bucket < 80),
         ca AS (SELECT a, count(*) AS c_a FROM tu GROUP BY a),
         voc AS (SELECT count(*) AS v FROM ca),
         ev AS (${bigramUnnest("bucket >= 90")}),
         sc AS (SELECT ev.doc_id,
             ln(CAST(coalesce(c_ab, 0) + 1 AS DOUBLE) /
                CAST(coalesce(c_a, 0) + v AS DOUBLE)) AS logp
           FROM ev
           LEFT JOIN cab USING (g)
           LEFT JOIN ca ON split_part(ev.g, ' ', 1) = ca.a
           CROSS JOIN voc)
         SELECT doc_id, count(*) AS n_bigrams, round(-avg(logp), 4) AS xent
         FROM sc GROUP BY doc_id ORDER BY doc_id""",
    "q_trigram_backoff" ->
      s"""WITH docs AS (SELECT doc_id,
           CAST(concat('0x', substring(md5(concat('split:', CAST(doc_id AS VARCHAR))), 1, 15)) AS BIGINT) % 100 AS bucket,
           $toks AS toks FROM documents),
         t3 AS (SELECT doc_id, unnest(list_transform(
             generate_series(1, len(toks) - 2),
             i -> array_to_string(toks[i:i+2], ' '))) AS g
           FROM docs WHERE bucket < 80 AND len(toks) >= 3),
         c3 AS (SELECT g, CAST(count(*) AS BIGINT) AS c3 FROM t3
           GROUP BY g),
         t2 AS (${bigramUnnest("bucket < 80")}),
         c2 AS (SELECT g AS b2, CAST(count(*) AS BIGINT) AS c2 FROM t2
           GROUP BY 1),
         t1 AS (SELECT unnest(toks) AS t FROM docs WHERE bucket < 80),
         c1 AS (SELECT t, CAST(count(*) AS BIGINT) AS c1 FROM t1
           GROUP BY t),
         tot AS (SELECT CAST(sum(c1) AS BIGINT) AS nn,
             CAST(count(*) AS BIGINT) AS v FROM c1),
         ev AS (SELECT doc_id, g,
             split_part(g, ' ', 1) AS w1, split_part(g, ' ', 2) AS w2,
             split_part(g, ' ', 3) AS w3
           FROM (SELECT doc_id, unnest(list_transform(
               generate_series(1, len(toks) - 2),
               i -> array_to_string(toks[i:i+2], ' '))) AS g
             FROM docs WHERE bucket >= 90 AND len(toks) >= 3)),
         sc AS (SELECT ev.doc_id, CAST(round(CASE
               WHEN c3.c3 IS NOT NULL
                 THEN ln(CAST(c3.c3 AS DOUBLE) / cab.c2)
               WHEN cbc.c2 IS NOT NULL THEN ln(0.4 * cbc.c2 / cb.c1)
               ELSE ln(0.16 * (coalesce(cc.c1, 0) + 1) / (nn + v))
             END * 1e6) AS BIGINT) AS logp_u
           FROM ev
           LEFT JOIN c3 USING (g)
           LEFT JOIN c2 cab ON concat(w1, ' ', w2) = cab.b2
           LEFT JOIN c2 cbc ON concat(w2, ' ', w3) = cbc.b2
           LEFT JOIN c1 cb ON w2 = cb.t
           LEFT JOIN c1 cc ON w3 = cc.t
           CROSS JOIN tot)
         SELECT doc_id, CAST(count(*) AS BIGINT) AS n_trigrams,
           CAST(sum(logp_u) AS BIGINT) AS sum_logp_u,
           round(-(CAST(sum(logp_u) AS BIGINT) / 1e6) / count(*), 4)
             AS xent
         FROM sc GROUP BY doc_id ORDER BY doc_id""",
    "q_surprisal_filter" ->
      s"""WITH $surprisalPerDocCtes,
         cut AS (SELECT CAST(sum(xent_u) // count(*) AS BIGINT) AS cut_u
           FROM pd2)
         SELECT doc_id, n_bigrams, xent_u, cut_u, xent_u <= cut_u AS keep
         FROM pd2 CROSS JOIN cut ORDER BY doc_id""",
    "q_mixture_reweight" ->
      s"""WITH $surprisalPerDocCtes,
         srcj AS (SELECT d.source, p.xent_u
           FROM pd2 p JOIN documents d USING (doc_id)),
         bysrc AS (SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
             CAST(sum(xent_u) // count(*) AS BIGINT) AS mean_xent_u
           FROM srcj GROUP BY source),
         tot AS (SELECT CAST(sum(mean_xent_u) AS BIGINT) AS tot FROM bysrc),
         w AS (SELECT source, n_docs, mean_xent_u,
             CAST(mean_xent_u * 10000 // tot AS BIGINT) AS base_bp,
             CAST((mean_xent_u * 10000) % tot AS BIGINT) AS rem
           FROM bysrc CROSS JOIN tot),
         w2 AS (SELECT *, CAST(10000 - sum(base_bp) OVER () AS BIGINT)
               AS deficit,
             row_number() OVER (ORDER BY rem DESC, source) AS rk FROM w)
         SELECT source, n_docs, mean_xent_u,
           CAST(base_bp + CASE WHEN rk <= deficit THEN 1 ELSE 0 END AS BIGINT)
             AS weight_bp
         FROM w2 ORDER BY source""",
    "q_weekday_profile" ->
      """WITH d AS (SELECT event_type,
           CAST(isodow(CAST(ts AS DATE)) - 1 AS INT) AS weekday
           FROM events),
         c AS (SELECT event_type, weekday, count(*) AS n
           FROM d GROUP BY event_type, weekday),
         t AS (SELECT event_type, CAST(sum(n) AS BIGINT) AS tot
           FROM c GROUP BY event_type)
         SELECT c.event_type, c.weekday, CAST(c.n AS BIGINT) AS n,
           CAST(c.n * 10000 // t.tot AS BIGINT) AS share_bp
         FROM c JOIN t USING (event_type)
         ORDER BY event_type, weekday""",
    "q_daily_anomalies" ->
      """WITH daily AS (SELECT event_type, CAST(ts AS DATE) AS day,
           count(*) AS n
           FROM events GROUP BY event_type, CAST(ts AS DATE)),
         st AS (SELECT event_type, CAST(sum(n) AS BIGINT) AS sn,
           CAST(sum(n * n) AS BIGINT) AS sn2, count(*) AS nd
           FROM daily GROUP BY event_type),
         z AS (SELECT d.event_type, d.day, d.n,
           round((d.n - CAST(sn AS DOUBLE) / nd) /
             sqrt((CAST(sn2 AS DOUBLE) - CAST(sn AS DOUBLE) * sn / nd) /
               (nd - 1)), 4) AS z
           FROM daily d JOIN st USING (event_type))
         SELECT event_type, day, n, z, abs(z) >= 2.0 AS anomaly
         FROM z ORDER BY event_type, day""",
    "q_type_transitions" ->
      """WITH p AS (SELECT event_type AS from_type,
           lead(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
             AS to_type
           FROM events),
         c AS (SELECT from_type, to_type, count(*) AS n FROM p
           WHERE to_type IS NOT NULL GROUP BY from_type, to_type)
         SELECT from_type, to_type, n,
           round(CAST(n AS DOUBLE) / sum(n) OVER (PARTITION BY from_type), 4)
             AS prob
         FROM c ORDER BY from_type, to_type""",
    "q_source_reconciliation" ->
      """WITH od AS (SELECT CAST(o_orderdate AS DATE) AS day,
           CAST(round(sum(CAST(o_totalprice AS DECIMAL(12,2))), 2) AS DOUBLE)
             AS order_total,
           count(*) AS n_orders
           FROM orders GROUP BY 1),
         ed AS (SELECT CAST(ts AS DATE) AS day,
           CAST(round(sum(CAST(value AS DECIMAL(12,2))), 2) AS DOUBLE)
             AS event_total,
           count(*) AS n_purchases
           FROM events WHERE event_type = 'purchase' GROUP BY 1)
         SELECT day,
           coalesce(n_orders, 0) AS n_orders,
           coalesce(n_purchases, 0) AS n_purchases,
           coalesce(order_total, 0.0) AS order_total,
           coalesce(event_total, 0.0) AS event_total,
           CASE WHEN order_total IS NULL THEN 'events_only'
                WHEN event_total IS NULL THEN 'orders_only'
                ELSE 'both' END AS status
         FROM od FULL OUTER JOIN ed USING (day)
         ORDER BY day""",
    "q_zipf_slope" ->
      s"""WITH f AS (SELECT tok, count(*) AS freq
           FROM (SELECT unnest($toks) AS tok FROM documents)
           GROUP BY tok HAVING count(*) >= 5),
         r AS (SELECT
             ln(CAST(row_number() OVER (ORDER BY freq DESC, tok) AS DOUBLE)) AS x,
             ln(CAST(freq AS DOUBLE)) AS y
           FROM f),
         a AS (SELECT count(*) AS n_tokens, sum(x) AS sx, sum(y) AS sy,
           sum(x * y) AS sxy, sum(x * x) AS sx2 FROM r)
         SELECT n_tokens,
           round((n_tokens * sxy - sx * sy) / (n_tokens * sx2 - sx * sx), 4) AS slope
         FROM a""",
    "q_kmeans_step" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         c AS (SELECT vec_id AS cid, v AS cv FROM e WHERE vec_id < 8),
         a AS (SELECT e.vec_id, e.v, c.cid,
             list_cosine_similarity(e.v, c.cv) AS sim FROM e, c),
         r AS (SELECT vec_id, v, cid,
             row_number() OVER (PARTITION BY vec_id ORDER BY sim DESC, cid) AS rn
           FROM a),
         asg AS (SELECT vec_id, v, cid FROM r WHERE rn = 1),
         dx0 AS (SELECT cid, unnest(generate_series(1, len(v))) AS d,
             unnest(v) AS x FROM asg),
         dx AS (SELECT cid, d, CAST(round(x * 1000000.0) AS BIGINT) AS xf FROM dx0),
         g AS (SELECT cid, d, CAST(sum(xf) AS BIGINT) AS sx, count(*) AS n
           FROM dx GROUP BY cid, d)
         SELECT cid, max(n) AS n_members,
           round(sqrt(sum(pow(CAST(sx AS DOUBLE) / n / 1000000.0, 2))), 4) AS centroid_norm
         FROM g GROUP BY cid ORDER BY cid""",
    "q_hyperplane_lsh_topk" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         pl AS (SELECT j, list(comp ORDER BY d) AS p FROM (
             SELECT j, d,
               (CAST(concat('0x', substring(md5(concat(CAST(j AS VARCHAR), ':', CAST(d AS VARCHAR))), 1, 15)) AS BIGINT) % 2001 - 1000) / 1000.0 AS comp
             FROM (SELECT unnest(generate_series(0, 7)) AS j),
                  (SELECT unnest(generate_series(0, 63)) AS d))
           GROUP BY j),
         sig AS (SELECT vec_id,
             sum(CASE WHEN list_dot_product(v, p) > 0
               THEN (CAST(1 AS BIGINT) << j) ELSE 0 END) AS bucket
           FROM e, pl GROUP BY vec_id),
         q AS (SELECT e.v AS qv, sig.bucket AS qb
           FROM e JOIN sig USING (vec_id) WHERE vec_id = 0)
         SELECT e.vec_id, round(list_cosine_similarity(e.v, qv), 4) AS cos_sim
         FROM e JOIN sig USING (vec_id), q
         WHERE sig.bucket = qb AND e.vec_id <> 0
         ORDER BY cos_sim DESC, e.vec_id LIMIT 5""",
    "q_frame_samples" ->
      s"""SELECT doc_id,
         CAST(greatest(ceil(strlen(text) / ${operators.Multimodal.FakeDecoder.FrameBytes}.0), 1) AS INT) AS n_frames,
         CAST((CAST(greatest(ceil(strlen(text) / ${operators.Multimodal.FakeDecoder.FrameBytes}.0), 1) AS BIGINT) + ${operators.Multimodal.DefaultStride - 1}) // ${operators.Multimodal.DefaultStride} AS BIGINT) AS n_sampled
         FROM documents ORDER BY doc_id""",
    "q_above_avg_orders" ->
      """SELECT o_custkey, o_orderkey, o_totalprice
         FROM (SELECT o_custkey, o_orderkey, o_totalprice,
                 count(*) OVER (PARTITION BY o_custkey) AS n_cust,
                 sum(CAST(o_totalprice AS DECIMAL(12,2)))
                   OVER (PARTITION BY o_custkey) AS sum_cust
               FROM orders)
         WHERE CAST(o_totalprice AS DECIMAL(12,2)) * n_cust > sum_cust
         ORDER BY o_custkey, o_orderkey""",
    "q_grouping_sets" ->
      """SELECT r_name, n_name,
         CAST(GROUPING(r_name) * 2 + GROUPING(n_name) AS INT) AS gid,
         count(*) AS n_customers,
         CAST(round(sum(CAST(c_acctbal AS DECIMAL(12,2))), 2) AS DOUBLE) AS sum_acctbal
         FROM customer JOIN nation ON c_nationkey = n_nationkey
                       JOIN region ON n_regionkey = r_regionkey
         GROUP BY GROUPING SETS ((r_name), (n_name))
         ORDER BY gid, r_name ASC NULLS FIRST, n_name ASC NULLS FIRST""",
    "q_value_deciles" ->
      """WITH t AS (SELECT event_type, event_id, value,
           ntile(10) OVER (PARTITION BY event_type ORDER BY value, event_id) AS decile
         FROM events)
         SELECT event_type, CAST(decile AS INT) AS decile,
           CAST(count(*) AS BIGINT) AS n_events,
           min(value) AS min_value, max(value) AS max_value,
           CAST(round(sum(CAST(value AS DECIMAL(12,2))), 2) AS DOUBLE) AS sum_value
         FROM t GROUP BY event_type, decile ORDER BY event_type, decile""",
    "q_cohort_retention" ->
      """WITH o AS (SELECT o_custkey,
             date_trunc('month', CAST(o_orderdate AS DATE)) AS om FROM orders),
         c AS (SELECT o_custkey, min(om) AS cohort_month FROM o GROUP BY o_custkey)
         SELECT cohort_month,
           CAST(datediff('month', cohort_month, om) AS INT) AS month_offset,
           CAST(count(DISTINCT o.o_custkey) AS BIGINT) AS n_customers
         FROM o JOIN c USING (o_custkey)
         GROUP BY cohort_month, month_offset ORDER BY cohort_month, month_offset""",
    "q_scd2_customers" ->
      """WITH upd AS (SELECT o_custkey AS c_custkey,
             sum(CAST(o_totalprice AS DECIMAL(12,2))) AS spend,
             max(CAST(o_orderdate AS DATE)) AS eff_date
           FROM orders GROUP BY o_custkey)
         SELECT c.c_custkey, CAST(1 AS INT) AS version,
           CAST(round(CAST(c_acctbal AS DECIMAL(12,2)), 2) AS DOUBLE) AS acctbal,
           DATE '1992-01-01' AS valid_from, u.eff_date AS valid_to,
           (u.c_custkey IS NULL) AS is_current
         FROM customer c LEFT JOIN upd u USING (c_custkey)
         UNION ALL
         SELECT c.c_custkey, CAST(2 AS INT) AS version,
           CAST(round(CAST(c_acctbal AS DECIMAL(12,2)) + u.spend, 2) AS DOUBLE),
           u.eff_date, CAST(NULL AS DATE), TRUE
         FROM customer c JOIN upd u USING (c_custkey)
         ORDER BY c_custkey, version""",
    "q_pit_enrichment" ->
      """WITH upd AS (SELECT o_custkey AS c_custkey,
             sum(CAST(o_totalprice AS DECIMAL(12,2))) AS spend,
             max(CAST(o_orderdate AS DATE)) AS eff_date
           FROM orders GROUP BY o_custkey),
         dim AS (
           SELECT c.c_custkey, CAST(1 AS INT) AS version,
             CAST(round(CAST(c_acctbal AS DECIMAL(12,2)), 2) AS DOUBLE)
               AS acctbal,
             DATE '1992-01-01' AS valid_from, u.eff_date AS valid_to
           FROM customer c LEFT JOIN upd u USING (c_custkey)
           UNION ALL
           SELECT c.c_custkey, CAST(2 AS INT),
             CAST(round(CAST(c_acctbal AS DECIMAL(12,2)) + u.spend, 2)
               AS DOUBLE),
             u.eff_date, CAST(NULL AS DATE)
           FROM customer c JOIN upd u USING (c_custkey))
         SELECT o.o_orderkey, o.o_custkey, d.version, d.acctbal
         FROM (SELECT o_orderkey, o_custkey,
             CAST(o_orderdate AS DATE) AS o_date FROM orders) o
           JOIN dim d ON o.o_custkey = d.c_custkey
             AND o.o_date >= d.valid_from
             AND (d.valid_to IS NULL OR o.o_date < d.valid_to)
         ORDER BY o_orderkey""",
    "q_profile_orders" ->
      """SELECT col_name, CAST(n_rows AS BIGINT) AS n_rows,
           CAST(n_nulls AS BIGINT) AS n_nulls, CAST(n_distinct AS BIGINT) AS n_distinct
         FROM (
           SELECT 'o_orderkey' AS col_name, count(*) AS n_rows,
             count(*) - count(o_orderkey) AS n_nulls,
             count(DISTINCT o_orderkey) AS n_distinct FROM orders
           UNION ALL
           SELECT 'o_custkey', count(*), count(*) - count(o_custkey),
             count(DISTINCT o_custkey) FROM orders
           UNION ALL
           SELECT 'o_orderstatus', count(*), count(*) - count(o_orderstatus),
             count(DISTINCT o_orderstatus) FROM orders
           UNION ALL
           SELECT 'o_totalprice', count(*), count(*) - count(o_totalprice),
             count(DISTINCT o_totalprice) FROM orders
           UNION ALL
           SELECT 'o_orderdate', count(*), count(*) - count(o_orderdate),
             count(DISTINCT o_orderdate) FROM orders
           UNION ALL
           SELECT 'o_orderpriority', count(*), count(*) - count(o_orderpriority),
             count(DISTINCT o_orderpriority) FROM orders)
         ORDER BY col_name""",
    "q_profile_events" ->
      """SELECT col_name, CAST(n_rows AS BIGINT) AS n_rows,
           CAST(n_nulls AS BIGINT) AS n_nulls, CAST(n_distinct AS BIGINT) AS n_distinct
         FROM (
           SELECT 'event_id' AS col_name, count(*) AS n_rows,
             count(*) - count(event_id) AS n_nulls,
             count(DISTINCT event_id) AS n_distinct FROM events
           UNION ALL
           SELECT 'ts', count(*), count(*) - count(ts),
             count(DISTINCT CAST(ts AS TIMESTAMP)) FROM events
           UNION ALL
           SELECT 'user_id', count(*), count(*) - count(user_id),
             count(DISTINCT user_id) FROM events
           UNION ALL
           SELECT 'event_type', count(*), count(*) - count(event_type),
             count(DISTINCT event_type) FROM events
           UNION ALL
           SELECT 'value', count(*), count(*) - count(value),
             count(DISTINCT value) FROM events
           UNION ALL
           SELECT 'props', count(*), count(*) - count(props),
             count(DISTINCT props) FROM events)
         ORDER BY col_name""",
    "q_funnel_stages" ->
      s"""WITH $funnelCtes
         SELECT user_id, stage FROM st ORDER BY user_id""",
    "q_newsvendor" ->
      """WITH daily AS (SELECT CAST(o_orderdate AS DATE) AS day,
           CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
             AS cents FROM orders GROUP BY 1),
         t AS (SELECT count(*) AS n,
             CAST(sum(cents) // count(*) AS BIGINT) AS s_mean FROM daily),
         r AS (SELECT cents,
             CAST(row_number() OVER (ORDER BY cents, day) AS BIGINT)
               AS rk FROM daily),
         st AS (SELECT cents AS s_star FROM r CROSS JOIN t
           WHERE rk = (n * 3 + 3) // 4)
         SELECT count(*) AS n_days, max(s_star) AS s_star,
           max(s_mean) AS s_mean,
           CAST(sum(greatest(cents - s_star, 0) * 3
             + greatest(s_star - cents, 0)) AS BIGINT) AS cost_star,
           CAST(sum(greatest(cents - s_mean, 0) * 3
             + greatest(s_mean - cents, 0)) AS BIGINT) AS cost_mean,
           CAST(sum(greatest(cents - s_mean, 0) * 3
             + greatest(s_mean - cents, 0))
             - sum(greatest(cents - s_star, 0) * 3
             + greatest(s_star - cents, 0)) AS BIGINT) AS saving_cents
         FROM daily CROSS JOIN st CROSS JOIN t""",
    "q_brand_hhi" ->
      """WITH nb AS (SELECT c.c_nationkey, p.p_brand,
           CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT))
             AS BIGINT) AS cents
           FROM lineitem l
           JOIN orders o ON l.l_orderkey = o.o_orderkey
           JOIN customer c ON o.o_custkey = c.c_custkey
           JOIN part p ON l.l_partkey = p.p_partkey
           GROUP BY 1, 2),
         t AS (SELECT c_nationkey, CAST(sum(cents) AS BIGINT)
             AS tot_cents FROM nb GROUP BY 1),
         sh AS (SELECT nb.c_nationkey, t.tot_cents,
             cents * 10000 // t.tot_cents AS share_bp
           FROM nb JOIN t ON nb.c_nationkey = t.c_nationkey)
         SELECT c_nationkey, count(*) AS n_brands,
           max(tot_cents) AS tot_cents,
           CAST(sum(share_bp * share_bp) AS BIGINT) AS hhi,
           CAST(max(share_bp) AS BIGINT) AS top_share_bp
         FROM sh GROUP BY 1 ORDER BY 1""",
    "q_lorenz_curve" ->
      """WITH pc AS (SELECT o_custkey,
           CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
             AS cents FROM orders GROUP BY 1),
         rked AS (SELECT cents,
             CAST(row_number() OVER (ORDER BY cents, o_custkey)
               AS BIGINT) AS rk FROM pc),
         tot AS (SELECT count(*) AS n, CAST(sum(cents) AS HUGEINT) AS s,
             sum(CAST(rk AS HUGEINT) * cents) AS ix FROM rked),
         g AS (SELECT n, s, CAST(2 * ix * 1000000 // (n * s)
             - (n + 1) * 1000000 // n AS BIGINT) AS gini_u FROM tot),
         dd AS (SELECT CAST((rk - 1) * 10 // n AS INT) + 1 AS decile,
             cents, gini_u, s
           FROM rked CROSS JOIN g),
         agg AS (SELECT decile, count(*) AS n_cust,
             CAST(sum(cents) AS BIGINT) AS rev_cents,
             max(gini_u) AS gini_u, max(s) AS s
           FROM dd GROUP BY 1)
         SELECT decile, n_cust, rev_cents,
           CAST(sum(rev_cents) OVER (ORDER BY decile) AS BIGINT)
             AS cum_rev_cents,
           CAST(CAST(sum(rev_cents) OVER (ORDER BY decile) AS HUGEINT)
             * 10000 // s AS BIGINT) AS cum_share_bp,
           gini_u
         FROM agg ORDER BY decile""",
    "q_funnel_dropoff" ->
      s"""WITH $funnelCtes,
         ft AS (SELECT u.user_id, v.view_ts, c.click_ts, p.purchase_ts,
             CAST(concat('0x', substring(md5(concat('fz:',
               CAST(u.user_id AS VARCHAR))), 1, 15)) AS BIGINT) % 2 AS arm
           FROM u LEFT JOIN v ON u.user_id = v.user_id
                  LEFT JOIN c ON u.user_id = c.user_id
                  LEFT JOIN p ON u.user_id = p.user_id),
         e AS (
           SELECT 1 AS t, arm,
             click_ts <= view_ts + INTERVAL 24 HOUR AS fast
           FROM ft WHERE click_ts IS NOT NULL
           UNION ALL
           SELECT 2 AS t, arm,
             purchase_ts <= click_ts + INTERVAL 24 HOUR AS fast
           FROM ft WHERE purchase_ts IS NOT NULL),
         g AS (SELECT t,
             CAST(sum(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_a,
             CAST(sum(CASE WHEN arm = 0 AND fast THEN 1 ELSE 0 END)
               AS BIGINT) AS conv_a,
             CAST(sum(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_b,
             CAST(sum(CASE WHEN arm = 1 AND fast THEN 1 ELSE 0 END)
               AS BIGINT) AS conv_b
           FROM e GROUP BY t),
         z AS (SELECT *,
           CASE WHEN conv_a + conv_b = 0 OR conv_a + conv_b = n_a + n_b
             THEN CAST(NULL AS BIGINT)
             ELSE CAST(round((CAST(conv_a AS DOUBLE) / n_a
               - CAST(conv_b AS DOUBLE) / n_b)
             / sqrt(CAST(conv_a + conv_b AS DOUBLE) / (n_a + n_b)
                 * (1.0 - CAST(conv_a + conv_b AS DOUBLE) / (n_a + n_b))
                 * (1.0 / n_a + 1.0 / n_b))
             * 1000) AS BIGINT) END AS z_milli FROM g)
         SELECT CAST(t AS INT) AS t, n_a, conv_a, n_b, conv_b,
           conv_a * 10000 // n_a AS rate_a_bp,
           conv_b * 10000 // n_b AS rate_b_bp,
           z_milli,
           coalesce(abs(z_milli) > 1960, false) AS significant_5pct
         FROM z ORDER BY t""",
    "q_repetition_scores" ->
      s"""WITH d AS (SELECT doc_id, $toks AS toks FROM documents),
         tc AS (SELECT doc_id, tok, count(*) AS n
           FROM (SELECT doc_id, unnest(toks) AS tok FROM d)
           GROUP BY doc_id, tok),
         ts AS (SELECT doc_id, CAST(sum(n) AS BIGINT) AS n_tokens,
             count(*) AS n_distinct, max(n) AS max_n
           FROM tc GROUP BY doc_id),
         gc AS (SELECT doc_id, g, count(*) AS c
           FROM (SELECT doc_id, unnest(list_transform(
               generate_series(1, len(toks) - 1),
               i -> toks[i] || ' ' || toks[i+1])) AS g
             FROM d WHERE len(toks) >= 2)
           GROUP BY doc_id, g),
         gs AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_grams,
             CAST(sum(CASE WHEN c >= 2 THEN c ELSE 0 END) AS BIGINT) AS n_dup
           FROM gc GROUP BY doc_id)
         SELECT ts.doc_id, n_tokens,
           round(CAST(n_distinct AS DOUBLE) / n_tokens, 4) AS distinct_ratio,
           round(CAST(max_n AS DOUBLE) / n_tokens, 4) AS top_tok_frac,
           round(CAST(coalesce(n_dup, 0) AS DOUBLE) /
             greatest(coalesce(n_grams, 0), 1), 4) AS dup_2gram_frac
         FROM ts LEFT JOIN gs USING (doc_id) ORDER BY doc_id""",
    "q_token_cooccurrence" ->
      s"""WITH dt AS (SELECT doc_id, unnest(list_distinct($toks)) AS tok
           FROM documents),
         df AS (SELECT tok, CAST(count(*) AS BIGINT) AS df FROM dt GROUP BY tok),
         top AS (SELECT tok, df FROM df ORDER BY df DESC, tok LIMIT 40),
         nd AS (SELECT CAST(count(*) AS BIGINT) AS n_docs FROM documents),
         ft AS (SELECT dt.doc_id, dt.tok, top.df FROM dt JOIN top USING (tok)),
         p AS (SELECT a.tok AS tok_a, b.tok AS tok_b, a.df AS df_a, b.df AS df_b,
             CAST(count(*) AS BIGINT) AS n_ab
           FROM ft a JOIN ft b ON a.doc_id = b.doc_id AND a.tok < b.tok
           GROUP BY a.tok, b.tok, a.df, b.df)
         SELECT tok_a, tok_b, n_ab,
           round(CAST(n_ab AS DOUBLE) * n_docs / (df_a * df_b), 4) AS lift
         FROM p, nd WHERE n_ab >= 5
         ORDER BY lift DESC, tok_a, tok_b LIMIT 50""",
    "q_seq_packing" ->
      s"""WITH d AS (SELECT lang, doc_id, CAST(len($toks) AS BIGINT) AS n_tok
           FROM documents),
         o AS (SELECT lang, doc_id, n_tok,
             CAST(sum(n_tok) OVER (PARTITION BY lang ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
               - n_tok AS off
           FROM d)
         SELECT lang, off // ${operators.Packing.PackBudget} AS bin,
           count(*) AS n_docs, CAST(sum(n_tok) AS BIGINT) AS n_tokens,
           min(doc_id) AS first_doc, max(doc_id) AS last_doc
         FROM o GROUP BY lang, bin ORDER BY lang, bin""",
    "q_context_windows" ->
      s"""SELECT doc_id,
           CAST(start_tok // ${operators.Packing.WindowStride} AS INT) AS win_id,
           start_tok,
           least(start_tok + ${operators.Packing.WindowSize}, n_tok) AS end_tok
         FROM (SELECT doc_id, n_tok, unnest(generate_series(0,
                 greatest(n_tok - 1, 0), ${operators.Packing.WindowStride})) AS start_tok
               FROM (SELECT doc_id, CAST(len($toks) AS BIGINT) AS n_tok
                     FROM documents))
         ORDER BY doc_id, win_id""",
    "q_quant_stats" ->
      """WITH e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v
           FROM embeddings),
         s AS (SELECT vec_id, label, v,
             list_max(list_transform(v, x -> abs(x))) / 127.0 AS scale FROM e),
         q AS (SELECT vec_id, label, v, scale,
             list_transform(v, x -> CASE WHEN scale = 0 THEN 0.0
               ELSE round(x / scale) END) AS qv FROM s),
         r AS (SELECT vec_id, label, scale, qv,
             list_transform(generate_series(1, len(v)),
               i -> v[i] - qv[i] * scale) AS err, len(v) AS dim FROM q)
         SELECT vec_id, label,
           CAST(list_max(list_transform(qv, x -> abs(x))) AS INT) AS max_abs_q,
           CAST(list_sum(list_transform(qv, x -> CAST(abs(x) AS BIGINT))) AS BIGINT) AS sum_abs_q,
           round(list_dot_product(err, err) / dim * 1e9, 4) AS mse_nano
         FROM r ORDER BY vec_id""",
    "q_quantized_recall" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         s AS (SELECT vec_id, v,
             list_max(list_transform(v, x -> abs(x))) / 127.0 AS sc FROM e),
         rq AS (SELECT vec_id, v, list_transform(v,
             x -> CASE WHEN sc = 0 THEN 0.0 ELSE round(x / sc) * sc END) AS q
           FROM s),
         qs AS (SELECT vec_id AS qid, v AS qv FROM e WHERE vec_id < 20),
         ex AS (SELECT qid, vec_id FROM (
             SELECT q.qid, r.vec_id, row_number() OVER (PARTITION BY q.qid
                 ORDER BY round(list_cosine_similarity(r.v, q.qv), 4) DESC,
                   r.vec_id) AS rn
             FROM rq r, qs q WHERE r.vec_id <> q.qid)
           WHERE rn <= 5),
         qz AS (SELECT qid, vec_id FROM (
             SELECT q.qid, r.vec_id, row_number() OVER (PARTITION BY q.qid
                 ORDER BY round(list_cosine_similarity(r.q, q.qv), 4) DESC,
                   r.vec_id) AS rn
             FROM rq r, qs q WHERE r.vec_id <> q.qid)
           WHERE rn <= 5)
         SELECT ex.qid AS query_id, CAST(count(*) AS BIGINT) AS n_exact,
           CAST(sum(CASE WHEN qz.vec_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
             AS n_overlap,
           round(CAST(sum(CASE WHEN qz.vec_id IS NOT NULL THEN 1 ELSE 0 END)
             AS DOUBLE) / count(*), 4) AS recall
         FROM ex LEFT JOIN qz ON qz.qid = ex.qid AND qz.vec_id = ex.vec_id
         GROUP BY ex.qid ORDER BY query_id""",
    // Identical oracle to q_pq_topk by design: the stored codes table
    // changes where assignment work happens (index build vs query time),
    // never the ADC result
    "q_pq_topk_indexed" ->
      s"""$pqCtes,
         lut AS (SELECT j, cid, d AS qd FROM ad WHERE vec_id = 0),
         adc AS (SELECT asg.vec_id, CAST(sum(lut.qd) AS BIGINT) AS adc
           FROM asg JOIN lut USING (j, cid) GROUP BY asg.vec_id)
         SELECT vec_id, adc,
           round(sqrt(CAST(adc AS DOUBLE) / 1000000000000.0), 4) AS adc_l2
         FROM adc WHERE vec_id <> 0 ORDER BY adc, vec_id LIMIT 10""",
    "q_pq_topk" ->
      s"""$pqCtes,
         lut AS (SELECT j, cid, d AS qd FROM ad WHERE vec_id = 0),
         adc AS (SELECT asg.vec_id, CAST(sum(lut.qd) AS BIGINT) AS adc
           FROM asg JOIN lut USING (j, cid) GROUP BY asg.vec_id)
         SELECT vec_id, adc,
           round(sqrt(CAST(adc AS DOUBLE) / 1000000000000.0), 4) AS adc_l2
         FROM adc WHERE vec_id <> 0 ORDER BY adc, vec_id LIMIT 10""",
    "q_ivfpq_topk" ->
      s"""$pqCtes,
         cc AS (SELECT vec_id AS ccid, v AS cv FROM e WHERE vec_id < 8),
         ca AS (SELECT e.vec_id, c.ccid,
             list_cosine_similarity(e.v, c.cv) AS sim FROM e CROSS JOIN cc c),
         cr AS (SELECT vec_id, ccid, row_number() OVER (PARTITION BY vec_id
             ORDER BY sim DESC, ccid) AS rn FROM ca),
         casg AS (SELECT vec_id, ccid FROM cr WHERE rn = 1),
         qc AS (SELECT ccid AS qcid FROM casg WHERE vec_id = 0),
         cell AS (SELECT casg.vec_id FROM casg CROSS JOIN qc
           WHERE casg.ccid = qc.qcid),
         lut AS (SELECT j, cid, d AS qd FROM ad WHERE vec_id = 0),
         adc AS (SELECT asg.vec_id, CAST(sum(lut.qd) AS BIGINT) AS adc
           FROM asg JOIN lut USING (j, cid)
             JOIN cell ON cell.vec_id = asg.vec_id
           GROUP BY asg.vec_id)
         SELECT vec_id, adc,
           round(sqrt(CAST(adc AS DOUBLE) / 1000000000000.0), 4) AS adc_l2
         FROM adc WHERE vec_id <> 0 ORDER BY adc, vec_id LIMIT 10""",
    "q_pq_recall" ->
      s"""$pqCtes,
         q AS (SELECT vec_id AS qid, v AS qv FROM e WHERE vec_id < 20),
         ex0 AS (SELECT q.qid, e.vec_id,
             CAST(round((e.v[i] - q.qv[i]) * (e.v[i] - q.qv[i])
               * 1000000000000.0) AS BIGINT) AS t
           FROM e CROSS JOIN q
           CROSS JOIN (SELECT unnest(generate_series(1, 64)) AS i)
           WHERE e.vec_id <> q.qid),
         ex AS (SELECT qid, vec_id, CAST(sum(t) AS BIGINT) AS d
           FROM ex0 GROUP BY qid, vec_id),
         exk AS (SELECT qid, vec_id FROM (
             SELECT qid, vec_id,
               row_number() OVER (PARTITION BY qid ORDER BY d, vec_id) AS rn
             FROM ex) WHERE rn <= 5),
         lut AS (SELECT vec_id AS qid, j, cid, d AS qd FROM ad
           WHERE vec_id < 20),
         adc AS (SELECT lut.qid, asg.vec_id, CAST(sum(lut.qd) AS BIGINT) AS adc
           FROM asg JOIN lut USING (j, cid) WHERE asg.vec_id <> lut.qid
           GROUP BY lut.qid, asg.vec_id),
         adck AS (SELECT qid, vec_id FROM (
             SELECT qid, vec_id,
               row_number() OVER (PARTITION BY qid ORDER BY adc, vec_id) AS rn
             FROM adc) WHERE rn <= 5)
         SELECT exk.qid AS query_id, CAST(count(*) AS BIGINT) AS n_exact,
           CAST(sum(CASE WHEN adck.vec_id IS NOT NULL THEN 1 ELSE 0 END)
             AS BIGINT) AS n_overlap,
           round(CAST(sum(CASE WHEN adck.vec_id IS NOT NULL THEN 1 ELSE 0 END)
             AS DOUBLE) / count(*), 4) AS recall
         FROM exk LEFT JOIN adck
           ON adck.qid = exk.qid AND adck.vec_id = exk.vec_id
         GROUP BY exk.qid ORDER BY query_id""",
    "q_semdedup" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         c AS (SELECT vec_id AS cid, v AS cv FROM e WHERE vec_id < 8),
         a AS (SELECT e.vec_id, e.v, c.cid,
             list_cosine_similarity(e.v, c.cv) AS sim FROM e, c),
         r AS (SELECT vec_id, v, cid,
             row_number() OVER (PARTITION BY vec_id ORDER BY sim DESC, cid) AS rn
           FROM a),
         asg AS (SELECT vec_id, v, cid FROM r WHERE rn = 1),
         ls AS (SELECT a2.vec_id,
             max(round(list_cosine_similarity(a2.v, b.v), 4)) AS mx
           FROM asg a2 JOIN asg b ON a2.cid = b.cid AND b.vec_id < a2.vec_id
           GROUP BY a2.vec_id)
         SELECT asg.vec_id, asg.cid AS cluster_id,
           coalesce(ls.mx, -9.0) AS max_sim_lower,
           coalesce(ls.mx, -9.0) < 0.3 AS kept
         FROM asg LEFT JOIN ls ON ls.vec_id = asg.vec_id
         ORDER BY asg.vec_id""",
    "q_semantic_decontamination" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
           CAST(concat('0x', substring(md5(concat('split:', CAST(vec_id AS VARCHAR))), 1, 15)) AS BIGINT) % 100 AS b
           FROM embeddings),
         tr AS (SELECT vec_id, v FROM e WHERE b < 80),
         ev AS (SELECT vec_id AS eval_id, v AS ev FROM e WHERE b >= 90),
         sc AS (SELECT ev.eval_id, tr.vec_id,
             round(list_cosine_similarity(tr.v, ev.ev), 4) AS cs,
             row_number() OVER (PARTITION BY ev.eval_id
               ORDER BY round(list_cosine_similarity(tr.v, ev.ev), 4) DESC,
                 tr.vec_id) AS rn
           FROM tr, ev)
         SELECT eval_id, vec_id AS train_id, cs AS cos_sim,
           cs >= 0.3 AS contaminated
         FROM sc WHERE rn = 1 ORDER BY eval_id""",
    "q_semantic_decon_indexed" ->
      s"""WITH e0 AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
           CAST(concat('0x', substring(md5(concat('split:', CAST(vec_id AS VARCHAR))), 1, 15)) AS BIGINT) % 100 AS bkt
           FROM embeddings),
         e AS (SELECT vec_id, v FROM e0),
         $EmbLshPlSgCte,
         cand AS (SELECT DISTINCT y.vec_id AS eval_id, x.vec_id AS train_id
           FROM sg x JOIN sg y ON x.band = y.band AND x.sig = y.sig
           JOIN e0 tx ON tx.vec_id = x.vec_id AND tx.bkt < 80
           JOIN e0 ty ON ty.vec_id = y.vec_id AND ty.bkt >= 90),
         ver AS (SELECT c.eval_id, c.train_id,
             round(list_cosine_similarity(a.v, b.v), 4) AS cs
           FROM cand c JOIN e0 a ON a.vec_id = c.train_id
             JOIN e0 b ON b.vec_id = c.eval_id),
         best AS (SELECT eval_id, train_id, cs FROM (
             SELECT eval_id, train_id, cs, row_number() OVER (
               PARTITION BY eval_id ORDER BY cs DESC, train_id) AS rn
             FROM ver) WHERE rn = 1)
         SELECT ev.vec_id AS eval_id,
           coalesce(b.train_id, CAST(-1 AS BIGINT)) AS train_id,
           coalesce(b.cs, -9.0) AS cos_sim,
           coalesce(b.cs >= 0.3, FALSE) AS contaminated
         FROM (SELECT vec_id FROM e0 WHERE bkt >= 90) ev
         LEFT JOIN best b ON b.eval_id = ev.vec_id
         ORDER BY eval_id""",
    "q_blob_metadata" ->
      """SELECT lang, count(*) AS n_docs,
         CAST(sum(n_bytes) AS BIGINT) AS sum_bytes,
         max(n_bytes) AS max_bytes,
         CAST(sum(n_chunks) AS BIGINT) AS sum_chunks
         FROM (SELECT lang, strlen(text) AS n_bytes,
                 CAST(ceil(strlen(text) / 64.0) AS BIGINT) AS n_chunks
               FROM documents)
         GROUP BY lang ORDER BY lang""",
    // -- round-4 additions -------------------------------------------------
    // Exact Pearson corr/cov from fixed-point integer moments: the 2-dp
    // stored doubles recover exactly as ×100 longs, sums are associative
    // (engine- and partition-order-independent), and the double formula
    // has identical association on both sides.
    "q_corr_stats" ->
      """WITH t AS (SELECT l_returnflag,
           CAST(round(l_quantity * 100) AS BIGINT) AS x,
           CAST(round(l_extendedprice * 100) AS BIGINT) AS y
         FROM lineitem),
         s AS (SELECT l_returnflag, count(*) AS n,
           CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
           sum(CAST(x AS HUGEINT) * y) AS sxy,
           sum(CAST(x AS HUGEINT) * x) AS sxx,
           sum(CAST(y AS HUGEINT) * y) AS syy
         FROM t GROUP BY l_returnflag)
         SELECT l_returnflag, n,
           round((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
               - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE)) /
             (sqrt(CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                 - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) *
              sqrt(CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
                 - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))), 6) AS corr_qty_price,
           round((CAST(sxy AS DOUBLE)
               - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE) / CAST(n AS DOUBLE))
             / CAST(n AS DOUBLE) / 10000.0, 4) AS cov_qty_price
         FROM s ORDER BY l_returnflag""",
    // Window frame: trailing 7-row moving average over the daily rollup;
    // window sums stay DECIMAL-exact until the final double division.
    "q_moving_avg_revenue" ->
      """WITH daily AS (SELECT CAST(o_orderdate AS DATE) AS day,
           sum(CAST(o_totalprice AS DECIMAL(12,2))) AS rev
         FROM orders GROUP BY 1)
         SELECT day, CAST(round(rev, 2) AS DOUBLE) AS daily_rev,
           round(CAST(sum(rev) OVER w AS DOUBLE) / count(*) OVER w, 4) AS avg_7d
         FROM daily
         WINDOW w AS (ORDER BY day ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)
         ORDER BY day""",
    "q_nations_listagg" ->
      """SELECT r_name, count(*) AS n_nations,
         string_agg(n_name, ',' ORDER BY n_name) AS nations
         FROM nation JOIN region ON n_regionkey = r_regionkey
         GROUP BY r_name ORDER BY r_name""",
    // Gaps-and-islands: day-index minus row_number is constant within a
    // run of consecutive active days. All-integer math.
    "q_activity_streaks" ->
      """WITH ud AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS day
           FROM events),
         i AS (SELECT user_id, day,
           date_diff('day', DATE '2024-01-01', day)
             - row_number() OVER (PARTITION BY user_id ORDER BY day) AS island
         FROM ud),
         runs AS (SELECT user_id, island, count(*) AS len
           FROM i GROUP BY user_id, island)
         SELECT user_id, count(*) AS n_streaks,
           CAST(max(len) AS BIGINT) AS max_streak,
           CAST(sum(len) AS BIGINT) AS n_active_days
         FROM runs GROUP BY user_id ORDER BY user_id""",
    "q_value_histogram" ->
      """WITH b AS (SELECT CAST(floor(value / 10) AS INT) AS bin,
           count(*) AS n_events
         FROM events GROUP BY 1)
         SELECT bin, CAST(bin * 10 AS DOUBLE) AS bin_lo, n_events,
           round(CAST(n_events AS DOUBLE) / sum(n_events) OVER (), 4) AS share
         FROM b ORDER BY bin""",
    // Exact interpolated median via middle row_number ranks — engine
    // median()/quantile implementations differ; picking the middle one or
    // two values by rank and averaging is formula-identical everywhere.
    "q_median_value" ->
      """WITH t AS (SELECT event_type, value,
           row_number() OVER (PARTITION BY event_type ORDER BY value) AS rn,
           count(*) OVER (PARTITION BY event_type) AS n
         FROM events)
         SELECT event_type, round(sum(value) / count(*), 4) AS median_value,
           CAST(max(n) AS BIGINT) AS n_events
         FROM t WHERE rn = (n + 1) // 2 OR rn = n // 2 + 1
         GROUP BY event_type ORDER BY event_type""",
    // Trailing 7-day distinct users. The oracle's range join is fine at
    // oracle scale; the Spark side uses the linear explode-to-window-day
    // shape instead (see Events.rollingActiveUsers).
    "q_rolling_active_users" ->
      """WITH ud AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS day
           FROM events),
         days AS (SELECT DISTINCT day FROM ud)
         SELECT d.day, count(DISTINCT u.user_id) AS n_users_7d
         FROM days d JOIN ud u ON u.day BETWEEN d.day - 6 AND d.day
         GROUP BY d.day ORDER BY d.day""",
    // Exact skewness from ×1e4 fixed-point power sums (scale cancels);
    // v³ exceeds 64-bit range so the cube sum accumulates as HUGEINT /
    // DECIMAL — both exact, both converting to the same double.
    "q_value_skewness" ->
      """WITH t AS (SELECT event_type,
           CAST(round(value * 10000) AS BIGINT) AS v FROM events),
         s AS (SELECT event_type, count(*) AS n,
           CAST(sum(v) AS BIGINT) AS sv,
           sum(CAST(v AS HUGEINT) * v) AS sv2,
           sum(CAST(v AS HUGEINT) * v * v) AS sv3
         FROM t GROUP BY event_type)
         SELECT event_type, n,
           round((CAST(sv3 AS DOUBLE) / n
               - 3.0 * (CAST(sv AS DOUBLE) / n) * (CAST(sv2 AS DOUBLE) / n)
               + 2.0 * (CAST(sv AS DOUBLE) / n) * (CAST(sv AS DOUBLE) / n)
                     * (CAST(sv AS DOUBLE) / n)) /
             pow(CAST(sv2 AS DOUBLE) / n
               - (CAST(sv AS DOUBLE) / n) * (CAST(sv AS DOUBLE) / n), 1.5), 4)
             AS skewness
         FROM s ORDER BY event_type""",
    // Welch t / Satterthwaite df / Cohen's d: exact integer moments
    // (HUGEINT/DECIMAL sum of squares), then ONE shared float shape.
    "q_welch_ttest" ->
      """WITH g AS (SELECT (c_mktsegment = 'BUILDING') AS treated,
           CAST(count(*) AS BIGINT) AS n,
           CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
             AS s,
           sum(CAST(round(o_totalprice * 100) AS BIGINT) *
               CAST(round(o_totalprice * 100) AS BIGINT)) AS ss
           FROM orders JOIN customer ON c_custkey = o_custkey GROUP BY 1),
         j AS (SELECT t.n AS n1, t.s AS s1, t.ss AS ss1,
             c.n AS n2, c.s AS s2, c.ss AS ss2
           FROM (SELECT * FROM g WHERE treated) t,
                (SELECT * FROM g WHERE NOT treated) c),
         k AS (SELECT *,
             CAST(s1 AS DOUBLE) / CAST(n1 AS DOUBLE) AS m1,
             CAST(s2 AS DOUBLE) / CAST(n2 AS DOUBLE) AS m2,
             (CAST(ss1 AS DOUBLE) - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE)
               / CAST(n1 AS DOUBLE)) / (CAST(n1 AS DOUBLE) - 1.0) AS v1,
             (CAST(ss2 AS DOUBLE) - CAST(s2 AS DOUBLE) * CAST(s2 AS DOUBLE)
               / CAST(n2 AS DOUBLE)) / (CAST(n2 AS DOUBLE) - 1.0) AS v2
           FROM j),
         l AS (SELECT *,
             v1 / CAST(n1 AS DOUBLE) + v2 / CAST(n2 AS DOUBLE) AS se2
           FROM k)
         SELECT n1 AS n_treated, n2 AS n_control,
           CAST(s1 // n1 AS BIGINT) AS mean_t_cents,
           CAST(s2 // n2 AS BIGINT) AS mean_c_cents,
           CAST(round((m1 - m2) / sqrt(se2) * 1000) AS BIGINT) AS t_milli,
           CAST(round(se2 * se2 /
             ((v1 / CAST(n1 AS DOUBLE)) * (v1 / CAST(n1 AS DOUBLE))
                / (CAST(n1 AS DOUBLE) - 1.0) +
              (v2 / CAST(n2 AS DOUBLE)) * (v2 / CAST(n2 AS DOUBLE))
                / (CAST(n2 AS DOUBLE) - 1.0)) * 1000) AS BIGINT)
             AS df_milli,
           CAST(round((m1 - m2) / sqrt(
             ((CAST(n1 AS DOUBLE) - 1.0) * v1 +
              (CAST(n2 AS DOUBLE) - 1.0) * v2) /
             (CAST(n1 AS DOUBLE) + CAST(n2 AS DOUBLE) - 2.0)) * 1000)
             AS BIGINT) AS d_milli
         FROM l""",
    // χ² over the dense type×weekday grid: per-cell wide-int floor
    // division keeps the statistic exact; the family window is 35 rows.
    "q_chi_square" ->
      """WITH cells AS (SELECT event_type,
           CAST(date_part('isodow', CAST(ts AS DATE)) - 1 AS BIGINT) AS wd,
           CAST(count(*) AS BIGINT) AS o FROM events GROUP BY 1, 2),
         rt AS (SELECT event_type, CAST(sum(o) AS BIGINT) AS r
           FROM cells GROUP BY 1),
         ct AS (SELECT wd, CAST(sum(o) AS BIGINT) AS c FROM cells
           GROUP BY 1),
         tot AS (SELECT CAST(sum(o) AS BIGINT) AS n,
             CAST(count(DISTINCT event_type) AS BIGINT) AS n_types,
             CAST(count(DISTINCT wd) AS BIGINT) AS n_wd FROM cells),
         grid AS (SELECT rt.event_type, ct.wd, rt.r, ct.c,
             coalesce(cells.o, 0) AS o
           FROM rt CROSS JOIN ct LEFT JOIN cells
             ON cells.event_type = rt.event_type AND cells.wd = ct.wd),
         t AS (SELECT g.event_type, g.wd, g.o, tot.n, tot.n_types,
             tot.n_wd,
             CAST(CAST(g.r AS HUGEINT) * g.c * 1000000 // tot.n AS BIGINT)
               AS e_micro,
             CAST((CAST(g.o AS HUGEINT) * tot.n
                   - CAST(g.r AS HUGEINT) * g.c) *
                  (CAST(g.o AS HUGEINT) * tot.n
                   - CAST(g.r AS HUGEINT) * g.c) * 1000000
                  // (CAST(g.r AS HUGEINT) * g.c * tot.n) AS BIGINT)
               AS term_u
           FROM grid g CROSS JOIN tot)
         SELECT event_type, wd, o, e_micro, term_u,
           CAST(sum(term_u) OVER () AS BIGINT) AS chi2_u,
           (n_types - 1) * (n_wd - 1) AS dof,
           CAST(round(sqrt(
             CAST(CAST(sum(term_u) OVER () AS BIGINT) AS DOUBLE)
               / 1000000.0 /
             CAST(n * least(n_types - 1, n_wd - 1) AS DOUBLE)) * 1000)
             AS BIGINT) AS v_milli
         FROM t ORDER BY event_type, wd""",
    // One-way ANOVA: all-integer SS split in micro-units; F itself is
    // one integer floor division — exact milli, no float anywhere.
    "q_anova_f" ->
      """WITH g AS (SELECT o_orderpriority, CAST(count(*) AS BIGINT)
             AS n_g,
           CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
             AS s_g,
           sum(CAST(round(o_totalprice * 100) AS BIGINT) *
               CAST(round(o_totalprice * 100) AS BIGINT)) AS ss_g
           FROM orders GROUP BY 1),
         g2 AS (SELECT *, CAST(s_g AS HUGEINT) * s_g * 1000000 // n_g
             AS a_u FROM g),
         fam AS (SELECT CAST(sum(n_g) AS BIGINT) AS n,
             sum(CAST(s_g AS HUGEINT)) AS s_tot, sum(ss_g) AS ss_tot,
             CAST(count(*) AS BIGINT) AS k, sum(a_u) AS a_u FROM g2),
         fam2 AS (SELECT k, n, a_u,
             s_tot * s_tot * 1000000 // n AS b_u,
             ss_tot * 1000000 AS ss_u FROM fam),
         fam3 AS (SELECT k, n, a_u - b_u AS ssb_u, ss_u - a_u AS ssw_u,
             ss_u - b_u AS sst_u FROM fam2),
         fam4 AS (SELECT k, n,
             CAST(ssb_u * (n - k) * 1000 // (ssw_u * (k - 1)) AS BIGINT)
               AS f_milli,
             CAST(ssb_u * 10000 // sst_u AS BIGINT) AS eta_sq_bp
           FROM fam3)
         SELECT g.o_orderpriority, g.n_g,
           CAST(g.s_g // g.n_g AS BIGINT) AS mean_cents,
           fam4.k, fam4.n, fam4.f_milli, fam4.eta_sq_bp
         FROM g CROSS JOIN fam4 ORDER BY g.o_orderpriority""",
    // Kendall τ-b: concordance over calendar² day pairs + tie-corrected
    // denominator (tie sums kept doubled to stay integer).
    "q_kendall_tau" ->
      """WITH daily AS (SELECT CAST(o_orderdate AS DATE) AS day,
           CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
             AS x,
           CAST(count(*) AS BIGINT) AS y FROM orders GROUP BY 1),
         p AS (SELECT CAST(sum(CASE
               WHEN (a.x - b.x) * (a.y - b.y) > 0 THEN 1
               WHEN (a.x - b.x) * (a.y - b.y) < 0 THEN -1 ELSE 0 END)
               AS BIGINT) AS nc_minus_nd,
             CAST(count(*) AS BIGINT) AS n0
           FROM daily a JOIN daily b ON a.day < b.day),
         t1 AS (SELECT CAST(sum(t * (t - 1)) AS BIGINT) AS n1x2 FROM
           (SELECT CAST(count(*) AS BIGINT) AS t FROM daily GROUP BY x)),
         t2 AS (SELECT CAST(sum(t * (t - 1)) AS BIGINT) AS n2x2 FROM
           (SELECT CAST(count(*) AS BIGINT) AS t FROM daily GROUP BY y)),
         nd AS (SELECT CAST(count(*) AS BIGINT) AS n_days FROM daily)
         SELECT n_days, n0, nc_minus_nd,
           CAST(n1x2 // 2 AS BIGINT) AS n1,
           CAST(n2x2 // 2 AS BIGINT) AS n2,
           CAST(round(CAST(nc_minus_nd AS DOUBLE) /
             sqrt(CAST(n0 - n1x2 // 2 AS DOUBLE) *
                  CAST(n0 - n2x2 // 2 AS DOUBLE)) * 1000) AS BIGINT)
             AS tau_milli
         FROM p CROSS JOIN t1 CROSS JOIN t2 CROSS JOIN nd""",
    // AP: precision@rank at each positive, exact micro floor divisions.
    "q_average_precision" ->
      """WITH r AS (SELECT event_id, value,
           (event_type = 'purchase') AS pos,
           CAST(row_number() OVER (ORDER BY value DESC, event_id)
             AS BIGINT) AS rk_all FROM events),
         p AS (SELECT rk_all,
             CAST(row_number() OVER (ORDER BY rk_all) AS BIGINT) AS rk
           FROM r WHERE pos),
         a AS (SELECT CAST(count(*) AS BIGINT) AS n_pos,
             CAST(sum(rk * 1000000 // rk_all) AS BIGINT) AS sum_prec_u
           FROM p),
         t AS (SELECT CAST(count(*) AS BIGINT) AS n_events,
             CAST(sum(CASE WHEN pos AND rk_all <= 100 THEN 1 ELSE 0 END)
               AS BIGINT) AS pos_at_100 FROM r)
         SELECT n_events, n_pos,
           CAST(sum_prec_u // n_pos AS BIGINT) AS ap_u,
           CAST(pos_at_100 * 10000 // 100 AS BIGINT) AS p_at_100_bp
         FROM t CROSS JOIN a""",
    // Holdout calibration: md5 split (the q_hash_split hash), fixed
    // 50-wide value bins, test-mass-weighted |gap| = ECE in bp.
    "q_holdout_calibration" ->
      """WITH ev AS (SELECT
           CAST(concat('0x', substring(md5(concat('cal:',
             CAST(event_id AS VARCHAR))), 1, 15)) AS BIGINT) % 100 AS b,
           least(9, CAST(floor(value / 50.0) AS BIGINT)) AS bin,
           (event_type = 'purchase') AS pos FROM events),
         tr AS (SELECT bin, CAST(count(*) AS BIGINT) AS n_train,
             CAST(sum(CASE WHEN pos THEN 1 ELSE 0 END) AS BIGINT)
               AS pos_train FROM ev WHERE b < 50 GROUP BY 1),
         te AS (SELECT bin, CAST(count(*) AS BIGINT) AS n_test,
             CAST(sum(CASE WHEN pos THEN 1 ELSE 0 END) AS BIGINT)
               AS pos_test FROM ev WHERE b >= 50 GROUP BY 1),
         j AS (SELECT tr.bin, n_train,
             CAST(pos_train * 10000 // n_train AS BIGINT) AS r_train_bp,
             n_test,
             CAST(pos_test * 10000 // n_test AS BIGINT) AS r_test_bp
           FROM tr JOIN te ON tr.bin = te.bin),
         w AS (SELECT *, abs(r_train_bp - r_test_bp) AS gap_bp FROM j)
         SELECT bin, n_train, r_train_bp, n_test, r_test_bp, gap_bp,
           CAST(sum(n_test * gap_bp) OVER () // sum(n_test) OVER ()
             AS BIGINT) AS ece_bp
         FROM w ORDER BY bin""",
    // Link prediction on the LSH candidate graph: wedges through
    // fanout-capped centers; is_edge separates known links (threshold
    // calibration) from predicted ones.
    "q_link_prediction" ->
      s"""WITH $minhashCtes,
         p AS ($minhashPairsSelect),
         ed AS (SELECT doc_a AS a, doc_b AS b FROM p
                UNION ALL SELECT doc_b, doc_a FROM p),
         dg AS (SELECT a, CAST(count(*) AS BIGINT) AS d FROM ed
           GROUP BY a),
         wg AS (SELECT e1.b AS ua, e2.b AS ub,
             CAST(count(*) AS BIGINT) AS cn,
             CAST(sum(1000000 // dz.d) AS BIGINT) AS ra_u
           FROM ed e1 JOIN dg dz ON dz.a = e1.a AND dz.d <= 64
             JOIN ed e2 ON e2.a = e1.a AND e1.b < e2.b
           GROUP BY 1, 2),
         ne AS (SELECT ua, ub, cn, ra_u,
             (p.doc_a IS NOT NULL) AS is_edge
           FROM wg LEFT JOIN p
             ON p.doc_a = wg.ua AND p.doc_b = wg.ub)
         SELECT ne.ua AS doc_a, ne.ub AS doc_b, is_edge, cn, ra_u,
           CAST(cn * 10000 // (du.d + dw.d - cn) AS BIGINT) AS jacc_bp,
           CAST(du.d * dw.d AS BIGINT) AS pa
         FROM ne JOIN dg du ON du.a = ne.ua JOIN dg dw ON dw.a = ne.ub
         ORDER BY doc_a, doc_b""",
    // HITS, two max-normalized half-steps over the distinct
    // supplier→customer supply edges.
    "q_hits" ->
      """WITH e AS (SELECT DISTINCT l_suppkey AS sk, o_custkey AS ck
           FROM lineitem JOIN orders ON o_orderkey = l_orderkey),
         a1 AS (SELECT ck, CAST(count(*) * 1000000 AS BIGINT) AS a_raw
           FROM e GROUP BY ck),
         a1n AS (SELECT ck, CAST(a_raw * 1000000 //
             (SELECT max(a_raw) FROM a1) AS BIGINT) AS a_u FROM a1),
         h1 AS (SELECT sk, CAST(sum(a_u) AS BIGINT) AS h_raw
           FROM e JOIN a1n USING (ck) GROUP BY sk),
         h1n AS (SELECT sk, CAST(h_raw * 1000000 //
             (SELECT max(h_raw) FROM h1) AS BIGINT) AS h_u FROM h1),
         a2 AS (SELECT ck, CAST(sum(h_u) AS BIGINT) AS a_raw
           FROM e JOIN h1n USING (sk) GROUP BY ck),
         a2n AS (SELECT ck, CAST(a_raw * 1000000 //
             (SELECT max(a_raw) FROM a2) AS BIGINT) AS a_u FROM a2)
         SELECT 'hub' AS role, sk AS node_id, h_u AS score_u FROM h1n
         UNION ALL
         SELECT 'auth' AS role, ck AS node_id, a_u AS score_u FROM a2n
         ORDER BY role, node_id""",
    // TOST equivalence: same moment CTEs as q_welch_ttest, margin =
    // control mean / 100 in exact cents, two one-sided t's in milli.
    "q_tost_equivalence" ->
      """WITH g AS (SELECT (c_mktsegment = 'BUILDING') AS treated,
           CAST(count(*) AS BIGINT) AS n,
           CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
             AS s,
           sum(CAST(round(o_totalprice * 100) AS BIGINT) *
               CAST(round(o_totalprice * 100) AS BIGINT)) AS ss
           FROM orders JOIN customer ON c_custkey = o_custkey GROUP BY 1),
         j AS (SELECT t.n AS n1, t.s AS s1, t.ss AS ss1,
             c.n AS n2, c.s AS s2, c.ss AS ss2
           FROM (SELECT * FROM g WHERE treated) t,
                (SELECT * FROM g WHERE NOT treated) c),
         k AS (SELECT *,
             CAST(s1 AS DOUBLE) / CAST(n1 AS DOUBLE) AS m1,
             CAST(s2 AS DOUBLE) / CAST(n2 AS DOUBLE) AS m2,
             (CAST(ss1 AS DOUBLE) - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE)
               / CAST(n1 AS DOUBLE)) / (CAST(n1 AS DOUBLE) - 1.0) AS v1,
             (CAST(ss2 AS DOUBLE) - CAST(s2 AS DOUBLE) * CAST(s2 AS DOUBLE)
               / CAST(n2 AS DOUBLE)) / (CAST(n2 AS DOUBLE) - 1.0) AS v2
           FROM j),
         l AS (SELECT *,
             sqrt(v1 / CAST(n1 AS DOUBLE) + v2 / CAST(n2 AS DOUBLE)) AS se,
             CAST(s2 // n2 // 100 AS BIGINT) AS delta_cents FROM k),
         m AS (SELECT n1, n2, delta_cents,
             CAST(round((m1 - m2 + CAST(delta_cents AS DOUBLE)) / se
               * 1000) AS BIGINT) AS t_lower_milli,
             CAST(round((m1 - m2 - CAST(delta_cents AS DOUBLE)) / se
               * 1000) AS BIGINT) AS t_upper_milli FROM l)
         SELECT n1 AS n_treated, n2 AS n_control, delta_cents,
           t_lower_milli, t_upper_milli,
           (t_lower_milli > 1645 AND t_upper_milli < -1645) AS equivalent
         FROM m""",
    // Entropy l-diversity: per-band ln terms rounded to integers so the
    // cross-band sum is order-independent; one exp per class.
    "q_entropy_l_diversity" ->
      """WITH cells AS (SELECT c_nationkey, c_mktsegment,
           CASE WHEN c_acctbal < 0 THEN 'debt'
                WHEN c_acctbal < 5000 THEN 'low' ELSE 'high' END AS band,
           CAST(count(*) AS BIGINT) AS cnt
           FROM customer GROUP BY 1, 2, 3),
         tots AS (SELECT c_nationkey, c_mktsegment,
             CAST(sum(cnt) AS BIGINT) AS n,
             CAST(count(*) AS BIGINT) AS l_distinct
           FROM cells GROUP BY 1, 2),
         t AS (SELECT cells.c_nationkey, cells.c_mktsegment, n,
             l_distinct,
             CAST(round(CAST(cnt AS DOUBLE) *
               ln(CAST(n AS DOUBLE) / CAST(cnt AS DOUBLE)) * 1000000)
               AS BIGINT) AS term_u
           FROM cells JOIN tots USING (c_nationkey, c_mktsegment)),
         h AS (SELECT c_nationkey, c_mktsegment,
             max(n) AS class_size, max(l_distinct) AS l_distinct,
             CAST(sum(term_u) AS BIGINT) AS h_sum_u
           FROM t GROUP BY 1, 2),
         h2 AS (SELECT c_nationkey, c_mktsegment, class_size, l_distinct,
             CAST(h_sum_u // class_size AS BIGINT) AS h_micro FROM h),
         h3 AS (SELECT *,
             CAST(round(exp(CAST(h_micro AS DOUBLE) / 1000000.0) * 1000)
               AS BIGINT) AS l_eff_milli FROM h2)
         SELECT c_nationkey, c_mktsegment, class_size, l_distinct,
           h_micro, l_eff_milli, l_eff_milli < 2000 AS l2_risky
         FROM h3 ORDER BY c_nationkey, c_mktsegment""",
    // Median polish: two row/col sweeps; quantile_disc(0.5) is the same
    // lower-middle element the engine's sorted-list index picks.
    "q_median_polish" ->
      """WITH o AS (SELECT c_nationkey,
           CAST(date_part('isodow', CAST(o_orderdate AS DATE)) - 1
             AS BIGINT) AS wd,
           CAST(round(o_totalprice * 100) AS BIGINT) AS cents
           FROM orders JOIN customer ON c_custkey = o_custkey),
         cells AS (SELECT c_nationkey, wd, CAST(sum(cents) AS BIGINT)
             AS v FROM o GROUP BY 1, 2),
         g0 AS (SELECT a.c_nationkey, b.wd, coalesce(c.v, 0) AS v
           FROM (SELECT DISTINCT c_nationkey FROM cells) a
           CROSS JOIN (SELECT DISTINCT wd FROM cells) b
           LEFT JOIN cells c ON c.c_nationkey = a.c_nationkey
             AND c.wd = b.wd),
         rm1 AS (SELECT c_nationkey, quantile_disc(v, 0.5) AS rm1
           FROM g0 GROUP BY 1),
         g1 AS (SELECT g0.c_nationkey, g0.wd, g0.v - rm1 AS v
           FROM g0 JOIN rm1 USING (c_nationkey)),
         cm1 AS (SELECT wd, quantile_disc(v, 0.5) AS cm1 FROM g1
           GROUP BY 1),
         g2 AS (SELECT g1.c_nationkey, g1.wd, g1.v - cm1 AS v
           FROM g1 JOIN cm1 USING (wd)),
         rm2 AS (SELECT c_nationkey, quantile_disc(v, 0.5) AS rm2
           FROM g2 GROUP BY 1),
         g3 AS (SELECT g2.c_nationkey, g2.wd, g2.v - rm2 AS v
           FROM g2 JOIN rm2 USING (c_nationkey)),
         cm2 AS (SELECT wd, quantile_disc(v, 0.5) AS cm2 FROM g3
           GROUP BY 1),
         g4 AS (SELECT g3.c_nationkey, g3.wd, g3.v - cm2 AS v
           FROM g3 JOIN cm2 USING (wd))
         SELECT g0.c_nationkey, g0.wd, g0.v AS cell_cents,
           CAST(rm1.rm1 + rm2.rm2 AS BIGINT) AS row_eff_cents,
           CAST(cm1.cm1 + cm2.cm2 AS BIGINT) AS col_eff_cents,
           CAST(g4.v AS BIGINT) AS resid_cents
         FROM g0 JOIN rm1 USING (c_nationkey) JOIN rm2 USING (c_nationkey)
           JOIN cm1 USING (wd) JOIN cm2 USING (wd)
           JOIN g4 ON g4.c_nationkey = g0.c_nationkey AND g4.wd = g0.wd
         ORDER BY g0.c_nationkey, g0.wd""",
    // ROUGE-2 with clipped (multiset) bigram counts over the LSH
    // candidate pairs; recalls and F in exact bp.
    "q_rouge_pairs" ->
      s"""WITH $minhashCtes,
         p AS ($minhashPairsSelect),
         bi AS (SELECT doc_id, sh, CAST(count(*) AS BIGINT) AS c FROM (
             SELECT doc_id, unnest(list_transform(
               generate_series(1, len(toks) - 1),
               i -> array_to_string(toks[i:i+1], ' '))) AS sh
             FROM docs WHERE len(toks) >= 2)
           GROUP BY doc_id, sh),
         tot AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_bi FROM bi
           GROUP BY doc_id),
         ov AS (SELECT p.doc_a, p.doc_b,
             CAST(sum(least(a.c, b.c)) AS BIGINT) AS ov2
           FROM p JOIN bi a ON a.doc_id = p.doc_a
             JOIN bi b ON b.doc_id = p.doc_b AND b.sh = a.sh
           GROUP BY 1, 2)
         SELECT p.doc_a, p.doc_b, coalesce(ov.ov2, 0) AS ov2,
           coalesce(ta.n_bi, 0) AS n_bi_a, coalesce(tb.n_bi, 0) AS n_bi_b,
           CASE WHEN coalesce(ta.n_bi, 0) > 0 THEN
             CAST(coalesce(ov.ov2, 0) * 10000 // ta.n_bi AS BIGINT) END
             AS r_a_bp,
           CASE WHEN coalesce(tb.n_bi, 0) > 0 THEN
             CAST(coalesce(ov.ov2, 0) * 10000 // tb.n_bi AS BIGINT) END
             AS r_b_bp,
           CASE WHEN coalesce(ta.n_bi, 0) + coalesce(tb.n_bi, 0) > 0 THEN
             CAST(2 * coalesce(ov.ov2, 0) * 10000
               // (coalesce(ta.n_bi, 0) + coalesce(tb.n_bi, 0)) AS BIGINT)
             END AS f2_bp
         FROM p LEFT JOIN ov ON ov.doc_a = p.doc_a AND ov.doc_b = p.doc_b
           LEFT JOIN tot ta ON ta.doc_id = p.doc_a
           LEFT JOIN tot tb ON tb.doc_id = p.doc_b
         ORDER BY p.doc_a, p.doc_b""",
    // ABC (cumulative revenue) × XYZ (weekly-demand CV) matrix; weeks
    // are epoch-day//7 so both engines bucket identically.
    "q_abc_xyz" ->
      """WITH pp AS (SELECT l_partkey,
           CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT))
             AS BIGINT) AS rev FROM lineitem GROUP BY 1),
         tot AS (SELECT CAST(sum(rev) AS BIGINT) AS total FROM pp),
         abc AS (SELECT l_partkey, rev, total,
             CASE WHEN cum * 10 <= total * 7 THEN 'A'
                  WHEN cum * 10 <= total * 9 THEN 'B'
                  ELSE 'C' END AS abc_class
           FROM (SELECT l_partkey, rev,
               CAST(sum(rev) OVER (ORDER BY rev DESC, l_partkey)
                 AS BIGINT) AS cum FROM pp) CROSS JOIN tot),
         wk AS (SELECT l_partkey,
             datediff('day', DATE '1970-01-01', CAST(l_shipdate AS DATE))
               // 7 AS week,
             CAST(sum(CAST(round(l_quantity) AS BIGINT)) AS BIGINT) AS q
           FROM lineitem GROUP BY 1, 2),
         mo AS (SELECT l_partkey, CAST(count(*) AS BIGINT) AS n,
             CAST(sum(q) AS BIGINT) AS sq, sum(q * q) AS ssq
           FROM wk GROUP BY 1),
         cv AS (SELECT l_partkey,
             CASE WHEN n > 1 THEN CAST(round(
               sqrt((CAST(n AS DOUBLE) * CAST(ssq AS DOUBLE)
                 - CAST(sq AS DOUBLE) * CAST(sq AS DOUBLE)) /
                 (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) - 1.0))) /
               (CAST(sq AS DOUBLE) / CAST(n AS DOUBLE)) * 10000)
               AS BIGINT) END AS cv_bp
           FROM mo),
         x AS (SELECT l_partkey,
             CASE WHEN cv_bp IS NULL THEN 'Z'
                  WHEN cv_bp < 5000 THEN 'X'
                  WHEN cv_bp < 10000 THEN 'Y' ELSE 'Z' END AS xyz_class
           FROM cv)
         SELECT abc_class, xyz_class, CAST(count(*) AS BIGINT) AS n_parts,
           CAST(sum(rev) AS BIGINT) AS revenue_cents,
           CAST(sum(rev) * 10000 // max(total) AS BIGINT) AS share_bp
         FROM abc JOIN x USING (l_partkey)
         GROUP BY 1, 2 ORDER BY 1, 2""",
    // Croston: recursive fold over DEMAND EVENTS of the lowest-keyed
    // part (size and interval EWMAs in micro, α = 1/8).
    "q_croston" ->
      """WITH RECURSIVE pk AS (SELECT min(l_partkey) AS pk FROM lineitem),
         d AS (SELECT CAST(l_shipdate AS DATE) AS day,
             CAST(sum(CAST(round(l_quantity) AS BIGINT)) AS BIGINT) AS q
           FROM lineitem, pk WHERE l_partkey = pk GROUP BY 1),
         idx AS (SELECT day, q,
             CAST(row_number() OVER (ORDER BY day) AS BIGINT) AS i,
             CAST(coalesce(datediff('day',
               lag(day) OVER (ORDER BY day), day), 1) AS BIGINT) AS gap
           FROM d),
         c(i, day, q, gap, z, p) AS (
           SELECT i, day, q, gap, q * 1000000,
             CAST(1000000 AS BIGINT) FROM idx WHERE i = 1
           UNION ALL
           SELECT x.i, x.day, x.q, x.gap,
             (x.q * 1000000 + 7 * c.z) // 8,
             (x.gap * 1000000 + 7 * c.p) // 8
           FROM c JOIN idx x ON x.i = c.i + 1)
         SELECT day, q, gap, CAST(z AS BIGINT) AS z_u,
           CAST(p AS BIGINT) AS p_u,
           CAST(CAST(z AS HUGEINT) * 1000000 // p AS BIGINT) AS f_u
         FROM c ORDER BY day""",
    // DTW wavefront: one CTE per anti-diagonal, borders handled by
    // least() skipping NULL predecessors in both engines.
    "q_dtw_profiles" ->
      s"""WITH prof AS (SELECT c_nationkey,
           CAST(date_part('isodow', CAST(o_orderdate AS DATE)) - 1
             AS BIGINT) AS wd,
           CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
             AS v
           FROM orders JOIN customer ON c_custkey = o_custkey
           GROUP BY 1, 2),
         dense AS (SELECT a.c_nationkey, b.wd, coalesce(p.v, 0) AS v
           FROM (SELECT DISTINCT c_nationkey FROM prof) a
           CROSS JOIN (SELECT DISTINCT wd FROM prof) b
           LEFT JOIN prof p ON p.c_nationkey = a.c_nationkey
             AND p.wd = b.wd),
         -- contiguous DP indices via dense_rank over the observed
         -- weekdays, matching the engine's compaction: a weekday absent
         -- corpus-wide must not leave a hole in the anti-diagonal chain
         wdx AS (SELECT wd,
             CAST(dense_rank() OVER (ORDER BY wd) AS BIGINT) AS ix
           FROM (SELECT DISTINCT wd FROM prof)),
         costs AS MATERIALIZED (SELECT x.c_nationkey AS na,
             y.c_nationkey AS nb,
             wx.ix AS i, wy.ix AS j, abs(x.v - y.v) AS c
           FROM dense x JOIN dense y
             ON x.c_nationkey < y.c_nationkey
           JOIN wdx wx ON wx.wd = x.wd
           JOIN wdx wy ON wy.wd = y.wd),
         u2 AS (SELECT na, nb, i, j, c AS d FROM costs
           WHERE i = 1 AND j = 1),
         ${(3 to 14).map(dtwRoundCtes).mkString(",\n         ")},
         mw AS (SELECT max(i) AS m FROM costs),
         l1 AS (SELECT na, nb, CAST(sum(c) AS BIGINT) AS l1_cents
           FROM costs WHERE i = j GROUP BY 1, 2)
         SELECT u.na AS nation_a, u.nb AS nation_b,
           CAST(u.d AS BIGINT) AS dtw_cents, l1.l1_cents,
           CASE WHEN l1.l1_cents > 0
             THEN CAST(u.d * 10000 // l1.l1_cents AS BIGINT) END
             AS dtw_over_l1_bp
         FROM u14 u
           JOIN l1 ON l1.na = u.na AND l1.nb = u.nb
           CROSS JOIN mw
         WHERE u.i = mw.m AND u.j = mw.m
         ORDER BY nation_a, nation_b""",
    // Shewhart p-chart: exact daily rate, pooled-rate 3-sigma limits
    // (one fixed-shape sqrt), LCL clamped at zero.
    "q_p_chart" ->
      """WITH daily AS (SELECT CAST(ts AS DATE) AS day,
           CAST(count(*) AS BIGINT) AS n,
           CAST(sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END)
             AS BIGINT) AS x
           FROM events GROUP BY 1),
         pooled AS (SELECT CAST(sum(x) AS BIGINT) AS sx,
             CAST(sum(n) AS BIGINT) AS sn FROM daily),
         t AS (SELECT day, n, x,
             CAST(x * 10000 // n AS BIGINT) AS p_bp,
             CAST(round((CAST(sx AS DOUBLE) / CAST(sn AS DOUBLE)
               + 3.0 * sqrt(CAST(sx AS DOUBLE) / CAST(sn AS DOUBLE)
                 * (1.0 - CAST(sx AS DOUBLE) / CAST(sn AS DOUBLE))
                 / CAST(n AS DOUBLE))) * 10000) AS BIGINT) AS ucl_bp,
             greatest(CAST(0 AS BIGINT),
               CAST(round((CAST(sx AS DOUBLE) / CAST(sn AS DOUBLE)
                 - 3.0 * sqrt(CAST(sx AS DOUBLE) / CAST(sn AS DOUBLE)
                   * (1.0 - CAST(sx AS DOUBLE) / CAST(sn AS DOUBLE))
                   / CAST(n AS DOUBLE))) * 10000) AS BIGINT)) AS lcl_bp
           FROM daily CROSS JOIN pooled)
         SELECT day, n, x, p_bp, ucl_bp, lcl_bp,
           (p_bp > ucl_bp OR p_bp < lcl_bp) AS ooc
         FROM t ORDER BY day""",
    // Nelson-Aalen over the shared survival lives: cumulative exact
    // hazard terms, e^{-H} per row.
    "q_nelson_aalen" ->
      s"""WITH $survivalLivesCtes,
         lt AS (SELECT t, death FROM lives),
         byt AS (SELECT t,
             CAST(sum(CASE WHEN death THEN 1 ELSE 0 END) AS BIGINT) AS d,
             CAST(sum(CASE WHEN death THEN 0 ELSE 1 END) AS BIGINT) AS c
           FROM lt GROUP BY t),
         tot AS (SELECT CAST(count(*) AS BIGINT) AS n_total FROM lt),
         rs AS (SELECT t, d, c, n_total
             - CAST(coalesce(sum(d + c) OVER (ORDER BY t ROWS BETWEEN
               UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
               AS n_risk
           FROM byt CROSS JOIN tot),
         na AS (SELECT t, n_risk, d, c,
             CAST(1000000 * d // n_risk AS BIGINT) AS h_term_ppm
           FROM rs),
         na2 AS (SELECT t, n_risk, d, c, h_term_ppm,
             CAST(sum(h_term_ppm) OVER (ORDER BY t ROWS BETWEEN UNBOUNDED
               PRECEDING AND CURRENT ROW) AS BIGINT) AS h_cum_ppm
           FROM na)
         SELECT t AS t_hours, n_risk, d AS n_deaths, c AS n_censored,
           h_term_ppm, h_cum_ppm,
           CAST(round(exp(-CAST(h_cum_ppm AS DOUBLE) / 1000000.0) * 1000)
             AS BIGINT) AS s_na_milli
         FROM na2 ORDER BY t_hours""",
    // Hurst R/S: integer-scaled block ranges (z = w*cum - k*s), one
    // sqrt per block micro-rounded, 5-point integer-log OLS slope.
    "q_hurst" ->
      """WITH daily AS (SELECT CAST(o_orderdate AS DATE) AS day,
           CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
             AS v FROM orders GROUP BY 1),
         rk AS (SELECT v,
             CAST(row_number() OVER (ORDER BY day) AS BIGINT) AS rk
           FROM daily),
         wins AS (SELECT v, rk, w, (rk - 1) // w AS blk,
             (rk - 1) % w + 1 AS k
           FROM rk CROSS JOIN
             (SELECT unnest([8, 16, 32, 64, 128]) AS w)),
         pre AS (SELECT w, blk, k, v,
             CAST(sum(v) OVER (PARTITION BY w, blk ORDER BY rk
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS BIGINT) AS cum,
             CAST(sum(v) OVER (PARTITION BY w, blk) AS BIGINT) AS s_blk
           FROM wins),
         blocks AS (SELECT w, blk, CAST(count(*) AS BIGINT) AS nb,
             CAST(sum(v) AS BIGINT) AS sv,
             sum(CAST(v AS HUGEINT) * v) AS ssv,
             CAST(max(w * cum - k * s_blk) AS BIGINT) AS z_max,
             CAST(min(w * cum - k * s_blk) AS BIGINT) AS z_min
           FROM pre GROUP BY 1, 2),
         rsb AS (SELECT w, CAST(round(
               CAST(z_max - z_min AS DOUBLE) /
               sqrt(CAST(CAST(w AS HUGEINT) * ssv
                 - CAST(sv AS HUGEINT) * sv AS DOUBLE)) * 1000000)
               AS BIGINT) AS rs_u
           FROM blocks
           WHERE nb = w
             AND CAST(w AS HUGEINT) * ssv - CAST(sv AS HUGEINT) * sv > 0),
         perw AS (SELECT w, CAST(count(*) AS BIGINT) AS n_blocks,
             CAST(sum(rs_u) AS BIGINT) AS rs_sum_u FROM rsb GROUP BY 1),
         logs AS (SELECT w, n_blocks,
             CAST(rs_sum_u // n_blocks AS BIGINT) AS rs_mean_u,
             CAST(round(ln(CAST(w AS DOUBLE)) * 1000000) AS BIGINT)
               AS lw_u,
             CAST(round(ln(CAST(rs_sum_u // n_blocks AS DOUBLE)
               / 1000000.0) * 1000000) AS BIGINT) AS lrs_u
           FROM perw),
         sl AS (SELECT w, n_blocks, rs_mean_u,
             CAST(count(*) OVER () AS BIGINT) AS kk,
             CAST(sum(lw_u) OVER () AS BIGINT) AS sx,
             CAST(sum(lrs_u) OVER () AS BIGINT) AS sy,
             CAST(sum(lw_u * lrs_u) OVER () AS BIGINT) AS sxy,
             CAST(sum(lw_u * lw_u) OVER () AS BIGINT) AS sxx
           FROM logs)
         SELECT CAST(w AS BIGINT) AS w, n_blocks, rs_mean_u,
           CAST(round(CAST(kk * sxy - sx * sy AS DOUBLE)
             / CAST(kk * sxx - sx * sx AS DOUBLE) * 1000) AS BIGINT)
             AS hurst_milli
         FROM sl ORDER BY w""",
    // STL-style strength diagnostics over the shared decomposition
    // chain; variance-numerator ratios are exact integers (n cancels).
    "q_seasonal_strength" ->
      s"""WITH $seasonalCtes,
         r AS (SELECT
             CAST((d_u - seasonal_u) // 1000000 AS BIGINT) AS rr,
             CAST(d_u // 1000000 AS BIGINT) AS sr,
             CAST((trend_u + d_u - seasonal_u) // 1000000 AS BIGINT)
               AS tr
           FROM f JOIN seas ON seas.weekday = f.weekday),
         m AS (SELECT CAST(count(*) AS BIGINT) AS n,
             sum(CAST(rr AS HUGEINT)) AS s_r,
             sum(CAST(rr AS HUGEINT) * rr) AS ss_r,
             sum(CAST(sr AS HUGEINT)) AS s_sr,
             sum(CAST(sr AS HUGEINT) * sr) AS ss_sr,
             sum(CAST(tr AS HUGEINT)) AS s_tr,
             sum(CAST(tr AS HUGEINT) * tr) AS ss_tr
           FROM r)
         SELECT n,
           CASE WHEN n * ss_sr - s_sr * s_sr > 0 THEN
             greatest(CAST(0 AS BIGINT), 10000 -
               CAST((n * ss_r - s_r * s_r) * 10000
                 // (n * ss_sr - s_sr * s_sr) AS BIGINT)) END
             AS seasonal_strength_bp,
           CASE WHEN n * ss_tr - s_tr * s_tr > 0 THEN
             greatest(CAST(0 AS BIGINT), 10000 -
               CAST((n * ss_r - s_r * s_r) * 10000
                 // (n * ss_tr - s_tr * s_tr) AS BIGINT)) END
             AS trend_strength_bp
         FROM m""",
    // PACF lags 1-3: the ACF moment chain to exact rho ppm, then the
    // closed-form Durbin-Levinson unroll in identical double shapes.
    "q_pacf" ->
      """WITH daily AS (SELECT CAST(o_orderdate AS DATE) AS day,
           CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
             AS cents FROM orders GROUP BY 1),
         st AS (SELECT CAST(count(*) AS BIGINT) AS n,
             CAST(sum(cents) AS BIGINT) AS s FROM daily),
         y AS (SELECT day, n * cents - s AS y, n
           FROM daily CROSS JOIN st),
         l AS (SELECT y AS y0, n,
             lead(y, 1) OVER w AS y1, lead(y, 2) OVER w AS y2,
             lead(y, 3) OVER w AS y3
           FROM y WINDOW w AS (ORDER BY day)),
         a AS (SELECT max(n) AS n,
             CAST(sum(CAST(y0 AS HUGEINT) * y0) AS HUGEINT) AS g0,
             CAST(sum(CAST(y0 AS HUGEINT) * y1) AS HUGEINT) AS g1,
             CAST(sum(CAST(y0 AS HUGEINT) * y2) AS HUGEINT) AS g2,
             CAST(sum(CAST(y0 AS HUGEINT) * y3) AS HUGEINT) AS g3
           FROM l),
         rho AS (SELECT
             CAST((g1 * 1000000 + 1000000 * g0) // g0 - 1000000
               AS BIGINT) AS rho1,
             CAST((g2 * 1000000 + 1000000 * g0) // g0 - 1000000
               AS BIGINT) AS rho2,
             CAST((g3 * 1000000 + 1000000 * g0) // g0 - 1000000
               AS BIGINT) AS rho3 FROM a),
         d AS (SELECT rho1, rho2, rho3,
             CAST(rho1 AS DOUBLE) / 1000000.0 AS r1,
             CAST(rho2 AS DOUBLE) / 1000000.0 AS r2,
             CAST(rho3 AS DOUBLE) / 1000000.0 AS r3 FROM rho),
         p2 AS (SELECT *, CASE
             WHEN abs(1.0 - r1 * r1) < 0.000000000001 THEN NULL
             ELSE (r2 - r1 * r1) / (1.0 - r1 * r1) END AS phi22 FROM d),
         p3 AS (SELECT *, r1 - phi22 * r1 AS phi21 FROM p2),
         p4 AS (SELECT *, CASE WHEN phi22 IS NULL
             OR abs(1.0 - phi21 * r1 - phi22 * r2) < 0.000000000001
               THEN NULL
             ELSE (r3 - phi21 * r2 - phi22 * r1)
               / (1.0 - phi21 * r1 - phi22 * r2) END AS phi33 FROM p3)
         SELECT * FROM (
           SELECT CAST(1 AS BIGINT) AS lag_k, rho1 AS rho_u,
             CAST(round(r1 * 1000) AS BIGINT) AS pacf_milli FROM p4
           UNION ALL SELECT 2, rho2, CAST(round(phi22 * 1000) AS BIGINT)
             FROM p4
           UNION ALL SELECT 3, rho3, CAST(round(phi33 * 1000) AS BIGINT)
             FROM p4)
         ORDER BY lag_k""",
    // Cohort LTV: epoch-week cohorts, per-capita running revenue.
    "q_cohort_ltv" ->
      """WITH ev AS (SELECT user_id, event_type,
           CAST(round(value * 100) AS BIGINT) AS cents,
           datediff('day', DATE '1970-01-01', CAST(ts AS DATE)) // 7
             AS week FROM events),
         co AS (SELECT user_id, CAST(min(week) AS BIGINT) AS cohort_week
           FROM ev GROUP BY 1),
         sz AS (SELECT cohort_week, CAST(count(*) AS BIGINT) AS n_users
           FROM co GROUP BY 1),
         rev AS (SELECT co.cohort_week,
             CAST(ev.week - co.cohort_week AS BIGINT) AS age_week,
             CAST(sum(cents) AS BIGINT) AS rev_cents
           FROM ev JOIN co USING (user_id)
           WHERE event_type = 'purchase' GROUP BY 1, 2),
         c AS (SELECT cohort_week, age_week, rev_cents,
             CAST(sum(rev_cents) OVER (PARTITION BY cohort_week
               ORDER BY age_week) AS BIGINT) AS cum_cents
           FROM rev)
         SELECT c.cohort_week, c.age_week, sz.n_users, c.rev_cents,
           c.cum_cents,
           CAST(c.cum_cents // sz.n_users AS BIGINT)
             AS ltv_per_user_cents
         FROM c JOIN sz USING (cohort_week)
         ORDER BY cohort_week, age_week""",
  )
}
