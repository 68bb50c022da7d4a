package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.operators._
import graft.sources.Tables

/** Driver contract — see /root/repo/SURVEY.md §2 (inventory) + §7 (plan).
  *
  * Every implemented operator has a `queries` entry; SQL-expressible ones
  * also carry a DuckDB oracle in `oracleSql`. Column names and types are
  * aligned on both sides (aggregates aliased identically, integers as
  * BIGINT, event-time cast to microsecond timestamps) so the driver's
  * sort-columns-then-hash compare is exact.
  */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    Relational.pricingAgg(spark, "/root/testdata/sf0.001")

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // §2b core relational
    "q1_pricing_agg" -> (Relational.pricingAgg _),
    "q3_join_agg" -> (Relational.joinAgg _),
    "q5_multijoin" -> (Relational.multiJoin _),
    "q_window_rank" -> (Relational.windowRank _),
    "q_window_running" -> (Relational.windowRunning _),
    "q_topk_group" -> (Relational.topkGroup _),
    "q_semi_join" -> (Relational.semiJoin _),
    "q_anti_join" -> (Relational.antiJoin _),
    "q_rollup" -> (Relational.rollupAgg _),
    "q_distinct_agg" -> (Relational.distinctAgg _),
    "q_approx_distinct" -> (Relational.approxDistinct _),
    "q_percentiles" -> (RelationalExt.percentiles _),
    "q_set_ops" -> (RelationalExt.setOps _),
    "q_grouping_sets" -> (RelationalExt.groupingSets _),
    "q_correlated_subquery" -> (RelationalExt.correlatedSubquery _),
    "q_range_frame" -> (RelationalExt.rangeFrame _),
    "q_string_funcs" -> (RelationalExt.stringFuncs _),
    "q_date_funcs" -> (RelationalExt.dateFuncs _),
    "q_weighted_avg" -> (RelationalExt.weightedAvg _),
    "q_stats_agg" -> (RelationalExt.statsAgg _),
    "q_trend_slope" -> (RelationalExt.trendSlope _),
    "q_crosstab_chi2" -> (RelationalExt.crosstabChi2 _),
    "q_histogram" -> ((s: SparkSession, d: String) =>
      RelationalExt.histogram(s, d)),
    "q_equidepth_hist" -> ((s: SparkSession, d: String) =>
      RelationalExt.equiDepthHistogram(s, d)),
    "q13_custdist" -> (RelationalExt.custDist _),
    "q_multiset_ops" -> (RelationalExt.multisetOps _),
    "q_window_battery" -> (RelationalExt.windowBattery _),
    "q_null_safe" -> (RelationalExt.nullSafeJoin _),
    "q_unpivot" -> (RelationalExt.unpivot _),
    "q_key_gaps" -> (RelationalExt.keyGaps _),
    "q_full_outer" -> (RelationalExt.fullOuter _),
    "q18_large_volume" -> (RelationalExt.largeVolume _),
    "q20_nested_exists" -> (RelationalExt.nestedExists _),
    "q_array_funcs" -> (RelationalExt.arrayFuncs _),
    "q_regexp_funcs" -> (RelationalExt.regexpFuncs _),
    "q_conditional_funcs" -> (RelationalExt.conditionalFuncs _),
    "q_media_neighbors" -> ((s: SparkSession, d: String) => Multimodal.mediaNeighbors(s, d)),
    "q_dict_violations" -> (Quality.dictViolations _),
    "q_quality_profile" -> (Quality.qualityProfile _),
    "q_upsert_latest" -> (Quality.upsertLatest _),
    "q_incremental_agg" -> (Incremental.incrementalAgg _),
    "q_skew_salted_agg" -> ((s: SparkSession, d: String) => {
      import org.apache.spark.sql.functions._
      Skew.saltedAgg(Tables.lineitem(s, d).select("l_returnflag", "l_quantity"),
        "l_returnflag", "l_quantity")
        .select(col("l_returnflag"), round(col("value_sum"), 2).as("value_sum"),
          col("n_rows"))
        .orderBy(col("l_returnflag"))
    }),
    "q_source_similarity" -> (Quality.sourceSimilarity _),
    // §2b temporal
    "q_asof_join" -> (Temporal.asofJoin _),
    "q_asof_join_native" -> (Temporal.asofJoinNative _),
    "q_range_join" -> (Temporal.rangeJoin _),
    "q_sessionize" -> (Temporal.sessionize _),
    "q_scd2_intervals" -> (Temporal.scd2Intervals _),
    "q_cdc_diff" -> (Temporal.cdcDiff _),
    "q_time_bucket" -> (Temporal.timeBucket _),
    "q_sliding_distinct" -> ((s: SparkSession, d: String) => Temporal.slidingDistinct(s, d)),
    "q_json_extract" -> (Temporal.jsonExtract _),
    "q_gap_fill" -> (Temporal.gapFill _),
    "q_triangle_count" -> ((s: SparkSession, d: String) =>
      Graph.coorderTriangles(s, d)),
    "q_edit_join" -> (Dedup.editNeighbors _),
    "q_edit_join_tau2" -> (Dedup.editNeighborsTau2 _),
    "q_entity_resolution" -> ((s, d) => Dedup.entityResolution(s, d)),
    // §2a reference-derived
    "q_meta_extract" -> (Clif.metaExtract _),
    "q_meta_typed" -> (Clif.metaTypedOracle _),
    "q_meta_yaml" -> (Clif.metaYamlOracle _),
    "q_status_pivot" -> (Clif.statusPivot _),
    "q_status_matrix" -> (Clif.statusMatrix _),
    "q_poc_registry" -> (Clif.pocRegistry _),
    "q_latest_status" -> (Clif.latestStatus _),
    "q_incomplete_sites" -> (Clif.incompleteSites _),
    "q_mention_rollup" -> (Clif.mentionRollup _),
    "q_category_values" -> (Clif.categoryValues _),
    "q_category_append" -> (Clif.categoryAppend _),
    "q_completion_rate" -> (Clif.completionRate _),
    "q_federated_union" -> (Clif.federatedUnion _),
    // §2c LLM-pipeline: dedup
    "q_dedup_exact" -> (Dedup.exact _),
    "q_dedup_minhash" -> (Dedup.minhashPairs _),
    "q_dedup_simhash" -> (Dedup.simhashPairs _),
    "q_ngram_jaccard" -> (Dedup.ngramJaccard _),
    // §2c similarity
    "q_embed_neardup" -> ((s: SparkSession, d: String) => Similarity.embedNeardup(s, d)),
    "q_ann_bruteforce" -> ((s: SparkSession, d: String) => Similarity.annBruteforce(s, d)),
    "q_ann_kernel" -> ((s: SparkSession, d: String) => Similarity.annBruteforceKernel(s, d)),
    "q_ann_lsh" -> ((s: SparkSession, d: String) => Similarity.annLsh(s, d)),
    "q_ann_ivf" -> ((s: SparkSession, d: String) => Similarity.annIvf(s, d)),
    "q_ann_pca_lsh" -> ((s: SparkSession, d: String) => Similarity.annPcaLsh(s, d)),
    // §2c text analysis
    "q_token_count" -> (TextAnalysis.tokenCount _),
    "q_quality_score" -> (TextAnalysis.qualityScore _),
    "q_lang_id" -> (TextAnalysis.langId _),
    "q_fingerprint" -> (TextAnalysis.fingerprint _),
    "q_pii_redact" -> (TextAnalysis.piiRedact _),
    "q_repetition" -> (TextAnalysis.repetition _),
    "q_doc_histogram" -> (TextAnalysis.lengthHistogram _),
    "q_hash_split" -> (Sampling.splitCounts _),
    "q_stratified_sample" -> (Sampling.stratifiedSample _),
    "q_sequence_pack" -> ((s: SparkSession, d: String) => Sampling.sequencePack(s, d)),
    "q_contamination" -> ((s: SparkSession, d: String) => TextAnalysis.contamination(s, d)),
    "q_unigram_logprob" -> (TextAnalysis.unigramLogprob _),
    "q_quality_tiers" -> ((s: SparkSession, d: String) => TextAnalysis.qualityTiers(s, d)),
    "q_token_budget" -> ((s: SparkSession, d: String) => TextAnalysis.tokenBudgetSelect(s, d)),
    "q_source_quota" -> ((s: SparkSession, d: String) => TextAnalysis.sourceQuotaSelect(s, d)),
    "q_dedup_clusters" -> ((s: SparkSession, d: String) => Dedup.dedupClusters(s, d)),
    "q_corpus_pipeline" -> ((s: SparkSession, d: String) => Pipeline.curateCorpus(s, d)),
    // §2c multimodal plumbing
    "q_multimodal_meta" -> (Multimodal.mediaMeta _),
    // §2c search / retrieval
    "q_inverted_index" -> ((s: SparkSession, d: String) => Search.invertedIndex(s, d)),
    "q_tfidf" -> ((s: SparkSession, d: String) => Search.tfidfTopTerms(s, d)),
    "q_bm25" -> ((s: SparkSession, d: String) => Search.bm25Search(s, d)),
    // §2c mixture + vocab induction
    "q_source_mix" -> ((s: SparkSession, d: String) => Sampling.sourceMix(s, d)),
    "q_bpe_pairs" -> ((s: SparkSession, d: String) => TextAnalysis.bpePairs(s, d)),
    // §2c span-level dedup + gates + embedding storage
    "q_segment_dedup" -> ((s: SparkSession, d: String) => Dedup.segmentDedup(s, d)),
    "q_dup_spans" -> ((s: SparkSession, d: String) => Dedup.dupSpans(s, d)),
    "q_suffix_spans" -> ((s: SparkSession, d: String) => Suffix.suffixSpans(s, d)),
    "q_span_clip" -> ((s: SparkSession, d: String) => Suffix.spanClip(s, d)),
    "q_span_classes" -> ((s: SparkSession, d: String) => Suffix.spanClasses(s, d)),
    "q_span_clip_inc" -> ((s: SparkSession, d: String) => Suffix.spanClipIncrement(s, d)),
    "q_quality_gate" -> ((s: SparkSession, d: String) => TextAnalysis.qualityGate(s, d)),
    "q_embed_quantize" -> (Similarity.embedQuantize _),
    "q_semantic_dedup" -> ((s: SparkSession, d: String) => Similarity.semanticDedup(s, d)),
    "q_embed_pca" -> ((s: SparkSession, d: String) => Embeddings.pcaProject(s, d)),
    "q_bloom_semi" -> (Relational.bloomSemi _),
    "q_bpe_train" -> ((s: SparkSession, d: String) => TextAnalysis.bpeTrain(s, d)),
    "q_stratified_topn" -> ((s: SparkSession, d: String) => Sampling.stratifiedTopNSample(s, d)),
    "q_weighted_sample" -> ((s: SparkSession, d: String) => Sampling.weightedSampleDocs(s, d)),
    "q_interval_overlap" -> (Temporal.intervalOverlap _),
    "q_dup_centrality" -> (Graph.dupCentrality _),
    "q_funnel" -> ((s: SparkSession, d: String) => Behavioral.funnel(s, d)),
    "q_retention" -> ((s: SparkSession, d: String) => Behavioral.retention(s, d)),
    "q_anomaly_score" -> ((s: SparkSession, d: String) => Behavioral.anomalyScore(s, d)),
    "q_decayed_engagement" -> ((s: SparkSession, d: String) => Behavioral.decayedEngagement(s, d)),
    "q_heavy_tokens" -> ((s: SparkSession, d: String) => TextAnalysis.heavyTokens(s, d)),
    "q_approx_percentiles" -> ((s: SparkSession, d: String) => RelationalExt.approxPercentiles(s, d)),
    "q_robust_outliers" -> ((s: SparkSession, d: String) => RelationalExt.robustOutliers(s, d)),
    "q_variant_extract" -> (Modern.variantExtract _),
    "q_month_spine" -> (Modern.monthSpine _),
    "q_collation_group" -> (Modern.collationGroup _),
    "q_lateral_topk" -> (Modern.lateralTopOrders _),
    "q4_priority_exists" -> (RelationalTpch.priorityExists _),
    "q6_forecast_revenue" -> (RelationalTpch.forecastRevenue _),
    "q7_volume_shipping" -> ((s: SparkSession, d: String) => RelationalTpch.volumeShipping(s, d)),
    "q10_returned_items" -> (RelationalTpch.returnedItems _),
    "q12_priority_case" -> (RelationalTpch.priorityCase _),
    "q14_promo_share" -> (RelationalTpch.promoShare _),
    "q19_disjunctive" -> (RelationalTpch.disjunctiveBands _),
    "q22_dormant" -> (RelationalTpch.dormantCustomers _),
    "q2_min_cost_supplier" -> (RelationalTpch.minCostSupplier _),
    "q8_market_share" -> (RelationalTpch.marketShare _),
    "q9_product_profit" -> (RelationalTpch.productProfit _),
    "q11_important_parts" -> ((s: SparkSession, d: String) =>
      RelationalTpch.importantParts(s, d)),
    "q15_top_supplier" -> (RelationalTpch.topSupplier _),
    "q16_supplier_counts" -> (RelationalTpch.supplierCounts _),
    "q17_small_qty" -> (RelationalTpch.smallQtyRevenue _),
    "q21_waiting_suppliers" -> (RelationalTpch.waitingSuppliers _),
    "q_audience_overlap" -> (Federation.audienceOverlap _),
    "q_char_entropy" -> (TextAnalysis.charEntropyProfile _),
    "q_jaccard_prefix" -> ((s: SparkSession, d: String) => Dedup.jaccardPrefixJoin(s, d)),
    // containment family: audits the deterministic md5-top-1000 panel
    // (all 500 docs at sf0.01; 1000 of 5000 at sf0.1) so the oracle's
    // all-pairs checker stays feasible at every SF — the library
    // operators (containmentJoin/blastRadius/splitLeakage) run the
    // full corpus
    "q_containment_join" -> ((s: SparkSession, d: String) =>
      Dedup.containmentJoinOn(
        Sampling.md5TopN(Tables.documents(s, d), "doc_id", 1000))),
    "q_pmi_collocations" -> ((s: SparkSession, d: String) => TextAnalysis.pmiCollocations(s, d)),
    "q_vocab_coverage" -> ((s: SparkSession, d: String) => TextAnalysis.vocabCoverage(s, d)),
    "q_bigram_logprob" -> ((s: SparkSession, d: String) => TextAnalysis.bigramLogprob(s, d)),
    "q_dsir_weights" -> ((s: SparkSession, d: String) => Selection.dsirWeights(s, d)),
    "q_dsir_select" -> ((s: SparkSession, d: String) => Selection.dsirSelect(s, d)),
    "q_gopher_rules" -> ((s: SparkSession, d: String) => Quality.gopherRulesDocs(s, d)),
    // rows-only: k-means is iterative float work (see SURVEY §4);
    // semantics carried by PrototypicalitySpec's crafted clusters.
    "q_prototypicality" -> ((s: SparkSession, d: String) => Similarity.prototypicality(s, d)),
    "q_k_anonymity" -> ((s: SparkSession, d: String) => Privacy.kAnonymity(s, d)),
    "q_l_diversity" -> ((s: SparkSession, d: String) => Privacy.lDiversity(s, d)),
    "q_dp_bounded" -> ((s: SparkSession, d: String) => Privacy.dpBounded(s, d)),
    // rows-only: the Laplace noise is transcendental (ln) — libm
    // last-ulp skew across engines; mechanism correctness carried by
    // PrivacySpec (ε-rescaling law, symmetry, seed determinism).
    "q_dp_release" -> ((s: SparkSession, d: String) => Privacy.dpRelease(s, d)),
    "q_blast_radius" -> ((s: SparkSession, d: String) =>
      Modern.blastRadiusOn(s, Dedup.containmentJoinOn(
        Sampling.md5TopN(Tables.documents(s, d), "doc_id", 1000)), 2)),
    // 1500 (not 1000): the smallest panel whose sf0.1 slice contains
    // actual cross-split leaks — a 0-row oracle would pass vacuously
    "q_split_leakage" -> ((s: SparkSession, d: String) =>
      Dedup.splitLeakageOn(
        Sampling.md5TopN(Tables.documents(s, d), "doc_id", 1500))),
    // rows-only: the hash rides on the stubbed media decode (§2c);
    // recall/exactness carried by MultimodalSpec's brute-force parity.
    "q_media_phash_dup" -> ((s: SparkSession, d: String) => Multimodal.mediaPhashDup(s, d)),
    "q_markov_transitions" -> (Behavioral.markovTransitions _),
    "q_dedup_keep_best" -> (Dedup.keepBest _),
    "q_ab_lift" -> ((s: SparkSession, d: String) => Behavioral.abLift(s, d)),
    "q_basket_rules" -> ((s: SparkSession, d: String) => Graph.basketRules(s, d)),
    "q_fk_orphans" -> (Quality.fkOrphans _),
    "q_score_calibration" -> (Quality.scoreCalibration _),
    "q_jw_scores" -> (Dedup.jwScores _),
    "q_dup_rate_source" -> (Quality.dupRateBySource _),
    "q_benford" -> (Quality.benfordDigits _),
    "q_source_drift" -> ((s: SparkSession, d: String) => Quality.sourceDrift(s, d)),
    "q_session_paths" -> ((s: SparkSession, d: String) => Temporal.sessionPaths(s, d)),
    "q_churn_labels" -> ((s: SparkSession, d: String) => Behavioral.churnLabels(s, d)),
    "q_hybrid_rrf" -> ((s: SparkSession, d: String) => Search.hybridRrf(s, d)),
    // rows-only: iterative peeling fixpoint (like CC/PageRank — no
    // clean SQL oracle); semantics carried by GraphSpec's crafted
    // clique-plus-tail peel and the driver brute-force parity.
    "q_kcore" -> ((s: SparkSession, d: String) => Graph.kCoreParts(s, d)),
    // ...but the peel ITSELF rides the oracle on a bounded md5 panel:
    // the DuckDB side unrolls the same KCorePanelRounds rounds as
    // chained CTEs (exact whenever the peel converges inside them —
    // the Spark side throws on non-convergence, same budget)
    "q_kcore_panel" -> ((s: SparkSession, d: String) => Graph.kCorePanel(s, d)),
    "q_chunk_spans" -> ((s: SparkSession, d: String) => TextAnalysis.chunkSpans(s, d)),
    "q_mixture_weights" -> ((s: SparkSession, d: String) => Sampling.mixtureWeights(s, d)),
    "q_embed_outliers" -> ((s: SparkSession, d: String) => Embeddings.embedOutliers(s, d)),
    "q_winnow_fingerprint" -> ((s: SparkSession, d: String) => TextAnalysis.winnowFingerprints(s, d)),
    "q_winnow_candidates" -> ((s: SparkSession, d: String) => TextAnalysis.winnowCandidates(s, d)),
    "q_boilerplate_grams" -> ((s: SparkSession, d: String) => Dedup.boilerplateGrams(s, d)),
    "q_rfm_segments" -> ((s: SparkSession, d: String) => Behavioral.rfmSegments(s, d)),
    "q_burst_days" -> ((s: SparkSession, d: String) => Behavioral.burstDays(s, d)),
    "q_gini_sources" -> ((s: SparkSession, d: String) => Quality.giniSources(s, d)),
    // r10: the curve behind the gini scalar — source-concentration
    // Lorenz points in token-mass order (the mixture-audit picture)
    "q_lorenz_sources" -> ((s: SparkSession, d: String) => Quality.lorenzSources(s, d)),
    "q_length_buckets" -> ((s: SparkSession, d: String) => Sampling.lengthBuckets(s, d)),
    // rows-only: within-batch dedup runs the component fixpoint (no
    // clean SQL form); the defining law — increment == full rebuild
    // restricted to the batch — is IncrementalCurationSpec's parity
    "q_corpus_increment" -> ((s: SparkSession, d: String) => Pipeline.corpusIncrement(s, d)),
    // integer-exact power iteration — the second iterative-fixpoint
    // family on the oracle surface (fixed-point mass, DIV-only rounds)
    "q_pagerank_panel" -> ((s: SparkSession, d: String) => Graph.pagerankPanel(s, d)),
    "q_quality_auc" -> ((s: SparkSession, d: String) => Quality.aucBySource(s, d)),
    "q_rater_kappa" -> ((s: SparkSession, d: String) => Quality.raterKappa(s, d)),
    "q_t_closeness" -> ((s: SparkSession, d: String) => Privacy.tCloseness(s, d)),
    "q_nb_train" -> ((s: SparkSession, d: String) => TextAnalysis.nbTrain(s, d)),
    "q_nb_classify" -> ((s: SparkSession, d: String) => TextAnalysis.nbClassify(s, d)),
    "q_backoff_levels" -> ((s: SparkSession, d: String) => TextAnalysis.backoffLevels(s, d)),
    // time-series audit batch: day-grain reductions first, statistics
    // on the bounded day panel, BIGINT moments, closing IEEE ops only
    "q_autocorr" -> ((s: SparkSession, d: String) => TimeSeries.autocorr(s, d)),
    "q_cusum_changepoint" -> ((s: SparkSession, d: String) => TimeSeries.cusumChangepoint(s, d)),
    "q_ks_drift" -> ((s: SparkSession, d: String) => Quality.ksDrift(s, d)),
    // trend/regression audit batch: robust + parametric trend tests
    // on the calendar-bounded day panel, BIGINT cores, fixed IEEE tails
    "q_theilsen" -> ((s: SparkSession, d: String) => TimeSeries.theilSen(s, d)),
    "q_mann_kendall" -> ((s: SparkSession, d: String) => TimeSeries.mannKendall(s, d)),
    "q_ols_daily" -> ((s: SparkSession, d: String) => TimeSeries.olsDailyRevenue(s, d)),
    "q_runs_test" -> ((s: SparkSession, d: String) => TimeSeries.runsTest(s, d)),
    // corpus-statistics batch: Heaps growth / Zipf head / hapax profile
    "q_heaps_curve" -> ((s: SparkSession, d: String) => TextAnalysis.heapsCurve(s, d)),
    "q_zipf_ranks" -> ((s: SparkSession, d: String) => TextAnalysis.zipfRanks(s, d)),
    "q_hapax_share" -> ((s: SparkSession, d: String) => TextAnalysis.hapaxShare(s, d)),
    // lattice / sketch / decomposition / selection batch
    "q_cube" -> ((s: SparkSession, d: String) => Relational.cubeAgg(s, d)),
    "q_seasonal_decomp" -> ((s: SparkSession, d: String) => TimeSeries.seasonalDecomp(s, d)),
    "q_cms_tokens" -> ((s: SparkSession, d: String) => TextAnalysis.cmsTokenCounts(s, d)),
    // rows-only: k rounds of distributed argmax (iterative farthest-
    // first has no clean SQL form); coverage law in EmbeddingsSpec
    "q_kcenter_select" -> ((s: SparkSession, d: String) => Similarity.kCenterSelect(s, d)),
    // corpus-statistics continuation: burstiness + novelty
    "q_token_burstiness" -> ((s: SparkSession, d: String) => TextAnalysis.tokenBurstiness(s, d)),
    "q_ngram_novelty" -> ((s: SparkSession, d: String) => Dedup.ngramNovelty(s, d)),
    // richness / smoothing / overlap batch
    "q_good_turing" -> ((s: SparkSession, d: String) => TextAnalysis.goodTuring(s, d)),
    "q_chao1" -> ((s: SparkSession, d: String) => TextAnalysis.chao1Richness(s, d)),
    "q_vocab_overlap" -> ((s: SparkSession, d: String) => TextAnalysis.vocabOverlap(s, d)),
    // concentration / drift / mixture / keyness batch
    "q_simpson_diversity" -> ((s: SparkSession, d: String) => TextAnalysis.simpsonDiversity(s, d)),
    "q_unigram_tv_drift" -> ((s: SparkSession, d: String) => Quality.unigramTvDrift(s, d)),
    "q_temperature_mix" -> ((s: SparkSession, d: String) => Sampling.temperatureMix(s, d)),
    "q_keyness" -> ((s: SparkSession, d: String) => TextAnalysis.chi2Keyness(s, d)),
    // linkage scoring + compressibility batch
    "q_fs_linkage" -> ((s: SparkSession, d: String) => Dedup.fsLinkage(s, d)),
    "q_compress_ratio" -> ((s: SparkSession, d: String) => TextAnalysis.compressProfile(s, d)),
    // linkage-graph statistics batch
    "q_modularity" -> ((s: SparkSession, d: String) => Graph.linkageModularity(s, d)),
    "q_assortativity" -> ((s: SparkSession, d: String) => Graph.linkageAssortativity(s, d)),
    // embedding deployment audits (rows-only: float-tie surfaces)
    "q_matryoshka" -> ((s: SparkSession, d: String) => Similarity.matryoshkaRecall(s, d)),
    "q_mmr_select" -> ((s: SparkSession, d: String) => Similarity.mmrSelect(s, d)),
    // corpus-economics + label audits
    "q_dedup_savings" -> ((s: SparkSession, d: String) => Dedup.dedupSavings(s, d)),
    "q_label_balance" -> ((s: SparkSession, d: String) => Embeddings.labelBalance(s, d)),
    "q_knn_labelcheck" -> ((s: SparkSession, d: String) => Similarity.knnLabelCheck(s, d)),
    // binned-mass drift (the chi-square companion of q_ks_drift)
    "q_length_drift" -> ((s: SparkSession, d: String) => Quality.lengthDrift(s, d)),
    // r8: supervised language-ID confusion, PII budget line, tokenizer
    // fertility constants, oracle-checked minhash accuracy, and the
    // IVF codebook-staleness alarm (rows-only: float recall over
    // k-means lists; semantics in IvfRecallSpec's planted drift)
    "q_lang_confusion" -> ((s: SparkSession, d: String) => TextAnalysis.langConfusion(s, d)),
    "q_pii_density" -> ((s: SparkSession, d: String) => TextAnalysis.piiDensity(s, d)),
    "q_fertility" -> ((s: SparkSession, d: String) => TextAnalysis.tokenFertility(s, d)),
    "q_minhash_est_audit" -> ((s: SparkSession, d: String) => Dedup.minhashEstAudit(s, d)),
    "q_ivf_recall" -> ((s: SparkSession, d: String) => Similarity.ivfRecallAudit(s, d)),
    // r10: the IVF-PQ COMPOSITION — posting lists carry PQ codes, not
    // raw vectors; probes score by ADC tables with an exact-rerank
    // refine face (rows-only: float Lloyd + ADC; semantics in
    // IvfPqSpec's lossless parity + drift/retrain fixtures)
    "q_ivfpq_recall" -> ((s: SparkSession, d: String) => Similarity.ivfPqRecallAudit(s, d)),
    // r8 continuation 2: encoding hygiene, structural text stats,
    // n-gram eval kernel, gaps-and-islands, dyadic EWMA
    "q_mojibake" -> ((s: SparkSession, d: String) => TextAnalysis.mojibakeScreen(s, d)),
    "q_sentence_stats" -> ((s: SparkSession, d: String) => TextAnalysis.sentenceStats(s, d)),
    "q_readability" -> ((s: SparkSession, d: String) => TextAnalysis.readability(s, d)),
    "q_rouge_pairs" -> ((s: SparkSession, d: String) => TextAnalysis.rougePairs(s, d)),
    "q_interval_coalesce" -> ((s: SparkSession, d: String) => Temporal.intervalCoalesce(s, d)),
    "q_ewma_smooth" -> ((s: SparkSession, d: String) => TimeSeries.ewma(s, d)),
    // r8 continuation 3: local-DP collection, quantized centroid
    // drift, diurnal uniformity
    "q_rr_debias" -> ((s: SparkSession, d: String) => Privacy.rrDebias(s, d)),
    "q_label_centroid_drift" -> ((s: SparkSession, d: String) => Embeddings.labelCentroidDrift(s, d)),
    "q_hour_profile" -> ((s: SparkSession, d: String) => Behavioral.hourProfile(s, d)),
    // r8 continuation 4: vocab sizing curve, char-class profile,
    // sweep-line peak concurrency
    "q_vocab_curve" -> ((s: SparkSession, d: String) => TextAnalysis.vocabCurve(s, d)),
    "q_char_classes" -> ((s: SparkSession, d: String) => TextAnalysis.charClasses(s, d)),
    "q_peak_concurrency" -> ((s: SparkSession, d: String) => Temporal.peakConcurrency(s, d)),
    // r8 continuation 5: duplication economics, graph shape, windowed
    // attribution
    "q_dup_multiplicity" -> ((s: SparkSession, d: String) => Dedup.dupMultiplicity(s, d)),
    "q_degree_hist" -> ((s: SparkSession, d: String) => Graph.degreeHist(s, d)),
    "q_clustering_coeff" -> ((s: SparkSession, d: String) => Graph.clusteringCoeff(s, d)),
    "q_funnel_windowed" -> ((s: SparkSession, d: String) => Behavioral.windowedFunnel(s, d)),
    // r8 continuation 6: semi-structured schema discovery, mixture
    // composition matrix
    "q_json_profile" -> ((s: SparkSession, d: String) => Modern.jsonProfile(s, d)),
    "q_lang_mix" -> ((s: SparkSession, d: String) => Quality.langMix(s, d)),
    // r9: federated summary-merge audit, growth/engagement ledgers,
    // masking-budget accounting, content-defined chunk dedup,
    // anonymization ladder, arrival-process + lead/lag diagnostics,
    // shard-routing balance
    "q_federated_quantiles" -> ((s: SparkSession, d: String) => Federation.federatedQuantileAudit(s, d)),
    // r10: federated top-k — per-site Misra-Gries summaries, central
    // Mergeable-Summaries add + (k+1)-cut; exact regime on this key
    // domain (months << k), so DuckDB-oracle-checkable
    "q_federated_topk" -> ((s: SparkSession, d: String) => Federation.federatedTopkAudit(s, d)),
    "q_growth_accounting" -> ((s: SparkSession, d: String) => Behavioral.growthAccounting(s, d)),
    "q_stickiness" -> ((s: SparkSession, d: String) => Behavioral.stickiness(s, d)),
    "q_power_users" -> ((s: SparkSession, d: String) => Behavioral.powerUsers(s, d)),
    "q_span_corruption" -> ((s: SparkSession, d: String) => TextAnalysis.spanCorruption(s, d)),
    "q_cdc_chunks" -> ((s: SparkSession, d: String) => Dedup.cdcChunks(s, d)),
    "q_generalization_curve" -> ((s: SparkSession, d: String) => Privacy.generalizationCurve(s, d)),
    "q_interarrival_hist" -> ((s: SparkSession, d: String) => TimeSeries.interarrivalHist(s, d)),
    "q_cross_corr" -> ((s: SparkSession, d: String) => TimeSeries.crossCorr(s, d)),
    "q_shard_balance" -> ((s: SparkSession, d: String) => Quality.shardBalance(s, d)),
    // r9 continuation: schema-profiling audits (FD / IND / key
    // discovery) — the lake-onboarding integrity pass
    "q_fd_audit" -> ((s: SparkSession, d: String) => Profiling.fdAudit(s, d)),
    "q_ind_audit" -> ((s: SparkSession, d: String) => Profiling.indAudit(s, d)),
    "q_key_profile" -> ((s: SparkSession, d: String) => Profiling.keyProfile(s, d)),
    // exact phrase search — the zero-shuffle row-local scan face; the
    // positional-index probe face is parity-spec'd against it
    "q_phrase_search" -> ((s: SparkSession, d: String) => Search.phraseSearch(s, d)),
    "q_phrase_native" -> ((s: SparkSession, d: String) => Search.phraseSearchNative(s, d)),
    // revenue-attach behavioral ledgers
    "q_ltv_cohort" -> ((s: SparkSession, d: String) => Behavioral.ltvCohort(s, d)),
    "q_order_gaps" -> ((s: SparkSession, d: String) => Behavioral.orderGaps(s, d)),
    // windowed lexical diversity + neighborhood-overlap similarity
    "q_sttr" -> ((s: SparkSession, d: String) => TextAnalysis.sttr(s, d)),
    "q_node_jaccard" -> ((s: SparkSession, d: String) => Graph.nodeJaccard(s, d)),
    // rank-based SAX signatures of the daily volume series
    "q_sax_symbols" -> ((s: SparkSession, d: String) => TimeSeries.saxSymbols(s, d)),
    // rows-only: PQ codebooks are Lloyd float iterations (SURVEY §4);
    // determinism/zero-error/capacity laws carried by SimilaritySpec.
    "q_pq_codes" -> ((s: SparkSession, d: String) => Similarity.pqCodes(s, d)),
    // rows-only: the ADC-vs-exact audit rides the PQ float codebooks;
    // crafted lossless-data recall=1.0 + bounds carried by spec.
    "q_pq_recall" -> ((s: SparkSession, d: String) => Similarity.pqRecallAudit(s, d)),
    // first/last-touch conversion attribution (closed ledger)
    "q_attribution" -> ((s: SparkSession, d: String) => Behavioral.attribution(s, d))
  )

  /** Generated profiling oracles — each iterates the SAME candidate
    * list as the Spark operator ([[graft.operators.Profiling]]), so
    * the audited surface cannot drift between engine and oracle.
    * `ts` projects through `epoch_us` oracle-side: DuckDB reads the
    * raw parquet (possibly TIMESTAMP_NS) while Spark's loader
    * truncates to µs, and distinct-counting must see the same grain. */
  private def fdAuditOracleSql: String = {
    val branches = graft.operators.Profiling.FdCandidates.map {
      case (t, lhs, rhs) =>
        s"""SELECT '$t' AS tbl, '$lhs' AS lhs, '$rhs' AS rhs,
           | CAST(count(*) AS BIGINT) AS n_groups,
           | CAST(sum(CASE WHEN card > 1 THEN 1 ELSE 0 END) AS BIGINT)
           |  AS violating_groups,
           | CAST(max(card) AS BIGINT) AS max_rhs_card,
           | CAST(CASE WHEN sum(CASE WHEN card > 1 THEN 1 ELSE 0 END) = 0
           |  THEN 1 ELSE 0 END AS BIGINT) AS holds
           |FROM (SELECT g, CAST(count(*) AS BIGINT) AS card
           |      FROM (SELECT DISTINCT $lhs AS g, $rhs AS v FROM $t)
           |      GROUP BY g)""".stripMargin
    }
    branches.mkString("", "\nUNION ALL\n", "\nORDER BY tbl, lhs, rhs")
  }

  private def indAuditOracleSql: String = {
    val branches = graft.operators.Profiling.IndCandidates.map {
      case (ct, cc, pt, pc) =>
        s"""SELECT '$ct' AS child_tbl, '$cc' AS child_col,
           | '$pt' AS parent_tbl, '$pc' AS parent_col,
           | (SELECT CAST(count(*) AS BIGINT) FROM
           |   (SELECT DISTINCT $cc FROM $ct WHERE $cc IS NOT NULL))
           |  AS n_child,
           | (SELECT CAST(count(*) AS BIGINT) FROM
           |   (SELECT DISTINCT $cc AS k FROM $ct WHERE $cc IS NOT NULL)
           |  WHERE k IN (SELECT $pc FROM $pt WHERE $pc IS NOT NULL))
           |  AS n_contained""".stripMargin
    }
    s"""SELECT child_tbl, child_col, parent_tbl, parent_col,
       | n_child, n_contained,
       | CASE WHEN n_child > 0
       |  THEN round(CAST(n_contained AS DOUBLE) / n_child, 6) END
       |  AS containment,
       | CAST(CASE WHEN n_contained = n_child THEN 1 ELSE 0 END AS BIGINT)
       |  AS holds
       |FROM (
       |${branches.mkString("\nUNION ALL\n")}
       |) ORDER BY child_tbl, child_col, parent_tbl""".stripMargin
  }

  private def keyProfileOracleSql: String = {
    val branches = graft.operators.Profiling.KeyCandidates.map {
      case (t, cols) =>
        val proj = cols.map {
          case "ts" => "epoch_us(ts) AS ts"
          case c    => c
        }.mkString(", ")
        s"""SELECT '$t' AS tbl, '${cols.mkString(",")}' AS cols,
           | (SELECT CAST(count(*) AS BIGINT) FROM $t) AS n_rows,
           | (SELECT CAST(count(*) AS BIGINT) FROM
           |   (SELECT DISTINCT $proj FROM $t)) AS n_distinct""".stripMargin
    }
    s"""SELECT tbl, cols, n_rows, n_distinct,
       | CASE WHEN n_rows > 0
       |  THEN round(CAST(n_distinct AS DOUBLE) / n_rows, 6) END
       |  AS uniqueness,
       | CAST(CASE WHEN n_distinct = n_rows THEN 1 ELSE 0 END AS BIGINT)
       |  AS is_key
       |FROM (
       |${branches.mkString("\nUNION ALL\n")}
       |) ORDER BY tbl, cols""".stripMargin
  }

  /** Generated phrase-search oracle — anchors are enumerated exactly
    * as the Spark scan does it (1-based positions, overlaps counted),
    * from the SAME [[graft.operators.Search.DefaultPhrase]] constant. */
  private def phraseSearchOracleSql: String = {
    val ph = graft.operators.Search.DefaultPhrase
    val k = ph.length
    val conds = ph.zipWithIndex.map { case (w, j) =>
      if (j == 0) s"t[i] = '$w'" else s"t[i + $j] = '$w'"
    }.mkString(" AND ")
    s"""WITH d AS (SELECT doc_id,
       |  string_split_regex(lower(trim(text)), '\\s+') AS t
       | FROM documents),
       |m AS (SELECT doc_id, i
       | FROM d,
       |  LATERAL (SELECT unnest(generate_series(1, len(t) - ${k - 1}))
       |           AS i)
       | WHERE len(t) >= $k AND $conds)
       |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_matches,
       | CAST(min(i) AS BIGINT) AS first_pos
       |FROM m GROUP BY doc_id ORDER BY doc_id""".stripMargin
  }

  /** The unrolled INTEGER PageRank oracle for `q_pagerank_panel` —
    * [[graft.operators.Graph.PagerankPanelRounds]] fixed-point rounds
    * as chained `AS MATERIALIZED` CTEs (inlining would explode the
    * multi-reference chain, see the k-core oracle). Every operation is
    * BIGINT floor division or an integer sum, so the rounds are
    * bit-identical to the Spark side on any engine. */
  private def pagerankPanelOracleSql(panelN: Int): String = {
    val rounds = graft.operators.Graph.PagerankPanelRounds
    val base =
      s"""WITH panel AS (
         | SELECT o_orderkey FROM orders
         | ORDER BY md5(CAST(o_orderkey AS VARCHAR)), o_orderkey LIMIT $panelN),
         |op AS (
         | SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem
         | WHERE l_orderkey IN (SELECT o_orderkey FROM panel)),
         |e0 AS MATERIALIZED (
         | SELECT a.p AS u, b.p AS v FROM op a JOIN op b
         |  ON a.o = b.o AND a.p < b.p
         | GROUP BY 1, 2),
         |bd AS MATERIALIZED (
         | SELECT u, v FROM e0 UNION ALL SELECT v, u FROM e0),
         |deg AS MATERIALIZED (
         | SELECT u AS p, CAST(count(*) AS BIGINT) AS d FROM bd GROUP BY 1),
         |nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM deg),
         |p0 AS MATERIALIZED (
         | SELECT deg.p, 1000000000000 // nn.n AS pr FROM deg CROSS JOIN nn)""".stripMargin
    val iters = (1 to rounds).map { i =>
      val prev = i - 1
      s""",
         |p$i AS MATERIALIZED (
         | SELECT deg.p,
         |  (150000000000 // nn.n) + (85 * COALESCE(c.s, 0)) // 100 AS pr
         | FROM deg CROSS JOIN nn
         | LEFT JOIN (
         |  SELECT bd.v AS p, sum(p$prev.pr // deg.d) AS s
         |  FROM bd JOIN p$prev ON bd.u = p$prev.p JOIN deg ON deg.p = bd.u
         |  GROUP BY bd.v) c ON c.p = deg.p)""".stripMargin
    }.mkString
    base + iters +
      s"""
         |SELECT CAST(p AS BIGINT) AS p, CAST(pr AS BIGINT) AS pr_int
         |FROM p$rounds ORDER BY p""".stripMargin
  }

  /** The unrolled peel oracle for `q_kcore_panel` — generated so the
    * round count is [[graft.operators.Graph.KCorePanelRounds]] BY
    * CONSTRUCTION, not a copy that can drift. Round i filters the
    * round-(i-1) edge list to endpoints whose degree in it is ≥ k;
    * extra rounds past the fixpoint are no-ops. The round CTEs are
    * `AS MATERIALIZED`: DuckDB inlines CTEs by default, and each round
    * referencing its predecessor three times would expand the 16-round
    * chain into a 3^16 scan tree (measured: it exhausts the process's
    * file descriptors on the parquet re-opens before ever finishing). */
  private def kcorePanelOracleSql(k: Int, panelN: Int): String = {
    val rounds = graft.operators.Graph.KCorePanelRounds
    val base =
      s"""WITH panel AS (
         | SELECT o_orderkey FROM orders
         | ORDER BY md5(CAST(o_orderkey AS VARCHAR)), o_orderkey LIMIT $panelN),
         |op AS (
         | SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem
         | WHERE l_orderkey IN (SELECT o_orderkey FROM panel)),
         |e0 AS MATERIALIZED (
         | SELECT a.p AS u, b.p AS v FROM op a JOIN op b
         |  ON a.o = b.o AND a.p < b.p
         | GROUP BY 1, 2)""".stripMargin
    val iters = (1 to rounds).map { i =>
      val p = i - 1
      s""",
         |k$i AS MATERIALIZED (
         | SELECT p FROM (SELECT u AS p FROM e$p UNION ALL SELECT v FROM e$p) t
         | GROUP BY p HAVING count(*) >= $k),
         |e$i AS MATERIALIZED (
         | SELECT u, v FROM e$p
         | WHERE u IN (SELECT p FROM k$i) AND v IN (SELECT p FROM k$i))""".stripMargin
    }.mkString
    base + iters +
      s"""
         |SELECT CAST(p AS BIGINT) AS p, CAST(count(*) AS BIGINT) AS core_deg
         |FROM (SELECT u AS p FROM e$rounds UNION ALL SELECT v FROM e$rounds) t
         |GROUP BY p ORDER BY p""".stripMargin
  }

  def oracleSql: Map[String, String] = Map(
    "q1_pricing_agg" ->
      """SELECT l_returnflag, l_linestatus,
        | round(sum(l_quantity), 2) AS sum_qty,
        | round(sum(l_extendedprice), 2) AS sum_base_price,
        | round(sum(l_extendedprice * (1.0 - l_discount)), 2) AS sum_disc_price,
        | round(avg(l_quantity), 4) AS avg_qty,
        | round(avg(l_discount), 4) AS avg_disc,
        | count(*) AS count_order
        |FROM lineitem
        |WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
        |GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin,
    "q3_join_agg" ->
      """SELECT l_orderkey, o_orderdate,
        | round(sum(l_extendedprice * (1.0 - l_discount)), 2) AS revenue
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |WHERE c_mktsegment = 'BUILDING'
        |  AND o_orderdate < TIMESTAMP '1995-03-15 00:00:00'
        |  AND l_shipdate > TIMESTAMP '1995-03-15 00:00:00'
        |GROUP BY l_orderkey, o_orderdate
        |ORDER BY revenue DESC, l_orderkey
        |LIMIT 10""".stripMargin,
    "q5_multijoin" ->
      """SELECT n_name,
        | round(sum(l_extendedprice * (1.0 - l_discount)), 2) AS revenue
        |FROM lineitem
        |JOIN supplier ON l_suppkey = s_suppkey
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey AND s_nationkey = c_nationkey
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |WHERE r_name = 'ASIA'
        |GROUP BY n_name
        |ORDER BY revenue DESC, n_name""".stripMargin,
    "q_window_rank" ->
      """SELECT o_custkey, o_orderkey, o_totalprice, rn FROM (
        | SELECT o_custkey, o_orderkey, o_totalprice,
        |  row_number() OVER (PARTITION BY o_custkey
        |    ORDER BY o_totalprice DESC, o_orderkey) AS rn
        | FROM orders) t
        |WHERE rn <= 3
        |ORDER BY o_custkey, rn""".stripMargin,
    "q_window_running" ->
      """SELECT l_suppkey, l_orderkey, l_linenumber,
        | CAST(sum(CAST(l_quantity AS DECIMAL(12,2))) OVER w AS DOUBLE) AS running_qty,
        | CAST(CAST(l_quantity AS DECIMAL(12,2))
        |   - coalesce(lag(CAST(l_quantity AS DECIMAL(12,2)), 1) OVER w2,
        |              CAST(0.0 AS DECIMAL(12,2))) AS DOUBLE) AS qty_delta
        |FROM lineitem
        |WINDOW w AS (PARTITION BY l_suppkey
        |   ORDER BY l_shipdate, l_orderkey, l_linenumber, l_quantity
        |   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
        | w2 AS (PARTITION BY l_suppkey
        |   ORDER BY l_shipdate, l_orderkey, l_linenumber, l_quantity)
        |ORDER BY l_suppkey, l_orderkey, l_linenumber""".stripMargin,
    "q_topk_group" ->
      """SELECT p_brand, p_partkey, p_retailprice, rk FROM (
        | SELECT p_brand, p_partkey, p_retailprice,
        |  row_number() OVER (PARTITION BY p_brand
        |    ORDER BY p_retailprice DESC, p_partkey) AS rk
        | FROM part) t
        |WHERE rk <= 2
        |ORDER BY p_brand, rk""".stripMargin,
    "q_semi_join" ->
      """SELECT c_custkey, c_name FROM customer
        |WHERE EXISTS (SELECT 1 FROM orders
        |  WHERE o_custkey = c_custkey AND o_orderstatus = 'O')
        |ORDER BY c_custkey""".stripMargin,
    "q_anti_join" ->
      """SELECT c_custkey, c_name FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
        |ORDER BY c_custkey""".stripMargin,
    "q_rollup" ->
      """SELECT o_orderstatus, o_orderpriority,
        | round(sum(o_totalprice), 2) AS total_price,
        | count(*) AS n_orders
        |FROM orders
        |GROUP BY ROLLUP (o_orderstatus, o_orderpriority)
        |ORDER BY o_orderstatus ASC NULLS FIRST, o_orderpriority ASC NULLS FIRST""".stripMargin,
    "q_distinct_agg" ->
      """SELECT l_returnflag,
        | count(DISTINCT l_partkey) AS n_parts,
        | count(DISTINCT l_suppkey) AS n_supps,
        | count(*) AS n_rows
        |FROM lineitem
        |GROUP BY l_returnflag
        |ORDER BY l_returnflag""".stripMargin,
    "q_weighted_avg" ->
      """SELECT l_returnflag,
        | round(sum(l_extendedprice * l_quantity) / sum(l_quantity), 4) AS wavg_price
        |FROM lineitem
        |GROUP BY l_returnflag
        |ORDER BY l_returnflag""".stripMargin,
    "q_null_safe" ->
      """WITH fed AS (
        | SELECT c_custkey, NULL AS c_mktsegment FROM customer WHERE c_nationkey <= 11
        | UNION ALL
        | SELECT c_custkey, c_mktsegment FROM customer WHERE c_nationkey > 11),
        |segs AS (
        | SELECT DISTINCT c_mktsegment AS seg FROM customer
        | UNION ALL SELECT NULL AS seg)
        |SELECT seg, count(*) AS n
        |FROM fed JOIN segs ON fed.c_mktsegment IS NOT DISTINCT FROM segs.seg
        |GROUP BY seg
        |ORDER BY seg ASC NULLS FIRST""".stripMargin,
    "q_window_battery" ->
      """SELECT o_custkey, o_orderkey,
        | CAST(ntile(4) OVER w AS BIGINT) AS quartile,
        | round(percent_rank() OVER w, 6) AS pr,
        | round(cume_dist() OVER w, 6) AS cd,
        | first_value(o_orderkey) OVER wf AS cheapest_order,
        | last_value(o_orderkey) OVER wf AS priciest_order
        |FROM orders
        |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_totalprice, o_orderkey),
        | wf AS (PARTITION BY o_custkey ORDER BY o_totalprice, o_orderkey
        |   ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
        |ORDER BY o_custkey, o_orderkey""".stripMargin,
    "q_unpivot" ->
      """SELECT o_orderkey, 'totalprice' AS metric,
        | round(o_totalprice, 2) AS value FROM orders
        |UNION ALL
        |SELECT o_orderkey, 'custkey' AS metric,
        | CAST(o_custkey AS DOUBLE) AS value FROM orders
        |ORDER BY o_orderkey, metric""".stripMargin,
    "q_key_gaps" ->
      """WITH k AS (SELECT DISTINCT o_orderkey FROM orders),
        |d AS (SELECT o_orderkey,
        |  lag(o_orderkey) OVER (ORDER BY o_orderkey) AS prev FROM k)
        |SELECT prev, o_orderkey AS next_key, o_orderkey - prev - 1 AS gap_size
        |FROM d WHERE o_orderkey - prev > 1
        |ORDER BY prev""".stripMargin,
    "q_multiset_ops" ->
      """WITH a AS (SELECT l_suppkey AS k FROM lineitem),
        |b AS (SELECT l_suppkey AS k FROM lineitem WHERE l_returnflag = 'R')
        |SELECT k, count(*) AS n, 'intersect_all' AS set_op
        |FROM (SELECT k FROM a INTERSECT ALL SELECT k FROM b) GROUP BY k
        |UNION ALL
        |SELECT k, count(*) AS n, 'except_all' AS set_op
        |FROM (SELECT k FROM a EXCEPT ALL SELECT k FROM b) GROUP BY k
        |ORDER BY set_op, k""".stripMargin,
    "q_full_outer" ->
      """SELECT c_custkey, c_name, o_orderkey,
        | round(o_totalprice, 2) AS total_price
        |FROM (SELECT c_custkey, c_name FROM customer WHERE c_acctbal > 9000.0) c
        |FULL OUTER JOIN (SELECT o_custkey, o_orderkey, o_totalprice
        |  FROM orders WHERE o_totalprice > 400000.0) o
        | ON c_custkey = o_custkey
        |ORDER BY c_custkey ASC NULLS FIRST, o_orderkey ASC NULLS FIRST""".stripMargin,
    "q13_custdist" ->
      """SELECT c_count, count(*) AS custdist FROM (
        | SELECT c_custkey, CAST(count(o_orderkey) AS BIGINT) AS c_count
        | FROM customer LEFT OUTER JOIN orders ON c_custkey = o_custkey
        | GROUP BY c_custkey) t
        |GROUP BY c_count
        |ORDER BY custdist DESC, c_count DESC""".stripMargin,
    "q18_large_volume" ->
      """SELECT o_orderkey, o_custkey, round(o_totalprice, 2) AS total_price,
        | round(qty_sum, 2) AS qty_sum
        |FROM orders JOIN (
        | SELECT l_orderkey, sum(l_quantity) AS qty_sum
        | FROM lineitem GROUP BY l_orderkey HAVING sum(l_quantity) > 150.0) t
        | ON o_orderkey = l_orderkey
        |ORDER BY o_orderkey""".stripMargin,
    "q20_nested_exists" ->
      """SELECT s_suppkey, s_name FROM supplier
        |WHERE EXISTS (
        | SELECT 1 FROM lineitem
        | WHERE l_suppkey = s_suppkey
        |   AND l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
        |   AND EXISTS (SELECT 1 FROM part
        |     WHERE p_partkey = l_partkey AND p_name LIKE '%a%'))
        |ORDER BY s_suppkey""".stripMargin,
    "q_histogram" ->
      """WITH s AS (SELECT min(o_totalprice) AS mn, max(o_totalprice) AS mx
        |           FROM orders),
        |b AS (
        |  SELECT CASE WHEN s.mx = s.mn THEN 0
        |           ELSE CAST(least(floor((o_totalprice - s.mn) /
        |             ((s.mx - s.mn) / 20)), 19) AS BIGINT) END AS bin,
        |         count(*) AS n
        |  FROM orders, s GROUP BY 1)
        |SELECT b.bin,
        |  round(s.mn + b.bin * ((s.mx - s.mn) / 20), 4) AS bin_lo,
        |  round(s.mn + (b.bin + 1) * ((s.mx - s.mn) / 20), 4) AS bin_hi,
        |  b.n
        |FROM b, s ORDER BY b.bin""".stripMargin,
    "q_equidepth_hist" ->
      """WITH thr AS (
        | SELECT unnest(quantile_cont(o_totalprice,
        |   [0.125, 0.25, 0.375, 0.5, 0.625, 0.75, 0.875])) AS t
        | FROM orders),
        |bk AS (
        | SELECT o.o_orderkey, max(o.o_totalprice) AS v,
        |  CAST(sum(CASE WHEN o.o_totalprice > thr.t THEN 1 ELSE 0 END)
        |    AS BIGINT) AS bucket
        | FROM orders o CROSS JOIN thr
        | GROUP BY o.o_orderkey)
        |SELECT bucket, count(*) AS n,
        | round(min(v), 2) AS lo, round(max(v), 2) AS hi
        |FROM bk GROUP BY bucket ORDER BY bucket""".stripMargin,
    "q_trend_slope" ->
      """WITH xy AS (
        |  SELECT o_custkey,
        |    CAST(datediff('day', DATE '2000-01-01',
        |      CAST(o_orderdate AS DATE)) AS BIGINT) AS x,
        |    CAST(round(o_totalprice * 100) AS BIGINT) AS y
        |  FROM orders),
        |s AS (
        |  SELECT o_custkey, count(*) AS n, sum(x) AS sx, sum(y) AS sy,
        |    sum(x * y) AS sxy, sum(x * x) AS sxx
        |  FROM xy GROUP BY o_custkey)
        |SELECT o_custkey, n,
        |  round(CASE WHEN n * sxx - sx * sx = 0 THEN NULL
        |    ELSE CAST(n * sxy - sx * sy AS DOUBLE) /
        |         CAST(n * sxx - sx * sx AS DOUBLE) END, 6)
        |    AS slope_cents_per_day
        |FROM s ORDER BY o_custkey""".stripMargin,
    "q_crosstab_chi2" ->
      """WITH cells AS (
        |  SELECT o_orderpriority AS prio, o_orderstatus AS status,
        |    count(*) AS n
        |  FROM orders GROUP BY 1, 2),
        |rt AS (SELECT prio, sum(n) AS row_n FROM cells GROUP BY prio),
        |ct AS (SELECT status, sum(n) AS col_n FROM cells GROUP BY status),
        |g AS (SELECT sum(n) AS grand_n FROM cells),
        |e AS (
        |  SELECT cells.prio, cells.status, cells.n,
        |    CAST(rt.row_n * ct.col_n AS DOUBLE) / CAST(g.grand_n AS DOUBLE)
        |      AS expected
        |  FROM cells JOIN rt ON cells.prio = rt.prio
        |  JOIN ct ON cells.status = ct.status CROSS JOIN g)
        |SELECT prio, status, n, round(expected, 4) AS expected,
        |  round((CAST(n AS DOUBLE) - expected) * (CAST(n AS DOUBLE) - expected)
        |    / expected, 6) AS chi2_term
        |FROM e ORDER BY prio, status""".stripMargin,
    "q_stats_agg" ->
      """SELECT l_returnflag,
        | round(corr(l_quantity, l_extendedprice), 6) AS corr_qty_price,
        | round(covar_samp(l_quantity, l_extendedprice), 4) AS covar_qty_price,
        | round(stddev_samp(l_discount), 6) AS stddev_disc,
        | round(var_samp(l_tax), 6) AS var_tax,
        | round(avg(l_quantity), 6) AS mean_qty
        |FROM lineitem
        |GROUP BY l_returnflag
        |ORDER BY l_returnflag""".stripMargin,
    "q_array_funcs" ->
      """SELECT doc_id,
        | array_to_string(list_sort(list_distinct(
        |   string_split_regex(lower(trim(text)), '\s+')))[1:5], ',') AS first5_tokens,
        | CAST(len(list_distinct(string_split_regex(lower(trim(text)), '\s+'))) AS BIGINT)
        |   AS n_distinct_tokens,
        | list_contains(string_split_regex(lower(trim(text)), '\s+'), 'spark')
        |   AS mentions_spark
        |FROM documents
        |ORDER BY doc_id""".stripMargin,
    "q_regexp_funcs" ->
      """SELECT event_id,
        | array_to_string(regexp_extract_all(props, '[0-9]+', 0), ',') AS numbers,
        | CAST(len(regexp_extract_all(props, '[0-9]+', 0)) AS BIGINT) AS n_numbers
        |FROM events
        |ORDER BY event_id""".stripMargin,
    "q_conditional_funcs" ->
      """SELECT o_orderkey,
        | CASE WHEN o_totalprice > 300000.0 THEN 'high'
        |   WHEN o_totalprice > 150000.0 THEN 'mid' ELSE 'low' END AS price_band,
        | coalesce(nullif(o_orderstatus, 'O'), 'open') AS status_or_open,
        | round(least(o_totalprice, 200000.0), 2) AS capped,
        | round(greatest(o_totalprice - 100000.0, 0.0), 2) AS excess
        |FROM orders
        |ORDER BY o_orderkey""".stripMargin,
    "q_dict_violations" ->
      """SELECT o_orderpriority AS violating_value, count(*) AS n_rows
        |FROM orders
        |WHERE o_orderpriority NOT IN ('1-URGENT', '2-HIGH', '3-MEDIUM')
        |GROUP BY 1
        |ORDER BY violating_value""".stripMargin,
    "q_quality_profile" ->
      """SELECT count(*) AS n_rows,
        | CAST(count(*) FILTER (WHERE l_quantity <= 0.0 OR l_quantity > 50.0) AS BIGINT)
        |   AS qty_out_of_range,
        | CAST(count(*) FILTER (WHERE l_discount < 0.0 OR l_discount > 1.0) AS BIGINT)
        |   AS disc_out_of_range,
        | CAST(count(*) FILTER (WHERE l_returnflag IS NULL OR l_returnflag = '') AS BIGINT)
        |   AS flag_missing,
        | CAST(count(*) FILTER (WHERE l_shipdate IS NULL) AS BIGINT) AS date_missing
        |FROM lineitem""".stripMargin,
    "q_upsert_latest" ->
      """SELECT user_id, last_event_id, last_status FROM (
        | SELECT user_id, event_id AS last_event_id, event_type AS last_status,
        |  row_number() OVER (PARTITION BY user_id
        |    ORDER BY CAST(ts AS TIMESTAMP) DESC, event_id DESC) AS rn
        | FROM events) t
        |WHERE rn = 1
        |ORDER BY user_id""".stripMargin,
    "q_incremental_agg" ->
      """SELECT user_id, event_type, count(*) AS n,
        | round(sum(value), 2) AS total_value,
        | min(CAST(ts AS TIMESTAMP)) AS first_ts,
        | max(CAST(ts AS TIMESTAMP)) AS last_ts
        |FROM events
        |GROUP BY user_id, event_type
        |ORDER BY user_id, event_type""".stripMargin,
    "q_percentiles" ->
      """SELECT l_returnflag,
        | round(quantile_cont(l_extendedprice, 0.5), 4) AS p50,
        | round(quantile_cont(l_extendedprice, 0.9), 4) AS p90,
        | round(quantile_cont(l_extendedprice, 0.99), 4) AS p99
        |FROM lineitem
        |GROUP BY l_returnflag
        |ORDER BY l_returnflag""".stripMargin,
    "q_set_ops" ->
      """WITH building AS (
        |  SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'),
        |with_open AS (
        |  SELECT o_custkey AS c_custkey FROM orders WHERE o_orderstatus = 'O')
        |SELECT c_custkey, 'intersect' AS set_op
        |FROM (SELECT c_custkey FROM building INTERSECT SELECT c_custkey FROM with_open)
        |UNION ALL
        |SELECT c_custkey, 'except' AS set_op
        |FROM (SELECT c_custkey FROM building EXCEPT SELECT c_custkey FROM with_open)
        |ORDER BY set_op, c_custkey""".stripMargin,
    "q_grouping_sets" ->
      """SELECT o_orderstatus, o_orderpriority,
        | round(sum(o_totalprice), 2) AS total_price,
        | count(*) AS n
        |FROM orders
        |GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
        |ORDER BY o_orderstatus ASC NULLS FIRST,
        |  o_orderpriority ASC NULLS FIRST""".stripMargin,
    "q_correlated_subquery" ->
      """SELECT c_custkey,
        | CAST((SELECT count(*) FROM orders WHERE o_custkey = c_custkey) AS BIGINT)
        |   AS n_orders,
        | (SELECT round(max(o_totalprice), 2) FROM orders
        |   WHERE o_custkey = c_custkey) AS max_price
        |FROM customer
        |WHERE c_acctbal > 9500.0
        |ORDER BY c_custkey""".stripMargin,
    "q_range_frame" ->
      """SELECT o_custkey, o_orderkey, o_orderdate,
        | round(sum(o_totalprice) OVER (PARTITION BY o_custkey
        |   ORDER BY o_orderdate
        |   RANGE BETWEEN INTERVAL 30 DAYS PRECEDING AND CURRENT ROW), 2)
        |   AS spend_30d
        |FROM orders
        |ORDER BY o_custkey, o_orderdate, o_orderkey""".stripMargin,
    "q_string_funcs" ->
      """SELECT p_partkey,
        | upper(p_name) AS name_upper,
        | substring(p_name, 1, 5) AS name_head,
        | CAST(length(replace(p_name, ' ', '')) AS BIGINT) AS nonspace_len,
        | CAST(levenshtein(p_name, p_brand) AS BIGINT) AS lev_brand,
        | reverse(p_type) AS type_rev,
        | concat_ws('|', p_brand, p_type) AS brand_type
        |FROM part
        |ORDER BY p_partkey""".stripMargin,
    "q_date_funcs" ->
      """SELECT o_orderkey,
        | CAST(year(o_orderdate) AS BIGINT) AS y,
        | CAST(quarter(o_orderdate) AS BIGINT) AS q,
        | CAST(month(o_orderdate) AS BIGINT) AS m,
        | CAST(day(o_orderdate) AS BIGINT) AS d,
        | strftime(CAST(o_orderdate AS DATE) + 30, '%Y-%m-%d') AS due_date,
        | strftime(last_day(CAST(o_orderdate AS DATE)), '%Y-%m-%d') AS month_end
        |FROM orders
        |ORDER BY o_orderkey""".stripMargin,
    "q_asof_join" ->
      """SELECT p.event_id, p.user_id, CAST(p.ts AS TIMESTAMP) AS ts,
        | v.event_id AS last_view_id, CAST(v.ts AS TIMESTAMP) AS last_view_ts
        |FROM (SELECT * FROM events WHERE event_type = 'purchase') p
        |ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'view') v
        | ON p.user_id = v.user_id AND CAST(p.ts AS TIMESTAMP) >= CAST(v.ts AS TIMESTAMP)
        |ORDER BY p.event_id""".stripMargin,
    "q_asof_join_native" ->
      """SELECT p.event_id, p.user_id, CAST(p.ts AS TIMESTAMP) AS ts,
        | v.event_id AS last_view_id, CAST(v.ts AS TIMESTAMP) AS last_view_ts
        |FROM (SELECT * FROM events WHERE event_type = 'purchase') p
        |ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'view') v
        | ON p.user_id = v.user_id AND CAST(p.ts AS TIMESTAMP) >= CAST(v.ts AS TIMESTAMP)
        |ORDER BY p.event_id""".stripMargin,
    "q_range_join" ->
      """SELECT p.event_id AS p_id, p.user_id AS p_user,
        | CAST(p.ts AS TIMESTAMP) AS p_ts, count(e.ts) AS n_errors_1h
        |FROM (SELECT * FROM events WHERE event_type = 'purchase') p
        |LEFT JOIN (SELECT * FROM events WHERE event_type = 'error') e
        | ON p.user_id = e.user_id
        | AND CAST(e.ts AS TIMESTAMP) >= CAST(p.ts AS TIMESTAMP)
        | AND CAST(e.ts AS TIMESTAMP) < CAST(p.ts AS TIMESTAMP) + INTERVAL 1 HOUR
        |GROUP BY p.event_id, p.user_id, CAST(p.ts AS TIMESTAMP)
        |ORDER BY p.event_id""".stripMargin,
    "q_sessionize" ->
      """WITH e AS (
        | SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, event_id, value,
        |  lag(CAST(ts AS TIMESTAMP)) OVER (PARTITION BY user_id ORDER BY CAST(ts AS TIMESTAMP), event_id) AS prev_ts
        | FROM events),
        |flagged AS (
        | SELECT *, CASE WHEN prev_ts IS NULL
        |   OR epoch_us(ts) - epoch_us(prev_ts) > 1800000000 THEN 1 ELSE 0 END AS new_sess
        | FROM e),
        |sess AS (
        | SELECT *, CAST(sum(new_sess) OVER (PARTITION BY user_id
        |   ORDER BY ts, event_id ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id
        | FROM flagged)
        |SELECT user_id, session_id, count(*) AS n_events,
        | min(ts) AS sess_start, max(ts) AS sess_end,
        | round(sum(value), 2) AS sess_value
        |FROM sess
        |GROUP BY user_id, session_id
        |ORDER BY user_id, session_id""".stripMargin,
    "q_time_bucket" ->
      """SELECT date_trunc('hour', CAST(ts AS TIMESTAMP)) AS bucket, event_type,
        | count(*) AS n, round(sum(value), 2) AS total_value
        |FROM events
        |GROUP BY 1, 2
        |ORDER BY bucket, event_type""".stripMargin,
    "q_skew_salted_agg" ->
      """SELECT l_returnflag, round(sum(l_quantity), 2) AS value_sum,
        | count(*) AS n_rows
        |FROM lineitem
        |GROUP BY l_returnflag
        |ORDER BY l_returnflag""".stripMargin,
    "q_scd2_intervals" ->
      """WITH ev AS (
        | SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, event_id, event_type
        | FROM events),
        |changes AS (
        | SELECT user_id, ts, event_id, event_type FROM (
        |  SELECT user_id, ts, event_id, event_type,
        |   lag(event_type) OVER (PARTITION BY user_id
        |     ORDER BY ts, event_id) AS prev_type
        |  FROM ev) t
        | WHERE prev_type IS NULL OR prev_type <> event_type)
        |SELECT user_id, event_type AS status, ts AS valid_from,
        | lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS valid_to,
        | lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
        |   AS is_current
        |FROM changes
        |ORDER BY user_id, valid_from""".stripMargin,
    "q_cdc_diff" ->
      """WITH ev AS (
        | SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, event_id, event_type
        | FROM events),
        |before_s AS (
        | SELECT user_id, event_type AS old_status FROM (
        |  SELECT user_id, event_type, row_number() OVER (PARTITION BY user_id
        |    ORDER BY ts DESC, event_id DESC) AS rn
        |  FROM ev WHERE ts <= TIMESTAMP '2024-01-15 00:00:00') t
        | WHERE rn = 1),
        |after_s AS (
        | SELECT user_id, event_type AS new_status FROM (
        |  SELECT user_id, event_type, row_number() OVER (PARTITION BY user_id
        |    ORDER BY ts DESC, event_id DESC) AS rn
        |  FROM ev WHERE ts <= TIMESTAMP '2024-02-01 00:00:00') t
        | WHERE rn = 1)
        |SELECT coalesce(b.user_id, a.user_id) AS user_id,
        | old_status, new_status,
        | CASE WHEN old_status IS NULL THEN 'insert'
        |      WHEN new_status IS NULL THEN 'delete'
        |      ELSE 'update' END AS change_type
        |FROM before_s b FULL OUTER JOIN after_s a ON b.user_id = a.user_id
        |WHERE old_status IS DISTINCT FROM new_status
        |ORDER BY user_id""".stripMargin,
    "q_json_extract" ->
      """SELECT CAST(json_extract_string(props, '$.k') AS BIGINT) AS prop_k,
        | count(*) AS n
        |FROM events
        |GROUP BY 1
        |ORDER BY prop_k""".stripMargin,
    "q_gap_fill" ->
      """WITH m AS (
        |  SELECT o_custkey, o_orderkey, o_orderdate,
        |    CASE WHEN o_orderkey % 4 <> 0 THEN o_totalprice END AS v,
        |    CASE WHEN o_orderkey % 4 <> 0
        |         THEN CAST(round(o_totalprice * 100) AS BIGINT) END AS vc,
        |    CAST(datediff('day', DATE '1990-01-01',
        |      CAST(o_orderdate AS DATE)) AS BIGINT) AS x
        |  FROM orders),
        |f AS (
        |  SELECT o_custkey, o_orderkey, v, x,
        |    last_value(v IGNORE NULLS) OVER w_back AS pv,
        |    last_value(vc IGNORE NULLS) OVER w_back AS pc,
        |    last_value(CASE WHEN v IS NOT NULL THEN x END IGNORE NULLS)
        |      OVER w_back AS px,
        |    first_value(vc IGNORE NULLS) OVER w_fwd AS nc,
        |    first_value(CASE WHEN v IS NOT NULL THEN x END IGNORE NULLS)
        |      OVER w_fwd AS nx
        |  FROM m
        |  WINDOW
        |    w_back AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
        |    w_fwd AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
        |      ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING))
        |SELECT o_custkey, o_orderkey, v AS observed, pv AS ffill,
        |  CAST(CASE WHEN px IS NULL THEN nc * 100
        |       WHEN nx IS NULL THEN pc * 100
        |       WHEN nx = px THEN pc * 100
        |       ELSE (200 * pc * (nx - px) + 200 * (nc - pc) * (x - px) +
        |             (nx - px)) // (2 * (nx - px)) END AS DOUBLE) / 10000.0
        |    AS interp
        |FROM f ORDER BY o_custkey, o_orderkey""".stripMargin,
    "q_edit_join" ->
      """SELECT a.c_custkey AS key_a, b.c_custkey AS key_b,
        | CAST(levenshtein(a.c_name, b.c_name) AS BIGINT) AS edit_distance
        |FROM customer a JOIN customer b
        |  ON a.c_custkey < b.c_custkey
        |  AND abs(length(a.c_name) - length(b.c_name)) <= 1
        |WHERE levenshtein(a.c_name, b.c_name) <= 1
        |ORDER BY key_a, key_b""".stripMargin,
    "q_edit_join_tau2" ->
      """WITH panel AS (
        | SELECT c_custkey FROM customer
        | ORDER BY md5(CAST(c_custkey AS VARCHAR)), c_custkey LIMIT 1500),
        |c AS (SELECT c_custkey, c_name FROM customer
        | WHERE c_custkey IN (SELECT c_custkey FROM panel))
        |SELECT a.c_custkey AS key_a, b.c_custkey AS key_b,
        | CAST(levenshtein(a.c_name, b.c_name) AS BIGINT) AS edit_distance
        |FROM c a JOIN c b
        |  ON a.c_custkey < b.c_custkey
        |  AND abs(length(a.c_name) - length(b.c_name)) <= 2
        |WHERE levenshtein(a.c_name, b.c_name) <= 2
        |ORDER BY key_a, key_b""".stripMargin,
    "q_entity_resolution" ->
      """WITH RECURSIVE
        |e AS (SELECT a.c_custkey AS ka, b.c_custkey AS kb
        |  FROM customer a JOIN customer b
        |  ON a.c_custkey < b.c_custkey
        |  AND a.c_mktsegment = b.c_mktsegment
        |  AND abs(length(a.c_name) - length(b.c_name)) <= 1
        |  AND levenshtein(a.c_name, b.c_name) <= 1),
        |ud AS (SELECT ka AS a, kb AS b FROM e UNION ALL SELECT kb, ka FROM e),
        |reach(n, l) AS (
        |  SELECT c_custkey, c_custkey FROM customer
        |  UNION
        |  SELECT ud.b, r.l FROM reach r JOIN ud ON ud.a = r.n)
        |SELECT n AS c_custkey, min(l) AS entity_id
        |FROM reach GROUP BY n ORDER BY n""".stripMargin,
    "q_kcore_panel" -> kcorePanelOracleSql(k = 2, panelN = 2000),
    "q_pagerank_panel" -> pagerankPanelOracleSql(panelN = 2000),
    "q_chunk_spans" ->
      """WITH d AS (
        | SELECT doc_id,
        |  string_split_regex(lower(trim(text)), '\s+') AS toks
        | FROM documents),
        |l AS (SELECT doc_id, toks, len(toks) AS n FROM d WHERE len(toks) > 0),
        |c AS (
        | SELECT doc_id, n, unnest(range(0,
        |   CAST(ceil(greatest(n - 32, 0) / 24.0) AS BIGINT) + 1)) AS i
        | FROM l)
        |SELECT c.doc_id, CAST(c.i AS BIGINT) AS chunk_idx,
        | CAST(c.i * 24 + 1 AS BIGINT) AS start_tok,
        | CAST(least(32, c.n - c.i * 24) AS BIGINT) AS n_toks,
        | array_to_string(list_slice(l.toks, c.i * 24 + 1,
        |   least(c.i * 24 + 32, c.n)), ' ') AS chunk
        |FROM c JOIN l USING (doc_id)
        |ORDER BY doc_id, chunk_idx""".stripMargin,
    "q_mixture_weights" ->
      """WITH counts AS (
        | SELECT source AS domain, CAST(count(*) AS BIGINT) AS n_docs
        | FROM documents GROUP BY 1),
        |m AS (SELECT max(n_docs) AS n_max FROM counts)
        |SELECT domain, n_docs,
        | CAST(floor(sqrt(CAST(n_docs AS DOUBLE)) * 1e6 + 0.5) AS BIGINT)
        |   AS w_micro,
        | round(sqrt(CAST(n_docs AS DOUBLE)) / sqrt(CAST(n_max AS DOUBLE)), 6)
        |   AS rel_rate
        |FROM counts CROSS JOIN m
        |ORDER BY domain""".stripMargin,
    "q_winnow_fingerprint" ->
      """WITH d AS (
        | SELECT doc_id,
        |  string_split_regex(lower(trim(text)), '\s+') AS toks
        | FROM documents),
        |g AS (
        | SELECT doc_id,
        |  list_transform(range(0, len(toks) - 4 + 1),
        |   i -> substr(md5(array_to_string(toks[i+1:i+4], ' ')), 1, 16)) AS hs
        | FROM d WHERE len(toks) >= 4),
        |wn AS (
        | SELECT doc_id,
        |  list_distinct(list_transform(range(0, greatest(len(hs) - 5, 0) + 1),
        |   i -> list_min(hs[i+1:i+5]))) AS fps
        | FROM g)
        |SELECT doc_id, unnest(fps) AS fp
        |FROM wn ORDER BY doc_id, fp""".stripMargin,
    "q_winnow_candidates" ->
      """WITH d AS (
        | SELECT doc_id,
        |  string_split_regex(lower(trim(text)), '\s+') AS toks
        | FROM documents),
        |g AS (
        | SELECT doc_id,
        |  list_transform(range(0, len(toks) - 4 + 1),
        |   i -> substr(md5(array_to_string(toks[i+1:i+4], ' ')), 1, 16)) AS hs
        | FROM d WHERE len(toks) >= 4),
        |wn AS (
        | SELECT doc_id,
        |  list_distinct(list_transform(range(0, greatest(len(hs) - 5, 0) + 1),
        |   i -> list_min(hs[i+1:i+5]))) AS fps
        | FROM g),
        |f AS (SELECT doc_id, unnest(fps) AS fp FROM wn),
        |rare AS (SELECT fp FROM f GROUP BY fp HAVING count(*) <= 50),
        |kept AS (SELECT f.doc_id, f.fp FROM f JOIN rare USING (fp))
        |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        | CAST(count(*) AS BIGINT) AS n_shared
        |FROM kept a JOIN kept b ON a.fp = b.fp AND a.doc_id < b.doc_id
        |GROUP BY 1, 2 HAVING count(*) >= 2
        |ORDER BY doc_a, doc_b""".stripMargin,
    "q_boilerplate_grams" ->
      """WITH d AS (
        | SELECT doc_id,
        |  string_split_regex(lower(trim(text)), '\s+') AS toks
        | FROM documents),
        |g AS (
        | SELECT doc_id, unnest(list_transform(range(0, len(toks) - 8 + 1),
        |   i -> array_to_string(toks[i+1:i+8], ' '))) AS gram
        | FROM d WHERE len(toks) >= 8)
        |SELECT gram, CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
        | CAST(count(*) AS BIGINT) AS n_occurrences
        |FROM g GROUP BY gram HAVING count(DISTINCT doc_id) >= 2
        |ORDER BY n_docs DESC, gram LIMIT 100""".stripMargin,
    "q_rfm_segments" ->
      """WITH u AS (
        | SELECT user_id, epoch_us(max(ts)) AS recency_us,
        |  CAST(count(*) AS BIGINT) AS n_events,
        |  CAST(sum(CAST(floor(value * 1000 + 0.5) AS BIGINT)) AS BIGINT)
        |    AS monetary_milli
        | FROM events GROUP BY 1),
        |p AS (SELECT * FROM u
        |      ORDER BY md5(CAST(user_id AS VARCHAR)), user_id LIMIT 5000),
        |q AS (
        | SELECT user_id, recency_us, n_events, monetary_milli,
        |  CAST(ntile(5) OVER (ORDER BY recency_us, user_id) AS BIGINT)
        |    AS r_quintile,
        |  CAST(ntile(5) OVER (ORDER BY n_events, user_id) AS BIGINT)
        |    AS f_quintile,
        |  CAST(ntile(5) OVER (ORDER BY monetary_milli, user_id) AS BIGINT)
        |    AS m_quintile
        | FROM p)
        |SELECT *,
        | CAST(r_quintile AS VARCHAR) || CAST(f_quintile AS VARCHAR) ||
        |   CAST(m_quintile AS VARCHAR) AS segment
        |FROM q ORDER BY user_id""".stripMargin,
    "q_burst_days" ->
      """WITH c AS (
        | SELECT event_type, date_trunc('day', ts) AS day,
        |  CAST(count(*) AS BIGINT) AS n
        | FROM events GROUP BY 1, 2),
        |t AS (
        | SELECT event_type, CAST(count(*) AS BIGINT) AS n_days,
        |  CAST(sum(n) AS BIGINT) AS s, CAST(sum(n * n) AS BIGINT) AS sq
        | FROM c GROUP BY 1)
        |SELECT c.event_type, c.day, c.n,
        | CAST((c.n * t.n_days - t.s) * (c.n * t.n_days - t.s)
        |   - 4 * (t.n_days * t.sq - t.s * t.s) AS BIGINT) AS excess
        |FROM c JOIN t USING (event_type)
        |WHERE c.n * t.n_days - t.s > 0
        |  AND (c.n * t.n_days - t.s) * (c.n * t.n_days - t.s)
        |    > 4 * (t.n_days * t.sq - t.s * t.s)
        |ORDER BY event_type, day""".stripMargin,
    "q_gini_sources" ->
      """WITH c AS (
        | SELECT source, CAST(count(*) AS BIGINT) AS x
        | FROM documents GROUP BY 1),
        |r AS (
        | SELECT source, x,
        |  CAST(row_number() OVER (ORDER BY x, source) AS BIGINT) AS i,
        |  CAST(count(*) OVER () AS BIGINT) AS n
        | FROM c)
        |SELECT CAST(max(n) AS BIGINT) AS n_sources,
        | CAST(sum(x) AS BIGINT) AS total_docs,
        | CAST(sum((2 * i - n - 1) * x) AS BIGINT) AS gini_num,
        | CAST(max(n) * sum(x) AS BIGINT) AS gini_den,
        | round(CAST(sum((2 * i - n - 1) * x) AS DOUBLE)
        |   / (max(n) * sum(x)), 6) AS gini
        |FROM r""".stripMargin,
    // Lorenz points: sources in ascending token-mass order, exact
    // integer cumulative sums divided once at the output edge
    "q_lorenz_sources" ->
      """WITH ps AS (
        | SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(greatest(len(string_split_regex(lower(trim(text)),
        |    '\s+')), 1)) AS BIGINT) AS n_tokens
        | FROM documents GROUP BY 1),
        |r AS (
        | SELECT source, n_docs, n_tokens,
        |  CAST(row_number() OVER (ORDER BY n_tokens, source) AS BIGINT)
        |    AS i,
        |  CAST(count(*) OVER () AS BIGINT) AS n,
        |  sum(n_tokens) OVER (ORDER BY n_tokens, source
        |    ROWS UNBOUNDED PRECEDING) AS cum_tokens,
        |  sum(n_tokens) OVER () AS tot
        | FROM ps)
        |SELECT source, n_docs, n_tokens,
        | round(CAST(i AS DOUBLE) / n, 6) AS cum_source_share,
        | round(CAST(cum_tokens AS DOUBLE) / tot, 6) AS cum_token_share
        |FROM r ORDER BY cum_source_share""".stripMargin,
    "q_length_buckets" ->
      """WITH d AS (
        | SELECT CAST(len(string_split_regex(lower(trim(text)), '\s+'))
        |   AS BIGINT) AS n
        | FROM documents),
        |b AS (
        | SELECT n, CASE WHEN n <= 1 THEN CAST(1 AS BIGINT)
        |   ELSE (CAST(1 AS BIGINT) << length(bin(n - 1))) END AS len_bucket
        | FROM d)
        |SELECT len_bucket, CAST(count(*) AS BIGINT) AS n_docs,
        | CAST(sum(n) AS BIGINT) AS sum_tokens,
        | CAST(len_bucket * count(*) - sum(n) AS BIGINT) AS padding,
        | round(CAST(len_bucket * count(*) - sum(n) AS DOUBLE)
        |   / (len_bucket * count(*)), 4) AS waste_share
        |FROM b GROUP BY len_bucket ORDER BY len_bucket""".stripMargin,
    "q_embed_outliers" ->
      """WITH q AS (
        | SELECT vec_id,
        |  unnest(range(1, len(embedding) + 1)) AS pos,
        |  CAST(floor(CAST(unnest(embedding) AS DOUBLE) * 1000 + 0.5) AS BIGINT)
        |    AS qv
        | FROM embeddings),
        |s AS (
        | SELECT pos, sum(qv) AS s, CAST(count(*) AS BIGINT) AS n
        | FROM q GROUP BY pos)
        |SELECT vec_id, CAST(sum((n * qv - s) * (n * qv - s)) AS BIGINT)
        |  AS dist2n2
        |FROM q JOIN s USING (pos)
        |GROUP BY vec_id
        |ORDER BY dist2n2 DESC, vec_id LIMIT 30""".stripMargin,
    "q_triangle_count" ->
      """WITH op AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
        |e0 AS (SELECT a.p AS u, b.p AS v FROM op a JOIN op b
        |       ON a.o = b.o AND a.p < b.p GROUP BY 1, 2 HAVING count(*) >= 2),
        |deg AS (SELECT p, count(*) AS d FROM
        |        (SELECT u AS p FROM e0 UNION ALL SELECT v AS p FROM e0) GROUP BY p),
        |ori AS (SELECT
        |  CASE WHEN du.d < dv.d OR (du.d = dv.d AND e0.u < e0.v)
        |       THEN e0.u ELSE e0.v END AS s,
        |  CASE WHEN du.d < dv.d OR (du.d = dv.d AND e0.u < e0.v)
        |       THEN e0.v ELSE e0.u END AS t
        |  FROM e0 JOIN deg du ON e0.u = du.p JOIN deg dv ON e0.v = dv.p),
        |tri AS (SELECT e1.s AS a, e1.t AS b, e2.t AS c
        |        FROM ori e1 JOIN ori e2 ON e1.t = e2.s
        |        JOIN ori e3 ON e3.s = e1.s AND e3.t = e2.t)
        |SELECT p, count(*) AS n_tri
        |FROM (SELECT a AS p FROM tri UNION ALL SELECT b AS p FROM tri
        |      UNION ALL SELECT c AS p FROM tri)
        |GROUP BY p ORDER BY n_tri DESC, p LIMIT 20""".stripMargin,
    "q_meta_extract" ->
      """SELECT doc_id,
        | split_part(text, chr(10), 1) AS title,
        | regexp_extract(text, '(?i)tables? required[:\-]?\s*([^\n]*)', 1) AS tables_clause,
        | CAST(length(text) - length(replace(text, ' ', '')) + 1 AS BIGINT) AS n_words_approx
        |FROM documents
        |ORDER BY doc_id""".stripMargin,
    "q_meta_typed" ->
      """WITH m AS (
        | SELECT doc_id,
        |  '{"project_name": "proj_' || doc_id || '", "description": "' ||
        |    split_part(text, ' ', 1) || '", "tables": "' || lang || ' , ' ||
        |    source || ' ; events"}' AS j
        | FROM documents)
        |SELECT doc_id,
        | json_extract_string(j, '$.project_name') AS project_name,
        | json_extract_string(j, '$.description') AS description,
        | array_to_string(list_transform(
        |   string_split_regex(json_extract_string(j, '$.tables'), '[,;]'),
        |   x -> trim(x)), '|') AS tables_required
        |FROM m
        |ORDER BY doc_id""".stripMargin,
    "q_meta_yaml" ->
      """WITH y AS (
        | SELECT doc_id,
        |  (CASE WHEN doc_id % 2 = 0 THEN 'name' ELSE 'project_name' END)
        |   || ': proj_' || doc_id || chr(10) ||
        |  'description: "' || split_part(text, ' ', 1) || '"' || chr(10) ||
        |  'tables_required:' || chr(10) ||
        |  '  - ' || lang || chr(10) || '  - ' || source || chr(10) ||
        |  '  - events' || chr(10) AS yt
        | FROM documents),
        |p AS (
        | SELECT doc_id,
        |  regexp_extract(yt, '(?m)^project_name:[ \t]*(.*)$', 1) AS pn,
        |  regexp_extract(yt, '(?m)^name:[ \t]*(.*)$', 1) AS nm,
        |  regexp_extract(yt, '(?m)^description:[ \t]*(.*)$', 1) AS ds,
        |  regexp_extract(yt,
        |    '(?m)^tables_required:[ \t]*\n((?:[ \t]+-[^\n]*\n?)*)', 1) AS blk
        | FROM y)
        |SELECT doc_id,
        | regexp_replace(trim(CASE WHEN length(pn) > 0 THEN pn ELSE nm END),
        |   '^["'']|["'']$', '', 'g') AS project_name,
        | regexp_replace(trim(ds), '^["'']|["'']$', '', 'g') AS description,
        | array_to_string(list_filter(list_transform(
        |   string_split(blk, chr(10)),
        |   x -> trim(regexp_replace(x, '^[ \t]*-[ \t]*', ''))),
        |   x -> x <> ''), '|') AS tables_required
        |FROM p ORDER BY doc_id""".stripMargin,
    "q_poc_registry" ->
      """WITH latest AS (
        | SELECT o_custkey, o_orderpriority FROM (
        |  SELECT o_custkey, o_orderpriority,
        |   row_number() OVER (PARTITION BY o_custkey
        |     ORDER BY o_orderdate DESC, o_orderkey DESC) AS rn
        |  FROM orders) t
        | WHERE rn = 1)
        |SELECT n_name AS site, c_custkey AS poc_id,
        | coalesce(o_orderpriority, 'General') AS assignment
        |FROM customer
        |JOIN nation ON c_nationkey = n_nationkey
        |LEFT JOIN latest ON c_custkey = o_custkey
        |ORDER BY site, poc_id""".stripMargin,
    "q_status_matrix" ->
      """WITH latest AS (
        | SELECT n_name, o_orderpriority, o_orderstatus FROM (
        |  SELECT n_name, o_orderpriority, o_orderstatus,
        |   row_number() OVER (PARTITION BY n_name, o_orderpriority
        |     ORDER BY o_orderdate DESC, o_orderkey DESC) AS rn
        |  FROM orders
        |  JOIN customer ON o_custkey = c_custkey
        |  JOIN nation ON c_nationkey = n_nationkey) t
        | WHERE rn = 1)
        |SELECT n.n_name,
        | coalesce(max(CASE WHEN l.o_orderpriority = '1-URGENT'
        |   THEN l.o_orderstatus END), '❓') AS p1_urgent,
        | coalesce(max(CASE WHEN l.o_orderpriority = '2-HIGH'
        |   THEN l.o_orderstatus END), '❓') AS p2_high,
        | coalesce(max(CASE WHEN l.o_orderpriority = '3-MEDIUM'
        |   THEN l.o_orderstatus END), '❓') AS p3_medium,
        | coalesce(max(CASE WHEN l.o_orderpriority = '4-NOT SPECIFIED'
        |   THEN l.o_orderstatus END), '❓') AS p4_not_specified,
        | coalesce(max(CASE WHEN l.o_orderpriority = '5-LOW'
        |   THEN l.o_orderstatus END), '❓') AS p5_low
        |FROM nation n
        |LEFT JOIN latest l ON n.n_name = l.n_name
        |GROUP BY n.n_name
        |ORDER BY n.n_name""".stripMargin,
    "q_status_pivot" ->
      """SELECT n_name,
        | count(*) FILTER (WHERE o_orderstatus = 'F') AS cnt_f,
        | count(*) FILTER (WHERE o_orderstatus = 'O') AS cnt_o,
        | count(*) FILTER (WHERE o_orderstatus = 'P') AS cnt_p
        |FROM orders
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |GROUP BY n_name
        |ORDER BY n_name""".stripMargin,
    "q_latest_status" ->
      """SELECT user_id, last_event_id, last_status FROM (
        | SELECT user_id, event_id AS last_event_id, event_type AS last_status,
        |  row_number() OVER (PARTITION BY user_id
        |    ORDER BY CAST(ts AS TIMESTAMP) DESC, event_id DESC) AS rn
        | FROM events) t
        |WHERE rn = 1
        |ORDER BY user_id""".stripMargin,
    "q_incomplete_sites" ->
      """SELECT DISTINCT user_id FROM events e
        |WHERE NOT EXISTS (SELECT 1 FROM events p
        |  WHERE p.user_id = e.user_id AND p.event_type = 'purchase')
        |ORDER BY user_id""".stripMargin,
    "q_mention_rollup" ->
      """SELECT n_name, count(*) AS n_pocs,
        | string_agg(c_name, ' ' ORDER BY c_custkey) AS mentions
        |FROM customer
        |JOIN nation ON c_nationkey = n_nationkey
        |WHERE c_acctbal > 9000.0
        |GROUP BY n_name
        |ORDER BY n_name""".stripMargin,
    "q_category_values" ->
      """SELECT DISTINCT p_brand AS dict_key, p_type AS dict_value
        |FROM part
        |ORDER BY dict_key, dict_value""".stripMargin,
    "q_category_append" ->
      """WITH base AS (
        | SELECT DISTINCT p_type FROM part WHERE p_size <= 25),
        |cand AS (
        | SELECT DISTINCT p_type FROM part WHERE p_size > 25)
        |SELECT p_type AS dict_value, CAST(0 AS BIGINT) AS is_new FROM base
        |UNION ALL
        |SELECT p_type AS dict_value, CAST(1 AS BIGINT) AS is_new FROM cand
        |WHERE NOT EXISTS (SELECT 1 FROM base
        |  WHERE base.p_type IS NOT DISTINCT FROM cand.p_type)
        |ORDER BY dict_value""".stripMargin,
    "q_completion_rate" ->
      """SELECT n_name, count(*) AS n_orders,
        | round(CAST(count(*) FILTER (WHERE o_orderstatus = 'F') AS DOUBLE)
        |   / count(*), 4) AS completed_share
        |FROM orders
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |GROUP BY n_name
        |ORDER BY n_name""".stripMargin,
    "q_federated_union" ->
      """SELECT c_custkey, c_name, c_acctbal, NULL AS c_mktsegment
        |FROM customer WHERE c_nationkey <= 11
        |UNION ALL
        |SELECT c_custkey, c_name, NULL AS c_acctbal, c_mktsegment
        |FROM customer WHERE c_nationkey > 11
        |ORDER BY c_custkey""".stripMargin,
    "q_dedup_exact" ->
      """SELECT md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS text_hash,
        | min(doc_id) AS keep_id, count(*) AS n_copies
        |FROM documents
        |GROUP BY 1
        |ORDER BY keep_id""".stripMargin,
    "q_embed_neardup" ->
      """WITH v AS (SELECT vec_id,
        |  list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
        |n AS (SELECT vec_id,
        |  list_transform(v, x -> x / sqrt(list_dot_product(v, v))) AS vn FROM v)
        |SELECT id_a, id_b, round(cos, 6) AS cosine FROM (
        | SELECT a.vec_id AS id_a, b.vec_id AS id_b,
        |  list_dot_product(a.vn, b.vn) AS cos
        | FROM n a JOIN n b ON a.vec_id < b.vec_id) t
        |WHERE cos >= 0.4
        |ORDER BY id_a, id_b""".stripMargin,
    "q_ann_bruteforce" ->
      """WITH v AS (SELECT vec_id,
        |  list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
        |n AS (SELECT vec_id,
        |  list_transform(v, x -> x / sqrt(list_dot_product(v, v))) AS vn FROM v),
        |half AS (
        | SELECT a.vec_id AS id_a, b.vec_id AS id_b,
        |  list_dot_product(a.vn, b.vn) AS cos
        | FROM n a JOIN n b ON a.vec_id < b.vec_id),
        |pairs AS (
        | SELECT id_a, id_b, cos FROM half
        | UNION ALL SELECT id_b AS id_a, id_a AS id_b, cos FROM half),
        |ranked AS (
        | SELECT id_a, id_b, cos, CAST(row_number() OVER (PARTITION BY id_a
        |   ORDER BY cos DESC, id_b) AS BIGINT) AS rank
        | FROM pairs)
        |SELECT id_a, id_b, round(cos, 6) AS cosine, rank
        |FROM ranked WHERE rank <= 3
        |ORDER BY id_a, rank""".stripMargin,
    "q_ann_kernel" ->
      """WITH v AS (SELECT vec_id,
        |  list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
        |n AS (SELECT vec_id,
        |  list_transform(v, x -> x / sqrt(list_dot_product(v, v))) AS vn FROM v),
        |half AS (
        | SELECT a.vec_id AS id_a, b.vec_id AS id_b,
        |  list_dot_product(a.vn, b.vn) AS cos
        | FROM n a JOIN n b ON a.vec_id < b.vec_id),
        |pairs AS (
        | SELECT id_a, id_b, cos FROM half
        | UNION ALL SELECT id_b AS id_a, id_a AS id_b, cos FROM half),
        |ranked AS (
        | SELECT id_a, id_b, cos, CAST(row_number() OVER (PARTITION BY id_a
        |   ORDER BY cos DESC, id_b) AS BIGINT) AS rank
        | FROM pairs)
        |SELECT id_a, id_b, round(cos, 6) AS cosine, rank
        |FROM ranked WHERE rank <= 3
        |ORDER BY id_a, rank""".stripMargin,
    "q_token_count" ->
      """SELECT doc_id,
        | CAST(len(string_split_regex(lower(trim(text)), '\s+')) AS BIGINT) AS ws_tokens,
        | CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]|[^A-Za-z0-9\s]')) AS BIGINT) AS bpe_tokens,
        | CAST(length(text) AS BIGINT) AS n_chars
        |FROM documents
        |ORDER BY doc_id""".stripMargin,
    "q_quality_score" ->
      """WITH t AS (SELECT doc_id,
        |  CAST(len(string_split_regex(lower(trim(text)), '\s+')) AS DOUBLE) AS n_tok,
        |  CAST(len(list_filter(string_split_regex(lower(trim(text)), '\s+'),
        |    x -> list_contains(['the','a','and','of','to','in','is','for'], x))) AS DOUBLE) AS n_stop,
        |  CAST(len(regexp_extract_all(text, '[^A-Za-z0-9\s]')) AS DOUBLE) AS n_punct,
        |  CAST(length(text) AS DOUBLE) AS len
        | FROM documents)
        |SELECT doc_id,
        | round(n_stop / n_tok, 4) AS stopword_ratio,
        | round(n_punct / len, 4) AS punct_ratio,
        | round(len / n_tok, 4) AS avg_token_len,
        | round(least(len / 500.0, 1.0) * 0.4
        |   + least(n_stop / n_tok * 4.0, 1.0) * 0.4
        |   + (1.0 - least(n_punct / len * 10.0, 1.0)) * 0.2, 4) AS quality
        |FROM t
        |ORDER BY doc_id""".stripMargin,
    "q_token_budget" ->
      """WITH t AS (SELECT doc_id,
        |  CAST(len(string_split_regex(lower(trim(text)), '\s+')) AS BIGINT) AS n_tok,
        |  round(least(CAST(length(text) AS DOUBLE) / 500.0, 1.0) * 0.4
        |   + least(CAST(len(list_filter(string_split_regex(lower(trim(text)), '\s+'),
        |       x -> list_contains(['the','a','and','of','to','in','is','for'], x))) AS DOUBLE)
        |     / CAST(len(string_split_regex(lower(trim(text)), '\s+')) AS DOUBLE) * 4.0, 1.0) * 0.4
        |   + (1.0 - least(CAST(len(regexp_extract_all(text, '[^A-Za-z0-9\s]')) AS DOUBLE)
        |     / CAST(length(text) AS DOUBLE) * 10.0, 1.0)) * 0.2, 4) AS quality
        | FROM documents),
        |dist AS (
        | SELECT quality, count(*) AS n_docs,
        |  CAST(sum(n_tok) AS BIGINT) AS grp_tokens
        | FROM t GROUP BY quality)
        |SELECT quality, n_docs, grp_tokens,
        | CAST(sum(grp_tokens) OVER (ORDER BY quality DESC
        |   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
        |   AS cum_tokens,
        | CAST(sum(grp_tokens) OVER (ORDER BY quality DESC
        |   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
        |   <= 20000 AS selected
        |FROM dist
        |ORDER BY quality DESC""".stripMargin,
    "q_source_quota" ->
      """WITH t AS (SELECT source,
        |  CAST(len(string_split_regex(lower(trim(text)), '\s+')) AS BIGINT) AS n_tok,
        |  round(least(CAST(length(text) AS DOUBLE) / 500.0, 1.0) * 0.4
        |   + least(CAST(len(list_filter(string_split_regex(lower(trim(text)), '\s+'),
        |       x -> list_contains(['the','a','and','of','to','in','is','for'], x))) AS DOUBLE)
        |     / CAST(len(string_split_regex(lower(trim(text)), '\s+')) AS DOUBLE) * 4.0, 1.0) * 0.4
        |   + (1.0 - least(CAST(len(regexp_extract_all(text, '[^A-Za-z0-9\s]')) AS DOUBLE)
        |     / CAST(length(text) AS DOUBLE) * 10.0, 1.0)) * 0.2, 4) AS quality
        | FROM documents),
        |dist AS (
        | SELECT source, quality, count(*) AS n_docs,
        |  CAST(sum(n_tok) AS BIGINT) AS grp_tokens
        | FROM t GROUP BY source, quality)
        |SELECT source, quality, n_docs, grp_tokens,
        | CAST(sum(grp_tokens) OVER (PARTITION BY source
        |   ORDER BY quality DESC
        |   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
        |   AS cum_tokens,
        | CAST(sum(grp_tokens) OVER (PARTITION BY source
        |   ORDER BY quality DESC
        |   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
        |   <= 5000 AS selected
        |FROM dist
        |ORDER BY source, quality DESC""".stripMargin,
    "q_lang_id" ->
      """WITH t AS (SELECT doc_id, lang AS lang_label,
        |  CAST(len(regexp_extract_all(text, '(?i)\bthe\b')) + len(regexp_extract_all(text, '(?i)\band\b'))
        |   + len(regexp_extract_all(text, '(?i)\bof\b')) + len(regexp_extract_all(text, '(?i)\bis\b')) AS BIGINT) AS s_en,
        |  CAST(len(regexp_extract_all(text, '(?i)\bel\b')) + len(regexp_extract_all(text, '(?i)\bla\b'))
        |   + len(regexp_extract_all(text, '(?i)\blos\b')) + len(regexp_extract_all(text, '(?i)\bque\b'))
        |   + len(regexp_extract_all(text, '(?i)\by\b')) AS BIGINT) AS s_es,
        |  CAST(len(regexp_extract_all(text, '(?i)\bder\b')) + len(regexp_extract_all(text, '(?i)\bdie\b'))
        |   + len(regexp_extract_all(text, '(?i)\bdas\b')) + len(regexp_extract_all(text, '(?i)\bund\b'))
        |   + len(regexp_extract_all(text, '(?i)\bist\b')) AS BIGINT) AS s_de,
        |  CAST(len(regexp_extract_all(text, '(?i)\ble\b')) + len(regexp_extract_all(text, '(?i)\bles\b'))
        |   + len(regexp_extract_all(text, '(?i)\bdes\b')) + len(regexp_extract_all(text, '(?i)\best\b'))
        |   + len(regexp_extract_all(text, '(?i)\bet\b')) AS BIGINT) AS s_fr,
        |  CAST(len(regexp_extract_all(text, '[\x{4e00}-\x{9fff}]')) AS BIGINT) AS s_zh
        | FROM documents)
        |SELECT doc_id, lang_label,
        | CASE WHEN s_zh > 0 THEN 'zh'
        |  WHEN greatest(s_en, s_es, s_de, s_fr) = 0 THEN 'und'
        |  WHEN s_en = greatest(s_en, s_es, s_de, s_fr) THEN 'en'
        |  WHEN s_es = greatest(s_en, s_es, s_de, s_fr) THEN 'es'
        |  WHEN s_de = greatest(s_en, s_es, s_de, s_fr) THEN 'de'
        |  ELSE 'fr' END AS lang_pred
        |FROM t
        |ORDER BY doc_id""".stripMargin,
    "q_fingerprint" ->
      """SELECT doc_id,
        | md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS fingerprint
        |FROM documents
        |ORDER BY doc_id""".stripMargin,
    "q_pii_redact" ->
      """SELECT doc_id,
        | CAST(len(regexp_extract_all(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS BIGINT) AS n_emails,
        | CAST(len(regexp_extract_all(text, '\+?[0-9][0-9() .-]{7,}[0-9]')) AS BIGINT) AS n_phones,
        | CAST(len(regexp_extract_all(text, '[0-9]{9,}')) AS BIGINT) AS n_idruns,
        | md5(regexp_replace(regexp_replace(regexp_replace(text,
        |   '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
        |   '\+?[0-9][0-9() .-]{7,}[0-9]', '<PHONE>', 'g'),
        |   '[0-9]{9,}', '<ID>', 'g')) AS redacted_md5
        |FROM documents
        |ORDER BY doc_id""".stripMargin,
    "q_repetition" ->
      """WITH toks AS (
        | SELECT doc_id, unnest(string_split_regex(lower(trim(text)), '\s+')) AS tok
        | FROM documents),
        |counts AS (
        | SELECT doc_id, tok, count(*) AS c FROM toks GROUP BY 1, 2)
        |SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_tokens,
        | round(CAST(max(c) AS DOUBLE) / sum(c), 4) AS top_tok_share,
        | round(CAST(count(*) AS DOUBLE) / sum(c), 4) AS distinct_ratio
        |FROM counts
        |GROUP BY doc_id
        |ORDER BY doc_id""".stripMargin,
    "q_hash_split" ->
      """SELECT CASE
        |  WHEN substring(md5(CAST(doc_id AS VARCHAR)), 1, 1) IN ('0','1') THEN 'test'
        |  WHEN substring(md5(CAST(doc_id AS VARCHAR)), 1, 1) IN ('2','3') THEN 'val'
        |  ELSE 'train' END AS split,
        | lang, count(*) AS n_docs
        |FROM documents
        |GROUP BY 1, 2
        |ORDER BY split, lang""".stripMargin,
    "q_stratified_sample" ->
      """SELECT doc_id, lang FROM documents
        |WHERE CAST('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 2) AS INTEGER)
        |      < (CASE WHEN lang = 'en' THEN 128.0 ELSE 64.0 END)
        |ORDER BY doc_id""".stripMargin,
    "q_sequence_pack" ->
      """WITH toks AS (
        | SELECT doc_id,
        |  CAST(len(string_split_regex(lower(trim(text)), '\s+')) AS BIGINT)
        |    AS n_tokens,
        |  doc_id % 32 AS bucket
        | FROM documents)
        |SELECT doc_id, n_tokens,
        | bucket * 1000000 + CAST(floor((sum(n_tokens) OVER (
        |   PARTITION BY bucket ORDER BY doc_id
        |   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - 1) / 512)
        |   AS BIGINT) AS pack_id
        |FROM toks
        |ORDER BY doc_id""".stripMargin,
    "q_contamination" ->
      """WITH toks AS (
        | SELECT doc_id, source, string_split_regex(lower(trim(text)), '\s+') AS t
        | FROM documents),
        |grams AS (
        | SELECT doc_id, source,
        |  unnest(list_distinct(list_transform(
        |    generate_series(1, greatest(len(t) - 4, 0)),
        |    i -> concat_ws(' ', t[i], t[i+1], t[i+2], t[i+3], t[i+4])))) AS g
        | FROM toks),
        |train AS (SELECT DISTINCT g FROM grams WHERE source <> 'src0'),
        |eval_g AS (SELECT doc_id, g FROM grams WHERE source = 'src0')
        |SELECT e.doc_id,
        | count(*) AS n_grams,
        | count(t.g) AS n_contaminated,
        | round(CAST(count(t.g) AS DOUBLE) / count(*), 4) AS contamination_share
        |FROM eval_g e LEFT JOIN train t ON e.g = t.g
        |GROUP BY e.doc_id
        |ORDER BY e.doc_id""".stripMargin,
    "q_unigram_logprob" ->
      """WITH toks AS (
        | SELECT doc_id, unnest(string_split_regex(lower(trim(text)), '\s+')) AS tok
        | FROM documents),
        |vocab AS (SELECT tok, count(*) AS c FROM toks GROUP BY tok),
        |tot AS (SELECT sum(c) AS n FROM vocab)
        |SELECT doc_id, count(*) AS n_tokens,
        | round(avg(ln(CAST(c AS DOUBLE) / n)), 4) AS avg_logprob
        |FROM toks JOIN vocab USING (tok) CROSS JOIN tot
        |GROUP BY doc_id
        |ORDER BY doc_id""".stripMargin,
    "q_quality_tiers" ->
      """WITH toks AS (
        | SELECT doc_id, lang,
        |  unnest(string_split_regex(lower(trim(text)), '\s+')) AS tok
        | FROM documents),
        |vocab AS (SELECT tok, count(*) AS c FROM toks GROUP BY tok),
        |tot AS (SELECT sum(c) AS n_corpus FROM vocab),
        |scored AS (
        | SELECT doc_id, lang,
        |  round(avg(ln(CAST(c AS DOUBLE) / n_corpus)), 4) AS s
        | FROM toks JOIN vocab USING (tok) CROSS JOIN tot
        | GROUP BY doc_id, lang),
        |dist AS (SELECT lang, s, count(*) AS cnt FROM scored GROUP BY lang, s),
        |cum AS (
        | SELECT lang, s, cnt,
        |  sum(cnt) OVER (PARTITION BY lang ORDER BY s DESC
        |   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
        |  sum(cnt) OVER (PARTITION BY lang) AS n
        | FROM dist)
        |SELECT lang, CAST((cum - cnt) * 3 // n + 1 AS BIGINT) AS tier,
        | CAST(sum(cnt) AS BIGINT) AS n_docs,
        | round(max(s), 4) AS best_lp, round(min(s), 4) AS worst_lp
        |FROM cum
        |GROUP BY lang, tier
        |ORDER BY lang, tier""".stripMargin,
    "q_doc_histogram" ->
      """SELECT CAST(floor(length(text) / 50) * 50 AS BIGINT) AS len_bucket,
        | count(*) AS n_docs
        |FROM documents
        |GROUP BY 1
        |ORDER BY len_bucket""".stripMargin,
    "q_multimodal_meta" ->
      """SELECT doc_id,
        | CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
        | CAST(octet_length(encode(text)) % 640 AS BIGINT) AS fake_width,
        | CAST(octet_length(encode(text)) % 480 AS BIGINT) AS fake_height,
        | md5(text) AS content_md5
        |FROM documents
        |ORDER BY doc_id""".stripMargin,
    "q_inverted_index" ->
      """WITH toks AS (
        | SELECT doc_id, unnest(string_split_regex(lower(trim(text)), '\s+')) AS tok
        | FROM documents),
        |tf AS (
        | SELECT tok, doc_id, CAST(count(*) AS BIGINT) AS tf
        | FROM toks GROUP BY 1, 2),
        |ranked AS (
        | SELECT tok, doc_id, tf,
        |        row_number() OVER (PARTITION BY tok ORDER BY tf DESC, doc_id) AS rn
        | FROM tf),
        |agg AS (
        | SELECT tok, count(*) AS df, CAST(sum(tf) AS BIGINT) AS cf
        | FROM tf GROUP BY tok),
        |heads AS (
        | SELECT tok,
        |        string_agg(doc_id || ':' || tf, ',' ORDER BY rn) AS postings_head
        | FROM ranked WHERE rn <= 5 GROUP BY tok)
        |SELECT a.tok, a.df, a.cf, h.postings_head
        |FROM agg a JOIN heads h USING (tok)
        |WHERE a.df >= 5
        |ORDER BY a.tok""".stripMargin,
    "q_tfidf" ->
      """WITH toks AS (
        | SELECT doc_id, unnest(string_split_regex(lower(trim(text)), '\s+')) AS tok
        | FROM documents),
        |tf AS (
        | SELECT doc_id, tok, CAST(count(*) AS BIGINT) AS tf
        | FROM toks GROUP BY 1, 2),
        |df AS (SELECT tok, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY tok),
        |n AS (SELECT CAST(count(*) AS DOUBLE) AS n_docs FROM documents),
        |scored AS (
        | SELECT tf.doc_id, tf.tok,
        |        round(tf.tf * ln(n.n_docs / df.df), 6) AS score_r
        | FROM tf JOIN df USING (tok) CROSS JOIN n),
        |ranked AS (
        | SELECT doc_id, tok, score_r,
        |        CAST(row_number() OVER (
        |          PARTITION BY doc_id ORDER BY score_r DESC, tok) AS BIGINT) AS rank
        | FROM scored)
        |SELECT doc_id, tok, round(score_r, 4) AS tfidf, rank
        |FROM ranked WHERE rank <= 3
        |ORDER BY doc_id, rank""".stripMargin,
    "q_bm25" ->
      """WITH toks AS (
        | SELECT doc_id, unnest(string_split_regex(lower(trim(text)), '\s+')) AS tok
        | FROM documents),
        |lens AS (
        | SELECT doc_id,
        |        CAST(len(string_split_regex(lower(trim(text)), '\s+')) AS DOUBLE) AS dl
        | FROM documents),
        |stats AS (
        | SELECT CAST(count(*) AS DOUBLE) AS n_docs, avg(dl) AS avgdl FROM lens),
        |tf AS (
        | SELECT tok, doc_id, CAST(count(*) AS BIGINT) AS tf
        | FROM toks WHERE tok IN ('data', 'model', 'spark') GROUP BY 1, 2),
        |df AS (SELECT tok, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY tok),
        |idf AS (
        | SELECT tok, ln(1.0 + (s.n_docs - df.df + 0.5) / (df.df + 0.5)) AS idf,
        |        s.avgdl AS avgdl
        | FROM df CROSS JOIN stats s),
        |scored AS (
        | SELECT tf.doc_id,
        |        idf.idf * (tf.tf * 2.2)
        |          / (tf.tf + 1.2 * (1.0 - 0.75 + 0.75 * l.dl / idf.avgdl)) AS term_score
        | FROM tf JOIN idf USING (tok) JOIN lens l ON tf.doc_id = l.doc_id)
        |SELECT doc_id, round(sum(term_score), 4) AS bm25,
        |       count(*) AS n_terms_matched
        |FROM scored GROUP BY doc_id
        |ORDER BY bm25 DESC, doc_id
        |LIMIT 20""".stripMargin,
    "q_source_mix" ->
      """WITH w(domain, w) AS (VALUES
        |  ('en', 0.4), ('zh', 0.2), ('de', 0.2), ('es', 0.1), ('fr', 0.1)),
        |counts AS (
        | SELECT lang AS domain, CAST(count(*) AS DOUBLE) AS n
        | FROM documents GROUP BY lang),
        |j AS (SELECT c.domain, c.n, w.w FROM counts c JOIN w USING (domain)),
        |cap AS (SELECT min(n / w) AS cap FROM j),
        |rates AS (
        | SELECT domain, least(1.0, w * cap.cap / n) AS rate
        | FROM j CROSS JOIN cap)
        |SELECT d.doc_id, d.lang AS domain
        |FROM documents d JOIN rates r ON d.lang = r.domain
        |WHERE CAST('0x' || substring(md5(CAST(d.doc_id AS VARCHAR)), 1, 2) AS INTEGER)
        |      < r.rate * 256
        |ORDER BY d.doc_id""".stripMargin,
    "q_bpe_pairs" ->
      """WITH toks AS (
        | SELECT string_split_regex(lower(trim(text)), '\s+') AS t FROM documents),
        |pairs AS (
        | SELECT unnest(list_transform(generate_series(1, len(t) - 1),
        |   i -> concat_ws(' ', t[i], t[i+1]))) AS pair
        | FROM toks)
        |SELECT pair, count(*) AS n FROM pairs
        |GROUP BY pair
        |ORDER BY n DESC, pair
        |LIMIT 50""".stripMargin,
    "q_segment_dedup" ->
      """WITH t AS (
        | SELECT doc_id,
        |        string_split(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ') AS toks
        | FROM documents),
        |seg AS (
        | SELECT doc_id, i AS seg_idx,
        |        array_to_string(toks[(i*8+1):(i*8+8)], ' ') AS seg
        | FROM t, LATERAL (SELECT unnest(generate_series(0,
        |   CAST(ceil(len(toks) / 8.0) AS INT) - 1)) AS i)
        | WHERE len(toks) > 0),
        |k AS (
        | SELECT doc_id, seg_idx, seg,
        |        row_number() OVER (PARTITION BY seg ORDER BY doc_id, seg_idx) = 1 AS kept
        | FROM seg)
        |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_segments,
        |       CAST(sum(CASE WHEN kept THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
        |       coalesce(string_agg(CASE WHEN kept THEN seg END, ' ' ORDER BY seg_idx), '')
        |         AS clean_text
        |FROM k GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    "q_dup_spans" ->
      """WITH t AS (
        | SELECT doc_id,
        |        string_split(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ') AS toks
        | FROM documents),
        |g AS (
        | SELECT DISTINCT doc_id, array_to_string(toks[i:(i+7)], ' ') AS gram
        | FROM t, LATERAL (SELECT unnest(generate_series(1, len(toks) - 7)) AS i)
        | WHERE len(toks) >= 8),
        |d AS (SELECT gram, count(*) AS n_docs FROM g GROUP BY gram)
        |SELECT g.doc_id, CAST(count(*) AS BIGINT) AS n_grams,
        |       CAST(sum(CASE WHEN d.n_docs >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_grams,
        |       round(sum(CASE WHEN d.n_docs >= 2 THEN 1.0 ELSE 0.0 END) / count(*), 4)
        |         AS dup_share
        |FROM g JOIN d USING (gram)
        |GROUP BY g.doc_id ORDER BY g.doc_id""".stripMargin,
    // generated from the SAME Suffix.SpanMinLen constant the Scala
    // operators default to — the two sides cannot drift (r11 item #7)
    "q_suffix_spans" -> Suffix.spanOracleSql(),
    "q_span_clip" -> Suffix.clipOracleSql(),
    "q_span_classes" -> Suffix.classesOracleSql(),
    "q_span_clip_inc" -> Suffix.clipIncOracleSql(),
    "q_quality_gate" ->
      """WITH t AS (SELECT doc_id, lang,
        |  CAST(len(string_split_regex(lower(trim(text)), '\s+')) AS DOUBLE) AS n_tok,
        |  CAST(len(list_filter(string_split_regex(lower(trim(text)), '\s+'),
        |    x -> list_contains(['the','a','and','of','to','in','is','for'], x))) AS DOUBLE) AS n_stop,
        |  CAST(len(regexp_extract_all(text, '[^A-Za-z0-9\s]')) AS DOUBLE) AS n_punct,
        |  CAST(length(text) AS DOUBLE) AS len
        | FROM documents),
        |scored AS (
        | SELECT doc_id, lang,
        |  round(least(len / 500.0, 1.0) * 0.4
        |    + least(n_stop / n_tok * 4.0, 1.0) * 0.4
        |    + (1.0 - least(n_punct / len * 10.0, 1.0)) * 0.2, 4) AS quality
        | FROM t),
        |thr AS (
        | SELECT lang, quantile_cont(CAST(quality AS DOUBLE), 0.25) AS thr
        | FROM scored GROUP BY lang)
        |SELECT s.doc_id, s.lang, s.quality, round(t.thr, 4) AS lang_thr
        |FROM scored s JOIN thr t USING (lang)
        |WHERE s.quality >= t.thr
        |ORDER BY s.doc_id""".stripMargin,
    "q_embed_quantize" ->
      """WITH e AS (
        | SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS vd
        | FROM embeddings),
        |s AS (
        | SELECT vec_id, vd,
        |        list_max(list_transform(vd, x -> abs(x))) / 127.0 AS scale
        | FROM e)
        |SELECT vec_id, round(scale, 6) AS scale_r,
        |  array_to_string(list_transform(vd, x -> CAST(CASE WHEN scale = 0
        |    THEN 0 ELSE floor(x / scale + 0.5) END AS BIGINT)), ',') AS q8,
        |  round(list_max(list_transform(vd, x -> abs(CASE WHEN scale = 0
        |    THEN 0 ELSE floor(x / scale + 0.5) END * scale - x))), 6) AS max_err
        |FROM s ORDER BY vec_id""".stripMargin,
    "q_bloom_semi" ->
      """SELECT c_custkey, c_name FROM customer
        |WHERE EXISTS (SELECT 1 FROM orders
        |  WHERE o_custkey = c_custkey AND o_orderstatus = 'O')
        |ORDER BY c_custkey""".stripMargin,
    "q_stratified_topn" ->
      """SELECT doc_id, lang FROM (
        | SELECT doc_id, lang, row_number() OVER (
        |   PARTITION BY lang ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rk
        | FROM documents) t
        |WHERE rk <= 20
        |ORDER BY doc_id""".stripMargin,
    "q_weighted_sample" ->
      """WITH toks AS (
        | SELECT doc_id, lang,
        |  greatest(CAST(len(string_split_regex(lower(trim(text)), '\s+')) AS BIGINT),
        |           1) AS n_tokens
        | FROM documents),
        |keyed AS (
        | SELECT doc_id, lang, n_tokens,
        |  round(ln((CAST('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 13)
        |              AS BIGINT) + 0.5) / 4503599627370496.0)
        |        / n_tokens, 9) AS es_key
        | FROM toks)
        |SELECT doc_id, lang, n_tokens FROM (
        | SELECT * FROM keyed ORDER BY es_key DESC, doc_id LIMIT 100) t
        |ORDER BY doc_id""".stripMargin,
    "q_interval_overlap" ->
      """WITH e AS (
        | SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, event_id,
        |  lag(CAST(ts AS TIMESTAMP)) OVER (PARTITION BY user_id ORDER BY CAST(ts AS TIMESTAMP), event_id) AS prev_ts
        | FROM events),
        |flagged AS (
        | SELECT *, CASE WHEN prev_ts IS NULL
        |   OR epoch_us(ts) - epoch_us(prev_ts) > 1800000000 THEN 1 ELSE 0 END AS new_sess
        | FROM e),
        |sess AS (
        | SELECT *, CAST(sum(new_sess) OVER (PARTITION BY user_id
        |   ORDER BY ts, event_id ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id
        | FROM flagged),
        |sessions AS (
        | SELECT user_id, session_id, min(ts) AS sess_start, max(ts) AS sess_end
        | FROM sess GROUP BY user_id, session_id),
        |errh AS (
        | SELECT date_trunc('hour', CAST(ts AS TIMESTAMP)) AS w_start,
        |        count(*) AS n_errors
        | FROM events WHERE event_type = 'error' GROUP BY 1),
        |inc AS (
        | SELECT * FROM errh
        | WHERE n_errors > (SELECT avg(n_errors) * 1.5 FROM errh)),
        |cov AS (
        | SELECT user_id, session_id,
        |  unnest(generate_series(date_trunc('hour', sess_start),
        |                         date_trunc('hour', sess_end),
        |                         INTERVAL 1 HOUR)) AS bucket
        | FROM sessions)
        |SELECT i.w_start, i.n_errors, count(*) AS n_sessions,
        | count(DISTINCT c.user_id) AS n_users
        |FROM cov c JOIN inc i ON c.bucket = i.w_start
        |GROUP BY i.w_start, i.n_errors
        |ORDER BY i.w_start""".stripMargin,
    "q_funnel" ->
      """WITH users AS (SELECT DISTINCT user_id FROM events),
        |s1 AS (
        | SELECT user_id, min(CAST(ts AS TIMESTAMP)) AS t_signup
        | FROM events WHERE event_type = 'signup' GROUP BY user_id),
        |s2 AS (
        | SELECT e.user_id, min(CAST(e.ts AS TIMESTAMP)) AS t_view
        | FROM events e JOIN s1 USING (user_id)
        | WHERE e.event_type = 'view' AND CAST(e.ts AS TIMESTAMP) > s1.t_signup
        | GROUP BY e.user_id),
        |s3 AS (
        | SELECT e.user_id, min(CAST(e.ts AS TIMESTAMP)) AS t_purchase
        | FROM events e JOIN s2 USING (user_id)
        | WHERE e.event_type = 'purchase' AND CAST(e.ts AS TIMESTAMP) > s2.t_view
        | GROUP BY e.user_id)
        |SELECT u.user_id,
        | CAST(CASE WHEN s3.user_id IS NOT NULL THEN 3
        |           WHEN s2.user_id IS NOT NULL THEN 2
        |           WHEN s1.user_id IS NOT NULL THEN 1
        |           ELSE 0 END AS BIGINT) AS stages_reached,
        | s1.t_signup, s2.t_view, s3.t_purchase
        |FROM users u
        |LEFT JOIN s1 USING (user_id)
        |LEFT JOIN s2 USING (user_id)
        |LEFT JOIN s3 USING (user_id)
        |ORDER BY u.user_id""".stripMargin,
    "q_retention" ->
      """WITH ev AS (
        | SELECT user_id, date_trunc('week', CAST(ts AS TIMESTAMP)) AS week
        | FROM events),
        |cohorts AS (
        | SELECT user_id, min(week) AS cohort_week FROM ev GROUP BY user_id),
        |active AS (SELECT DISTINCT user_id, week FROM ev)
        |SELECT c.cohort_week,
        | CAST(datediff('day', c.cohort_week, a.week) / 7 AS BIGINT)
        |   AS week_offset,
        | count(DISTINCT a.user_id) AS n_users
        |FROM active a JOIN cohorts c USING (user_id)
        |WHERE datediff('day', c.cohort_week, a.week) / 7 <= 8
        |GROUP BY 1, 2
        |ORDER BY cohort_week, week_offset""".stripMargin,
    "q_anomaly_score" ->
      """WITH hourly AS (
        | SELECT event_type, date_trunc('hour', CAST(ts AS TIMESTAMP)) AS bucket,
        |  count(*) AS n
        | FROM events GROUP BY 1, 2)
        |SELECT event_type, bucket, n,
        | CASE WHEN count(n) OVER w >= 12 AND stddev_samp(n) OVER w > 0
        |  THEN round((n - avg(n) OVER w) / stddev_samp(n) OVER w, 6)
        | END AS z
        |FROM hourly
        |WINDOW w AS (PARTITION BY event_type ORDER BY bucket
        |  ROWS BETWEEN 24 PRECEDING AND 1 PRECEDING)
        |ORDER BY event_type, bucket""".stripMargin,
    "q_sliding_distinct" ->
      """WITH e AS (
        | SELECT DISTINCT user_id,
        |   date_trunc('day', CAST(ts AS TIMESTAMP)) AS day
        | FROM events),
        |ends AS (
        | SELECT DISTINCT e.day + INTERVAL 1 DAY * g.i AS w_end
        | FROM e, generate_series(0, 6) AS g(i)
        | WHERE e.day + INTERVAL 1 DAY * g.i <= (SELECT max(day) FROM e))
        |SELECT w_end, count(DISTINCT u.user_id) AS active_users
        |FROM ends JOIN e u
        |  ON u.day BETWEEN w_end - INTERVAL 6 DAY AND w_end
        |GROUP BY w_end
        |ORDER BY w_end""".stripMargin,
    "q_decayed_engagement" ->
      """WITH e AS (
        | SELECT user_id, date_trunc('day', CAST(ts AS TIMESTAMP)) AS day
        | FROM events),
        |r AS (SELECT max(day) AS ref_day FROM e)
        |SELECT user_id,
        | CAST(sum(CASE WHEN (date_diff('day', day, ref_day) // 7) >= 62
        |   THEN 0
        |   ELSE 1::BIGINT <<
        |     (62 - (date_diff('day', day, ref_day) // 7)) END)
        |   AS DOUBLE) / 4611686018427387904.0
        |   AS engagement,
        | count(*) AS n_events,
        | max(day) AS last_day
        |FROM e CROSS JOIN r
        |GROUP BY user_id
        |ORDER BY user_id""".stripMargin,
    "q_heavy_tokens" ->
      """WITH toks AS (
        | SELECT lang, unnest(string_split_regex(lower(trim(text)), '\s+')) AS tok
        | FROM documents),
        |tot AS (SELECT lang, count(*) AS n FROM toks GROUP BY lang),
        |cnt AS (SELECT lang, tok, count(*) AS cnt FROM toks GROUP BY lang, tok)
        |SELECT c.lang, c.tok, c.cnt
        |FROM cnt c JOIN tot t USING (lang)
        |WHERE c.cnt * 51 > t.n
        |ORDER BY c.lang, c.cnt DESC, c.tok""".stripMargin,
    "q_variant_extract" ->
      """SELECT event_type, count(*) AS n,
        | CAST(sum(CAST(json_extract(props, '$.k') AS INTEGER)) AS BIGINT) AS k_sum,
        | round(avg(CAST(json_extract(props, '$.k') AS INTEGER)), 4) AS k_avg
        |FROM events
        |GROUP BY event_type
        |ORDER BY event_type""".stripMargin,
    "q_month_spine" ->
      """WITH RECURSIVE months AS (
        | SELECT TIMESTAMP '1995-01-01 00:00:00' AS month_start
        | UNION ALL
        | SELECT month_start + INTERVAL 1 MONTH FROM months
        | WHERE month_start < TIMESTAMP '2001-07-01 00:00:00'
        |)
        |SELECT m.month_start,
        | count(o.o_orderkey) AS n_orders,
        | round(coalesce(sum(o.o_totalprice), 0.0), 2) AS revenue
        |FROM months m
        |LEFT JOIN orders o
        |  ON date_trunc('MONTH', o.o_orderdate) = m.month_start
        |GROUP BY m.month_start
        |ORDER BY m.month_start""".stripMargin,
    "q_lateral_topk" ->
      """SELECT c.c_custkey, t.o_orderkey, t.o_totalprice
        |FROM customer c,
        |LATERAL (
        |  SELECT o_orderkey, o_totalprice
        |  FROM orders o
        |  WHERE o.o_custkey = c.c_custkey
        |  ORDER BY o_totalprice DESC, o_orderkey
        |  LIMIT 2) t
        |ORDER BY c.c_custkey, t.o_totalprice DESC, t.o_orderkey""".stripMargin,
    "q_collation_group" ->
      """SELECT lower(CASE WHEN c_custkey % 2 = 0 THEN upper(c_mktsegment)
        |   ELSE lower(c_mktsegment) END) AS segment,
        | count(*) AS n_customers
        |FROM customer
        |GROUP BY 1
        |ORDER BY segment""".stripMargin,
    "q4_priority_exists" ->
      """SELECT o_orderpriority, count(*) AS order_count
        |FROM orders o
        |WHERE EXISTS (
        |  SELECT 1 FROM lineitem l
        |  WHERE l.l_orderkey = o.o_orderkey
        |    AND l.l_shipdate > o.o_orderdate + INTERVAL 30 DAY)
        |GROUP BY o_orderpriority
        |ORDER BY o_orderpriority""".stripMargin,
    "q6_forecast_revenue" ->
      """SELECT round(sum(l_extendedprice * l_discount), 2) AS revenue
        |FROM lineitem
        |WHERE l_shipdate >= TIMESTAMP '1996-01-01'
        |  AND l_shipdate < TIMESTAMP '1997-01-01'
        |  AND l_discount BETWEEN 0.05 AND 0.07
        |  AND l_quantity < 24""".stripMargin,
    "q7_volume_shipping" ->
      """SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
        | CAST(year(l_shipdate) AS BIGINT) AS l_year,
        | round(sum(l_extendedprice * (1.0 - l_discount)), 2) AS revenue
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN supplier ON l_suppkey = s_suppkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation n1 ON s_nationkey = n1.n_nationkey
        |JOIN nation n2 ON c_nationkey = n2.n_nationkey
        |WHERE (n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
        |   OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1')
        |GROUP BY 1, 2, 3
        |ORDER BY supp_nation, cust_nation, l_year""".stripMargin,
    "q10_returned_items" ->
      """SELECT c_custkey, c_name, n_name,
        | CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2)) *
        |   (CAST('1.00' AS DECIMAL(4,2)) - CAST(l_discount AS DECIMAL(4,2))))
        |   AS DOUBLE) AS revenue
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |WHERE l_returnflag = 'R'
        |  AND o_orderdate >= TIMESTAMP '1996-01-01'
        |  AND o_orderdate < TIMESTAMP '1996-04-01'
        |GROUP BY c_custkey, c_name, n_name
        |ORDER BY revenue DESC, c_custkey
        |LIMIT 20""".stripMargin,
    "q12_priority_case" ->
      """SELECT l_linestatus,
        | CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
        |   THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
        | CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
        |   THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |WHERE l_shipdate > o_orderdate
        |GROUP BY l_linestatus
        |ORDER BY l_linestatus""".stripMargin,
    "q14_promo_share" ->
      """SELECT round(100.0 *
        |  sum(CASE WHEN p_type = 'PROMO'
        |    THEN l_extendedprice * (1.0 - l_discount) ELSE 0.0 END) /
        |  sum(l_extendedprice * (1.0 - l_discount)), 4) AS promo_share_pct
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |WHERE l_shipdate >= TIMESTAMP '1996-03-01'
        |  AND l_shipdate < TIMESTAMP '1996-04-01'""".stripMargin,
    "q19_disjunctive" ->
      """SELECT round(sum(l_extendedprice * (1.0 - l_discount)), 2) AS revenue,
        | count(*) AS n_lines
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |WHERE (p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 15
        |        AND l_quantity BETWEEN 1 AND 20)
        |   OR (p_brand = 'Brand#2' AND p_size BETWEEN 10 AND 30
        |        AND l_quantity BETWEEN 10 AND 30)
        |   OR (p_brand = 'Brand#3' AND p_size BETWEEN 20 AND 50
        |        AND l_quantity BETWEEN 20 AND 40)""".stripMargin,
    "q22_dormant" ->
      """SELECT CAST(c_nationkey AS BIGINT) AS c_nationkey,
        | count(*) AS numcust,
        | round(sum(c_acctbal), 2) AS totacctbal
        |FROM customer c
        |WHERE c_acctbal > (SELECT avg(c_acctbal) FROM customer
        |                   WHERE c_acctbal > 0.0)
        |  AND NOT EXISTS (SELECT 1 FROM orders o
        |    WHERE o.o_custkey = c.c_custkey
        |      AND o.o_orderdate >= TIMESTAMP '2000-01-01')
        |GROUP BY c_nationkey
        |ORDER BY c_nationkey""".stripMargin,
    "q2_min_cost_supplier" ->
      """WITH ps AS (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem),
        |eligible AS (
        | SELECT ps.l_partkey, s.s_acctbal, s.s_name, n.n_name
        | FROM ps
        | JOIN supplier s ON ps.l_suppkey = s.s_suppkey
        | JOIN nation n ON s.s_nationkey = n.n_nationkey
        | JOIN region r ON n.n_regionkey = r.r_regionkey
        | WHERE r.r_name = 'EUROPE')
        |SELECT round(e.s_acctbal, 2) AS s_acctbal, e.s_name, e.n_name,
        | p.p_partkey, p.p_name
        |FROM part p JOIN eligible e ON p.p_partkey = e.l_partkey
        |WHERE p.p_type = 'LARGE' AND p.p_size <= 10
        |  AND e.s_acctbal = (SELECT min(e2.s_acctbal) FROM eligible e2
        |                     WHERE e2.l_partkey = p.p_partkey)
        |ORDER BY s_acctbal DESC, n_name, s_name, p_partkey
        |LIMIT 100""".stripMargin,
    "q8_market_share" ->
      """SELECT CAST(year(o_orderdate) AS BIGINT) AS o_year,
        | round(CAST(sum(CASE WHEN n1.n_name = 'NATION_5'
        |     THEN CAST(l_extendedprice AS DECIMAL(12,2)) *
        |       (CAST('1.00' AS DECIMAL(4,2)) - CAST(l_discount AS DECIMAL(4,2)))
        |     ELSE CAST('0.00' AS DECIMAL(4,2)) END) AS DOUBLE) /
        |   CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2)) *
        |     (CAST('1.00' AS DECIMAL(4,2)) - CAST(l_discount AS DECIMAL(4,2))))
        |     AS DOUBLE), 4) AS mkt_share
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN part ON l_partkey = p_partkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation n2 ON c_nationkey = n2.n_nationkey
        |JOIN region ON n2.n_regionkey = r_regionkey
        |JOIN supplier ON l_suppkey = s_suppkey
        |JOIN nation n1 ON s_nationkey = n1.n_nationkey
        |WHERE o_orderdate >= TIMESTAMP '1996-01-01'
        |  AND o_orderdate < TIMESTAMP '1998-01-01'
        |  AND p_type = 'STANDARD' AND r_name = 'AFRICA'
        |GROUP BY 1
        |ORDER BY o_year""".stripMargin,
    "q9_product_profit" ->
      """SELECT n_name AS nation,
        | CAST(year(o_orderdate) AS BIGINT) AS o_year,
        | CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2)) *
        |     (CAST('1.00' AS DECIMAL(4,2)) - CAST(l_discount AS DECIMAL(4,2))) -
        |   CAST(p_retailprice AS DECIMAL(12,2)) *
        |     CAST(l_quantity AS DECIMAL(4,1)) * CAST('0.1' AS DECIMAL(2,1)))
        |   AS DOUBLE) AS sum_profit
        |FROM lineitem
        |JOIN part ON l_partkey = p_partkey
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN supplier ON l_suppkey = s_suppkey
        |JOIN nation ON s_nationkey = n_nationkey
        |WHERE p_name LIKE '%widget%'
        |GROUP BY 1, 2
        |ORDER BY nation, o_year DESC""".stripMargin,
    "q11_important_parts" ->
      """WITH scoped AS (
        | SELECT l_partkey,
        |  CAST(l_extendedprice AS DECIMAL(12,2)) *
        |    (CAST('1.00' AS DECIMAL(4,2)) - CAST(l_discount AS DECIMAL(4,2)))
        |    AS val
        | FROM lineitem
        | JOIN supplier ON l_suppkey = s_suppkey
        | JOIN nation ON s_nationkey = n_nationkey
        | WHERE n_name = 'NATION_3'),
        |pv AS (
        | SELECT l_partkey, sum(val) AS part_val FROM scoped GROUP BY 1)
        |SELECT l_partkey, CAST(part_val AS DOUBLE) AS part_value
        |FROM pv
        |WHERE part_val * (SELECT count(*) FROM pv) >
        |  2 * (SELECT sum(part_val) FROM pv)
        |ORDER BY part_value DESC, l_partkey""".stripMargin,
    "q15_top_supplier" ->
      """WITH revenue AS (
        | SELECT l_suppkey,
        |  sum(CAST(l_extendedprice AS DECIMAL(12,2)) *
        |    (CAST('1.00' AS DECIMAL(4,2)) - CAST(l_discount AS DECIMAL(4,2))))
        |    AS total_revenue
        | FROM lineitem
        | WHERE l_shipdate >= TIMESTAMP '1996-01-01'
        |   AND l_shipdate < TIMESTAMP '1996-04-01'
        | GROUP BY l_suppkey)
        |SELECT s_suppkey, s_name,
        | CAST(total_revenue AS DOUBLE) AS total_revenue
        |FROM revenue JOIN supplier ON l_suppkey = s_suppkey
        |WHERE total_revenue = (SELECT max(total_revenue) FROM revenue)
        |ORDER BY s_suppkey""".stripMargin,
    "q16_supplier_counts" ->
      """WITH ps AS (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem)
        |SELECT p_brand, p_type, CAST(p_size AS BIGINT) AS p_size,
        | count(DISTINCT l_suppkey) AS supplier_cnt
        |FROM ps JOIN part ON l_partkey = p_partkey
        |WHERE p_brand <> 'Brand#1' AND p_type <> 'PROMO'
        |  AND p_size IN (1, 5, 10, 15, 20, 25, 30, 35)
        |  AND l_suppkey NOT IN
        |    (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0.0)
        |GROUP BY 1, 2, 3
        |ORDER BY supplier_cnt DESC, p_brand, p_type, p_size""".stripMargin,
    "q17_small_qty" ->
      """SELECT round(CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2)))
        |   AS DOUBLE) / 7.0, 2) AS avg_yearly
        |FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
        |WHERE p_brand = 'Brand#2' AND p_type = 'MEDIUM'
        |  AND l_quantity < 0.2 * (SELECT avg(l2.l_quantity) FROM lineitem l2
        |                          WHERE l2.l_partkey = p.p_partkey)""".stripMargin,
    "q21_waiting_suppliers" ->
      """SELECT s_name, count(*) AS numwait
        |FROM lineitem l1
        |JOIN orders ON l1.l_orderkey = o_orderkey
        |JOIN supplier ON l1.l_suppkey = s_suppkey
        |JOIN nation ON s_nationkey = n_nationkey
        |WHERE o_orderstatus = 'F' AND n_name = 'NATION_7'
        |  AND l1.l_shipdate > o_orderdate + INTERVAL 60 DAY
        |  AND EXISTS (SELECT 1 FROM lineitem l2
        |    WHERE l2.l_orderkey = l1.l_orderkey
        |      AND l2.l_suppkey <> l1.l_suppkey)
        |  AND NOT EXISTS (SELECT 1 FROM lineitem l3
        |    WHERE l3.l_orderkey = l1.l_orderkey
        |      AND l3.l_suppkey <> l1.l_suppkey
        |      AND l3.l_shipdate > o_orderdate + INTERVAL 60 DAY)
        |GROUP BY s_name
        |ORDER BY numwait DESC, s_name
        |LIMIT 100""".stripMargin,
    // Exact because the KMV sketches are unsaturated at this scale (150
    // distinct users < k=1024): the sketch holds the complete hash set,
    // so estimate/intersect degrade to exact counts (see KmvSketch doc).
    "q_audience_overlap" ->
      """WITH au AS (SELECT DISTINCT event_type, user_id FROM events),
        |cnt AS (SELECT event_type, count(*) AS c FROM au GROUP BY 1),
        |inter AS (
        | SELECT a.event_type AS ga, b.event_type AS gb, count(*) AS ov
        | FROM au a JOIN au b
        |   ON a.user_id = b.user_id AND a.event_type < b.event_type
        | GROUP BY 1, 2)
        |SELECT ca.event_type AS group_a, cb.event_type AS group_b,
        | ca.c AS keys_a, cb.c AS keys_b,
        | coalesce(i.ov, 0) AS overlap,
        | round(CAST(coalesce(i.ov, 0) AS DOUBLE) /
        |   (ca.c + cb.c - coalesce(i.ov, 0)), 4) AS jaccard
        |FROM cnt ca JOIN cnt cb ON ca.event_type < cb.event_type
        |LEFT JOIN inter i ON i.ga = ca.event_type AND i.gb = cb.event_type
        |ORDER BY group_a, group_b""".stripMargin,
    "q_jaccard_prefix" ->
      """WITH t AS (
        | SELECT doc_id, string_split(
        |   regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ') AS toks
        | FROM documents),
        |s AS (
        | SELECT doc_id,
        |  list_distinct(list_transform(generate_series(1, len(toks) - 2),
        |    i -> array_to_string(toks[i:(i+2)], ' '))) AS st
        | FROM t WHERE len(toks) >= 3)
        |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        | round(CAST(len(list_intersect(a.st, b.st)) AS DOUBLE)
        |   / (len(a.st) + len(b.st) - len(list_intersect(a.st, b.st))), 4)
        |   AS jaccard
        |FROM s a JOIN s b ON a.doc_id < b.doc_id
        |WHERE CAST(len(list_intersect(a.st, b.st)) AS DOUBLE)
        |   / (len(a.st) + len(b.st) - len(list_intersect(a.st, b.st))) >= 0.5
        |ORDER BY doc_a, doc_b""".stripMargin,
    "q_containment_join" ->
      """WITH panel AS (
        | SELECT doc_id FROM documents
        | ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id LIMIT 1000),
        |t AS (
        | SELECT doc_id, string_split(
        |   regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ') AS toks
        | FROM documents WHERE doc_id IN (SELECT doc_id FROM panel)),
        |s AS (
        | SELECT doc_id,
        |  list_distinct(list_transform(generate_series(1, len(toks) - 2),
        |    i -> array_to_string(toks[i:(i+2)], ' '))) AS st
        | FROM t WHERE len(toks) >= 3)
        |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        | round(CAST(len(list_intersect(a.st, b.st)) AS DOUBLE) / len(a.st), 4)
        |   AS containment
        |FROM s a JOIN s b ON a.doc_id <> b.doc_id
        |WHERE CAST(len(list_intersect(a.st, b.st)) AS DOUBLE) / len(a.st) >= 0.6
        |ORDER BY doc_a, doc_b""".stripMargin,
    "q_char_entropy" ->
      """WITH ch AS (
        | SELECT doc_id, unnest(regexp_extract_all(text, '[\s\S]')) AS c
        | FROM documents WHERE length(text) > 0),
        |cnt AS (SELECT doc_id, c, count(*) AS k FROM ch GROUP BY doc_id, c),
        |n AS (SELECT doc_id, CAST(sum(k) AS DOUBLE) AS n FROM cnt GROUP BY doc_id)
        |SELECT cnt.doc_id,
        | CAST(max(n.n) AS BIGINT) AS n_chars,
        | round(-sum((k / n.n) * log2(k / n.n)), 4) AS entropy_bits
        |FROM cnt JOIN n USING (doc_id)
        |GROUP BY cnt.doc_id
        |ORDER BY cnt.doc_id""".stripMargin,
    "q_robust_outliers" ->
      """WITH med AS (
        | SELECT l_returnflag, quantile_cont(l_extendedprice, 0.5) AS med
        | FROM lineitem GROUP BY 1),
        |dev AS (
        | SELECT l.l_returnflag, l.l_extendedprice AS x, m.med,
        |        abs(l.l_extendedprice - m.med) AS ad
        | FROM lineitem l JOIN med m USING (l_returnflag)),
        |mad AS (
        | SELECT l_returnflag, quantile_cont(ad, 0.5) AS mad
        | FROM dev GROUP BY 1)
        |SELECT d.l_returnflag, count(*) AS n,
        | round(max(d.med), 4) AS median_r,
        | round(max(m.mad), 4) AS mad_r,
        | CAST(sum(CASE WHEN abs(0.6745 * (d.x - d.med) / nullif(m.mad, 0.0)) > 3.0
        |   THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers,
        | round(max(abs(0.6745 * (d.x - d.med) / nullif(m.mad, 0.0))), 4) AS max_rz
        |FROM dev d JOIN mad m USING (l_returnflag)
        |GROUP BY d.l_returnflag
        |ORDER BY d.l_returnflag""".stripMargin,
    "q_pmi_collocations" ->
      """WITH toks AS (
        | SELECT string_split_regex(lower(trim(text)), '\s+') AS t FROM documents),
        |uni AS (
        | SELECT tok, count(*) AS c
        | FROM (SELECT unnest(t) AS tok FROM toks) GROUP BY tok),
        |tt AS (SELECT CAST(sum(c) AS DOUBLE) AS t_tok FROM uni),
        |pairs AS (
        | SELECT t[i] AS l, t[i+1] AS r
        | FROM toks, LATERAL (SELECT unnest(generate_series(1, len(t) - 1)) AS i)
        | WHERE len(t) >= 2),
        |bi AS (SELECT l, r, count(*) AS n FROM pairs GROUP BY l, r),
        |tp AS (SELECT CAST(sum(n) AS DOUBLE) AS t_pair FROM bi)
        |SELECT b.l, b.r, b.n,
        | round(ln((CAST(b.n AS DOUBLE) * t_tok * t_tok)
        |   / (t_pair * CAST(ul.c AS DOUBLE) * CAST(ur.c AS DOUBLE))), 4) AS pmi
        |FROM bi b JOIN uni ul ON b.l = ul.tok JOIN uni ur ON b.r = ur.tok
        |CROSS JOIN tt CROSS JOIN tp
        |WHERE b.n >= 5
        |ORDER BY pmi DESC, l, r
        |LIMIT 50""".stripMargin,
    "q_vocab_coverage" ->
      """WITH toks AS (
        | SELECT doc_id, unnest(string_split_regex(lower(trim(text)), '\s+')) AS tok
        | FROM documents),
        |vocab AS (
        | SELECT tok, 1 AS in_vocab FROM (
        |  SELECT tok, count(*) AS c FROM toks GROUP BY tok
        |  ORDER BY c DESC, tok LIMIT 100))
        |SELECT t.doc_id, count(*) AS n_tokens,
        | count(*) - count(v.in_vocab) AS n_oov,
        | round(CAST(count(*) - count(v.in_vocab) AS DOUBLE) / count(*), 4)
        |   AS oov_rate
        |FROM toks t LEFT JOIN vocab v USING (tok)
        |GROUP BY t.doc_id
        |ORDER BY t.doc_id""".stripMargin,
    "q_bigram_logprob" ->
      """WITH d AS (
        | SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS t
        | FROM documents),
        |db AS (
        | SELECT doc_id, t[i] AS l, t[i+1] AS r
        | FROM d, LATERAL (SELECT unnest(generate_series(1, len(t) - 1)) AS i)
        | WHERE len(t) >= 2),
        |bi AS (SELECT l, r, count(*) AS c_ab FROM db GROUP BY l, r),
        |uni AS (
        | SELECT tok, count(*) AS c
        | FROM (SELECT unnest(t) AS tok FROM d) GROUP BY tok),
        |tot AS (SELECT CAST(sum(c) AS DOUBLE) AS t_tok FROM uni)
        |SELECT db.doc_id, count(*) AS n_bigrams,
        | round(avg(ln(0.7 * (CAST(c_ab AS DOUBLE) / CAST(ul.c AS DOUBLE))
        |   + (1.0 - 0.7) * (CAST(ur.c AS DOUBLE) / t_tok))), 4) AS avg_logprob
        |FROM db JOIN bi USING (l, r)
        |JOIN uni ul ON db.l = ul.tok JOIN uni ur ON db.r = ur.tok
        |CROSS JOIN tot
        |GROUP BY db.doc_id
        |ORDER BY db.doc_id""".stripMargin,
    // DSIR λ is quantized to integer micro-units on BOTH sides, so the
    // per-document score is an exact integer sum (order-independent)
    // divided once at the edge — no float-summation rounding boundary
    // can split the engines. Bucket = first 24 md5 bits mod 256.
    "q_dsir_weights" ->
      """WITH d AS (
        | SELECT doc_id, lang, source,
        |   string_split_regex(lower(trim(text)), '\s+') AS t
        | FROM documents),
        |g AS (
        | SELECT doc_id, lang, source, unnest(t) AS g FROM d
        | UNION ALL
        | SELECT doc_id, lang, source, t[i] || ' ' || t[i+1] AS g
        | FROM d, LATERAL (SELECT unnest(generate_series(1, len(t)-1)) AS i)
        | WHERE len(t) >= 2),
        |gb AS (SELECT doc_id, lang, source,
        |        CAST('0x' || substring(md5(g), 1, 6) AS BIGINT) % 256 AS b
        |       FROM g),
        |tgt AS (SELECT b, count(*) AS ct FROM gb
        |        WHERE source IN ('src0', 'src1') GROUP BY b),
        |rawc AS (SELECT b, count(*) AS cr FROM gb GROUP BY b),
        |tot AS (SELECT (SELECT sum(ct) FROM tgt) + 256.0 AS tt,
        |               (SELECT sum(cr) FROM rawc) + 256.0 AS tr),
        |lam AS (
        | SELECT rawc.b,
        |  CAST(floor((ln((coalesce(ct, 0) + 1.0) / tt)
        |            - ln((cr + 1.0) / tr)) * 1000000 + 0.5) AS BIGINT) AS l
        | FROM rawc LEFT JOIN tgt USING (b) CROSS JOIN tot)
        |SELECT gb.doc_id, any_value(gb.lang) AS lang,
        | any_value(gb.source) AS source,
        | count(*) AS n_grams,
        | CAST(sum(l) AS DOUBLE) / 1000000.0 AS logw
        |FROM gb JOIN lam USING (b)
        |GROUP BY gb.doc_id
        |ORDER BY gb.doc_id""".stripMargin,
    "q_dsir_select" ->
      """WITH d AS (
        | SELECT doc_id, lang, source,
        |   string_split_regex(lower(trim(text)), '\s+') AS t
        | FROM documents),
        |g AS (
        | SELECT doc_id, lang, source, unnest(t) AS g FROM d
        | UNION ALL
        | SELECT doc_id, lang, source, t[i] || ' ' || t[i+1] AS g
        | FROM d, LATERAL (SELECT unnest(generate_series(1, len(t)-1)) AS i)
        | WHERE len(t) >= 2),
        |gb AS (SELECT doc_id, lang, source,
        |        CAST('0x' || substring(md5(g), 1, 6) AS BIGINT) % 256 AS b
        |       FROM g),
        |tgt AS (SELECT b, count(*) AS ct FROM gb
        |        WHERE source IN ('src0', 'src1') GROUP BY b),
        |rawc AS (SELECT b, count(*) AS cr FROM gb GROUP BY b),
        |tot AS (SELECT (SELECT sum(ct) FROM tgt) + 256.0 AS tt,
        |               (SELECT sum(cr) FROM rawc) + 256.0 AS tr),
        |lam AS (
        | SELECT rawc.b,
        |  CAST(floor((ln((coalesce(ct, 0) + 1.0) / tt)
        |            - ln((cr + 1.0) / tr)) * 1000000 + 0.5) AS BIGINT) AS l
        | FROM rawc LEFT JOIN tgt USING (b) CROSS JOIN tot)
        |, w AS (
        | SELECT gb.doc_id, any_value(gb.lang) AS lang,
        |  any_value(gb.source) AS source,
        |  CAST(sum(l) AS DOUBLE) / 1000000.0 AS logw
        | FROM gb JOIN lam USING (b)
        | GROUP BY gb.doc_id),
        |k AS (SELECT doc_id, lang, source, logw,
        |  round(logw - ln(-ln(
        |    (CAST('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 13)
        |      AS BIGINT) + 0.5) / 4503599627370496.0)), 6) AS gumbel_key
        | FROM w)
        |SELECT doc_id, lang, source, logw FROM
        | (SELECT * FROM k ORDER BY gumbel_key DESC, doc_id LIMIT 200)
        |ORDER BY doc_id""".stripMargin,
    // Ratios are single divisions of engine-identical integer counts —
    // exact doubles, no rounding surface. Lateral column aliases let
    // gopher_pass reuse the computed columns.
    "q_gopher_rules" ->
      """WITH d AS (
        | SELECT doc_id, lang,
        |   string_split_regex(lower(trim(text)), '\s+') AS t,
        |   string_split(text, chr(10)) AS ln
        | FROM documents)
        |SELECT doc_id, lang,
        | CAST(len(t) AS BIGINT) AS n_words,
        | CAST(list_sum(list_transform(t, x -> length(x))) AS DOUBLE)
        |   / len(t) AS mean_word_len,
        | CAST(len(list_filter(t, x -> contains(x, '#')
        |   OR contains(x, '...') OR contains(x, '…'))) AS DOUBLE)
        |   / len(t) AS frac_sym,
        | CAST(len(list_filter(ln, x -> starts_with(ltrim(x), '-')
        |   OR starts_with(ltrim(x), '*') OR starts_with(ltrim(x), '•')))
        |   AS DOUBLE) / len(ln) AS frac_bullet,
        | CAST(len(list_filter(ln, x -> ends_with(rtrim(x), '...')
        |   OR ends_with(rtrim(x), '…'))) AS DOUBLE)
        |   / len(ln) AS frac_ellipsis,
        | CAST(len(list_filter(t, x -> regexp_matches(x, '[a-z]')))
        |   AS DOUBLE) / len(t) AS frac_alpha,
        | CAST(len(list_intersect(list_distinct(t),
        |   ['the','be','to','of','and','that','have','with'])) AS BIGINT)
        |   AS stop_hits,
        | (n_words BETWEEN 50 AND 100000)
        |   AND (mean_word_len BETWEEN 3.0 AND 10.0)
        |   AND frac_sym <= 0.1 AND frac_bullet < 0.9
        |   AND frac_ellipsis <= 0.3 AND frac_alpha >= 0.8
        |   AND stop_hits >= 1 AS gopher_pass
        |FROM d
        |ORDER BY doc_id""".stripMargin,
    "q_k_anonymity" ->
      """WITH e AS (
        | SELECT event_type,
        |   date_trunc('day', CAST(ts AS TIMESTAMP)) AS day,
        |   CAST(floor(value / 100) AS BIGINT) AS value_band, user_id
        | FROM events),
        |l0 AS (
        | SELECT event_type, day, value_band, count(*) AS n_rows,
        |   count(DISTINCT user_id) AS n_users
        | FROM e GROUP BY 1, 2, 3),
        |l1 AS (
        | SELECT event_type, date_trunc('month', day) AS month,
        |   count(DISTINCT user_id) AS l1_users
        | FROM e GROUP BY 1, 2)
        |SELECT l0.event_type, l0.day, l0.value_band,
        | CAST(l0.n_rows AS BIGINT) AS n_rows,
        | CAST(l0.n_users AS BIGINT) AS n_users,
        | l0.n_users < 5 AS at_risk,
        | l0.n_users < 5 AND l1.l1_users >= 5 AS generalization_rescues
        |FROM l0 JOIN l1
        |  ON l0.event_type = l1.event_type
        | AND date_trunc('month', l0.day) = l1.month
        |ORDER BY l0.event_type, l0.day, l0.value_band""".stripMargin,
    "q_l_diversity" ->
      """WITH e AS (
        | SELECT event_type,
        |   date_trunc('day', CAST(ts AS TIMESTAMP)) AS day,
        |   CAST(floor(value / 100) AS BIGINT) AS value_band, user_id
        | FROM events),
        |bands AS (
        | SELECT event_type, day, value_band, count(*) AS band_rows
        | FROM e GROUP BY 1, 2, 3),
        |classes AS (
        | SELECT event_type, day,
        |   CAST(sum(band_rows) AS BIGINT) AS n_rows,
        |   count(*) AS l_bands,
        |   CAST(max(band_rows) AS BIGINT) AS top_band_rows
        | FROM bands GROUP BY 1, 2),
        |users AS (
        | SELECT event_type, day, count(DISTINCT user_id) AS n_users
        | FROM e GROUP BY 1, 2)
        |SELECT c.event_type, c.day, c.n_rows,
        | CAST(u.n_users AS BIGINT) AS n_users,
        | CAST(c.l_bands AS BIGINT) AS l_bands, c.top_band_rows,
        | u.n_users >= 5 AND c.l_bands < 2 AS homogeneity_risk
        |FROM classes c JOIN users u
        |  ON c.event_type = u.event_type AND c.day = u.day
        |ORDER BY c.event_type, c.day""".stripMargin,
    "q_dp_bounded" ->
      """WITH per_user AS (
        | SELECT event_type,
        |   date_trunc('day', CAST(ts AS TIMESTAMP)) AS day,
        |   user_id, count(*) AS cnt
        | FROM events GROUP BY 1, 2, 3)
        |SELECT event_type, day,
        | CAST(sum(cnt) AS BIGINT) AS raw_count,
        | CAST(sum(least(cnt, 3)) AS BIGINT) AS bounded_count,
        | count(*) AS n_contributors,
        | CAST(sum(cnt) - sum(least(cnt, 3)) AS BIGINT) AS clipped_rows
        |FROM per_user
        |GROUP BY event_type, day
        |ORDER BY event_type, day""".stripMargin,
    "q_blast_radius" ->
      """WITH RECURSIVE panel AS (
        | SELECT doc_id FROM documents
        | ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id LIMIT 1000),
        |t AS (
        | SELECT doc_id, string_split(
        |   regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ') AS toks
        | FROM documents WHERE doc_id IN (SELECT doc_id FROM panel)),
        |s AS (
        | SELECT doc_id,
        |  list_distinct(list_transform(generate_series(1, len(toks) - 2),
        |    i -> array_to_string(toks[i:(i+2)], ' '))) AS st
        | FROM t WHERE len(toks) >= 3),
        |pairs AS (
        | SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |  round(CAST(len(list_intersect(a.st, b.st)) AS DOUBLE) / len(a.st), 4)
        |    AS containment
        | FROM s a JOIN s b ON a.doc_id <> b.doc_id
        | WHERE CAST(len(list_intersect(a.st, b.st)) AS DOUBLE) / len(a.st) >= 0.6),
        |edges AS (
        | SELECT doc_a AS a, doc_b AS b FROM pairs
        | UNION
        | SELECT doc_b AS a, doc_a AS b FROM pairs),
        |reach AS (
        | SELECT doc_a AS doc_id, 0 AS hop FROM pairs
        | WHERE containment = 1.0
        | UNION
        | SELECT e.b, r.hop + 1 FROM reach r JOIN edges e ON e.a = r.doc_id
        | WHERE r.hop < 2)
        |SELECT doc_id, CAST(min(hop) AS BIGINT) AS hop
        |FROM reach GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    "q_split_leakage" ->
      """WITH panel AS (
        | SELECT doc_id FROM documents
        | ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id LIMIT 1500),
        |t AS (
        | SELECT doc_id, string_split(
        |   regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ') AS toks
        | FROM documents WHERE doc_id IN (SELECT doc_id FROM panel)),
        |s AS (
        | SELECT doc_id,
        |  list_distinct(list_transform(generate_series(1, len(toks) - 2),
        |    i -> array_to_string(toks[i:(i+2)], ' '))) AS st
        | FROM t WHERE len(toks) >= 3),
        |pairs AS (
        | SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |  round(CAST(len(list_intersect(a.st, b.st)) AS DOUBLE) / len(a.st), 4)
        |    AS containment
        | FROM s a JOIN s b ON a.doc_id <> b.doc_id
        | WHERE CAST(len(list_intersect(a.st, b.st)) AS DOUBLE) / len(a.st) >= 0.6),
        |sp AS (
        | SELECT doc_id, CASE
        |   WHEN substring(md5(CAST(doc_id AS VARCHAR)), 1, 1) IN ('0','1')
        |     THEN 'test'
        |   WHEN substring(md5(CAST(doc_id AS VARCHAR)), 1, 1) IN ('2','3')
        |     THEN 'val'
        |   ELSE 'train' END AS split
        | FROM documents),
        |tagged AS (
        | SELECT p.doc_a, p.doc_b, p.containment,
        |   sa.split AS split_a, sb.split AS split_b
        | FROM pairs p
        | JOIN sp sa ON p.doc_a = sa.doc_id
        | JOIN sp sb ON p.doc_b = sb.doc_id)
        |SELECT doc_a AS train_doc, doc_b AS test_doc, containment,
        | 'train_in_test' AS direction
        |FROM tagged WHERE split_a = 'train' AND split_b = 'test'
        |UNION ALL
        |SELECT doc_b AS train_doc, doc_a AS test_doc, containment,
        | 'test_in_train' AS direction
        |FROM tagged WHERE split_a = 'test' AND split_b = 'train'
        |ORDER BY train_doc, test_doc, direction""".stripMargin,
    "q_jw_scores" ->
      """WITH panel AS (
        | SELECT c_custkey FROM customer
        | ORDER BY md5(CAST(c_custkey AS VARCHAR)), c_custkey LIMIT 1500),
        |c AS (SELECT c_custkey, c_name FROM customer
        | WHERE c_custkey IN (SELECT c_custkey FROM panel))
        |SELECT a.c_custkey AS key_a, b.c_custkey AS key_b,
        | CAST(levenshtein(a.c_name, b.c_name) AS BIGINT) AS edit_distance,
        | round(jaro_winkler_similarity(a.c_name, b.c_name), 4) AS jw
        |FROM c a JOIN c b
        |  ON a.c_custkey < b.c_custkey
        |  AND abs(length(a.c_name) - length(b.c_name)) <= 2
        |WHERE levenshtein(a.c_name, b.c_name) <= 2
        |ORDER BY key_a, key_b""".stripMargin,
    "q_score_calibration" ->
      """WITH t AS (SELECT doc_id, source,
        |  CAST(len(string_split_regex(lower(trim(text)), '\s+')) AS DOUBLE) AS n_tok,
        |  CAST(len(list_filter(string_split_regex(lower(trim(text)), '\s+'),
        |    x -> list_contains(['the','a','and','of','to','in','is','for'], x))) AS DOUBLE) AS n_stop,
        |  CAST(len(regexp_extract_all(text, '[^A-Za-z0-9\s]')) AS DOUBLE) AS n_punct,
        |  CAST(length(text) AS DOUBLE) AS len
        | FROM documents),
        |q AS (
        | SELECT doc_id, source,
        |  round(least(len / 500.0, 1.0) * 0.4
        |    + least(n_stop / n_tok * 4.0, 1.0) * 0.4
        |    + (1.0 - least(n_punct / len * 10.0, 1.0)) * 0.2, 4) AS quality
        | FROM t)
        |SELECT doc_id, source, quality,
        | round(CAST(percent_rank() OVER (PARTITION BY source ORDER BY quality)
        |   AS DOUBLE), 6) AS calib
        |FROM q
        |ORDER BY doc_id""".stripMargin,
    "q_dup_rate_source" ->
      """WITH keepers AS (
        | SELECT min(doc_id) AS doc_id
        | FROM documents
        | GROUP BY md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')))
        |SELECT d.source, CAST(count(*) AS BIGINT) AS n_docs,
        | CAST(sum(CASE WHEN k.doc_id IS NULL THEN 1 ELSE 0 END) AS BIGINT)
        |   AS n_dups,
        | round(CAST(sum(CASE WHEN k.doc_id IS NULL THEN 1 ELSE 0 END)
        |     AS DOUBLE) / count(*), 6) AS dup_rate
        |FROM documents d LEFT JOIN keepers k ON d.doc_id = k.doc_id
        |GROUP BY d.source
        |ORDER BY d.source""".stripMargin,
    "q_fk_orphans" ->
      """SELECT * FROM (
        | SELECT 'customer.c_nationkey -> nation' AS fk_edge,
        |  CAST(count(*) AS BIGINT) AS n_orphans
        | FROM customer c
        | WHERE NOT EXISTS (SELECT 1 FROM nation n
        |                   WHERE n.n_nationkey = c.c_nationkey)
        | UNION ALL
        | SELECT 'lineitem.l_orderkey -> orders',
        |  CAST(count(*) AS BIGINT)
        | FROM lineitem l
        | WHERE NOT EXISTS (SELECT 1 FROM orders o
        |                   WHERE o.o_orderkey = l.l_orderkey)
        | UNION ALL
        | SELECT 'lineitem.l_partkey -> part', CAST(count(*) AS BIGINT)
        | FROM lineitem l
        | WHERE NOT EXISTS (SELECT 1 FROM part p
        |                   WHERE p.p_partkey = l.l_partkey)
        | UNION ALL
        | SELECT 'lineitem.l_suppkey -> supplier', CAST(count(*) AS BIGINT)
        | FROM lineitem l
        | WHERE NOT EXISTS (SELECT 1 FROM supplier s
        |                   WHERE s.s_suppkey = l.l_suppkey)
        | UNION ALL
        | SELECT 'orders.o_custkey -> customer', CAST(count(*) AS BIGINT)
        | FROM orders o
        | WHERE NOT EXISTS (SELECT 1 FROM customer c
        |                   WHERE c.c_custkey = o.o_custkey))
        |ORDER BY fk_edge""".stripMargin,
    "q_benford" ->
      """WITH d AS (
        | SELECT TRY_CAST(regexp_extract(CAST(l_extendedprice AS VARCHAR), '[1-9]') AS INT)
        |   AS digit
        | FROM lineitem),
        |c AS (
        | SELECT digit, CAST(count(*) AS BIGINT) AS n FROM d
        | WHERE digit BETWEEN 1 AND 9 GROUP BY digit),
        |t AS (SELECT CAST(sum(n) AS BIGINT) AS total FROM c),
        |e AS (
        | SELECT digit, CAST(expected_p AS DOUBLE) AS expected_p FROM (VALUES
        |  (1, 0.301030), (2, 0.176091), (3, 0.124939), (4, 0.096910),
        |  (5, 0.079181), (6, 0.066947), (7, 0.057992), (8, 0.051153),
        |  (9, 0.045757)) AS v(digit, expected_p))
        |SELECT CAST(c.digit AS BIGINT) AS digit, c.n, e.expected_p,
        | round(CAST(c.n AS DOUBLE) / t.total, 6) AS observed_p,
        | round((CAST(c.n AS DOUBLE) - e.expected_p * t.total)
        |   * (CAST(c.n AS DOUBLE) - e.expected_p * t.total)
        |   / (e.expected_p * t.total), 6) AS chi2_part
        |FROM c JOIN e USING (digit) CROSS JOIN t
        |ORDER BY digit""".stripMargin,
    "q_source_drift" ->
      """WITH toks AS (
        | SELECT source,
        |  unnest(string_split_regex(lower(trim(text)), '\s+')) AS tok
        | FROM documents),
        |counts AS (
        | SELECT tok,
        |  CAST(sum(CASE WHEN source = 'src0' THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_in,
        |  CAST(sum(CASE WHEN source <> 'src0' THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_out
        | FROM toks GROUP BY tok
        | HAVING n_in + n_out >= 20),
        |totals AS (
        | SELECT CAST(sum(n_in) AS BIGINT) AS t_in,
        |  CAST(sum(n_out) AS BIGINT) AS t_out FROM counts)
        |SELECT tok, n_in, n_out,
        | round((CAST(n_in AS DOUBLE)
        |     - CAST(n_in + n_out AS DOUBLE) * t_in / (t_in + t_out))
        |   * (CAST(n_in AS DOUBLE)
        |     - CAST(n_in + n_out AS DOUBLE) * t_in / (t_in + t_out))
        |   / (CAST(n_in + n_out AS DOUBLE) * t_in / (t_in + t_out)), 6)
        |   AS chi2_in
        |FROM counts CROSS JOIN totals
        |ORDER BY chi2_in DESC, tok
        |LIMIT 30""".stripMargin,
    "q_basket_rules" ->
      """WITH op AS (
        | SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
        |n AS (SELECT CAST(count(DISTINCT o) AS BIGINT) AS n_orders FROM op),
        |pn AS (SELECT p, CAST(count(*) AS BIGINT) AS n_p FROM op GROUP BY p),
        |pairs AS (
        | SELECT a.p AS u, b.p AS v, CAST(count(*) AS BIGINT) AS n_uv
        | FROM op a JOIN op b ON a.o = b.o AND a.p < b.p
        | GROUP BY a.p, b.p HAVING count(*) >= 2),
        |directed AS (
        | SELECT u AS antecedent, v AS consequent, n_uv AS n_both FROM pairs
        | UNION ALL
        | SELECT v AS antecedent, u AS consequent, n_uv AS n_both FROM pairs)
        |SELECT d.antecedent, d.consequent, d.n_both,
        | pa.n_p AS n_ant, pc.n_p AS n_cons,
        | round(CAST(d.n_both AS DOUBLE) / pa.n_p, 6) AS confidence,
        | round(CAST(d.n_both AS DOUBLE) * n.n_orders
        |   / (CAST(pa.n_p AS DOUBLE) * pc.n_p), 6) AS lift
        |FROM directed d
        |JOIN pn pa ON d.antecedent = pa.p
        |JOIN pn pc ON d.consequent = pc.p
        |CROSS JOIN n
        |ORDER BY lift DESC, antecedent, consequent
        |LIMIT 50""".stripMargin,
    "q_session_paths" ->
      """WITH e AS (
        | SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, event_id, event_type,
        |  lag(CAST(ts AS TIMESTAMP)) OVER (PARTITION BY user_id
        |    ORDER BY CAST(ts AS TIMESTAMP), event_id) AS prev_ts
        | FROM events),
        |s AS (
        | SELECT user_id, ts, event_id, event_type,
        |  sum(CASE WHEN prev_ts IS NULL
        |        OR epoch_us(ts) - epoch_us(prev_ts) > 1800000000
        |      THEN 1 ELSE 0 END)
        |    OVER (PARTITION BY user_id ORDER BY ts, event_id
        |          ROWS UNBOUNDED PRECEDING) AS session_id
        | FROM e),
        |r AS (
        | SELECT user_id, session_id, event_type,
        |  row_number() OVER (PARTITION BY user_id, session_id
        |    ORDER BY ts, event_id) AS rn
        | FROM s),
        |p AS (
        | SELECT user_id, session_id,
        |  string_agg(event_type, ' > ' ORDER BY rn) AS path
        | FROM r WHERE rn <= 8 GROUP BY user_id, session_id)
        |SELECT path, CAST(count(*) AS BIGINT) AS n_sessions
        |FROM p GROUP BY path
        |ORDER BY n_sessions DESC, path
        |LIMIT 20""".stripMargin,
    "q_ab_lift" ->
      """WITH u AS (
        | SELECT user_id,
        |  max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS converted,
        |  user_id % 2 AS cohort
        | FROM events GROUP BY user_id),
        |s AS (
        | SELECT
        |  CAST(sum(CASE WHEN cohort = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
        |  CAST(sum(CASE WHEN cohort = 0 THEN converted ELSE 0 END) AS BIGINT) AS conv_a,
        |  CAST(sum(CASE WHEN cohort = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_b,
        |  CAST(sum(CASE WHEN cohort = 1 THEN converted ELSE 0 END) AS BIGINT) AS conv_b
        | FROM u)
        |SELECT n_a, conv_a, n_b, conv_b,
        | round(CAST(conv_a AS DOUBLE) / n_a, 6) AS rate_a,
        | round(CAST(conv_b AS DOUBLE) / n_b, 6) AS rate_b,
        | round(CAST(conv_a AS DOUBLE) / n_a - CAST(conv_b AS DOUBLE) / n_b, 6)
        |   AS lift,
        | CASE WHEN CAST(conv_a + conv_b AS DOUBLE) / (n_a + n_b) > 0.0
        |       AND CAST(conv_a + conv_b AS DOUBLE) / (n_a + n_b) < 1.0
        |  THEN round((CAST(conv_a AS DOUBLE) / n_a - CAST(conv_b AS DOUBLE) / n_b)
        |   / sqrt((CAST(conv_a + conv_b AS DOUBLE) / (n_a + n_b))
        |     * (1.0 - CAST(conv_a + conv_b AS DOUBLE) / (n_a + n_b))
        |     * (1.0 / n_a + 1.0 / n_b)), 6)
        | END AS z
        |FROM s""".stripMargin,
    "q_dedup_keep_best" ->
      """WITH g AS (
        | SELECT doc_id, n_chars,
        |  md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS text_hash
        | FROM documents),
        |r AS (
        | SELECT text_hash, doc_id, n_chars,
        |  row_number() OVER (PARTITION BY text_hash
        |    ORDER BY n_chars DESC, doc_id) AS rn
        | FROM g)
        |SELECT text_hash,
        | max(CASE WHEN rn = 1 THEN doc_id END) AS keep_id,
        | max(CASE WHEN rn = 1 THEN n_chars END) AS kept_chars,
        | count(*) AS n_copies,
        | CAST(coalesce(sum(CASE WHEN rn > 1 THEN n_chars END), 0) AS BIGINT)
        |   AS dropped_chars
        |FROM r GROUP BY text_hash ORDER BY keep_id""".stripMargin,
    "q_churn_labels" ->
      """WITH ref AS (
        | SELECT CAST(max(CAST(ts AS TIMESTAMP)) AS DATE) - 7 AS cut_day
        | FROM events),
        |f AS (
        | SELECT user_id, count(*) AS n_events,
        |  CAST(count(DISTINCT event_type) AS BIGINT) AS n_types,
        |  max(CAST(CAST(ts AS TIMESTAMP) AS DATE)) AS last_day
        | FROM events, ref
        | WHERE CAST(CAST(ts AS TIMESTAMP) AS DATE) <= ref.cut_day
        | GROUP BY user_id),
        |a AS (
        | SELECT DISTINCT user_id FROM events, ref
        | WHERE CAST(CAST(ts AS TIMESTAMP) AS DATE) > ref.cut_day)
        |SELECT f.user_id, f.n_events, f.n_types,
        | CAST(date_diff('day', f.last_day, r.cut_day) AS BIGINT) AS recency_days,
        | CAST(CASE WHEN a.user_id IS NULL THEN 1 ELSE 0 END AS BIGINT) AS churned
        |FROM f CROSS JOIN ref r LEFT JOIN a ON f.user_id = a.user_id
        |ORDER BY f.user_id""".stripMargin,
    "q_markov_transitions" ->
      """WITH seq AS (
        | SELECT user_id, event_type,
        |  lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
        |    AS from_type
        | FROM events),
        |pairs AS (
        | SELECT from_type, event_type AS to_type, CAST(count(*) AS BIGINT) AS n
        | FROM seq WHERE from_type IS NOT NULL GROUP BY 1, 2),
        |tot AS (SELECT from_type, sum(n) AS row_total FROM pairs GROUP BY 1)
        |SELECT pr.from_type, pr.to_type, pr.n,
        | round(CAST(pr.n AS DOUBLE) / t.row_total, 6) AS p
        |FROM pairs pr JOIN tot t USING (from_type)
        |ORDER BY from_type, to_type""".stripMargin,
    "q_hybrid_rrf" ->
      """WITH toks AS (
        | SELECT doc_id, unnest(string_split_regex(lower(trim(text)), '\s+')) AS tok
        | FROM documents),
        |lens AS (
        | SELECT doc_id,
        |        CAST(len(string_split_regex(lower(trim(text)), '\s+')) AS DOUBLE) AS dl
        | FROM documents),
        |stats AS (
        | SELECT CAST(count(*) AS DOUBLE) AS n_docs, avg(dl) AS avgdl FROM lens),
        |tf AS (
        | SELECT tok, doc_id, CAST(count(*) AS BIGINT) AS tf
        | FROM toks WHERE tok IN ('data', 'model', 'spark') GROUP BY 1, 2),
        |df AS (SELECT tok, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY tok),
        |idf AS (
        | SELECT tok, ln(1.0 + (s.n_docs - df.df + 0.5) / (df.df + 0.5)) AS idf,
        |        s.avgdl AS avgdl
        | FROM df CROSS JOIN stats s),
        |scored AS (
        | SELECT tf.doc_id,
        |        idf.idf * (tf.tf * 2.2)
        |          / (tf.tf + 1.2 * (1.0 - 0.75 + 0.75 * l.dl / idf.avgdl)) AS term_score
        | FROM tf JOIN idf USING (tok) JOIN lens l ON tf.doc_id = l.doc_id),
        |bm AS (
        | SELECT doc_id, round(sum(term_score), 4) AS bm25
        | FROM scored GROUP BY doc_id),
        |bleg AS (
        | SELECT doc_id, bm25_rank FROM (
        |  SELECT doc_id, CAST(row_number() OVER (ORDER BY bm25 DESC, doc_id)
        |    AS BIGINT) AS bm25_rank FROM bm)
        | WHERE bm25_rank <= 50),
        |v AS (SELECT vec_id,
        |  list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
        |nrm AS (SELECT vec_id,
        |  list_transform(v, x -> x / sqrt(list_dot_product(v, v))) AS vn FROM v),
        |q AS (SELECT vn AS qn FROM nrm WHERE vec_id = 0),
        |cos0 AS (
        | SELECT nrm.vec_id AS doc_id,
        |  round(list_dot_product(nrm.vn, q.qn), 6) AS cos
        | FROM nrm CROSS JOIN q WHERE nrm.vec_id <> 0),
        |vleg AS (
        | SELECT doc_id, cos_rank FROM (
        |  SELECT doc_id, CAST(row_number() OVER (ORDER BY cos DESC, doc_id)
        |    AS BIGINT) AS cos_rank FROM cos0)
        | WHERE cos_rank <= 50),
        |fused AS (
        | SELECT COALESCE(b.doc_id, w.doc_id) AS doc_id,
        |  b.bm25_rank, w.cos_rank,
        |  round(COALESCE(1.0 / (60 + b.bm25_rank), 0)
        |    + COALESCE(1.0 / (60 + w.cos_rank), 0), 6) AS rrf
        | FROM bleg b FULL OUTER JOIN vleg w ON b.doc_id = w.doc_id)
        |SELECT doc_id, bm25_rank, cos_rank, rrf, rank FROM (
        | SELECT doc_id, bm25_rank, cos_rank, rrf,
        |  CAST(row_number() OVER (ORDER BY rrf DESC, doc_id) AS BIGINT) AS rank
        | FROM fused)
        |WHERE rank <= 20 ORDER BY rank""".stripMargin,
    // Mann-Whitney AUC cleared to integers: 2·midrank of a tie run of
    // size c after cb rows is 2cb + c + 1, so 2U is a BIGINT sum and
    // the single division is correctly rounded on both engines.
    "q_quality_auc" ->
      """WITH s AS (
        | SELECT source, n_chars AS score,
        |  CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y
        | FROM documents),
        |t AS (
        | SELECT source, score, CAST(count(*) AS BIGINT) AS c,
        |  CAST(sum(y) AS BIGINT) AS pos
        | FROM s GROUP BY 1, 2),
        |r AS (
        | SELECT source, c, pos,
        |  CAST(COALESCE(sum(c) OVER (PARTITION BY source ORDER BY score
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
        |    AS cb
        | FROM t),
        |a AS (
        | SELECT source, CAST(sum(c) AS BIGINT) AS n,
        |  CAST(sum(pos) AS BIGINT) AS n_pos,
        |  CAST(sum(pos * (2 * cb + c + 1))
        |    - CAST(sum(pos) AS BIGINT) * (CAST(sum(pos) AS BIGINT) + 1)
        |    AS BIGINT) AS auc_num2,
        |  CAST(2 * sum(pos) * (sum(c) - sum(pos)) AS BIGINT) AS auc_den2
        | FROM r GROUP BY source)
        |SELECT source, n, n_pos, auc_num2, auc_den2,
        | CASE WHEN auc_den2 > 0
        |  THEN round(CAST(auc_num2 AS DOUBLE) / auc_den2, 6) END AS auc
        |FROM a ORDER BY source""".stripMargin,
    // κ cleared of its N² denominators: num/den are exact BIGINTs,
    // one correctly-rounded division at the edge.
    "q_rater_kappa" ->
      """WITH r AS (
        | SELECT lang,
        |  CASE WHEN n_chars >= 300 THEN 1 ELSE 0 END AS a,
        |  CASE WHEN len(string_split_regex(lower(trim(text)), '\s+')) >= 50
        |   THEN 1 ELSE 0 END AS b
        | FROM documents),
        |m AS (
        | SELECT lang,
        |  CAST(sum(a * b) AS BIGINT) AS n11,
        |  CAST(sum(a * (1 - b)) AS BIGINT) AS n10,
        |  CAST(sum((1 - a) * b) AS BIGINT) AS n01,
        |  CAST(sum((1 - a) * (1 - b)) AS BIGINT) AS n00
        | FROM r GROUP BY lang),
        |k AS (
        | SELECT lang, n11, n10, n01, n00,
        |  (n11 + n10 + n01 + n00) * (n11 + n00)
        |   - ((n11 + n10) * (n11 + n01) + (n00 + n01) * (n00 + n10))
        |   AS kappa_num,
        |  (n11 + n10 + n01 + n00) * (n11 + n10 + n01 + n00)
        |   - ((n11 + n10) * (n11 + n01) + (n00 + n01) * (n00 + n10))
        |   AS kappa_den
        | FROM m)
        |SELECT lang, n11, n10, n01, n00, kappa_num, kappa_den,
        | CASE WHEN kappa_den > 0
        |  THEN round(CAST(kappa_num AS DOUBLE) / kappa_den, 6) END AS kappa
        |FROM k ORDER BY lang""".stripMargin,
    // EMD CDFs cleared of their denominators: D_i = cum_g·N − cum_b·N_g
    // is a BIGINT, the t = 0.2 gate is the integer 5·num ≤ den.
    "q_t_closeness" ->
      """WITH e AS (
        | SELECT event_type, date_trunc('day', CAST(ts AS TIMESTAMP)) AS day,
        |  CAST(floor(value / 50) AS BIGINT) AS band
        | FROM events),
        |gb AS (
        | SELECT event_type, day, band, CAST(count(*) AS BIGINT) AS n_gb
        | FROM e GROUP BY 1, 2, 3),
        |gr AS (
        | SELECT event_type, day, CAST(sum(n_gb) AS BIGINT) AS n_g
        | FROM gb GROUP BY 1, 2),
        |b0 AS (
        | SELECT band, CAST(sum(n_gb) AS BIGINT) AS n_b FROM gb GROUP BY 1),
        |bins AS (
        | SELECT band AS g_band,
        |  CAST(sum(n_b) OVER (ORDER BY band
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
        |    AS cum_b,
        |  CAST(sum(n_b) OVER () AS BIGINT) AS n_tot,
        |  CAST(count(*) OVER () AS BIGINT) AS m
        | FROM b0),
        |grid AS (
        | SELECT gr.event_type, gr.day, gr.n_g, bins.g_band, bins.cum_b,
        |  bins.n_tot, bins.m, COALESCE(gb.n_gb, 0) AS n_in
        | FROM gr CROSS JOIN bins
        | LEFT JOIN gb ON gb.event_type = gr.event_type
        |  AND gb.day = gr.day AND gb.band = bins.g_band),
        |cg AS (
        | SELECT *, CAST(sum(n_in) OVER (PARTITION BY event_type, day
        |   ORDER BY g_band ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |   AS BIGINT) AS cum_g
        | FROM grid),
        |agg AS (
        | SELECT event_type, day, CAST(max(n_g) AS BIGINT) AS n_rows,
        |  CAST(sum(abs(cum_g * n_tot - cum_b * n_g)) AS BIGINT) AS emd_num,
        |  CAST((max(m) - 1) * max(n_g) * max(n_tot) AS BIGINT) AS emd_den
        | FROM cg GROUP BY 1, 2)
        |SELECT event_type, day, n_rows, emd_num, emd_den,
        | CASE WHEN emd_den > 0
        |  THEN round(CAST(emd_num AS DOUBLE) / emd_den, 6) END AS emd,
        | CASE WHEN emd_den > 0 THEN 5 * emd_num <= emd_den END AS within_t
        |FROM agg ORDER BY event_type, day""".stripMargin,
    // NB sufficient statistics: exact counts, totals BEFORE the
    // minCount prune, one correctly-rounded division.
    "q_nb_train" ->
      """WITH d AS (
        | SELECT doc_id, lang, string_split_regex(lower(trim(text)), '\s+') AS t
        | FROM documents WHERE doc_id % 10 <> 7),
        |toks AS (SELECT lang, unnest(t) AS tok FROM d),
        |c AS (
        | SELECT lang, tok, CAST(count(*) AS BIGINT) AS n
        | FROM toks GROUP BY 1, 2),
        |tt AS (
        | SELECT lang, CAST(sum(n) AS BIGINT) AS class_tokens
        | FROM c GROUP BY 1)
        |SELECT c.lang, c.tok, c.n, tt.class_tokens,
        | round(CAST(c.n AS DOUBLE) / tt.class_tokens, 6) AS rel_freq
        |FROM c JOIN tt USING (lang) WHERE c.n >= 20
        |ORDER BY c.lang, c.tok""".stripMargin,
    // ln-free additive scorer: BIGINT numerator, one division, argmax
    // ordered by the ROUNDED score + lang on both engines.
    "q_nb_classify" ->
      """WITH d AS (
        | SELECT doc_id, lang, string_split_regex(lower(trim(text)), '\s+') AS t
        | FROM documents WHERE doc_id % 10 <> 7),
        |toks AS (SELECT lang, unnest(t) AS tok FROM d),
        |c AS (
        | SELECT lang, tok, CAST(count(*) AS BIGINT) AS n
        | FROM toks GROUP BY 1, 2),
        |tt AS (
        | SELECT lang, CAST(sum(n) AS BIGINT) AS class_tokens
        | FROM c GROUP BY 1),
        |mdl AS (
        | SELECT c.lang, c.tok, c.n, tt.class_tokens
        | FROM c JOIN tt USING (lang) WHERE c.n >= 20),
        |tst AS (
        | SELECT doc_id, lang AS true_lang,
        |  string_split_regex(lower(trim(text)), '\s+') AS t
        | FROM documents WHERE doc_id % 10 = 7),
        |tf AS (
        | SELECT doc_id, true_lang, tok, CAST(count(*) AS BIGINT) AS tf
        | FROM (SELECT doc_id, true_lang, unnest(t) AS tok FROM tst)
        | GROUP BY 1, 2, 3),
        |sc AS (
        | SELECT tf.doc_id, tf.true_lang, mdl.lang AS m_lang,
        |  CAST(sum(tf.tf * mdl.n) AS BIGINT) AS score_num,
        |  CAST(max(mdl.class_tokens) AS BIGINT) AS class_tokens
        | FROM tf JOIN mdl USING (tok) GROUP BY 1, 2, 3),
        |sc2 AS (
        | SELECT *, round(CAST(score_num AS DOUBLE) / class_tokens, 6)
        |   AS score
        | FROM sc),
        |rk AS (
        | SELECT *, row_number() OVER (PARTITION BY doc_id
        |   ORDER BY score DESC, m_lang) AS rk
        | FROM sc2)
        |SELECT doc_id, true_lang, m_lang AS pred_lang, score_num,
        | class_tokens, score, true_lang = m_lang AS correct
        |FROM rk WHERE rk = 1 ORDER BY doc_id""".stripMargin,
    // stupid-backoff levels: pure count joins, all-integer until the
    // final tri_rate division.
    "q_backoff_levels" ->
      """WITH d AS (
        | SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS t
        | FROM documents),
        |trn AS (SELECT t FROM d WHERE doc_id % 2 = 0),
        |tri0 AS (
        | SELECT t[i] AS a, t[i+1] AS b, t[i+2] AS c
        | FROM trn, LATERAL (SELECT unnest(generate_series(1, len(t) - 2)) AS i)
        | WHERE len(t) >= 3),
        |tri AS (SELECT a, b, c, count(*) AS n3 FROM tri0 GROUP BY 1, 2, 3),
        |bi0 AS (
        | SELECT t[i] AS b, t[i+1] AS c
        | FROM trn, LATERAL (SELECT unnest(generate_series(1, len(t) - 1)) AS i)
        | WHERE len(t) >= 2),
        |bi AS (SELECT b, c, count(*) AS n2 FROM bi0 GROUP BY 1, 2),
        |uni AS (
        | SELECT c, count(*) AS n1
        | FROM (SELECT unnest(t) AS c FROM trn) GROUP BY 1),
        |tst AS (
        | SELECT doc_id, t[i] AS a, t[i+1] AS b, t[i+2] AS c
        | FROM d, LATERAL (SELECT unnest(generate_series(1, len(t) - 2)) AS i)
        | WHERE doc_id % 2 = 1 AND len(t) >= 3),
        |lv AS (
        | SELECT tst.doc_id,
        |  CASE WHEN tri.n3 IS NOT NULL THEN 3
        |   WHEN bi.n2 IS NOT NULL THEN 2
        |   WHEN uni.n1 IS NOT NULL THEN 1 ELSE 0 END AS lvl
        | FROM tst
        | LEFT JOIN tri ON tst.a = tri.a AND tst.b = tri.b AND tst.c = tri.c
        | LEFT JOIN bi ON tst.b = bi.b AND tst.c = bi.c
        | LEFT JOIN uni ON tst.c = uni.c)
        |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_pos,
        | CAST(sum(CASE WHEN lvl = 3 THEN 1 ELSE 0 END) AS BIGINT) AS n_l3,
        | CAST(sum(CASE WHEN lvl = 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_l2,
        | CAST(sum(CASE WHEN lvl = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_l1,
        | CAST(sum(CASE WHEN lvl = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_l0,
        | round(CAST(sum(CASE WHEN lvl = 3 THEN 1 ELSE 0 END) AS DOUBLE)
        |   / count(*), 6) AS tri_rate
        |FROM lv GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    // lag-k autocorrelation: BIGINT moment sums, the closing √·√ then ÷
    // is a fixed IEEE tree (correctly rounded) — bit-stable
    "q_autocorr" ->
      """WITH daily AS (
        | SELECT date_trunc('day', o_orderdate) AS day,
        |  CAST(count(*) AS BIGINT) AS n
        | FROM orders GROUP BY 1),
        |spine AS (
        | SELECT unnest(generate_series(min(day), max(day),
        |   INTERVAL 1 DAY)) AS day FROM daily),
        |ser AS (
        | SELECT spine.day, coalesce(daily.n, 0) AS x
        | FROM spine LEFT JOIN daily USING (day)),
        |pairs AS (
        | SELECT l.lag, a.x AS x, b.x AS y
        | FROM (SELECT unnest(generate_series(1, 7)) AS lag) l
        | CROSS JOIN ser a
        | JOIN ser b ON b.day = a.day + l.lag * INTERVAL 1 DAY),
        |m AS (
        | SELECT lag, CAST(count(*) AS BIGINT) AS n_pairs,
        |  CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
        |  CAST(sum(x * y) AS BIGINT) AS sxy,
        |  CAST(sum(x * x) AS BIGINT) AS sxx,
        |  CAST(sum(y * y) AS BIGINT) AS syy
        | FROM pairs GROUP BY lag)
        |SELECT CAST(lag AS BIGINT) AS lag, n_pairs,
        | CASE WHEN n_pairs * sxx - sx * sx > 0
        |       AND n_pairs * syy - sy * sy > 0 THEN
        |  round(CAST(n_pairs * sxy - sx * sy AS DOUBLE) /
        |   (sqrt(CAST(n_pairs * sxx - sx * sx AS DOUBLE)) *
        |    sqrt(CAST(n_pairs * syy - sy * sy AS DOUBLE))), 6)
        | END AS corr
        |FROM m ORDER BY lag""".stripMargin,
    // CUSUM change point: |T·C_t − t·S| exact in BIGINT, top-K on the
    // (d_stat DESC, day) total order
    "q_cusum_changepoint" ->
      """WITH daily AS (
        | SELECT date_trunc('day', o_orderdate) AS day,
        |  CAST(count(*) AS BIGINT) AS n
        | FROM orders GROUP BY 1),
        |spine AS (
        | SELECT unnest(generate_series(min(day), max(day),
        |   INTERVAL 1 DAY)) AS day FROM daily),
        |ser AS (
        | SELECT spine.day, coalesce(daily.n, 0) AS x
        | FROM spine LEFT JOIN daily USING (day)),
        |c AS (
        | SELECT day,
        |  CAST(row_number() OVER (ORDER BY day) AS BIGINT) AS t,
        |  CAST(sum(x) OVER (ORDER BY day
        |    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_n,
        |  CAST(count(*) OVER () AS BIGINT) AS n_days,
        |  CAST(sum(x) OVER () AS BIGINT) AS total_n
        | FROM ser)
        |SELECT day, t, cum_n,
        | CAST(abs(n_days * cum_n - t * total_n) AS BIGINT) AS d_stat,
        | CASE WHEN n_days * total_n > 0 THEN
        |  round(CAST(abs(n_days * cum_n - t * total_n) AS DOUBLE) /
        |   (n_days * total_n), 6) END AS d_norm
        |FROM c ORDER BY d_stat DESC, day LIMIT 5""".stripMargin,
    // Theil–Sen: median of exact pairwise-slope divisions over the
    // bounded day panel (integer-midpoint median is exact in binary)
    "q_theilsen" ->
      """WITH daily AS (
        | SELECT date_trunc('day', o_orderdate) AS day,
        |  CAST(count(*) AS BIGINT) AS n
        | FROM orders GROUP BY 1),
        |spine AS (
        | SELECT unnest(generate_series(min(day), max(day),
        |   INTERVAL 1 DAY)) AS day FROM daily),
        |ser AS (
        | SELECT spine.day, coalesce(daily.n, 0) AS x
        | FROM spine LEFT JOIN daily USING (day)),
        |p AS (
        | SELECT CAST(b.x - a.x AS DOUBLE) /
        |   date_diff('day', a.day, b.day) AS slope
        | FROM ser a JOIN ser b ON a.day < b.day),
        |ag AS (
        | SELECT CAST(count(*) AS BIGINT) AS n_pairs,
        |  round(median(slope), 6) AS theil_sen_slope FROM p),
        |nd AS (SELECT CAST(count(*) AS BIGINT) AS n_days FROM ser)
        |SELECT n_days, n_pairs, theil_sen_slope
        |FROM ag CROSS JOIN nd""".stripMargin,
    // Mann–Kendall: S and the tie-corrected 18·Var(S) numerator exact
    // in BIGINT; continuity-corrected z is the only IEEE tail
    "q_mann_kendall" ->
      """WITH daily AS (
        | SELECT date_trunc('day', o_orderdate) AS day,
        |  CAST(count(*) AS BIGINT) AS n
        | FROM orders GROUP BY 1),
        |spine AS (
        | SELECT unnest(generate_series(min(day), max(day),
        |   INTERVAL 1 DAY)) AS day FROM daily),
        |ser AS (
        | SELECT spine.day, coalesce(daily.n, 0) AS x
        | FROM spine LEFT JOIN daily USING (day)),
        |s AS (
        | SELECT CAST(sum(CASE WHEN b.x > a.x THEN 1
        |   WHEN b.x < a.x THEN -1 ELSE 0 END) AS BIGINT) AS s
        | FROM ser a JOIN ser b ON a.day < b.day),
        |ties AS (
        | SELECT CAST(coalesce(sum(t * (t - 1) * (2 * t + 5)), 0)
        |   AS BIGINT) AS tie_term
        | FROM (SELECT count(*) AS t FROM ser GROUP BY x)),
        |nd AS (SELECT CAST(count(*) AS BIGINT) AS n_days FROM ser)
        |SELECT n_days, s,
        | CAST(n_days * (n_days - 1) * (2 * n_days + 5) - tie_term
        |   AS BIGINT) AS var18_num,
        | CASE WHEN n_days * (n_days - 1) * (2 * n_days + 5) - tie_term > 0
        |   AND s IS NOT NULL THEN
        |  round((CASE WHEN s > 0 THEN CAST(s - 1 AS DOUBLE)
        |    WHEN s < 0 THEN CAST(s + 1 AS DOUBLE) ELSE 0.0 END) /
        |   sqrt(CAST(n_days * (n_days - 1) * (2 * n_days + 5) - tie_term
        |     AS DOUBLE) / 18.0), 6) END AS z
        |FROM nd CROSS JOIN s CROSS JOIN ties""".stripMargin,
    // 2-regressor OLS by Cramer: exact BIGINT moments, fixed double
    // determinant trees — identical operands + identical shape
    "q_ols_daily" ->
      """WITH daily AS (
        | SELECT date_trunc('day', o_orderdate) AS day,
        |  CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT))
        |    AS BIGINT) AS cents
        | FROM orders GROUP BY 1),
        |mm AS (SELECT min(day) AS d0, max(day) AS d1 FROM daily),
        |sp AS (
        | SELECT d0, unnest(generate_series(d0, d1, INTERVAL 1 DAY))
        |   AS day FROM mm),
        |xy AS (
        | SELECT CAST(date_diff('day', d0, day) AS BIGINT) AS x1,
        |  CASE WHEN isodow(day) IN (6, 7) THEN 1 ELSE 0 END AS x2,
        |  coalesce(cents, 0) AS y
        | FROM sp LEFT JOIN daily USING (day)),
        |m AS (
        | SELECT CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(x1) AS BIGINT) AS s1, CAST(sum(x2) AS BIGINT) AS s2,
        |  CAST(sum(x1 * x1) AS BIGINT) AS s11,
        |  CAST(sum(x1 * x2) AS BIGINT) AS s12,
        |  CAST(sum(x2) AS BIGINT) AS s22,
        |  CAST(sum(y) AS BIGINT) AS sy,
        |  CAST(sum(x1 * y) AS BIGINT) AS s1y,
        |  CAST(sum(x2 * y) AS BIGINT) AS s2y
        | FROM xy),
        |dd AS (
        | SELECT n,
        |  CAST(n AS DOUBLE) * (CAST(s11 AS DOUBLE) * CAST(s22 AS DOUBLE) - CAST(s12 AS DOUBLE) * CAST(s12 AS DOUBLE)) - CAST(s1 AS DOUBLE) * (CAST(s1 AS DOUBLE) * CAST(s22 AS DOUBLE) - CAST(s12 AS DOUBLE) * CAST(s2 AS DOUBLE)) + CAST(s2 AS DOUBLE) * (CAST(s1 AS DOUBLE) * CAST(s12 AS DOUBLE) - CAST(s11 AS DOUBLE) * CAST(s2 AS DOUBLE)) AS det,
        |  CAST(sy AS DOUBLE) * (CAST(s11 AS DOUBLE) * CAST(s22 AS DOUBLE) - CAST(s12 AS DOUBLE) * CAST(s12 AS DOUBLE)) - CAST(s1 AS DOUBLE) * (CAST(s1y AS DOUBLE) * CAST(s22 AS DOUBLE) - CAST(s12 AS DOUBLE) * CAST(s2y AS DOUBLE)) + CAST(s2 AS DOUBLE) * (CAST(s1y AS DOUBLE) * CAST(s12 AS DOUBLE) - CAST(s11 AS DOUBLE) * CAST(s2y AS DOUBLE)) AS num0,
        |  CAST(n AS DOUBLE) * (CAST(s1y AS DOUBLE) * CAST(s22 AS DOUBLE) - CAST(s2y AS DOUBLE) * CAST(s12 AS DOUBLE)) - CAST(sy AS DOUBLE) * (CAST(s1 AS DOUBLE) * CAST(s22 AS DOUBLE) - CAST(s12 AS DOUBLE) * CAST(s2 AS DOUBLE)) + CAST(s2 AS DOUBLE) * (CAST(s1 AS DOUBLE) * CAST(s2y AS DOUBLE) - CAST(s1y AS DOUBLE) * CAST(s2 AS DOUBLE)) AS num1,
        |  CAST(n AS DOUBLE) * (CAST(s11 AS DOUBLE) * CAST(s2y AS DOUBLE) - CAST(s12 AS DOUBLE) * CAST(s1y AS DOUBLE)) - CAST(s1 AS DOUBLE) * (CAST(s1 AS DOUBLE) * CAST(s2y AS DOUBLE) - CAST(s1y AS DOUBLE) * CAST(s2 AS DOUBLE)) + CAST(sy AS DOUBLE) * (CAST(s1 AS DOUBLE) * CAST(s12 AS DOUBLE) - CAST(s11 AS DOUBLE) * CAST(s2 AS DOUBLE)) AS num2
        | FROM m)
        |SELECT n AS n_days,
        | CASE WHEN n >= 3 AND det <> 0 THEN round(num0 / det, 6) END
        |   AS beta0,
        | CASE WHEN n >= 3 AND det <> 0 THEN round(num1 / det, 6) END
        |   AS beta1_per_day,
        | CASE WHEN n >= 3 AND det <> 0 THEN round(num2 / det, 6) END
        |   AS beta2_weekend
        |FROM dd""".stripMargin,
    // Wald–Wolfowitz runs test: exact median split, integer run count,
    // closed-form z on (n1, n2, R) as the only IEEE tail
    "q_runs_test" ->
      """WITH daily AS (
        | SELECT date_trunc('day', o_orderdate) AS day,
        |  CAST(count(*) AS BIGINT) AS n
        | FROM orders GROUP BY 1),
        |spine AS (
        | SELECT unnest(generate_series(min(day), max(day),
        |   INTERVAL 1 DAY)) AS day FROM daily),
        |ser AS (
        | SELECT spine.day, coalesce(daily.n, 0) AS x
        | FROM spine LEFT JOIN daily USING (day)),
        |med AS (SELECT median(x) AS med FROM ser),
        |sgn AS (
        | SELECT day,
        |  CASE WHEN CAST(x AS DOUBLE) > med THEN 1 ELSE 0 END AS above
        | FROM ser CROSS JOIN med
        | WHERE CAST(x AS DOUBLE) <> med),
        |f AS (
        | SELECT above,
        |  CASE WHEN lag(above) OVER (ORDER BY day) IS NULL THEN 1
        |   WHEN lag(above) OVER (ORDER BY day) <> above THEN 1
        |   ELSE 0 END AS flip
        | FROM sgn),
        |g AS (
        | SELECT
        |  CAST(sum(CASE WHEN above = 1 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_above,
        |  CAST(sum(CASE WHEN above = 0 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_below,
        |  CAST(coalesce(sum(flip), 0) AS BIGINT) AS runs
        | FROM f),
        |h AS (
        | SELECT n_above, n_below, runs,
        |  CAST(n_above AS DOUBLE) AS n1, CAST(n_below AS DOUBLE) AS n2,
        |  CAST(runs AS DOUBLE) AS r
        | FROM g)
        |SELECT n_above, n_below, runs,
        | CASE WHEN n_above > 0 AND n_below > 0 AND n_above + n_below > 1
        |   AND (2.0 * n1 * n2 * (2.0 * n1 * n2 - n1 - n2)) /
        |    ((n1 + n2) * (n1 + n2) * (n1 + n2 - 1.0)) > 0.0 THEN
        |  round((r - (1.0 + 2.0 * n1 * n2 / (n1 + n2))) /
        |   sqrt((2.0 * n1 * n2 * (2.0 * n1 * n2 - n1 - n2)) /
        |    ((n1 + n2) * (n1 + n2) * (n1 + n2 - 1.0))), 6) END AS z
        |FROM h""".stripMargin,
    // two-sample KS per source vs rest: cleared-denominator CDF gaps
    // stay in BIGINT; the dense grid mirrors the Spark plan
    "q_ks_drift" ->
      """WITH cnt AS (
        | SELECT source, n_chars AS v, CAST(count(*) AS BIGINT) AS n_sv
        | FROM documents GROUP BY 1, 2),
        |tot AS (
        | SELECT source, CAST(sum(n_sv) AS BIGINT) AS n_s
        | FROM cnt GROUP BY 1),
        |bins AS (
        | SELECT v,
        |  CAST(sum(sum(n_sv)) OVER (ORDER BY v
        |    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_all,
        |  CAST(sum(sum(n_sv)) OVER () AS BIGINT) AS n_tot
        | FROM cnt GROUP BY v),
        |grid AS (
        | SELECT t.source, t.n_s, b.v, b.cum_all, b.n_tot,
        |  coalesce(c.n_sv, 0) AS n_in
        | FROM tot t CROSS JOIN bins b
        | LEFT JOIN cnt c ON c.source = t.source AND c.v = b.v),
        |g2 AS (
        | SELECT source, n_s, n_tot - n_s AS n_rest, cum_all,
        |  CAST(sum(n_in) OVER (PARTITION BY source ORDER BY v
        |    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_s
        | FROM grid)
        |SELECT source, max(n_s) AS n_src, max(n_rest) AS n_rest,
        | CAST(max(abs(n_rest * cum_s - n_s * (cum_all - cum_s)))
        |   AS BIGINT) AS ks_num,
        | CASE WHEN max(n_s) * max(n_rest) > 0 THEN
        |  round(CAST(max(abs(n_rest * cum_s - n_s * (cum_all - cum_s)))
        |    AS DOUBLE) / (max(n_s) * max(n_rest)), 6) END AS ks
        |FROM g2 GROUP BY source ORDER BY source""".stripMargin,
    // Heaps growth curve: doc_id-range deciles, first-carrier buckets,
    // cumulative over the ≤10-row panel — all integers
    "q_heaps_curve" ->
      """WITH d AS (
        | SELECT doc_id,
        |  string_split_regex(lower(trim(text)), '\s+') AS t
        | FROM documents),
        |ids AS (
        | SELECT min(doc_id) AS id0,
        |  max(doc_id) - min(doc_id) + 1 AS span FROM d),
        |ds AS (
        | SELECT ((doc_id - id0) * 10) // span + 1 AS decile,
        |  count(*) AS nd, sum(len(t)) AS nt
        | FROM d CROSS JOIN ids GROUP BY 1),
        |fc AS (
        | SELECT tok, min(doc_id) AS fid
        | FROM (SELECT doc_id, unnest(t) AS tok FROM d) GROUP BY tok),
        |fv AS (
        | SELECT ((fid - id0) * 10) // span + 1 AS decile,
        |  count(*) AS nv
        | FROM fc CROSS JOIN ids GROUP BY 1),
        |j AS (
        | SELECT coalesce(ds.decile, fv.decile) AS decile,
        |  coalesce(nd, 0) AS nd, coalesce(nt, 0) AS nt,
        |  coalesce(nv, 0) AS nv
        | FROM ds FULL OUTER JOIN fv ON ds.decile = fv.decile)
        |SELECT CAST(decile AS BIGINT) AS decile,
        | CAST(sum(nd) OVER w AS BIGINT) AS docs_cum,
        | CAST(sum(nt) OVER w AS BIGINT) AS tokens_cum,
        | CAST(sum(nv) OVER w AS BIGINT) AS vocab_cum
        |FROM j WINDOW w AS (ORDER BY decile ROWS UNBOUNDED PRECEDING)
        |ORDER BY decile""".stripMargin,
    // Zipf head: top-50 on the (freq DESC, tok) total order
    "q_zipf_ranks" ->
      """WITH toks AS (
        | SELECT unnest(string_split_regex(lower(trim(text)), '\s+'))
        |   AS tok
        | FROM documents),
        |f AS (
        | SELECT tok, CAST(count(*) AS BIGINT) AS freq
        | FROM toks GROUP BY tok
        | ORDER BY freq DESC, tok LIMIT 50)
        |SELECT CAST(row_number() OVER
        |  (ORDER BY freq DESC, tok) AS BIGINT) AS rank,
        | tok, freq,
        | CAST(row_number() OVER (ORDER BY freq DESC, tok) * freq
        |   AS BIGINT) AS rank_x_freq
        |FROM f ORDER BY rank""".stripMargin,
    // hapax profile: per-source and corpus-wide frequency-one tokens
    "q_hapax_share" ->
      """WITH st AS (
        | SELECT source, tok, CAST(count(*) AS BIGINT) AS n_st
        | FROM (SELECT source,
        |   unnest(string_split_regex(lower(trim(text)), '\s+')) AS tok
        |  FROM documents)
        | GROUP BY 1, 2),
        |g AS (
        | SELECT tok, CAST(sum(n_st) AS BIGINT) AS n_g
        | FROM st GROUP BY tok)
        |SELECT source, CAST(count(*) AS BIGINT) AS vocab,
        | CAST(sum(CASE WHEN n_st = 1 THEN 1 ELSE 0 END) AS BIGINT)
        |   AS hapax_local,
        | CAST(sum(CASE WHEN n_g = 1 THEN 1 ELSE 0 END) AS BIGINT)
        |   AS hapax_global,
        | CAST(sum(n_st) AS BIGINT) AS n_tokens,
        | CASE WHEN count(*) > 0 THEN
        |  round(CAST(sum(CASE WHEN n_st = 1 THEN 1 ELSE 0 END)
        |    AS DOUBLE) / count(*), 6) END AS hapax_share
        |FROM st JOIN g USING (tok)
        |GROUP BY source ORDER BY source""".stripMargin,
    // CUBE lattice with GROUPING bitmask (same bit order both engines)
    "q_cube" ->
      """SELECT o_orderstatus, o_orderpriority,
        | CAST(GROUPING(o_orderstatus, o_orderpriority) AS BIGINT)
        |   AS gid,
        | round(sum(o_totalprice), 2) AS total_price,
        | count(*) AS n_orders
        |FROM orders GROUP BY CUBE (o_orderstatus, o_orderpriority)
        |ORDER BY gid, o_orderstatus ASC NULLS FIRST,
        | o_orderpriority ASC NULLS FIRST""".stripMargin,
    // additive weekday decomposition: cleared /7 keeps d7 and the
    // weekday numerators in BIGINT; one closing division
    "q_seasonal_decomp" ->
      """WITH daily AS (
        | SELECT date_trunc('day', o_orderdate) AS day,
        |  CAST(count(*) AS BIGINT) AS n
        | FROM orders GROUP BY 1),
        |spine AS (
        | SELECT unnest(generate_series(min(day), max(day),
        |   INTERVAL 1 DAY)) AS day FROM daily),
        |ser AS (
        | SELECT spine.day, coalesce(daily.n, 0) AS x
        | FROM spine LEFT JOIN daily USING (day)),
        |w AS (
        | SELECT day, x,
        |  CAST(sum(x) OVER (ORDER BY day
        |    ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING) AS BIGINT)
        |    AS win_sum,
        |  count(*) OVER (ORDER BY day
        |    ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING) AS win_n
        | FROM ser)
        |SELECT CAST(date_part('dow', day) + 1 AS BIGINT) AS dow,
        | CAST(count(*) AS BIGINT) AS n_days,
        | CAST(sum(7 * x - win_sum) AS BIGINT) AS s7_num,
        | round(CAST(sum(7 * x - win_sum) AS DOUBLE) /
        |   (7 * count(*)), 6) AS seasonal
        |FROM w WHERE win_n = 7 GROUP BY 1 ORDER BY dow""".stripMargin,
    // Count-Min Sketch audit: md5-hex buckets (no hex->int needed),
    // integer counters, one-sided error visible in overcount
    "q_cms_tokens" ->
      """WITH toks AS (
        | SELECT unnest(string_split_regex(lower(trim(text)), '\s+'))
        |   AS tok
        | FROM documents),
        |js AS (SELECT unnest(range(0, 4)) AS j),
        |h AS (
        | SELECT tok, j,
        |  substr(md5(CAST(j AS VARCHAR) || ':' || tok), 1, 2) AS b
        | FROM toks CROSS JOIN js),
        |counters AS (
        | SELECT j, b, CAST(count(*) AS BIGINT) AS c
        | FROM h GROUP BY j, b),
        |top AS (
        | SELECT tok, CAST(count(*) AS BIGINT) AS true_n
        | FROM toks GROUP BY tok
        | ORDER BY true_n DESC, tok LIMIT 30)
        |SELECT t.tok, t.true_n,
        | CAST(min(c.c) AS BIGINT) AS cms_est,
        | CAST(min(c.c) - t.true_n AS BIGINT) AS overcount
        |FROM top t CROSS JOIN js
        |JOIN counters c ON c.j = js.j
        | AND c.b = substr(md5(CAST(js.j AS VARCHAR) || ':' || t.tok), 1, 2)
        |GROUP BY t.tok, t.true_n
        |ORDER BY true_n DESC, tok""".stripMargin,
    // Church-Gale burstiness: cleared var/mean, HUGEINT-exact
    // numerator (DECIMAL(38,0) on the Spark side), fixed double tree
    "q_token_burstiness" ->
      """WITH tf AS (
        | SELECT doc_id, tok, CAST(count(*) AS BIGINT) AS tf
        | FROM (SELECT doc_id,
        |   unnest(string_split_regex(lower(trim(text)), '\s+')) AS tok
        |  FROM documents)
        | GROUP BY 1, 2),
        |m AS (
        | SELECT tok, CAST(count(*) AS BIGINT) AS df,
        |  CAST(sum(tf) AS BIGINT) AS tf_total,
        |  sum(CAST(tf AS HUGEINT) * tf) AS tf_sq
        | FROM tf GROUP BY tok HAVING count(*) >= 5),
        |n AS (SELECT CAST(count(*) AS BIGINT) AS n_corpus FROM documents)
        |SELECT tok, df, tf_total,
        | CASE WHEN tf_total > 0 THEN
        |  round(CAST(n_corpus * tf_sq
        |    - CAST(tf_total AS HUGEINT) * tf_total AS DOUBLE) /
        |   (CAST(n_corpus AS DOUBLE) * CAST(tf_total AS DOUBLE)), 6)
        | END AS burstiness
        |FROM m CROSS JOIN n
        |ORDER BY burstiness DESC, tok LIMIT 40""".stripMargin,
    // n-gram novelty: first-carrier share per doc, same gram stream
    // as q_dup_spans
    "q_ngram_novelty" ->
      """WITH t AS (
        | SELECT doc_id,
        |   string_split(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ') AS toks
        | FROM documents),
        |g AS (
        | SELECT DISTINCT doc_id, array_to_string(toks[i:(i+7)], ' ') AS gram
        | FROM t, LATERAL (SELECT unnest(generate_series(1, len(toks) - 7)) AS i)
        | WHERE len(toks) >= 8),
        |fc AS (SELECT gram, min(doc_id) AS fid FROM g GROUP BY gram)
        |SELECT g.doc_id, CAST(count(*) AS BIGINT) AS n_grams,
        | CAST(sum(CASE WHEN fc.fid = g.doc_id THEN 1 ELSE 0 END)
        |   AS BIGINT) AS n_novel,
        | round(CAST(sum(CASE WHEN fc.fid = g.doc_id THEN 1 ELSE 0 END)
        |   AS DOUBLE) / count(*), 6) AS novelty
        |FROM g JOIN fc USING (gram)
        |GROUP BY g.doc_id ORDER BY g.doc_id""".stripMargin,
    // Good-Turing: count-of-counts + cleared (r+1)*N_{r+1}/N_r over
    // the 20 LOWEST r values (rank cap; window reads 21 so the
    // N_{r+1} lookup is lossless at the window edge)
    "q_good_turing" ->
      """WITH c AS (
        | SELECT tok, CAST(count(*) AS BIGINT) AS r
        | FROM (SELECT unnest(string_split_regex(lower(trim(text)), '\s+')) AS tok
        |  FROM documents)
        | GROUP BY tok),
        |fof AS (
        | SELECT r, CAST(count(*) AS BIGINT) AS n_r
        | FROM c GROUP BY r ORDER BY r LIMIT 21)
        |SELECT f.r, f.n_r,
        | CAST((f.r + 1) * COALESCE(f2.n_r, 0) AS BIGINT) AS gt_num,
        | f.n_r AS gt_den,
        | round(CAST((f.r + 1) * COALESCE(f2.n_r, 0) AS DOUBLE) / f.n_r, 6)
        |   AS gt_rstar
        |FROM fof f LEFT JOIN fof f2 ON f2.r = f.r + 1
        |ORDER BY f.r LIMIT 20""".stripMargin,
    // Chao1 bias-corrected richness per source, cleared num/den
    "q_chao1" ->
      """WITH st AS (
        | SELECT source, tok, CAST(count(*) AS BIGINT) AS n_st
        | FROM (SELECT source,
        |   unnest(string_split_regex(lower(trim(text)), '\s+')) AS tok
        |  FROM documents)
        | GROUP BY 1, 2),
        |m AS (
        | SELECT source, CAST(count(*) AS BIGINT) AS vocab,
        |  CAST(sum(CASE WHEN n_st = 1 THEN 1 ELSE 0 END) AS BIGINT) AS f1,
        |  CAST(sum(CASE WHEN n_st = 2 THEN 1 ELSE 0 END) AS BIGINT) AS f2
        | FROM st GROUP BY source)
        |SELECT source, vocab, f1, f2,
        | round(CAST(vocab AS DOUBLE) +
        |   CAST(CAST(f1 AS HUGEINT) * (f1 - 1) AS DOUBLE)
        |   / CAST(2 * (f2 + 1) AS DOUBLE), 6) AS chao1
        |FROM m ORDER BY source""".stripMargin,
    // pairwise vocabulary Jaccard, integer inter/union
    "q_vocab_overlap" ->
      """WITH st AS (
        | SELECT DISTINCT source, tok
        | FROM (SELECT source,
        |   unnest(string_split_regex(lower(trim(text)), '\s+')) AS tok
        |  FROM documents)),
        |sz AS (SELECT source, CAST(count(*) AS BIGINT) AS v
        | FROM st GROUP BY source),
        |i AS (
        | SELECT a.source AS source_a, b.source AS source_b,
        |  CAST(count(*) AS BIGINT) AS inter
        | FROM st a JOIN st b ON a.tok = b.tok AND a.source < b.source
        | GROUP BY 1, 2)
        |SELECT i.source_a, i.source_b, sa.v AS vocab_a, sb.v AS vocab_b,
        | i.inter, CAST(sa.v + sb.v - i.inter AS BIGINT) AS uni,
        | round(CAST(i.inter AS DOUBLE) / (sa.v + sb.v - i.inter), 6)
        |   AS jaccard
        |FROM i JOIN sz sa ON sa.source = i.source_a
        |JOIN sz sb ON sb.source = i.source_b
        |ORDER BY i.source_a, i.source_b""".stripMargin,
    // Gini-Simpson + inverse-Simpson: HUGEINT-exact moments
    // (DECIMAL(38,0) on the Spark side), fixed double trees
    "q_simpson_diversity" ->
      """WITH st AS (
        | SELECT source, tok, CAST(count(*) AS BIGINT) AS c
        | FROM (SELECT source,
        |   unnest(string_split_regex(lower(trim(text)), '\s+')) AS tok
        |  FROM documents)
        | GROUP BY 1, 2),
        |m AS (
        | SELECT source, CAST(count(*) AS BIGINT) AS vocab,
        |  CAST(sum(c) AS BIGINT) AS tokens,
        |  sum(CAST(c AS HUGEINT) * c) AS s2,
        |  CAST(sum(c) AS HUGEINT) * CAST(sum(c) AS BIGINT) AS t2
        | FROM st GROUP BY source)
        |SELECT source, vocab, tokens,
        | round(CAST(t2 - s2 AS DOUBLE) / CAST(t2 AS DOUBLE), 6)
        |   AS simpson,
        | round(CAST(t2 AS DOUBLE) / CAST(s2 AS DOUBLE), 6) AS eff_vocab
        |FROM m ORDER BY source""".stripMargin,
    // pairwise total-variation distance, inclusion-exclusion union
    "q_unigram_tv_drift" ->
      """WITH st AS (
        | SELECT source, tok, CAST(count(*) AS BIGINT) AS c
        | FROM (SELECT source,
        |   unnest(string_split_regex(lower(trim(text)), '\s+')) AS tok
        |  FROM documents)
        | GROUP BY 1, 2),
        |tot AS (SELECT source, CAST(sum(c) AS BIGINT) AS t
        | FROM st GROUP BY source),
        |stt AS (SELECT st.source, st.tok, st.c, tot.t
        | FROM st JOIN tot USING (source)),
        |inner_agg AS (
        | SELECT a.source AS source_a, b.source AS source_b,
        |  CAST(sum(abs(a.c * b.t - b.c * a.t)) AS BIGINT) AS m,
        |  CAST(sum(a.c) AS BIGINT) AS sa, CAST(sum(b.c) AS BIGINT) AS sb
        | FROM stt a JOIN stt b ON a.tok = b.tok AND a.source < b.source
        | GROUP BY 1, 2),
        |pairs AS (
        | SELECT a.source AS source_a, b.source AS source_b,
        |  a.t AS t_a, b.t AS t_b
        | FROM tot a JOIN tot b ON a.source < b.source)
        |SELECT p.source_a, p.source_b, p.t_a, p.t_b,
        | CAST(COALESCE(i.m, 0) + (p.t_a - COALESCE(i.sa, 0)) * p.t_b
        |   + (p.t_b - COALESCE(i.sb, 0)) * p.t_a AS BIGINT) AS tv_num,
        | CAST(2 * p.t_a * p.t_b AS BIGINT) AS tv_den,
        | round(CAST(COALESCE(i.m, 0) + (p.t_a - COALESCE(i.sa, 0)) * p.t_b
        |   + (p.t_b - COALESCE(i.sb, 0)) * p.t_a AS DOUBLE)
        |   / (2 * p.t_a * p.t_b), 6) AS tv
        |FROM pairs p LEFT JOIN inner_agg i USING (source_a, source_b)
        |ORDER BY p.source_a, p.source_b""".stripMargin,
    // sqrt-temperature (alpha=1/2) source budgets, largest remainder
    "q_temperature_mix" ->
      """WITH c AS (
        | SELECT source,
        |  CAST(sum(len(string_split_regex(lower(trim(text)), '\s+')))
        |   AS BIGINT) AS n_tok
        | FROM documents GROUP BY source),
        |w AS (
        | SELECT source, n_tok,
        |  CAST(floor(sqrt(CAST(n_tok AS DOUBLE)) * 1048576.0) AS BIGINT)
        |   AS weight
        | FROM c),
        |s AS (SELECT CAST(sum(weight) AS BIGINT) AS wsum FROM w),
        |b AS (
        | SELECT source, n_tok, weight,
        |  CAST((1000000 * weight) // wsum AS BIGINT) AS base,
        |  CAST((1000000 * weight) % wsum AS BIGINT) AS rem
        | FROM w, s),
        |d AS (SELECT CAST(1000000 - sum(base) AS BIGINT) AS deficit FROM b),
        |r AS (
        | SELECT b.*, d.deficit,
        |  row_number() OVER (ORDER BY rem DESC, source) AS rnk
        | FROM b, d)
        |SELECT source, n_tok, weight, base, rem,
        | CAST(base + (CASE WHEN rnk <= deficit THEN 1 ELSE 0 END)
        |   AS BIGINT) AS alloc,
        | round(CAST(base + (CASE WHEN rnk <= deficit THEN 1 ELSE 0 END)
        |   AS DOUBLE) / 1000000, 6) AS share
        |FROM r ORDER BY source""".stripMargin,
    // chi-square keyness: top-5 over-represented tokens per source,
    // fixed left-associated double tree over exact BIGINT margins
    "q_keyness" ->
      """WITH st AS (
        | SELECT source, tok, CAST(count(*) AS BIGINT) AS a
        | FROM (SELECT source,
        |   unnest(string_split_regex(lower(trim(text)), '\s+')) AS tok
        |  FROM documents)
        | GROUP BY 1, 2),
        |ct AS (SELECT tok, CAST(sum(a) AS BIGINT) AS c_t
        | FROM st GROUP BY tok),
        |ts AS (SELECT source, CAST(sum(a) AS BIGINT) AS t_s
        | FROM st GROUP BY source),
        |tt AS (SELECT CAST(sum(t_s) AS BIGINT) AS t_all FROM ts),
        |scored AS (
        | SELECT st.source, st.tok, st.a, ct.c_t, ts.t_s,
        |  CAST(st.a * (tt.t_all - ts.t_s - ct.c_t + st.a)
        |   - (ts.t_s - st.a) * (ct.c_t - st.a) AS BIGINT) AS z,
        |  round(CAST(tt.t_all AS DOUBLE) * (st.a * (tt.t_all - ts.t_s
        |    - ct.c_t + st.a) - (ts.t_s - st.a) * (ct.c_t - st.a))
        |   / ts.t_s * (st.a * (tt.t_all - ts.t_s - ct.c_t + st.a)
        |    - (ts.t_s - st.a) * (ct.c_t - st.a))
        |   / (tt.t_all - ts.t_s) / ct.c_t / (tt.t_all - ct.c_t), 6)
        |   AS chi2
        | FROM st JOIN ct USING (tok) JOIN ts USING (source), tt
        | WHERE st.a * (tt.t_all - ts.t_s - ct.c_t + st.a)
        |    - (ts.t_s - st.a) * (ct.c_t - st.a) > 0
        |  AND tt.t_all > ts.t_s AND tt.t_all > ct.c_t),
        |ranked AS (
        | SELECT *, row_number() OVER (
        |   PARTITION BY source ORDER BY chi2 DESC, tok) AS rnk
        | FROM scored)
        |SELECT source, tok, a, c_t, t_s, z, CAST(rnk AS INT) AS rnk, chi2
        |FROM ranked WHERE rnk <= 5 ORDER BY source, rnk""".stripMargin,
    // Fellegi-Sunter likelihood ratio as a cleared BIGINT fraction
    // over the naive-quadratic candidate generation (the engine side
    // uses lossless deletion blocking - same pair set by construction)
    "q_fs_linkage" ->
      """WITH cand AS (
        | SELECT a.c_custkey AS key_a, b.c_custkey AS key_b,
        |  CAST(levenshtein(a.c_name, b.c_name) AS BIGINT) AS edit_distance,
        |  CAST(a.c_nationkey AS BIGINT) AS nat_a,
        |  CAST(b.c_nationkey AS BIGINT) AS nat_b,
        |  a.c_mktsegment AS seg_a, b.c_mktsegment AS seg_b,
        |  (CAST(round(a.c_acctbal * 100) AS BIGINT) + 100000000) // 100000
        |    AS bal_a,
        |  (CAST(round(b.c_acctbal * 100) AS BIGINT) + 100000000) // 100000
        |    AS bal_b
        | FROM customer a JOIN customer b
        |  ON a.c_custkey < b.c_custkey
        |  AND abs(length(a.c_name) - length(b.c_name)) <= 1
        | WHERE levenshtein(a.c_name, b.c_name) <= 1),
        |f AS (
        | SELECT key_a, key_b, edit_distance,
        |  CASE WHEN edit_distance = 0 THEN 1 ELSE 0 END AS agree_name,
        |  CASE WHEN nat_a = nat_b THEN 1 ELSE 0 END AS agree_nation,
        |  CASE WHEN seg_a = seg_b THEN 1 ELSE 0 END AS agree_segment,
        |  CASE WHEN bal_a = bal_b THEN 1 ELSE 0 END AS agree_bal
        | FROM cand),
        |g AS (
        | SELECT *,
        |  CAST((CASE WHEN agree_name = 1 THEN 9 ELSE 1 END)
        |   * (CASE WHEN agree_nation = 1 THEN 24 ELSE 1 END)
        |   * (CASE WHEN agree_segment = 1 THEN 4 ELSE 1 END)
        |   * (CASE WHEN agree_bal = 1 THEN 19 ELSE 1 END) AS BIGINT)
        |    AS fs_num,
        |  CAST((CASE WHEN agree_name = 1 THEN 1 ELSE 9 END)
        |   * (CASE WHEN agree_nation = 1 THEN 1 ELSE 24 END)
        |   * (CASE WHEN agree_segment = 1 THEN 1 ELSE 4 END)
        |   * (CASE WHEN agree_bal = 1 THEN 1 ELSE 19 END) AS BIGINT)
        |    AS fs_den
        | FROM f)
        |SELECT key_a, key_b, edit_distance, agree_name, agree_nation,
        | agree_segment, agree_bal, fs_num, fs_den,
        | round(CAST(fs_num AS DOUBLE) / fs_den, 6) AS fs_score,
        | CASE WHEN fs_num >= 100 * fs_den THEN 1 ELSE 0 END AS is_match
        |FROM g ORDER BY key_a, key_b""".stripMargin,
    // Newman-Girvan modularity of the nation partition on the tau=1
    // name-linkage graph, denominators cleared to 4m^2
    "q_modularity" ->
      """WITH e AS (
        | SELECT a.c_custkey AS key_a, b.c_custkey AS key_b,
        |  CAST(a.c_nationkey AS BIGINT) AS nat_a,
        |  CAST(b.c_nationkey AS BIGINT) AS nat_b
        | FROM customer a JOIN customer b
        |  ON a.c_custkey < b.c_custkey
        |  AND abs(length(a.c_name) - length(b.c_name)) <= 1
        | WHERE levenshtein(a.c_name, b.c_name) <= 1),
        |m AS (SELECT CAST(count(*) AS BIGINT) AS m_edges FROM e),
        |deg AS (
        | SELECT nation, CAST(count(*) AS BIGINT) AS deg FROM (
        |  SELECT key_a AS k, nat_a AS nation FROM e
        |  UNION ALL SELECT key_b, nat_b FROM e)
        | GROUP BY nation),
        |ein AS (
        | SELECT nat_a AS nation, CAST(count(*) AS BIGINT) AS e_in
        | FROM e WHERE nat_a = nat_b GROUP BY nat_a)
        |SELECT d.nation, COALESCE(ein.e_in, 0) AS e_in,
        | d.deg AS d_sum, m.m_edges,
        | CAST(4 * m.m_edges * COALESCE(ein.e_in, 0) - d.deg * d.deg
        |   AS BIGINT) AS q_num,
        | CAST(4 * m.m_edges * m.m_edges AS BIGINT) AS q_den,
        | round(CAST(4 * m.m_edges * COALESCE(ein.e_in, 0) - d.deg * d.deg
        |   AS DOUBLE) / (4 * m.m_edges * m.m_edges), 6) AS q_part
        |FROM deg d LEFT JOIN ein USING (nation), m
        |ORDER BY d.nation""".stripMargin,
    // Newman degree assortativity, /2M moments cleared - no sqrt
    "q_assortativity" ->
      """WITH e AS (
        | SELECT a.c_custkey AS key_a, b.c_custkey AS key_b
        | FROM customer a JOIN customer b
        |  ON a.c_custkey < b.c_custkey
        |  AND abs(length(a.c_name) - length(b.c_name)) <= 1
        | WHERE levenshtein(a.c_name, b.c_name) <= 1),
        |deg AS (
        | SELECT k, CAST(count(*) AS BIGINT) AS deg FROM (
        |  SELECT key_a AS k FROM e UNION ALL SELECT key_b FROM e)
        | GROUP BY k),
        |s AS (
        | SELECT CAST(count(*) AS BIGINT) AS m_edges,
        |  CAST(sum(da.deg + db.deg) AS BIGINT) AS s1,
        |  CAST(sum(da.deg * da.deg + db.deg * db.deg) AS BIGINT) AS s2,
        |  CAST(sum(da.deg * db.deg) AS BIGINT) AS s3
        | FROM e JOIN deg da ON da.k = e.key_a
        |  JOIN deg db ON db.k = e.key_b)
        |SELECT m_edges, s1, s2, s3,
        | CAST(4 * m_edges * s3 - s1 * s1 AS BIGINT) AS r_num,
        | CAST(2 * m_edges * s2 - s1 * s1 AS BIGINT) AS r_den,
        | CASE WHEN 2 * m_edges * s2 - s1 * s1 <> 0 THEN
        |  round(CAST(4 * m_edges * s3 - s1 * s1 AS DOUBLE)
        |   / (2 * m_edges * s2 - s1 * s1), 6) END AS assortativity
        |FROM s""".stripMargin,
    // global keep-first exact dedup, savings attributed to the source
    // that contributed each dropped copy
    "q_dedup_savings" ->
      """WITH d AS (
        | SELECT doc_id, source,
        |  md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS h,
        |  CAST(len(string_split_regex(lower(trim(text)), '\s+'))
        |   AS BIGINT) AS ntok
        | FROM documents),
        |keep AS (SELECT h, min(doc_id) AS keep_id FROM d GROUP BY h)
        |SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
        | CAST(sum(CASE WHEN doc_id <> keep_id THEN 1 ELSE 0 END)
        |   AS BIGINT) AS dup_docs,
        | CAST(sum(ntok) AS BIGINT) AS tokens_total,
        | CAST(sum(CASE WHEN doc_id <> keep_id THEN ntok ELSE 0 END)
        |   AS BIGINT) AS tokens_dropped,
        | round(CAST(sum(CASE WHEN doc_id <> keep_id THEN ntok ELSE 0 END)
        |   AS DOUBLE) / sum(ntok), 6) AS savings_share
        |FROM d JOIN keep USING (h)
        |GROUP BY source ORDER BY source""".stripMargin,
    // class-imbalance report over the embedding labels
    "q_label_balance" ->
      """WITH c AS (
        | SELECT CAST(label AS BIGINT) AS label,
        |  CAST(count(*) AS BIGINT) AS n
        | FROM embeddings GROUP BY 1),
        |t AS (SELECT CAST(sum(n) AS BIGINT) AS total,
        | CAST(max(n) AS BIGINT) AS n_max FROM c)
        |SELECT label, n, total,
        | round(CAST(n AS DOUBLE) / total, 6) AS share,
        | round(CAST(n AS DOUBLE) / n_max, 6) AS ratio_to_max
        |FROM c, t ORDER BY label""".stripMargin,
    // equi-width length bins off the (min,max) scalar - identical
    // integer binning tree both engines, zeros materialized, per-cell
    // chi-square contribution. The gap forms EXACTLY (HUGEINT here,
    // DECIMAL(38,0) on the Spark side) and the contribution closes in
    // DOUBLE over the identical fixed tree: cast(gap), gap*gap,
    // /(n_all*n_s*b_t) - every step correctly rounded IEEE, so the
    // engines are bit-equal at any corpus size (no BIGINT ceiling).
    "q_length_drift" ->
      """WITH d AS (
        | SELECT source, CAST(n_chars AS BIGINT) AS n FROM documents),
        |mm AS (SELECT CAST(min(n) AS BIGINT) AS lo,
        |  CAST(max(n) AS BIGINT) AS hi,
        |  CAST(count(*) AS BIGINT) AS n_all FROM d),
        |obs AS (SELECT source, ((n - lo) * 10) // (hi - lo + 1) AS bin,
        |  CAST(count(*) AS BIGINT) AS o
        | FROM d, mm GROUP BY 1, 2),
        |bt AS (SELECT bin, CAST(sum(o) AS BIGINT) AS b_t
        | FROM obs GROUP BY bin),
        |st AS (SELECT source, CAST(sum(o) AS BIGINT) AS n_s
        | FROM obs GROUP BY source),
        |g AS (
        | SELECT st.source, bt.bin, COALESCE(obs.o, 0) AS o, st.n_s,
        |  bt.b_t, mm.n_all,
        |  CAST(CAST(COALESCE(obs.o, 0) AS HUGEINT) * mm.n_all
        |   - CAST(st.n_s AS HUGEINT) * bt.b_t AS DOUBLE) AS gap_d
        | FROM st CROSS JOIN bt
        | LEFT JOIN obs ON obs.source = st.source AND obs.bin = bt.bin
        | CROSS JOIN mm)
        |SELECT source, bin, o, n_s, b_t, n_all,
        | round((gap_d * gap_d) / (CAST(n_all AS DOUBLE)
        |  * CAST(n_s AS DOUBLE) * CAST(b_t AS DOUBLE)), 6) AS contrib
        |FROM g ORDER BY source, bin""".stripMargin,
    // language-ID confusion cells: the q_lang_id prediction logic
    // rolled up per (label, pred) with the true-class share
    "q_lang_confusion" ->
      """WITH t AS (SELECT lang AS lang_label,
        |  CAST(len(regexp_extract_all(text, '(?i)\bthe\b')) + len(regexp_extract_all(text, '(?i)\band\b'))
        |   + len(regexp_extract_all(text, '(?i)\bof\b')) + len(regexp_extract_all(text, '(?i)\bis\b')) AS BIGINT) AS s_en,
        |  CAST(len(regexp_extract_all(text, '(?i)\bel\b')) + len(regexp_extract_all(text, '(?i)\bla\b'))
        |   + len(regexp_extract_all(text, '(?i)\blos\b')) + len(regexp_extract_all(text, '(?i)\bque\b'))
        |   + len(regexp_extract_all(text, '(?i)\by\b')) AS BIGINT) AS s_es,
        |  CAST(len(regexp_extract_all(text, '(?i)\bder\b')) + len(regexp_extract_all(text, '(?i)\bdie\b'))
        |   + len(regexp_extract_all(text, '(?i)\bdas\b')) + len(regexp_extract_all(text, '(?i)\bund\b'))
        |   + len(regexp_extract_all(text, '(?i)\bist\b')) AS BIGINT) AS s_de,
        |  CAST(len(regexp_extract_all(text, '(?i)\ble\b')) + len(regexp_extract_all(text, '(?i)\bles\b'))
        |   + len(regexp_extract_all(text, '(?i)\bdes\b')) + len(regexp_extract_all(text, '(?i)\best\b'))
        |   + len(regexp_extract_all(text, '(?i)\bet\b')) AS BIGINT) AS s_fr,
        |  CAST(len(regexp_extract_all(text, '[\x{4e00}-\x{9fff}]')) AS BIGINT) AS s_zh
        | FROM documents),
        |p AS (SELECT lang_label,
        | CASE WHEN s_zh > 0 THEN 'zh'
        |  WHEN greatest(s_en, s_es, s_de, s_fr) = 0 THEN 'und'
        |  WHEN s_en = greatest(s_en, s_es, s_de, s_fr) THEN 'en'
        |  WHEN s_es = greatest(s_en, s_es, s_de, s_fr) THEN 'es'
        |  WHEN s_de = greatest(s_en, s_es, s_de, s_fr) THEN 'de'
        |  ELSE 'fr' END AS lang_pred
        | FROM t),
        |c AS (SELECT lang_label, lang_pred, CAST(count(*) AS BIGINT) AS n
        | FROM p GROUP BY 1, 2),
        |tot AS (SELECT lang_label, CAST(sum(n) AS BIGINT) AS n_label
        | FROM c GROUP BY lang_label)
        |SELECT c.lang_label, c.lang_pred, c.n, tot.n_label,
        | round(CAST(c.n AS DOUBLE) / tot.n_label, 6) AS share
        |FROM c JOIN tot USING (lang_label)
        |ORDER BY c.lang_label, c.lang_pred""".stripMargin,
    // per-source PII hit density per 10k tokens
    "q_pii_density" ->
      """WITH d AS (
        | SELECT source,
        |  CAST(len(regexp_extract_all(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS BIGINT) AS e,
        |  CAST(len(regexp_extract_all(text, '\+?[0-9][0-9() .-]{7,}[0-9]')) AS BIGINT) AS p,
        |  CAST(len(regexp_extract_all(text, '[0-9]{9,}')) AS BIGINT) AS i,
        |  CAST(len(string_split_regex(lower(trim(text)), '\s+')) AS BIGINT) AS t
        | FROM documents)
        |SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
        | CAST(sum(t) AS BIGINT) AS n_tokens,
        | CAST(sum(e) AS BIGINT) AS n_emails,
        | CAST(sum(p) AS BIGINT) AS n_phones,
        | CAST(sum(i) AS BIGINT) AS n_idruns,
        | CASE WHEN sum(t) > 0 THEN
        |  round(CAST(10000 * (sum(e) + sum(p) + sum(i)) AS DOUBLE)
        |   / sum(t), 6) END AS pii_per_10k
        |FROM d GROUP BY source ORDER BY source""".stripMargin,
    // per-source tokenizer fertility constants
    "q_fertility" ->
      """WITH d AS (
        | SELECT source,
        |  CAST(len(string_split_regex(lower(trim(text)), '\s+')) AS BIGINT) AS t,
        |  CAST(length(text) AS BIGINT) AS c
        | FROM documents)
        |SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
        | CAST(sum(t) AS BIGINT) AS n_tokens,
        | CAST(sum(c) AS BIGINT) AS n_chars,
        | CASE WHEN sum(t) > 0 THEN
        |  round(CAST(sum(c) AS DOUBLE) / sum(t), 6) END AS chars_per_token,
        | round(CAST(sum(t) AS DOUBLE) / count(*), 6) AS tokens_per_doc
        |FROM d GROUP BY source ORDER BY source""".stripMargin,
    // md5-minhash estimate vs exact shingle Jaccard on the md5 panel —
    // the sketch itself is bit-reproducible (md5), so the whole
    // accuracy audit faces the exact oracle
    "q_minhash_est_audit" ->
      """WITH panel AS (
        | SELECT doc_id FROM documents
        | ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id LIMIT 40),
        |t AS (
        | SELECT doc_id, string_split(
        |   regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ') AS toks
        | FROM documents WHERE doc_id IN (SELECT doc_id FROM panel)),
        |s AS (
        | SELECT doc_id,
        |  list_distinct(list_transform(generate_series(1, len(toks) - 2),
        |    i -> array_to_string(toks[i:(i+2)], ' '))) AS st
        | FROM t WHERE len(toks) >= 3),
        |sh AS (SELECT doc_id, unnest(st) AS g FROM s),
        |ps AS (SELECT unnest(generate_series(0, 15)) AS p),
        |sig AS (
        | SELECT sh.doc_id, ps.p,
        |  min(md5(CAST(ps.p AS VARCHAR) || ':' || sh.g)) AS mh
        | FROM sh CROSS JOIN ps GROUP BY sh.doc_id, ps.p),
        |m AS (
        | SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |  CAST(sum(CASE WHEN a.mh = b.mh THEN 1 ELSE 0 END) AS BIGINT)
        |    AS est_matches
        | FROM sig a JOIN sig b ON a.p = b.p AND a.doc_id < b.doc_id
        | GROUP BY 1, 2),
        |ex AS (
        | SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |  CAST(len(list_intersect(a.st, b.st)) AS BIGINT) AS inter,
        |  CAST(len(a.st) + len(b.st) - len(list_intersect(a.st, b.st))
        |    AS BIGINT) AS uni
        | FROM s a JOIN s b ON a.doc_id < b.doc_id)
        |SELECT m.doc_a, m.doc_b, CAST(16 AS BIGINT) AS k, m.est_matches,
        | ex.inter, ex.uni,
        | round(CAST(m.est_matches AS DOUBLE) / 16, 6) AS est_j,
        | round(CAST(ex.inter AS DOUBLE) / ex.uni, 6) AS exact_j
        |FROM m JOIN ex ON m.doc_a = ex.doc_a AND m.doc_b = ex.doc_b
        |ORDER BY m.doc_a, m.doc_b""".stripMargin,
    // per-source encoding-artifact screen (counts + one fixed division)
    "q_mojibake" ->
      """WITH d AS (
        | SELECT source, CAST(length(text) AS BIGINT) AS c,
        |  CAST(len(regexp_extract_all(text, '\x{fffd}')) AS BIGINT) AS r,
        |  CAST(len(regexp_extract_all(text,
        |    '[\x00-\x08\x0B\x0C\x0E-\x1F]')) AS BIGINT) AS k,
        |  CAST(len(regexp_extract_all(text,
        |    '\x{00c3}[\x{0080}-\x{00ff}]|\x{00e2}\x{20ac}|\x{00c2}[\x{00a0}-\x{00bf}]'))
        |    AS BIGINT) AS m,
        |  CAST(len(regexp_extract_all(text, '[^\x00-\x7F]')) AS BIGINT) AS na
        | FROM documents)
        |SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
        | CAST(sum(c) AS BIGINT) AS n_chars,
        | CAST(sum(r) AS BIGINT) AS n_replacement,
        | CAST(sum(k) AS BIGINT) AS n_control,
        | CAST(sum(m) AS BIGINT) AS n_mojibake,
        | CAST(sum(na) AS BIGINT) AS n_nonascii,
        | CASE WHEN sum(c) > 0 THEN
        |  round(CAST(10000 * (sum(r) + sum(k) + sum(m)) AS DOUBLE)
        |   / sum(c), 6) END AS bad_per_10k
        |FROM d GROUP BY source ORDER BY source""".stripMargin,
    // per-source sentence segmentation stats
    "q_sentence_stats" ->
      """WITH d AS (
        | SELECT source,
        |  CAST(len(list_filter(string_split_regex(text, '[.!?]+'),
        |    x -> trim(x) <> '')) AS BIGINT) AS s,
        |  CAST(len(string_split_regex(lower(trim(text)), '\s+'))
        |    AS BIGINT) AS t
        | FROM documents)
        |SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
        | CAST(sum(s) AS BIGINT) AS n_sents,
        | CAST(sum(t) AS BIGINT) AS n_tokens,
        | round(CAST(sum(s) AS DOUBLE) / count(*), 6) AS sents_per_doc,
        | CASE WHEN sum(s) > 0 THEN
        |  round(CAST(sum(t) AS DOUBLE) / sum(s), 6) END AS tokens_per_sent
        |FROM d GROUP BY source ORDER BY source""".stripMargin,
    // per-source Flesch reading ease off exact integer sums
    "q_readability" ->
      """WITH d AS (
        | SELECT source,
        |  CAST(len(list_filter(string_split_regex(text, '[.!?]+'),
        |    x -> trim(x) <> '')) AS BIGINT) AS s,
        |  CAST(len(string_split_regex(lower(trim(text)), '\s+'))
        |    AS BIGINT) AS t,
        |  CAST(len(regexp_extract_all(lower(text), '[aeiouy]+'))
        |    AS BIGINT) AS y
        | FROM documents)
        |SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
        | CAST(sum(s) AS BIGINT) AS n_sents,
        | CAST(sum(t) AS BIGINT) AS n_words,
        | CAST(sum(y) AS BIGINT) AS n_syllables,
        | CASE WHEN sum(s) > 0 THEN
        |  round(CAST(sum(t) AS DOUBLE) / sum(s), 6) END AS words_per_sent,
        | CASE WHEN sum(t) > 0 THEN
        |  round(CAST(sum(y) AS DOUBLE) / sum(t), 6) END AS syll_per_word,
        | CASE WHEN sum(s) > 0 AND sum(t) > 0 THEN
        |  round(206.835 - 1.015 * (CAST(sum(t) AS DOUBLE) / sum(s))
        |   - 84.6 * (CAST(sum(y) AS DOUBLE) / sum(t)), 6) END AS flesch
        |FROM d GROUP BY source ORDER BY source""".stripMargin,
    // distinct uni/bigram overlap P/R/F1 over the md5-top-20 panel
    "q_rouge_pairs" ->
      """WITH panel AS (
        | SELECT doc_id FROM documents
        | ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id LIMIT 20),
        |t AS (
        | SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS toks
        | FROM documents WHERE doc_id IN (SELECT doc_id FROM panel)),
        |g AS (
        | SELECT doc_id, list_distinct(toks) AS g1,
        |  list_distinct(list_transform(generate_series(1, len(toks) - 1),
        |    i -> toks[i] || ' ' || toks[i + 1])) AS g2
        | FROM t),
        |p AS (
        | SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |  a.g1 AS g1a, a.g2 AS g2a, b.g1 AS g1b, b.g2 AS g2b
        | FROM g a JOIN g b ON a.doc_id < b.doc_id),
        |u AS (
        | SELECT doc_a, doc_b, CAST(1 AS BIGINT) AS n,
        |  g1a AS ga, g1b AS gb FROM p
        | UNION ALL
        | SELECT doc_a, doc_b, CAST(2 AS BIGINT) AS n, g2a, g2b FROM p)
        |SELECT doc_a, doc_b, n,
        | CAST(len(list_intersect(ga, gb)) AS BIGINT) AS inter,
        | CAST(len(ga) AS BIGINT) AS sz_a, CAST(len(gb) AS BIGINT) AS sz_b,
        | CASE WHEN len(gb) > 0 THEN
        |  round(CAST(len(list_intersect(ga, gb)) AS DOUBLE) / len(gb), 6)
        |  END AS prec,
        | CASE WHEN len(ga) > 0 THEN
        |  round(CAST(len(list_intersect(ga, gb)) AS DOUBLE) / len(ga), 6)
        |  END AS rec,
        | CASE WHEN len(ga) + len(gb) > 0 THEN
        |  round(CAST(2 * len(list_intersect(ga, gb)) AS DOUBLE)
        |   / (len(ga) + len(gb)), 6) END AS f1
        |FROM u ORDER BY doc_a, doc_b, n""".stripMargin,
    // 15-minute activity windows coalesced into maximal islands
    "q_interval_coalesce" ->
      """WITH e AS (
        | SELECT user_id, event_id, epoch_us(ts) AS s,
        |  epoch_us(ts) + 900000000 AS e
        | FROM events),
        |w AS (
        | SELECT user_id, event_id, s, e,
        |  max(e) OVER (PARTITION BY user_id ORDER BY s, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS mpe
        | FROM e),
        |f AS (
        | SELECT user_id, event_id, s, e,
        |  CASE WHEN mpe IS NULL OR s > mpe THEN 1 ELSE 0 END AS ni
        | FROM w),
        |i AS (
        | SELECT user_id, s, e,
        |  sum(ni) OVER (PARTITION BY user_id ORDER BY s, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island_id
        | FROM f),
        |isl AS (
        | SELECT user_id, island_id, min(s) AS i_start, max(e) AS i_end,
        |  CAST(count(*) AS BIGINT) AS n_ev
        | FROM i GROUP BY user_id, island_id)
        |SELECT user_id, CAST(count(*) AS BIGINT) AS n_islands,
        | CAST(sum(i_end - i_start) AS BIGINT) AS covered_micros,
        | CAST(max(n_ev) AS BIGINT) AS max_island_events
        |FROM isl GROUP BY user_id ORDER BY user_id""".stripMargin,
    // dyadic (alpha = 1/2) EWMA over the dense daily order series
    "q_ewma_smooth" ->
      """WITH daily AS (
        | SELECT date_trunc('day', o_orderdate) AS day,
        |  CAST(count(*) AS BIGINT) AS n
        | FROM orders GROUP BY 1),
        |spine AS (
        | SELECT unnest(generate_series(min(day), max(day),
        |   INTERVAL 1 DAY)) AS day FROM daily),
        |ser AS (
        | SELECT spine.day, coalesce(daily.n, 0) AS x
        | FROM spine LEFT JOIN daily USING (day)),
        |j AS (
        | SELECT t.day, t.x, l.lag, s.x AS y
        | FROM (SELECT unnest(generate_series(0, 31)) AS lag) l
        | CROSS JOIN ser t
        | JOIN ser s ON s.day = t.day - l.lag * INTERVAL 1 DAY)
        |SELECT day, CAST(x AS BIGINT) AS x,
        | CAST(sum(y * (CAST(1 AS BIGINT) << (31 - lag))) AS BIGINT)
        |  AS ewma_num,
        | CAST(sum(CAST(1 AS BIGINT) << (31 - lag)) AS BIGINT) AS ewma_den,
        | round(CAST(sum(y * (CAST(1 AS BIGINT) << (31 - lag))) AS DOUBLE)
        |  / CAST(sum(CAST(1 AS BIGINT) << (31 - lag)) AS BIGINT), 6)
        |  AS ewma
        |FROM j GROUP BY day, x ORDER BY day""".stripMargin,
    // Warner randomized response at p = 1/2 over the observed lang
    // domain, md5-hex coin, integer-cleared unbiased estimator
    "q_rr_debias" ->
      """WITH dims AS (
        | SELECT lang,
        |  CAST(row_number() OVER (ORDER BY lang) - 1 AS BIGINT) AS idx
        | FROM (SELECT DISTINCT lang FROM documents)),
        |kk AS (SELECT CAST(count(*) AS BIGINT) AS k FROM dims),
        |nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM documents),
        |c AS (
        | SELECT d.doc_id, i.idx,
        |  CAST(CAST('0x' || substring(md5(CAST(d.doc_id AS VARCHAR)), 1, 2)
        |    AS INTEGER) AS BIGINT) AS u
        | FROM documents d JOIN dims i USING (lang)),
        |r AS (
        | SELECT idx, u,
        |  (u // 2) % ((SELECT k FROM kk) - 1) AS rr
        | FROM c),
        |rep AS (
        | SELECT CASE WHEN u % 2 = 0 THEN idx
        |   WHEN rr >= idx THEN rr + 1 ELSE rr END AS rep_idx,
        |  CAST(count(*) AS BIGINT) AS n_rep
        | FROM r GROUP BY 1),
        |tru AS (
        | SELECT lang, CAST(count(*) AS BIGINT) AS n_t
        | FROM documents GROUP BY lang)
        |SELECT dims.lang,
        | CAST(coalesce(tru.n_t, 0) AS BIGINT) AS n_true,
        | CAST(coalesce(rep.n_rep, 0) AS BIGINT) AS n_reported,
        | CAST(2 * ((SELECT k FROM kk) - 1) * coalesce(rep.n_rep, 0)
        |  - (SELECT n FROM nn) AS BIGINT) AS est_num,
        | CAST((SELECT k FROM kk) - 2 AS BIGINT) AS est_den,
        | CASE WHEN (SELECT k FROM kk) > 2 THEN
        |  round(CAST(2 * ((SELECT k FROM kk) - 1) * coalesce(rep.n_rep, 0)
        |   - (SELECT n FROM nn) AS DOUBLE)
        |   / ((SELECT k FROM kk) - 2), 6) END AS est
        |FROM dims
        |LEFT JOIN tru USING (lang)
        |LEFT JOIN rep ON rep.rep_idx = dims.idx
        |ORDER BY dims.lang""".stripMargin,
    // per-label centroid cosine vs the global centroid over globally
    // int8-quantized components (BIGINT moments, fixed sqrt/div close)
    "q_label_centroid_drift" ->
      """WITH e AS (
        | SELECT CAST(label AS BIGINT) AS label,
        |  list_transform(embedding, x -> CAST(x AS DOUBLE)) AS vd
        | FROM embeddings),
        |sc AS (
        | SELECT max(list_max(list_transform(vd, x -> abs(x)))) / 127.0 AS s
        | FROM e),
        |px AS (
        | SELECT label, unnest(generate_series(1, len(vd))) AS pos, vd
        | FROM e),
        |q AS (
        | SELECT label, pos,
        |  CASE WHEN (SELECT s FROM sc) > 0 THEN
        |   CAST(floor(vd[pos] / (SELECT s FROM sc) + 0.5) AS BIGINT)
        |   ELSE 0 END AS qv
        | FROM px),
        |ls AS (SELECT label, pos, CAST(sum(qv) AS BIGINT) AS s
        | FROM q GROUP BY 1, 2),
        |gs AS (SELECT pos, CAST(sum(s) AS BIGINT) AS g FROM ls GROUP BY 1),
        |ng AS (SELECT CAST(sum(g * g) AS BIGINT) AS ng2 FROM gs),
        |nv AS (SELECT CAST(label AS BIGINT) AS label,
        |  CAST(count(*) AS BIGINT) AS n_vecs FROM embeddings GROUP BY 1),
        |d AS (
        | SELECT ls.label, CAST(sum(ls.s * gs.g) AS BIGINT) AS dot,
        |  CAST(sum(ls.s * ls.s) AS BIGINT) AS norm2_label
        | FROM ls JOIN gs USING (pos) GROUP BY 1)
        |SELECT d.label, nv.n_vecs, d.dot, d.norm2_label,
        | (SELECT ng2 FROM ng) AS norm2_global,
        | CASE WHEN d.norm2_label > 0 AND (SELECT ng2 FROM ng) > 0 THEN
        |  round(CAST(d.dot AS DOUBLE) /
        |   (sqrt(CAST(d.norm2_label AS DOUBLE)) *
        |    sqrt(CAST((SELECT ng2 FROM ng) AS DOUBLE))), 6) END AS cos
        |FROM d JOIN nv USING (label) ORDER BY d.label""".stripMargin,
    // dense hour-of-day chi-square uniformity grid per event type
    "q_hour_profile" ->
      """WITH obs AS (
        | SELECT event_type, CAST(extract(hour FROM ts) AS BIGINT) AS hr,
        |  CAST(count(*) AS BIGINT) AS o
        | FROM events GROUP BY 1, 2),
        |tot AS (SELECT event_type, CAST(sum(o) AS BIGINT) AS t_total
        | FROM obs GROUP BY 1),
        |grid AS (
        | SELECT t.event_type, h.hr,
        |  CAST(coalesce(obs.o, 0) AS BIGINT) AS o, t.t_total
        | FROM tot t
        | CROSS JOIN (SELECT unnest(generate_series(0, 23)) AS hr) h
        | LEFT JOIN obs ON obs.event_type = t.event_type AND obs.hr = h.hr)
        |SELECT event_type, CAST(hr AS BIGINT) AS hr, o, t_total,
        | round((CAST(CAST(o AS HUGEINT) * 24 - t_total AS DOUBLE)
        |   * CAST(CAST(o AS HUGEINT) * 24 - t_total AS DOUBLE))
        |  / (24.0 * CAST(t_total AS DOUBLE)), 6) AS contrib
        |FROM grid ORDER BY event_type, hr""".stripMargin,
    // top-V vocabulary coverage: mass covered by the top-V types on
    // the (freq desc, tok) total order, at V in {100, 1000, 10000}
    "q_vocab_curve" ->
      """WITH freq AS (
        | SELECT tok, CAST(count(*) AS BIGINT) AS freq FROM (
        |  SELECT unnest(string_split_regex(lower(trim(text)), '\s+')) AS tok
        |  FROM documents) GROUP BY tok),
        |tot AS (SELECT CAST(sum(freq) AS BIGINT) AS tt,
        |  CAST(count(*) AS BIGINT) AS tv FROM freq),
        |rk AS (
        | SELECT freq, CAST(row_number() OVER (ORDER BY freq DESC, tok)
        |   AS BIGINT) AS rank
        | FROM freq ORDER BY freq DESC, tok LIMIT 10000),
        |cuts AS (SELECT unnest([100, 1000, 10000]) AS v)
        |SELECT CAST(cuts.v AS BIGINT) AS v_cut,
        | CAST(max(rk.rank) AS BIGINT) AS n_types,
        | CAST(sum(rk.freq) AS BIGINT) AS covered_tokens,
        | (SELECT tt FROM tot) AS total_tokens,
        | (SELECT tv FROM tot) AS total_types,
        | round(CAST(sum(rk.freq) AS DOUBLE) / (SELECT tt FROM tot), 6)
        |  AS share
        |FROM cuts JOIN rk ON rk.rank <= cuts.v
        |GROUP BY cuts.v ORDER BY v_cut""".stripMargin,
    // per-source ASCII character-class profile with per-10k shares
    "q_char_classes" ->
      """WITH d AS (
        | SELECT source, CAST(length(text) AS BIGINT) AS c,
        |  CAST(len(regexp_extract_all(text, '[A-Za-z]')) AS BIGINT) AS l,
        |  CAST(len(regexp_extract_all(text, '[0-9]')) AS BIGINT) AS g,
        |  CAST(len(regexp_extract_all(text, '\s')) AS BIGINT) AS w,
        |  CAST(len(regexp_extract_all(text, '[!-/:-@\[-`{-~]'))
        |    AS BIGINT) AS p
        | FROM documents)
        |SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
        | CAST(sum(c) AS BIGINT) AS n_chars,
        | CAST(sum(l) AS BIGINT) AS n_letters,
        | CAST(sum(g) AS BIGINT) AS n_digits,
        | CAST(sum(w) AS BIGINT) AS n_space,
        | CAST(sum(p) AS BIGINT) AS n_punct,
        | CAST(sum(c) - sum(l) - sum(g) - sum(w) - sum(p) AS BIGINT)
        |  AS n_other,
        | CASE WHEN sum(c) > 0 THEN
        |  round(CAST(10000 * sum(l) AS DOUBLE) / sum(c), 6) END
        |  AS letters_per_10k,
        | CASE WHEN sum(c) > 0 THEN
        |  round(CAST(10000 * sum(g) AS DOUBLE) / sum(c), 6) END
        |  AS digits_per_10k,
        | CASE WHEN sum(c) > 0 THEN
        |  round(CAST(10000 * sum(w) AS DOUBLE) / sum(c), 6) END
        |  AS space_per_10k,
        | CASE WHEN sum(c) > 0 THEN
        |  round(CAST(10000 * sum(p) AS DOUBLE) / sum(c), 6) END
        |  AS punct_per_10k
        |FROM d GROUP BY source ORDER BY source""".stripMargin,
    // sweep-line peak concurrency of 15-min half-open windows per type
    // (the oracle may use the naive single global sweep)
    "q_peak_concurrency" ->
      """WITH ev AS (SELECT event_type, epoch_us(ts) AS s FROM events),
        |e AS (
        | SELECT event_type, s AS t, CAST(1 AS BIGINT) AS d FROM ev
        | UNION ALL
        | SELECT event_type, s + 900000000, CAST(-1 AS BIGINT) FROM ev),
        |r AS (
        | SELECT event_type, t, d,
        |  CAST(sum(d) OVER (PARTITION BY event_type ORDER BY t, d
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |   AS BIGINT) AS conc
        | FROM e),
        |p AS (SELECT event_type, CAST(max(conc) AS BIGINT) AS peak
        | FROM r GROUP BY 1),
        |n AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n_events
        | FROM ev GROUP BY 1)
        |SELECT p.event_type, n.n_events, p.peak,
        | CAST(min(r.t) AS BIGINT) AS peak_at
        |FROM r JOIN p ON r.event_type = p.event_type AND r.conc = p.peak
        |JOIN n ON n.event_type = p.event_type
        |GROUP BY p.event_type, n.n_events, p.peak
        |ORDER BY p.event_type""".stripMargin,
    // count-of-counts over the exact content-digest families
    "q_dup_multiplicity" ->
      """WITH fams AS (
        | SELECT md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS h,
        |  CAST(count(*) AS BIGINT) AS k
        | FROM documents GROUP BY 1),
        |tot AS (SELECT CAST(sum(k) AS BIGINT) AS n FROM fams)
        |SELECT k AS n_copies, CAST(count(*) AS BIGINT) AS n_families,
        | CAST(k * count(*) AS BIGINT) AS n_docs,
        | CAST((k - 1) * count(*) AS BIGINT) AS n_redundant,
        | round(CAST(k * count(*) AS DOUBLE) / (SELECT n FROM tot), 6)
        |  AS doc_share
        |FROM fams GROUP BY k ORDER BY n_copies""".stripMargin,
    // degree count-of-counts over the weight-2 co-purchase graph
    "q_degree_hist" ->
      """WITH op AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p
        |  FROM lineitem),
        |e0 AS (SELECT a.p AS u, b.p AS v FROM op a JOIN op b
        |  ON a.o = b.o AND a.p < b.p GROUP BY 1, 2 HAVING count(*) >= 2),
        |deg AS (SELECT p, CAST(count(*) AS BIGINT) AS d FROM
        |  (SELECT u AS p FROM e0 UNION ALL SELECT v AS p FROM e0)
        |  GROUP BY p)
        |SELECT d AS degree, CAST(count(*) AS BIGINT) AS n_nodes
        |FROM deg GROUP BY d ORDER BY degree""".stripMargin,
    // global transitivity: 3 triangles / wedges, all-integer moments
    "q_clustering_coeff" ->
      """WITH op AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p
        |  FROM lineitem),
        |e0 AS (SELECT a.p AS u, b.p AS v FROM op a JOIN op b
        |  ON a.o = b.o AND a.p < b.p GROUP BY 1, 2 HAVING count(*) >= 2),
        |deg AS (SELECT p, CAST(count(*) AS BIGINT) AS d FROM
        |  (SELECT u AS p FROM e0 UNION ALL SELECT v AS p FROM e0)
        |  GROUP BY p),
        |w AS (SELECT CAST(count(*) AS BIGINT) AS n_nodes,
        |  CAST(coalesce(sum((d * (d - 1)) // 2), 0) AS BIGINT) AS n_wedges
        | FROM deg),
        |ne AS (SELECT CAST(count(*) AS BIGINT) AS n_edges FROM e0),
        |ori AS (SELECT
        |  CASE WHEN du.d < dv.d OR (du.d = dv.d AND e0.u < e0.v)
        |       THEN e0.u ELSE e0.v END AS s,
        |  CASE WHEN du.d < dv.d OR (du.d = dv.d AND e0.u < e0.v)
        |       THEN e0.v ELSE e0.u END AS t
        |  FROM e0 JOIN deg du ON e0.u = du.p JOIN deg dv ON e0.v = dv.p),
        |tri AS (SELECT e1.s AS a, e1.t AS b, e2.t AS c
        |        FROM ori e1 JOIN ori e2 ON e1.t = e2.s
        |        JOIN ori e3 ON e3.s = e1.s AND e3.t = e2.t),
        |t3 AS (SELECT CAST(3 * count(*) AS BIGINT) AS tri3 FROM tri)
        |SELECT w.n_nodes, ne.n_edges, w.n_wedges,
        | CAST(t3.tri3 // 3 AS BIGINT) AS n_triangles, t3.tri3,
        | CASE WHEN w.n_wedges > 0 THEN
        |  round(CAST(t3.tri3 AS DOUBLE) / w.n_wedges, 6) END AS global_cc
        |FROM w, ne, t3""".stripMargin,
    // strict-order signup -> click -> purchase within 7 days of entry
    "q_funnel_windowed" ->
      """WITH ev AS (SELECT user_id, event_type, epoch_us(ts) AS t
        |  FROM events),
        |s1 AS (SELECT user_id, min(t) AS t1 FROM ev
        | WHERE event_type = 'signup' GROUP BY 1),
        |s2 AS (SELECT ev.user_id, s1.t1, min(ev.t) AS t2
        | FROM ev JOIN s1 USING (user_id)
        | WHERE ev.event_type = 'click' AND ev.t > s1.t1
        |  AND ev.t <= s1.t1 + 604800000000
        | GROUP BY 1, 2),
        |s3 AS (SELECT ev.user_id, min(ev.t) AS t3
        | FROM ev JOIN s2 USING (user_id)
        | WHERE ev.event_type = 'purchase' AND ev.t > s2.t2
        |  AND ev.t <= s2.t1 + 604800000000
        | GROUP BY 1),
        |n1 AS (SELECT CAST(count(*) AS BIGINT) AS n FROM s1),
        |st AS (
        | SELECT CAST(1 AS BIGINT) AS stage, 'signup' AS event_type,
        |  CAST(count(*) AS BIGINT) AS n_users FROM s1
        | UNION ALL SELECT 2, 'click', CAST(count(*) AS BIGINT) FROM s2
        | UNION ALL SELECT 3, 'purchase', CAST(count(*) AS BIGINT) FROM s3)
        |SELECT stage, event_type, n_users,
        | CASE WHEN (SELECT n FROM n1) > 0 THEN
        |  round(CAST(n_users AS DOUBLE) / (SELECT n FROM n1), 6) END
        |  AS share_of_entry
        |FROM st ORDER BY stage""".stripMargin,
    // top-level JSON key profile with integer-typed value stats
    "q_json_profile" ->
      """WITH total AS (SELECT CAST(count(*) AS BIGINT) AS n FROM events),
        |kv AS (
        | SELECT k AS key,
        |  json_extract_string(props,
        |   '$."' || replace(k, '"', '\"') || '"') AS v
        | FROM (SELECT props, unnest(json_keys(props)) AS k FROM events)),
        |p AS (SELECT key, v, TRY_CAST(v AS BIGINT) AS num FROM kv)
        |SELECT key, CAST(count(*) AS BIGINT) AS n_rows,
        | round(CAST(count(*) AS DOUBLE) / (SELECT n FROM total), 6)
        |  AS presence,
        | CAST(sum(CASE WHEN num IS NOT NULL THEN 1 ELSE 0 END)
        |  AS BIGINT) AS n_numeric,
        | CAST(min(num) AS BIGINT) AS num_min,
        | CAST(max(num) AS BIGINT) AS num_max,
        | CAST(sum(num) AS BIGINT) AS num_sum,
        | CAST(count(DISTINCT v) AS BIGINT) AS n_distinct
        |FROM p GROUP BY key ORDER BY key""".stripMargin,
    // source x language composition with row and corpus shares
    "q_lang_mix" ->
      """WITH cells AS (
        | SELECT source, lang, CAST(count(*) AS BIGINT) AS n
        | FROM documents GROUP BY 1, 2),
        |st AS (SELECT source, CAST(sum(n) AS BIGINT) AS n_source
        | FROM cells GROUP BY 1),
        |tot AS (SELECT CAST(sum(n) AS BIGINT) AS t FROM cells)
        |SELECT cells.source, cells.lang, cells.n, st.n_source,
        | round(CAST(cells.n AS DOUBLE) / st.n_source, 6) AS source_share,
        | round(CAST(cells.n AS DOUBLE) / (SELECT t FROM tot), 6)
        |  AS corpus_share
        |FROM cells JOIN st USING (source)
        |ORDER BY cells.source, cells.lang""".stripMargin,
    // federated exact B-quantile summary merge + pooled rank audit
    "q_federated_quantiles" ->
      """WITH o AS (SELECT o_orderpriority AS site,
        |  CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS v,
        |  o_orderkey AS k FROM orders),
        |st AS (SELECT site, CAST(count(*) AS BIGINT) AS n_s
        | FROM o GROUP BY 1),
        |rk AS (SELECT site, v,
        |  row_number() OVER (PARTITION BY site ORDER BY v, k) AS r
        | FROM o),
        |tg AS (SELECT site, n_s, i, (i * n_s + 15) // 16 AS r
        | FROM st, range(1, 17) t(i)),
        |pt AS (SELECT rk.site, rk.v, tg.n_s, tg.i
        | FROM rk JOIN tg ON rk.site = tg.site AND rk.r = tg.r),
        |cm AS (SELECT v,
        |  sum(n_s) OVER (ORDER BY v, site, i) AS cw FROM pt),
        |n AS (SELECT CAST(count(*) AS BIGINT) AS n FROM o),
        |pr(p_num, p_den) AS (VALUES (1, 4), (1, 2), (3, 4), (9, 10)),
        |es AS (SELECT p_num, p_den, min(v) AS est
        | FROM pr, cm, n WHERE cw * p_den >= p_num * n.n * 16
        | GROUP BY 1, 2)
        |SELECT * FROM (
        | SELECT CAST(es.p_num AS BIGINT) AS p_num,
        |  CAST(es.p_den AS BIGINT) AS p_den, es.est,
        |  CAST(sum(CASE WHEN o.v < es.est THEN 1 ELSE 0 END) AS BIGINT)
        |   AS rank_below,
        |  CAST(sum(CASE WHEN o.v <= es.est THEN 1 ELSE 0 END) AS BIGINT)
        |   AS rank_at,
        |  (SELECT n FROM n) AS n_total
        | FROM es, o GROUP BY 1, 2, 3)
        |ORDER BY CAST(p_num AS DOUBLE) / p_den""".stripMargin,
    // federated MG top-k in the exact regime (months << capacity k:
    // no site saturates, the central (k+1)-cut is zero, counters are
    // exact pooled frequencies — the protocol is oracle-checkable)
    "q_federated_topk" ->
      """WITH c AS (SELECT strftime(o_orderdate, '%Y-%m') AS month,
        |  CAST(count(*) AS BIGINT) AS n_orders FROM orders GROUP BY 1)
        |SELECT month, n_orders, rnk FROM (
        | SELECT month, n_orders,
        |  row_number() OVER (ORDER BY n_orders DESC, month) AS rnk
        | FROM c)
        |WHERE rnk <= 10 ORDER BY rnk""".stripMargin,
    // monthly new/retained/resurrected/churned user ledger
    "q_growth_accounting" ->
      """WITH um AS (SELECT DISTINCT user_id,
        |  CAST(year(ts) * 12 + month(ts) - 1 AS BIGINT) AS mi
        | FROM events),
        |fm AS (SELECT user_id, min(mi) AS first_mi FROM um GROUP BY 1),
        |cl AS (SELECT um.mi,
        |  CASE WHEN um.mi = fm.first_mi THEN 'new'
        |   WHEN p.user_id IS NOT NULL THEN 'retained'
        |   ELSE 'resurrected' END AS status
        | FROM um JOIN fm USING (user_id)
        | LEFT JOIN um p ON p.user_id = um.user_id AND p.mi = um.mi - 1),
        |act AS (SELECT mi, CAST(count(*) AS BIGINT) AS n_active,
        |  CAST(sum(CASE WHEN status = 'new' THEN 1 ELSE 0 END) AS BIGINT)
        |   AS n_new,
        |  CAST(sum(CASE WHEN status = 'retained' THEN 1 ELSE 0 END)
        |   AS BIGINT) AS n_retained,
        |  CAST(sum(CASE WHEN status = 'resurrected' THEN 1 ELSE 0 END)
        |   AS BIGINT) AS n_resurrected
        | FROM cl GROUP BY 1),
        |ch AS (SELECT a.mi + 1 AS mi, CAST(count(*) AS BIGINT) AS n_churned
        | FROM um a LEFT JOIN um b
        |  ON b.user_id = a.user_id AND b.mi = a.mi + 1
        | WHERE b.user_id IS NULL GROUP BY 1)
        |SELECT act.mi, n_active, n_new, n_retained, n_resurrected,
        | COALESCE(ch.n_churned, 0) AS n_churned
        |FROM act LEFT JOIN ch USING (mi) ORDER BY act.mi""".stripMargin,
    // monthly DAU/MAU stickiness off the distinct user-day panel
    "q_stickiness" ->
      """WITH ud AS (SELECT DISTINCT user_id,
        |  CAST(year(ts) * 12 + month(ts) - 1 AS BIGINT) AS mi,
        |  CAST(day(ts) AS BIGINT) AS d
        | FROM events)
        |SELECT mi, CAST(count(*) AS BIGINT) AS n_user_days,
        | CAST(count(DISTINCT user_id) AS BIGINT) AS mau,
        | CAST(count(DISTINCT d) AS BIGINT) AS n_days,
        | round(CAST(count(*) AS DOUBLE) /
        |  (count(DISTINCT d) * count(DISTINCT user_id)), 6) AS stickiness
        |FROM ud GROUP BY mi ORDER BY mi""".stripMargin,
    // activity-decile concentration (Lorenz readout, total order)
    "q_power_users" ->
      """WITH pu AS (SELECT user_id, CAST(count(*) AS BIGINT) AS n_ev,
        |  CAST(sum(CAST(floor(value * 1000 + 0.5) AS BIGINT)) AS BIGINT)
        |   AS value_milli
        | FROM events GROUP BY 1),
        |dk AS (SELECT n_ev, value_milli,
        |  CAST(ntile(10) OVER (ORDER BY n_ev DESC, user_id) AS BIGINT)
        |   AS decile
        | FROM pu),
        |ag AS (SELECT decile, CAST(count(*) AS BIGINT) AS n_users,
        |  CAST(sum(n_ev) AS BIGINT) AS n_events,
        |  CAST(sum(value_milli) AS BIGINT) AS value_milli
        | FROM dk GROUP BY 1),
        |t AS (SELECT CAST(sum(n_events) AS BIGINT) AS t FROM ag)
        |SELECT decile, n_users, n_events, value_milli,
        | round(CAST(n_events AS DOUBLE) / (SELECT t FROM t), 6)
        |  AS event_share,
        | round(CAST(sum(n_events) OVER (ORDER BY decile) AS DOUBLE)
        |  / (SELECT t FROM t), 6) AS cum_event_share
        |FROM ag ORDER BY decile""".stripMargin,
    // deterministic T5-style span-masking budget per source
    "q_span_corruption" ->
      """WITH d AS (SELECT doc_id, source,
        |  string_split_regex(lower(trim(text)), '\s+') AS toks
        | FROM documents),
        |s AS (SELECT source, CAST(len(toks) AS BIGINT) AS n_tok,
        |  list_filter(list_transform(range(1, len(toks) + 1),
        |    p -> struct_pack(p := p,
        |      u := CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)
        |        || ':' || CAST(p AS VARCHAR)), 1, 2))
        |        AS INT))),
        |   x -> x.u < 38) AS st,
        |  len(toks) AS n
        | FROM d),
        |m AS (SELECT source, n_tok, CAST(len(st) AS BIGINT) AS n_spans,
        |  CAST(len(list_distinct(flatten(list_transform(st,
        |    x -> range(x.p, least(x.p + x.u % 3, n) + 1))))) AS BIGINT)
        |   AS n_masked
        | FROM s)
        |SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
        | CAST(sum(n_tok) AS BIGINT) AS n_tokens,
        | CAST(sum(n_spans) AS BIGINT) AS n_spans,
        | CAST(sum(n_masked) AS BIGINT) AS n_masked,
        | CASE WHEN sum(n_tok) > 0 THEN
        |  round(CAST(sum(n_masked) AS DOUBLE) / sum(n_tok), 6) END
        |  AS mask_ratio
        |FROM m GROUP BY source ORDER BY source""".stripMargin,
    // content-defined chunking dedup profile per source
    "q_cdc_chunks" ->
      """WITH d AS (SELECT doc_id, source,
        |  string_split_regex(lower(trim(text)), '\s+') AS toks
        | FROM documents),
        |c AS (SELECT source, toks,
        |  list_sort(list_distinct(list_concat(
        |   list_filter(range(3, greatest(len(toks), 2) + 1),
        |    p -> p <= len(toks) AND
        |      CAST(('0x' || substr(md5(array_to_string(
        |        toks[p-2:p], ' ')), 1, 2)) AS INT) < 32),
        |   [CAST(len(toks) AS BIGINT)]))) AS cuts
        | FROM d),
        |ch AS (SELECT source,
        |  unnest(list_transform(range(1, len(cuts) + 1),
        |   i -> struct_pack(
        |     n_tok := cuts[i] - CASE WHEN i = 1 THEN 0 ELSE cuts[i-1] END,
        |     digest := md5(array_to_string(
        |       toks[(CASE WHEN i = 1 THEN 0 ELSE cuts[i-1] END + 1):cuts[i]],
        |       ' '))))) AS c
        | FROM c)
        |SELECT source, CAST(count(*) AS BIGINT) AS n_chunks,
        | CAST(sum(c.n_tok) AS BIGINT) AS n_tokens,
        | CAST(count(DISTINCT c.digest) AS BIGINT) AS n_distinct,
        | CASE WHEN count(*) > 0 THEN
        |  round(CAST(count(*) - count(DISTINCT c.digest) AS DOUBLE)
        |   / count(*), 6) END AS dup_share
        |FROM ch GROUP BY source ORDER BY source""".stripMargin,
    // k-anonymity generalization ladder over value bands
    "q_generalization_curve" ->
      """WITH e AS (SELECT event_type, user_id,
        |  CAST(floor(value * 1000 + 0.5) AS BIGINT) AS vm FROM events),
        |x AS (SELECT event_type, user_id, lvl,
        |  CASE WHEN lvl = 3 THEN 0
        |   WHEN lvl = 0 THEN vm // 10000
        |   WHEN lvl = 1 THEN vm // 100000
        |   ELSE vm // 1000000 END AS band
        | FROM e, (SELECT unnest([0, 1, 2, 3]) AS lvl)),
        |cl AS (SELECT CAST(lvl AS BIGINT) AS lvl, event_type, band,
        |  CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
        | FROM x GROUP BY 1, 2, 3)
        |SELECT lvl, CAST(count(*) AS BIGINT) AS n_classes,
        | CAST(sum(n_rows) AS BIGINT) AS n_rows,
        | CAST(sum(CASE WHEN n_users < 5 THEN n_rows ELSE 0 END)
        |  AS BIGINT) AS rows_at_risk,
        | CAST(sum(CASE WHEN n_users < 5 THEN 1 ELSE 0 END) AS BIGINT)
        |  AS classes_at_risk,
        | CASE WHEN sum(n_rows) > 0 THEN
        |  round(CAST(sum(n_rows) - sum(CASE WHEN n_users < 5
        |    THEN n_rows ELSE 0 END) AS DOUBLE) / sum(n_rows), 6) END
        |  AS safe_share
        |FROM cl GROUP BY lvl ORDER BY lvl""".stripMargin,
    // power-of-two inter-arrival histogram per event type
    "q_interarrival_hist" ->
      """WITH t AS (SELECT event_type, event_id,
        |  epoch_us(ts) AS t FROM events),
        |g AS (SELECT event_type,
        |  t - lag(t) OVER (PARTITION BY event_type
        |    ORDER BY t, event_id) AS g
        | FROM t)
        |SELECT event_type,
        | CASE WHEN g = 0 THEN 0
        |  ELSE CAST(length(bin(g)) AS BIGINT) END AS bucket,
        | CAST(count(*) AS BIGINT) AS n,
        | CAST(min(g) AS BIGINT) AS min_gap,
        | CAST(max(g) AS BIGINT) AS max_gap
        |FROM g WHERE g IS NOT NULL
        |GROUP BY 1, 2 ORDER BY event_type, bucket""".stripMargin,
    // daily volume x audience cross-correlation by lag
    "q_cross_corr" ->
      """WITH day AS (SELECT
        |  epoch_us(ts) // 86400000000 AS di,
        |  CAST(count(*) AS BIGINT) AS x,
        |  CAST(count(DISTINCT user_id) AS BIGINT) AS y
        | FROM events GROUP BY 1),
        |lg AS (SELECT CAST(unnest(range(-7, 8)) AS BIGINT) AS lag),
        |pr AS (SELECT lg.lag, a.x, b.y
        | FROM lg CROSS JOIN day a JOIN day b ON b.di = a.di + lg.lag),
        |ag AS (SELECT lag, CAST(count(*) AS BIGINT) AS n_days,
        |  CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
        |  CAST(sum(x * x) AS BIGINT) AS sxx,
        |  CAST(sum(y * y) AS BIGINT) AS syy,
        |  CAST(sum(x * y) AS BIGINT) AS sxy
        | FROM pr GROUP BY 1)
        |SELECT lag, n_days,
        | CASE WHEN n_days * sxx - sx * sx > 0
        |   AND n_days * syy - sy * sy > 0 THEN
        |  round(CAST(n_days * sxy - sx * sy AS DOUBLE) /
        |   (sqrt(CAST(n_days * sxx - sx * sx AS DOUBLE)) *
        |    sqrt(CAST(n_days * syy - sy * sy AS DOUBLE))), 6) END AS r
        |FROM ag ORDER BY lag""".stripMargin,
    // md5-routed shard balance audit
    "q_shard_balance" ->
      """WITH d AS (SELECT
        |  CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 4))
        |   AS BIGINT) % 32 AS shard, n_chars FROM documents),
        |s AS (SELECT shard, CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(n_chars) AS BIGINT) AS n_chars FROM d GROUP BY 1),
        |t AS (SELECT CAST(sum(n_docs) AS BIGINT) AS t FROM s)
        |SELECT shard, n_docs, n_chars,
        | CASE WHEN (SELECT t FROM t) > 0 THEN
        |  round(CAST(n_docs AS DOUBLE) * 32 / (SELECT t FROM t), 6) END
        |  AS skew
        |FROM s ORDER BY shard""".stripMargin,
    // schema-profiling audits — generated from the shared candidate
    // lists in graft.operators.Profiling
    "q_fd_audit" -> fdAuditOracleSql,
    "q_ind_audit" -> indAuditOracleSql,
    "q_key_profile" -> keyProfileOracleSql,
    "q_phrase_search" -> phraseSearchOracleSql,
    // same semantics, native codegen'd kernel - same generated oracle
    "q_phrase_native" -> phraseSearchOracleSql,
    // cohort LTV: milli-unit BIGINT revenue, cumulative window over
    // the (cohort, offset) cell relation, one closing division
    "q_ltv_cohort" ->
      """WITH o AS (SELECT o_custkey AS cust,
        |  CAST(year(o_orderdate) * 12 + month(o_orderdate) - 1 AS BIGINT)
        |   AS mi,
        |  CAST(floor(o_totalprice * 1000 + 0.5) AS BIGINT) AS milli
        | FROM orders),
        |f AS (SELECT cust, min(mi) AS cohort_mi FROM o GROUP BY cust),
        |cs AS (SELECT cohort_mi, CAST(count(*) AS BIGINT) AS cohort_users
        |       FROM f GROUP BY cohort_mi),
        |cells AS (SELECT f.cohort_mi, o.mi - f.cohort_mi AS "offset",
        |  CAST(count(DISTINCT o.cust) AS BIGINT) AS active_users,
        |  CAST(count(*) AS BIGINT) AS n_orders,
        |  CAST(sum(o.milli) AS BIGINT) AS revenue_milli
        | FROM o JOIN f ON o.cust = f.cust
        | GROUP BY 1, 2),
        |cum AS (SELECT *, CAST(sum(revenue_milli) OVER (
        |   PARTITION BY cohort_mi ORDER BY "offset") AS BIGINT)
        |  AS cum_revenue_milli FROM cells)
        |SELECT cum.cohort_mi, cum."offset" AS "offset", cs.cohort_users,
        | cum.active_users, cum.n_orders, cum.revenue_milli,
        | cum.cum_revenue_milli,
        | CAST(cum.cum_revenue_milli // cs.cohort_users AS BIGINT)
        |  AS ltv_per_user_milli
        |FROM cum JOIN cs ON cum.cohort_mi = cs.cohort_mi
        |ORDER BY cum.cohort_mi, "offset"""".stripMargin,
    // repeat-purchase gaps: per-customer lag window, rank-exact median
    // via the cumulative distinct-gap-value relation
    "q_order_gaps" ->
      """WITH g AS (SELECT c_mktsegment AS segment,
        |  CAST(date_diff('day',
        |   lag(o_orderdate) OVER (PARTITION BY o_custkey
        |     ORDER BY o_orderdate, o_orderkey), o_orderdate) AS BIGINT)
        |   AS gap
        | FROM orders JOIN customer ON o_custkey = c_custkey),
        |gg AS (SELECT segment, gap FROM g WHERE gap IS NOT NULL),
        |tot AS (SELECT segment, CAST(count(*) AS BIGINT) AS n_gaps,
        |  CAST(min(gap) AS BIGINT) AS min_gap,
        |  CAST(max(gap) AS BIGINT) AS max_gap,
        |  CAST(sum(gap) AS BIGINT) AS s FROM gg GROUP BY segment),
        |cnt AS (SELECT segment, gap, count(*) AS c FROM gg GROUP BY 1, 2),
        |cum AS (SELECT segment, gap, sum(c) OVER (
        |   PARTITION BY segment ORDER BY gap) AS cum FROM cnt),
        |med AS (SELECT cum.segment, CAST(min(gap) AS BIGINT) AS median_gap
        | FROM cum JOIN tot ON cum.segment = tot.segment
        | WHERE cum.cum >= (tot.n_gaps + 1) // 2 GROUP BY cum.segment)
        |SELECT tot.segment, tot.n_gaps, tot.min_gap, tot.max_gap,
        | med.median_gap, round(CAST(tot.s AS DOUBLE) / tot.n_gaps, 6)
        |  AS avg_gap
        |FROM tot JOIN med ON tot.segment = med.segment
        |ORDER BY tot.segment""".stripMargin,
    // STTR: non-overlapping 20-token windows, distinct types per
    // window, one closing division at ratio magnitude
    "q_sttr" ->
      """WITH d AS (SELECT doc_id,
        |  string_split_regex(lower(trim(text)), '\s+') AS t
        | FROM documents),
        |w AS (SELECT doc_id, CAST(len(t) AS BIGINT) AS n_tokens,
        |  CAST(len(t) // 20 AS BIGINT) AS n_windows, t
        | FROM d WHERE len(t) // 20 > 0),
        |x AS (SELECT doc_id, n_tokens, n_windows,
        |  CAST(sum(len(list_distinct(
        |    t[(i * 20 + 1):(i * 20 + 20)]))) AS BIGINT) AS distinct_sum
        | FROM w, LATERAL (SELECT
        |    unnest(generate_series(0, CAST(n_windows AS INT) - 1)) AS i)
        | GROUP BY doc_id, n_tokens, n_windows)
        |SELECT doc_id, n_tokens, n_windows, distinct_sum,
        | round(CAST(distinct_sum AS DOUBLE) / (n_windows * 20), 6) AS sttr
        |FROM x ORDER BY doc_id""".stripMargin,
    // neighborhood Jaccard over the co-order part graph — the
    // symmetric face of q_basket_rules' directed confidence/lift
    "q_node_jaccard" ->
      """WITH op AS (
        | SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
        |pn AS (SELECT p, CAST(count(*) AS BIGINT) AS n_p FROM op GROUP BY p),
        |pairs AS (
        | SELECT a.p AS u, b.p AS v, CAST(count(*) AS BIGINT) AS n_common
        | FROM op a JOIN op b ON a.o = b.o AND a.p < b.p
        | GROUP BY a.p, b.p HAVING count(*) >= 2)
        |SELECT pairs.u AS part_a, pairs.v AS part_b, pairs.n_common,
        | pa.n_p AS n_a, pb.n_p AS n_b,
        | pa.n_p + pb.n_p - pairs.n_common AS n_union,
        | round(CAST(pairs.n_common AS DOUBLE)
        |   / (pa.n_p + pb.n_p - pairs.n_common), 6) AS jaccard
        |FROM pairs JOIN pn pa ON pairs.u = pa.p
        |JOIN pn pb ON pairs.v = pb.p
        |ORDER BY jaccard DESC, part_a, part_b
        |LIMIT 50""".stripMargin,
    // SAX: rank-based quartile symbols over the (type, day) panel;
    // n_runs counts symbol changes (first day counts as a run start)
    "q_sax_symbols" ->
      """WITH dc AS (SELECT event_type,
        |  CAST(date_diff('day', DATE '2020-01-01',
        |    CAST(ts AS DATE)) AS BIGINT) AS day,
        |  CAST(count(*) AS BIGINT) AS n
        | FROM events GROUP BY 1, 2),
        |sym AS (SELECT event_type, day,
        |  ntile(4) OVER (PARTITION BY event_type ORDER BY n, day) AS q
        | FROM dc),
        |runs AS (SELECT event_type, day, q,
        |  CASE WHEN lag(q) OVER (PARTITION BY event_type ORDER BY day)
        |   IS DISTINCT FROM q THEN 1 ELSE 0 END AS chg FROM sym)
        |SELECT event_type, CAST(count(*) AS BIGINT) AS n_days,
        | CAST(sum(chg) AS BIGINT) AS n_runs,
        | string_agg(chr(CAST(96 + q AS INT)), '' ORDER BY day) AS sax
        |FROM runs GROUP BY event_type ORDER BY event_type""".stripMargin,
    // first/last-touch attribution: user-keyed range join + total-order
    // argmin/argmax per purchase; "(none)" closes the ledger
    "q_attribution" ->
      """WITH ev AS (SELECT user_id, event_id, event_type,
        |  epoch_us(ts) AS s FROM events),
        |p AS (SELECT user_id, event_id AS p_id, s AS p_s FROM ev
        |      WHERE event_type = 'purchase'),
        |t AS (SELECT user_id, event_id AS t_id, event_type AS channel,
        |      s AS t_s FROM ev WHERE event_type <> 'purchase'),
        |cand AS (SELECT p.p_id, t.channel, t.t_s, t.t_id
        | FROM p JOIN t ON p.user_id = t.user_id
        |  AND t.t_s < p.p_s AND t.t_s >= p.p_s - 604800000000),
        |picked AS (SELECT p_id, channel,
        |  row_number() OVER (PARTITION BY p_id ORDER BY t_s, t_id) AS rf,
        |  row_number() OVER (PARTITION BY p_id
        |    ORDER BY t_s DESC, t_id DESC) AS rl
        | FROM cand),
        |f AS (SELECT channel, CAST(count(*) AS BIGINT) AS first_touch
        |      FROM picked WHERE rf = 1 GROUP BY 1),
        |l AS (SELECT channel, CAST(count(*) AS BIGINT) AS last_touch
        |      FROM picked WHERE rl = 1 GROUP BY 1),
        |tot AS (SELECT CAST(count(*) AS BIGINT) AS n FROM p),
        |tch AS (SELECT CAST(count(*) AS BIGINT) AS n FROM picked
        |        WHERE rf = 1)
        |SELECT channel, first_touch, last_touch FROM (
        | SELECT coalesce(f.channel, l.channel) AS channel,
        |  CAST(coalesce(f.first_touch, 0) AS BIGINT) AS first_touch,
        |  CAST(coalesce(l.last_touch, 0) AS BIGINT) AS last_touch
        | FROM f FULL OUTER JOIN l ON f.channel = l.channel
        | UNION ALL
        | SELECT '(none)', tot.n - tch.n, tot.n - tch.n
        | FROM tot CROSS JOIN tch)
        |ORDER BY channel""".stripMargin
  )
}
