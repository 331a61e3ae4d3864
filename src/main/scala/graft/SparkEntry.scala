package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.ops._

/** Driver contract — the engine's declared query surface (SURVEY.md §2).
  *
  * Every entry in [[queries]] is a pure `(SparkSession, sfDir) => DataFrame`
  * over the driver-provided parquet tables; entries with SQL-expressible
  * semantics have a matching DuckDB oracle in [[oracleSql]] with IDENTICAL
  * output column names (the driver's compare sorts columns by name and
  * hashes values).
  */
object SparkEntry {

  /** Flagship: the reference's 1-min OHLCV+VWAP aggregation as a batch
    * query (reference: spark_processor/processor.py:78-101), on sf0.001.
    */
  def entry(spark: SparkSession): DataFrame =
    AggOps.ohlcv1min(spark, "/root/testdata/sf0.001")

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // ---- reference pipeline, batch form (SURVEY §2.2-2.3) ----
    "ohlcv_1min"        -> (AggOps.ohlcv1min _),
    "open_close"        -> (AggOps.openClose _),
    "vwap"              -> (AggOps.vwap _),
    "count_rows"        -> (AggOps.countRows _),
    "freshness_check"   -> (AggOps.freshnessCheck _),
    "json_parse"        -> (ParseOps.jsonParse _),
    "decimal_cast"      -> (ParseOps.decimalCast _),
    "epoch_to_ts"       -> (ParseOps.epochToTs _),
    "filter_event_type" -> (ParseOps.filterEventType _),
    "derived_mul"       -> (ParseOps.derivedMul _),
    // ---- scalar function families (SURVEY §2.5) ----
    "string_funcs"      -> (ParseOps.stringFuncs _),
    "date_funcs"        -> (ParseOps.dateFuncs _),
    "math_funcs"        -> (ParseOps.mathFuncs _),
    "json_extract"      -> (ParseOps.jsonExtract _),
    "xml_funcs"         -> (ParseOps.xmlFuncs _),
    "bitwise_funcs"     -> (ParseOps.bitwiseFuncs _),
    "date_format_funcs" -> (ParseOps.dateFormatFuncs _),
    "date_arith"        -> (ParseOps.dateArith _),
    // ---- aggregation surface (SURVEY §2.5) ----
    "agg_groupby"       -> (AggOps.aggGroupBy _),
    "count_distinct"    -> (AggOps.countDistinctUsers _),
    "approx_distinct"   -> (AggOps.approxDistinctUsers _),
    "conditional_agg"   -> (AggOps.conditionalAgg _),
    "rollup_sales"      -> (AggOps.rollupSales _),
    "cube_sales"        -> (AggOps.cubeSales _),
    "sliding_ohlcv"     -> (AggOps.slidingOhlcv _),
    "gap_fill"          -> (AggOps.gapFill _),
    "session_window"    -> (AggOps.sessionWindowAgg _),
    // ---- relational surface (SURVEY §2.5) ----
    "join_inner"        -> (RelationalOps.joinInner _),
    "bloom_prefilter_join" -> (RelationalOps.bloomPrefilterJoin _),
    "bpe_merges"        -> ((s, d) => BpeOps.bpeMerges(s, d)),
    "bpe_fertility"     -> ((s, d) => BpeOps.bpeFertility(s, d)),
    "bpe_segment"       -> ((s, d) => BpeOps.bpeSegment(s, d)),
    "unigram_train"     -> ((s, d) => UnigramOps.unigramTrain(s, d)),
    "unigram_segment"   -> (UnigramOps.unigramSegment _),
    "unigram_doc_ppl"   -> (UnigramOps.unigramDocPpl _),
    "wordpiece_segment" -> (UnigramOps.wordpieceSegment _),
    "join_left"         -> (RelationalOps.joinLeft _),
    "join_semi"         -> (RelationalOps.joinSemi _),
    "join_anti"         -> (RelationalOps.joinAnti _),
    "join_dims"         -> (RelationalOps.joinDims _),
    "topk_rank"         -> (RelationalOps.topkRank _),
    "moving_avg"        -> (RelationalOps.movingAvg _),
    "orderby_limit"     -> (RelationalOps.orderbyLimit _),
    "union_all"         -> (RelationalOps.unionAll _),
    "intersect_keys"    -> (RelationalOps.intersectKeys _),
    "except_keys"       -> (RelationalOps.exceptKeys _),
    "except_all_keys"   -> (RelationalOps.exceptAllKeys _),
    "intersect_all_keys" -> (RelationalOps.intersectAllKeys _),
    "null_funcs"        -> (RelationalOps.nullFuncs _),
    "array_funcs"       -> (RelationalOps.arrayFuncs _),
    "dedup_exact"       -> (RelationalOps.dedupExact _),
    "asof_price"        -> (RelationalOps.asofPrice _),
    "asof_join_price"   -> (RelationalOps.asofJoinPrice _),
    "range_join"        -> (RelationalOps.rangeJoinPriorHour _),
    "window_first_last" -> (RelationalOps.windowFirstLast _),
    "join_full"         -> (RelationalOps.joinFull _),
    "join_skew_salted"  -> (RelationalOps.joinSkewSalted _),
    "join_size_estimate" -> (RelationalOps.joinSizeEstimate _),
    "cross_join_dims"   -> (RelationalOps.crossJoinDims _),
    "exists_subquery"   -> (RelationalOps.existsSubquery _),
    "not_in_subquery"   -> (RelationalOps.notInSubquery _),
    "part_revenue"      -> (RelationalOps.partRevenue _),
    "sql_q3"            -> (RelationalOps.sqlQ3 _),
    "sql_q5"            -> (RelationalOps.sqlQ5 _),
    "sql_q7"            -> (RelationalOps.sqlQ7 _),
    "sql_q18"           -> (RelationalOps.sqlQ18 _),
    "lateral_topn"      -> (RelationalOps.lateralTopn _),
    "scalar_subquery"   -> (RelationalOps.scalarSubquery _),
    // ---- statistical / analytical surface (SURVEY §2.5) ----
    "stats_agg"         -> (StatsOps.statsAgg _),
    "mannwhitney_u"     -> (StatsOps.mannWhitneyU _),
    "aqp_estimate"      -> (StatsOps.aqpEstimate _),
    "linreg_agg"        -> (StatsOps.linregAgg _),
    "percentiles"       -> (StatsOps.percentiles _),
    "approx_percentiles" -> (StatsOps.approxPercentiles _),
    "window_rank_funcs" -> (StatsOps.windowRankFuncs _),
    "ntile_buckets"     -> (StatsOps.ntileBuckets _),
    "sessionize"        -> (StatsOps.sessionize _),
    "grouping_sets"     -> (StatsOps.groupingSetsSales _),
    "retention_cohorts" -> (StatsOps.retentionCohorts _),
    "seasonal_decompose" -> (StatsOps.seasonalDecompose _),
    "funnel_stages"     -> (StatsOps.funnelStages _),
    "twap"              -> (AggOps.twap _),
    "candle_patterns"   -> (AggOps.candlePatterns _),
    "var_95"            -> (AggOps.var95 _),
    "max_drawdown"      -> (AggOps.maxDrawdown _),
    "autocorr_lag1"     -> (AggOps.autocorrLag1 _),
    // ---- technical indicators over the candle rollup ----
    "rsi_14"            -> (IndicatorOps.rsi14 _),
    "bollinger_bands"   -> (IndicatorOps.bollingerBands _),
    "stoch_osc"         -> (IndicatorOps.stochOsc _),
    "obv"               -> (IndicatorOps.obv _),
    "ewma_price"        -> (IndicatorOps.ewmaPrice _),
    "pairwise_corr"     -> (IndicatorOps.pairwiseCorr _),
    "zscore_anomaly"    -> (IndicatorOps.zscoreAnomaly _),
    "ohlcv_5min_rollup" -> (AggOps.ohlcv5minRollup _),
    "ts_pattern_search" -> (IndicatorOps.tsPatternSearch _),
    "atr_14"            -> (IndicatorOps.atr14 _),
    "mfi_14"            -> (IndicatorOps.mfi14 _),
    "macd"              -> (IndicatorOps.macd _),
    "donchian_channels" -> (IndicatorOps.donchianChannels _),
    "ichimoku"          -> (IndicatorOps.ichimoku _),
    "anchored_vwap"     -> (IndicatorOps.anchoredVwap _),
    "keltner_channels"  -> (IndicatorOps.keltnerChannels _),
    "realized_vol"      -> (IndicatorOps.realizedVol _),
    "rolling_beta"      -> (IndicatorOps.rollingBeta _),
    "lead_lag_corr"     -> (IndicatorOps.leadLagCorr _),
    "volume_profile"    -> (IndicatorOps.volumeProfile _),
    "drawdown_duration" -> (IndicatorOps.drawdownDuration _),
    // ---- data-quality layer (freshness gate generalized) ----
    "profile_columns"   -> (QualityOps.profileColumns _),
    "profile_columns_approx" -> (QualityOps.profileColumnsApprox _), // KMV: hash-checked since r16
    "dq_checks"         -> (QualityOps.dqChecks _),
    "dq_quarantine"     -> (QualityOps.dqQuarantine _),
    "benford_check"     -> (QualityOps.benfordCheck _),
    "gini_profile"      -> (QualityOps.giniProfile _),
    "orphan_fk_check"   -> (QualityOps.orphanFkCheck _),
    "mode_median"       -> (StatsOps.modeMedian _),
    "wow_growth"        -> (StatsOps.wowGrowth _),
    "cohort_ltv"        -> (StatsOps.cohortLtv _),
    "ship_sla"          -> (StatsOps.shipSla _),
    "funnel_latency"    -> (StatsOps.funnelLatency _),
    "revenue_concentration" -> (StatsOps.revenueConcentration _),
    "vocab_growth"      -> (TextOps.vocabGrowth _),
    "source_divergence" -> (TextOps.sourceDivergence _),
    "cci_20"            -> (IndicatorOps.cci20 _),
    "williams_r"        -> (IndicatorOps.williamsR _),
    "price_roc"         -> (IndicatorOps.priceRoc _),
    "degree_distribution" -> (StatsOps.degreeDistribution _),
    "basket_lift"       -> (StatsOps.basketLift _),
    "session_stats"     -> (StatsOps.sessionStats _),
    "sql_q4"            -> (RelationalOps.sqlQ4 _),
    "sql_q12"           -> (RelationalOps.sqlQ12 _),
    "sql_q22"           -> (RelationalOps.sqlQ22 _),
    "sql_q13"           -> (RelationalOps.sqlQ13 _),
    "sql_q17"           -> (RelationalOps.sqlQ17 _),
    "sql_q19"           -> (RelationalOps.sqlQ19 _),
    "sql_q21"           -> (RelationalOps.sqlQ21 _),
    "sql_q6"            -> (RelationalOps.sqlQ6 _),
    "sql_q8"            -> (RelationalOps.sqlQ8 _),
    "sql_q10"           -> (RelationalOps.sqlQ10 _),
    "sql_q14"           -> (RelationalOps.sqlQ14 _),
    "sql_q15"           -> (RelationalOps.sqlQ15 _),
    "sql_q1"            -> (RelationalOps.sqlQ1 _),
    "pit_features"      -> (RelationalOps.pitFeatures _),
    "snapshot_diff"     -> (RelationalOps.snapshotDiff _),
    "sql_q2"            -> (RelationalOps.sqlQ2 _),
    "sql_q9"            -> (RelationalOps.sqlQ9 _),
    "sql_q11"           -> (RelationalOps.sqlQ11 _),
    "sql_q16"           -> (RelationalOps.sqlQ16 _),
    "sql_q20"           -> (RelationalOps.sqlQ20 _),
    "semdedup"          -> (SimilarityOps.semDedup _), // rows-only: float cosine groups
    "winsorize"         -> (StatsOps.winsorize _),
    "copurchase_pairs"  -> (StatsOps.copurchasePairs _),
    "scd2_history"      -> (StatsOps.scd2History _),
    "event_transitions" -> (StatsOps.eventTransitions _),
    "attribution_last_touch" -> (StatsOps.attributionLastTouch _),
    "pareto_front"      -> (StatsOps.paretoFront _),
    "interval_merge"    -> (StatsOps.intervalMerge _),
    "interval_overlap_join" -> (StatsOps.intervalOverlapJoin _),
    "cdc_apply"         -> (PipelineOps.cdcApply _),
    "freq_topk_sketch"  -> (StatsOps.freqTopkSketch _),
    "pagerank"          -> (StatsOps.pagerank _),
    "kcore_nodes"       -> (StatsOps.kcoreNodes _),
    "community_labels"  -> ((s, d) => StatsOps.communityLabels(s, d)),
    "shortest_paths"    -> (StatsOps.shortestPaths _),
    "ab_ttest"          -> (StatsOps.abTtest _),
    "ks_test"           -> (StatsOps.ksTest _),
    "roc_auc"           -> (StatsOps.rocAuc _),
    "pr_curve"          -> (StatsOps.prCurve _),
    "calibration_bins"  -> (StatsOps.calibrationBins _),
    "ece_eval"          -> (StatsOps.eceEval _),
    "fleiss_kappa"      -> (QualityOps.fleissKappa _),
    "pass_at_k"         -> (StatsOps.passAtK _),
    "recency_mix"       -> (PipelineOps.recencyMix _),
    "shard_manifest"    -> (PipelineOps.shardManifest _),
    "curriculum_plan"   -> (PipelineOps.curriculumPlan _),
    "survival_curve"    -> (StatsOps.survivalCurve _),
    "mutual_info"       -> (StatsOps.mutualInfo _),
    "chi_square"        -> (StatsOps.chiSquare _),
    "link_prediction"   -> (StatsOps.linkPrediction _),
    "k_anonymity"       -> (QualityOps.kAnonymity _),
    "l_diversity"       -> (QualityOps.lDiversity _),
    "t_closeness"       -> (QualityOps.tCloseness _),
    "dp_count"          -> (QualityOps.dpCount _),
    "dp_sum"            -> (QualityOps.dpSum _),
    "dp_avg"            -> (QualityOps.dpAvg _),
    "dp_noisy_max"      -> (QualityOps.dpNoisyMax _),
    "dp_quantile"       -> (QualityOps.dpQuantile _),
    "dp_topk"           -> (QualityOps.dpTopk _),
    "watermark_detect"  -> (QualityOps.watermarkDetect _),
    "content_filter"    -> (QualityOps.contentFilter _),
    "triangle_count"    -> (StatsOps.triangleCount _),
    "triangle_count_copart" -> (StatsOps.triangleCountCopart _),
    "skew_report"       -> (QualityOps.skewReport _),
    "salt_plan"         -> (QualityOps.saltPlan _),
    "fuzzy_join"        -> (TextOps.fuzzyJoin _),
    "decile_drift"      -> (QualityOps.decileDrift _),
    "json_lines_scan"   -> (StorageOps.jsonLinesScan _),
    "csv_scan"          -> (StorageOps.csvScan _),
    "orc_scan"          -> (StorageOps.orcScan _),
    "xml_scan"          -> (StorageOps.xmlScan _),
    "schema_evolution_scan" -> (StorageOps.schemaEvolutionScan _),
    "dynamic_partition_overwrite" -> (StorageOps.dynamicPartitionOverwrite _),
    "collation_distinct" -> (RelationalOps.collationDistinct _),
    "mad_outliers"      -> (StatsOps.madOutliers _),
    "seasonal_backtest" -> (StatsOps.seasonalBacktest _),
    "rolling_active_users" -> (StatsOps.rollingActiveUsers _),
    "hll_partial_union" -> (StatsOps.hllPartialUnion _),
    "kmv_distinct"      -> (StatsOps.kmvDistinct _),
    "kmv_partial_union" -> (StatsOps.kmvPartialUnion _),
    "kmv_rank_union"    -> (StatsOps.kmvRankUnion _),
    "kmv_overlap"       -> (StatsOps.kmvOverlap _),
    "cusum_changepoint" -> (StatsOps.cusumChangepoint _),
    "top_paths"         -> (StatsOps.topPaths _),
    "kll_partial_union" -> (StatsOps.kllPartialUnion _),
    "theta_overlap"     -> (StatsOps.thetaOverlap _),
    "hll_overlap"       -> (StatsOps.hllOverlap _),
    "null_safe_join"    -> (RelationalOps.nullSafeJoin _),
    "variant_extract"   -> (ParseOps.variantExtract _),
    "array_hof"         -> (ParseOps.arrayHof _),
    "try_funcs"         -> (ParseOps.tryFuncs _),
    "pivot_sales"       -> (StatsOps.pivotSales _),
    "unpivot_sales"     -> (StatsOps.unpivotSales _),
    "range_frame_sum"   -> (StatsOps.rangeFrameSum _),
    // ---- user-extension proof points (SURVEY §2.5 UDF/UDAF/UDTF) ----
    "udf_score"         -> (CustomOps.udfScore _),
    "agg_custom_vwap"   -> (CustomOps.aggCustomVwap _),
    "explode_tokens"    -> (CustomOps.explodeTokens _),
    "json_map_keys"     -> (CustomOps.jsonMapKeys _),
    "typed_max_gap"     -> (CustomOps.typedMaxGap _),
    "typed_cogroup"     -> (CustomOps.typedCogroup _),
    // ---- text analysis (north-star extensions) ----
    "text_stats"        -> (TextOps.textStats _),
    "token_count"       -> (TextOps.tokenCount _),
    "lang_id"           -> (TextOps.langId _),
    "quality_score"     -> (TextOps.qualityScore _),
    "preference_pairs"  -> (TextOps.preferencePairs _),
    "source_winrate"    -> (TextOps.sourceWinrate _),
    "gopher_rules"      -> (QualityOps.gopherRules _),
    "doc_fingerprint"   -> (TextOps.docFingerprint _),
    "dedup_doc_exact"   -> (TextOps.dedupDocExact _),
    "text_normalize"    -> (TextOps.textNormalize _),
    "pii_redact"        -> (TextOps.piiRedact _),
    "length_histogram"  -> (TextOps.lengthHistogram _),
    "string_agg"        -> (TextOps.stringAgg _),
    "explode_emails"    -> (TextOps.explodeEmails _),
    // ---- near-dup dedup (north-star extensions) ----
    "minhash_neardup"   -> (DedupOps.minhashNeardup _),
    "simhash"           -> (DedupOps.simhash _),
    "simhash_neardup"   -> (DedupOps.simhashNeardup _),
    "ngram_jaccard"     -> (DedupOps.ngramJaccard _),
    "rouge_eval"        -> (TextOps.rougeEval _),
    "rouge_l_eval"      -> (TextOps.rougeLEval _),
    "bleu_eval"         -> (TextOps.bleuEval _),
    "ngram_containment" -> (DedupOps.ngramContainment _),
    "containment_lsh"   -> (DedupOps.containmentLsh _), // rows-only: LSH candidate stream
    "lsh_tuning_curve"  -> (DedupOps.lshTuningCurve _), // rows-only: xxhash-banded candidates
    "dedup_clusters"    -> (DedupOps.dedupClusters _),
    "dedup_clusters_lsh" -> (DedupOps.dedupClustersLsh _),
    "sql_recursive_closure" -> (DedupOps.sqlRecursiveClosure _),
    // ---- similarity search (north-star extensions) ----
    "knn_cosine"        -> (SimilarityOps.knnCosine _),
    "hybrid_rrf"        -> (SimilarityOps.hybridRrf _),
    "bm25_topk"         -> ((s: SparkSession, d: String) => SimilarityOps.bm25TopK(s, d)),
    "hybrid_rrf3"       -> (SimilarityOps.hybridRrf3 _),
    "ndcg_eval"         -> (SimilarityOps.ndcgEval _),
    "rbo_eval"          -> (SimilarityOps.rboEval _),
    "ann_recall_curve"  -> (SimilarityOps.annRecallCurve _),
    "hard_negatives"    -> (SimilarityOps.hardNegatives _),
    "embed_drift"       -> (SimilarityOps.embedDrift _),
    "filtered_knn"      -> (SimilarityOps.filteredKnn _),
    "ann_lsh"           -> (SimilarityOps.annLsh _),
    "ann_ivf"           -> (SimilarityOps.annIvf _),
    "embed_neardup"     -> (SimilarityOps.embedNeardup _),
    "int8_quantize"     -> (SimilarityOps.int8Quantize _),
    "mrl_truncate"      -> (SimilarityOps.mrlTruncate _),
    "quality_classifier" -> (ClassifierOps.qualityClassifier _),
    "semantic_outliers" -> (SimilarityOps.semanticOutliers _),
    "centroid_confusion" -> (SimilarityOps.centroidConfusion _),
    "kmeans_embed"      -> ((s, d) => SimilarityOps.kmeansEmbed(s, d)),
    "ann_ivf_flat"      -> (SimilarityOps.annIvfFlat _),
    "cluster_balanced_sample" -> ((s, d) => SimilarityOps.clusterBalancedSample(s, d)),
    "corpus_shuffle"    -> (PipelineOps.corpusShuffle _),
    "shuffle_audit"     -> (PipelineOps.shuffleAudit _),
    "compression_ratio" -> (QualityOps.compressionRatio _),
    "dataset_card"      -> (PipelineOps.datasetCard _),
    "ann_index_upsert"  -> (SimilarityOps.annIndexUpsert _),
    // ---- dataset preparation (north-star extensions) ----
    "train_test_split"  -> (PipelineOps.trainTestSplit _),
    "cv_folds"          -> (PipelineOps.cvFolds _),
    "batch_padding"     -> (PipelineOps.batchPadding _),
    "stratified_sample" -> (PipelineOps.stratifiedSample _),
    "pps_sample"        -> (PipelineOps.ppsSample _),
    "tfidf_top_terms"   -> (PipelineOps.tfidfTopTerms _),
    "char_ngrams"       -> (PipelineOps.charNgrams _),
    "freq_tokens"       -> (PipelineOps.freqTokens _),
    "dedup_keep_best"   -> (PipelineOps.dedupKeepBest _),
    "pack_sequences"    -> (PipelineOps.packSequences _),
    "pack_efficiency"   -> (PipelineOps.packEfficiency _),
    "span_corruption"   -> (PipelineOps.spanCorruption _),
    "contamination_check" -> (PipelineOps.contaminationCheck _),
    "decontaminate_train" -> (PipelineOps.decontaminateTrain _),
    "incremental_dedup"  -> (DedupOps.incrementalDedup _),
    "exact_substr_spans" -> (DedupOps.exactSubstrSpans _),
    "repetition_score"  -> (PipelineOps.repetitionScore _),
    "token_budget_select" -> (PipelineOps.tokenBudgetSelect _),
    "corpus_clean"      -> (PipelineOps.corpusClean _),
    "corpus_pipeline"   -> (PipelineOps.corpusPipeline _),
    "anchor_dedup"      -> (PipelineOps.anchorDedup _),
    "source_mix"        -> (PipelineOps.sourceMix _),
    "sample_per_group"  -> (PipelineOps.samplePerGroup _),
    "split_drift"       -> (PipelineOps.splitDrift _),
    "bigram_lm"         -> (PipelineOps.bigramLm _),
    "merge_upsert_batch" -> (RelationalOps.mergeUpsertBatch _),
    "merge_full_triad"  -> (RelationalOps.mergeFullTriad _),
    "lm_familiarity"    -> (PipelineOps.lmFamiliarity _),
    "ngram_diversity"   -> (PipelineOps.ngramDiversity _),
    "length_band_filter" -> (PipelineOps.lengthBandFilter _),
    "doc_chunks"        -> (PipelineOps.docChunks _),
    "chunk_dedup"       -> (PipelineOps.chunkDedup _),
    "mix_rebalance"     -> (PipelineOps.mixRebalance _),
    "mixture_plan"      -> (PipelineOps.mixturePlan _),
    "temperature_mix"   -> (PipelineOps.temperatureMix _),
    "source_overlap"    -> (PipelineOps.sourceOverlap _),
    "url_normalize"     -> (CrawlOps.urlNormalize _),
    "domain_stats"      -> (CrawlOps.domainStats _),
    "html_extract"      -> (CrawlOps.htmlExtract _),
    "link_graph"        -> (CrawlOps.linkGraph _),
    "oov_rate"          -> (PipelineOps.oovRate _),
    "passage_dedup"     -> (PipelineOps.passageDedup _),
    "incremental_agg_merge" -> (PipelineOps.incrementalAggMerge _),
    "label_centroids"   -> (SimilarityOps.labelCentroids _),
    "ann_pq"            -> (SimilarityOps.annPq _),
    "ann_ivfpq"         -> (SimilarityOps.annIvfPq _),
    "ann_ivfpq_indexed" -> (SimilarityOps.annIvfPqIndexed _),
    // ---- storage-layout operators (bucketing / partition pruning) ----
    "bucketed_join"     -> (StorageOps.bucketedJoin _),
    "partition_prune"   -> (StorageOps.partitionPrune _),
    "dpp_join"          -> (StorageOps.dppJoin _),
    "zorder_key"        -> (StorageOps.zorderKey _),
    "hilbert_key"       -> (StorageOps.hilbertKey _),
    "zorder_scan"       -> (StorageOps.zorderScan _),
    "hilbert_scan"      -> (StorageOps.hilbertScan _),
    "compaction_scan"   -> (StorageOps.compactionScan _),
    "compaction_plan"   -> (StorageOps.compactionPlan _),
    // ---- multimodal plumbing (north-star extensions) ----
    "multimodal_meta"   -> (MultimodalOps.multimodalMeta _),
    "video_meta"        -> (MultimodalOps.videoMeta _),
    "video_frame_sample" -> (MultimodalOps.videoFrameSample _),
    "av_sync_check"     -> (MultimodalOps.avSyncCheck _),
    "media_resize"      -> (MultimodalOps.mediaResize _),
    "feature_extract"   -> (MultimodalOps.featureExtract _),
    "media_phash_dedup" -> (MultimodalOps.mediaPhashDedup _),
    "media_thumbnail"   -> (MultimodalOps.mediaThumbnail _),
    "image_features"    -> (MultimodalOps.imageFeatures _),
    "jpeg_features"     -> (MultimodalOps.jpegFeatures _),
    "audio_meta"        -> (AudioOps.audioMeta _),
    "audio_resample"    -> (AudioOps.audioResample _),
    "audio_fingerprint" -> (AudioOps.audioFingerprint _),
    "audio_vad"         -> (AudioOps.audioVad _),
  )

  /** Shared candle-cents CTE for the technical-indicator oracles: the
    * 1-minute close and volume as exact integer units, mirroring
    * IndicatorOps.closes (round before the integer cast — close×100 can sit
    * a hair below the integer it represents).
    */
  private val IndicatorCandleCte =
    """WITH t AS (
      |  SELECT ts, event_type AS symbol,
      |         CAST(value AS DECIMAL(18,2)) AS price,
      |         CAST(json_extract_string(props, '$.k') AS DECIMAL(18,0)) AS quantity
      |  FROM events),
      |c AS (
      |  SELECT date_trunc('minute', ts) AS window_start, symbol,
      |    CAST(round(CAST(arg_max(price, ts) AS DOUBLE) * 100) AS BIGINT) AS x,
      |    CAST(round(CAST(max(price) AS DOUBLE) * 100) AS BIGINT) AS hi,
      |    CAST(round(CAST(min(price) AS DOUBLE) * 100) AS BIGINT) AS lo,
      |    CAST(round(CAST(sum(quantity) AS DOUBLE)) AS BIGINT) AS vol
      |  FROM t GROUP BY 1, 2),
      |""".stripMargin

  /** cci_20 oracle, generated so the 20 unrolled lag terms mirror the Spark
    * projection exactly (same structure as [[TsPatternSql]]); 0.015 is
    * written 1.5e-2 so DuckDB parses DOUBLE, not DECIMAL.
    */
  private val Cci20Sql: String = {
    val K = 20
    val lags = (0 until K).map(k =>
      if (k == K - 1) s"tp3 AS t${K - 1}"
      else s"lag(tp3, ${K - 1 - k}) OVER w AS t$k").mkString(",\n|    ")
    val s20 = (0 until K).map(i => s"t$i").mkString(" + ")
    val dev = (0 until K).map(i => s"abs(20 * t$i - s20)").mkString(" + ")
    (IndicatorCandleCte +
      s"""d AS (
      |  SELECT symbol, window_start, hi + lo + x AS tp3 FROM c),
      |l AS (
      |  SELECT symbol, window_start,
      |    $lags
      |  FROM d WINDOW w AS (PARTITION BY symbol ORDER BY window_start)),
      |s AS (
      |  SELECT *, $s20 AS s20 FROM l WHERE t0 IS NOT NULL),
      |e AS (
      |  SELECT symbol, window_start, t${K - 1}, s20, $dev AS dev FROM s)
      |SELECT symbol, window_start,
      |  CASE WHEN dev <> 0
      |       THEN CAST((20 * t${K - 1} - s20) * 20 AS DOUBLE)
      |            / (1.5e-2 * CAST(dev AS DOUBLE))
      |  END AS cci
      |FROM e""").stripMargin
  }

  /** ts_pattern_search oracle, generated so the 8 z-terms and the pattern
    * literals are symbol-for-symbol the Spark expression (Double.toString
    * round-trips exactly in both parsers).
    */
  private val TsPatternSql: String = {
    val K = 8
    val q = (0 until K).map(i => (i - 3.5) / math.sqrt(5.25))
    val lags = (0 until K).map(k =>
      if (k == K - 1) s"x AS x${K - 1}"
      else s"lag(x, ${K - 1 - k}) OVER w AS x$k").mkString(",\n|    ")
    val s1 = (0 until K).map(i => s"x$i").mkString(" + ")
    val s2 = (0 until K).map(i => s"x$i * x$i").mkString(" + ")
    val dist = (0 until K).map { i =>
      val z = s"((CAST(x$i AS DOUBLE) - m) / sd - (${q(i)}))"
      s"$z * $z"
    }.mkString("\n|    + ")
    (IndicatorCandleCte +
      s"""w AS (
      |  SELECT symbol, window_start,
      |    $lags
      |  FROM c WINDOW w AS (PARTITION BY symbol ORDER BY window_start)),
      |f AS (
      |  SELECT symbol, window_start, ${(0 until K).map(i => s"x$i").mkString(", ")},
      |    $s1 AS s1, $s2 AS s2
      |  FROM w WHERE x0 IS NOT NULL),
      |g AS (
      |  SELECT symbol, window_start, ${(0 until K).map(i => s"x$i").mkString(", ")},
      |    CAST(s1 AS DOUBLE) / 8.0 AS m,
      |    sqrt((CAST(s2 AS DOUBLE) * 8.0 - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE))
      |         / 64.0) AS sd
      |  FROM f WHERE s2 * 8 - s1 * s1 <> 0)
      |SELECT symbol, window_start,
      |    $dist AS dist
      |FROM g ORDER BY dist, symbol, window_start LIMIT 20""").stripMargin
  }

  /** One probe oracle shared STRUCTURALLY by compaction_scan and the three
    * format round-trip sources — a layout/format change must never change
    * results, and a single constant makes that identity uneditable apart.
    */
  private val FormatProbeSql: String =
    """SELECT event_type,
      |  CAST(count(*) AS BIGINT) AS n_events,
      |  min(event_id) AS min_event,
      |  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
      |FROM events GROUP BY event_type""".stripMargin

  /** Shared CTE prefix for the kmeans family: seeds + 3 Lloyd rounds +
    * the converged assignment `af(vec_id, v, cid, d2)` — kmeans_embed
    * aggregates it, cluster_balanced_sample ranks inside it.
    */
  private val KmeansCteSql: String =
    ("""WITH e AS (SELECT vec_id,
      |             list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
      |           FROM embeddings),
      |c0 AS (SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INTEGER)
      |         AS cid, v AS cv
      |       FROM e ORDER BY vec_id LIMIT 8),
      |""" +
      (1 to 3).map { i =>
        s"""a$i AS (SELECT vec_id, v, cid FROM (
           |        SELECT e.vec_id, e.v, c.cid,
           |          row_number() OVER (PARTITION BY e.vec_id ORDER BY
           |            list_sum(list_transform(list_zip(e.v, c.cv),
           |              p -> (p[1]-p[2])*(p[1]-p[2]))), c.cid) AS rn
           |        FROM e, c${i - 1} c) WHERE rn = 1),
           |c$i AS (SELECT cid, list(cd ORDER BY dim) AS cv FROM (
           |        SELECT cid, dim, CAST(sum(xq) AS DOUBLE)/count(*)/1e6 AS cd
           |        FROM (SELECT a.cid, generate_subscripts(a.v, 1) AS dim,
           |                CAST(floor(unnest(a.v) * 1e6) AS BIGINT) AS xq
           |              FROM a$i a)
           |        GROUP BY cid, dim) GROUP BY cid),
           |""".stripMargin
      }.mkString +
      """af AS (SELECT vec_id, cid, d2 FROM (
      |        SELECT e.vec_id, c.cid,
      |          list_sum(list_transform(list_zip(e.v, c.cv),
      |            p -> (p[1]-p[2])*(p[1]-p[2]))) AS d2,
      |          row_number() OVER (PARTITION BY e.vec_id ORDER BY
      |            list_sum(list_transform(list_zip(e.v, c.cv),
      |              p -> (p[1]-p[2])*(p[1]-p[2]))), c.cid) AS rn
      |        FROM e, c3 c) WHERE rn = 1)
      |""").stripMargin

  val oracleSql: Map[String, String] = Map(
    "ts_pattern_search" -> TsPatternSql,
    "ohlcv_1min" ->
      """WITH t AS (
        |  SELECT ts, event_type AS symbol,
        |         CAST(value AS DECIMAL(18,2)) AS price,
        |         CAST(json_extract_string(props, '$.k') AS DECIMAL(18,0)) AS quantity
        |  FROM events)
        |SELECT date_trunc('minute', ts) AS window_start,
        |  date_trunc('minute', ts) + INTERVAL 1 MINUTE AS window_end, symbol,
        |  CAST(arg_min(price, ts) AS DOUBLE) AS open_price,
        |  CAST(max(price) AS DOUBLE) AS high_price,
        |  CAST(min(price) AS DOUBLE) AS low_price,
        |  CAST(arg_max(price, ts) AS DOUBLE) AS close_price,
        |  CAST(sum(quantity) AS DOUBLE) AS total_volume,
        |  count(*) AS n_trades,
        |  CASE WHEN sum(quantity) <> 0
        |       THEN CAST(sum(price * quantity) AS DOUBLE) / CAST(sum(quantity) AS DOUBLE)
        |  END AS vwap
        |FROM t GROUP BY 1, 2, 3""".stripMargin,
    "open_close" ->
      """WITH t AS (
        |  SELECT ts, event_type AS symbol, CAST(value AS DECIMAL(18,2)) AS price
        |  FROM events)
        |SELECT date_trunc('minute', ts) AS window_start, symbol,
        |  CAST(arg_min(price, ts) AS DOUBLE) AS open_price,
        |  CAST(arg_max(price, ts) AS DOUBLE) AS close_price
        |FROM t GROUP BY 1, 2""".stripMargin,
    "vwap" ->
      """WITH t AS (
        |  SELECT event_type AS symbol,
        |         CAST(value AS DECIMAL(18,2)) AS price,
        |         CAST(json_extract_string(props, '$.k') AS DECIMAL(18,0)) AS quantity
        |  FROM events)
        |SELECT symbol,
        |  CAST(sum(quantity) AS DOUBLE) AS total_volume,
        |  CASE WHEN sum(quantity) <> 0
        |       THEN CAST(sum(price * quantity) AS DOUBLE) / CAST(sum(quantity) AS DOUBLE)
        |  END AS vwap
        |FROM t GROUP BY 1""".stripMargin,
    "count_rows" ->
      "SELECT event_type, count(*) AS n_rows FROM events GROUP BY 1",
    "freshness_check" ->
      """SELECT count(*) AS fresh_rows FROM events
        |WHERE ts >= TIMESTAMP '2024-01-15 00:00:00' - INTERVAL 3 MINUTE
        |  AND ts <  TIMESTAMP '2024-01-15 00:00:00'""".stripMargin,
    "json_parse" ->
      """SELECT event_id, event_type,
        |  json_extract_string(props, '$.k') AS k_str,
        |  CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
        |FROM events""".stripMargin,
    "decimal_cast" ->
      """SELECT event_id,
        |  CAST(CAST(json_extract_string(props, '$.k') AS DECIMAL(20,8)) AS DOUBLE) AS k_dec
        |FROM events""".stripMargin,
    "epoch_to_ts" ->
      """SELECT event_id, epoch_ms(ts) AS epoch_ms,
        |  make_timestamp(epoch_ms(ts) * 1000) AS ts_ms
        |FROM events""".stripMargin,
    "filter_event_type" ->
      """SELECT event_id, user_id, event_type, value FROM events
        |WHERE event_type = 'purchase'""".stripMargin,
    "derived_mul" ->
      """SELECT event_id,
        |  CAST(CAST(value AS DECIMAL(18,2))
        |       * CAST(json_extract_string(props, '$.k') AS DECIMAL(18,0)) AS DOUBLE)
        |    AS trade_value
        |FROM events""".stripMargin,
    "string_funcs" ->
      """SELECT c_custkey,
        |  upper(c_mktsegment) AS seg_upper,
        |  lower(c_name) AS name_lower,
        |  substring(c_name, 1, 8) AS name_prefix,
        |  CAST(length(c_name) AS INTEGER) AS name_len,
        |  concat_ws('-', c_mktsegment, c_name) AS seg_name,
        |  trim(c_name) AS name_trim,
        |  replace(c_name, 'Customer', 'Cust') AS name_repl
        |FROM customer WHERE c_name LIKE '%1%'""".stripMargin,
    "date_funcs" ->
      """SELECT o_orderkey,
        |  CAST(year(o_orderdate) AS INTEGER) AS o_year,
        |  CAST(month(o_orderdate) AS INTEGER) AS o_month,
        |  CAST(day(o_orderdate) AS INTEGER) AS o_day,
        |  CAST(quarter(o_orderdate) AS INTEGER) AS o_quarter,
        |  date_trunc('month', o_orderdate) AS o_month_start,
        |  CAST(datediff('day', DATE '1995-01-01', CAST(o_orderdate AS DATE)) AS INTEGER)
        |    AS days_since_95
        |FROM orders""".stripMargin,
    "math_funcs" ->
      """SELECT l_orderkey,
        |  abs(l_extendedprice * -1) AS abs_price,
        |  CAST(floor(l_extendedprice) AS BIGINT) AS floor_price,
        |  CAST(ceil(l_extendedprice) AS BIGINT) AS ceil_price,
        |  CAST(round(CAST(l_extendedprice AS DECIMAL(18,2)), 1) AS DOUBLE) AS round_price,
        |  sqrt(l_extendedprice) AS sqrt_price,
        |  pow(l_quantity, 2) AS qty_sq
        |FROM lineitem WHERE l_linenumber = 1""".stripMargin,
    "json_extract" ->
      """SELECT event_id, CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
        |FROM events WHERE CAST(json_extract_string(props, '$.k') AS BIGINT) > 50""".stripMargin,
    // the oracle is the identity projection: the op's point is that the
    // to_xml → from_xml round-trip is lossless for long/double/string
    "xml_funcs" ->
      """SELECT event_id, event_type AS rt_type, value AS rt_value
        |FROM events WHERE value > 50.0""".stripMargin,
    "agg_groupby" ->
      """SELECT l_returnflag, l_linestatus,
        |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))
        |           * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS sum_disc_price,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))
        |           * (1 - CAST(l_discount AS DECIMAL(18,2)))
        |           * (1 + CAST(l_tax AS DECIMAL(18,2)))) AS DOUBLE) AS sum_charge,
        |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / count(*) AS avg_qty,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) / count(*) AS avg_price,
        |  CAST(sum(CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE) / count(*) AS avg_disc,
        |  count(*) AS count_order
        |FROM lineitem
        |WHERE l_shipdate <= TIMESTAMP '2001-09-02 00:00:00'
        |GROUP BY 1, 2""".stripMargin,
    "count_distinct" ->
      "SELECT event_type, count(DISTINCT user_id) AS n_users FROM events GROUP BY 1",
    "rollup_sales" ->
      """SELECT l_returnflag, l_linestatus,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price,
        |  count(*) AS n_items
        |FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)""".stripMargin,
    "cube_sales" ->
      """SELECT l_returnflag, l_linestatus,
        |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        |  count(*) AS n_items
        |FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)""".stripMargin,
    "join_inner" ->
      """SELECT c_mktsegment,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))
        |           * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue,
        |  count(*) AS n_items
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |GROUP BY 1""".stripMargin,
    // bloom false positives are removed by the exact join, so the oracle
    // is the PLAIN join — the prefilter must be result-invisible
    "bloom_prefilter_join" ->
      """SELECT o_orderpriority,
        |  count(*) AS n_orders,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
        |FROM orders
        |JOIN customer ON o_custkey = c_custkey
        |WHERE c_mktsegment = 'BUILDING'
        |GROUP BY 1""".stripMargin,
    "join_left" ->
      """SELECT o_orderkey,
        |  COALESCE(cnt, 0) AS n_items,
        |  COALESCE(CAST(qty AS DOUBLE), 0.0) AS sum_qty
        |FROM orders LEFT JOIN (
        |  SELECT l_orderkey, count(*) AS cnt,
        |         sum(CAST(l_quantity AS DECIMAL(18,2))) AS qty
        |  FROM lineitem GROUP BY 1) l ON o_orderkey = l_orderkey""".stripMargin,
    "join_semi" ->
      """SELECT c_custkey, c_name, c_mktsegment FROM customer
        |WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)""".stripMargin,
    "join_anti" ->
      """SELECT c_custkey, c_name, c_mktsegment FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)""".stripMargin,
    "join_dims" ->
      """SELECT r_name, n_name, count(*) AS n_customers,
        |  CAST(sum(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS sum_acctbal
        |FROM customer
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |GROUP BY 1, 2""".stripMargin,
    "topk_rank" ->
      """SELECT o_custkey, o_orderkey, o_totalprice, CAST(rk AS INTEGER) AS rk FROM (
        |  SELECT o_custkey, o_orderkey, o_totalprice,
        |    row_number() OVER (PARTITION BY o_custkey
        |                       ORDER BY o_totalprice DESC, o_orderkey) AS rk
        |  FROM orders) t WHERE rk <= 3""".stripMargin,
    "moving_avg" ->
      """SELECT user_id, event_id, value,
        |  CAST(sum(CAST(value AS DECIMAL(18,2))) OVER w_frame AS DOUBLE)
        |    / count(*) OVER w_frame AS moving_avg,
        |  lag(value, 1) OVER w AS prev_value,
        |  lead(value, 1) OVER w AS next_value
        |FROM events
        |WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id),
        |  w_frame AS (PARTITION BY user_id ORDER BY ts, event_id
        |              ROWS BETWEEN 2 PRECEDING AND CURRENT ROW)""".stripMargin,
    "orderby_limit" ->
      """SELECT o_orderkey, o_custkey, o_totalprice FROM orders
        |ORDER BY o_totalprice DESC, o_orderkey LIMIT 10""".stripMargin,
    "union_all" ->
      """SELECT kind, count(*) AS n, CAST(sum(key) AS BIGINT) AS key_sum FROM (
        |  SELECT 'customer' AS kind, c_custkey AS key FROM customer
        |  UNION ALL
        |  SELECT 'supplier' AS kind, s_suppkey AS key FROM supplier) t
        |GROUP BY 1""".stripMargin,
    "intersect_keys" ->
      "SELECT c_custkey FROM customer INTERSECT SELECT o_custkey FROM orders",
    "except_keys" ->
      "SELECT c_custkey FROM customer EXCEPT SELECT o_custkey FROM orders",
    "except_all_keys" ->
      """SELECT k, count(*) AS n FROM (
        |  SELECT o_orderkey % 100 AS k FROM orders
        |  EXCEPT ALL
        |  SELECT l_orderkey % 100 AS k FROM lineitem) t
        |GROUP BY 1""".stripMargin,
    "intersect_all_keys" ->
      """SELECT k, count(*) AS n FROM (
        |  SELECT o_orderkey % 100 AS k FROM orders
        |  INTERSECT ALL
        |  SELECT l_orderkey % 100 AS k FROM lineitem) t
        |GROUP BY 1""".stripMargin,
    "null_funcs" ->
      """SELECT o_orderkey,
        |  COALESCE(cnt, 0) AS cnt_or_zero,
        |  cnt IS NULL AS is_missing,
        |  NULLIF(o_orderstatus, 'O') AS status_nullif_o,
        |  CASE WHEN cnt IS NOT NULL THEN 'has_items' ELSE 'empty' END AS nvl2_style
        |FROM orders LEFT JOIN (
        |  SELECT l_orderkey, count(*) AS cnt FROM lineitem GROUP BY 1) l
        |  ON o_orderkey = l_orderkey""".stripMargin,
    "array_funcs" ->
      """SELECT user_id,
        |  array_to_string(list_sort(list(event_type)), ',') AS types,
        |  CAST(len(list(event_type)) AS INTEGER) AS n_types,
        |  array_to_string(list_sort(list(DISTINCT event_type)), ',') AS distinct_types
        |FROM events GROUP BY 1""".stripMargin,
    "dedup_exact" ->
      """SELECT user_id, event_type,
        |  arg_min(event_id, ts) AS first_event_id,
        |  arg_min(value, ts) AS first_value,
        |  count(*) AS n_dups
        |FROM events GROUP BY 1, 2""".stripMargin,
    "asof_price" ->
      """SELECT event_id, user_id, ts, asof_value FROM (
        |  SELECT event_id, user_id, ts, event_type,
        |    last_value(CASE WHEN event_type = 'purchase' THEN value END IGNORE NULLS)
        |      OVER (PARTITION BY user_id ORDER BY ts, event_id
        |            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS asof_value
        |  FROM events) t WHERE event_type = 'signup'""".stripMargin,
    "asof_join_price" ->
      """WITH s AS (SELECT event_id, user_id, ts FROM events WHERE event_type = 'signup'),
        |p AS (SELECT user_id, ts, max_by(value, event_id) AS value
        |      FROM events WHERE event_type = 'purchase' GROUP BY 1, 2)
        |SELECT s.event_id, s.user_id, s.ts, p.value AS asof_value
        |FROM s ASOF LEFT JOIN p ON s.user_id = p.user_id AND s.ts >= p.ts""".stripMargin,
    "range_join" ->
      """WITH p AS (SELECT event_id AS p_event_id, user_id AS p_user_id, ts AS p_ts
        |           FROM events WHERE event_type = 'purchase'),
        |pr AS (SELECT p_event_id, count(*) AS n_prior,
        |         CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS prior_value
        |       FROM p JOIN events e ON e.user_id = p.p_user_id
        |         AND e.ts >= p.p_ts - INTERVAL 1 HOUR AND e.ts < p.p_ts
        |       GROUP BY 1)
        |SELECT p.p_event_id AS event_id,
        |  CAST(coalesce(pr.n_prior, 0) AS BIGINT) AS n_prior,
        |  pr.prior_value
        |FROM p LEFT JOIN pr USING (p_event_id)""".stripMargin,
    "window_first_last" ->
      """SELECT event_id, user_id,
        |  first_value(event_id) OVER full_w AS first_event,
        |  last_value(event_id) OVER full_w AS last_event,
        |  lag(value, 1) OVER ord_w AS prev_value,
        |  lead(value, 1) OVER ord_w AS next_value
        |FROM events
        |WINDOW
        |  ord_w AS (PARTITION BY user_id ORDER BY ts, event_id),
        |  full_w AS (PARTITION BY user_id ORDER BY ts, event_id
        |             ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)""".stripMargin,
    "date_arith" ->
      """SELECT o_orderkey,
        |  CAST(CAST(o_orderdate AS DATE) + 30 AS VARCHAR) AS due_30d,
        |  CAST(CAST(CAST(o_orderdate AS DATE) + INTERVAL 2 MONTH AS DATE) AS VARCHAR) AS due_2mo,
        |  CAST(last_day(CAST(o_orderdate AS DATE)) AS VARCHAR) AS month_end,
        |  CAST(CAST(date_trunc('quarter', o_orderdate) AS DATE) AS VARCHAR) AS quarter_start
        |FROM orders""".stripMargin,
    "explode_emails" ->
      """SELECT doc_id, unnest(
        |  CASE WHEN text IS NULL
        |         OR len(regexp_extract_all(text, '[a-z0-9._-]+@[a-z0-9.-]+\.[a-z]+')) = 0
        |       THEN [NULL]
        |       ELSE regexp_extract_all(text, '[a-z0-9._-]+@[a-z0-9.-]+\.[a-z]+')
        |  END) AS email
        |FROM documents""".stripMargin,
    "freq_tokens" ->
      """WITH toks AS (
        |  SELECT unnest(string_split(trim(text), ' ')) AS term FROM documents),
        |c AS (SELECT term, CAST(count(*) AS BIGINT) AS cnt FROM toks
        |      WHERE term <> '' GROUP BY 1),
        |t AS (SELECT count(*) AS total FROM toks WHERE term <> '')
        |SELECT term, cnt FROM c, t WHERE cnt > total * 0.01""".stripMargin,
    "range_frame_sum" ->
      """SELECT o_orderkey, o_orderpriority, o_totalprice,
        |  CAST(count(*) OVER w AS BIGINT) AS n_nearby,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) OVER w AS DOUBLE) AS sum_nearby
        |FROM orders
        |WINDOW w AS (PARTITION BY o_orderpriority ORDER BY o_totalprice
        |             RANGE BETWEEN 1000 PRECEDING AND CURRENT ROW)""".stripMargin,
    "cross_join_dims" ->
      """SELECT r_regionkey, r_name, n_nationkey, n_name
        |FROM region CROSS JOIN nation""".stripMargin,
    "exists_subquery" ->
      """SELECT c_custkey, c_name FROM customer c
        |WHERE EXISTS (SELECT 1 FROM orders o
        |              WHERE o.o_custkey = c.c_custkey
        |                AND o.o_totalprice > 300000)""".stripMargin,
    "not_in_subquery" ->
      """SELECT c_custkey, c_mktsegment FROM customer
        |WHERE c_custkey NOT IN (SELECT o_custkey FROM orders
        |                        WHERE o_totalprice > 400000)""".stripMargin,
    "conditional_agg" ->
      """SELECT event_type,
        |  CAST(count(CASE WHEN value > 50 THEN 1 END) AS BIGINT) AS n_high,
        |  CAST(count(CASE WHEN value <= 50 THEN 1 END) AS BIGINT) AS n_low,
        |  CAST(sum(CASE WHEN value > 50 THEN CAST(value AS DECIMAL(18,2)) END)
        |    AS DOUBLE) AS sum_high,
        |  max(CASE WHEN user_id % 2 = 0 THEN value END) AS max_even_user
        |FROM events GROUP BY 1""".stripMargin,
    "string_agg" ->
      """SELECT lang,
        |  array_to_string(list_transform(list_sort(list(doc_id))[1:3],
        |                  x -> CAST(x AS VARCHAR)), ',') AS first_docs,
        |  CAST(count(*) AS BIGINT) AS n_docs
        |FROM documents GROUP BY 1""".stripMargin,
    "unpivot_sales" ->
      """WITH wide AS (
        |  SELECT l_returnflag,
        |    CAST(sum(CASE WHEN l_linestatus = 'F'
        |             THEN CAST(l_quantity AS DECIMAL(18,2)) END) AS DOUBLE) AS qty_f,
        |    CAST(sum(CASE WHEN l_linestatus = 'O'
        |             THEN CAST(l_quantity AS DECIMAL(18,2)) END) AS DOUBLE) AS qty_o
        |  FROM lineitem GROUP BY 1)
        |SELECT l_returnflag, metric, qty FROM (
        |  SELECT l_returnflag, 'qty_f' AS metric, qty_f AS qty FROM wide
        |  UNION ALL
        |  SELECT l_returnflag, 'qty_o' AS metric, qty_o AS qty FROM wide) u
        |WHERE qty IS NOT NULL""".stripMargin,
    "join_full" ->
      """WITH o AS (SELECT o_orderkey, o_totalprice FROM orders
        |           WHERE o_totalprice > 200000),
        |l AS (SELECT l_orderkey, CAST(count(*) AS BIGINT) AS n_big_items
        |      FROM lineitem WHERE l_quantity > 45 GROUP BY 1)
        |SELECT o.o_orderkey, o.o_totalprice, l.l_orderkey, l.n_big_items
        |FROM o FULL JOIN l ON o.o_orderkey = l.l_orderkey""".stripMargin,
    // key-cluster sampled join-size estimator: sampled keys from the
    // shared multiplicative hash, HT scale-up 100/p, exact twin beside it
    "join_size_estimate" ->
      s"""WITH o AS (SELECT o_orderkey AS k FROM orders),
         |l AS (SELECT l_orderkey AS k FROM lineitem),
         |a AS (SELECT CAST(count(*) AS BIGINT) AS actual_rows
         |      FROM o JOIN l USING (k)),
         |sm AS (SELECT CAST(count(*) AS BIGINT) AS sample_rows
         |      FROM o JOIN l USING (k)
         |      WHERE (k % 1000000007) * 2654435761 % 1000000007 % 100
         |        < ${RelationalOps.JoinSamplePct})
         |SELECT actual_rows, sample_rows,
         |  sample_rows * ${100L / RelationalOps.JoinSamplePct} AS est_rows,
         |  CASE WHEN actual_rows <> 0
         |    THEN CAST(sample_rows * ${100L / RelationalOps.JoinSamplePct}
         |           AS DOUBLE) / CAST(actual_rows AS DOUBLE)
         |  END AS est_over_actual
         |FROM a, sm""".stripMargin,
    "join_skew_salted" ->
      """SELECT o_orderstatus, CAST(count(*) AS BIGINT) AS n_items,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY 1""".stripMargin,
    "window_rank_funcs" ->
      """SELECT event_id, event_type, CAST(floor(value / 10) AS BIGINT) AS ord,
        |  CAST(rank() OVER w AS INTEGER) AS rk,
        |  CAST(dense_rank() OVER w AS INTEGER) AS drk,
        |  percent_rank() OVER w AS prk,
        |  cume_dist() OVER w AS cd
        |FROM events
        |WINDOW w AS (PARTITION BY event_type ORDER BY floor(value / 10))""".stripMargin,
    "char_ngrams" ->
      """SELECT gram, CAST(count(*) AS BIGINT) AS n FROM (
        |  SELECT unnest(list_transform(range(1, length(text) - 1),
        |                i -> text[i:i+2])) AS gram
        |  FROM documents WHERE length(text) >= 3) t
        |GROUP BY 1 ORDER BY n DESC, gram LIMIT 20""".stripMargin,
    // key pre-reduced mod p before the multiply (same as hashBucket): the
    // product then provably fits in int64 for any BIGINT doc_id on both
    // engines; bucket values are unchanged (pmod(x*m,p) = pmod(pmod(x,p)*m,p))
    // padding audit: both batchings replay as identically-ordered
    // row_number windows; pure integer sums to one boundary division;
    // batch size interpolated
    "batch_padding" -> {
      val b = graft.ops.PipelineOps.PadBatch
      s"""WITH base AS (SELECT doc_id,
        |    (doc_id % 1000000007) * 2654435761 % 1000000007 AS hkey,
        |    CAST(len(string_split(trim(text), ' ')) AS BIGINT) AS toks
        |  FROM documents),
        |g AS (
        |  SELECT count(*) AS cnt, max(toks) AS mx,
        |    CAST(sum(toks) AS BIGINT) AS real_toks
        |  FROM (SELECT toks, toks // 64 AS grp,
        |          row_number() OVER (PARTITION BY toks // 64
        |                             ORDER BY hkey, doc_id) AS rn
        |        FROM base) t
        |  GROUP BY grp, (rn - 1) // $b),
        |h AS (
        |  SELECT count(*) AS cnt, max(toks) AS mx,
        |    CAST(sum(toks) AS BIGINT) AS real_toks
        |  FROM (SELECT toks, hkey % 64 AS grp,
        |          row_number() OVER (PARTITION BY hkey % 64
        |                             ORDER BY hkey, doc_id) AS rn
        |        FROM base) t
        |  GROUP BY grp, (rn - 1) // $b),
        |s AS (
        |  SELECT 'grouped' AS strategy, count(*) AS n_batches,
        |    CAST(sum(real_toks) AS BIGINT) AS real_tokens,
        |    CAST(sum(cnt * mx) AS BIGINT) AS padded_tokens
        |  FROM g
        |  UNION ALL
        |  SELECT 'hash_order', count(*), CAST(sum(real_toks) AS BIGINT),
        |    CAST(sum(cnt * mx) AS BIGINT)
        |  FROM h)
        |SELECT strategy, n_batches, real_tokens, padded_tokens,
        |  CAST(padded_tokens - real_tokens AS DOUBLE)
        |    / CAST(padded_tokens AS DOUBLE) AS waste_frac
        |FROM s""".stripMargin
    },
    // k-fold rotation plan: same multiplicative hash, fold count
    // interpolated; train = broadcast totals minus the fold
    "cv_folds" ->
      s"""WITH f AS (SELECT
        |    CAST((doc_id % 1000000007) * 2654435761 % 1000000007
        |         % ${graft.ops.PipelineOps.CvK} AS INTEGER) AS fold,
        |    CAST(len(string_split(trim(text), ' ')) AS BIGINT) AS toks
        |  FROM documents),
        |p AS (SELECT fold, count(*) AS n_val_docs,
        |        CAST(sum(toks) AS BIGINT) AS n_val_tokens
        |      FROM f GROUP BY fold),
        |t AS (SELECT CAST(sum(n_val_docs) AS BIGINT) AS t_docs,
        |        CAST(sum(n_val_tokens) AS BIGINT) AS t_toks FROM p)
        |SELECT fold, t_docs - n_val_docs AS n_train_docs, n_val_docs,
        |  t_toks - n_val_tokens AS n_train_tokens, n_val_tokens
        |FROM p, t""".stripMargin,
    "train_test_split" ->
      """SELECT doc_id,
        |  CASE WHEN (doc_id % 1000000007) * 2654435761 % 1000000007 % 100 < 80 THEN 'train'
        |       WHEN (doc_id % 1000000007) * 2654435761 % 1000000007 % 100 < 90 THEN 'val'
        |       ELSE 'test' END AS split
        |FROM documents""".stripMargin,
    "stratified_sample" ->
      """SELECT doc_id, lang FROM documents
        |WHERE (doc_id % 1000000007) * 2654435761 % 1000000007 % 100 < 20""".stripMargin,
    "pps_sample" ->
      """SELECT doc_id, n_chars, least(100, n_chars // 20) AS keep_pct
        |FROM documents
        |WHERE (doc_id % 1000000007) * 2654435761 % 1000000007 % 100
        |      < least(100, n_chars // 20)""".stripMargin,
    // span_corruption's mask rule is the pure-BIGINT multiplicative hash
    // of (doc_id, pos) — both engines compute the identical arithmetic,
    // so the islands/span merge is exactly replayable
    "span_corruption" ->
      """WITH t AS (SELECT doc_id, string_split(trim(text), ' ') AS w
        |           FROM documents),
        |p AS (SELECT doc_id,
        |        CAST(unnest(generate_series(1, len(w))) AS BIGINT) AS pos
        |      FROM t),
        |m AS (SELECT doc_id, pos FROM p
        |      WHERE (((((doc_id % 1000000007) * 1000003 + pos) % 1000000007)
        |              * 2654435761) % 1000000007) % 100 < 15),
        |s AS (SELECT doc_id, count(*) AS n_masked,
        |        count(DISTINCT pos - rn) AS n_spans
        |      FROM (SELECT doc_id, pos,
        |              row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS rn
        |            FROM m)
        |      GROUP BY doc_id),
        |n AS (SELECT doc_id, CAST(len(w) AS BIGINT) AS n_tokens FROM t)
        |SELECT n.doc_id, n.n_tokens,
        |  CAST(coalesce(s.n_masked, 0) AS BIGINT) AS n_masked,
        |  CAST(coalesce(s.n_spans, 0) AS BIGINT) AS n_spans,
        |  CAST(coalesce(s.n_masked, 0) AS DOUBLE) / n.n_tokens AS mask_frac,
        |  CAST(n.n_tokens - coalesce(s.n_masked, 0) + coalesce(s.n_spans, 0)
        |       AS BIGINT) AS packed_len
        |FROM n LEFT JOIN s ON s.doc_id = n.doc_id""".stripMargin,
    "pack_sequences" ->
      """SELECT doc_id, lang, CAST(n_tokens AS INTEGER) AS n_tokens,
        |  CAST(cum_before // 2048 AS INTEGER) AS pack_id,
        |  CAST(cum_before % 2048 AS INTEGER) AS pack_offset
        |FROM (
        |  SELECT doc_id, lang, n_tokens,
        |    COALESCE(SUM(n_tokens) OVER (PARTITION BY lang ORDER BY doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum_before
        |  FROM (SELECT doc_id, lang,
        |          len(string_split(trim(text), ' ')) AS n_tokens
        |        FROM documents) t) t2""".stripMargin,
    // window-side packing census: spans exploded per (doc, window), exact
    // integer interval overlaps, one division at the fill-ratio boundary
    "pack_efficiency" ->
      """WITH d AS (SELECT doc_id, lang,
        |             CAST(len(string_split(trim(text), ' ')) AS BIGINT) AS n
        |           FROM documents),
        |c AS (SELECT doc_id, lang, n,
        |        CAST(coalesce(sum(n) OVER (PARTITION BY lang ORDER BY doc_id
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |          AS BIGINT) AS cb
        |      FROM d),
        |e AS (SELECT lang, n, cb,
        |        unnest(range(cb // 2048, (cb + n - 1) // 2048 + 1)) AS p
        |      FROM c),
        |t AS (SELECT lang, CAST(p AS INTEGER) AS pack_id,
        |        least((p + 1) * 2048, cb + n) - greatest(p * 2048, cb) AS tok,
        |        CASE WHEN cb // 2048 = p THEN 1 ELSE 0 END AS starts,
        |        CASE WHEN (cb + n - 1) // 2048 > p THEN 1 ELSE 0 END
        |          AS crosses
        |      FROM e)
        |SELECT lang, pack_id, CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(starts) AS BIGINT) AS n_docs_starting,
        |  CAST(sum(crosses) AS BIGINT) AS n_docs_crossing,
        |  CAST(sum(tok) AS BIGINT) AS n_tokens,
        |  CAST(sum(tok) AS DOUBLE) / 2048 AS fill_ratio
        |FROM t GROUP BY 1, 2""".stripMargin,
    "contamination_check" ->
      """WITH d AS (
        |  SELECT doc_id,
        |    list_distinct(list_transform(range(1, len(w) - 1),
        |      i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS sh_list,
        |    (doc_id % 1000000007) * 2654435761 % 1000000007 % 100 AS bucket
        |  FROM (SELECT doc_id, string_split(trim(text), ' ') AS w FROM documents)
        |  WHERE len(w) >= 3),
        |s AS (SELECT doc_id, bucket, unnest(sh_list) AS sh FROM d),
        |tr AS (SELECT DISTINCT sh FROM s WHERE bucket < 80),
        |te AS (SELECT doc_id, sh FROM s WHERE bucket >= 90)
        |SELECT te.doc_id,
        |  CAST(count(*) AS BIGINT) AS n_shingles,
        |  CAST(count(tr.sh) AS BIGINT) AS n_hits,
        |  CAST(count(tr.sh) AS DOUBLE) / count(*) AS contamination
        |FROM te LEFT JOIN tr ON te.sh = tr.sh
        |GROUP BY 1""".stripMargin,
    // joins on literal window STRINGS where Spark joins on xxhash64 of the
    // same strings — pinning the hash join's semantics (contamination_check
    // precedent); islands pass merges overlapping [pos, pos+19] ranges
    "exact_substr_spans" ->
      """WITH d AS (SELECT doc_id, string_split(trim(text), ' ') AS w FROM documents),
        |t AS (SELECT doc_id, len(w) AS n, w FROM d WHERE len(w) >= 20),
        |wins AS (SELECT doc_id, n, unnest(range(1, n - 18)) AS pos, w FROM t),
        |wh AS (SELECT doc_id, n, pos,
        |         array_to_string(w[pos:pos+19], ' ') AS win FROM wins),
        |dup AS (SELECT win FROM wh GROUP BY win HAVING count(*) > 1),
        |hits AS (SELECT doc_id, n, pos FROM wh JOIN dup USING (win)),
        |sp AS (SELECT doc_id, n, pos,
        |         CASE WHEN pos > coalesce(max(pos + 19) OVER (
        |             PARTITION BY doc_id ORDER BY pos
        |             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -1)
        |           THEN 1 ELSE 0 END AS new_span
        |       FROM hits),
        |sid AS (SELECT doc_id, n, pos,
        |          sum(new_span) OVER (PARTITION BY doc_id ORDER BY pos
        |            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS span_id
        |        FROM sp),
        |spans AS (SELECT doc_id, n, span_id, min(pos) AS s, max(pos) + 19 AS e,
        |            count(*) AS nw
        |          FROM sid GROUP BY 1, 2, 3)
        |SELECT doc_id, CAST(max(n) AS BIGINT) AS n_tokens,
        |  CAST(sum(nw) AS BIGINT) AS n_dup_windows,
        |  CAST(count(*) AS BIGINT) AS n_spans,
        |  CAST(sum(e - s + 1) AS BIGINT) AS dup_tokens,
        |  CAST(sum(e - s + 1) AS DOUBLE) / max(n) AS dup_frac
        |FROM spans GROUP BY 1""".stripMargin,
    "decontaminate_train" ->
      """WITH d AS (
        |  SELECT doc_id,
        |    (doc_id % 1000000007) * 2654435761 % 1000000007 % 100 AS bucket,
        |    string_split(trim(text), ' ') AS w
        |  FROM documents),
        |s AS (SELECT doc_id, bucket,
        |        unnest(list_distinct(list_transform(range(1, len(w) - 1),
        |          i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2]))) AS sh
        |      FROM d WHERE len(w) >= 3),
        |tr AS (SELECT doc_id AS tdoc, sh FROM s WHERE bucket < 80),
        |te AS (SELECT doc_id AS edoc, sh FROM s WHERE bucket >= 90),
        |hot AS (SELECT sh FROM te GROUP BY sh HAVING count(*) > 5),
        |trk AS (SELECT tdoc, sh FROM tr WHERE sh NOT IN (SELECT sh FROM hot)),
        |tek AS (SELECT edoc, sh FROM te WHERE sh NOT IN (SELECT sh FROM hot)),
        |ne AS (SELECT edoc, count(*) AS n_e FROM tek GROUP BY 1),
        |iv AS (SELECT tdoc, edoc, count(*) AS i
        |       FROM trk JOIN tek USING (sh) GROUP BY 1, 2),
        |sc AS (SELECT tdoc, iv.edoc,
        |         CAST(i AS DOUBLE) / n_e AS containment,
        |         row_number() OVER (PARTITION BY tdoc
        |           ORDER BY CAST(i AS DOUBLE) / n_e DESC, iv.edoc) AS rn
        |       FROM iv JOIN ne ON iv.edoc = ne.edoc)
        |SELECT d.doc_id,
        |  coalesce(sc.containment, 0.0) AS max_containment,
        |  sc.edoc AS blame_doc,
        |  CASE WHEN coalesce(sc.containment, 0.0) >= 0.5
        |       THEN 'dropped' ELSE 'kept' END AS verdict
        |FROM d LEFT JOIN (SELECT * FROM sc WHERE rn = 1) sc
        |  ON d.doc_id = sc.tdoc
        |WHERE d.bucket < 80""".stripMargin,
    "incremental_dedup" ->
      """WITH d AS (
        |  SELECT doc_id,
        |    (doc_id % 1000000007) * 2654435761 % 1000000007 % 100 AS bucket,
        |    string_split(trim(text), ' ') AS w
        |  FROM documents),
        |s AS (SELECT doc_id, bucket,
        |        unnest(list_distinct(list_transform(range(1, len(w) - 1),
        |          i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2]))) AS sh
        |      FROM d WHERE len(w) >= 3),
        |hot AS (SELECT sh FROM s GROUP BY sh HAVING count(*) > 20),
        |k AS (SELECT doc_id, bucket, sh FROM s
        |      WHERE sh NOT IN (SELECT sh FROM hot)),
        |n AS (SELECT doc_id, count(*) AS ns FROM k GROUP BY 1),
        |p AS (SELECT a.doc_id AS nd, b.doc_id AS rd, count(*) AS i
        |      FROM k a JOIN k b ON a.sh = b.sh
        |      WHERE a.bucket >= 80 AND (b.bucket < 80 OR b.doc_id < a.doc_id)
        |      GROUP BY 1, 2),
        |sc AS (SELECT nd, rd,
        |         CAST(i AS DOUBLE) / (na.ns + nb.ns - i) AS jac
        |       FROM p JOIN n na ON na.doc_id = p.nd
        |              JOIN n nb ON nb.doc_id = p.rd),
        |r AS (SELECT nd, rd, jac,
        |        row_number() OVER (PARTITION BY nd
        |          ORDER BY jac DESC, rd) AS rn
        |      FROM sc)
        |SELECT d.doc_id, coalesce(r.jac, 0.0) AS max_jaccard,
        |  r.rd AS blame_doc,
        |  CASE WHEN coalesce(r.jac, 0.0) >= 0.5
        |       THEN 'dropped' ELSE 'kept' END AS verdict
        |FROM d LEFT JOIN (SELECT * FROM r WHERE rn = 1) r
        |  ON d.doc_id = r.nd
        |WHERE d.bucket >= 80""".stripMargin,
    "repetition_score" ->
      """SELECT doc_id, CAST(len(bg) AS INTEGER) AS n_bigrams,
        |  1.0 - CAST(len(list_distinct(bg)) AS DOUBLE) / len(bg) AS dup_bigram_frac
        |FROM (SELECT doc_id,
        |        list_transform(range(1, len(w)), i -> w[i] || ' ' || w[i+1]) AS bg
        |      FROM (SELECT doc_id, string_split(trim(text), ' ') AS w FROM documents)
        |      WHERE len(w) >= 2)""".stripMargin,
    "token_budget_select" ->
      """SELECT doc_id, lang, CAST(n_tokens AS INTEGER) AS n_tokens,
        |  CAST(cum_tokens AS BIGINT) AS cum_tokens
        |FROM (
        |  SELECT doc_id, lang, n_tokens,
        |    SUM(n_tokens) OVER (PARTITION BY lang
        |      ORDER BY CAST(n_chars AS DOUBLE) / n_tokens, doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_tokens
        |  FROM (SELECT doc_id, lang, n_chars,
        |          len(string_split(trim(text), ' ')) AS n_tokens FROM documents))
        |WHERE cum_tokens <= 5000""".stripMargin,
    "corpus_clean" ->
      """SELECT doc_id, lang, CAST(n_tokens AS INTEGER) AS n_tokens FROM (
        |  SELECT doc_id, lang, n_tokens,
        |    row_number() OVER (PARTITION BY text ORDER BY doc_id) AS rn
        |  FROM (SELECT doc_id, lang, text,
        |          len(string_split(trim(text), ' ')) AS n_tokens FROM documents)
        |  WHERE lang IN ('en', 'de', 'fr', 'es') AND n_tokens BETWEEN 5 AND 2000)
        |WHERE rn = 1""".stripMargin,
    // the end-to-end prep composition replays each stage's EXACT
    // standalone semantics as chained CTEs: clean filters + dedup
    // window, the multiplicative-hash train bucket, the lang-partition
    // packing cumsum
    "corpus_pipeline" ->
      """WITH c AS (
        |  SELECT doc_id, lang, n_tokens FROM (
        |    SELECT doc_id, lang, n_tokens,
        |      row_number() OVER (PARTITION BY text ORDER BY doc_id) AS rn
        |    FROM (SELECT doc_id, lang, text,
        |            len(string_split(trim(text), ' ')) AS n_tokens
        |          FROM documents)
        |    WHERE lang IN ('en', 'de', 'fr', 'es')
        |      AND n_tokens BETWEEN 5 AND 2000) z
        |  WHERE rn = 1),
        |t AS (SELECT * FROM c
        |      WHERE (doc_id % 1000000007) * 2654435761 % 1000000007 % 100 < 80),
        |p AS (SELECT lang, n_tokens,
        |        COALESCE(sum(n_tokens) OVER (PARTITION BY lang ORDER BY doc_id
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |          AS cum_before
        |      FROM t)
        |SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(n_tokens) AS BIGINT) AS n_tokens,
        |  CAST(max(cum_before // 2048) + 1 AS BIGINT) AS n_packs,
        |  CAST(sum(n_tokens) AS DOUBLE) / count(*) AS tokens_per_doc
        |FROM p GROUP BY lang""".stripMargin,
    "anchor_dedup" ->
      """SELECT md5(substr(text, 1, 100)) AS anchor,
        |  CAST(count(*) AS BIGINT) AS n_docs, min(doc_id) AS canonical_id
        |FROM documents GROUP BY 1""".stripMargin,
    "source_mix" ->
      """SELECT source, lang, CAST(n_docs AS BIGINT) AS n_docs,
        |  CAST(tokens AS BIGINT) AS tokens,
        |  CAST(tokens AS DOUBLE) / SUM(tokens) OVER () AS token_share
        |FROM (SELECT source, lang, count(*) AS n_docs,
        |        sum(len(string_split(trim(text), ' '))) AS tokens
        |      FROM documents GROUP BY 1, 2)""".stripMargin,
    "sample_per_group" ->
      """SELECT doc_id, lang, CAST(rk AS INTEGER) AS rk FROM (
        |  SELECT doc_id, lang, row_number() OVER (PARTITION BY lang
        |    ORDER BY (doc_id % 1000000007) * 2654435761 % 1000000007, doc_id) AS rk
        |  FROM documents)
        |WHERE rk <= 10""".stripMargin,
    "split_drift" ->
      """SELECT lang,
        |  CAST(train_docs AS BIGINT) AS train_docs,
        |  CAST(test_docs AS BIGINT) AS test_docs,
        |  CAST(train_toks AS DOUBLE) / train_docs AS train_mean,
        |  CAST(test_toks AS DOUBLE) / test_docs AS test_mean,
        |  abs(CAST(train_toks AS DOUBLE) / train_docs
        |      - CAST(test_toks AS DOUBLE) / test_docs) AS drift
        |FROM (
        |  SELECT lang,
        |    sum(CASE WHEN bucket < 80 THEN n_tokens END) AS train_toks,
        |    count(CASE WHEN bucket < 80 THEN 1 END) AS train_docs,
        |    sum(CASE WHEN bucket >= 90 THEN n_tokens END) AS test_toks,
        |    count(CASE WHEN bucket >= 90 THEN 1 END) AS test_docs
        |  FROM (SELECT lang, len(string_split(trim(text), ' ')) AS n_tokens,
        |          (doc_id % 1000000007) * 2654435761 % 1000000007 % 100 AS bucket
        |        FROM documents)
        |  GROUP BY 1)""".stripMargin,
    "bigram_lm" ->
      """SELECT head, next_tok, CAST(n AS BIGINT) AS n, CAST(rk AS INTEGER) AS rk
        |FROM (
        |  SELECT head, next_tok, n,
        |    row_number() OVER (PARTITION BY head ORDER BY n DESC, next_tok) AS rk
        |  FROM (
        |    SELECT w[i] AS head, w[i+1] AS next_tok, count(*) AS n
        |    FROM (SELECT string_split(trim(text), ' ') AS w FROM documents),
        |         unnest(range(1, len(w))) AS t(i)
        |    WHERE len(w) >= 2
        |    GROUP BY 1, 2
        |    HAVING count(*) >= 2))
        |WHERE rk <= 3""".stripMargin,
    "lm_familiarity" ->
      """WITH toks AS (
        |  SELECT doc_id, string_split(trim(text), ' ') AS w FROM documents),
        |bg AS (
        |  SELECT doc_id, w[i] AS head, w[i+1] AS next_tok
        |  FROM toks, unnest(generate_series(1, len(w) - 1)) AS t(i)
        |  WHERE len(w) >= 2),
        |cnt AS (SELECT head, next_tok, count(*) AS n FROM bg GROUP BY 1, 2),
        |hc AS (SELECT head, count(*) AS hn FROM bg GROUP BY 1)
        |SELECT bg.doc_id,
        |  CAST(count(*) AS BIGINT) AS n_bigrams,
        |  CAST(sum(cnt.n) AS BIGINT) AS sum_bg,
        |  CAST(sum(hc.hn) AS BIGINT) AS sum_head,
        |  CAST(CAST(sum(cnt.n) AS BIGINT) AS DOUBLE)
        |    / CAST(CAST(sum(hc.hn) AS BIGINT) AS DOUBLE) AS familiarity
        |FROM bg
        |JOIN cnt ON bg.head = cnt.head AND bg.next_tok = cnt.next_tok
        |JOIN hc ON bg.head = hc.head
        |GROUP BY 1""".stripMargin,
    "ngram_diversity" ->
      """WITH toks AS (
        |  SELECT source, string_split(trim(text), ' ') AS w FROM documents),
        |g AS (
        |  SELECT source, w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS g
        |  FROM toks, unnest(generate_series(1, len(w) - 2)) AS t(i)
        |  WHERE len(w) >= 3)
        |SELECT source,
        |  CAST(count(*) AS BIGINT) AS n_grams,
        |  CAST(count(DISTINCT g) AS BIGINT) AS n_distinct,
        |  CAST(count(DISTINCT g) AS DOUBLE) / count(*) AS diversity
        |FROM g GROUP BY 1""".stripMargin,
    "merge_upsert_batch" ->
      """WITH base AS (
        |  SELECT o_orderkey, o_totalprice, o_orderpriority
        |  FROM orders WHERE o_orderkey % 10 < 8),
        |chg AS (
        |  SELECT o_orderkey, o_totalprice * 2 AS c_totalprice,
        |         'UPDATED' AS c_orderpriority
        |  FROM orders WHERE o_orderkey % 10 >= 5)
        |SELECT COALESCE(c.o_orderkey, b.o_orderkey) AS o_orderkey,
        |  COALESCE(c.c_totalprice, b.o_totalprice) AS o_totalprice,
        |  COALESCE(c.c_orderpriority, b.o_orderpriority) AS o_orderpriority
        |FROM base b FULL JOIN chg c ON b.o_orderkey = c.o_orderkey""".stripMargin,
    "sql_q4" ->
      """SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS order_count
        |FROM orders o
        |WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
        |  AND o_orderdate < TIMESTAMP '1996-04-01 00:00:00'
        |  AND EXISTS (SELECT 1 FROM lineitem l
        |              WHERE l.l_orderkey = o.o_orderkey
        |                AND l.l_shipdate > o.o_orderdate + INTERVAL 60 DAY)
        |GROUP BY o_orderpriority
        |ORDER BY o_orderpriority""".stripMargin,
    "sql_q12" ->
      """SELECT l_returnflag,
        |  CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
        |                THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
        |  CAST(sum(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
        |                THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
        |FROM orders JOIN lineitem ON o_orderkey = l_orderkey
        |WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
        |  AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
        |  AND l_shipdate > o_orderdate + INTERVAL 30 DAY
        |GROUP BY l_returnflag
        |ORDER BY l_returnflag""".stripMargin,
    "sql_q22" ->
      """SELECT c_nationkey,
        |  CAST(count(*) AS BIGINT) AS numcust,
        |  CAST(sum(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS totacctbal
        |FROM customer c
        |WHERE c_acctbal > (SELECT CAST(sum(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE)
        |                          / count(*)
        |                   FROM customer WHERE c_acctbal > 0.0)
        |  AND NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
        |GROUP BY c_nationkey
        |ORDER BY c_nationkey""".stripMargin,
    "sql_q13" ->
      """SELECT c_count, CAST(count(*) AS BIGINT) AS custdist
        |FROM (SELECT c_custkey, CAST(count(o_orderkey) AS BIGINT) AS c_count
        |      FROM customer LEFT OUTER JOIN orders
        |        ON c_custkey = o_custkey AND o_orderpriority <> '5-LOW'
        |      GROUP BY c_custkey) c_orders
        |GROUP BY c_count
        |ORDER BY custdist DESC, c_count DESC""".stripMargin,
    "sql_q17" ->
      """SELECT CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
        |       / 7.0 AS avg_yearly
        |FROM lineitem JOIN part ON p_partkey = l_partkey
        |WHERE p_brand = 'Brand#23'
        |  AND l_quantity < (SELECT 0.2 * (sum(l_quantity) / count(*))
        |                    FROM lineitem l2
        |                    WHERE l2.l_partkey = p_partkey)""".stripMargin,
    "sql_q19" ->
      """SELECT CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))
        |           * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue
        |FROM lineitem JOIN part ON p_partkey = l_partkey
        |WHERE (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 15
        |       AND l_quantity >= 1 AND l_quantity <= 11)
        |   OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 25
        |       AND l_quantity >= 10 AND l_quantity <= 20)
        |   OR (p_brand = 'Brand#14' AND p_size BETWEEN 1 AND 35
        |       AND l_quantity >= 20 AND l_quantity <= 30)""".stripMargin,
    "sql_q21" ->
      """SELECT s_name, CAST(count(*) AS BIGINT) AS numwait
        |FROM supplier
        |JOIN lineitem l1 ON s_suppkey = l1.l_suppkey
        |JOIN orders ON o_orderkey = l1.l_orderkey
        |WHERE o_orderstatus = 'F'
        |  AND l1.l_returnflag = 'R'
        |  AND EXISTS (SELECT 1 FROM lineitem l2
        |              WHERE l2.l_orderkey = l1.l_orderkey
        |                AND l2.l_suppkey <> l1.l_suppkey)
        |  AND NOT EXISTS (SELECT 1 FROM lineitem l3
        |                  WHERE l3.l_orderkey = l1.l_orderkey
        |                    AND l3.l_suppkey <> l1.l_suppkey
        |                    AND l3.l_returnflag = 'R')
        |GROUP BY s_name
        |ORDER BY numwait DESC, s_name
        |LIMIT 100""".stripMargin,
    "sql_q6" ->
      """SELECT CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))
        |           * CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE) AS revenue
        |FROM lineitem
        |WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
        |  AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
        |  AND CAST(l_discount AS DECIMAL(18,2)) BETWEEN 0.05 AND 0.07
        |  AND l_quantity < 24""".stripMargin,
    "sql_q8" ->
      """SELECT o_year,
        |  CAST(sum(CASE WHEN nation = 'NATION_3' THEN volume
        |                ELSE CAST(0 AS DECIMAL(18,2)) END) AS DOUBLE)
        |  / CAST(sum(volume) AS DOUBLE) AS mkt_share
        |FROM (SELECT year(o_orderdate) AS o_year,
        |             CAST(l_extendedprice AS DECIMAL(18,2))
        |               * (1 - CAST(l_discount AS DECIMAL(18,2))) AS volume,
        |             n2.n_name AS nation
        |      FROM part
        |      JOIN lineitem ON p_partkey = l_partkey
        |      JOIN supplier ON s_suppkey = l_suppkey
        |      JOIN orders ON l_orderkey = o_orderkey
        |      JOIN customer ON o_custkey = c_custkey
        |      JOIN nation n1 ON c_nationkey = n1.n_nationkey
        |      JOIN region ON n1.n_regionkey = r_regionkey
        |      JOIN nation n2 ON s_nationkey = n2.n_nationkey
        |      WHERE r_name = 'AMERICA'
        |        AND o_orderdate >= TIMESTAMP '1995-01-01 00:00:00'
        |        AND o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
        |        AND p_type = 'PROMO') all_nations
        |GROUP BY o_year
        |ORDER BY o_year""".stripMargin,
    "sql_q10" ->
      """SELECT c_custkey, c_name,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))
        |           * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue,
        |  c_acctbal, n_name
        |FROM customer
        |JOIN orders ON c_custkey = o_custkey
        |JOIN lineitem ON l_orderkey = o_orderkey
        |JOIN nation ON c_nationkey = n_nationkey
        |WHERE o_orderdate >= TIMESTAMP '1996-07-01 00:00:00'
        |  AND o_orderdate < TIMESTAMP '1996-10-01 00:00:00'
        |  AND l_returnflag = 'R'
        |GROUP BY c_custkey, c_name, c_acctbal, n_name
        |ORDER BY revenue DESC, c_custkey
        |LIMIT 20""".stripMargin,
    "sql_q14" ->
      """SELECT CAST(100 * sum(CASE WHEN p_type = 'PROMO'
        |               THEN CAST(l_extendedprice AS DECIMAL(18,2))
        |                    * (1 - CAST(l_discount AS DECIMAL(18,2)))
        |               ELSE CAST(0 AS DECIMAL(18,2)) END) AS DOUBLE)
        |     / CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))
        |                * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE)
        |       AS promo_revenue
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |WHERE l_shipdate >= TIMESTAMP '1996-09-01 00:00:00'
        |  AND l_shipdate < TIMESTAMP '1996-10-01 00:00:00'""".stripMargin,
    "sql_q15" ->
      """WITH revenue0 AS (
        |  SELECT l_suppkey AS supplier_no,
        |         sum(CAST(l_extendedprice AS DECIMAL(18,2))
        |             * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS total_rev
        |  FROM lineitem
        |  WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
        |    AND l_shipdate < TIMESTAMP '1996-04-01 00:00:00'
        |  GROUP BY l_suppkey)
        |SELECT s_suppkey, s_name, CAST(total_rev AS DOUBLE) AS total_revenue
        |FROM supplier
        |JOIN revenue0 ON s_suppkey = supplier_no
        |WHERE total_rev = (SELECT max(total_rev) FROM revenue0)
        |ORDER BY s_suppkey""".stripMargin,
    "pit_features" ->
      """WITH labels AS (SELECT event_id, user_id, ts FROM events
        |               WHERE event_type = 'purchase'),
        |fv AS (SELECT user_id, ts, max_by(value, event_id) AS f_view
        |       FROM events WHERE event_type = 'view' GROUP BY 1, 2),
        |fc AS (SELECT user_id, ts, max_by(value, event_id) AS f_click
        |       FROM events WHERE event_type = 'click' GROUP BY 1, 2),
        |withv AS (
        |  SELECT l.event_id, l.user_id, l.ts, fv.f_view AS last_view
        |  FROM labels l ASOF LEFT JOIN fv
        |    ON l.user_id = fv.user_id AND l.ts >= fv.ts)
        |SELECT w.event_id, w.user_id, w.ts, w.last_view,
        |       fc.f_click AS last_click
        |FROM withv w ASOF LEFT JOIN fc
        |  ON w.user_id = fc.user_id AND w.ts >= fc.ts""".stripMargin,
    "snapshot_diff" ->
      """WITH o AS (SELECT o_orderkey, o_totalprice, o_orderpriority FROM orders),
        |base AS (
        |  SELECT o_orderkey AS k, o_totalprice AS price_a,
        |         o_orderpriority AS prio_a
        |  FROM o WHERE o_orderkey % 20 <> 3),
        |next AS (
        |  SELECT o_orderkey AS k,
        |         CASE WHEN o_orderkey % 5 = 0 THEN o_totalprice * 2
        |              ELSE o_totalprice END AS price_b,
        |         CASE WHEN o_orderkey % 7 = 0 THEN 'RECHECK'
        |              ELSE o_orderpriority END AS prio_b
        |  FROM o WHERE o_orderkey % 20 <> 7)
        |SELECT CASE WHEN price_a IS NULL THEN 'added'
        |            WHEN price_b IS NULL THEN 'removed'
        |            WHEN price_a <> price_b OR prio_a <> prio_b THEN 'changed'
        |            ELSE 'unchanged' END AS diff_status,
        |  CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(sum(CASE WHEN price_a IS NOT NULL AND price_b IS NOT NULL
        |                 AND price_a <> price_b THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_price_changed,
        |  CAST(sum(CASE WHEN prio_a IS NOT NULL AND prio_b IS NOT NULL
        |                 AND prio_a <> prio_b THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_priority_changed
        |FROM base FULL OUTER JOIN next USING (k)
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "sql_q1" ->
      """SELECT l_returnflag, l_linestatus,
        |  CAST(sum(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_qty,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE)
        |    AS sum_base_price,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))
        |           * (1 - CAST(l_discount AS DECIMAL(12,2)))) AS DOUBLE)
        |    AS sum_disc_price,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))
        |           * (1 - CAST(l_discount AS DECIMAL(12,2)))
        |           * (1 + CAST(l_tax AS DECIMAL(12,2)))) AS DOUBLE)
        |    AS sum_charge,
        |  CAST(sum(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE)
        |    / CAST(count(*) AS DOUBLE) AS avg_qty,
        |  CAST(count(*) AS BIGINT) AS count_order
        |FROM lineitem
        |WHERE l_shipdate <= TIMESTAMP '2000-12-01 00:00:00'
        |GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin,
    "sql_q2" ->
      """WITH cost AS (
        |  SELECT l_partkey, l_suppkey,
        |         min(l_extendedprice / l_quantity) AS unit_cost
        |  FROM lineitem GROUP BY l_partkey, l_suppkey)
        |SELECT s_acctbal, s_name, n_name, p_partkey, p_brand, unit_cost
        |FROM part, cost, supplier, nation, region
        |WHERE p_partkey = cost.l_partkey AND s_suppkey = cost.l_suppkey
        |  AND p_size <= 10 AND p_type = 'LARGE'
        |  AND s_nationkey = n_nationkey AND n_regionkey = r_regionkey
        |  AND r_name = 'EUROPE'
        |  AND unit_cost = (SELECT min(c2.unit_cost)
        |                   FROM cost c2, supplier s2, nation n2, region r2
        |                   WHERE c2.l_partkey = p_partkey
        |                     AND s2.s_suppkey = c2.l_suppkey
        |                     AND s2.s_nationkey = n2.n_nationkey
        |                     AND n2.n_regionkey = r2.r_regionkey
        |                     AND r2.r_name = 'EUROPE')
        |ORDER BY s_acctbal DESC, n_name, s_name, p_partkey""".stripMargin,
    "sql_q9" ->
      """SELECT n_name AS nation,
        |  CAST(year(o_orderdate) AS INTEGER) AS o_year,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))
        |             * (1 - CAST(l_discount AS DECIMAL(12,2)))
        |           - CAST(p_retailprice AS DECIMAL(12,2))
        |             * CAST(l_quantity AS DECIMAL(12,2)) * 0.6) AS DOUBLE)
        |    AS sum_profit
        |FROM lineitem
        |JOIN orders   ON l_orderkey = o_orderkey
        |JOIN supplier ON l_suppkey = s_suppkey
        |JOIN part     ON l_partkey = p_partkey
        |JOIN nation   ON s_nationkey = n_nationkey
        |WHERE p_name LIKE '%gear%'
        |GROUP BY n_name, year(o_orderdate)
        |ORDER BY nation, o_year DESC""".stripMargin,
    "sql_q11" ->
      """WITH sval AS (
        |  SELECT l_partkey,
        |         sum(CAST(l_extendedprice AS DECIMAL(12,2))
        |             * CAST(l_quantity AS DECIMAL(12,2))) AS val
        |  FROM lineitem
        |  JOIN supplier ON l_suppkey = s_suppkey
        |  JOIN nation   ON s_nationkey = n_nationkey
        |  WHERE n_name IN ('NATION_7', 'NATION_8')
        |  GROUP BY l_partkey)
        |SELECT l_partkey AS p_partkey, CAST(val AS DOUBLE) AS part_value
        |FROM sval
        |WHERE CAST(val AS DOUBLE)
        |      > CAST((SELECT sum(val) FROM sval) AS DOUBLE) / 1000
        |ORDER BY part_value DESC, p_partkey""".stripMargin,
    "sql_q16" ->
      """SELECT p_brand, p_type, p_size,
        |  CAST(count(DISTINCT l_suppkey) AS BIGINT) AS supplier_cnt
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |WHERE p_type <> 'PROMO' AND p_size IN (1, 5, 9, 13, 17, 21, 25, 29)
        |  AND l_suppkey NOT IN
        |      (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
        |GROUP BY p_brand, p_type, p_size
        |ORDER BY supplier_cnt DESC, p_brand, p_type, p_size""".stripMargin,
    "sql_q20" ->
      """SELECT s_name, s_acctbal
        |FROM supplier JOIN nation ON s_nationkey = n_nationkey
        |WHERE n_regionkey IN
        |      (SELECT r_regionkey FROM region WHERE r_name = 'ASIA')
        |  AND s_suppkey IN (
        |    SELECT l_suppkey FROM lineitem
        |    WHERE l_partkey IN
        |          (SELECT p_partkey FROM part WHERE p_name LIKE '%widget%')
        |      AND l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
        |      AND l_shipdate < TIMESTAMP '1998-01-01 00:00:00'
        |    GROUP BY l_suppkey
        |    HAVING sum(CAST(l_quantity AS DECIMAL(12,2))) > 50)
        |ORDER BY s_name""".stripMargin,
    "winsorize" ->
      """WITH b AS (
        |  SELECT l_returnflag,
        |    quantile_cont(l_quantity, 0.05) AS p05,
        |    quantile_cont(l_quantity, 0.95) AS p95
        |  FROM lineitem GROUP BY 1)
        |SELECT l.l_returnflag,
        |  CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(sum(CASE WHEN l.l_quantity < b.p05 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_clipped_low,
        |  CAST(sum(CASE WHEN l.l_quantity > b.p95 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_clipped_high,
        |  min(b.p05) AS p05,
        |  min(b.p95) AS p95
        |FROM lineitem l JOIN b ON l.l_returnflag = b.l_returnflag
        |GROUP BY 1""".stripMargin,
    "copurchase_pairs" ->
      """WITH items AS (
        |  SELECT DISTINCT l_orderkey, l_partkey FROM lineitem)
        |SELECT a.l_partkey AS part_a, b.l_partkey AS part_b,
        |  CAST(count(*) AS BIGINT) AS n_orders
        |FROM items a
        |JOIN items b ON a.l_orderkey = b.l_orderkey
        |            AND a.l_partkey < b.l_partkey
        |GROUP BY 1, 2 HAVING count(*) >= 2
        |ORDER BY n_orders DESC, part_a, part_b
        |LIMIT 100""".stripMargin,
    "dq_quarantine" ->
      """SELECT event_id, 'value_positive' AS rule FROM events WHERE value <= 0.0
        |UNION ALL
        |SELECT event_id, 'value_below_100' FROM events WHERE value > 100.0
        |UNION ALL
        |SELECT event_id, 'ts_in_january' FROM events
        |WHERE ts < TIMESTAMP '2024-01-01 00:00:00'
        |   OR ts >= TIMESTAMP '2024-02-01 00:00:00'
        |UNION ALL
        |SELECT event_id, 'event_type_known' FROM events
        |WHERE event_type NOT IN ('click', 'error', 'purchase', 'signup', 'view')
        |UNION ALL
        |SELECT event_id, 'user_id_present' FROM events WHERE user_id IS NULL
        |UNION ALL
        |SELECT event_id, 'props_has_k' FROM events
        |WHERE json_extract_string(props, '$.k') IS NULL
        |UNION ALL
        |SELECT event_id, 'purchase_value_min_10' FROM events
        |WHERE event_type = 'purchase' AND value < 10.0""".stripMargin,
    "merge_full_triad" ->
      """WITH base AS (
        |  SELECT o_orderkey, o_totalprice, o_orderpriority
        |  FROM orders WHERE o_orderkey % 10 < 8),
        |chg AS (
        |  SELECT o_orderkey, o_totalprice * 2 AS c_totalprice,
        |         'UPDATED' AS c_orderpriority
        |  FROM orders WHERE o_orderkey % 10 >= 5)
        |SELECT COALESCE(c.o_orderkey, b.o_orderkey) AS o_orderkey,
        |  COALESCE(c.c_totalprice, b.o_totalprice) AS o_totalprice,
        |  COALESCE(c.c_orderpriority, b.o_orderpriority) AS o_orderpriority
        |FROM base b FULL JOIN chg c ON b.o_orderkey = c.o_orderkey
        |WHERE c.c_orderpriority IS NOT NULL
        |   OR b.o_orderpriority <> '1-URGENT'""".stripMargin,
    "bucketed_join" ->
      """SELECT o_orderstatus, count(*) AS n_items,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))
        |    * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue
        |FROM orders JOIN lineitem ON o_orderkey = l_orderkey
        |GROUP BY 1""".stripMargin,
    "partition_prune" ->
      """SELECT strftime(date_trunc('day', ts), '%Y-%m-%d') AS day,
        |  count(*) AS n_clicks,
        |  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS click_value
        |FROM events WHERE event_type = 'click'
        |GROUP BY 1""".stripMargin,
    "dpp_join" ->
      """WITH dims AS (
        |  SELECT event_type, min(CAST(ts AS TIMESTAMP)) AS first_ts
        |  FROM events GROUP BY 1)
        |SELECT e.event_type,
        |  CAST(count(*) AS BIGINT) AS n_events,
        |  CAST(sum(CAST(e.value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
        |FROM events e JOIN dims d ON e.event_type = d.event_type
        |WHERE d.first_ts < TIMESTAMP '2024-01-01 01:00:00'
        |GROUP BY 1""".stripMargin,
    "compaction_scan" ->
      FormatProbeSql,
    "json_lines_scan" ->
      FormatProbeSql,
    "csv_scan" ->
      FormatProbeSql,
    "orc_scan" ->
      FormatProbeSql,
    "xml_scan" ->
      FormatProbeSql,
    "schema_evolution_scan" ->
      """SELECT CASE WHEN event_id % 2 = 0 THEN '_legacy' ELSE event_type END
        |    AS event_type,
        |  CAST(count(*) AS BIGINT) AS n_events,
        |  min(event_id) AS min_event,
        |  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
        |FROM events GROUP BY 1""".stripMargin,
    // partition overwrite must touch ONLY the partitions in the incoming
    // frame: the oracle is the raw table with the backfill filter applied
    // to the overwritten partition and siblings passed through untouched
    "dynamic_partition_overwrite" ->
      """SELECT event_type,
        |  CAST(count(*) AS BIGINT) AS n_events,
        |  min(event_id) AS min_event,
        |  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
        |FROM events
        |WHERE event_type <> 'click' OR value >= 1.0
        |GROUP BY event_type""".stripMargin,
    // the z-key interleave is the SAME generated expression text on both
    // sides — the oracle proves the bit arithmetic is engine-identical
    "zorder_key" ->
      s"""SELECT event_id, user_id, m,
         |  ${StorageOps.zvalueSql("user_id", "m")} AS zval
         |FROM (SELECT event_id, user_id,
         |        epoch_us(CAST(ts AS TIMESTAMP)) // 1000000 // 60
         |          - 28401120 AS m
         |      FROM events)""".stripMargin,
    // the 16 Hilbert steps become 16 chained CTEs generated from
    // hilbertStepExprs — an INDEPENDENT relational derivation of the
    // fused HilbertIndex kernel's walk; h0 masks both coordinates to the
    // grid exactly like the kernel (out-of-range input would walk the
    // N-1-x flip negative on both sides)
    "hilbert_key" -> {
      val steps = (0 until StorageOps.HilbertBits).map { i =>
        val s = 1L << (StorageOps.HilbertBits - 1 - i)
        val (nx, ny, inc) = StorageOps.hilbertStepExprs(s, "hx", "hy")
        s"h${i + 1} AS (SELECT event_id, user_id, m, $nx AS hx, $ny AS hy, hd + $inc AS hd FROM h$i)"
      }
      val mask = StorageOps.HilbertN - 1
      s"""WITH h0 AS (SELECT event_id, user_id, m,
         |              user_id & $mask AS hx, m & $mask AS hy,
         |              CAST(0 AS BIGINT) AS hd
         |            FROM (SELECT event_id, user_id,
         |                    epoch_us(CAST(ts AS TIMESTAMP)) // 1000000 // 60
         |                      - 28401120 AS m
         |                  FROM events)),
         |${steps.mkString(",\n")}
         |SELECT event_id, user_id, m, hd AS hval
         |FROM h${StorageOps.HilbertBits}""".stripMargin
    },
    "zorder_scan" ->
      """SELECT CAST(count(*) AS BIGINT) AS n_events,
        |  min(event_id) AS min_event, max(event_id) AS max_event,
        |  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
        |FROM (SELECT event_id, user_id, value,
        |        epoch_us(CAST(ts AS TIMESTAMP)) // 1000000 // 60
        |          - 28401120 AS m
        |      FROM events)
        |WHERE user_id >= 40 AND user_id < 80
        |  AND m >= 10000 AND m < 20000""".stripMargin,
    // hilbert_scan answers the SAME box through the Hilbert layout — one
    // oracle text for both layouts: layout must never change results
    "hilbert_scan" ->
      """SELECT CAST(count(*) AS BIGINT) AS n_events,
        |  min(event_id) AS min_event, max(event_id) AS max_event,
        |  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
        |FROM (SELECT event_id, user_id, value,
        |        epoch_us(CAST(ts AS TIMESTAMP)) // 1000000 // 60
        |          - 28401120 AS m
        |      FROM events)
        |WHERE user_id >= 40 AND user_id < 80
        |  AND m >= 10000 AND m < 20000""".stripMargin,
    "tfidf_top_terms" ->
      """WITH toks AS (
        |  SELECT doc_id, unnest(string_split(trim(text), ' ')) AS term FROM documents),
        |t AS (SELECT doc_id, term, count(*) AS tf FROM toks WHERE term <> '' GROUP BY 1, 2),
        |d AS (SELECT term, count(DISTINCT doc_id) AS dfreq FROM toks WHERE term <> '' GROUP BY 1),
        |n AS (SELECT count(*) AS nd FROM documents),
        |s AS (SELECT t.doc_id, t.term,
        |        CAST(t.tf AS DOUBLE) * (nd + 1.0) / (dfreq + 1.0) AS score
        |      FROM t JOIN d ON t.term = d.term CROSS JOIN n)
        |SELECT doc_id, term, score, CAST(rk AS INTEGER) AS rk FROM (
        |  SELECT doc_id, term, score,
        |    row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, term) AS rk
        |  FROM s) r WHERE rk <= 5""".stripMargin,
    "dedup_keep_best" ->
      """WITH RECURSIVE
        |d AS (
        |  SELECT doc_id,
        |    list_distinct(list_transform(range(1, len(w) - 1),
        |      i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS sh
        |  FROM (SELECT doc_id, string_split(trim(text), ' ') AS w FROM documents)
        |  WHERE len(w) >= 3),
        |p AS (
        |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
        |  FROM d a JOIN d b ON b.doc_id = a.doc_id + 1
        |  WHERE CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
        |          / len(list_distinct(a.sh || b.sh)) >= 0.5),
        |e AS (SELECT doc_a AS s, doc_b AS t FROM p
        |      UNION ALL SELECT doc_b, doc_a FROM p),
        |walk(doc_id, label) AS (
        |  SELECT doc_id, doc_id FROM documents
        |  UNION
        |  SELECT e.s, w.label FROM walk w JOIN e ON e.t = w.doc_id),
        |c AS (SELECT doc_id, min(label) AS cluster_id FROM walk GROUP BY 1)
        |SELECT cluster_id, survivor_id, cluster_size FROM (
        |  SELECT c.cluster_id, c.doc_id AS survivor_id,
        |    row_number() OVER (PARTITION BY c.cluster_id
        |                       ORDER BY doc.n_chars DESC, c.doc_id DESC) AS rn,
        |    CAST(count(*) OVER (PARTITION BY c.cluster_id) AS BIGINT) AS cluster_size
        |  FROM c JOIN documents doc ON doc.doc_id = c.doc_id) t
        |WHERE rn = 1""".stripMargin,
    "text_stats" ->
      """SELECT lang, count(*) AS n_docs,
        |  CAST(sum(n_chars) AS BIGINT) AS sum_chars,
        |  CAST(sum(n_chars) AS DOUBLE) / count(*) AS avg_chars,
        |  CAST(sum(len(string_split(trim(text), ' '))) AS BIGINT) AS sum_tokens,
        |  min(n_chars) AS min_chars, max(n_chars) AS max_chars
        |FROM documents GROUP BY 1""".stripMargin,
    "token_count" ->
      """SELECT doc_id,
        |  CAST(len(string_split(trim(text), ' ')) AS INTEGER) AS ws_tokens,
        |  CAST(len(regexp_extract_all(text, '[a-z]+')) AS INTEGER) AS alpha_tokens,
        |  CAST(len(regexp_extract_all(text, '[a-z]+|[0-9]|[^a-z0-9 ]')) AS INTEGER)
        |    AS bpe_ish_tokens
        |FROM documents""".stripMargin,
    "lang_id" ->
      """WITH h AS (
        |  SELECT doc_id, lang AS labeled_lang,
        |    (CASE WHEN contains(' ' || lower(text) || ' ', ' the ') THEN 1 ELSE 0 END
        |     + CASE WHEN contains(' ' || lower(text) || ' ', ' and ') THEN 1 ELSE 0 END
        |     + CASE WHEN contains(' ' || lower(text) || ' ', ' of ') THEN 1 ELSE 0 END
        |     + CASE WHEN contains(' ' || lower(text) || ' ', ' a ') THEN 1 ELSE 0 END) AS en,
        |    (CASE WHEN contains(' ' || lower(text) || ' ', ' el ') THEN 1 ELSE 0 END
        |     + CASE WHEN contains(' ' || lower(text) || ' ', ' la ') THEN 1 ELSE 0 END
        |     + CASE WHEN contains(' ' || lower(text) || ' ', ' los ') THEN 1 ELSE 0 END
        |     + CASE WHEN contains(' ' || lower(text) || ' ', ' de ') THEN 1 ELSE 0 END) AS es,
        |    (CASE WHEN contains(' ' || lower(text) || ' ', ' der ') THEN 1 ELSE 0 END
        |     + CASE WHEN contains(' ' || lower(text) || ' ', ' und ') THEN 1 ELSE 0 END
        |     + CASE WHEN contains(' ' || lower(text) || ' ', ' die ') THEN 1 ELSE 0 END
        |     + CASE WHEN contains(' ' || lower(text) || ' ', ' das ') THEN 1 ELSE 0 END) AS de,
        |    (CASE WHEN contains(' ' || lower(text) || ' ', ' le ') THEN 1 ELSE 0 END
        |     + CASE WHEN contains(' ' || lower(text) || ' ', ' les ') THEN 1 ELSE 0 END
        |     + CASE WHEN contains(' ' || lower(text) || ' ', ' et ') THEN 1 ELSE 0 END
        |     + CASE WHEN contains(' ' || lower(text) || ' ', ' des ') THEN 1 ELSE 0 END) AS fr
        |  FROM documents)
        |SELECT doc_id, labeled_lang,
        |  CASE WHEN en >= es AND en >= de AND en >= fr AND en > 0 THEN 'en'
        |       WHEN es >= de AND es >= fr AND es > 0 THEN 'es'
        |       WHEN de >= fr AND de > 0 THEN 'de'
        |       WHEN fr > 0 THEN 'fr'
        |       ELSE 'unknown' END AS pred_lang
        |FROM h""".stripMargin,
    "quality_score" ->
      """SELECT doc_id, n_chars,
        |  CAST(len(string_split(trim(text), ' ')) AS INTEGER) AS n_tokens,
        |  CAST(length(regexp_replace(text, '[a-z0-9 ]', '', 'g')) AS DOUBLE)
        |    / n_chars AS punct_ratio,
        |  CAST(len(list_filter(string_split(trim(text), ' '),
        |        t -> t = 'the' OR t = 'and' OR t = 'a' OR t = 'of' OR t = 'to'
        |             OR t = 'data' OR t = 'scan')) AS DOUBLE)
        |    / len(string_split(trim(text), ' ')) AS stopword_ratio,
        |  CAST(length(regexp_replace(text, ' ', '', 'g')) AS DOUBLE)
        |    / len(string_split(trim(text), ' ')) AS avg_token_len
        |FROM documents""".stripMargin,
    // DPO pair mining: the integer score makes argmax/argmin/margin
    // engine-exact; chosen/rejected replayed via row_number twins of the
    // engine's min_by struct keys (score desc/asc, doc_id tiebreak)
    "preference_pairs" -> {
      val margin = graft.ops.TextOps.PrefMinMargin
      s"""WITH s AS (SELECT lang, source, doc_id,
        |    200 * len(list_filter(string_split(trim(text), ' '),
        |      t -> t = 'the' OR t = 'and' OR t = 'a' OR t = 'of' OR t = 'to'
        |           OR t = 'data' OR t = 'scan'))
        |      + n_chars
        |      - 4 * length(regexp_replace(text, '[a-z0-9 ]', '', 'g')) AS s
        |  FROM documents),
        |w AS (SELECT *,
        |        row_number() OVER (PARTITION BY lang, source
        |          ORDER BY s DESC, doc_id) AS rc,
        |        row_number() OVER (PARTITION BY lang, source
        |          ORDER BY s ASC, doc_id) AS rr
        |      FROM s),
        |g AS (SELECT lang, source,
        |        CAST(count(*) AS BIGINT) AS n_candidates,
        |        max(CASE WHEN rc = 1 THEN doc_id END) AS chosen_id,
        |        CAST(max(s) AS BIGINT) AS chosen_score,
        |        max(CASE WHEN rr = 1 THEN doc_id END) AS rejected_id,
        |        CAST(min(s) AS BIGINT) AS rejected_score
        |      FROM w GROUP BY 1, 2)
        |SELECT lang, source, chosen_id, rejected_id,
        |  chosen_score, rejected_score,
        |  chosen_score - rejected_score AS margin, n_candidates
        |FROM g
        |WHERE n_candidates >= 2
        |  AND chosen_score - rejected_score >= $margin""".stripMargin
    },
    // the oracle is the TEXTBOOK quadratic pair scan (ties = 1, wins = 2),
    // so the hash match proves the engine's rank-summary algebra equals
    // the all-pairs Mann-Whitney definition
    "source_winrate" ->
      """WITH s AS (SELECT lang, source,
        |    200 * len(list_filter(string_split(trim(text), ' '),
        |      t -> t = 'the' OR t = 'and' OR t = 'a' OR t = 'of' OR t = 'to'
        |           OR t = 'data' OR t = 'scan'))
        |      + n_chars
        |      - 4 * length(regexp_replace(text, '[a-z0-9 ]', '', 'g')) AS s
        |  FROM documents),
        |p AS (SELECT a.lang, a.source AS source_a, b.source AS source_b,
        |        CAST(sum(CASE WHEN a.s > b.s THEN 2
        |                      WHEN a.s = b.s THEN 1 ELSE 0 END) AS BIGINT)
        |          AS u2
        |      FROM s a JOIN s b
        |        ON a.lang = b.lang AND a.source < b.source
        |      GROUP BY 1, 2, 3),
        |n AS (SELECT lang, source, CAST(count(*) AS BIGINT) AS n
        |      FROM s GROUP BY 1, 2)
        |SELECT p.lang, source_a, source_b, na.n AS n_a, nb.n AS n_b, u2,
        |  CAST(u2 AS DOUBLE) / (2 * na.n * nb.n) AS win_rate
        |FROM p
        |JOIN n na ON na.lang = p.lang AND na.source = p.source_a
        |JOIN n nb ON nb.lang = p.lang AND nb.source = p.source_b""".stripMargin,
    // Gopher-style repetition rules: the oracle unnests 2-grams and
    // re-groups for the max multiplicity (clarity over speed — the
    // engine's sorted run-length fold is the scale form); every
    // threshold interpolates QualityOps.GopherThresholds so retuning
    // can never diverge engine and oracle. All ratios are exact
    // int/int single divisions mirrored operation-for-operation.
    "gopher_rules" -> {
      import graft.ops.QualityOps.GopherThresholds._
      val stopList = StopWords.map(s => s"'$s'").mkString("[", ", ", "]")
      s"""WITH d AS (SELECT doc_id, string_split(trim(text), ' ') AS w FROM documents),
         |s AS (SELECT doc_id, w, len(w) AS n,
         |        list_transform(range(1, len(w)),
         |          i -> concat(w[i], ' ', w[i+1])) AS g2,
         |        list_transform(range(1, len(w) - 1),
         |          i -> concat(w[i], ' ', w[i+1], ' ', w[i+2])) AS g3
         |      FROM d),
         |m2 AS (SELECT doc_id, max(c) AS mx FROM (
         |        SELECT doc_id, g, count(*) AS c
         |        FROM (SELECT doc_id, unnest(g2) AS g FROM s) GROUP BY 1, 2)
         |       GROUP BY 1),
         |r AS (SELECT s.doc_id,
         |        CAST(n AS INTEGER) AS n_words,
         |        CAST(list_sum(list_transform(w, t -> len(t))) AS DOUBLE) / n
         |          AS mean_word_len,
         |        CASE WHEN len(g2) > 0
         |             THEN coalesce(mx, 0) * 2.0 / n ELSE 0.0 END AS top2_frac,
         |        CASE WHEN len(g3) > 0
         |             THEN CAST(len(g3) - len(list_distinct(g3)) AS DOUBLE) / len(g3)
         |             ELSE 0.0 END AS dup3_frac,
         |        CAST(len(list_distinct(w)) AS DOUBLE) / n AS uniq_frac,
         |        CAST(len(list_intersect(list_distinct(w), $stopList))
         |          AS INTEGER) AS stop_hits
         |      FROM s LEFT JOIN m2 ON s.doc_id = m2.doc_id)
         |SELECT doc_id, n_words, mean_word_len, top2_frac, dup3_frac,
         |  uniq_frac, stop_hits,
         |  CAST(CASE WHEN n_words >= $MinWords AND n_words <= $MaxWords
         |    AND mean_word_len >= $MinMeanLen AND mean_word_len <= $MaxMeanLen
         |    AND top2_frac <= $MaxTop2Frac AND dup3_frac <= $MaxDup3Frac
         |    AND uniq_frac >= $MinUniqFrac AND stop_hits >= $MinStopHits
         |    THEN 1 ELSE 0 END AS INTEGER) AS keep
         |FROM r""".stripMargin
    },
    "doc_fingerprint" ->
      "SELECT doc_id, md5(text) AS md5_fp, sha256(text) AS sha256_fp FROM documents",
    "dedup_doc_exact" ->
      """SELECT md5(text) AS fp, min(doc_id) AS keep_doc_id, count(*) AS n_copies
        |FROM documents GROUP BY 1""".stripMargin,
    "text_normalize" ->
      """SELECT doc_id,
        |  trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g'),
        |       ' +', ' ', 'g')) AS norm_text,
        |  CAST(length(trim(regexp_replace(
        |       regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g'),
        |       ' +', ' ', 'g'))) AS INTEGER) AS norm_chars
        |FROM documents""".stripMargin,
    "pii_redact" ->
      """SELECT doc_id,
        |  regexp_replace(regexp_replace(text,
        |    '[a-z0-9._-]+@[a-z0-9.-]+\.[a-z]+', '<EMAIL>', 'g'),
        |    '[0-9]{6,}', '<NUM>', 'g') AS redacted,
        |  CAST(len(regexp_extract_all(text, '[a-z0-9._-]+@[a-z0-9.-]+\.[a-z]+'))
        |    AS INTEGER) AS n_emails,
        |  CAST(len(regexp_extract_all(text, '[0-9]{6,}')) AS INTEGER) AS n_long_nums
        |FROM documents""".stripMargin,
    "length_histogram" ->
      """SELECT CAST(n_chars // 100 AS INTEGER) * 100 AS bin,
        |  count(*) AS n_docs,
        |  CAST(sum(n_chars) AS BIGINT) AS sum_chars
        |FROM documents GROUP BY 1""".stripMargin,
    "ngram_jaccard" ->
      """WITH d AS (
        |  SELECT doc_id,
        |    list_distinct(list_transform(range(1, len(w) - 1),
        |      i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS sh
        |  FROM (SELECT doc_id, string_split(trim(text), ' ') AS w FROM documents)
        |  WHERE len(w) >= 3)
        |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |  CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
        |    / len(list_distinct(a.sh || b.sh)) AS jaccard
        |FROM d a JOIN d b ON b.doc_id = a.doc_id + 1""".stripMargin,
    // BLEU components: per order 1..4 the clipped match count and the
    // candidate total, p_n one exact division; the scalar BLEU (exp/ln)
    // is left to callers by design — every ingredient is exact
    "bleu_eval" -> {
      def gram(n: Int): String =
        if (n == 1) "w"
        else s"CASE WHEN len(w) >= $n THEN list_transform(range(1, len(w) - ${n - 2}), " +
          s"i -> concat(${(0 until n).map(j => if (j == 0) "w[i]" else s"' ', w[i+$j]").mkString(", ")})) ELSE [] END"
      val tfs = (1 to 4).map { n =>
        s"""t$n AS (SELECT doc_id, g, CAST(count(*) AS BIGINT) AS tf
           |  FROM (SELECT doc_id, unnest(${if (n == 1) "w" else s"g$n"}) AS g FROM b) x
           |  GROUP BY 1, 2),
           |o$n AS (SELECT r.doc_id AS ref_id,
           |    CAST(sum(least(r.tf, c.tf)) AS BIGINT) AS m$n
           |  FROM t$n r JOIN t$n c ON c.doc_id = r.doc_id + 1 AND c.g = r.g
           |  GROUP BY 1)""".stripMargin
      }.mkString(",\n")
      val outs = (1 to 4).map { n =>
        s"""  coalesce(o$n.m$n, 0) AS m$n, c$n,
           |  CASE WHEN c$n <> 0 THEN
           |    CAST(coalesce(o$n.m$n, 0) AS DOUBLE) / CAST(c$n AS DOUBLE)
           |  END AS p$n""".stripMargin
      }.mkString(",\n")
      s"""WITH d AS (SELECT doc_id, string_split(trim(text), ' ') AS w
        |           FROM documents),
        |b AS (SELECT doc_id, w,
        |        ${gram(2)} AS g2, ${gram(3)} AS g3, ${gram(4)} AS g4
        |      FROM d),
        |tot AS (SELECT doc_id, CAST(len(w) AS BIGINT) AS c1,
        |          CAST(len(g2) AS BIGINT) AS c2,
        |          CAST(len(g3) AS BIGINT) AS c3,
        |          CAST(len(g4) AS BIGINT) AS c4 FROM b),
        |$tfs,
        |p AS (SELECT r.doc_id AS ref_id,
        |        r.c1 AS r1, c.c1, c.c2, c.c3, c.c4
        |      FROM tot r JOIN tot c ON c.doc_id = r.doc_id + 1)
        |SELECT p.ref_id, p.ref_id + 1 AS cand_id,
        |  r1 AS r_len, c1 AS c_len, c1 < r1 AS bp_applies,
        |$outs
        |FROM p
        |LEFT JOIN o1 USING (ref_id) LEFT JOIN o2 USING (ref_id)
        |LEFT JOIN o3 USING (ref_id) LEFT JOIN o4 USING (ref_id)""".stripMargin
    },
    // ROUGE with real CLIPPED counts (multiset min of tfs); F1 via the
    // algebraic collapse 2·ov/(n_ref+n_cand) — one division over exact
    // integers; ROUGE-2 NULL-guards one-token documents
    "rouge_eval" ->
      """WITH d AS (SELECT doc_id, string_split(trim(text), ' ') AS w
        |           FROM documents),
        |b AS (SELECT doc_id, w,
        |        CASE WHEN len(w) >= 2
        |             THEN list_transform(range(1, len(w)),
        |                    i -> concat(w[i], ' ', w[i+1]))
        |             ELSE [] END AS g2
        |      FROM d),
        |tot AS (SELECT doc_id, CAST(len(w) AS BIGINT) AS n1,
        |          CAST(len(g2) AS BIGINT) AS n2 FROM b),
        |t1 AS (SELECT doc_id, g, CAST(count(*) AS BIGINT) AS tf
        |       FROM (SELECT doc_id, unnest(w) AS g FROM b) x GROUP BY 1, 2),
        |t2 AS (SELECT doc_id, g, CAST(count(*) AS BIGINT) AS tf
        |       FROM (SELECT doc_id, unnest(g2) AS g FROM b) x GROUP BY 1, 2),
        |o1 AS (SELECT r.doc_id AS ref_id,
        |         CAST(sum(least(r.tf, c.tf)) AS BIGINT) AS ov1
        |       FROM t1 r JOIN t1 c ON c.doc_id = r.doc_id + 1 AND c.g = r.g
        |       GROUP BY 1),
        |o2 AS (SELECT r.doc_id AS ref_id,
        |         CAST(sum(least(r.tf, c.tf)) AS BIGINT) AS ov2
        |       FROM t2 r JOIN t2 c ON c.doc_id = r.doc_id + 1 AND c.g = r.g
        |       GROUP BY 1),
        |p AS (SELECT r.doc_id AS ref_id, r.n1 AS n1_ref, r.n2 AS n2_ref,
        |        c.n1 AS n1_cand, c.n2 AS n2_cand
        |      FROM tot r JOIN tot c ON c.doc_id = r.doc_id + 1)
        |SELECT p.ref_id, p.ref_id + 1 AS cand_id,
        |  coalesce(o1.ov1, 0) AS ov1, n1_ref, n1_cand,
        |  CAST(coalesce(o1.ov1, 0) AS DOUBLE) / CAST(n1_cand AS DOUBLE)
        |    AS rouge1_p,
        |  CAST(coalesce(o1.ov1, 0) AS DOUBLE) / CAST(n1_ref AS DOUBLE)
        |    AS rouge1_r,
        |  CAST(2 * coalesce(o1.ov1, 0) AS DOUBLE)
        |    / CAST(n1_ref + n1_cand AS DOUBLE) AS rouge1_f,
        |  coalesce(o2.ov2, 0) AS ov2, n2_ref, n2_cand,
        |  CASE WHEN n2_cand <> 0 THEN
        |    CAST(coalesce(o2.ov2, 0) AS DOUBLE) / CAST(n2_cand AS DOUBLE)
        |  END AS rouge2_p,
        |  CASE WHEN n2_ref <> 0 THEN
        |    CAST(coalesce(o2.ov2, 0) AS DOUBLE) / CAST(n2_ref AS DOUBLE)
        |  END AS rouge2_r,
        |  CASE WHEN n2_ref + n2_cand <> 0 THEN
        |    CAST(2 * coalesce(o2.ov2, 0) AS DOUBLE)
        |      / CAST(n2_ref + n2_cand AS DOUBLE)
        |  END AS rouge2_f
        |FROM p LEFT JOIN o1 USING (ref_id) LEFT JOIN o2 USING (ref_id)""".stripMargin,
    // ROUGE-L: the LCS DP replayed over ANTI-DIAGONALS in a recursive CTE
    // (the bpe_segment replay discipline) — cell (i,j) needs (i-1,j-1)
    // from diagonal k-2 and (i-1,j)/(i,j-1) from k-1, and a recursive arm
    // may reference its own table only once, so each iteration's row per
    // pair carries diagonal k as `cur` AND diagonal k-1 as `prev`, both as
    // lists indexed by row i (position i+1). Invalid/boundary cells hold 0
    // (never exceeds a real dp value, and dp[i][0]=dp[0][j]=0 anyway);
    // answer = dp[nr][nc] on diagonal nr+nc. Depth = nr+nc, bounded by
    // document length.
    "rouge_l_eval" ->
      """WITH RECURSIVE pairs AS (
        |  SELECT r.doc_id AS ref_id,
        |         string_split(trim(r.text), ' ') AS wr,
        |         string_split(trim(c.text), ' ') AS wc
        |  FROM documents r JOIN documents c ON c.doc_id = r.doc_id + 1),
        |dims AS (SELECT ref_id, wr, wc,
        |           CAST(len(wr) AS INTEGER) AS nr,
        |           CAST(len(wc) AS INTEGER) AS nc
        |         FROM pairs),
        |dp AS (
        |  SELECT ref_id, 0 AS k,
        |    list_transform(range(0, nr + 1), a -> 0) AS cur,
        |    list_transform(range(0, nr + 1), a -> 0) AS prev
        |  FROM dims
        |  UNION ALL
        |  SELECT d.ref_id, d.k + 1,
        |    list_transform(range(0, m.nr + 1), a ->
        |      CASE WHEN a < 1 OR d.k + 1 - a < 1 OR d.k + 1 - a > m.nc
        |             THEN 0
        |           WHEN m.wr[CAST(a AS INTEGER)]
        |                  = m.wc[CAST(d.k + 1 - a AS INTEGER)]
        |             THEN d.prev[CAST(a AS INTEGER)] + 1
        |           ELSE greatest(d.cur[CAST(a AS INTEGER)],
        |                         d.cur[CAST(a + 1 AS INTEGER)])
        |      END),
        |    d.cur
        |  FROM dp d JOIN dims m USING (ref_id)
        |  WHERE d.k < m.nr + m.nc),
        |fin AS (
        |  SELECT d.ref_id, d.cur[m.nr + 1] AS lcs, m.nr, m.nc
        |  FROM dp d JOIN dims m USING (ref_id)
        |  WHERE d.k = m.nr + m.nc)
        |SELECT ref_id, ref_id + 1 AS cand_id, CAST(lcs AS BIGINT) AS lcs,
        |  CAST(nr AS BIGINT) AS n_ref, CAST(nc AS BIGINT) AS n_cand,
        |  CAST(lcs AS DOUBLE) / CAST(nc AS DOUBLE) AS rougel_p,
        |  CAST(lcs AS DOUBLE) / CAST(nr AS DOUBLE) AS rougel_r,
        |  CAST(2 * lcs AS DOUBLE) / CAST(nr + nc AS DOUBLE) AS rougel_f
        |FROM fin""".stripMargin,
    "ngram_containment" ->
      s"""WITH d AS (
        |  SELECT doc_id, anchor,
        |    list_distinct(list_transform(range(1, len(w) - 1),
        |      i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS sh
        |  FROM (SELECT doc_id, md5(substr(text, 1, 100)) AS anchor,
        |          string_split(trim(text), ' ') AS w FROM documents)
        |  WHERE len(w) >= 3),
        |ac AS (SELECT anchor FROM d GROUP BY anchor
        |       HAVING count(*) <= ${graft.ops.DedupOps.MaxBucket}),
        |p AS (
        |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, a.sh AS sha, b.sh AS shb
        |  FROM d a JOIN d b ON b.doc_id = a.doc_id + 1
        |  UNION ALL
        |  SELECT a.doc_id, b.doc_id, a.sh, b.sh
        |  FROM d a JOIN d b ON a.anchor = b.anchor AND a.doc_id < b.doc_id
        |  JOIN ac ON ac.anchor = a.anchor)
        |SELECT DISTINCT doc_a, doc_b, cont_a, cont_b,
        |  CASE WHEN jaccard >= 0.5 THEN 'near_dup'
        |       WHEN cont_a >= 0.8 THEN 'a_in_b'
        |       WHEN cont_b >= 0.8 THEN 'b_in_a'
        |       ELSE 'distinct' END AS relation
        |FROM (
        |  SELECT doc_a, doc_b,
        |    CAST(len(list_intersect(sha, shb)) AS DOUBLE) / len(sha) AS cont_a,
        |    CAST(len(list_intersect(sha, shb)) AS DOUBLE) / len(shb) AS cont_b,
        |    CAST(len(list_intersect(sha, shb)) AS DOUBLE)
        |      / len(list_distinct(sha || shb)) AS jaccard
        |  FROM p)""".stripMargin,
    "dedup_clusters" ->
      """WITH RECURSIVE
        |d AS (
        |  SELECT doc_id,
        |    list_distinct(list_transform(range(1, len(w) - 1),
        |      i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS sh
        |  FROM (SELECT doc_id, string_split(trim(text), ' ') AS w FROM documents)
        |  WHERE len(w) >= 3),
        |p AS (
        |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
        |  FROM d a JOIN d b ON b.doc_id = a.doc_id + 1
        |  WHERE CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
        |          / len(list_distinct(a.sh || b.sh)) >= 0.5),
        |e AS (SELECT doc_a AS s, doc_b AS t FROM p
        |      UNION ALL SELECT doc_b, doc_a FROM p),
        |walk(doc_id, label) AS (
        |  SELECT doc_id, doc_id FROM documents
        |  UNION
        |  SELECT e.s, w.label FROM walk w JOIN e ON e.t = w.doc_id)
        |SELECT doc_id, cluster_id,
        |  CAST(count(*) OVER (PARTITION BY cluster_id) AS BIGINT) AS cluster_size
        |FROM (SELECT doc_id, min(label) AS cluster_id FROM walk GROUP BY 1) t""".stripMargin,
    "sql_recursive_closure" ->
      """WITH RECURSIVE
        |d AS (
        |  SELECT doc_id,
        |    list_distinct(list_transform(range(1, len(w) - 1),
        |      i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS sh
        |  FROM (SELECT doc_id, string_split(trim(text), ' ') AS w FROM documents)
        |  WHERE len(w) >= 3),
        |p AS (
        |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
        |  FROM d a JOIN d b ON b.doc_id = a.doc_id + 1
        |  WHERE CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
        |          / len(list_distinct(a.sh || b.sh)) >= 0.5),
        |walk(doc_id, lab) AS (
        |  SELECT doc_id, doc_id FROM documents
        |  UNION ALL
        |  SELECT w.doc_id, p.doc_a FROM walk w JOIN p ON p.doc_b = w.lab)
        |SELECT doc_id, cluster_id,
        |  CAST(count(*) OVER (PARTITION BY cluster_id) AS BIGINT) AS cluster_size
        |FROM (SELECT doc_id, min(lab) AS cluster_id FROM walk GROUP BY doc_id) t""".stripMargin,
    "filtered_knn" ->
      """WITH e AS (SELECT vec_id, label,
        |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        |  FROM embeddings),
        |c AS (SELECT * FROM e WHERE label IN (2, 5, 7)),
        |q AS (SELECT vec_id AS q_id, v AS qv FROM e WHERE vec_id < 10),
        |s AS (SELECT q_id, vec_id, label,
        |    list_sum(list_transform(list_zip(v, qv), p -> p[1] * p[2]))
        |      / (sqrt(list_sum(list_transform(v, x -> x * x)))
        |         * sqrt(list_sum(list_transform(qv, x -> x * x)))) AS cosine
        |  FROM c, q WHERE vec_id <> q_id)
        |SELECT q_id, vec_id, CAST(label AS INTEGER) AS label, cosine,
        |  CAST(rk AS INTEGER) AS rk FROM (
        |  SELECT q_id, vec_id, label, cosine,
        |    row_number() OVER (PARTITION BY q_id ORDER BY cosine DESC, vec_id) AS rk
        |  FROM s) t WHERE rk <= 5""".stripMargin,
    "knn_cosine" ->
      """WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        |           FROM embeddings),
        |q AS (SELECT vec_id AS q_id, v AS qv FROM e WHERE vec_id < 10),
        |s AS (SELECT q_id, vec_id,
        |    list_sum(list_transform(list_zip(v, qv), p -> p[1] * p[2]))
        |      / (sqrt(list_sum(list_transform(v, x -> x * x)))
        |         * sqrt(list_sum(list_transform(qv, x -> x * x)))) AS cosine
        |  FROM e, q WHERE vec_id <> q_id)
        |SELECT q_id, vec_id, cosine, CAST(rk AS INTEGER) AS rk FROM (
        |  SELECT q_id, vec_id, cosine,
        |    row_number() OVER (PARTITION BY q_id ORDER BY cosine DESC, vec_id) AS rk
        |  FROM s) t WHERE rk <= 10""".stripMargin,
    // RRF fusion: the vector leg reuses knn_cosine's parity-established
    // cosine fragment; the lexical leg ranks integer distinct-3-gram
    // overlaps (zero-overlap candidates never rank); the fused score is
    // a FIXED two-term expression over integer ranks (1e0 not 1.0 —
    // DuckDB parses 1.0 as DECIMAL and the division would leave DOUBLE)
    "hybrid_rrf" ->
      """WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        |           FROM embeddings),
        |q AS (SELECT vec_id AS q_id, v AS qv FROM e WHERE vec_id < 10),
        |s AS (SELECT q_id, vec_id,
        |    list_sum(list_transform(list_zip(v, qv), p -> p[1] * p[2]))
        |      / (sqrt(list_sum(list_transform(v, x -> x * x)))
        |         * sqrt(list_sum(list_transform(qv, x -> x * x)))) AS cosine
        |  FROM e, q WHERE vec_id <> q_id),
        |vleg AS (SELECT q_id, vec_id AS id, rk AS rk_v FROM (
        |    SELECT q_id, vec_id,
        |      row_number() OVER (PARTITION BY q_id ORDER BY cosine DESC, vec_id) AS rk
        |    FROM s) t WHERE rk <= 10),
        |d AS (SELECT doc_id, string_split(trim(text), ' ') AS w FROM documents),
        |sh AS (SELECT doc_id,
        |         list_distinct(list_transform(range(1, len(w) - 1),
        |           i -> concat(w[i], ' ', w[i+1], ' ', w[i+2]))) AS g
        |       FROM d WHERE len(w) >= 3),
        |o AS (SELECT qs.doc_id AS q_id, c.doc_id AS id,
        |        len(list_intersect(c.g, qs.g)) AS overlap
        |      FROM sh c JOIN sh qs ON qs.doc_id < 10 AND c.doc_id <> qs.doc_id),
        |lleg AS (SELECT q_id, id, rk AS rk_l FROM (
        |    SELECT q_id, id,
        |      row_number() OVER (PARTITION BY q_id ORDER BY overlap DESC, id) AS rk
        |    FROM o WHERE overlap > 0) t WHERE rk <= 10),
        |f AS (SELECT coalesce(v.q_id, l.q_id) AS q_id,
        |        coalesce(v.id, l.id) AS id,
        |        CAST(coalesce(v.rk_v, 0) AS INTEGER) AS rk_v,
        |        CAST(coalesce(l.rk_l, 0) AS INTEGER) AS rk_l,
        |        (CASE WHEN v.rk_v IS NOT NULL THEN 1e0 / (60 + v.rk_v) ELSE 0e0 END
        |         + CASE WHEN l.rk_l IS NOT NULL THEN 1e0 / (60 + l.rk_l) ELSE 0e0 END)
        |          AS fused
        |      FROM vleg v FULL OUTER JOIN lleg l
        |        ON v.q_id = l.q_id AND v.id = l.id)
        |SELECT q_id, id, rk_v, rk_l, fused, CAST(fr AS INTEGER) AS fused_rk FROM (
        |  SELECT q_id, id, rk_v, rk_l, fused,
        |    row_number() OVER (PARTITION BY q_id ORDER BY fused DESC, id) AS fr
        |  FROM f) t WHERE fr <= 10""".stripMargin,
    // three-leg RRF: the vector/overlap legs replay hybrid_rrf's parity-
    // established fragments, the BM25 leg replays bm25_topk's; fused is
    // the same FIXED left-associated sum of 1/(60+rank) CASE terms over
    // integer ranks, so no float aggregation exists to diverge
    "hybrid_rrf3" ->
      """WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        |           FROM embeddings),
        |q AS (SELECT vec_id AS q_id, v AS qv FROM e WHERE vec_id < 10),
        |s AS (SELECT q_id, vec_id,
        |    list_sum(list_transform(list_zip(v, qv), p -> p[1] * p[2]))
        |      / (sqrt(list_sum(list_transform(v, x -> x * x)))
        |         * sqrt(list_sum(list_transform(qv, x -> x * x)))) AS cosine
        |  FROM e, q WHERE vec_id <> q_id),
        |vleg AS (SELECT q_id, vec_id AS id, rk AS rk_v FROM (
        |    SELECT q_id, vec_id,
        |      row_number() OVER (PARTITION BY q_id ORDER BY cosine DESC, vec_id) AS rk
        |    FROM s) t WHERE rk <= 10),
        |d AS (SELECT doc_id, string_split(trim(text), ' ') AS w FROM documents),
        |sh AS (SELECT doc_id,
        |         list_distinct(list_transform(range(1, len(w) - 1),
        |           i -> concat(w[i], ' ', w[i+1], ' ', w[i+2]))) AS g
        |       FROM d WHERE len(w) >= 3),
        |o AS (SELECT qs.doc_id AS q_id, c.doc_id AS id,
        |        len(list_intersect(c.g, qs.g)) AS overlap
        |      FROM sh c JOIN sh qs ON qs.doc_id < 10 AND c.doc_id <> qs.doc_id),
        |lleg AS (SELECT q_id, id, rk AS rk_l FROM (
        |    SELECT q_id, id,
        |      row_number() OVER (PARTITION BY q_id ORDER BY overlap DESC, id) AS rk
        |    FROM o WHERE overlap > 0) t WHERE rk <= 10),
        |docs AS (SELECT doc_id, w, CAST(len(w) - 2 AS BIGINT) AS dl
        |         FROM d WHERE len(w) >= 3),
        |stats AS (SELECT CAST(count(*) AS BIGINT) AS n_docs,
        |            CAST(sum(dl) AS BIGINT) AS t_grams FROM docs),
        |ex AS (SELECT doc_id, dl,
        |         unnest(list_transform(range(1, len(w) - 1),
        |           i -> concat(w[i], ' ', w[i+1], ' ', w[i+2]))) AS g
        |       FROM docs),
        |qset AS (SELECT DISTINCT g FROM ex WHERE doc_id < 10),
        |grams AS (SELECT doc_id, dl, g, CAST(count(*) AS BIGINT) AS tf
        |          FROM ex JOIN qset USING (g) GROUP BY 1, 2, 3),
        |qg AS (SELECT doc_id AS q_id, g FROM grams WHERE doc_id < 10),
        |idf AS (SELECT g,
        |          CAST(floor(ln(1e0 +
        |            (CAST(n_docs AS DOUBLE) - CAST(df_g AS DOUBLE) + 0.5e0)
        |              / (CAST(df_g AS DOUBLE) + 0.5e0)) * 1e6) AS BIGINT)
        |            AS idf_q6
        |        FROM (SELECT g, CAST(count(*) AS BIGINT) AS df_g
        |              FROM grams GROUP BY 1) f, stats),
        |scored AS (
        |  SELECT qg.q_id, gr.doc_id,
        |    CAST(sum(CAST(floor(CAST(idf.idf_q6 AS DOUBLE) *
        |      ((CAST(gr.tf AS DOUBLE) * 2.2) /
        |       (CAST(gr.tf AS DOUBLE) + 1.2 *
        |        (0.25 + 0.75 * (CAST(gr.dl * s.n_docs AS DOUBLE)
        |                        / CAST(s.t_grams AS DOUBLE)))))) AS BIGINT))
        |      AS BIGINT) AS score_q6
        |  FROM grams gr
        |  JOIN qg ON qg.g = gr.g AND gr.doc_id <> qg.q_id
        |  JOIN idf ON idf.g = gr.g
        |  CROSS JOIN stats s
        |  GROUP BY 1, 2),
        |bleg AS (SELECT q_id, doc_id AS id, rk AS rk_b
        |  FROM (SELECT q_id, doc_id,
        |          row_number() OVER (PARTITION BY q_id
        |            ORDER BY score_q6 DESC, doc_id) AS rk
        |        FROM scored) t
        |  WHERE rk <= 10),
        |vl AS (SELECT coalesce(v.q_id, l.q_id) AS q_id,
        |         coalesce(v.id, l.id) AS id, v.rk_v, l.rk_l
        |       FROM vleg v FULL OUTER JOIN lleg l
        |         ON v.q_id = l.q_id AND v.id = l.id),
        |f AS (SELECT coalesce(vl.q_id, b.q_id) AS q_id,
        |        coalesce(vl.id, b.id) AS id,
        |        CAST(coalesce(vl.rk_v, 0) AS INTEGER) AS rk_v,
        |        CAST(coalesce(vl.rk_l, 0) AS INTEGER) AS rk_l,
        |        CAST(coalesce(b.rk_b, 0) AS INTEGER) AS rk_b,
        |        (CASE WHEN vl.rk_v IS NOT NULL THEN 1e0 / (60 + vl.rk_v) ELSE 0e0 END
        |         + CASE WHEN vl.rk_l IS NOT NULL THEN 1e0 / (60 + vl.rk_l) ELSE 0e0 END
        |         + CASE WHEN b.rk_b IS NOT NULL THEN 1e0 / (60 + b.rk_b) ELSE 0e0 END)
        |          AS fused
        |      FROM vl FULL OUTER JOIN bleg b
        |        ON vl.q_id = b.q_id AND vl.id = b.id)
        |SELECT q_id, id, rk_v, rk_l, rk_b, fused,
        |  CAST(fr AS INTEGER) AS fused_rk FROM (
        |  SELECT q_id, id, rk_v, rk_l, rk_b, fused,
        |    row_number() OVER (PARTITION BY q_id ORDER BY fused DESC, id) AS fr
        |  FROM f) t WHERE fr <= 10""".stripMargin,
    // BM25 lexical retrieval: idf floor-quantized to q6 the moment it is
    // computed (pmi_q9 discipline — ln is the one library-rounded step),
    // k1/b as parse-exact literals (SimilarityOps.Bm25K1/Bm25B; 1.2+1.0
    // == 2.2 exactly), dl/avgdl cleared to the exact integer dl·N over T,
    // per-term weights floor-quantized to BIGINT before the score sum
    "bm25_topk" ->
      """WITH d AS (SELECT doc_id, string_split(trim(text), ' ') AS w
        |           FROM documents),
        |docs AS (SELECT doc_id, w, CAST(len(w) - 2 AS BIGINT) AS dl
        |         FROM d WHERE len(w) >= 3),
        |stats AS (SELECT CAST(count(*) AS BIGINT) AS n_docs,
        |            CAST(sum(dl) AS BIGINT) AS t_grams FROM docs),
        |ex AS (SELECT doc_id, dl,
        |         unnest(list_transform(range(1, len(w) - 1),
        |           i -> concat(w[i], ' ', w[i+1], ' ', w[i+2]))) AS g
        |       FROM docs),
        |qset AS (SELECT DISTINCT g FROM ex WHERE doc_id < 10),
        |grams AS (SELECT doc_id, dl, g, CAST(count(*) AS BIGINT) AS tf
        |          FROM ex JOIN qset USING (g) GROUP BY 1, 2, 3),
        |qg AS (SELECT doc_id AS q_id, g FROM grams WHERE doc_id < 10),
        |idf AS (SELECT g,
        |          CAST(floor(ln(1e0 +
        |            (CAST(n_docs AS DOUBLE) - CAST(df_g AS DOUBLE) + 0.5e0)
        |              / (CAST(df_g AS DOUBLE) + 0.5e0)) * 1e6) AS BIGINT)
        |            AS idf_q6
        |        FROM (SELECT g, CAST(count(*) AS BIGINT) AS df_g
        |              FROM grams GROUP BY 1) f, stats),
        |scored AS (
        |  SELECT qg.q_id, gr.doc_id,
        |    CAST(sum(CAST(floor(CAST(idf.idf_q6 AS DOUBLE) *
        |      ((CAST(gr.tf AS DOUBLE) * 2.2) /
        |       (CAST(gr.tf AS DOUBLE) + 1.2 *
        |        (0.25 + 0.75 * (CAST(gr.dl * s.n_docs AS DOUBLE)
        |                        / CAST(s.t_grams AS DOUBLE)))))) AS BIGINT))
        |      AS BIGINT) AS score_q6
        |  FROM grams gr
        |  JOIN qg ON qg.g = gr.g AND gr.doc_id <> qg.q_id
        |  JOIN idf ON idf.g = gr.g
        |  CROSS JOIN stats s
        |  GROUP BY 1, 2)
        |SELECT q_id, doc_id AS id, score_q6,
        |  CAST(score_q6 AS DOUBLE) / 1e6 AS score,
        |  CAST(rk AS INTEGER) AS rk
        |FROM (SELECT q_id, doc_id, score_q6,
        |        row_number() OVER (PARTITION BY q_id
        |          ORDER BY score_q6 DESC, doc_id) AS rk
        |      FROM scored) t
        |WHERE rk <= 10""".stripMargin,
    // nDCG@10 of the lexical leg vs exact-cosine relevance: both legs
    // replay their parity-established fragments; DCG is pure BIGINT
    // (gain × interpolated integer discount literals — no libm log in
    // hashed output), ONE boundary division by the interpolated ideal
    "ndcg_eval" ->
      s"""WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        |           FROM embeddings),
        |q AS (SELECT vec_id AS q_id, v AS qv FROM e WHERE vec_id < 10),
        |s AS (SELECT q_id, vec_id,
        |    list_sum(list_transform(list_zip(v, qv), p -> p[1] * p[2]))
        |      / (sqrt(list_sum(list_transform(v, x -> x * x)))
        |         * sqrt(list_sum(list_transform(qv, x -> x * x)))) AS cosine
        |  FROM e, q WHERE vec_id <> q_id),
        |vleg AS (SELECT q_id, vec_id AS id, CAST(11 - rk AS BIGINT) AS gain FROM (
        |    SELECT q_id, vec_id,
        |      row_number() OVER (PARTITION BY q_id ORDER BY cosine DESC, vec_id) AS rk
        |    FROM s) t WHERE rk <= 10),
        |d AS (SELECT doc_id, string_split(trim(text), ' ') AS w FROM documents),
        |sh AS (SELECT doc_id,
        |         list_distinct(list_transform(range(1, len(w) - 1),
        |           i -> concat(w[i], ' ', w[i+1], ' ', w[i+2]))) AS g
        |       FROM d WHERE len(w) >= 3),
        |o AS (SELECT qs.doc_id AS q_id, c.doc_id AS id,
        |        len(list_intersect(c.g, qs.g)) AS overlap
        |      FROM sh c JOIN sh qs ON qs.doc_id < 10 AND c.doc_id <> qs.doc_id),
        |lleg AS (SELECT q_id, id, rk_l FROM (
        |    SELECT q_id, id,
        |      row_number() OVER (PARTITION BY q_id ORDER BY overlap DESC, id) AS rk_l
        |    FROM o WHERE overlap > 0) t WHERE rk_l <= 10),
        |j AS (SELECT l.q_id, l.rk_l,
        |        coalesce(v.gain, 0)
        |          * list_extract([${graft.ops.SimilarityOps.NdcgDiscounts.mkString(", ")}], l.rk_l) AS dg,
        |        CASE WHEN v.gain IS NOT NULL THEN 1 ELSE 0 END AS hit,
        |        CASE WHEN v.gain IS NOT NULL THEN l.rk_l END AS hit_rk
        |      FROM lleg l LEFT JOIN vleg v ON v.q_id = l.q_id AND v.id = l.id),
        |g AS (SELECT q_id, CAST(sum(hit) AS BIGINT) AS n_hits,
        |        min(hit_rk) AS best_hit,
        |        CAST(sum(dg) AS BIGINT) AS dcg_scaled
        |      FROM j GROUP BY q_id),
        |qs AS (SELECT doc_id AS q_id FROM documents WHERE doc_id < 10)
        |SELECT qs.q_id, coalesce(n_hits, 0) AS n_hits,
        |  CAST(coalesce(best_hit, 0) AS INTEGER) AS best_hit_rank,
        |  coalesce(dcg_scaled, 0) AS dcg_scaled,
        |  CAST(coalesce(dcg_scaled, 0) AS DOUBLE)
        |    / ${graft.ops.SimilarityOps.NdcgIdealScaled}e0 AS ndcg
        |FROM qs LEFT JOIN g ON g.q_id = qs.q_id""".stripMargin,
    // truncated RBO at p = 1/2: a shared id at ranks (r_v, r_b) enters
    // every depth >= max(r_v, r_b), so its whole contribution is the
    // interpolated suffix-sum lookup — exact BIGINT, one boundary division
    "rbo_eval" ->
      s"""WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        |           FROM embeddings),
        |q AS (SELECT vec_id AS q_id, v AS qv FROM e WHERE vec_id < 10),
        |s AS (SELECT q_id, vec_id,
        |    list_sum(list_transform(list_zip(v, qv), p -> p[1] * p[2]))
        |      / (sqrt(list_sum(list_transform(v, x -> x * x)))
        |         * sqrt(list_sum(list_transform(qv, x -> x * x)))) AS cosine
        |  FROM e, q WHERE vec_id <> q_id),
        |vleg AS (SELECT q_id, vec_id AS id, rk AS rk_v FROM (
        |    SELECT q_id, vec_id,
        |      row_number() OVER (PARTITION BY q_id ORDER BY cosine DESC, vec_id) AS rk
        |    FROM s) t WHERE rk <= 10),
        |d AS (SELECT doc_id, string_split(trim(text), ' ') AS w FROM documents),
        |docs AS (SELECT doc_id, w, CAST(len(w) - 2 AS BIGINT) AS dl
        |         FROM d WHERE len(w) >= 3),
        |stats AS (SELECT CAST(count(*) AS BIGINT) AS n_docs,
        |            CAST(sum(dl) AS BIGINT) AS t_grams FROM docs),
        |ex AS (SELECT doc_id, dl,
        |         unnest(list_transform(range(1, len(w) - 1),
        |           i -> concat(w[i], ' ', w[i+1], ' ', w[i+2]))) AS g
        |       FROM docs),
        |qset AS (SELECT DISTINCT g FROM ex WHERE doc_id < 10),
        |grams AS (SELECT doc_id, dl, g, CAST(count(*) AS BIGINT) AS tf
        |          FROM ex JOIN qset USING (g) GROUP BY 1, 2, 3),
        |qg AS (SELECT doc_id AS q_id, g FROM grams WHERE doc_id < 10),
        |idf AS (SELECT g,
        |          CAST(floor(ln(1e0 +
        |            (CAST(n_docs AS DOUBLE) - CAST(df_g AS DOUBLE) + 0.5e0)
        |              / (CAST(df_g AS DOUBLE) + 0.5e0)) * 1e6) AS BIGINT)
        |            AS idf_q6
        |        FROM (SELECT g, CAST(count(*) AS BIGINT) AS df_g
        |              FROM grams GROUP BY 1) f, stats),
        |scored AS (
        |  SELECT qg.q_id, gr.doc_id,
        |    CAST(sum(CAST(floor(CAST(idf.idf_q6 AS DOUBLE) *
        |      ((CAST(gr.tf AS DOUBLE) * 2.2) /
        |       (CAST(gr.tf AS DOUBLE) + 1.2 *
        |        (0.25 + 0.75 * (CAST(gr.dl * s.n_docs AS DOUBLE)
        |                        / CAST(s.t_grams AS DOUBLE)))))) AS BIGINT))
        |      AS BIGINT) AS score_q6
        |  FROM grams gr
        |  JOIN qg ON qg.g = gr.g AND gr.doc_id <> qg.q_id
        |  JOIN idf ON idf.g = gr.g
        |  CROSS JOIN stats s
        |  GROUP BY 1, 2),
        |bleg AS (SELECT q_id, doc_id AS id, rk AS rk_b
        |  FROM (SELECT q_id, doc_id,
        |          row_number() OVER (PARTITION BY q_id
        |            ORDER BY score_q6 DESC, doc_id) AS rk
        |        FROM scored) t
        |  WHERE rk <= 10),
        |shared AS (SELECT v.q_id, CAST(count(*) AS BIGINT) AS n_shared,
        |    CAST(sum(list_extract(
        |      [${graft.ops.SimilarityOps.RboTailWeights.mkString(", ")}],
        |      greatest(v.rk_v, b.rk_b))) AS BIGINT) AS rbo_scaled
        |  FROM vleg v JOIN bleg b ON b.q_id = v.q_id AND b.id = v.id
        |  GROUP BY 1),
        |qs AS (SELECT DISTINCT q_id FROM (
        |  SELECT q_id FROM vleg UNION ALL SELECT q_id FROM bleg) u)
        |SELECT qs.q_id, coalesce(n_shared, 0) AS n_shared,
        |  coalesce(rbo_scaled, 0) AS rbo_scaled,
        |  CAST(coalesce(rbo_scaled, 0) AS DOUBLE)
        |    / ${graft.ops.SimilarityOps.RboDenom}e0 AS rbo
        |FROM qs LEFT JOIN shared ON shared.q_id = qs.q_id""".stripMargin,
    // drift monitor: floor(1e3·x) keeps every product under 2^53 so all
    // conversions are exact; the mean cosine's 1/n factors cancel into
    // pure integer sums; argmax via (cr desc, dim) LIMIT 1 = the engine's
    // min_by struct twin
    "embed_drift" ->
      """WITH e AS (SELECT vec_id,
        |    CAST(generate_subscripts(embedding, 1) - 1 AS INTEGER) AS dim,
        |    CAST(floor(CAST(unnest(embedding) AS DOUBLE) * 1e3) AS BIGINT) AS q
        |  FROM embeddings),
        |d AS (SELECT dim,
        |    CAST(sum(CASE WHEN vec_id % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
        |    CAST(sum(CASE WHEN vec_id % 2 = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_b,
        |    CAST(sum(CASE WHEN vec_id % 2 = 0 THEN q ELSE 0 END) AS BIGINT) AS sa,
        |    CAST(sum(CASE WHEN vec_id % 2 = 1 THEN q ELSE 0 END) AS BIGINT) AS sb
        |  FROM e GROUP BY dim),
        |c AS (SELECT dim, n_a, n_b, sa, sb,
        |        abs(sa * n_b - sb * n_a) AS cr FROM d),
        |g AS (SELECT min(n_a) AS n_a, min(n_b) AS n_b,
        |    CASE WHEN sum(sa * sa) <> 0 AND sum(sb * sb) <> 0 THEN
        |      CAST(sum(sa * sb) AS DOUBLE)
        |        / (sqrt(CAST(sum(sa * sa) AS DOUBLE))
        |           * sqrt(CAST(sum(sb * sb) AS DOUBLE))) END AS cos_means,
        |    CAST(sum(CASE WHEN cr > n_a * n_b * 10 THEN 1 ELSE 0 END)
        |      AS BIGINT) AS n_drifted_dims
        |  FROM c),
        |m AS (SELECT dim AS max_shift_dim, CAST(cr AS BIGINT) AS max_shift_q
        |      FROM c ORDER BY cr DESC, dim LIMIT 1)
        |SELECT g.n_a, g.n_b, g.cos_means, g.n_drifted_dims,
        |  m.max_shift_dim, m.max_shift_q
        |FROM g, m""".stripMargin,
    // hard negatives: per-pair cosines are the parity-established
    // fragment; max over doubles is order-independent; margin is one
    // subtraction of engine-identical doubles
    "hard_negatives" ->
      """WITH e AS (SELECT vec_id, CAST(label AS INTEGER) AS label,
        |             list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        |           FROM embeddings),
        |q AS (SELECT vec_id AS q_id, label AS q_label, v AS qv
        |      FROM e WHERE vec_id < 10),
        |s AS (SELECT q_id, q_label, vec_id, label,
        |    list_sum(list_transform(list_zip(v, qv), p -> p[1] * p[2]))
        |      / (sqrt(list_sum(list_transform(v, x -> x * x)))
        |         * sqrt(list_sum(list_transform(qv, x -> x * x)))) AS cosine
        |  FROM e, q WHERE vec_id <> q_id),
        |pos AS (SELECT q_id, max(cosine) AS pos_cos FROM s
        |        WHERE label = q_label GROUP BY q_id),
        |neg AS (SELECT q_id, q_label, vec_id, label, cosine,
        |    row_number() OVER (PARTITION BY q_id ORDER BY cosine DESC, vec_id) AS rk
        |  FROM s WHERE label <> q_label)
        |SELECT n.q_id, n.q_label, n.vec_id, n.label, n.cosine,
        |  CAST(n.rk AS INTEGER) AS rk, p.pos_cos,
        |  p.pos_cos - n.cosine AS margin
        |FROM neg n LEFT JOIN pos p ON p.q_id = n.q_id WHERE n.rk <= 5""".stripMargin,
    // the integer codes themselves are engine-identical (exact float→double
    // cast, same two IEEE ops, same half-away-from-zero round), so the
    // per-dim audit hashes exactly — see SimilarityOps.int8Quantize
    "int8_quantize" ->
      """WITH e AS (SELECT vec_id, generate_subscripts(embedding, 1) AS dim,
        |                  CAST(unnest(embedding) AS DOUBLE) AS x
        |           FROM embeddings),
        |s AS (SELECT dim, nullif(max(abs(x)), 0) AS mx FROM e GROUP BY dim),
        |c AS (SELECT e.dim, CAST(round(127 * x / mx) AS BIGINT) AS code
        |      FROM e JOIN s USING (dim))
        |SELECT dim, min(code) AS min_code, max(code) AS max_code,
        |  CAST(sum(code) AS BIGINT) AS sum_code,
        |  CAST(count(*) FILTER (WHERE abs(code) = 127) AS BIGINT) AS n_sat
        |FROM c GROUP BY dim""".stripMargin,
    // per-pair cosines are engine-identical (knn_cosine's index-order
    // summation parity); cross-pair aggregation runs on floor(1e9·err)
    // integers so summation order can't matter, with ONE mirrored
    // division chain at the boundary
    "mrl_truncate" ->
      """WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        |           FROM embeddings),
        |p AS (SELECT a.v AS va, b.v AS vb,
        |        list_sum(list_transform(list_zip(a.v, b.v), z -> z[1] * z[2]))
        |          / (sqrt(list_sum(list_transform(a.v, x -> x * x)))
        |             * sqrt(list_sum(list_transform(b.v, x -> x * x)))) AS cos_full
        |      FROM e a JOIN e b ON b.vec_id = a.vec_id + 1),
        |c AS (SELECT k.k, cos_full,
        |        list_sum(list_transform(list_zip(va[1:k.k], vb[1:k.k]),
        |                                z -> z[1] * z[2]))
        |          / (sqrt(list_sum(list_transform(va[1:k.k], x -> x * x)))
        |             * sqrt(list_sum(list_transform(vb[1:k.k], x -> x * x))))
        |          AS cos_k
        |      FROM p CROSS JOIN (SELECT unnest([8, 16, 32, 64]) AS k) k),
        |q AS (SELECT k, cos_full, cos_k,
        |        CAST(floor(1e9 * abs(cos_k - cos_full)) AS BIGINT) AS err_q
        |      FROM c)
        |SELECT CAST(k AS INTEGER) AS k,
        |  CAST(count(*) AS BIGINT) AS n_pairs,
        |  CAST(sum(err_q) AS DOUBLE) / 1e9 / count(*) AS mean_abs_err,
        |  CAST(max(err_q) AS DOUBLE) / 1e9 AS max_abs_err,
        |  CAST(count(*) FILTER (WHERE (cos_k > 0) <> (cos_full > 0)) AS BIGINT)
        |    AS n_sign_flips
        |FROM q GROUP BY k""".stripMargin,
    // kmeans replays seeds + 3 Lloyd rounds as chained CTEs: centroids
    // from exact floor(x·1e6) integer sums divided once (the
    // semantic_outliers discipline), assignments via cross join +
    // row_number (d2 asc, cid asc — the engine's keep-first fold),
    // inertia from per-row floor(d2·1e6) BIGINT quantization
    "kmeans_embed" ->
      (KmeansCteSql +
        """SELECT cid AS cluster, CAST(count(*) AS BIGINT) AS n_members,
        |  CAST(sum(CAST(floor(d2 * 1e6) AS BIGINT)) AS BIGINT) AS inertia_q6,
        |  CAST(sum(CAST(floor(d2 * 1e6) AS BIGINT)) AS DOUBLE)/count(*)/1e6
        |    AS mean_d2
        |FROM af GROUP BY cid""".stripMargin),
    // IVF-Flat over the SAME replayed quantizer: the kmeans CTE prefix
    // yields converged centroids (c3) and assignments (af); probes are
    // the nProbe nearest cells per query (row_number over the same
    // distance fold), candidates are probed-cell members, cosine is the
    // knn_cosine parity fragment — the whole ANN search hash-checks
    "ann_ivf_flat" ->
      (KmeansCteSql +
        s""", nr AS (SELECT vec_id, v,
        |    sqrt(list_sum(list_transform(v, x -> x * x))) AS nrm FROM e),
        |corp AS (SELECT nr.vec_id, nr.v, nr.nrm, af.cid AS cell
        |         FROM nr JOIN af USING (vec_id)),
        |q AS (SELECT vec_id AS q_id, v AS qv, nrm AS q_nrm
        |      FROM corp WHERE vec_id < 10),
        |pr AS (SELECT q_id, cid FROM (
        |    SELECT q.q_id, c.cid,
        |      row_number() OVER (PARTITION BY q.q_id ORDER BY
        |        list_sum(list_transform(list_zip(q.qv, c.cv),
        |          p -> (p[1]-p[2])*(p[1]-p[2]))), c.cid) AS rn
        |    FROM q, c3 c) t WHERE rn <= ${SimilarityOps.AnnIvfFlatProbe}),
        |cand AS (SELECT q.q_id, corp.vec_id,
        |    list_sum(list_transform(list_zip(corp.v, q.qv), z -> z[1] * z[2]))
        |      / (corp.nrm * q.q_nrm) AS cosine
        |  FROM q JOIN pr USING (q_id)
        |  JOIN corp ON corp.cell = pr.cid AND corp.vec_id <> q.q_id)
        |SELECT q_id, vec_id, cosine, CAST(rk AS INTEGER) AS rk FROM (
        |  SELECT q_id, vec_id, cosine,
        |    row_number() OVER (PARTITION BY q_id ORDER BY cosine DESC, vec_id) AS rk
        |  FROM cand) t WHERE rk <= 3""".stripMargin),
    // equal quota per kmeans cluster, ranked by the multiplicative-hash
    // permutation of vec_id — same CTE prefix, same hash as corpus_shuffle
    "cluster_balanced_sample" ->
      (KmeansCteSql +
        """SELECT vec_id, cluster, rk FROM (
        |  SELECT vec_id, cid AS cluster,
        |    CAST(row_number() OVER (PARTITION BY cid ORDER BY
        |      (vec_id % 1000000007) * 2654435761 % 1000000007, vec_id)
        |      AS INTEGER) AS rk
        |  FROM af) t WHERE rk <= 20""".stripMargin),
    // centroid per dim from exact floor(x·1e6) integer sums (label_centroids
    // discipline) divided once; cosine via the same list fold as knn_cosine
    "semantic_outliers" ->
      """WITH e AS (SELECT vec_id, label,
        |             list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        |           FROM embeddings),
        |q AS (SELECT label, generate_subscripts(embedding, 1) AS dim,
        |        CAST(floor(CAST(unnest(embedding) AS DOUBLE) * 1e6) AS BIGINT) AS xq
        |      FROM embeddings),
        |c0 AS (SELECT label, dim,
        |         CAST(sum(xq) AS DOUBLE) / count(*) / 1e6 AS cd
        |       FROM q GROUP BY 1, 2),
        |c AS (SELECT label, list(cd ORDER BY dim) AS cv FROM c0 GROUP BY 1),
        |s AS (SELECT e.vec_id, e.label,
        |        list_sum(list_transform(list_zip(v, cv), p -> p[1] * p[2]))
        |          / (sqrt(list_sum(list_transform(v, x -> x * x)))
        |             * sqrt(list_sum(list_transform(cv, x -> x * x)))) AS cosine
        |      FROM e JOIN c USING (label))
        |SELECT label, vec_id, cosine, CAST(rk AS INTEGER) AS rk FROM (
        |  SELECT label, vec_id, cosine,
        |    row_number() OVER (PARTITION BY label ORDER BY cosine, vec_id) AS rk
        |  FROM s) t WHERE rk <= 3""".stripMargin,
    // nearest-centroid confusion: centroids and cosines replay the
    // semantic_outliers parity shapes; argmax via row_number
    // (cosine DESC, pred) = the engine's min_by((-cosine, pred)) since
    // negation is IEEE-exact; F1 = 2tp/(n_true+n_pred) is the harmonic
    // mean as ONE exact-integer division
    "centroid_confusion" ->
      """WITH e AS (SELECT vec_id, label,
        |             list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        |           FROM embeddings),
        |q AS (SELECT label, generate_subscripts(embedding, 1) AS dim,
        |        CAST(floor(CAST(unnest(embedding) AS DOUBLE) * 1e6) AS BIGINT) AS xq
        |      FROM embeddings),
        |c0 AS (SELECT label, dim,
        |         CAST(sum(xq) AS DOUBLE) / count(*) / 1e6 AS cd
        |       FROM q GROUP BY 1, 2),
        |c AS (SELECT label AS pred, list(cd ORDER BY dim) AS cv
        |      FROM c0 GROUP BY 1),
        |s AS (SELECT e.vec_id, e.label, c.pred,
        |        list_sum(list_transform(list_zip(v, cv), p -> p[1] * p[2]))
        |          / (sqrt(list_sum(list_transform(v, x -> x * x)))
        |             * sqrt(list_sum(list_transform(cv, x -> x * x)))) AS cosine
        |      FROM e CROSS JOIN c),
        |a AS (SELECT vec_id, label, pred FROM (
        |        SELECT vec_id, label, pred,
        |          row_number() OVER (PARTITION BY vec_id
        |            ORDER BY cosine DESC, pred) AS rk
        |        FROM s) t WHERE rk = 1),
        |t AS (SELECT label, CAST(count(*) AS BIGINT) AS n_true
        |      FROM a GROUP BY 1),
        |p AS (SELECT pred AS label, CAST(count(*) AS BIGINT) AS n_pred
        |      FROM a GROUP BY 1),
        |g AS (SELECT label, CAST(count(*) AS BIGINT) AS tp
        |      FROM a WHERE label = pred GROUP BY 1)
        |SELECT t.label, t.n_true,
        |  coalesce(p.n_pred, 0) AS n_pred,
        |  coalesce(g.tp, 0) AS tp,
        |  CASE WHEN coalesce(p.n_pred, 0) > 0
        |    THEN CAST(coalesce(g.tp, 0) AS DOUBLE) / CAST(p.n_pred AS DOUBLE)
        |  END AS prec,
        |  CAST(coalesce(g.tp, 0) AS DOUBLE) / CAST(t.n_true AS DOUBLE) AS recall,
        |  2e0 * CAST(coalesce(g.tp, 0) AS DOUBLE)
        |    / CAST(t.n_true + coalesce(p.n_pred, 0) AS DOUBLE) AS f1
        |FROM t LEFT JOIN p USING (label) LEFT JOIN g USING (label)""".stripMargin,
    "dataset_card" ->
      """WITH d AS (SELECT source, lang, n_chars,
        |             CAST(len(string_split(trim(text), ' ')) AS BIGINT) AS toks,
        |             md5(text) AS h
        |           FROM documents),
        |g AS (SELECT source, lang, n_chars, toks,
        |        count(*) OVER (PARTITION BY source, h) AS grp
        |      FROM d)
        |SELECT source,
        |  CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(count(DISTINCT lang) AS BIGINT) AS n_langs,
        |  CAST(sum(toks) AS BIGINT) AS n_tokens,
        |  CAST(sum(n_chars) AS BIGINT) AS n_chars,
        |  CAST(sum(CASE WHEN grp > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_exact_dups,
        |  CAST(sum(toks) AS DOUBLE) / count(*) AS tokens_per_doc
        |FROM g GROUP BY source""".stripMargin,
    // the permutation key is pure BIGINT arithmetic (no RNG, no engine
    // hash) so the oracle reproduces the exact epoch order
    // bpe_segment's oracle replays the ENTIRE BPE training (not just the
    // re-segmentation under given merges): a recursive CTE carries the
    // distinct-word segmentation state, each round picks the argmax pair
    // (count desc, l, r — binary string order, same as the engine's) and
    // applies it with replace() on a chr(31)-wrapped token encoding —
    // SQL replace is non-overlapping left-to-right with resume-after-
    // replacement, exactly BpeMergeStep's greedy walk ("aaa" under (a,a)
    // -> ["aa","a"]). The wrap chars make token boundaries unambiguous
    // and survive the pair's internal separator being consumed (the
    // following token's own wrap stays intact). r14: bpe_merges GRADUATES
    // from rows-only — the r13 ledger's "needs driver iteration" claim
    // was wrong: the same recursive CTE can CARRY the chosen pair per
    // round, so the merge table is one DISTINCT over the recursion.
    "bpe_merges" ->
      ("""WITH RECURSIVE
        |wt AS (SELECT t.w AS w, count(*) AS n
        |      FROM (SELECT unnest(string_split(lower(text), ' ')) AS w
        |            FROM documents) t
        |      WHERE len(t.w) > 0 GROUP BY t.w),
        |seg AS (SELECT w, n,
        |          regexp_replace(w, '(.)', chr(31) || '""" + "\\" + """1' || chr(31), 'g') AS s
        |        FROM wt),
        |bpe(rnd, w, n, s, ml, mr, mc) AS (
        |  SELECT 0 AS rnd, w, n, s, CAST(NULL AS VARCHAR),
        |         CAST(NULL AS VARCHAR), CAST(NULL AS BIGINT) FROM seg
        |  UNION ALL
        |  (WITH prev AS (SELECT rnd, w, n, s FROM bpe),
        |   toks AS (SELECT n, string_split(trim(s, chr(31)),
        |                                   chr(31) || chr(31)) AS ts FROM prev),
        |   pairs AS (SELECT t.n, t.ts[t.i] AS l, t.ts[t.i+1] AS r
        |             FROM (SELECT n, ts,
        |                     unnest(generate_series(1, len(ts)-1)) AS i
        |                   FROM toks) t),
        |   best AS (SELECT l, r, CAST(sum(n) AS BIGINT) AS cnt
        |            FROM pairs GROUP BY l, r
        |            ORDER BY sum(n) DESC, l, r LIMIT 1)
        |   SELECT p.rnd + 1, p.w, p.n,
        |          replace(p.s, chr(31)||b.l||chr(31)||chr(31)||b.r||chr(31),
        |                       chr(31)||b.l||b.r||chr(31)) AS s,
        |          b.l, b.r, b.cnt
        |   FROM prev p, best b
        |   WHERE p.rnd < 8)
        |)
        |SELECT DISTINCT CAST(rnd AS INTEGER) AS rank, ml AS "left",
        |  mr AS "right", mc AS pair_count
        |FROM bpe WHERE rnd >= 1""").stripMargin,
    "bpe_segment" ->
      ("""WITH RECURSIVE
        |wt AS (SELECT t.w AS w, count(*) AS n
        |      FROM (SELECT unnest(string_split(lower(text), ' ')) AS w
        |            FROM documents) t
        |      WHERE len(t.w) > 0 GROUP BY t.w),
        |seg AS (SELECT w, n,
        |          regexp_replace(w, '(.)', chr(31) || '""" + "\\" + """1' || chr(31), 'g') AS s
        |        FROM wt),
        |bpe(rnd, w, n, s) AS (
        |  SELECT 0 AS rnd, w, n, s FROM seg
        |  UNION ALL
        |  (WITH prev AS (SELECT rnd, w, n, s FROM bpe),
        |   toks AS (SELECT n, string_split(trim(s, chr(31)),
        |                                   chr(31) || chr(31)) AS ts FROM prev),
        |   pairs AS (SELECT t.n, t.ts[t.i] AS l, t.ts[t.i+1] AS r
        |             FROM (SELECT n, ts,
        |                     unnest(generate_series(1, len(ts)-1)) AS i
        |                   FROM toks) t),
        |   best AS (SELECT l, r FROM pairs GROUP BY l, r
        |            ORDER BY sum(n) DESC, l, r LIMIT 1)
        |   SELECT p.rnd + 1, p.w, p.n,
        |          replace(p.s, chr(31)||b.l||chr(31)||chr(31)||b.r||chr(31),
        |                       chr(31)||b.l||b.r||chr(31)) AS s
        |   FROM prev p, best b
        |   WHERE p.rnd < 8)
        |),
        |fin AS (SELECT w, len(string_split(trim(s, chr(31)),
        |                                   chr(31)||chr(31))) AS ntok
        |        FROM bpe WHERE rnd = (SELECT max(rnd) FROM bpe)),
        |inst AS (SELECT t.source AS source, t.w AS w
        |         FROM (SELECT source,
        |                 unnest(string_split(lower(text), ' ')) AS w
        |               FROM documents) t
        |         WHERE len(t.w) > 0)
        |SELECT i.source AS source,
        |  CAST(sum(length(i.w)) AS BIGINT) AS n_chars,
        |  CAST(sum(f.ntok) AS BIGINT) AS n_tokens
        |FROM inst i JOIN fin f ON f.w = i.w
        |GROUP BY i.source""").stripMargin,
    // fertility = pieces per word under the SAME training replay; the
    // CTE body is bpe_segment's, only the final census differs
    "bpe_fertility" ->
      ("""WITH RECURSIVE
        |wt AS (SELECT t.w AS w, count(*) AS n
        |      FROM (SELECT unnest(string_split(lower(text), ' ')) AS w
        |            FROM documents) t
        |      WHERE len(t.w) > 0 GROUP BY t.w),
        |seg AS (SELECT w, n,
        |          regexp_replace(w, '(.)', chr(31) || '""" + "\\" + """1' || chr(31), 'g') AS s
        |        FROM wt),
        |bpe(rnd, w, n, s) AS (
        |  SELECT 0 AS rnd, w, n, s FROM seg
        |  UNION ALL
        |  (WITH prev AS (SELECT rnd, w, n, s FROM bpe),
        |   toks AS (SELECT n, string_split(trim(s, chr(31)),
        |                                   chr(31) || chr(31)) AS ts FROM prev),
        |   pairs AS (SELECT t.n, t.ts[t.i] AS l, t.ts[t.i+1] AS r
        |             FROM (SELECT n, ts,
        |                     unnest(generate_series(1, len(ts)-1)) AS i
        |                   FROM toks) t),
        |   best AS (SELECT l, r FROM pairs GROUP BY l, r
        |            ORDER BY sum(n) DESC, l, r LIMIT 1)
        |   SELECT p.rnd + 1, p.w, p.n,
        |          replace(p.s, chr(31)||b.l||chr(31)||chr(31)||b.r||chr(31),
        |                       chr(31)||b.l||b.r||chr(31)) AS s
        |   FROM prev p, best b
        |   WHERE p.rnd < 8)
        |),
        |fin AS (SELECT w, len(string_split(trim(s, chr(31)),
        |                                   chr(31)||chr(31))) AS ntok
        |        FROM bpe WHERE rnd = (SELECT max(rnd) FROM bpe)),
        |inst AS (SELECT t.source AS source, t.w AS w
        |         FROM (SELECT source,
        |                 unnest(string_split(lower(text), ' ')) AS w
        |               FROM documents) t
        |         WHERE len(t.w) > 0)
        |SELECT i.source AS source,
        |  CAST(count(*) AS BIGINT) AS n_words,
        |  CAST(sum(f.ntok) AS BIGINT) AS n_pieces,
        |  CAST(sum(length(i.w)) AS BIGINT) AS n_chars,
        |  CAST(CAST(sum(f.ntok) AS BIGINT) AS DOUBLE)
        |    / CAST(CAST(count(*) AS BIGINT) AS DOUBLE) AS fertility,
        |  CAST(CAST(sum(length(i.w)) AS BIGINT) AS DOUBLE)
        |    / CAST(CAST(sum(f.ntok) AS BIGINT) AS DOUBLE) AS chars_per_piece
        |FROM inst i JOIN fin f ON f.w = i.w
        |GROUP BY i.source""").stripMargin,
    // unigram_segment's oracle replays the per-word Viterbi DP as a
    // recursive CTE: state carries the best score / min piece count at
    // the last four prefix positions (piece lengths are <= 4), each step
    // left-joins the literal piece inventory once per candidate length,
    // and greatest/least (NULL-ignoring) take the max-score /
    // min-piece-count transition. The inventory and its scores are
    // interpolated from UnigramOps.Pieces — the SAME constants the
    // engine's DP uses. Integer scores end to end; the single boundary
    // division is chars/pieces. unigram_train stays rows-only (iterated
    // float EM), ground-truthed by UnigramSpec's single-threaded replay.
    "unigram_segment" ->
      (s"""WITH RECURSIVE
        |pieces(piece, plen, sc) AS (
        |  SELECT * FROM (VALUES ${graft.ops.UnigramOps.piecesSql}) t(a, b, c)),
        |wo AS (
        |  SELECT source, w, count(*) AS cnt
        |  FROM (SELECT source, unnest(string_split(lower(text), ' ')) AS w
        |        FROM documents) t
        |  WHERE len(w) > 0 GROUP BY source, w),
        |dw AS (SELECT DISTINCT w FROM wo),
        |dp(w, i, s0, s1, s2, s3, n0, n1, n2, n3) AS (
        |  SELECT w, 0, CAST(0 AS BIGINT), CAST(NULL AS BIGINT),
        |         CAST(NULL AS BIGINT), CAST(NULL AS BIGINT),
        |         0, CAST(NULL AS INTEGER), CAST(NULL AS INTEGER),
        |         CAST(NULL AS INTEGER)
        |  FROM dw
        |  UNION ALL
        |  SELECT w, i, ns, s0, s1, s2,
        |    least(CASE WHEN c1 = ns THEN n0 + 1 END,
        |          CASE WHEN c2 = ns THEN n1 + 1 END,
        |          CASE WHEN c3 = ns THEN n2 + 1 END,
        |          CASE WHEN c4 = ns THEN n3 + 1 END),
        |    n0, n1, n2
        |  FROM (
        |    SELECT d.w, d.i + 1 AS i,
        |      d.s0 + coalesce(p1.sc, ${graft.ops.UnigramOps.UnkCharScore}) AS c1,
        |      d.s1 + p2.sc AS c2,
        |      d.s2 + p3.sc AS c3,
        |      d.s3 + p4.sc AS c4,
        |      greatest(d.s0 + coalesce(p1.sc, ${graft.ops.UnigramOps.UnkCharScore}),
        |               d.s1 + p2.sc, d.s2 + p3.sc, d.s3 + p4.sc) AS ns,
        |      d.s0, d.s1, d.s2, d.n0, d.n1, d.n2, d.n3
        |    FROM dp d
        |    LEFT JOIN pieces p1 ON p1.plen = 1 AND p1.piece = substr(d.w, d.i + 1, 1)
        |    LEFT JOIN pieces p2 ON p2.plen = 2 AND p2.piece = substr(d.w, d.i, 2)
        |    LEFT JOIN pieces p3 ON p3.plen = 3 AND p3.piece = substr(d.w, d.i - 1, 3)
        |    LEFT JOIN pieces p4 ON p4.plen = 4 AND p4.piece = substr(d.w, d.i - 2, 4)
        |    WHERE d.i < len(d.w)) s),
        |res AS (SELECT w, s0 AS score, n0 AS np FROM dp WHERE i = len(w))
        |SELECT wo.source,
        |  CAST(sum(wo.cnt) AS BIGINT) AS n_words,
        |  CAST(sum(wo.cnt * len(wo.w)) AS BIGINT) AS n_chars,
        |  CAST(sum(wo.cnt * r.np) AS BIGINT) AS n_pieces,
        |  CAST(sum(wo.cnt * r.score) AS BIGINT) AS score_total,
        |  CAST(sum(wo.cnt * len(wo.w)) AS DOUBLE) / sum(wo.cnt * r.np)
        |    AS chars_per_piece
        |FROM wo JOIN res r ON r.w = wo.w
        |GROUP BY wo.source""").stripMargin,
    // unigram_doc_ppl replays the SAME per-distinct-word Viterbi DP as
    // unigram_segment (identical recursive CTE, identical interpolated
    // inventory + UnkCharScore), then aggregates per DOCUMENT and gates
    // on the interpolated MinAvgPieceScore — the LM-filter twin
    "unigram_doc_ppl" ->
      (s"""WITH RECURSIVE
        |pieces(piece, plen, sc) AS (
        |  SELECT * FROM (VALUES ${graft.ops.UnigramOps.piecesSql}) t(a, b, c)),
        |wo AS (
        |  SELECT doc_id, w, count(*) AS cnt
        |  FROM (SELECT doc_id, unnest(string_split(lower(text), ' ')) AS w
        |        FROM documents) t
        |  WHERE len(w) > 0 GROUP BY doc_id, w),
        |dw AS (SELECT DISTINCT w FROM wo),
        |dp(w, i, s0, s1, s2, s3, n0, n1, n2, n3) AS (
        |  SELECT w, 0, CAST(0 AS BIGINT), CAST(NULL AS BIGINT),
        |         CAST(NULL AS BIGINT), CAST(NULL AS BIGINT),
        |         0, CAST(NULL AS INTEGER), CAST(NULL AS INTEGER),
        |         CAST(NULL AS INTEGER)
        |  FROM dw
        |  UNION ALL
        |  SELECT w, i, ns, s0, s1, s2,
        |    least(CASE WHEN c1 = ns THEN n0 + 1 END,
        |          CASE WHEN c2 = ns THEN n1 + 1 END,
        |          CASE WHEN c3 = ns THEN n2 + 1 END,
        |          CASE WHEN c4 = ns THEN n3 + 1 END),
        |    n0, n1, n2
        |  FROM (
        |    SELECT d.w, d.i + 1 AS i,
        |      d.s0 + coalesce(p1.sc, ${graft.ops.UnigramOps.UnkCharScore}) AS c1,
        |      d.s1 + p2.sc AS c2,
        |      d.s2 + p3.sc AS c3,
        |      d.s3 + p4.sc AS c4,
        |      greatest(d.s0 + coalesce(p1.sc, ${graft.ops.UnigramOps.UnkCharScore}),
        |               d.s1 + p2.sc, d.s2 + p3.sc, d.s3 + p4.sc) AS ns,
        |      d.s0, d.s1, d.s2, d.n0, d.n1, d.n2, d.n3
        |    FROM dp d
        |    LEFT JOIN pieces p1 ON p1.plen = 1 AND p1.piece = substr(d.w, d.i + 1, 1)
        |    LEFT JOIN pieces p2 ON p2.plen = 2 AND p2.piece = substr(d.w, d.i, 2)
        |    LEFT JOIN pieces p3 ON p3.plen = 3 AND p3.piece = substr(d.w, d.i - 1, 3)
        |    LEFT JOIN pieces p4 ON p4.plen = 4 AND p4.piece = substr(d.w, d.i - 2, 4)
        |    WHERE d.i < len(d.w)) s),
        |res AS (SELECT w, s0 AS score, n0 AS np FROM dp WHERE i = len(w))
        |SELECT wo.doc_id,
        |  CAST(sum(wo.cnt) AS BIGINT) AS n_words,
        |  CAST(sum(wo.cnt * r.np) AS BIGINT) AS n_pieces,
        |  CAST(sum(wo.cnt * r.score) AS BIGINT) AS score_total,
        |  CAST(sum(wo.cnt * r.score) AS DOUBLE) / sum(wo.cnt * r.np)
        |    AS avg_piece_score,
        |  CAST(CASE WHEN CAST(sum(wo.cnt * r.score) AS DOUBLE) / sum(wo.cnt * r.np)
        |    >= ${graft.ops.UnigramOps.MinAvgPieceScore} THEN 1 ELSE 0 END
        |    AS INTEGER) AS keep
        |FROM wo JOIN res r ON r.w = wo.w
        |GROUP BY wo.doc_id""").stripMargin,
    // wordpiece_segment replays the GREEDY longest-match walk: one state
    // row per word per position, step = the longest inventory piece that
    // prefixes the remainder (4 left joins, first non-null wins), else
    // one counted unknown char — same interpolated inventory as unigram
    "wordpiece_segment" ->
      (s"""WITH RECURSIVE
        |pieces(piece, plen, sc) AS (
        |  SELECT * FROM (VALUES ${graft.ops.UnigramOps.piecesSql}) t(a, b, c)),
        |wo AS (
        |  SELECT source, w, count(*) AS cnt
        |  FROM (SELECT source, unnest(string_split(lower(text), ' ')) AS w
        |        FROM documents) t
        |  WHERE len(w) > 0 GROUP BY source, w),
        |dw AS (SELECT DISTINCT w FROM wo),
        |wp(w, i, np, nu) AS (
        |  SELECT w, 0, 0, 0 FROM dw
        |  UNION ALL
        |  SELECT w, i + step, np + 1,
        |    nu + CASE WHEN miss THEN 1 ELSE 0 END
        |  FROM (
        |    SELECT d.w, d.i, d.np, d.nu,
        |      CASE WHEN p4.piece IS NOT NULL THEN 4
        |           WHEN p3.piece IS NOT NULL THEN 3
        |           WHEN p2.piece IS NOT NULL THEN 2
        |           ELSE 1 END AS step,
        |      (p4.piece IS NULL AND p3.piece IS NULL AND p2.piece IS NULL
        |       AND p1.piece IS NULL) AS miss
        |    FROM wp d
        |    LEFT JOIN pieces p4 ON p4.plen = 4 AND p4.piece = substr(d.w, d.i + 1, 4)
        |    LEFT JOIN pieces p3 ON p3.plen = 3 AND p3.piece = substr(d.w, d.i + 1, 3)
        |    LEFT JOIN pieces p2 ON p2.plen = 2 AND p2.piece = substr(d.w, d.i + 1, 2)
        |    LEFT JOIN pieces p1 ON p1.plen = 1 AND p1.piece = substr(d.w, d.i + 1, 1)
        |    WHERE d.i < len(d.w)) s),
        |res AS (SELECT w, np, nu FROM wp WHERE i = len(w))
        |SELECT wo.source,
        |  CAST(sum(wo.cnt) AS BIGINT) AS n_words,
        |  CAST(sum(wo.cnt * r.np) AS BIGINT) AS n_pieces,
        |  CAST(sum(wo.cnt * r.nu) AS BIGINT) AS n_unknown,
        |  CAST(sum(wo.cnt * r.np) AS DOUBLE) / sum(wo.cnt) AS pieces_per_word
        |FROM wo JOIN res r ON r.w = wo.w
        |GROUP BY wo.source""").stripMargin,
    "corpus_shuffle" ->
      """WITH h AS (SELECT doc_id,
        |             (doc_id % 1000000007) * 2654435761 % 1000000007 AS hkey
        |           FROM documents)
        |SELECT doc_id, hkey, hkey % 64 AS shard,
        |  CAST(row_number() OVER (PARTITION BY hkey % 64
        |                          ORDER BY hkey, doc_id) AS INTEGER) AS pos
        |FROM h""".stripMargin,
    // shuffle-mixing audit: adjacency = lag inside the shard window the
    // shuffle defines; the well_mixed alert cross-multiplies exact
    // integers (HUGEINT here, DECIMAL(38,0) engine-side) — never doubles
    "shuffle_audit" ->
      """WITH s AS (SELECT doc_id, source,
        |             (doc_id % 1000000007) * 2654435761 % 1000000007 AS hkey
        |           FROM documents),
        |t AS (SELECT source, lag(source) OVER (PARTITION BY hkey % 64
        |                     ORDER BY hkey, doc_id) AS prev
        |      FROM s),
        |adj AS (SELECT CAST(count(*) AS BIGINT) AS n_docs,
        |          CAST(sum(CASE WHEN prev IS NOT NULL THEN 1 ELSE 0 END)
        |            AS BIGINT) AS n_pairs,
        |          CAST(sum(CASE WHEN prev = source THEN 1 ELSE 0 END)
        |            AS BIGINT) AS collisions
        |        FROM t),
        |e AS (SELECT CAST(sum(ns * (ns - 1)) AS BIGINT) AS expected_num,
        |        CAST(sum(ns) * (sum(ns) - 1) AS BIGINT) AS expected_den
        |      FROM (SELECT CAST(count(*) AS BIGINT) AS ns
        |            FROM s GROUP BY source) c)
        |SELECT n_docs, n_pairs, collisions,
        |  CASE WHEN n_pairs > 0
        |    THEN CAST(collisions AS DOUBLE) / n_pairs END AS collision_rate,
        |  expected_num, expected_den,
        |  CASE WHEN expected_den > 0
        |    THEN CAST(expected_num AS DOUBLE) / expected_den
        |  END AS expected_rate,
        |  collisions * CAST(expected_den AS HUGEINT)
        |    <= 2 * n_pairs * CAST(expected_num AS HUGEINT) AS well_mixed
        |FROM adj, e""".stripMargin,
    // Spark groups under the UTF8_LCASE collation natively; the oracle
    // states the same semantics as count(DISTINCT lower(...))
    "collation_distinct" ->
      """WITH u AS (SELECT p_brand AS brand, p_name AS nm FROM part
        |           UNION ALL
        |           SELECT p_brand, upper(p_name) FROM part)
        |SELECT brand,
        |  CAST(count(DISTINCT lower(nm)) AS BIGINT) AS n_names_ci,
        |  CAST(count(*) AS BIGINT) AS n_rows
        |FROM u GROUP BY brand""".stripMargin,
    "scalar_subquery" ->
      """SELECT o_orderkey, o_custkey, o_totalprice
        |FROM orders o
        |WHERE o_totalprice > (SELECT avg(i.o_totalprice) FROM orders i
        |                      WHERE i.o_custkey = o.o_custkey)""".stripMargin,
    "sql_q3" ->
      """SELECT l_orderkey,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))
        |           * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue,
        |  o_orderdate, o_orderpriority
        |FROM customer
        |JOIN orders ON c_custkey = o_custkey
        |JOIN lineitem ON l_orderkey = o_orderkey
        |WHERE c_mktsegment = 'BUILDING'
        |  AND o_orderdate < TIMESTAMP '1995-03-15 00:00:00'
        |  AND l_shipdate > TIMESTAMP '1995-03-15 00:00:00'
        |GROUP BY l_orderkey, o_orderdate, o_orderpriority
        |ORDER BY revenue DESC, l_orderkey
        |LIMIT 10""".stripMargin,
    "sql_q5" ->
      """SELECT n_name,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))
        |           * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue,
        |  CAST(count(*) AS BIGINT) AS n_items
        |FROM customer
        |JOIN orders   ON c_custkey = o_custkey
        |JOIN lineitem ON l_orderkey = o_orderkey
        |JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
        |JOIN nation   ON s_nationkey = n_nationkey
        |JOIN region   ON n_regionkey = r_regionkey
        |WHERE r_name = 'ASIA'
        |  AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
        |  AND o_orderdate <  TIMESTAMP '1998-01-01 00:00:00'
        |GROUP BY n_name
        |ORDER BY revenue DESC, n_name""".stripMargin,
    "lateral_topn" ->
      """SELECT c.c_custkey, t.o_orderkey,
        |  CAST(t.o_totalprice AS DOUBLE) AS o_totalprice
        |FROM customer c,
        |LATERAL (SELECT o_orderkey, o_totalprice
        |         FROM orders o
        |         WHERE o.o_custkey = c.c_custkey
        |         ORDER BY o_totalprice DESC, o_orderkey
        |         LIMIT 2) t""".stripMargin,
    "scd2_history" ->
      """WITH e AS (
        |  SELECT user_id, ts, event_id, event_type,
        |    CASE WHEN lag(event_type) OVER w IS NULL
        |           OR lag(event_type) OVER w <> event_type
        |         THEN 1 ELSE 0 END AS chg
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |r AS (
        |  SELECT user_id, ts, event_type,
        |    CAST(sum(chg) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |                        ROWS UNBOUNDED PRECEDING) AS BIGINT) AS run_id
        |  FROM e),
        |c AS (
        |  SELECT user_id, run_id, min(ts) AS valid_from_ts,
        |    min(event_type) AS state, CAST(count(*) AS BIGINT) AS n_events
        |  FROM r GROUP BY user_id, run_id)
        |SELECT user_id, run_id, state, n_events,
        |  strftime(valid_from_ts, '%Y-%m-%d %H:%M:%S') AS valid_from,
        |  strftime(lead(valid_from_ts) OVER w2, '%Y-%m-%d %H:%M:%S') AS valid_to,
        |  lead(valid_from_ts) OVER w2 IS NULL AS is_current
        |FROM c
        |WINDOW w2 AS (PARTITION BY user_id ORDER BY run_id)""".stripMargin,
    "null_safe_join" ->
      """WITH ev AS (SELECT nullif(event_type, 'error') AS k, value FROM events),
        |c AS (SELECT k, CAST(count(*) AS BIGINT) AS n_events FROM ev GROUP BY k),
        |v AS (SELECT k AS k2,
        |        CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
        |      FROM ev GROUP BY k)
        |SELECT coalesce(c.k, '(error)') AS event_key, c.n_events, v.sum_value
        |FROM c JOIN v ON c.k IS NOT DISTINCT FROM v.k2""".stripMargin,
    "try_funcs" ->
      """SELECT event_id,
        |  value / nullif(CAST(event_id % 3 AS DOUBLE), 0) AS per_unit,
        |  TRY_CAST(props AS DOUBLE) AS props_num,
        |  TRY_CAST(substr(event_type, 1, 1) AS INTEGER) AS type_num,
        |  TRY_CAST(CAST(event_id AS VARCHAR) AS BIGINT) AS id_roundtrip
        |FROM events""".stripMargin,
    "array_hof" ->
      """WITH d AS (
        |  SELECT doc_id,
        |    list_transform(string_split(trim(text), ' '), x -> strlen(x)) AS lens
        |  FROM documents)
        |SELECT doc_id,
        |  CAST(len(lens) AS INTEGER) AS n_tokens,
        |  CAST(list_sum(lens) AS BIGINT) AS sum_len,
        |  CAST(len(list_filter(lens, x -> x >= 6)) AS INTEGER) AS n_long,
        |  len(list_filter(lens, x -> x = 8)) > 0 AS has_len8,
        |  CAST(list_sum(list_transform(lens, x -> x * x)) AS BIGINT) AS sq_sum
        |FROM d""".stripMargin,
    // v_schema is constant because every props row is {"k": <int>}; the
    // literal pins Spark's variant schema inference output
    "variant_extract" ->
      """SELECT event_id,
        |  CAST(json_extract(props, '$.k') AS BIGINT) AS k_long,
        |  json_extract_string(props, '$.k') AS k_str,
        |  'OBJECT<k: BIGINT>' AS v_schema
        |FROM events""".stripMargin,
    "sql_q7" ->
      """SELECT supp_nation, cust_nation, CAST(l_year AS INTEGER) AS l_year,
        |  CAST(sum(volume) AS DOUBLE) AS revenue,
        |  CAST(count(*) AS BIGINT) AS n_items
        |FROM (
        |  SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
        |    year(l_shipdate) AS l_year,
        |    CAST(l_extendedprice AS DECIMAL(18,2))
        |      * (1 - CAST(l_discount AS DECIMAL(18,2))) AS volume
        |  FROM supplier
        |  JOIN lineitem ON s_suppkey = l_suppkey
        |  JOIN orders   ON o_orderkey = l_orderkey
        |  JOIN customer ON c_custkey = o_custkey
        |  JOIN nation n1 ON s_nationkey = n1.n_nationkey
        |  JOIN nation n2 ON c_nationkey = n2.n_nationkey
        |  WHERE (n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
        |     OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1'))
        |GROUP BY supp_nation, cust_nation, l_year""".stripMargin,
    "sql_q18" ->
      """SELECT c_name, o_orderkey,
        |  CAST(o_totalprice AS DOUBLE) AS o_totalprice,
        |  CAST(t.total_qty AS DOUBLE) AS total_qty
        |FROM customer
        |JOIN orders ON c_custkey = o_custkey
        |JOIN (SELECT l_orderkey,
        |        sum(CAST(l_quantity AS DECIMAL(18,2))) AS total_qty
        |      FROM lineitem GROUP BY l_orderkey
        |      HAVING sum(CAST(l_quantity AS DECIMAL(18,2))) > 250) t
        |  ON o_orderkey = t.l_orderkey
        |ORDER BY o_totalprice DESC, o_orderkey
        |LIMIT 20""".stripMargin,
    "oov_rate" ->
      """WITH toks AS (
        |  SELECT doc_id, lang, unnest(string_split(trim(text), ' ')) AS token
        |  FROM documents),
        |tok AS (SELECT * FROM toks WHERE token <> ''),
        |vocab AS (
        |  SELECT DISTINCT token FROM tok
        |  WHERE (doc_id % 1000000007) * 2654435761 % 1000000007 % 100 < 80),
        |test AS (
        |  SELECT * FROM tok
        |  WHERE (doc_id % 1000000007) * 2654435761 % 1000000007 % 100 >= 90)
        |SELECT lang,
        |  CAST(count(*) AS BIGINT) AS n_test_tokens,
        |  CAST(count(CASE WHEN v.token IS NULL THEN 1 END) AS BIGINT) AS n_oov,
        |  CAST(count(CASE WHEN v.token IS NULL THEN 1 END) AS DOUBLE)
        |    / count(*) AS oov_rate
        |FROM test LEFT JOIN vocab v ON test.token = v.token
        |GROUP BY lang""".stripMargin,
    "rolling_active_users" ->
      """WITH pairs AS (
        |  SELECT DISTINCT
        |    CAST(date_diff('day', DATE '2024-01-01', CAST(ts AS DATE)) AS INTEGER) AS d,
        |    user_id
        |  FROM events),
        |days AS (SELECT DISTINCT d AS day FROM pairs)
        |SELECT day, CAST(count(DISTINCT user_id) AS BIGINT) AS active_7d
        |FROM days JOIN pairs ON pairs.d BETWEEN day - 6 AND day
        |GROUP BY day""".stripMargin,
    // the typed cogroup must agree with its unbounded-safe relational
    // twin: a full outer join of the two grouped aggregates
    "typed_cogroup" ->
      """WITH o AS (SELECT o_orderkey AS k, CAST(count(*) AS BIGINT) AS n_orders,
        |             CAST(min(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
        |               AS total_price
        |           FROM orders GROUP BY 1),
        |i AS (SELECT l_orderkey AS k, CAST(count(*) AS BIGINT) AS n_items,
        |        CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))
        |          * (1 - CAST(l_discount AS DECIMAL(4,2)))
        |          * (1 + CAST(l_tax AS DECIMAL(4,2)))) AS DOUBLE) AS items_gross
        |      FROM lineitem GROUP BY 1)
        |SELECT COALESCE(o.k, i.k) AS o_orderkey,
        |  COALESCE(n_orders, 0) AS n_orders,
        |  COALESCE(n_items, 0) AS n_items,
        |  total_price, items_gross
        |FROM o FULL OUTER JOIN i ON o.k = i.k""".stripMargin,
    // the relational twin of the typed mapGroups form — the gate proves
    // the two agree
    "typed_max_gap" ->
      """WITH e AS (
        |  SELECT event_type,
        |    epoch_us(CAST(ts AS TIMESTAMP)) // 1000000 AS ts_s
        |  FROM events),
        |g AS (
        |  SELECT event_type,
        |    ts_s - lag(ts_s) OVER (PARTITION BY event_type ORDER BY ts_s) AS gap
        |  FROM e)
        |SELECT event_type,
        |  CAST(count(*) AS BIGINT) AS n_events,
        |  CAST(coalesce(max(gap), 0) AS BIGINT) AS max_gap_s
        |FROM g GROUP BY event_type""".stripMargin,
    "passage_dedup" ->
      """WITH d AS (
        |  SELECT doc_id, string_split(trim(text), ' ') AS toks FROM documents),
        |w AS (
        |  SELECT doc_id,
        |    md5(array_to_string(toks[i * 20 + 1 : i * 20 + 20], ' ')) AS h
        |  FROM d, unnest(generate_series(0,
        |         CAST(len(toks) // 20 AS INTEGER) - 1)) AS t(i)
        |  WHERE len(toks) >= 20)
        |SELECT h,
        |  CAST(count(*) AS BIGINT) AS n_occ,
        |  CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs
        |FROM w GROUP BY h HAVING count(*) >= 2""".stripMargin,
    "mix_rebalance" ->
      """WITH ps AS (SELECT source, count(*) AS n_s FROM documents GROUP BY 1),
        |t AS (SELECT CAST(sum(n_s) AS BIGINT) AS n_total,
        |             CAST(count(*) AS BIGINT) AS k FROM ps)
        |SELECT d.source,
        |  CAST(count(*) AS BIGINT) AS n_kept,
        |  CAST(min(ps.n_s) AS BIGINT) AS n_orig
        |FROM documents d JOIN ps ON d.source = ps.source CROSS JOIN t
        |WHERE ((doc_id % 1000000007) * 2654435761 % 1000000007 % 100)
        |        * t.k * ps.n_s < 100 * t.n_total
        |GROUP BY d.source""".stripMargin,
    // scaled-integer plan arithmetic (// is DuckDB floor-div = Spark `div`
    // on the non-negative operands here); the per-doc copy decision replays
    // the same multiplicative-hash bucket as mix_rebalance
    "mixture_plan" ->
      """WITH d AS (
        |  SELECT doc_id, source,
        |    CAST(len(string_split(trim(text), ' ')) AS BIGINT) AS n_toks,
        |    COALESCE(CAST(NULLIF(regexp_extract(source, '(\d+)$', 1), '')
        |      AS BIGINT), 0) + 1 AS w
        |  FROM documents),
        |ps AS (SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
        |         CAST(sum(n_toks) AS BIGINT) AS n_tokens,
        |         CAST(min(w) AS BIGINT) AS w
        |       FROM d GROUP BY 1),
        |t AS (SELECT CAST(sum(n_tokens) AS BIGINT) AS budget,
        |             CAST(sum(w) AS BIGINT) AS w_total FROM ps),
        |p AS (SELECT source, n_docs, n_tokens, w,
        |        CAST(budget * w // w_total AS BIGINT) AS desired_tokens,
        |        CAST(least(400, 100 * (budget * w // w_total) // n_tokens)
        |          AS BIGINT) AS epochs_q2
        |      FROM ps CROSS JOIN t),
        |e AS (SELECT d.source,
        |        CAST(sum(p.epochs_q2 // 100 + CASE WHEN
        |          (d.doc_id % 1000000007) * 2654435761 % 1000000007 % 100
        |            < p.epochs_q2 % 100 THEN 1 ELSE 0 END) AS BIGINT)
        |          AS docs_emitted,
        |        CAST(sum((p.epochs_q2 // 100 + CASE WHEN
        |          (d.doc_id % 1000000007) * 2654435761 % 1000000007 % 100
        |            < p.epochs_q2 % 100 THEN 1 ELSE 0 END) * d.n_toks)
        |          AS BIGINT) AS tokens_emitted
        |      FROM d JOIN p USING (source) GROUP BY 1)
        |SELECT p.source, p.n_docs, p.n_tokens, p.w AS target_w,
        |  p.desired_tokens, p.epochs_q2, e.docs_emitted, e.tokens_emitted
        |FROM p JOIN e ON p.source = e.source""".stripMargin,
    // isqrt replayed via the same guarded FLOOR(SQRT) ± 1 correction:
    // both engines' sqrt is correctly rounded and n_tokens < 2^52, so
    // the corrected root is the exact integer sqrt on both sides; the
    // desired-tokens multiply routes through HUGEINT (Spark: decimal)
    "temperature_mix" ->
      """WITH d AS (
        |  SELECT doc_id, source,
        |    CAST(len(string_split(trim(text), ' ')) AS BIGINT) AS n_toks
        |  FROM documents),
        |ps AS (SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
        |         CAST(sum(n_toks) AS BIGINT) AS n_tokens
        |       FROM d GROUP BY 1),
        |w AS (SELECT source, n_docs, n_tokens,
        |        CAST(CASE WHEN r0 * r0 > n_tokens THEN r0 - 1
        |          WHEN (r0 + 1) * (r0 + 1) <= n_tokens THEN r0 + 1
        |          ELSE r0 END AS BIGINT) AS isqrt_w
        |      FROM (SELECT ps.*,
        |              CAST(floor(sqrt(CAST(n_tokens AS DOUBLE))) AS BIGINT)
        |                AS r0 FROM ps) q),
        |t AS (SELECT CAST(sum(n_tokens) AS BIGINT) AS budget,
        |             CAST(sum(isqrt_w) AS BIGINT) AS s_total FROM w),
        |p AS (SELECT source, n_docs, n_tokens, isqrt_w,
        |        CAST(CAST(budget AS HUGEINT) * isqrt_w // s_total AS BIGINT)
        |          AS desired_tokens
        |      FROM w CROSS JOIN t),
        |p2 AS (SELECT p.*,
        |         CAST(least(400, 100 * desired_tokens // n_tokens) AS BIGINT)
        |           AS epochs_q2
        |       FROM p),
        |e AS (SELECT d.source,
        |        CAST(sum(p2.epochs_q2 // 100 + CASE WHEN
        |          (d.doc_id % 1000000007) * 2654435761 % 1000000007 % 100
        |            < p2.epochs_q2 % 100 THEN 1 ELSE 0 END) AS BIGINT)
        |          AS docs_emitted,
        |        CAST(sum((p2.epochs_q2 // 100 + CASE WHEN
        |          (d.doc_id % 1000000007) * 2654435761 % 1000000007 % 100
        |            < p2.epochs_q2 % 100 THEN 1 ELSE 0 END) * d.n_toks)
        |          AS BIGINT) AS tokens_emitted
        |      FROM d JOIN p2 USING (source) GROUP BY 1)
        |SELECT p2.source, p2.n_docs, p2.n_tokens, p2.isqrt_w,
        |  p2.desired_tokens, p2.epochs_q2, e.docs_emitted, e.tokens_emitted
        |FROM p2 JOIN e ON p2.source = e.source""".stripMargin,
    // same aligned-window hash frame as passage_dedup, reduced to
    // DISTINCT (source, h) before the pair join
    "source_overlap" ->
      """WITH d AS (
        |  SELECT source, string_split(trim(text), ' ') AS toks FROM documents),
        |w AS (
        |  SELECT DISTINCT source,
        |    md5(array_to_string(toks[i * 20 + 1 : i * 20 + 20], ' ')) AS h
        |  FROM d, unnest(generate_series(0,
        |         CAST(len(toks) // 20 AS INTEGER) - 1)) AS t(i)
        |  WHERE len(toks) >= 20),
        |ps AS (SELECT source, CAST(count(*) AS BIGINT) AS n FROM w GROUP BY 1),
        |j AS (SELECT a.source AS source_a, b.source AS source_b,
        |        CAST(count(*) AS BIGINT) AS n_shared
        |      FROM w a JOIN w b ON a.h = b.h AND a.source < b.source
        |      GROUP BY 1, 2)
        |SELECT j.source_a, j.source_b, j.n_shared,
        |  pa.n AS n_a, pb.n AS n_b,
        |  CAST(j.n_shared AS DOUBLE) / (pa.n + pb.n - j.n_shared) AS jaccard
        |FROM j JOIN ps pa ON pa.source = j.source_a
        |       JOIN ps pb ON pb.source = j.source_b""".stripMargin,
    // the synthesized messy URL (every normalization trigger fires by
    // doc_id residue) and the canonicalization rules are restated
    // verbatim: lowercase scheme/host, www strip, default-port drop,
    // trailing-slash strip, tracking-param filter, fragment drop
    "url_normalize" ->
      """WITH u AS (
        |  SELECT doc_id,
        |    (CASE WHEN doc_id % 2 = 0 THEN 'HTTPS' ELSE 'http' END) || '://' ||
        |    (CASE WHEN doc_id % 3 = 0 THEN 'WWW.' ELSE '' END) ||
        |    (CASE WHEN doc_id % 2 = 0 THEN upper(source) ELSE source END) || '.' ||
        |    list_extract(['com', 'org', 'net'],
        |                 CAST(len(source) % 3 + 1 AS INTEGER)) ||
        |    (CASE doc_id % 4 WHEN 0 THEN ':443' WHEN 1 THEN ':80'
        |          WHEN 2 THEN ':8080' ELSE '' END) ||
        |    '/Docs/' || doc_id ||
        |    (CASE WHEN doc_id % 5 = 0 THEN '/' ELSE '' END) ||
        |    '?id=' || doc_id || '&utm_source=feed' ||
        |    (CASE WHEN doc_id % 2 = 0 THEN '&lang=en' ELSE '' END) ||
        |    '&utm_campaign=c' ||
        |    (CASE WHEN doc_id % 7 = 0 THEN '&gclid=g1' ELSE '' END) ||
        |    (CASE WHEN doc_id % 6 = 0 THEN '#sec2' ELSE '' END) AS url
        |  FROM documents),
        |p AS (
        |  SELECT doc_id, url,
        |    lower(regexp_extract(url, '^([A-Za-z]+)://', 1)) AS scheme,
        |    regexp_replace(url, '^[A-Za-z]+://', '') AS rest
        |  FROM u),
        |q AS (
        |  SELECT doc_id, url, scheme,
        |    regexp_extract(rest, '^([^/?#]*)', 1) AS hostport,
        |    regexp_extract(rest, '^[^/?#]*([^?#]*)', 1) AS path,
        |    regexp_extract(url, '\?([^#]*)', 1) AS query
        |  FROM p),
        |r AS (
        |  SELECT doc_id, url, scheme, path,
        |    regexp_replace(lower(regexp_extract(hostport, '^([^:]*)', 1)),
        |                   '^www\.', '') AS host,
        |    regexp_extract(hostport, ':([0-9]+)$', 1) AS port,
        |    list_filter(string_split(query, '&'),
        |      x -> NOT (starts_with(x, 'utm_') OR starts_with(x, 'gclid=')
        |                OR starts_with(x, 'fbclid=') OR starts_with(x, 'ref=')))
        |      AS kept,
        |    len(string_split(query, '&')) AS n_all
        |  FROM q)
        |SELECT doc_id, url,
        |  scheme || '://' || host ||
        |  (CASE WHEN port <> '' AND NOT (scheme = 'http' AND port = '80')
        |             AND NOT (scheme = 'https' AND port = '443')
        |        THEN ':' || port ELSE '' END) ||
        |  regexp_replace(path, '/$', '') ||
        |  (CASE WHEN len(kept) > 0
        |        THEN '?' || array_to_string(kept, '&') ELSE '' END) AS norm_url,
        |  host AS domain,
        |  CAST(len(kept) AS INTEGER) AS n_params_kept,
        |  CAST(n_all - len(kept) AS INTEGER) AS n_params_dropped
        |FROM r""".stripMargin,
    // the synthesized page (nav/ad/footer boilerplate + 20-word <p>
    // chunks + rotating <a href> targets) is rebuilt string-identically,
    // then EXTRACTED with the same escape-free regexes; DuckDB
    // regexp_replace needs the explicit 'g' flag Spark applies by default
    "html_extract" ->
      """WITH d AS (SELECT doc_id, text, string_split(trim(text), ' ') AS w
        |           FROM documents),
        |h AS (SELECT doc_id,
        |  '<html><head><title>Doc ' || doc_id || '</title></head><body>' ||
        |  '<nav><a href="/home">home</a> <a href="/about">about</a></nav>' ||
        |  CASE WHEN doc_id % 3 = 0
        |       THEN '<div class="ad">buy now limited offer</div>' ELSE '' END ||
        |  '<div class="content">' ||
        |  array_to_string(list_transform(range(CAST((len(w) + 19) // 20 AS INTEGER)),
        |    i -> '<p>' || array_to_string(w[i * 20 + 1 : i * 20 + 20], ' ')
        |         || '</p>'), '') ||
        |  '</div><ul>' ||
        |  array_to_string(list_transform(range(CAST(doc_id % 3 + 1 AS INTEGER)),
        |    i -> '<li><a href="https://src' || (doc_id * 7 + i) % 20 || '.' ||
        |         CASE WHEN (doc_id * 7 + i) % 20 < 10 THEN 'org' ELSE 'net' END ||
        |         '/Docs/' || doc_id * 31 + i || '">ref</a></li>'), '') ||
        |  '</ul><footer>copyright 2024 example</footer></body></html>' AS html
        |  FROM d),
        |x AS (SELECT doc_id,
        |        regexp_extract_all(html, '<p>([^<]*)</p>', 1) AS paras,
        |        trim(regexp_replace(regexp_replace(html, '<[^>]*>', ' ', 'g'),
        |                            ' +', ' ', 'g')) AS rendered
        |      FROM h)
        |SELECT doc_id,
        |  CAST(len(paras) AS INTEGER) AS n_paragraphs,
        |  CAST(len(array_to_string(paras, ' ')) AS INTEGER) AS content_chars,
        |  CAST(len(rendered) AS INTEGER) AS total_chars,
        |  CAST(len(array_to_string(paras, ' ')) AS DOUBLE) / len(rendered)
        |    AS content_ratio
        |FROM x""".stripMargin,
    "link_graph" ->
      """WITH d AS (SELECT doc_id, source, string_split(trim(text), ' ') AS w
        |           FROM documents),
        |h AS (SELECT doc_id, source,
        |  '<html><head><title>Doc ' || doc_id || '</title></head><body>' ||
        |  '<nav><a href="/home">home</a> <a href="/about">about</a></nav>' ||
        |  CASE WHEN doc_id % 3 = 0
        |       THEN '<div class="ad">buy now limited offer</div>' ELSE '' END ||
        |  '<div class="content">' ||
        |  array_to_string(list_transform(range(CAST((len(w) + 19) // 20 AS INTEGER)),
        |    i -> '<p>' || array_to_string(w[i * 20 + 1 : i * 20 + 20], ' ')
        |         || '</p>'), '') ||
        |  '</div><ul>' ||
        |  array_to_string(list_transform(range(CAST(doc_id % 3 + 1 AS INTEGER)),
        |    i -> '<li><a href="https://src' || (doc_id * 7 + i) % 20 || '.' ||
        |         CASE WHEN (doc_id * 7 + i) % 20 < 10 THEN 'org' ELSE 'net' END ||
        |         '/Docs/' || doc_id * 31 + i || '">ref</a></li>'), '') ||
        |  '</ul><footer>copyright 2024 example</footer></body></html>' AS html
        |  FROM d),
        |l AS (SELECT source,
        |        unnest(regexp_extract_all(html, 'href="https://([^/"]*)/', 1))
        |          AS dst_domain
        |      FROM h)
        |SELECT source || '.' ||
        |    list_extract(['com', 'org', 'net'],
        |                 CAST(len(source) % 3 + 1 AS INTEGER)) AS src_domain,
        |  dst_domain,
        |  CAST(count(*) AS BIGINT) AS n_links
        |FROM l GROUP BY 1, 2""".stripMargin,
    "domain_stats" ->
      """WITH d AS (
        |  SELECT source || '.' ||
        |      list_extract(['com', 'org', 'net'],
        |                   CAST(len(source) % 3 + 1 AS INTEGER)) AS domain,
        |    len(string_split(trim(text), ' ')) AS n_toks
        |  FROM documents),
        |g AS (SELECT domain, CAST(count(*) AS BIGINT) AS n_docs,
        |        CAST(sum(n_toks) AS BIGINT) AS n_tokens
        |      FROM d GROUP BY domain)
        |SELECT domain, n_docs, n_tokens,
        |  CAST(n_tokens AS DOUBLE)
        |    / (SELECT CAST(sum(n_tokens) AS BIGINT) FROM g) AS token_share
        |FROM g""".stripMargin,
    // the oracle is deliberately ONE full-table aggregation: the compare
    // gate proves merged-partials == full recompute (algebraic rollup)
    "incremental_agg_merge" ->
      """SELECT event_type,
        |  CAST(count(*) AS BIGINT) AS n_events,
        |  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value,
        |  min(value) AS min_value,
        |  max(value) AS max_value
        |FROM events GROUP BY 1""".stripMargin,
    // literals as 1e6, not 1000000.0: DuckDB keeps float*DECIMAL in FLOAT
    // arithmetic while Spark promotes to DOUBLE — 1e6 forces DOUBLE in both
    "label_centroids" ->
      """WITH dims AS (SELECT CAST(unnest(generate_series(0, 7)) AS INTEGER) AS dim)
        |SELECT e.label, d.dim,
        |  CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(CAST(floor(e.embedding[d.dim + 1] * 1e6) AS BIGINT)) AS BIGINT) AS sum_q,
        |  CAST(sum(CAST(floor(e.embedding[d.dim + 1] * 1e6) AS BIGINT)) AS DOUBLE)
        |    / count(*) / 1e6 AS centroid
        |FROM embeddings e CROSS JOIN dims d
        |GROUP BY e.label, d.dim""".stripMargin,
    "length_band_filter" ->
      """WITH d AS (
        |  SELECT doc_id, lang, n_chars,
        |    row_number() OVER (PARTITION BY lang ORDER BY n_chars, doc_id) AS rk,
        |    count(*) OVER (PARTITION BY lang) AS n_lang
        |  FROM documents)
        |SELECT lang,
        |  CAST(count(*) AS BIGINT) AS n_kept,
        |  min(n_chars) AS min_kept,
        |  max(n_chars) AS max_kept,
        |  CAST(sum(n_chars) AS BIGINT) AS chars_kept
        |FROM d
        |WHERE rk * 100 > 5 * n_lang AND rk * 100 <= 95 * n_lang
        |GROUP BY lang""".stripMargin,
    "doc_chunks" ->
      """WITH d AS (
        |  SELECT doc_id, string_split(trim(text), ' ') AS toks FROM documents
        |  WHERE trim(text) <> ''),
        |e AS (
        |  SELECT doc_id, toks,
        |    unnest(generate_series(0, greatest(len(toks) - 33, 0), 32)) AS s
        |  FROM d)
        |SELECT doc_id,
        |  CAST(s // 32 AS INTEGER) AS chunk_id,
        |  CAST(len(list_slice(toks, s + 1, s + 64)) AS INTEGER) AS n_chunk_tokens,
        |  md5(array_to_string(list_slice(toks, s + 1, s + 64), ' ')) AS chunk_hash
        |FROM e""".stripMargin,
    "gap_fill" ->
      """WITH t AS (
        |  SELECT date_trunc('minute', CAST(ts AS TIMESTAMP)) AS minute,
        |         event_type AS symbol,
        |         CAST(value AS DECIMAL(18,2)) AS price, ts
        |  FROM events),
        |obs AS (
        |  SELECT minute, symbol,
        |    CAST(arg_max(price, ts) AS DOUBLE) AS close_price,
        |    count(*) AS n_trades
        |  FROM t GROUP BY 1, 2),
        |bounds AS (SELECT symbol, min(minute) AS lo, max(minute) AS hi
        |           FROM obs GROUP BY 1),
        |grid AS (SELECT symbol,
        |           unnest(generate_series(lo, hi, INTERVAL 1 MINUTE)) AS minute
        |         FROM bounds)
        |SELECT g.symbol, g.minute,
        |  COALESCE(o.n_trades, 0) AS n_trades,
        |  last_value(o.close_price IGNORE NULLS) OVER (
        |    PARTITION BY g.symbol ORDER BY g.minute
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS close_ffill,
        |  o.close_price IS NULL AS is_gap
        |FROM grid g LEFT JOIN obs o
        |  ON g.symbol = o.symbol AND g.minute = o.minute""".stripMargin,
    "sliding_ohlcv" ->
      """WITH t AS (
        |  SELECT ts, event_type AS symbol,
        |         CAST(value AS DECIMAL(18,2)) AS price,
        |         CAST(json_extract_string(props, '$.k') AS DECIMAL(18,0)) AS quantity
        |  FROM events),
        |w AS (
        |  SELECT date_trunc('minute', ts) - to_minutes(k) AS window_start,
        |         symbol, price, quantity
        |  FROM t, (SELECT unnest(range(5)) AS k))
        |SELECT window_start, symbol,
        |  CAST(max(price) AS DOUBLE) AS high_price,
        |  CAST(min(price) AS DOUBLE) AS low_price,
        |  CAST(sum(quantity) AS DOUBLE) AS total_volume,
        |  count(*) AS n_trades
        |FROM w GROUP BY 1, 2""".stripMargin,
    "session_window" ->
      """WITH e AS (
        |  SELECT user_id, event_id, value,
        |    CAST(ts AS TIMESTAMP) AS ts, epoch_us(CAST(ts AS TIMESTAMP)) AS us
        |  FROM events),
        |f AS (
        |  SELECT user_id, value, us,
        |    CASE WHEN lag(us, 1) OVER w IS NULL
        |              OR us - lag(us, 1) OVER w > 1800 * 1000000
        |         THEN 1 ELSE 0 END AS new_session
        |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |g AS (
        |  SELECT user_id, value, us,
        |    sum(new_session) OVER (PARTITION BY user_id ORDER BY us
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
        |  FROM f)
        |SELECT user_id, min(us) AS session_start_us, count(*) AS n_events,
        |  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS session_value
        |FROM g GROUP BY user_id, sid""".stripMargin,
    "part_revenue" ->
      """WITH l AS (
        |  SELECT p_brand, p_type,
        |    CAST(l_extendedprice AS DECIMAL(18,2))
        |      * (1 - CAST(l_discount AS DECIMAL(18,2))) AS disc
        |  FROM lineitem JOIN part ON l_partkey = p_partkey)
        |SELECT p_brand, count(*) AS n_items,
        |  CAST(sum(disc) AS DOUBLE) AS revenue,
        |  CAST(sum(CASE WHEN p_type LIKE 'PROMO%' THEN disc
        |                ELSE CAST(0 AS DECIMAL(18,2)) END) AS DOUBLE) * 100.0
        |    / CAST(sum(disc) AS DOUBLE) AS promo_share
        |FROM l GROUP BY 1""".stripMargin,
    "stats_agg" ->
      """WITH t AS (
        |  SELECT event_type,
        |    CAST(value AS DECIMAL(18,2)) AS x,
        |    CAST(json_extract_string(props, '$.k') AS DECIMAL(18,2)) AS y
        |  FROM events),
        |s AS (
        |  SELECT event_type, count(*) AS n,
        |    sum(x) AS sx, sum(x*x) AS sxx,
        |    sum(y) AS sy, sum(y*y) AS syy, sum(x*y) AS sxy
        |  FROM t GROUP BY 1)
        |SELECT event_type, n,
        |  CAST(sx AS DOUBLE) / n AS mean_value,
        |  sqrt((CAST(n AS DOUBLE)*CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE)*CAST(sx AS DOUBLE))
        |       / (n*(n-1))) AS stddev_value,
        |  (CAST(n AS DOUBLE)*CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE)*CAST(sx AS DOUBLE))
        |       / (n*(n-1)) AS var_value,
        |  (CAST(n AS DOUBLE)*CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE)*CAST(sy AS DOUBLE))
        |    / sqrt((CAST(n AS DOUBLE)*CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE)*CAST(sx AS DOUBLE))
        |           * (CAST(n AS DOUBLE)*CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE)*CAST(sy AS DOUBLE)))
        |    AS corr_value_k
        |FROM s""".stripMargin,
    "bitwise_funcs" ->
      """SELECT event_id,
        |  event_id & 255 AS ev_and,
        |  event_id | 16 AS ev_or,
        |  xor(event_id, user_id) AS ev_xor,
        |  event_id << 2 AS ev_shl,
        |  event_id >> 1 AS ev_shr,
        |  CAST(bit_count(event_id) AS INTEGER) AS ev_bits
        |FROM events""".stripMargin,
    "date_format_funcs" ->
      """SELECT o_orderkey,
        |  strftime(o_orderdate, '%Y-%m') AS ym,
        |  strftime(o_orderdate, '%Y-%m-%d %H:%M:%S') AS full_ts,
        |  CAST(epoch(o_orderdate) AS BIGINT) AS epoch_s,
        |  strftime(o_orderdate, '%Y-%m-%d') AS date_str
        |FROM orders""".stripMargin,
    "linreg_agg" ->
      """WITH t AS (
        |  SELECT event_type,
        |    CAST(json_extract_string(props, '$.k') AS DECIMAL(18,2)) AS x,
        |    CAST(value AS DECIMAL(18,2)) AS y
        |  FROM events),
        |s AS (
        |  SELECT event_type, count(*) AS n,
        |    sum(x) AS sx, sum(x*x) AS sxx, sum(y) AS sy, sum(x*y) AS sxy
        |  FROM t GROUP BY 1)
        |SELECT event_type, n,
        |  (CAST(n AS DOUBLE)*CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE)*CAST(sy AS DOUBLE))
        |    / (CAST(n AS DOUBLE)*CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE)*CAST(sx AS DOUBLE)) AS slope,
        |  (CAST(sy AS DOUBLE)
        |   - (CAST(n AS DOUBLE)*CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE)*CAST(sy AS DOUBLE))
        |     / (CAST(n AS DOUBLE)*CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE)*CAST(sx AS DOUBLE))
        |     * CAST(sx AS DOUBLE)) / n AS intercept
        |FROM s""".stripMargin,
    "percentiles" ->
      """SELECT l_returnflag,
        |  quantile_cont(l_quantity, 0.5) AS p50,
        |  quantile_cont(l_quantity, 0.9) AS p90,
        |  quantile_cont(l_quantity, 0.99) AS p99
        |FROM lineitem GROUP BY 1""".stripMargin,
    "ntile_buckets" ->
      """SELECT CAST(bucket AS INTEGER) AS bucket, count(*) AS n_orders,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price,
        |  min(o_totalprice) AS min_price, max(o_totalprice) AS max_price
        |FROM (SELECT o_totalprice,
        |        ntile(4) OVER (ORDER BY o_totalprice DESC, o_orderkey) AS bucket
        |      FROM orders) t
        |GROUP BY 1""".stripMargin,
    "twap" ->
      """WITH t AS (
        |  SELECT event_type AS symbol,
        |    CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS price_cents,
        |    lead(epoch_us(CAST(ts AS TIMESTAMP)))
        |        OVER (PARTITION BY event_type ORDER BY ts, event_id)
        |      - epoch_us(CAST(ts AS TIMESTAMP)) AS dur_us
        |  FROM events)
        |SELECT symbol,
        |  CAST(CAST(sum(price_cents * dur_us) AS BIGINT) AS DOUBLE)
        |    / CAST(CAST(sum(dur_us) AS BIGINT) AS DOUBLE) / 100.0 AS twap,
        |  CAST(count(*) AS BIGINT) AS n_intervals
        |FROM t WHERE dur_us IS NOT NULL GROUP BY 1""".stripMargin,
    "candle_patterns" ->
      """WITH t AS (
        |  SELECT ts, event_type AS symbol,
        |         CAST(value AS DECIMAL(18,2)) AS price
        |  FROM events),
        |c AS (
        |  SELECT date_trunc('minute', ts) AS window_start, symbol,
        |    CAST(arg_min(price, ts) AS DOUBLE) AS open_price,
        |    CAST(arg_max(price, ts) AS DOUBLE) AS close_price
        |  FROM t GROUP BY 1, 2),
        |l AS (
        |  SELECT *,
        |    lag(open_price) OVER (PARTITION BY symbol ORDER BY window_start) AS prev_open,
        |    lag(close_price) OVER (PARTITION BY symbol ORDER BY window_start) AS prev_close
        |  FROM c)
        |SELECT symbol, window_start,
        |  CASE WHEN prev_close < prev_open AND close_price > open_price
        |            AND open_price <= prev_close AND close_price >= prev_open
        |       THEN 'bullish_engulfing'
        |       ELSE 'bearish_engulfing' END AS pattern,
        |  prev_open, prev_close, open_price, close_price
        |FROM l
        |WHERE prev_open IS NOT NULL AND (
        |  (prev_close < prev_open AND close_price > open_price
        |     AND open_price <= prev_close AND close_price >= prev_open) OR
        |  (prev_close > prev_open AND close_price < open_price
        |     AND open_price >= prev_close AND close_price <= prev_open))""".stripMargin,
    "max_drawdown" ->
      """WITH t AS (
        |  SELECT ts, event_type AS symbol,
        |         CAST(value AS DECIMAL(18,2)) AS price
        |  FROM events),
        |c AS (
        |  SELECT date_trunc('minute', ts) AS window_start, symbol,
        |    CAST(arg_max(price, ts) AS DOUBLE) AS close_price
        |  FROM t GROUP BY 1, 2),
        |d AS (
        |  SELECT symbol,
        |    close_price / max(close_price) OVER (PARTITION BY symbol
        |      ORDER BY window_start ROWS BETWEEN UNBOUNDED PRECEDING
        |      AND CURRENT ROW) - 1.0 AS drawdown,
        |    max(close_price) OVER (PARTITION BY symbol
        |      ORDER BY window_start ROWS BETWEEN UNBOUNDED PRECEDING
        |      AND CURRENT ROW) AS peak
        |  FROM c)
        |SELECT symbol, min(drawdown) AS max_drawdown, max(peak) AS peak_price,
        |  CAST(count(*) AS BIGINT) AS n_minutes
        |FROM d GROUP BY 1""".stripMargin,
    "var_95" ->
      """WITH t AS (
        |  SELECT ts, event_type AS symbol,
        |         CAST(value AS DECIMAL(18,2)) AS price
        |  FROM events),
        |c AS (
        |  SELECT date_trunc('minute', ts) AS window_start, symbol,
        |    CAST(arg_max(price, ts) AS DOUBLE) AS close_price
        |  FROM t GROUP BY 1, 2),
        |r AS (
        |  SELECT symbol, close_price /
        |    lag(close_price) OVER (PARTITION BY symbol ORDER BY window_start) - 1.0 AS ret,
        |    lag(close_price) OVER (PARTITION BY symbol ORDER BY window_start) AS prev_close
        |  FROM c)
        |SELECT symbol, quantile_cont(ret, 0.05) AS var_5pct,
        |  CAST(count(*) AS BIGINT) AS n_returns
        |FROM r WHERE prev_close IS NOT NULL AND prev_close <> 0 GROUP BY 1""".stripMargin,
    "autocorr_lag1" ->
      """WITH t AS (
        |  SELECT ts, event_type AS symbol,
        |         CAST(value AS DECIMAL(18,2)) AS price
        |  FROM events),
        |c AS (
        |  SELECT date_trunc('minute', ts) AS window_start, symbol,
        |    CAST(arg_max(price, ts) AS DOUBLE) AS close_price
        |  FROM t GROUP BY 1, 2),
        |p AS (
        |  SELECT symbol,
        |    CAST(round(close_price * 100) AS BIGINT) AS x,
        |    CAST(round(lag(close_price) OVER
        |      (PARTITION BY symbol ORDER BY window_start) * 100) AS BIGINT) AS y
        |  FROM c),
        |s AS (
        |  SELECT symbol, CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
        |    CAST(sum(x * y) AS BIGINT) AS sxy,
        |    CAST(sum(x * x) AS BIGINT) AS sxx,
        |    CAST(sum(y * y) AS BIGINT) AS syy
        |  FROM p WHERE y IS NOT NULL GROUP BY 1)
        |SELECT symbol, n,
        |  CAST(CAST(n AS HUGEINT) * sxy - CAST(sx AS HUGEINT) * sy AS DOUBLE) /
        |    (sqrt(CAST(CAST(n AS HUGEINT) * sxx - CAST(sx AS HUGEINT) * sx AS DOUBLE)) *
        |     sqrt(CAST(CAST(n AS HUGEINT) * syy - CAST(sy AS HUGEINT) * sy AS DOUBLE)))
        |    AS autocorr
        |FROM s""".stripMargin,
    "rsi_14" ->
      (IndicatorCandleCte +
        """d AS (
        |  SELECT symbol, window_start,
        |    x - lag(x) OVER (PARTITION BY symbol ORDER BY window_start) AS diff
        |  FROM c),
        |s AS (
        |  SELECT symbol, window_start,
        |    CAST(sum(greatest(diff, 0)) OVER w AS BIGINT) AS g,
        |    CAST(sum(greatest(-diff, 0)) OVER w AS BIGINT) AS l,
        |    count(*) OVER w AS nw
        |  FROM d WHERE diff IS NOT NULL
        |  WINDOW w AS (PARTITION BY symbol ORDER BY window_start
        |               ROWS BETWEEN 13 PRECEDING AND CURRENT ROW))
        |SELECT symbol, window_start,
        |  CASE WHEN g + l <> 0
        |       THEN CAST(g AS DOUBLE) * 100.0 / CAST(g + l AS DOUBLE) END AS rsi
        |FROM s WHERE nw = 14""".stripMargin),
    "bollinger_bands" ->
      (IndicatorCandleCte +
        """s AS (
        |  SELECT symbol, window_start,
        |    CAST(sum(x) OVER w AS BIGINT) AS s1,
        |    sum(CAST(x AS HUGEINT) * x) OVER w AS s2,
        |    count(*) OVER w AS nw
        |  FROM c
        |  WINDOW w AS (PARTITION BY symbol ORDER BY window_start
        |               ROWS BETWEEN 19 PRECEDING AND CURRENT ROW))
        |SELECT symbol, window_start,
        |  CAST(s1 AS DOUBLE) / 20.0 / 100.0 AS sma,
        |  CAST(s1 AS DOUBLE) / 20.0 / 100.0
        |    + 2.0 * sqrt(CAST(s2 * 20 - CAST(s1 AS HUGEINT) * s1 AS DOUBLE) / 380.0)
        |      / 100.0 AS upper_band,
        |  CAST(s1 AS DOUBLE) / 20.0 / 100.0
        |    - 2.0 * sqrt(CAST(s2 * 20 - CAST(s1 AS HUGEINT) * s1 AS DOUBLE) / 380.0)
        |      / 100.0 AS lower_band
        |FROM s WHERE nw = 20""".stripMargin),
    "stoch_osc" ->
      (IndicatorCandleCte +
        """s AS (
        |  SELECT symbol, window_start, x,
        |    max(hi) OVER w AS hi14, min(lo) OVER w AS lo14, count(*) OVER w AS nw
        |  FROM c
        |  WINDOW w AS (PARTITION BY symbol ORDER BY window_start
        |               ROWS BETWEEN 13 PRECEDING AND CURRENT ROW))
        |SELECT symbol, window_start,
        |  CASE WHEN hi14 <> lo14
        |       THEN CAST((x - lo14) * 100 AS DOUBLE) / CAST(hi14 - lo14 AS DOUBLE)
        |  END AS stoch_k
        |FROM s WHERE nw = 14""".stripMargin),
    "atr_14" ->
      (IndicatorCandleCte +
        """d AS (
        |  SELECT symbol, window_start, hi, lo,
        |    lag(x) OVER (PARTITION BY symbol ORDER BY window_start) AS pc
        |  FROM c),
        |r AS (
        |  SELECT symbol, window_start,
        |    greatest(hi - lo, abs(hi - pc), abs(lo - pc)) AS tr
        |  FROM d WHERE pc IS NOT NULL),
        |s AS (
        |  SELECT symbol, window_start,
        |    CAST(sum(tr) OVER w AS BIGINT) AS s, count(*) OVER w AS nw
        |  FROM r
        |  WINDOW w AS (PARTITION BY symbol ORDER BY window_start
        |               ROWS BETWEEN 13 PRECEDING AND CURRENT ROW))
        |SELECT symbol, window_start,
        |  CAST(s AS DOUBLE) / 14.0 / 100.0 AS atr
        |FROM s WHERE nw = 14""".stripMargin),
    "mfi_14" ->
      (IndicatorCandleCte +
        """d AS (
        |  SELECT symbol, window_start, vol, hi + lo + x AS tp3,
        |    lag(hi + lo + x) OVER (PARTITION BY symbol ORDER BY window_start) AS prev
        |  FROM c),
        |f AS (
        |  SELECT symbol, window_start,
        |    CASE WHEN tp3 > prev THEN CAST(tp3 AS HUGEINT) * vol ELSE 0 END AS pos,
        |    CASE WHEN tp3 < prev THEN CAST(tp3 AS HUGEINT) * vol ELSE 0 END AS neg
        |  FROM d WHERE prev IS NOT NULL),
        |s AS (
        |  SELECT symbol, window_start,
        |    sum(pos) OVER w AS p14,
        |    sum(neg) OVER w AS n14,
        |    count(*) OVER w AS nw
        |  FROM f
        |  WINDOW w AS (PARTITION BY symbol ORDER BY window_start
        |               ROWS BETWEEN 13 PRECEDING AND CURRENT ROW))
        |SELECT symbol, window_start,
        |  CASE WHEN p14 + n14 <> 0
        |       THEN CAST(p14 AS DOUBLE) * 100.0 / CAST(p14 + n14 AS DOUBLE)
        |  END AS mfi
        |FROM s WHERE nw = 14""".stripMargin),
    "macd" ->
      (IndicatorCandleCte +
        """s AS (
        |  SELECT symbol, window_start,
        |    CAST(sum(x) OVER w12 AS BIGINT) AS s12,
        |    CAST(sum(x) OVER w26 AS BIGINT) AS s26,
        |    count(*) OVER w26 AS n26
        |  FROM c
        |  WINDOW w12 AS (PARTITION BY symbol ORDER BY window_start
        |                 ROWS BETWEEN 11 PRECEDING AND CURRENT ROW),
        |         w26 AS (PARTITION BY symbol ORDER BY window_start
        |                 ROWS BETWEEN 25 PRECEDING AND CURRENT ROW)),
        |m AS (
        |  SELECT symbol, window_start, 26 * s12 - 12 * s26 AS macd_num
        |  FROM s WHERE n26 = 26),
        |g AS (
        |  SELECT symbol, window_start, macd_num,
        |    CAST(sum(macd_num) OVER w9 AS BIGINT) AS sig_num,
        |    count(*) OVER w9 AS n9
        |  FROM m
        |  WINDOW w9 AS (PARTITION BY symbol ORDER BY window_start
        |                ROWS BETWEEN 8 PRECEDING AND CURRENT ROW))
        |SELECT symbol, window_start,
        |  CAST(macd_num AS DOUBLE) / 312.0 / 100.0 AS macd,
        |  CAST(sig_num AS DOUBLE) / 2808.0 / 100.0 AS signal,
        |  CAST(9 * macd_num - sig_num AS DOUBLE) / 2808.0 / 100.0 AS histogram
        |FROM g WHERE n9 = 9""".stripMargin),
    "cci_20" -> Cci20Sql,
    "williams_r" ->
      (IndicatorCandleCte +
        """s AS (
        |  SELECT symbol, window_start, x,
        |    max(hi) OVER w AS hh, min(lo) OVER w AS ll, count(*) OVER w AS nw
        |  FROM c
        |  WINDOW w AS (PARTITION BY symbol ORDER BY window_start
        |               ROWS BETWEEN 13 PRECEDING AND CURRENT ROW))
        |SELECT symbol, window_start,
        |  CASE WHEN hh <> ll
        |       THEN CAST(hh - x AS DOUBLE) * -100.0 / CAST(hh - ll AS DOUBLE)
        |  END AS williams_r
        |FROM s WHERE nw = 14""".stripMargin),
    "price_roc" ->
      (IndicatorCandleCte +
        """d AS (
        |  SELECT symbol, window_start, x,
        |    lag(x, 12) OVER (PARTITION BY symbol ORDER BY window_start) AS x12
        |  FROM c)
        |SELECT symbol, window_start,
        |  CASE WHEN x12 <> 0
        |       THEN CAST(x - x12 AS DOUBLE) * 100.0 / CAST(x12 AS DOUBLE)
        |  END AS roc
        |FROM d WHERE x12 IS NOT NULL""".stripMargin),
    "ship_sla" ->
      """WITH lg AS (
        |  SELECT o.o_orderpriority AS priority,
        |    date_diff('day', o.o_orderdate, l.l_shipdate) AS lag_days
        |  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey),
        |bylag AS (
        |  SELECT priority, lag_days, CAST(count(*) AS BIGINT) AS c
        |  FROM lg GROUP BY 1, 2),
        |cum AS (
        |  SELECT priority, lag_days,
        |    CAST(sum(c) OVER (PARTITION BY priority ORDER BY lag_days
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum,
        |    CAST(sum(c) OVER (PARTITION BY priority) AS BIGINT) AS n
        |  FROM bylag),
        |p90 AS (
        |  SELECT priority, CAST(min(lag_days) AS INTEGER) AS p90_lag
        |  FROM cum WHERE cum * 10 >= n * 9 GROUP BY 1),
        |st AS (
        |  SELECT priority, CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(lag_days) AS BIGINT) AS sum_lag,
        |    CAST(sum(CASE WHEN lag_days <= 30 THEN 1 ELSE 0 END) AS BIGINT)
        |      AS within_30
        |  FROM lg GROUP BY 1)
        |SELECT st.priority, st.n,
        |  CAST(st.sum_lag AS DOUBLE) / CAST(st.n AS DOUBLE) AS avg_lag_days,
        |  CAST(st.within_30 AS DOUBLE) / CAST(st.n AS DOUBLE) AS pct_within_30d,
        |  p90.p90_lag
        |FROM st JOIN p90 ON st.priority = p90.priority""".stripMargin,
    // ichimoku: every line is integer-cents window extremes summed exactly
    // and divided ONCE by 200/400; senkou displacement is lag-26 of the
    // int sums, chikou is lead-26 (NULL tail on both engines)
    "ichimoku" ->
      (IndicatorCandleCte +
        """s AS (
        |  SELECT symbol, window_start,
        |    max(hi) OVER w9 AS u9, min(lo) OVER w9 AS d9,
        |    max(hi) OVER w26 AS u26, min(lo) OVER w26 AS d26,
        |    max(hi) OVER w52 AS u52, min(lo) OVER w52 AS d52,
        |    count(*) OVER w26 AS nw26, count(*) OVER w52 AS nw52,
        |    x
        |  FROM c
        |  WINDOW
        |    w9 AS (PARTITION BY symbol ORDER BY window_start
        |           ROWS BETWEEN 8 PRECEDING AND CURRENT ROW),
        |    w26 AS (PARTITION BY symbol ORDER BY window_start
        |            ROWS BETWEEN 25 PRECEDING AND CURRENT ROW),
        |    w52 AS (PARTITION BY symbol ORDER BY window_start
        |            ROWS BETWEEN 51 PRECEDING AND CURRENT ROW)),
        |d AS (
        |  SELECT symbol, window_start, u9, d9, u26, d26, nw26,
        |    lag(u9 + d9 + u26 + d26, 26) OVER ws AS sa_int,
        |    lag(u52 + d52, 26) OVER ws AS sb_int,
        |    lag(nw52, 26) OVER ws AS nw52_lag,
        |    lead(x, 26) OVER ws AS chikou_int
        |  FROM s
        |  WINDOW ws AS (PARTITION BY symbol ORDER BY window_start))
        |SELECT symbol, window_start,
        |  CAST(u9 + d9 AS DOUBLE) / 200.0 AS tenkan,
        |  CAST(u26 + d26 AS DOUBLE) / 200.0 AS kijun,
        |  CAST(sa_int AS DOUBLE) / 400.0 AS senkou_a,
        |  CAST(sb_int AS DOUBLE) / 200.0 AS senkou_b,
        |  CAST(chikou_int AS DOUBLE) / 100.0 AS chikou
        |FROM d WHERE nw26 = 26 AND nw52_lag = 52""".stripMargin),
    // anchored VWAP: HUGEINT flow sums (cents x volume cumsums can pass
    // 2^53), one boundary division, NULL on a zero-volume prefix
    "anchored_vwap" ->
      (IndicatorCandleCte +
        """s AS (
        |  SELECT symbol, window_start,
        |    sum(CAST(x AS HUGEINT) * vol) OVER wd AS cum_pv,
        |    CAST(sum(vol) OVER wd AS BIGINT) AS cum_v
        |  FROM c
        |  WINDOW wd AS (PARTITION BY symbol, date_trunc('day', window_start)
        |                ORDER BY window_start
        |                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
        |SELECT symbol, window_start,
        |  CASE WHEN cum_v <> 0
        |       THEN CAST(cum_pv AS DOUBLE) / CAST(cum_v AS DOUBLE) / 100.0
        |  END AS avwap,
        |  cum_v AS cum_volume
        |FROM s""".stripMargin),
    "donchian_channels" ->
      (IndicatorCandleCte +
        """s AS (
        |  SELECT symbol, window_start,
        |    max(hi) OVER w AS up, min(lo) OVER w AS dn, count(*) OVER w AS nw
        |  FROM c
        |  WINDOW w AS (PARTITION BY symbol ORDER BY window_start
        |               ROWS BETWEEN 19 PRECEDING AND CURRENT ROW))
        |SELECT symbol, window_start,
        |  CAST(up AS DOUBLE) / 100.0 AS upper,
        |  CAST(dn AS DOUBLE) / 100.0 AS lower,
        |  CAST(up + dn AS DOUBLE) / 200.0 AS mid
        |FROM s WHERE nw = 20""".stripMargin),
    "keltner_channels" ->
      (IndicatorCandleCte +
        """d AS (
        |  SELECT symbol, window_start, hi, lo, x,
        |    lag(x) OVER (PARTITION BY symbol ORDER BY window_start) AS pc
        |  FROM c),
        |r AS (
        |  SELECT symbol, window_start, hi + lo + x AS tp3,
        |    greatest(hi - lo, abs(hi - pc), abs(lo - pc)) AS tr
        |  FROM d WHERE pc IS NOT NULL),
        |s AS (
        |  SELECT symbol, window_start,
        |    CAST(sum(tp3) OVER w20 AS BIGINT) AS c20,
        |    CAST(sum(tr) OVER w10 AS BIGINT) AS t10,
        |    count(*) OVER w20 AS nw
        |  FROM r
        |  WINDOW w20 AS (PARTITION BY symbol ORDER BY window_start
        |                 ROWS BETWEEN 19 PRECEDING AND CURRENT ROW),
        |         w10 AS (PARTITION BY symbol ORDER BY window_start
        |                 ROWS BETWEEN 9 PRECEDING AND CURRENT ROW))
        |SELECT symbol, window_start,
        |  CAST(c20 AS DOUBLE) / 6000.0 AS center,
        |  CAST(c20 AS DOUBLE) / 6000.0 + CAST(t10 AS DOUBLE) / 500.0 AS upper,
        |  CAST(c20 AS DOUBLE) / 6000.0 - CAST(t10 AS DOUBLE) / 500.0 AS lower
        |FROM s WHERE nw = 20""".stripMargin),
    "realized_vol" ->
      (IndicatorCandleCte +
        """d AS (
        |  SELECT symbol, window_start,
        |    x - lag(x) OVER (PARTITION BY symbol ORDER BY window_start) AS dx
        |  FROM c),
        |s AS (
        |  SELECT symbol, window_start,
        |    CAST(sum(dx) OVER w AS BIGINT) AS s1,
        |    sum(CAST(dx AS HUGEINT) * dx) OVER w AS s2,
        |    count(*) OVER w AS nw
        |  FROM d WHERE dx IS NOT NULL
        |  WINDOW w AS (PARTITION BY symbol ORDER BY window_start
        |               ROWS BETWEEN 29 PRECEDING AND CURRENT ROW))
        |SELECT symbol, window_start,
        |  sqrt(CAST(30 * s2 - CAST(s1 AS HUGEINT) * s1 AS DOUBLE) / 870.0) / 100.0
        |    AS realized_vol
        |FROM s WHERE nw = 30""".stripMargin),
    "rolling_beta" ->
      (IndicatorCandleCte +
        """d AS (
        |  SELECT symbol, window_start,
        |    x - lag(x) OVER (PARTITION BY symbol ORDER BY window_start) AS dx
        |  FROM c),
        |dd AS (SELECT symbol, window_start, dx FROM d WHERE dx IS NOT NULL),
        |j AS (
        |  SELECT a.symbol, a.window_start, a.dx, b.db
        |  FROM dd a JOIN (SELECT window_start AS bws, dx AS db FROM dd
        |                  WHERE symbol = 'purchase') b
        |    ON a.window_start = b.bws),
        |s AS (
        |  SELECT symbol, window_start,
        |    sum(CAST(dx AS HUGEINT) * db) OVER w AS sxy,
        |    sum(CAST(db AS HUGEINT) * db) OVER w AS sbb,
        |    CAST(sum(dx) OVER w AS BIGINT) AS sx,
        |    CAST(sum(db) OVER w AS BIGINT) AS sb,
        |    count(*) OVER w AS nw
        |  FROM j
        |  WINDOW w AS (PARTITION BY symbol ORDER BY window_start
        |               ROWS BETWEEN 29 PRECEDING AND CURRENT ROW))
        |SELECT symbol, window_start,
        |  CASE WHEN 30 * sbb - CAST(sb AS HUGEINT) * sb <> 0
        |       THEN CAST(30 * sxy - CAST(sx AS HUGEINT) * sb AS DOUBLE)
        |            / CAST(30 * sbb - CAST(sb AS HUGEINT) * sb AS DOUBLE)
        |  END AS beta
        |FROM s WHERE nw = 30""".stripMargin),
    "lead_lag_corr" ->
      (IndicatorCandleCte +
        """d AS (
        |  SELECT symbol,
        |    date_diff('minute', TIMESTAMP '1970-01-01 00:00:00', window_start) AS m,
        |    x - lag(x) OVER (PARTITION BY symbol ORDER BY window_start) AS dx
        |  FROM c),
        |dd AS (SELECT symbol, m, dx FROM d WHERE dx IS NOT NULL),
        |j AS (
        |  SELECT a.symbol, l.lag_min, a.dx, b.dx AS db
        |  FROM dd a
        |  CROSS JOIN (SELECT unnest(generate_series(-3, 3)) AS lag_min) l
        |  JOIN (SELECT m, dx FROM dd WHERE symbol = 'purchase') b
        |    ON a.m - l.lag_min = b.m),
        |s AS (
        |  SELECT symbol, lag_min, CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(dx) AS BIGINT) AS sx, CAST(sum(db) AS BIGINT) AS sy,
        |    sum(CAST(dx AS HUGEINT) * db) AS sxy,
        |    sum(CAST(dx AS HUGEINT) * dx) AS sxx,
        |    sum(CAST(db AS HUGEINT) * db) AS syy
        |  FROM j GROUP BY 1, 2)
        |SELECT symbol, lag_min, n,
        |  CASE WHEN n * sxx - CAST(sx AS HUGEINT) * sx <> 0
        |        AND n * syy - CAST(sy AS HUGEINT) * sy <> 0
        |       THEN CAST(n * sxy - CAST(sx AS HUGEINT) * sy AS DOUBLE)
        |            / (sqrt(CAST(n * sxx - CAST(sx AS HUGEINT) * sx AS DOUBLE))
        |               * sqrt(CAST(n * syy - CAST(sy AS HUGEINT) * sy AS DOUBLE)))
        |  END AS corr
        |FROM s""".stripMargin),
    "volume_profile" ->
      (IndicatorCandleCte +
        """b AS (
        |  SELECT symbol, (x - ((x % 500) + 500) % 500) // 500 AS bucket, vol
        |  FROM c)
        |SELECT symbol, bucket,
        |  CAST(bucket AS DOUBLE) * 5.0 AS price_lo,
        |  CAST(count(*) AS BIGINT) AS n_candles,
        |  CAST(sum(vol) AS BIGINT) AS total_volume
        |FROM b GROUP BY 1, 2""".stripMargin),
    "drawdown_duration" ->
      (IndicatorCandleCte +
        """r AS (
        |  SELECT symbol, window_start, x,
        |    max(x) OVER (PARTITION BY symbol ORDER BY window_start
        |                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS runmax
        |  FROM c),
        |u AS (
        |  SELECT symbol, window_start,
        |    CASE WHEN x < runmax THEN 1 ELSE 0 END AS uw
        |  FROM r),
        |g AS (
        |  SELECT symbol, uw,
        |    CAST(sum(1 - uw) OVER (PARTITION BY symbol ORDER BY window_start
        |                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
        |      AS grp
        |  FROM u),
        |runs AS (
        |  SELECT symbol, grp, CAST(sum(uw) AS BIGINT) AS run_len
        |  FROM g GROUP BY 1, 2)
        |SELECT symbol,
        |  max(run_len) AS max_underwater,
        |  CAST(sum(run_len) AS BIGINT) AS total_underwater,
        |  CAST(count(CASE WHEN run_len > 0 THEN 1 END) AS BIGINT) AS n_drawdowns
        |FROM runs GROUP BY 1""".stripMargin),
    "obv" ->
      (IndicatorCandleCte +
        """d AS (
        |  SELECT symbol, window_start, vol,
        |    x - lag(x) OVER (PARTITION BY symbol ORDER BY window_start) AS diff
        |  FROM c)
        |SELECT symbol, window_start,
        |  CAST(sum(CASE WHEN diff > 0 THEN vol WHEN diff < 0 THEN -vol ELSE 0 END)
        |    OVER (PARTITION BY symbol ORDER BY window_start
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS obv
        |FROM d""".stripMargin),
    "ewma_price" ->
      (IndicatorCandleCte +
        """s AS (
        |  SELECT symbol, window_start,
        |    x * 32768 + lag(x, 1) OVER w * 16384 + lag(x, 2) OVER w * 8192
        |      + lag(x, 3) OVER w * 4096 + lag(x, 4) OVER w * 2048
        |      + lag(x, 5) OVER w * 1024 + lag(x, 6) OVER w * 512
        |      + lag(x, 7) OVER w * 256 + lag(x, 8) OVER w * 128
        |      + lag(x, 9) OVER w * 64 + lag(x, 10) OVER w * 32
        |      + lag(x, 11) OVER w * 16 + lag(x, 12) OVER w * 8
        |      + lag(x, 13) OVER w * 4 + lag(x, 14) OVER w * 2
        |      + lag(x, 15) OVER w AS num,
        |    lag(x, 15) OVER w AS x_oldest
        |  FROM c
        |  WINDOW w AS (PARTITION BY symbol ORDER BY window_start))
        |SELECT symbol, window_start,
        |  CAST(num AS DOUBLE) / 65535.0 / 100.0 AS ewma
        |FROM s WHERE x_oldest IS NOT NULL""".stripMargin),
    "ohlcv_5min_rollup" ->
      """WITH t AS (
        |  SELECT ts, event_type AS symbol,
        |    CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS pc,
        |    CAST(CAST(json_extract_string(props, '$.k') AS DECIMAL(18,0)) AS BIGINT) AS qty
        |  FROM events),
        |m AS (
        |  SELECT date_trunc('minute', ts) AS m, symbol,
        |    arg_min(pc, ts) AS open_c, max(pc) AS hi_c, min(pc) AS lo_c,
        |    arg_max(pc, ts) AS close_c,
        |    CAST(sum(qty) AS BIGINT) AS vol,
        |    CAST(sum(pc * qty) AS BIGINT) AS tv
        |  FROM t GROUP BY 1, 2)
        |SELECT
        |  time_bucket(INTERVAL 5 MINUTE, m) AS window_start,
        |  time_bucket(INTERVAL 5 MINUTE, m) + INTERVAL 5 MINUTE AS window_end,
        |  symbol,
        |  CAST(arg_min(open_c, m) AS DOUBLE) / 100.0 AS open_price,
        |  CAST(max(hi_c) AS DOUBLE) / 100.0 AS high_price,
        |  CAST(min(lo_c) AS DOUBLE) / 100.0 AS low_price,
        |  CAST(arg_max(close_c, m) AS DOUBLE) / 100.0 AS close_price,
        |  CAST(sum(vol) AS BIGINT) AS total_volume,
        |  CAST(count(*) AS BIGINT) AS n_minutes,
        |  CASE WHEN sum(vol) <> 0
        |       THEN CAST(CAST(sum(tv) AS BIGINT) AS DOUBLE)
        |            / CAST(CAST(sum(vol) AS BIGINT) AS DOUBLE) / 100.0
        |  END AS vwap
        |FROM m GROUP BY 1, 2, 3""".stripMargin,
    "pairwise_corr" ->
      (IndicatorCandleCte +
        """p AS (
        |  SELECT a.symbol AS sym_a, b.symbol AS sym_b, a.x AS xa, b.x AS xb
        |  FROM c a JOIN c b ON a.window_start = b.window_start
        |  WHERE a.symbol < b.symbol),
        |s AS (
        |  SELECT sym_a, sym_b, CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(xa) AS BIGINT) AS sx, CAST(sum(xb) AS BIGINT) AS sy,
        |    CAST(sum(xa * xb) AS BIGINT) AS sxy,
        |    CAST(sum(xa * xa) AS BIGINT) AS sxx,
        |    CAST(sum(xb * xb) AS BIGINT) AS syy
        |  FROM p GROUP BY 1, 2)
        |SELECT sym_a, sym_b, n,
        |  CASE WHEN CAST(n AS HUGEINT) * sxx - CAST(sx AS HUGEINT) * sx <> 0
        |        AND CAST(n AS HUGEINT) * syy - CAST(sy AS HUGEINT) * sy <> 0
        |  THEN CAST(CAST(n AS HUGEINT) * sxy - CAST(sx AS HUGEINT) * sy AS DOUBLE) /
        |    (sqrt(CAST(CAST(n AS HUGEINT) * sxx - CAST(sx AS HUGEINT) * sx AS DOUBLE)) *
        |     sqrt(CAST(CAST(n AS HUGEINT) * syy - CAST(sy AS HUGEINT) * sy AS DOUBLE)))
        |  END AS corr
        |FROM s""".stripMargin),
    "zscore_anomaly" ->
      (IndicatorCandleCte +
        """s AS (
        |  SELECT symbol, CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(x) AS BIGINT) AS sx,
        |    CAST(sum(x * x) AS BIGINT) AS sxx
        |  FROM c GROUP BY 1),
        |z AS (
        |  SELECT c.symbol, c.window_start,
        |    CAST(c.x AS DOUBLE) / 100.0 AS close_price,
        |    CASE WHEN n > 1 AND CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
        |            - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) <> 0.0
        |    THEN (CAST(c.x AS DOUBLE) - CAST(sx AS DOUBLE) / CAST(n AS DOUBLE)) /
        |      sqrt((CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
        |            - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
        |           / (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) - 1.0)))
        |    END AS z
        |  FROM c JOIN s ON c.symbol = s.symbol)
        |SELECT symbol, window_start, close_price, z
        |FROM z WHERE abs(z) > 3.0""".stripMargin),
    "chunk_dedup" ->
      """WITH d AS (
        |  SELECT doc_id, string_split(trim(text), ' ') AS toks FROM documents
        |  WHERE trim(text) <> ''),
        |e AS (
        |  SELECT doc_id, toks,
        |    unnest(generate_series(0, greatest(len(toks) - 33, 0), 32)) AS s
        |  FROM d),
        |h AS (
        |  SELECT doc_id,
        |    md5(array_to_string(list_slice(toks, s + 1, s + 64), ' ')) AS chunk_hash
        |  FROM e)
        |SELECT chunk_hash,
        |  CAST(count(*) AS BIGINT) AS n_occurrences,
        |  CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
        |  min(doc_id) AS first_doc_id
        |FROM h GROUP BY 1 HAVING count(*) > 1""".stripMargin,
    "profile_columns" ->
      """SELECT 'event_id' AS col_name, CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(sum(CASE WHEN event_id IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_nulls,
        |  CAST(count(DISTINCT event_id) AS BIGINT) AS n_distinct,
        |  CAST(min(event_id) AS VARCHAR) AS min_value,
        |  CAST(max(event_id) AS VARCHAR) AS max_value
        |FROM events
        |UNION ALL
        |SELECT 'ts', CAST(count(*) AS BIGINT),
        |  CAST(sum(CASE WHEN ts IS NULL THEN 1 ELSE 0 END) AS BIGINT),
        |  CAST(count(DISTINCT ts) AS BIGINT),
        |  strftime(min(ts), '%Y-%m-%d %H:%M:%S'),
        |  strftime(max(ts), '%Y-%m-%d %H:%M:%S')
        |FROM events
        |UNION ALL
        |SELECT 'user_id', CAST(count(*) AS BIGINT),
        |  CAST(sum(CASE WHEN user_id IS NULL THEN 1 ELSE 0 END) AS BIGINT),
        |  CAST(count(DISTINCT user_id) AS BIGINT),
        |  CAST(min(user_id) AS VARCHAR), CAST(max(user_id) AS VARCHAR)
        |FROM events
        |UNION ALL
        |SELECT 'event_type', CAST(count(*) AS BIGINT),
        |  CAST(sum(CASE WHEN event_type IS NULL THEN 1 ELSE 0 END) AS BIGINT),
        |  CAST(count(DISTINCT event_type) AS BIGINT),
        |  min(event_type), max(event_type)
        |FROM events
        |UNION ALL
        |SELECT 'value', CAST(count(*) AS BIGINT),
        |  CAST(sum(CASE WHEN value IS NULL THEN 1 ELSE 0 END) AS BIGINT),
        |  CAST(count(DISTINCT value) AS BIGINT),
        |  CAST(CAST(min(value) AS DECIMAL(18,2)) AS VARCHAR),
        |  CAST(CAST(max(value) AS DECIMAL(18,2)) AS VARCHAR)
        |FROM events
        |UNION ALL
        |SELECT 'props', CAST(count(*) AS BIGINT),
        |  CAST(sum(CASE WHEN props IS NULL THEN 1 ELSE 0 END) AS BIGINT),
        |  CAST(count(DISTINCT props) AS BIGINT),
        |  min(props), max(props)
        |FROM events""".stripMargin,
    // KMV replay (graduated from rows-only in r16): per column, the
    // estimate is the k-th smallest distinct md5-derived 60-bit hash fed
    // into the closed-form (k-1)*2^60/h_k estimator — identical sorted-set
    // state and IEEE ops on both engines, so the double hash-matches.
    // Below k distinct hashes the sketch is EXACT (count of distinct
    // hashes). k, the hash rendering, and the 2^60 numerator all
    // interpolate from their single public vals.
    "profile_columns_approx" -> QualityOps.ProfiledCols.map { case (n, dt) =>
      val rend = QualityOps.duckHashRendering(n, dt)
      val k = QualityOps.ProfileKmvK
      val hashes =
        s"SELECT DISTINCT ('0x' || substr(md5($rend), 1, 15))::BIGINT AS h" +
          s" FROM events WHERE $n IS NOT NULL"
      val (mn, mx) = dt match {
        case "ts" => (s"strftime(min($n), '%Y-%m-%d %H:%M:%S')",
          s"strftime(max($n), '%Y-%m-%d %H:%M:%S')")
        case "dbl" => (s"CAST(CAST(min($n) AS DECIMAL(18,2)) AS VARCHAR)",
          s"CAST(CAST(max($n) AS DECIMAL(18,2)) AS VARCHAR)")
        case "str" => (s"min($n)", s"max($n)")
        case _ => (s"CAST(min($n) AS VARCHAR)", s"CAST(max($n) AS VARCHAR)")
      }
      s"""SELECT '$n' AS col_name, CAST(count(*) AS BIGINT) AS n_rows,
         |  CAST(sum(CASE WHEN $n IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_nulls,
         |  (SELECT CASE WHEN count(*) < $k THEN CAST(count(*) AS DOUBLE)
         |          ELSE ${graft.functions.KmvSketch.EstNumerator} * ${k - 1}e0
         |            / (SELECT CAST(h AS DOUBLE) FROM ($hashes)
         |               ORDER BY h LIMIT 1 OFFSET ${k - 1})
         |          END FROM ($hashes)) AS n_distinct_est,
         |  $mn AS min_value, $mx AS max_value
         |FROM events""".stripMargin
    }.mkString("\nUNION ALL\n"),
    // grouped KMV replay: per event_type, distinct hashes ranked by
    // row_number; the k-th smallest feeds the same closed-form estimator,
    // below-k groups report the exact distinct-hash count (n_days here)
    "kmv_distinct" -> {
      val k = StatsOps.KmvDistinctK
      val num = graft.functions.KmvSketch.EstNumerator
      def estCte(src: String, rend: String, alias: String) =
        s"""h_$alias AS (
           |  SELECT DISTINCT event_type,
           |    ('0x' || substr(md5($rend), 1, 15))::BIGINT AS h
           |  FROM events WHERE $src IS NOT NULL),
           |r_$alias AS (
           |  SELECT event_type, h,
           |    row_number() OVER (PARTITION BY event_type ORDER BY h) AS rk,
           |    count(*) OVER (PARTITION BY event_type) AS nd
           |  FROM h_$alias),
           |e_$alias AS (
           |  SELECT event_type,
           |    CASE WHEN max(nd) < $k THEN CAST(max(nd) AS DOUBLE)
           |         ELSE $num * ${k - 1}e0
           |           / CAST(max(CASE WHEN rk = $k THEN h END) AS DOUBLE) END
           |      AS $alias
           |  FROM r_$alias GROUP BY 1)""".stripMargin
      s"""WITH ${estCte("user_id", "CAST(user_id AS VARCHAR)", "n_users_est")},
         |${estCte("ts", "strftime(ts, '%Y-%m-%d')", "n_days_est")},
         |g AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n_events
         |      FROM events GROUP BY 1)
         |SELECT g.event_type, g.n_events,
         |  COALESCE(e_n_users_est.n_users_est, CAST(0 AS DOUBLE)) AS n_users_est,
         |  COALESCE(e_n_days_est.n_days_est, CAST(0 AS DOUBLE)) AS n_days_est
         |FROM g
         |LEFT JOIN e_n_users_est USING (event_type)
         |LEFT JOIN e_n_days_est USING (event_type)""".stripMargin
    },
    // two-level KMV rollup replay: the k-min-of-union identity means the
    // merged weekly state equals the direct weekly sketch, so the oracle
    // replays straight from raw events — per week, distinct user hashes,
    // k-th smallest, same closed form
    "kmv_partial_union" -> {
      val k = StatsOps.KmvDistinctK
      val num = graft.functions.KmvSketch.EstNumerator
      s"""WITH h AS (
         |  SELECT DISTINCT strftime(date_trunc('week', ts), '%Y-%m-%d') AS week,
         |    ('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 15))::BIGINT AS h
         |  FROM events WHERE user_id IS NOT NULL),
         |r AS (SELECT week, h,
         |        row_number() OVER (PARTITION BY week ORDER BY h) AS rk,
         |        count(*) OVER (PARTITION BY week) AS nd
         |      FROM h),
         |e AS (SELECT week,
         |        CASE WHEN max(nd) < $k THEN CAST(max(nd) AS DOUBLE)
         |             ELSE $num * ${k - 1}e0
         |               / CAST(max(CASE WHEN rk = $k THEN h END) AS DOUBLE) END
         |          AS est_users
         |      FROM r GROUP BY 1),
         |d AS (SELECT strftime(date_trunc('week', ts), '%Y-%m-%d') AS week,
         |        CAST(count(DISTINCT date_trunc('day', ts)) AS BIGINT) AS n_days
         |      FROM events GROUP BY 1)
         |SELECT d.week, d.n_days,
         |  COALESCE(e.est_users, CAST(0 AS DOUBLE)) AS est_users
         |FROM d LEFT JOIN e USING (week)""".stripMargin
    },
    // deterministic rank-sketch replay: the oracle builds the DIRECT
    // weekly KMV value-sample (k smallest distinct cent-hashes carrying
    // their values) from raw events, while the Spark side runs the
    // two-level day→week rollup — hash equality proves merge==recompute
    // (the k-min-of-union identity) on real data. Quantiles are exact
    // integer-rank order statistics over the sample, so every output
    // column is BIGINT/STRING and the compare is exact.
    "kmv_rank_union" -> {
      val k = StatsOps.KmvRankK
      s"""WITH v AS (
         |  SELECT strftime(date_trunc('week', ts), '%Y-%m-%d') AS week,
         |    strftime(ts, '%Y-%m-%d') AS day,
         |    CAST(floor(value * 100) AS BIGINT) AS cent
         |  FROM events WHERE value IS NOT NULL),
         |s AS (SELECT DISTINCT week, cent FROM v),
         |h AS (SELECT week, cent,
         |        ('0x' || substr(md5(CAST(cent AS VARCHAR)), 1, 15))::BIGINT AS h
         |      FROM s),
         |r AS (SELECT week, cent,
         |        row_number() OVER (PARTITION BY week ORDER BY h, cent) AS rk
         |      FROM h),
         |sk AS (SELECT week, cent FROM r WHERE rk <= $k),
         |q AS (SELECT week, cent,
         |        row_number() OVER (PARTITION BY week ORDER BY cent) AS vr,
         |        count(*) OVER (PARTITION BY week) AS c_sample
         |      FROM sk),
         |p AS (SELECT week, CAST(max(c_sample) AS BIGINT) AS c_sample,
         |        max(CASE WHEN vr = 1 + ((c_sample - 1) * 50) // 100
         |            THEN cent END) AS p50_cent,
         |        max(CASE WHEN vr = 1 + ((c_sample - 1) * 95) // 100
         |            THEN cent END) AS p95_cent
         |      FROM q GROUP BY 1),
         |d AS (SELECT week, CAST(count(DISTINCT day) AS BIGINT) AS n_days
         |      FROM v GROUP BY 1)
         |SELECT p.week, d.n_days, p.c_sample, p.p50_cent, p.p95_cent
         |FROM p JOIN d USING (week)""".stripMargin
    },
    // CUSUM closed form: prefix sum of n_days-scaled deviations minus its
    // running min; the alarm compares by cross-multiplication against the
    // public Num/Den threshold — pure integers, no float in hashed output
    "cusum_changepoint" ->
      s"""WITH d AS (
         |  SELECT event_type, strftime(date_trunc('day', ts), '%Y-%m-%d') AS day,
         |    CAST(count(*) AS BIGINT) AS n_events
         |  FROM events GROUP BY 1, 2),
         |s AS (SELECT event_type, day, n_events,
         |        count(*) OVER (PARTITION BY event_type) AS nd,
         |        sum(n_events) OVER (PARTITION BY event_type) AS tot
         |      FROM d),
         |p AS (SELECT *,
         |        sum(nd * n_events - tot) OVER (PARTITION BY event_type
         |          ORDER BY day
         |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pp
         |      FROM s),
         |c AS (SELECT *,
         |        pp - least(0, min(pp) OVER (PARTITION BY event_type
         |          ORDER BY day
         |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)) AS cus
         |      FROM p)
         |SELECT event_type, day, n_events,
         |  CAST(nd * n_events - tot AS BIGINT) AS dev_scaled,
         |  CAST(cus AS BIGINT) AS cusum_scaled,
         |  cus * ${StatsOps.CusumThresholdDen}
         |    > tot * ${StatsOps.CusumThresholdNum} AS alarm
         |FROM c""".stripMargin,
    // first-TopPathLen journey per user via one ordered window; path
    // frequencies over the bounded path space, (n desc, path) top-20
    "top_paths" ->
      s"""WITH r AS (
         |  SELECT user_id, event_type,
         |    row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
         |  FROM events),
         |p AS (SELECT user_id, string_agg(event_type, '>' ORDER BY rn) AS path
         |      FROM r WHERE rn <= ${StatsOps.TopPathLen} GROUP BY user_id),
         |g AS (SELECT path, CAST(count(*) AS BIGINT) AS n_users FROM p GROUP BY 1)
         |SELECT path, n_users, CAST(rk AS INTEGER) AS rk FROM (
         |  SELECT path, n_users,
         |    row_number() OVER (ORDER BY n_users DESC, path) AS rk
         |  FROM g) t WHERE rk <= 20""".stripMargin,
    // KMV overlap replay: k smallest distinct hashes per side, union
    // sketch = k smallest of the raw union (k-min-of-union identity),
    // shared counted by membership in BOTH side sketches, Jaccard and
    // overlap in the same IEEE order as KmvSketch.overlap
    "kmv_overlap" -> {
      val k = StatsOps.KmvDistinctK
      val num = graft.functions.KmvSketch.EstNumerator
      def side(cond: String, n: String) =
        s"""s$n AS (
           |  SELECT DISTINCT
           |    ('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 15))::BIGINT AS h
           |  FROM events WHERE event_type = 'purchase' AND $cond
           |    AND user_id IS NOT NULL),
           |k$n AS (SELECT h FROM s$n ORDER BY h LIMIT $k),
           |e$n AS (SELECT CASE WHEN count(*) < $k THEN CAST(count(*) AS DOUBLE)
           |               ELSE $num * ${k - 1}e0 / CAST(
           |                 (SELECT h FROM s$n ORDER BY h LIMIT 1 OFFSET ${k - 1})
           |                 AS DOUBLE) END AS est
           |        FROM s$n)""".stripMargin
      s"""WITH ${side(s"ts < TIMESTAMP '${StatsOps.KmvOverlapEarlyEnd}'", "a")},
         |${side(s"ts >= TIMESTAMP '${StatsOps.KmvOverlapLateStart}'", "b")},
         |su AS (SELECT h FROM sa UNION SELECT h FROM sb),
         |ku AS (SELECT h FROM su ORDER BY h LIMIT $k),
         |eu AS (SELECT CASE WHEN count(*) < $k THEN CAST(count(*) AS DOUBLE)
         |              ELSE $num * ${k - 1}e0 / CAST(
         |                (SELECT h FROM su ORDER BY h LIMIT 1 OFFSET ${k - 1})
         |                AS DOUBLE) END AS est
         |       FROM su),
         |sh AS (SELECT CAST(count(*) AS BIGINT) AS shared,
         |         (SELECT CAST(count(*) AS BIGINT) FROM ku) AS cu
         |       FROM ku
         |       WHERE h IN (SELECT h FROM ka) AND h IN (SELECT h FROM kb))
         |SELECT ea.est AS est_early, eb.est AS est_late,
         |  eu.est AS est_union, sh.shared AS shared_k,
         |  CASE WHEN sh.cu = 0 THEN 0e0
         |       ELSE CAST(sh.shared AS DOUBLE) / CAST(sh.cu AS DOUBLE) END
         |    AS jaccard_est,
         |  (CASE WHEN sh.cu = 0 THEN 0e0
         |        ELSE CAST(sh.shared AS DOUBLE) / CAST(sh.cu AS DOUBLE) END)
         |    * eu.est AS est_overlap
         |FROM ea, eb, eu, sh""".stripMargin
    },
    "benford_check" ->
      """WITH d AS (
        |  SELECT CAST(substring(CAST(CAST(round(o_totalprice * 100) AS BIGINT)
        |                             AS VARCHAR), 1, 1) AS INTEGER) AS digit
        |  FROM orders),
        |g AS (SELECT digit, CAST(count(*) AS BIGINT) AS obs FROM d GROUP BY 1),
        |t AS (SELECT CAST(sum(obs) AS BIGINT) AS n FROM g),
        |e AS (SELECT * FROM (VALUES
        |  (1, 3.010299956639812e-1), (2, 1.7609125905568124e-1),
        |  (3, 1.2493873660829992e-1), (4, 9.691001300805642e-2),
        |  (5, 7.918124604762482e-2), (6, 6.694678963061322e-2),
        |  (7, 5.799194697768673e-2), (8, 5.115252244738129e-2),
        |  (9, 4.575749056067514e-2)) AS v(digit, expected))
        |SELECT g.digit, g.obs,
        |  CAST(g.obs AS DOUBLE) / CAST(t.n AS DOUBLE) AS share,
        |  e.expected,
        |  (CAST(g.obs AS DOUBLE) - CAST(t.n AS DOUBLE) * e.expected)
        |    * (CAST(g.obs AS DOUBLE) - CAST(t.n AS DOUBLE) * e.expected)
        |    / (CAST(t.n AS DOUBLE) * e.expected) AS chi_term
        |FROM g CROSS JOIN t JOIN e ON g.digit = e.digit""".stripMargin,
    "gini_profile" ->
      """WITH gl AS (
        |  SELECT lang AS v, CAST(count(*) AS BIGINT) AS c
        |  FROM documents GROUP BY 1),
        |al AS (
        |  SELECT 'lang' AS col_name, CAST(count(*) AS BIGINT) AS n_groups,
        |    CAST(sum(c) AS BIGINT) AS n, sum(CAST(c AS HUGEINT) * c) AS s2,
        |    max(c) AS mx
        |  FROM gl),
        |gs AS (
        |  SELECT source AS v, CAST(count(*) AS BIGINT) AS c
        |  FROM documents GROUP BY 1),
        |asrc AS (
        |  SELECT 'source' AS col_name, CAST(count(*) AS BIGINT) AS n_groups,
        |    CAST(sum(c) AS BIGINT) AS n, sum(CAST(c AS HUGEINT) * c) AS s2,
        |    max(c) AS mx
        |  FROM gs),
        |u AS (SELECT * FROM al UNION ALL SELECT * FROM asrc)
        |SELECT col_name, n_groups, n,
        |  1.0 - CAST(s2 AS DOUBLE) / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)) AS gini,
        |  CAST(mx AS DOUBLE) / CAST(n AS DOUBLE) AS top_share
        |FROM u""".stripMargin,
    "orphan_fk_check" ->
      """WITH e1 AS (
        |  SELECT 'lineitem.l_orderkey->orders' AS fk,
        |    CAST(count(*) AS BIGINT) AS total,
        |    CAST(count(CASE WHEN o.o_orderkey IS NULL THEN 1 END) AS BIGINT) AS orphans
        |  FROM lineitem l LEFT JOIN orders o ON l.l_orderkey = o.o_orderkey),
        |e2 AS (
        |  SELECT 'lineitem.l_partkey->part' AS fk,
        |    CAST(count(*) AS BIGINT) AS total,
        |    CAST(count(CASE WHEN p.p_partkey IS NULL THEN 1 END) AS BIGINT) AS orphans
        |  FROM lineitem l LEFT JOIN part p ON l.l_partkey = p.p_partkey),
        |e3 AS (
        |  SELECT 'lineitem.l_suppkey->supplier' AS fk,
        |    CAST(count(*) AS BIGINT) AS total,
        |    CAST(count(CASE WHEN s.s_suppkey IS NULL THEN 1 END) AS BIGINT) AS orphans
        |  FROM lineitem l LEFT JOIN supplier s ON l.l_suppkey = s.s_suppkey),
        |e4 AS (
        |  SELECT 'orders.o_custkey->customer' AS fk,
        |    CAST(count(*) AS BIGINT) AS total,
        |    CAST(count(CASE WHEN c.c_custkey IS NULL THEN 1 END) AS BIGINT) AS orphans
        |  FROM orders o LEFT JOIN customer c ON o.o_custkey = c.c_custkey),
        |u AS (SELECT * FROM e1 UNION ALL SELECT * FROM e2
        |      UNION ALL SELECT * FROM e3 UNION ALL SELECT * FROM e4)
        |SELECT fk, total, orphans,
        |  CAST(orphans AS DOUBLE) / CAST(total AS DOUBLE) AS orphan_rate
        |FROM u""".stripMargin,
    "wow_growth" ->
      """WITH w AS (
        |  SELECT date_trunc('week', o_orderdate) AS wk,
        |    sum(CAST(o_totalprice AS DECIMAL(18,2))) AS rev,
        |    CAST(count(*) AS BIGINT) AS n_orders
        |  FROM orders GROUP BY 1),
        |l AS (
        |  SELECT wk, n_orders, rev,
        |    lag(rev, 1) OVER (ORDER BY wk) AS prev
        |  FROM w)
        |SELECT strftime(wk, '%Y-%m-%d') AS week, n_orders,
        |  CAST(rev AS DOUBLE) AS revenue,
        |  CASE WHEN prev IS NOT NULL AND prev <> 0
        |       THEN CAST(rev - prev AS DOUBLE) / CAST(prev AS DOUBLE)
        |  END AS wow_growth
        |FROM l""".stripMargin,
    "degree_distribution" ->
      """WITH e AS (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem),
        |p AS (SELECT l_partkey, CAST(count(*) AS BIGINT) AS degree
        |      FROM e GROUP BY 1),
        |pd AS (SELECT 'part' AS side, degree, CAST(count(*) AS BIGINT) AS n_nodes
        |       FROM p GROUP BY 2),
        |s AS (SELECT l_suppkey, CAST(count(*) AS BIGINT) AS degree
        |      FROM e GROUP BY 1),
        |sd AS (SELECT 'supplier' AS side, degree, CAST(count(*) AS BIGINT) AS n_nodes
        |       FROM s GROUP BY 2)
        |SELECT * FROM pd UNION ALL SELECT * FROM sd""".stripMargin,
    "basket_lift" ->
      """WITH i AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
        |n AS (SELECT CAST(count(DISTINCT l_orderkey) AS BIGINT) AS n_baskets FROM i),
        |sup AS (SELECT l_partkey, CAST(count(*) AS BIGINT) AS c FROM i GROUP BY 1),
        |pr AS (
        |  SELECT a.l_partkey AS part_a, b.l_partkey AS part_b,
        |    CAST(count(*) AS BIGINT) AS c_ab
        |  FROM i a JOIN i b
        |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
        |  GROUP BY 1, 2 HAVING count(*) >= 2
        |  ORDER BY c_ab DESC, part_a, part_b LIMIT 100)
        |SELECT pr.part_b, pr.part_a, pr.c_ab, sa.c AS c_a, sb.c AS c_b,
        |  CAST(pr.c_ab AS DOUBLE) * CAST(n.n_baskets AS DOUBLE)
        |    / (CAST(sa.c AS DOUBLE) * CAST(sb.c AS DOUBLE)) AS lift
        |FROM pr
        |JOIN sup sa ON pr.part_a = sa.l_partkey
        |JOIN sup sb ON pr.part_b = sb.l_partkey
        |CROSS JOIN n""".stripMargin,
    "session_stats" ->
      """WITH e AS (
        |  SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts,
        |    epoch_us(CAST(ts AS TIMESTAMP)) AS us
        |  FROM events),
        |f AS (
        |  SELECT user_id, event_id, us,
        |    CASE WHEN lag(us, 1) OVER w IS NULL
        |              OR us - lag(us, 1) OVER w > 1800 * 1000000
        |         THEN 1 ELSE 0 END AS new_session
        |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |g AS (
        |  SELECT user_id, us,
        |    CAST(sum(new_session) OVER (PARTITION BY user_id ORDER BY us, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
        |      AS session_id
        |  FROM f),
        |sess AS (
        |  SELECT user_id, session_id, CAST(count(*) AS BIGINT) AS n_events,
        |    min(us) AS session_start_us, max(us) AS session_end_us
        |  FROM g GROUP BY 1, 2),
        |tot AS (
        |  SELECT CAST(count(*) AS BIGINT) AS n_sessions,
        |    CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
        |    CAST(sum(CASE WHEN n_events = 1 THEN 1 ELSE 0 END) AS BIGINT) AS bounces,
        |    CAST(sum(n_events) AS BIGINT) AS total_events,
        |    CAST(sum(session_end_us - session_start_us) AS BIGINT) AS dur_us
        |  FROM sess)
        |SELECT n_sessions, n_users, bounces,
        |  CAST(bounces AS DOUBLE) / CAST(n_sessions AS DOUBLE) AS bounce_rate,
        |  CAST(total_events AS DOUBLE) / CAST(n_sessions AS DOUBLE) AS avg_events,
        |  CAST(dur_us AS DOUBLE) / CAST(n_sessions AS DOUBLE) / 1000000.0
        |    AS avg_duration_sec
        |FROM tot""".stripMargin,
    "mode_median" ->
      """WITH f AS (
        |  SELECT l_returnflag, l_quantity, CAST(count(*) AS BIGINT) AS c
        |  FROM lineitem GROUP BY 1, 2),
        |m AS (
        |  SELECT l_returnflag, l_quantity AS mode_qty,
        |    row_number() OVER (PARTITION BY l_returnflag
        |                       ORDER BY c DESC, l_quantity ASC) AS rn
        |  FROM f),
        |s AS (
        |  SELECT l_returnflag, median(l_quantity) AS median_qty,
        |    avg(l_quantity) AS mean_qty, CAST(count(*) AS BIGINT) AS n
        |  FROM lineitem GROUP BY 1)
        |SELECT s.l_returnflag, s.median_qty, s.mean_qty, s.n, m.mode_qty
        |FROM s JOIN m ON s.l_returnflag = m.l_returnflag AND m.rn = 1""".stripMargin,
    "dq_checks" ->
      """WITH s AS (
        |  SELECT CAST(count(*) AS BIGINT) AS n_rows,
        |    CAST(sum(CASE WHEN value <= 0.0 THEN 1 ELSE 0 END) AS BIGINT) AS r1,
        |    CAST(sum(CASE WHEN value > 100.0 THEN 1 ELSE 0 END) AS BIGINT) AS r2,
        |    CAST(sum(CASE WHEN ts < TIMESTAMP '2024-01-01 00:00:00'
        |          OR ts >= TIMESTAMP '2024-02-01 00:00:00' THEN 1 ELSE 0 END) AS BIGINT) AS r3,
        |    CAST(sum(CASE WHEN event_type NOT IN
        |          ('click','error','purchase','signup','view') THEN 1 ELSE 0 END) AS BIGINT) AS r4,
        |    CAST(sum(CASE WHEN user_id IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS r5,
        |    CAST(sum(CASE WHEN json_extract_string(props, '$.k') IS NULL
        |          THEN 1 ELSE 0 END) AS BIGINT) AS r6,
        |    CAST(sum(CASE WHEN event_type = 'purchase' AND value < 10.0
        |          THEN 1 ELSE 0 END) AS BIGINT) AS r7
        |  FROM events)
        |SELECT 'value_positive' AS rule, r1 AS n_violations, n_rows,
        |  CAST(r1 AS DOUBLE) / CAST(n_rows AS DOUBLE) AS violation_rate FROM s
        |UNION ALL SELECT 'value_below_100', r2, n_rows,
        |  CAST(r2 AS DOUBLE) / CAST(n_rows AS DOUBLE) FROM s
        |UNION ALL SELECT 'ts_in_january', r3, n_rows,
        |  CAST(r3 AS DOUBLE) / CAST(n_rows AS DOUBLE) FROM s
        |UNION ALL SELECT 'event_type_known', r4, n_rows,
        |  CAST(r4 AS DOUBLE) / CAST(n_rows AS DOUBLE) FROM s
        |UNION ALL SELECT 'user_id_present', r5, n_rows,
        |  CAST(r5 AS DOUBLE) / CAST(n_rows AS DOUBLE) FROM s
        |UNION ALL SELECT 'props_has_k', r6, n_rows,
        |  CAST(r6 AS DOUBLE) / CAST(n_rows AS DOUBLE) FROM s
        |UNION ALL SELECT 'purchase_value_min_10', r7, n_rows,
        |  CAST(r7 AS DOUBLE) / CAST(n_rows AS DOUBLE) FROM s""".stripMargin,
    "retention_cohorts" ->
      """WITH fs AS (
        |  SELECT user_id, date_trunc('week', min(ts)) AS cohort_week
        |  FROM events GROUP BY 1),
        |cs AS (SELECT cohort_week, count(*) AS n_cohort FROM fs GROUP BY 1),
        |act AS (SELECT DISTINCT user_id, date_trunc('week', ts) AS act_week
        |        FROM events)
        |SELECT strftime(a.cohort_week, '%Y-%m-%d') AS cohort_week,
        |  CAST(a.week_offset AS INTEGER) AS week_offset,
        |  CAST(a.n_active AS BIGINT) AS n_active,
        |  CAST(cs.n_cohort AS BIGINT) AS n_cohort,
        |  CAST(a.n_active AS DOUBLE) / cs.n_cohort AS retention
        |FROM (
        |  SELECT fs.cohort_week,
        |    date_diff('day', fs.cohort_week, act.act_week) // 7 AS week_offset,
        |    count(*) AS n_active
        |  FROM act JOIN fs ON act.user_id = fs.user_id
        |  GROUP BY 1, 2) a
        |JOIN cs ON a.cohort_week = cs.cohort_week""".stripMargin,
    "cohort_ltv" ->
      """WITH fs AS (
        |  SELECT user_id, date_trunc('week', min(ts)) AS cohort_week
        |  FROM events GROUP BY 1),
        |cs AS (SELECT cohort_week, count(*) AS n_cohort FROM fs GROUP BY 1),
        |p AS (
        |  SELECT fs.cohort_week,
        |    CAST(date_diff('day', fs.cohort_week, date_trunc('week', e.ts)) // 7
        |         AS INTEGER) AS week_offset,
        |    sum(CAST(e.value AS DECIMAL(18,2))) AS rev,
        |    CAST(count(*) AS BIGINT) AS n_purchases
        |  FROM events e JOIN fs ON e.user_id = fs.user_id
        |  WHERE e.event_type = 'purchase'
        |  GROUP BY 1, 2),
        |c AS (
        |  SELECT cohort_week, week_offset, n_purchases, rev,
        |    sum(rev) OVER (PARTITION BY cohort_week ORDER BY week_offset
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_rev
        |  FROM p)
        |SELECT strftime(c.cohort_week, '%Y-%m-%d') AS cohort_week,
        |  c.week_offset, c.n_purchases, CAST(cs.n_cohort AS BIGINT) AS n_cohort,
        |  CAST(c.rev AS DOUBLE) AS revenue,
        |  CAST(c.cum_rev AS DOUBLE) / CAST(cs.n_cohort AS DOUBLE)
        |    AS cum_ltv_per_user
        |FROM c JOIN cs ON c.cohort_week = cs.cohort_week""".stripMargin,
    "vocab_growth" ->
      """WITH toks AS (
        |  SELECT doc_id, unnest(string_split(trim(text), ' ')) AS tok
        |  FROM documents),
        |fd AS (SELECT tok, min(doc_id) AS fdoc FROM toks GROUP BY 1),
        |na AS (SELECT fdoc AS doc_id, CAST(count(*) AS BIGINT) AS new_toks
        |       FROM fd GROUP BY 1),
        |base AS (
        |  SELECT doc_id,
        |    CAST(len(string_split(trim(text), ' ')) AS BIGINT) AS toks
        |  FROM documents),
        |g AS (
        |  SELECT b.doc_id, b.toks, coalesce(na.new_toks, 0) AS new_toks,
        |    row_number() OVER (ORDER BY b.doc_id) AS rn,
        |    count(*) OVER () AS n
        |  FROM base b LEFT JOIN na ON b.doc_id = na.doc_id),
        |cum AS (
        |  SELECT doc_id, rn, n,
        |    CAST(sum(toks) OVER w AS BIGINT) AS total_tokens,
        |    CAST(sum(new_toks) OVER w AS BIGINT) AS vocab_size
        |  FROM g WINDOW w AS (ORDER BY doc_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
        |SELECT CAST((rn * 10) // n AS INTEGER) AS checkpoint,
        |  CAST(rn AS BIGINT) AS n_docs, total_tokens, vocab_size
        |FROM cum WHERE (rn * 10) // n > ((rn - 1) * 10) // n""".stripMargin,
    "source_divergence" ->
      """WITH ex AS (
        |  SELECT source, unnest(string_split(trim(text), ' ')) AS tok
        |  FROM documents),
        |cc AS (SELECT source, tok, CAST(count(*) AS BIGINT) AS c
        |       FROM ex GROUP BY 1, 2),
        |t AS (SELECT source, CAST(sum(c) AS BIGINT) AS n FROM cc GROUP BY 1),
        |j AS (
        |  SELECT a.source AS source_a, b.source AS source_b,
        |    ta.n AS na, tb.n AS nb,
        |    CAST(count(*) AS BIGINT) AS n_common,
        |    CAST(sum(a.c) AS BIGINT) AS sca,
        |    CAST(sum(b.c) AS BIGINT) AS scb,
        |    sum(abs(CAST(a.c AS HUGEINT) * tb.n - CAST(b.c AS HUGEINT) * ta.n))
        |      AS both_num
        |  FROM cc a JOIN cc b ON a.tok = b.tok AND a.source < b.source
        |  JOIN t ta ON a.source = ta.source
        |  JOIN t tb ON b.source = tb.source
        |  GROUP BY 1, 2, 3, 4)
        |SELECT source_a, source_b, n_common,
        |  CAST(both_num + nb * (CAST(na AS HUGEINT) - sca)
        |               + na * (CAST(nb AS HUGEINT) - scb) AS DOUBLE)
        |    / CAST(2 * CAST(na AS HUGEINT) * nb AS DOUBLE) AS tv_distance
        |FROM j""".stripMargin,
    "revenue_concentration" ->
      """WITH bc AS (
        |  SELECT o_custkey, sum(CAST(o_totalprice AS DECIMAL(18,2))) AS rev
        |  FROM orders GROUP BY 1),
        |r AS (
        |  SELECT o_custkey, rev,
        |    row_number() OVER (ORDER BY rev DESC, o_custkey) AS rk,
        |    count(*) OVER () AS n
        |  FROM bc),
        |b AS (
        |  SELECT (rk - 1) * 10 // n AS band, rev, rk FROM r),
        |g AS (
        |  SELECT band, CAST(count(*) AS BIGINT) AS n_customers,
        |    sum(rev) AS band_rev, CAST(min(rk) AS BIGINT) AS top_rank
        |  FROM b GROUP BY 1)
        |SELECT CAST(band AS INTEGER) AS band, n_customers,
        |  CAST(band_rev AS DOUBLE) AS band_revenue,
        |  CAST(band_rev AS DOUBLE) / CAST(sum(band_rev) OVER () AS DOUBLE)
        |    AS revenue_share
        |FROM g""".stripMargin,
    "funnel_latency" ->
      """WITH s1 AS (SELECT user_id, min(ts) AS t1 FROM events
        |            WHERE event_type = 'signup' GROUP BY 1),
        |s2 AS (SELECT e.user_id, min(e.ts) AS t2 FROM events e
        |       JOIN s1 ON e.user_id = s1.user_id
        |       WHERE e.event_type = 'click' AND e.ts > s1.t1 GROUP BY 1),
        |s3 AS (SELECT e.user_id, min(e.ts) AS t3 FROM events e
        |       JOIN s2 ON e.user_id = s2.user_id
        |       WHERE e.event_type = 'purchase' AND e.ts > s2.t2 GROUP BY 1),
        |j AS (SELECT s1.user_id,
        |        epoch_us(CAST(s1.t1 AS TIMESTAMP)) AS u1,
        |        epoch_us(CAST(s2.t2 AS TIMESTAMP)) AS u2,
        |        epoch_us(CAST(s3.t3 AS TIMESTAMP)) AS u3
        |      FROM s1 JOIN s2 ON s1.user_id = s2.user_id
        |                JOIN s3 ON s1.user_id = s3.user_id),
        |h AS (SELECT 'signup_to_click' AS hop, u2 - u1 AS us FROM j
        |      UNION ALL SELECT 'click_to_purchase', u3 - u2 FROM j
        |      UNION ALL SELECT 'signup_to_purchase', u3 - u1 FROM j)
        |SELECT hop, CAST(count(*) AS BIGINT) AS n_users,
        |  CAST(sum(us) AS DOUBLE) / CAST(count(*) AS DOUBLE) / 1000000.0
        |    AS avg_sec,
        |  CAST(max(us) // 1000000 AS BIGINT) AS max_sec
        |FROM h GROUP BY 1""".stripMargin,
    "funnel_stages" ->
      """WITH s1 AS (SELECT user_id, min(ts) AS t1 FROM events
        |            WHERE event_type = 'signup' GROUP BY 1),
        |s2 AS (SELECT e.user_id, min(e.ts) AS t2 FROM events e
        |       JOIN s1 ON e.user_id = s1.user_id
        |       WHERE e.event_type = 'click' AND e.ts > s1.t1 GROUP BY 1),
        |s3 AS (SELECT e.user_id, min(e.ts) AS t3 FROM events e
        |       JOIN s2 ON e.user_id = s2.user_id
        |       WHERE e.event_type = 'purchase' AND e.ts > s2.t2 GROUP BY 1)
        |SELECT stage, stage_order, CAST(n_users AS BIGINT) AS n_users FROM (
        |  SELECT 'signup' AS stage, 1 AS stage_order,
        |    (SELECT count(*) FROM s1) AS n_users
        |  UNION ALL SELECT 'click_after_signup', 2, (SELECT count(*) FROM s2)
        |  UNION ALL SELECT 'purchase_after_click', 3, (SELECT count(*) FROM s3))""".stripMargin,
    "sessionize" ->
      """WITH e AS (
        |  SELECT user_id, event_id, value, CAST(ts AS TIMESTAMP) AS ts,
        |    epoch_us(CAST(ts AS TIMESTAMP)) AS us
        |  FROM events),
        |f AS (
        |  SELECT user_id, event_id, value, us,
        |    CASE WHEN lag(us, 1) OVER w IS NULL
        |              OR us - lag(us, 1) OVER w > 1800 * 1000000
        |         THEN 1 ELSE 0 END AS new_session
        |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |g AS (
        |  SELECT user_id, value, us,
        |    CAST(sum(new_session) OVER (PARTITION BY user_id ORDER BY us, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
        |      AS session_id
        |  FROM f)
        |SELECT user_id, session_id, count(*) AS n_events,
        |  min(us) AS session_start_us, max(us) AS session_end_us,
        |  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS session_value
        |FROM g GROUP BY 1, 2""".stripMargin,
    "event_transitions" ->
      """WITH t AS (
        |  SELECT lag(event_type) OVER (PARTITION BY user_id
        |           ORDER BY ts, event_id) AS from_type,
        |    event_type AS to_type
        |  FROM events),
        |a AS (
        |  SELECT from_type, to_type, CAST(count(*) AS BIGINT) AS n_trans
        |  FROM t WHERE from_type IS NOT NULL GROUP BY 1, 2)
        |SELECT from_type, to_type, n_trans,
        |  CAST(n_trans AS DOUBLE)
        |    / CAST(sum(n_trans) OVER (PARTITION BY from_type) AS DOUBLE) AS p_trans
        |FROM a""".stripMargin,
    "attribution_last_touch" ->
      """WITH e AS (
        |  SELECT user_id, event_id, event_type, CAST(ts AS TIMESTAMP) AS ts,
        |    epoch_us(CAST(ts AS TIMESTAMP)) AS us
        |  FROM events),
        |f AS (
        |  SELECT event_type, ts, us,
        |    last_value(CASE WHEN event_type = 'click' THEN us END IGNORE NULLS)
        |      OVER (PARTITION BY user_id ORDER BY ts, event_id
        |            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS click_us
        |  FROM e)
        |SELECT strftime(ts, '%Y-%m-%d') AS day,
        |  CAST(count(*) AS BIGINT) AS n_purchases,
        |  CAST(count(click_us) AS BIGINT) AS n_attributed,
        |  CASE WHEN count(click_us) > 0
        |       THEN CAST(sum(us - click_us) AS DOUBLE)
        |            / CAST(count(click_us) AS DOUBLE) END AS avg_gap_us
        |FROM f WHERE event_type = 'purchase'
        |GROUP BY 1""".stripMargin,
    "pareto_front" ->
      """WITH pts AS (SELECT p_retailprice AS price, max(p_size) AS size
        |             FROM part GROUP BY p_retailprice)
        |SELECT price, size FROM pts p
        |WHERE NOT EXISTS (SELECT 1 FROM pts q
        |                  WHERE q.price < p.price AND q.size >= p.size)""".stripMargin,
    "interval_merge" ->
      """WITH m AS (
        |  SELECT user_id, event_id, epoch_us(ts) AS s,
        |    epoch_us(ts) + 300000000 AS e,
        |    max(epoch_us(ts) + 300000000)
        |      OVER (PARTITION BY user_id ORDER BY epoch_us(ts), event_id
        |            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_end
        |  FROM events),
        |i AS (
        |  SELECT user_id, s, e,
        |    sum(CASE WHEN prev_end IS NOT NULL AND prev_end >= s
        |             THEN 0 ELSE 1 END)
        |      OVER (PARTITION BY user_id ORDER BY s, event_id
        |            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
        |  FROM m),
        |g AS (
        |  SELECT user_id, island, min(s) AS i_start, max(e) AS i_end
        |  FROM i GROUP BY user_id, island)
        |SELECT user_id, CAST(count(*) AS BIGINT) AS n_islands,
        |       CAST(sum(i_end - i_start) // 1000000 AS BIGINT) AS covered_sec
        |FROM g GROUP BY user_id""".stripMargin,
    // the quadratic non-equi overlap join is the ORACLE formulation; the
    // engine finds the identical pairs through the 1-hour grid equi-join
    "interval_overlap_join" ->
      """WITH m AS (
        |  SELECT user_id, event_id, epoch_us(ts) AS s,
        |    epoch_us(ts) + 300000000 AS e,
        |    max(epoch_us(ts) + 300000000)
        |      OVER (PARTITION BY user_id ORDER BY epoch_us(ts), event_id
        |            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_end
        |  FROM events),
        |i AS (
        |  SELECT user_id, s, e,
        |    sum(CASE WHEN prev_end IS NOT NULL AND prev_end >= s
        |             THEN 0 ELSE 1 END)
        |      OVER (PARTITION BY user_id ORDER BY s, event_id
        |            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
        |  FROM m),
        |g AS (
        |  SELECT user_id, island, min(s) AS i_start, max(e) AS i_end
        |  FROM i GROUP BY user_id, island)
        |SELECT a.user_id AS user_a, b.user_id AS user_b,
        |  CAST(count(*) AS BIGINT) AS n_overlaps,
        |  CAST(sum((least(a.i_end, b.i_end) - greatest(a.i_start, b.i_start))
        |           // 1000000) AS BIGINT) AS overlap_sec
        |FROM g a JOIN g b
        |  ON a.user_id < b.user_id
        |  AND a.i_start < b.i_end AND b.i_start < a.i_end
        |GROUP BY 1, 2""".stripMargin,
    "cdc_apply" ->
      """WITH r AS (
        |  SELECT user_id, event_type, value, ts, event_id,
        |    row_number() OVER (PARTITION BY user_id
        |                       ORDER BY ts DESC, event_id DESC) AS rn
        |  FROM events)
        |SELECT user_id, event_type AS last_op, value AS last_value,
        |       strftime(ts, '%Y-%m-%d %H:%M:%S.%f') AS last_ts
        |FROM r WHERE rn = 1 AND event_type <> 'error'""".stripMargin,
    // AQP estimator: the deterministic multiplicative-hash ORDER sample
    // (split/pps family), integer HT scale-up and cluster variance —
    // rate and factors interpolated from the engine constants; no float
    // ever aggregates
    "aqp_estimate" ->
      s"""WITH s AS (
        |  SELECT l_returnflag AS flag, l_orderkey,
        |    CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
        |  FROM lineitem
        |  WHERE (l_orderkey % 1000000007) * 2654435761 % 1000000007 % 100
        |        < ${graft.ops.StatsOps.AqpRatePct}),
        |o AS (SELECT flag, l_orderkey, count(*) AS nl,
        |        CAST(sum(cents) AS BIGINT) AS y
        |      FROM s GROUP BY flag, l_orderkey)
        |SELECT flag,
        |  CAST(sum(nl) AS BIGINT) AS n_sample_rows,
        |  count(*) AS n_sample_orders,
        |  CAST(sum(nl) * ${100 / graft.ops.StatsOps.AqpRatePct} AS BIGINT)
        |    AS est_rows,
        |  CAST(sum(y) * ${100 / graft.ops.StatsOps.AqpRatePct}
        |    AS BIGINT) AS est_revenue_cents,
        |  CAST(sum(CAST(CAST(y AS HUGEINT) * y AS DECIMAL(28,0))) AS BIGINT)
        |    AS y2_sum_cents2,
        |  CAST(${(100L - graft.ops.StatsOps.AqpRatePct) * 100L /
             (graft.ops.StatsOps.AqpRatePct.toLong * graft.ops.StatsOps.AqpRatePct)}
        |    AS BIGINT) AS ht_var_factor
        |FROM o GROUP BY flag""".stripMargin,
    // Mann–Whitney: everything to the z boundary is exact integers —
    // 2x-scaled tie-averaged group ranks (2·cum + t + 1), HUGEINT
    // rank-sum/tie-cube totals mirroring Spark's DECIMAL(38,0); the z and
    // rank-biserial IEEE steps are written symbol-for-symbol identically
    "mannwhitney_u" ->
      """WITH e AS (SELECT CAST(value AS DECIMAL(18,2)) AS v, user_id % 2 AS arm
        |           FROM events WHERE event_type = 'purchase'),
        |g AS (SELECT v,
        |        sum(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS ca,
        |        sum(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS cb
        |      FROM e GROUP BY v),
        |c AS (SELECT ca, cb, ca + cb AS t,
        |        coalesce(sum(ca + cb) OVER (ORDER BY v
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum
        |      FROM g),
        |s AS (SELECT
        |        CAST(sum(ca) AS BIGINT) AS n_a,
        |        CAST(sum(cb) AS BIGINT) AS n_b,
        |        sum(CAST(ca AS HUGEINT) * (2 * cum + t + 1)) AS r2a,
        |        sum(CAST(t AS HUGEINT) * t * t - t) AS ties
        |      FROM c)
        |SELECT n_a, n_b,
        |  CAST(r2a - CAST(n_a AS HUGEINT) * (n_a + 1) AS DOUBLE) / 2.0e0 AS u_a,
        |  CASE WHEN sqrt(CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE) / 12.0e0 *
        |         ((CAST(n_a AS DOUBLE) + CAST(n_b AS DOUBLE) + 1.0e0)
        |          - CAST(ties AS DOUBLE) /
        |            ((CAST(n_a AS DOUBLE) + CAST(n_b AS DOUBLE)) *
        |             (CAST(n_a AS DOUBLE) + CAST(n_b AS DOUBLE) - 1.0e0)))) > 0
        |    THEN (CAST(r2a - CAST(n_a AS HUGEINT) * (n_a + 1) AS DOUBLE) / 2.0e0
        |          - CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE) / 2.0e0)
        |      / sqrt(CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE) / 12.0e0 *
        |         ((CAST(n_a AS DOUBLE) + CAST(n_b AS DOUBLE) + 1.0e0)
        |          - CAST(ties AS DOUBLE) /
        |            ((CAST(n_a AS DOUBLE) + CAST(n_b AS DOUBLE)) *
        |             (CAST(n_a AS DOUBLE) + CAST(n_b AS DOUBLE) - 1.0e0))))
        |  END AS z,
        |  1.0e0 - 2.0e0 * (CAST(r2a - CAST(n_a AS HUGEINT) * (n_a + 1) AS DOUBLE)
        |    / 2.0e0) / (CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE)) AS rank_biserial
        |FROM s""".stripMargin,
    // KS: D's numerator is an exact HUGEINT max over the value-group ECDF
    // cross-products (mirroring Spark's DECIMAL(38,0)); the only IEEE
    // steps are one division, one multiply and one sqrt — all correctly
    // rounded, so no transcendental enters the compare surface
    "ks_test" ->
      """WITH e AS (SELECT CAST(value AS DECIMAL(18,2)) AS v, user_id % 2 AS arm
        |           FROM events WHERE event_type = 'purchase'),
        |g AS (SELECT v,
        |        sum(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS ca,
        |        sum(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS cb
        |      FROM e GROUP BY v),
        |c AS (SELECT
        |        sum(ca) OVER w AS cuma,
        |        sum(cb) OVER w AS cumb
        |      FROM g
        |      WINDOW w AS (ORDER BY v
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
        |t AS (SELECT CAST(sum(ca) AS BIGINT) AS n_a,
        |             CAST(sum(cb) AS BIGINT) AS n_b FROM g),
        |m AS (SELECT
        |        max(abs(CAST(cuma AS HUGEINT) * n_b
        |              - CAST(cumb AS HUGEINT) * n_a)) AS numer,
        |        max(n_a) AS n_a, max(n_b) AS n_b
        |      FROM c, t)
        |SELECT n_a, n_b,
        |  CAST(numer AS DOUBLE) / (CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE))
        |    AS d_stat,
        |  CAST(numer AS DOUBLE) / (CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE))
        |    * sqrt(CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE)
        |           / (CAST(n_a AS DOUBLE) + CAST(n_b AS DOUBLE))) AS z
        |FROM m""".stripMargin,
    // AUC via the tie-adjusted rank-sum identity — the mannwhitney
    // machinery re-read as P(s+ > s-) + P(s+ = s-)/2; exact integers to
    // the final two (correctly rounded) divisions
    // PR curve on roc_auc's value-group frame: suffix cumsums over the
    // descending score order, exact-integer tp/fp/fn, two IEEE divisions
    "pr_curve" ->
      """WITH g AS (
        |  SELECT CAST(value AS DECIMAL(18,2)) AS v,
        |    sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS cp,
        |    sum(CASE WHEN event_type = 'purchase' THEN 0 ELSE 1 END) AS cn
        |  FROM events WHERE value IS NOT NULL GROUP BY v),
        |c AS (SELECT v,
        |    CAST(sum(cp) OVER (ORDER BY v DESC
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS tp,
        |    CAST(sum(cn) OVER (ORDER BY v DESC
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS fp,
        |    CAST(sum(cp) OVER () AS BIGINT) AS n_pos
        |  FROM g)
        |SELECT CAST(v AS DOUBLE) AS threshold, tp, fp, n_pos - tp AS fn,
        |  CAST(tp AS DOUBLE) / CAST(tp + fp AS DOUBLE) AS prec,
        |  CASE WHEN n_pos <> 0
        |    THEN CAST(tp AS DOUBLE) / CAST(n_pos AS DOUBLE) END AS recall
        |FROM c""".stripMargin,
    "roc_auc" ->
      """WITH g AS (
        |  SELECT CAST(value AS DECIMAL(18,2)) AS v,
        |    sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS cp,
        |    sum(CASE WHEN event_type = 'purchase' THEN 0 ELSE 1 END) AS cn
        |  FROM events WHERE value IS NOT NULL GROUP BY v),
        |c AS (SELECT cp, cn, cp + cn AS t,
        |        coalesce(sum(cp + cn) OVER (ORDER BY v
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum
        |      FROM g),
        |s AS (SELECT CAST(sum(cp) AS BIGINT) AS n_pos,
        |             CAST(sum(cn) AS BIGINT) AS n_neg,
        |             sum(CAST(cp AS HUGEINT) * (2 * cum + t + 1)) AS r2p
        |      FROM c)
        |SELECT n_pos, n_neg,
        |  CAST(r2p - CAST(n_pos AS HUGEINT) * (n_pos + 1) AS DOUBLE) / 2.0e0
        |    / (CAST(n_pos AS DOUBLE) * CAST(n_neg AS DOUBLE)) AS auc,
        |  2.0e0 * (CAST(r2p - CAST(n_pos AS HUGEINT) * (n_pos + 1) AS DOUBLE)
        |    / 2.0e0 / (CAST(n_pos AS DOUBLE) * CAST(n_neg AS DOUBLE)))
        |    - 1.0e0 AS gini
        |FROM s""".stripMargin,
    // calibration: cross-multiplied integer bin assignment (no float
    // cut), exact sums, two boundary divisions; ECE left to callers
    "calibration_bins" ->
      """WITH e AS (
        |  SELECT CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS vc,
        |    CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS pos
        |  FROM events WHERE value IS NOT NULL),
        |m AS (SELECT max(vc) AS mxc FROM e)
        |SELECT least(9, vc * 10 // mxc) AS bin,
        |  CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(pos) AS BIGINT) AS n_pos,
        |  CAST(sum(pos) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS event_rate,
        |  CAST(CAST(sum(vc) AS BIGINT) AS DOUBLE)
        |    / CAST(count(*) * 100 AS DOUBLE) AS mean_score
        |FROM e, m GROUP BY 1""".stripMargin,
    // ECE over the SAME bins as calibration_bins, but with cleared
    // denominators: ECE*N*mxc = sum over bins of |pos_b*mxc - sum_vc_b|,
    // exact integers until one boundary division
    "ece_eval" ->
      """WITH e AS (
        |  SELECT CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS vc,
        |    CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS pos
        |  FROM events WHERE value IS NOT NULL),
        |m AS (SELECT max(vc) AS mxc FROM e),
        |b AS (SELECT least(9, vc * 10 // mxc) AS bin,
        |        CAST(count(*) AS BIGINT) AS n_b,
        |        CAST(sum(pos) AS BIGINT) AS pos_b,
        |        CAST(sum(vc) AS BIGINT) AS sum_vc,
        |        min(mxc) AS mxc
        |      FROM e, m GROUP BY 1)
        |SELECT CAST(sum(n_b) AS BIGINT) AS n, min(mxc) AS mxc,
        |  CAST(count(*) AS BIGINT) AS n_bins,
        |  CAST(sum(abs(CAST(pos_b AS HUGEINT) * mxc - sum_vc)) AS BIGINT)
        |    AS ece_num,
        |  CAST(CAST(sum(abs(CAST(pos_b AS HUGEINT) * mxc - sum_vc))
        |    AS BIGINT) AS DOUBLE)
        |    / (CAST(sum(n_b) AS DOUBLE) * CAST(min(mxc) AS DOUBLE)) AS ece
        |FROM b""".stripMargin,
    // three deterministic rule raters in {0,1,2}; with 3 raters
    // sum_j n_ij^2 = 3 + 2*(agreeing pairs), and clearing denominators
    // gives kappa as one ratio of exact integers
    "fleiss_kappa" ->
      s"""WITH q AS (
        |  SELECT n_chars,
        |    CAST(len(string_split(trim(text), ' ')) AS BIGINT) AS nt,
        |    CAST(len(list_distinct(string_split(trim(text), ' '))) AS BIGINT)
        |      AS nd
        |  FROM documents),
        |r AS (SELECT
        |    CASE WHEN n_chars < ${QualityOps.FleissCharCuts._1} THEN 0
        |      WHEN n_chars < ${QualityOps.FleissCharCuts._2} THEN 1
        |      ELSE 2 END AS ra,
        |    CASE WHEN nt < ${QualityOps.FleissTokCuts._1} THEN 0
        |      WHEN nt < ${QualityOps.FleissTokCuts._2} THEN 1
        |      ELSE 2 END AS rb,
        |    CASE WHEN nd * 100 < nt * ${QualityOps.FleissRatioPctCuts._1}
        |      THEN 0
        |      WHEN nd * 100 < nt * ${QualityOps.FleissRatioPctCuts._2}
        |      THEN 1 ELSE 2 END AS rc
        |  FROM q),
        |a AS (SELECT CAST(count(*) AS BIGINT) AS n,
        |        CAST(sum(3 + 2 * (CAST(ra = rb AS INT) + CAST(ra = rc AS INT)
        |          + CAST(rb = rc AS INT))) AS BIGINT) AS s_sum,
        |        CAST(sum(CAST(ra = 0 AS INT) + CAST(rb = 0 AS INT)
        |          + CAST(rc = 0 AS INT)) AS BIGINT) AS t0,
        |        CAST(sum(CAST(ra = 1 AS INT) + CAST(rb = 1 AS INT)
        |          + CAST(rc = 1 AS INT)) AS BIGINT) AS t1,
        |        CAST(sum(CAST(ra = 2 AS INT) + CAST(rb = 2 AS INT)
        |          + CAST(rc = 2 AS INT)) AS BIGINT) AS t2
        |      FROM r)
        |SELECT n, s_sum, t0, t1, t2,
        |  CAST(3 * CAST(n AS HUGEINT) * (s_sum - 3 * n)
        |    - 2 * (CAST(t0 AS HUGEINT) * t0 + CAST(t1 AS HUGEINT) * t1
        |           + CAST(t2 AS HUGEINT) * t2) AS BIGINT) AS kappa_num,
        |  CAST(18 * CAST(n AS HUGEINT) * n
        |    - 2 * (CAST(t0 AS HUGEINT) * t0 + CAST(t1 AS HUGEINT) * t1
        |           + CAST(t2 AS HUGEINT) * t2) AS BIGINT) AS kappa_den,
        |  CASE WHEN 18 * CAST(n AS HUGEINT) * n
        |    - 2 * (CAST(t0 AS HUGEINT) * t0 + CAST(t1 AS HUGEINT) * t1
        |           + CAST(t2 AS HUGEINT) * t2) != 0 THEN
        |    CAST(CAST(3 * CAST(n AS HUGEINT) * (s_sum - 3 * n)
        |      - 2 * (CAST(t0 AS HUGEINT) * t0 + CAST(t1 AS HUGEINT) * t1
        |             + CAST(t2 AS HUGEINT) * t2) AS BIGINT) AS DOUBLE)
        |    / CAST(CAST(18 * CAST(n AS HUGEINT) * n
        |      - 2 * (CAST(t0 AS HUGEINT) * t0 + CAST(t1 AS HUGEINT) * t1
        |             + CAST(t2 AS HUGEINT) * t2) AS BIGINT) AS DOUBLE)
        |  END AS kappa
        |FROM a""".stripMargin,
    // the Codex pass@k estimator as falling factorials — five explicit
    // integer factors per side, one boundary division
    "pass_at_k" -> {
      // factor lists GENERATED from StatsOps.PassK so k lives in exactly
      // one place (the estJaccard-drift lesson applied preemptively)
      val k = StatsOps.PassK
      val num = (0 until k).map {
        case 0 => "CAST(n - c AS HUGEINT)"
        case i => s"(n - c - $i)"
      }.mkString(" * ")
      val den = (0 until k).map {
        case 0 => "CAST(n AS HUGEINT)"
        case i => s"(n - $i)"
      }.mkString(" * ")
      s"""WITH t AS (
        |  SELECT user_id, CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
        |      AS BIGINT) AS c
        |  FROM events GROUP BY 1 HAVING count(*) >= $k)
        |SELECT user_id, n AS n_attempts, c AS n_success,
        |  CAST($k AS INTEGER) AS k,
        |  CAST(CASE WHEN n - c < $k THEN 0 ELSE $num END AS BIGINT)
        |    AS fail_num,
        |  CAST($den AS BIGINT) AS fail_den,
        |  1.0 - CAST(CAST(CASE WHEN n - c < $k THEN 0 ELSE $num END
        |      AS BIGINT) AS DOUBLE)
        |    / CAST(CAST($den AS BIGINT) AS DOUBLE) AS pass_at_k
        |FROM t""".stripMargin
    },
    // dyadic half-life: keep_pct = 100 // 2^(age div 7) is exact per
    // bucket; the per-record gate is the shared multiplicative hash
    "recency_mix" ->
      s"""WITH h AS (SELECT max(ts) AS horizon FROM events),
        |e AS (SELECT event_type,
        |        least(date_diff('day', CAST(ts AS DATE),
        |          CAST(horizon AS DATE)) // ${PipelineOps.RecencyHalfLifeDays},
        |          ${PipelineOps.RecencyMaxBucket}) AS bucket,
        |        (event_id % 1000000007) * 2654435761 % 1000000007 % 100
        |          AS hb
        |      FROM events, h)
        |SELECT event_type, CAST(bucket AS BIGINT) AS bucket,
        |  CAST(count(*) AS BIGINT) AS n_events,
        |  CAST(100 // (1 << CAST(bucket AS INT)) AS BIGINT) AS keep_pct,
        |  CAST(sum(CASE WHEN hb < 100 // (1 << CAST(bucket AS INT))
        |    THEN 1 ELSE 0 END) AS BIGINT) AS n_kept
        |FROM e GROUP BY event_type, bucket""".stripMargin,
    // shard assignment by the shared multiplicative hash; the integrity
    // digest is md5 over doc ids in (perm_key, doc_id) order — DuckDB's
    // ordered string_agg equals Spark's sorted-array concat. S is DERIVED
    // from the corpus (ceil-div by the shared ShardTargetDocs val, pure
    // BIGINT on both sides) so per-shard lists stay target-bounded.
    // streaming first-fit bin pack per source partition: bin = floor of
    // the running-bytes-before over the shared byte target
    "compaction_plan" ->
      s"""WITH c AS (
         |  SELECT source, doc_id, n_chars AS b,
         |    COALESCE(sum(n_chars) OVER (PARTITION BY source ORDER BY doc_id
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cb
         |  FROM documents)
         |SELECT source,
         |  CAST(cb // ${StorageOps.CompactTargetBytes} AS BIGINT) AS bin_id,
         |  CAST(count(*) AS BIGINT) AS n_files,
         |  CAST(sum(b) AS BIGINT) AS bytes,
         |  min(doc_id) AS min_doc_id, max(doc_id) AS max_doc_id
         |FROM c GROUP BY 1, 2""".stripMargin,
    // per-source equal-population length bands by exact integer rank
    "curriculum_plan" ->
      s"""WITH t AS (
         |  SELECT source, doc_id,
         |    CAST(len(string_split(trim(text), ' ')) AS BIGINT) AS toks
         |  FROM documents WHERE text IS NOT NULL),
         |r AS (SELECT source, toks,
         |        row_number() OVER (PARTITION BY source
         |          ORDER BY toks, doc_id) AS rn,
         |        count(*) OVER (PARTITION BY source) AS n
         |      FROM t)
         |SELECT source,
         |  (rn - 1) * ${PipelineOps.CurriculumPhases} // n AS phase,
         |  CAST(count(*) AS BIGINT) AS n_docs,
         |  CAST(sum(toks) AS BIGINT) AS n_toks,
         |  min(toks) AS tok_min, max(toks) AS tok_max
         |FROM r GROUP BY 1, 2""".stripMargin,
    "shard_manifest" ->
      s"""WITH n AS (
        |  SELECT GREATEST((count(*) + ${PipelineOps.ShardTargetDocs - 1})
        |           // ${PipelineOps.ShardTargetDocs}, 1) AS s
        |  FROM documents),
        |d AS (
        |  SELECT doc_id, n_chars,
        |    CAST(len(string_split(trim(text), ' ')) AS BIGINT) AS n_toks,
        |    (doc_id % 1000000007) * 2654435761 % 1000000007 AS pk
        |  FROM documents)
        |SELECT CAST(pk % s AS BIGINT) AS shard_id,
        |  CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(n_toks) AS BIGINT) AS n_tokens,
        |  CAST(sum(n_chars) AS BIGINT) AS n_chars,
        |  min(doc_id) AS min_doc_id, max(doc_id) AS max_doc_id,
        |  md5(string_agg(CAST(doc_id AS VARCHAR), ','
        |    ORDER BY pk, doc_id)) AS ids_md5
        |FROM d, n GROUP BY 1""".stripMargin,
    // the sketches run in their EXACT regime at fixture scale (31 distinct
    // terms vs an 8192-slot Misra-Gries map that never purges; 1.5k
    // distinct users vs Theta's k=4096 exact mode), so the oracle is the
    // exact count the sketch provably equals — graduated from rows-only
    // in r15 (the bpe_merges precedent). A corpus past the exact regime
    // would move these back to spec-bounded rows-only checks.
    "freq_topk_sketch" ->
      """WITH t AS (SELECT unnest(string_split(trim(text), ' ')) AS term
        |           FROM documents WHERE text IS NOT NULL),
        |c AS (SELECT term, CAST(count(*) AS BIGINT) AS est FROM t
        |      WHERE term <> '' GROUP BY 1)
        |SELECT term, est, est AS lb, est AS ub FROM c
        |ORDER BY est DESC, term LIMIT 20""".stripMargin,
    "theta_overlap" ->
      """WITH s AS (SELECT count(DISTINCT user_id) AS c FROM events
        |           WHERE event_type = 'signup'),
        |p AS (SELECT count(DISTINCT user_id) AS c FROM events
        |      WHERE event_type = 'purchase'),
        |o AS (SELECT count(*) AS c FROM (
        |        SELECT user_id FROM events WHERE event_type = 'signup'
        |        INTERSECT
        |        SELECT user_id FROM events WHERE event_type = 'purchase'))
        |SELECT CAST(s.c AS DOUBLE) AS est_signup,
        |  CAST(p.c AS DOUBLE) AS est_purchase,
        |  CAST(o.c AS DOUBLE) AS est_overlap
        |FROM s, p, o""".stripMargin,
    // KM life table over order fulfillment: whole-day ship lead times,
    // administrative censoring at the order-date horizon, suffix-sum
    // at-risk counts over the duration summary; hazard is the single
    // division — S(t)'s float product is left to callers by design
    "survival_curve" ->
      """WITH h AS (SELECT max(o_orderdate) AS mx FROM orders),
        |l AS (SELECT
        |        CAST(CASE WHEN l_shipdate <= mx
        |          THEN date_diff('day', CAST(o_orderdate AS DATE),
        |                         CAST(l_shipdate AS DATE))
        |          ELSE date_diff('day', CAST(o_orderdate AS DATE),
        |                         CAST(mx AS DATE)) END AS BIGINT) AS d,
        |        (l_shipdate <= mx) AS event
        |      FROM lineitem JOIN orders ON l_orderkey = o_orderkey, h
        |      WHERE l_shipdate >= o_orderdate),
        |g AS (SELECT d,
        |        CAST(sum(CASE WHEN event THEN 1 ELSE 0 END) AS BIGINT)
        |          AS n_events,
        |        CAST(sum(CASE WHEN event THEN 0 ELSE 1 END) AS BIGINT)
        |          AS n_censored
        |      FROM l GROUP BY 1)
        |SELECT d,
        |  CAST(sum(n_events + n_censored) OVER (ORDER BY d DESC
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
        |    AS n_at_risk,
        |  n_events, n_censored,
        |  CAST(n_events AS DOUBLE)
        |    / CAST(sum(n_events + n_censored) OVER (ORDER BY d DESC
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
        |    AS hazard
        |FROM g""".stripMargin,
    // PMI per category cell: counts exact both sides; ln() is the one
    // library-rounded step and the 1e-9 floor quantization absorbs any
    // last-ulp disagreement (the unigram lane's logp_q6 discipline)
    "mutual_info" ->
      """WITH joint AS (
        |  SELECT l_returnflag AS flag, l_linestatus AS status,
        |         count(*) AS n_xy
        |  FROM lineitem GROUP BY 1, 2),
        |mx AS (SELECT flag, CAST(sum(n_xy) AS BIGINT) AS n_x
        |       FROM joint GROUP BY 1),
        |my AS (SELECT status, CAST(sum(n_xy) AS BIGINT) AS n_y
        |       FROM joint GROUP BY 1),
        |t AS (SELECT CAST(sum(n_xy) AS BIGINT) AS n FROM joint)
        |SELECT j.flag, j.status, j.n_xy, mx.n_x, my.n_y,
        |  CAST(floor(ln(CAST(j.n_xy AS DOUBLE) * CAST(t.n AS DOUBLE)
        |      / (CAST(mx.n_x AS DOUBLE) * CAST(my.n_y AS DOUBLE))) * 1.0e9)
        |    AS BIGINT) AS pmi_q9
        |FROM joint j, mx, my, t
        |WHERE j.flag = mx.flag AND j.status = my.status""".stripMargin,
    // χ² on the same cell frame: dev = O·n − n_x·n_y exact BIGINT; the
    // per-cell contribution is a fixed parenthesized IEEE ·,/ chain over
    // exact-integer doubles (bit-identical both engines) floor-quantized
    // to 1e-6 BEFORE the sum, so the statistic is pure BIGINT; critical
    // values interpolated from the literal StatsOps.ChiSqCrit05Q6 table
    "chi_square" -> {
      val crit = graft.ops.StatsOps.ChiSqCrit05Q6.mkString(", ")
      s"""WITH joint AS (
        |  SELECT l_returnflag AS flag, l_linestatus AS status,
        |         count(*) AS n_xy
        |  FROM lineitem GROUP BY 1, 2),
        |mx AS (SELECT flag, CAST(sum(n_xy) AS BIGINT) AS n_x
        |       FROM joint GROUP BY 1),
        |my AS (SELECT status, CAST(sum(n_xy) AS BIGINT) AS n_y
        |       FROM joint GROUP BY 1),
        |t AS (SELECT CAST(sum(n_xy) AS BIGINT) AS n,
        |        count(DISTINCT flag) AS nr,
        |        count(DISTINCT status) AS nc FROM joint),
        |c AS (SELECT CAST(j.n_xy AS BIGINT) * t.n - mx.n_x * my.n_y AS dev,
        |        t.n, t.nr, t.nc, mx.n_x, my.n_y
        |      FROM joint j, mx, my, t
        |      WHERE j.flag = mx.flag AND j.status = my.status),
        |s AS (SELECT CAST(min(n) AS BIGINT) AS n,
        |        CAST(min((nr - 1) * (nc - 1)) AS INTEGER) AS df,
        |        CAST(sum(CAST(floor(
        |          ((CAST(dev AS DOUBLE) * CAST(dev AS DOUBLE))
        |           / ((CAST(n AS DOUBLE) * CAST(n_x AS DOUBLE))
        |              * CAST(n_y AS DOUBLE))) * 1e6) AS BIGINT)) AS BIGINT)
        |          AS chi2_q6
        |      FROM c)
        |SELECT df, n, chi2_q6,
        |  CAST(chi2_q6 AS DOUBLE) / 1e6 AS chi2,
        |  CAST(([$crit])[df] AS BIGINT) AS crit_q6,
        |  chi2_q6 > CAST(([$crit])[df] AS BIGINT) AS reject
        |FROM s""".stripMargin
    },
    // link prediction: wedge self-join on the shared (center, brand) —
    // brand equality blocks the candidate set the way the engine does;
    // existing edges removed via NOT EXISTS; all integer until the single
    // Jaccard division; (cn DESC, a, b) is a total order so LIMIT is
    // deterministic
    "link_prediction" ->
      """WITH items AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
        |e AS (SELECT DISTINCT x.l_partkey AS a, y.l_partkey AS b
        |      FROM items x JOIN items y
        |        ON x.l_orderkey = y.l_orderkey AND x.l_partkey < y.l_partkey),
        |adj AS (SELECT a AS src, b AS dst FROM e
        |        UNION ALL SELECT b AS src, a AS dst FROM e),
        |deg AS (SELECT src, CAST(count(*) AS BIGINT) AS deg
        |        FROM adj GROUP BY 1),
        |adjb AS (SELECT adj.src, adj.dst, p.p_brand AS brand,
        |                1000000000000 // d.deg AS ra_w
        |         FROM adj JOIN part p ON adj.dst = p.p_partkey
        |                  JOIN deg d ON adj.src = d.src),
        |cand AS (
        |  SELECT x.dst AS a, y.dst AS b, x.brand AS brand, count(*) AS cn,
        |         CAST(sum(x.ra_w) AS BIGINT) AS ra_q12
        |  FROM adjb x JOIN adjb y
        |    ON x.src = y.src AND x.brand = y.brand AND x.dst < y.dst
        |  GROUP BY 1, 2, 3),
        |nc AS (SELECT c.a, c.b, c.brand, c.cn, c.ra_q12 FROM cand c
        |       WHERE NOT EXISTS
        |         (SELECT 1 FROM e WHERE e.a = c.a AND e.b = c.b))
        |SELECT nc.a, nc.b, nc.brand, nc.cn, da.deg AS deg_a, db.deg AS deg_b,
        |  CAST(nc.cn AS DOUBLE)
        |    / CAST(da.deg + db.deg - nc.cn AS DOUBLE) AS jaccard,
        |  nc.ra_q12
        |FROM nc
        |JOIN deg da ON da.src = nc.a
        |JOIN deg db ON db.src = nc.b
        |ORDER BY nc.cn DESC, nc.a, nc.b LIMIT 100""".stripMargin,
    // k-anonymity ladder: pure integer group censuses at three
    // generalization levels; threshold interpolated from the engine
    // constant (the MaxBucket discipline)
    "k_anonymity" ->
      s"""WITH base AS (
        |  SELECT c.c_custkey, c.c_nationkey, c.c_mktsegment, n.n_regionkey
        |  FROM customer c JOIN nation n ON c.c_nationkey = n.n_nationkey),
        |l1 AS (SELECT count(*) AS grp FROM base
        |       GROUP BY c_nationkey, c_mktsegment),
        |l2 AS (SELECT count(*) AS grp FROM base
        |       GROUP BY n_regionkey, c_mktsegment),
        |l3 AS (SELECT count(*) AS grp FROM base GROUP BY c_mktsegment)
        |SELECT 'nation_segment' AS level, count(*) AS n_groups,
        |  min(grp) AS min_k,
        |  CAST(sum(CASE WHEN grp < ${graft.ops.QualityOps.KAnonThreshold}
        |    THEN grp ELSE 0 END) AS BIGINT) AS rows_at_risk,
        |  CAST(sum(CASE WHEN grp < ${graft.ops.QualityOps.KAnonThreshold}
        |    THEN 1 ELSE 0 END) AS BIGINT) AS groups_at_risk
        |FROM l1
        |UNION ALL
        |SELECT 'region_segment', count(*), min(grp),
        |  CAST(sum(CASE WHEN grp < ${graft.ops.QualityOps.KAnonThreshold}
        |    THEN grp ELSE 0 END) AS BIGINT),
        |  CAST(sum(CASE WHEN grp < ${graft.ops.QualityOps.KAnonThreshold}
        |    THEN 1 ELSE 0 END) AS BIGINT)
        |FROM l2
        |UNION ALL
        |SELECT 'segment', count(*), min(grp),
        |  CAST(sum(CASE WHEN grp < ${graft.ops.QualityOps.KAnonThreshold}
        |    THEN grp ELSE 0 END) AS BIGINT),
        |  CAST(sum(CASE WHEN grp < ${graft.ops.QualityOps.KAnonThreshold}
        |    THEN 1 ELSE 0 END) AS BIGINT)
        |FROM l3""".stripMargin,
    // lexicon gate: whole-token matching over the shared whitespace
    // tokenization; terms interpolated from the engine constant.
    // Spark's array_intersect dedups; DuckDB's list_intersect needs an
    // explicit list_distinct
    "content_filter" -> {
      val terms = graft.ops.QualityOps.BlockedTerms
        .map(graft.ops.QualityOps.sqlLit).mkString(", ")
      s"""SELECT doc_id, source,
        |  CAST(len(list_filter(string_split(trim(text), ' '),
        |    x -> list_contains([$terms], x))) AS INTEGER) AS n_hits,
        |  CAST(len(list_distinct(list_intersect(string_split(trim(text), ' '),
        |    [$terms]))) AS INTEGER) AS n_terms_hit,
        |  len(list_filter(string_split(trim(text), ' '),
        |    x -> list_contains([$terms], x))) = 0 AS keep
        |FROM documents""".stripMargin
    },
    // l-diversity ladder: same integer census shape with the sensitive
    // attribute = floor(acctbal/1000) band — floor of one IEEE division
    // is exact both engines; threshold interpolated from the constant
    "l_diversity" ->
      s"""WITH base AS (
        |  SELECT c.c_custkey, c.c_nationkey, c.c_mktsegment, n.n_regionkey,
        |    floor(c.c_acctbal / 1000e0) AS band
        |  FROM customer c JOIN nation n ON c.c_nationkey = n.n_nationkey),
        |l1 AS (SELECT count(DISTINCT band) AS l, count(*) AS grp FROM base
        |       GROUP BY c_nationkey, c_mktsegment),
        |l2 AS (SELECT count(DISTINCT band) AS l, count(*) AS grp FROM base
        |       GROUP BY n_regionkey, c_mktsegment),
        |l3 AS (SELECT count(DISTINCT band) AS l, count(*) AS grp FROM base
        |       GROUP BY c_mktsegment)
        |SELECT 'nation_segment' AS level, count(*) AS n_groups,
        |  min(l) AS min_l,
        |  CAST(sum(CASE WHEN l < ${graft.ops.QualityOps.LDivThreshold}
        |    THEN 1 ELSE 0 END) AS BIGINT) AS groups_below,
        |  CAST(sum(CASE WHEN l < ${graft.ops.QualityOps.LDivThreshold}
        |    THEN grp ELSE 0 END) AS BIGINT) AS rows_at_risk
        |FROM l1
        |UNION ALL
        |SELECT 'region_segment', count(*), min(l),
        |  CAST(sum(CASE WHEN l < ${graft.ops.QualityOps.LDivThreshold}
        |    THEN 1 ELSE 0 END) AS BIGINT),
        |  CAST(sum(CASE WHEN l < ${graft.ops.QualityOps.LDivThreshold}
        |    THEN grp ELSE 0 END) AS BIGINT)
        |FROM l2
        |UNION ALL
        |SELECT 'segment', count(*), min(l),
        |  CAST(sum(CASE WHEN l < ${graft.ops.QualityOps.LDivThreshold}
        |    THEN 1 ELSE 0 END) AS BIGINT),
        |  CAST(sum(CASE WHEN l < ${graft.ops.QualityOps.LDivThreshold}
        |    THEN grp ELSE 0 END) AS BIGINT)
        |FROM l3""".stripMargin,
    // t-closeness: ordered-distribution EMD as the prefix-sum identity
    // with cleared denominators — emd_num = Σ_j |P_j·n_t − Q_j·n_c| is
    // exact BIGINT; the violation test cross-multiplies the literal
    // TCloseNum/TCloseDen rational; max_t is max over per-group doubles
    // from ONE identical division (order-independent)
    "t_closeness" -> {
      val tn = graft.ops.QualityOps.TCloseNum
      val td = graft.ops.QualityOps.TCloseDen
      def lvl(name: String, keys: Seq[String]): String = {
        val ks = keys.mkString(", ")
        val gk = keys.map(k => s"g.$k").mkString(", ")
        val on = keys.map(k => s"c.$k = g.$k").mkString(" AND ")
        s"""SELECT '$name' AS level,
           |  CAST(count(*) AS BIGINT) AS n_groups,
           |  max(CASE WHEN den <> 0
           |      THEN CAST(emd_num AS DOUBLE) / CAST(den AS DOUBLE) END) AS max_t,
           |  CAST(sum(CASE WHEN emd_num * $td > den * $tn THEN 1 ELSE 0 END)
           |    AS BIGINT) AS groups_violating,
           |  CAST(sum(CASE WHEN emd_num * $td > den * $tn THEN n_c ELSE 0 END)
           |    AS BIGINT) AS rows_at_risk
           |FROM (
           |  SELECT $ks, min(n_c) AS n_c,
           |    CAST(sum(abs(p_cum * n_t - g_cum * n_c)) AS BIGINT) AS emd_num,
           |    min((n_bands - 1) * n_c * n_t) AS den
           |  FROM (
           |    SELECT $gk, g.n_c, l.g_cum, t.n_t, t.n_bands, l.band,
           |      CAST(sum(coalesce(c.cnt, 0)) OVER (PARTITION BY $gk
           |        ORDER BY l.band
           |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           |        AS BIGINT) AS p_cum
           |    FROM (SELECT $ks, CAST(sum(cnt) AS BIGINT) AS n_c
           |          FROM cells GROUP BY $ks) g
           |    CROSS JOIN ladder l CROSS JOIN tot t
           |    LEFT JOIN (SELECT $ks, band, CAST(sum(cnt) AS BIGINT) AS cnt
           |               FROM cells GROUP BY $ks, band) c
           |      ON c.band = l.band AND $on
           |  ) grid
           |  GROUP BY $ks
           |) per_class""".stripMargin
      }
      s"""WITH cells AS (
        |  SELECT c.c_nationkey, n.n_regionkey, c.c_mktsegment,
        |    floor(c.c_acctbal / 1000e0) AS band, count(*) AS cnt
        |  FROM customer c JOIN nation n ON c.c_nationkey = n.n_nationkey
        |  GROUP BY 1, 2, 3, 4),
        |ladder AS (
        |  SELECT band,
        |    CAST(sum(g) OVER (ORDER BY band
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
        |      AS g_cum
        |  FROM (SELECT band, sum(cnt) AS g FROM cells GROUP BY 1) b),
        |tot AS (SELECT CAST(sum(cnt) AS BIGINT) AS n_t,
        |          CAST(count(DISTINCT band) AS BIGINT) AS n_bands FROM cells)
        |${lvl("nation_segment", Seq("c_nationkey", "c_mktsegment"))}
        |UNION ALL
        |${lvl("region_segment", Seq("n_regionkey", "c_mktsegment"))}
        |UNION ALL
        |${lvl("segment", Seq("c_mktsegment"))}""".stripMargin
    },
    // greenlist test: md5 is byte-identical cross-engine and the first
    // hex digit <= '7' is an exact gamma=1/2 partition; z = (2G-T)/sqrt(T)
    // is one division over an IEEE-exact sqrt; threshold interpolated
    "watermark_detect" ->
      s"""WITH d AS (SELECT doc_id, string_split(trim(text), ' ') AS w
        |           FROM documents),
        |b AS (SELECT doc_id,
        |        CASE WHEN len(w) >= 2
        |             THEN list_transform(range(1, len(w)),
        |                    i -> concat(w[i], ' ', w[i+1]))
        |             ELSE [] END AS g2
        |      FROM d),
        |s AS (SELECT doc_id,
        |        CAST(len(g2) AS BIGINT) AS t_scored,
        |        CAST(coalesce(list_sum(list_transform(g2,
        |          g -> CASE WHEN substring(md5(g), 1, 1) <= '7'
        |               THEN 1 ELSE 0 END)), 0) AS BIGINT) AS g_hits
        |      FROM b)
        |SELECT doc_id, t_scored, g_hits,
        |  CASE WHEN t_scored <> 0 THEN
        |    CAST(g_hits AS DOUBLE) / CAST(t_scored AS DOUBLE) END AS green_frac,
        |  CASE WHEN t_scored <> 0 THEN
        |    CAST(2 * g_hits - t_scored AS DOUBLE)
        |      / sqrt(CAST(t_scored AS DOUBLE)) END AS z,
        |  coalesce(CASE WHEN t_scored <> 0 THEN
        |    CAST(2 * g_hits - t_scored AS DOUBLE)
        |      / sqrt(CAST(t_scored AS DOUBLE)) END
        |    > ${graft.ops.QualityOps.WatermarkZ}, false) AS flagged
        |FROM s""".stripMargin,
    // DP count release: the two-sided geometric (discrete Laplace)
    // mechanism at ε=ln2 with the exact-rational inverse CDF cleared to
    // the integer DpThresholds ladder; the deterministic test-mode u =
    // permKey/P makes the release oracle-replayable (see QualityOps)
    "dp_count" -> {
      val thr = graft.ops.QualityOps.DpThresholds.mkString(", ")
      val b = graft.ops.QualityOps.DpNoiseBound
      val scale = 3L * (1L << graft.ops.QualityOps.DpNoiseBound)
      s"""WITH c AS (SELECT c_nationkey, CAST(count(*) AS BIGINT) AS true_n
        |           FROM customer GROUP BY 1),
        |n AS (SELECT c_nationkey, true_n,
        |        (c_nationkey % 1000000007) * 2654435761 % 1000000007 AS h
        |      FROM c)
        |SELECT c_nationkey,
        |  CAST(true_n + list_sum(list_transform([$thr],
        |    s -> CASE WHEN h * $scale >= s THEN 1 ELSE 0 END)) - $b
        |    AS BIGINT) AS noisy_count,
        |  CAST(${graft.ops.QualityOps.DpEpsilonQ6} AS BIGINT) AS epsilon_q6,
        |  CAST($b AS INTEGER) AS noise_bound
        |FROM n""".stripMargin
    },
    // dp_sum/dp_avg replay the whole mechanism — per-record clamp to
    // exact cents, the same integer threshold ladder scaled by the clamp
    // (sum) or raw (count leg), distinct permKey offsets per release —
    // as pure BIGINT arithmetic; noisy_avg is one division of exact ints
    "dp_sum" -> {
      val thr = graft.ops.QualityOps.DpThresholds.mkString(", ")
      val b = graft.ops.QualityOps.DpNoiseBound
      val scale = 3L * (1L << graft.ops.QualityOps.DpNoiseBound)
      val clamp = graft.ops.QualityOps.DpClampCents
      val off = graft.ops.QualityOps.DpSumKeyOff
      s"""WITH c AS (SELECT c_nationkey,
        |    CAST(sum(least(greatest(
        |      CAST(CAST(c_acctbal AS DECIMAL(18,2)) * 100 AS BIGINT),
        |      0), $clamp)) AS BIGINT) AS clamped_sum
        |  FROM customer GROUP BY 1),
        |n AS (SELECT c_nationkey, clamped_sum,
        |        ((c_nationkey + $off) % 1000000007) * 2654435761
        |          % 1000000007 AS h
        |      FROM c)
        |SELECT c_nationkey,
        |  CAST(clamped_sum + $clamp * (list_sum(list_transform([$thr],
        |    s -> CASE WHEN h * $scale >= s THEN 1 ELSE 0 END)) - $b)
        |    AS BIGINT) AS noisy_sum_cents,
        |  CAST($clamp AS BIGINT) AS clamp_cents,
        |  CAST(${graft.ops.QualityOps.DpEpsilonQ6} AS BIGINT) AS epsilon_q6,
        |  CAST($b AS INTEGER) AS noise_bound
        |FROM n""".stripMargin
    },
    // report-noisy-max: the winner's IDENTITY only, scores never surface;
    // lowest-key tiebreak makes the argmax engine-exact
    "dp_noisy_max" -> {
      val thr = graft.ops.QualityOps.DpThresholds.mkString(", ")
      val b = graft.ops.QualityOps.DpNoiseBound
      val scale = 3L * (1L << graft.ops.QualityOps.DpNoiseBound)
      val off = graft.ops.QualityOps.DpMaxKeyOff
      s"""WITH c AS (SELECT c_nationkey, CAST(count(*) AS BIGINT) AS true_n
        |           FROM customer GROUP BY 1),
        |n AS (SELECT c_nationkey,
        |        true_n + list_sum(list_transform([$thr],
        |          s -> CASE WHEN
        |            ((c_nationkey + $off) % 1000000007) * 2654435761
        |              % 1000000007 * $scale >= s THEN 1 ELSE 0 END)) - $b
        |          AS noisy
        |      FROM c)
        |SELECT c_nationkey AS winner_nationkey,
        |  (SELECT CAST(count(*) AS BIGINT) FROM c) AS n_candidates,
        |  CAST(${graft.ops.QualityOps.DpEpsilonQ6} AS BIGINT) AS epsilon_q6,
        |  CAST($b AS INTEGER) AS noise_bound
        |FROM n ORDER BY noisy DESC, c_nationkey LIMIT 1""".stripMargin
    },
    "dp_avg" -> {
      val thr = graft.ops.QualityOps.DpThresholds.mkString(", ")
      val b = graft.ops.QualityOps.DpNoiseBound
      val scale = 3L * (1L << graft.ops.QualityOps.DpNoiseBound)
      val clamp = graft.ops.QualityOps.DpClampCents
      val offS = graft.ops.QualityOps.DpSumKeyOff
      val offC = graft.ops.QualityOps.DpAvgCntKeyOff
      s"""WITH c AS (SELECT c_nationkey,
        |    CAST(sum(least(greatest(
        |      CAST(CAST(c_acctbal AS DECIMAL(18,2)) * 100 AS BIGINT),
        |      0), $clamp)) AS BIGINT) AS clamped_sum,
        |    CAST(count(*) AS BIGINT) AS true_n
        |  FROM customer GROUP BY 1),
        |n AS (SELECT c_nationkey,
        |        CAST(clamped_sum + $clamp * (list_sum(list_transform([$thr],
        |          s -> CASE WHEN
        |            ((c_nationkey + $offS) % 1000000007) * 2654435761
        |              % 1000000007 * $scale >= s THEN 1 ELSE 0 END)) - $b)
        |          AS BIGINT) AS noisy_sum_cents,
        |        CAST(true_n + list_sum(list_transform([$thr],
        |          s -> CASE WHEN
        |            ((c_nationkey + $offC) % 1000000007) * 2654435761
        |              % 1000000007 * $scale >= s THEN 1 ELSE 0 END)) - $b
        |          AS BIGINT) AS noisy_count
        |      FROM c)
        |SELECT c_nationkey, noisy_sum_cents, noisy_count,
        |  CASE WHEN noisy_count > 0 THEN
        |    CAST(noisy_sum_cents AS DOUBLE) / CAST(100 * noisy_count AS DOUBLE)
        |  END AS noisy_avg,
        |  CAST(${2L * graft.ops.QualityOps.DpEpsilonQ6} AS BIGINT)
        |    AS epsilon_q6,
        |  CAST($b AS INTEGER) AS noise_bound
        |FROM n""".stripMargin
    },
    // one-shot noisy top-k: identities + order only, scores never surface;
    // (noisy desc, key) rank replayed verbatim
    "dp_topk" -> {
      val thr = graft.ops.QualityOps.DpThresholds.mkString(", ")
      val b = graft.ops.QualityOps.DpNoiseBound
      val scale = 3L * (1L << graft.ops.QualityOps.DpNoiseBound)
      val off = graft.ops.QualityOps.DpTopkKeyOff
      val k = graft.ops.QualityOps.DpTopkK
      s"""WITH c AS (SELECT c_nationkey, CAST(count(*) AS BIGINT) AS true_n
        |           FROM customer GROUP BY 1),
        |n AS (SELECT c_nationkey,
        |        true_n + list_sum(list_transform([$thr],
        |          s -> CASE WHEN
        |            ((c_nationkey + $off) % 1000000007) * 2654435761
        |              % 1000000007 * $scale >= s THEN 1 ELSE 0 END)) - $b
        |          AS noisy
        |      FROM c),
        |r AS (SELECT c_nationkey,
        |        row_number() OVER (ORDER BY noisy DESC, c_nationkey)
        |          AS release_rank
        |      FROM n)
        |SELECT CAST(release_rank AS INTEGER) AS release_rank,
        |  c_nationkey AS winner_nationkey,
        |  (SELECT CAST(count(*) AS BIGINT) FROM c) AS n_candidates,
        |  CAST(${k.toLong * graft.ops.QualityOps.DpEpsilonQ6} AS BIGINT)
        |    AS epsilon_q6,
        |  CAST($b AS INTEGER) AS noise_bound
        |FROM r WHERE release_rank <= $k""".stripMargin
    },
    // exponential-mechanism median: clamp → band counts → boundary ranks →
    // rank utilities → dyadic weights 2^(u−umax) truncated at 2^(−B) →
    // inverse-CDF selection against the test-mode uniform — every step
    // exact integers, replayed here relationally (the Spark side folds the
    // same integers in-row over the band array)
    "dp_quantile" -> {
      val nB = graft.ops.QualityOps.DpQuantBands
      val w = graft.ops.QualityOps.DpQuantBandCents
      val b = graft.ops.QualityOps.DpNoiseBound
      val clamp = graft.ops.QualityOps.DpClampCents
      val off = graft.ops.QualityOps.DpQuantKeyOff
      s"""WITH c AS (SELECT c_nationkey,
        |    least(greatest(
        |      CAST(CAST(c_acctbal AS DECIMAL(18,2)) * 100 AS BIGINT),
        |      0), $clamp) AS v
        |  FROM customer),
        |bc AS (SELECT c_nationkey, least(v // $w, ${nB - 1}) AS band,
        |         CAST(count(*) AS BIGINT) AS cnt
        |       FROM c GROUP BY 1, 2),
        |n AS (SELECT c_nationkey, CAST(count(*) AS BIGINT) AS nn
        |      FROM c GROUP BY 1),
        |j AS (SELECT c_nationkey, nn, unnest(range(0, ${nB + 1})) AS j
        |      FROM n),
        |r AS (SELECT j.c_nationkey, j.j,
        |        -abs(COALESCE((SELECT sum(cnt) FROM bc
        |                       WHERE bc.c_nationkey = j.c_nationkey
        |                         AND bc.band < j.j), 0)
        |             - ((j.nn + 1) // 2)) AS u
        |      FROM j),
        |wts AS (SELECT c_nationkey, j,
        |          (CAST(1 AS BIGINT) << CAST(greatest(
        |            u - max(u) OVER (PARTITION BY c_nationkey) + $b, 0)
        |            AS INTEGER)) AS w
        |        FROM r),
        |cw AS (SELECT c_nationkey, j, w,
        |         sum(w) OVER (PARTITION BY c_nationkey ORDER BY j
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
        |         sum(w) OVER (PARTITION BY c_nationkey) AS wtot
        |       FROM wts)
        |SELECT c_nationkey,
        |  CAST(sum(CASE WHEN
        |      ((c_nationkey + $off) % 1000000007) * 2654435761
        |        % 1000000007 * wtot >= cum * 1000000007
        |      THEN 1 ELSE 0 END) * $w AS BIGINT) AS noisy_median_cents,
        |  CAST(${nB + 1} AS INTEGER) AS n_candidates,
        |  CAST($clamp AS BIGINT) AS clamp_cents,
        |  CAST(${graft.ops.QualityOps.DpQuantEpsilonQ6} AS BIGINT)
        |    AS epsilon_q6
        |FROM cw GROUP BY 1""".stripMargin
    },
    "ab_ttest" ->
      """WITH a AS (
        |  SELECT
        |    CAST(count(CASE WHEN user_id % 2 = 0 THEN 1 END) AS DOUBLE) AS na,
        |    CAST(sum(CASE WHEN user_id % 2 = 0
        |                  THEN CAST(value AS DECIMAL(18,2)) END) AS DOUBLE) AS sa,
        |    CAST(sum(CASE WHEN user_id % 2 = 0
        |                  THEN CAST(value AS DECIMAL(18,2))
        |                       * CAST(value AS DECIMAL(18,2)) END) AS DOUBLE) AS ssa,
        |    CAST(count(CASE WHEN user_id % 2 = 1 THEN 1 END) AS DOUBLE) AS nb,
        |    CAST(sum(CASE WHEN user_id % 2 = 1
        |                  THEN CAST(value AS DECIMAL(18,2)) END) AS DOUBLE) AS sb,
        |    CAST(sum(CASE WHEN user_id % 2 = 1
        |                  THEN CAST(value AS DECIMAL(18,2))
        |                       * CAST(value AS DECIMAL(18,2)) END) AS DOUBLE) AS ssb
        |  FROM events WHERE event_type = 'purchase'),
        |m AS (
        |  SELECT CAST(na AS BIGINT) AS n_a, CAST(nb AS BIGINT) AS n_b,
        |    sa / na AS mean_a, sb / nb AS mean_b,
        |    (ssa - sa * sa / na) / (na - 1) AS var_a,
        |    (ssb - sb * sb / nb) / (nb - 1) AS var_b
        |  FROM a)
        |SELECT n_a, n_b, mean_a, mean_b,
        |  (mean_a - mean_b) / sqrt(var_a / n_a + var_b / n_b) AS t_stat,
        |  ((var_a / n_a + var_b / n_b) * (var_a / n_a + var_b / n_b)) /
        |  ((var_a / n_a) * (var_a / n_a) / (n_a - 1) +
        |   (var_b / n_b) * (var_b / n_b) / (n_b - 1)) AS df
        |FROM m""".stripMargin,
    // pagerank replays the engine's 5 FIXED-POINT power iterations as 5
    // chained CTEs: ranks are BIGINTs in 1e-17 units, contributions are
    // integer divisions r // outdeg, damping 0.85 = (17·csum) // 20 — all
    // integer sums, so the result is summation-order independent and
    // hash-exact across engines (see StatsOps.pagerank)
    "pagerank" ->
      """WITH e0 AS (SELECT DISTINCT 'p' || l_partkey AS src,
        |                            's' || l_suppkey AS dst FROM lineitem),
        |e AS (SELECT src, dst FROM e0
        |      UNION ALL SELECT dst AS src, src AS dst FROM e0),
        |deg AS (SELECT src, CAST(count(*) AS BIGINT) AS outdeg
        |        FROM e GROUP BY src),
        |c0 AS (SELECT CAST(count(*) AS BIGINT) AS n FROM deg),
        |tele AS (SELECT ((3 * 100000000000000000) // 20) // n AS t FROM c0),
        |r0 AS (SELECT src AS node, 100000000000000000 // n AS r FROM deg, c0),
        |r1 AS (SELECT e.dst AS node, CAST((SELECT t FROM tele)
        |         + (17 * sum(p.r // d.outdeg)) // 20 AS BIGINT) AS r
        |       FROM e JOIN deg d ON e.src = d.src JOIN r0 p ON p.node = e.src
        |       GROUP BY e.dst),
        |r2 AS (SELECT e.dst AS node, CAST((SELECT t FROM tele)
        |         + (17 * sum(p.r // d.outdeg)) // 20 AS BIGINT) AS r
        |       FROM e JOIN deg d ON e.src = d.src JOIN r1 p ON p.node = e.src
        |       GROUP BY e.dst),
        |r3 AS (SELECT e.dst AS node, CAST((SELECT t FROM tele)
        |         + (17 * sum(p.r // d.outdeg)) // 20 AS BIGINT) AS r
        |       FROM e JOIN deg d ON e.src = d.src JOIN r2 p ON p.node = e.src
        |       GROUP BY e.dst),
        |r4 AS (SELECT e.dst AS node, CAST((SELECT t FROM tele)
        |         + (17 * sum(p.r // d.outdeg)) // 20 AS BIGINT) AS r
        |       FROM e JOIN deg d ON e.src = d.src JOIN r3 p ON p.node = e.src
        |       GROUP BY e.dst),
        |r5 AS (SELECT e.dst AS node, CAST((SELECT t FROM tele)
        |         + (17 * sum(p.r // d.outdeg)) // 20 AS BIGINT) AS r
        |       FROM e JOIN deg d ON e.src = d.src JOIN r4 p ON p.node = e.src
        |       GROUP BY e.dst)
        |SELECT node, r AS rank_fp, CAST(r AS DOUBLE) / 1e17 AS rank
        |FROM r5 ORDER BY r DESC, node LIMIT 30""".stripMargin,
    // kcore oracle mirrors the engine's peeling loop as a recursive CTE:
    // each iteration re-derives the induced-degree live set from the
    // previous one and stops (emits nothing) on the first round whose
    // cardinality is unchanged; the epilogue recomputes induced degrees
    // over the converged set — exactly the engine's returned frame (the
    // last EMITTED round's degrees still count just-peeled neighbors).
    "kcore_nodes" ->
      """WITH RECURSIVE
        |e AS (
        |  SELECT x.pk AS a, y.pk AS b FROM
        |    (SELECT DISTINCT l_orderkey ok, l_partkey pk FROM lineitem) x
        |    JOIN (SELECT DISTINCT l_orderkey ok, l_partkey pk FROM lineitem) y
        |    ON x.ok = y.ok AND x.pk < y.pk
        |  GROUP BY 1, 2),
        |live(rnd, v, d) AS (
        |  SELECT 0, v, d FROM (
        |    SELECT v, count(*) AS d FROM
        |      (SELECT a AS v FROM e UNION ALL SELECT b FROM e) GROUP BY 1)
        |  WHERE d >= 65
        |  UNION ALL
        |  (WITH prev AS (SELECT * FROM live),
        |   se AS (SELECT a, b FROM e
        |          JOIN (SELECT v FROM prev) pa ON e.a = pa.v
        |          JOIN (SELECT v FROM prev) pb ON e.b = pb.v),
        |   nxt AS (
        |     SELECT v, count(*) AS d FROM
        |       (SELECT a AS v FROM se UNION ALL SELECT b FROM se) GROUP BY 1
        |     HAVING count(*) >= 65)
        |   SELECT p.rnd + 1, nxt.v, nxt.d
        |   FROM nxt CROSS JOIN (SELECT max(rnd) AS rnd FROM prev) p
        |   WHERE (SELECT count(*) FROM nxt) <> (SELECT count(*) FROM prev))
        |),
        |last AS (SELECT v FROM live WHERE rnd = (SELECT max(rnd) FROM live)),
        |se2 AS (SELECT a, b FROM e
        |        JOIN last la ON e.a = la.v JOIN last lb ON e.b = lb.v)
        |SELECT v AS node, CAST(count(*) AS BIGINT) AS core_deg
        |FROM (SELECT a AS v FROM se2 UNION ALL SELECT b FROM se2)
        |GROUP BY 1""".stripMargin,
    "triangle_count" ->
      """WITH pairs AS (
        |  SELECT DISTINCT x.l_partkey AS a, y.l_partkey AS b
        |  FROM lineitem x JOIN lineitem y
        |    ON x.l_orderkey = y.l_orderkey AND x.l_partkey < y.l_partkey)
        |SELECT CAST(count(*) AS BIGINT) AS n_triangles
        |FROM pairs e1
        |JOIN pairs e2 ON e2.a = e1.b
        |JOIN pairs e3 ON e3.a = e1.a AND e3.b = e2.b""".stripMargin,
    // the broadcast-free SMJ mode must produce the identical count —
    // same oracle as triangle_count
    "triangle_count_copart" ->
      """WITH pairs AS (
        |  SELECT DISTINCT x.l_partkey AS a, y.l_partkey AS b
        |  FROM lineitem x JOIN lineitem y
        |    ON x.l_orderkey = y.l_orderkey AND x.l_partkey < y.l_partkey)
        |SELECT CAST(count(*) AS BIGINT) AS n_triangles
        |FROM pairs e1
        |JOIN pairs e2 ON e2.a = e1.b
        |JOIN pairs e3 ON e3.a = e1.a AND e3.b = e2.b""".stripMargin,
    // three SYNCHRONOUS label-propagation rounds replayed as chained
    // CTEs, each with the identical (count desc, label) row_number
    // argmax the engine's window applies — fixed round count is what
    // makes iterative LPA SQL-replayable at all
    "community_labels" ->
      """WITH pairs AS (
        |  SELECT DISTINCT x.l_partkey AS a, y.l_partkey AS b
        |  FROM lineitem x JOIN lineitem y
        |    ON x.l_orderkey = y.l_orderkey AND x.l_partkey < y.l_partkey),
        |bd AS (SELECT a AS u, b AS v FROM pairs UNION ALL SELECT b, a FROM pairs),
        |l0 AS (SELECT DISTINCT u, u AS lab FROM bd),
        |l1 AS (SELECT u, nl AS lab FROM (
        |  SELECT bd.u, p.lab AS nl, count(*) AS cnt,
        |    row_number() OVER (PARTITION BY bd.u
        |                       ORDER BY count(*) DESC, p.lab) AS rn
        |  FROM bd JOIN l0 p ON p.u = bd.v GROUP BY bd.u, p.lab) t WHERE rn = 1),
        |l2 AS (SELECT u, nl AS lab FROM (
        |  SELECT bd.u, p.lab AS nl, count(*) AS cnt,
        |    row_number() OVER (PARTITION BY bd.u
        |                       ORDER BY count(*) DESC, p.lab) AS rn
        |  FROM bd JOIN l1 p ON p.u = bd.v GROUP BY bd.u, p.lab) t WHERE rn = 1),
        |l3 AS (SELECT u, nl AS lab FROM (
        |  SELECT bd.u, p.lab AS nl, count(*) AS cnt,
        |    row_number() OVER (PARTITION BY bd.u
        |                       ORDER BY count(*) DESC, p.lab) AS rn
        |  FROM bd JOIN l2 p ON p.u = bd.v GROUP BY bd.u, p.lab) t WHERE rn = 1)
        |SELECT u AS node, lab AS community,
        |  CAST(count(*) OVER (PARTITION BY lab) AS BIGINT) AS community_size
        |FROM l3""".stripMargin,
    // four synchronous BFS relaxation rounds as chained CTEs; ties at
    // equal distance resolve via the identical (d, seed) ordering; seed
    // modulus interpolated from the engine constant
    "shortest_paths" -> {
      val rounds = (1 to graft.ops.StatsOps.BfsMaxHops).map { i =>
        s"""d$i AS (SELECT u, d, seed FROM (
           |  SELECT u, d, seed,
           |    row_number() OVER (PARTITION BY u ORDER BY d, seed) AS rn
           |  FROM (SELECT bd.u, p.d + 1 AS d, p.seed
           |        FROM bd JOIN d${i - 1} p ON p.u = bd.v
           |        UNION ALL SELECT u, d, seed FROM d${i - 1}) c$i) t$i
           |WHERE rn = 1)""".stripMargin
      }.mkString(",\n")
      s"""WITH pairs AS (
        |  SELECT DISTINCT x.l_partkey AS a, y.l_partkey AS b
        |  FROM lineitem x JOIN lineitem y
        |    ON x.l_orderkey = y.l_orderkey AND x.l_partkey < y.l_partkey),
        |bd AS (SELECT a AS u, b AS v FROM pairs UNION ALL SELECT b, a FROM pairs),
        |d0 AS (SELECT DISTINCT u, 0 AS d, u AS seed FROM bd
        |       WHERE u % ${graft.ops.StatsOps.BfsSeedMod} = 0),
        |$rounds
        |SELECT u AS node, CAST(d AS INTEGER) AS dist, seed AS nearest_seed
        |FROM d${graft.ops.StatsOps.BfsMaxHops}""".stripMargin
    },
    // salting plan: pure BIGINT ceil-divisions from the shared target val
    "salt_plan" ->
      s"""WITH k AS (SELECT event_type, CAST(count(*) AS BIGINT) AS cnt
         |           FROM events GROUP BY 1),
         |s AS (SELECT event_type, cnt,
         |        (cnt + ${QualityOps.SaltTargetRows - 1})
         |          // ${QualityOps.SaltTargetRows} AS n_salts
         |      FROM k)
         |SELECT event_type, cnt, n_salts,
         |  (cnt + n_salts - 1) // n_salts AS post_rows_max
         |FROM s""".stripMargin,
    "skew_report" ->
      """WITH k AS (SELECT user_id, count(*) AS cnt
        |           FROM events GROUP BY user_id)
        |SELECT CAST(sum(cnt) AS BIGINT) AS n_rows,
        |  CAST(count(*) AS BIGINT) AS n_keys,
        |  CAST(max(cnt) AS BIGINT) AS max_cnt,
        |  quantile_cont(cnt, 0.5) AS p50_cnt,
        |  quantile_cont(cnt, 0.99) AS p99_cnt,
        |  CAST(max(cnt) AS DOUBLE) / CAST(sum(cnt) AS DOUBLE) AS top_share
        |FROM k""".stripMargin,
    "decile_drift" ->
      """WITH ev AS (SELECT value,
        |              ts < TIMESTAMP '2024-01-16 00:00:00' AS is_ref
        |            FROM events),
        |rc AS (SELECT value, count(*) AS c
        |       FROM ev WHERE is_ref GROUP BY value),
        |cc AS (SELECT value,
        |         sum(c) OVER (ORDER BY value
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
        |         sum(c) OVER () AS n
        |       FROM rc),
        |c AS (SELECT [
        |        min(CASE WHEN cum*10 >= 1*n THEN value END),
        |        min(CASE WHEN cum*10 >= 2*n THEN value END),
        |        min(CASE WHEN cum*10 >= 3*n THEN value END),
        |        min(CASE WHEN cum*10 >= 4*n THEN value END),
        |        min(CASE WHEN cum*10 >= 5*n THEN value END),
        |        min(CASE WHEN cum*10 >= 6*n THEN value END),
        |        min(CASE WHEN cum*10 >= 7*n THEN value END),
        |        min(CASE WHEN cum*10 >= 8*n THEN value END),
        |        min(CASE WHEN cum*10 >= 9*n THEN value END)] AS cuts
        |      FROM cc),
        |b AS (SELECT is_ref,
        |        1 + len(list_filter(cuts, x -> value > x)) AS bin
        |      FROM ev, c),
        |g AS (SELECT bin,
        |        count(CASE WHEN is_ref THEN 1 END) AS ref_cnt,
        |        count(CASE WHEN NOT is_ref THEN 1 END) AS cur_cnt
        |      FROM b GROUP BY bin)
        |SELECT CAST(bin AS INTEGER) AS bin,
        |  CAST(ref_cnt AS BIGINT) AS ref_cnt,
        |  CAST(cur_cnt AS BIGINT) AS cur_cnt,
        |  CAST(ref_cnt AS DOUBLE) / CAST(sum(ref_cnt) OVER () AS DOUBLE)
        |    AS ref_share,
        |  CAST(cur_cnt AS DOUBLE) / CAST(sum(cur_cnt) OVER () AS DOUBLE)
        |    AS cur_share,
        |  CAST(cur_cnt AS DOUBLE) / CAST(sum(cur_cnt) OVER () AS DOUBLE)
        |  - CAST(ref_cnt AS DOUBLE) / CAST(sum(ref_cnt) OVER () AS DOUBLE)
        |    AS share_gap
        |FROM g""".stripMargin,
    "fuzzy_join" ->
      """WITH n AS (SELECT DISTINCT p_name,
        |                  split_part(p_name, ' ', 2) AS block FROM part)
        |SELECT a.p_name AS name_a, b.p_name AS name_b,
        |  CAST(levenshtein(a.p_name, b.p_name) AS INTEGER) AS dist
        |FROM n a JOIN n b ON a.block = b.block AND a.p_name < b.p_name
        |WHERE levenshtein(a.p_name, b.p_name) <= 3""".stripMargin,
    "mad_outliers" ->
      """WITH med AS (SELECT event_type, quantile_cont(value, 0.5) AS med
        |             FROM events GROUP BY 1),
        |d AS (SELECT e.event_type, e.value, med.med,
        |             abs(e.value - med.med) AS ad
        |      FROM events e JOIN med USING (event_type)),
        |mad AS (SELECT event_type, quantile_cont(ad, 0.5) AS mad
        |        FROM d GROUP BY 1)
        |SELECT d.event_type, CAST(count(*) AS BIGINT) AS n,
        |  min(d.med) AS med, min(mad.mad) AS mad,
        |  CAST(count(CASE WHEN d.ad > 3 * 1.4826 * mad.mad THEN 1 END)
        |       AS BIGINT) AS n_outliers
        |FROM d JOIN mad USING (event_type)
        |GROUP BY d.event_type""".stripMargin,
    // additive decomposition in exact rationals: det_num = 7·v − tn and
    // s_num = Σ det_num are exact BIGINTs, every float column is ONE
    // division of exact integers; weekday = epoch-day mod 7 (Spark and
    // DuckDB dayofweek origins disagree); full 7-day windows only
    "seasonal_decompose" ->
      """WITH daily AS (SELECT CAST(ts AS DATE) AS day,
        |                 CAST(count(*) AS BIGINT) AS v
        |               FROM events GROUP BY 1),
        |trend AS (SELECT day2 AS day, CAST(sum(v) AS BIGINT) AS tn_all,
        |            count(*) AS nw
        |          FROM (SELECT day + CAST(unnest(range(-3, 4)) AS INTEGER)
        |                  AS day2, v
        |                FROM daily) x
        |          GROUP BY 1),
        |t AS (SELECT daily.day, v,
        |        CASE WHEN nw = 7 THEN tn_all END AS tn
        |      FROM daily JOIN trend USING (day)),
        |t2 AS (SELECT day, v, tn, 7 * v - tn AS det_num,
        |         CAST(((day - DATE '1970-01-01') % 7 + 7) % 7 AS INTEGER)
        |           AS wd
        |       FROM t),
        |seas AS (SELECT wd, CAST(sum(det_num) AS BIGINT) AS s_num,
        |           CAST(count(*) AS BIGINT) AS n_w
        |         FROM t2 WHERE tn IS NOT NULL GROUP BY 1)
        |SELECT strftime(t2.day, '%Y-%m-%d') AS day, wd, v AS volume,
        |  CAST(tn AS DOUBLE) / 7e0 AS trend,
        |  CAST(s_num AS DOUBLE) / CAST(7 * n_w AS DOUBLE) AS seasonal,
        |  CASE WHEN tn IS NOT NULL THEN
        |    CAST(det_num * n_w - s_num AS DOUBLE) / CAST(7 * n_w AS DOUBLE)
        |  END AS residual
        |FROM t2 LEFT JOIN seas USING (wd)""".stripMargin,
    "seasonal_backtest" ->
      """WITH daily AS (SELECT event_type, CAST(ts AS DATE) AS d,
        |                      count(*) AS cnt
        |               FROM events GROUP BY 1, 2)
        |SELECT a.event_type, CAST(count(*) AS BIGINT) AS n_days,
        |  CAST(sum(abs(a.cnt - b.cnt)) AS DOUBLE) / count(*) AS mae
        |FROM daily a JOIN daily b
        |  ON a.event_type = b.event_type AND a.d = b.d + 7
        |GROUP BY a.event_type""".stripMargin,
    "grouping_sets" ->
      """SELECT l_returnflag, l_linestatus,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price,
        |  count(*) AS n_items
        |FROM lineitem
        |GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())""".stripMargin,
    "pivot_sales" ->
      """SELECT l_returnflag,
        |  CAST(sum(CASE WHEN l_linestatus = 'F'
        |                THEN CAST(l_quantity AS DECIMAL(18,2)) END) AS DOUBLE) AS qty_f,
        |  CAST(sum(CASE WHEN l_linestatus = 'O'
        |                THEN CAST(l_quantity AS DECIMAL(18,2)) END) AS DOUBLE) AS qty_o
        |FROM lineitem GROUP BY 1""".stripMargin,
    "udf_score" ->
      """SELECT doc_id,
        |  CAST(len(string_split(trim(text), ' ')) AS INTEGER) AS n_tokens,
        |  CAST(len(string_split(trim(text), ' ')) AS INTEGER)
        |    / (CAST(len(string_split(trim(text), ' ')) AS INTEGER) + 50.0) AS score
        |FROM documents""".stripMargin,
    "agg_custom_vwap" ->
      """WITH t AS (
        |  SELECT event_type AS symbol,
        |         CAST(value AS DECIMAL(18,2)) AS price,
        |         CAST(json_extract_string(props, '$.k') AS DECIMAL(18,0)) AS quantity
        |  FROM events
        |  WHERE value IS NOT NULL
        |    AND json_extract_string(props, '$.k') IS NOT NULL)
        |SELECT symbol,
        |  CASE WHEN sum(quantity) <> 0
        |       THEN CAST(sum(price * quantity) AS DOUBLE) / CAST(sum(quantity) AS DOUBLE)
        |  END AS vwap
        |FROM t GROUP BY 1""".stripMargin,
    "explode_tokens" ->
      """SELECT doc_id, CAST(pos AS INTEGER) AS pos, w[pos + 1] AS token FROM (
        |  SELECT doc_id, unnest(range(len(w))) AS pos, w
        |  FROM (SELECT doc_id, string_split(trim(text), ' ') AS w FROM documents))
        |WHERE length(w[pos + 1]) >= 6""".stripMargin,
    "json_map_keys" ->
      """SELECT event_id,
        |  array_to_string(list_sort(json_keys(props)), ',') AS keys,
        |  json_extract_string(props, '$.k') AS k_value
        |FROM events""".stripMargin,
    // the engine ENCODES a real PPM/BMP/PNG per document (dims bucket off
    // the text byte length, format rotates on nb % 4) and DECODES it back;
    // the oracle re-derives the encoded byte count from the three formats'
    // exact layouts: PPM = 'P6\n' w ' ' h '\n255\n' + 3wh; BMP = 54-byte
    // headers + height x 4-byte-padded BGR rows; PNG = sig + IHDR + one
    // IDAT of STORED-deflate zlib + IEND = 63 + 5*ceil(raw/65535) + raw
    // with raw = h*(1+3w) (ImageCodec.encodePng writes stored blocks
    // precisely so this count is analytic)
    "multimodal_meta" ->
      """WITH m AS (SELECT doc_id, CAST(octet_length(encode(text)) AS BIGINT) AS nb
        |           FROM documents),
        |x AS (SELECT doc_id, nb,
        |        16 + (nb // 16) % 128 AS w, 16 + (nb // 32) % 128 AS h,
        |        CASE WHEN nb % 4 = 0 THEN 'bmp'
        |             WHEN nb % 4 = 1 THEN 'png' ELSE 'ppm' END AS fmt
        |      FROM m),
        |y AS (SELECT doc_id, fmt, CAST(w AS INTEGER) AS width,
        |        CAST(h AS INTEGER) AS height,
        |        CASE WHEN fmt = 'ppm'
        |             THEN 9 + len(CAST(w AS VARCHAR)) + len(CAST(h AS VARCHAR))
        |                  + 3 * w * h
        |             WHEN fmt = 'png'
        |             THEN 63 + 5 * ((h * (1 + 3 * w) + 65534) // 65535)
        |                  + h * (1 + 3 * w)
        |             ELSE 54 + h * ((3 * w + 3) // 4 * 4) END AS nbytes
        |      FROM x)
        |SELECT fmt AS format, count(*) AS n_media,
        |  CAST(sum(nbytes) AS BIGINT) AS sum_bytes,
        |  CAST(sum(CAST(width AS BIGINT) * height) AS BIGINT) AS sum_pixels,
        |  CAST(sum(nbytes) AS DOUBLE) / count(*) AS avg_bytes
        |FROM y GROUP BY 1""".stripMargin,
    "media_resize" ->
      """WITH m AS (SELECT doc_id, CAST(octet_length(encode(text)) AS BIGINT) AS nb
        |           FROM documents),
        |x AS (SELECT doc_id,
        |        CAST(16 + (nb // 16) % 128 AS INTEGER) AS width,
        |        CAST(16 + (nb // 32) % 128 AS INTEGER) AS height FROM m)
        |SELECT doc_id, width, height,
        |  CASE WHEN greatest(width, height) <= 64 THEN width
        |       ELSE CAST(floor(width * 64.0 / greatest(width, height)) AS INTEGER)
        |  END AS out_width,
        |  CASE WHEN greatest(width, height) <= 64 THEN height
        |       ELSE CAST(floor(height * 64.0 / greatest(width, height)) AS INTEGER)
        |  END AS out_height
        |FROM x""".stripMargin,
    "feature_extract" ->
      """WITH m AS (SELECT doc_id, CAST(octet_length(encode(text)) AS INTEGER) AS nb
        |           FROM documents),
        |f AS (SELECT doc_id,
        |        list_transform(range(8),
        |          i -> CAST((nb * 31 + i * 7) % 1000 AS DOUBLE) / 1000.0) AS features
        |      FROM m)
        |SELECT doc_id,
        |  sqrt(list_sum(list_transform(features, x -> x * x))) AS feat_norm,
        |  features[1] AS feat0
        |FROM f""".stripMargin,
    // the engine ENCODES a real MJPEG-in-AVI per document (1..7 baseline
    // JPEG frames in a real RIFF form) and PARSES the container headers
    // back; the oracle re-derives codec/dims/fps/frame-count analytically
    // from the fixture rules (constants interpolated from MultimodalOps)
    "video_meta" -> {
      val mf = graft.ops.MultimodalOps.VideoMaxFrames
      val fb = graft.ops.MultimodalOps.VideoFpsBase
      val fs = graft.ops.MultimodalOps.VideoFpsSpan
      s"""WITH m AS (SELECT doc_id,
        |             CAST(octet_length(encode(text)) AS BIGINT) AS nb
        |           FROM documents)
        |SELECT doc_id, 'mjpeg' AS codec,
        |  CAST(8 * (2 + (nb // 16) % 16) AS INTEGER) AS width,
        |  CAST(8 * (2 + (nb // 32) % 16) AS INTEGER) AS height,
        |  CAST($fb + nb % $fs AS INTEGER) AS fps,
        |  CAST(1 + nb % $mf AS BIGINT) AS n_frames
        |FROM m""".stripMargin
    },
    // the A/V mux lane: every field is a pure function of nb through the
    // fixture rules (video geometry/fps as video_meta; the audio leg's
    // rate ladder, channel bucket, and duration-targeting sample-frame
    // count with its deterministic drift jitter), so a hash match proves
    // encode -> two-stream mux -> demux -> per-stream headers end to end;
    // `synced` is exact integer cross-multiplication on both sides
    "av_sync_check" -> {
      val mf = graft.ops.MultimodalOps.VideoMaxFrames
      val fb = graft.ops.MultimodalOps.VideoFpsBase
      val fs = graft.ops.MultimodalOps.VideoFpsSpan
      val tenths = graft.ops.MultimodalOps.AvSyncTenthsPerSec
      s"""WITH m AS (SELECT doc_id,
        |             CAST(octet_length(encode(text)) AS BIGINT) AS nb
        |           FROM documents),
        |x AS (SELECT doc_id, nb,
        |        1 + nb % $mf AS nf,
        |        $fb + nb % $fs AS fps,
        |        CASE (nb // 64) % 3 WHEN 0 THEN 8000 WHEN 1 THEN 16000
        |          ELSE 44100 END AS rate,
        |        CAST(1 + (nb // 32) % 2 AS INTEGER) AS channels
        |      FROM m),
        |y AS (SELECT doc_id, nf, fps, rate, channels,
        |        greatest((rate * nf) // fps
        |          + ((nb % 5) - 2) * (rate // 10), 1) AS af
        |      FROM x)
        |SELECT doc_id, 'mjpeg+pcm' AS codec,
        |  CAST(nf AS BIGINT) AS n_frames, CAST(fps AS INTEGER) AS fps,
        |  CAST(af AS BIGINT) AS audio_frames,
        |  CAST(rate AS INTEGER) AS sample_rate, channels,
        |  CAST(nf AS DOUBLE) / CAST(fps AS DOUBLE) AS video_dur,
        |  CAST(af AS DOUBLE) / CAST(rate AS DOUBLE) AS audio_dur,
        |  CAST(nf AS DOUBLE) / CAST(fps AS DOUBLE)
        |    - CAST(af AS DOUBLE) / CAST(rate AS DOUBLE) AS drift,
        |  $tenths * abs(nf * rate - af * fps) <= fps * rate AS synced
        |FROM y""".stripMargin
    },
    // every 2nd frame entropy-decoded through the full JPEG path; the
    // oracle replays the per-frame tile grid + the lossy DC quantization
    // chain analytically (jpeg_features discipline, frame index riding
    // the byte lookup) — a hash match proves container walk + per-frame
    // Huffman decode + IDCT. ASCII fixture assumption as in image_features
    "video_frame_sample" -> {
      val mf = graft.ops.MultimodalOps.VideoMaxFrames
      val qd = graft.ops.JpegCodec.QuantDc
      s"""WITH m AS (SELECT doc_id, text,
        |             CAST(octet_length(encode(text)) AS BIGINT) AS nb
        |           FROM documents),
        |x AS (SELECT doc_id, text, nb,
        |        2 + (nb // 16) % 16 AS tx, 2 + (nb // 32) % 16 AS ty,
        |        1 + nb % $mf AS nf,
        |        CASE WHEN nb = 0 THEN 1 ELSE least(nb, 128) END AS mm
        |      FROM m),
        |fr AS (SELECT doc_id, text, nb, tx, ty, nf, mm,
        |         CAST(unnest(range(0, nf, 2)) AS BIGINT) AS f
        |       FROM x),
        |t AS (SELECT doc_id, nf, f, tx, ty,
        |        CASE WHEN nb = 0 THEN 0
        |             ELSE ord(substr(text,
        |                    CAST((j * tx + i + f) % mm AS INTEGER) + 1, 1)) END AS v
        |      FROM fr
        |      CROSS JOIN (SELECT unnest(range(17)) AS j) t1
        |      CROSS JOIN (SELECT unnest(range(17)) AS i) t2
        |      WHERE i < tx AND j < ty),
        |p AS (SELECT doc_id, nf, f, tx, ty,
        |        least(255, greatest(0,
        |          CAST(floor(
        |            floor((v - 128e0) * 8e0 / ${qd}e0 + 0.5e0)
        |            * ${qd}e0 / 8e0 + 0.5e0) AS BIGINT)
        |          + 128)) AS pv
        |      FROM t)
        |SELECT doc_id,
        |  CAST(max(nf) AS BIGINT) AS n_frames,
        |  f AS frame_idx,
        |  CAST(max(tx) * 8 AS INTEGER) AS width,
        |  CAST(max(ty) * 8 AS INTEGER) AS height,
        |  CAST(64 * count(*) AS BIGINT) AS n_pixels,
        |  CAST(64 * sum(pv) AS BIGINT) AS sum_gray,
        |  CAST(CAST(64 * sum(pv) AS BIGINT) AS DOUBLE)
        |    / CAST(64 * count(*) AS BIGINT) AS mean_gray
        |FROM p GROUP BY doc_id, f""".stripMargin
    },
    // the oracle derives pixel statistics ANALYTICALLY from the 16x16
    // block structure (ceil-difference pixel counts per block x a text
    // byte value) — a hash match proves the engine's encode->decode->
    // pixel-walk path reproduces the content exactly.
    // ASCII FIXTURE ASSUMPTION: `ord(substr(text, i, 1))` below indexes
    // CHARACTERS and returns Unicode codepoints, while the engine's
    // buildImage indexes raw UTF-8 BYTES (mm is derived from octet_length
    // on both sides). The two agree iff the corpus is ASCII — true for
    // the synthesized documents fixture. If a future fixture ships
    // non-ASCII text and this query alone mismatches, the divergence is
    // HERE (oracle character-vs-byte indexing, and v > 255 breaking the
    // v // 64 bins), not in the engine.
    "image_features" ->
      """WITH m AS (SELECT doc_id, text,
        |             CAST(octet_length(encode(text)) AS BIGINT) AS nb
        |           FROM documents),
        |x AS (SELECT doc_id, text, nb,
        |        16 + (nb // 16) % 128 AS w, 16 + (nb // 32) % 128 AS h,
        |        CASE WHEN nb = 0 THEN 1
        |             ELSE least(nb, 128) END AS mm
        |      FROM m),
        |b AS (SELECT doc_id, w, h,
        |        ((yb + 1) * h + 15) // 16 - (yb * h + 15) // 16 AS cy,
        |        ((xb + 1) * w + 15) // 16 - (xb * w + 15) // 16 AS cx,
        |        CASE WHEN nb = 0 THEN 0
        |             ELSE ord(substr(text,
        |                    CAST((yb * 16 + xb) % mm AS INTEGER) + 1, 1)) END AS v
        |      FROM x
        |      CROSS JOIN (SELECT unnest(range(16)) AS yb) t1
        |      CROSS JOIN (SELECT unnest(range(16)) AS xb) t2)
        |SELECT doc_id,
        |  CAST(max(w) AS INTEGER) AS width,
        |  CAST(max(h) AS INTEGER) AS height,
        |  CAST(sum(cx * cy) AS BIGINT) AS n_pixels,
        |  CAST(sum(cx * cy * v) AS BIGINT) AS sum_gray,
        |  CAST(sum(CASE WHEN v // 64 = 0 THEN cx * cy ELSE 0 END) AS BIGINT) AS bin0,
        |  CAST(sum(CASE WHEN v // 64 = 1 THEN cx * cy ELSE 0 END) AS BIGINT) AS bin1,
        |  CAST(sum(CASE WHEN v // 64 = 2 THEN cx * cy ELSE 0 END) AS BIGINT) AS bin2,
        |  CAST(sum(CASE WHEN v // 64 = 3 THEN cx * cy ELSE 0 END) AS BIGINT) AS bin3,
        |  CAST(sum(cx * cy * v) AS DOUBLE) / sum(cx * cy) AS mean_gray
        |FROM b GROUP BY doc_id""".stripMargin,
    // the analytic oracle replays the 8-aligned tile grid AND the lossy
    // DC quantization chain: every tile is one constant JPEG block, so
    // decoded pixel = clamp(round(round(8(v-128)/qd)*qd/8)+128) with qd
    // interpolated from JpegCodec.QuantDc (the MaxBucket discipline).
    // Both rounds stay IEEE-exact because qd is a power of two; a hash
    // match therefore PROVES the full encode->Huffman->decode->IDCT
    // path. ASCII fixture assumption as in image_features (char-indexed
    // substr vs the engine's byte walk).
    "jpeg_features" ->
      s"""WITH m AS (SELECT doc_id, text,
        |             CAST(octet_length(encode(text)) AS BIGINT) AS nb
        |           FROM documents),
        |x AS (SELECT doc_id, text, nb,
        |        2 + (nb // 16) % 16 AS tx, 2 + (nb // 32) % 16 AS ty,
        |        CASE WHEN nb = 0 THEN 1
        |             ELSE least(nb, 128) END AS mm
        |      FROM m),
        |t AS (SELECT doc_id, tx, ty,
        |        CASE WHEN nb = 0 THEN 0
        |             ELSE ord(substr(text,
        |                    CAST((j * tx + i) % mm AS INTEGER) + 1, 1)) END AS v
        |      FROM x
        |      CROSS JOIN (SELECT unnest(range(17)) AS j) t1
        |      CROSS JOIN (SELECT unnest(range(17)) AS i) t2
        |      WHERE i < tx AND j < ty),
        |p AS (SELECT doc_id, tx, ty,
        |        least(255, greatest(0,
        |          CAST(floor(
        |            floor((v - 128e0) * 8e0 / ${graft.ops.JpegCodec.QuantDc}e0
        |                  + 0.5e0)
        |            * ${graft.ops.JpegCodec.QuantDc}e0 / 8e0 + 0.5e0) AS BIGINT)
        |          + 128)) AS pv
        |      FROM t)
        |SELECT doc_id,
        |  CAST(max(tx) * 8 AS INTEGER) AS width,
        |  CAST(max(ty) * 8 AS INTEGER) AS height,
        |  CAST(64 * count(*) AS BIGINT) AS n_pixels,
        |  CAST(64 * sum(pv) AS BIGINT) AS sum_gray,
        |  CAST(64 * sum(CASE WHEN pv // 64 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS bin0,
        |  CAST(64 * sum(CASE WHEN pv // 64 = 1 THEN 1 ELSE 0 END) AS BIGINT) AS bin1,
        |  CAST(64 * sum(CASE WHEN pv // 64 = 2 THEN 1 ELSE 0 END) AS BIGINT) AS bin2,
        |  CAST(64 * sum(CASE WHEN pv // 64 = 3 THEN 1 ELSE 0 END) AS BIGINT) AS bin3,
        |  CAST(CAST(64 * sum(pv) AS BIGINT) AS DOUBLE)
        |    / CAST(64 * count(*) AS BIGINT) AS mean_gray
        |FROM p GROUP BY doc_id""".stripMargin,
    // decode + box-downsample + re-encode all execute per row; the
    // oracle re-derives the re-encoded byte count from the two formats'
    // exact layouts at the DERIVED thumbnail dimensions
    "media_thumbnail" ->
      """WITH m AS (SELECT doc_id, CAST(octet_length(encode(text)) AS BIGINT) AS nb
        |           FROM documents),
        |x AS (SELECT doc_id,
        |        CAST(16 + (nb // 16) % 128 AS INTEGER) AS width,
        |        CAST(16 + (nb // 32) % 128 AS INTEGER) AS height,
        |        CASE WHEN nb % 4 = 0 THEN 'bmp'
        |             WHEN nb % 4 = 1 THEN 'png' ELSE 'ppm' END AS format
        |      FROM m),
        |y AS (SELECT doc_id, width, height, format,
        |        CASE WHEN greatest(width, height) <= 64 THEN width
        |             ELSE CAST(width * 64 // greatest(width, height) AS INTEGER)
        |        END AS out_width,
        |        CASE WHEN greatest(width, height) <= 64 THEN height
        |             ELSE CAST(height * 64 // greatest(width, height) AS INTEGER)
        |        END AS out_height
        |      FROM x)
        |SELECT doc_id, width, height, out_width, out_height,
        |  CAST(CASE WHEN format = 'ppm'
        |       THEN 9 + len(CAST(out_width AS VARCHAR))
        |            + len(CAST(out_height AS VARCHAR))
        |            + 3 * out_width * out_height
        |       WHEN format = 'png'
        |       THEN 63 + 5 * ((out_height * (1 + 3 * out_width) + 65534) // 65535)
        |            + out_height * (1 + 3 * out_width)
        |       ELSE 54 + out_height * ((3 * out_width + 3) // 4 * 4)
        |  END AS INTEGER) AS out_bytes,
        |  format
        |FROM y""".stripMargin,
    // the engine ENCODES a real RIFF/WAV clip per document (geometry
    // buckets off QUANTIZED byte length — /64, /32, /16 — so near-dup
    // texts share clip shape) and DECODES it back; the oracle re-derives
    // the exact byte layout: 44-byte header + 2 bytes x frames x
    // channels of PCM
    "audio_meta" ->
      """WITH a AS (
        |  SELECT CAST(CASE (strlen(text) // 64) % 3 WHEN 0 THEN 8000
        |              WHEN 1 THEN 16000 ELSE 44100 END AS INTEGER) AS sample_rate,
        |         CAST(1 + (strlen(text) // 32) % 2 AS INTEGER) AS channels,
        |         256 + ((strlen(text) // 16) * 31) % 2048 AS frames
        |  FROM documents)
        |SELECT sample_rate, channels,
        |  CAST(count(*) AS BIGINT) AS n_clips,
        |  CAST(sum(44 + 2 * frames * channels) AS BIGINT) AS sum_bytes,
        |  CAST(sum(frames) AS BIGINT) AS sum_frames,
        |  CAST(sum(frames) AS DOUBLE) * 1000 / sample_rate / count(*)
        |    AS avg_duration_ms
        |FROM a GROUP BY sample_rate, channels""".stripMargin,
    "audio_resample" ->
      """WITH a AS (
        |  SELECT doc_id,
        |    CAST(CASE (strlen(text) // 64) % 3 WHEN 0 THEN 8000
        |         WHEN 1 THEN 16000 ELSE 44100 END AS INTEGER) AS sample_rate,
        |    CAST(1 + (strlen(text) // 32) % 2 AS INTEGER) AS channels,
        |    256 + ((strlen(text) // 16) * 31) % 2048 AS frames
        |  FROM documents)
        |SELECT doc_id, sample_rate,
        |  CAST(sample_rate // 2 AS INTEGER) AS out_rate,
        |  CAST(frames AS INTEGER) AS in_frames,
        |  CAST((frames + 1) // 2 AS INTEGER) AS out_frames,
        |  CAST(44 + 2 * ((frames + 1) // 2) * channels AS INTEGER) AS out_bytes
        |FROM a""".stripMargin,
    // the Spark side walks REAL decoded PCM; the oracle replays the
    // identical window energies analytically from the fixture's
    // text-byte→sample law: a 256-sample window = 16 constant 16-sample
    // blocks, energy = 16·40000·Σ(byte−128)² — exact integers end to end.
    // nb = 0 mirrors buildClip's `if (nb == 0) 0` sample special case
    // (sibling guard: video_frame_sample/image_features); like those
    // oracles this assumes the fixture's ASCII text (strlen == bytes)
    "audio_vad" -> {
      val win = graft.ops.AudioOps.VadWindow
      val thr = graft.ops.AudioOps.VadThresholdEnergy
      s"""WITH a AS (
        |  SELECT doc_id, text, strlen(text) AS nb,
        |    CAST(CASE (strlen(text) // 64) % 3 WHEN 0 THEN 8000
        |         WHEN 1 THEN 16000 ELSE 44100 END AS INTEGER) AS sample_rate,
        |    (256 + ((strlen(text) // 16) * 31) % 2048)
        |      * (1 + (strlen(text) // 32) % 2) // $win AS n_windows,
        |    least(greatest(strlen(text), 1), 128) AS m
        |  FROM documents),
        |e AS (SELECT doc_id, sample_rate, n_windows,
        |        unnest(range(0, n_windows)) AS wi, text, nb, m
        |      FROM a),
        |en AS (SELECT doc_id, sample_rate, n_windows,
        |         16 * 40000 * list_sum(list_transform(
        |           list_transform(range(16 * wi, 16 * wi + 16),
        |             x -> CASE WHEN nb = 0 THEN 0
        |                  ELSE ascii(substr(text, CAST(x % m AS INTEGER) + 1, 1))
        |                       - 128 END),
        |           c -> CAST(c AS BIGINT) * c)) AS energy
        |       FROM e)
        |SELECT doc_id, sample_rate,
        |  CAST(n_windows AS INTEGER) AS n_windows,
        |  CAST(sum(CASE WHEN energy > $thr THEN 1 ELSE 0 END) AS INTEGER)
        |    AS n_active,
        |  CAST(sum(energy) AS BIGINT) AS sum_energy,
        |  CAST(sum(CASE WHEN energy > $thr THEN 1 ELSE 0 END) AS DOUBLE)
        |    / n_windows AS active_frac,
        |  'ok' AS status
        |FROM en GROUP BY doc_id, sample_rate, n_windows""".stripMargin
    },
  )
}
