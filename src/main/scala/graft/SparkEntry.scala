package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.ops.{Analytics, Audit, CorpusPrep, Events, Relational, Similarity, Sketches, Temporal, TextOps, TrainingData}

/** Driver contract — see /root/repo/SURVEY.md §2 (operator inventory)
  * and §7 (build plan). Each `queries` key is one declared operator;
  * `oracleSql` holds the equivalent DuckDB SQL the driver hash-compares
  * against at sf0.01.
  *
  * Determinism conventions shared by every query and its oracle
  * (SURVEY.md §2 rules):
  *  - total ORDER BY on a unique key, identical on both sides;
  *  - float aggregates via exact DECIMAL sums, rounded IN DECIMAL/
  *    INTEGER SPACE at 4 dp ([[graft.ops.Det.dsum4]]/[[graft.ops.Det.davg4]]);
  *    double-sourced values (ratios, cosines) rounded with the
  *    engine-agnostic floor formula ([[graft.ops.Det.roundD4]]) —
  *    round(double) ties break differently between Spark and DuckDB;
  *  - `events.ts` truncated ns→µs identically on both sides;
  *  - relative time anchored to max(ts), never now();
  *  - derived integer columns cast to BIGINT on both sides (DuckDB date
  *    parts/`sum(int)` default to BIGINT/HUGEINT).
  */
object SparkEntry {

  /** Flagship query (the reference's own flagship join, api.py:32-33) on
    * sf0.001; driver smoke-checks rows>0. Avoids the events table so it
    * runs on a vanilla session (events needs the nanos legacy conf).
    */
  def entry(spark: SparkSession): DataFrame =
    Relational.q02InnerJoin(spark, "/root/testdata/sf0.001")

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q01_scan_project_filter" -> (Relational.q01ScanProjectFilter _),
    "q02_inner_join" -> (Relational.q02InnerJoin _),
    "q02b_join_3way" -> (Relational.q02bJoin3Way _),
    "q03_join_filter" -> (Relational.q03JoinFilter _),
    "q04_groupby_agg" -> (Events.q04GroupbyAgg _),
    "q04b_multi_agg" -> (Relational.q04bMultiAgg _),
    "q04c_count_distinct" -> (Events.q04cCountDistinct _),
    "q05_dedup" -> (Events.q05Dedup _),
    "q06_regex_extract" -> (Events.q06RegexExtract _),
    "q07_json_parse" -> (Events.q07JsonParse _),
    "q08_date_parts" -> (Events.q08DateParts _),
    "q09_epoch_to_ts" -> (Events.q09EpochToTs _),
    "q10_string_clean" -> (TextOps.q10StringClean _),
    "q10b_part_split" -> (TextOps.q10bPartSplit _),
    "q11_range_filter" -> (Relational.q11RangeFilter _),
    "q12_point_lookup" -> (Relational.q12PointLookup _),
    "q13_sessionize" -> (Events.q13Sessionize _),
    "q14_forward_fill" -> (Events.q14ForwardFill _),
    "q15_trim_boundary" -> (Events.q15TrimBoundary _),
    "q16_delete_antijoin" -> (Relational.q16DeleteAntijoin _),
    "q17_last24h" -> (Events.q17Last24h _),
    "q18_topk" -> (Relational.q18TopK _),
    "q20_doc_dedup_exact" -> (TextOps.q20DocDedupExact _),
    "q21_jaccard_neardup" -> (Similarity.q21JaccardNeardup _),
    "q22_topk_cosine" -> (Similarity.q22TopkCosine _),
    "q23_text_stats" -> (TextOps.q23TextStats _),
    "q24_multimodal_cols" -> (Similarity.q24MultimodalCols _),
    "q25_minhash_neardup" -> (Sketches.q25MinhashNeardup _),
    "q26_simhash_neardup" -> (Sketches.q26SimhashNeardup _),
    "q27_lang_id" -> (TrainingData.q27LangId _),
    "q28_quality_score" -> (TrainingData.q28QualityScore _),
    "q29_token_count" -> (TrainingData.q29TokenCount _),
    "q30_fingerprint" -> (TrainingData.q30Fingerprint _),
    "q31_embed_neardup" -> (Similarity.q31EmbedNeardup _),
    "q32_ivf_ann" -> (Similarity.q32IvfAnn _),
    "q32b_ivf_trained" -> (Similarity.q32bIvfTrained _),
    "q32c_ivf_multiprobe" -> (Similarity.q32cIvfMultiprobe _),
    "q33_multimodal_stub" -> (TrainingData.q33MultimodalStub _),
    "q34_rollup" -> (Analytics.q34Rollup _),
    "q35_set_ops" -> (Analytics.q35SetOps _),
    "q36_window_funcs" -> (Analytics.q36WindowFuncs _),
    "q37_salted_agg" -> (Analytics.q37SaltedAgg _),
    "q38_percentiles" -> (Analytics.q38Percentiles _),
    "q38b_approx_percentiles" -> (Analytics.q38bApproxPercentiles _),
    "q39_semi_join" -> (Analytics.q39SemiJoin _),
    "q40_correlated_subquery" -> (Analytics.q40CorrelatedSubquery _),
    "q41_tumbling_window" -> (Events.q41TumblingWindow _),
    "q42_asof_join" -> (Temporal.q42AsofJoin _),
    "q43_range_join" -> (Temporal.q43RangeJoin _),
    "q44_full_outer_join" -> (Relational.q44FullOuterJoin _),
    "q45_cube" -> (Analytics.q45Cube _),
    "q46_sliding_frame" -> (Analytics.q46SlidingFrame _),
    "q47_approx_distinct" -> (Sketches.q47ApproxDistinct _),
    "q48_pivot" -> (Analytics.q48Pivot _),
    "q49_unpivot" -> (Analytics.q49Unpivot _),
    "q50_stratified_sample" -> (TrainingData.q50StratifiedSample _),
    "q51_bag_set_ops" -> (Analytics.q51BagSetOps _),
    "q52_grouping_sets" -> (Analytics.q52GroupingSets _),
    "q53_tfidf" -> (TextOps.q53Tfidf _),
    "q54_hash_sample" -> (TrainingData.q54HashSample _),
    "q55_shingle_neardup" -> (Similarity.q55ShingleNeardup _),
    "q56_neardup_survivors" -> (Similarity.q56NeardupSurvivors _),
    "q57_sketch_rollup" -> (Sketches.q57SketchRollup _),
    "q58_corpus_stats" -> (TrainingData.q58CorpusStats _),
    "q59_cross_source_overlap" -> (Similarity.q59CrossSourceOverlap _),
    "q60_topk_per_group" -> (Analytics.q60TopkPerGroup _),
    "q61_salted_join" -> (Analytics.q61SaltedJoin _),
    "q62_dedup_clusters" -> (Similarity.q62DedupClusters _),
    "q62b_dedup_clusters_star" -> (Similarity.q62bDedupClustersStar _),
    "q63_pii_scrub" -> (TextOps.q63PiiScrub _),
    "q64_chunk" -> (TrainingData.q64Chunk _),
    "q65_temperature_mix" -> (TrainingData.q65TemperatureMix _),
    "q66_length_quantile_filter" -> (TrainingData.q66LengthQuantileFilter _),
    "q67_corpus_prep" -> (CorpusPrep.q67CorpusPrep _),
    "q68_frame_sample" -> (TrainingData.q68FrameSample _),
    "q69_shipping_priority" -> (Relational.q69ShippingPriority _),
    "q70_local_supplier_volume" -> (Relational.q70LocalSupplierVolume _),
    "q71_unigram_surprisal" -> (TextOps.q71UnigramSurprisal _),
    "q72_dedup_report" -> (CorpusPrep.q72DedupReport _),
    "q73_returned_items" -> (Relational.q73ReturnedItems _),
    "q74_late_shipments" -> (Relational.q74LateShipments _),
    "q75_promo_revenue" -> (Relational.q75PromoRevenue _),
    "q76_disjunctive_predicates" -> (Relational.q76DisjunctivePredicates _),
    "q77_large_orders" -> (Relational.q77LargeOrders _),
    "q78_no_order_customers" -> (Relational.q78NoOrderCustomers _),
    "q79_repetition_stats" -> (TrainingData.q79RepetitionStats _),
    "q80_sequence_pack" -> (TrainingData.q80SequencePack _),
    "q81_incremental_dedup" -> (TrainingData.q81IncrementalDedup _),
    "q82_decontaminate" -> (TrainingData.q82Decontaminate _),
    "q83_order_priority_exists" -> (Relational.q83OrderPriorityExists _),
    "q84_order_count_distribution" -> (Relational.q84OrderCountDistribution _),
    "q85_small_quantity_revenue" -> (Relational.q85SmallQuantityRevenue _),
    "q86_sole_late_supplier" -> (Relational.q86SoleLateSupplier _),
    "q87_top_revenue_supplier" -> (Relational.q87TopRevenueSupplier _),
    "q88_cheapest_supplier_per_part" -> (Relational.q88CheapestSupplierPerPart _),
    "q89_funnel" -> (Events.q89Funnel _),
    "q90_retention_cohorts" -> (Events.q90RetentionCohorts _),
    "q91_histogram" -> (Analytics.q91Histogram _),
    "q92_corr_regression" -> (Analytics.q92CorrRegression _),
    "q93_block_dedup" -> (TextOps.q93BlockDedup _),
    "q94_semdedup" -> (Similarity.q94SemDedup _),
    "q95_bloom_semi_join" -> (Analytics.q95BloomSemiJoin _),
    "q96_filtered_global_agg" -> (Relational.q96FilteredGlobalAgg _),
    "q97_important_stock" -> (Relational.q97ImportantStock _),
    "q98_supplier_count_per_part" -> (Relational.q98SupplierCountPerPart _),
    "q99_volume_suppliers" -> (Relational.q99VolumeSuppliers _),
    "q100_incremental_neardup" -> (Similarity.q100IncrementalNeardup _),
    "q101_volume_shipping" -> (Relational.q101VolumeShipping _),
    "q102_market_share" -> (Relational.q102MarketShare _),
    "q103_product_profit" -> (Relational.q103ProductProfit _),
    "q104_repeated_spans" -> (TextOps.q104RepeatedSpans _),
    "q105_bpe_tokens" -> (TrainingData.q105BpeTokens _),
    "q106_bpe_pack" -> (TrainingData.q106BpeSequencePack _),
    "q107_span_dedup" -> (TextOps.q107SpanDedup _),
    "q108_cluster_stats" -> (Similarity.q108ClusterStats _),
    "q109_clean_pack" -> (TrainingData.q109CleanPack _),
    "q110_bigram_surprisal" -> (TextOps.q110BigramSurprisal _),
    "q111_hash_split" -> (TrainingData.q111HashSplit _),
    "q112_prep_pipeline_v2" -> (CorpusPrep.q112PrepPipelineV2 _),
    "q113_source_cap" -> (TrainingData.q113SourceCap _),
    "q114_dsir_importance" -> (TrainingData.q114DsirWeights _),
    "q115_knn_label" -> (Similarity.q115KnnLabel _),
    "q116_source_divergence" -> (TrainingData.q116SourceDivergence _),
    "q117_eval_spans" -> (TextOps.q117EvalSpans _),
    "q118_shard_manifest" -> (TrainingData.q118ShardManifest _),
    "q119_lang_trigram" -> (TrainingData.q119LangTrigram _),
    "q120_knn_label_ivf" -> (Similarity.q120KnnLabelIvf _),
    "q121_dsir_resample" -> (TrainingData.q121DsirResample _),
    "q122_clean_shard_manifest" -> (TrainingData.q122CleanShardManifest _),
    "q123_int8_ann" -> (Similarity.q123Int8Ann _),
    "q124_boilerplate_ngrams" -> (TextOps.q124BoilerplateNgrams _),
    "q125_vocab_coverage" -> (TextOps.q125VocabCoverage _),
    "q126_containment_neardup" -> (Similarity.q126ContainmentNeardup _),
    "q127_entropy_gate" -> (TrainingData.q127EntropyGate _),
    "q128_source_calibration" -> (TrainingData.q128SourceCalibration _),
    "q129_padding_buckets" -> (TrainingData.q129PaddingBuckets _),
    "q130_contamination_report" -> (TrainingData.q130ContaminationReport _),
    // trained-model class (like q32b/q32c): no oracle; IvfSq8Spec
    // measures recall vs exact q22 and agreement with float IVF
    "q131_ivf_sq8" -> (Similarity.q131IvfSq8 _),
    "q132_modality_agreement" -> (Similarity.q132ModalityAgreement _),
    "q133_bpe_merge_train" -> (TrainingData.q133BpeMergeTrain _),
    "q135_staging_manifest" -> (Similarity.q135StagingManifest _),
    "q136_cluster_keeper" -> (Similarity.q136ClusterQualityKeeper _),
    "q137_mix_schedule" -> (TrainingData.q137MixSchedule _),
    "q138_shard_skew" -> (TrainingData.q138ShardSkew _),
    "q140_ngram_novelty" -> (TextOps.q140NgramNovelty _),
    "q141_hard_negatives" -> (Similarity.q141HardNegatives _),
    "q142_source_centroid_sim" -> (Similarity.q142SourceCentroidSim _),
    "q143_curriculum_interleave" -> (TrainingData.q143CurriculumInterleave _),
    "q144_fertility_report" -> (TrainingData.q144FertilityReport _),
    "q145_norm_outliers" -> (Similarity.q145NormOutliers _),
    // sketch class (like q25/q26): candidate edges come from the LSH
    // banding join, so no oracle; SketchClusterAgreementSpec measures
    // per-doc label agreement against q62's exact components
    "q146_sketch_clusters" -> (Sketches.q146SketchClusters _),
    "q147_grid_resample" -> (Events.q147GridResample _),
    "q148_epoch_shuffle" -> (TrainingData.q148EpochShuffle _),
    "q149_quantization_error" -> (Similarity.q149QuantizationError _),
    "q150_event_transitions" -> (Events.q150EventTransitions _),
    "q151_debounce_dedup" -> (Events.q151DebounceDedup _),
    "q152_value_anomalies" -> (Events.q152ValueAnomalies _),
    "q153_funnel_timing" -> (Events.q153FunnelTiming _),
    "q154_similarity_pagerank" -> (Similarity.q154SimilarityPagerank _),
    "q155_pagerank_keeper" -> (Similarity.q155PagerankKeeper _),
    "q156_session_paths" -> (Events.q156SessionPaths _),
    "q157_cross_source_dups" -> (Similarity.q157CrossSourceDups _),
    "q158_quality_retention" -> (TrainingData.q158QualityRetention _),
    "q159_source_dispersion" -> (Similarity.q159SourceDispersion _),
    "q160_threshold_curve" -> (Similarity.q160ThresholdCurve _),
    "q162_snapshot_diff" -> (Events.q162SnapshotDiff _),
    "q163_scd2_history" -> (Events.q163Scd2History _),
    "q167_integrity_manifest" -> (Audit.q167IntegrityManifest _),
    "q168_purge_cascade" -> (Audit.q168PurgeCascade _),
    "q169_dq_audit" -> (Audit.q169DqAudit _),
    "q170_table_profile" -> (Audit.q170TableProfile _),
    "q171_freshness_audit" -> (Events.q171FreshnessAudit _),
    "q172_completeness_audit" -> (Events.q172CompletenessAudit _),
    "q173_index_coverage" -> (Audit.q173IndexCoverage _),
    "q174_join_skew_audit" -> (Audit.q174JoinSkewAudit _),
    "q164_storage_stats" -> (graft.ops.Storage.q164StorageStats _),
    "q165_clustering_audit" -> (graft.ops.Storage.q165ClusteringAudit _),
    "q166_compaction_plan" -> ((s, dir) => graft.ops.Storage.q166CompactionPlan(s, dir)),
    "q175_zorder_plan" -> (graft.ops.Storage.q175ZorderPlan _),
    "q176_equidepth_histogram" -> (Analytics.q176EquidepthHistogram _),
    "q177_triangle_census" -> (Similarity.q177TriangleCensus _),
    "q178_merkle_manifest" -> (Audit.q178MerkleManifest _),
    "q179_disorder_audit" -> (Events.q179DisorderAudit _),
    "q180_activity_streaks" -> (Events.q180ActivityStreaks _),
    "q181_purchase_attribution" -> (Events.q181PurchaseAttribution _),
    "q182_join_cardinality" -> (Audit.q182JoinCardinality _),
    "q183_traffic_spikes" -> (Events.q183TrafficSpikes _),
    "q184_retention_plan" -> ((s, dir) => graft.ops.Storage.q184RetentionPlan(s, dir)),
    "q185_schema_drift" -> (graft.ops.Storage.q185SchemaDrift _),
    "q186_cooccurrence_lift" -> (Events.q186CooccurrenceLift _),
    "q187_user_growth" -> (Events.q187UserGrowth _),
    "q188_mix_contingency" -> (TrainingData.q188MixContingency _),
    "q189_inter_arrival" -> (Events.q189InterArrival _),
    "q190_ab_readout" -> (Events.q190AbReadout _),
    "q191_growth_accounting" -> (Relational.q191GrowthAccounting _),
    "q192_posting_blocks" -> (TextOps.q192PostingBlocks _),
    "q193_bm25" -> (TextOps.q193Bm25 _),
    "q194_k_anonymity" -> (Audit.q194KAnonymity _),
    "q195_weighted_sample" -> (TrainingData.q195WeightedSample _),
    "q196_level_shift" -> (Events.q196LevelShift _),
    "q197_bot_cadence" -> (Events.q197BotCadence _),
    "q198_boolean_and" -> (TextOps.q198BooleanAnd _),
    "q199_fd_discovery" -> (Audit.q199FdDiscovery _),
    "q200_peak_concurrency" -> (Events.q200PeakConcurrency _),
    "q201_spelling_variants" -> (TextOps.q201SpellingVariants _),
    "q202_collocation_lift" -> (TextOps.q202CollocationLift _),
    "q203_target_encoding" -> (TrainingData.q203TargetEncoding _),
    "q204_weekday_profile" -> (Events.q204WeekdayProfile _),
    "q205_rfm_segments" -> (Events.q205RfmSegments _),
    "q206_embedding_drift" -> (Similarity.q206EmbeddingDrift _),
    "q207_supplier_concentration" -> (Relational.q207SupplierConcentration _),
    "q208_embedding_coverage" -> (TrainingData.q208EmbeddingCoverage _),
    "q209_fulfillment_latency" -> (Relational.q209FulfillmentLatency _),
    "q210_ivm_merge" -> (Events.q210IvmMerge _),
    "q211_json_profile" -> (Events.q211JsonProfile _),
    "q212_cluster_provenance" -> (Similarity.q212ClusterProvenance _),
    "q213_blockmax_wand" -> (TextOps.q213BlockMaxWand _),
    "q214_manifest_diff" -> (Audit.q214ManifestDiff _),
    "q215_transition_dwell" -> (Events.q215TransitionDwell _),
    "q216_dim_variance" -> (Similarity.q216DimVariance _),
    "q217_session_entry_exit" -> (Events.q217SessionEntryExit _),
    "q218_dedup_token_budget" -> (Similarity.q218DedupTokenBudget _),
    "q219_dedup_degree_hist" -> (Similarity.q219DedupDegreeHist _),
    "q220_filter_funnel" -> (TrainingData.q220FilterFunnel _),
    "q221_phrase_match" -> (TextOps.q221PhraseMatch _),
    "q221b_phrase_match_indexed" -> (TextOps.q221bPhraseMatchIndexed _),
    "q222_query_likelihood" -> (TextOps.q222QueryLikelihood _),
    "q223_daily_autocorr" -> (Events.q223DailyAutocorr _),
    "q224_core_decomposition" -> (Similarity.q224CoreDecomposition _),
    "q225_edge_jaccard" -> (Similarity.q225EdgeJaccard _),
    "q226_query_expansion" -> (TextOps.q226QueryExpansion _),
    "q227_clustering_by_degree" -> (Similarity.q227ClusteringByDegree _),
    "q228_survival_curve" -> (Events.q228SurvivalCurve _),
    "q229_zipf_fit" -> (TextOps.q229ZipfFit _),
    "q230_heaps_curve" -> (TextOps.q230HeapsCurve _),
    "q231_event_burstiness" -> (Events.q231EventBurstiness _),
    "q232_time_weighted_value" -> (Events.q232TimeWeightedValue _),
    "q233_event_gini" -> (Events.q233EventGini _),
    "q234_embedding_outliers" -> (Similarity.q234EmbeddingOutliers _),
    "q235_lorenz_deciles" -> (Events.q235LorenzDeciles _),
    "q236_boxplot_stats" -> (Events.q236BoxplotStats _),
    "q237_special_token_scan" -> (TrainingData.q237SpecialTokenScan _),
    "q238_abc_classes" -> (TrainingData.q238AbcClasses _),
    "q239_rolling_actives" -> (Events.q239RollingActives _),
    "q239b_rolling_actives_hll" -> (Events.q239bRollingActivesHll _),
    "q240_traffic_trend" -> (Events.q240TrafficTrend _),
    "q241_sketch_refinement_audit" -> (Sketches.q241SketchRefinementAudit _),
    "q242_tf_postings_delta_merge" -> (TextOps.q242TfPostingsDeltaMerge _),
    "q243_collapse_delta_merge" -> (Similarity.q243CollapseDeltaMerge _),
    "q244_set_pairs_delta_merge" -> (Similarity.q244SetPairsDeltaMerge _),
    "q245_labels_delta_merge" -> (Similarity.q245LabelsDeltaMerge _),
    "q246_shingle_pairs_delta_merge" -> (Similarity.q246ShinglePairsDeltaMerge _),
  )

  // Shared SQL fragments for the oracle side (mirrors of Det.scala —
  // see its scaladoc for why rounding happens in decimal/integer space
  // or via the floor formula, never round(double)).
  //
  // fdiv: Det.floorDivExpr's DuckDB mirror. BOTH engines' native
  // integer division truncates toward zero (DuckDB 1.0.0: -5 // 2 =
  // -2), so wherever the engine floors a possibly-negative dividend
  // (pre-epoch µs, ship lags), the oracle needs the same explicit
  // pmod floor form — a bare `//` only mirrors on provably
  // non-negative dividends.
  private def fdiv(a: String, d: Long): String =
    s"((($a) - (((($a) % $d) + $d) % $d)) // $d)"

  /** The brute-force BM25 top-20, shared verbatim by q193 (the exact
    * scorer) and q213 (the block-max WAND evaluator, which is exact
    * pruning — the q37 same-oracle-by-design pattern).
    */
  /** The retrieval family's shared oracle CTEs (postings, df, base
    * query, dl, N, avgdl) — ONE definition consumed by q193/q213/q226.
    */
  private val bm25BaseCtes: String =
    "tf AS (SELECT doc_id, term, count(*) AS tf FROM (" +
      "SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents) u " +
      "WHERE term <> '' GROUP BY doc_id, term), " +
      "df AS (SELECT term, count(*) AS df FROM tf GROUP BY term), " +
      "qt AS (SELECT term, df FROM df ORDER BY df DESC, term LIMIT 3), " +
      "dl AS (SELECT doc_id, CAST(sum(tf) AS BIGINT) AS dl FROM tf GROUP BY doc_id), " +
      "n AS (SELECT count(*) AS n_docs FROM documents), " +
      "a AS (SELECT CAST(sum(dl) AS DOUBLE) / count(*) AS avgdl FROM dl)"

  /** Per-posting µ-rounded BM25 contribution against query CTE `q`
    * (term, df) — the mirror of TextOps.bm25Idf × bm25Sat, shared by
    * both of q226's passes and q193/q213's single pass.
    */
  private def bm25ContribSql(q: String): String =
    "SELECT tf.doc_id, floor(" +
      s"ln(1.0 + (CAST(n_docs AS DOUBLE) - CAST($q.df AS DOUBLE) + 0.5) / (CAST($q.df AS DOUBLE) + 0.5)) * " +
      "(CAST(tf.tf AS DOUBLE) * 2.2 / (CAST(tf.tf AS DOUBLE) + " +
      "1.2 * (1.0 - 0.75 + 0.75 * CAST(dl.dl AS DOUBLE) / avgdl))) " +
      "* 1000000 + 0.5)/1000000 AS c " +
      s"FROM tf JOIN $q ON tf.term = $q.term JOIN dl ON tf.doc_id = dl.doc_id " +
      "CROSS JOIN n CROSS JOIN a"

  private def bm25TopSql(s: String): String =
    s"SELECT doc_id, count(*) AS n_matched, ${dsum("c")} AS score " +
      s"FROM $s GROUP BY doc_id ORDER BY score DESC, doc_id LIMIT 20"

  private def bm25OracleSql: String =
    s"WITH $bm25BaseCtes, s AS (${bm25ContribSql("qt")}) ${bm25TopSql("s")}"

  /** Shared by q221 (array-scan) and q221b (positional-index) — ONE
    * truth for the phrase-match semantics, the bm25OracleSql pattern:
    * derive the most frequent adjacent bigram (ties lexicographic),
    * report per matching doc its occurrence count and 1-based first
    * position.
    */
  private def phraseMatchOracleSql: String =
    "WITH p AS (SELECT doc_id, generate_subscripts(string_split(text, ' '), 1) AS pos, " +
      "unnest(string_split(text, ' ')) AS term FROM documents), " +
      "bg AS (SELECT doc_id, pos, term AS t1, " +
      "lead(term) OVER (PARTITION BY doc_id ORDER BY pos) AS t2 FROM p), " +
      "cnt AS (SELECT t1, t2, count(*) AS c FROM bg WHERE t2 IS NOT NULL GROUP BY t1, t2), " +
      "ph AS (SELECT t1, t2 FROM cnt ORDER BY c DESC, t1, t2 LIMIT 1), " +
      "m AS (SELECT doc_id, pos FROM bg JOIN ph USING (t1, t2)) " +
      "SELECT doc_id, CAST(count(*) AS BIGINT) AS n_occurrences, " +
      "CAST(min(pos) AS BIGINT) AS first_pos FROM m GROUP BY doc_id ORDER BY doc_id"

  /** q226's two-pass PRF chain: base scoring → rounded-score top-10
    * feedback cut → all-integer expansion pick (base terms excluded)
    * → the same scorer over the 6-term query.
    */
  private def prfOracleSql: String =
    s"WITH $bm25BaseCtes, s1 AS (${bm25ContribSql("qt")}), " +
      s"r1 AS (SELECT doc_id, ${dsum("c")} AS score FROM s1 GROUP BY doc_id), " +
      "fb AS (SELECT doc_id FROM r1 ORDER BY score DESC, doc_id LIMIT 10), " +
      "exq AS (SELECT term FROM (SELECT tf.term AS term, count(*) AS n_fb, " +
      "CAST(sum(tf.tf) AS BIGINT) AS fb_tf FROM tf JOIN fb ON tf.doc_id = fb.doc_id " +
      "WHERE tf.term NOT IN (SELECT term FROM qt) GROUP BY tf.term " +
      "ORDER BY n_fb DESC, fb_tf DESC, term LIMIT 3)), " +
      "q2 AS (SELECT term, df FROM df WHERE term IN " +
      "(SELECT term FROM qt UNION ALL SELECT term FROM exq)), " +
      s"s2 AS (${bm25ContribSql("q2")}) ${bm25TopSql("s2")}"

  /** q04's statement, shared verbatim by q210 (whose merge ≡ recompute
    * contract IS this SQL — the q37 same-oracle-by-design pattern).
    */
  private def q04OracleSql: String =
    s"SELECT user_id, ${davg("value")} AS avg_value, count(*) AS n_events, max($tsUs) AS max_ts " +
      "FROM events GROUP BY user_id ORDER BY user_id"
  private def dsum(x: String) = s"CAST(round(sum(CAST($x AS DECIMAL(20,6))), 4) AS DOUBLE)"
  private def davg(x: String) =
    s"CAST((2*CAST(sum(CAST($x AS DECIMAL(20,6)))*1000000 AS HUGEINT) + count(*)*100) " +
      s"// (2*count(*)*100) AS DOUBLE)/10000.0"
  // Sign-correct davg: Spark's round(decimal) is HALF_UP = away from
  // zero, but davg's floor-division trick only models that for
  // positive sums — negative means (q114's log ratios) need the
  // mirrored formula on |sum|
  private def davgS(x: String) = {
    val n = s"CAST(sum(CAST($x AS DECIMAL(20,6)))*1000000 AS HUGEINT)"
    val d = "count(*)*100"
    s"CAST(CASE WHEN $n >= 0 THEN (2*($n) + $d) // (2*($d)) " +
      s"ELSE -((2*(-($n)) + $d) // (2*($d))) END AS DOUBLE)/10000.0"
  }
  // Weighted, sign-correct davg — Det.wavg4's mirror: N = Σ(w·x)·10⁶,
  // D = Σw·100 (integer weights, x already floored to ≤6 dp)
  private def wavgS(w: String, x: String) = {
    val n = s"CAST(sum(($w)*CAST($x AS DECIMAL(20,6)))*1000000 AS HUGEINT)"
    val d = s"sum($w)*100"
    s"CAST(CASE WHEN $n >= 0 THEN (2*($n) + $d) // (2*($d)) " +
      s"ELSE -((2*(-($n)) + $d) // (2*($d))) END AS DOUBLE)/10000.0"
  }
  private def rd4(x: String) = s"floor(($x)*10000 + 0.5)/10000"

  /** q28's quality-feature + composite-score CTEs (qf -> qs): the ONE
    * oracle-side definition of the score formula, consumed by q28,
    * q128, q136, q143 and q158 exactly as the engine shares
    * TrainingData.qualityScored. qs carries every feature column;
    * consumers select what they need.
    */
  private val qualityScoreCtes: String =
    "qf AS (SELECT doc_id, source, CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens, " +
      "CAST(length(text) AS BIGINT) AS n_chars_text, " +
      "floor((CAST(length(replace(text, ' ', '')) AS DOUBLE)/len(string_split(text, ' ')))*10000 + 0.5)/10000 AS avg_tok_len, " +
      "floor((CAST(len(list_filter(string_split(text, ' '), t -> t IN ('the', 'a', 'of', 'and', 'in'))) AS DOUBLE)/len(string_split(text, ' ')))*10000 + 0.5)/10000 AS stop_ratio FROM documents), " +
      "qs AS (SELECT doc_id, source, n_tokens, n_chars_text, avg_tok_len, stop_ratio, " +
      "floor((2.0*stop_ratio + CASE WHEN avg_tok_len BETWEEN 3.0 AND 8.0 THEN 1.0 ELSE 0.0 END + " +
      "CASE WHEN n_tokens BETWEEN 20 AND 500 THEN 1.0 ELSE 0.0 END)*10000 + 0.5)/10000 AS score FROM qf)"

  /** The exact-dup collapse (tt -> gg) and the J >= 4/5 group-edge self
    * join over it: the ONE oracle-side definition of the staged
    * cascade's node/edge universe, consumed by q135's manifest counts
    * and q154/q155's PageRank recurrence.
    */
  private val ttGgCtes: String =
    "tt AS (SELECT doc_id, list_sort(list_distinct(string_split(text, ' '))) AS toks FROM documents), " +
      "gg AS (SELECT min(doc_id) AS gid, toks FROM tt GROUP BY toks)"

  /** The group graph's sorted adjacency (nb) + per-edge common-neighbor
    * counts with endpoint degrees (x) over an edge CTE named `ge` —
    * the oracle mirror of Similarity.edgeCommonNeighbors, shared by
    * q225 and q227 (list_intersect's set semantics match the engine's
    * sorted merge: adjacency lists are duplicate-free).
    */
  private val edgeCnCtes: String =
    "nb AS MATERIALIZED (SELECT v, list_sort(list(n)) AS nbrs, CAST(count(*) AS BIGINT) AS deg FROM " +
      "(SELECT ga AS v, gb AS n FROM ge UNION ALL SELECT gb, ga FROM ge) GROUP BY v), " +
      "x AS (SELECT ge.ga, ge.gb, CAST(len(list_intersect(a.nbrs, b.nbrs)) AS BIGINT) AS cn, " +
      "a.deg AS deg_a, b.deg AS deg_b " +
      "FROM ge JOIN nb a ON a.v = ge.ga JOIN nb b ON b.v = ge.gb)"

  private def groupEdgeSql(alias: String): String =
    s"$alias AS MATERIALIZED (SELECT a.gid AS ga, b.gid AS gb FROM gg a JOIN gg b ON a.gid < b.gid " +
      "AND 5*len(list_intersect(a.toks, b.toks)) >= " +
      "4*(len(a.toks) + len(b.toks) - len(list_intersect(a.toks, b.toks))))"

  /** The q224 recursive-CTE coreness oracle unrolled to `k` h-index
    * rounds — k comes from the engine's latched converged round count
    * (iterating past the fixpoint is a no-op, so any k ≥ converged
    * lands on the fixpoint). Per round: h-index of neighbor values via
    * a rank-vs-value window (h = max rank r with vals[r] >= r, vals
    * desc), the engine's sorted-array filter re-expressed relationally.
    */
  private def corenessOracleSql(k: Long): String =
    s"WITH RECURSIVE $ttGgCtes, ${groupEdgeSql("ge")}, " +
      "sym AS MATERIALIZED (SELECT ga AS v, gb AS n FROM ge UNION ALL SELECT gb, ga FROM ge), " +
      "it(v, c, r) AS (SELECT v, CAST(count(*) AS BIGINT), 0 FROM sym GROUP BY v " +
      "UNION ALL SELECT v, CAST(COALESCE(max(CASE WHEN c >= rn THEN rn END), 0) AS BIGINT), r + 1 " +
      "FROM (SELECT s.v AS v, it.c AS c, it.r AS r, " +
      "row_number() OVER (PARTITION BY s.v, it.r ORDER BY it.c DESC) AS rn " +
      s"FROM it JOIN sym s ON s.n = it.v WHERE it.r < $k) GROUP BY v, r) " +
      s"SELECT c AS coreness, CAST(count(*) AS BIGINT) AS n_vertices FROM it WHERE r = $k " +
      "GROUP BY c ORDER BY coreness"

  /** Shared by q62 (hash-min) and q62b (large/small-star): reachability
    * via a recursive CTE, min label per doc — algorithm-independent
    * component truth.
    */
  /** The all-pairs J ≥ 0.8 doc-pair truth (t → tt → e0) — shared by
    * q62/q62b's component labels (below) and q219's degree histogram.
    */
  private val neardupPairCtes: String =
    "t AS (SELECT doc_id, list_sort(list_distinct(string_split(text, ' '))) AS toks " +
      "FROM documents), " +
      "tt AS (SELECT * FROM t WHERE len(toks) > 0), " +
      "e0 AS (SELECT a.doc_id AS u, b.doc_id AS v FROM tt a JOIN tt b ON a.doc_id < b.doc_id " +
      "WHERE CAST(len(list_intersect(a.toks, b.toks)) AS DOUBLE) / " +
      "(len(a.toks) + len(b.toks) - len(list_intersect(a.toks, b.toks))) >= 0.8)"

  private val q62OracleCore: String =
    s"WITH RECURSIVE $neardupPairCtes, " +
      "e AS (SELECT u, v FROM e0 UNION ALL SELECT v AS u, u AS v FROM e0), " +
      "r AS (SELECT doc_id AS v, doc_id AS lbl FROM tt " +
      "UNION SELECT e.v, r.lbl FROM r JOIN e ON e.u = r.v) " +
      "SELECT v AS doc_id, min(lbl) AS cluster_id FROM r GROUP BY v"

  private def q62OracleSql: String = q62OracleCore + " ORDER BY doc_id"

  // q55's oracle, factored so q246 (the shingle-cascade set-pairs
  // delta merge) can declare the VERBATIM same SQL — q244's merge ≡
  // recompute contract on the second cascade. Builds the SAME
  // word-3-gram sets from raw strings (the engine hashes shingles to
  // ints — Jaccard is invariant under the injective-w.h.p.
  // relabeling, same argument as q21's tokens).
  private val q55OracleSql: String =
    "WITH wd AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents), " +
      "s AS (SELECT doc_id, list_distinct([array_to_string(w[i:i+2], ' ') " +
      "for i in range(1, len(w)-1)]) AS sh FROM wd WHERE len(w) >= 3), " +
      "p AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, " +
      "CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) / " +
      "(len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))) AS j " +
      "FROM s a, s b WHERE a.doc_id < b.doc_id) " +
      s"SELECT doc_a, doc_b, ${rd4("j")} AS jaccard FROM p WHERE j >= 0.6 " +
      "ORDER BY doc_a, doc_b"

  // q21's oracle, factored so q244 (the set-pairs delta merge) can
  // declare the VERBATIM same SQL — merge ≡ recompute is the contract
  private val q21OracleSql: String =
    "WITH t AS (SELECT doc_id, list_sort(list_distinct(string_split(text, ' '))) AS toks FROM documents) " +
      "SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, " +
      "floor((CAST(len(list_intersect(a.toks, b.toks)) AS DOUBLE) / " +
      "(len(a.toks) + len(b.toks) - len(list_intersect(a.toks, b.toks))))*10000 + 0.5)/10000 AS jaccard " +
      "FROM t a JOIN t b ON a.doc_id < b.doc_id " +
      "WHERE CAST(len(list_intersect(a.toks, b.toks)) AS DOUBLE) / " +
      "(len(a.toks) + len(b.toks) - len(list_intersect(a.toks, b.toks))) >= 0.8 " +
      "ORDER BY doc_a, doc_b"

  /** The q104/q107 span machinery as a reusable CTE list (shared by
    * q107 and the q109 composition so the span semantics exist
    * in ONE place on the oracle side too): t (tokenized docs) … sp
    * (merged spans), tok (positional tokens), k (surviving tokens),
    * ag (reassembled survivors).
    */
  private def spanCtesFrom(src: String): String =
    s"t AS (SELECT doc_id, string_split(text, ' ') AS w FROM $src), " +
      "p AS (SELECT doc_id, w, UNNEST(range(1, len(w) - 13)) AS i FROM t), " +
      "g AS (SELECT doc_id, i - 1 AS pos, array_to_string(w[i : i + 14], ' ') AS gram FROM p), " +
      "d AS (SELECT gram FROM g GROUP BY gram HAVING count(*) > 1), " +
      "h AS (SELECT g.doc_id, g.pos FROM g JOIN d USING (gram)), " +
      "m AS (SELECT doc_id, pos, max(pos + 15) OVER (PARTITION BY doc_id ORDER BY pos " +
      "ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_end FROM h), " +
      "s AS (SELECT doc_id, pos, sum(CASE WHEN prev_end IS NULL OR pos > prev_end " +
      "THEN 1 ELSE 0 END) OVER (PARTITION BY doc_id ORDER BY pos) AS span_id FROM m), " +
      "sp AS (SELECT doc_id, min(pos) AS span_start, max(pos) + 15 AS span_end " +
      "FROM s GROUP BY doc_id, span_id), " +
      "tok AS (SELECT doc_id, UNNEST(w) AS tok, UNNEST(range(0, len(w))) AS pos FROM t), " +
      "k AS (SELECT tok.doc_id, tok.pos, tok.tok FROM tok WHERE NOT EXISTS " +
      "(SELECT 1 FROM sp WHERE sp.doc_id = tok.doc_id " +
      "AND tok.pos >= sp.span_start AND tok.pos < sp.span_end)), " +
      "ag AS (SELECT doc_id, count(*) AS n_kept, string_agg(tok, ' ' ORDER BY pos) " +
      "AS clean_text FROM k GROUP BY doc_id)"

  private val spanCteChain: String = spanCtesFrom("documents")

  /** DuckDB mirror of the TRAINED BPE merge table (round 7): the
    * oracle trains ITS OWN top-K adjacent-pair table from the raw
    * corpus with the identical (count desc, pair asc) tie-break —
    * MATERIALIZED so the 24 scalar subqueries below evaluate it once.
    * K is generated from [[graft.ops.TrainingData.BpeMergeCount]], the
    * one constant both sides share; the rules themselves are DATA on
    * both sides, so tokenizer and oracle cannot diverge.
    */
  private val bpeMergesCte: String =
    "bm AS MATERIALIZED (SELECT row_number() OVER (ORDER BY cnt DESC, g) AS rk, " +
      "substr(g, 1, 1) || ' ' || substr(g, 2, 1) AS pat, g AS rep, cnt FROM (" +
      "SELECT g, count(*) AS cnt FROM (SELECT substr(text, CAST(i AS BIGINT), 2) AS g FROM " +
      "(SELECT text, UNNEST(range(1, length(text))) AS i FROM documents WHERE length(text) >= 2)) " +
      "WHERE NOT contains(g, ' ') AND NOT contains(g, '|') GROUP BY g " +
      s"ORDER BY cnt DESC, g LIMIT ${graft.ops.TrainingData.BpeMergeCount}))"

  /** The trained replay: doc spelled as space-separated chars (word
    * gaps -> '|'), each ranked rule applied as a literal left-to-right
    * replace with its pattern pulled from `bm` by scalar subquery
    * (rules are data, not literals — no escaping, no staleness). A rank
    * with no trained rule (corpus with < K qualifying pairs) coalesces
    * to chr(1), a never-matching sentinel, mirroring the engine's
    * shorter fold.
    */
  private def bpeMergedSql: String =
    (1 to graft.ops.TrainingData.BpeMergeCount).foldLeft(
      "array_to_string(string_split(translate(text, ' ', '|'), ''), ' ')") {
      (s, i) => s"replace($s, coalesce((SELECT pat FROM bm WHERE rk = $i), chr(1)), " +
        s"coalesce((SELECT rep FROM bm WHERE rk = $i), chr(1)))"
    }
  private def bpeTokSql: String =
    s"CAST(len(string_split($bpeMergedSql, ' ')) - len(string_split(text, ' ')) + 1 AS BIGINT)"
  // wide-decimal mirror of Det.dsum4w (second moments: x², x·y)
  private def dsumw(x: String) = s"CAST(round(sum(CAST($x AS DECIMAL(28,6))), 4) AS DOUBLE)"
  // q119: per-language trigram hit counts and the argmax CASE, both
  // generated from TrainingData.LangTrigramProfiles — one source of
  // truth for the Spark plan and this SQL (the BpeMerges pattern)
  private def langHitSql(grams: Seq[String]): String =
    grams.map(g => s"(length(t) - length(replace(t, '$g', ''))) // 3").mkString(" + ")
  private def langPickSql: String = {
    val langs = graft.ops.TrainingData.LangTrigramProfiles.map(_._1)
    val best = langs.map(l => s"${l}_hits").mkString("greatest(", ", ", ")")
    val zero = langs.map(l => s"${l}_hits").mkString(" + ") + " = 0"
    val arms = langs.init.map(l => s"WHEN ${l}_hits = $best THEN '$l'").mkString(" ")
    s"CASE WHEN $zero THEN 'und' $arms ELSE '${langs.last}' END"
  }
  private val tsUs = "CAST(ts AS TIMESTAMP)"

  /** The tie-group relation (c → v → p → t) over per-user event
    * counts — the oracle mirror of Events.countTieGroups, shared by
    * q233 (Gini) and q235 (Lorenz deciles).
    */
  private def tieGroupCtes: String =
    "c AS (SELECT user_id, count(*) AS x FROM events GROUP BY user_id), " +
      "v AS (SELECT x, CAST(count(*) AS BIGINT) AS nx FROM c GROUP BY x), " +
      "p AS (SELECT x, nx, CAST(coalesce(sum(nx) OVER (ORDER BY x " +
      "ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS s, " +
      "coalesce(sum(CAST(x AS HUGEINT)*nx) OVER (ORDER BY x " +
      "ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS ex FROM v), " +
      "t AS (SELECT CAST(sum(nx) AS BIGINT) AS n, sum(CAST(x AS HUGEINT)*nx) AS sx FROM v)"

  /** The zero-filled (event_type, day) grid (e → b → g → c → dense) —
    * the oracle mirror of Events.denseDailyCounts, shared by q223 and
    * q231.
    */
  private def denseDayCtes: String =
    s"e AS (SELECT event_type, ${fdiv(s"epoch_us($tsUs)", 86400000000L)} AS day FROM events), " +
      "b AS (SELECT min(day) AS dmin, max(day) AS dmax FROM e), " +
      "g AS (SELECT event_type, unnest(generate_series(dmin, dmax)) AS day FROM " +
      "(SELECT DISTINCT event_type FROM e) CROSS JOIN b), " +
      "c AS (SELECT event_type, day, count(*) AS c FROM e GROUP BY event_type, day), " +
      "dense AS (SELECT g.event_type, g.day, COALESCE(c.c, 0) AS x FROM g " +
      "LEFT JOIN c ON c.event_type = g.event_type AND c.day = g.day)"

  /** q13's session-span CTEs (e, m, s, sp) — the one gap-session
    * definition on the oracle side, read by q13 (the session report)
    * and q200 (the concurrency sweep), mirroring `sessionSpans` on
    * the engine side.
    */
  private def sessionSpanCtes: String =
    s"e AS (SELECT user_id, event_id, event_type, $tsUs AS ts2 FROM events), " +
      "m AS (SELECT user_id, event_id, event_type, ts2, CASE WHEN " +
      "lag(epoch_us(ts2)) OVER (PARTITION BY user_id ORDER BY ts2, event_id) IS NULL OR " +
      "epoch_us(ts2) - lag(epoch_us(ts2)) OVER (PARTITION BY user_id ORDER BY ts2, event_id) > 86400000000 " +
      "THEN 1 ELSE 0 END AS new_s FROM e), " +
      "s AS (SELECT user_id, event_id, event_type, ts2, CAST(sum(new_s) OVER (PARTITION BY user_id ORDER BY ts2, event_id " +
      "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id FROM m), " +
      "sp AS (SELECT user_id, session_id, count(*) AS n_events, min(ts2) AS session_start, " +
      "max(ts2) AS session_end FROM s GROUP BY user_id, session_id)"

  /** q89's funnel stage CTEs (e, v, c, p) — the one funnel definition,
    * read by q89 (per-user stages) and q153 (step timings).
    */
  private def q89FunnelCtes: String =
    s"e AS (SELECT user_id, event_type, $tsUs AS ts FROM events), " +
      "v AS (SELECT user_id, min(ts) AS t_view FROM e WHERE event_type = 'view' GROUP BY user_id), " +
      "c AS (SELECT e.user_id, min(ts) AS t_click FROM e JOIN v USING (user_id) " +
      "WHERE event_type = 'click' AND ts > t_view AND ts <= t_view + INTERVAL 1 HOUR GROUP BY e.user_id), " +
      "p AS (SELECT e.user_id, min(ts) AS t_purchase FROM e JOIN c USING (user_id) " +
      "WHERE event_type = 'purchase' AND ts > t_click AND ts <= t_click + INTERVAL 1 HOUR GROUP BY e.user_id)"

  /** q118's manifest statement, extracted so q138's skew report can
    * wrap the SAME text (one source of truth for the shard semantics
    * on the oracle side, mirroring shardManifestOf on the engine side).
    */
  private def q118OracleSql: String =
    s"WITH $bpeMergesCte, t AS (SELECT doc_id, $bpeTokSql AS n_tokens FROM documents), " +
      "c AS (SELECT doc_id, n_tokens, CAST(sum(n_tokens) OVER " +
      "(ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_tokens AS BIGINT) " +
      "AS start_token FROM t), " +
      "s AS (SELECT doc_id, n_tokens, start_token, " +
      "UNNEST(range(start_token // 2048, (start_token + n_tokens - 1) // 2048 + 1)) AS seq " +
      "FROM c), " +
      "x AS (SELECT doc_id, seq, " +
      "least(start_token + n_tokens, (seq + 1) * 2048) - greatest(start_token, seq * 2048) AS tok, " +
      "CAST(strpos('0123456789abcdef', substr(md5(CAST(seq AS VARCHAR)), 1, 1)) - 1 AS BIGINT) " +
      "AS shard_id FROM s) " +
      "SELECT shard_id, count(DISTINCT seq) AS n_seqs, count(DISTINCT doc_id) AS n_docs, " +
      "CAST(sum(tok) AS BIGINT) AS n_tokens FROM x GROUP BY shard_id ORDER BY shard_id"

  def oracleSql: Map[String, String] = Map(
    "q01_scan_project_filter" ->
      ("SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice, l_shipdate FROM lineitem " +
        "WHERE l_quantity > 30 ORDER BY l_orderkey, l_linenumber, l_quantity, l_extendedprice, l_shipdate"),
    "q02_inner_join" ->
      ("SELECT c_custkey, c_name, c_mktsegment, o_orderkey, o_orderstatus, o_totalprice, o_orderdate " +
        "FROM customer JOIN orders ON c_custkey = o_custkey ORDER BY o_orderkey"),
    "q02b_join_3way" ->
      ("SELECT c_custkey, c_mktsegment, o_orderkey, l_linenumber, l_quantity, l_extendedprice " +
        "FROM customer JOIN orders ON c_custkey = o_custkey JOIN lineitem ON o_orderkey = l_orderkey " +
        "ORDER BY o_orderkey, l_linenumber, l_quantity, l_extendedprice, c_custkey"),
    "q03_join_filter" ->
      ("SELECT c_custkey, c_name, o_orderkey, o_totalprice, o_orderdate " +
        "FROM customer JOIN orders ON c_custkey = o_custkey WHERE c_mktsegment = 'BUILDING' " +
        "ORDER BY o_orderkey"),
    "q04_groupby_agg" -> q04OracleSql,
    "q04b_multi_agg" ->
      (s"SELECT l_returnflag, l_linestatus, ${dsum("l_quantity")} AS sum_qty, " +
        s"${dsum("l_extendedprice")} AS sum_base_price, " +
        s"${dsum("l_extendedprice*(1-l_discount)")} AS sum_disc_price, " +
        s"${dsum("(l_extendedprice*(1-l_discount))*(1+l_tax)")} AS sum_charge, " +
        s"${davg("l_quantity")} AS avg_qty, ${davg("l_extendedprice")} AS avg_price, " +
        s"${davg("l_discount")} AS avg_disc, count(*) AS count_order " +
        "FROM lineitem GROUP BY l_returnflag, l_linestatus ORDER BY l_returnflag, l_linestatus"),
    "q04c_count_distinct" ->
      ("SELECT event_type, count(DISTINCT user_id) AS n_users, count(*) AS n_events " +
        "FROM events GROUP BY event_type ORDER BY event_type"),
    "q05_dedup" ->
      (s"WITH r AS (SELECT user_id, event_id, $tsUs AS ts2, event_type, value, " +
        s"row_number() OVER (PARTITION BY user_id ORDER BY $tsUs, event_id) AS rn FROM events) " +
        "SELECT user_id, event_id, ts2 AS ts, event_type, value FROM r WHERE rn = 1 ORDER BY user_id"),
    "q06_regex_extract" ->
      ("SELECT event_id, CAST(regexp_extract(props, '(\\d+)', 1) AS BIGINT) AS k_num " +
        "FROM events ORDER BY event_id"),
    "q07_json_parse" ->
      ("SELECT event_type, CAST(sum(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k " +
        "FROM events GROUP BY event_type ORDER BY event_type"),
    "q08_date_parts" ->
      (s"SELECT event_id, CAST(year($tsUs) AS BIGINT) AS y, CAST(month($tsUs) AS BIGINT) AS m, " +
        s"CAST(day($tsUs) AS BIGINT) AS d FROM events " +
        s"WHERE month($tsUs) = 1 AND day($tsUs) <= 15 ORDER BY event_id"),
    "q09_epoch_to_ts" ->
      (s"SELECT event_id, epoch_ms($tsUs) AS ms, make_timestamp(epoch_ms($tsUs) * 1000) AS ts_back " +
        "FROM events ORDER BY event_id"),
    "q10_string_clean" ->
      ("SELECT c_custkey, CAST(regexp_replace(c_name, '^Customer#', '') AS BIGINT) AS cust_num, " +
        "lower(c_mktsegment) AS seg_lower, substring(c_name, 1, 8) AS name_prefix " +
        "FROM customer ORDER BY c_custkey"),
    "q10b_part_split" ->
      ("SELECT p_partkey, string_split(p_name, ' ')[-1] AS last_word, lower(p_type) AS type_lower " +
        "FROM part ORDER BY p_partkey"),
    "q11_range_filter" ->
      ("SELECT c_custkey, c_name, c_acctbal, c_mktsegment FROM customer " +
        "WHERE c_acctbal BETWEEN 0 AND 5000 ORDER BY c_custkey"),
    "q12_point_lookup" ->
      ("SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, o_orderdate, o_orderpriority " +
        "FROM orders WHERE o_orderkey = 42 ORDER BY o_orderkey"),
    "q13_sessionize" ->
      (s"WITH $sessionSpanCtes " +
        "SELECT user_id, session_id, n_events, session_start, session_end " +
        "FROM sp ORDER BY user_id, session_id"),
    "q14_forward_fill" ->
      (s"SELECT event_id, user_id, $tsUs AS ts, " +
        "last_value(CASE WHEN event_type = 'purchase' THEN value END IGNORE NULLS) " +
        s"OVER (PARTITION BY user_id ORDER BY $tsUs, event_id ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS value_ff " +
        "FROM events ORDER BY event_id"),
    "q15_trim_boundary" ->
      (s"WITH g AS (SELECT user_id, count(*) AS n_events, ${davg("value")} AS avg_value " +
        "FROM events GROUP BY user_id) " +
        "SELECT user_id, n_events, avg_value FROM g " +
        "WHERE user_id > (SELECT min(user_id) FROM g) AND user_id < (SELECT max(user_id) FROM g) " +
        "ORDER BY user_id"),
    "q16_delete_antijoin" ->
      ("SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice FROM orders " +
        "WHERE o_orderkey NOT IN (SELECT o_orderkey FROM orders WHERE o_orderkey % 10 = 0) " +
        "ORDER BY o_orderkey"),
    "q17_last24h" ->
      (s"SELECT event_id, user_id, event_type, value, $tsUs AS ts FROM events " +
        s"WHERE epoch_us($tsUs) >= (SELECT max(epoch_us($tsUs)) FROM events) - 86400000000 " +
        "ORDER BY event_id"),
    "q18_topk" ->
      (s"SELECT c_custkey, c_name, ${dsum("o_totalprice")} AS revenue " +
        "FROM customer JOIN orders ON c_custkey = o_custkey GROUP BY c_custkey, c_name " +
        "ORDER BY revenue DESC, c_custkey LIMIT 10"),
    "q20_doc_dedup_exact" ->
      ("WITH r AS (SELECT doc_id, lang, source, row_number() OVER (PARTITION BY text ORDER BY doc_id) AS rn " +
        "FROM documents) SELECT doc_id, lang, source FROM r WHERE rn = 1 ORDER BY doc_id"),
    "q21_jaccard_neardup" -> q21OracleSql,
    "q22_topk_cosine" ->
      ("WITH q AS (SELECT vec_id AS qid, embedding AS qe FROM embeddings WHERE vec_id < 5), " +
        "t AS (SELECT vec_id AS tid, embedding AS te FROM embeddings WHERE vec_id >= 5), " +
        "px AS (SELECT qid, tid, unnest(qe) AS qx, unnest(te) AS tx FROM q, t), " +
        "d AS (SELECT qid, tid, sum(CAST(qx AS DOUBLE) * CAST(tx AS DOUBLE)) AS dot, " +
        "sqrt(sum(CAST(qx AS DOUBLE) * CAST(qx AS DOUBLE))) AS qn, " +
        "sqrt(sum(CAST(tx AS DOUBLE) * CAST(tx AS DOUBLE))) AS tn FROM px GROUP BY qid, tid), " +
        "r AS (SELECT qid, tid, floor((dot/(qn*tn))*10000 + 0.5)/10000 AS sim, " +
        "row_number() OVER (PARTITION BY qid ORDER BY floor((dot/(qn*tn))*10000 + 0.5)/10000 DESC, tid) AS rk FROM d) " +
        "SELECT qid, rk, tid, sim FROM r WHERE rk <= 10 ORDER BY qid, rk"),
    "q23_text_stats" ->
      ("WITH t AS (SELECT lang, unnest(string_split(text, ' ')) AS term FROM documents), " +
        "c AS (SELECT lang, term, count(*) AS n FROM t " +
        "WHERE term NOT IN ('the', 'a', 'of', 'and', 'in') AND term <> '' GROUP BY lang, term), " +
        "r AS (SELECT lang, term, n, row_number() OVER (PARTITION BY lang ORDER BY n DESC, term) AS rk FROM c) " +
        "SELECT lang, rk, term, n FROM r WHERE rk <= 5 ORDER BY lang, rk"),
    "q24_multimodal_cols" ->
      ("WITH x AS (SELECT vec_id, CAST(unnest(embedding) AS DOUBLE) AS v, len(embedding) AS dim FROM embeddings) " +
        "SELECT vec_id, CAST(dim AS BIGINT) AS dim, floor(sqrt(sum(v*v))*10000 + 0.5)/10000 AS norm, " +
        "floor((sum(v)/dim)*10000 + 0.5)/10000 AS mean FROM x GROUP BY vec_id, dim ORDER BY vec_id"),
    // q25/q26 are xxhash64-sketch-based — not expressible in DuckDB SQL;
    // declared without oracle (their exact-verify tail bounds them by q21).
    "q27_lang_id" ->
      ("WITH f AS (SELECT doc_id, lang, " +
        "floor((CAST(length(regexp_replace(lower(text), '[^aeiou]', '', 'g')) AS DOUBLE) / " +
        "length(regexp_replace(lower(text), '[^a-z]', '', 'g')))*10000 + 0.5)/10000 AS vowel_ratio, " +
        "floor((CAST(length(regexp_replace(lower(text), '[^a-z]', '', 'g')) AS DOUBLE) / " +
        "len(string_split(text, ' ')))*10000 + 0.5)/10000 AS avg_tok_len FROM documents) " +
        "SELECT doc_id, lang, vowel_ratio, avg_tok_len, " +
        "CASE WHEN vowel_ratio >= 0.42 THEN 'vowel-heavy' WHEN vowel_ratio >= 0.36 THEN 'balanced' " +
        "ELSE 'consonant-heavy' END AS pred_class FROM f ORDER BY doc_id"),
    "q28_quality_score" ->
      (s"WITH $qualityScoreCtes " +
        "SELECT doc_id, n_tokens, n_chars_text, avg_tok_len, stop_ratio, score " +
        "FROM qs ORDER BY doc_id"),
    "q29_token_count" ->
      ("SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS ws_tokens, " +
        "CAST(len(regexp_extract_all(text, '[a-z]+')) AS BIGINT) AS alpha_runs, " +
        "CAST(len(regexp_extract_all(text, '[0-9]+')) AS BIGINT) AS digit_runs, " +
        "CAST(len(regexp_extract_all(text, '[^a-z0-9 ]')) AS BIGINT) AS other_chars " +
        "FROM documents ORDER BY doc_id"),
    "q30_fingerprint" ->
      ("WITH t AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok, " +
        "generate_subscripts(string_split(text, ' '), 1) AS idx FROM documents), " +
        "f AS (SELECT doc_id, CAST(sum(idx*(ascii(substring(tok, 1, 1))*31 + length(tok))) % 1000000007 AS BIGINT) AS fp " +
        "FROM t GROUP BY doc_id) " +
        "SELECT f.doc_id, fp, CAST(len(string_split(d.text, ' ')) AS BIGINT) AS n_tokens " +
        "FROM f JOIN documents d ON f.doc_id = d.doc_id ORDER BY f.doc_id"),
    "q31_embed_neardup" ->
      ("WITH p AS (SELECT a.vec_id va, b.vec_id vb, a.embedding ea, b.embedding eb " +
        "FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id), " +
        "x AS (SELECT va, vb, unnest(ea) ax, unnest(eb) bx FROM p), " +
        "d AS (SELECT va, vb, sum(CAST(ax AS DOUBLE)*CAST(bx AS DOUBLE)) dot, " +
        "sqrt(sum(CAST(ax AS DOUBLE)*CAST(ax AS DOUBLE))) na, " +
        "sqrt(sum(CAST(bx AS DOUBLE)*CAST(bx AS DOUBLE))) nb FROM x GROUP BY va, vb) " +
        "SELECT va AS vec_a, vb AS vec_b, floor((dot/(na*nb))*10000 + 0.5)/10000 AS sim FROM d " +
        "ORDER BY sim DESC, vec_a, vec_b LIMIT 20"),
    "q32_ivf_ann" ->
      ("WITH c AS (SELECT vec_id AS cid, embedding AS ce FROM embeddings WHERE vec_id < 8), " +
        "q0 AS (SELECT vec_id AS qid, embedding AS qe FROM embeddings WHERE vec_id < 5), " +
        "t0 AS (SELECT vec_id AS tid, embedding AS te FROM embeddings WHERE vec_id >= 5), " +
        "tcx AS (SELECT tid, cid, unnest(te) tx, unnest(ce) cx FROM t0, c), " +
        "tc AS (SELECT tid, cid, sum(CAST(tx AS DOUBLE)*CAST(cx AS DOUBLE)) dot, " +
        "sqrt(sum(CAST(tx AS DOUBLE)*CAST(tx AS DOUBLE))) tn, sqrt(sum(CAST(cx AS DOUBLE)*CAST(cx AS DOUBLE))) cn " +
        "FROM tcx GROUP BY tid, cid), " +
        "ta AS (SELECT tid, cid FROM (SELECT tid, cid, row_number() OVER (PARTITION BY tid " +
        "ORDER BY floor((dot/(tn*cn))*10000 + 0.5)/10000 DESC, cid) rn FROM tc) WHERE rn = 1), " +
        "qcx AS (SELECT qid, cid, unnest(qe) qx, unnest(ce) cx FROM q0, c), " +
        "qc AS (SELECT qid, cid, sum(CAST(qx AS DOUBLE)*CAST(cx AS DOUBLE)) dot, " +
        "sqrt(sum(CAST(qx AS DOUBLE)*CAST(qx AS DOUBLE))) qn, sqrt(sum(CAST(cx AS DOUBLE)*CAST(cx AS DOUBLE))) cn " +
        "FROM qcx GROUP BY qid, cid), " +
        "qa AS (SELECT qid, cid FROM (SELECT qid, cid, row_number() OVER (PARTITION BY qid " +
        "ORDER BY floor((dot/(qn*cn))*10000 + 0.5)/10000 DESC, cid) rn FROM qc) WHERE rn = 1), " +
        "px AS (SELECT q0.qid, t0.tid, unnest(q0.qe) qx, unnest(t0.te) tx " +
        "FROM q0 JOIN qa USING (qid) JOIN ta ON qa.cid = ta.cid JOIN t0 ON t0.tid = ta.tid), " +
        "d AS (SELECT qid, tid, sum(CAST(qx AS DOUBLE)*CAST(tx AS DOUBLE)) dot, " +
        "sqrt(sum(CAST(qx AS DOUBLE)*CAST(qx AS DOUBLE))) qn, sqrt(sum(CAST(tx AS DOUBLE)*CAST(tx AS DOUBLE))) tn " +
        "FROM px GROUP BY qid, tid), " +
        "r AS (SELECT qid, tid, floor((dot/(qn*tn))*10000 + 0.5)/10000 AS sim, row_number() OVER (PARTITION BY qid " +
        "ORDER BY floor((dot/(qn*tn))*10000 + 0.5)/10000 DESC, tid) AS rk FROM d) " +
        "SELECT qid, rk, tid, sim FROM r WHERE rk <= 10 ORDER BY qid, rk"),
    "q33_multimodal_stub" ->
      ("SELECT doc_id, CAST(octet_length(CAST(text AS BLOB)) AS BIGINT) AS n_bytes, " +
        "CAST(ascii(substring(text, 1, 1)) AS BIGINT) AS first_byte, " +
        "floor(((octet_length(CAST(text AS BLOB)) % 97)/97.0)*10000 + 0.5)/10000 AS feat0, " +
        "floor(((ascii(substring(text, 1, 1)) % 31)/31.0)*10000 + 0.5)/10000 AS feat1 FROM documents ORDER BY doc_id"),
    "q34_rollup" ->
      (s"SELECT l_returnflag, l_linestatus, ${dsum("l_quantity")} AS sum_qty, count(*) AS n_rows " +
        "FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus) " +
        "ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST"),
    "q35_set_ops" ->
      ("WITH hi AS (SELECT c_custkey FROM customer WHERE c_acctbal > 7000), " +
        "b AS (SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING') " +
        "SELECT c_custkey, 'both' AS tag FROM (SELECT c_custkey FROM hi INTERSECT SELECT c_custkey FROM b) " +
        "UNION ALL SELECT c_custkey, 'only_hi' AS tag FROM (SELECT c_custkey FROM hi EXCEPT SELECT c_custkey FROM b) " +
        "UNION ALL SELECT c_custkey, 'only_building' AS tag FROM (SELECT c_custkey FROM b EXCEPT SELECT c_custkey FROM hi) " +
        "ORDER BY c_custkey, tag"),
    "q36_window_funcs" ->
      ("SELECT o_orderkey, o_custkey, row_number() OVER wo AS rn, " +
        "CAST(round(sum(CAST(o_totalprice AS DECIMAL(20,6))) OVER wr, 4) AS DOUBLE) AS running, " +
        "lag(o_totalprice, 1) OVER wo AS prev_price, lead(o_orderkey, 1) OVER wo AS next_key " +
        "FROM orders WINDOW wo AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey), " +
        "wr AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey " +
        "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) ORDER BY o_orderkey"),
    // q37 is semantically q04 computed skew-safely — same oracle, by design
    "q37_salted_agg" ->
      (s"SELECT user_id, ${davg("value")} AS avg_value, count(*) AS n_events, max($tsUs) AS max_ts " +
        "FROM events GROUP BY user_id ORDER BY user_id"),
    "q38_percentiles" ->
      (s"SELECT l_returnflag, ${rd4("quantile_cont(l_quantity, 0.5)")} AS med_qty, " +
        s"${rd4("quantile_cont(l_quantity, 0.9)")} AS p90_qty, " +
        s"${rd4("quantile_cont(l_extendedprice, 0.5)")} AS med_price, " +
        s"${rd4("quantile_cont(l_extendedprice, 0.9)")} AS p90_price " +
        "FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag"),
    // q38b rides Spark's approx_percentile sketch (engine-specific
    // register layout) — no DuckDB oracle; exact twin q38 plus the
    // AnalyticsSpec error-bound test are its correctness guards
    "q39_semi_join" ->
      ("SELECT c_custkey, c_name, c_mktsegment FROM customer " +
        "WHERE c_custkey IN (SELECT o_custkey FROM orders) ORDER BY c_custkey"),
    "q40_correlated_subquery" ->
      ("SELECT c_custkey, c_name, c_acctbal, c_mktsegment FROM customer c " +
        "WHERE CAST(c_acctbal AS DECIMAL(20,6)) * " +
        "(SELECT count(*) FROM customer c2 WHERE c2.c_mktsegment = c.c_mktsegment) " +
        "> (SELECT sum(CAST(c3.c_acctbal AS DECIMAL(20,6))) FROM customer c3 " +
        "WHERE c3.c_mktsegment = c.c_mktsegment) ORDER BY c_custkey"),
    "q41_tumbling_window" ->
      (s"SELECT time_bucket(INTERVAL '6 hours', $tsUs, TIMESTAMP '1970-01-01') AS window_start, " +
        s"time_bucket(INTERVAL '6 hours', $tsUs, TIMESTAMP '1970-01-01') + INTERVAL '6 hours' AS window_end, " +
        s"count(*) AS n_events, ${davg("value")} AS avg_value FROM events " +
        s"GROUP BY time_bucket(INTERVAL '6 hours', $tsUs, TIMESTAMP '1970-01-01') ORDER BY window_start"),
    "q42_asof_join" ->
      (s"WITH c AS (SELECT user_id, event_id, $tsUs AS ts, value FROM events WHERE event_type = 'click'), " +
        s"p AS (SELECT user_id, event_id AS p_event_id, $tsUs AS p_ts, value AS p_value FROM events " +
        "WHERE event_type = 'purchase') " +
        "SELECT c.user_id, c.event_id, c.ts, c.value, p.p_event_id, p.p_ts, p.p_value " +
        "FROM c ASOF LEFT JOIN p ON c.user_id = p.user_id AND c.ts >= p.p_ts " +
        "ORDER BY c.event_id"),
    "q43_range_join" ->
      (s"WITH e AS (SELECT user_id, event_id, $tsUs AS ts FROM events) " +
        "SELECT a.user_id, a.event_id, b.event_id AS b_event_id, " +
        "(epoch_us(b.ts) - epoch_us(a.ts)) // 1000000 AS gap_s " +
        "FROM e a JOIN e b ON a.user_id = b.user_id " +
        "AND b.ts > a.ts AND b.ts <= a.ts + INTERVAL 1 DAY " +
        "ORDER BY a.event_id, b_event_id"),
    "q44_full_outer_join" ->
      ("WITH bld AS (SELECT c_custkey, c_name FROM customer WHERE c_mktsegment = 'BUILDING'), " +
        s"stats AS (SELECT o_custkey, count(*) AS n_orders, ${dsum("o_totalprice")} AS total_spent " +
        "FROM orders WHERE o_orderstatus = 'P' GROUP BY o_custkey) " +
        "SELECT coalesce(c_custkey, o_custkey) AS custkey, c_name, n_orders, total_spent " +
        "FROM bld FULL OUTER JOIN stats ON c_custkey = o_custkey ORDER BY custkey"),
    "q45_cube" ->
      (s"SELECT l_returnflag, l_linestatus, ${dsum("l_quantity")} AS sum_qty, count(*) AS n_rows, " +
        "CAST(GROUPING(l_returnflag, l_linestatus) AS BIGINT) AS gid " +
        "FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus) " +
        "ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST, gid"),
    "q46_sliding_frame" ->
      (s"SELECT user_id, event_id, count(*) OVER w AS n_frame, " +
        "CAST(round(sum(CAST(value AS DECIMAL(20,6))) OVER w, 4) AS DOUBLE) AS mov_sum, " +
        "min(value) OVER w AS mov_min, max(value) OVER w AS mov_max FROM events " +
        s"WINDOW w AS (PARTITION BY user_id ORDER BY $tsUs, event_id " +
        "ROWS BETWEEN 2 PRECEDING AND 2 FOLLOWING) ORDER BY event_id"),
    // q47 is HLL-sketch-based (engine-specific register layout) — no
    // DuckDB oracle; driver records a rows-only check, like q25/q26.
    "q48_pivot" -> {
      def cell(t: String) =
        s"CAST(round(sum(CASE WHEN event_type = '$t' THEN CAST(value AS DECIMAL(20,6)) END), 4) " +
          s"AS DOUBLE) AS $t"
      "SELECT user_id, " + Seq("click", "error", "purchase", "signup", "view").map(cell).mkString(", ") +
        " FROM events GROUP BY user_id ORDER BY user_id"
    },
    "q49_unpivot" ->
      ("WITH u AS (" +
        "SELECT l_orderkey, l_linenumber, 'l_quantity' AS metric, l_quantity AS val FROM lineitem " +
        "UNION ALL SELECT l_orderkey, l_linenumber, 'l_discount', l_discount FROM lineitem " +
        "UNION ALL SELECT l_orderkey, l_linenumber, 'l_tax', l_tax FROM lineitem) " +
        "SELECT * FROM u ORDER BY l_orderkey, l_linenumber, metric, val"),
    // q50's draw is the shared deterministic hash term (q190/q195's
    // (doc_id mod p)·K mod p) against integer thresholds — pure
    // function of the keys, so DuckDB replays it exactly
    "q50_stratified_sample" ->
      ("SELECT doc_id, lang, source FROM (SELECT doc_id, lang, source, " +
        "(doc_id % 1000000007) * 2654435761 % 1000000007 AS h FROM documents) " +
        "WHERE (lang = 'en' AND h * 2 < 1000000007) " +
        "OR (lang = 'de' AND h * 4 < 1000000007) " +
        "OR (lang = 'fr' AND h * 10 < 1000000007) ORDER BY doc_id"),
    "q51_bag_set_ops" ->
      ("WITH r AS (SELECT l_partkey FROM lineitem WHERE l_returnflag = 'R'), " +
        "a AS (SELECT l_partkey FROM lineitem WHERE l_returnflag = 'A'), " +
        "u AS (SELECT l_partkey, 'intersect_all' AS tag FROM " +
        "(SELECT l_partkey FROM r INTERSECT ALL SELECT l_partkey FROM a) " +
        "UNION ALL SELECT l_partkey, 'except_all' FROM " +
        "(SELECT l_partkey FROM r EXCEPT ALL SELECT l_partkey FROM a)) " +
        "SELECT l_partkey, tag FROM u ORDER BY tag, l_partkey"),
    "q52_grouping_sets" ->
      (s"SELECT l_returnflag, l_linestatus, ${dsum("l_quantity")} AS sum_qty, count(*) AS n_rows, " +
        "CAST(GROUPING(l_returnflag, l_linestatus) AS BIGINT) AS gid " +
        "FROM lineitem GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus)) " +
        "ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST, gid"),
    "q53_tfidf" ->
      ("WITH tf AS (SELECT doc_id, term, count(*) AS tf FROM (" +
        "SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents) u " +
        "WHERE term <> '' GROUP BY doc_id, term), " +
        "d AS (SELECT term AS dterm, count(*) AS df FROM tf GROUP BY term), " +
        "n AS (SELECT count(*) AS n_docs FROM documents), " +
        s"s AS (SELECT doc_id, term, ${rd4("tf * ln(CAST(n_docs AS DOUBLE) / df)")} AS score " +
        "FROM tf, d, n WHERE tf.term = d.dterm) " +
        "SELECT doc_id, rk, term, score FROM (SELECT doc_id, term, score, " +
        "row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, term) AS rk FROM s) t " +
        "WHERE rk <= 3 ORDER BY doc_id, rk"),
    "q54_hash_sample" ->
      ("SELECT doc_id, lang, source FROM (SELECT doc_id, lang, source, " +
        "row_number() OVER (PARTITION BY lang ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rk " +
        "FROM documents) t WHERE rk <= 20 ORDER BY doc_id"),
    // q111: lowercase md5 hex sorts as its numeric value, so the fixed
    // threshold strings are engine-portable (q54's md5 convention)
    "q111_hash_split" ->
      ("SELECT doc_id, CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) < 'fb' THEN 'train' " +
        "WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) < 'fd' THEN 'val' " +
        "ELSE 'test' END AS split FROM documents ORDER BY doc_id"),
    "q55_shingle_neardup" -> q55OracleSql,
    "q58_corpus_stats" ->
      ("SELECT source, lang, count(*) AS n_docs, " +
        "CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS total_tokens, " +
        "CAST(sum(length(text)) AS BIGINT) AS total_chars, " +
        s"${davg("len(string_split(text, ' '))")} AS avg_tokens " +
        "FROM documents GROUP BY source, lang ORDER BY source, lang"),
    // q59's oracle joins on the string token sets; the engine joins on
    // the xxhash64-relabeled sets — set equality is invariant
    "q59_cross_source_overlap" ->
      ("WITH h AS (SELECT DISTINCT source, list_sort(list_distinct(string_split(text, ' '))) AS toks " +
        "FROM documents) " +
        "SELECT a.source AS source_a, b.source AS source_b, count(*) AS n_shared " +
        "FROM h a JOIN h b ON a.toks = b.toks AND a.source <> b.source " +
        "GROUP BY 1, 2 ORDER BY 1, 2"),
    "q60_topk_per_group" ->
      ("SELECT c_mktsegment, rk, c_custkey, c_name, c_acctbal FROM (" +
        "SELECT c_mktsegment, c_custkey, c_name, c_acctbal, " +
        "row_number() OVER (PARTITION BY c_mktsegment ORDER BY c_acctbal DESC, c_custkey) AS rk " +
        "FROM customer) t WHERE rk <= 3 ORDER BY c_mktsegment, rk"),
    // q61's salt is invariant by construction: the oracle is the plain
    // unsalted join of each event to its type's average
    "q61_salted_join" ->
      (s"WITH a AS (SELECT event_type, ${davg("value")} AS type_avg FROM events GROUP BY event_type) " +
        "SELECT e.event_id, e.event_type, e.value, " +
        s"${rd4("e.value - a.type_avg")} AS delta_vs_type " +
        "FROM events e JOIN a USING (event_type) ORDER BY e.event_id"),
    // q68: DuckDB has no BLOB substring, so the oracle byte-slices via
    // the hex round-trip (2 hex chars = 1 byte: hex → VARCHAR substring
    // → unhex) — exact for ANY UTF-8 content, no ASCII assumption; both
    // sides emit unwrapped base64
    "q68_frame_sample" ->
      ("WITH x AS (SELECT doc_id, hex(encode(text)) AS hx, " +
        "UNNEST(range(0, (octet_length(encode(text)) + 15) // 16)) AS frame_id " +
        "FROM documents WHERE octet_length(encode(text)) > 0) " +
        "SELECT doc_id, frame_id, frame_id * 16 AS byte_offset, " +
        "to_base64(unhex(substring(hx, CAST(frame_id*32 + 1 AS INT), 32))) AS frame_b64 " +
        "FROM x WHERE frame_id % 3 = 0 ORDER BY doc_id, frame_id"),
    "q69_shipping_priority" ->
      (s"SELECT l_orderkey, ${dsum("l_extendedprice*(1-l_discount)")} AS revenue, " +
        "o_orderdate, o_orderpriority " +
        "FROM customer JOIN orders ON c_custkey = o_custkey " +
        "JOIN lineitem ON l_orderkey = o_orderkey " +
        "WHERE c_mktsegment = 'BUILDING' AND o_orderdate < TIMESTAMP '1998-06-01' " +
        "AND l_shipdate > TIMESTAMP '1998-06-01' " +
        "GROUP BY l_orderkey, o_orderdate, o_orderpriority " +
        "ORDER BY revenue DESC, o_orderdate, l_orderkey LIMIT 10"),
    "q70_local_supplier_volume" ->
      (s"SELECT n_name, ${dsum("l_extendedprice*(1-l_discount)")} AS revenue " +
        "FROM customer, orders, lineitem, supplier, nation, region " +
        "WHERE c_custkey = o_custkey AND l_orderkey = o_orderkey AND l_suppkey = s_suppkey " +
        "AND c_nationkey = s_nationkey AND s_nationkey = n_nationkey " +
        "AND n_regionkey = r_regionkey AND r_name = 'ASIA' " +
        "AND o_orderdate >= TIMESTAMP '1996-01-01' AND o_orderdate < TIMESTAMP '1997-01-01' " +
        "GROUP BY n_name ORDER BY revenue DESC, n_name"),
    "q73_returned_items" ->
      (s"SELECT c_custkey, c_name, ${dsum("l_extendedprice*(1-l_discount)")} AS revenue, " +
        "c_acctbal, n_name " +
        "FROM customer, orders, lineitem, nation " +
        "WHERE c_custkey = o_custkey AND l_orderkey = o_orderkey " +
        "AND o_orderdate >= TIMESTAMP '1996-01-01' AND o_orderdate < TIMESTAMP '1996-07-01' " +
        "AND l_returnflag = 'R' AND c_nationkey = n_nationkey " +
        "GROUP BY c_custkey, c_name, c_acctbal, n_name " +
        "ORDER BY revenue DESC, c_custkey LIMIT 20"),
    "q74_late_shipments" ->
      ("SELECT o_orderpriority, " +
        "CAST(sum(CASE WHEN l_shipdate > o_orderdate + INTERVAL '90 days' THEN 1 ELSE 0 END) AS BIGINT) AS late_lines, " +
        "count(*) AS total_lines " +
        "FROM orders JOIN lineitem ON l_orderkey = o_orderkey " +
        "GROUP BY o_orderpriority ORDER BY o_orderpriority"),
    // q75: the percentage divides the two ALREADY-4dp-rounded doubles
    // ((100*p)/t, left-assoc on both sides), so the quotient is IEEE-
    // identical cross-engine before its own rd4
    "q75_promo_revenue" ->
      (s"WITH s AS (SELECT " +
        s"${dsum("CASE WHEN p_type = 'PROMO' THEN l_extendedprice*(1-l_discount) ELSE 0 END")} AS promo_revenue, " +
        s"${dsum("l_extendedprice*(1-l_discount)")} AS total_revenue " +
        "FROM lineitem JOIN part ON l_partkey = p_partkey " +
        "WHERE l_shipdate >= TIMESTAMP '1996-09-01' AND l_shipdate < TIMESTAMP '1996-10-01') " +
        "SELECT promo_revenue, total_revenue, " +
        s"${rd4("100*promo_revenue/total_revenue")} AS promo_pct FROM s"),
    "q76_disjunctive_predicates" ->
      (s"SELECT ${dsum("l_extendedprice*(1-l_discount)")} AS revenue, count(*) AS n_lines " +
        "FROM lineitem JOIN part ON l_partkey = p_partkey " +
        "WHERE (p_brand = 'Brand#11' AND p_size BETWEEN 1 AND 15 AND l_quantity BETWEEN 1 AND 11) " +
        "OR (p_brand = 'Brand#22' AND p_size BETWEEN 1 AND 25 AND l_quantity BETWEEN 10 AND 20) " +
        "OR (p_brand = 'Brand#6' AND p_size BETWEEN 1 AND 50 AND l_quantity BETWEEN 20 AND 30)"),
    "q77_large_orders" ->
      (s"WITH big AS (SELECT l_orderkey, ${dsum("l_quantity")} AS sum_qty " +
        s"FROM lineitem GROUP BY l_orderkey HAVING ${dsum("l_quantity")} > 200) " +
        "SELECT c_custkey, c_name, o_orderkey, o_orderdate, o_totalprice, sum_qty " +
        "FROM orders JOIN big ON o_orderkey = l_orderkey " +
        "JOIN customer ON c_custkey = o_custkey ORDER BY o_orderkey"),
    "q78_no_order_customers" ->
      ("WITH cust AS (SELECT c_custkey, c_mktsegment, c_acctbal FROM customer " +
        "WHERE c_mktsegment IN ('BUILDING', 'AUTOMOBILE', 'MACHINERY')), " +
        s"a AS (SELECT ${davg("c_acctbal")} AS avg_bal FROM cust WHERE c_acctbal > 0) " +
        "SELECT c_mktsegment, count(*) AS numcust, " +
        s"${dsum("c_acctbal")} AS totacctbal " +
        "FROM cust CROSS JOIN a WHERE c_acctbal > avg_bal " +
        "AND NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey " +
        "AND o_orderdate >= TIMESTAMP '2000-01-01') " +
        "GROUP BY c_mktsegment ORDER BY c_mktsegment"),
    // q79: string n-grams stand in for the engine's hashed n-grams —
    // multiset counts are invariant under the injective relabeling
    // (space-joined space-free tokens <-> chained word hashes)
    "q79_repetition_stats" ->
      ("WITH toks AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents), " +
        "g2 AS (SELECT doc_id, UNNEST([w[i] || ' ' || w[i+1] for i in range(1, len(w))]) AS g FROM toks), " +
        "g3 AS (SELECT doc_id, UNNEST([w[i] || ' ' || w[i+1] || ' ' || w[i+2] " +
        "for i in range(1, len(w)-1)]) AS g FROM toks), " +
        "c2a AS (SELECT doc_id, g, count(*) AS c FROM g2 GROUP BY doc_id, g), " +
        "c2 AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS total2, count(*) AS dist2, " +
        "CAST(max(c) AS BIGINT) AS max2 FROM c2a GROUP BY doc_id), " +
        "c3a AS (SELECT doc_id, g, count(*) AS c FROM g3 GROUP BY doc_id, g), " +
        "c3 AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS total3, count(*) AS dist3 " +
        "FROM c3a GROUP BY doc_id), " +
        "f AS (SELECT t.doc_id, coalesce(total2, 0) AS n_2grams, " +
        "CASE WHEN coalesce(total2, 0) > 0 THEN " +
        s"${rd4("CAST(total2 - dist2 AS DOUBLE) / total2")} ELSE 0.0 END AS dup_2gram_frac, " +
        "CASE WHEN coalesce(total2, 0) > 0 THEN " +
        s"${rd4("CAST(max2 AS DOUBLE) / total2")} ELSE 0.0 END AS top_2gram_frac, " +
        "CASE WHEN coalesce(total3, 0) > 0 THEN " +
        s"${rd4("CAST(total3 - dist3 AS DOUBLE) / total3")} ELSE 0.0 END AS dup_3gram_frac " +
        "FROM toks t LEFT JOIN c2 ON t.doc_id = c2.doc_id LEFT JOIN c3 ON t.doc_id = c3.doc_id) " +
        "SELECT doc_id, n_2grams, dup_2gram_frac, top_2gram_frac, dup_3gram_frac, " +
        "(dup_2gram_frac <= 0.6 AND top_2gram_frac <= 0.2 AND dup_3gram_frac <= 0.55) AS keep " +
        "FROM f ORDER BY doc_id"),
    // q80: the oracle's single window cumsum IS the semantics; the
    // engine computes the same prefix sum distributed (bucketed
    // two-level) — all-integer, so the equality is exact
    "q80_sequence_pack" ->
      ("WITH t AS (SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens " +
        "FROM documents), " +
        "c AS (SELECT doc_id, n_tokens, CAST(sum(n_tokens) OVER " +
        "(ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_tokens AS BIGINT) " +
        "AS start_token FROM t) " +
        "SELECT doc_id, n_tokens, start_token, start_token // 2048 AS seq_id, " +
        "start_token % 2048 AS seq_offset, " +
        "(start_token + n_tokens - 1) // 2048 - start_token // 2048 + 1 AS n_seqs_spanned " +
        "FROM c ORDER BY doc_id"),
    // q105/q106: the BPE replay SQL is GENERATED from TrainingData.
    // BpeMerges (see bpeMergedSql) — one source of truth for both sides
    "q105_bpe_tokens" ->
      (s"WITH $bpeMergesCte, t AS (SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS ws_tokens, " +
        s"$bpeTokSql AS bpe_tokens FROM documents) " +
        s"SELECT doc_id, ws_tokens, bpe_tokens, " +
        s"${rd4("CAST(bpe_tokens AS DOUBLE)/ws_tokens")} AS tokens_per_word " +
        "FROM t ORDER BY doc_id"),
    "q106_bpe_pack" ->
      (s"WITH $bpeMergesCte, t AS (SELECT doc_id, $bpeTokSql AS n_tokens FROM documents), " +
        "c AS (SELECT doc_id, n_tokens, CAST(sum(n_tokens) OVER " +
        "(ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_tokens AS BIGINT) " +
        "AS start_token FROM t) " +
        "SELECT doc_id, n_tokens, start_token, start_token // 2048 AS seq_id, " +
        "start_token % 2048 AS seq_offset, " +
        "(start_token + n_tokens - 1) // 2048 - start_token // 2048 + 1 AS n_seqs_spanned " +
        "FROM c ORDER BY doc_id"),
    // q118: q106's packing CTE, each doc exploded over the sequences it
    // spans (UNNEST(range(..)) — lateral args), boundary-split token
    // attribution, md5-first-hex-char shard via the same 16-char
    // position lookup the engine uses (no numeric hex conversion)
    "q118_shard_manifest" -> q118OracleSql,
    // q119: hit-count exprs and the argmax CASE generated from
    // TrainingData.LangTrigramProfiles (langHitSql/langPickSql)
    "q119_lang_trigram" ->
      ("WITH t0 AS (SELECT doc_id, lower(text) AS t FROM documents), " +
        "s AS (SELECT doc_id, " +
        graft.ops.TrainingData.LangTrigramProfiles.map { case (l, gs) =>
          s"CAST(${langHitSql(gs)} AS BIGINT) AS ${l}_hits" }.mkString(", ") +
        " FROM t0) " +
        "SELECT doc_id, en_hits, fr_hits, de_hits, es_hits, " +
        s"$langPickSql AS lang_pred FROM s ORDER BY doc_id"),
    // q81: digest equality == text equality (sha2-256, the q20
    // convention), so the oracle joins on text directly
    "q81_incremental_dedup" ->
      ("WITH idx AS (SELECT 'src' || CAST(UNNEST(range(0, 10)) AS VARCHAR) AS s), " +
        "batch AS (SELECT doc_id, source, text, " +
        "row_number() OVER (PARTITION BY text ORDER BY doc_id) AS rn " +
        "FROM documents WHERE source NOT IN (SELECT s FROM idx)) " +
        "SELECT doc_id, source FROM batch b WHERE rn = 1 " +
        "AND NOT EXISTS (SELECT 1 FROM documents d WHERE d.source IN (SELECT s FROM idx) " +
        "AND d.text = b.text) ORDER BY doc_id"),
    // q82: distinct string 4-grams per doc <-> the kernel's deduped
    // hashed 4-grams (same relabeling argument as q79)
    "q82_decontaminate" ->
      ("WITH toks AS (SELECT doc_id, source, string_split(text, ' ') AS w FROM documents), " +
        "g AS (SELECT doc_id, source, UNNEST(list_distinct(" +
        "[array_to_string(w[i:i+3], ' ') for i in range(1, len(w)-2)])) AS g FROM toks) " +
        "SELECT t.doc_id, count(DISTINCT t.g) AS n_shared_ngrams, " +
        "count(DISTINCT e.doc_id) AS n_eval_docs_hit " +
        "FROM (SELECT * FROM g WHERE source <> 'src19') t " +
        "JOIN (SELECT * FROM g WHERE source = 'src19') e ON t.g = e.g " +
        "GROUP BY t.doc_id ORDER BY t.doc_id"),
    // q71: per-token surprisal floored to 6 dp BEFORE the decimal mean,
    // so the aggregate is exact on both engines
    "q71_unigram_surprisal" ->
      ("WITH tok0 AS (SELECT doc_id, UNNEST(string_split(text, ' ')) AS term FROM documents), " +
        "tok AS (SELECT doc_id, term FROM tok0 WHERE term <> ''), " +
        "v AS (SELECT term, count(*) AS cnt FROM tok GROUP BY term), " +
        "tot AS (SELECT CAST(sum(cnt) AS BIGINT) AS n FROM v), " +
        "s AS (SELECT doc_id, " +
        "floor((ln(CAST(n AS DOUBLE)) - ln(CAST(cnt AS DOUBLE)))*1000000 + 0.5)/1000000 AS surp " +
        "FROM tok JOIN v USING (term) CROSS JOIN tot) " +
        s"SELECT doc_id, count(*) AS n_tokens, ${davg("surp")} AS avg_surprisal " +
        "FROM s GROUP BY doc_id ORDER BY doc_id"),
    // q112: six stages, one statement — scrub+gate+dedup (q67's CTEs),
    // the shared span chain re-rooted on the deduped survivors
    // (spanCtesFrom("ded")), the >= MinTokens re-gate on `ag`, q64's
    // chunk windows, and the generated BPE replay over each chunk
    // (aliased AS text, the q109 trick)
    "q112_prep_pipeline_v2" ->
      (s"WITH $bpeMergesCte, scrub AS (SELECT doc_id, " +
        "regexp_replace(regexp_replace(regexp_replace(text, " +
        "'[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}', '<EMAIL>', 'g'), " +
        "'\\+?[0-9][0-9 -]{6,}[0-9]', '<PHONE>', 'g'), " +
        "'customer|user', '<PII>', 'g') AS clean_text FROM documents), " +
        "flt AS (SELECT doc_id, clean_text FROM scrub " +
        "WHERE len(string_split(clean_text, ' ')) >= 10), " +
        "ded AS (SELECT doc_id, clean_text AS text FROM (SELECT doc_id, clean_text, " +
        "row_number() OVER (PARTITION BY clean_text ORDER BY doc_id) AS rn FROM flt) WHERE rn = 1), " +
        spanCtesFrom("ded") + ", " +
        "cut AS (SELECT doc_id, string_split(clean_text, ' ') AS w FROM ag WHERE n_kept >= 10), " +
        "x AS (SELECT doc_id, w, UNNEST(range(0, ((greatest(len(w) - 16, 0) + 11) // 12) + 1)) " +
        "AS chunk_id FROM cut), " +
        "x2 AS (SELECT doc_id, chunk_id, " +
        "CAST(len(w[chunk_id*12 + 1 : chunk_id*12 + 16]) AS BIGINT) AS n_tokens, " +
        "array_to_string(w[chunk_id*12 + 1 : chunk_id*12 + 16], ' ') AS text FROM x) " +
        s"SELECT doc_id, chunk_id, n_tokens, text AS chunk_text, $bpeTokSql AS bpe_tokens " +
        "FROM x2 ORDER BY doc_id, chunk_id"),
    // q113: q28's feature/score SQL with source riding along, then the
    // per-source cap window — both engines rank the ROUNDED score
    "q113_source_cap" ->
      ("WITH f AS (SELECT doc_id, source, CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens, " +
        "floor((CAST(length(replace(text, ' ', '')) AS DOUBLE)/len(string_split(text, ' ')))*10000 + 0.5)/10000 AS avg_tok_len, " +
        "floor((CAST(len(list_filter(string_split(text, ' '), t -> t IN ('the', 'a', 'of', 'and', 'in'))) AS DOUBLE)" +
        "/len(string_split(text, ' ')))*10000 + 0.5)/10000 AS stop_ratio FROM documents), " +
        "sc AS (SELECT doc_id, source, n_tokens, " +
        "floor((2.0*stop_ratio + CASE WHEN avg_tok_len BETWEEN 3.0 AND 8.0 THEN 1.0 ELSE 0.0 END + " +
        "CASE WHEN n_tokens BETWEEN 20 AND 500 THEN 1.0 ELSE 0.0 END)*10000 + 0.5)/10000 AS score FROM f), " +
        "r AS (SELECT source, doc_id, score, n_tokens, " +
        "row_number() OVER (PARTITION BY source ORDER BY score DESC, doc_id) AS rk FROM sc) " +
        "SELECT source, CAST(rk AS BIGINT) AS rk, doc_id, score, n_tokens FROM r " +
        "WHERE rk <= 15 ORDER BY source, rk"),
    // q114: bucket = md5-hex-prefix STRING (q111's engine-agnostic
    // hash), log ratio = ONE ln over the exact-integer cross-multiplied
    // ratio, floored to 6 dp before the decimal mean (q71's convention)
    "q114_dsir_importance" ->
      ("WITH t AS (SELECT doc_id, source, string_split(text, ' ') AS w FROM documents), " +
        "b0 AS (SELECT doc_id, source, UNNEST(w[1 : len(w) - 1]) AS w1, UNNEST(w[2 : len(w)]) AS w2 FROM t), " +
        "b AS (SELECT doc_id, substr(md5(w1 || ' ' || w2), 1, 2) AS bucket, source FROM b0), " +
        "s AS (SELECT bucket, count(*) AS cr, " +
        "sum(CASE WHEN source IN ('src0', 'src1', 'src2', 'src3') THEN 1 ELSE 0 END) AS ct FROM b GROUP BY bucket), " +
        "tot AS (SELECT CAST(sum(cr) AS BIGINT) AS r, CAST(sum(ct) AS BIGINT) AS tt FROM s), " +
        "l AS (SELECT bucket, floor(ln(CAST((ct+1)*(r+256) AS DOUBLE)/CAST((cr+1)*(tt+256) AS DOUBLE))" +
        "*1000000 + 0.5)/1000000 AS lr FROM s CROSS JOIN tot), " +
        "d AS (SELECT doc_id, lr FROM b JOIN l USING (bucket)) " +
        s"SELECT doc_id, count(*) AS n_bigrams, ${davgS("lr")} AS dsir_weight " +
        "FROM d GROUP BY doc_id ORDER BY doc_id"),
    // q121: q114's weight CTEs + source join, top-200 by (weight DESC,
    // doc_id), rank assigned over the selected rows
    "q121_dsir_resample" ->
      ("WITH t AS (SELECT doc_id, source, string_split(text, ' ') AS w FROM documents), " +
        "b0 AS (SELECT doc_id, source, UNNEST(w[1 : len(w) - 1]) AS w1, UNNEST(w[2 : len(w)]) AS w2 FROM t), " +
        "b AS (SELECT doc_id, substr(md5(w1 || ' ' || w2), 1, 2) AS bucket, source FROM b0), " +
        "s AS (SELECT bucket, count(*) AS cr, " +
        "sum(CASE WHEN source IN ('src0', 'src1', 'src2', 'src3') THEN 1 ELSE 0 END) AS ct FROM b GROUP BY bucket), " +
        "tot AS (SELECT CAST(sum(cr) AS BIGINT) AS r, CAST(sum(ct) AS BIGINT) AS tt FROM s), " +
        "l AS (SELECT bucket, floor(ln(CAST((ct+1)*(r+256) AS DOUBLE)/CAST((cr+1)*(tt+256) AS DOUBLE))" +
        "*1000000 + 0.5)/1000000 AS lr FROM s CROSS JOIN tot), " +
        "d AS (SELECT doc_id, lr FROM b JOIN l USING (bucket)), " +
        s"ww AS (SELECT doc_id, count(*) AS n_bigrams, ${davgS("lr")} AS dsir_weight " +
        "FROM d GROUP BY doc_id), " +
        "pk AS (SELECT ww.doc_id, doc.source, n_bigrams, dsir_weight FROM ww " +
        "JOIN documents doc ON ww.doc_id = doc.doc_id " +
        "ORDER BY dsir_weight DESC, ww.doc_id LIMIT 200) " +
        "SELECT row_number() OVER (ORDER BY dsir_weight DESC, doc_id) AS pick_rank, " +
        "doc_id, source, n_bigrams, dsir_weight FROM pk ORDER BY pick_rank"),
    // q115: q22's unnest-zip dot products over all ordered pairs, k=5
    // neighbor window on the rounded sim, majority vote with
    // (votes DESC, label ASC) tie-break
    "q115_knn_label" ->
      ("WITH px AS (SELECT a.vec_id AS qid, a.label AS qlbl, b.vec_id AS tid, b.label AS tlbl, " +
        "unnest(a.embedding) AS qx, unnest(b.embedding) AS tx " +
        "FROM embeddings a, embeddings b WHERE a.vec_id <> b.vec_id), " +
        "d AS (SELECT qid, qlbl, tid, tlbl, sum(CAST(qx AS DOUBLE) * CAST(tx AS DOUBLE)) AS dot, " +
        "sqrt(sum(CAST(qx AS DOUBLE) * CAST(qx AS DOUBLE))) AS qn, " +
        "sqrt(sum(CAST(tx AS DOUBLE) * CAST(tx AS DOUBLE))) AS tn FROM px GROUP BY qid, qlbl, tid, tlbl), " +
        "r AS (SELECT qid, qlbl, tlbl, row_number() OVER (PARTITION BY qid " +
        "ORDER BY floor((dot/(qn*tn))*10000 + 0.5)/10000 DESC, tid) AS rk FROM d), " +
        "v AS (SELECT qid, qlbl, tlbl, count(*) AS votes FROM r WHERE rk <= 5 GROUP BY qid, qlbl, tlbl), " +
        "p AS (SELECT qid, qlbl, tlbl, votes, row_number() OVER (PARTITION BY qid " +
        "ORDER BY votes DESC, tlbl) AS pr FROM v) " +
        "SELECT qid AS vec_id, qlbl AS label, tlbl AS pred_label, CAST(votes AS BIGINT) AS votes, " +
        "tlbl = qlbl AS correct FROM p WHERE pr = 1 ORDER BY vec_id"),
    // q116: per-term log ratio = one ln over exact-integer cross
    // products, floored 6 dp; KL = cs-weighted exact-decimal mean
    "q116_source_divergence" ->
      ("WITH tok AS (SELECT source, UNNEST(string_split(text, ' ')) AS term FROM documents), " +
        "st AS (SELECT source, term, count(*) AS cs FROM tok WHERE term <> '' GROUP BY source, term), " +
        "ct AS (SELECT term, CAST(sum(cs) AS BIGINT) AS c FROM st GROUP BY term), " +
        "ss AS (SELECT source, CAST(sum(cs) AS BIGINT) AS s FROM st GROUP BY source), " +
        "tot AS (SELECT CAST(sum(cs) AS BIGINT) AS n FROM st), " +
        "j AS (SELECT st.source, cs, s, " +
        "floor(ln(CAST(cs*n AS DOUBLE)/CAST(c*s AS DOUBLE))*1000000 + 0.5)/1000000 AS lr " +
        "FROM st JOIN ct USING (term) JOIN ss ON ss.source = st.source CROSS JOIN tot) " +
        s"SELECT source, max(s) AS n_tokens, count(*) AS n_terms, ${wavgS("cs", "lr")} AS kl_divergence " +
        "FROM j GROUP BY source ORDER BY source"),
    // q110: parallel UNNESTs of the two slices zip into bigram pairs;
    // the interpolation arithmetic is written with identical casts and
    // operation order on both sides so the doubles match bit-for-bit
    "q110_bigram_surprisal" ->
      ("WITH t AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents), " +
        "b0 AS (SELECT doc_id, UNNEST(w[1 : len(w) - 1]) AS w1, UNNEST(w[2 : len(w)]) AS w2 FROM t), " +
        "uni AS (SELECT UNNEST(w) AS term FROM t), " +
        "u AS (SELECT term, count(*) AS cu FROM uni WHERE term <> '' GROUP BY term), " +
        "tot AS (SELECT CAST(sum(cu) AS BIGINT) AS n FROM u), " +
        "st AS (SELECT w1, count(*) AS cstart FROM b0 GROUP BY w1), " +
        "bc AS (SELECT w1, w2, count(*) AS cb FROM b0 GROUP BY w1, w2), " +
        "s AS (SELECT doc_id, floor((-ln(0.75*(CAST(cb AS DOUBLE)/CAST(cstart AS DOUBLE)) " +
        "+ 0.25*(CAST(cu AS DOUBLE)/CAST(n AS DOUBLE))))*1000000 + 0.5)/1000000 AS surp " +
        "FROM b0 JOIN bc USING (w1, w2) JOIN st USING (w1) " +
        "JOIN u ON u.term = b0.w2 CROSS JOIN tot) " +
        s"SELECT doc_id, count(*) AS n_bigrams, ${davg("surp")} AS avg_surprisal " +
        "FROM s GROUP BY doc_id ORDER BY doc_id"),
    // q72: exact vs near drops classified by identical-token-set vs
    // Jaccard >= 0.8 partner with a smaller doc_id (q56's rule)
    "q72_dedup_report" ->
      ("WITH t AS (SELECT doc_id, source, list_sort(list_distinct(string_split(text, ' '))) AS toks " +
        "FROM documents), " +
        "ex AS (SELECT DISTINCT b.doc_id FROM t a JOIN t b ON a.doc_id < b.doc_id AND a.toks = b.toks), " +
        "dr AS (SELECT DISTINCT b.doc_id FROM t a JOIN t b ON a.doc_id < b.doc_id AND " +
        "CAST(len(list_intersect(a.toks, b.toks)) AS DOUBLE) / " +
        "(len(a.toks) + len(b.toks) - len(list_intersect(a.toks, b.toks))) >= 0.8), " +
        "g AS (SELECT source, count(*) AS n_docs, " +
        "CAST(sum(CASE WHEN doc_id IN (SELECT doc_id FROM ex) THEN 1 ELSE 0 END) AS BIGINT) AS n_exact_dropped, " +
        "CAST(sum(CASE WHEN doc_id IN (SELECT doc_id FROM dr) " +
        "AND doc_id NOT IN (SELECT doc_id FROM ex) THEN 1 ELSE 0 END) AS BIGINT) AS n_near_dropped " +
        "FROM t GROUP BY source) " +
        "SELECT source, n_docs, n_exact_dropped, n_near_dropped, " +
        "n_docs - n_exact_dropped - n_near_dropped AS n_survivors, " +
        s"${rd4("CAST(n_docs - n_exact_dropped - n_near_dropped AS DOUBLE) / n_docs")} AS survival_rate " +
        "FROM g ORDER BY source"),
    // q62: connected components via recursive reachability — min label
    // over the reachable set IS the component min on a symmetric edge
    // list. Same Jaccard edge definition as q56's oracle. NOTE: this
    // oracle's recursion is quadratic in component size — exact and
    // fast at the driver's sf0.01 correctness scale, but not meant for
    // sf0.1+ (the ENGINE side stays scale-linear per round).
    "q62_dedup_clusters" -> q62OracleSql,
    // q62b: SAME oracle — the star variant must be label-identical to
    // hash-min; only the round structure differs
    "q62b_dedup_clusters_star" -> q62OracleSql,
    // q108: two groupings over the q62 component truth
    "q108_cluster_stats" ->
      (s"SELECT cluster_size, count(*) AS n_clusters, cluster_size * count(*) AS n_docs " +
        s"FROM (SELECT cluster_id, count(*) AS cluster_size FROM ($q62OracleCore) " +
        "GROUP BY cluster_id) GROUP BY cluster_size ORDER BY cluster_size"),
    // q63: DuckDB regexp_replace is single-match by default — the 'g'
    // flag mirrors Spark's replace-all semantics; patterns are RE2-safe.
    // Counts run on the PROGRESSIVELY scrubbed text (same as the
    // engine): each pattern counted on what its replacement pass sees
    "q63_pii_scrub" ->
      ("WITH s AS (SELECT doc_id, text, " +
        "regexp_replace(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}', '<EMAIL>', 'g') AS e1 " +
        "FROM documents), " +
        "s2 AS (SELECT doc_id, text, e1, " +
        "regexp_replace(e1, '\\+?[0-9][0-9 -]{6,}[0-9]', '<PHONE>', 'g') AS e2 FROM s) " +
        "SELECT doc_id, regexp_replace(e2, 'customer|user', '<PII>', 'g') AS clean_text, " +
        "CAST(len(regexp_extract_all(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}')) " +
        "+ len(regexp_extract_all(e1, '\\+?[0-9][0-9 -]{6,}[0-9]')) " +
        "+ len(regexp_extract_all(e2, 'customer|user')) AS BIGINT) AS n_redacted " +
        "FROM s2 ORDER BY doc_id"),
    // q64: DuckDB list slices are 1-based inclusive, so
    // w[s+1 : s+16] = Spark slice(toks, s+1, 16)
    "q64_chunk" ->
      ("WITH t AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents), " +
        "x AS (SELECT doc_id, w, UNNEST(range(0, ((greatest(len(w) - 16, 0) + 11) // 12) + 1)) AS chunk_id FROM t) " +
        "SELECT doc_id, chunk_id, " +
        "CAST(len(w[chunk_id*12 + 1 : chunk_id*12 + 16]) AS BIGINT) AS n_tokens, " +
        "array_to_string(w[chunk_id*12 + 1 : chunk_id*12 + 16], ' ') AS chunk_text " +
        "FROM x ORDER BY doc_id, chunk_id"),
    // q65: exact integer targets ((200·u) div U) + md5-ordered per-source
    // top-k — fully deterministic, unlike RNG mixing
    "q65_temperature_mix" ->
      ("WITH c AS (SELECT source, count(*) AS n FROM documents GROUP BY source), " +
        "wt AS (SELECT source, CAST(floor(sqrt(CAST(n AS DOUBLE))*1000000 + 0.5) AS BIGINT) AS u FROM c), " +
        "tgt AS (SELECT source, (200 * u) // (SELECT sum(u) FROM wt) AS target FROM wt), " +
        "r AS (SELECT doc_id, source, lang, " +
        "row_number() OVER (PARTITION BY source ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rk " +
        "FROM documents) " +
        "SELECT r.doc_id, r.source, r.lang FROM r JOIN tgt USING (source) " +
        "WHERE rk <= target ORDER BY doc_id"),
    // q66: cume_dist = k/n — exact small-integer division in both
    // engines; ordering by token count ALONE keeps ties together
    "q66_length_quantile_filter" ->
      ("SELECT doc_id, source, n_tokens, cd FROM (" +
        "SELECT doc_id, source, CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens, " +
        s"${rd4("cume_dist() OVER (PARTITION BY source ORDER BY len(string_split(text, ' ')))")} AS cd " +
        "FROM documents) t WHERE cd > 0.25 ORDER BY doc_id"),
    // q67: the five-stage corpus-prep composition as a CTE chain —
    // scrub, >=10-token gate, first-wins exact dedup, q56-style
    // near-dup drop set, q64 chunking of the survivors
    "q67_corpus_prep" ->
      ("WITH scrub AS (SELECT doc_id, " +
        "regexp_replace(regexp_replace(regexp_replace(text, " +
        "'[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}', '<EMAIL>', 'g'), " +
        "'\\+?[0-9][0-9 -]{6,}[0-9]', '<PHONE>', 'g'), " +
        "'customer|user', '<PII>', 'g') AS clean_text FROM documents), " +
        "flt AS (SELECT doc_id, clean_text, string_split(clean_text, ' ') AS w FROM scrub " +
        "WHERE len(string_split(clean_text, ' ')) >= 10), " +
        "ded AS (SELECT doc_id, w FROM (SELECT doc_id, w, " +
        "row_number() OVER (PARTITION BY clean_text ORDER BY doc_id) AS rn FROM flt) WHERE rn = 1), " +
        "t AS (SELECT doc_id, w, list_sort(list_distinct(w)) AS toks FROM ded), " +
        "p AS (SELECT DISTINCT b.doc_id AS drop_id FROM t a JOIN t b ON a.doc_id < b.doc_id " +
        "AND CAST(len(list_intersect(a.toks, b.toks)) AS DOUBLE) / " +
        "(len(a.toks) + len(b.toks) - len(list_intersect(a.toks, b.toks))) >= 0.8), " +
        "sv AS (SELECT doc_id, w FROM t WHERE doc_id NOT IN (SELECT drop_id FROM p)), " +
        "x AS (SELECT doc_id, w, UNNEST(range(0, ((greatest(len(w) - 16, 0) + 11) // 12) + 1)) AS chunk_id FROM sv) " +
        "SELECT doc_id, chunk_id, " +
        "CAST(len(w[chunk_id*12 + 1 : chunk_id*12 + 16]) AS BIGINT) AS n_tokens, " +
        "array_to_string(w[chunk_id*12 + 1 : chunk_id*12 + 16], ' ') AS chunk_text " +
        "FROM x ORDER BY doc_id, chunk_id"),
    // q89: each "first X after T within 1h" decorrelates identically on
    // both sides; stage arithmetic is pure integer. The CTE chain is
    // shared with q153 (one funnel definition, two readouts).
    "q89_funnel" ->
      (s"WITH $q89FunnelCtes " +
        "SELECT v.user_id, t_view, t_click, t_purchase, " +
        "CAST(1 + (t_click IS NOT NULL)::INT + (t_purchase IS NOT NULL)::INT AS BIGINT) AS stage " +
        "FROM v LEFT JOIN c USING (user_id) LEFT JOIN p USING (user_id) ORDER BY v.user_id"),
    // q90: date_trunc('week') is ISO-Monday-anchored in both engines;
    // offsets are exact integer µs multiples of a week
    "q90_retention_cohorts" ->
      (s"WITH e AS (SELECT user_id, $tsUs AS ts FROM events), " +
        "cohort AS (SELECT user_id, date_trunc('week', min(ts)) AS cohort_week FROM e GROUP BY user_id), " +
        "active AS (SELECT DISTINCT user_id, date_trunc('week', ts) AS week FROM e) " +
        "SELECT cohort_week, (epoch_us(week) - epoch_us(cohort_week)) // 604800000000 AS week_offset, " +
        "count(DISTINCT user_id) AS n_users FROM active JOIN cohort USING (user_id) " +
        "GROUP BY cohort_week, week_offset ORDER BY cohort_week, week_offset"),
    "q91_histogram" ->
      ("SELECT event_type, CAST(floor(value/50) AS BIGINT) AS bin, " +
        "CAST(floor(value/50) AS BIGINT) * 50.0 AS bin_lo, count(*) AS n_events, " +
        "min(value) AS min_value, max(value) AS max_value " +
        "FROM events GROUP BY event_type, bin ORDER BY event_type, bin"),
    // q92: five exact decimal moments, each rounded to a double, then
    // slope/intercept/r derived with IEEE-identical double arithmetic
    "q92_corr_regression" ->
      (s"WITH m AS (SELECT l_returnflag, count(*) AS n, ${dsumw("l_quantity")} AS sx, " +
        s"${dsumw("l_extendedprice")} AS sy, ${dsumw("l_quantity*l_extendedprice")} AS sxy, " +
        s"${dsumw("l_quantity*l_quantity")} AS sxx, ${dsumw("l_extendedprice*l_extendedprice")} AS syy " +
        "FROM lineitem GROUP BY l_returnflag) " +
        "SELECT l_returnflag, n, " +
        s"${rd4("(n*sxy - sx*sy)/(n*sxx - sx*sx)")} AS slope, " +
        s"${rd4("(sy - (n*sxy - sx*sy)/(n*sxx - sx*sx)*sx)/n")} AS intercept, " +
        s"${rd4("(n*sxy - sx*sy)/sqrt((n*sxx - sx*sx)*(n*syy - sy*sy))")} AS corr_xy " +
        "FROM m ORDER BY l_returnflag"),
    "q101_volume_shipping" ->
      (s"SELECT sn.n_name AS supp_nation, cn.n_name AS cust_nation, " +
        s"CAST(year(l_shipdate) AS BIGINT) AS l_year, " +
        s"${dsum("l_extendedprice*(1-l_discount)")} AS revenue " +
        "FROM lineitem JOIN supplier ON l_suppkey = s_suppkey " +
        "JOIN nation sn ON s_nationkey = sn.n_nationkey " +
        "JOIN orders ON l_orderkey = o_orderkey " +
        "JOIN customer ON o_custkey = c_custkey " +
        "JOIN nation cn ON c_nationkey = cn.n_nationkey " +
        "WHERE (sn.n_name = 'NATION_8' AND cn.n_name = 'NATION_12') " +
        "OR (sn.n_name = 'NATION_12' AND cn.n_name = 'NATION_8') " +
        "GROUP BY supp_nation, cust_nation, l_year " +
        "ORDER BY supp_nation, cust_nation, l_year"),
    // q102: nation share and total accumulate in the SAME agg pass;
    // the share divides two already-rounded doubles (q75's discipline)
    "q102_market_share" ->
      (s"SELECT CAST(year(o_orderdate) AS BIGINT) AS o_year, " +
        s"${dsum("CASE WHEN sn.n_name = 'NATION_8' THEN l_extendedprice*(1-l_discount) ELSE 0 END")} AS nation_revenue, " +
        s"${dsum("l_extendedprice*(1-l_discount)")} AS total_revenue, " +
        // DuckDB lateral alias references let the share reuse the two
        // rounded sums defined just above
        s"${rd4("nation_revenue/total_revenue")} AS mkt_share " +
        "FROM customer JOIN nation cn ON c_nationkey = cn.n_nationkey " +
        "JOIN region ON cn.n_regionkey = r_regionkey " +
        "JOIN orders ON c_custkey = o_custkey " +
        "JOIN lineitem ON o_orderkey = l_orderkey " +
        "JOIN supplier ON l_suppkey = s_suppkey " +
        "JOIN nation sn ON s_nationkey = sn.n_nationkey " +
        "WHERE r_name = 'ASIA' GROUP BY o_year ORDER BY o_year"),
    // q103: the 0.5·retailprice·qty cost proxy keeps Q9's amount shape
    // without a partsupp table; per-row doubles are IEEE-identical
    "q103_product_profit" ->
      (s"SELECT sn.n_name AS nation, CAST(year(l_shipdate) AS BIGINT) AS l_year, " +
        s"${dsum("l_extendedprice*(1-l_discount) - 0.5*p_retailprice*l_quantity")} AS sum_profit " +
        "FROM lineitem JOIN part ON l_partkey = p_partkey " +
        "JOIN supplier ON l_suppkey = s_suppkey " +
        "JOIN nation sn ON s_nationkey = sn.n_nationkey " +
        "WHERE p_name LIKE '%widget%' " +
        "GROUP BY nation, l_year ORDER BY nation, l_year"),
    // q100: the oracle joins batch docs to index docs on exact set
    // Jaccard >= 0.8 (identical sets included at J = 1) and counts
    // index partners — the engine's group-level formulation ships one
    // row per rejected doc but counts the same partner set exactly
    "q100_incremental_neardup" ->
      ("WITH t AS (SELECT doc_id, source, list_sort(list_distinct(string_split(text, ' '))) AS toks " +
        "FROM documents), " +
        "idx AS (SELECT 'src' || CAST(UNNEST(range(0, 10)) AS VARCHAR) AS s), " +
        "nb AS (SELECT * FROM t WHERE source NOT IN (SELECT s FROM idx)), " +
        "ib AS (SELECT * FROM t WHERE source IN (SELECT s FROM idx)) " +
        "SELECT nb.doc_id, count(*) AS n_index_partners FROM nb JOIN ib ON " +
        "CAST(len(list_intersect(nb.toks, ib.toks)) AS DOUBLE) / " +
        "(len(nb.toks) + len(ib.toks) - len(list_intersect(nb.toks, ib.toks))) >= 0.8 " +
        "GROUP BY nb.doc_id ORDER BY nb.doc_id"),
    // q104: full replay of the ExactSubstr reduction over gram STRINGS
    // (the engine joins on xxhash64 gram ids — injective w.h.p., the
    // q21/q59 relabeling argument). range(1, len-13) is empty for docs
    // under 15 tokens; w[i : i+14] is DuckDB's 1-based inclusive slice
    // = the 15-token window at 0-based pos i-1. Islands merge via the
    // same running-max-end window the engine uses.
    // q117: q104's gram/island chain, with the hit condition swapped
    // from "repeated in corpus" to "present in the 5-source eval suite"
    "q117_eval_spans" ->
      ("WITH t AS (SELECT doc_id, source, string_split(text, ' ') AS w FROM documents), " +
        "p AS (SELECT doc_id, source, w, UNNEST(range(1, len(w) - 13)) AS i FROM t), " +
        "g AS (SELECT doc_id, source, i - 1 AS pos, array_to_string(w[i : i + 14], ' ') AS gram FROM p), " +
        "e AS (SELECT DISTINCT gram FROM g WHERE source IN ('src15', 'src16', 'src17', 'src18', 'src19')), " +
        "h AS (SELECT g.doc_id, g.pos FROM g JOIN e USING (gram) " +
        "WHERE g.source NOT IN ('src15', 'src16', 'src17', 'src18', 'src19')), " +
        "m AS (SELECT doc_id, pos, max(pos + 15) OVER (PARTITION BY doc_id ORDER BY pos " +
        "ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_end FROM h), " +
        "s AS (SELECT doc_id, pos, sum(CASE WHEN prev_end IS NULL OR pos > prev_end " +
        "THEN 1 ELSE 0 END) OVER (PARTITION BY doc_id ORDER BY pos) AS span_id FROM m) " +
        "SELECT doc_id, min(pos) AS span_start, max(pos) + 15 AS span_end, " +
        "max(pos) + 15 - min(pos) AS span_tokens FROM s " +
        "GROUP BY doc_id, span_id ORDER BY doc_id, span_start"),
    "q104_repeated_spans" ->
      ("WITH t AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents), " +
        "p AS (SELECT doc_id, w, UNNEST(range(1, len(w) - 13)) AS i FROM t), " +
        "g AS (SELECT doc_id, i - 1 AS pos, array_to_string(w[i : i + 14], ' ') AS gram FROM p), " +
        "d AS (SELECT gram FROM g GROUP BY gram HAVING count(*) > 1), " +
        "h AS (SELECT g.doc_id, g.pos FROM g JOIN d USING (gram)), " +
        "m AS (SELECT doc_id, pos, max(pos + 15) OVER (PARTITION BY doc_id ORDER BY pos " +
        "ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_end FROM h), " +
        "s AS (SELECT doc_id, pos, sum(CASE WHEN prev_end IS NULL OR pos > prev_end " +
        "THEN 1 ELSE 0 END) OVER (PARTITION BY doc_id ORDER BY pos) AS span_id FROM m) " +
        "SELECT doc_id, min(pos) AS span_start, max(pos) + 15 AS span_end, " +
        "max(pos) + 15 - min(pos) AS span_tokens FROM s " +
        "GROUP BY doc_id, span_id ORDER BY doc_id, span_start"),
    // q107: the shared span CTE chain + per-token NOT-EXISTS cut +
    // ordered string_agg reassembly; parallel UNNESTs zip (pos + tok)
    "q107_span_dedup" ->
      (s"WITH $spanCteChain " +
        "SELECT t.doc_id, CAST(len(t.w) AS BIGINT) AS n_tokens, " +
        "COALESCE(ag.n_kept, 0) AS n_kept, " +
        "CAST(len(t.w) AS BIGINT) - COALESCE(ag.n_kept, 0) AS n_cut, " +
        "COALESCE(ag.clean_text, '') AS clean_text " +
        "FROM t LEFT JOIN ag USING (doc_id) ORDER BY doc_id"),
    // q109: span cut -> drop fully-cut docs -> BPE re-measure ->
    // re-pack. `cp` aliases clean_text AS text so the generated BPE
    // replay (bpeTokSql, which reads `text`) applies unchanged.
    "q109_clean_pack" ->
      (s"WITH $bpeMergesCte, $spanCteChain, " +
        "cp AS (SELECT doc_id, clean_text AS text FROM " +
        "(SELECT ag.doc_id, ag.clean_text FROM ag WHERE ag.n_kept > 0)), " +
        s"t2 AS (SELECT doc_id, $bpeTokSql AS n_tokens FROM cp), " +
        "c AS (SELECT doc_id, n_tokens, CAST(sum(n_tokens) OVER " +
        "(ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_tokens AS BIGINT) " +
        "AS start_token FROM t2) " +
        "SELECT doc_id, n_tokens, start_token, start_token // 2048 AS seq_id, " +
        "start_token % 2048 AS seq_offset, " +
        "(start_token + n_tokens - 1) // 2048 - start_token // 2048 + 1 AS n_seqs_spanned " +
        "FROM c ORDER BY doc_id"),
    // q122: q109's span-cut + BPE + cumsum CTEs, finished with q118's
    // shard explode/attribution/aggregation — one statement end-to-end
    "q122_clean_shard_manifest" ->
      (s"WITH $bpeMergesCte, $spanCteChain, " +
        "cp AS (SELECT doc_id, clean_text AS text FROM " +
        "(SELECT ag.doc_id, ag.clean_text FROM ag WHERE ag.n_kept > 0)), " +
        s"t2 AS (SELECT doc_id, $bpeTokSql AS n_tokens FROM cp), " +
        "c AS (SELECT doc_id, n_tokens, CAST(sum(n_tokens) OVER " +
        "(ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_tokens AS BIGINT) " +
        "AS start_token FROM t2), " +
        "sq AS (SELECT doc_id, n_tokens, start_token, " +
        "UNNEST(range(start_token // 2048, (start_token + n_tokens - 1) // 2048 + 1)) AS seq " +
        "FROM c), " +
        "x AS (SELECT doc_id, seq, " +
        "least(start_token + n_tokens, (seq + 1) * 2048) - greatest(start_token, seq * 2048) AS tok, " +
        "CAST(strpos('0123456789abcdef', substr(md5(CAST(seq AS VARCHAR)), 1, 1)) - 1 AS BIGINT) " +
        "AS shard_id FROM sq) " +
        "SELECT shard_id, count(DISTINCT seq) AS n_seqs, count(DISTINCT doc_id) AS n_docs, " +
        "CAST(sum(tok) AS BIGINT) AS n_tokens FROM x GROUP BY shard_id ORDER BY shard_id"),
    // q123: the per-dim min/max model, the quantize→dequantize affine
    // map and the asymmetric cosine all in exact-mirror double
    // arithmetic; generate_subscripts pairs with unnest in lockstep so
    // (i, x) enumerate each embedding in index order
    "q123_int8_ann" ->
      ("WITH dims AS (SELECT generate_subscripts(embedding, 1) AS i, " +
        "CAST(unnest(embedding) AS DOUBLE) AS x FROM embeddings), " +
        "s AS (SELECT i, min(x) AS mn, max(x) AS mx FROM dims GROUP BY i), " +
        "t AS (SELECT vec_id AS tid, generate_subscripts(embedding, 1) AS i, " +
        "CAST(unnest(embedding) AS DOUBLE) AS x FROM embeddings WHERE vec_id >= 5), " +
        "th AS (SELECT tid, t.i, CASE WHEN s.mx = s.mn THEN s.mn " +
        "ELSE s.mn + floor((t.x - s.mn) * 255.0 / (s.mx - s.mn) + 0.5) * (s.mx - s.mn) / 255.0 END AS xh " +
        "FROM t JOIN s ON t.i = s.i), " +
        "tn AS (SELECT tid, sqrt(sum(xh*xh)) AS tn FROM th GROUP BY tid), " +
        "q AS (SELECT vec_id AS qid, generate_subscripts(embedding, 1) AS i, " +
        "CAST(unnest(embedding) AS DOUBLE) AS qx FROM embeddings WHERE vec_id < 5), " +
        "qn AS (SELECT qid, sqrt(sum(qx*qx)) AS qn FROM q GROUP BY qid), " +
        "d AS (SELECT qid, tid, sum(qx * xh) AS dot FROM q JOIN th ON q.i = th.i GROUP BY qid, tid), " +
        "r AS (SELECT qid, tid, floor(dot/(qn.qn*tn.tn)*10000 + 0.5)/10000 AS sim, " +
        "row_number() OVER (PARTITION BY qid ORDER BY floor(dot/(qn.qn*tn.tn)*10000 + 0.5)/10000 DESC, tid) AS rk " +
        "FROM d JOIN qn USING (qid) JOIN tn USING (tid)) " +
        "SELECT qid, CAST(rk AS BIGINT) AS rk, tid, sim FROM r WHERE rk <= 10 ORDER BY qid, rk"),
    // q124: gram text re-derived only for the 50 winner hashes, exactly
    // like the Spark side's second map-side pass
    "q124_boilerplate_ngrams" ->
      ("WITH ws AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents), " +
        "sub AS (SELECT doc_id, w, generate_subscripts(w, 1) AS i FROM ws), " +
        "g AS (SELECT doc_id, md5(array_to_string(w[i:i+4], ' ')) AS h, " +
        "array_to_string(w[i:i+4], ' ') AS g FROM sub WHERE i + 4 <= len(w)), " +
        "c AS (SELECT h, count(*) AS tf, count(DISTINCT doc_id) AS df FROM g GROUP BY h), " +
        "top AS (SELECT h, tf, df FROM c ORDER BY tf DESC, df DESC, h LIMIT 50), " +
        "txt AS (SELECT g.h, min(g.g) AS gram FROM g JOIN top ON g.h = top.h GROUP BY g.h) " +
        "SELECT CAST(row_number() OVER (ORDER BY tf DESC, df DESC, top.h) AS BIGINT) AS rk, " +
        "gram, tf, df FROM top JOIN txt ON top.h = txt.h ORDER BY rk"),
    // q125: rank/cumsum over the top-1000 vocabulary rows only; the
    // floor formula rounds coverage identically on both engines
    "q125_vocab_coverage" ->
      ("WITH toks AS (SELECT unnest(string_split(text, ' ')) AS tok FROM documents), " +
        "c AS (SELECT tok, count(*) AS cnt FROM toks WHERE tok <> '' GROUP BY tok), " +
        "total AS (SELECT sum(cnt) AS total FROM c), " +
        "top AS (SELECT tok, cnt FROM c ORDER BY cnt DESC, tok LIMIT 25), " +
        "r AS (SELECT tok, cnt, row_number() OVER (ORDER BY cnt DESC, tok) AS rk, " +
        "sum(cnt) OVER (ORDER BY cnt DESC, tok ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_cnt " +
        "FROM top) " +
        "SELECT CAST(rk AS BIGINT) AS vocab_k, tok AS kth_token, CAST(cnt AS BIGINT) AS kth_count, " +
        "floor(CAST(cum_cnt AS DOUBLE) / CAST(total.total AS DOUBLE) * 10000 + 0.5)/10000 AS coverage " +
        "FROM r, total WHERE rk IN (5, 10, 25) ORDER BY vocab_k"),
    // q126: brute-force containment over doc word-3-gram sets (the
    // engine's staged-cascade path must emit exactly the quadratic
    // truth); 10·ov >= 9·min(sz) is the same integer-exact threshold;
    // hash-set counts equal string-set counts by the q55 relabeling
    // argument
    "q126_containment_neardup" ->
      ("WITH ws AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents), " +
        "sub AS (SELECT doc_id, w, generate_subscripts(w, 1) AS i FROM ws), " +
        "sh AS (SELECT doc_id, list_distinct(list(array_to_string(w[i:i+2], ' '))) AS toks " +
        "FROM sub WHERE i + 2 <= len(w) GROUP BY doc_id), " +
        "p AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, " +
        "len(list_intersect(a.toks, b.toks)) AS ov, least(len(a.toks), len(b.toks)) AS mn " +
        "FROM sh a JOIN sh b ON a.doc_id < b.doc_id) " +
        "SELECT doc_a, doc_b, floor(CAST(ov AS DOUBLE)/mn*10000 + 0.5)/10000 AS containment " +
        "FROM p WHERE 10*ov >= 9*mn ORDER BY doc_a, doc_b"),
    // q127: the same algebraic entropy form H = ln n − (Σ c·ln c)/n;
    // the gate compares the ROUNDED value on both engines
    "q127_entropy_gate" ->
      ("WITH tf AS (SELECT doc_id, tok, count(*) AS c FROM " +
        "(SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents) GROUP BY doc_id, tok), " +
        "a AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_tokens, " +
        "sum(CAST(c AS DOUBLE)*ln(CAST(c AS DOUBLE))) AS slc FROM tf GROUP BY doc_id), " +
        "h AS (SELECT doc_id, n_tokens, " +
        "floor((ln(CAST(n_tokens AS DOUBLE)) - slc/n_tokens)*10000 + 0.5)/10000 AS token_entropy FROM a) " +
        "SELECT doc_id, n_tokens, token_entropy, " +
        "CAST(token_entropy < 2.8 AS BIGINT) AS low_entropy FROM h ORDER BY doc_id"),
    // q128: q28's score CTE verbatim (one definition, three consumers)
    // + per-source percent_rank, flag on the rounded percentile
    "q128_source_calibration" ->
      (s"WITH $qualityScoreCtes, " +
        "c AS (SELECT doc_id, source, score, " +
        "floor(percent_rank() OVER (PARTITION BY source ORDER BY score)*10000 + 0.5)/10000 AS cal_pct FROM qs) " +
        "SELECT doc_id, source, score, cal_pct, CAST(cal_pct >= 0.2 AS BIGINT) AS keep " +
        "FROM c ORDER BY doc_id"),
    // q129: the integer CASE bucket ladder verbatim (no float log2)
    "q129_padding_buckets" ->
      ("WITH d AS (SELECT CAST(len(string_split(text, ' ')) AS BIGINT) AS n FROM documents), " +
        "b AS (SELECT n, CASE WHEN n <= 16 THEN 16 WHEN n <= 32 THEN 32 WHEN n <= 64 THEN 64 " +
        "WHEN n <= 128 THEN 128 WHEN n <= 256 THEN 256 WHEN n <= 512 THEN 512 " +
        "WHEN n <= 1024 THEN 1024 ELSE 2048 END AS bucket FROM d) " +
        "SELECT CAST(bucket AS BIGINT) AS bucket, count(*) AS n_docs, " +
        "CAST(sum(n) AS BIGINT) AS real_tokens, CAST(sum(bucket) AS BIGINT) AS padded_tokens, " +
        "floor((1.0 - CAST(sum(n) AS DOUBLE)/CAST(sum(bucket) AS DOUBLE))*10000 + 0.5)/10000 AS waste_frac " +
        "FROM b GROUP BY bucket ORDER BY bucket"),
    // q130: q82's eval-gram join (string 4-grams mirror the hashed
    // grams under the injective-relabeling argument), aggregated per
    // source with zero-fill for clean sources
    "q130_contamination_report" ->
      ("WITH ws AS (SELECT doc_id, source, string_split(text, ' ') AS w FROM documents), " +
        "sub AS (SELECT doc_id, source, w, generate_subscripts(w, 1) AS i FROM ws), " +
        "g AS (SELECT DISTINCT doc_id, source, array_to_string(w[i:i+3], ' ') AS h " +
        "FROM sub WHERE i + 3 <= len(w)), " +
        "ev AS (SELECT DISTINCT h FROM g WHERE source = 'src19'), " +
        "pd AS (SELECT g.doc_id, g.source, count(DISTINCT g.h) AS n_shared " +
        "FROM g JOIN ev ON g.h = ev.h WHERE g.source <> 'src19' GROUP BY g.doc_id, g.source), " +
        "src AS (SELECT source, count(*) AS n_docs FROM documents WHERE source <> 'src19' GROUP BY source), " +
        "agg AS (SELECT source, count(*) AS n_contaminated, CAST(sum(n_shared) AS BIGINT) AS total_shared_grams " +
        "FROM pd GROUP BY source) " +
        "SELECT src.source, src.n_docs, COALESCE(agg.n_contaminated, 0) AS n_contaminated, " +
        "floor((CAST(COALESCE(agg.n_contaminated, 0) AS DOUBLE)/src.n_docs)*10000 + 0.5)/10000 AS contaminated_frac, " +
        "COALESCE(agg.total_shared_grams, 0) AS total_shared_grams " +
        "FROM src LEFT JOIN agg ON src.source = agg.source ORDER BY src.source"),
    "q96_filtered_global_agg" ->
      (s"SELECT ${dsum("l_extendedprice*l_discount")} AS revenue, count(*) AS n_lines " +
        "FROM lineitem WHERE l_shipdate >= TIMESTAMP '1996-01-01' " +
        "AND l_shipdate < TIMESTAMP '1997-01-01' " +
        "AND l_discount BETWEEN 0.05 AND 0.07 AND l_quantity < 24"),
    // q97: per-part values and the scalar total are already-4dp-rounded
    // doubles; 1.5*total/n_parts is left-associated IEEE arithmetic on
    // identical inputs on both sides
    "q97_important_stock" ->
      (s"WITH slice AS (SELECT l_partkey, l_extendedprice FROM lineitem " +
        "JOIN supplier ON l_suppkey = s_suppkey " +
        "JOIN nation ON s_nationkey = n_nationkey " +
        "WHERE n_name IN ('NATION_8', 'NATION_12', 'NATION_15')), " +
        s"pp AS (SELECT l_partkey, ${dsum("l_extendedprice")} AS value FROM slice GROUP BY l_partkey), " +
        s"t AS (SELECT ${dsumw("value")} AS total_value, count(*) AS n_parts FROM pp) " +
        "SELECT l_partkey, value FROM pp, t WHERE value > 1.5*total_value/n_parts " +
        "ORDER BY value DESC, l_partkey"),
    "q98_supplier_count_per_part" ->
      ("SELECT p_brand, p_type, p_size, count(DISTINCT l_suppkey) AS supplier_cnt " +
        "FROM lineitem JOIN part ON l_partkey = p_partkey " +
        "WHERE p_brand <> 'Brand#11' AND p_size IN (1, 3, 5, 7) " +
        "AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0) " +
        "GROUP BY p_brand, p_type, p_size " +
        "ORDER BY supplier_cnt DESC, p_brand, p_type, p_size"),
    "q99_volume_suppliers" ->
      (s"WITH vol AS (SELECT l_suppkey, l_partkey, ${dsum("l_quantity")} AS qty " +
        "FROM lineitem JOIN part ON l_partkey = p_partkey " +
        "WHERE p_name LIKE 'small%' AND l_shipdate >= TIMESTAMP '1996-01-01' " +
        "AND l_shipdate < TIMESTAMP '1997-01-01' " +
        "GROUP BY l_suppkey, l_partkey HAVING qty > 50) " +
        "SELECT s_suppkey, s_name, s_acctbal FROM supplier " +
        "WHERE s_suppkey IN (SELECT l_suppkey FROM vol) ORDER BY s_suppkey"),
    // q95: the bloom pre-filter admits every true key (no false
    // negatives) and the exact semi-join kills false positives, so the
    // output is definitionally the plain semi-join — which IS the oracle
    "q95_bloom_semi_join" ->
      ("SELECT c_custkey, c_name, c_acctbal FROM customer " +
        "WHERE c_custkey IN (SELECT o_custkey FROM orders WHERE o_totalprice > 450000) " +
        "ORDER BY c_custkey"),
    // q94 rides q32b's engine-trained k-means model (cosine argmax
    // ties, decimal-exact means) — not DuckDB-expressible → rows-only;
    // SemDedupSpec pins determinism, pair exactness and recall.
    // q93: DuckDB list slices are 1-based inclusive (w[a : a+9] = 10
    // tokens = Spark slice(w, a, 10)); string_agg skips the NULLed-out
    // dropped blocks and coalesce('') covers all-blocks-dropped docs
    "q93_block_dedup" ->
      ("WITH t AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents), " +
        "b AS (SELECT doc_id, CAST(ceil(len(w)/10.0) AS BIGINT) AS n_blocks, w, " +
        "UNNEST(range(0, CAST(ceil(len(w)/10.0) AS BIGINT))) AS block_id FROM t), " +
        "bt AS (SELECT doc_id, n_blocks, block_id, " +
        "array_to_string(w[block_id*10 + 1 : block_id*10 + 10], ' ') AS block_text FROM b), " +
        "k AS (SELECT doc_id, n_blocks, block_id, block_text, " +
        "row_number() OVER (PARTITION BY block_text ORDER BY doc_id, block_id) = 1 AS kept FROM bt) " +
        "SELECT doc_id, n_blocks, CAST(sum(kept::INT) AS BIGINT) AS n_kept, " +
        "coalesce(string_agg(CASE WHEN kept THEN block_text END, ' ' ORDER BY block_id), '') AS clean_text " +
        "FROM k GROUP BY doc_id, n_blocks ORDER BY doc_id"),
    "q83_order_priority_exists" ->
      ("SELECT o_orderpriority, count(*) AS n_orders FROM orders " +
        "WHERE EXISTS (SELECT 1 FROM lineitem WHERE l_orderkey = o_orderkey " +
        "AND l_shipdate > o_orderdate + INTERVAL '60 days') " +
        "GROUP BY o_orderpriority ORDER BY o_orderpriority"),
    "q84_order_count_distribution" ->
      ("WITH pc AS (SELECT c_custkey, count(o_orderkey) AS c_count " +
        "FROM customer LEFT JOIN orders ON c_custkey = o_custkey " +
        "AND o_orderpriority <> '1-URGENT' GROUP BY c_custkey) " +
        "SELECT c_count, count(*) AS custdist FROM pc " +
        "GROUP BY c_count ORDER BY custdist DESC, c_count DESC"),
    // q85: 0.5*avg_qty multiplies an ALREADY-4dp-rounded double by the
    // exact binary 0.5; the final /7.0 divides two rounded doubles —
    // both IEEE-identical cross-engine before their own rounding
    "q85_small_quantity_revenue" ->
      ("WITH li AS (SELECT l_partkey, l_quantity, l_extendedprice FROM lineitem " +
        "JOIN part ON l_partkey = p_partkey WHERE p_brand = 'Brand#11'), " +
        s"a AS (SELECT l_partkey, ${davg("l_quantity")} AS avg_qty FROM li GROUP BY l_partkey), " +
        s"s AS (SELECT ${dsum("l_extendedprice")} AS total_revenue, count(*) AS n_lines " +
        "FROM li JOIN a USING (l_partkey) WHERE l_quantity < 0.5*avg_qty) " +
        s"SELECT ${rd4("total_revenue/7.0")} AS avg_yearly, n_lines FROM s"),
    "q86_sole_late_supplier" ->
      ("WITH j AS (SELECT l_orderkey, l_suppkey, " +
        "l_shipdate > o_orderdate + INTERVAL '60 days' AS late " +
        "FROM lineitem JOIN orders ON l_orderkey = o_orderkey), " +
        "agg AS (SELECT l_orderkey, count(DISTINCT l_suppkey) AS n_supp, " +
        "count(DISTINCT CASE WHEN late THEN l_suppkey END) AS n_late_supp " +
        "FROM j GROUP BY l_orderkey), " +
        "g AS (SELECT DISTINCT j.l_orderkey, j.l_suppkey FROM j " +
        "JOIN agg ON j.l_orderkey = agg.l_orderkey " +
        "WHERE j.late AND agg.n_supp > 1 AND agg.n_late_supp = 1) " +
        "SELECT s_suppkey, s_name, count(*) AS numwait FROM g " +
        "JOIN supplier ON l_suppkey = s_suppkey " +
        "GROUP BY s_suppkey, s_name ORDER BY numwait DESC, s_suppkey LIMIT 20"),
    "q87_top_revenue_supplier" ->
      (s"WITH r AS (SELECT l_suppkey, ${dsum("l_extendedprice*(1-l_discount)")} AS total_rev " +
        "FROM lineitem WHERE l_shipdate >= TIMESTAMP '1996-01-01' " +
        "AND l_shipdate < TIMESTAMP '1996-04-01' GROUP BY l_suppkey) " +
        "SELECT s_suppkey, s_name, total_rev FROM r JOIN supplier ON l_suppkey = s_suppkey " +
        "WHERE total_rev = (SELECT max(total_rev) FROM r) ORDER BY s_suppkey"),
    // q88: per-row unit price floored at 6 dp BEFORE the decimal mean
    // (q71's discipline), so the (part, supplier) average is exact
    "q88_cheapest_supplier_per_part" ->
      (s"WITH u AS (SELECT l_partkey, l_suppkey, " +
        "floor(l_extendedprice/l_quantity*1000000 + 0.5)/1000000 AS unit FROM lineitem), " +
        s"bs AS (SELECT l_partkey, l_suppkey, ${davg("unit")} AS avg_unit " +
        "FROM u GROUP BY l_partkey, l_suppkey), " +
        "r AS (SELECT l_partkey, l_suppkey, avg_unit, row_number() OVER " +
        "(PARTITION BY l_partkey ORDER BY avg_unit, l_suppkey) AS rn FROM bs) " +
        "SELECT l_partkey AS p_partkey, s_suppkey, s_name, avg_unit FROM r " +
        "JOIN supplier ON l_suppkey = s_suppkey WHERE rn = 1 ORDER BY p_partkey"),
    "q56_neardup_survivors" ->
      ("WITH t AS (SELECT doc_id, list_sort(list_distinct(string_split(text, ' '))) AS toks FROM documents), " +
        "p AS (SELECT b.doc_id AS drop_id FROM t a JOIN t b ON a.doc_id < b.doc_id " +
        "WHERE CAST(len(list_intersect(a.toks, b.toks)) AS DOUBLE) / " +
        "(len(a.toks) + len(b.toks) - len(list_intersect(a.toks, b.toks))) >= 0.8) " +
        "SELECT doc_id, lang, source FROM documents " +
        "WHERE doc_id NOT IN (SELECT drop_id FROM p) ORDER BY doc_id"),
    // q132: q21's text-side pairs (double-compare Jaccard, invariant
    // under the hash relabeling) + q22's unnest-product cosine over the
    // two endpoint embeddings; the agree flag compares the SAME 4-dp
    // rounded cosine on both sides
    "q132_modality_agreement" ->
      ("WITH t AS (SELECT doc_id, list_sort(list_distinct(string_split(text, ' '))) AS toks FROM documents), " +
        "pr AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, " +
        "floor((CAST(len(list_intersect(a.toks, b.toks)) AS DOUBLE) / " +
        "(len(a.toks) + len(b.toks) - len(list_intersect(a.toks, b.toks))))*10000 + 0.5)/10000 AS jaccard " +
        "FROM t a JOIN t b ON a.doc_id < b.doc_id " +
        "WHERE CAST(len(list_intersect(a.toks, b.toks)) AS DOUBLE) / " +
        "(len(a.toks) + len(b.toks) - len(list_intersect(a.toks, b.toks))) >= 0.8), " +
        "px AS (SELECT doc_a, doc_b, jaccard, CAST(unnest(e1.embedding) AS DOUBLE) AS qx, " +
        "CAST(unnest(e2.embedding) AS DOUBLE) AS tx FROM pr " +
        "JOIN embeddings e1 ON doc_a = e1.vec_id JOIN embeddings e2 ON doc_b = e2.vec_id), " +
        "d AS (SELECT doc_a, doc_b, jaccard, sum(qx*tx) AS dot, " +
        "sqrt(sum(qx*qx)) AS na, sqrt(sum(tx*tx)) AS nb FROM px GROUP BY doc_a, doc_b, jaccard), " +
        "c AS (SELECT doc_a, doc_b, jaccard, floor((dot/(na*nb))*10000 + 0.5)/10000 AS cosine FROM d) " +
        "SELECT doc_a, doc_b, jaccard, cosine, CAST(cosine >= 0.9 AS BIGINT) AS modality_agree " +
        "FROM c ORDER BY doc_a, doc_b"),
    // q133: the oracle trains its own merge table (same CTE every
    // BPE-priced consumer embeds) — the trained model must be a pure
    // function of the corpus on both engines
    "q133_bpe_merge_train" ->
      (s"WITH $bpeMergesCte SELECT rk, pat, rep, cnt FROM bm ORDER BY rk"),
    // q135: each staged family's row count recomputed independently
    // from the raw corpus — the manifest doubles as an end-to-end audit
    // of every registry entry. ivf_model is the one constant: k = 8
    // centroids by construction (empty clusters keep their previous
    // centroid, so the model never loses rows).
    "q135_staging_manifest" ->
      (s"WITH $bpeMergesCte, $spanCteChain, $ttGgCtes, ${groupEdgeSql("spr45")}, " +
        "wd AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents), " +
        "shc AS (SELECT count(*) AS c FROM (SELECT DISTINCT " +
        "list_sort(list_distinct([array_to_string(w[i:i+2], ' ') for i in range(1, len(w)-1)])) " +
        "FROM wd WHERE len(w) >= 3)), " +
        "scrub AS (SELECT doc_id, " +
        "regexp_replace(regexp_replace(regexp_replace(text, " +
        "'[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}', '<EMAIL>', 'g'), " +
        "'\\+?[0-9][0-9 -]{6,}[0-9]', '<PHONE>', 'g'), " +
        "'customer|user', '<PII>', 'g') AS clean_text FROM documents), " +
        "flt AS (SELECT doc_id, clean_text, string_split(clean_text, ' ') AS w FROM scrub " +
        "WHERE len(string_split(clean_text, ' ')) >= 10), " +
        "ded AS (SELECT doc_id, w FROM (SELECT doc_id, w, " +
        "row_number() OVER (PARTITION BY clean_text ORDER BY doc_id) AS rn FROM flt) WHERE rn = 1), " +
        "pgg AS (SELECT min(doc_id) AS gid, ts FROM " +
        "(SELECT doc_id, list_sort(list_distinct(w)) AS ts FROM ded) GROUP BY ts) " +
        "SELECT relation, n_rows FROM (" +
        "SELECT 'bpe_merges' AS relation, (SELECT count(*) FROM bm) AS n_rows " +
        "UNION ALL SELECT 'clean_pack', (SELECT count(*) FROM ag WHERE n_kept > 0) " +
        "UNION ALL SELECT 'component_labels', (SELECT count(*) FROM documents) " +
        "UNION ALL SELECT 'dsir_weights', " +
        "(SELECT count(*) FROM documents WHERE len(string_split(text, ' ')) >= 2) " +
        // ivf_model: nlist = max(8, min(4096, floor(sqrt(n/8)))) — the
        // engine's ivfNlist sizing replayed from the raw corpus
        "UNION ALL SELECT 'ivf_model', GREATEST(CAST(8 AS BIGINT), LEAST(CAST(4096 AS BIGINT), " +
        "CAST(floor(sqrt((SELECT count(*) FROM embeddings) / 8.0)) AS BIGINT))) " +
        "UNION ALL SELECT 'prep_deduped', (SELECT count(*) FROM ded) " +
        "UNION ALL SELECT 'prep_groups', (SELECT count(*) FROM pgg) " +
        "UNION ALL SELECT 'prep_pairs_45', (SELECT count(*) FROM pgg a JOIN pgg b ON a.gid < b.gid " +
        "AND 5*len(list_intersect(a.ts, b.ts)) >= " +
        "4*(len(a.ts) + len(b.ts) - len(list_intersect(a.ts, b.ts)))) " +
        // pagerank_scores / coreness: one row per edge-touched node of
        // the J ≥ 0.8 group graph (each iterative loop's node universe)
        "UNION ALL SELECT 'pagerank_scores', (SELECT count(DISTINCT gid) FROM " +
        "(SELECT ga AS gid FROM spr45 UNION ALL SELECT gb AS gid FROM spr45)) " +
        "UNION ALL SELECT 'coreness', (SELECT count(DISTINCT gid) FROM " +
        "(SELECT ga AS gid FROM spr45 UNION ALL SELECT gb AS gid FROM spr45)) " +
        "UNION ALL SELECT 'set_pairs_45', (SELECT count(*) FROM spr45) " +
        "UNION ALL SELECT 'shingle_groups', (SELECT c FROM shc) " +
        // shingle_ranked: the canonical-order remap of shingle_groups —
        // same rows, toks re-expressed as (df ASC, t ASC) ranks
        "UNION ALL SELECT 'shingle_ranked', (SELECT c FROM shc) " +
        // sketch_labels: every doc gets a label (the sketch path's edge
        // set can only shrink components, never the labeled universe)
        "UNION ALL SELECT 'sketch_labels', (SELECT count(*) FROM documents) " +
        // tf_postings: distinct non-empty (doc, term) pairs — the
        // retrieval family's shared collapse
        "UNION ALL SELECT 'tf_postings', (SELECT count(*) FROM " +
        "(SELECT DISTINCT doc_id, term FROM (SELECT doc_id, " +
        "unnest(string_split(text, ' ')) AS term FROM documents) WHERE term <> '')) " +
        // doc_lengths: one row per tokenized doc (the dl relation)
        "UNION ALL SELECT 'doc_lengths', (SELECT count(*) FROM " +
        "(SELECT DISTINCT doc_id FROM (SELECT doc_id, " +
        "unnest(string_split(text, ' ')) AS term FROM documents) WHERE term <> '')) " +
        // pos_postings: one row per RAW split-array element (empty
        // tokens kept — positions index the array verbatim)
        "UNION ALL SELECT 'pos_postings', " +
        "(SELECT CAST(COALESCE(sum(len(string_split(text, ' '))), 0) AS BIGINT) FROM documents) " +
        "UNION ALL SELECT 'unigram_groups', (SELECT count(*) FROM gg)" +
        ") ORDER BY relation"),
    // q136: q62's recursive-CTE component truth (as a subquery, the
    // q108 pattern) joined to q28's score formula; argmax via
    // row_number mirrors the engine's min-struct (score DESC, doc_id)
    "q136_cluster_keeper" ->
      (s"WITH $qualityScoreCtes, " +
        s"j AS (SELECT cc.cluster_id, cc.doc_id, qs.score FROM ($q62OracleCore) cc JOIN qs USING (doc_id)), " +
        "rk AS (SELECT cluster_id, doc_id, score, count(*) OVER (PARTITION BY cluster_id) AS csz, " +
        "row_number() OVER (PARTITION BY cluster_id ORDER BY score DESC, doc_id) AS rn FROM j) " +
        "SELECT cluster_id, doc_id AS keep_doc_id, score AS keep_score, " +
        "CAST(csz - 1 AS BIGINT) AS n_removed FROM rk WHERE rn = 1 ORDER BY cluster_id"),
    // q137: integer-only allocation math (floor-div target, LEAST cap)
    // so every column but the final rd4 ratio is exact on both engines
    "q137_mix_schedule" ->
      ("WITH s AS (SELECT source, CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS avail_tokens " +
        "FROM documents GROUP BY source), " +
        "n AS (SELECT count(*) AS n_sources FROM s), " +
        s"x AS (SELECT source, avail_tokens, CAST(${graft.ops.TrainingData.MixTokenBudget} // n_sources AS BIGINT) " +
        "AS target_tokens FROM s CROSS JOIN n), " +
        s"y AS (SELECT source, avail_tokens, target_tokens, " +
        s"least(target_tokens, avail_tokens * ${graft.ops.TrainingData.MixMaxEpochs}) AS realized_tokens FROM x) " +
        "SELECT source, avail_tokens, target_tokens, realized_tokens, " +
        "floor((CAST(realized_tokens AS DOUBLE)/avail_tokens)*10000 + 0.5)/10000 AS epochs, " +
        "realized_tokens < target_tokens AS capped FROM y ORDER BY source"),
    // q138: one aggregation over q118's EXACT statement (shared text)
    "q138_shard_skew" ->
      (s"WITH m AS ($q118OracleSql), " +
        "a AS (SELECT CAST(count(*) AS BIGINT) AS n_shards, CAST(sum(n_tokens) AS BIGINT) AS total_tokens, " +
        "min(n_tokens) AS min_tokens, max(n_tokens) AS max_tokens, " +
        s"${davg("n_tokens")} AS avg_tokens, CAST(sum(n_docs) AS BIGINT) AS doc_slots FROM m) " +
        "SELECT n_shards, total_tokens, min_tokens, max_tokens, avg_tokens, doc_slots, " +
        "floor((CAST(max_tokens AS DOUBLE)/avg_tokens)*10000 + 0.5)/10000 AS imbalance FROM a"),
    // q140: q82's string-gram relabeling argument — first-occurrence
    // novelty is invariant under the injective-w.h.p. gram hash
    "q140_ngram_novelty" ->
      ("WITH toks AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents), " +
        "g AS (SELECT doc_id, UNNEST(list_distinct(" +
        "[array_to_string(w[i:i+4], ' ') for i in range(1, len(w)-3)])) AS g FROM toks), " +
        "f AS (SELECT g, min(doc_id) AS first_doc FROM g GROUP BY g), " +
        "a AS (SELECT doc_id, count(*) AS n_grams, " +
        "CAST(sum(CASE WHEN first_doc = doc_id THEN 1 ELSE 0 END) AS BIGINT) AS n_novel " +
        "FROM g JOIN f USING (g) GROUP BY doc_id) " +
        "SELECT doc_id, n_grams, n_novel, " +
        "floor((CAST(n_novel AS DOUBLE)/n_grams)*10000 + 0.5)/10000 AS novelty " +
        "FROM a ORDER BY doc_id"),
    // q141: q22's cosine machinery + the cross-label join predicate;
    // rank on the rounded sim with tid tie-break (q22's convention)
    "q141_hard_negatives" ->
      (s"WITH q AS (SELECT vec_id AS qid, label AS qlbl, embedding AS qe FROM embeddings " +
        s"WHERE vec_id < ${graft.ops.Similarity.HardNegQueries}), " +
        "t AS (SELECT vec_id AS tid, label AS tlbl, embedding AS te FROM embeddings), " +
        "px AS (SELECT qid, qlbl, tid, tlbl, unnest(qe) AS qx, unnest(te) AS tx " +
        "FROM q JOIN t ON tlbl <> qlbl), " +
        "d AS (SELECT qid, qlbl, tid, tlbl, sum(CAST(qx AS DOUBLE) * CAST(tx AS DOUBLE)) AS dot, " +
        "sqrt(sum(CAST(qx AS DOUBLE) * CAST(qx AS DOUBLE))) AS qn, " +
        "sqrt(sum(CAST(tx AS DOUBLE) * CAST(tx AS DOUBLE))) AS tn " +
        "FROM px GROUP BY qid, qlbl, tid, tlbl), " +
        "r AS (SELECT qid, qlbl, tid, tlbl, floor((dot/(qn*tn))*10000 + 0.5)/10000 AS sim FROM d), " +
        "k AS (SELECT qid, qlbl, tid, tlbl, sim, " +
        "CAST(row_number() OVER (PARTITION BY qid ORDER BY sim DESC, tid) AS BIGINT) AS rk FROM r) " +
        "SELECT qid, qlbl AS q_label, rk, tid, tlbl AS neg_label, sim FROM k " +
        s"WHERE rk <= ${graft.ops.Similarity.HardNegK} ORDER BY qid, rk"),
    // q142: per-dim decimal sums of 6-dp-quantized components (exact
    // under any row order), decimal products, doubles only at the
    // final sqrt/ratio — the cosine of sums IS the cosine of means
    "q142_source_centroid_sim" ->
      ("WITH j AS (SELECT d.source AS source, e.embedding AS emb FROM documents d " +
        "JOIN embeddings e ON d.doc_id = e.vec_id), " +
        "ix AS (SELECT source, emb, unnest(range(1, len(emb) + 1)) AS i FROM j), " +
        "px AS (SELECT source, i, CAST(floor(CAST(emb[i] AS DOUBLE)*1000000)/1000000 " +
        "AS DECIMAL(12,6)) AS xq FROM ix), " +
        "c AS (SELECT source, i, CAST(sum(xq) AS DECIMAL(18,6)) AS comp FROM px GROUP BY source, i), " +
        "n AS (SELECT source, sqrt(CAST(sum(CAST(comp*comp AS DECIMAL(38,12))) AS DOUBLE)) AS nrm " +
        "FROM c GROUP BY source), " +
        "dt AS (SELECT a.source AS source_a, b.source AS source_b, " +
        "CAST(sum(CAST(a.comp*b.comp AS DECIMAL(38,12))) AS DOUBLE) AS dt " +
        "FROM c a JOIN c b ON a.i = b.i AND a.source < b.source GROUP BY a.source, b.source) " +
        "SELECT source_a, source_b, floor((dt/(na.nrm*nb.nrm))*10000 + 0.5)/10000 AS sim " +
        "FROM dt JOIN n na ON source_a = na.source JOIN n nb ON source_b = nb.source " +
        "ORDER BY source_a, source_b"),
    // q143: q28's score CTE verbatim (one definition, four consumers
    // now) + per-source rank and the arithmetic interleave key
    "q143_curriculum_interleave" ->
      (s"WITH $qualityScoreCtes, " +
        "r AS (SELECT doc_id, source, score, " +
        "CAST(row_number() OVER (PARTITION BY source ORDER BY score DESC, doc_id) AS BIGINT) AS rank_in_source FROM qs), " +
        "si AS (SELECT source, CAST(row_number() OVER (ORDER BY source) AS BIGINT) AS sidx " +
        "FROM (SELECT DISTINCT source FROM documents)), " +
        "c AS (SELECT CAST(count(*) AS BIGINT) AS ns FROM si) " +
        "SELECT r.doc_id AS doc_id, r.source AS source, rank_in_source, score, " +
        "(rank_in_source - 1)*ns + (sidx - 1) AS sched_key " +
        "FROM r JOIN si ON r.source = si.source CROSS JOIN c ORDER BY sched_key"),
    // q144: the trained-merge CTE (q105's machinery) priced per doc,
    // aggregated per (source, lang); ratios from the exact integer sums
    "q144_fertility_report" ->
      (s"WITH $bpeMergesCte, t AS (SELECT source, lang, " +
        "CAST(len(string_split(text, ' ')) AS BIGINT) AS ws, " +
        s"$bpeTokSql AS bpe, CAST(length(text) AS BIGINT) AS chars FROM documents) " +
        "SELECT source, lang, count(*) AS n_docs, CAST(sum(ws) AS BIGINT) AS ws_tokens, " +
        "CAST(sum(bpe) AS BIGINT) AS bpe_tokens, CAST(sum(chars) AS BIGINT) AS n_chars, " +
        "floor((CAST(sum(bpe) AS DOUBLE)/sum(ws))*10000 + 0.5)/10000 AS fertility, " +
        "floor((CAST(sum(chars) AS DOUBLE)/sum(bpe))*10000 + 0.5)/10000 AS chars_per_token " +
        "FROM t GROUP BY source, lang ORDER BY source, lang"),
    // q145: q22's per-row norm + one percent_rank window per label on
    // the ROUNDED norm ALONE (ties share a rank in both engines, and
    // the flag stays a pure monotone function of norm4)
    "q145_norm_outliers" ->
      ("WITH px AS (SELECT vec_id, label, CAST(unnest(embedding) AS DOUBLE) AS x FROM embeddings), " +
        "n AS (SELECT vec_id, label, floor(sqrt(sum(x*x))*10000 + 0.5)/10000 AS norm4 " +
        "FROM px GROUP BY vec_id, label), " +
        "p AS (SELECT vec_id, label, norm4, " +
        "floor(percent_rank() OVER (PARTITION BY label ORDER BY norm4)*10000 + 0.5)/10000 AS pr FROM n) " +
        "SELECT vec_id, label, norm4, pr, pr >= 0.98 AS is_outlier FROM p ORDER BY vec_id"),
    // q147: same union-sentinel forward fill as the engine (events sort
    // before the grid point at the same ts); generate_series and
    // Spark's sequence share inclusive-bound stepping semantics
    "q147_grid_resample" ->
      ("WITH e AS (SELECT user_id, ts, arg_max(value, event_id) AS v FROM events GROUP BY user_id, ts), " +
        "s AS (SELECT user_id, date_trunc('hour', min(ts)) AS lo, max(ts) AS hi FROM e GROUP BY user_id), " +
        "g AS (SELECT user_id, unnest(generate_series(lo, hi, INTERVAL 6 HOUR)) AS ts FROM s), " +
        "u AS (SELECT user_id, ts, v, 0 AS is_grid FROM e " +
        "UNION ALL SELECT user_id, ts, NULL, 1 FROM g), " +
        "f AS (SELECT user_id, ts, is_grid, last_value(v IGNORE NULLS) OVER " +
        "(PARTITION BY user_id ORDER BY ts, is_grid ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS value_ff FROM u) " +
        "SELECT user_id, ts AS grid_ts, value_ff FROM f WHERE is_grid = 1 ORDER BY user_id, grid_ts"),
    // q148: the hash key spelled identically (epoch and doc_id as
    // decimal strings around ':')
    "q148_epoch_shuffle" ->
      (s"WITH ep AS (SELECT unnest(range(0, ${graft.ops.TrainingData.ShuffleEpochs})) AS epoch) " +
        "SELECT CAST(epoch AS BIGINT) AS epoch, doc_id, " +
        "md5(CAST(epoch AS VARCHAR) || ':' || CAST(doc_id AS VARCHAR)) AS shuffle_key " +
        "FROM documents CROSS JOIN ep ORDER BY epoch, shuffle_key, doc_id"),
    // q149: the q123 affine model spelled per-dim in SQL (min/max per
    // dimension, floor-rounded code, dequantized double) — error stats
    // over the reconstruction; max is order-free, mean 4-dp-rounded
    "q149_quantization_error" ->
      ("WITH ix AS (SELECT vec_id, embedding AS emb, unnest(range(1, len(embedding) + 1)) AS i " +
        "FROM embeddings), " +
        "px AS (SELECT vec_id, i, CAST(emb[i] AS DOUBLE) AS x FROM ix), " +
        "m AS (SELECT i, min(x) AS mn, max(x) AS mx FROM px GROUP BY i), " +
        "d AS (SELECT vec_id, x, CASE WHEN mx = mn THEN mn " +
        "ELSE mn + floor((x - mn)*255.0/(mx - mn) + 0.5)*(mx - mn)/255.0 END AS dq " +
        "FROM px JOIN m ON px.i = m.i) " +
        "SELECT vec_id, floor(max(abs(x - dq))*10000 + 0.5)/10000 AS max_abs_err, " +
        "floor((sum(abs(x - dq))/count(*))*10000 + 0.5)/10000 AS mean_abs_err " +
        "FROM d GROUP BY vec_id ORDER BY vec_id"),
    // q150: lead() under the same (ts, event_id) tie rule, matrix-level
    // probability window
    "q150_event_transitions" ->
      ("WITH s AS (SELECT event_type, lead(event_type) OVER " +
        "(PARTITION BY user_id ORDER BY ts, event_id) AS next_type FROM events), " +
        "t AS (SELECT event_type, next_type, count(*) AS n FROM s " +
        "WHERE next_type IS NOT NULL GROUP BY event_type, next_type) " +
        "SELECT event_type, next_type, n, " +
        "floor((CAST(n AS DOUBLE)/sum(n) OVER (PARTITION BY event_type))*10000 + 0.5)/10000 AS prob " +
        "FROM t ORDER BY event_type, next_type"),
    // q151: the q13 burst chain at (user, type) granularity; the kept
    // witness is the (epoch, event_id)-min row of each burst
    "q151_debounce_dedup" ->
      ("WITH w AS (SELECT event_id, user_id, event_type, ts, epoch_us(ts) AS us, " +
        "lag(epoch_us(ts)) OVER (PARTITION BY user_id, event_type ORDER BY ts, event_id) AS pus " +
        "FROM events), " +
        "b AS (SELECT *, sum(CASE WHEN pus IS NULL OR us - pus > 3600000000 THEN 1 ELSE 0 END) " +
        "OVER (PARTITION BY user_id, event_type ORDER BY ts, event_id " +
        "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS burst FROM w), " +
        "k AS (SELECT *, row_number() OVER (PARTITION BY user_id, event_type, burst ORDER BY us, event_id) AS rn, " +
        "count(*) OVER (PARTITION BY user_id, event_type, burst) AS burst_size FROM b) " +
        "SELECT event_id, user_id, event_type, ts, CAST(burst_size AS BIGINT) AS burst_size " +
        "FROM k WHERE rn = 1 ORDER BY event_id"),
    // q152: q92's exact wide-decimal moments per type, double mean/std,
    // flag on the ROUNDED z; sigma-0 types emit null z, never flag
    "q152_value_anomalies" ->
      (s"WITH s AS (SELECT event_type, count(*) AS n, ${dsumw("value")} AS sx, " +
        s"${dsumw("value*value")} AS sxx FROM events GROUP BY event_type), " +
        "t AS (SELECT event_type, sx/CAST(n AS DOUBLE) AS mean, " +
        "sqrt((sxx - sx*sx/CAST(n AS DOUBLE))/CAST(n AS DOUBLE)) AS std FROM s), " +
        "z AS (SELECT event_id, e.event_type, value, " +
        "CASE WHEN std > 0.0 THEN floor(((value - mean)/std)*10000 + 0.5)/10000 END AS z, std " +
        "FROM events e JOIN t USING (event_type)) " +
        "SELECT event_id, event_type, value, z, " +
        "CASE WHEN std > 0.0 THEN abs(z) > 3.0 ELSE false END AS is_anomaly " +
        "FROM z ORDER BY event_id"),
    // q153: q89's CTE chain verbatim + quantile_cont over the exact
    // integer-microsecond deltas (q38's percentile mirror); counts and
    // percentiles both ignore non-converting users' nulls
    "q153_funnel_timing" ->
      (s"WITH $q89FunnelCtes, " +
        "f AS (SELECT t_view, t_click, t_purchase FROM v " +
        "LEFT JOIN c USING (user_id) LEFT JOIN p USING (user_id)), " +
        "d AS (SELECT (epoch_us(t_click) - epoch_us(t_view))/1000000.0 AS vc, " +
        "(epoch_us(t_purchase) - epoch_us(t_click))/1000000.0 AS cp FROM f) " +
        "SELECT count(vc) AS n_view_click, " +
        s"${rd4("quantile_cont(vc, 0.5)")} AS med_vc_sec, " +
        s"${rd4("quantile_cont(vc, 0.9)")} AS p90_vc_sec, " +
        "count(cp) AS n_click_purchase, " +
        s"${rd4("quantile_cont(cp, 0.5)")} AS med_cp_sec, " +
        s"${rd4("quantile_cont(cp, 0.9)")} AS p90_cp_sec FROM d"),
    // q154: the engine's integer PageRank recurrence unrolled as one
    // CTE per iteration, generated from the SAME constants
    // (PageRankIters/Scale — the BpeMerges one-source-of-truth
    // pattern). All-integer floor arithmetic makes an iterative
    // algorithm hash-comparable across engines.
    "q154_similarity_pagerank" ->
      (q154OracleCore + " ORDER BY pr DESC, doc_id"),
    // q155: q62's recursive-CTE component truth joined to q154's
    // unrolled recurrence — both as subqueries, the q136/q108 pattern;
    // argmax via row_number mirrors the engine's min-struct
    "q155_pagerank_keeper" ->
      (s"WITH cc AS MATERIALIZED ($q62OracleCore), " +
        s"prx AS MATERIALIZED ($q154OracleCore), " +
        "j AS (SELECT cc.cluster_id, cc.doc_id, prx.pr FROM cc " +
        "LEFT JOIN prx ON cc.doc_id = prx.doc_id), " +
        "rk AS (SELECT cluster_id, doc_id, pr, " +
        "count(*) OVER (PARTITION BY cluster_id) AS csz, " +
        "row_number() OVER (PARTITION BY cluster_id ORDER BY coalesce(pr, 0) DESC, doc_id) AS rn FROM j) " +
        "SELECT cluster_id, doc_id AS keep_doc_id, CAST(pr AS BIGINT) AS keep_pr, " +
        "CAST(csz - 1 AS BIGINT) AS n_removed FROM rk WHERE rn = 1 ORDER BY cluster_id"),
    // q156: q13's session chain + ordered string_agg per session
    // (DuckDB's ORDER BY inside the agg ≡ the engine's struct sort)
    "q156_session_paths" ->
      (s"WITH e AS (SELECT user_id, event_id, event_type, $tsUs AS ts2 FROM events), " +
        "m AS (SELECT *, CASE WHEN " +
        "lag(epoch_us(ts2)) OVER (PARTITION BY user_id ORDER BY ts2, event_id) IS NULL OR " +
        "epoch_us(ts2) - lag(epoch_us(ts2)) OVER (PARTITION BY user_id ORDER BY ts2, event_id) > 86400000000 " +
        "THEN 1 ELSE 0 END AS new_s FROM e), " +
        "s AS (SELECT *, sum(new_s) OVER (PARTITION BY user_id ORDER BY ts2, event_id " +
        "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id FROM m), " +
        "p AS (SELECT user_id, session_id, " +
        "string_agg(event_type, '>' ORDER BY ts2, event_id) AS path FROM s GROUP BY user_id, session_id) " +
        "SELECT path, count(*) AS n_sessions FROM p GROUP BY path " +
        "ORDER BY n_sessions DESC, path LIMIT 10"),
    // q157: q21's doc-level pair join + two source lookups; unordered
    // source cell via least/greatest; n_exact on the ROUNDED J = 1.0
    "q157_cross_source_dups" ->
      ("WITH t AS (SELECT doc_id, list_sort(list_distinct(string_split(text, ' '))) AS toks FROM documents), " +
        "p AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, " +
        "floor((CAST(len(list_intersect(a.toks, b.toks)) AS DOUBLE) / " +
        "(len(a.toks) + len(b.toks) - len(list_intersect(a.toks, b.toks))))*10000 + 0.5)/10000 AS jaccard " +
        "FROM t a JOIN t b ON a.doc_id < b.doc_id " +
        "WHERE CAST(len(list_intersect(a.toks, b.toks)) AS DOUBLE) / " +
        "(len(a.toks) + len(b.toks) - len(list_intersect(a.toks, b.toks))) >= 0.8), " +
        "s AS (SELECT jaccard, da.source AS sa, db.source AS sb FROM p " +
        "JOIN documents da ON p.doc_a = da.doc_id JOIN documents db ON p.doc_b = db.doc_id) " +
        "SELECT least(sa, sb) AS source_a, greatest(sa, sb) AS source_b, count(*) AS n_pairs, " +
        "CAST(sum(CASE WHEN jaccard = 1.0 THEN 1 ELSE 0 END) AS BIGINT) AS n_exact " +
        "FROM s GROUP BY least(sa, sb), greatest(sa, sb) ORDER BY source_a, source_b"),
    // q158: q28's score CTE + a 7-point threshold relation; the
    // theta join mirrors the engine's explode-then-filter exactly
    "q158_quality_retention" ->
      (s"WITH $qualityScoreCtes, " +
        s"th AS (SELECT unnest(range(0, ${graft.ops.TrainingData.RetentionThresholdSteps})) * 0.5 AS threshold), " +
        "k AS (SELECT threshold, count(*) AS n_docs_kept, CAST(sum(n_tokens) AS BIGINT) AS tokens_kept " +
        "FROM qs JOIN th ON qs.score >= th.threshold GROUP BY threshold), " +
        "tot AS (SELECT CAST(sum(n_tokens) AS BIGINT) AS total_tokens FROM qs) " +
        "SELECT threshold, n_docs_kept, tokens_kept, " +
        "floor((CAST(tokens_kept AS DOUBLE)/total_tokens)*10000 + 0.5)/10000 AS token_frac " +
        "FROM k CROSS JOIN tot ORDER BY threshold"),
    // q159: E|x|² − |μ|² from exact decimal moments, both collapsed to
    // 4-dp-rounded doubles before the final arithmetic (q92's
    // identical-rounded-inputs convention)
    "q159_source_dispersion" ->
      ("WITH j AS (SELECT d.source AS source, e.vec_id AS vec_id, e.embedding AS emb " +
        "FROM documents d JOIN embeddings e ON d.doc_id = e.vec_id), " +
        "ix AS (SELECT source, vec_id, emb, unnest(range(1, len(emb) + 1)) AS i FROM j), " +
        "pxd AS (SELECT source, vec_id, i, CAST(emb[i] AS DOUBLE) AS x FROM ix), " +
        "c AS (SELECT source, i, CAST(sum(CAST(floor(x*1000000)/1000000 AS DECIMAL(12,6))) " +
        "AS DECIMAL(18,6)) AS comp FROM pxd GROUP BY source, i), " +
        "sc AS (SELECT source, CAST(round(sum(CAST(comp*comp AS DECIMAL(38,12))), 4) AS DOUBLE) AS sq4 " +
        "FROM c GROUP BY source), " +
        "r AS (SELECT source, vec_id, CAST(floor(sum(x*x)*1000000)/1000000 AS DECIMAL(28,6)) AS ssq " +
        "FROM pxd GROUP BY source, vec_id), " +
        "t AS (SELECT source, CAST(round(sum(ssq), 4) AS DOUBLE) AS ss4, count(*) AS n_vecs " +
        "FROM r GROUP BY source) " +
        "SELECT t.source AS source, n_vecs, " +
        "floor(((ss4*CAST(n_vecs AS DOUBLE) - sq4)/(CAST(n_vecs AS DOUBLE)*CAST(n_vecs AS DOUBLE)))*10000 + 0.5)/10000 AS dispersion " +
        "FROM t JOIN sc ON t.source = sc.source ORDER BY source"),
    // q160: q21's doc-level pairs (rounded J) against the same literal
    // threshold list — both engines parse the literals to identical
    // doubles, and the jaccard being compared is 4-dp-rounded
    "q160_threshold_curve" -> {
      val ths = graft.ops.Similarity.CurveThresholds.mkString("[", ", ", "]")
      "WITH t AS (SELECT doc_id, list_sort(list_distinct(string_split(text, ' '))) AS toks FROM documents), " +
        "p AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, " +
        "floor((CAST(len(list_intersect(a.toks, b.toks)) AS DOUBLE) / " +
        "(len(a.toks) + len(b.toks) - len(list_intersect(a.toks, b.toks))))*10000 + 0.5)/10000 AS jaccard " +
        "FROM t a JOIN t b ON a.doc_id < b.doc_id " +
        "WHERE CAST(len(list_intersect(a.toks, b.toks)) AS DOUBLE) / " +
        "(len(a.toks) + len(b.toks) - len(list_intersect(a.toks, b.toks))) >= 0.8), " +
        s"th AS (SELECT unnest($ths) AS threshold), " +
        "e AS (SELECT threshold, doc_a, doc_b FROM p JOIN th ON p.jaccard >= th.threshold), " +
        "np AS (SELECT threshold, count(*) AS n_pairs FROM e GROUP BY threshold), " +
        "nd AS (SELECT threshold, count(DISTINCT d) AS n_docs FROM " +
        "(SELECT threshold, unnest([doc_a, doc_b]) AS d FROM e) GROUP BY threshold) " +
        "SELECT np.threshold AS threshold, n_pairs, n_docs FROM np " +
        "JOIN nd ON np.threshold = nd.threshold ORDER BY threshold"
    },
    // q162: midpoint cut from the corpus span (integer µs floor-div),
    // per-side last state via row_number DESC (the engine's max-struct
    // argmax — (us, event_id) is unique so the extra struct fields
    // never decide), full outer on user_id, null-SAFE change test
    // (IS DISTINCT FROM ≡ the engine's !(a <=> b))
    "q162_snapshot_diff" ->
      (s"WITH bnd AS (SELECT ${fdiv(s"epoch_us(min($tsUs)) + epoch_us(max($tsUs))", 2L)} AS cut_us FROM events), " +
        s"e AS (SELECT user_id, event_id, event_type, value, epoch_us($tsUs) AS us FROM events), " +
        "la AS (SELECT user_id, event_type AS type_a, value AS value_a FROM " +
        "(SELECT *, row_number() OVER (PARTITION BY user_id ORDER BY us DESC, event_id DESC) AS rn " +
        "FROM e WHERE us < (SELECT cut_us FROM bnd)) ra WHERE rn = 1), " +
        "lb AS (SELECT user_id, event_type AS type_b, value AS value_b FROM " +
        "(SELECT *, row_number() OVER (PARTITION BY user_id ORDER BY us DESC, event_id DESC) AS rn " +
        "FROM e WHERE us >= (SELECT cut_us FROM bnd)) rb WHERE rn = 1), " +
        "j AS (SELECT la.user_id AS ua, lb.user_id AS ub, type_a, type_b, value_a, value_b " +
        "FROM la FULL OUTER JOIN lb ON la.user_id = lb.user_id) " +
        "SELECT CASE WHEN ua IS NULL THEN 'added' WHEN ub IS NULL THEN 'removed' " +
        "WHEN type_a IS DISTINCT FROM type_b OR value_a IS DISTINCT FROM value_b THEN 'changed' " +
        "ELSE 'unchanged' END AS status, count(*) AS n_users FROM j " +
        "GROUP BY 1 ORDER BY status"),
    // q163: lag-based change detection over the raw timeline, then
    // row_number/lead over the SURVIVING change rows only — both
    // windows under the (ts, event_id) tie rule; open current version
    // keeps a NULL valid_to on both sides
    "q163_scd2_history" ->
      (s"WITH e AS (SELECT user_id, event_id, event_type, $tsUs AS ts2 FROM events), " +
        "c AS (SELECT *, lag(event_type) OVER (PARTITION BY user_id ORDER BY ts2, event_id) AS prev_type FROM e), " +
        "f AS (SELECT * FROM c WHERE prev_type IS NULL OR prev_type <> event_type) " +
        "SELECT user_id, CAST(row_number() OVER w AS BIGINT) AS version, event_type, " +
        "ts2 AS valid_from, lead(ts2) OVER w AS valid_to FROM f " +
        "WINDOW w AS (PARTITION BY user_id ORDER BY ts2, event_id) " +
        "ORDER BY user_id, version"),
    // q167: generated from the SAME TablePk/ChecksumMod/KnuthMult
    // constants as the engine (the BpeMerges one-source-of-truth
    // pattern); sum accumulates exactly in DECIMAL(38,0), publishes
    // mod p as BIGINT — see Audit.checksumTerm's scaladoc
    "q167_integrity_manifest" -> {
      val perTable = Audit.TablePk.map { case (table, pk) =>
        s"SELECT '$table' AS table_name, count(*) AS n_rows, " +
          s"CAST(CAST(sum(CAST((($pk) % ${Audit.ChecksumMod}) * ${Audit.KnuthMult} % ${Audit.ChecksumMod} " +
          s"AS DECIMAL(38,0))) AS HUGEINT) % ${Audit.ChecksumMod} AS BIGINT) AS pk_checksum FROM $table"
      }
      perTable.mkString("SELECT * FROM (", " UNION ALL ", ") ORDER BY table_name")
    },
    // q168: the same semi-join cascade as IN-subqueries; totals and
    // purge counts are scalar subqueries, remaining is arithmetic
    "q168_purge_cascade" ->
      ("WITH dc AS (SELECT c_custkey FROM customer WHERE c_acctbal < 0), " +
        "dord AS (SELECT o_orderkey FROM orders WHERE o_custkey IN (SELECT c_custkey FROM dc)), " +
        "r AS (SELECT 'customer' AS entity, (SELECT count(*) FROM dc) AS n_purged, " +
        "(SELECT count(*) FROM customer) AS n_total " +
        "UNION ALL SELECT 'orders', (SELECT count(*) FROM dord), (SELECT count(*) FROM orders) " +
        "UNION ALL SELECT 'lineitem', " +
        "(SELECT count(*) FROM lineitem WHERE l_orderkey IN (SELECT o_orderkey FROM dord)), " +
        "(SELECT count(*) FROM lineitem)) " +
        "SELECT entity, n_purged, n_total, n_total - n_purged AS n_remaining FROM r ORDER BY entity"),
    // q169: all three constraint classes generated from the SAME
    // TablePk/FkEdges/RowConstraints structures as the engine; Σ(cnt−1)
    // over NON-NULL duplicate keys ≡ count(pk) − count(DISTINCT pk);
    // NULL child FK keys pass; predicate strings shared verbatim
    "q169_dq_audit" -> {
      val pk = Audit.TablePk.map { case (t, e) =>
        s"SELECT '$t' AS table_name, 'pk_unique' AS constraint_name, " +
          s"(SELECT count(*) FROM $t) AS n_checked, " +
          s"(SELECT count($e) - count(DISTINCT $e) FROM $t) AS n_violations"
      }
      val fk = Audit.FkEdges.map { case (ct, ck, pt, pkc) =>
        s"SELECT '$ct' AS table_name, 'fk_$pt' AS constraint_name, " +
          s"(SELECT count(*) FROM $ct) AS n_checked, " +
          // IS NOT NULL inside the subquery: a NULL parent key would
          // make NOT IN three-valued-NULL for EVERY unmatched child
          // (0 violations reported) while the engine's left_anti still
          // counts orphans — anti-join semantics need the filter
          s"(SELECT count(*) FROM $ct WHERE $ck IS NOT NULL AND $ck NOT IN " +
          s"(SELECT $pkc FROM $pt WHERE $pkc IS NOT NULL)) AS n_violations"
      }
      val local = Audit.RowConstraints.flatMap { case (t, cs) =>
        cs.map { case (n, p) =>
          s"SELECT '$t' AS table_name, '$n' AS constraint_name, " +
            s"(SELECT count(*) FROM $t) AS n_checked, " +
            s"(SELECT CAST(coalesce(sum(CASE WHEN $p THEN 1 ELSE 0 END), 0) AS BIGINT) " +
            s"FROM $t) AS n_violations"
        }
      }
      (pk ++ fk ++ local).mkString("SELECT *, n_violations = 0 AS pass FROM (", " UNION ALL ",
        ") ORDER BY table_name, constraint_name")
    },
    // q170: one SELECT per profiled column from the SAME ProfileColumns
    // list; numeric min/max are raw values (no arithmetic — exact
    // compare), string extremes under binary collation, typed NULLs on
    // the off-kind legs
    "q170_table_profile" -> {
      val rows = Audit.ProfileColumns.flatMap { case (t, cols) =>
        cols.map { case (c, isNum) =>
          val common = s"SELECT '$t' AS table_name, '$c' AS column_name, " +
            s"'${if (isNum) "num" else "str"}' AS kind, count(*) AS n_rows, " +
            s"count(*) - count($c) AS n_nulls, count(DISTINCT $c) AS n_distinct, "
          val tail =
            if (isNum)
              s"CAST(min($c) AS DOUBLE) AS min_num, CAST(max($c) AS DOUBLE) AS max_num, " +
                "CAST(NULL AS VARCHAR) AS min_str, CAST(NULL AS VARCHAR) AS max_str, " +
                s"CAST(NULL AS BIGINT) AS total_len FROM $t"
            else
              "CAST(NULL AS DOUBLE) AS min_num, CAST(NULL AS DOUBLE) AS max_num, " +
                s"min($c) AS min_str, max($c) AS max_str, " +
                s"CAST(coalesce(sum(len($c)), 0) AS BIGINT) AS total_len FROM $t"
          common + tail
        }
      }
      rows.mkString("SELECT * FROM (", " UNION ALL ", ") ORDER BY table_name, column_name")
    },
    // q171: q17's data-anchored max as the freshness "now"; whole-second
    // lag via integer floor-div on exact microseconds
    "q171_freshness_audit" ->
      (s"WITH a AS (SELECT max(epoch_us($tsUs)) AS anchor_us FROM events), " +
        s"g AS (SELECT event_type, count(*) AS n_events, max($tsUs) AS max_ts, " +
        s"(SELECT anchor_us FROM a) - max(epoch_us($tsUs)) AS lag_us, " +
        s"CAST(sum(CASE WHEN epoch_us($tsUs) >= (SELECT anchor_us FROM a) - 86400000000 " +
        "THEN 1 ELSE 0 END) AS BIGINT) AS n_last_24h FROM events GROUP BY event_type) " +
        "SELECT event_type, n_events, max_ts, lag_us // 1000000 AS lag_sec, n_last_24h, " +
        "lag_us // 1000000 > 3600 AS stale FROM g ORDER BY event_type"),
    // q172: hour buckets by integer floor-div of exact µs; coverage via
    // the shared floor rounding formula
    "q172_completeness_audit" ->
      (s"WITH h AS (SELECT event_type, ${fdiv(s"epoch_us($tsUs)", 3600000000L)} AS hr FROM events), " +
        "g AS (SELECT event_type, count(DISTINCT hr) AS n_hours_observed, " +
        "max(hr) - min(hr) + 1 AS span_hours FROM h GROUP BY event_type) " +
        "SELECT event_type, n_hours_observed, span_hours, " +
        "span_hours - n_hours_observed AS n_missing_hours, " +
        s"${rd4("CAST(n_hours_observed AS DOUBLE)/CAST(span_hours AS DOUBLE)")} AS coverage " +
        "FROM g ORDER BY event_type"),
    // q173: the full-outer presence compare as scalar-subquery mirrors;
    // zero vector = no nonzero component (empty lists count)
    "q173_index_coverage" ->
      ("SELECT (SELECT count(*) FROM documents) AS n_docs, " +
        "(SELECT count(*) FROM embeddings) AS n_vecs, " +
        // IS NOT NULL inside each NOT IN subquery (q169's discipline):
        // one NULL key on the inner side would NULL-out every
        // unmatched outer row while the engine's anti-join still counts
        "(SELECT count(*) FROM documents WHERE doc_id NOT IN (SELECT vec_id FROM embeddings WHERE vec_id IS NOT NULL)) AS n_docs_without_vec, " +
        "(SELECT count(*) FROM embeddings WHERE vec_id NOT IN (SELECT doc_id FROM documents WHERE doc_id IS NOT NULL)) AS n_vecs_without_doc, " +
        "(SELECT CAST(min(len(embedding)) AS BIGINT) FROM embeddings) AS min_dim, " +
        "(SELECT CAST(max(len(embedding)) AS BIGINT) FROM embeddings) AS max_dim, " +
        "(SELECT count(*) FROM embeddings WHERE len(list_filter(embedding, x -> x <> 0)) = 0) AS n_zero_vectors"),
    // q174: per-key counts after the same explode shape; hottest key by
    // min-among-max-count join-back; skew flag cross-multiplied into
    // exact integer space (no division)
    "q174_join_skew_audit" ->
      ("WITH u AS (" +
        "SELECT 'orders.o_custkey' AS rel, CAST(o_custkey AS VARCHAR) AS k FROM orders " +
        "UNION ALL SELECT 'lineitem.l_orderkey', CAST(l_orderkey AS VARCHAR) FROM lineitem " +
        "UNION ALL SELECT 'lineitem.l_partkey', CAST(l_partkey AS VARCHAR) FROM lineitem " +
        "UNION ALL SELECT 'lineitem.l_suppkey', CAST(l_suppkey AS VARCHAR) FROM lineitem " +
        "UNION ALL SELECT 'events.user_id', CAST(user_id AS VARCHAR) FROM events " +
        "UNION ALL SELECT 'events.event_type', event_type FROM events), " +
        "c AS (SELECT rel, k, count(*) AS cnt FROM u GROUP BY rel, k), " +
        "m AS (SELECT rel, CAST(sum(cnt) AS BIGINT) AS n_rows, " +
        "CAST(coalesce(sum(CASE WHEN k IS NULL THEN cnt END), 0) AS BIGINT) AS n_null_rows, " +
        "count(k) AS n_keys, " +
        "max(CASE WHEN k IS NOT NULL THEN cnt END) AS max_rows_per_key FROM c GROUP BY rel) " +
        "SELECT rel, n_rows, n_null_rows, n_keys, max_rows_per_key, " +
        "(SELECT min(k) FROM c WHERE c.rel = m.rel AND c.cnt = m.max_rows_per_key " +
        "AND c.k IS NOT NULL) AS hot_key, " +
        "CAST(max_rows_per_key AS HUGEINT) * n_keys >= " +
        "CAST(n_rows - n_null_rows AS HUGEINT) * 4 AS salt_recommended " +
        "FROM m ORDER BY rel"),
    // q175: the same 16-bit grid + Morton interleave, term by term;
    // post-epoch days and non-negative grid offsets, so truncating //
    // coincides with floor on both sides
    "q175_zorder_plan" -> {
      val interleave = (0 until 16).map(i =>
        s"((((gx >> $i) & 1) << ${2 * i}) | (((gy >> $i) & 1) << ${2 * i + 1}))")
        .mkString(" | ")
      "WITH o AS (SELECT CAST(o_custkey AS BIGINT) AS x, " +
        "epoch_us(o_orderdate) // 86400000000 AS y FROM orders), " +
        "b AS (SELECT min(x) AS xmn, max(x) AS xmx, min(y) AS ymn, max(y) AS ymx FROM o), " +
        "g AS (SELECT x, y, ((x - xmn) * 65535) // greatest(xmx - xmn, 1) AS gx, " +
        "((y - ymn) * 65535) // greatest(ymx - ymn, 1) AS gy FROM o, b), " +
        s"z AS (SELECT x, y, ($interleave) AS z FROM g) " +
        "SELECT z // 268435456 AS bin_id, count(*) AS n_rows, " +
        "min(z) AS z_lo, max(z) AS z_hi, min(x) AS x_lo, max(x) AS x_hi, " +
        "min(y) AS y_lo, max(y) AS y_hi " +
        "FROM z GROUP BY bin_id ORDER BY bin_id"
    },
    // q176: same cumulative sweep over the value domain; quantities are
    // integral so the DOUBLE→BIGINT cast agrees between engines
    // (Spark truncates, DuckDB rounds — identical on exact integers)
    "q176_equidepth_histogram" ->
      ("WITH c AS (SELECT CAST(l_quantity AS BIGINT) AS v, count(*) AS cnt " +
        "FROM lineitem GROUP BY v), " +
        "w AS (SELECT v, cnt, coalesce(sum(cnt) OVER " +
        "(ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS rows_before, " +
        "sum(cnt) OVER () AS n_total FROM c) " +
        "SELECT CAST((rows_before * 16) // n_total AS BIGINT) AS bin_id, " +
        "min(v) AS lo, max(v) AS hi, CAST(sum(cnt) AS BIGINT) AS n_rows, " +
        "count(*) AS n_values FROM w GROUP BY bin_id ORDER BY bin_id"),
    // q177: the same degree-ordered orientation over the shared
    // group-edge universe; each triangle counted once at its unique
    // (deg, id)-minimal vertex
    "q177_triangle_census" ->
      (s"WITH $ttGgCtes, ${groupEdgeSql("e0")}, " +
        "d AS MATERIALIZED (SELECT v, count(*) AS deg FROM " +
        "(SELECT ga AS v FROM e0 UNION ALL SELECT gb AS v FROM e0) GROUP BY v), " +
        "o AS MATERIALIZED (SELECT CASE WHEN da.deg <= db.deg THEN e0.ga ELSE e0.gb END AS src, " +
        "CASE WHEN da.deg <= db.deg THEN e0.gb ELSE e0.ga END AS dst, " +
        "greatest(da.deg, db.deg) AS ddeg " +
        "FROM e0 JOIN d da ON da.v = e0.ga JOIN d db ON db.v = e0.gb), " +
        "w AS (SELECT o1.dst AS x, o2.dst AS y FROM o o1 JOIN o o2 ON o1.src = o2.src " +
        "AND (o1.ddeg < o2.ddeg OR (o1.ddeg = o2.ddeg AND o1.dst < o2.dst))), " +
        "t AS (SELECT count(*) AS n_triangles FROM w JOIN o ON o.src = w.x AND o.dst = w.y) " +
        "SELECT (SELECT count(*) FROM d) AS n_vertices, " +
        "(SELECT count(*) FROM e0) AS n_edges, " +
        "(SELECT CAST(coalesce(sum((deg*(deg-1)) // 2), 0) AS BIGINT) FROM d) AS n_wedges, " +
        "(SELECT n_triangles FROM t) AS n_triangles"),
    // q178: q167's checksum term bucketed mod 256; NULL keys in the
    // NULL bucket
    "q178_merkle_manifest" -> {
      val perTable = Audit.TablePk.map { case (table, pk) =>
        val term = s"(($pk) % ${Audit.ChecksumMod}) * ${Audit.KnuthMult} % ${Audit.ChecksumMod}"
        s"SELECT '$table' AS table_name, ($term) % 256 AS bucket, count(*) AS n_rows, " +
          s"CAST(CAST(sum(CAST($term AS DECIMAL(38,0))) AS HUGEINT) % ${Audit.ChecksumMod} " +
          s"AS BIGINT) AS checksum FROM $table GROUP BY bucket"
      }
      perTable.mkString("SELECT * FROM (", " UNION ALL ", ") ORDER BY table_name, bucket")
    },
    // q179: the oracle is the NAIVE per-type running-max window — the
    // engine's two-level chunked construction must match it exactly
    "q179_disorder_audit" ->
      (s"WITH e AS (SELECT event_type, event_id, epoch_us($tsUs) AS us FROM events), " +
        "r AS (SELECT event_type, us, max(us) OVER (PARTITION BY event_type " +
        "ORDER BY event_id ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS run_max FROM e) " +
        "SELECT event_type, count(*) AS n_events, " +
        "CAST(sum(CASE WHEN run_max > us THEN 1 ELSE 0 END) AS BIGINT) AS n_late, " +
        "CAST(max(run_max - us) AS BIGINT) AS max_late_us, " +
        "CAST(sum(CASE WHEN run_max - us > 60000000 THEN 1 ELSE 0 END) AS BIGINT) AS n_late_over_1m, " +
        "CAST(sum(CASE WHEN run_max - us > 3600000000 THEN 1 ELSE 0 END) AS BIGINT) AS n_late_over_1h " +
        "FROM r GROUP BY event_type ORDER BY event_type"),
    // q180: the same day - row_number island anchor; day by exact
    // integer floor-div of µs (explicit floor form — pre-epoch safe)
    "q180_activity_streaks" ->
      (s"WITH d AS (SELECT DISTINCT user_id, ${fdiv(s"epoch_us($tsUs)", 86400000000L)} AS day FROM events), " +
        "r AS (SELECT user_id, day, day - row_number() OVER " +
        "(PARTITION BY user_id ORDER BY day) AS anchor FROM d), " +
        "i AS (SELECT user_id, anchor, count(*) AS len FROM r GROUP BY user_id, anchor) " +
        "SELECT user_id, CAST(sum(len) AS BIGINT) AS n_active_days, " +
        "count(*) AS n_islands, max(len) AS longest_streak " +
        "FROM i GROUP BY user_id ORDER BY user_id"),
    // q181: identical packed-argmax window; 604800000000 = 7 days in µs
    "q181_purchase_attribution" ->
      (s"WITH e AS (SELECT user_id, event_id, event_type, value, epoch_us($tsUs) AS us FROM events), " +
        "p AS (SELECT *, max(CASE event_type WHEN 'click' THEN us * 8 + 1 " +
        "WHEN 'view' THEN us * 8 + 2 END) OVER (PARTITION BY user_id ORDER BY us, event_id " +
        "ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS carried FROM e) " +
        s"SELECT CASE WHEN carried IS NOT NULL AND us - ${fdiv("carried", 8L)} <= 604800000000 " +
        "THEN CASE ((carried % 8) + 8) % 8 WHEN 1 THEN 'click' ELSE 'view' END " +
        "ELSE 'none' END AS attributed_type, " +
        s"count(*) AS n_purchases, ${dsum("value")} AS total_value " +
        "FROM p WHERE event_type = 'purchase' GROUP BY attributed_type ORDER BY attributed_type"),
    // q182: the same count-relation product per FK edge
    "q182_join_cardinality" -> {
      val perEdge = Audit.FkEdges.map { case (child, ck, parent, pk) =>
        val cCnt = s"(SELECT $ck AS k, count(*) AS cc FROM $child WHERE $ck IS NOT NULL GROUP BY 1)"
        val pCnt = s"(SELECT $pk AS k, count(*) AS pc FROM $parent WHERE $pk IS NOT NULL GROUP BY 1)"
        s"SELECT '$child.$ck -> $parent.$pk' AS edge, " +
          s"(SELECT count($ck) FROM $child) AS n_child_keyed, " +
          s"(SELECT CAST(count(*) - count($ck) AS BIGINT) FROM $child) AS n_child_null, " +
          s"(SELECT count(*) FROM $parent) AS n_parent, " +
          s"(SELECT CAST(coalesce(sum(cc * pc), 0) AS BIGINT) FROM $cCnt c JOIN $pCnt p ON c.k = p.k) AS n_join_rows, " +
          s"(SELECT CAST(coalesce(sum(cc), 0) AS BIGINT) FROM $cCnt c JOIN $pCnt p ON c.k = p.k) AS n_matched_child"
      }
      "SELECT edge, n_child_keyed, n_child_null, n_parent, n_join_rows, " +
        "n_join_rows > n_child_keyed AS explodes, " +
        "n_matched_child < n_child_keyed AS drops_children FROM (" +
        perEdge.mkString(" UNION ALL ") + ") ORDER BY edge"
    },
    // q183: RANGE-framed trailing-24h baseline over the integer hour
    // index; spike cross-multiplied, armed at >= 6 baseline hours
    "q183_traffic_spikes" ->
      (s"WITH h AS (SELECT event_type, ${fdiv(s"epoch_us($tsUs)", 3600000000L)} AS hr FROM events), " +
        "c AS (SELECT event_type, hr, count(*) AS n FROM h GROUP BY event_type, hr), " +
        "b AS (SELECT event_type, hr, n, " +
        "CAST(coalesce(sum(n) OVER (PARTITION BY event_type ORDER BY hr " +
        "RANGE BETWEEN 24 PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS baseline_sum, " +
        "count(n) OVER (PARTITION BY event_type ORDER BY hr " +
        "RANGE BETWEEN 24 PRECEDING AND 1 PRECEDING) AS baseline_hours FROM c) " +
        "SELECT event_type, hr, n, baseline_sum, baseline_hours, " +
        "baseline_hours >= 6 AND n * baseline_hours > baseline_sum * 3 AS spike " +
        "FROM b ORDER BY event_type, hr"),
    // q186: the same distinct-collapse + pair self-join; the
    // association test cross-multiplied in HUGEINT
    "q186_cooccurrence_lift" ->
      ("WITH ut AS (SELECT DISTINCT user_id, event_type FROM events WHERE user_id IS NOT NULL), " +
        "p AS (SELECT a.event_type AS type_a, b.event_type AS type_b, count(*) AS n_ab " +
        "FROM ut a JOIN ut b ON a.user_id = b.user_id AND a.event_type < b.event_type " +
        "GROUP BY 1, 2), " +
        "t AS (SELECT event_type, count(*) AS n FROM ut GROUP BY 1), " +
        "u AS (SELECT count(DISTINCT user_id) AS n_users FROM ut) " +
        "SELECT type_a, type_b, ta.n AS n_a, tb.n AS n_b, n_ab, u.n_users, " +
        "CAST(n_ab AS HUGEINT) * n_users > CAST(ta.n AS HUGEINT) * tb.n AS positively_associated " +
        "FROM p JOIN t ta ON ta.event_type = p.type_a " +
        "JOIN t tb ON tb.event_type = p.type_b CROSS JOIN u " +
        "ORDER BY type_a, type_b"),
    // q187: running distinct = cumulative sum of first occurrences
    "q187_user_growth" ->
      (s"WITH f AS (SELECT user_id, min(${fdiv(s"epoch_us($tsUs)", 86400000000L)}) AS day " +
        "FROM events WHERE user_id IS NOT NULL GROUP BY user_id), " +
        "d AS (SELECT day, count(*) AS n_new_users FROM f GROUP BY day) " +
        "SELECT day, n_new_users, CAST(sum(n_new_users) OVER " +
        "(ORDER BY day ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) " +
        "AS n_total_users FROM d ORDER BY day"),
    // q188: marginals as rollups of the cell relation; independence
    // flags cross-multiplied in HUGEINT
    "q188_mix_contingency" ->
      ("WITH c AS (SELECT source, lang, count(*) AS n_cell FROM documents GROUP BY 1, 2), " +
        "s AS (SELECT source, CAST(sum(n_cell) AS BIGINT) AS n_source FROM c GROUP BY 1), " +
        "l AS (SELECT lang, CAST(sum(n_cell) AS BIGINT) AS n_lang FROM c GROUP BY 1), " +
        "t AS (SELECT CAST(sum(n_cell) AS BIGINT) AS n_docs FROM c) " +
        "SELECT c.source, c.lang, n_cell, n_source, n_lang, n_docs, " +
        "CAST(n_cell AS HUGEINT) * n_docs > CAST(n_source AS HUGEINT) * n_lang AS over_represented, " +
        "CAST(n_cell AS HUGEINT) * n_docs < CAST(n_source AS HUGEINT) * n_lang AS under_represented " +
        "FROM c JOIN s ON s.source = c.source JOIN l ON l.lang = c.lang CROSS JOIN t " +
        "ORDER BY c.source, c.lang"),
    // q189: the same per-(user, type) lag; q38's quantile_cont mapping
    "q189_inter_arrival" ->
      (s"WITH e AS (SELECT event_type, user_id, event_id, epoch_us($tsUs) AS us " +
        "FROM events WHERE user_id IS NOT NULL), " +
        "g AS (SELECT event_type, us - lag(us) OVER (PARTITION BY user_id, event_type " +
        "ORDER BY us, event_id) AS gap FROM e) " +
        "SELECT event_type, count(*) AS n_gaps, CAST(min(gap) AS BIGINT) AS min_gap_us, " +
        s"${rd4("quantile_cont(gap, 0.5)")} AS med_gap_us, " +
        s"${rd4("quantile_cont(gap, 0.9)")} AS p90_gap_us, " +
        "CAST(max(gap) AS BIGINT) AS max_gap_us " +
        "FROM g WHERE gap IS NOT NULL GROUP BY event_type ORDER BY event_type"),
    // q190: the shared checksum-term arm split; rate compare
    // cross-multiplied in HUGEINT
    "q190_ab_readout" -> {
      val (p, k) = (Audit.ChecksumMod, Audit.KnuthMult)
      s"WITH pu AS (SELECT user_id, (user_id % $p) * $k % $p % 2 AS arm, " +
        "max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS converted, " +
        "coalesce(sum(CASE WHEN event_type = 'purchase' THEN CAST(value AS DECIMAL(20,6)) END), 0) AS pvalue " +
        "FROM events WHERE user_id IS NOT NULL GROUP BY user_id, arm) " +
        "SELECT CAST(sum(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_users_a, " +
        "CAST(sum(CASE WHEN arm = 0 THEN converted ELSE 0 END) AS BIGINT) AS n_conv_a, " +
        "CAST(round(sum(CASE WHEN arm = 0 THEN pvalue END), 4) AS DOUBLE) AS value_a, " +
        "CAST(sum(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_users_b, " +
        "CAST(sum(CASE WHEN arm = 1 THEN converted ELSE 0 END) AS BIGINT) AS n_conv_b, " +
        "CAST(round(sum(CASE WHEN arm = 1 THEN pvalue END), 4) AS DOUBLE) AS value_b, " +
        "CAST(sum(CASE WHEN arm = 1 THEN converted ELSE 0 END) AS HUGEINT) * " +
        "sum(CASE WHEN arm = 0 THEN 1 ELSE 0 END) > " +
        "CAST(sum(CASE WHEN arm = 0 THEN converted ELSE 0 END) AS HUGEINT) * " +
        "sum(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS b_higher_conversion " +
        "FROM pu"
    },
    // q191: same month index and first-month cohort convention; NULL
    // revenue cells stay NULL on both sides
    "q191_growth_accounting" ->
      ("WITH o AS (SELECT o_custkey AS c, " +
        "CAST(year(o_orderdate) * 12 + month(o_orderdate) AS BIGINT) AS mo, " +
        "o_totalprice AS price FROM orders), " +
        "f AS (SELECT c, min(mo) AS first_mo FROM o GROUP BY c) " +
        "SELECT mo, count(*) AS n_orders, " +
        "CAST(count(DISTINCT CASE WHEN mo = first_mo THEN o.c END) AS BIGINT) AS n_new_customers, " +
        s"${dsum("CASE WHEN mo = first_mo THEN price END")} AS revenue_new, " +
        s"${dsum("CASE WHEN mo > first_mo THEN price END")} AS revenue_returning " +
        "FROM o JOIN f ON f.c = o.c GROUP BY mo ORDER BY mo"),
    // q192: 0-based posting position // 128; `//` == Spark `div` on the
    // non-negative position; window df over the block relation
    "q192_posting_blocks" ->
      ("WITH tf AS (SELECT term, doc_id, count(*) AS tf FROM (" +
        "SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents) u " +
        "WHERE term <> '' GROUP BY term, doc_id), " +
        "p AS (SELECT term, doc_id, tf, row_number() OVER (PARTITION BY term " +
        "ORDER BY doc_id) - 1 AS pos FROM tf), " +
        s"b AS (SELECT term, pos // ${TextOps.PostingBlockSize} AS block_id, " +
        "count(*) AS n_postings, min(doc_id) AS min_doc_id, max(doc_id) AS max_doc_id, " +
        "CAST(sum(tf) AS BIGINT) AS sum_tf FROM p GROUP BY term, block_id) " +
        "SELECT term, block_id, n_postings, min_doc_id, max_doc_id, sum_tf, " +
        "CAST(sum(n_postings) OVER (PARTITION BY term) AS BIGINT) AS df " +
        "FROM b ORDER BY term, block_id"),
    // q193: the BM25 expression tree mirrored verbatim (pure IEEE
    // double ops on exact integers + one exact avgdl division);
    // contributions floored at 1 µnat then decimal-summed (q71)
    "q193_bm25" -> bm25OracleSql,
    // q213: EXACT q193 by construction (block-max WAND prunes, never
    // approximates) — SAME oracle by design, the q37/q210 pattern
    "q213_blockmax_wand" -> bm25OracleSql,
    // q226: both passes replay bm25ContribSql; the feedback cut ranks
    // on the ROUNDED pass-1 score exactly as the engine does
    "q226_query_expansion" -> prfOracleSql,
    // q214: q178's checksum-term formula on both manifests; the B
    // replica's mod-997 drop mirrored in pmod form; IS DISTINCT FROM
    // keeps one-side-only buckets a repair verdict, not NULL
    "q214_manifest_diff" -> {
      val (p, k) = (Audit.ChecksumMod, Audit.KnuthMult)
      def man(pred: String, sfx: String) =
        s"SELECT ((event_id % $p) * $k % $p) % 256 AS bucket, " +
          s"CAST(count(*) AS BIGINT) AS n_$sfx, " +
          s"CAST(sum(CAST((event_id % $p) * $k % $p AS DECIMAL(38,0))) % $p AS BIGINT) AS ck_$sfx " +
          s"FROM events $pred GROUP BY 1"
      s"WITH a AS (${man("", "a")}), " +
        s"b AS (${man("WHERE ((event_id % 997) + 997) % 997 <> 0", "b")}) " +
        "SELECT coalesce(a.bucket, b.bucket) AS bucket, " +
        "CAST(coalesce(n_a, 0) AS BIGINT) AS n_rows_a, " +
        "CAST(coalesce(n_b, 0) AS BIGINT) AS n_rows_b, " +
        "ck_a AS checksum_a, ck_b AS checksum_b, " +
        "(n_a IS DISTINCT FROM n_b) OR (ck_a IS DISTINCT FROM ck_b) AS needs_repair " +
        "FROM a FULL JOIN b ON a.bucket = b.bucket ORDER BY bucket"
    },
    // q215: q150's window (both leads share it) priced in exact µs;
    // p50/p90 under the q38 percentile ↔ quantile_cont mapping
    "q215_transition_dwell" ->
      (s"WITH s AS (SELECT event_type, " +
        "lead(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS next_type, " +
        s"lead(epoch_us($tsUs)) OVER (PARTITION BY user_id ORDER BY ts, event_id) - epoch_us($tsUs) AS dwell " +
        "FROM events) " +
        "SELECT event_type, next_type, count(*) AS n, " +
        "CAST(min(dwell) AS BIGINT) AS min_dwell_us, " +
        s"${rd4("quantile_cont(dwell, 0.5)")} AS med_dwell_us, " +
        s"${rd4("quantile_cont(dwell, 0.9)")} AS p90_dwell_us, " +
        "CAST(max(dwell) AS BIGINT) AS max_dwell_us " +
        "FROM s WHERE next_type IS NOT NULL " +
        "GROUP BY event_type, next_type ORDER BY event_type, next_type"),
    // q216: q142's quantize-then-exact-decimal-sum CTEs; the mean and
    // computational variance evaluate ONE identical IEEE tree from
    // exact decimal inputs; dead = exact decimal min=max
    "q216_dim_variance" ->
      ("WITH ix AS (SELECT embedding AS emb, unnest(range(1, len(embedding) + 1)) AS i FROM embeddings), " +
        "px AS (SELECT i, CAST(floor(CAST(emb[i] AS DOUBLE)*1000000)/1000000 AS DECIMAL(12,6)) AS xq FROM ix), " +
        "g AS (SELECT CAST(i - 1 AS BIGINT) AS dim, CAST(count(*) AS BIGINT) AS n_vals, " +
        "CAST(sum(xq) AS DECIMAL(20,6)) AS s1, sum(CAST(xq*xq AS DECIMAL(38,12))) AS s2, " +
        "min(xq) AS mn, max(xq) AS mx FROM px GROUP BY i) " +
        s"SELECT dim, n_vals, ${rd4("CAST(s1 AS DOUBLE)/n_vals")} AS mean_q, " +
        s"${rd4("(n_vals*CAST(s2 AS DOUBLE) - CAST(s1 AS DOUBLE)*CAST(s1 AS DOUBLE))/(n_vals*n_vals)")} AS variance_q, " +
        "CAST(mn AS DOUBLE) AS min_q, CAST(mx AS DOUBLE) AS max_q, mn = mx AS dead " +
        "FROM g ORDER BY dim"),
    // q217: q13's session CTEs (one definition) + entry/exit via
    // row_number from both ends under the same (ts, event_id) tie rule
    "q217_session_entry_exit" ->
      (s"WITH $sessionSpanCtes, " +
        "o AS (SELECT user_id, session_id, event_type, " +
        "row_number() OVER (PARTITION BY user_id, session_id ORDER BY ts2, event_id) AS rn_a, " +
        "row_number() OVER (PARTITION BY user_id, session_id ORDER BY ts2 DESC, event_id DESC) AS rn_d, " +
        "count(*) OVER (PARTITION BY user_id, session_id) AS n_events FROM s), " +
        "p AS (SELECT user_id, session_id, " +
        "max(CASE WHEN rn_a = 1 THEN event_type END) AS entry_type, " +
        "max(CASE WHEN rn_d = 1 THEN event_type END) AS exit_type, " +
        "max(n_events) AS n_events FROM o GROUP BY user_id, session_id), " +
        "t AS (SELECT count(*) AS n_total FROM p) " +
        "SELECT entry_type, exit_type, CAST(count(*) AS BIGINT) AS n_sessions, " +
        "CAST(sum(CASE WHEN n_events = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_bounces, " +
        s"${rd4("CAST(count(*) AS DOUBLE)/n_total")} AS share " +
        "FROM p CROSS JOIN t GROUP BY entry_type, exit_type, n_total " +
        "ORDER BY entry_type, exit_type"),
    // q218: q62's recursive-CTE component truth (q108's subquery
    // pattern) joined to the token projection; all-integer sums, one
    // floored ratio
    "q218_dedup_token_budget" ->
      ("SELECT tok.source, CAST(count(*) AS BIGINT) AS n_docs, " +
        "CAST(sum(tok.n_tokens) AS BIGINT) AS n_tokens_raw, " +
        "CAST(sum(CASE WHEN c.doc_id = c.cluster_id THEN 1 ELSE 0 END) AS BIGINT) AS n_clusters_led, " +
        "CAST(sum(CASE WHEN c.doc_id = c.cluster_id THEN tok.n_tokens ELSE 0 END) AS BIGINT) AS n_tokens_effective, " +
        s"${rd4("CAST(sum(CASE WHEN c.doc_id = c.cluster_id THEN tok.n_tokens ELSE 0 END) AS DOUBLE)/sum(tok.n_tokens)")} AS dedup_ratio " +
        s"FROM ($q62OracleCore) c JOIN " +
        "(SELECT doc_id, source, CAST(len(list_filter(string_split(text, ' '), x -> x <> '')) AS BIGINT) AS n_tokens " +
        "FROM documents) tok ON c.doc_id = tok.doc_id " +
        "WHERE tok.n_tokens > 0 GROUP BY tok.source ORDER BY tok.source"),
    // q219: the shared all-pairs J≥0.8 truth, degrees from the
    // both-directions union — degree-exact against the staged expand
    "q219_dedup_degree_hist" ->
      (s"WITH $neardupPairCtes, " +
        "d AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS degree FROM " +
        "(SELECT u AS doc_id FROM e0 UNION ALL SELECT v AS doc_id FROM e0) GROUP BY doc_id) " +
        "SELECT degree, CAST(count(*) AS BIGINT) AS n_docs FROM d " +
        "GROUP BY degree ORDER BY degree"),
    // q220: q28's shared feature CTEs + a first-fail CASE in the
    // engine's rule order; the funnel window runs over 5 stage rows.
    // All-integer (the repetition verdict is cross-multiplied); sums
    // CAST to BIGINT per the §7.3 HUGEINT edge rule
    "q220_filter_funnel" ->
      (s"WITH $qualityScoreCtes, " +
        "tfq AS (SELECT doc_id, term, count(*) AS tf FROM " +
        "(SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents) " +
        "WHERE term <> '' GROUP BY doc_id, term), " +
        "mx AS (SELECT doc_id, max(tf) AS max_tf FROM tfq GROUP BY doc_id), " +
        "ff AS (SELECT CASE WHEN n_tokens < 20 THEN 1 WHEN n_tokens > 80 THEN 2 " +
        "WHEN avg_tok_len < 3.0 OR avg_tok_len > 5.0 THEN 3 " +
        "WHEN stop_ratio <= 0.0 THEN 4 " +
        "WHEN 8*COALESCE(max_tf, 0) > n_tokens THEN 5 ELSE 0 END AS first_fail " +
        "FROM qs LEFT JOIN mx USING (doc_id)), " +
        "d AS (SELECT first_fail, count(*) AS nd FROM ff GROUP BY first_fail), " +
        "s(stage, rule) AS (VALUES (1, 'min_tokens'), (2, 'max_tokens'), " +
        "(3, 'avg_tok_len'), (4, 'has_stopword'), (5, 'repetition')), " +
        "j AS (SELECT CAST(stage AS BIGINT) AS stage, rule, " +
        "CAST(COALESCE(nd, 0) AS BIGINT) AS n_dropped FROM s LEFT JOIN d ON d.first_fail = s.stage), " +
        "f AS (SELECT stage, rule, n_dropped, (SELECT count(*) FROM documents) " +
        "- COALESCE(sum(n_dropped) OVER (ORDER BY stage ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS n_in FROM j) " +
        "SELECT stage, rule, CAST(n_in AS BIGINT) AS n_in, n_dropped, " +
        "CAST(n_in - n_dropped AS BIGINT) AS n_out FROM f ORDER BY stage"),
    // q221: the oracle derives the same most-frequent adjacent bigram
    // (lead-window form of the engine's array transform) and rescans —
    // exact-integer counts, 1-based positions on both sides
    "q221_phrase_match" -> phraseMatchOracleSql,
    // q221b: the positional-index leg answers the SAME question — the
    // q213/q193 shared-oracle pattern pins index-vs-scan equivalence
    "q221b_phrase_match_indexed" -> phraseMatchOracleSql,
    // q222: q193's determinism discipline on the Dirichlet LM — both
    // engines evaluate the identical IEEE tree over exact integers,
    // floor at 1 µnat, exact DECIMAL fold; nll ranks ascending
    "q222_query_likelihood" ->
      ("WITH tfq AS (SELECT doc_id, term, count(*) AS tf FROM (" +
        "SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents) u " +
        "WHERE term <> '' GROUP BY doc_id, term), " +
        "dl AS (SELECT doc_id, CAST(sum(tf) AS BIGINT) AS dl FROM tfq GROUP BY doc_id), " +
        "qt AS (SELECT term FROM (SELECT term, count(*) AS df FROM tfq GROUP BY term) " +
        "ORDER BY df DESC, term LIMIT 3), " +
        "cf AS (SELECT tfq.term, CAST(sum(tf) AS BIGINT) AS cf FROM tfq " +
        "JOIN qt ON tfq.term = qt.term GROUP BY tfq.term), " +
        "ct AS (SELECT CAST(sum(dl) AS BIGINT) AS c_total FROM dl), " +
        "x AS (SELECT dl.doc_id, dl.dl, cf.cf, COALESCE(t.tf, 0) AS tf_d FROM dl " +
        "CROSS JOIN cf LEFT JOIN tfq t ON t.doc_id = dl.doc_id AND t.term = cf.term), " +
        "s AS (SELECT doc_id, tf_d, floor(-ln((CAST(tf_d AS DOUBLE) + " +
        "300.0*CAST(cf AS DOUBLE)/CAST(c_total AS DOUBLE))/(CAST(dl AS DOUBLE) + 300.0))" +
        "*1000000 + 0.5)/1000000 AS c FROM x CROSS JOIN ct) " +
        "SELECT doc_id, CAST(sum(CASE WHEN tf_d > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_matched, " +
        s"${dsum("c")} AS nll FROM s GROUP BY doc_id ORDER BY nll, doc_id LIMIT 20"),
    // q223: exact HUGEINT moments over the zero-filled day grid mirror
    // the engine's DECIMAL(38,0) fold; one double division + sqrt at
    // the edge, 4-dp floored; constant series → NULL
    "q223_daily_autocorr" ->
      (s"WITH $denseDayCtes, " +
        "p AS (SELECT event_type, day, x, lead(x) OVER (PARTITION BY event_type ORDER BY day) AS y FROM dense), " +
        "a AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n_pairs, " +
        // products cast BEFORE multiplying — the engine's DECIMAL(38,0)
        // discipline mirrored (raw BIGINT*BIGINT would overflow first)
        "sum(x) AS sx, sum(y) AS sy, sum(CAST(x AS HUGEINT)*y) AS sxy, " +
        "sum(CAST(x AS HUGEINT)*x) AS sxx, sum(CAST(y AS HUGEINT)*y) AS syy " +
        "FROM p WHERE y IS NOT NULL GROUP BY event_type) " +
        "SELECT event_type, n_pairs, " +
        "CASE WHEN (n_pairs*sxx - sx*sx) > 0 AND (n_pairs*syy - sy*sy) > 0 THEN " +
        "floor((CAST(n_pairs*sxy - sx*sy AS DOUBLE) / " +
        "sqrt(CAST(n_pairs*sxx - sx*sx AS DOUBLE) * CAST(n_pairs*syy - sy*sy AS DOUBLE)))" +
        "*10000 + 0.5)/10000 ELSE NULL END AS r_lag1 " +
        "FROM a ORDER BY event_type"),
    // q224: the h-index coreness fixpoint as ONE recursive CTE
    // ([[corenessOracleSql]]) with a GENERATED round-count constant
    // (the BpeMerges/PageRank one-source-of-truth pattern): the
    // engine's staged build latches its converged round count before
    // oracleSql is dumped (Verify runs every query first). Latch = 0
    // means the build did NOT run in this session (a VERIFY_ONLY
    // subset excluding q224, or q224 failing under Verify's
    // catch-and-continue) — a fixed-round fallback could then
    // under-unroll a chain-shaped graph needing ~n/2 rounds and dump a
    // silently WRONG oracle, so emit a loud sentinel instead: the
    // driver's DuckDB run errors on it, and a missing latch reads as
    // "q224 unverifiable this run", never as a false pass/fail against
    // an under-converged unroll (OracleLatchSpec pins both paths).
    "q224_core_decomposition" -> {
      val latched = graft.ops.Similarity.corenessRoundsLatch.get
      if (latched == 0L)
        "SELECT error('q224 oracle requires the in-session staged coreness build " +
          "(corenessRoundsLatch = 0: q224 did not run, or failed, before the dump)')"
      else corenessOracleSql(math.max(latched, 32L))
    },
    // q225: the shared group-edge universe; full neighbor lists via the
    // both-directions union, list_intersect for cn (set semantics match
    // the engine's sorted merge — adjacency lists are duplicate-free),
    // one identical IEEE division 4-dp floored
    "q225_edge_jaccard" ->
      (s"WITH $ttGgCtes, ${groupEdgeSql("ge")}, $edgeCnCtes " +
        "SELECT ga, gb, cn, deg_a, deg_b, " +
        s"${rd4("CAST(cn AS DOUBLE)/CAST(deg_a + deg_b - cn AS DOUBLE)")} AS jaccard " +
        "FROM x ORDER BY ga, gb"),
    // q227: the shared per-edge cn relation folded per edge ENDPOINT
    // (degree = incident-edge count and tri2 = Σcn in one aggregate,
    // the engine's own fold) then per degree class; the class mean
    // collapses to ONE division (d fixed within the class) mirrored
    // verbatim; sum(tri2) is provably even so // 2 is exact
    "q227_clustering_by_degree" ->
      (s"WITH $ttGgCtes, ${groupEdgeSql("ge")}, $edgeCnCtes, " +
        "t2 AS (SELECT v, CAST(count(*) AS BIGINT) AS deg, CAST(sum(cn) AS BIGINT) AS tri2 FROM " +
        "(SELECT ga AS v, cn FROM x UNION ALL SELECT gb, cn FROM x) GROUP BY v) " +
        "SELECT deg, count(*) AS n_vertices, " +
        "CAST(CAST(sum(tri2) AS BIGINT) // 2 AS BIGINT) AS n_tri_corners, " +
        "CASE WHEN deg >= 2 THEN " +
        s"${rd4("CAST(sum(tri2) AS DOUBLE)/CAST(count(*) * deg * (deg - 1) AS DOUBLE)")} " +
        "ELSE NULL END AS avg_lcc " +
        "FROM t2 GROUP BY deg ORDER BY deg"),
    // q228: spans are non-negative so bare // floors; dense day grid
    // via range; reverse cumulative = window sum ordered day DESC
    "q228_survival_curve" ->
      (s"WITH u AS (SELECT user_id, (max(epoch_us($tsUs)) - min(epoch_us($tsUs))) // 86400000000 AS life " +
        "FROM events GROUP BY user_id), " +
        "g AS (SELECT unnest(range(0, (SELECT max(life) FROM u) + 1)) AS day), " +
        "h AS (SELECT life AS day, count(*) AS n FROM u GROUP BY life), " +
        "s AS (SELECT g.day, CAST(coalesce(h.n, 0) AS BIGINT) AS n_ended " +
        "FROM g LEFT JOIN h ON g.day = h.day), " +
        "c AS (SELECT day, n_ended, CAST(sum(n_ended) OVER (ORDER BY day DESC " +
        "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS n_surviving FROM s) " +
        "SELECT day, n_ended, n_surviving, " +
        s"${rd4("CAST(n_surviving AS DOUBLE)/CAST((SELECT count(*) FROM u) AS DOUBLE)")} AS survival " +
        "FROM c ORDER BY day"),
    // q229: q216's quantize-then-exact-decimal-fold discipline; rank
    // via row_number over (gtf DESC, term) then LIMIT; the OLS tree
    // evaluates in double from exact decimal moments, 4-dp floored
    "q229_zipf_fit" -> {
      val slopeExpr = "((CAST(n AS DOUBLE)*CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE)*CAST(sy AS DOUBLE)) / " +
        "(CAST(n AS DOUBLE)*CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE)*CAST(sx AS DOUBLE)))"
      val dxExpr = "(CAST(n AS DOUBLE)*CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE)*CAST(sx AS DOUBLE))"
      val dyExpr = "(CAST(n AS DOUBLE)*CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE)*CAST(sy AS DOUBLE))"
      val numExpr = "(CAST(n AS DOUBLE)*CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE)*CAST(sy AS DOUBLE))"
      "WITH tf AS (SELECT doc_id, term, count(*) AS tf FROM (" +
        "SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents) u " +
        "WHERE term <> '' GROUP BY doc_id, term), " +
        "g AS (SELECT term, CAST(sum(tf) AS BIGINT) AS gtf FROM tf GROUP BY term), " +
        "top AS (SELECT gtf, row_number() OVER (ORDER BY gtf DESC, term) AS rank FROM g " +
        s"ORDER BY gtf DESC, term LIMIT ${TextOps.ZipfFitRanks}), " +
        "p AS (SELECT CAST(floor(ln(CAST(rank AS DOUBLE))*1000000 + 0.5)/1000000 AS DECIMAL(12,6)) AS xq, " +
        "CAST(floor(ln(CAST(gtf AS DOUBLE))*1000000 + 0.5)/1000000 AS DECIMAL(12,6)) AS yq FROM top), " +
        "a AS (SELECT CAST(count(*) AS BIGINT) AS n, sum(xq) AS sx, sum(yq) AS sy, " +
        "sum(CAST(xq*yq AS DECIMAL(38,12))) AS sxy, sum(CAST(xq*xq AS DECIMAL(38,12))) AS sxx, " +
        "sum(CAST(yq*yq AS DECIMAL(38,12))) AS syy FROM p) " +
        "SELECT n AS n_terms, " +
        s"CASE WHEN $dxExpr > 0 THEN ${rd4(slopeExpr)} ELSE NULL END AS slope, " +
        s"CASE WHEN $dxExpr > 0 THEN ${rd4(s"(CAST(sy AS DOUBLE) - $slopeExpr*CAST(sx AS DOUBLE)) / CAST(n AS DOUBLE)")} ELSE NULL END AS intercept, " +
        s"CASE WHEN $dxExpr > 0 AND $dyExpr > 0 THEN ${rd4(s"$numExpr*$numExpr / ($dxExpr*$dyExpr)")} ELSE NULL END AS r2 " +
        "FROM a"
    },
    // q230: first-occurrence doc per term; decile boundaries via
    // quantile_cont (q38's percentile mapping); row-local bucketing
    // 1 + #{boundaries < id}; 10-row cumulative window
    "q230_heaps_curve" ->
      ("WITH tf AS (SELECT doc_id, term, count(*) AS tf FROM (" +
        "SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents) u " +
        "WHERE term <> '' GROUP BY doc_id, term), " +
        "fst AS (SELECT term, min(doc_id) AS fd FROM tf GROUP BY term), " +
        "b AS (SELECT quantile_cont(doc_id, [0.1, 0.2, 0.3, 0.4, 0.5, 0.6, 0.7, 0.8, 0.9, 1.0]) AS bs FROM documents), " +
        "db AS (SELECT 1 + len(list_filter(bs, x -> x < CAST(doc_id AS DOUBLE))) AS k " +
        "FROM documents CROSS JOIN b), " +
        "dn AS (SELECT k, count(*) AS nd FROM db GROUP BY k), " +
        "tb AS (SELECT 1 + len(list_filter(bs, x -> x < CAST(fd AS DOUBLE))) AS k " +
        "FROM fst CROSS JOIN b), " +
        "tn AS (SELECT k, count(*) AS nt FROM tb GROUP BY k), " +
        "g AS (SELECT unnest(range(1, 11)) AS decile), " +
        "z AS (SELECT decile, CAST(coalesce(nd, 0) AS BIGINT) AS nd, " +
        "CAST(coalesce(nt, 0) AS BIGINT) AS n_new_terms " +
        "FROM g LEFT JOIN dn ON g.decile = dn.k LEFT JOIN tn ON g.decile = tn.k) " +
        "SELECT decile, n_new_terms, " +
        "CAST(sum(nd) OVER (ORDER BY decile ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS n_docs_cum, " +
        "CAST(sum(n_new_terms) OVER (ORDER BY decile ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS n_terms_cum " +
        "FROM z ORDER BY decile"),
    // q231: q223's shared grid; Fano collapses to (n·Σx² − (Σx)²)/(n·Σx)
    // — HUGEINT moments (products cast pre-multiply), one 4-dp division
    "q231_event_burstiness" ->
      (s"WITH $denseDayCtes, " +
        "a AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n_days, " +
        "sum(x) AS s1, sum(CAST(x AS HUGEINT)*x) AS s2 FROM dense GROUP BY event_type) " +
        "SELECT event_type, n_days, CAST(s1 AS BIGINT) AS n_events, " +
        "CASE WHEN s1 > 0 THEN " +
        s"${rd4("CAST(n_days*s2 - s1*s1 AS DOUBLE)/CAST(n_days*s1 AS DOUBLE)")} " +
        "ELSE NULL END AS fano " +
        "FROM a ORDER BY event_type"),
    // q232: user-local holding intervals over non-null readings; exact
    // decimal weighted fold; one 4-dp division per type
    "q232_time_weighted_value" ->
      (s"WITH s AS (SELECT event_type, user_id, event_id, " +
        "CAST(floor(value*1000000 + 0.5)/1000000 AS DECIMAL(18,6)) AS vq, " +
        s"epoch_us($tsUs) AS us, " +
        s"lead(epoch_us($tsUs)) OVER (PARTITION BY user_id, event_type ORDER BY ts, event_id) AS nxt " +
        "FROM events WHERE value IS NOT NULL), " +
        "a AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n_intervals, " +
        "CAST(sum(nxt - us) AS BIGINT) AS total_us, " +
        "sum(vq * (nxt - us)) AS swx FROM s WHERE nxt IS NOT NULL GROUP BY event_type) " +
        "SELECT event_type, n_intervals, total_us, " +
        "CASE WHEN total_us > 0 THEN " +
        s"${rd4("CAST(swx AS DOUBLE)/CAST(total_us AS DOUBLE)")} " +
        "ELSE NULL END AS twap " +
        "FROM a ORDER BY event_type"),
    // q233: the closed-form tie-group Lorenz numerator — prefix window
    // over DISTINCT count values only; HUGEINT products cast pre-multiply
    "q233_event_gini" ->
      (s"WITH $tieGroupCtes, " +
        "a AS (SELECT sum(CAST(x AS HUGEINT) * (CAST(s AS HUGEINT)*2*nx + " +
        "CAST(nx AS HUGEINT)*(nx + 1) - CAST(n + 1 AS HUGEINT)*nx)) AS num " +
        "FROM p CROSS JOIN t) " +
        "SELECT n AS n_users, CAST(sx AS BIGINT) AS n_events, " +
        "CASE WHEN n > 0 THEN " +
        s"${rd4("CAST(num AS DOUBLE)/CAST(n*sx AS DOUBLE)")} " +
        "ELSE NULL END AS gini " +
        "FROM t CROSS JOIN a"),
    // q235: q233's tie-group prefixes + the closed-form bottom-m cut
    // (m − s)·x inside the containing group; 10-row decile frame
    "q235_lorenz_deciles" ->
      (s"WITH $tieGroupCtes, " +
        "g AS (SELECT unnest(range(1, 11)) AS decile), " +
        "gm AS (SELECT decile, (decile * n) // 10 AS m, n, sx FROM g CROSS JOIN t), " +
        "mt AS (SELECT gm.decile, ex + CAST(gm.m - p.s AS HUGEINT) * p.x AS cum " +
        "FROM p JOIN gm ON p.s < gm.m AND gm.m <= p.s + p.nx) " +
        "SELECT gm.decile, gm.m AS n_bottom_users, " +
        "CASE WHEN gm.n > 0 THEN CAST(coalesce(mt.cum, 0) AS BIGINT) ELSE NULL END AS cum_events, " +
        "CASE WHEN gm.n > 0 THEN " +
        s"${rd4("CAST(coalesce(mt.cum, 0) AS DOUBLE)/CAST(gm.sx AS DOUBLE)")} " +
        "ELSE NULL END AS share " +
        "FROM gm LEFT JOIN mt ON gm.decile = mt.decile ORDER BY gm.decile"),
    // q236: 6-dp grid before quantile_cont (identical interpolation
    // inputs); fence compares on unrounded doubles; 4-dp at the edge
    "q236_boxplot_stats" ->
      ("WITH e AS (SELECT event_type, floor(value*1000000 + 0.5)/1000000 AS vq " +
        "FROM events WHERE value IS NOT NULL), " +
        "q AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n, " +
        "quantile_cont(vq, 0.25) AS p25, quantile_cont(vq, 0.5) AS p50, " +
        "quantile_cont(vq, 0.75) AS p75 FROM e GROUP BY event_type), " +
        "f AS (SELECT event_type, n, p25, p50, p75, p75 - p25 AS iqr, " +
        "p25 - 1.5*(p75 - p25) AS lo, p75 + 1.5*(p75 - p25) AS hi FROM q), " +
        "o AS (SELECT e.event_type, " +
        "CAST(sum(CASE WHEN vq < lo THEN 1 ELSE 0 END) AS BIGINT) AS n_low_outliers, " +
        "CAST(sum(CASE WHEN vq > hi THEN 1 ELSE 0 END) AS BIGINT) AS n_high_outliers " +
        "FROM e JOIN f ON e.event_type = f.event_type GROUP BY e.event_type) " +
        "SELECT f.event_type, n, " +
        s"${rd4("p25")} AS p25, ${rd4("p50")} AS p50, ${rd4("p75")} AS p75, " +
        s"${rd4("iqr")} AS iqr, n_low_outliers, n_high_outliers " +
        "FROM f JOIN o ON f.event_type = o.event_type ORDER BY f.event_type"),
    // q237: markers generated from the ONE shared constant; exact
    // substring counts via the length-difference form (no regex)
    "q237_special_token_scan" -> {
      val vals = graft.ops.TrainingData.SpecialTokenMarkers
        .map(m => s"('$m')").mkString(", ")
      s"WITH mk(marker) AS (VALUES $vals), " +
        "h AS (SELECT marker, source, " +
        "CAST((length(text) - length(replace(text, marker, ''))) // length(marker) AS BIGINT) AS occ " +
        "FROM documents CROSS JOIN mk), " +
        "ps AS (SELECT marker, source, CAST(sum(occ) AS BIGINT) AS s_occ FROM h " +
        "WHERE occ > 0 GROUP BY marker, source), " +
        "ws AS (SELECT marker, source AS worst_source FROM " +
        "(SELECT marker, source, row_number() OVER (PARTITION BY marker " +
        "ORDER BY s_occ DESC, source) AS rn FROM ps) WHERE rn = 1) " +
        "SELECT h.marker, CAST(sum(CASE WHEN occ > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_docs_hit, " +
        "CAST(sum(occ) AS BIGINT) AS n_hits, ws.worst_source AS worst_source " +
        "FROM h LEFT JOIN ws ON h.marker = ws.marker " +
        "GROUP BY h.marker, ws.worst_source ORDER BY h.marker"
    },
    // q238: cross-multiplied integer class boundaries (never a double
    // compare); the rank/cumsum window at source cardinality
    "q238_abc_classes" ->
      ("WITH v AS (SELECT source, CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS n_tokens " +
        "FROM documents GROUP BY source), " +
        "t AS (SELECT CAST(sum(n_tokens) AS BIGINT) AS total FROM v), " +
        "c AS (SELECT source, n_tokens, CAST(sum(n_tokens) OVER (ORDER BY n_tokens DESC, source " +
        "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_tokens FROM v) " +
        "SELECT source, n_tokens, cum_tokens, " +
        s"${rd4("CAST(cum_tokens AS DOUBLE)/CAST(total AS DOUBLE)")} AS cum_share, " +
        "CASE WHEN cum_tokens * 100 <= total * 80 THEN 'A' " +
        "WHEN cum_tokens * 100 <= total * 95 THEN 'B' ELSE 'C' END AS abc_class " +
        "FROM c CROSS JOIN t ORDER BY n_tokens DESC, source"),
    // q239: the exact sliding distinct via 7-way fan-out of the
    // distinct user-day relation; dense day grid zero-fills
    "q239_rolling_actives" ->
      (s"WITH ud AS (SELECT DISTINCT user_id, ${fdiv(s"epoch_us($tsUs)", 86400000000L)} AS day FROM events), " +
        "b AS (SELECT min(day) AS dmin, max(day) AS dmax FROM ud), " +
        "g AS (SELECT unnest(generate_series(dmin, dmax)) AS day FROM b), " +
        "f AS (SELECT DISTINCT user_id, day + o AS day2 FROM ud " +
        "CROSS JOIN (SELECT unnest(range(0, 7)) AS o)), " +
        "w AS (SELECT day2 AS day, CAST(count(*) AS BIGINT) AS wau FROM f GROUP BY day2), " +
        "d AS (SELECT day, CAST(count(*) AS BIGINT) AS dau FROM ud GROUP BY day) " +
        "SELECT g.day, CAST(coalesce(d.dau, 0) AS BIGINT) AS dau, " +
        "CAST(coalesce(w.wau, 0) AS BIGINT) AS wau_7d " +
        "FROM g LEFT JOIN d ON g.day = d.day LEFT JOIN w ON g.day = w.day ORDER BY g.day"),
    // q240: q223's shared grid; integer OLS moments in HUGEINT
    // (products cast pre-multiply); one division per type, 4-dp
    "q240_traffic_trend" ->
      (s"WITH $denseDayCtes, " +
        "a AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n_days, " +
        "sum(CAST(day AS HUGEINT)) AS sd, sum(x) AS sy, " +
        "sum(CAST(day AS HUGEINT)*x) AS sdy, sum(CAST(day AS HUGEINT)*day) AS sdd " +
        "FROM dense GROUP BY event_type) " +
        "SELECT event_type, n_days, CAST(sy AS BIGINT) AS n_events, " +
        "CASE WHEN (n_days*sdd - sd*sd) > 0 THEN " +
        s"${rd4("CAST(n_days*sdy - sd*sy AS DOUBLE)/CAST(n_days*sdd - sd*sd AS DOUBLE)")} " +
        "ELSE NULL END AS slope_per_day " +
        "FROM a ORDER BY event_type"),
    // q234: q216's quantize/stat CTEs; the z² contribution is ONE IEEE
    // tree per (vec, dim) µ-rounded at 1e-6; dead dims excluded
    "q234_embedding_outliers" -> {
      val zSq = "((CAST(px.xq AS DOUBLE) - mean_q)/sqrt(variance_q)) * " +
        "((CAST(px.xq AS DOUBLE) - mean_q)/sqrt(variance_q))"
      "WITH ix AS (SELECT vec_id, embedding AS emb, unnest(range(1, len(embedding) + 1)) AS i FROM embeddings), " +
        "px AS (SELECT vec_id, i, CAST(floor(CAST(emb[i] AS DOUBLE)*1000000)/1000000 AS DECIMAL(12,6)) AS xq FROM ix), " +
        "g AS (SELECT i, CAST(count(*) AS BIGINT) AS n_vals, CAST(sum(xq) AS DECIMAL(20,6)) AS s1, " +
        "sum(CAST(xq*xq AS DECIMAL(38,12))) AS s2 FROM px GROUP BY i), " +
        s"st AS (SELECT i, ${rd4("CAST(s1 AS DOUBLE)/n_vals")} AS mean_q, " +
        s"${rd4("(n_vals*CAST(s2 AS DOUBLE) - CAST(s1 AS DOUBLE)*CAST(s1 AS DOUBLE))/(n_vals*n_vals)")} AS variance_q FROM g), " +
        s"sc AS (SELECT vec_id, floor(($zSq)*1000000 + 0.5)/1000000 AS c " +
        "FROM px JOIN st ON px.i = st.i WHERE variance_q > 0) " +
        s"SELECT vec_id, ${dsum("c")} AS z2, max(c) AS max_dim_z2 " +
        "FROM sc GROUP BY vec_id ORDER BY z2 DESC, vec_id LIMIT 20"
    },
    // q194: both engines floor the identical IEEE division for the
    // band; l-diversity = exact distinct balances within the class
    "q194_k_anonymity" ->
      ("SELECT c_nationkey AS nation_key, c_mktsegment AS segment, " +
        "CAST(floor(c_acctbal / 1000.0) AS BIGINT) AS bal_bucket, " +
        "count(*) AS class_size, " +
        "CAST(count(DISTINCT c_acctbal) AS BIGINT) AS l_distinct, " +
        s"count(*) >= ${Audit.KAnonThreshold} AS k_anonymous, " +
        "count(DISTINCT c_acctbal) = 1 AS homogeneous " +
        "FROM customer GROUP BY nation_key, segment, bal_bucket " +
        "ORDER BY nation_key, segment, bal_bucket"),
    // q195: A-ES key ln(u)/w ranked raw (both engines compute the
    // identical double), output floored at 1 µnat; q190's hash term
    "q195_weighted_sample" -> {
      val (p, k) = (Audit.ChecksumMod, Audit.KnuthMult)
      s"WITH t AS (SELECT doc_id, length(text) + 1 AS weight, " +
        s"(CAST((doc_id % $p) * $k % $p AS DOUBLE) + 0.5) / $p.0 AS u FROM documents) " +
        "SELECT doc_id, weight, " +
        "floor((ln(u) / CAST(weight AS DOUBLE))*1000000 + 0.5)/1000000 AS es_key " +
        "FROM t ORDER BY ln(u) / CAST(weight AS DOUBLE) DESC, doc_id LIMIT 20"
    },
    // q196: the max(0,·) CUSUM recurrence via the prefix-sum identity
    // C = P - least(running min P, 0); exact 2*n0-scaled integers
    "q196_level_shift" ->
      (s"WITH d AS (SELECT event_type, ${fdiv("epoch_us(ts)", 86400000000L)} AS day, count(*) AS n " +
        "FROM events GROUP BY event_type, day), " +
        "r AS (SELECT event_type, day, n, row_number() OVER (PARTITION BY event_type " +
        "ORDER BY day) AS rn FROM d), " +
        "b AS (SELECT event_type, CAST(sum(n) AS BIGINT) AS s0, count(*) AS n0 FROM r " +
        s"WHERE rn <= ${Events.CusumBaselineDays} GROUP BY event_type), " +
        "t AS (SELECT r.event_type, day, n, s0, 2*n0*n - 3*s0 AS t_up, s0 - 2*n0*n AS t_dn " +
        s"FROM r JOIN b ON r.event_type = b.event_type " +
        s"WHERE n0 = ${Events.CusumBaselineDays} AND rn > ${Events.CusumBaselineDays}), " +
        "p AS (SELECT event_type, day, n, s0, CAST(sum(t_up) OVER w AS BIGINT) AS p_up, " +
        "CAST(sum(t_dn) OVER w AS BIGINT) AS p_dn FROM t WINDOW w AS (" +
        "PARTITION BY event_type ORDER BY day ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)) " +
        "SELECT event_type, day, n, " +
        "p_up - least(min(p_up) OVER w, 0) AS cusum_up, " +
        "p_dn - least(min(p_dn) OVER w, 0) AS cusum_dn, " +
        "p_up - least(min(p_up) OVER w, 0) > 8*s0 AS shift_up, " +
        "p_dn - least(min(p_dn) OVER w, 0) > 8*s0 AS shift_dn " +
        "FROM p WINDOW w AS (PARTITION BY event_type ORDER BY day " +
        "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) ORDER BY event_type, day"),
    // q197: CV test cross-multiplied in 128-bit space (HUGEINT mirrors
    // DECIMAL(38,0)); the second moment never reaches the output
    "q197_bot_cadence" ->
      ("WITH e AS (SELECT event_type, user_id, event_id, epoch_us(ts) AS us " +
        "FROM events WHERE user_id IS NOT NULL), " +
        "g AS (SELECT user_id, event_type, us - lag(us) OVER (" +
        "PARTITION BY user_id, event_type ORDER BY us, event_id) AS gap FROM e), " +
        "a AS (SELECT user_id, event_type, count(*) AS n_gaps, " +
        "CAST(sum(gap) AS BIGINT) AS s, sum(CAST(gap AS HUGEINT) * gap) AS q2 " +
        "FROM g WHERE gap IS NOT NULL GROUP BY user_id, event_type) " +
        "SELECT user_id, event_type, n_gaps, s AS sum_gap_us, " +
        "n_gaps >= 5 AND 100 * (n_gaps * q2 - CAST(s AS HUGEINT) * s) < " +
        "CAST(s AS HUGEINT) * s AS robotic, " +
        "n_gaps >= 5 AND s < n_gaps * 1000000 AS superhuman " +
        "FROM a ORDER BY user_id, event_type"),
    // q198: posting intersection as semi-join + HAVING count = |query|
    "q198_boolean_and" ->
      ("WITH tf AS (SELECT doc_id, term, count(*) AS tf FROM (" +
        "SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents) u " +
        "WHERE term <> '' GROUP BY doc_id, term), " +
        "df AS (SELECT term, count(*) AS df FROM tf GROUP BY term), " +
        "qt AS (SELECT term FROM df ORDER BY df DESC, term LIMIT 3) " +
        "SELECT doc_id, CAST(sum(tf) AS BIGINT) AS sum_tf, min(tf) AS min_tf " +
        "FROM tf JOIN qt ON tf.term = qt.term GROUP BY doc_id " +
        "HAVING count(*) = 3 ORDER BY doc_id"),
    // q199: generated from the SAME FdCandidates rows (q169/q170's
    // one-source-of-truth pattern); NULL-handling mirrored
    "q199_fd_discovery" ->
      (Audit.FdCandidates.map { case (t, a, b) =>
        s"SELECT '$t' AS table_name, '$a' AS lhs, '$b' AS rhs, count(*) AS n_lhs, " +
          "coalesce(CAST(sum(CASE WHEN nb > 1 THEN 1 ELSE 0 END) AS BIGINT), 0) AS n_violating_lhs, " +
          "coalesce(CAST(sum(CASE WHEN nb > 1 THEN 1 ELSE 0 END) AS BIGINT), 0) = 0 AS fd_holds " +
          s"FROM (SELECT $a, count(DISTINCT $b) AS nb FROM $t WHERE $a IS NOT NULL GROUP BY $a) g"
      }.mkString("SELECT * FROM (", " UNION ALL ", ") u ORDER BY table_name, lhs, rhs")),
    // q200: the sweep over q13's session spans — one session CTE text
    // (sessionSpanCtes) serves both readouts
    "q200_peak_concurrency" ->
      (s"WITH $sessionSpanCtes, " +
        s"b AS (SELECT ${fdiv("epoch_us(session_start)", 86400000000L)} AS day, epoch_us(session_start) AS us, " +
        "1 AS ds, 0 AS de FROM sp " +
        s"UNION ALL SELECT ${fdiv("epoch_us(session_end)", 86400000000L)}, epoch_us(session_end), 0, 1 FROM sp), " +
        "g AS (SELECT day, us, CAST(sum(ds) AS BIGINT) AS n_starts, CAST(sum(de) AS BIGINT) AS n_ends " +
        "FROM b GROUP BY day, us), " +
        "r AS (SELECT day, us, n_starts, n_ends, CAST(sum(n_starts - n_ends) OVER " +
        "(PARTITION BY day ORDER BY us ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) " +
        "AS s_after FROM g), " +
        "d AS (SELECT day, CAST(sum(n_starts) AS BIGINT) AS n_starts, CAST(sum(n_ends) AS BIGINT) AS n_ends, " +
        "max(s_after + n_ends) AS max_cand FROM r GROUP BY day) " +
        "SELECT day, n_starts, n_ends, CAST(coalesce(sum(n_starts - n_ends) OVER " +
        "(ORDER BY day ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) + max_cand AS BIGINT) " +
        "AS peak_concurrent FROM d ORDER BY day"),
    // q201: the same ≤2-deep deletion neighborhoods + levenshtein
    // verify; both engines run classic Wagner-Fischer
    "q201_spelling_variants" ->
      ("WITH tok AS (SELECT UNNEST(string_split(text, ' ')) AS t FROM documents), " +
        "v AS (SELECT t, count(*) AS n FROM tok WHERE length(t) >= 3 GROUP BY t), " +
        "d1 AS (SELECT t, list_distinct(list_transform(range(1, length(t)+1), " +
        "i -> substr(t, 1, CAST(i-1 AS BIGINT)) || substr(t, CAST(i+1 AS BIGINT)))) AS ks FROM v), " +
        "kd AS (SELECT DISTINCT t, key FROM (" +
        "SELECT t, UNNEST(list_distinct(flatten([[t], ks, " +
        "flatten(list_transform(ks, s -> list_transform(range(1, length(s)+1), " +
        "j -> substr(s, 1, CAST(j-1 AS BIGINT)) || substr(s, CAST(j+1 AS BIGINT)))))]))) AS key " +
        "FROM d1)), " +
        "c AS (SELECT DISTINCT a.t AS term_a, b.t AS term_b FROM kd a " +
        "JOIN kd b ON a.key = b.key AND a.t < b.t), " +
        "p AS (SELECT term_a, term_b, CAST(levenshtein(term_a, term_b) AS BIGINT) AS dist " +
        "FROM c WHERE levenshtein(term_a, term_b) <= 2) " +
        "SELECT term_a, term_b, dist, va.n AS n_a, vb.n AS n_b, " +
        "CASE WHEN va.n > vb.n THEN term_a WHEN vb.n > va.n THEN term_b " +
        "ELSE least(term_a, term_b) END AS canonical " +
        "FROM p JOIN v va ON va.t = term_a JOIN v vb ON vb.t = term_b " +
        "ORDER BY term_a, term_b"),
    // q202: HUGEINT is DuckDB's 128-bit mirror of DECIMAL(38,0) — the
    // lift verdict cross-multiplies identically on both engines
    "q202_collocation_lift" ->
      ("WITH t AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents), " +
        "u AS (SELECT UNNEST(w) AS tok FROM t), " +
        "v AS (SELECT tok, count(*) AS c FROM u GROUP BY tok), " +
        "bg AS (SELECT w[i-1] AS a, w[i] AS b FROM " +
        "(SELECT w, UNNEST(range(2, len(w)+1)) AS i FROM t)), " +
        "cb AS (SELECT a, b, CAST(count(*) AS BIGINT) AS c_ab FROM bg GROUP BY a, b " +
        "HAVING count(*) >= 5), " +
        "tot AS (SELECT (SELECT CAST(count(*) AS BIGINT) FROM u) AS n_tok, " +
        "(SELECT CAST(count(*) AS BIGINT) FROM bg) AS n_big) " +
        "SELECT a AS tok_a, b AS tok_b, c_ab, va.c AS c_a, vb.c AS c_b, " +
        "CAST(c_ab AS HUGEINT)*n_tok*n_tok > 2*CAST(va.c AS HUGEINT)*vb.c*n_big AS collocated " +
        "FROM cb JOIN v va ON va.tok = a JOIN v vb ON vb.tok = b CROSS JOIN tot " +
        "ORDER BY tok_a, tok_b"),
    // q203: the complement read over per-(segment, fold) partials; the
    // mean mirrors davg's positive-sum floor-division formula with
    // N = (S_seg − S_fold)·10⁶ and D = n_other·100
    "q203_target_encoding" ->
      ("WITH r AS (SELECT c_mktsegment AS segment, CAST(o_totalprice AS DECIMAL(20,6)) AS y, " +
        "CAST(strpos('0123456789abcdef', substr(md5(CAST(o_orderkey AS VARCHAR)), 1, 1)) - 1 " +
        "AS BIGINT) % 4 AS fold FROM orders JOIN customer ON o_custkey = c_custkey), " +
        "f AS (SELECT segment, fold, CAST(count(*) AS BIGINT) AS n_f, sum(y) AS s_f " +
        "FROM r GROUP BY segment, fold), " +
        "g AS (SELECT segment, CAST(sum(n_f) AS BIGINT) AS n_seg, sum(s_f) AS s_seg " +
        "FROM f GROUP BY segment) " +
        "SELECT segment, fold, n_f AS n_in_fold, n_seg - n_f AS n_other, " +
        "CASE WHEN n_seg - n_f > 0 THEN " +
        "CAST((2*CAST((s_seg - s_f)*1000000 AS HUGEINT) + (n_seg - n_f)*100) " +
        "// (2*(n_seg - n_f)*100) AS DOUBLE)/10000.0 END AS encoding " +
        "FROM f JOIN g USING (segment) ORDER BY segment, fold"),
    // q204: pmod mirrored as ((x % 7) + 7) % 7 (DuckDB % truncates)
    "q204_weekday_profile" ->
      ("WITH d AS (SELECT event_type, " +
        s"(((${fdiv("epoch_us(CAST(ts AS TIMESTAMP))", 86400000000L)} + 4) % 7) + 7) % 7 AS dow FROM events), " +
        "g AS (SELECT event_type, dow, CAST(count(*) AS BIGINT) AS n FROM d GROUP BY event_type, dow), " +
        "t AS (SELECT event_type, dow, n, CAST(sum(n) OVER (PARTITION BY event_type) AS BIGINT) " +
        "AS n_type FROM g) " +
        "SELECT event_type, dow, n, n_type, n*7 > n_type*2 AS hot_day, n*14 < n_type AS quiet_day " +
        "FROM t ORDER BY event_type, dow"),
    // q205: quantile_cont mirrors Spark's interpolated percentile
    // (q38's mapping); strict > against the boundaries keeps ties in
    // the same bucket on both engines
    "q205_rfm_segments" ->
      (s"WITH p AS (SELECT user_id, epoch_us($tsUs) AS us, value FROM events " +
        "WHERE event_type = 'purchase' AND user_id IS NOT NULL), " +
        "u AS (SELECT user_id, max(us) AS last_us, CAST(count(*) AS BIGINT) AS f, " +
        s"${dsum("value")} AS m FROM p GROUP BY user_id), " +
        "a AS (SELECT max(us) AS anchor_us FROM p), " +
        "r AS (SELECT u.*, (anchor_us - last_us) // 86400000000 AS r_days FROM u CROSS JOIN a), " +
        "b AS (SELECT quantile_cont(r_days, [0.2,0.4,0.6,0.8]) AS rb, " +
        "quantile_cont(f, [0.2,0.4,0.6,0.8]) AS fb, " +
        "quantile_cont(m, [0.2,0.4,0.6,0.8]) AS mb FROM r), " +
        "s AS (SELECT user_id, m, " +
        "5 - ((CASE WHEN r_days > rb[1] THEN 1 ELSE 0 END) + (CASE WHEN r_days > rb[2] THEN 1 ELSE 0 END) " +
        "+ (CASE WHEN r_days > rb[3] THEN 1 ELSE 0 END) + (CASE WHEN r_days > rb[4] THEN 1 ELSE 0 END)) AS r_score, " +
        "1 + ((CASE WHEN f > fb[1] THEN 1 ELSE 0 END) + (CASE WHEN f > fb[2] THEN 1 ELSE 0 END) " +
        "+ (CASE WHEN f > fb[3] THEN 1 ELSE 0 END) + (CASE WHEN f > fb[4] THEN 1 ELSE 0 END)) AS f_score, " +
        "1 + ((CASE WHEN m > mb[1] THEN 1 ELSE 0 END) + (CASE WHEN m > mb[2] THEN 1 ELSE 0 END) " +
        "+ (CASE WHEN m > mb[3] THEN 1 ELSE 0 END) + (CASE WHEN m > mb[4] THEN 1 ELSE 0 END)) AS m_score " +
        "FROM r CROSS JOIN b) " +
        "SELECT CAST(r_score AS BIGINT) AS r_score, CAST(f_score AS BIGINT) AS f_score, " +
        "CAST(m_score AS BIGINT) AS m_score, CAST(count(*) AS BIGINT) AS n_users, " +
        s"${dsum("m")} AS total_value " +
        "FROM s GROUP BY r_score, f_score, m_score ORDER BY r_score, f_score, m_score"),
    // q206: q142's centroid CTE discipline keyed by (label, half);
    // the verdict compares the ROUNDED sim on both engines
    "q206_embedding_drift" ->
      ("WITH e AS (SELECT label, ((vec_id % 2) + 2) % 2 AS half, embedding AS emb " +
        "FROM embeddings WHERE label IS NOT NULL), " +
        "ix AS (SELECT label, half, emb, unnest(range(1, len(emb)+1)) AS i FROM e), " +
        "px AS (SELECT label, half, i, CAST(floor(CAST(emb[i] AS DOUBLE)*1000000)/1000000 " +
        "AS DECIMAL(12,6)) AS xq FROM ix), " +
        "c AS (SELECT label, half, i, CAST(sum(xq) AS DECIMAL(18,6)) AS comp " +
        "FROM px GROUP BY label, half, i), " +
        "n AS (SELECT label, half, sqrt(CAST(sum(CAST(comp*comp AS DECIMAL(38,12))) AS DOUBLE)) " +
        "AS nrm FROM c GROUP BY label, half), " +
        "cnt AS (SELECT label, half, CAST(count(*) AS BIGINT) AS n FROM e GROUP BY label, half), " +
        "dt AS (SELECT a.label AS label, CAST(sum(CAST(a.comp*b.comp AS DECIMAL(38,12))) AS DOUBLE) " +
        "AS dt FROM c a JOIN c b ON a.label = b.label AND a.i = b.i AND a.half = 0 AND b.half = 1 " +
        "GROUP BY a.label) " +
        "SELECT dt.label AS label, ca.n AS n_a, cb.n AS n_b, " +
        "CASE WHEN na.nrm*nb.nrm > 0 THEN floor((dt/(na.nrm*nb.nrm))*10000 + 0.5)/10000 END AS sim, " +
        "CASE WHEN na.nrm*nb.nrm > 0 THEN floor((dt/(na.nrm*nb.nrm))*10000 + 0.5)/10000 < 0.98 END " +
        "AS drifted " +
        "FROM dt JOIN n na ON dt.label = na.label AND na.half = 0 " +
        "JOIN n nb ON dt.label = nb.label AND nb.half = 1 " +
        "JOIN cnt ca ON dt.label = ca.label AND ca.half = 0 " +
        "JOIN cnt cb ON dt.label = cb.label AND cb.half = 1 ORDER BY label"),
    // q207: Σq² in HUGEINT internally (DECIMAL(38,0)'s mirror) — but
    // the OUTPUT column is BIGINT on both sides (SURVEY §7.3: no wide
    // decimals in declared outputs; the driver hashes dtypes)
    "q207_supplier_concentration" ->
      ("WITH s AS (SELECT p_brand, l_suppkey, CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS qs " +
        "FROM lineitem JOIN part ON l_partkey = p_partkey GROUP BY p_brand, l_suppkey), " +
        "b AS (SELECT p_brand, CAST(count(*) AS BIGINT) AS n_suppliers, " +
        "CAST(sum(qs) AS BIGINT) AS total_qty, sum(CAST(qs AS HUGEINT) * qs) AS sum_sq " +
        "FROM s GROUP BY p_brand) " +
        "SELECT p_brand, n_suppliers, total_qty, CAST(sum_sq AS BIGINT) AS sum_sq, " +
        "sum_sq * 4 > CAST(total_qty AS HUGEINT) * total_qty AS concentrated " +
        "FROM b ORDER BY p_brand"),
    "q208_embedding_coverage" ->
      ("SELECT source, CAST(count(*) AS BIGINT) AS n_docs, " +
        "CAST(count(e.vec_id) AS BIGINT) AS n_with_vec, " +
        "CAST(count(*) - count(e.vec_id) AS BIGINT) AS n_missing, " +
        "count(*) = count(e.vec_id) AS full_coverage " +
        "FROM documents d LEFT JOIN (SELECT DISTINCT vec_id FROM embeddings) e " +
        "ON d.doc_id = e.vec_id GROUP BY source ORDER BY source"),
    // q209: lag in whole days via // (floorDivExpr's mirror); p50/p90
    // under the q38 percentile ↔ quantile_cont mapping
    "q209_fulfillment_latency" ->
      ("WITH j AS (SELECT o_orderpriority, " +
        s"${fdiv("epoch_us(CAST(l_shipdate AS TIMESTAMP)) - epoch_us(CAST(o_orderdate AS TIMESTAMP))", 86400000000L)} AS lag_days " +
        "FROM lineitem JOIN orders ON l_orderkey = o_orderkey) " +
        "SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n_items, " +
        "min(lag_days) AS min_days, " +
        "floor((quantile_cont(lag_days, 0.5))*10000 + 0.5)/10000 AS med_days, " +
        "floor((quantile_cont(lag_days, 0.9))*10000 + 0.5)/10000 AS p90_days, " +
        "max(lag_days) AS max_days " +
        "FROM j GROUP BY o_orderpriority ORDER BY o_orderpriority"),
    // q210: q04's SQL verbatim — merge ≡ recompute IS the contract
    "q210_ivm_merge" -> q04OracleSql,
    // q211: json_valid/json_type guards mirror from_json's strict
    // object-only parse (allowSingleQuotes=false); bare-key extraction
    // (no path syntax) keeps dotted/quoted keys exact
    "q211_json_profile" ->
      ("WITH o AS (SELECT props FROM events WHERE props IS NOT NULL AND json_valid(props) " +
        "AND json_type(props) = 'OBJECT'), " +
        "kv AS (SELECT key, json_extract_string(props, key) AS value " +
        "FROM (SELECT props, UNNEST(json_keys(props)) AS key FROM o)), " +
        "t AS (SELECT CAST(count(*) AS BIGINT) AS n_total FROM events) " +
        "SELECT key, CAST(count(*) AS BIGINT) AS n_rows, " +
        "CAST(count(DISTINCT value) AS BIGINT) AS n_distinct_values, n_total, " +
        "count(*) = n_total AS ubiquitous " +
        "FROM kv CROSS JOIN t GROUP BY key, n_total ORDER BY key"),
    // q212: q62's recursive-CTE component truth (q108's pattern)
    // joined to the doc→source map
    "q212_cluster_provenance" ->
      (s"SELECT cluster_id, n_docs, n_sources, n_majority, n_sources >= 2 AS cross_site FROM (" +
        "SELECT cluster_id, CAST(sum(ns) AS BIGINT) AS n_docs, " +
        "CAST(count(*) AS BIGINT) AS n_sources, CAST(max(ns) AS BIGINT) AS n_majority FROM (" +
        s"SELECT cluster_id, source, count(*) AS ns FROM ($q62OracleCore) l " +
        "JOIN documents USING (doc_id) GROUP BY cluster_id, source) g " +
        "GROUP BY cluster_id) t WHERE n_docs >= 2 ORDER BY cluster_id"),
    // q241: the oracle IS the refinement invariant — sketch clusters
    // are verified at q62's own threshold over a candidate SUBSET, so
    // no sketch cluster can span two exact clusters, and both label
    // paths cover every document; the engine recomputes both sides
    // from its staged label families and must land on the constants
    "q241_sketch_refinement_audit" ->
      ("SELECT (SELECT CAST(count(*) AS BIGINT) FROM documents) AS n_labeled, " +
        "CAST(0 AS BIGINT) AS n_refinement_violations"),
    // q242: merge ≡ recompute — the oracle rebuilds the postings from
    // the raw corpus in one statement (q210's contract)
    "q242_tf_postings_delta_merge" ->
      ("SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf FROM " +
        "(SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents) " +
        "WHERE term <> '' GROUP BY doc_id, term ORDER BY doc_id, term"),
    // q243: merge ≡ recompute for the exact-dup collapse — the oracle
    // is the cold one-pass collapse (tt→gg), invariant under the
    // injective token relabeling (q55's argument)
    "q243_collapse_delta_merge" ->
      (s"WITH $ttGgCtes " +
        "SELECT tt.doc_id, gg.gid AS group_id FROM tt JOIN gg USING (toks) " +
        "ORDER BY tt.doc_id"),
    // q244/q245: merge ≡ recompute for the cascade's pair and label
    // families — the oracles are the cold q21/q62 oracles VERBATIM
    // (the whole point of the delta-merge contract: folding a delta
    // into staged state answers exactly what a cold rebuild answers)
    "q244_set_pairs_delta_merge" -> q21OracleSql,
    "q245_labels_delta_merge" -> q62OracleSql,
    // q246: the shingle cascade's merge ≡ recompute — q55's SQL verbatim
    "q246_shingle_pairs_delta_merge" -> q55OracleSql,
  )

  /** The q154 integer-PageRank recurrence (no ORDER BY) — shared by
    * q154's entry and q155's keeper join.
    */
  private def q154OracleCore: String = {
    val s = graft.ops.Similarity.PageRankScale
    val iters = (1 to graft.ops.Similarity.PageRankIters).map { i =>
      s"p$i AS (SELECT d.gid, d.deg, nn.n, " +
        s"(15*$s // (100*nn.n)) + (85 * i$i.inflow) // 100 AS pr " +
        s"FROM (SELECT sym.gb AS gid, sum(p${i - 1}.pr // p${i - 1}.deg) AS inflow " +
        s"FROM sym JOIN p${i - 1} ON sym.ga = p${i - 1}.gid GROUP BY sym.gb) i$i " +
        s"JOIN d ON d.gid = i$i.gid CROSS JOIN nn)"
    }.mkString(", ")
    s"WITH $ttGgCtes, ${groupEdgeSql("e0")}, " +
      "sym AS MATERIALIZED (SELECT ga, gb FROM e0 UNION ALL SELECT gb AS ga, ga AS gb FROM e0), " +
      "d AS MATERIALIZED (SELECT ga AS gid, count(*) AS deg FROM sym GROUP BY ga), " +
      "nn AS (SELECT count(*) AS n FROM d), " +
      s"p0 AS (SELECT gid, deg, n, $s // n AS pr FROM d CROSS JOIN nn), " +
      iters +
      s" SELECT gid AS doc_id, CAST(deg AS BIGINT) AS deg, CAST(pr AS BIGINT) AS pr " +
      s"FROM p${graft.ops.Similarity.PageRankIters}"
  }
}
