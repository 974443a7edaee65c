package graft
import org.apache.spark.sql.{SparkSession, DataFrame}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * `queries` maps each implemented operator (SURVEY.md §2 / §2.10) to a
  * (SparkSession, sfDir) => DataFrame; `oracleSql` holds the equivalent
  * DuckDB SQL over the same parquet tables. Column names/aliases are
  * deliberately identical on both sides (driver sorts columns by name and
  * hash-compares values).
  */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0.
    * The MERGE upsert — the reference's semantic heart (queries.py:35-48).
    */
  def entry(spark: SparkSession): DataFrame =
    Queries.q3Merge(spark, "/root/testdata/sf0.001")

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q1_dedup_full" -> (Queries.q1DedupFull _),
    "q2_latest_by_key" -> (Queries.q2LatestByKey _),
    "q3_merge" -> (Queries.q3Merge _),
    "q4_drift_union" -> (Queries.q4DriftUnion _),
    "q5_audit" -> (Queries.q5Audit _),
    "q7_catalog" -> (Queries.q7Catalog _),
    "q8_fanout_merge" -> (Queries.q8Fanout _),
    "q9_agg" -> (Queries.q9Agg _),
    "q10_star_join" -> (Queries.q10StarJoin _),
    "q11_window_topk" -> (Queries.q11WindowTopK _),
    "q6_json_roundtrip" -> (Queries.q6JsonRoundTrip _),
    "q12_tumbling_window" -> (Queries.q12TumblingWindow _),
    "q13_exact_text_dedup" -> (Queries.q13ExactTextDedup _),
    "q13b_minhash_dedup" -> (Queries.q13bMinHashDedup _),
    "q13c_simhash" -> (Queries.q13cSimHash _),
    "q13d_jaccard_pairs" -> (Queries.q13dJaccardPairs _),
    "q14_cosine_topk" -> (Queries.q14CosineTopK _),
    "q14b_lsh_topk" -> (Queries.q14bLshTopK _),
    "q15_text_stats" -> (Queries.q15TextStats _),
    "q16_quality" -> (Queries.q16Quality _),
    "q17_langid" -> (Queries.q17LangId _),
    "q13e_portable_simhash" -> (Queries.q13ePortableSimhash _),
    "q13f_portable_minhash" -> (Queries.q13fPortableMinhash _),
    "q13g_dup_groups" -> (Queries.q13gDupGroups _),
    "q13h_portable_simhash_pairs" -> (Queries.q13hPortableSimhashPairs _),
    "q17b_fingerprint" -> (Queries.q17bFingerprint _),
    "q18_media_meta" -> (Queries.q18MediaMeta _),
    "q18b_media_decode" -> (Queries.q18bMediaDecode _),
    "q18c_frame_sample" -> (Queries.q18cFrameSample _),
    "q18d_audio_decode" -> (Queries.q18dAudioDecode _),
    "q18e_video_decode" -> (Queries.q18eVideoDecode _),
    "q19_topn" -> (Queries.q19TopN _),
    "q20_intersect" -> (Queries.q20Intersect _),
    "q21_except" -> (Queries.q21Except _),
    "q22_semi_join" -> (Queries.q22SemiJoin _),
    "q23_anti_join" -> (Queries.q23AntiJoin _),
    "q24_rollup" -> (Queries.q24Rollup _),
    "q25_cube" -> (Queries.q25Cube _),
    "q26_rest_ingest" -> (Queries.q26RestIngest _),
    "q27_drift_merge" -> (Queries.q27DriftMerge _),
    "q28_approx_distinct" -> (Queries.q28ApproxDistinct _),
    "q29_session_window" -> (Queries.q29SessionWindow _),
    "q29b_sessionize_sorted" -> (Queries.q29bSessionizeSorted _),
    "q30_cosine_near_dup" -> (Queries.q30CosineNearDup _),
    "q30b_cosine_near_dup_exact" -> (Queries.q30bCosineNearDupExact _),
    "q31_sliding_window" -> (Queries.q31SlidingWindow _),
    "q32_asof_join" -> (Queries.q32AsOfJoin _),
    "q33_range_join" -> (Queries.q33RangeJoin _),
    "q34_grouping_sets" -> (Queries.q34GroupingSets _),
    "q35_scalar_funcs" -> (Queries.q35ScalarFuncs _),
    "q36_pivot" -> (Queries.q36Pivot _),
    "q37_unpivot" -> (Queries.q37Unpivot _),
    "q38_jdbc_roundtrip" -> (Queries.q38JdbcRoundtrip _),
    "q39_percentiles" -> (Queries.q39Percentiles _),
    "q40_window_battery" -> (Queries.q40WindowBattery _),
    "q41_date_battery" -> (Queries.q41DateBattery _),
    "q42_tfidf" -> (Queries.q42Tfidf _),
    "q43_full_outer" -> (Queries.q43FullOuter _),
    "q44_bigrams" -> (Queries.q44Bigrams _),
    "q45_levenshtein" -> (Queries.q45Levenshtein _),
    "q46_scalar_subquery" -> (Queries.q46ScalarSubquery _),
    "q47_text_normalize" -> (Queries.q47TextNormalize _),
    "q48_array_hof" -> (Queries.q48ArrayHof _),
    "q49_native_range_join" -> (Queries.q49NativeRangeJoin _),
    "q50_bottomk_sample" -> (Queries.q50BottomkSample _),
    "q51_approx_topk" -> (Queries.q51ApproxTopK _),
    "q52_stats_battery" -> (Queries.q52StatsBattery _),
    "q53_deterministic_sample" -> (Queries.q53DeterministicSample _),
    "q54_histogram" -> (Queries.q54Histogram _),
    "q55_partition_pruned" -> (Queries.q55PartitionPruned _),
    "q56_bucketed_join" -> (Queries.q56BucketedJoin _),
    "q57_chunking" -> (Queries.q57Chunking _),
    "q58_pack_bins" -> (Queries.q58PackBins _),
    "q59_shuffle_shard" -> (Queries.q59ShuffleShard _),
    "q60_redact" -> (Queries.q60Redact _),
    "q61_curation_funnel" -> (Queries.q61CurationFunnel _),
    "q62_mixture_sample" -> (Queries.q62MixtureSample _),
    "q63_zorder_scan" -> (Queries.q63ZOrderScan _),
    "q63b_hilbert_scan" -> (Queries.q63bHilbertScan _),
    "q64_quantize" -> (Queries.q64Quantize _),
    "q65_decontaminate" -> (Queries.q65Decontaminate _),
    "q66_scd2" -> (Queries.q66Scd2 _),
    "q67_json_extract" -> (Queries.q67JsonExtract _),
    "q68_containment_pairs" -> (Queries.q68ContainmentPairs _),
    "q69_cross_neardup" -> (Queries.q69CrossNearDup _),
    "q70_chunk_dedup" -> (Queries.q70ChunkDedup _),
    "q71_ivf_exact" -> (Queries.q71IvfExact _),
    "q71b_ivf_approx" -> (Queries.q71bIvfApprox _),
    "q71c_ivf_index" -> (Queries.q71cIvfIndexProbe _),
    "q71d_ivf_incremental" -> (Queries.q71dIvfIncremental _),
    "q72_exists_in" -> (Queries.q72ExistsIn _),
    "q73_set_ops_all" -> (Queries.q73SetOpsAll _),
    "q74_vocab_coverage" -> (Queries.q74VocabCoverage _),
    "q75_vector_math" -> (Queries.q75VectorMath _),
    "q76_quality_gate" -> (Queries.q76QualityGate _),
    "q77_range_frame" -> (Queries.q77RangeFrame _),
    "q78_canonical_pick" -> (Queries.q78CanonicalPick _),
    "q79_daily_rerun" -> (Queries.q79DailyRerun _),
    "q80_funnel" -> (Queries.q80Funnel _),
    "q81_cohorts" -> (Queries.q81Cohorts _),
    "q82_salted_agg" -> (Queries.q82SaltedAgg _),
    "q83_salted_join" -> (Queries.q83SaltedJoin _),
    "q84_cdc_apply" -> (Queries.q84CdcApply _),
    "q85_table_diff" -> (Queries.q85TableDiff _),
    "q86_gap_fill" -> (Queries.q86GapFill _),
    "q87_stratified_sample" -> (Queries.q87StratifiedSample _),
    "q88_pagerank" -> (Queries.q88PageRank _),
    "q89_profile" -> (Queries.q89Profile _),
    "q90_user_growth" -> (Queries.q90UserGrowth _),
    "q91_incremental_agg" -> (Queries.q91IncrementalAgg _),
    "q92_multi_join_revenue" -> (Queries.q92MultiJoinRevenue _),
    "q93_attribution" -> (Queries.q93Attribution _),
    "q94_quantile_bins" -> (Queries.q94QuantileBins _),
    "q95_dynamic_pruning" -> (Queries.q95DynamicPruning _),
    "q96_format_roundtrip" -> (Queries.q96FormatRoundtrip _),
    "q96b_avro_roundtrip" -> (Queries.q96bAvroRoundtrip _),
    "q97_flatten_hierarchy" -> (Queries.q97FlattenHierarchy _),
    "q98_web_prep" -> (Queries.q98WebPrep _),
    "q14c_portable_lsh" -> (Queries.q14cPortableLsh _),
    "q99_approx_percentile" -> (Queries.q99ApproxPercentile _),
    "q100_pretraining_pipeline" -> (Queries.q100PretrainingPipeline _),
    "q101_hll_incremental" -> (Queries.q101HllIncremental _),
    "q102_manifest_scan" -> (Queries.q102ManifestScan _),
    "q103_manifest_changes" -> (Queries.q103ManifestChanges _),
    "q104_bloom_decontaminate" -> (Queries.q104BloomDecontaminate _),
    "q105_boilerplate_removal" -> (Queries.q105BoilerplateRemoval _),
    "q106_incremental_minhash" -> (Queries.q106IncrementalMinhash _),
    "q107_url_canonicalize" -> (Queries.q107UrlCanonicalize _),
    "q108_token_budget_select" -> (Queries.q108TokenBudgetSelect _),
    "q109_inverted_index" -> (Queries.q109InvertedIndex _),
    "q110_bm25_topk" -> (Queries.q110Bm25TopK _),
    "q111_debounce" -> (Queries.q111Debounce _),
    "q112_label_centroids" -> (Queries.q112LabelCentroids _),
    "q113_corrupt_ingest" -> (Queries.q113CorruptIngest _),
    "q114_transitions" -> (Queries.q114Transitions _),
    "q115_scd2_point_in_time" -> (Queries.q115Scd2PointInTime _),
    "q116_ab_test" -> (Queries.q116AbTest _),
    "q117_manifest_merge" -> (Queries.q117ManifestMerge _),
    "q118_manifest_delete" -> (Queries.q118ManifestDelete _),
    "q119_semantic_dedup" -> (Queries.q119SemanticDedup _),
    "q120_repetition_signals" -> (Queries.q120RepetitionSignals _),
    "q121_unigram_cross_entropy" -> (Queries.q121UnigramCrossEntropy _),
    "q122_dsir_weights" -> (Queries.q122DsirWeights _),
    "q123_duplicated_spans" -> (Queries.q123DuplicatedSpans _),
    "q124_hard_negatives" -> (Queries.q124HardNegatives _),
    "q125_dsir_resample" -> (Queries.q125DsirResample _),
    "q126_fuzzy_match" -> (Queries.q126FuzzyMatch _),
    "q126b_pair_mass" -> (Queries.q126bPairMass _),
    "q127_strip_spans" -> (Queries.q127StripSpans _),
    "q128_temperature_resample" -> (Queries.q128TemperatureResample _),
    "q129_adaptive_cutoff" -> (Queries.q129AdaptiveCutoff _),
    "q130_group_split" -> (Queries.q130GroupSplit _),
    "q131_schema_evolution" -> (Queries.q131SchemaEvolution _),
    "q131b_type_drift" -> (Queries.q131bTypeDrift _),
    "q132_mor_delete" -> (Queries.q132MorDelete _),
    "q133_lsh_eval" -> (Queries.q133LshEval _),
    "q134_k_anonymity" -> (Queries.q134KAnonymity _),
    "q135_bitext_margin" -> (Queries.q135BitextMargin _),
    "q136_rrf_fusion" -> (Queries.q136RrfFusion _),
    "q137_count_min" -> (Queries.q137CountMin _),
    "q138_rolling_anomaly" -> (Queries.q138RollingAnomaly _),
    "q139_rouge_overlap" -> (Queries.q139RougeOverlap _),
    "q140_bloom_semi_join" -> (Queries.q140BloomSemiJoin _),
    "q141_pmi_collocations" -> (Queries.q141PmiCollocations _),
    "q142_hashed_classifier" -> (Queries.q142HashedClassifier _),
    "q143_incremental_cms" -> (Queries.q143IncrementalCountMin _),
    "q144_ks_drift" -> (Queries.q144KsDrift _),
    "q145_psi_bins" -> (Queries.q145PsiBins _),
    "q146_kmv_overlap" -> (Queries.q146KmvOverlap _),
    "q147_filter_agreement" -> (Queries.q147FilterAgreement _),
    "q148_semantic_decontaminate" -> (Queries.q148SemanticDecontaminate _),
    "q149_incremental_semdedup" -> (Queries.q149IncrementalSemdedup _),
    "q150_variant_ingest" -> (Queries.q150VariantIngest _),
    "q151_ngram_novelty" -> (Queries.q151NgramNovelty _),
    "q152_image_dhash" -> (Queries.q152ImageDhash _),
    "q153_domain_stats" -> (Queries.q153DomainStats _),
    "q154_hybrid_rerank" -> (Queries.q154HybridRerank _),
    "q155_incremental_image_dedup" -> (Queries.q155IncrementalImageDedup _),
    "q156_vocab_growth" -> (Queries.q156VocabGrowth _),
    "q157_audio_fingerprint" -> (Queries.q157AudioFingerprint _),
    "q158_manifest_restore" -> (Queries.q158ManifestRestore _),
    "q159_train_linear_probe" -> (Queries.q159TrainLinearProbe _),
    "q160_dp_histogram" -> (Queries.q160DpHistogram _),
    "q161_peak_concurrency" -> (Queries.q161PeakConcurrency _),
    "q162_ohlc_resample" -> (Queries.q162OhlcResample _),
    "q163_winsorized_stats" -> (Queries.q163WinsorizedStats _),
    "q164_manifest_zorder" -> (Queries.q164ManifestZorder _),
    "q164b_zorder_3d" -> (Queries.q164bZorder3d _),
    "q164c_hilbert_manifest" -> (Queries.q164cHilbertManifest _),
    "q165_triangles" -> (Queries.q165Triangles _),
    "q166_bpe_merges" -> (Queries.q166BpeMerges _),
    "q167_bpe_tokenize" -> (Queries.q167BpeTokenize _),
    "q168_k_centers" -> (Queries.q168KCenters _),
    "q169_power_iteration" -> (Queries.q169PowerIteration _),
    "q170_multi_touch" -> (Queries.q170MultiTouchAttribution _),
    "q171_clustering_coeff" -> (Queries.q171ClusteringCoefficients _),
    "q172_ndcg_eval" -> (Queries.q172NdcgEval _),
    "q173_label_agreement" -> (Queries.q173LabelAgreement _),
    "q174_probe_calibration" -> (Queries.q174ProbeCalibration _),
    "q175_manifest_diff" -> (Queries.q175ManifestDiff _),
    "q176_bloom_point_lookup" -> (Queries.q176BloomPointLookup _),
    "q177_trend_ols" -> (Queries.q177TrendOls _),
    "q178_spatial_pairs" -> (Queries.q178SpatialPairs _),
    "q179_incremental_trend" -> (Queries.q179IncrementalTrend _),
    "q180_yoy_revenue" -> (Queries.q180YoyRevenue _),
    "q181_roc_auc" -> (Queries.q181RocAuc _),
    "q182_mutual_info" -> (Queries.q182MutualInfo _),
    "q183_skew_report" -> (Queries.q183SkewReport _),
    "q184_basket_affinity" -> (Queries.q184BasketAffinity _),
    "q185_rfm_segments" -> (Queries.q185RfmSegments _),
    "q186_merge_evolve" -> (Queries.q186MergeEvolve _),
    "q187_bootstrap_ci" -> (Queries.q187BootstrapCi _),
    "q188_average_precision" -> (Queries.q188AveragePrecision _),
    "q189_k_core" -> (Queries.q189KCore _),
    "q190_pearson_residuals" -> (Queries.q190PearsonResiduals _),
    "q191_linkage_weights" -> (Queries.q191LinkageWeights _),
    "q192_sketch_quantiles" -> (Queries.q192SketchQuantiles _),
    "q193_dp_mean" -> (Queries.q193DpMean _),
    "q194_table_profile" -> (Queries.q194TableProfile _),
    "q195_bigram_lm" -> (Queries.q195BigramLm _),
    "q196_label_prop" -> (Queries.q196LabelProp _),
    "q197_chunk_dedup" -> (Queries.q197ChunkDedup _),
    "q198_weighted_quantiles" -> (Queries.q198WeightedQuantiles _),
    "q199_linkage_u" -> (Queries.q199LinkageU _),
    "q200_curation_report" -> (Queries.q200CurationReport _),
    "q201_scene_changes" -> (Queries.q201SceneChanges _),
    "q202_bucket_mass" -> (Queries.q202BucketMass _),
    "q203_pq_codebooks" -> (Queries.q203PqCodebooks _),
    "q204_pq_encode" -> (Queries.q204PqEncode _),
    "q205_pq_adc" -> (Queries.q205PqAdc _),
    "q206_wasserstein" -> (Queries.q206Wasserstein _),
    "q207_join_size" -> (Queries.q207JoinSize _),
    "q208_ivfpq_probe" -> (Queries.q208IvfPqProbe _),
    "q209_pq_recall" -> (Queries.q209PqRecall _),
    "q210_sketch_w1" -> (Queries.q210SketchW1 _),
    "q211_jl_recall" -> (Queries.q211JlRecall _),
    "q212_grouped_drift_w1" -> (Queries.q212GroupedDriftW1 _),
    "q213_probe_mass" -> (Queries.q213ProbeMass _),
    "q214_ann_rerank" -> (Queries.q214AnnRerank _),
    "q215_rerank_gain" -> (Queries.q215RerankGain _),
    "q216_hamming_recall" -> (Queries.q216HammingRecall _),
    "q217_ivfpq_residual_probe" -> (Queries.q217IvfpqResidualProbe _),
    "q218_residual_recall" -> (Queries.q218ResidualRecall _),
    "q219_multiprobe_recall" -> (Queries.q219MultiprobeRecall _),
    "q220_multiprobe_mass" -> (Queries.q220MultiprobeMass _),
    "q221_codebook_staleness" -> (Queries.q221CodebookStaleness _),
    "q222_ivfpq_rerank" -> (Queries.q222IvfpqRerank _),
    "q223_balanced_pq" -> (Queries.q223BalancedPq _),
    "q225_opq_rotation" -> (Queries.q225OpqRotation _),
    "q226_opq_ivfadc" -> (Queries.q226OpqIvfadc _),
    "q227_opq_recall" -> (Queries.q227OpqRecall _),
    "q224_linkage_em" -> (Queries.q224LinkageEm _),
    "q228_knn_shapley" -> (Queries.q228KnnShapley _),
    "q229_conformal_gate" -> (Queries.q229ConformalGate _),
    "q230_doremi_weights" -> (Queries.q230DoremiWeights _),
    "q231_unigram_lm" -> (Queries.q231UnigramLm _),
    "q232_doremi_mixture_draw" -> (Queries.q232DoremiMixtureDraw _),
    "q233_unigram_tokenize" -> (Queries.q233UnigramTokenize _),
    "q234_shapley_curation" -> (Queries.q234ShapleyCuration _),
    "q235_sq8_topk" -> (Queries.q235Sq8TopK _),
    "q236_sq8_recall" -> (Queries.q236Sq8Recall _),
    "q237_unigram_em" -> (Queries.q237UnigramEmTrajectory _),
    "q238_ivf_sq8_probe" -> (Queries.q238IvfSq8Probe _),
    "q239_ivf_sq8_recall" -> (Queries.q239IvfSq8Recall _),
    "q240_sq8_multiprobe" -> (Queries.q240Sq8Multiprobe _),
    "q244_ivf_sq8_residual" -> (Queries.q244IvfSq8ResidualProbe _),
    "q245_sq8_residual_audit" -> (Queries.q245Sq8ResidualRecallAudit _),
    "q246_unigram_soft_em" -> (Queries.q246UnigramSoftEm _),
    "q249_mor_update" -> (Queries.q249MorUpdate _),
    "q250_block_opq" -> (Queries.q250BlockOpq _),
    "q253_dim512_serving" -> (Queries.q253Dim512Serving _),
    "q254_mor_sparse" -> (Queries.q254MorSparse _),
    "q262_mor_stream_sparse" -> (Queries.q262MorStreamSparse _),
    "q255_adaptive_probe" -> (Queries.q255AdaptiveProbe _),
    "q256_sq8_adaptive" -> (Queries.q256Sq8AdaptiveProbe _),
    "q257_residual_clip_stream" -> (Queries.q257ResidualClipStream _),
    "q258_adaptive_serving" -> (Queries.q258AdaptiveServing _),
    "q259_adaptive_dim512" -> (Queries.q259AdaptiveDim512 _),
    "q259b_dim512_probe_mass" -> (Queries.q259bDim512ProbeMass _),
    "q260_zipf_adaptive" -> (Queries.q260ZipfAdaptiveProbe _),
    "q263_zipf_budgeted" -> (Queries.q263ZipfBudgetedProbe _),
    "q264_filtered_ann" -> (Queries.q264FilteredAnn _),
    "q265_mor_ann_serve" -> (Queries.q265MorAnnServe _),
    "q266_stream_ann_fresh" -> (Queries.q266StreamAnnFresh _),
    "q267_dim512_lakehouse" -> (Queries.q267Dim512Lakehouse _),
    "q268_calibrated_budget" -> (Queries.q268CalibratedBudget _),
    "q268b_calibrated_planted" -> (Queries.q268bCalibratedPlanted _),
    "q269_vocab_multi_round" -> (Queries.q269VocabMultiRound _),
    "q271_dim512_calibrated" -> (Queries.q271Dim512Calibrated _),
    "q270_filtered_routed_ann" -> (Queries.q270FilteredRoutedAnn _),
    "q272_bit_budget_ladder" -> (Queries.q272BitBudgetLadder _),
    "q273_filtered_lakehouse" -> (Queries.q273FilteredLakehouseServe _),
    "q274_calibration_staleness" -> (Queries.q274CalibrationStaleness _),
    "q275_natural_vocab_rounds" -> (Queries.q275NaturalVocabRounds _),
    "q276_bt_strengths" -> (Queries.q276BtStrengths _),
    "q277_wilson_winrate" -> (Queries.q277WilsonWinrate _),
    "q278_fleiss_kappa" -> (Queries.q278FleissKappa _),
    "q279_vocab_richness" -> (Queries.q279VocabRichness _),
    "q280_preference_coherence" -> (Queries.q280PreferenceCoherence _),
    "q281_incremental_bt" -> (Queries.q281IncrementalBt _),
    "q282_streaming_preference" -> (Queries.q282StreamingPreference _),
    "q283_paired_bootstrap" -> (Queries.q283PairedBootstrap _),
    "q284_sign_flip" -> (Queries.q284SignFlip _),
    "q285_promotion_gate" -> (Queries.q285PromotionGate _),
    "q286_comparison_connectivity" -> (Queries.q286ComparisonConnectivity _),
    "q287_bt_bootstrap_ci" -> (Queries.q287BtBootstrapCi _),
    "q261_vocab_width" -> (Queries.q261VocabWidth _),
    "q261b_vocab_width_model" -> (Queries.q261bVocabWidthModel _),
    "q252_residual_clip_monitor" -> (Queries.q252ResidualClipMonitor _),
    "q247_soft_em_trajectory" -> (Queries.q247SoftEmTrajectory _),
    "q248_hard_vs_soft_tokenizer" -> (Queries.q248HardVsSoftTokenizer _),
    "q251_vocab_prune" -> (Queries.q251VocabPrune _),
    "q241_sq8_clip_monitor" -> (Queries.q241Sq8ClipMonitor _),
    "q242_curation_pipeline" -> (Queries.q242CurationPipeline _),
    "q243_label_noise_audit" -> (Queries.q243LabelNoiseAudit _),
  )

  /** One PQ Lloyd iteration as oracle CTEs (see
    * `ProductQuantizer.train`): decimal-summed rounded squared-L2
    * assignment against the previous codebook `prev`, then the
    * 6-dp-rounded per-cell mean update with empty-code carry-through.
    */
  private def pqIter(i: Int, prev: String, sv: String, sfx: String): String =
    s"""d$i$sfx AS MATERIALIZED (
       |  SELECT sv.vec_id, sv.sub, cb.code,
       |         sum(CAST(round((sv.val - cb.val) * (sv.val - cb.val), 6)
       |                  AS DECIMAL(18,6))) AS d
       |  FROM $sv sv JOIN $prev cb ON cb.sub = sv.sub AND cb.pos = sv.pos
       |  GROUP BY 1, 2, 3),
       |a$i$sfx AS MATERIALIZED (
       |  SELECT vec_id, sub, code FROM (
       |    SELECT vec_id, sub, code,
       |           row_number() OVER (PARTITION BY vec_id, sub
       |                              ORDER BY d ASC, code ASC) AS rn
       |    FROM d$i$sfx) WHERE rn = 1),
       |c$i$sfx AS MATERIALIZED (
       |  SELECT g.sub, g.code, g.pos, coalesce(u.val, g.val) AS val
       |  FROM $prev g LEFT JOIN (
       |    SELECT a.sub, a.code, sv.pos,
       |           round(CAST(sum(CAST(round(sv.val, 6) AS DECIMAL(18,6)))
       |                      AS DOUBLE) / count(*), 6) AS val
       |    FROM a$i$sfx a JOIN $sv sv ON sv.vec_id = a.vec_id AND sv.sub = a.sub
       |    GROUP BY 1, 2, 3) u
       |  ON u.sub = g.sub AND u.code = g.code AND u.pos = g.pos)""".stripMargin

  /** One portable-uniform replay over a SQL string expression (the
    * 48-bit char fold + LCG scramble `TextFunctions.portableUniform`
    * computes natively).
    */
  private def puSql(key: String): String =
    s"""(((list_reduce(list_prepend(CAST(0 AS BIGINT),
       |      list_transform(string_split($key, ''),
       |        c -> CAST(ascii(c) AS BIGINT))),
       |      (a, q) -> (a * 131 + q) % 281474976710656)
       |    % 2147483647) * 1103515245 + 12345) % 2147483647 + 0.5)
       |  / 2147483647.0""".stripMargin

  /** DoReMi trajectory oracle: the deterministic loss log, the
    * (round, domain) mean-excess cells, then `rounds` chained EG
    * CTEs — e_t = round6(α_{t−1}·exp(η·λ)), decimal Z, smoothed
    * renormalize — exactly the driver fold in
    * `DataSelection.doremiTrajectory` (η=0.5, c=0.1).
    */
  private def doremiOracle(rounds: Int): String = {
    val iters = (1 to rounds).map { i =>
      s"""e$i AS (
         |  SELECT c.d AS domain, c.x AS excess,
         |         round(a${i - 1}.alpha * exp(CAST(0.5 AS DOUBLE) * c.x), 6) AS e
         |  FROM cells c JOIN a${i - 1} ON a${i - 1}.domain = c.d
         |  WHERE c.r = $i),
         |z$i AS (SELECT CAST(sum(CAST(e AS DECIMAL(18,6))) AS DOUBLE) AS z
         |        FROM e$i),
         |a$i AS (
         |  SELECT domain, excess,
         |         round((CAST(1 AS DOUBLE) - CAST(0.1 AS DOUBLE))
         |                 * (e / (SELECT z FROM z$i))
         |               + CAST(0.1 AS DOUBLE) / (SELECT k FROM kk), 6) AS alpha
         |  FROM e$i)""".stripMargin
    }.mkString(",\n")
    val unions = (1 to rounds).map { i =>
      s"SELECT CAST($i AS BIGINT) AS round, domain, excess, alpha FROM a$i"
    }.mkString("\nUNION ALL\n")
    s"""WITH log AS (
       |  SELECT t.r, d.source AS dm,
       |         (${puSql("'doremi|' || t.r || '|' || d.doc_id")}
       |            * CAST(0.5 AS DOUBLE)
       |          + ${puSql("'dshift|' || d.source")}
       |            * CAST(0.5 AS DOUBLE)) AS excess
       |  FROM documents d, range(1, ${rounds + 1}) t(r)),
       |cells AS MATERIALIZED (
       |  SELECT r, dm AS d,
       |         round(CAST(sum(CAST(greatest(round(excess, 6),
       |                                      CAST(0 AS DOUBLE))
       |                             AS DECIMAL(28,6))) AS DOUBLE)
       |               / count(*), 6) AS x
       |  FROM log GROUP BY 1, 2),
       |doms AS (SELECT DISTINCT d AS domain FROM cells),
       |kk AS (SELECT count(*) AS k FROM doms),
       |a0 AS (SELECT domain,
       |              round(CAST(1 AS DOUBLE) / (SELECT k FROM kk), 6) AS alpha
       |       FROM doms),
       |$iters
       |$unions""".stripMargin
  }

  /** The KNN-Shapley chain (see `DataValuation.knnShapley`): broadcast
    * probe scoring, the telescoped recurrence as 12-dp decimal terms,
    * the suffix window sum, the per-train-point mean. `scored`
    * (q_id, c_id, q_lab, c_lab, sim) and `shap` (vec_id, n_test, shap)
    * are the reusable surfaces; q228 reads `shap`, q234 adds the
    * before/after vote accuracy.
    */
  private def knnShapCtes(cLab: String = "label"): String =
    s"""q AS (SELECT vec_id AS q_id, embedding AS q_emb, label AS q_lab
      |           FROM embeddings WHERE vec_id < 8),
      |c AS (SELECT vec_id AS c_id, embedding AS c_emb, $cLab AS c_lab
      |      FROM embeddings WHERE vec_id >= 8),
      |scored AS MATERIALIZED (
      |  SELECT q_id, c_id, q_lab, c_lab,
      |         round(list_cosine_similarity(q_emb::DOUBLE[], c_emb::DOUBLE[]), 6) AS sim
      |  FROM c CROSS JOIN q),
      |ranked AS (
      |  SELECT q_id, c_id,
      |         CASE WHEN c_lab IS NOT DISTINCT FROM q_lab THEN 1 ELSE 0 END AS ind,
      |         row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, c_id ASC) AS i,
      |         count(*) OVER (PARTITION BY q_id) AS n
      |  FROM scored),
      |terms AS (
      |  SELECT q_id, c_id, i,
      |         CAST(round(CASE WHEN i = n
      |                    THEN CAST(ind AS DOUBLE) / CAST(n AS DOUBLE)
      |                    ELSE CAST((ind - lead(ind) OVER
      |                                 (PARTITION BY q_id ORDER BY i ASC))
      |                              * least(5, i) AS DOUBLE)
      |                         / CAST(5 * i AS DOUBLE) END, 12)
      |              AS DECIMAL(38,12)) AS term
      |  FROM ranked),
      |sfx AS (
      |  SELECT q_id, c_id,
      |         sum(term) OVER (PARTITION BY q_id ORDER BY i ASC
      |                         ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS s
      |  FROM terms),
      |shap AS MATERIALIZED (
      |  SELECT c_id AS vec_id, CAST(count(*) AS BIGINT) AS n_test,
      |         round(CAST(sum(s) AS DOUBLE) / CAST(count(*) AS DOUBLE), 6) AS shap
      |  FROM sfx GROUP BY c_id)""".stripMargin

  /** The SQ8 chain (see `ScalarQuantizer`): exact per-dim min/max grid,
    * single-rounding byte codes, dequantized 6-dp-term decimal ADC,
    * top-5. `sq8top` is the reusable surface.
    */
  /** The exact brute-force L2 top-5 ground truth as one oracle CTE —
    * the ONE definition the SQ8/IVF-SQ8 recall oracles join against
    * (a rounding/tiebreak change must not be appliable in one place
    * and missed in another).
    */
  private val exactL2Top5Sql: String =
    """ex AS (
      |  SELECT q_id, vec_id FROM (
      |    SELECT q.vec_id AS q_id, c.vec_id,
      |           row_number() OVER (PARTITION BY q.vec_id ORDER BY
      |             round(list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
      |               list_transform(generate_series(1, 64), i ->
      |                 (CAST(q.embedding[i] AS DOUBLE) - CAST(c.embedding[i] AS DOUBLE))
      |                 * (CAST(q.embedding[i] AS DOUBLE) - CAST(c.embedding[i] AS DOUBLE)))),
      |               (x, y) -> x + y), 6) ASC, c.vec_id ASC) AS rn
      |    FROM embeddings q JOIN embeddings c ON c.vec_id <> q.vec_id
      |    WHERE q.vec_id % 97 = 0)
      |  WHERE rn <= 5)""".stripMargin

  /** The frozen 4-way coarse router as CTEs — `lstr` (every (vec,
    * list) candidate ranked by the shared (value desc, list asc)
    * ordering) and `lst` (the argmax assignment). The ONE definition
    * every IVF-composed SQ8 oracle derives probes from.
    */
  private val sq8LstrSql: String =
    """lstr AS MATERIALIZED (
      |  SELECT e.vec_id, j.j AS list,
      |         row_number() OVER (PARTITION BY e.vec_id
      |                            ORDER BY CAST(e.embedding[j.j * 16 + 1] AS DOUBLE) DESC,
      |                                     j.j ASC) AS rn
      |  FROM embeddings e,
      |       (SELECT CAST(unnest(generate_series(0, 3)) AS INTEGER) AS j) j),
      |lst AS (SELECT vec_id, list FROM lstr WHERE rn = 1)""".stripMargin
  private val sq8FvqSql: String =
    """fvq AS MATERIALIZED (
      |  SELECT vec_id, t.p, CAST(embedding[t.p] AS DOUBLE) AS x
      |  FROM embeddings, generate_series(1, 64) t(p))""".stripMargin

  /** The RESIDUAL-space SQ8 chain (see `ScalarQuantizer.trainResidual`):
    * per-list 6-dp mean centroids, residual coordinates `x − c(list)`,
    * one shared per-dim min/max grid over residuals, byte codes,
    * dequantized residual coordinates. Requires `lst` and `fvq`.
    */
  private val sq8ResidSql: String =
    """cent AS MATERIALIZED (
      |  SELECT l.list, f.p,
      |         round(CAST(sum(CAST(round(f.x, 6) AS DECIMAL(18,6))) AS DOUBLE)
      |               / count(*), 6) AS cv
      |  FROM fvq f JOIN lst l USING (vec_id) GROUP BY 1, 2),
      |rvq AS MATERIALIZED (
      |  SELECT f.vec_id, l.list, f.p, f.x - c.cv AS x
      |  FROM fvq f JOIN lst l USING (vec_id)
      |       JOIN cent c ON c.list = l.list AND c.p = f.p),
      |rst AS MATERIALIZED (
      |  SELECT p, min(x) AS mn, max(x) AS mx FROM rvq GROUP BY 1),
      |rcodes AS MATERIALIZED (
      |  SELECT r.vec_id, r.list, r.p,
      |         CASE WHEN s.mx = s.mn THEN 0
      |              ELSE least(greatest(CAST(round((r.x - s.mn) / (s.mx - s.mn)
      |                                              * 255.0) AS BIGINT),
      |                                  0), 255) END AS code
      |  FROM rvq r JOIN rst s USING (p)),
      |rdec AS (
      |  SELECT c.vec_id, c.list, c.p,
      |         s.mn + CAST(c.code AS DOUBLE) * (s.mx - s.mn) / 255.0 AS dx
      |  FROM rcodes c JOIN rst s USING (p))""".stripMargin

  private def sq8Ctes(within: Boolean = false, nProbe: Int = 1): String = {
    val lstCte = if (!within) "" else
      s"""$sq8LstrSql,
        |qlst AS (SELECT vec_id, list FROM lstr WHERE rn <= $nProbe),
        |""".stripMargin
    val withinJoin = if (!within) "" else
      """
        |    JOIN qlst ql ON ql.vec_id = qf.vec_id
        |    JOIN lst cl ON cl.vec_id = dc.vec_id AND cl.list = ql.list""".stripMargin
    s"""$lstCte$sq8FvqSql,
      |sqst AS MATERIALIZED (
      |  SELECT p, min(x) AS mn, max(x) AS mx FROM fvq GROUP BY 1),
      |sqcodes AS MATERIALIZED (
      |  SELECT f.vec_id, f.p,
      |         CASE WHEN s.mx = s.mn THEN 0
      |              ELSE least(greatest(CAST(round((f.x - s.mn) / (s.mx - s.mn)
      |                                              * 255.0) AS BIGINT),
      |                                  0), 255) END AS code
      |  FROM fvq f JOIN sqst s USING (p)),
      |sqdec AS (
      |  SELECT c.vec_id, c.p,
      |         s.mn + CAST(c.code AS DOUBLE) * (s.mx - s.mn) / 255.0 AS dx
      |  FROM sqcodes c JOIN sqst s USING (p)),
      |sqscored AS (
      |  SELECT qf.vec_id AS q_id, dc.vec_id,
      |         CAST(sum(CAST(round((qf.x - dc.dx) * (qf.x - dc.dx), 6)
      |                       AS DECIMAL(18,6))) AS DOUBLE) AS d
      |  FROM fvq qf JOIN sqdec dc ON dc.p = qf.p AND dc.vec_id <> qf.vec_id$withinJoin
      |  WHERE qf.vec_id % 97 = 0
      |  GROUP BY 1, 2),
      |sq8top AS (
      |  SELECT q_id, vec_id, d FROM (
      |    SELECT *, row_number() OVER (PARTITION BY q_id
      |                                 ORDER BY d ASC, vec_id ASC) AS rn
      |    FROM sqscored)
      |  WHERE rn <= 5)""".stripMargin
  }

  /** The residual IVF-SQ8 probe chain (q244): query residuals taken
    * against each PROBED list's centroid, within-list decimal ADC on
    * the dequantized residual grid, top-5. `sq8rtop` is the surface.
    */
  private def sq8rCtes(nProbe: Int = 1): String =
    s"""$sq8LstrSql,
      |qlst AS (SELECT vec_id, list FROM lstr
      |         WHERE rn <= $nProbe AND vec_id % 97 = 0),
      |$sq8FvqSql,
      |$sq8ResidSql,
      |qrv AS (
      |  SELECT qf.vec_id, ql.list, qf.p, qf.x - c.cv AS x
      |  FROM fvq qf
      |       JOIN qlst ql ON ql.vec_id = qf.vec_id
      |       JOIN cent c ON c.list = ql.list AND c.p = qf.p),
      |rscored AS (
      |  SELECT q.vec_id AS q_id, dc.vec_id,
      |         CAST(sum(CAST(round((q.x - dc.dx) * (q.x - dc.dx), 6)
      |                       AS DECIMAL(18,6))) AS DOUBLE) AS d
      |  FROM qrv q JOIN rdec dc ON dc.p = q.p AND dc.list = q.list
      |                         AND dc.vec_id <> q.vec_id
      |  GROUP BY 1, 2),
      |sq8rtop AS (
      |  SELECT q_id, vec_id, d FROM (
      |    SELECT *, row_number() OVER (PARTITION BY q_id
      |                                 ORDER BY d ASC, vec_id ASC) AS rn
      |    FROM rscored)
      |  WHERE rn <= 5)""".stripMargin

  /** The unigram-LM training chain (see `UnigramLm`) through the
    * backtrace: words → candidate substrings → seed vocab (chars +
    * top-100, integer micro-nat costs) → packed edges → forward
    * Viterbi fold → longest-first argmin backtrace. `bt` carries
    * `(w, freq, len, best, tr)`; q231 appends the M-step, q233 the
    * per-occurrence tokenize rollup.
    */
  private val unigramVocabCtes: String =
    """wrds AS MATERIALIZED (
      |  SELECT w, CAST(count(*) AS BIGINT) AS freq,
      |         CAST(length(w) AS BIGINT) AS len
      |  FROM (SELECT unnest(string_split(text, ' ')) AS w FROM documents)
      |  WHERE length(w) BETWEEN 1 AND 20
      |  GROUP BY w),
      |cand AS MATERIALIZED (
      |  SELECT w, freq, len, sl >> 6 AS s, sl & 63 AS l,
      |         substr(w, CAST((sl >> 6) + 1 AS INTEGER),
      |                CAST(sl & 63 AS INTEGER)) AS piece
      |  FROM (
      |    SELECT w, freq, len,
      |           unnest(flatten(list_transform(range(0, len),
      |             s -> list_transform(range(1, least(4, len - s) + 1),
      |                    l -> s * 64 + l)))) AS sl
      |    FROM wrds)),
      |pf AS (SELECT piece, CAST(sum(freq) AS BIGINT) AS seed_freq
      |       FROM cand GROUP BY 1),
      |vocab0 AS (
      |  SELECT piece, seed_freq FROM pf WHERE length(piece) = 1
      |  UNION ALL
      |  SELECT piece, seed_freq FROM (
      |    SELECT piece, seed_freq,
      |           row_number() OVER (ORDER BY seed_freq DESC, piece ASC) AS rn
      |    FROM pf WHERE length(piece) > 1)
      |  WHERE rn <= 100),
      |vt AS (SELECT CAST(sum(seed_freq) AS BIGINT) AS tot FROM vocab0),
      |vocab AS MATERIALIZED (
      |  SELECT piece, seed_freq,
      |         CAST(round((ln(CAST((SELECT tot FROM vt) AS DOUBLE))
      |                     - ln(CAST(seed_freq AS DOUBLE))) * 1000000.0)
      |              AS BIGINT) AS icost
      |  FROM vocab0)""".stripMargin

  private def unigramCtes: String =
    unigramVocabCtes + ",\n" + unigramDp("vocab", "")

  /** The q261 bounded rich-lexicon corpus + seed vocab at WIDTH: same
    * chain as [[unigramVocabCtes]] but over customer-name/order-key
    * renderings under fixed key caps (see `Queries.vocabCorpus`) and a
    * parameterized multi-piece seed width.
    */
  private def vocabWidthCtes(topMulti: Int): String = vocabCtesOver(
    """wrds AS MATERIALIZED (
      |  SELECT w, CAST(count(*) AS BIGINT) AS freq,
      |         CAST(length(w) AS BIGINT) AS len
      |  FROM (SELECT c_name AS w FROM customer WHERE c_custkey < 1500
      |        UNION ALL
      |        SELECT 'Order#' || lpad(CAST(o_orderkey AS VARCHAR), 9, '0')
      |        FROM orders WHERE o_orderkey < 1500)
      |  WHERE length(w) BETWEEN 1 AND 20
      |  GROUP BY w)""".stripMargin, topMulti)

  /** q269's corpus: 4,200 distinct pseudo-random 10-char words — two
    * multiplicative-hash limbs of k = 3·o_orderkey + v (v ∈ 0..2,
    * o_orderkey < 1400 at every SF) rendered as base-20 letters.
    * Injective integer arithmetic, so the words are unique and no
    * tiling dominates (the anti-starvation construction —
    * `Queries.vocabHashCorpus` replayed digit for digit).
    */
  /** Generic multi-round prune-training replay with the KEPT-MASS
    * audit (q275; q269's literal 3-round chain predates it): round r
    * runs [[unigramSoftDp]] over the incoming vocab, takes the
    * corpus ll under that model, keeps all singles (1e-6 floor) +
    * top-(target − singles) positive multis, reports the kept/total
    * positive multi mass, and re-estimates costs for round r+1.
    */
  private def vocabAuditRoundsOracle(wrdsCte: String, topMulti: Int,
      target: Int, rounds: Int): String = {
    val parts = (1 to rounds).map { r =>
      val sfx = if (r == 1) "" else r.toString
      val vocabName = if (r == 1) "vocab" else s"pv$r"
      val next =
        if (r == rounds) ""
        else s""",
          |kt$r AS (SELECT sum(CAST(cnt AS DECIMAL(28,6))) AS tot FROM kept$r),
          |pv${r + 1} AS MATERIALIZED (
          |  SELECT piece,
          |         CAST(round((ln(CAST((SELECT tot FROM kt$r) AS DOUBLE))
          |                     - ln(cnt)) * 1000000.0) AS BIGINT) AS icost
          |  FROM kept$r)""".stripMargin
      s"""${unigramSoftDp(vocabName, sfx)},
        |ll$r AS (SELECT round(CAST(sum(
        |          CAST(round(ln(alpha[CAST(len + 1 AS INTEGER)]), 6)
        |               AS DECIMAL(18,6)) * freq) AS DOUBLE), 6) AS ll
        |        FROM salph$sfx),
        |sng$r AS (
        |  SELECT v.piece,
        |         greatest(coalesce(round(CAST(s.scnt AS DOUBLE), 6),
        |                           CAST(0.0 AS DOUBLE)),
        |                  CAST(0.000001 AS DOUBLE)) AS cnt
        |  FROM $vocabName v LEFT JOIN scnt$sfx s USING (piece)
        |  WHERE length(v.piece) = 1),
        |posm$r AS (
        |  SELECT piece, round(CAST(scnt AS DOUBLE), 6) AS sc
        |  FROM scnt$sfx
        |  WHERE length(piece) > 1 AND round(CAST(scnt AS DOUBLE), 6) > 0),
        |mul$r AS (
        |  SELECT piece, sc AS cnt FROM (
        |    SELECT piece, sc,
        |           row_number() OVER (ORDER BY sc DESC, piece ASC) AS rn
        |    FROM posm$r)
        |  WHERE rn <= $target - (SELECT count(*) FROM sng$r)),
        |km$r AS (
        |  SELECT round(
        |    CAST((SELECT sum(CAST(cnt AS DECIMAL(28,6))) FROM mul$r) AS DOUBLE)
        |    / CAST((SELECT sum(CAST(sc AS DECIMAL(28,6))) FROM posm$r)
        |           AS DOUBLE), 6) AS m),
        |kept$r AS (SELECT * FROM sng$r UNION ALL SELECT * FROM mul$r)$next""".stripMargin
    }
    val rows = (1 to rounds).map { r =>
      s"""SELECT CAST($r AS BIGINT) AS round,
        |       (SELECT CAST(count(*) AS BIGINT) FROM kept$r) AS n_vocab,
        |       (SELECT ll FROM ll$r) AS corpus_ll,
        |       (SELECT m FROM km$r) AS kept_mass""".stripMargin
    }.mkString("\nUNION ALL\n")
    s"""WITH ${vocabCtesOver(wrdsCte, topMulti)},
      |${parts.mkString(",\n")}
      |$rows""".stripMargin
  }

  private val hashWrdsCte: String = {
    def limb(h: String): String =
      (0 until 5).map { i =>
        val p = Seq(1L, 20L, 400L, 8000L, 160000L)(i)
        s"substr('abcdefghijklmnopqrst', CAST(($h // $p) % 20 + 1 AS INTEGER), 1)"
      }.mkString(" || ")
    s"""wrds AS MATERIALIZED (
      |  SELECT w, CAST(count(*) AS BIGINT) AS freq,
      |         CAST(length(w) AS BIGINT) AS len
      |  FROM (SELECT ${limb("h1")} || ${limb("h2")} AS w
      |        FROM (SELECT (o.o_orderkey * 3 + v.v) * 48271 % 1048573 AS h1,
      |                     ((o.o_orderkey * 3 + v.v) * 16807 + 7)
      |                       % 1048573 AS h2
      |              FROM orders o
      |              CROSS JOIN (SELECT CAST(unnest(generate_series(0, 2))
      |                                      AS BIGINT) AS v) v
      |              WHERE o.o_orderkey < 1400))
      |  WHERE length(w) BETWEEN 1 AND 20
      |  GROUP BY w)""".stripMargin
  }

  private def vocabCtesOver(wrdsCte: String, topMulti: Int): String =
    s"""$wrdsCte,
      |cand AS MATERIALIZED (
      |  SELECT w, freq, len, sl >> 6 AS s, sl & 63 AS l,
      |         substr(w, CAST((sl >> 6) + 1 AS INTEGER),
      |                CAST(sl & 63 AS INTEGER)) AS piece
      |  FROM (
      |    SELECT w, freq, len,
      |           unnest(flatten(list_transform(range(0, len),
      |             s -> list_transform(range(1, least(4, len - s) + 1),
      |                    l -> s * 64 + l)))) AS sl
      |    FROM wrds)),
      |pf AS (SELECT piece, CAST(sum(freq) AS BIGINT) AS seed_freq
      |       FROM cand GROUP BY 1),
      |vocab0 AS (
      |  SELECT piece, seed_freq FROM pf WHERE length(piece) = 1
      |  UNION ALL
      |  SELECT piece, seed_freq FROM (
      |    SELECT piece, seed_freq,
      |           row_number() OVER (ORDER BY seed_freq DESC, piece ASC) AS rn
      |    FROM pf WHERE length(piece) > 1)
      |  WHERE rn <= $topMulti),
      |vt AS (SELECT CAST(sum(seed_freq) AS BIGINT) AS tot FROM vocab0),
      |vocab AS MATERIALIZED (
      |  SELECT piece, seed_freq,
      |         CAST(round((ln(CAST((SELECT tot FROM vt) AS DOUBLE))
      |                     - ln(CAST(seed_freq AS DOUBLE))) * 1000000.0)
      |              AS BIGINT) AS icost
      |  FROM vocab0)""".stripMargin

  /** One Viterbi pass as oracle CTEs (see `UnigramLm.segmentFrom`):
    * packed edges from `cand` x `$vocab`, the forward integer fold, the
    * longest-first backtrace — every CTE suffixed `$sfx` so chained EM
    * rounds coexist (the pqTrainCtes discipline).
    */
  private def unigramDp(vocab: String, sfx: String): String =
    s"""edges$sfx AS MATERIALIZED (
      |  SELECT c.w, c.freq, c.len,
      |         ((c.s * 64 + c.l) << 34) | v.icost AS e
      |  FROM cand c JOIN $vocab v USING (piece)),
      |arr$sfx AS MATERIALIZED (
      |  SELECT w, freq, len, list_sort(list(e)) AS es
      |  FROM edges$sfx GROUP BY 1, 2, 3),
      |fwd$sfx AS MATERIALIZED (
      |  -- the forward Viterbi fold as a RECURSIVE CTE over positions —
      |  -- zero lambdas: the former nested list_reduce/list_transform
      |  -- fold captured `acc` inside nested lambdas, the exact
      |  -- outer-column-capture class DuckDB's parallel lambda
      |  -- evaluation mis-paired under threads>1 (the round-10 q248
      |  -- gate flake). best(p) = min over edges ending at p of
      |  -- best(start)+cost — integer min is order-free, so the
      |  -- correlated relational aggregate is exact.
      |  WITH RECURSIVE fr$sfx AS (
      |    SELECT w, freq, len, 0 AS p, [CAST(0 AS BIGINT)] AS best
      |    FROM arr$sfx
      |    UNION ALL
      |    SELECT f.w, f.freq, f.len, f.p + 1,
      |      list_append(f.best,
      |        coalesce((SELECT min(f.best[CAST((e.e >> 40) + 1 AS INTEGER)]
      |                             + (e.e & 17179869183))
      |                  FROM edges$sfx e
      |                  WHERE e.w = f.w
      |                    AND (e.e >> 40) + ((e.e >> 34) & 63) = f.p + 1),
      |                 1000000000000000))
      |    FROM fr$sfx f WHERE f.p < f.len)
      |  SELECT r.w, r.freq, r.len, a.es, r.best
      |  FROM fr$sfx r JOIN arr$sfx a USING (w)
      |  WHERE r.p = r.len),
      |ch$sfx AS MATERIALIZED (
      |  -- the cost-optimal chosen edge per (word, end position), ties to
      |  -- the min packed (s·64+l) — the original backtrace's list_min
      |  -- tie-break computed RELATIONALLY (plain vectorized expressions;
      |  -- see wk$sfx below for why no lambda may touch these columns)
      |  SELECT x.w, (x.e >> 40) + ((x.e >> 34) & 63) AS endp,
      |         min(x.e >> 34) AS pk
      |  FROM (SELECT w, best, unnest(es) AS e FROM fwd$sfx) x
      |  WHERE x.best[CAST((x.e >> 40) + 1 AS INTEGER)] + (x.e & 17179869183)
      |        = x.best[CAST((x.e >> 40) + ((x.e >> 34) & 63) + 1 AS INTEGER)]
      |  GROUP BY 1, 2),
      |wk$sfx AS (
      |  -- the backtrace WALK as a recursive CTE — ZERO lambdas: DuckDB's
      |  -- parallel lambda evaluation mis-pairs outer-column captures in
      |  -- nested lambdas with the wrong row under threads>1 (round-10
      |  -- gate flake: word 'customer' folded a 5-char word's seed; a
      |  -- capture-free struct-fold rewrite then CRASHED outright under
      |  -- threads>1), so the sequential walk is relational. Each step
      |  -- follows the cost-optimal chosen edge from ch$sfx: next
      |  -- position = pk >> 6 (= the edge's start), terminating at 0.
      |  -- The RECURSIVE scope is nested INSIDE this CTE: a top-level
      |  -- WITH RECURSIVE changes sibling-CTE binding for the whole
      |  -- statement (it broke q242's a1 reference).
      |  WITH RECURSIVE wkr$sfx AS (
      |    SELECT w, CAST(len AS BIGINT) AS pos, CAST(NULL AS BIGINT) AS pk,
      |           0 AS step
      |    FROM fwd$sfx
      |    UNION ALL
      |    SELECT k.w, c.pk >> 6, c.pk, k.step + 1
      |    FROM wkr$sfx k JOIN ch$sfx c ON c.w = k.w AND c.endp = k.pos
      |    WHERE k.pos > 0)
      |  SELECT * FROM wkr$sfx),
      |trl$sfx AS (
      |  SELECT w, list(pk ORDER BY step) AS pks FROM wk$sfx
      |  WHERE pk IS NOT NULL GROUP BY w),
      |bt$sfx AS MATERIALIZED (
      |  SELECT f.w, f.freq, f.best, f.len,
      |         list_prepend(f.len, coalesce(t.pks, CAST([] AS BIGINT[])))
      |           AS tr
      |  FROM fwd$sfx f LEFT JOIN trl$sfx t USING (w))""".stripMargin

  /** One forward-backward E-step as oracle CTEs (see
    * `UnigramLm.softLattice`/`softCountsFrom`): packed edges from
    * `cand` × `$vocab`, the α fold (path mass reaching each position),
    * the reversed β fold (mass to the end), per-edge posteriors
    * γ = α(s)·p·β(end)/Z rounded to 6 dp per edge, piece-keyed decimal
    * sums. Every float op replays the Spark chain in the same order
    * over the same sorted edge list — the α/β folds walk positions as
    * recursive CTEs with ordered term lists (zero nested-lambda
    * outer-captures; the only lambda left is the capture-free
    * `(a, t) -> a + t` left fold). CTEs suffixed `$sfx`; `scnt$sfx`
    * is the surface.
    */
  private def unigramSoftDp(vocab: String, sfx: String): String =
    s"""sedges$sfx AS MATERIALIZED (
      |  SELECT c.w, c.freq, c.len,
      |         ((c.s * 64 + c.l) << 34) | v.icost AS e
      |  FROM cand c JOIN $vocab v USING (piece)),
      |sarr$sfx AS MATERIALIZED (
      |  SELECT w, freq, len, list_sort(list(e)) AS es
      |  FROM sedges$sfx GROUP BY 1, 2, 3),
      |salph$sfx AS MATERIALIZED (
      |  -- the α fold as a RECURSIVE CTE over positions — the former
      |  -- nested list_reduce captured `acc` inside nested lambdas (the
      |  -- round-10 q248 outer-capture flake class). Float addition is
      |  -- order-SENSITIVE, so each position's terms are collected in
      |  -- the canonical sorted-edge order (ORDER BY e.e == the sorted
      |  -- es order the Spark fold filters) and summed left-to-right
      |  -- from a 0.0 init by the one remaining lambda — single-level,
      |  -- capture-free (a, t) -> a + t, outside the flake class.
      |  WITH RECURSIVE ar$sfx AS (
      |    SELECT w, len, 0 AS p, [CAST(1.0 AS DOUBLE)] AS alpha
      |    FROM sarr$sfx
      |    UNION ALL
      |    SELECT f.w, f.len, f.p + 1,
      |      list_append(f.alpha,
      |        list_reduce(
      |          list_prepend(CAST(0.0 AS DOUBLE),
      |            coalesce(
      |              (SELECT list(f.alpha[CAST((e.e >> 40) + 1 AS INTEGER)]
      |                           * exp(-(CAST((e.e & 17179869183) AS DOUBLE)
      |                                   / 1000000.0)) ORDER BY e.e)
      |               FROM sedges$sfx e
      |               WHERE e.w = f.w
      |                 AND (e.e >> 40) + ((e.e >> 34) & 63) = f.p + 1),
      |              CAST([] AS DOUBLE[]))),
      |          (a, t) -> a + t))
      |    FROM ar$sfx f WHERE f.p < f.len)
      |  SELECT r.w, s.freq, r.len, s.es, r.alpha
      |  FROM ar$sfx r JOIN sarr$sfx s USING (w)
      |  WHERE r.p = r.len),
      |sbeta$sfx AS MATERIALIZED (
      |  -- the reversed β fold, same discipline as salph$sfx: terms in
      |  -- sorted-edge order, capture-free left fold from 0.0
      |  WITH RECURSIVE br$sfx AS (
      |    SELECT w, len, 0 AS i, [CAST(1.0 AS DOUBLE)] AS beta
      |    FROM sarr$sfx
      |    UNION ALL
      |    SELECT f.w, f.len, f.i + 1,
      |      list_append(f.beta,
      |        list_reduce(
      |          list_prepend(CAST(0.0 AS DOUBLE),
      |            coalesce(
      |              (SELECT list(exp(-(CAST((e.e & 17179869183) AS DOUBLE)
      |                                 / 1000000.0))
      |                           * f.beta[CAST(f.len - ((e.e >> 40)
      |                               + ((e.e >> 34) & 63)) + 1 AS INTEGER)]
      |                           ORDER BY e.e)
      |               FROM sedges$sfx e
      |               WHERE e.w = f.w AND (e.e >> 40) = f.len - (f.i + 1)),
      |              CAST([] AS DOUBLE[]))),
      |          (a, t) -> a + t))
      |    FROM br$sfx f WHERE f.i < f.len)
      |  SELECT a.w, a.freq, a.len, a.es, a.alpha, r.beta
      |  FROM br$sfx r JOIN salph$sfx a USING (w)
      |  WHERE r.i = r.len),
      |sgam$sfx AS (
      |  SELECT substr(w, CAST((e >> 40) + 1 AS INTEGER),
      |                CAST((e >> 34) & 63 AS INTEGER)) AS piece,
      |         CAST(round(CAST(freq AS DOUBLE)
      |           * (alpha[CAST((e >> 40) + 1 AS INTEGER)]
      |              * exp(-(CAST((e & 17179869183) AS DOUBLE) / 1000000.0))
      |              * beta[CAST(len - ((e >> 40) + ((e >> 34) & 63)) + 1
      |                          AS INTEGER)]
      |              / alpha[CAST(len + 1 AS INTEGER)]), 6)
      |         AS DECIMAL(28,6)) AS contrib
      |  FROM (SELECT w, freq, len, alpha, beta, unnest(es) AS e
      |        FROM sbeta$sfx)),
      |scnt$sfx AS MATERIALIZED (
      |  SELECT piece, sum(contrib) AS scnt FROM sgam$sfx GROUP BY 1)""".stripMargin

  /** The full two-Lloyd-iteration training replay over sub-vector table
    * `sv` ((vec_id, sub, pos, val) rows) with init salt `salt`, every
    * CTE name suffixed `sfx` so the raw (`sv`/`pq`/"") and residual
    * (`rv`/`pqr`/"r") chains can coexist in one oracle. Emits
    * iu/sel/c0..c2/d1..d3/a1..a3 (suffixed); c2$sfx = final codebook,
    * a3$sfx = final assignment (encode), d3$sfx = the ADC LUT.
    */
  private def pqTrainCtes(sv: String, salt: String, sfx: String,
      subsName: String = "subs", ksub: Int = 4): String =
    s"""iu$sfx AS (
       |  SELECT e.vec_id, s.sub,
       |         (((list_reduce(list_prepend(CAST(0 AS BIGINT),
       |              list_transform(string_split('$salt|' || s.sub || '|' || e.vec_id, ''),
       |                c -> CAST(ascii(c) AS BIGINT))),
       |              (a, q) -> (a * 131 + q) % 281474976710656)
       |            % 2147483647) * 1103515245 + 12345) % 2147483647 + 0.5)
       |          / 2147483647.0 AS u
       |  FROM embeddings e, $subsName s),
       |sel$sfx AS (
       |  SELECT vec_id, sub, code FROM (
       |    SELECT vec_id, sub,
       |           CAST(row_number() OVER (PARTITION BY sub
       |                                   ORDER BY u ASC, vec_id ASC) - 1
       |                AS INTEGER) AS code
       |    FROM iu$sfx) WHERE code < $ksub),
       |c0$sfx AS MATERIALIZED (
       |  SELECT sel.sub, sel.code, sv.pos, round(sv.val, 6) AS val
       |  FROM sel$sfx sel JOIN $sv sv ON sv.vec_id = sel.vec_id AND sv.sub = sel.sub),
       |${pqIter(1, s"c0$sfx", sv, sfx)},
       |${pqIter(2, s"c1$sfx", sv, sfx)},
       |d3$sfx AS MATERIALIZED (
       |  SELECT sv.vec_id, sv.sub, cb.code,
       |         sum(CAST(round((sv.val - cb.val) * (sv.val - cb.val), 6)
       |                  AS DECIMAL(18,6))) AS d
       |  FROM $sv sv JOIN c2$sfx cb ON cb.sub = sv.sub AND cb.pos = sv.pos
       |  GROUP BY 1, 2, 3),
       |a3$sfx AS MATERIALIZED (
       |  SELECT vec_id, sub, code FROM (
       |    SELECT vec_id, sub, code,
       |           row_number() OVER (PARTITION BY vec_id, sub
       |                              ORDER BY d ASC, code ASC) AS rn
       |    FROM d3$sfx) WHERE rn = 1)""".stripMargin

  private val pqSubsPs =
    """subs AS (SELECT CAST(unnest(generate_series(0, 7)) AS INTEGER) AS sub),
      |ps AS (SELECT CAST(unnest(generate_series(0, 7)) AS INTEGER) AS pos)""".stripMargin

  private val pqSv =
    """sv AS MATERIALIZED (
      |  SELECT vec_id, s.sub, p.pos,
      |         CAST(embedding[s.sub * 8 + p.pos + 1] AS DOUBLE) AS val
      |  FROM embeddings, subs s, ps p)""".stripMargin

  /** The q203/q204/q205 shared training replay: 8 subspaces x 8 dims x
    * 4 codes over the 64-dim embeddings, portable-uniform init, two
    * Lloyd iterations (c2 = final codebook), final assignment a3 =
    * encode. `finalSelect` consumes c2 / a3 / sv.
    */
  private def pqOracle(finalSelect: String): String =
    s"""WITH $pqSubsPs,
       |$pqSv,
       |${pqTrainCtes("sv", "pq", "")}
       |$finalSelect""".stripMargin

  /** The raw full-component table (vec_id, fpos, val) every rotated /
    * balanced chain starts from.
    */
  private val pqFxCte =
    """fx AS MATERIALIZED (
      |  SELECT e.vec_id, p.p AS fpos, CAST(e.embedding[p.p + 1] AS DOUBLE) AS val
      |  FROM embeddings e,
      |       (SELECT CAST(unnest(generate_series(0, 63)) AS INTEGER) AS p) p)""".stripMargin

  /** dv/rk (exact-decimal variance ranks), bv (the balanced sub-vector
    * table: rank r → sub r%8, slot r//8) — the balanced-allocation
    * replay shared by q223/q225 (prepend [[pqFxCte]]).
    */
  private val pqBalancedCtes =
    """dv AS (
      |  SELECT fpos,
      |         round(CAST(sum(CAST(round(val * val, 6) AS DECIMAL(18,6))) AS DOUBLE)
      |                 / count(*)
      |               - pow(CAST(sum(CAST(round(val, 6) AS DECIMAL(18,6))) AS DOUBLE)
      |                 / count(*), 2), 6) AS v
      |  FROM fx GROUP BY 1),
      |rk AS (
      |  SELECT fpos,
      |         CAST(row_number() OVER (ORDER BY v DESC, fpos ASC) - 1
      |              AS INTEGER) AS r
      |  FROM dv),
      |bv AS MATERIALIZED (
      |  SELECT f.vec_id, CAST(rk.r % 8 AS INTEGER) AS sub,
      |         CAST(rk.r // 8 AS INTEGER) AS pos, f.val
      |  FROM fx f JOIN rk ON rk.fpos = f.fpos)""".stripMargin

  /** The learned-rotation replay: `rot` = R's 6-dp entries as a
    * 4096-row VALUES literal, `ov` = the rotated sub-vector table
    * (products rounded 9 dp, decimal-summed, 6-dp readout — bit-equal
    * to `ProductQuantizer.rotated`). Prepend [[pqFxCte]].
    */
  private def opqRotCtes(r: Array[Array[Double]]): String = {
    val values = (for { i <- r.indices; j <- r.indices } yield {
      val v = BigDecimal(r(i)(j))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toString
      s"($i, $j, $v)"
    }).mkString(", ")
    s"""rot(i, j, val) AS (VALUES $values),
       |ov AS MATERIALIZED (
       |  SELECT f.vec_id, CAST(r.i // 8 AS INTEGER) AS sub,
       |         CAST(r.i % 8 AS INTEGER) AS pos,
       |         round(CAST(sum(CAST(round(CAST(r.val AS DOUBLE) * f.val, 9)
       |                              AS DECIMAL(20,9))) AS DOUBLE), 6) AS val
       |  FROM fx f JOIN rot r ON r.j = f.fpos
       |  GROUP BY f.vec_id, r.i)""".stripMargin
  }

  /** The block-diagonal rotation as oracle CTEs: only INTRA-block
    * (i, j) cells enter the VALUES, so the projection join sums exactly
    * the bs terms per output dim the Spark `rotatedBlocks` fold sums —
    * same 9-dp-product decimal recipe, `kv` is the rotated sub-vector
    * surface.
    */
  private def blockRotCtes(blocks: Array[Array[Array[Double]]],
      dsub: Int = 8, src: String = "fx",
      rotName: String = "krot", outName: String = "kv"): String = {
    val bs = blocks(0).length
    val values = (for {
      b <- blocks.indices; i <- 0 until bs; j <- 0 until bs
    } yield {
      val v = BigDecimal(blocks(b)(i)(j))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toString
      s"(${b * bs + i}, ${b * bs + j}, $v)"
    }).mkString(", ")
    s"""$rotName(i, j, val) AS (VALUES $values),
       |$outName AS MATERIALIZED (
       |  SELECT f.vec_id, CAST(r.i // $dsub AS INTEGER) AS sub,
       |         CAST(r.i % $dsub AS INTEGER) AS pos,
         -- FULLY-EXACT decimal projection (round-13 recipe, matching
       |         -- rotatedBlocks): 6-dp × 6-dp factors multiply EXACTLY at
       |         -- scale 12, the sum is exact, and the only rounding is
       |         -- the final decimal HALF_UP at 6 — no double is rounded
       |         -- through a decimal grid anywhere, so the two engines
       |         -- cannot disagree at half-way cells (the r12 recipe still
       |         -- rounded 9-dp DOUBLE products; observed flip: vec 404
       |         -- fpos 418)
       |         CAST(round(sum(CAST(r.val AS DECIMAL(12,6))
       |                        * CAST(f.val AS DECIMAL(12,6))), 6)
       |              AS DOUBLE) AS val
       |  FROM $src f JOIN $rotName r ON r.j = f.fpos
       |  GROUP BY f.vec_id, r.i)""".stripMargin
  }

  /** Planted-cluster surface + three-scheme probe sets shared by the
    * adaptive-probe audits (q255 PQ tier / q256 SQ8 tier): the
    * construction (cluster k = vec_id mod 4 gets +1 on its quarter-lead
    * and −1 on the others; every 7th vector straddles pair (k, k+1)
    * with both leads at 0), the argmax router, per-list mean centroids,
    * the per-query exact decimal list distances with fixed-1 / fixed-2
    * / adaptive membership flags, corpus residuals, query residuals per
    * selected probe, pair-mass source rows, and the exact L2 top-5
    * ground truth over the same surface.
    */
  private val plantedFvcCte: String =
    """fvc AS MATERIALIZED (
      |  SELECT e.vec_id, p.p AS fpos,
      |         round(CAST(e.embedding[p.p + 1] AS DOUBLE) +
      |           CASE WHEN p.p % 16 <> 0 THEN 0.0
      |                WHEN e.vec_id % 7 = 0
      |                     AND (p.p // 16 = e.vec_id % 4
      |                          OR p.p // 16 = (e.vec_id % 4 + 1) % 4)
      |                  THEN 0.0
      |                WHEN e.vec_id % 7 <> 0 AND p.p // 16 = e.vec_id % 4
      |                  THEN 1.0
      |                ELSE -1.0 END, 6) AS val
      |  FROM embeddings e,
      |       (SELECT CAST(unnest(generate_series(0, 63)) AS INTEGER) AS p) p)""".stripMargin
  private val adaptiveClusterCtes: String = adaptiveAuditCtes(plantedFvcCte)

  /** The q260 construction: geometric (Zipf-ish) cluster mass via
    * `vec_id % 16` thresholds and a continuous blend position
    * t = (vec_id·7919 mod 100)/200 between the cluster's quarter-lead
    * (+(1−t)) and the next cluster's (+t) — [[graft.Queries.zipfVecs]]
    * replayed component-wise (identical long arithmetic, one double
    * divide, one subtract).
    */
  /** The Zipf fixture CTE with its ambiguity parameter t as a SQL
    * expression — `zipfFvcCte` is the build-time corpus; q274's
    * drifted replay shifts t toward the boundary (matching
    * `Queries.zipfVecsDrifted`).
    */
  private def zipfFixtureCte(name: String, tExpr: String): String =
    s"""$name AS MATERIALIZED (
      |  SELECT e.vec_id, p.p AS fpos,
      |         round(CAST(e.embedding[p.p + 1] AS DOUBLE) +
      |           CASE WHEN p.p % 16 <> 0 THEN 0.0
      |                WHEN p.p // 16 = (CASE WHEN e.vec_id % 16 < 8 THEN 0
      |                                       WHEN e.vec_id % 16 < 12 THEN 1
      |                                       WHEN e.vec_id % 16 < 14 THEN 2
      |                                       ELSE 3 END)
      |                  THEN 1.0 - ($tExpr)
      |                WHEN p.p // 16 = ((CASE WHEN e.vec_id % 16 < 8 THEN 0
      |                                        WHEN e.vec_id % 16 < 12 THEN 1
      |                                        WHEN e.vec_id % 16 < 14 THEN 2
      |                                        ELSE 3 END) + 1) % 4
      |                  THEN ($tExpr)
      |                ELSE -1.0 END, 6) AS val
      |  FROM embeddings e,
      |       (SELECT CAST(unnest(generate_series(0, 63)) AS INTEGER) AS p) p)""".stripMargin

  private val zipfFvcCte: String = zipfFixtureCte("fvc",
    "CAST((e.vec_id * 7919) % 100 AS DOUBLE) / 200.0")

  /** Everything downstream of the construction is fixture-independent:
    * router, per-list centroids, residuals, per-query exact decimal
    * list distances over the fixed 18-id sample, the three membership
    * flags, query residuals per selected probe, pair-mass source rows,
    * component lists, and the exact L2 top-5 ground truth.
    */
  private def adaptiveAuditCtes(fvcCte: String): String =
    s"""$fvcCte,
      |lstc AS MATERIALIZED (
      |  SELECT vec_id, list FROM (
      |    SELECT f.vec_id, j.j AS list,
      |           row_number() OVER (PARTITION BY f.vec_id
      |                              ORDER BY f.val DESC, j.j ASC) AS rn
      |    FROM fvc f
      |    JOIN (SELECT CAST(unnest(generate_series(0, 3)) AS INTEGER) AS j) j
      |      ON f.fpos = j.j * 16)
      |  WHERE rn = 1),
      |ccc AS MATERIALIZED (
      |  SELECT l.list, f.fpos,
      |         round(CAST(sum(CAST(round(f.val, 6) AS DECIMAL(18,6))) AS DOUBLE)
      |               / count(*), 6) AS val
      |  FROM fvc f JOIN lstc l ON l.vec_id = f.vec_id
      |  GROUP BY 1, 2),
      |rvc AS MATERIALIZED (
      |  SELECT f.vec_id, l.list, f.fpos, f.val - cc.val AS val
      |  FROM fvc f JOIN lstc l ON l.vec_id = f.vec_id
      |  JOIN ccc cc ON cc.list = l.list AND cc.fpos = f.fpos),
      |qdc AS (
      |  SELECT f.vec_id, cc.list,
      |         sum(CAST(round((f.val - cc.val) * (f.val - cc.val), 6)
      |                  AS DECIMAL(18,6))) AS d
      |  FROM fvc f JOIN ccc cc ON cc.fpos = f.fpos
      |  WHERE f.vec_id % 29 = 0 AND f.vec_id < 522
      |  GROUP BY 1, 2),
      |qpdc AS (
      |  SELECT vec_id, list, d,
      |         row_number() OVER (PARTITION BY vec_id
      |                            ORDER BY d ASC, list ASC) AS pr
      |  FROM qdc),
      |qselc AS (
      |  SELECT q.vec_id, q.list, (q.pr = 1) AS f1, (q.pr <= 2) AS f2,
      |         (q.pr = 1 OR (q.pr <= 4
      |            AND CAST(q.d AS DOUBLE) * 1.0
      |                <= CAST(b.d1 AS DOUBLE) * 2.0)) AS fa
      |  FROM qpdc q JOIN (SELECT vec_id, d AS d1 FROM qpdc WHERE pr = 1) b
      |    ON b.vec_id = q.vec_id),
      |qrvc AS MATERIALIZED (
      |  SELECT f.vec_id, qs.list, qs.f1, qs.f2, qs.fa, f.fpos,
      |         f.val - cc.val AS val
      |  FROM fvc f JOIN qselc qs ON qs.vec_id = f.vec_id
      |                          AND (qs.f2 OR qs.fa)
      |  JOIN ccc cc ON cc.list = qs.list AND cc.fpos = f.fpos),
      |pairsrcc AS (
      |  SELECT qs.f1, qs.f2, qs.fa
      |  FROM qselc qs JOIN lstc cl ON cl.list = qs.list
      |                            AND cl.vec_id <> qs.vec_id),
      |cva AS MATERIALIZED (
      |  SELECT vec_id, list(val ORDER BY fpos) AS vec FROM fvc GROUP BY 1),
      |exc AS (
      |  SELECT q_id, vec_id FROM (
      |    SELECT q.vec_id AS q_id, c.vec_id,
      |           row_number() OVER (PARTITION BY q.vec_id ORDER BY
      |             round(list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
      |               list_transform(generate_series(1, 64), i ->
      |                 (q.vec[i] - c.vec[i]) * (q.vec[i] - c.vec[i]))),
      |               (x, y) -> x + y), 6) ASC, c.vec_id ASC) AS rn
      |    FROM cva q JOIN cva c ON c.vec_id <> q.vec_id
      |    WHERE q.vec_id % 29 = 0 AND q.vec_id < 522)
      |  WHERE rn <= 5)""".stripMargin

  /** q268/q268b's replay — the SELF-CALIBRATED budget: GT-pair list
    * ranks + 6-dp margin ratios (`gtkc`), the fixed-2 list-coverage
    * target, the needed-th order statistic of the GT ratios as the cap
    * (`capc` — both engines take the VALUE at that rank), the budget as
    * the count of ALL candidates at or under the cap (`budc`), then the
    * q263 grant machinery spending exactly that budget, SQ8-tier ADC
    * scoring, and the three-scheme readout carrying the COMPUTED
    * `budget` / `ratio_cap` columns.
    */
  /** q274's replay — the calibration-artifact LIFECYCLE: build-time
    * calibration (capc/budc from the shared q268 CTEs), the DRIFTED
    * corpus rebuilt from the same arithmetic (t shifted toward the
    * boundary), frozen router/centroids throughout, the counts-only
    * staleness input (grants the frozen cap hands out on the drifted
    * sample), the drifted-GT recalibration (capd/budd), and the
    * four-row lifecycle readout with the gate booleans computed from
    * the same counts.
    */
  private def calibrationLifecycleOracle: String =
    s"""WITH ${adaptiveAuditCtes(zipfFvcCte)},
      |ratc AS MATERIALIZED (
      |  SELECT q.vec_id, q.list, q.pr, CAST(b.d1 AS DOUBLE) AS d1,
      |         CASE WHEN CAST(b.d1 AS DOUBLE) > 0
      |              THEN round(CAST(q.d AS DOUBLE) / CAST(b.d1 AS DOUBLE), 6)
      |         END AS ratio
      |  FROM qpdc q JOIN (SELECT vec_id, d AS d1 FROM qpdc WHERE pr = 1) b
      |    ON b.vec_id = q.vec_id
      |  WHERE q.pr <= 4),
      |gtkc AS MATERIALIZED (
      |  SELECT e.q_id, e.vec_id, r.pr, r.ratio, r.d1
      |  FROM exc e
      |  JOIN lstc cl ON cl.vec_id = e.vec_id
      |  JOIN ratc r ON r.vec_id = e.q_id AND r.list = cl.list),
      |tgtc AS (SELECT count(*) AS t FROM gtkc WHERE pr <= 2),
      |bsc AS (SELECT count(*) AS b FROM gtkc WHERE pr = 1),
      |ndc AS (SELECT CASE WHEN (SELECT t FROM tgtc) > (SELECT b FROM bsc)
      |                    THEN (SELECT t FROM tgtc) - (SELECT b FROM bsc)
      |                    ELSE 0 END AS n),
      |capc AS (
      |  SELECT CASE WHEN (SELECT n FROM ndc) = 0 THEN CAST(1.0 AS DOUBLE)
      |         ELSE (SELECT max(ratio) FROM (
      |                 SELECT ratio,
      |                        row_number() OVER (ORDER BY ratio ASC) AS rn
      |                 FROM gtkc WHERE pr >= 2 AND d1 > 0)
      |               WHERE rn <= (SELECT n FROM ndc)) END AS r),
      |budc AS (
      |  SELECT CASE WHEN (SELECT n FROM ndc) = 0 THEN CAST(0 AS BIGINT)
      |         ELSE (SELECT count(*) FROM ratc
      |               WHERE pr >= 2 AND d1 > 0
      |                 AND ratio <= (SELECT r FROM capc)) END AS b),
      |${zipfFixtureCte("fvd",
        "0.4 + CAST((e.vec_id * 7919) % 100 AS DOUBLE) / 1000.0")},
      |lstd AS MATERIALIZED (
      |  SELECT vec_id, list FROM (
      |    SELECT f.vec_id, j.j AS list,
      |           row_number() OVER (PARTITION BY f.vec_id
      |                              ORDER BY f.val DESC, j.j ASC) AS rn
      |    FROM fvd f
      |    JOIN (SELECT CAST(unnest(generate_series(0, 3)) AS INTEGER) AS j) j
      |      ON f.fpos = j.j * 16)
      |  WHERE rn = 1),
      |qdd AS (
      |  SELECT f.vec_id, cc.list,
      |         sum(CAST(round((f.val - cc.val) * (f.val - cc.val), 6)
      |                  AS DECIMAL(18,6))) AS d
      |  FROM fvd f JOIN ccc cc ON cc.fpos = f.fpos
      |  WHERE f.vec_id % 29 = 0 AND f.vec_id < 522
      |  GROUP BY 1, 2),
      |qpdd AS (
      |  SELECT vec_id, list, d,
      |         row_number() OVER (PARTITION BY vec_id
      |                            ORDER BY d ASC, list ASC) AS pr
      |  FROM qdd),
      |ratd AS MATERIALIZED (
      |  SELECT q.vec_id, q.list, q.pr, CAST(b.d1 AS DOUBLE) AS d1,
      |         CASE WHEN CAST(b.d1 AS DOUBLE) > 0
      |              THEN round(CAST(q.d AS DOUBLE) / CAST(b.d1 AS DOUBLE), 6)
      |         END AS ratio
      |  FROM qpdd q JOIN (SELECT vec_id, d AS d1 FROM qpdd WHERE pr = 1) b
      |    ON b.vec_id = q.vec_id
      |  WHERE q.pr <= 4),
      |mfr AS (SELECT ratio,
      |               row_number() OVER (ORDER BY ratio ASC, vec_id ASC) AS rn,
      |               count(*) OVER () AS n
      |        FROM ratc WHERE pr = 2 AND d1 > 0),
      |m0c AS (SELECT ratio AS m FROM mfr WHERE rn = (n + 1) // 2),
      |mdr AS (SELECT ratio,
      |               row_number() OVER (ORDER BY ratio ASC, vec_id ASC) AS rn,
      |               count(*) OVER () AS n
      |        FROM ratd WHERE pr = 2 AND d1 > 0),
      |m1c AS (SELECT ratio AS m FROM mdr WHERE rn = (n + 1) // 2),
      |cvd AS MATERIALIZED (
      |  SELECT vec_id, list(val ORDER BY fpos) AS vec FROM fvd GROUP BY 1),
      |exd AS MATERIALIZED (
      |  SELECT q_id, vec_id FROM (
      |    SELECT q.vec_id AS q_id, c.vec_id,
      |           row_number() OVER (PARTITION BY q.vec_id ORDER BY
      |             round(list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
      |               list_transform(generate_series(1, 64), i ->
      |                 (q.vec[i] - c.vec[i]) * (q.vec[i] - c.vec[i]))),
      |               (x, y) -> x + y), 6) ASC, c.vec_id ASC) AS rn
      |    FROM cvd q JOIN cvd c ON c.vec_id <> q.vec_id
      |    WHERE q.vec_id % 29 = 0 AND q.vec_id < 522)
      |  WHERE rn <= 5),
      |gtkd AS MATERIALIZED (
      |  SELECT e.q_id, e.vec_id, r.pr, r.ratio, r.d1
      |  FROM exd e
      |  JOIN lstd cl ON cl.vec_id = e.vec_id
      |  JOIN ratd r ON r.vec_id = e.q_id AND r.list = cl.list),
      |tgtd AS (SELECT count(*) AS t FROM gtkd WHERE pr <= 2),
      |bsd AS (SELECT count(*) AS b FROM gtkd WHERE pr = 1),
      |ndd AS (SELECT CASE WHEN (SELECT t FROM tgtd) > (SELECT b FROM bsd)
      |                    THEN (SELECT t FROM tgtd) - (SELECT b FROM bsd)
      |                    ELSE 0 END AS n),
      |capd AS (
      |  SELECT CASE WHEN (SELECT n FROM ndd) = 0 THEN CAST(1.0 AS DOUBLE)
      |         ELSE (SELECT max(ratio) FROM (
      |                 SELECT ratio,
      |                        row_number() OVER (ORDER BY ratio ASC) AS rn
      |                 FROM gtkd WHERE pr >= 2 AND d1 > 0)
      |               WHERE rn <= (SELECT n FROM ndd)) END AS r),
      |budd AS (
      |  SELECT CASE WHEN (SELECT n FROM ndd) = 0 THEN CAST(0 AS BIGINT)
      |         ELSE (SELECT count(*) FROM ratd
      |               WHERE pr >= 2 AND d1 > 0
      |                 AND ratio <= (SELECT r FROM capd)) END AS b),
      |nqc AS (SELECT count(DISTINCT vec_id) AS n FROM qpdc)
      |SELECT 'build' AS stage, (SELECT r FROM capc) AS ratio_cap,
      |       (SELECT b FROM budc) AS budget,
      |       (SELECT m FROM m0c) AS gate_median,
      |       false AS gate_fired,
      |       (SELECT n FROM nqc) + (SELECT b FROM budc) AS probes
      |UNION ALL
      |SELECT 'fresh_gate', (SELECT r FROM capc), (SELECT b FROM budc),
      |       (SELECT m FROM m0c),
      |       ((SELECT m FROM m0c) <> (SELECT m FROM m0c)),
      |       CAST(NULL AS BIGINT)
      |UNION ALL
      |SELECT 'stale_gate', (SELECT r FROM capc), (SELECT b FROM budc),
      |       (SELECT m FROM m1c),
      |       ((SELECT m FROM m1c) <> (SELECT m FROM m0c)),
      |       CAST(NULL AS BIGINT)
      |UNION ALL
      |SELECT 'recalibrated', (SELECT r FROM capd), (SELECT b FROM budd),
      |       (SELECT m FROM m1c), false,
      |       (SELECT n FROM nqc) + (SELECT b FROM budd)""".stripMargin

  private def calibratedBudgetOracle(fvcCte: String): String =
    s"""WITH ${adaptiveAuditCtes(fvcCte)},
      |ratc AS (
      |  SELECT q.vec_id, q.list, q.pr, CAST(b.d1 AS DOUBLE) AS d1,
      |         CASE WHEN CAST(b.d1 AS DOUBLE) > 0
      |              THEN round(CAST(q.d AS DOUBLE) / CAST(b.d1 AS DOUBLE), 6)
      |         END AS ratio
      |  FROM qpdc q JOIN (SELECT vec_id, d AS d1 FROM qpdc WHERE pr = 1) b
      |    ON b.vec_id = q.vec_id
      |  WHERE q.pr <= 4),
      |gtkc AS (
      |  SELECT e.q_id, e.vec_id, r.pr, r.ratio, r.d1
      |  FROM exc e
      |  JOIN lstc cl ON cl.vec_id = e.vec_id
      |  JOIN ratc r ON r.vec_id = e.q_id AND r.list = cl.list),
      |tgtc AS (SELECT count(*) AS t FROM gtkc WHERE pr <= 2),
      |bsc AS (SELECT count(*) AS b FROM gtkc WHERE pr = 1),
      |ndc AS (SELECT CASE WHEN (SELECT t FROM tgtc) > (SELECT b FROM bsc)
      |                    THEN (SELECT t FROM tgtc) - (SELECT b FROM bsc)
      |                    ELSE 0 END AS n),
      |capc AS (
      |  SELECT CASE WHEN (SELECT n FROM ndc) = 0 THEN CAST(1.0 AS DOUBLE)
      |         ELSE (SELECT max(ratio) FROM (
      |                 SELECT ratio,
      |                        row_number() OVER (ORDER BY ratio ASC) AS rn
      |                 FROM gtkc WHERE pr >= 2 AND d1 > 0)
      |               WHERE rn <= (SELECT n FROM ndc)) END AS r),
      |budc AS (
      |  SELECT CASE WHEN (SELECT n FROM ndc) = 0 THEN CAST(0 AS BIGINT)
      |         ELSE (SELECT count(*) FROM ratc
      |               WHERE pr >= 2 AND d1 > 0
      |                 AND ratio <= (SELECT r FROM capc)) END AS b),
      |grc AS (
      |  SELECT vec_id, list,
      |         row_number() OVER (ORDER BY ratio ASC, vec_id ASC, pr ASC)
      |           AS grk
      |  FROM ratc WHERE pr BETWEEN 2 AND 4 AND d1 > 0),
      |qselk AS (
      |  SELECT q.vec_id, q.list, (q.pr = 1) AS f1, (q.pr <= 2) AS f2,
      |         (q.pr = 1 OR coalesce(g.grk, 1000000) <= (SELECT b FROM budc))
      |           AS fc
      |  FROM qpdc q LEFT JOIN grc g ON g.vec_id = q.vec_id
      |                             AND g.list = q.list),
      |qrvk AS MATERIALIZED (
      |  SELECT f.vec_id, qs.list, qs.f1, qs.f2, qs.fc, f.fpos,
      |         f.val - cc.val AS val
      |  FROM fvc f JOIN qselk qs ON qs.vec_id = f.vec_id
      |                          AND (qs.f2 OR qs.fc)
      |  JOIN ccc cc ON cc.list = qs.list AND cc.fpos = f.fpos),
      |pairsrck AS (
      |  SELECT qs.f1, qs.f2, qs.fc
      |  FROM qselk qs JOIN lstc cl ON cl.list = qs.list
      |                            AND cl.vec_id <> qs.vec_id),
      |sqstc AS MATERIALIZED (
      |  SELECT fpos, min(val) AS mn, max(val) AS mx FROM rvc GROUP BY 1),
      |sqdecc AS MATERIALIZED (
      |  SELECT r.vec_id, r.list, r.fpos,
      |         s.mn + CAST(CASE WHEN s.mx = s.mn THEN 0
      |              ELSE least(greatest(CAST(round((r.val - s.mn)
      |                                / (s.mx - s.mn) * 255.0) AS BIGINT),
      |                                  0), 255) END AS DOUBLE)
      |              * (s.mx - s.mn) / 255.0 AS dx
      |  FROM rvc r JOIN sqstc s USING (fpos)),
      |amk AS (
      |  SELECT q.vec_id AS q_id, dc.vec_id, q.f1, q.f2, q.fc,
      |         CAST(sum(CAST(round((q.val - dc.dx) * (q.val - dc.dx), 6)
      |                       AS DECIMAL(18,6))) AS DOUBLE) AS d
      |  FROM qrvk q JOIN sqdecc dc ON dc.list = q.list AND dc.fpos = q.fpos
      |                            AND dc.vec_id <> q.vec_id
      |  GROUP BY 1, 2, 3, 4, 5),
      |tk1 AS (
      |  SELECT q_id, vec_id FROM (
      |    SELECT q_id, vec_id,
      |           row_number() OVER (PARTITION BY q_id
      |                              ORDER BY d ASC, vec_id ASC) AS rn
      |    FROM amk WHERE f1) WHERE rn <= 5),
      |tkc AS (
      |  SELECT q_id, vec_id FROM (
      |    SELECT q_id, vec_id,
      |           row_number() OVER (PARTITION BY q_id
      |                              ORDER BY d ASC, vec_id ASC) AS rn
      |    FROM amk WHERE fc) WHERE rn <= 5),
      |tk2 AS (
      |  SELECT q_id, vec_id FROM (
      |    SELECT q_id, vec_id,
      |           row_number() OVER (PARTITION BY q_id
      |                              ORDER BY d ASC, vec_id ASC) AS rn
      |    FROM amk WHERE f2) WHERE rn <= 5),
      |ngt AS (SELECT count(*) AS n FROM exc),
      |nqc AS (SELECT count(DISTINCT vec_id) AS n FROM qpdc)
      |SELECT 'fixed1' AS scheme,
      |       (SELECT count(*) FROM qselk WHERE f1) AS probes,
      |       (SELECT count(*) FROM pairsrck WHERE f1) AS pairs,
      |       (SELECT count(*) FROM tk1 JOIN exc USING (q_id, vec_id)) AS hits,
      |       (SELECT n FROM ngt) AS n_gt,
      |       round(CAST((SELECT count(*) FROM tk1 JOIN exc USING (q_id, vec_id))
      |                  AS DOUBLE) / CAST((SELECT n FROM ngt) AS DOUBLE), 6)
      |         AS recall,
      |       CAST(0 AS BIGINT) AS budget, CAST(NULL AS DOUBLE) AS ratio_cap
      |UNION ALL
      |SELECT 'calibrated',
      |       (SELECT count(*) FROM qselk WHERE fc),
      |       (SELECT count(*) FROM pairsrck WHERE fc),
      |       (SELECT count(*) FROM tkc JOIN exc USING (q_id, vec_id)),
      |       (SELECT n FROM ngt),
      |       round(CAST((SELECT count(*) FROM tkc JOIN exc USING (q_id, vec_id))
      |                  AS DOUBLE) / CAST((SELECT n FROM ngt) AS DOUBLE), 6),
      |       (SELECT b FROM budc), (SELECT r FROM capc)
      |UNION ALL
      |SELECT 'fixed2',
      |       (SELECT count(*) FROM qselk WHERE f2),
      |       (SELECT count(*) FROM pairsrck WHERE f2),
      |       (SELECT count(*) FROM tk2 JOIN exc USING (q_id, vec_id)),
      |       (SELECT n FROM ngt),
      |       round(CAST((SELECT count(*) FROM tk2 JOIN exc USING (q_id, vec_id))
      |                  AS DOUBLE) / CAST((SELECT n FROM ngt) AS DOUBLE), 6),
      |       (SELECT n FROM nqc), CAST(NULL AS DOUBLE)""".stripMargin

  /** The per-scheme top-5 + final three-row readout shared by the
    * adaptive-probe oracles: `am` is the scored (q_id, vec_id, flags,
    * <distCol>) relation of the tier.
    */
  private def adaptiveTopsAndSelect(am: String, distCol: String): String =
    s"""t1c AS (
       |  SELECT q_id, vec_id FROM (
       |    SELECT q_id, vec_id,
       |           row_number() OVER (PARTITION BY q_id
       |                              ORDER BY $distCol ASC, vec_id ASC) AS rn
       |    FROM $am WHERE f1) WHERE rn <= 5),
       |t2c AS (
       |  SELECT q_id, vec_id FROM (
       |    SELECT q_id, vec_id,
       |           row_number() OVER (PARTITION BY q_id
       |                              ORDER BY $distCol ASC, vec_id ASC) AS rn
       |    FROM $am WHERE f2) WHERE rn <= 5),
       |tac AS (
       |  SELECT q_id, vec_id FROM (
       |    SELECT q_id, vec_id,
       |           row_number() OVER (PARTITION BY q_id
       |                              ORDER BY $distCol ASC, vec_id ASC) AS rn
       |    FROM $am WHERE fa) WHERE rn <= 5)
       |SELECT 'fixed1' AS scheme,
       |       (SELECT count(*) FROM qselc WHERE f1) AS probes,
       |       (SELECT count(*) FROM pairsrcc WHERE f1) AS pairs,
       |       (SELECT count(*) FROM t1c JOIN exc USING (q_id, vec_id)) AS hits,
       |       (SELECT count(*) FROM exc) AS n_gt,
       |       round(CAST((SELECT count(*) FROM t1c JOIN exc USING (q_id, vec_id))
       |                  AS DOUBLE)
       |             / CAST((SELECT count(*) FROM exc) AS DOUBLE), 6) AS recall
       |UNION ALL
       |SELECT 'fixed2',
       |       (SELECT count(*) FROM qselc WHERE f2),
       |       (SELECT count(*) FROM pairsrcc WHERE f2),
       |       (SELECT count(*) FROM t2c JOIN exc USING (q_id, vec_id)),
       |       (SELECT count(*) FROM exc),
       |       round(CAST((SELECT count(*) FROM t2c JOIN exc USING (q_id, vec_id))
       |                  AS DOUBLE)
       |             / CAST((SELECT count(*) FROM exc) AS DOUBLE), 6)
       |UNION ALL
       |SELECT 'adaptive',
       |       (SELECT count(*) FROM qselc WHERE fa),
       |       (SELECT count(*) FROM pairsrcc WHERE fa),
       |       (SELECT count(*) FROM tac JOIN exc USING (q_id, vec_id)),
       |       (SELECT count(*) FROM exc),
       |       round(CAST((SELECT count(*) FROM tac JOIN exc USING (q_id, vec_id))
       |                  AS DOUBLE)
       |             / CAST((SELECT count(*) FROM exc) AS DOUBLE), 6)""".stripMargin

  /** q253's replay — the full dim-512 block-OPQ serving stack from the
    * spliced sign + per-block literals: corpus expansion (`fx5`, 8
    * sign-mixed tiles of the 64-dim embedding), block rotation (`kvx`,
    * intra-block cells only), the stride-128 router / per-list
    * centroids / residual sub-vectors, the residual training chain at
    * salt `pqxr`, then the q226 probe block (multi-probe nProbe=2, ADC
    * top-20, exact rerank) entirely in rotated 512-dim space.
    */
  /** The shared dim-512 block-OPQ base (q253/q259/q259b): sign-expanded
    * corpus (`fx5`), block rotation (`kvx` from the spliced per-block
    * literals), rotated full components (`fvx`), the stride-128 router
    * (`lstx`), per-list centroids (`ccx`), residual sub-vectors
    * (`rvx`), the residual training chain at salt `pqxr`, and the
    * per-vec ordered component lists (`rvax`, the exact-space side).
    */
  /** The tier's training-init salt — MUST match
    * `Queries.x512BooksM`'s: the base (8,4) tier is the original
    * `pqxr` chain; ladder rungs carry their (m, ksub) in the salt.
    */
  private def x512TierSalt(m: Int, ksub: Int): String =
    if (m == 8 && ksub == 4) "pqxr"
    else if (ksub == 4) s"pqxr$m" else s"pqxr${m}k$ksub"

  /** One ladder tier's residual training chain as CTEs, suffix `sfx`:
    * the residual sub-vector split at the tier's dsub = 512/m (from
    * `fvx`/`lstx`/`ccx` of [[dim512BaseCtes]]), a subs table when the
    * tier's m isn't the base 8, and the full [[pqTrainCtes]] replay at
    * the tier's ksub and salt. Emits `rv$sfx` + the train chain
    * (c2$sfx, a3$sfx, …).
    */
  private def x512TierChain(m: Int, ksub: Int, sfx: String): String = {
    val dsub = 512 / m
    val subsName = if (m == 8) "subs" else s"subs$sfx"
    val subsCte = if (m == 8) ""
    else
      s"""subs$sfx AS (SELECT CAST(unnest(generate_series(0, ${m - 1}))
         |                         AS INTEGER) AS sub),
         |""".stripMargin
    s"""${subsCte}rv$sfx AS MATERIALIZED (
       |  SELECT f.vec_id, CAST(f.fpos // $dsub AS INTEGER) AS sub,
       |         CAST(f.fpos % $dsub AS INTEGER) AS pos, f.val - cc.val AS val
       |  FROM fvx f JOIN lstx l ON l.vec_id = f.vec_id
       |  JOIN ccx cc ON cc.list = l.list AND cc.fpos = f.fpos),
       |${pqTrainCtes(s"rv$sfx", x512TierSalt(m, ksub), sfx, subsName, ksub)}""".stripMargin
  }

  private def dim512BaseCtes(blocks: Array[Array[Array[Double]]],
      tier: (Int, Int) = (8, 4)): String = {
    val signs = (0 until 512).map { i =>
      s"($i, ${Queries.x512Sign("x5a", i)}, ${Queries.x512Sign("x5b", i)})"
    }.mkString(", ")
    s"""$pqSubsPs,
       |$pqFxCte,
       |x5s(i, s1, s2) AS (VALUES $signs),
       |fx5 AS MATERIALIZED (
       |  SELECT f1.vec_id, s.i AS fpos,
       |         round(f1.val * CAST(s.s1 AS DOUBLE)
       |               + f2.val * CAST(s.s2 AS DOUBLE), 6) AS val
       |  FROM x5s s
       |  JOIN fx f1 ON f1.fpos = s.i % 64
       |  JOIN fx f2 ON f2.vec_id = f1.vec_id
       |            AND f2.fpos = ((s.i % 64) + 7 * ((s.i // 64) + 1)) % 64),
       |${blockRotCtes(blocks, dsub = 64, src = "fx5",
      rotName = "krx", outName = "kvx")},
       |fvx AS MATERIALIZED (
       |  SELECT vec_id, sub * 64 + pos AS fpos, val FROM kvx),
       |lstx AS MATERIALIZED (
       |  SELECT vec_id, list FROM (
       |    SELECT f.vec_id, j.j AS list,
       |           row_number() OVER (PARTITION BY f.vec_id
       |                              ORDER BY f.val DESC, j.j ASC) AS rn
       |    FROM fvx f
       |    JOIN (SELECT CAST(unnest(generate_series(0, 3)) AS INTEGER) AS j) j
       |      ON f.fpos = j.j * 128)
       |  WHERE rn = 1),
       |ccx AS MATERIALIZED (
       |  SELECT l.list, f.fpos,
       |         round(CAST(sum(CAST(round(f.val, 6) AS DECIMAL(18,6))) AS DOUBLE)
       |               / count(*), 6) AS val
       |  FROM fvx f JOIN lstx l ON l.vec_id = f.vec_id
       |  GROUP BY 1, 2),
       |${x512TierChain(tier._1, tier._2, "x")},
       |rvax AS MATERIALIZED (
       |  SELECT vec_id, list(val ORDER BY fpos) AS vec FROM fvx GROUP BY 1)""".stripMargin
  }

  /** q253/q259's replay — the full dim-512 block-OPQ serving stack from
    * the spliced literals; `adaptive=false` probes the fixed nProbe=2
    * set (q253), `adaptive=true` the ratio-2/cap-4 rule's set over the
    * DOUBLE casts of the exact decimal centroid distances (q259 — the
    * qselc rule of the dim-64 audits at stride 128).
    */
  private def dim512ServingOracle(
      blocks: Array[Array[Array[Double]]], adaptive: Boolean): String = {
    val probeSel =
      if (!adaptive)
        """qsx AS (
          |  SELECT vec_id, list FROM qpx WHERE pr <= 2)""".stripMargin
      else
        """qsx AS (
          |  SELECT q.vec_id, q.list
          |  FROM qpx q JOIN (SELECT vec_id, d AS d1 FROM qpx WHERE pr = 1) b
          |    ON b.vec_id = q.vec_id
          |  WHERE q.pr = 1 OR (q.pr <= 4
          |    AND CAST(q.d AS DOUBLE) * 1.0 <= CAST(b.d1 AS DOUBLE) * 2.0))""".stripMargin
    s"""WITH ${dim512BaseCtes(blocks)},
       |qdx AS (
       |  SELECT f.vec_id, cc.list,
       |         sum(CAST(round((f.val - cc.val) * (f.val - cc.val), 6)
       |                  AS DECIMAL(18,6))) AS d
       |  FROM fvx f JOIN ccx cc ON cc.fpos = f.fpos
       |  WHERE f.vec_id % 97 = 0
       |  GROUP BY 1, 2),
       |qpx AS (
       |  SELECT vec_id, list, d,
       |         row_number() OVER (PARTITION BY vec_id
       |                            ORDER BY d ASC, list ASC) AS pr
       |  FROM qdx),
       |$probeSel,
       |rqx AS (
       |  SELECT f.vec_id, qp.list, CAST(f.fpos // 64 AS INTEGER) AS sub,
       |         CAST(f.fpos % 64 AS INTEGER) AS pos, f.val - cc.val AS val
       |  FROM fvx f JOIN qsx qp ON qp.vec_id = f.vec_id
       |  JOIN ccx cc ON cc.list = qp.list AND cc.fpos = f.fpos),
       |dqx AS (
       |  SELECT rq.vec_id, rq.list, rq.sub, cb.code,
       |         sum(CAST(round((rq.val - cb.val) * (rq.val - cb.val), 6)
       |                  AS DECIMAL(18,6))) AS d
       |  FROM rqx rq JOIN c2x cb ON cb.sub = rq.sub AND cb.pos = rq.pos
       |  GROUP BY 1, 2, 3, 4),
       |amx AS (
       |  SELECT dq.vec_id AS q_id, a.vec_id,
       |         round(CAST(sum(dq.d) AS DOUBLE), 6) AS dist
       |  FROM a3x a JOIN lstx cl ON cl.vec_id = a.vec_id
       |  JOIN dqx dq ON dq.list = cl.list AND dq.sub = a.sub
       |             AND dq.code = a.code
       |  WHERE a.vec_id <> dq.vec_id
       |  GROUP BY 1, 2),
       |candx AS (
       |  SELECT q_id, vec_id FROM (
       |    SELECT *, row_number() OVER (PARTITION BY q_id
       |                                 ORDER BY dist ASC, vec_id ASC) AS rn
       |    FROM amx)
       |  WHERE rn <= 20),
       |rrx AS (
       |  SELECT c.q_id, c.vec_id,
       |         round(list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
       |           list_transform(generate_series(1, 512), i ->
       |             (q.vec[i] - x.vec[i]) * (q.vec[i] - x.vec[i]))),
       |           (u, w) -> u + w), 6) AS l2
       |  FROM candx c
       |  JOIN rvax q ON q.vec_id = c.q_id
       |  JOIN rvax x ON x.vec_id = c.vec_id)
       |SELECT q_id, vec_id, l2 FROM (
       |  SELECT *, row_number() OVER (PARTITION BY q_id
       |                               ORDER BY l2 ASC, vec_id ASC) AS rn
       |  FROM rrx)
       |WHERE rn <= 5""".stripMargin
  }

  /** q267's replay — the dim-512 serving stack OVER the lakehouse
    * table: the [[dim512ServingOracle]] chain with (a) the probe set
    * chosen by the BUDGETED rule with the spend itself CALIBRATED
    * in-oracle (the q271 CTEs: GT-pair ratios from the exact
    * rotated-space top-5, the needed-th order statistic as the cap,
    * the budget as all candidates at or under it — the q263 grant SQL
    * at production dim, spending a computed number), (b) the candidate side restricted to the
    * SURVIVING corpus (`vec_id % 7 <> 1` — the MOR-deleted keys must
    * never surface), and (c) the top-5 emitted under both regimes
    * (`mor` / `materialized` — the delete-materialization pass must
    * not change the read). The streamed-vs-batch encode identity needs
    * no oracle clause: the oracle encodes the WHOLE corpus through one
    * chain, so any drift between the manifest's snapshot half and its
    * streamed half is a hash mismatch. The rerank is the FULLY-EXACT
    * decimal fold (6-dp components cast to DECIMAL, diff/square/sum
    * exact, one double cast at the end — no round() anywhere).
    */
  private def dim512LakehouseOracle(
      blocks: Array[Array[Array[Double]]],
      tier: (Int, Int) = (8, 4)): String =
    s"""WITH ${dim512BaseCtes(blocks, tier)},
       |qdx AS (
       |  SELECT f.vec_id, cc.list,
       |         sum(CAST(round((f.val - cc.val) * (f.val - cc.val), 6)
       |                  AS DECIMAL(18,6))) AS d
       |  FROM fvx f JOIN ccx cc ON cc.fpos = f.fpos
       |  WHERE f.vec_id % 97 = 0 AND f.vec_id < 2037
       |  GROUP BY 1, 2),
       |qpx AS (
       |  SELECT vec_id, list, d,
       |         row_number() OVER (PARTITION BY vec_id
       |                            ORDER BY d ASC, list ASC) AS pr
       |  FROM qdx),
       |ratx AS MATERIALIZED (
       |  SELECT q.vec_id, q.list, q.pr, CAST(b.d1 AS DOUBLE) AS d1,
       |         CASE WHEN CAST(b.d1 AS DOUBLE) > 0
       |              THEN round(CAST(q.d AS DOUBLE) / CAST(b.d1 AS DOUBLE), 6)
       |         END AS ratio
       |  FROM qpx q JOIN (SELECT vec_id, d AS d1 FROM qpx WHERE pr = 1) b
       |    ON b.vec_id = q.vec_id
       |  WHERE q.pr <= 4),
       |exg AS (
       |  SELECT q_id, vec_id FROM (
       |    SELECT q.vec_id AS q_id, c.vec_id,
       |           row_number() OVER (PARTITION BY q.vec_id ORDER BY
       |             round(list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
       |               list_transform(generate_series(1, 512), i ->
       |                 (q.vec[i] - c.vec[i]) * (q.vec[i] - c.vec[i]))),
       |               (x, y) -> x + y), 6) ASC, c.vec_id ASC) AS rn
       |    FROM rvax q JOIN rvax c ON c.vec_id <> q.vec_id
       |    WHERE q.vec_id % 97 = 0 AND q.vec_id < 2037)
       |  WHERE rn <= 5),
       |gtkg AS (
       |  SELECT e.q_id, e.vec_id, r.pr, r.ratio, r.d1
       |  FROM exg e
       |  JOIN lstx cl ON cl.vec_id = e.vec_id
       |  JOIN ratx r ON r.vec_id = e.q_id AND r.list = cl.list),
       |tgtg AS (SELECT count(*) AS t FROM gtkg WHERE pr <= 2),
       |bsg AS (SELECT count(*) AS b FROM gtkg WHERE pr = 1),
       |ndg AS (SELECT CASE WHEN (SELECT t FROM tgtg) > (SELECT b FROM bsg)
       |                    THEN (SELECT t FROM tgtg) - (SELECT b FROM bsg)
       |                    ELSE 0 END AS n),
       |capg AS (
       |  SELECT CASE WHEN (SELECT n FROM ndg) = 0 THEN CAST(1.0 AS DOUBLE)
       |         ELSE (SELECT max(ratio) FROM (
       |                 SELECT ratio,
       |                        row_number() OVER (ORDER BY ratio ASC) AS rn
       |                 FROM gtkg WHERE pr >= 2 AND d1 > 0)
       |               WHERE rn <= (SELECT n FROM ndg)) END AS r),
       |budg AS (
       |  SELECT CASE WHEN (SELECT n FROM ndg) = 0 THEN CAST(0 AS BIGINT)
       |         ELSE (SELECT count(*) FROM ratx
       |               WHERE pr >= 2 AND d1 > 0
       |                 AND ratio <= (SELECT r FROM capg)) END AS b),
       |grx AS (
       |  SELECT vec_id, list,
       |         row_number() OVER (ORDER BY ratio ASC, vec_id ASC, pr ASC)
       |           AS grk
       |  FROM ratx WHERE pr BETWEEN 2 AND 4 AND d1 > 0),
       |qsx AS (
       |  SELECT q.vec_id, q.list
       |  FROM qpx q LEFT JOIN grx g ON g.vec_id = q.vec_id
       |                            AND g.list = q.list
       |  WHERE q.pr = 1 OR coalesce(g.grk, 1000000)
       |          <= (SELECT b FROM budg)),
       |rqx AS (
       |  SELECT f.vec_id, qp.list,
       |         CAST(f.fpos // ${512 / tier._1} AS INTEGER) AS sub,
       |         CAST(f.fpos % ${512 / tier._1} AS INTEGER) AS pos,
       |         f.val - cc.val AS val
       |  FROM fvx f JOIN qsx qp ON qp.vec_id = f.vec_id
       |  JOIN ccx cc ON cc.list = qp.list AND cc.fpos = f.fpos),
       |dqx AS (
       |  SELECT rq.vec_id, rq.list, rq.sub, cb.code,
       |         sum(CAST(round((rq.val - cb.val) * (rq.val - cb.val), 6)
       |                  AS DECIMAL(18,6))) AS d
       |  FROM rqx rq JOIN c2x cb ON cb.sub = rq.sub AND cb.pos = rq.pos
       |  GROUP BY 1, 2, 3, 4),
       |amx AS (
       |  SELECT dq.vec_id AS q_id, a.vec_id,
       |         round(CAST(sum(dq.d) AS DOUBLE), 6) AS dist
       |  FROM a3x a JOIN lstx cl ON cl.vec_id = a.vec_id
       |  JOIN dqx dq ON dq.list = cl.list AND dq.sub = a.sub
       |             AND dq.code = a.code
       |  WHERE a.vec_id <> dq.vec_id AND a.vec_id % 7 <> 1
       |  GROUP BY 1, 2),
       |candx AS (
       |  SELECT q_id, vec_id FROM (
       |    SELECT *, row_number() OVER (PARTITION BY q_id
       |                                 ORDER BY dist ASC, vec_id ASC) AS rn
       |    FROM amx)
       |  WHERE rn <= 20),
       |rrx AS (
       |  SELECT c.q_id, c.vec_id,
       |         CAST(sum(CAST(
       |           (CAST(q.val AS DECIMAL(12,6)) - CAST(x.val AS DECIMAL(12,6)))
       |           * (CAST(q.val AS DECIMAL(12,6)) - CAST(x.val AS DECIMAL(12,6)))
       |           AS DECIMAL(38,12))) AS DOUBLE) AS l2
       |  FROM candx c
       |  JOIN fvx q ON q.vec_id = c.q_id
       |  JOIN fvx x ON x.vec_id = c.vec_id AND x.fpos = q.fpos
       |  GROUP BY 1, 2),
       |topx AS (
       |  SELECT q_id, vec_id, l2 FROM (
       |    SELECT *, row_number() OVER (PARTITION BY q_id
       |                                 ORDER BY l2 ASC, vec_id ASC) AS rn
       |    FROM rrx)
       |  WHERE rn <= 5)
       |SELECT r.regime, t.q_id, t.vec_id, t.l2
       |FROM topx t
       |CROSS JOIN (VALUES ('mor'), ('materialized')) r(regime)""".stripMargin

  /** q271's replay — the SELF-CALIBRATED budget at dim 512: the
    * [[calibratedBudgetOracle]] machinery over the [[dim512BaseCtes]]
    * chain (fixed sample's ranked list distances, GT-pair ratios from
    * the exact rotated-space top-5, the needed-th order statistic as
    * the cap, the budget as all candidates at or under it, grants by
    * the q263 rule, residual ADC top-5 within the probed lists).
    */
  /** The dim-512 calibration chain (q271/q272 shared): fixed-sample
    * ranked list distances, margin ratios, exact rotated-space top-5
    * GT, coverage target, the needed-th order-statistic cap, the
    * budget, and the grant ranks (`grxx`). Consumes
    * [[dim512BaseCtes]]'s fvx/ccx/lstx/rvax.
    */
  private val x512CalibCtes: String =
    s"""qdx AS (
       |  SELECT f.vec_id, cc.list,
       |         sum(CAST(round((f.val - cc.val) * (f.val - cc.val), 6)
       |                  AS DECIMAL(18,6))) AS d
       |  FROM fvx f JOIN ccx cc ON cc.fpos = f.fpos
       |  WHERE f.vec_id % 97 = 0 AND f.vec_id < 2037
       |  GROUP BY 1, 2),
       |qpx AS (
       |  SELECT vec_id, list, d,
       |         row_number() OVER (PARTITION BY vec_id
       |                            ORDER BY d ASC, list ASC) AS pr
       |  FROM qdx),
       |ratx AS MATERIALIZED (
       |  SELECT q.vec_id, q.list, q.pr, CAST(b.d1 AS DOUBLE) AS d1,
       |         CASE WHEN CAST(b.d1 AS DOUBLE) > 0
       |              THEN round(CAST(q.d AS DOUBLE) / CAST(b.d1 AS DOUBLE), 6)
       |         END AS ratio
       |  FROM qpx q JOIN (SELECT vec_id, d AS d1 FROM qpx WHERE pr = 1) b
       |    ON b.vec_id = q.vec_id
       |  WHERE q.pr <= 4),
       |exc AS MATERIALIZED (
       |  SELECT q_id, vec_id FROM (
       |    SELECT q.vec_id AS q_id, c.vec_id,
       |           row_number() OVER (PARTITION BY q.vec_id ORDER BY
       |             round(list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
       |               list_transform(generate_series(1, 512), i ->
       |                 (q.vec[i] - c.vec[i]) * (q.vec[i] - c.vec[i]))),
       |               (x, y) -> x + y), 6) ASC, c.vec_id ASC) AS rn
       |    FROM rvax q JOIN rvax c ON c.vec_id <> q.vec_id
       |    WHERE q.vec_id % 97 = 0 AND q.vec_id < 2037)
       |  WHERE rn <= 5),
       |gtkx AS MATERIALIZED (
       |  SELECT e.q_id, e.vec_id, r.pr, r.ratio, r.d1
       |  FROM exc e
       |  JOIN lstx cl ON cl.vec_id = e.vec_id
       |  JOIN ratx r ON r.vec_id = e.q_id AND r.list = cl.list),
       |tgtx AS (SELECT count(*) AS t FROM gtkx WHERE pr <= 2),
       |bsx AS (SELECT count(*) AS b FROM gtkx WHERE pr = 1),
       |ndx AS (SELECT CASE WHEN (SELECT t FROM tgtx) > (SELECT b FROM bsx)
       |                    THEN (SELECT t FROM tgtx) - (SELECT b FROM bsx)
       |                    ELSE 0 END AS n),
       |capx AS (
       |  SELECT CASE WHEN (SELECT n FROM ndx) = 0 THEN CAST(1.0 AS DOUBLE)
       |         ELSE (SELECT max(ratio) FROM (
       |                 SELECT ratio,
       |                        row_number() OVER (ORDER BY ratio ASC) AS rn
       |                 FROM gtkx WHERE pr >= 2 AND d1 > 0)
       |               WHERE rn <= (SELECT n FROM ndx)) END AS r),
       |budx AS (
       |  SELECT CASE WHEN (SELECT n FROM ndx) = 0 THEN CAST(0 AS BIGINT)
       |         ELSE (SELECT count(*) FROM ratx
       |               WHERE pr >= 2 AND d1 > 0
       |                 AND ratio <= (SELECT r FROM capx)) END AS b),
       |grxx AS (
       |  SELECT vec_id, list,
       |         row_number() OVER (ORDER BY ratio ASC, vec_id ASC, pr ASC)
       |           AS grk
       |  FROM ratx WHERE pr BETWEEN 2 AND 4 AND d1 > 0),""".stripMargin

  private def dim512CalibratedOracle(
      blocks: Array[Array[Array[Double]]]): String =
    s"""WITH ${dim512BaseCtes(blocks)},
       |$x512CalibCtes
       |qselx AS (
       |  SELECT q.vec_id, q.list, (q.pr = 1) AS f1, (q.pr <= 2) AS f2,
       |         (q.pr = 1 OR coalesce(g.grk, 1000000)
       |            <= (SELECT b FROM budx)) AS fc
       |  FROM qpx q LEFT JOIN grxx g ON g.vec_id = q.vec_id
       |                             AND g.list = q.list),
       |qrvz AS MATERIALIZED (
       |  SELECT f.vec_id, qs.list, qs.f1, qs.f2, qs.fc,
       |         CAST(f.fpos // 64 AS INTEGER) AS sub,
       |         CAST(f.fpos % 64 AS INTEGER) AS pos,
       |         f.val - cc.val AS val
       |  FROM fvx f JOIN qselx qs ON qs.vec_id = f.vec_id
       |                          AND (qs.f2 OR qs.fc)
       |  JOIN ccx cc ON cc.list = qs.list AND cc.fpos = f.fpos),
       |dqz AS (
       |  SELECT rq.vec_id, rq.list, rq.f1, rq.f2, rq.fc, rq.sub, cb.code,
       |         sum(CAST(round((rq.val - cb.val) * (rq.val - cb.val), 6)
       |                  AS DECIMAL(18,6))) AS d
       |  FROM qrvz rq JOIN c2x cb ON cb.sub = rq.sub AND cb.pos = rq.pos
       |  GROUP BY 1, 2, 3, 4, 5, 6, 7),
       |amz AS (
       |  SELECT dq.vec_id AS q_id, a.vec_id, dq.f1, dq.f2, dq.fc,
       |         round(CAST(sum(dq.d) AS DOUBLE), 6) AS dist
       |  FROM a3x a JOIN lstx cl ON cl.vec_id = a.vec_id
       |  JOIN dqz dq ON dq.list = cl.list AND dq.sub = a.sub
       |             AND dq.code = a.code
       |  WHERE a.vec_id <> dq.vec_id
       |  GROUP BY 1, 2, 3, 4, 5),
       |tz1 AS (
       |  SELECT q_id, vec_id FROM (
       |    SELECT q_id, vec_id,
       |           row_number() OVER (PARTITION BY q_id
       |                              ORDER BY dist ASC, vec_id ASC) AS rn
       |    FROM amz WHERE f1) WHERE rn <= 5),
       |tzc AS (
       |  SELECT q_id, vec_id FROM (
       |    SELECT q_id, vec_id,
       |           row_number() OVER (PARTITION BY q_id
       |                              ORDER BY dist ASC, vec_id ASC) AS rn
       |    FROM amz WHERE fc) WHERE rn <= 5),
       |tz2 AS (
       |  SELECT q_id, vec_id FROM (
       |    SELECT q_id, vec_id,
       |           row_number() OVER (PARTITION BY q_id
       |                              ORDER BY dist ASC, vec_id ASC) AS rn
       |    FROM amz WHERE f2) WHERE rn <= 5),
       |pairsz AS (
       |  SELECT qs.f1, qs.f2, qs.fc
       |  FROM qselx qs JOIN lstx cl ON cl.list = qs.list
       |                            AND cl.vec_id <> qs.vec_id),
       |ngt AS (SELECT count(*) AS n FROM exc),
       |nqz AS (SELECT count(DISTINCT vec_id) AS n FROM qpx)
       |SELECT 'fixed1' AS scheme,
       |       (SELECT count(*) FROM qselx WHERE f1) AS probes,
       |       (SELECT count(*) FROM pairsz WHERE f1) AS pairs,
       |       (SELECT count(*) FROM tz1 JOIN exc USING (q_id, vec_id)) AS hits,
       |       (SELECT n FROM ngt) AS n_gt,
       |       round(CAST((SELECT count(*) FROM tz1 JOIN exc USING (q_id, vec_id))
       |                  AS DOUBLE) / CAST((SELECT n FROM ngt) AS DOUBLE), 6)
       |         AS recall,
       |       CAST(0 AS BIGINT) AS budget, CAST(NULL AS DOUBLE) AS ratio_cap
       |UNION ALL
       |SELECT 'calibrated',
       |       (SELECT count(*) FROM qselx WHERE fc),
       |       (SELECT count(*) FROM pairsz WHERE fc),
       |       (SELECT count(*) FROM tzc JOIN exc USING (q_id, vec_id)),
       |       (SELECT n FROM ngt),
       |       round(CAST((SELECT count(*) FROM tzc JOIN exc USING (q_id, vec_id))
       |                  AS DOUBLE) / CAST((SELECT n FROM ngt) AS DOUBLE), 6),
       |       (SELECT b FROM budx), (SELECT r FROM capx)
       |UNION ALL
       |SELECT 'fixed2',
       |       (SELECT count(*) FROM qselx WHERE f2),
       |       (SELECT count(*) FROM pairsz WHERE f2),
       |       (SELECT count(*) FROM tz2 JOIN exc USING (q_id, vec_id)),
       |       (SELECT n FROM ngt),
       |       round(CAST((SELECT count(*) FROM tz2 JOIN exc USING (q_id, vec_id))
       |                  AS DOUBLE) / CAST((SELECT n FROM ngt) AS DOUBLE), 6),
       |       (SELECT n FROM nqz), CAST(NULL AS DOUBLE)""".stripMargin

  /** q259b's replay — the three-scheme probe audit AT DIM 512: the
    * shared base, per-query exact decimal list distances over the
    * FIXED sample (`% 97 = 0 AND < 2037`), fixed-1/fixed-2/adaptive
    * membership flags (CTE names qselc/pairsrcc/exc so
    * [[adaptiveTopsAndSelect]] applies unchanged), residual LUT
    * distances per selected probe, ADC scoring within lists, and the
    * exact rotated-space L2 top-5 ground truth from `rvax`.
    */
  /** q272's replay — the BIT-BUDGET LADDER at dim 512: the base (8,4)
    * training chain (suffix `x`), the (8,16) chain (suffix `y`, same
    * dsub-64 residual split, ksub 16) and the (16,16) chain (suffix
    * `z`, dsub-32 split), the q271 calibration machinery for the
    * probe set, one shared probes/pairs count, per-tier ADC top-20
    * hits against the exact rotated-space GT, then the priced-cost /
    * recall-floor / cheapest-eligible choice — every column of the
    * chooser replayed down to the order statistic that set the
    * budget.
    */
  private def dim512LadderOracle(
      blocks: Array[Array[Array[Double]]]): String = {
    def adcChain(sfx: String, rq: String): String =
      s"""dq$sfx AS (
         |  SELECT rq.vec_id, rq.list, rq.sub, cb.code,
         |         sum(CAST(round((rq.val - cb.val) * (rq.val - cb.val), 6)
         |                  AS DECIMAL(18,6))) AS d
         |  FROM $rq rq JOIN c2$sfx cb ON cb.sub = rq.sub AND cb.pos = rq.pos
         |  GROUP BY 1, 2, 3, 4),
         |am$sfx AS (
         |  SELECT dq.vec_id AS q_id, a.vec_id,
         |         round(CAST(sum(dq.d) AS DOUBLE), 6) AS dist
         |  FROM a3$sfx a JOIN lstx cl ON cl.vec_id = a.vec_id
         |  JOIN dq$sfx dq ON dq.list = cl.list AND dq.sub = a.sub
         |             AND dq.code = a.code
         |  WHERE a.vec_id <> dq.vec_id
         |  GROUP BY 1, 2),
         |t20$sfx AS (
         |  SELECT q_id, vec_id FROM (
         |    SELECT q_id, vec_id,
         |           row_number() OVER (PARTITION BY q_id
         |                              ORDER BY dist ASC, vec_id ASC) AS rn
         |    FROM am$sfx) WHERE rn <= 20),
         |h$sfx AS (SELECT count(*) AS h
         |          FROM t20$sfx JOIN exc USING (q_id, vec_id))""".stripMargin
    s"""WITH ${dim512BaseCtes(blocks)},
       |${x512TierChain(8, 16, "y")},
       |${x512TierChain(16, 16, "z")},
       |$x512CalibCtes
       |qcal AS (
       |  SELECT q.vec_id, q.list
       |  FROM qpx q LEFT JOIN grxx g ON g.vec_id = q.vec_id
       |                             AND g.list = q.list
       |  WHERE q.pr = 1 OR coalesce(g.grk, 1000000)
       |          <= (SELECT b FROM budx)),
       |rq8 AS MATERIALIZED (
       |  SELECT f.vec_id, qc.list, CAST(f.fpos // 64 AS INTEGER) AS sub,
       |         CAST(f.fpos % 64 AS INTEGER) AS pos, f.val - cc.val AS val
       |  FROM fvx f JOIN qcal qc ON qc.vec_id = f.vec_id
       |  JOIN ccx cc ON cc.list = qc.list AND cc.fpos = f.fpos),
       |rq16 AS MATERIALIZED (
       |  SELECT f.vec_id, qc.list, CAST(f.fpos // 32 AS INTEGER) AS sub,
       |         CAST(f.fpos % 32 AS INTEGER) AS pos, f.val - cc.val AS val
       |  FROM fvx f JOIN qcal qc ON qc.vec_id = f.vec_id
       |  JOIN ccx cc ON cc.list = qc.list AND cc.fpos = f.fpos),
       |${adcChain("x", "rq8")},
       |${adcChain("y", "rq8")},
       |${adcChain("z", "rq16")},
       |prq AS (SELECT count(*) AS n FROM qcal),
       |prs AS (SELECT count(*) AS n
       |        FROM qcal q JOIN lstx cl ON cl.list = q.list
       |                                AND cl.vec_id <> q.vec_id),
       |ncp AS (SELECT count(*) AS n FROM embeddings),
       |ngt AS (SELECT count(*) AS n FROM exc),
       |tm(tier, m, ksub, bits) AS (VALUES
       |  ('b16', 8, 4, 16), ('b32', 8, 16, 32), ('b64', 16, 16, 64)),
       |met AS (
       |  SELECT tier, CAST(m AS INTEGER) AS m, CAST(ksub AS INTEGER) AS ksub,
       |         CAST(bits AS INTEGER) AS bits,
       |         (SELECT n FROM prq) AS probes,
       |         (SELECT n FROM prs) AS pairs,
       |         CAST(bits // 8 AS BIGINT) * (SELECT n FROM ncp)
       |           + CAST(m AS BIGINT) * (SELECT n FROM prs) AS cost,
       |         CASE tier WHEN 'b16' THEN (SELECT h FROM hx)
       |                   WHEN 'b32' THEN (SELECT h FROM hy)
       |                   ELSE (SELECT h FROM hz) END AS hits,
       |         (SELECT n FROM ngt) AS n_gt
       |  FROM tm),
       |met2 AS (
       |  SELECT *, round(CAST(hits AS DOUBLE) / CAST(n_gt AS DOUBLE), 6)
       |              AS recall,
       |         (round(CAST(hits AS DOUBLE) / CAST(n_gt AS DOUBLE), 6)
       |            >= 0.4) AS eligible
       |  FROM met)
       |SELECT tier, m, ksub, bits, probes, pairs, cost, hits, n_gt, recall,
       |       eligible,
       |       (eligible AND cost = (SELECT min(cost) FROM met2
       |                             WHERE eligible)) AS chosen,
       |       CAST(0.4 AS DOUBLE) AS recall_floor
       |FROM met2""".stripMargin
  }

  /** q273's replay — filtered serving over the lakehouse: the chosen
    * tier's training chain, the calibration (budget) CTEs, the
    * filtered SURVIVING corpus (`label = 3`, MOR-deleted `% 5 = 2`
    * keys excluded), the per-plan counts-only chooser inputs (pair
    * mass + min per-query pool), the q270 choice rule (headroom 20,
    * cheapest eligible, first-in-order on ties), then the CHOSEN
    * plan's serve — probed ADC top-20 + fully-exact decimal rerank, or
    * the exact filtered scan when brute wins — with recall against the
    * exact filtered ground truth.
    */
  private def dim512FilteredLakehouseOracle(
      blocks: Array[Array[Array[Double]]],
      tier: (Int, Int) = (8, 4)): String = {
    val dsub = 512 / tier._1
    s"""WITH ${dim512BaseCtes(blocks, tier)},
       |$x512CalibCtes
       |qselx AS MATERIALIZED (
       |  SELECT q.vec_id, q.list, (q.pr = 1) AS f1, (q.pr <= 2) AS f2,
       |         (q.pr = 1 OR coalesce(g.grk, 1000000)
       |            <= (SELECT b FROM budx)) AS fc
       |  FROM qpx q LEFT JOIN grxx g ON g.vec_id = q.vec_id
       |                             AND g.list = q.list),
       |flv AS MATERIALIZED (
       |  SELECT l.vec_id, l.list
       |  FROM lstx l JOIN embeddings e ON e.vec_id = l.vec_id
       |  WHERE e.label = 3 AND l.vec_id % 5 <> 2),
       |nfv AS (SELECT count(*) AS n FROM flv),
       |nqv AS (SELECT count(DISTINCT vec_id) AS n FROM qpx),
       |sfq AS (SELECT count(*) AS n FROM (SELECT DISTINCT vec_id FROM qpx) q
       |        JOIN flv f ON f.vec_id = q.vec_id),
       |pq1 AS (SELECT qs.vec_id AS q_id, count(c.vec_id) AS n
       |        FROM qselx qs LEFT JOIN flv c ON c.list = qs.list
       |                                     AND c.vec_id <> qs.vec_id
       |        WHERE qs.f1 GROUP BY 1),
       |pqc AS (SELECT qs.vec_id AS q_id, count(c.vec_id) AS n
       |        FROM qselx qs LEFT JOIN flv c ON c.list = qs.list
       |                                     AND c.vec_id <> qs.vec_id
       |        WHERE qs.fc GROUP BY 1),
       |pq2 AS (SELECT qs.vec_id AS q_id, count(c.vec_id) AS n
       |        FROM qselx qs LEFT JOIN flv c ON c.list = qs.list
       |                                     AND c.vec_id <> qs.vec_id
       |        WHERE qs.f2 GROUP BY 1),
       |pl(ord, plan, pairs, minc) AS (
       |  SELECT 1, 'fixed1', (SELECT sum(n) FROM pq1), (SELECT min(n) FROM pq1)
       |  UNION ALL
       |  SELECT 2, 'calibrated', (SELECT sum(n) FROM pqc),
       |         (SELECT min(n) FROM pqc)
       |  UNION ALL
       |  SELECT 3, 'fixed2', (SELECT sum(n) FROM pq2), (SELECT min(n) FROM pq2)
       |  UNION ALL
       |  SELECT 4, 'brute',
       |         (SELECT n FROM nqv) * (SELECT n FROM nfv) - (SELECT n FROM sfq),
       |         (SELECT n FROM nfv)
       |           - CASE WHEN (SELECT n FROM sfq) > 0 THEN 1 ELSE 0 END),
       |el AS (SELECT ord, plan, CAST(pairs AS BIGINT) AS pairs,
       |              CAST(minc AS BIGINT) AS minc, (minc >= 20) AS elig
       |       FROM pl),
       |ch AS MATERIALIZED (
       |  SELECT plan, pairs, minc FROM el
       |  WHERE elig AND pairs = (SELECT min(pairs) FROM el WHERE elig)
       |  ORDER BY ord LIMIT 1),
       |rqf AS MATERIALIZED (
       |  SELECT f.vec_id, qs.list, CAST(f.fpos // $dsub AS INTEGER) AS sub,
       |         CAST(f.fpos % $dsub AS INTEGER) AS pos, f.val - cc.val AS val
       |  FROM fvx f JOIN qselx qs ON qs.vec_id = f.vec_id
       |    AND ((SELECT plan FROM ch) = 'fixed1' AND qs.f1
       |      OR (SELECT plan FROM ch) = 'calibrated' AND qs.fc
       |      OR (SELECT plan FROM ch) = 'fixed2' AND qs.f2)
       |  JOIN ccx cc ON cc.list = qs.list AND cc.fpos = f.fpos),
       |dqf AS (
       |  SELECT rq.vec_id, rq.list, rq.sub, cb.code,
       |         sum(CAST(round((rq.val - cb.val) * (rq.val - cb.val), 6)
       |                  AS DECIMAL(18,6))) AS d
       |  FROM rqf rq JOIN c2x cb ON cb.sub = rq.sub AND cb.pos = rq.pos
       |  GROUP BY 1, 2, 3, 4),
       |amf AS (
       |  SELECT dq.vec_id AS q_id, a.vec_id,
       |         round(CAST(sum(dq.d) AS DOUBLE), 6) AS dist
       |  FROM a3x a JOIN flv cl ON cl.vec_id = a.vec_id
       |  JOIN dqf dq ON dq.list = cl.list AND dq.sub = a.sub
       |             AND dq.code = a.code
       |  WHERE a.vec_id <> dq.vec_id
       |  GROUP BY 1, 2),
       |candf AS (
       |  SELECT q_id, vec_id FROM (
       |    SELECT q_id, vec_id,
       |           row_number() OVER (PARTITION BY q_id
       |                              ORDER BY dist ASC, vec_id ASC) AS rn
       |    FROM amf) WHERE rn <= 20),
       |rrf AS (
       |  SELECT c.q_id, c.vec_id,
       |         CAST(sum(CAST(
       |           (CAST(q.val AS DECIMAL(12,6)) - CAST(x.val AS DECIMAL(12,6)))
       |           * (CAST(q.val AS DECIMAL(12,6)) - CAST(x.val AS DECIMAL(12,6)))
       |           AS DECIMAL(38,12))) AS DOUBLE) AS l2
       |  FROM candf c
       |  JOIN fvx q ON q.vec_id = c.q_id
       |  JOIN fvx x ON x.vec_id = c.vec_id AND x.fpos = q.fpos
       |  GROUP BY 1, 2),
       |tadc AS MATERIALIZED (
       |  SELECT q_id, vec_id, l2 FROM (
       |    SELECT *, row_number() OVER (PARTITION BY q_id
       |                                 ORDER BY l2 ASC, vec_id ASC) AS rn
       |    FROM rrf) WHERE rn <= 5),
       |rbr AS (
       |  SELECT qp.vec_id AS q_id, c.vec_id,
       |         CAST(sum(CAST(
       |           (CAST(q.val AS DECIMAL(12,6)) - CAST(x.val AS DECIMAL(12,6)))
       |           * (CAST(q.val AS DECIMAL(12,6)) - CAST(x.val AS DECIMAL(12,6)))
       |           AS DECIMAL(38,12))) AS DOUBLE) AS l2
       |  FROM (SELECT DISTINCT vec_id FROM qpx) qp
       |  JOIN flv c ON c.vec_id <> qp.vec_id
       |  JOIN fvx q ON q.vec_id = qp.vec_id
       |  JOIN fvx x ON x.vec_id = c.vec_id AND x.fpos = q.fpos
       |  GROUP BY 1, 2),
       |tbr AS MATERIALIZED (
       |  SELECT q_id, vec_id, l2 FROM (
       |    SELECT *, row_number() OVER (PARTITION BY q_id
       |                                 ORDER BY l2 ASC, vec_id ASC) AS rn
       |    FROM rbr) WHERE rn <= 5),
       |serve AS MATERIALIZED (
       |  SELECT q_id, vec_id, l2 FROM tadc
       |  WHERE (SELECT plan FROM ch) <> 'brute'
       |  UNION ALL
       |  SELECT q_id, vec_id, l2 FROM tbr
       |  WHERE (SELECT plan FROM ch) = 'brute'),
       |rec AS (
       |  SELECT round(CAST((SELECT count(*) FROM serve s
       |                     JOIN tbr g USING (q_id, vec_id)) AS DOUBLE)
       |               / CAST((SELECT count(*) FROM tbr) AS DOUBLE), 6) AS r)
       |SELECT s.q_id, s.vec_id, s.l2,
       |       (SELECT plan FROM ch) AS plan,
       |       (SELECT pairs FROM ch) AS pairs,
       |       (SELECT minc FROM ch) AS min_cands,
       |       (SELECT b FROM budx) AS budget,
       |       (SELECT CAST(n AS BIGINT) FROM nfv) AS n_f,
       |       (SELECT r FROM rec) AS recall
       |FROM serve s""".stripMargin
  }

  private def dim512AuditOracle(
      blocks: Array[Array[Array[Double]]]): String =
    s"""WITH ${dim512BaseCtes(blocks)},
       |qdx AS (
       |  SELECT f.vec_id, cc.list,
       |         sum(CAST(round((f.val - cc.val) * (f.val - cc.val), 6)
       |                  AS DECIMAL(18,6))) AS d
       |  FROM fvx f JOIN ccx cc ON cc.fpos = f.fpos
       |  WHERE f.vec_id % 97 = 0 AND f.vec_id < 2037
       |  GROUP BY 1, 2),
       |qpx AS (
       |  SELECT vec_id, list, d,
       |         row_number() OVER (PARTITION BY vec_id
       |                            ORDER BY d ASC, list ASC) AS pr
       |  FROM qdx),
       |qselc AS (
       |  SELECT q.vec_id, q.list, (q.pr = 1) AS f1, (q.pr <= 2) AS f2,
       |         (q.pr = 1 OR (q.pr <= 4
       |            AND CAST(q.d AS DOUBLE) * 1.0
       |                <= CAST(b.d1 AS DOUBLE) * 2.0)) AS fa
       |  FROM qpx q JOIN (SELECT vec_id, d AS d1 FROM qpx WHERE pr = 1) b
       |    ON b.vec_id = q.vec_id),
       |qrvc AS MATERIALIZED (
       |  SELECT f.vec_id, qs.list, qs.f1, qs.f2, qs.fa, f.fpos,
       |         f.val - cc.val AS val
       |  FROM fvx f JOIN qselc qs ON qs.vec_id = f.vec_id
       |                          AND (qs.f2 OR qs.fa)
       |  JOIN ccx cc ON cc.list = qs.list AND cc.fpos = f.fpos),
       |pairsrcc AS (
       |  SELECT qs.f1, qs.f2, qs.fa
       |  FROM qselc qs JOIN lstx cl ON cl.list = qs.list
       |                            AND cl.vec_id <> qs.vec_id),
       |exc AS (
       |  SELECT q_id, vec_id FROM (
       |    SELECT q.vec_id AS q_id, c.vec_id,
       |           row_number() OVER (PARTITION BY q.vec_id ORDER BY
       |             round(list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
       |               list_transform(generate_series(1, 512), i ->
       |                 (q.vec[i] - c.vec[i]) * (q.vec[i] - c.vec[i]))),
       |               (x, y) -> x + y), 6) ASC, c.vec_id ASC) AS rn
       |    FROM rvax q JOIN rvax c ON c.vec_id <> q.vec_id
       |    WHERE q.vec_id % 97 = 0 AND q.vec_id < 2037)
       |  WHERE rn <= 5),
       |dqc AS (
       |  SELECT q.vec_id, q.list, q.f1, q.f2, q.fa,
       |         CAST(q.fpos // 64 AS INTEGER) AS sub, cb.code,
       |         sum(CAST(round((q.val - cb.val) * (q.val - cb.val), 6)
       |                  AS DECIMAL(18,6))) AS d
       |  FROM qrvc q JOIN c2x cb ON cb.sub = CAST(q.fpos // 64 AS INTEGER)
       |                         AND cb.pos = CAST(q.fpos % 64 AS INTEGER)
       |  GROUP BY 1, 2, 3, 4, 5, 6, 7),
       |amc AS (
       |  SELECT dq.vec_id AS q_id, a.vec_id, dq.f1, dq.f2, dq.fa,
       |         round(CAST(sum(dq.d) AS DOUBLE), 6) AS dist
       |  FROM a3x a JOIN lstx cl ON cl.vec_id = a.vec_id
       |  JOIN dqc dq ON dq.list = cl.list AND dq.sub = a.sub
       |             AND dq.code = a.code
       |  WHERE a.vec_id <> dq.vec_id
       |  GROUP BY 1, 2, 3, 4, 5),
       |${adaptiveTopsAndSelect("amc", "dist")}""".stripMargin

  /** q225's replay: balanced chain (`bv`, salt pqb) AND the learned-
    * rotation chain (`ov`, salt pqo) at the same bit budget, with
    * exact-decimal error totals per scheme.
    */
  private def opqRotationOracle(r: Array[Array[Double]]): String = {
    s"""WITH $pqSubsPs,
       |$pqFxCte,
       |$pqBalancedCtes,
       |${pqTrainCtes("bv", "pqb", "b")},
       |${opqRotCtes(r)},
       |${pqTrainCtes("ov", "pqo", "o")},
       |qeb AS (
       |  SELECT vec_id, round(CAST(sum(md) AS DOUBLE), 6) AS err FROM (
       |    SELECT vec_id, sub, min(d) AS md FROM d3b GROUP BY 1, 2)
       |  GROUP BY 1),
       |qeo AS (
       |  SELECT vec_id, round(CAST(sum(md) AS DOUBLE), 6) AS err FROM (
       |    SELECT vec_id, sub, min(d) AS md FROM d3o GROUP BY 1, 2)
       |  GROUP BY 1)
       |SELECT 'balanced' AS scheme, CAST(count(*) AS BIGINT) AS n,
       |       CAST(sum(CAST(err AS DECIMAL(18,6))) AS DOUBLE) AS total_err
       |FROM qeb
       |UNION ALL
       |SELECT 'rotated', CAST(count(*) AS BIGINT),
       |       CAST(sum(CAST(err AS DECIMAL(18,6))) AS DOUBLE)
       |FROM qeo""".stripMargin
  }

  /** The rotated residual-quantizer base (q226/q227): rotated full
    * components (`fvr` from `ov`), the coarse router on ROTATED
    * vectors (`lstr` — same argmax-of-dims-0/16/32/48 rule as `lst`),
    * per-list mean centroids (`ccr`), rotated residual sub-vectors
    * (`rvr`). Prepend [[pqFxCte]] + [[opqRotCtes]].
    */
  private val pqRotResidCtes =
    """fvr AS MATERIALIZED (
      |  SELECT vec_id, sub * 8 + pos AS fpos, val FROM ov),
      |lstr AS MATERIALIZED (
      |  SELECT vec_id, list FROM (
      |    SELECT f.vec_id, j.j AS list,
      |           row_number() OVER (PARTITION BY f.vec_id
      |                              ORDER BY f.val DESC, j.j ASC) AS rn
      |    FROM fvr f
      |    JOIN (SELECT CAST(unnest(generate_series(0, 3)) AS INTEGER) AS j) j
      |      ON f.fpos = j.j * 16)
      |  WHERE rn = 1),
      |ccr AS MATERIALIZED (
      |  SELECT l.list, f.fpos,
      |         round(CAST(sum(CAST(round(f.val, 6) AS DECIMAL(18,6))) AS DOUBLE)
      |               / count(*), 6) AS val
      |  FROM fvr f JOIN lstr l ON l.vec_id = f.vec_id
      |  GROUP BY 1, 2),
      |rvr AS MATERIALIZED (
      |  SELECT f.vec_id, CAST(f.fpos // 8 AS INTEGER) AS sub,
      |         CAST(f.fpos % 8 AS INTEGER) AS pos, f.val - cc.val AS val
      |  FROM fvr f JOIN lstr l ON l.vec_id = f.vec_id
      |  JOIN ccr cc ON cc.list = l.list AND cc.fpos = f.fpos)""".stripMargin

  /** q226's replay — the FULL OPQ-IVFADC stack from R's shared
    * literals: the rotated residual base, the residual training chain
    * at salt `pqro`, then q222's probe block (multi-probe nProbe=2,
    * ADC top-20, exact rerank) entirely in rotated space.
    */
  private def opqIvfadcOracle(r: Array[Array[Double]]): String =
    s"""WITH $pqSubsPs,
       |$pqFxCte,
       |${opqRotCtes(r)},
       |$pqRotResidCtes,
       |${pqTrainCtes("rvr", "pqro", "ro")},
       |qd AS (
       |  SELECT f.vec_id, cc.list,
       |         sum(CAST(round((f.val - cc.val) * (f.val - cc.val), 6)
       |                  AS DECIMAL(18,6))) AS d
       |  FROM fvr f JOIN ccr cc ON cc.fpos = f.fpos
       |  WHERE f.vec_id % 97 = 0
       |  GROUP BY 1, 2),
       |qp AS (
       |  SELECT vec_id, list,
       |         row_number() OVER (PARTITION BY vec_id
       |                            ORDER BY d ASC, list ASC) AS pr
       |  FROM qd),
       |rq AS (
       |  SELECT f.vec_id, qp.list, CAST(f.fpos // 8 AS INTEGER) AS sub,
       |         CAST(f.fpos % 8 AS INTEGER) AS pos, f.val - cc.val AS val
       |  FROM fvr f JOIN qp ON qp.vec_id = f.vec_id AND qp.pr <= 2
       |  JOIN ccr cc ON cc.list = qp.list AND cc.fpos = f.fpos),
       |dq AS (
       |  SELECT rq.vec_id, rq.list, rq.sub, cb.code,
       |         sum(CAST(round((rq.val - cb.val) * (rq.val - cb.val), 6)
       |                  AS DECIMAL(18,6))) AS d
       |  FROM rq JOIN c2ro cb ON cb.sub = rq.sub AND cb.pos = rq.pos
       |  GROUP BY 1, 2, 3, 4),
       |am AS (
       |  SELECT dq.vec_id AS q_id, a.vec_id,
       |         round(CAST(sum(dq.d) AS DOUBLE), 6) AS dist
       |  FROM a3ro a JOIN lstr cl ON cl.vec_id = a.vec_id
       |  JOIN dq ON dq.list = cl.list AND dq.sub = a.sub AND dq.code = a.code
       |  WHERE a.vec_id <> dq.vec_id
       |  GROUP BY 1, 2),
       |cand AS (
       |  SELECT q_id, vec_id FROM (
       |    SELECT *, row_number() OVER (PARTITION BY q_id
       |                                 ORDER BY dist ASC, vec_id ASC) AS rn
       |    FROM am)
       |  WHERE rn <= 20),
       |rva AS MATERIALIZED (
       |  SELECT vec_id, list(val ORDER BY fpos) AS vec FROM fvr GROUP BY 1),
       |rr AS (
       |  SELECT c.q_id, c.vec_id,
       |         round(list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
       |           list_transform(generate_series(1, 64), i ->
       |             (q.vec[i] - x.vec[i]) * (q.vec[i] - x.vec[i]))),
       |           (u, w) -> u + w), 6) AS l2
       |  FROM cand c
       |  JOIN rva q ON q.vec_id = c.q_id
       |  JOIN rva x ON x.vec_id = c.vec_id)
       |SELECT q_id, vec_id, l2 FROM (
       |  SELECT *, row_number() OVER (PARTITION BY q_id
       |                               ORDER BY l2 ASC, vec_id ASC) AS rn
       |  FROM rr)
       |WHERE rn <= 5""".stripMargin

  /** q227's replay: BOTH compressed chains — raw residual (lst/fv/cc/
    * rv, salt pqr) and rotated residual (fvr/lstr/ccr/rvr, salt pqro)
    * — probed at nProbe=2 / top-5, hit-counted against ONE exact
    * raw-space ground truth. Any delta is the rotation's.
    */
  private def opqRecallOracle(r: Array[Array[Double]]): String =
    s"""WITH $pqSubsPs,
       |$pqResidBase,
       |${pqTrainCtes("rv", "pqr", "r")},
       |$pqFxCte,
       |${opqRotCtes(r)},
       |$pqRotResidCtes,
       |${pqTrainCtes("rvr", "pqro", "ro")},
       |qd AS (
       |  SELECT f.vec_id, cc.list,
       |         sum(CAST(round((f.val - cc.val) * (f.val - cc.val), 6)
       |                  AS DECIMAL(18,6))) AS d
       |  FROM fv f JOIN cc ON cc.fpos = f.fpos
       |  WHERE f.vec_id % 97 = 0
       |  GROUP BY 1, 2),
       |qp AS (
       |  SELECT vec_id, list,
       |         row_number() OVER (PARTITION BY vec_id
       |                            ORDER BY d ASC, list ASC) AS pr
       |  FROM qd),
       |rq AS (
       |  SELECT f.vec_id, qp.list, CAST(f.fpos // 8 AS INTEGER) AS sub,
       |         CAST(f.fpos % 8 AS INTEGER) AS pos, f.val - cc.val AS val
       |  FROM fv f JOIN qp ON qp.vec_id = f.vec_id AND qp.pr <= 2
       |  JOIN cc ON cc.list = qp.list AND cc.fpos = f.fpos),
       |dq AS (
       |  SELECT rq.vec_id, rq.list, rq.sub, cb.code,
       |         sum(CAST(round((rq.val - cb.val) * (rq.val - cb.val), 6)
       |                  AS DECIMAL(18,6))) AS d
       |  FROM rq JOIN c2r cb ON cb.sub = rq.sub AND cb.pos = rq.pos
       |  GROUP BY 1, 2, 3, 4),
       |am AS (
       |  SELECT dq.vec_id AS q_id, a.vec_id,
       |         round(CAST(sum(dq.d) AS DOUBLE), 6) AS dist
       |  FROM a3r a JOIN lst cl ON cl.vec_id = a.vec_id
       |  JOIN dq ON dq.list = cl.list AND dq.sub = a.sub AND dq.code = a.code
       |  WHERE a.vec_id <> dq.vec_id
       |  GROUP BY 1, 2),
       |pa AS (
       |  SELECT q_id, vec_id FROM (
       |    SELECT *, row_number() OVER (PARTITION BY q_id
       |                                 ORDER BY dist ASC, vec_id ASC) AS rn
       |    FROM am)
       |  WHERE rn <= 5),
       |qdr AS (
       |  SELECT f.vec_id, cc.list,
       |         sum(CAST(round((f.val - cc.val) * (f.val - cc.val), 6)
       |                  AS DECIMAL(18,6))) AS d
       |  FROM fvr f JOIN ccr cc ON cc.fpos = f.fpos
       |  WHERE f.vec_id % 97 = 0
       |  GROUP BY 1, 2),
       |qpr AS (
       |  SELECT vec_id, list,
       |         row_number() OVER (PARTITION BY vec_id
       |                            ORDER BY d ASC, list ASC) AS pr
       |  FROM qdr),
       |rqr AS (
       |  SELECT f.vec_id, qp.list, CAST(f.fpos // 8 AS INTEGER) AS sub,
       |         CAST(f.fpos % 8 AS INTEGER) AS pos, f.val - cc.val AS val
       |  FROM fvr f JOIN qpr qp ON qp.vec_id = f.vec_id AND qp.pr <= 2
       |  JOIN ccr cc ON cc.list = qp.list AND cc.fpos = f.fpos),
       |dqr AS (
       |  SELECT rq.vec_id, rq.list, rq.sub, cb.code,
       |         sum(CAST(round((rq.val - cb.val) * (rq.val - cb.val), 6)
       |                  AS DECIMAL(18,6))) AS d
       |  FROM rqr rq JOIN c2ro cb ON cb.sub = rq.sub AND cb.pos = rq.pos
       |  GROUP BY 1, 2, 3, 4),
       |amr AS (
       |  SELECT dq.vec_id AS q_id, a.vec_id,
       |         round(CAST(sum(dq.d) AS DOUBLE), 6) AS dist
       |  FROM a3ro a JOIN lstr cl ON cl.vec_id = a.vec_id
       |  JOIN dqr dq ON dq.list = cl.list AND dq.sub = a.sub AND dq.code = a.code
       |  WHERE a.vec_id <> dq.vec_id
       |  GROUP BY 1, 2),
       |pb AS (
       |  SELECT q_id, vec_id FROM (
       |    SELECT *, row_number() OVER (PARTITION BY q_id
       |                                 ORDER BY dist ASC, vec_id ASC) AS rn
       |    FROM amr)
       |  WHERE rn <= 5),
       |ex AS (
       |  SELECT q_id, vec_id FROM (
       |    SELECT q.vec_id AS q_id, c.vec_id,
       |           row_number() OVER (PARTITION BY q.vec_id ORDER BY
       |             round(list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
       |               list_transform(generate_series(1, 64), i ->
       |                 (CAST(q.embedding[i] AS DOUBLE) - CAST(c.embedding[i] AS DOUBLE))
       |                 * (CAST(q.embedding[i] AS DOUBLE) - CAST(c.embedding[i] AS DOUBLE)))),
       |               (x, y) -> x + y), 6) ASC, c.vec_id ASC) AS rn
       |    FROM embeddings q JOIN embeddings c ON c.vec_id <> q.vec_id
       |    WHERE q.vec_id % 97 = 0)
       |  WHERE rn <= 5),
       |h1 AS (
       |  SELECT p.q_id, CAST(count(e.vec_id) AS BIGINT) AS raw_hits
       |  FROM pa p LEFT JOIN ex e ON e.q_id = p.q_id AND e.vec_id = p.vec_id
       |  GROUP BY 1),
       |h2 AS (
       |  SELECT p.q_id, CAST(count(e.vec_id) AS BIGINT) AS opq_hits
       |  FROM pb p LEFT JOIN ex e ON e.q_id = p.q_id AND e.vec_id = p.vec_id
       |  GROUP BY 1)
       |SELECT h1.q_id, h1.raw_hits, h2.opq_hits
       |FROM h1 JOIN h2 ON h2.q_id = h1.q_id""".stripMargin

  /** The residual (IVFADC) base: the frozen 4-way router (`lst`), full
    * vector components (`fv`), per-list mean coarse centroids (`cc`,
    * 6-dp — `ProductQuantizer.coarseCentroids`), and the residual
    * sub-vector table `rv` with val = raw − centroid (exact IEEE
    * subtraction — `ProductQuantizer.residuals`).
    */
  private val pqResidBase =
    """lst AS MATERIALIZED (
      |  SELECT vec_id, list FROM (
      |    SELECT e.vec_id, j.j AS list,
      |           row_number() OVER (PARTITION BY e.vec_id
      |                              ORDER BY CAST(e.embedding[j.j * 16 + 1] AS DOUBLE) DESC,
      |                                       j.j ASC) AS rn
      |    FROM embeddings e,
      |         (SELECT CAST(unnest(generate_series(0, 3)) AS INTEGER) AS j) j)
      |  WHERE rn = 1),
      |fv AS MATERIALIZED (
      |  SELECT e.vec_id, p.p AS fpos, CAST(e.embedding[p.p + 1] AS DOUBLE) AS val
      |  FROM embeddings e,
      |       (SELECT CAST(unnest(generate_series(0, 63)) AS INTEGER) AS p) p),
      |cc AS MATERIALIZED (
      |  SELECT l.list, f.fpos,
      |         round(CAST(sum(CAST(round(f.val, 6) AS DECIMAL(18,6))) AS DOUBLE)
      |               / count(*), 6) AS val
      |  FROM fv f JOIN lst l ON l.vec_id = f.vec_id
      |  GROUP BY 1, 2),
      |rv AS MATERIALIZED (
      |  SELECT f.vec_id, CAST(f.fpos // 8 AS INTEGER) AS sub,
      |         CAST(f.fpos % 8 AS INTEGER) AS pos, f.val - cc.val AS val
      |  FROM fv f JOIN lst l ON l.vec_id = f.vec_id
      |  JOIN cc ON cc.list = l.list AND cc.fpos = f.fpos)""".stripMargin

  /** q217/q219/q220 shared replay: residual chain only (suffixed `r`:
    * c2r/a3r/d3r over `rv`, salt `pqr`), plus `lst`/`fv`/`cc`.
    */
  private def pqResidualOracle(finalSelect: String): String =
    s"""WITH $pqSubsPs,
       |$pqResidBase,
       |${pqTrainCtes("rv", "pqr", "r")}
       |$finalSelect""".stripMargin

  /** q218's replay: BOTH chains — raw (unsuffixed, over `sv`) and
    * residual (`r`-suffixed, over `rv`) — at the same bit budget.
    */
  private def pqBothOracle(finalSelect: String): String =
    s"""WITH $pqSubsPs,
       |$pqSv,
       |${pqTrainCtes("sv", "pq", "")},
       |$pqResidBase,
       |${pqTrainCtes("rv", "pqr", "r")}
       |$finalSelect""".stripMargin

  /** One synchronous label-propagation round as oracle CTEs (see
    * `Graph.labelPropagation`): neighbor votes plus the vertex's own
    * label, argmax by (count DESC, label ASC).
    */
  private def lpIter(i: Int): String = {
    val j = i - 1
    s"""t$i AS MATERIALIZED (
       |  SELECT n.v, l.label FROM nbr n JOIN l$j l ON l.v = n.u
       |  UNION ALL SELECT v, label FROM l$j),
       |c$i AS MATERIALIZED (SELECT v, label, count(*) AS n FROM t$i GROUP BY 1, 2),
       |l$i AS MATERIALIZED (
       |  SELECT v, label FROM (
       |    SELECT v, label,
       |           row_number() OVER (PARTITION BY v ORDER BY n DESC, label ASC) AS rn
       |    FROM c$i)
       |  WHERE rn = 1)""".stripMargin
  }

  /** One k-core peel round as oracle CTEs (see `Graph.kCore`): degrees
    * of the surviving edge set, keep-set at degree >= 6, edges filtered
    * to kept endpoints.
    */
  private def kcoreIter(i: Int): String = {
    val j = i - 1
    // AS MATERIALIZED: each round references its predecessor three
    // times; inlined CTEs would re-evaluate 3^rounds source scans
    s"""d$i AS MATERIALIZED (
       |  SELECT v, count(*) AS d FROM (
       |    SELECT a AS v FROM e$j UNION ALL SELECT b FROM e$j) GROUP BY 1),
       |k$i AS MATERIALIZED (SELECT v FROM d$i WHERE d >= 6),
       |e$i AS MATERIALIZED (
       |  SELECT e.a, e.b FROM e$j e
       |  JOIN k$i ka ON ka.v = e.a JOIN k$i kb ON kb.v = e.b)""".stripMargin
  }

  /** One power-iteration step as oracle CTEs (see `Spectral
    * .powerIteration`): fixed-order dot fold rounded 6 dp, per-dim
    * decimal sums of 6-dp contributions, exact-decimal norm, one
    * division per dim.
    */
  private def powIter(k: Int): String = {
    val j = k - 1
    s"""vl$j AS (SELECT list(v ORDER BY j) AS vl FROM vt$j),
       |d$k AS (
       |  SELECT vec_id,
       |         round(list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
       |           list_transform(generate_series(1, 64),
       |             i -> embedding[i]::DOUBLE * vl[i])), (a, b) -> a + b), 6) AS d
       |  FROM embeddings, vl$j),
       |w$k AS (
       |  SELECT CAST(u.i AS BIGINT) AS j,
       |         CAST(sum(CAST(round(e.embedding[u.i]::DOUBLE * d$k.d, 6) AS DECIMAL(18,6))) AS DECIMAL(38,6)) AS ws
       |  FROM embeddings e JOIN d$k ON d$k.vec_id = e.vec_id,
       |       unnest(generate_series(1, 64)) AS u(i)
       |  GROUP BY 1),
       |n$k AS (SELECT sqrt(CAST(sum(CAST(ws AS DECIMAL(18,6)) * CAST(ws AS DECIMAL(18,6))) AS DOUBLE)) AS nrm FROM w$k),
       |vt$k AS (SELECT w$k.j, round(CAST(ws AS DOUBLE) / n$k.nrm, 6) AS v FROM w$k, n$k)""".stripMargin
  }

  /** One BPE iteration as oracle CTEs (see `Bpe.trainMerges`): pair
    * counts over the previous symbol table, the (n DESC, l, r) argmax,
    * greedy left-to-right fusion replayed via islands — consecutive
    * match positions keep odd ranks (a merge at i consumes i+1, so the
    * next legal match in an identical-symbol run is i+2).
    */
  private def bpeIter(k: Int): String = {
    val j = k - 1
    s"""p$k AS (
       |  SELECT s$j.syms[t.i] AS l, s$j.syms[t.i+1] AS r, CAST(sum(c) AS BIGINT) AS n
       |  FROM s$j, unnest(generate_series(1, len(s$j.syms) - 1)) AS t(i)
       |  GROUP BY 1, 2),
       |b$k AS (SELECT l, r, n FROM p$k ORDER BY n DESC, l ASC, r ASC LIMIT 1),
       |m$k AS (
       |  SELECT s$j.w, t.i,
       |         t.i - row_number() OVER (PARTITION BY s$j.w ORDER BY t.i) AS g
       |  FROM s$j CROSS JOIN b$k, unnest(generate_series(1, len(s$j.syms) - 1)) AS t(i)
       |  WHERE s$j.syms[t.i] = b$k.l AND s$j.syms[t.i+1] = b$k.r),
       |k$k AS (
       |  SELECT w, i FROM (
       |    SELECT w, i, row_number() OVER (PARTITION BY w, g ORDER BY i) AS rn
       |    FROM m$k)
       |  WHERE rn % 2 = 1),
       |x$k AS (
       |  SELECT s$j.w, s$j.c, t.i, s$j.syms[t.i] AS sym
       |  FROM s$j, unnest(generate_series(1, len(s$j.syms))) AS t(i)),
       |s$k AS (
       |  SELECT x.w, x.c,
       |         list(CASE WHEN ka.i IS NOT NULL THEN b$k.l || b$k.r ELSE x.sym END
       |              ORDER BY x.i) FILTER (WHERE kb.i IS NULL) AS syms
       |  FROM x$k x CROSS JOIN b$k
       |  LEFT JOIN k$k ka ON ka.w = x.w AND ka.i = x.i
       |  LEFT JOIN k$k kb ON kb.w = x.w AND kb.i = x.i - 1
       |  GROUP BY 1, 2)""".stripMargin
  }

  private val bpeCtes: String =
    s"""WITH words AS (
       |  SELECT w, count(*) AS c FROM (
       |    SELECT unnest(string_split(text, ' ')) AS w FROM documents)
       |  WHERE w <> '' GROUP BY 1),
       |s0 AS (
       |  SELECT w, c,
       |         list_append(list_filter(string_split(w, ''), x -> x <> ''), '</w>') AS syms
       |  FROM words),
       |${bpeIter(1)},
       |${bpeIter(2)},
       |${bpeIter(3)}""".stripMargin

  private val bpeOracle: String =
    s"""$bpeCtes
       |SELECT CAST(1 AS INTEGER) AS iter, l AS lhs, r AS rhs, n AS pair_count, l || r AS token FROM b1
       |UNION ALL SELECT 2, l, r, n, l || r FROM b2
       |UNION ALL SELECT 3, l, r, n, l || r FROM b3""".stripMargin

  private val bpeTokenizeOracle: String =
    s"""$bpeCtes
       |SELECT token, CAST(sum(c) AS BIGINT) AS n
       |FROM (SELECT unnest(syms) AS token, c FROM s3)
       |GROUP BY 1""".stripMargin

  private val mergeOracle: String = {
    val deltaStamp = "TIMESTAMP '2024-02-01 00:00:00'"
    s"""WITH dest AS (
       |  SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, o_orderdate, o_orderpriority,
       |         TIMESTAMP '2024-01-01 00:00:00' AS record_loaded_at
       |  FROM orders
       |), delta AS (
       |  SELECT o_orderkey, o_custkey, 'U' AS o_orderstatus, o_totalprice + 1000.0 AS o_totalprice,
       |         o_orderdate, o_orderpriority, $deltaStamp AS record_loaded_at
       |  FROM orders WHERE o_orderkey % 10 = 3
       |  UNION ALL
       |  SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, o_orderdate, o_orderpriority, $deltaStamp
       |  FROM orders WHERE o_orderkey % 10 = 7
       |  UNION ALL
       |  SELECT o_orderkey + 1000000000, o_custkey, 'N', o_totalprice, o_orderdate, o_orderpriority, $deltaStamp
       |  FROM orders WHERE o_orderkey % 10 = 5
       |), joined AS (
       |  SELECT d.o_orderkey AS d_k, d.o_custkey AS d_c, d.o_orderstatus AS d_s, d.o_totalprice AS d_p,
       |         d.o_orderdate AS d_d, d.o_orderpriority AS d_pr, d.record_loaded_at AS d_t,
       |         s.o_orderkey AS s_k, s.o_custkey AS s_c, s.o_orderstatus AS s_s, s.o_totalprice AS s_p,
       |         s.o_orderdate AS s_d, s.o_orderpriority AS s_pr, s.record_loaded_at AS s_t,
       |         (s.o_orderkey IS NOT NULL AND (
       |            d.o_custkey IS DISTINCT FROM s.o_custkey OR
       |            d.o_orderstatus IS DISTINCT FROM s.o_orderstatus OR
       |            d.o_totalprice IS DISTINCT FROM s.o_totalprice OR
       |            d.o_orderdate IS DISTINCT FROM s.o_orderdate OR
       |            d.o_orderpriority IS DISTINCT FROM s.o_orderpriority)) AS take_s
       |  FROM dest d LEFT JOIN delta s ON d.o_orderkey = s.o_orderkey
       |)
       |SELECT CASE WHEN take_s THEN s_k ELSE d_k END AS o_orderkey,
       |       CASE WHEN take_s THEN s_c ELSE d_c END AS o_custkey,
       |       CASE WHEN take_s THEN s_s ELSE d_s END AS o_orderstatus,
       |       CASE WHEN take_s THEN s_p ELSE d_p END AS o_totalprice,
       |       CASE WHEN take_s THEN s_d ELSE d_d END AS o_orderdate,
       |       CASE WHEN take_s THEN s_pr ELSE d_pr END AS o_orderpriority,
       |       CASE WHEN take_s THEN s_t ELSE d_t END AS record_loaded_at
       |FROM joined
       |UNION ALL
       |SELECT s.* FROM delta s WHERE NOT EXISTS (SELECT 1 FROM dest d WHERE d.o_orderkey = s.o_orderkey)
       |""".stripMargin
  }

  /** q27: the merge oracle extended with the drift-added `o_channel` column
    * (dest reads NULL, delta carries 'web'; NULL vs 'web' trips the
    * null-safe change predicate, so every matched delta row updates).
    */
  private val driftMergeOracle: String = {
    val deltaStamp = "TIMESTAMP '2024-02-01 00:00:00'"
    s"""WITH dest AS (
       |  SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, o_orderdate, o_orderpriority,
       |         TIMESTAMP '2024-01-01 00:00:00' AS record_loaded_at,
       |         CAST(NULL AS VARCHAR) AS o_channel
       |  FROM orders
       |), delta AS (
       |  SELECT o_orderkey, o_custkey, 'U' AS o_orderstatus, o_totalprice + 1000.0 AS o_totalprice,
       |         o_orderdate, o_orderpriority, $deltaStamp AS record_loaded_at, 'web' AS o_channel
       |  FROM orders WHERE o_orderkey % 10 = 3
       |  UNION ALL
       |  SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, o_orderdate, o_orderpriority, $deltaStamp, 'web'
       |  FROM orders WHERE o_orderkey % 10 = 7
       |  UNION ALL
       |  SELECT o_orderkey + 1000000000, o_custkey, 'N', o_totalprice, o_orderdate, o_orderpriority, $deltaStamp, 'web'
       |  FROM orders WHERE o_orderkey % 10 = 5
       |), joined AS (
       |  SELECT d.o_orderkey AS d_k, d.o_custkey AS d_c, d.o_orderstatus AS d_s, d.o_totalprice AS d_p,
       |         d.o_orderdate AS d_d, d.o_orderpriority AS d_pr, d.record_loaded_at AS d_t, d.o_channel AS d_ch,
       |         s.o_orderkey AS s_k, s.o_custkey AS s_c, s.o_orderstatus AS s_s, s.o_totalprice AS s_p,
       |         s.o_orderdate AS s_d, s.o_orderpriority AS s_pr, s.record_loaded_at AS s_t, s.o_channel AS s_ch,
       |         (s.o_orderkey IS NOT NULL AND (
       |            d.o_custkey IS DISTINCT FROM s.o_custkey OR
       |            d.o_orderstatus IS DISTINCT FROM s.o_orderstatus OR
       |            d.o_totalprice IS DISTINCT FROM s.o_totalprice OR
       |            d.o_orderdate IS DISTINCT FROM s.o_orderdate OR
       |            d.o_orderpriority IS DISTINCT FROM s.o_orderpriority OR
       |            d.o_channel IS DISTINCT FROM s.o_channel)) AS take_s
       |  FROM dest d LEFT JOIN delta s ON d.o_orderkey = s.o_orderkey
       |)
       |SELECT CASE WHEN take_s THEN s_k ELSE d_k END AS o_orderkey,
       |       CASE WHEN take_s THEN s_c ELSE d_c END AS o_custkey,
       |       CASE WHEN take_s THEN s_s ELSE d_s END AS o_orderstatus,
       |       CASE WHEN take_s THEN s_p ELSE d_p END AS o_totalprice,
       |       CASE WHEN take_s THEN s_d ELSE d_d END AS o_orderdate,
       |       CASE WHEN take_s THEN s_pr ELSE d_pr END AS o_orderpriority,
       |       CASE WHEN take_s THEN s_t ELSE d_t END AS record_loaded_at,
       |       CASE WHEN take_s THEN s_ch ELSE d_ch END AS o_channel
       |FROM joined
       |UNION ALL
       |SELECT s.* FROM delta s WHERE NOT EXISTS (SELECT 1 FROM dest d WHERE d.o_orderkey = s.o_orderkey)
       |""".stripMargin
  }

  /** q13f: the full portable minhash-LSH pipeline replayed in DuckDB —
    * token char-folds, 48-bit shingle folds, the SAME 16 permutation
    * coefficients (interpolated from [[graft.operators.MinHashDedup
    * .portableCoefficients]] so Scala and SQL literals cannot drift), 8
    * band-bucket folds, capped buckets, candidate self-join, exact Jaccard
    * verify. Every number both engines compute is identical.
    */
  /** The portable minhash pipeline's CTE chain through its CANDIDATE set
    * (shingle hashes → signatures → band folds → capped buckets → distinct
    * pairs) — shared verbatim by q13f/q106 (who verify and emit pairs) and
    * q133 (who evaluates the candidate set itself against exact ground
    * truth).
    */
  private val portableMinhashCandCtes: String = {
    val (as, bs) = graft.operators.MinHashDedup.portableCoefficients(
      Queries.PortableLsh.numHashes, Queries.PortableLsh.seed)
    val sigExprs = as.zip(bs).map { case (a, b) =>
      s"list_min(list_transform(m, h -> ($a * h + $b) % 2147483647))"
    }.mkString(",\n       |  ")
    s"""WITH th AS (
       |  SELECT doc_id,
       |         list_transform(string_split(text, ' '), t ->
       |           list_reduce(list_prepend(CAST(0 AS BIGINT),
       |             list_transform(string_split(t, ''), c -> CAST(ascii(c) AS BIGINT))),
       |             (a, x) -> (a * 131 + x) % 281474976710656)) AS th
       |  FROM documents),
       |sh AS (
       |  SELECT doc_id, list_distinct(list_transform(
       |           generate_series(1, greatest(len(th) - 2, 0)),
       |           i -> list_reduce(list_prepend(CAST(0 AS BIGINT), th[i:i+2]),
       |                  (a, x) -> (a * 31 + x) % 281474976710656))) AS hs
       |  FROM th),
       |hm AS (SELECT doc_id, hs, list_transform(hs, h -> h % 2147483647) AS m
       |       FROM sh WHERE len(hs) > 0),
       |sig AS (SELECT doc_id,
       |  [$sigExprs] AS sig
       |  FROM hm),
       |bk AS (
       |  ${(0 until 8).map { b =>
            val (i1, i2) = (2 * b + 1, 2 * b + 2)
            s"SELECT doc_id, $b AS band, ((($b * 31 + sig[$i1]) % 281474976710656) * 31 + sig[$i2]) % 281474976710656 AS bucket FROM sig"
          }.mkString("\n       |  UNION ALL ")}),
       |capped AS (
       |  SELECT band, bucket, doc_id FROM (
       |    SELECT *, count(*) OVER (PARTITION BY band, bucket) AS bs FROM bk)
       |  WHERE bs <= 1000),
       |cand AS (
       |  SELECT DISTINCT a.doc_id AS idA, b.doc_id AS idB
       |  FROM capped a JOIN capped b
       |    ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id)""".stripMargin
  }

  /** q202: the portable chain priced — per-band bucket sizes and the
    * planned/dropped pair mass under the cap.
    */
  private val portableBucketMassOracle: String =
    portableMinhashCandCtes + ",\n" +
      """bsz AS (SELECT band, bucket, count(*) AS bs FROM bk GROUP BY 1, 2)
        |SELECT CAST(band AS BIGINT) AS band, count(*) AS buckets,
        |       CAST(coalesce(sum(CASE WHEN bs > 1000 THEN 1 END), 0) AS BIGINT)
        |         AS buckets_dropped,
        |       CAST(coalesce(sum(CASE WHEN bs <= 1000 THEN bs * (bs - 1) // 2 END), 0)
        |         AS BIGINT) AS pairs_planned,
        |       CAST(coalesce(sum(CASE WHEN bs > 1000 THEN bs * (bs - 1) // 2 END), 0)
        |         AS BIGINT) AS pairs_dropped
        |FROM bsz GROUP BY band""".stripMargin

  private val portableMinhashOracle: String =
    portableMinhashCandCtes + "\n" +
      """SELECT idA, idB, round(jac, 6) AS jaccard FROM (
        |  SELECT c.idA, c.idB,
        |         CAST(len(list_intersect(x.hs, y.hs)) AS DOUBLE) /
        |         CAST(len(x.hs) + len(y.hs) - len(list_intersect(x.hs, y.hs)) AS DOUBLE) AS jac
        |  FROM cand c JOIN hm x ON x.doc_id = c.idA JOIN hm y ON y.doc_id = c.idB)
        |WHERE jac >= 0.5""".stripMargin

  /** q133: the LSH candidate set (the CTE chain above) scored against
    * EXACT n-gram-Jaccard ground truth. Truth is computed on raw trigram
    * STRINGS (q13d's formulation); the engine computes it on hashed
    * trigrams — set Jaccard is identical for any collision-free hash of
    * the distinct shingles, which both q13d's and q13f's green rows
    * already witness on this corpus.
    */
  private val lshEvalOracle: String =
    portableMinhashCandCtes + ",\n" +
      """truth AS (
        |  SELECT a.doc_id AS idA, b.doc_id AS idB FROM (
        |    SELECT doc_id, list_distinct(list_transform(
        |             generate_series(1, greatest(len(ws) - 2, 0)),
        |             i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2])) AS s
        |    FROM (SELECT doc_id, string_split(text, ' ') AS ws FROM documents)
        |  ) a JOIN (
        |    SELECT doc_id, list_distinct(list_transform(
        |             generate_series(1, greatest(len(ws) - 2, 0)),
        |             i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2])) AS s
        |    FROM (SELECT doc_id, string_split(text, ' ') AS ws FROM documents)
        |  ) b ON a.doc_id < b.doc_id
        |  WHERE len(a.s) > 0 AND len(b.s) > 0
        |    AND CAST(len(list_intersect(a.s, b.s)) AS DOUBLE) /
        |        CAST(len(a.s) + len(b.s) - len(list_intersect(a.s, b.s)) AS DOUBLE) >= 0.5
        |),
        |ev AS (
        |  SELECT coalesce(c.is_cand, FALSE) AS is_cand,
        |         coalesce(t.is_true, FALSE) AS is_true
        |  FROM (SELECT idA, idB, TRUE AS is_cand FROM cand) c
        |  FULL OUTER JOIN (SELECT idA, idB, TRUE AS is_true FROM truth) t
        |    ON c.idA = t.idA AND c.idB = t.idB)
        |SELECT count(*) FILTER (is_cand) AS n_candidates,
        |       count(*) FILTER (is_true) AS n_true,
        |       count(*) FILTER (is_cand AND is_true) AS tp,
        |       count(*) FILTER (is_cand AND NOT is_true) AS fp,
        |       count(*) FILTER (is_true AND NOT is_cand) AS fn,
        |       round(CAST(count(*) FILTER (is_cand AND is_true) AS DOUBLE) /
        |             CAST(count(*) FILTER (is_cand) AS DOUBLE), 6) AS precision,
        |       round(CAST(count(*) FILTER (is_cand AND is_true) AS DOUBLE) /
        |             CAST(count(*) FILTER (is_true) AS DOUBLE), 6) AS recall
        |FROM ev""".stripMargin

  /** q60: the DuckDB redaction replay, with the regex/replacement pairs
    * interpolated from [[graft.functions.TextFunctions.piiPatterns]] (the
    * patterns contain no single quotes, so they embed into SQL string
    * literals verbatim).
    */
  private val redactOracle: String = {
    val ps = graft.functions.TextFunctions.piiPatterns
    require(ps.forall { case (p, r) => !p.contains("'") && !r.contains("'") })
    val counts = Seq("n_emails", "n_urls", "n_nums").zip(ps).map { case (name, (p, _)) =>
      s"CAST(len(regexp_extract_all(aug, '$p')) AS INTEGER) AS $name"
    }.mkString(",\n       |  ")
    val redacted = ps.foldLeft("aug") { case (inner, (p, r)) =>
      s"regexp_replace($inner, '$p', '$r', 'g')"
    }
    s"""WITH a AS (
       |  SELECT doc_id, text
       |    || CASE WHEN doc_id % 3 = 0 THEN ' contact user' || CAST(doc_id AS VARCHAR) || '@example.com' ELSE '' END
       |    || CASE WHEN doc_id % 5 = 0 THEN ' see https://data.example.org/d/' || CAST(doc_id AS VARCHAR) ELSE '' END
       |    || CASE WHEN doc_id % 7 = 0 THEN ' ref 123456789' ELSE '' END AS aug
       |  FROM documents)
       |SELECT doc_id,
       |  $counts,
       |  md5($redacted) AS redacted_md5
       |FROM a""".stripMargin
  }

  /** q14c: the production hyperplane planes (splitmix, seed 42) are
    * interpolated from the ONE Scala generator into the SQL — the q13f
    * shared-literal discipline — and the dot product is the same
    * sequential left fold (`list_reduce` == Spark's `aggregate` from 0.0,
    * identical for IEEE addition), so signatures, buckets, candidates and
    * ranks replay bit-for-bit.
    */
  private val portableLshOracle: String = {
    val planes = graft.functions.LshPlanes.planes(dim = 64, bits = 8, seed = 42L)
    val sigExpr = planes.zipWithIndex.map { case (p, i) =>
      val lit = p.map(_.toString).mkString("[", ", ", "]")
      s"(CASE WHEN list_reduce(list_transform(generate_series(1, 64), " +
        s"j -> CAST(embedding[j] AS DOUBLE) * ($lit::DOUBLE[])[j]), " +
        s"(a, b) -> a + b) >= 0 THEN ${1L << i} ELSE 0 END)"
    }.mkString("\n         + ")
    s"""WITH sig AS (
       |  SELECT vec_id, embedding,
       |         $sigExpr AS bucket
       |  FROM embeddings),
       |cand AS (
       |  SELECT q.vec_id AS q_id, c.vec_id,
       |         round(list_cosine_similarity(q.embedding::DOUBLE[], c.embedding::DOUBLE[]), 6) AS sim
       |  FROM sig q JOIN sig c ON q.bucket = c.bucket AND c.vec_id <> q.vec_id
       |  WHERE q.vec_id < 3)
       |SELECT q_id, vec_id, sim FROM (
       |  SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, vec_id ASC) AS rn
       |  FROM cand)
       |WHERE rn <= 5""".stripMargin
  }

  /** Shared by q71b (in-memory operator) and q71c (materialized index
    * probe): same frozen one-hot index over the same closed-form
    * clustered corpus — nProbe=1's expected answer is the within-cluster
    * cosine top-k, layout-independent by construction.
    */
  private val ivfApproxOracle: String =
    """WITH v AS (
      |  SELECT vec_id, vec_id % 4 AS g,
      |         list_transform(range(0, 8), i ->
      |           CASE WHEN i = (vec_id % 4) * 2 THEN 1.0
      |                WHEN i = (vec_id % 4) * 2 + 1 THEN ((vec_id % 7) + 1) / 16.0
      |                ELSE 0.0 END) AS vec
      |  FROM embeddings),
      |scored AS (
      |  SELECT q.vec_id AS q_id, c.vec_id,
      |         round(list_cosine_similarity(q.vec, c.vec), 6) AS sim
      |  FROM v q JOIN v c ON q.g = c.g AND c.vec_id <> q.vec_id
      |  WHERE q.vec_id % 97 = 0)
      |SELECT q_id, vec_id, sim FROM (
      |  SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, vec_id ASC) AS rn
      |  FROM scored)
      |WHERE rn <= 5""".stripMargin

  /** q276/q277's comparison log as oracle CTEs: each user's
    * consecutive events duel (higher value wins, ties to the smaller
    * type, same-type pairs dropped) — the same window and CASE ladder
    * as `Preference.adjacentComparisons`.
    */
  private def comparisonCtesNamed(suffix: String, where: String): String =
    s"""ord$suffix AS (
       |  SELECT user_id, event_type AS item, value AS v,
       |         lead(event_type) OVER w AS nt, lead(value) OVER w AS nv
       |  FROM events$where
       |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
       |comp$suffix AS MATERIALIZED (
       |  SELECT user_id,
       |         CASE WHEN v > nv THEN item
       |              WHEN nv > v THEN nt
       |              WHEN item < nt THEN item ELSE nt END AS winner,
       |         CASE WHEN v > nv THEN nt
       |              WHEN nv > v THEN item
       |              WHEN item < nt THEN nt ELSE item END AS loser
       |  FROM ord$suffix WHERE nt IS NOT NULL AND item <> nt)""".stripMargin

  private val comparisonCtes: String = comparisonCtesNamed("", "")

  /** The full MM chain (count matrix -> 5 iterations -> normalizer) as
    * shared CTEs — q276 selects from it directly, q280/q281/q282/q285
    * extend it. Multiply-referenced CTEs are MATERIALIZED: DuckDB
    * inlines CTEs per reference by default, and each iteration
    * references its predecessor twice, so an un-materialized chain
    * re-expands exponentially once a consumer (q285) adds more
    * reference paths. Per-term division of identical operand doubles
    * captured to DECIMAL(25,10), exact decimal sums, one captured
    * division per item per iteration.
    */
  private def btChainCtes: String = {
    val iters = (1 to 5).map { k =>
      val prev = s"p${k - 1}"
      s"""p$k AS MATERIALIZED (
         |  SELECT w.item,
         |         CAST(CAST(w.wins AS DOUBLE) / CAST(sum(CAST(CAST(g2.n AS DOUBLE)
         |             / CAST(pi_i.pi + pi_j.pi AS DOUBLE) AS DECIMAL(25,10))) AS DOUBLE)
         |           AS DECIMAL(20,10)) AS pi
         |  FROM w JOIN g2 ON g2.i = w.item
         |  JOIN $prev pi_i ON pi_i.item = g2.i
         |  JOIN $prev pi_j ON pi_j.item = g2.j
         |  GROUP BY w.item, w.wins)""".stripMargin
    }.mkString(",\n")
    s"""$comparisonCtes,
       |dp AS MATERIALIZED (SELECT winner, loser, count(*) AS n FROM comp GROUP BY 1, 2),
       |wins0 AS (SELECT winner AS item, CAST(sum(n) AS BIGINT) AS wins
       |          FROM dp GROUP BY 1),
       |g2 AS MATERIALIZED (
       |  SELECT i, j, CAST(sum(n) AS BIGINT) AS n FROM (
       |    SELECT winner AS i, loser AS j, n FROM dp
       |    UNION ALL SELECT loser, winner, n FROM dp) GROUP BY 1, 2),
       |items AS (SELECT DISTINCT i AS item FROM g2),
       |w AS MATERIALIZED (SELECT items.item, coalesce(wins0.wins, 0) AS wins
       |      FROM items LEFT JOIN wins0 ON wins0.item = items.item),
       |g AS (SELECT i AS item, CAST(sum(n) AS BIGINT) AS games FROM g2 GROUP BY 1),
       |p0 AS MATERIALIZED (SELECT item, CAST(1 AS DECIMAL(20,10)) AS pi FROM w),
       |$iters,
       |tot AS MATERIALIZED (SELECT sum(pi) AS pi_sum FROM p5)""".stripMargin
  }

  private val btStrengthExpr: String =
    """CAST(CAST(CAST(p5.pi AS DOUBLE) / CAST(tot.pi_sum AS DOUBLE)
      |         AS DECIMAL(18,6)) AS DOUBLE)""".stripMargin

  private def btStrengthsOracle: String =
    s"""WITH $btChainCtes
       |SELECT w.item, w.wins, g.games, $btStrengthExpr AS strength
       |FROM w JOIN p5 ON p5.item = w.item
       |JOIN g ON g.item = w.item CROSS JOIN tot""".stripMargin

  /** q280: the pair-level BT fit audit + strict-majority triad census
    * on top of the shared MM chain.
    */
  private def preferenceCoherenceOracle: String =
    s"""WITH $btChainCtes,
       |st AS MATERIALIZED (SELECT w.item, $btStrengthExpr AS strength
       |       FROM w JOIN p5 ON p5.item = w.item CROSS JOIN tot),
       |pairs AS MATERIALIZED (
       |  SELECT least(winner, loser) AS item_a, greatest(winner, loser) AS item_b,
       |         CAST(sum(CASE WHEN winner < loser THEN n ELSE 0 END) AS BIGINT) AS wins_a,
       |         CAST(sum(CASE WHEN winner > loser THEN n ELSE 0 END) AS BIGINT) AS wins_b
       |  FROM dp GROUP BY 1, 2),
       |fit AS (
       |  SELECT p.item_a, p.item_b, p.wins_a, p.wins_b,
       |         round(CAST(p.wins_a AS DOUBLE)
       |             / CAST(p.wins_a + p.wins_b AS DOUBLE), 6) AS p_obs,
       |         round(sa.strength / (sa.strength + sb.strength), 6) AS p_bt
       |  FROM pairs p JOIN st sa ON sa.item = p.item_a
       |  JOIN st sb ON sb.item = p.item_b),
       |fit2 AS (SELECT *, round(abs(p_obs - p_bt), 6) AS abs_dev FROM fit),
       |decided AS MATERIALIZED (
       |  SELECT item_a AS pa, item_b AS pb,
       |         CASE WHEN wins_a > wins_b THEN item_a ELSE item_b END AS src,
       |         CASE WHEN wins_a > wins_b THEN item_b ELSE item_a END AS dst
       |  FROM pairs WHERE wins_a <> wins_b),
       |tri AS (SELECT count(*) AS n_decided_triads
       |        FROM decided d1
       |        JOIN decided d2 ON d2.pa = d1.pb
       |        JOIN decided d3 ON d3.pa = d1.pa AND d3.pb = d2.pb),
       |cyc AS (SELECT count(*) AS n_cyclic_triads FROM
       |        (SELECT src AS x, dst AS y FROM decided) e1
       |        JOIN (SELECT src AS y, dst AS z FROM decided) e2 USING (y)
       |        JOIN (SELECT src AS z, dst AS x FROM decided) e3 USING (z, x)
       |        WHERE x < y AND x < z)
       |SELECT fit2.*, tri.n_decided_triads, cyc.n_cyclic_triads
       |FROM fit2 CROSS JOIN tri CROSS JOIN cyc""".stripMargin

  /** q281: the same fit (merged == from-scratch by counter additivity)
    * with per-shard game counts from the user-parity comparison logs.
    */
  private def incrementalBtOracle: String =
    s"""WITH $btChainCtes,
       |${comparisonCtesNamed("_e", " WHERE user_id % 2 = 0")},
       |${comparisonCtesNamed("_o", " WHERE user_id % 2 = 1")},
       |dpe AS (SELECT winner, loser, count(*) AS n FROM comp_e GROUP BY 1, 2),
       |dpo AS (SELECT winner, loser, count(*) AS n FROM comp_o GROUP BY 1, 2),
       |ge AS (SELECT item, CAST(sum(n) AS BIGINT) AS games_even FROM (
       |         SELECT winner AS item, n FROM dpe
       |         UNION ALL SELECT loser, n FROM dpe) GROUP BY 1),
       |go AS (SELECT item, CAST(sum(n) AS BIGINT) AS games_odd FROM (
       |         SELECT winner AS item, n FROM dpo
       |         UNION ALL SELECT loser, n FROM dpo) GROUP BY 1)
       |SELECT w.item,
       |       coalesce(ge.games_even, 0) AS games_even,
       |       coalesce(go.games_odd, 0) AS games_odd,
       |       g.games, $btStrengthExpr AS strength
       |FROM w JOIN p5 ON p5.item = w.item
       |JOIN g ON g.item = w.item CROSS JOIN tot
       |LEFT JOIN ge ON ge.item = w.item
       |LEFT JOIN go ON go.item = w.item""".stripMargin

  /** Wilson lower bound replay: the identical IEEE expression tree
    * (sqrt is correctly-rounded per IEEE 754, so no capture is needed
    * before the final 6-dp round); 1.96 is cast to DOUBLE explicitly —
    * DuckDB would otherwise square it as an exact DECIMAL, one ulp off
    * the engine's double product.
    */
  private def wilsonWinrateOracle: String = {
    val z = "CAST(1.96 AS DOUBLE)"
    val z2 = s"($z * $z)"
    s"""WITH $comparisonCtes,
       |wins0 AS (SELECT winner AS item, count(*) AS wins FROM comp GROUP BY 1),
       |wg AS (SELECT item, count(*) AS games FROM (
       |    SELECT winner AS item FROM comp
       |    UNION ALL SELECT loser FROM comp) GROUP BY 1),
       |sc AS (
       |  SELECT wg.item, coalesce(wins0.wins, 0) AS wins, wg.games,
       |         CAST(coalesce(wins0.wins, 0) AS DOUBLE) AS wd,
       |         CAST(wg.games AS DOUBLE) AS nd
       |  FROM wg LEFT JOIN wins0 ON wins0.item = wg.item),
       |sc2 AS (
       |  SELECT item, wins, games,
       |         round(wd / nd, 6) AS p_hat,
       |         round((wd / nd + $z2 / (CAST(2.0 AS DOUBLE) * nd)
       |             - $z * sqrt(((wd / nd) * (CAST(1.0 AS DOUBLE) - wd / nd)
       |                 + $z2 / (CAST(4.0 AS DOUBLE) * nd)) / nd))
       |           / (CAST(1.0 AS DOUBLE) + $z2 / nd), 6) AS wilson_lb
       |  FROM sc)
       |SELECT item, wins, games, p_hat, wilson_lb,
       |       CAST(rank() OVER (ORDER BY p_hat DESC, item) AS INTEGER) AS rank_raw,
       |       CAST(rank() OVER (ORDER BY wilson_lb DESC, item) AS INTEGER) AS rank_wilson
       |FROM sc2""".stripMargin
  }

  /** Fleiss' kappa replay: the q17 stopword langid (full text and the
    * first 12 tokens) as raters 2 and 3 next to the gold `lang`; the
    * agreement numerator stays BIGINT, each p_c² captured to
    * DECIMAL(25,10) before the exact sum — `Metrics.fleissKappa`'s
    * arithmetic step for step.
    */
  private def fleissKappaOracle: String = {
    def langidCase(ws: String): String =
      s"""CASE WHEN greatest(
         |    len(list_intersect($ws, ['der','die','das','und','ist','nicht','ein','zu'])),
         |    len(list_intersect($ws, ['the','and','of','to','in','is','that','it','a'])),
         |    len(list_intersect($ws, ['el','la','los','y','es','no','una','que'])),
         |    len(list_intersect($ws, ['le','la','les','et','est','pas','une','que'])),
         |    len(list_intersect($ws, ['的','是','不','了','在','人','有','我']))) <= 0 THEN 'und'
         |  WHEN len(list_intersect($ws, ['der','die','das','und','ist','nicht','ein','zu'])) = greatest(
         |    len(list_intersect($ws, ['der','die','das','und','ist','nicht','ein','zu'])),
         |    len(list_intersect($ws, ['the','and','of','to','in','is','that','it','a'])),
         |    len(list_intersect($ws, ['el','la','los','y','es','no','una','que'])),
         |    len(list_intersect($ws, ['le','la','les','et','est','pas','une','que'])),
         |    len(list_intersect($ws, ['的','是','不','了','在','人','有','我']))) THEN 'de'
         |  WHEN len(list_intersect($ws, ['the','and','of','to','in','is','that','it','a'])) = greatest(
         |    len(list_intersect($ws, ['der','die','das','und','ist','nicht','ein','zu'])),
         |    len(list_intersect($ws, ['the','and','of','to','in','is','that','it','a'])),
         |    len(list_intersect($ws, ['el','la','los','y','es','no','una','que'])),
         |    len(list_intersect($ws, ['le','la','les','et','est','pas','une','que'])),
         |    len(list_intersect($ws, ['的','是','不','了','在','人','有','我']))) THEN 'en'
         |  WHEN len(list_intersect($ws, ['el','la','los','y','es','no','una','que'])) = greatest(
         |    len(list_intersect($ws, ['der','die','das','und','ist','nicht','ein','zu'])),
         |    len(list_intersect($ws, ['the','and','of','to','in','is','that','it','a'])),
         |    len(list_intersect($ws, ['el','la','los','y','es','no','una','que'])),
         |    len(list_intersect($ws, ['le','la','les','et','est','pas','une','que'])),
         |    len(list_intersect($ws, ['的','是','不','了','在','人','有','我']))) THEN 'es'
         |  WHEN len(list_intersect($ws, ['le','la','les','et','est','pas','une','que'])) = greatest(
         |    len(list_intersect($ws, ['der','die','das','und','ist','nicht','ein','zu'])),
         |    len(list_intersect($ws, ['the','and','of','to','in','is','that','it','a'])),
         |    len(list_intersect($ws, ['el','la','los','y','es','no','una','que'])),
         |    len(list_intersect($ws, ['le','la','les','et','est','pas','une','que'])),
         |    len(list_intersect($ws, ['的','是','不','了','在','人','有','我']))) THEN 'fr'
         |  ELSE 'zh' END""".stripMargin
    s"""WITH toks AS (
       |  SELECT doc_id, lang, string_split(text, ' ') AS ws FROM documents),
       |rated AS (
       |  SELECT doc_id, lang AS r_gold,
       |         ${langidCase("ws")} AS r_full,
       |         ${langidCase("list_slice(ws, 1, 12)")} AS r_head
       |  FROM toks),
       |lng AS (
       |  SELECT doc_id, unnest([r_gold, r_full, r_head]) AS cat FROM rated
       |  WHERE r_gold IS NOT NULL AND r_full IS NOT NULL AND r_head IS NOT NULL),
       |nic AS (SELECT doc_id, cat, count(*) AS c FROM lng GROUP BY 1, 2),
       |per AS (SELECT doc_id, CAST(sum(c * c) AS BIGINT) AS ss FROM nic GROUP BY 1),
       |ia AS (SELECT count(*) AS n_items,
       |              CAST(sum(ss - 3) AS BIGINT) AS agree_num FROM per),
       |catc AS (SELECT cat, count(*) AS cc FROM lng GROUP BY 1),
       |ca AS (SELECT sum(CAST((CAST(cc AS DOUBLE) / CAST(__n * 3 AS DOUBLE))
       |                 * (CAST(cc AS DOUBLE) / CAST(__n * 3 AS DOUBLE))
       |               AS DECIMAL(25,10))) AS pe_sum,
       |              count(*) AS n_categories
       |       FROM (SELECT catc.cc, ia.n_items AS __n FROM catc CROSS JOIN ia))
       |SELECT ia.n_items, 3 AS m, ca.n_categories,
       |       round(CAST(ia.agree_num AS DOUBLE) / CAST(ia.n_items * 6 AS DOUBLE), 6) AS p_bar,
       |       round(CAST(ca.pe_sum AS DOUBLE), 6) AS p_e,
       |       CASE WHEN CAST(ca.pe_sum AS DOUBLE) < 1.0 THEN
       |         round((CAST(ia.agree_num AS DOUBLE) / CAST(ia.n_items * 6 AS DOUBLE)
       |             - CAST(ca.pe_sum AS DOUBLE))
       |           / (CAST(1.0 AS DOUBLE) - CAST(ca.pe_sum AS DOUBLE)), 6)
       |       END AS kappa
       |FROM ia CROSS JOIN ca""".stripMargin
  }

  /** Chao2 + Good–Turing coverage replay: exact incidence counts from
    * the q156 per-doc-distinct trigram CTE, then the same fixed IEEE
    * chains (integer q₁(q₁−1) product, two divisions, 6-dp rounds).
    */
  private val vocabRichnessOracle: String =
    """WITH sh AS (
      |  SELECT doc_id, unnest(list_distinct(list_transform(
      |           generate_series(1, greatest(len(ws) - 2, 0)),
      |           i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]))) AS s
      |  FROM (SELECT doc_id, string_split(text, ' ') AS ws FROM documents)),
      |freq AS (SELECT s, count(*) AS f FROM sh GROUP BY 1),
      |nd AS (SELECT count(DISTINCT doc_id) AS n_docs FROM documents),
      |agg AS (SELECT count(*) AS d_observed,
      |               CAST(sum(f) AS BIGINT) AS n_incidences,
      |               CAST(sum(CASE WHEN f = 1 THEN 1 ELSE 0 END) AS BIGINT) AS q1,
      |               CAST(sum(CASE WHEN f = 2 THEN 1 ELSE 0 END) AS BIGINT) AS q2
      |        FROM freq)
      |SELECT nd.n_docs, agg.d_observed, agg.n_incidences, agg.q1, agg.q2,
      |       round(CAST(agg.d_observed AS DOUBLE) +
      |             (CAST(nd.n_docs - 1 AS DOUBLE) / CAST(nd.n_docs AS DOUBLE)) *
      |             (CAST(agg.q1 * (agg.q1 - 1) AS DOUBLE)
      |               / CAST(2 * (agg.q2 + 1) AS DOUBLE)), 6) AS chao2,
      |       round(CAST(1.0 AS DOUBLE) - CAST(agg.q1 AS DOUBLE)
      |               / CAST(agg.n_incidences AS DOUBLE), 6) AS coverage
      |FROM agg CROSS JOIN nd""".stripMargin

  /** q282: the fit over the folded streamed deltas (== the from-scratch
    * chain by the in-query additivity REQUIREs) plus the delta/folded
    * row accounting from the three user-shard comparison logs.
    */
  private def streamingPreferenceOracle: String =
    s"""WITH $btChainCtes,
       |${comparisonCtesNamed("_s0", " WHERE user_id % 3 = 0")},
       |${comparisonCtesNamed("_s1", " WHERE user_id % 3 = 1")},
       |${comparisonCtesNamed("_s2", " WHERE user_id % 3 = 2")},
       |d0 AS (SELECT count(*) AS c FROM (SELECT DISTINCT winner, loser FROM comp_s0)),
       |d1 AS (SELECT count(*) AS c FROM (SELECT DISTINCT winner, loser FROM comp_s1)),
       |d2 AS (SELECT count(*) AS c FROM (SELECT DISTINCT winner, loser FROM comp_s2)),
       |nf AS (SELECT count(*) AS n_folded_rows FROM dp)
       |SELECT w.item, w.wins, g.games, $btStrengthExpr AS strength,
       |       d0.c + d1.c + d2.c AS n_delta_rows, nf.n_folded_rows
       |FROM w JOIN p5 ON p5.item = w.item JOIN g ON g.item = w.item
       |CROSS JOIN tot CROSS JOIN d0 CROSS JOIN d1 CROSS JOIN d2
       |CROSS JOIN nf""".stripMargin

  /** q283/q284's shared replay prefix: the q142/q147 labelers, gold
    * language, per-doc deltas, the rank axis, and the (n, Σd) scalars.
    */
  private val evalDeltaCtes: String =
    """h AS (
      |  SELECT doc_id, lang, CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
      |         list_transform(string_split(text, ' '), t ->
      |           list_reduce(
      |             list_prepend(CAST(0 AS BIGINT),
      |               list_transform(string_split(t, ''), c -> CAST(ascii(c) AS BIGINT))),
      |             (a, x) -> (a * 131 + x) % 281474976710656)) AS hs
      |  FROM documents),
      |sc AS (SELECT doc_id, lang, n_tokens,
      |        CAST(coalesce(list_sum(list_transform(hs, hv ->
      |          ((hv % 64) * 2654435761) % 1997 - 998)), 0) AS BIGINT) AS score_int
      |       FROM h),
      |dd AS (SELECT doc_id,
      |         CAST((CASE WHEN (score_int > 0) = (lang = 'en') THEN 1 ELSE 0 END)
      |       - (CASE WHEN (n_tokens >= 60) = (lang = 'en') THEN 1 ELSE 0 END) AS BIGINT) AS d
      |       FROM sc),
      |rk AS MATERIALIZED (SELECT doc_id, d,
      |         CAST(row_number() OVER (ORDER BY doc_id) AS BIGINT) - 1 AS rn
      |       FROM dd),
      |nn AS MATERIALIZED (SELECT CAST(count(*) AS BIGINT) AS n, CAST(sum(d) AS BIGINT) AS obs
      |       FROM rk)""".stripMargin

  /** The bootstrap replay over a (rn, d) rank table `rk` with scalars
    * `nn`(n, obs): LCG draws, DECIMAL(20,10) replicate means,
    * nearest-rank CI ranks, P(m <= 0) count. Emits CTEs
    * draws/ms/rms/lo/hi/pp.
    */
  private def bootstrapReplayCtes(rk: String, nn: String, b: Int): String = {
    val loRank = math.ceil(0.025 * b).toInt
    val hiRank = math.ceil(0.975 * b).toInt
    s"""draws AS MATERIALIZED (
       |  SELECT bb.b,
       |         ((((bb.b * $nn.n + $rk.rn + 1) % 2147483647) * 1103515245 + 12345) % 2147483647) % $nn.n AS rn
       |  FROM (SELECT CAST(unnest(generate_series(0, ${b - 1})) AS BIGINT) AS b) bb
       |  CROSS JOIN $nn CROSS JOIN (SELECT rn FROM $rk) $rk),
       |ms AS MATERIALIZED (
       |  SELECT dr.b,
       |         CAST(CAST(CAST(sum($rk.d) AS BIGINT) AS DOUBLE)
       |             / CAST($nn.n AS DOUBLE) AS DECIMAL(20,10)) AS m
       |  FROM draws dr JOIN $rk ON $rk.rn = dr.rn CROSS JOIN $nn
       |  GROUP BY dr.b, $nn.n),
       |rms AS MATERIALIZED (SELECT m, b, row_number() OVER (ORDER BY m, b) AS r FROM ms),
       |lo AS (SELECT CAST(m AS DOUBLE) AS ci_lo FROM rms WHERE r = $loRank),
       |hi AS (SELECT CAST(m AS DOUBLE) AS ci_hi FROM rms WHERE r = $hiRank),
       |pp AS (SELECT count(*) AS c FROM ms WHERE m <= 0)""".stripMargin
  }

  /** The sign-flip replay over the same shape: CTEs fs/ge. */
  private def signFlipReplayCtes(rk: String, nn: String, b: Int): String =
    s"""fs AS MATERIALIZED (
       |  SELECT bb.b,
       |         CAST(sum((1 - 2 * (((((bb.b * $nn.n + $rk.rn + 1) % 2147483647) * 1103515245 + 12345)
       |             % 2147483647) % 2)) * $rk.d) AS BIGINT) AS s
       |  FROM (SELECT CAST(unnest(generate_series(0, ${b - 1})) AS BIGINT) AS b) bb
       |  CROSS JOIN $rk CROSS JOIN $nn
       |  GROUP BY bb.b),
       |ge AS (SELECT count(*) AS c FROM fs CROSS JOIN $nn
       |       WHERE abs(fs.s) >= abs($nn.obs))""".stripMargin

  /** q283: 200 deterministic LCG resamples, replicate means captured
    * DECIMAL(20,10), nearest-rank CI order statistics, captured
    * divisions for the point estimate and p.
    */
  private def pairedBootstrapOracle: String =
    s"""WITH $evalDeltaCtes,
       |${bootstrapReplayCtes("rk", "nn", 200)}
       |SELECT nn.n AS n_items, 200 AS n_boot,
       |       CAST(CAST(CAST(nn.obs AS DOUBLE) / CAST(nn.n AS DOUBLE)
       |         AS DECIMAL(18,6)) AS DOUBLE) AS mean_delta,
       |       lo.ci_lo, hi.ci_hi,
       |       CAST(CAST(CAST(pp.c AS DOUBLE) / CAST(200 AS DOUBLE)
       |         AS DECIMAL(18,6)) AS DOUBLE) AS p_leq_zero
       |FROM nn CROSS JOIN lo CROSS JOIN hi CROSS JOIN pp""".stripMargin

  /** q284: exact-integer sign-flip null, add-one p. */
  private def signFlipOracle: String =
    s"""WITH $evalDeltaCtes,
       |${signFlipReplayCtes("rk", "nn", 200)}
       |SELECT nn.n AS n_items, 200 AS n_perm, nn.obs AS sum_delta,
       |       CAST(CAST(CAST(1 + ge.c AS DOUBLE) / CAST(201 AS DOUBLE)
       |         AS DECIMAL(18,6)) AS DOUBLE) AS p_value
       |FROM nn CROSS JOIN ge""".stripMargin

  /** q285: BT top-2 -> per-user head-to-head deltas -> bootstrap CI +
    * sign-flip p -> the promote boolean, all in one replay.
    */
  private def promotionGateOracle: String =
    s"""WITH $btChainCtes,
       |st AS MATERIALIZED (SELECT w.item, $btStrengthExpr AS strength
       |       FROM w JOIN p5 ON p5.item = w.item CROSS JOIN tot),
       |top2 AS MATERIALIZED (SELECT item, row_number() OVER (ORDER BY strength DESC, item) AS r
       |         FROM st),
       |pa AS (SELECT item AS a FROM top2 WHERE r = 1),
       |pb AS (SELECT item AS b FROM top2 WHERE r = 2),
       |ud AS MATERIALIZED (
       |  SELECT user_id,
       |         CAST(sum(CASE WHEN winner = pa.a THEN 1 ELSE -1 END) AS BIGINT) AS d
       |  FROM comp CROSS JOIN pa CROSS JOIN pb
       |  WHERE (winner = pa.a AND loser = pb.b) OR (winner = pb.b AND loser = pa.a)
       |  GROUP BY user_id),
       |rk2 AS MATERIALIZED (SELECT user_id, d,
       |          CAST(row_number() OVER (ORDER BY user_id) AS BIGINT) - 1 AS rn
       |        FROM ud),
       |nn2 AS MATERIALIZED (SELECT CAST(count(*) AS BIGINT) AS n, CAST(sum(d) AS BIGINT) AS obs
       |        FROM rk2),
       |${bootstrapReplayCtes("rk2", "nn2", 200)},
       |${signFlipReplayCtes("rk2", "nn2", 200)}
       |SELECT pa.a AS item_a, pb.b AS item_b, nn2.n AS n_users, nn2.obs AS sum_delta,
       |       CAST(CAST(CAST(nn2.obs AS DOUBLE) / CAST(nn2.n AS DOUBLE)
       |         AS DECIMAL(18,6)) AS DOUBLE) AS mean_delta,
       |       lo.ci_lo, hi.ci_hi,
       |       CAST(CAST(CAST(1 + ge.c AS DOUBLE) / CAST(201 AS DOUBLE)
       |         AS DECIMAL(18,6)) AS DOUBLE) AS p_value,
       |       CAST(CAST(CAST(pp.c AS DOUBLE) / CAST(200 AS DOUBLE)
       |         AS DECIMAL(18,6)) AS DOUBLE) AS p_leq_zero,
       |       (lo.ci_lo > 0.0 AND
       |         CAST(CAST(CAST(1 + ge.c AS DOUBLE) / CAST(201 AS DOUBLE)
       |           AS DECIMAL(18,6)) AS DOUBLE) < 0.05) AS promote
       |FROM pa CROSS JOIN pb CROSS JOIN nn2 CROSS JOIN lo CROSS JOIN hi
       |CROSS JOIN pp CROSS JOIN ge""".stripMargin

  /** q287: the full-fit chain plus the b-keyed batched replicate chain
    * — per-user sub-matrices, LCG user draws, counter-additive
    * replicate matrices, 5 MM iterations replicate-keyed, integer
    * nearest-rank CI positions (ceil(R/40), ceil(39R/40) as exact
    * integer division — the double 0.025·R form rounds wrong at exact
    * multiples).
    */
  private def btBootstrapOracle: String = {
    val iters = (1 to 5).map { k =>
      val prev = s"bp${k - 1}"
      s"""bp$k AS MATERIALIZED (
         |  SELECT w.b, w.item,
         |         CAST(CAST(w.wins AS DOUBLE) / CAST(sum(CAST(CAST(g.n AS DOUBLE)
         |             / CAST(pi_i.pi + pi_j.pi AS DOUBLE) AS DECIMAL(25,10))) AS DOUBLE)
         |           AS DECIMAL(20,10)) AS pi
         |  FROM bwf w JOIN bg g ON g.b = w.b AND g.i = w.item
         |  JOIN $prev pi_i ON pi_i.b = w.b AND pi_i.item = g.i
         |  JOIN $prev pi_j ON pi_j.b = w.b AND pi_j.item = g.j
         |  GROUP BY w.b, w.item, w.wins)""".stripMargin
    }.mkString(",\n")
    s"""WITH $btChainCtes,
       |um AS MATERIALIZED (SELECT user_id, winner, loser, count(*) AS n
       |      FROM comp GROUP BY 1, 2, 3),
       |us AS MATERIALIZED (
       |  SELECT user_id, CAST(row_number() OVER (ORDER BY user_id) AS BIGINT) - 1 AS rn
       |  FROM (SELECT DISTINCT user_id FROM um)),
       |nu AS MATERIALIZED (SELECT CAST(count(*) AS BIGINT) AS n FROM us),
       |dr AS MATERIALIZED (
       |  SELECT bb.b,
       |         ((((bb.b * nu.n + us.rn + 1) % 2147483647) * 1103515245 + 12345)
       |           % 2147483647) % nu.n AS rn
       |  FROM (SELECT CAST(unnest(generate_series(0, 199)) AS BIGINT) AS b) bb
       |  CROSS JOIN nu CROSS JOIN (SELECT rn FROM us) us),
       |rm AS MATERIALIZED (
       |  SELECT dr.b, um.winner, um.loser, CAST(sum(um.n) AS BIGINT) AS n
       |  FROM dr JOIN us ON us.rn = dr.rn JOIN um ON um.user_id = us.user_id
       |  GROUP BY 1, 2, 3),
       |bw AS MATERIALIZED (SELECT b, winner AS item, CAST(sum(n) AS BIGINT) AS wins
       |      FROM rm GROUP BY 1, 2),
       |bg AS MATERIALIZED (SELECT b, i, j, CAST(sum(n) AS BIGINT) AS n FROM (
       |      SELECT b, winner AS i, loser AS j, n FROM rm
       |      UNION ALL SELECT b, loser, winner, n FROM rm) GROUP BY 1, 2, 3),
       |bi AS MATERIALIZED (SELECT DISTINCT b, i AS item FROM bg),
       |bwf AS MATERIALIZED (
       |  SELECT bi.b, bi.item, coalesce(bw.wins, 0) AS wins
       |  FROM bi LEFT JOIN bw ON bw.b = bi.b AND bw.item = bi.item),
       |bp0 AS MATERIALIZED (SELECT b, item, CAST(1 AS DECIMAL(20,10)) AS pi FROM bwf),
       |$iters,
       |btot AS MATERIALIZED (SELECT b, sum(pi) AS pi_sum FROM bp5 GROUP BY 1),
       |bs AS MATERIALIZED (
       |  SELECT bp5.b, bp5.item,
       |         CAST(CAST(CAST(bp5.pi AS DOUBLE) / CAST(btot.pi_sum AS DOUBLE)
       |           AS DECIMAL(18,6)) AS DOUBLE) AS s
       |  FROM bp5 JOIN btot ON btot.b = bp5.b),
       |rs AS MATERIALIZED (SELECT item, CAST(count(*) AS BIGINT) AS n_reps
       |      FROM bs GROUP BY 1),
       |rr AS MATERIALIZED (
       |  SELECT item, s, b, row_number() OVER (PARTITION BY item ORDER BY s, b) AS r
       |  FROM bs),
       |blo AS (SELECT rr.item, rr.s AS ci_lo FROM rr JOIN rs ON rs.item = rr.item
       |        WHERE rr.r = (rs.n_reps + 39) // 40),
       |bhi AS (SELECT rr.item, rr.s AS ci_hi FROM rr JOIN rs ON rs.item = rr.item
       |        WHERE rr.r = (39 * rs.n_reps + 39) // 40)
       |SELECT w.item, w.wins, g.games, $btStrengthExpr AS strength,
       |       blo.ci_lo, bhi.ci_hi, rs.n_reps
       |FROM w JOIN p5 ON p5.item = w.item
       |JOIN g ON g.item = w.item CROSS JOIN tot
       |JOIN blo ON blo.item = w.item
       |JOIN bhi ON bhi.item = w.item
       |JOIN rs ON rs.item = w.item""".stripMargin
  }

  /** Spliced-literal oracles are valid only after their query trained
    * its state in THIS process (graft.Verify dumps oracleSql AFTER the
    * queries run, so a full gate always passes every guard). On a
    * query-subset run that skipped the query, the splice state is
    * unset and the emitted SQL would replay IDENTITY rotations — wrong
    * for any later replay — so those entries are omitted instead.
    */
  def oracleSql: Map[String, String] = {
    val gates: Map[String, () => Boolean] = Map(
      "q225_opq_rotation" -> (() => Queries.opqSpliceReady),
      "q226_opq_ivfadc" -> (() => Queries.opqSpliceReady),
      "q227_opq_recall" -> (() => Queries.opqSpliceReady),
      "q250_block_opq" ->
        (() => Queries.opqSpliceReady && Queries.blockOpqSpliceReady),
      "q253_dim512_serving" -> (() => Queries.x512SpliceReady),
      "q259_adaptive_dim512" -> (() => Queries.x512SpliceReady),
      "q259b_dim512_probe_mass" -> (() => Queries.x512SpliceReady),
      "q267_dim512_lakehouse" -> (() => Queries.x512SpliceReady),
      "q271_dim512_calibrated" -> (() => Queries.x512SpliceReady),
      "q272_bit_budget_ladder" -> (() => Queries.x512SpliceReady),
      "q273_filtered_lakehouse" -> (() => Queries.x512SpliceReady))
    oracleSqlAll.filter { case (k, _) => gates.get(k).forall(_()) }
  }

  private def oracleSqlAll: Map[String, String] = Map(
    "q202_bucket_mass" -> portableBucketMassOracle,
    "q203_pq_codebooks" -> pqOracle(
      "SELECT sub, code, pos, val FROM c2"),
    "q204_pq_encode" -> pqOracle(
      "SELECT vec_id, sub, code FROM a3"),
    "q205_pq_adc" -> pqOracle(
      """, adc AS (
        |  SELECT l.vec_id AS q_id, a.vec_id,
        |         round(CAST(sum(l.d) AS DOUBLE), 6) AS dist
        |  FROM a3 a JOIN d3 l ON l.sub = a.sub AND l.code = a.code
        |  WHERE l.vec_id % 97 = 0 AND a.vec_id <> l.vec_id
        |  GROUP BY 1, 2)
        |SELECT q_id, vec_id, dist FROM (
        |  SELECT *, row_number() OVER (PARTITION BY q_id
        |                               ORDER BY dist ASC, vec_id ASC) AS rn
        |  FROM adc)
        |WHERE rn <= 5""".stripMargin),
    // the q205 ADC ranking restricted to the query's own coarse list
    // (frozen 4-way router: argmax of the quarter-leading elements)
    "q208_ivfpq_probe" -> pqOracle(
      """, lst AS (
        |  SELECT vec_id, list FROM (
        |    SELECT e.vec_id, j.j AS list,
        |           row_number() OVER (PARTITION BY e.vec_id
        |                              ORDER BY CAST(e.embedding[j.j * 16 + 1] AS DOUBLE) DESC,
        |                                       j.j ASC) AS rn
        |    FROM embeddings e,
        |         (SELECT CAST(unnest(generate_series(0, 3)) AS INTEGER) AS j) j)
        |  WHERE rn = 1),
        |adc AS (
        |  SELECT l.vec_id AS q_id, a.vec_id,
        |         round(CAST(sum(l.d) AS DOUBLE), 6) AS dist
        |  FROM a3 a JOIN d3 l ON l.sub = a.sub AND l.code = a.code
        |  JOIN lst ql ON ql.vec_id = l.vec_id
        |  JOIN lst cl ON cl.vec_id = a.vec_id AND cl.list = ql.list
        |  WHERE l.vec_id % 97 = 0 AND a.vec_id <> l.vec_id
        |  GROUP BY 1, 2)
        |SELECT q_id, vec_id, dist FROM (
        |  SELECT *, row_number() OVER (PARTITION BY q_id
        |                               ORDER BY dist ASC, vec_id ASC) AS rn
        |  FROM adc)
        |WHERE rn <= 5""".stripMargin),
    // exact brute-force L2 top-5 (left-to-right fold from a 0.0 seed,
    // the native kernel's bit contract) vs the q205 ADC top-5
    "q209_pq_recall" -> pqOracle(
      """, ex AS (
        |  SELECT q_id, vec_id FROM (
        |    SELECT q.vec_id AS q_id, c.vec_id,
        |           row_number() OVER (PARTITION BY q.vec_id ORDER BY
        |             round(list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
        |               list_transform(generate_series(1, 64), i ->
        |                 (CAST(q.embedding[i] AS DOUBLE) - CAST(c.embedding[i] AS DOUBLE))
        |                 * (CAST(q.embedding[i] AS DOUBLE) - CAST(c.embedding[i] AS DOUBLE)))),
        |               (x, y) -> x + y), 6) ASC, c.vec_id ASC) AS rn
        |    FROM embeddings q JOIN embeddings c ON c.vec_id <> q.vec_id
        |    WHERE q.vec_id % 97 = 0)
        |  WHERE rn <= 5),
        |adc AS (
        |  SELECT l.vec_id AS q_id, a.vec_id,
        |         round(CAST(sum(l.d) AS DOUBLE), 6) AS dist
        |  FROM a3 a JOIN d3 l ON l.sub = a.sub AND l.code = a.code
        |  WHERE l.vec_id % 97 = 0 AND a.vec_id <> l.vec_id
        |  GROUP BY 1, 2),
        |apx AS (
        |  SELECT q_id, vec_id FROM (
        |    SELECT *, row_number() OVER (PARTITION BY q_id
        |                                 ORDER BY dist ASC, vec_id ASC) AS rn
        |    FROM adc)
        |  WHERE rn <= 5)
        |SELECT a.q_id, CAST(count(e.vec_id) AS BIGINT) AS hits
        |FROM apx a LEFT JOIN ex e ON e.q_id = a.q_id AND e.vec_id = a.vec_id
        |GROUP BY 1""".stripMargin),
    // q211's projection chain at 16 coordinates, signs packed to one
    // BIGINT, Hamming ranking via xor+bit_count vs the exact cosine
    "q216_hamming_recall" ->
      """WITH ij AS (
        |  SELECT i.i, j.j,
        |         CAST(list_reduce(list_prepend(CAST(0 AS BIGINT),
        |            list_transform(string_split('jl|' || i.i || '|' || j.j, ''),
        |              c -> CAST(ascii(c) AS BIGINT))),
        |            (a, q) -> (a * 131 + q) % 281474976710656) % 3 - 1
        |           AS INTEGER) AS s
        |  FROM (SELECT CAST(unnest(generate_series(0, 63)) AS INTEGER) AS i) i,
        |       (SELECT CAST(unnest(generate_series(0, 15)) AS INTEGER) AS j) j),
        |pv AS (
        |  SELECT e.vec_id, ij.j,
        |         CAST(CAST(sum(CAST(round(CAST(e.embedding[ij.i + 1] AS DOUBLE) * ij.s, 6)
        |                            AS DECIMAL(18,6))) AS DOUBLE) AS FLOAT) AS p
        |  FROM embeddings e, ij
        |  GROUP BY 1, 2),
        |sg AS (
        |  SELECT vec_id,
        |         CAST(sum(CASE WHEN p > 0 THEN CAST(1 AS BIGINT) << j
        |                       ELSE 0 END) AS BIGINT) AS sig
        |  FROM pv GROUP BY 1),
        |apx AS (
        |  SELECT q_id, vec_id FROM (
        |    SELECT q.vec_id AS q_id, c.vec_id,
        |           row_number() OVER (PARTITION BY q.vec_id ORDER BY
        |             bit_count(xor(q.sig, c.sig)) ASC, c.vec_id ASC) AS rn
        |    FROM sg q JOIN sg c ON c.vec_id <> q.vec_id
        |    WHERE q.vec_id % 97 = 0)
        |  WHERE rn <= 5),
        |ex AS (
        |  SELECT q_id, vec_id FROM (
        |    SELECT q.vec_id AS q_id, c.vec_id,
        |           row_number() OVER (PARTITION BY q.vec_id ORDER BY
        |             round(list_cosine_similarity(q.embedding::DOUBLE[], c.embedding::DOUBLE[]), 6) DESC,
        |             c.vec_id ASC) AS rn
        |    FROM embeddings q JOIN embeddings c ON c.vec_id <> q.vec_id
        |    WHERE q.vec_id % 97 = 0)
        |  WHERE rn <= 5)
        |SELECT a.q_id, CAST(count(e.vec_id) AS BIGINT) AS hits
        |FROM apx a LEFT JOIN ex e ON e.q_id = a.q_id AND e.vec_id = a.vec_id
        |GROUP BY 1""".stripMargin,
    // the sign grid from the portable char fold mod 3, per-term rounded
    // decimal sums per projected coordinate, then both cosine rankings
    "q211_jl_recall" ->
      """WITH ij AS (
        |  SELECT i.i, j.j,
        |         CAST(list_reduce(list_prepend(CAST(0 AS BIGINT),
        |            list_transform(string_split('jl|' || i.i || '|' || j.j, ''),
        |              c -> CAST(ascii(c) AS BIGINT))),
        |            (a, q) -> (a * 131 + q) % 281474976710656) % 3 - 1
        |           AS INTEGER) AS s
        |  FROM (SELECT CAST(unnest(generate_series(0, 63)) AS INTEGER) AS i) i,
        |       (SELECT CAST(unnest(generate_series(0, 7)) AS INTEGER) AS j) j),
        |pv AS (
        |  SELECT e.vec_id, ij.j,
        |         CAST(CAST(sum(CAST(round(CAST(e.embedding[ij.i + 1] AS DOUBLE) * ij.s, 6)
        |                            AS DECIMAL(18,6))) AS DOUBLE) AS FLOAT) AS p
        |  FROM embeddings e, ij
        |  GROUP BY 1, 2),
        |parr AS (
        |  SELECT vec_id, list(p ORDER BY j ASC) AS proj FROM pv GROUP BY 1),
        |apx AS (
        |  SELECT q_id, vec_id FROM (
        |    SELECT q.vec_id AS q_id, c.vec_id,
        |           row_number() OVER (PARTITION BY q.vec_id ORDER BY
        |             round(list_cosine_similarity(q.proj::DOUBLE[], c.proj::DOUBLE[]), 6) DESC,
        |             c.vec_id ASC) AS rn
        |    FROM parr q JOIN parr c ON c.vec_id <> q.vec_id
        |    WHERE q.vec_id % 97 = 0)
        |  WHERE rn <= 5),
        |ex AS (
        |  SELECT q_id, vec_id FROM (
        |    SELECT q.vec_id AS q_id, c.vec_id,
        |           row_number() OVER (PARTITION BY q.vec_id ORDER BY
        |             round(list_cosine_similarity(q.embedding::DOUBLE[], c.embedding::DOUBLE[]), 6) DESC,
        |             c.vec_id ASC) AS rn
        |    FROM embeddings q JOIN embeddings c ON c.vec_id <> q.vec_id
        |    WHERE q.vec_id % 97 = 0)
        |  WHERE rn <= 5)
        |SELECT a.q_id, CAST(count(e.vec_id) AS BIGINT) AS hits
        |FROM apx a LEFT JOIN ex e ON e.q_id = a.q_id AND e.vec_id = a.vec_id
        |GROUP BY 1""".stripMargin,
    // recall@5 of pure ADC vs the two-stage rerank against the exact
    // top-5 — the rerank recovers every exact-top-5 member inside the
    // candidate set, so rerank_hits >= adc_hits by construction
    "q215_rerank_gain" -> pqOracle(
      """, adc AS (
        |  SELECT l.vec_id AS q_id, a.vec_id,
        |         round(CAST(sum(l.d) AS DOUBLE), 6) AS dist
        |  FROM a3 a JOIN d3 l ON l.sub = a.sub AND l.code = a.code
        |  WHERE l.vec_id % 97 = 0 AND a.vec_id <> l.vec_id
        |  GROUP BY 1, 2),
        |rk AS (
        |  SELECT q_id, vec_id,
        |         row_number() OVER (PARTITION BY q_id
        |                            ORDER BY dist ASC, vec_id ASC) AS rn
        |  FROM adc),
        |cand AS (SELECT q_id, vec_id FROM rk WHERE rn <= 20),
        |adc5 AS (SELECT q_id, vec_id FROM rk WHERE rn <= 5),
        |rr AS (
        |  SELECT c.q_id, c.vec_id,
        |         round(list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
        |           list_transform(generate_series(1, 64), i ->
        |             (CAST(q.embedding[i] AS DOUBLE) - CAST(x.embedding[i] AS DOUBLE))
        |             * (CAST(q.embedding[i] AS DOUBLE) - CAST(x.embedding[i] AS DOUBLE)))),
        |           (u, w) -> u + w), 6) AS l2
        |  FROM cand c
        |  JOIN embeddings q ON q.vec_id = c.q_id
        |  JOIN embeddings x ON x.vec_id = c.vec_id),
        |rerank5 AS (
        |  SELECT q_id, vec_id FROM (
        |    SELECT *, row_number() OVER (PARTITION BY q_id
        |                                 ORDER BY l2 ASC, vec_id ASC) AS rn
        |    FROM rr)
        |  WHERE rn <= 5),
        |ex AS (
        |  SELECT q_id, vec_id FROM (
        |    SELECT q.vec_id AS q_id, c.vec_id,
        |           row_number() OVER (PARTITION BY q.vec_id ORDER BY
        |             round(list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
        |               list_transform(generate_series(1, 64), i ->
        |                 (CAST(q.embedding[i] AS DOUBLE) - CAST(c.embedding[i] AS DOUBLE))
        |                 * (CAST(q.embedding[i] AS DOUBLE) - CAST(c.embedding[i] AS DOUBLE)))),
        |               (x, y) -> x + y), 6) ASC, c.vec_id ASC) AS rn
        |    FROM embeddings q JOIN embeddings c ON c.vec_id <> q.vec_id
        |    WHERE q.vec_id % 97 = 0)
        |  WHERE rn <= 5),
        |ah AS (
        |  SELECT a.q_id, CAST(count(e.vec_id) AS BIGINT) AS adc_hits
        |  FROM adc5 a LEFT JOIN ex e ON e.q_id = a.q_id AND e.vec_id = a.vec_id
        |  GROUP BY 1),
        |rh AS (
        |  SELECT r.q_id, CAST(count(e.vec_id) AS BIGINT) AS rerank_hits
        |  FROM rerank5 r LEFT JOIN ex e ON e.q_id = r.q_id AND e.vec_id = r.vec_id
        |  GROUP BY 1)
        |SELECT ah.q_id, ah.adc_hits, rh.rerank_hits
        |FROM ah JOIN rh ON rh.q_id = ah.q_id""".stripMargin),
    // q208's within-list ADC top-20 nominates; the exact left-to-right
    // L2 fold reranks only those candidate rows to the final top-5
    "q214_ann_rerank" -> pqOracle(
      """, lst AS (
        |  SELECT vec_id, list FROM (
        |    SELECT e.vec_id, j.j AS list,
        |           row_number() OVER (PARTITION BY e.vec_id
        |                              ORDER BY CAST(e.embedding[j.j * 16 + 1] AS DOUBLE) DESC,
        |                                       j.j ASC) AS rn
        |    FROM embeddings e,
        |         (SELECT CAST(unnest(generate_series(0, 3)) AS INTEGER) AS j) j)
        |  WHERE rn = 1),
        |adc AS (
        |  SELECT l.vec_id AS q_id, a.vec_id,
        |         round(CAST(sum(l.d) AS DOUBLE), 6) AS dist
        |  FROM a3 a JOIN d3 l ON l.sub = a.sub AND l.code = a.code
        |  JOIN lst ql ON ql.vec_id = l.vec_id
        |  JOIN lst cl ON cl.vec_id = a.vec_id AND cl.list = ql.list
        |  WHERE l.vec_id % 97 = 0 AND a.vec_id <> l.vec_id
        |  GROUP BY 1, 2),
        |cand AS (
        |  SELECT q_id, vec_id FROM (
        |    SELECT *, row_number() OVER (PARTITION BY q_id
        |                                 ORDER BY dist ASC, vec_id ASC) AS rn
        |    FROM adc)
        |  WHERE rn <= 20),
        |rr AS (
        |  SELECT c.q_id, c.vec_id,
        |         round(list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
        |           list_transform(generate_series(1, 64), i ->
        |             (CAST(q.embedding[i] AS DOUBLE) - CAST(x.embedding[i] AS DOUBLE))
        |             * (CAST(q.embedding[i] AS DOUBLE) - CAST(x.embedding[i] AS DOUBLE)))),
        |           (u, w) -> u + w), 6) AS l2
        |  FROM cand c
        |  JOIN embeddings q ON q.vec_id = c.q_id
        |  JOIN embeddings x ON x.vec_id = c.vec_id)
        |SELECT q_id, vec_id, l2 FROM (
        |  SELECT *, row_number() OVER (PARTITION BY q_id
        |                               ORDER BY l2 ASC, vec_id ASC) AS rn
        |  FROM rr)
        |WHERE rn <= 5""".stripMargin),
    // the frozen coarse router replayed, then pure count arithmetic
    "q213_probe_mass" ->
      """WITH lst AS (
        |  SELECT vec_id, list FROM (
        |    SELECT e.vec_id, j.j AS list,
        |           row_number() OVER (PARTITION BY e.vec_id
        |                              ORDER BY CAST(e.embedding[j.j * 16 + 1] AS DOUBLE) DESC,
        |                                       j.j ASC) AS rn
        |    FROM embeddings e,
        |         (SELECT CAST(unnest(generate_series(0, 3)) AS INTEGER) AS j) j)
        |  WHERE rn = 1),
        |qn AS (SELECT list, count(*) AS n_queries FROM lst
        |       WHERE vec_id % 97 = 0 GROUP BY 1),
        |cn AS (SELECT list, count(*) AS n_codes FROM lst GROUP BY 1)
        |SELECT coalesce(qn.list, cn.list) AS list,
        |       coalesce(qn.n_queries, 0) AS n_queries,
        |       coalesce(cn.n_codes, 0) AS n_codes,
        |       coalesce(qn.n_queries, 0) * coalesce(cn.n_codes, 0) AS pairs
        |FROM qn FULL OUTER JOIN cn ON cn.list = qn.list""".stripMargin,
    // q208's within-list ADC probe with codes and LUT in RESIDUAL space
    // (the canonical IVFADC): d3r/a3r are the residual-chain twins of
    // d3/a3, residuals taken vs each vector's own-list mean centroid
    "q217_ivfpq_residual_probe" -> pqResidualOracle(
      """, adc AS (
        |  SELECT l.vec_id AS q_id, a.vec_id,
        |         round(CAST(sum(l.d) AS DOUBLE), 6) AS dist
        |  FROM a3r a JOIN d3r l ON l.sub = a.sub AND l.code = a.code
        |  JOIN lst ql ON ql.vec_id = l.vec_id
        |  JOIN lst cl ON cl.vec_id = a.vec_id AND cl.list = ql.list
        |  WHERE l.vec_id % 97 = 0 AND a.vec_id <> l.vec_id
        |  GROUP BY 1, 2)
        |SELECT q_id, vec_id, dist FROM (
        |  SELECT *, row_number() OVER (PARTITION BY q_id
        |                               ORDER BY dist ASC, vec_id ASC) AS rn
        |  FROM adc)
        |WHERE rn <= 5""".stripMargin),
    // both chains at the same bit budget: within-list raw top-5 vs
    // within-list residual top-5, each scored against the exact L2 top-5
    "q218_residual_recall" -> pqBothOracle(
      """, ex AS (
        |  SELECT q_id, vec_id FROM (
        |    SELECT q.vec_id AS q_id, c.vec_id,
        |           row_number() OVER (PARTITION BY q.vec_id ORDER BY
        |             round(list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
        |               list_transform(generate_series(1, 64), i ->
        |                 (CAST(q.embedding[i] AS DOUBLE) - CAST(c.embedding[i] AS DOUBLE))
        |                 * (CAST(q.embedding[i] AS DOUBLE) - CAST(c.embedding[i] AS DOUBLE)))),
        |               (x, y) -> x + y), 6) ASC, c.vec_id ASC) AS rn
        |    FROM embeddings q JOIN embeddings c ON c.vec_id <> q.vec_id
        |    WHERE q.vec_id % 97 = 0)
        |  WHERE rn <= 5),
        |rawadc AS (
        |  SELECT l.vec_id AS q_id, a.vec_id,
        |         round(CAST(sum(l.d) AS DOUBLE), 6) AS dist
        |  FROM a3 a JOIN d3 l ON l.sub = a.sub AND l.code = a.code
        |  JOIN lst ql ON ql.vec_id = l.vec_id
        |  JOIN lst cl ON cl.vec_id = a.vec_id AND cl.list = ql.list
        |  WHERE l.vec_id % 97 = 0 AND a.vec_id <> l.vec_id
        |  GROUP BY 1, 2),
        |raw5 AS (
        |  SELECT q_id, vec_id FROM (
        |    SELECT *, row_number() OVER (PARTITION BY q_id
        |                                 ORDER BY dist ASC, vec_id ASC) AS rn
        |    FROM rawadc)
        |  WHERE rn <= 5),
        |residadc AS (
        |  SELECT l.vec_id AS q_id, a.vec_id,
        |         round(CAST(sum(l.d) AS DOUBLE), 6) AS dist
        |  FROM a3r a JOIN d3r l ON l.sub = a.sub AND l.code = a.code
        |  JOIN lst ql ON ql.vec_id = l.vec_id
        |  JOIN lst cl ON cl.vec_id = a.vec_id AND cl.list = ql.list
        |  WHERE l.vec_id % 97 = 0 AND a.vec_id <> l.vec_id
        |  GROUP BY 1, 2),
        |res5 AS (
        |  SELECT q_id, vec_id FROM (
        |    SELECT *, row_number() OVER (PARTITION BY q_id
        |                                 ORDER BY dist ASC, vec_id ASC) AS rn
        |    FROM residadc)
        |  WHERE rn <= 5),
        |rh AS (
        |  SELECT r.q_id, CAST(count(e.vec_id) AS BIGINT) AS raw_hits
        |  FROM raw5 r LEFT JOIN ex e ON e.q_id = r.q_id AND e.vec_id = r.vec_id
        |  GROUP BY 1),
        |sh AS (
        |  SELECT r.q_id, CAST(count(e.vec_id) AS BIGINT) AS resid_hits
        |  FROM res5 r LEFT JOIN ex e ON e.q_id = r.q_id AND e.vec_id = r.vec_id
        |  GROUP BY 1)
        |SELECT rh.q_id, rh.raw_hits, sh.resid_hits
        |FROM rh JOIN sh ON sh.q_id = rh.q_id""".stripMargin),
    // multi-probe: queries replicated to their 2 nearest coarse
    // centroids (exact decimal L2, ties to the lower list), residual
    // LUTs per probed list, recall at nProbe=1 vs nProbe=2
    // adaptive vs fixed probe width on the planted-cluster surface,
    // IVF-PQ tier: residual codebooks trained in-SQL (salt pqc), probe
    // sets from the exact decimal centroid distances (adaptive rule =
    // double-cast 2.0 ratio test), per-scheme probe count / priced
    // pair mass / recall@5 against the exact GT over the same surface
    "q255_adaptive_probe" ->
      s"""WITH $pqSubsPs,
        |$adaptiveClusterCtes,
        |rvcs AS MATERIALIZED (
        |  SELECT vec_id, CAST(fpos // 8 AS INTEGER) AS sub,
        |         CAST(fpos % 8 AS INTEGER) AS pos, val FROM rvc),
        |${pqTrainCtes("rvcs", "pqc", "c")},
        |dqc AS (
        |  SELECT q.vec_id, q.list, q.f1, q.f2, q.fa,
        |         CAST(q.fpos // 8 AS INTEGER) AS sub, cb.code,
        |         sum(CAST(round((q.val - cb.val) * (q.val - cb.val), 6)
        |                  AS DECIMAL(18,6))) AS d
        |  FROM qrvc q JOIN c2c cb ON cb.sub = CAST(q.fpos // 8 AS INTEGER)
        |                         AND cb.pos = CAST(q.fpos % 8 AS INTEGER)
        |  GROUP BY 1, 2, 3, 4, 5, 6, 7),
        |amc AS (
        |  SELECT dq.vec_id AS q_id, a.vec_id, dq.f1, dq.f2, dq.fa,
        |         round(CAST(sum(dq.d) AS DOUBLE), 6) AS dist
        |  FROM a3c a JOIN lstc cl ON cl.vec_id = a.vec_id
        |  JOIN dqc dq ON dq.list = cl.list AND dq.sub = a.sub
        |             AND dq.code = a.code
        |  WHERE a.vec_id <> dq.vec_id
        |  GROUP BY 1, 2, 3, 4, 5),
        |${adaptiveTopsAndSelect("amc", "dist")}""".stripMargin,
    // the deployed pipeline with the adaptive router composed in:
    // adaptive probe -> residual PQ ADC top-20 -> exact rerank top-5,
    // replayed end-to-end on the planted-cluster surface
    "q258_adaptive_serving" ->
      s"""WITH $pqSubsPs,
        |$adaptiveClusterCtes,
        |rvcs AS MATERIALIZED (
        |  SELECT vec_id, CAST(fpos // 8 AS INTEGER) AS sub,
        |         CAST(fpos % 8 AS INTEGER) AS pos, val FROM rvc),
        |${pqTrainCtes("rvcs", "pqc", "c")},
        |dqa AS (
        |  SELECT q.vec_id, q.list,
        |         CAST(q.fpos // 8 AS INTEGER) AS sub, cb.code,
        |         sum(CAST(round((q.val - cb.val) * (q.val - cb.val), 6)
        |                  AS DECIMAL(18,6))) AS d
        |  FROM qrvc q JOIN c2c cb ON cb.sub = CAST(q.fpos // 8 AS INTEGER)
        |                         AND cb.pos = CAST(q.fpos % 8 AS INTEGER)
        |  WHERE q.fa
        |  GROUP BY 1, 2, 3, 4),
        |ama AS (
        |  SELECT dq.vec_id AS q_id, a.vec_id,
        |         round(CAST(sum(dq.d) AS DOUBLE), 6) AS dist
        |  FROM a3c a JOIN lstc cl ON cl.vec_id = a.vec_id
        |  JOIN dqa dq ON dq.list = cl.list AND dq.sub = a.sub
        |             AND dq.code = a.code
        |  WHERE a.vec_id <> dq.vec_id
        |  GROUP BY 1, 2),
        |canda AS (
        |  SELECT q_id, vec_id FROM (
        |    SELECT q_id, vec_id,
        |           row_number() OVER (PARTITION BY q_id
        |                              ORDER BY dist ASC, vec_id ASC) AS rn
        |    FROM ama)
        |  WHERE rn <= 20),
        |rra AS (
        |  SELECT c.q_id, c.vec_id,
        |         round(list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
        |           list_transform(generate_series(1, 64), i ->
        |             (q.vec[i] - x.vec[i]) * (q.vec[i] - x.vec[i]))),
        |           (u, w) -> u + w), 6) AS l2
        |  FROM canda c
        |  JOIN cva q ON q.vec_id = c.q_id
        |  JOIN cva x ON x.vec_id = c.vec_id)
        |SELECT q_id, vec_id, l2 FROM (
        |  SELECT q_id, vec_id, l2,
        |         row_number() OVER (PARTITION BY q_id
        |                            ORDER BY l2 ASC, vec_id ASC) AS rn
        |  FROM rra)
        |WHERE rn <= 5""".stripMargin,
    // the same trade on the SQ8 tier: residual byte grid recomputed
    // from the data (no splicing), dequantized ADC, shared probe rule
    // the adaptive trade under SKEWED list mass and CONTINUOUS margins
    // (the q260 Zipf surface): same SQ8 tier, same probe rule, the
    // fixture swapped under the shared audit chain
    "q260_zipf_adaptive" ->
      s"""WITH ${adaptiveAuditCtes(zipfFvcCte)},
        |sqstc AS MATERIALIZED (
        |  SELECT fpos, min(val) AS mn, max(val) AS mx FROM rvc GROUP BY 1),
        |sqdecc AS MATERIALIZED (
        |  SELECT r.vec_id, r.list, r.fpos,
        |         s.mn + CAST(CASE WHEN s.mx = s.mn THEN 0
        |              ELSE least(greatest(CAST(round((r.val - s.mn)
        |                                / (s.mx - s.mn) * 255.0) AS BIGINT),
        |                                  0), 255) END AS DOUBLE)
        |              * (s.mx - s.mn) / 255.0 AS dx
        |  FROM rvc r JOIN sqstc s USING (fpos)),
        |amc AS (
        |  SELECT q.vec_id AS q_id, dc.vec_id, q.f1, q.f2, q.fa,
        |         CAST(sum(CAST(round((q.val - dc.dx) * (q.val - dc.dx), 6)
        |                       AS DECIMAL(18,6))) AS DOUBLE) AS d
        |  FROM qrvc q JOIN sqdecc dc ON dc.list = q.list AND dc.fpos = q.fpos
        |                            AND dc.vec_id <> q.vec_id
        |  GROUP BY 1, 2, 3, 4, 5),
        |${adaptiveTopsAndSelect("amc", "d")}""".stripMargin,
    // BUDGET-calibrated probing on the same Zipf surface: extra probes
    // granted to the globally smallest 6-dp margin ratios (ties by
    // vec_id, centroid rank), exactly 9 / 18 of them — the implied
    // threshold is the budget-th order statistic, never an a-priori 2.0
    "q263_zipf_budgeted" ->
      s"""WITH ${adaptiveAuditCtes(zipfFvcCte)},
        |grb AS (
        |  SELECT vec_id, list,
        |         row_number() OVER (ORDER BY ratio ASC, vec_id ASC, pr ASC)
        |           AS grk
        |  FROM (SELECT q.vec_id, q.list, q.pr,
        |               round(CAST(q.d AS DOUBLE) / CAST(b.d1 AS DOUBLE), 6)
        |                 AS ratio
        |        FROM qpdc q
        |        JOIN (SELECT vec_id, d AS d1 FROM qpdc WHERE pr = 1) b
        |          ON b.vec_id = q.vec_id
        |        WHERE q.pr BETWEEN 2 AND 4 AND CAST(b.d1 AS DOUBLE) > 0)),
        |qselb AS (
        |  SELECT q.vec_id, q.list, (q.pr = 1) AS f1, (q.pr <= 2) AS f2,
        |         (q.pr = 1 OR coalesce(g.grk, 1000000) <= 9) AS b9,
        |         (q.pr = 1 OR coalesce(g.grk, 1000000) <= 18) AS b18
        |  FROM qpdc q LEFT JOIN grb g ON g.vec_id = q.vec_id
        |                             AND g.list = q.list),
        |qrvb AS MATERIALIZED (
        |  SELECT f.vec_id, qs.list, qs.f1, qs.f2, qs.b9, qs.b18, f.fpos,
        |         f.val - cc.val AS val
        |  FROM fvc f JOIN qselb qs ON qs.vec_id = f.vec_id
        |                          AND (qs.f2 OR qs.b18)
        |  JOIN ccc cc ON cc.list = qs.list AND cc.fpos = f.fpos),
        |pairsrcb AS (
        |  SELECT qs.f1, qs.f2, qs.b9, qs.b18
        |  FROM qselb qs JOIN lstc cl ON cl.list = qs.list
        |                            AND cl.vec_id <> qs.vec_id),
        |sqstc AS MATERIALIZED (
        |  SELECT fpos, min(val) AS mn, max(val) AS mx FROM rvc GROUP BY 1),
        |sqdecc AS MATERIALIZED (
        |  SELECT r.vec_id, r.list, r.fpos,
        |         s.mn + CAST(CASE WHEN s.mx = s.mn THEN 0
        |              ELSE least(greatest(CAST(round((r.val - s.mn)
        |                                / (s.mx - s.mn) * 255.0) AS BIGINT),
        |                                  0), 255) END AS DOUBLE)
        |              * (s.mx - s.mn) / 255.0 AS dx
        |  FROM rvc r JOIN sqstc s USING (fpos)),
        |amb AS (
        |  SELECT q.vec_id AS q_id, dc.vec_id, q.f1, q.f2, q.b9, q.b18,
        |         CAST(sum(CAST(round((q.val - dc.dx) * (q.val - dc.dx), 6)
        |                       AS DECIMAL(18,6))) AS DOUBLE) AS d
        |  FROM qrvb q JOIN sqdecc dc ON dc.list = q.list AND dc.fpos = q.fpos
        |                            AND dc.vec_id <> q.vec_id
        |  GROUP BY 1, 2, 3, 4, 5, 6),
        |tb1 AS (
        |  SELECT q_id, vec_id FROM (
        |    SELECT q_id, vec_id,
        |           row_number() OVER (PARTITION BY q_id
        |                              ORDER BY d ASC, vec_id ASC) AS rn
        |    FROM amb WHERE f1) WHERE rn <= 5),
        |tb2 AS (
        |  SELECT q_id, vec_id FROM (
        |    SELECT q_id, vec_id,
        |           row_number() OVER (PARTITION BY q_id
        |                              ORDER BY d ASC, vec_id ASC) AS rn
        |    FROM amb WHERE f2) WHERE rn <= 5),
        |tb9 AS (
        |  SELECT q_id, vec_id FROM (
        |    SELECT q_id, vec_id,
        |           row_number() OVER (PARTITION BY q_id
        |                              ORDER BY d ASC, vec_id ASC) AS rn
        |    FROM amb WHERE b9) WHERE rn <= 5),
        |tb18 AS (
        |  SELECT q_id, vec_id FROM (
        |    SELECT q_id, vec_id,
        |           row_number() OVER (PARTITION BY q_id
        |                              ORDER BY d ASC, vec_id ASC) AS rn
        |    FROM amb WHERE b18) WHERE rn <= 5),
        |ngt AS (SELECT count(*) AS n FROM exc)
        |SELECT 'fixed1' AS scheme,
        |       (SELECT count(*) FROM qselb WHERE f1) AS probes,
        |       (SELECT count(*) FROM pairsrcb WHERE f1) AS pairs,
        |       (SELECT count(*) FROM tb1 JOIN exc USING (q_id, vec_id)) AS hits,
        |       (SELECT n FROM ngt) AS n_gt,
        |       round(CAST((SELECT count(*) FROM tb1 JOIN exc USING (q_id, vec_id))
        |                  AS DOUBLE) / CAST((SELECT n FROM ngt) AS DOUBLE), 6)
        |         AS recall
        |UNION ALL
        |SELECT 'budget9',
        |       (SELECT count(*) FROM qselb WHERE b9),
        |       (SELECT count(*) FROM pairsrcb WHERE b9),
        |       (SELECT count(*) FROM tb9 JOIN exc USING (q_id, vec_id)),
        |       (SELECT n FROM ngt),
        |       round(CAST((SELECT count(*) FROM tb9 JOIN exc USING (q_id, vec_id))
        |                  AS DOUBLE) / CAST((SELECT n FROM ngt) AS DOUBLE), 6)
        |UNION ALL
        |SELECT 'budget18',
        |       (SELECT count(*) FROM qselb WHERE b18),
        |       (SELECT count(*) FROM pairsrcb WHERE b18),
        |       (SELECT count(*) FROM tb18 JOIN exc USING (q_id, vec_id)),
        |       (SELECT n FROM ngt),
        |       round(CAST((SELECT count(*) FROM tb18 JOIN exc USING (q_id, vec_id))
        |                  AS DOUBLE) / CAST((SELECT n FROM ngt) AS DOUBLE), 6)
        |UNION ALL
        |SELECT 'fixed2',
        |       (SELECT count(*) FROM qselb WHERE f2),
        |       (SELECT count(*) FROM pairsrcb WHERE f2),
        |       (SELECT count(*) FROM tb2 JOIN exc USING (q_id, vec_id)),
        |       (SELECT n FROM ngt),
        |       round(CAST((SELECT count(*) FROM tb2 JOIN exc USING (q_id, vec_id))
        |                  AS DOUBLE) / CAST((SELECT n FROM ngt) AS DOUBLE), 6)""".stripMargin,
    // soft-EM training at REALISTIC vocab width: one trainVocabulary
    // round at target 2048 over a 4117-piece seed on the bounded
    // rich-lexicon corpus — lattice, prune, and ll replayed at width
    "q261_vocab_width" ->
      s"""WITH ${vocabWidthCtes(4096)},
        |${unigramSoftDp("vocab", "")},
        |ll1 AS (SELECT round(CAST(sum(
        |          CAST(round(ln(alpha[CAST(len + 1 AS INTEGER)]), 6)
        |               AS DECIMAL(18,6)) * freq) AS DOUBLE), 6) AS ll
        |        FROM salph),
        |sng1 AS (
        |  SELECT v.piece,
        |         greatest(coalesce(round(CAST(s.scnt AS DOUBLE), 6),
        |                           CAST(0.0 AS DOUBLE)),
        |                  CAST(0.000001 AS DOUBLE)) AS cnt
        |  FROM vocab v LEFT JOIN scnt s USING (piece)
        |  WHERE length(v.piece) = 1),
        |mul1 AS (
        |  SELECT piece, sc AS cnt FROM (
        |    SELECT piece, round(CAST(scnt AS DOUBLE), 6) AS sc,
        |           row_number() OVER (ORDER BY round(CAST(scnt AS DOUBLE), 6)
        |                              DESC, piece ASC) AS rn
        |    FROM scnt
        |    WHERE length(piece) > 1 AND round(CAST(scnt AS DOUBLE), 6) > 0)
        |  WHERE rn <= 2048 - (SELECT count(*) FROM sng1)),
        |kept1 AS (SELECT * FROM sng1 UNION ALL SELECT * FROM mul1)
        |SELECT CAST(1 AS BIGINT) AS round,
        |       (SELECT CAST(count(*) AS BIGINT) FROM kept1) AS n_vocab,
        |       (SELECT ll FROM ll1) AS corpus_ll""".stripMargin,
    // the trained model CONTENT-pinned at width: hard-EM round over the
    // same corpus with a 2045-piece vocab, every piece/cost/count row
    "q261b_vocab_width_model" ->
      s"""WITH ${vocabWidthCtes(2024)},
        |${unigramDp("vocab", "")},
        |segs AS (
        |  SELECT w, freq,
        |         substr(w, CAST((pk >> 6) + 1 AS INTEGER),
        |                CAST(pk & 63 AS INTEGER)) AS piece
        |  FROM (SELECT w, freq, unnest(tr[2:]) AS pk FROM bt)),
        |cnt AS (SELECT piece, CAST(sum(freq) AS BIGINT) AS viterbi_cnt
        |        FROM segs GROUP BY 1),
        |tt AS (SELECT CAST(sum(viterbi_cnt) AS BIGINT) AS tot1 FROM cnt)
        |SELECT v.piece, v.seed_freq, v.icost AS cost0,
        |       coalesce(c.viterbi_cnt, 0) AS viterbi_cnt,
        |       CASE WHEN c.viterbi_cnt IS NOT NULL THEN
        |         round(ln(CAST(c.viterbi_cnt AS DOUBLE))
        |               - ln(CAST((SELECT tot1 FROM tt) AS DOUBLE)), 6)
        |       END AS logp1
        |FROM vocab v LEFT JOIN cnt c USING (piece)""".stripMargin,
    "q256_sq8_adaptive" ->
      s"""WITH $adaptiveClusterCtes,
        |sqstc AS MATERIALIZED (
        |  SELECT fpos, min(val) AS mn, max(val) AS mx FROM rvc GROUP BY 1),
        |sqdecc AS MATERIALIZED (
        |  SELECT r.vec_id, r.list, r.fpos,
        |         s.mn + CAST(CASE WHEN s.mx = s.mn THEN 0
        |              ELSE least(greatest(CAST(round((r.val - s.mn)
        |                                / (s.mx - s.mn) * 255.0) AS BIGINT),
        |                                  0), 255) END AS DOUBLE)
        |              * (s.mx - s.mn) / 255.0 AS dx
        |  FROM rvc r JOIN sqstc s USING (fpos)),
        |amc AS (
        |  SELECT q.vec_id AS q_id, dc.vec_id, q.f1, q.f2, q.fa,
        |         CAST(sum(CAST(round((q.val - dc.dx) * (q.val - dc.dx), 6)
        |                       AS DECIMAL(18,6))) AS DOUBLE) AS d
        |  FROM qrvc q JOIN sqdecc dc ON dc.list = q.list AND dc.fpos = q.fpos
        |                            AND dc.vec_id <> q.vec_id
        |  GROUP BY 1, 2, 3, 4, 5),
        |${adaptiveTopsAndSelect("amc", "d")}""".stripMargin,
    "q219_multiprobe_recall" -> pqResidualOracle(
      """, qd AS (
        |  SELECT f.vec_id, cc.list,
        |         sum(CAST(round((f.val - cc.val) * (f.val - cc.val), 6)
        |                  AS DECIMAL(18,6))) AS d
        |  FROM fv f JOIN cc ON cc.fpos = f.fpos
        |  WHERE f.vec_id % 97 = 0
        |  GROUP BY 1, 2),
        |qp AS (
        |  SELECT vec_id, list,
        |         row_number() OVER (PARTITION BY vec_id
        |                            ORDER BY d ASC, list ASC) AS pr
        |  FROM qd),
        |rq AS (
        |  SELECT f.vec_id, qp.list, qp.pr, CAST(f.fpos // 8 AS INTEGER) AS sub,
        |         CAST(f.fpos % 8 AS INTEGER) AS pos, f.val - cc.val AS val
        |  FROM fv f JOIN qp ON qp.vec_id = f.vec_id AND qp.pr <= 2
        |  JOIN cc ON cc.list = qp.list AND cc.fpos = f.fpos),
        |dq AS (
        |  SELECT rq.vec_id, rq.list, rq.pr, rq.sub, cb.code,
        |         sum(CAST(round((rq.val - cb.val) * (rq.val - cb.val), 6)
        |                  AS DECIMAL(18,6))) AS d
        |  FROM rq JOIN c2r cb ON cb.sub = rq.sub AND cb.pos = rq.pos
        |  GROUP BY 1, 2, 3, 4, 5),
        |am AS (
        |  SELECT dq.vec_id AS q_id, a.vec_id, dq.pr,
        |         round(CAST(sum(dq.d) AS DOUBLE), 6) AS dist
        |  FROM a3r a JOIN lst cl ON cl.vec_id = a.vec_id
        |  JOIN dq ON dq.list = cl.list AND dq.sub = a.sub AND dq.code = a.code
        |  WHERE a.vec_id <> dq.vec_id
        |  GROUP BY 1, 2, 3),
        |p1 AS (
        |  SELECT q_id, vec_id FROM (
        |    SELECT *, row_number() OVER (PARTITION BY q_id
        |                                 ORDER BY dist ASC, vec_id ASC) AS rn
        |    FROM am WHERE pr = 1)
        |  WHERE rn <= 5),
        |p2 AS (
        |  SELECT q_id, vec_id FROM (
        |    SELECT *, row_number() OVER (PARTITION BY q_id
        |                                 ORDER BY dist ASC, vec_id ASC) AS rn
        |    FROM am)
        |  WHERE rn <= 5),
        |ex AS (
        |  SELECT q_id, vec_id FROM (
        |    SELECT q.vec_id AS q_id, c.vec_id,
        |           row_number() OVER (PARTITION BY q.vec_id ORDER BY
        |             round(list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
        |               list_transform(generate_series(1, 64), i ->
        |                 (CAST(q.embedding[i] AS DOUBLE) - CAST(c.embedding[i] AS DOUBLE))
        |                 * (CAST(q.embedding[i] AS DOUBLE) - CAST(c.embedding[i] AS DOUBLE)))),
        |               (x, y) -> x + y), 6) ASC, c.vec_id ASC) AS rn
        |    FROM embeddings q JOIN embeddings c ON c.vec_id <> q.vec_id
        |    WHERE q.vec_id % 97 = 0)
        |  WHERE rn <= 5),
        |h1 AS (
        |  SELECT p.q_id, CAST(count(e.vec_id) AS BIGINT) AS p1_hits
        |  FROM p1 p LEFT JOIN ex e ON e.q_id = p.q_id AND e.vec_id = p.vec_id
        |  GROUP BY 1),
        |h2 AS (
        |  SELECT p.q_id, CAST(count(e.vec_id) AS BIGINT) AS p2_hits
        |  FROM p2 p LEFT JOIN ex e ON e.q_id = p.q_id AND e.vec_id = p.vec_id
        |  GROUP BY 1),
        |r1 AS (
        |  SELECT e.q_id, CAST(count(q1.vec_id) AS BIGINT) AS p1_reach
        |  FROM ex e JOIN lst xl ON xl.vec_id = e.vec_id
        |  LEFT JOIN qp q1 ON q1.vec_id = e.q_id AND q1.list = xl.list
        |                 AND q1.pr <= 1
        |  GROUP BY 1),
        |r2 AS (
        |  SELECT e.q_id, CAST(count(q2.vec_id) AS BIGINT) AS p2_reach
        |  FROM ex e JOIN lst xl ON xl.vec_id = e.vec_id
        |  LEFT JOIN qp q2 ON q2.vec_id = e.q_id AND q2.list = xl.list
        |                 AND q2.pr <= 2
        |  GROUP BY 1)
        |SELECT h1.q_id, h1.p1_hits, h2.p2_hits, r1.p1_reach, r2.p2_reach
        |FROM h1 JOIN h2 ON h2.q_id = h1.q_id
        |JOIN r1 ON r1.q_id = h1.q_id JOIN r2 ON r2.q_id = h1.q_id""".stripMargin),
    // the frozen quantizer's per-vector reconstruction error (per-sub
    // min of d3, decimal-summed) on the raw corpus vs a 1.5x-scaled
    // drifted batch, both DDSketched, then the q210 W1 staircase and
    // the retrain threshold
    "q221_codebook_staleness" -> {
      val alpha = 0.01
      val gamma = (1 + alpha) / (1 - alpha)
      val lnG = math.log(gamma)
      def rep =
        s"round(CASE WHEN bucket IS NULL THEN 0.0 ELSE 2.0 * pow($gamma, CAST(bucket AS DOUBLE)) / ${gamma + 1.0} END, 6)"
      def errCte(dsrc: String) =
        s"""SELECT vec_id, round(CAST(sum(md) AS DOUBLE), 6) AS err FROM (
           |    SELECT vec_id, sub, min(d) AS md FROM $dsrc GROUP BY 1, 2)
           |  GROUP BY 1""".stripMargin
      def bucketCte(esrc: String) =
        s"""SELECT CASE WHEN err > 0 THEN CAST(ceil(ln(err) / $lnG) AS BIGINT) END AS bucket,
           |         count(*) AS cnt
           |  FROM $esrc GROUP BY 1""".stripMargin
      pqOracle(
        s""", qe AS (${errCte("d3")}),
           |svd AS (SELECT vec_id, sub, pos, val * 1.5 AS val FROM sv),
           |dd AS (
           |  SELECT sv.vec_id, sv.sub, cb.code,
           |         sum(CAST(round((sv.val - cb.val) * (sv.val - cb.val), 6)
           |                  AS DECIMAL(18,6))) AS d
           |  FROM svd sv JOIN c2 cb ON cb.sub = sv.sub AND cb.pos = sv.pos
           |  GROUP BY 1, 2, 3),
           |qed AS (${errCte("dd")}),
           |ba AS (${bucketCte("qed")}),
           |bb AS (${bucketCte("qe")}),
           |t AS (
           |  SELECT v, sum(ca) AS ca, sum(cb) AS cb FROM (
           |    SELECT $rep AS v, cnt AS ca, 0 AS cb FROM ba
           |    UNION ALL
           |    SELECT $rep AS v, 0 AS ca, cnt AS cb FROM bb) GROUP BY 1),
           |tot AS (SELECT CAST(sum(ca) AS BIGINT) AS na,
           |               CAST(sum(cb) AS BIGINT) AS nb FROM t),
           |c AS (
           |  SELECT v, sum(ca) OVER (ORDER BY v) AS cuma,
           |         sum(cb) OVER (ORDER BY v) AS cumb,
           |         lead(v) OVER (ORDER BY v) AS nextv
           |  FROM t),
           |terms AS (
           |  SELECT CAST(round((c.nextv - c.v) *
           |                CAST(abs(c.cuma * tot.nb - c.cumb * tot.na) AS DOUBLE), 6)
           |              AS DECIMAL(38,6)) AS term
           |  FROM c, tot WHERE c.nextv IS NOT NULL),
           |w AS (
           |  SELECT tot.na AS n_a, tot.nb AS n_b,
           |         round(CAST(coalesce((SELECT sum(term) FROM terms), 0) AS DOUBLE)
           |               / CAST(tot.na * tot.nb AS DOUBLE), 6) AS w1
           |  FROM tot)
           |SELECT n_a, n_b, w1, w1 > 0.5 AS retrain FROM w""".stripMargin)
    },
    // contiguous vs variance-balanced (OPQ structured-ordering)
    // subspace allocation: per-dim variance ranks, round-robin rank
    // assignment (sub = r % 8, slot = r // 8), the balanced training
    // chain at salt pqb, then exact-decimal error totals per scheme
    "q223_balanced_pq" -> pqOracle(
      s""", qe AS (
        |  SELECT vec_id, round(CAST(sum(md) AS DOUBLE), 6) AS err FROM (
        |    SELECT vec_id, sub, min(d) AS md FROM d3 GROUP BY 1, 2)
        |  GROUP BY 1),
        |$pqFxCte,
        |$pqBalancedCtes,
        |${pqTrainCtes("bv", "pqb", "b")},
        |qeb AS (
        |  SELECT vec_id, round(CAST(sum(md) AS DOUBLE), 6) AS err FROM (
        |    SELECT vec_id, sub, min(d) AS md FROM d3b GROUP BY 1, 2)
        |  GROUP BY 1)
        |SELECT 'contiguous' AS scheme, CAST(count(*) AS BIGINT) AS n,
        |       CAST(sum(CAST(err AS DECIMAL(18,6))) AS DOUBLE) AS total_err
        |FROM qe
        |UNION ALL
        |SELECT 'balanced', CAST(count(*) AS BIGINT),
        |       CAST(sum(CAST(err AS DECIMAL(18,6))) AS DOUBLE)
        |FROM qeb""".stripMargin),
    // the parametric OPQ half: the balanced chain (bv, salt pqb) vs the
    // LEARNED-rotation chain (ov, salt pqo) at the same bit budget. R is
    // driver-derived (Jacobi SVD — not SQL-replayable), so it enters as
    // shared literals (the q191 discipline) and EVERYTHING downstream —
    // rotation application, codebook training, encode, error totals —
    // replays from them. graft.Verify dumps oracleSql AFTER the queries
    // run, so lastOpqRotation() is this run's trained R for this dir.
    "q225_opq_rotation" -> opqRotationOracle(Queries.lastOpqRotation()),
    // block-diagonal OPQ vs the full learned rotation, both replayed
    // from their shared 6-dp literals at the same bit budget
    "q250_block_opq" ->
      s"""WITH $pqSubsPs,
        |$pqFxCte,
        |${opqRotCtes(Queries.lastOpqRotation())},
        |${pqTrainCtes("ov", "pqo", "o")},
        |${blockRotCtes(Queries.lastBlockOpqRotation())},
        |${pqTrainCtes("kv", "pqk", "k")},
        |qeo AS (
        |  SELECT vec_id, round(CAST(sum(md) AS DOUBLE), 6) AS err FROM (
        |    SELECT vec_id, sub, min(d) AS md FROM d3o GROUP BY 1, 2)
        |  GROUP BY 1),
        |qek AS (
        |  SELECT vec_id, round(CAST(sum(md) AS DOUBLE), 6) AS err FROM (
        |    SELECT vec_id, sub, min(d) AS md FROM d3k GROUP BY 1, 2)
        |  GROUP BY 1)
        |SELECT 'full_rotation' AS scheme, CAST(count(*) AS BIGINT) AS n,
        |       CAST(sum(CAST(err AS DECIMAL(18,6))) AS DOUBLE) AS total_err
        |FROM qeo
        |UNION ALL
        |SELECT 'block_rotation', CAST(count(*) AS BIGINT),
        |       CAST(sum(CAST(err AS DECIMAL(18,6))) AS DOUBLE)
        |FROM qek""".stripMargin,
    // the full OPQ-IVFADC stack (rotate -> route -> residual-encode ->
    // multi-probe -> ADC -> exact rerank) replayed end-to-end from the
    // same shared R literals
    "q226_opq_ivfadc" -> opqIvfadcOracle(Queries.lastOpqRotation()),
    // the dim-512 BLOCK-OPQ serving stack: sign-expanded corpus, 8
    // per-block 64x64 sub-rotations as spliced literals, residual
    // training chain, multi-probe ADC, exact rerank in rotated space
    "q253_dim512_serving" ->
      dim512ServingOracle(Queries.lastX512Blocks(), adaptive = false),
    // the 100 TB serving configuration: the SAME dim-512 stack under
    // the ADAPTIVE router (ratio 2, cap 4) — q253 x q258 composed
    "q259_adaptive_dim512" ->
      dim512ServingOracle(Queries.lastX512Blocks(), adaptive = true),
    // the priced-mass readout at production dim: fixed-1 / fixed-2 /
    // adaptive probe count, pair mass, recall@5 vs the exact
    // rotated-space ground truth over the fixed query sample
    "q259b_dim512_probe_mass" ->
      dim512AuditOracle(Queries.lastX512Blocks()),
    // the two serving capstones composed: the dim-512 stack OVER the
    // manifest lakehouse — budgeted probe (10 grants), MOR-deleted keys
    // excluded from the candidate side, both maintenance regimes pinned
    "q267_dim512_lakehouse" ->
      dim512LakehouseOracle(Queries.lastX512Blocks(),
        Queries.lastX512ChosenTier()),
    // SELF-CALIBRATING budget: the spend computed from the measured
    // margin distribution vs the fixed-2 list-coverage target, on the
    // Zipf/continuous-margin surface and the planted surface
    "q268_calibrated_budget" -> calibratedBudgetOracle(zipfFvcCte),
    // the calibration artifact's LIFECYCLE: fresh gate silent, drifted
    // gate fires, recalibrated budget differs, the swap's spend pinned
    "q274_calibration_staleness" -> calibrationLifecycleOracle,
    // Bradley–Terry MM: 5 chained iterations, per-term decimal capture
    "q276_bt_strengths" -> btStrengthsOracle,
    // Wilson lower bound: identical IEEE tree, sqrt correctly rounded
    "q277_wilson_winrate" -> wilsonWinrateOracle,
    // Fleiss' kappa over gold lang + two stopword-langid raters
    "q278_fleiss_kappa" -> fleissKappaOracle,
    // Chao2 richness + Good-Turing coverage from exact incidence counts
    "q279_vocab_richness" -> vocabRichnessOracle,
    // pair-level BT fit audit + strict-majority triad census
    "q280_preference_coherence" -> preferenceCoherenceOracle,
    // counter-additive shard merge == from-scratch matrix; refit + shards
    "q281_incremental_bt" -> incrementalBtOracle,
    // streamed delta appends, fold-on-read, compaction read-equal, fit
    // from the read-back table
    "q282_streaming_preference" -> streamingPreferenceOracle,
    // 200 deterministic LCG resamples, nearest-rank CI, captured p
    "q283_paired_bootstrap" -> pairedBootstrapOracle,
    // exact-integer sign-flip null distribution, add-one p
    "q284_sign_flip" -> signFlipOracle,
    // BT top-2 -> per-user deltas -> CI + p -> the promote boolean
    "q285_promotion_gate" -> promotionGateOracle,
    // user-cluster bootstrap: batched b-keyed MM chain, integer CI ranks
    "q287_bt_bootstrap_ci" -> btBootstrapOracle,
    // comparison-graph components via recursive reachability + min-label
    "q286_comparison_connectivity" ->
      s"""WITH RECURSIVE $comparisonCtes,
         |pr AS (SELECT DISTINCT least(winner, loser) AS a,
         |                       greatest(winner, loser) AS b FROM comp),
         |e AS (SELECT a, b FROM pr UNION SELECT b, a FROM pr),
         |reach AS (
         |  SELECT a, b FROM e
         |  UNION
         |  SELECT r.a, e.b FROM reach r JOIN e ON r.b = e.a
         |),
         |grp AS (SELECT a AS item, least(a, min(b)) AS component
         |        FROM reach GROUP BY a),
         |cs AS (SELECT component, count(*) AS component_size FROM grp GROUP BY 1),
         |nc AS (SELECT count(*) AS n_components FROM cs)
         |SELECT grp.item, grp.component, cs.component_size,
         |       nc.n_components, nc.n_components = 1 AS one_scale
         |FROM grp JOIN cs USING (component) CROSS JOIN nc""".stripMargin,
    // multi-round prune training on the NATURAL corpus at its supported
    // width, kept-mass floor per round
    "q275_natural_vocab_rounds" -> vocabAuditRoundsOracle(
      """wrds AS MATERIALIZED (
        |  SELECT w, CAST(count(*) AS BIGINT) AS freq,
        |         CAST(length(w) AS BIGINT) AS len
        |  FROM (SELECT unnest(string_split(text, ' ')) AS w FROM documents)
        |  WHERE length(w) BETWEEN 1 AND 20
        |  GROUP BY w)""".stripMargin, topMulti = 4096, target = 120,
      rounds = 3),
    "q268b_calibrated_planted" -> calibratedBudgetOracle(plantedFvcCte),
    // the calibration AT PRODUCTION DIM: the q267 serving budget
    // computed, not literal — cap and budget replayed to the order
    // statistic that produced them
    "q271_dim512_calibrated" ->
      dim512CalibratedOracle(Queries.lastX512Blocks()),
    // the BIT-BUDGET ladder at production dim: three training chains,
    // one calibrated probe set, per-tier ADC top-20 hits, priced cost,
    // recall-floor eligibility, cheapest-eligible choice — the q267
    // serving tier computed, not literal
    "q272_bit_budget_ladder" ->
      dim512LadderOracle(Queries.lastX512Blocks()),
    // filtered serving over the lakehouse: chooser + calibrated budget
    // + manifest/MOR substrate in one plan, the choice and the serve
    // both replayed
    "q273_filtered_lakehouse" ->
      dim512FilteredLakehouseOracle(Queries.lastX512Blocks(),
        Queries.lastX512ChosenTier()),
    // raw-residual vs OPQ-residual IVFADC recall@5 against one exact
    // raw-space ground truth — the rotation's end-to-end delta
    "q227_opq_recall" -> opqRecallOracle(Queries.lastOpqRotation()),
    // exact KNN-Shapley (Jia et al. 2019 closed form): q14's 6-dp cosine
    // ranking, the telescoped recurrence as 12-dp decimal terms, suffix
    // window sum per test point, one mean per train point
    "q228_knn_shapley" ->
      s"""WITH ${knnShapCtes()}
        |SELECT vec_id, n_test, shap FROM shap""".stripMargin,
    // planted label noise valued lower: the same Shapley chain with the
    // flip spliced into the train-label expression, per-cohort rollup
    "q243_label_noise_audit" ->
      s"""WITH ${knnShapCtes(
          "CASE WHEN vec_id % 13 = 0 THEN (label + 1) % 10 ELSE label END")}
        |SELECT CASE WHEN vec_id % 13 = 0 THEN 'flipped' ELSE 'clean' END
        |         AS cohort,
        |       CAST(count(*) AS BIGINT) AS n,
        |       round(CAST(sum(CAST(shap AS DECIMAL(18,6))) AS DOUBLE)
        |             / count(*), 6) AS mean_shap,
        |       round(CAST(sum(CASE WHEN shap < 0 THEN 1 ELSE 0 END) AS DOUBLE)
        |             / count(*), 6) AS frac_negative
        |FROM shap GROUP BY 1""".stripMargin,
    // the valuation CURATING: drop shap<0 train points, exact 5-NN
    // majority-vote accuracy before/after against the same eval set
    "q234_shapley_curation" ->
      s"""WITH ${knnShapCtes()},
        |kept AS (SELECT vec_id FROM shap WHERE shap >= 0),
        |rf AS (SELECT q_id, q_lab, c_lab,
        |              row_number() OVER (PARTITION BY q_id
        |                                 ORDER BY sim DESC, c_id ASC) AS rn
        |       FROM scored),
        |vf AS (SELECT q_id, q_lab, c_lab, count(*) AS votes
        |       FROM rf WHERE rn <= 5 GROUP BY 1, 2, 3),
        |pf2 AS (SELECT q_id, q_lab, c_lab FROM (
        |          SELECT *, row_number() OVER (PARTITION BY q_id
        |                      ORDER BY votes DESC, c_lab ASC) AS vr
        |          FROM vf) WHERE vr = 1),
        |af AS (SELECT CAST(count(*) AS BIGINT) AS n_test,
        |              CAST(sum(CASE WHEN c_lab IS NOT DISTINCT FROM q_lab
        |                            THEN 1 ELSE 0 END) AS BIGINT) AS n_correct
        |       FROM pf2),
        |sc2 AS (SELECT s.* FROM scored s JOIN kept k ON k.vec_id = s.c_id),
        |rc AS (SELECT q_id, q_lab, c_lab,
        |              row_number() OVER (PARTITION BY q_id
        |                                 ORDER BY sim DESC, c_id ASC) AS rn
        |       FROM sc2),
        |vc AS (SELECT q_id, q_lab, c_lab, count(*) AS votes
        |       FROM rc WHERE rn <= 5 GROUP BY 1, 2, 3),
        |pc AS (SELECT q_id, q_lab, c_lab FROM (
        |         SELECT *, row_number() OVER (PARTITION BY q_id
        |                     ORDER BY votes DESC, c_lab ASC) AS vr
        |         FROM vc) WHERE vr = 1),
        |ac AS (SELECT CAST(count(*) AS BIGINT) AS n_test,
        |              CAST(sum(CASE WHEN c_lab IS NOT DISTINCT FROM q_lab
        |                            THEN 1 ELSE 0 END) AS BIGINT) AS n_correct
        |       FROM pc)
        |SELECT 'full' AS regime, (SELECT CAST(count(*) AS BIGINT) FROM c) AS n_train,
        |       n_correct, n_test,
        |       round(CAST(n_correct AS DOUBLE) / CAST(n_test AS DOUBLE), 6) AS accuracy
        |FROM af
        |UNION ALL
        |SELECT 'curated' AS regime, (SELECT CAST(count(*) AS BIGINT) FROM kept) AS n_train,
        |       n_correct, n_test,
        |       round(CAST(n_correct AS DOUBLE) / CAST(n_test AS DOUBLE), 6) AS accuracy
        |FROM ac""".stripMargin,
    // IVF-SQ8: the same chain with the coarse-list equi-restriction
    "q238_ivf_sq8_probe" ->
      s"""WITH ${sq8Ctes(within = true)}
        |SELECT q_id, vec_id, d FROM sq8top""".stripMargin,
    // streamed-ingest freshness: base commit + two exactly-once
    // streamed encode batches assemble the SAME index as the
    // from-scratch batch build — the oracle IS q238's probe
    "q266_stream_ann_fresh" ->
      s"""WITH ${sq8Ctes(within = true)}
        |SELECT q_id, vec_id, d FROM sq8top""".stripMargin,
    "q239_ivf_sq8_recall" ->
      s"""WITH ${sq8Ctes(within = true)},
        |${exactL2Top5Sql}
        |SELECT t.q_id,
        |       CAST(sum(CASE WHEN e.vec_id IS NOT NULL THEN 1 ELSE 0 END)
        |            AS BIGINT) AS ivf_sq8_hits
        |FROM sq8top t LEFT JOIN ex e ON e.q_id = t.q_id AND e.vec_id = t.vec_id
        |GROUP BY t.q_id""".stripMargin,
    // the wave-3 pipeline end-to-end: conformal threshold -> kept pool
    // -> DoReMi-weighted Gumbel draw -> corpus-trained tokenizer stats
    "q242_curation_pipeline" ->
      s"""WITH f AS (
        |  SELECT doc_id,
        |         len(string_split(text, ' ')) AS nt,
        |         CASE WHEN length(text) = 0 THEN 0.0
        |              ELSE CAST(length(regexp_replace(text, '[A-Za-z0-9\\s]', '', 'g')) AS DOUBLE)
        |                   / CAST(length(text) AS DOUBLE) END AS pr,
        |         CASE WHEN len(string_split(text, ' ')) = 0 THEN 0.0
        |              ELSE CAST(len(list_filter(string_split(text, ' '),
        |                     tk -> list_contains(['the','and','of','to','in','is','that','it','a'], tk))) AS DOUBLE)
        |                   / CAST(len(string_split(text, ' ')) AS DOUBLE) END AS sr
        |  FROM documents),
        |qs AS (SELECT doc_id,
        |         round(0.4 * least(CAST(nt AS DOUBLE) / 100.0, 1.0)
        |               + 0.3 * (1.0 - least(pr * 5.0, 1.0))
        |               + 0.3 * least(sr * 4.0, 1.0), 6) AS score
        |       FROM f),
        |cal AS (SELECT score FROM qs WHERE doc_id % 5 = 1),
        |nk AS (SELECT CAST(floor((count(*) + 1) * 0.2) AS BIGINT) AS k
        |       FROM cal),
        |thr AS (SELECT round(score, 6) AS threshold FROM (
        |          SELECT score, row_number() OVER (ORDER BY score ASC) AS rn
        |          FROM cal)
        |        WHERE rn = (SELECT k FROM nk)),
        |gate AS (SELECT (SELECT threshold FROM thr) AS threshold,
        |                CAST(count(*) AS BIGINT) AS n_pool,
        |                CAST(sum(CASE WHEN score >= (SELECT threshold FROM thr)
        |                              THEN 1 ELSE 0 END) AS BIGINT) AS n_kept
        |         FROM qs),
        |keptd AS (SELECT doc_id FROM qs
        |          WHERE score >= (SELECT threshold FROM thr)),
        |traj AS (
        |${doremiOracle(rounds = 6)}
        |),
        |abar AS (
        |  SELECT domain,
        |         round(CAST(sum(CAST(alpha AS DECIMAL(18,6))) AS DOUBLE)
        |               / count(*), 6) AS abar
        |  FROM traj GROUP BY 1),
        |lw AS (
        |  SELECT d.doc_id, round(ln(ab.abar), 6) AS lw
        |  FROM documents d
        |  JOIN abar ab ON ab.domain = d.source
        |  JOIN keptd kd ON kd.doc_id = d.doc_id),
        |g AS (
        |  SELECT doc_id,
        |         round(lw - ln(-ln(${puSql("'q242|' || doc_id")})), 6)
        |           AS gumbel_key
        |  FROM lw),
        |samp AS (SELECT doc_id FROM (
        |           SELECT doc_id,
        |                  row_number() OVER (ORDER BY gumbel_key DESC,
        |                                     doc_id ASC) AS rank
        |           FROM g)
        |         WHERE rank <= 100),
        |$unigramCtes,
        |wp AS (SELECT w, CAST(len(tr) - 1 AS BIGINT) AS np FROM bt),
        |occ AS (
        |  SELECT w FROM (
        |    SELECT unnest(string_split(d.text, ' ')) AS w
        |    FROM documents d JOIN samp s ON s.doc_id = d.doc_id)
        |  WHERE length(w) BETWEEN 1 AND 20),
        |tok AS (SELECT CAST(count(*) AS BIGINT) AS n_words,
        |               CAST(sum(np) AS BIGINT) AS n_pieces,
        |               CAST(sum(length(w)) AS BIGINT) AS n_chars
        |        FROM occ JOIN wp USING (w))
        |SELECT gate.threshold, gate.n_pool, gate.n_kept,
        |       CAST(100 AS BIGINT) AS n_sampled,
        |       tok.n_words, tok.n_pieces, tok.n_chars,
        |       round(CAST(tok.n_chars AS DOUBLE) / CAST(tok.n_pieces AS DOUBLE), 6)
        |         AS chars_per_piece
        |FROM gate, tok""".stripMargin,
    // the frozen-grid staleness gate: clip rate on train (0 by
    // construction) vs a x1.25-drifted batch
    "q241_sq8_clip_monitor" ->
      """WITH fvq AS MATERIALIZED (
        |  SELECT vec_id, t.p, CAST(embedding[t.p] AS DOUBLE) AS x
        |  FROM embeddings, generate_series(1, 64) t(p)),
        |sqst AS MATERIALIZED (
        |  SELECT p, min(x) AS mn, max(x) AS mx FROM fvq GROUP BY 1),
        |tr AS (
        |  SELECT CAST(count(DISTINCT vec_id) AS BIGINT) AS n_vecs,
        |         CAST(count(*) AS BIGINT) AS n_coords,
        |         CAST(sum(CASE WHEN f.x < s.mn OR f.x > s.mx
        |                       THEN 1 ELSE 0 END) AS BIGINT) AS n_clipped
        |  FROM fvq f JOIN sqst s USING (p)),
        |dr AS (
        |  SELECT CAST(count(DISTINCT vec_id) AS BIGINT) AS n_vecs,
        |         CAST(count(*) AS BIGINT) AS n_coords,
        |         CAST(sum(CASE WHEN f.x * CAST(1.25 AS DOUBLE) < s.mn
        |                         OR f.x * CAST(1.25 AS DOUBLE) > s.mx
        |                       THEN 1 ELSE 0 END) AS BIGINT) AS n_clipped
        |  FROM fvq f JOIN sqst s USING (p))
        |SELECT 'train' AS batch, n_vecs, n_coords, n_clipped,
        |       round(CAST(n_clipped AS DOUBLE) / CAST(n_coords AS DOUBLE), 6)
        |         AS clip_rate
        |FROM tr
        |UNION ALL
        |SELECT 'drifted' AS batch, n_vecs, n_coords, n_clipped,
        |       round(CAST(n_clipped AS DOUBLE) / CAST(n_coords AS DOUBLE), 6)
        |         AS clip_rate
        |FROM dr""".stripMargin,
    // multi-probe: the query side reaches its top-2 coarse lists
    "q240_sq8_multiprobe" ->
      s"""WITH ${sq8Ctes(within = true, nProbe = 2)},
        |${exactL2Top5Sql}
        |SELECT t.q_id,
        |       CAST(sum(CASE WHEN e.vec_id IS NOT NULL THEN 1 ELSE 0 END)
        |            AS BIGINT) AS p2_hits
        |FROM sq8top t LEFT JOIN ex e ON e.q_id = t.q_id AND e.vec_id = t.vec_id
        |GROUP BY t.q_id""".stripMargin,
    // the residual-tier staleness gate: frozen residual grid's clip
    // rate on train (0 by construction) vs a 1.25x-drifted batch whose
    // lists survive the scaling (argmax is scale-invariant)
    "q252_residual_clip_monitor" ->
      s"""WITH $sq8LstrSql,
        |$sq8FvqSql,
        |$sq8ResidSql,
        |tr AS (
        |  SELECT CAST(count(DISTINCT vec_id) AS BIGINT) AS n_vecs,
        |         CAST(count(*) AS BIGINT) AS n_coords,
        |         CAST(sum(CASE WHEN r.x < s.mn OR r.x > s.mx
        |                       THEN 1 ELSE 0 END) AS BIGINT) AS n_clipped
        |  FROM rvq r JOIN rst s USING (p)),
        |dvq AS (
        |  SELECT f.vec_id, f.p,
        |         f.x * CAST(1.25 AS DOUBLE) - c.cv AS x
        |  FROM fvq f JOIN lst l USING (vec_id)
        |       JOIN cent c ON c.list = l.list AND c.p = f.p),
        |dr AS (
        |  SELECT CAST(count(DISTINCT vec_id) AS BIGINT) AS n_vecs,
        |         CAST(count(*) AS BIGINT) AS n_coords,
        |         CAST(sum(CASE WHEN d.x < s.mn OR d.x > s.mx
        |                       THEN 1 ELSE 0 END) AS BIGINT) AS n_clipped
        |  FROM dvq d JOIN rst s USING (p))
        |SELECT 'train' AS batch, n_vecs, n_coords, n_clipped,
        |       CASE WHEN n_coords > 0
        |            THEN round(CAST(n_clipped AS DOUBLE)
        |                       / CAST(n_coords AS DOUBLE), 6)
        |            ELSE 0.0 END AS clip_rate
        |FROM tr
        |UNION ALL
        |SELECT 'drifted' AS batch, n_vecs, n_coords, n_clipped,
        |       CASE WHEN n_coords > 0
        |            THEN round(CAST(n_clipped AS DOUBLE)
        |                       / CAST(n_coords AS DOUBLE), 6)
        |            ELSE 0.0 END AS clip_rate
        |FROM dr""".stripMargin,
    // batch twin of the residual-tier STREAMING clip monitor: three
    // arrival batches (third drifted 1.25x), per-batch residual clip
    // counts against the frozen grid + the stream-maintained total,
    // retrain flag at clip_rate > 0.01
    "q257_residual_clip_stream" ->
      s"""WITH $sq8LstrSql,
        |$sq8FvqSql,
        |$sq8ResidSql,
        |dvq AS (
        |  SELECT f.vec_id, f.p,
        |         f.x * CAST(1.25 AS DOUBLE) - c.cv AS x
        |  FROM fvq f JOIN lst l USING (vec_id)
        |       JOIN cent c ON c.list = l.list AND c.p = f.p),
        |perb AS (
        |  SELECT CASE WHEN vec_id % 3 = 0 THEN 'b0' ELSE 'b1' END AS batch,
        |         vec_id, p, x
        |  FROM rvq WHERE vec_id % 3 <> 2
        |  UNION ALL
        |  SELECT 'b2_drifted', vec_id, p, x FROM dvq WHERE vec_id % 3 = 2),
        |cnt AS (
        |  SELECT batch, CAST(count(DISTINCT vec_id) AS BIGINT) AS n_vecs,
        |         CAST(count(*) AS BIGINT) AS n_coords,
        |         CAST(sum(CASE WHEN c.x < s.mn OR c.x > s.mx
        |                       THEN 1 ELSE 0 END) AS BIGINT) AS n_clipped
        |  FROM perb c JOIN rst s USING (p)
        |  GROUP BY 1),
        |withtot AS (
        |  SELECT batch, n_vecs, n_coords, n_clipped FROM cnt
        |  UNION ALL
        |  SELECT 'total', CAST(sum(n_vecs) AS BIGINT),
        |         CAST(sum(n_coords) AS BIGINT),
        |         CAST(sum(n_clipped) AS BIGINT)
        |  FROM cnt)
        |SELECT batch, n_vecs, n_coords, n_clipped,
        |       CASE WHEN n_coords > 0
        |            THEN round(CAST(n_clipped AS DOUBLE)
        |                       / CAST(n_coords AS DOUBLE), 6)
        |            ELSE 0.0 END AS clip_rate,
        |       (CASE WHEN n_coords > 0
        |             THEN round(CAST(n_clipped AS DOUBLE)
        |                        / CAST(n_coords AS DOUBLE), 6)
        |             ELSE 0.0 END) > 0.01 AS retrain
        |FROM withtot""".stripMargin,
    // residual IVF-SQ8: codes AND query side in residual space
    "q244_ivf_sq8_residual" ->
      s"""WITH ${sq8rCtes(nProbe = 1)}
        |SELECT q_id, vec_id, d FROM sq8rtop""".stripMargin,
    // FILTERED vector search: the label predicate applied to the codes
    // BEFORE the ADC scan, ground truth = exact top-5 within the
    // filtered corpus; the brute row is the under-threshold plan
    "q264_filtered_ann" ->
      s"""WITH $sq8LstrSql,
        |$sq8FvqSql,
        |$sq8ResidSql,
        |qdcf AS (
        |  -- probeLists ranks by EXACT decimal centroid distance (ties
        |  -- by list), not by the ingest-time lead-coordinate router
        |  SELECT f.vec_id, c.list,
        |         sum(CAST(round((f.x - c.cv) * (f.x - c.cv), 6)
        |                  AS DECIMAL(18,6))) AS d
        |  FROM fvq f JOIN cent c ON c.p = f.p
        |  WHERE f.vec_id % 97 = 0 AND f.vec_id < 2000
        |  GROUP BY 1, 2),
        |qsel AS (
        |  SELECT vec_id, list, (pr = 1) AS f1, (pr <= 2) AS f2,
        |         (pr <= 4) AS f4
        |  FROM (SELECT vec_id, list,
        |               row_number() OVER (PARTITION BY vec_id
        |                                  ORDER BY d ASC, list ASC) AS pr
        |        FROM qdcf)),
        |qrvf AS (
        |  SELECT qf.vec_id, qs.list, qs.f1, qs.f2, qs.f4, qf.p,
        |         qf.x - c.cv AS x
        |  FROM fvq qf JOIN qsel qs ON qs.vec_id = qf.vec_id
        |  JOIN cent c ON c.list = qs.list AND c.p = qf.p),
        |fsc AS (
        |  SELECT q.vec_id AS q_id, dc.vec_id, q.f1, q.f2, q.f4,
        |         CAST(sum(CAST(round((q.x - dc.dx) * (q.x - dc.dx), 6)
        |                       AS DECIMAL(18,6))) AS DOUBLE) AS d
        |  FROM qrvf q JOIN rdec dc ON dc.p = q.p AND dc.list = q.list
        |                          AND dc.vec_id <> q.vec_id
        |  JOIN embeddings e ON e.vec_id = dc.vec_id AND e.label = 3
        |  GROUP BY 1, 2, 3, 4, 5),
        |ft1 AS (
        |  SELECT q_id, vec_id FROM (
        |    SELECT q_id, vec_id,
        |           row_number() OVER (PARTITION BY q_id
        |                              ORDER BY d ASC, vec_id ASC) AS rn
        |    FROM fsc WHERE f1) WHERE rn <= 5),
        |ft2 AS (
        |  SELECT q_id, vec_id FROM (
        |    SELECT q_id, vec_id,
        |           row_number() OVER (PARTITION BY q_id
        |                              ORDER BY d ASC, vec_id ASC) AS rn
        |    FROM fsc WHERE f2) WHERE rn <= 5),
        |ft4 AS (
        |  SELECT q_id, vec_id FROM (
        |    SELECT q_id, vec_id,
        |           row_number() OVER (PARTITION BY q_id
        |                              ORDER BY d ASC, vec_id ASC) AS rn
        |    FROM fsc WHERE f4) WHERE rn <= 5),
        |flst AS (SELECT l.vec_id, l.list FROM lst l
        |         JOIN embeddings e ON e.vec_id = l.vec_id AND e.label = 3),
        |pairsf AS (
        |  SELECT qs.f1, qs.f2, qs.f4
        |  FROM qsel qs JOIN flst cl ON cl.list = qs.list
        |                           AND cl.vec_id <> qs.vec_id),
        |exd AS (
        |  SELECT qf.vec_id AS q_id, cf.vec_id,
        |         CAST(sum(CAST(round((qf.x - cf.x) * (qf.x - cf.x), 6)
        |                       AS DECIMAL(18,6))) AS DOUBLE) AS d
        |  FROM fvq qf JOIN fvq cf ON cf.p = qf.p AND cf.vec_id <> qf.vec_id
        |  JOIN embeddings e ON e.vec_id = cf.vec_id AND e.label = 3
        |  WHERE qf.vec_id % 97 = 0 AND qf.vec_id < 2000
        |  GROUP BY 1, 2),
        |exf AS (
        |  SELECT q_id, vec_id FROM (
        |    SELECT q_id, vec_id,
        |           row_number() OVER (PARTITION BY q_id
        |                              ORDER BY d ASC, vec_id ASC) AS rn
        |    FROM exd) WHERE rn <= 5),
        |ngt AS (SELECT count(*) AS n FROM exf),
        |qn AS (SELECT count(DISTINCT vec_id) AS n FROM qsel),
        |fn AS (SELECT count(*) AS n FROM embeddings WHERE label = 3),
        |sfq AS (SELECT count(*) AS n FROM embeddings
        |        WHERE label = 3 AND vec_id % 97 = 0 AND vec_id < 2000)
        |SELECT 'ivf1' AS scheme,
        |       (SELECT count(*) FROM qsel WHERE f1) AS probes,
        |       (SELECT count(*) FROM pairsf WHERE f1) AS pairs,
        |       (SELECT count(*) FROM ft1 JOIN exf USING (q_id, vec_id)) AS hits,
        |       (SELECT n FROM ngt) AS n_gt,
        |       round(CAST((SELECT count(*) FROM ft1 JOIN exf USING (q_id, vec_id))
        |                  AS DOUBLE) / CAST((SELECT n FROM ngt) AS DOUBLE), 6)
        |         AS recall
        |UNION ALL
        |SELECT 'ivf2',
        |       (SELECT count(*) FROM qsel WHERE f2),
        |       (SELECT count(*) FROM pairsf WHERE f2),
        |       (SELECT count(*) FROM ft2 JOIN exf USING (q_id, vec_id)),
        |       (SELECT n FROM ngt),
        |       round(CAST((SELECT count(*) FROM ft2 JOIN exf USING (q_id, vec_id))
        |                  AS DOUBLE) / CAST((SELECT n FROM ngt) AS DOUBLE), 6)
        |UNION ALL
        |SELECT 'ivf4',
        |       (SELECT count(*) FROM qsel WHERE f4),
        |       (SELECT count(*) FROM pairsf WHERE f4),
        |       (SELECT count(*) FROM ft4 JOIN exf USING (q_id, vec_id)),
        |       (SELECT n FROM ngt),
        |       round(CAST((SELECT count(*) FROM ft4 JOIN exf USING (q_id, vec_id))
        |                  AS DOUBLE) / CAST((SELECT n FROM ngt) AS DOUBLE), 6)
        |UNION ALL
        |SELECT 'brute',
        |       (SELECT n FROM qn),
        |       (SELECT n FROM qn) * (SELECT n FROM fn) - (SELECT n FROM sfq),
        |       (SELECT n FROM ngt),
        |       (SELECT n FROM ngt),
        |       CAST(1.0 AS DOUBLE)""".stripMargin,
    // q264's surface under the PLAN-TIME CHOOSER: two counts-only CTEs
    // per plan (priced pairs, min per-query filtered candidates), the
    // eligibility floor (min_cands >= 5), cheapest-eligible chosen —
    // the CHOICE itself is replayed, not just the probes
    "q270_filtered_routed_ann" ->
      s"""WITH $sq8LstrSql,
        |$sq8FvqSql,
        |$sq8ResidSql,
        |qdcf AS (
        |  SELECT f.vec_id, c.list,
        |         sum(CAST(round((f.x - c.cv) * (f.x - c.cv), 6)
        |                  AS DECIMAL(18,6))) AS d
        |  FROM fvq f JOIN cent c ON c.p = f.p
        |  WHERE f.vec_id % 97 = 0 AND f.vec_id < 2000
        |  GROUP BY 1, 2),
        |qsel AS (
        |  SELECT vec_id, list, (pr = 1) AS f1, (pr <= 2) AS f2,
        |         (pr <= 4) AS f4
        |  FROM (SELECT vec_id, list,
        |               row_number() OVER (PARTITION BY vec_id
        |                                  ORDER BY d ASC, list ASC) AS pr
        |        FROM qdcf)),
        |qrvf AS (
        |  SELECT qf.vec_id, qs.list, qs.f1, qs.f2, qs.f4, qf.p,
        |         qf.x - c.cv AS x
        |  FROM fvq qf JOIN qsel qs ON qs.vec_id = qf.vec_id
        |  JOIN cent c ON c.list = qs.list AND c.p = qf.p),
        |fsc AS (
        |  SELECT q.vec_id AS q_id, dc.vec_id, q.f1, q.f2, q.f4,
        |         CAST(sum(CAST(round((q.x - dc.dx) * (q.x - dc.dx), 6)
        |                       AS DECIMAL(18,6))) AS DOUBLE) AS d
        |  FROM qrvf q JOIN rdec dc ON dc.p = q.p AND dc.list = q.list
        |                          AND dc.vec_id <> q.vec_id
        |  JOIN embeddings e ON e.vec_id = dc.vec_id AND e.label = 3
        |  GROUP BY 1, 2, 3, 4, 5),
        |ft1 AS (
        |  SELECT q_id, vec_id FROM (
        |    SELECT q_id, vec_id,
        |           row_number() OVER (PARTITION BY q_id
        |                              ORDER BY d ASC, vec_id ASC) AS rn
        |    FROM fsc WHERE f1) WHERE rn <= 5),
        |ft2 AS (
        |  SELECT q_id, vec_id FROM (
        |    SELECT q_id, vec_id,
        |           row_number() OVER (PARTITION BY q_id
        |                              ORDER BY d ASC, vec_id ASC) AS rn
        |    FROM fsc WHERE f2) WHERE rn <= 5),
        |ft4 AS (
        |  SELECT q_id, vec_id FROM (
        |    SELECT q_id, vec_id,
        |           row_number() OVER (PARTITION BY q_id
        |                              ORDER BY d ASC, vec_id ASC) AS rn
        |    FROM fsc WHERE f4) WHERE rn <= 5),
        |flst AS (SELECT l.vec_id, l.list FROM lst l
        |         JOIN embeddings e ON e.vec_id = l.vec_id AND e.label = 3),
        |pairsf AS (
        |  SELECT qs.f1, qs.f2, qs.f4
        |  FROM qsel qs JOIN flst cl ON cl.list = qs.list
        |                           AND cl.vec_id <> qs.vec_id),
        |exd AS (
        |  SELECT qf.vec_id AS q_id, cf.vec_id,
        |         CAST(sum(CAST(round((qf.x - cf.x) * (qf.x - cf.x), 6)
        |                       AS DECIMAL(18,6))) AS DOUBLE) AS d
        |  FROM fvq qf JOIN fvq cf ON cf.p = qf.p AND cf.vec_id <> qf.vec_id
        |  JOIN embeddings e ON e.vec_id = cf.vec_id AND e.label = 3
        |  WHERE qf.vec_id % 97 = 0 AND qf.vec_id < 2000
        |  GROUP BY 1, 2),
        |exf AS (
        |  SELECT q_id, vec_id FROM (
        |    SELECT q_id, vec_id,
        |           row_number() OVER (PARTITION BY q_id
        |                              ORDER BY d ASC, vec_id ASC) AS rn
        |    FROM exd) WHERE rn <= 5),
        |ngt AS (SELECT count(*) AS n FROM exf),
        |qn AS (SELECT count(DISTINCT vec_id) AS n FROM qsel),
        |fn AS (SELECT count(*) AS n FROM embeddings WHERE label = 3),
        |sfq AS (SELECT count(*) AS n FROM embeddings
        |        WHERE label = 3 AND vec_id % 97 = 0 AND vec_id < 2000),
        |fcnt AS (SELECT list, count(*) AS nf FROM flst GROUP BY 1),
        |candqs AS (
        |  SELECT qs.vec_id,
        |         sum(CASE WHEN qs.f1 THEN coalesce(fc.nf, 0) ELSE 0 END)
        |           - max(CASE WHEN qs.f1 AND fl.vec_id IS NOT NULL
        |                 THEN 1 ELSE 0 END) AS c1,
        |         sum(CASE WHEN qs.f2 THEN coalesce(fc.nf, 0) ELSE 0 END)
        |           - max(CASE WHEN qs.f2 AND fl.vec_id IS NOT NULL
        |                 THEN 1 ELSE 0 END) AS c2,
        |         sum(CASE WHEN qs.f4 THEN coalesce(fc.nf, 0) ELSE 0 END)
        |           - max(CASE WHEN qs.f4 AND fl.vec_id IS NOT NULL
        |                 THEN 1 ELSE 0 END) AS c4
        |  FROM qsel qs
        |  LEFT JOIN fcnt fc ON fc.list = qs.list
        |  LEFT JOIN flst fl ON fl.vec_id = qs.vec_id AND fl.list = qs.list
        |  GROUP BY 1),
        |minsq AS (SELECT CAST(min(c1) AS BIGINT) AS m1,
        |                 CAST(min(c2) AS BIGINT) AS m2,
        |                 CAST(min(c4) AS BIGINT) AS m4
        |          FROM candqs),
        |rowsq AS (
        |  SELECT 'ivf1' AS plan,
        |         (SELECT count(*) FROM qsel WHERE f1) AS probes,
        |         (SELECT count(*) FROM pairsf WHERE f1) AS pairs,
        |         (SELECT m1 FROM minsq) AS min_cands,
        |         (SELECT count(*) FROM ft1 JOIN exf USING (q_id, vec_id))
        |           AS hits
        |  UNION ALL
        |  SELECT 'ivf2', (SELECT count(*) FROM qsel WHERE f2),
        |         (SELECT count(*) FROM pairsf WHERE f2),
        |         (SELECT m2 FROM minsq),
        |         (SELECT count(*) FROM ft2 JOIN exf USING (q_id, vec_id))
        |  UNION ALL
        |  SELECT 'ivf4', (SELECT count(*) FROM qsel WHERE f4),
        |         (SELECT count(*) FROM pairsf WHERE f4),
        |         (SELECT m4 FROM minsq),
        |         (SELECT count(*) FROM ft4 JOIN exf USING (q_id, vec_id))
        |  UNION ALL
        |  SELECT 'brute', (SELECT n FROM qn),
        |         (SELECT n FROM qn) * (SELECT n FROM fn) - (SELECT n FROM sfq),
        |         (SELECT n FROM fn)
        |           - CASE WHEN (SELECT n FROM sfq) > 0 THEN 1 ELSE 0 END,
        |         (SELECT n FROM ngt))
        |SELECT plan, probes, pairs, min_cands,
        |       (min_cands >= 20) AS eligible,
        |       (min_cands >= 20 AND pairs = coalesce(
        |          (SELECT min(pairs) FROM rowsq WHERE min_cands >= 20),
        |          -9223372036854775808)) AS chosen,
        |       hits, (SELECT n FROM ngt) AS n_gt,
        |       round(CAST(hits AS DOUBLE)
        |             / CAST((SELECT n FROM ngt) AS DOUBLE), 6) AS recall
        |FROM rowsq""".stripMargin,
    // ANN serving over the manifest codes table with MOR deletes: the
    // probe reads through the tombstone overlay, so the oracle is the
    // nProbe=2 ADC top-5 over the SURVIVING corpus (vec_id % 7 <> 1),
    // emitted under both regimes (maintenance must not change the read)
    "q265_mor_ann_serve" ->
      s"""WITH $sq8LstrSql,
        |$sq8FvqSql,
        |$sq8ResidSql,
        |qdcm AS (
        |  SELECT f.vec_id, c.list,
        |         sum(CAST(round((f.x - c.cv) * (f.x - c.cv), 6)
        |                  AS DECIMAL(18,6))) AS d
        |  FROM fvq f JOIN cent c ON c.p = f.p
        |  WHERE f.vec_id % 97 = 0 AND f.vec_id < 2000
        |  GROUP BY 1, 2),
        |qlstm AS (
        |  SELECT vec_id, list FROM (
        |    SELECT vec_id, list,
        |           row_number() OVER (PARTITION BY vec_id
        |                              ORDER BY d ASC, list ASC) AS pr
        |    FROM qdcm)
        |  WHERE pr <= 2),
        |qrvm AS (
        |  SELECT qf.vec_id, ql.list, qf.p, qf.x - c.cv AS x
        |  FROM fvq qf
        |       JOIN qlstm ql ON ql.vec_id = qf.vec_id
        |       JOIN cent c ON c.list = ql.list AND c.p = qf.p),
        |rscm AS (
        |  SELECT q.vec_id AS q_id, dc.vec_id,
        |         CAST(sum(CAST(round((q.x - dc.dx) * (q.x - dc.dx), 6)
        |                       AS DECIMAL(18,6))) AS DOUBLE) AS d
        |  FROM qrvm q JOIN rdec dc ON dc.p = q.p AND dc.list = q.list
        |                          AND dc.vec_id <> q.vec_id
        |  WHERE dc.vec_id % 7 <> 1
        |  GROUP BY 1, 2),
        |topm AS (
        |  SELECT q_id, vec_id, d FROM (
        |    SELECT *, row_number() OVER (PARTITION BY q_id
        |                                 ORDER BY d ASC, vec_id ASC) AS rn
        |    FROM rscm)
        |  WHERE rn <= 5)
        |SELECT 'mor' AS regime, q_id, vec_id, d FROM topm
        |UNION ALL
        |SELECT 'materialized' AS regime, q_id, vec_id, d FROM topm""".stripMargin,
    // the routed-recall audit: raw vs residual grid vs the coarse-
    // reachability ceiling at nProbe 1 and 2 — recall is reachability-
    // capped at both widths, the committed finding
    "q245_sq8_residual_audit" ->
      s"""WITH $sq8LstrSql,
        |qlst2 AS (SELECT vec_id, list, rn FROM lstr
        |          WHERE rn <= 2 AND vec_id % 97 = 0),
        |$sq8FvqSql,
        |sqst AS MATERIALIZED (
        |  SELECT p, min(x) AS mn, max(x) AS mx FROM fvq GROUP BY 1),
        |sqcodes AS MATERIALIZED (
        |  SELECT f.vec_id, f.p,
        |         CASE WHEN s.mx = s.mn THEN 0
        |              ELSE least(greatest(CAST(round((f.x - s.mn) / (s.mx - s.mn)
        |                                              * 255.0) AS BIGINT),
        |                                  0), 255) END AS code
        |  FROM fvq f JOIN sqst s USING (p)),
        |sqdec AS (
        |  SELECT c.vec_id, c.p,
        |         s.mn + CAST(c.code AS DOUBLE) * (s.mx - s.mn) / 255.0 AS dx
        |  FROM sqcodes c JOIN sqst s USING (p)),
        |$sq8ResidSql,
        |rs AS MATERIALIZED (
        |  SELECT qf.vec_id AS q_id, dc.vec_id, ql.rn AS qrn,
        |         CAST(sum(CAST(round((qf.x - dc.dx) * (qf.x - dc.dx), 6)
        |                       AS DECIMAL(18,6))) AS DOUBLE) AS d
        |  FROM fvq qf
        |       JOIN qlst2 ql ON ql.vec_id = qf.vec_id
        |       JOIN lst cl ON cl.list = ql.list
        |       JOIN sqdec dc ON dc.vec_id = cl.vec_id AND dc.p = qf.p
        |                    AND dc.vec_id <> qf.vec_id
        |  GROUP BY 1, 2, 3),
        |qrv2 AS (
        |  SELECT qf.vec_id, ql.list, ql.rn, qf.p, qf.x - c.cv AS x
        |  FROM fvq qf
        |       JOIN qlst2 ql ON ql.vec_id = qf.vec_id
        |       JOIN cent c ON c.list = ql.list AND c.p = qf.p),
        |rrs AS MATERIALIZED (
        |  SELECT q.vec_id AS q_id, dc.vec_id, q.rn AS qrn,
        |         CAST(sum(CAST(round((q.x - dc.dx) * (q.x - dc.dx), 6)
        |                       AS DECIMAL(18,6))) AS DOUBLE) AS d
        |  FROM qrv2 q JOIN rdec dc ON dc.p = q.p AND dc.list = q.list
        |                          AND dc.vec_id <> q.vec_id
        |  GROUP BY 1, 2, 3),
        |$exactL2Top5Sql,
        |ngt AS (SELECT CAST(count(*) AS BIGINT) AS n FROM ex),
        |widths AS (SELECT CAST(unnest([1, 2]) AS INTEGER) AS np),
        |rawtop AS (
        |  SELECT np, q_id, vec_id FROM (
        |    SELECT w.np, s.q_id, s.vec_id,
        |           row_number() OVER (PARTITION BY w.np, s.q_id
        |                              ORDER BY s.d ASC, s.vec_id ASC) AS rnk
        |    FROM widths w JOIN rs s ON s.qrn <= w.np)
        |  WHERE rnk <= 5),
        |restop AS (
        |  SELECT np, q_id, vec_id FROM (
        |    SELECT w.np, s.q_id, s.vec_id,
        |           row_number() OVER (PARTITION BY w.np, s.q_id
        |                              ORDER BY s.d ASC, s.vec_id ASC) AS rnk
        |    FROM widths w JOIN rrs s ON s.qrn <= w.np)
        |  WHERE rnk <= 5),
        |allr AS (
        |  SELECT 'p' || CAST(w.np AS VARCHAR) || '_raw' AS regime,
        |         (SELECT CAST(count(*) AS BIGINT) FROM rawtop t
        |          JOIN ex e ON e.q_id = t.q_id AND e.vec_id = t.vec_id
        |          WHERE t.np = w.np) AS hits
        |  FROM widths w
        |  UNION ALL
        |  SELECT 'p' || CAST(w.np AS VARCHAR) || '_resid' AS regime,
        |         (SELECT CAST(count(*) AS BIGINT) FROM restop t
        |          JOIN ex e ON e.q_id = t.q_id AND e.vec_id = t.vec_id
        |          WHERE t.np = w.np) AS hits
        |  FROM widths w
        |  UNION ALL
        |  SELECT 'p' || CAST(w.np AS VARCHAR) || '_reach' AS regime,
        |         (SELECT CAST(count(*) AS BIGINT) FROM ex e
        |          JOIN lst cl ON cl.vec_id = e.vec_id
        |          JOIN qlst2 ql ON ql.vec_id = e.q_id AND ql.list = cl.list
        |          WHERE ql.rn <= w.np) AS hits
        |  FROM widths w)
        |SELECT regime, hits, (SELECT n FROM ngt) AS n_gt,
        |       round(CAST(hits AS DOUBLE)
        |             / CAST((SELECT n FROM ngt) AS DOUBLE), 6) AS recall
        |FROM allr""".stripMargin,
    // SQ8 tier: exact min/max grid, byte codes, dequantized decimal ADC
    "q235_sq8_topk" ->
      s"""WITH ${sq8Ctes()}
        |SELECT q_id, vec_id, d FROM sq8top""".stripMargin,
    // SQ8 recall@5 against the brute-force exact L2 top-5 (q218's ex)
    "q236_sq8_recall" ->
      s"""WITH ${sq8Ctes()},
        |${exactL2Top5Sql}
        |SELECT t.q_id,
        |       CAST(sum(CASE WHEN e.vec_id IS NOT NULL THEN 1 ELSE 0 END)
        |            AS BIGINT) AS sq8_hits
        |FROM sq8top t LEFT JOIN ex e ON e.q_id = t.q_id AND e.vec_id = t.vec_id
        |GROUP BY t.q_id""".stripMargin,
    // split-conformal keep threshold: k = floor((n+1)*alpha)-th smallest
    // calibration quality (q16's scorer), gate + holdout retention
    "q229_conformal_gate" ->
      """WITH f AS (
        |  SELECT doc_id,
        |         len(string_split(text, ' ')) AS nt,
        |         CASE WHEN length(text) = 0 THEN 0.0
        |              ELSE CAST(length(regexp_replace(text, '[A-Za-z0-9\s]', '', 'g')) AS DOUBLE)
        |                   / CAST(length(text) AS DOUBLE) END AS pr,
        |         CASE WHEN len(string_split(text, ' ')) = 0 THEN 0.0
        |              ELSE CAST(len(list_filter(string_split(text, ' '),
        |                     tk -> list_contains(['the','and','of','to','in','is','that','it','a'], tk))) AS DOUBLE)
        |                   / CAST(len(string_split(text, ' ')) AS DOUBLE) END AS sr
        |  FROM documents),
        |q AS (SELECT doc_id,
        |        round(0.4 * least(CAST(nt AS DOUBLE) / 100.0, 1.0)
        |              + 0.3 * (1.0 - least(pr * 5.0, 1.0))
        |              + 0.3 * least(sr * 4.0, 1.0), 6) AS score
        |      FROM f),
        |cal AS (SELECT score FROM q WHERE doc_id % 5 = 1),
        |nk AS (SELECT CAST(count(*) AS BIGINT) AS n_cal,
        |              CAST(floor((count(*) + 1) * 0.2) AS BIGINT) AS k
        |       FROM cal),
        |thr AS (SELECT round(score, 6) AS threshold FROM (
        |          SELECT score, row_number() OVER (ORDER BY score ASC) AS rn
        |          FROM cal)
        |        WHERE rn = (SELECT k FROM nk)),
        |pool AS (SELECT CAST(count(*) AS BIGINT) AS n_pool,
        |                CAST(sum(CASE WHEN score >= (SELECT threshold FROM thr)
        |                              THEN 1 ELSE 0 END) AS BIGINT) AS n_kept
        |         FROM q WHERE doc_id % 5 <> 1 AND doc_id % 5 <> 3),
        |hold AS (SELECT CAST(count(*) AS BIGINT) AS n_holdout,
        |                CAST(sum(CASE WHEN score >= (SELECT threshold FROM thr)
        |                              THEN 1 ELSE 0 END) AS BIGINT) AS n_held_kept
        |         FROM q WHERE doc_id % 5 = 3)
        |SELECT nk.n_cal, nk.k, thr.threshold, pool.n_pool, pool.n_kept,
        |       round(CAST(pool.n_kept AS DOUBLE) / CAST(pool.n_pool AS DOUBLE), 6) AS keep_rate,
        |       hold.n_holdout,
        |       round(CAST(hold.n_held_kept AS DOUBLE) / CAST(hold.n_holdout AS DOUBLE), 6) AS holdout_retention
        |FROM nk, thr, pool, hold""".stripMargin,
    // DoReMi EG trajectory: one (round, domain) mean-excess agg, then
    // each round's exp-reweight/normalize/smooth replayed as chained
    // CTEs (the GD-training discipline: 6-dp scalars between rounds)
    "q230_doremi_weights" -> doremiOracle(rounds = 6),
    // unigram-LM hard-EM round: integer micro-nat Viterbi DP per distinct
    // word (forward fold + longest-first backtrace, the packed-edge
    // layout of UnigramLm), then M-step renormalization — fold for fold
    "q231_unigram_lm" ->
      s"""WITH $unigramCtes,
        |segs AS (
        |  SELECT w, freq,
        |         substr(w, CAST((pk >> 6) + 1 AS INTEGER),
        |                CAST(pk & 63 AS INTEGER)) AS piece
        |  FROM (SELECT w, freq, unnest(tr[2:]) AS pk FROM bt)),
        |cnt AS (SELECT piece, CAST(sum(freq) AS BIGINT) AS viterbi_cnt
        |        FROM segs GROUP BY 1),
        |tt AS (SELECT CAST(sum(viterbi_cnt) AS BIGINT) AS tot1 FROM cnt)
        |SELECT v.piece, v.seed_freq, v.icost AS cost0,
        |       coalesce(c.viterbi_cnt, 0) AS viterbi_cnt,
        |       CASE WHEN c.viterbi_cnt IS NOT NULL THEN
        |         round(ln(CAST(c.viterbi_cnt AS DOUBLE))
        |               - ln(CAST((SELECT tot1 FROM tt) AS DOUBLE)), 6)
        |       END AS logp1
        |FROM vocab v LEFT JOIN cnt c USING (piece)""".stripMargin,
    // the learned DoReMi mixture resampling the corpus: trajectory ->
    // averaged weights -> ln-weighted Gumbel-top-k draw (q122's trick)
    "q232_doremi_mixture_draw" ->
      s"""WITH traj AS (
        |${doremiOracle(rounds = 6)}
        |),
        |abar AS (
        |  SELECT domain,
        |         round(CAST(sum(CAST(alpha AS DECIMAL(18,6))) AS DOUBLE)
        |               / count(*), 6) AS abar
        |  FROM traj GROUP BY 1),
        |lw AS (
        |  SELECT d.doc_id, round(ln(ab.abar), 6) AS lw
        |  FROM documents d JOIN abar ab ON ab.domain = d.source),
        |g AS (
        |  SELECT doc_id,
        |         round(lw - ln(-ln(${puSql("'q232|' || doc_id")})), 6)
        |           AS gumbel_key
        |  FROM lw)
        |SELECT CAST(rank AS BIGINT) AS rank, doc_id, gumbel_key FROM (
        |  SELECT doc_id, gumbel_key,
        |         row_number() OVER (ORDER BY gumbel_key DESC, doc_id ASC)
        |           AS rank
        |  FROM g)
        |WHERE rank <= 100""".stripMargin,
    // chained EM: round-1 piece counts renormalize into vocab2, the
    // suffixed DP re-segments, per-round corpus micro-nats reported
    "q237_unigram_em" ->
      s"""WITH $unigramCtes,
        |segs AS (
        |  SELECT w, freq,
        |         substr(w, CAST((pk >> 6) + 1 AS INTEGER),
        |                CAST(pk & 63 AS INTEGER)) AS piece
        |  FROM (SELECT w, freq, unnest(tr[2:]) AS pk FROM bt)),
        |cnt AS (SELECT piece, CAST(sum(freq) AS BIGINT) AS cnt
        |        FROM segs GROUP BY 1),
        |tt AS (SELECT CAST(sum(cnt) AS BIGINT) AS tot1 FROM cnt),
        |vocab2 AS MATERIALIZED (
        |  SELECT piece,
        |         CAST(round((ln(CAST((SELECT tot1 FROM tt) AS DOUBLE))
        |                     - ln(CAST(cnt AS DOUBLE))) * 1000000.0)
        |              AS BIGINT) AS icost
        |  FROM cnt),
        |${unigramDp("vocab2", "2")},
        |segs2 AS (
        |  SELECT w, freq,
        |         substr(w, CAST((pk >> 6) + 1 AS INTEGER),
        |                CAST(pk & 63 AS INTEGER)) AS piece
        |  FROM (SELECT w, freq, unnest(tr[2:]) AS pk FROM bt2))
        |SELECT CAST(1 AS BIGINT) AS round,
        |       (SELECT CAST(count(*) AS BIGINT) FROM cnt) AS n_pieces_used,
        |       (SELECT CAST(sum(freq * best[CAST(len + 1 AS INTEGER)]) AS BIGINT)
        |        FROM fwd) AS corpus_cost
        |UNION ALL
        |SELECT CAST(2 AS BIGINT) AS round,
        |       (SELECT CAST(count(DISTINCT piece) AS BIGINT) FROM segs2)
        |         AS n_pieces_used,
        |       (SELECT CAST(sum(freq * best[CAST(len + 1 AS INTEGER)]) AS BIGINT)
        |        FROM fwd2) AS corpus_cost""".stripMargin,
    // soft-EM E-step: forward-backward expected counts over the full
    // segmentation lattice (vs q231's winner-take-all Viterbi counts)
    "q246_unigram_soft_em" ->
      s"""WITH $unigramVocabCtes,
        |${unigramSoftDp("vocab", "")},
        |stot AS (SELECT sum(scnt) AS tot FROM scnt)
        |SELECT v.piece, v.seed_freq, v.icost AS cost0,
        |       round(CAST(coalesce(s.scnt, 0) AS DOUBLE), 6) AS soft_cnt,
        |       CASE WHEN s.scnt IS NOT NULL AND s.scnt > 0
        |            THEN round(ln(CAST(s.scnt AS DOUBLE))
        |                       - ln(CAST((SELECT tot FROM stot) AS DOUBLE)), 6)
        |       END AS logp1
        |FROM vocab v LEFT JOIN scnt s USING (piece)""".stripMargin,
    // chained soft EM: two E+M rounds, corpus log-likelihood per round
    "q247_soft_em_trajectory" ->
      s"""WITH $unigramVocabCtes,
        |${unigramSoftDp("vocab", "")},
        |ll1 AS (SELECT round(CAST(sum(
        |          CAST(round(ln(alpha[CAST(len + 1 AS INTEGER)]), 6)
        |               AS DECIMAL(18,6)) * freq) AS DOUBLE), 6) AS ll
        |        FROM salph),
        |kept1 AS (SELECT piece, scnt FROM scnt WHERE scnt > 0),
        |st1 AS (SELECT sum(scnt) AS tot FROM kept1),
        |svocab2 AS MATERIALIZED (
        |  SELECT piece,
        |         CAST(round((ln(CAST((SELECT tot FROM st1) AS DOUBLE))
        |                     - ln(CAST(scnt AS DOUBLE))) * 1000000.0)
        |              AS BIGINT) AS icost
        |  FROM kept1),
        |${unigramSoftDp("svocab2", "2")},
        |ll2 AS (SELECT round(CAST(sum(
        |          CAST(round(ln(alpha[CAST(len + 1 AS INTEGER)]), 6)
        |               AS DECIMAL(18,6)) * freq) AS DOUBLE), 6) AS ll
        |        FROM salph2),
        |kept2 AS (SELECT piece FROM scnt2 WHERE scnt > 0)
        |SELECT CAST(1 AS BIGINT) AS round,
        |       (SELECT CAST(count(*) AS BIGINT) FROM kept1) AS n_pieces_used,
        |       (SELECT ll FROM ll1) AS corpus_ll
        |UNION ALL
        |SELECT CAST(2 AS BIGINT) AS round,
        |       (SELECT CAST(count(*) AS BIGINT) FROM kept2) AS n_pieces_used,
        |       (SELECT ll FROM ll2) AS corpus_ll""".stripMargin,
    // Kudo's prune loop: two soft-EM rounds each pruning to 60 pieces
    // (all singles + top multis by released 6-dp expected mass) with
    // costs re-estimated from the kept counts
    "q251_vocab_prune" ->
      s"""WITH $unigramVocabCtes,
        |${unigramSoftDp("vocab", "")},
        |ll1 AS (SELECT round(CAST(sum(
        |          CAST(round(ln(alpha[CAST(len + 1 AS INTEGER)]), 6)
        |               AS DECIMAL(18,6)) * freq) AS DOUBLE), 6) AS ll
        |        FROM salph),
        |sng1 AS (
        |  SELECT v.piece,
        |         greatest(coalesce(round(CAST(s.scnt AS DOUBLE), 6),
        |                           CAST(0.0 AS DOUBLE)),
        |                  CAST(0.000001 AS DOUBLE)) AS cnt
        |  FROM vocab v LEFT JOIN scnt s USING (piece)
        |  WHERE length(v.piece) = 1),
        |mul1 AS (
        |  SELECT piece, sc AS cnt FROM (
        |    SELECT piece, round(CAST(scnt AS DOUBLE), 6) AS sc,
        |           row_number() OVER (ORDER BY round(CAST(scnt AS DOUBLE), 6)
        |                              DESC, piece ASC) AS rn
        |    FROM scnt
        |    WHERE length(piece) > 1 AND round(CAST(scnt AS DOUBLE), 6) > 0)
        |  WHERE rn <= 60 - (SELECT count(*) FROM sng1)),
        |kept1 AS (SELECT * FROM sng1 UNION ALL SELECT * FROM mul1),
        |kt1 AS (SELECT sum(CAST(cnt AS DECIMAL(28,6))) AS tot FROM kept1),
        |pv2 AS MATERIALIZED (
        |  SELECT piece,
        |         CAST(round((ln(CAST((SELECT tot FROM kt1) AS DOUBLE))
        |                     - ln(cnt)) * 1000000.0) AS BIGINT) AS icost
        |  FROM kept1),
        |${unigramSoftDp("pv2", "2")},
        |ll2 AS (SELECT round(CAST(sum(
        |          CAST(round(ln(alpha[CAST(len + 1 AS INTEGER)]), 6)
        |               AS DECIMAL(18,6)) * freq) AS DOUBLE), 6) AS ll
        |        FROM salph2),
        |sng2 AS (
        |  SELECT v.piece,
        |         greatest(coalesce(round(CAST(s.scnt AS DOUBLE), 6),
        |                           CAST(0.0 AS DOUBLE)),
        |                  CAST(0.000001 AS DOUBLE)) AS cnt
        |  FROM pv2 v LEFT JOIN scnt2 s USING (piece)
        |  WHERE length(v.piece) = 1),
        |mul2 AS (
        |  SELECT piece, sc AS cnt FROM (
        |    SELECT piece, round(CAST(scnt AS DOUBLE), 6) AS sc,
        |           row_number() OVER (ORDER BY round(CAST(scnt AS DOUBLE), 6)
        |                              DESC, piece ASC) AS rn
        |    FROM scnt2
        |    WHERE length(piece) > 1 AND round(CAST(scnt AS DOUBLE), 6) > 0)
        |  WHERE rn <= 60 - (SELECT count(*) FROM sng2)),
        |kept2 AS (SELECT * FROM sng2 UNION ALL SELECT * FROM mul2)
        |SELECT CAST(1 AS BIGINT) AS round,
        |       (SELECT CAST(count(*) AS BIGINT) FROM kept1) AS n_vocab,
        |       (SELECT ll FROM ll1) AS corpus_ll
        |UNION ALL
        |SELECT CAST(2 AS BIGINT) AS round,
        |       (SELECT CAST(count(*) AS BIGINT) FROM kept2) AS n_vocab,
        |       (SELECT ll FROM ll2) AS corpus_ll""".stripMargin,
    // THREE prune rounds at the 2048 target over the anti-starvation
    // hash-word corpus: lattice -> 6-dp mass prune -> cost re-estimate,
    // chained, corpus ll reported per round (the q251 prune machinery
    // at q261's width, one more round)
    "q269_vocab_multi_round" ->
      s"""WITH ${vocabCtesOver(hashWrdsCte, 4096)},
        |${unigramSoftDp("vocab", "")},
        |ll1 AS (SELECT round(CAST(sum(
        |          CAST(round(ln(alpha[CAST(len + 1 AS INTEGER)]), 6)
        |               AS DECIMAL(18,6)) * freq) AS DOUBLE), 6) AS ll
        |        FROM salph),
        |sng1 AS (
        |  SELECT v.piece,
        |         greatest(coalesce(round(CAST(s.scnt AS DOUBLE), 6),
        |                           CAST(0.0 AS DOUBLE)),
        |                  CAST(0.000001 AS DOUBLE)) AS cnt
        |  FROM vocab v LEFT JOIN scnt s USING (piece)
        |  WHERE length(v.piece) = 1),
        |mul1 AS (
        |  SELECT piece, sc AS cnt FROM (
        |    SELECT piece, round(CAST(scnt AS DOUBLE), 6) AS sc,
        |           row_number() OVER (ORDER BY round(CAST(scnt AS DOUBLE), 6)
        |                              DESC, piece ASC) AS rn
        |    FROM scnt
        |    WHERE length(piece) > 1 AND round(CAST(scnt AS DOUBLE), 6) > 0)
        |  WHERE rn <= 2048 - (SELECT count(*) FROM sng1)),
        |kept1 AS (SELECT * FROM sng1 UNION ALL SELECT * FROM mul1),
        |kt1 AS (SELECT sum(CAST(cnt AS DECIMAL(28,6))) AS tot FROM kept1),
        |pv2 AS MATERIALIZED (
        |  SELECT piece,
        |         CAST(round((ln(CAST((SELECT tot FROM kt1) AS DOUBLE))
        |                     - ln(cnt)) * 1000000.0) AS BIGINT) AS icost
        |  FROM kept1),
        |${unigramSoftDp("pv2", "2")},
        |ll2 AS (SELECT round(CAST(sum(
        |          CAST(round(ln(alpha[CAST(len + 1 AS INTEGER)]), 6)
        |               AS DECIMAL(18,6)) * freq) AS DOUBLE), 6) AS ll
        |        FROM salph2),
        |sng2 AS (
        |  SELECT v.piece,
        |         greatest(coalesce(round(CAST(s.scnt AS DOUBLE), 6),
        |                           CAST(0.0 AS DOUBLE)),
        |                  CAST(0.000001 AS DOUBLE)) AS cnt
        |  FROM pv2 v LEFT JOIN scnt2 s USING (piece)
        |  WHERE length(v.piece) = 1),
        |mul2 AS (
        |  SELECT piece, sc AS cnt FROM (
        |    SELECT piece, round(CAST(scnt AS DOUBLE), 6) AS sc,
        |           row_number() OVER (ORDER BY round(CAST(scnt AS DOUBLE), 6)
        |                              DESC, piece ASC) AS rn
        |    FROM scnt2
        |    WHERE length(piece) > 1 AND round(CAST(scnt AS DOUBLE), 6) > 0)
        |  WHERE rn <= 2048 - (SELECT count(*) FROM sng2)),
        |kept2 AS (SELECT * FROM sng2 UNION ALL SELECT * FROM mul2),
        |kt2 AS (SELECT sum(CAST(cnt AS DECIMAL(28,6))) AS tot FROM kept2),
        |pv3 AS MATERIALIZED (
        |  SELECT piece,
        |         CAST(round((ln(CAST((SELECT tot FROM kt2) AS DOUBLE))
        |                     - ln(cnt)) * 1000000.0) AS BIGINT) AS icost
        |  FROM kept2),
        |${unigramSoftDp("pv3", "3")},
        |ll3 AS (SELECT round(CAST(sum(
        |          CAST(round(ln(alpha[CAST(len + 1 AS INTEGER)]), 6)
        |               AS DECIMAL(18,6)) * freq) AS DOUBLE), 6) AS ll
        |        FROM salph3),
        |sng3 AS (
        |  SELECT v.piece,
        |         greatest(coalesce(round(CAST(s.scnt AS DOUBLE), 6),
        |                           CAST(0.0 AS DOUBLE)),
        |                  CAST(0.000001 AS DOUBLE)) AS cnt
        |  FROM pv3 v LEFT JOIN scnt3 s USING (piece)
        |  WHERE length(v.piece) = 1),
        |mul3 AS (
        |  SELECT piece, sc AS cnt FROM (
        |    SELECT piece, round(CAST(scnt AS DOUBLE), 6) AS sc,
        |           row_number() OVER (ORDER BY round(CAST(scnt AS DOUBLE), 6)
        |                              DESC, piece ASC) AS rn
        |    FROM scnt3
        |    WHERE length(piece) > 1 AND round(CAST(scnt AS DOUBLE), 6) > 0)
        |  WHERE rn <= 2048 - (SELECT count(*) FROM sng3)),
        |kept3 AS (SELECT * FROM sng3 UNION ALL SELECT * FROM mul3)
        |SELECT CAST(1 AS BIGINT) AS round,
        |       (SELECT CAST(count(*) AS BIGINT) FROM kept1) AS n_vocab,
        |       (SELECT ll FROM ll1) AS corpus_ll
        |UNION ALL
        |SELECT CAST(2 AS BIGINT) AS round,
        |       (SELECT CAST(count(*) AS BIGINT) FROM kept2) AS n_vocab,
        |       (SELECT ll FROM ll2) AS corpus_ll
        |UNION ALL
        |SELECT CAST(3 AS BIGINT) AS round,
        |       (SELECT CAST(count(*) AS BIGINT) FROM kept3) AS n_vocab,
        |       (SELECT ll FROM ll3) AS corpus_ll""".stripMargin,
    // hard vs soft on equal footing: one E+M round each from the same
    // seed, both re-estimated models Viterbi-segment the same corpus
    "q248_hard_vs_soft_tokenizer" ->
      s"""WITH $unigramCtes,
        |segs AS (
        |  SELECT w, freq,
        |         substr(w, CAST((pk >> 6) + 1 AS INTEGER),
        |                CAST(pk & 63 AS INTEGER)) AS piece
        |  FROM (SELECT w, freq, unnest(tr[2:]) AS pk FROM bt)),
        |cnt AS (SELECT piece, CAST(sum(freq) AS BIGINT) AS cnt
        |        FROM segs GROUP BY 1),
        |tt AS (SELECT CAST(sum(cnt) AS BIGINT) AS tot1 FROM cnt),
        |vocab2 AS MATERIALIZED (
        |  SELECT piece,
        |         CAST(round((ln(CAST((SELECT tot1 FROM tt) AS DOUBLE))
        |                     - ln(CAST(cnt AS DOUBLE))) * 1000000.0)
        |              AS BIGINT) AS icost
        |  FROM cnt),
        |${unigramDp("vocab2", "2")},
        |${unigramSoftDp("vocab", "s")},
        |keptS AS (SELECT piece, round(CAST(scnt AS DOUBLE), 6) AS sc
        |          FROM scnts WHERE round(CAST(scnt AS DOUBLE), 6) > 0),
        |stS AS (SELECT sum(CAST(sc AS DECIMAL(28,6))) AS tot FROM keptS),
        |svocab3 AS MATERIALIZED (
        |  SELECT piece,
        |         CAST(round((ln(CAST((SELECT tot FROM stS) AS DOUBLE))
        |                     - ln(sc)) * 1000000.0) AS BIGINT) AS icost
        |  FROM keptS),
        |${unigramDp("svocab3", "3")},
        |hm AS (
        |  SELECT CAST(sum(freq * best[CAST(len + 1 AS INTEGER)]) AS BIGINT)
        |           AS corpus_cost,
        |         CAST(sum(freq * (len(tr) - 1)) AS BIGINT) AS piece_mass,
        |         CAST(sum(freq * len) AS BIGINT) AS char_mass
        |  FROM bt2),
        |sm AS (
        |  SELECT CAST(sum(freq * best[CAST(len + 1 AS INTEGER)]) AS BIGINT)
        |           AS corpus_cost,
        |         CAST(sum(freq * (len(tr) - 1)) AS BIGINT) AS piece_mass,
        |         CAST(sum(freq * len) AS BIGINT) AS char_mass
        |  FROM bt3)
        |SELECT 'hard' AS regime,
        |       (SELECT CAST(count(*) AS BIGINT) FROM vocab2) AS n_vocab,
        |       corpus_cost,
        |       round(CAST(char_mass AS DOUBLE) / CAST(piece_mass AS DOUBLE), 6)
        |         AS chars_per_piece
        |FROM hm
        |UNION ALL
        |SELECT 'soft' AS regime,
        |       (SELECT CAST(count(*) AS BIGINT) FROM svocab3) AS n_vocab,
        |       corpus_cost,
        |       round(CAST(char_mass AS DOUBLE) / CAST(piece_mass AS DOUBLE), 6)
        |         AS chars_per_piece
        |FROM sm""".stripMargin,
    // the trained unigram model applied per word OCCURRENCE via the
    // distinct-word equi-join; per-language compression rollup
    "q233_unigram_tokenize" ->
      s"""WITH $unigramCtes,
        |wp AS (SELECT w, CAST(len(tr) - 1 AS BIGINT) AS np FROM bt),
        |occ AS (
        |  SELECT lang, w FROM (
        |    SELECT lang, unnest(string_split(text, ' ')) AS w
        |    FROM documents)
        |  WHERE length(w) BETWEEN 1 AND 20)
        |SELECT lang, CAST(sum(np) AS BIGINT) AS n_pieces,
        |       CAST(sum(length(w)) AS BIGINT) AS n_chars,
        |       round(CAST(sum(length(w)) AS DOUBLE)
        |             / CAST(sum(np) AS DOUBLE), 6) AS chars_per_piece
        |FROM occ JOIN wp USING (w)
        |GROUP BY lang""".stripMargin,
    // the full stack: q219's multi-probe residual scoring nominates 20
    // candidates per query, q214's exact fold reranks only those
    "q222_ivfpq_rerank" -> pqResidualOracle(
      """, qd AS (
        |  SELECT f.vec_id, cc.list,
        |         sum(CAST(round((f.val - cc.val) * (f.val - cc.val), 6)
        |                  AS DECIMAL(18,6))) AS d
        |  FROM fv f JOIN cc ON cc.fpos = f.fpos
        |  WHERE f.vec_id % 97 = 0
        |  GROUP BY 1, 2),
        |qp AS (
        |  SELECT vec_id, list,
        |         row_number() OVER (PARTITION BY vec_id
        |                            ORDER BY d ASC, list ASC) AS pr
        |  FROM qd),
        |rq AS (
        |  SELECT f.vec_id, qp.list, CAST(f.fpos // 8 AS INTEGER) AS sub,
        |         CAST(f.fpos % 8 AS INTEGER) AS pos, f.val - cc.val AS val
        |  FROM fv f JOIN qp ON qp.vec_id = f.vec_id AND qp.pr <= 2
        |  JOIN cc ON cc.list = qp.list AND cc.fpos = f.fpos),
        |dq AS (
        |  SELECT rq.vec_id, rq.list, rq.sub, cb.code,
        |         sum(CAST(round((rq.val - cb.val) * (rq.val - cb.val), 6)
        |                  AS DECIMAL(18,6))) AS d
        |  FROM rq JOIN c2r cb ON cb.sub = rq.sub AND cb.pos = rq.pos
        |  GROUP BY 1, 2, 3, 4),
        |am AS (
        |  SELECT dq.vec_id AS q_id, a.vec_id,
        |         round(CAST(sum(dq.d) AS DOUBLE), 6) AS dist
        |  FROM a3r a JOIN lst cl ON cl.vec_id = a.vec_id
        |  JOIN dq ON dq.list = cl.list AND dq.sub = a.sub AND dq.code = a.code
        |  WHERE a.vec_id <> dq.vec_id
        |  GROUP BY 1, 2),
        |cand AS (
        |  SELECT q_id, vec_id FROM (
        |    SELECT *, row_number() OVER (PARTITION BY q_id
        |                                 ORDER BY dist ASC, vec_id ASC) AS rn
        |    FROM am)
        |  WHERE rn <= 20),
        |rr AS (
        |  SELECT c.q_id, c.vec_id,
        |         round(list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
        |           list_transform(generate_series(1, 64), i ->
        |             (CAST(q.embedding[i] AS DOUBLE) - CAST(x.embedding[i] AS DOUBLE))
        |             * (CAST(q.embedding[i] AS DOUBLE) - CAST(x.embedding[i] AS DOUBLE)))),
        |           (u, w) -> u + w), 6) AS l2
        |  FROM cand c
        |  JOIN embeddings q ON q.vec_id = c.q_id
        |  JOIN embeddings x ON x.vec_id = c.vec_id)
        |SELECT q_id, vec_id, l2 FROM (
        |  SELECT *, row_number() OVER (PARTITION BY q_id
        |                               ORDER BY l2 ASC, vec_id ASC) AS rn
        |  FROM rr)
        |WHERE rn <= 5""".stripMargin),
    // the q213 pricing arithmetic over the nProbe=2 replicated query
    // side: per-list query replicas × code rows
    "q220_multiprobe_mass" ->
      """WITH lst AS MATERIALIZED (
        |  SELECT vec_id, list FROM (
        |    SELECT e.vec_id, j.j AS list,
        |           row_number() OVER (PARTITION BY e.vec_id
        |                              ORDER BY CAST(e.embedding[j.j * 16 + 1] AS DOUBLE) DESC,
        |                                       j.j ASC) AS rn
        |    FROM embeddings e,
        |         (SELECT CAST(unnest(generate_series(0, 3)) AS INTEGER) AS j) j)
        |  WHERE rn = 1),
        |fv AS MATERIALIZED (
        |  SELECT e.vec_id, p.p AS fpos, CAST(e.embedding[p.p + 1] AS DOUBLE) AS val
        |  FROM embeddings e,
        |       (SELECT CAST(unnest(generate_series(0, 63)) AS INTEGER) AS p) p),
        |cc AS MATERIALIZED (
        |  SELECT l.list, f.fpos,
        |         round(CAST(sum(CAST(round(f.val, 6) AS DECIMAL(18,6))) AS DOUBLE)
        |               / count(*), 6) AS val
        |  FROM fv f JOIN lst l ON l.vec_id = f.vec_id
        |  GROUP BY 1, 2),
        |qd AS (
        |  SELECT f.vec_id, cc.list,
        |         sum(CAST(round((f.val - cc.val) * (f.val - cc.val), 6)
        |                  AS DECIMAL(18,6))) AS d
        |  FROM fv f JOIN cc ON cc.fpos = f.fpos
        |  WHERE f.vec_id % 97 = 0
        |  GROUP BY 1, 2),
        |qp AS (
        |  SELECT vec_id, list,
        |         row_number() OVER (PARTITION BY vec_id
        |                            ORDER BY d ASC, list ASC) AS pr
        |  FROM qd),
        |qn AS (SELECT list, count(*) AS n_queries FROM qp
        |       WHERE pr <= 2 GROUP BY 1),
        |cn AS (SELECT list, count(*) AS n_codes FROM lst GROUP BY 1)
        |SELECT coalesce(qn.list, cn.list) AS list,
        |       coalesce(qn.n_queries, 0) AS n_queries,
        |       coalesce(cn.n_codes, 0) AS n_codes,
        |       coalesce(qn.n_queries, 0) * coalesce(cn.n_codes, 0) AS pairs
        |FROM qn FULL OUTER JOIN cn ON cn.list = qn.list""".stripMargin,
    // per-lang q210: grouped buckets/representatives, per-group
    // staircase windows, totals-left-join for stepless groups
    "q212_grouped_drift_w1" -> {
      val alpha = 0.01
      val gamma = (1 + alpha) / (1 - alpha)
      val lnG = math.log(gamma)
      def rep =
        s"round(CASE WHEN bucket IS NULL THEN 0.0 ELSE 2.0 * pow($gamma, CAST(bucket AS DOUBLE)) / ${gamma + 1.0} END, 6)"
      s"""WITH d AS (
         |  SELECT lang, CAST(n_chars AS DOUBLE) AS p, source < 'src4' AS isa
         |  FROM documents WHERE n_chars IS NOT NULL),
         |ba AS (
         |  SELECT lang, CASE WHEN p > 0 THEN CAST(ceil(ln(p) / $lnG) AS BIGINT) END AS bucket,
         |         count(*) AS cnt
         |  FROM d WHERE isa GROUP BY 1, 2),
         |bb AS (
         |  SELECT lang, CASE WHEN p > 0 THEN CAST(ceil(ln(p) / $lnG) AS BIGINT) END AS bucket,
         |         count(*) AS cnt
         |  FROM d WHERE NOT isa GROUP BY 1, 2),
         |t AS (
         |  SELECT lang, v, sum(ca) AS ca, sum(cb) AS cb FROM (
         |    SELECT lang, $rep AS v, cnt AS ca, 0 AS cb FROM ba
         |    UNION ALL
         |    SELECT lang, $rep AS v, 0 AS ca, cnt AS cb FROM bb) GROUP BY 1, 2),
         |tot AS (
         |  SELECT lang, CAST(sum(ca) AS BIGINT) AS n_a, CAST(sum(cb) AS BIGINT) AS n_b
         |  FROM t GROUP BY 1 HAVING sum(ca) > 0 AND sum(cb) > 0),
         |c AS (
         |  SELECT lang, v,
         |         sum(ca) OVER (PARTITION BY lang ORDER BY v) AS cuma,
         |         sum(cb) OVER (PARTITION BY lang ORDER BY v) AS cumb,
         |         lead(v) OVER (PARTITION BY lang ORDER BY v) AS nextv
         |  FROM t),
         |s AS (
         |  SELECT c.lang, sum(CAST(round((c.nextv - c.v) *
         |             CAST(abs(c.cuma * tot.n_b - c.cumb * tot.n_a) AS DOUBLE), 6)
         |           AS DECIMAL(38,6))) AS s,
         |         max(abs(c.cuma * tot.n_b - c.cumb * tot.n_a)) AS ksn
         |  FROM c JOIN tot ON tot.lang = c.lang WHERE c.nextv IS NOT NULL
         |  GROUP BY 1),
         |ps AS (
         |  SELECT t.lang,
         |         sum(CAST(round((CAST(t.ca AS DOUBLE) / tot.n_a
         |                         - CAST(t.cb AS DOUBLE) / tot.n_b) *
         |               ln(CAST(t.ca * tot.n_b AS DOUBLE)
         |                  / CAST(t.cb * tot.n_a AS DOUBLE)), 6)
         |             AS DECIMAL(38,6))) AS psum
         |  FROM t JOIN tot ON tot.lang = t.lang
         |  WHERE t.ca > 0 AND t.cb > 0
         |  GROUP BY 1)
         |SELECT tot.lang, tot.n_a, tot.n_b,
         |       round(CAST(coalesce(s.s, 0) AS DOUBLE)
         |             / CAST(tot.n_a * tot.n_b AS DOUBLE), 6) AS w1,
         |       round(CAST(coalesce(s.ksn, 0) AS DOUBLE)
         |             / CAST(tot.n_a * tot.n_b AS DOUBLE), 6) AS ks,
         |       round(CAST(ps.psum AS DOUBLE), 6) AS psi
         |FROM tot LEFT JOIN s ON s.lang = tot.lang
         |LEFT JOIN ps ON ps.lang = tot.lang""".stripMargin
    },
    // q192's bucket/representative replay feeding the q206 staircase:
    // sub-resolution reps that round together merge their mass first
    "q210_sketch_w1" -> {
      val alpha = 0.01
      val gamma = (1 + alpha) / (1 - alpha)
      val lnG = math.log(gamma)
      def side(pred: String) =
        s"""SELECT CASE WHEN p > 0 THEN CAST(ceil(ln(p) / $lnG) AS BIGINT) END AS bucket,
           |         count(*) AS cnt
           |  FROM j WHERE $pred GROUP BY 1""".stripMargin
      def rep =
        s"round(CASE WHEN bucket IS NULL THEN 0.0 ELSE 2.0 * pow($gamma, CAST(bucket AS DOUBLE)) / ${gamma + 1.0} END, 6)"
      s"""WITH j AS (
         |  SELECT o_totalprice AS p, c_mktsegment = 'BUILDING' AS isa
         |  FROM orders JOIN customer ON o_custkey = c_custkey
         |  WHERE o_totalprice IS NOT NULL),
         |ba AS (${side("isa")}),
         |bb AS (${side("NOT isa")}),
         |t AS (
         |  SELECT v, sum(ca) AS ca, sum(cb) AS cb FROM (
         |    SELECT $rep AS v, cnt AS ca, 0 AS cb FROM ba
         |    UNION ALL
         |    SELECT $rep AS v, 0 AS ca, cnt AS cb FROM bb) GROUP BY 1),
         |tot AS (SELECT CAST(sum(ca) AS BIGINT) AS na,
         |               CAST(sum(cb) AS BIGINT) AS nb FROM t),
         |c AS (
         |  SELECT v, sum(ca) OVER (ORDER BY v) AS cuma,
         |         sum(cb) OVER (ORDER BY v) AS cumb,
         |         lead(v) OVER (ORDER BY v) AS nextv
         |  FROM t),
         |terms AS (
         |  SELECT CAST(round((c.nextv - c.v) *
         |                CAST(abs(c.cuma * tot.nb - c.cumb * tot.na) AS DOUBLE), 6)
         |              AS DECIMAL(38,6)) AS term
         |  FROM c, tot WHERE c.nextv IS NOT NULL)
         |SELECT tot.na AS n_a, tot.nb AS n_b,
         |       round(CAST(coalesce((SELECT sum(term) FROM terms), 0) AS DOUBLE)
         |             / CAST(tot.na * tot.nb AS DOUBLE), 6) AS w1
         |FROM tot""".stripMargin
    },
    // staircase integral between the two ECDFs: cross-scaled integer
    // gaps (exact), one IEEE product per distinct value, decimal term
    // sum, one final division — Drift.wasserstein1's replay
    "q206_wasserstein" ->
      """WITH j AS (
        |  SELECT o_totalprice AS v, c_mktsegment = 'BUILDING' AS isa
        |  FROM orders JOIN customer ON o_custkey = c_custkey
        |  WHERE o_totalprice IS NOT NULL),
        |t AS (
        |  SELECT v, sum(CASE WHEN isa THEN 1 ELSE 0 END) AS ca,
        |         sum(CASE WHEN isa THEN 0 ELSE 1 END) AS cb
        |  FROM j GROUP BY 1),
        |tot AS (SELECT CAST(sum(ca) AS BIGINT) AS na,
        |               CAST(sum(cb) AS BIGINT) AS nb FROM t),
        |c AS (
        |  SELECT v, sum(ca) OVER (ORDER BY v) AS cuma,
        |         sum(cb) OVER (ORDER BY v) AS cumb,
        |         lead(v) OVER (ORDER BY v) AS nextv
        |  FROM t),
        |terms AS (
        |  SELECT CAST(round((c.nextv - c.v) *
        |                CAST(abs(c.cuma * tot.nb - c.cumb * tot.na) AS DOUBLE), 6)
        |              AS DECIMAL(38,6)) AS term
        |  FROM c, tot WHERE c.nextv IS NOT NULL)
        |SELECT tot.na AS n_a, tot.nb AS n_b,
        |       round(CAST(coalesce((SELECT sum(term) FROM terms), 0) AS DOUBLE)
        |             / CAST(tot.na * tot.nb AS DOUBLE), 6) AS w1
        |FROM tot""".stripMargin,
    // both sketches replayed with the q137 portable bucket arithmetic,
    // then the AMS dot-product upper bound next to the real join count
    "q207_join_size" ->
      """WITH ds AS (SELECT * FROM (VALUES (0), (1), (2), (3)) AS t(d)),
        |ba AS (
        |  SELECT ((o_custkey % 2147483647) + 2147483647) % 2147483647 AS km
        |  FROM orders WHERE o_custkey IS NOT NULL),
        |ea AS (
        |  SELECT d, (((km * ((CAST(1103515245 AS BIGINT) * (d + 1) + 12345) % 2147483647))
        |              + ((CAST(2654435761 AS BIGINT) * (d + 1) + 1013904223) % 2147483647))
        |             % 2147483647) % 256 AS bucket
        |  FROM ba, ds),
        |cma AS (SELECT d, bucket, count(*) AS cnt FROM ea GROUP BY 1, 2),
        |bb AS (
        |  SELECT ((c_custkey % 2147483647) + 2147483647) % 2147483647 AS km
        |  FROM customer WHERE c_custkey IS NOT NULL),
        |eb AS (
        |  SELECT d, (((km * ((CAST(1103515245 AS BIGINT) * (d + 1) + 12345) % 2147483647))
        |              + ((CAST(2654435761 AS BIGINT) * (d + 1) + 1013904223) % 2147483647))
        |             % 2147483647) % 256 AS bucket
        |  FROM bb, ds),
        |cmb AS (SELECT d, bucket, count(*) AS cnt FROM eb GROUP BY 1, 2),
        |dot AS (
        |  SELECT a.d, CAST(sum(a.cnt * b.cnt) AS BIGINT) AS dp
        |  FROM cma a JOIN cmb b ON a.d = b.d AND a.bucket = b.bucket
        |  GROUP BY 1),
        |ex AS (
        |  SELECT count(*) AS exact_rows
        |  FROM orders JOIN customer ON o_custkey = c_custkey)
        |SELECT CAST(4 AS INTEGER) AS depth, CAST(256 AS INTEGER) AS width,
        |       (SELECT min(coalesce(dot.dp, 0))
        |        FROM ds LEFT JOIN dot ON dot.d = ds.d) AS est,
        |       ex.exact_rows
        |FROM ex""".stripMargin,
    "q14c_portable_lsh" -> portableLshOracle,
    "q1_dedup_full" -> "SELECT DISTINCT * FROM lineitem",
    "q2_latest_by_key" ->
      """SELECT event_id, ts, user_id, event_type, value, props FROM (
        |  SELECT e.*, row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
        |  FROM events e
        |) WHERE rn = 1""".stripMargin,
    "q3_merge" -> mergeOracle,
    "q4_drift_union" ->
      """SELECT c_custkey, c_name, c_nationkey, c_acctbal, c_mktsegment,
        |       CAST(NULL AS VARCHAR) AS c_nationkey_string, CAST(NULL AS VARCHAR) AS c_note
        |FROM customer
        |UNION ALL
        |SELECT c_custkey, c_name, CAST(NULL AS INTEGER), c_acctbal, c_mktsegment,
        |       CAST(c_nationkey AS VARCHAR), 'b'
        |FROM customer""".stripMargin,
    "q5_audit" ->
      """SELECT CAST(count(*) AS BIGINT) AS n_rows, CAST(count(*) AS BIGINT) AS n_stamped,
        |       CAST(1 AS BIGINT) AS n_stamps
        |FROM customer""".stripMargin,
    "q7_catalog" ->
      """SELECT * FROM (VALUES
        |  ('l_orderkey','bigint',1),('l_partkey','bigint',2),('l_suppkey','bigint',3),
        |  ('l_linenumber','int',4),('l_quantity','double',5),('l_extendedprice','double',6),
        |  ('l_discount','double',7),('l_tax','double',8),('l_returnflag','string',9),
        |  ('l_linestatus','string',10),('l_shipdate','timestamp',11)
        |) AS t(column_name, data_type, ordinal_position)""".stripMargin,
    "q8_fanout_merge" -> mergeOracle,
    "q9_agg" ->
      """SELECT l_returnflag, l_linestatus,
        |       sum(l_quantity) AS sum_qty,
        |       round(sum(l_extendedprice), 2) AS sum_price,
        |       round(sum(l_extendedprice * (1.0 - l_discount)), 2) AS sum_disc_price,
        |       avg(l_quantity) AS avg_qty,
        |       count(*) AS count_order,
        |       count(DISTINCT l_partkey) AS distinct_parts
        |FROM lineitem GROUP BY l_returnflag, l_linestatus""".stripMargin,
    "q10_star_join" ->
      """SELECT r_name, n_name, count(*) AS n_orders, round(sum(o_totalprice), 2) AS revenue
        |FROM orders
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |GROUP BY r_name, n_name""".stripMargin,
    "q11_window_topk" ->
      """SELECT o_custkey, o_orderkey, o_totalprice, rk FROM (
        |  SELECT o_custkey, o_orderkey, o_totalprice,
        |         CAST(row_number() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey ASC) AS INTEGER) AS rk
        |  FROM orders
        |) WHERE rk <= 3""".stripMargin,
    // scalar-only frame: one row per array element; values must equal the
    // ORIGINAL floats bit-exactly, proving to_json->from_json is identity
    "q6_json_roundtrip" ->
      """SELECT vec_id, CAST(generate_subscripts(embedding, 1) - 1 AS INTEGER) AS idx,
        |       unnest(embedding) AS val
        |FROM embeddings""".stripMargin,
    // brute-force exact all-pairs n-gram Jaccard (the Spark side is exact
    // too: prefix-filtered inverted index, no LSH recall loss)
    "q13d_jaccard_pairs" ->
      """WITH sh AS (
        |  SELECT doc_id, list_distinct(list_transform(
        |           generate_series(1, greatest(len(ws) - 2, 0)),
        |           i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2])) AS s
        |  FROM (SELECT doc_id, string_split(text, ' ') AS ws FROM documents)
        |)
        |SELECT idA, idB, round(jac, 6) AS jaccard FROM (
        |  SELECT a.doc_id AS idA, b.doc_id AS idB,
        |         CAST(len(list_intersect(a.s, b.s)) AS DOUBLE) /
        |         CAST(len(a.s) + len(b.s) - len(list_intersect(a.s, b.s)) AS DOUBLE) AS jac
        |  FROM sh a JOIN sh b ON a.doc_id < b.doc_id
        |  WHERE len(a.s) > 0 AND len(b.s) > 0)
        |WHERE jac >= 0.5""".stripMargin,
    // classic gaps-and-islands sessionization: break when the gap from the
    // previous event reaches 30 minutes; session_end = last event + gap
    "q29_session_window" ->
      """WITH o AS (
        |  SELECT user_id, ts::TIMESTAMP AS ts,
        |         CASE WHEN lag(ts::TIMESTAMP) OVER w IS NULL
        |              OR ts::TIMESTAMP - lag(ts::TIMESTAMP) OVER w >= INTERVAL 30 MINUTE
        |              THEN 1 ELSE 0 END AS brk
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts)
        |), g AS (
        |  SELECT user_id, ts,
        |         sum(brk) OVER (PARTITION BY user_id ORDER BY ts ROWS UNBOUNDED PRECEDING) AS grp
        |  FROM o
        |)
        |SELECT min(ts) AS session_start, max(ts) + INTERVAL 30 MINUTE AS session_end,
        |       user_id, count(*) AS n_events
        |FROM g GROUP BY user_id, grp""".stripMargin,
    // strict-gap gaps-and-islands (break only when the gap EXCEEDS 30
    // minutes — the custom sessionizer's continue-on-equality semantics);
    // session_end is the last event, sums rounded to 3 (one digit finer
    // than the 2-decimal value grid)
    "q29b_sessionize_sorted" ->
      """WITH o AS (
        |  SELECT user_id, ts::TIMESTAMP AS ts, value,
        |         CASE WHEN lag(ts::TIMESTAMP) OVER w IS NULL
        |              OR ts::TIMESTAMP - lag(ts::TIMESTAMP) OVER w > INTERVAL 30 MINUTE
        |              THEN 1 ELSE 0 END AS brk
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts)
        |), g AS (
        |  SELECT user_id, ts, value,
        |         sum(brk) OVER (PARTITION BY user_id ORDER BY ts ROWS UNBOUNDED PRECEDING) AS grp
        |  FROM o
        |)
        |SELECT user_id, min(ts) AS session_start, max(ts) AS session_end,
        |       count(*) AS n_events, round(sum(value), 3) AS sum_value
        |FROM g GROUP BY user_id, grp""".stripMargin,
    "q38_jdbc_roundtrip" ->
      """SELECT o_orderstatus, count(*) AS n, round(sum(o_totalprice), 2) AS revenue
        |FROM orders WHERE o_orderkey % 10 = 0
        |GROUP BY o_orderstatus""".stripMargin,
    "q12_tumbling_window" ->
      """SELECT time_bucket(INTERVAL '1 hour', ts::TIMESTAMP) AS window_start,
        |       time_bucket(INTERVAL '1 hour', ts::TIMESTAMP) + INTERVAL '1 hour' AS window_end,
        |       event_type, count(*) AS n_events, round(sum(value), 2) AS sum_value
        |FROM events GROUP BY 1, 2, 3""".stripMargin,
    "q13_exact_text_dedup" ->
      """SELECT * FROM documents
        |WHERE doc_id IN (SELECT min(doc_id) FROM documents GROUP BY md5(text))""".stripMargin,
    "q14_cosine_topk" ->
      """WITH q AS (SELECT vec_id AS q_id, embedding AS q_emb FROM embeddings WHERE vec_id < 5),
        |scored AS (
        |  SELECT q.q_id, e.vec_id,
        |         round(list_cosine_similarity(q.q_emb::DOUBLE[], e.embedding::DOUBLE[]), 6) AS sim
        |  FROM q CROSS JOIN embeddings e WHERE e.vec_id <> q.q_id)
        |SELECT q_id, vec_id, sim FROM (
        |  SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, vec_id ASC) AS rn
        |  FROM scored)
        |WHERE rn <= 10""".stripMargin,
    "q15_text_stats" ->
      """SELECT lang, count(*) AS n_docs,
        |       CAST(sum(n_chars) AS BIGINT) AS sum_chars,
        |       CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS sum_tokens,
        |       CAST(sum(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]'))) AS BIGINT) AS sum_subwords,
        |       avg(len(string_split(text, ' '))) AS avg_tokens
        |FROM documents GROUP BY lang""".stripMargin,
    "q16_quality" ->
      """WITH f AS (
        |  SELECT doc_id,
        |         len(string_split(text, ' ')) AS nt,
        |         CASE WHEN length(text) = 0 THEN 0.0
        |              ELSE CAST(length(regexp_replace(text, '[A-Za-z0-9\s]', '', 'g')) AS DOUBLE)
        |                   / CAST(length(text) AS DOUBLE) END AS pr,
        |         CASE WHEN len(string_split(text, ' ')) = 0 THEN 0.0
        |              ELSE CAST(len(list_filter(string_split(text, ' '),
        |                     tk -> list_contains(['the','and','of','to','in','is','that','it','a'], tk))) AS DOUBLE)
        |                   / CAST(len(string_split(text, ' ')) AS DOUBLE) END AS sr
        |  FROM documents)
        |SELECT doc_id, CAST(nt AS BIGINT) AS n_tokens, pr AS punct_ratio, sr AS stopword_ratio,
        |       round(0.4 * least(CAST(nt AS DOUBLE) / 100.0, 1.0)
        |             + 0.3 * (1.0 - least(pr * 5.0, 1.0))
        |             + 0.3 * least(sr * 4.0, 1.0), 6) AS quality_score
        |FROM f""".stripMargin,
    "q17_langid" ->
      """WITH s AS (
        |  SELECT len(list_intersect(string_split(text,' '), ['der','die','das','und','ist','nicht','ein','zu'])) AS s_de,
        |         len(list_intersect(string_split(text,' '), ['the','and','of','to','in','is','that','it','a'])) AS s_en,
        |         len(list_intersect(string_split(text,' '), ['el','la','los','y','es','no','una','que'])) AS s_es,
        |         len(list_intersect(string_split(text,' '), ['le','la','les','et','est','pas','une','que'])) AS s_fr,
        |         len(list_intersect(string_split(text,' '), ['的','是','不','了','在','人','有','我'])) AS s_zh
        |  FROM documents),
        |g AS (SELECT *, greatest(s_de, s_en, s_es, s_fr, s_zh) AS m FROM s)
        |SELECT CASE WHEN m <= 0 THEN 'und'
        |            WHEN s_de = m THEN 'de' WHEN s_en = m THEN 'en'
        |            WHEN s_es = m THEN 'es' WHEN s_fr = m THEN 'fr'
        |            ELSE 'zh' END AS lang_pred,
        |       count(*) AS n
        |FROM g GROUP BY 1""".stripMargin,
    "q13f_portable_minhash" -> portableMinhashOracle,
    "q133_lsh_eval" -> lshEvalOracle,
    // group count + suppression CASE replayed per row; the bucket is
    // floor-division of a double, bit-identical in both engines
    "q134_k_anonymity" ->
      """WITH b AS (
        |  SELECT c_custkey, c_nationkey,
        |         CAST(floor(c_acctbal / 2000) AS BIGINT) AS bal_bucket
        |  FROM customer),
        |g AS (SELECT c_nationkey, bal_bucket, count(*) AS n
        |      FROM b GROUP BY 1, 2)
        |SELECT c_custkey,
        |       CASE WHEN n < 8 THEN NULL ELSE c_nationkey END AS c_nationkey,
        |       CASE WHEN n < 8 THEN NULL ELSE bal_bucket END AS bal_bucket,
        |       (n < 8) AS suppressed
        |FROM b JOIN g USING (c_nationkey, bal_bucket)""".stripMargin,
    // sims rounded to 6 dp before ranking; the margin test is the same
    // divisionless decimal inequality (40*sim >= 6*(fa_sum+fb_sum)), so
    // every stage replays exactly
    "q135_bitext_margin" ->
      """WITH src AS (SELECT vec_id AS src_id, embedding FROM embeddings
        |             WHERE vec_id % 2 = 0 AND vec_id < 1000),
        |tgt AS (SELECT vec_id AS tgt_id, embedding FROM embeddings
        |        WHERE vec_id % 2 = 1 AND vec_id < 1000),
        |sims AS (
        |  SELECT s.src_id, t.tgt_id,
        |         round(list_cosine_similarity(s.embedding::DOUBLE[],
        |                                      t.embedding::DOUBLE[]), 6) AS sim
        |  FROM src s CROSS JOIN tgt t),
        |ranked AS (
        |  SELECT *,
        |         row_number() OVER (PARTITION BY src_id ORDER BY sim DESC, tgt_id ASC) AS rf,
        |         row_number() OVER (PARTITION BY tgt_id ORDER BY sim DESC, src_id ASC) AS rb
        |  FROM sims),
        |fa AS (SELECT src_id, sum(CAST(sim AS DECIMAL(18,6))) AS fa_sum
        |       FROM ranked WHERE rf <= 4 GROUP BY 1),
        |fb AS (SELECT tgt_id, sum(CAST(sim AS DECIMAL(18,6))) AS fb_sum
        |       FROM ranked WHERE rb <= 4 GROUP BY 1)
        |SELECT r.src_id, r.tgt_id, r.sim
        |FROM ranked r JOIN fa USING (src_id) JOIN fb USING (tgt_id)
        |WHERE rf = 1 AND rb = 1
        |  AND 40 * CAST(r.sim AS DECIMAL(18,6)) >= 6 * (fa_sum + fb_sum)""".stripMargin,
    // q110's BM25 CTEs (ranked on the 6-dp-rounded score, top 20) + q14's
    // dense cosine (query = vec 0, top 20), fused by 1/(60+rank) with the
    // two reciprocals added in the same (lex, dense) order as the Scala
    // fold — each reciprocal is one IEEE division, so scores replay
    // bit-for-bit
    "q136_rrf_fusion" ->
      """WITH d AS (
        |  SELECT doc_id, string_split(text, ' ') AS ws,
        |         CAST(len(string_split(text, ' ')) AS DOUBLE) AS dl
        |  FROM documents),
        |s AS (SELECT CAST(count(*) AS DOUBLE) AS n, avg(dl) AS avgdl FROM d),
        |f AS (SELECT
        |        CAST((SELECT count(*) FROM d WHERE list_contains(ws, 'merge')) AS DOUBLE) AS df_merge,
        |        CAST((SELECT count(*) FROM d WHERE list_contains(ws, 'spark')) AS DOUBLE) AS df_spark,
        |        CAST((SELECT count(*) FROM d WHERE list_contains(ws, 'window')) AS DOUBLE) AS df_window),
        |scored AS (
        |  SELECT doc_id, round(
        |    ln((s.n - f.df_merge + 0.5) / (f.df_merge + 0.5) + 1.0) *
        |      (CAST(len(list_filter(ws, w -> w = 'merge')) AS DOUBLE) * (1.2 + 1.0)) /
        |      (CAST(len(list_filter(ws, w -> w = 'merge')) AS DOUBLE) + 1.2 * ((1.0 - 0.75) + 0.75 * dl / s.avgdl)) +
        |    ln((s.n - f.df_spark + 0.5) / (f.df_spark + 0.5) + 1.0) *
        |      (CAST(len(list_filter(ws, w -> w = 'spark')) AS DOUBLE) * (1.2 + 1.0)) /
        |      (CAST(len(list_filter(ws, w -> w = 'spark')) AS DOUBLE) + 1.2 * ((1.0 - 0.75) + 0.75 * dl / s.avgdl)) +
        |    ln((s.n - f.df_window + 0.5) / (f.df_window + 0.5) + 1.0) *
        |      (CAST(len(list_filter(ws, w -> w = 'window')) AS DOUBLE) * (1.2 + 1.0)) /
        |      (CAST(len(list_filter(ws, w -> w = 'window')) AS DOUBLE) + 1.2 * ((1.0 - 0.75) + 0.75 * dl / s.avgdl)), 6) AS score
        |  FROM d, s, f),
        |lex AS (SELECT id, rank_lex FROM (
        |  SELECT doc_id AS id,
        |         row_number() OVER (ORDER BY score DESC, doc_id ASC) AS rank_lex
        |  FROM scored) WHERE rank_lex <= 20),
        |den0 AS (
        |  SELECT e.vec_id AS id,
        |         round(list_cosine_similarity(q.embedding::DOUBLE[],
        |                                      e.embedding::DOUBLE[]), 6) AS sim
        |  FROM embeddings e,
        |       (SELECT embedding FROM embeddings WHERE vec_id = 0) q
        |  WHERE e.vec_id != 0),
        |den AS (SELECT id, rank_dense FROM (
        |  SELECT id, row_number() OVER (ORDER BY sim DESC, id ASC) AS rank_dense
        |  FROM den0) WHERE rank_dense <= 20),
        |fused AS (
        |  SELECT coalesce(l.id, dn.id) AS id, l.rank_lex, dn.rank_dense,
        |         round(coalesce(1.0 / (60.0 + CAST(l.rank_lex AS DOUBLE)), 0.0)
        |             + coalesce(1.0 / (60.0 + CAST(dn.rank_dense AS DOUBLE)), 0.0), 9) AS rrf_score
        |  FROM lex l FULL OUTER JOIN den dn ON l.id = dn.id),
        |top AS (SELECT * FROM fused ORDER BY rrf_score DESC, id ASC LIMIT 10)
        |SELECT id AS doc_id, rank_lex, rank_dense, rrf_score,
        |       CAST(row_number() OVER (ORDER BY rrf_score DESC, id ASC) AS INTEGER) AS fused_rank
        |FROM top""".stripMargin,
    // every counter and every min replayed from the same mod-Mersenne
    // arithmetic (a_d = (1103515245(d+1)+12345) mod P, b_d =
    // (2654435761(d+1)+1013904223) mod P, P = 2^31-1, width 256)
    "q137_count_min" ->
      """WITH ds AS (SELECT * FROM (VALUES (0), (1), (2), (3)) AS t(d)),
        |base AS (
        |  SELECT ((l_partkey % 2147483647) + 2147483647) % 2147483647 AS km
        |  FROM lineitem),
        |e AS (
        |  SELECT d, (((km * ((CAST(1103515245 AS BIGINT) * (d + 1) + 12345) % 2147483647))
        |              + ((CAST(2654435761 AS BIGINT) * (d + 1) + 1013904223) % 2147483647))
        |             % 2147483647) % 256 AS bucket
        |  FROM base, ds),
        |cms AS (SELECT d, bucket, count(*) AS cnt FROM e GROUP BY 1, 2),
        |probes AS (SELECT DISTINCT p_partkey AS key FROM part WHERE p_partkey % 97 = 0),
        |pe AS (
        |  SELECT key, d,
        |         ((((((key % 2147483647) + 2147483647) % 2147483647)
        |             * ((CAST(1103515245 AS BIGINT) * (d + 1) + 12345) % 2147483647))
        |           + ((CAST(2654435761 AS BIGINT) * (d + 1) + 1013904223) % 2147483647))
        |          % 2147483647) % 256 AS bucket
        |  FROM probes, ds),
        |est AS (
        |  SELECT key, min(coalesce(cnt, 0)) AS est
        |  FROM pe LEFT JOIN cms USING (d, bucket) GROUP BY 1),
        |ex AS (SELECT l_partkey AS key, count(*) AS exact FROM lineitem GROUP BY 1)
        |SELECT key AS p_partkey, est, coalesce(exact, 0) AS exact
        |FROM est LEFT JOIN ex USING (key)""".stripMargin,
    // same exact-cents window stats, same division-free BIGINT inequality
    "q138_rolling_anomaly" ->
      """WITH c AS (
        |  SELECT event_id, user_id, ts, value,
        |         CAST(round(value * 100) AS BIGINT) AS v
        |  FROM events),
        |w AS (
        |  SELECT event_id, user_id, ts, value, v,
        |         count(v) OVER win AS n_window,
        |         sum(v) OVER win AS s1,
        |         sum(v * v) OVER win AS s2
        |  FROM c
        |  WINDOW win AS (PARTITION BY user_id ORDER BY ts ASC, event_id ASC
        |                 ROWS BETWEEN 20 PRECEDING AND 1 PRECEDING))
        |SELECT event_id, user_id, ts, value, n_window
        |FROM w
        |WHERE n_window >= 5
        |  AND (v * n_window - s1) * (v * n_window - s1) * (n_window - 1)
        |      > 9 * n_window * (n_window * s2 - s1 * s1)""".stripMargin,
    // clipped-count overlap replayed with the same list algebra; the two
    // ratios are single IEEE divisions of exact integers
    "q139_rouge_overlap" ->
      """WITH p AS (
        |  SELECT a.doc_id AS cand_id, b.doc_id AS ref_id,
        |         string_split(a.text, ' ') AS cw, string_split(b.text, ' ') AS rw
        |  FROM documents a JOIN documents b ON b.doc_id = a.doc_id + 1
        |  WHERE a.doc_id < 150),
        |g AS (
        |  SELECT cand_id, ref_id,
        |         list_transform(generate_series(1, greatest(len(cw) - 1, 0)),
        |                        i -> cw[i] || ' ' || cw[i+1]) AS cg,
        |         list_transform(generate_series(1, greatest(len(rw) - 1, 0)),
        |                        i -> rw[i] || ' ' || rw[i+1]) AS rg
        |  FROM p),
        |o AS (
        |  SELECT cand_id, ref_id,
        |         CAST(len(cg) AS BIGINT) AS cand_bigrams,
        |         CAST(len(rg) AS BIGINT) AS ref_bigrams,
        |         CAST(coalesce(list_sum(list_transform(list_distinct(rg), x ->
        |           least(len(list_filter(cg, y -> y = x)),
        |                 len(list_filter(rg, y -> y = x))))), 0) AS BIGINT) AS overlap
        |  FROM g)
        |SELECT cand_id, ref_id, cand_bigrams, ref_bigrams, overlap,
        |       CASE WHEN ref_bigrams > 0
        |            THEN round(CAST(overlap AS DOUBLE) / CAST(ref_bigrams AS DOUBLE), 6)
        |       END AS rouge2_recall,
        |       CASE WHEN cand_bigrams > 0
        |            THEN round(CAST(overlap AS DOUBLE) / CAST(cand_bigrams AS DOUBLE), 6)
        |       END AS rouge2_precision
        |FROM o""".stripMargin,
    // the bloom stage is invisible to the answer by construction (no
    // false negatives + exact verify): the oracle is the plain semi-join
    "q140_bloom_semi_join" ->
      """SELECT l_returnflag, count(*) AS n,
        |       CAST(round(sum(CAST(l_quantity AS DECIMAL(18,6))), 2) AS DOUBLE) AS sum_qty
        |FROM lineitem
        |WHERE l_suppkey IN (SELECT s_suppkey FROM supplier WHERE s_suppkey % 7 = 0)
        |GROUP BY 1""".stripMargin,
    // exact BIGINT counts; the PMI argument is one IEEE division of two
    // exact integer products, then one ln (the q110/q121 discipline)
    "q141_pmi_collocations" ->
      """WITH ws AS (SELECT string_split(text, ' ') AS ws FROM documents),
        |uni AS (SELECT unnest(ws) AS t FROM ws),
        |un AS (SELECT t, count(*) AS c FROM uni GROUP BY 1),
        |nu AS (SELECT count(*) AS n_u FROM uni),
        |bi AS (SELECT unnest(list_transform(generate_series(1, greatest(len(ws) - 1, 0)),
        |                                    i -> ws[i] || ' ' || ws[i+1])) AS bg FROM ws),
        |bc AS (SELECT bg, count(*) AS c_xy FROM bi GROUP BY 1 HAVING count(*) >= 25),
        |nb AS (SELECT count(*) AS n_b FROM bi)
        |SELECT string_split(bg, ' ')[1] AS term_a, string_split(bg, ' ')[2] AS term_b, c_xy,
        |       round(ln(CAST(c_xy * n_u * n_u AS DOUBLE)
        |                / CAST(n_b * a.c * b.c AS DOUBLE)), 6) AS pmi
        |FROM bc, nu, nb
        |JOIN un a ON a.t = string_split(bg, ' ')[1]
        |JOIN un b ON b.t = string_split(bg, ' ')[2]""".stripMargin,
    // the q13e portable token hashes -> bucket -> integer weight -> exact
    // sum; label thresholds the INTEGER sum, never the float
    "q142_hashed_classifier" ->
      """WITH h AS (
        |  SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
        |         list_transform(string_split(text, ' '), t ->
        |           list_reduce(
        |             list_prepend(CAST(0 AS BIGINT),
        |               list_transform(string_split(t, ''), c -> CAST(ascii(c) AS BIGINT))),
        |             (a, x) -> (a * 131 + x) % 281474976710656)) AS hs
        |  FROM documents),
        |s AS (SELECT doc_id, n_tokens,
        |        CAST(coalesce(list_sum(list_transform(hs, hv ->
        |          ((hv % 64) * 2654435761) % 1997 - 998)), 0) AS BIGINT) AS score_int
        |      FROM h)
        |SELECT doc_id, n_tokens, score_int,
        |       CASE WHEN n_tokens > 0
        |            THEN round(CAST(score_int AS DOUBLE) / CAST(n_tokens * 1000 AS DOUBLE), 6)
        |       END AS score,
        |       (score_int > 0) AS label
        |FROM s""".stripMargin,
    // counter additivity makes merged-day sketches == one full build, so
    // the oracle IS the from-scratch CMS over all events (q137 hashes,
    // user_id keys, width 64)
    "q143_incremental_cms" ->
      """WITH ds AS (SELECT * FROM (VALUES (0), (1), (2), (3)) AS t(d)),
        |base AS (
        |  SELECT ((user_id % 2147483647) + 2147483647) % 2147483647 AS km
        |  FROM events),
        |e AS (
        |  SELECT d, (((km * ((CAST(1103515245 AS BIGINT) * (d + 1) + 12345) % 2147483647))
        |              + ((CAST(2654435761 AS BIGINT) * (d + 1) + 1013904223) % 2147483647))
        |             % 2147483647) % 64 AS bucket
        |  FROM base, ds),
        |cms AS (SELECT d, bucket, count(*) AS cnt FROM e GROUP BY 1, 2),
        |probes AS (SELECT DISTINCT user_id AS key FROM events),
        |pe AS (
        |  SELECT key, d,
        |         ((((((key % 2147483647) + 2147483647) % 2147483647)
        |             * ((CAST(1103515245 AS BIGINT) * (d + 1) + 12345) % 2147483647))
        |           + ((CAST(2654435761 AS BIGINT) * (d + 1) + 1013904223) % 2147483647))
        |          % 2147483647) % 64 AS bucket
        |  FROM probes, ds)
        |SELECT key AS user_id, min(coalesce(cnt, 0)) AS est
        |FROM pe LEFT JOIN cms USING (d, bucket) GROUP BY 1""".stripMargin,
    // ECDFs as one ordered window over per-distinct-value counts; the sup
    // on the integer cross-scaled gap, one final rounded division
    "q144_ks_drift" ->
      """WITH x AS (
        |  SELECT value AS v,
        |         CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS ia,
        |         CASE WHEN event_type = 'click' THEN 1 ELSE 0 END AS ib
        |  FROM events WHERE event_type IN ('purchase', 'click')
        |    AND value IS NOT NULL),
        |g AS (SELECT v, CAST(sum(ia) AS BIGINT) AS ca, CAST(sum(ib) AS BIGINT) AS cb
        |      FROM x GROUP BY 1),
        |c AS (SELECT sum(ca) OVER (ORDER BY v) AS cuma,
        |             sum(cb) OVER (ORDER BY v) AS cumb
        |      FROM g),
        |t AS (SELECT CAST(sum(ia) AS BIGINT) AS n_a, CAST(sum(ib) AS BIGINT) AS n_b FROM x)
        |SELECT n_a, n_b,
        |       CAST(max(abs(cuma * n_b - cumb * n_a)) AS BIGINT) AS ks_num,
        |       round(CAST(max(abs(cuma * n_b - cumb * n_a)) AS DOUBLE)
        |             / CAST(n_a * n_b AS DOUBLE), 6) AS ks
        |FROM c, t GROUP BY n_a, n_b""".stripMargin,
    // exact bin counts; each psi term the same fixed chain of IEEE ops
    "q145_psi_bins" ->
      """WITH a AS (
        |  SELECT CAST(floor(value / 25.0) AS BIGINT) AS bin, count(*) AS c_a
        |  FROM events WHERE event_type = 'signup' GROUP BY 1),
        |b AS (
        |  SELECT CAST(floor(value / 25.0) AS BIGINT) AS bin, count(*) AS c_b
        |  FROM events WHERE event_type = 'error' GROUP BY 1),
        |t AS (SELECT (SELECT sum(c_a) FROM a) AS n_a, (SELECT sum(c_b) FROM b) AS n_b)
        |SELECT bin, c_a, c_b,
        |       round((CAST(c_a AS DOUBLE) / n_a - CAST(c_b AS DOUBLE) / n_b)
        |             * ln(CAST(c_a * n_b AS DOUBLE) / CAST(c_b * n_a AS DOUBLE)), 6) AS psi_term
        |FROM a JOIN b USING (bin), t""".stripMargin,
    // theta, rho and both estimates replayed from the same md5 ordering
    // and 48-bit hex fold; 63.0*2^48/theta and rho*est/64 written in the
    // same operation order as the Scala side
    "q146_kmv_overlap" ->
      """WITH da AS (SELECT DISTINCT CAST(c_custkey AS VARCHAR) AS v FROM customer),
        |db AS (SELECT DISTINCT CAST(o_custkey AS VARCHAR) AS v FROM orders
        |      WHERE o_orderkey % 17 = 0),
        |ha AS (SELECT md5(v) AS h FROM da),
        |hb AS (SELECT md5(v) AS h FROM db),
        |du AS (SELECT DISTINCT h FROM (SELECT h FROM ha UNION ALL SELECT h FROM hb)),
        |uk AS (SELECT h, rk FROM (
        |  SELECT h, row_number() OVER (ORDER BY h) AS rk FROM du) WHERE rk <= 64),
        |theta AS (SELECT list_reduce(list_prepend(CAST(0 AS BIGINT),
        |            list_transform(string_split(substr(h, 1, 12), ''), c ->
        |              CAST(strpos('0123456789abcdef', c) - 1 AS BIGINT))),
        |            (a, x) -> a * 16 + x) AS theta48
        |          FROM uk WHERE rk = 64),
        |rho AS (SELECT count(*) AS rho FROM uk
        |        WHERE h IN (SELECT h FROM ha) AND h IN (SELECT h FROM hb)),
        |ex AS (SELECT
        |        (SELECT count(*) FROM du) AS exact_union,
        |        (SELECT count(*) FROM ha WHERE h IN (SELECT h FROM hb)) AS exact_intersection)
        |SELECT CAST(64 AS INTEGER) AS k, CAST(rho AS BIGINT) AS rho, theta48,
        |       round(CAST(63 AS DOUBLE) * CAST(281474976710656 AS DOUBLE) / CAST(theta48 AS DOUBLE), 4) AS est_union,
        |       round(CAST(rho AS DOUBLE)
        |             * (CAST(63 AS DOUBLE) * CAST(281474976710656 AS DOUBLE) / CAST(theta48 AS DOUBLE)) / 64, 4)
        |         AS est_intersection,
        |       CAST(exact_union AS BIGINT) AS exact_union,
        |       CAST(exact_intersection AS BIGINT) AS exact_intersection
        |FROM theta, rho, ex""".stripMargin,
    // q142's label CTEs reused; confusion counts exact, p_o/p_e/kappa the
    // same unrounded IEEE chains, rounded 6 dp only at the end
    "q147_filter_agreement" ->
      """WITH h AS (
        |  SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
        |         list_transform(string_split(text, ' '), t ->
        |           list_reduce(
        |             list_prepend(CAST(0 AS BIGINT),
        |               list_transform(string_split(t, ''), c -> CAST(ascii(c) AS BIGINT))),
        |             (a, x) -> (a * 131 + x) % 281474976710656)) AS hs
        |  FROM documents),
        |s AS (SELECT n_tokens,
        |        CAST(coalesce(list_sum(list_transform(hs, hv ->
        |          ((hv % 64) * 2654435761) % 1997 - 998)), 0) AS BIGINT) AS score_int
        |      FROM h),
        |l AS (SELECT (score_int > 0) AS la, (n_tokens >= 60) AS lb FROM s
        |      WHERE (score_int > 0) IS NOT NULL AND (n_tokens >= 60) IS NOT NULL),
        |c AS (SELECT CAST(count(*) AS BIGINT) AS n,
        |        CAST(sum(CASE WHEN NOT la AND NOT lb THEN 1 ELSE 0 END) AS BIGINT) AS n00,
        |        CAST(sum(CASE WHEN NOT la AND lb THEN 1 ELSE 0 END) AS BIGINT) AS n01,
        |        CAST(sum(CASE WHEN la AND NOT lb THEN 1 ELSE 0 END) AS BIGINT) AS n10,
        |        CAST(sum(CASE WHEN la AND lb THEN 1 ELSE 0 END) AS BIGINT) AS n11
        |      FROM l),
        |p AS (SELECT n, n00, n01, n10, n11,
        |        CAST(n00 + n11 AS DOUBLE) / CAST(n AS DOUBLE) AS po,
        |        CAST((n00 + n01) * (n00 + n10) + (n10 + n11) * (n01 + n11) AS DOUBLE)
        |          / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)) AS pe
        |      FROM c)
        |SELECT n, n00, n01, n10, n11,
        |       round(po, 6) AS p_o, round(pe, 6) AS p_e,
        |       CASE WHEN pe < 1.0 THEN round((po - pe) / (1.0 - pe), 6) END AS kappa
        |FROM p""".stripMargin,
    // the SAME portable pipeline, candidates restricted to pairs touching
    // the odd-id batch — the incremental pass may differ from from-scratch
    // ONLY by dropping store-internal pairs
    "q106_incremental_minhash" -> portableMinhashOracle.replace(
      "AND a.doc_id < b.doc_id)",
      "AND a.doc_id < b.doc_id AND (a.doc_id % 2 = 1 OR b.doc_id % 2 = 1))"),
    // portable simhash codes -> 4x12-bit pigeonhole bands -> hamming verify
    "q13h_portable_simhash_pairs" ->
      """WITH h AS (
        |  SELECT doc_id,
        |         list_transform(string_split(text, ' '), t ->
        |           list_reduce(
        |             list_prepend(CAST(0 AS BIGINT),
        |               list_transform(string_split(t, ''), c -> CAST(ascii(c) AS BIGINT))),
        |             (a, x) -> (a * 131 + x) % 281474976710656)) AS hs
        |  FROM documents),
        |r AS (
        |  SELECT doc_id,
        |         list_transform(hs, x -> (x * 32749 + 12345) % 281474976710656) AS hm
        |  FROM h),
        |c AS (
        |  SELECT doc_id,
        |         CAST(list_sum(list_transform(range(0, 48), i ->
        |           CASE WHEN list_sum(list_transform(hm, hv ->
        |                  CASE WHEN (hv >> i) & 1 = 1 THEN 1 ELSE -1 END)) >= 0
        |                THEN (CAST(1 AS BIGINT) << i) ELSE CAST(0 AS BIGINT) END)) AS BIGINT)
        |           AS code
        |  FROM r),
        |bk AS (
        |  SELECT doc_id, t.b AS band, (code >> (12 * t.b)) & 4095 AS v
        |  FROM c, (VALUES (0), (1), (2), (3)) AS t(b)),
        |cand AS (
        |  SELECT DISTINCT a.doc_id AS idA, b.doc_id AS idB
        |  FROM bk a JOIN bk b ON a.band = b.band AND a.v = b.v AND a.doc_id < b.doc_id)
        |SELECT idA, idB, CAST(bit_count(xor(x.code, y.code)) AS INTEGER) AS hamming
        |FROM cand JOIN c x ON x.doc_id = idA JOIN c y ON y.doc_id = idB
        |WHERE bit_count(xor(x.code, y.code)) <= 3""".stripMargin,
    // transitive closure of the q13d pair graph via recursive reachability,
    // rep = min id of the component (both edge directions seeded)
    "q13g_dup_groups" ->
      """WITH RECURSIVE sh AS (
        |  SELECT doc_id, list_distinct(list_transform(
        |           generate_series(1, greatest(len(ws) - 2, 0)),
        |           i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2])) AS s
        |  FROM (SELECT doc_id, string_split(text, ' ') AS ws FROM documents)
        |),
        |pr AS (
        |  SELECT a.doc_id AS idA, b.doc_id AS idB
        |  FROM sh a JOIN sh b ON a.doc_id < b.doc_id
        |  WHERE len(a.s) > 0 AND len(b.s) > 0
        |    AND CAST(len(list_intersect(a.s, b.s)) AS DOUBLE) /
        |        CAST(len(a.s) + len(b.s) - len(list_intersect(a.s, b.s)) AS DOUBLE) >= 0.5
        |),
        |e AS (SELECT idA AS a, idB AS b FROM pr UNION SELECT idB, idA FROM pr),
        |reach AS (
        |  SELECT a, b FROM e
        |  UNION
        |  SELECT r.a, e.b FROM reach r JOIN e ON r.b = e.a
        |)
        |SELECT a AS id, least(a, min(b)) AS rep FROM reach GROUP BY a""".stripMargin,
    "q13e_portable_simhash" ->
      """WITH h AS (
        |  SELECT doc_id,
        |         list_transform(string_split(text, ' '), t ->
        |           list_reduce(
        |             list_prepend(CAST(0 AS BIGINT),
        |               list_transform(string_split(t, ''), c -> CAST(ascii(c) AS BIGINT))),
        |             (a, x) -> (a * 131 + x) % 281474976710656)) AS hs
        |  FROM documents)
        |SELECT doc_id,
        |       CAST(list_sum(list_transform(range(0, 48), i ->
        |         CASE WHEN list_sum(list_transform(hs, hv ->
        |                CASE WHEN (hv >> i) & 1 = 1 THEN 1 ELSE -1 END)) >= 0
        |              THEN (CAST(1 AS BIGINT) << i) ELSE CAST(0 AS BIGINT) END)) AS BIGINT)
        |         AS simhash
        |FROM h""".stripMargin,
    "q17b_fingerprint" ->
      """SELECT doc_id,
        |       list_reduce(
        |         list_prepend(CAST(0 AS BIGINT),
        |           list_transform(string_split(text, ' '), t ->
        |             list_reduce(
        |               list_prepend(CAST(0 AS BIGINT),
        |                 list_transform(string_split(t, ''), c -> CAST(ascii(c) AS BIGINT))),
        |               (a, x) -> (a * 131 + x) % 281474976710656))),
        |         (acc, h) -> (acc * 31 + h) % 281474976710656) AS fingerprint
        |FROM documents""".stripMargin,
    "q18_media_meta" ->
      """SELECT doc_id AS media_id, 'text/plain' AS mime,
        |       octet_length(encode(text)) AS payload_len, md5(text) AS payload_md5
        |FROM documents""".stripMargin,
    // REAL decode path: executor-generated PNGs with closed-form
    // dimensions, decoded back through javax.imageio — green means actual
    // image bytes round-tripped through an actual decoder
    "q18b_media_decode" ->
      """SELECT doc_id AS media_id,
        |       CAST(doc_id % 13 + 1 AS INTEGER) AS width,
        |       CAST(doc_id % 7 + 1 AS INTEGER) AS height,
        |       CAST(1 AS INTEGER) AS n_frames
        |FROM documents""".stripMargin,
    // stub fan-out arithmetic: n_frames = (octet_length % 240) + 1,
    // sampled every 10th frame -> row counts and last index are exact
    "q18c_frame_sample" ->
      """SELECT doc_id AS media_id,
        |       CAST(ceil(((octet_length(encode(text)) % 240) + 1) / 10.0) AS BIGINT) AS n_sampled,
        |       CAST((((octet_length(encode(text)) % 240) + 1 - 1) // 10) * 10 AS INTEGER) AS last_idx
        |FROM documents""".stripMargin,
    // REAL audio decode path: executor-generated PCM WAVs with closed-form
    // properties and per-sample arithmetic, parsed back through
    // javax.sound.sampled — green means actual WAV bytes round-tripped
    // through an actual audio parser (44-byte canonical header in
    // byte_len; decoded-sample sum replayed per-sample by the oracle)
    "q18d_audio_decode" ->
      """WITH ss AS (
        |  -- per-sample sum computed RELATIONALLY (unnest × unnest,
        |  -- integer sum is order-free): the former nested
        |  -- list_transform captured doc_id inside a depth-2 lambda —
        |  -- the outer-column-capture class behind the round-10 q248
        |  -- parallel-lambda flake
        |  SELECT d.doc_id,
        |         CAST(sum((d.doc_id * 131 + d.i * 17 + c.c * 7) % 32768
        |                  - 16384) AS BIGINT) AS sample_sum
        |  FROM (SELECT doc_id,
        |               unnest(range(CAST(doc_id % 100 + 20 AS INTEGER))) AS i
        |        FROM documents) d,
        |       LATERAL (SELECT unnest(range(CAST(d.doc_id % 2 + 1
        |                                         AS INTEGER))) AS c) c
        |  GROUP BY 1)
        |SELECT d.doc_id AS media_id,
        |       CAST(8000 + (d.doc_id % 3) * 4000 AS INTEGER) AS sample_rate,
        |       CAST(d.doc_id % 2 + 1 AS INTEGER) AS channels,
        |       CAST(d.doc_id % 100 + 20 AS INTEGER) AS n_frames,
        |       CAST(44 + (d.doc_id % 100 + 20) * (d.doc_id % 2 + 1) * 2
        |            AS BIGINT) AS byte_len,
        |       s.sample_sum
        |FROM documents d JOIN ss s USING (doc_id)""".stripMargin,
    // REAL video decode path: executor-generated MJPEG-in-AVI containers
    // with closed-form properties, parsed back through the RIFF chunk
    // walker — green means actual AVI bytes round-tripped through an
    // actual container parser (frame JPEGs proven decodable in the spec)
    "q18e_video_decode" ->
      """SELECT doc_id AS media_id,
        |       CAST(doc_id % 13 + 1 AS INTEGER) AS width,
        |       CAST(doc_id % 7 + 1 AS INTEGER) AS height,
        |       CAST(doc_id % 6 + 2 AS INTEGER) AS n_frames
        |FROM documents""".stripMargin,
    "q19_topn" ->
      """SELECT o_orderkey, o_custkey, o_totalprice FROM orders
        |ORDER BY o_totalprice DESC, o_orderkey LIMIT 100""".stripMargin,
    "q20_intersect" ->
      "SELECT c_custkey FROM customer INTERSECT SELECT o_custkey FROM orders",
    "q21_except" ->
      """SELECT c_custkey FROM customer
        |EXCEPT SELECT o_custkey FROM orders WHERE o_totalprice > 400000.0""".stripMargin,
    "q22_semi_join" ->
      """SELECT * FROM customer c
        |WHERE EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)""".stripMargin,
    "q23_anti_join" ->
      """SELECT * FROM customer c
        |WHERE NOT EXISTS (SELECT 1 FROM orders o
        |                  WHERE o.o_custkey = c.c_custkey AND o.o_orderpriority = '1-URGENT')""".stripMargin,
    "q24_rollup" ->
      """SELECT l_returnflag, l_linestatus, count(*) AS n, sum(l_quantity) AS sum_qty
        |FROM lineitem GROUP BY ROLLUP(l_returnflag, l_linestatus)""".stripMargin,
    "q25_cube" ->
      """SELECT o_orderstatus, o_orderpriority, count(*) AS n
        |FROM orders GROUP BY CUBE(o_orderstatus, o_orderpriority)""".stripMargin,
    "q26_rest_ingest" ->
      """SELECT CAST(100 AS BIGINT) AS n_rows, CAST(5 AS BIGINT) AS n_pages,
        |       CAST(4950 AS BIGINT) AS sum_ids, CAST(200 AS BIGINT) AS sum_genres""".stripMargin,
    "q27_drift_merge" -> driftMergeOracle,
    // the HLL estimate itself is engine-specific; the query reduces it to
    // its checkable fact (within 4×rsd of exact), which the oracle derives
    // from its own exact count — see Queries.q28ApproxDistinct
    "q28_approx_distinct" ->
      """SELECT count(DISTINCT l_partkey) AS exact_parts,
        |       TRUE AS approx_within_rsd
        |FROM lineitem""".stripMargin,
    // brute-force exact cosine pair join (the Spark side is exact too; the
    // LSH-bucketed q30 is the approximate scale path this one grounds)
    "q30b_cosine_near_dup_exact" ->
      """SELECT idA, idB, round(sim, 6) AS sim FROM (
        |  SELECT a.vec_id AS idA, b.vec_id AS idB,
        |         list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]) AS sim
        |  FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id)
        |WHERE sim >= 0.2""".stripMargin,
    // sliding window: every event belongs to exactly width/slide = 4
    // epoch-aligned windows -> expand via generate_series
    "q31_sliding_window" ->
      """SELECT time_bucket(INTERVAL '15 minutes', ts::TIMESTAMP) - k * INTERVAL '15 minutes' AS window_start,
        |       time_bucket(INTERVAL '15 minutes', ts::TIMESTAMP) - k * INTERVAL '15 minutes' + INTERVAL '1 hour' AS window_end,
        |       event_type, count(*) AS n_events
        |FROM events CROSS JOIN generate_series(0, 3) AS t(k)
        |GROUP BY 1, 2, 3""".stripMargin,
    "q32_asof_join" ->
      """WITH r AS (
        |  SELECT o_custkey, o_orderdate,
        |         max(o_orderkey) AS o_orderkey,
        |         arg_max(o_totalprice, o_orderkey) AS o_totalprice
        |  FROM orders GROUP BY 1, 2)
        |SELECT e.event_id, e.user_id, e.ts,
        |       r.o_orderkey AS last_orderkey, r.o_totalprice AS last_totalprice
        |FROM events e ASOF LEFT JOIN r
        |  ON e.user_id = r.o_custkey AND e.ts >= r.o_orderdate""".stripMargin,
    "q33_range_join" ->
      """WITH iv AS (
        |  SELECT o_orderkey, o_custkey,
        |         TIMESTAMP '2024-01-01 00:00:00' + (o_orderkey % 96) * INTERVAL 1 HOUR AS iv_start,
        |         TIMESTAMP '2024-01-01 00:00:00' + (o_orderkey % 96) * INTERVAL 1 HOUR + INTERVAL 2 HOUR AS iv_end
        |  FROM orders)
        |SELECT e.event_id, e.user_id, e.ts, iv.o_orderkey
        |FROM events e JOIN iv
        |  ON e.user_id = iv.o_custkey AND e.ts >= iv.iv_start AND e.ts < iv.iv_end""".stripMargin,
    "q34_grouping_sets" ->
      """SELECT o_orderstatus, o_orderpriority, count(*) AS n,
        |       round(sum(o_totalprice), 2) AS revenue
        |FROM orders
        |GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())""".stripMargin,
    "q35_scalar_funcs" ->
      """SELECT c_custkey,
        |       upper(c_name) AS name_upper,
        |       substring(c_mktsegment, 1, 3) AS seg3,
        |       CAST(length(c_name) AS INTEGER) AS name_len,
        |       concat_ws('|', c_mktsegment, c_name) AS seg_name,
        |       abs(c_acctbal) AS abs_bal,
        |       round(c_acctbal / 100.0, 4) AS bal_h,
        |       greatest(c_acctbal, 0.0) AS bal_pos,
        |       CASE WHEN c_acctbal < 0 THEN 'neg' ELSE 'pos' END AS bal_sign,
        |       coalesce(nullif(c_mktsegment, 'BUILDING'), 'OTHER') AS seg_or_other
        |FROM customer""".stripMargin,
    "q36_pivot" ->
      """SELECT o_orderstatus,
        |       count(*) FILTER (o_orderpriority = '1-URGENT') AS "1-URGENT",
        |       count(*) FILTER (o_orderpriority = '2-HIGH') AS "2-HIGH",
        |       count(*) FILTER (o_orderpriority = '3-MEDIUM') AS "3-MEDIUM",
        |       count(*) FILTER (o_orderpriority = '4-NOT SPECIFIED') AS "4-NOT SPECIFIED",
        |       count(*) FILTER (o_orderpriority = '5-LOW') AS "5-LOW"
        |FROM orders GROUP BY o_orderstatus""".stripMargin,
    "q37_unpivot" ->
      """SELECT c_custkey, 'c_acctbal' AS metric, c_acctbal AS value FROM customer
        |UNION ALL
        |SELECT c_custkey, 'abs_bal', abs(c_acctbal) FROM customer""".stripMargin,
    "q39_percentiles" ->
      """SELECT l_returnflag,
        |       round(quantile_cont(l_quantity, 0.25), 6) AS p25_qty,
        |       round(quantile_cont(l_quantity, 0.5), 6) AS p50_qty,
        |       round(quantile_cont(l_quantity, 0.95), 6) AS p95_qty,
        |       round(median(l_extendedprice), 6) AS med_price,
        |       round(stddev_samp(l_quantity), 6) AS sd_qty,
        |       round(var_samp(l_quantity), 6) AS var_qty,
        |       round(corr(l_quantity, l_extendedprice), 6) AS corr_qty_price
        |FROM lineitem GROUP BY l_returnflag""".stripMargin,
    "q40_window_battery" ->
      """SELECT o_custkey, o_orderkey, o_totalprice,
        |       lag(o_totalprice, 1) OVER wk AS prev_price,
        |       lead(o_totalprice, 1) OVER wk AS next_price,
        |       first_value(o_totalprice) OVER (wk ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS first_price,
        |       round(sum(o_totalprice) OVER (wk ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 3) AS run_sum,
        |       round(avg(o_totalprice) OVER (wk ROWS BETWEEN 2 PRECEDING AND CURRENT ROW), 3) AS mov_avg3,
        |       CAST(rank() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey ASC) AS INTEGER) AS price_rank,
        |       CAST(ntile(4) OVER wk AS INTEGER) AS quartile
        |FROM orders
        |WINDOW wk AS (PARTITION BY o_custkey ORDER BY o_orderkey ASC)""".stripMargin,
    "q41_date_battery" ->
      """SELECT o_orderkey,
        |       CAST(year(o_orderdate) AS INTEGER) AS y,
        |       CAST(quarter(o_orderdate) AS INTEGER) AS q,
        |       CAST(month(o_orderdate) AS INTEGER) AS m,
        |       CAST(day(o_orderdate) AS INTEGER) AS dom,
        |       CAST(dayofyear(o_orderdate) AS INTEGER) AS doy,
        |       CAST(dayofweek(o_orderdate) + 1 AS INTEGER) AS dow_sun1,
        |       date_trunc('month', o_orderdate) AS month_start,
        |       last_day(o_orderdate) AS month_last,
        |       CAST(datediff('day', DATE '1992-01-01', o_orderdate) AS INTEGER) AS days_since
        |FROM orders""".stripMargin,
    "q42_tfidf" ->
      """WITH tokens AS (
        |  SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents
        |), tf AS (
        |  SELECT doc_id, term, count(*) AS tf FROM tokens GROUP BY doc_id, term
        |), dfreq AS (
        |  SELECT term, count(*) AS df FROM tf GROUP BY term
        |), n AS (SELECT count(*) AS n_docs FROM documents)
        |SELECT doc_id, term, tf, df, score, rn FROM (
        |  SELECT tf.doc_id, tf.term, tf.tf, dfreq.df,
        |         round(tf.tf * ln(CAST(n.n_docs AS DOUBLE) / CAST(dfreq.df AS DOUBLE)), 6) AS score,
        |         CAST(row_number() OVER (PARTITION BY tf.doc_id
        |           ORDER BY round(tf.tf * ln(CAST(n.n_docs AS DOUBLE) / CAST(dfreq.df AS DOUBLE)), 6) DESC,
        |                    tf.term ASC) AS INTEGER) AS rn
        |  FROM tf JOIN dfreq USING (term) CROSS JOIN n
        |  WHERE tf.doc_id < 100)
        |WHERE rn <= 3""".stripMargin,
    "q43_full_outer" ->
      """WITH urgent AS (
        |  SELECT o_custkey, count(*) AS n_urgent FROM orders
        |  WHERE o_orderpriority = '1-URGENT' GROUP BY o_custkey
        |), big AS (
        |  SELECT o_custkey, count(*) AS n_big, round(sum(o_totalprice), 2) AS rev_big
        |  FROM orders WHERE o_totalprice > 300000.0 GROUP BY o_custkey
        |)
        |SELECT coalesce(urgent.o_custkey, big.o_custkey) AS o_custkey,
        |       n_urgent, n_big, rev_big
        |FROM urgent FULL OUTER JOIN big ON urgent.o_custkey = big.o_custkey""".stripMargin,
    "q44_bigrams" ->
      """SELECT bigram, count(*) AS n FROM (
        |  SELECT unnest(list_transform(
        |           generate_series(1, greatest(len(ws) - 1, 0)),
        |           i -> ws[i] || ' ' || ws[i+1])) AS bigram
        |  FROM (SELECT string_split(text, ' ') AS ws FROM documents))
        |GROUP BY bigram ORDER BY n DESC, bigram ASC LIMIT 50""".stripMargin,
    "q45_levenshtein" ->
      """WITH d AS (
        |  SELECT doc_id, substring(text, 1, 60) AS prefix FROM documents WHERE doc_id < 30
        |)
        |SELECT a.doc_id AS idA, b.doc_id AS idB,
        |       CAST(levenshtein(a.prefix, b.prefix) AS INTEGER) AS dist
        |FROM d a JOIN d b ON a.doc_id < b.doc_id""".stripMargin,
    "q46_scalar_subquery" ->
      """SELECT c_custkey, c_name,
        |       (SELECT count(*) FROM orders o
        |        WHERE o.o_custkey = c.c_custkey) AS n_orders,
        |       (SELECT round(coalesce(max(o_totalprice), 0.0), 2) FROM orders o
        |        WHERE o.o_custkey = c.c_custkey) AS max_price
        |FROM customer c""".stripMargin,
    "q47_text_normalize" ->
      """WITH n AS (
        |  SELECT doc_id, text,
        |         regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g'),
        |                        ' +', ' ', 'g') AS norm,
        |         list_transform(
        |           generate_series(1, greatest(len(string_split(text, ' ')) - 2, 0)),
        |           i -> string_split(text, ' ')[i] || ' ' || string_split(text, ' ')[i+1]
        |                || ' ' || string_split(text, ' ')[i+2]) AS grams
        |  FROM documents)
        |SELECT doc_id, md5(norm) AS norm_md5,
        |       CAST(length(norm) AS INTEGER) AS norm_len,
        |       CASE WHEN length(text) = 0 THEN 0.0
        |            ELSE CAST(length(regexp_replace(text, '[^0-9]', '', 'g')) AS DOUBLE)
        |                 / CAST(length(text) AS DOUBLE) END AS digit_ratio,
        |       CASE WHEN len(grams) = 0 THEN 0.0
        |            ELSE round(1.0 - CAST(len(list_distinct(grams)) AS DOUBLE)
        |                 / CAST(len(grams) AS DOUBLE), 6) END AS rep_ratio
        |FROM n""".stripMargin,
    "q48_array_hof" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents)
        |SELECT doc_id,
        |       CAST(len(list_filter(ws, tk -> length(tk) > 3)) AS INTEGER) AS n_long_tokens,
        |       CAST(list_sum(list_transform(ws, tk -> length(tk))) AS BIGINT) AS sum_token_len,
        |       array_to_string(list_sort(ws)[1:3], ',') AS first3_sorted,
        |       CAST(list_contains(ws, 'the') AS INTEGER) AS has_the,
        |       CAST(len(list_distinct(ws)) AS INTEGER) AS n_distinct_tokens
        |FROM t""".stripMargin,
    "q49_native_range_join" ->
      """WITH iv AS (
        |  SELECT o_orderkey, o_custkey,
        |         TIMESTAMP '2024-01-01 00:00:00' + (o_orderkey % 96) * INTERVAL 1 HOUR AS iv_start,
        |         TIMESTAMP '2024-01-01 00:00:00' + (o_orderkey % 96) * INTERVAL 1 HOUR + INTERVAL 2 HOUR AS iv_end
        |  FROM orders WHERE o_orderkey % 10 = 0)
        |SELECT e.event_id, e.user_id, e.ts, iv.o_orderkey
        |FROM events e JOIN iv
        |  ON e.user_id = iv.o_custkey AND e.ts >= iv.iv_start AND e.ts < iv.iv_end""".stripMargin,
    "q50_bottomk_sample" ->
      """WITH d AS (SELECT DISTINCT c_mktsegment, c_name FROM customer),
        |r AS (SELECT c_mktsegment, c_name,
        |             row_number() OVER (PARTITION BY c_mktsegment ORDER BY md5(c_name)) AS rk
        |      FROM d)
        |SELECT c_mktsegment, CAST(rk - 1 AS INTEGER) AS pos, c_name AS name
        |FROM r WHERE rk <= 5""".stripMargin,
    "q51_approx_topk" ->
      """SELECT event_type, count(*) AS n FROM events GROUP BY 1""".stripMargin,
    "q52_stats_battery" ->
      """WITH s AS (SELECT l_returnflag, l_quantity, l_extendedprice / 1000.0 AS price_k
        |           FROM lineitem)
        |SELECT l_returnflag, count(*) AS n,
        |       round(corr(l_quantity, price_k), 6) AS corr_qp,
        |       round(covar_samp(l_quantity, price_k), 6) AS covs_qp,
        |       round(covar_pop(l_quantity, price_k), 6) AS covp_qp,
        |       round(stddev_samp(price_k), 6) AS sd_price,
        |       round(var_samp(price_k), 6) AS var_price
        |FROM s GROUP BY 1""".stripMargin,
    "q53_deterministic_sample" ->
      """SELECT o_orderkey, o_custkey, o_totalprice
        |FROM orders
        |WHERE substr(md5(CAST(o_orderkey AS VARCHAR)), 1, 1) = '0'""".stripMargin,
    "q54_histogram" ->
      """SELECT CAST(floor(o_totalprice / 50000) AS BIGINT) AS bin,
        |       count(*) AS n,
        |       round(min(o_totalprice), 2) AS lo,
        |       round(max(o_totalprice), 2) AS hi,
        |       round(avg(o_totalprice), 4) AS mean_price
        |FROM orders GROUP BY 1""".stripMargin,
    "q55_partition_pruned" ->
      """SELECT o_orderpriority, count(*) AS n, round(sum(o_totalprice), 2) AS revenue
        |FROM orders WHERE o_orderstatus = 'F' GROUP BY 1""".stripMargin,
    "q56_bucketed_join" ->
      """SELECT c_mktsegment, count(*) AS n, round(sum(o_totalprice), 2) AS revenue
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |GROUP BY 1""".stripMargin,
    // overlapping token windows: starts 1, 1+48, 1+96, ... <= token count
    "q57_chunking" ->
      """SELECT doc_id, CAST(start AS INTEGER) AS chunk_start,
        |       CAST(least(64, len(ws) - start + 1) AS INTEGER) AS n_tokens,
        |       md5(array_to_string(ws[start:start+63], ' ')) AS chunk_md5
        |FROM (SELECT doc_id, string_split(text, ' ') AS ws,
        |             unnest(generate_series(1, len(string_split(text, ' ')), 48)) AS start
        |      FROM documents)""".stripMargin,
    // concat-and-cut packing: doc's bin = floor(tape start / 4096); the
    // window cumsum is the oracle stand-in for the distributed prefix sum
    "q58_pack_bins" ->
      """WITH c AS (SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS nt
        |           FROM documents),
        |s AS (SELECT doc_id, nt,
        |             CAST(sum(nt) OVER (ORDER BY doc_id ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum
        |      FROM c)
        |SELECT CAST(floor((cum - nt) / 4096) AS BIGINT) AS bin,
        |       count(*) AS n_docs, CAST(sum(nt) AS BIGINT) AS sum_tokens
        |FROM s GROUP BY 1""".stripMargin,
    // salt deterministic PII spans, scrub with the same three ordered
    // passes ('g' = all occurrences, Spark's default), compare md5. The
    // regex/replacement literals are interpolated from the ONE Scala
    // definition (TextFunctions.piiPatterns) so the sides cannot drift.
    "q60_redact" -> redactOracle,
    // the full curation funnel: langid gate, quality gate, exact dedup,
    // greedy near-dedup (drop larger id of any Jaccard>=0.5 pair)
    "q61_curation_funnel" ->
      """WITH s AS (
        |  SELECT doc_id, text,
        |         len(list_intersect(string_split(text,' '), ['der','die','das','und','ist','nicht','ein','zu'])) AS s_de,
        |         len(list_intersect(string_split(text,' '), ['the','and','of','to','in','is','that','it','a'])) AS s_en,
        |         len(list_intersect(string_split(text,' '), ['el','la','los','y','es','no','una','que'])) AS s_es,
        |         len(list_intersect(string_split(text,' '), ['le','la','les','et','est','pas','une','que'])) AS s_fr,
        |         len(list_intersect(string_split(text,' '), ['的','是','不','了','在','人','有','我'])) AS s_zh
        |  FROM documents),
        |p AS (
        |  SELECT doc_id, text,
        |         CASE WHEN greatest(s_de, s_en, s_es, s_fr, s_zh) <= 0 THEN 'und'
        |              WHEN s_de = greatest(s_de, s_en, s_es, s_fr, s_zh) THEN 'de'
        |              WHEN s_en = greatest(s_de, s_en, s_es, s_fr, s_zh) THEN 'en'
        |              WHEN s_es = greatest(s_de, s_en, s_es, s_fr, s_zh) THEN 'es'
        |              WHEN s_fr = greatest(s_de, s_en, s_es, s_fr, s_zh) THEN 'fr'
        |              ELSE 'zh' END AS lp,
        |         round(0.4 * least(CAST(len(string_split(text, ' ')) AS DOUBLE) / 100.0, 1.0)
        |             + 0.3 * (1.0 - least((CASE WHEN length(text) = 0 THEN 0.0
        |                  ELSE CAST(length(regexp_replace(text, '[A-Za-z0-9\s]', '', 'g')) AS DOUBLE)
        |                       / CAST(length(text) AS DOUBLE) END) * 5.0, 1.0))
        |             + 0.3 * least((CASE WHEN len(string_split(text, ' ')) = 0 THEN 0.0
        |                  ELSE CAST(len(list_filter(string_split(text, ' '),
        |                         tk -> list_contains(['the','and','of','to','in','is','that','it','a'], tk))) AS DOUBLE)
        |                       / CAST(len(string_split(text, ' ')) AS DOUBLE) END) * 4.0, 1.0), 6) AS q
        |  FROM s),
        |f AS (SELECT doc_id, text FROM p WHERE lp = 'en' AND q >= 0.5),
        |e AS (SELECT doc_id, text FROM (
        |        SELECT doc_id, text,
        |               row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rn
        |        FROM f) WHERE rn = 1),
        |sh AS (SELECT doc_id, list_distinct(list_transform(
        |         generate_series(1, greatest(len(ws) - 2, 0)),
        |         i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2])) AS sg
        |       FROM (SELECT doc_id, string_split(text, ' ') AS ws FROM e)),
        |pr AS (SELECT DISTINCT b.doc_id AS idB
        |       FROM sh a JOIN sh b ON a.doc_id < b.doc_id
        |       WHERE len(a.sg) > 0 AND len(b.sg) > 0
        |         AND CAST(len(list_intersect(a.sg, b.sg)) AS DOUBLE)
        |             / CAST(len(a.sg) + len(b.sg) - len(list_intersect(a.sg, b.sg)) AS DOUBLE) >= 0.5)
        |SELECT (SELECT count(*) FROM p) AS n_total,
        |       (SELECT count(*) FROM p WHERE lp = 'en') AS n_lang,
        |       (SELECT count(*) FROM f) AS n_quality,
        |       (SELECT count(*) FROM e) AS n_exact,
        |       (SELECT count(*) FROM e) - (SELECT count(*) FROM pr) AS n_near""".stripMargin,
    // int8 quantization replayed in double arithmetic: codes, checksum,
    // midpoint-dequant reconstruction error
    "q64_quantize" ->
      """WITH q AS (
        |  SELECT vec_id, embedding,
        |         list_transform(embedding, v ->
        |           CAST(least(floor((greatest(least(CAST(v AS DOUBLE), 0.6), -0.6) + 0.6)
        |             * 255.0 / 1.2), 255.0) AS INTEGER)) AS codes
        |  FROM embeddings)
        |SELECT vec_id,
        |       CAST(list_sum(codes) AS BIGINT) AS q_sum,
        |       round(list_max(list_transform(generate_series(1, len(embedding)), i ->
        |         abs(CAST(embedding[i] AS DOUBLE)
        |             - (-0.6 + (CAST(codes[i] AS DOUBLE) + 0.5) * 1.2 / 255.0)))), 9)
        |         AS max_abs_err
        |FROM q""".stripMargin,
    // layout-independent semantics of the z-ordered box scan
    "q63_zorder_scan" ->
      """SELECT count(*) AS n, round(sum(o_totalprice), 2) AS revenue
        |FROM orders
        |WHERE o_custkey < 500 AND floor(o_totalprice / 1000) < 100""".stripMargin,
    // same superset-scan contract on the Hilbert layout
    "q63b_hilbert_scan" ->
      """SELECT count(*) AS n, round(sum(o_totalprice), 2) AS revenue
        |FROM orders
        |WHERE o_custkey < 500 AND floor(o_totalprice / 1000) < 100""".stripMargin,
    // hash-gated mixture: keep when first md5 nibble sorts below the
    // group's threshold char ('g' > every hex digit = keep all)
    "q62_mixture_sample" ->
      """SELECT lang, count(*) AS n_kept,
        |       CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS sum_tokens
        |FROM documents
        |WHERE substr(md5('mix:' || CAST(doc_id AS VARCHAR)), 1, 1) <
        |      CASE lang WHEN 'en' THEN '8' WHEN 'de' THEN 'c' WHEN 'fr' THEN '4'
        |                WHEN 'es' THEN '2' WHEN 'zh' THEN 'g' ELSE '0' END
        |GROUP BY 1""".stripMargin,
    // per-doc count of distinct 5-gram shingles shared with the benchmark
    // slice; hit counts are intersection cardinalities, so the oracle works
    // on raw n-gram strings while the engine hashes (cardinality-preserving)
    "q65_decontaminate" ->
      """WITH sh AS (
        |  SELECT doc_id, list_distinct(list_transform(
        |           generate_series(1, greatest(len(ws) - 4, 0)),
        |           i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] || ' ' || ws[i+3] || ' ' || ws[i+4])) AS s
        |  FROM (SELECT doc_id, string_split(text, ' ') AS ws FROM documents)),
        |bench AS (SELECT DISTINCT unnest(s) AS g FROM sh WHERE doc_id % 20 = 0),
        |hits AS (
        |  SELECT e.doc_id, count(*) AS n_hits
        |  FROM (SELECT doc_id, unnest(s) AS g FROM sh WHERE doc_id % 20 != 0) e
        |  JOIN bench USING (g) GROUP BY 1)
        |SELECT d.doc_id, coalesce(h.n_hits, 0) AS n_hits
        |FROM documents d LEFT JOIN hits h USING (doc_id)
        |WHERE d.doc_id % 20 != 0""".stripMargin,
    // fixed 10-token grid; header window repeated across every third page
    // crosses min doc-freq and is dropped from ALL copies; survivors
    // reassemble in order (string_agg ORDER BY pos == Spark's array_sort)
    "q105_boilerplate_removal" ->
      """WITH pages AS (
        |  SELECT doc_id,
        |         CASE WHEN doc_id % 3 = 0
        |              THEN 'this site uses cookies accept our policy to continue reading ' || text
        |              ELSE text END AS page_text
        |  FROM documents),
        |base AS (SELECT doc_id, string_split(page_text, ' ') AS ws FROM pages),
        |segs AS (
        |  SELECT doc_id, i AS pos,
        |         array_to_string(ws[(i-1)*10+1:(i-1)*10+10], ' ') AS seg,
        |         greatest(CAST(ceil(len(ws) / 10.0) AS BIGINT), 1) AS n_windows
        |  FROM base, UNNEST(generate_series(1, greatest(CAST(ceil(len(ws) / 10.0) AS BIGINT), 1))) AS u(i)),
        |bp AS (SELECT seg FROM segs GROUP BY seg HAVING count(DISTINCT doc_id) >= 5),
        |kept AS (SELECT s.doc_id, s.pos, s.seg FROM segs s ANTI JOIN bp USING (seg)),
        |rebuilt AS (
        |  SELECT doc_id, count(*) AS n_kept,
        |         string_agg(seg, ' ' ORDER BY pos) AS clean_text
        |  FROM kept GROUP BY doc_id),
        |totals AS (SELECT DISTINCT doc_id, n_windows FROM segs)
        |SELECT t.doc_id, md5(coalesce(r.clean_text, '')) AS clean_md5,
        |       t.n_windows, t.n_windows - coalesce(r.n_kept, 0) AS n_dropped
        |FROM totals t LEFT JOIN rebuilt r USING (doc_id)""".stripMargin,
    // same two raw URLs per doc rebuilt in SQL; every canonicalization
    // rule replayed with plain regexes (q98 pinned parse_url <-> regex
    // agreement on this URL shape)
    "q107_url_canonicalize" ->
      """WITH raw AS (
        |  SELECT doc_id,
        |         'HTTPS://Host' || CAST(doc_id % 7 AS VARCHAR) || '.Example.COM:443/p/' ||
        |         CAST(doc_id AS VARCHAR) || '?b=2&utm_source=x&a=1#top' AS raw_url
        |  FROM documents
        |  UNION ALL
        |  SELECT doc_id,
        |         'https://host' || CAST(doc_id % 7 AS VARCHAR) || '.example.com/p/' ||
        |         CAST(doc_id AS VARCHAR) || '?a=1&gclid=zzz&b=2' AS raw_url
        |  FROM documents),
        |canon AS (
        |  SELECT doc_id, raw_url,
        |         proto || '://' ||
        |         CASE WHEN proto = 'https' THEN regexp_replace(auth, ':443$', '')
        |              WHEN proto = 'http' THEN regexp_replace(auth, ':80$', '')
        |              ELSE auth END ||
        |         regexp_extract(raw_url, '^[A-Za-z]+://[^/?#]+([^?#]*)', 1) ||
        |         CASE WHEN sortedq = '' THEN '' ELSE '?' || sortedq END AS canonical_url
        |  FROM (
        |    SELECT doc_id, raw_url,
        |           lower(regexp_extract(raw_url, '^([A-Za-z]+)://', 1)) AS proto,
        |           lower(regexp_extract(raw_url, '^[A-Za-z]+://([^/?#]+)', 1)) AS auth,
        |           array_to_string(list_sort(list_filter(
        |             string_split(regexp_extract(raw_url, '\?([^#]*)', 1), '&'),
        |             p -> p <> '' AND NOT regexp_matches(p, '^(utm_[^=]*|gclid|fbclid|ref)='))),
        |             '&') AS sortedq
        |    FROM raw))
        |SELECT min(doc_id) AS doc_id, canonical_url,
        |       count(DISTINCT raw_url) AS n_raw, count(DISTINCT doc_id) AS n_docs
        |FROM canon GROUP BY canonical_url""".stripMargin,
    // greedy budget selection replayed with a plain window cumsum (the
    // Spark side's range-partitioned prefix sum must order identically)
    "q108_token_budget_select" ->
      """WITH toks AS (
        |  SELECT doc_id, n_chars, CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
        |  FROM documents),
        |c AS (
        |  SELECT doc_id, n_tokens,
        |         CAST(sum(n_tokens) OVER (ORDER BY n_chars DESC, doc_id ASC) AS BIGINT) AS cum_tokens
        |  FROM toks)
        |SELECT doc_id, n_tokens, cum_tokens FROM c
        |WHERE cum_tokens - n_tokens < 10000""".stripMargin,
    // df band applied on counts before lists; postings md5 over the
    // sorted id list matches Spark's array_sort(collect_set) exactly
    "q109_inverted_index" ->
      """WITH t2 AS (
        |  SELECT doc_id, unnest(string_split(text, ' ')) AS term
        |  FROM documents),
        |t3 AS (SELECT * FROM t2 WHERE term <> '')
        |SELECT term, count(DISTINCT doc_id) AS df, count(*) AS tf_total,
        |       md5(array_to_string(list_sort(list(DISTINCT doc_id)), ',')) AS postings_md5
        |FROM t3 GROUP BY term
        |HAVING count(DISTINCT doc_id) >= 5
        |   AND count(DISTINCT doc_id) <= CAST(floor(0.9 * (SELECT count(*) FROM documents)) AS BIGINT)""".stripMargin,
    // same stats, same term order (sorted: merge, spark, window), same
    // operation order -> bit-identical scores; ties broken by doc_id
    "q110_bm25_topk" ->
      """WITH d AS (
        |  SELECT doc_id, string_split(text, ' ') AS ws,
        |         CAST(len(string_split(text, ' ')) AS DOUBLE) AS dl
        |  FROM documents),
        |s AS (SELECT CAST(count(*) AS DOUBLE) AS n, avg(dl) AS avgdl FROM d),
        |f AS (SELECT
        |        CAST((SELECT count(*) FROM d WHERE list_contains(ws, 'merge')) AS DOUBLE) AS df_merge,
        |        CAST((SELECT count(*) FROM d WHERE list_contains(ws, 'spark')) AS DOUBLE) AS df_spark,
        |        CAST((SELECT count(*) FROM d WHERE list_contains(ws, 'window')) AS DOUBLE) AS df_window),
        |scored AS (
        |  SELECT doc_id,
        |    ln((s.n - f.df_merge + 0.5) / (f.df_merge + 0.5) + 1.0) *
        |      (CAST(len(list_filter(ws, w -> w = 'merge')) AS DOUBLE) * (1.2 + 1.0)) /
        |      (CAST(len(list_filter(ws, w -> w = 'merge')) AS DOUBLE) + 1.2 * ((1.0 - 0.75) + 0.75 * dl / s.avgdl)) +
        |    ln((s.n - f.df_spark + 0.5) / (f.df_spark + 0.5) + 1.0) *
        |      (CAST(len(list_filter(ws, w -> w = 'spark')) AS DOUBLE) * (1.2 + 1.0)) /
        |      (CAST(len(list_filter(ws, w -> w = 'spark')) AS DOUBLE) + 1.2 * ((1.0 - 0.75) + 0.75 * dl / s.avgdl)) +
        |    ln((s.n - f.df_window + 0.5) / (f.df_window + 0.5) + 1.0) *
        |      (CAST(len(list_filter(ws, w -> w = 'window')) AS DOUBLE) * (1.2 + 1.0)) /
        |      (CAST(len(list_filter(ws, w -> w = 'window')) AS DOUBLE) + 1.2 * ((1.0 - 0.75) + 0.75 * dl / s.avgdl)) AS sc
        |  FROM d, s, f)
        |SELECT doc_id, round(sc, 6) AS score FROM scored
        |ORDER BY sc DESC, doc_id ASC LIMIT 10""".stripMargin,
    // identical lag window + epoch-gap filter
    "q111_debounce" ->
      """SELECT event_id, user_id, event_type, ts FROM (
        |  SELECT event_id, user_id, event_type, ts,
        |         lag(ts) OVER (PARTITION BY user_id, event_type
        |                       ORDER BY ts ASC, event_id ASC) AS prev_ts
        |  FROM events)
        |WHERE prev_ts IS NULL
        |   OR epoch_us(CAST(ts AS TIMESTAMP)) - epoch_us(CAST(prev_ts AS TIMESTAMP)) >= 3600000000""".stripMargin,
    // per-dim decimal-exact sums (float -> double widen -> VARCHAR ->
    // DECIMAL, matching Spark's shortest-rendering cast), one exact
    // double division
    "q112_label_centroids" ->
      """SELECT label, CAST(i - 1 AS BIGINT) AS dim, count(*) AS n,
        |       CAST(sum(CAST(CAST(CAST(embedding[i] AS DOUBLE) AS VARCHAR)
        |                     AS DECIMAL(25,10))) AS DOUBLE) / count(*) AS mean_val
        |FROM embeddings, UNNEST(generate_series(1, len(embedding))) AS u(i)
        |GROUP BY 1, 2""".stripMargin,
    // the malformed set is closed-form (every 13th line truncated), so
    // the expected quarantine split is stated directly
    "q113_corrupt_ingest" ->
      """SELECT count(*) AS n_total,
        |       count(CASE WHEN doc_id % 13 = 0 THEN 1 END) AS n_corrupt,
        |       count(CASE WHEN doc_id % 13 != 0 THEN 1 END) AS n_good,
        |       CAST(sum(CASE WHEN doc_id % 13 != 0 THEN doc_id END) AS BIGINT) AS good_id_sum,
        |       count(DISTINCT CASE WHEN doc_id % 13 != 0 THEN lang END) AS n_langs
        |FROM documents""".stripMargin,
    // identical lead window + bigram count
    "q114_transitions" ->
      """SELECT from_type, to_type, count(*) AS n FROM (
        |  SELECT event_type AS from_type,
        |         lead(event_type) OVER (PARTITION BY user_id
        |                                ORDER BY ts ASC, event_id ASC) AS to_type
        |  FROM events)
        |WHERE to_type IS NOT NULL
        |GROUP BY 1, 2""".stripMargin,
    // q66's closed-form timeline as the dimension CTE; validity-window
    // join replayed verbatim
    "q115_scd2_point_in_time" ->
      """WITH dim AS (
        |  SELECT o_orderkey, o_orderstatus, o_totalprice,
        |         TIMESTAMP '2024-01-01 00:00:00' AS valid_from,
        |         CASE WHEN o_orderkey % 7 = 0
        |              THEN TIMESTAMP '2024-02-01 00:00:00' END AS valid_to
        |  FROM orders
        |  UNION ALL
        |  SELECT o_orderkey, 'X', o_totalprice + 100.0,
        |         TIMESTAMP '2024-02-01 00:00:00', NULL
        |  FROM orders WHERE o_orderkey % 7 = 0),
        |facts AS (
        |  SELECT l_orderkey,
        |         CASE WHEN l_linenumber % 2 = 0 THEN TIMESTAMP '2024-01-15 00:00:00'
        |              ELSE TIMESTAMP '2024-02-15 00:00:00' END AS ft
        |  FROM lineitem)
        |SELECT o_orderstatus, count(*) AS n_facts,
        |       CAST(round(sum(CAST(CAST(o_totalprice AS VARCHAR) AS DECIMAL(18,6))), 2)
        |            AS DOUBLE) AS price_sum
        |FROM facts JOIN dim
        |  ON l_orderkey = o_orderkey
        | AND ft >= valid_from AND (valid_to IS NULL OR ft < valid_to)
        |GROUP BY 1""".stripMargin,
    // one partial-agg pass of exact decimal (sum, sumsq); the moment and
    // Welch-t math is the same fixed sequence of double ops on both sides
    "q116_ab_test" ->
      """WITH a AS (
        |  SELECT substr(md5('exp1:' || CAST(o_custkey AS VARCHAR)), 1, 1) <= '7' AS treatment,
        |         CAST(CAST(o_totalprice AS VARCHAR) AS DECIMAL(18,6)) AS x
        |  FROM orders),
        |arms AS (
        |  SELECT treatment, count(*) AS n, sum(x) AS s,
        |         sum(CAST(x AS DECIMAL(28,6)) * x) AS ss
        |  FROM a GROUP BY 1),
        |m AS (
        |  SELECT treatment, n,
        |         CAST(s AS DOUBLE) / n AS mean_x,
        |         (CAST(ss AS DOUBLE) - CAST(s AS DOUBLE) * CAST(s AS DOUBLE) / n)
        |           / (n - 1) AS var_x
        |  FROM arms),
        |tt AS (
        |  SELECT round((t.mean_x - c.mean_x) /
        |               sqrt(t.var_x / t.n + c.var_x / c.n), 6) AS welch_t
        |  FROM (SELECT * FROM m WHERE treatment) t,
        |       (SELECT * FROM m WHERE NOT treatment) c)
        |SELECT treatment, n, round(mean_x, 6) AS mean_x,
        |       round(var_x, 4) AS var_x, welch_t
        |FROM m, tt""".stripMargin,
    // bloom prefilter + exact verify == the exact path: same oracle as q65
    "q104_bloom_decontaminate" ->
      """WITH sh AS (
        |  SELECT doc_id, list_distinct(list_transform(
        |           generate_series(1, greatest(len(ws) - 4, 0)),
        |           i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] || ' ' || ws[i+3] || ' ' || ws[i+4])) AS s
        |  FROM (SELECT doc_id, string_split(text, ' ') AS ws FROM documents)),
        |bench AS (SELECT DISTINCT unnest(s) AS g FROM sh WHERE doc_id % 20 = 0),
        |hits AS (
        |  SELECT e.doc_id, count(*) AS n_hits
        |  FROM (SELECT doc_id, unnest(s) AS g FROM sh WHERE doc_id % 20 != 0) e
        |  JOIN bench USING (g) GROUP BY 1)
        |SELECT d.doc_id, coalesce(h.n_hits, 0) AS n_hits
        |FROM documents d LEFT JOIN hits h USING (doc_id)
        |WHERE d.doc_id % 20 != 0""".stripMargin,
    // two-snapshot SCD2 timeline: keys % 7 = 0 change at t2 (closed t1 row
    // + open t2 row), everything else keeps one open t1 row
    "q66_scd2" ->
      """SELECT o_orderkey, o_orderstatus, o_totalprice,
        |       TIMESTAMP '2024-01-01 00:00:00' AS valid_from,
        |       CASE WHEN o_orderkey % 7 = 0
        |            THEN TIMESTAMP '2024-02-01 00:00:00' END AS valid_to,
        |       o_orderkey % 7 != 0 AS is_current
        |FROM orders
        |UNION ALL
        |SELECT o_orderkey, 'X', o_totalprice + 100.0,
        |       TIMESTAMP '2024-02-01 00:00:00', NULL, TRUE
        |FROM orders WHERE o_orderkey % 7 = 0""".stripMargin,
    // path extraction == schema-projected parsing, pinned by n_consistent
    "q67_json_extract" ->
      """SELECT CAST(json_extract_string(props, '$.k') AS INTEGER) % 10 AS kb,
        |       count(*) AS n_events,
        |       round(avg(value), 6) AS avg_value,
        |       count(*) AS n_consistent
        |FROM events
        |GROUP BY 1""".stripMargin,
    // brute-force all-pairs containment (the Spark side's prefix filter is
    // exactness-preserving, so candidates only ever shrink the join, never
    // the answer)
    "q68_containment_pairs" ->
      """WITH sh AS (
        |  SELECT doc_id, list_distinct(list_transform(
        |           generate_series(1, greatest(len(ws) - 2, 0)),
        |           i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2])) AS s
        |  FROM (SELECT doc_id, string_split(text, ' ') AS ws FROM documents)
        |)
        |SELECT idA, idB, round(c, 6) AS containment FROM (
        |  SELECT a.doc_id AS idA, b.doc_id AS idB,
        |         CAST(len(list_intersect(a.s, b.s)) AS DOUBLE) /
        |         CAST(len(a.s) AS DOUBLE) AS c
        |  FROM sh a JOIN sh b ON a.doc_id != b.doc_id
        |  WHERE len(a.s) > 0 AND len(b.s) > 0)
        |WHERE c >= 0.8""".stripMargin,
    // salting is result-invariant: plain GROUP BY is the oracle
    "q82_salted_agg" ->
      """SELECT event_type, round(sum(value), 3) AS sum_value,
        |       count(*) AS n_events
        |FROM events GROUP BY 1""".stripMargin,
    // salting is result-invariant: plain join is the oracle
    "q83_salted_join" ->
      """SELECT s.s_nationkey, count(*) AS n_lines,
        |       round(sum(l.l_extendedprice), 2) AS revenue
        |FROM lineitem l JOIN supplier s ON l.l_suppkey = s.s_suppkey
        |WHERE s.s_suppkey % 3 = 0
        |GROUP BY 1""".stripMargin,
    // replay the same three-epoch changelog; per-column arg_max is safe
    // because only delete rows carry NULL attrs and delete keys are
    // filtered by the last-op predicate
    "q84_cdc_apply" ->
      """WITH ch AS (
        |  SELECT o_orderkey, 1 AS seq, 'I' AS op,
        |         o_totalprice AS price, o_orderstatus AS status FROM orders
        |  UNION ALL
        |  SELECT o_orderkey, 2, 'U', o_totalprice + 50.0, 'U2'
        |  FROM orders WHERE o_orderkey % 5 = 1
        |  UNION ALL
        |  SELECT o_orderkey, 3, 'D', NULL, NULL
        |  FROM orders WHERE o_orderkey % 7 = 2)
        |SELECT o_orderkey, price, status FROM (
        |  SELECT o_orderkey, arg_max(op, seq) AS op,
        |         arg_max(price, seq) AS price, arg_max(status, seq) AS status
        |  FROM ch GROUP BY o_orderkey)
        |WHERE op <> 'D'""".stripMargin,
    // same before/after derivation, full-outer join, null-safe change test
    "q85_table_diff" ->
      """WITH bfr AS (
        |  SELECT o_orderkey AS k, o_totalprice AS price, o_orderstatus AS status
        |  FROM orders),
        |aft AS (
        |  SELECT k, CASE WHEN k % 5 = 2 THEN price + 1.0 ELSE price END AS price,
        |         status
        |  FROM bfr WHERE k % 11 <> 4
        |  UNION ALL
        |  SELECT k + 2000000000, price, status FROM bfr WHERE k % 10 = 6)
        |SELECT CASE WHEN b.k IS NULL THEN 'added'
        |            WHEN a.k IS NULL THEN 'removed'
        |            WHEN b.price IS DISTINCT FROM a.price
        |              OR b.status IS DISTINCT FROM a.status THEN 'changed'
        |            ELSE 'unchanged' END AS diff_status,
        |       count(*) AS n
        |FROM bfr b FULL OUTER JOIN aft a ON b.k = a.k
        |GROUP BY 1""".stripMargin,
    // per-user daily sums (decimal-exact, rounded BEFORE the fill),
    // per-user date spine, LOCF via last_value IGNORE NULLS
    "q86_gap_fill" ->
      """WITH daily AS (
        |  SELECT user_id, CAST(ts AS DATE) AS d,
        |         CAST(round(sum(CAST(CAST(value AS VARCHAR) AS DECIMAL(18,9))), 3)
        |              AS DOUBLE) AS value
        |  FROM events WHERE user_id % 37 = 0 GROUP BY 1, 2),
        |b AS (SELECT user_id, min(d) AS mn, max(d) AS mx FROM daily GROUP BY 1),
        |spine AS (
        |  SELECT user_id, unnest(generate_series(mn, mx, INTERVAL 1 DAY))::DATE AS d
        |  FROM b)
        |SELECT s.user_id, s.d::TIMESTAMP AS d,
        |       CAST(CASE WHEN daily.d IS NULL THEN 0 ELSE 1 END AS BIGINT) AS observed,
        |       last_value(daily.value IGNORE NULLS) OVER (
        |         PARTITION BY s.user_id ORDER BY s.d
        |         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS value_filled
        |FROM spine s LEFT JOIN daily ON daily.user_id = s.user_id AND daily.d = s.d""".stripMargin,
    // identical md5 rank both engines -> identical exact-quota selection
    "q87_stratified_sample" ->
      """SELECT doc_id, lang FROM (
        |  SELECT doc_id, lang, row_number() OVER (
        |    PARTITION BY lang
        |    ORDER BY md5('strat:' || CAST(doc_id AS VARCHAR)), doc_id) AS rn
        |  FROM documents)
        |WHERE rn <= 40""".stripMargin,
    // per-column stats, one UNION branch per profiled column (the Spark
    // side computes all of them in ONE aggregation; the oracle only needs
    // to agree on values). min/max rendered as strings on both sides —
    // int/string/date columns only, where rendering is engine-identical
    "q89_profile" ->
      """SELECT 'o_orderkey' AS "column", count(*) AS n_rows,
        |       count(*) - count(o_orderkey) AS n_nulls,
        |       count(DISTINCT o_orderkey) AS n_distinct,
        |       CAST(min(o_orderkey) AS VARCHAR) AS min_value,
        |       CAST(max(o_orderkey) AS VARCHAR) AS max_value
        |FROM orders
        |UNION ALL
        |SELECT 'o_orderstatus', count(*), count(*) - count(o_orderstatus),
        |       count(DISTINCT o_orderstatus),
        |       CAST(min(o_orderstatus) AS VARCHAR), CAST(max(o_orderstatus) AS VARCHAR)
        |FROM orders
        |UNION ALL
        |SELECT 'o_orderdate', count(*), count(*) - count(o_orderdate),
        |       count(DISTINCT o_orderdate),
        |       CAST(min(o_orderdate) AS VARCHAR), CAST(max(o_orderdate) AS VARCHAR)
        |FROM orders
        |UNION ALL
        |SELECT 'o_orderpriority', count(*), count(*) - count(o_orderpriority),
        |       count(DISTINCT o_orderpriority),
        |       CAST(min(o_orderpriority) AS VARCHAR), CAST(max(o_orderpriority) AS VARCHAR)
        |FROM orders""".stripMargin,
    // first-purchase day per user -> daily conversion counts -> running total
    "q90_user_growth" ->
      """WITH f AS (SELECT user_id, min(CAST(ts AS DATE)) AS d FROM events
        |           WHERE event_type = 'purchase' GROUP BY 1),
        |n AS (SELECT d, count(*) AS n_new FROM f GROUP BY 1)
        |SELECT d::TIMESTAMP AS d, n_new,
        |       CAST(sum(n_new) OVER (ORDER BY d ROWS UNBOUNDED PRECEDING) AS BIGINT)
        |         AS cum_users
        |FROM n""".stripMargin,
    // six-table TPC-H-Q5-shape join; revenue summed as DECIMAL on both
    // sides (order-independent), rounded once at the end
    "q92_multi_join_revenue" ->
      """SELECT n_name, count(*) AS n_lines,
        |       CAST(round(sum(CAST(CAST(l_extendedprice * (1 - l_discount) AS VARCHAR)
        |                           AS DECIMAL(18,6))), 2) AS DOUBLE) AS revenue
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN supplier ON l_suppkey = s_suppkey
        |JOIN nation ON s_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |WHERE r_name = 'ASIA' AND c_mktsegment = 'BUILDING'
        |  AND o_orderdate >= TIMESTAMP '1996-01-01'
        |  AND o_orderdate < TIMESTAMP '1997-01-01'
        |GROUP BY 1""".stripMargin,
    // DuckDB's native ASOF LEFT JOIN, inclusive (>=) like AsOfJoin.asOf;
    // clicks pre-deduped per (user, ts) on both sides so ties are defined
    "q93_attribution" ->
      """WITH p AS (
        |  SELECT event_id, user_id, ts::TIMESTAMP AS ts, value FROM events
        |  WHERE event_type = 'purchase'),
        |c AS (
        |  SELECT user_id, ts::TIMESTAMP AS ts, max(event_id) AS click_id
        |  FROM events WHERE event_type = 'click' GROUP BY 1, 2)
        |SELECT p.event_id, p.user_id, p.ts, p.value, c.click_id, c.ts AS click_ts
        |FROM p ASOF LEFT JOIN c
        |  ON p.user_id = c.user_id AND p.ts >= c.ts""".stripMargin,
    // every stage of the pretraining pipeline recomputed in SQL: q61's
    // lang/quality/exact-dedup CTEs (filtered to the %97 corpus split),
    // 5-gram decontamination vs the held-out slice, chunk counts, and the
    // window cumsum as the packing stand-in
    "q100_pretraining_pipeline" ->
      """WITH s AS (
        |  SELECT doc_id, text,
        |         len(list_intersect(string_split(text,' '), ['der','die','das','und','ist','nicht','ein','zu'])) AS s_de,
        |         len(list_intersect(string_split(text,' '), ['the','and','of','to','in','is','that','it','a'])) AS s_en,
        |         len(list_intersect(string_split(text,' '), ['el','la','los','y','es','no','una','que'])) AS s_es,
        |         len(list_intersect(string_split(text,' '), ['le','la','les','et','est','pas','une','que'])) AS s_fr,
        |         len(list_intersect(string_split(text,' '), ['的','是','不','了','在','人','有','我'])) AS s_zh
        |  FROM documents WHERE doc_id % 97 != 0),
        |p AS (
        |  SELECT doc_id, text,
        |         CASE WHEN greatest(s_de, s_en, s_es, s_fr, s_zh) <= 0 THEN 'und'
        |              WHEN s_de = greatest(s_de, s_en, s_es, s_fr, s_zh) THEN 'de'
        |              WHEN s_en = greatest(s_de, s_en, s_es, s_fr, s_zh) THEN 'en'
        |              WHEN s_es = greatest(s_de, s_en, s_es, s_fr, s_zh) THEN 'es'
        |              WHEN s_fr = greatest(s_de, s_en, s_es, s_fr, s_zh) THEN 'fr'
        |              ELSE 'zh' END AS lp,
        |         round(0.4 * least(CAST(len(string_split(text, ' ')) AS DOUBLE) / 100.0, 1.0)
        |             + 0.3 * (1.0 - least((CASE WHEN length(text) = 0 THEN 0.0
        |                  ELSE CAST(length(regexp_replace(text, '[A-Za-z0-9\s]', '', 'g')) AS DOUBLE)
        |                       / CAST(length(text) AS DOUBLE) END) * 5.0, 1.0))
        |             + 0.3 * least((CASE WHEN len(string_split(text, ' ')) = 0 THEN 0.0
        |                  ELSE CAST(len(list_filter(string_split(text, ' '),
        |                         tk -> list_contains(['the','and','of','to','in','is','that','it','a'], tk))) AS DOUBLE)
        |                       / CAST(len(string_split(text, ' ')) AS DOUBLE) END) * 4.0, 1.0), 6) AS q
        |  FROM s),
        |f AS (SELECT doc_id, text FROM p WHERE lp = 'en' AND q >= 0.5),
        |e AS (SELECT doc_id, text FROM (
        |        SELECT doc_id, text,
        |               row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rn
        |        FROM f) WHERE rn = 1),
        |bsh AS (SELECT DISTINCT unnest(list_distinct(list_transform(
        |           generate_series(1, greatest(len(ws) - 4, 0)),
        |           i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] || ' ' || ws[i+3] || ' ' || ws[i+4]))) AS g
        |        FROM (SELECT string_split(text, ' ') AS ws FROM documents WHERE doc_id % 97 = 0)),
        |esh AS (SELECT doc_id, unnest(list_distinct(list_transform(
        |           generate_series(1, greatest(len(ws) - 4, 0)),
        |           i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] || ' ' || ws[i+3] || ' ' || ws[i+4]))) AS g
        |        FROM (SELECT doc_id, string_split(text, ' ') AS ws FROM e)),
        |dirty AS (SELECT DISTINCT esh.doc_id FROM esh JOIN bsh USING (g)),
        |clean AS (SELECT doc_id, text FROM e
        |          WHERE doc_id NOT IN (SELECT doc_id FROM dirty)),
        |ct AS (SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS nt FROM clean),
        |cum AS (SELECT doc_id, nt,
        |               CAST(sum(nt) OVER (ORDER BY doc_id ROWS UNBOUNDED PRECEDING) AS BIGINT) AS c
        |        FROM ct)
        |SELECT (SELECT count(*) FROM p) AS n_corpus,
        |       (SELECT count(*) FROM p WHERE lp = 'en') AS n_lang,
        |       (SELECT count(*) FROM f) AS n_quality,
        |       (SELECT count(*) FROM e) AS n_exact,
        |       (SELECT count(*) FROM clean) AS n_clean,
        |       (SELECT CAST(sum(len(generate_series(1, len(string_split(text, ' ')), 128))) AS BIGINT)
        |        FROM clean) AS n_chunks,
        |       (SELECT count(DISTINCT (c - nt) // 2048) FROM cum) AS n_bins,
        |       (SELECT CAST(sum(nt) AS BIGINT) FROM ct) AS n_tokens""".stripMargin,
    // incremental distinct: exact count + day count verbatim; the HLL
    // sketch path reduced to its checkable facts (merge losslessness and
    // the 4-sigma accuracy bound) per the q28 reduction pattern
    "q101_hll_incremental" ->
      """SELECT count(DISTINCT CAST(ts AS DATE)) AS n_days,
        |       count(DISTINCT user_id) AS exact_users,
        |       TRUE AS merge_lossless,
        |       TRUE AS approx_within_rsd
        |FROM events""".stripMargin,
    // manifest file-skipping returns a pruned SUPERSET + exact predicate,
    // so the answer equals a plain full-scan slice (double product routed
    // through VARCHAR->DECIMAL, the q92 order-independence pattern)
    "q102_manifest_scan" ->
      """SELECT l_returnflag, count(*) AS n_lines,
        |       CAST(round(sum(CAST(CAST(l_extendedprice * (1 - l_discount) AS VARCHAR)
        |                           AS DECIMAL(18,6))), 2) AS DOUBLE) AS revenue
        |FROM lineitem
        |WHERE l_shipdate >= TIMESTAMP '1997-01-01'
        |  AND l_shipdate < TIMESTAMP '1998-01-01'
        |GROUP BY 1""".stripMargin,
    // changes(v1, v2) of the two-commit manifest log == the rows the
    // second (append) commit added, i.e. the raw table past the cutoff
    "q103_manifest_changes" ->
      """SELECT CAST(year(o_orderdate) AS INTEGER) AS yr, count(*) AS n_orders,
        |       CAST(round(sum(CAST(CAST(o_totalprice AS VARCHAR)
        |                           AS DECIMAL(18,6))), 2) AS DOUBLE) AS total_price
        |FROM orders
        |WHERE o_orderdate >= TIMESTAMP '1999-01-01'
        |GROUP BY 1""".stripMargin,
    // the oracle replays the copy-on-write upsert as plain SQL set
    // algebra: non-matching base rows + re-priced updates + negated-key
    // inserts; key_sum catches any lost or duplicated key
    "q117_manifest_merge" ->
      """WITH upd AS (
        |  SELECT o_orderkey, o_custkey, 'U' AS o_orderstatus,
        |         o_totalprice + 100000.0 AS o_totalprice, o_orderdate, o_orderpriority
        |  FROM orders WHERE o_orderkey % 97 = 0
        |), ins AS (
        |  SELECT -o_orderkey AS o_orderkey, o_custkey, o_orderstatus,
        |         o_totalprice, o_orderdate, o_orderpriority
        |  FROM orders WHERE o_orderkey % 101 = 0
        |), merged AS (
        |  SELECT * FROM orders WHERE o_orderkey % 97 <> 0
        |  UNION ALL SELECT * FROM upd
        |  UNION ALL SELECT * FROM ins
        |)
        |SELECT o_orderstatus, count(*) AS n_orders,
        |       CAST(round(sum(CAST(CAST(o_totalprice AS VARCHAR)
        |                           AS DECIMAL(18,6))), 2) AS DOUBLE) AS total_price,
        |       CAST(sum(o_orderkey) AS BIGINT) AS key_sum
        |FROM merged GROUP BY 1""".stripMargin,
    // MOR update vectors: the q117 changelog applied merge-on-read,
    // read as the overlay AND after materialization — both must equal
    // the COW merge, so the oracle emits the same rollup per regime
    "q249_mor_update" ->
      """WITH upd AS (
        |  SELECT o_orderkey, o_custkey, 'U' AS o_orderstatus,
        |         o_totalprice + 100000.0 AS o_totalprice, o_orderdate, o_orderpriority
        |  FROM orders WHERE o_orderkey % 97 = 0
        |), ins AS (
        |  SELECT -o_orderkey AS o_orderkey, o_custkey, o_orderstatus,
        |         o_totalprice, o_orderdate, o_orderpriority
        |  FROM orders WHERE o_orderkey % 101 = 0 AND o_orderkey <> 0
        |), merged AS (
        |  SELECT * FROM orders WHERE o_orderkey % 97 <> 0
        |  UNION ALL SELECT * FROM upd
        |  UNION ALL SELECT * FROM ins
        |), roll AS (
        |  SELECT o_orderstatus, count(*) AS n_orders,
        |         CAST(round(sum(CAST(CAST(o_totalprice AS VARCHAR)
        |                             AS DECIMAL(18,6))), 2) AS DOUBLE) AS total_price,
        |         CAST(sum(o_orderkey) AS BIGINT) AS key_sum
        |  FROM merged GROUP BY 1)
        |SELECT 'mor' AS regime, o_orderstatus, n_orders, total_price, key_sum
        |FROM roll
        |UNION ALL
        |SELECT 'materialized' AS regime, o_orderstatus, n_orders, total_price,
        |       key_sum
        |FROM roll""".stripMargin,
    // sparse clustered MOR: ~2% of keys, all in the lowest 1/16 key
    // range; same merged-relation rollup for the overlay read and the
    // materialized read (the bounded-rewrite claim is spec-pinned)
    "q254_mor_sparse" ->
      """WITH mx AS (SELECT max(o_orderkey) AS mk FROM orders),
        |upd AS (
        |  SELECT o_orderkey, o_custkey, 'U' AS o_orderstatus,
        |         o_totalprice + 100000.0 AS o_totalprice, o_orderdate, o_orderpriority
        |  FROM orders, mx WHERE o_orderkey % 3 = 0 AND o_orderkey * 16 <= mk
        |), merged AS (
        |  SELECT * FROM orders o
        |  WHERE NOT (o_orderkey % 3 = 0
        |             AND o_orderkey * 16 <= (SELECT mk FROM mx))
        |  UNION ALL SELECT * FROM upd
        |), roll AS (
        |  SELECT o_orderstatus, count(*) AS n_orders,
        |         CAST(round(sum(CAST(CAST(o_totalprice AS VARCHAR)
        |                             AS DECIMAL(18,6))), 2) AS DOUBLE) AS total_price,
        |         CAST(sum(o_orderkey) AS BIGINT) AS key_sum
        |  FROM merged GROUP BY 1)
        |SELECT 'mor' AS regime, o_orderstatus, n_orders, total_price, key_sum
        |FROM roll
        |UNION ALL
        |SELECT 'materialized' AS regime, o_orderstatus, n_orders, total_price,
        |       key_sum
        |FROM roll""".stripMargin,
    // sparse MOR under the STREAMING sink: three key-disjoint CDC
    // micro-batches through foreachBatch -> updateKeysMor (exactly-once
    // txn ledger); together they update every key <= mk/16 with status
    // U(key % 3) — the oracle is the relational three-batch merge, and
    // the per-batch file-carry / replay-no-op / bounded-rewrite pins
    // are in-query requires that fail the gate loudly
    "q262_mor_stream_sparse" ->
      """WITH mx AS (SELECT max(o_orderkey) AS mk FROM orders),
        |upd AS (
        |  SELECT o_orderkey, o_custkey,
        |         'U' || CAST(o_orderkey % 3 AS VARCHAR) AS o_orderstatus,
        |         o_totalprice + 100000.0 * (o_orderkey % 3 + 1)
        |           AS o_totalprice,
        |         o_orderdate, o_orderpriority
        |  FROM orders, mx WHERE o_orderkey * 16 <= mk
        |), merged AS (
        |  SELECT * FROM orders o
        |  WHERE NOT (o_orderkey * 16 <= (SELECT mk FROM mx))
        |  UNION ALL SELECT * FROM upd
        |), roll AS (
        |  SELECT o_orderstatus, count(*) AS n_orders,
        |         CAST(round(sum(CAST(CAST(o_totalprice AS VARCHAR)
        |                             AS DECIMAL(18,6))), 2) AS DOUBLE) AS total_price,
        |         CAST(sum(o_orderkey) AS BIGINT) AS key_sum
        |  FROM merged GROUP BY 1)
        |SELECT 'mor' AS regime, o_orderstatus, n_orders, total_price, key_sum
        |FROM roll
        |UNION ALL
        |SELECT 'materialized' AS regime, o_orderstatus, n_orders, total_price,
        |       key_sum
        |FROM roll""".stripMargin,
    // the oracle is the raw table under the complement predicate; the
    // engine got there by dropping interior files from metadata alone
    "q118_manifest_delete" ->
      """SELECT l_returnflag, count(*) AS n_lines,
        |       CAST(round(sum(CAST(CAST(l_extendedprice * (1 - l_discount) AS VARCHAR)
        |                           AS DECIMAL(18,6))), 2) AS DOUBLE) AS revenue,
        |       count(DISTINCT CAST(year(l_shipdate) AS INTEGER)) AS n_years
        |FROM lineitem
        |WHERE l_shipdate NOT BETWEEN TIMESTAMP '1995-01-01 00:00:00'
        |                         AND TIMESTAMP '1995-12-31 23:59:59'
        |GROUP BY 1""".stripMargin,
    // frozen centroids = the 16 lowest-id vectors; assignment replayed
    // with the operator's exact tie-break (sim DESC, centroid id DESC),
    // sims rounded to 6 dp before the threshold on both sides
    "q119_semantic_dedup" ->
      """WITH cents AS (
        |  SELECT vec_id AS cid, embedding FROM embeddings WHERE vec_id < 16
        |), scored AS (
        |  SELECT e.vec_id, c.cid,
        |         list_cosine_similarity(e.embedding::DOUBLE[], c.embedding::DOUBLE[]) AS sim
        |  FROM embeddings e CROSS JOIN cents c
        |), assigned AS (
        |  SELECT vec_id, CAST(cid AS BIGINT) AS cluster FROM (
        |    SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY sim DESC, cid DESC) AS rn
        |    FROM scored)
        |  WHERE rn = 1
        |), dups AS (
        |  SELECT DISTINCT b.vec_id
        |  FROM assigned a JOIN assigned b ON a.cluster = b.cluster AND a.vec_id < b.vec_id
        |  JOIN embeddings ea ON ea.vec_id = a.vec_id
        |  JOIN embeddings eb ON eb.vec_id = b.vec_id
        |  WHERE round(list_cosine_similarity(ea.embedding::DOUBLE[], eb.embedding::DOUBLE[]), 6) >= 0.35
        |)
        |SELECT a.vec_id, a.cluster, (d.vec_id IS NULL) AS keep
        |FROM assigned a LEFT JOIN dups d ON a.vec_id = d.vec_id""".stripMargin,
    // same whitespace tokens and 1-based trigram windows; integer gram
    // counts make the double divisions bit-identical across engines
    "q120_repetition_signals" ->
      """WITH toks AS (
        |  SELECT doc_id, string_split(text, ' ') AS ts FROM documents
        |), wc AS (
        |  SELECT doc_id, w, count(*) AS n
        |  FROM (SELECT doc_id, unnest(ts) AS w FROM toks) GROUP BY 1, 2
        |), ws AS (
        |  SELECT doc_id, CAST(sum(n) AS BIGINT) AS n_words, max(n) AS top_word_n,
        |         CAST(sum(CASE WHEN n > 1 THEN n ELSE 0 END) AS BIGINT) AS dup_word_tokens
        |  FROM wc GROUP BY 1
        |), tc AS (
        |  SELECT doc_id, g, count(*) AS n
        |  FROM (SELECT doc_id, unnest(list_transform(range(1, len(ts) - 1),
        |               i -> ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2])) AS g
        |        FROM toks WHERE len(ts) >= 3) GROUP BY 1, 2
        |), ts2 AS (
        |  SELECT doc_id, CAST(sum(n) AS BIGINT) AS n_tri,
        |         CAST(sum(CASE WHEN n > 1 THEN n ELSE 0 END) AS BIGINT) AS dup_tri
        |  FROM tc GROUP BY 1
        |)
        |SELECT w.doc_id, w.n_words,
        |       round(top_word_n / CAST(n_words AS DOUBLE), 6) AS top_word_frac,
        |       round(dup_word_tokens / CAST(n_words AS DOUBLE), 6) AS dup_word_frac,
        |       round(coalesce(dup_tri / CAST(n_tri AS DOUBLE), 0.0), 6) AS dup_trigram_frac
        |FROM ws w LEFT JOIN ts2 t ON w.doc_id = t.doc_id""".stripMargin,
    // corpus unigram LM: ln is pinned bit-identical (q110), per-doc sums
    // run through DECIMAL(25,10) on both engines before one exact division
    // the q121 replay one key wider: JM interpolation with the exact
    // doubles and operation order of the engine side
    "q195_bigram_lm" ->
      """WITH ws AS (
        |  SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS ws
        |  FROM documents),
        |pairs AS (
        |  SELECT doc_id, ws[t.i - 1] AS p, ws[t.i] AS w
        |  FROM ws, unnest(generate_series(2, len(ws))) AS t(i)
        |  WHERE len(ws) >= 2),
        |big AS (SELECT p, w, count(*) AS cb FROM pairs GROUP BY 1, 2),
        |uni AS (SELECT w, count(*) AS cu
        |        FROM (SELECT unnest(ws) AS w FROM ws) GROUP BY 1),
        |tot AS (SELECT CAST(sum(cu) AS DOUBLE) AS nn FROM uni),
        |model AS (
        |  SELECT b.p, b.w,
        |         ln(0.75 * (CAST(b.cb AS DOUBLE) / CAST(cp.cu AS DOUBLE))
        |            + 0.25 * (CAST(u.cu AS DOUBLE) / (SELECT nn FROM tot))) AS lnp
        |  FROM big b JOIN uni cp ON cp.w = b.p JOIN uni u ON u.w = b.w),
        |dt AS (SELECT doc_id, p, w, count(*) AS c FROM pairs GROUP BY 1, 2, 3)
        |SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_bigrams,
        |       round(CAST(sum(CAST(c * -lnp AS DECIMAL(25,10))) AS DOUBLE)
        |             / CAST(sum(c) AS BIGINT), 6) AS cross_entropy
        |FROM dt JOIN model USING (p, w) GROUP BY 1""".stripMargin,
    "q121_unigram_cross_entropy" ->
      """WITH t2 AS (
        |  SELECT doc_id, w
        |  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents)
        |  WHERE w <> ''
        |), vocab AS (SELECT w, count(*) AS n FROM t2 GROUP BY 1),
        |tot AS (SELECT CAST(sum(n) AS DOUBLE) AS nn FROM vocab),
        |lp AS (SELECT w, ln(CAST(n AS DOUBLE) / (SELECT nn FROM tot)) AS lnp FROM vocab),
        |dt AS (SELECT doc_id, w, count(*) AS c FROM t2 GROUP BY 1, 2)
        |SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_tokens,
        |       round(CAST(sum(CAST(c * -lnp AS DECIMAL(25,10))) AS DOUBLE)
        |             / CAST(sum(c) AS BIGINT), 6) AS cross_entropy
        |FROM dt JOIN lp USING (w) GROUP BY 1""".stripMargin,
    // same 48-bit char folds as q13f; bucket = hash % 64; smoothing adds
    // run in double exactly as the Scala driver computes them
    "q122_dsir_weights" ->
      """WITH th AS (
        |  SELECT doc_id, lang, list_transform(string_split(text, ' '), t ->
        |    list_reduce(list_prepend(CAST(0 AS BIGINT),
        |      list_transform(string_split(t, ''), c -> CAST(ascii(c) AS BIGINT))),
        |      (a, x) -> (a * 131 + x) % 281474976710656)) AS th
        |  FROM documents),
        |tb AS (SELECT doc_id, lang = 'en' AS is_tgt, unnest(th) % 64 AS b FROM th),
        |bc AS (SELECT b, count(*) AS n_src,
        |              CAST(sum(CASE WHEN is_tgt THEN 1 ELSE 0 END) AS BIGINT) AS n_tgt
        |       FROM tb GROUP BY 1),
        |tot AS (SELECT CAST(sum(n_src) AS DOUBLE) AS ns, CAST(sum(n_tgt) AS DOUBLE) AS nt FROM bc),
        |ratio AS (SELECT b,
        |         ln((n_tgt + 1.0) / ((SELECT nt FROM tot) + 64))
        |       - ln((n_src + 1.0) / ((SELECT ns FROM tot) + 64)) AS ln_ratio FROM bc),
        |dc AS (SELECT doc_id, b, count(*) AS c FROM tb GROUP BY 1, 2)
        |SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_tokens,
        |       round(CAST(sum(CAST(c * ln_ratio AS DECIMAL(25,10))) AS DOUBLE), 6) AS log_weight
        |FROM dc JOIN ratio USING (b) GROUP BY 1""".stripMargin,
    // positional 5-gram hashes (q13f's folds, positions kept), duplicate
    // set by occurrence count, per-doc interval merge — integer math
    // end-to-end until the final dup_frac division
    "q123_duplicated_spans" ->
      """WITH th AS (
        |  SELECT doc_id, list_transform(string_split(text, ' '), t ->
        |    list_reduce(list_prepend(CAST(0 AS BIGINT),
        |      list_transform(string_split(t, ''), c -> CAST(ascii(c) AS BIGINT))),
        |      (a, x) -> (a * 131 + x) % 281474976710656)) AS th
        |  FROM documents),
        |g AS (
        |  SELECT doc_id, len(th) AS n_tokens,
        |         CASE WHEN len(th) < 5 THEN [] ELSE
        |           list_transform(generate_series(1, len(th) - 4),
        |             i -> list_reduce(list_prepend(CAST(0 AS BIGINT), th[i:i+4]),
        |                    (a, x) -> (a * 31 + x) % 281474976710656)) END AS ghs
        |  FROM th),
        |pos AS (SELECT doc_id, unnest(generate_series(1, len(ghs))) - 1 AS p,
        |               unnest(ghs) AS gh FROM g),
        |dup AS (SELECT gh FROM (SELECT gh, count(*) AS occ FROM pos GROUP BY 1) WHERE occ > 1),
        |dp AS (SELECT doc_id, p FROM pos WHERE gh IN (SELECT gh FROM dup)),
        |sp AS (SELECT doc_id, p,
        |         CASE WHEN lag(p) OVER (PARTITION BY doc_id ORDER BY p) IS NULL THEN 1
        |              WHEN p - lag(p) OVER (PARTITION BY doc_id ORDER BY p) > 5 THEN 1
        |              ELSE 0 END AS new_span FROM dp),
        |sp2 AS (SELECT doc_id, p, sum(new_span) OVER (
        |          PARTITION BY doc_id ORDER BY p
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS span_id FROM sp),
        |spans AS (SELECT doc_id, span_id, max(p) - min(p) + 5 AS span_len FROM sp2 GROUP BY 1, 2),
        |agg AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_spans,
        |               CAST(sum(span_len) AS BIGINT) AS dup_tokens FROM spans GROUP BY 1)
        |SELECT g.doc_id, CAST(g.n_tokens AS BIGINT) AS n_tokens,
        |       coalesce(a.n_spans, 0) AS n_spans,
        |       coalesce(a.dup_tokens, 0) AS dup_tokens,
        |       round(CAST(coalesce(a.dup_tokens, 0) AS DOUBLE) / g.n_tokens, 6) AS dup_frac
        |FROM g LEFT JOIN agg a USING (doc_id)""".stripMargin,
    // q119's frozen-centroid assignment (sim DESC, cid DESC argmax), then
    // per-anchor rank over different-label cluster-mates at 6-dp sims
    "q124_hard_negatives" ->
      """WITH cents AS (
        |  SELECT vec_id AS cid, embedding FROM embeddings WHERE vec_id < 16
        |), scored AS (
        |  SELECT e.vec_id, e.label, c.cid,
        |         list_cosine_similarity(e.embedding::DOUBLE[], c.embedding::DOUBLE[]) AS sim
        |  FROM embeddings e CROSS JOIN cents c
        |), assigned AS (
        |  SELECT vec_id, label, cid AS cluster FROM (
        |    SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY sim DESC, cid DESC) AS rn
        |    FROM scored)
        |  WHERE rn = 1
        |), pairs AS (
        |  SELECT a.vec_id AS anchor_id, b.vec_id AS neg_id,
        |         round(list_cosine_similarity(ea.embedding::DOUBLE[], eb.embedding::DOUBLE[]), 6) AS sim
        |  FROM assigned a JOIN assigned b ON a.cluster = b.cluster AND a.label <> b.label
        |  JOIN embeddings ea ON ea.vec_id = a.vec_id
        |  JOIN embeddings eb ON eb.vec_id = b.vec_id)
        |SELECT anchor_id, neg_id, sim, CAST(rnk AS BIGINT) AS rank FROM (
        |  SELECT *, row_number() OVER (PARTITION BY anchor_id ORDER BY sim DESC, neg_id ASC) AS rnk
        |  FROM pairs)
        |WHERE rnk <= 5""".stripMargin,
    // q122's weight pipeline + Gumbel keys from the portable id-string
    // char fold; u = (h + 0.5) / 2^48, ln pinned, rank at 6-dp keys
    "q125_dsir_resample" ->
      """WITH th AS (
        |  SELECT doc_id, lang, list_transform(string_split(text, ' '), t ->
        |    list_reduce(list_prepend(CAST(0 AS BIGINT),
        |      list_transform(string_split(t, ''), c -> CAST(ascii(c) AS BIGINT))),
        |      (a, x) -> (a * 131 + x) % 281474976710656)) AS th
        |  FROM documents),
        |tb AS (SELECT doc_id, lang = 'en' AS is_tgt, unnest(th) % 64 AS b FROM th),
        |bc AS (SELECT b, count(*) AS n_src,
        |              CAST(sum(CASE WHEN is_tgt THEN 1 ELSE 0 END) AS BIGINT) AS n_tgt
        |       FROM tb GROUP BY 1),
        |tot AS (SELECT CAST(sum(n_src) AS DOUBLE) AS ns, CAST(sum(n_tgt) AS DOUBLE) AS nt FROM bc),
        |ratio AS (SELECT b,
        |         ln((n_tgt + 1.0) / ((SELECT nt FROM tot) + 64))
        |       - ln((n_src + 1.0) / ((SELECT ns FROM tot) + 64)) AS ln_ratio FROM bc),
        |dc AS (SELECT doc_id, b, count(*) AS c FROM tb GROUP BY 1, 2),
        |w AS (
        |  SELECT doc_id,
        |         round(CAST(sum(CAST(c * ln_ratio AS DECIMAL(25,10))) AS DOUBLE), 6) AS log_weight
        |  FROM dc JOIN ratio USING (b) GROUP BY 1),
        |keyed AS (
        |  SELECT doc_id, log_weight,
        |         round(log_weight - ln(-ln(
        |           (((list_reduce(list_prepend(CAST(0 AS BIGINT),
        |                list_transform(string_split(CAST(doc_id AS VARCHAR), ''),
        |                  c -> CAST(ascii(c) AS BIGINT))),
        |                (a, x) -> (a * 131 + x) % 281474976710656)
        |              % 2147483647) * 1103515245 + 12345) % 2147483647 + 0.5)
        |           / 2147483647.0)), 6) AS gumbel_key
        |  FROM w)
        |SELECT doc_id, log_weight, gumbel_key, CAST(rnk AS BIGINT) AS rank FROM (
        |  SELECT *, row_number() OVER (ORDER BY gumbel_key DESC, doc_id ASC) AS rnk
        |  FROM keyed)
        |WHERE rnk <= 100""".stripMargin,
    // two masking blocking passes, capped blocks (replayed though the cap
    // never binds here), distinct union, Levenshtein <= 1 verify
    "q126_fuzzy_match" ->
      """WITH c AS (SELECT c_custkey AS id, c_name AS s FROM customer),
        |p1 AS (SELECT id, s, substr(s, 1, 16) AS bk FROM c),
        |p2 AS (SELECT id, s, substr(s, 1, 14) || substr(s, 17, 2) AS bk FROM c),
        |c1 AS (SELECT * FROM (SELECT *, count(*) OVER (PARTITION BY bk) AS bs FROM p1)
        |       WHERE bs <= 10000),
        |c2 AS (SELECT * FROM (SELECT *, count(*) OVER (PARTITION BY bk) AS bs FROM p2)
        |       WHERE bs <= 10000),
        |cand AS (
        |  SELECT a.id AS id_a, b.id AS id_b, a.s AS s_a, b.s AS s_b
        |  FROM c1 a JOIN c1 b ON a.bk = b.bk AND a.id < b.id
        |  UNION
        |  SELECT a.id AS id_a, b.id AS id_b, a.s AS s_a, b.s AS s_b
        |  FROM c2 a JOIN c2 b ON a.bk = b.bk AND a.id < b.id)
        |SELECT id_a, id_b, CAST(levenshtein(s_a, s_b) AS BIGINT) AS dist
        |FROM cand WHERE levenshtein(s_a, s_b) <= 1""".stripMargin,
    // the one-pass profile: per-column stats plus the md5-portable KMV
    // distinct readout — exact under k=256 distinct, (k-1)*2^48/theta
    // beyond, with theta the 256th-smallest 48-bit md5 prefix
    "q194_table_profile" -> {
      def one(c: String): String =
        s"""(WITH hh AS (
           |  SELECT md5(CAST($c AS VARCHAR)) AS h FROM orders
           |  WHERE $c IS NOT NULL GROUP BY 1),
           |th AS (
           |  SELECT list_reduce(list_prepend(CAST(0 AS BIGINT),
           |           list_transform(string_split(substr(h, 1, 12), ''),
           |             ch -> CAST(instr('0123456789abcdef', ch) - 1 AS BIGINT))),
           |           (a, x) -> a * 16 + x) AS theta
           |  FROM (SELECT h, row_number() OVER (ORDER BY h) AS rn FROM hh)
           |  WHERE rn = 256),
           |sz AS (SELECT count(*) AS sz FROM hh)
           |SELECT '$c' AS col_name, count(*) AS n_rows,
           |       CAST(coalesce(sum(CASE WHEN $c IS NULL THEN 1 END), 0) AS BIGINT)
           |         AS n_nulls,
           |       round(CAST(coalesce(sum(CASE WHEN $c IS NULL THEN 1 END), 0) AS DOUBLE)
           |             / greatest(1, count(*)), 6) AS null_rate,
           |       CAST(min($c) AS VARCHAR) AS min_value,
           |       CAST(max($c) AS VARCHAR) AS max_value,
           |       CASE WHEN (SELECT sz FROM sz) < 256
           |            THEN CAST((SELECT sz FROM sz) AS DOUBLE)
           |            ELSE round(CAST(255 AS DOUBLE) * CAST(281474976710656 AS DOUBLE) /
           |                       CAST((SELECT theta FROM th) AS DOUBLE), 4) END
           |         AS distinct_est
           |FROM orders)""".stripMargin
      Seq("o_orderkey", "o_orderstatus", "o_totalprice", "o_orderpriority")
        .map(one).mkString("\nUNION ALL\n")
    },
    // the DP mean: clamped 6dp+DECIMAL sum, two seeded Laplace draws
    // (role-suffixed keys), noisy-sum / max(1, noisy-count); scales are
    // sumScale = 200000/(eps/2) = 400000, cntScale = 1/(eps/2) = 2
    "q193_dp_mean" -> {
      def u(suffix: String) =
        // kept clear of line-leading '||': the OUTER stripMargin would
        // strip the first bar of the operator and corrupt the SQL
        s"""(((list_reduce(list_prepend(CAST(0 AS BIGINT),
           |      list_transform(string_split(
           |        'rel2026m|' || CAST(length(priority) AS VARCHAR) || ':' || priority || '|$suffix', ''),
           |        c -> CAST(ascii(c) AS BIGINT))),
           |      (a, x) -> (a * 131 + x) % 281474976710656)
           |    % 2147483647) * 1103515245 + 12345) % 2147483647 + 0.5)
           |  / 2147483647.0""".stripMargin
      s"""WITH g AS (
         |  SELECT o_orderpriority AS priority, count(*) AS n,
         |         CAST(sum(CAST(round(least(greatest(o_totalprice, 0.0), 200000.0), 6)
         |                       AS DECIMAL(18,6))) AS DECIMAL(38,6)) AS s
         |  FROM orders WHERE o_totalprice IS NOT NULL GROUP BY 1),
         |k AS (
         |  SELECT priority, n, s,
         |         ${u("sum")} AS us,
         |         ${u("cnt")} AS uc
         |  FROM g),
         |nz AS (
         |  SELECT priority, n, s,
         |         (CASE WHEN us - 0.5 >= 0 THEN -400000.0 ELSE 400000.0 END)
         |           * ln(1.0 - 2.0 * abs(us - 0.5)) AS sum_noise,
         |         (CASE WHEN uc - 0.5 >= 0 THEN -2.0 ELSE 2.0 END)
         |           * ln(1.0 - 2.0 * abs(uc - 0.5)) AS cnt_noise
         |  FROM k)
         |SELECT priority,
         |       greatest(0.0, round(n + cnt_noise, 6)) AS n_noisy,
         |       round((CAST(s AS DOUBLE) + sum_noise)
         |             / greatest(1.0, n + cnt_noise), 6) AS mean_noisy
         |FROM nz""".stripMargin
    },
    // DDSketch replayed from scratch: bucket = ceil(ln(v)/ln(gamma)) is
    // a pure function of the value, so the oracle's one-pass sketch
    // equals the engine's merged even/odd sketches bit-for-bit; the
    // gamma constants are interpolated from the SAME Scala doubles
    "q192_sketch_quantiles" -> {
      val alpha = 0.01
      val gamma = (1 + alpha) / (1 - alpha)
      val lnG = math.log(gamma)
      s"""WITH b AS (
         |  SELECT l_returnflag,
         |         CASE WHEN l_extendedprice > 0
         |              THEN CAST(ceil(ln(l_extendedprice) / $lnG) AS BIGINT) END AS bucket,
         |         count(*) AS cnt
         |  FROM lineitem WHERE l_extendedprice IS NOT NULL
         |  GROUP BY 1, 2),
         |c AS (
         |  SELECT *,
         |         sum(cnt) OVER (PARTITION BY l_returnflag
         |                        ORDER BY bucket ASC NULLS FIRST) AS cum,
         |         sum(cnt) OVER (PARTITION BY l_returnflag) AS n
         |  FROM b),
         |qs AS (SELECT CAST(unnest([0.5, 0.95, 0.99]) AS DOUBLE) AS q)
         |SELECT l_returnflag, q,
         |       round(CASE WHEN bucket IS NULL THEN 0.0
         |                  ELSE 2.0 * pow($gamma, CAST(bucket AS DOUBLE)) / ${gamma + 1.0}
         |             END, 6) AS est
         |FROM c, qs
         |WHERE cum - cnt <= floor(q * (n - 1)) AND floor(q * (n - 1)) < cum""".stripMargin
    },
    // Fellegi–Sunter weights: the SAME driver-rounded log2(m/u)
    // decimal literals (linkageConstants) summed exactly per pair
    "q191_linkage_weights" -> {
      val cs = graft.operators.EntityResolution.linkageConstants(Queries.Q191Fields)
      val weightExpr = cs.map { case (c, agree, disagree) =>
        s"(CASE WHEN $c THEN CAST('$agree' AS DECIMAL(18,6)) " +
          s"ELSE CAST('$disagree' AS DECIMAL(18,6)) END)"
      }.mkString(" + ")
      s"""WITH c AS (
         |  SELECT c_custkey AS id, c_name AS name, c_nationkey AS nat,
         |         c_mktsegment AS seg, floor(c_acctbal / 1000) AS bal_kb,
         |         substr(c_name, 1, 16) AS bk
         |  FROM customer),
         |p AS (
         |  SELECT a.id AS id_a, b.id AS id_b,
         |         levenshtein(a.name, b.name) <= 2 AS name_agree,
         |         a.nat = b.nat AS nat_agree,
         |         a.seg = b.seg AS seg_agree,
         |         a.bal_kb = b.bal_kb AS bal_agree
         |  FROM c a JOIN c b ON a.bk = b.bk AND a.id < b.id),
         |w AS (
         |  SELECT *, CAST($weightExpr AS DOUBLE) AS link_weight FROM p)
         |SELECT id_a, id_b, name_agree, nat_agree, seg_agree, bal_agree,
         |       link_weight, link_weight >= 4.0 AS is_match
         |FROM w""".stripMargin
    },
    // q191's pairs, then one EM round: E-step posterior from the SAME
    // driver literals (left-associated IEEE products, 6-dp rounding),
    // decimal M-step sums, per-field m'/u' and the shared lambda'
    "q224_linkage_em" -> {
      val lambda = 0.01
      def factor(c: String, agree: Double, disagree: Double) =
        s"(CASE WHEN $c IS NULL THEN CAST('1.0' AS DOUBLE) " +
          s"WHEN $c THEN CAST('$agree' AS DOUBLE) " +
          s"ELSE CAST('$disagree' AS DOUBLE) END)"
      val pm = Queries.Q191Fields
        .map { case (c, m, _) => factor(c, m, 1.0 - m) }.mkString(" * ")
      val pu = Queries.Q191Fields
        .map { case (c, _, u) => factor(c, u, 1.0 - u) }.mkString(" * ")
      val l = s"CAST('$lambda' AS DOUBLE)"
      val lc = s"CAST('${1.0 - lambda}' AS DOUBLE)"
      val branches = Queries.Q191Fields.map { case (c, _, _) =>
        s"""SELECT '$c' AS field,
           |  round(CAST(sum(CASE WHEN $c THEN CAST(w AS DECIMAL(28,6)) END) AS DOUBLE)
           |        / CAST(sum(CASE WHEN $c IS NOT NULL THEN CAST(w AS DECIMAL(28,6)) END) AS DOUBLE), 6) AS m_new,
           |  round(CAST(sum(CASE WHEN $c THEN CAST(v AS DECIMAL(28,6)) END) AS DOUBLE)
           |        / CAST(sum(CASE WHEN $c IS NOT NULL THEN CAST(v AS DECIMAL(28,6)) END) AS DOUBLE), 6) AS u_new,
           |  round(CAST(sum(CAST(w AS DECIMAL(28,6))) AS DOUBLE) / count(*), 6) AS lambda_new
           |FROM sv""".stripMargin
      }.mkString("\nUNION ALL\n")
      s"""WITH c AS (
         |  SELECT c_custkey AS id, c_name AS name, c_nationkey AS nat,
         |         c_mktsegment AS seg, floor(c_acctbal / 1000) AS bal_kb,
         |         substr(c_name, 1, 16) AS bk
         |  FROM customer),
         |p AS (
         |  SELECT a.id AS id_a, b.id AS id_b,
         |         levenshtein(a.name, b.name) <= 2 AS name_agree,
         |         a.nat = b.nat AS nat_agree,
         |         a.seg = b.seg AS seg_agree,
         |         a.bal_kb = b.bal_kb AS bal_agree
         |  FROM c a JOIN c b ON a.bk = b.bk AND a.id < b.id),
         |sc AS (
         |  SELECT *, round($l * ($pm) / ($l * ($pm) + $lc * ($pu)), 6) AS w
         |  FROM p),
         |sv AS (SELECT *, round(CAST('1.0' AS DOUBLE) - w, 6) AS v FROM sc)
         |$branches""".stripMargin
    },
    // the pair-mass telemetry behind q126: per-pass block counts and
    // planned/dropped candidate-pair mass from the counts-only agg
    "q126b_pair_mass" ->
      """WITH c AS (SELECT c_name AS s FROM customer),
        |b0 AS (SELECT substr(s, 1, 16) AS bk, count(*) AS bs FROM c GROUP BY 1),
        |b1 AS (SELECT substr(s, 1, 14) || substr(s, 17, 2) AS bk, count(*) AS bs
        |       FROM c GROUP BY 1),
        |s0 AS (SELECT CAST(0 AS BIGINT) AS pass, count(*) AS blocks,
        |         CAST(coalesce(sum(CASE WHEN bs > 10000 THEN 1 END), 0) AS BIGINT)
        |           AS blocks_dropped,
        |         CAST(coalesce(sum(CASE WHEN bs <= 10000 THEN bs * (bs - 1) // 2 END), 0)
        |           AS BIGINT) AS pairs_planned,
        |         CAST(coalesce(sum(CASE WHEN bs > 10000 THEN bs * (bs - 1) // 2 END), 0)
        |           AS BIGINT) AS pairs_dropped
        |       FROM b0),
        |s1 AS (SELECT CAST(1 AS BIGINT) AS pass, count(*) AS blocks,
        |         CAST(coalesce(sum(CASE WHEN bs > 10000 THEN 1 END), 0) AS BIGINT)
        |           AS blocks_dropped,
        |         CAST(coalesce(sum(CASE WHEN bs <= 10000 THEN bs * (bs - 1) // 2 END), 0)
        |           AS BIGINT) AS pairs_planned,
        |         CAST(coalesce(sum(CASE WHEN bs > 10000 THEN bs * (bs - 1) // 2 END), 0)
        |           AS BIGINT) AS pairs_dropped
        |       FROM b1)
        |SELECT * FROM s0 UNION ALL SELECT * FROM s1""".stripMargin,
    // q123's duplicate set expanded to covered positions, kept tokens
    // reassembled with string_agg ORDER BY (q105's discipline) — the
    // cleaned text compares verbatim
    "q127_strip_spans" ->
      """WITH th AS (
        |  SELECT doc_id, list_transform(string_split(text, ' '), t ->
        |    list_reduce(list_prepend(CAST(0 AS BIGINT),
        |      list_transform(string_split(t, ''), c -> CAST(ascii(c) AS BIGINT))),
        |      (a, x) -> (a * 131 + x) % 281474976710656)) AS th
        |  FROM documents),
        |g AS (
        |  SELECT doc_id, len(th) AS n_tokens,
        |         CASE WHEN len(th) < 5 THEN [] ELSE
        |           list_transform(generate_series(1, len(th) - 4),
        |             i -> list_reduce(list_prepend(CAST(0 AS BIGINT), th[i:i+4]),
        |                    (a, x) -> (a * 31 + x) % 281474976710656)) END AS ghs
        |  FROM th),
        |pos AS (SELECT doc_id, unnest(generate_series(1, len(ghs))) - 1 AS p,
        |               unnest(ghs) AS gh FROM g),
        |dup AS (SELECT gh FROM (SELECT gh, count(*) AS occ FROM pos GROUP BY 1) WHERE occ > 1),
        |cov AS (SELECT DISTINCT doc_id, tp FROM (
        |  SELECT doc_id, unnest(generate_series(p, p + 4)) AS tp
        |  FROM pos WHERE gh IN (SELECT gh FROM dup))),
        |toks AS (SELECT doc_id,
        |           unnest(generate_series(1, len(string_split(text, ' ')))) - 1 AS tp,
        |           unnest(string_split(text, ' ')) AS tok
        |         FROM documents),
        |kept AS (SELECT t.doc_id, t.tp, t.tok
        |         FROM toks t LEFT JOIN cov c ON t.doc_id = c.doc_id AND t.tp = c.tp
        |         WHERE c.tp IS NULL),
        |ka AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_kept,
        |              string_agg(tok, ' ' ORDER BY tp) AS clean_text
        |       FROM kept GROUP BY 1)
        |SELECT g.doc_id, CAST(g.n_tokens AS BIGINT) AS n_tokens,
        |       coalesce(k.n_kept, 0) AS n_kept,
        |       coalesce(k.clean_text, '') AS clean_text
        |FROM g LEFT JOIN ka k USING (doc_id)""".stripMargin,
    // pow normalizer summed through DECIMAL (order-independent), rates
    // rounded to 6 dp before the compare, uniforms from the id-string
    // char fold — the exact driver arithmetic in SQL
    "q128_temperature_resample" ->
      """WITH base AS (
        |  SELECT doc_id, source,
        |         CAST(len(string_split(text, ' ')) AS BIGINT) AS n_toks
        |  FROM documents),
        |cnt AS (SELECT source, CAST(sum(n_toks) AS BIGINT) AS n_s FROM base GROUP BY 1),
        |ps AS (SELECT CAST(sum(CAST(pow(CAST(n_s AS DOUBLE), 0.7) AS DECIMAL(25,10)))
        |              AS DOUBLE) AS pow_sum FROM cnt),
        |rates AS (
        |  SELECT source,
        |         round(least(1.0,
        |           pow(CAST(n_s AS DOUBLE), 0.7) / (SELECT pow_sum FROM ps)
        |             * 8000 / n_s), 6) AS rate
        |  FROM cnt)
        |SELECT b.doc_id, b.source, b.n_toks, r.rate,
        |       ((((list_reduce(list_prepend(CAST(0 AS BIGINT),
        |            list_transform(string_split(CAST(b.doc_id AS VARCHAR), ''),
        |              c -> CAST(ascii(c) AS BIGINT))),
        |            (a, x) -> (a * 131 + x) % 281474976710656)
        |          % 2147483647) * 1103515245 + 12345) % 2147483647 + 0.5)
        |         / 2147483647.0 < r.rate) AS keep
        |FROM base b JOIN rates r USING (source)""".stripMargin,
    // q121's cross-entropy joined to source, per-source exact
    // interpolated percentile (quantile_cont == Spark percentile, the
    // q39 agreement), map-only keep flag
    "q129_adaptive_cutoff" ->
      """WITH t2 AS (
        |  SELECT doc_id, w
        |  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents)
        |  WHERE w <> ''
        |), vocab AS (SELECT w, count(*) AS n FROM t2 GROUP BY 1),
        |tot AS (SELECT CAST(sum(n) AS DOUBLE) AS nn FROM vocab),
        |lp AS (SELECT w, ln(CAST(n AS DOUBLE) / (SELECT nn FROM tot)) AS lnp FROM vocab),
        |dt AS (SELECT doc_id, w, count(*) AS c FROM t2 GROUP BY 1, 2),
        |ce AS (
        |  SELECT doc_id,
        |         round(CAST(sum(CAST(c * -lnp AS DECIMAL(25,10))) AS DOUBLE)
        |               / CAST(sum(c) AS BIGINT), 6) AS cross_entropy
        |  FROM dt JOIN lp USING (w) GROUP BY 1),
        |ce2 AS (SELECT ce.doc_id, d.source, ce.cross_entropy
        |        FROM ce JOIN documents d ON ce.doc_id = d.doc_id),
        |cut AS (SELECT source, round(quantile_cont(cross_entropy, 0.8), 6) AS cutoff
        |        FROM ce2 GROUP BY 1)
        |SELECT c2.doc_id, c2.source, c2.cross_entropy, cut.cutoff,
        |       (c2.cross_entropy <= cut.cutoff) AS keep
        |FROM ce2 c2 JOIN cut USING (source)""".stripMargin,
    // the split key is the 48-bit char fold of the ORDER key string;
    // thresholds are the cumulative 0.8/0.9 shares — every row replayed
    "q130_group_split" ->
      """SELECT l_orderkey, l_linenumber,
        |       CASE WHEN u < 0.8 THEN 'train' WHEN u < 0.9 THEN 'val'
        |            ELSE 'test' END AS split
        |FROM (
        |  SELECT l_orderkey, l_linenumber,
        |         (((list_reduce(list_prepend(CAST(0 AS BIGINT),
        |              list_transform(string_split(CAST(l_orderkey AS VARCHAR), ''),
        |                c -> CAST(ascii(c) AS BIGINT))),
        |              (a, x) -> (a * 131 + x) % 281474976710656)
        |            % 2147483647) * 1103515245 + 12345) % 2147483647 + 0.5)
        |          / 2147483647.0 AS u
        |  FROM lineitem)""".stripMargin,
    // the oracle replays additive evolution as a union with explicit
    // NULL fill — grouping on coalesce(priority,'LEGACY') checks the
    // NULL-fill itself
    "q131_schema_evolution" ->
      """WITH unioned AS (
        |  SELECT o_orderkey, o_totalprice, NULL AS o_orderpriority
        |  FROM orders WHERE o_orderdate < TIMESTAMP '1995-01-01'
        |  UNION ALL
        |  SELECT o_orderkey, o_totalprice, o_orderpriority
        |  FROM orders WHERE o_orderdate >= TIMESTAMP '1995-01-01'
        |)
        |SELECT coalesce(o_orderpriority, 'LEGACY') AS priority,
        |       count(*) AS n_orders,
        |       CAST(round(sum(CAST(CAST(o_totalprice AS VARCHAR)
        |                           AS DECIMAL(18,6))), 2) AS DOUBLE) AS total_price
        |FROM unioned GROUP BY 1""".stripMargin,
    // type-widening evolution replayed as a union with explicit NULL
    // fills: drifted rows carry only the sidecar, pre-drift rows only
    // the original column — the per-era sums check both routings
    "q131b_type_drift" ->
      """WITH unioned AS (
        |  SELECT o_orderkey, o_totalprice, o_custkey,
        |         CAST(NULL AS VARCHAR) AS o_custkey_string
        |  FROM orders WHERE o_orderdate < TIMESTAMP '1998-01-01'
        |  UNION ALL
        |  SELECT o_orderkey, o_totalprice, NULL,
        |         CAST(o_custkey AS VARCHAR)
        |  FROM orders WHERE o_orderdate >= TIMESTAMP '1998-01-01'
        |)
        |SELECT CASE WHEN o_custkey IS NOT NULL THEN 'pre_drift'
        |            ELSE 'drifted' END AS era,
        |       count(*) AS n_orders,
        |       CAST(coalesce(sum(o_custkey), 0) AS BIGINT) AS custkey_sum,
        |       CAST(coalesce(sum(CAST(o_custkey_string AS BIGINT)), 0) AS BIGINT)
        |         AS sidecar_sum,
        |       CAST(round(sum(CAST(CAST(o_totalprice AS VARCHAR)
        |                           AS DECIMAL(18,6))), 2) AS DOUBLE) AS total_price
        |FROM unioned GROUP BY 1""".stripMargin,
    // merge-on-read delete then append, replayed as set algebra: the
    // appended 1000-multiples survive even where divisible by 13
    // (tombstones are file-scoped, never retroactive); key_sum catches
    // any wrongly deleted or resurrected row
    "q132_mor_delete" ->
      """WITH kept AS (
        |  SELECT * FROM orders WHERE o_orderkey % 13 <> 0
        |  UNION ALL
        |  SELECT o_orderkey, o_custkey, 'A' AS o_orderstatus,
        |         o_totalprice, o_orderdate, o_orderpriority
        |  FROM orders WHERE o_orderkey % 1000 = 0
        |)
        |SELECT o_orderstatus, count(*) AS n_orders,
        |       CAST(round(sum(CAST(CAST(o_totalprice AS VARCHAR)
        |                           AS DECIMAL(18,6))), 2) AS DOUBLE) AS total_price,
        |       CAST(sum(o_orderkey) AS BIGINT) AS key_sum
        |FROM kept GROUP BY 1""".stripMargin,
    // exact percentile verbatim; the GK sketch reduced to a within-bound
    // boolean the oracle derives trivially (q28's reduction pattern)
    "q99_approx_percentile" ->
      """SELECT l_returnflag,
        |       round(quantile_cont(l_extendedprice, 0.5), 6) AS exact_p50,
        |       TRUE AS approx_within_bound
        |FROM lineitem GROUP BY l_returnflag""".stripMargin,
    // same synthetic pages, same strip chain; host/path/query derived by
    // plain regex where Spark uses parse_url — both must agree
    "q98_web_prep" ->
      """WITH pages AS (
        |  SELECT doc_id,
        |         'https://host' || CAST(doc_id % 7 AS VARCHAR) ||
        |         '.example.com/p/' || CAST(doc_id AS VARCHAR) ||
        |         '?lang=' || lang AS url,
        |         '<html><head><title>Doc ' || CAST(doc_id AS VARCHAR) ||
        |         '</title><script>track()</script></head><body><h1>' || lang ||
        |         '</h1>  <p>' || md5(text) || '</p><!-- t --></body></html>' AS html
        |  FROM documents)
        |SELECT doc_id,
        |       regexp_extract(url, 'https://([^/]+)', 1) AS host,
        |       regexp_extract(url, 'https://[^/]+(/[^?]*)', 1) AS url_path,
        |       regexp_extract(url, '\?(.*)$', 1) AS url_query,
        |       trim(regexp_replace(regexp_replace(regexp_replace(regexp_replace(
        |         html, '<script.*?</script>', ' ', 'g'), '<!--.*?-->', ' ', 'g'),
        |         '<[^>]+>', ' ', 'g'), '\s+', ' ', 'g')) AS clean_text
        |FROM pages""".stripMargin,
    // the oracle walks the same chains one level per recursive step; the
    // Spark side jumps pointer-doubling rounds — results must agree
    "q97_flatten_hierarchy" ->
      """WITH RECURSIVE nodes AS (
        |  SELECT DISTINCT o_orderkey % 512 AS node FROM orders),
        |p AS (
        |  SELECT n.node, pp.node AS parent
        |  FROM nodes n LEFT JOIN nodes pp ON pp.node = n.node - 1),
        |walk AS (
        |  SELECT node, node AS root, 0 AS depth FROM p WHERE parent IS NULL
        |  UNION ALL
        |  SELECT p.node, w.root, w.depth + 1
        |  FROM p JOIN walk w ON p.parent = w.node)
        |SELECT node, root, CAST(depth AS BIGINT) AS depth FROM walk""".stripMargin,
    // the pruning mechanism is Spark-side (LayoutSpec asserts the
    // dynamicpruning subquery in the scan); values = a plain filtered agg
    "q95_dynamic_pruning" ->
      """SELECT o_orderpriority, count(*) AS n,
        |       CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
        |FROM orders WHERE o_orderstatus = 'F'
        |GROUP BY 1""".stripMargin,
    // each format must reproduce the same parquet-derived aggregate
    // the 12-dp fingerprint cast goes double -> VARCHAR -> DECIMAL: Spark
    // casts double to decimal via the SHORTEST decimal representation
    // (BigDecimal.valueOf), DuckDB via the true binary expansion — at 12 dp
    // those differ by half an ulp per row, so the oracle routes through the
    // shortest rendering to match Spark's cast semantics exactly
    // the Avro container round-trip (AvroIO, no spark-avro connector):
    // same double battery as q96 + epoch-seconds sum for the
    // timestamp-micros logical type
    "q96b_avro_roundtrip" ->
      """WITH s AS (
        |  SELECT o_orderkey, o_totalprice, o_orderdate,
        |         CAST(CAST(o_totalprice AS VARCHAR) AS DECIMAL(18,12)) AS fp
        |  FROM orders WHERE o_orderkey % 20 = 0)
        |SELECT 'avro' AS format, count(*) AS n_rows,
        |       CAST(sum(o_orderkey) AS BIGINT) AS sum_key,
        |       CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue,
        |       CAST(sum(fp) AS VARCHAR) AS price_fp,
        |       CAST(sum(CAST(extract(epoch FROM o_orderdate) AS BIGINT)) AS BIGINT) AS ts_sum
        |FROM s""".stripMargin,
    "q96_format_roundtrip" ->
      """WITH s AS (
        |  SELECT o_orderkey, o_totalprice,
        |         CAST(CAST(o_totalprice AS VARCHAR) AS DECIMAL(18,12)) AS fp
        |  FROM orders WHERE o_orderkey % 20 = 0)
        |SELECT 'csv' AS format, count(*) AS n_rows,
        |       CAST(sum(o_orderkey) AS BIGINT) AS sum_key,
        |       CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue,
        |       CAST(sum(fp) AS VARCHAR) AS price_fp
        |FROM s
        |UNION ALL
        |SELECT 'json', count(*), CAST(sum(o_orderkey) AS BIGINT),
        |       CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE),
        |       CAST(sum(fp) AS VARCHAR) FROM s
        |UNION ALL
        |SELECT 'orc', count(*), CAST(sum(o_orderkey) AS BIGINT),
        |       CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE),
        |       CAST(sum(fp) AS VARCHAR) FROM s""".stripMargin,
    // plain SQL-standard ntile — green proves the distributed
    // prefix-sum formula reproduces it bit-for-bit
    "q94_quantile_bins" ->
      """SELECT bucket, count(*) AS n, min(o_totalprice) AS lo, max(o_totalprice) AS hi
        |FROM (
        |  SELECT o_orderkey, o_totalprice,
        |         CAST(ntile(10) OVER (ORDER BY o_totalprice, o_orderkey) AS BIGINT) AS bucket
        |  FROM orders)
        |GROUP BY 1""".stripMargin,
    // the oracle NEVER sees the changelog: it recomputes the final table
    // from scratch, so a green row proves incremental == full recompute
    "q91_incremental_agg" ->
      """WITH o AS (
        |  SELECT o_orderkey AS k, o_orderstatus AS g,
        |         CAST(o_totalprice AS DECIMAL(18,2)) AS v FROM orders),
        |base AS (SELECT * FROM o WHERE k % 10 <> 5),
        |final AS (
        |  SELECT k,
        |         CASE WHEN k % 10 = 3 THEN 'X' ELSE g END AS g,
        |         CASE WHEN k % 10 = 3 THEN v + 1000 ELSE v END AS v
        |  FROM base WHERE k % 9 <> 0
        |  UNION ALL
        |  SELECT k, g, v FROM o WHERE k % 10 = 5)
        |SELECT g AS o_orderstatus, count(*) AS n,
        |       CAST(sum(v) AS DOUBLE) AS total
        |FROM final GROUP BY 1""".stripMargin,
    // three PageRank iterations as chained CTEs over the same edge list;
    // all arithmetic forced to DOUBLE (DuckDB's bare 1.0 is DECIMAL) and
    // the final rank rounded to 6 dp on both sides (summation order)
    "q88_pagerank" ->
      """WITH e AS (
        |  SELECT DISTINCT o_orderkey % 50 AS src, (o_orderkey // 7) % 50 AS dst
        |  FROM orders WHERE o_orderkey % 50 <> (o_orderkey // 7) % 50),
        |nodes AS (SELECT src AS node FROM e UNION SELECT dst FROM e),
        |nn AS (SELECT count(*) AS n FROM nodes),
        |deg AS (SELECT src, count(*) AS d FROM e GROUP BY 1),
        |r0 AS (SELECT node, 1.0::DOUBLE / nn.n AS r FROM nodes CROSS JOIN nn),
        |r1 AS (
        |  SELECT n.node, 0.15::DOUBLE / nn.n
        |         + 0.85::DOUBLE * coalesce(sum(r0.r / deg.d), 0.0::DOUBLE) AS r
        |  FROM nodes n CROSS JOIN nn
        |  LEFT JOIN e ON e.dst = n.node
        |  LEFT JOIN deg ON deg.src = e.src
        |  LEFT JOIN r0 ON r0.node = e.src
        |  GROUP BY n.node, nn.n),
        |r2 AS (
        |  SELECT n.node, 0.15::DOUBLE / nn.n
        |         + 0.85::DOUBLE * coalesce(sum(r1.r / deg.d), 0.0::DOUBLE) AS r
        |  FROM nodes n CROSS JOIN nn
        |  LEFT JOIN e ON e.dst = n.node
        |  LEFT JOIN deg ON deg.src = e.src
        |  LEFT JOIN r1 ON r1.node = e.src
        |  GROUP BY n.node, nn.n),
        |r3 AS (
        |  SELECT n.node, 0.15::DOUBLE / nn.n
        |         + 0.85::DOUBLE * coalesce(sum(r2.r / deg.d), 0.0::DOUBLE) AS r
        |  FROM nodes n CROSS JOIN nn
        |  LEFT JOIN e ON e.dst = n.node
        |  LEFT JOIN deg ON deg.src = e.src
        |  LEFT JOIN r2 ON r2.node = e.src
        |  GROUP BY n.node, nn.n)
        |SELECT node, round(r, 6) AS rank FROM r3""".stripMargin,
    // first-seen-day cohorts x day offset, distinct active users per cell
    "q81_cohorts" ->
      """WITH e AS (SELECT user_id, CAST(ts AS DATE) AS d FROM events),
        |f AS (SELECT user_id, min(d) AS cohort FROM e GROUP BY 1)
        |SELECT f.cohort::TIMESTAMP AS cohort, date_diff('day', f.cohort, e.d) AS day_offset,
        |       count(DISTINCT e.user_id) AS n_active
        |FROM e JOIN f USING (user_id)
        |GROUP BY 1, 2""".stripMargin,
    // earliest-qualifying-event funnel == greedy min-after chain
    "q80_funnel" ->
      """WITH e AS (
        |  SELECT user_id, ts::TIMESTAMP AS ts, event_type FROM events
        |  WHERE event_type IN ('view', 'click', 'purchase')),
        |v AS (SELECT user_id, min(ts) AS t_view FROM e
        |      WHERE event_type = 'view' GROUP BY 1),
        |c AS (SELECT e.user_id, min(ts) AS t_click FROM e JOIN v USING (user_id)
        |      WHERE event_type = 'click' AND ts > t_view GROUP BY 1),
        |p AS (SELECT e.user_id, min(ts) AS t_purchase FROM e JOIN c USING (user_id)
        |      WHERE event_type = 'purchase' AND ts > t_click GROUP BY 1)
        |SELECT (SELECT count(DISTINCT user_id) FROM e) AS n_users,
        |       (SELECT count(*) FROM v) AS n_viewed,
        |       (SELECT count(*) FROM c) AS n_clicked,
        |       (SELECT count(*) FROM p) AS n_purchased""".stripMargin,
    // the synthetic page payloads are closed-form: id = (page-1)*20 + i,
    // vote_count = 3*id (+1 on even ids in the day-2 re-crawl), so the
    // whole two-run merge outcome derives from generate_series
    "q79_daily_rerun" ->
      """WITH f AS (
        |  SELECT i AS id,
        |         3 * i + CASE WHEN i % 2 = 0 THEN 1 ELSE 0 END AS vote_count
        |  FROM generate_series(0, 99) t(i))
        |SELECT count(*) AS n_rows,
        |       count(CASE WHEN id >= 60 THEN 1 END) AS n_inserted,
        |       count(CASE WHEN id < 60 AND id % 2 = 0 THEN 1 END) AS n_updated,
        |       count(CASE WHEN id < 60 AND id % 2 = 1 THEN 1 END) AS n_unchanged,
        |       CAST(sum(vote_count) AS BIGINT) AS sum_votes
        |FROM f""".stripMargin,
    // q13g's recursive closure + quality arg_max: best member per group
    "q78_canonical_pick" ->
      """WITH RECURSIVE sh AS (
        |  SELECT doc_id, list_distinct(list_transform(
        |           generate_series(1, greatest(len(ws) - 2, 0)),
        |           i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2])) AS s
        |  FROM (SELECT doc_id, string_split(text, ' ') AS ws FROM documents)
        |),
        |pr AS (
        |  SELECT a.doc_id AS idA, b.doc_id AS idB
        |  FROM sh a JOIN sh b ON a.doc_id < b.doc_id
        |  WHERE len(a.s) > 0 AND len(b.s) > 0
        |    AND CAST(len(list_intersect(a.s, b.s)) AS DOUBLE) /
        |        CAST(len(a.s) + len(b.s) - len(list_intersect(a.s, b.s)) AS DOUBLE) >= 0.5
        |),
        |e AS (SELECT idA AS a, idB AS b FROM pr UNION SELECT idB, idA FROM pr),
        |reach AS (
        |  SELECT a, b FROM e
        |  UNION
        |  SELECT r.a, e.b FROM reach r JOIN e ON r.b = e.a
        |),
        |labels AS (SELECT a AS id, least(a, min(b)) AS rep FROM reach GROUP BY a),
        |ql AS (
        |  SELECT doc_id AS id,
        |         round(0.4 * least(CAST(len(string_split(text, ' ')) AS DOUBLE) / 100.0, 1.0)
        |           + 0.3 * (1.0 - least((CASE WHEN length(text) = 0 THEN 0.0
        |               ELSE CAST(length(regexp_replace(text, '[A-Za-z0-9\s]', '', 'g')) AS DOUBLE)
        |                    / CAST(length(text) AS DOUBLE) END) * 5.0, 1.0))
        |           + 0.3 * least((CASE WHEN len(string_split(text, ' ')) = 0 THEN 0.0
        |               ELSE CAST(len(list_filter(string_split(text, ' '),
        |                      tk -> list_contains(['the','and','of','to','in','is','that','it','a'], tk))) AS DOUBLE)
        |                    / CAST(len(string_split(text, ' ')) AS DOUBLE) END) * 4.0, 1.0), 6) AS q
        |  FROM documents)
        |SELECT l.rep, count(*) AS group_size,
        |       first(l.id ORDER BY ql.q DESC, l.id ASC) AS canonical,
        |       max(ql.q) AS best_quality
        |FROM labels l JOIN ql ON ql.id = l.id
        |GROUP BY l.rep""".stripMargin,
    // value-based RANGE frame: ties share the frame, no tiebreak needed
    "q77_range_frame" ->
      """SELECT o_orderkey, o_custkey, o_orderdate,
        |       round(sum(o_totalprice) OVER (
        |         PARTITION BY o_custkey
        |         ORDER BY date_diff('day', DATE '1970-01-01', o_orderdate)
        |         RANGE BETWEEN 6 PRECEDING AND CURRENT ROW), 3) AS rolling_7d
        |FROM orders WHERE o_orderkey % 5 = 0""".stripMargin,
    // one-pass expectation report; referential check via LEFT JOIN marker
    "q76_quality_gate" ->
      """WITH j AS (
        |  SELECT o.*, c.c_custkey AS ck
        |  FROM orders o LEFT JOIN (SELECT DISTINCT c_custkey FROM customer) c
        |    ON o.o_custkey = c.c_custkey),
        |agg AS (
        |  SELECT count(*) AS n_rows,
        |    count(CASE WHEN NOT coalesce(o_totalprice > 0, FALSE) THEN 1 END) AS positive_price,
        |    count(CASE WHEN NOT coalesce(o_totalprice < 300000, FALSE) THEN 1 END) AS price_under_300k,
        |    count(CASE WHEN NOT coalesce(o_orderpriority != '1-URGENT', FALSE) THEN 1 END) AS not_urgent,
        |    count(CASE WHEN ck IS NULL THEN 1 END) AS known_customer
        |  FROM j)
        |SELECT x.expectation, x.n_violations, agg.n_rows
        |FROM agg, LATERAL (VALUES
        |  ('positive_price', positive_price),
        |  ('price_under_300k', price_under_300k),
        |  ('not_urgent', not_urgent),
        |  ('known_customer', known_customer)) AS x(expectation, n_violations)""".stripMargin,
    // unigram vocab: rank by (count desc, token), cumulative coverage
    "q74_vocab_coverage" ->
      """WITH c AS (
        |  SELECT t AS token, count(*) AS n
        |  FROM (SELECT unnest(string_split(text, ' ')) AS t FROM documents)
        |  GROUP BY 1),
        |tot AS (SELECT sum(n) AS total FROM c),
        |r AS (SELECT token, n,
        |        row_number() OVER (ORDER BY n DESC, token) AS rank,
        |        sum(n) OVER (ORDER BY n DESC, token
        |                     ROWS UNBOUNDED PRECEDING) AS cum_n
        |      FROM c)
        |SELECT rank, token, n,
        |       round(CAST(cum_n AS DOUBLE) / total, 6) AS coverage
        |FROM r, tot WHERE rank <= 200""".stripMargin,
    // vector-math battery; rounding absorbs summation-order ulps
    "q75_vector_math" ->
      """WITH p AS (SELECT embedding AS p_vec FROM embeddings WHERE vec_id = 0),
        |e AS (SELECT vec_id, embedding, p_vec,
        |             sqrt(list_sum(list_transform(embedding,
        |               x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS nrm
        |      FROM embeddings, p)
        |SELECT vec_id,
        |       round(nrm, 6) AS l2,
        |       round(abs(sqrt(list_sum(list_transform(embedding,
        |         x -> pow(CAST(x AS DOUBLE) / nrm, 2)))) - 1.0), 9) AS unit_residual,
        |       round(list_dot_product(embedding::DOUBLE[], p_vec::DOUBLE[]), 6) AS dot_p,
        |       round(sqrt(list_sum(list_transform(generate_series(1, len(embedding)),
        |         i -> pow(CAST(embedding[i] AS DOUBLE) - CAST(p_vec[i] AS DOUBLE), 2)))), 6)
        |         AS dist_p
        |FROM e""".stripMargin,
    // IVF at nProbe == nLists must equal brute force: q14's oracle verbatim
    "q71_ivf_exact" ->
      """WITH q AS (SELECT vec_id AS q_id, embedding AS q_emb FROM embeddings WHERE vec_id < 5),
        |scored AS (
        |  SELECT q.q_id, e.vec_id,
        |         round(list_cosine_similarity(q.q_emb::DOUBLE[], e.embedding::DOUBLE[]), 6) AS sim
        |  FROM q CROSS JOIN embeddings e WHERE e.vec_id <> q.q_id)
        |SELECT q_id, vec_id, sim FROM (
        |  SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, vec_id ASC) AS rn
        |  FROM scored)
        |WHERE rn <= 10""".stripMargin,
    // approximate IVF with a frozen one-hot index over the closed-form
    // clustered corpus (see Queries.q71bIvfApprox): nProbe=1 restricts
    // candidates to the query's own cluster, so the expected answer is the
    // within-cluster cosine top-k from the same vec_id arithmetic; eps
    // values are sixteenths (exact in float32), so both engines' double
    // cosine agrees bit-for-bit
    "q71b_ivf_approx" -> ivfApproxOracle,
    // the MATERIALIZED index probe has identical semantics (same corpus,
    // same frozen centroids, same nProbe) — layout must not change results
    "q71c_ivf_index" -> ivfApproxOracle,
    // the INCREMENTALLY-built index (half built, half appended on frozen
    // centroids) must again be indistinguishable — same oracle
    "q71d_ivf_incremental" -> ivfApproxOracle,
    // correlated EXISTS / NOT EXISTS + uncorrelated IN, same SQL both sides
    "q72_exists_in" ->
      """SELECT c_nationkey,
        |       count(*) AS n_customers,
        |       count(CASE WHEN EXISTS (
        |         SELECT 1 FROM orders o
        |         WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 100000)
        |         THEN 1 END) AS n_big_spenders,
        |       count(CASE WHEN NOT EXISTS (
        |         SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
        |         THEN 1 END) AS n_dormant
        |FROM customer c
        |WHERE c.c_nationkey IN (SELECT n_nationkey FROM nation
        |                        WHERE n_regionkey < 3)
        |GROUP BY c_nationkey""".stripMargin,
    // bag-semantics set ops: multiplicities via INTERSECT ALL / EXCEPT ALL
    "q73_set_ops_all" ->
      """WITH a AS (SELECT o_orderpriority, o_orderstatus FROM orders WHERE o_orderkey % 3 = 0),
        |b AS (SELECT o_orderpriority, o_orderstatus FROM orders WHERE o_orderkey % 2 = 0),
        |i AS (SELECT o_orderpriority, o_orderstatus, count(*) AS n_intersect
        |      FROM (SELECT * FROM a INTERSECT ALL SELECT * FROM b) GROUP BY 1, 2),
        |e AS (SELECT o_orderpriority, o_orderstatus, count(*) AS n_except
        |      FROM (SELECT * FROM a EXCEPT ALL SELECT * FROM b) GROUP BY 1, 2)
        |SELECT coalesce(i.o_orderpriority, e.o_orderpriority) AS o_orderpriority,
        |       coalesce(i.o_orderstatus, e.o_orderstatus) AS o_orderstatus,
        |       coalesce(n_intersect, 0) AS n_intersect,
        |       coalesce(n_except, 0) AS n_except
        |FROM i FULL OUTER JOIN e
        |  ON i.o_orderpriority = e.o_orderpriority
        | AND i.o_orderstatus = e.o_orderstatus""".stripMargin,
    // brute-force cross-corpus Jaccard (the Spark side's shared-order
    // prefix filter is exactness-preserving)
    "q69_cross_neardup" ->
      """WITH sh AS (
        |  SELECT doc_id, list_distinct(list_transform(
        |           generate_series(1, greatest(len(ws) - 2, 0)),
        |           i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2])) AS s
        |  FROM (SELECT doc_id, string_split(text, ' ') AS ws FROM documents)
        |)
        |SELECT idA, idB, round(jac, 6) AS jaccard FROM (
        |  SELECT a.doc_id AS idA, b.doc_id AS idB,
        |         CAST(len(list_intersect(a.s, b.s)) AS DOUBLE) /
        |         CAST(len(a.s) + len(b.s) - len(list_intersect(a.s, b.s)) AS DOUBLE) AS jac
        |  FROM sh a JOIN sh b ON a.doc_id % 20 = 0 AND b.doc_id % 20 != 0
        |  WHERE len(a.s) > 0 AND len(b.s) > 0)
        |WHERE jac >= 0.5""".stripMargin,
    // keep-first chunk dedup: winner of a chunk hash = smallest
    // (doc_id, chunk_start); md5 of the space-joined token window is
    // engine-portable
    "q70_chunk_dedup" ->
      """WITH tk AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
        |ch AS (
        |  SELECT doc_id, i AS chunk_start,
        |         md5(array_to_string(t[i:i+31], ' ')) AS h
        |  FROM tk, LATERAL unnest(generate_series(1, len(t), 32)) AS g(i)),
        |rk AS (
        |  SELECT doc_id,
        |         row_number() OVER (PARTITION BY h ORDER BY doc_id, chunk_start) AS r
        |  FROM ch)
        |SELECT doc_id, count(*) AS n_chunks,
        |       count(CASE WHEN r > 1 THEN 1 END) AS n_dup_chunks
        |FROM rk GROUP BY 1""".stripMargin,
    // md5-order shuffle: shard = first hex nibble, head doc = arg-min md5
    "q59_shuffle_shard" ->
      """SELECT CAST(strpos('0123456789abcdef', substr(h, 1, 1)) - 1 AS INTEGER) AS shard,
        |       count(*) AS n_docs,
        |       CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS sum_tokens,
        |       arg_min(doc_id, h) AS head_doc
        |FROM (SELECT doc_id, text, md5(CAST(doc_id AS VARCHAR)) AS h FROM documents)
        |GROUP BY 1""".stripMargin,
    // exact cosine vs the benchmark slice; argmax replayed as two
    // portable aggs (max sim, then min bench_id at that sim)
    "q148_semantic_decontaminate" ->
      """WITH c AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id >= 20),
        |b AS (SELECT vec_id AS bench_id, embedding AS b_emb FROM embeddings WHERE vec_id < 20),
        |hits AS (
        |  SELECT c.vec_id, b.bench_id,
        |         round(list_cosine_similarity(c.embedding::DOUBLE[], b.b_emb::DOUBLE[]), 6) AS sim
        |  FROM c CROSS JOIN b
        |  WHERE round(list_cosine_similarity(c.embedding::DOUBLE[], b.b_emb::DOUBLE[]), 6) >= 0.30),
        |best AS (SELECT vec_id, max(sim) AS sim FROM hits GROUP BY 1)
        |SELECT h.vec_id, min(h.bench_id) AS bench_id, h.sim
        |FROM hits h JOIN best USING (vec_id, sim)
        |GROUP BY h.vec_id, h.sim""".stripMargin,
    // q119's assignment replayed for store and batch; drop rule (a) any
    // same-cluster store vec >= tau, (b) smaller-id same-cluster batch vec
    "q149_incremental_semdedup" ->
      """WITH cents AS (
        |  SELECT vec_id AS cid, embedding FROM embeddings WHERE vec_id < 16
        |), batch AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id % 2 = 1),
        |store AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id % 2 = 0),
        |bscored AS (
        |  SELECT e.vec_id, c.cid,
        |         list_cosine_similarity(e.embedding::DOUBLE[], c.embedding::DOUBLE[]) AS sim
        |  FROM batch e CROSS JOIN cents c),
        |bassigned AS (
        |  SELECT vec_id, CAST(cid AS BIGINT) AS cluster FROM (
        |    SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY sim DESC, cid DESC) AS rn
        |    FROM bscored)
        |  WHERE rn = 1),
        |sscored AS (
        |  SELECT e.vec_id, c.cid,
        |         list_cosine_similarity(e.embedding::DOUBLE[], c.embedding::DOUBLE[]) AS sim
        |  FROM store e CROSS JOIN cents c),
        |sassigned AS (
        |  SELECT vec_id, CAST(cid AS BIGINT) AS cluster FROM (
        |    SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY sim DESC, cid DESC) AS rn
        |    FROM sscored)
        |  WHERE rn = 1),
        |dup_store AS (
        |  SELECT DISTINCT b.vec_id
        |  FROM bassigned b JOIN sassigned s ON b.cluster = s.cluster
        |  JOIN embeddings eb ON eb.vec_id = b.vec_id
        |  JOIN embeddings es ON es.vec_id = s.vec_id
        |  WHERE round(list_cosine_similarity(eb.embedding::DOUBLE[], es.embedding::DOUBLE[]), 6) >= 0.35),
        |dup_batch AS (
        |  SELECT DISTINCT b2.vec_id
        |  FROM bassigned b1 JOIN bassigned b2 ON b1.cluster = b2.cluster AND b1.vec_id < b2.vec_id
        |  JOIN embeddings e1 ON e1.vec_id = b1.vec_id
        |  JOIN embeddings e2 ON e2.vec_id = b2.vec_id
        |  WHERE round(list_cosine_similarity(e1.embedding::DOUBLE[], e2.embedding::DOUBLE[]), 6) >= 0.35)
        |SELECT a.vec_id, a.cluster,
        |       (d1.vec_id IS NULL AND d2.vec_id IS NULL) AS keep
        |FROM bassigned a
        |LEFT JOIN dup_store d1 ON a.vec_id = d1.vec_id
        |LEFT JOIN dup_batch d2 ON a.vec_id = d2.vec_id""".stripMargin,
    // same JSON documents, DuckDB's json path operators instead of variant
    "q150_variant_ingest" ->
      """WITH j AS (
        |  SELECT '{"meta":' || props || ',"event":{"type":"' || event_type ||
        |         '","id":' || event_id || ',"user":' || user_id || '}}' AS js
        |  FROM events)
        |SELECT js->>'$.event.type' AS event_type, count(*) AS n,
        |       CAST(sum(CAST(js->>'$.meta.k' AS BIGINT)) AS BIGINT) AS sum_k,
        |       CAST(count(DISTINCT CAST(js->>'$.event.user' AS BIGINT)) AS BIGINT) AS n_users
        |FROM j GROUP BY 1""".stripMargin,
    // raw trigram strings (hash injective w.h.p., the q13d contract):
    // first-occurrence = min doc_id per distinct shingle
    "q151_ngram_novelty" ->
      """WITH sh AS (
        |  SELECT doc_id, unnest(list_distinct(list_transform(
        |           generate_series(1, greatest(len(ws) - 2, 0)),
        |           i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]))) AS s
        |  FROM (SELECT doc_id, string_split(text, ' ') AS ws FROM documents)
        |), fs AS (SELECT s, min(doc_id) AS first_id FROM sh GROUP BY 1)
        |SELECT doc_id, count(*) AS n_shingles,
        |       CAST(sum(CASE WHEN first_id = doc_id THEN 1 ELSE 0 END) AS BIGINT) AS n_novel,
        |       round(CAST(sum(CASE WHEN first_id = doc_id THEN 1 ELSE 0 END) AS DOUBLE)
        |             / CAST(count(*) AS DOUBLE), 6) AS novelty
        |FROM sh JOIN fs USING (s)
        |GROUP BY 1""".stripMargin,
    // the PNG generator's pixel formula replayed end to end: luminance,
    // 2x2 floor-mean pool, 56-bit dHash, all-pairs hamming verify (the
    // band join is a lossless candidate generator at this bucket load)
    // per-SCENE-seed replay of the q152 hash chain + the per-media lag:
    // detected cuts (hash moved vs predecessor) compare exactly
    "q201_scene_changes" ->
      """WITH fr AS (
        |  SELECT doc_id, t.f, doc_id * 1000 + t.f // 3 AS seed
        |  FROM documents, unnest(generate_series(0, 7)) AS t(f)),
        |sd AS (SELECT DISTINCT seed FROM fr),
        |px AS (
        |  SELECT s.seed, xs.x, ys.y,
        |         CAST((s.seed * 131 + xs.x * 31 + ys.y * 17) & 255 AS BIGINT) AS v
        |  FROM sd s
        |  CROSS JOIN (SELECT unnest(generate_series(0, 15)) AS x) xs
        |  CROSS JOIN (SELECT unnest(generate_series(0, 15)) AS y) ys),
        |lum AS (
        |  SELECT seed, x, y,
        |         (299 * v + 587 * ((v * 7) & 255) + 114 * ((v * 13) & 255)) // 1000 AS l
        |  FROM px),
        |grid AS (
        |  SELECT seed, y // 2 AS gy, x // 2 AS gx,
        |         CAST(sum(l) AS BIGINT) // 4 AS g
        |  FROM lum GROUP BY 1, 2, 3),
        |bits AS (
        |  SELECT a.seed, a.gy AS r, a.gx AS c
        |  FROM grid a JOIN grid b ON a.seed = b.seed AND a.gy = b.gy AND b.gx = a.gx + 1
        |  WHERE a.g < b.g),
        |hashes AS (
        |  SELECT s.seed,
        |         coalesce(CAST(sum(1::BIGINT << CAST(r * 7 + c AS INTEGER)) AS BIGINT), 0) AS h
        |  FROM sd s LEFT JOIN bits ON bits.seed = s.seed
        |  GROUP BY 1),
        |fh AS (
        |  SELECT fr.doc_id AS media_id, fr.f AS frame_idx, h.h AS dhash
        |  FROM fr JOIN hashes h USING (seed)),
        |lagd AS (
        |  SELECT media_id, frame_idx, dhash,
        |         lag(dhash) OVER (PARTITION BY media_id ORDER BY frame_idx) AS prev
        |  FROM fh)
        |SELECT media_id, CAST(frame_idx AS BIGINT) AS frame_idx,
        |       CAST(bit_count(xor(prev, dhash)) AS INTEGER) AS hamming
        |FROM lagd
        |WHERE prev IS NOT NULL AND bit_count(xor(prev, dhash)) > 0""".stripMargin,
    "q152_image_dhash" ->
      """WITH px AS (
        |  SELECT d.doc_id AS id, xs.x, ys.y,
        |         CAST((d.doc_id * 131 + xs.x * 31 + ys.y * 17) & 255 AS BIGINT) AS v
        |  FROM documents d
        |  CROSS JOIN (SELECT unnest(generate_series(0, 15)) AS x) xs
        |  CROSS JOIN (SELECT unnest(generate_series(0, 15)) AS y) ys
        |), lum AS (
        |  SELECT id, x, y,
        |         (299 * v + 587 * ((v * 7) & 255) + 114 * ((v * 13) & 255)) // 1000 AS l
        |  FROM px
        |), grid AS (
        |  SELECT id, y // 2 AS gy, x // 2 AS gx,
        |         CAST(sum(l) AS BIGINT) // 4 AS g
        |  FROM lum GROUP BY 1, 2, 3
        |), bits AS (
        |  SELECT a.id, a.gy AS r, a.gx AS c
        |  FROM grid a JOIN grid b ON a.id = b.id AND a.gy = b.gy AND b.gx = a.gx + 1
        |  WHERE a.g < b.g
        |), hashes AS (
        |  SELECT d.doc_id AS id,
        |         coalesce(CAST(sum(1::BIGINT << CAST(r * 7 + c AS INTEGER)) AS BIGINT), 0) AS h
        |  FROM documents d LEFT JOIN bits ON bits.id = d.doc_id
        |  GROUP BY 1
        |)
        |SELECT a.id AS idA, b.id AS idB,
        |       CAST(bit_count(xor(a.h, b.h)) AS INTEGER) AS hamming
        |FROM hashes a JOIN hashes b ON a.id < b.id
        |WHERE bit_count(xor(a.h, b.h)) <= 3""".stripMargin,
    // expected eTLD+1 derived closed-form from the URL generator — the
    // parse_url-based extraction is checked against intent
    "q153_domain_stats" ->
      """WITH d AS (
        |  SELECT doc_id, n_chars,
        |         'site' || CAST(doc_id % 40 AS VARCHAR) || '.' ||
        |         CASE CAST(doc_id % 5 AS INTEGER)
        |           WHEN 0 THEN 'com' WHEN 1 THEN 'co.uk' WHEN 2 THEN 'github.io'
        |           WHEN 3 THEN 'org' ELSE 'com.au' END AS domain
        |  FROM documents)
        |SELECT domain, count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS sum_chars
        |FROM d
        |WHERE domain NOT IN ('site3.com', 'site11.co.uk')
        |GROUP BY 1""".stripMargin,
    // q110's BM25 replay at k=50, then the dense rerank: exact cosine
    // to vec 0, rounded before ranking, id tiebreak
    "q154_hybrid_rerank" ->
      """WITH d AS (
        |  SELECT doc_id, string_split(text, ' ') AS ws,
        |         CAST(len(string_split(text, ' ')) AS DOUBLE) AS dl
        |  FROM documents WHERE doc_id >= 1),
        |s AS (SELECT CAST(count(*) AS DOUBLE) AS n, avg(dl) AS avgdl FROM d),
        |f AS (SELECT
        |        CAST((SELECT count(*) FROM d WHERE list_contains(ws, 'merge')) AS DOUBLE) AS df_merge,
        |        CAST((SELECT count(*) FROM d WHERE list_contains(ws, 'spark')) AS DOUBLE) AS df_spark,
        |        CAST((SELECT count(*) FROM d WHERE list_contains(ws, 'window')) AS DOUBLE) AS df_window),
        |scored AS (
        |  SELECT doc_id,
        |    ln((s.n - f.df_merge + 0.5) / (f.df_merge + 0.5) + 1.0) *
        |      (CAST(len(list_filter(ws, w -> w = 'merge')) AS DOUBLE) * (1.2 + 1.0)) /
        |      (CAST(len(list_filter(ws, w -> w = 'merge')) AS DOUBLE) + 1.2 * ((1.0 - 0.75) + 0.75 * dl / s.avgdl)) +
        |    ln((s.n - f.df_spark + 0.5) / (f.df_spark + 0.5) + 1.0) *
        |      (CAST(len(list_filter(ws, w -> w = 'spark')) AS DOUBLE) * (1.2 + 1.0)) /
        |      (CAST(len(list_filter(ws, w -> w = 'spark')) AS DOUBLE) + 1.2 * ((1.0 - 0.75) + 0.75 * dl / s.avgdl)) +
        |    ln((s.n - f.df_window + 0.5) / (f.df_window + 0.5) + 1.0) *
        |      (CAST(len(list_filter(ws, w -> w = 'window')) AS DOUBLE) * (1.2 + 1.0)) /
        |      (CAST(len(list_filter(ws, w -> w = 'window')) AS DOUBLE) + 1.2 * ((1.0 - 0.75) + 0.75 * dl / s.avgdl)) AS sc
        |  FROM d, s, f),
        |cand AS (
        |  SELECT doc_id, round(sc, 6) AS bm25 FROM scored
        |  ORDER BY sc DESC, doc_id ASC LIMIT 50),
        |q AS (SELECT embedding FROM embeddings WHERE vec_id = 0),
        |rr AS (
        |  SELECT c.doc_id, c.bm25,
        |         round(list_cosine_similarity(e.embedding::DOUBLE[], q.embedding::DOUBLE[]), 6) AS sim
        |  FROM cand c JOIN embeddings e ON e.vec_id = c.doc_id CROSS JOIN q
        |  WHERE e.vec_id >= 1)
        |SELECT doc_id, bm25, sim,
        |       CAST(row_number() OVER (ORDER BY sim DESC, doc_id ASC) AS BIGINT) AS rank
        |FROM rr ORDER BY sim DESC, doc_id ASC LIMIT 10""".stripMargin,
    // q152's hash pipeline + the incremental gate: keep pairs with >= 1
    // odd (batch) endpoint — store-internal pairs never re-emit
    "q155_incremental_image_dedup" ->
      """WITH px AS (
        |  SELECT d.doc_id AS id, xs.x, ys.y,
        |         CAST((d.doc_id * 131 + xs.x * 31 + ys.y * 17) & 255 AS BIGINT) AS v
        |  FROM documents d
        |  CROSS JOIN (SELECT unnest(generate_series(0, 15)) AS x) xs
        |  CROSS JOIN (SELECT unnest(generate_series(0, 15)) AS y) ys
        |), lum AS (
        |  SELECT id, x, y,
        |         (299 * v + 587 * ((v * 7) & 255) + 114 * ((v * 13) & 255)) // 1000 AS l
        |  FROM px
        |), grid AS (
        |  SELECT id, y // 2 AS gy, x // 2 AS gx,
        |         CAST(sum(l) AS BIGINT) // 4 AS g
        |  FROM lum GROUP BY 1, 2, 3
        |), bits AS (
        |  SELECT a.id, a.gy AS r, a.gx AS c
        |  FROM grid a JOIN grid b ON a.id = b.id AND a.gy = b.gy AND b.gx = a.gx + 1
        |  WHERE a.g < b.g
        |), hashes AS (
        |  SELECT d.doc_id AS id,
        |         coalesce(CAST(sum(1::BIGINT << CAST(r * 7 + c AS INTEGER)) AS BIGINT), 0) AS h
        |  FROM documents d LEFT JOIN bits ON bits.id = d.doc_id
        |  GROUP BY 1
        |)
        |SELECT a.id AS idA, b.id AS idB,
        |       CAST(bit_count(xor(a.h, b.h)) AS INTEGER) AS hamming
        |FROM hashes a JOIN hashes b ON a.id < b.id
        |WHERE bit_count(xor(a.h, b.h)) <= 3
        |  AND (a.id % 2 = 1 OR b.id % 2 = 1)""".stripMargin,
    // q151's first-occurrence table bucketed by exact integer division;
    // running sum over the 10-row curve
    "q156_vocab_growth" ->
      """WITH sh AS (
        |  SELECT doc_id, unnest(list_distinct(list_transform(
        |           generate_series(1, greatest(len(ws) - 2, 0)),
        |           i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]))) AS s
        |  FROM (SELECT doc_id, string_split(text, ' ') AS ws FROM documents)
        |), fs AS (SELECT s, min(doc_id) AS first_id FROM sh GROUP BY 1),
        |rng AS (SELECT min(doc_id) AS lo, max(doc_id) AS hi FROM documents),
        |pb AS (
        |  SELECT least(9, ((first_id - rng.lo) * 10) // (rng.hi - rng.lo + 1)) AS bucket,
        |         count(*) AS n_new
        |  FROM fs, rng GROUP BY 1)
        |SELECT b.bucket, coalesce(pb.n_new, 0) AS n_new,
        |       CAST(sum(coalesce(pb.n_new, 0))
        |              OVER (ORDER BY b.bucket ROWS UNBOUNDED PRECEDING) AS BIGINT) AS vocab_size
        |FROM (SELECT CAST(unnest(generate_series(0, 9)) AS BIGINT) AS bucket) b
        |LEFT JOIN pb ON pb.bucket = b.bucket""".stripMargin,
    // the WAV generator's sample formula replayed: 57 segment means by
    // truncating division, gradient-sign bits, 56-bit hash
    "q157_audio_fingerprint" ->
      """WITH f AS (
        |  SELECT d.doc_id AS id, fs.f,
        |         (d.doc_id * 131 + fs.f * 17) % 32768 - 16384 AS v
        |  FROM documents d
        |  CROSS JOIN (SELECT unnest(generate_series(0, 569)) AS f) fs
        |), seg AS (
        |  SELECT id, f // 10 AS s, CAST(sum(v) AS BIGINT) // 10 AS m
        |  FROM f GROUP BY 1, 2
        |), bits AS (
        |  SELECT a.id, a.s
        |  FROM seg a JOIN seg b ON a.id = b.id AND b.s = a.s + 1
        |  WHERE a.m < b.m
        |)
        |SELECT d.doc_id AS media_id,
        |       coalesce(CAST(sum(1::BIGINT << CAST(s AS INTEGER)) AS BIGINT), 0) AS ahash
        |FROM documents d LEFT JOIN bits ON bits.id = d.doc_id
        |GROUP BY 1""".stripMargin,
    // restored head == the good v1 slice; v2 still time-travels (good +
    // bad rows); restore appends a version (3 total), rewrites nothing
    "q158_manifest_restore" ->
      """WITH good AS (SELECT * FROM orders WHERE o_orderkey % 3 = 0),
        |bad AS (SELECT -o_orderkey AS o_orderkey FROM orders WHERE o_orderkey % 5 = 0)
        |SELECT (SELECT count(*) FROM good) AS n_rows,
        |       (SELECT CAST(sum(o_orderkey) AS BIGINT) FROM good) AS key_sum,
        |       (SELECT count(*) FROM good) + (SELECT count(*) FROM bad) AS n_rows_v2,
        |       CAST(3 AS BIGINT) AS n_versions""".stripMargin,
    // the q142 hash/bucket pipeline feeds a 3-epoch least-squares GD
    // replay: exact-decimal feature/gradient sums, 6-dp-rounded scalar
    // updates — the full weight trajectory must match bit-for-bit
    "q159_train_linear_probe" ->
      """WITH h AS (
        |  SELECT doc_id, list_transform(string_split(text, ' '), t ->
        |           list_reduce(
        |             list_prepend(CAST(0 AS BIGINT),
        |               list_transform(string_split(t, ''), c -> CAST(ascii(c) AS BIGINT))),
        |             (a, x) -> (a * 131 + x) % 281474976710656)) AS hs
        |  FROM documents),
        |f AS (
        |  SELECT doc_id AS id, hv % 64 AS bucket,
        |         CAST(count(*) AS DECIMAL(12,0)) AS x
        |  FROM (SELECT doc_id, unnest(hs) AS hv FROM h)
        |  GROUP BY 1, 2),
        |lab AS (
        |  SELECT id, CASE WHEN sum(CAST(x AS BIGINT) * ((bucket * 2654435761) % 1997 - 998)) > 0
        |                  THEN CAST(1 AS DECIMAL(12,6)) ELSE CAST(0 AS DECIMAL(12,6)) END AS y
        |  FROM f GROUP BY 1),
        |nn AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM lab),
        |ax AS (SELECT CAST(unnest(generate_series(0, 63)) AS BIGINT) AS bucket),
        |g1 AS (
        |  SELECT f.bucket, CAST(sum(CAST(0 - lab.y AS DECIMAL(18,6)) * f.x) AS DECIMAL(38,6)) AS gs
        |  FROM f JOIN lab ON lab.id = f.id GROUP BY 1),
        |w1 AS (
        |  SELECT ax.bucket,
        |         round(0 - 0.0001 * round(CAST(coalesce(g1.gs, 0) AS DOUBLE) / nn.n, 6), 6) AS w
        |  FROM ax LEFT JOIN g1 ON g1.bucket = ax.bucket, nn),
        |r2 AS (
        |  SELECT lab.id, CAST(p.pred - lab.y AS DECIMAL(18,6)) AS r
        |  FROM (SELECT f.id, sum(f.x * CAST(w1.w AS DECIMAL(18,6))) AS pred
        |        FROM f JOIN w1 ON w1.bucket = f.bucket GROUP BY 1) p
        |  JOIN lab ON lab.id = p.id),
        |g2 AS MATERIALIZED (
        |  SELECT f.bucket, CAST(sum(r2.r * f.x) AS DECIMAL(38,6)) AS gs
        |  FROM f JOIN r2 ON r2.id = f.id GROUP BY 1),
        |w2 AS (
        |  SELECT w1.bucket,
        |         round(w1.w - 0.0001 * round(CAST(coalesce(g2.gs, 0) AS DOUBLE) / nn.n, 6), 6) AS w
        |  FROM w1 LEFT JOIN g2 ON g2.bucket = w1.bucket, nn),
        |r3 AS (
        |  SELECT lab.id, CAST(p.pred - lab.y AS DECIMAL(18,6)) AS r
        |  FROM (SELECT f.id, sum(f.x * CAST(w2.w AS DECIMAL(18,6))) AS pred
        |        FROM f JOIN w2 ON w2.bucket = f.bucket GROUP BY 1) p
        |  JOIN lab ON lab.id = p.id),
        |g3 AS (
        |  SELECT f.bucket, CAST(sum(r3.r * f.x) AS DECIMAL(38,6)) AS gs
        |  FROM f JOIN r3 ON r3.id = f.id GROUP BY 1),
        |w3 AS (
        |  SELECT w2.bucket,
        |         round(w2.w - 0.0001 * round(CAST(coalesce(g3.gs, 0) AS DOUBLE) / nn.n, 6), 6) AS w
        |  FROM w2 LEFT JOIN g3 ON g3.bucket = w2.bucket, nn)
        |SELECT CAST(1 AS INTEGER) AS iter, bucket, w FROM w1
        |UNION ALL SELECT 2, bucket, w FROM w2
        |UNION ALL SELECT 3, bucket, w FROM w3""".stripMargin,
    // per-group counts + the portable-uniform fold over salt|group key,
    // inverse-CDF Laplace noise, 6-dp round + clamp-at-0 post-processing
    "q160_dp_histogram" ->
      """WITH g AS (
        |  SELECT o_orderpriority AS priority,
        |         CAST(year(o_orderdate) AS BIGINT) AS yr, count(*) AS n
        |  FROM orders GROUP BY 1, 2),
        |k AS (
        |  SELECT priority, yr, n,
        |         (((list_reduce(list_prepend(CAST(0 AS BIGINT),
        |              list_transform(string_split(
        |                'rel2026|' || CAST(length(priority) AS VARCHAR) || ':' || priority
        |                  || '|' || CAST(length(CAST(yr AS VARCHAR)) AS VARCHAR) || ':'
        |                  || CAST(yr AS VARCHAR), ''),
        |                c -> CAST(ascii(c) AS BIGINT))),
        |              (a, x) -> (a * 131 + x) % 281474976710656)
        |            % 2147483647) * 1103515245 + 12345) % 2147483647 + 0.5)
        |          / 2147483647.0 AS u
        |  FROM g)
        |SELECT priority, yr,
        |       greatest(0.0, round(n +
        |         (CASE WHEN u - 0.5 >= 0 THEN -1.0 ELSE 1.0 END / 1.0)
        |           * ln(1.0 - 2.0 * abs(u - 0.5)), 6)) AS n_noisy
        |FROM k""".stripMargin,
    // the same event-diff sweep: +1/-1 deltas netted per (key, ts),
    // per-key running sum, per-key max
    "q161_peak_concurrency" ->
      """WITH d AS (
        |  SELECT o_orderpriority AS priority, o_orderdate AS ts, 1 AS dd
        |  FROM orders
        |  UNION ALL
        |  SELECT o_orderpriority,
        |         o_orderdate + INTERVAL 1 DAY * (o_orderkey % 30 + 1), -1
        |  FROM orders),
        |a AS (SELECT priority, ts, CAST(sum(dd) AS BIGINT) AS step
        |      FROM d GROUP BY 1, 2),
        |r AS (SELECT priority,
        |             sum(step) OVER (PARTITION BY priority ORDER BY ts
        |                             ROWS UNBOUNDED PRECEDING) AS open
        |      FROM a)
        |SELECT priority, CAST(max(open) AS BIGINT) AS peak
        |FROM r GROUP BY 1""".stripMargin,
    // open/close picked by row_number over the same unique (ts, id)
    // order key; high/low/n are plain aggregates
    "q162_ohlc_resample" ->
      """WITH b AS (
        |  SELECT event_type, date_trunc('hour', ts) AS bucket,
        |         ts, event_id, value
        |  FROM events),
        |w AS (
        |  SELECT *,
        |         row_number() OVER (PARTITION BY event_type, bucket
        |                            ORDER BY ts, event_id) AS rn_a,
        |         row_number() OVER (PARTITION BY event_type, bucket
        |                            ORDER BY ts DESC, event_id DESC) AS rn_d
        |  FROM b)
        |SELECT event_type, bucket,
        |       max(CASE WHEN rn_a = 1 THEN value END) AS open,
        |       max(value) AS high, min(value) AS low,
        |       max(CASE WHEN rn_d = 1 THEN value END) AS close,
        |       count(*) AS n
        |FROM w GROUP BY 1, 2""".stripMargin,
    // quantile_cont == Spark percentile (q39); clamp against the 6-dp
    // rounded bounds; means through the VARCHAR->DECIMAL exact-sum route
    "q163_winsorized_stats" ->
      """WITH b AS (
        |  SELECT o_orderpriority AS priority,
        |         round(quantile_cont(o_totalprice, 0.05), 6) AS p_lo,
        |         round(quantile_cont(o_totalprice, 0.95), 6) AS p_hi,
        |         round(quantile_cont(o_totalprice, 0.5), 6) AS med
        |  FROM orders GROUP BY 1),
        |j AS (
        |  SELECT o.o_orderpriority AS priority, o.o_totalprice AS x,
        |         b.p_lo, b.p_hi, b.med
        |  FROM orders o JOIN b ON b.priority = o.o_orderpriority)
        |SELECT priority, count(*) AS n,
        |       min(p_lo) AS p_lo, min(p_hi) AS p_hi, min(med) AS med,
        |       round(quantile_cont(abs(x - med), 0.5), 6) AS mad,
        |       round(CAST(CAST(sum(CAST(CAST(round(x, 2) AS VARCHAR)
        |                 AS DECIMAL(18,6))) AS DECIMAL(38,6)) AS DOUBLE)
        |             / CAST(count(*) AS DOUBLE), 6) AS mean_raw,
        |       round(CAST(CAST(sum(CAST(CAST(round(least(greatest(x, p_lo), p_hi), 2)
        |                 AS VARCHAR) AS DECIMAL(18,6))) AS DECIMAL(38,6)) AS DOUBLE)
        |             / CAST(count(*) AS DOUBLE), 6) AS mean_wins
        |FROM j GROUP BY 1""".stripMargin,
    // layout maintenance is answer-invisible: the oracle is the plain
    // box aggregate over the raw table (q63's discipline); version
    // count pins that OPTIMIZE committed instead of rewriting history
    "q164_manifest_zorder" ->
      """SELECT count(*) AS n_rows,
        |       CAST(sum(l_partkey) AS BIGINT) AS key_sum,
        |       round(CAST(CAST(sum(CAST(CAST(l_extendedprice AS VARCHAR)
        |                 AS DECIMAL(18,6))) AS DECIMAL(38,6)) AS DOUBLE), 6) AS revenue,
        |       CAST(2 AS BIGINT) AS n_versions
        |FROM lineitem
        |WHERE l_partkey BETWEEN 1 AND 50 AND l_suppkey BETWEEN 1 AND 5""".stripMargin,
    // same superset-scan contract, Hilbert curve
    "q164c_hilbert_manifest" ->
      """SELECT count(*) AS n_rows,
        |       CAST(sum(l_partkey) AS BIGINT) AS key_sum,
        |       round(CAST(CAST(sum(CAST(CAST(l_extendedprice AS VARCHAR)
        |                 AS DECIMAL(18,6))) AS DECIMAL(38,6)) AS DOUBLE), 6) AS revenue,
        |       CAST(2 AS BIGINT) AS n_versions
        |FROM lineitem
        |WHERE l_partkey BETWEEN 1 AND 100 AND l_suppkey BETWEEN 1 AND 5
        |  AND l_orderkey BETWEEN 1 AND 30000""".stripMargin,
    // 3-dim z-order + box scan: pruning is a superset, the exact triple
    // predicate reproduces the plain filtered aggregate
    "q164b_zorder_3d" ->
      """SELECT count(*) AS n_rows,
        |       CAST(sum(l_partkey) AS BIGINT) AS key_sum,
        |       round(CAST(CAST(sum(CAST(CAST(l_extendedprice AS VARCHAR)
        |                 AS DECIMAL(18,6))) AS DECIMAL(38,6)) AS DOUBLE), 6) AS revenue,
        |       CAST(2 AS BIGINT) AS n_versions
        |FROM lineitem
        |WHERE l_partkey BETWEEN 1 AND 100 AND l_suppkey BETWEEN 1 AND 5
        |  AND l_orderkey BETWEEN 1 AND 30000""".stripMargin,
    // the orientation-free formulation: canonical undirected edges,
    // 3-way join a<b<c — must enumerate exactly the operator's triples
    "q165_triangles" ->
      """WITH raw AS (
        |  SELECT doc_id % 29 AS u, doc_id // 29 AS v FROM documents),
        |e AS (
        |  SELECT DISTINCT least(u, v) AS a, greatest(u, v) AS b
        |  FROM raw WHERE u <> v)
        |SELECT e1.a AS va, e1.b AS vb, e2.b AS vc
        |FROM e e1
        |JOIN e e2 ON e2.a = e1.b
        |JOIN e e3 ON e3.a = e1.a AND e3.b = e2.b""".stripMargin,
    // three BPE iterations replayed end to end (see bpeIter scaladoc)
    "q166_bpe_merges" -> bpeOracle,
    // the same three iterations, then token frequencies from the final
    // symbol table — the tokenizer-apply readout
    "q167_bpe_tokenize" -> bpeTokenizeOracle,
    // farthest-first replay: seed = min id; each round the argmin of the
    // 6-dp-rounded max cosine to the chosen set, ties by id
    "q168_k_centers" ->
      """WITH c1 AS (SELECT vec_id, embedding FROM embeddings ORDER BY vec_id ASC LIMIT 1),
        |d1 AS (
        |  SELECT e.vec_id,
        |         round(list_cosine_similarity(e.embedding::DOUBLE[], c1.embedding::DOUBLE[]), 6) AS ms
        |  FROM embeddings e, c1 WHERE e.vec_id <> c1.vec_id),
        |c2 AS (SELECT vec_id, ms FROM d1 ORDER BY ms ASC, vec_id ASC LIMIT 1),
        |v2 AS (SELECT e.embedding FROM embeddings e JOIN c2 ON c2.vec_id = e.vec_id),
        |d2 AS (
        |  SELECT d1.vec_id,
        |         greatest(d1.ms,
        |           round(list_cosine_similarity(e.embedding::DOUBLE[], v2.embedding::DOUBLE[]), 6)) AS ms
        |  FROM d1 JOIN embeddings e ON e.vec_id = d1.vec_id CROSS JOIN v2
        |  WHERE d1.vec_id NOT IN (SELECT vec_id FROM c2)),
        |c3 AS (SELECT vec_id, ms FROM d2 ORDER BY ms ASC, vec_id ASC LIMIT 1),
        |v3 AS (SELECT e.embedding FROM embeddings e JOIN c3 ON c3.vec_id = e.vec_id),
        |d3 AS (
        |  SELECT d2.vec_id,
        |         greatest(d2.ms,
        |           round(list_cosine_similarity(e.embedding::DOUBLE[], v3.embedding::DOUBLE[]), 6)) AS ms
        |  FROM d2 JOIN embeddings e ON e.vec_id = d2.vec_id CROSS JOIN v3
        |  WHERE d2.vec_id NOT IN (SELECT vec_id FROM c3)),
        |c4 AS (SELECT vec_id, ms FROM d3 ORDER BY ms ASC, vec_id ASC LIMIT 1)
        |SELECT CAST(1 AS INTEGER) AS "rank", (SELECT vec_id FROM c1) AS vec_id,
        |       CAST(NULL AS DOUBLE) AS max_sim
        |UNION ALL SELECT 2, vec_id, ms FROM c2
        |UNION ALL SELECT 3, vec_id, ms FROM c3
        |UNION ALL SELECT 4, vec_id, ms FROM c4""".stripMargin,
    // three power-iteration steps replayed (see powIter scaladoc);
    // lambda = the final iterate's growth factor, rounded like the
    // operator's driver-side update
    "q169_power_iteration" ->
      s"""WITH vt0 AS (
         |  SELECT CAST(t.i AS BIGINT) AS j,
         |         CASE WHEN t.i = 1 THEN CAST(1.0 AS DOUBLE) ELSE 0.0 END AS v
         |  FROM unnest(generate_series(1, 64)) AS t(i)),
         |${powIter(1)},
         |${powIter(2)},
         |${powIter(3)}
         |SELECT vt3.j, vt3.v, (SELECT round(nrm, 6) FROM n3) AS lambda
         |FROM vt3""".stripMargin,
    // linear credit replay: same 7-day window join, same per-purchase
    // count, same round(1/n, 6) decimal sums; no-click purchases -> -1
    "q170_multi_touch" ->
      """WITH p AS (
        |  SELECT event_id AS pid, user_id, ts AS pts
        |  FROM events WHERE event_type = 'purchase'),
        |c AS (
        |  SELECT user_id, ts AS cts,
        |         CAST(json_extract_string(props, '$.k') AS BIGINT) % 4 AS channel
        |  FROM events WHERE event_type = 'click'),
        |j AS (
        |  SELECT p.pid, c.cts, c.channel
        |  FROM p LEFT JOIN c ON c.user_id = p.user_id
        |    AND c.cts <= p.pts AND c.cts >= p.pts - INTERVAL 7 DAY),
        |w AS (
        |  SELECT pid, channel, cts,
        |         count(cts) OVER (PARTITION BY pid) AS n
        |  FROM j)
        |SELECT CASE WHEN n = 0 THEN -1 ELSE channel END AS channel,
        |       round(CAST(CAST(sum(CAST(CASE WHEN n = 0 THEN 1.0
        |                 ELSE round(CAST(1.0 AS DOUBLE) / n, 6) END
        |               AS DECIMAL(18,6))) AS DECIMAL(38,6)) AS DOUBLE), 6) AS conversions,
        |       count(*) AS n_touches
        |FROM w GROUP BY 1""".stripMargin,
    // q165's edge generator + the orientation-free triangle join, then
    // per-vertex triangle counts over degrees
    "q171_clustering_coeff" ->
      """WITH raw AS (
        |  SELECT doc_id % 29 AS u, doc_id // 29 AS v FROM documents),
        |e AS (
        |  SELECT DISTINCT least(u, v) AS a, greatest(u, v) AS b
        |  FROM raw WHERE u <> v),
        |deg AS (
        |  SELECT v, count(*) AS d
        |  FROM (SELECT a AS v FROM e UNION ALL SELECT b FROM e) GROUP BY 1),
        |tri AS (
        |  SELECT e1.a AS x, e1.b AS y, e2.b AS z
        |  FROM e e1 JOIN e e2 ON e2.a = e1.b
        |  JOIN e e3 ON e3.a = e1.a AND e3.b = e2.b),
        |tc AS (
        |  SELECT v, count(*) AS t
        |  FROM (SELECT x AS v FROM tri UNION ALL SELECT y FROM tri
        |        UNION ALL SELECT z FROM tri) GROUP BY 1)
        |SELECT deg.v, deg.d, coalesce(tc.t, 0) AS t,
        |       CASE WHEN deg.d < 2 THEN CAST(0.0 AS DOUBLE)
        |            ELSE round(CAST(2.0 AS DOUBLE) * coalesce(tc.t, 0)
        |                       / (deg.d * (deg.d - 1)), 6) END AS cc
        |FROM deg LEFT JOIN tc ON tc.v = deg.v""".stripMargin,
    // per-rank graded gains, decimal sums, corpus-wide ideal prefix
    "q172_ndcg_eval" ->
      """WITH ranked AS (
        |  SELECT doc_id, row_number() OVER (ORDER BY n_chars DESC, doc_id ASC) AS rank
        |  FROM documents ORDER BY n_chars DESC, doc_id ASC LIMIT 10),
        |rels AS (SELECT doc_id, doc_id % 4 AS rel FROM documents),
        |terms AS (
        |  SELECT round((pow(2.0, CAST(coalesce(r.rel, 0) AS DOUBLE)) - 1.0)
        |               / (ln(CAST(rank AS DOUBLE) + 1.0) / ln(2)), 6) AS t
        |  FROM ranked LEFT JOIN rels r USING (doc_id)),
        |dcg AS (SELECT CAST(sum(CAST(t AS DECIMAL(18,6))) AS DECIMAL(38,6)) AS d FROM terms),
        |ideal AS (
        |  SELECT rel, row_number() OVER (ORDER BY rel DESC, doc_id ASC) AS rank
        |  FROM rels ORDER BY rel DESC, doc_id ASC LIMIT 10),
        |iterms AS (
        |  SELECT round((pow(2.0, CAST(rel AS DOUBLE)) - 1.0)
        |               / (ln(CAST(rank AS DOUBLE) + 1.0) / ln(2)), 6) AS t
        |  FROM ideal),
        |idcg AS (SELECT CAST(sum(CAST(t AS DECIMAL(18,6))) AS DECIMAL(38,6)) AS i FROM iterms)
        |SELECT round(CAST(d AS DOUBLE), 6) AS dcg,
        |       round(CAST(i AS DOUBLE), 6) AS idcg,
        |       round(CAST(d AS DOUBLE) / CAST(i AS DOUBLE), 6) AS ndcg
        |FROM dcg, idcg""".stripMargin,
    // exact all-pairs cosine, per-anchor top-5 by (sim DESC, id ASC),
    // same-label fraction
    "q173_label_agreement" ->
      """WITH s AS (
        |  SELECT a.vec_id AS id, a.label, b.vec_id AS nid, b.label AS nlabel,
        |         round(list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]), 6) AS sim
        |  FROM embeddings a CROSS JOIN embeddings b WHERE a.vec_id <> b.vec_id),
        |w AS (
        |  SELECT *, row_number() OVER (PARTITION BY id ORDER BY sim DESC, nid ASC) AS rn
        |  FROM s)
        |SELECT id, label,
        |       CAST(sum(CASE WHEN nlabel = label THEN 1 ELSE 0 END) AS BIGINT) AS n_same,
        |       round(CAST(sum(CASE WHEN nlabel = label THEN 1 ELSE 0 END) AS DOUBLE)
        |             / count(*), 6) AS agreement
        |FROM w WHERE rn <= 5 GROUP BY 1, 2""".stripMargin,
    // q142's score pipeline -> unique integer order key -> plain ntile
    // (the q94 bit-equality with distributedNtile) -> per-decile stats
    "q174_probe_calibration" ->
      """WITH h AS (
        |  SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
        |         list_transform(string_split(text, ' '), t ->
        |           list_reduce(
        |             list_prepend(CAST(0 AS BIGINT),
        |               list_transform(string_split(t, ''), c -> CAST(ascii(c) AS BIGINT))),
        |             (a, x) -> (a * 131 + x) % 281474976710656)) AS hs
        |  FROM documents),
        |s AS (SELECT doc_id, n_tokens,
        |        CAST(coalesce(list_sum(list_transform(hs, hv ->
        |          ((hv % 64) * 2654435761) % 1997 - 998)), 0) AS BIGINT) AS score_int
        |      FROM h),
        |sc AS (
        |  SELECT doc_id,
        |         round(CAST(score_int AS DOUBLE) / CAST(n_tokens * 1000 AS DOUBLE), 6) AS score,
        |         (score_int > 0) AS label
        |  FROM s WHERE n_tokens > 0),
        |kk AS (
        |  SELECT *, CAST(round(score * 1000000) AS BIGINT) * 10000000000 + doc_id AS key
        |  FROM sc),
        |nt AS (SELECT *, ntile(10) OVER (ORDER BY key) AS ntile FROM kk)
        |SELECT ntile, count(*) AS n,
        |       round(CAST(CAST(sum(CAST(score AS DECIMAL(18,6))) AS DECIMAL(38,6)) AS DOUBLE)
        |             / CAST(count(*) AS DOUBLE), 6) AS mean_score,
        |       round(CAST(sum(CASE WHEN label THEN 1 ELSE 0 END) AS DOUBLE)
        |             / CAST(count(*) AS DOUBLE), 6) AS frac_pos
        |FROM nt GROUP BY 1""".stripMargin,
    // the v1->v2 derivation is closed-form in the key, so every diff
    // bucket is a direct count; removed⊂v1, changed excludes removed
    "q175_manifest_diff" ->
      """SELECT 'added' AS diff_status, count(*) AS n FROM orders
        |WHERE o_orderkey % 5 = 1 AND o_orderkey % 3 <> 0
        |UNION ALL
        |SELECT 'removed', count(*) FROM orders WHERE o_orderkey % 15 = 0
        |UNION ALL
        |SELECT 'changed', count(*) FROM orders
        |WHERE o_orderkey % 6 = 0 AND o_orderkey % 15 <> 0
        |UNION ALL
        |SELECT 'unchanged', count(*) FROM orders
        |WHERE o_orderkey % 3 = 0 AND o_orderkey % 15 <> 0 AND o_orderkey % 6 <> 0""".stripMargin,
    // the index is answer-invisible: plain lookup over the raw table,
    // probes = the rid values of the first three (orderkey, linenumber)
    "q176_bloom_point_lookup" ->
      """WITH l AS (
        |  SELECT l_orderkey, l_linenumber, l_extendedprice,
        |         l_partkey * 1000003 + l_orderkey AS rid
        |  FROM lineitem),
        |probe AS (
        |  SELECT rid FROM (
        |    SELECT rid, row_number() OVER (ORDER BY l_orderkey, l_linenumber) AS rn
        |    FROM l)
        |  WHERE rn <= 3)
        |SELECT count(*) AS n_rows,
        |       CAST(sum(rid) AS BIGINT) AS rid_sum,
        |       round(CAST(CAST(sum(CAST(CAST(l_extendedprice AS VARCHAR)
        |                 AS DECIMAL(18,6))) AS DECIMAL(38,6)) AS DOUBLE), 6) AS revenue
        |FROM l WHERE rid IN (SELECT rid FROM probe)""".stripMargin,
    // the same five exact moments, the same three rounded divisions;
    // intercept uses the ROUNDED slope (self-consistent published pair)
    "q177_trend_ols" ->
      """WITH base AS (
        |  SELECT o_orderpriority AS priority,
        |         CAST(datediff('day', DATE '1992-01-01', o_orderdate) AS BIGINT) AS x,
        |         CAST(CAST(o_totalprice AS VARCHAR) AS DECIMAL(18,6)) AS y
        |  FROM orders),
        |m AS (
        |  SELECT priority, count(*) AS n,
        |         CAST(sum(x) AS BIGINT) AS sx,
        |         CAST(sum(y) AS DECIMAL(38,6)) AS sy,
        |         CAST(sum(CAST(y AS DECIMAL(28,6)) * x) AS DECIMAL(38,6)) AS sxy,
        |         CAST(sum(x * x) AS BIGINT) AS sxx,
        |         CAST(sum(CAST(y AS DECIMAL(28,6)) * y) AS DECIMAL(38,12)) AS syy
        |  FROM base GROUP BY 1),
        |d AS (
        |  SELECT priority, n,
        |         CAST(CAST(n AS DECIMAL(10,0)) * CAST(sxy AS DECIMAL(28,6))
        |              - CAST(sx AS DECIMAL(10,0)) * CAST(sy AS DECIMAL(28,6))
        |              AS DECIMAL(38,6)) AS num,
        |         n * sxx - sx * sx AS denx,
        |         CAST(CAST(n AS DECIMAL(10,0)) * CAST(syy AS DECIMAL(28,12))
        |              - CAST(sy AS DECIMAL(19,6)) * CAST(sy AS DECIMAL(19,6))
        |              AS DECIMAL(38,12)) AS deny,
        |         sx, sy
        |  FROM m),
        |s AS (
        |  SELECT priority, n, num, denx, deny, sx, sy,
        |         CASE WHEN denx <> 0
        |              THEN round(CAST(num AS DOUBLE) / CAST(denx AS DOUBLE), 6)
        |         END AS slope
        |  FROM d)
        |SELECT priority, n, slope,
        |       CASE WHEN slope IS NOT NULL
        |            THEN round((CAST(sy AS DOUBLE) - slope * CAST(sx AS DOUBLE))
        |                       / CAST(n AS DOUBLE), 6)
        |       END AS intercept,
        |       CASE WHEN denx <> 0 AND deny <> 0
        |            THEN round(CAST(num AS DOUBLE) * CAST(num AS DOUBLE)
        |                       / (CAST(denx AS DOUBLE) * CAST(deny AS DOUBLE)), 6)
        |       END AS r2
        |FROM s""".stripMargin,
    // brute-force all-pairs replay on the same closed-form points —
    // the 9-cell candidate join must reproduce it exactly
    "q178_spatial_pairs" ->
      """WITH p AS (
        |  SELECT doc_id AS pid, (doc_id * 7919) % 1000 AS x,
        |         (doc_id * 104729) % 1000 AS y
        |  FROM documents)
        |SELECT a.pid AS idA, b.pid AS idB,
        |       (a.x - b.x) * (a.x - b.x) + (a.y - b.y) * (a.y - b.y) AS dist2
        |FROM p a JOIN p b ON a.pid < b.pid
        |WHERE (a.x - b.x) * (a.x - b.x) + (a.y - b.y) * (a.y - b.y) <= 625""".stripMargin,
    // the fit computed FROM SCRATCH over all events — equality with the
    // merged per-slice moments IS the additivity theorem (q177 chains)
    "q179_incremental_trend" ->
      """WITH base AS (
        |  SELECT event_type,
        |         CAST(datediff('day', DATE '2024-01-01', ts) AS BIGINT) AS x,
        |         CAST(CAST(value AS VARCHAR) AS DECIMAL(18,6)) AS y
        |  FROM events),
        |m AS (
        |  SELECT event_type, count(*) AS n,
        |         CAST(sum(x) AS BIGINT) AS sx,
        |         CAST(sum(y) AS DECIMAL(38,6)) AS sy,
        |         CAST(sum(CAST(y AS DECIMAL(28,6)) * x) AS DECIMAL(38,6)) AS sxy,
        |         CAST(sum(x * x) AS BIGINT) AS sxx,
        |         CAST(sum(CAST(y AS DECIMAL(28,6)) * y) AS DECIMAL(38,12)) AS syy
        |  FROM base GROUP BY 1),
        |d AS (
        |  SELECT event_type, n,
        |         CAST(CAST(n AS DECIMAL(10,0)) * CAST(sxy AS DECIMAL(28,6))
        |              - CAST(sx AS DECIMAL(10,0)) * CAST(sy AS DECIMAL(28,6))
        |              AS DECIMAL(38,6)) AS num,
        |         n * sxx - sx * sx AS denx,
        |         CAST(CAST(n AS DECIMAL(10,0)) * CAST(syy AS DECIMAL(28,12))
        |              - CAST(sy AS DECIMAL(19,6)) * CAST(sy AS DECIMAL(19,6))
        |              AS DECIMAL(38,12)) AS deny,
        |         sx, sy
        |  FROM m),
        |s AS (
        |  SELECT event_type, n, num, denx, deny, sx, sy,
        |         CASE WHEN denx <> 0
        |              THEN round(CAST(num AS DOUBLE) / CAST(denx AS DOUBLE), 6)
        |         END AS slope
        |  FROM d)
        |SELECT event_type, n, slope,
        |       CASE WHEN slope IS NOT NULL
        |            THEN round((CAST(sy AS DOUBLE) - slope * CAST(sx AS DOUBLE))
        |                       / CAST(n AS DOUBLE), 6)
        |       END AS intercept,
        |       CASE WHEN denx <> 0 AND deny <> 0
        |            THEN round(CAST(num AS DOUBLE) * CAST(num AS DOUBLE)
        |                       / (CAST(denx AS DOUBLE) * CAST(deny AS DOUBLE)), 6)
        |       END AS r2
        |FROM s""".stripMargin,
    // month-keyed decimal revenue, lag(12) on the tiny month axis, one
    // rounded growth division
    "q180_yoy_revenue" ->
      """WITH m AS (
        |  SELECT date_trunc('month', o_orderdate) AS month,
        |         CAST(sum(CAST(CAST(o_totalprice AS VARCHAR) AS DECIMAL(18,6)))
        |              AS DECIMAL(38,6)) AS rev
        |  FROM orders GROUP BY 1),
        |w AS (
        |  SELECT month, rev, lag(rev, 12) OVER (ORDER BY month) AS prev
        |  FROM m)
        |SELECT month, round(CAST(rev AS DOUBLE), 6) AS revenue,
        |       CASE WHEN prev IS NOT NULL
        |            THEN round((CAST(rev AS DOUBLE) - CAST(prev AS DOUBLE))
        |                       / CAST(prev AS DOUBLE) * 100.0, 6)
        |       END AS yoy_pct
        |FROM w""".stripMargin,
    // q142's scores + lang labels -> distinct-score midrank fold: the
    // window cumsum replay must equal the distributed prefix sum, and
    // the exact-integer U must match bit-for-bit
    "q181_roc_auc" ->
      """WITH h AS (
        |  SELECT doc_id, lang, CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
        |         list_transform(string_split(text, ' '), t ->
        |           list_reduce(
        |             list_prepend(CAST(0 AS BIGINT),
        |               list_transform(string_split(t, ''), c -> CAST(ascii(c) AS BIGINT))),
        |             (a, x) -> (a * 131 + x) % 281474976710656)) AS hs
        |  FROM documents),
        |sc AS (
        |  SELECT round(CAST(CAST(coalesce(list_sum(list_transform(hs, hv ->
        |             ((hv % 64) * 2654435761) % 1997 - 998)), 0) AS BIGINT) AS DOUBLE)
        |           / CAST(n_tokens * 1000 AS DOUBLE), 6) AS s,
        |         (lang = 'en') AS y
        |  FROM h WHERE n_tokens > 0),
        |g AS (
        |  SELECT s, count(*) AS cnt,
        |         CAST(sum(CASE WHEN y THEN 1 ELSE 0 END) AS BIGINT) AS pos
        |  FROM sc GROUP BY 1),
        |w AS (
        |  SELECT *, coalesce(CAST(sum(cnt) OVER (ORDER BY s
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS BIGINT), 0) AS cb
        |  FROM g),
        |a AS (
        |  SELECT CAST(sum(pos) AS BIGINT) AS p,
        |         CAST(sum(cnt - pos) AS BIGINT) AS n,
        |         CAST(sum(pos * (2 * cb + cnt + 1)) AS DECIMAL(38,0)) AS r2
        |  FROM w)
        |SELECT p, n,
        |       CASE WHEN p > 0 AND n > 0
        |            THEN round((CAST(r2 AS DOUBLE)
        |                        - CAST(p AS DOUBLE) * CAST(p + 1 AS DOUBLE))
        |                       / (2.0 * CAST(p AS DOUBLE) * CAST(n AS DOUBLE)), 6)
        |       END AS auc
        |FROM a""".stripMargin,
    // exact-count MI/entropy terms (one ln + one division per cell),
    // decimal sums, three divisions; NMI from the published triple
    "q182_mutual_info" ->
      """WITH cells AS (
        |  SELECT lang AS a, source AS b, count(*) AS c
        |  FROM documents GROUP BY 1, 2),
        |ma AS (SELECT a, CAST(sum(c) AS BIGINT) AS ca FROM cells GROUP BY 1),
        |mb AS (SELECT b, CAST(sum(c) AS BIGINT) AS cb FROM cells GROUP BY 1),
        |tot AS (SELECT CAST(sum(c) AS BIGINT) AS n FROM cells),
        |mi AS (
        |  SELECT CAST(sum(CAST(round(CAST(c AS DOUBLE)
        |           * ln(CAST(c * n AS DOUBLE) / CAST(ca * cb AS DOUBLE)), 6)
        |           AS DECIMAL(28,6))) AS DECIMAL(38,6)) AS minum
        |  FROM cells JOIN ma USING (a) JOIN mb USING (b), tot),
        |ha AS (
        |  SELECT CAST(sum(CAST(round(CAST(ca AS DOUBLE)
        |           * ln(CAST(ca AS DOUBLE) / CAST(n AS DOUBLE)), 6)
        |           AS DECIMAL(28,6))) AS DECIMAL(38,6)) AS hna
        |  FROM ma, tot),
        |hb AS (
        |  SELECT CAST(sum(CAST(round(CAST(cb AS DOUBLE)
        |           * ln(CAST(cb AS DOUBLE) / CAST(n AS DOUBLE)), 6)
        |           AS DECIMAL(28,6))) AS DECIMAL(38,6)) AS hnb
        |  FROM mb, tot),
        |f AS (
        |  SELECT n,
        |         round(CAST(minum AS DOUBLE) / CAST(n AS DOUBLE), 6) AS mi,
        |         round(-CAST(hna AS DOUBLE) / CAST(n AS DOUBLE), 6) AS h_a,
        |         round(-CAST(hnb AS DOUBLE) / CAST(n AS DOUBLE), 6) AS h_b
        |  FROM tot, mi, ha, hb)
        |SELECT n, mi, h_a, h_b,
        |       CASE WHEN h_a > 0 AND h_b > 0
        |            THEN round(mi / sqrt(h_a * h_b), 6) END AS nmi
        |FROM f""".stripMargin,
    // Lorenz-rank Gini over the key-count table: rank ties carry equal
    // counts, so the window replay is permutation-invariant and must
    // equal the distributed prefix sum's Σ i·c exactly
    "q183_skew_report" ->
      """WITH c AS (SELECT l_partkey AS k, count(*) AS c FROM lineitem GROUP BY 1),
        |bv AS (SELECT c, count(*) AS kc FROM c GROUP BY 1),
        |w AS (SELECT *, coalesce(CAST(sum(kc) OVER (ORDER BY c
        |         ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS BIGINT), 0) AS cb
        |      FROM bv),
        |t AS (SELECT CAST(sum(CAST(c * kc AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS tot,
        |             CAST(sum(kc) AS BIGINT) AS kk,
        |             CAST(sum(CAST(c * kc * (2 * cb + kc + 1) AS DECIMAL(38,0)))
        |                  AS DECIMAL(38,0)) AS two_sic
        |      FROM w),
        |tp AS (SELECT CAST(max(c) AS BIGINT) AS mx,
        |              (SELECT CAST(sum(c) AS BIGINT)
        |               FROM (SELECT c FROM c ORDER BY c DESC LIMIT 10)) AS t10
        |       FROM c)
        |SELECT CAST(tot AS BIGINT) AS n_rows, kk AS n_keys,
        |       round(CAST(mx AS DOUBLE) / CAST(tot AS DOUBLE), 6) AS max_share,
        |       round(CAST(t10 AS DOUBLE) / CAST(tot AS DOUBLE), 6) AS top10_share,
        |       round((CAST(two_sic AS DOUBLE)
        |              - CAST(kk + 1 AS DOUBLE) * CAST(tot AS DOUBLE))
        |             / (CAST(kk AS DOUBLE) * CAST(tot AS DOUBLE)), 6) AS gini
        |FROM t, tp""".stripMargin,
    // the same distinct-(basket,item) pairs, support band, item-count
    // joins and integer-product lift; rank (lift DESC, ia, ib) top 20
    "q184_basket_affinity" ->
      """WITH items AS (
        |  SELECT DISTINCT l_orderkey AS b, l_partkey % 50 AS i FROM lineitem),
        |n AS (SELECT count(DISTINCT b) AS n FROM items),
        |ic AS (SELECT i, count(*) AS n_i FROM items GROUP BY 1),
        |pairs AS (
        |  SELECT x.i AS ia, y.i AS ib, count(*) AS n_ab
        |  FROM items x JOIN items y ON y.b = x.b AND x.i < y.i
        |  GROUP BY 1, 2 HAVING count(*) >= 3),
        |scored AS (
        |  SELECT p.ia, p.ib, p.n_ab, a.n_i AS n_a, bb.n_i AS n_b,
        |         round(CAST(p.n_ab * n.n AS DOUBLE)
        |               / CAST(a.n_i * bb.n_i AS DOUBLE), 6) AS lift
        |  FROM pairs p
        |  JOIN ic a ON a.i = p.ia JOIN ic bb ON bb.i = p.ib, n)
        |SELECT ia, ib, n_ab, n_a, n_b, lift
        |FROM scored ORDER BY lift DESC, ia ASC, ib ASC LIMIT 20""".stripMargin,
    // plain ntile over the same unique composite keys (the q94/q174
    // bit-equality with distributedNtile), recency inverted so 5 = recent
    "q185_rfm_segments" ->
      """WITH ref AS (SELECT max(o_orderdate) AS rd FROM orders),
        |base AS (
        |  SELECT o_custkey,
        |         CAST(datediff('day', max(o_orderdate), (SELECT rd FROM ref)) AS BIGINT) AS recency,
        |         count(*) AS frequency,
        |         CAST(sum(CAST(CAST(o_totalprice AS VARCHAR) AS DECIMAL(18,6)))
        |              AS DECIMAL(38,6)) AS mon
        |  FROM orders GROUP BY 1),
        |k AS (
        |  SELECT *, -recency * 10000000 + o_custkey AS kr,
        |         frequency * 10000000 + o_custkey AS kf,
        |         CAST(mon * 100 AS BIGINT) * 10000000 + o_custkey AS km
        |  FROM base),
        |nt AS (
        |  SELECT *, CAST(ntile(5) OVER (ORDER BY kr) AS BIGINT) AS r,
        |         CAST(ntile(5) OVER (ORDER BY kf) AS BIGINT) AS f,
        |         CAST(ntile(5) OVER (ORDER BY km) AS BIGINT) AS m
        |  FROM k)
        |SELECT o_custkey, recency, frequency,
        |       round(CAST(mon AS DOUBLE), 6) AS monetary,
        |       r, f, m, r * 100 + f * 10 + m AS rfm_code
        |FROM nt""".stripMargin,
    // the evolved upsert replayed as key set algebra: base minus updated
    // keys (NULL score), re-priced updates, inserts — all closed-form
    "q186_merge_evolve" ->
      """WITH b AS (
        |  SELECT o_orderkey AS k, o_totalprice AS p FROM orders
        |  WHERE o_orderkey % 3 = 0),
        |u AS (
        |  SELECT o_orderkey AS k, o_totalprice + 1000.0 AS p,
        |         o_orderkey % 7 AS s
        |  FROM orders WHERE o_orderkey % 30 = 0),
        |i AS (
        |  SELECT o_orderkey AS k, o_totalprice AS p, o_orderkey % 7 AS s
        |  FROM orders WHERE o_orderkey % 5 = 1 AND o_orderkey % 3 <> 0),
        |fin AS (
        |  SELECT k, p, CAST(NULL AS BIGINT) AS s FROM b WHERE k % 30 <> 0
        |  UNION ALL SELECT k, p, s FROM u
        |  UNION ALL SELECT k, p, s FROM i)
        |SELECT count(*) AS n_rows,
        |       CAST(sum(k) AS BIGINT) AS key_sum,
        |       round(CAST(CAST(sum(CAST(CAST(p AS VARCHAR) AS DECIMAL(18,6)))
        |                 AS DECIMAL(38,6)) AS DOUBLE), 6) AS revenue,
        |       CAST(count(s) AS BIGINT) AS n_scored,
        |       CAST(sum(s) AS BIGINT) AS score_sum
        |FROM fin""".stripMargin,
    // the q130 uniform fold per (salt, replicate, id), -ln weights,
    // 6-dp decimal contribution sums, one division per replicate,
    // min/max band over the 16 replicate means
    "q187_bootstrap_ci" ->
      """WITH base AS (
        |  SELECT CAST(o_orderkey AS VARCHAR) AS id, o_totalprice AS x
        |  FROM orders WHERE o_totalprice IS NOT NULL),
        |ex AS (
        |  SELECT count(*) AS n,
        |         CAST(sum(CAST(CAST(x AS VARCHAR) AS DECIMAL(18,6)))
        |              AS DECIMAL(38,6)) AS s
        |  FROM base),
        |uu AS (
        |  SELECT t.x, t.r,
        |         (((list_reduce(list_prepend(CAST(0 AS BIGINT),
        |              list_transform(string_split('bs1|' || t.r || '|' || t.id, ''),
        |                c -> CAST(ascii(c) AS BIGINT))),
        |              (a, q) -> (a * 131 + q) % 281474976710656)
        |            % 2147483647) * 1103515245 + 12345) % 2147483647 + 0.5)
        |          / 2147483647.0 AS u
        |  FROM (SELECT b.id, b.x, g.r
        |        FROM base b CROSS JOIN
        |          (SELECT CAST(unnest(generate_series(0, 15)) AS VARCHAR) AS r) g) t),
        |rep AS (
        |  SELECT r, round(CAST(swx AS DOUBLE) / CAST(sw AS DOUBLE), 6) AS m
        |  FROM (
        |    SELECT r,
        |           CAST(sum(CAST(round(-ln(u), 6) AS DECIMAL(18,6)))
        |                AS DECIMAL(38,6)) AS sw,
        |           CAST(sum(CAST(round((-ln(u)) * x, 6) AS DECIMAL(28,6)))
        |                AS DECIMAL(38,6)) AS swx
        |    FROM uu GROUP BY 1))
        |SELECT ex.n, round(CAST(ex.s AS DOUBLE) / CAST(ex.n AS DOUBLE), 6) AS mean,
        |       (SELECT min(m) FROM rep) AS boot_lo,
        |       (SELECT max(m) FROM rep) AS boot_hi
        |FROM ex""".stripMargin,
    // q181's score/label setup, then the threshold-formulation AP:
    // descending-inclusive counts from totals minus ascending cumsum,
    // rounded precision per distinct score, decimal term sums
    "q188_average_precision" ->
      """WITH h AS (
        |  SELECT doc_id, lang, CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
        |         list_transform(string_split(text, ' '), t ->
        |           list_reduce(
        |             list_prepend(CAST(0 AS BIGINT),
        |               list_transform(string_split(t, ''), c -> CAST(ascii(c) AS BIGINT))),
        |             (a, x) -> (a * 131 + x) % 281474976710656)) AS hs
        |  FROM documents),
        |sc AS (
        |  SELECT round(CAST(CAST(coalesce(list_sum(list_transform(hs, hv ->
        |             ((hv % 64) * 2654435761) % 1997 - 998)), 0) AS BIGINT) AS DOUBLE)
        |           / CAST(n_tokens * 1000 AS DOUBLE), 6) AS s,
        |         (lang = 'en') AS y
        |  FROM h WHERE n_tokens > 0),
        |g AS (
        |  SELECT s, count(*) AS cnt,
        |         CAST(sum(CASE WHEN y THEN 1 ELSE 0 END) AS BIGINT) AS pos
        |  FROM sc GROUP BY 1),
        |w AS (
        |  SELECT *, CAST(sum(cnt) OVER (ORDER BY s ROWS UNBOUNDED PRECEDING) AS BIGINT) AS ccnt,
        |         CAST(sum(pos) OVER (ORDER BY s ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cpos
        |  FROM g),
        |t AS (SELECT CAST(sum(cnt) AS BIGINT) AS nt, CAST(sum(pos) AS BIGINT) AS pt FROM g),
        |terms AS (
        |  SELECT w.pos, t.pt, t.nt,
        |         round(CAST(t.pt - w.cpos + w.pos AS DOUBLE)
        |               / CAST(t.nt - w.ccnt + w.cnt AS DOUBLE), 6) AS prec
        |  FROM w, t)
        |SELECT pt AS p, nt - pt AS n,
        |       CASE WHEN pt > 0 AND nt > pt
        |            THEN round(CAST(CAST(sum(pos * CAST(prec AS DECIMAL(12,6)))
        |                      AS DECIMAL(38,6)) AS DOUBLE) / CAST(pt AS DOUBLE), 6)
        |       END AS ap
        |FROM terms GROUP BY pt, nt""".stripMargin,
    // the same closed-form generator, canonical edges, six replayed
    // peel rounds, final degrees of the surviving core
    "q189_k_core" ->
      s"""WITH raw AS (
         |  SELECT CASE WHEN doc_id < 150 THEN doc_id % 13
         |              ELSE 13 + doc_id % 60 END AS u,
         |         CASE WHEN doc_id < 150 THEN (doc_id // 13) % 13
         |              WHEN doc_id % 3 = 0 THEN doc_id % 13
         |              ELSE 13 + (doc_id * 7) % 60 END AS v
         |  FROM documents),
         |e0 AS MATERIALIZED (
         |  SELECT DISTINCT least(u, v) AS a, greatest(u, v) AS b
         |  FROM raw WHERE u <> v),
         |${kcoreIter(1)},
         |${kcoreIter(2)},
         |${kcoreIter(3)},
         |${kcoreIter(4)},
         |${kcoreIter(5)},
         |${kcoreIter(6)}
         |SELECT v, CAST(d AS BIGINT) AS core_deg FROM (
         |  SELECT v, count(*) AS d FROM (
         |    SELECT a AS v FROM e6 UNION ALL SELECT b FROM e6) GROUP BY 1)
         |WHERE d >= 6""".stripMargin,
    // the capstone composition: weighted-sketch p50 + per-lang mean of
    // the q195 bigram chain + the q197 chunk ledger's duplicated share,
    // each sub-chain verbatim from its own green oracle
    "q200_curation_report" -> {
      val alpha = 0.01
      val gamma = (1 + alpha) / (1 - alpha)
      val lnG = math.log(gamma)
      s"""WITH lang AS (
         |  SELECT doc_id, lang, len(string_split(text, ' ')) AS nt FROM documents),
         |b AS (
         |  SELECT lang,
         |         CASE WHEN nt > 0
         |              THEN CAST(ceil(ln(CAST(nt AS DOUBLE)) / $lnG) AS BIGINT) END AS bucket,
         |         CAST(sum(nt) AS BIGINT) AS cnt
         |  FROM lang WHERE nt IS NOT NULL AND nt <> 0 GROUP BY 1, 2),
         |cq AS (
         |  SELECT *,
         |         sum(cnt) OVER (PARTITION BY lang ORDER BY bucket ASC NULLS FIRST) AS cum,
         |         sum(cnt) OVER (PARTITION BY lang) AS n
         |  FROM b),
         |p50 AS (
         |  SELECT lang,
         |         round(CASE WHEN bucket IS NULL THEN 0.0
         |                    ELSE 2.0 * pow($gamma, CAST(bucket AS DOUBLE)) / ${gamma + 1.0}
         |               END, 6) AS p50_len_by_token
         |  FROM cq
         |  WHERE cum - cnt <= floor(0.5 * (n - 1)) AND floor(0.5 * (n - 1)) < cum),
         |ws AS (
         |  SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS ws
         |  FROM documents),
         |bp AS (
         |  SELECT doc_id, ws[t.i - 1] AS p, ws[t.i] AS w
         |  FROM ws, unnest(generate_series(2, len(ws))) AS t(i)
         |  WHERE len(ws) >= 2),
         |big AS (SELECT p, w, count(*) AS cb FROM bp GROUP BY 1, 2),
         |uni AS (SELECT w, count(*) AS cu
         |        FROM (SELECT unnest(ws) AS w FROM ws) GROUP BY 1),
         |tot AS (SELECT CAST(sum(cu) AS DOUBLE) AS nn FROM uni),
         |model AS (
         |  SELECT bg.p, bg.w,
         |         ln(0.75 * (CAST(bg.cb AS DOUBLE) / CAST(cp2.cu AS DOUBLE))
         |            + 0.25 * (CAST(u2.cu AS DOUBLE) / (SELECT nn FROM tot))) AS lnp
         |  FROM big bg JOIN uni cp2 ON cp2.w = bg.p JOIN uni u2 ON u2.w = bg.w),
         |dt AS (SELECT doc_id, p, w, count(*) AS c FROM bp GROUP BY 1, 2, 3),
         |ce AS (
         |  SELECT doc_id,
         |         round(CAST(sum(CAST(c * -lnp AS DECIMAL(25,10))) AS DOUBLE)
         |               / CAST(sum(c) AS BIGINT), 6) AS cross_entropy
         |  FROM dt JOIN model USING (p, w) GROUP BY 1),
         |celang AS (
         |  SELECT l.lang,
         |         round(CAST(sum(CAST(ce.cross_entropy AS DECIMAL(18,6))) AS DOUBLE)
         |               / count(*), 6) AS mean_bigram_ce
         |  FROM ce JOIN lang l USING (doc_id) GROUP BY 1),
         |cc AS (
         |  SELECT doc_id,
         |         list_transform(string_split(text, ''),
         |           c -> CAST(ascii(c) AS BIGINT)) AS cp
         |  FROM documents),
         |gg AS (
         |  SELECT doc_id, cp,
         |         list_transform(cp,
         |           c -> ((c + 1) * 2654435761) % 281474976710656) AS gs
         |  FROM cc),
         |pp AS (
         |  SELECT doc_id, t.i AS i, cp[t.i] AS c,
         |         (list_reduce(list_prepend(CAST(0 AS BIGINT),
         |            gs[greatest(1, t.i - 47):t.i]),
         |            (a, x) -> (a * 2 + x) % 281474976710656) % 64 = 0) AS boundary
         |  FROM gg, unnest(generate_series(1, len(cp))) AS t(i)),
         |ch AS (
         |  SELECT doc_id, i, c,
         |         coalesce(sum(CASE WHEN boundary THEN 1 ELSE 0 END)
         |           OVER (PARTITION BY doc_id ORDER BY i
         |                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cid
         |  FROM pp),
         |ck AS (
         |  SELECT doc_id, cid, list(c ORDER BY i) AS cs, count(*) AS clen
         |  FROM ch GROUP BY 1, 2),
         |ky AS (
         |  SELECT doc_id,
         |         list_reduce(list_prepend(CAST(0 AS BIGINT), cs),
         |           (a, x) -> (a * 131 + x) % 281474976710656)
         |           + least(clen, 16383) * 281474976710656 AS chunk_key
         |  FROM ck),
         |dup AS (SELECT chunk_key, count(*) AS nrefs FROM ky GROUP BY 1),
         |share AS (
         |  SELECT l.lang,
         |         round(CAST(coalesce(sum(CASE WHEN d.nrefs >= 2 THEN 1 END), 0) AS DOUBLE)
         |               / count(*), 6) AS dup_chunk_share
         |  FROM ky k JOIN dup d USING (chunk_key)
         |  JOIN lang l USING (doc_id) GROUP BY 1)
         |SELECT nl.lang, nl.n_docs, p50.p50_len_by_token,
         |       celang.mean_bigram_ce, share.dup_chunk_share
         |FROM (SELECT lang, count(*) AS n_docs FROM lang GROUP BY 1) nl
         |JOIN p50 USING (lang) JOIN celang USING (lang) JOIN share USING (lang)""".stripMargin
    },
    // the weighted DDSketch replay: weights ride the bucket counts,
    // buckets stay a pure function of the value
    "q198_weighted_quantiles" -> {
      val alpha = 0.01
      val gamma = (1 + alpha) / (1 - alpha)
      val lnG = math.log(gamma)
      s"""WITH d AS (
         |  SELECT lang, len(string_split(text, ' ')) AS nt FROM documents),
         |b AS (
         |  SELECT lang,
         |         CASE WHEN nt > 0
         |              THEN CAST(ceil(ln(CAST(nt AS DOUBLE)) / $lnG) AS BIGINT) END AS bucket,
         |         CAST(sum(nt) AS BIGINT) AS cnt
         |  FROM d WHERE nt IS NOT NULL AND nt <> 0
         |  GROUP BY 1, 2),
         |c AS (
         |  SELECT *,
         |         sum(cnt) OVER (PARTITION BY lang
         |                        ORDER BY bucket ASC NULLS FIRST) AS cum,
         |         sum(cnt) OVER (PARTITION BY lang) AS n
         |  FROM b),
         |qs AS (SELECT CAST(unnest([0.5, 0.9]) AS DOUBLE) AS q)
         |SELECT lang, q,
         |       round(CASE WHEN bucket IS NULL THEN 0.0
         |                  ELSE 2.0 * pow($gamma, CAST(bucket AS DOUBLE)) / ${gamma + 1.0}
         |             END, 6) AS est
         |FROM c, qs
         |WHERE cum - cnt <= floor(q * (n - 1)) AND floor(q * (n - 1)) < cum""".stripMargin
    },
    // agreement rates over the deterministic id%97 cross-slice pairs
    "q199_linkage_u" ->
      """WITH c AS (
        |  SELECT c_custkey AS id, c_name AS name, c_nationkey AS nat,
        |         c_mktsegment AS seg, floor(c_acctbal / 1000) AS bal_kb
        |  FROM customer),
        |sa AS (SELECT * FROM c WHERE id % 97 = 0),
        |sb AS (SELECT * FROM c WHERE id % 97 = 1),
        |p AS (
        |  SELECT sa.name AS an, sb.name AS bn, sa.nat AS anat, sb.nat AS bnat,
        |         sa.seg AS aseg, sb.seg AS bseg, sa.bal_kb AS ab, sb.bal_kb AS bb
        |  FROM sa, sb)
        |SELECT 'name_agree' AS field, count(*) AS n_pairs,
        |       CAST(coalesce(sum(CASE WHEN levenshtein(an, bn) <= 2 THEN 1 END), 0) AS BIGINT) AS n_agree,
        |       round(CAST(coalesce(sum(CASE WHEN levenshtein(an, bn) <= 2 THEN 1 END), 0) AS DOUBLE)
        |             / greatest(1, count(*)), 6) AS u
        |FROM p
        |UNION ALL
        |SELECT 'nat_agree', count(*),
        |       CAST(coalesce(sum(CASE WHEN anat = bnat THEN 1 END), 0) AS BIGINT),
        |       round(CAST(coalesce(sum(CASE WHEN anat = bnat THEN 1 END), 0) AS DOUBLE)
        |             / greatest(1, count(*)), 6)
        |FROM p
        |UNION ALL
        |SELECT 'seg_agree', count(*),
        |       CAST(coalesce(sum(CASE WHEN aseg = bseg THEN 1 END), 0) AS BIGINT),
        |       round(CAST(coalesce(sum(CASE WHEN aseg = bseg THEN 1 END), 0) AS DOUBLE)
        |             / greatest(1, count(*)), 6)
        |FROM p
        |UNION ALL
        |SELECT 'bal_agree', count(*),
        |       CAST(coalesce(sum(CASE WHEN ab = bb THEN 1 END), 0) AS BIGINT),
        |       round(CAST(coalesce(sum(CASE WHEN ab = bb THEN 1 END), 0) AS DOUBLE)
        |             / greatest(1, count(*)), 6)
        |FROM p""".stripMargin,
    // gear CDC replayed: windowed rolling hash (mod 2^48 drops symbols
    // older than 48 exactly), boundary at h%64=0, per-chunk 131-fold +
    // length packing, then the ledger
    "q197_chunk_dedup" ->
      """WITH cps AS (
        |  SELECT doc_id,
        |         list_transform(string_split(text, ''),
        |           c -> CAST(ascii(c) AS BIGINT)) AS cp
        |  FROM documents),
        |g AS (
        |  SELECT doc_id, cp,
        |         list_transform(cp,
        |           c -> ((c + 1) * 2654435761) % 281474976710656) AS gs
        |  FROM cps),
        |pos AS (
        |  SELECT doc_id, t.i AS i, cp[t.i] AS c,
        |         (list_reduce(list_prepend(CAST(0 AS BIGINT),
        |            gs[greatest(1, t.i - 47):t.i]),
        |            (a, x) -> (a * 2 + x) % 281474976710656) % 64 = 0) AS boundary
        |  FROM g, unnest(generate_series(1, len(cp))) AS t(i)),
        |chunked AS (
        |  SELECT doc_id, i, c,
        |         coalesce(sum(CASE WHEN boundary THEN 1 ELSE 0 END)
        |           OVER (PARTITION BY doc_id ORDER BY i
        |                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cid
        |  FROM pos),
        |chunks AS (
        |  SELECT doc_id, cid, list(c ORDER BY i) AS cs, count(*) AS clen
        |  FROM chunked GROUP BY 1, 2),
        |keys AS (
        |  SELECT doc_id,
        |         list_reduce(list_prepend(CAST(0 AS BIGINT), cs),
        |           (a, x) -> (a * 131 + x) % 281474976710656)
        |           + least(clen, 16383) * 281474976710656 AS chunk_key,
        |         clen
        |  FROM chunks)
        |SELECT chunk_key, CAST(least(clen, 16383) AS BIGINT) AS chunk_len,
        |       count(*) AS n_refs,
        |       CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
        |       CAST((count(*) - 1) * least(clen, 16383) AS BIGINT) AS reclaimable
        |FROM keys GROUP BY chunk_key, clen HAVING count(*) >= 2""".stripMargin,
    // synchronous label propagation replayed round by round: neighbor
    // votes + own label, argmax (count DESC, label ASC)
    "q196_label_prop" ->
      s"""WITH raw AS (
         |  SELECT CASE WHEN doc_id < 150 THEN doc_id % 13
         |              ELSE 13 + doc_id % 60 END AS u,
         |         CASE WHEN doc_id < 150 THEN (doc_id // 13) % 13
         |              WHEN doc_id % 3 = 0 THEN doc_id % 13
         |              ELSE 13 + (doc_id * 7) % 60 END AS v
         |  FROM documents),
         |e0 AS MATERIALIZED (
         |  SELECT DISTINCT CAST(least(u, v) AS BIGINT) AS a,
         |         CAST(greatest(u, v) AS BIGINT) AS b
         |  FROM raw WHERE u <> v),
         |nbr AS MATERIALIZED (
         |  SELECT a AS v, b AS u FROM e0 UNION ALL SELECT b, a FROM e0),
         |l0 AS MATERIALIZED (
         |  SELECT DISTINCT v, v AS label FROM (
         |    SELECT a AS v FROM e0 UNION ALL SELECT b FROM e0)),
         |${lpIter(1)},
         |${lpIter(2)},
         |${lpIter(3)},
         |${lpIter(4)}
         |SELECT v, label FROM l4""".stripMargin,
    // marginal-axes cross with o = 0 fill, the same rounded e and the
    // same residual chain on the PUBLISHED e
    "q190_pearson_residuals" ->
      """WITH cells AS (
        |  SELECT lang AS a, source AS b, count(*) AS o
        |  FROM documents GROUP BY 1, 2),
        |ma AS (SELECT a, CAST(sum(o) AS BIGINT) AS ca FROM cells GROUP BY 1),
        |mb AS (SELECT b, CAST(sum(o) AS BIGINT) AS cb FROM cells GROUP BY 1),
        |tot AS (SELECT CAST(sum(o) AS BIGINT) AS n FROM cells),
        |grid AS (
        |  SELECT ma.a, mb.b, ma.ca, mb.cb, tot.n,
        |         CAST(coalesce(c.o, 0) AS BIGINT) AS o,
        |         round(CAST(ma.ca * mb.cb AS DOUBLE) / CAST(tot.n AS DOUBLE), 6) AS e
        |  FROM ma CROSS JOIN mb CROSS JOIN tot
        |  LEFT JOIN cells c ON c.a = ma.a AND c.b = mb.b)
        |SELECT a AS lang, b AS source, o, e,
        |       CASE WHEN e > 0
        |            THEN round((CAST(o AS DOUBLE) - e) / sqrt(e), 6) END AS residual
        |FROM grid""".stripMargin,
  )
}
