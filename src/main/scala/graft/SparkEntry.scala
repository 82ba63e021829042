package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.queries.{ExtensionOracles, LogParsing, Relational}
import graft.ops.{Chunking, Curriculum, Dedup, Mixing, Multimodal, Privacy, Quantize, Retrieval, Selection, Similarity, TextAnalysis}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Each `queries` entry is one operator family from SURVEY.md §2 (or an
  * extension operator); `oracleSql` carries the DuckDB-equivalent SQL the
  * driver replays over the same parquet tables. Column names and types are
  * aligned on both sides (see queries.Relational scaladoc for the
  * float-determinism contract).
  */
object SparkEntry {

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q01_pricing_summary"  -> (Relational.q01PricingSummary _),
    "q02_top_revenue"      -> (Relational.q02TopRevenueOrders _),
    "q03_nation_revenue"   -> (Relational.q03NationRevenue _),
    "q04_semi_join"        -> (Relational.q04SemiJoin _),
    "q05_anti_join"        -> (Relational.q05AntiJoin _),
    "q06_window_topk"      -> (Relational.q06TopOrdersPerCustomer _),
    "q07_running_sum"      -> (Relational.q07RunningSum _),
    "q08_rollup"           -> (Relational.q08Rollup _),
    "q09_distinct_counts"  -> (Relational.q09DistinctCounts _),
    "q10_setops"           -> (Relational.q10SetOps _),
    "q11_top_parts"        -> (Relational.q11TopParts _),
    "q12_scalar_functions" -> (Relational.q12ScalarFunctions _),
    "q13_pivot_events"     -> (Relational.q13PivotEventCounts _),
    "q14_sessionize"       -> (Relational.q14Sessionize _),
    "q15_json_extract"     -> (Relational.q15JsonExtract _),
    "q16_asof_join"        -> (Relational.q16AsOfJoin _),
    "q17_hourly_events"    -> (Relational.q17HourlyEventAgg _),
    "q18_above_avg"        -> (Relational.q18AboveAvgOrders _),
    "q19_cube"             -> (Relational.q19Cube _),
    "q20_s3log_etl"        -> (LogParsing.q20S3LogEtl _),
    "q21_text_stats"       -> (TextAnalysis.q21TextStats _),
    "q22_lang_id"          -> (TextAnalysis.q22LangId _),
    "q23_fingerprint"      -> (TextAnalysis.q23Fingerprint _),
    "q24_dedup_exact"      -> (Dedup.q24ExactDedup _),
    "q25_ngram_jaccard"    -> (Dedup.q25NgramJaccard _),
    "q26_minhash_lsh"      -> (Dedup.q26MinhashLsh _),
    "q27_simhash"          -> (Dedup.q27Simhash _),
    "q28_ann_bruteforce"   -> (Similarity.q28BruteForceTopK _),
    "q29_ann_lsh"          -> (Similarity.q29LshTopK _),
    "q30_multimodal_meta"  -> (Multimodal.q30MultimodalMeta _),
    "q31_approx_aggs"      -> (Relational.q31ApproxAggs _),
    "q32_split_assign"     -> (Relational.q32SplitAssign _),
    "q33_median_disc"      -> (Relational.q33MedianDisc _),
    "q34_moment_stats"     -> (Relational.q34MomentStats _),
    "q35_array_agg"        -> (Relational.q35ArrayAgg _),
    "q36_embedding_neardup" -> (Similarity.q36EmbeddingNearDup _),
    "q37_repetition"       -> (TextAnalysis.q37Repetition _),
    "q38_quantize"         -> (Quantize.q38Quantize _),
    "q39_filter_pipeline"  -> (TextAnalysis.q39FilterPipeline _),
    "q40_neardup_clusters" -> (Dedup.q40NearDupClusters _),
    "q41_tfidf"            -> (TextAnalysis.q41Tfidf _),
    "q42_seq_packing"      -> ((s: SparkSession, dir: String) =>
      TextAnalysis.q42SequencePacking(s, dir)),
    "q43_decontamination"  -> ((s: SparkSession, dir: String) =>
      Dedup.q43Decontamination(s, dir)),
    "q44_ip_anonymize"     -> (Privacy.q44IpAnonymize _),
    "q45_domain_mix"       -> (Mixing.q45DomainMix _),
    "q46_curriculum"       -> ((s: SparkSession, dir: String) =>
      Curriculum.q46Curriculum(s, dir)),
    "q47_semantic_dedup"   -> ((s: SparkSession, dir: String) =>
      Quantize.q47SemanticDedup(s, dir)),
    "q48_unigram_logprob"  -> (TextAnalysis.q48UnigramLogprob _),
    "q49_token_budget"     -> ((s: SparkSession, dir: String) =>
      Selection.q49TokenBudget(s, dir)),
    "q50_vocab_coverage"   -> ((s: SparkSession, dir: String) =>
      TextAnalysis.q50VocabCoverage(s, dir)),
    "q51_char_entropy"     -> ((s: SparkSession, dir: String) =>
      TextAnalysis.q51CharEntropy(s, dir)),
    "q52_stratified_sample" -> ((s: SparkSession, dir: String) =>
      Selection.q52StratifiedSample(s, dir)),
    "q53_crossdoc_repetition" -> ((s: SparkSession, dir: String) =>
      TextAnalysis.q53CrossDocRepetition(s, dir)),
    "q54_sliding_hourly"   -> (Relational.q54SlidingHourly _),
    "q55_winsorized"       -> (Relational.q55WinsorizedStats _),
    "q56_epoch_shuffle"    -> ((s: SparkSession, dir: String) =>
      Selection.q56EpochShuffle(s, dir)),
    "q57_pipeline"         -> ((s: SparkSession, dir: String) =>
      graft.ops.Pipeline.q57PipelineDecision(s, dir)),
    "q58_bm25"             -> ((s: SparkSession, dir: String) =>
      Retrieval.q58Bm25(s, dir)),
    "q59_chunking"         -> ((s: SparkSession, dir: String) =>
      Chunking.q59Chunking(s, dir)),
    "q60_pii_redact"       -> (Privacy.q60PiiRedact _),
    "q61_source_quota"     -> ((s: SparkSession, dir: String) =>
      Selection.q61SourceQuota(s, dir)),
    "q62_weighted_sample"  -> ((s: SparkSession, dir: String) =>
      Mixing.q62WeightedSample(s, dir)),
    "q63_snapshot_diff"    -> (graft.ops.SnapshotDiff.q63SnapshotDiff _),
    // oracle-exact since round 10: integer-grid PQ whose persisted
    // codebook lets the oracle replay encode/ADC/re-rank (training
    // stays engine-side — the q81/q94 rule); recall additionally
    // spec-pinned (RetrievalSpec)
    "q64_pq_ann"           -> ((s: SparkSession, dir: String) =>
      graft.ops.ProductQuantization.q64PqAnn(s, dir)),
    "q65_bpe_tokens"       -> ((s: SparkSession, dir: String) =>
      graft.ops.Bpe.q65BpeTokens(s, dir)),
    "q66_bigram_logprob"   -> ((s: SparkSession, dir: String) =>
      TextAnalysis.q66BigramLogprob(s, dir)),
    "q67_data_card"        -> ((s: SparkSession, dir: String) =>
      graft.ops.DataCard.q67DataCard(s, dir)),
    "q68_quality_model"    -> ((s: SparkSession, dir: String) =>
      graft.ops.QualityModel.q68QualityModel(s, dir)),
    "q69_source_divergence" -> ((s: SparkSession, dir: String) =>
      graft.ops.Mixing.q69SourceDivergence(s, dir)),
    "q70_substring_dup"     -> ((s: SparkSession, dir: String) =>
      graft.ops.Dedup.q70SubstringDup(s, dir)),
    "q71_hard_negatives"    -> ((s: SparkSession, dir: String) =>
      graft.ops.Retrieval.q71HardNegatives(s, dir)),
    "q72_leakage_split"     -> ((s: SparkSession, dir: String) =>
      graft.ops.Dedup.q72LeakageSafeSplit(s, dir)),
    "q73_mixture_interleave" -> ((s: SparkSession, dir: String) =>
      graft.ops.Mixing.q73MixtureInterleave(s, dir)),
    "q74_source_overlap"    -> ((s: SparkSession, dir: String) =>
      graft.ops.Dedup.q74SourceOverlap(s, dir)),
    "q75_source_diversity"  -> ((s: SparkSession, dir: String) =>
      graft.ops.Dedup.q75SourceDiversity(s, dir)),
    "q76_embedding_negatives" -> ((s: SparkSession, dir: String) =>
      graft.ops.Similarity.q76EmbeddingNegatives(s, dir)),
    "q77_dsir_importance"   -> ((s: SparkSession, dir: String) =>
      graft.ops.Importance.q77DsirImportance(s, dir)),
    "q78_temporal_drift"    -> ((s: SparkSession, dir: String) =>
      Mixing.q78TemporalDrift(s, dir)),
    "q79_length_buckets"    -> ((s: SparkSession, dir: String) =>
      TextAnalysis.q79LengthBuckets(s, dir)),
    "q80_canonical_docs"    -> ((s: SparkSession, dir: String) =>
      Dedup.q80CanonicalDocs(s, dir)),
    "q81_embedding_clusters" -> ((s: SparkSession, dir: String) =>
      graft.ops.Clustering.q81EmbeddingClusters(s, dir)),
    "q82_span_removal"      -> ((s: SparkSession, dir: String) =>
      Dedup.q82SpanRemoval(s, dir)),
    "q83_cluster_sample"    -> ((s: SparkSession, dir: String) =>
      graft.ops.Clustering.q83ClusterSample(s, dir)),
    "q84_rollup_maintenance" -> ((s: SparkSession, dir: String) =>
      graft.ops.Rollup.q84RollupMaintenance(s, dir)),
    "q85_event_funnel"      -> (Relational.q85EventFunnel _),
    "q86_retention_cohorts" -> (Relational.q86RetentionCohorts _),
    "q87_tokenizer_fertility" -> ((s: SparkSession, dir: String) =>
      graft.ops.Bpe.q87TokenizerFertility(s, dir)),
    "q88_length_quantiles"  -> ((s: SparkSession, dir: String) =>
      TextAnalysis.q88LengthQuantiles(s, dir)),
    "q89_index_probe"       -> ((s: SparkSession, dir: String) =>
      graft.ops.NearDupIndex.q89IndexProbe(s, dir)),
    "q90_staged_pipeline"   -> ((s: SparkSession, dir: String) =>
      graft.ops.Pipeline.q90StagedPipeline(s, dir)),
    "q91_token_ids"         -> ((s: SparkSession, dir: String) =>
      graft.ops.Bpe.q91TokenIds(s, dir)),
    "q92_random_projection" -> ((s: SparkSession, dir: String) =>
      graft.ops.Projection.q92RandomProjection(s, dir)),
    "q93_semantic_decontamination" -> ((s: SparkSession, dir: String) =>
      Similarity.q93SemanticDecontamination(s, dir)),
    "q94_cluster_purity"    -> ((s: SparkSession, dir: String) =>
      graft.ops.Clustering.q94ClusterPurity(s, dir)),
    "q95_mixture_allocation" -> ((s: SparkSession, dir: String) =>
      graft.ops.Mixing.q95MixtureAllocation(s, dir)),
    "q96_index_delete_probe" -> ((s: SparkSession, dir: String) =>
      graft.ops.Retrieval.q96IndexDeleteProbe(s, dir)),
    "q97_quality_calibration" -> ((s: SparkSession, dir: String) =>
      graft.ops.QualityModel.q97QualityCalibration(s, dir)),
    "q98_contrastive_set"   -> ((s: SparkSession, dir: String) =>
      graft.ops.Sharding.q98ContrastiveSet(s, dir)),
    "q99_rollup_quantiles"  -> ((s: SparkSession, dir: String) =>
      graft.ops.Rollup.q99RollupQuantiles(s, dir)),
    "q100_index_sync_probe" -> ((s: SparkSession, dir: String) =>
      graft.ops.Retrieval.q100IndexSyncProbe(s, dir)),
    "q101_url_canonicalize" -> ((s: SparkSession, dir: String) =>
      graft.ops.Web.q101UrlCanonicalize(s, dir)),
    "q102_gap_fill"         -> ((s: SparkSession, dir: String) =>
      graft.ops.TimeSeries.q102GapFill(s, dir)),
    "q103_grouping_sets"    -> (Relational.q103GroupingSets _),
    "q104_k_anonymity"      -> (Privacy.q104KAnonymity _),
    "q105_hourly_anomaly"   -> ((s: SparkSession, dir: String) =>
      graft.ops.TimeSeries.q105HourlyAnomaly(s, dir)),
    "q106_url_dedup"        -> ((s: SparkSession, dir: String) =>
      graft.ops.Web.q106UrlDedup(s, dir)),
    "q107_hourly_store_serve" -> ((s: SparkSession, dir: String) =>
      graft.ops.TimeSeries.q107HourlyStoreServe(s, dir)),
    "q108_snapshot_apply"   -> (graft.ops.SnapshotDiff.q108SnapshotApply _),
    "q109_fuzzy_dedup"      -> ((s: SparkSession, dir: String) =>
      graft.ops.Fuzzy.q109FuzzyDedup(s, dir)),
    "q110_pagerank"         -> ((s: SparkSession, dir: String) =>
      graft.ops.Graph.q110PageRank(s, dir)),
    "q111_interval_overlap" -> ((s: SparkSession, dir: String) =>
      graft.ops.RangeJoin.q111IntervalOverlap(s, dir)),
    "q112_bloom_semi_join"  -> ((s: SparkSession, dir: String) =>
      graft.ops.BloomPrune.q112BloomSemiJoin(s, dir)),
    "q113_exact_jaccard"    -> ((s: SparkSession, dir: String) =>
      graft.ops.SetSimilarity.q113ExactJaccard(s, dir)),
    "q114_triangle_count"   -> ((s: SparkSession, dir: String) =>
      graft.ops.Graph.q114TriangleCount(s, dir)),
    "q115_markov_transitions" -> ((s: SparkSession, dir: String) =>
      graft.ops.TimeSeries.q115MarkovTransitions(s, dir)),
    "q116_frequent_pairs"   -> ((s: SparkSession, dir: String) =>
      graft.ops.Baskets.q116FrequentPairs(s, dir)),
    "q117_scd2_join"        -> ((s: SparkSession, dir: String) =>
      graft.ops.RangeJoin.q117Scd2Join(s, dir)),
    "q118_item_cosine"      -> ((s: SparkSession, dir: String) =>
      graft.ops.Baskets.q118ItemCosine(s, dir)),
    "q119_centroid_cosines" -> ((s: SparkSession, dir: String) =>
      graft.ops.Clustering.q119CentroidCosines(s, dir)),
    "q120_product_families" -> ((s: SparkSession, dir: String) =>
      graft.ops.Baskets.q120ProductFamilies(s, dir)),
    "q121_ecdf"             -> ((s: SparkSession, dir: String) =>
      graft.ops.Selection.q121Ecdf(s, dir)),
    "q122_multiblock_fuzzy" -> ((s: SparkSession, dir: String) =>
      graft.ops.Fuzzy.q122MultiBlockFuzzy(s, dir)),
    "q123_preference_pairs" -> ((s: SparkSession, dir: String) =>
      graft.ops.Labeling.q123PreferencePairs(s, dir)),
    "q124_label_vote"       -> ((s: SparkSession, dir: String) =>
      graft.ops.Labeling.q124LabelVote(s, dir)),
    "q125_normalized_dedup" -> ((s: SparkSession, dir: String) =>
      graft.ops.Normalization.q125NormalizedDedup(s, dir)),
    "q126_split_balance"    -> ((s: SparkSession, dir: String) =>
      graft.ops.Splits.q126SplitBalance(s, dir)),
    "q127_embedding_standardize" -> ((s: SparkSession, dir: String) =>
      graft.ops.Standardize.q127EmbeddingStandardize(s, dir)),
    "q128_ewma"             -> ((s: SparkSession, dir: String) =>
      graft.ops.TimeSeries.q128Ewma(s, dir)),
    "q129_feature_hash"     -> ((s: SparkSession, dir: String) =>
      graft.ops.FeatureHash.q129FeatureHash(s, dir)),
    "q130_session_paths"    -> ((s: SparkSession, dir: String) =>
      graft.ops.TimeSeries.q130SessionPaths(s, dir)),
    "q131_trend_slope"      -> ((s: SparkSession, dir: String) =>
      graft.ops.TimeSeries.q131TrendSlope(s, dir)),
    "q132_negative_edges"   -> ((s: SparkSession, dir: String) =>
      graft.ops.Graph.q132NegativeEdges(s, dir)),
    "q133_pmi_collocations" -> ((s: SparkSession, dir: String) =>
      graft.ops.Collocations.q133PmiCollocations(s, dir)),
    "q134_horizon_dedup"    -> ((s: SparkSession, dir: String) =>
      graft.ops.Dedup.q134HorizonDedup(s, dir)),
    "q135_kmv_distinct"     -> ((s: SparkSession, dir: String) =>
      graft.ops.KmvSketch.q135KmvDistinct(s, dir)),
    "q136_source_overlap"   -> ((s: SparkSession, dir: String) =>
      graft.ops.KmvSketch.q136SourceOverlap(s, dir)),
    "q137_annotator_kappa"  -> ((s: SparkSession, dir: String) =>
      graft.ops.Labeling.q137AnnotatorKappa(s, dir)),
    "q138_containment"      -> ((s: SparkSession, dir: String) =>
      graft.ops.Dedup.q138Containment(s, dir)),
    "q139_growth_accounting" -> ((s: SparkSession, dir: String) =>
      graft.ops.TimeSeries.q139GrowthAccounting(s, dir)),
    "q140_trailing_distinct" -> ((s: SparkSession, dir: String) =>
      graft.ops.KmvSketch.q140TrailingDistinct(s, dir)),
    "q141_sketch_store"     -> ((s: SparkSession, dir: String) =>
      graft.ops.KmvSketch.q141SketchStoreServe(s, dir)),
    "q142_ab_test"          -> ((s: SparkSession, dir: String) =>
      graft.ops.Experiment.q142AbTest(s, dir)),
    "q143_quality_audit"    -> ((s: SparkSession, dir: String) =>
      graft.ops.QualityAudit.q143QualityAudit(s, dir)),
    "q144_psi_drift"        -> ((s: SparkSession, dir: String) =>
      graft.ops.Drift.q144PsiDrift(s, dir)),
    "q145_streamed_sketch_store" -> ((s: SparkSession, dir: String) =>
      graft.ops.KmvSketch.q145StreamedSketchServe(s, dir)),
    "q146_streamed_attribution" -> ((s: SparkSession, dir: String) =>
      graft.ops.Attribution.q146StreamedAttribution(s, dir)),
    "q147_streamed_sessions" -> ((s: SparkSession, dir: String) =>
      graft.ops.StreamingGates.q147StreamedSessions(s, dir)),
    "q148_streamed_dedup" -> ((s: SparkSession, dir: String) =>
      graft.ops.StreamingGates.q148StreamedDedup(s, dir)),
    "q149_boilerplate_removal" -> ((s: SparkSession, dir: String) =>
      graft.ops.Boilerplate.q149BoilerplateRemoval(s, dir)),
    "q150_heavy_tokens" -> ((s: SparkSession, dir: String) =>
      graft.ops.HeavyHitters.q150HeavyTokens(s, dir)),
    "q151_hybrid_rrf" -> ((s: SparkSession, dir: String) =>
      graft.ops.Hybrid.q151HybridRrf(s, dir)),
    "q152_streamed_heavy_users" -> ((s: SparkSession, dir: String) =>
      graft.ops.HeavyHitters.q152StreamedHeavyUsers(s, dir)),
    "q153_skipgram_pairs" -> ((s: SparkSession, dir: String) =>
      graft.ops.SkipGram.q153SkipgramPairs(s, dir)),
    "q154_unigram_ids" -> ((s: SparkSession, dir: String) =>
      graft.ops.Unigram.q154UnigramIds(s, dir)),
    "q155_unigram_perplexity" -> ((s: SparkSession, dir: String) =>
      graft.ops.Unigram.q155UnigramPerplexity(s, dir)),
    "q156_rag_context" -> ((s: SparkSession, dir: String) =>
      graft.ops.Rag.q156RagContext(s, dir)),
    "q157_ltr_features" -> ((s: SparkSession, dir: String) =>
      graft.ops.Ltr.q157LtrFeatures(s, dir)),
    "q158_store_boilerplate" -> ((s: SparkSession, dir: String) =>
      graft.ops.Boilerplate.q158StoreBoilerplate(s, dir)),
    "q159_streamed_boilerplate" -> ((s: SparkSession, dir: String) =>
      graft.ops.Boilerplate.q159StreamedBoilerplate(s, dir)),
    "q160_phrase_search" -> ((s: SparkSession, dir: String) =>
      graft.ops.Phrase.q160PhraseSearch(s, dir)),
    "q161_kn_bigram_score" -> ((s: SparkSession, dir: String) =>
      graft.ops.KneserNey.q161KnBigramScore(s, dir)),
    "q162_streamed_ivf_store" -> ((s: SparkSession, dir: String) =>
      graft.ops.VectorStore.q162StreamedIvfStore(s, dir)),
    "q163_kcenter_coreset" -> ((s: SparkSession, dir: String) =>
      graft.ops.Coreset.q163KcenterCoreset(s, dir)),
    "q164_ivf_lifecycle" -> ((s: SparkSession, dir: String) =>
      graft.ops.VectorStore.q164IvfLifecycle(s, dir)),
    "q165_span_corruption" -> ((s: SparkSession, dir: String) =>
      graft.ops.SpanCorruption.q165SpanCorruption(s, dir)),
    "q166_doc_novelty" -> ((s: SparkSession, dir: String) =>
      graft.ops.Novelty.q166DocNovelty(s, dir)),
    "q167_quantile_normalize" -> ((s: SparkSession, dir: String) =>
      graft.ops.QuantileNorm.q167QuantileNormalize(s, dir)),
    "q168_fim_transform" -> ((s: SparkSession, dir: String) =>
      graft.ops.SpanCorruption.q168FimTransform(s, dir)),
    "q169_streamed_neardup_index" -> ((s: SparkSession, dir: String) =>
      graft.ops.NearDupIndex.q169StreamedNearDupIndex(s, dir)),
    "q170_isotonic_calibration" -> ((s: SparkSession, dir: String) =>
      graft.ops.QualityModel.q170IsotonicCalibration(s, dir)),
    "q171_dedup_attribution" -> ((s: SparkSession, dir: String) =>
      graft.ops.Dedup.q171DedupAttribution(s, dir)),
    "q172_query_expansion" -> ((s: SparkSession, dir: String) =>
      graft.ops.Retrieval.q172QueryExpansion(s, dir)),
    "q173_crop_pairs" -> ((s: SparkSession, dir: String) =>
      graft.ops.SpanCorruption.q173CropPairs(s, dir)),
    "q174_tokenizer_compare" -> ((s: SparkSession, dir: String) =>
      graft.ops.Unigram.q174TokenizerCompare(s, dir)),
    "q175_distinctive_terms" -> ((s: SparkSession, dir: String) =>
      graft.ops.Distinctive.q175DistinctiveTerms(s, dir)),
    "q176_ir_metrics" -> ((s: SparkSession, dir: String) =>
      graft.ops.IrMetrics.q176IrMetrics(s, dir)),
    "q177_mutual_knn" -> ((s: SparkSession, dir: String) =>
      graft.ops.KnnGraph.q177MutualKnn(s, dir)),
    "q178_label_propagation" -> ((s: SparkSession, dir: String) =>
      graft.ops.Graph.q178LabelPropagation(s, dir)),
    "q179_truncation_recall" -> ((s: SparkSession, dir: String) =>
      graft.ops.KnnGraph.q179TruncationRecall(s, dir)),
    "q180_path_surprisal" -> ((s: SparkSession, dir: String) =>
      graft.ops.TimeSeries.q180PathSurprisal(s, dir)),
    "q181_knn_hubness" -> ((s: SparkSession, dir: String) =>
      graft.ops.KnnGraph.q181KnnHubness(s, dir)),
    "q182_source_cluster_entropy" -> ((s: SparkSession, dir: String) =>
      graft.ops.Clustering.q182SourceClusterEntropy(s, dir)),
    "q183_temperature_mix" -> ((s: SparkSession, dir: String) =>
      graft.ops.Mixing.q183TemperatureMix(s, dir)),
    "q184_mutual_knn_clusters" -> ((s: SparkSession, dir: String) =>
      graft.ops.KnnGraph.q184MutualKnnClusters(s, dir)),
    "q185_release_card" -> ((s: SparkSession, dir: String) =>
      graft.ops.SnapshotDiff.q185ReleaseCard(s, dir)),
    "q186_ks_drift" -> ((s: SparkSession, dir: String) =>
      graft.ops.Drift.q186KsDrift(s, dir)),
    "q187_ranksum_effect" -> ((s: SparkSession, dir: String) =>
      graft.ops.Drift.q187RankSumEffect(s, dir)),
    "q188_zipf_slope" -> ((s: SparkSession, dir: String) =>
      graft.ops.Distinctive.q188ZipfSlope(s, dir)),
    "q189_source_shapley" -> ((s: SparkSession, dir: String) =>
      graft.ops.Valuation.q189SourceShapley(s, dir)),
    "q190_winnowing" -> ((s: SparkSession, dir: String) =>
      graft.ops.Winnowing.q190Winnowing(s, dir)),
    "q191_cuped" -> ((s: SparkSession, dir: String) =>
      graft.ops.Experiment.q191Cuped(s, dir)),
    "q192_benford" -> ((s: SparkSession, dir: String) =>
      graft.ops.Benford.q192Benford(s, dir)),
    "q193_conformal" -> ((s: SparkSession, dir: String) =>
      graft.ops.Conformal.q193Conformal(s, dir)),
    "q194_record_linkage" -> ((s: SparkSession, dir: String) =>
      graft.ops.Linkage.q194RecordLinkage(s, dir)),
    "q195_cusum" -> ((s: SparkSession, dir: String) =>
      graft.ops.ChangePoint.q195CusumDaily(s, dir)),
    "q196_lsh_tuning" -> ((s: SparkSession, dir: String) =>
      graft.ops.LshTuning.q196LshTuning(s, dir)),
    "q197_hill_tail" -> ((s: SparkSession, dir: String) =>
      graft.ops.TailStats.q197HillTail(s, dir)),
    "q198_gini" -> ((s: SparkSession, dir: String) =>
      graft.ops.TailStats.q198Gini(s, dir)),
    "q199_jackknife" -> ((s: SparkSession, dir: String) =>
      graft.ops.Jackknife.q199Jackknife(s, dir)),
    "q200_absorbing_funnel" -> ((s: SparkSession, dir: String) =>
      graft.ops.Absorbing.q200AbsorbingFunnel(s, dir)),
    "q201_spearman" -> ((s: SparkSession, dir: String) =>
      graft.ops.Correlation.q201Spearman(s, dir)),
    "q202_auc_holdout" -> ((s: SparkSession, dir: String) =>
      graft.ops.QualityModel.q202AucHoldout(s, dir)),
    "q203_mmr_rerank" -> ((s: SparkSession, dir: String) =>
      graft.ops.Mmr.q203MmrRerank(s, dir)),
    "q204_kendall_tau" -> ((s: SparkSession, dir: String) =>
      graft.ops.Correlation.q204KendallTau(s, dir)),
    "q205_mutual_knn_cells" -> ((s: SparkSession, dir: String) =>
      graft.ops.KnnGraph.q205MutualKnnCells(s, dir)),
    "q206_semantic_dedup_cells" -> ((s: SparkSession, dir: String) =>
      graft.ops.Quantize.q206SemanticDedupCells(s, dir)),
    "q207_exact_substring" -> ((s: SparkSession, dir: String) =>
      graft.ops.ExactSubstring.q207ExactSubstring(s, dir)),
    "q208_clustering_agreement" -> ((s: SparkSession, dir: String) =>
      graft.ops.Clustering.q208ClusteringAgreement(s, dir)),
    "q209_raking_mix" -> ((s: SparkSession, dir: String) =>
      graft.ops.Mixing.q209RakingMix(s, dir)),
    "q210_burst_detection" -> ((s: SparkSession, dir: String) =>
      graft.ops.ChangePoint.q210BurstDetection(s, dir)),
    "q211_dedup_growth" -> ((s: SparkSession, dir: String) =>
      graft.ops.Dedup.q211DedupGrowth(s, dir)),
    "q214_robust_means" -> ((s: SparkSession, dir: String) =>
      graft.ops.RobustStats.q214RobustMeans(s, dir)),
    "q215_mann_kendall" -> ((s: SparkSession, dir: String) =>
      graft.ops.ChangePoint.q215MannKendall(s, dir)),
    "q212_leading_pc" -> ((s: SparkSession, dir: String) =>
      graft.ops.PowerIteration.q212LeadingPc(s, dir)),
    "q213_ht_estimate" -> ((s: SparkSession, dir: String) =>
      graft.ops.Estimation.q213HtEstimate(s, dir)),
    "q216_table_profile" -> ((s: SparkSession, dir: String) =>
      graft.ops.Profile.q216TableProfile(s, dir)),
    "q217_vocab_richness" -> ((s: SparkSession, dir: String) =>
      graft.ops.Vocabulary.q217VocabRichness(s, dir)),
    "q218_labeler_kappa" -> ((s: SparkSession, dir: String) =>
      graft.ops.Agreement.q218LabelerKappa(s, dir)),
    "q219_theil_sen" -> ((s: SparkSession, dir: String) =>
      graft.ops.ChangePoint.q219TheilSen(s, dir)),
    "q220_stationary_dist" -> ((s: SparkSession, dir: String) =>
      graft.ops.TimeSeries.q220StationaryDist(s, dir)),
    "q221_simpson_audit" -> ((s: SparkSession, dir: String) =>
      graft.ops.Correlation.q221SimpsonAudit(s, dir)),
    "q222_weighted_quantiles" -> ((s: SparkSession, dir: String) =>
      graft.ops.RobustStats.q222WeightedQuantiles(s, dir)),
    "q223_token_concentration" -> ((s: SparkSession, dir: String) =>
      graft.ops.RobustStats.q223TokenConcentration(s, dir)),
    "q224_image_neardup" -> ((s: SparkSession, dir: String) =>
      graft.ops.Multimodal.q224ImageNearDup(s, dir)),
    "q225_frame_sample" -> ((s: SparkSession, dir: String) =>
      graft.ops.Multimodal.q225FrameSample(s, dir)),
    "q226_semantic_dedup_tuned" -> ((s: SparkSession, dir: String) =>
      graft.ops.Quantize.q226SemanticDedupTuned(s, dir)),
    "q227_blocklist_scan" -> ((s: SparkSession, dir: String) =>
      graft.ops.Blocklist.q227BlocklistScan(s, dir)),
    "q228_mad_outliers" -> ((s: SparkSession, dir: String) =>
      graft.ops.RobustStats.q228MadOutliers(s, dir)),
    "q229_vocab_growth" -> ((s: SparkSession, dir: String) =>
      graft.ops.Vocabulary.q229VocabGrowth(s, dir)),
    "q230_wasserstein_drift" -> ((s: SparkSession, dir: String) =>
      graft.ops.Drift.q230WassersteinDrift(s, dir)),
    "q231_audio_neardup" -> ((s: SparkSession, dir: String) =>
      graft.ops.Multimodal.q231AudioNearDup(s, dir)),
    "q232_centroid_dendrogram" -> ((s: SparkSession, dir: String) =>
      graft.ops.Clustering.q232CentroidDendrogram(s, dir)),
    "q233_lang_pivot" -> ((s: SparkSession, dir: String) =>
      Relational.q233LangPivot(s, dir)),
    "q234_sprt_monitor" -> ((s: SparkSession, dir: String) =>
      graft.ops.ChangePoint.q234SprtMonitor(s, dir)),
    "q235_sliding_active" -> ((s: SparkSession, dir: String) =>
      graft.ops.TimeSeries.q235SlidingActive(s, dir)),
    "q236_pareto_frontier" -> ((s: SparkSession, dir: String) =>
      graft.ops.Selection.q236ParetoFrontier(s, dir)),
    "q237_time_weighted_avg" -> ((s: SparkSession, dir: String) =>
      graft.ops.TimeSeries.q237TimeWeightedAvg(s, dir)),
    "q238_prefix_cache" -> ((s: SparkSession, dir: String) =>
      graft.ops.PrefixCache.q238PrefixCache(s, dir)),
    "q239_metrics_unpivot" -> ((s: SparkSession, dir: String) =>
      Relational.q239MetricsUnpivot(s, dir)),
    "q240_l_diversity" -> ((s: SparkSession, dir: String) =>
      graft.ops.Privacy.q240LDiversity(s, dir)),
    "q241_runs_test" -> ((s: SparkSession, dir: String) =>
      graft.ops.Drift.q241RunsTest(s, dir)),
    "q242_scd2_history" -> ((s: SparkSession, dir: String) =>
      graft.ops.SnapshotDiff.q242Scd2History(s, dir)),
    "q243_coverage_select" -> ((s: SparkSession, dir: String) =>
      graft.ops.Selection.q243CoverageSelect(s, dir)),
    "q244_lagged_xcorr" -> ((s: SparkSession, dir: String) =>
      graft.ops.Correlation.q244LaggedXcorr(s, dir)),
    "q245_silhouette" -> ((s: SparkSession, dir: String) =>
      graft.ops.Clustering.q245Silhouette(s, dir)),
    "q246_dow_seasonality" -> ((s: SparkSession, dir: String) =>
      graft.ops.TimeSeries.q246DowSeasonality(s, dir)),
    "q247_inter_arrival" -> ((s: SparkSession, dir: String) =>
      graft.ops.TimeSeries.q247InterArrival(s, dir)),
    "q248_streamed_exactsub_index" -> ((s: SparkSession, dir: String) =>
      graft.ops.ExactSubstring.q248StreamedExactSubstringIndex(s, dir)),
    "q249_crossmodal_dedup" -> ((s: SparkSession, dir: String) =>
      graft.ops.Multimodal.q249CrossModalDedup(s, dir)),
    "q250_langid_eval" -> ((s: SparkSession, dir: String) =>
      graft.ops.Evaluation.q250LangIdEval(s, dir)),
    "q251_source_jsd" -> ((s: SparkSession, dir: String) =>
      graft.ops.Mixing.q251SourceJsd(s, dir)),
    "q252_decision_stump" -> ((s: SparkSession, dir: String) =>
      graft.ops.Stump.q252DecisionStump(s, dir)),
    "q253_ece_reliability" -> ((s: SparkSession, dir: String) =>
      graft.ops.Evaluation.q253EceReliability(s, dir)),
    "q254_oov_drift" -> ((s: SparkSession, dir: String) =>
      graft.ops.Vocabulary.q254OovDrift(s, dir)),
    "q255_heavyhitter_churn" -> ((s: SparkSession, dir: String) =>
      graft.ops.HeavyHitters.q255HeavyHitterChurn(s, dir).toDF()),
    "q256_late_data_audit" -> ((s: SparkSession, dir: String) =>
      graft.ops.StreamingGates.q256LateDataAudit(s, dir)),
    "q257_mahalanobis" -> ((s: SparkSession, dir: String) =>
      graft.ops.RobustStats.q257MahalanobisOutliers(s, dir)),
    "q258_exactsub_cut_plan" -> ((s: SparkSession, dir: String) =>
      graft.ops.ExactSubstring.q258ExactSubstringCutPlan(s, dir)),
    "q259_representation_audit" -> ((s: SparkSession, dir: String) =>
      graft.ops.Mixing.q259RepresentationAudit(s, dir)),
    "q260_label_noise" -> ((s: SparkSession, dir: String) =>
      graft.ops.KnnGraph.q260LabelNoise(s, dir)),
    "q261_fisher_separability" -> ((s: SparkSession, dir: String) =>
      graft.ops.Clustering.q261FisherSeparability(s, dir)),
    "q262_rendezvous_rebalance" -> ((s: SparkSession, dir: String) =>
      graft.ops.Sharding.q262RendezvousRebalance(s, dir)),
  )

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops. */
  def oracleSql: Map[String, String] = Map(
    "q01_pricing_summary" ->
      """SELECT l_returnflag, l_linestatus,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(28,6))) AS DOUBLE) AS sum_qty,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(28,6))) AS DOUBLE) AS sum_base_price,
        |  CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(28,6))) AS DOUBLE) AS sum_disc_price,
        |  CAST(SUM(CAST(l_extendedprice * (1 - l_discount) * (1 + l_tax) AS DECIMAL(28,6))) AS DOUBLE) AS sum_charge,
        |  COUNT(*) AS count_order
        |FROM lineitem
        |WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
        |GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin,

    "q02_top_revenue" ->
      """SELECT o_orderkey, strftime(o_orderdate, '%Y-%m-%d') AS orderdate,
        |  CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(28,6))) AS DOUBLE) AS revenue
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |WHERE c_mktsegment = 'BUILDING'
        |GROUP BY o_orderkey, strftime(o_orderdate, '%Y-%m-%d')
        |ORDER BY revenue DESC, o_orderkey
        |LIMIT 10""".stripMargin,

    "q03_nation_revenue" ->
      """SELECT r_name, n_name,
        |  CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(28,6))) AS DOUBLE) AS revenue,
        |  COUNT(*) AS n_items
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |GROUP BY r_name, n_name
        |ORDER BY r_name, n_name""".stripMargin,

    "q04_semi_join" ->
      """SELECT c_custkey, c_name, c_mktsegment FROM customer
        |WHERE EXISTS (SELECT 1 FROM orders
        |              WHERE o_custkey = c_custkey AND o_totalprice > 100000.0)
        |ORDER BY c_custkey""".stripMargin,

    "q05_anti_join" ->
      """SELECT c_custkey, c_name FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM orders
        |                  WHERE o_custkey = c_custkey
        |                    AND o_orderdate >= TIMESTAMP '2000-01-01 00:00:00')
        |ORDER BY c_custkey""".stripMargin,

    "q06_window_topk" ->
      """SELECT o_custkey, o_orderkey, o_totalprice, rnk FROM (
        |  SELECT o_custkey, o_orderkey, o_totalprice,
        |    ROW_NUMBER() OVER (PARTITION BY o_custkey
        |                       ORDER BY o_totalprice DESC, o_orderkey) AS rnk
        |  FROM orders) t
        |WHERE rnk <= 3
        |ORDER BY o_custkey, rnk""".stripMargin,

    "q07_running_sum" ->
      """SELECT user_id, event_id,
        |  CAST(SUM(CAST(value AS DECIMAL(28,6))) OVER (
        |    PARTITION BY user_id ORDER BY ts, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS running_value
        |FROM events
        |ORDER BY user_id, event_id""".stripMargin,

    "q08_rollup" ->
      """SELECT r_name, n_name,
        |  CAST(SUM(CAST(c_acctbal AS DECIMAL(28,6))) AS DOUBLE) AS total_acctbal,
        |  COUNT(*) AS n_cust
        |FROM customer
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |GROUP BY ROLLUP (r_name, n_name)
        |ORDER BY r_name NULLS FIRST, n_name NULLS FIRST""".stripMargin,

    "q09_distinct_counts" ->
      """SELECT l_returnflag,
        |  COUNT(DISTINCT l_suppkey) AS n_supp,
        |  COUNT(DISTINCT l_partkey) AS n_part,
        |  COUNT(*) AS n_rows
        |FROM lineitem
        |GROUP BY l_returnflag
        |ORDER BY l_returnflag""".stripMargin,

    "q10_setops" ->
      """SELECT 'both' AS tag, o_custkey FROM (
        |  SELECT DISTINCT o_custkey FROM orders WHERE year(o_orderdate) = 1995
        |  INTERSECT
        |  SELECT DISTINCT o_custkey FROM orders WHERE year(o_orderdate) = 1996) a
        |UNION ALL
        |SELECT 'only_1995' AS tag, o_custkey FROM (
        |  SELECT DISTINCT o_custkey FROM orders WHERE year(o_orderdate) = 1995
        |  EXCEPT
        |  SELECT DISTINCT o_custkey FROM orders WHERE year(o_orderdate) = 1996) b
        |ORDER BY tag, o_custkey""".stripMargin,

    "q11_top_parts" ->
      """SELECT l_partkey, p_name, p_brand,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(28,6))) AS DOUBLE) AS total_qty
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |GROUP BY l_partkey, p_name, p_brand
        |ORDER BY total_qty DESC, l_partkey
        |LIMIT 5""".stripMargin,

    "q12_scalar_functions" ->
      """SELECT p_partkey,
        |  UPPER(p_brand) AS brand_upper,
        |  SUBSTRING(p_type, 1, 5) AS type_prefix,
        |  CAST(LENGTH(p_name) AS BIGINT) AS name_len,
        |  CONCAT_WS('|', p_brand, p_type) AS brand_type,
        |  CONTAINS(p_name, 'green') AS has_green,
        |  CASE WHEN p_size < 10 THEN 'small'
        |       WHEN p_size < 30 THEN 'medium'
        |       ELSE 'large' END AS size_class,
        |  CAST(CAST(p_retailprice AS DECIMAL(18,2)) * CAST(1.100 AS DECIMAL(4,3)) AS DOUBLE) AS price_with_tax
        |FROM part
        |ORDER BY p_partkey""".stripMargin,

    "q13_pivot_events" ->
      """SELECT user_id,
        |  COUNT(CASE WHEN event_type = 'click' THEN 1 END) AS n_click,
        |  COUNT(CASE WHEN event_type = 'purchase' THEN 1 END) AS n_purchase,
        |  COUNT(CASE WHEN event_type = 'signup' THEN 1 END) AS n_signup,
        |  COUNT(CASE WHEN event_type = 'error' THEN 1 END) AS n_error,
        |  CAST(SUM(CASE WHEN event_type = 'purchase'
        |           THEN CAST(value AS DECIMAL(28,6)) END) AS DOUBLE) AS purchase_value
        |FROM events
        |GROUP BY user_id
        |ORDER BY user_id""".stripMargin,

    "q14_sessionize" ->
      """SELECT user_id,
        |  CAST(SUM(new_session) AS BIGINT) AS n_sessions,
        |  COUNT(*) AS n_events
        |FROM (
        |  SELECT user_id,
        |    CASE WHEN prev_ms IS NULL OR epoch_ms(ts) - prev_ms > 1800000
        |         THEN 1 ELSE 0 END AS new_session
        |  FROM (
        |    SELECT user_id, ts,
        |      LAG(epoch_ms(ts)) OVER (PARTITION BY user_id
        |                              ORDER BY ts, event_id) AS prev_ms
        |    FROM events) x) y
        |GROUP BY user_id
        |ORDER BY user_id""".stripMargin,

    "q15_json_extract" ->
      """SELECT event_type,
        |  CAST(SUM(CAST(regexp_extract(props, '"k":\s*(\d+)', 1) AS BIGINT)) AS BIGINT) AS sum_k,
        |  COUNT(*) AS n
        |FROM events
        |GROUP BY event_type
        |ORDER BY event_type""".stripMargin,

    "q16_asof_join" ->
      """SELECT e.event_id, e.user_id,
        |  COALESCE(m.o_orderkey, -1) AS asof_orderkey,
        |  COALESCE(m.od, '1970-01-01') AS asof_orderdate
        |FROM events e LEFT JOIN (
        |  SELECT event_id AS m_event_id, o_orderkey, strftime(o_orderdate, '%Y-%m-%d') AS od FROM (
        |    SELECT e2.event_id, o.o_orderkey, o.o_orderdate,
        |      ROW_NUMBER() OVER (PARTITION BY e2.event_id
        |                         ORDER BY o.o_orderdate DESC, o.o_orderkey DESC) AS rn
        |    FROM events e2 JOIN orders o
        |      ON e2.user_id = o.o_custkey
        |     AND epoch_ms(o.o_orderdate) <= epoch_ms(e2.ts)) z
        |  WHERE rn = 1) m ON e.event_id = m.m_event_id
        |ORDER BY e.event_id""".stripMargin,

    "q17_hourly_events" ->
      """SELECT CAST(epoch_ms(ts) // 3600000 AS BIGINT) AS hour_bucket, event_type,
        |  COUNT(*) AS n,
        |  CAST(SUM(CAST(value AS DECIMAL(28,6))) AS DOUBLE) AS total_value
        |FROM events
        |GROUP BY 1, 2
        |ORDER BY hour_bucket, event_type""".stripMargin,

    "q18_above_avg" ->
      """SELECT o_orderkey, o.o_custkey, o_totalprice
        |FROM orders o
        |JOIN (SELECT o_custkey AS ca_custkey,
        |        CAST(SUM(CAST(o_totalprice AS DECIMAL(28,6))) AS DOUBLE) / COUNT(*) AS avg_price
        |      FROM orders GROUP BY o_custkey) ca
        |  ON o.o_custkey = ca.ca_custkey
        |WHERE o_totalprice > avg_price
        |ORDER BY o_orderkey""".stripMargin,

    "q19_cube" ->
      """SELECT c_mktsegment, r_name,
        |  CAST(SUM(CAST(c_acctbal AS DECIMAL(28,6))) AS DOUBLE) AS total_acctbal,
        |  COUNT(*) AS n_cust
        |FROM customer
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |GROUP BY CUBE (c_mktsegment, r_name)
        |ORDER BY c_mktsegment NULLS FIRST, r_name NULLS FIRST""".stripMargin,

    "q20_s3log_etl" -> LogParsing.q20OracleSql,
    "q21_text_stats" -> ExtensionOracles.q21TextStats,
    "q22_lang_id" -> ExtensionOracles.q22LangId,
    "q23_fingerprint" -> ExtensionOracles.q23Fingerprint,
    "q24_dedup_exact" -> ExtensionOracles.q24ExactDedup,
    "q25_ngram_jaccard" -> ExtensionOracles.q25NgramJaccard,
    "q26_minhash_lsh" -> ExtensionOracles.q26MinhashLsh,
    "q27_simhash" -> ExtensionOracles.q27Simhash,
    "q28_ann_bruteforce" -> ExtensionOracles.q28BruteForceTopK,
    "q29_ann_lsh" -> ExtensionOracles.q29AnnLsh,
    "q30_multimodal_meta" -> ExtensionOracles.q30MultimodalMeta,
    // q31: KMV distinct estimate (q135's order-statistic replay) + exact
    // discrete median of a deterministic 25% primary-key hash sample —
    // every "approximate" number is a pure function of md5, so the
    // oracle replays it as an equality (HLL++/percentile_approx
    // internals kept this rows-only for four rounds)
    "q31_approx_aggs" ->
      """WITH fr AS (SELECT DISTINCT l_returnflag AS rf,
        |    CAST(('0x' || substr(md5(CAST(l_partkey AS VARCHAR)), 1, 8)) AS BIGINT)
        |      / 4294967296.0 AS frac
        |  FROM lineitem),
        |rk AS (SELECT rf, frac,
        |    row_number() OVER (PARTITION BY rf ORDER BY frac) AS rn FROM fr),
        |st AS (SELECT rf,
        |    CAST(SUM(CASE WHEN rn <= 256 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
        |    MAX(CASE WHEN rn = 256 THEN frac END) AS u256
        |  FROM rk GROUP BY rf),
        |ap AS (SELECT rf, round(CASE WHEN n_kept < 256 THEN CAST(n_kept AS DOUBLE)
        |                            ELSE 255.0 / u256 END, 6) AS approx_parts FROM st),
        |samp AS (SELECT * FROM lineitem
        |  WHERE substr(md5(CAST(l_orderkey AS VARCHAR) || '_' ||
        |               CAST(l_linenumber AS VARCHAR)), 1, 8) < '40000000'),
        |sn AS (SELECT l_returnflag AS mf, COUNT(*) AS nsamp FROM samp GROUP BY 1),
        |med AS (SELECT l_returnflag, approx_median_price FROM (
        |    SELECT l_returnflag, l_extendedprice AS approx_median_price, nsamp,
        |      ROW_NUMBER() OVER (PARTITION BY l_returnflag
        |                         ORDER BY l_extendedprice, l_orderkey, l_linenumber) AS rn
        |    FROM samp JOIN sn ON l_returnflag = mf) t
        |  WHERE rn = CAST(ceil(nsamp / 2.0) AS BIGINT)),
        |nn AS (SELECT l_returnflag, CAST(COUNT(*) AS BIGINT) AS n
        |       FROM lineitem GROUP BY 1)
        |SELECT ap.rf AS l_returnflag, ap.approx_parts,
        |  med.approx_median_price, nn.n
        |FROM ap JOIN med ON ap.rf = med.l_returnflag
        |JOIN nn ON ap.rf = nn.l_returnflag
        |ORDER BY 1""".stripMargin,

    "q32_split_assign" ->
      """SELECT split, COUNT(*) AS n_docs, COUNT(DISTINCT lang) AS n_langs FROM (
        |  SELECT doc_id, lang,
        |    CASE WHEN substring(md5(CAST(doc_id AS VARCHAR)), 1, 2) < 'cc' THEN 'train'
        |         WHEN substring(md5(CAST(doc_id AS VARCHAR)), 1, 2) < 'e6' THEN 'val'
        |         ELSE 'test' END AS split
        |  FROM documents) t
        |GROUP BY split
        |ORDER BY split""".stripMargin,

    "q33_median_disc" ->
      """SELECT l_returnflag, median_price, n FROM (
        |  SELECT l_returnflag, l_extendedprice AS median_price, n,
        |    ROW_NUMBER() OVER (PARTITION BY l_returnflag
        |                       ORDER BY l_extendedprice, l_orderkey, l_linenumber) AS rn
        |  FROM lineitem
        |  JOIN (SELECT l_returnflag AS cf, COUNT(*) AS n FROM lineitem GROUP BY 1) c
        |    ON l_returnflag = cf) t
        |WHERE rn = CAST(ceil(n / 2.0) AS BIGINT)
        |ORDER BY l_returnflag""".stripMargin,

    "q34_moment_stats" ->
      """SELECT l_returnflag, n,
        |  round((n * sxy - sx * sy) /
        |    (sqrt(n * sxx - sx * sx) * sqrt(n * syy - sy * sy)), 12) AS corr_qty_price,
        |  round(sqrt(n * sxx - sx * sx) / n, 12) AS stddev_pop_qty
        |FROM (
        |  SELECT l_returnflag, COUNT(*) AS n,
        |    CAST(SUM(CAST(l_quantity AS DECIMAL(28,6))) AS DOUBLE) AS sx,
        |    CAST(SUM(CAST(l_extendedprice AS DECIMAL(28,6))) AS DOUBLE) AS sy,
        |    CAST(SUM(CAST(l_quantity * l_quantity AS DECIMAL(28,6))) AS DOUBLE) AS sxx,
        |    CAST(SUM(CAST(l_extendedprice * l_extendedprice AS DECIMAL(28,6))) AS DOUBLE) AS syy,
        |    CAST(SUM(CAST(l_quantity * l_extendedprice AS DECIMAL(28,6))) AS DOUBLE) AS sxy
        |  FROM lineitem GROUP BY l_returnflag) t
        |ORDER BY l_returnflag""".stripMargin,

    "q35_array_agg" ->
      """SELECT o_orderpriority,
        |  array_to_string(list_sort(list(o_orderkey))[1:5], ',') AS first5_orderkeys,
        |  COUNT(*) AS n
        |FROM orders
        |GROUP BY o_orderpriority
        |ORDER BY o_orderpriority""".stripMargin,

    "q36_embedding_neardup" -> ExtensionOracles.q36EmbeddingNearDup,
    "q37_repetition" -> ExtensionOracles.q37Repetition,
    "q38_quantize" -> ExtensionOracles.q38Quantize,
    "q39_filter_pipeline" -> ExtensionOracles.q39FilterPipeline,
    "q40_neardup_clusters" -> ExtensionOracles.q40NearDupClusters,
    "q41_tfidf" -> ExtensionOracles.q41Tfidf,
    "q42_seq_packing" -> ExtensionOracles.q42SequencePacking,
    "q43_decontamination" -> ExtensionOracles.q43Decontamination,
    "q44_ip_anonymize" -> ExtensionOracles.q44IpAnonymize,
    "q45_domain_mix" -> ExtensionOracles.q45DomainMix,
    "q46_curriculum" -> ExtensionOracles.q46Curriculum,
    "q47_semantic_dedup" -> ExtensionOracles.q47SemanticDedup,
    "q48_unigram_logprob" -> ExtensionOracles.q48UnigramLogprob,
    "q54_sliding_hourly" ->
      """WITH h AS (SELECT CAST(epoch_ms(ts) // 3600000 AS BIGINT) AS hour_bucket,
        |    event_type, COUNT(*) AS n, SUM(CAST(value AS DECIMAL(28,6))) AS dv
        |  FROM events GROUP BY 1, 2)
        |SELECT hour_bucket, event_type, n,
        |  CAST(dv AS DOUBLE) AS total_value,
        |  CAST(SUM(n) OVER w AS BIGINT) AS n_3h,
        |  CAST(SUM(n) OVER w AS DOUBLE) / (COUNT(*) OVER w) AS avg_n_3h,
        |  CAST(SUM(dv) OVER w AS DOUBLE) / (COUNT(*) OVER w) AS avg_value_3h
        |FROM h
        |WINDOW w AS (PARTITION BY event_type ORDER BY hour_bucket
        |             ROWS BETWEEN 2 PRECEDING AND CURRENT ROW)
        |ORDER BY hour_bucket, event_type""".stripMargin,

    "q55_winsorized" ->
      """WITH r AS (SELECT l_returnflag, l_extendedprice,
        |    row_number() OVER (PARTITION BY l_returnflag ORDER BY l_extendedprice) AS rn,
        |    COUNT(*) OVER (PARTITION BY l_returnflag) AS n
        |  FROM lineitem),
        |c AS (SELECT l_returnflag,
        |    MIN(CASE WHEN rn = (n + 19) // 20 THEN l_extendedprice END) AS p05,
        |    MIN(CASE WHEN rn = (19 * n + 19) // 20 THEN l_extendedprice END) AS p95
        |  FROM r GROUP BY l_returnflag)
        |SELECT l.l_returnflag, COUNT(*) AS n, MIN(p05) AS p05, MIN(p95) AS p95,
        |  CAST(SUM(CAST(least(greatest(l_extendedprice, p05), p95)
        |    AS DECIMAL(28,6))) AS DOUBLE) / COUNT(*) AS winsorized_mean,
        |  CAST(SUM(CASE WHEN l_extendedprice < p05 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_clamped_low,
        |  CAST(SUM(CASE WHEN l_extendedprice > p95 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_clamped_high
        |FROM lineitem l JOIN c ON l.l_returnflag = c.l_returnflag
        |GROUP BY l.l_returnflag
        |ORDER BY l.l_returnflag""".stripMargin,

    "q56_epoch_shuffle" ->
      """WITH r AS (SELECT doc_id,
        |    row_number() OVER (ORDER BY
        |      substring(md5('epoch1:' || CAST(doc_id AS VARCHAR)), 1, 13),
        |      doc_id) AS position
        |  FROM documents)
        |SELECT doc_id, CAST(position AS BIGINT) AS position,
        |  CAST((position - 1) // 64 AS BIGINT) AS shard_id,
        |  CAST((position - 1) % 64 AS BIGINT) AS pos_in_shard
        |FROM r
        |ORDER BY doc_id""".stripMargin,

    "q49_token_budget" -> ExtensionOracles.q49TokenBudget,
    "q50_vocab_coverage" -> ExtensionOracles.q50VocabCoverage,
    "q51_char_entropy" -> ExtensionOracles.q51CharEntropy,
    "q52_stratified_sample" -> ExtensionOracles.q52StratifiedSample,
    "q57_pipeline" -> ExtensionOracles.q57PipelineDecision,
    "q53_crossdoc_repetition" -> ExtensionOracles.q53CrossDocRepetition,
    "q58_bm25" -> ExtensionOracles.q58Bm25,
    "q59_chunking" -> ExtensionOracles.q59Chunking,
    "q60_pii_redact" -> ExtensionOracles.q60PiiRedact,
    "q61_source_quota" -> ExtensionOracles.q61SourceQuota,
    "q62_weighted_sample" -> ExtensionOracles.q62WeightedSample,
    "q63_snapshot_diff" -> ExtensionOracles.q63SnapshotDiff,
    "q64_pq_ann" -> ExtensionOracles.q64PqAnn,
    "q65_bpe_tokens" -> ExtensionOracles.q65BpeTokens,
    "q66_bigram_logprob" -> ExtensionOracles.q66BigramLogprob,
    "q67_data_card" -> ExtensionOracles.q67DataCard,
    "q68_quality_model" -> ExtensionOracles.q68QualityModel,
    "q69_source_divergence" -> ExtensionOracles.q69SourceDivergence,
    "q70_substring_dup" -> ExtensionOracles.q70SubstringDup,
    "q71_hard_negatives" -> ExtensionOracles.q71HardNegatives,
    "q72_leakage_split" -> ExtensionOracles.q72LeakageSafeSplit,
    "q73_mixture_interleave" -> ExtensionOracles.q73MixtureInterleave,
    "q74_source_overlap" -> ExtensionOracles.q74SourceOverlap,
    "q75_source_diversity" -> ExtensionOracles.q75SourceDiversity,
    "q76_embedding_negatives" -> ExtensionOracles.q76EmbeddingNegatives,
    "q77_dsir_importance" -> ExtensionOracles.q77DsirImportance,
    "q78_temporal_drift" -> ExtensionOracles.q78TemporalDrift,
    "q79_length_buckets" -> ExtensionOracles.q79LengthBuckets,
    "q80_canonical_docs" -> ExtensionOracles.q80CanonicalDocs,
    "q81_embedding_clusters" -> ExtensionOracles.q81EmbeddingClusters,
    "q82_span_removal" -> ExtensionOracles.q82SpanRemoval,
    "q83_cluster_sample" -> ExtensionOracles.q83ClusterSample,
    "q84_rollup_maintenance" -> ExtensionOracles.q84RollupMaintenance,
    "q85_event_funnel" -> ExtensionOracles.q85EventFunnel,
    "q86_retention_cohorts" -> ExtensionOracles.q86RetentionCohorts,
    "q87_tokenizer_fertility" -> ExtensionOracles.q87TokenizerFertility,
    "q88_length_quantiles" -> ExtensionOracles.q88LengthQuantiles,
    "q89_index_probe" -> ExtensionOracles.q89IndexProbe,
    // the staged (resumable) execution path must produce EXACTLY the
    // in-session cascade's verdicts — same oracle by construction
    "q90_staged_pipeline" -> ExtensionOracles.q57PipelineDecision,
    "q91_token_ids" -> ExtensionOracles.q91TokenIds,
    "q92_random_projection" -> ExtensionOracles.q92RandomProjection,
    "q93_semantic_decontamination" -> ExtensionOracles.q93SemanticDecontamination,
    "q94_cluster_purity" -> ExtensionOracles.q94ClusterPurity,
    "q95_mixture_allocation" -> ExtensionOracles.q95MixtureAllocation,
    "q96_index_delete_probe" -> ExtensionOracles.q96IndexDeleteProbe,
    "q97_quality_calibration" -> ExtensionOracles.q97QualityCalibration,
    "q98_contrastive_set" -> ExtensionOracles.q98ContrastiveSet,
    "q99_rollup_quantiles" -> ExtensionOracles.q99RollupQuantiles,
    "q100_index_sync_probe" -> ExtensionOracles.q100IndexSyncProbe,
    "q101_url_canonicalize" -> ExtensionOracles.q101UrlCanonicalize,
    "q102_gap_fill" -> ExtensionOracles.q102GapFill,
    "q103_grouping_sets" -> ExtensionOracles.q103GroupingSets,
    "q104_k_anonymity" -> ExtensionOracles.q104KAnonymity,
    "q105_hourly_anomaly" -> ExtensionOracles.q105HourlyAnomaly,
    "q106_url_dedup" -> ExtensionOracles.q106UrlDedup,
    // q102's SQL verbatim: serving from the three-slice store must hash
    // identically to a fresh scan of raw history
    "q107_hourly_store_serve" -> ExtensionOracles.q102GapFill,
    "q108_snapshot_apply" -> ExtensionOracles.q108SnapshotApply,
    "q109_fuzzy_dedup" -> ExtensionOracles.q109FuzzyDedup,
    "q110_pagerank" -> ExtensionOracles.q110PageRank,
    "q111_interval_overlap" -> ExtensionOracles.q111IntervalOverlap,
    "q112_bloom_semi_join" ->
      """SELECT l_returnflag, COUNT(*) AS n_items,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(28,6))) AS DOUBLE) AS sum_qty
        |FROM lineitem
        |WHERE l_orderkey IN (SELECT o_orderkey FROM orders WHERE o_totalprice > 400000)
        |GROUP BY l_returnflag
        |ORDER BY l_returnflag""".stripMargin,
    "q113_exact_jaccard" -> ExtensionOracles.q113ExactJaccard,
    "q114_triangle_count" -> ExtensionOracles.q114TriangleCount,
    "q115_markov_transitions" -> ExtensionOracles.q115MarkovTransitions,
    "q116_frequent_pairs" -> ExtensionOracles.q116FrequentPairs,
    "q117_scd2_join" -> ExtensionOracles.q117Scd2Join,
    "q118_item_cosine" -> ExtensionOracles.q118ItemCosine,
    "q119_centroid_cosines" -> ExtensionOracles.q119CentroidCosines,
    "q120_product_families" -> ExtensionOracles.q120ProductFamilies,
    "q121_ecdf" -> ExtensionOracles.q121Ecdf,
    "q122_multiblock_fuzzy" -> ExtensionOracles.q122MultiBlockFuzzy,
    "q123_preference_pairs" -> ExtensionOracles.q123PreferencePairs,
    "q124_label_vote" -> ExtensionOracles.q124LabelVote,
    "q125_normalized_dedup" -> ExtensionOracles.q125NormalizedDedup,
    "q126_split_balance" -> ExtensionOracles.q126SplitBalance,
    "q127_embedding_standardize" -> ExtensionOracles.q127EmbeddingStandardize,
    "q128_ewma" -> ExtensionOracles.q128Ewma,
    "q129_feature_hash" -> ExtensionOracles.q129FeatureHash,
    "q130_session_paths" -> ExtensionOracles.q130SessionPaths,
    "q131_trend_slope" -> ExtensionOracles.q131TrendSlope,
    "q132_negative_edges" -> ExtensionOracles.q132NegativeEdges,
    "q133_pmi_collocations" -> ExtensionOracles.q133PmiCollocations,
    "q134_horizon_dedup" -> ExtensionOracles.q134HorizonDedup,
    "q135_kmv_distinct" -> ExtensionOracles.q135KmvDistinct,
    "q136_source_overlap" -> ExtensionOracles.q136SourceOverlap,
    "q137_annotator_kappa" -> ExtensionOracles.q137AnnotatorKappa,
    "q138_containment" -> ExtensionOracles.q138Containment,
    "q139_growth_accounting" -> ExtensionOracles.q139GrowthAccounting,
    "q140_trailing_distinct" -> ExtensionOracles.q140TrailingDistinct,
    "q141_sketch_store" -> ExtensionOracles.q141SketchStoreServe,
    "q142_ab_test" -> ExtensionOracles.q142AbTest,
    "q143_quality_audit" -> ExtensionOracles.q143QualityAudit,
    "q144_psi_drift" -> ExtensionOracles.q144PsiDrift,
    "q145_streamed_sketch_store" -> ExtensionOracles.q145StreamedSketchServe,
    "q146_streamed_attribution" -> ExtensionOracles.q146StreamedAttribution,
    "q147_streamed_sessions" -> ExtensionOracles.q147StreamedSessions,
    "q148_streamed_dedup" -> ExtensionOracles.q148StreamedDedup,
    "q149_boilerplate_removal" -> ExtensionOracles.q149BoilerplateRemoval,
    "q150_heavy_tokens" -> ExtensionOracles.q150HeavyTokens,
    "q151_hybrid_rrf" -> ExtensionOracles.q151HybridRrf,
    "q152_streamed_heavy_users" -> ExtensionOracles.q152StreamedHeavyUsers,
    "q153_skipgram_pairs" -> ExtensionOracles.q153SkipgramPairs,
    "q154_unigram_ids" -> ExtensionOracles.q154UnigramIds,
    "q155_unigram_perplexity" -> ExtensionOracles.q155UnigramPerplexity,
    "q156_rag_context" -> ExtensionOracles.q156RagContext,
    "q157_ltr_features" -> ExtensionOracles.q157LtrFeatures,
    // q158 serves q149's rewrite from the standing df store; the oracle
    // is the FROM-SCRATCH replay — equality is the store's proof
    "q158_store_boilerplate" -> ExtensionOracles.q149BoilerplateRemoval,
    // q159 maintains the same store through Structured Streaming; the
    // from-scratch replay again proves stream ≡ scan
    "q159_streamed_boilerplate" -> ExtensionOracles.q149BoilerplateRemoval,
    "q160_phrase_search" -> ExtensionOracles.q160PhraseSearch,
    "q161_kn_bigram_score" -> ExtensionOracles.q161KnBigramScore,
    // the oracle replays the assignment from the PERSISTED centroids
    // over the raw embeddings — equality proves the streamed,
    // cell-partitioned store holds exactly the direct assignment
    "q162_streamed_ivf_store" -> ExtensionOracles.q162StreamedIvfStore,
    "q163_kcenter_coreset" -> ExtensionOracles.q163KcenterCoreset,
    "q164_ivf_lifecycle" -> ExtensionOracles.q164IvfLifecycle,
    "q165_span_corruption" -> ExtensionOracles.q165SpanCorruption,
    "q166_doc_novelty" -> ExtensionOracles.q166DocNovelty,
    "q167_quantile_normalize" -> ExtensionOracles.q167QuantileNormalize,
    "q168_fim_transform" -> ExtensionOracles.q168FimTransform,
    // q89's oracle verbatim: the index holds the %5!=0 corpus whether
    // written once or streamed in — equality proves the append path
    "q169_streamed_neardup_index" -> ExtensionOracles.q89IndexProbe,
    "q170_isotonic_calibration" -> ExtensionOracles.q170IsotonicCalibration,
    "q171_dedup_attribution" -> ExtensionOracles.q171DedupAttribution,
    "q172_query_expansion" -> ExtensionOracles.q172QueryExpansion,
    "q173_crop_pairs" -> ExtensionOracles.q173CropPairs,
    "q174_tokenizer_compare" -> ExtensionOracles.q174TokenizerCompare,
    "q175_distinctive_terms" -> ExtensionOracles.q175DistinctiveTerms,
    "q176_ir_metrics" -> ExtensionOracles.q176IrMetrics,
    "q177_mutual_knn" -> ExtensionOracles.q177MutualKnn,
    "q178_label_propagation" -> ExtensionOracles.q178LabelPropagation,
    "q179_truncation_recall" -> ExtensionOracles.q179TruncationRecall,
    "q180_path_surprisal" -> ExtensionOracles.q180PathSurprisal,
    "q181_knn_hubness" -> ExtensionOracles.q181KnnHubness,
    "q182_source_cluster_entropy" -> ExtensionOracles.q182SourceClusterEntropy,
    "q183_temperature_mix" -> ExtensionOracles.q183TemperatureMix,
    "q184_mutual_knn_clusters" -> ExtensionOracles.q184MutualKnnClusters,
    "q185_release_card" -> ExtensionOracles.q185ReleaseCard,
    "q186_ks_drift" -> ExtensionOracles.q186KsDrift,
    "q187_ranksum_effect" -> ExtensionOracles.q187RankSumEffect,
    "q188_zipf_slope" -> ExtensionOracles.q188ZipfSlope,
    "q189_source_shapley" -> ExtensionOracles.q189SourceShapley,
    "q190_winnowing" -> ExtensionOracles.q190Winnowing,
    "q191_cuped" -> ExtensionOracles.q191Cuped,
    "q192_benford" -> ExtensionOracles.q192Benford,
    "q193_conformal" -> ExtensionOracles.q193Conformal,
    "q194_record_linkage" -> ExtensionOracles.q194RecordLinkage,
    "q195_cusum" -> ExtensionOracles.q195CusumDaily,
    "q196_lsh_tuning" -> ExtensionOracles.q196LshTuning,
    "q197_hill_tail" -> ExtensionOracles.q197HillTail,
    "q198_gini" -> ExtensionOracles.q198Gini,
    "q199_jackknife" -> ExtensionOracles.q199Jackknife,
    "q200_absorbing_funnel" -> ExtensionOracles.q200AbsorbingFunnel,
    "q201_spearman" -> ExtensionOracles.q201Spearman,
    "q202_auc_holdout" -> ExtensionOracles.q202AucHoldout,
    "q203_mmr_rerank" -> ExtensionOracles.q203MmrRerank,
    "q204_kendall_tau" -> ExtensionOracles.q204KendallTau,
    "q205_mutual_knn_cells" -> ExtensionOracles.q205MutualKnnCells,
    "q206_semantic_dedup_cells" -> ExtensionOracles.q206SemanticDedupCells,
    "q207_exact_substring" -> ExtensionOracles.q207ExactSubstring,
    "q208_clustering_agreement" -> ExtensionOracles.q208ClusteringAgreement,
    "q209_raking_mix" -> ExtensionOracles.q209RakingMix,
    "q210_burst_detection" -> ExtensionOracles.q210BurstDetection,
    "q211_dedup_growth" -> ExtensionOracles.q211DedupGrowth,
    "q214_robust_means" -> ExtensionOracles.q214RobustMeans,
    "q215_mann_kendall" -> ExtensionOracles.q215MannKendall,
    "q212_leading_pc" -> ExtensionOracles.q212LeadingPc,
    "q213_ht_estimate" -> ExtensionOracles.q213HtEstimate,
    "q216_table_profile" -> ExtensionOracles.q216TableProfile,
    "q217_vocab_richness" -> ExtensionOracles.q217VocabRichness,
    "q218_labeler_kappa" -> ExtensionOracles.q218LabelerKappa,
    "q219_theil_sen" -> ExtensionOracles.q219TheilSen,
    "q220_stationary_dist" -> ExtensionOracles.q220StationaryDist,
    "q221_simpson_audit" -> ExtensionOracles.q221SimpsonAudit,
    "q222_weighted_quantiles" -> ExtensionOracles.q222WeightedQuantiles,
    "q223_token_concentration" -> ExtensionOracles.q223TokenConcentration,
    "q224_image_neardup" -> ExtensionOracles.q224ImageNearDup,
    "q225_frame_sample" -> ExtensionOracles.q225FrameSample,
    "q226_semantic_dedup_tuned" -> ExtensionOracles.q226SemanticDedupTuned,
    "q227_blocklist_scan" -> ExtensionOracles.q227BlocklistScan,
    "q228_mad_outliers" -> ExtensionOracles.q228MadOutliers,
    "q229_vocab_growth" -> ExtensionOracles.q229VocabGrowth,
    "q230_wasserstein_drift" -> ExtensionOracles.q230WassersteinDrift,
    "q231_audio_neardup" -> ExtensionOracles.q231AudioNearDup,
    "q232_centroid_dendrogram" -> ExtensionOracles.q232CentroidDendrogram,
    "q233_lang_pivot" -> ExtensionOracles.q233LangPivot,
    "q234_sprt_monitor" -> ExtensionOracles.q234SprtMonitor,
    "q235_sliding_active" -> ExtensionOracles.q235SlidingActive,
    "q236_pareto_frontier" -> ExtensionOracles.q236ParetoFrontier,
    "q237_time_weighted_avg" -> ExtensionOracles.q237TimeWeightedAvg,
    "q238_prefix_cache" -> ExtensionOracles.q238PrefixCache,
    "q239_metrics_unpivot" -> ExtensionOracles.q239MetricsUnpivot,
    "q240_l_diversity" -> ExtensionOracles.q240LDiversity,
    "q241_runs_test" -> ExtensionOracles.q241RunsTest,
    "q242_scd2_history" -> ExtensionOracles.q242Scd2History,
    "q243_coverage_select" -> ExtensionOracles.q243CoverageSelect,
    "q244_lagged_xcorr" -> ExtensionOracles.q244LaggedXcorr,
    "q245_silhouette" -> ExtensionOracles.q245Silhouette,
    "q246_dow_seasonality" -> ExtensionOracles.q246DowSeasonality,
    "q247_inter_arrival" -> ExtensionOracles.q247InterArrival,
    "q248_streamed_exactsub_index" -> ExtensionOracles.q248StreamedExactSubstring,
    "q249_crossmodal_dedup" -> ExtensionOracles.q249CrossModalDedup,
    "q250_langid_eval" -> ExtensionOracles.q250LangIdEval,
    "q251_source_jsd" -> ExtensionOracles.q251SourceJsd,
    "q252_decision_stump" -> ExtensionOracles.q252DecisionStump,
    "q253_ece_reliability" -> ExtensionOracles.q253EceReliability,
    "q254_oov_drift" -> ExtensionOracles.q254OovDrift,
    "q255_heavyhitter_churn" -> ExtensionOracles.q255HeavyHitterChurn,
    "q256_late_data_audit" -> ExtensionOracles.q256LateDataAudit,
    "q257_mahalanobis" -> ExtensionOracles.q257MahalanobisOutliers,
    "q258_exactsub_cut_plan" -> ExtensionOracles.q258ExactSubstringCutPlan,
    "q259_representation_audit" -> ExtensionOracles.q259RepresentationAudit,
    "q260_label_noise" -> ExtensionOracles.q260LabelNoise,
    "q261_fisher_separability" -> ExtensionOracles.q261FisherSeparability,
    "q262_rendezvous_rebalance" -> ExtensionOracles.q262RendezvousRebalance,
  )
}
