package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.operators.{Extensions, PrepPipeline, Queries, TextAnalysis}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Each entry in [[queries]] is one operator from SURVEY.md §2 instantiated
  * on the driver testdata (FIXTURES.md §B role mapping); [[oracleSql]]
  * holds the DuckDB-equivalent SQL over the same parquet tables. Column
  * names are aliased identically on both sides (the driver sorts columns
  * by name before hashing). Aggregates over doubles are computed in
  * DECIMAL(38,10) on both sides so the hash cannot depend on summation
  * order.
  */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    Queries.q21FactBuild(spark, "/root/testdata/sf0.001")

  /** Built once (as is [[oracleSql]]): a harness looks queries up by
    * name hundreds of times a run. */
  lazy val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q01_pricing_summary"  -> (Queries.q01PricingSummary _),
    "q02_filter_project"   -> (Queries.q02FilterProject _),
    "q03_serving_stmt"     -> (Queries.q03ServingStatementQuery _),
    "q04_fanout_join"      -> (Queries.q04FanoutJoinAgg _),
    "q05_anti_join"        -> (Queries.q05AntiJoin _),
    "q06_broadcast_lookup" -> (Queries.q06BroadcastLookup _),
    "q07_first_match"      -> (Queries.q07FirstMatchLookup _),
    "q08_latest_per_key"   -> (Queries.q08LatestPerKey _),
    "q09_window_rank"      -> (Queries.q09WindowRank _),
    "q10_dup_detector"     -> (Queries.q10DupDetector _),
    "q11_topk"             -> (Queries.q11TopK _),
    "q12_sort_limit"       -> (Queries.q12SortLimit _),
    "q13_availability"     -> (Queries.q13Availability _),
    "q14_json_extract"     -> (Queries.q14JsonExtract _),
    "q15_doc_assembly"     -> (Queries.q15DocAssembly _),
    "q16_domain_checks"    -> (Queries.q16DomainChecks _),
    "q17_date_buckets"     -> (Queries.q17DateBuckets _),
    "q18_null_sanitize"    -> (Queries.q18NullSanitize _),
    "q19_case_mapping"     -> (Queries.q19CaseMapping _),
    "q20_union_distinct"   -> (Queries.q20UnionDistinct _),
    "q21_fact_build"       -> (Queries.q21FactBuild _),
    // Beyond-parity LLM-pipeline operators (graft.operators.Extensions):
    "q22_exact_dup"        -> (Extensions.q22ExactDup _),
    "q23_ngram_jaccard"    -> (Extensions.q23NgramJaccard _),
    "q24_minhash_lsh"      -> (Extensions.q24MinHashLsh _),
    "q25_simhash"          -> (Extensions.q25SimHash _),
    "q26_cosine_topk"      -> (Extensions.q26CosineTopK _),
    "q27_ann_lsh"          -> (Extensions.q27AnnLsh _),
    "q28_langid"           -> (Extensions.q28LangId _),
    "q29_text_quality"     -> (Extensions.q29TextQuality _),
    "q30_token_count"      -> (Extensions.q30TokenCount _),
    "q31_fingerprint"      -> (Extensions.q31Fingerprint _),
    "q32_embed_stats"      -> (Extensions.q32EmbedStats _),
    "q33_multimodal_meta"  -> (Extensions.q33MultimodalMeta _),
    "q34_winnow"           -> (Extensions.q34Winnow _),
    "q35_embed_neardup"    -> (Extensions.q35EmbedNearDup _),
    "q36_ivf_topk"         -> (Extensions.q36IvfTopK _),
    "q37_multimodal_decode" -> (Extensions.q37MultimodalDecode _),
    "q38_salted_join"      -> (Queries.q38SaltedJoin _),
    "q39_prep_pipeline"    -> ((s, d) => PrepPipeline.prepQuery(s, d)),
    "q40_chunking"         -> ((s, d) => TextAnalysis.chunkQuery(s, d)),
    "q41_asof_join"        -> (Extensions.q41AsOfJoin _),
    "q42_range_join"       -> (Extensions.q42RangeJoin _),
    "q43_decontaminate"    -> (Extensions.q43Decontaminate _),
    "q44_split_assign"     -> ((s, d) => PrepPipeline.splitAssignment(
      graft.sources.Tables.documents(s, d)).orderBy("doc_id")),
    "q45_dup_clusters"     -> (Extensions.q45DupClusters _),
    "q46_sessionize"       -> (Extensions.q46Sessionize _),
    "q47_tfidf"            -> (Extensions.q47Tfidf _),
    "q48_repetition"       -> (Extensions.q48Repetition _),
    "q49_pii_redact"       -> (Extensions.q49Redact _),
    "q50_rollup"           -> (Extensions.q50Rollup _),
    "q51_pivot"            -> (Extensions.q51Pivot _),
    "q52_moving_window"    -> (Extensions.q52MovingWindow _),
    "q53_percentiles"      -> (Extensions.q53Percentiles _),
    "q54_zorder"           -> (Extensions.q54ZOrder _),
    "q55_packing"          -> ((s, d) => PrepPipeline.packingOffsets(
      graft.sources.Tables.documents(s, d))),
    "q56_ann_portable"     -> (Extensions.q56AnnPortable _),
    "q57_layout_stats"     -> (Extensions.q57LayoutStats _),
    "q58_semantic_dedup"   -> (Extensions.q58SemanticDedup _),
    "q59_stratified_sample" -> (Extensions.q59StratifiedSample _),
    "q60_mixing_weights"   -> (Extensions.q60MixingWeights _),
    "q61_quota_select"     -> (Extensions.q61QuotaSelect _),
    "q62_edit_blocked"     -> (Extensions.q62EditBlocked _),
    "q63_funnel"           -> (Extensions.q63Funnel _),
    "q64_cube"             -> (Extensions.q64Cube _),
    "q65_incremental_dedup" -> (Extensions.q65IncrementalDedup _),
    "q66_scd2"             -> (Extensions.q66Scd2 _),
    "q67_exact_sample"     -> (Extensions.q67ExactSample _),
    "q68_vocab"            -> (Extensions.q68Vocab _),
    "q69_winnow_pairs"     -> (Extensions.q69WinnowPairs _),
    "q70_length_trim"      -> (Extensions.q70LengthTrim _),
    "q71_span_dedup"       -> (Extensions.q71SpanDup _),
    "q72_vocab_coverage"   -> (Extensions.q72VocabCoverage _),
    "q73_embed_decontam"   -> (Extensions.q73EmbedDecontam _),
    "q74_gap_fill"         -> (Extensions.q74GapFill _),
    "q75_outlier_fences"   -> (Extensions.q75OutlierFences _),
    "q76_posting_lists"    -> (Extensions.q76PostingLists _),
    "q77_transitions"      -> (Extensions.q77Transitions _),
    "q78_containment"      -> (Extensions.q78Containment _),
    "q79_concurrency"      -> (Extensions.q79Concurrency _),
    "q80_retention"        -> (Extensions.q80Retention _),
    "q81_ivf_anchors"      -> (Extensions.q81IvfAnchors _),
    "q82_skipgram"         -> (Extensions.q82Skipgram _),
    "q83_heavy_hitters"    -> (Extensions.q83HeavyHitters _),
    "q84_setops"           -> (Extensions.q84SetOps _),
    "q85_deciles"          -> (Extensions.q85Deciles _),
    "q86_pmi"              -> (Extensions.q86Pmi _),
    "q87_normalize"        -> (Extensions.q87Normalize _),
    "q88_unpivot"          -> (Extensions.q88Unpivot _),
    "q89_listagg"          -> (Extensions.q89ListAgg _),
    "q90_mode"             -> (Extensions.q90Mode _),
    "q91_snapshot_diff"    -> (Extensions.q91SnapshotDiff _),
    "q92_rolling_active"   -> (Extensions.q92RollingActive _),
    "q93_comoments"        -> (Extensions.q93Comoments _),
    "q94_histogram"        -> (Extensions.q94Histogram _),
    "q95_bpe_pairs"        -> (Extensions.q95BpePairs _),
    "q96_drift_union"      -> (Extensions.q96DriftUnion _),
    "q97_mad_outliers"     -> (Extensions.q97MadOutliers _),
    "q98_negative_samples" -> (Extensions.q98NegativeSamples _),
    "q99_mixture"          -> (Extensions.q99MixtureMaterialize _),
    "q100_pagerank"        -> (Extensions.q100PageRank _),
    "q101_cms"             -> (Extensions.q101Cms _),
    "q102_quantile_map"    -> (Extensions.q102QuantileMap _),
    "q103_weighted_sample" -> (Extensions.q103WeightedSample _),
    "q104_budget_alloc"    -> (Extensions.q104BudgetAlloc _),
    "q105_chi_square"      -> (Extensions.q105ChiSquare _),
    "q106_session_paths"   -> (Extensions.q106SessionPaths _),
    "q107_skew_report"     -> (Extensions.q107SkewReport _),
    "q108_scd2_asof"       -> (Extensions.q108Scd2AsOf _),
    "q109_temporal_join"   -> (Extensions.q109TemporalJoin _),
    "q110_trend"           -> (Extensions.q110Trend _),
    "q111_freq_spectrum"   -> (Extensions.q111FreqSpectrum _),
    "q112_k_anonymity"     -> (Extensions.q112KAnonymity _),
    "q113_ivm"             -> (Extensions.q113Ivm _),
    "q114_minmax_scale"    -> (Extensions.q114MinMaxScale _),
    "q115_funnel_latency"  -> (Extensions.q115FunnelLatency _),
    "q116_ri_summary"      -> (Extensions.q116RiSummary _),
    "q117_parent_share"    -> (Extensions.q117ParentShare _),
    "q118_histogram_cdf"   -> (Extensions.q118HistogramCdf _),
    "q119_weighted_median" -> (Extensions.q119WeightedMedian _),
    "q120_basket_pairs"    -> (Extensions.q120BasketPairs _),
    "q121_contiguity"      -> (Extensions.q121Contiguity _),
    "q122_stratified_k"    -> (Extensions.q122StratifiedExactK _),
    "q123_drift_tvd"       -> (Extensions.q123DriftTvd _),
    "q124_conv_decile"     -> (Extensions.q124ConversionDecile _),
    "q125_freshness"       -> (Extensions.q125Freshness _),
    "q126_markov"          -> (Extensions.q126Markov _),
    "q127_audience"        -> (Extensions.q127AudienceOverlap _),
    "q128_dispersion"      -> (Extensions.q128PriceDispersion _),
    "q129_decay_score"     -> (Extensions.q129DecayScore _),
    "q130_source_vocab"    -> (Extensions.q130SourceVocab _),
    "q131_pareto"          -> (Extensions.q131Pareto _),
    "q132_bounce_rate"     -> (Extensions.q132BounceRate _),
    "q133_heatmap"         -> (Extensions.q133Heatmap _),
    "q134_column_profile"  -> (Extensions.q134ColumnProfile _),
    "q135_ttr"             -> (Extensions.q135Ttr _),
    "q136_basket_lift"     -> (Extensions.q136BasketLift _),
    "q137_autocorr"        -> (Extensions.q137Autocorr _),
    "q138_assertions"      -> (Extensions.q138Assertions _),
    "q139_rfm"             -> (Extensions.q139Rfm _),
    "q140_hhi"             -> (Extensions.q140Hhi _),
    "q141_seasonal"        -> (Extensions.q141Seasonal _),
    "q142_new_returning"   -> (Extensions.q142NewReturning _),
    "q143_packing_waste"   -> (Extensions.q143PackingWaste _),
    "q144_dedup_savings"   -> (Extensions.q144DedupSavings _),
    "q145_stream_monitor"  ->
      (graft.streaming.MonitorStream.monitorTimelineQuery _),
    "q146_bpe_merges"      ->
      ((s, d) => TextAnalysis.bpeMergesQuery(s, d)),
    "q147_pruning_proof"   ->
      (graft.operators.Maintenance.pruningProofQuery _),
    "q148_bpe_segments"    ->
      ((s, d) => TextAnalysis.bpeSegmentStatsQuery(s, d)),
    "q149_ingest_sessions" ->
      (graft.streaming.EventStream.ingestSessionQuery _),
    "q150_ann_recall"      ->
      ((s, d) => graft.operators.Similarity.annRecallQuery(s, d)),
    "q151_recall_curve"    ->
      ((s, d) => graft.operators.Similarity.annRecallCurveQuery(s, d)),
    "q152_hll_registers"   ->
      ((s, d) => graft.operators.DistinctSketch.hllRegistersQuery(s, d)),
    "q153_bloom_prune"     ->
      (graft.operators.JoinStrategies.bloomPruneQuery _),
    "q154_join_size"       ->
      ((s, d) => graft.operators.JoinStrategies.selfJoinSizeQuery(s, d)),
    "q155_join_size_2rel"  ->
      (graft.operators.JoinStrategies.joinSizeQuery _),
    "q156_l_diversity"     ->
      (graft.operators.OlapOps.lDiversityQuery _),
    "q157_t_closeness"     ->
      (graft.operators.OlapOps.tClosenessQuery _),
    "q158_deletion_vectors" ->
      (graft.operators.Maintenance.deletionVectorQuery _),
    "q159_revenue_by_nation" ->
      (graft.operators.Queries.q159RevenueByNation _),
    "q160_daily_registers" ->
      (graft.operators.DistinctSketch.dailyRegistersQuery _),
    "q161_cluster_best"    -> (Extensions.q161ClusterBest _),
    "q162_ppr"             ->
      ((s, d) => graft.operators.GraphRank.pprQuery(s, d)),
    "q163_gini"            ->
      (graft.operators.OlapOps.giniQuery _),
    "q164_attribution"     ->
      ((s, d) => graft.operators.Sessionize.attributionQuery(s, d)),
    "q165_last_touch"      ->
      ((s, d) => graft.operators.Sessionize.lastTouchQuery(s, d)),
    // q166-q168: driver-oracle coverage for the three §2 ops that were
    // previously unit-tested only (F8 lateral flatten, P6 membership
    // filter, O4 top/bottom-K — VERDICT r7 item 5).
    "q166_flatten_view"    -> (q166FlattenView _),
    "q167_membership_topk" -> (q167MembershipTopK _),
    "q168_top_bottom_k"    -> (q168TopBottomK _),
    // q169: §2.11 free-form SQL passthrough as a driver-oracle query
    // (VERDICT r8 item 2) — the reference's most user-visible surface.
    "q169_sql_passthrough" -> (q169SqlPassthrough _),
    // q170/q171: the SINKS themselves under oracle check — parquet
    // partitioned write + partition-discovery read (S7/S13) and JSON
    // doc write + schema'd load (S9/S10), matched against DuckDB over
    // the ORIGINAL tables, so the round-trips prove lossless.
    "q170_sink_roundtrip"  -> (Extensions.q170SinkRoundtrip _),
    "q171_json_roundtrip"  -> (Extensions.q171JsonRoundtrip _),
    // q172: explicit GROUPING SETS — completes the ROLLUP/CUBE family
    // with the arbitrary-subset form (two summaries, one scan).
    "q172_grouping_sets"   ->
      (graft.operators.OlapOps.groupingSetsQuery _),
    // q173: MATCH_RECOGNIZE-lite — regex motif counting over
    // session-bounded event-type strings (gap-rule sessionization).
    "q173_session_pattern" ->
      ((s, d) => graft.operators.Sessionize.sessionPatternQuery(s, d)),
    // q174: bigram-LM fluency scoring — corpus-trained add-one
    // transition model, every doc scored by mean P(w2|w1), exact e6.
    "q174_bigram_lm"       ->
      (graft.operators.CorpusStats.bigramLmQuery _),
    // q175: the TSV scanner under oracle check — headered TSV write,
    // SecIngest.readTsv+typed read-back with a reordered/re-cased
    // declared schema, aggregate matched against the original table.
    "q175_tsv_roundtrip"   -> (Extensions.q175TsvRoundtrip _),
    // q176/q177: the graph-topology family — degree-oriented triangle
    // census with clustering coefficients, and bounded multi-source
    // BFS reach from the heaviest-purchaser seeds. Same co-activity
    // graph as q100/q162 (one edge definition across the family).
    "q176_triangles"       ->
      (graft.operators.GraphTopology.triangleQuery _),
    "q177_bfs_reach"       ->
      (graft.operators.GraphTopology.bfsQuery _),
    // q178: schema evolution under oracle check — two write epochs
    // (one pre-dating the lang/source columns), one mergeSchema scan,
    // nulls folded to a sentinel and matched against the original.
    "q178_evolution"       -> (Extensions.q178EvolutionRoundtrip _),
    // q179: model-eval metrics — confusion-derived per-class
    // precision/recall/F1 over a deterministic argmax stand-in
    // classifier (the metric arithmetic is what's certified).
    "q179_classifier_eval" ->
      (graft.operators.ModelEval.classifierEvalQuery _),
    // q180: the ZIP extraction scanner under oracle check — TSV parts
    // packaged as quarter-style archives, read back through the
    // distributed readZipTsv+typed ingest path.
    "q180_zip_roundtrip"   -> (Extensions.q180ZipRoundtrip _),
    // q181: KMV bottom-k audience sketches + sketch-only union/Jaccard
    // set algebra, exact baselines alongside (custom bounded-buffer
    // TypedImperativeAggregate; the set-algebra sketch beside
    // CMS/HLL/AGMS).
    "q181_kmv_jaccard"     -> ((s, d) =>
      graft.operators.DistinctSketch.kmvJaccardQuery(s, d)),
    // q182: quantile sketch — mergeable hash-sample quantile estimates
    // self-adjudicated against exact ranks (the quantile member of the
    // sketch family; q150's report shape applied to rank error).
    "q182_quantile_sketch" ->
      (graft.operators.QuantileSketch.quantileSketchQuery _),
    // q183: leakage-safe split — q44's content-hash split lifted to
    // dup-CLUSTER granularity: near-dup families are atomically
    // train/val/test (decontamination-by-construction).
    "q183_leakage_split"   -> ((s, d) => {
      val docs = graft.sources.Tables.documents(s, d)
      graft.operators.PrepPipeline.leakageSafeSplit(
        docs, Extensions.dupPairs(docs))
    }),
    // q184/q185: ranking metrics from ONE score histogram — tie-
    // corrected Mann-Whitney AUC (integral 2U arithmetic) and the
    // per-threshold ROC curve.
    "q184_auc"             -> (graft.operators.ModelEval.aucQuery _),
    "q185_roc_curve"       -> (graft.operators.ModelEval.rocCurveQuery _),
    // q186-q188: the rest of the ranking-eval family off the same
    // histogram — PR curve, integral average precision, and the
    // reliability (calibration) table.
    "q186_pr_curve"        -> (graft.operators.ModelEval.prCurveQuery _),
    "q187_avg_precision"   -> (graft.operators.ModelEval.avgPrecisionQuery _),
    "q188_calibration"     -> (graft.operators.ModelEval.calibrationQuery _),
    // q189/q190: order-invariant per-partition content digests and
    // the snapshot-drift detection they enable (find the touched
    // day-partitions without a row-level diff).
    "q189_partition_digest" ->
      (graft.operators.Maintenance.partitionDigestQuery _),
    "q190_partition_drift" ->
      (graft.operators.Maintenance.partitionDriftQuery _),
    // q191: IVM under retractions — signed-multiplicity delta merged
    // onto stored partials equals the post-delete full recompute
    // (completes q113's append-only maintenance).
    "q191_ivm_retract"     -> (graft.operators.OlapOps.ivmRetractQuery _),
    // q192: the composed curation manifest — gates → near-dup
    // clusters → leakage-safe split → per-split release rollup, one
    // job; the hash certifies the COMPOSITION of q39/q45/q183.
    "q192_curation_manifest" ->
      ((s, d) => graft.operators.PrepPipeline.curationManifestQuery(s, d)),
    // q193: Hilbert-curve layout stats (q54's twin) — aligned buckets
    // are exact quadrants, so locality is bounded by construction.
    "q193_hilbert"         -> (graft.operators.ZOrder.hilbertQuery _),
    // q194: k-core decomposition by bounded iterative peeling — the
    // coreness community filter (completes the graph family).
    "q194_kcore"           -> (graft.operators.GraphTopology.kcoreQuery _),
    // q195: sliding trailing-7-day distinct registers for every day,
    // derived from daily partials alone (the windowed-serving payoff
    // of sketch mergeability; q160 extended to the full series).
    "q195_sliding_registers" ->
      (graft.operators.DistinctSketch.slidingRegistersQuery _),
    // q196: weighted quantiles per stratum — q119's blocked
    // cumulative-weight median generalized to a probe set.
    "q196_weighted_quantiles" ->
      (graft.operators.OlapOps.weightedQuantilesQuery _),
    // q197: winsorized (clamped-to-[p05,p95]) robust mean per stratum.
    "q197_winsorized_mean" ->
      (graft.operators.OlapOps.winsorizedMeanQuery _),
    // q198: quoted-CSV scanner round-trip with injected delimiters,
    // quotes, and in-field newlines (the dialect path q175 can't hit).
    "q198_csv_roundtrip"   -> (Extensions.q198CsvRoundtrip _),
    // q199: the Markov model evaluated — holdout next-event top-1
    // accuracy per prev state (closes the q126 loop).
    "q199_markov_eval"     ->
      (graft.operators.Sessionize.markovEvalQuery _),
    // q200: temperature-flattened (alpha = 0.5) source mixing shares.
    "q200_temperature_mix" -> ((s, d) =>
      graft.operators.Curation.temperatureMix(
        graft.sources.Tables.documents(s, d))),
    // q201: index-accelerated substring search — trigram-index probe
    // + LIKE verification (the pg_trgm rewrite, relationally).
    "q201_trigram_like"    ->
      (graft.operators.CorpusStats.trigramLikeQuery _),
    // q202: sorted-neighborhood near-dup pairs — the sort-based
    // blocking family beside the inverted index and LSH (linear
    // candidate volume by construction).
    "q202_sorted_neighborhood" -> ((s, d) =>
      graft.operators.Dedup.sortedNeighborhoodPairs(
        graft.sources.Tables.documents(s, d))),
    // q203: label-noise suspects by exact k-NN disagreement (the
    // confident-learning pre-training pass; LSH/IVF is the scale
    // path for the candidate set, the voting is unchanged).
    "q203_label_noise"     ->
      (graft.operators.Similarity.labelNoiseQuery _),
    // q204: hard-example mining — per anchor the hardest negative /
    // positive and the triplet margin (contrastive batch construction).
    "q204_hard_negatives"  ->
      (graft.operators.Similarity.hardNegativesQuery _),
    // q205: per-class centroid drift between two snapshots — integer
    // L1 in quantized units, no floating centroid ever materialized.
    "q205_centroid_drift"  ->
      (graft.operators.Similarity.centroidDriftQuery _),
    // q206: earth-mover drift between snapshot halves — gap-weighted
    // CDF differences (the transport metric q123's TVD misses).
    "q206_emd_drift"       -> ((s, d) =>
      graft.operators.Curation.driftEmdQuery(
        graft.sources.Tables.documents(s, d))),
    // q207: burst detection — daily counts vs the trailing-7 baseline
    // with integer doubling/halving alerts (today never dilutes its
    // own baseline).
    "q207_burst_detect"    -> (graft.operators.OlapOps.burstDetectQuery _),
    // q208: incremental cluster assignment — the new batch joins the
    // STORED clusters by min matched label, no corpus re-clustering.
    "q208_incremental_clusters" ->
      (Extensions.q208IncrementalClusters _),
    // q209: dedup method comparison — pair yield and doc coverage of
    // the three blocking families on the same corpus.
    "q209_dedup_method_compare" ->
      (Extensions.q209DedupMethodCompare _),
    // q210: q203's voting over LSH-blocked candidates — the 100 TB
    // shape (shuffle on bucket, no corpus broadcast, no all-pairs).
    "q210_label_noise_lsh" ->
      (graft.operators.Similarity.labelNoiseLshQuery _),
    // q211: q204's argmins over the same blocked candidate frame.
    "q211_hard_negatives_lsh" ->
      (graft.operators.Similarity.hardNegativesLshQuery _),
    // q212: the blocking faithfulness report — candidate-pair recall
    // vs the exact top-k set + suspect agreement (the q150 discipline
    // applied to the kNN-voting family).
    "q212_knn_block_recall" ->
      (graft.operators.Similarity.knnBlockRecallQuery _),
    // q213: S14 table introspection as a checked query — schema rows
    // (canonical engine-neutral types) + deterministic key-ordered
    // sample, both through the serving route's tableInfo pair.
    "q213_table_info" ->
      (graft.operators.SecServing.tableInfoQuery _),
    // q214: blocking fidelity for the argmin family — same neg/pos
    // extremes as exhaustive, per-anchor, plus the e6 error mass.
    "q214_hard_negative_fidelity" ->
      (graft.operators.Similarity.hardNegativeFidelityQuery _),
    // q215: the sketch cube — one finest-grain register table serves
    // the whole grouping-set lattice by metadata-scale max-merge.
    "q215_sketch_cube" ->
      (graft.operators.DistinctSketch.rollupRegistersQuery _),
    // q216: product-quantization ADC top-k — candidates scored only
    // through their codes + the query LUT (the third ANN family).
    "q216_pq_topk" ->
      (graft.operators.ProductQuant.pqTopKQuery _),
    // q217: PQ recall vs the exact ranking on the same integer grid.
    "q217_pq_recall" ->
      (graft.operators.ProductQuant.pqRecallQuery _),
    // q218: streaming ingest-dedup, oracle-checked — doubled corpus
    // drained through the stateful dedup; every fp survives once.
    "q218_stream_dedup" ->
      (graft.streaming.DocStream.streamDedupQuery _),
    // q219: reciprocal-rank fusion of the three ANN families' top-k
    // lists (LSH + IVF + PQ) with integer RRF scores.
    "q219_rank_fusion" ->
      (graft.operators.Similarity.rankFusionQuery _),
    // q220: per-type CUSUM changepoint detection — the sustained
    // level-shift complement to q207's spike rule, all integer.
    "q220_cusum" ->
      (graft.operators.OlapOps.cusumQuery _),
    // q221: resource-allocation link prediction — top non-adjacent
    // pairs by Σ 1e6 div deg(w) over common neighbors (the no-log
    // member of the common-neighbors family, integer-exact).
    "q221_link_prediction" ->
      (graft.operators.GraphTopology.linkPredictionQuery _),
    // q222: n-gram test-set contamination audit — fraction of each
    // held-out doc's distinct 5-grams present anywhere in the train
    // split (the GPT-3 App. C decontamination rule, integer-exact).
    "q222_ngram_contamination" ->
      (graft.operators.CorpusStats.contaminationQuery _),
    // q223: BM25 ranked retrieval — Okapi tf-saturation and length
    // normalization as exact integer rationals; only the term-level
    // idf touches doubles (round-6/truncate quantized).
    "q223_bm25" ->
      (graft.operators.Retrieval.bm25Query _),
    // q224: blocking-family agreement matrix — pairwise overlap and
    // pair-set Jaccard of the three near-dup methods (q209's counts
    // extended to their set algebra).
    "q224_dedup_agreement" ->
      (Extensions.q224DedupAgreement _),
    // q225: prefix-filtered set-similarity join (PPJoin family) —
    // the lossless fourth blocking family; its oracle is the UNCAPPED
    // exact threshold join, so the hash-match certifies the
    // losslessness theorem itself.
    "q225_ppjoin" -> ((s, d) =>
      graft.operators.Dedup.ppjoinPairs(
        graft.sources.Tables.documents(s, d))),
    // q226: time-respecting earliest-arrival reachability — q177's
    // BFS with causally-valid paths only (edge usable iff its hour
    // >= the source's arrival), bounded min-arrival rounds.
    "q226_temporal_reach" ->
      (graft.operators.GraphTopology.temporalReachQuery _),
    // q227: communities by deterministic synchronous label
    // propagation (mode-of-neighbors, min-label ties, bounded
    // rounds) — the dense-core complement to q45's connectivity.
    "q227_lpa_communities" ->
      (graft.operators.GraphTopology.labelPropagationQuery _),
    // q228: dimension-truncation fidelity — recall@k of prefix-width
    // cosine rankings vs the full-width exact ranking (the
    // Matryoshka-serving report; q150/q217's discipline on the
    // truncation axis).
    "q228_trunc_recall" ->
      (graft.operators.Similarity.truncationRecallQuery _),
    // q229: the watermarked stream-stream interval join driven to a
    // hash-checked answer (single-batch drain = complete result; the
    // batch interval join is the oracle).
    "q229_stream_join" ->
      (graft.streaming.StreamJoin.streamJoinQuery _),
    // q230: graph feature propagation — activity features smoothed
    // by bounded neighbor-mean rounds (the SGC/GraphSAGE-mean
    // primitive in exact integer arithmetic).
    "q230_feature_prop" ->
      (graft.operators.GraphTopology.featurePropagationQuery _),
    // q231: weighted PageRank — q100 with mass split by tie strength
    // (shared-cell counts) over the co-activity multigraph.
    "q231_weighted_pagerank" -> ((s, d) =>
      graft.operators.GraphRank.weightedPageRankQuery(s, d)),
    // q232: union-dedup keeper map — connected components over the
    // UNION of all four blocking families' pair sets; the
    // per-document keeper verdict a dedup stage applies.
    "q232_union_dedup" -> (Extensions.q232UnionDedup _),
    // q233: Gopher-style within-document repetition gate — top
    // unigram/bigram shares and duplicate-trigram fraction in ppm,
    // with the documented keep thresholds.
    "q233_repetition_filter" -> ((s, d) =>
      graft.operators.RepetitionFilter.repetitionQuery(s, d)),
    // q234: deterministic content-hash sampling balancing the
    // language strata — the reproducible class-balancing step.
    "q234_balanced_sample" -> ((s, d) =>
      graft.operators.Sampling.balancedSampleQuery(s, d)),
    // q235: cross-document shared-span coverage (Lee et al. exact-
    // substring dedup signal) — per-doc tokens covered by any
    // 5-gram appearing verbatim in another document.
    "q235_shared_spans" -> ((s, d) =>
      graft.operators.RepetitionFilter.sharedSpanQuery(s, d)),
    // q236: exact-budget largest-remainder quota manifest over the
    // q200 temperature weights, filled by md5 rank per source.
    "q236_quota_manifest" -> ((s, d) =>
      graft.operators.Sampling.quotaManifestQuery(s, d)),
    // q237: concat-and-split context-window assignment per source
    // shard — start window, offset, span, split flag per document.
    "q237_context_windows" -> ((s, d) =>
      graft.operators.Packing.contextWindowsQuery(s, d)),
    // q238: the STREAMING packer — per-source running offsets carried
    // in keyed state across micro-batches; the batch q237 arithmetic
    // is the oracle for the drained stream (q218/q229 discipline).
    "q238_stream_packing" -> ((s, d) =>
      graft.streaming.PackStream.streamPackingQuery(s, d)),
    // q239: per-source boilerplate coverage (the C4 repeated-lines
    // rule) — grams occurring in a large fraction of one source's
    // docs, and the per-doc token mass a strip would remove.
    "q239_boilerplate" -> ((s, d) =>
      graft.operators.RepetitionFilter.boilerplateQuery(s, d)),
    // q240: the bucketed co-located join driven write→catalog→
    // bucketed-read→merge-join→aggregate; the shuffle-elision layout
    // discipline as an oracle-checked round-trip (q170's pattern).
    "q240_bucketed_join" -> ((s, d) =>
      graft.operators.JoinStrategies.bucketedRevenueQuery(s, d)),
    // q241: Zipf rank-frequency constancy by decimal-magnitude rank
    // band — the corpus-mix diagnostic (flat mean rank×freq = Zipfian).
    "q241_zipf_bands" -> ((s, d) =>
      graft.operators.TextAnalysis.zipfQuery(s, d)),
    // q242: Heaps-law vocabulary growth per corpus decile — one
    // first-occurrence pass, not ten prefix distincts.
    "q242_heaps_growth" -> ((s, d) =>
      graft.operators.TextAnalysis.heapsQuery(s, d)),
    // q243: watermark LATE-DATA accounting — three staged arrival
    // waves with deterministic stragglers; the oracle replays the
    // accept/late-drop/close-emit lifecycle from the batch table
    // (the one streaming semantic q145/q218/q229/q238 never late).
    "q243_late_audit" -> ((s, d) =>
      graft.streaming.LateStream.lateAuditQuery(s, d)),
    // q244: the BUILT-IN session_window operator (state-store-backed
    // gap sessions, touch-merge boundary, end = last + gap) drained
    // across a two-wave split so sessions must merge across batches;
    // the custom flatMapGroupsWithState sessionizer (q46 twin) covers
    // the beyond-gap semantics, this covers the engine-native path.
    "q244_session_window" -> ((s, d) =>
      graft.streaming.SessionStream.sessionWindowQuery(s, d)),
    // q245: single-pass piggybacked QC metrics — gate → observe →
    // parquet write in ONE action; the returned row is what the
    // write's own tasks accumulated (CollectMetricsExec), no second
    // scan. The oracle recomputes the aggregates the expensive way.
    "q245_observed_qc" -> ((s, d) =>
      graft.quality.ObservedMetrics.observedWriteQuery(s, d)),
    // q246: per-user power-of-two milestone crossings via the Spark 4
    // transformWithState API on the RocksDB state store — named state
    // primitives instead of one encoded blob per key, the state
    // backend that survives keyed state larger than executor memory.
    "q246_milestones" -> ((s, d) =>
      graft.streaming.MilestoneStream.milestoneQuery(s, d)),
    // q247: the ORC sink + pushdown read-back (q170's round-trip
    // discipline on the second columnar format).
    "q247_orc_roundtrip" -> (Extensions.q247OrcRoundtrip _),
    // q248: the UNTYPED document route — Spark VARIANT standing in
    // for the reference's Snowflake raw_json, flattened by path to
    // exactly q166's typed view (same oracle).
    "q248_variant_flatten" -> (q248VariantFlatten _),
    // q249: the XML sink + schema'd load (q171's fidelity discipline
    // on the markup format — element escaping must round-trip).
    "q249_xml_roundtrip" -> (Extensions.q249XmlRoundtrip _),
    // q250: idle-close per-user summaries via transformWithState
    // EVENT-TIME TIMERS + MapState on RocksDB — the push-based "key
    // went quiet" primitive (q246's sibling on the timer surface).
    "q250_idle_close" -> ((s, d) =>
      graft.streaming.IdleCloseStream.idleCloseQuery(s, d)),
    // q251: the LEFT OUTER stream-stream interval join — q229's
    // sibling on the null-completion path (unmatched clicks emit once
    // the watermark proves no purchase can still match).
    "q251_stream_left_join" -> ((s, d) =>
      graft.streaming.StreamJoin.leftJoinQuery(s, d)),
    // q252: CHAINED stateful operators — the interval join feeding a
    // windowed aggregation in one streaming query (SPARK-42376's
    // multi-stateful support; two state stores, one watermark).
    "q252_join_then_window" -> ((s, d) =>
      graft.streaming.StreamJoin.joinedWindowQuery(s, d)),
    // q253: the foreachBatch UPSERT SINK itself under oracle check —
    // two version-split waves so the second merge must overwrite, the
    // final snapshot equals DuckDB's argmax per user.
    "q253_stream_upsert" -> ((s, d) =>
      graft.streaming.UpsertStream.upsertQuery(s, d)),
    // q254: the STREAMING funnel drained to the batch funnel's
    // stage-count spine; q63's oracle verbatim.
    "q254_stream_funnel" -> ((s, d) =>
      graft.streaming.FunnelStream.funnelQuery(s, d)),
    // q255: the rolling-actives stream (chained dropDuplicates →
    // sliding-window count) drained to the watermark-closed WAU
    // curve — the last unit-only streaming surface promoted.
    "q255_stream_actives" -> ((s, d) =>
      graft.streaming.ActiveUsersStream.activeUsersQuery(s, d)),
    // q256/q257: the two output modes the rest of the streaming
    // family never uses — UPDATE feeding a last-writer-wins keyed
    // merge, COMPLETE feeding a snapshot-overwritten top-K
    // leaderboard (global sort+limit is legal only in complete mode).
    "q256_update_mode" -> ((s, d) =>
      graft.streaming.UpdateModeStream.updateModeQuery(s, d)),
    "q257_complete_topk" -> ((s, d) =>
      graft.streaming.UpdateModeStream.completeModeQuery(s, d)),
    // q258: STREAM-STATIC enrichment — the dimension-attach join a
    // live fact feed needs (broadcast re-planned per micro-batch, no
    // state store), drained over 2 batches to prove the re-attach.
    "q258_stream_static" -> ((s, d) =>
      graft.streaming.EnrichStream.enrichedQuery(s, d)),
    // q259: BOUNDED-STATE streaming dedup via
    // dropDuplicatesWithinWatermark — q218's dedup with expiring keys;
    // the staged echo waves exercise suppression AND re-admission, and
    // the drain itself asserts the store stayed below the key history.
    "q259_bounded_dedup" -> ((s, d) =>
      graft.streaming.BoundedDedupStream.boundedDedupQuery(s, d)),
    // q260: trailing 30-day per-customer aggregates via a RANGE
    // interval frame (the value-interval window mode; per-key frames).
    "q260_trailing_window" -> ((s, d) =>
      graft.operators.OlapOps.trailingWindowQuery(s, d)),
    // q261: Pareto-frontier (skyline) selection over two quality
    // objectives — running-max reduction vs the oracle's quadratic
    // dominance definition.
    "q261_skyline" -> ((s, d) =>
      graft.operators.Curation.skylineQuery(s, d)),
    // q262: hashed bigram feature export (fastText-style buckets) —
    // the sparse-vector feature step before a classifier quality gate.
    "q262_hashed_features" -> ((s, d) =>
      graft.operators.TextAnalysis.hashedFeaturesQuery(s, d)),
    // q263: incremental aggregate maintenance (IVM) — base table ⊎
    // delta partials merged by key; the oracle recomputes from
    // scratch, certifying the monoid merge loses nothing.
    "q263_incremental_agg" -> ((s, d) =>
      graft.operators.Maintenance.incrementalAggQuery(s, d)),
    // q264: per-source distinctive terms by chi-square keyness —
    // exact DECIMAL(38) contingency arithmetic, top-5 per source.
    "q264_keyness" -> ((s, d) =>
      graft.operators.CorpusStats.keynessQuery(s, d)),
    // q265: the upsert feed's change-data-feed — per-batch insert/
    // update classification against the pre-merge snapshot, appended
    // to a partitioned CDC log (q253's downstream contract).
    "q265_stream_cdc" -> ((s, d) =>
      graft.streaming.UpsertStream.cdcQuery(s, d)),
    // q266: typed cogroup reconciliation — both sides' iterators per
    // key, certified against the relational full-outer-join oracle.
    "q266_cogroup_reconcile" -> ((s, d) =>
      graft.operators.Reconcile.reconcileQuery(s, d)),
    // q267: ANALYZE-style exact column-stats manifest via one
    // unpivot Expand + one (column, value) aggregation.
    "q267_column_stats" -> ((s, d) =>
      graft.operators.Maintenance.tableStatsQuery(s, d)),
    // q268: rendezvous (HRW) sharding + expansion movement report —
    // the minimal-movement assignment rule, 8->9 shard transition
    // matrix certified against the same-hash argmax oracle.
    "q268_rendezvous_shards" -> ((s, d) =>
      graft.operators.Sharding.rendezvousQuery(s, d)),
    // q269: weighted priority sampling (deterministic integer A-ES):
    // bottom-K of hash div weight — the importance-weighted sampler.
    "q269_priority_sample" -> ((s, d) =>
      graft.operators.Sampling.prioritySampleQuery(s, d)),
    // q270: inter-arrival burstiness (squared coefficient of
    // variation; exponential gaps => cv2_e6 ~ 1e6) per event type —
    // one exact rational, (n·Σg²−(Σg)²)·1e6 div (Σg)².
    "q270_burstiness" -> ((s, d) =>
      graft.operators.Sessionize.fanoQuery(s, d)),
    // q271: per-user same-type run detection via transformWithState
    // LIST state (≤2-entry sliding window per key on RocksDB) — the
    // CEP-lite trigger; runs straddling the wave boundary certify
    // cross-batch list carry.
    "q271_type_runs" -> ((s, d) =>
      graft.streaming.RunStream.typeRunsQuery(s, d)),
    // q272: Benford first-digit audit on order totals — the forensic
    // DQ screen; exact cents digits, shared e6 reference literals.
    "q272_benford" -> ((s, d) =>
      graft.quality.DataQuality.benfordQuery(s, d)),
    // q273: the stream-stream interval join drained across 6
    // watermark-advancing micro-batches — eviction bounds the join
    // buffer (asserted live: peak state < half the staged feed) while
    // the landed result still equals q229's complete batch oracle.
    "q273_join_eviction" -> ((s, d) =>
      graft.streaming.StreamJoin.evictionJoinQuery(s, d)),
    // q274: the LEFT OUTER twin of q273 — q251's null-completion
    // semantics across 6 watermark-advancing micro-batches, state
    // shed and mid-drain removal asserted live; q251's batch oracle
    // verbatim (the final min-policy watermark, which alone decides
    // the surviving null set, is drain-cadence-independent).
    "q274_leftjoin_eviction" -> ((s, d) =>
      graft.streaming.StreamJoin.evictionLeftJoinQuery(s, d)),
    // q275: transformWithState ValueState with a REAL TTL — the
    // per-user cache expires between batches (physical eviction
    // counted via numValuesRemovedDueToTTLExpiry), carried state
    // pinned to 0 by the oracle; TtlStreamSpec's NONE-TTL arm is the
    // contrast.
    "q275_ttl_cache" -> ((s, d) =>
      graft.streaming.TtlStream.ttlCacheQuery(s, d)),
    // q276: the CDC log's incremental CONSUMER — reconstruct the
    // upsert table and maintain Σver by folding the log's batches in
    // order (+post −pre-image retraction), never scanning the table;
    // certified against the from-scratch argmax oracle.
    "q276_cdc_consumer" -> ((s, d) =>
      graft.streaming.UpsertStream.cdcConsumerQuery(s, d)),
    // q277: the FULL OUTER eviction drain — completes the stream-
    // stream interval-join family (q229/q273 inner, q251/q274 left);
    // both sides' null completions close per watermark advance, the
    // q273 peak bound and q274 mid-drain removal asserted live.
    "q277_fulljoin_eviction" -> ((s, d) =>
      graft.streaming.StreamJoin.evictionFullJoinQuery(s, d)),
    // q278: q244's session_window semantics staged as 6 watermark-
    // advancing waves — open sessions close and leave the store
    // MID-DRAIN (peak < 1/2 staged + mid-drain removal asserted
    // live); q244's batch oracle verbatim (the final watermark is
    // drain-cadence-independent).
    "q278_session_eviction" -> ((s, d) =>
      graft.streaming.SessionStream.sessionEvictionQuery(s, d)),
    // q279: q252's CHAINED join->windowed-agg pipeline staged across
    // 6 watermark-advancing waves — both state stores shed mid-drain
    // (summed peak < 1/2 staged + mid-drain window emission asserted
    // live); q252's batch oracle verbatim.
    "q279_chained_eviction" -> ((s, d) =>
      graft.streaming.StreamJoin.evictionJoinedWindowQuery(s, d)),
    // q280: CDC log COMPACTION — fold batches below the consumer's
    // checkpoint into a committed base, delete the folded partitions,
    // and prove compacted-base + tail folds to the full-log answer
    // (layout, fold identity, and q276's oracle asserted live); the
    // log is bounded to one base + consumer lag.
    "q280_cdc_compaction" -> ((s, d) =>
      graft.streaming.UpsertStream.cdcCompactionQuery(s, d)),
    // q281: q279's chained join->window eviction drain ON ROCKSDB —
    // provider parity for the eviction family's hardest member (two
    // chained stores), same live peak/removal assertions, same
    // oracle; the provider is loaned, never left set on the session.
    "q281_rocksdb_chained" -> ((s, d) =>
      graft.streaming.StreamJoin.rocksDbChainedEvictionQuery(s, d)),
    // q282: EVENT-TIME TTL via transformWithState timers — q275's TTL
    // semantics made watermark-driven and fully deterministic (lazy
    // expiry check at arrival + timer-driven physical reclamation,
    // resident-state equality asserted live against the in-TTL user
    // set); completes the state-hygiene matrix.
    "q282_event_ttl" -> ((s, d) =>
      graft.streaming.EventTtlStream.eventTtlQuery(s, d)),
    // q283: TIME TRAVEL on the upsert table — read snapshot v(N-1)
    // next to the current v(N), the as-of query the retention window
    // exists to serve; depth == the retention policy, asserted live.
    "q283_time_travel" -> ((s, d) =>
      graft.streaming.UpsertStream.timeTravelQuery(s, d)),
    // q284: compaction INTERLEAVED with a live CDC consumer — the
    // consumer applies batch b, the compactor folds <= b, and the
    // spared-batch / bounded-layout / resume-identity claims are
    // asserted at EVERY step of the loop; q276's oracle verbatim.
    "q284_live_compaction" -> ((s, d) =>
      graft.streaming.UpsertStream.liveCompactionQuery(s, d)),
    // q285: retention as a PARAMETER (K=3 over four waves — the
    // vacuum fires live at the new boundary) serving depth-2 time
    // travel: read v(N-2), the as-of a K=2 window cannot answer.
    "q285_retention_k" -> ((s, d) =>
      graft.streaming.UpsertStream.retentionKQuery(s, d)),
    // q286: q278's session-window eviction drain ON ROCKSDB — the
    // provider's read-modify-write path under session merge/split,
    // same live peak/shed assertions, same oracle; provider loaned.
    "q286_rocksdb_session" -> ((s, d) =>
      graft.streaming.SessionStream.rocksDbSessionEvictionQuery(s, d)),
    // q287: the CDC consumer's OWN state chain bounded — K-window
    // retention on the materialized fold states (the round-16
    // verdict's last storage leak), with the consumer deriving its
    // position from disk at every step (resume is the only path);
    // q276's oracle verbatim.
    "q287_consumer_retention" -> ((s, d) =>
      graft.streaming.UpsertStream.consumerRetentionQuery(s, d)),
    // q288: grouped INCREMENTAL VIEW MAINTENANCE over the CDC log —
    // per-bucket (count, sum) maintained from ops alone with
    // cross-group retraction (updates move keys between groups via
    // prev_ver), view == from-scratch rollup asserted live; the MV
    // chain runs q287's bounded-storage discipline.
    "q288_grouped_ivm" -> ((s, d) =>
      graft.streaming.GroupedIvm.groupedIvmQuery(s, d)),
    // q289: MERGE with AUTOMATIC SCHEMA EVOLUTION — a keyed upsert
    // whose updates carry a new column widens the table in one
    // single-schema snapshot (old rows null-fill), and the very next
    // merge is back on copy-on-write's touched-files-only fast path
    // (both path proofs asserted live via the returned file counts).
    "q289_evolve_merge" -> ((s, d) =>
      graft.operators.Maintenance.evolveMergeQuery(s, d)),
    // q290: keyed POINT LOOKUP through a footer-built skipping index
    // on a key-clustered table — each probe opens <= 2 of 16 files
    // (asserted on the real reads), and the pruned answers equal the
    // plain scan row-for-row.
    "q290_point_lookup" -> ((s, d) =>
      graft.operators.Maintenance.pointLookupQuery(s, d)),
    // q291: q288's grouped view maintained INSIDE the live CDC drain
    // (same foreachBatch transaction as the merge + log write) through
    // a disk-position replay guard — effectively-once under
    // at-least-once replays; in-drain view==rollup(<=b) at every
    // commit point.
    "q291_streaming_ivm" -> ((s, d) =>
      graft.streaming.GroupedIvm.streamingIvmQuery(s, d)),
    // q292: the skip-index LIFECYCLE — maintained incrementally
    // through a copy-on-write merge (copied files inherit their
    // stats, only rewritten files pay a footer read), refresh ==
    // rebuild row-for-row, metadata-only count/min/max == the scan,
    // probes still <=2 files through the refreshed index.
    "q292_index_refresh" -> ((s, d) =>
      graft.operators.Maintenance.indexRefreshQuery(s, d)),
    // q293: the snapshot chain as a queryable HISTORY table — one row
    // per retained version, row counts from footers only (metadata
    // cost); the oracle recomputes each version's keyed cardinality
    // from the raw events.
    "q293_table_history" -> ((s, d) =>
      graft.streaming.UpsertStream.tableHistoryQuery(s, d)),
  )

  /** §2.11: free-form SQL passthrough (reference backend/main.py:109-134
    * — arbitrary user SQL against the registered warehouse). The canned
    * statement below is written in the dialect-neutral subset shared by
    * Spark and DuckDB and registered as BOTH the query (run VERBATIM
    * through `Tables.registerAll` views + `SecServing.executeSql`) and
    * the oracle entry — so what the hash compare certifies is the
    * passthrough surface itself: parser, analyzer, optimizer, and view
    * catalog produce the same relation a second engine derives from the
    * same text. Decimal-cents output and a total-order ORDER BY per the
    * driver-compare rules.
    */
  private[graft] val q169Sql: String =
    """SELECT n_name AS nation, c_mktsegment AS segment,
       CAST(count(*) AS BIGINT) AS n_orders,
       CAST(round(sum(CAST(o_totalprice AS DECIMAL(38,10))), 2) * 100 AS BIGINT) AS total_cents
       FROM customer JOIN nation ON c_nationkey = n_nationkey
       JOIN orders ON o_custkey = c_custkey
       GROUP BY 1, 2 ORDER BY 1, 2"""

  private def q169SqlPassthrough(s: SparkSession, d: String): DataFrame = {
    graft.sources.Tables.registerAll(s, d)
    graft.operators.SecServing.executeSql(s, q169Sql)
  }

  /** F8: `SecJsonDocs.statementView` (the reference's LATERAL FLATTEN,
    * load_json_data_snowflake.py:227-257) run on a docs-shaped frame
    * assembled from the driver's `documents` table, so the explode view
    * itself gets a DuckDB oracle. Values are deterministic per-row
    * fields (no float arithmetic), making the hash compare exact.
    */
  /** One oracle for both flatten routes (q166 typed, q248 VARIANT):
    * DuckDB rebuilds the statement view from the documents table. */
  private val flattenViewOracleSql: String =
    """WITH base AS (
         SELECT CAST(doc_id AS VARCHAR) AS adsh, source AS symbol,
           lang AS name,
           [{'label': 'Characters', 'concept': 'n_chars', 'unit': 'chars',
             'value': CAST(n_chars AS DOUBLE)},
            {'label': 'TextLength', 'concept': 'text_len', 'unit': 'chars',
             'value': CAST(length(text) AS DOUBLE)}] AS bs
         FROM documents),
       flat AS (SELECT adsh, symbol, name, unnest(bs) AS e FROM base)
       SELECT adsh, symbol, name, e.label AS label, e.concept AS concept,
         e.unit AS unit, e.value AS value
       FROM flat ORDER BY CAST(adsh AS BIGINT), concept"""

  /** The reference-shaped doc frame both flatten routes share:
    * q166 (typed struct) and q248 (VARIANT). */
  private def docStructFrame(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.functions._
    val entry = "struct<label:string,concept:string,info:string,unit:string,value:double>"
    graft.sources.Tables.documents(s, d).select(
      col("doc_id").cast("string").as("adsh"),
      col("source").as("symbol"),
      col("lang").as("name"),
      struct(
        array(
          struct(lit("Characters").as("label"), lit("n_chars").as("concept"),
            lit("").as("info"), lit("chars").as("unit"),
            col("n_chars").cast("double").as("value")),
          struct(lit("TextLength").as("label"), lit("text_len").as("concept"),
            lit("").as("info"), lit("chars").as("unit"),
            length(col("text")).cast("double").as("value"))
        ).as("bs"),
        array().cast(s"array<$entry>").as("cf"),
        array().cast(s"array<$entry>").as("ic")).as("data"))
  }

  private def q166FlattenView(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.functions._
    graft.operators.SecJsonDocs.statementView(docStructFrame(s, d), "bs")
      .orderBy(col("adsh").cast("long"), col("concept"))
  }

  private def q248VariantFlatten(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.functions._
    graft.operators.SecJsonDocs.variantFlattenView(docStructFrame(s, d))
      .orderBy(col("adsh").cast("long"), col("concept"))
  }

  /** P6: membership filter against a top-K set (`Analytics.filterToTopK`,
    * reference streamlit_app.py:281) — lineitem rows whose part is in the
    * top-10 parts by total quantity. Ranking sums run in DECIMAL(38,10)
    * so the top-10 set cannot depend on float summation order.
    */
  private def q167MembershipTopK(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.functions._
    val li = graft.sources.Tables.lineitem(s, d)
      .withColumn("qty_d", col("l_quantity").cast("decimal(38,10)"))
    graft.operators.Analytics.filterToTopK(li, "l_partkey", "qty_d", 10)
      .select(col("l_orderkey"), col("l_partkey"), col("l_linenumber"),
        col("l_quantity"))
      .orderBy(col("l_orderkey"), col("l_partkey"), col("l_linenumber"))
  }

  /** O4: top and bottom K rows by a value column
    * (`Analytics.topAndBottomK`, reference streamlit_app.py:285-287),
    * unioned with a bucket label into one oracle-comparable frame.
    */
  private def q168TopBottomK(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.functions._
    val orders = graft.sources.Tables.orders(s, d)
    val (top, bottom) = graft.operators.Analytics.topAndBottomK(
      orders, "o_totalprice", "o_orderkey", 5)
    top.withColumn("bucket", lit("top"))
      .unionByName(bottom.withColumn("bucket", lit("bottom")))
      .select(col("o_orderkey"), col("o_totalprice"), col("bucket"))
      .orderBy(col("bucket"), col("o_orderkey"))
  }

  /** Bench-only variants: the AT-SCALE hash configurations of the
    * sketch operators whose registered queries run portable (oracle-
    * recomputable) hashing instead. The portable forms pay an accepted
    * oracle tax (md5-prefix per shingle vs one xxhash64); benching both
    * each round keeps that tax measured instead of silently assumed.
    * Not in [[queries]]: same machinery, no independent oracle — the
    * bit-equivalence of the two configs is asserted in
    * DedupSimilaritySpec / TextAnalysisSpec. */
  def benchFastHashVariants: Map[String, (SparkSession, String) => DataFrame] =
    Map(
      "q23_ngram_jaccard" -> ((s, d) => graft.operators.Dedup.ngramJaccardPairs(
        graft.sources.Tables.documents(s, d),
        n = 3, threshold = 0.6, maxDocFreq = 50, hashedKeys = true)),
      "q24_minhash_lsh" -> ((s, d) => graft.operators.Dedup.minHashLshPairs(
        graft.sources.Tables.documents(s, d),
        n = 3, numHashes = 64, bands = 16, threshold = 0.5,
        portable = false)),
      "q25_simhash" -> ((s, d) => graft.operators.Dedup.simHashPairs(
        graft.sources.Tables.documents(s, d), maxHamming = 3,
        portable = false)),
      "q34_winnow" -> ((s, d) => TextAnalysis.winnowQuery(s, d)),
      "q152_hll_registers" -> ((s, d) =>
        graft.operators.DistinctSketch.hllRegistersQuery(s, d,
          portable = false)),
      "q154_join_size" -> ((s, d) =>
        graft.operators.JoinStrategies.selfJoinSizeQuery(s, d,
          portable = false)),
      "q181_kmv_jaccard" -> ((s, d) =>
        graft.operators.DistinctSketch.kmvJaccardQuery(s, d,
          portable = false)),
      "q182_quantile_sketch" -> ((s, d) =>
        graft.operators.QuantileSketch.quantileSketch(
          graft.sources.Tables.events(s, d), portable = false)),
      // q262's at-scale hash: one xxhash64 per bigram instead of the
      // oracle-portable md5-prefix (TextAnalysis.hashedFeaturesQuery
      // scaladoc names it; bucket-equivalence is NOT expected — the
      // hash changes the buckets — so only the wall time is compared)
      "q262_hashed_features" -> ((s, d) =>
        TextAnalysis.hashedFeaturesQuery(s, d, portable = false)),
    )

  /** The post-drain READ-BACKS of every query whose registered
    * function runs a streaming drain (or a batch sink write) when
    * invoked: sink row schema + the pure rollup over an already-sunk
    * directory. Plan audits (WindowAuditSpec/PlanSpec) stage a
    * footer-only stub parquet of the schema and plan the read-back —
    * so ALL registered queries' batch plans get audited WITHOUT
    * re-running multi-batch drains. The key set must exactly cover
    * the queries the audits skip invoking (asserted there); the
    * streaming TRANSFORM half of each drain is verified by its own
    * oracle + streaming specs. */
  def streamReadBacks: Map[String,
      (org.apache.spark.sql.types.StructType,
       (SparkSession, String) => DataFrame)] = {
    import graft.streaming._
    Map(
      "q145_stream_monitor" ->
        ((MonitorStream.sinkSchema, MonitorStream.ruleTotals _)),
      "q149_ingest_sessions" ->
        ((EventStream.ingestSinkSchema,
          EventStream.ingestSessionReadBack _)),
      "q170_sink_roundtrip" ->
        ((Extensions.q170SinkSchema, Extensions.q170ReadBack _)),
      "q218_stream_dedup" ->
        ((DocStream.sinkSchema, DocStream.readBack _)),
      "q229_stream_join" ->
        ((StreamJoin.joinSinkSchema, StreamJoin.joinReadBack _)),
      "q238_stream_packing" ->
        ((PackStream.sinkSchema, PackStream.readBack _)),
      "q243_late_audit" ->
        ((LateStream.sinkSchema, LateStream.readBack _)),
      "q244_session_window" ->
        ((SessionStream.sinkSchema, SessionStream.readBack _)),
      "q246_milestones" ->
        ((MilestoneStream.sinkSchema, MilestoneStream.readBack _)),
      "q250_idle_close" ->
        ((IdleCloseStream.sinkSchema, IdleCloseStream.readBack _)),
      "q251_stream_left_join" ->
        ((StreamJoin.joinSinkSchema, StreamJoin.leftJoinReadBack _)),
      "q252_join_then_window" ->
        ((StreamJoin.joinedWindowSinkSchema,
          StreamJoin.joinedWindowReadBack _)),
      "q253_stream_upsert" ->
        ((UpsertStream.sinkSchema, UpsertStream.readBack _)),
      "q254_stream_funnel" ->
        ((FunnelStream.sinkSchema, FunnelStream.readBack _)),
      "q255_stream_actives" ->
        ((ActiveUsersStream.sinkSchema, ActiveUsersStream.readBack _)),
      "q256_update_mode" ->
        ((UpdateModeStream.updateModeSinkSchema,
          UpdateModeStream.updateModeReadBack _)),
      "q257_complete_topk" ->
        ((UpdateModeStream.completeModeSinkSchema,
          UpdateModeStream.completeModeReadBack _)),
      "q258_stream_static" ->
        ((EnrichStream.sinkSchema, EnrichStream.readBack _)),
      "q259_bounded_dedup" ->
        ((BoundedDedupStream.sinkSchema, BoundedDedupStream.readBack _)),
      "q265_stream_cdc" ->
        ((UpsertStream.cdcSinkSchema, UpsertStream.cdcReadBack _)),
      "q271_type_runs" ->
        ((RunStream.sinkSchema, RunStream.readBack _)),
      "q273_join_eviction" ->
        ((StreamJoin.joinSinkSchema, StreamJoin.joinReadBack _)),
      "q274_leftjoin_eviction" ->
        ((StreamJoin.joinSinkSchema, StreamJoin.leftJoinReadBack _)),
      "q277_fulljoin_eviction" ->
        ((StreamJoin.joinSinkSchema, StreamJoin.fullJoinReadBack _)),
      "q278_session_eviction" ->
        ((SessionStream.sinkSchema, SessionStream.readBack _)),
      "q279_chained_eviction" ->
        ((StreamJoin.joinedWindowSinkSchema,
          StreamJoin.joinedWindowReadBack _)),
      "q275_ttl_cache" ->
        ((TtlStream.sinkSchema, TtlStream.readBack _)),
      "q276_cdc_consumer" ->
        ((UpsertStream.cdcConsumerSinkSchema,
          UpsertStream.cdcConsumerReadBack _)),
      "q280_cdc_compaction" ->
        ((UpsertStream.cdcCompactionSinkSchema,
          UpsertStream.cdcCompactionReadBack _)),
      "q281_rocksdb_chained" ->
        ((StreamJoin.joinedWindowSinkSchema,
          StreamJoin.joinedWindowReadBack _)),
      "q282_event_ttl" ->
        ((EventTtlStream.sinkSchema, EventTtlStream.readBack _)),
      "q283_time_travel" ->
        ((UpsertStream.timeTravelSinkSchema,
          UpsertStream.timeTravelReadBack _)),
      "q284_live_compaction" ->
        ((UpsertStream.liveCompactionSinkSchema,
          UpsertStream.liveCompactionReadBack _)),
      "q285_retention_k" ->
        ((UpsertStream.retentionKSinkSchema,
          UpsertStream.retentionKReadBack _)),
      "q286_rocksdb_session" ->
        ((SessionStream.sinkSchema, SessionStream.readBack _)),
      "q287_consumer_retention" ->
        ((UpsertStream.consumerRetentionSinkSchema,
          UpsertStream.consumerRetentionReadBack _)),
      "q288_grouped_ivm" ->
        ((GroupedIvm.groupedIvmSinkSchema,
          GroupedIvm.groupedIvmReadBack _)),
      "q289_evolve_merge" ->
        ((graft.operators.Maintenance.evolveMergeSinkSchema,
          graft.operators.Maintenance.evolveMergeReadBack _)),
      "q290_point_lookup" ->
        ((graft.operators.Maintenance.pointLookupSinkSchema,
          graft.operators.Maintenance.pointLookupReadBack _)),
      "q291_streaming_ivm" ->
        ((GroupedIvm.streamingIvmSinkSchema,
          GroupedIvm.streamingIvmReadBack _)),
      "q292_index_refresh" ->
        ((graft.operators.Maintenance.indexRefreshSinkSchema,
          graft.operators.Maintenance.indexRefreshReadBack _)),
      "q293_table_history" ->
        ((UpsertStream.tableHistorySinkSchema,
          UpsertStream.tableHistoryReadBack _)),
      // not a stream drain, but its registered function eagerly
      // writes the materialized base table when invoked; the audit
      // plans the refresh merge over a stubbed base instead
      "q263_incremental_agg" ->
        ((graft.operators.Maintenance.incrementalAggSinkSchema,
          graft.operators.Maintenance.incrementalAggReadBack _)),
    )
  }

  /** Shared CTE prefix of the q45/q161 oracles: q23's capped shingle
    * pairs, the recursive transitive closure, and the per-doc cluster
    * label (`lab`). One definition so the two cluster oracles cannot
    * drift on the clustering itself. */
  /** The q39 gating chain (quality gate → language gate → exact
    * dedup) as CTEs ending in `gated(doc_id, text, n_words, fp)` —
    * shared by the q39 oracle and q192's composed manifest. */
  private val gatedDocsCtes: String =
    """p AS (
           SELECT doc_id, text, ' ' || lower(text) || ' ' AS pt,
             CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT) AS n_words
           FROM documents),
         s AS (SELECT doc_id, text, n_words,
           CAST((length(pt)-length(replace(pt,' the ','')))/5 AS BIGINT)
          +CAST((length(pt)-length(replace(pt,' and ','')))/5 AS BIGINT)
          +CAST((length(pt)-length(replace(pt,' of ','')))/4 AS BIGINT)
          +CAST((length(pt)-length(replace(pt,' is ','')))/4 AS BIGINT) AS en,
           CAST((length(pt)-length(replace(pt,' le ','')))/4 AS BIGINT)
          +CAST((length(pt)-length(replace(pt,' la ','')))/4 AS BIGINT)
          +CAST((length(pt)-length(replace(pt,' et ','')))/4 AS BIGINT)
          +CAST((length(pt)-length(replace(pt,' les ','')))/5 AS BIGINT) AS fr,
           CAST((length(pt)-length(replace(pt,' el ','')))/4 AS BIGINT)
          +CAST((length(pt)-length(replace(pt,' los ','')))/5 AS BIGINT)
          +CAST((length(pt)-length(replace(pt,' que ','')))/5 AS BIGINT)
          +CAST((length(pt)-length(replace(pt,' y ','')))/3 AS BIGINT) AS es,
           CAST((length(pt)-length(replace(pt,' der ','')))/5 AS BIGINT)
          +CAST((length(pt)-length(replace(pt,' und ','')))/5 AS BIGINT)
          +CAST((length(pt)-length(replace(pt,' die ','')))/5 AS BIGINT)
          +CAST((length(pt)-length(replace(pt,' ist ','')))/5 AS BIGINT) AS de
           FROM p WHERE n_words >= 20),
         gated AS (
           SELECT doc_id, text, n_words,
             md5(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g'))) AS fp
           FROM s WHERE en >= fr AND en >= es AND en >= de
           QUALIFY row_number() OVER (PARTITION BY
             md5(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')))
             ORDER BY doc_id) = 1)"""

  /** The q45/q161/q183 clustering CTE chain over an arbitrary source
    * relation (q192 threads its gated CTE through the same chain). */
  private def dupClusterCtesOver(rel: String): String =
    s"""sh AS (
           SELECT doc_id, list_distinct(list_transform(
             range(1, greatest(len(string_split_regex(lower(trim(text)), '\\s+')) - 2, 0) + 1),
             i -> array_to_string(string_split_regex(lower(trim(text)), '\\s+')[i:i+2], ' '))) AS shingles
           FROM $rel),""" + dupClusterTail(rel)

  private val dupClusterCte: String =
    "WITH RECURSIVE " + dupClusterCtesOver("documents")

  /** Just the pair-generation half of the clustering chain (shingles
    * → capped postings → Jaccard pairs) over `rel`, with a NAME
    * SUFFIX so it can coexist with [[dupClusterCtesOver]] in one
    * WITH clause (q208 needs old-corpus clusters AND all-corpus
    * pairs simultaneously). Same constants as the main chain. */
  private def jaccardPairCtes(rel: String, sfx: String): String =
    s"""sh$sfx AS (
           SELECT doc_id, list_distinct(list_transform(
             range(1, greatest(len(string_split_regex(lower(trim(text)), '\\s+')) - 2, 0) + 1),
             i -> array_to_string(string_split_regex(lower(trim(text)), '\\s+')[i:i+2], ' '))) AS shingles
           FROM $rel),
         ex$sfx AS (SELECT doc_id, s
                FROM (SELECT doc_id, unnest(shingles) AS s FROM sh$sfx)
                QUALIFY count(*) OVER (PARTITION BY s) <= 50),
         sizes$sfx AS (SELECT doc_id, len(shingles) AS n FROM sh$sfx),
         inter$sfx AS (SELECT a.doc_id AS d1, b.doc_id AS d2, count(*) AS c
                   FROM ex$sfx a JOIN ex$sfx b
                     ON a.s = b.s AND a.doc_id < b.doc_id
                   GROUP BY 1, 2),
         pairs$sfx AS (SELECT d1, d2 FROM inter$sfx
                   JOIN sizes$sfx s1 ON d1 = s1.doc_id
                   JOIN sizes$sfx s2 ON d2 = s2.doc_id
                   WHERE c * 1.0 / (s1.n + s2.n - c) >= 0.6)"""

  private def dupClusterTail(rel: String): String = s"""
         ex AS (SELECT doc_id, s
                FROM (SELECT doc_id, unnest(shingles) AS s FROM sh)
                QUALIFY count(*) OVER (PARTITION BY s) <= 50),
         sizes AS (SELECT doc_id, len(shingles) AS n FROM sh),
         inter AS (SELECT a.doc_id AS d1, b.doc_id AS d2, count(*) AS c
                   FROM ex a JOIN ex b ON a.s = b.s AND a.doc_id < b.doc_id
                   GROUP BY 1, 2),
         pairs AS (SELECT d1, d2 FROM inter
                   JOIN sizes s1 ON d1 = s1.doc_id
                   JOIN sizes s2 ON d2 = s2.doc_id
                   WHERE c * 1.0 / (s1.n + s2.n - c) >= 0.6),
         edges AS (SELECT d1 AS a, d2 AS b FROM pairs
                   UNION SELECT d2, d1 FROM pairs),
         reach(a, b) AS (
           SELECT a, b FROM edges
           UNION
           SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a),
         comp AS (SELECT a AS doc_id, min(b) AS mn FROM reach GROUP BY a),
         lab AS (SELECT d.doc_id,
                   coalesce(least(c.mn, d.doc_id), d.doc_id) AS cluster_id
                 FROM $rel d LEFT JOIN comp c ON d.doc_id = c.doc_id)"""

  private val sessionizeOracleSql: String =
    """WITH e AS (SELECT user_id, event_id,
           CAST(epoch_ms(ts) AS BIGINT) AS t FROM events),
       s AS (SELECT user_id, event_id, t,
           CASE WHEN lag(t) OVER w IS NULL
                  OR t - lag(t) OVER w > 1800000 THEN 1 ELSE 0 END AS new_sess
         FROM e WINDOW w AS (PARTITION BY user_id ORDER BY t, event_id)),
       r AS (SELECT user_id, t,
           sum(new_sess) OVER (PARTITION BY user_id
             ORDER BY t, event_id) AS session_seq
         FROM s)
       SELECT user_id, CAST(session_seq AS BIGINT) AS session_seq,
         CAST(count(*) AS BIGINT) AS n_events,
         min(t) AS start_ms, max(t) AS end_ms,
         max(t) - min(t) AS duration_ms
       FROM r GROUP BY 1, 2 ORDER BY user_id, session_seq"""

  lazy val oracleSql: Map[String, String] = Map(
    "q01_pricing_summary" ->
      """SELECT l_returnflag, l_linestatus,
         CAST(round(sum(CAST(l_quantity AS DECIMAL(38,10))), 2) * 100 AS BIGINT) AS sum_qty,
         CAST(round(sum(CAST(l_extendedprice AS DECIMAL(38,10))), 2) * 100 AS BIGINT) AS sum_base_price,
         CAST(round(sum(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(38,10))), 2) * 100 AS BIGINT) AS sum_disc_price,
         CAST(count(*) AS BIGINT) AS count_order
         FROM lineitem GROUP BY 1, 2 ORDER BY 1, 2""",
    "q02_filter_project" ->
      """SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice,
         strftime(l_shipdate, '%Y-%m-%d') AS ship_date
         FROM lineitem WHERE l_returnflag = 'R' AND l_quantity > 45
         ORDER BY l_orderkey, l_linenumber""",
    "q03_serving_stmt" ->
      """SELECT o_orderkey, l_linenumber, c_name, c_mktsegment,
         strftime(o_orderdate, '%Y-%m-%d') AS order_date,
         l_quantity, l_extendedprice
         FROM orders JOIN customer ON o_custkey = c_custkey
         JOIN lineitem ON o_orderkey = l_orderkey
         WHERE o_orderstatus = 'F' AND l_returnflag = 'R'
         ORDER BY o_orderkey, l_linenumber""",
    "q04_fanout_join" ->
      """SELECT s_suppkey, s_name, CAST(count(*) AS BIGINT) AS n_items,
         CAST(round(sum(CAST(l_extendedprice AS DECIMAL(38,10))), 2) * 100 AS BIGINT) AS total_price
         FROM supplier JOIN lineitem ON s_suppkey = l_suppkey
         GROUP BY 1, 2 ORDER BY s_suppkey""",
    // q38 = q04's join through the explicit salting strategy; salting
    // must not change the result, so the oracle is the PLAIN join.
    "q38_salted_join" ->
      """SELECT s_suppkey AS suppkey, s_name, CAST(count(*) AS BIGINT) AS n_items,
         CAST(round(sum(CAST(l_extendedprice AS DECIMAL(38,10))), 2) * 100 AS BIGINT) AS total_price
         FROM supplier JOIN lineitem ON s_suppkey = l_suppkey
         GROUP BY 1, 2 ORDER BY suppkey""",
    "q05_anti_join" ->
      """SELECT c_custkey, c_name, c_mktsegment FROM customer c
         WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
         ORDER BY c_custkey""",
    "q06_broadcast_lookup" ->
      """SELECT c_custkey, coalesce(n_name, 'UNKNOWN') AS nation,
         coalesce(r_name, 'UNKNOWN') AS region
         FROM customer LEFT JOIN nation ON c_nationkey = n_nationkey
         LEFT JOIN region ON n_regionkey = r_regionkey
         ORDER BY c_custkey""",
    "q07_first_match" ->
      """SELECT p_partkey, p_brand, coalesce(first_flag, 'UNKNOWN') AS first_flag
         FROM part LEFT JOIN (
           SELECT l_partkey AS d_partkey, min(l_returnflag) AS first_flag
           FROM lineitem GROUP BY 1) dim ON p_partkey = d_partkey
         ORDER BY p_partkey""",
    "q08_latest_per_key" ->
      """SELECT user_id, event_id, event_type,
         CAST(epoch_ms(ts) AS BIGINT) AS ts_ms, value
         FROM (SELECT *, row_number() OVER (PARTITION BY user_id
               ORDER BY ts DESC, event_id DESC) AS rn FROM events)
         WHERE rn = 1 ORDER BY user_id""",
    "q09_window_rank" ->
      """SELECT l_orderkey, l_linenumber,
         strftime(l_shipdate, '%Y-%m-%d') AS ship_date,
         CAST(dense_rank() OVER (PARTITION BY l_orderkey
              ORDER BY l_shipdate DESC) AS INT) AS rn
         FROM lineitem ORDER BY l_orderkey, l_linenumber""",
    "q10_dup_detector" ->
      """SELECT l_partkey, l_suppkey, CAST(count(*) AS BIGINT) AS n
         FROM lineitem GROUP BY 1, 2 HAVING count(*) > 1
         ORDER BY l_partkey, l_suppkey""",
    "q11_topk" ->
      """SELECT c_custkey, c_name,
         CAST(round(sum(CAST(o_totalprice AS DECIMAL(38,10))), 2) * 100 AS BIGINT) AS total_spend
         FROM orders JOIN customer ON o_custkey = c_custkey
         GROUP BY 1, 2 ORDER BY total_spend DESC, c_custkey ASC LIMIT 10""",
    "q12_sort_limit" ->
      """SELECT l_orderkey, l_linenumber, l_quantity, l_returnflag
         FROM lineitem ORDER BY l_orderkey, l_linenumber LIMIT 100""",
    "q13_availability" ->
      """SELECT CAST(count(*) AS BIGINT) AS n_rows FROM lineitem
         WHERE year(l_shipdate) = 1995""",
    "q14_json_extract" ->
      """SELECT user_id,
         CAST(sum(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
         CAST(count(*) AS BIGINT) AS n
         FROM events GROUP BY 1 ORDER BY user_id""",
    "q15_doc_assembly" ->
      """SELECT user_id,
         coalesce(string_agg(CASE WHEN event_type = 'click'
           THEN CAST(event_id AS VARCHAR) END, ','
           ORDER BY CAST(event_id AS VARCHAR)), '') AS clicks,
         coalesce(string_agg(CASE WHEN event_type = 'purchase'
           THEN CAST(event_id AS VARCHAR) END, ','
           ORDER BY CAST(event_id AS VARCHAR)), '') AS purchases,
         CAST(count(*) AS BIGINT) AS n_events
         FROM events GROUP BY 1 ORDER BY user_id""",
    "q16_domain_checks" ->
      """SELECT * FROM (
         SELECT 'lang_domain' AS check_name, CAST(sum(CASE WHEN lang NOT IN
           ('en','fr','es','de','zh') THEN 1 ELSE 0 END) AS BIGINT) AS violations
           FROM documents
         UNION ALL
         SELECT 'mktsegment_regex', CAST(sum(CASE WHEN NOT
           regexp_matches(c_mktsegment, '^[A-Z]+$') THEN 1 ELSE 0 END) AS BIGINT)
           FROM customer
         UNION ALL
         SELECT 'n_chars_range', CAST(sum(CASE WHEN n_chars < 1 OR
           n_chars > 100000 THEN 1 ELSE 0 END) AS BIGINT) FROM documents
         UNION ALL
         SELECT 'orderstatus_domain', CAST(sum(CASE WHEN o_orderstatus NOT IN
           ('F','O','P') THEN 1 ELSE 0 END) AS BIGINT) FROM orders
         ) ORDER BY check_name""",
    "q17_date_buckets" ->
      """SELECT strftime(o_orderdate, '%Y-%m') AS order_month,
         CAST(count(*) AS BIGINT) AS n_orders,
         CAST(round(sum(CAST(o_totalprice AS DECIMAL(38,10))), 2) * 100 AS BIGINT) AS total
         FROM orders GROUP BY 1 ORDER BY order_month""",
    "q18_null_sanitize" ->
      """SELECT event_type,
         CAST(round(sum(CAST(coalesce(CASE WHEN isnan(value) OR NOT isfinite(value)
           THEN NULL ELSE value END, 0.0) AS DECIMAL(38,10))), 2) * 100 AS BIGINT) AS sum_value,
         CAST(count(*) AS BIGINT) AS n
         FROM events GROUP BY 1 ORDER BY event_type""",
    "q19_case_mapping" ->
      """SELECT CASE WHEN event_type IN ('click','view') THEN 'engagement'
           WHEN event_type = 'purchase' THEN 'revenue'
           WHEN event_type = 'signup' THEN 'growth'
           ELSE 'ops' END AS bucket,
         CAST(count(*) AS BIGINT) AS n
         FROM events GROUP BY 1 ORDER BY bucket""",
    "q20_union_distinct" ->
      """SELECT DISTINCT c_custkey, c_nationkey FROM (
         SELECT c_custkey, c_nationkey FROM customer WHERE c_mktsegment = 'BUILDING'
         UNION ALL
         SELECT c_custkey, c_nationkey FROM customer WHERE c_acctbal > 5000)
         ORDER BY c_custkey""",
    "q21_fact_build" ->
      """SELECT o_orderkey, o_custkey, p_brand,
         strftime(o_orderdate, '%Y-%m-%d') AS order_date, rn,
         CAST(round(sum(CAST(l_extendedprice AS DECIMAL(38,10))), 2) * 100 AS BIGINT) AS total_value,
         CAST(count(*) AS BIGINT) AS n_facts
         FROM (
           SELECT *, CAST(dense_rank() OVER (PARTITION BY o_orderkey, o_custkey,
             p_brand, l_shipdate ORDER BY l_shipdate DESC) AS INT) AS rn
           FROM lineitem JOIN orders ON l_orderkey = o_orderkey
           JOIN part ON l_partkey = p_partkey
           WHERE p_type LIKE 'STANDARD%')
         GROUP BY 1, 2, 3, 4, 5 ORDER BY o_orderkey, p_brand, rn""",
    // --- extensions. Every sketch query is registered in a
    // configuration DuckDB can recompute exactly: q24/q25/q34 use the
    // portable md5-prefix hash family (TextFunctions.portableHash60 /
    // MinHashParams), q27/q35/q36 run in exact-recovery
    // configurations, so all hash-check rather than rows-only. ---
    "q22_exact_dup" ->
      """SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
         CAST(count(DISTINCT md5(text)) AS BIGINT) AS n_unique
         FROM documents GROUP BY 1 ORDER BY source""",
    "q23_ngram_jaccard" ->
      """WITH sh AS (
           SELECT doc_id, list_distinct(list_transform(
             range(1, greatest(len(string_split_regex(lower(trim(text)), '\s+')) - 2, 0) + 1),
             i -> array_to_string(string_split_regex(lower(trim(text)), '\s+')[i:i+2], ' '))) AS shingles
           FROM documents),
         ex AS (SELECT doc_id, s
                FROM (SELECT doc_id, unnest(shingles) AS s FROM sh)
                QUALIFY count(*) OVER (PARTITION BY s) <= 50),
         sizes AS (SELECT doc_id, len(shingles) AS n FROM sh),
         inter AS (SELECT a.doc_id AS d1, b.doc_id AS d2, count(*) AS c
                   FROM ex a JOIN ex b ON a.s = b.s AND a.doc_id < b.doc_id
                   GROUP BY 1, 2)
         SELECT d1, d2,
           CAST(round(c * 1.0 / (s1.n + s2.n - c), 6) * 1000000 AS BIGINT) AS jac
         FROM inter JOIN sizes s1 ON d1 = s1.doc_id
         JOIN sizes s2 ON d2 = s2.doc_id
         WHERE c * 1.0 / (s1.n + s2.n - c) >= 0.6 ORDER BY d1, d2""",
    // q39 composes quality gate -> language gate -> exact dedup; every
    // stage is portable by construction, so the composed pipeline
    // hash-checks end to end.
    "q39_prep_pipeline" ->
      s"""WITH $gatedDocsCtes
         SELECT doc_id, fp, n_words FROM gated ORDER BY doc_id""",
    // q44: content-hash split assignment (90/5/5) — deterministic and
    // portable, so the oracle recomputes every bucket and label.
    "q44_split_assign" ->
      """SELECT doc_id,
         CAST(('0x' || substr(md5(text), 1, 15)) AS BIGINT) % 100 AS bucket,
         CASE WHEN CAST(('0x' || substr(md5(text), 1, 15)) AS BIGINT) % 100 < 90 THEN 'train'
              WHEN CAST(('0x' || substr(md5(text), 1, 15)) AS BIGINT) % 100 < 95 THEN 'val'
              ELSE 'test' END AS split
         FROM documents ORDER BY doc_id""",
    // q43: decontamination — the inverted-index overlap count is fully
    // portable (same shingle construction as q23).
    "q43_decontaminate" ->
      """WITH sh AS (
           SELECT doc_id, source, list_distinct(list_transform(
             range(1, greatest(len(string_split_regex(lower(trim(text)), '\s+')) - 2, 0) + 1),
             i -> array_to_string(string_split_regex(lower(trim(text)), '\s+')[i:i+2], ' '))) AS shingles
           FROM documents),
         ex AS (SELECT doc_id, source, unnest(shingles) AS s FROM sh),
         bench AS (SELECT s, doc_id AS bench_id FROM ex WHERE source = 'src0'),
         corp AS (SELECT doc_id, s FROM ex WHERE source <> 'src0'),
         ov AS (SELECT doc_id, bench_id, count(*) AS c
                FROM corp JOIN bench USING (s) GROUP BY 1, 2)
         SELECT doc_id, max(c) AS max_overlap,
           CAST(sum(CASE WHEN c >= 5 THEN 1 ELSE 0 END) AS BIGINT) AS n_contaminating
         FROM ov GROUP BY doc_id ORDER BY doc_id""",
    // q45: connected components over q23's near-dup pairs; the oracle
    // recomputes the transitive closure with a recursive CTE (tiny
    // components at test scale), so cluster ids, sizes, and canonical
    // flags all hash-check exactly.
    "q45_dup_clusters" -> (dupClusterCte +
      """, sz AS (SELECT cluster_id, CAST(count(*) AS BIGINT) AS cluster_size
                FROM lab GROUP BY 1)
         SELECT l.doc_id, l.cluster_id, s.cluster_size,
           CAST(CASE WHEN l.doc_id = l.cluster_id THEN 1 ELSE 0 END AS INT) AS is_canonical
         FROM lab l JOIN sz s USING (cluster_id) ORDER BY l.doc_id"""),
    // q161: the same clusters, survivor chosen by QUALITY (longest
    // text, ties to lowest id) instead of min-id.
    "q161_cluster_best" -> (dupClusterCte +
      """, lens AS (SELECT doc_id, CAST(length(text) AS BIGINT) AS len
                FROM documents),
         rk AS (SELECT l.doc_id, l.cluster_id, lens.len,
                  row_number() OVER (PARTITION BY l.cluster_id
                    ORDER BY lens.len DESC, l.doc_id) AS rn
                FROM lab l JOIN lens USING (doc_id)),
         surv AS (SELECT cluster_id, doc_id AS survivor_id
                  FROM rk WHERE rn = 1)
         SELECT rk.doc_id, rk.cluster_id, surv.survivor_id,
           CAST(CASE WHEN rk.doc_id = surv.survivor_id
                THEN 1 ELSE 0 END AS INT) AS is_kept
         FROM rk JOIN surv USING (cluster_id) ORDER BY rk.doc_id"""),
    // q46: gap-based sessionization — identical window arithmetic on
    // both engines over epoch-ms integers. q149 shares the oracle:
    // its input is the SAME events, round-tripped through the
    // streaming parquet file sink, so a hash match proves the ingest
    // path lossless.
    "q46_sessionize" -> sessionizeOracleSql,
    "q149_ingest_sessions" -> sessionizeOracleSql,
    // q47: TF-IDF with exact integer rational scores — no ln(), whose
    // libm rounding differs across engines.
    "q47_tfidf" ->
      """WITH t AS (SELECT doc_id,
             unnest(string_split_regex(lower(trim(text)), '\s+')) AS term
           FROM documents),
         tf AS (SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
                FROM t GROUP BY 1, 2),
         df AS (SELECT term, CAST(count(*) AS BIGINT) AS df
                FROM tf GROUP BY 1),
         n AS (SELECT CAST(count(*) AS BIGINT) AS n_docs FROM documents),
         sc AS (SELECT doc_id, term,
             (tf * 1000000 * n_docs) // df AS score_e6
           FROM tf JOIN df USING (term) CROSS JOIN n)
         SELECT doc_id, term, score_e6,
           CAST(row_number() OVER (PARTITION BY doc_id
             ORDER BY score_e6 DESC, term) AS INT) AS term_rank
         FROM sc QUALIFY term_rank <= 3 ORDER BY doc_id, term_rank""",
    // q48: repetition signals; bigram lists built with the same
    // 1-based slice arithmetic, ratios as integer division.
    "q48_repetition" ->
      """WITH t AS (SELECT doc_id,
             string_split_regex(lower(trim(text)), '\s+') AS toks
           FROM documents),
         s AS (SELECT doc_id, len(toks) AS n,
             len(list_distinct(toks)) AS nd,
             CASE WHEN len(toks) >= 2 THEN list_transform(
               range(1, len(toks)), i -> toks[i] || ' ' || toks[i+1])
             ELSE [] END AS bi
           FROM t),
         bc AS (SELECT doc_id, b, count(*) AS c
                FROM (SELECT doc_id, unnest(bi) AS b FROM s) GROUP BY 1, 2),
         agg AS (SELECT doc_id, max(c) AS top, sum(c) AS nbi
                 FROM bc GROUP BY 1)
         SELECT s.doc_id, CAST(n AS BIGINT) AS n_tokens,
           CAST(((n - nd) * 1000000) // n AS BIGINT) AS dup_word_frac_e6,
           CAST((coalesce(top, 0) * 1000000)
             // greatest(coalesce(nbi, 1), 1) AS BIGINT) AS top_bigram_frac_e6
         FROM s LEFT JOIN agg USING (doc_id) ORDER BY s.doc_id""",
    // q49: PII redaction — pattern counts on the raw payload, digest
    // of the scrubbed payload (emails first, then numeric runs).
    "q49_pii_redact" ->
      """WITH u AS (
           SELECT 'events' AS src, event_id AS rec_id, props AS payload
           FROM events
           UNION ALL
           SELECT 'customer', c_custkey, c_name FROM customer)
         SELECT src, rec_id,
           CAST(len(regexp_extract_all(payload, '[0-9]+')) AS BIGINT) AS n_ids,
           CAST(len(regexp_extract_all(payload,
             '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+')) AS BIGINT) AS n_emails,
           md5(regexp_replace(regexp_replace(payload,
             '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+', '#', 'g'),
             '[0-9]+', '#', 'g')) AS redacted_md5
         FROM u ORDER BY src, rec_id""",
    // q50: rollup — GROUPING bit encoding matches Spark's
    // grouping_id() (1 = column aggregated away), nulls folded to
    // 'ALL' so ordering is null-free.
    "q50_rollup" ->
      """SELECT coalesce(m, 'ALL') AS order_month,
           coalesce(s, 'ALL') AS o_orderstatus,
           CAST(GROUPING(m, s) AS INT) AS gid,
           CAST(count(*) AS BIGINT) AS n_orders,
           CAST(round(sum(CAST(o_totalprice AS DECIMAL(38,10))), 2) * 100
             AS BIGINT) AS total_cents
         FROM (SELECT strftime(o_orderdate, '%Y-%m') AS m,
                 o_orderstatus AS s, o_totalprice FROM orders)
         GROUP BY ROLLUP(m, s)
         ORDER BY gid, order_month, o_orderstatus""",
    // q51: pivot = conditional aggregation with the same fixed value
    // list as the Spark pivot.
    "q51_pivot" ->
      """SELECT user_id,
           CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS n_click,
           CAST(sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS BIGINT) AS n_view,
           CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS n_purchase,
           CAST(sum(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END) AS BIGINT) AS n_signup,
           CAST(sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT) AS n_error
         FROM events GROUP BY 1 ORDER BY user_id""",
    // q52: 3-row moving sum, NaN/Inf-sanitized and decimal-exact.
    "q52_moving_window" ->
      """SELECT user_id, event_id,
           CAST(round(sum(CAST(v AS DECIMAL(38,10))) OVER (
             PARTITION BY user_id ORDER BY t, event_id
             ROWS BETWEEN 2 PRECEDING AND CURRENT ROW), 2) * 100
             AS BIGINT) AS mv_sum_cents
         FROM (SELECT user_id, event_id,
                 CAST(epoch_ms(ts) AS BIGINT) AS t,
                 coalesce(CASE WHEN isnan(value) OR NOT isfinite(value)
                   THEN NULL ELSE value END, 0.0) AS v
               FROM events)
         ORDER BY user_id, event_id""",
    // q53: discrete percentiles by explicit rank selection — the
    // doubles are corpus values passed through, never arithmetic.
    "q53_percentiles" ->
      """WITH f AS (SELECT event_type, event_id, value FROM events
                    WHERE NOT isnan(value) AND isfinite(value)),
         r AS (SELECT event_type, value,
                 row_number() OVER (PARTITION BY event_type
                   ORDER BY value, event_id) AS rn,
                 count(*) OVER (PARTITION BY event_type) AS n
               FROM f)
         SELECT event_type, CAST(max(n) AS BIGINT) AS n,
           min(CASE WHEN rn = (n + 1) // 2 THEN value END) AS median_value,
           min(CASE WHEN rn = (19 * n + 19) // 20 THEN value END) AS p95_value
         FROM r GROUP BY 1 ORDER BY event_type""",
    // q42: the bucketed range join; integer-ms comparisons make the
    // plain theta join an exact oracle.
    "q42_range_join" ->
      """WITH clicks AS (
           SELECT user_id, event_id AS click_id, CAST(epoch_ms(ts) AS BIGINT) AS t
           FROM events WHERE event_type = 'click'),
         err AS (
           SELECT user_id, event_id AS err_id, CAST(epoch_ms(ts) AS BIGINT) AS et
           FROM events WHERE event_type = 'error')
         SELECT c.user_id, click_id, err_id, (t - et) AS delta_ms
         FROM clicks c JOIN err e
           ON c.user_id = e.user_id AND c.t BETWEEN e.et - 600000 AND e.et + 600000
         ORDER BY c.user_id, click_id, err_id""",
    // q41: the window-composed as-of join checked against DuckDB's
    // NATIVE ASOF JOIN — an independent reference implementation of
    // the operator's semantics.
    "q41_asof_join" ->
      """WITH clicks AS (
           SELECT user_id, event_id, ts FROM events WHERE event_type = 'click'),
         purch AS (
           SELECT user_id, ts, value FROM (
             SELECT user_id, ts, value,
               row_number() OVER (PARTITION BY user_id, ts
                 ORDER BY event_id DESC) AS rn
             FROM events WHERE event_type = 'purchase')
           WHERE rn = 1)
         SELECT c.user_id, c.event_id,
           CAST(epoch_ms(c.ts) AS BIGINT) AS ts_ms,
           p.value AS last_purchase_value,
           CAST(epoch_ms(p.ts) AS BIGINT) AS purchase_ts_ms
         FROM clicks c ASOF LEFT JOIN purch p
           ON c.user_id = p.user_id AND c.ts >= p.ts
         ORDER BY c.user_id, c.event_id""",
    // q40: sliding-window chunking, chunkSize=32 stride=24; the chunk
    // count, per-chunk token counts, and content digests must all
    // match exactly.
    "q40_chunking" ->
      """WITH t AS (
           SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS toks
           FROM documents),
         c AS (
           SELECT doc_id, toks, len(toks) AS n,
             unnest(range(0, CASE WHEN len(toks) <= 32 THEN 1
               ELSE CAST(ceil((len(toks) - 32) * 1.0 / 24) AS INT) + 1 END)) AS i
           FROM t)
         SELECT doc_id, CAST(i AS BIGINT) AS chunk_id,
           CAST(least(32, n - i * 24) AS BIGINT) AS n_tokens,
           md5(array_to_string(toks[i * 24 + 1 : i * 24 + least(32, n - i * 24)], ' ')) AS chunk_md5
         FROM c ORDER BY doc_id, chunk_id""",
    // q54: z-order key arithmetic generated from the same constants
    // as the Spark expression (shared-construction, like MinHash).
    "q54_zorder" -> graft.operators.ZOrder.zorderOracleSql,
    // q55: sequence-packing offsets — the oracle's single global
    // cumsum equals the engine's distributed two-phase prefix sum.
    "q55_packing" ->
      """WITH t AS (SELECT doc_id,
             CAST(len(string_split_regex(lower(trim(text)), '\s+')) AS BIGINT)
               AS n_tokens
           FROM documents)
         SELECT doc_id, n_tokens,
           CAST(coalesce(sum(n_tokens) OVER (ORDER BY doc_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
             AS BIGINT) AS global_offset,
           CAST(coalesce(sum(n_tokens) OVER (ORDER BY doc_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) // 2048
             AS BIGINT) AS pack_id
         FROM t ORDER BY doc_id""",
    "q24_minhash_lsh" -> minHashOracleSql,
    "q25_simhash" -> simHashOracleSql,
    "q34_winnow" -> winnowOracleSql,
    // q56: the APPROXIMATE ANN configuration (planes=6, 2 probe
    // flips) — the oracle recomputes the integer bucket assignment
    // from the same plane constants, then takes the exact top-k
    // WITHIN the probed buckets.
    "q56_ann_portable" -> annPortableOracleSql,
    // q57: layout manifest — z-key arithmetic shared with q54.
    "q57_layout_stats" ->
      graft.operators.Maintenance.layoutCompareOracleSql,
    // q58: same plane-constant generation as q56, planes=4.
    "q58_semantic_dedup" -> semanticDedupOracleSql,
    "q59_stratified_sample" ->
      graft.operators.Curation.stratifiedSampleOracleSql,
    "q60_mixing_weights" ->
      graft.operators.Curation.mixingWeightsOracleSql,
    "q61_quota_select" ->
      graft.operators.Curation.quotaSelectOracleSql(),
    "q62_edit_blocked" ->
      graft.operators.Dedup.editBlockedOracleSql(),
    "q63_funnel" -> graft.operators.Sessionize.funnelOracleSql,
    "q65_incremental_dedup" -> incrementalDedupOracleSql,
    "q66_scd2" -> graft.operators.OlapOps.scd2OracleSql,
    "q67_exact_sample" ->
      graft.operators.Curation.exactSampleOracleSql(),
    "q68_vocab" -> vocabOracleSql,
    "q69_winnow_pairs" -> winnowPairsOracleSql,
    "q70_length_trim" ->
      graft.operators.Curation.lengthTrimOracleSql,
    "q71_span_dedup" ->
      graft.operators.CorpusStats.spanDupOracleSql,
    "q72_vocab_coverage" ->
      graft.operators.CorpusStats.vocabCoverageOracleSql,
    "q73_embed_decontam" ->
      graft.operators.Similarity.embedDecontaminateOracleSql,
    "q74_gap_fill" ->
      graft.operators.OlapOps.gapFillOracleSql,
    "q75_outlier_fences" ->
      graft.operators.OlapOps.outlierFencesOracleSql,
    "q76_posting_lists" ->
      graft.operators.CorpusStats.postingListsOracleSql,
    "q77_transitions" ->
      graft.operators.Sessionize.transitionsOracleSql,
    "q78_containment" ->
      graft.operators.Dedup.containmentOracleSql,
    "q79_concurrency" ->
      graft.operators.Sessionize.concurrencyOracleSql,
    "q80_retention" ->
      graft.operators.Sessionize.retentionOracleSql,
    // q81: approximate IVF — anchor centroids + rounded-integer argmax
    // make every routing decision recomputable by the oracle.
    "q81_ivf_anchors" ->
      graft.operators.Similarity.ivfAnchorOracleSql(),
    // q82: oracle uses the positions self-join; the engine generates
    // pairs narrowly from the token array — same pairs, no join.
    "q82_skipgram" ->
      graft.operators.TextAnalysis.skipgramOracleSql,
    "q83_heavy_hitters" ->
      graft.operators.TextAnalysis.heavyHittersOracleSql,
    "q84_setops" ->
      graft.operators.OlapOps.setOpsOracleSql,
    // q85: oracle ranks with one global window (fine at oracle scale);
    // the engine uses the blocked two-phase prefix-sum rank.
    "q85_deciles" ->
      graft.operators.OlapOps.decileOracleSql,
    "q86_pmi" ->
      graft.operators.CorpusStats.pmiOracleSql,
    "q87_normalize" ->
      graft.operators.TextAnalysis.normalizeOracleSql,
    "q88_unpivot" ->
      graft.operators.OlapOps.unpivotOracleSql,
    "q89_listagg" ->
      graft.operators.OlapOps.listAggOracleSql,
    "q90_mode" ->
      graft.operators.OlapOps.modeOracleSql,
    "q91_snapshot_diff" ->
      graft.operators.ChangeCapture.snapshotDiffOracleSql,
    "q92_rolling_active" ->
      graft.operators.Sessionize.rollingActiveOracleSql,
    "q93_comoments" ->
      graft.operators.OlapOps.comomentsOracleSql,
    "q94_histogram" ->
      graft.operators.OlapOps.histogramOracleSql,
    "q95_bpe_pairs" ->
      graft.operators.TextAnalysis.bpePairsOracleSql,
    "q96_drift_union" ->
      graft.operators.ChangeCapture.driftUnionOracleSql,
    "q97_mad_outliers" ->
      graft.operators.OlapOps.madOutliersOracleSql,
    "q98_negative_samples" ->
      graft.operators.TextAnalysis.negativeSamplesOracleSql,
    "q99_mixture" ->
      graft.operators.Curation.mixtureMaterializeOracleSql,
    "q100_pagerank" ->
      graft.operators.GraphRank.pageRankOracleSql,
    "q101_cms" ->
      graft.operators.CorpusStats.cmsOracleSql,
    "q102_quantile_map" ->
      graft.operators.OlapOps.quantileMapOracleSql,
    "q103_weighted_sample" ->
      graft.operators.Curation.weightedSampleOracleSql(),
    "q104_budget_alloc" ->
      graft.operators.OlapOps.budgetAllocOracleSql,
    "q105_chi_square" ->
      graft.operators.OlapOps.chiSquareOracleSql,
    "q106_session_paths" ->
      graft.operators.Sessionize.sessionPathsOracleSql,
    "q107_skew_report" ->
      graft.operators.JoinStrategies.skewReportOracleSql,
    "q108_scd2_asof" ->
      graft.operators.OlapOps.scd2AsOfOracleSql,
    "q109_temporal_join" ->
      graft.operators.OlapOps.temporalJoinOracleSql,
    "q110_trend" ->
      graft.operators.OlapOps.trendOracleSql,
    "q111_freq_spectrum" ->
      graft.operators.OlapOps.freqSpectrumOracleSql,
    "q112_k_anonymity" ->
      graft.operators.OlapOps.kAnonymityOracleSql,
    "q113_ivm" ->
      graft.operators.OlapOps.ivmOracleSql,
    "q114_minmax_scale" ->
      graft.operators.OlapOps.minMaxScaleOracleSql,
    "q115_funnel_latency" ->
      graft.operators.Sessionize.funnelLatencyOracleSql,
    "q116_ri_summary" ->
      graft.quality.DataQuality.riSummaryOracleSql,
    "q117_parent_share" ->
      graft.operators.OlapOps.parentShareOracleSql,
    "q118_histogram_cdf" ->
      graft.operators.OlapOps.histogramCdfOracleSql,
    "q119_weighted_median" ->
      graft.operators.OlapOps.weightedMedianOracleSql,
    "q120_basket_pairs" ->
      graft.operators.OlapOps.basketPairsOracleSql,
    "q121_contiguity" ->
      graft.operators.OlapOps.contiguityOracleSql,
    "q122_stratified_k" ->
      graft.operators.Curation.stratifiedExactKOracleSql(),
    "q123_drift_tvd" ->
      graft.operators.Curation.driftTvdOracleSql,
    "q124_conv_decile" ->
      graft.operators.Sessionize.conversionByDecileOracleSql,
    "q125_freshness" ->
      graft.quality.DataQuality.freshnessOracleSql,
    "q126_markov" ->
      graft.operators.Sessionize.markovOracleSql,
    "q127_audience" ->
      graft.operators.Sessionize.audienceOverlapOracleSql,
    "q128_dispersion" ->
      graft.operators.OlapOps.priceDispersionOracleSql,
    "q129_decay_score" ->
      graft.operators.Sessionize.decayScoreOracleSql,
    "q130_source_vocab" ->
      graft.operators.CorpusStats.sourceVocabOverlapOracleSql,
    "q131_pareto" ->
      graft.operators.OlapOps.paretoOracleSql,
    "q132_bounce_rate" ->
      graft.operators.Sessionize.bounceRateOracleSql,
    "q133_heatmap" ->
      graft.operators.OlapOps.heatmapOracleSql,
    "q134_column_profile" ->
      graft.quality.DataQuality.columnProfileOracleSql,
    "q135_ttr" ->
      graft.operators.CorpusStats.typeTokenRatioOracleSql,
    "q136_basket_lift" ->
      graft.operators.OlapOps.basketLiftOracleSql,
    "q137_autocorr" ->
      graft.operators.OlapOps.autocorrOracleSql,
    "q138_assertions" ->
      graft.quality.DataQuality.assertionSuiteOracleSql,
    "q139_rfm" ->
      graft.operators.OlapOps.rfmOracleSql,
    "q140_hhi" ->
      graft.operators.OlapOps.hhiOracleSql,
    "q141_seasonal" ->
      graft.operators.OlapOps.seasonalResidualOracleSql,
    "q142_new_returning" ->
      graft.operators.OlapOps.newVsReturningOracleSql,
    "q143_packing_waste" ->
      graft.operators.TextAnalysis.packingWasteOracleSql,
    "q144_dedup_savings" ->
      graft.operators.Dedup.dedupSavingsOracleSql,
    // q145 drains events through a real writeStream; its per-batch
    // rule counts are algebraic sums, so the streamed timeline totals
    // equal the batch assertion suite the oracle recomputes (plus the
    // deterministic micro-batch count).
    "q145_stream_monitor" ->
      graft.streaming.MonitorStream.monitorTimelineOracleSql,
    "q146_bpe_merges" ->
      graft.operators.TextAnalysis.bpeMergesOracleSql(),
    "q147_pruning_proof" ->
      graft.operators.Maintenance.pruningProofOracleSql,
    "q148_bpe_segments" ->
      graft.operators.TextAnalysis.bpeSegmentStatsOracleSql(),
    "q150_ann_recall" ->
      graft.operators.Similarity.annRecallOracleSql(),
    "q151_recall_curve" ->
      graft.operators.Similarity.annRecallCurveOracleSql(),
    "q152_hll_registers" ->
      graft.operators.DistinctSketch.hllRegistersOracleSql,
    "q153_bloom_prune" ->
      graft.operators.JoinStrategies.bloomPruneOracleSql,
    "q154_join_size" ->
      graft.operators.JoinStrategies.selfJoinSizeOracleSql,
    "q155_join_size_2rel" ->
      graft.operators.JoinStrategies.joinSizeOracleSql,
    "q156_l_diversity" ->
      graft.operators.OlapOps.lDiversityOracleSql,
    "q157_t_closeness" ->
      graft.operators.OlapOps.tClosenessOracleSql,
    "q158_deletion_vectors" ->
      graft.operators.Maintenance.deletionVectorOracleSql,
    "q159_revenue_by_nation" ->
      graft.operators.Queries.q159RevenueByNationOracleSql,
    "q160_daily_registers" ->
      graft.operators.DistinctSketch.dailyRegistersOracleSql,
    "q162_ppr" ->
      graft.operators.GraphRank.pprOracleSql,
    "q163_gini" ->
      graft.operators.OlapOps.giniOracleSql,
    "q164_attribution" ->
      graft.operators.Sessionize.attributionOracleSql,
    "q165_last_touch" ->
      graft.operators.Sessionize.lastTouchOracleSql,
    "q64_cube" ->
      """SELECT coalesce(o_orderpriority, 'ALL') AS o_orderpriority,
           coalesce(o_orderstatus, 'ALL') AS o_orderstatus,
           CAST(GROUPING(o_orderpriority, o_orderstatus) AS INT) AS gid,
           CAST(count(*) AS BIGINT) AS n_orders,
           CAST(round(sum(CAST(o_totalprice AS DECIMAL(38,10))), 2) * 100
             AS BIGINT) AS total_cents
         FROM orders
         GROUP BY CUBE(o_orderpriority, o_orderstatus)
         ORDER BY gid, o_orderpriority, o_orderstatus""",
    "q26_cosine_topk" ->
      """WITH q AS (SELECT CAST(embedding AS DOUBLE[]) AS qe
                    FROM embeddings WHERE vec_id = 0)
         SELECT vec_id,
           CAST(round(list_cosine_similarity(CAST(embedding AS DOUBLE[]), qe), 6)
                * 1000000 AS BIGINT) AS sim
         FROM embeddings, q WHERE vec_id != 0
         ORDER BY list_cosine_similarity(CAST(embedding AS DOUBLE[]), qe) DESC,
           vec_id LIMIT 10""",
    // q27/q36 run in exact-recovery configurations (one LSH bucket /
    // nprobe = nClusters), so the correct answer IS the brute-force
    // top-k — the same oracle as q26.
    "q27_ann_lsh" ->
      """WITH q AS (SELECT CAST(embedding AS DOUBLE[]) AS qe
                    FROM embeddings WHERE vec_id = 0)
         SELECT vec_id,
           CAST(round(list_cosine_similarity(CAST(embedding AS DOUBLE[]), qe), 6)
                * 1000000 AS BIGINT) AS sim
         FROM embeddings, q WHERE vec_id != 0
         ORDER BY list_cosine_similarity(CAST(embedding AS DOUBLE[]), qe) DESC,
           vec_id LIMIT 10""",
    "q36_ivf_topk" ->
      """WITH q AS (SELECT CAST(embedding AS DOUBLE[]) AS qe
                    FROM embeddings WHERE vec_id = 0)
         SELECT vec_id,
           CAST(round(list_cosine_similarity(CAST(embedding AS DOUBLE[]), qe), 6)
                * 1000000 AS BIGINT) AS sim
         FROM embeddings, q WHERE vec_id != 0
         ORDER BY list_cosine_similarity(CAST(embedding AS DOUBLE[]), qe) DESC,
           vec_id LIMIT 10""",
    // q35 runs with planes = 0 (single bucket): candidate set = all
    // pairs, so the exact all-pairs cosine join is the oracle.
    "q35_embed_neardup" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb
                    FROM embeddings)
         SELECT a.vec_id AS v1, b.vec_id AS v2,
           CAST(round(list_cosine_similarity(a.emb, b.emb), 6) * 1000000
                AS BIGINT) AS sim
         FROM e a JOIN e b ON a.vec_id < b.vec_id
         WHERE list_cosine_similarity(a.emb, b.emb) >= 0.3
         ORDER BY v1, v2""",
    // q37's decode stub keys width/height on md5(payload) so the
    // decode output is recomputable in SQL (not just row-counted).
    "q37_multimodal_decode" ->
      """SELECT doc_id, CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
         CAST(64 + CAST(('0x' || substr(md5(text), 1, 4)) AS INT) % 512 AS INT) AS width,
         CAST(64 + CAST(('0x' || substr(md5(text), 5, 4)) AS INT) % 512 AS INT) AS height
         FROM documents ORDER BY doc_id""",
    "q28_langid" ->
      """WITH p AS (SELECT doc_id, lang, ' ' || lower(text) || ' ' AS pt FROM documents),
         s AS (SELECT doc_id, lang,
           CAST((length(pt)-length(replace(pt,' the ','')))/5 AS BIGINT)
          +CAST((length(pt)-length(replace(pt,' and ','')))/5 AS BIGINT)
          +CAST((length(pt)-length(replace(pt,' of ','')))/4 AS BIGINT)
          +CAST((length(pt)-length(replace(pt,' is ','')))/4 AS BIGINT) AS en,
           CAST((length(pt)-length(replace(pt,' le ','')))/4 AS BIGINT)
          +CAST((length(pt)-length(replace(pt,' la ','')))/4 AS BIGINT)
          +CAST((length(pt)-length(replace(pt,' et ','')))/4 AS BIGINT)
          +CAST((length(pt)-length(replace(pt,' les ','')))/5 AS BIGINT) AS fr,
           CAST((length(pt)-length(replace(pt,' el ','')))/4 AS BIGINT)
          +CAST((length(pt)-length(replace(pt,' los ','')))/5 AS BIGINT)
          +CAST((length(pt)-length(replace(pt,' que ','')))/5 AS BIGINT)
          +CAST((length(pt)-length(replace(pt,' y ','')))/3 AS BIGINT) AS es,
           CAST((length(pt)-length(replace(pt,' der ','')))/5 AS BIGINT)
          +CAST((length(pt)-length(replace(pt,' und ','')))/5 AS BIGINT)
          +CAST((length(pt)-length(replace(pt,' die ','')))/5 AS BIGINT)
          +CAST((length(pt)-length(replace(pt,' ist ','')))/5 AS BIGINT) AS de
           FROM p)
         SELECT doc_id, lang AS lang_declared,
           CASE WHEN en >= fr AND en >= es AND en >= de THEN 'en'
                WHEN fr >= es AND fr >= de THEN 'fr'
                WHEN es >= de THEN 'es'
                ELSE 'de' END AS lang_pred,
           en AS score_en, fr AS score_fr
         FROM s ORDER BY doc_id""",
    "q29_text_quality" ->
      """SELECT doc_id, CAST(length(text) AS BIGINT) AS n_chars_m,
         CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT) AS n_words,
         CAST(floor(length(replace(text, ' ', '')) * 10000.0
           / greatest(len(string_split_regex(trim(text), '\s+')), 1)) AS BIGINT)
           AS avg_word_len_e4,
         CAST(len(regexp_extract_all(text, '[^A-Za-z0-9\s]')) AS BIGINT) AS n_punct,
         CAST(len(regexp_extract_all(text, '[0-9]')) AS BIGINT) AS n_digits,
         CAST(len(regexp_extract_all(text, '[A-Z]')) AS BIGINT) AS n_upper
         FROM documents ORDER BY doc_id""",
    "q30_token_count" ->
      """SELECT doc_id,
         CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT) AS ws_tokens,
         CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]|[^A-Za-z0-9\s]')) AS BIGINT)
           AS bpe_tokens
         FROM documents ORDER BY doc_id""",
    "q31_fingerprint" ->
      """SELECT doc_id,
         md5(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g'))) AS fp_md5
         FROM documents ORDER BY doc_id""",
    "q32_embed_stats" ->
      """SELECT label, CAST(count(*) AS BIGINT) AS n,
         CAST(sum(CAST(round(sqrt(list_dot_product(CAST(embedding AS DOUBLE[]),
           CAST(embedding AS DOUBLE[]))), 4) * 10000 AS BIGINT)) AS BIGINT) AS sum_norm
         FROM embeddings GROUP BY 1 ORDER BY label""",
    "q33_multimodal_meta" ->
      """SELECT doc_id, CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
         md5(text) AS checksum
         FROM documents ORDER BY doc_id""",
    "q166_flatten_view" -> flattenViewOracleSql,
    // q248 re-derives the SAME view through the untyped VARIANT
    // route — equality against the same oracle is the claim.
    "q248_variant_flatten" -> flattenViewOracleSql,
    // the oracle aggregates the ORIGINAL documents; the Spark side
    // aggregates its XML write → schema'd read round-trip (q171's
    // shape on the markup format).
    "q249_xml_roundtrip" ->
      """SELECT lang, CAST(count(*) AS BIGINT) AS n,
         CAST(sum(length(text)) AS BIGINT) AS text_len,
         CAST(sum(n_chars) AS BIGINT) AS chars
         FROM documents GROUP BY 1 ORDER BY 1""",
    // q250: a user emits exactly once iff last event + idle passed
    // the final watermark; rows are total per-type counts.
    "q250_idle_close" ->
      graft.streaming.IdleCloseStream.idleCloseOracleSql,
    "q251_stream_left_join" ->
      graft.streaming.StreamJoin.leftJoinOracleSql,
    "q252_join_then_window" ->
      graft.streaming.StreamJoin.joinedWindowOracleSql,
    "q253_stream_upsert" ->
      graft.streaming.UpsertStream.upsertOracleSql,
    // q254: the drained stateful funnel must reproduce the batch
    // funnel counts exactly — same oracle as q63.
    "q254_stream_funnel" ->
      graft.operators.Sessionize.funnelOracleSql,
    "q255_stream_actives" ->
      graft.streaming.ActiveUsersStream.activeUsersOracleSql,
    "q256_update_mode" ->
      graft.streaming.UpdateModeStream.updateModeOracleSql,
    "q257_complete_topk" ->
      graft.streaming.UpdateModeStream.completeModeOracleSql,
    "q258_stream_static" ->
      graft.streaming.EnrichStream.enrichedOracleSql,
    "q259_bounded_dedup" ->
      graft.streaming.BoundedDedupStream.boundedDedupOracleSql,
    "q260_trailing_window" ->
      graft.operators.OlapOps.trailingWindowOracleSql,
    "q261_skyline" ->
      graft.operators.Curation.skylineOracleSql,
    "q262_hashed_features" ->
      graft.operators.TextAnalysis.hashedFeaturesOracleSql,
    "q263_incremental_agg" ->
      graft.operators.Maintenance.incrementalAggOracleSql,
    "q264_keyness" ->
      graft.operators.CorpusStats.keynessOracleSql,
    "q265_stream_cdc" ->
      graft.streaming.UpsertStream.cdcOracleSql,
    "q266_cogroup_reconcile" ->
      graft.operators.Reconcile.reconcileOracleSql,
    "q267_column_stats" ->
      graft.operators.Maintenance.tableStatsOracleSql,
    "q268_rendezvous_shards" ->
      graft.operators.Sharding.rendezvousOracleSql,
    "q269_priority_sample" ->
      graft.operators.Sampling.prioritySampleOracleSql,
    "q270_burstiness" ->
      graft.operators.Sessionize.fanoOracleSql,
    "q271_type_runs" ->
      graft.streaming.RunStream.typeRunsOracleSql,
    "q272_benford" ->
      graft.quality.DataQuality.benfordOracleSql,
    // q273: the multi-batch eviction drain lands the COMPLETE interval
    // join (see StreamJoin.evictionJoinQuery's completeness argument),
    // so q229's batch oracle applies verbatim.
    "q273_join_eviction" ->
      graft.streaming.StreamJoin.streamJoinOracleSql,
    // q274: the multi-batch left-outer eviction drain lands the same
    // complete result as q251's single-batch drain (see
    // StreamJoin.evictionLeftJoinQuery), so q251's oracle applies.
    "q274_leftjoin_eviction" ->
      graft.streaming.StreamJoin.leftJoinOracleSql,
    "q275_ttl_cache" ->
      graft.streaming.TtlStream.ttlCacheOracleSql,
    "q276_cdc_consumer" ->
      graft.streaming.UpsertStream.cdcConsumerOracleSql,
    "q277_fulljoin_eviction" ->
      graft.streaming.StreamJoin.fullJoinOracleSql,
    // q278: the multi-batch session-eviction drain lands the same
    // closed-session set as q244's 2-wave drain — one oracle.
    "q278_session_eviction" ->
      graft.streaming.SessionStream.sessionWindowOracleSql,
    // q279: the multi-batch chained drain lands the same closed-
    // window set as q252's 2-batch drain — one oracle.
    "q279_chained_eviction" ->
      graft.streaming.StreamJoin.joinedWindowOracleSql,
    // q280: compaction must be semantically invisible to the CDC
    // consumer — q276's from-scratch oracle verbatim.
    "q280_cdc_compaction" ->
      graft.streaming.UpsertStream.cdcCompactionOracleSql,
    // q281: the state-store provider must not change the answer —
    // q252/q279's closed-window oracle verbatim.
    "q281_rocksdb_chained" ->
      graft.streaming.StreamJoin.joinedWindowOracleSql,
    // q282: the event-time TTL lifecycle replayed relationally over
    // the two-wave schedule.
    "q282_event_ttl" ->
      graft.streaming.EventTtlStream.eventTtlOracleSql,
    // q283: the table as of batch N-1 — the first two waves' argmax.
    "q283_time_travel" ->
      graft.streaming.UpsertStream.timeTravelOracleSql,
    // q284: compaction interleaved with the live consumer must not
    // change what the consumer computes — q276's oracle verbatim.
    "q284_live_compaction" ->
      graft.streaming.UpsertStream.liveCompactionOracleSql,
    // q285: the table as of batch 1 under a K=3 window over four
    // waves — the first two of four waves' argmax.
    "q285_retention_k" ->
      graft.streaming.UpsertStream.retentionKOracleSql,
    // q286: the state-store provider must not change the session set
    // — q244/q278's closed-session oracle verbatim.
    "q286_rocksdb_session" ->
      graft.streaming.SessionStream.sessionWindowOracleSql,
    // q287: bounding the consumer's state chain must not change what
    // it computes — q276's oracle verbatim.
    "q287_consumer_retention" ->
      graft.streaming.UpsertStream.consumerRetentionOracleSql,
    // q288: the incrementally-maintained grouped view must equal the
    // from-scratch bucket rollup over each user's final version.
    "q288_grouped_ivm" ->
      graft.streaming.GroupedIvm.groupedIvmOracleSql,
    // q289: the widened-table state — wave<=1 argmax full-outer the
    // wave-2 argmax, updates winning, old rows with NULL channel.
    "q289_evolve_merge" ->
      graft.operators.Maintenance.evolveMergeOracleSql,
    // q290: the probed users' argmax rows — skipping must never
    // change an answer.
    "q290_point_lookup" ->
      graft.operators.Maintenance.pointLookupOracleSql,
    // q291: running the fold inside the drain must not change what it
    // computes — q288's oracle verbatim.
    "q291_streaming_ivm" ->
      graft.streaming.GroupedIvm.streamingIvmOracleSql,
    // q292: the probed users' argmax rows over the merged state (head
    // slice uppercased) — maintaining the index must not change reads.
    "q292_index_refresh" ->
      graft.operators.Maintenance.indexRefreshOracleSql,
    // q293: each retained version's keyed cardinality from the raw
    // events — snapshot numbering, the merge, and footer counting
    // must agree on what every version holds.
    "q293_table_history" ->
      graft.streaming.UpsertStream.tableHistoryOracleSql,
    "q167_membership_topk" ->
      """SELECT l_orderkey, l_partkey, l_linenumber, l_quantity
         FROM lineitem
         WHERE l_partkey IN (
           SELECT l_partkey FROM (
             SELECT l_partkey,
               sum(CAST(l_quantity AS DECIMAL(38,10))) AS total
             FROM lineitem GROUP BY 1
             ORDER BY total DESC, l_partkey ASC LIMIT 10))
         ORDER BY l_orderkey, l_partkey, l_linenumber""",
    "q168_top_bottom_k" ->
      """SELECT o_orderkey, o_totalprice, bucket FROM (
           SELECT o_orderkey, o_totalprice, 'top' AS bucket
           FROM orders ORDER BY o_totalprice DESC, o_orderkey ASC LIMIT 5)
         UNION ALL
         SELECT o_orderkey, o_totalprice, bucket FROM (
           SELECT o_orderkey, o_totalprice, 'bottom' AS bucket
           FROM orders ORDER BY o_totalprice ASC, o_orderkey ASC LIMIT 5)
         ORDER BY bucket, o_orderkey""",
    // §2.11: the oracle IS the query — one dialect-neutral SQL text
    // executed by both engines, certifying the passthrough surface.
    "q169_sql_passthrough" -> q169Sql,
    // the oracles aggregate the ORIGINAL tables; the Spark side
    // aggregates its sink round-trip — equality proves the sink
    "q170_sink_roundtrip" ->
      """SELECT l_returnflag, CAST(count(*) AS BIGINT) AS n,
         CAST(round(sum(CAST(l_extendedprice AS DECIMAL(38,10))), 2) * 100 AS BIGINT) AS total_cents
         FROM lineitem GROUP BY 1 ORDER BY 1""",
    "q171_json_roundtrip" ->
      """SELECT lang, CAST(count(*) AS BIGINT) AS n,
         CAST(sum(length(text)) AS BIGINT) AS text_len,
         CAST(sum(n_chars) AS BIGINT) AS chars
         FROM documents GROUP BY 1 ORDER BY 1""",
    "q172_grouping_sets" ->
      graft.operators.OlapOps.groupingSetsOracleSql,
    "q173_session_pattern" ->
      graft.operators.Sessionize.sessionPatternOracleSql,
    "q174_bigram_lm" ->
      graft.operators.CorpusStats.bigramLmOracleSql,
    // the oracle aggregates the ORIGINAL lineitem; the Spark side
    // aggregates its TSV write → readTsv/typed round-trip.
    "q175_tsv_roundtrip" ->
      """SELECT l_returnflag, CAST(count(*) AS BIGINT) AS n,
         CAST(sum(l_orderkey) AS BIGINT) AS key_sum,
         CAST(round(sum(CAST(l_quantity AS DECIMAL(38,10))), 2) * 100 AS BIGINT) AS qty_cents,
         CAST(round(sum(CAST(l_extendedprice AS DECIMAL(38,10))), 2) * 100 AS BIGINT) AS price_cents
         FROM lineitem GROUP BY 1 ORDER BY 1""",
    "q176_triangles" ->
      graft.operators.GraphTopology.triangleOracleSql,
    "q177_bfs_reach" ->
      graft.operators.GraphTopology.bfsOracleSql,
    // the oracle replays the epoch rule over the ORIGINAL documents;
    // equality proves the mergeSchema union nulls exactly epoch 1
    "q178_evolution" ->
      """SELECT CASE WHEN doc_id % 2 = 0 THEN 'pre_schema' ELSE lang END
           AS lang,
         CAST(count(*) AS BIGINT) AS n,
         CAST(sum(n_chars) AS BIGINT) AS chars,
         CAST(count(*) FILTER (WHERE doc_id % 2 = 1) AS BIGINT)
           AS with_source
         FROM documents GROUP BY 1 ORDER BY 1""",
    "q179_classifier_eval" ->
      graft.operators.ModelEval.classifierEvalOracleSql,
    // same oracle as q175: both round-trips must reproduce the same
    // aggregate of the ORIGINAL lineitem through different scanners
    "q180_zip_roundtrip" ->
      """SELECT l_returnflag, CAST(count(*) AS BIGINT) AS n,
         CAST(sum(l_orderkey) AS BIGINT) AS key_sum,
         CAST(round(sum(CAST(l_quantity AS DECIMAL(38,10))), 2) * 100 AS BIGINT) AS qty_cents,
         CAST(round(sum(CAST(l_extendedprice AS DECIMAL(38,10))), 2) * 100 AS BIGINT) AS price_cents
         FROM lineitem GROUP BY 1 ORDER BY 1""",
    "q181_kmv_jaccard" ->
      graft.operators.DistinctSketch.kmvJaccardOracleSql,
    "q182_quantile_sketch" ->
      graft.operators.QuantileSketch.quantileSketchOracleSql(),
    // q183: same cluster CTE as q45/q161, split by the portable hash
    // of the CLUSTER id — the oracle proves both the clustering and
    // the atomic per-cluster assignment.
    "q183_leakage_split" -> (dupClusterCte +
      """ SELECT doc_id, cluster_id,
         CAST(('0x' || substr(md5(CAST(cluster_id AS VARCHAR)), 1, 15)) AS BIGINT) % 100 AS bucket,
         CASE WHEN CAST(('0x' || substr(md5(CAST(cluster_id AS VARCHAR)), 1, 15)) AS BIGINT) % 100 < 90 THEN 'train'
              WHEN CAST(('0x' || substr(md5(CAST(cluster_id AS VARCHAR)), 1, 15)) AS BIGINT) % 100 < 95 THEN 'val'
              ELSE 'test' END AS split
         FROM lab ORDER BY doc_id"""),
    "q184_auc" ->
      graft.operators.ModelEval.aucOracleSql,
    "q185_roc_curve" ->
      graft.operators.ModelEval.rocCurveOracleSql,
    "q186_pr_curve" ->
      graft.operators.ModelEval.prCurveOracleSql,
    "q187_avg_precision" ->
      graft.operators.ModelEval.avgPrecisionOracleSql,
    "q188_calibration" ->
      graft.operators.ModelEval.calibrationOracleSql,
    "q189_partition_digest" ->
      graft.operators.Maintenance.partitionDigestOracleSql,
    "q190_partition_drift" ->
      graft.operators.Maintenance.partitionDriftOracleSql,
    "q191_ivm_retract" ->
      graft.operators.OlapOps.ivmRetractOracleSql,
    // q192: the gating chain feeds the clustering chain, the split is
    // the q183 hash-of-cluster rule, and the manifest rolls up per
    // split — all from the shared CTE builders, so the oracle can
    // only drift if the composed semantics do.
    "q192_curation_manifest" ->
      (s"""WITH RECURSIVE $gatedDocsCtes,
         """ + dupClusterCtesOver("gated") + s""",
         sp AS (SELECT doc_id, cluster_id,
           CASE WHEN CAST(('0x' || substr(md5(CAST(cluster_id AS VARCHAR)), 1, 15)) AS BIGINT) % 100 < 90 THEN 'train'
                WHEN CAST(('0x' || substr(md5(CAST(cluster_id AS VARCHAR)), 1, 15)) AS BIGINT) % 100 < 95 THEN 'val'
                ELSE 'test' END AS split
           FROM lab)
         SELECT sp.split, CAST(count(*) AS BIGINT) AS n_docs,
           CAST(count(DISTINCT sp.cluster_id) AS BIGINT) AS n_clusters,
           CAST(sum(g.n_words) AS BIGINT) AS words
         FROM sp JOIN gated g ON sp.doc_id = g.doc_id
         GROUP BY 1 ORDER BY 1"""),
    "q193_hilbert" ->
      graft.operators.ZOrder.hilbertOracleSql,
    "q194_kcore" ->
      graft.operators.GraphTopology.kcoreOracleSql,
    "q195_sliding_registers" ->
      graft.operators.DistinctSketch.slidingRegistersOracleSql,
    "q196_weighted_quantiles" ->
      graft.operators.OlapOps.weightedQuantilesOracleSql,
    "q197_winsorized_mean" ->
      graft.operators.OlapOps.winsorizedMeanOracleSql,
    // q198: aggregates recomputed from the ORIGINAL documents with
    // the same injected payload — the scanner must lose nothing.
    "q198_csv_roundtrip" ->
      """WITH p AS (SELECT doc_id, lang,
           text || ',"' || chr(10) || '|' || source AS payload
         FROM documents)
       SELECT lang, CAST(count(*) AS BIGINT) AS n,
         CAST(sum(doc_id) AS BIGINT) AS id_sum,
         CAST(sum(length(payload)) AS BIGINT) AS len_sum,
         CAST(sum(CAST(('0x' || substr(md5(payload), 1, 15)) AS BIGINT)
           % 2147483647) AS BIGINT) AS hash_sum
       FROM p GROUP BY 1 ORDER BY 1""",
    "q199_markov_eval" ->
      graft.operators.Sessionize.markovEvalOracleSql,
    "q200_temperature_mix" ->
      graft.operators.Curation.temperatureMixOracleSql,
    "q201_trigram_like" ->
      graft.operators.CorpusStats.trigramLikeOracleSql,
    "q202_sorted_neighborhood" ->
      graft.operators.Dedup.sortedNeighborhoodOracleSql(),
    "q203_label_noise" ->
      graft.operators.Similarity.labelNoiseOracleSql(),
    "q204_hard_negatives" ->
      graft.operators.Similarity.hardNegativesOracleSql,
    "q210_label_noise_lsh" ->
      graft.operators.Similarity.labelNoiseLshOracleSql(),
    "q211_hard_negatives_lsh" ->
      graft.operators.Similarity.hardNegativesLshOracleSql(),
    "q212_knn_block_recall" ->
      graft.operators.Similarity.knnBlockRecallOracleSql(),
    "q213_table_info" ->
      graft.operators.SecServing.tableInfoOracleSql,
    "q214_hard_negative_fidelity" ->
      graft.operators.Similarity.hardNegativeFidelityOracleSql(),
    "q215_sketch_cube" ->
      graft.operators.DistinctSketch.rollupRegistersOracleSql,
    "q216_pq_topk" ->
      graft.operators.ProductQuant.pqTopKOracleSql(),
    "q217_pq_recall" ->
      graft.operators.ProductQuant.pqRecallOracleSql(),
    "q218_stream_dedup" ->
      graft.streaming.DocStream.streamDedupOracleSql,
    "q219_rank_fusion" ->
      graft.operators.Similarity.rankFusionOracleSql(),
    "q220_cusum" ->
      graft.operators.OlapOps.cusumOracleSql,
    "q221_link_prediction" ->
      graft.operators.GraphTopology.linkPredictionOracleSql,
    "q222_ngram_contamination" ->
      graft.operators.CorpusStats.contaminationOracleSql,
    "q223_bm25" ->
      graft.operators.Retrieval.bm25OracleSql,
    "q225_ppjoin" ->
      graft.operators.Dedup.ppjoinOracleSql(),
    "q226_temporal_reach" ->
      graft.operators.GraphTopology.temporalReachOracleSql,
    "q227_lpa_communities" ->
      graft.operators.GraphTopology.labelPropagationOracleSql,
    "q228_trunc_recall" ->
      graft.operators.Similarity.truncationRecallOracleSql,
    "q229_stream_join" ->
      graft.streaming.StreamJoin.streamJoinOracleSql,
    "q230_feature_prop" ->
      graft.operators.GraphTopology.featurePropagationOracleSql,
    "q231_weighted_pagerank" ->
      graft.operators.GraphRank.weightedPageRankOracleSql,
    // q232: the four pair chains unioned, then the q45 recursive
    // component labeling over the combined edge set. The uncapped
    // prefix-join pairs re-derive from the suffix-2 shingle CTE
    // (no df cap), the exact groups link to their min doc, and the
    // sorted-neighborhood CTEs come from the shared builder.
    "q232_union_dedup" ->
      ("WITH RECURSIVE " + jaccardPairCtes("documents", "2") + s""",
         $snPairCtes,
         exg AS (SELECT mn AS d1, doc_id AS d2 FROM (
             SELECT doc_id,
               min(doc_id) OVER (PARTITION BY md5(text)) AS mn
             FROM documents)
           WHERE doc_id <> mn),
         exall AS (SELECT doc_id, unnest(shingles) AS s FROM sh2),
         ia AS (SELECT a.doc_id AS d1, b.doc_id AS d2,
               CAST(count(*) AS BIGINT) AS c
             FROM exall a JOIN exall b
               ON a.s = b.s AND a.doc_id < b.doc_id
             GROUP BY 1, 2),
         pp AS (SELECT d1, d2 FROM ia
             JOIN sizes2 s1 ON d1 = s1.doc_id
             JOIN sizes2 s2 ON d2 = s2.doc_id
             WHERE c * 1000000 // greatest(s1.n + s2.n - c, 1)
               >= ${graft.operators.Dedup.PpThresholdE6}),
         allp AS (SELECT d1, d2 FROM pairs2
                  UNION SELECT d1, d2 FROM snp
                  UNION SELECT d1, d2 FROM exg
                  UNION SELECT d1, d2 FROM pp),
         edges AS (SELECT d1 AS a, d2 AS b FROM allp
                   UNION SELECT d2, d1 FROM allp),
         reach(a, b) AS (
           SELECT a, b FROM edges
           UNION
           SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a),
         comp AS (SELECT a AS doc_id, min(b) AS mn FROM reach GROUP BY a),
         lab AS (SELECT d.doc_id,
                   coalesce(least(c.mn, d.doc_id), d.doc_id) AS cluster_id
                 FROM documents d LEFT JOIN comp c ON d.doc_id = c.doc_id)
       SELECT doc_id, cluster_id,
         CAST(count(*) OVER (PARTITION BY cluster_id) AS BIGINT)
           AS cluster_size,
         CAST(CASE WHEN doc_id = cluster_id THEN 1 ELSE 0 END AS INT)
           AS is_canonical
       FROM lab ORDER BY doc_id"""),
    "q233_repetition_filter" ->
      graft.operators.RepetitionFilter.repetitionOracleSql,
    "q234_balanced_sample" ->
      graft.operators.Sampling.balancedSampleOracleSql,
    "q235_shared_spans" ->
      graft.operators.RepetitionFilter.sharedSpanOracleSql,
    "q236_quota_manifest" ->
      graft.operators.Sampling.quotaManifestOracleSql,
    "q237_context_windows" ->
      graft.operators.Packing.contextWindowsOracleSql,
    // q238: the drained stateful stream must reproduce the batch
    // packing arithmetic exactly — same oracle as q237.
    "q238_stream_packing" ->
      graft.operators.Packing.contextWindowsOracleSql,
    "q239_boilerplate" ->
      graft.operators.RepetitionFilter.boilerplateOracleSql,
    "q240_bucketed_join" ->
      graft.operators.JoinStrategies.bucketedRevenueOracleSql,
    "q241_zipf_bands" ->
      graft.operators.TextAnalysis.zipfOracleSql,
    "q242_heaps_growth" ->
      graft.operators.TextAnalysis.heapsOracleSql,
    // q243: the watermark lifecycle replayed in SQL — per-wave max
    // event time, drop-late against prior waves' watermark, emit
    // against the final watermark.
    "q243_late_audit" ->
      graft.streaming.LateStream.lateAuditOracleSql,
    // q244: inclusive-gap sessions per user, end = last + gap,
    // emitted iff closed by the final watermark.
    "q244_session_window" ->
      graft.streaming.SessionStream.sessionWindowOracleSql,
    "q245_observed_qc" ->
      graft.quality.ObservedMetrics.observedWriteOracleSql,
    // q246: per-user row_number over (ms, event_id) kept at powers of
    // two — any lost or double-counted row across batches breaks it.
    "q246_milestones" ->
      graft.streaming.MilestoneStream.milestoneOracleSql,
    // the oracle filters+aggregates the ORIGINAL lineitem; the Spark
    // side filters its ORC round-trip through pushed predicates.
    "q247_orc_roundtrip" ->
      """SELECT l_returnflag, CAST(count(*) AS BIGINT) AS n,
         CAST(sum(l_orderkey) AS BIGINT) AS key_sum,
         CAST(round(sum(CAST(l_extendedprice AS DECIMAL(38,10))), 2) * 100 AS BIGINT) AS total_cents
         FROM lineitem WHERE l_quantity >= 25.0
         GROUP BY 1 ORDER BY 1""",
    "q205_centroid_drift" ->
      graft.operators.Similarity.centroidDriftOracleSql,
    "q206_emd_drift" ->
      graft.operators.Curation.driftEmdOracleSql,
    "q207_burst_detect" ->
      graft.operators.OlapOps.burstDetectOracleSql,
    // q208: old-corpus clusters (the stored table) + all-corpus pairs
    // filtered to the straddle set + min-label assignment.
    "q208_incremental_clusters" ->
      ("""WITH RECURSIVE old_docs AS
           (SELECT * FROM documents WHERE doc_id % 5 <> 4),
         """ + dupClusterCtesOver("old_docs") + ",\n" +
        jaccardPairCtes("documents", "2") + """,
         str AS (SELECT
             CASE WHEN d1 % 5 = 4 THEN d1 ELSE d2 END AS new_id,
             CASE WHEN d1 % 5 = 4 THEN d2 ELSE d1 END AS old_id
           FROM pairs2 WHERE (d1 % 5 = 4) <> (d2 % 5 = 4)),
         asg AS (SELECT new_id, min(l.cluster_id) AS cid,
             CAST(count(*) AS BIGINT) AS n_matches
           FROM str JOIN lab l ON l.doc_id = str.old_id GROUP BY 1)
       SELECT d.doc_id, coalesce(a.cid, d.doc_id) AS cluster_id,
         CAST(coalesce(a.n_matches, 0) AS BIGINT) AS n_matches
       FROM documents d LEFT JOIN asg a ON a.new_id = d.doc_id
       WHERE d.doc_id % 5 = 4 ORDER BY d.doc_id"""),
    // q209: the three pair sets re-derived from their proven chains,
    // summarized side by side. The sorted-neighborhood CTEs come from
    // [[snPairCtes]], which interpolates Dedup.SnWindow /
    // Dedup.SnThresholdE6 so changing either constant cannot desync
    // this oracle from the query (same discipline as the q202 oracle).
    "q209_dedup_method_compare" ->
      ("WITH " + jaccardPairCtes("documents", "2") + s""",
         $snPairCtes,
         exg AS (SELECT md5(text) AS f, count(*) AS g FROM documents
                 GROUP BY 1 HAVING count(*) > 1)
       SELECT 'exact' AS method,
         CAST(coalesce(sum(g * (g - 1) // 2), 0) AS BIGINT) AS n_pairs,
         CAST(coalesce(sum(g), 0) AS BIGINT) AS n_docs
       FROM exg
       UNION ALL
       SELECT 'jaccard_index',
         (SELECT CAST(count(*) AS BIGINT) FROM pairs2),
         (SELECT CAST(count(DISTINCT u) AS BIGINT) FROM
           (SELECT d1 AS u FROM pairs2 UNION SELECT d2 FROM pairs2))
       UNION ALL
       SELECT 'sorted_neighborhood',
         (SELECT CAST(count(*) AS BIGINT) FROM snp),
         (SELECT CAST(count(DISTINCT u) AS BIGINT) FROM
           (SELECT d1 AS u FROM snp UNION SELECT d2 FROM snp))
       ORDER BY method"""),
    // q224: the three pair chains (inverted index, portable MinHash,
    // sorted neighborhood) in one WITH clause, intersected pairwise.
    // All from the shared CTE builders, so the oracle can only drift
    // if the chains' semantics do.
    "q224_dedup_agreement" ->
      ("WITH " + jaccardPairCtes("documents", "2") + s""",
         $minHashCtePrefix,
         mhcand AS (SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2
                    FROM bands a JOIN bands b
                    ON a.band = b.band AND a.k = b.k
                      AND a.doc_id < b.doc_id),
         mh AS (SELECT d1, d2 FROM
                  (SELECT d1, d2, ($minHashEqSum) AS cnt
                   FROM mhcand JOIN sig s1 ON d1 = s1.doc_id
                   JOIN sig s2 ON d2 = s2.doc_id)
                WHERE cnt / 64.0 >= 0.5),
         $snPairCtes,
         ji AS (SELECT d1, d2 FROM pairs2),
         a1 AS (SELECT
             (SELECT CAST(count(*) AS BIGINT) FROM ji) AS n_a,
             (SELECT CAST(count(*) AS BIGINT) FROM mh) AS n_b,
             (SELECT CAST(count(*) AS BIGINT)
              FROM ji JOIN mh USING (d1, d2)) AS n_common),
         a2 AS (SELECT
             (SELECT CAST(count(*) AS BIGINT) FROM ji) AS n_a,
             (SELECT CAST(count(*) AS BIGINT) FROM snp) AS n_b,
             (SELECT CAST(count(*) AS BIGINT)
              FROM ji JOIN snp USING (d1, d2)) AS n_common),
         a3 AS (SELECT
             (SELECT CAST(count(*) AS BIGINT) FROM mh) AS n_a,
             (SELECT CAST(count(*) AS BIGINT) FROM snp) AS n_b,
             (SELECT CAST(count(*) AS BIGINT)
              FROM mh JOIN snp USING (d1, d2)) AS n_common)
       SELECT 'jaccard_index' AS method_a, 'minhash_lsh' AS method_b,
         n_a, n_b, n_common,
         CAST(n_common * 1000000 // greatest(n_a + n_b - n_common, 1)
           AS BIGINT) AS agreement_e6 FROM a1
       UNION ALL
       SELECT 'jaccard_index', 'sorted_neighborhood',
         n_a, n_b, n_common,
         CAST(n_common * 1000000 // greatest(n_a + n_b - n_common, 1)
           AS BIGINT) FROM a2
       UNION ALL
       SELECT 'minhash_lsh', 'sorted_neighborhood',
         n_a, n_b, n_common,
         CAST(n_common * 1000000 // greatest(n_a + n_b - n_common, 1)
           AS BIGINT) FROM a3
       ORDER BY method_a, method_b"""),
  )

  // --- generated oracle SQL for the portable-hash sketch queries.
  // The hash family constants come from the SAME Scala object the
  // Spark expressions use (TextFunctions.MinHashParams), so the two
  // engines provably evaluate the same functions. ---

  /** `h`: the portable 60-bit md5-prefix hash reduced mod 2^31-1. */
  private def sqlPortableH(of: String): String =
    s"CAST(('0x' || substr(md5($of), 1, 15)) AS BIGINT)"

  /** Shared CTE prefix for the MinHash oracles (q24, q65): 3-gram
    * shingles → portable hashes → 64 universal-hash min-signatures →
    * 16 banded keys. Ends without a trailing comma. */
  private lazy val minHashCtePrefix: String = {
    import graft.functions.TextFunctions.MinHashParams.{M, a, b}
    val sigMins = (0 until 64)
      .map(i => s"min((${a(i)} * h + ${b(i)}) % $M) AS m$i").mkString(",\n           ")
    val bandSelects = (0 until 16).map { bd =>
      val key = (0 until 4).map(j => s"CAST(m${bd * 4 + j} AS VARCHAR)")
        .mkString(" || ',' || ")
      s"SELECT doc_id, $bd AS band, $key AS k FROM sig"
    }.mkString("\n           UNION ALL ")
    s"""sh AS (
           SELECT doc_id, list_distinct(list_transform(
             range(1, greatest(len(string_split_regex(lower(trim(text)), '\\s+')) - 2, 0) + 1),
             i -> array_to_string(string_split_regex(lower(trim(text)), '\\s+')[i:i+2], ' '))) AS shingles
           FROM documents),
         hx AS (SELECT doc_id, ${sqlPortableH("s")} % $M AS h
                FROM (SELECT doc_id, unnest(shingles) AS s FROM sh)),
         sig AS (SELECT doc_id,
           $sigMins
           FROM hx GROUP BY doc_id),
         bands AS ($bandSelects)"""
  }

  /** Signature-equality sum between sig aliases s1 and s2. */
  private lazy val minHashEqSum: String =
    (0 until 64).map(i => s"CAST(s1.m$i = s2.m$i AS INT)").mkString(" + ")

  /** The q202 sorted-neighborhood pair chain as composable CTEs
    * (snr → snrk → snp), constants interpolated from the Dedup
    * object so the oracle cannot desync from the query. Shared by
    * the q209 comparison and the q224 agreement matrix. */
  private lazy val snPairCtes: String =
    s"""snr AS (SELECT lang, doc_id, lower(trim(text)) AS norm,
             list_distinct(string_split_regex(trim(lower(text)), '\\s+'))
               AS toks
           FROM documents),
         snrk AS (SELECT lang, doc_id, toks,
             row_number() OVER (PARTITION BY lang ORDER BY norm, doc_id)
               AS rn
           FROM snr),
         snp AS (SELECT least(a.doc_id, b.doc_id) AS d1,
             greatest(a.doc_id, b.doc_id) AS d2
           FROM snrk a JOIN snrk b
             ON a.lang = b.lang
               AND b.rn - a.rn IN (${(1 until graft.operators.Dedup.SnWindow).mkString(", ")})
           WHERE CAST(len(list_intersect(a.toks, b.toks)) AS BIGINT)
               * 1000000
               // greatest(len(a.toks) + len(b.toks)
                 - len(list_intersect(a.toks, b.toks)), 1)
               >= ${graft.operators.Dedup.SnThresholdE6})"""

  /** q24: the full MinHash+LSH pipeline — 3-gram shingles, 64
    * universal-hash min-signatures, 16 band keys, bucket join,
    * signature-estimated Jaccard >= 0.5 — mirrored in DuckDB. */
  private lazy val minHashOracleSql: String =
    s"""WITH $minHashCtePrefix,
         cand AS (SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2
                  FROM bands a JOIN bands b
                  ON a.band = b.band AND a.k = b.k AND a.doc_id < b.doc_id),
         est AS (SELECT d1, d2, ($minHashEqSum) AS cnt
                 FROM cand JOIN sig s1 ON d1 = s1.doc_id
                 JOIN sig s2 ON d2 = s2.doc_id)
         SELECT d1, d2, CAST(round(cnt / 64.0, 6) * 1000000 AS BIGINT) AS est_jac
         FROM est WHERE cnt / 64.0 >= 0.5 ORDER BY d1, d2"""

  /** q65: incremental dedup — the 20% batch (doc_id % 5 = 4) probes
    * the remaining 80% corpus's band index; per new doc the lowest-id
    * verified corpus match and the best estimate. */
  private lazy val incrementalDedupOracleSql: String =
    s"""WITH $minHashCtePrefix,
         nb AS (SELECT * FROM bands WHERE doc_id % 5 = 4),
         cb AS (SELECT * FROM bands WHERE doc_id % 5 != 4),
         cand AS (SELECT DISTINCT a.doc_id AS doc_id, b.doc_id AS corp_id
                  FROM nb a JOIN cb b ON a.band = b.band AND a.k = b.k),
         est AS (SELECT cand.doc_id, cand.corp_id, ($minHashEqSum) AS cnt
                 FROM cand JOIN sig s1 ON cand.doc_id = s1.doc_id
                 JOIN sig s2 ON cand.corp_id = s2.doc_id),
         v AS (SELECT doc_id, min(corp_id) AS matched,
                 CAST(round(max(cnt) / 64.0, 6) * 1000000 AS BIGINT) AS best_est
               FROM est WHERE cnt / 64.0 >= 0.5 GROUP BY 1)
       SELECT d.doc_id, coalesce(v.matched, d.doc_id) AS dup_of,
         coalesce(v.best_est, 0) AS est_jac,
         CAST(v.matched IS NOT NULL AS BIGINT) AS is_dup
       FROM documents d LEFT JOIN v ON d.doc_id = v.doc_id
       WHERE d.doc_id % 5 = 4
       ORDER BY d.doc_id"""

  /** q25: 60-bit portable SimHash — per-bit majority votes over token
    * hashes, 4×15-bit pigeonhole chunk join, hamming <= 3. */
  private lazy val simHashOracleSql: String = {
    val votes = (0 until 60)
      .map(b => s"sum(CASE WHEN ((h >> $b) & 1) = 1 THEN 1 ELSE -1 END) AS v$b")
      .mkString(",\n           ")
    val sigSum = (0 until 60)
      .map(b => s"(CASE WHEN v$b > 0 THEN (CAST(1 AS BIGINT) << $b) ELSE CAST(0 AS BIGINT) END)")
      .mkString(" + ")
    val chunkSelects = (0 until 4).map(i =>
      s"SELECT doc_id, sig, $i AS ci, ((sig >> ${i * 15}) & 32767) AS cv FROM sig")
      .mkString("\n           UNION ALL ")
    s"""WITH tok AS (
           SELECT doc_id, unnest(string_split_regex(lower(trim(text)), '\\s+')) AS t
           FROM documents),
         hx AS (SELECT doc_id, ${sqlPortableH("t")} AS h FROM tok),
         votes AS (SELECT doc_id,
           $votes
           FROM hx GROUP BY doc_id),
         sig AS (SELECT doc_id, ($sigSum) AS sig FROM votes),
         chunks AS ($chunkSelects),
         cand AS (SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2,
                    a.sig AS g1, b.sig AS g2
                  FROM chunks a JOIN chunks b
                  ON a.ci = b.ci AND a.cv = b.cv AND a.doc_id < b.doc_id)
         SELECT d1, d2, CAST(bit_count(xor(g1, g2)) AS BIGINT) AS hamming
         FROM cand WHERE bit_count(xor(g1, g2)) <= 3 ORDER BY d1, d2"""
  }

  /** q56: portable approximate ANN — quantized integer hyperplane
    * buckets (plane constants from [[graft.operators.Similarity
    * .portablePlaneComponent]], embedded as literals on both engines),
    * multi-probe at hamming distance <= 2's single-bit flips, exact
    * cosine top-10 within the probed buckets. */
  private lazy val annPortableOracleSql: String = {
    val planes = 6
    val bits = (0 until planes).map { p =>
      val cs = (0 until 64)
        .map(i => graft.operators.Similarity.portablePlaneComponent(p, i))
        .mkString("[", ",", "]")
      s"(CASE WHEN list_dot_product(CAST(q AS DOUBLE[]), $cs) > 0 THEN ${1L << p} ELSE 0 END)"
    }.mkString("\n           + ")
    s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb
                   FROM embeddings),
         qv AS (SELECT vec_id, emb,
           list_transform(emb, x -> CAST(round(x * 1024) AS BIGINT)) AS q
           FROM e),
         b AS (SELECT vec_id, emb,
           $bits AS bucket FROM qv),
         qb AS (SELECT unnest([bucket, xor(bucket, 1), xor(bucket, 2)])
                  AS qbucket, emb AS qe
                FROM b WHERE vec_id = 0)
       SELECT vec_id,
         CAST(round(list_cosine_similarity(emb, qe), 6) * 1000000 AS BIGINT)
           AS sim
       FROM b JOIN qb ON b.bucket = qb.qbucket WHERE vec_id != 0
       ORDER BY list_cosine_similarity(emb, qe) DESC, vec_id LIMIT 10"""
  }

  /** q58: semantic dedup oracle — recompute the planes=4 portable
    * bucket assignment (same integer plane constants as the Spark
    * side), pair within buckets at cosine >= 0.3, label each vector
    * with its earliest in-bucket neighbor. */
  private lazy val semanticDedupOracleSql: String = {
    val planes = 4
    val bits = (0 until planes).map { p =>
      val cs = (0 until 64)
        .map(i => graft.operators.Similarity.portablePlaneComponent(p, i))
        .mkString("[", ",", "]")
      s"(CASE WHEN list_dot_product(CAST(q AS DOUBLE[]), $cs) > 0 THEN ${1L << p} ELSE 0 END)"
    }.mkString("\n           + ")
    s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb
                   FROM embeddings),
         qv AS (SELECT vec_id, emb,
           list_transform(emb, x -> CAST(round(x * 1024) AS BIGINT)) AS q
           FROM e),
         b AS (SELECT vec_id, emb, CAST($bits AS BIGINT) AS bucket FROM qv),
         d AS (SELECT c.vec_id AS vec_id, min(a.vec_id) AS dup_of
               FROM b a JOIN b c
                 ON a.bucket = c.bucket AND a.vec_id < c.vec_id
               WHERE list_cosine_similarity(a.emb, c.emb) >= 0.3
               GROUP BY 1)
       SELECT b.vec_id, b.bucket,
         coalesce(d.dup_of, b.vec_id) AS keeper,
         CAST(coalesce(d.dup_of, b.vec_id) != b.vec_id AS BIGINT) AS is_dup
       FROM b LEFT JOIN d ON b.vec_id = d.vec_id
       ORDER BY b.vec_id"""
  }

  /** q34: winnowing with portable rolling 5-gram hashes, window 4 —
    * distinct window minima per doc (all grams when fewer than a
    * window, 0 when none). */
  private lazy val winnowOracleSql: String =
    s"""WITH t AS (
           SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS toks
           FROM documents),
         g AS (SELECT doc_id, list_transform(
             range(1, greatest(len(toks) - 4, 0) + 1),
             i -> ${sqlPortableH("array_to_string(toks[i:i+4], ' ')")}) AS grams
           FROM t)
         SELECT doc_id,
           CAST(CASE WHEN len(grams) >= 4 THEN
             len(list_distinct(list_transform(range(1, len(grams) - 2),
               i -> list_min(grams[i:i+3]))))
           ELSE len(list_distinct(grams)) END AS BIGINT) AS n_fp
         FROM g ORDER BY doc_id"""

  /** q69: winnow-fingerprint near-dup pairs — q34's per-doc distinct
    * fingerprint sets (same gram/window constants), unnested into an
    * inverted index with the same <= 50-doc frequency cap the Spark
    * side applies, then the a<b pair join with a shared-count floor
    * of 2. */
  private lazy val winnowPairsOracleSql: String =
    s"""WITH t AS (
           SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS toks
           FROM documents),
         g AS (SELECT doc_id, list_transform(
             range(1, greatest(len(toks) - 4, 0) + 1),
             i -> ${sqlPortableH("array_to_string(toks[i:i+4], ' ')")}) AS grams
           FROM t),
         f AS (SELECT doc_id,
             CASE WHEN len(grams) >= 4 THEN
               list_distinct(list_transform(range(1, len(grams) - 2),
                 i -> list_min(grams[i:i+3])))
             ELSE list_distinct(grams) END AS fps
           FROM g),
         u AS (SELECT doc_id, unnest(fps) AS fp FROM f),
         keep AS (SELECT fp FROM u GROUP BY fp HAVING count(*) <= 50),
         ix AS (SELECT u.doc_id, u.fp FROM u JOIN keep USING (fp))
       SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         CAST(count(*) AS BIGINT) AS n_shared
       FROM ix a JOIN ix b ON a.fp = b.fp AND a.doc_id < b.doc_id
       GROUP BY 1, 2 HAVING count(*) >= 2
       ORDER BY doc_a, doc_b"""

  /** q68: vocabulary build — min count 3, vocab size 300, ids by
    * (count DESC, term). */
  private lazy val vocabOracleSql: String =
    """WITH t AS (SELECT unnest(string_split_regex(lower(trim(text)), '\s+'))
             AS term FROM documents),
         c AS (SELECT term, CAST(count(*) AS BIGINT) AS cnt FROM t
               GROUP BY 1 HAVING count(*) >= 3),
         v AS (SELECT term, cnt FROM c ORDER BY cnt DESC, term LIMIT 300)
       SELECT CAST(row_number() OVER (ORDER BY cnt DESC, term) AS BIGINT)
           AS vocab_id, term, cnt
       FROM v ORDER BY vocab_id"""
}
