package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.functions.ScalarFuncs
import graft.operators._

/** Driver contract — one entry per implemented operator (SURVEY.md §2),
  * each with a DuckDB-equivalent oracle where the semantics are
  * SQL-expressible. Since r12 ALL 132 queries carry hash oracles:
  * replayed iterative fits (the k-means unroll for the IVF family, the
  * BPE merge loop, the IRLS quality-LR fit, the LinUCB
  * sufficient-statistics + Cholesky scoring replay) where the math is
  * externally recomputable, and envelope-flag oracles (q84/q85/q100
  * sketches, q114 generation, q35/q77 SVD projection, q41 policy
  * benchmark) where a value is engine-bound — splitmix/xxhash64 draw
  * chains or solver-defined subspaces — but its CONTRACT is not: the
  * deterministic part of the output is replayed exactly and the
  * engine-bound part surfaces as boolean guarantees that hash-mismatch
  * the round they break. The engine-bound values themselves stay
  * covered by ScalaTest cross-checks against exact reference
  * implementations.
  */
object SparkEntry {

  /** Flagship query on sf=0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    Relational.dashboardJoin(spark, "/root/testdata/sf0.001")

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // --- relational / dashboard (SURVEY §2.2-§2.6) ---
    "q01_pricing_summary" -> ((s, d) => Relational.pricingSummary(s, d)),
    "q02_dashboard_join" -> ((s, d) => Relational.dashboardJoin(s, d)),
    "q03_dashboard_metrics" -> ((s, d) => Relational.dashboardMetrics(s, d)),
    "q04_revenue_by_segment" -> ((s, d) => Relational.revenueBySegment(s, d)),
    "q05_revenue_by_nation" -> ((s, d) => Relational.revenueByNation(s, d)),
    "q06_topk_products" -> ((s, d) => Relational.topkProducts(s, d)),
    "q07_topk_per_segment" -> ((s, d) => Relational.topkPerSegment(s, d)),
    "q08_recent_events" -> ((s, d) => Relational.recentEvents(s, d)),
    "q09_metric_delta" -> ((s, d) => Relational.metricDelta(s, d)),
    "q10_event_sequence" -> ((s, d) => Relational.eventSequence(s, d)),
    "q11_shipping_priority" -> ((s, d) => Relational.shippingPriority(s, d)),
    "q12_local_supplier_volume" -> ((s, d) => Relational.localSupplierVolume(s, d)),
    // --- streaming semantics, batch-expressed (SURVEY §2.9) ---
    "q13_supplier_stats" -> ((s, d) => SupplierStats.tumbleEvents(s, d)),
    "q14_late_tag" -> ((s, d) => SupplierStats.tagLate(s, d)),
    "q15_branch_counts" -> ((s, d) => SupplierStats.branchCounts(s, d)),
    // --- CDC envelope (SURVEY §2.1 S5/S6) ---
    "q16_cdc_unwrap" -> ((s, d) => Cdc.ordersUnwrapped(s, d)),
    // --- scalar function surface (SURVEY §2.8) ---
    "q17_scalar_funcs" -> ((s, d) => ScalarFuncs.demo(s, d)),
    "q18_json_extract_agg" -> ((s, d) => ScalarFuncs.jsonExtractAgg(s, d)),
    // --- dedup family ---
    "q19_dedup_exact" -> ((s, d) => Dedup.exact(s, d)),
    "q20_jaccard_pairs" -> ((s, d) => Dedup.materializedNearPairs(s, d)),
    "q21_minhash_lsh" -> ((s, d) => Dedup.minhashLsh(s, d)),
    "q22_simhash_pairs" -> ((s, d) => Dedup.simhashPairs(s, d)),
    "q23_embedding_pairs" -> ((s, d) => Dedup.embeddingPairsBucketed(s, d, 0.4)),
    // --- similarity search ---
    "q24_ann_brute_topk" -> ((s, d) => Similarity.bruteForceTopK(s, d)),
    "q25_ann_lsh_topk" -> ((s, d) => Similarity.lshTopK(s, d)),
    // --- text analysis ---
    "q26_token_stats" -> ((s, d) => TextOps.tokenStats(s, d)),
    "q27_quality_score" -> ((s, d) => TextOps.qualityScore(s, d)),
    "q28_lang_id" -> ((s, d) => TextOps.langId(s, d)),
    // fingerprint VALUES are engine-specific; the dup-partition
    // contract they exist for is hash-checked
    "q29_fingerprints" -> ((s, d) => TextOps.fingerprintsChecked(s, d)),
    // --- LinUCB bandit (hash-checked since r11: the decimal-exact
    // seed layer makes A and b externally recomputable, and the
    // Gauss-Jordan inverse is replayed as a Cholesky solve — see
    // luStats/luCholAliases; ScalaTest-vs-Breeze remains as the
    // independent cross-check) ---
    "q30_linucb_seed" -> ((s, d) => graft.ml.LinUCB.seedQuery(s, d)),
    "q31_linucb_topk" -> ((s, d) => graft.ml.LinUCB.topKQuery(s, d)),
    // --- feature pipeline ---
    "q32_customer_features" -> ((s, d) => graft.features.Features.customerFeatures(s, d)),
    "q33_time_context" -> ((s, d) => graft.features.Features.timeContext(s, d)),
    "q34_tfidf_topterms" -> ((s, d) => graft.features.Features.tfidfTopTerms(s, d)),
    // envelope-checked since r12 (the q114 pattern): the solver-bound
    // embedding VALUES stay spec-covered (FeaturesSpec determinism +
    // near-dup preservation); the query surface is the pipeline's
    // oracle-checkable contract — exact per-doc TF-IDF energy + the
    // projection guarantees as flags
    "q35_text_embedding" -> ((s, d) => graft.features.Features.textEmbeddingCheckedQuery(s, d)),
    "q36_context_vectors" -> ((s, d) => graft.features.Features.contextVectors(s, d)
      .selectExpr("event_id", "round(element_at(context_vector, 6), 6) AS acctbal_scaled",
        "CAST(element_at(context_vector, 1) AS BIGINT) AS seg_auto",
        "CAST(element_at(context_vector, 7) AS BIGINT) AS is_morning")),
    // --- multimodal columns ---
    "q37_media_meta" -> ((s, d) => Multimodal.mediaMeta(s, d)),
    "q38_media_features" -> ((s, d) => Multimodal.mediaFeatures(s, d)),
    "q39_frame_sample" -> ((s, d) => Multimodal.frameSample(s, d)),
    // --- offline policy evaluation (A12) ---
    "q40_policy_eval" -> ((s, d) => graft.ml.PolicyEval.evalSqlPolicies(s, d)),
    // envelope-checked since r12: n/ctr exact for all five policies,
    // the two deterministic policies' AUCs replayed end-to-end by
    // DuckDB (seed stats → Cholesky scoring → the same 4096-bucket
    // Mann-Whitney histogram); the three seeded policies carry
    // contract flags (see PolicyEval.evalLinUCBChecked scaladoc)
    "q41_policy_eval_linucb" -> ((s, d) => graft.ml.PolicyEval.evalLinUCBChecked(s, d)),
    // --- sliding window (T12 snapshot semantics) + media resize ---
    "q42_sliding_window" -> ((s, d) => SupplierStats.slidingEvents(s, d)),
    "q43_resize_meta" -> ((s, d) => Multimodal.resizeMeta(s, d)),
    // IVF probe top-k — hash-checked: the decimal-exact centroid fit
    // is replayed by an unrolled-k-means oracle (see ivfKmeans)
    "q44_ann_ivf" -> ((s, d) => Ivf.topK(s, d)),
    "q45_revenue_rollup" -> ((s, d) => Relational.revenueRollup(s, d)),
    "q46_cdc_changelog" -> ((s, d) => Cdc.lineitemChangelogSummary(s, d)),
    "q47_sessionize" -> ((s, d) => Relational.sessionize(s, d)),
    "q48_value_percentiles" -> ((s, d) => Relational.valuePercentiles(s, d)),
    "q49_weighted_pick" -> ((s, d) => ScalarFuncs.weightedPickAgg(s, d)),
    // --- join family beyond inner-equi (as-of / range / semi-anti /
    // hybrid-source keep-latest) ---
    "q50_asof_join" -> ((s, d) => Joins.asofViewBeforePurchase(s, d)),
    "q51_range_join" -> ((s, d) => Joins.viewsWithinHour(s, d)),
    "q52_semi_anti" -> ((s, d) => Joins.customerOrderPresence(s, d)),
    "q53_hybrid_latest" -> ((s, d) => Joins.hybridLatestImage(s, d)),
    // --- analytic SQL surface ---
    "q54_session_window" -> ((s, d) => Analytics.sessionWindows(s, d)),
    "q55_revenue_cube" -> ((s, d) => Analytics.revenueCube(s, d)),
    "q56_hourly_pivot" -> ((s, d) => Analytics.hourlyTypePivot(s, d)),
    "q57_balance_analytics" -> ((s, d) => Analytics.balanceAnalytics(s, d)),
    "q58_stratified_sample" -> ((s, d) => Analytics.stratifiedSample(s, d)),
    "q59_top_bigrams" -> ((s, d) => Analytics.topBigrams(s, d)),
    // --- near-dup clustering (connected components) + the composed
    // corpus-filter pipeline ---
    "q60_dedup_clusters" -> ((s, d) => Dedup.materializedClusters(s, d)),
    "q61_cluster_keep" -> ((s, d) => Dedup.clusterKeep(s, d)),
    "q62_corpus_filter" -> ((s, d) => TextOps.corpusFilter(s, d)),
    // --- portable fingerprint + vector normalization ---
    "q63_rolling_fingerprint" -> ((s, d) =>
      graft.Tables.documents(s, d).select(
        org.apache.spark.sql.functions.col("doc_id"),
        graft.functions.polyHash64(org.apache.spark.sql.functions.col("text")).as("fp"))),
    "q64_normalized_embedding" -> ((s, d) => Similarity.normalized(s, d)),
    // --- sequence preparation: chunking + packing ---
    "q65_chunked_docs" -> ((s, d) => TextOps.chunkDocs(s, d)),
    "q66_sequence_packing" -> ((s, d) => TextOps.packSequences(s, d)),
    // --- CDC materialization: multi-version changelog → current table
    // image (the batch twin of streaming.CdcMaterialize) ---
    "q67_cdc_materialize" -> ((s, d) => Cdc.materializeLatest(s, d)),
    // --- grouping-sets / value-range frames / exact-sufficient-stats ---
    "q68_grouping_sets" -> ((s, d) => Analytics.revenueGroupingSets(s, d)),
    "q69_moving_revenue" -> ((s, d) => Analytics.movingRevenue(s, d)),
    "q70_corr_stats" -> ((s, d) => Analytics.corrStats(s, d)),
    "q71_histogram" -> ((s, d) => Analytics.acctbalHistogram(s, d)),
    // --- set-op cohorts, calendar gap fill ---
    "q72_customer_cohorts" -> ((s, d) => Analytics.customerCohorts(s, d)),
    "q73_gap_fill" -> ((s, d) => Analytics.gapFillHourly(s, d)),
    // --- embedding label profile + skew-salted join (oracle = the
    // plain join: the rewrite is semantics-preserving by construction) ---
    "q74_label_stats" -> ((s, d) => Similarity.labelStats(s, d)),
    "q75_skew_salted" -> ((s, d) => SkewJoin.saltedSupplierRevenue(s, d)),
    // --- ranking metrics (precision@k / recall@k, A12 companion) ---
    "q76_policy_ranking" -> ((s, d) => graft.ml.PolicyEval.rankingMetrics(s, d)),
    // feature-hashed (open-vocab) twin of q35; envelope-checked since
    // r12 — the xxhash64 bucket assignment stays unreplayable, the
    // projection contract hash-checks
    "q77_text_embedding_hashed" -> ((s, d) =>
      graft.features.Features.textEmbeddingHashedCheckedQuery(s, d)),
    // --- repetition/diversity quality signals (Gopher-style filters) ---
    "q78_repetition_stats" -> ((s, d) => TextOps.repetitionStats(s, d)),
    // --- eval-set decontamination + corpus token accounting ---
    "q79_decontamination" -> ((s, d) => TextOps.materializedDecontamHits(s, d)),
    "q80_token_budget" -> ((s, d) => TextOps.tokenBudget(s, d)),
    // --- deterministic train/val/test split assignment ---
    "q81_split_assign" -> ((s, d) => Analytics.splitAssign(s, d)),
    // --- mixture weighting + containment (asymmetric Jaccard) ---
    "q82_mixture_weights" -> ((s, d) => TextOps.mixtureWeights(s, d)),
    "q83_containment" -> ((s, d) => TextOps.containmentPairs(s, d)),
    // HLL sketch estimates are engine-specific, but their error
    // envelope vs the exact counts is an exact boolean — hash-checked
    "q84_approx_distinct" -> ((s, d) => Relational.dashboardMetricsChecked(s, d)),
    // GK-sketch percentiles: rank-window contract hash-checked the
    // same way (sketch-only path stays valuePercentilesApprox)
    "q85_approx_percentiles" -> ((s, d) => Relational.valuePercentilesChecked(s, d)),
    // --- event funnel + first-order transition matrix ---
    "q86_funnel" -> ((s, d) => Analytics.funnel(s, d)),
    "q87_transition_matrix" -> ((s, d) => Analytics.transitionMatrix(s, d)),
    // --- PII redaction / text normalization (corpus scrub pass) ---
    "q88_pii_redact" -> ((s, d) => TextOps.redactPii(s, d)),
    // --- bloom-filter join pruning (oracle = the plain join: false
    // positives die in the exact join, so the rewrite is
    // semantics-preserving by construction) ---
    "q89_bloom_join" -> ((s, d) => BloomPrune.urgentRevenueByMonth(s, d)),
    // --- exact CDF quantile binning (integer arithmetic, no
    // interpolation) + sketch-candidate heavy hitters (oracle = plain
    // HAVING: the MG pass only bounds the shuffle, never the result) ---
    "q90_decile_bins" -> ((s, d) => Analytics.acctbalDecileBins(s, d)),
    "q91_heavy_tokens" -> ((s, d) => HeavyHitters.heavyTokens(s, d)),
    // --- z-order clustering for multi-dim data skipping ---
    "q92_zorder" -> ((s, d) => ZOrder.eventZValues(s, d)),
    // --- deterministic per-group reservoir + token entropy + FK audit ---
    "q93_group_sample" -> ((s, d) => Analytics.groupSample(s, d)),
    "q94_token_entropy" -> ((s, d) => TextOps.materializedEntropy(s, d)),
    "q95_fk_audit" -> ((s, d) => Joins.fkAudit(s, d)),
    // --- int8 embedding quantization (ANN memory-scale path) ---
    "q96_int8_quant" -> ((s, d) => Similarity.int8Quantize(s, d)),
    // --- mixture-weighted sampling + unigram surprisal scoring ---
    "q97_mixture_sample" -> ((s, d) => TextOps.mixtureSample(s, d)),
    "q98_unigram_surprisal" -> ((s, d) => TextOps.materializedSurprisal(s, d)),
    // --- NDCG@k ranking quality (q76 companion) ---
    "q99_policy_ndcg" -> ((s, d) => graft.ml.PolicyEval.ndcgMetrics(s, d)),
    // CMS guarantees (est ≥ exact, bounded overestimate) as
    // hash-checked booleans over the deterministic heavy-token row set;
    // merge invariance stays spec-asserted
    "q100_cms_estimates" -> ((s, d) => HeavyHitters.heavyTokenChecked(s, d)),
    // --- SCD-2 history from CDC + hourly volume anomaly flags ---
    "q101_scd2_history" -> ((s, d) => Cdc.scd2History(s, d)),
    "q102_hourly_anomalies" -> ((s, d) => Analytics.hourlyAnomalies(s, d)),
    // --- fuzzy entity blocking + unpivot + full-outer reconciliation ---
    "q103_fuzzy_names" -> ((s, d) => Dedup.fuzzyNamePairs(s, d)),
    "q104_feature_melt" -> ((s, d) => Analytics.customerFeatureMelt(s, d)),
    "q105_reconciliation" -> ((s, d) => Joins.activityReconciliation(s, d)),
    // --- window-free per-group extremes + numeric column profiling ---
    "q106_segment_extremes" -> ((s, d) => Analytics.segmentExtremes(s, d)),
    "q107_column_profile" -> ((s, d) => Analytics.profileCustomerNumeric(s, d)),
    // --- ABC/Pareto revenue classification (decimal-exact shares) ---
    "q108_revenue_abc" -> ((s, d) => Analytics.revenueAbc(s, d)),
    // --- cohort retention triangle + behavioral trigram mining ---
    "q109_retention_triangle" -> ((s, d) => Analytics.retentionTriangle(s, d)),
    "q110_event_trigrams" -> ((s, d) => Analytics.eventTrigrams(s, d)),
    // rows-only: IRLS-fitted logistic weights are not SQL-expressible;
    // determinism + calibration are spec-asserted (QualityLRSpec)
    "q111_quality_model" -> ((s, d) => graft.ml.QualityLR.scoreDocs(s, d)),
    // incremental (new-batch-vs-existing-corpus) near-dup dedup
    "q112_incremental_dedup" -> ((s, d) => Dedup.incrementalNew(s, d)),
    // PSI distribution drift between time-split populations
    "q113_value_drift" -> ((s, d) => Analytics.valueDrift(s, d)),
    // rows-only: deterministic datagen twins of the reference producer
    // (seeded UUID + regexify — splitmix64 streams, not SQL-expressible)
    // envelope form (r12): the drawn values are splitmix-bound, but the
    // generator's CONTRACT (row/FK closure, UUID uniqueness+format,
    // supplier domain + χ²-vs-uniform, price arithmetic) hash-checks
    "q114_synthetic_orders" -> ((s, d) => graft.sources.Sources.syntheticOrdersChecked(s, d)),
    // embedding-space drift between corpus splits (decimal-exact means)
    "q115_embedding_drift" -> ((s, d) => Similarity.embeddingDrift(s, d)),
    // per-segment z-score standardization (integer-cents exact moments)
    "q116_segment_zscores" -> ((s, d) => graft.features.Features.segmentZScores(s, d)),
    // kNN label propagation: majority label of 10 nearest labeled vectors
    "q117_knn_classify" -> ((s, d) => Similarity.knnClassify(s, d)),
    // per-source corpus report card: dup burden, length, language mix
    "q118_source_profile" -> ((s, d) => TextOps.sourceProfile(s, d)),
    // weighted sampling without replacement (A-ES exponential keys)
    "q119_weighted_sample" -> ((s, d) => Analytics.weightedSample(s, d)),
    // MMR diversity re-rank — the bounded greedy fold replays as a
    // recursive-CTE oracle (hash-checked); spec keeps first-pick +
    // diversity-gain invariants
    "q120_mmr_rerank" -> ((s, d) => Similarity.mmrRerank(s, d)),
    // BPE step-1: adjacent char-pair counts over the distinct-word table
    "q121_bpe_pairs" -> ((s, d) => TextOps.bpePairCounts(s, d)),
    // KMV theta-sketch key-overlap probe — portable md5-prefix hash
    // stream, so the bottom-k sets and every estimate are hash-checked
    // by the oracle (error-bound + merge-invariance stay spec-asserted)
    "q122_key_overlap" -> ((s, d) => HeavyHitters.keyOverlap(s, d)),
    // lakehouse snapshot diff: first-loaded vs current image per PK
    "q123_snapshot_diff" -> ((s, d) => Cdc.snapshotDiff(s, d)),
    // collocation mining: PMI-ranked bigrams over broadcast unigram stats
    "q124_bigram_pmi" -> ((s, d) => Analytics.bigramPmi(s, d)),
    // Benford first-digit audit of order totals (data-forensics check)
    "q125_benford_digits" -> ((s, d) => Analytics.benfordDigits(s, d)),
    // categorical mutual information (feature-selection statistic)
    "q126_feature_mi" -> ((s, d) => Analytics.featureMi(s, d)),
    // kNN labeling through IVF probes at nProbe < kClusters — the
    // sub-quadratic scale configuration of q117, hash-checked via the
    // unrolled-k-means oracle (prediction agreement vs brute also
    // spec-asserted)
    "q127_knn_ivf" -> ((s, d) => Similarity.knnClassify(s, d, nProbe = 4)),
    // per-cell population / cohesion / label purity over the IVF cell
    // layer — hash-checked (9dp-DECIMAL cos fold + unrolled-k-means
    // oracle)
    "q128_cluster_profile" -> ((s, d) => Ivf.clusterProfile(s, d)),
    // SemDeDup-style within-cell embedding dedup — hash-checked; kept
    // set also spec-asserted against a brute within-cell replication
    "q129_semantic_keep" -> ((s, d) => Ivf.materializedSemanticKeep(s, d)),
    // CCNet-style LM quality scoring: stupid-backoff bigram model
    // trained on the deterministic doc_id%10<8 partition, every doc
    // scored by mean bigram log-score (hash-checked)
    "q130_lm_score" -> ((s, d) => TextOps.lmScore(s, d)),
    // rows-only: BPE vocabulary learning (10 merge iterations over the
    // word-frequency table — an iterated argmax chain, not
    // SQL-expressible; spec-matched against an independent token-array
    // driver BPE)
    "q131_bpe_learn" -> ((s, d) => TextOps.bpeLearn(s, d)),
    // rows-only: per-doc subword accounting under the learned BPE vocab
    // (depends on the q131 merge chain; spec vs driver-side apply)
    "q132_bpe_apply" -> ((s, d) => TextOps.bpeApply(s, d)),
    // substring-level dedup: maximal token ranges whose 8-gram windows
    // repeat anywhere in the corpus (Lee et al. 2022), merged per doc
    // by gaps-and-islands (hash-checked)
    "q133_dup_spans" -> ((s, d) => operators.Dedup.dupSpans(s, d)),
    // the apply half: cut every q133 span out of its document, one row
    // per doc with the rebuilt clean text (hash-checked)
    "q134_dup_span_strip" -> ((s, d) => operators.Dedup.stripDupSpans(s, d)),
    // product-quantization ANN (Jégou et al. 2011): 8×16 codebooks from
    // the decimal-exact per-subspace Lloyd fit, ADC inner-product top-k
    // — hash-checked via the per-subspace unrolled-k-means oracle
    "q135_ann_pq" -> ((s, d) => operators.Pq.adcTopK(s, d)),
    // recall@5 of the PQ index vs the exact brute-force baseline — the
    // eval gate a compressed index passes before serving (hash-checked:
    // both sides replayed in one oracle)
    "q136_pq_recall" -> ((s, d) => operators.Pq.recallVsBrute(s, d)),
    // IVF-ADC (the deployed composition): coarse cells prune candidates
    // to nProbe/k of the corpus, PQ codes compress what they cost to
    // hold — hash-checked via the composed IVF + PQ unrolled oracles
    "q137_ann_ivf_pq" -> ((s, d) => operators.Pq.ivfAdcTopK(s, d)),
    // DSIR importance weights (hashed n-gram log likelihood ratio vs
    // the src0 target pool) — hash-checked: the portable poly_hash64
    // buckets + 9dp-decimal λ fold replay exactly in SQL
    "q138_dsir_weights" -> ((s, d) => operators.Dsir.importanceWeights(s, d)),
    // cluster-balanced quality keep: top-perCell LM-scored docs per
    // semantic cell — hash-checked via the composed IVF + LM-score
    // oracle chains
    "q139_cell_balanced_keep" -> ((s, d) => Ivf.cellBalancedKeep(s, d)),
    // corpus-ingestion monitor: per (1-min window, source) doc/token
    // volume + quality-gate pass rate — the q13 windowed-stats shape on
    // the documents lake
    "q140_ingest_monitor" -> ((s, d) => operators.IngestMonitor.monitor(s, d)),
    // the curation chain's monitor: q140's monitor over the DEDUPED
    // corpus (first arrival per sha2(text), the q112 fingerprint)
    "q168_curated_ingest" -> ((s, d) => operators.IngestMonitor.curatedMonitor(s, d)),
    // full IVFADC (residual encoding, the paper's §IV-A deployment):
    // PQ codebooks fit on float-cast cell residuals, score =
    // ⟨q,c_cell⟩ + residual ADC — hash-checked via the composed
    // unrolls with the residual subvector table swapped in
    "q141_ann_ivfadc_residual" ->
      ((s, d) => operators.Pq.ivfAdcResidualTopK(s, d)),
    // embedding-space decontamination: max cosine of every corpus
    // vector to the (small, broadcast) eval holdout — the semantic
    // complement of q79/q83's n-gram containment; exact by design
    "q142_embedding_decontam" ->
      ((s, d) => Similarity.materializedEmbeddingDecontam(s, d)),
    // recall@5 of the RAW-codes IVF-ADC shape (q137) vs brute force —
    // one half of the raw-vs-residual recall comparison that justifies
    // (or refutes) residual encoding's coupling cost, as a hash-checked
    // query instead of a fixture assertion
    "q143_ivf_pq_recall" ->
      ((s, d) => operators.Pq.ivfAdcRecallVsBrute(s, d)),
    // recall@5 of the FULL residual IVFADC (q141) vs brute force — the
    // other half: at equal nProbe/codebook budget, residual ≥ raw is
    // the empirical claim, measured per query
    "q144_ivfadc_residual_recall" ->
      ((s, d) => operators.Pq.residualRecallVsBrute(s, d)),
    // the two recall gates swept over nProbe ∈ {1,2,4,8} — the
    // operating-range evidence behind the residual-coupling decision,
    // hash-checked per (variant, n_probe, query)
    "q167_recall_grid" ->
      ((s, d) => operators.Pq.recallGrid(s, d)),
    // SQ8 scalar quantization: per-dimension 8-bit codes between the
    // corpus min/max (FAISS QT_8bit) — the third compression family
    // next to PQ and binary signs; asymmetric reconstructed-dot scan
    "q169_ann_sq8" ->
      ((s, d) => operators.Sq.sqTopK(s, d)),
    // ...and its measured recall gate vs exact brute force
    "q170_sq8_recall" ->
      ((s, d) => operators.Sq.sqRecallVsBrute(s, d)),
    // IVF-SQ8 (FAISS IVF…,SQ8): the SQ8 family's pruned scale path —
    // coarse cells cut the q169 scan to |corpus|·nProbe/k at the
    // grid-measured DeployedNProbe; one pass assigns cell + codes
    "q173_ann_ivf_sq8" ->
      ((s, d) => operators.Sq.ivfSqTopK(s, d)),
    // ...and the gate pricing what that pruning costs in recall
    "q174_ivf_sq8_recall" ->
      ((s, d) => operators.Sq.ivfSqRecallVsBrute(s, d)),
    // the per-source datasheet card (Gebru et al.): volume, exact-dup
    // count, q27 pass rate, labeled-language mix — one aggregation
    "q171_dataset_card" ->
      ((s, d) => operators.Curation.datasetCard(s, d)),
    // the card's lineage block: per-source survivor counts through each
    // stage of the decontaminated curation chain (gate → canonical →
    // semantic → mixture → decontam), cumulative in chain order — the
    // last two stages are q145/q146's row counts by construction
    "q172_curation_funnel" ->
      ((s, d) => operators.Curation.curationFunnel(s, d)),
    // card × funnel on the sources-bounded key: the one-frame datasheet
    // a release publishes — both sides the existing q171/q172 frames
    "q175_datasheet_v3" ->
      ((s, d) => operators.Curation.datasheetV3(s, d)),
    // the end-to-end nightly curation query: strip dup spans → quality
    // + English gate on the cleaned text → near-dup canonical keep →
    // semantic (embedding) dedup → mixture-weighted sampling, all
    // through the session layers — hash-checked by composing the
    // component oracle chains
    "q145_curation_set" -> ((s, d) => operators.Curation.trainingSet(s, d)),
    // q145 with both decontamination gates: lexical (q79 shared-shingle
    // semi-join, eval docs themselves dropped) and semantic (q142
    // cosine-to-eval verdicts, survivors carry their margin) — the
    // eval-protected training set a lab actually ships from
    "q146_curation_decontam" ->
      ((s, d) => operators.Curation.trainingSetDecontaminated(s, d)),
    // Gopher-rule quality filter (Rae et al. 2021): per-document shape
    // and repetition metrics, per-rule flags, composite verdict —
    // map-only, zero shuffle
    "q147_gopher_rules" -> ((s, d) => TextOps.gopherRules(s, d)),
    // PII detect + redact over deterministic fixture tickets: regex
    // counts and typed-placeholder rewrite, map-only
    "q148_pii_scrub" -> ((s, d) => operators.Pii.ticketScrub(s, d)),
    // BM25 top-10 lexical retrieval for a fixed probe: postings-only
    // tf shuffle, broadcast df/totals, distributed take-ordered
    "q149_bm25_topk" -> ((s, d) => operators.Retrieval.bm25TopK(s, d)),
    // CCNet-style head/middle/tail perplexity bucketing per source
    // over the shared LM layer; thresholds from the bounded
    // (source, score) frequency frame, docs bucketed by equi-join
    "q150_ppl_buckets" -> ((s, d) => TextOps.materializedPplBuckets(s, d)),
    // exact-count stratified sampling: each (source, lang) stratum
    // keeps exactly ceil(n/4) docs by deterministic hash order
    "q151_stratified_sample" -> ((s, d) => TextOps.stratifiedSample(s, d)),
    // per-cell semantic outliers: coldest 10% by cosine-to-centroid
    // within each IVF cell — embedding-space noise filter
    "q152_cell_outliers" -> ((s, d) => operators.Ivf.cellOutliers(s, d)),
    // curation v2: the q145 chain + the q147 Gopher composite applied
    // inline to the cleaned text + the q150 tail-bucket drop — the
    // model-quality-hardened nightly set
    "q153_curation_v2" -> ((s, d) => operators.Curation.trainingSetV2(s, d)),
    // exact-phrase search over positional postings: per-doc occurrence
    // count + first position for the fixed probe phrase — the quoted-
    // query complement of q149's ranked retrieval
    "q154_phrase_search" -> ((s, d) => operators.Retrieval.phraseSearch(s, d)),
    // per-source contamination report card: how much of each source's
    // eligible pool the lexical (q79) and semantic (q142) gates would
    // remove, and what survives both — sources-bounded output
    "q155_contamination_report" ->
      ((s, d) => operators.Curation.contaminationReport(s, d)),
    // cross-source duplicate-flow matrix: verified near-dup pairs +
    // exact-dup star edges per unordered source pair — the provenance
    // diagnostic behind source drop/reweight decisions
    "q156_dup_flow_matrix" -> ((s, d) => operators.Dedup.dupFlowMatrix(s, d)),
    // cluster labeling: top-3 distinctive terms per semantic cell by
    // summed TF-IDF (tfidf_postings layer ⋈ IVF cells, decimal fold)
    "q157_cell_top_terms" -> ((s, d) => operators.Ivf.cellTopTerms(s, d)),
    // hybrid retrieval: BM25 top-20 ⊕ exact-cosine top-20 fused by
    // reciprocal-rank (k=60); fusion is k-row algebra over the two
    // bounded retrieval stages
    "q158_hybrid_rrf" -> ((s, d) => operators.Retrieval.hybridTopK(s, d)),
    // binary-quantized ANN: sign-packed 16 B codes, XOR+popcount
    // candidate scan, exact cosine re-rank of the bounded candidates
    "q159_hamming_topk" -> ((s, d) => operators.BinaryAnn.hammingTopK(s, d)),
    // tokenizer fertility per language over the learned-BPE layer:
    // subwords/word + chars/subword — languages-bounded rollup
    "q160_token_fertility" -> ((s, d) => TextOps.tokenizerFertility(s, d)),
    // more-like-this: query-by-document BM25 — the probe doc's top
    // TF-IDF terms drive the q149 scoring core, probe doc excluded
    "q161_more_like_this" -> ((s, d) => operators.Retrieval.moreLikeThis(s, d)),
    // token-balanced output sharding: snake assignment over the global
    // token-desc rank via the range-partitioned prefix scan — no
    // single-partition window
    "q162_token_shards" -> ((s, d) => operators.Sharding.tokenBalancedShards(s, d)),
    // split-leakage audit: near-dup + exact-dup pairs crossing the q81
    // train/val/test hash split — splits²-bounded matrix over the
    // shared pair layers
    "q163_split_leakage" -> ((s, d) => operators.Dedup.splitLeakage(s, d)),
    // ensemble quality ranking: rank-average blend of lm_score (q130),
    // surprisal (q98) and entropy (q94) percentiles — prefix-scan
    // cnt_before frames, no single-partition window
    "q164_quality_ensemble" -> ((s, d) => TextOps.qualityEnsemble(s, d)),
    // hard-negative mining: top-k nearest wrong-label neighbors per
    // query — the brute plan with the label filter fused pre-dot
    "q165_hard_negatives" -> ((s, d) => Similarity.hardNegatives(s, d)),
    // MinHash estimator gate: per verified near-dup pair, the Broder
    // slot-agreement estimate vs the exact Jaccard — native zip fold
    // over the bounded pair channel
    "q166_minhash_estimate" -> ((s, d) => Dedup.minhashEstimateGate(s, d)),
  )

  /** Materialized layers shared across queries — built once per
    * session and then probed (the index/model discipline of
    * [[Layers]]). Bench builds these BEFORE the timed query loop and
    * reports each one's own build cost ([[Bench.layerPhase]]) in a
    * separate `layers` map, so per-query numbers are plan signals
    * rather than whichever-query-ran-first accounting: without this,
    * the cold IVF k-means fit lands on q117 (alphabetically first
    * consumer) and q44/q127/q128/q129 ride its cache, moving every
    * number whenever query order changes.
    *
    * ONE-TO-ONE: these keys and the store names passed to
    * [[Layers.frame]]/[[Layers.value]] are the same set (the census,
    * `tools/param_census.py`, fails either side's extra name). A layer
    * earns its entry by serving two or more queries; the one accepted
    * single-consumer reason is a fitted model that the reference
    * publishes (its parameter store). A frame only one query reads is
    * that query's own frame, checkpointed in place if the query reads
    * it twice. Each entry's comment names its consumers. */
  def layers: Map[String, (SparkSession, String) => Unit] = Map(
    // row counts of the two corpus tables that size derived parameters
    // (IVF k, SRP band width, kNN nProbe, SimHash scheme, TF-IDF doc
    // total): q22/q23/q34/q35/q77/q117/q127/q129/q139/q145/q146/q153/
    // q157/q161/q172/q175
    "table_count" -> ((s, d) => {
      Tables.countOf(s, d, "documents"); Tables.countOf(s, d, "embeddings"); ()
    }),
    // IVF centroid fits, one name with k in the key: the fixed 16-cell
    // fit and the fit at the corpus-derived k (kNN, semantic dedup) — a
    // hit (~0 s) whenever the derived k is 16 too, as at every driver
    // scale. 20 queries: q44/q117/q127/q128/q129/q137/q139/q141/q143/
    // q144/q145/q146/q152/q153/q157/q167/q172/q173/q174/q175
    "ivf_centroids" -> ((s, d) => {
      Ivf.fittedCentroids(s, d, operators.Ann.Cells, operators.Ann.DefaultIters)
      Ivf.fittedCentroids(s, d, Ivf.semanticK(s, d), operators.Ann.DefaultIters); ()
    }),
    // PQ codebooks at the fixed 8×16 geometry (q135/q136/q137/q143/q167)
    "pq_codebooks" -> ((s, d) => { operators.Pq.fittedCodebooks(s, d); () }),
    // residual-PQ codebooks over the 16-cell fit (q141/q144/q167)
    "pq_codebooks_residual" ->
      ((s, d) => { operators.Pq.fittedResidualCodebooks(s, d); () }),
    // PQ-encoded corpus: the (vec_id, codes) table every flat-ADC
    // consumer probes (q135/q136) — built once like FAISS's code table
    "pq_encoded" -> ((s, d) => { operators.Pq.encodedCodes(s, d); () }),
    // IVF-PQ index over raw-vector codes: (vec_id, cluster, codes) in
    // one corpus pass (q137/q143 and the q167 grid's raw variant)
    "pq_ivf_encoded" -> ((s, d) => { operators.Pq.ivfEncodedRaw(s, d); () }),
    // full-IVFADC index over cell-residual codes (q141/q144/q167)
    "pq_ivf_encoded_residual" ->
      ((s, d) => { operators.Pq.ivfEncodedResidual(s, d); () }),
    // exact brute-force baseline the six recall gates compare against
    // (q136/q143/q144/q167/q170/q174) — the eval ground-truth artifact,
    // computed once; the SERVING brute scan q24 stays a live pass
    "ann_brute_topk" ->
      ((s, d) => { operators.Similarity.materializedBruteTopK(s, d); () }),
    // SQ8 per-dimension (min, max) bounds, the whole SQ8 model
    // (q96/q169/q170/q173/q174)
    "sq8_bounds" -> ((s, d) => { operators.Sq.fittedBounds(s, d); () }),
    // SQ8 code table, 1 int/dim (q169/q170)
    "sq8_encoded" -> ((s, d) => { operators.Sq.encoded(s, d); () }),
    // IVF-SQ8 index: (vec_id, cluster, codes) in one corpus pass
    // (q173/q174)
    "sq8_ivf_encoded" -> ((s, d) => { operators.Sq.ivfEncoded(s, d); () }),
    // the shingle table + DF-capped postings behind the whole
    // inverted-index family (near-pair build, q83, q112, q79 grams,
    // MinHash sigs; 17 and 14 queries)
    "shingled_docs" -> ((s, d) => { Dedup.materializedShingled(s, d); () }),
    "capped_postings" ->
      ((s, d) => { Dedup.materializedCappedPostings(s, d); () }),
    // MinHash signatures over the shingle layer (q21's banding plan
    // reads the frame four times, q166 twice more)
    "minhash_sigs" -> ((s, d) => { Dedup.minhashSignatures(s, d); () }),
    // near-dup cluster labels: shingle join + label propagation +
    // localCheckpoint (q60/q61/q62 and the curation chains)
    "dedup_clusters" -> ((s, d) => { Dedup.materializedClusters(s, d); () }),
    // decoded CDC changelog: envelope synthesis + JSON parse +
    // localCheckpoint (q101/q123/q67/q46)
    "cdc_decoded_log" -> ((s, d) => { operators.Cdc.decodedVersionedLog(s, d); () }),
    // event-time late tags: the prefix-scanned stream time per event
    // (q14, and q15's branch counts over it)
    "late_tags" -> ((s, d) => { SupplierStats.tagLate(s, d); () }),
    // LinUCB sufficient stats (q30/q31/q41): the fitted model the
    // reference publishes to its parameter store
    "linucb_models" -> ((s, d) => { graft.ml.LinUCB.seededModels(s, d); () }),
    // ranked policy lists shared by q76 (precision/recall) and q99
    // (NDCG): interaction join + the double per-group ranking window,
    // paid once
    "policy_ranked" -> ((s, d) => { graft.ml.PolicyEval.rankedScores(s, d); () }),
    // learned BPE merge table (q131/q132/q160)
    "bpe_merges" -> ((s, d) => { TextOps.learnedMerges(s, d); () }),
    // duplicated-span table (q133 reads it, q134 strips through it, and
    // the curation chains)
    "dup_spans" -> ((s, d) => { operators.Dedup.materializedDupSpans(s, d); () }),
    // verified near-dup pairs at 0.5 — read by q20, q156, q163, q166 and
    // the dedup_clusters build
    "near_pairs" -> ((s, d) => { operators.Dedup.materializedNearPairs(s, d); () }),
    // semantic-dedup survivors at the corpus-derived k (q129 and the
    // q145/q146/q153/q172/q175 chains): within-cell dominance paid once
    "semantic_keep" -> ((s, d) => { Ivf.materializedSemanticKeep(s, d); () }),
    // lexical decontamination hit list (q79/q146/q155/q172/q175)
    "decontam_hits" ->
      ((s, d) => { TextOps.materializedDecontamHits(s, d); () }),
    // embedding decontamination verdicts (q142/q146/q155/q172/q175)
    "embedding_decontam" ->
      ((s, d) => { operators.Similarity.materializedEmbeddingDecontam(s, d); () }),
    // strip + quality/English gate survivors with cleaned text — the
    // "cleaned corpus" artifact all five curation chains read
    "gated_clean_docs" ->
      ((s, d) => { operators.Curation.materializedGated(s, d); () }),
    // per-language mixture keep rates (q97 + the curation chains)
    "mixture_rates" ->
      ((s, d) => { TextOps.materializedMixtureRates(s, d); () }),
    // per-doc CCNet bucket labels over lm_scores (q150, q153's gate)
    "ppl_buckets" -> ((s, d) => { TextOps.materializedPplBuckets(s, d); () }),
    // per-doc surprisal / entropy signals (q98 / q94 + q164's blend)
    "surprisal_scores" ->
      ((s, d) => { TextOps.materializedSurprisal(s, d); () }),
    "entropy_scores" -> ((s, d) => { TextOps.materializedEntropy(s, d); () }),
    // exact-duplicate star edges (cluster build, q112, q156, q163)
    "exact_edges" -> ((s, d) => { Dedup.materializedExactEdges(s, d); () }),
    // stupid-backoff LM scoring tables (q130/q139/q150/q153/q164): two
    // vocabulary-bounded counting passes over the train split,
    // checkpointed once
    "lm_model" -> ((s, d) => { TextOps.materializedLmModel(s, d); () }),
    // per-document LM scores over lm_model — one narrow row per doc,
    // read by q130/q139/q150/q153/q164 (q150 alone reads it twice)
    "lm_scores" -> ((s, d) => { TextOps.materializedLmScores(s, d); () }),
    // TF-IDF postings: tokenize + explode + doc-freq join, checkpointed
    // once; q34, q35/q77's envelopes, q157 and q161 read it
    "tfidf_postings" ->
      ((s, d) => { graft.features.Features.materializedTfidf(s, d); () }),
    // raw (doc_id, term, tf) index — the one tokenize pass behind
    // tfidf, the BM25 probes (q149/q158/q161) and the heavy-hitter
    // verification (q91/q100)
    "term_freqs" ->
      ((s, d) => { graft.features.Features.materializedTermFreqs(s, d); () }),
  )

  // Shared SQL fragments (kept in one place so Spark and DuckDB stay in
  // lock-step on the money arithmetic: per-row DECIMAL(18,4) revenue,
  // decimal-exact sums — see graft.functions.ExactNum).
  private val rev = "CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))"
  private def revSum(alias: String) =
    s"ROUND(CAST(SUM($rev) AS DOUBLE), 2) AS $alias"
  private val dashJoin =
    """FROM lineitem
      |JOIN orders ON l_orderkey = o_orderkey
      |JOIN customer ON o_custkey = c_custkey
      |JOIN part ON l_partkey = p_partkey""".stripMargin
  private val dashSince = "WHERE o_orderdate >= TIMESTAMP '2001-01-01 00:00:00'"
  private val dashFrom = s"$dashJoin\n$dashSince"
  /** Revenue per (region, nation) over the dashboard join (q05, q45). */
  private val nationRevenue =
    s"""SELECT r_name AS region, n_name AS nation, ${revSum("revenue")},
       |  COUNT(*) AS n_items
       |$dashJoin
       |JOIN nation ON c_nationkey = n_nationkey
       |JOIN region ON n_regionkey = r_regionkey
       |$dashSince""".stripMargin
  private val shingles =
    """SELECT doc_id, list_distinct(list_transform(
      |    range(1, len(string_split(text, ' ')) - 1),
      |    i -> concat_ws(' ', string_split(text, ' ')[i],
      |         string_split(text, ' ')[i+1], string_split(text, ' ')[i+2]))) AS shingles
      |FROM documents WHERE len(string_split(text, ' ')) >= 3""".stripMargin

  // DF-capped posting list — mirrors Dedup.cappedPostings: shingles whose
  // document frequency exceeds Dedup.DefaultMaxDf are dropped from
  // CANDIDATE GENERATION only; verification below always scores the full
  // shingle sets via list_intersect, so reported Jaccards stay exact.
  private val cappedTok =
    s"""SELECT doc_id, s FROM (
       |  SELECT doc_id, s, COUNT(*) OVER (PARTITION BY s) AS df FROM tok)
       |WHERE df <= ${operators.Dedup.DefaultMaxDf}""".stripMargin
  /** Shingle sets `sh` and their (doc_id, shingle) postings `tok`. */
  private val shingleTok =
    s"""sh AS ($shingles),
       |tok AS (SELECT doc_id, unnest(shingles) AS s FROM sh)""".stripMargin
  /** Candidate pairs `cand(doc_i < doc_j)`: a shared DF-capped shingle. */
  private val cappedCand =
    s"""ctok AS ($cappedTok),
       |cand AS (
       |  SELECT DISTINCT a.doc_id AS doc_i, b.doc_id AS doc_j
       |  FROM ctok a JOIN ctok b ON a.s = b.s AND a.doc_id < b.doc_id)""".stripMargin
  /** Exact verification `v` of `cand` on the full shingle sets (q20,
    * q21, q166). */
  private val shingleVerify =
    """v AS (
      |  SELECT doc_i, doc_j,
      |    len(list_intersect(na.shingles, nb.shingles)) AS c,
      |    len(na.shingles) AS ni, len(nb.shingles) AS nj
      |  FROM cand JOIN sh na ON doc_i = na.doc_id JOIN sh nb ON doc_j = nb.doc_id)""".stripMargin
  /** The verified pairs at Jaccard >= 0.5 (q20, q21). */
  private val jaccardPairs =
    """SELECT doc_i, doc_j,
      |  ROUND(CAST(c AS DOUBLE) / (ni + nj - c), 4) AS jaccard
      |FROM v WHERE ROUND(CAST(c AS DOUBLE) / (ni + nj - c), 4) >= 0.5""".stripMargin
  /** MinHash replay (q21, q166): each posting's hex60(md5(s)) mod P as
    * `$name(doc_id, x)`, and the 64 slots' (a, b) from md5("a"+i) and
    * md5("b"+i), over P = 2^31−1 (PortableHash). */
  private def minhashBase(name: String) =
    s"""$name AS (SELECT doc_id,
       |  CAST('0x' || substr(md5(s), 1, 15) AS BIGINT) % 2147483647 AS x FROM tok)""".stripMargin
  private val minhashSlots =
    """slots AS (
      |  SELECT i,
      |    1 + CAST('0x' || substr(md5('a' || i), 1, 7) AS BIGINT) % 2147483646 AS a,
      |    CAST('0x' || substr(md5('b' || i), 1, 7) AS BIGINT) % 2147483647 AS b
      |  FROM range(0, 64) t(i))""".stripMargin

  // Brute-force vector scaffolding: the per-vector L2 norm and the 4dp
  // cosine, in the engine's ascending-dim double fold.
  private val embNorm =
    """sqrt(list_sum(list_transform(range(1, len(embedding) + 1),
      |      i -> CAST(embedding[i] AS DOUBLE) * CAST(embedding[i] AS DOUBLE))))""".stripMargin
  /** `e(vec_id, embedding, nrm)`: the corpus with its norms. */
  private val normedE =
    s"""e AS (
       |  SELECT vec_id, embedding,
       |    $embNorm AS nrm
       |  FROM embeddings)""".stripMargin
  /** 4dp cosine of the `emb` vector against `q`, `norms` its divisor. */
  private def cosine(emb: String, q: String, norms: String) =
    s"""ROUND(list_sum(list_transform(range(1, len($emb) + 1),
       |      i -> CAST($emb[i] AS DOUBLE) * CAST($q[i] AS DOUBLE)))
       |      / ($norms), 4)""".stripMargin
  private val cosSim = s"${cosine("e.embedding", "qemb", "e.nrm * qnrm")} AS cos_sim"
  /** Top 5 of `scored(qid, vec_id, cos_sim)` per query (q24, q25). */
  private val cosTop5 =
    """SELECT qid, vec_id AS nbr_id, rank, cos_sim FROM (
      |  SELECT qid, vec_id, cos_sim,
      |    ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cos_sim DESC, vec_id) AS rank
      |  FROM scored)
      |WHERE rank <= 5""".stripMargin
  /** The portable SRP signature over `planes` hyperplanes (integer-
    * arithmetic weights — see PortableSrpSig) as column `name`, beside
    * each vector's norm (q23, q25). */
  private def srpNormed(planes: Int, name: String) =
    s"""e AS (
       |  SELECT vec_id, embedding,
       |    $embNorm AS nrm,
       |    CAST(list_sum(list_transform(range(0, $planes), p ->
       |      CASE WHEN list_sum(list_transform(range(1, len(embedding) + 1),
       |        i -> CAST(embedding[i] AS DOUBLE) *
       |             (CAST(((p*1024 + (i-1)) * 2654435761) % 2000001 - 1000000 AS DOUBLE) / 1000000.0)))
       |        >= 0 THEN CAST(1 AS BIGINT) << p ELSE CAST(0 AS BIGINT) END)) AS BIGINT) AS $name
       |  FROM embeddings)""".stripMargin
  /** Semantic decontamination (q142, q155): each non-eval vector's
    * cosines to the eval vectors (vec_id % 50 = 0) as `p(vec_id, eid,
    * cos_eval)`; `ev` names the eval CTE. */
  private def evalCosines(ev: String) = {
    val pad = " " * (ev.length + 5) // FROM under the CTE's SELECT
    s"""e AS (
       |  SELECT vec_id, embedding,
       |    $embNorm
       |      AS nrm
       |  FROM embeddings),
       |$ev AS (SELECT vec_id AS eid, embedding AS eemb, nrm AS enrm
       |${pad}FROM e WHERE vec_id % 50 = 0),
       |p AS (
       |  SELECT e.vec_id, $ev.eid,
       |    ${cosine("e.embedding", s"$ev.eemb", s"e.nrm * $ev.enrm")} AS cos_eval
       |  FROM e CROSS JOIN $ev WHERE e.vec_id % 50 <> 0)""".stripMargin
  }

  // --- Unrolled-k-means IVF oracle scaffolding ---
  // The engine's IVF layer became externally recomputable when the
  // centroid fit went decimal-exact (partitioning-independent means):
  // these fragments replay the EXACT fit — init = 16 lowest vec_ids,
  // two Lloyd iterations, per-(cluster,dim) mean = decimal(28,12) sum
  // over the float values / count, empty cluster keeps its previous
  // centroid — plus the assignment arithmetic of NearestCentroids
  // (ascending-dim squared-L2 in doubles, ties to the lowest cluster).
  // Pinned to the fixture shape: k = 16 (= deriveK(n) for n <= 8192)
  // and d = 64 (the one literal the lateral-range limitation forces);
  // the Spark side stays generic.
  private def ivfDist(e: String, c: String) =
    s"list_sum(list_transform(range(1, len($e) + 1), " +
      s"i -> (CAST($e[i] AS DOUBLE) - $c[i]) * (CAST($e[i] AS DOUBLE) - $c[i])))"
  private def ivfDot(a: String, b: String) =
    s"list_sum(list_transform(range(1, len($a) + 1), " +
      s"i -> CAST($a[i] AS DOUBLE) * CAST($b[i] AS DOUBLE)))"
  private def ivfAssign(src: String, cents: String, out: String) =
    s"""$out AS (
       |  SELECT vec_id, embedding, label,
       |    (min(struct_pack(d := ${ivfDist(s"$src.embedding", s"$cents.c")}, cl := $cents.cluster))).cl AS cluster
       |  FROM $src CROSS JOIN $cents
       |  GROUP BY vec_id, embedding, label)""".stripMargin
  private def ivfUpdate(assigned: String, prev: String, mtab: String, out: String) =
    s"""$mtab AS (
       |  SELECT cluster, i AS dim,
       |    CAST(SUM(CAST(embedding[i] AS DECIMAL(28,12))) AS DOUBLE) / COUNT(*) AS m
       |  FROM $assigned, range(1, 65) t(i)
       |  GROUP BY cluster, i),
       |$out AS (
       |  SELECT $prev.cluster,
       |    COALESCE(list($mtab.m ORDER BY $mtab.dim), $prev.c) AS c
       |  FROM $prev LEFT JOIN $mtab ON $prev.cluster = $mtab.cluster
       |  GROUP BY $prev.cluster, $prev.c)""".stripMargin
  private val ivfNrm =
    "sqrt(list_sum(list_transform(embedding, v -> CAST(v AS DOUBLE) * CAST(v AS DOUBLE))))"
  /** c2 = the fitted centroid table; af = final assignment with norms. */
  private val ivfKmeans =
    s"""e AS (SELECT vec_id, embedding, label FROM embeddings),
       |c0 AS (
       |  SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INT) AS cluster,
       |    list_transform(embedding, v -> CAST(v AS DOUBLE)) AS c
       |  FROM e ORDER BY vec_id LIMIT 16),
       |${ivfAssign("e", "c0", "a1")},
       |${ivfUpdate("a1", "c0", "m1", "c1")},
       |${ivfAssign("e", "c1", "a2")},
       |${ivfUpdate("a2", "c1", "m2", "c2")},
       |${ivfAssign("e", "c2", "af0")},
       |af AS (SELECT af0.*, $ivfNrm AS nrm FROM af0)""".stripMargin
  /** Probe selection: the `nProbe` nearest centroids per query vector,
    * (distance, cluster)-ordered — NearestCentroids' partial selection
    * sort semantics. Expects a `qv(qid, qemb, ...)` CTE in scope. */
  private def ivfProbes(nProbe: Int) =
    s"""probes AS (
       |  SELECT qid, cluster AS probe FROM (
       |    SELECT qv.qid, c2.cluster,
       |      row_number() OVER (PARTITION BY qv.qid
       |        ORDER BY ${ivfDist("qv.qemb", "c2.c")}, c2.cluster) AS pr
       |    FROM qv CROSS JOIN c2)
       |  WHERE pr <= $nProbe)""".stripMargin

  // --- Unrolled per-subspace k-means PQ oracle scaffolding (q135/q136)
  // The q44 Lloyd unroll applied blockwise: the corpus long-form
  // subvector table (vec_id, s, v) fits all 8 subspaces in one CTE
  // chain — init = each subspace's 16 lowest-vec_id subvectors, two
  // Lloyd iterations with DECIMAL(28,12) per-(s, code, dim) means,
  // empty codes keep their previous centroid, assignment = ascending-
  // dim squared-L2 in doubles with ties to the lowest code (the
  // NearestCentroids arithmetic on the sliced block). Pinned to the
  // fixture shape d = 64 (8 subvectors × 8 dims) and the fixed
  // Pq.DefaultCodes = 16; the Spark side stays generic.
  private def pqAssign(cents: String, out: String) =
    s"""$out AS (
       |  SELECT vec_id, s, v,
       |    (min(struct_pack(d := ${ivfDist("sv.v", s"$cents.c")},
       |                     cl := $cents.code))).cl AS code
       |  FROM sv JOIN $cents USING (s)
       |  GROUP BY vec_id, s, v)""".stripMargin
  private def pqUpdate(assigned: String, prev: String, mtab: String, out: String) =
    s"""$mtab AS (
       |  SELECT s, code, i AS dim,
       |    CAST(SUM(CAST(v[i] AS DECIMAL(28,12))) AS DOUBLE) / COUNT(*) AS m
       |  FROM $assigned, range(1, 9) t(i)
       |  GROUP BY s, code, i),
       |$out AS (
       |  SELECT $prev.s, $prev.code,
       |    COALESCE(list($mtab.m ORDER BY $mtab.dim), $prev.c) AS c
       |  FROM $prev LEFT JOIN $mtab
       |    ON $prev.s = $mtab.s AND $prev.code = $mtab.code
       |  GROUP BY $prev.s, $prev.code, $prev.c)""".stripMargin
  /** Raw-vector subvector table — q135/q137's `sv`. q141 swaps in
    * residual subvectors ([[pqResidualSv]]) and reuses the identical
    * fit chain below. */
  private val pqRawSv =
    s"""sv AS (
       |  SELECT vec_id, CAST(t.s AS INT) AS s,
       |    embedding[t.s * 8 + 1 : t.s * 8 + 8] AS v
       |  FROM e CROSS JOIN range(0, 8) t(s))""".stripMargin
  /** Residual subvector table (q141): r = float32(x − c_cell(x)),
    * elementwise IEEE nearest — the float cast is what keeps the
    * DECIMAL(28,12) fit machinery lossless on COMPUTED values (a raw
    * double residual would not round-trip the 12dp cast). Expects
    * `af` (assignment) and `c2` (IVF centroids) in scope. */
  private val pqResidualSv =
    s"""sv AS (
       |  SELECT vec_id, CAST(t.s AS INT) AS s,
       |    list_transform(range(1, 9), i -> CAST(
       |      CAST(af.embedding[t.s * 8 + i] AS DOUBLE) - c2.c[t.s * 8 + i]
       |      AS FLOAT)) AS v
       |  FROM af JOIN c2 USING (cluster) CROSS JOIN range(0, 8) t(s))""".stripMargin
  /** pc2 = fitted codebooks; paf = final per-(vec_id, subspace) codes.
    * Factored WITHOUT the `e`/`sv` base CTEs so q137 (raw sv) and q141
    * (residual sv) can compose it with the IVF chain in one WITH
    * block. */
  private val pqFitCore =
    s"""pc0 AS (
       |  SELECT s, code, list_transform(v, x -> CAST(x AS DOUBLE)) AS c FROM (
       |    SELECT s, v,
       |      CAST(row_number() OVER (PARTITION BY s ORDER BY vec_id) - 1 AS INT) AS code
       |    FROM sv)
       |  WHERE code < 16),
       |${pqAssign("pc0", "pa1")},
       |${pqUpdate("pa1", "pc0", "pm1", "pc1")},
       |${pqAssign("pc1", "pa2")},
       |${pqUpdate("pa2", "pc1", "pm2", "pc2")},
       |${pqAssign("pc2", "paf")}""".stripMargin
  private val pqKmeans =
    s"""e AS (SELECT vec_id, embedding FROM embeddings),
       |$pqRawSv,
       |$pqFitCore""".stripMargin
  /** The flat codecs' queries: the first 10 vectors of `e`. */
  private val eQueries =
    "qv AS (SELECT vec_id AS qid, embedding AS qemb FROM e WHERE vec_id < 10)"
  /** qsv + lut: per-(query, subspace, code) ADC table from the exact
    * query subvectors. Expects `qv(qid, qemb, …)` and `pc2` in scope —
    * shared by q135/q136 (all-pairs tail) and q137 (cell-pruned tail). */
  private val pqLut =
    s"""qsv AS (
       |  SELECT qid, CAST(t.s AS INT) AS s,
       |    qemb[t.s * 8 + 1 : t.s * 8 + 8] AS qs
       |  FROM qv CROSS JOIN range(0, 8) t(s)),
       |lut AS (
       |  SELECT qid, s, code,
       |    list_sum(list_transform(range(1, 9),
       |      i -> CAST(qs[i] AS DOUBLE) * c[i])) AS t
       |  FROM qsv JOIN pc2 USING (s))""".stripMargin
  /** ADC scoring chain over `paf`/`pc2`: exact query subvectors build
    * the (qid, s, code) lookup table; the per-(qid, vec_id) score sums
    * the 8 looked-up terms in ascending-s order — list_sum over an
    * s-ordered list, the exact fold order of the engine's aggregate()
    * expression, so the 4dp rounding cannot straddle. */
  private val pqAdc =
    s"""$eQueries,
       |$pqLut,
       |terms AS (
       |  SELECT lut.qid, paf.vec_id, lut.s, lut.t
       |  FROM paf JOIN lut ON paf.s = lut.s AND paf.code = lut.code
       |  WHERE paf.vec_id <> lut.qid),
       |pqsc AS (
       |  SELECT qid, vec_id,
       |    ROUND(list_sum(list(t ORDER BY s)), 4) AS adc_ip
       |  FROM terms GROUP BY qid, vec_id),
       |pqtop AS (
       |  SELECT qid, vec_id, adc_ip,
       |    CAST(row_number() OVER (PARTITION BY qid
       |      ORDER BY adc_ip DESC, vec_id) AS BIGINT) AS rank
       |  FROM pqsc)""".stripMargin

  /** Brute-force top-5 + per-query recall tail (q143/q144): expects an
    * `annk(qid, nbr_id)` CTE (the ANN list under test) and the IVF
    * chain's `af(vec_id, embedding, nrm)` in scope. Denominator is the
    * per-query brute list's actual size (the q136 discipline). */
  private val recallTail =
    s"""bq AS (SELECT vec_id AS bqid, embedding AS bqemb, nrm AS bqnrm
       |       FROM af WHERE vec_id < 10),
       |bsc AS (
       |  SELECT bqid AS qid, af.vec_id,
       |    ${cosine("af.embedding", "bqemb", "af.nrm * bqnrm")} AS cos_sim
       |  FROM af JOIN bq ON af.vec_id <> bqid),
       |bruk AS (
       |  SELECT qid, vec_id AS nbr_id FROM (
       |    SELECT qid, vec_id,
       |      row_number() OVER (PARTITION BY qid
       |        ORDER BY cos_sim DESC, vec_id) AS rank
       |    FROM bsc)
       |  WHERE rank <= 5),
       |bknt AS (SELECT qid, COUNT(*) AS brute_k FROM bruk GROUP BY qid),
       |hits AS (
       |  SELECT annk.qid, COUNT(bruk.nbr_id) AS n_hit
       |  FROM annk LEFT JOIN bruk
       |    ON annk.qid = bruk.qid AND annk.nbr_id = bruk.nbr_id
       |  GROUP BY annk.qid)
       |SELECT hits.qid,
       |  ROUND(CAST(n_hit AS DOUBLE) / brute_k, 4) AS recall
       |FROM hits JOIN bknt ON hits.qid = bknt.qid""".stripMargin

  /** The probed cells' rows as candidates `cand(qid, vec_id)`, the query
    * itself excluded. Expects `af` and `probes` in scope. */
  private val probedCand =
    """cand AS (
      |  SELECT probes.qid, af.vec_id
      |  FROM af JOIN probes ON af.cluster = probes.probe
      |  WHERE af.vec_id <> probes.qid)""".stripMargin
  /** The IVF queries: the first 10 vectors, with their norms. */
  private val ivfQueries =
    """qv AS (SELECT vec_id AS qid, embedding AS qemb, nrm AS qnrm
      |       FROM af WHERE vec_id < 10)""".stripMargin
  /** The IVF fit, a PQ fit over the subvector table `sv`, the queries,
    * their probes and their ADC lookup table. */
  private def ivfAdcHead(sv: String, nProbe: Int) =
    s"""$ivfKmeans,
       |$sv,
       |$pqFitCore,
       |$ivfQueries,
       |${ivfProbes(nProbe)},
       |$pqLut""".stripMargin
  /** ADC scoring over `cand`: the per-(qid, vec_id) `adc_ip` sums the 8
    * looked-up terms in ascending-s order, plus `cand`'s `offset` column
    * when one is named (the residual codec's query·centroid term). */
  private def adcScore(offset: String) = {
    val (carry, plus, key) =
      if (offset.isEmpty) ("", "", "") else (s"cand.$offset, ", s"$offset + ", s", $offset")
    s"""terms AS (
       |  SELECT cand.qid, cand.vec_id, ${carry}paf.s, lut.t
       |  FROM cand
       |  JOIN paf ON paf.vec_id = cand.vec_id
       |  JOIN lut ON lut.qid = cand.qid
       |    AND lut.s = paf.s AND lut.code = paf.code),
       |sc AS (
       |  SELECT qid, vec_id,
       |    ROUND(${plus}list_sum(list(t ORDER BY s)), 4) AS adc_ip
       |  FROM terms GROUP BY qid, vec_id$key)""".stripMargin
  }
  // Codec chains: each ends with `sc(qid, vec_id, <score>)` over the
  // vectors it scores, like operators.Ann's codecs; a serving tail
  // (adcTop5, sqTop5) or the recall tail (annk + recallTail) follows.
  /** IVF-PQ (q137, q143, q167): raw-vector codes in the probed cells. */
  private def ivfPqChain(nProbe: Int) =
    s"""${ivfAdcHead(pqRawSv, nProbe)},
       |$probedCand,
       |${adcScore("")}""".stripMargin
  /** Residual IVFADC (q141, q144, q167): residual codes in the probed
    * cells, scored as query·centroid + the residual ADC sum. */
  private def residualChain(nProbe: Int) =
    s"""${ivfAdcHead(pqResidualSv, nProbe)},
       |celld AS (
       |  SELECT probes.qid, probes.probe,
       |    ${ivfDot("qv.qemb", "c2.c")} AS celldot
       |  FROM probes
       |  JOIN qv USING (qid)
       |  JOIN c2 ON c2.cluster = probes.probe),
       |cand AS (
       |  SELECT celld.qid, af.vec_id, celld.celldot
       |  FROM af JOIN celld ON af.cluster = celld.probe
       |  WHERE af.vec_id <> celld.qid),
       |${adcScore("celldot")}""".stripMargin
  /** The serving list: top 5 of `sc` per query by `adc_ip`. */
  private val adcTop5 =
    """SELECT qid, vec_id AS nbr_id, rank, adc_ip FROM (
      |  SELECT qid, vec_id, adc_ip,
      |    CAST(row_number() OVER (PARTITION BY qid
      |      ORDER BY adc_ip DESC, vec_id) AS BIGINT) AS rank
      |  FROM sc)
      |WHERE rank <= 5""".stripMargin
  /** The ANN list under test for [[recallTail]]: top 5 of `sc` by `score`. */
  private def annk(score: String) =
    s"""annk AS (
       |  SELECT qid, vec_id AS nbr_id FROM (
       |    SELECT qid, vec_id,
       |      row_number() OVER (PARTITION BY qid
       |        ORDER BY $score DESC, vec_id) AS rank
       |    FROM sc)
       |  WHERE rank <= 5)""".stripMargin

  /** The recall tail over a codec chain's `sc`, ranked by `score`. */
  private def recallOf(score: String) = s"${annk(score)},\n$recallTail"

  /** The q143 oracle as a FUNCTION of nProbe — q143 pins the
    * deployment point (nProbe = 4); q167 sweeps the operating grid
    * {1, 2, 4, 8} through the identical chain. */
  private def ivfRecallSql(nProbe: Int): String =
    s"WITH ${ivfPqChain(nProbe)},\n${recallOf("adc_ip")}"

  /** SQ8 fit + encode + reconstruct core (b/enc/rec), expecting `e` in
    * scope — shared by the flat chain below (q169/q170) and the
    * IVF-pruned chain (q173/q174), whose `e` arrives from the IVF
    * k-means fragment. */
  private val sqCore =
    """b AS (
      |  SELECT t.i AS i,
      |    MIN(CAST(embedding[t.i] AS DOUBLE)) AS mn,
      |    MAX(CAST(embedding[t.i] AS DOUBLE)) AS mx
      |  FROM e CROSS JOIN range(1, 65) t(i)
      |  GROUP BY t.i),
      |enc AS (
      |  SELECT e.vec_id, t.i AS i,
      |    CASE WHEN b.mx > b.mn
      |      THEN CAST(round((CAST(e.embedding[t.i] AS DOUBLE) - b.mn)
      |        / (b.mx - b.mn) * 255, 0) AS INT)
      |      ELSE 0 END AS code,
      |    b.mn, b.mx
      |  FROM e CROSS JOIN range(1, 65) t(i) JOIN b ON b.i = t.i),
      |rec AS (
      |  SELECT vec_id, i,
      |    CASE WHEN mx > mn THEN mn + CAST(code AS DOUBLE) * (mx - mn) / 255
      |      ELSE mn END AS rv
      |  FROM enc)""".stripMargin

  /** Shared SQ8 oracle chain (q169/q170): per-dim min/max fit, integer
    * quantize (round-half-up on non-negative values — portable),
    * reconstruct, i-ordered dot fold. Ends with `sc(qid, vec_id,
    * sq_ip)`; callers append their tail. */
  private val sqChain =
    s"""e AS (SELECT vec_id, embedding FROM embeddings),
      |$sqCore,
      |$eQueries,
      |sc AS (
      |  SELECT qv.qid, rec.vec_id,
      |    ROUND(list_sum(list(rv * CAST(qemb[i] AS DOUBLE) ORDER BY i)), 4) AS sq_ip
      |  FROM rec CROSS JOIN qv
      |  WHERE rec.vec_id <> qv.qid
      |  GROUP BY qv.qid, rec.vec_id)""".stripMargin

  /** The IVF-pruned SQ8 chain (q173/q174): the IVF k-means fragment's
    * `e`/`af`/`c2` + the SQ8 core + cell-pruned candidates, ending with
    * `sc(qid, vec_id, sq_ip)` over only the probed cells' rows. */
  private val ivfSqChain =
    s"""$ivfKmeans,
       |$sqCore,
       |$eQueries,
       |${ivfProbes(operators.Pq.DeployedNProbe)},
       |$probedCand,
       |sc AS (
       |  SELECT cand.qid, rec.vec_id,
       |    ROUND(list_sum(list(rv * CAST(qemb[i] AS DOUBLE) ORDER BY i)), 4) AS sq_ip
       |  FROM cand
       |  JOIN rec ON rec.vec_id = cand.vec_id
       |  JOIN qv ON qv.qid = cand.qid
       |  GROUP BY cand.qid, rec.vec_id)""".stripMargin
  /** The SQ8 serving list (q169, q173): top 5 of `sc` by `sq_ip`. */
  private val sqTop5 =
    """SELECT qid, vec_id AS nbr_id, CAST(rank AS BIGINT) AS rank, sq_ip
      |FROM (
      |  SELECT qid, vec_id, sq_ip,
      |    row_number() OVER (PARTITION BY qid
      |      ORDER BY sq_ip DESC, vec_id) AS rank
      |  FROM sc)
      |WHERE rank <= 5""".stripMargin

  /** The q144 (residual IVFADC) oracle as a function of nProbe. */
  private def residualRecallSql(nProbe: Int): String =
    s"WITH ${residualChain(nProbe)},\n${recallOf("adc_ip")}"

  // --- Stupid-backoff LM scoring chain (q130/q139): train on the
  // doc_id%10<8 partition, per-bigram 9dp-decimal log terms, per-doc
  // mean. Factored so q139's cell-balanced keep can compose it with
  // the IVF chain; `lmdoc(doc_id, n_bigrams, lm_score)` is the final
  // per-document table.
  private val lmScoreChain =
    """t AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
      |tr AS (SELECT * FROM t WHERE doc_id % 10 < 8),
      |cu AS (SELECT w, COUNT(*) AS cu
      |  FROM (SELECT unnest(t) AS w FROM tr) GROUP BY 1),
      |ntr AS (SELECT CAST(SUM(len(t)) AS BIGINT) AS n FROM tr),
      |cb AS (SELECT w1, w2, COUNT(*) AS cb FROM (
      |    SELECT unnest(t[1:len(t)-1]) AS w1, unnest(t[2:len(t)]) AS w2
      |    FROM tr WHERE len(t) >= 2) GROUP BY 1, 2),
      |db AS (
      |  SELECT doc_id, w1, w2 FROM (
      |    SELECT doc_id, unnest(t[1:len(t)-1]) AS w1, unnest(t[2:len(t)]) AS w2
      |    FROM t WHERE len(t) >= 2)
      |  WHERE len(w1) > 0 AND len(w2) > 0),
      |lmsc AS (
      |  SELECT doc_id,
      |    CAST(ROUND(ln(CASE
      |      WHEN cb.cb IS NOT NULL AND u1.cu IS NOT NULL
      |        THEN CAST(cb.cb AS DOUBLE) / u1.cu
      |      ELSE 0.4 * (COALESCE(u2.cu, 0) + 1) / (n + 1.0) END), 9)
      |      AS DECIMAL(18, 9)) AS term
      |  FROM db
      |  LEFT JOIN cb ON db.w1 = cb.w1 AND db.w2 = cb.w2
      |  LEFT JOIN cu u1 ON db.w1 = u1.w
      |  LEFT JOIN cu u2 ON db.w2 = u2.w
      |  CROSS JOIN ntr),
      |lmdoc AS (
      |  SELECT doc_id, COUNT(*) AS n_bigrams,
      |    ROUND(CAST(SUM(term) AS DOUBLE) / COUNT(*), 6) AS lm_score
      |  FROM lmsc GROUP BY doc_id)""".stripMargin

  /** Per-source thirds of the per-doc LM score (q150, q153): `${p}ds`
    * gives each scored doc its source, `${p}b` labels each distinct score
    * by where its cumulative count falls, so ties share a bucket. */
  private def pplBuckets(p: String) =
    s"""${p}ds AS (
       |  SELECT lmdoc.doc_id, documents.source, lmdoc.lm_score
       |  FROM lmdoc JOIN documents USING (doc_id)),
       |${p}f AS (SELECT source, lm_score, COUNT(*) AS c FROM ${p}ds GROUP BY 1, 2),
       |${p}b AS (
       |  SELECT source, lm_score,
       |    CASE WHEN cum <= (n_src + 2) // 3 THEN 'head'
       |         WHEN cum <= (2 * n_src + 2) // 3 THEN 'middle'
       |         ELSE 'tail' END AS ppl_bucket
       |  FROM (SELECT source, lm_score,
       |          SUM(c) OVER (PARTITION BY source
       |            ORDER BY lm_score DESC) AS cum,
       |          SUM(c) OVER (PARTITION BY source) AS n_src
       |        FROM ${p}f))""".stripMargin

  // --- BPE merge-loop replay (q131/q132): the greedy fit is fully
  // deterministic — top pair by (freq DESC, w1 asc, w2 asc), then
  // left-to-right non-overlapping re-tokenization — so DuckDB replays
  // all 10 merge iterations over the distinct-word table the same way
  // the q44 unroll replays Lloyd iterations. The greedy merge the
  // engine applies (TextOps.bpeFitLocal's token scan, bpeApply's
  // space-lookaround regexp_replace) is equivalent to a left-to-right
  // fold over the token list, which
  // list_reduce expresses exactly; tokens ride as single-element
  // lists so the accumulator and element types stay aligned.
  private def bpeFold(prev: String, m: String) =
    s"list_reduce(list_transform($prev.t, x -> [x]), " +
      s"(acc, x) -> CASE WHEN acc[len(acc)] = $m.w1 AND x[1] = $m.w2 " +
      s"THEN list_append(acc[1:len(acc)-1], $m.merged) " +
      s"ELSE list_append(acc, x[1]) END)"
  private val bpeMergeCount = 10
  /** CTE chain `w0..w10` / `m1..m10`: per-iteration pair counts, the
    * argmax merge row, and the re-tokenized word table. */
  private val bpeChain: String = {
    val ctes = scala.collection.mutable.ArrayBuffer(
      """w0 AS (
        |  SELECT word, string_split(word, '') AS t, n FROM (
        |    SELECT w AS word, COUNT(*) AS n FROM (
        |      SELECT unnest(string_split(text, ' ')) AS w FROM documents)
        |    WHERE len(w) >= 2 GROUP BY 1))""".stripMargin)
    for (i <- 1 to bpeMergeCount) {
      val p = s"w${i - 1}"
      ctes += s"""p$i AS (
         |  SELECT w1, w2, CAST(SUM(n) AS BIGINT) AS freq FROM (
         |    SELECT unnest(t[1:len(t)-1]) AS w1, unnest(t[2:len(t)]) AS w2, n
         |    FROM $p WHERE len(t) >= 2)
         |  GROUP BY 1, 2)""".stripMargin
      ctes += s"""m$i AS (
         |  SELECT CAST($i AS BIGINT) AS rank, w1, w2, w1 || w2 AS merged, freq
         |  FROM p$i ORDER BY freq DESC, w1, w2 LIMIT 1)""".stripMargin
      ctes += s"""w$i AS (
         |  SELECT word, ${bpeFold(p, s"m$i")} AS t, n FROM $p CROSS JOIN m$i)""".stripMargin
    }
    ctes.mkString(",\n")
  }

  // --- Whitespace-token word lists: the quality gate's stop words and the
  // lang-id scores' per-language lists (TextOps.qualityScore, langId).
  private val stopWords = "'the', 'a', 'and', 'of', 'to', 'in', 'is'"
  private val langWords = Seq(
    "en" -> "'the', 'a', 'and', 'of', 'is'",
    "es" -> "'el', 'la', 'los', 'de', 'es'",
    "de" -> "'der', 'die', 'das', 'und', 'ist'",
    "fr" -> "'le', 'la', 'les', 'de', 'est'")
  /** How many of `col`'s whitespace tokens are in `words`. */
  private def wordHits(col: String, words: String) =
    s"""len(list_filter(string_split($col, ' '),
       |      t -> t IN ($words)))""".stripMargin
  /** One `score_<lang>` select item per line for each of `langs`. */
  private def langScores(col: String, langs: Seq[(String, String)]) =
    langs.map { case (lang, words) => s"    ${wordHits(col, words)} AS score_$lang" }
      .mkString(",\n")
  /** The q27 per-doc quality stats as CTE `name(doc_id, n_chars,
    * n_tokens, n_stop, n_distinct)`. */
  private def qualityStats(name: String) =
    s"""$name AS (
       |  SELECT doc_id, n_chars,
       |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
       |    ${wordHits("text", stopWords)} AS n_stop,
       |    len(list_distinct(string_split(text, ' '))) AS n_distinct
       |  FROM documents)""".stripMargin
  /** The Gopher repetition ratios over the token list `t` (q147, q153):
    * distinct share and the most frequent token's share. */
  private val gopherRatios =
    """    CAST(len(list_distinct(t)) AS DOUBLE) / len(t) AS ttr,
      |    CAST(list_max(list_transform(list_distinct(t),
      |      w -> len(list_filter(t, x -> x = w)))) AS DOUBLE) / len(t) AS tfrac""".stripMargin

  // Near-dup pair graph → transitive closure → per-component min label,
  // as recursive SQL (DuckDB executes the UNION-dedup recursion to a
  // fixpoint — the oracle twin of the engine's label propagation).
  private val dupClusters =
    s"""$shingleTok,
       |$cappedCand,
       |pairs AS (
       |  SELECT doc_i, doc_j FROM (
       |    SELECT doc_i, doc_j,
       |      len(list_intersect(na.shingles, nb.shingles)) AS c,
       |      len(na.shingles) AS ni, len(nb.shingles) AS nj
       |    FROM cand JOIN sh na ON doc_i = na.doc_id JOIN sh nb ON doc_j = nb.doc_id)
       |  WHERE ROUND(CAST(c AS DOUBLE) / (ni + nj - c), 4) >= 0.5),
       |xk AS (
       |  SELECT text, MIN(doc_id) AS ka FROM documents
       |  GROUP BY text HAVING COUNT(*) >= 2),
       |xe AS (
       |  SELECT xk.ka AS doc_i, d.doc_id AS doc_j
       |  FROM documents d JOIN xk USING (text) WHERE d.doc_id <> xk.ka),
       |edges AS (SELECT doc_i AS a, doc_j AS b FROM pairs
       |  UNION ALL SELECT doc_j, doc_i FROM pairs
       |  UNION ALL SELECT doc_i, doc_j FROM xe
       |  UNION ALL SELECT doc_j, doc_i FROM xe),
       |reach AS (
       |  SELECT a, b FROM edges
       |  UNION
       |  SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a),
       |minr AS (SELECT a AS doc_id, MIN(b) AS m FROM reach GROUP BY a),
       |clusters AS (
       |  SELECT d.doc_id, LEAST(d.doc_id, COALESCE(m.m, d.doc_id)) AS cluster_id
       |  FROM documents d LEFT JOIN minr m ON d.doc_id = m.doc_id)""".stripMargin

  // --- Duplicate 8-gram spans (q133, q134, the curation chain): the
  // positional 8-grams grouped by their raw text, then the overlap merge
  // (gap <= 7 fuses). `z` prefixes every CTE name so the curation chain
  // can compose the chain beside others; each FROM continuation line
  // sits under its CTE's SELECT.
  private def spanPad(z: String) = " " * (6 + z.length)
  /** Through `${z}s(doc_id, pos, span_id)`: each duplicated 8-gram's
    * start position with its merged span's id. */
  private def dupSpanIds(z: String) =
    s"""${z}t AS (
       |  SELECT doc_id, string_split(text, ' ') AS t FROM documents
       |  WHERE len(string_split(text, ' ')) >= 8),
       |${z}p0 AS (SELECT doc_id, t, unnest(range(1, len(t) - 6)) AS pos FROM ${z}t),
       |${z}p AS (SELECT doc_id, pos, array_to_string(t[pos:pos+7], ' ') AS g
       |${spanPad(z)}FROM ${z}p0),
       |${z}d AS (SELECT g FROM ${z}p GROUP BY g HAVING COUNT(*) >= 2),
       |${z}dp AS (SELECT doc_id, pos FROM ${z}p JOIN ${z}d USING (g)),
       |${z}f AS (SELECT doc_id, pos,
       |        CASE WHEN pos - LAG(pos) OVER (PARTITION BY doc_id ORDER BY pos) <= 7
       |             THEN 0 ELSE 1 END AS new_span
       |${spanPad(z)}FROM ${z}dp),
       |${z}s AS (SELECT doc_id, pos,
       |        SUM(new_span) OVER (PARTITION BY doc_id ORDER BY pos
       |          ROWS UNBOUNDED PRECEDING) AS span_id
       |${spanPad(z)}FROM ${z}f)""".stripMargin
  /** Through `${z}agg(doc_id, n_kept, clean_text)`: each doc's tokens
    * outside its spans, rebuilt in order (a fully stripped doc has no
    * row). */
  private def dupSpanStrip(z: String) =
    s"""${dupSpanIds(z)},
       |${z}spans AS (SELECT doc_id, MIN(pos) AS start_pos,
       |        MAX(pos) + 7 AS end_pos
       |${spanPad(z)}FROM ${z}s GROUP BY doc_id, span_id),
       |${z}tok AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
       |${z}pt AS (SELECT doc_id, t, unnest(range(1, len(t) + 1)) AS pos FROM ${z}tok),
       |${z}kept AS (
       |  SELECT p.doc_id, p.pos, p.t[p.pos] AS tok FROM ${z}pt p
       |  WHERE NOT EXISTS (SELECT 1 FROM ${z}spans sp
       |    WHERE sp.doc_id = p.doc_id
       |      AND p.pos BETWEEN sp.start_pos AND sp.end_pos)),
       |${z}agg AS (
       |  SELECT doc_id, COUNT(*) AS n_kept,
       |    string_agg(tok, ' ' ORDER BY pos) AS clean_text
       |  FROM ${z}kept GROUP BY doc_id)""".stripMargin

  // --- Token-share mixture (q82, q97, the curation chain): per-language
  // whitespace-token share, sqrt-tempered weights, and the keep rate
  // that reaches them; `m` prefixes every CTE name.
  /** Through `${m}w(w_sum)` beside `${m}s(lang, token_share, w_raw)`. */
  private def mixtureShares(m: String) =
    s"""${m}p AS (
       |  SELECT lang,
       |    CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS n_tokens_ws
       |  FROM documents GROUP BY 1),
       |${m}t AS (SELECT CAST(SUM(n_tokens_ws) AS BIGINT) AS total_ws FROM ${m}p),
       |${m}s AS (
       |  SELECT lang,
       |    ROUND(CAST(n_tokens_ws AS DOUBLE) / total_ws, 6) AS token_share,
       |    sqrt(ROUND(CAST(n_tokens_ws AS DOUBLE) / total_ws, 6)) AS w_raw
       |  FROM ${m}p, ${m}t),
       |${m}w AS (SELECT SUM(w_raw) AS w_sum FROM ${m}s)""".stripMargin
  /** Each doc's seeded uniform `u` (the Knuth multiplicative hash of
    * doc_id, as in Analytics.splitAssign) as CTE `name(doc_id, lang, u)`. */
  private def docUniform(name: String) =
    s"""$name AS (
       |  SELECT doc_id, lang,
       |    CAST(((((doc_id % 1048576) + 1048576) % 1048576) * 2654435761)
       |      % 1048576 AS DOUBLE) / 1048576.0 AS u
       |  FROM documents)""".stripMargin
  /** Through `${m}r(lang, rate)` and the docs' draws `${m}d`: a doc is
    * kept when u < its language's rate. */
  private def mixtureRates(m: String) =
    s"""${mixtureShares(m)},
       |${m}r AS (
       |  SELECT lang,
       |    LEAST(1.0, ROUND(w_raw / w_sum / token_share, 6)) AS rate
       |  FROM ${m}s, ${m}w),
       |${docUniform(s"${m}d")}""".stripMargin

  /** `dom(vec_id)`: each vector dominated within its IVF cell by a
    * lower vec_id at 4dp cosine >= 0.4 (q129, the curation chain). */
  private val semDominated =
    s"""dom AS (
       |  SELECT DISTINCT b.vec_id
       |  FROM af a JOIN af b ON a.cluster = b.cluster AND a.vec_id < b.vec_id
       |  WHERE ROUND(${ivfDot("a.embedding", "b.embedding")} / (a.nrm * b.nrm), 4) >= 0.4)""".stripMargin
  /** The curated set's membership joins over the curation chain (q145,
    * q146, q153): gated, canonical, semantically kept and sampled. */
  private val curatedFrom =
    """FROM keepg k
      |JOIN clusters c ON c.doc_id = k.doc_id AND c.doc_id = c.cluster_id
      |JOIN sem ON sem.doc_id = k.doc_id
      |JOIN smp ON smp.doc_id = k.doc_id
      |JOIN documents d2 ON d2.doc_id = k.doc_id""".stripMargin

  /** The q145 CTE chain — dup-span strip, quality+English gate
    * over the cleaned text, near-dup canonical labels, semantic keep,
    * and the mixture-rate membership — factored so q146 can append its
    * decontamination gates without duplicating ~90 lines of replay
    * SQL. Ends at `smp`; consumers add the final joins. */
  private val curationChain =
    s"""$dupClusters,
         |$ivfKmeans,
         |$semDominated,
         |sem AS (
         |  SELECT af.vec_id AS doc_id, CAST(af.cluster AS INT) AS cell
         |  FROM af WHERE af.vec_id NOT IN (SELECT vec_id FROM dom)),
         |${dupSpanStrip("z")},
         |cleaned AS (
         |  SELECT d0.doc_id,
         |    CAST(len(string_split(d0.text, ' ')) - COALESCE(za.n_kept, 0)
         |      AS BIGINT) AS n_removed,
         |    COALESCE(za.clean_text, '') AS clean_text
         |  FROM documents d0 LEFT JOIN zagg za USING (doc_id)),
         |gq AS (
         |  SELECT doc_id, n_removed, clean_text,
         |    CAST(len(string_split(clean_text, ' ')) AS BIGINT) AS n_tokens_clean,
         |    len(clean_text) AS n_chars,
         |    ${wordHits("clean_text", stopWords)} AS n_stop,
         |${langScores("clean_text", langWords)}
         |  FROM cleaned),
         |keepg AS (
         |  SELECT doc_id, n_tokens_clean, n_removed, clean_text FROM gq
         |  WHERE n_tokens_clean >= 10 AND n_chars >= 50 AND n_stop > 0
         |    AND score_en >= score_es AND score_en >= score_de
         |    AND score_en >= score_fr AND score_en > 0),
         |${mixtureRates("m")},
         |smp AS (
         |  SELECT doc_id, md.lang FROM md JOIN mr ON md.lang = mr.lang
         |  WHERE u < rate)""".stripMargin

  /** The two decontamination gates over the curation chain (q146,
    * q172): `ngc` (docs sharing a shingle with the eval docs, doc_id < 5)
    * and `dvv` (each non-eval vector's best cosine to the eval vectors,
    * vec_id % 50 = 0, over the chain's `af`). */
  private val decontamGates =
    s"""evg AS (SELECT DISTINCT s FROM tok WHERE doc_id < 5),
       |ngc AS (SELECT DISTINCT tok.doc_id FROM tok JOIN evg USING (s)
       |        WHERE tok.doc_id >= 5),
       |dev AS (SELECT vec_id AS eid, embedding AS eemb, nrm AS enrm
       |        FROM af WHERE vec_id % 50 = 0),
       |dp AS (
       |  SELECT af.vec_id, dev.eid,
       |    ROUND(${ivfDot("af.embedding", "dev.eemb")}
       |      / (af.nrm * dev.enrm), 4) AS cos_eval
       |  FROM af CROSS JOIN dev WHERE af.vec_id % 50 <> 0),
       |dvv AS (
       |  SELECT vec_id, cos_eval AS max_eval_cos
       |  FROM (SELECT vec_id, cos_eval, row_number() OVER (
       |          PARTITION BY vec_id ORDER BY cos_eval DESC, eid) AS r
       |        FROM dp)
       |  WHERE r = 1)""".stripMargin

  /** The per-minute ingest metrics of q140/q168 over `d(source,
    * n_chars, t, es)`: docs, tokens and quality-gate passes per (minute
    * of the synthetic event second `es`, source). */
  private val ingestWindows =
    s"""m AS (
      |  SELECT source, es // 60 * 60 AS ws,
      |    CAST(len(t) AS BIGINT) AS n_tokens,
      |    (len(t) >= 10 AND n_chars >= 50 AND
      |     len(list_filter(t, x -> x IN ($stopWords))) > 0)
      |      AS passes
      |  FROM d)
      |SELECT
      |  strftime(make_timestamp(ws * 1000000), '%Y-%m-%d %H:%M:%S') AS window_start,
      |  strftime(make_timestamp((ws + 60) * 1000000), '%Y-%m-%d %H:%M:%S') AS window_end,
      |  source, COUNT(*) AS n_docs,
      |  CAST(SUM(n_tokens) AS BIGINT) AS n_tokens,
      |  CAST(SUM(CASE WHEN passes THEN 1 ELSE 0 END) AS BIGINT) AS n_passed,
      |  ROUND(CAST(SUM(CASE WHEN passes THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*), 4)
      |    AS pass_rate
      |FROM m GROUP BY 1, 2, 3""".stripMargin

  /** q171's replay SQL — also the `card` CTE of q175's. */
  private val cardSql =
    s"""WITH d AS (
      |  SELECT source, lang, n_chars, text,
      |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
      |    (len(string_split(text, ' ')) >= 10 AND n_chars >= 50 AND
      |     len(list_filter(string_split(text, ' '),
      |       x -> x IN ($stopWords))) > 0)
      |      AS passes,
      |    COUNT(*) OVER (PARTITION BY text) AS tc
      |  FROM documents)
      |SELECT source,
      |  COUNT(*) AS n_docs,
      |  CAST(SUM(n_tokens) AS BIGINT) AS n_tokens,
      |  CAST(SUM(n_chars) AS BIGINT) AS n_chars,
      |  COUNT(*) - COUNT(DISTINCT text) AS n_exact_dups,
      |  CAST(SUM(CASE WHEN tc > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_rows,
      |  ROUND(CAST(SUM(CASE WHEN passes THEN 1 ELSE 0 END) AS DOUBLE)
      |    / COUNT(*), 6) AS pass_rate,
      |  ROUND(CAST(SUM(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS DOUBLE)
      |    / COUNT(*), 6) AS en_share,
      |  ROUND(CAST(SUM(n_tokens) AS DOUBLE) / COUNT(*), 6) AS avg_tokens
      |FROM d GROUP BY source""".stripMargin

  /** q172's replay SQL — also the `fun` CTE of q175's. */
  private val funnelSql =
    s"""WITH RECURSIVE $curationChain,
         |$decontamGates,
         |fl AS (
         |  SELECT d.doc_id, d.source,
         |    (k.doc_id IS NOT NULL) AS s1,
         |    (k.doc_id IS NOT NULL AND cc.doc_id IS NOT NULL) AS s2,
         |    (k.doc_id IS NOT NULL AND cc.doc_id IS NOT NULL
         |      AND sem.doc_id IS NOT NULL) AS s3,
         |    (k.doc_id IS NOT NULL AND cc.doc_id IS NOT NULL
         |      AND sem.doc_id IS NOT NULL AND smp.doc_id IS NOT NULL) AS s4,
         |    (k.doc_id IS NOT NULL AND cc.doc_id IS NOT NULL
         |      AND sem.doc_id IS NOT NULL AND smp.doc_id IS NOT NULL
         |      AND d.doc_id >= 5 AND ngc.doc_id IS NULL
         |      AND COALESCE(dvv.max_eval_cos < 0.6, FALSE)) AS s5
         |  FROM documents d
         |  LEFT JOIN keepg k ON k.doc_id = d.doc_id
         |  LEFT JOIN (SELECT DISTINCT doc_id FROM clusters
         |             WHERE doc_id = cluster_id) cc ON cc.doc_id = d.doc_id
         |  LEFT JOIN sem ON sem.doc_id = d.doc_id
         |  LEFT JOIN smp ON smp.doc_id = d.doc_id
         |  LEFT JOIN ngc ON ngc.doc_id = d.doc_id
         |  LEFT JOIN dvv ON dvv.vec_id = d.doc_id)
         |SELECT source, COUNT(*) AS n_docs,
         |  CAST(SUM(CASE WHEN s1 THEN 1 ELSE 0 END) AS BIGINT) AS n_gated,
         |  CAST(SUM(CASE WHEN s2 THEN 1 ELSE 0 END) AS BIGINT) AS n_canonical,
         |  CAST(SUM(CASE WHEN s3 THEN 1 ELSE 0 END) AS BIGINT) AS n_semantic,
         |  CAST(SUM(CASE WHEN s4 THEN 1 ELSE 0 END) AS BIGINT) AS n_sampled,
         |  CAST(SUM(CASE WHEN s5 THEN 1 ELSE 0 END) AS BIGINT) AS n_final,
         |  ROUND(CAST(SUM(CASE WHEN s5 THEN 1 ELSE 0 END) AS DOUBLE)
         |    / COUNT(*), 6) AS keep_rate
         |FROM fl GROUP BY source""".stripMargin


  // --- Quality-LR IRLS replay (q111): the fit is deterministic by the
  // decimal-term construction (QualityLR.newtonStep rounds every
  // Hessian/gradient term to 12dp BEFORE the decimal sum, so the
  // trajectory is partitioning-independent) plus trajectory pinning
  // (QualityLR.train rounds β to 6dp after every step), which lets
  // DuckDB replay the 4 Newton iterations the same way the q44 unroll
  // replays Lloyd iterations. The 5×5 Newton solve is unrolled as a
  // Cholesky factorization via lateral column aliases; the replay need
  // not be bit-identical to the engine's explicit-inverse path — the
  // ~1e-9 per-step divergence (solver path + libm exp skew through the
  // 12dp term rounding) is absorbed by the 5e-7 pinning grid before the
  // next step can amplify it (the weak labels are near-separable, so
  // without pinning the mid-ascent trajectory amplifies sub-ulp noise
  // ~10³ per step). Each lrb CTE projects ONLY the rounded β — the
  // Cholesky intermediates must not leak into the next iteration's
  // scope, where they would shadow its lateral aliases — and the
  // per-iteration CTEs are MATERIALIZED so DuckDB doesn't inline the
  // alias chains into an exponentially growing expression tree.
  /** Lateral-alias Cholesky of a symmetric `dim`×`dim` matrix whose
    * upper-triangle entry (i, j) is the SQL `a(i, j)`: aliases `a_i_j`,
    * then the lower factor `l_i_j` (shared by the IRLS and LinUCB
    * replays). */
  private def cholAliases(dim: Int, a: (Int, Int) => String): Seq[String] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    for (i <- 0 until dim; j <- i until dim) out += s"${a(i, j)} AS a_${i}_$j"
    def at(i: Int, j: Int) = if (i <= j) s"a_${i}_$j" else s"a_${j}_$i"
    for (j <- 0 until dim) {
      val diag = (0 until j).map(k => s" - l_${j}_$k * l_${j}_$k").mkString
      out += s"sqrt(${at(j, j)}$diag) AS l_${j}_$j"
      for (i <- j + 1 until dim) {
        val sub = (0 until j).map(k => s" - l_${i}_$k * l_${j}_$k").mkString
        out += s"(${at(i, j)}$sub) / l_${j}_$j AS l_${i}_$j"
      }
    }
    out.toSeq
  }
  /** Aliases solving `A w = rhs` through [[cholAliases]]' factors:
    * forward `L z = rhs` into `${z}_i`, then back `Lᵀ w = z` into
    * `${w}_i`; rhs(i) is an SQL expression. */
  private def cholSolve(dim: Int, z: String, w: String, rhs: Int => String): Seq[String] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    for (i <- 0 until dim) {
      val sub = (0 until i).map(k => s" - l_${i}_$k * ${z}_$k").mkString
      out += s"(${rhs(i)}$sub) / l_${i}_$i AS ${z}_$i"
    }
    for (i <- (dim - 1) to 0 by -1) {
      val sub = (i + 1 until dim).map(k => s" - l_${k}_$i * ${w}_$k").mkString
      out += s"(${z}_$i$sub) / l_${i}_$i AS ${w}_$i"
    }
    out.toSeq
  }
  private val lrDim = graft.ml.QualityLR.Dim
  /** SELECT list solving `H δ = g` (H SPD after the ridge) via unrolled
    * Cholesky with lateral aliases, then `cᵢ = βprevᵢ + δᵢ`. `s` is the
    * aggregate CTE alias (h_i_j upper-triangle + g_i), `b` the previous
    * beta CTE alias (c0..c4). */
  private def lrSolve(s: String, b: String): String = {
    val h = (i: Int, j: Int) =>
      if (i == j) s"$s.h_${i}_$j + 0.001" else s"$s.h_${i}_$j" // QualityLR.train ridge
    (cholAliases(lrDim, h) ++
      cholSolve(lrDim, "z", "d", i => s"$s.g_$i") ++
      (0 until lrDim).map(i => s"$b.c$i + d_$i AS c$i")).mkString(",\n    ")
  }
  private def lrDot(b: String) =
    (0 until lrDim).map(i => s"x$i * $b.c$i").mkString(" + ")
  /** One Newton iteration: aggregate CTE `lrs{k}` (15 Hessian + 5
    * gradient decimal sums of 12dp-rounded terms at β = lrb{k-1}) and
    * solve CTE `lrb{k}`. */
  private def lrIter(k: Int): String = {
    val hs = for (i <- 0 until lrDim; j <- i until lrDim) yield
      s"CAST(SUM(CAST(ROUND(w * x$i * x$j, 12) AS DECIMAL(38,12))) AS DOUBLE) AS h_${i}_$j"
    val gs = (0 until lrDim).map(i =>
      s"CAST(SUM(CAST(ROUND((y - p) * x$i, 12) AS DECIMAL(38,12))) AS DOUBLE) AS g_$i")
    s"""lrs$k AS MATERIALIZED (
       |  SELECT ${(hs ++ gs).mkString(",\n    ")}
       |  FROM (SELECT q.*, p * (1.0 - p) AS w FROM (
       |    SELECT lrf.*, 1.0 / (1.0 + exp(-(${lrDot("b")}))) AS p
       |    FROM lrf CROSS JOIN lrb${k - 1} b) q)),
       |lrb$k AS MATERIALIZED (
       |  SELECT ${(0 until lrDim).map(i => s"ROUND(c$i, 6) AS c$i").mkString(", ")}
       |  FROM (SELECT ${lrSolve("s", "b")}
       |    FROM lrs$k s CROSS JOIN lrb${k - 1} b) sol)""".stripMargin
  }
  /** Feature frame (the q27 stats mapped through QualityLR.features) +
    * β₀ = 0 + the 4 unrolled Newton iterations. */
  private val lrChain: String =
    s"""${qualityStats("lrt")},
      |lrf AS MATERIALIZED (
      |  SELECT doc_id, 1.0 AS x0,
      |    ln(CAST(n_chars AS DOUBLE) + 1.0) AS x1,
      |    ROUND(CAST(n_chars - (n_tokens - 1) AS DOUBLE) / n_tokens, 4) / 10.0 AS x2,
      |    ROUND(CAST(n_stop AS DOUBLE) / n_tokens, 4) AS x3,
      |    ROUND(CAST(n_distinct AS DOUBLE) / n_tokens, 4) AS x4,
      |    CAST(n_tokens >= 10 AND n_chars >= 50 AND n_stop > 0 AS DOUBLE) AS y
      |  FROM lrt),
      |lrb0 AS (SELECT 0.0 AS c0, 0.0 AS c1, 0.0 AS c2, 0.0 AS c3, 0.0 AS c4)""".stripMargin +
      ",\n" + (1 to 4).map(lrIter).mkString(",\n")

  // --- Logged feedback (q30/q31/q41 via `luf`, q40, q76, q99): one
  // interaction per lineitem, its arm the part's brand, rewarded by the
  // fixture's click rule (PolicyEval.interactions).
  private val rewardRule = "l_quantity * 0.012 + l_discount * 4.0 > 0.5"
  /** `fb(<keys>arm, y, rnd_score)` and the popularity policy's per-arm
    * score `pop(arm, pop_score)`; `keys` leads fb's select list. */
  private def feedback(keys: String) =
    s"""fb AS (
       |  SELECT ${keys}p_brand AS arm,
       |    CASE WHEN $rewardRule THEN 1.0 ELSE 0.0 END AS y,
       |    CAST((l_orderkey * 131 + l_linenumber) % 10007 AS DOUBLE) AS rnd_score
       |  FROM lineitem JOIN part ON l_partkey = p_partkey),
       |pop AS (SELECT arm, ROUND(AVG(y), 6) AS pop_score FROM fb GROUP BY 1)""".stripMargin
  /** Both policies' per-order rankings (q76, q99): `ranked(policy,
    * group_id, y, rn)`, ties broken by (arm, line_no, y DESC). */
  private val rankedPolicies =
    s"""${feedback("l_orderkey AS group_id, l_linenumber AS line_no, ")},
       |j AS (SELECT fb.*, pop_score FROM fb JOIN pop USING (arm)),
       |melted AS (
       |  SELECT group_id, line_no, arm, y, 'popularity' AS policy, pop_score AS s FROM j
       |  UNION ALL
       |  SELECT group_id, line_no, arm, y, 'random', rnd_score FROM j),
       |ranked AS (
       |  SELECT policy, group_id, y,
       |    ROW_NUMBER() OVER (PARTITION BY policy, group_id
       |      ORDER BY s DESC, arm, line_no, y DESC) AS rn
       |  FROM melted)""".stripMargin

  // --- LinUCB seed replay (q30/q31): since the model layer seeds
  // through LinUCB.seedColumnarWithChol (decimal-exact sufficient statistics —
  // every scaled product `round(xᵢxⱼ·1e12)` is an integer-valued
  // double ≥ 0.005 from its rounding boundary, summed as an integer
  // decimal), A and b are bit-recomputable by an external engine from
  // the same parquet doubles. The 5×5 inverse the engine takes
  // driver-side (LinAlg.invertRowMajor, partial-pivot Gauss-Jordan)
  // is replayed here as a Cholesky factorization of A = I + Σxxᵀ via
  // lateral aliases — for q30/q31 the solver paths differ by
  // ~cond(A)·ε ≈ 1e-12 relative, far inside the 9dp/6dp output
  // rounding; q41's scoring goes further: since r12 the engine scores
  // its deterministic policies through the SAME chol(A) forward/back
  // solves (PolicyMath.linUcbCholScorePair mirrors luCholAliases /
  // luSolveAliases term for term), so that replay is bit-exact by
  // construction. Same hygiene as the IRLS replay: per-stage CTEs are
  // MATERIALIZED and project only what the next stage consumes.
  private val luDim = graft.ml.LinUCB.Dim
  /** Feedback + per-arm sufficient statistics (shared by q30/q31). */
  private val luStats: String = {
    val sums =
      (for (i <- 0 until luDim; j <- i until luDim)
        yield s"CAST(SUM(CAST(ROUND(x$i * x$j * 1e12, 0) AS BIGINT)) AS DOUBLE) / 1e12 AS s_${i}_$j") ++
      (0 until luDim).map(i =>
        s"CAST(SUM(CAST(ROUND(reward * x$i * 1e12, 0) AS BIGINT)) AS DOUBLE) / 1e12 AS b_$i")
    s"""luf AS (
       |  SELECT p_brand AS arm,
       |    1.0 AS x0, l_quantity / 50.0 AS x1, l_extendedprice / 100000.0 AS x2,
       |    l_discount AS x3, l_tax AS x4,
       |    CASE WHEN $rewardRule
       |      THEN 1.0 ELSE 0.0 END AS reward
       |  FROM lineitem JOIN part ON l_partkey = p_partkey),
       |lus AS MATERIALIZED (
       |  SELECT arm, COUNT(*) AS n,
       |    ${sums.mkString(",\n    ")}
       |  FROM luf GROUP BY arm)""".stripMargin
  }
  /** Lateral-alias Cholesky of A = I + Σxxᵀ over the per-arm stats
    * row: `a_i_j` (ridged with the +I), then `l_i_j`. */
  private def luCholAliases: Seq[String] =
    cholAliases(luDim, (i, j) => if (i == j) s"s_${i}_$j + 1.0" else s"s_${i}_$j") // A = I + Σxxᵀ
  /** [[cholSolve]] into `${tag}z_i` and `${tag}w_i`. */
  private def luSolveAliases(tag: String, rhs: Int => String): Seq[String] =
    cholSolve(luDim, s"${tag}z", s"${tag}w", rhs)

  // --- TF-IDF over whitespace tokens (q34, q35/q77, q157, q161): the
  // smoothed idf ln((N+1)/(df+1)) + 1 times the raw count, 6dp.
  private val tfidfTerm = "ROUND(tf * (ln((n_docs + 1.0) / (df + 1.0)) + 1.0), 6) AS tfidf"
  /** `scored(doc_id, term, tfidf)` with its token, tf, N and df CTEs. */
  private val tfidfScored =
    s"""tokens AS (
       |  SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents),
       |tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM tokens GROUP BY 1, 2),
       |n AS (SELECT COUNT(*) AS n_docs FROM documents),
       |df AS (SELECT term, COUNT(DISTINCT doc_id) AS df FROM tokens GROUP BY 1),
       |scored AS (
       |  SELECT doc_id, tf.term,
       |    $tfidfTerm
       |  FROM tf JOIN df ON tf.term = df.term CROSS JOIN n)""".stripMargin

  // --- BM25 (q149, q158, q161): k1 = 1.2, b = 0.75, per-term scores
  // 9dp-decimal before the per-doc sum.
  /** `sc(doc_id, term_score)` for the query terms that `tfFrom` keeps:
    * it is the FROM … of the (doc_id, t) postings behind `tf`. */
  private def bm25(tfFrom: String) =
    s"""d AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
       |dl AS (SELECT doc_id, len(t) AS dl FROM d),
       |tot AS (SELECT CAST(SUM(dl) AS DOUBLE) AS sum_dl,
       |               COUNT(*) AS n_docs FROM dl),
       |tf AS (
       |  SELECT doc_id, t, COUNT(*) AS tf
       |  $tfFrom GROUP BY 1, 2),
       |dft AS (SELECT t, COUNT(*) AS dft FROM tf GROUP BY 1),
       |sc AS (
       |  SELECT tf.doc_id,
       |    CAST(ROUND(
       |      ln(1.0 + (n_docs - dft + 0.5) / (dft + 0.5)) *
       |      (tf * (1.2 + 1.0) / (tf + 1.2 * (1.0 - 0.75 +
       |        0.75 * (CAST(dl AS DOUBLE) / (sum_dl / n_docs))))), 9)
       |      AS DECIMAL(18, 9)) AS term_score
       |  FROM tf JOIN dl USING (doc_id) JOIN dft USING (t) CROSS JOIN tot)""".stripMargin
  /** The fixed 3-term probe of q149/q158. */
  private val bm25Probe = bm25(
    "FROM (SELECT doc_id, unnest(t) AS t FROM d)\n  WHERE t IN ('spark', 'merge', 'window')")
  /** Per-doc scores and their rank (q149, q161); the caller cuts. */
  private val bm25Ranked =
    """agg AS (
      |  SELECT doc_id, COUNT(*) AS n_terms_hit,
      |    ROUND(CAST(SUM(term_score) AS DOUBLE), 6) AS score
      |  FROM sc GROUP BY doc_id)
      |SELECT doc_id, n_terms_hit, score,
      |  CAST(row_number() OVER (ORDER BY score DESC, doc_id) AS BIGINT) AS rank""".stripMargin

  // --- SVD-embedding envelope (q35/q77): the projected VALUES are
  // solver-bound (no SQL engine replays an SVD, and the fitted subspace
  // is only defined up to the iteration's tolerance), so the checked
  // query surfaces the pipeline's contract instead — per-doc TF-IDF
  // energy, which DuckDB recomputes bit-for-bit (6dp·6dp products are
  // exact 12dp decimals, decimal-summed), plus the projection
  // guarantees as flags (finiteness, contraction, basis orthonormality,
  // captured energy ≥ 0.5 — measured 0.795-0.837 across the SFs). The
  // same oracle text serves both queries: the two pipelines share the
  // TF-IDF input frame, and everything past it is flag-checked.
  private val svdEnvelopeOracle: String =
    s"""WITH $tfidfScored
      |SELECT doc_id,
      |  ROUND(CAST(SUM(CAST(ROUND(tfidf * tfidf, 12) AS DECIMAL(38,12))) AS DOUBLE), 6) AS tfidf_norm2,
      |  CAST(10 AS BIGINT) AS n_dims,
      |  TRUE AS finite, TRUE AS contractive,
      |  TRUE AS proj_orthonormal, TRUE AS capture_ok
      |FROM scored GROUP BY doc_id""".stripMargin

  /** Each event's 5 s tumbling-window end beside the running max event
    * time (stream time) in arrival order (q14, q15's late tag). */
  private val lateTagged =
    """  SELECT event_id,
      |    epoch_us(ts) - (epoch_us(ts) % 5000000) + 5000000 AS window_end_us,
      |    MAX(epoch_us(ts)) OVER (ORDER BY event_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS stream_us
      |  FROM events)""".stripMargin
  /** The supplier-stats aggregate per window (q13, q42). */
  private val supplierTotals =
    """  event_type AS supplier,
      |  ROUND(CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE), 2) AS total_price,
      |  COUNT(*) AS cnt""".stripMargin
  /** The synthesized changelog's keys (Cdc.versionedEnvelope): each
    * lineitem duplicate's rank `r` within its key and the key's version
    * hash `h`; `more` appends select items. */
  private def cdcRanked(more: String) =
    s"""ranked AS (
       |  SELECT *, ((l_orderkey * 31 + l_linenumber) % 10) AS h,
       |    row_number() OVER (PARTITION BY l_orderkey, l_linenumber
       |      ORDER BY l_partkey, l_quantity, l_extendedprice) AS r$more
       |  FROM lineitem)""".stripMargin
  private val cdcKeyCount = ",\n    count(*) OVER (PARTITION BY l_orderkey, l_linenumber) AS cnt"
  /** The kNN label vote over `nbrs(qid, true_label, label, cos_sim)`
    * (q117, q127). */
  private def knnVotes(nbrs: String) =
    s"""votes AS (
       |  SELECT qid, true_label, label, COUNT(*) AS votes,
       |    CAST(SUM(CAST(cos_sim AS DECIMAL(18,4))) AS DOUBLE) AS sim_sum
       |  FROM $nbrs GROUP BY qid, true_label, label)""".stripMargin

  def oracleSql: Map[String, String] = Map(
    "q01_pricing_summary" ->
      s"""SELECT l_returnflag, l_linestatus,
         |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
         |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
         |  CAST(SUM($rev) AS DOUBLE) AS sum_disc_price,
         |  CAST(SUM(CAST(l_extendedprice * (1 - l_discount) * (1 + l_tax) AS DECIMAL(18,6))) AS DOUBLE) AS sum_charge,
         |  ROUND(CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*), 6) AS avg_qty,
         |  ROUND(CAST(SUM(CAST(l_discount AS DECIMAL(18,6))) AS DOUBLE) / COUNT(*), 6) AS avg_disc,
         |  COUNT(*) AS count_order
         |FROM lineitem WHERE l_shipdate <= TIMESTAMP '2001-09-01 00:00:00'
         |GROUP BY l_returnflag, l_linestatus""".stripMargin,
    "q02_dashboard_join" ->
      s"""SELECT c_custkey AS user_id, c_mktsegment AS segment,
         |  o_orderkey AS order_id, o_orderstatus AS order_status,
         |  l_linenumber AS item_no, p_name AS product_name, p_type AS category,
         |  p_brand AS brand, CAST($rev AS DOUBLE) AS sale_price,
         |  strftime(o_orderdate, '%Y-%m-%d') AS order_date
         |$dashFrom""".stripMargin,
    "q03_dashboard_metrics" ->
      s"""SELECT COUNT(DISTINCT o_orderkey) AS n_orders,
         |  COUNT(DISTINCT c_custkey) AS n_users,
         |  COUNT(DISTINCT l_partkey) AS n_parts,
         |  COUNT(*) AS n_items, ${revSum("total_revenue")}
         |$dashFrom""".stripMargin,
    // Envelope-flag oracles for the sketch queries: the sketch values
    // are engine-specific, but the guarantee each sketch carries is an
    // exact boolean over exact aggregates — DuckDB recomputes the
    // deterministic part (row set, exact counts/max) and asserts the
    // flags TRUE, so a sketch whose error leaves its contract
    // hash-mismatches the round it happens.
    "q84_approx_distinct" ->
      s"""SELECT COUNT(DISTINCT o_orderkey) AS n_orders,
         |  COUNT(DISTINCT c_custkey) AS n_users,
         |  COUNT(*) AS n_items, TRUE AS hll_within_5pct
         |$dashFrom""".stripMargin,
    "q85_approx_percentiles" ->
      """SELECT event_type,
        |  TRUE AS p50_in_rank_window, TRUE AS p90_in_rank_window,
        |  TRUE AS p99_in_rank_window, ROUND(MAX(value), 6) AS p100
        |FROM events GROUP BY event_type""".stripMargin,
    "q100_cms_estimates" ->
      """WITH toks AS (SELECT unnest(string_split(text, ' ')) AS t FROM documents),
        |tot AS (SELECT COUNT(*) AS n FROM toks),
        |c AS (SELECT t AS token, COUNT(*) AS exact_cnt FROM toks GROUP BY t)
        |SELECT token, exact_cnt, TRUE AS never_under, TRUE AS within_bound
        |FROM c, tot WHERE exact_cnt * 50 > n""".stripMargin,
    "q04_revenue_by_segment" ->
      s"""SELECT c_mktsegment AS segment, ${revSum("revenue")},
         |  COUNT(DISTINCT o_orderkey) AS n_orders, COUNT(*) AS n_items
         |$dashFrom
         |GROUP BY c_mktsegment ORDER BY revenue DESC, segment""".stripMargin,
    "q05_revenue_by_nation" -> s"$nationRevenue\nGROUP BY r_name, n_name",
    "q06_topk_products" ->
      s"""SELECT p_partkey AS product_id, p_name AS product_name, ${revSum("revenue")}
         |$dashFrom
         |GROUP BY p_partkey, p_name
         |ORDER BY revenue DESC, product_id LIMIT 5""".stripMargin,
    "q07_topk_per_segment" ->
      s"""SELECT * FROM (
         |  SELECT c_mktsegment AS segment, p_partkey AS product_id, ${revSum("revenue")},
         |    ROW_NUMBER() OVER (PARTITION BY c_mktsegment
         |      ORDER BY ROUND(CAST(SUM($rev) AS DOUBLE), 2) DESC, p_partkey) AS rank
         |  $dashFrom
         |  GROUP BY c_mktsegment, p_partkey
         |) WHERE rank <= 3""".stripMargin,
    "q08_recent_events" ->
      """SELECT event_id, user_id, event_type, value, epoch_us(ts) AS ts_us
        |FROM events
        |WHERE epoch_us(ts) >= (SELECT MAX(epoch_us(ts)) FROM events) - 300000000""".stripMargin,
    "q09_metric_delta" ->
      """WITH hourly AS (
        |  SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS hour_start,
        |    ROUND(CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE), 2) AS revenue,
        |    COUNT(*) AS n_events
        |  FROM events GROUP BY 1)
        |SELECT hour_start, revenue, n_events,
        |  ROUND(revenue - LAG(revenue, 1) OVER (ORDER BY hour_start), 2) AS revenue_delta,
        |  n_events - LAG(n_events, 1) OVER (ORDER BY hour_start) AS events_delta
        |FROM hourly""".stripMargin,
    "q10_event_sequence" ->
      """SELECT event_id, user_id,
        |  ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY epoch_us(ts), event_id) AS seq
        |FROM events""".stripMargin,
    "q11_shipping_priority" ->
      s"""SELECT o_orderkey AS order_id, strftime(o_orderdate, '%Y-%m-%d') AS order_date,
         |  o_orderpriority, ${revSum("revenue")}
         |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
         |JOIN customer ON o_custkey = c_custkey
         |WHERE c_mktsegment = 'BUILDING'
         |  AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
         |  AND l_shipdate > TIMESTAMP '1998-01-01 00:00:00'
         |GROUP BY o_orderkey, strftime(o_orderdate, '%Y-%m-%d'), o_orderpriority
         |ORDER BY revenue DESC, order_id LIMIT 10""".stripMargin,
    "q12_local_supplier_volume" ->
      s"""SELECT n_name AS nation, ${revSum("revenue")}, COUNT(*) AS n_items
         |FROM lineitem
         |JOIN orders ON l_orderkey = o_orderkey
         |JOIN customer ON o_custkey = c_custkey
         |JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
         |JOIN nation ON s_nationkey = n_nationkey
         |JOIN region ON n_regionkey = r_regionkey
         |WHERE r_name = 'ASIA'
         |  AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
         |  AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
         |GROUP BY n_name""".stripMargin,
    "q13_supplier_stats" ->
      s"""SELECT
        |  strftime(make_timestamp((epoch_us(ts) // 1000000 // 5 * 5) * 1000000),
        |    '%Y-%m-%d %H:%M:%S') AS window_start,
        |  strftime(make_timestamp((epoch_us(ts) // 1000000 // 5 * 5 + 5) * 1000000),
        |    '%Y-%m-%d %H:%M:%S') AS window_end,
        |$supplierTotals
        |FROM events GROUP BY 1, 2, 3""".stripMargin,
    "q14_late_tag" ->
      s"""SELECT event_id, window_end_us, stream_us > window_end_us + 5000000 AS late
        |FROM (
        |$lateTagged""".stripMargin,
    "q15_branch_counts" ->
      s"""WITH tagged AS (
        |$lateTagged
        |SELECT 'valid' AS branch, COUNT(*) AS n FROM tagged WHERE NOT (stream_us > window_end_us + 5000000)
        |UNION ALL
        |SELECT 'late' AS branch, COUNT(*) AS n FROM tagged WHERE stream_us > window_end_us + 5000000""".stripMargin,
    "q16_cdc_unwrap" ->
      """SELECT o_orderkey AS order_id, o_orderstatus AS order_status,
        |  o_totalprice AS total_price,
        |  strftime(o_orderdate, '%Y-%m-%d %H:%M:%S') AS order_date,
        |  'c' AS op, 'orders' AS src_table
        |FROM orders""".stripMargin,
    "q17_scalar_funcs" ->
      """SELECT event_id,
        |  strftime(ts, '%Y-%m-%d %H:%M:%S') AS ts_str,
        |  epoch_us(ts) // 1000 AS epoch_ms,
        |  CAST(EXTRACT(hour FROM ts) AS BIGINT) AS hr,
        |  strftime(ts, '%A') AS day_name,
        |  strftime(ts, '%A') IN ('Saturday', 'Sunday') AS is_weekend,
        |  CASE WHEN EXTRACT(hour FROM ts) BETWEEN 6 AND 11 THEN 'morning'
        |       WHEN EXTRACT(hour FROM ts) BETWEEN 12 AND 17 THEN 'afternoon'
        |       ELSE 'evening' END AS tod,
        |  upper(event_type) AS event_type_uc,
        |  lower(regexp_replace(event_type, '[^A-Za-z0-9]', '', 'g')) || '@example.com' AS synth_email,
        |  ROUND(value / 7.0, 2) AS value_scaled,
        |  ROUND(1.0 / (1.0 + exp(-(value / 100.0))), 6) AS sigmoid_score
        |FROM events""".stripMargin,
    "q18_json_extract_agg" ->
      """SELECT event_type,
        |  CAST(SUM(CAST(props->>'$.k' AS BIGINT)) AS BIGINT) AS sum_k, COUNT(*) AS n,
        |  MIN(CAST(props->>'$.k' AS BIGINT)) AS min_k,
        |  MAX(CAST(props->>'$.k' AS BIGINT)) AS max_k
        |FROM events GROUP BY event_type""".stripMargin,
    "q19_dedup_exact" ->
      """SELECT MIN(doc_id) AS keep_id, COUNT(*) AS dup_cnt
        |FROM documents GROUP BY text""".stripMargin,
    "q20_jaccard_pairs" ->
      s"WITH $shingleTok,\n$cappedCand,\n$shingleVerify\n$jaccardPairs",
    // Full-hash LSH oracle: DuckDB rebuilds the MinHash signatures from
    // md5 alone (PortableHash: x = hex60(md5(s)) mod P, slot i =
    // (a_i·x + b_i) mod P over P = 2^31−1, constants from md5("a"+i) /
    // md5("b"+i)), bands on the 4-slot slices, then verifies with exact
    // Jaccard — the identical candidate set modulo xxhash64 band-key
    // collisions (Spark hashes the slice, DuckDB compares it directly;
    // a collision adds a candidate only on the Spark side and would
    // fail this compare, so the oracle also guards the band hash).
    "q21_minhash_lsh" ->
      s"""WITH $shingleTok,
         |${minhashBase("base")},
         |$minhashSlots,
         |sig AS (
         |  SELECT doc_id, i // 4 AS band, list(minh ORDER BY i) AS bkey
         |  FROM (
         |    SELECT doc_id, i, MIN((a * x + b) % 2147483647) AS minh
         |    FROM base CROSS JOIN slots GROUP BY doc_id, i)
         |  GROUP BY doc_id, i // 4),
         |cand AS (
         |  SELECT DISTINCT x.doc_id AS doc_i, y.doc_id AS doc_j
         |  FROM sig x JOIN sig y
         |  ON x.band = y.band AND x.bkey = y.bkey AND x.doc_id < y.doc_id),
         |$shingleVerify
         |$jaccardPairs""".stripMargin,
    // Full-hash SimHash oracle: signatures rebuilt from the same md5
    // prefix (bit b = sign of Σ ±1 over hex60(md5(shingle)) bits),
    // 4×15-bit banding, hamming via bit_count — bit-for-bit the engine's
    // SimHash60 path.
    "q22_simhash_pairs" ->
      s"""WITH $shingleTok,
         |h AS (SELECT doc_id, CAST('0x' || substr(md5(s), 1, 15) AS BIGINT) AS hv FROM tok),
         |bits AS (
         |  SELECT doc_id, b,
         |    SUM(CASE WHEN (hv >> CAST(b AS INT)) & 1 = 1 THEN 1 ELSE -1 END) AS bitsum
         |  FROM h CROSS JOIN range(0, 60) t(b) GROUP BY doc_id, b),
         |sig AS (
         |  SELECT doc_id, CAST(SUM(CASE WHEN bitsum > 0
         |    THEN CAST(1 AS BIGINT) << CAST(b AS INT) ELSE CAST(0 AS BIGINT) END) AS BIGINT) AS simhash
         |  FROM bits GROUP BY doc_id),
         |bands AS (
         |  SELECT doc_id, simhash, j, (simhash >> CAST(j*15 AS INT)) & 32767 AS bh
         |  FROM sig CROSS JOIN range(0, 4) t(j)),
         |cand AS (
         |  SELECT DISTINCT x.doc_id AS doc_i, y.doc_id AS doc_j,
         |    CAST(bit_count(xor(x.simhash, y.simhash)) AS BIGINT) AS hamming
         |  FROM bands x JOIN bands y
         |  ON x.j = y.j AND x.bh = y.bh AND x.doc_id < y.doc_id)
         |SELECT doc_i, doc_j, hamming FROM cand WHERE hamming <= 3""".stripMargin,
    // Bucket-restricted oracle: DuckDB recomputes the SAME portable SRP
    // signature (integer-arithmetic weights — see PortableSrpSig) and
    // applies the identical band-bucket candidate restriction, so the
    // approximate result sets are exactly comparable.
    "q23_embedding_pairs" ->
      s"""WITH ${srpNormed(48, "sig")},
        |bk AS (
        |  SELECT vec_id, b, (sig >> CAST(b*6 AS INT)) & 63 AS bkey
        |  FROM e CROSS JOIN range(0, 8) t(b)),
        |cand AS (
        |  SELECT DISTINCT x.vec_id AS vec_i, y.vec_id AS vec_j
        |  FROM bk x JOIN bk y ON x.b = y.b AND x.bkey = y.bkey AND x.vec_id < y.vec_id)
        |SELECT vec_i, vec_j,
        |  ROUND(list_sum(list_transform(range(1, len(a.embedding) + 1),
        |    i -> CAST(a.embedding[i] AS DOUBLE) * CAST(b2.embedding[i] AS DOUBLE)))
        |    / (a.nrm * b2.nrm), 4) AS cos_sim
        |FROM cand JOIN e a ON vec_i = a.vec_id JOIN e b2 ON vec_j = b2.vec_id
        |WHERE ROUND(list_sum(list_transform(range(1, len(a.embedding) + 1),
        |    i -> CAST(a.embedding[i] AS DOUBLE) * CAST(b2.embedding[i] AS DOUBLE)))
        |    / (a.nrm * b2.nrm), 4) >= 0.4""".stripMargin,
    // Bucket-restricted LSH top-k: DuckDB rebuilds the 8-plane portable
    // SRP signature (same integer-arithmetic weights as q23) and the
    // whole-signature bucket equi-join, so the approximate top-k result
    // set is exactly comparable.
    "q25_ann_lsh_topk" ->
      s"""WITH ${srpNormed(8, "bucket")},
        |q AS (SELECT vec_id AS qid, embedding AS qemb, nrm AS qnrm, bucket AS qb
        |      FROM e WHERE vec_id < 10),
        |scored AS (
        |  SELECT qid, e.vec_id,
        |    $cosSim
        |  FROM e JOIN q ON e.bucket = q.qb AND e.vec_id <> qid)
        |$cosTop5""".stripMargin,
    // IVF-family oracles over the unrolled k-means (see ivfKmeans):
    // cell assignment, probe selection, cosine scoring, and vote/
    // dominance logic are all engine-exact once the centroid fit is.
    "q44_ann_ivf" ->
      s"""WITH $ivfKmeans,
         |$ivfQueries,
         |${ivfProbes(4)},
         |scored AS (
         |  SELECT qv.qid, af.vec_id,
         |    ROUND(${ivfDot("af.embedding", "qv.qemb")} / (af.nrm * qv.qnrm), 4) AS cos_sim
         |  FROM af
         |  JOIN probes ON af.cluster = probes.probe
         |  JOIN qv ON probes.qid = qv.qid AND af.vec_id <> qv.qid)
         |SELECT qid, vec_id AS nbr_id, rank, cos_sim FROM (
         |  SELECT qid, vec_id, cos_sim,
         |    CAST(row_number() OVER (PARTITION BY qid ORDER BY cos_sim DESC, vec_id) AS BIGINT) AS rank
         |  FROM scored)
         |WHERE rank <= 5""".stripMargin,
    "q127_knn_ivf" ->
      s"""WITH $ivfKmeans,
         |lab AS (SELECT * FROM af WHERE vec_id % 5 <> 0),
         |qv AS (SELECT vec_id AS qid, embedding AS qemb, nrm AS qnrm, label AS true_label
         |       FROM af WHERE vec_id % 5 = 0),
         |${ivfProbes(4)},
         |scored AS (
         |  SELECT qv.qid, qv.true_label, lab.vec_id, lab.label,
         |    ROUND(${ivfDot("lab.embedding", "qv.qemb")} / (lab.nrm * qv.qnrm), 4) AS cos_sim
         |  FROM lab
         |  JOIN probes ON lab.cluster = probes.probe
         |  JOIN qv ON probes.qid = qv.qid AND lab.vec_id <> qv.qid),
         |nbr AS (
         |  SELECT * FROM (
         |    SELECT *, row_number() OVER (PARTITION BY qid ORDER BY cos_sim DESC, vec_id) AS rank
         |    FROM scored)
         |  WHERE rank <= 10),
         |${knnVotes("nbr")}
         |SELECT qid AS vec_id, label AS predicted_label, votes, sim_sum, true_label,
         |  (label = true_label) AS correct
         |FROM (SELECT *, row_number() OVER (PARTITION BY qid ORDER BY votes DESC, label) AS vr
         |      FROM votes)
         |WHERE vr = 1""".stripMargin,
    "q128_cluster_profile" ->
      s"""WITH $ivfKmeans,
         |cn AS (
         |  SELECT cluster, list_transform(c, v -> CAST(CAST(v AS REAL) AS DOUBLE)) AS cf,
         |    sqrt(list_sum(list_transform(c,
         |      v -> CAST(CAST(v AS REAL) AS DOUBLE) * CAST(CAST(v AS REAL) AS DOUBLE)))) AS cnrm
         |  FROM c2),
         |pl AS (
         |  SELECT af.cluster, af.label, COUNT(*) AS n_l,
         |    SUM(CAST(ROUND(${ivfDot("af.embedding", "cn.cf")} / (af.nrm * cn.cnrm), 9)
         |      AS DECIMAL(18,9))) AS cos_l
         |  FROM af JOIN cn ON af.cluster = cn.cluster
         |  GROUP BY af.cluster, af.label)
         |SELECT cluster, CAST(SUM(n_l) AS BIGINT) AS n_vectors,
         |  ROUND(CAST(SUM(cos_l) AS DOUBLE) / SUM(n_l), 4) AS avg_cos_centroid,
         |  (min(struct_pack(k1 := -n_l, k2 := label))).k2 AS top_label,
         |  ROUND(CAST((min(struct_pack(k1 := -n_l, k2 := label))).k1 * -1 AS DOUBLE)
         |    / SUM(n_l), 4) AS purity
         |FROM pl GROUP BY cluster""".stripMargin,
    "q129_semantic_keep" ->
      s"""WITH $ivfKmeans,
         |$semDominated
         |SELECT af.vec_id, CAST(af.cluster AS INT) AS cell
         |FROM af WHERE af.vec_id NOT IN (SELECT vec_id FROM dom)""".stripMargin,
    // MMR rerank oracle: the greedy argmax fold is bounded (pool 100,
    // k 10) and every term is engine-exact 4dp/9dp-rounded IEEE
    // arithmetic, so a recursive CTE replays the selection — each step
    // picks the remaining pool vector maximizing
    // ROUND(λ·rel − (1−λ)·max-cos-to-picked, 9) with the same
    // (score DESC, vec_id ASC) tie-break the Scala fold applies.
    "q120_mmr_rerank" ->
      s"""WITH RECURSIVE
        |$normedE,
        |q AS (SELECT embedding AS qemb, nrm AS qnrm FROM e WHERE vec_id = 0),
        |pool AS (
        |  SELECT vec_id, embedding, nrm,
        |    ${cosine("embedding", "qemb", "nrm * qnrm")} AS rel
        |  FROM e, q WHERE vec_id <> 0
        |  ORDER BY rel DESC, vec_id LIMIT 100),
        |sel(r, picked) AS (
        |  SELECT 0, CAST([] AS BIGINT[])
        |  UNION ALL
        |  SELECT r + 1, list_append(picked, c.vec_id)
        |  FROM sel, LATERAL (
        |    SELECT p.vec_id FROM pool p
        |    WHERE NOT list_contains(picked, p.vec_id)
        |    ORDER BY ROUND(0.7 * p.rel - (1.0 - 0.7) * (
        |      CASE WHEN len(picked) = 0 THEN 0.0 ELSE (
        |        SELECT MAX(ROUND(list_sum(list_transform(range(1, len(p.embedding) + 1),
        |          i -> CAST(p.embedding[i] AS DOUBLE) * CAST(s.embedding[i] AS DOUBLE)))
        |          / (p.nrm * s.nrm), 4))
        |        FROM pool s WHERE list_contains(picked, s.vec_id)) END), 9) DESC,
        |      p.vec_id ASC
        |    LIMIT 1) c
        |  WHERE r < 10)
        |SELECT CAST(0 AS BIGINT) AS qid,
        |  CAST(u.ord AS BIGINT) AS rank, u.vid AS vec_id, p.rel
        |FROM (SELECT unnest(picked) AS vid, generate_subscripts(picked, 1) AS ord
        |      FROM sel WHERE r = 10) u
        |JOIN pool p ON p.vec_id = u.vid""".stripMargin,
    // KMV theta-sketch oracle: DuckDB rebuilds the bottom-1024 sets of
    // the portable md5-prefix hashes per side, the union sketch, and
    // the theta arithmetic — (k-1)/theta with theta = (h+1)/2^60 in the
    // same IEEE expression order as Kmv.distinctEstimate, floor(x+0.5)
    // rounding, integer basis-point Jaccard — so all six columns are
    // exact.
    "q122_key_overlap" ->
      """WITH ha AS (SELECT DISTINCT
        |    CAST('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 15) AS BIGINT) AS h
        |  FROM events),
        |hb AS (SELECT DISTINCT
        |    CAST('0x' || substr(md5(CAST(c_custkey AS VARCHAR)), 1, 15) AS BIGINT) AS h
        |  FROM customer),
        |ba AS (SELECT h FROM ha ORDER BY h LIMIT 1024),
        |bb AS (SELECT h FROM hb ORDER BY h LIMIT 1024),
        |u AS (SELECT h FROM (SELECT h FROM ba UNION SELECT h FROM bb) ORDER BY h LIMIT 1024),
        |s AS (SELECT
        |  (SELECT COUNT(*) FROM ba) AS la, (SELECT MAX(h) FROM ba) AS ma,
        |  (SELECT COUNT(*) FROM bb) AS lb, (SELECT MAX(h) FROM bb) AS mb,
        |  (SELECT COUNT(*) FROM u) AS lu, (SELECT MAX(h) FROM u) AS mu,
        |  (SELECT COUNT(*) FROM u
        |     WHERE h IN (SELECT h FROM ba) AND h IN (SELECT h FROM bb)) AS common)
        |SELECT CAST(1024 AS BIGINT) AS k,
        |  CAST(FLOOR((CASE WHEN la < 1024 THEN CAST(la AS DOUBLE)
        |    ELSE 1023.0 / ((CAST(ma AS DOUBLE) + 1.0) / 1152921504606846976.0) END) + 0.5) AS BIGINT)
        |    AS est_distinct_a,
        |  CAST(FLOOR((CASE WHEN lb < 1024 THEN CAST(lb AS DOUBLE)
        |    ELSE 1023.0 / ((CAST(mb AS DOUBLE) + 1.0) / 1152921504606846976.0) END) + 0.5) AS BIGINT)
        |    AS est_distinct_b,
        |  CAST(FLOOR((CASE WHEN lu < 1024 THEN CAST(lu AS DOUBLE)
        |    ELSE 1023.0 / ((CAST(mu AS DOUBLE) + 1.0) / 1152921504606846976.0) END) + 0.5) AS BIGINT)
        |    AS est_union,
        |  CAST(CASE WHEN lu = 0 THEN 0 ELSE common * 10000 // lu END AS BIGINT) AS jaccard_bp,
        |  CAST(FLOOR((CASE WHEN lu = 0 THEN 0.0 ELSE
        |    (CAST(common AS DOUBLE) / lu) *
        |    (CASE WHEN lu < 1024 THEN CAST(lu AS DOUBLE)
        |      ELSE 1023.0 / ((CAST(mu AS DOUBLE) + 1.0) / 1152921504606846976.0) END) END) + 0.5) AS BIGINT)
        |    AS est_intersect
        |FROM s""".stripMargin,
    // Fingerprint dup-partition contract (see TextOps.fingerprintsChecked)
    "q29_fingerprints" ->
      """SELECT doc_id, COUNT(*) OVER (PARTITION BY text) AS n_text_dups,
        |  TRUE AS fnv_respects_dups, TRUE AS xxh_respects_dups
        |FROM documents""".stripMargin,
    "q24_ann_brute_topk" ->
      s"""WITH $normedE,
        |q AS (SELECT vec_id AS qid, embedding AS qemb, nrm AS qnrm FROM e WHERE vec_id < 10),
        |scored AS (
        |  SELECT qid, e.vec_id,
        |    $cosSim
        |  FROM e JOIN q ON e.vec_id <> qid)
        |$cosTop5""".stripMargin,
    "q26_token_stats" ->
      """SELECT doc_id,
        |  CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens_ws,
        |  CAST(len(regexp_extract_all(text, '[a-z0-9]+')) AS BIGINT) AS n_tokens_re,
        |  (n_chars + 3) // 4 AS n_tokens_bpe_est,
        |  CAST(len(list_distinct(string_split(text, ' '))) AS BIGINT) AS n_distinct_tokens
        |FROM documents""".stripMargin,
    "q27_quality_score" ->
      s"""WITH ${qualityStats("t")}
        |SELECT doc_id, n_chars, n_tokens,
        |  ROUND(CAST(n_chars - (n_tokens - 1) AS DOUBLE) / n_tokens, 4) AS mean_token_len,
        |  ROUND(CAST(n_stop AS DOUBLE) / n_tokens, 4) AS stopword_ratio,
        |  ROUND(CAST(n_distinct AS DOUBLE) / n_tokens, 4) AS type_token_ratio,
        |  (n_tokens >= 10 AND n_chars >= 50 AND n_stop > 0) AS passes_quality
        |FROM t""".stripMargin,
    "q28_lang_id" -> {
      // the first language with the top score wins; no hit at all is 'unknown'
      val langPred =
        """CASE WHEN score_en >= score_es AND score_en >= score_de AND score_en >= score_fr
          |         AND score_en > 0 THEN 'en'
          |       WHEN score_es >= score_de AND score_es >= score_fr AND score_es > 0 THEN 'es'
          |       WHEN score_de >= score_fr AND score_de > 0 THEN 'de'
          |       WHEN score_fr > 0 THEN 'fr'
          |       ELSE 'unknown' END""".stripMargin
      val (en, others) = (langWords.head._2, langWords.tail)
      s"""WITH t AS (
         |  SELECT doc_id, lang,
         |    CAST(${wordHits("text", en)} AS BIGINT) AS score_en,
         |${langScores("text", others)}
         |  FROM documents)
         |SELECT doc_id, lang AS lang_label,
         |  $langPred AS lang_pred,
         |  score_en,
         |  ($langPred) = lang AS agrees
         |FROM t""".stripMargin
    },
    "q30_linucb_seed" ->
      s"""WITH $luStats
         |SELECT arm AS product_id, n,
         |  ROUND(e0w_0, 9) AS ainv_00,
         |  ROUND(e4w_4, 9) AS ainv_44,
         |  ROUND(b_0, 6) AS b_0,
         |  ROUND(b_4, 6) AS b_4
         |FROM (SELECT arm, n, b_0, b_4,
         |    ${(luCholAliases ++
               luSolveAliases("e0", i => if (i == 0) "1.0" else "0.0") ++
               luSolveAliases("e4", i => if (i == 4) "1.0" else "0.0"))
                 .mkString(",\n    ")}
         |  FROM lus) sol""".stripMargin,
    "q31_linucb_topk" ->
      s"""WITH $luStats,
         |luchol AS MATERIALIZED (
         |  SELECT arm,
         |    ${// θᵀx = (L⁻¹b)·(L⁻¹x): both sides enter as FORWARD solves,
             // so project ubz (L⁻¹b), not the full ubw = A⁻¹b
             (0 until luDim).map(i => s"ubz_$i AS ub_$i").mkString(", ")},
         |    ${(for (j <- 0 until luDim; i <- j until luDim) yield s"l_${i}_$j").mkString(", ")}
         |  FROM (SELECT arm,
         |      ${(luCholAliases ++ luSolveAliases("ub", i => s"b_$i")).mkString(",\n      ")}
         |    FROM lus) sol),
         |luctx AS (
         |  SELECT range AS ctx_id, 1.0 AS cx0,
         |    CAST(range % 10 AS DOUBLE) / 10.0 AS cx1,
         |    CAST(range % 7 AS DOUBLE) / 7.0 AS cx2,
         |    CAST(range % 3 AS DOUBLE) / 30.0 AS cx3,
         |    0.05 AS cx4
         |  FROM range(20)),
         |scored AS (
         |  SELECT ctx_id, arm,
         |    ROUND(${(0 until luDim).map(i => s"ub_$i * uz_$i").mkString(" + ")}
         |      + 0.5 * sqrt(${(0 until luDim).map(i => s"uz_$i * uz_$i").mkString(" + ")}), 6) AS score
         |  FROM (SELECT ctx_id, arm,
         |      ${(0 until luDim).map(i => s"ub_$i").mkString(", ")},
         |      ${(0 until luDim).map { i =>
                  val sub = (0 until i).map(k => s" - l_${i}_$k * uz_$k").mkString
                  s"(cx$i$sub) / l_${i}_$i AS uz_$i"
                }.mkString(",\n      ")}
         |    FROM luctx CROSS JOIN luchol) u)
         |SELECT ctx_id, arm AS product_id, rank, score FROM (
         |  SELECT ctx_id, arm, score,
         |    row_number() OVER (PARTITION BY ctx_id
         |      ORDER BY score DESC, arm) AS rank
         |  FROM scored)
         |WHERE rank <= 3""".stripMargin,
    "q32_customer_features" ->
      """WITH stats AS (SELECT MIN(c_acctbal) AS lo, MAX(c_acctbal) AS hi FROM customer)
        |SELECT c_custkey AS user_id,
        |  CAST(c_mktsegment = 'AUTOMOBILE' AS BIGINT) AS seg_automobile,
        |  CAST(c_mktsegment = 'BUILDING' AS BIGINT) AS seg_building,
        |  CAST(c_mktsegment = 'FURNITURE' AS BIGINT) AS seg_furniture,
        |  CAST(c_mktsegment = 'HOUSEHOLD' AS BIGINT) AS seg_household,
        |  CAST(c_mktsegment = 'MACHINERY' AS BIGINT) AS seg_machinery,
        |  ROUND((c_acctbal - lo) / (hi - lo), 6) AS acctbal_scaled
        |FROM customer, stats""".stripMargin,
    "q33_time_context" ->
      """SELECT event_id,
        |  CAST(EXTRACT(hour FROM ts) BETWEEN 6 AND 11 AS BIGINT) AS is_morning,
        |  CAST(EXTRACT(hour FROM ts) BETWEEN 12 AND 17 AS BIGINT) AS is_afternoon,
        |  CAST(EXTRACT(hour FROM ts) < 6 OR EXTRACT(hour FROM ts) >= 18 AS BIGINT) AS is_evening,
        |  CAST(strftime(ts, '%A') IN ('Saturday', 'Sunday') AS BIGINT) AS is_weekend,
        |  CAST(strftime(ts, '%A') NOT IN ('Saturday', 'Sunday') AS BIGINT) AS is_weekday
        |FROM events""".stripMargin,
    "q34_tfidf_topterms" ->
      s"""WITH $tfidfScored
        |SELECT doc_id, term, tfidf, rnk FROM (
        |  SELECT doc_id, term, tfidf,
        |    ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY tfidf DESC, term) AS rnk
        |  FROM scored)
        |WHERE rnk <= 3""".stripMargin,
    "q35_text_embedding" -> svdEnvelopeOracle,
    "q36_context_vectors" ->
      """WITH stats AS (SELECT MIN(c_acctbal) AS lo, MAX(c_acctbal) AS hi FROM customer)
        |SELECT e.event_id,
        |  ROUND(COALESCE(ROUND((c.c_acctbal - lo) / (hi - lo), 6), 0.0), 6) AS acctbal_scaled,
        |  COALESCE(CAST(c.c_mktsegment = 'AUTOMOBILE' AS BIGINT), 0) AS seg_auto,
        |  CAST(EXTRACT(hour FROM e.ts) BETWEEN 6 AND 11 AS BIGINT) AS is_morning
        |FROM events e LEFT JOIN customer c ON e.user_id = c.c_custkey
        |CROSS JOIN stats""".stripMargin,
    "q37_media_meta" ->
      """SELECT doc_id AS media_id,
        |  ['bmp', 'wav'][CAST(doc_id % 2 AS INT) + 1] AS format,
        |  doc_id % 8 * 160 + 320 AS width,
        |  doc_id % 8 * 90 + 180 AS height,
        |  doc_id % 30 + 1 AS n_frames,
        |  octet_length(encode(text))
        |    + CASE WHEN doc_id % 2 = 0 THEN 54 ELSE 44 END AS byte_len
        |FROM documents""".stripMargin,
    // the decode oracle: every header field the byte-level parser
    // recovers is a deterministic function of the fixture columns
    // (dimensions/rates from doc_id, data length from the text bytes)
    "q38_media_features" ->
      """SELECT doc_id AS media_id,
        |  CASE WHEN doc_id % 2 = 0 THEN 'bmp' ELSE 'wav' END AS container,
        |  CAST(CASE WHEN doc_id % 2 = 0 THEN doc_id % 8 * 160 + 320 END AS BIGINT) AS width_px,
        |  CAST(CASE WHEN doc_id % 2 = 0 THEN doc_id % 8 * 90 + 180 END AS BIGINT) AS height_px,
        |  CAST(CASE WHEN doc_id % 2 = 0 THEN 24 END AS BIGINT) AS bits_per_px,
        |  CAST(CASE WHEN doc_id % 2 = 1 THEN (doc_id // 2) % 2 + 1 END AS BIGINT) AS channels,
        |  CAST(CASE WHEN doc_id % 2 = 1 THEN 8000 + (doc_id % 4) * 4000 END AS BIGINT) AS sample_rate,
        |  CAST(CASE WHEN doc_id % 2 = 1 THEN
        |    octet_length(encode(text)) * 1000
        |      // ((8000 + (doc_id % 4) * 4000) * ((doc_id // 2) % 2 + 1) * 2)
        |    END AS BIGINT) AS duration_ms,
        |  CAST(octet_length(encode(text)) AS BIGINT) AS data_bytes,
        |  CAST(octet_length(encode(text))
        |    + CASE WHEN doc_id % 2 = 0 THEN 54 ELSE 44 END AS BIGINT) AS byte_len
        |FROM documents""".stripMargin,
    "q39_frame_sample" ->
      """SELECT doc_id AS media_id, unnest(range(0, CAST(doc_id % 30 + 1 AS BIGINT), 8)) AS frame_no
        |FROM documents""".stripMargin,
    "q40_policy_eval" -> {
      // tie-averaged ranks (mn + mx) / 2 per score, and their Mann-Whitney AUC
      val tieRanks = "SELECT y, MIN(rnk) OVER (PARTITION BY s) AS mn, MAX(rnk) OVER (PARTITION BY s) AS mx"
      def auc(policy: String, ranked: String) =
        s"""SELECT '$policy' AS policy,
           |  ROUND((SUM(CASE WHEN y = 1.0 THEN mn + mx END) / 2.0 - SUM(y) * (SUM(y) + 1.0) / 2.0)
           |    / (SUM(y) * (COUNT(*) - SUM(y))), 6) AS auc,
           |  ROUND(SUM(y) / COUNT(*), 6) AS ctr, COUNT(*) AS n
           |FROM $ranked""".stripMargin
      s"""WITH ${feedback("")},
         |popranked AS (
         |  $tieRanks
         |  FROM (SELECT fb.y, pop_score AS s, ROW_NUMBER() OVER (ORDER BY pop_score) AS rnk
         |        FROM fb JOIN pop USING (arm))),
         |rndranked AS (
         |  $tieRanks
         |  FROM (SELECT y, rnd_score AS s, ROW_NUMBER() OVER (ORDER BY rnd_score) AS rnk FROM fb))
         |${auc("popularity", "popranked")}
         |UNION ALL
         |${auc("random", "rndranked")}""".stripMargin
    },
    // q41: policy-benchmark envelope — n/ctr exact for all 5 policies;
    // the two DETERMINISTIC policies (linucb α=0.1, lin_greedy α=0)
    // replay end-to-end: decimal-exact per-arm sufficient statistics
    // (the q30 seed replay), one Cholesky forward/back solve PER
    // INTERACTION for w = A⁻¹x (mean = b·w, var = x·w — the ENGINE
    // scores these two policies through the identical chol(A) float
    // chain, PolicyMath.linUcbCholScorePair, so the replay is bit-exact by
    // construction), then the same
    // 4096-bucket Mann-Whitney histogram as aucPerPolicyApprox. The
    // three splitmix-seeded policies keep auc_det NULL and hash-check
    // through their contract flags instead (evalLinUCBChecked scaladoc).
    "q41_policy_eval_linucb" ->
      s"""WITH $luStats,
         |luchol AS MATERIALIZED (
         |  SELECT arm, ${(0 until luDim).map(i => s"b_$i").mkString(", ")},
         |    ${(for (j <- 0 until luDim; i <- j until luDim) yield s"l_${i}_$j").mkString(", ")}
         |  FROM (SELECT arm,
         |      ${(0 until luDim).map(i => s"b_$i").mkString(", ")},
         |      ${luCholAliases.mkString(",\n      ")}
         |    FROM lus) sol),
         |sc AS MATERIALIZED (
         |  SELECT y, ROUND(mu, 9) AS s_g,
         |    ROUND(mu + 0.1 * sqrt(GREATEST(va, 0.0)), 9) AS s_u
         |  FROM (SELECT reward AS y,
         |      ${luSolveAliases("v", i => s"x$i").mkString(",\n      ")},
         |      ${(0 until luDim).map(i => s"b_$i * vw_$i").mkString(" + ")} AS mu,
         |      ${(0 until luDim).map(i => s"x$i * vw_$i").mkString(" + ")} AS va
         |    FROM luf JOIN luchol USING (arm)) u),
         |melted AS (
         |  SELECT 'lin_greedy' AS policy, s_g AS s, y FROM sc
         |  UNION ALL SELECT 'linucb', s_u, y FROM sc),
         |rngq AS (SELECT policy, MIN(s) AS lo, MAX(s) AS hi FROM melted GROUP BY 1),
         |binned AS (
         |  SELECT policy,
         |    CASE WHEN hi <= lo THEN 0
         |         ELSE CAST(LEAST(floor((s - lo) / (hi - lo) * 4096), 4095) AS INT) END AS bkt,
         |    COUNT(*) AS cnt, SUM(y) AS pos
         |  FROM melted JOIN rngq USING (policy) GROUP BY 1, 2),
         |cum AS (SELECT policy, cnt, pos,
         |    SUM(cnt) OVER (PARTITION BY policy ORDER BY bkt) AS c FROM binned),
         |det AS (
         |  SELECT policy,
         |    ROUND((SUM(pos * (2 * c - cnt + 1)) / 2.0 - SUM(pos) * (SUM(pos) + 1.0) / 2.0)
         |      / (SUM(pos) * (SUM(cnt) - SUM(pos))), 6) AS auc_det,
         |    ROUND(SUM(pos) / SUM(cnt), 6) AS ctr,
         |    CAST(SUM(cnt) AS BIGINT) AS n
         |  FROM cum GROUP BY 1),
         |base AS (SELECT ROUND(SUM(reward) / COUNT(*), 6) AS ctr,
         |    CAST(COUNT(*) AS BIGINT) AS n FROM luf)
         |SELECT policy, auc_det, ctr, n, TRUE AS auc_in_01, TRUE AS policy_contract FROM det
         |UNION ALL
         |SELECT p.policy, CAST(NULL AS DOUBLE) AS auc_det, b.ctr, b.n, TRUE, TRUE
         |FROM (VALUES ('lin_ts'), ('lin_eps'), ('clusters_ts')) p(policy) CROSS JOIN base b""".stripMargin,
    "q42_sliding_window" ->
      s"""WITH assigned AS (
        |  SELECT event_type, value,
        |    unnest([epoch_us(ts) // 1000000 // 300 * 300,
        |            epoch_us(ts) // 1000000 // 300 * 300 - 300]) AS win_start
        |  FROM events)
        |SELECT strftime(make_timestamp(win_start * 1000000), '%Y-%m-%d %H:%M:%S') AS window_start,
        |$supplierTotals
        |FROM assigned GROUP BY 1, 2""".stripMargin,
    "q43_resize_meta" ->
      """SELECT doc_id AS media_id,
        |  doc_id % 8 * 160 + 320 AS src_w,
        |  doc_id % 8 * 90 + 180 AS src_h,
        |  CASE WHEN doc_id % 8 * 160 + 320 <= 640 AND doc_id % 8 * 90 + 180 <= 360
        |         THEN doc_id % 8 * 160 + 320
        |       WHEN (doc_id % 8 * 160 + 320) * 360 <= (doc_id % 8 * 90 + 180) * 640
        |         THEN (doc_id % 8 * 160 + 320) * 360 // (doc_id % 8 * 90 + 180)
        |       ELSE 640 END AS out_w,
        |  CASE WHEN doc_id % 8 * 160 + 320 <= 640 AND doc_id % 8 * 90 + 180 <= 360
        |         THEN doc_id % 8 * 90 + 180
        |       WHEN (doc_id % 8 * 160 + 320) * 360 <= (doc_id % 8 * 90 + 180) * 640
        |         THEN 360
        |       ELSE (doc_id % 8 * 90 + 180) * 640 // (doc_id % 8 * 160 + 320) END AS out_h
        |FROM documents""".stripMargin,
    "q45_revenue_rollup" -> s"$nationRevenue\nGROUP BY ROLLUP (r_name, n_name)",
    // Per-op summary of the synthesized multi-version changelog — the
    // same closed form as q67/q101/q123 (Cdc.versionedEnvelope rules):
    // every key emits 'c'; h >= 4 adds 'u' (lsn+1); h >= 8 adds a
    // payload-nulled 'd' (lsn+2); lsn base = (okey*10+lineno)*1000 +
    // (duplicate_rank-1)*4.
    "q46_cdc_changelog" ->
      """WITH ranked AS (
        |  SELECT *, ((l_orderkey * 31 + l_linenumber) % 10) AS h,
        |    (l_orderkey * 10 + l_linenumber) * 1000 +
        |      (row_number() OVER (PARTITION BY l_orderkey, l_linenumber
        |        ORDER BY l_partkey, l_quantity, l_extendedprice) - 1) * 4 AS base
        |  FROM lineitem),
        |env AS (
        |  SELECT 'c' AS op, l_partkey AS part_id, base AS lsn FROM ranked
        |  UNION ALL
        |  SELECT 'u', l_partkey, base + 1 FROM ranked WHERE h >= 4
        |  UNION ALL
        |  SELECT 'd', NULL, base + 2 FROM ranked WHERE h >= 8)
        |SELECT op, COUNT(*) AS n, COUNT(part_id) AS n_with_payload,
        |  MAX(lsn) AS max_lsn
        |FROM env GROUP BY op""".stripMargin,
    "q47_sessionize" ->
      """WITH t AS (
        |  SELECT event_id, user_id, epoch_us(ts) AS ts_us,
        |    LAG(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY epoch_us(ts), event_id) AS prev_us
        |  FROM events),
        |b AS (
        |  SELECT event_id, user_id, ts_us,
        |    CASE WHEN prev_us IS NULL OR ts_us - prev_us > 1800000000 THEN 1 ELSE 0 END AS is_break
        |  FROM t),
        |s AS (
        |  SELECT event_id, user_id, ts_us,
        |    CAST(SUM(is_break) OVER (PARTITION BY user_id ORDER BY ts_us, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_no
        |  FROM b)
        |SELECT event_id, user_id, session_no,
        |  ROW_NUMBER() OVER (PARTITION BY user_id, session_no ORDER BY ts_us, event_id) AS seq_in_session
        |FROM s""".stripMargin,
    "q48_value_percentiles" ->
      """SELECT event_type,
        |  ROUND(quantile_cont(value, 0.5), 6) AS p50,
        |  ROUND(quantile_cont(value, 0.9), 6) AS p90,
        |  ROUND(quantile_cont(value, 0.99), 6) AS p99,
        |  ROUND(MAX(value), 6) AS p100
        |FROM events GROUP BY event_type""".stripMargin,
    "q49_weighted_pick" ->
      """WITH u AS (
        |  SELECT event_id,
        |    CAST((event_id * 2654435761) % 1048576 AS DOUBLE) / 1048576.0 AS u
        |  FROM events)
        |SELECT CASE WHEN u < 0.5 THEN 'Organic'
        |            WHEN u < 0.8 THEN 'Search'
        |            WHEN u < 0.95 THEN 'Email'
        |            ELSE 'Display' END AS src,
        |  COUNT(*) AS n
        |FROM u GROUP BY 1""".stripMargin,
    "q50_asof_join" ->
      """WITH v AS (
        |  SELECT user_id, epoch_us(ts) AS t, MAX(event_id) AS view_id
        |  FROM events WHERE event_type = 'view' GROUP BY 1, 2),
        |p AS (
        |  SELECT event_id, user_id, epoch_us(ts) AS t
        |  FROM events WHERE event_type = 'purchase')
        |SELECT p.event_id, p.user_id, v.view_id AS last_view_id,
        |  (p.t - v.t) // 1000000 AS secs_since_view
        |FROM p ASOF LEFT JOIN v ON p.user_id = v.user_id AND p.t >= v.t""".stripMargin,
    "q51_range_join" ->
      """WITH v AS (
        |  SELECT user_id AS v_user, epoch_us(ts) AS v_us, value AS v_value
        |  FROM events WHERE event_type = 'view'),
        |p AS (
        |  SELECT event_id, user_id, epoch_us(ts) AS ts_us
        |  FROM events WHERE event_type = 'purchase')
        |SELECT p.event_id, p.user_id,
        |  COUNT(v_us) AS n_views_1h,
        |  ROUND(COALESCE(CAST(SUM(CAST(v_value AS DECIMAL(18,2))) AS DOUBLE), 0.0), 2)
        |    AS view_value_1h
        |FROM p LEFT JOIN v ON p.user_id = v_user
        |  AND v_us >= p.ts_us - 3600000000 AND v_us <= p.ts_us
        |GROUP BY 1, 2""".stripMargin,
    "q52_semi_anti" ->
      """SELECT 'with_orders' AS branch, c_mktsegment AS segment, COUNT(*) AS n
        |FROM customer c
        |WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c.c_custkey)
        |GROUP BY 2
        |UNION ALL
        |SELECT 'without_orders' AS branch, c_mktsegment AS segment, COUNT(*) AS n
        |FROM customer c
        |WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c.c_custkey)
        |GROUP BY 2""".stripMargin,
    "q53_hybrid_latest" ->
      """WITH unioned AS (
        |  SELECT o_orderkey, o_orderstatus, o_orderkey * 2 AS lsn FROM orders
        |  UNION ALL
        |  SELECT o_orderkey, 'X' AS o_orderstatus, o_orderkey * 2 + 1 AS lsn
        |  FROM orders WHERE o_orderkey % 10 = 0),
        |latest AS (
        |  SELECT o_orderstatus, lsn,
        |    ROW_NUMBER() OVER (PARTITION BY o_orderkey ORDER BY lsn DESC) AS rn
        |  FROM unioned)
        |SELECT o_orderstatus AS order_status, COUNT(*) AS n, MAX(lsn) AS max_lsn
        |FROM latest WHERE rn = 1 GROUP BY 1""".stripMargin,
    "q54_session_window" ->
      """WITH t AS (
        |  SELECT user_id, value, event_id, epoch_us(ts) AS ts_us,
        |    -- event_id tiebreak: with duplicate timestamps, LAG and the
        |    -- running SUM below are SEPARATE window computations — ordered
        |    -- by ts alone their tie orders may disagree, landing the break
        |    -- flag mid-tie-group and splitting one session in two. Spark's
        |    -- native session_window is merge-based and tie-robust; the
        |    -- replay must pin one total order to match it.
        |    LAG(epoch_us(ts)) OVER (PARTITION BY user_id
        |      ORDER BY epoch_us(ts), event_id) AS prev_us
        |  FROM events),
        |s AS (
        |  SELECT user_id, value, ts_us,
        |    -- strict > : an event landing EXACTLY at the session close
        |    -- merges - spec-pinned against a planted exact-gap event
        |    CAST(SUM(CASE WHEN prev_us IS NULL OR ts_us - prev_us > 1800000000
        |      THEN 1 ELSE 0 END) OVER (PARTITION BY user_id ORDER BY ts_us, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
        |      AS session_no
        |  FROM t)
        |SELECT user_id, MIN(ts_us) AS session_start_us,
        |  MAX(ts_us) + 1800000000 AS session_end_us,
        |  COUNT(*) AS n_events,
        |  ROUND(CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE), 2)
        |    AS session_value
        |FROM s GROUP BY user_id, session_no""".stripMargin,
    "q55_revenue_cube" ->
      """SELECT c_mktsegment AS segment, o_orderpriority AS priority,
        |  ROUND(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE), 2)
        |    AS revenue,
        |  COUNT(*) AS n_orders
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |GROUP BY CUBE (c_mktsegment, o_orderpriority)""".stripMargin,
    "q56_hourly_pivot" ->
      """SELECT CAST(EXTRACT(hour FROM ts) AS BIGINT) AS hr,
        |  CAST(SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS n_click,
        |  CAST(SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT) AS n_error,
        |  CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS n_purchase,
        |  CAST(SUM(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END) AS BIGINT) AS n_signup,
        |  CAST(SUM(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS BIGINT) AS n_view
        |FROM events GROUP BY 1""".stripMargin,
    "q57_balance_analytics" ->
      """SELECT c_custkey AS user_id, c_mktsegment AS segment,
        |  c_acctbal AS acctbal,
        |  RANK() OVER v AS rnk,
        |  DENSE_RANK() OVER v AS dense_rnk,
        |  ROUND(PERCENT_RANK() OVER v, 6) AS pct_rank,
        |  ROUND(CUME_DIST() OVER v, 6) AS cume,
        |  NTILE(4) OVER t AS quartile,
        |  CAST(CAST(c_acctbal AS DECIMAL(18,2)) -
        |    COALESCE(LAG(CAST(c_acctbal AS DECIMAL(18,2)), 1) OVER t,
        |      CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS gap_to_prev
        |FROM customer
        |WINDOW v AS (PARTITION BY c_mktsegment ORDER BY c_acctbal DESC),
        |  t AS (PARTITION BY c_mktsegment ORDER BY c_acctbal DESC, c_custkey)""".stripMargin,
    "q58_stratified_sample" ->
      """SELECT doc_id, lang,
        |  ROUND(CAST(((((doc_id % 1048576) + 1048576) % 1048576) * 2654435761)
        |      % 1048576 AS DOUBLE) / 1048576.0, 6) AS u
        |FROM documents
        |WHERE CAST(((((doc_id % 1048576) + 1048576) % 1048576) * 2654435761)
        |    % 1048576 AS DOUBLE) / 1048576.0 <
        |  CASE WHEN lang = 'en' THEN 0.25 ELSE 0.75 END""".stripMargin,
    "q59_top_bigrams" ->
      """WITH toks AS (
        |  SELECT string_split(text, ' ') AS t FROM documents
        |  WHERE len(string_split(text, ' ')) >= 2),
        |grams AS (
        |  SELECT unnest(list_transform(range(2, len(t) + 1),
        |    i -> concat_ws(' ', t[i-1], t[i]))) AS bigram
        |  FROM toks)
        |SELECT bigram, COUNT(*) AS n FROM grams
        |GROUP BY 1 ORDER BY n DESC, bigram LIMIT 20""".stripMargin,
    "q60_dedup_clusters" ->
      s"""WITH RECURSIVE $dupClusters
         |SELECT doc_id, cluster_id FROM clusters""".stripMargin,
    "q61_cluster_keep" ->
      s"""WITH RECURSIVE $dupClusters
         |SELECT cluster_id AS keep_id, COUNT(*) AS n_docs
         |FROM clusters GROUP BY 1 HAVING COUNT(*) >= 2""".stripMargin,
    "q62_corpus_filter" ->
      s"""WITH RECURSIVE $dupClusters,
         |q AS (
         |  SELECT doc_id, n_chars,
         |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
         |    ${wordHits("text", stopWords)} AS n_stop
         |  FROM documents),
         |lt AS (
         |  SELECT doc_id,
         |${langScores("text", langWords)}
         |  FROM documents),
         |l AS (
         |  SELECT doc_id,
         |    CASE WHEN score_en >= score_es AND score_en >= score_de
         |           AND score_en >= score_fr AND score_en > 0 THEN 'en'
         |         WHEN score_es >= score_de AND score_es >= score_fr
         |           AND score_es > 0 THEN 'es'
         |         WHEN score_de >= score_fr AND score_de > 0 THEN 'de'
         |         WHEN score_fr > 0 THEN 'fr'
         |         ELSE 'unknown' END AS lang_pred
         |  FROM lt)
         |SELECT c.doc_id, q.n_tokens
         |FROM clusters c JOIN q USING (doc_id) JOIN l USING (doc_id)
         |WHERE q.n_tokens >= 10 AND q.n_chars >= 50 AND q.n_stop > 0
         |  AND l.lang_pred = 'en' AND c.doc_id = c.cluster_id""".stripMargin,
    "q63_rolling_fingerprint" ->
      """SELECT doc_id, list_reduce(list_prepend(CAST(0 AS BIGINT),
        |    list_transform(string_split(text, ''), ch -> CAST(ascii(ch) AS BIGINT))),
        |    (h, c) -> (h * 31 + c) % 1000000007) AS fp
        |FROM documents""".stripMargin,
    "q64_normalized_embedding" ->
      s"""WITH $normedE
        |SELECT vec_id,
        |  ROUND(CAST(embedding[1] AS DOUBLE) / nrm, 6) AS n0,
        |  ROUND(CAST(embedding[2] AS DOUBLE) / nrm, 6) AS n1,
        |  ROUND(CAST(embedding[3] AS DOUBLE) / nrm, 6) AS n2,
        |  ROUND(CAST(embedding[4] AS DOUBLE) / nrm, 6) AS n3
        |FROM e""".stripMargin,
    "q65_chunked_docs" ->
      """WITH t AS (
        |  SELECT doc_id, string_split(text, ' ') AS t FROM documents
        |  WHERE len(string_split(text, ' ')) >= 1),
        |c AS (
        |  SELECT doc_id, unnest(list_transform(
        |    range(0, CAST(ceil(len(t) / 64.0) AS BIGINT)),
        |    i -> {'no': i, 'txt': array_to_string(t[(i*64+1):(i*64+64)], ' ')})) AS u
        |  FROM t)
        |SELECT doc_id, u.no AS chunk_no,
        |  CAST(len(string_split(u.txt, ' ')) AS BIGINT) AS n_chunk_tokens,
        |  list_reduce(list_prepend(CAST(0 AS BIGINT),
        |    list_transform(string_split(u.txt, ''), ch -> CAST(ascii(ch) AS BIGINT))),
        |    (h, c) -> (h * 31 + c) % 1000000007) AS chunk_fp
        |FROM c""".stripMargin,
    "q66_sequence_packing" ->
      """WITH t AS (
        |  SELECT doc_id, lang,
        |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
        |  FROM documents WHERE text IS NOT NULL),
        |c AS (
        |  SELECT doc_id, lang, n_tokens,
        |    CAST(SUM(n_tokens) OVER (PARTITION BY lang ORDER BY doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum
        |  FROM t)
        |SELECT doc_id, lang, n_tokens, (cum - n_tokens) // 512 AS bin_no
        |FROM c""".stripMargin,
    // Closed-form expected final state of the synthesized multi-version
    // changelog (see Cdc.versionedEnvelope scaladoc for the rules).
    "q67_cdc_materialize" ->
      s"""WITH ${cdcRanked(cdcKeyCount)}
        |SELECT l_orderkey AS order_id, l_linenumber AS line_no,
        |  l_partkey AS part_id,
        |  l_quantity + CASE WHEN h >= 4 THEN 1 ELSE 0 END AS quantity,
        |  l_extendedprice AS price
        |FROM ranked
        |WHERE h < 8 AND r = cnt""".stripMargin,
    "q68_grouping_sets" ->
      s"""SELECT coalesce(l_returnflag, 'ALL') AS flag,
         |  coalesce(l_linestatus, 'ALL') AS status,
         |  count(*) AS n, ${revSum("revenue")}
         |FROM lineitem
         |GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_returnflag), ())""".stripMargin,
    "q69_moving_revenue" ->
      """SELECT o_orderkey, o_custkey,
        |  CAST(epoch(o_orderdate) AS BIGINT) AS epoch_s,
        |  ROUND(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) OVER (
        |    PARTITION BY o_custkey ORDER BY CAST(epoch(o_orderdate) AS BIGINT)
        |    RANGE BETWEEN 2592000 PRECEDING AND CURRENT ROW) AS DOUBLE), 2) AS rev_30d
        |FROM orders""".stripMargin,
    // DECIMAL(19,4) operands: DuckDB sizes multiplication width as
    // p1+p2 and executes DECIMAL(18) on int64 (overflows); 19+19=38
    // stays in range and runs on int128. Values are exact either way,
    // so Spark's (18,4) and DuckDB's (19,4) agree bit-for-bit.
    "q70_corr_stats" ->
      """WITH s AS (
        |  SELECT l_returnflag AS flag, CAST(count(*) AS DOUBLE) AS n,
        |    CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sx,
        |    CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE) AS sy,
        |    CAST(SUM(CAST(CAST(l_quantity AS DECIMAL(19,4)) *
        |      CAST(l_quantity AS DECIMAL(19,4)) AS DECIMAL(38,8))) AS DOUBLE) AS sxx,
        |    CAST(SUM(CAST(CAST(l_quantity AS DECIMAL(19,4)) *
        |      CAST(l_extendedprice AS DECIMAL(19,4)) AS DECIMAL(38,8))) AS DOUBLE) AS sxy,
        |    CAST(SUM(CAST(CAST(l_extendedprice AS DECIMAL(19,4)) *
        |      CAST(l_extendedprice AS DECIMAL(19,4)) AS DECIMAL(38,8))) AS DOUBLE) AS syy
        |  FROM lineitem GROUP BY 1)
        |SELECT flag, CAST(n AS BIGINT) AS n,
        |  ROUND((n * sxy - sx * sy) /
        |    (sqrt(n * sxx - sx * sx) * sqrt(n * syy - sy * sy)), 6) AS corr_qp,
        |  ROUND((n * sxy - sx * sy) / (n * sxx - sx * sx), 6) AS slope_qp
        |FROM s""".stripMargin,
    "q71_histogram" ->
      """SELECT CAST(floor((c_acctbal + 1000.0) / 500.0) AS BIGINT) AS bin,
        |  count(*) AS n,
        |  ROUND(CAST(floor((c_acctbal + 1000.0) / 500.0) AS BIGINT) * 500.0 - 1000.0, 1) AS lo
        |FROM customer
        |GROUP BY 1""".stripMargin,
    "q72_customer_cohorts" ->
      """WITH y1 AS (SELECT DISTINCT o_custkey FROM orders WHERE year(o_orderdate) = 1995),
        |     y2 AS (SELECT DISTINCT o_custkey FROM orders WHERE year(o_orderdate) = 1996)
        |SELECT o_custkey, 'retained' AS cohort
        |FROM (SELECT * FROM y1 INTERSECT SELECT * FROM y2)
        |UNION ALL
        |SELECT o_custkey, 'churned' AS cohort
        |FROM (SELECT * FROM y1 EXCEPT SELECT * FROM y2)""".stripMargin,
    "q73_gap_fill" ->
      """WITH ev AS (SELECT event_type, date_trunc('hour', ts) AS h FROM events),
        |b AS (SELECT event_type, min(h) AS lo, max(h) AS hi FROM ev GROUP BY 1),
        |spine AS (SELECT event_type,
        |  unnest(generate_series(lo, hi, INTERVAL 1 HOUR)) AS h FROM b),
        |c AS (SELECT event_type, h, count(*) AS cnt FROM ev GROUP BY 1, 2)
        |SELECT s.event_type, epoch_us(s.h) AS hour_us,
        |  coalesce(c.cnt, 0) AS n,
        |  epoch_us(last_value(CASE WHEN c.cnt IS NOT NULL THEN s.h END IGNORE NULLS)
        |    OVER (PARTITION BY s.event_type ORDER BY s.h
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)) AS last_active_us
        |FROM spine s LEFT JOIN c ON s.event_type = c.event_type AND s.h = c.h""".stripMargin,
    "q74_label_stats" ->
      """WITH e AS (
        |  SELECT label,
        |    sqrt(list_sum(list_transform(range(1, len(embedding) + 1),
        |      i -> CAST(embedding[i] AS DOUBLE) * CAST(embedding[i] AS DOUBLE)))) AS nrm,
        |    CAST(embedding[1] AS DOUBLE) AS e0
        |  FROM embeddings)
        |SELECT label, count(*) AS n,
        |  ROUND(min(nrm), 6) AS nrm_min, ROUND(max(nrm), 6) AS nrm_max,
        |  ROUND(min(e0), 6) AS e0_min, ROUND(max(e0), 6) AS e0_max
        |FROM e GROUP BY label""".stripMargin,
    "q75_skew_salted" ->
      s"""SELECT s_name, count(*) AS n_items, ${revSum("revenue")}
         |FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
         |GROUP BY s_name""".stripMargin,
    "q76_policy_ranking" ->
      s"""WITH $rankedPolicies,
        |pg AS (
        |  SELECT policy, group_id,
        |    SUM(CASE WHEN rn <= 3 THEN y ELSE 0 END) AS hits, SUM(y) AS tot
        |  FROM ranked GROUP BY 1, 2)
        |SELECT policy,
        |  ROUND(SUM(hits) / (3 * COUNT(*)), 6) AS p_at_3,
        |  ROUND(SUM(hits) / SUM(tot), 6) AS r_micro,
        |  ROUND(CAST(SUM(CASE WHEN tot > 0
        |      THEN CAST(ROUND(hits / tot, 12) AS DECIMAL(18,12)) END) AS DOUBLE)
        |    / SUM(CASE WHEN tot > 0 THEN 1 ELSE 0 END), 6) AS r_macro,
        |  COUNT(*) AS n_groups
        |FROM pg GROUP BY policy""".stripMargin,
    "q77_text_embedding_hashed" -> svdEnvelopeOracle,
    "q78_repetition_stats" ->
      """WITH d AS (
        |  SELECT doc_id, string_split(text, ' ') AS t FROM documents
        |  WHERE len(string_split(text, ' ')) >= 2),
        |u AS (SELECT doc_id, unnest(t) AS g FROM d),
        |uc AS (SELECT doc_id, g, COUNT(*) AS c FROM u GROUP BY 1, 2),
        |ua AS (SELECT doc_id, MAX(c) AS max_uni, SUM(c) AS n_uni,
        |         SUM(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS hapax
        |       FROM uc GROUP BY 1),
        |b AS (
        |  SELECT doc_id, unnest(list_transform(range(2, len(t) + 1),
        |    i -> concat_ws(' ', t[i-1], t[i]))) AS g FROM d),
        |bc AS (SELECT doc_id, g, COUNT(*) AS c FROM b GROUP BY 1, 2),
        |ba AS (SELECT doc_id, MAX(c) AS max_bi, SUM(c) AS n_bi FROM bc GROUP BY 1)
        |SELECT doc_id,
        |  ROUND(CAST(max_uni AS DOUBLE) / n_uni, 6) AS top_unigram_frac,
        |  ROUND(CAST(max_bi AS DOUBLE) / n_bi, 6) AS top_bigram_frac,
        |  ROUND(CAST(hapax AS DOUBLE) / n_uni, 6) AS hapax_frac
        |FROM ua JOIN ba USING (doc_id)""".stripMargin,
    "q79_decontamination" ->
      s"""WITH sh AS ($shingles),
         |g AS (SELECT doc_id, unnest(shingles) AS g FROM sh),
         |ev AS (SELECT DISTINCT g FROM g WHERE doc_id < 5)
         |SELECT doc_id, COUNT(*) AS n_shared_grams
         |FROM g JOIN ev USING (g)
         |WHERE doc_id >= 5
         |GROUP BY 1""".stripMargin,
    "q80_token_budget" ->
      """WITH p AS (
        |  SELECT lang, COUNT(*) AS n_docs,
        |    CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS n_tokens_ws,
        |    CAST(SUM((n_chars + 3) // 4) AS BIGINT) AS n_tokens_bpe_est
        |  FROM documents GROUP BY 1),
        |t AS (SELECT CAST(SUM(n_tokens_ws) AS BIGINT) AS total_ws FROM p)
        |SELECT lang, n_docs, n_tokens_ws, n_tokens_bpe_est,
        |  ROUND(CAST(n_tokens_ws AS DOUBLE) / total_ws, 6) AS token_share
        |FROM p, t""".stripMargin,
    "q81_split_assign" ->
      s"""WITH ${docUniform("u")}
        |SELECT doc_id, lang, ROUND(u, 6) AS u,
        |  CASE WHEN u < 0.8 THEN 'train'
        |       WHEN u < 0.9 THEN 'val'
        |       ELSE 'test' END AS split
        |FROM u""".stripMargin,
    "q82_mixture_weights" ->
      s"""WITH ${mixtureShares("")}
        |SELECT lang, token_share,
        |  ROUND(w_raw / w_sum, 6) AS weight,
        |  ROUND(w_raw / w_sum / token_share, 6) AS oversample
        |FROM s, w""".stripMargin,
    // DF-capped candidates (same ctok as q20) + exact verification on
    // the full shingle sets via list_intersect — mirrors the engine's
    // capped containment join; reported containments stay exact.
    "q83_containment" ->
      s"""WITH $shingleTok,
         |$cappedCand,
         |inter AS (
         |  SELECT doc_i, doc_j,
         |    len(list_intersect(na.shingles, nb.shingles)) AS c,
         |    len(na.shingles) AS ni, len(nb.shingles) AS nj
         |  FROM cand JOIN sh na ON doc_i = na.doc_id
         |    JOIN sh nb ON doc_j = nb.doc_id),
         |dirs AS (
         |  SELECT doc_i AS src_doc, doc_j AS dst_doc,
         |    ROUND(CAST(c AS DOUBLE) / ni, 4) AS containment
         |  FROM inter
         |  UNION ALL
         |  SELECT doc_j, doc_i, ROUND(CAST(c AS DOUBLE) / nj, 4)
         |  FROM inter)
         |SELECT src_doc, dst_doc, containment
         |FROM dirs WHERE containment >= 0.8""".stripMargin,
    "q86_funnel" ->
      """WITH v AS (SELECT user_id, MIN(epoch_us(ts)) AS view_us
        |  FROM events WHERE event_type = 'view' GROUP BY user_id),
        |c AS (SELECT e.user_id, MIN(epoch_us(e.ts)) AS click_us
        |  FROM events e JOIN v ON e.user_id = v.user_id
        |  WHERE e.event_type = 'click' AND epoch_us(e.ts) > v.view_us
        |  GROUP BY e.user_id),
        |p AS (SELECT e.user_id, MIN(epoch_us(e.ts)) AS purchase_us
        |  FROM events e JOIN c ON e.user_id = c.user_id
        |  WHERE e.event_type = 'purchase' AND epoch_us(e.ts) > c.click_us
        |  GROUP BY e.user_id)
        |SELECT '1_view' AS stage, COUNT(*) AS n_users FROM v
        |UNION ALL SELECT '2_click', COUNT(*) FROM c
        |UNION ALL SELECT '3_purchase', COUNT(*) FROM p""".stripMargin,
    "q87_transition_matrix" ->
      """WITH t AS (
        |  SELECT user_id, event_type AS from_type,
        |    LEAD(event_type) OVER (
        |      PARTITION BY user_id ORDER BY epoch_us(ts), event_id) AS to_type
        |  FROM events),
        |c AS (SELECT from_type, to_type, COUNT(*) AS n_trans
        |  FROM t WHERE to_type IS NOT NULL GROUP BY from_type, to_type)
        |SELECT from_type, to_type, n_trans,
        |  ROUND(CAST(n_trans AS DOUBLE) /
        |    SUM(n_trans) OVER (PARTITION BY from_type), 4) AS p_trans
        |FROM c""".stripMargin,
    "q88_pii_redact" ->
      """WITH r AS (
        |  SELECT doc_id,
        |    trim(regexp_replace(regexp_replace(regexp_replace(lower(text),
        |      '[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}', '<EMAIL>', 'g'),
        |      '[0-9]{3,}', '<NUM>', 'g'),
        |      '\s+', ' ', 'g')) AS clean_text,
        |    CAST(len(regexp_extract_all(text,
        |      '[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}')) AS BIGINT) AS n_emails,
        |    CAST(len(regexp_extract_all(text,
        |      '[0-9]{3,}')) AS BIGINT) AS n_long_nums
        |  FROM documents)
        |SELECT doc_id, clean_text, n_emails, n_long_nums,
        |  CAST(length(clean_text) AS BIGINT) AS n_chars_clean
        |FROM r""".stripMargin,
    "q89_bloom_join" ->
      s"""SELECT strftime(o_orderdate, '%Y-%m') AS order_month,
         |  ${revSum("revenue")}, COUNT(*) AS n_items
         |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
         |WHERE o_orderpriority = '1-URGENT'
         |GROUP BY strftime(o_orderdate, '%Y-%m')""".stripMargin,
    "q90_decile_bins" ->
      """WITH vals AS (
        |  SELECT c_acctbal AS v, COUNT(*) AS cnt FROM customer GROUP BY c_acctbal),
        |cum AS (
        |  SELECT v, cnt, SUM(cnt) OVER (ORDER BY v) AS cum,
        |    (SELECT SUM(cnt) FROM vals) AS n_total
        |  FROM vals)
        |SELECT CAST((cum * 10 + n_total - 1) // n_total AS BIGINT) AS bin,
        |  CAST(SUM(cnt) AS BIGINT) AS n_customers,
        |  MIN(v) AS lo_bal, MAX(v) AS hi_bal,
        |  ROUND(CAST(SUM(CAST(v * cnt AS DECIMAL(18,2))) AS DOUBLE) / SUM(cnt), 2)
        |    AS avg_bal
        |FROM cum GROUP BY bin""".stripMargin,
    "q91_heavy_tokens" ->
      """WITH tok AS (
        |  SELECT unnest(string_split(text, ' ')) AS t FROM documents),
        |n AS (SELECT COUNT(*) AS n_tokens FROM tok)
        |SELECT t AS token, COUNT(*) AS cnt
        |FROM tok, n GROUP BY t, n_tokens
        |HAVING COUNT(*) * 50 > n_tokens""".stripMargin,
    "q92_zorder" -> {
      // the same shift/mask interleave, spelled out arithmetically
      val bits = (0 until 8).map(i =>
        s"(((ub >> $i) & 1) << ${2 * i}) | (((hb >> $i) & 1) << ${2 * i + 1})")
        .mkString(" | ")
      s"""SELECT event_id, ub, hb, CAST($bits AS BIGINT) AS z
         |FROM (SELECT event_id, user_id % 256 AS ub,
         |  (epoch_us(ts) // 3600000000) % 256 AS hb FROM events)""".stripMargin
    },
    "q93_group_sample" ->
      """WITH h AS (
        |  SELECT event_type, event_id, user_id,
        |    ((((event_id % 1048576) + 1048576) % 1048576) * 2654435761)
        |      % 1048576 AS h
        |  FROM events),
        |r AS (
        |  SELECT event_type, event_id, user_id, h,
        |    ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY h, event_id)
        |      AS rk
        |  FROM h WHERE h < 52428)
        |SELECT event_type, rk, event_id, user_id FROM r WHERE rk <= 5""".stripMargin,
    "q94_token_entropy" ->
      """WITH c AS (
        |  SELECT doc_id, t, COUNT(*) AS cnt FROM (
        |    SELECT doc_id, unnest(string_split(text, ' ')) AS t
        |    FROM documents) GROUP BY doc_id, t),
        |p AS (
        |  SELECT doc_id, cnt,
        |    SUM(cnt) OVER (PARTITION BY doc_id) AS n,
        |    CAST(cnt AS DOUBLE) / SUM(cnt) OVER (PARTITION BY doc_id) AS p
        |  FROM c)
        |SELECT doc_id, CAST(MAX(n) AS BIGINT) AS n_tokens,
        |  COUNT(*) AS n_distinct,
        |  ROUND(CAST(SUM(CAST(ROUND(-p * log2(p), 9) AS DECIMAL(18,9)))
        |    AS DOUBLE), 6) AS entropy
        |FROM p GROUP BY doc_id""".stripMargin,
    // NOT EXISTS, not NOT IN: the Spark side is a left_anti join, and
    // NOT IN returns zero rows whenever the parent set contains a NULL
    // while the anti join counts NULL child keys as orphans — NOT EXISTS
    // matches anti-join semantics exactly for any future NULL keys.
    "q95_fk_audit" ->
      """SELECT 'lineitem.l_orderkey->orders' AS edge,
        |  (SELECT COUNT(*) FROM (SELECT DISTINCT l_orderkey FROM lineitem) c
        |   WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_orderkey = c.l_orderkey))
        |  AS n_orphan_keys
        |UNION ALL SELECT 'orders.o_custkey->customer',
        |  (SELECT COUNT(*) FROM (SELECT DISTINCT o_custkey FROM orders) c
        |   WHERE NOT EXISTS (SELECT 1 FROM customer p WHERE p.c_custkey = c.o_custkey))
        |UNION ALL SELECT 'customer.c_nationkey->nation',
        |  (SELECT COUNT(*) FROM (SELECT DISTINCT c_nationkey FROM customer) c
        |   WHERE NOT EXISTS (SELECT 1 FROM nation p WHERE p.n_nationkey = c.c_nationkey))
        |UNION ALL SELECT 'lineitem.l_partkey->part',
        |  (SELECT COUNT(*) FROM (SELECT DISTINCT l_partkey FROM lineitem) c
        |   WHERE NOT EXISTS (SELECT 1 FROM part p WHERE p.p_partkey = c.l_partkey))""".stripMargin,
    "q96_int8_quant" ->
      """WITH x AS (
        |  SELECT vec_id, unnest(range(1, len(embedding) + 1)) AS i,
        |    CAST(unnest(embedding) AS DOUBLE) AS v
        |  FROM embeddings),
        |stats AS (SELECT i, MIN(v) AS mn, MAX(v) AS mx FROM x GROUP BY i),
        |q AS (
        |  SELECT vec_id, x.i,
        |    floor((v - mn) * 255 / GREATEST(mx - mn, 1e-12) + 0.5) AS code,
        |    abs(v - (mn + floor((v - mn) * 255 / GREATEST(mx - mn, 1e-12) + 0.5)
        |      * (mx - mn) / 255)) AS err
        |  FROM x JOIN stats ON x.i = stats.i)
        |SELECT vec_id,
        |  CAST(MAX(CASE WHEN i = 1 THEN code END) AS BIGINT) AS code0,
        |  CAST(MAX(CASE WHEN i = 2 THEN code END) AS BIGINT) AS code1,
        |  CAST(MAX(CASE WHEN i = 3 THEN code END) AS BIGINT) AS code2,
        |  CAST(MAX(CASE WHEN i = 4 THEN code END) AS BIGINT) AS code3,
        |  ROUND(MAX(err), 6) AS max_abs_err
        |FROM q GROUP BY vec_id""".stripMargin,
    "q97_mixture_sample" ->
      s"""WITH ${mixtureRates("")}
        |SELECT doc_id, d.lang, ROUND(u, 6) AS u, rate
        |FROM d JOIN r ON d.lang = r.lang
        |WHERE u < rate""".stripMargin,
    "q98_unigram_surprisal" ->
      """WITH tok AS (
        |  SELECT doc_id, unnest(string_split(text, ' ')) AS t FROM documents),
        |tf AS (SELECT t, COUNT(*) AS ctf FROM tok GROUP BY t),
        |n AS (SELECT CAST(SUM(ctf) AS BIGINT) AS n_corpus FROM tf)
        |SELECT doc_id, COUNT(*) AS n_tokens,
        |  ROUND(CAST(SUM(CAST(ROUND(-log2(CAST(ctf AS DOUBLE) / n_corpus), 9)
        |    AS DECIMAL(18,9))) AS DOUBLE) / COUNT(*), 4) AS mean_surprisal
        |FROM tok JOIN tf USING (t), n
        |GROUP BY doc_id""".stripMargin,
    "q99_policy_ndcg" ->
      s"""WITH $rankedPolicies,
        |pg AS (
        |  SELECT policy, group_id,
        |    SUM(CASE WHEN rn <= 3
        |      THEN CAST(ROUND(y / log2(rn + 1), 12) AS DECIMAL(18,12))
        |      ELSE CAST(0 AS DECIMAL(18,12)) END) AS dcg,
        |    SUM(y) AS tot
        |  FROM ranked GROUP BY 1, 2),
        |ng AS (
        |  SELECT policy,
        |    CAST(ROUND(CAST(dcg AS DOUBLE) /
        |      (ROUND(1.0 / log2(2.0), 12)
        |       + CASE WHEN tot >= 2 THEN ROUND(1.0 / log2(3.0), 12) ELSE 0.0 END
        |       + CASE WHEN tot >= 3 THEN ROUND(1.0 / log2(4.0), 12) ELSE 0.0 END),
        |      12) AS DECIMAL(18,12)) AS ndcg_g
        |  FROM pg WHERE tot > 0)
        |SELECT policy,
        |  ROUND(CAST(SUM(ndcg_g) AS DOUBLE) / COUNT(*), 6) AS ndcg_at_3,
        |  COUNT(*) AS n_groups_judged
        |FROM ng GROUP BY policy""".stripMargin,
    "q101_scd2_history" ->
      s"""WITH ${cdcRanked("")},
        |base AS (
        |  SELECT *, (l_orderkey * 10 + l_linenumber) * 1000 + (r - 1) * 4 AS key_lsn
        |  FROM ranked),
        |v AS (
        |  SELECT l_orderkey AS order_id, l_linenumber AS line_no,
        |    l_partkey AS part_id, CAST(l_quantity AS DOUBLE) AS quantity,
        |    l_extendedprice AS price, 'c' AS op, key_lsn AS lsn FROM base
        |  UNION ALL
        |  SELECT l_orderkey, l_linenumber, l_partkey,
        |    CAST(l_quantity + 1 AS DOUBLE), l_extendedprice, 'u', key_lsn + 1
        |  FROM base WHERE h >= 4
        |  UNION ALL
        |  SELECT l_orderkey, l_linenumber, NULL, NULL, NULL, 'd', key_lsn + 2
        |  FROM base WHERE h >= 8),
        |w AS (
        |  SELECT *, LEAD(lsn) OVER (PARTITION BY order_id, line_no
        |    ORDER BY lsn) AS valid_to_lsn
        |  FROM v)
        |SELECT order_id, line_no, part_id, quantity, price,
        |  lsn AS valid_from_lsn, valid_to_lsn,
        |  (valid_to_lsn IS NULL) AS is_current
        |FROM w WHERE op <> 'd'""".stripMargin,
    "q102_hourly_anomalies" ->
      """WITH hc AS (
        |  SELECT event_type, date_trunc('hour', ts) AS h, COUNT(*) AS n
        |  FROM events GROUP BY 1, 2),
        |st AS (
        |  SELECT event_type, CAST(SUM(n) AS BIGINT) AS sn,
        |    CAST(SUM(n * n) AS BIGINT) AS sn2, COUNT(*) AS cnt
        |  FROM hc GROUP BY 1),
        |j AS (
        |  SELECT hc.event_type, epoch_us(h) AS hour_us, n,
        |    CAST(sn AS DOUBLE) / cnt AS mean,
        |    CASE WHEN cnt > 1 THEN
        |      GREATEST((CAST(sn2 AS DOUBLE) - CAST(sn AS DOUBLE) * sn / cnt)
        |        / (cnt - 1), 1e-12) END AS variance
        |  FROM hc JOIN st ON hc.event_type = st.event_type)
        |SELECT event_type, hour_us, n,
        |  ROUND((n - mean) / sqrt(variance), 4) AS z,
        |  (abs(ROUND((n - mean) / sqrt(variance), 4)) > 3.0) AS is_anomaly
        |FROM j""".stripMargin,
    "q103_fuzzy_names" ->
      """WITH n AS (
        |  SELECT p_name, COUNT(*) AS n_parts, split_part(p_name, ' ', 1) AS blk
        |  FROM part GROUP BY p_name)
        |SELECT a.p_name AS name_a, b.p_name AS name_b,
        |  CAST(levenshtein(a.p_name, b.p_name) AS BIGINT) AS dist,
        |  a.n_parts AS n_parts_a, b.n_parts AS n_parts_b
        |FROM n a JOIN n b ON a.blk = b.blk AND a.p_name < b.p_name
        |WHERE levenshtein(a.p_name, b.p_name) <= 3""".stripMargin,
    "q104_feature_melt" ->
      """WITH w AS (
        |  SELECT c_custkey, c_acctbal AS acctbal,
        |    CASE WHEN c_mktsegment = 'AUTOMOBILE' THEN 1.0 ELSE 0.0 END AS seg_auto,
        |    CAST(c_nationkey AS DOUBLE) AS nation_key
        |  FROM customer)
        |SELECT c_custkey, 'acctbal' AS feature, acctbal AS value FROM w
        |UNION ALL SELECT c_custkey, 'seg_auto', seg_auto FROM w
        |UNION ALL SELECT c_custkey, 'nation_key', nation_key FROM w""".stripMargin,
    "q105_reconciliation" ->
      """WITH o AS (SELECT o_custkey, COUNT(*) AS n_orders FROM orders GROUP BY 1),
        |e AS (SELECT user_id, COUNT(*) AS n_events FROM events GROUP BY 1)
        |SELECT COALESCE(o_custkey, user_id) AS entity_key,
        |  COALESCE(n_orders, 0) AS n_orders,
        |  COALESCE(n_events, 0) AS n_events,
        |  CASE WHEN o_custkey IS NOT NULL AND user_id IS NOT NULL THEN 'both'
        |       WHEN o_custkey IS NOT NULL THEN 'orders_only'
        |       ELSE 'events_only' END AS status
        |FROM o FULL JOIN e ON o_custkey = user_id""".stripMargin,
    "q106_segment_extremes" ->
      """WITH r AS (
        |  SELECT c_mktsegment AS segment, c_acctbal, c_custkey,
        |    ROW_NUMBER() OVER (PARTITION BY c_mktsegment
        |      ORDER BY c_acctbal DESC, c_custkey DESC) AS rmax,
        |    ROW_NUMBER() OVER (PARTITION BY c_mktsegment
        |      ORDER BY c_acctbal ASC, c_custkey ASC) AS rmin
        |  FROM customer)
        |SELECT segment,
        |  MAX(CASE WHEN rmax = 1 THEN c_acctbal END) AS top_bal,
        |  MAX(CASE WHEN rmax = 1 THEN c_custkey END) AS top_cust,
        |  MAX(CASE WHEN rmin = 1 THEN c_acctbal END) AS low_bal,
        |  MAX(CASE WHEN rmin = 1 THEN c_custkey END) AS low_cust,
        |  COUNT(*) AS n_customers
        |FROM r GROUP BY segment""".stripMargin,
    "q107_column_profile" ->
      """SELECT 'c_custkey' AS column_name,
        |  CAST(SUM(CASE WHEN c_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_nulls,
        |  COUNT(DISTINCT c_custkey) AS n_distinct,
        |  CAST(MIN(c_custkey) AS DOUBLE) AS min_val,
        |  CAST(MAX(c_custkey) AS DOUBLE) AS max_val
        |FROM customer
        |UNION ALL SELECT 'c_nationkey',
        |  CAST(SUM(CASE WHEN c_nationkey IS NULL THEN 1 ELSE 0 END) AS BIGINT),
        |  COUNT(DISTINCT c_nationkey),
        |  CAST(MIN(c_nationkey) AS DOUBLE), CAST(MAX(c_nationkey) AS DOUBLE)
        |FROM customer
        |UNION ALL SELECT 'c_acctbal',
        |  CAST(SUM(CASE WHEN c_acctbal IS NULL THEN 1 ELSE 0 END) AS BIGINT),
        |  COUNT(DISTINCT c_acctbal),
        |  CAST(MIN(c_acctbal) AS DOUBLE), CAST(MAX(c_acctbal) AS DOUBLE)
        |FROM customer""".stripMargin,
    "q108_revenue_abc" ->
      s"""WITH pr AS (
         |  SELECT l_partkey AS part_id,
         |    ROUND(SUM($rev), 2) AS rev_d
         |  FROM lineitem GROUP BY 1),
         |c AS (
         |  SELECT part_id, rev_d,
         |    SUM(rev_d) OVER (
         |      ORDER BY rev_d DESC, part_id
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
         |    (SELECT SUM(rev_d) FROM pr) AS total
         |  FROM pr)
         |SELECT part_id, CAST(rev_d AS DOUBLE) AS revenue,
         |  ROUND(CAST(cum AS DOUBLE) / CAST(total AS DOUBLE), 6) AS cum_share,
         |  CASE WHEN ROUND(CAST(cum AS DOUBLE) / CAST(total AS DOUBLE), 6) <= 0.80
         |         THEN 'A'
         |       WHEN ROUND(CAST(cum AS DOUBLE) / CAST(total AS DOUBLE), 6) <= 0.95
         |         THEN 'B'
         |       ELSE 'C' END AS abc_class
         |FROM c""".stripMargin,
    "q111_quality_model" ->
      s"""WITH $lrChain
         |SELECT lrf.doc_id,
         |  ROUND(1.0 / (1.0 + exp(-(${lrDot("b")}))), 6) AS quality_prob,
         |  CAST(y AS BOOLEAN) AS heuristic_gate
         |FROM lrf CROSS JOIN lrb4 b""".stripMargin,
    "q112_incremental_dedup" ->
      s"""WITH $shingleTok,
         |ctok AS ($cappedTok),
         |cand AS (
         |  SELECT DISTINCT a.doc_id AS doc_e, b.doc_id AS doc_i
         |  FROM ctok a JOIN ctok b ON a.s = b.s
         |    AND a.doc_id < 250 AND b.doc_id >= 250),
         |dup AS (
         |  SELECT DISTINCT doc_i FROM (
         |    SELECT doc_i,
         |      len(list_intersect(ne.shingles, ni.shingles)) AS c,
         |      len(ne.shingles) AS nn, len(ni.shingles) AS nm
         |    FROM cand JOIN sh ne ON doc_e = ne.doc_id JOIN sh ni ON doc_i = ni.doc_id)
         |  WHERE ROUND(CAST(c AS DOUBLE) / (nn + nm - c), 4) >= 0.5),
         |exd AS (
         |  SELECT DISTINCT i.doc_id AS doc_i
         |  FROM documents i JOIN documents e
         |    ON i.doc_id >= 250 AND e.doc_id < 250 AND e.text = i.text)
         |SELECT doc_id, n_chars FROM documents d
         |WHERE doc_id >= 250
         |  AND NOT EXISTS (SELECT 1 FROM dup WHERE dup.doc_i = d.doc_id)
         |  AND NOT EXISTS (SELECT 1 FROM exd WHERE exd.doc_i = d.doc_id)""".stripMargin,
    "q116_segment_zscores" ->
      """WITH b AS (
        |  SELECT c_custkey, c_mktsegment AS segment, c_acctbal,
        |    CAST(ROUND(c_acctbal * 100, 0) AS BIGINT) AS c
        |  FROM customer),
        |st AS (
        |  SELECT segment,
        |    CAST(SUM(CAST(c AS DECIMAL(38,0))) AS DOUBLE) AS sn,
        |    CAST(SUM(CAST(c * c AS DECIMAL(38,0))) AS DOUBLE) AS sn2,
        |    COUNT(*) AS cnt
        |  FROM b GROUP BY 1),
        |j AS (
        |  SELECT b.c_custkey, b.segment, b.c_acctbal, b.c,
        |    sn / cnt AS mean,
        |    CASE WHEN cnt > 1 THEN
        |      GREATEST((sn2 - sn * sn / cnt) / (cnt - 1), 1e-12) END AS variance
        |  FROM b JOIN st ON b.segment = st.segment)
        |SELECT c_custkey, segment, c_acctbal,
        |  ROUND((c - mean) / sqrt(variance), 4) AS z
        |FROM j""".stripMargin,
    "q126_feature_mi" ->
      """WITH cells AS (
        |  SELECT c_mktsegment AS segment, c_nationkey AS nation_key,
        |    COUNT(*) AS n
        |  FROM customer GROUP BY 1, 2),
        |t AS (SELECT CAST(SUM(n) AS BIGINT) AS nt FROM cells),
        |w AS (
        |  SELECT segment, nation_key, n,
        |    CAST(SUM(n) OVER (PARTITION BY segment) AS BIGINT) AS nx,
        |    CAST(SUM(n) OVER (PARTITION BY nation_key) AS BIGINT) AS ny
        |  FROM cells)
        |SELECT segment, nation_key, CAST(n AS BIGINT) AS n,
        |  ROUND((CAST(n AS DOUBLE) / nt) * ln((CAST(n AS DOUBLE) / nt) /
        |    ((CAST(nx AS DOUBLE) / nt) * (CAST(ny AS DOUBLE) / nt))), 9)
        |    AS mi_term
        |FROM w CROSS JOIN t""".stripMargin,
    // Stupid-backoff bigram LM scoring: the count tables, smoothing
    // arithmetic, and 9dp-DECIMAL term fold are all exact, so DuckDB
    // retrains the same LM on the same doc_id%10<8 partition and
    // reproduces every per-doc mean log-score.
    "q130_lm_score" ->
      s"""WITH $lmScoreChain
         |SELECT doc_id, n_bigrams, lm_score FROM lmdoc""".stripMargin,
    // Greedy BPE fit replay — see the bpeChain scaladoc. Both the
    // learned merge table and the tokenizer application fall out of
    // the same unrolled chain: m1..m10 are the fit's output rows;
    // w10 is every distinct word's final tokenization.
    "q131_bpe_learn" ->
      (s"WITH $bpeChain\n" +
        """SELECT rank, w1 AS "left", w2 AS "right", merged, freq FROM (""" + "\n" +
        (1 to bpeMergeCount).map(i => s"  SELECT * FROM m$i").mkString(" UNION ALL\n") +
        "\n)"),
    "q132_bpe_apply" ->
      (s"WITH $bpeChain,\n" +
        s"""wt AS (SELECT word, CAST(len(t) AS BIGINT) AS n_sub FROM w$bpeMergeCount),
           |d AS (SELECT doc_id, n_chars, unnest(string_split(text, ' ')) AS word
           |      FROM documents),
           |j AS (
           |  SELECT doc_id, n_chars,
           |    COALESCE(wt.n_sub, CASE WHEN len(d.word) > 0 THEN 1 ELSE 0 END) AS n_tok,
           |    CASE WHEN len(d.word) > 0 THEN 1 ELSE 0 END AS is_word
           |  FROM d LEFT JOIN wt ON d.word = wt.word)
           |SELECT doc_id, CAST(SUM(is_word) AS BIGINT) AS n_words,
           |  CAST(SUM(n_tok) AS BIGINT) AS n_subwords,
           |  ROUND(CAST(SUM(n_tok) AS DOUBLE) / n_chars, 4) AS subwords_per_char
           |FROM j GROUP BY doc_id, n_chars""".stripMargin),
    // Substring-level dedup: DuckDB groups the positional 8-grams by
    // their RAW text where the engine groups sha2 digests (equivalent
    // modulo SHA-256 collisions — the q19 argument), then replays the
    // same overlap-merge (gap ≤ 7 fuses; LAG NULL on the first row
    // falls to the ELSE branch exactly like Spark's when/otherwise).
    "q133_dup_spans" ->
      s"""WITH ${dupSpanIds("")},
        |i AS (SELECT doc_id, CAST(MIN(pos) AS BIGINT) AS start_pos,
        |        CAST(MAX(pos) + 7 AS BIGINT) AS end_pos
        |      FROM s GROUP BY doc_id, span_id)
        |SELECT doc_id, start_pos, end_pos,
        |  end_pos - start_pos + 1 AS span_tokens
        |FROM i""".stripMargin,
    // Span strip: replay the q133 span table, then cut those token
    // ranges per doc — positional unnest, NOT EXISTS against the
    // doc's spans, ordered string_agg rebuild. Spark's codegen'd
    // array filter and DuckDB's row-level anti-exists must agree
    // token-for-token; fully-stripped docs survive via the left join
    // with an empty-string rebuild on both sides.
    "q134_dup_span_strip" ->
      s"""WITH ${dupSpanStrip("")}
        |SELECT d.doc_id,
        |  CAST(len(string_split(d.text, ' ')) AS BIGINT) AS n_tokens,
        |  CAST(len(string_split(d.text, ' ')) - COALESCE(a.n_kept, 0) AS BIGINT)
        |    AS n_removed,
        |  COALESCE(a.clean_text, '') AS clean_text
        |FROM documents d LEFT JOIN agg a USING (doc_id)""".stripMargin,
    "q135_ann_pq" ->
      s"""WITH $pqKmeans,
         |$pqAdc
         |SELECT qid, vec_id AS nbr_id, rank, adc_ip
         |FROM pqtop WHERE rank <= 5""".stripMargin,
    "q136_pq_recall" ->
      s"""WITH $pqKmeans,
         |$pqAdc,
         |pqk AS (SELECT qid, vec_id AS nbr_id FROM pqtop WHERE rank <= 5),
         |en AS (
         |  SELECT vec_id, embedding,
         |    $embNorm
         |      AS nrm
         |  FROM e),
         |bq AS (SELECT vec_id AS qid, embedding AS qemb, nrm AS qnrm
         |       FROM en WHERE vec_id < 10),
         |bsc AS (
         |  SELECT qid, en.vec_id,
         |    ${cosine("en.embedding", "qemb", "en.nrm * qnrm")} AS cos_sim
         |  FROM en JOIN bq ON en.vec_id <> qid),
         |bruk AS (
         |  SELECT qid, vec_id AS nbr_id FROM (
         |    SELECT qid, vec_id, cos_sim,
         |      ROW_NUMBER() OVER (PARTITION BY qid
         |        ORDER BY cos_sim DESC, vec_id) AS rank
         |    FROM bsc)
         |  WHERE rank <= 5),
         |bknt AS (SELECT qid, COUNT(*) AS brute_k FROM bruk GROUP BY qid),
         |hits AS (
         |  SELECT pqk.qid, COUNT(bruk.nbr_id) AS n_hit
         |  FROM pqk LEFT JOIN bruk
         |    ON pqk.qid = bruk.qid AND pqk.nbr_id = bruk.nbr_id
         |  GROUP BY pqk.qid)
         |SELECT hits.qid,
         |  ROUND(CAST(n_hit AS DOUBLE) / brute_k, 4) AS recall
         |FROM hits JOIN bknt ON hits.qid = bknt.qid""".stripMargin,
    "q137_ann_ivf_pq" -> s"WITH ${ivfPqChain(4)}\n$adcTop5",
    "q138_dsir_weights" ->
      """WITH t AS (SELECT doc_id, source, string_split(text, ' ') AS t
        |           FROM documents),
        |g0 AS (
        |  SELECT doc_id, source, unnest(t) AS g FROM t
        |  UNION ALL
        |  SELECT doc_id, source,
        |    unnest(list_transform(range(1, len(t)), i -> t[i] || ' ' || t[i+1])) AS g
        |  FROM t WHERE len(t) >= 2),
        |g AS (
        |  SELECT doc_id, source,
        |    list_reduce(list_prepend(CAST(0 AS BIGINT),
        |      list_transform(string_split(g, ''), ch -> CAST(ascii(ch) AS BIGINT))),
        |      (h, c) -> (h * 31 + c) % 1000000007) % 4096 AS b
        |  FROM g0),
        |tg AS (SELECT b, COUNT(*) AS ct FROM g WHERE source = 'src0' GROUP BY b),
        |rg AS (SELECT b, COUNT(*) AS cr FROM g WHERE source <> 'src0' GROUP BY b),
        |tot AS (SELECT
        |    (SELECT COUNT(*) FROM g WHERE source = 'src0') AS nt,
        |    (SELECT COUNT(*) FROM g WHERE source <> 'src0') AS nr),
        |lam AS (
        |  SELECT COALESCE(tg.b, rg.b) AS b,
        |    CAST(ROUND(ln((COALESCE(ct, 0) + 1.0) / (nt + 4096.0))
        |             - ln((COALESCE(cr, 0) + 1.0) / (nr + 4096.0)), 9)
        |      AS DECIMAL(18,9)) AS lam
        |  FROM tg FULL OUTER JOIN rg ON tg.b = rg.b CROSS JOIN tot)
        |SELECT g.doc_id, CAST(COUNT(*) AS BIGINT) AS n_feats,
        |  CAST(SUM(lam.lam) AS DOUBLE) AS weight
        |FROM g JOIN lam USING (b) WHERE source <> 'src0'
        |GROUP BY g.doc_id""".stripMargin,
    "q139_cell_balanced_keep" ->
      s"""WITH $ivfKmeans,
         |$lmScoreChain
         |SELECT cell, doc_id, cell_rank, lm_score FROM (
         |  SELECT af.cluster AS cell, lmdoc.doc_id, lmdoc.lm_score,
         |    CAST(row_number() OVER (PARTITION BY af.cluster
         |      ORDER BY lmdoc.lm_score DESC, lmdoc.doc_id) AS BIGINT) AS cell_rank
         |  FROM lmdoc JOIN af ON lmdoc.doc_id = af.vec_id)
         |WHERE cell_rank <= 8""".stripMargin,
    "q140_ingest_monitor" ->
      s"""WITH d AS (
        |  SELECT source, n_chars, string_split(text, ' ') AS t,
        |    1704067200 + doc_id AS es
        |  FROM documents),
        |$ingestWindows""".stripMargin,
    // q168: q140's chain with the first-arrival dedup stage in front —
    // first arrival per text ≡ per sha2(text) (the synthetic ts is
    // strictly monotone in doc_id, so min-ts = min-doc_id)
    "q168_curated_ingest" ->
      s"""WITH d0 AS (
        |  SELECT source, n_chars, text, 1704067200 + doc_id AS es,
        |    row_number() OVER (PARTITION BY text ORDER BY doc_id) AS rn
        |  FROM documents),
        |d AS (
        |  SELECT source, n_chars, string_split(text, ' ') AS t, es
        |  FROM d0 WHERE rn = 1),
        |$ingestWindows""".stripMargin,
    "q141_ann_ivfadc_residual" -> s"WITH ${residualChain(4)}\n$adcTop5",
    "q142_embedding_decontam" ->
      s"""WITH ${evalCosines("ev")}
        |SELECT vec_id, eid AS nearest_eval_id, cos_eval AS max_eval_cos,
        |  cos_eval >= 0.6 AS contaminated
        |FROM (
        |  SELECT vec_id, eid, cos_eval,
        |    row_number() OVER (PARTITION BY vec_id
        |      ORDER BY cos_eval DESC, eid) AS r
        |  FROM p)
        |WHERE r = 1""".stripMargin,
    "q143_ivf_pq_recall" -> ivfRecallSql(4),
    "q144_ivfadc_residual_recall" -> residualRecallSql(4),
    // q167: both recall gates swept over the nProbe operating range —
    // the SAME parameterized SQL as q143/q144, once per grid point
    "q167_recall_grid" ->
      Seq(1, 2, 4, 8).map { np =>
        s"""SELECT 'raw' AS variant, $np AS n_probe, qid, recall FROM (
           |${ivfRecallSql(np)})
           |UNION ALL
           |SELECT 'residual' AS variant, $np AS n_probe, qid, recall FROM (
           |${residualRecallSql(np)})""".stripMargin
      }.mkString("\nUNION ALL\n"),
    "q169_ann_sq8" -> s"WITH $sqChain\n$sqTop5",
    "q171_dataset_card" -> cardSql,
    // q175: the one-frame datasheet — card × funnel joined on the
    // sources-bounded key; both sides the q171/q172 replay SQL verbatim
    "q175_datasheet_v3" ->
      s"""WITH card AS ($cardSql),
         |fun AS ($funnelSql)
         |SELECT card.source, card.n_docs, card.n_tokens, card.n_chars,
         |  card.n_exact_dups, card.n_dup_rows, card.pass_rate,
         |  card.en_share, card.avg_tokens, fun.n_gated, fun.n_canonical,
         |  fun.n_semantic, fun.n_sampled, fun.n_final, fun.keep_rate
         |FROM card JOIN fun ON fun.source = card.source""".stripMargin,
    "q170_sq8_recall" ->
      s"""WITH $sqChain,
         |${annk("sq_ip")},
         |af AS (SELECT vec_id, embedding, $ivfNrm AS nrm FROM e),
         |$recallTail""".stripMargin,
    // q173: the SQ8 chain restricted to the IVF-probed cells — the
    // k-means fragment supplies e/af/c2, the probe CTE replays the
    // partial-selection order, and the score is q169's fold verbatim
    "q173_ann_ivf_sq8" -> s"WITH $ivfSqChain\n$sqTop5",
    // q174: the q173 chain + the shared brute-force recall tail
    "q174_ivf_sq8_recall" ->
      s"WITH $ivfSqChain,\n${recallOf("sq_ip")}",
    // q145: the component oracle chains composed — dup-span strip
    // (q134, z-prefixed to avoid CTE collisions), quality+English gate
    // over the CLEANED text (q27/q28 predicates), near-dup canonical
    // keep (the q62 recursive-CTE cluster labels), semantic keep
    // (q129's within-cell dominance over the unrolled IVF fit), and
    // the q97 mixture-rate membership.
    "q145_curation_set" ->
      s"""WITH RECURSIVE $curationChain
         |SELECT k.doc_id, smp.lang, d2.source, sem.cell,
         |  k.n_tokens_clean, k.n_removed, k.clean_text
         |$curatedFrom""".stripMargin,
    // q146: the q145 chain + the two decontamination gates. The
    // lexical gate reuses the chain's own shingle CTEs (`sh`/`tok` from
    // the dup-cluster fragment — q79's arithmetic verbatim); the
    // semantic gate reuses `af` (embeddings with norms from the IVF
    // fit) for the q142 brute argmax replay. Eval docs (doc_id < 5)
    // and eval vectors (vec_id % 50 = 0, enforced by the inner join on
    // the corpus-side verdict table) leave the pool.
    "q146_curation_decontam" ->
      s"""WITH RECURSIVE $curationChain,
         |$decontamGates
         |SELECT k.doc_id, smp.lang, d2.source, sem.cell,
         |  k.n_tokens_clean, k.n_removed, dvv.max_eval_cos, k.clean_text
         |$curatedFrom
         |JOIN dvv ON dvv.vec_id = k.doc_id
         |WHERE k.doc_id >= 5 AND dvv.max_eval_cos < 0.6
         |  AND k.doc_id NOT IN (SELECT doc_id FROM ngc)""".stripMargin,
    // q172: the q146 chain's stage memberships left-joined onto the
    // document table and folded into cumulative flags — the funnel's
    // n_sampled/n_final replay q145/q146's membership per source
    "q172_curation_funnel" -> funnelSql,
    // q147: every metric is a per-document list fold; rule comparisons
    // run on the unrounded doubles exactly as the engine's
    "q147_gopher_rules" ->
      s"""WITH t AS (
        |  SELECT doc_id, n_chars, string_split(text, ' ') AS t FROM documents),
        |m AS (
        |  SELECT doc_id,
        |    len(t) AS n_words,
        |    CAST(n_chars - (len(t) - 1) AS DOUBLE) / len(t) AS mw,
        |    len(list_filter(t,
        |      x -> x IN ($stopWords))) AS n_stop,
        |$gopherRatios
        |  FROM t)
        |SELECT doc_id, n_words, ROUND(mw, 6) AS mean_wlen, n_stop,
        |  ROUND(ttr, 6) AS ttr, ROUND(tfrac, 6) AS top_frac,
        |  n_words >= 20 AND n_words <= 100000 AS ok_words,
        |  mw >= 3.0 AND mw <= 10.0 AS ok_wlen,
        |  n_stop >= 2 AS ok_stop,
        |  ttr >= 0.35 AS ok_ttr,
        |  tfrac <= 0.14 AS ok_rep,
        |  (n_words >= 20 AND n_words <= 100000) AND mw >= 3.0 AND mw <= 10.0
        |    AND n_stop >= 2 AND ttr >= 0.35 AND tfrac <= 0.14 AS passes_gopher
        |FROM m""".stripMargin,
    // q148: the oracle rebuilds the identical fixture ticket (every
    // byte a pure function of customer columns), then replays the
    // scrub with RE2 — counts on the original, rewrite email → IP →
    // phone like the engine
    "q148_pii_scrub" ->
      """WITH t AS (
        |  SELECT c_custkey,
        |    'cust ' || c_name || ' <u' || CAST(c_custkey AS VARCHAR)
        |    || '@example.com>'
        |    || CASE WHEN c_custkey % 5 = 0 THEN ' cc u'
        |         || CAST(c_custkey AS VARCHAR) || '.alt@mail.example.org'
        |       ELSE '' END
        |    || CASE WHEN c_custkey % 3 > 0 THEN ' call '
        |         || lpad(CAST((c_custkey * 7) % 1000 AS VARCHAR), 3, '0')
        |         || '-' || lpad(CAST((c_custkey * 31) % 10000 AS VARCHAR), 4, '0')
        |       ELSE '' END
        |    || CASE WHEN c_custkey % 4 > 0 THEN ' from 10.'
        |         || CAST(c_custkey % 256 AS VARCHAR) || '.'
        |         || CAST((c_custkey * 3) % 256 AS VARCHAR) || '.'
        |         || CAST((c_custkey * 7) % 256 AS VARCHAR)
        |       ELSE '' END
        |    || ' re ' || lower(c_mktsegment) AS ticket
        |  FROM customer)
        |SELECT c_custkey,
        |  len(regexp_extract_all(ticket,
        |    '[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}')) AS n_emails,
        |  len(regexp_extract_all(ticket, '\b[0-9]{3}-[0-9]{4}\b')) AS n_phones,
        |  len(regexp_extract_all(ticket,
        |    '\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b')) AS n_ips,
        |  regexp_replace(
        |    regexp_replace(
        |      regexp_replace(ticket,
        |        '[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}', '<EMAIL>', 'g'),
        |      '\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b', '<IP>', 'g'),
        |    '\b[0-9]{3}-[0-9]{4}\b', '<PHONE>', 'g') AS redacted
        |FROM t""".stripMargin,
    // q149: BM25 with k1 = 1.2, b = 0.75 for the fixed 3-term probe;
    // per-term scores 9dp-decimal before the per-doc sum, full ranking
    // then the same 10-row cut the engine's take-ordered applies
    "q149_bm25_topk" ->
      s"WITH $bm25Probe,\n$bm25Ranked\nFROM agg ORDER BY score DESC, doc_id LIMIT 10",
    // q150: the shared LM chain scores every doc, then score-VALUE
    // thresholds split each source into thirds — cum runs over the
    // distinct-score frequency frame, ties share a bucket by
    // construction
    "q150_ppl_buckets" ->
      s"""WITH $lmScoreChain,
         |${pplBuckets("")}
         |SELECT ds.doc_id, ds.source, ds.lm_score, b.ppl_bucket,
         |  b.ppl_bucket <> 'tail' AS keep
         |FROM ds JOIN b
         |  ON ds.source = b.source AND ds.lm_score = b.lm_score""".stripMargin,
    // q151: the q97 Knuth-hash uniform at offset 7, exact ceil(n/4)
    // per (source, lang) stratum via rank over (u, doc_id)
    "q151_stratified_sample" ->
      """WITH d AS (
        |  SELECT doc_id, source, lang,
        |    CAST(((((doc_id + 7) % 1048576) + 1048576) % 1048576)
        |      * 2654435761 % 1048576 AS DOUBLE) / 1048576.0 AS u
        |  FROM documents),
        |r AS (
        |  SELECT doc_id, source, lang, u,
        |    CAST(row_number() OVER (PARTITION BY source, lang
        |      ORDER BY u, doc_id) AS BIGINT) AS rk,
        |    COUNT(*) OVER (PARTITION BY source, lang) AS n_stratum
        |  FROM d)
        |SELECT doc_id, source, lang, ROUND(u, 6) AS u, rk, n_stratum,
        |  (n_stratum + 3) // 4 AS k_keep
        |FROM r WHERE rk <= (n_stratum + 3) // 4""".stripMargin,
    // q153: the q145 chain + the Gopher composite replayed on keepg's
    // clean_text (q147 arithmetic verbatim) + the q150 threshold CTEs
    // over the shared LM chain; tail-bucket docs leave the pool
    "q153_curation_v2" ->
      s"""WITH RECURSIVE $curationChain,
         |$lmScoreChain,
         |${pplBuckets("v")},
         |vk AS (
         |  SELECT vds.doc_id, vb.ppl_bucket
         |  FROM vds JOIN vb
         |    ON vds.source = vb.source AND vds.lm_score = vb.lm_score
         |  WHERE vb.ppl_bucket <> 'tail'),
         |gw AS (
         |  SELECT doc_id, string_split(clean_text, ' ') AS t,
         |    len(clean_text) AS nc
         |  FROM keepg),
         |gm AS (
         |  SELECT doc_id,
         |    len(t) AS nw,
         |    CAST(nc - (len(t) - 1) AS DOUBLE) / len(t) AS mw,
         |    len(list_filter(t,
         |      x -> x IN ($stopWords))) AS ns,
         |$gopherRatios
         |  FROM gw),
         |gpass AS (
         |  SELECT doc_id FROM gm
         |  WHERE nw >= 20 AND nw <= 100000 AND mw >= 3.0 AND mw <= 10.0
         |    AND ns >= 2 AND ttr >= 0.35 AND tfrac <= 0.14)
         |SELECT k.doc_id, smp.lang, d2.source, sem.cell,
         |  k.n_tokens_clean, k.n_removed, vk.ppl_bucket, k.clean_text
         |$curatedFrom
         |JOIN gpass ON gpass.doc_id = k.doc_id
         |JOIN vk ON vk.doc_id = k.doc_id""".stripMargin,
    // q155: the q79 shingle gate + the q142 cosine verdicts joined to
    // the eligible pool (non-eval docs with a semantic verdict), then
    // one source-level aggregation
    "q155_contamination_report" ->
      s"""WITH sh AS ($shingles),
         |g AS (SELECT doc_id, unnest(shingles) AS g FROM sh),
         |evg AS (SELECT DISTINCT g FROM g WHERE doc_id < 5),
         |lex AS (SELECT DISTINCT g.doc_id FROM g JOIN evg USING (g)
         |        WHERE g.doc_id >= 5),
         |${evalCosines("vev")},
         |verd AS (
         |  SELECT vec_id, cos_eval >= 0.6 AS contaminated
         |  FROM (SELECT vec_id, cos_eval, row_number() OVER (
         |          PARTITION BY vec_id ORDER BY cos_eval DESC, eid) AS r
         |        FROM p)
         |  WHERE r = 1),
         |pool AS (
         |  SELECT d.doc_id, d.source,
         |    CASE WHEN lex.doc_id IS NOT NULL THEN 1 ELSE 0 END AS is_lex,
         |    verd.contaminated
         |  FROM documents d
         |  JOIN verd ON verd.vec_id = d.doc_id
         |  LEFT JOIN lex ON lex.doc_id = d.doc_id
         |  WHERE d.doc_id >= 5)
         |SELECT source, COUNT(*) AS n_pool,
         |  CAST(SUM(is_lex) AS BIGINT) AS n_lexical,
         |  CAST(SUM(CAST(contaminated AS INT)) AS BIGINT) AS n_semantic,
         |  CAST(SUM(CASE WHEN is_lex = 0 AND NOT contaminated
         |       THEN 1 ELSE 0 END) AS BIGINT) AS n_clean,
         |  ROUND(CAST(SUM(is_lex) AS DOUBLE) / COUNT(*), 6) AS lex_rate,
         |  ROUND(CAST(SUM(CAST(contaminated AS INT)) AS DOUBLE) / COUNT(*), 6)
         |    AS sem_rate
         |FROM pool GROUP BY source""".stripMargin,
    // q156: the dupClusters fragment's verified jaccard pairs + exact
    // star edges, each mapped to an unordered source pair and counted;
    // the recursive label CTEs in the fragment go unreferenced (lazy)
    "q156_dup_flow_matrix" ->
      s"""WITH RECURSIVE $dupClusters,
         |srcm AS (SELECT doc_id, source FROM documents),
         |nearm AS (
         |  SELECT LEAST(a.source, b.source) AS source_a,
         |         GREATEST(a.source, b.source) AS source_b,
         |         COUNT(*) AS n_near
         |  FROM pairs JOIN srcm a ON pairs.doc_i = a.doc_id
         |             JOIN srcm b ON pairs.doc_j = b.doc_id
         |  GROUP BY 1, 2),
         |exm AS (
         |  SELECT LEAST(a.source, b.source) AS source_a,
         |         GREATEST(a.source, b.source) AS source_b,
         |         COUNT(*) AS n_exact
         |  FROM xe JOIN srcm a ON xe.doc_i = a.doc_id
         |          JOIN srcm b ON xe.doc_j = b.doc_id
         |  GROUP BY 1, 2)
         |SELECT COALESCE(n.source_a, e.source_a) AS source_a,
         |  COALESCE(n.source_b, e.source_b) AS source_b,
         |  COALESCE(n.n_near, 0) AS n_near,
         |  COALESCE(e.n_exact, 0) AS n_exact
         |FROM nearm n FULL OUTER JOIN exm e
         |  ON n.source_a = e.source_a AND n.source_b = e.source_b""".stripMargin,
    // q157: the q34 TF-IDF arithmetic re-derived per (cell, term) with
    // a 6dp-decimal fold, cells from the unrolled-Lloyd assignment
    "q157_cell_top_terms" ->
      s"""WITH $ivfKmeans,
         |ttok AS (
         |  SELECT doc_id, unnest(string_split(text, ' ')) AS term
         |  FROM documents),
         |ttf AS (SELECT doc_id, term, COUNT(*) AS tf FROM ttok GROUP BY 1, 2),
         |tn AS (SELECT COUNT(*) AS n_docs FROM documents),
         |tdf AS (SELECT term, COUNT(DISTINCT doc_id) AS df
         |        FROM ttok GROUP BY 1),
         |tsc AS (
         |  SELECT doc_id, ttf.term,
         |    $tfidfTerm
         |  FROM ttf JOIN tdf ON ttf.term = tdf.term CROSS JOIN tn),
         |cellsq AS (SELECT vec_id AS doc_id, CAST(cluster AS INT) AS cell
         |           FROM af),
         |ag AS (
         |  SELECT cell, term,
         |    SUM(CAST(tfidf AS DECIMAL(18, 6))) AS w_dec,
         |    COUNT(*) AS n_docs_term
         |  FROM tsc JOIN cellsq USING (doc_id) GROUP BY 1, 2)
         |SELECT cell, term, ROUND(CAST(w_dec AS DOUBLE), 6) AS weight,
         |  n_docs_term, rnk
         |FROM (
         |  SELECT cell, term, w_dec, n_docs_term,
         |    row_number() OVER (PARTITION BY cell
         |      ORDER BY w_dec DESC, term) AS rnk
         |  FROM ag)
         |WHERE rnk <= 3""".stripMargin,
    // q154: positional-postings phrase match — 1-based positions via
    // the range walk, adjacency as a (doc_id, pos) self-join of the
    // term-filtered postings
    "q154_phrase_search" ->
      """WITH d AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
        |p AS (SELECT doc_id, unnest(range(1, len(t) + 1)) AS pos, t FROM d),
        |tokp AS (SELECT doc_id, pos, t[pos] AS w FROM p
        |         WHERE t[pos] IN ('spark', 'window')),
        |m AS (
        |  SELECT a.doc_id, a.pos
        |  FROM tokp a JOIN tokp b
        |    ON a.doc_id = b.doc_id AND b.pos = a.pos + 1
        |  WHERE a.w = 'spark' AND b.w = 'window')
        |SELECT doc_id, COUNT(*) AS n_hits, MIN(pos) AS first_pos
        |FROM m GROUP BY doc_id""".stripMargin,
    // q152: the q128 float-cast centroid cosine per row, then the
    // coldest ceil(10%) of each cell by (4dp cos, vec_id)
    "q152_cell_outliers" ->
      s"""WITH $ivfKmeans,
         |cn AS (
         |  SELECT cluster,
         |    list_transform(c, v -> CAST(CAST(v AS REAL) AS DOUBLE)) AS cf,
         |    sqrt(list_sum(list_transform(c,
         |      v -> CAST(CAST(v AS REAL) AS DOUBLE)
         |        * CAST(CAST(v AS REAL) AS DOUBLE)))) AS cnrm
         |  FROM c2),
         |r AS (
         |  SELECT af.vec_id, CAST(af.cluster AS INT) AS cell,
         |    ROUND(${ivfDot("af.embedding", "cn.cf")}
         |      / (af.nrm * cn.cnrm), 4) AS cos_centroid
         |  FROM af JOIN cn ON af.cluster = cn.cluster),
         |rr AS (
         |  SELECT vec_id, cell, cos_centroid,
         |    CAST(row_number() OVER (PARTITION BY cell
         |      ORDER BY cos_centroid, vec_id) AS BIGINT) AS rk_cold,
         |    COUNT(*) OVER (PARTITION BY cell) AS n_cell
         |  FROM r)
         |SELECT vec_id, cell, cos_centroid, rk_cold, n_cell,
         |  (n_cell * 10 + 99) // 100 AS k_cut
         |FROM rr WHERE rk_cold <= (n_cell * 10 + 99) // 100""".stripMargin,
    "q124_bigram_pmi" ->
      """WITH t AS (SELECT string_split(text, ' ') AS t FROM documents),
        |uni AS (
        |  SELECT w, COUNT(*) AS cw
        |  FROM (SELECT unnest(t) AS w FROM t) GROUP BY 1),
        |tot AS (
        |  SELECT CAST(SUM(len(t)) AS BIGINT) AS n_tokens,
        |    CAST(SUM(GREATEST(len(t) - 1, 0)) AS BIGINT) AS n_bigrams
        |  FROM t),
        |pairs AS (
        |  SELECT unnest(t[1:len(t)-1]) AS w1, unnest(t[2:len(t)]) AS w2
        |  FROM t WHERE len(t) >= 2),
        |bi AS (
        |  SELECT w1, w2, COUNT(*) AS cab
        |  FROM pairs GROUP BY 1, 2 HAVING COUNT(*) >= 5)
        |SELECT w1 || ' ' || w2 AS bigram, cab, u1.cw AS ca, u2.cw AS cb,
        |  ROUND(ln((CAST(cab AS DOUBLE) / n_bigrams) /
        |    ((CAST(u1.cw AS DOUBLE) / n_tokens)
        |      * (CAST(u2.cw AS DOUBLE) / n_tokens))), 6) AS pmi
        |FROM bi JOIN uni u1 ON bi.w1 = u1.w JOIN uni u2 ON bi.w2 = u2.w
        |CROSS JOIN tot
        |ORDER BY pmi DESC, bigram
        |LIMIT 20""".stripMargin,
    "q125_benford_digits" ->
      """WITH d AS (
        |  SELECT CAST(substring(CAST(CAST(ROUND(o_totalprice * 100, 0)
        |    AS BIGINT) AS VARCHAR), 1, 1) AS INT) AS digit
        |  FROM orders),
        |g AS (SELECT digit, COUNT(*) AS n FROM d GROUP BY 1),
        |t AS (SELECT CAST(SUM(n) AS BIGINT) AS total FROM g)
        |SELECT digit, n,
        |  ROUND(CAST(n AS DOUBLE) / total, 6) AS obs_share,
        |  ROUND(ln(1.0 + 1.0 / digit) / ln(10.0), 6) AS benford_share,
        |  ROUND(ABS(ROUND(CAST(n AS DOUBLE) / total, 6)
        |    - ROUND(ln(1.0 + 1.0 / digit) / ln(10.0), 6)), 6) AS abs_dev
        |FROM g CROSS JOIN t""".stripMargin,
    "q123_snapshot_diff" ->
      s"""WITH ${cdcRanked(cdcKeyCount)},
        |base AS (
        |  SELECT l_orderkey AS order_id, l_linenumber AS line_no,
        |    l_partkey AS part_id, l_quantity AS quantity,
        |    l_extendedprice AS price
        |  FROM ranked WHERE r = 1),
        |curr AS (
        |  SELECT l_orderkey AS order_id, l_linenumber AS line_no,
        |    l_partkey AS part_id,
        |    l_quantity + CASE WHEN h >= 4 THEN 1 ELSE 0 END AS quantity,
        |    l_extendedprice AS price
        |  FROM ranked WHERE h < 8 AND r = cnt)
        |SELECT COALESCE(b.order_id, c.order_id) AS order_id,
        |  COALESCE(b.line_no, c.line_no) AS line_no,
        |  CASE WHEN c.order_id IS NULL THEN 'removed'
        |       WHEN b.order_id IS NULL THEN 'added'
        |       ELSE 'changed' END AS change,
        |  b.quantity AS base_quantity, c.quantity AS curr_quantity
        |FROM base b FULL OUTER JOIN curr c
        |  ON b.order_id = c.order_id AND b.line_no = c.line_no
        |WHERE c.order_id IS NULL OR b.order_id IS NULL
        |   OR b.part_id <> c.part_id OR b.quantity <> c.quantity
        |   OR b.price <> c.price""".stripMargin,
    "q121_bpe_pairs" ->
      """WITH w AS (
        |  SELECT word, COUNT(*) AS n
        |  FROM (SELECT unnest(string_split(text, ' ')) AS word FROM documents)
        |  WHERE length(word) >= 2
        |  GROUP BY 1),
        |p AS (
        |  SELECT unnest(list_transform(range(1, length(word)),
        |    i -> substring(word, i, 2))) AS pair, n
        |  FROM w)
        |SELECT pair, CAST(SUM(n) AS BIGINT) AS freq
        |FROM p GROUP BY 1
        |ORDER BY freq DESC, pair
        |LIMIT 20""".stripMargin,
    "q119_weighted_sample" ->
      """WITH u AS (
        |  SELECT doc_id, n_chars,
        |    (CAST(((((doc_id + 7919) % 1048576) + 1048576) % 1048576)
        |      * 2654435761 % 1048576 AS DOUBLE) + 0.5) / 1048576.0 AS u
        |  FROM documents)
        |SELECT doc_id, n_chars, ROUND(u, 6) AS u,
        |  ROUND(-ln(u) / CAST(GREATEST(n_chars, 1) AS DOUBLE), 9) AS key
        |FROM u
        |ORDER BY key, doc_id
        |LIMIT 50""".stripMargin,
    "q118_source_profile" ->
      """WITH src AS (
        |  SELECT source, COUNT(*) AS n_docs,
        |    COUNT(DISTINCT text) AS n_unique,
        |    ROUND(AVG(n_chars), 2) AS mean_chars
        |  FROM documents GROUP BY 1),
        |lg AS (
        |  SELECT source, lang, COUNT(*) AS n,
        |    CAST(COUNT(*) AS DOUBLE)
        |      / SUM(COUNT(*)) OVER (PARTITION BY source) AS p,
        |    ROW_NUMBER() OVER (PARTITION BY source
        |      ORDER BY COUNT(*) DESC, lang) AS lrank
        |  FROM documents GROUP BY source, lang),
        |mix AS (
        |  SELECT source,
        |    ROUND(CAST(SUM(CAST(ROUND(-p * ln(p), 9) AS DECIMAL(18,9)))
        |      AS DOUBLE), 6) AS lang_entropy,
        |    MAX(CASE WHEN lrank = 1 THEN lang END) AS top_lang
        |  FROM lg GROUP BY 1)
        |SELECT src.source, n_docs, n_docs - n_unique AS n_exact_dups,
        |  mean_chars, top_lang, lang_entropy
        |FROM src JOIN mix ON src.source = mix.source""".stripMargin,
    "q117_knn_classify" ->
      s"""WITH e AS (
        |  SELECT vec_id, embedding, label,
        |    $embNorm AS nrm
        |  FROM embeddings),
        |q AS (
        |  SELECT vec_id AS qid, embedding AS qemb, nrm AS qnrm,
        |    label AS true_label
        |  FROM e WHERE vec_id % 5 = 0),
        |scored AS (
        |  SELECT qid, true_label, e.vec_id, e.label,
        |    $cosSim
        |  FROM e JOIN q ON e.vec_id % 5 <> 0),
        |nbrs AS (
        |  SELECT qid, true_label, label, cos_sim FROM (
        |    SELECT qid, true_label, label, cos_sim,
        |      ROW_NUMBER() OVER (PARTITION BY qid
        |        ORDER BY cos_sim DESC, vec_id) AS rank
        |    FROM scored) WHERE rank <= 10),
        |${knnVotes("nbrs")}
        |SELECT qid AS vec_id, label AS predicted_label, votes, sim_sum,
        |  true_label, label = true_label AS correct
        |FROM (
        |  SELECT *, ROW_NUMBER() OVER (PARTITION BY qid
        |    ORDER BY votes DESC, label) AS vrank
        |  FROM votes)
        |WHERE vrank = 1""".stripMargin,
    "q115_embedding_drift" ->
      """WITH x AS (
        |  SELECT vec_id % 2 AS side,
        |    unnest(range(1, len(embedding) + 1)) AS pos,
        |    CAST(ROUND(CAST(unnest(embedding) AS DOUBLE), 7)
        |      AS DECIMAL(28,7)) AS v
        |  FROM embeddings),
        |d AS (
        |  SELECT pos,
        |    CAST(SUM(CASE WHEN side = 0 THEN v END) AS DOUBLE)
        |      / SUM(CASE WHEN side = 0 THEN 1 END) AS ma,
        |    CAST(SUM(CASE WHEN side = 1 THEN v END) AS DOUBLE)
        |      / SUM(CASE WHEN side = 1 THEN 1 END) AS mb
        |  FROM x GROUP BY pos),
        |s AS (
        |  SELECT COUNT(*) AS n_dims,
        |    CAST(SUM(CAST(ROUND(ma * mb, 9) AS DECIMAL(18,9))) AS DOUBLE) AS sab,
        |    CAST(SUM(CAST(ROUND(ma * ma, 9) AS DECIMAL(18,9))) AS DOUBLE) AS saa,
        |    CAST(SUM(CAST(ROUND(mb * mb, 9) AS DECIMAL(18,9))) AS DOUBLE) AS sbb
        |  FROM d)
        |SELECT n_dims,
        |  ROUND(sab / (sqrt(saa) * sqrt(sbb)), 6) AS cos_mean_shift,
        |  ROUND(sqrt(saa), 6) AS norm_mean_a,
        |  ROUND(sqrt(sbb), 6) AS norm_mean_b
        |FROM s""".stripMargin,
    // q114: generation envelope (q84/q100 pattern) — DuckDB replays the
    // event-side counts; the flag columns assert the splitmix-bound
    // draws' contract (uniqueness, format, domain, χ², price math) and
    // must all come back TRUE for the hash to match
    "q114_synthetic_orders" ->
      """SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
        |  CAST(COUNT(DISTINCT event_id) AS BIGINT) AS n_order_ids,
        |  CAST(8 AS BIGINT) AS n_suppliers,
        |  TRUE AS price_is_rounded_value, TRUE AS uuid_v4_format,
        |  TRUE AS supplier_in_domain, TRUE AS supplier_chi2_ok
        |FROM events""".stripMargin,
    "q113_value_drift" ->
      """WITH ev AS (
        |  SELECT event_type, value,
        |    CASE WHEN hour(ts) < 12 THEN 'a' ELSE 'b' END AS side
        |  FROM events),
        |rng AS (SELECT event_type, MIN(value) AS lo, MAX(value) AS hi
        |        FROM ev GROUP BY 1),
        |binned AS (
        |  SELECT ev.event_type, side,
        |    CAST(LEAST(floor((value - lo) * 10 / GREATEST(hi - lo, 1e-12)), 9)
        |      AS INT) AS bin,
        |    COUNT(*) AS n
        |  FROM ev JOIN rng ON ev.event_type = rng.event_type
        |  GROUP BY 1, 2, 3),
        |shares AS (
        |  SELECT event_type, bin,
        |    SUM(CASE WHEN side = 'a' THEN n ELSE 0 END) AS na,
        |    SUM(CASE WHEN side = 'b' THEN n ELSE 0 END) AS nb
        |  FROM binned GROUP BY 1, 2),
        |tots AS (
        |  SELECT event_type,
        |    SUM(CASE WHEN side = 'a' THEN n ELSE 0 END) AS ta,
        |    SUM(CASE WHEN side = 'b' THEN n ELSE 0 END) AS tb
        |  FROM binned GROUP BY 1),
        |terms AS (
        |  SELECT s.event_type,
        |    GREATEST(CAST(na AS DOUBLE) / ta, 1e-6) AS pa,
        |    GREATEST(CAST(nb AS DOUBLE) / tb, 1e-6) AS pb, ta, tb
        |  FROM shares s JOIN tots t ON s.event_type = t.event_type),
        |agg AS (
        |  SELECT event_type,
        |    ROUND(CAST(SUM(CAST(ROUND((pa - pb) * ln(pa / pb), 9)
        |      AS DECIMAL(18,9))) AS DOUBLE), 6) AS psi,
        |    CAST(MAX(ta) AS BIGINT) AS n_a, CAST(MAX(tb) AS BIGINT) AS n_b
        |  FROM terms GROUP BY 1)
        |SELECT event_type, psi, n_a, n_b, psi > 0.1 AS drifted FROM agg""".stripMargin,
    "q109_retention_triangle" ->
      """WITH o AS (
        |  SELECT DISTINCT o_custkey,
        |    year(o_orderdate) * 12 + (month(o_orderdate) - 1) AS mi
        |  FROM orders),
        |c AS (SELECT o_custkey, MIN(mi) AS cohort_mi FROM o GROUP BY 1)
        |SELECT CAST(cohort_mi // 12 AS BIGINT) AS cohort_year,
        |  CAST(cohort_mi % 12 + 1 AS BIGINT) AS cohort_month,
        |  CAST(mi - cohort_mi AS BIGINT) AS month_offset,
        |  COUNT(DISTINCT o.o_custkey) AS n_active
        |FROM o JOIN c ON o.o_custkey = c.o_custkey
        |GROUP BY cohort_mi, mi - cohort_mi""".stripMargin,
    "q110_event_trigrams" ->
      """WITH t AS (
        |  SELECT event_type AS t1,
        |    LEAD(event_type, 1) OVER w AS t2,
        |    LEAD(event_type, 2) OVER w AS t3
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts), event_id))
        |SELECT t1, t2, t3, COUNT(*) AS n
        |FROM t WHERE t3 IS NOT NULL
        |GROUP BY t1, t2, t3
        |ORDER BY n DESC, t1, t2, t3 LIMIT 20""".stripMargin,
    // q158: the q149 BM25 chain cut at 20 ⊕ the q24 brute chain for
    // qid 0 cut at 20, fused by 1/(60+rank) with absent sides at 0 —
    // Cormack 2009 verbatim on both engines
    "q158_hybrid_rrf" ->
      s"""WITH $bm25Probe,
        |agg AS (
        |  SELECT doc_id, ROUND(CAST(SUM(term_score) AS DOUBLE), 6) AS score
        |  FROM sc GROUP BY doc_id),
        |lex AS (
        |  SELECT doc_id,
        |    CAST(row_number() OVER (ORDER BY score DESC, doc_id) AS BIGINT)
        |      AS lex_rank
        |  FROM agg ORDER BY score DESC, doc_id LIMIT 20),
        |$normedE,
        |q AS (SELECT vec_id AS qid, embedding AS qemb, nrm AS qnrm FROM e
        |      WHERE vec_id < 1),
        |cosed AS (
        |  SELECT e.vec_id,
        |    $cosSim
        |  FROM e JOIN q ON e.vec_id <> qid),
        |sem AS (
        |  SELECT vec_id AS doc_id, sem_rank FROM (
        |    SELECT vec_id,
        |      CAST(ROW_NUMBER() OVER (ORDER BY cos_sim DESC, vec_id) AS BIGINT)
        |        AS sem_rank
        |    FROM cosed)
        |  WHERE sem_rank <= 20),
        |f AS (
        |  SELECT COALESCE(lex.doc_id, sem.doc_id) AS doc_id, lex_rank, sem_rank,
        |    ROUND(COALESCE(1.0 / (60 + lex_rank), 0.0) +
        |          COALESCE(1.0 / (60 + sem_rank), 0.0), 6) AS rrf_score
        |  FROM lex FULL OUTER JOIN sem ON lex.doc_id = sem.doc_id)
        |SELECT doc_id, lex_rank, sem_rank, rrf_score,
        |  CAST(row_number() OVER (ORDER BY rrf_score DESC, doc_id) AS BIGINT)
        |    AS rank
        |FROM f ORDER BY rrf_score DESC, doc_id LIMIT 10""".stripMargin,
    // q159: sign-pack each 64-dim vector into two little-endian 32-bit
    // half-words (bit set iff component > 0), Hamming = summed
    // popcounts of the XORs, top-20 candidates per query, then the
    // exact q24 cosine re-rank over candidates only
    "q159_hamming_topk" ->
      s"""WITH p AS (
        |  SELECT vec_id,
        |    CAST(list_sum(list_transform(range(1, 33),
        |      i -> CASE WHEN embedding[i] > 0 THEN (1::BIGINT << (i - 1))
        |                ELSE 0::BIGINT END)) AS BIGINT) AS b_lo,
        |    CAST(list_sum(list_transform(range(33, 65),
        |      i -> CASE WHEN embedding[i] > 0 THEN (1::BIGINT << (i - 33))
        |                ELSE 0::BIGINT END)) AS BIGINT) AS b_hi
        |  FROM embeddings),
        |qc AS (SELECT vec_id AS qid, b_lo AS q_lo, b_hi AS q_hi FROM p
        |       WHERE vec_id < 10),
        |h AS (
        |  SELECT qid, p.vec_id,
        |    CAST(bit_count(xor(p.b_lo, q_lo)) + bit_count(xor(p.b_hi, q_hi))
        |      AS BIGINT) AS hamming
        |  FROM p JOIN qc ON p.vec_id <> qid),
        |cand AS (
        |  SELECT qid, vec_id, hamming FROM (
        |    SELECT qid, vec_id, hamming,
        |      ROW_NUMBER() OVER (PARTITION BY qid ORDER BY hamming, vec_id) AS rk
        |    FROM h)
        |  WHERE rk <= 20),
        |$normedE,
        |q AS (SELECT vec_id AS qid, embedding AS qemb, nrm AS qnrm FROM e
        |      WHERE vec_id < 10),
        |r AS (
        |  SELECT cand.qid, cand.vec_id, cand.hamming,
        |    $cosSim
        |  FROM cand JOIN e ON cand.vec_id = e.vec_id JOIN q ON cand.qid = q.qid)
        |SELECT qid, vec_id AS nbr_id, rank, hamming, cos_sim FROM (
        |  SELECT qid, vec_id, hamming, cos_sim,
        |    CAST(ROW_NUMBER() OVER (PARTITION BY qid
        |      ORDER BY cos_sim DESC, vec_id) AS BIGINT) AS rank
        |  FROM r)
        |WHERE rank <= 5""".stripMargin,
    // q161: q34's TF-IDF chain picks the probe doc's top-3 terms
    // (6dp round, term tie-break), which join-filter the q149 BM25
    // core; the probe doc is excluded from the ranking only — corpus
    // statistics keep every document
    "q161_more_like_this" ->
      s"""WITH tokens AS (
        |  SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents),
        |tfq AS (SELECT doc_id, term, COUNT(*) AS tf FROM tokens GROUP BY 1, 2),
        |n AS (SELECT COUNT(*) AS n_docs FROM documents),
        |dfv AS (SELECT term, COUNT(DISTINCT doc_id) AS df FROM tokens GROUP BY 1),
        |tsc AS (
        |  SELECT doc_id, tfq.term,
        |    $tfidfTerm
        |  FROM tfq JOIN dfv USING (term) CROSS JOIN n),
        |qterms AS (SELECT term AS t FROM tsc WHERE doc_id = 0
        |           ORDER BY tfidf DESC, term LIMIT 3),
        |${bm25("FROM (SELECT doc_id, unnest(t) AS t FROM d) u\n  JOIN qterms USING (t)")},
        |$bm25Ranked
        |FROM agg WHERE doc_id <> 0
        |ORDER BY score DESC, doc_id LIMIT 10""".stripMargin,
    // q160: the q132 BPE-apply chain rolled up per language — integer
    // sums (exact under any partitioning), ratios rounded at the end
    "q160_token_fertility" ->
      (s"WITH $bpeChain,\n" +
        s"""wt AS (SELECT word, CAST(len(t) AS BIGINT) AS n_sub FROM w$bpeMergeCount),
           |d AS (SELECT doc_id, lang, n_chars,
           |        unnest(string_split(text, ' ')) AS word
           |      FROM documents),
           |j AS (
           |  SELECT doc_id, lang, n_chars,
           |    COALESCE(wt.n_sub, CASE WHEN len(d.word) > 0 THEN 1 ELSE 0 END) AS n_tok,
           |    CASE WHEN len(d.word) > 0 THEN 1 ELSE 0 END AS is_word
           |  FROM d LEFT JOIN wt ON d.word = wt.word),
           |doc AS (
           |  SELECT doc_id, lang, n_chars,
           |    SUM(is_word) AS n_words, SUM(n_tok) AS n_sub
           |  FROM j GROUP BY 1, 2, 3)
           |SELECT lang, COUNT(*) AS n_docs,
           |  CAST(SUM(n_words) AS BIGINT) AS n_words,
           |  CAST(SUM(n_sub) AS BIGINT) AS n_subwords,
           |  ROUND(CAST(SUM(n_sub) AS DOUBLE) / SUM(n_words), 4) AS fertility,
           |  ROUND(CAST(SUM(n_chars) AS DOUBLE) / SUM(n_sub), 4) AS chars_per_subword
           |FROM doc GROUP BY lang""".stripMargin),
    // q162: global token-desc rank, then the boustrophedon block walk —
    // floor-div/mod on the 0-based rank, odd blocks reversed
    "q162_token_shards" ->
      """WITH t AS (
        |  SELECT doc_id,
        |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
        |  FROM documents),
        |r AS (
        |  SELECT doc_id, n_tokens,
        |    CAST(row_number() OVER (ORDER BY n_tokens DESC, doc_id) AS BIGINT)
        |      AS rn
        |  FROM t)
        |SELECT doc_id, n_tokens, rn,
        |  CASE WHEN ((rn - 1) // 8) % 2 = 0 THEN (rn - 1) % 8
        |       ELSE 7 - (rn - 1) % 8 END AS shard
        |FROM r""".stripMargin,
    // q163: the q156 pair channels re-keyed by the q81 split hash —
    // LEAST/GREATEST normalize the unordered split pair, counts
    // coalesce to 0 across the channel outer-join
    "q163_split_leakage" ->
      s"""WITH RECURSIVE $dupClusters,
         |spl AS (
         |  SELECT doc_id,
         |    CASE WHEN u < 0.8 THEN 'train'
         |         WHEN u < 0.9 THEN 'val'
         |         ELSE 'test' END AS split
         |  FROM (
         |    SELECT doc_id,
         |      CAST(((((doc_id % 1048576) + 1048576) % 1048576) * 2654435761)
         |        % 1048576 AS DOUBLE) / 1048576.0 AS u
         |    FROM documents)),
         |nearm AS (
         |  SELECT LEAST(a.split, b.split) AS split_a,
         |         GREATEST(a.split, b.split) AS split_b,
         |         COUNT(*) AS n_near
         |  FROM pairs JOIN spl a ON pairs.doc_i = a.doc_id
         |             JOIN spl b ON pairs.doc_j = b.doc_id
         |  GROUP BY 1, 2),
         |exm AS (
         |  SELECT LEAST(a.split, b.split) AS split_a,
         |         GREATEST(a.split, b.split) AS split_b,
         |         COUNT(*) AS n_exact
         |  FROM xe JOIN spl a ON xe.doc_i = a.doc_id
         |          JOIN spl b ON xe.doc_j = b.doc_id
         |  GROUP BY 1, 2)
         |SELECT COALESCE(n.split_a, e.split_a) AS split_a,
         |  COALESCE(n.split_b, e.split_b) AS split_b,
         |  COALESCE(n.n_near, 0) AS n_near,
         |  COALESCE(e.n_exact, 0) AS n_exact,
         |  COALESCE(n.split_a, e.split_a) <> COALESCE(n.split_b, e.split_b)
         |    AS leaked
         |FROM nearm n FULL OUTER JOIN exm e
         |  ON n.split_a = e.split_a AND n.split_b = e.split_b""".stripMargin,
    // q164: the q130/q98/q94 chains joined per doc, per-signal
    // percentile = (rank()−1)/(n−1) — ties share — and the blend is
    // ONE integer-count ratio over 3(n−1); surprisal ranks descending
    // (lower = better)
    "q164_quality_ensemble" ->
      s"""WITH $lmScoreChain,
         |stok AS (
         |  SELECT doc_id, unnest(string_split(text, ' ')) AS t FROM documents),
         |stf AS (SELECT t, COUNT(*) AS ctf FROM stok GROUP BY t),
         |sn AS (SELECT CAST(SUM(ctf) AS BIGINT) AS n_corpus FROM stf),
         |sur AS (
         |  SELECT doc_id,
         |    ROUND(CAST(SUM(CAST(ROUND(-log2(CAST(ctf AS DOUBLE) / n_corpus), 9)
         |      AS DECIMAL(18,9))) AS DOUBLE) / COUNT(*), 4) AS mean_surprisal
         |  FROM stok JOIN stf USING (t), sn
         |  GROUP BY doc_id),
         |ec AS (
         |  SELECT doc_id, t, COUNT(*) AS cnt FROM stok GROUP BY doc_id, t),
         |ep AS (
         |  SELECT doc_id, cnt,
         |    CAST(cnt AS DOUBLE) / SUM(cnt) OVER (PARTITION BY doc_id) AS p
         |  FROM ec),
         |ent AS (
         |  SELECT doc_id,
         |    ROUND(CAST(SUM(CAST(ROUND(-p * log2(p), 9) AS DECIMAL(18,9)))
         |      AS DOUBLE), 6) AS entropy
         |  FROM ep GROUP BY doc_id),
         |base AS (
         |  SELECT lmdoc.doc_id, lm_score, mean_surprisal, entropy
         |  FROM lmdoc JOIN sur USING (doc_id) JOIN ent USING (doc_id)
         |  WHERE n_bigrams >= 1),
         |nn AS (SELECT GREATEST(COUNT(*) - 1, 1) AS nm1 FROM base),
         |r AS (
         |  SELECT doc_id, lm_score, mean_surprisal, entropy,
         |    rank() OVER (ORDER BY lm_score) - 1 AS r_lm,
         |    rank() OVER (ORDER BY mean_surprisal DESC) - 1 AS r_sur,
         |    rank() OVER (ORDER BY entropy) - 1 AS r_ent
         |  FROM base)
         |SELECT doc_id, lm_score, mean_surprisal, entropy,
         |  ROUND(CAST(r_lm AS DOUBLE) / nm1, 6) AS p_lm,
         |  ROUND(CAST(r_sur AS DOUBLE) / nm1, 6) AS p_surprisal,
         |  ROUND(CAST(r_ent AS DOUBLE) / nm1, 6) AS p_entropy,
         |  ROUND((r_lm + r_sur + r_ent) / (3.0 * nm1), 6) AS blend,
         |  ROUND((r_lm + r_sur + r_ent) / (3.0 * nm1), 6) >= 0.5 AS keep
         |FROM r CROSS JOIN nn""".stripMargin,
    // q165: the q24 brute chain with the wrong-label filter fused into
    // the pair condition
    "q165_hard_negatives" ->
      s"""WITH e AS (
        |  SELECT vec_id, label, embedding,
        |    $embNorm AS nrm
        |  FROM embeddings),
        |q AS (SELECT vec_id AS qid, label AS q_label, embedding AS qemb,
        |             nrm AS qnrm
        |      FROM e WHERE vec_id < 10),
        |scored AS (
        |  SELECT qid, q_label, e.vec_id, e.label,
        |    $cosSim
        |  FROM e JOIN q ON e.vec_id <> qid AND e.label <> q_label)
        |SELECT qid, q_label, vec_id AS neg_id, label AS neg_label, rank, cos_sim
        |FROM (
        |  SELECT qid, q_label, vec_id, label, cos_sim,
        |    CAST(ROW_NUMBER() OVER (PARTITION BY qid
        |      ORDER BY cos_sim DESC, vec_id) AS BIGINT) AS rank
        |  FROM scored)
        |WHERE rank <= 5""".stripMargin,
    // q166: the q20 verified-pair chain + the q21 md5-replayed MinHash
    // signatures; agreement counted per (doc, slot) equi-join
    "q166_minhash_estimate" ->
      s"""WITH $shingleTok,
         |$cappedCand,
         |$shingleVerify,
         |pairs AS (
         |  SELECT doc_i, doc_j,
         |    ROUND(CAST(c AS DOUBLE) / (ni + nj - c), 4) AS jaccard
         |  FROM v WHERE ROUND(CAST(c AS DOUBLE) / (ni + nj - c), 4) >= 0.5),
         |${minhashBase("pbase")},
         |$minhashSlots,
         |slotsig AS (
         |  SELECT doc_id, i, MIN((a * x + b) % 2147483647) AS minh
         |  FROM pbase CROSS JOIN slots GROUP BY doc_id, i),
         |ag AS (
         |  SELECT p.doc_i, p.doc_j, p.jaccard,
         |    CAST(SUM(CASE WHEN sa.minh = sb.minh THEN 1 ELSE 0 END) AS BIGINT)
         |      AS n_agree
         |  FROM pairs p JOIN slotsig sa ON p.doc_i = sa.doc_id
         |               JOIN slotsig sb ON p.doc_j = sb.doc_id AND sa.i = sb.i
         |  GROUP BY 1, 2, 3)
         |SELECT doc_i, doc_j, jaccard, n_agree,
         |  ROUND(CAST(n_agree AS DOUBLE) / 64, 4) AS est_jaccard,
         |  ROUND(ABS(ROUND(CAST(n_agree AS DOUBLE) / 64, 4) - jaccard), 4)
         |    AS abs_err
         |FROM ag""".stripMargin,
  )
}
