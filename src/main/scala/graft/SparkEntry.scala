package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.events.{ChangeEvents, ResumeTokens}
import graft.ops.{Analytics, Dedup, Maintenance, Multimodal, Similarity, TextAnalysis}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Every SQL-expressible operator from SURVEY.md §2 is registered in
  * `queries` with a DuckDB oracle in `oracleSql`. Column names and value
  * formatting are engine-portable by construction (decimal-exact money,
  * integer `div`, md5/sha256 content hashes, truncating ns→µs timestamp
  * conversion); see SURVEY.md §5.
  */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    Analytics.q5Join(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // A. reference-derived (change-event pipeline)
    "change_events_json"   -> ((s, d) => ChangeEvents.normalize(s, d)),
    "publish_payload"      -> ((s, d) => ChangeEvents.publishPayload(s, d)),
    "publish_dedup"        -> ((s, d) => ChangeEvents.publishDedup(s, d)),
    "pre_post_images"      -> ((s, d) => ChangeEvents.prePostImages(s, d)),
    "props_extract"        -> ((s, d) => ChangeEvents.propsExtract(s, d)),
    "cdc_apply"            -> ((s, d) => ChangeEvents.applyChanges(s, d)),
    "fanout_routing"       -> ((s, d) => ChangeEvents.fanoutRouting(s, d)),
    "resume_tokens_last"   -> ((s, d) => ResumeTokens.lastTokens(s, d)),
    "resume_tokens_upsert" -> ((s, d) => ResumeTokens.upsertTokens(s, d)),
    "resume_after"         -> ((s, d) => ResumeTokens.resumeAfter(s, d)),
    "resume_tokens_capped" -> ((s, d) => ResumeTokens.cappedTokens(s, d)),
    "resume_tokens_clean"  -> ((s, d) => ResumeTokens.cleanTokens(s, d)),
    // B. LLM-data-pipeline
    "dedup_exact"          -> ((s, d) => Dedup.exact(s, d)),
    "dedup_incremental"    -> ((s, d) => Dedup.incremental(s, d)),
    "dedup_exact_stats"    -> ((s, d) => Dedup.exactStats(s, d)),
    "dedup_normalized"     -> ((s, d) => Dedup.dedupNormalized(s, d)),
    "dedup_minhash"        -> ((s, d) => Dedup.minhashSignature(s, d)),
    "dedup_minhash_pairs"  -> ((s, d) =>
      Dedup.minhashPairs(Tables.documents(s, d)).orderBy("id_a", "id_b")),
    "dedup_minhash_keep"   -> ((s, d) => Dedup.minhashDedup(Tables.documents(s, d))
      .select("doc_id", "lang", "source", "n_chars").orderBy("doc_id")),
    "dedup_minhash_bbit"   -> ((s, d) => Dedup.minhashBbitPairs(s, d)),
    "dedup_simhash"        -> ((s, d) => Dedup.simhash(Tables.documents(s, d)).orderBy("doc_id")),
    "dedup_simhash_pairs"  -> ((s, d) =>
      Dedup.simhashPairs(Tables.documents(s, d)).orderBy("id_a", "id_b")),
    "ngram_jaccard"        -> ((s, d) => Dedup.ngramJaccard(s, d)),
    "ngram_jaccard_lsh"    -> ((s, d) =>
      Dedup.ngramJaccardLsh(Tables.documents(s, d)).orderBy("id_a", "id_b")),
    "dup_pair_spans"       -> ((s, d) => Dedup.dupPairSpans(s, d)),
    "jaccard_prefix_pairs" -> ((s, d) => Dedup.jaccardPrefixPairs(s, d)),
    "containment_pairs"    -> ((s, d) => Dedup.containmentPrefixPairs(s, d)),
    "lsh_precision"        -> ((s, d) => Dedup.lshPrecision(s, d)),
    "ann_brute_topk"       -> ((s, d) => Similarity.bruteTopK(s, d)),
    "ann_truncated_rerank" -> ((s, d) => Similarity.truncatedRerank(s, d)),
    "ann_lsh_topk"         -> ((s, d) => Similarity.lshTopK(s, d)),
    "ann_ivf_topk"         -> ((s, d) => Similarity.ivfTopK(s, d)),
    // Index lifecycle: build + persist the IVF index, then answer from the
    // persisted index — same result as the inline build, different
    // (production) cost shape. One private temp dir per DATA dir (two
    // datasets probed from the same JVM — parallel suites sharing the
    // session — can no longer interleave into each other's index; same-dir
    // build+probe invocations still run sequentially and the build
    // overwrites), deleted by shutdown hook so repeated bench/verify runs
    // don't accumulate orphaned index dumps in the system temp dir.
    "ann_ivf_persisted"    -> ((s, d) => {
      Similarity.buildIvfIndex(s, d, ivfIndexDir(d))
      Similarity.ivfProbePersisted(s, d, ivfIndexDir(d))
    }),
    // B5g (r18): IVF-PQ ADC probe — build the (vec_id, pq_code, cell)
    // index once, probe by asymmetric distance over the partition-pruned
    // cells, exact-rerank the ADC head. Rows-only by design (the ADC
    // candidate cut has no SQL oracle — the compression IS the
    // approximation); AnnSpec floors its recall at the IVF row's and
    // reconciles it against brute.
    "ann_pq_topk"          -> ((s, d) => {
      Similarity.buildIvfPqIndex(s, d, ivfIndexDir(d, "pq"))
      Similarity.ivfPqProbePersisted(s, d, ivfIndexDir(d, "pq"))
    }),
    // B5h (r18): the maintained-index lifecycle — build the IVF-PQ index
    // from the even-vec_id half (a deterministic "initial snapshot"),
    // APPEND the odd half against the frozen centroids+codebooks (the
    // production daily-batch shape: one projection + a cells-way exchange
    // over the batch, dynamic partition append), then report per-cell
    // occupancy + mean reconstruction fidelity — the drift signal that
    // schedules a rebuild. Rows-only by design (the m×iters k-means
    // replay has no tractable SQL oracle — the B18c argument); AnnSpec
    // replays the lifecycle and reconciles the census.
    "ann_index_status"     -> ((s, d) => {
      val idx = ivfIndexDir(d, "incr")
      val emb = graft.Tables.embeddings(s, d)
      Similarity.buildIvfPqIndexOf(
        emb.where(org.apache.spark.sql.functions.col("vec_id") % 2 === 0), idx)
      Similarity.ivfIndexAppend(
        emb.where(org.apache.spark.sql.functions.col("vec_id") % 2 =!= 0), idx)
      Similarity.ivfIndexStatus(s, idx)
    }),
    // B5f: rows-only by design — recall compares two engine-side
    // retrievals (the approximate arm having no SQL oracle is the point);
    // AnnRecallSpec pins per-method floors on the same statistic.
    "ann_recall_report"    -> ((s, d) => Similarity.annRecallReport(s, d)),
    "embedding_near_dup"   -> ((s, d) => Similarity.embeddingNearDup(s, d, minCos = 0.45)),
    "semantic_contamination" -> ((s, d) => Similarity.semanticContamination(s, d)),
    "semantic_dedup"       -> ((s, d) => Similarity.semanticDedup(s, d)),
    "multimodal_meta"      -> ((s, d) => Multimodal.mediaMeta(s, d)),
    // D19 interchange seams: eager format dump + schema'd read-back; the
    // oracle checks the content hashes against the ORIGINAL parquet, so a
    // lossy format hop cannot pass.
    "ingest_jsonl"         -> ((s, d) => graft.sources.TextSources.jsonlRoundtrip(s, d)),
    "ingest_csv"           -> ((s, d) => graft.sources.TextSources.csvRoundtrip(s, d)),
    "multimodal_decode"    -> ((s, d) => Multimodal.decodeFeatures(Multimodal.mediaTable(s, d)).orderBy("doc_id")),
    "train_split"          -> ((s, d) => graft.ops.Corpus.trainSplit(s, d)),
    "cluster_split"        -> ((s, d) => graft.ops.Corpus.clusterSplit(s, d)),
    "split_divergence"     -> ((s, d) => graft.ops.Corpus.splitDivergence(s, d)),
    "corpus_stats"         -> ((s, d) => graft.ops.Corpus.corpusStats(s, d)),
    "contamination"        -> ((s, d) => graft.ops.Corpus.contamination(s, d)),
    "contamination_spans"  -> ((s, d) => graft.ops.Corpus.contaminationSpans(s, d)),
    "decontaminated_spans" -> ((s, d) => graft.ops.Corpus.decontaminatedSpans(s, d)),
    "decontaminated"       -> ((s, d) => graft.ops.Corpus.decontaminated(s, d)),
    "source_overlap"       -> ((s, d) => graft.ops.Corpus.sourceOverlap(s, d)),
    "novelty_curve"        -> ((s, d) => graft.ops.Corpus.noveltyCurve(s, d)),
    "source_lang_drift"    -> ((s, d) => graft.ops.Corpus.sourceLangDrift(s, d)),
    "filter_funnel"        -> ((s, d) => graft.ops.Curation.filterFunnel(s, d)),
    "curation_lineage"     -> ((s, d) => graft.ops.Curation.curationLineage(s, d)),
    "gopher_rules"         -> ((s, d) => graft.ops.Curation.gopherRules(s, d)),
    "vocab_top"            -> ((s, d) => graft.ops.Corpus.vocabTop(s, d)),
    "heavy_hitters"        -> ((s, d) => graft.ops.Corpus.heavyHitters(s, d)),
    "count_min_freq"       -> ((s, d) => graft.ops.Corpus.countMinFreq(s, d)),
    "zipf_fit"             -> ((s, d) => graft.ops.Corpus.zipfFit(s, d)),
    "bm25_search"          -> ((s, d) => graft.ops.Relevance.bm25Search(s, d)),
    "hybrid_search"        -> ((s, d) => graft.ops.Relevance.hybridSearch(s, d)),
    // rows-only: the IVF pool's recall-vs-brute gap makes a brute oracle
    // wrong by design; the pool rides the oracled ann_ivf_topk machinery
    // and RelevanceSpec replays the fusion.
    "hybrid_search_ivf"    -> ((s, d) => graft.ops.Relevance.hybridSearchIvf(s, d)),
    "phrase_search"        -> ((s, d) => graft.ops.Relevance.phraseSearch(s, d)),
    "doc_top_terms"        -> ((s, d) => graft.ops.Corpus.topTerms(s, d)),
    "memorization_risk"    -> ((s, d) => graft.ops.Corpus.memorizationRisk(s, d)),
    "doc_chunks"           -> ((s, d) => graft.ops.Corpus.chunk(s, d)),
    "doc_packing"          -> ((s, d) => graft.ops.Corpus.docPacking(s, d)),
    "packing_efficiency"   -> ((s, d) => graft.ops.Corpus.packingEfficiency(s, d)),
    "harmonic_packing"     -> ((s, d) => graft.ops.Corpus.harmonicPacking(s, d)),
    "split_leakage"        -> ((s, d) => graft.ops.Corpus.splitLeakage(s, d)),
    "token_entropy"        -> ((s, d) => graft.ops.TextAnalysis.tokenEntropy(s, d)),
    "winnow_fingerprint"   -> ((s, d) => graft.ops.TextAnalysis.winnowFingerprint(s, d)),
    // rows-only: zlib output is JVM-deterministic, not a cross-engine
    // constant — OpsSpec replays the exact Deflater in-JVM.
    "compression_ratio"    -> ((s, d) => graft.ops.TextAnalysis.compressionRatio(s, d)),
    "ngram_diversity"      -> ((s, d) => graft.ops.Corpus.ngramDiversity(s, d)),
    "oov_rate"             -> ((s, d) => graft.ops.Corpus.oovRate(s, d)),
    "repetition_metrics"   -> ((s, d) => graft.ops.Curation.repetitionMetrics(s, d)),
    "corpus_pipeline"      -> ((s, d) => graft.ops.Curation.curatedCorpus(s, d)),
    "boilerplate_ngrams"   -> ((s, d) => graft.ops.Curation.boilerplateNgrams(s, d)),
    "boilerplate_frac"     -> ((s, d) => graft.ops.Curation.boilerplateFraction(s, d)),
    "stratified_sample"    -> ((s, d) => graft.ops.Curation.stratifiedSample(s, d)),
    "temperature_sample"   -> ((s, d) => graft.ops.Curation.temperatureSample(s, d)),
    "token_budget_mix"     -> ((s, d) => graft.ops.Curation.tokenBudgetMix(s, d)),
    "source_cap_sample"    -> ((s, d) => graft.ops.Curation.sourceCapSample(s, d)),
    "priority_sample"      -> ((s, d) => graft.ops.Curation.prioritySample(s, d)),
    "quality_ensemble"     -> ((s, d) => graft.ops.Curation.qualityEnsemble(s, d)),
    "signal_agreement"     -> ((s, d) => graft.ops.Curation.signalAgreement(s, d)),
    "training_order"       -> ((s, d) => graft.ops.Curation.trainingOrder(s, d)),
    "bigram_coverage"      -> ((s, d) => graft.ops.Relevance.bigramCoverage(s, d)),
    "lm_perplexity"        -> ((s, d) => graft.ops.Relevance.lmPerplexity(s, d)),
    "lm_trigram_ppl"       -> ((s, d) => graft.ops.Relevance.lmTrigramPerplexity(s, d)),
    "source_lm_divergence" -> ((s, d) => graft.ops.Relevance.sourceLmDivergence(s, d)),
    // rows-only: DataSketches HLL estimates are engine-specific bytes with
    // no DuckDB equivalent; AnalyticsSketchSpec bounds the merged estimate
    // against the exact weekly distinct and pins merge ≡ direct build.
    "sketch_dau_rollup"    -> ((s, d) => Analytics.sketchDauRollup(s, d)),
    "pseudonymize"         -> ((s, d) => graft.ops.Curation.pseudonymize(s, d)),
    "embedding_quantize"   -> ((s, d) => graft.ops.Embeddings.quantizeSummary(s, d)),
    "matryoshka_fidelity"  -> ((s, d) => graft.ops.Embeddings.matryoshkaFidelity(s, d)),
    "embedding_outliers"   -> ((s, d) => graft.ops.Embeddings.embeddingOutliers(s, d)),
    "length_histogram"     -> ((s, d) => graft.ops.Corpus.lengthHistogram(s, d)),
    "label_prototypes"     -> ((s, d) => graft.ops.Embeddings.labelPrototypes(s, d)),
    "prototype_assign"     -> ((s, d) => graft.ops.Embeddings.prototypeAssign(s, d)),
    "dup_clusters"         -> ((s, d) => Dedup.dupClusters(s, d)),
    "dup_cluster_sizes"    -> ((s, d) => Dedup.dupClusterSizes(s, d)),
    "cluster_keep_best"    -> ((s, d) => Dedup.clusterKeepBest(s, d)),
    "passage_dedup"        -> ((s, d) => Dedup.passageDedup(s, d)),
    "dup_span_trim"        -> ((s, d) => Dedup.dupSpanTrim(s, d)),
    "exact_substr_spans"   -> ((s, d) => Dedup.exactSubstrSpans(s, d)),
    "exact_substr_trim"    -> ((s, d) => Dedup.exactSubstrTrim(s, d)),
    "cdc_chunks"           -> ((s, d) => graft.ops.Corpus.cdcChunk(s, d)),
    "cdc_dedup"            -> ((s, d) => Dedup.cdcPassageDedup(s, d)),
    "sparse_sim_pairs"     -> ((s, d) => graft.ops.Relevance.sparseCosinePairs(s, d)),
    "collocations"         -> ((s, d) => graft.ops.Relevance.collocations(s, d)),
    "token_count"          -> ((s, d) => TextAnalysis.tokenCount(s, d)),
    "lang_id"              -> ((s, d) => TextAnalysis.langId(s, d)),
    "lang_confusion"       -> ((s, d) => TextAnalysis.langConfusion(s, d)),
    "code_switch"          -> ((s, d) => TextAnalysis.codeSwitch(s, d)),
    "source_concentration" -> ((s, d) => graft.ops.Corpus.sourceConcentration(s, d)),
    "text_quality"         -> ((s, d) => TextAnalysis.quality(s, d)),
    "doc_fingerprint"      -> ((s, d) => TextAnalysis.fingerprint(s, d)),
    // C. batch analytics core
    "q1_agg"               -> ((s, d) => Analytics.q1Agg(s, d)),
    "q3_join"              -> ((s, d) => Analytics.q3Join(s, d)),
    "q5_join"              -> ((s, d) => Analytics.q5Join(s, d)),
    "q7_volume"            -> ((s, d) => Analytics.q7Volume(s, d)),
    "q4_priority"          -> ((s, d) => Analytics.q4Priority(s, d)),
    "q8_share"             -> ((s, d) => Analytics.q8Share(s, d)),
    "q10_returns"          -> ((s, d) => Analytics.q10Returns(s, d)),
    "q13_orders_dist"      -> ((s, d) => Analytics.q13OrdersDist(s, d)),
    "q14_promo"            -> ((s, d) => Analytics.q14Promo(s, d)),
    "q18_big_orders"       -> ((s, d) => Analytics.q18BigOrders(s, d)),
    "q22_dormant"          -> ((s, d) => Analytics.q22Dormant(s, d)),
    "q12_latency"          -> ((s, d) => Analytics.q12Latency(s, d)),
    "q15_top_supplier"     -> ((s, d) => Analytics.q15TopSupplier(s, d)),
    "q19_disjunct"         -> ((s, d) => Analytics.q19Disjunct(s, d)),
    "q17_small_qty"        -> ((s, d) => Analytics.q17SmallQty(s, d)),
    "q9_margin"            -> ((s, d) => Analytics.q9Margin(s, d)),
    "q2_min_cost"          -> ((s, d) => Analytics.q2MinCost(s, d)),
    "q11_important"        -> ((s, d) => Analytics.q11Important(s, d)),
    "q16_variety"          -> ((s, d) => Analytics.q16Variety(s, d)),
    "q20_excess"           -> ((s, d) => Analytics.q20Excess(s, d)),
    "q21_waiting"          -> ((s, d) => Analytics.q21Waiting(s, d)),
    "events_window"        -> ((s, d) => Analytics.eventsWindow(s, d)),
    "events_sessionize"    -> ((s, d) => graft.streaming.Sessionize.sessions(s, d)),
    "session_conversion"   -> ((s, d) => graft.streaming.Sessionize.sessionConversion(s, d)),
    "asof_join"            -> ((s, d) => graft.ops.Joins.clickPurchaseAsof(s, d)),
    "range_join"           -> ((s, d) => graft.ops.Joins.prePurchaseViews(s, d)),
    "q6_agg"               -> ((s, d) => Analytics.q6Agg(s, d)),
    "topk_per_group"       -> ((s, d) => Analytics.topkPerGroup(s, d)),
    "corpus_rollup"        -> ((s, d) => Analytics.corpusRollup(s, d)),
    "events_cube"          -> ((s, d) => Analytics.eventsCube(s, d)),
    "daily_type_matrix"    -> ((s, d) => Analytics.dailyTypeMatrix(s, d)),
    "retention_cohorts"    -> ((s, d) => Analytics.retentionCohorts(s, d)),
    "ltv_cohorts"          -> ((s, d) => Analytics.ltvCohorts(s, d)),
    "funnel_counts"        -> ((s, d) => Analytics.funnelCounts(s, d)),
    "funnel_windowed"      -> ((s, d) => Analytics.funnelWindowed(s, d)),
    "source_dedup_rate"    -> ((s, d) => Dedup.sourceDedupRate(s, d)),
    "distinct_users"       -> ((s, d) => Analytics.distinctUsers(s, d)),
    "daily_trend"          -> ((s, d) => Analytics.dailyTrend(s, d)),
    "viewers_no_purchase"  -> ((s, d) => Analytics.viewersNoPurchase(s, d)),
    "rolling_active_users" -> ((s, d) => Analytics.rollingActiveUsers(s, d)),
    "token_percentiles"    -> ((s, d) => Analytics.tokenPercentiles(s, d)),
    // no oracleSql entries: sketches return engine-specific estimates
    // (rows-only driver check; error bounds pinned in OpsSpec/RelevanceSpec)
    "token_percentiles_approx" -> ((s, d) => Analytics.tokenPercentilesApprox(s, d)),
    "distinct_users_approx" -> ((s, d) => Analytics.distinctUsersApprox(s, d)),
    // no oracleSql: the BPE learn loop is an iterative argmax-and-rewrite,
    // outside SQL — BpeSpec replays an independent implementation instead
    "bpe_learn"            -> ((s, d) => graft.ops.Bpe.learn(s, d, merges = 16)),
    "bpe_encode"           -> ((s, d) => graft.ops.Bpe.encode(s, d, merges = 16)),
    "bpe_fertility"        -> ((s, d) => graft.ops.Bpe.fertility(s, d, merges = 16)),
    // round-11 additions
    "dsir_select"          -> ((s, d) => graft.ops.Corpus.dsirSelect(s, d)),
    "ppl_buckets"          -> ((s, d) => graft.ops.Relevance.pplBuckets(s, d)),
    "embedding_pca"        -> ((s, d) => graft.ops.Embeddings.embeddingPca(s, d)),
    "corpus_diff"          -> ((s, d) => Dedup.corpusDiff(s, d)),
    "snapshot_novelty"     -> ((s, d) => Dedup.bloomNovelty(s, d)),
    "event_transitions"    -> ((s, d) => Analytics.eventTransitions(s, d)),
    "rfm_segments"         -> ((s, d) => Analytics.rfmSegments(s, d)),
    "source_quality"       -> ((s, d) => TextAnalysis.sourceQuality(s, d)),
    "source_quantile_norm" -> ((s, d) => TextAnalysis.sourceQuantileNorm(s, d)),
    "attribution"          -> ((s, d) => Analytics.lastTouchAttribution(s, d)),
    "dq_checks"            -> ((s, d) => graft.ops.Contracts.dqChecks(s, d)),
    "event_anomalies"      -> ((s, d) => Analytics.eventAnomalies(s, d)),
    "scd2_history"         -> ((s, d) => ChangeEvents.scd2History(s, d)),
    "scd2_merge"           -> ((s, d) => ChangeEvents.scd2Merge(s, d)),
    "daily_fill"           -> ((s, d) => Analytics.dailyFill(s, d)),
    "event_paths"          -> ((s, d) => Analytics.eventPaths(s, d)),
    "new_vs_returning"     -> ((s, d) => Analytics.newVsReturning(s, d)),
    "purchase_intervals"   -> ((s, d) => Analytics.purchaseIntervals(s, d)),
    "basket_affinity"      -> ((s, d) => Analytics.basketAffinity(s, d)),
    "basket_affinity_top"  -> ((s, d) => Analytics.basketAffinityTop(s, d)),
    "content_novelty"      -> ((s, d) => graft.ops.Curation.contentNovelty(s, d)),
    "winsorized_stats"     -> ((s, d) => Analytics.winsorizedStats(s, d)),
    // round-12 additions — the sketch siblings of the percentile-family
    // analytics (VERDICT r11 #2): no oracleSql (engine-specific order
    // statistics, rows-only driver check; rank-error bounds pinned in
    // RelevanceSpec against the exact anchors)
    "purchase_intervals_approx" -> ((s, d) => Analytics.purchaseIntervalsApprox(s, d)),
    "rfm_segments_approx"  -> ((s, d) => Analytics.rfmSegmentsApprox(s, d)),
    // no oracleSql: the GD train loop is iterative driver logic outside
    // SQL and scoring runs exp — QualityModelSpec replays the whole
    // pipeline (features from raw text, GD, scores) sequentially instead
    "quality_classifier"   -> ((s, d) => graft.ops.QualityModel.qualityClassifier(s, d)),
    // no oracleSql: consumes the GD scores (same reason as
    // quality_classifier) — QualityModelSpec replays the sweep exactly
    // from the registered classifier output
    "quality_sweep"        -> ((s, d) => graft.ops.QualityModel.qualitySweep(s, d)),
    // no oracleSql: same rows-only family — QualityModelSpec replays the
    // reliability binning exactly from the registered classifier output
    "quality_calibration"  -> ((s, d) => graft.ops.QualityModel.qualityCalibration(s, d))
  )

  /** Bench-only timing entries — NOT oracle queries (Verify never runs
    * them; no `oracleSql` rows). The registered `ann_ivf_persisted` query
    * must time build+write+probe as one DataFrame for the oracle, which
    * made its bench seconds a lifecycle cost incomparable to the inline
    * `ann_ivf_topk` (VERDICT r6). These split the lifecycle: `ann_ivf_build`
    * is the k-means + partitioned index write alone (the returned centroid
    * frame is KBs — the timed cost is the eager build), `ann_ivf_probe`
    * answers from the already-written index. The probe entry relies on
    * per-pass name ordering in [[Bench]]: "ann_ivf_build" sorts before
    * "ann_ivf_probe", so every pass probes the index its own build wrote —
    * in a dir the extras OWN ("extras" tag), because "ann_ivf_persisted"
    * sorts between the two and rebuilds its own index mid-pass.
    */
  val benchExtras: Map[String, (SparkSession, String) => DataFrame] = Map(
    "ann_ivf_build" -> ((s, d) => {
      Similarity.buildIvfIndex(s, d, ivfIndexDir(d, "extras"))
      Similarity.centroidsDF(s, ivfIndexDir(d, "extras"))
    }),
    "ann_ivf_probe" -> ((s, d) =>
      Similarity.ivfProbePersisted(s, d, ivfIndexDir(d, "extras"))),
    // r18: the PQ lifecycle split, mirroring the IVF pair — the registered
    // ann_pq_topk times build+probe together; these put the one-off index
    // cost and the steady-state ADC probe cost on the board separately
    // (its own "pq_extras" dir for the same mid-sample-failure isolation
    // as the IVF extras).
    "ann_pq_build" -> ((s, d) => {
      Similarity.buildIvfPqIndex(s, d, ivfIndexDir(d, "pq_extras"))
      Similarity.centroidsDF(s, ivfIndexDir(d, "pq_extras"))
    }),
    "ann_pq_probe" -> ((s, d) =>
      Similarity.ivfPqProbePersisted(s, d, ivfIndexDir(d, "pq_extras"))),
    // Honest training cost: the weight memo means quality_* registered
    // queries time SCORING against the fitted model (a curation run trains
    // once — the memo's contract). This extra invalidates the memo first,
    // so the full featurize+GD cost stays a measured number on the board
    // instead of disappearing into the first warm-up sample.
    "quality_train" -> ((s, d) => {
      graft.ops.QualityModel.invalidateWeightCache()
      graft.ops.QualityModel.qualityClassifier(s, d)
    }),
    // Layout writers (D13/D20) as timed extras: spec-verified pruning is
    // only half the story — a future repartition/sort change that broke
    // file disjointness or ballooned the write cost would otherwise surface
    // functionally but never in a measured number (VERDICT r10 #6). Each
    // entry rewrites the sf events table into its layout (the eager write
    // IS the timed cost) and returns the file census so MaintenanceSpec can
    // assert the layout actually produced the requested file count.
    "layout_clustered" -> ((s, d) => {
      val out = ivfIndexDir(d, "layout_clustered")
      Maintenance.writeClustered(Tables.events(s, d), out, nFiles = 16, "user_id", "ts")
      layoutCensus(s, out)
    }),
    "layout_zorder" -> ((s, d) => {
      val out = ivfIndexDir(d, "layout_zorder")
      Maintenance.writeZOrdered(Tables.events(s, d), out, nFiles = 16, bits = 6,
        "user_id", "ts")
      layoutCensus(s, out)
    })
  )

  /** One row per data file of a just-written layout (name, bytes) — the
    * frame a layout benchExtra returns: tiny, and it lets the spec assert
    * the writer produced exactly the file count it was asked for.
    */
  private def layoutCensus(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val p = new org.apache.hadoop.fs.Path(dir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.listStatus(p).filter(_.getPath.getName.endsWith(".parquet"))
      .map(st => (st.getPath.getName, st.getLen)).toSeq
      .toDF("file", "bytes").orderBy("file")
  }

  /** Scratch dir for a persisted IVF index, one per (tag, data dir) —
    * keyed by data dir so concurrent users of two datasets in one JVM
    * can't cross-probe, and by tag so the benchExtras lifecycle split owns
    * an index SEPARATE from ann_ivf_persisted's (which sorts BETWEEN
    * ann_ivf_build and ann_ivf_probe in Bench's per-pass name order and
    * would otherwise rebuild the shared dir under the probe — a mid-sample
    * failure of ITS build would hand the probe a half-rewritten index).
    * Removed on exit.
    */
  private def ivfIndexDir(dataDir: String, tag: String = "persisted"): String =
    LocalFiles.scratchDir(s"ivf_${tag}_index", dataDir)

  /** Shared SQL fragment: events with ns→µs timestamp (matches Tables.events). */
  private val evCte =
    "ev AS (SELECT event_id, CAST(ts AS TIMESTAMP) AS ts, user_id, event_type, value, props FROM events)"

  /** Shared SQL fragments for the Gopher battery (B8f): the stats CTE pair
    * and the eight named rule predicates — ONE definition feeds the
    * `gopher_rules` oracle and `corpus_pipeline`'s gopher stage, mirroring
    * the Scala side's Curation.gopherStatCols/gopherRuleCols sharing.
    * Words are maximal non-whitespace runs (ADVICE r17 #1), matching the
    * GopherStats kernel's segmentation exactly.
    */
  private def gopherStatsCtes(t: String = "t_g", s: String = "s_g"): String =
    s"""$t AS (SELECT doc_id, text,
       |        list_filter(string_split_regex(text, '[ \\t\\n\\r]'), x -> x <> '') AS w,
       |        string_split(text, chr(10)) AS ln FROM documents),
       |$s AS (SELECT doc_id,
       |        CAST(len(w) AS BIGINT) AS n_words,
       |        round(CAST(list_sum(list_transform(w, x -> len(x))) AS DOUBLE) / len(w), 6) AS mean_word_len,
       |        round(CAST(len(text) - len(replace(text, '#', '')) AS DOUBLE) / len(w), 6) AS hash_ratio,
       |        round(CAST((len(text) - len(replace(text, '...', ''))) // 3
       |              + (len(text) - len(replace(text, '…', ''))) AS DOUBLE) / len(w), 6) AS ellipsis_ratio,
       |        round(CAST(len(list_filter(ln, x -> substr(x, 1, 1) IN ('-', '*', '•'))) AS DOUBLE)
       |              / len(ln), 6) AS bullet_frac,
       |        round(CAST(len(list_filter(ln, x -> right(x, 3) = '...' OR right(x, 1) = '…')) AS DOUBLE)
       |              / len(ln), 6) AS ellipsis_end_frac,
       |        round(CAST(len(list_filter(w, x -> regexp_matches(x, '[A-Za-z]'))) AS DOUBLE)
       |              / len(w), 6) AS alpha_frac,
       |        CAST(len(list_filter(['the', 'be', 'to', 'of', 'and', 'that', 'have', 'with'],
       |              sw -> list_contains(list_transform(w, x -> lower(x)), sw))) AS BIGINT) AS n_stopwords
       |      FROM $t)""".stripMargin

  /** The battery's rule predicates over [[gopherStatsCtes]]'s stat names —
    * same order and thresholds as Curation.gopherRuleCols.
    */
  private val gopherPredSql: Seq[(String, String)] = Seq(
    "word_count" -> "n_words BETWEEN 50 AND 100000",
    "mean_word_len" -> "mean_word_len BETWEEN 3.0 AND 10.0",
    "hash_ratio" -> "hash_ratio <= 0.1",
    "ellipsis_ratio" -> "ellipsis_ratio <= 0.1",
    "bullet_lines" -> "bullet_frac <= 0.9",
    "ellipsis_lines" -> "ellipsis_end_frac <= 0.3",
    "alpha_words" -> "alpha_frac >= 0.8",
    "stopwords" -> "n_stopwords >= 2")

  /** Shared SQL fragment: the per-language stopword hit counts — the `t`
    * (lowercased tokens) and `h` (`hits_<lang>` per language, n_tokens)
    * CTEs, the hit column list and their greatest — one definition feeds
    * the lang-ID chain below and code_switch.
    */
  private val langHitCtes: String = {
    val hitExprs = graft.ops.TextAnalysis.langStopwords.map { case (l, words) =>
      val arr = words.map(w => s"'$w'").mkString("[", ",", "]")
      s"CAST(len(list_filter(tok, x -> list_contains($arr, x))) AS BIGINT) AS hits_$l"
    }.mkString(",\n        ")
    s"""t AS (SELECT doc_id, lang, string_split(lower(text), ' ') AS tok FROM documents),
       |h AS (SELECT doc_id, lang,
       |        $hitExprs,
       |        CAST(len(tok) AS BIGINT) AS n_tokens
       |      FROM t)""".stripMargin
  }
  private val langHitNames: String =
    graft.ops.TextAnalysis.langStopwords.map { case (l, _) => s"hits_$l" }.mkString(", ")
  private val langBestHits: String = s"greatest($langHitNames)"

  /** Shared SQL fragment: the per-doc language-ID prediction CTE chain
    * (`pred` is the final per-doc frame) — one classifier definition feeds
    * both the lang_id oracle and the lang_confusion aggregate.
    */
  private val langIdCtes: String = {
    val predCases = graft.ops.TextAnalysis.langStopwords.map { case (l, _) =>
      s"WHEN hits_$l = best_hits AND stopword_ratio > 0.04 THEN '$l'"
    }.mkString("\n            ")
    s"""$langHitCtes,
       |b AS (SELECT *, $langBestHits AS best_hits,
       |        round(CAST($langBestHits AS DOUBLE) / CAST(n_tokens AS DOUBLE), 6) AS stopword_ratio
       |      FROM h),
       |pred AS (SELECT doc_id, lang AS lang_declared, $langHitNames, n_tokens, best_hits,
       |           stopword_ratio,
       |           CASE $predCases
       |                ELSE 'und' END AS lang_pred
       |         FROM b)""".stripMargin
  }

  /** Shared SQL fragment: the change-event full_document JSON. */
  // Each field coalesces to the literal 'null' — mirroring
  // ChangeEvents.fullDocumentJson's per-field JSON-null rendering. Plain ||
  // would null the WHOLE document when one field is null, silently
  // diverging from the Spark side the first time a nullable value/props
  // appears in the data.
  private val fullDoc =
    """'{"event_id":' || coalesce(CAST(event_id AS VARCHAR), 'null') ||
      | ',"user_id":' || coalesce(CAST(user_id AS VARCHAR), 'null') ||
      | ',"event_type":' || coalesce('"' || event_type || '"', 'null') ||
      | ',"value":' || coalesce(CAST(CAST(value AS DECIMAL(18,2)) AS VARCHAR), 'null') ||
      | ',"props":' || coalesce(props, 'null') || '}'"""
      .stripMargin.replaceAll("\\n\\s*", "")

  private val opType =
    "CASE WHEN event_type IN ('signup','purchase') THEN 'insert' " +
      "WHEN event_type IN ('click','view') THEN 'update' ELSE 'delete' END"

  private val discPrice =
    "CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))"

  /** DuckDB list literal of per-table sign-LSH keys for a double-list column
    * `v`: element t is t*2^k + Σ_j 2^j·[proj onto plane t*k+j > 0] — the
    * same encoding as joining on Spark's (tbl, tkey) pair, flattened so the
    * oracle can candidate-match with one list_intersect. The hyperplanes are
    * graft.ops.Similarity.lshPlanes literals (deterministic, identical
    * matrix on both engines).
    */
  private def lshKeysSql(tables: Int, k: Int, dim: Int): String = {
    val planes = graft.ops.Similarity.lshPlanes(tables, k, dim)
    (0 until tables).map { t =>
      val bits = (0 until k).map { j =>
        val row = planes(t * k + j).mkString("[", ", ", "]")
        s"(CASE WHEN list_sum(list_transform(list_zip(v, $row), p -> p[1] * p[2])) > 0 THEN ${1 << j} ELSE 0 END)"
      }.mkString(" + ")
      s"(${t * (1 << k)} + $bits)"
    }.mkString("[", ",\n        ", "]")
  }

  /** DuckDB CTEs t/h/f replaying the portable SimHash: 60-bit md5-prefix
    * token hashes, bit-vote fingerprint in `f(doc_id, simhash)`.
    */
  private lazy val simhashCtes: String = {
    val bitTerms = (0 until 60).map { b =>
      s"CASE WHEN list_sum([CASE WHEN (h >> $b) & 1 = 1 THEN 1 ELSE -1 END for h in hashed]) > 0 THEN (CAST(1 AS BIGINT) << $b) ELSE CAST(0 AS BIGINT) END"
    }.mkString(" +\n          ")
    s"""t AS (SELECT doc_id, string_split(text, ' ') AS tok FROM documents),
       |h AS (SELECT doc_id, [('0x' || substr(md5(x), 1, 15))::BIGINT for x in tok] AS hashed
       |      FROM t),
       |f AS (SELECT doc_id,
       |        ($bitTerms) AS simhash
       |      FROM h)""".stripMargin
  }

  /** DuckDB replay of the mini-IVF pipeline (Similarity.ivfTopK): seeds are
    * the `cells` lowest vec_ids; each unrolled Lloyd's iteration assigns
    * every vector to its max-cosine centroid (ties → higher cell, mirroring
    * Spark's greatest(struct(cos, idx))) and recomputes per-component means
    * rounded to 6 decimals (the rounding both engines share, see
    * ivfCentroids); empty cells keep their previous centroid. Final corpus
    * assignment + top-`nprobe` probed cells per query + exact re-rank.
    */
  private def cosOf(a: String, b: String) =
    s"list_sum(list_transform(list_zip($a, $b), p -> p[1] * p[2])) / " +
      s"(sqrt(list_sum(list_transform($a, x -> x * x))) * sqrt(list_sum(list_transform($b, x -> x * x))))"

  /** DuckDB CTE chain replaying the deterministic mini-k-means corpus
    * assignment (Similarity.ivfCentroids + nearestCell): seeds are the
    * `cells` lowest vec_ids; each unrolled Lloyd's iteration assigns every
    * vector to its max-cosine centroid (ties → higher cell, mirroring
    * Spark's ordering) and recomputes per-component means rounded to 6
    * decimals (the rounding both engines share); empty cells keep their
    * previous centroid. Produces CTEs e … corpus(vec_id, v, cell) plus the
    * final-centroid relation returned as `_2` — shared by the IVF oracle
    * and the semantic-dedup oracle, which prune/probe the SAME clustering.
    */
  private def ivfCorpusCtes(cells: Int, iters: Int, dim: Int): (String, String) = {
    val iterCtes = (0 until iters).map { i =>
      val prev = if (i == 0) "c0" else s"c${i}f"
      s"""s$i AS (SELECT e.vec_id, c.cell, ${cosOf("e.v", "c.ctr")} AS cs
         |        FROM e CROSS JOIN $prev c),
         |a$i AS (SELECT vec_id, cell FROM (
         |          SELECT vec_id, cell, row_number() OVER (PARTITION BY vec_id ORDER BY cs DESC, cell DESC) AS rn
         |          FROM s$i) WHERE rn = 1),
         |m${i + 1} AS (SELECT a$i.cell, i AS pos, round(avg(e.v[i]), 6) AS m
         |        FROM a$i JOIN e USING (vec_id), generate_series(1, $dim) gs(i)
         |        GROUP BY a$i.cell, i),
         |l${i + 1} AS (SELECT cell, list(m ORDER BY pos) AS ctr FROM m${i + 1} GROUP BY cell),
         |c${i + 1}f AS (SELECT p.cell, coalesce(l.ctr, p.ctr) AS ctr FROM $prev p LEFT JOIN l${i + 1} l USING (cell))"""
        .stripMargin
    }.mkString(",\n")
    val fc = s"c${iters}f"
    val ctes =
      s"""e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
         |           FROM embeddings),
         |c0 AS (SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cell, v AS ctr
         |       FROM (SELECT vec_id, v FROM e ORDER BY vec_id LIMIT $cells)),
         |$iterCtes,
         |sf AS (SELECT e.vec_id, c.cell, ${cosOf("e.v", "c.ctr")} AS cs
         |       FROM e CROSS JOIN $fc c),
         |af AS (SELECT vec_id, cell FROM (
         |         SELECT vec_id, cell, row_number() OVER (PARTITION BY vec_id ORDER BY cs DESC, cell DESC) AS rn
         |         FROM sf) WHERE rn = 1),
         |corpus AS (SELECT af.vec_id, e.v, af.cell FROM af JOIN e USING (vec_id))""".stripMargin
    (ctes, fc)
  }

  /** The semantic_dedup oracle at an explicit cluster count — the oracleSql
    * entry pins cells=16 (what the derived C floors to at the gate SFs);
    * `Profile time` calls this with the derivation's larger C so the
    * crossover's DuckDB pass replays the same configuration Spark ran.
    */
  private[graft] def semanticDedupSql(cells: Int): String = {
    val (corpusCtes, _) = ivfCorpusCtes(cells, iters = 2, dim = 64)
    s"""WITH $corpusCtes,
       |rm AS (SELECT DISTINCT b.vec_id
       |       FROM corpus a JOIN corpus b ON a.cell = b.cell AND a.vec_id < b.vec_id
       |       WHERE round(${cosOf("a.v", "b.v")}, 6) >= 0.45)
       |SELECT c.vec_id, CAST(c.cell AS INT) AS cell,
       |       CAST(CASE WHEN rm.vec_id IS NULL THEN 1 ELSE 0 END AS BIGINT) AS kept
       |FROM corpus c LEFT JOIN rm USING (vec_id) ORDER BY c.vec_id""".stripMargin
  }

  private def ivfOracleSql(nQueries: Int = 5, k: Int = 5, cells: Int = 16,
                           nprobe: Int = 4, iters: Int = 2, dim: Int = 64): String = {
    val (corpusCtes, fc) = ivfCorpusCtes(cells, iters, dim)
    s"""WITH $corpusCtes,
       |qp AS (SELECT q.query_id, q.qv, c.cell,
       |         row_number() OVER (PARTITION BY q.query_id
       |                            ORDER BY ${cosOf("q.qv", "c.ctr")} DESC, c.cell DESC) AS pr
       |       FROM (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < $nQueries) q
       |       CROSS JOIN $fc c),
       |probes AS (SELECT query_id, qv, cell FROM qp WHERE pr <= $nprobe),
       |sc AS (SELECT p.query_id, c.vec_id, round(${cosOf("c.v", "p.qv")}, 6) AS cos
       |       FROM corpus c JOIN probes p USING (cell)
       |       WHERE c.vec_id <> p.query_id),
       |d AS (SELECT DISTINCT query_id, vec_id, cos FROM sc)
       |SELECT query_id, rank, neighbor_id, cos FROM (
       |  SELECT query_id, vec_id AS neighbor_id, cos,
       |         CAST(row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, vec_id) AS BIGINT) AS rank
       |  FROM d) WHERE rank <= $k ORDER BY query_id, rank""".stripMargin
  }

  /** Shared DuckDB CTE prefix deriving the three ensemble signals
    * (quality_score / coverage / cross_entropy) joined per doc as `j` —
    * ONE definition consumed by both the `quality_ensemble` and
    * `signal_agreement` oracles, the same no-drift discipline the Scala
    * side gets from reusing the component ops.
    */
  private val ensembleSignalCtes: String =
    """WITH t AS (SELECT doc_id, string_split(text, ' ') AS tok FROM documents),
        |qs AS (SELECT doc_id,
        |         round(least(1.0, CAST(len(tok) AS DOUBLE) / 200.0) *
        |               (CAST(len(list_distinct(tok)) AS DOUBLE) / CAST(len(tok) AS DOUBLE)), 6)
        |           AS quality_score
        |       FROM t),
        |bg AS (SELECT doc_id, tok[i] || ' ' || tok[i + 1] AS bigram
        |       FROM t, unnest(generate_series(1, len(tok) - 1)) AS g(i)),
        |pdc AS (SELECT doc_id, bigram, count(*) AS cnt FROM bg GROUP BY doc_id, bigram),
        |cmn AS (SELECT bigram FROM pdc GROUP BY bigram HAVING sum(cnt) >= 5),
        |cov AS (SELECT t.doc_id,
        |          CASE WHEN a.n_bigrams IS NULL THEN NULL
        |               ELSE round(a.n_common / CAST(a.n_bigrams AS DOUBLE), 6) END AS coverage
        |        FROM t LEFT JOIN (
        |          SELECT pdc.doc_id, CAST(sum(pdc.cnt) AS BIGINT) AS n_bigrams,
        |            CAST(sum(CASE WHEN cmn.bigram IS NULL THEN 0 ELSE pdc.cnt END) AS BIGINT) AS n_common
        |          FROM pdc LEFT JOIN cmn USING (bigram) GROUP BY pdc.doc_id) a USING (doc_id)),
        |b2 AS (SELECT doc_id, tok[i] AS w1, tok[i + 1] AS w2
        |       FROM t, unnest(generate_series(1, len(tok) - 1)) AS g(i)),
        |pd2 AS (SELECT doc_id, w1, w2, count(*) AS cnt FROM b2 GROUP BY 1, 2, 3),
        |cb AS (SELECT w1, w2, sum(cnt) AS cbi FROM pd2 GROUP BY 1, 2),
        |cu AS (SELECT w1, sum(cbi) AS cw FROM cb GROUP BY 1),
        |v AS (SELECT count(DISTINCT w) AS vocab FROM (SELECT unnest(tok) AS w FROM t)),
        |lp AS (SELECT cb.w1, cb.w2, ln((cbi + 0.5) / (cw + 0.5 * vocab)) AS lp
        |       FROM cb JOIN cu USING (w1) CROSS JOIN v),
        |ced AS (SELECT pd2.doc_id, sum(pd2.cnt) AS nb, sum(pd2.cnt * lp.lp) AS s
        |        FROM pd2 JOIN lp USING (w1, w2) GROUP BY 1),
        |ce AS (SELECT t.doc_id, round(-ced.s / ced.nb, 6) AS cross_entropy
        |       FROM t LEFT JOIN ced USING (doc_id)),
        |j AS (SELECT qs.doc_id, qs.quality_score, cov.coverage, ce.cross_entropy
        |      FROM qs JOIN cov USING (doc_id) JOIN ce USING (doc_id)),""".stripMargin

  private val cosSql =
    "round(list_sum(list_transform(list_zip(v, qv), p -> p[1] * p[2])) / " +
      "(sqrt(list_sum(list_transform(v, x -> x * x))) * " +
      "sqrt(list_sum(list_transform(qv, x -> x * x)))), 6)"

  /** CTEs replaying Dedup.guardedPairs over a `kb(id, band, bkey)` bucket
    * relation: all pairs within buckets of width ≤ cap, a star around the
    * min-id representative for wider buckets, UNION-deduped — so the oracle
    * models the bucket-width guard exactly, including on degenerate data.
    * Produces CTEs wide/smallkb/cand0; `cand0` has (id_a, id_b).
    */
  private def guardedCand0Ctes(cap: Int): String =
    s"""wide AS (SELECT band, bkey, min(id) AS rep FROM kb
       |         GROUP BY band, bkey HAVING count(*) > $cap),
       |smallkb AS (SELECT kb.id, kb.band, kb.bkey FROM kb LEFT JOIN wide USING (band, bkey)
       |            WHERE wide.rep IS NULL),
       |cand0 AS (
       |  SELECT DISTINCT a.id AS id_a, b.id AS id_b
       |  FROM smallkb a JOIN smallkb b USING (band, bkey) WHERE a.id < b.id
       |  UNION
       |  SELECT DISTINCT w.rep AS id_a, kb.id AS id_b
       |  FROM kb JOIN wide w USING (band, bkey) WHERE kb.id <> w.rep)""".stripMargin

  /** Shared DuckDB CTE chain replaying the oracle-portable MinHash banding
    * (graft.ops.Dedup: md5-prefix base hash → universal-hash signature →
    * md5 band keys → guarded banded candidate pairs). Produces CTEs
    * t/s/hb/g/bd/kb/wide/smallkb/cand0/cand; `cand` has
    * (id_a, id_b, sig_a, sig_b). The (band, bkey) bucket join is exactly
    * Spark's (band, band_key) equi-join, guard included.
    */
  private def minhashBandedCtes(numHashes: Int, bands: Int, cap: Int = 256): String = {
    val r = numHashes / bands
    val sigExprs = graft.ops.Dedup.minhashCoefs(numHashes).map { case (a, b) =>
      s"list_min([($a * h + $b) % ${graft.ops.Dedup.MinhashP} for h in hashed])"
    }.mkString(",\n        ")
    val bandExprs = (0 until bands).map { b =>
      s"md5(array_to_string(sig[${b * r + 1}:${b * r + r}], '|'))"
    }.mkString(",\n        ")
    s"""t AS (SELECT doc_id, string_split(text, ' ') AS tok FROM documents),
       |s AS (SELECT doc_id,
       |        list_distinct([array_to_string(tok[i:i+2], ' ')
       |                       for i in generate_series(1, greatest(len(tok)-2, 1))]) AS sh
       |      FROM t),
       |hb AS (SELECT doc_id, sh, [('0x' || substr(md5(x), 1, 6))::BIGINT for x in sh] AS hashed
       |       FROM s),
       |g AS (SELECT doc_id, sh,
       |        [$sigExprs] AS sig
       |      FROM hb),
       |bd AS (SELECT doc_id, sig,
       |        [$bandExprs] AS bands
       |      FROM g),
       |kb AS (SELECT doc_id AS id, i AS band, bd.bands[i] AS bkey
       |       FROM bd, generate_series(1, $bands) AS s2(i)),
       |${guardedCand0Ctes(cap)},
       |cand AS (SELECT c.id_a, c.id_b, ga.sig AS sig_a, gb.sig AS sig_b
       |         FROM cand0 c JOIN g ga ON c.id_a = ga.doc_id
       |                      JOIN g gb ON c.id_b = gb.doc_id)""".stripMargin
  }

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omitted for ops with no SQL replay (the
    * mapPartitions decode stub, the JVM-zlib compression score, approximate
    * sketches, driver-iterative builders) → driver records a weaker
    * rows-only check; those are covered by ScalaTest specs instead.
    */
  def oracleSql: Map[String, String] = Map(
    "change_events_json" ->
      s"""WITH $evCte
         |SELECT printf('%016x', event_id) AS resume_token,
         |       $opType AS operation_type,
         |       'test' AS ns_db, 'testcoll' AS ns_coll,
         |       user_id AS document_key,
         |       $fullDoc AS full_document,
         |       ts AS cluster_time, event_id
         |FROM ev ORDER BY event_id""".stripMargin,

    "publish_payload" ->
      s"""WITH $evCte
         |SELECT event_id, 'stream_' || event_type AS queue,
         |       CAST(row_number() OVER (PARTITION BY event_type ORDER BY event_id) AS BIGINT) AS delivery_tag,
         |       '{"operationType":"' || $opType || '","documentKey":' || coalesce(CAST(user_id AS VARCHAR), 'null') ||
         |       ',"fullDocument":' || $fullDoc || '}' AS payload
         |FROM ev ORDER BY event_id""".stripMargin,

    "publish_dedup" ->
      """WITH d AS (
        |  SELECT event_id, event_type, 1 AS attempt FROM events
        |  UNION ALL
        |  SELECT event_id, event_type, 2 AS attempt FROM events WHERE event_id % 10 = 0)
        |SELECT event_id, min(event_type) AS event_type, count(*) AS deliveries,
        |       min(attempt) AS first_attempt
        |FROM d GROUP BY event_id ORDER BY event_id""".stripMargin,

    "pre_post_images" ->
      s"""WITH $evCte,
         |docs AS (SELECT event_id, user_id, $fullDoc AS full_document FROM ev)
         |SELECT event_id, user_id, full_document,
         |       lag(full_document, 1) OVER (PARTITION BY user_id ORDER BY event_id)
         |         AS full_document_before_change
         |FROM docs ORDER BY event_id""".stripMargin,

    "props_extract" ->
      s"""WITH $evCte,
         |docs AS (SELECT event_id, props, $fullDoc AS doc FROM ev)
         |SELECT event_id,
         |       CAST(json_extract(props, '$$.k') AS BIGINT) AS props_k,
         |       json_extract_string(doc, '$$.event_type') AS doc_event_type,
         |       json_extract_string(doc, '$$.value') AS doc_value_str
         |FROM docs ORDER BY event_id""".stripMargin,

    "cdc_apply" ->
      s"""WITH $evCte,
         |changes AS (SELECT user_id AS document_key, event_id,
         |              $opType AS operation_type,
         |              $fullDoc AS full_document
         |            FROM ev),
         |ranked AS (SELECT *, row_number() OVER (PARTITION BY document_key ORDER BY event_id DESC) AS rn
         |           FROM changes)
         |SELECT document_key, event_id AS last_event_id, full_document
         |FROM ranked WHERE rn = 1 AND operation_type <> 'delete'
         |ORDER BY document_key""".stripMargin,

    "fanout_routing" ->
      """SELECT 'stream_' || event_type AS queue, count(*) AS published,
        |       min(event_id) AS first_event, max(event_id) AS last_event,
        |       CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
        |FROM events GROUP BY event_type ORDER BY queue""".stripMargin,

    "resume_tokens_last" ->
      """SELECT event_type AS stream_name, max(event_id) AS last_offset,
        |       printf('%016x', max(event_id)) AS resume_token
        |FROM events GROUP BY event_type ORDER BY stream_name""".stripMargin,

    "resume_tokens_upsert" ->
      """WITH m AS (SELECT max(event_id) // 2 AS mid FROM events),
        |old AS (SELECT event_type AS stream_name, max(event_id) AS offset
        |        FROM events, m WHERE event_id <= mid GROUP BY event_type),
        |new AS (SELECT event_type AS stream_name, max(event_id) AS offset
        |        FROM events, m WHERE event_id > mid GROUP BY event_type)
        |SELECT coalesce(old.stream_name, new.stream_name) AS stream_name,
        |       coalesce(new.offset, old.offset) AS offset,
        |       printf('%016x', coalesce(new.offset, old.offset)) AS resume_token,
        |       new.offset IS NOT NULL AS updated
        |FROM old FULL OUTER JOIN new ON old.stream_name = new.stream_name
        |ORDER BY stream_name""".stripMargin,

    // LEFT join + null pass-through: a stream with no persisted token
    // replays from the beginning (the connector's full-replay fallback)
    "resume_after" ->
      """WITH m AS (SELECT max(event_id) // 2 AS mid FROM events),
        |cp AS (SELECT event_type AS stream_name, max(event_id) AS checkpoint_offset
        |       FROM events, m WHERE event_id <= mid GROUP BY event_type)
        |SELECT e.event_id, coalesce(cp.stream_name, e.event_type) AS stream_name,
        |       cp.checkpoint_offset, e.user_id, e.value
        |FROM events e LEFT JOIN cp ON e.event_type = cp.stream_name
        |WHERE cp.checkpoint_offset IS NULL OR e.event_id > cp.checkpoint_offset
        |ORDER BY e.event_id""".stripMargin,

    "resume_tokens_clean" ->
      """SELECT event_type AS stream_name, max(event_id) AS last_offset,
        |       printf('%016x', max(event_id)) AS resume_token
        |FROM events WHERE event_type <> 'error'
        |GROUP BY event_type ORDER BY stream_name""".stripMargin,

    "resume_tokens_capped" ->
      """SELECT stream_name, "offset", printf('%016x', "offset") AS resume_token, rank_desc
        |FROM (SELECT event_type AS stream_name, event_id AS "offset",
        |             CAST(row_number() OVER (PARTITION BY event_type ORDER BY event_id DESC) AS BIGINT) AS rank_desc
        |      FROM events)
        |WHERE rank_desc <= 100 ORDER BY stream_name, "offset"""".stripMargin,

    "dedup_exact" ->
      """SELECT doc_id, lang, source, n_chars, text_hash
        |FROM (SELECT doc_id, lang, source, n_chars, md5(text) AS text_hash,
        |             row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rn
        |      FROM documents)
        |WHERE rn = 1 ORDER BY doc_id""".stripMargin,

    "dedup_incremental" ->
      """WITH m AS (SELECT max(doc_id) // 2 AS mid FROM documents),
        |hist AS (SELECT DISTINCT md5(text) AS text_hash FROM documents, m WHERE doc_id <= mid),
        |inc AS (SELECT doc_id, lang, source, n_chars, md5(text) AS text_hash,
        |               row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rn
        |        FROM documents, m WHERE doc_id > mid)
        |SELECT doc_id, lang, source, n_chars, text_hash
        |FROM inc WHERE rn = 1
        |  AND NOT EXISTS (SELECT 1 FROM hist WHERE hist.text_hash = inc.text_hash)
        |ORDER BY doc_id""".stripMargin,

    "dedup_exact_stats" ->
      """SELECT md5(text) AS text_hash, min(doc_id) AS keep_id, count(*) AS n_copies,
        |       CAST(sum(n_chars) AS BIGINT) AS total_chars
        |FROM documents GROUP BY md5(text) ORDER BY keep_id""".stripMargin,

    "dedup_minhash" -> {
      val sigExprs = graft.ops.Dedup.minhashCoefs(16).map { case (a, b) =>
        s"list_min([($a * h + $b) % ${graft.ops.Dedup.MinhashP} for h in hashed])"
      }.mkString(",\n        ")
      s"""WITH t AS (SELECT doc_id, string_split(text, ' ') AS tok FROM documents),
         |s AS (SELECT doc_id,
         |        list_distinct([array_to_string(tok[i:i+2], ' ')
         |                       for i in generate_series(1, greatest(len(tok)-2, 1))]) AS sh
         |      FROM t),
         |hb AS (SELECT doc_id, CAST(len(sh) AS BIGINT) AS n_shingles,
         |        [('0x' || substr(md5(x), 1, 6))::BIGINT for x in sh] AS hashed
         |      FROM s),
         |g AS (SELECT doc_id, n_shingles,
         |        [$sigExprs] AS sig
         |      FROM hb)
         |SELECT doc_id, n_shingles,
         |       md5(array_to_string(sig[1:4],  '|')) AS band_0,
         |       md5(array_to_string(sig[5:8],  '|')) AS band_1,
         |       md5(array_to_string(sig[9:12], '|')) AS band_2,
         |       md5(array_to_string(sig[13:16],'|')) AS band_3
         |FROM g ORDER BY doc_id""".stripMargin
    },

    "dedup_minhash_pairs" ->
      s"""WITH ${minhashBandedCtes(numHashes = 32, bands = 16)}
         |SELECT id_a, id_b, est_jaccard
         |FROM (SELECT id_a, id_b,
         |        CAST(list_sum([CASE WHEN sig_a[i] = sig_b[i] THEN 1 ELSE 0 END
         |                       for i in generate_series(1, 32)]) AS DOUBLE) / 32.0 AS est_jaccard
         |      FROM cand)
         |WHERE est_jaccard >= 0.5 ORDER BY id_a, id_b""".stripMargin,

    // b-bit minhash: same banded candidates; the oracle estimates from the
    // UNPACKED signatures' low 2 bits (semantic form) — parity proves the
    // Spark side's packed-long XOR/popcount path is lossless.
    "dedup_minhash_bbit" ->
      s"""WITH ${minhashBandedCtes(numHashes = 32, bands = 16)}
         |SELECT id_a, id_b, est_j_bbit
         |FROM (SELECT id_a, id_b,
         |        round(greatest(
         |          (CAST(list_sum([CASE WHEN (sig_a[i] & 3) = (sig_b[i] & 3) THEN 1 ELSE 0 END
         |                          for i in generate_series(1, 32)]) AS DOUBLE) / 32.0
         |           - 0.25) / 0.75, 0.0), 6) AS est_j_bbit
         |      FROM cand)
         |WHERE est_j_bbit >= 0.5 ORDER BY id_a, id_b""".stripMargin,

    // Same banded candidates + exact verify as ngram_jaccard_lsh, without
    // the threshold filter, collapsed to the one-row precision report.
    "lsh_precision" ->
      s"""WITH ${minhashBandedCtes(numHashes = 32, bands = 16)},
         |v AS (SELECT doc_id, [('0x' || substr(md5(x), 1, 15))::BIGINT for x in sh] AS shh
         |      FROM hb),
         |p AS (SELECT c.id_a, c.id_b,
         |        CAST(len(list_intersect(va.shh, vb.shh)) AS DOUBLE) AS inter,
         |        CAST(len(va.shh) AS DOUBLE) + CAST(len(vb.shh) AS DOUBLE) AS szsum
         |      FROM cand c JOIN v va ON c.id_a = va.doc_id JOIN v vb ON c.id_b = vb.doc_id),
         |j AS (SELECT round(inter / (szsum - inter), 6) AS jaccard FROM p)
         |SELECT count(*) AS candidates,
         |       CAST(count(*) FILTER (WHERE jaccard >= 0.5) AS BIGINT) AS accepted,
         |       round(CAST(count(*) FILTER (WHERE jaccard >= 0.5) AS DOUBLE) / count(*), 6)
         |         AS lsh_precision
         |FROM j""".stripMargin,

    // the doc-vs-doc span report over the SAME banded pairs: matched
    // k-gram islands in id_a's coordinates, gap > k breaks (B13c's rule).
    // Every k-derived constant interpolates from Dedup.DefaultShingleK —
    // the operator's own default — so op and oracle cannot desync.
    "dup_pair_spans" -> {
      val k = graft.ops.Dedup.DefaultShingleK
      s"""WITH ${minhashBandedCtes(numHashes = 32, bands = 16)},
         |v AS (SELECT doc_id, [('0x' || substr(md5(x), 1, 15))::BIGINT for x in sh] AS shh
         |      FROM hb),
         |p AS (SELECT c.id_a, c.id_b,
         |        CAST(len(list_intersect(va.shh, vb.shh)) AS DOUBLE) AS inter,
         |        CAST(len(va.shh) AS DOUBLE) + CAST(len(vb.shh) AS DOUBLE) AS szsum
         |      FROM cand c JOIN v va ON c.id_a = va.doc_id JOIN v vb ON c.id_b = vb.doc_id),
         |pairs AS (SELECT id_a, id_b, round(inter / (szsum - inter), 6) AS jaccard
         |          FROM p WHERE round(inter / (szsum - inter), 6) >= 0.5),
         |stp AS (SELECT doc_id, i AS pos,
         |          ('0x' || substr(md5(array_to_string(tok[i:i+${k - 1}], ' ')), 1, 15))::BIGINT AS h
         |        FROM t, unnest(generate_series(1, greatest(len(tok) - ${k - 1}, 1))) AS g(i)
         |        WHERE len(tok) >= $k),
         |bset AS (SELECT DISTINCT doc_id AS id_b, h FROM stp),
         |m AS (SELECT pr.id_a, pr.id_b, pr.jaccard, st.pos
         |      FROM pairs pr JOIN stp st ON st.doc_id = pr.id_a
         |                    JOIN bset b ON b.id_b = pr.id_b AND b.h = st.h),
         |fl AS (SELECT id_a, id_b, jaccard, pos,
         |         CASE WHEN pos - lag(pos) OVER (PARTITION BY id_a, id_b ORDER BY pos) > $k
         |              THEN 1 ELSE 0 END AS brk FROM m),
         |gr AS (SELECT id_a, id_b, jaccard, pos,
         |         sum(brk) OVER (PARTITION BY id_a, id_b ORDER BY pos) AS grp FROM fl)
         |SELECT id_a, id_b, jaccard,
         |       CAST(min(pos) AS BIGINT) AS span_start,
         |       CAST(max(pos) + ${k - 1} AS BIGINT) AS span_end,
         |       CAST(max(pos) + ${k - 1} - min(pos) + 1 AS BIGINT) AS span_len,
         |       count(*) AS n_grams
         |FROM gr GROUP BY id_a, id_b, jaccard, grp
         |ORDER BY id_a, id_b, span_start""".stripMargin
    },

    "ngram_jaccard_lsh" ->
      s"""WITH ${minhashBandedCtes(numHashes = 32, bands = 16)},
         |v AS (SELECT doc_id, [('0x' || substr(md5(x), 1, 15))::BIGINT for x in sh] AS shh
         |      FROM hb),
         |p AS (SELECT c.id_a, c.id_b,
         |        CAST(len(list_intersect(va.shh, vb.shh)) AS DOUBLE) AS inter,
         |        CAST(len(va.shh) AS DOUBLE) + CAST(len(vb.shh) AS DOUBLE) AS szsum
         |      FROM cand c JOIN v va ON c.id_a = va.doc_id JOIN v vb ON c.id_b = vb.doc_id)
         |SELECT id_a, id_b, round(inter / (szsum - inter), 6) AS jaccard
         |FROM p WHERE round(inter / (szsum - inter), 6) >= 0.5
         |ORDER BY id_a, id_b""".stripMargin,

    "dedup_simhash" ->
      s"""WITH $simhashCtes
         |SELECT doc_id, simhash,
         |       simhash & 32767 AS chunk0,
         |       (simhash >> 15) & 32767 AS chunk1,
         |       (simhash >> 30) & 32767 AS chunk2,
         |       (simhash >> 45) & 32767 AS chunk3
         |FROM f ORDER BY doc_id""".stripMargin,

    "dedup_simhash_pairs" ->
      s"""WITH $simhashCtes,
         |c AS (SELECT doc_id, simhash,
         |        [simhash & 32767, (simhash >> 15) & 32767,
         |         (simhash >> 30) & 32767, (simhash >> 45) & 32767] AS chunks
         |      FROM f),
         |kb AS (SELECT doc_id AS id, i AS band, c.chunks[i] AS bkey
         |       FROM c, generate_series(1, 4) AS s2(i)),
         |${guardedCand0Ctes(cap = 256)}
         |SELECT p.id_a, p.id_b,
         |       CAST(bit_count(xor(a.simhash, b.simhash)) AS BIGINT) AS hamming
         |FROM cand0 p JOIN c a ON p.id_a = a.doc_id JOIN c b ON p.id_b = b.doc_id
         |WHERE bit_count(xor(a.simhash, b.simhash)) <= 8
         |ORDER BY id_a, id_b""".stripMargin,

    "dedup_minhash_keep" ->
      s"""WITH ${minhashBandedCtes(numHashes = 32, bands = 16)},
         |est AS (SELECT id_a, id_b,
         |          CAST(list_sum([CASE WHEN sig_a[i] = sig_b[i] THEN 1 ELSE 0 END
         |                         for i in generate_series(1, 32)]) AS DOUBLE) / 32.0 AS est_jaccard
         |        FROM cand)
         |SELECT doc_id, lang, source, n_chars FROM documents
         |WHERE doc_id NOT IN (SELECT id_b FROM est WHERE est_jaccard >= 0.5)
         |ORDER BY doc_id""".stripMargin,

    "multimodal_decode" ->
      """WITH m AS (SELECT doc_id,
        |             (['image','audio','video'])[CAST(doc_id % 3 + 1 AS INT)] AS kind,
        |             CAST(octet_length(CAST(text AS BLOB)) AS INT) AS n_bytes,
        |             [unicode(c) for c in string_split(text, '')] AS cps
        |           FROM documents)
        |SELECT doc_id, kind, n_bytes,
        |       CAST(16 + cps[1] % 64 AS INT) AS width,
        |       CAST(16 + n_bytes % 64 AS INT) AS height,
        |       CAST(list_sum(cps) AS DOUBLE) / len(cps) AS mean_luma
        |FROM m ORDER BY doc_id""".stripMargin,

    "ngram_jaccard" ->
      s"""WITH t AS (SELECT doc_id, source, n_chars // 100 AS len_bucket,
         |             string_split(text, ' ') AS tok FROM documents),
         |s AS (SELECT doc_id, source, len_bucket,
         |        [('0x' || substr(md5(x), 1, 15))::BIGINT for x in
         |         list_distinct([array_to_string(tok[i:i+2], ' ')
         |                        for i in generate_series(1, greatest(len(tok)-2, 1))])] AS sh
         |      FROM t),
         |kb AS (SELECT doc_id AS id, source AS band, len_bucket AS bkey FROM s),
         |${guardedCand0Ctes(cap = 256)},
         |p AS (SELECT c.id_a, c.id_b,
         |        CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) AS inter,
         |        CAST(len(a.sh) AS DOUBLE) + CAST(len(b.sh) AS DOUBLE) AS szsum
         |      FROM cand0 c JOIN s a ON c.id_a = a.doc_id JOIN s b ON c.id_b = b.doc_id)
         |SELECT id_a, id_b, round(inter / (szsum - inter), 6) AS jaccard
         |FROM p WHERE round(inter / (szsum - inter), 6) >= 0.05
         |ORDER BY id_a, id_b""".stripMargin,

    // Exact prefix-filtered similarity join: the oracle is SEMANTIC (every
    // pair sharing >= 1 shingle, exact-verified) — the Spark side's prefix
    // filter must lose no qualifying pair, which is exactly what hash
    // parity against this construction-free spec proves.
    "jaccard_prefix_pairs" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS tok FROM documents),
        |s AS (SELECT doc_id,
        |        [('0x' || substr(md5(x), 1, 15))::BIGINT for x in
        |         list_distinct([array_to_string(tok[i:i+4], ' ')
        |                        for i in generate_series(1, greatest(len(tok)-4, 1))])] AS sh
        |      FROM t),
        |e AS (SELECT doc_id, unnest(sh) AS h FROM s),
        |cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
        |         FROM e a JOIN e b ON a.h = b.h AND a.doc_id < b.doc_id),
        |p AS (SELECT c.id_a, c.id_b,
        |        CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) AS inter,
        |        CAST(len(a.sh) AS DOUBLE) + CAST(len(b.sh) AS DOUBLE) AS szsum
        |      FROM cand c JOIN s a ON c.id_a = a.doc_id JOIN s b ON c.id_b = b.doc_id)
        |SELECT id_a, id_b, round(inter / (szsum - inter), 6) AS jaccard
        |FROM p WHERE round(inter / (szsum - inter), 6) >= 0.5
        |ORDER BY id_a, id_b""".stripMargin,

    // Asymmetric containment: same semantic-oracle discipline as
    // jaccard_prefix_pairs — share-a-shingle candidates, exact verify.
    "containment_pairs" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS tok FROM documents),
        |s AS (SELECT doc_id,
        |        [('0x' || substr(md5(x), 1, 15))::BIGINT for x in
        |         list_distinct([array_to_string(tok[i:i+4], ' ')
        |                        for i in generate_series(1, greatest(len(tok)-4, 1))])] AS sh
        |      FROM t),
        |e AS (SELECT doc_id, unnest(sh) AS h FROM s),
        |cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
        |         FROM e a JOIN e b ON a.h = b.h AND a.doc_id <> b.doc_id),
        |p AS (SELECT c.id_a, c.id_b,
        |        round(CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) /
        |              CAST(len(a.sh) AS DOUBLE), 6) AS containment
        |      FROM cand c JOIN s a ON c.id_a = a.doc_id JOIN s b ON c.id_b = b.doc_id)
        |SELECT id_a, id_b, containment FROM p
        |WHERE containment >= 0.9 ORDER BY id_a, id_b""".stripMargin,

    "ann_brute_topk" ->
      """WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        |           FROM embeddings),
        |q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < 5),
        |s AS (SELECT query_id, vec_id,
        |        round(
        |          list_sum(list_transform(list_zip(v, qv), p -> p[1] * p[2])) /
        |          (sqrt(list_sum(list_transform(v, x -> x * x))) *
        |           sqrt(list_sum(list_transform(qv, x -> x * x)))), 6) AS cos
        |      FROM e, q WHERE vec_id <> query_id)
        |SELECT query_id, rank, neighbor_id, cos
        |FROM (SELECT query_id, vec_id AS neighbor_id, cos,
        |             CAST(row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, vec_id) AS BIGINT) AS rank
        |      FROM s)
        |WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin,

    // the coarse pass scores 16-dim prefixes, the exact pass re-ranks the
    // bounded top-50 pool — both stages deterministic (ties by vec_id),
    // replayed verbatim
    "ann_truncated_rerank" ->
      """WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        |           FROM embeddings),
        |q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < 5),
        |s AS (SELECT query_id, vec_id, v, qv,
        |        round(
        |          list_sum(list_transform(list_zip(v[1:16], qv[1:16]), p -> p[1] * p[2])) /
        |          (sqrt(list_sum(list_transform(v[1:16], x -> x * x))) *
        |           sqrt(list_sum(list_transform(qv[1:16], x -> x * x)))), 6) AS cos_head
        |      FROM e, q WHERE vec_id <> query_id),
        |pool AS (SELECT query_id, vec_id, v, qv FROM
        |         (SELECT *, row_number() OVER (PARTITION BY query_id
        |                                       ORDER BY cos_head DESC, vec_id) AS crank
        |          FROM s) WHERE crank <= 50),
        |r AS (SELECT query_id, vec_id,
        |        round(
        |          list_sum(list_transform(list_zip(v, qv), p -> p[1] * p[2])) /
        |          (sqrt(list_sum(list_transform(v, x -> x * x))) *
        |           sqrt(list_sum(list_transform(qv, x -> x * x)))), 6) AS cos
        |      FROM pool)
        |SELECT query_id, rank, neighbor_id, cos
        |FROM (SELECT query_id, vec_id AS neighbor_id, cos,
        |             CAST(row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, vec_id) AS BIGINT) AS rank
        |      FROM r)
        |WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin,

    "matryoshka_fidelity" ->
      """WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        |           FROM embeddings),
        |d AS (SELECT unnest([8, 16, 32]) AS td),
        |f AS (SELECT CAST(td AS BIGINT) AS trunc_dim,
        |        round(sqrt(list_sum(list_transform(v[1:td], x -> x * x))) /
        |              sqrt(list_sum(list_transform(v, x -> x * x))), 6) AS fid
        |      FROM e, d)
        |SELECT trunc_dim, CAST(count(*) AS BIGINT) AS n_vecs,
        |       round(CAST(sum(CAST(fid AS DECIMAL(18,6))) AS DOUBLE) / count(*), 6) AS mean_fidelity,
        |       min(fid) AS min_fidelity
        |FROM f GROUP BY trunc_dim ORDER BY trunc_dim""".stripMargin,

    "source_quantile_norm" ->
      """WITH t AS (SELECT doc_id, source, string_split(text, ' ') AS tok FROM documents),
        |m AS (SELECT doc_id, source,
        |        round(least(1.0, CAST(len(tok) AS DOUBLE) / 200.0) *
        |              (CAST(len(list_distinct(tok)) AS DOUBLE) / CAST(len(tok) AS DOUBLE)), 6)
        |          AS quality_score
        |      FROM t)
        |SELECT doc_id, source, quality_score,
        |       round(percent_rank() OVER (PARTITION BY source ORDER BY quality_score), 6)
        |         AS q_in_source
        |FROM m ORDER BY doc_id""".stripMargin,

    "memorization_risk" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS tok FROM documents),
        |g AS (SELECT doc_id,
        |        [('0x' || substr(md5(x), 1, 15))::BIGINT for x in
        |         list_distinct([array_to_string(tok[i:i+7], ' ')
        |                        for i in generate_series(1, greatest(len(tok)-7, 1))])] AS hv
        |      FROM t),
        |ex AS (SELECT doc_id, unnest(hv) AS h FROM g),
        |df AS (SELECT h, count(*) AS df FROM ex GROUP BY h),
        |r AS (SELECT ex.doc_id, CAST(count(*) AS BIGINT) AS n_grams,
        |             CAST(count(*) FILTER (WHERE df <= 2) AS BIGINT) AS n_rare
        |      FROM ex JOIN df USING (h) GROUP BY ex.doc_id)
        |SELECT doc_id, n_grams, n_rare,
        |       round(CAST(n_rare AS DOUBLE) / CAST(n_grams AS DOUBLE), 6) AS risk
        |FROM r ORDER BY doc_id""".stripMargin,

    "ann_ivf_topk" -> ivfOracleSql(),

    // The persisted-index probe answers bit-identically to the inline IVF
    // build (the index IS the deterministic build, written down), so the
    // oracle is the same replayed pipeline.
    "ann_ivf_persisted" -> ivfOracleSql(),

    "ann_lsh_topk" ->
      s"""WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
         |           FROM embeddings),
         |ks AS (SELECT vec_id, v,
         |        ${lshKeysSql(tables = 24, k = 4, dim = 64)} AS jk
         |      FROM e),
         |q AS (SELECT vec_id AS query_id, v AS qv, jk AS qjk FROM ks WHERE vec_id < 5),
         |cand AS (SELECT q.query_id, c.vec_id, c.v, q.qv
         |         FROM ks c, q
         |         WHERE c.vec_id <> q.query_id AND len(list_intersect(c.jk, q.qjk)) > 0),
         |s AS (SELECT query_id, vec_id, $cosSql AS cos FROM cand)
         |SELECT query_id, rank, neighbor_id, cos
         |FROM (SELECT query_id, vec_id AS neighbor_id, cos,
         |             CAST(row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, vec_id) AS BIGINT) AS rank
         |      FROM s)
         |WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin,

    "embedding_near_dup" -> {
      val (k, tables) = graft.ops.Similarity.nearDupParams(0.45)
      // jk elements already encode table*2^k + key, so `band` is constant
      // and the bucket identity lives in bkey — identical to Spark's
      // (tbl, tkey) join, guard included.
      s"""WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
         |           FROM embeddings),
         |ks AS (SELECT vec_id, v,
         |        ${lshKeysSql(tables, k, dim = 64)} AS jk
         |      FROM e),
         |kb AS (SELECT vec_id AS id, 0 AS band, ks.jk[i] AS bkey
         |       FROM ks, generate_series(1, $tables) AS s2(i)),
         |${guardedCand0Ctes(cap = 256)},
         |cand AS (SELECT p.id_a, p.id_b, a.v AS v, b.v AS qv
         |         FROM cand0 p JOIN ks a ON p.id_a = a.vec_id
         |                      JOIN ks b ON p.id_b = b.vec_id)
         |SELECT id_a, id_b, cos
         |FROM (SELECT id_a, id_b, $cosSql AS cos FROM cand)
         |WHERE cos >= 0.45 ORDER BY id_a, id_b""".stripMargin
    },

    // embedding_near_dup's oracle with the cross-set filter + orientation
    // on the verified pairs — eval stand-in is vec_id % 50, as in B13
    "semantic_contamination" -> {
      val (k, tables) = graft.ops.Similarity.nearDupParams(0.45)
      s"""WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
         |           FROM embeddings),
         |ks AS (SELECT vec_id, v,
         |        ${lshKeysSql(tables, k, dim = 64)} AS jk
         |      FROM e),
         |kb AS (SELECT vec_id AS id, 0 AS band, ks.jk[i] AS bkey
         |       FROM ks, generate_series(1, $tables) AS s2(i)),
         |${guardedCand0Ctes(cap = 256)},
         |cand AS (SELECT p.id_a, p.id_b, a.v AS v, b.v AS qv
         |         FROM cand0 p JOIN ks a ON p.id_a = a.vec_id
         |                      JOIN ks b ON p.id_b = b.vec_id),
         |pairs AS (SELECT id_a, id_b, cos
         |          FROM (SELECT id_a, id_b, $cosSql AS cos FROM cand)
         |          WHERE cos >= 0.45)
         |SELECT CASE WHEN id_a % 50 = 0 THEN id_a ELSE id_b END AS eval_id,
         |       CASE WHEN id_a % 50 = 0 THEN id_b ELSE id_a END AS corpus_id,
         |       cos
         |FROM pairs WHERE (id_a % 50 = 0) <> (id_b % 50 = 0)
         |ORDER BY eval_id, corpus_id""".stripMargin
    },

    // SemDeDup prune over the replayed k-means assignment: same corpus
    // CTEs as the IVF oracles (prune and index share one clustering).
    // cells=16 here is what the registered query's corpus-derived C
    // (Similarity.semanticCells: max(16, n/1000)) floors to at every gate
    // SF (500 vecs at sf0.01, 2k at sf0.1) — the same number by
    // construction, asserted by AnnSpec's derived≡explicit pin. At
    // crossover scale the derivation grows C and `Profile time` emits a
    // matching-C oracle override, so both engines always run the same C.
    "semantic_dedup" -> semanticDedupSql(cells = 16),

    // Interchange fidelity: the Spark side hashes the text AFTER the
    // JSONL/CSV round trip; the oracle hashes the parquet original — a
    // match proves the format hop lossless.
    "ingest_jsonl" ->
      """SELECT doc_id, md5(text) AS text_hash, lang, source, n_chars
        |FROM documents ORDER BY doc_id""".stripMargin,
    "ingest_csv" ->
      """SELECT doc_id, md5(text) AS text_hash, lang, source, n_chars
        |FROM documents ORDER BY doc_id""".stripMargin,

    "multimodal_meta" ->
      """SELECT doc_id,
        |       (['image','audio','video'])[CAST(doc_id % 3 + 1 AS INT)] AS kind,
        |       CAST(octet_length(CAST(text AS BLOB)) AS BIGINT) AS n_bytes,
        |       sha256(text) AS content_sha256,
        |       CAST(16 + ascii(substr(text, 1, 1)) % 64 AS BIGINT) AS stub_width,
        |       CAST(16 + octet_length(CAST(text AS BLOB)) % 64 AS BIGINT) AS stub_height
        |FROM documents ORDER BY doc_id""".stripMargin,

    "doc_packing" ->
      """WITH d AS (SELECT doc_id,
        |             ('0x' || substr(md5('pack:' || CAST(doc_id AS VARCHAR)), 1, 6))::BIGINT % 8 AS shard,
        |             CAST(len(string_split(text, ' ')) AS BIGINT) AS ntok
        |           FROM documents),
        |o AS (SELECT doc_id, shard, ntok,
        |             sum(ntok) OVER (PARTITION BY shard ORDER BY doc_id
        |                             ROWS UNBOUNDED PRECEDING) - ntok AS start_off
        |      FROM d)
        |SELECT doc_id, shard, ntok, CAST(start_off AS BIGINT) AS start_off,
        |       CAST(start_off // 2048 AS BIGINT) AS pack_id,
        |       CAST(start_off % 2048 AS BIGINT) AS pack_off
        |FROM o ORDER BY doc_id""".stripMargin,

    // B30b: per-shard packing report over the identical doc_packing CTE;
    // n_packs = ceil(total/budget) (contiguous layout), fill and crossing
    // fractions are integer-ratio rounded divides (engine-exact).
    "packing_efficiency" ->
      """WITH d AS (SELECT doc_id,
        |             ('0x' || substr(md5('pack:' || CAST(doc_id AS VARCHAR)), 1, 6))::BIGINT % 8 AS shard,
        |             CAST(len(string_split(text, ' ')) AS BIGINT) AS ntok
        |           FROM documents),
        |o AS (SELECT doc_id, shard, ntok,
        |             sum(ntok) OVER (PARTITION BY shard ORDER BY doc_id
        |                             ROWS UNBOUNDED PRECEDING) - ntok AS start_off
        |      FROM d),
        |p AS (SELECT shard, ntok, start_off % 2048 AS pack_off FROM o),
        |s AS (SELECT shard, count(*) AS n_docs, sum(ntok) AS total_tokens,
        |             sum(CASE WHEN pack_off + ntok > 2048 THEN 1 ELSE 0 END) AS crossing_docs
        |      FROM p GROUP BY shard)
        |SELECT shard, CAST(n_docs AS BIGINT) AS n_docs,
        |       CAST(total_tokens AS BIGINT) AS total_tokens,
        |       CAST((total_tokens + 2047) // 2048 AS BIGINT) AS n_packs,
        |       round(CAST(total_tokens AS DOUBLE) / (((total_tokens + 2047) // 2048) * 2048), 6) AS fill_ratio,
        |       CAST(crossing_docs AS BIGINT) AS crossing_docs,
        |       round(CAST(crossing_docs AS DOUBLE) / n_docs, 6) AS crossing_frac
        |FROM s ORDER BY shard""".stripMargin,

    // B30c: harmonic no-split packing — pieces (budget 64), class m =
    // 64 div size, m consecutive pieces per pack; all integer math.
    "harmonic_packing" ->
      """WITH d AS (SELECT doc_id,
        |             ('0x' || substr(md5('hpack:' || CAST(doc_id AS VARCHAR)), 1, 6))::BIGINT % 8 AS shard,
        |             CAST(len(string_split(text, ' ')) AS BIGINT) AS dtok
        |           FROM documents),
        |pc AS (SELECT doc_id, shard, dtok,
        |         unnest(generate_series(0, CAST(dtok // 64 + CASE WHEN dtok % 64 > 0 THEN 1 ELSE 0 END - 1 AS BIGINT))) AS piece
        |       FROM d),
        |p AS (SELECT doc_id, shard, piece,
        |        CASE WHEN piece < dtok // 64 THEN 64 ELSE dtok % 64 END AS ntok
        |      FROM pc),
        |c AS (SELECT doc_id, shard, piece, ntok, 64 // ntok AS class_m,
        |        row_number() OVER (PARTITION BY shard, 64 // ntok
        |                           ORDER BY doc_id, piece) AS rn
        |      FROM p),
        |a AS (SELECT doc_id, shard, piece, ntok, class_m, rn,
        |        (rn - 1) // class_m AS pack_seq FROM c),
        |o AS (SELECT doc_id, shard, piece, ntok, class_m, pack_seq,
        |        sum(ntok) OVER (PARTITION BY shard, class_m, pack_seq
        |                        ORDER BY doc_id, piece
        |                        ROWS UNBOUNDED PRECEDING) - ntok AS pack_off
        |      FROM a)
        |SELECT doc_id, CAST(piece AS BIGINT) AS piece, shard,
        |       CAST(ntok AS BIGINT) AS ntok, CAST(class_m AS BIGINT) AS class_m,
        |       CAST(pack_seq AS BIGINT) AS pack_seq, CAST(pack_off AS BIGINT) AS pack_off
        |FROM o ORDER BY doc_id, piece""".stripMargin,

    // B10b: winnowing fingerprints — rightmost-min-per-w-window over
    // positional 5-gram hashes via the sortable (hash, 999999-pos) key;
    // full windows only, docs with >= k+w-1 tokens.
    "winnow_fingerprint" ->
      """WITH arr AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
        |st AS (SELECT doc_id, i AS pos,
        |         printf('%015x', ('0x' || substr(md5(array_to_string(t[i:i+4], ' ')), 1, 15))::BIGINT)
        |           || printf('%06d', 999999 - i) AS key
        |       FROM arr, unnest(generate_series(1, greatest(len(t) - 4, 1))) AS g(i)
        |       WHERE len(t) >= 8),
        |w AS (SELECT doc_id, pos,
        |        min(key) OVER (PARTITION BY doc_id ORDER BY pos
        |                       ROWS BETWEEN 3 PRECEDING AND CURRENT ROW) AS sel
        |      FROM st),
        |s AS (SELECT DISTINCT doc_id, sel FROM w WHERE pos >= 4)
        |SELECT doc_id,
        |       CAST(999999 - substr(sel, 16, 6)::BIGINT AS BIGINT) AS pos,
        |       ('0x' || substr(sel, 1, 15))::BIGINT AS fp_hash
        |FROM s ORDER BY doc_id, pos""".stripMargin,

    // B8b: per-doc unigram Shannon entropy in the portable form
    // ln(n) - sum(c*ln c)/n (exact integer ln arguments, 6dp round).
    "token_entropy" ->
      """WITH t AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents),
        |c AS (SELECT doc_id, tok, count(*) AS c FROM t GROUP BY 1, 2),
        |a AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_tokens,
        |        CAST(count(*) AS BIGINT) AS n_distinct,
        |        sum(c * ln(c)) AS s
        |      FROM c GROUP BY doc_id)
        |SELECT doc_id, n_tokens, n_distinct,
        |       round(ln(n_tokens) - s / n_tokens, 6) AS entropy,
        |       CASE WHEN n_distinct > 1
        |            THEN round((ln(n_tokens) - s / n_tokens) / ln(n_distinct), 6)
        |            ELSE 0.0 END AS norm_entropy
        |FROM a ORDER BY doc_id""".stripMargin,

    // B11b: train->holdout shingle-overlap pairs under the SAME hash split
    // as train_split; shingles in > 50 docs are df-capped out first.
    "split_leakage" -> {
      val trainCut = (0.9 * (1 << 24)).toLong
      val valCut = ((0.9 + 0.05) * (1 << 24)).toLong
      s"""WITH t AS (SELECT doc_id, string_split(text, ' ') AS tok FROM documents),
         |s AS (SELECT doc_id,
         |        list_distinct([array_to_string(tok[i:i+7], ' ')
         |                       for i in generate_series(1, greatest(len(tok)-7, 1))]) AS sh
         |      FROM t),
         |h AS (SELECT doc_id, unnest([('0x' || substr(md5(x), 1, 15))::BIGINT for x in sh]) AS h
         |      FROM s),
         |sp AS (SELECT doc_id,
         |         CASE WHEN u < $trainCut THEN 'train'
         |              WHEN u < $valCut THEN 'val' ELSE 'test' END AS split
         |       FROM (SELECT doc_id,
         |               ('0x' || substr(md5('split:' || CAST(doc_id AS VARCHAR)), 1, 6))::BIGINT AS u
         |             FROM documents)),
         |hs AS (SELECT h.doc_id, h.h, sp.split FROM h JOIN sp USING (doc_id)),
         |ok AS (SELECT * FROM hs
         |       WHERE h NOT IN (SELECT h FROM hs GROUP BY h HAVING count(*) > 50)),
         |p AS (SELECT tr.doc_id AS train_id, ho.doc_id AS holdout_id,
         |        ho.split AS holdout_split, count(*) AS n_shared
         |      FROM ok tr JOIN ok ho ON tr.h = ho.h
         |      WHERE tr.split = 'train' AND ho.split <> 'train'
         |      GROUP BY 1, 2, 3)
         |SELECT train_id, holdout_id, holdout_split, CAST(n_shared AS BIGINT) AS n_shared
         |FROM p WHERE n_shared >= 3
         |ORDER BY train_id, holdout_id""".stripMargin
    },

    "train_split" -> {
      val trainCut = (0.9 * (1 << 24)).toLong
      val valCut = (0.95 * (1 << 24)).toLong
      s"""SELECT doc_id, lang, source,
         |       CASE WHEN u < $trainCut THEN 'train'
         |            WHEN u < $valCut THEN 'val'
         |            ELSE 'test' END AS split
         |FROM (SELECT doc_id, lang, source,
         |        ('0x' || substr(md5('split:' || CAST(doc_id AS VARCHAR)), 1, 6))::BIGINT AS u
         |      FROM documents)
         |ORDER BY doc_id""".stripMargin
    },

    // Leakage-free split: dup_clusters' recursive-CTE components feed the
    // SAME md5 cut as train_split, hashed on the cluster key.
    "cluster_split" -> {
      val trainCut = (0.9 * (1 << 24)).toLong
      val valCut = (0.95 * (1 << 24)).toLong
      s"""WITH RECURSIVE ${minhashBandedCtes(numHashes = 32, bands = 16)},
         |est AS (SELECT id_a, id_b,
         |          CAST(list_sum([CASE WHEN sig_a[i] = sig_b[i] THEN 1 ELSE 0 END
         |                         for i in generate_series(1, 32)]) AS DOUBLE) / 32.0 AS est_jaccard
         |        FROM cand),
         |dp AS (SELECT id_a, id_b FROM est WHERE est_jaccard >= 0.5),
         |ed AS (SELECT id_a AS a, id_b AS b FROM dp UNION ALL SELECT id_b AS a, id_a AS b FROM dp),
         |nd AS (SELECT DISTINCT a AS id FROM ed),
         |reach(id, lbl) AS (
         |  SELECT id, id FROM nd
         |  UNION
         |  SELECT ed.a, r.lbl FROM ed JOIN reach r ON ed.b = r.id),
         |cl AS (SELECT id AS doc_id, min(lbl) AS cluster_id FROM reach GROUP BY id),
         |k AS (SELECT d.doc_id, d.lang, d.source,
         |        coalesce(cl.cluster_id, d.doc_id) AS split_key
         |      FROM documents d LEFT JOIN cl ON d.doc_id = cl.doc_id)
         |SELECT doc_id, lang, source, split_key,
         |       CASE WHEN u < $trainCut THEN 'train'
         |            WHEN u < $valCut THEN 'val'
         |            ELSE 'test' END AS split
         |FROM (SELECT *,
         |        ('0x' || substr(md5('split:' || CAST(split_key AS VARCHAR)), 1, 6))::BIGINT AS u
         |      FROM k)
         |ORDER BY doc_id""".stripMargin
    },

    // KL over the joint vocabulary with the same hash-replayed split as
    // train_split; float budget as lm_perplexity (exact ln arguments)
    "split_divergence" -> {
      val trainCut = (0.9 * (1 << 24)).toLong
      val valCut = (0.95 * (1 << 24)).toLong
      s"""WITH d AS (SELECT CASE WHEN u < $trainCut THEN 'train'
         |                       WHEN u < $valCut THEN 'val'
         |                       ELSE 'test' END AS split, text
         |           FROM (SELECT ('0x' || substr(md5('split:' || CAST(doc_id AS VARCHAR)), 1, 6))::BIGINT AS u,
         |                        text FROM documents)),
         |t AS (SELECT split, unnest(string_split(text, ' ')) AS w FROM d),
         |c AS (SELECT split, w, count(*) AS cnt FROM t GROUP BY 1, 2),
         |n AS (SELECT split, CAST(sum(cnt) AS BIGINT) AS n FROM c GROUP BY 1),
         |v AS (SELECT count(DISTINCT w) AS vocab FROM c),
         |vb AS (SELECT DISTINCT w FROM c),
         |p AS (SELECT n.split, vb.w, n.n,
         |        (coalesce(c.cnt, 0) + 0.5) / (n.n + 0.5 * v.vocab) AS p
         |      FROM n CROSS JOIN vb CROSS JOIN v
         |      LEFT JOIN c ON c.split = n.split AND c.w = vb.w)
         |SELECT a.split AS split_a, b.split AS split_b,
         |       max(a.n) AS n_tokens_a, max(b.n) AS n_tokens_b,
         |       round(sum(a.p * ln(a.p / b.p)), 6) AS kl
         |FROM p a JOIN p b ON a.w = b.w AND a.split <> b.split
         |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin
    },

    "corpus_stats" ->
      """SELECT lang, source, count(*) AS n_docs,
        |       CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS n_tokens,
        |       CAST(sum(n_chars) AS BIGINT) AS n_chars,
        |       round(CAST(sum(len(string_split(text, ' '))) AS DOUBLE) / count(*), 6) AS avg_doc_tokens
        |FROM documents GROUP BY lang, source ORDER BY lang, source""".stripMargin,

    "contamination" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS tok FROM documents),
        |s AS (SELECT doc_id,
        |        list_distinct([array_to_string(tok[i:i+7], ' ')
        |                       for i in generate_series(1, greatest(len(tok)-7, 1))]) AS sh
        |      FROM t),
        |h AS (SELECT doc_id, [('0x' || substr(md5(x), 1, 15))::BIGINT for x in sh] AS shh
        |      FROM s),
        |p AS (SELECT e.doc_id AS eval_id, c.doc_id AS corpus_id,
        |        CAST(len(list_intersect(e.shh, c.shh)) AS BIGINT) AS n_shared
        |      FROM h e JOIN h c ON e.doc_id % 50 = 0 AND c.doc_id % 50 <> 0)
        |SELECT eval_id, corpus_id, n_shared FROM p WHERE n_shared >= 3
        |ORDER BY eval_id, corpus_id""".stripMargin,

    // B13c: maximal leaked token intervals — matched eval 8-gram starts
    // merge while their coverage overlaps (break on a gap > 8 between
    // consecutive starts); the islands window replays the Spark side.
    "contamination_spans" ->
      """WITH arr AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
        |st AS (SELECT doc_id, i AS pos,
        |         ('0x' || substr(md5(array_to_string(t[i:i+7], ' ')), 1, 15))::BIGINT AS h
        |       FROM arr, unnest(generate_series(1, greatest(len(t) - 7, 1))) AS g(i)
        |       WHERE len(t) >= 8),
        |ev AS (SELECT DISTINCT h FROM st WHERE doc_id % 50 = 0),
        |m AS (SELECT st.doc_id, st.pos FROM st JOIN ev USING (h) WHERE st.doc_id % 50 <> 0),
        |fl AS (SELECT doc_id, pos,
        |         CASE WHEN pos - lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) > 8
        |              THEN 1 ELSE 0 END AS brk FROM m),
        |gr AS (SELECT doc_id, pos,
        |         sum(brk) OVER (PARTITION BY doc_id ORDER BY pos) AS grp FROM fl)
        |SELECT doc_id, CAST(min(pos) AS BIGINT) AS span_start,
        |       CAST(max(pos) + 7 AS BIGINT) AS span_end,
        |       CAST(max(pos) + 7 - min(pos) + 1 AS BIGINT) AS span_len,
        |       count(*) AS n_grams
        |FROM gr GROUP BY doc_id, grp ORDER BY doc_id, span_start""".stripMargin,

    // B13d: surgical span removal — B34's coverage window with the dup
    // set swapped for the eval 8-gram set; n_removed tiles exactly the
    // contamination_spans report above.
    "decontaminated_spans" ->
      """WITH arr AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
        |ev AS (SELECT DISTINCT ('0x' || substr(md5(array_to_string(t[i:i+7], ' ')), 1, 15))::BIGINT AS h
        |       FROM arr, unnest(generate_series(1, greatest(len(t) - 7, 1))) AS g(i)
        |       WHERE doc_id % 50 = 0 AND len(t) >= 8),
        |st AS (SELECT doc_id, i AS pos,
        |         ('0x' || substr(md5(array_to_string(t[i:i+7], ' ')), 1, 15))::BIGINT AS h
        |       FROM arr, unnest(generate_series(1, greatest(len(t) - 7, 1))) AS g(i)
        |       WHERE doc_id % 50 <> 0 AND len(t) >= 8),
        |ds AS (SELECT st.doc_id, st.pos, CASE WHEN ev.h IS NULL THEN 0 ELSE 1 END AS d
        |       FROM st LEFT JOIN ev USING (h)),
        |tk AS (SELECT doc_id, i AS pos, t[i] AS token
        |       FROM arr, unnest(generate_series(1, len(t))) AS g(i)
        |       WHERE doc_id % 50 <> 0),
        |fl AS (SELECT tk.doc_id, tk.pos, tk.token, coalesce(ds.d, 0) AS d
        |       FROM tk LEFT JOIN ds ON tk.doc_id = ds.doc_id AND tk.pos = ds.pos),
        |mk AS (SELECT *, max(d) OVER (PARTITION BY doc_id ORDER BY pos
        |         ROWS BETWEEN 7 PRECEDING AND CURRENT ROW) AS covered FROM fl)
        |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
        |       CAST(sum(covered) AS BIGINT) AS n_removed,
        |       coalesce(string_agg(CASE WHEN covered = 0 THEN token END, ' ' ORDER BY pos), '')
        |         AS clean_text
        |FROM mk GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    "decontaminated" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS tok FROM documents),
        |s AS (SELECT doc_id,
        |        list_distinct([array_to_string(tok[i:i+7], ' ')
        |                       for i in generate_series(1, greatest(len(tok)-7, 1))]) AS sh
        |      FROM t),
        |h AS (SELECT doc_id, [('0x' || substr(md5(x), 1, 15))::BIGINT for x in sh] AS shh
        |      FROM s),
        |p AS (SELECT c.doc_id AS corpus_id,
        |        CAST(len(list_intersect(e.shh, c.shh)) AS BIGINT) AS n_shared
        |      FROM h e JOIN h c ON e.doc_id % 50 = 0 AND c.doc_id % 50 <> 0)
        |SELECT doc_id, lang, source, n_chars FROM documents
        |WHERE doc_id % 50 <> 0
        |  AND doc_id NOT IN (SELECT DISTINCT corpus_id FROM p WHERE n_shared >= 3)
        |ORDER BY doc_id""".stripMargin,

    // Cross-source shingle overlap: distinct (source, 8-gram-hash) universe,
    // df-capped at 64 sources per shingle (universal boilerplate is excluded
    // from sizes AND pairs, consistently), keyed self-meet on the hash.
    "source_overlap" ->
      """WITH t AS (SELECT source, string_split(text, ' ') AS tok FROM documents),
        |s AS (SELECT source,
        |        list_distinct([array_to_string(tok[i:i+7], ' ')
        |                       for i in generate_series(1, greatest(len(tok)-7, 1))]) AS sh
        |      FROM t),
        |sh AS (SELECT DISTINCT source, ('0x' || substr(md5(x), 1, 15))::BIGINT AS h
        |       FROM s, unnest(s.sh) AS u(x)),
        |capped AS (SELECT h FROM sh GROUP BY h HAVING count(*) <= 64),
        |shc AS (SELECT sh.source, sh.h FROM sh JOIN capped USING (h)),
        |sizes AS (SELECT source, count(*) AS n FROM shc GROUP BY source),
        |p AS (SELECT a.source AS source_a, b.source AS source_b, count(*) AS shared
        |      FROM shc a JOIN shc b ON a.h = b.h AND a.source < b.source
        |      GROUP BY 1, 2)
        |SELECT source_a, source_b, shared,
        |       round(CAST(shared AS DOUBLE) / (sa.n + sb.n - shared), 6) AS jaccard
        |FROM p JOIN sizes sa ON sa.source = p.source_a
        |       JOIN sizes sb ON sb.source = p.source_b
        |ORDER BY source_a, source_b""".stripMargin,

    // Acquisition-ordered novelty: the same distinct (source, shingle-hash)
    // universe as source_overlap; first-contributor via min(source) because
    // acquisition rank IS name order; cumulative over the source-cardinality
    // aggregate.
    "novelty_curve" ->
      """WITH t AS (SELECT source, string_split(text, ' ') AS tok FROM documents),
        |s AS (SELECT source,
        |        list_distinct([array_to_string(tok[i:i+7], ' ')
        |                       for i in generate_series(1, greatest(len(tok)-7, 1))]) AS sh
        |      FROM t),
        |sh AS (SELECT DISTINCT source, ('0x' || substr(md5(x), 1, 15))::BIGINT AS h
        |       FROM s, unnest(s.sh) AS u(x)),
        |f AS (SELECT h, min(source) AS source FROM sh GROUP BY 1),
        |novel AS (SELECT source, count(*) AS novel_shingles FROM f GROUP BY 1),
        |tot AS (SELECT source, count(*) AS total_shingles FROM sh GROUP BY 1)
        |SELECT tot.source, total_shingles,
        |       CAST(coalesce(novel_shingles, 0) AS BIGINT) AS novel_shingles,
        |       round(CAST(coalesce(novel_shingles, 0) AS DOUBLE) / total_shingles, 6)
        |         AS novelty_rate,
        |       CAST(sum(coalesce(novel_shingles, 0))
        |            OVER (ORDER BY tot.source ROWS UNBOUNDED PRECEDING) AS BIGINT)
        |         AS cum_novel
        |FROM tot LEFT JOIN novel USING (source)
        |ORDER BY source""".stripMargin,

    // FULL source x lang grid: zero-obs cells contribute their expected
    // count (the drift evidence); same fixed-order float chain as Spark.
    "source_lang_drift" ->
      """WITH c AS (SELECT source, lang, count(*) AS obs FROM documents GROUP BY 1, 2),
        |lt AS (SELECT lang, CAST(sum(obs) AS BIGINT) AS lang_n FROM c GROUP BY 1),
        |st AS (SELECT source, CAST(sum(obs) AS BIGINT) AS src_n FROM c GROUP BY 1),
        |g AS (SELECT CAST(sum(obs) AS BIGINT) AS n FROM c),
        |grid AS (SELECT st.source, st.src_n, lt.lang, lt.lang_n FROM st CROSS JOIN lt),
        |t AS (SELECT grid.source, grid.src_n,
        |        CAST(coalesce(c.obs, 0) AS DOUBLE)
        |          - grid.src_n * (CAST(grid.lang_n AS DOUBLE) / g.n) AS dev,
        |        grid.src_n * (CAST(grid.lang_n AS DOUBLE) / g.n) AS exp
        |      FROM grid LEFT JOIN c ON c.source = grid.source AND c.lang = grid.lang
        |      CROSS JOIN g)
        |SELECT source, max(src_n) AS n_docs,
        |       round(sum(dev * dev / exp), 6) AS chi_square
        |FROM t GROUP BY source ORDER BY source""".stripMargin,

    "source_concentration" ->
      """WITH per AS (SELECT source, count(*) AS n, CAST(sum(n_chars) AS BIGINT) AS vol
        |             FROM documents GROUP BY source),
        |scal AS (SELECT count(*) AS n_sources, CAST(sum(n) AS BIGINT) AS n_docs,
        |               CAST(sum(vol) AS BIGINT) AS total_chars,
        |               CAST(max(vol) AS BIGINT) AS max_vol,
        |               sum(CAST(vol AS DOUBLE) * CAST(vol AS DOUBLE)) AS ss FROM per),
        |tk AS (SELECT CAST(sum(vol) AS BIGINT) AS topk_vol
        |       FROM (SELECT vol FROM per ORDER BY vol DESC, source LIMIT 5))
        |SELECT n_sources, n_docs, total_chars,
        |       round(CAST(max_vol AS DOUBLE) / CAST(total_chars AS DOUBLE), 6) AS top1_share,
        |       round(CAST(topk_vol AS DOUBLE) / CAST(total_chars AS DOUBLE), 6) AS topk_share,
        |       round(ss / (CAST(total_chars AS DOUBLE) * CAST(total_chars AS DOUBLE)), 6) AS hhi,
        |       round(CAST(total_chars AS DOUBLE) * CAST(total_chars AS DOUBLE) / ss, 2)
        |         AS effective_sources
        |FROM scal CROSS JOIN tk""".stripMargin,

    // Conjunctive funnel: dup_2gram_frac is EXACTLY B14's signal (same
    // greatest(len-1,1) denominator, same 6-dp rounding) so one definition
    // serves both queries.
    "filter_funnel" ->
      """WITH t AS (SELECT n_chars, string_split(text, ' ') AS tok FROM documents),
        |f AS (SELECT n_chars BETWEEN 100 AND 20000 AS f1,
        |             len(tok) >= 30 AS f2,
        |             round(1.0 - CAST(len(list_distinct(
        |                 [array_to_string(tok[i:i+1], ' ')
        |                  for i in generate_series(1, greatest(len(tok)-1, 1))])) AS DOUBLE)
        |               / greatest(len(tok)-1, 1), 6) <= 0.07 AS f3
        |      FROM t),
        |a AS (SELECT count(*) AS total,
        |             CAST(count(*) FILTER (WHERE f1) AS BIGINT) AS s1,
        |             CAST(count(*) FILTER (WHERE f1 AND f2) AS BIGINT) AS s2,
        |             CAST(count(*) FILTER (WHERE f1 AND f2 AND f3) AS BIGINT) AS s3
        |      FROM f)
        |SELECT stage, survivors, dropped_here FROM (
        |  SELECT '0_all' AS stage, total AS survivors, CAST(0 AS BIGINT) AS dropped_here FROM a
        |  UNION ALL SELECT '1_length', s1, total - s1 FROM a
        |  UNION ALL SELECT '2_min_words', s2, s1 - s2 FROM a
        |  UNION ALL SELECT '3_repetition', s3, s2 - s3 FROM a)
        |ORDER BY stage""".stripMargin,

    // row-level lineage over the SAME flag definitions as filter_funnel
    // (concat_ws skips the NULL arms on both engines; all-pass -> '')
    "curation_lineage" ->
      """WITH t AS (SELECT doc_id, n_chars, string_split(text, ' ') AS tok FROM documents),
        |f AS (SELECT doc_id,
        |             n_chars BETWEEN 100 AND 20000 AS f1,
        |             len(tok) >= 30 AS f2,
        |             round(1.0 - CAST(len(list_distinct(
        |                 [array_to_string(tok[i:i+1], ' ')
        |                  for i in generate_series(1, greatest(len(tok)-1, 1))])) AS DOUBLE)
        |               / greatest(len(tok)-1, 1), 6) <= 0.07 AS f3
        |      FROM t)
        |SELECT doc_id,
        |       concat_ws(',', CASE WHEN NOT f1 THEN 'length' END,
        |                      CASE WHEN NOT f2 THEN 'min_words' END,
        |                      CASE WHEN NOT f3 THEN 'repetition' END) AS fail_stages,
        |       (f1 AND f2 AND f3) AS keep
        |FROM f ORDER BY doc_id""".stripMargin,

    // B8f: the Gopher battery — every statistic is integer counting (the
    // word-length sum is len(text) − spaces, symbol counts are
    // replace-length diffs, stopword presence is containment over the
    // lowercased token list), ratios round to 6 dp BEFORE their threshold
    // compare, and concat_ws skips NULL arms on both engines.
    "gopher_rules" ->
      s"""WITH ${gopherStatsCtes()}
         |SELECT doc_id, n_words, mean_word_len, hash_ratio, ellipsis_ratio,
         |       bullet_frac, ellipsis_end_frac, alpha_frac, n_stopwords,
         |       concat_ws(',', ${gopherPredSql.map { case (n, p) =>
                  s"CASE WHEN NOT ($p) THEN '$n' END" }.mkString(",\n         ")}) AS fail_rules,
         |       (${gopherPredSql.map(p => s"(${p._2})").mkString(" AND ")}) AS keep
         |FROM s_g ORDER BY doc_id""".stripMargin,

    "repetition_metrics" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS tok FROM documents),
        |g AS (SELECT doc_id, CAST(len(tok) AS BIGINT) AS n_tokens,
        |        [array_to_string(tok[i:i+1], ' ') for i in generate_series(1, greatest(len(tok)-1, 1))] AS g2,
        |        [array_to_string(tok[i:i+2], ' ') for i in generate_series(1, greatest(len(tok)-2, 1))] AS g3
        |      FROM t),
        |e AS (SELECT doc_id, unnest(tok) AS w FROM t),
        |c AS (SELECT doc_id, w, count(*) AS cnt FROM e GROUP BY doc_id, w),
        |top AS (SELECT doc_id, max(cnt) AS top_cnt FROM c GROUP BY doc_id),
        |m AS (SELECT g.doc_id, n_tokens, top_cnt,
        |        round(CAST(top_cnt AS DOUBLE) / CAST(n_tokens AS DOUBLE), 6) AS top_token_frac,
        |        round(1.0 - CAST(len(list_distinct(g2)) AS DOUBLE) / CAST(len(g2) AS DOUBLE), 6) AS dup_2gram_frac,
        |        round(1.0 - CAST(len(list_distinct(g3)) AS DOUBLE) / CAST(len(g3) AS DOUBLE), 6) AS dup_3gram_frac
        |      FROM g JOIN top ON g.doc_id = top.doc_id)
        |SELECT doc_id, n_tokens, top_cnt, top_token_frac, dup_2gram_frac, dup_3gram_frac,
        |       top_token_frac <= 0.15 AND dup_2gram_frac <= 0.15 AND dup_3gram_frac <= 0.10 AS keep
        |FROM m ORDER BY doc_id""".stripMargin,

    "corpus_pipeline" ->
      s"""WITH ${minhashBandedCtes(numHashes = 32, bands = 16)},
         |${gopherStatsCtes()},
         |gk AS (SELECT doc_id FROM s_g
         |       WHERE ${gopherPredSql.filterNot(_._1 == "stopwords")
                  .map(p => s"(${p._2})").mkString("\n         AND ")}),
         |est AS (SELECT id_a, id_b,
         |          CAST(list_sum([CASE WHEN sig_a[i] = sig_b[i] THEN 1 ELSE 0 END
         |                         for i in generate_series(1, 32)]) AS DOUBLE) / 32.0 AS est_jaccard
         |        FROM cand),
         |ndrop AS (SELECT DISTINCT id_b FROM est WHERE est_jaccard >= 0.5),
         |q1 AS (SELECT doc_id,
         |         round(least(1.0, CAST(len(tok) AS DOUBLE) / 200.0) *
         |               (CAST(len(list_distinct(tok)) AS DOUBLE) / CAST(len(tok) AS DOUBLE)), 6) >= 0.1 AS qkeep
         |       FROM t),
         |r1 AS (SELECT doc_id,
         |         [array_to_string(tok[i:i+1], ' ') for i in generate_series(1, greatest(len(tok)-1, 1))] AS g2,
         |         [array_to_string(tok[i:i+2], ' ') for i in generate_series(1, greatest(len(tok)-2, 1))] AS g3
         |       FROM t),
         |rc AS (SELECT doc_id, w, count(*) AS cnt
         |       FROM (SELECT doc_id, unnest(tok) AS w FROM t) GROUP BY doc_id, w),
         |rt AS (SELECT doc_id, max(cnt) AS top_cnt, sum(cnt) AS n FROM rc GROUP BY doc_id),
         |rk AS (SELECT r1.doc_id,
         |         round(CAST(rt.top_cnt AS DOUBLE) / CAST(rt.n AS DOUBLE), 6) <= 0.15
         |         AND round(1.0 - CAST(len(list_distinct(g2)) AS DOUBLE) / CAST(len(g2) AS DOUBLE), 6) <= 0.15
         |         AND round(1.0 - CAST(len(list_distinct(g3)) AS DOUBLE) / CAST(len(g3) AS DOUBLE), 6) <= 0.10 AS rkeep
         |       FROM r1 JOIN rt ON r1.doc_id = rt.doc_id),
         |be AS (SELECT doc_id, ('0x' || substr(md5(g), 1, 15))::BIGINT AS h
         |       FROM (SELECT doc_id, unnest(sh) AS g FROM s)),
         |bb AS (SELECT h FROM be GROUP BY h HAVING count(*) >= 5),
         |bf AS (SELECT be.doc_id,
         |         round(CAST(count(bb.h) AS DOUBLE) / CAST(count(*) AS DOUBLE), 6) <= 0.5 AS bkeep
         |       FROM be LEFT JOIN bb USING (h) GROUP BY be.doc_id)
         |SELECT d.doc_id, d.lang, d.source, d.n_chars
         |FROM documents d
         |JOIN q1 ON d.doc_id = q1.doc_id AND q1.qkeep
         |JOIN rk ON d.doc_id = rk.doc_id AND rk.rkeep
         |JOIN bf ON d.doc_id = bf.doc_id AND bf.bkeep
         |JOIN gk ON d.doc_id = gk.doc_id
         |WHERE d.doc_id NOT IN (SELECT id_b FROM ndrop)
         |ORDER BY d.doc_id""".stripMargin,

    "boilerplate_ngrams" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS tok FROM documents),
        |s AS (SELECT doc_id,
        |        list_distinct([array_to_string(tok[i:i+2], ' ')
        |                       for i in generate_series(1, greatest(len(tok)-2, 1))]) AS sh
        |      FROM t),
        |e AS (SELECT doc_id, ('0x' || substr(md5(g), 1, 15))::BIGINT AS h
        |      FROM (SELECT doc_id, unnest(sh) AS g FROM s))
        |SELECT h, count(*) AS n_docs, min(doc_id) AS first_doc
        |FROM e GROUP BY h HAVING count(*) >= 5 ORDER BY h""".stripMargin,

    "boilerplate_frac" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS tok FROM documents),
        |s AS (SELECT doc_id,
        |        list_distinct([array_to_string(tok[i:i+2], ' ')
        |                       for i in generate_series(1, greatest(len(tok)-2, 1))]) AS sh
        |      FROM t),
        |e AS (SELECT doc_id, ('0x' || substr(md5(g), 1, 15))::BIGINT AS h
        |      FROM (SELECT doc_id, unnest(sh) AS g FROM s)),
        |bo AS (SELECT h FROM e GROUP BY h HAVING count(*) >= 5),
        |a AS (SELECT e.doc_id, count(*) AS n_shingles, count(bo.h) AS n_boiler,
        |        round(CAST(count(bo.h) AS DOUBLE) / CAST(count(*) AS DOUBLE), 6) AS boiler_frac
        |      FROM e LEFT JOIN bo USING (h) GROUP BY e.doc_id)
        |SELECT doc_id, n_shingles, n_boiler, boiler_frac, boiler_frac <= 0.5 AS keep
        |FROM a ORDER BY doc_id""".stripMargin,

    "stratified_sample" ->
      """WITH c AS (SELECT lang, count(*) AS lang_n FROM documents GROUP BY lang),
        |t AS (SELECT min(lang_n) AS target_n FROM c)
        |SELECT doc_id, lang, source, n_chars
        |FROM documents JOIN c USING (lang), t
        |WHERE ('0x' || substr(md5('sample:' || CAST(doc_id AS VARCHAR)), 1, 6))::BIGINT * lang_n
        |      < target_n * 16777216
        |ORDER BY doc_id""".stripMargin,

    "temperature_sample" ->
      """WITH c AS (SELECT lang, count(*) AS lang_n FROM documents GROUP BY lang),
        |m AS (SELECT min(lang_n) AS min_n FROM c)
        |SELECT doc_id, lang, source, n_chars
        |FROM documents JOIN c USING (lang), m
        |WHERE CAST(('0x' || substr(md5('temp:' || CAST(doc_id AS VARCHAR)), 1, 6))::BIGINT AS DOUBLE)
        |      < sqrt(CAST(min_n AS DOUBLE) / CAST(lang_n AS DOUBLE)) * 16777216.0
        |ORDER BY doc_id""".stripMargin,

    "pseudonymize" ->
      """SELECT event_id,
        |       substr(sha256('pepper:' || CAST(user_id AS VARCHAR)), 1, 16) AS user_pseud,
        |       event_type,
        |       regexp_replace(props, '\d+', '<NUM>', 'g') AS props_redacted
        |FROM events ORDER BY event_id""".stripMargin,

    "label_prototypes" ->
      """WITH e AS (SELECT label, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        |           FROM embeddings)
        |SELECT label, CAST(i AS INT) AS pos, round(avg(v[i]), 6) AS m,
        |       CAST(count(*) AS BIGINT) AS n_vecs
        |FROM e, generate_series(1, 64) gs(i)
        |GROUP BY label, i ORDER BY label, pos""".stripMargin,

    // prototypes rebuilt in SQL with the same round-6 means; assignment
    // replays NearestCentroid's ordering (cos DESC, higher label on ties)
    "prototype_assign" -> {
      s"""WITH e AS (SELECT vec_id, label,
         |             list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
         |           FROM embeddings),
         |p AS (SELECT label, i AS pos, round(avg(v[i]), 6) AS m
         |      FROM e, generate_series(1, 64) gs(i) GROUP BY label, i),
         |lp AS (SELECT label AS plabel, list(m ORDER BY pos) AS proto
         |       FROM p GROUP BY label),
         |s AS (SELECT e.vec_id, e.label, lp.plabel,
         |        ${cosOf("e.v", "lp.proto")} AS cs
         |      FROM e CROSS JOIN lp),
         |a AS (SELECT vec_id, label, plabel AS assigned FROM (
         |        SELECT *, row_number() OVER (PARTITION BY vec_id
         |                    ORDER BY cs DESC, plabel DESC) AS rn FROM s)
         |      WHERE rn = 1)
         |SELECT label, assigned, CAST(count(*) AS BIGINT) AS n
         |FROM a GROUP BY label, assigned ORDER BY label, assigned""".stripMargin
    },

    "embedding_outliers" ->
      """WITH e AS (SELECT label,
        |             round(sqrt(list_sum(list_transform(
        |               list_transform(embedding, x -> CAST(x AS DOUBLE)),
        |               x -> x * x))), 6) AS norm,
        |             round(list_max(list_transform(embedding,
        |               x -> abs(CAST(x AS DOUBLE)))), 6) AS peak
        |           FROM embeddings),
        |s AS (SELECT label, count(*) AS n_vecs,
        |        sum(CAST(norm AS DECIMAL(18,6))) AS sn,
        |        sum(CAST(peak AS DECIMAL(18,6))) AS sp,
        |        sum(CAST(CAST(peak AS DECIMAL(18,6)) * CAST(peak AS DECIMAL(18,6))
        |            AS DECIMAL(38,12))) AS ssp
        |      FROM e GROUP BY label),
        |m AS (SELECT label, n_vecs,
        |        round(CAST(sn AS DOUBLE) / n_vecs, 6) AS mean_norm,
        |        round(CAST(sp AS DOUBLE) / n_vecs, 6) AS mean_peak,
        |        CASE WHEN n_vecs > 1 THEN
        |          round(sqrt((CAST(ssp AS DOUBLE)
        |                      - CAST(sp AS DOUBLE) * CAST(sp AS DOUBLE) / n_vecs)
        |                     / (n_vecs - 1)), 6) END AS std_peak
        |      FROM s)
        |SELECT m.label AS label, m.n_vecs, m.mean_norm, m.mean_peak, m.std_peak,
        |       CAST(sum(CASE WHEN abs(e.peak - m.mean_peak) > 2.0 * m.std_peak
        |                     THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
        |FROM e JOIN m ON e.label = m.label
        |GROUP BY 1, 2, 3, 4, 5 ORDER BY m.label""".stripMargin,

    "length_histogram" ->
      """WITH b AS (SELECT lang,
        |             CAST(len(string_split(text, ' ')) AS BIGINT) // 16 AS bucket,
        |             count(*) AS n_docs
        |           FROM documents GROUP BY 1, 2)
        |SELECT lang, bucket * 16 AS bucket_lo_tokens, n_docs,
        |       round(CAST(n_docs AS DOUBLE)
        |             / CAST(sum(n_docs) OVER (PARTITION BY lang) AS DOUBLE), 6)
        |         AS lang_share
        |FROM b ORDER BY lang, bucket_lo_tokens""".stripMargin,

    "embedding_quantize" ->
      """WITH e AS (SELECT vec_id, label,
        |             list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        |           FROM embeddings),
        |m AS (SELECT vec_id, label, v,
        |        list_max(list_transform(v, x -> abs(x))) AS maxabs FROM e)
        |SELECT vec_id, label,
        |       round(maxabs / 127.0, 6) AS scale,
        |       round(sqrt(list_sum(list_transform(v, x -> x * x))), 6) AS l2_norm,
        |       array_to_string([CASE WHEN maxabs = 0 THEN 0
        |                             ELSE CAST(floor(x * 127.0 / maxabs + 0.5) AS BIGINT) END
        |                        for x in v], ',') AS q_csv
        |FROM m ORDER BY vec_id""".stripMargin,

    "dup_clusters" ->
      s"""WITH RECURSIVE ${minhashBandedCtes(numHashes = 32, bands = 16)},
         |est AS (SELECT id_a, id_b,
         |          CAST(list_sum([CASE WHEN sig_a[i] = sig_b[i] THEN 1 ELSE 0 END
         |                         for i in generate_series(1, 32)]) AS DOUBLE) / 32.0 AS est_jaccard
         |        FROM cand),
         |d AS (SELECT id_a, id_b FROM est WHERE est_jaccard >= 0.5),
         |ed AS (SELECT id_a AS a, id_b AS b FROM d UNION ALL SELECT id_b AS a, id_a AS b FROM d),
         |nd AS (SELECT DISTINCT a AS id FROM ed),
         |reach(id, lbl) AS (
         |  SELECT id, id FROM nd
         |  UNION
         |  SELECT ed.a, r.lbl FROM ed JOIN reach r ON ed.b = r.id),
         |cl AS (SELECT id AS doc_id, min(lbl) AS cluster_id FROM reach GROUP BY id)
         |SELECT doc_id, cluster_id, count(*) OVER (PARTITION BY cluster_id) AS cluster_size
         |FROM cl ORDER BY doc_id""".stripMargin,

    // B19c: the size histogram over the identical recursive-CTE clusters
    "dup_cluster_sizes" ->
      s"""WITH RECURSIVE ${minhashBandedCtes(numHashes = 32, bands = 16)},
         |est AS (SELECT id_a, id_b,
         |          CAST(list_sum([CASE WHEN sig_a[i] = sig_b[i] THEN 1 ELSE 0 END
         |                         for i in generate_series(1, 32)]) AS DOUBLE) / 32.0 AS est_jaccard
         |        FROM cand),
         |d AS (SELECT id_a, id_b FROM est WHERE est_jaccard >= 0.5),
         |ed AS (SELECT id_a AS a, id_b AS b FROM d UNION ALL SELECT id_b AS a, id_a AS b FROM d),
         |nd AS (SELECT DISTINCT a AS id FROM ed),
         |reach(id, lbl) AS (
         |  SELECT id, id FROM nd
         |  UNION
         |  SELECT ed.a, r.lbl FROM ed JOIN reach r ON ed.b = r.id),
         |cl AS (SELECT id AS doc_id, min(lbl) AS cluster_id FROM reach GROUP BY id),
         |sz AS (SELECT doc_id, cluster_id,
         |              count(*) OVER (PARTITION BY cluster_id) AS cluster_size FROM cl)
         |SELECT cluster_size, CAST(count(DISTINCT cluster_id) AS BIGINT) AS n_clusters,
         |       CAST(count(*) AS BIGINT) AS n_docs
         |FROM sz GROUP BY cluster_size ORDER BY cluster_size""".stripMargin,

    // dup_clusters' recursive-CTE components + the B8 quality score,
    // argmax per cluster by (quality DESC, doc_id) — same tie rule as the
    // Spark window.
    "cluster_keep_best" ->
      s"""WITH RECURSIVE ${minhashBandedCtes(numHashes = 32, bands = 16)},
         |est AS (SELECT id_a, id_b,
         |          CAST(list_sum([CASE WHEN sig_a[i] = sig_b[i] THEN 1 ELSE 0 END
         |                         for i in generate_series(1, 32)]) AS DOUBLE) / 32.0 AS est_jaccard
         |        FROM cand),
         |d AS (SELECT id_a, id_b FROM est WHERE est_jaccard >= 0.5),
         |ed AS (SELECT id_a AS a, id_b AS b FROM d UNION ALL SELECT id_b AS a, id_a AS b FROM d),
         |nd AS (SELECT DISTINCT a AS id FROM ed),
         |reach(id, lbl) AS (
         |  SELECT id, id FROM nd
         |  UNION
         |  SELECT ed.a, r.lbl FROM ed JOIN reach r ON ed.b = r.id),
         |cl AS (SELECT id AS doc_id, min(lbl) AS cluster_id FROM reach GROUP BY id),
         |cs AS (SELECT doc_id, cluster_id, count(*) OVER (PARTITION BY cluster_id) AS cluster_size
         |       FROM cl),
         |qm AS (SELECT doc_id,
         |         CAST(len(string_split(text, ' ')) AS DOUBLE) AS nt,
         |         CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE) AS nu
         |       FROM documents),
         |q AS (SELECT doc_id, round(least(1.0, nt / 200.0) * (nu / nt), 6) AS quality_score
         |      FROM qm),
         |r AS (SELECT cs.cluster_id, cs.cluster_size, cs.doc_id, q.quality_score,
         |             row_number() OVER (PARTITION BY cs.cluster_id
         |                                ORDER BY q.quality_score DESC, cs.doc_id) AS rn
         |      FROM cs JOIN q USING (doc_id))
         |SELECT cluster_id, cluster_size, doc_id AS keep_id, quality_score
         |FROM r WHERE rn = 1 ORDER BY cluster_id""".stripMargin,

    // greedy per-language prefix in 24-bit hash order; admitted iff tokens
    // already taken are under budget (overshoot ≤ 1 doc per class)
    "token_budget_mix" ->
      """WITH t AS (SELECT doc_id, lang, source,
        |             CAST(len(string_split(text, ' ')) AS BIGINT) AS ntok,
        |             ('0x' || substr(md5('mix:' || CAST(doc_id AS VARCHAR)), 1, 6))::BIGINT AS u
        |           FROM documents),
        |w AS (SELECT *, coalesce(sum(ntok) OVER (PARTITION BY lang ORDER BY u, doc_id
        |             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS tok_before
        |      FROM t)
        |SELECT doc_id, lang, source, ntok, CAST(tok_before AS BIGINT) AS tok_before
        |FROM w WHERE tok_before < 2000 ORDER BY doc_id""".stripMargin,

    // per-source cap in the same 24-bit content-free hash order; the Spark
    // side computes the rank two-level (shard base + in-shard row_number) —
    // identical to this single window because shard = top bits of u
    "source_cap_sample" ->
      """WITH d AS (SELECT doc_id, lang, source,
        |             ('0x' || substr(md5('cap:' || CAST(doc_id AS VARCHAR)), 1, 6))::BIGINT AS u
        |           FROM documents),
        |r AS (SELECT doc_id, lang, source,
        |        CAST(row_number() OVER (PARTITION BY source ORDER BY u, doc_id) AS BIGINT)
        |          AS rank_in_source
        |      FROM d)
        |SELECT doc_id, lang, source, rank_in_source FROM r
        |WHERE rank_in_source <= 10 ORDER BY doc_id""".stripMargin,

    // Priority sampling: q = w/u is one IEEE division (correctly rounded,
    // bit-identical cross-engine), so selection, threshold tau, and the
    // unbiased est_weight replay exactly — no pow/ln in the rank key.
    "priority_sample" ->
      """WITH d AS (SELECT doc_id, source, n_chars,
        |             CAST(n_chars AS DOUBLE) /
        |             CAST(('0x' || substr(md5('priority:' || CAST(doc_id AS VARCHAR)), 1, 6))::BIGINT + 1 AS DOUBLE) AS q
        |           FROM documents WHERE n_chars > 0),
        |r AS (SELECT doc_id, source, n_chars, q,
        |        CAST(row_number() OVER (PARTITION BY source ORDER BY q DESC, doc_id) AS BIGINT) AS rnk
        |      FROM d),
        |t AS (SELECT source, q AS tau FROM r WHERE rnk = 11)
        |SELECT r.source, r.doc_id, r.n_chars, round(r.q, 6) AS priority,
        |       round(CASE WHEN t.tau IS NULL THEN CAST(r.n_chars AS DOUBLE)
        |                  ELSE greatest(CAST(r.n_chars AS DOUBLE), t.tau) END, 6) AS est_weight
        |FROM r LEFT JOIN t ON r.source = t.source
        |WHERE r.rnk <= 10
        |ORDER BY r.source, r.doc_id""".stripMargin,

    // global row_number over the decorrelated 'shuffle:' hash order; the
    // engine computes it two-level (sharded prefix), the oracle in one sort
    "training_order" ->
      """WITH d AS (SELECT doc_id,
        |             ('0x' || substr(md5('shuffle:' || CAST(doc_id AS VARCHAR)), 1, 6))::BIGINT AS u
        |           FROM documents),
        |r AS (SELECT doc_id,
        |        CAST(row_number() OVER (ORDER BY u, doc_id) AS BIGINT) AS pos
        |      FROM d)
        |SELECT doc_id, pos, (pos - 1) % 8 AS out_shard FROM r
        |ORDER BY doc_id""".stripMargin,

    // occurrence-weighted fraction of a doc's bigrams whose corpus count
    // reaches the threshold; zero-bigram docs keep a row with null coverage
    "bigram_coverage" ->
      """WITH arr AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
        |bg AS (SELECT doc_id, t[i] || ' ' || t[i + 1] AS bigram
        |       FROM arr, unnest(generate_series(1, len(t) - 1)) AS g(i)),
        |pd AS (SELECT doc_id, bigram, count(*) AS cnt FROM bg GROUP BY doc_id, bigram),
        |cm AS (SELECT bigram FROM pd GROUP BY bigram HAVING sum(cnt) >= 5),
        |a AS (SELECT pd.doc_id, CAST(sum(pd.cnt) AS BIGINT) AS n_bigrams,
        |        CAST(sum(CASE WHEN cm.bigram IS NULL THEN 0 ELSE pd.cnt END) AS BIGINT)
        |          AS n_common
        |      FROM pd LEFT JOIN cm USING (bigram) GROUP BY pd.doc_id)
        |SELECT d.doc_id, d.lang,
        |       coalesce(a.n_bigrams, CAST(0 AS BIGINT)) AS n_bigrams,
        |       coalesce(a.n_common, CAST(0 AS BIGINT)) AS n_common,
        |       CASE WHEN a.n_bigrams IS NULL THEN NULL
        |            ELSE round(a.n_common / CAST(a.n_bigrams AS DOUBLE), 6) END AS coverage
        |FROM documents d LEFT JOIN a USING (doc_id) ORDER BY d.doc_id""".stripMargin,

    // Bigram-LM cross-entropy: the ln/exp arguments are exact in both
    // engines (integer counts + 0.5 into correctly-rounded divides), so
    // disagreement is bounded by the math libraries' 1-ulp + summation
    // order (~1e-13 abs), invisible at round 6/4 — see Relevance.lmPerplexity.
    // The three component scores replay their own oracles' formulas; the
    // moments accumulate in DECIMAL so variance/std/z land on identical
    // bits; null signals (no-bigram docs) drop out of that doc's mean.
    "quality_ensemble" ->
      (ensembleSignalCtes + """
        |m AS (SELECT count(*) AS n,
        |        sum(CAST(quality_score AS DECIMAL(18,6))) AS s_q,
        |        sum(CAST(quality_score AS DECIMAL(18,6)) * CAST(quality_score AS DECIMAL(18,6))) AS ss_q,
        |        count(coverage) AS n_c,
        |        sum(CAST(coverage AS DECIMAL(18,6))) AS s_c,
        |        sum(CAST(coverage AS DECIMAL(18,6)) * CAST(coverage AS DECIMAL(18,6))) AS ss_c,
        |        count(cross_entropy) AS n_p,
        |        sum(CAST(cross_entropy AS DECIMAL(18,6))) AS s_p,
        |        sum(CAST(cross_entropy AS DECIMAL(18,6)) * CAST(cross_entropy AS DECIMAL(18,6))) AS ss_p
        |      FROM j),
        |z AS (SELECT j.*,
        |        CASE WHEN j.quality_score IS NOT NULL
        |              AND sqrt(CAST(m.ss_q AS DOUBLE) / m.n - (CAST(m.s_q AS DOUBLE) / m.n) * (CAST(m.s_q AS DOUBLE) / m.n)) > 0
        |             THEN (j.quality_score - CAST(m.s_q AS DOUBLE) / m.n) /
        |                  sqrt(CAST(m.ss_q AS DOUBLE) / m.n - (CAST(m.s_q AS DOUBLE) / m.n) * (CAST(m.s_q AS DOUBLE) / m.n)) END AS z_q,
        |        CASE WHEN j.coverage IS NOT NULL
        |              AND sqrt(CAST(m.ss_c AS DOUBLE) / m.n_c - (CAST(m.s_c AS DOUBLE) / m.n_c) * (CAST(m.s_c AS DOUBLE) / m.n_c)) > 0
        |             THEN (j.coverage - CAST(m.s_c AS DOUBLE) / m.n_c) /
        |                  sqrt(CAST(m.ss_c AS DOUBLE) / m.n_c - (CAST(m.s_c AS DOUBLE) / m.n_c) * (CAST(m.s_c AS DOUBLE) / m.n_c)) END AS z_c,
        |        CASE WHEN j.cross_entropy IS NOT NULL
        |              AND sqrt(CAST(m.ss_p AS DOUBLE) / m.n_p - (CAST(m.s_p AS DOUBLE) / m.n_p) * (CAST(m.s_p AS DOUBLE) / m.n_p)) > 0
        |             THEN -((j.cross_entropy - CAST(m.s_p AS DOUBLE) / m.n_p) /
        |                  sqrt(CAST(m.ss_p AS DOUBLE) / m.n_p - (CAST(m.s_p AS DOUBLE) / m.n_p) * (CAST(m.s_p AS DOUBLE) / m.n_p))) END AS z_p
        |      FROM j CROSS JOIN m)
        |SELECT doc_id, quality_score, coverage, cross_entropy,
        |       CAST((z_q IS NOT NULL)::int + (z_c IS NOT NULL)::int + (z_p IS NOT NULL)::int AS BIGINT) AS n_signals,
        |       round((coalesce(z_q, 0.0) + coalesce(z_c, 0.0) + coalesce(z_p, 0.0)) /
        |             ((z_q IS NOT NULL)::int + (z_c IS NOT NULL)::int + (z_p IS NOT NULL)::int), 6) AS ensemble
        |FROM z ORDER BY doc_id""".stripMargin),

    // pairwise Pearson agreement over the SAME signal join (shared CTEs):
    // per pair, decimal-exact sums restricted to rows where BOTH signals
    // are present; r in doubles from those exact sums
    "signal_agreement" ->
      (ensembleSignalCtes + """
        |m AS (SELECT
        |  count(CASE WHEN quality_score IS NOT NULL AND coverage IS NOT NULL THEN 1 END) AS n_qc,
        |  sum(CASE WHEN quality_score IS NOT NULL AND coverage IS NOT NULL THEN CAST(quality_score AS DECIMAL(18,6)) END) AS qc_sx,
        |  sum(CASE WHEN quality_score IS NOT NULL AND coverage IS NOT NULL THEN CAST(coverage AS DECIMAL(18,6)) END) AS qc_sy,
        |  sum(CASE WHEN quality_score IS NOT NULL AND coverage IS NOT NULL THEN CAST(quality_score AS DECIMAL(18,6)) * CAST(quality_score AS DECIMAL(18,6)) END) AS qc_sxx,
        |  sum(CASE WHEN quality_score IS NOT NULL AND coverage IS NOT NULL THEN CAST(coverage AS DECIMAL(18,6)) * CAST(coverage AS DECIMAL(18,6)) END) AS qc_syy,
        |  sum(CASE WHEN quality_score IS NOT NULL AND coverage IS NOT NULL THEN CAST(quality_score AS DECIMAL(18,6)) * CAST(coverage AS DECIMAL(18,6)) END) AS qc_sxy,
        |  count(CASE WHEN quality_score IS NOT NULL AND cross_entropy IS NOT NULL THEN 1 END) AS n_qp,
        |  sum(CASE WHEN quality_score IS NOT NULL AND cross_entropy IS NOT NULL THEN CAST(quality_score AS DECIMAL(18,6)) END) AS qp_sx,
        |  sum(CASE WHEN quality_score IS NOT NULL AND cross_entropy IS NOT NULL THEN CAST(cross_entropy AS DECIMAL(18,6)) END) AS qp_sy,
        |  sum(CASE WHEN quality_score IS NOT NULL AND cross_entropy IS NOT NULL THEN CAST(quality_score AS DECIMAL(18,6)) * CAST(quality_score AS DECIMAL(18,6)) END) AS qp_sxx,
        |  sum(CASE WHEN quality_score IS NOT NULL AND cross_entropy IS NOT NULL THEN CAST(cross_entropy AS DECIMAL(18,6)) * CAST(cross_entropy AS DECIMAL(18,6)) END) AS qp_syy,
        |  sum(CASE WHEN quality_score IS NOT NULL AND cross_entropy IS NOT NULL THEN CAST(quality_score AS DECIMAL(18,6)) * CAST(cross_entropy AS DECIMAL(18,6)) END) AS qp_sxy,
        |  count(CASE WHEN coverage IS NOT NULL AND cross_entropy IS NOT NULL THEN 1 END) AS n_cp,
        |  sum(CASE WHEN coverage IS NOT NULL AND cross_entropy IS NOT NULL THEN CAST(coverage AS DECIMAL(18,6)) END) AS cp_sx,
        |  sum(CASE WHEN coverage IS NOT NULL AND cross_entropy IS NOT NULL THEN CAST(cross_entropy AS DECIMAL(18,6)) END) AS cp_sy,
        |  sum(CASE WHEN coverage IS NOT NULL AND cross_entropy IS NOT NULL THEN CAST(coverage AS DECIMAL(18,6)) * CAST(coverage AS DECIMAL(18,6)) END) AS cp_sxx,
        |  sum(CASE WHEN coverage IS NOT NULL AND cross_entropy IS NOT NULL THEN CAST(cross_entropy AS DECIMAL(18,6)) * CAST(cross_entropy AS DECIMAL(18,6)) END) AS cp_syy,
        |  sum(CASE WHEN coverage IS NOT NULL AND cross_entropy IS NOT NULL THEN CAST(coverage AS DECIMAL(18,6)) * CAST(cross_entropy AS DECIMAL(18,6)) END) AS cp_sxy
        |  FROM j),
        |p AS (
        |  SELECT 'coverage~cross_entropy' AS pair, CAST(n_cp AS BIGINT) AS n_both,
        |    CAST(n_cp AS DOUBLE) * CAST(cp_sxy AS DOUBLE) - CAST(cp_sx AS DOUBLE) * CAST(cp_sy AS DOUBLE) AS num,
        |    (CAST(n_cp AS DOUBLE) * CAST(cp_sxx AS DOUBLE) - CAST(cp_sx AS DOUBLE) * CAST(cp_sx AS DOUBLE)) *
        |    (CAST(n_cp AS DOUBLE) * CAST(cp_syy AS DOUBLE) - CAST(cp_sy AS DOUBLE) * CAST(cp_sy AS DOUBLE)) AS den2
        |  FROM m
        |  UNION ALL
        |  SELECT 'quality_score~coverage', CAST(n_qc AS BIGINT),
        |    CAST(n_qc AS DOUBLE) * CAST(qc_sxy AS DOUBLE) - CAST(qc_sx AS DOUBLE) * CAST(qc_sy AS DOUBLE),
        |    (CAST(n_qc AS DOUBLE) * CAST(qc_sxx AS DOUBLE) - CAST(qc_sx AS DOUBLE) * CAST(qc_sx AS DOUBLE)) *
        |    (CAST(n_qc AS DOUBLE) * CAST(qc_syy AS DOUBLE) - CAST(qc_sy AS DOUBLE) * CAST(qc_sy AS DOUBLE))
        |  FROM m
        |  UNION ALL
        |  SELECT 'quality_score~cross_entropy', CAST(n_qp AS BIGINT),
        |    CAST(n_qp AS DOUBLE) * CAST(qp_sxy AS DOUBLE) - CAST(qp_sx AS DOUBLE) * CAST(qp_sy AS DOUBLE),
        |    (CAST(n_qp AS DOUBLE) * CAST(qp_sxx AS DOUBLE) - CAST(qp_sx AS DOUBLE) * CAST(qp_sx AS DOUBLE)) *
        |    (CAST(n_qp AS DOUBLE) * CAST(qp_syy AS DOUBLE) - CAST(qp_sy AS DOUBLE) * CAST(qp_sy AS DOUBLE))
        |  FROM m)
        |SELECT pair, n_both,
        |       CASE WHEN den2 > 0 THEN round(num / sqrt(den2), 6) END AS r
        |FROM p ORDER BY pair""".stripMargin),

    "lm_perplexity" ->
      """WITH t AS (SELECT doc_id, lang, string_split(text, ' ') AS tok FROM documents),
        |b AS (SELECT doc_id, tok[i] AS w1, tok[i + 1] AS w2
        |      FROM t, unnest(generate_series(1, len(tok) - 1)) AS g(i)),
        |pd AS (SELECT doc_id, w1, w2, count(*) AS cnt FROM b GROUP BY 1, 2, 3),
        |cb AS (SELECT w1, w2, sum(cnt) AS cbi FROM pd GROUP BY 1, 2),
        |cu AS (SELECT w1, sum(cbi) AS cw FROM cb GROUP BY 1),
        |v AS (SELECT count(DISTINCT w) AS vocab
        |      FROM (SELECT unnest(tok) AS w FROM t)),
        |lp AS (SELECT cb.w1, cb.w2, ln((cbi + 0.5) / (cw + 0.5 * vocab)) AS lp
        |       FROM cb JOIN cu USING (w1) CROSS JOIN v),
        |d AS (SELECT pd.doc_id, sum(pd.cnt) AS nb, sum(pd.cnt * lp.lp) AS s
        |      FROM pd JOIN lp USING (w1, w2) GROUP BY 1)
        |SELECT t.doc_id, t.lang, CAST(coalesce(d.nb, 0) AS BIGINT) AS n_bigrams,
        |       round(-d.s / d.nb, 6) AS cross_entropy,
        |       round(exp(-d.s / d.nb), 4) AS perplexity
        |FROM t LEFT JOIN d ON t.doc_id = d.doc_id ORDER BY t.doc_id""".stripMargin,

    // the trigram interpolated model mirrors lm_perplexity's CTE shape one
    // n-gram order higher; λ/k literals and the p-assembly order are written
    // identically to Relevance.lmTrigramPerplexity's column tree
    "lm_trigram_ppl" ->
      """WITH t AS (SELECT doc_id, lang, string_split(text, ' ') AS tok FROM documents),
        |tg AS (SELECT doc_id, tok[i] AS w1, tok[i + 1] AS w2, tok[i + 2] AS w3
        |       FROM t, unnest(generate_series(1, greatest(len(tok) - 2, 0))) AS g(i)),
        |pd AS (SELECT doc_id, w1, w2, w3, count(*) AS cnt FROM tg GROUP BY 1, 2, 3, 4),
        |tri AS (SELECT w1, w2, w3, sum(cnt) AS c3 FROM pd GROUP BY 1, 2, 3),
        |cx3 AS (SELECT w1, w2, sum(c3) AS cx3 FROM tri GROUP BY 1, 2),
        |bg AS (SELECT tok[i] AS w2, tok[i + 1] AS w3
        |       FROM t, unnest(generate_series(1, greatest(len(tok) - 1, 0))) AS g(i)),
        |bi AS (SELECT w2, w3, count(*) AS cb FROM bg GROUP BY 1, 2),
        |cx2 AS (SELECT w2, sum(cb) AS cx2 FROM bi GROUP BY 1),
        |u AS (SELECT unnest(tok) AS w3 FROM t),
        |uni AS (SELECT w3, count(*) AS c1 FROM u GROUP BY 1),
        |sc AS (SELECT count(*) AS n_total, count(DISTINCT w3) AS vocab FROM u),
        |lp AS (SELECT tri.w1, tri.w2, tri.w3,
        |         ln(0.6 * (CAST(c3 AS DOUBLE) / cx3.cx3)
        |          + 0.3 * (CAST(cb AS DOUBLE) / cx2.cx2)
        |          + 0.1 * ((c1 + 0.5) / (n_total + 0.5 * vocab))) AS lp
        |       FROM tri JOIN cx3 USING (w1, w2) JOIN bi USING (w2, w3)
        |            JOIN cx2 USING (w2) JOIN uni USING (w3) CROSS JOIN sc),
        |d AS (SELECT pd.doc_id, sum(pd.cnt) AS nt, sum(pd.cnt * lp.lp) AS s
        |      FROM pd JOIN lp USING (w1, w2, w3) GROUP BY 1)
        |SELECT t.doc_id, t.lang, CAST(coalesce(d.nt, 0) AS BIGINT) AS n_trigrams,
        |       round(-d.s / d.nt, 6) AS cross_entropy,
        |       round(exp(-d.s / d.nt), 4) AS perplexity
        |FROM t LEFT JOIN d ON t.doc_id = d.doc_id ORDER BY t.doc_id""".stripMargin,

    // both models share lm_perplexity's add-k estimator; per-doc cross-
    // entropies round to 6 dp BEFORE the per-source average (identical
    // round-6 inputs make avg's summation-order noise invisible at round-6)
    "source_lm_divergence" ->
      """WITH t AS (SELECT doc_id, source, string_split(text, ' ') AS tok FROM documents),
        |b AS (SELECT doc_id, source, tok[i] AS w1, tok[i + 1] AS w2
        |      FROM t, unnest(generate_series(1, greatest(len(tok) - 1, 0))) AS g(i)),
        |pd AS (SELECT doc_id, source, w1, w2, count(*) AS cnt FROM b GROUP BY 1, 2, 3, 4),
        |cb AS (SELECT w1, w2, sum(cnt) AS cbi FROM pd GROUP BY 1, 2),
        |cu AS (SELECT w1, sum(cbi) AS cw FROM cb GROUP BY 1),
        |un AS (SELECT source, unnest(tok) AS w FROM t),
        |v AS (SELECT count(DISTINCT w) AS vocab FROM un),
        |lpg AS (SELECT w1, w2, ln((cbi + 0.5) / (cw + 0.5 * vocab)) AS lp_g
        |        FROM cb JOIN cu USING (w1) CROSS JOIN v),
        |cbs AS (SELECT source, w1, w2, sum(cnt) AS cbs FROM pd GROUP BY 1, 2, 3),
        |cus AS (SELECT source, w1, sum(cbs) AS cws FROM cbs GROUP BY 1, 2),
        |vs AS (SELECT source, count(DISTINCT w) AS vs FROM un GROUP BY 1),
        |lpl AS (SELECT cbs.source, w1, w2,
        |          ln((cbs.cbs + 0.5) / (cus.cws + 0.5 * vs.vs)) AS lp_l
        |        FROM cbs JOIN cus USING (source, w1) JOIN vs USING (source)),
        |d AS (SELECT pd.doc_id, pd.source,
        |        round(-sum(pd.cnt * lpg.lp_g) / sum(pd.cnt), 6) AS ce_g,
        |        round(-sum(pd.cnt * lpl.lp_l) / sum(pd.cnt), 6) AS ce_l
        |      FROM pd JOIN lpg USING (w1, w2)
        |           JOIN lpl ON lpl.source = pd.source AND lpl.w1 = pd.w1 AND lpl.w2 = pd.w2
        |      GROUP BY 1, 2)
        |SELECT source, count(*) AS n_docs,
        |       round(avg(ce_g), 6) AS mean_ce_global,
        |       round(avg(ce_l), 6) AS mean_ce_local,
        |       round(avg(ce_g - ce_l), 6) AS divergence
        |FROM d GROUP BY source ORDER BY source""".stripMargin,

    "token_count" ->
      """SELECT doc_id,
        |       CAST(len(string_split(text, ' ')) AS BIGINT) AS ws_tokens,
        |       CAST(len(regexp_extract_all(text, '[a-z0-9]+|[^a-z0-9 ]')) AS BIGINT) AS bpeish_tokens,
        |       CAST(length(text) AS BIGINT) AS n_chars_computed
        |FROM documents ORDER BY doc_id""".stripMargin,

    "lang_id" ->
      s"""WITH $langIdCtes
         |SELECT * FROM pred ORDER BY doc_id""".stripMargin,

    // Confusion over EXACTLY the registered classifier: the per-doc
    // prediction CTEs are shared with lang_id, not a second copy.
    "lang_confusion" ->
      s"""WITH $langIdCtes,
         |c AS (SELECT lang_declared, lang_pred, count(*) AS n_docs
         |      FROM pred GROUP BY 1, 2)
         |SELECT lang_declared, lang_pred, n_docs,
         |       round(CAST(n_docs AS DOUBLE) /
         |             sum(n_docs) OVER (PARTITION BY lang_declared), 6) AS frac_of_declared
         |FROM c ORDER BY lang_declared, lang_pred""".stripMargin,

    // runner-up language + flag over the SAME per-language hit counts as
    // lang_id; thresholds interpolate from TextAnalysis's own constants and
    // the primary-mask -1 trick mirrors the Spark value-masking exactly
    "code_switch" -> {
      val sw = graft.ops.TextAnalysis.langStopwords
      val secExpr = sw.map { case (l, _) =>
        s"CASE WHEN primary_lang = '$l' THEN CAST(-1 AS BIGINT) ELSE hits_$l END"
      }.mkString("greatest(", ", ", ")")
      val primaryCases = sw.map { case (l, _) =>
        s"WHEN hits_$l = primary_hits THEN '$l'"
      }.mkString("\n            ")
      val secondaryCases = sw.map { case (l, _) =>
        s"WHEN primary_lang <> '$l' AND hits_$l = secondary_hits THEN '$l'"
      }.mkString("\n            ")
      val minHits = graft.ops.TextAnalysis.CodeSwitchMinHits
      val minRate = graft.ops.TextAnalysis.CodeSwitchMinRate
      s"""WITH $langHitCtes,
         |b AS (SELECT *, $langBestHits AS primary_hits FROM h),
         |p AS (SELECT *, CASE $primaryCases
         |                ELSE 'und' END AS primary_lang FROM b),
         |s AS (SELECT *, $secExpr AS secondary_hits FROM p),
         |s2 AS (SELECT *,
         |         CASE WHEN secondary_hits <= 0 THEN 'und'
         |            $secondaryCases
         |            ELSE 'und' END AS secondary_lang,
         |         round(CAST(secondary_hits AS DOUBLE) / CAST(n_tokens AS DOUBLE), 6)
         |           AS secondary_rate
         |       FROM s)
         |SELECT doc_id, lang AS lang_declared, primary_lang, primary_hits,
         |       secondary_lang, secondary_hits, n_tokens, secondary_rate,
         |       (primary_hits > 0 AND secondary_hits >= $minHits
         |        AND secondary_rate >= $minRate) AS code_switched
         |FROM s2 ORDER BY doc_id""".stripMargin
    },

    "text_quality" ->
      """WITH t AS (SELECT doc_id, n_chars, length(text) AS len, string_split(text, ' ') AS tok
        |           FROM documents),
        |m AS (SELECT doc_id, n_chars,
        |        CAST(len(tok) AS BIGINT) AS n_tokens,
        |        CAST(len(tok) AS DOUBLE) AS nt,
        |        CAST(len(list_distinct(tok)) AS DOUBLE) AS nu,
        |        CAST(len AS DOUBLE) AS nc
        |      FROM t)
        |SELECT doc_id, n_chars, n_tokens,
        |       round((nc - (nt - 1.0)) / nt, 6) AS mean_token_len,
        |       round(nu / nt, 6) AS uniq_token_ratio,
        |       round(least(1.0, nt / 200.0) * (nu / nt), 6) AS quality_score,
        |       round(least(1.0, nt / 200.0) * (nu / nt), 6) >= 0.3 AS keep
        |FROM m ORDER BY doc_id""".stripMargin,

    "doc_fingerprint" ->
      """WITH t AS (SELECT doc_id, text, string_split(text, ' ') AS tok FROM documents),
        |s AS (SELECT doc_id, text,
        |        list_distinct([array_to_string(tok[i:i+7], ' ')
        |                       for i in generate_series(1, greatest(len(tok)-7, 1))]) AS sh
        |      FROM t)
        |SELECT doc_id, md5(text) AS doc_hash,
        |       list_min([('0x' || substr(md5(x), 1, 15))::BIGINT for x in sh]) AS min_shingle_hash,
        |       CAST(len(sh) AS BIGINT) AS n_shingles
        |FROM s ORDER BY doc_id""".stripMargin,

    "q1_agg" ->
      s"""SELECT l_returnflag, l_linestatus,
         |       CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
         |       CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
         |       CAST(sum($discPrice) AS DOUBLE) AS sum_disc_price,
         |       count(*) AS count_order
         |FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02'
         |GROUP BY l_returnflag, l_linestatus ORDER BY l_returnflag, l_linestatus""".stripMargin,

    "q3_join" ->
      s"""SELECT l_orderkey, o_orderdate, o_orderpriority,
         |       CAST(sum($discPrice) AS DOUBLE) AS revenue
         |FROM customer JOIN orders ON c_custkey = o_custkey
         |JOIN lineitem ON o_orderkey = l_orderkey
         |WHERE c_mktsegment = 'BUILDING'
         |  AND o_orderdate < TIMESTAMP '1998-03-15'
         |  AND l_shipdate > TIMESTAMP '1995-03-15'
         |GROUP BY l_orderkey, o_orderdate, o_orderpriority
         |ORDER BY revenue DESC, l_orderkey LIMIT 10""".stripMargin,

    "q5_join" ->
      s"""SELECT n_name, CAST(sum($discPrice) AS DOUBLE) AS revenue
         |FROM lineitem
         |JOIN orders ON l_orderkey = o_orderkey
         |JOIN supplier ON l_suppkey = s_suppkey
         |JOIN nation ON s_nationkey = n_nationkey
         |JOIN region ON n_regionkey = r_regionkey
         |JOIN customer ON o_custkey = c_custkey AND c_nationkey = s_nationkey
         |WHERE r_name = 'ASIA'
         |  AND o_orderdate >= TIMESTAMP '1996-01-01'
         |  AND o_orderdate < TIMESTAMP '1997-01-01'
         |GROUP BY n_name ORDER BY revenue DESC, n_name""".stripMargin,

    "q7_volume" ->
      s"""SELECT sn.n_name AS supp_nation, cn.n_name AS cust_nation,
         |       CAST(EXTRACT(year FROM l_shipdate) AS BIGINT) AS ship_year,
         |       CAST(sum($discPrice) AS DOUBLE) AS volume,
         |       count(*) AS n_items
         |FROM lineitem
         |JOIN orders ON l_orderkey = o_orderkey
         |JOIN supplier ON l_suppkey = s_suppkey
         |JOIN nation sn ON s_nationkey = sn.n_nationkey
         |JOIN customer ON o_custkey = c_custkey
         |JOIN nation cn ON c_nationkey = cn.n_nationkey
         |WHERE l_shipdate >= TIMESTAMP '1996-01-01'
         |  AND l_shipdate < TIMESTAMP '1998-01-01'
         |  AND sn.n_name <> cn.n_name
         |GROUP BY 1, 2, 3 ORDER BY supp_nation, cust_nation, ship_year""".stripMargin,

    "q4_priority" ->
      """SELECT o_orderpriority, count(*) AS late_orders
        |FROM orders
        |WHERE o_orderdate >= TIMESTAMP '1996-01-01'
        |  AND o_orderdate < TIMESTAMP '1997-01-01'
        |  AND EXISTS (SELECT 1 FROM lineitem
        |              WHERE l_orderkey = o_orderkey
        |                AND l_shipdate > o_orderdate + INTERVAL 60 DAY)
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,

    "q8_share" ->
      s"""SELECT CAST(EXTRACT(year FROM o_orderdate) AS BIGINT) AS order_year,
         |       round(COALESCE(CAST(sum(CASE WHEN sn.n_name = 'NATION_3'
         |                                     THEN $discPrice END) AS DOUBLE), 0)
         |             / CAST(sum($discPrice) AS DOUBLE), 6) AS mkt_share,
         |       CAST(sum($discPrice) AS DOUBLE) AS total_volume,
         |       count(*) AS n_items
         |FROM lineitem
         |JOIN part ON l_partkey = p_partkey
         |JOIN orders ON l_orderkey = o_orderkey
         |JOIN customer ON o_custkey = c_custkey
         |JOIN nation cn ON c_nationkey = cn.n_nationkey
         |JOIN region ON cn.n_regionkey = r_regionkey
         |JOIN supplier ON l_suppkey = s_suppkey
         |JOIN nation sn ON s_nationkey = sn.n_nationkey
         |WHERE r_name = 'ASIA' AND p_type = 'ECONOMY'
         |  AND o_orderdate >= TIMESTAMP '1996-01-01'
         |  AND o_orderdate < TIMESTAMP '1998-01-01'
         |GROUP BY 1 ORDER BY 1""".stripMargin,

    "q10_returns" ->
      s"""SELECT c_custkey, c_name, c_acctbal, n_name,
         |       CAST(sum($discPrice) AS DOUBLE) AS revenue
         |FROM customer
         |JOIN nation ON c_nationkey = n_nationkey
         |JOIN orders ON c_custkey = o_custkey
         |JOIN lineitem ON o_orderkey = l_orderkey
         |WHERE o_orderdate >= TIMESTAMP '2000-10-01'
         |  AND o_orderdate < TIMESTAMP '2001-01-01'
         |  AND l_returnflag = 'R'
         |GROUP BY 1, 2, 3, 4
         |ORDER BY revenue DESC, c_custkey LIMIT 20""".stripMargin,

    "q13_orders_dist" ->
      """WITH cnt AS (SELECT o_custkey, count(*) AS cnt FROM orders
        |             WHERE o_orderdate >= TIMESTAMP '2000-01-01' GROUP BY 1)
        |SELECT COALESCE(cnt, 0) AS n_orders, count(*) AS n_custs
        |FROM customer LEFT JOIN cnt ON c_custkey = o_custkey
        |GROUP BY 1 ORDER BY n_custs DESC, n_orders DESC""".stripMargin,

    "q14_promo" ->
      s"""SELECT round(100.0 * COALESCE(CAST(sum(CASE WHEN p_type = 'PROMO'
         |                                          THEN $discPrice END) AS DOUBLE), 0)
         |             / CAST(sum($discPrice) AS DOUBLE), 6) AS promo_share,
         |       CAST(sum($discPrice) AS DOUBLE) AS total_revenue,
         |       count(*) AS n_items
         |FROM lineitem JOIN part ON l_partkey = p_partkey
         |WHERE l_shipdate >= TIMESTAMP '2000-09-01'
         |  AND l_shipdate < TIMESTAMP '2000-10-01'""".stripMargin,

    "q18_big_orders" ->
      """WITH big AS (SELECT l_orderkey, sum(CAST(l_quantity AS DECIMAL(18,2))) AS sum_qty
        |             FROM lineitem GROUP BY 1
        |             HAVING sum(CAST(l_quantity AS DECIMAL(18,2))) > 150)
        |SELECT c_custkey, c_name, o_orderkey, o_orderdate, o_totalprice,
        |       CAST(sum_qty AS DOUBLE) AS sum_qty
        |FROM orders
        |JOIN big ON o_orderkey = l_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |ORDER BY o_totalprice DESC, o_orderkey LIMIT 100""".stripMargin,

    "q12_latency" ->
      """SELECT o_orderpriority,
        |       CAST(sum(CASE WHEN lat <= 30 THEN 1 ELSE 0 END) AS BIGINT) AS d30,
        |       CAST(sum(CASE WHEN lat > 30 AND lat <= 60 THEN 1 ELSE 0 END) AS BIGINT) AS d60,
        |       CAST(sum(CASE WHEN lat > 60 AND lat <= 90 THEN 1 ELSE 0 END) AS BIGINT) AS d90,
        |       CAST(sum(CASE WHEN lat > 90 THEN 1 ELSE 0 END) AS BIGINT) AS d90_plus,
        |       count(*) AS n_items
        |FROM (SELECT o_orderpriority,
        |             CAST(date_diff('day', CAST(o_orderdate AS DATE),
        |                            CAST(l_shipdate AS DATE)) AS BIGINT) AS lat
        |      FROM orders JOIN lineitem ON o_orderkey = l_orderkey)
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    "q15_top_supplier" ->
      s"""WITH rev AS (SELECT l_suppkey, sum($discPrice) AS rev
         |             FROM lineitem
         |             WHERE l_shipdate >= TIMESTAMP '2000-07-01'
         |               AND l_shipdate < TIMESTAMP '2000-10-01'
         |             GROUP BY 1)
         |SELECT s_suppkey, s_name, CAST(rev AS DOUBLE) AS total_revenue
         |FROM rev JOIN supplier ON l_suppkey = s_suppkey
         |WHERE rev = (SELECT max(rev) FROM rev)
         |ORDER BY s_suppkey""".stripMargin,

    "q19_disjunct" ->
      s"""SELECT CAST(sum($discPrice) AS DOUBLE) AS revenue, count(*) AS n_items
         |FROM lineitem JOIN part ON l_partkey = p_partkey
         |WHERE (p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 15
         |       AND l_quantity BETWEEN 1 AND 20)
         |   OR (p_brand = 'Brand#2' AND p_size BETWEEN 10 AND 30
         |       AND l_quantity BETWEEN 10 AND 30)
         |   OR (p_brand = 'Brand#3' AND p_size BETWEEN 20 AND 50
         |       AND l_quantity BETWEEN 20 AND 40)""".stripMargin,

    "q17_small_qty" ->
      """WITH bl AS (SELECT l_partkey, l_quantity, l_extendedprice
        |            FROM lineitem JOIN part ON l_partkey = p_partkey
        |            WHERE p_brand = 'Brand#5'),
        |pq AS (SELECT l_partkey, sum(CAST(l_quantity AS DECIMAL(18,2))) AS sq,
        |              count(*) AS cq
        |       FROM bl GROUP BY 1)
        |SELECT count(*) AS n_items,
        |       CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
        |         AS small_qty_revenue
        |FROM bl JOIN pq USING (l_partkey)
        |WHERE CAST(l_quantity AS DECIMAL(18,2)) * 2 * cq < sq""".stripMargin,

    "q9_margin" ->
      s"""SELECT n_name AS supp_nation,
         |       CAST(EXTRACT(year FROM o_orderdate) AS BIGINT) AS o_year,
         |       CAST(sum($discPrice) AS DOUBLE) AS gross_revenue,
         |       round(CAST(sum($discPrice) AS DOUBLE)
         |             - 0.1 * CAST(sum(CAST(p_retailprice AS DECIMAL(18,2))
         |                             * CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE), 6)
         |         AS margin,
         |       count(*) AS n_items
         |FROM lineitem
         |JOIN part ON l_partkey = p_partkey
         |JOIN orders ON l_orderkey = o_orderkey
         |JOIN supplier ON l_suppkey = s_suppkey
         |JOIN nation ON s_nationkey = n_nationkey
         |WHERE p_name LIKE '%widget%'
         |GROUP BY 1, 2 ORDER BY supp_nation, o_year""".stripMargin,

    "q22_dormant" ->
      """WITH a AS (SELECT sum(CAST(c_acctbal AS DECIMAL(18,2))) AS bal_sum,
        |                  count(*) AS bal_n
        |           FROM customer WHERE c_acctbal > 0)
        |SELECT n_name, count(*) AS n_custs,
        |       CAST(sum(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS total_bal
        |FROM customer CROSS JOIN a
        |JOIN nation ON c_nationkey = n_nationkey
        |WHERE CAST(c_acctbal AS DECIMAL(18,2)) * bal_n > bal_sum
        |  AND c_custkey NOT IN (SELECT o_custkey FROM orders
        |                        WHERE o_orderdate >= TIMESTAMP '2001-01-01')
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    "q2_min_cost" ->
      """WITH ps AS (SELECT l_partkey, l_suppkey,
        |                   CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
        |                   / CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS unit_cost
        |            FROM lineitem JOIN part ON l_partkey = p_partkey
        |            WHERE p_type = 'ECONOMY' AND p_size <= 10
        |            GROUP BY 1, 2),
        |mc AS (SELECT l_partkey, min(unit_cost) AS min_cost FROM ps GROUP BY 1)
        |SELECT s_acctbal, s_name, n_name, l_partkey AS p_partkey,
        |       round(unit_cost, 6) AS unit_cost
        |FROM ps
        |JOIN mc USING (l_partkey)
        |JOIN supplier ON l_suppkey = s_suppkey
        |JOIN nation ON s_nationkey = n_nationkey
        |WHERE unit_cost = min_cost
        |ORDER BY s_acctbal DESC, s_name, p_partkey LIMIT 100""".stripMargin,

    "q11_important" ->
      """WITH v AS (SELECT l_partkey,
        |                  sum(CAST(l_quantity AS DECIMAL(18,2))
        |                      * CAST(p_retailprice AS DECIMAL(18,2))) AS value
        |           FROM lineitem JOIN part ON l_partkey = p_partkey
        |           GROUP BY 1),
        |a AS (SELECT sum(value) AS total, count(*) AS n_parts FROM v)
        |SELECT l_partkey AS p_partkey, CAST(value AS DOUBLE) AS stock_value
        |FROM v CROSS JOIN a
        |WHERE value * n_parts * 10 > total * 13
        |ORDER BY stock_value DESC, p_partkey""".stripMargin,

    "q16_variety" ->
      """SELECT p_brand, p_type, p_size,
        |       CAST(count(DISTINCT l_suppkey) AS BIGINT) AS supplier_cnt
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |WHERE p_brand <> 'Brand#1'
        |GROUP BY 1, 2, 3
        |ORDER BY supplier_cnt DESC, p_brand, p_type, p_size""".stripMargin,

    "q20_excess" ->
      """WITH pp AS (SELECT p_partkey FROM part WHERE p_name LIKE '%widget%'),
        |q AS (SELECT l_suppkey, l_partkey,
        |             sum(CASE WHEN l_shipdate >= TIMESTAMP '2000-01-01'
        |                       AND l_shipdate < TIMESTAMP '2001-01-01'
        |                      THEN CAST(l_quantity AS DECIMAL(18,2))
        |                      ELSE CAST(0 AS DECIMAL(18,2)) END) AS q_year,
        |             sum(CAST(l_quantity AS DECIMAL(18,2))) AS q_total
        |      FROM lineitem JOIN pp ON l_partkey = p_partkey
        |      GROUP BY 1, 2
        |      HAVING sum(CASE WHEN l_shipdate >= TIMESTAMP '2000-01-01'
        |                       AND l_shipdate < TIMESTAMP '2001-01-01'
        |                      THEN CAST(l_quantity AS DECIMAL(18,2))
        |                      ELSE CAST(0 AS DECIMAL(18,2)) END) * 2
        |             > sum(CAST(l_quantity AS DECIMAL(18,2)))),
        |sq AS (SELECT l_suppkey, count(*) AS n_surging_parts FROM q GROUP BY 1)
        |SELECT s_suppkey, s_name, n_name, n_surging_parts
        |FROM supplier
        |JOIN nation ON s_nationkey = n_nationkey
        |JOIN sq ON s_suppkey = l_suppkey
        |ORDER BY s_suppkey""".stripMargin,

    "q21_waiting" ->
      """WITH ps AS (SELECT l_orderkey, l_suppkey,
        |                   max(CASE WHEN l_shipdate > o_orderdate + INTERVAL 60 DAY
        |                            THEN 1 ELSE 0 END) AS any_late
        |            FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |            WHERE o_orderstatus = 'F'
        |            GROUP BY 1, 2),
        |po AS (SELECT l_orderkey, count(*) AS n_supp, sum(any_late) AS n_late,
        |              max(CASE WHEN any_late = 1 THEN l_suppkey END) AS late_supp
        |       FROM ps GROUP BY 1)
        |SELECT s_suppkey, s_name, CAST(count(*) AS BIGINT) AS numwait
        |FROM po JOIN supplier ON late_supp = s_suppkey
        |WHERE n_supp > 1 AND n_late = 1
        |GROUP BY 1, 2
        |ORDER BY numwait DESC, s_suppkey LIMIT 100""".stripMargin,

    "asof_join" ->
      s"""WITH $evCte,
         |c AS (SELECT event_id, user_id, ts, value AS click_value FROM ev WHERE event_type = 'click'),
         |p AS (SELECT user_id, ts, max(event_id) AS purch_id, arg_max(value, event_id) AS purch_value
         |      FROM ev WHERE event_type = 'purchase' GROUP BY user_id, ts)
         |SELECT c.event_id, c.user_id, c.click_value, p.purch_id, p.purch_value,
         |       CAST(floor(epoch(c.ts)) AS BIGINT) - CAST(floor(epoch(p.ts)) AS BIGINT) AS wait_secs
         |FROM c ASOF LEFT JOIN p ON c.user_id = p.user_id AND c.ts >= p.ts
         |ORDER BY c.event_id""".stripMargin,

    "range_join" ->
      s"""WITH $evCte,
         |fp AS (SELECT user_id, min(event_id) AS fp_event,
         |              arg_min(CAST(floor(epoch(ts)) AS BIGINT), event_id) AS fp_s
         |       FROM ev WHERE event_type = 'purchase' GROUP BY user_id),
         |iv AS (SELECT user_id, fp_event, fp_s - 86400 AS start_s, fp_s AS end_s FROM fp),
         |v AS (SELECT event_id, user_id, CAST(floor(epoch(ts)) AS BIGINT) AS view_s,
         |             value AS view_value
         |      FROM ev WHERE event_type = 'view')
         |SELECT v.user_id, iv.fp_event, v.event_id AS view_event, v.view_value,
         |       iv.end_s - v.view_s AS secs_before_purchase
         |FROM v JOIN iv ON v.user_id = iv.user_id AND v.view_s BETWEEN iv.start_s AND iv.end_s
         |ORDER BY v.user_id, view_event""".stripMargin,

    "events_window" ->
      s"""WITH $evCte
         |SELECT event_id, user_id, event_type,
         |       lag(value, 1) OVER w AS prev_value,
         |       CAST(sum(CAST(value AS DECIMAL(18,2))) OVER w AS DOUBLE) AS running_total,
         |       CAST(floor(epoch(ts)) AS BIGINT) -
         |         lag(CAST(floor(epoch(ts)) AS BIGINT), 1) OVER w AS secs_since_prev
         |FROM ev
         |WINDOW w AS (PARTITION BY user_id ORDER BY event_id)
         |ORDER BY event_id""".stripMargin,

    "events_sessionize" ->
      s"""WITH $evCte,
         |f AS (SELECT event_id, user_id, CAST(floor(epoch(ts)) AS BIGINT) AS epoch_s, value FROM ev),
         |g AS (SELECT *, CASE WHEN epoch_s - lag(epoch_s) OVER w > 1800 THEN 1
         |                     WHEN lag(epoch_s) OVER w IS NULL THEN 1 ELSE 0 END AS is_new
         |      FROM f WINDOW w AS (PARTITION BY user_id ORDER BY event_id)),
         |s AS (SELECT *, CAST(sum(is_new) OVER (PARTITION BY user_id ORDER BY event_id) AS BIGINT) AS session_seq
         |      FROM g)
         |SELECT user_id, session_seq, count(*) AS n_events,
         |       min(event_id) AS first_event, max(event_id) AS last_event,
         |       min(epoch_s) AS start_s, max(epoch_s) AS end_s,
         |       CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
         |FROM s GROUP BY user_id, session_seq ORDER BY user_id, session_seq""".stripMargin,

    // Same gap/sequence CTE chain as events_sessionize, collapsed to the
    // per-day session-denominated conversion rate.
    "session_conversion" ->
      s"""WITH $evCte,
         |f AS (SELECT event_id, user_id, CAST(floor(epoch(ts)) AS BIGINT) AS epoch_s, event_type FROM ev),
         |g AS (SELECT *, CASE WHEN epoch_s - lag(epoch_s) OVER w > 1800 THEN 1
         |                     WHEN lag(epoch_s) OVER w IS NULL THEN 1 ELSE 0 END AS is_new
         |      FROM f WINDOW w AS (PARTITION BY user_id ORDER BY event_id)),
         |s AS (SELECT *, CAST(sum(is_new) OVER (PARTITION BY user_id ORDER BY event_id) AS BIGINT) AS session_seq
         |      FROM g),
         |sess AS (SELECT user_id, session_seq, min(epoch_s) AS start_s,
         |           max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS converted
         |         FROM s GROUP BY user_id, session_seq),
         |d AS (SELECT (start_s - start_s % 86400) // 86400 AS day,
         |        count(*) AS n_sessions, CAST(sum(converted) AS BIGINT) AS n_converted
         |      FROM sess GROUP BY 1)
         |SELECT day, n_sessions, n_converted,
         |       round(CAST(n_converted AS DOUBLE) / n_sessions, 6) AS conversion
         |FROM d ORDER BY day""".stripMargin,

    "q6_agg" ->
      """SELECT CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE) AS revenue,
        |       count(*) AS n_items
        |FROM lineitem
        |WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1997-01-01'
        |  AND l_discount BETWEEN 0.05 AND 0.07 AND l_quantity < 24""".stripMargin,

    "topk_per_group" ->
      """SELECT p_brand, price_rank, p_partkey, p_name, p_retailprice
        |FROM (SELECT p_brand, p_partkey, p_name, p_retailprice,
        |             CAST(row_number() OVER (PARTITION BY p_brand
        |               ORDER BY p_retailprice DESC, p_partkey) AS BIGINT) AS price_rank
        |      FROM part)
        |WHERE price_rank <= 3 ORDER BY p_brand, price_rank""".stripMargin,

    "corpus_rollup" ->
      """SELECT coalesce(lang, '<all>') AS lang, coalesce(source, '<all>') AS source,
        |       CAST(GROUPING(lang, source) AS BIGINT) AS gid,
        |       count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS n_chars
        |FROM documents GROUP BY ROLLUP (lang, source)
        |ORDER BY gid, lang, source""".stripMargin,

    "events_cube" ->
      s"""WITH $evCte,
         |e AS (SELECT event_type,
         |             (((CAST(floor(epoch(ts)) AS BIGINT) // 86400 + 4) % 7) + 7) % 7 AS dow,
         |             value FROM ev)
         |SELECT coalesce(event_type, '<all>') AS event_type,
         |       coalesce(dow, -1) AS dow,
         |       CAST(GROUPING(event_type, dow) AS BIGINT) AS gid,
         |       count(*) AS n_events,
         |       CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
         |FROM e GROUP BY CUBE (event_type, dow)
         |ORDER BY gid, event_type, dow""".stripMargin,

    "daily_type_matrix" ->
      s"""WITH $evCte,
         |e AS (SELECT CAST(floor(epoch(ts)) AS BIGINT) // 86400 AS day, event_type FROM ev)
         |SELECT day,
         |       CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS n_click,
         |       CAST(sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT) AS n_error,
         |       CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS n_purchase,
         |       CAST(sum(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END) AS BIGINT) AS n_signup,
         |       CAST(sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS BIGINT) AS n_view,
         |       CAST(sum(CASE WHEN event_type IN ('click','error','purchase','signup','view')
         |                     THEN 1 ELSE 0 END) AS BIGINT) AS n_total
         |FROM e GROUP BY 1 ORDER BY 1""".stripMargin,

    "retention_cohorts" ->
      s"""WITH $evCte,
         |w AS (SELECT DISTINCT user_id,
         |             CAST(floor(epoch(ts)) AS BIGINT) // 604800 AS week FROM ev),
         |c AS (SELECT user_id, week,
         |             min(week) OVER (PARTITION BY user_id) AS cohort_week FROM w)
         |SELECT cohort_week, week - cohort_week AS weeks_since, count(*) AS n_users
         |FROM c GROUP BY cohort_week, weeks_since
         |ORDER BY cohort_week, weeks_since""".stripMargin,

    // Revenue stays DECIMAL through the weekly aggregate AND the cumulative
    // window (order-proof running sum); doubles only in display columns.
    "ltv_cohorts" ->
      s"""WITH $evCte,
         |w AS (SELECT user_id, event_type, value,
         |             CAST(floor(epoch(ts)) AS BIGINT) // 604800 AS week FROM ev),
         |c AS (SELECT user_id, min(week) AS cohort_week FROM w GROUP BY user_id),
         |weekly AS (SELECT c.cohort_week, w.week - c.cohort_week AS weeks_since,
         |             sum(CAST(w.value AS DECIMAL(18,2))) AS rev_dec
         |           FROM w JOIN c ON w.user_id = c.user_id
         |           WHERE w.event_type = 'purchase'
         |           GROUP BY 1, 2),
         |sizes AS (SELECT cohort_week, count(*) AS cohort_users FROM c GROUP BY 1),
         |cum AS (SELECT cohort_week, weeks_since, rev_dec,
         |          sum(rev_dec) OVER (PARTITION BY cohort_week ORDER BY weeks_since
         |            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_dec
         |        FROM weekly)
         |SELECT m.cohort_week, m.weeks_since, s.cohort_users,
         |       CAST(m.rev_dec AS DOUBLE) AS revenue,
         |       CAST(m.cum_dec AS DOUBLE) AS cum_revenue,
         |       round(CAST(m.cum_dec AS DOUBLE) / s.cohort_users, 6) AS ltv_per_user
         |FROM cum m JOIN sizes s ON m.cohort_week = s.cohort_week
         |ORDER BY m.cohort_week, m.weeks_since""".stripMargin,

    // Same CTE chain as funnel_counts with the 3-day deadline on epoch
    // seconds — integer comparisons, exact on both engines.
    "funnel_windowed" ->
      s"""WITH $evCte,
         |u AS (SELECT user_id, min(CASE WHEN event_type = 'view' THEN ts END) AS v1
         |      FROM ev GROUP BY user_id),
         |c AS (SELECT e.user_id, min(e.ts) AS c1 FROM ev e JOIN u ON e.user_id = u.user_id
         |      WHERE e.event_type = 'click' AND e.ts >= u.v1
         |        AND CAST(floor(epoch(e.ts)) AS BIGINT) <= CAST(floor(epoch(u.v1)) AS BIGINT) + 259200
         |      GROUP BY e.user_id),
         |p AS (SELECT e.user_id, min(e.ts) AS p1 FROM ev e JOIN c ON e.user_id = c.user_id
         |      WHERE e.event_type = 'purchase' AND e.ts >= c.c1
         |        AND CAST(floor(epoch(e.ts)) AS BIGINT) <= CAST(floor(epoch(c.c1)) AS BIGINT) + 259200
         |      GROUP BY e.user_id)
         |SELECT (SELECT count(*) FROM u) AS n_users,
         |       (SELECT count(*) FROM u WHERE v1 IS NOT NULL) AS n_viewed,
         |       (SELECT count(*) FROM c) AS n_clicked_in_window,
         |       (SELECT count(*) FROM p) AS n_purchased_in_window""".stripMargin,

    "source_dedup_rate" ->
      """WITH f AS (SELECT md5(text) AS th, min(doc_id) AS keep_id
        |           FROM documents GROUP BY md5(text))
        |SELECT d.source, count(*) AS n_docs,
        |       CAST(sum(CASE WHEN d.doc_id <> f.keep_id THEN 1 ELSE 0 END) AS BIGINT)
        |         AS n_dropped,
        |       round(CAST(sum(CASE WHEN d.doc_id <> f.keep_id THEN 1 ELSE 0 END) AS DOUBLE)
        |             / count(*), 6) AS dup_rate
        |FROM documents d JOIN f ON md5(d.text) = f.th
        |GROUP BY d.source ORDER BY d.source""".stripMargin,

    "funnel_counts" ->
      s"""WITH $evCte,
         |u AS (SELECT user_id, min(CASE WHEN event_type = 'view' THEN ts END) AS v1
         |      FROM ev GROUP BY user_id),
         |c AS (SELECT e.user_id, min(e.ts) AS c1 FROM ev e JOIN u ON e.user_id = u.user_id
         |      WHERE e.event_type = 'click' AND e.ts >= u.v1 GROUP BY e.user_id),
         |p AS (SELECT e.user_id, min(e.ts) AS p1 FROM ev e JOIN c ON e.user_id = c.user_id
         |      WHERE e.event_type = 'purchase' AND e.ts >= c.c1 GROUP BY e.user_id)
         |SELECT (SELECT count(*) FROM u) AS n_users,
         |       (SELECT count(*) FROM u WHERE v1 IS NOT NULL) AS n_viewed,
         |       (SELECT count(*) FROM c) AS n_clicked_after_view,
         |       (SELECT count(*) FROM p) AS n_purchased_after_click""".stripMargin,

    "distinct_users" ->
      s"""WITH $evCte
         |SELECT event_type, count(DISTINCT user_id) AS n_users, count(*) AS n_events
         |FROM ev GROUP BY event_type ORDER BY event_type""".stripMargin,

    "daily_trend" ->
      s"""WITH $evCte,
         |d AS (SELECT CAST(floor(epoch(ts)) AS BIGINT) // 86400 AS day,
         |             sum(CAST(value AS DECIMAL(18,2))) AS rev, count(*) AS n
         |      FROM ev WHERE event_type = 'purchase' GROUP BY day)
         |SELECT day, CAST(rev AS DOUBLE) AS revenue, n AS n_purchases,
         |       round(CAST(sum(rev) OVER w AS DOUBLE) /
         |             CAST(sum(n) OVER w AS DOUBLE), 6) AS avg_purchase_7d
         |FROM d WINDOW w AS (ORDER BY day RANGE BETWEEN 6 PRECEDING AND CURRENT ROW)
         |ORDER BY day""".stripMargin,

    "viewers_no_purchase" ->
      s"""WITH $evCte
         |SELECT user_id, count(*) AS n_views FROM ev
         |WHERE event_type = 'view'
         |  AND user_id NOT IN (SELECT user_id FROM ev
         |                      WHERE event_type = 'purchase' AND value > 90.0)
         |GROUP BY user_id ORDER BY user_id""".stripMargin,

    "rolling_active_users" ->
      s"""WITH $evCte,
         |g AS (SELECT DISTINCT user_id,
         |             CAST(floor(epoch(ts)) AS BIGINT) // 86400 AS day FROM ev),
         |days AS (SELECT DISTINCT day FROM g),
         |x AS (SELECT g.user_id, d.day
         |      FROM g JOIN days d ON d.day BETWEEN g.day AND g.day + 6)
         |SELECT day, count(DISTINCT user_id) AS active_7d
         |FROM x GROUP BY day ORDER BY day""".stripMargin,

    // B22b: type-token curve for n=1..4 — positional gram occurrences vs
    // corpus-wide distinct md5-prefix hashes, sub-n docs excluded per n.
    "ngram_diversity" ->
      (1 to 4).map { n =>
        s"""SELECT $n AS n, CAST(count(*) AS BIGINT) AS total_ngrams,
           |       CAST(count(DISTINCT h) AS BIGINT) AS distinct_ngrams,
           |       round(CAST(count(DISTINCT h) AS DOUBLE) / count(*), 6) AS diversity
           |FROM (SELECT ('0x' || substr(md5(array_to_string(t[i:i+${n - 1}], ' ')), 1, 15))::BIGINT AS h
           |      FROM (SELECT string_split(text, ' ') AS t FROM documents) arr,
           |           unnest(generate_series(1, greatest(len(t) - ${n - 1}, 1))) AS g(i)
           |      WHERE len(t) >= $n)""".stripMargin
      }.mkString("", "\nUNION ALL\n", "\nORDER BY n"),

    // B22c: per-doc OOV fraction against vocab_top's exact top-16 (same
    // tf DESC, token tie rule).
    "oov_rate" ->
      """WITH e AS (SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents),
        |c AS (SELECT doc_id, token, count(*) AS cnt FROM e GROUP BY doc_id, token),
        |v AS (SELECT token FROM (
        |        SELECT token, sum(cnt) AS tf FROM c GROUP BY token
        |        ORDER BY tf DESC, token LIMIT 16)),
        |j AS (SELECT e.doc_id, e.token, (v.token IS NOT NULL) AS invocab
        |      FROM e LEFT JOIN v ON e.token = v.token)
        |SELECT doc_id, count(*) AS n_tokens,
        |       CAST(sum(CASE WHEN invocab THEN 0 ELSE 1 END) AS BIGINT) AS n_oov,
        |       round(CAST(sum(CASE WHEN invocab THEN 0 ELSE 1 END) AS DOUBLE) / count(*), 6) AS oov_frac
        |FROM j GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    "vocab_top" ->
      """WITH e AS (SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents),
        |c AS (SELECT doc_id, token, count(*) AS cnt FROM e GROUP BY doc_id, token)
        |SELECT token, CAST(sum(cnt) AS BIGINT) AS tf, count(*) AS df
        |FROM c GROUP BY token ORDER BY tf DESC, token LIMIT 100""".stripMargin,

    // Exact top-k is a valid oracle for the Misra-Gries sketch ONLY while
    // per-partition distinct tokens <= m (=256): below capacity MG never
    // decrements and the merged estimate IS the exact count. The gate corpus
    // holds a ~31-token vocabulary; the eviction path is spec-tested with
    // m=4 (CorpusSpec).
    "heavy_hitters" ->
      """WITH t AS (SELECT unnest(string_split(text, ' ')) AS w FROM documents)
        |SELECT w, count(*) AS est FROM t
        |GROUP BY w ORDER BY est DESC, w LIMIT 50""".stripMargin,

    // ln composition follows the BM25 precedent (integer-argument logs,
    // 6-dp round); rank ties break by token so the ranking is total.
    "zipf_fit" ->
      """WITH tk AS (SELECT unnest(string_split(text, ' ')) AS token FROM documents),
        |c AS (SELECT token, count(*) AS cnt FROM tk WHERE len(token) > 0 GROUP BY token),
        |r AS (SELECT cnt, row_number() OVER (ORDER BY cnt DESC, token) AS rank FROM c),
        |m AS (SELECT CAST(count(*) AS DOUBLE) AS n,
        |             sum(ln(CAST(rank AS DOUBLE))) AS sx,
        |             sum(ln(CAST(cnt AS DOUBLE))) AS sy,
        |             sum(ln(CAST(rank AS DOUBLE)) * ln(CAST(cnt AS DOUBLE))) AS sxy,
        |             sum(ln(CAST(rank AS DOUBLE)) * ln(CAST(rank AS DOUBLE))) AS sxx
        |      FROM r)
        |SELECT CAST(n AS BIGINT) AS n_types,
        |       round((n * sxy - sx * sy) / (n * sxx - sx * sx), 6) AS zipf_slope,
        |       round((sy - sx * ((n * sxy - sx * sy) / (n * sxx - sx * sx))) / n, 6)
        |         AS intercept
        |FROM m""".stripMargin,

    // Count-Min is deterministic md5-row hashing, so the oracle replays the
    // FULL approximation — estimates must be identical, not merely bounded.
    // The sketch is linear, so building it from grouped counts (here) and
    // from raw instances (the Spark side) is the same sketch.
    "count_min_freq" ->
      """WITH tk AS (SELECT unnest(string_split(text, ' ')) AS token FROM documents),
        |inst AS (SELECT token, count(*) AS n FROM tk WHERE len(token) > 0 GROUP BY token),
        |r AS (SELECT unnest(generate_series(0, 3)) AS i),
        |sk AS (SELECT i,
        |         ('0x' || substr(md5(CAST(i AS VARCHAR) || ':' || token), 1, 15))::BIGINT % 256 AS bucket,
        |         CAST(sum(n) AS BIGINT) AS cnt
        |       FROM inst, r GROUP BY 1, 2),
        |probe AS (SELECT token, n AS exact_n, i,
        |            ('0x' || substr(md5(CAST(i AS VARCHAR) || ':' || token), 1, 15))::BIGINT % 256 AS bucket
        |          FROM inst, r)
        |SELECT p.token, p.exact_n, min(sk.cnt) AS cm_est,
        |       min(sk.cnt) - p.exact_n AS overestimate
        |FROM probe p JOIN sk ON sk.i = p.i AND sk.bucket = p.bucket
        |GROUP BY p.token, p.exact_n
        |ORDER BY p.token""".stripMargin,

    // Phrase search: the probe phrase is derived in-corpus (dominant k-gram
    // by count desc, hash asc) so the query is non-vacuous at every SF.
    "phrase_search" ->
      """WITH arr AS (SELECT doc_id, source, string_split(text, ' ') AS t FROM documents),
        |st AS (SELECT doc_id, source, i AS pos,
        |         ('0x' || substr(md5(array_to_string(t[i:i+4], ' ')), 1, 15))::BIGINT AS h
        |       FROM arr, unnest(generate_series(1, greatest(len(t) - 4, 1))) AS g(i)),
        |top AS (SELECT h, CAST(count(*) AS BIGINT) AS n_occurrences FROM st GROUP BY h
        |        ORDER BY n_occurrences DESC, h LIMIT 1)
        |SELECT st.doc_id, CAST(st.pos AS BIGINT) AS pos, st.source, top.n_occurrences
        |FROM st JOIN top USING (h) ORDER BY st.doc_id, st.pos""".stripMargin,

    // The arithmetic tree mirrors Relevance.bm25Search token for token:
    // constants compose IN-ENGINE ((1.2 + 1.0), never a 2.2 literal — the
    // Scala-side sum is a different double), inputs are exact integers, and
    // the per-doc sum rounds to 6 dp before the tie-broken top-k cut.
    "bm25_search" ->
      """WITH d AS (SELECT doc_id, string_split(text, ' ') AS tok FROM documents),
        |dl AS (SELECT doc_id, CAST(len(tok) AS BIGINT) AS dl FROM d),
        |e AS (SELECT doc_id, unnest(tok) AS w FROM d),
        |tf AS (SELECT e.doc_id, dl.dl, e.w, count(*) AS tf
        |       FROM e JOIN dl ON dl.doc_id = e.doc_id
        |       WHERE e.w IN ('spark', 'window', 'merge')
        |       GROUP BY e.doc_id, dl.dl, e.w),
        |stats AS (SELECT count(*) AS n_docs, CAST(sum(dl) AS BIGINT) AS sum_dl FROM dl),
        |dfs AS (SELECT w, count(*) AS df FROM tf GROUP BY w)
        |SELECT doc_id, count(*) AS n_terms,
        |       round(sum(
        |         ln(1.0 + (stats.n_docs - dfs.df + 0.5) / (dfs.df + 0.5))
        |         * (tf.tf * (1.2 + 1.0))
        |         / (tf.tf + 1.2 * (1.0 - 0.75 + 0.75 * tf.dl
        |                           / (CAST(stats.sum_dl AS DOUBLE) / stats.n_docs)))
        |       ), 6) AS score
        |FROM tf JOIN dfs USING (w) CROSS JOIN stats
        |GROUP BY doc_id ORDER BY score DESC, doc_id LIMIT 50""".stripMargin,

    // RRF fusion of the B53 BM25 pool and the B5 exact-cosine pool; both
    // pool scores round to 6 dp BEFORE ranking and the fused sum rounds
    // before the final rank, so the two engines rank identical integers.
    "hybrid_search" ->
      """WITH q(query_id, terms) AS (VALUES
        |  (CAST(0 AS BIGINT), ['spark', 'window', 'merge']),
        |  (CAST(1 AS BIGINT), ['customer', 'join', 'stream'])),
        |qt AS (SELECT query_id, unnest(terms) AS w FROM q),
        |d AS (SELECT doc_id, string_split(text, ' ') AS tok FROM documents),
        |dl AS (SELECT doc_id, CAST(len(tok) AS BIGINT) AS dl FROM d),
        |e AS (SELECT doc_id, unnest(tok) AS w FROM d),
        |tf AS (SELECT e.doc_id, dl.dl, e.w, count(*) AS tf
        |       FROM e JOIN dl USING (doc_id)
        |       WHERE e.w IN (SELECT DISTINCT w FROM qt)
        |       GROUP BY e.doc_id, dl.dl, e.w),
        |stats AS (SELECT count(*) AS n_docs, CAST(sum(dl) AS BIGINT) AS sum_dl FROM dl),
        |dfs AS (SELECT w, count(*) AS df FROM tf GROUP BY w),
        |lexs AS (SELECT qt.query_id, tf.doc_id,
        |           round(sum(
        |             ln(1.0 + (stats.n_docs - dfs.df + 0.5) / (dfs.df + 0.5))
        |             * (tf.tf * (1.2 + 1.0))
        |             / (tf.tf + 1.2 * (1.0 - 0.75 + 0.75 * tf.dl
        |                               / (CAST(stats.sum_dl AS DOUBLE) / stats.n_docs)))
        |           ), 6) AS score
        |         FROM tf JOIN qt USING (w) JOIN dfs USING (w) CROSS JOIN stats
        |         WHERE tf.doc_id <> qt.query_id
        |         GROUP BY qt.query_id, tf.doc_id),
        |lex AS (SELECT query_id, doc_id, lex_rank FROM (
        |          SELECT query_id, doc_id,
        |                 CAST(row_number() OVER (PARTITION BY query_id
        |                   ORDER BY score DESC, doc_id) AS BIGINT) AS lex_rank
        |          FROM lexs) WHERE lex_rank <= 50),
        |emb AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        |        FROM embeddings),
        |qv AS (SELECT vec_id AS query_id, v AS qv FROM emb WHERE vec_id IN (0, 1)),
        |sems AS (SELECT query_id, vec_id AS doc_id,
        |           round(list_sum(list_transform(list_zip(v, qv), p -> p[1] * p[2])) /
        |                 (sqrt(list_sum(list_transform(v, x -> x * x))) *
        |                  sqrt(list_sum(list_transform(qv, x -> x * x)))), 6) AS cos
        |         FROM emb, qv WHERE vec_id <> query_id),
        |sem AS (SELECT query_id, doc_id, sem_rank FROM (
        |          SELECT query_id, doc_id,
        |                 CAST(row_number() OVER (PARTITION BY query_id
        |                   ORDER BY cos DESC, doc_id) AS BIGINT) AS sem_rank
        |          FROM sems) WHERE sem_rank <= 50),
        |fused AS (SELECT query_id, doc_id, lex_rank, sem_rank,
        |            round(coalesce(1.0 / (60.0 + lex_rank), 0)
        |                + coalesce(1.0 / (60.0 + sem_rank), 0), 6) AS rrf
        |          FROM lex FULL OUTER JOIN sem USING (query_id, doc_id))
        |SELECT query_id, rank, doc_id, rrf, lex_rank, sem_rank FROM (
        |  SELECT query_id, doc_id, rrf, lex_rank, sem_rank,
        |         CAST(row_number() OVER (PARTITION BY query_id
        |           ORDER BY rrf DESC, doc_id) AS BIGINT) AS rank
        |  FROM fused) WHERE rank <= 10
        |ORDER BY query_id, rank""".stripMargin,

    "doc_top_terms" ->
      """WITH e AS (SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents),
        |c AS (SELECT doc_id, token, count(*) AS cnt FROM e GROUP BY doc_id, token),
        |d AS (SELECT token, count(*) AS df FROM c GROUP BY token),
        |n AS (SELECT count(*) AS n_docs FROM documents),
        |s AS (SELECT c.doc_id, c.token,
        |        round(CAST(c.cnt AS DOUBLE) * n.n_docs / d.df, 6) AS score
        |      FROM c JOIN d USING (token), n)
        |SELECT doc_id, term_rank, token, score FROM (
        |  SELECT doc_id, token, score,
        |         CAST(row_number() OVER (PARTITION BY doc_id
        |           ORDER BY score DESC, token) AS BIGINT) AS term_rank
        |  FROM s)
        |WHERE term_rank <= 5 ORDER BY doc_id, term_rank""".stripMargin,

    "doc_chunks" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS tok FROM documents),
        |x AS (SELECT doc_id, tok,
        |        greatest(1, (len(tok) - 8 + 55) // 56) AS nch FROM t),
        |c AS (SELECT doc_id, tok, unnest(generate_series(1, nch)) AS i FROM x)
        |SELECT doc_id, CAST(i - 1 AS BIGINT) AS chunk_id,
        |       CAST(len(tok[(i-1)*56+1:(i-1)*56+64]) AS BIGINT) AS n_chunk_tokens,
        |       array_to_string(tok[(i-1)*56+1:(i-1)*56+64], ' ') AS chunk_text
        |FROM c ORDER BY doc_id, chunk_id""".stripMargin,

    "passage_dedup" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS tok FROM documents),
        |x AS (SELECT doc_id, tok, greatest(1, (len(tok) + 31) // 32) AS nch FROM t),
        |c AS (SELECT doc_id, tok, unnest(generate_series(1, nch)) AS i FROM x),
        |ch AS (SELECT doc_id, CAST(i - 1 AS BIGINT) AS chunk_id,
        |              array_to_string(tok[(i-1)*32+1:(i-1)*32+32], ' ') AS chunk_text
        |       FROM c),
        |r AS (SELECT *, row_number() OVER (PARTITION BY chunk_text ORDER BY doc_id, chunk_id) AS rn
        |      FROM ch)
        |SELECT doc_id, count(*) AS n_chunks,
        |       CAST(sum(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
        |       coalesce(string_agg(CASE WHEN rn = 1 THEN chunk_text END, ' ' ORDER BY chunk_id), '') AS kept_text
        |FROM r GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    // positional 5-gram hashes (same 60-bit md5 form as sparse_sim's
    // tokens, slice clamps for docs shorter than k); a token is removed
    // iff any corpus-duplicated gram starts within the trailing k-window
    "dup_span_trim" ->
      """WITH arr AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
        |st AS (SELECT doc_id, i AS pos,
        |         ('0x' || substr(md5(array_to_string(t[i:i+4], ' ')), 1, 15))::BIGINT AS h
        |       FROM arr, unnest(generate_series(1, greatest(len(t) - 4, 1))) AS g(i)),
        |dup AS (SELECT h FROM st GROUP BY h HAVING count(*) >= 2),
        |ds AS (SELECT st.doc_id, st.pos, CASE WHEN dup.h IS NULL THEN 0 ELSE 1 END AS d
        |       FROM st LEFT JOIN dup USING (h)),
        |tk AS (SELECT doc_id, i AS pos, t[i] AS token
        |       FROM arr, unnest(generate_series(1, len(t))) AS g(i)),
        |fl AS (SELECT tk.doc_id, tk.pos, tk.token, coalesce(ds.d, 0) AS d
        |       FROM tk LEFT JOIN ds ON tk.doc_id = ds.doc_id AND tk.pos = ds.pos),
        |mk AS (SELECT *, max(d) OVER (PARTITION BY doc_id ORDER BY pos
        |         ROWS BETWEEN 4 PRECEDING AND CURRENT ROW) AS covered FROM fl)
        |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
        |       CAST(sum(covered) AS BIGINT) AS n_removed,
        |       coalesce(string_agg(CASE WHEN covered = 0 THEN token END, ' ' ORDER BY pos), '')
        |         AS trimmed_text
        |FROM mk GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    // B68: content-defined chunking — a cut lands AFTER token p (p in
    // [k, n-1], k=3) when the 3-gram ending at p (60-bit md5 form, i.e.
    // the gram STARTING at p-2) is 0 mod 16; chunk ids are 1 + the count
    // of cuts at earlier positions, the exact window-sum replay of the
    // Spark side's array formulation.
    "cdc_chunks" ->
      """WITH arr AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
        |cut AS (SELECT a.doc_id, i + 2 AS cutpos
        |        FROM arr a, unnest(generate_series(1, greatest(len(t) - 2, 1))) AS g(i)
        |        WHERE i + 2 <= len(a.t) - 1
        |          AND ('0x' || substr(md5(array_to_string(a.t[i:i+2], ' ')), 1, 15))::BIGINT % 16 = 0),
        |tk AS (SELECT doc_id, i AS pos, t[i] AS token
        |       FROM arr, unnest(generate_series(1, len(t))) AS g(i)),
        |fl AS (SELECT tk.doc_id, tk.pos, tk.token,
        |              CASE WHEN cut.cutpos IS NULL THEN 0 ELSE 1 END AS c
        |       FROM tk LEFT JOIN cut ON tk.doc_id = cut.doc_id AND tk.pos = cut.cutpos),
        |ck AS (SELECT *, 1 + coalesce(sum(c) OVER (PARTITION BY doc_id ORDER BY pos
        |         ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS chunk_id FROM fl)
        |SELECT doc_id, CAST(chunk_id AS BIGINT) AS chunk_id,
        |       CAST(min(pos) AS BIGINT) AS first_pos,
        |       CAST(count(*) AS BIGINT) AS n_chunk_tokens,
        |       string_agg(token, ' ' ORDER BY pos) AS chunk_text
        |FROM ck GROUP BY doc_id, chunk_id ORDER BY doc_id, chunk_id""".stripMargin,

    // B68b: keep-first passage dedup over the CDC chunks above (the
    // passage_dedup replay with content-defined boundaries)
    "cdc_dedup" ->
      """WITH arr AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
        |cut AS (SELECT a.doc_id, i + 2 AS cutpos
        |        FROM arr a, unnest(generate_series(1, greatest(len(t) - 2, 1))) AS g(i)
        |        WHERE i + 2 <= len(a.t) - 1
        |          AND ('0x' || substr(md5(array_to_string(a.t[i:i+2], ' ')), 1, 15))::BIGINT % 16 = 0),
        |tk AS (SELECT doc_id, i AS pos, t[i] AS token
        |       FROM arr, unnest(generate_series(1, len(t))) AS g(i)),
        |fl AS (SELECT tk.doc_id, tk.pos, tk.token,
        |              CASE WHEN cut.cutpos IS NULL THEN 0 ELSE 1 END AS c
        |       FROM tk LEFT JOIN cut ON tk.doc_id = cut.doc_id AND tk.pos = cut.cutpos),
        |ck AS (SELECT *, 1 + coalesce(sum(c) OVER (PARTITION BY doc_id ORDER BY pos
        |         ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS chunk_id FROM fl),
        |ch AS (SELECT doc_id, chunk_id, string_agg(token, ' ' ORDER BY pos) AS chunk_text
        |       FROM ck GROUP BY doc_id, chunk_id),
        |r AS (SELECT *, row_number() OVER (PARTITION BY chunk_text ORDER BY doc_id, chunk_id) AS rn
        |      FROM ch)
        |SELECT doc_id, count(*) AS n_chunks,
        |       CAST(sum(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
        |       coalesce(string_agg(CASE WHEN rn = 1 THEN chunk_text END, ' ' ORDER BY chunk_id), '') AS kept_text
        |FROM r GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    // B67: maximal variable-length repeated spans — dup 20-gram start
    // positions chained as COVERAGE ISLANDS (break at start gap > 20,
    // B13c's rule, so spans are disjoint and tile the trim set); n_runs
    // counts the strict consecutive-start runs inside each island. Docs
    // shorter than 20 tokens are excluded (a >=20-token repeat cannot
    // exist in them), so generate_series' upper bound is always positive.
    "exact_substr_spans" ->
      """WITH arr AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
        |fil AS (SELECT * FROM arr WHERE len(t) >= 20),
        |st AS (SELECT doc_id, i AS pos,
        |         ('0x' || substr(md5(array_to_string(t[i:i+19], ' ')), 1, 15))::BIGINT AS h
        |       FROM fil, unnest(generate_series(1, len(t) - 19)) AS g(i)),
        |dup AS (SELECT h FROM st GROUP BY h HAVING count(*) >= 2),
        |ds AS (SELECT st.doc_id, st.pos FROM st JOIN dup USING (h)),
        |gp AS (SELECT doc_id, pos,
        |         pos - lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) AS gap
        |       FROM ds),
        |mk AS (SELECT doc_id, pos,
        |         CASE WHEN gap > 20 THEN 1 ELSE 0 END AS brk,
        |         CASE WHEN gap IS NULL OR gap > 1 THEN 1 ELSE 0 END AS run_brk
        |       FROM gp),
        |isl AS (SELECT doc_id, pos, run_brk,
        |          sum(brk) OVER (PARTITION BY doc_id ORDER BY pos) AS grp
        |        FROM mk),
        |sp AS (SELECT doc_id, CAST(min(pos) AS BIGINT) AS span_start,
        |              CAST(max(pos) + 19 AS BIGINT) AS span_end,
        |              CAST(sum(run_brk) AS BIGINT) AS n_runs
        |       FROM isl GROUP BY doc_id, grp)
        |SELECT doc_id, span_start, span_end, span_end - span_start + 1 AS span_len, n_runs
        |FROM sp ORDER BY doc_id, span_start""".stripMargin,

    // B67b: the dup_span_trim replay at k = 20 (see exactSubstrTrim's
    // equivalence note) — clamped slices keep short docs in, like B34.
    "exact_substr_trim" ->
      """WITH arr AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
        |st AS (SELECT doc_id, i AS pos,
        |         ('0x' || substr(md5(array_to_string(t[i:i+19], ' ')), 1, 15))::BIGINT AS h
        |       FROM arr, unnest(generate_series(1, greatest(len(t) - 19, 1))) AS g(i)),
        |dup AS (SELECT h FROM st GROUP BY h HAVING count(*) >= 2),
        |ds AS (SELECT st.doc_id, st.pos, CASE WHEN dup.h IS NULL THEN 0 ELSE 1 END AS d
        |       FROM st LEFT JOIN dup USING (h)),
        |tk AS (SELECT doc_id, i AS pos, t[i] AS token
        |       FROM arr, unnest(generate_series(1, len(t))) AS g(i)),
        |fl AS (SELECT tk.doc_id, tk.pos, tk.token, coalesce(ds.d, 0) AS d
        |       FROM tk LEFT JOIN ds ON tk.doc_id = ds.doc_id AND tk.pos = ds.pos),
        |mk AS (SELECT *, max(d) OVER (PARTITION BY doc_id ORDER BY pos
        |         ROWS BETWEEN 19 PRECEDING AND CURRENT ROW) AS covered FROM fl)
        |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
        |       CAST(sum(covered) AS BIGINT) AS n_removed,
        |       coalesce(string_agg(CASE WHEN covered = 0 THEN token END, ' ' ORDER BY pos), '')
        |         AS trimmed_text
        |FROM mk GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    // DuckDB regexp_replace is first-match-only without the 'g' flag
    // (Spark's is always global) — every replace below passes 'g'.
    "dedup_normalized" ->
      """WITH n AS (SELECT doc_id, lang, source, md5(text) AS text_hash,
        |                  md5(trim(regexp_replace(lower(text),
        |                      '[^a-z0-9]+', ' ', 'g'))) AS norm_hash
        |           FROM documents),
        |r AS (SELECT *, row_number() OVER (PARTITION BY norm_hash ORDER BY doc_id) AS rn,
        |             count(DISTINCT text_hash) OVER (PARTITION BY norm_hash) AS n_variants FROM n)
        |SELECT doc_id, lang, source, norm_hash, CAST(n_variants AS BIGINT) AS n_variants
        |FROM r WHERE rn = 1 ORDER BY doc_id""".stripMargin,

    // token = 60-bit md5 shingle hash, identical to ShingleHashes(hv):
    // first 15 hex chars of md5(shingle) as a BIGINT. Docs shorter than the
    // shingle width contribute their whole text as one shingle
    // (greatest(len-2, 1) mirrors max(n-k+1, 1); the t[i:i+2] slice clamps).
    "sparse_sim_pairs" ->
      """WITH arr AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
        |tok AS (SELECT DISTINCT doc_id,
        |               ('0x' || substr(md5(array_to_string(t[i:i+2], ' ')), 1, 15))::BIGINT AS token
        |        FROM arr, unnest(generate_series(1, greatest(len(t) - 2, 1))) AS g(i)),
        |rare AS (SELECT token FROM tok GROUP BY token HAVING count(*) BETWEEN 2 AND 10),
        |kept AS (SELECT t.doc_id, t.token FROM tok t JOIN rare USING (token)),
        |sz AS (SELECT doc_id, count(*) AS n FROM kept GROUP BY doc_id),
        |pairs AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS shared
        |          FROM kept a JOIN kept b ON a.token = b.token AND a.doc_id < b.doc_id
        |          GROUP BY 1, 2 HAVING count(*) >= 3)
        |SELECT p.doc_a, p.doc_b, CAST(p.shared AS BIGINT) AS shared,
        |       round(p.shared / sqrt(sa.n * sb.n), 6) AS cosine
        |FROM pairs p JOIN sz sa ON sa.doc_id = p.doc_a JOIN sz sb ON sb.doc_id = p.doc_b
        |ORDER BY doc_a, doc_b""".stripMargin,

    "collocations" ->
      """WITH t AS (SELECT string_split(text, ' ') AS tok FROM documents),
        |b0 AS (SELECT tok, unnest(generate_series(1, len(tok) - 1)) AS i FROM t),
        |b AS (SELECT tok[i] AS w1, tok[i + 1] AS w2 FROM b0),
        |u AS (SELECT w, count(*) AS cnt
        |      FROM (SELECT unnest(tok) AS w FROM t) GROUP BY w),
        |n AS (SELECT CAST(sum(cnt) AS BIGINT) AS n_tokens FROM u),
        |pc AS (SELECT w1, w2, count(*) AS pair_cnt FROM b GROUP BY w1, w2 HAVING count(*) >= 5)
        |SELECT pc.w1, pc.w2, CAST(pc.pair_cnt AS BIGINT) AS pair_cnt,
        |       round((CAST(pc.pair_cnt AS DOUBLE) * CAST(n.n_tokens AS DOUBLE)) /
        |             (CAST(u1.cnt AS DOUBLE) * CAST(u2.cnt AS DOUBLE)), 6) AS lift
        |FROM pc JOIN u u1 ON u1.w = pc.w1 JOIN u u2 ON u2.w = pc.w2 CROSS JOIN n
        |ORDER BY lift DESC, w1, w2 LIMIT 50""".stripMargin,

    "token_percentiles" ->
      """SELECT lang, count(*) AS n_docs,
        |       round(quantile_cont(ntok, 0.25), 6) AS p25,
        |       round(quantile_cont(ntok, 0.5), 6) AS p50,
        |       round(quantile_cont(ntok, 0.9), 6) AS p90,
        |       round(quantile_cont(ntok, 0.99), 6) AS p99
        |FROM (SELECT lang, CAST(len(string_split(text, ' ')) AS DOUBLE) AS ntok FROM documents)
        |GROUP BY lang ORDER BY lang""".stripMargin,

    // DSIR importance selection: same md5 split as train_split; ln args are
    // quotients of correctly-rounded divides of exact integers+0.5 —
    // identical bits on both engines (lm_perplexity's float budget).
    "dsir_select" -> {
      val trainCut = (0.9 * (1 << 24)).toLong
      val valCut = (0.95 * (1 << 24)).toLong
      s"""WITH d AS (SELECT doc_id, lang, text,
         |             CASE WHEN u < $trainCut THEN 'train'
         |                  WHEN u < $valCut THEN 'val'
         |                  ELSE 'test' END AS split
         |           FROM (SELECT doc_id, lang, text,
         |                   ('0x' || substr(md5('split:' || CAST(doc_id AS VARCHAR)), 1, 6))::BIGINT AS u
         |                 FROM documents)),
         |pd AS (SELECT doc_id, lang, split, w, count(*) AS cnt
         |       FROM (SELECT doc_id, lang, split, unnest(string_split(text, ' ')) AS w FROM d)
         |       GROUP BY 1, 2, 3, 4),
         |raw AS (SELECT w, sum(cnt) AS cr FROM pd GROUP BY 1),
         |tgt AS (SELECT w, sum(cnt) AS ct FROM pd WHERE split = 'val' GROUP BY 1),
         |sc AS (SELECT (SELECT sum(cr) FROM raw) AS nr,
         |              (SELECT count(*) FROM raw) AS vocab,
         |              (SELECT sum(ct) FROM tgt) AS nt),
         |lr AS (SELECT raw.w,
         |         ln(((coalesce(ct, 0) + 0.5) / (nt + 0.5 * vocab)) /
         |            ((cr + 0.5) / (nr + 0.5 * vocab))) AS lr
         |       FROM raw LEFT JOIN tgt USING (w) CROSS JOIN sc),
         |s AS (SELECT pd.doc_id, pd.lang, sum(cnt) AS n_tokens, sum(cnt * lr.lr) AS s
         |      FROM pd JOIN lr USING (w) WHERE pd.split <> 'val' GROUP BY 1, 2)
         |SELECT doc_id, lang, CAST(n_tokens AS BIGINT) AS n_tokens,
         |       round(s / n_tokens, 6) AS score
         |FROM s ORDER BY score DESC, doc_id LIMIT 100""".stripMargin
    },

    // CCNet perplexity buckets: the lm_perplexity CTEs verbatim, plus
    // per-lang tercile cutoffs via quantile_cont (the C9 percentile
    // contract) and closed-threshold assignment.
    "ppl_buckets" -> {
      val ps = Seq(1.0 / 3, 2.0 / 3)
      s"""WITH t AS (SELECT doc_id, lang, string_split(text, ' ') AS tok FROM documents),
         |b AS (SELECT doc_id, tok[i] AS w1, tok[i + 1] AS w2
         |      FROM t, unnest(generate_series(1, len(tok) - 1)) AS g(i)),
         |pd AS (SELECT doc_id, w1, w2, count(*) AS cnt FROM b GROUP BY 1, 2, 3),
         |cb AS (SELECT w1, w2, sum(cnt) AS cbi FROM pd GROUP BY 1, 2),
         |cu AS (SELECT w1, sum(cbi) AS cw FROM cb GROUP BY 1),
         |v AS (SELECT count(DISTINCT w) AS vocab
         |      FROM (SELECT unnest(tok) AS w FROM t)),
         |lp AS (SELECT cb.w1, cb.w2, ln((cbi + 0.5) / (cw + 0.5 * vocab)) AS lp
         |       FROM cb JOIN cu USING (w1) CROSS JOIN v),
         |d AS (SELECT pd.doc_id, sum(pd.cnt) AS nb, sum(pd.cnt * lp.lp) AS s
         |      FROM pd JOIN lp USING (w1, w2) GROUP BY 1),
         |ppl AS (SELECT t.doc_id, t.lang, round(exp(-d.s / d.nb), 4) AS perplexity
         |        FROM t LEFT JOIN d ON t.doc_id = d.doc_id),
         |cuts AS (SELECT lang, quantile_cont(perplexity, ${ps.head}) AS cut1,
         |                quantile_cont(perplexity, ${ps.last}) AS cut2
         |         FROM ppl WHERE perplexity IS NOT NULL GROUP BY lang)
         |SELECT ppl.doc_id, ppl.lang, ppl.perplexity,
         |       CASE WHEN perplexity IS NULL THEN NULL
         |            WHEN perplexity <= cut1 THEN 'head'
         |            WHEN perplexity <= cut2 THEN 'middle'
         |            ELSE 'tail' END AS bucket
         |FROM ppl LEFT JOIN cuts USING (lang) ORDER BY doc_id""".stripMargin
    },

    "embedding_pca" -> embeddingPcaSql(iters = 40, dim = 64),

    // Domain-level curation: per-doc round-6 quality score (text_quality's
    // exact expression), dup flag via the (hash -> count, min-id) join,
    // source-level round-6 averages.
    "source_quality" ->
      """WITH q AS (SELECT doc_id, source, md5(text) AS h,
        |             round(least(1.0, CAST(len(string_split(text, ' ')) AS DOUBLE) / 200.0) *
        |                   (CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE) /
        |                    CAST(len(string_split(text, ' ')) AS DOUBLE)), 6) AS score
        |           FROM documents),
        |hs AS (SELECT h, count(*) AS c, min(doc_id) AS m FROM q GROUP BY 1),
        |d AS (SELECT q.source, q.score,
        |        CASE WHEN hs.c > 1 AND q.doc_id <> hs.m THEN 1.0 ELSE 0.0 END AS is_dup
        |      FROM q JOIN hs USING (h))
        |SELECT source, count(*) AS n_docs,
        |       round(avg(score), 6) AS avg_quality,
        |       round(avg(is_dup), 6) AS dup_frac,
        |       (round(avg(score), 6) >= 0.15 AND round(avg(is_dup), 6) <= 0.2) AS keep
        |FROM d GROUP BY source ORDER BY source""".stripMargin,

    // Volume-anomaly z-scores: integer windowed sums make mean/variance/z
    // fixed chains of correctly-rounded ops — identical bits on both
    // engines; the (ss - s*s/n)/(n-1) form is deliberate (the engines' own
    // one-pass stddev aggregates differ in the last ulp).
    "event_anomalies" ->
      s"""WITH $evCte,
         |d AS (SELECT event_type, CAST(floor(epoch(ts)) AS BIGINT) // 86400 AS day,
         |             CAST(count(*) AS DOUBLE) AS x
         |      FROM ev GROUP BY 1, 2),
         |w AS (SELECT event_type, day, x,
         |        CAST(count(x) OVER tw AS DOUBLE) AS n,
         |        sum(x) OVER tw AS s,
         |        sum(x * x) OVER tw AS ss
         |      FROM d
         |      WINDOW tw AS (PARTITION BY event_type ORDER BY day
         |                    RANGE BETWEEN 7 PRECEDING AND 1 PRECEDING)),
         |v AS (SELECT *, CASE WHEN n >= 2
         |                     THEN (ss - s * s / n) / (n - 1) END AS variance FROM w)
         |SELECT event_type, day, CAST(x AS BIGINT) AS n_events,
         |       CAST(n AS BIGINT) AS baseline_days,
         |       CASE WHEN n >= 3 AND variance > 0
         |            THEN round((x - s / n) / sqrt(variance), 6) END AS z,
         |       CASE WHEN n >= 3 AND variance > 0
         |            THEN round((x - s / n) / sqrt(variance), 6) >= 3.0 END AS spike
         |FROM v ORDER BY event_type, day""".stripMargin,

    // SCD2: lead() runs over ALL ops per key (a delete closes the prior
    // version) BEFORE deletes are filtered — same order as the Spark side.
    "scd2_history" ->
      s"""WITH $evCte,
         |changes AS (SELECT user_id AS document_key, event_id,
         |              $opType AS operation_type,
         |              $fullDoc AS full_document
         |            FROM ev),
         |v AS (SELECT *, lead(event_id) OVER (PARTITION BY document_key
         |                                     ORDER BY event_id) AS valid_to_id
         |      FROM changes)
         |SELECT document_key, event_id AS valid_from_id, valid_to_id,
         |       valid_to_id IS NULL AS is_current, full_document
         |FROM v WHERE operation_type <> 'delete'
         |ORDER BY document_key, valid_from_id""".stripMargin,

    // the INCREMENTAL path (rebuild first half, scd2Maintain the second)
    // against the FULL-rebuild oracle: the driver's hash compare IS the
    // incremental ≡ rebuild equality proof, re-certified every run
    "scd2_merge" ->
      s"""WITH $evCte,
         |changes AS (SELECT user_id AS document_key, event_id,
         |              $opType AS operation_type,
         |              $fullDoc AS full_document
         |            FROM ev),
         |v AS (SELECT *, lead(event_id) OVER (PARTITION BY document_key
         |                                     ORDER BY event_id) AS valid_to_id
         |      FROM changes)
         |SELECT document_key, event_id AS valid_from_id, valid_to_id,
         |       valid_to_id IS NULL AS is_current, full_document
         |FROM v WHERE operation_type <> 'delete'
         |ORDER BY document_key, valid_from_id""".stripMargin,

    "daily_fill" ->
      """WITH daily AS (SELECT o_orderpriority AS priority,
        |            CAST(floor(epoch(o_orderdate)) AS BIGINT) // 86400 AS day,
        |            count(*) AS n_orders,
        |            CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS day_value
        |          FROM orders GROUP BY 1, 2),
        |span AS (SELECT min(day) AS d0, max(day) AS d1 FROM daily),
        |grid AS (SELECT t.priority, gs.day
        |         FROM (SELECT DISTINCT priority FROM daily) t,
        |              span s, unnest(generate_series(s.d0, s.d1)) AS gs(day)),
        |j AS (SELECT g.priority, g.day, d.n_orders, d.day_value
        |      FROM grid g LEFT JOIN daily d USING (priority, day))
        |SELECT priority, day,
        |       CAST(coalesce(n_orders, 0) AS BIGINT) AS n_orders,
        |       n_orders IS NOT NULL AS observed, day_value,
        |       last_value(day_value IGNORE NULLS)
        |         OVER (PARTITION BY priority ORDER BY day) AS value_carry
        |FROM j ORDER BY priority, day""".stripMargin,

    "event_paths" ->
      s"""WITH $evCte,
         |s AS (SELECT user_id, event_type,
         |        lead(event_type, 1) OVER w AS e2,
         |        lead(event_type, 2) OVER w AS e3
         |      FROM ev WINDOW w AS (PARTITION BY user_id ORDER BY event_id))
         |SELECT event_type AS step1, e2 AS step2, e3 AS step3,
         |       count(*) AS n_paths, count(DISTINCT user_id) AS n_users
         |FROM s WHERE e3 IS NOT NULL
         |GROUP BY 1, 2, 3
         |ORDER BY n_paths DESC, step1, step2, step3 LIMIT 25""".stripMargin,

    "purchase_intervals" ->
      s"""WITH $evCte,
         |p AS (SELECT user_id, event_id, CAST(floor(epoch(ts)) AS BIGINT) AS s
         |      FROM ev WHERE event_type = 'purchase'),
         |g AS (SELECT user_id, s - lag(s) OVER (PARTITION BY user_id ORDER BY event_id) AS gap_s
         |      FROM p)
         |SELECT count(DISTINCT user_id) AS repeat_users,
         |       count(*) AS n_intervals,
         |       round(CAST(sum(gap_s) AS DOUBLE) / count(*) / 3600.0, 6) AS mean_hours,
         |       round(quantile_cont(gap_s, 0.5) / 3600.0, 6) AS p50_hours,
         |       round(quantile_cont(gap_s, 0.9) / 3600.0, 6) AS p90_hours
         |FROM g WHERE gap_s IS NOT NULL""".stripMargin,

    "new_vs_returning" ->
      s"""WITH $evCte,
         |ud AS (SELECT DISTINCT user_id,
         |         CAST(floor(epoch(ts)) AS BIGINT) // 86400 AS day FROM ev),
         |fd AS (SELECT user_id, min(day) AS first_day FROM ud GROUP BY 1)
         |SELECT ud.day, count(*) AS active_users,
         |       CAST(count(*) FILTER (WHERE ud.day = fd.first_day) AS BIGINT) AS new_users,
         |       count(*) - CAST(count(*) FILTER (WHERE ud.day = fd.first_day) AS BIGINT)
         |         AS returning_users,
         |       round(CAST(count(*) - count(*) FILTER (WHERE ud.day = fd.first_day) AS DOUBLE)
         |             / count(*), 6) AS returning_frac
         |FROM ud JOIN fd USING (user_id)
         |GROUP BY ud.day ORDER BY ud.day""".stripMargin,

    "basket_affinity" ->
      """WITH b AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
        |n AS (SELECT count(DISTINCT l_orderkey) AS n_orders FROM b),
        |f AS (SELECT l_partkey, count(*) AS c FROM b GROUP BY 1),
        |p AS (SELECT a.l_partkey AS p1, x.l_partkey AS p2, count(*) AS pair_cnt
        |      FROM b a JOIN b x ON a.l_orderkey = x.l_orderkey AND a.l_partkey < x.l_partkey
        |      GROUP BY 1, 2 HAVING count(*) >= 3)
        |SELECT p1, p2, pair_cnt,
        |       round((CAST(pair_cnt AS DOUBLE) * CAST(n.n_orders AS DOUBLE)) /
        |             (CAST(f1.c AS DOUBLE) * CAST(f2.c AS DOUBLE)), 6) AS lift
        |FROM p JOIN f f1 ON f1.l_partkey = p.p1
        |       JOIN f f2 ON f2.l_partkey = p.p2
        |       CROSS JOIN n
        |ORDER BY pair_cnt DESC, lift DESC, p1, p2 LIMIT 50""".stripMargin,

    // C29b: the Apriori-pruned head sibling — the top-500 cut (raw row
    // count DESC, l_partkey — a total order) replays exactly in both
    // engines, so the pruned pair table (and the hash) hash-matches;
    // n_orders stays FULL-corpus and c1/c2 are exact for head parts
    // (every occurrence of a head part survives the prune), matching the
    // Scala side's comparable-lift contract.
    "basket_affinity_top" ->
      """WITH rawf AS (SELECT l_partkey, count(*) AS rc FROM lineitem GROUP BY 1),
        |top AS (SELECT l_partkey FROM rawf ORDER BY rc DESC, l_partkey LIMIT 500),
        |n AS (SELECT count(DISTINCT l_orderkey) AS n_orders FROM lineitem),
        |bt AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
        |       WHERE l_partkey IN (SELECT l_partkey FROM top)),
        |f AS (SELECT l_partkey, count(*) AS c FROM bt GROUP BY 1),
        |p AS (SELECT a.l_partkey AS p1, x.l_partkey AS p2, count(*) AS pair_cnt
        |      FROM bt a JOIN bt x ON a.l_orderkey = x.l_orderkey AND a.l_partkey < x.l_partkey
        |      GROUP BY 1, 2 HAVING count(*) >= 3)
        |SELECT p1, p2, pair_cnt,
        |       round((CAST(pair_cnt AS DOUBLE) * CAST(n.n_orders AS DOUBLE)) /
        |             (CAST(f1.c AS DOUBLE) * CAST(f2.c AS DOUBLE)), 6) AS lift
        |FROM p JOIN f f1 ON f1.l_partkey = p.p1
        |       JOIN f f2 ON f2.l_partkey = p.p2
        |       CROSS JOIN n
        |ORDER BY pair_cnt DESC, lift DESC, p1, p2 LIMIT 50""".stripMargin,

    // First-seen novelty: shingle construction identical to contamination's
    // (short docs emit one whole-doc shingle; per-doc distinct).
    "content_novelty" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS tok FROM documents),
        |s AS (SELECT doc_id,
        |        list_distinct([array_to_string(tok[i:i+7], ' ')
        |                       for i in generate_series(1, greatest(len(tok)-7, 1))]) AS sh
        |      FROM t),
        |h AS (SELECT doc_id, ('0x' || substr(md5(x), 1, 15))::BIGINT AS h
        |      FROM s, unnest(s.sh) AS u(x)),
        |first AS (SELECT h, min(doc_id) AS first_doc FROM h GROUP BY h)
        |SELECT h.doc_id, count(*) AS n_shingles,
        |       CAST(count(*) FILTER (WHERE first.first_doc < h.doc_id) AS BIGINT) AS n_seen_before,
        |       round(1.0 - CAST(count(*) FILTER (WHERE first.first_doc < h.doc_id) AS DOUBLE)
        |               / count(*), 6) AS novelty
        |FROM h JOIN first USING (h)
        |GROUP BY h.doc_id ORDER BY h.doc_id""".stripMargin,

    // The winsorized mean recomposes from exact parts (decimal middle sum +
    // count*cutoff per tail) in the same written order as the Spark side.
    "winsorized_stats" ->
      """WITH cuts AS (SELECT o_orderpriority AS priority,
        |        quantile_cont(o_totalprice, 0.01) AS lo_cut,
        |        quantile_cont(o_totalprice, 0.99) AS hi_cut
        |      FROM orders GROUP BY 1),
        |j AS (SELECT o.o_orderpriority AS priority, o.o_totalprice, c.lo_cut, c.hi_cut
        |      FROM orders o JOIN cuts c ON c.priority = o.o_orderpriority),
        |a AS (SELECT priority, count(*) AS n_orders,
        |        min(lo_cut) AS lo_raw, min(hi_cut) AS hi_raw,
        |        CAST(count(*) FILTER (WHERE o_totalprice < lo_cut) AS BIGINT) AS n_lo,
        |        CAST(count(*) FILTER (WHERE o_totalprice > hi_cut) AS BIGINT) AS n_hi,
        |        CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_raw,
        |        coalesce(CAST(sum(CASE WHEN o_totalprice >= lo_cut AND o_totalprice <= hi_cut
        |                     THEN CAST(o_totalprice AS DECIMAL(18,2)) END) AS DOUBLE), 0.0) AS sum_mid
        |      FROM j GROUP BY priority)
        |SELECT priority, n_orders, round(lo_raw, 6) AS lo_cut, round(hi_raw, 6) AS hi_cut,
        |       n_lo AS n_clipped_low, n_hi AS n_clipped_high,
        |       round(sum_raw / n_orders, 6) AS mean_raw,
        |       round((sum_mid + n_lo * lo_raw + n_hi * hi_raw) / n_orders, 6) AS mean_winsor
        |FROM a ORDER BY priority""".stripMargin,

    // Data-quality contract: the one-pass scalar checks + the FK orphan
    // count; "check" is quoted (DuckDB reserved word). Pass verdicts
    // compare the UNROUNDED metric, as the Spark side does.
    "dq_checks" ->
      """WITH a AS (SELECT CAST(count(*) AS DOUBLE) AS n,
        |             CAST(count(DISTINCT doc_id) AS DOUBLE) AS n_ids,
        |             CAST(sum(CASE WHEN text IS NULL THEN 1 ELSE 0 END) AS DOUBLE) AS null_text,
        |             CAST(sum(CASE WHEN n_chars <> length(text) THEN 1 ELSE 0 END) AS DOUBLE) AS bad_len,
        |             CAST(sum(CASE WHEN lang IS NULL OR lang = '' THEN 1 ELSE 0 END) AS DOUBLE) AS bad_lang,
        |             CAST(min(n_chars) AS DOUBLE) AS min_chars
        |           FROM documents),
        |o AS (SELECT CAST(count(*) AS DOUBLE) AS orphans
        |      FROM orders WHERE o_custkey NOT IN (SELECT c_custkey FROM customer))
        |SELECT * FROM (
        |  SELECT 'doc_row_count' AS "check", round(n, 6) AS metric, n >= 1.0 AS pass FROM a
        |  UNION ALL SELECT 'doc_id_unique_ratio', round(n_ids / n, 6), n_ids / n = 1.0 FROM a
        |  UNION ALL SELECT 'doc_text_null_count', round(null_text, 6), null_text = 0.0 FROM a
        |  UNION ALL SELECT 'doc_nchars_mismatch_count', round(bad_len, 6), bad_len = 0.0 FROM a
        |  UNION ALL SELECT 'doc_lang_missing_count', round(bad_lang, 6), bad_lang = 0.0 FROM a
        |  UNION ALL SELECT 'doc_min_chars', round(min_chars, 6), min_chars > 0.0 FROM a
        |  UNION ALL SELECT 'orders_custkey_orphans', round(orphans, 6), orphans = 0.0 FROM o)
        |ORDER BY "check"""".stripMargin,

    // Last-touch attribution: the same ignore-nulls carry-forward window as
    // the Spark side; floor(epoch(ts)) is the repo's truncation-exact
    // epoch-seconds convention (DuckDB's bare ::BIGINT would round).
    "attribution" ->
      s"""WITH $evCte,
         |w AS (SELECT event_id, user_id, event_type,
         |        CAST(floor(epoch(ts)) AS BIGINT) AS tss,
         |        last_value(CASE WHEN event_type IN ('view', 'click') THEN event_id END IGNORE NULLS)
         |          OVER uw AS m_id,
         |        last_value(CASE WHEN event_type IN ('view', 'click') THEN event_type END IGNORE NULLS)
         |          OVER uw AS m_type,
         |        last_value(CASE WHEN event_type IN ('view', 'click')
         |                        THEN CAST(floor(epoch(ts)) AS BIGINT) END IGNORE NULLS)
         |          OVER uw AS m_tss
         |      FROM ev
         |      WINDOW uw AS (PARTITION BY user_id ORDER BY ts, event_id))
         |SELECT event_id AS purchase_id, user_id,
         |       CASE WHEN tss - m_tss <= 604800 THEN m_id END AS touch_id,
         |       CASE WHEN tss - m_tss <= 604800 THEN m_type END AS touch_type,
         |       CASE WHEN tss - m_tss <= 604800 THEN tss - m_tss END AS secs_since_touch
         |FROM w WHERE event_type = 'purchase' ORDER BY purchase_id""".stripMargin,

    // Cross-snapshot diff: the exact-hash join plus the SAME banded-LSH
    // candidate/estimate replay as dedup_minhash_pairs, filtered to
    // cross-parity pairs.
    "corpus_diff" ->
      s"""WITH ${minhashBandedCtes(numHashes = 32, bands = 16)},
         |est AS (SELECT id_a, id_b,
         |          CAST(list_sum([CASE WHEN sig_a[i] = sig_b[i] THEN 1 ELSE 0 END
         |                         for i in generate_series(1, 32)]) AS DOUBLE) / 32.0 AS ej
         |        FROM cand),
         |near AS (SELECT DISTINCT CASE WHEN id_a % 2 = 1 THEN id_a ELSE id_b END AS nid
         |         FROM est WHERE ej >= 0.5 AND (id_a % 2 = 1) <> (id_b % 2 = 1)),
         |prevh AS (SELECT DISTINCT md5(text) AS th FROM documents WHERE doc_id % 2 = 0)
         |SELECT d.doc_id, d.lang, d.source,
         |       CASE WHEN p.th IS NOT NULL THEN 'exact_dup'
         |            WHEN n.nid IS NOT NULL THEN 'near_dup'
         |            ELSE 'new' END AS status
         |FROM documents d
         |LEFT JOIN prevh p ON md5(d.text) = p.th
         |LEFT JOIN near n ON d.doc_id = n.nid
         |WHERE d.doc_id % 2 = 1
         |ORDER BY d.doc_id""".stripMargin,

    // Bloom-screened novelty: the oracle is the SEMANTIC spec (plain hash
    // semi/anti classification) — the Spark side's Bloom screen must change
    // the plan, never the answer.
    "snapshot_novelty" ->
      """WITH prevh AS (SELECT DISTINCT md5(text) AS th FROM documents WHERE doc_id % 2 = 0)
        |SELECT d.doc_id, d.source,
        |       CASE WHEN p.th IS NOT NULL THEN 'dup_prev' ELSE 'new' END AS status
        |FROM documents d
        |LEFT JOIN prevh p ON md5(d.text) = p.th
        |WHERE d.doc_id % 2 = 1
        |ORDER BY d.doc_id""".stripMargin,

    "event_transitions" ->
      s"""WITH $evCte,
         |p AS (SELECT event_type,
         |        lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_type
         |      FROM ev),
         |c AS (SELECT prev_type, event_type AS next_type, count(*) AS n
         |      FROM p WHERE prev_type IS NOT NULL GROUP BY 1, 2)
         |SELECT prev_type, next_type, CAST(n AS BIGINT) AS n,
         |       round(CAST(n AS DOUBLE) / sum(n) OVER (PARTITION BY prev_type), 6) AS prob
         |FROM c ORDER BY prev_type, next_type""".stripMargin,

    // RFM: integer epoch-day recency, decimal-exact monetary, quintile
    // CUTOFFS via quantile_cont (same percentile contract as C9; scores via
    // strict comparisons so a tie sits in the lower bucket on both engines).
    "rfm_segments" -> {
      val ps = Seq(0.2, 0.4, 0.6, 0.8)
      def score(v: String, cuts: String, up: Boolean): String =
        "CAST(1 " + ps.indices.map { i =>
          val cmp = if (up) ">" else "<"
          s"+ (CASE WHEN $v $cmp $cuts[${i + 1}] THEN 1 ELSE 0 END)"
        }.mkString(" ") + " AS BIGINT)"
      s"""WITH pc AS (SELECT o_custkey AS custkey,
         |              max(epoch(o_orderdate)::BIGINT) AS last_epoch,
         |              count(*) AS frequency,
         |              CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS monetary
         |            FROM orders GROUP BY 1),
         |mx AS (SELECT max(last_epoch) AS max_epoch FROM pc),
         |base AS (SELECT custkey, (max_epoch - last_epoch) // 86400 AS recency_days,
         |                frequency, monetary
         |         FROM pc CROSS JOIN mx),
         |cuts AS (SELECT quantile_cont(recency_days, [${ps.mkString(", ")}]) AS rc,
         |                quantile_cont(frequency, [${ps.mkString(", ")}]) AS fc,
         |                quantile_cont(monetary, [${ps.mkString(", ")}]) AS mc
         |         FROM base)
         |SELECT custkey, CAST(recency_days AS BIGINT) AS recency_days,
         |       CAST(frequency AS BIGINT) AS frequency, monetary,
         |       ${score("recency_days", "rc", up = false)} AS r_score,
         |       ${score("frequency", "fc", up = true)} AS f_score,
         |       ${score("monetary", "mc", up = true)} AS m_score,
         |       ${score("recency_days", "rc", up = false)} * 100 +
         |       ${score("frequency", "fc", up = true)} * 10 +
         |       ${score("monetary", "mc", up = true)} AS rfm_cell
         |FROM base CROSS JOIN cuts ORDER BY custkey""".stripMargin
    }
  )

  /** The embedding_pca oracle: replay the moment pass, the 6-dp-rounded
    * covariance, `iters` unrolled power steps, the rounded deflation, and
    * `iters` more steps — the same rounded-grid lockstep the Scala driver
    * math walks (Embeddings.embeddingPca), then the centered projections.
    * Sum orders differ between engines only on UNROUNDED intermediates
    * (~1e-13, seven orders under the round-6 half-step).
    */
  private def embeddingPcaSql(iters: Int, dim: Int): String = {
    val v0 = 1.0 / math.sqrt(dim.toDouble) // round6(0.125) = 0.125 exactly at dim 64
    // every iteration CTE is MATERIALIZED: DuckDB inlines plain CTEs at each
    // reference, and the w→v→w chain references its predecessor twice (main
    // relation + the norm scalar subquery), so inlining re-evaluates the
    // whole chain EXPONENTIALLY many times back to the corpus self-join
    def iterCtes(cov: String, tag: String): String = {
      val steps = (1 to iters).map { t =>
        val prev = if (t == 1) s"v${tag}0" else s"v$tag${t - 1}"
        s"""w$tag$t AS MATERIALIZED (SELECT c.i, sum(c.c * p.v) AS w
           |           FROM $cov c JOIN $prev p ON p.i = c.j GROUP BY c.i),
           |v$tag$t AS MATERIALIZED (SELECT i,
           |             round(w / (SELECT sqrt(sum(w * w)) FROM w$tag$t), 6) AS v
           |            FROM w$tag$t)""".stripMargin
      }.mkString(",\n")
      s"""v${tag}0 AS (SELECT i, CAST($v0 AS DOUBLE) AS v FROM generate_series(1, $dim) gs(i)),
         |$steps""".stripMargin
    }
    s"""WITH e AS MATERIALIZED (SELECT vec_id, label,
       |             list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
       |           FROM embeddings),
       |x AS MATERIALIZED (SELECT vec_id, i, v[i] AS xi FROM e, generate_series(1, $dim) gs(i)),
       |cnt AS (SELECT count(*) AS n FROM e),
       |mu AS (SELECT i, round(sum(xi) / max(n), 6) AS m FROM x CROSS JOIN cnt GROUP BY i),
       |c0 AS MATERIALIZED (SELECT a.i AS i, b.i AS j,
       |         round(sum(a.xi * b.xi) / max(n) - max(ma.m) * max(mb.m), 6) AS c
       |       FROM x a JOIN x b USING (vec_id) CROSS JOIN cnt
       |       JOIN mu ma ON ma.i = a.i JOIN mu mb ON mb.i = b.i
       |       GROUP BY a.i, b.i),
       |${iterCtes("c0", "a")},
       |l1 AS (SELECT round(sum(a.v * c.c * b.v), 6) AS l
       |       FROM c0 c JOIN va$iters a ON a.i = c.i JOIN va$iters b ON b.i = c.j),
       |c2 AS MATERIALIZED (SELECT c.i, c.j,
       |         round(c.c - (SELECT l FROM l1) * a.v * b.v, 6) AS c
       |       FROM c0 c JOIN va$iters a ON a.i = c.i JOIN va$iters b ON b.i = c.j),
       |${iterCtes("c2", "b")},
       |p AS (SELECT x.vec_id,
       |        round(sum((x.xi - mu.m) * a.v), 6) AS p1,
       |        round(sum((x.xi - mu.m) * b.v), 6) AS p2
       |      FROM x JOIN mu USING (i)
       |      JOIN va$iters a ON a.i = x.i JOIN vb$iters b ON b.i = x.i
       |      GROUP BY x.vec_id)
       |SELECT e.vec_id, e.label, p.p1, p.p2
       |FROM e JOIN p USING (vec_id) ORDER BY e.vec_id""".stripMargin
  }
}
