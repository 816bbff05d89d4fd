package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col
import graft.ops._

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Every operator from SURVEY.md §2 that is implemented has a `queries`
  * entry; SQL-expressible ones also have an `oracleSql` entry (DuckDB,
  * same parquet tables). Column names are aliased identically on both
  * sides, float aggregates are rounded (order-independence), and every
  * query carries a total ORDER BY so results are bit-deterministic.
  */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    Relational.revenueByNation(spark, "/root/testdata/sf0.001")

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // ---- relational core (SURVEY §2.3/§2.4/§2.5) ----
    "q_pricing_summary"   -> ((s, d) => Relational.pricingSummary(s, d)),
    "q_revenue_by_nation" -> ((s, d) => Relational.revenueByNation(s, d)),
    "q_enrich_supplier"   -> ((s, d) => Relational.enrichSupplier(s, d)),
    "q_promo_share"       -> ((s, d) => Relational.promoShare(s, d)),
    "q_top_order_per_cust"-> ((s, d) => Relational.topOrderPerCustomer(s, d)),
    "q_sort_limit"        -> ((s, d) => Relational.topOrders(s, d)),
    "q_union_scans"       -> ((s, d) => Relational.unionScans(s, d)),
    "q_dedup_first"       -> ((s, d) => Relational.dedupFirstEvent(s, d)),
    "q_coerce_props"      -> ((s, d) => Relational.coerceProps(s, d)),
    "q_monthly_sales"     -> ((s, d) => Relational.monthlySales(s, d)),
    "q_basket_pairs"      -> ((s, d) => Relational.basketPairs(s, d)),
    // ---- time series (SURVEY §2.4, §2.2) ----
    "q_resample_last"     -> ((s, d) => SeriesQueries.resampleLast(s, d)),
    "q_resample_ffill"    -> ((s, d) => SeriesQueries.resampleFfill(s, d)),
    "q_pivot_consensus"   -> ((s, d) => SeriesQueries.pivotConsensus(s, d)),
    "q_rolling_zscore"    -> ((s, d) => SeriesQueries.rollingZscore(s, d)),
    "q_ewm_bias"          -> ((s, d) => SeriesQueries.ewmBias(s, d)),
    "q_fwd_label"         -> ((s, d) => SeriesQueries.forwardLabel(s, d)),
    "q_polarity_price"    -> ((s, d) => SeriesQueries.polarityPrice(s, d)),
    "q_canonical_pair"    -> ((s, d) => SeriesQueries.canonicalPair(s, d)),
    "q_sessionize"        -> ((s, d) => SeriesQueries.sessionize(s, d)),
    "q_session_threads"   -> ((s, d) => SeriesQueries.sessionThreads(s, d)),
    "q_interval_join"     -> ((s, d) => SeriesQueries.intervalJoin(s, d)),
    "q_funnel"            -> ((s, d) => SeriesQueries.funnel(s, d)),
    "q_retention"         -> ((s, d) => SeriesQueries.retention(s, d)),
    "q_cohort_ltv"        -> ((s, d) => SeriesQueries.cohortLtv(s, d)),
    "q_transitions"       -> ((s, d) => SeriesQueries.eventTransitions(s, d)),
    "q_value_hist"        -> ((s, d) => SeriesQueries.valueHist(s, d)),
    // ---- stateful FSM backtests (SURVEY §2.6) ----
    "q_fsm_meanrev"       -> ((s, d) => SeriesQueries.fsmMeanrev(s, d)),
    "q_fsm_zscore"        -> ((s, d) => SeriesQueries.fsmZscore(s, d)),
    "q_trade_monthly"     -> ((s, d) => SeriesQueries.tradeReturnsMonthly(s, d)),
    "q_ohlc_bars"         -> ((s, d) => SeriesQueries.ohlcBars(s, d)),
    "q_robust_outliers"   -> ((s, d) => SeriesQueries.robustOutliers(s, d)),
    "q_attribution"       -> ((s, d) => SeriesQueries.lastTouchAttribution(s, d)),
    // ---- training-data pipeline: text / dedup / similarity ----
    "q_text_stats"        -> ((s, d) => DataQueries.textStats(s, d)),
    "q_lang_id"           -> ((s, d) => DataQueries.langId(s, d)),
    "q_dedup_exact"       -> ((s, d) => DataQueries.dedupExact(s, d)),
    "q_dedup_norm"        -> ((s, d) => DataQueries.dedupNormalized(s, d)),
    // Unicode-NFC dedup key over the multilingual derivation: oracle
    // is DuckDB's NATIVE nfc_normalize + codepoint-native chr
    "q_dedup_nfc"         -> ((s, d) => DataQueries.dedupNfc(s, d)),
    "q_cjk_tokens"        -> ((s, d) => DataQueries.cjkTokens(s, d)),
    "q_i18n_gate"         -> ((s, d) => DataQueries.i18nGate(s, d)),
    "q_jaccard_pairs"     -> ((s, d) => DataQueries.jaccardPairs(s, d)),
    "q_jaccard_capped"    -> ((s, d) => DataQueries.jaccardCapped(s, d)),
    "q_dedup_groups"      -> ((s, d) => DataQueries.dedupGroups(s, d)),
    "q_incr_cc"           -> ((s, d) => DataQueries.incrCc(s, d)),
    "q_incr_cc_capped"    -> ((s, d) => DataQueries.incrCcCapped(s, d)),
    "q_windowed_dedup"    -> ((s, d) => DataQueries.windowedDedup(s, d)),
    "q_windowed_dedup_capped" -> ((s, d) =>
      DataQueries.windowedDedupCapped(s, d)),
    "q_heavy_hitters"     -> ((s, d) => DataQueries.heavyHitters(s, d)),
    "q_footer_stats"      -> ((s, d) =>
      graft.sources.FooterStats.eventsFooterStats(s, d)),
    "q_dedup_groups_capped" -> ((s, d) => DataQueries.dedupGroupsCapped(s, d)),
    "q_clean_docs"        -> ((s, d) => DataQueries.cleanDocs(s, d)),
    "q_repetition"        -> ((s, d) => DataQueries.repetition(s, d)),
    "q_decontam"          -> ((s, d) => DataQueries.decontam(s, d)),
    "q_redact"            -> ((s, d) => DataQueries.redact(s, d)),
    "q_sales_rollup"      -> ((s, d) => Relational.salesRollup(s, d)),
    "q_sales_cube"        -> ((s, d) => Relational.salesCube(s, d)),
    "q_gopher_quality"    -> ((s, d) => DataQueries.gopherQuality(s, d)),
    "q_len_quantiles"     -> ((s, d) => DataQueries.lenQuantiles(s, d)),
    "q_tfidf"             -> ((s, d) => DataQueries.tfidf(s, d)),
    "q_pack_bins"         -> ((s, d) => DataQueries.packBins(s, d)),
    "q_pack_shards"       -> ((s, d) => DataQueries.packBinsSharded(s, d)),
    "q_tar_shards"        -> ((s, d) => DataQueries.tarShards(s, d)),
    "q_targz_shards"      -> ((s, d) => DataQueries.tarGzShards(s, d)),
    "q_zip_extract"       -> ((s, d) => DataQueries.zipShards(s, d)),
    "q_norm_outliers"     -> ((s, d) => DataQueries.normOutliers(s, d)),
    "q_incr_dedup"        -> ((s, d) => DataQueries.incrDedup(s, d)),
    "q_state_probe"       -> ((s, d) => DataQueries.stateProbe(s, d)),
    "q_source_overlap"    -> ((s, d) => DataQueries.sourceOverlap(s, d)),
    "q_corpus_funnel"     -> ((s, d) => DataQueries.corpusFunnel(s, d)),
    // sketch-based → no SQL oracle (DuckDB's HLL differs); spec-pinned
    "q_corpus_stats"      -> ((s, d) => DataQueries.corpusTelemetry(s, d)),
    "q_source_drift"      -> ((s, d) => DataQueries.sourceDrift(s, d)),
    "q_mix_weights"       -> ((s, d) => DataQueries.mixWeights(s, d)),
    "q_temp_mix"          -> ((s, d) => DataQueries.tempMix(s, d)),
    "q_split_assign"      -> ((s, d) => DataQueries.splitAssign(s, d)),
    "q_minhash_sig"       -> ((s, d) => DataQueries.minhashSig(s, d)),
    "q_lsh_pairs"         -> ((s, d) => DataQueries.lshPairs(s, d)),
    // the BOUNDED banded form: every (band, band-hash) bucket capped
    // at 8 members via the rank-free bottomk aggregate; candidate
    // mass + fixed-panel recall vs the UNCAPPED candidates ride the
    // hash gate as data (uncapped twin measured ×41 max-task at 10×)
    "q_lsh_pairs_capped"  -> ((s, d) => DataQueries.lshPairsCapped(s, d)),
    "q_edit_neardup"      -> ((s, d) => DataQueries.editNearDup(s, d)),
    "q_chunk_docs"        -> ((s, d) => DataQueries.chunkDocs(s, d)),
    "q_simhash"           -> ((s, d) => DataQueries.simhash(s, d)),
    "q_simhash_pairs"     -> ((s, d) => DataQueries.simhashPairs(s, d)),
    "q_cosine_topk"       -> ((s, d) => DataQueries.cosineTopK(s, d)),
    "q_sq8_encode"        -> ((s, d) => DataQueries.sq8Codes(s, d)),
    "q_sq8_topk"          -> ((s, d) => DataQueries.sq8TopK(s, d)),
    "q_cosine_neardup"    -> ((s, d) => DataQueries.cosineNearDup(s, d)),
    "q_knn_graph"         -> ((s, d) => VectorOps.knnGraphMutual(
                                Tables.embeddings(s, d), "vec_id", "embedding", 5)),
    // production twin: SRP-LSH candidates, same mutual-rank algebra,
    // same oracle verbatim — (2, 16) is recall-1.0 on this corpus at
    // every shipped sf, measured: the round-8 sweep found diff=0 at
    // sf{0.001,0.01,0.1} for (2,16)/(2,24)/(3,48)/(4,64) and diff>0
    // at (2,12)/(3,32); 16 tables is the cheapest verified setting
    // (the q_state_probe one-oracle-two-plans pattern)
    "q_knn_graph_lsh"     -> ((s, d) => VectorOps.knnGraphMutualLsh(
                                Tables.embeddings(s, d), "vec_id", "embedding", 5,
                                planes = 2, tables = 16, maxBucket = None)),
    // the CLUSTERED regime on the hash gate: derived mixture corpus
    // (md5 centroid + jitter arithmetic both engines replay), same
    // LSH mutual-kNN algebra at TIGHT (8 planes, 8 tables), oracle =
    // brute force + independent DuckDB bucket replay — a green row
    // proves recall 1.0 WITH the pruning (cand_pairs/all_pairs ≪ 1)
    // pinned as data, not just spec-measured
    "q_knn_clustered"     -> ((s, d) => VectorOps.knnGraphClusteredGate(
                                Tables.embeddings(s, d), "vec_id", 5)),
    // the BOUNDED graph build: multi-pass sorted-neighborhood inside
    // the LSH buckets (per-table 1-D projection sort + window-40
    // lead links — O(m·window) pairs per bucket where the self-join
    // was O(m²); ScaleProbe measured that self-join ×99 at a 10×
    // corpus). cand_pairs/all_pairs AND recall vs the exact top-5 of
    // a fixed 100-node panel ride the hash gate as data.
    "q_knn_graph_capped"  -> ((s, d) => VectorOps.knnGraphCappedGate(
                                Tables.embeddings(s, d), "vec_id", 5)),
    "q_ann_topk"          -> ((s, d) => DataQueries.annTopK(s, d)),
    "q_ann_multi"         -> ((s, d) => DataQueries.annMulti(s, d)),
    "q_embed_groups"      -> ((s, d) => DataQueries.embedGroups(s, d)),
    "q_dbscan"            -> ((s, d) => DataQueries.dbscanClusters(s, d)),
    "q_ann_neardup"       -> ((s, d) => DataQueries.annNearDup(s, d)),
    // the BOUNDED scale path: per-(table, bucket) cap 16 via the
    // rank-free bottomk aggregate; candidate mass + brute-force panel
    // recall ride the gate (uncapped twin measured ×80 max-task at 10×)
    "q_ann_neardup_capped" -> ((s, d) => DataQueries.annNearDupCapped(s, d)),
    // fixed-round integer Lloyd k-means (the IVF/SemDeDup cell trainer);
    // oracle = generated unrolled rounds, MATERIALIZED (the BPE64 pattern)
    "q_kmeans"            -> ((s, d) => graft.ops.VectorOps.kmeansAssign(
      graft.Tables.embeddings(s, d), "vec_id", "embedding", k = 8, rounds = 2)),
    // IVF probing TRAINED k-means lists — the swap ivfTopK's scale
    // note promises, oracled end-to-end (train + assign + probe)
    "q_ivf_kmeans"        -> ((s, d) => graft.ops.VectorOps.ivfTopKKmeansExact(
        graft.Tables.embeddings(s, d), "vec_id", "embedding",
        nlists = 8, nprobe = 2, k = 3, queryPred = col("vec_id") < 10)
      .select(col("query_id"), col("cand_id"),
        org.apache.spark.sql.functions.round(col("cos"), 6).as("cos"),
        col("rank").as("rnk"))
      .orderBy("query_id", "rnk")),
    "q_embed_groups_lsh"  -> ((s, d) => DataQueries.embedGroupsLsh(s, d)),
    // groups over the BOUNDED candidate pairs — q_embed_groups_lsh's
    // capped twin (same CC tail, cap-bounded pair stage)
    "q_embed_groups_capped" -> ((s, d) => DataQueries.embedGroupsCapped(s, d)),
    "q_semdedup"          -> ((s, d) => DataQueries.semDedup(s, d)),
    "q_ivf_topk"          -> ((s, d) => DataQueries.ivfTopK(s, d)),
    "q_asof_join"         -> ((s, d) => DataQueries.asofPurchase(s, d)),
    "q_frame_sample"      -> ((s, d) => DataQueries.frameSample(s, d)),
    "q_media_features"    -> ((s, d) => DataQueries.mediaFeatures(s, d)),
    "q_ulaw_features"     -> ((s, d) => DataQueries.ulawFeatures(s, d)),
    "q_adpcm_features"    -> ((s, d) => DataQueries.adpcmFeatures(s, d)),
    "q_image_features"    -> ((s, d) => DataQueries.imageFeatures(s, d)),
    "q_png_features"      -> ((s, d) => DataQueries.pngFeatures(s, d)),
    "q_qoi_features"      -> ((s, d) => DataQueries.qoiFeatures(s, d)),
    "q_jpeg_features"     -> ((s, d) => DataQueries.jpegFeatures(s, d)),
    "q_jpeg420_features"  -> ((s, d) => DataQueries.jpeg420Features(s, d)),
    "q_jpeg_prog_features" -> ((s, d) => DataQueries.jpegProgFeatures(s, d)),
    "q_flac_features"     -> ((s, d) => DataQueries.flacFeatures(s, d)),
    "q_pipeline_e2e"      -> ((s, d) => graft.pipelines.Corpus.pipelineE2e(s, d)),
    "q_gif_features"      -> ((s, d) => DataQueries.gifFeatures(s, d)),
    "q_video_features"    -> ((s, d) => DataQueries.videoFeatures(s, d)),
    "q_audio_fp"          -> ((s, d) => DataQueries.audioFingerprint(s, d)),
    "q_audio_resample"    -> ((s, d) => DataQueries.audioResample(s, d)),
    "q_strat_alloc"       -> ((s, d) => DataQueries.stratAlloc(s, d)),
    "q_media_neardup"     -> ((s, d) => DataQueries.mediaNearDup(s, d)),
    "q_dhash_groups"      -> ((s, d) => DataQueries.dhashGroups(s, d)),
    "q_winnow"            -> ((s, d) => DataQueries.winnow(s, d)),
    "q_winnow_pairs"      -> ((s, d) => DataQueries.winnowPairs(s, d)),
    "q_containment"       -> ((s, d) => DataQueries.containmentPairs(s, d)),
    "q_passage_dedup"     -> ((s, d) => DataQueries.passageDedup(s, d)),
    "q_substr_dedup"      -> ((s, d) => DataQueries.substrDedup(s, d)),
    "q_lm_score"          -> ((s, d) => DataQueries.lmScore(s, d)),
    "q_token_budget"      -> ((s, d) => DataQueries.tokenBudget(s, d)),
    "q_quality_deciles"   -> ((s, d) => DataQueries.qualityDeciles(s, d)),
    "q_centroid_sim"      -> ((s, d) => DataQueries.centroidSim(s, d)),
    "q_boiler_strip"      -> ((s, d) => DataQueries.boilerStrip(s, d)),
    "q_dedup_rep"         -> ((s, d) => DataQueries.dedupRep(s, d)),
    "q_pq_encode"         -> ((s, d) => DataQueries.pqCodes(s, d)),
    "q_pq_topk"           -> ((s, d) => DataQueries.pqTopK(s, d)),
    "q_sample_docs"       -> ((s, d) => DataQueries.sampleDocs(s, d)),
    "q_bm25_topk"         -> ((s, d) => RetrievalOps.bm25TopK(s, d)),
    "q_pagerank"          -> ((s, d) => GraphOps.docPageRank(s, d, maxDocFreq = None)),
    "q_snapshot_diff"     -> ((s, d) => DataQueries.snapshotDiff(s, d)),
    "q_ngram_diversity"   -> ((s, d) => DataQueries.ngramDiversity(s, d)),
    "q_top_ngrams"        -> ((s, d) => DataQueries.topNgrams(s, d)),
    "q_hard_negatives"    -> ((s, d) => DataQueries.hardNegatives(s, d)),
    "q_hard_negatives_lsh" -> ((s, d) => DataQueries.hardNegativesLsh(s, d)),
    "q_hard_negatives_capped" -> ((s, d) =>
      DataQueries.hardNegativesLshCapped(s, d)),
    "q_cdc_dedup"         -> ((s, d) => DataQueries.cdcDedup(s, d)),
    "q_ivf_state_probe"   -> ((s, d) => DataQueries.ivfStateProbe(s, d)),
    "q_epoch_manifest"    -> ((s, d) => DataQueries.epochManifest(s, d)),
    "q_balanced_sample"   -> ((s, d) => DataQueries.balancedSample(s, d)),
    "q_topic_quality"     -> ((s, d) => DataQueries.topicQuality(s, d)),
    "q_quality_model"     -> ((s, d) => graft.ml.QualityClassifier.qualityModel(s, d)),
    "q_isotonic_cal"      -> ((s, d) => DataQueries.isotonicCalibration(s, d)),
    "q_quality_agreement" -> ((s, d) => graft.ml.QualityClassifier.qualityAgreement(s, d)),
    "q_hybrid_rrf"        -> ((s, d) => RetrievalOps.hybridRrf(s, d)),
    "q_dup_coverage"      -> ((s, d) => DataQueries.dupCoverage(s, d)),
    "q_k_anon"            -> ((s, d) => DataQueries.kAnon(s, d)),
    "q_curriculum"        -> ((s, d) => DataQueries.curriculum(s, d)),
    "q_minhash_err"       -> ((s, d) => DataQueries.minhashErr(s, d)),
    "q_skew_report"       -> ((s, d) => DataQueries.skewReport(s, d)),
    "q_pca_project"       -> ((s, d) =>
      graft.ops.VectorOps.pcaProject(graft.Tables.embeddings(s, d))),
    "q_jl_distortion"     -> ((s, d) =>
      graft.ops.VectorOps.jlDistortion(graft.Tables.embeddings(s, d))),
    "q_para_pairs"        -> ((s, d) => DataQueries.paraPairs(s, d)),
    "q_cluster_sample"    -> ((s, d) => DataQueries.clusterSample(s, d)),
    "q_weighted_sample"   -> ((s, d) => DataQueries.weightedSample(s, d)),
    "q_bloom_screen"      -> ((s, d) => DataQueries.bloomScreen(s, d)),
    "q_cms_err"           -> ((s, d) => DataQueries.cmsErr(s, d)),
    "q_hll_err"           -> ((s, d) => DataQueries.hllErr(s, d)),
    "q_sample_quantiles"  -> ((s, d) => DataQueries.sampleQuantiles(s, d)),
    "q_hist_quantile"     -> ((s, d) => DataQueries.histQuantile(s, d)),
    "q_join_size"         -> ((s, d) => DataQueries.joinSizeEst(s, d)),
    "q_incr_agg"          -> ((s, d) => DataQueries.incrAgg(s, d)),
    "q_zorder"            -> ((s, d) => DataQueries.zorderLayout(s, d)),
    "q_compact"           -> ((s, d) => graft.ops.Maintenance.compactReport(s, d)),
    "q_aqp_sum"           -> ((s, d) => DataQueries.aqpSum(s, d)),
    "q_ref_integrity"     -> ((s, d) => DataQueries.refIntegrity(s, d)),
    "q_lang_confusion"    -> ((s, d) => DataQueries.langConfusion(s, d)),
    "q_langid_metrics"    -> ((s, d) => DataQueries.langIdMetrics(s, d)),
    "q_day_audit"         -> ((s, d) => DataQueries.dayAudit(s, d)),
    "q_embed_drift"       -> ((s, d) => DataQueries.embedDrift(s, d)),
    "q_dup_size_hist"     -> ((s, d) => DataQueries.dupSizeHist(s, d)),
    "q_lsh_tuning"        -> ((s, d) => DataQueries.lshTuning(s, d)),
    "q_shard_rebalance"   -> ((s, d) => DataQueries.shardRebalance(s, d)),
    "q_triangles"         -> ((s, d) => graft.ops.GraphOps.triangles(s, d, maxDocFreq = None)),
    "q_table_stats"       -> ((s, d) => DataQueries.tableStats(s, d)),
    "q_scd2"              -> ((s, d) => DataQueries.scd2History(s, d)),
    "q_scd2_asof"         -> ((s, d) => DataQueries.scd2Asof(s, d)),
    "q_incr_join"         -> ((s, d) => DataQueries.incrJoin(s, d)),
    "q_salted_join"       -> ((s, d) => DataQueries.saltedJoin(s, d)),
    "q_prefix_join"       -> ((s, d) => graft.ops.DedupOps
      .prefixJoin(graft.Tables.documents(s, d), "doc_id", "text", 3)
      .orderBy("doc_a", "doc_b")),
    "q_merge_into"        -> ((s, d) => DataQueries.mergeInto(s, d)),
    "q_self_dedup"        -> ((s, d) => DataQueries.selfDedup(s, d)),
    "q_domain_cap"        -> ((s, d) => DataQueries.domainCap(s, d)),
    "q_decay_agg"         -> ((s, d) => DataQueries.decayAgg(s, d)),
    "q_novelty"           -> ((s, d) => DataQueries.noveltyRate(s, d)),
    "q_kcore"             -> ((s, d) => GraphOps.docKCore(s, d, maxDocFreq = None)),
    "q_collocations"      -> ((s, d) => DataQueries.collocations(s, d)),
    "q_vocab_growth"      -> ((s, d) => DataQueries.vocabGrowth(s, d)),
    "q_phrase_search"     -> ((s, d) => DataQueries.phraseSearch(s, d)),
    "q_entity_match"      -> ((s, d) => graft.ops.Relational.entityMatch(s, d)),
    "q_token_simpson"     -> ((s, d) => DataQueries.tokenSimpson(s, d)),
    "q_hyperball"         -> ((s, d) => GraphOps.hyperBall(s, d, maxDocFreq = None)),
    "q_hyperball_sketch"  -> ((s, d) => GraphOps.hyperBallSketch(s, d, maxDocFreq = None)),
    "q_label_prop"        -> ((s, d) => GraphOps.labelProp(s, d, maxDocFreq = None)),
    "q_modularity"        -> ((s, d) => GraphOps.modularity(s, d, maxDocFreq = None)),
    "q_harmonic"          -> ((s, d) => GraphOps.harmonicCentrality(s, d, maxDocFreq = None)),
    // the 100 TB graph-family entries: same machinery over the
    // docFreq-capped near-dup graph (round-13 ScaleProbe measured the
    // uncapped edge set ×103 max-task at a 10×-duplicated corpus — a
    // dup clique's edges grow quadratically, so every downstream graph
    // pass inherits the blow-up; the q_dedup_groups_capped rule de-skews
    // it at the source). Uncapped twins above stay the small-sf checks.
    "q_modularity_capped" -> ((s, d) =>
      GraphOps.modularity(s, d, maxDocFreq = Some(5))),
    "q_harmonic_capped"   -> ((s, d) =>
      GraphOps.harmonicCentrality(s, d, maxDocFreq = Some(5))),
    "q_triangles_capped"  -> ((s, d) =>
      graft.ops.GraphOps.triangles(s, d, maxDocFreq = Some(5))),
    "q_label_prop_capped" -> ((s, d) =>
      GraphOps.labelProp(s, d, maxDocFreq = Some(5))),
    "q_hyperball_sketch_capped" -> ((s, d) =>
      GraphOps.hyperBallSketch(s, d, maxDocFreq = Some(5))),
    "q_bpe_merges"        -> ((s, d) => DataQueries.bpeMerges(s, d)),
    "q_bpe_apply"         -> ((s, d) => DataQueries.bpeApply(s, d)),
    // vocabulary-depth demonstration: 64 merges via the BATCHED trainer
    // (top-M non-interacting merges per Spark round, provably ≡ the
    // sequential trainer — see bpeTrainBatched); the oracle unrolls all
    // 64 sequential rounds (generated, MATERIALIZED CTEs)
    "q_bpe_train64"       -> ((s, d) => DataQueries.bpeTrainBatched(s, d, 64, 16)),
    // apply leg of the 64-merge vocabulary: rank-ordered per-rule
    // replay over the word table (rules interact across ranks); the
    // oracle reuses the train64 CTE chain's final symbol table s64
    "q_bpe_apply64"       -> ((s, d) => DataQueries.bpeApply64(s, d, 64, 16)),
    // ---- EVM log pipeline (SURVEY §2.1/§2.2/§2.3, §3.1 end-to-end) ----
    "q_evm_decode"        -> ((s, d) => {
      import graft.evm.LogPipeline
      val logs = LogPipeline.synthesizeLogs(graft.Tables.events(s, d))
      LogPipeline.decodeEvent(logs, LogPipeline.Transfer, "Token", "1")
        .select(col("tx_hash"), col("block_number"),
          col("from").as("from_addr"), col("to").as("to_addr"),
          col("value").cast("long").as("value"),
          org.apache.spark.sql.functions.coalesce(col("value").cast("string"),
            col("data_hex")).as("value_or_hex"))
        .orderBy("tx_hash")
    }),
    "q_evm_daily"         -> ((s, d) => graft.evm.LogPipeline.dailyVolume(s, d)
      .orderBy("day")),
    // raw_params escape hatch: only Transfer is "configured", so the
    // Approval rows flow through as unknown events with the raw map
    // (rendered sorted-key=value for the hash gate)
    "q_evm_raw"           -> ((s, d) => {
      import graft.evm.{Keccak, LogPipeline}
      val logs = LogPipeline.synthesizeLogs(graft.Tables.events(s, d))
      LogPipeline.decodeUnknown(logs,
          Seq(Keccak.eventTopic0(LogPipeline.TransferSig)), "1")
        .select(col("tx_hash"), col("block_number"), col("contract"),
          col("chain_id"),
          org.apache.spark.sql.functions.expr(
            """array_join(transform(array_sort(map_keys(raw_params)),
                 k -> concat(k, '=', raw_params[k])), '&')""").as("raw_params"))
        .orderBy("tx_hash")
    }),
    "q_evm_swap"          -> ((s, d) => graft.evm.LogPipeline.swapDecode(s, d)
      .orderBy("tx_hash")),
    // full-range uint256 aggregation: whale words value = cents·2^128 +
    // event_id (beyond DECIMAL(38,0) AND HUGEINT) summed as 32-bit
    // limbs — per-limb sums stay in int64 on both engines; the
    // arbitrary-precision decimal-string form (uint256_sum) is pinned
    // by EvmSpec against a BigInt reference on the same rows
    "q_uint256_sum"       -> ((s, d) => {
      import graft.evm.LogPipeline
      import org.apache.spark.sql.functions.{count, element_at, lit, sum}
      val logs = LogPipeline.synthesizeWhaleLogs(graft.Tables.events(s, d))
        .select(col("token"), LogPipeline.uint256Limbs(col("data")).as("lb"))
      val aggs = count(lit(1)).as("n") +: (0 until 8).map(i =>
        sum(element_at(col("lb"), i + 1)).cast("long").as(s"ls$i"))
      logs.groupBy("token").agg(aggs.head, aggs.tail: _*).orderBy("token")
    }),
    "q_evm_payout"        -> ((s, d) => graft.evm.LogPipeline.payoutDecode(s, d)
      .orderBy("tx_hash", "pos")),
    "q_evm_order"         -> ((s, d) => graft.evm.LogPipeline.orderDecode(s, d)
      .orderBy("tx_hash", "pos")),
    // J2: sign → encode → distinct-tx recover → broadcast-join loop;
    // the oracle pins the 5 recovered addresses as literals (the
    // well-known addresses of private keys 1..5)
    "q_evm_txfrom"        -> ((s, d) => {
      import graft.evm.LogPipeline
      val ev = graft.Tables.events(s, d)
      val rows = LogPipeline.decodeEvent(LogPipeline.synthesizeLogs(ev),
        LogPipeline.Transfer, "Token", "1")
      LogPipeline.attachTxFrom(rows, LogPipeline.synthesizeTxs(ev))
        .select(col("tx_hash"), col("from").as("from_addr"), col("tx_from"))
        .orderBy("tx_hash")
    }),
    // ---- ML surface (SURVEY §2.7) ----
    "q_ml_dataset"        -> ((s, d) => graft.ml.MlPipeline.dataset(s, d)
      .select(col("event_type"), col("bucket").cast("timestamp_ntz").as("bucket"),
        org.apache.spark.sql.functions.round(col("z"), 6).as("z"),
        org.apache.spark.sql.functions.round(col("devdt"), 6).as("devdt"),
        org.apache.spark.sql.functions.round(col("bias"), 6).as("bias"),
        org.apache.spark.sql.functions.round(col("sigma"), 6).as("sigma"),
        col("pair_id"), col("y"))
      .orderBy("event_type", "bucket")),
    // The declared ML queries are fully deterministic (pinned-artifact
    // arithmetic over rounded doubles → real DuckDB oracles). The live
    // LBFGS halves (MlPipeline.trainEval / nowSignals) are library
    // training entry points, spec-gated by MlSpec's drift test (refit ≡
    // pinned artifact within 1e-6) — training isn't SQL, serving is.
    "q_ml_train_eval"     -> ((s, d) => graft.ml.MlPipeline.trainReport(s, d)),
    "q_ml_signals"        -> ((s, d) => graft.ml.MlPipeline.signalsAll(s, d)
      .withColumn("bucket", col("bucket").cast("timestamp_ntz"))),
    "q_ml_eval_pinned"    -> ((s, d) => graft.ml.MlPipeline.evalPinned(s, d)),
    "q_ml_signals_pinned" -> ((s, d) => graft.ml.MlPipeline.signalsPinned(s, d)
      .withColumn("bucket", col("bucket").cast("timestamp_ntz"))),
  )

  /** Shared oracle fragments for the text/dedup family. */
  private val H64 = "('0x' || substr(md5(%s), 1, 15))::BIGINT"

  /** DuckDB twin of TextOps.tokens (CJK-safe): pad every non-spaced-
    * script codepoint (Han/Kana/Hangul/Thai — RE2's `\p{Xxx}` spelling
    * of the SAME Unicode script classes the Java side names
    * `\p{IsXxx}`), split on whitespace, drop empties. On pure-ASCII
    * text the pad never matches, so this is the plain whitespace
    * split there. */
  private def duckToks(texpr: String): String =
    "list_filter(regexp_split_to_array(regexp_replace(" + texpr +
      ", '([\\p{Han}\\p{Hiragana}\\p{Katakana}\\p{Hangul}\\p{Thai}])'" +
      ", ' \\1 ', 'g'), '\\s+'), t -> len(t) > 0)"
  private lazy val TOKS_CTE =
    s"""toks AS (SELECT doc_id, text,
         ${duckToks("text")} AS tk
       FROM documents)"""

  /** DuckDB twin of TextOps.textI18n — the deterministic multilingual
    * derivation (hash-gated accent + CJK suffixes; composed vs
    * decomposed accent picked by doc_id parity). Same shift/mod
    * arithmetic on the same 60-bit hash; DuckDB's chr is
    * codepoint-native (our Spark twin is the `uchr` expression). */
  private def docs18Cte(src: String): String =
    s"""docs18 AS (SELECT doc_id, lang, text0
         || CASE WHEN ((h >> 35) % 4) <> 3 THEN ' '
              || chr(CAST(97 + ((h >> 27) % 16) AS INT))
              || chr(CAST(97 + ((h >> 31) % 16) AS INT))
              || CASE WHEN doc_id % 2 = 1
                   THEN chr(CAST(97 + ((h >> 2) % 2) * 4 AS INT))
                     || chr(CAST(768 + CASE WHEN h % 4 = 3 THEN 8
                                       ELSE h % 4 END AS INT))
                   ELSE CASE WHEN (h >> 2) % 2 = 1
                          THEN chr(CAST(232 + h % 4 AS INT))
                          ELSE chr(CAST(224 + CASE WHEN h % 4 = 3 THEN 4
                                         ELSE h % 4 END AS INT))
                        END
                 END
            ELSE '' END
         || CASE WHEN ((h >> 37) % 4) <> 3 THEN ' '
              || chr(CAST(19968 + ((h >> 3) % 512) AS INT))
              || chr(CAST(12354 + ((h >> 21) % 64) AS INT))
              || chr(CAST(19968 + ((h >> 12) % 512) AS INT))
            ELSE '' END AS text
       FROM (SELECT doc_id, lang, text AS text0,
               ${H64.format("text")} AS h FROM $src))"""
  private lazy val DOCS18_CTE = docs18Cte("documents")
  /** Two-producer variant for the NFC-merge gate: each doc plus an
    * ODD-offset re-key, so the twin's accent takes the other encoding. */
  private lazy val DOCS18X2_CTE =
    """docs2 AS (SELECT doc_id, lang, text FROM documents
       UNION ALL
       SELECT doc_id + 10000001, lang, text FROM documents),
    """ + docs18Cte("docs2")
  private val SHING_CTE =
    """shing AS (SELECT doc_id,
         CASE WHEN len(tk) >= 3
           THEN list_distinct(list_transform(range(len(tk) - 2),
                  i -> array_to_string(list_slice(tk, i + 1, i + 3), ' ')))
           ELSE [] END AS shs
       FROM toks)"""
  /** Near-dup edges over the docFreq-CAPPED shingle set (the
    * q_dedup_groups_capped rule: stop-shingles with doc count > 5
    * dropped, sizes re-counted over the kept set, then the Jaccard
    * pair join + symmetrized edges) — the preamble every capped
    * graph-family oracle shares. Expects toks/shing CTEs upstream. */
  private lazy val CAPPED_EDGES_CTES =
    """exc AS (SELECT doc_id, unnest(shs) AS s FROM shing),
       keepc AS (SELECT s FROM exc GROUP BY s HAVING count(*) <= 5),
       fxc AS (SELECT doc_id, s FROM exc JOIN keepc USING (s)),
       sizes AS (SELECT doc_id, count(*) AS sz FROM fxc GROUP BY doc_id),
       pairs AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                   count(*) AS inter
                 FROM fxc a JOIN fxc b ON a.s = b.s AND a.doc_id < b.doc_id
                 GROUP BY 1, 2),
       jp AS (SELECT doc_a, doc_b
              FROM pairs JOIN sizes sa ON doc_a = sa.doc_id
                         JOIN sizes sb ON doc_b = sb.doc_id
              WHERE inter::DOUBLE / (sa.sz + sb.sz - inter) >= 0.1),
       edges AS (SELECT doc_a AS src, doc_b AS dst FROM jp
                 UNION ALL SELECT doc_b AS src, doc_a AS dst FROM jp)"""

  /** BPE training rounds (word table, two unrolled merges, final
    * symbol table s2, per-round winners/sizes t1,t2,b0,b1,b2) -
    * shared by q_bpe_merges and q_bpe_apply. */
  private lazy val BPE_CTES =
    s"""$TOKS_CTE,
         wt AS (SELECT w, count(*) AS wcnt
                FROM (SELECT unnest(tk) AS w FROM toks) GROUP BY 1),
         s0 AS (SELECT w, wcnt, CAST(u.i + 1 AS BIGINT) AS pos, u.s AS sym
                FROM (SELECT w, wcnt,
                        unnest(list_transform(range(len(string_split(w, ''))),
                          i -> {'i': i, 's': string_split(w, '')[i + 1]})) AS u
                      FROM wt)),
         a1 AS (SELECT w, wcnt, pos, sym,
                  lead(sym) OVER (PARTITION BY w ORDER BY pos) AS nxt,
                  lag(sym) OVER (PARTITION BY w ORDER BY pos) AS prv
                FROM s0),
         t1 AS (SELECT sym AS x, nxt AS y, CAST(sum(wcnt) AS BIGINT) AS cnt
                FROM a1 WHERE nxt IS NOT NULL
                GROUP BY 1, 2 ORDER BY cnt DESC, x, y LIMIT 1),
         b0 AS (SELECT CAST(sum(wcnt) AS BIGINT) AS n FROM s0),
         r1 AS (SELECT a.*, t.x, t.y,
                  sum(CASE WHEN a.sym = t.x THEN 1 ELSE 0 END)
                    OVER (PARTITION BY a.w ORDER BY a.pos) AS cumx
                FROM a1 a, t1 t),
         r1b AS (SELECT *, CASE WHEN sym = x THEN pos - cumx END AS runkey
                 FROM r1),
         r1c AS (SELECT *,
                  row_number() OVER (PARTITION BY w, runkey ORDER BY pos)
                    AS idx,
                  count(*) OVER (PARTITION BY w, runkey) AS runlen
                 FROM r1b),
         m1 AS (SELECT w, wcnt, pos,
                  CASE WHEN x = y THEN
                         CASE WHEN sym = x AND idx % 2 = 1 AND idx < runlen
                              THEN x || y ELSE sym END
                       WHEN sym = x AND nxt = y THEN x || y
                       ELSE sym END AS sym
                FROM r1c
                WHERE CASE WHEN x = y THEN NOT (sym = x AND idx % 2 = 0)
                      ELSE NOT coalesce(prv = x AND sym = y, FALSE) END),
         s1 AS (SELECT w, wcnt, CAST(row_number() OVER
                  (PARTITION BY w ORDER BY pos) AS BIGINT) AS pos, sym
                FROM m1),
         a2 AS (SELECT w, wcnt, pos, sym,
                  lead(sym) OVER (PARTITION BY w ORDER BY pos) AS nxt,
                  lag(sym) OVER (PARTITION BY w ORDER BY pos) AS prv
                FROM s1),
         t2 AS (SELECT sym AS x, nxt AS y, CAST(sum(wcnt) AS BIGINT) AS cnt
                FROM a2 WHERE nxt IS NOT NULL
                GROUP BY 1, 2 ORDER BY cnt DESC, x, y LIMIT 1),
         b1 AS (SELECT CAST(sum(wcnt) AS BIGINT) AS n FROM s1),
         r2 AS (SELECT a.*, t.x, t.y,
                  sum(CASE WHEN a.sym = t.x THEN 1 ELSE 0 END)
                    OVER (PARTITION BY a.w ORDER BY a.pos) AS cumx
                FROM a2 a, t2 t),
         r2b AS (SELECT *, CASE WHEN sym = x THEN pos - cumx END AS runkey
                 FROM r2),
         r2c AS (SELECT *,
                  row_number() OVER (PARTITION BY w, runkey ORDER BY pos)
                    AS idx,
                  count(*) OVER (PARTITION BY w, runkey) AS runlen
                 FROM r2b),
         m2 AS (SELECT w, wcnt, pos,
                  CASE WHEN x = y THEN
                         CASE WHEN sym = x AND idx % 2 = 1 AND idx < runlen
                              THEN x || y ELSE sym END
                       WHEN sym = x AND nxt = y THEN x || y
                       ELSE sym END AS sym
                FROM r2c
                WHERE CASE WHEN x = y THEN NOT (sym = x AND idx % 2 = 0)
                      ELSE NOT coalesce(prv = x AND sym = y, FALSE) END),
         s2 AS (SELECT w, wcnt, CAST(row_number() OVER
                  (PARTITION BY w ORDER BY pos) AS BIGINT) AS pos, sym
                FROM m2),
         b2 AS (SELECT CAST(sum(wcnt) AS BIGINT) AS n FROM s2)"""

  /** One unrolled sequential-BPE round for the generated 64-merge
    * oracle: identical algebra to [[BPE_CTES]]' hand-written rounds
    * (winner by (cnt desc, x, y); x≠y merge/drop; x=y run-length
    * parity), CTEs MATERIALIZED because DuckDB's inliner otherwise
    * expands the 64-deep chain combinatorially (each a_i/t_i is
    * referenced twice). */
  private def bpeRoundSql(i: Int): String = {
    val p = i - 1
    s"""a$i AS MATERIALIZED (SELECT w, wcnt, pos, sym,
              lead(sym) OVER (PARTITION BY w ORDER BY pos) AS nxt,
              lag(sym) OVER (PARTITION BY w ORDER BY pos) AS prv
            FROM s$p),
     t$i AS MATERIALIZED (SELECT sym AS x, nxt AS y,
              CAST(sum(wcnt) AS BIGINT) AS cnt
            FROM a$i WHERE nxt IS NOT NULL
            GROUP BY 1, 2 ORDER BY cnt DESC, x, y LIMIT 1),
     r$i AS MATERIALIZED (SELECT a.*, t.x, t.y,
              sum(CASE WHEN a.sym = t.x THEN 1 ELSE 0 END)
                OVER (PARTITION BY a.w ORDER BY a.pos) AS cumx
            FROM a$i a, t$i t),
     r${i}b AS MATERIALIZED (SELECT *,
              CASE WHEN sym = x THEN pos - cumx END AS runkey
            FROM r$i),
     r${i}c AS MATERIALIZED (SELECT *,
              row_number() OVER (PARTITION BY w, runkey ORDER BY pos) AS idx,
              count(*) OVER (PARTITION BY w, runkey) AS runlen
            FROM r${i}b),
     m$i AS MATERIALIZED (SELECT w, wcnt, pos,
              CASE WHEN x = y THEN
                     CASE WHEN sym = x AND idx % 2 = 1 AND idx < runlen
                          THEN x || y ELSE sym END
                   WHEN sym = x AND nxt = y THEN x || y
                   ELSE sym END AS sym
            FROM r${i}c
            WHERE CASE WHEN x = y THEN NOT (sym = x AND idx % 2 = 0)
                  ELSE NOT coalesce(prv = x AND sym = y, FALSE) END),
     s$i AS MATERIALIZED (SELECT w, wcnt, CAST(row_number() OVER
              (PARTITION BY w ORDER BY pos) AS BIGINT) AS pos, sym
            FROM m$i)"""
  }

  /** Shared 64-round sequential-BPE CTE chain (q_bpe_train64 and the
    * q_bpe_apply64 leg both read it; s64 is the post-64-merge symbol
    * table). */
  private lazy val BPE64_CTES: String = {
    val head = s"""$TOKS_CTE,
     wt AS MATERIALIZED (SELECT w, count(*) AS wcnt
            FROM (SELECT unnest(tk) AS w FROM toks) GROUP BY 1),
     s0 AS MATERIALIZED (SELECT w, wcnt, CAST(u.i + 1 AS BIGINT) AS pos,
              u.s AS sym
            FROM (SELECT w, wcnt,
                    unnest(list_transform(range(len(string_split(w, ''))),
                      i -> {'i': i, 's': string_split(w, '')[i + 1]})) AS u
                  FROM wt))"""
    (head +: (1 to 64).map(bpeRoundSql)).mkString(",\n")
  }

  /** One unrolled Lloyd round for the generated k-means oracle
    * (q_kmeans): exact-integer distances, argmin ties to the lowest
    * centroid id, per-dim floor(mean) updates, emptied clusters keep
    * their previous centroid. MATERIALIZED like the BPE rounds. */
  private def kmeansRoundSql(i: Int): String = {
    val p = i - 1
    s"""d$i AS MATERIALIZED (SELECT v.vec_id, c.cl,
          CAST(list_sum(list_transform(range(1, len(v.vq) + 1),
            j -> (v.vq[j] - c.c[j]) * (v.vq[j] - c.c[j]))) AS BIGINT) AS dist2
        FROM v, c$p c),
     a$i AS MATERIALIZED (SELECT vec_id, cl FROM (
          SELECT vec_id, cl, row_number() OVER (PARTITION BY vec_id
            ORDER BY dist2, cl) AS rk FROM d$i) WHERE rk = 1),
     u$i AS MATERIALIZED (SELECT cl, list(dm ORDER BY j) AS c FROM (
          SELECT cl, u.j AS j,
            CAST(floor(CAST(sum(u.x) AS DOUBLE) / count(*)) AS BIGINT) AS dm
          FROM (SELECT a.cl,
                  unnest(list_transform(range(1, len(v.vq) + 1),
                    jj -> {'j': jj, 'x': v.vq[jj]})) AS u
                FROM a$i a JOIN v USING (vec_id))
          GROUP BY cl, u.j) GROUP BY cl),
     c$i AS MATERIALIZED (SELECT c$p.cl, coalesce(u$i.c, c$p.c) AS c
          FROM c$p LEFT JOIN u$i USING (cl))"""
  }

  /** Shared k-means CTE chain (k=8, rounds=2): quantize (the
    * q_centroid_sim twin), init from the k lowest-id vectors, two
    * unrolled Lloyd rounds → trained quantized centroids in c2. Read
    * by q_kmeans (assignment + sizes) and q_ivf_kmeans (dequantized
    * coarse centroids for the IVF probe). */
  private lazy val KMEANS_CTES: String = {
    val k = 8
    val head = s"""v AS MATERIALIZED (SELECT vec_id,
          list_transform(embedding::DOUBLE[],
            x -> CAST(round(x * 1e6) AS BIGINT)) AS vq
        FROM embeddings
        WHERE embedding IS NOT NULL AND len(embedding) > 0),
     c0 AS MATERIALIZED (SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cl,
          vq AS c
        FROM (SELECT vec_id, vq FROM v ORDER BY vec_id LIMIT $k))"""
    (Seq(head) ++ (1 to 2).map(kmeansRoundSql)).mkString(",\n")
  }

  /** Generated k-means oracle: final assignment + cluster sizes over
    * the trained c2 centroids. */
  private lazy val KMEANS_SQL: String = {
    val fin = s"""dF AS (SELECT v.vec_id, c.cl,
          CAST(list_sum(list_transform(range(1, len(v.vq) + 1),
            j -> (v.vq[j] - c.c[j]) * (v.vq[j] - c.c[j]))) AS BIGINT) AS dist2
        FROM v, c2 c),
     aF AS (SELECT vec_id, cl, dist2 FROM (
          SELECT vec_id, cl, dist2, row_number() OVER (PARTITION BY vec_id
            ORDER BY dist2, cl) AS rk FROM dF) WHERE rk = 1),
     sz AS (SELECT cl, count(*) AS n FROM aF GROUP BY cl)
     SELECT aF.vec_id, aF.cl AS cluster, aF.dist2,
       CAST(sz.n AS BIGINT) AS cluster_size
     FROM aF JOIN sz USING (cl) ORDER BY aF.vec_id"""
    "WITH " + KMEANS_CTES + ",\n" + fin
  }

  /** IVF with trained coarse centroids (q_ivf_kmeans): the k-means
    * chain's c2 dequantized (x / 1e6 — the same long→double division
    * Spark performs), then the q_ivf_topk probe shape verbatim over
    * the ORIGINAL double vectors. */
  private lazy val IVF_KMEANS_SQL: String =
    "WITH " + KMEANS_CTES + """,
     vd AS (SELECT vec_id, embedding::DOUBLE[] AS ve FROM embeddings),
     cent AS (SELECT cl AS cid, list_transform(c, x -> x / 1000000.0) AS cv
              FROM c2),
     ac AS (SELECT vd.vec_id, cent.cid,
              list_dot_product(vd.ve, cent.cv) /
                (sqrt(list_dot_product(vd.ve, vd.ve)) *
                 sqrt(list_dot_product(cent.cv, cent.cv))) AS cos
            FROM vd CROSS JOIN cent),
     asg AS (SELECT vec_id, cid AS list_id FROM
               (SELECT *, row_number() OVER (PARTITION BY vec_id
                  ORDER BY cos DESC, cid ASC) AS rn FROM ac)
             WHERE rn = 1),
     probe AS (SELECT vec_id, cid AS list_id FROM
               (SELECT *, row_number() OVER (PARTITION BY vec_id
                  ORDER BY cos DESC, cid ASC) AS rn
                FROM ac WHERE vec_id < 10)
             WHERE rn <= 2),
     sc AS (SELECT p.vec_id AS query_id, a.vec_id AS cand_id,
              list_dot_product(q.ve, c.ve) /
                (sqrt(list_dot_product(q.ve, q.ve)) *
                 sqrt(list_dot_product(c.ve, c.ve))) AS cos
            FROM probe p JOIN asg a ON p.list_id = a.list_id
              AND p.vec_id <> a.vec_id
            JOIN vd q ON q.vec_id = p.vec_id
            JOIN vd c ON c.vec_id = a.vec_id),
     rk AS (SELECT *, row_number() OVER (PARTITION BY query_id
              ORDER BY cos DESC, cand_id ASC) AS rnk FROM sc)
     SELECT query_id, cand_id, round(cos, 6) AS cos, rnk
     FROM rk WHERE rnk <= 3 ORDER BY query_id, rnk"""

  /** Generated 64-round sequential-BPE oracle (q_bpe_train64). */
  private lazy val BPE64_SQL: String = {
    val sel = (1 to 64)
      .map(i => s"SELECT CAST($i AS BIGINT) AS merge_rank, x, y, cnt FROM t$i")
      .mkString("\nUNION ALL\n")
    "WITH " + BPE64_CTES + s"\nSELECT * FROM ($sel) ORDER BY merge_rank"
  }

  /** Apply leg of the 64-merge vocabulary (q_bpe_apply64): the final
    * symbol table s64 IS the corpus word table after the 64 sequential
    * merges, so per-source compression is the q_bpe_apply join shape
    * over it. */
  private lazy val BPE64_APPLY_SQL: String =
    "WITH " + BPE64_CTES + """,
     pw AS (SELECT w, count(*) AS n_sym FROM s64 GROUP BY w),
     srcw AS (SELECT d.source, unnest(t.tk) AS w
              FROM toks t JOIN documents d USING (doc_id)),
     swc AS (SELECT source, w, count(*) AS cnt FROM srcw GROUP BY 1, 2)
     SELECT source,
       CAST(sum(cnt * len(w)) AS BIGINT) AS syms_before,
       CAST(sum(cnt * n_sym) AS BIGINT) AS syms_after,
       (CAST(sum(cnt * n_sym) AS BIGINT) * 1000000)
         // CAST(sum(cnt * len(w)) AS BIGINT) AS compression_micro
     FROM swc JOIN pw USING (w) GROUP BY source ORDER BY source"""

  /** USTAR shard oracle, shared verbatim by q_tar_shards and its
    * .tar.gz twin (both report the UNCOMPRESSED archive arithmetic —
    * 512-byte header + payload padded to 512 per member + the
    * 1024-byte terminator). */
  private lazy val TAR_SHARDS_SQL: String =
    """WITH e AS (SELECT doc_id, doc_id % 8 AS shard,
           octet_length(encode(text)) AS nb,
           ('0x' || substr(md5(text), 1, 15))::BIGINT AS h
         FROM documents)
       SELECT shard, count(*) AS n_entries,
         CAST(sum(nb) AS BIGINT) AS payload_bytes,
         CAST(sum(512 + ((nb + 511) // 512) * 512) + 1024 AS BIGINT)
           AS tar_bytes,
         CAST(bit_xor(h) AS BIGINT) AS xor_h64,
         min(doc_id) AS first_doc, max(doc_id) AS last_doc
       FROM e GROUP BY shard ORDER BY shard"""

  /** End-to-end pipeline oracle (q_pipeline_e2e): every stage of the
    * composed corpus build replayed relationally — the gopher gate,
    * self-dedup window removal, exact dedup on the kept content,
    * windowed near-dup drop, decontamination, per-language quality
    * deciles and the 50% mixture budget — each from the SAME fragment
    * spelling its standalone oracle uses, chained over survivors. */
  private lazy val PIPELINE_SQL: String =
    s"""WITH $TOKS_CTE,
       $SHING_CTE,
       gop AS (SELECT doc_id, len(tk) AS n_words,
           (len(tk) >= 20 AND len(tk) <= 100000
            AND CASE WHEN len(tk) > 0 THEN
              list_sum(list_transform(tk, t -> len(t)))::DOUBLE / len(tk)
            END >= 2.0
            AND CASE WHEN len(tk) > 0 THEN
              list_sum(list_transform(tk, t -> len(t)))::DOUBLE / len(tk)
            END <= 10.0
            AND coalesce(CASE WHEN len(tk) > 0 THEN
              len(list_filter(tk, t -> regexp_matches(t, '[A-Za-z]')))::DOUBLE
                / len(tk) END >= 0.8, false)
            AND (CASE WHEN list_contains(tk, 'the') THEN 1 ELSE 0 END +
                 CASE WHEN list_contains(tk, 'a')   THEN 1 ELSE 0 END +
                 CASE WHEN list_contains(tk, 'of')  THEN 1 ELSE 0 END +
                 CASE WHEN list_contains(tk, 'and') THEN 1 ELSE 0 END +
                 CASE WHEN list_contains(tk, 'is')  THEN 1 ELSE 0 END) >= 2)
             AS keep_gopher
           FROM toks),
       qual AS (SELECT toks.doc_id,
           0.4 * least(len(tk) / 100.0, 1.0)
           + 0.3 * (1.0 - coalesce(CASE WHEN len(toks.text) > 0 THEN
               (len(toks.text) - len(regexp_replace(toks.text, '[a-zA-Z0-9 ]', '', 'g')))::DOUBLE
                 / len(toks.text) END, 0.0))
           + 0.3 * least(coalesce(CASE WHEN len(tk) > 0 THEN
               len(list_filter(tk, x -> x IN ('the','a','of','and','is')))::DOUBLE
                 / len(tk) END, 0.0) * 5.0, 1.0) AS q
           FROM toks),
       sbase AS (SELECT doc_id, tk, len(tk) AS nb FROM toks),
       w0 AS (SELECT doc_id, tk,
                unnest(range(greatest(nb - 7, 0))) AS i FROM sbase),
       w AS (SELECT doc_id, i,
               ${H64.format("array_to_string(tk[i+1:i+8], ' ')")} AS wh
             FROM w0),
       f AS (SELECT doc_id, wh, min(i) AS fi FROM w GROUP BY 1, 2),
       repw AS (SELECT w.doc_id, w.i FROM w
                JOIN f ON w.doc_id = f.doc_id AND w.wh = f.wh
                WHERE w.i > f.fi),
       cov0 AS (SELECT doc_id, unnest(range(i, i + 8)) AS p FROM repw),
       cov AS (SELECT DISTINCT doc_id, p FROM cov0),
       tokp AS (SELECT doc_id, unnest(range(len(tk))) AS p,
                  unnest(tk) AS t FROM sbase),
       keptt AS (SELECT tokp.doc_id, tokp.p, tokp.t FROM tokp
                 LEFT JOIN cov ON tokp.doc_id = cov.doc_id AND tokp.p = cov.p
                 WHERE cov.p IS NULL),
       sagg AS (SELECT doc_id, count(*) AS na,
                  string_agg(t, ' ' ORDER BY p) AS ks
                FROM keptt GROUP BY 1),
       sd AS (SELECT b.doc_id, coalesce(a.na, 0)::BIGINT AS n_kept,
                ${H64.format("coalesce(a.ks, '')")} AS kept_hash
              FROM sbase b LEFT JOIN sagg a USING (doc_id)),
       base AS (SELECT d.doc_id, d.lang, g.n_words::BIGINT AS n_words,
                  g.keep_gopher, sd.n_kept, sd.kept_hash,
                  (d.doc_id % 20 = 0) AS is_bench, q.q
                FROM documents d
                JOIN gop g USING (doc_id)
                JOIN sd USING (doc_id)
                JOIN qual q USING (doc_id)),
       s1 AS (SELECT * FROM base WHERE keep_gopher),
       s3 AS (SELECT * FROM (SELECT *, row_number() OVER
                (PARTITION BY kept_hash ORDER BY doc_id) AS rk FROM s1)
              WHERE rk = 1),
       ex AS (SELECT s.doc_id, s.doc_id % 10 AS batch,
                len(sh.shs) AS sz, unnest(sh.shs) AS sg
              FROM s3 s JOIN shing sh USING (doc_id)),
       prs AS (SELECT a.doc_id AS da, b.doc_id AS db,
                 max(a.sz) AS sz_a, max(b.sz) AS sz_b, count(*) AS inter
               FROM ex a JOIN ex b ON a.sg = b.sg AND a.doc_id < b.doc_id
               WHERE abs(a.batch - b.batch) <= 1
               GROUP BY 1, 2),
       dropb AS (SELECT DISTINCT db FROM prs
                 WHERE inter::DOUBLE / (sz_a + sz_b - inter) >= 0.1),
       s4 AS (SELECT * FROM s3
              WHERE doc_id NOT IN (SELECT db FROM dropb)),
       sh5 AS (SELECT doc_id, CASE WHEN len(tk) >= 5
                 THEN list_distinct([array_to_string(tk[i+1:i+5], ' ')
                                     for i in range(0, len(tk) - 4)])
                 ELSE [] END AS shs FROM toks),
       bench AS (SELECT DISTINCT unnest(shs) AS sg FROM sh5
                 WHERE doc_id % 20 = 0),
       hits AS (SELECT c.doc_id, count(*) AS n_hits
                FROM (SELECT s4.doc_id, unnest(sh5.shs) AS sg
                      FROM s4 JOIN sh5 USING (doc_id)) c
                JOIN bench USING (sg) GROUP BY 1),
       s5 AS (SELECT s4.* FROM s4 LEFT JOIN hits USING (doc_id)
              WHERE NOT is_bench AND coalesce(n_hits, 0) < 5),
       s6 AS (SELECT * FROM (SELECT *, ntile(10) OVER
                (PARTITION BY lang ORDER BY q DESC, doc_id) AS dec FROM s5)
              WHERE dec <= 7),
       s7 AS (SELECT * FROM (SELECT *,
                sum(n_kept) OVER (PARTITION BY lang ORDER BY q DESC, doc_id
                  ROWS UNBOUNDED PRECEDING) AS cum,
                sum(n_kept) OVER (PARTITION BY lang) AS tot FROM s6)
              WHERE cum <= tot * 50 // 100)
       SELECT * FROM (
         SELECT 0::BIGINT AS stage_no, 'raw' AS stage,
           count(*)::BIGINT AS n_docs,
           coalesce(sum(n_words), 0)::BIGINT AS n_tokens FROM base
         UNION ALL SELECT 1, 'gopher', count(*)::BIGINT,
           coalesce(sum(n_words), 0)::BIGINT FROM s1
         UNION ALL SELECT 2, 'self_dedup', count(*)::BIGINT,
           coalesce(sum(n_kept), 0)::BIGINT FROM s1
         UNION ALL SELECT 3, 'exact_dedup', count(*)::BIGINT,
           coalesce(sum(n_kept), 0)::BIGINT FROM s3
         UNION ALL SELECT 4, 'windowed_neardup', count(*)::BIGINT,
           coalesce(sum(n_kept), 0)::BIGINT FROM s4
         UNION ALL SELECT 5, 'decontam', count(*)::BIGINT,
           coalesce(sum(n_kept), 0)::BIGINT FROM s5
         UNION ALL SELECT 6, 'quality_deciles', count(*)::BIGINT,
           coalesce(sum(n_kept), 0)::BIGINT FROM s6
         UNION ALL SELECT 7, 'mixture', count(*)::BIGINT,
           coalesce(sum(n_kept), 0)::BIGINT FROM s7
       ) ORDER BY stage_no"""

  /** Full-recompute connected components over the near-dup graph —
    * shared VERBATIM by q_dedup_groups (batch form) and q_incr_cc
    * (incremental fold): the incremental plan must be output-
    * indistinguishable from re-clustering the corpus. */
  private lazy val DEDUP_GROUPS_SQL =
    s"""WITH RECURSIVE $TOKS_CTE,
       $SHING_CTE,
       ex AS (SELECT doc_id, unnest(shs) AS s FROM shing),
       sizes AS (SELECT doc_id, len(shs) AS sz FROM shing),
       pairs AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS inter
                 FROM ex a JOIN ex b ON a.s = b.s AND a.doc_id < b.doc_id
                 GROUP BY 1, 2),
       near AS (SELECT doc_a, doc_b FROM pairs
                JOIN sizes sa ON doc_a = sa.doc_id
                JOIN sizes sb ON doc_b = sb.doc_id
                WHERE inter::DOUBLE / (sa.sz + sb.sz - inter) >= 0.1),
       edges AS (SELECT doc_a AS src, doc_b AS dst FROM near
                 UNION SELECT doc_b, doc_a FROM near),
       cc(node, label) AS (
         SELECT DISTINCT src, src FROM edges
         UNION
         SELECT e.dst, c.label FROM cc c JOIN edges e ON e.src = c.node),
       comps AS (SELECT node, min(label) AS comp FROM cc GROUP BY node),
       sz AS (SELECT comp, count(*) AS comp_size FROM comps GROUP BY comp)
       SELECT node AS doc, comp, comp_size
       FROM comps JOIN sz USING (comp) ORDER BY doc"""

  /** The docFreq-CAPPED twin of [[DEDUP_GROUPS_SQL]] — stop-shingles
    * (doc count > 5) out, sizes re-counted over the kept set, same
    * recursive-CC tail. Shared VERBATIM by q_dedup_groups_capped
    * (batch form) and q_incr_cc_capped (fold form): the capped
    * incremental fold must be indistinguishable from re-clustering the
    * capped corpus — one oracle, two physical plans. */
  private lazy val DEDUP_GROUPS_CAPPED_SQL =
    s"""WITH RECURSIVE $TOKS_CTE,
       $SHING_CTE,
       ex AS (SELECT doc_id, unnest(shs) AS s FROM shing),
       keep AS (SELECT s FROM ex GROUP BY s HAVING count(*) <= 5),
       fx AS (SELECT doc_id, s FROM ex JOIN keep USING (s)),
       sizes AS (SELECT doc_id, count(*) AS sz FROM fx GROUP BY doc_id),
       pairs AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS inter
                 FROM fx a JOIN fx b ON a.s = b.s AND a.doc_id < b.doc_id
                 GROUP BY 1, 2),
       near AS (SELECT doc_a, doc_b FROM pairs
                JOIN sizes sa ON doc_a = sa.doc_id
                JOIN sizes sb ON doc_b = sb.doc_id
                WHERE inter::DOUBLE / (sa.sz + sb.sz - inter) >= 0.1),
       edges AS (SELECT doc_a AS src, doc_b AS dst FROM near
                 UNION SELECT doc_b, doc_a FROM near),
       cc(node, label) AS (
         SELECT DISTINCT src, src FROM edges
         UNION
         SELECT e.dst, c.label FROM cc c JOIN edges e ON e.src = c.node),
       comps AS (SELECT node, min(label) AS comp FROM cc GROUP BY node),
       sz AS (SELECT comp, count(*) AS comp_size FROM comps GROUP BY comp)
       SELECT node AS doc, comp, comp_size
       FROM comps JOIN sz USING (comp) ORDER BY doc"""

  /** Winnowing fingerprint set (n=3, w=4), shared by q_winnow and
    * q_winnow_pairs: positional 3-gram hashes, window-4 minima,
    * distinct + sorted. */
  private lazy val WINNOW_CTE =
    s"""ps AS (SELECT doc_id, CASE WHEN len(tk) >= 3 THEN
            [${H64.format("array_to_string(tk[i+1:i+3], ' ')")}
             for i in range(0, len(tk) - 2)]
          ELSE [] END AS hs FROM toks),
       wm AS (SELECT doc_id, CASE WHEN len(hs) = 0 THEN []
            ELSE list_sort(list_distinct(
              [list_min(hs[i+1:i+least(4, len(hs))])
               for i in range(0, len(hs) - least(4, len(hs)) + 1)]))
            END AS fps FROM ps)"""

  /** Shared PQ oracle CTE mirroring VectorOps.pqEncode (m=4 × 16-dim
    * subspaces, 16-entry codebooks from the lowest-id vectors):
    * micro-unit fixed point → exact integer squared distances →
    * argmin codes, ties to the lowest code via row_number. */
  private val PQ_CTE =
    """pf AS (SELECT vec_id, CAST(i // 16 AS INT) AS sub, i % 16 AS pos,
                CAST(round(v::DOUBLE * 1e6) AS BIGINT) AS vf
              FROM (SELECT vec_id, unnest(range(len(embedding))) AS i,
                      unnest(embedding) AS v
                    FROM embeddings WHERE embedding IS NOT NULL)),
       cb AS (SELECT vec_id, row_number() OVER (ORDER BY vec_id) - 1 AS cidx
              FROM (SELECT vec_id FROM embeddings
                    WHERE embedding IS NOT NULL ORDER BY vec_id LIMIT 16)),
       cents AS (SELECT cb.cidx, pf.sub, pf.pos, pf.vf
                 FROM pf JOIN cb USING (vec_id)),
       dists AS (SELECT x.vec_id, x.sub, c.cidx,
                   CAST(sum((x.vf - c.vf) * (x.vf - c.vf)) AS BIGINT) AS d
                 FROM pf x JOIN cents c ON x.sub = c.sub AND x.pos = c.pos
                 GROUP BY 1, 2, 3),
       codes AS (SELECT vec_id, sub, CAST(cidx AS INT) AS code
                 FROM (SELECT *, row_number() OVER (PARTITION BY vec_id, sub
                         ORDER BY d, cidx) AS rn FROM dists)
                 WHERE rn = 1)"""

  /** JL distortion oracle: ±1 directions from the shared hash parity,
    * exact BIGINT projections and pair distances. */
  private lazy val JL_SQL =
    s"""WITH mf AS (SELECT vec_id, i,
                CAST(round(v::DOUBLE * 1e6) AS BIGINT) AS vf
              FROM (SELECT vec_id, unnest(range(len(embedding))) AS i,
                      unnest(embedding) AS v
                    FROM embeddings WHERE embedding IS NOT NULL)),
       prj AS (SELECT vec_id, j,
                 CAST(sum(CASE WHEN (h % 2) = 0 THEN vf ELSE -vf END)
                   AS BIGINT) AS yj
               FROM (SELECT mf.*, r.j,
                       ${H64.format(
                         "CAST(i AS VARCHAR) || '_' || CAST(j AS VARCHAR)")}
                         AS h
                     FROM mf, range(16) AS r(j))
               GROUP BY 1, 2),
       do2 AS (SELECT a.vec_id AS va, b.vec_id AS vb,
                 CAST(sum((a.vf - b.vf) * (a.vf - b.vf)) AS BIGINT)
                   AS d2_orig
               FROM mf a JOIN mf b ON b.vec_id = a.vec_id + 1 AND a.i = b.i
               GROUP BY 1, 2),
       dp2 AS (SELECT a.vec_id AS va,
                 CAST(sum((a.yj - b.yj) * (a.yj - b.yj)) AS BIGINT)
                   AS d2_proj
               FROM prj a JOIN prj b ON b.vec_id = a.vec_id + 1 AND a.j = b.j
               GROUP BY 1)
       SELECT va AS vec_a, vb AS vec_b, d2_orig, d2_proj,
         CASE WHEN d2_orig > 0
           THEN d2_proj // greatest(16 * (d2_orig // 1000000), 1) END
           AS distortion_micro
       FROM do2 JOIN dp2 USING (va) ORDER BY vec_a"""

  /** Gopher rule-gate signal CTE (expects `toks` in scope) — shared by
    * q_gopher_quality and the quality-classifier queries that distill
    * the same gate. */
  private val GOPHER_SIG_CTE =
    """gsig AS (SELECT doc_id, len(tk) AS n_words,
         CASE WHEN len(tk) > 0 THEN
           list_sum(list_transform(tk, t -> len(t)))::DOUBLE / len(tk)
         END AS mean_word_len,
         CASE WHEN len(tk) > 0 THEN
           len(list_filter(tk, t -> regexp_matches(t, '[A-Za-z]')))::DOUBLE
             / len(tk)
         END AS alpha_frac,
         (CASE WHEN list_contains(tk, 'the') THEN 1 ELSE 0 END +
          CASE WHEN list_contains(tk, 'a')   THEN 1 ELSE 0 END +
          CASE WHEN list_contains(tk, 'of')  THEN 1 ELSE 0 END +
          CASE WHEN list_contains(tk, 'and') THEN 1 ELSE 0 END +
          CASE WHEN list_contains(tk, 'is')  THEN 1 ELSE 0 END) AS stop_hits
       FROM toks)"""
  private val GOPHER_KEEP_EXPR =
    """(n_words >= 20 AND n_words <= 100000
       AND mean_word_len >= 2.0 AND mean_word_len <= 10.0
       AND coalesce(alpha_frac >= 0.8, false)
       AND stop_hits >= 2)"""

  /** Pinned quality-model weights (micro-units) injected as literals —
    * same Scala source of truth as the serving path. */
  private val QUALITY_W_VALUES = graft.ml.PinnedQualityModel.WFx.zipWithIndex
    .map { case (w, i) => s"($i, $w)" }.mkString(", ")
  /** Scoring CTEs (expect `toks`): hashed counts → weight dot → logit
    * beside the rule gate. */
  private lazy val QUALITY_SCORE_CTE =
    s"""qw(bucket, w_fx) AS (SELECT * FROM (VALUES $QUALITY_W_VALUES)),
       qtt AS (SELECT doc_id, unnest(tk) AS term FROM toks),
       qcnt AS (SELECT doc_id, (${H64.format("term")} % 64) AS bucket,
                  count(*) AS cnt
                FROM qtt GROUP BY 1, 2),
       qdot AS (SELECT c.doc_id, CAST(sum(w.w_fx * c.cnt) AS BIGINT) AS dot_fx
                FROM qcnt c JOIN qw w USING (bucket) GROUP BY 1),
       $GOPHER_SIG_CTE,
       qr AS (SELECT s.doc_id,
                CAST(${graft.ml.PinnedQualityModel.BFx}
                  + coalesce(d.dot_fx, 0) AS BIGINT) AS logit_fx,
                $GOPHER_KEEP_EXPR AS keep_rule
              FROM gsig s LEFT JOIN qdot d USING (doc_id))"""

  /** IVF top-k oracle (nlists=16, nprobe=2, k=3, queries vec_id<10) —
    * shared verbatim by `q_ivf_topk` (inline broadcast-join plan) and
    * `q_ivf_state_probe` (persisted bucketed inverted lists, zero-
    * exchange probe): one oracle, two physical paths. */
  private lazy val IVF_TOPK_SQL =
    """WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS ve FROM embeddings),
       cent AS (SELECT vec_id AS cid, ve AS cv FROM v ORDER BY vec_id LIMIT 16),
       ac AS (SELECT v.vec_id, cent.cid,
                list_dot_product(v.ve, cent.cv) /
                  (sqrt(list_dot_product(v.ve, v.ve)) *
                   sqrt(list_dot_product(cent.cv, cent.cv))) AS cos
              FROM v CROSS JOIN cent),
       asg AS (SELECT vec_id, cid AS list_id FROM
                 (SELECT *, row_number() OVER (PARTITION BY vec_id
                    ORDER BY cos DESC, cid ASC) AS rn FROM ac)
               WHERE rn = 1),
       probe AS (SELECT vec_id, cid AS list_id FROM
                 (SELECT *, row_number() OVER (PARTITION BY vec_id
                    ORDER BY cos DESC, cid ASC) AS rn
                  FROM ac WHERE vec_id < 10)
               WHERE rn <= 2), -- (ivf)
       sc AS (SELECT p.vec_id AS query_id, a.vec_id AS cand_id,
                list_dot_product(q.ve, c.ve) /
                  (sqrt(list_dot_product(q.ve, q.ve)) *
                   sqrt(list_dot_product(c.ve, c.ve))) AS cos
              FROM probe p JOIN asg a ON p.list_id = a.list_id
                AND p.vec_id <> a.vec_id
              JOIN v q ON q.vec_id = p.vec_id
              JOIN v c ON c.vec_id = a.vec_id),
       rk AS (SELECT *, row_number() OVER (PARTITION BY query_id
                ORDER BY cos DESC, cand_id ASC) AS rnk FROM sc)
       SELECT query_id, cand_id, round(cos, 6) AS cos, rnk
       FROM rk WHERE rnk <= 3 ORDER BY query_id, rnk"""

  /** MinHash affine-rehash parameters shared with DedupOps (same Scala
    * source of truth, injected as literals into the oracle SQL). */
  private val MINHASH_PRM = DedupOps.minhashParams(32).zipWithIndex
    .map { case ((a, b), i) => s"($i, $a, $b)" }.mkString(", ")
  private val SIG_CTE =
    s"""sh AS (SELECT doc_id, unnest(shs) AS s FROM shing),
       hb AS (SELECT doc_id,
                (('0x' || substr(md5(s), 1, 15))::BIGINT % 2147483647) AS h
              FROM sh),
       prm(i, a, b) AS (SELECT * FROM (VALUES $MINHASH_PRM)),
       sig AS (SELECT doc_id AS doc, i,
                 min((a * h + b) % 2147483647) AS sigv
               FROM hb, prm GROUP BY 1, 2)"""

  /** Incremental LSH screen oracle (k=32, r=2, τ=0.3, batch = doc_id %
    * 10 == 0) — shared verbatim by `q_incr_dedup` (the plain join path)
    * and `q_state_probe` (the bucketed-corpus-state path): one oracle,
    * two physical plans. */
  private lazy val INCR_DEDUP_SQL =
    s"""WITH $TOKS_CTE,
       $SHING_CTE,
       $SIG_CTE,
       bands AS (SELECT doc, i // 2 AS band,
                   ('0x' || substr(md5(string_agg(sigv, ',' ORDER BY i)), 1, 15))::BIGINT AS bh
                 FROM sig GROUP BY 1, 2),
       cand AS (SELECT DISTINCT b.doc AS new_doc, c.doc AS old_doc
                FROM bands b JOIN bands c
                  ON b.band = c.band AND b.bh = c.bh
                 AND b.doc % 10 = 0 AND c.doc % 10 <> 0),
       est AS (SELECT new_doc, old_doc,
                 count(*) FILTER (x.sigv = y.sigv) / 32.0 AS ej
               FROM cand JOIN sig x ON x.doc = new_doc
                         JOIN sig y ON y.doc = old_doc AND x.i = y.i
               GROUP BY 1, 2)
       SELECT new_doc, old_doc, round(ej, 6) AS est_jaccard
       FROM est WHERE ej >= 0.3 ORDER BY new_doc, old_doc"""

  /** Shared oracle CTE: hourly resample (last per bucket, deterministic
    * tie-break) → per-key dense grid → forward fill. Mirrors
    * TimeSeries.resampleFfill exactly. */
  private val FILLED_CTE =
    """b AS (
         SELECT event_type, date_trunc('hour', ts) AS bucket, value,
           row_number() OVER (PARTITION BY event_type, date_trunc('hour', ts)
                              ORDER BY ts DESC, event_id DESC) AS rn
         FROM events),
       lastb AS (SELECT event_type, bucket, value FROM b WHERE rn = 1),
       span AS (SELECT event_type, min(bucket) AS lo, max(bucket) AS hi
                FROM lastb GROUP BY 1),
       grid AS (SELECT event_type,
                  unnest(generate_series(lo, hi, INTERVAL 1 HOUR)) AS bucket
                FROM span),
       filled AS (
         SELECT g.event_type, g.bucket,
           last_value(l.value IGNORE NULLS) OVER (
             PARTITION BY g.event_type ORDER BY g.bucket
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS value
         FROM grid g
         LEFT JOIN lastb l ON g.event_type = l.event_type AND g.bucket = l.bucket)"""

  def oracleSql: Map[String, String] = Map(
    "q_pricing_summary" ->
      """SELECT l_returnflag, l_linestatus,
         round(sum(l_quantity), 4) AS sum_qty,
         round(sum(l_extendedprice), 4) AS sum_base_price,
         round(sum(l_extendedprice * (1.0 - l_discount)), 4) AS sum_disc_price,
         round(avg(l_quantity), 6) AS avg_qty,
         round(avg(l_discount), 6) AS avg_disc,
         count(*) AS count_order
         FROM lineitem GROUP BY 1, 2 ORDER BY 1, 2""",
    "q_revenue_by_nation" ->
      """SELECT r_name, n_name,
         round(sum(l_extendedprice * (1.0 - l_discount)), 4) AS revenue,
         count(*) AS n_items
         FROM lineitem
         JOIN orders   ON l_orderkey = o_orderkey
         JOIN customer ON o_custkey = c_custkey
         JOIN nation   ON c_nationkey = n_nationkey
         JOIN region   ON n_regionkey = r_regionkey
         GROUP BY 1, 2 ORDER BY 1, 2""",
    "q_enrich_supplier" ->
      """SELECT s_suppkey, s_name, n_name AS nation, r_name AS region,
         round(s_acctbal, 4) AS acctbal
         FROM supplier
         LEFT JOIN nation ON s_nationkey = n_nationkey
         LEFT JOIN region ON n_regionkey = r_regionkey
         ORDER BY s_suppkey""",
    "q_top_order_per_cust" ->
      """SELECT o_custkey, o_orderkey, round(o_totalprice, 4) AS best_price
         FROM (SELECT o_custkey, o_orderkey, o_totalprice,
                 row_number() OVER (PARTITION BY o_custkey
                   ORDER BY o_totalprice DESC, o_orderkey ASC) AS rn
               FROM orders)
         WHERE rn = 1 ORDER BY o_custkey""",
    "q_sort_limit" ->
      """SELECT o_orderkey, o_custkey, round(o_totalprice, 4) AS o_totalprice
         FROM orders ORDER BY o_totalprice DESC, o_orderkey ASC LIMIT 24""",
    "q_union_scans" ->
      """SELECT event_id, user_id, event_type, batch FROM (
           SELECT event_id, user_id, event_type, 'filtered' AS batch
             FROM events WHERE event_type = 'purchase'
           UNION ALL
           SELECT event_id, user_id, event_type, 'unfiltered' AS batch
             FROM events WHERE event_type = 'signup')
         ORDER BY event_id""",
    "q_dedup_first" ->
      """SELECT user_id, event_type, event_id, round(value, 4) AS value
         FROM (SELECT user_id, event_type, event_id, value,
                 row_number() OVER (PARTITION BY user_id, event_type
                   ORDER BY ts ASC, event_id ASC) AS rn
               FROM events)
         WHERE rn = 1 ORDER BY user_id, event_type""",
    "q_coerce_props" ->
      """SELECT k, count(*) AS n FROM (
           SELECT CAST(NULLIF(regexp_extract(props, '(\d+)', 1), '') AS INT) AS k
           FROM events)
         WHERE k IS NOT NULL GROUP BY k ORDER BY k""",
    "q_promo_share" ->
      """SELECT CAST(date_trunc('month', l_shipdate) AS DATE) AS month,
         round(sum(CASE WHEN p_type = 'PROMO'
                        THEN l_extendedprice * (1.0 - l_discount)
                        ELSE 0.0 END) * 100.0
               / sum(l_extendedprice * (1.0 - l_discount)), 6) AS promo_share_pct,
         count(*) AS n_items
         FROM lineitem JOIN part ON l_partkey = p_partkey
         GROUP BY 1 ORDER BY 1""",
    "q_monthly_sales" ->
      """SELECT CAST(date_trunc('month', o_orderdate) AS DATE) AS month,
         CAST(year(o_orderdate) AS INT) AS yr,
         round(sum(o_totalprice), 4) AS total, count(*) AS n_orders
         FROM orders GROUP BY 1, 2 ORDER BY 1""",
    // a-priori 2-itemsets over order baskets; positive integer lift
    // (truncate ≡ floor on positives)
    "q_basket_pairs" ->
      """WITH b AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p
                    FROM lineitem),
         tot AS (SELECT count(DISTINCT o) AS n_orders FROM b),
         item AS (SELECT p, count(*) AS c FROM b GROUP BY 1),
         pr AS (SELECT a.p AS pa, b2.p AS pb, count(*) AS cnt
                FROM b a JOIN b b2 ON a.o = b2.o AND a.p < b2.p
                GROUP BY 1, 2 HAVING count(*) >= 3)
         SELECT pa, pb, CAST(cnt AS BIGINT) AS cnt,
           CAST(ia.c AS BIGINT) AS ca, CAST(ib.c AS BIGINT) AS cb,
           CAST(tot.n_orders AS BIGINT) AS n_orders,
           CAST(cnt * tot.n_orders * 1000000 // (ia.c * ib.c) AS BIGINT)
             AS lift_micro
         FROM pr JOIN item ia ON pr.pa = ia.p
                 JOIN item ib ON pr.pb = ib.p, tot
         ORDER BY pa, pb""",
    "q_resample_last" ->
      s"""WITH b AS (
           SELECT event_type, date_trunc('hour', ts) AS bucket, value,
             row_number() OVER (PARTITION BY event_type, date_trunc('hour', ts)
                                ORDER BY ts DESC, event_id DESC) AS rn
           FROM events)
         SELECT event_type, bucket, round(value, 4) AS value
         FROM b WHERE rn = 1 ORDER BY 1, 2""",
    "q_resample_ffill" ->
      s"""WITH $FILLED_CTE
         SELECT event_type, bucket, round(value, 4) AS value
         FROM filled ORDER BY 1, 2""",
    "q_pivot_consensus" ->
      s"""WITH $FILLED_CTE,
         wide AS (SELECT bucket,
           max(value) FILTER (event_type = 'click') AS click,
           max(value) FILTER (event_type = 'error') AS error,
           max(value) FILTER (event_type = 'purchase') AS purchase,
           max(value) FILTER (event_type = 'signup') AS signup,
           max(value) FILTER (event_type = 'view') AS view
           FROM filled GROUP BY bucket),
         m AS (SELECT *,
           list_filter([click, error, purchase, signup, view],
                       x -> x IS NOT NULL) AS arr
           FROM wide),
         m2 AS (SELECT *, list_sort(arr) AS sarr, len(arr) AS n FROM m)
         SELECT bucket,
           round(click, 4) AS click, round(error, 4) AS error,
           round(purchase, 4) AS purchase, round(signup, 4) AS signup,
           round(view, 4) AS view,
           round(CASE WHEN n > 0 THEN list_sum(arr) / n END, 6) AS c_mean,
           round(CASE WHEN n > 0
             THEN (sarr[(n + 1) // 2] + sarr[(n + 2) // 2]) / 2.0 END, 6) AS c_median,
           round(click - CASE WHEN n > 0 THEN list_sum(arr) / n END, 6) AS dev_click
         FROM m2 ORDER BY bucket""",
    "q_rolling_zscore" ->
      s"""WITH $FILLED_CTE,
         r AS (SELECT event_type, bucket, value,
           avg(value) OVER w AS m, stddev_pop(value) OVER w AS sp,
           stddev_samp(value) OVER w AS ss, count(value) OVER w AS cnt
           FROM filled
           WINDOW w AS (PARTITION BY event_type ORDER BY bucket
                        ROWS BETWEEN 23 PRECEDING AND CURRENT ROW))
         SELECT event_type, bucket,
           round(CASE WHEN cnt >= 24 THEN m END, 6) AS m24,
           round(CASE WHEN cnt >= 24 THEN sp END, 6) AS s24,
           round(CASE WHEN cnt >= 8 THEN ss END, 6) AS s_samp,
           round(CASE WHEN cnt >= 24
             THEN (value - m) / greatest(coalesce(sp, 0.5), 0.5) END, 6) AS z
         FROM r ORDER BY 1, 2""",
    "q_ewm_bias" ->
      s"""WITH $FILLED_CTE,
         i AS (SELECT event_type, bucket, value,
           row_number() OVER (PARTITION BY event_type ORDER BY bucket) - 1 AS t
           FROM filled),
         w AS (SELECT *,
           CASE WHEN t = 0 THEN value
                ELSE (1.0 - pow(0.5, 1.0/12.0)) * pow(pow(0.5, 1.0/12.0), -t) * value
           END AS uv FROM i),
         s AS (SELECT event_type, bucket, t,
           sum(uv) OVER (PARTITION BY event_type ORDER BY t
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS acc
           FROM w)
         SELECT event_type, bucket,
           round(CASE WHEN t + 1 >= 5 THEN pow(pow(0.5, 1.0/12.0), t) * acc END, 6) AS bias
         FROM s ORDER BY 1, 2""",
    "q_fwd_label" ->
      s"""WITH $FILLED_CTE,
         c AS (SELECT bucket, avg(value) AS c_mean FROM filled GROUP BY bucket),
         dv AS (SELECT f.event_type, f.bucket, f.value - c.c_mean AS dev
                FROM filled f JOIN c USING (bucket)),
         fw AS (SELECT event_type, bucket, dev,
           max(dev) OVER (PARTITION BY event_type ORDER BY bucket
             ROWS BETWEEN 1 FOLLOWING AND 24 FOLLOWING) AS fmax
           FROM dv)
         SELECT event_type, bucket, round(dev, 6) AS dev, round(fmax, 6) AS fmax,
           CAST(fmax - dev >= 50.0 AS INT) AS y
         FROM fw WHERE dev < 0 AND fmax IS NOT NULL ORDER BY 1, 2""",
    "q_polarity_price" ->
      """WITH med AS (SELECT event_type, median(value) AS med FROM events GROUP BY 1),
         s AS (SELECT event_id, e.event_type,
                 CASE WHEN med >= 0 THEN -value ELSE value END AS signed
               FROM events e JOIN med USING (event_type))
         SELECT event_id, event_type, round(signed, 4) AS signed,
           round(pow(1.0001, signed), 6) AS price
         FROM s ORDER BY event_id""",
    "q_canonical_pair" ->
      """WITH p AS (SELECT
           CASE user_id % 3 WHEN 0 THEN 'DAI' WHEN 1 THEN 'USDC' ELSE 'USDT' END AS a,
           CASE (user_id // 7) % 3 WHEN 0 THEN 'DAI' WHEN 1 THEN 'USDC' ELSE 'USDT' END AS b
           FROM events),
         f AS (SELECT a, b,
                 ((a = 'DAI' AND b = 'USDC') OR (a = 'DAI' AND b = 'USDT')
                  OR (a = 'USDC' AND b = 'USDT')) AS ok
               FROM p WHERE a <> b),
         q AS (SELECT CASE WHEN ok THEN a ELSE b END AS pair_a,
                      CASE WHEN ok THEN b ELSE a END AS pair_b,
                      CASE WHEN ok THEN 1 ELSE -1 END AS sign
               FROM f)
         SELECT pair_a, pair_b, sign, count(*) AS n
         FROM q GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""",
    "q_fsm_meanrev" ->
      s"""WITH RECURSIVE $FILLED_CTE,
         $MEANREV_WALK
         SELECT pool, t_side AS side, t_ets AS entry_ts, t_xts AS exit_ts,
           round(t_epx, 4) AS entry_price, round(t_xpx, 4) AS exit_price,
           round(CASE WHEN t_side = 'long' THEN (t_xpx - t_epx) / t_epx
                      ELSE (t_epx - t_xpx) / t_epx END, 6) AS pct_return
         FROM walk WHERE t_side IS NOT NULL ORDER BY pool, entry_ts""",
    "q_trade_monthly" ->
      s"""WITH RECURSIVE $FILLED_CTE,
         $MEANREV_WALK,
         trades AS (
           SELECT pool, t_xts AS exit_ts,
             round(CASE WHEN t_side = 'long' THEN (t_xpx - t_epx) / t_epx
                        ELSE (t_epx - t_xpx) / t_epx END, 6) AS pct_return
           FROM walk WHERE t_side IS NOT NULL)
         SELECT pool, CAST(date_trunc('month', exit_ts) AS DATE) AS month,
           round(sum(pct_return), 6) AS pct_return, count(*) AS n_trades
         FROM trades GROUP BY 1, 2 ORDER BY 1, 2""",
    // OHLC/VWAP candles: integer cents end to end (round(price*100)
    // is exact on 2-decimal prices), open/close via min_by/max_by on
    // the single-BIGINT total order (epoch_day, orderkey, line)
    "q_ohlc_bars" ->
      """WITH t AS (
           SELECT l_returnflag AS flag,
             CAST(date_trunc('month', l_shipdate) AS DATE) AS month,
             CAST(round(l_extendedprice * 100) AS BIGINT) AS cents,
             CAST(l_quantity AS BIGINT) AS qty,
             (CAST(l_shipdate AS DATE) - DATE '1970-01-01')
               * 10000000 * 10 + l_orderkey * 10 + l_linenumber AS ord
           FROM lineitem)
         SELECT flag, month,
           min_by(cents, ord) AS open_cents,
           max(cents) AS high_cents,
           min(cents) AS low_cents,
           max_by(cents, ord) AS close_cents,
           CAST(sum(cents * qty) * 1000 // sum(qty) AS BIGINT)
             AS vwap_millicents,
           CAST(sum(qty) AS BIGINT) AS volume, count(*) AS n_trades
         FROM t GROUP BY 1, 2 ORDER BY 1, 2""",
    // rolling median/MAD outliers: integer cents, list-window replay,
    // cross-multiplied 3.5-MAD cutoff (no signed division)
    "q_robust_outliers" ->
      """WITH daily AS (
           SELECT CAST(l_shipdate AS DATE) AS day,
             CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT))
               AS BIGINT) AS cents
           FROM lineitem GROUP BY 1),
         r AS (SELECT day, cents,
                 list(cents) OVER (ORDER BY day
                   ROWS BETWEEN 6 PRECEDING AND CURRENT ROW) AS win,
                 count(*) OVER (ORDER BY day
                   ROWS BETWEEN 6 PRECEDING AND CURRENT ROW) AS nw
               FROM daily),
         m AS (SELECT day, cents, win, list_sort(win)[4] AS med7
               FROM r WHERE nw = 7),
         x AS (SELECT day, cents, med7,
                 list_sort(list_transform(win, v -> abs(v - med7)))[4] AS mad7
               FROM m)
         SELECT day, cents, med7, mad7, cents - med7 AS dev_cents,
           abs(cents - med7) * 2 > mad7 * 7 AS is_outlier
         FROM x ORDER BY day""",
    // last-touch attribution: running max(click ts) strictly before
    // each row on the (user, ts, event_id) order; 24h window test via
    // whole-second date_diff (both engines floor to seconds first)
    "q_attribution" ->
      """WITH c AS (SELECT event_id, user_id, event_type, ts,
             max(CASE WHEN event_type = 'click' THEN ts END) OVER
               (PARTITION BY user_id ORDER BY ts, event_id
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
               AS click_ts
           FROM events)
         SELECT event_id, user_id, ts AS purchase_ts, click_ts,
           (click_ts IS NOT NULL
            AND date_diff('second', click_ts, ts) <= 86400) AS attributed
         FROM c WHERE event_type = 'purchase' ORDER BY event_id""",
    "q_fsm_zscore" ->
      s"""WITH RECURSIVE $FILLED_CTE,
         c AS (SELECT bucket, avg(value) AS c_mean FROM filled GROUP BY bucket),
         zt AS (SELECT f.event_type AS pool, f.bucket AS ts, f.value AS price,
                  f.value - c.c_mean AS dev
                FROM filled f JOIN c USING (bucket)),
         r AS (SELECT pool, ts, price,
           CASE WHEN count(dev) OVER w >= 24
             THEN (dev - avg(dev) OVER w) / stddev_pop(dev) OVER w END AS z,
           row_number() OVER (PARTITION BY pool ORDER BY ts) AS rn
           FROM zt
           WINDOW w AS (PARTITION BY pool ORDER BY ts
                        ROWS BETWEEN 23 PRECEDING AND CURRENT ROW)),
         walk AS (
           SELECT pool, 0 AS rn, CAST(NULL AS VARCHAR) AS side,
             CAST(NULL AS INT) AS e_rn, CAST(NULL AS TIMESTAMP) AS e_ts,
             CAST(NULL AS DOUBLE) AS e_px, CAST(NULL AS DOUBLE) AS e_z,
             CAST(NULL AS VARCHAR) AS t_side, CAST(NULL AS TIMESTAMP) AS t_ets,
             CAST(NULL AS TIMESTAMP) AS t_xts, CAST(NULL AS DOUBLE) AS t_epx,
             CAST(NULL AS DOUBLE) AS t_xpx, CAST(NULL AS DOUBLE) AS t_ez,
             CAST(NULL AS DOUBLE) AS t_xz, CAST(NULL AS INT) AS t_held
           FROM (SELECT DISTINCT pool FROM r)
           UNION ALL
           SELECT pool, rn,
             CASE WHEN xc THEN NULL
                  WHEN en THEN CASE WHEN z <= -2.0 THEN 'long' ELSE 'short' END
                  ELSE side END,
             CASE WHEN xc THEN NULL WHEN en THEN rn ELSE e_rn END,
             CASE WHEN xc THEN NULL WHEN en THEN ts ELSE e_ts END,
             CASE WHEN xc THEN NULL WHEN en THEN price ELSE e_px END,
             CASE WHEN xc THEN NULL WHEN en THEN z ELSE e_z END,
             CASE WHEN xc THEN side END,
             CASE WHEN xc THEN e_ts END,
             CASE WHEN xc THEN ts END,
             CASE WHEN xc THEN e_px END,
             CASE WHEN xc THEN price END,
             CASE WHEN xc THEN e_z END,
             CASE WHEN xc THEN z END,
             CASE WHEN xc THEN rn - e_rn END
           FROM (
             SELECT s.pool, s.rn, s.ts, s.price, s.z,
               w.side, w.e_rn, w.e_ts, w.e_px, w.e_z,
               (w.side IS NOT NULL AND s.z IS NOT NULL AND NOT isnan(s.z)
                AND ((w.side = 'long' AND s.z >= -0.2)
                     OR (w.side = 'short' AND s.z <= 0.2)
                     OR s.rn - w.e_rn >= 48)) AS xc,
               (w.side IS NULL AND s.z IS NOT NULL AND NOT isnan(s.z)
                AND (s.z <= -2.0 OR s.z >= 2.0)) AS en
             FROM walk w JOIN r s ON s.pool = w.pool AND s.rn = w.rn + 1))
         SELECT pool, t_side AS side, t_ets AS entry_ts, t_xts AS exit_ts,
           round(t_epx, 4) AS entry_price, round(t_xpx, 4) AS exit_price,
           round(t_ez, 6) AS entry_z, round(t_xz, 6) AS exit_z,
           round(CASE WHEN t_side = 'long' THEN (t_xpx - t_epx) / t_epx
                      ELSE (t_epx - t_xpx) / t_epx END, 6) AS pct_return,
           t_held AS held_rows
         FROM walk WHERE t_side IS NOT NULL ORDER BY pool, entry_ts""",
    "q_text_stats" ->
      s"""WITH $TOKS_CTE,
         $SHING_CTE,
         st AS (SELECT t.doc_id, t.text, t.tk, g.shs,
                  len(t.tk) AS n_tokens,
                  CASE WHEN len(t.tk) > 0 THEN
                    list_sum(list_transform(t.tk, x -> len(x)))::DOUBLE / len(t.tk) END AS mtl,
                  CASE WHEN len(t.tk) > 0 THEN
                    len(list_filter(t.tk, x -> x IN ('the','a','of','and','is')))::DOUBLE
                      / len(t.tk) END AS stop_r,
                  CASE WHEN len(t.text) > 0 THEN
                    (len(t.text) - len(regexp_replace(t.text, '[a-zA-Z0-9 ]', '', 'g')))::DOUBLE
                      / len(t.text) END AS punct_r
                FROM toks t JOIN shing g USING (doc_id))
         SELECT doc_id, n_tokens,
           len(regexp_extract_all(text,
             '''(s|t|re|ve|m|ll|d)| ?[a-zA-Z]+| ?[0-9]+| ?[^a-zA-Z0-9 ]+| +', 0)) AS n_bpe,
           round(mtl, 6) AS mean_tok_len,
           round(stop_r, 6) AS stop_ratio,
           round(punct_r, 6) AS punct_ratio,
           round(0.4 * least(n_tokens / 100.0, 1.0)
               + 0.3 * (1.0 - coalesce(punct_r, 0.0))
               + 0.3 * least(coalesce(stop_r, 0.0) * 5.0, 1.0), 6) AS quality,
           ${H64.format("text")} AS content_hash,
           list_min(list_transform(shs,
             s -> ('0x' || substr(md5(s), 1, 15))::BIGINT)) AS shingle_fp
         FROM st ORDER BY doc_id""",
    "q_lang_id" ->
      s"""WITH $TOKS_CTE,
         sc AS (SELECT doc_id,
           CASE WHEN len(tk) > 0 THEN len(list_filter(tk,
             x -> x IN ('der','die','und','das','ist')))::DOUBLE / len(tk) ELSE 0 END AS s_de,
           CASE WHEN len(tk) > 0 THEN len(list_filter(tk,
             x -> x IN ('the','a','of','and','is')))::DOUBLE / len(tk) ELSE 0 END AS s_en,
           CASE WHEN len(tk) > 0 THEN len(list_filter(tk,
             x -> x IN ('el','la','de','que','y')))::DOUBLE / len(tk) ELSE 0 END AS s_es,
           CASE WHEN len(tk) > 0 THEN len(list_filter(tk,
             x -> x IN ('le','la','et','les','des')))::DOUBLE / len(tk) ELSE 0 END AS s_fr
           FROM toks)
         SELECT doc_id, round(s_de, 6) AS s_de, round(s_en, 6) AS s_en,
           round(s_es, 6) AS s_es, round(s_fr, 6) AS s_fr,
           CASE WHEN s_de >= s_en AND s_de >= s_es AND s_de >= s_fr THEN 'de'
                WHEN s_en >= s_de AND s_en >= s_es AND s_en >= s_fr THEN 'en'
                WHEN s_es >= s_de AND s_es >= s_en AND s_es >= s_fr THEN 'es'
                WHEN s_fr >= s_de AND s_fr >= s_en AND s_fr >= s_es THEN 'fr'
                ELSE 'und' END AS pred
         FROM sc ORDER BY doc_id""",
    // Completeness audit over the generated day spine: zero-event days
    // surface as rows; ratio in micro-units via IEEE-exact steps.
    "q_day_audit" ->
      """WITH pd AS (SELECT CAST(ts AS DATE) AS day,
                CAST(count(*) AS BIGINT) AS n FROM events GROUP BY 1),
         sp AS (SELECT unnest(generate_series(
                  (SELECT min(day) FROM pd), (SELECT max(day) FROM pd),
                  INTERVAL 1 DAY))::DATE AS day),
         j AS (SELECT sp.day, coalesce(pd.n, 0) AS n_events
               FROM sp LEFT JOIN pd USING (day)),
         st AS (SELECT CAST(sum(n_events) AS BIGINT) AS total,
                  CAST(count(*) AS BIGINT) AS span FROM j)
         SELECT day, n_events, n_events = 0 AS is_gap,
           CAST(round(n_events * 1e6 * span / CAST(total AS DOUBLE))
             AS BIGINT) AS ratio_micro,
           CAST(round(n_events * 1e6 * span / CAST(total AS DOUBLE))
             AS BIGINT) < 500000 AS is_low
         FROM j, st ORDER BY day""",
    // Confusion matrix of the stopword language gate vs labels.
    "q_lang_confusion" ->
      s"""WITH $TOKS_CTE,
         sc AS (SELECT doc_id,
           CASE WHEN len(tk) > 0 THEN len(list_filter(tk,
             x -> x IN ('der','die','und','das','ist')))::DOUBLE / len(tk) ELSE 0 END AS s_de,
           CASE WHEN len(tk) > 0 THEN len(list_filter(tk,
             x -> x IN ('the','a','of','and','is')))::DOUBLE / len(tk) ELSE 0 END AS s_en,
           CASE WHEN len(tk) > 0 THEN len(list_filter(tk,
             x -> x IN ('el','la','de','que','y')))::DOUBLE / len(tk) ELSE 0 END AS s_es,
           CASE WHEN len(tk) > 0 THEN len(list_filter(tk,
             x -> x IN ('le','la','et','les','des')))::DOUBLE / len(tk) ELSE 0 END AS s_fr
           FROM toks),
         pr AS (SELECT doc_id,
           CASE WHEN s_de >= s_en AND s_de >= s_es AND s_de >= s_fr THEN 'de'
                WHEN s_en >= s_de AND s_en >= s_es AND s_en >= s_fr THEN 'en'
                WHEN s_es >= s_de AND s_es >= s_en AND s_es >= s_fr THEN 'es'
                WHEN s_fr >= s_de AND s_fr >= s_en AND s_fr >= s_es THEN 'fr'
                ELSE 'und' END AS pred
           FROM sc),
         m AS (SELECT d.lang, pr.pred, CAST(count(*) AS BIGINT) AS n
               FROM pr JOIN documents d USING (doc_id) GROUP BY 1, 2)
         SELECT lang, pred, n,
           round(n / sum(n) OVER (PARTITION BY lang), 6) AS frac
         FROM m ORDER BY lang, pred""",
    // per-label precision/recall/F1 in integer micro over the same
    // confusion matrix (positive divisions only; -1 = label never
    // predicted)
    "q_langid_metrics" ->
      s"""WITH $TOKS_CTE,
         sc AS (SELECT doc_id,
           CASE WHEN len(tk) > 0 THEN len(list_filter(tk,
             x -> x IN ('der','die','und','das','ist')))::DOUBLE / len(tk) ELSE 0 END AS s_de,
           CASE WHEN len(tk) > 0 THEN len(list_filter(tk,
             x -> x IN ('the','a','of','and','is')))::DOUBLE / len(tk) ELSE 0 END AS s_en,
           CASE WHEN len(tk) > 0 THEN len(list_filter(tk,
             x -> x IN ('el','la','de','que','y')))::DOUBLE / len(tk) ELSE 0 END AS s_es,
           CASE WHEN len(tk) > 0 THEN len(list_filter(tk,
             x -> x IN ('le','la','et','les','des')))::DOUBLE / len(tk) ELSE 0 END AS s_fr
           FROM toks),
         pr AS (SELECT doc_id,
           CASE WHEN s_de >= s_en AND s_de >= s_es AND s_de >= s_fr THEN 'de'
                WHEN s_en >= s_de AND s_en >= s_es AND s_en >= s_fr THEN 'en'
                WHEN s_es >= s_de AND s_es >= s_en AND s_es >= s_fr THEN 'es'
                WHEN s_fr >= s_de AND s_fr >= s_en AND s_fr >= s_es THEN 'fr'
                ELSE 'und' END AS pred
           FROM sc),
         m AS (SELECT d.lang, pr.pred, CAST(count(*) AS BIGINT) AS n
               FROM pr JOIN documents d USING (doc_id) GROUP BY 1, 2),
         tp AS (SELECT lang, n AS tp FROM m WHERE lang = pred),
         lab AS (SELECT lang, CAST(sum(n) AS BIGINT) AS n_label
                 FROM m GROUP BY 1),
         pd AS (SELECT pred AS lang, CAST(sum(n) AS BIGINT) AS n_pred
                FROM m GROUP BY 1)
         SELECT l.lang, CAST(coalesce(tp.tp, 0) AS BIGINT) AS tp,
           l.n_label, CAST(coalesce(pd.n_pred, 0) AS BIGINT) AS n_pred,
           CAST(CASE WHEN coalesce(pd.n_pred, 0) = 0 THEN -1
             ELSE coalesce(tp.tp, 0) * 1000000 // pd.n_pred END AS BIGINT)
             AS precision_micro,
           CAST(coalesce(tp.tp, 0) * 1000000 // l.n_label AS BIGINT)
             AS recall_micro,
           CAST(2 * coalesce(tp.tp, 0) * 1000000
             // (l.n_label + coalesce(pd.n_pred, 0)) AS BIGINT) AS f1_micro
         FROM lab l LEFT JOIN tp USING (lang) LEFT JOIN pd USING (lang)
         ORDER BY l.lang""",
    "q_dedup_exact" ->
      s"""SELECT ${H64.format("text")} AS content_hash,
           min(doc_id) AS keep_id, count(*) AS n_dups
         FROM documents GROUP BY 1 ORDER BY keep_id""",
    // normalized exact dedup: casefold + whitespace collapse before
    // hashing; n_raw_variants = the mass raw exact dedup misses
    "q_dedup_norm" ->
      s"""SELECT ${H64.format("norm")} AS norm_hash,
           min(doc_id) AS keep_id, count(*) AS n_docs,
           CAST(count(DISTINCT ${H64.format("text")}) AS BIGINT)
             AS n_raw_variants
         FROM (SELECT doc_id, text,
                 lower(trim(regexp_replace(text, '\\s+', ' ', 'g'))) AS norm
               FROM documents)
         GROUP BY 1 ORDER BY keep_id""",
    // Unicode-NFC dedup: DuckDB's native nfc_normalize is the
    // independent NFC implementation (ASOF-join posture); both engines
    // md5 the normalized string's UTF-8 bytes
    "q_dedup_nfc" ->
      s"""WITH $DOCS18X2_CTE
         SELECT ${H64.format("nfc_normalize(text)")} AS nfc_hash,
           min(doc_id) AS keep_id, count(*) AS n_docs,
           CAST(count(DISTINCT ${H64.format("text")}) AS BIGINT)
             AS n_raw_variants
         FROM docs18
         GROUP BY 1 ORDER BY keep_id""",
    // CJK pad vs naive whitespace split over the multilingual
    // derivation — holds Java \p{IsHan}≡RE2 \p{Han} (and the kana/
    // combining-mark class edges) on the hash gate
    "q_cjk_tokens" ->
      s"""WITH $DOCS18_CTE,
         t AS (SELECT lang,
                 len(${duckToks("text")}) AS ntk,
                 len(list_filter(regexp_split_to_array(text, '\\s+'),
                   x -> len(x) > 0)) AS nws
               FROM docs18)
         SELECT lang, count(*) AS n_docs,
           CAST(sum(ntk) AS BIGINT) AS n_tok,
           CAST(sum(nws) AS BIGINT) AS n_tok_ws,
           CAST(sum(CASE WHEN ntk <> nws THEN 1 ELSE 0 END) AS BIGINT)
             AS n_pad_changed
         FROM t GROUP BY lang ORDER BY lang""",
    // non-identity proof row: basis points of rows NFC rewrites / the
    // pad re-tokenizes, exact integer division (no float boundary)
    "q_i18n_gate" ->
      s"""WITH $DOCS18_CTE,
         t AS (SELECT
                 CASE WHEN nfc_normalize(text) <> text THEN 1 ELSE 0 END
                   AS nfc_chg,
                 CASE WHEN len(${duckToks("text")}) <>
                   len(list_filter(regexp_split_to_array(text, '\\s+'),
                     x -> len(x) > 0)) THEN 1 ELSE 0 END AS pad_chg
               FROM docs18)
         SELECT count(*) AS n_rows,
           CAST(sum(nfc_chg) AS BIGINT) AS n_nfc_changed,
           (10000 * CAST(sum(nfc_chg) AS BIGINT)) // count(*) AS bp_nfc,
           CAST(sum(pad_chg) AS BIGINT) AS n_pad_changed,
           (10000 * CAST(sum(pad_chg) AS BIGINT)) // count(*) AS bp_pad
         FROM t""",
    "q_jaccard_pairs" ->
      s"""WITH $TOKS_CTE,
         $SHING_CTE,
         sizes AS (SELECT doc_id, len(shs) AS sz FROM shing),
         ex AS (SELECT doc_id, unnest(shs) AS s FROM shing),
         pairs AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS inter
                   FROM ex a JOIN ex b ON a.s = b.s AND a.doc_id < b.doc_id
                   GROUP BY 1, 2),
         j AS (SELECT doc_a, doc_b, inter,
                 inter::DOUBLE / (sa.sz + sb.sz - inter) AS jac
               FROM pairs JOIN sizes sa ON doc_a = sa.doc_id
                          JOIN sizes sb ON doc_b = sb.doc_id)
         SELECT doc_a, doc_b, inter, round(jac, 6) AS jaccard
         FROM j WHERE jac >= 0.1 ORDER BY doc_a, doc_b""",
    // per-source quota cap: kept ⟺ 5·rank ≤ 3·n+4 (rank ≤ ⌈0.6n⌉),
    // integer-exact; same quality formula as q_quality_deciles
    "q_domain_cap" ->
      s"""WITH $TOKS_CTE,
         q AS (SELECT toks.doc_id, d.source,
                 CAST(len(tk) AS BIGINT) AS n_tok,
                 0.4 * least(len(tk) / 100.0, 1.0)
                 + 0.3 * (1.0 - coalesce(CASE WHEN len(toks.text) > 0 THEN
                     (len(toks.text) - len(regexp_replace(toks.text, '[a-zA-Z0-9 ]', '', 'g')))::DOUBLE
                       / len(toks.text) END, 0.0))
                 + 0.3 * least(coalesce(CASE WHEN len(tk) > 0 THEN
                     len(list_filter(tk, x -> x IN ('the','a','of','and','is')))::DOUBLE
                       / len(tk) END, 0.0) * 5.0, 1.0) AS qual
               FROM toks JOIN documents d ON d.doc_id = toks.doc_id),
         r AS (SELECT *, row_number() OVER (PARTITION BY source
                 ORDER BY qual DESC, doc_id) AS rnk,
                 count(*) OVER (PARTITION BY source) AS n_src
               FROM q)
         SELECT source, count(*) AS n_docs,
           sum(CASE WHEN 5 * rnk <= 3 * n_src + 4 THEN 1 ELSE 0 END)::BIGINT
             AS n_kept,
           sum(n_tok)::BIGINT AS tok_total,
           sum(CASE WHEN 5 * rnk <= 3 * n_src + 4 THEN n_tok ELSE 0 END)::BIGINT
             AS tok_kept
         FROM r GROUP BY 1 ORDER BY 1""",
    // within-doc repeated-window removal: the one-pass expression is
    // replayed RELATIONALLY — window hashes, first occurrences,
    // covered positions, ordered reconstruction
    "q_self_dedup" ->
      s"""WITH toks AS (SELECT doc_id,
               ${duckToks("text || ' ' || text")} AS tk
             FROM documents),
         base AS (SELECT doc_id, tk, len(tk) AS nb FROM toks),
         w0 AS (SELECT doc_id, tk,
                  unnest(range(greatest(nb - 7, 0))) AS i FROM base),
         w AS (SELECT doc_id, i,
                 ${H64.format("array_to_string(tk[i+1:i+8], ' ')")} AS wh
               FROM w0),
         f AS (SELECT doc_id, wh, min(i) AS fi FROM w GROUP BY 1, 2),
         rep AS (SELECT w.doc_id, w.i FROM w
                 JOIN f ON w.doc_id = f.doc_id AND w.wh = f.wh
                 WHERE w.i > f.fi),
         cov0 AS (SELECT doc_id, unnest(range(i, i + 8)) AS p FROM rep),
         cov AS (SELECT DISTINCT doc_id, p FROM cov0),
         tok AS (SELECT doc_id, unnest(range(len(tk))) AS p,
                   unnest(tk) AS t FROM base),
         kept AS (SELECT tok.doc_id, tok.p, tok.t FROM tok
                  LEFT JOIN cov ON tok.doc_id = cov.doc_id AND tok.p = cov.p
                  WHERE cov.p IS NULL),
         agg AS (SELECT doc_id, count(*) AS na,
                   string_agg(t, ' ' ORDER BY p) AS s
                 FROM kept GROUP BY 1)
         SELECT b.doc_id, b.nb::BIGINT AS n_before,
           coalesce(a.na, 0)::BIGINT AS n_after,
           ${H64.format("coalesce(a.s, '')")} AS kept_hash
         FROM base b LEFT JOIN agg a USING (doc_id) ORDER BY doc_id""",
    // MERGE INTO / CDC apply: last writer wins per key, a trailing
    // delete removes the key entirely (absent, not null)
    "q_merge_into" ->
      """WITH ops AS (SELECT user_id, ts::TIMESTAMP AS ts, event_id,
                 CASE WHEN event_type = 'error' THEN 'delete'
                      ELSE 'upsert' END AS op,
                 CAST(round(value * 1e6) AS BIGINT) AS vmicro
               FROM events),
         rk AS (SELECT *, row_number() OVER (PARTITION BY user_id
                  ORDER BY ts DESC, event_id DESC) AS rk,
                 count(*) OVER (PARTITION BY user_id) AS n_ops
               FROM ops)
         SELECT user_id, vmicro, ts, n_ops
         FROM rk WHERE rk = 1 AND op <> 'delete' ORDER BY user_id""",
    // dyadic freshness decay: |v| div 2^age_days is exact integer
    // arithmetic on both engines (a pow(0.5, age) weight would ride
    // libm); age capped at the shift bound
    "q_decay_agg" ->
      """WITH ev AS (SELECT event_type, ts::TIMESTAMP::DATE AS day,
                 abs(CAST(round(value * 1e6) AS BIGINT)) AS am
               FROM events),
         mx AS (SELECT max(day) AS mxd FROM ev),
         dc AS (SELECT event_type, am,
                  least(date_diff('day', day, mxd), 62) AS age
                FROM ev, mx)
         SELECT event_type, count(*) AS n, sum(am)::BIGINT AS raw_mass,
           sum(am // (1::BIGINT << age))::BIGINT AS decayed_mass
         FROM dc GROUP BY 1 ORDER BY 1""",
    // Prefix-filtering losslessness: the oracle is the UNFILTERED
    // τ=1/2 pair join (integer threshold 2·inter ≥ union) — a hash
    // match proves the PPJoin candidate rule dropped nothing
    "q_prefix_join" ->
      s"""WITH $TOKS_CTE,
         $SHING_CTE,
         sizes AS (SELECT doc_id, len(shs) AS sz FROM shing),
         ex AS (SELECT doc_id, unnest(shs) AS s FROM shing),
         pairs AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS inter
                   FROM ex a JOIN ex b ON a.s = b.s AND a.doc_id < b.doc_id
                   GROUP BY 1, 2),
         j AS (SELECT doc_a, doc_b, inter,
                 (sa.sz + sb.sz - inter) AS uni
               FROM pairs JOIN sizes sa ON doc_a = sa.doc_id
                          JOIN sizes sb ON doc_b = sb.doc_id)
         SELECT doc_a, doc_b, inter,
           round(inter::DOUBLE / uni, 6) AS jaccard
         FROM j WHERE inter * 2 >= uni ORDER BY doc_a, doc_b""",
    // Capped variant: stop-shingles (doc-freq > 5) removed before the
    // candidate join, sizes re-counted over the filtered shingle set.
    "q_jaccard_capped" ->
      s"""WITH $TOKS_CTE,
         $SHING_CTE,
         ex AS (SELECT doc_id, unnest(shs) AS s FROM shing),
         keep AS (SELECT s FROM ex GROUP BY s HAVING count(*) <= 5),
         fx AS (SELECT doc_id, s FROM ex JOIN keep USING (s)),
         sizes AS (SELECT doc_id, count(*) AS sz FROM fx GROUP BY doc_id),
         pairs AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS inter
                   FROM fx a JOIN fx b ON a.s = b.s AND a.doc_id < b.doc_id
                   GROUP BY 1, 2),
         j AS (SELECT doc_a, doc_b, inter,
                 inter::DOUBLE / (sa.sz + sb.sz - inter) AS jac
               FROM pairs JOIN sizes sa ON doc_a = sa.doc_id
                          JOIN sizes sb ON doc_b = sb.doc_id)
         SELECT doc_a, doc_b, inter, round(jac, 6) AS jaccard
         FROM j WHERE jac >= 0.1 ORDER BY doc_a, doc_b""",
    // Components via a recursive reachability CTE (label set of a node =
    // everything with a path to it over symmetric edges; min = the
    // component representative) — independent of the Spark side's
    // iterative min-label propagation.
    "q_dedup_groups" -> DEDUP_GROUPS_SQL,
    // time-windowed near-dup pairs: the oracle joins UNWINDOWED and
    // filters to |batch diff| <= 1 — the (shingle, bucket)-replication
    // candidate trick is hash-proven lossless within the window
    "q_windowed_dedup" ->
      s"""WITH $TOKS_CTE,
         $SHING_CTE,
         ex AS (SELECT doc_id, doc_id % 10 AS batch, unnest(shs) AS s
                FROM shing),
         sizes AS (SELECT doc_id, len(shs) AS sz FROM shing),
         pairs AS (SELECT a.doc_id AS doc_a, a.batch AS batch_a,
                     b.doc_id AS doc_b, b.batch AS batch_b,
                     count(*) AS inter
                   FROM ex a JOIN ex b ON a.s = b.s AND a.doc_id < b.doc_id
                   WHERE abs(a.batch - b.batch) <= 1
                   GROUP BY 1, 2, 3, 4)
         SELECT doc_a, doc_b, batch_a, batch_b,
           round(inter::DOUBLE / (sa.sz + sb.sz - inter), 6) AS jaccard
         FROM pairs JOIN sizes sa ON doc_a = sa.doc_id
                    JOIN sizes sb ON doc_b = sb.doc_id
         WHERE inter::DOUBLE / (sa.sz + sb.sz - inter) >= 0.1
         ORDER BY doc_a, doc_b""",
    // The BOUNDED windowed form: (shingle, batch) keys above the
    // in-window doc-frequency cap (5) drop before pairing and sizes
    // re-count over the kept set — q_jaccard_capped's rule applied
    // inside the window, replayed relationally. Per candidate key the
    // fan-out is ≤ 2·cap² regardless of duplication factor; the
    // uncapped twin above stays the small-sf exactness check.
    "q_windowed_dedup_capped" ->
      s"""WITH $TOKS_CTE,
         $SHING_CTE,
         ex AS (SELECT doc_id, doc_id % 10 AS batch, unnest(shs) AS s
                FROM shing),
         keep AS (SELECT s, batch FROM ex GROUP BY s, batch
                  HAVING count(*) <= 5),
         fx AS (SELECT doc_id, batch, s FROM ex JOIN keep USING (s, batch)),
         sizes AS (SELECT doc_id, count(*) AS sz FROM fx GROUP BY doc_id),
         pairs AS (SELECT a.doc_id AS doc_a, a.batch AS batch_a,
                     b.doc_id AS doc_b, b.batch AS batch_b,
                     count(*) AS inter
                   FROM fx a JOIN fx b ON a.s = b.s AND a.doc_id < b.doc_id
                   WHERE abs(a.batch - b.batch) <= 1
                   GROUP BY 1, 2, 3, 4)
         SELECT doc_a, doc_b, batch_a, batch_b, inter,
           round(inter::DOUBLE / (sa.sz + sb.sz - inter), 6) AS jaccard
         FROM pairs JOIN sizes sa ON doc_a = sa.doc_id
                    JOIN sizes sb ON doc_b = sb.doc_id
         WHERE inter::DOUBLE / (sa.sz + sb.sz - inter) >= 0.1
         ORDER BY doc_a, doc_b""",
    // INCREMENTAL components share the full-recompute oracle VERBATIM:
    // the incremental fold (batch probes the index, endpoints contract
    // to yesterday's reps, CC runs on the touched subgraph only) must
    // be indistinguishable from re-clustering the whole corpus — one
    // oracle, two physical plans, the q_ivf_state_probe pattern.
    "q_incr_cc" -> DEDUP_GROUPS_SQL,
    // The de-skewed production form: stop-shingles (docFreq > 5)
    // dropped and sizes re-counted before pairing, then the same
    // recursive-CC tail. Differs from q_dedup_groups exactly where the
    // cap changes near-dup semantics — both are pinned.
    "q_dedup_groups_capped" -> DEDUP_GROUPS_CAPPED_SQL,
    // the capped FOLD shares the capped recompute's oracle VERBATIM —
    // same equivalence gate as q_incr_cc/q_dedup_groups: both legs
    // read the one corpus keep-set, so incremental ≡ re-clustering
    "q_incr_cc_capped" -> DEDUP_GROUPS_CAPPED_SQL,
    "q_clean_docs" ->
      s"""WITH $TOKS_CTE,
         st AS (SELECT doc_id, text, tk, len(tk) AS n_tokens,
                  CASE WHEN len(tk) > 0 THEN
                    len(list_filter(tk, x -> x IN ('the','a','of','and','is')))::DOUBLE
                      / len(tk) END AS stop_r,
                  CASE WHEN len(text) > 0 THEN
                    (len(text) - len(regexp_replace(text, '[a-zA-Z0-9 ]', '', 'g')))::DOUBLE
                      / len(text) END AS punct_r,
                  CASE WHEN len(tk) > 0 THEN len(list_filter(tk,
                    x -> x IN ('der','die','und','das','ist')))::DOUBLE / len(tk) ELSE 0 END AS s_de,
                  CASE WHEN len(tk) > 0 THEN len(list_filter(tk,
                    x -> x IN ('the','a','of','and','is')))::DOUBLE / len(tk) ELSE 0 END AS s_en,
                  CASE WHEN len(tk) > 0 THEN len(list_filter(tk,
                    x -> x IN ('el','la','de','que','y')))::DOUBLE / len(tk) ELSE 0 END AS s_es,
                  CASE WHEN len(tk) > 0 THEN len(list_filter(tk,
                    x -> x IN ('le','la','et','les','des')))::DOUBLE / len(tk) ELSE 0 END AS s_fr
                FROM toks),
         q AS (SELECT doc_id, n_tokens,
                 round(0.4 * least(n_tokens / 100.0, 1.0)
                     + 0.3 * (1.0 - coalesce(punct_r, 0.0))
                     + 0.3 * least(coalesce(stop_r, 0.0) * 5.0, 1.0), 6) AS quality,
                 CASE WHEN s_de >= s_en AND s_de >= s_es AND s_de >= s_fr THEN 'de'
                      WHEN s_en >= s_de AND s_en >= s_es AND s_en >= s_fr THEN 'en'
                      WHEN s_es >= s_de AND s_es >= s_en AND s_es >= s_fr THEN 'es'
                      WHEN s_fr >= s_de AND s_fr >= s_en AND s_fr >= s_es THEN 'fr'
                      ELSE 'und' END AS pred,
                 ${H64.format("text")} AS ch
               FROM st),
         rep AS (SELECT ch, min(doc_id) AS keep_id FROM q GROUP BY ch)
         SELECT doc_id, n_tokens, quality
         FROM q JOIN rep ON q.ch = rep.ch AND q.doc_id = rep.keep_id
         WHERE quality >= 0.35 AND pred = 'en' ORDER BY doc_id""",
    "q_repetition" ->
      s"""WITH $TOKS_CTE,
         bgc AS (SELECT doc_id, g, count(*) AS c FROM
                   (SELECT doc_id, unnest(CASE WHEN len(tk) >= 2
                      THEN [array_to_string(tk[i+1:i+2], ' ')
                            for i in range(0, len(tk) - 1)]
                      ELSE [] END) AS g FROM toks)
                 GROUP BY 1, 2),
         top AS (SELECT doc_id, g, c FROM
                   (SELECT *, row_number() OVER (PARTITION BY doc_id
                      ORDER BY c DESC, g ASC) AS rn FROM bgc) WHERE rn = 1),
         tgc AS (SELECT doc_id, sum(c * len(g)) AS dup3 FROM
                   (SELECT doc_id, g, count(*) AS c FROM
                      (SELECT doc_id, unnest(CASE WHEN len(tk) >= 3
                         THEN [array_to_string(tk[i+1:i+3], ' ')
                               for i in range(0, len(tk) - 2)]
                         ELSE [] END) AS g FROM toks)
                    GROUP BY 1, 2)
                 WHERE c >= 2 GROUP BY 1),
         st AS (SELECT t.doc_id, len(t.tk) AS n_tokens,
                  len(list_distinct(t.tk)) AS n_distinct,
                  CASE WHEN len(t.tk) > 0 THEN
                    round(1.0 - len(list_distinct(t.tk))::DOUBLE / len(t.tk), 6)
                  END AS dup_tok_frac,
                  top.g AS top_bigram, coalesce(top.c, 0) AS top_bigram_n,
                  CASE WHEN len(t.text) > 0 AND top.g IS NOT NULL THEN
                    round(top.c * len(top.g)::DOUBLE / len(t.text), 6)
                  END AS top2_frac,
                  CASE WHEN len(t.text) > 0 THEN
                    round(coalesce(tgc.dup3, 0)::DOUBLE / len(t.text), 6)
                  END AS dup3_frac
                FROM toks t LEFT JOIN top USING (doc_id)
                            LEFT JOIN tgc USING (doc_id))
         SELECT st.*, (coalesce(dup_tok_frac, 0) > 0.6
                       OR coalesce(top2_frac, 0) > 0.1
                       OR coalesce(dup3_frac, 0) > 0.35) AS flagged
         FROM st ORDER BY doc_id""",
    "q_decontam" ->
      s"""WITH $TOKS_CTE,
         sh5 AS (SELECT doc_id, CASE WHEN len(tk) >= 5
                   THEN list_distinct([array_to_string(tk[i+1:i+5], ' ')
                                       for i in range(0, len(tk) - 4)])
                   ELSE [] END AS shs FROM toks),
         bench AS (SELECT DISTINCT unnest(shs) AS s FROM sh5
                   WHERE doc_id % 20 = 0),
         corpus AS (SELECT doc_id, shs FROM sh5 WHERE doc_id % 20 <> 0),
         hits AS (SELECT c.doc_id, count(*) AS n_hits
                  FROM (SELECT doc_id, unnest(shs) AS s FROM corpus) c
                  JOIN bench USING (s) GROUP BY 1)
         SELECT c.doc_id AS doc, len(c.shs) AS n_shingles,
           coalesce(h.n_hits, 0) AS n_hits,
           CASE WHEN len(c.shs) > 0 THEN
             round(coalesce(h.n_hits, 0)::DOUBLE / len(c.shs), 6)
           END AS hit_frac,
           coalesce(h.n_hits, 0) >= 5 AS contaminated
         FROM corpus c LEFT JOIN hits h USING (doc_id) ORDER BY doc""",
    // Bloom screen: 3 bucket bits from disjoint 20-bit fields of the
    // shingle h64; per-doc bloom-positive vs exact counts pin the
    // screen's false-positive rate as data
    "q_bloom_screen" ->
      s"""WITH $TOKS_CTE,
         sh5 AS (SELECT doc_id, CASE WHEN len(tk) >= 5
                   THEN list_distinct([array_to_string(tk[i+1:i+5], ' ')
                                       for i in range(0, len(tk) - 4)])
                   ELSE [] END AS shs FROM toks),
         bench AS (SELECT DISTINCT unnest(shs) AS s FROM sh5
                   WHERE doc_id % 20 = 0),
         bh AS (SELECT ${H64.format("s")} AS h FROM bench),
         bits AS (SELECT DISTINCT (h >> (j * 20)) & 1048575 AS b
                  FROM bh, range(3) AS r(j)),
         corpus AS (SELECT doc_id, shs FROM sh5 WHERE doc_id % 20 <> 0),
         cx AS (SELECT doc_id, len(shs) AS n_shingles,
                  unnest(shs) AS s FROM corpus),
         ch AS (SELECT doc_id, n_shingles, s, ${H64.format("s")} AS h
                FROM cx),
         probe AS (SELECT c.doc_id, c.n_shingles, c.s,
                     count(b.b) AS nb
                   FROM (SELECT doc_id, n_shingles, s,
                           (h >> (j * 20)) & 1048575 AS pb
                         FROM ch, range(3) AS r(j)) c
                   LEFT JOIN bits b ON b.b = c.pb
                   GROUP BY 1, 2, 3),
         ex AS (SELECT doc_id, n_shingles,
                  CAST(sum(CASE WHEN nb = 3 THEN 1 ELSE 0 END) AS BIGINT)
                    AS n_bloom_pos,
                  CAST(sum(CASE WHEN s IN (SELECT s FROM bench)
                    THEN 1 ELSE 0 END) AS BIGINT) AS n_exact_pos
                FROM probe GROUP BY 1, 2)
         SELECT c.doc_id AS doc, len(c.shs) AS n_shingles,
           coalesce(e.n_bloom_pos, 0) AS n_bloom_pos,
           coalesce(e.n_exact_pos, 0) AS n_exact_pos,
           coalesce(e.n_bloom_pos, 0) - coalesce(e.n_exact_pos, 0)
             AS n_false_pos
         FROM corpus c LEFT JOIN ex e USING (doc_id) ORDER BY doc""",
    "q_redact" ->
      s"""WITH pii AS (SELECT doc_id,
           text || ' reach me at user' || doc_id::VARCHAR
                || '@mail.example.com or +1-555-01'
                || lpad((doc_id % 100)::VARCHAR, 2, '0')
                || ' ip 10.0.' || (doc_id % 256)::VARCHAR || '.7' AS p
           FROM documents),
         r1 AS (SELECT doc_id, p,
           regexp_replace(regexp_replace(p,
             '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
             '[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}', '<IP>', 'g')
           AS p2 FROM pii)
         SELECT doc_id,
           len(regexp_extract_all(p,
             '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}')) AS n_emails,
           len(regexp_extract_all(p,
             '[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}')) AS n_ips,
           len(regexp_extract_all(p2, '\\+?[0-9][0-9 -]{6,}[0-9]')) AS n_phones,
           ${H64.format("regexp_replace(p2, '\\+?[0-9][0-9 -]{6,}[0-9]', '<PHONE>', 'g')")}
             AS redacted_hash
         FROM r1 ORDER BY doc_id""",
    // BM25: every inexact float literal carries ::DOUBLE — DuckDB
    // would otherwise parse 2.2/1.2 as DECIMAL and multiply exactly,
    // diverging from the binary-double product Spark computes
    "q_bm25_topk" ->
      s"""WITH $TOKS_CTE,
         q(query_id, term) AS (SELECT * FROM (VALUES
           (1, 'spark'), (1, 'join'), (1, 'window'),
           (2, 'hash'), (2, 'merge'), (2, 'batch'),
           (3, 'customer'), (3, 'order'), (3, 'query'),
           (4, 'vector'), (4, 'scan'), (4, 'filter'))),
         st AS (SELECT count(*)::DOUBLE AS n,
                  avg(len(tk)::DOUBLE) AS avgdl FROM toks),
         tt AS (SELECT doc_id, len(tk) AS dl, unnest(tk) AS term FROM toks),
         tf AS (SELECT doc_id, term, count(*) AS tf, min(dl) AS dl
                FROM tt WHERE term IN (SELECT term FROM q)
                GROUP BY doc_id, term),
         dfq AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
         sc AS (SELECT qq.query_id, t.doc_id,
                  CAST(round(1000000.0
                    * ln(1.0 + (st.n - d.df + 0.5) / (d.df + 0.5))
                    * (t.tf * 2.2::DOUBLE)
                    / (t.tf + 1.2::DOUBLE * (0.25 + 0.75 * t.dl / st.avgdl)))
                    AS BIGINT) AS s_fx
                FROM tf t JOIN dfq d USING (term) JOIN q qq USING (term), st),
         pd AS (SELECT query_id, doc_id, count(*) AS n_terms,
                  CAST(sum(s_fx) AS BIGINT) AS score_fx
                FROM sc GROUP BY query_id, doc_id),
         rk AS (SELECT *, row_number() OVER (PARTITION BY query_id
                  ORDER BY score_fx DESC, doc_id ASC) AS rnk FROM pd)
         SELECT query_id, rnk, doc_id, n_terms,
           round(score_fx / 1000000.0, 6) AS bm25
         FROM rk WHERE rnk <= 5 ORDER BY query_id, rnk""",
    // RRF hybrid: both legs replayed (BM25 top-20 + dense cosine
    // top-20 with query vector = embedding[query_id]), fused in exact
    // integer micro-units (1000000 // (60 + rank)) over a full-outer
    // merge — no float enters the fusion or the final ranking
    "q_hybrid_rrf" ->
      s"""WITH $TOKS_CTE,
         q(query_id, term) AS (SELECT * FROM (VALUES
           (1, 'spark'), (1, 'join'), (1, 'window'),
           (2, 'hash'), (2, 'merge'), (2, 'batch'),
           (3, 'customer'), (3, 'order'), (3, 'query'),
           (4, 'vector'), (4, 'scan'), (4, 'filter'))),
         st AS (SELECT count(*)::DOUBLE AS n,
                  avg(len(tk)::DOUBLE) AS avgdl FROM toks),
         tt AS (SELECT doc_id, len(tk) AS dl, unnest(tk) AS term FROM toks),
         tf AS (SELECT doc_id, term, count(*) AS tf, min(dl) AS dl
                FROM tt WHERE term IN (SELECT term FROM q)
                GROUP BY doc_id, term),
         dfq AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
         sc AS (SELECT qq.query_id, t.doc_id,
                  CAST(round(1000000.0
                    * ln(1.0 + (st.n - d.df + 0.5) / (d.df + 0.5))
                    * (t.tf * 2.2::DOUBLE)
                    / (t.tf + 1.2::DOUBLE * (0.25 + 0.75 * t.dl / st.avgdl)))
                    AS BIGINT) AS s_fx
                FROM tf t JOIN dfq d USING (term) JOIN q qq USING (term), st),
         pd AS (SELECT query_id, doc_id,
                  CAST(sum(s_fx) AS BIGINT) AS score_fx
                FROM sc GROUP BY query_id, doc_id),
         lrk AS (SELECT query_id, doc_id, row_number() OVER (
                   PARTITION BY query_id
                   ORDER BY score_fx DESC, doc_id ASC) AS r_lex FROM pd),
         lex AS (SELECT CAST(query_id AS BIGINT) AS query_id, doc_id, r_lex
                 FROM lrk WHERE r_lex <= 20),
         v AS (SELECT vec_id, embedding::DOUBLE[] AS ve FROM embeddings),
         qv AS (SELECT vec_id AS query_id, ve AS qe FROM v
                WHERE vec_id BETWEEN 1 AND 4),
         dsc AS (SELECT q.query_id, c.vec_id AS doc_id,
                   list_dot_product(q.qe, c.ve) /
                     (sqrt(list_dot_product(q.qe, q.qe)) *
                      sqrt(list_dot_product(c.ve, c.ve))) AS cos
                 FROM qv q JOIN v c ON c.vec_id <> q.query_id),
         drk AS (SELECT query_id, doc_id, row_number() OVER (
                   PARTITION BY query_id
                   ORDER BY cos DESC, doc_id ASC) AS r_dense FROM dsc),
         dense AS (SELECT query_id, doc_id, r_dense FROM drk
                   WHERE r_dense <= 20),
         fused AS (SELECT coalesce(l.query_id, de.query_id) AS query_id,
                     coalesce(l.doc_id, de.doc_id) AS doc_id,
                     CAST(coalesce(1000000 // (60 + l.r_lex), 0)
                        + coalesce(1000000 // (60 + de.r_dense), 0)
                       AS BIGINT) AS rrf_fx,
                     CAST((l.r_lex IS NOT NULL)::INT
                        + (de.r_dense IS NOT NULL)::INT AS INT) AS n_src
                   FROM lex l FULL OUTER JOIN dense de
                     ON l.query_id = de.query_id AND l.doc_id = de.doc_id),
         frk AS (SELECT *, row_number() OVER (PARTITION BY query_id
                   ORDER BY rrf_fx DESC, doc_id ASC) AS rnk FROM fused)
         SELECT query_id, rnk, doc_id, rrf_fx, n_src
         FROM frk WHERE rnk <= 5 ORDER BY query_id, rnk""",
    // Duplicate-span coverage: shingle doc-frequency over the same
    // distinct 3-gram shingle set (strings here; the Spark side counts
    // on their h64 images — same alignment every dedup oracle uses)
    "q_dup_coverage" ->
      s"""WITH $TOKS_CTE,
         $SHING_CTE,
         ex AS (SELECT doc_id, unnest(shs) AS s FROM shing),
         dfx AS (SELECT s, count(*) AS df FROM ex GROUP BY s)
         SELECT e.doc_id,
           CAST(count(*) AS BIGINT) AS n_shingles,
           CAST(sum(CASE WHEN d.df >= 2 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_dup,
           round(sum(CASE WHEN d.df >= 2 THEN 1 ELSE 0 END)::DOUBLE
             / count(*), 6) AS coverage
         FROM ex e JOIN dfx d USING (s)
         GROUP BY e.doc_id ORDER BY e.doc_id""",
    // k-anonymity ladder: published-group sizes (not raw stratum
    // counts) gate each generalization level; k = max(5, N // 100)
    "q_k_anon" ->
      """WITH tot AS (SELECT greatest(5, count(*) // 100) AS k
                      FROM documents),
         pc AS (SELECT lang, source, CAST(count(*) AS BIGINT) AS pair_n
                FROM documents GROUP BY 1, 2),
         lr AS (SELECT lang, CAST(sum(pair_n) AS BIGINT) AS lang_rest
                FROM pc, tot WHERE pair_n < k GROUP BY lang),
         sr AS (SELECT CAST(coalesce(sum(lang_rest), 0) AS BIGINT)
                  AS star_rest
                FROM lr, tot WHERE lang_rest < k)
         SELECT d.doc_id,
           CASE WHEN p.pair_n >= t.k THEN d.lang
                WHEN l.lang_rest >= t.k THEN d.lang
                ELSE '*' END AS lang_k,
           CASE WHEN p.pair_n >= t.k THEN d.source
                ELSE '*' END AS source_k,
           CASE WHEN p.pair_n >= t.k THEN p.pair_n
                WHEN l.lang_rest >= t.k THEN l.lang_rest
                ELSE s.star_rest END AS grp_n
         FROM documents d
         JOIN pc p USING (lang, source)
         LEFT JOIN lr l USING (lang)
         CROSS JOIN tot t CROSS JOIN sr s
         ORDER BY d.doc_id""",
    // Curriculum: per-lang quality-desc token cumsum; the phase split
    // ((cum_before * 3) // total, capped at 2) is pure integer
    "q_curriculum" ->
      s"""WITH $TOKS_CTE,
         q AS (SELECT doc_id, d.lang, len(tk) AS n_tok,
                 0.4 * least(len(tk) / 100.0, 1.0)
                 + 0.3 * (1.0 - coalesce(CASE WHEN len(toks.text) > 0 THEN
                     (len(toks.text) - len(regexp_replace(toks.text, '[a-zA-Z0-9 ]', '', 'g')))::DOUBLE
                       / len(toks.text) END, 0.0))
                 + 0.3 * least(coalesce(CASE WHEN len(tk) > 0 THEN
                     len(list_filter(tk, x -> x IN ('the','a','of','and','is')))::DOUBLE
                       / len(tk) END, 0.0) * 5.0, 1.0) AS qual
               FROM toks JOIN documents d USING (doc_id)),
         c AS (SELECT doc_id, lang, qual, CAST(n_tok AS BIGINT) AS n_tok,
                 CAST(sum(n_tok) OVER (PARTITION BY lang
                   ORDER BY qual DESC, doc_id ASC
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS BIGINT) AS cum_tok,
                 CAST(sum(n_tok) OVER (PARTITION BY lang) AS BIGINT)
                   AS t_tok
               FROM q)
         SELECT doc_id, lang, round(qual, 6) AS quality, n_tok,
           CASE WHEN t_tok > 0
             THEN least(((cum_tok - n_tok) * 3) // t_tok, 2)
             ELSE 0 END AS phase
         FROM c ORDER BY doc_id""",
    // PageRank in integer micro-units over the symmetrized τ=0.1
    // jaccard-pair graph: 3 unrolled iterations, damping as the exact
    // rational 17/20 with floor division, teleport 150000 — every sum
    // is a sum of BIGINTs, so the replay is bit-exact
    "q_pagerank" ->
      s"""WITH $TOKS_CTE,
         $SHING_CTE,
         sizes AS (SELECT doc_id, len(shs) AS sz FROM shing),
         ex AS (SELECT doc_id, unnest(shs) AS s FROM shing),
         pairs AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS inter
                   FROM ex a JOIN ex b ON a.s = b.s AND a.doc_id < b.doc_id
                   GROUP BY 1, 2),
         jp AS (SELECT doc_a, doc_b
                FROM pairs JOIN sizes sa ON doc_a = sa.doc_id
                           JOIN sizes sb ON doc_b = sb.doc_id
                WHERE inter::DOUBLE / (sa.sz + sb.sz - inter) >= 0.1),
         edges AS (SELECT doc_a AS src, doc_b AS dst FROM jp
                   UNION ALL SELECT doc_b AS src, doc_a AS dst FROM jp),
         deg AS (SELECT src, count(*) AS deg FROM edges GROUP BY src),
         nodes AS (SELECT doc_id AS id FROM documents),
         it0 AS (SELECT id, CAST(1000000 AS BIGINT) AS r FROM nodes),
         c1 AS (SELECT e.dst, CAST(sum((17 * r.r) // (20 * d.deg)) AS BIGINT) AS sc
                FROM edges e JOIN deg d USING (src) JOIN it0 r ON e.src = r.id
                GROUP BY e.dst),
         it1 AS (SELECT n.id, CAST(150000 + coalesce(c.sc, 0) AS BIGINT) AS r
                 FROM nodes n LEFT JOIN c1 c ON c.dst = n.id),
         c2 AS (SELECT e.dst, CAST(sum((17 * r.r) // (20 * d.deg)) AS BIGINT) AS sc
                FROM edges e JOIN deg d USING (src) JOIN it1 r ON e.src = r.id
                GROUP BY e.dst),
         it2 AS (SELECT n.id, CAST(150000 + coalesce(c.sc, 0) AS BIGINT) AS r
                 FROM nodes n LEFT JOIN c2 c ON c.dst = n.id),
         c3 AS (SELECT e.dst, CAST(sum((17 * r.r) // (20 * d.deg)) AS BIGINT) AS sc
                FROM edges e JOIN deg d USING (src) JOIN it2 r ON e.src = r.id
                GROUP BY e.dst),
         it3 AS (SELECT n.id, CAST(150000 + coalesce(c.sc, 0) AS BIGINT) AS r
                 FROM nodes n LEFT JOIN c3 c ON c.dst = n.id)
         SELECT r.id AS doc_id, coalesce(d.deg, 0) AS deg,
           round(r.r / 1000000.0, 6) AS pagerank
         FROM it3 r LEFT JOIN deg d ON d.src = r.id
         ORDER BY pagerank DESC, doc_id""",
    // fixed-round k-core peeling (k=2, 4 rounds) over the same
    // symmetrized Jaccard-pair edge set as q_pagerank; each unrolled
    // round recomputes induced degree against the previous survivor set
    "q_kcore" ->
      s"""WITH $TOKS_CTE,
         $SHING_CTE,
         sizes AS (SELECT doc_id, len(shs) AS sz FROM shing),
         ex AS (SELECT doc_id, unnest(shs) AS s FROM shing),
         pairs AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS inter
                   FROM ex a JOIN ex b ON a.s = b.s AND a.doc_id < b.doc_id
                   GROUP BY 1, 2),
         jp AS (SELECT doc_a, doc_b
                FROM pairs JOIN sizes sa ON doc_a = sa.doc_id
                           JOIN sizes sb ON doc_b = sb.doc_id
                WHERE inter::DOUBLE / (sa.sz + sb.sz - inter) >= 0.1),
         edges AS (SELECT doc_a AS src, doc_b AS dst FROM jp
                   UNION ALL SELECT doc_b AS src, doc_a AS dst FROM jp),
         n0 AS (SELECT DISTINCT src AS doc FROM edges),
         s1 AS (SELECT e.src AS doc, count(*) AS deg FROM edges e
                JOIN n0 a ON e.src = a.doc JOIN n0 b ON e.dst = b.doc
                GROUP BY 1 HAVING count(*) >= 2),
         s2 AS (SELECT e.src AS doc, count(*) AS deg FROM edges e
                JOIN s1 a ON e.src = a.doc JOIN s1 b ON e.dst = b.doc
                GROUP BY 1 HAVING count(*) >= 2),
         s3 AS (SELECT e.src AS doc, count(*) AS deg FROM edges e
                JOIN s2 a ON e.src = a.doc JOIN s2 b ON e.dst = b.doc
                GROUP BY 1 HAVING count(*) >= 2),
         s4 AS (SELECT e.src AS doc, count(*) AS deg FROM edges e
                JOIN s3 a ON e.src = a.doc JOIN s3 b ON e.dst = b.doc
                GROUP BY 1 HAVING count(*) >= 2)
         SELECT doc AS doc_id, deg FROM s4 ORDER BY doc_id""",
    // HyperBall neighborhood function: two register-merge rounds along
    // the near-dup edges, m=512 registers per node, the exact q_hll_err
    // register/estimate law; exact distance-<=2 ball as calibration
    "q_hyperball" ->
      s"""WITH $TOKS_CTE,
         $SHING_CTE,
         sizes AS (SELECT doc_id, len(shs) AS sz FROM shing),
         ex AS (SELECT doc_id, unnest(shs) AS s FROM shing),
         pairs AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS inter
                   FROM ex a JOIN ex b ON a.s = b.s AND a.doc_id < b.doc_id
                   GROUP BY 1, 2),
         jp AS (SELECT doc_a, doc_b
                FROM pairs JOIN sizes sa ON doc_a = sa.doc_id
                           JOIN sizes sb ON doc_b = sb.doc_id
                WHERE inter::DOUBLE / (sa.sz + sb.sz - inter) >= 0.1),
         edges AS (SELECT doc_a AS src, doc_b AS dst FROM jp
                   UNION ALL SELECT doc_b AS src, doc_a AS dst FROM jp),
         nodes AS (SELECT DISTINCT src AS v FROM edges),
         r0 AS (SELECT v, h & 511 AS b,
                  CASE WHEN (h >> 9) = 0 THEN 52
                    ELSE bit_count(((h >> 9) & -(h >> 9)) - 1) + 1 END AS r
                FROM (SELECT v, ${H64.format("CAST(v AS VARCHAR)")} AS h
                      FROM nodes)),
         m1 AS (SELECT e.src AS v, r.b, r.r FROM edges e
                JOIN r0 r ON e.dst = r.v
                UNION ALL SELECT v, b, r FROM r0),
         r1 AS (SELECT v, b, max(r) AS r FROM m1 GROUP BY 1, 2),
         m2 AS (SELECT e.src AS v, r.b, r.r FROM edges e
                JOIN r1 r ON e.dst = r.v
                UNION ALL SELECT v, b, r FROM r1),
         r2 AS (SELECT v, b, max(r) AS r FROM m2 GROUP BY 1, 2),
         sk AS (SELECT v, count(*) AS n_regs_hit,
                  CAST(sum(1::BIGINT << (52 - r)) AS BIGINT) AS s_hit
                FROM r2 GROUP BY 1),
         d1 AS (SELECT src AS a, dst AS c FROM edges
                UNION ALL SELECT v, v FROM nodes),
         d2 AS (SELECT x.a, e.dst AS c FROM d1 x JOIN edges e ON x.c = e.src
                UNION ALL SELECT a, c FROM d1),
         bex AS (SELECT a AS v, count(DISTINCT c) AS n_exact
                 FROM d2 GROUP BY 1)
         SELECT sk.v AS doc_id, bex.n_exact, sk.n_regs_hit,
           CAST(round((719783e0 * 262144 * 4503599627370496e0)
             / (CAST(s_hit + (512 - n_regs_hit) * (1::BIGINT << 52)
                AS DOUBLE) * 1e6)) AS BIGINT) AS hll_raw,
           CAST(round((719783e0 * 262144 * 4503599627370496e0)
             / (CAST(s_hit + (512 - n_regs_hit) * (1::BIGINT << 52)
                AS DOUBLE) * 1e6)) AS BIGINT) - bex.n_exact AS err
         FROM sk JOIN bex USING (v) ORDER BY doc_id""",
    // production HyperBall: register merge + raw-HLL estimate only —
    // the oracle replays the sketch itself; no exact-ball CTEs exist
    "q_hyperball_sketch" ->
      s"""WITH $TOKS_CTE,
         $SHING_CTE,
         sizes AS (SELECT doc_id, len(shs) AS sz FROM shing),
         ex AS (SELECT doc_id, unnest(shs) AS s FROM shing),
         pairs AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS inter
                   FROM ex a JOIN ex b ON a.s = b.s AND a.doc_id < b.doc_id
                   GROUP BY 1, 2),
         jp AS (SELECT doc_a, doc_b
                FROM pairs JOIN sizes sa ON doc_a = sa.doc_id
                           JOIN sizes sb ON doc_b = sb.doc_id
                WHERE inter::DOUBLE / (sa.sz + sb.sz - inter) >= 0.1),
         edges AS (SELECT doc_a AS src, doc_b AS dst FROM jp
                   UNION ALL SELECT doc_b AS src, doc_a AS dst FROM jp),
         nodes AS (SELECT DISTINCT src AS v FROM edges),
         r0 AS (SELECT v, h & 511 AS b,
                  CASE WHEN (h >> 9) = 0 THEN 52
                    ELSE bit_count(((h >> 9) & -(h >> 9)) - 1) + 1 END AS r
                FROM (SELECT v, ${H64.format("CAST(v AS VARCHAR)")} AS h
                      FROM nodes)),
         m1 AS (SELECT e.src AS v, r.b, r.r FROM edges e
                JOIN r0 r ON e.dst = r.v
                UNION ALL SELECT v, b, r FROM r0),
         r1 AS (SELECT v, b, max(r) AS r FROM m1 GROUP BY 1, 2),
         m2 AS (SELECT e.src AS v, r.b, r.r FROM edges e
                JOIN r1 r ON e.dst = r.v
                UNION ALL SELECT v, b, r FROM r1),
         r2 AS (SELECT v, b, max(r) AS r FROM m2 GROUP BY 1, 2),
         sk AS (SELECT v, count(*) AS n_regs_hit,
                  CAST(sum(1::BIGINT << (52 - r)) AS BIGINT) AS s_hit
                FROM r2 GROUP BY 1)
         SELECT v AS doc_id, n_regs_hit,
           CAST(round((719783e0 * 262144 * 4503599627370496e0)
             / (CAST(s_hit + (512 - n_regs_hit) * (1::BIGINT << 52)
                AS DOUBLE) * 1e6)) AS BIGINT) AS hll_raw
         FROM sk ORDER BY doc_id""",
    // the capped graph-family twins (round-13 wave 2: triangles /
    // label-prop / hyperball-sketch all measured max-task ×103 under
    // 10× duplication — the SAME near-dup edge blow-up as harmonic;
    // same fix: identical tails over the capped edge preamble)
    "q_hyperball_sketch_capped" ->
      s"""WITH $TOKS_CTE,
         $SHING_CTE,
         $CAPPED_EDGES_CTES,
         nodes AS (SELECT DISTINCT src AS v FROM edges),
         r0 AS (SELECT v, h & 511 AS b,
                  CASE WHEN (h >> 9) = 0 THEN 52
                    ELSE bit_count(((h >> 9) & -(h >> 9)) - 1) + 1 END AS r
                FROM (SELECT v, ${H64.format("CAST(v AS VARCHAR)")} AS h
                      FROM nodes)),
         m1 AS (SELECT e.src AS v, r.b, r.r FROM edges e
                JOIN r0 r ON e.dst = r.v
                UNION ALL SELECT v, b, r FROM r0),
         r1 AS (SELECT v, b, max(r) AS r FROM m1 GROUP BY 1, 2),
         m2 AS (SELECT e.src AS v, r.b, r.r FROM edges e
                JOIN r1 r ON e.dst = r.v
                UNION ALL SELECT v, b, r FROM r1),
         r2 AS (SELECT v, b, max(r) AS r FROM m2 GROUP BY 1, 2),
         sk AS (SELECT v, count(*) AS n_regs_hit,
                  CAST(sum(1::BIGINT << (52 - r)) AS BIGINT) AS s_hit
                FROM r2 GROUP BY 1)
         SELECT v AS doc_id, n_regs_hit,
           CAST(round((719783e0 * 262144 * 4503599627370496e0)
             / (CAST(s_hit + (512 - n_regs_hit) * (1::BIGINT << 52)
                AS DOUBLE) * 1e6)) AS BIGINT) AS hll_raw
         FROM sk ORDER BY doc_id""",
    "q_label_prop_capped" ->
      s"""WITH $TOKS_CTE,
         $SHING_CTE,
         $CAPPED_EDGES_CTES,
         l0 AS (SELECT DISTINCT src AS v, src AS lbl FROM edges),
         n1 AS (SELECT e.src AS v, l.lbl, count(*) AS c
                FROM edges e JOIN l0 l ON e.dst = l.v GROUP BY 1, 2),
         l1 AS (SELECT v, lbl FROM (SELECT v, lbl, row_number() OVER
                  (PARTITION BY v ORDER BY c DESC, lbl) AS rk FROM n1)
                WHERE rk = 1),
         n2 AS (SELECT e.src AS v, l.lbl, count(*) AS c
                FROM edges e JOIN l1 l ON e.dst = l.v GROUP BY 1, 2),
         l2 AS (SELECT v, lbl FROM (SELECT v, lbl, row_number() OVER
                  (PARTITION BY v ORDER BY c DESC, lbl) AS rk FROM n2)
                WHERE rk = 1),
         n3 AS (SELECT e.src AS v, l.lbl, count(*) AS c
                FROM edges e JOIN l2 l ON e.dst = l.v GROUP BY 1, 2),
         l3 AS (SELECT v, lbl FROM (SELECT v, lbl, row_number() OVER
                  (PARTITION BY v ORDER BY c DESC, lbl) AS rk FROM n3)
                WHERE rk = 1),
         alln AS (SELECT d.doc_id, coalesce(l3.lbl, d.doc_id) AS community
                  FROM documents d LEFT JOIN l3 ON d.doc_id = l3.v),
         sz AS (SELECT community, count(*) AS comm_size FROM alln GROUP BY 1)
         SELECT a.doc_id, a.community, sz.comm_size
         FROM alln a JOIN sz USING (community) ORDER BY a.doc_id""",
    "q_triangles_capped" ->
      s"""WITH $TOKS_CTE,
         $SHING_CTE,
         $CAPPED_EDGES_CTES,
         tpairs AS (SELECT doc_a AS a, doc_b AS b FROM jp),
         tri AS (SELECT e1.a AS a, e1.b AS b, e2.b AS c
                 FROM tpairs e1 JOIN tpairs e2 ON e1.b = e2.a
                 JOIN tpairs e3 ON e3.a = e1.a AND e3.b = e2.b),
         pn AS (SELECT doc, CAST(count(*) AS BIGINT) AS n_triangles FROM
                  (SELECT a AS doc FROM tri UNION ALL
                   SELECT b FROM tri UNION ALL SELECT c FROM tri)
                GROUP BY 1),
         dg AS (SELECT doc, CAST(count(*) AS BIGINT) AS deg FROM
                  (SELECT a AS doc FROM tpairs UNION ALL
                   SELECT b FROM tpairs)
                GROUP BY 1)
         SELECT d.doc, d.deg,
           coalesce(pn.n_triangles, 0) AS n_triangles,
           (2 * coalesce(pn.n_triangles, 0) * 1000000)
             // (d.deg * (d.deg - 1)) AS clust_micro
         FROM dg d LEFT JOIN pn USING (doc)
         WHERE d.deg >= 2 ORDER BY d.doc""",
    // harmonic centrality via HyperBall shells: ball estimates at
    // radius 1 and 2 from the same register merges, Σ (b_r−b_{r−1})/r
    // in exact micro-unit integer arithmetic
    "q_harmonic" ->
      s"""WITH $TOKS_CTE,
         $SHING_CTE,
         sizes AS (SELECT doc_id, len(shs) AS sz FROM shing),
         ex AS (SELECT doc_id, unnest(shs) AS s FROM shing),
         pairs AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS inter
                   FROM ex a JOIN ex b ON a.s = b.s AND a.doc_id < b.doc_id
                   GROUP BY 1, 2),
         jp AS (SELECT doc_a, doc_b
                FROM pairs JOIN sizes sa ON doc_a = sa.doc_id
                           JOIN sizes sb ON doc_b = sb.doc_id
                WHERE inter::DOUBLE / (sa.sz + sb.sz - inter) >= 0.1),
         edges AS (SELECT doc_a AS src, doc_b AS dst FROM jp
                   UNION ALL SELECT doc_b AS src, doc_a AS dst FROM jp),
         nodes AS (SELECT DISTINCT src AS v FROM edges),
         r0 AS (SELECT v, h & 511 AS b,
                  CASE WHEN (h >> 9) = 0 THEN 52
                    ELSE bit_count(((h >> 9) & -(h >> 9)) - 1) + 1 END AS r
                FROM (SELECT v, ${H64.format("CAST(v AS VARCHAR)")} AS h
                      FROM nodes)),
         m1 AS (SELECT e.src AS v, r.b, r.r FROM edges e
                JOIN r0 r ON e.dst = r.v
                UNION ALL SELECT v, b, r FROM r0),
         r1 AS (SELECT v, b, max(r) AS r FROM m1 GROUP BY 1, 2),
         m2 AS (SELECT e.src AS v, r.b, r.r FROM edges e
                JOIN r1 r ON e.dst = r.v
                UNION ALL SELECT v, b, r FROM r1),
         r2 AS (SELECT v, b, max(r) AS r FROM m2 GROUP BY 1, 2),
         sk1 AS (SELECT v, count(*) AS n1,
                   CAST(sum(1::BIGINT << (52 - r)) AS BIGINT) AS s1
                 FROM r1 GROUP BY 1),
         sk2 AS (SELECT v, count(*) AS n2,
                   CAST(sum(1::BIGINT << (52 - r)) AS BIGINT) AS s2
                 FROM r2 GROUP BY 1),
         bb AS (SELECT sk1.v,
                  CAST(round((719783e0 * 262144 * 4503599627370496e0)
                    / (CAST(s1 + (512 - n1) * (1::BIGINT << 52)
                       AS DOUBLE) * 1e6)) AS BIGINT) AS b1,
                  CAST(round((719783e0 * 262144 * 4503599627370496e0)
                    / (CAST(s2 + (512 - n2) * (1::BIGINT << 52)
                       AS DOUBLE) * 1e6)) AS BIGINT) AS b2
                FROM sk1 JOIN sk2 USING (v))
         SELECT v AS doc_id, b1, b2,
           greatest(b1 - 1, 0) * 1000000
             + (greatest(b2 - b1, 0) * 1000000) // 2 AS harmonic_micro
         FROM bb ORDER BY harmonic_micro DESC, doc_id""",
    // harmonic centrality over the docFreq-CAPPED near-dup graph —
    // identical HyperBall tail, capped edge preamble (round-13
    // ScaleProbe: the uncapped edge set grows max-task ×103 under a
    // 10×-duplicated corpus; this is the de-skewed 100 TB entry)
    "q_harmonic_capped" ->
      s"""WITH $TOKS_CTE,
         $SHING_CTE,
         $CAPPED_EDGES_CTES,
         nodes AS (SELECT DISTINCT src AS v FROM edges),
         r0 AS (SELECT v, h & 511 AS b,
                  CASE WHEN (h >> 9) = 0 THEN 52
                    ELSE bit_count(((h >> 9) & -(h >> 9)) - 1) + 1 END AS r
                FROM (SELECT v, ${H64.format("CAST(v AS VARCHAR)")} AS h
                      FROM nodes)),
         m1 AS (SELECT e.src AS v, r.b, r.r FROM edges e
                JOIN r0 r ON e.dst = r.v
                UNION ALL SELECT v, b, r FROM r0),
         r1 AS (SELECT v, b, max(r) AS r FROM m1 GROUP BY 1, 2),
         m2 AS (SELECT e.src AS v, r.b, r.r FROM edges e
                JOIN r1 r ON e.dst = r.v
                UNION ALL SELECT v, b, r FROM r1),
         r2 AS (SELECT v, b, max(r) AS r FROM m2 GROUP BY 1, 2),
         sk1 AS (SELECT v, count(*) AS n1,
                   CAST(sum(1::BIGINT << (52 - r)) AS BIGINT) AS s1
                 FROM r1 GROUP BY 1),
         sk2 AS (SELECT v, count(*) AS n2,
                   CAST(sum(1::BIGINT << (52 - r)) AS BIGINT) AS s2
                 FROM r2 GROUP BY 1),
         bb AS (SELECT sk1.v,
                  CAST(round((719783e0 * 262144 * 4503599627370496e0)
                    / (CAST(s1 + (512 - n1) * (1::BIGINT << 52)
                       AS DOUBLE) * 1e6)) AS BIGINT) AS b1,
                  CAST(round((719783e0 * 262144 * 4503599627370496e0)
                    / (CAST(s2 + (512 - n2) * (1::BIGINT << 52)
                       AS DOUBLE) * 1e6)) AS BIGINT) AS b2
                FROM sk1 JOIN sk2 USING (v))
         SELECT v AS doc_id, b1, b2,
           greatest(b1 - 1, 0) * 1000000
             + (greatest(b2 - b1, 0) * 1000000) // 2 AS harmonic_micro
         FROM bb ORDER BY harmonic_micro DESC, doc_id""",
    // synchronous label propagation, 3 unrolled rounds; plurality
    // label with smallest-label tie-break makes every round total
    "q_label_prop" ->
      s"""WITH $TOKS_CTE,
         $SHING_CTE,
         sizes AS (SELECT doc_id, len(shs) AS sz FROM shing),
         ex AS (SELECT doc_id, unnest(shs) AS s FROM shing),
         pairs AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS inter
                   FROM ex a JOIN ex b ON a.s = b.s AND a.doc_id < b.doc_id
                   GROUP BY 1, 2),
         jp AS (SELECT doc_a, doc_b
                FROM pairs JOIN sizes sa ON doc_a = sa.doc_id
                           JOIN sizes sb ON doc_b = sb.doc_id
                WHERE inter::DOUBLE / (sa.sz + sb.sz - inter) >= 0.1),
         edges AS (SELECT doc_a AS src, doc_b AS dst FROM jp
                   UNION ALL SELECT doc_b AS src, doc_a AS dst FROM jp),
         l0 AS (SELECT DISTINCT src AS v, src AS lbl FROM edges),
         n1 AS (SELECT e.src AS v, l.lbl, count(*) AS c
                FROM edges e JOIN l0 l ON e.dst = l.v GROUP BY 1, 2),
         l1 AS (SELECT v, lbl FROM (SELECT v, lbl, row_number() OVER
                  (PARTITION BY v ORDER BY c DESC, lbl) AS rk FROM n1)
                WHERE rk = 1),
         n2 AS (SELECT e.src AS v, l.lbl, count(*) AS c
                FROM edges e JOIN l1 l ON e.dst = l.v GROUP BY 1, 2),
         l2 AS (SELECT v, lbl FROM (SELECT v, lbl, row_number() OVER
                  (PARTITION BY v ORDER BY c DESC, lbl) AS rk FROM n2)
                WHERE rk = 1),
         n3 AS (SELECT e.src AS v, l.lbl, count(*) AS c
                FROM edges e JOIN l2 l ON e.dst = l.v GROUP BY 1, 2),
         l3 AS (SELECT v, lbl FROM (SELECT v, lbl, row_number() OVER
                  (PARTITION BY v ORDER BY c DESC, lbl) AS rk FROM n3)
                WHERE rk = 1),
         alln AS (SELECT d.doc_id, coalesce(l3.lbl, d.doc_id) AS community
                  FROM documents d LEFT JOIN l3 ON d.doc_id = l3.v),
         sz AS (SELECT community, count(*) AS comm_size FROM alln GROUP BY 1)
         SELECT a.doc_id, a.community, sz.comm_size
         FROM alln a JOIN sz USING (community) ORDER BY a.doc_id""",
    // Newman modularity terms per community, CC vs label-prop on the
    // same graph; q_num/q_den as exact integers (no division — floor
    // vs truncate diverges across engines on negative numerators)
    "q_modularity" ->
      s"""WITH RECURSIVE $TOKS_CTE,
         $SHING_CTE,
         sizes AS (SELECT doc_id, len(shs) AS sz FROM shing),
         exs AS (SELECT doc_id, unnest(shs) AS s FROM shing),
         pairs AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS inter
                   FROM exs a JOIN exs b ON a.s = b.s AND a.doc_id < b.doc_id
                   GROUP BY 1, 2),
         jp AS (SELECT doc_a, doc_b
                FROM pairs JOIN sizes sa ON doc_a = sa.doc_id
                           JOIN sizes sb ON doc_b = sb.doc_id
                WHERE inter::DOUBLE / (sa.sz + sb.sz - inter) >= 0.1),
         edges AS (SELECT doc_a AS src, doc_b AS dst FROM jp
                   UNION ALL SELECT doc_b AS src, doc_a AS dst FROM jp),
         und AS (SELECT doc_a AS src, doc_b AS dst FROM jp),
         mt AS (SELECT count(*) AS m FROM und),
         deg AS (SELECT src AS id, count(*) AS deg FROM edges GROUP BY 1),
         cc(node, label) AS (
           SELECT DISTINCT src, src FROM edges
           UNION
           SELECT e.dst, c.label FROM cc c JOIN edges e ON e.src = c.node),
         comps AS (SELECT node AS id, min(label) AS community
                   FROM cc GROUP BY 1),
         l0 AS (SELECT DISTINCT src AS v, src AS lbl FROM edges),
         n1 AS (SELECT e.src AS v, l.lbl, count(*) AS c
                FROM edges e JOIN l0 l ON e.dst = l.v GROUP BY 1, 2),
         l1 AS (SELECT v, lbl FROM (SELECT v, lbl, row_number() OVER
                  (PARTITION BY v ORDER BY c DESC, lbl) AS rk FROM n1)
                WHERE rk = 1),
         n2 AS (SELECT e.src AS v, l.lbl, count(*) AS c
                FROM edges e JOIN l1 l ON e.dst = l.v GROUP BY 1, 2),
         l2 AS (SELECT v, lbl FROM (SELECT v, lbl, row_number() OVER
                  (PARTITION BY v ORDER BY c DESC, lbl) AS rk FROM n2)
                WHERE rk = 1),
         n3 AS (SELECT e.src AS v, l.lbl, count(*) AS c
                FROM edges e JOIN l2 l ON e.dst = l.v GROUP BY 1, 2),
         l3 AS (SELECT v, lbl FROM (SELECT v, lbl, row_number() OVER
                  (PARTITION BY v ORDER BY c DESC, lbl) AS rk FROM n3)
                WHERE rk = 1),
         part AS (SELECT 'cc' AS scheme, id, community FROM comps
                  UNION ALL SELECT 'lp', v, lbl FROM l3),
         dsum AS (SELECT scheme, community, count(*) AS n_nodes,
                    CAST(sum(deg) AS BIGINT) AS d_sum
                  FROM part JOIN deg USING (id) GROUP BY 1, 2),
         ein AS (SELECT pa.scheme, pa.community, count(*) AS e_in
                 FROM und u
                   JOIN part pa ON pa.id = u.src
                   JOIN part pb ON pb.id = u.dst AND pb.scheme = pa.scheme
                 WHERE pa.community = pb.community GROUP BY 1, 2)
         SELECT d.scheme, d.community, d.n_nodes,
           CAST(coalesce(e.e_in, 0) AS BIGINT) AS e_in, d.d_sum,
           CAST(4 * mt.m * coalesce(e.e_in, 0) - d.d_sum * d.d_sum
             AS BIGINT) AS q_num,
           CAST(4 * mt.m * mt.m AS BIGINT) AS q_den
         FROM dsum d LEFT JOIN ein e USING (scheme, community), mt
         ORDER BY d.scheme, d.community""",
    // Newman modularity over the docFreq-CAPPED near-dup graph —
    // identical CC/label-prop/term tail, capped edge preamble (the
    // de-skewed 100 TB entry; see q_harmonic_capped)
    "q_modularity_capped" ->
      s"""WITH RECURSIVE $TOKS_CTE,
         $SHING_CTE,
         $CAPPED_EDGES_CTES,
         und AS (SELECT doc_a AS src, doc_b AS dst FROM jp),
         mt AS (SELECT count(*) AS m FROM und),
         deg AS (SELECT src AS id, count(*) AS deg FROM edges GROUP BY 1),
         cc(node, label) AS (
           SELECT DISTINCT src, src FROM edges
           UNION
           SELECT e.dst, c.label FROM cc c JOIN edges e ON e.src = c.node),
         comps AS (SELECT node AS id, min(label) AS community
                   FROM cc GROUP BY 1),
         l0 AS (SELECT DISTINCT src AS v, src AS lbl FROM edges),
         n1 AS (SELECT e.src AS v, l.lbl, count(*) AS c
                FROM edges e JOIN l0 l ON e.dst = l.v GROUP BY 1, 2),
         l1 AS (SELECT v, lbl FROM (SELECT v, lbl, row_number() OVER
                  (PARTITION BY v ORDER BY c DESC, lbl) AS rk FROM n1)
                WHERE rk = 1),
         n2 AS (SELECT e.src AS v, l.lbl, count(*) AS c
                FROM edges e JOIN l1 l ON e.dst = l.v GROUP BY 1, 2),
         l2 AS (SELECT v, lbl FROM (SELECT v, lbl, row_number() OVER
                  (PARTITION BY v ORDER BY c DESC, lbl) AS rk FROM n2)
                WHERE rk = 1),
         n3 AS (SELECT e.src AS v, l.lbl, count(*) AS c
                FROM edges e JOIN l2 l ON e.dst = l.v GROUP BY 1, 2),
         l3 AS (SELECT v, lbl FROM (SELECT v, lbl, row_number() OVER
                  (PARTITION BY v ORDER BY c DESC, lbl) AS rk FROM n3)
                WHERE rk = 1),
         part AS (SELECT 'cc' AS scheme, id, community FROM comps
                  UNION ALL SELECT 'lp', v, lbl FROM l3),
         dsum AS (SELECT scheme, community, count(*) AS n_nodes,
                    CAST(sum(deg) AS BIGINT) AS d_sum
                  FROM part JOIN deg USING (id) GROUP BY 1, 2),
         ein AS (SELECT pa.scheme, pa.community, count(*) AS e_in
                 FROM und u
                   JOIN part pa ON pa.id = u.src
                   JOIN part pb ON pb.id = u.dst AND pb.scheme = pa.scheme
                 WHERE pa.community = pb.community GROUP BY 1, 2)
         SELECT d.scheme, d.community, d.n_nodes,
           CAST(coalesce(e.e_in, 0) AS BIGINT) AS e_in, d.d_sum,
           CAST(4 * mt.m * coalesce(e.e_in, 0) - d.d_sum * d.d_sum
             AS BIGINT) AS q_num,
           CAST(4 * mt.m * mt.m AS BIGINT) AS q_den
         FROM dsum d LEFT JOIN ein e USING (scheme, community), mt
         ORDER BY d.scheme, d.community""",
    // BPE trainer inner loop, two unrolled merge rounds over the
    // word-frequency table; merges are relational (x≠y winners can't
    // overlap; x=y winners apply by run-length parity over
    // gaps-and-islands run ids — textbook left-to-right semantics)
    "q_bpe_merges" ->
      s"""WITH $BPE_CTES
         SELECT CAST(1 AS BIGINT) AS merge_rank, t1.x, t1.y, t1.cnt,
           b0.n AS syms_before, b1.n AS syms_after
         FROM t1, b0, b1
         UNION ALL
         SELECT CAST(2 AS BIGINT), t2.x, t2.y, t2.cnt, b1.n, b2.n
         FROM t2, b1, b2
         ORDER BY merge_rank""",
    // 64 sequential merge rounds, generated + MATERIALIZED (the
    // batched Spark trainer must reproduce the sequential list exactly)
    "q_bpe_train64" -> BPE64_SQL,
    // fixed-round integer Lloyd k-means, generated unrolled oracle
    "q_kmeans" -> KMEANS_SQL,
    // IVF over the trained centers: k-means chain + the ivf probe shape
    "q_ivf_kmeans" -> IVF_KMEANS_SQL,
    // apply leg over the same 64-round chain's final symbol table
    "q_bpe_apply64" -> BPE64_APPLY_SQL,
    // tokenizer APPLY: the trained merges' final symbol table (s2)
    // joined against per-source word counts — per-source compression
    "q_bpe_apply" ->
      s"""WITH $BPE_CTES,
         pw AS (SELECT w, count(*) AS n_sym FROM s2 GROUP BY w),
         srcw AS (SELECT d.source, unnest(t.tk) AS w
                  FROM toks t JOIN documents d USING (doc_id)),
         swc AS (SELECT source, w, count(*) AS cnt FROM srcw GROUP BY 1, 2)
         SELECT source,
           CAST(sum(cnt * len(w)) AS BIGINT) AS syms_before,
           CAST(sum(cnt * n_sym) AS BIGINT) AS syms_after,
           (CAST(sum(cnt * n_sym) AS BIGINT) * 1000000)
             // CAST(sum(cnt * len(w)) AS BIGINT) AS compression_micro
         FROM swc JOIN pw USING (w) GROUP BY source ORDER BY source""",
    // PMI collocations in exact integer fixed point: rank by the PMI
    // ratio cnt*N/(cx*cy) (monotone in PMI) via BIGINT floor division —
    // no libm log anywhere on the oracle path
    "q_collocations" ->
      s"""WITH $TOKS_CTE,
         bi AS (SELECT unnest(CASE WHEN len(tk) >= 2 THEN
                  list_transform(range(len(tk) - 1),
                    i -> {'w1': tk[i + 1], 'w2': tk[i + 2]})
                ELSE [] END) AS b FROM toks),
         bc AS (SELECT b.w1 AS w1, b.w2 AS w2, count(*) AS cnt FROM bi
                GROUP BY 1, 2 HAVING count(*) >= 5),
         uni AS (SELECT unnest(tk) AS w FROM toks),
         uc AS (SELECT w, count(*) AS c FROM uni GROUP BY 1),
         nbt AS (SELECT count(*) AS nb FROM bi)
         SELECT w1, w2, cnt, ux.c AS cx, uy.c AS cy,
           (((cnt * 1000000) // ux.c) * nbt.nb) // uy.c AS pmi_micro
         FROM bc JOIN uc ux ON bc.w1 = ux.w
                 JOIN uc uy ON bc.w2 = uy.w, nbt
         ORDER BY pmi_micro DESC, w1, w2 LIMIT 50""",
    // Heaps'-law vocabulary growth: cumulative docs/tokens/types over
    // 10 doc_id-range prefixes; type identity is the shared 60-bit h64
    "q_vocab_growth" ->
      s"""WITH $TOKS_CTE,
         mx AS (SELECT max(doc_id) AS mx FROM documents),
         base AS (SELECT doc_id, tk,
                    greatest(1, (10 * doc_id + mx - 1) // mx) AS bucket
                  FROM toks, mx),
         pb AS (SELECT bucket, count(*) AS docs_in,
                  CAST(sum(len(tk)) AS BIGINT) AS toks_in
                FROM base GROUP BY 1),
         exw AS (SELECT bucket, unnest(tk) AS w FROM base),
         fo AS (SELECT ${H64.format("w")} AS h, min(bucket) AS fb
                FROM exw GROUP BY 1),
         nt AS (SELECT fb AS bucket, count(*) AS new_types FROM fo GROUP BY 1)
         SELECT p.bucket,
           CAST(sum(p.docs_in) OVER cum AS BIGINT) AS n_docs,
           CAST(sum(p.toks_in) OVER cum AS BIGINT) AS total_tokens,
           CAST(sum(coalesce(n.new_types, 0)) OVER cum AS BIGINT) AS vocab
         FROM pb p LEFT JOIN nt n USING (bucket)
         WINDOW cum AS (ORDER BY p.bucket)
         ORDER BY bucket""",
    // positional-index phrase search: every (doc, start) occurrence of
    // the corpus-top trigram; three single-word index legs pre-aligned
    // to the start position meet on (doc_id, pos) equi-joins
    "q_phrase_search" ->
      s"""WITH $TOKS_CTE,
         idx AS (SELECT doc_id, u.p AS pos, u.w AS w FROM (
                   SELECT doc_id, unnest(list_transform(range(len(tk)),
                     i -> {'p': i + 1, 'w': tk[i + 1]})) AS u FROM toks)),
         grams AS (SELECT unnest(CASE WHEN len(tk) >= 3 THEN
                     list_transform(range(len(tk) - 2),
                       i -> array_to_string(tk[i + 1 : i + 3], ' '))
                   ELSE [] END) AS g FROM toks),
         topg AS (SELECT g, count(*) AS cnt FROM grams GROUP BY 1
                  ORDER BY cnt DESC, g LIMIT 1),
         ph AS (SELECT g AS phrase, split_part(g, ' ', 1) AS w1,
                  split_part(g, ' ', 2) AS w2, split_part(g, ' ', 3) AS w3
                FROM topg),
         f1 AS (SELECT i.doc_id, i.pos, ph.phrase FROM idx i, ph
                WHERE i.w = ph.w1),
         f2 AS (SELECT i.doc_id, i.pos - 1 AS pos FROM idx i, ph
                WHERE i.w = ph.w2),
         f3 AS (SELECT i.doc_id, i.pos - 2 AS pos FROM idx i, ph
                WHERE i.w = ph.w3)
         SELECT f1.doc_id, f1.pos, f1.phrase
         FROM f1 JOIN f2 USING (doc_id, pos) JOIN f3 USING (doc_id, pos)
         ORDER BY doc_id, pos""",
    // blocked entity resolution on the part dimension: candidates from
    // the (brand, head-noun) equi-join block, exact Levenshtein kernel
    "q_entity_match" ->
      """WITH p AS (SELECT p_partkey AS k, p_name AS n, p_brand AS b,
                      split_part(p_name, ' ', 2) AS noun FROM part)
         SELECT a.k AS key_a, b.k AS key_b, a.b AS brand,
           a.n AS name_a, b.n AS name_b,
           levenshtein(a.n, b.n) AS dist
         FROM p a JOIN p b ON a.b = b.b AND a.noun = b.noun AND a.k < b.k
         WHERE levenshtein(a.n, b.n) <= 2
         ORDER BY key_a, key_b""",
    // inverse-Simpson effective vocabulary per source, integer ratio
    "q_token_simpson" ->
      s"""WITH $TOKS_CTE,
         ex AS (SELECT d.source AS source, ${H64.format("u.w")} AS h
                FROM (SELECT doc_id, unnest(tk) AS w FROM toks) u
                JOIN documents d USING (doc_id)),
         cc AS (SELECT source, h, count(*) AS c FROM ex GROUP BY 1, 2)
         SELECT source, CAST(sum(c) AS BIGINT) AS n_tokens,
           count(*) AS uniq_types,
           CAST(sum(c * c) AS BIGINT) AS sumsq,
           (CAST(sum(c) AS BIGINT) * CAST(sum(c) AS BIGINT) * 1000000)
             // CAST(sum(c * c) AS BIGINT) AS eff_types_micro
         FROM cc GROUP BY source ORDER BY source""",
    "q_snapshot_diff" ->
      s"""WITH news AS (
           SELECT doc_id, CASE WHEN doc_id % 10 = 0 THEN text || ' rev2'
                               ELSE text END AS text
           FROM documents WHERE doc_id % 17 <> 0
           UNION ALL
           SELECT doc_id + 1000000 AS doc_id, text
           FROM documents WHERE doc_id % 23 = 0),
         oh AS (SELECT doc_id, ${H64.format("text")} AS h_old,
                  len(text)::BIGINT AS len_old FROM documents),
         nh AS (SELECT doc_id, ${H64.format("text")} AS h_new,
                  len(text)::BIGINT AS len_new FROM news),
         j AS (SELECT doc_id, h_old, h_new, len_old, len_new,
                 CASE WHEN h_old IS NULL THEN 'added'
                      WHEN h_new IS NULL THEN 'removed'
                      WHEN h_old <> h_new THEN 'changed'
                      ELSE 'unchanged' END AS status
               FROM oh FULL OUTER JOIN nh USING (doc_id))
         SELECT doc_id, status, len_old, len_new
         FROM j WHERE status <> 'unchanged' ORDER BY doc_id""",
    "q_ngram_diversity" ->
      s"""WITH $TOKS_CTE,
         tot AS (SELECT d.source, count(*) AS n_docs,
                   CAST(sum(len(t.tk)) AS BIGINT) AS total_tokens
                 FROM toks t JOIN documents d USING (doc_id)
                 GROUP BY d.source),
         g AS (SELECT d.source, unnest(CASE WHEN len(t.tk) >= 3 THEN
                 list_transform(range(len(t.tk) - 2),
                   i -> ${H64.format(
                     "array_to_string(list_slice(t.tk, i + 1, i + 3), ' ')")})
                 ELSE [] END) AS g
               FROM toks t JOIN documents d USING (doc_id)),
         pg AS (SELECT source, g, count(*) AS cnt FROM g GROUP BY 1, 2),
         gs AS (SELECT source, CAST(sum(cnt) AS BIGINT) AS total_3grams,
                  count(*) AS uniq_3grams
                FROM pg GROUP BY source)
         SELECT source, n_docs, total_tokens, total_3grams, uniq_3grams,
           round(uniq_3grams::DOUBLE / total_3grams, 6) AS ttr_3gram
         FROM tot JOIN gs USING (source) ORDER BY source""",
    // hash-grouped counting with min(gram) carrying the (unique) text —
    // the oracle mirror of count-on-hashes + winner rehydration
    "q_top_ngrams" ->
      s"""WITH $TOKS_CTE,
         g AS (SELECT d.source, unnest(CASE WHEN len(t.tk) >= 3 THEN
                 list_transform(range(len(t.tk) - 2),
                   i -> array_to_string(list_slice(t.tk, i + 1, i + 3), ' '))
                 ELSE [] END) AS gram
               FROM toks t JOIN documents d USING (doc_id)),
         counts AS (SELECT source, ${H64.format("gram")} AS g,
                      min(gram) AS ngram, count(*) AS cnt
                    FROM g GROUP BY source, ${H64.format("gram")}),
         rk AS (SELECT *, row_number() OVER (PARTITION BY source
                  ORDER BY cnt DESC, g ASC) AS rnk FROM counts)
         SELECT source, rnk, ngram, cnt
         FROM rk WHERE rnk <= 3 ORDER BY source, rnk""",
    // CMS calibration: 4×2^15 counters are plain integer sums over the
    // hash's disjoint 15-bit fields — the sketch itself replays exactly
    "q_cms_err" ->
      s"""WITH $TOKS_CTE,
         g0 AS (SELECT unnest(CASE WHEN len(tk) >= 3 THEN
                  list_transform(range(len(tk) - 2),
                    i -> array_to_string(list_slice(tk, i + 1, i + 3), ' '))
                  ELSE [] END) AS gram
                FROM toks),
         counts AS (SELECT ${H64.format("gram")} AS g, min(gram) AS ngram,
                      CAST(count(*) AS BIGINT) AS cnt
                    FROM g0 GROUP BY ${H64.format("gram")}),
         counters AS (SELECT r.j AS r, (g >> (r.j * 15)) & 32767 AS b,
                        CAST(sum(cnt) AS BIGINT) AS c
                      FROM counts, range(4) AS r(j) GROUP BY 1, 2),
         top AS (SELECT g, ngram, cnt FROM counts
                 ORDER BY cnt DESC, g ASC LIMIT 20),
         probe AS (SELECT t.g, t.ngram, t.cnt, min(co.c) AS cms_est
                   FROM (SELECT g, ngram, cnt, r.j AS r,
                           (g >> (r.j * 15)) & 32767 AS b
                         FROM top, range(4) AS r(j)) t
                   JOIN counters co ON co.r = t.r AND co.b = t.b
                   GROUP BY 1, 2, 3)
         SELECT row_number() OVER (ORDER BY cnt DESC, g ASC) AS rk,
           ngram, cnt AS exact_cnt, cms_est, cms_est - cnt AS over_est
         FROM probe ORDER BY rk""",
    // sketch-pruned top-k: top-50 by CMS estimate, exact pass marks
    // membership in the exact top-50 — ranking quality as pinned data
    "q_heavy_hitters" ->
      s"""WITH $TOKS_CTE,
         g0 AS (SELECT unnest(CASE WHEN len(tk) >= 3 THEN
                  list_transform(range(len(tk) - 2),
                    i -> array_to_string(list_slice(tk, i + 1, i + 3), ' '))
                  ELSE [] END) AS gram
                FROM toks),
         counts AS (SELECT ${H64.format("gram")} AS g, min(gram) AS ngram,
                      CAST(count(*) AS BIGINT) AS cnt
                    FROM g0 GROUP BY ${H64.format("gram")}),
         counters AS (SELECT r.j AS r, (g >> (r.j * 15)) & 32767 AS b,
                        CAST(sum(cnt) AS BIGINT) AS c
                      FROM counts, range(4) AS r(j) GROUP BY 1, 2),
         est AS (SELECT t.g, t.ngram, t.cnt, min(co.c) AS cms_est
                 FROM (SELECT g, ngram, cnt, r.j AS r,
                         (g >> (r.j * 15)) & 32767 AS b
                       FROM counts, range(4) AS r(j)) t
                 JOIN counters co ON co.r = t.r AND co.b = t.b
                 GROUP BY 1, 2, 3),
         cand AS (SELECT * FROM est ORDER BY cms_est DESC, g LIMIT 50),
         xtop AS (SELECT g FROM counts ORDER BY cnt DESC, g LIMIT 50)
         SELECT row_number() OVER (ORDER BY cms_est DESC, g) AS rk,
           ngram, cms_est, cnt AS exact_cnt,
           (g IN (SELECT g FROM xtop)) AS in_exact_topk
         FROM cand ORDER BY rk""",
    // footer-vs-data law: the Spark side reads the parquet FOOTER's
    // column statistics; the oracle recomputes the same numbers from
    // the rows — metadata must agree with the data it describes
    "q_footer_stats" ->
      """SELECT 'event_id' AS col_name, count(event_id) AS n_values,
           min(event_id) AS min_v, max(event_id) AS max_v FROM events
         UNION ALL
         SELECT 'user_id', count(user_id), min(user_id), max(user_id)
         FROM events ORDER BY col_name""",
    // HLL replay: trailing-zero rank via exact bit ops, harmonic sum as
    // an exact integer Σ2^(52−ρ), estimate via IEEE-exact doubles only
    // (α·m² = 38 significant bits; ·2^52 = exponent shift; then one
    // cast, one multiply, one correctly-rounded divide) — bit-for-bit
    // across engines, no transcendentals.
    // Sampling-quantile sketch: the bottom-64-by-id-hash sample is
    // replayed EXACTLY (row_number over the engine-independent hash
    // order), then both the sample's and the exact side's quantiles
    // use the same 1-based-rank definition as q_hist_quantile
    "q_sample_quantiles" ->
      s"""WITH hk AS (SELECT source,
                 ${H64.format("CAST(doc_id AS VARCHAR)")} AS hk, n_chars
               FROM documents),
         samp AS (SELECT source, n_chars, row_number() OVER
                    (PARTITION BY source ORDER BY hk, n_chars) AS rk
                  FROM hk),
         sv AS (SELECT source, n_chars, row_number() OVER
                  (PARTITION BY source ORDER BY n_chars) AS vr,
                  count(*) OVER (PARTITION BY source) AS k_eff
                FROM samp WHERE rk <= 64),
         est AS (SELECT source, max(k_eff) AS k_eff,
                   max(CASE WHEN vr = (50 * k_eff + 99) // 100
                       THEN n_chars END) AS est_p50,
                   max(CASE WHEN vr = (90 * k_eff + 99) // 100
                       THEN n_chars END) AS est_p90
                 FROM sv GROUP BY 1),
         ev AS (SELECT source, n_chars, row_number() OVER
                  (PARTITION BY source ORDER BY n_chars) AS vr,
                  count(*) OVER (PARTITION BY source) AS n
                FROM hk),
         ex AS (SELECT source, max(n) AS n_docs,
                  max(CASE WHEN vr = (50 * n + 99) // 100
                      THEN n_chars END) AS exact_p50,
                  max(CASE WHEN vr = (90 * n + 99) // 100
                      THEN n_chars END) AS exact_p90
                FROM ev GROUP BY 1)
         SELECT e.source, CAST(x.n_docs AS BIGINT) AS n_docs,
           CAST(e.k_eff AS BIGINT) AS k_eff,
           e.est_p50::BIGINT AS est_p50, x.exact_p50::BIGINT AS exact_p50,
           e.est_p90::BIGINT AS est_p90, x.exact_p90::BIGINT AS exact_p90,
           abs(e.est_p50 - x.exact_p50)::BIGINT AS err_p50,
           abs(e.est_p90 - x.exact_p90)::BIGINT AS err_p90
         FROM est e JOIN ex x USING (source) ORDER BY e.source""",
    "q_hll_err" ->
      s"""WITH $TOKS_CTE,
         g0 AS (SELECT doc_id, unnest(CASE WHEN len(tk) >= 3 THEN
                  list_transform(range(len(tk) - 2),
                    i -> array_to_string(list_slice(tk, i + 1, i + 3), ' '))
                  ELSE [] END) AS gram
                FROM toks),
         gh AS (SELECT d.source, ${H64.format("gram")} AS g
                FROM g0 JOIN documents d USING (doc_id)),
         regs AS (SELECT source, g & 511 AS b,
                    max(CASE WHEN (g >> 9) = 0 THEN 52
                        ELSE bit_count(((g >> 9) & -(g >> 9)) - 1) + 1
                        END) AS r
                  FROM gh GROUP BY 1, 2),
         sk AS (SELECT source, count(*) AS n_regs_hit,
                  CAST(sum(1::BIGINT << (52 - r)) AS BIGINT) AS s_hit
                FROM regs GROUP BY 1),
         ex AS (SELECT source, count(DISTINCT g) AS n_exact
                FROM gh GROUP BY 1),
         est AS (SELECT sk.source, ex.n_exact, sk.n_regs_hit,
                   CAST(round((719783e0 * 262144 * 4503599627370496e0)
                     / (CAST(s_hit + (512 - n_regs_hit)
                             * (1::BIGINT << 52) AS DOUBLE) * 1e6))
                     AS BIGINT) AS hll_est
                 FROM sk JOIN ex USING (source))
         SELECT source, n_exact, hll_est, hll_est - n_exact AS err,
           n_regs_hit
         FROM est ORDER BY source""",
    // Histogram-quantile calibration: one explicit rank definition
    // (value at 1-based rank ⌈q·n⌉), integer arithmetic end to end.
    "q_hist_quantile" ->
      s"""WITH $TOKS_CTE,
         nt AS (SELECT d.source, t.doc_id, CAST(len(tk) AS BIGINT) AS ntok
                FROM toks t JOIN documents d USING (doc_id)),
         cnts AS (SELECT source, count(*) AS n_docs FROM nt GROUP BY 1),
         tgt AS (SELECT source, n_docs, q.stat,
                   ((q.p * n_docs + 99) // 100) AS target
                 FROM cnts,
                   (VALUES ('p50', 50), ('p90', 90), ('p99', 99))
                     q(stat, p)),
         rk AS (SELECT source, ntok, row_number() OVER (PARTITION BY
                  source ORDER BY ntok, doc_id) AS rk FROM nt),
         ex AS (SELECT t.source, t.stat, t.n_docs, r.ntok AS exact
                FROM tgt t JOIN rk r
                  ON r.source = t.source AND r.rk = t.target),
         hist AS (SELECT source, ntok // 16 AS bin, count(*) AS c
                  FROM nt GROUP BY 1, 2),
         cum AS (SELECT source, bin, sum(c) OVER (PARTITION BY source
                   ORDER BY bin) AS cum FROM hist),
         est AS (SELECT t.source, t.stat,
                   min((c.bin + 1) * 16 - 1) AS hist_est
                 FROM tgt t JOIN cum c
                   ON c.source = t.source AND c.cum >= t.target
                 GROUP BY 1, 2)
         SELECT e.source, e.stat, e.n_docs, e.exact, s.hist_est,
           s.hist_est - e.exact AS err
         FROM ex e JOIN est s USING (source, stat)
         ORDER BY source, stat""",
    // Referential-integrity audit: anti-join orphan counts per FK edge.
    "q_ref_integrity" ->
      """SELECT * FROM (
           SELECT 'customer_nation' AS relationship,
             (SELECT CAST(count(*) AS BIGINT) FROM customer) AS n_rows,
             (SELECT CAST(count(*) AS BIGINT) FROM customer
              WHERE c_nationkey NOT IN (SELECT n_nationkey FROM nation))
               AS n_orphans
           UNION ALL
           SELECT 'lineitem_orders',
             (SELECT CAST(count(*) AS BIGINT) FROM lineitem),
             (SELECT CAST(count(*) AS BIGINT) FROM lineitem
              WHERE l_orderkey NOT IN (SELECT o_orderkey FROM orders))
           UNION ALL
           SELECT 'orders_customer',
             (SELECT CAST(count(*) AS BIGINT) FROM orders),
             (SELECT CAST(count(*) AS BIGINT) FROM orders
              WHERE o_custkey NOT IN (SELECT c_custkey FROM customer)))
         t(relationship, n_rows, n_orphans)
         ORDER BY relationship""".replace("SELECT * FROM (",
        "SELECT relationship, n_rows, n_orphans, " +
          "round(n_orphans / n_rows, 6) AS orphan_rate FROM ("),
    // Shard-rebalance replay: HRW argmax via row_number over the
    // per-(doc, shard) hash grid; modulo via %.
    "q_shard_rebalance" ->
      s"""WITH g8 AS (SELECT doc_id, sh,
                ${H64.format("doc_id::VARCHAR || ':' || sh::VARCHAR")} AS h
              FROM documents, range(8) t(sh)),
         g9 AS (SELECT doc_id, sh,
                ${H64.format("doc_id::VARCHAR || ':' || sh::VARCHAR")} AS h
              FROM documents, range(9) t(sh)),
         p8 AS (SELECT doc_id, sh AS hrw_a FROM (SELECT doc_id, sh,
                  row_number() OVER (PARTITION BY doc_id
                    ORDER BY h DESC, sh ASC) AS rn FROM g8) WHERE rn = 1),
         p9 AS (SELECT doc_id, sh AS hrw_b FROM (SELECT doc_id, sh,
                  row_number() OVER (PARTITION BY doc_id
                    ORDER BY h DESC, sh ASC) AS rn FROM g9) WHERE rn = 1),
         a AS (SELECT d.doc_id, d.doc_id % 8 AS mod_a, d.doc_id % 9 AS mod_b,
                 p8.hrw_a, p9.hrw_b
               FROM documents d JOIN p8 USING (doc_id) JOIN p9 USING (doc_id)),
         s AS (SELECT CAST(count(*) AS BIGINT) AS n_docs,
                 CAST(sum(CASE WHEN mod_a <> mod_b THEN 1 ELSE 0 END)
                   AS BIGINT) AS moved_modulo,
                 CAST(sum(CASE WHEN hrw_a <> hrw_b THEN 1 ELSE 0 END)
                   AS BIGINT) AS moved_rendezvous
               FROM a)
         SELECT n_docs, moved_modulo,
           round(moved_modulo / n_docs, 6) AS frac_modulo,
           moved_rendezvous,
           round(moved_rendezvous / n_docs, 6) AS frac_rendezvous
         FROM s""",
    // AQP calibration: inverse-probability estimates from the exact
    // 10%-hash-bucket sample, integer arithmetic throughout.
    "q_aqp_sum" ->
      s"""WITH ev AS (SELECT event_type, event_id,
                CAST(round(value * 1e6) AS BIGINT) AS vmicro FROM events),
         ex AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n_exact,
                  CAST(sum(vmicro) AS BIGINT) AS sum_exact
                FROM ev GROUP BY 1),
         sm AS (SELECT event_type,
                  CAST(count(*) * 10 AS BIGINT) AS n_est,
                  CAST(sum(vmicro) * 10 AS BIGINT) AS sum_est
                FROM ev
                WHERE ${H64.format("event_id::VARCHAR")} % 100 < 10
                GROUP BY 1)
         SELECT e.event_type, n_exact,
           coalesce(n_est, 0) AS n_est,
           coalesce(n_est, 0) - n_exact AS n_err,
           sum_exact, coalesce(sum_est, 0) AS sum_est,
           round((coalesce(sum_est, 0) - sum_exact)
             / abs(sum_exact), 6) AS sum_rel_err
         FROM ex e LEFT JOIN sm USING (event_type)
         ORDER BY event_type""",
    // Triangle replay over EXACTLY q_jaccard_pairs' pair set (same
    // CTE text): ordered edges, wedge join, closing-edge join; integer
    // micro-unit coefficient.
    "q_triangles" ->
      s"""WITH $TOKS_CTE,
         $SHING_CTE,
         sizes AS (SELECT doc_id, len(shs) AS sz FROM shing),
         ex AS (SELECT doc_id, unnest(shs) AS s FROM shing),
         cp AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS inter
                FROM ex a JOIN ex b ON a.s = b.s AND a.doc_id < b.doc_id
                GROUP BY 1, 2),
         pairs AS (SELECT doc_a AS a, doc_b AS b
                   FROM cp JOIN sizes sa ON doc_a = sa.doc_id
                           JOIN sizes sb ON doc_b = sb.doc_id
                   WHERE inter::DOUBLE / (sa.sz + sb.sz - inter) >= 0.1),
         tri AS (SELECT e1.a AS a, e1.b AS b, e2.b AS c
                 FROM pairs e1 JOIN pairs e2 ON e1.b = e2.a
                 JOIN pairs e3 ON e3.a = e1.a AND e3.b = e2.b),
         pn AS (SELECT doc, CAST(count(*) AS BIGINT) AS n_triangles FROM
                  (SELECT a AS doc FROM tri UNION ALL
                   SELECT b FROM tri UNION ALL SELECT c FROM tri)
                GROUP BY 1),
         dg AS (SELECT doc, CAST(count(*) AS BIGINT) AS deg FROM
                  (SELECT a AS doc FROM pairs UNION ALL
                   SELECT b FROM pairs)
                GROUP BY 1)
         SELECT d.doc, d.deg,
           coalesce(pn.n_triangles, 0) AS n_triangles,
           (2 * coalesce(pn.n_triangles, 0) * 1000000)
             // (d.deg * (d.deg - 1)) AS clust_micro
         FROM dg d LEFT JOIN pn USING (doc)
         WHERE d.deg >= 2 ORDER BY d.doc""",
    // Z-order layout replay: same Morton spelling
    // (DataQueries.mortonExpr) executed by both engines; per-file
    // Compaction neutrality: the Spark side aggregates the REWRITTEN
    // (Z-order-compacted) files, the oracle aggregates the original
    // table — equality proves the rewrite preserved content exactly.
    "q_compact" ->
      """SELECT event_type, count(*) AS n_rows,
           CAST(sum(CAST(round(value * 1e6) AS BIGINT)) AS BIGINT)
             AS sum_vmicro,
           min(event_id) AS min_id, max(event_id) AS max_id,
           CAST(sum(user_id) AS BIGINT) AS sum_user
         FROM events GROUP BY event_type ORDER BY event_type""",
    // ranges, probe-box hits, read amplification.
    "q_zorder" ->
      s"""WITH ev AS (SELECT user_id, event_id,
                date_diff('day', DATE '2024-01-01', CAST(ts AS DATE))
                  AS dayn FROM events),
         zb AS (SELECT *, ${DataQueries.mortonExpr} AS z FROM ev),
         la AS (SELECT 'arrival' AS layout, user_id, dayn,
                  ((row_number() OVER (ORDER BY event_id) - 1) * 64)
                    // count(*) OVER () AS bucket FROM zb),
         lz AS (SELECT 'zorder' AS layout, user_id, dayn,
                  ((row_number() OVER (ORDER BY z, event_id) - 1) * 64)
                    // count(*) OVER () AS bucket FROM zb),
         bk AS (SELECT layout, bucket, min(user_id) AS mu,
                  max(user_id) AS xu, min(dayn) AS md, max(dayn) AS xd,
                  CAST(count(*) AS BIGINT) AS c
                FROM (SELECT * FROM la UNION ALL SELECT * FROM lz)
                GROUP BY 1, 2),
         box AS (SELECT max(user_id) // 4 AS uhi FROM events),
         ib AS (SELECT CAST(count(*) AS BIGINT) AS rows_in_box
                FROM ev, box
                WHERE user_id <= uhi AND dayn BETWEEN 5 AND 14),
         ag AS (SELECT layout, CAST(count(*) AS BIGINT) AS n_files,
                  CAST(sum(CASE WHEN mu <= uhi AND md <= 14 AND xd >= 5
                           THEN 1 ELSE 0 END) AS BIGINT) AS files_hit,
                  CAST(sum(CASE WHEN mu <= uhi AND md <= 14 AND xd >= 5
                           THEN c ELSE 0 END) AS BIGINT) AS rows_scanned
                FROM bk, box GROUP BY layout)
         SELECT layout, n_files, files_hit, rows_scanned, rows_in_box,
           round(rows_scanned / rows_in_box, 6) AS read_amp
         FROM ag, ib ORDER BY layout""",
    // Incremental-maintenance proof: the oracle is the DIRECT grouped
    // aggregate; the Spark side merges base+delta partials — hash-match
    // proves merge ≡ recompute.
    "q_incr_agg" ->
      """SELECT event_type, CAST(ts AS DATE) AS day,
           count(*) AS n_events,
           CAST(sum(CAST(round(value * 1e6) AS BIGINT)) AS BIGINT)
             AS sum_vmicro
         FROM events GROUP BY 1, 2 ORDER BY event_type, day""",
    // ANALYZE-style stats, one row per column; values normalized to
    // engine-stable strings (doubles micro-quantized, timestamps as
    // epoch micros) before min/max.
    "q_table_stats" -> {
      def longCol(n: String, v: String) =
        s"""SELECT '$n' AS "column",
              CAST(count(DISTINCT $v) AS BIGINT) AS ndv,
              CAST(count(*) - count($v) AS BIGINT) AS n_nulls,
              CAST(min($v) AS VARCHAR) AS min_v,
              CAST(max($v) AS VARCHAR) AS max_v FROM lineitem"""
      val parts = Seq(
        longCol("l_orderkey", "l_orderkey"),
        longCol("l_partkey", "l_partkey"),
        longCol("l_suppkey", "l_suppkey"),
        longCol("l_linenumber", "CAST(l_linenumber AS BIGINT)"),
        longCol("l_quantity", "CAST(round(l_quantity * 1e6) AS BIGINT)"),
        longCol("l_extendedprice",
          "CAST(round(l_extendedprice * 1e6) AS BIGINT)"),
        longCol("l_discount", "CAST(round(l_discount * 1e6) AS BIGINT)"),
        longCol("l_tax", "CAST(round(l_tax * 1e6) AS BIGINT)"),
        longCol("l_returnflag", "l_returnflag"),
        longCol("l_linestatus", "l_linestatus"),
        longCol("l_shipdate", "epoch_us(l_shipdate)"))
      parts.mkString("SELECT * FROM (", " UNION ALL ",
        ") ORDER BY \"column\"")
    },
    // CMS inner-product join-size prediction: per-side 4×2¹⁵ counters,
    // estimate = min over rows of Σ_bucket cA·cB — all integer sums,
    // bit-exact replay.
    "q_join_size" ->
      s"""WITH
         k1a AS (SELECT ${H64.format("c_custkey::VARCHAR")} AS h,
                   count(*) AS c FROM customer GROUP BY 1),
         k1b AS (SELECT ${H64.format("o_custkey::VARCHAR")} AS h,
                   count(*) AS c FROM orders GROUP BY 1),
         k2a AS (SELECT ${H64.format("o_orderkey::VARCHAR")} AS h,
                   count(*) AS c FROM orders GROUP BY 1),
         k2b AS (SELECT ${H64.format("l_orderkey::VARCHAR")} AS h,
                   count(*) AS c FROM lineitem GROUP BY 1),
         c1a AS (SELECT r.j AS r, (h >> (r.j * 15)) & 32767 AS b,
                   CAST(sum(c) AS BIGINT) AS c
                 FROM k1a, range(4) r(j) GROUP BY 1, 2),
         c1b AS (SELECT r.j AS r, (h >> (r.j * 15)) & 32767 AS b,
                   CAST(sum(c) AS BIGINT) AS c
                 FROM k1b, range(4) r(j) GROUP BY 1, 2),
         c2a AS (SELECT r.j AS r, (h >> (r.j * 15)) & 32767 AS b,
                   CAST(sum(c) AS BIGINT) AS c
                 FROM k2a, range(4) r(j) GROUP BY 1, 2),
         c2b AS (SELECT r.j AS r, (h >> (r.j * 15)) & 32767 AS b,
                   CAST(sum(c) AS BIGINT) AS c
                 FROM k2b, range(4) r(j) GROUP BY 1, 2),
         ip1 AS (SELECT CAST(min(ip) AS BIGINT) AS cms_est FROM
                   (SELECT a.r, CAST(sum(a.c * b.c) AS BIGINT) AS ip
                    FROM c1a a JOIN c1b b ON a.r = b.r AND a.b = b.b
                    GROUP BY 1)),
         ip2 AS (SELECT CAST(min(ip) AS BIGINT) AS cms_est FROM
                   (SELECT a.r, CAST(sum(a.c * b.c) AS BIGINT) AS ip
                    FROM c2a a JOIN c2b b ON a.r = b.r AND a.b = b.b
                    GROUP BY 1)),
         ex1 AS (SELECT CAST(sum(a.c * b.c) AS BIGINT) AS exact_rows
                 FROM (SELECT c_custkey AS k, count(*) AS c
                       FROM customer GROUP BY 1) a
                 JOIN (SELECT o_custkey AS k, count(*) AS c
                       FROM orders GROUP BY 1) b USING (k)),
         ex2 AS (SELECT CAST(sum(a.c * b.c) AS BIGINT) AS exact_rows
                 FROM (SELECT o_orderkey AS k, count(*) AS c
                       FROM orders GROUP BY 1) a
                 JOIN (SELECT l_orderkey AS k, count(*) AS c
                       FROM lineitem GROUP BY 1) b USING (k))
         SELECT join_name, exact_rows, cms_est,
           cms_est - exact_rows AS over_est FROM (
           SELECT 'customer_orders' AS join_name, exact_rows, cms_est
           FROM ex1, ip1
           UNION ALL
           SELECT 'orders_lineitem', exact_rows, cms_est FROM ex2, ip2)
         ORDER BY join_name""",
    // Novelty rate by arrival batch: distinct (batch, gram-hash), then
    // first-occurrence batch per hash.
    "q_novelty" ->
      s"""WITH $TOKS_CTE, $SHING_CTE,
         bg AS (SELECT DISTINCT doc_id % 10 AS batch,
                  ${H64.format("gram")} AS g
                FROM (SELECT doc_id, unnest(shs) AS gram FROM shing)),
         tot AS (SELECT batch, count(*) AS n_grams FROM bg GROUP BY 1),
         nov AS (SELECT batch, count(*) AS n_novel
                 FROM (SELECT g, min(batch) AS batch FROM bg GROUP BY g)
                 GROUP BY 1)
         SELECT t.batch, n_grams, n_novel,
           round(n_novel::DOUBLE / n_grams, 6) AS novelty
         FROM tot t JOIN nov USING (batch) ORDER BY batch""",
    // Distilled quality model: integer micro-unit weight literals ×
    // integer counts → the logit sum is exact on both engines; keep
    // decisions compare in logit space (no exp)
    "q_quality_model" ->
      s"""WITH $TOKS_CTE,
         $QUALITY_SCORE_CTE
         SELECT doc_id, round(logit_fx / 1000000.0, 6) AS logit,
           logit_fx >= 0 AS keep_model, keep_rule,
           (logit_fx >= 0) = keep_rule AS agree
         FROM qr ORDER BY doc_id""",
    "q_quality_agreement" ->
      s"""WITH $TOKS_CTE,
         $QUALITY_SCORE_CTE,
         ag AS (SELECT d.source,
                  count(*) AS n_docs,
                  CAST(sum(CASE WHEN (r.logit_fx >= 0) = r.keep_rule
                           THEN 1 ELSE 0 END) AS BIGINT) AS n_agree,
                  CAST(sum(CASE WHEN r.logit_fx >= 0 THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_keep_model,
                  CAST(sum(CASE WHEN r.keep_rule THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_keep_rule
                FROM qr r JOIN documents d USING (doc_id)
                GROUP BY d.source)
         SELECT source, n_docs, n_agree, n_keep_model, n_keep_rule,
           round(n_agree::DOUBLE / n_docs, 6) AS agree_rate
         FROM ag ORDER BY source""",
    "q_sample_docs" ->
      s"""WITH $TOKS_CTE,
         lang AS (SELECT doc_id,
                  CASE WHEN len(tk) > 0 THEN len(list_filter(tk,
                    x -> x IN ('der','die','und','das','ist')))::DOUBLE / len(tk) ELSE 0 END AS s_de,
                  CASE WHEN len(tk) > 0 THEN len(list_filter(tk,
                    x -> x IN ('the','a','of','and','is')))::DOUBLE / len(tk) ELSE 0 END AS s_en,
                  CASE WHEN len(tk) > 0 THEN len(list_filter(tk,
                    x -> x IN ('el','la','de','que','y')))::DOUBLE / len(tk) ELSE 0 END AS s_es,
                  CASE WHEN len(tk) > 0 THEN len(list_filter(tk,
                    x -> x IN ('le','la','et','les','des')))::DOUBLE / len(tk) ELSE 0 END AS s_fr
                FROM toks),
         pred AS (SELECT doc_id,
                  CASE WHEN s_de >= s_en AND s_de >= s_es AND s_de >= s_fr THEN 'de'
                       WHEN s_en >= s_de AND s_en >= s_es AND s_en >= s_fr THEN 'en'
                       WHEN s_es >= s_de AND s_es >= s_en AND s_es >= s_fr THEN 'es'
                       WHEN s_fr >= s_de AND s_fr >= s_en AND s_fr >= s_es THEN 'fr'
                       ELSE 'und' END AS lang
                FROM lang),
         sampled AS (SELECT doc_id, 'hash20' AS via FROM documents
                     WHERE ${H64.format("doc_id::VARCHAR")} % 100 < 20),
         rk AS (SELECT doc_id, lang, row_number() OVER (PARTITION BY lang
                  ORDER BY ${H64.format("doc_id::VARCHAR")}, doc_id) AS rn
                FROM pred),
         quota AS (SELECT doc_id, 'quota_' || lang AS via FROM rk WHERE rn <= 3)
         SELECT doc_id, via FROM
           (SELECT * FROM sampled UNION ALL SELECT * FROM quota)
         ORDER BY via, doc_id""",
    "q_winnow" ->
      s"""WITH $TOKS_CTE,
         $WINNOW_CTE
         SELECT doc_id, len(fps) AS n_fps,
           ${H64.format("array_to_string(fps, ',')")} AS fps_hash
         FROM wm ORDER BY doc_id""",
    // Pairs over the winnow fingerprints: inverted-index equi-join on
    // the fingerprint, set Jaccard from distinct-fingerprint counts.
    "q_winnow_pairs" ->
      s"""WITH $TOKS_CTE,
         $WINNOW_CTE,
         ex AS (SELECT doc_id, unnest(fps) AS f FROM wm WHERE len(fps) > 0),
         sizes AS (SELECT doc_id, len(fps) AS sz FROM wm WHERE len(fps) > 0),
         pairs AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS inter
                   FROM ex a JOIN ex b ON a.f = b.f AND a.doc_id < b.doc_id
                   GROUP BY 1, 2),
         j AS (SELECT doc_a, doc_b, inter,
                 inter::DOUBLE / (sa.sz + sb.sz - inter) AS jac
               FROM pairs JOIN sizes sa ON doc_a = sa.doc_id
                          JOIN sizes sb ON doc_b = sb.doc_id)
         SELECT doc_a, doc_b, inter, round(jac, 6) AS jaccard
         FROM j WHERE inter >= 3 ORDER BY doc_a, doc_b""",
    // Asymmetric containment: inter/|fp(A)| or inter/|fp(B)| ≥ 0.3 —
    // the quote/excerpt detector symmetric Jaccard misses.
    "q_containment" ->
      s"""WITH $TOKS_CTE,
         $WINNOW_CTE,
         ex AS (SELECT doc_id, unnest(fps) AS f FROM wm WHERE len(fps) > 0),
         sizes AS (SELECT doc_id, len(fps) AS sz FROM wm WHERE len(fps) > 0),
         pairs AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS inter
                   FROM ex a JOIN ex b ON a.f = b.f AND a.doc_id < b.doc_id
                   GROUP BY 1, 2),
         c AS (SELECT doc_a, doc_b, inter,
                 inter::DOUBLE / sa.sz AS cont_a,
                 inter::DOUBLE / sb.sz AS cont_b
               FROM pairs JOIN sizes sa ON doc_a = sa.doc_id
                          JOIN sizes sb ON doc_b = sb.doc_id)
         SELECT doc_a, doc_b, inter, round(cont_a, 6) AS cont_a,
           round(cont_b, 6) AS cont_b
         FROM c WHERE cont_a >= 0.3 OR cont_b >= 0.3
         ORDER BY doc_a, doc_b""",
    // Passage-level exact dedup: 8-token aligned windows, 60-bit hash,
    // corpus-wide occurrence count > 1 = duplicated passage.
    "q_passage_dedup" ->
      s"""WITH $TOKS_CTE,
         ch AS (SELECT doc_id, CASE WHEN len(tk) >= 1 THEN
                  [${H64.format("array_to_string(tk[i*8+1:i*8+8], ' ')")}
                   for i in range(0, CAST(ceil(len(tk) / 8.0) AS BIGINT))]
                ELSE [] END AS hs FROM toks),
         ex AS (SELECT doc_id, len(hs) AS n_passages, unnest(hs) AS h FROM ch),
         freq AS (SELECT h, count(*) AS cnt FROM ex GROUP BY 1),
         agg AS (SELECT e.doc_id, e.n_passages,
                   CAST(sum(CASE WHEN f.cnt > 1 THEN 1 ELSE 0 END) AS BIGINT)
                     AS n_dup
                 FROM ex e JOIN freq f USING (h) GROUP BY 1, 2)
         SELECT doc_id, n_passages, n_dup,
           round(n_dup / n_passages, 6) AS dup_frac,
           round(n_dup / n_passages, 6) >= 0.5 AS dup_heavy
         FROM agg ORDER BY doc_id""",
    // Sliding-window substring dedup: token covered when any 8-window
    // containing it repeats corpus-wide; kept text is hash-pinned
    "q_substr_dedup" ->
      s"""WITH $TOKS_CTE,
         g0 AS (SELECT doc_id, i,
                  ${H64.format("array_to_string(list_slice(tk, i + 1, i + 8), ' ')")} AS g
                FROM (SELECT doc_id, tk,
                        unnest(CASE WHEN len(tk) >= 8
                          THEN range(len(tk) - 7) ELSE [] END) AS i
                      FROM toks)),
         dup AS (SELECT g FROM g0 GROUP BY g HAVING count(*) >= 2),
         cov AS (SELECT DISTINCT doc_id, cp FROM
                   (SELECT doc_id, unnest(range(i, i + 8)) AS cp
                    FROM g0 WHERE g IN (SELECT g FROM dup))),
         cv AS (SELECT doc_id, list(cp) AS cov FROM cov GROUP BY doc_id),
         k AS (SELECT t.doc_id, len(tk) AS n_tokens,
                 coalesce(len(cov), 0) AS n_dup,
                 list_filter(tk, (x, i) ->
                   NOT list_contains(coalesce(cov, []), i - 1)) AS kept
               FROM toks t LEFT JOIN cv USING (doc_id))
         SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens,
           CAST(n_dup AS BIGINT) AS n_dup_tokens,
           CAST(n_tokens - n_dup AS BIGINT) AS n_kept,
           ${H64.format("coalesce(array_to_string(kept, ' '), '')")} AS kept_h
         FROM k ORDER BY doc_id""",
    // Bigram LM score: add-1 smoothing over corpus-trained counts;
    // per-bigram log-probs quantized to integer micro-nats (round 6,
    // then ×1e6) so the per-doc sum is exact — accumulation order and
    // libm last-ulp differences cannot flip the hash.
    "q_lm_score" ->
      s"""WITH $TOKS_CTE,
         bg AS (SELECT doc_id,
                  unnest([tk[i+1] for i in range(0, len(tk) - 1)]) AS w1,
                  unnest([tk[i+2] for i in range(0, len(tk) - 1)]) AS w2
                FROM toks),
         vocab AS (SELECT count(DISTINCT t) AS v
                   FROM (SELECT unnest(tk) AS t FROM toks)),
         bc AS (SELECT w1, w2, count(*) AS cb FROM bg GROUP BY 1, 2),
         uc AS (SELECT w1, count(*) AS cu FROM bg GROUP BY 1),
         lp AS (SELECT doc_id,
                  CAST(round(round(ln((cb + 1) / (cu + v)), 6) * 1e6)
                    AS BIGINT) AS fx
                FROM bg JOIN bc USING (w1, w2) JOIN uc USING (w1), vocab)
         SELECT doc_id, count(*) AS n_bigrams,
           round(-CAST(sum(fx) AS BIGINT) / (count(*) * 1e6), 6) AS nll
         FROM lp GROUP BY 1 ORDER BY doc_id""",
    // Quality deciles: ntile over the composite quality score per
    // language; both engines rank on the UNROUNDED score (an identical
    // expression tree over exact divisions → bit-identical doubles),
    // ties by doc_id.
    "q_quality_deciles" ->
      s"""WITH $TOKS_CTE,
         q AS (SELECT doc_id, d.lang,
                 0.4 * least(len(tk) / 100.0, 1.0)
                 + 0.3 * (1.0 - coalesce(CASE WHEN len(toks.text) > 0 THEN
                     (len(toks.text) - len(regexp_replace(toks.text, '[a-zA-Z0-9 ]', '', 'g')))::DOUBLE
                       / len(toks.text) END, 0.0))
                 + 0.3 * least(coalesce(CASE WHEN len(tk) > 0 THEN
                     len(list_filter(tk, x -> x IN ('the','a','of','and','is')))::DOUBLE
                       / len(tk) END, 0.0) * 5.0, 1.0) AS qual
               FROM toks JOIN documents d USING (doc_id))
         SELECT doc_id, lang, round(qual, 6) AS quality,
           ntile(10) OVER (PARTITION BY lang ORDER BY qual DESC, doc_id)
             AS decile
         FROM q ORDER BY doc_id""",
    // Centroid cosine per label pair: micro-unit fixed-point sums keep
    // every aggregate an exact integer; sqrt + one divide are the only
    // float steps (IEEE correctly-rounded → engine-identical).
    "q_centroid_sim" ->
      """WITH f0 AS (SELECT label, unnest(range(len(embedding))) AS i,
                  unnest(embedding) AS v FROM embeddings),
         f AS (SELECT label, i,
                 CAST(round(v::DOUBLE * 1e6) AS BIGINT) AS vf FROM f0),
         c AS (SELECT label, i, CAST(sum(vf) AS BIGINT) AS cv
               FROM f GROUP BY 1, 2),
         n AS (SELECT label, CAST(sum(cv * cv) AS BIGINT) AS nn
               FROM c GROUP BY 1),
         dots AS (SELECT a.label AS la, b.label AS lb,
                    CAST(sum(a.cv * b.cv) AS BIGINT) AS dot
                  FROM c a JOIN c b ON a.i = b.i AND a.label < b.label
                  GROUP BY 1, 2)
         SELECT la, lb,
           round(dot / (sqrt(na.nn::DOUBLE) * sqrt(nb.nn::DOUBLE)), 6)
             AS cos_sim
         FROM dots JOIN n na ON la = na.label JOIN n nb ON lb = nb.label
         ORDER BY la, lb""",
    // LSH S-curve tuning replay: three band configs over the shared
    // SIG_CTE signatures, recall vs the exact Jaccard truth set.
    "q_lsh_tuning" -> {
      def cfg(r: Int) =
        s"""b$r AS (SELECT doc, i // $r AS band,
               ('0x' || substr(md5(string_agg(sigv, ',' ORDER BY i)),
                  1, 15))::BIGINT AS bh
             FROM sig GROUP BY 1, 2),
           c$r AS (SELECT DISTINCT a.doc AS doc_a, b.doc AS doc_b
                   FROM b$r a JOIN b$r b
                     ON a.band = b.band AND a.bh = b.bh AND a.doc < b.doc),
           s$r AS (SELECT $r AS rows_per_band, ${32 / r} AS bands,
                     (SELECT CAST(count(*) AS BIGINT) FROM c$r)
                       AS n_candidates,
                     (SELECT CAST(count(*) AS BIGINT) FROM truth)
                       AS n_true,
                     (SELECT CAST(count(*) AS BIGINT) FROM c$r
                      JOIN truth USING (doc_a, doc_b)) AS n_captured)"""
      s"""WITH $TOKS_CTE,
         $SHING_CTE,
         $SIG_CTE,
         sizes AS (SELECT doc_id, len(shs) AS sz FROM shing),
         ex2 AS (SELECT doc_id, unnest(shs) AS s FROM shing),
         tp AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                  count(*) AS inter
                FROM ex2 a JOIN ex2 b
                  ON a.s = b.s AND a.doc_id < b.doc_id
                GROUP BY 1, 2),
         truth AS (SELECT doc_a, doc_b FROM tp
                   JOIN sizes sa ON doc_a = sa.doc_id
                   JOIN sizes sb ON doc_b = sb.doc_id
                   WHERE inter::DOUBLE / (sa.sz + sb.sz - inter) >= 0.1),
         ${cfg(1)}, ${cfg(2)}, ${cfg(4)}
         SELECT rows_per_band, bands, n_candidates, n_true, n_captured,
           round(n_captured / n_true, 6) AS recall
         FROM (SELECT * FROM s1 UNION ALL SELECT * FROM s2
               UNION ALL SELECT * FROM s4)
         ORDER BY rows_per_band"""
    },
    // Dedup-savings forecast: family-size histogram over the same
    // recursive-CC component structure as q_dedup_groups, keeping the
    // lowest-id representative's tokens per family.
    "q_dup_size_hist" ->
      s"""WITH RECURSIVE $TOKS_CTE,
         $SHING_CTE,
         ex AS (SELECT doc_id, unnest(shs) AS s FROM shing),
         sizes AS (SELECT doc_id, len(shs) AS sz FROM shing),
         pairs AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS inter
                   FROM ex a JOIN ex b ON a.s = b.s AND a.doc_id < b.doc_id
                   GROUP BY 1, 2),
         near AS (SELECT doc_a, doc_b FROM pairs
                  JOIN sizes sa ON doc_a = sa.doc_id
                  JOIN sizes sb ON doc_b = sb.doc_id
                  WHERE inter::DOUBLE / (sa.sz + sb.sz - inter) >= 0.1),
         edges AS (SELECT doc_a AS src, doc_b AS dst FROM near
                   UNION SELECT doc_b, doc_a FROM near),
         cc(node, label) AS (
           SELECT DISTINCT src, src FROM edges
           UNION
           SELECT e.dst, c.label FROM cc c JOIN edges e ON e.src = c.node),
         comps AS (SELECT node, min(label) AS comp FROM cc GROUP BY node),
         tk AS (SELECT doc_id, CAST(len(tk) AS BIGINT) AS nt FROM toks),
         fam AS (SELECT comp, CAST(count(*) AS BIGINT) AS fsize,
                   CAST(sum(nt) AS BIGINT) AS ftok,
                   arg_min(nt, node) AS kept
                 FROM comps JOIN tk ON node = doc_id GROUP BY comp),
         grp AS (SELECT fsize AS comp_size,
                   CAST(count(*) AS BIGINT) AS n_families,
                   CAST(sum(fsize) AS BIGINT) AS n_docs,
                   CAST(sum(ftok) AS BIGINT) AS tokens_total,
                   CAST(sum(ftok - kept) AS BIGINT) AS tokens_removable
                 FROM fam GROUP BY 1),
         sing AS (SELECT CAST(1 AS BIGINT) AS comp_size,
                    CAST(count(*) AS BIGINT) AS n_families,
                    CAST(count(*) AS BIGINT) AS n_docs,
                    CAST(sum(nt) AS BIGINT) AS tokens_total,
                    CAST(0 AS BIGINT) AS tokens_removable
                  FROM tk WHERE doc_id NOT IN (SELECT node FROM comps))
         SELECT * FROM grp UNION ALL SELECT * FROM sing
         ORDER BY comp_size""",
    // Within-label drift between arrival halves: same integer
    // micro-unit centroid arithmetic as q_centroid_sim.
    "q_embed_drift" ->
      """WITH f0 AS (SELECT label, vec_id % 2 AS half,
                  unnest(range(len(embedding))) AS i,
                  unnest(embedding) AS v FROM embeddings),
         f AS (SELECT label, half, i,
                 CAST(round(v::DOUBLE * 1e6) AS BIGINT) AS vf FROM f0),
         c AS (SELECT label, half, i, CAST(sum(vf) AS BIGINT) AS cv
               FROM f GROUP BY 1, 2, 3),
         n AS (SELECT label, half, CAST(sum(cv * cv) AS BIGINT) AS nn
               FROM c GROUP BY 1, 2),
         cnt AS (SELECT label, vec_id % 2 AS half,
                   CAST(count(*) AS BIGINT) AS n
                 FROM embeddings GROUP BY 1, 2),
         dots AS (SELECT a.label, CAST(sum(a.cv * b.cv) AS BIGINT) AS dot
                  FROM c a JOIN c b
                    ON a.label = b.label AND a.i = b.i
                    AND a.half = 0 AND b.half = 1
                  GROUP BY 1)
         SELECT d.label, ca.n AS n_a, cb.n AS n_b,
           round(dot / (sqrt(na.nn::DOUBLE) * sqrt(nb.nn::DOUBLE)), 6)
             AS cos_drift
         FROM dots d
         JOIN n na ON na.label = d.label AND na.half = 0
         JOIN n nb ON nb.label = d.label AND nb.half = 1
         JOIN cnt ca ON ca.label = d.label AND ca.half = 0
         JOIN cnt cb ON cb.label = d.label AND cb.half = 1
         ORDER BY d.label""",
    // Boilerplate strip: passages (8-token windows) with corpus
    // occurrence ≥ 3 removed, documents rebuilt from the survivors in
    // original order — reconstruction pinned by length + content hash.
    "q_boiler_strip" ->
      s"""WITH $TOKS_CTE,
         ch AS (SELECT doc_id, CASE WHEN len(tk) >= 1 THEN
                  [struct_pack(i := i,
                     p := array_to_string(tk[i*8+1:i*8+8], ' '))
                   for i in range(0, CAST(ceil(len(tk) / 8.0) AS BIGINT))]
                ELSE [] END AS ps FROM toks),
         ex AS (SELECT doc_id, u.i AS i, u.p AS p
                FROM (SELECT doc_id, unnest(ps) AS u FROM ch)),
         hx AS (SELECT doc_id, i, p, ${H64.format("p")} AS h FROM ex),
         boiler AS (SELECT h FROM hx GROUP BY h HAVING count(*) >= 3),
         kept AS (SELECT doc_id, count(*) AS n_kept,
                    string_agg(p, ' ' ORDER BY i) AS clean
                  FROM hx WHERE h NOT IN (SELECT h FROM boiler)
                  GROUP BY doc_id)
         SELECT b.doc_id, CAST(len(b.ps) AS BIGINT) AS n_passages,
           CAST(coalesce(k.n_kept, 0) AS BIGINT) AS n_kept,
           CAST(len(coalesce(k.clean, '')) AS BIGINT) AS clean_len,
           ${H64.format("coalesce(k.clean, '')")} AS clean_h
         FROM ch b LEFT JOIN kept k USING (doc_id) ORDER BY doc_id""",
    // Quality-aware representative per near-dup group: capped-candidate
    // CC (identical to q_dedup_groups_capped) + the q_quality_deciles
    // score; each group keeps its highest-quality member, singletons
    // keep themselves. Ranking on the UNROUNDED score (identical
    // expression trees → bit-identical doubles), ties by doc_id.
    "q_dedup_rep" ->
      s"""WITH RECURSIVE $TOKS_CTE,
         $SHING_CTE,
         ex AS (SELECT doc_id, unnest(shs) AS s FROM shing),
         keep AS (SELECT s FROM ex GROUP BY s HAVING count(*) <= 5),
         fx AS (SELECT doc_id, s FROM ex JOIN keep USING (s)),
         sizes AS (SELECT doc_id, count(*) AS sz FROM fx GROUP BY doc_id),
         pairs AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS inter
                   FROM fx a JOIN fx b ON a.s = b.s AND a.doc_id < b.doc_id
                   GROUP BY 1, 2),
         near AS (SELECT doc_a, doc_b FROM pairs
                  JOIN sizes sa ON doc_a = sa.doc_id
                  JOIN sizes sb ON doc_b = sb.doc_id
                  WHERE inter::DOUBLE / (sa.sz + sb.sz - inter) >= 0.1),
         edges AS (SELECT doc_a AS src, doc_b AS dst FROM near
                   UNION SELECT doc_b, doc_a FROM near),
         cc(node, label) AS (
           SELECT DISTINCT src, src FROM edges
           UNION
           SELECT e.dst, c.label FROM cc c JOIN edges e ON e.src = c.node),
         comps AS (SELECT node, min(label) AS comp FROM cc GROUP BY node),
         sz AS (SELECT comp, count(*) AS comp_size FROM comps GROUP BY comp),
         qual AS (SELECT doc_id,
                 0.4 * least(len(tk) / 100.0, 1.0)
                 + 0.3 * (1.0 - coalesce(CASE WHEN len(toks.text) > 0 THEN
                     (len(toks.text) - len(regexp_replace(toks.text, '[a-zA-Z0-9 ]', '', 'g')))::DOUBLE
                       / len(toks.text) END, 0.0))
                 + 0.3 * least(coalesce(CASE WHEN len(tk) > 0 THEN
                     len(list_filter(tk, x -> x IN ('the','a','of','and','is')))::DOUBLE
                       / len(tk) END, 0.0) * 5.0, 1.0) AS q
               FROM toks),
         g AS (SELECT q.doc_id, coalesce(c.comp, q.doc_id) AS comp,
                 CAST(coalesce(z.comp_size, 1) AS BIGINT) AS comp_size, q.q
               FROM qual q LEFT JOIN comps c ON q.doc_id = c.node
                 LEFT JOIN sz z ON c.comp = z.comp)
         SELECT doc_id, comp, comp_size, round(q, 6) AS quality,
           (row_number() OVER (PARTITION BY comp ORDER BY q DESC, doc_id) = 1)
             AS keep
         FROM g ORDER BY doc_id""",
    // PQ sub-codes, long format — the m-byte compressed representation.
    "q_pq_encode" ->
      s"""WITH $PQ_CTE
         SELECT vec_id, sub, code FROM codes ORDER BY vec_id, sub""",
    // ADC top-10 for the lowest-id query: per-(subspace, code) distance
    // table from exact integer arithmetic, summed per candidate.
    "q_pq_topk" ->
      s"""WITH $PQ_CTE,
         q AS (SELECT min(vec_id) AS qid FROM embeddings
               WHERE embedding IS NOT NULL),
         dtab AS (SELECT c.sub, c.cidx,
                    CAST(sum((p.vf - c.vf) * (p.vf - c.vf)) AS BIGINT) AS d
                  FROM pf p JOIN cents c ON p.sub = c.sub AND p.pos = c.pos, q
                  WHERE p.vec_id = q.qid GROUP BY 1, 2),
         adc AS (SELECT cd.vec_id, CAST(sum(dt.d) AS BIGINT) AS adist
                 FROM codes cd
                 JOIN dtab dt ON cd.sub = dt.sub AND cd.code = dt.cidx, q
                 WHERE cd.vec_id <> q.qid GROUP BY 1)
         SELECT vec_id AS cand_id, adist, rnk FROM
           (SELECT vec_id, adist,
              row_number() OVER (ORDER BY adist, vec_id) AS rnk FROM adc)
         WHERE rnk <= 10 ORDER BY rnk""",
    // Token-budget selection: greedy by type-token ratio per source,
    // cumulative token count capped at 800.
    "q_token_budget" ->
      s"""WITH t AS (SELECT doc_id, source,
             ${duckToks("text")} AS tk
           FROM documents),
         sc AS (SELECT doc_id, source, len(tk) AS n_tok,
             len(list_distinct(tk)) / len(tk) AS ttr FROM t),
         cum AS (SELECT *, CAST(sum(n_tok) OVER (PARTITION BY source
                   ORDER BY ttr DESC, doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                 AS BIGINT) AS cum_tok
                FROM sc)
         SELECT source, doc_id, n_tok, round(ttr, 6) AS ttr, cum_tok
         FROM cum WHERE cum_tok <= 800 ORDER BY source, doc_id""",
    // DuckDB has no BLOB substring — slice the hex image of the payload
    // instead (one 64-byte frame = 128 hex chars); Spark slices the real
    // bytes and hexes per frame, which is the same string.
    "q_frame_sample" ->
      s"""WITH b AS (SELECT doc_id, lower(hex(encode(text))) AS h,
                  octet_length(encode(text)) AS n FROM documents),
         fr AS (SELECT doc_id,
                  [substring(h, i * 128 + 1, 128)
                   for i in range(0, greatest(cast(ceil(n / 64.0) AS INT), 1))
                   if i % 2 = 0] AS fhex
                FROM b)
         SELECT doc_id, len(fhex) AS n_frames,
           ${H64.format("array_to_string(fhex, ',')")} AS frames_hash
         FROM fr ORDER BY doc_id""",
    // Multimodal oracles: the expected statistics are recomputed
    // ANALYTICALLY from the sample/pixel formulas — DuckDB never sees
    // the encoded bytes, so the Spark-side WAV/BMP/PPM encode→decode
    // round trip is independently gated (a codec defect changes the
    // decoded stats, the oracle doesn't move).
    // GATE CONSTRAINT: every integer aggregate that reaches the output
    // MUST be cast ::BIGINT — DuckDB promotes sum(INTEGER) to HUGEINT,
    // which pandas renders as float64 ("3.0" vs Spark's "3") and the
    // driver's hash compare fails even though values are equal.
    "q_media_features" ->
      """WITH n AS (SELECT doc_id, 512 + (doc_id % 5) * 128 AS n FROM documents),
         s AS (SELECT doc_id, unnest(range(n)) AS i FROM n),
         v AS (SELECT doc_id, i,
                 ((doc_id * 40503 + i * 2654435761) % 65536) - 32768 AS v
               FROM s)
         SELECT doc_id, count(*) AS n_samples, 8000::BIGINT AS sample_rate,
           max(abs(v))::BIGINT AS max_abs, sum(abs(v))::BIGINT AS sum_abs,
           sum((i + 1) * abs(v))::BIGINT AS wsum_abs
         FROM v GROUP BY doc_id ORDER BY doc_id""",
    // the COMPRESSED audio leg: same samples companded through G.711
    // µ-law encode∘decode — exact integer math, replayed inline
    // (sign/clip/bias, segment CASE, mantissa shift, exact inverse)
    "q_ulaw_features" ->
      """WITH n AS (SELECT doc_id, 512 + (doc_id % 5) * 128 AS n FROM documents),
         s AS (SELECT doc_id, unnest(range(n)) AS i FROM n),
         v AS (SELECT doc_id, i,
                 ((doc_id * 40503 + i * 2654435761) % 65536) - 32768 AS v
               FROM s),
         enc AS (SELECT doc_id, i,
                   CASE WHEN v < 0 THEN 1 ELSE 0 END AS neg,
                   least(abs(v), 32635) + 132 AS mag
                 FROM v),
         seg AS (SELECT doc_id, i, neg, mag,
                   CASE WHEN mag >= 16384 THEN 7 WHEN mag >= 8192 THEN 6
                        WHEN mag >= 4096 THEN 5 WHEN mag >= 2048 THEN 4
                        WHEN mag >= 1024 THEN 3 WHEN mag >= 512 THEN 2
                        WHEN mag >= 256 THEN 1 ELSE 0 END AS e
                 FROM enc),
         dec AS (SELECT doc_id, i,
                   (CASE WHEN neg = 1 THEN -1 ELSE 1 END) *
                     (((((mag >> (e + 3)) & 15) * 8 + 132) << e) - 132) AS dv
                 FROM seg)
         SELECT doc_id, count(*) AS n_samples, 8000::BIGINT AS sample_rate,
           max(abs(dv))::BIGINT AS max_abs, sum(abs(dv))::BIGINT AS sum_abs,
           sum((i + 1) * abs(dv))::BIGINT AS wsum_abs
         FROM dec GROUP BY doc_id ORDER BY doc_id""",
    // IMA ADPCM: the oracle replays the CLOSED-LOOP encoder as a
    // recursive CTE — per sample: step lookup, 3-bit magnitude
    // quantize (successive step/2^k subtraction), vpdiff
    // reconstruction, int16 predictor clamp, index-table walk with
    // [0,88] clamp; block starts (i % 505 = 0) checkpoint the
    // predictor to the verbatim sample, index carries across. The
    // decoded value dv at every i IS the encoder's tracked predictor,
    // which is exactly what the WAV decoder reproduces.
    "q_adpcm_features" ->
      """WITH RECURSIVE
         n AS (SELECT doc_id, 512 + (doc_id % 5) * 128 AS n FROM documents),
         s AS (SELECT doc_id, unnest(range(n)) AS i FROM n),
         v AS (SELECT doc_id, i,
                 ((doc_id * 40503 + i * 2654435761) % 65536) - 32768 AS v
               FROM s),
         st AS (
           SELECT doc_id, i, v AS dv, v AS pred, CAST(0 AS BIGINT) AS idx
           FROM v WHERE i = 0
           UNION ALL
           SELECT doc_id, i,
             CASE WHEN reset THEN v ELSE np END AS dv,
             CASE WHEN reset THEN v ELSE np END AS pred,
             CASE WHEN reset THEN idx ELSE CAST(least(88, greatest(0,
               idx + [-1,-1,-1,-1,2,4,6,8][b4 + b2 + b1 + 1])) AS BIGINT)
             END AS idx
           FROM (
             SELECT doc_id, i, v, reset, pred, idx, b4, b2, b1,
               CASE WHEN neg THEN greatest(-32768, pred - vp)
                    ELSE least(32767, pred + vp) END AS np
             FROM (
               SELECT doc_id, i, v, reset, pred, idx, neg, b4, b2,
                 CASE WHEN r2 >= step // 4 THEN 1 ELSE 0 END AS b1,
                 step // 8 + CASE WHEN b4 = 4 THEN step ELSE 0 END
                   + CASE WHEN b2 = 2 THEN step // 2 ELSE 0 END
                   + CASE WHEN r2 >= step // 4 THEN step // 4 ELSE 0 END
                   AS vp
               FROM (
                 SELECT doc_id, i, v, reset, pred, idx, step, neg, b4,
                   CASE WHEN r1 >= step // 2 THEN 2 ELSE 0 END AS b2,
                   r1 - CASE WHEN r1 >= step // 2 THEN step // 2 ELSE 0
                        END AS r2
                 FROM (
                   SELECT doc_id, i, v, reset, pred, idx, step, neg,
                     CASE WHEN ad >= step THEN 4 ELSE 0 END AS b4,
                     ad - CASE WHEN ad >= step THEN step ELSE 0 END AS r1
                   FROM (
                     SELECT doc_id, i, v, reset, pred, idx,
                       [7,8,9,10,11,12,13,14,16,17,19,21,23,25,28,31,
                        34,37,41,45,50,55,60,66,73,80,88,97,107,118,
                        130,143,157,173,190,209,230,253,279,307,337,
                        371,408,449,494,544,598,658,724,796,876,963,
                        1060,1166,1282,1411,1552,1707,1878,2066,2272,
                        2499,2749,3024,3327,3660,4026,4428,4871,5358,
                        5894,6484,7132,7845,8630,9493,10442,11487,
                        12635,13899,15289,16818,18500,20350,22385,
                        24623,27086,29794,32767][idx + 1] AS step,
                       (v < pred) AS neg, abs(v - pred) AS ad
                     FROM (
                       SELECT x.doc_id, x.i, x.v,
                         (x.i % 505 = 0) AS reset, t.pred, t.idx
                       FROM st t JOIN v x
                         ON x.doc_id = t.doc_id AND x.i = t.i + 1)))))))
         SELECT doc_id, count(*) AS n_samples, 8000::BIGINT AS sample_rate,
           max(abs(dv))::BIGINT AS max_abs, sum(abs(dv))::BIGINT AS sum_abs,
           sum((i + 1) * abs(dv))::BIGINT AS wsum_abs
         FROM st GROUP BY doc_id ORDER BY doc_id""",
    "q_image_features" ->
      """WITH dims AS (SELECT doc_id, 16 + (doc_id % 9) AS w,
                  12 + (doc_id % 7) AS h,
                  CASE WHEN doc_id % 2 = 0 THEN 'bmp' ELSE 'ppm' END AS format
                FROM documents),
         px AS (SELECT doc_id, w, h, format, unnest(range(w * h)) AS p FROM dims),
         c AS (SELECT doc_id, w, h, format, p % w AS x, p // w AS y FROM px),
         v AS (SELECT doc_id, w, h, format, x, y,
                 (doc_id + 3 * x + 7 * y) % 256 AS r,
                 (2 * doc_id + 5 * x + y) % 256 AS g,
                 (3 * doc_id + x + 11 * y) % 256 AS b
               FROM c)
         SELECT doc_id, format, max(w) AS width, max(h) AS height,
           sum(r)::BIGINT AS sum_r, sum(g)::BIGINT AS sum_g,
           sum(b)::BIGINT AS sum_b,
           sum((y + 1) * r)::BIGINT AS wsum_r
         FROM v GROUP BY doc_id, format ORDER BY doc_id""",
    // 2:1 resample: the analytic twin recomputes the midpoint-averaged
    // samples from the formula; round() is half-away-from-zero on the
    // EXACT double (va+vb)/2 on both engines
    "q_audio_resample" ->
      """WITH n AS (SELECT doc_id, 512 + (doc_id % 5) * 128 AS n FROM documents),
         s AS (SELECT doc_id, unnest(range(n // 2)) AS i FROM n),
         v AS (SELECT doc_id, i,
                 ((doc_id * 40503 + (2 * i) * 2654435761) % 65536) - 32768 AS va,
                 ((doc_id * 40503 + (2 * i + 1) * 2654435761) % 65536) - 32768 AS vb
               FROM s),
         r AS (SELECT doc_id, i,
                 CAST(round((va + vb) / 2.0) AS BIGINT) AS rv FROM v)
         SELECT doc_id, count(*) AS n_samples, 4000::BIGINT AS sample_rate,
           max(abs(rv))::BIGINT AS max_abs, sum(abs(rv))::BIGINT AS sum_abs,
           sum((i + 1) * abs(rv))::BIGINT AS wsum_abs
         FROM r GROUP BY doc_id ORDER BY doc_id""",
    // largest-remainder allocation: pure integer replay — base share
    // (total·N_k) div N, leftover seats to the largest remainders
    "q_strat_alloc" ->
      """WITH c AS (SELECT lang, count(*) AS n_docs FROM documents GROUP BY 1),
         t AS (SELECT CAST(sum(n_docs) AS BIGINT) AS nn FROM c),
         b AS (SELECT lang, n_docs, n_docs * 1000 AS q,
                 (n_docs * 1000) // nn AS alloc_base,
                 (n_docs * 1000) % nn AS rem
               FROM c, t),
         rk AS (SELECT *, row_number() OVER (ORDER BY rem DESC, lang ASC)
                  AS rem_rank,
                 1000 - sum(alloc_base) OVER () AS seats_left
               FROM b)
         SELECT lang, n_docs::BIGINT AS n_docs,
           alloc_base::BIGINT AS alloc_base,
           (rem_rank <= seats_left) AS plus_one,
           (alloc_base + CASE WHEN rem_rank <= seats_left THEN 1 ELSE 0 END)
             ::BIGINT AS alloc
         FROM rk ORDER BY lang""",
    // PNG twin: identical pixel formulas, 'png' container — a defect
    // anywhere in the deflate/inflate/filter path shifts a sum
    // QOI round trip (lossless — same analytic oracle as PNG/GIF)
    "q_qoi_features" ->
      """WITH dims AS (SELECT doc_id, 16 + (doc_id % 9) AS w,
                  12 + (doc_id % 7) AS h, 'qoi' AS format
                FROM documents),
         px AS (SELECT doc_id, w, h, format, unnest(range(w * h)) AS p FROM dims),
         c AS (SELECT doc_id, w, h, format, p % w AS x, p // w AS y FROM px),
         v AS (SELECT doc_id, w, h, format, x, y,
                 (doc_id + 3 * x + 7 * y) % 256 AS r,
                 (2 * doc_id + 5 * x + y) % 256 AS g,
                 (3 * doc_id + x + 11 * y) % 256 AS b
               FROM c)
         SELECT doc_id, format, max(w) AS width, max(h) AS height,
           sum(r)::BIGINT AS sum_r, sum(g)::BIGINT AS sum_g,
           sum(b)::BIGINT AS sum_b,
           sum((y + 1) * r)::BIGINT AS wsum_r
         FROM v GROUP BY doc_id, format ORDER BY doc_id""",
    "q_png_features" ->
      """WITH dims AS (SELECT doc_id, 16 + (doc_id % 9) AS w,
                  12 + (doc_id % 7) AS h, 'png' AS format
                FROM documents),
         px AS (SELECT doc_id, w, h, format, unnest(range(w * h)) AS p FROM dims),
         c AS (SELECT doc_id, w, h, format, p % w AS x, p // w AS y FROM px),
         v AS (SELECT doc_id, w, h, format, x, y,
                 (doc_id + 3 * x + 7 * y) % 256 AS r,
                 (2 * doc_id + 5 * x + y) % 256 AS g,
                 (3 * doc_id + x + 11 * y) % 256 AS b
               FROM c)
         SELECT doc_id, format, max(w) AS width, max(h) AS height,
           sum(r)::BIGINT AS sum_r, sum(g)::BIGINT AS sum_g,
           sum(b)::BIGINT AS sum_b,
           sum((y + 1) * r)::BIGINT AS wsum_r
         FROM v GROUP BY doc_id, format ORDER BY doc_id""",
    // JPEG is lossy: the oracle replays the ANALYTIC pixel sums plus a
    // uniformly-TRUE tolerance band; the Spark side compares the real
    // decoded pixels against the analytic ones inside the band (≤4 at
    // q=1). Structural fields (sniff, decoded dims) are exact.
    "q_jpeg_features" ->
      """WITH dims AS (SELECT doc_id, 16 + (doc_id % 9) AS w,
                  12 + (doc_id % 7) AS h, 'jpg' AS format
                FROM documents),
         px AS (SELECT doc_id, w, h, format, unnest(range(w * h)) AS p FROM dims),
         c AS (SELECT doc_id, w, h, format, p % w AS x, p // w AS y FROM px),
         v AS (SELECT doc_id, w, h, format, x, y,
                 (doc_id + 3 * x + 7 * y) % 256 AS r,
                 (2 * doc_id + 5 * x + y) % 256 AS g,
                 (3 * doc_id + x + 11 * y) % 256 AS b
               FROM c)
         SELECT doc_id, format, max(w) AS width, max(h) AS height,
           sum(r)::BIGINT AS sum_r, sum(g)::BIGINT AS sum_g,
           sum(b)::BIGINT AS sum_b,
           sum((y + 1) * r)::BIGINT AS wsum_r,
           TRUE AS within_band
         FROM v GROUP BY doc_id, format ORDER BY doc_id""",
    // progressive JPEG leg: JDK-written 10-scan SOF2 streams (the
    // libjpeg simple-progression script — constant for 3 components,
    // verified over the doc-id range), OUR decoder; analytic sums
    // exact, decode banded <=8 on smooth gradients at q=1.0
    "q_jpeg_prog_features" ->
      """WITH dims AS (SELECT doc_id, 16 + (doc_id % 9) AS w,
                  12 + (doc_id % 7) AS h, 'jpg' AS format
                FROM documents),
         px AS (SELECT doc_id, w, h, format, unnest(range(w * h)) AS p FROM dims),
         c AS (SELECT doc_id, w, h, format, p % w AS x, p // w AS y FROM px),
         v AS (SELECT doc_id, w, h, format, x, y,
                 20 + 2 * x + 3 * y + doc_id % 60 AS r,
                 35 + 4 * x + y + doc_id % 45 AS g,
                 50 + x + 2 * y + doc_id % 70 AS b
               FROM c)
         SELECT doc_id, format, 10::BIGINT AS n_scans,
           max(w) AS width, max(h) AS height,
           sum(r)::BIGINT AS sum_r, sum(g)::BIGINT AS sum_g,
           sum(b)::BIGINT AS sum_b,
           TRUE AS within_band
         FROM v GROUP BY doc_id, format ORDER BY doc_id""",
    // end-to-end corpus pipeline: per-stage doc counts + token mass,
    // every stage replayed from its standalone oracle's fragment
    "q_pipeline_e2e" -> PIPELINE_SQL,
    // FLAC leg: lossless round trip ⇒ decoded aggregates EXACT (the
    // gif pattern, no band); the oracle replays the PCM formula
    "q_flac_features" ->
      """WITH n AS (SELECT doc_id, 600 + doc_id % 50 AS n FROM documents),
         s AS (SELECT doc_id, n, unnest(range(n)) AS i FROM n),
         v AS (SELECT doc_id, n,
                 (i * (200 + doc_id % 32)) % 8000 - 4000
                   + (doc_id * 31 + i) % 5 AS s
               FROM s)
         SELECT doc_id, 16000::BIGINT AS sample_rate,
           max(n)::BIGINT AS n_samples,
           sum(s)::BIGINT AS sum_s, sum(abs(s))::BIGINT AS sum_abs,
           min(s)::BIGINT AS min_s, max(s)::BIGINT AS max_s,
           TRUE AS compressed
         FROM v GROUP BY doc_id ORDER BY doc_id""",
    // perceptual audio fingerprint: frame-energy delta sign bits over
    // the PCM round trip; same-seed clips collapse to one fingerprint
    "q_audio_fp" ->
      """WITH n AS (SELECT doc_id, doc_id % 16 AS seed FROM documents),
         s AS (SELECT doc_id, seed, unnest(range(512)) AS i FROM n),
         v AS (SELECT doc_id, i // 32 AS f,
                 abs(((seed + 1) * 40503 + i * 2654435761) % 32768 - 16384
                   + (doc_id * 31 + i) % 3 - 1) AS a
               FROM s),
         e AS (SELECT doc_id, f, CAST(sum(a) AS BIGINT) AS e
               FROM v GROUP BY 1, 2),
         dl AS (SELECT doc_id, f, e,
                  lag(e) OVER (PARTITION BY doc_id ORDER BY f) AS pe
                FROM e),
         fp AS (SELECT doc_id,
                  CAST(sum(CASE WHEN f >= 1 AND e > pe
                    THEN 1::BIGINT << (f - 1) ELSE 0 END) AS BIGINT) AS fp
                FROM dl GROUP BY 1),
         g AS (SELECT fp, min(doc_id) AS rep, count(*) AS group_size
               FROM fp GROUP BY 1)
         SELECT f.doc_id, f.fp, g.rep, g.group_size
         FROM fp f JOIN g USING (fp) ORDER BY f.doc_id""",
    // video leg: 4-frame MJPEG clip, index-seek to frame 2, banded
    // JPEG round trip on the extracted frame; analytic sums exact
    "q_video_features" ->
      """WITH dims AS (SELECT doc_id, 16 + (doc_id % 9) AS w,
                  12 + (doc_id % 7) AS h FROM documents),
         px AS (SELECT doc_id, w, h, unnest(range(w * h)) AS p FROM dims),
         c AS (SELECT doc_id, w, h, p % w AS x, p // w AS y FROM px),
         v AS (SELECT doc_id, w, h, x, y,
                 30 + 3 * x + 20 + doc_id % 50 AS r,
                 20 + 4 * y + 20 + doc_id % 40 AS g,
                 45 + 20 + doc_id % 120 AS b
               FROM c)
         SELECT doc_id, 4::BIGINT AS n_frames,
           max(w) AS width, max(h) AS height,
           sum(r)::BIGINT AS sum_r, sum(g)::BIGINT AS sum_g,
           sum(b)::BIGINT AS sum_b,
           TRUE AS within_band
         FROM v GROUP BY doc_id ORDER BY doc_id""",
    // GIF leg: LZW is lossless, so the DECODED sums are exact — no
    // band; the oracle replays the banded-palette pixel formulas
    "q_gif_features" ->
      """WITH dims AS (SELECT doc_id, 16 + (doc_id % 9) AS w,
                  12 + (doc_id % 7) AS h, 'gif' AS format
                FROM documents),
         px AS (SELECT doc_id, w, h, format, unnest(range(w * h)) AS p FROM dims),
         c AS (SELECT doc_id, w, h, format, p % w AS x, p // w AS y FROM px),
         v AS (SELECT doc_id, w, h, format, x, y,
                 ((x + y) % 5) * 36 + doc_id % 36 AS r,
                 ((2 * x + y) % 5) * 30 + doc_id % 30 AS g,
                 ((x + 3 * y) % 5) * 20 + doc_id % 20 AS b
               FROM c)
         SELECT doc_id, format, max(w) AS width, max(h) AS height,
           sum(r)::BIGINT AS sum_r, sum(g)::BIGINT AS sum_g,
           sum(b)::BIGINT AS sum_b,
           sum((y + 1) * r)::BIGINT AS wsum_r
         FROM v GROUP BY doc_id, format ORDER BY doc_id""",
    // 4:2:0 leg: smooth gradients (box-downsampled chroma can't follow
    // sharp edges), band <=8 at q=1; analytic sums exact
    "q_jpeg420_features" ->
      """WITH dims AS (SELECT doc_id, 16 + (doc_id % 9) AS w,
                  12 + (doc_id % 7) AS h, 'jpg' AS format
                FROM documents),
         px AS (SELECT doc_id, w, h, format, unnest(range(w * h)) AS p FROM dims),
         c AS (SELECT doc_id, w, h, format, p % w AS x, p // w AS y FROM px),
         v AS (SELECT doc_id, w, h, format, x, y,
                 40 + 3 * x + doc_id % 60 AS r,
                 30 + 4 * y + doc_id % 40 AS g,
                 55 + doc_id % 150 AS b
               FROM c)
         SELECT doc_id, format, max(w) AS width, max(h) AS height,
           sum(r)::BIGINT AS sum_r, sum(g)::BIGINT AS sum_g,
           sum(b)::BIGINT AS sum_b,
           TRUE AS within_band
         FROM v GROUP BY doc_id, format ORDER BY doc_id""",
    "q_media_neardup" ->
      """WITH sd AS (SELECT doc_id, doc_id % 16 AS seed FROM documents),
         n AS (SELECT doc_id, seed, 512 + (seed % 4) * 64 AS n FROM sd),
         ix AS (SELECT doc_id, seed, unnest(range(n)) AS i FROM n),
         v AS (SELECT doc_id, i % 8 AS j,
                 ((seed + 1) * 40503 + i * 2654435761) % 32768 - 16384
                   + (doc_id * 31 + i) % 3 - 1 AS v
               FROM ix),
         f0 AS (SELECT doc_id, j, sum(v)::DOUBLE AS fv FROM v GROUP BY 1, 2),
         f AS (SELECT doc_id, list(fv ORDER BY j) AS fl FROM f0 GROUP BY doc_id),
         p AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                 list_dot_product(a.fl, b.fl) /
                   (sqrt(list_dot_product(a.fl, a.fl)) *
                    sqrt(list_dot_product(b.fl, b.fl))) AS cos
               FROM f a JOIN f b ON a.doc_id < b.doc_id)
         SELECT doc_a, doc_b, round(cos, 6) AS cos
         FROM p WHERE cos >= 0.999 ORDER BY doc_a, doc_b""",
    "q_dhash_groups" ->
      """WITH dims AS (SELECT doc_id, doc_id % 12 AS seed FROM documents),
         d2 AS (SELECT doc_id, seed, 16 + (seed % 5) AS w,
                  12 + (seed % 4) AS h FROM dims),
         px AS (SELECT doc_id, seed, w, h, unnest(range(w * h)) AS p FROM d2),
         xy AS (SELECT doc_id, seed, w, h, p % w AS x, p // w AS y FROM px),
         v AS (SELECT doc_id, w, h, x, y,
                 (((seed + 1) * (x * x + 7 * y) + 3 * x * y) % 256
                   + CASE WHEN (doc_id * 13 + x + 7 * y) % 29 = 0
                          THEN 2 ELSE 0 END) % 256 AS r,
                 ((seed * seed + 1) * x + (seed + 5) * y * y) % 256 AS g,
                 ((seed + 2) * x * y + 11 * y + x) % 256 AS b
               FROM xy),
         lum AS (SELECT doc_id, (x * 9) // w AS cx, (y * 8) // h AS cy,
                   (299 * r + 587 * g + 114 * b) // 1000 AS l FROM v),
         cell AS (SELECT doc_id, cy, cx, sum(l) // count(*) AS cl
                  FROM lum GROUP BY 1, 2, 3),
         bits AS (SELECT a.doc_id, a.cy,
                    sum(CASE WHEN b.cl > a.cl THEN 1 << a.cx ELSE 0 END) AS byte
                  FROM cell a JOIN cell b ON a.doc_id = b.doc_id
                    AND a.cy = b.cy AND b.cx = a.cx + 1
                  GROUP BY 1, 2),
         hash AS (SELECT doc_id, string_agg(byte::VARCHAR, '-' ORDER BY cy) AS dhash
                  FROM bits GROUP BY doc_id)
         SELECT doc_id, dhash, min(doc_id) OVER (PARTITION BY dhash) AS rep
         FROM hash ORDER BY doc_id""",
    "q_sales_rollup" ->
      """SELECT year(o_orderdate) AS yr, month(o_orderdate) AS mo,
           round(sum(o_totalprice), 4) AS revenue, count(*) AS n_orders
         FROM orders GROUP BY ROLLUP(yr, mo)
         ORDER BY yr ASC NULLS FIRST, mo ASC NULLS FIRST""",
    "q_sales_cube" ->
      """SELECT yr, o_orderpriority,
           round(sum(o_totalprice), 4) AS revenue, count(*) AS n_orders,
           CAST(GROUPING(yr) AS TINYINT) AS g_yr,
           CAST(GROUPING(o_orderpriority) AS TINYINT) AS g_pri
         FROM (SELECT year(o_orderdate) AS yr, o_orderpriority, o_totalprice
               FROM orders)
         GROUP BY CUBE(yr, o_orderpriority)
         ORDER BY yr ASC NULLS FIRST, o_orderpriority ASC NULLS FIRST""",
    "q_gopher_quality" ->
      s"""WITH $TOKS_CTE,
         sig AS (SELECT doc_id, len(tk) AS n_words,
             CASE WHEN len(tk) > 0 THEN
               list_sum(list_transform(tk, t -> len(t)))::DOUBLE / len(tk)
             END AS mean_word_len,
             CASE WHEN len(tk) > 0 THEN
               len(list_filter(tk, t -> regexp_matches(t, '[A-Za-z]')))::DOUBLE
                 / len(tk)
             END AS alpha_frac,
             (CASE WHEN list_contains(tk, 'the') THEN 1 ELSE 0 END +
              CASE WHEN list_contains(tk, 'a')   THEN 1 ELSE 0 END +
              CASE WHEN list_contains(tk, 'of')  THEN 1 ELSE 0 END +
              CASE WHEN list_contains(tk, 'and') THEN 1 ELSE 0 END +
              CASE WHEN list_contains(tk, 'is')  THEN 1 ELSE 0 END) AS stop_hits
           FROM toks)
         SELECT doc_id, n_words, round(mean_word_len, 6) AS mean_word_len,
           round(alpha_frac, 6) AS alpha_frac, stop_hits,
           (n_words >= 20 AND n_words <= 100000
            AND mean_word_len >= 2.0 AND mean_word_len <= 10.0
            AND coalesce(alpha_frac >= 0.8, false)
            AND stop_hits >= 2) AS keep
         FROM sig ORDER BY doc_id""",
    // isotonic calibration via the minimax formula over 10 score
    // bins; integer micro rates, floored (monotone regardless)
    "q_isotonic_cal" ->
      s"""WITH $TOKS_CTE,
         sc AS (SELECT doc_id,
             least(9, CAST(floor((
               0.4 * least(len(tk) / 100.0, 1.0)
               + 0.3 * (1.0 - coalesce(CASE WHEN len(toks.text) > 0 THEN
                   (len(toks.text) - len(regexp_replace(toks.text, '[a-zA-Z0-9 ]', '', 'g')))::DOUBLE
                     / len(toks.text) END, 0.0))
               + 0.3 * least(coalesce(CASE WHEN len(tk) > 0 THEN
                   len(list_filter(tk, x -> x IN ('the','a','of','and','is')))::DOUBLE
                     / len(tk) END, 0.0) * 5.0, 1.0)) * 10) AS BIGINT))
               AS bin,
             CASE WHEN len(tk) >= 20 AND len(tk) <= 100000
               AND (CASE WHEN len(tk) > 0 THEN
                 list_sum(list_transform(tk, t -> len(t)))::DOUBLE / len(tk)
                 END) >= 2.0
               AND (CASE WHEN len(tk) > 0 THEN
                 list_sum(list_transform(tk, t -> len(t)))::DOUBLE / len(tk)
                 END) <= 10.0
               AND coalesce((CASE WHEN len(tk) > 0 THEN
                 len(list_filter(tk, t -> regexp_matches(t, '[A-Za-z]')))::DOUBLE
                   / len(tk) END) >= 0.8, false)
               AND (CASE WHEN list_contains(tk, 'the') THEN 1 ELSE 0 END +
                    CASE WHEN list_contains(tk, 'a')   THEN 1 ELSE 0 END +
                    CASE WHEN list_contains(tk, 'of')  THEN 1 ELSE 0 END +
                    CASE WHEN list_contains(tk, 'and') THEN 1 ELSE 0 END +
                    CASE WHEN list_contains(tk, 'is')  THEN 1 ELSE 0 END) >= 2
             THEN 1 ELSE 0 END AS pos
           FROM toks),
         bins AS (SELECT bin, count(*) AS n, CAST(sum(pos) AS BIGINT) AS pos
                  FROM sc GROUP BY 1),
         cum AS (SELECT bin, n, pos,
                   CAST(sum(n) OVER (ORDER BY bin) AS BIGINT) AS cn,
                   CAST(sum(pos) OVER (ORDER BY bin) AS BIGINT) AS cp
                 FROM bins),
         seg AS (SELECT j.bin AS jb, k.bin AS kb,
                   CAST((k.cp - (j.cp - j.pos)) * 1000000
                     // (k.cn - (j.cn - j.n)) AS BIGINT) AS r
                 FROM cum j JOIN cum k ON j.bin <= k.bin),
         inner0 AS (SELECT b.bin AS i, s.jb, min(s.r) AS mn
                    FROM bins b JOIN seg s
                      ON s.jb <= b.bin AND s.kb >= b.bin
                    GROUP BY 1, 2),
         iso AS (SELECT i, max(mn) AS iso_rate_micro FROM inner0 GROUP BY 1)
         SELECT b.bin, CAST(b.n AS BIGINT) AS n, b.pos,
           CAST(b.pos * 1000000 // b.n AS BIGINT) AS raw_rate_micro,
           CAST(iso.iso_rate_micro AS BIGINT) AS iso_rate_micro
         FROM bins b JOIN iso ON b.bin = iso.i ORDER BY b.bin""",
    "q_len_quantiles" ->
      s"""WITH t AS (SELECT lang, n_chars,
             len(${duckToks("text")}) AS n_toks
           FROM documents)
         SELECT lang, count(*) AS n_docs,
           round(avg(n_chars), 4) AS mean_chars,
           round(quantile_cont(n_chars, 0.25), 4) AS chars_p25,
           round(quantile_cont(n_chars, 0.50), 4) AS chars_p50,
           round(quantile_cont(n_chars, 0.90), 4) AS chars_p90,
           round(quantile_cont(n_toks, 0.50), 4) AS toks_p50
         FROM t GROUP BY lang ORDER BY lang""",
    "q_tfidf" ->
      s"""WITH $TOKS_CTE,
         tt AS (SELECT doc_id, unnest(tk) AS term FROM toks),
         tf AS (SELECT doc_id, term, count(*) AS tf FROM tt GROUP BY 1, 2),
         dfq AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
         n AS (SELECT count(*) AS n FROM documents),
         sc AS (SELECT doc_id, term, tf, df,
                  round(tf * ln(n::DOUBLE / df), 6) AS score
                FROM tf JOIN dfq USING (term), n),
         rk AS (SELECT *, row_number() OVER (PARTITION BY doc_id
                  ORDER BY score DESC, term ASC) AS rnk FROM sc)
         SELECT doc_id, term, tf, df, score, rnk
         FROM rk WHERE rnk <= 3 ORDER BY doc_id, rnk""",
    // approx_uniq is a KMV (k-minimum-values) distinct sketch, k=64 —
    // deterministic (exact when distinct < k, (k−1)·2^60/h_(k) above),
    // so unlike HLL it IS independently recomputable here. CAST guards
    // the q_pack_bins bug class (DuckDB sum() widening to HUGEINT).
    "q_corpus_stats" ->
      s"""WITH t AS (SELECT source,
             ('0x' || substr(md5(text), 1, 15))::BIGINT AS h,
             len(${duckToks("text")}) AS n_tok
           FROM documents),
         base AS (SELECT source, count(*) AS n_docs,
                    CAST(sum(n_tok) AS BIGINT) AS total_tokens
                  FROM t GROUP BY source),
         dist AS (SELECT DISTINCT source, h FROM t),
         rk AS (SELECT source, h,
                  row_number() OVER (PARTITION BY source ORDER BY h) AS rk
                FROM dist),
         kmv AS (SELECT source, count(*) AS cnt,
                   max(CASE WHEN rk = 64 THEN h END) AS hk
                 FROM rk WHERE rk <= 64 GROUP BY source),
         est AS (SELECT source,
                   CASE WHEN cnt < 64 THEN cnt::DOUBLE
                     ELSE round(63.0 * (1152921504606846976.0 / hk), 2)
                   END AS approx_uniq
                 FROM kmv)
         SELECT source, n_docs, approx_uniq, total_tokens
         FROM base JOIN est USING (source) ORDER BY source""",
    "q_source_drift" ->
      s"""WITH $TOKS_CTE,
         sl AS (SELECT CASE WHEN try_cast(regexp_extract(d.source, '(\\d+)', 1) AS INT) % 2 = 0
                  THEN 'even' ELSE 'odd' END AS slice, t.tk
                FROM toks t JOIN documents d USING (doc_id)),
         tt AS (SELECT slice, unnest(tk) AS term FROM sl),
         freq AS (SELECT slice, term, count(*) AS n FROM tt GROUP BY 1, 2),
         tot AS (SELECT slice, sum(n) AS tot FROM freq GROUP BY 1),
         p AS (SELECT slice, term, n::DOUBLE / tot AS f
               FROM freq JOIN tot USING (slice)),
         j AS (SELECT term, coalesce(a.f, 0) AS pa, coalesce(b.f, 0) AS pb
               FROM (SELECT term, f FROM p WHERE slice = 'even') a
               FULL OUTER JOIN (SELECT term, f FROM p WHERE slice = 'odd') b
               USING (term)),
         k AS (SELECT pa, pb, (pa + pb) / 2.0 AS m FROM j)
         SELECT count(*) AS vocab,
           round(sum((CASE WHEN pa > 0 THEN pa * ln(pa / m) ELSE 0 END
                    + CASE WHEN pb > 0 THEN pb * ln(pb / m) ELSE 0 END) / 2.0),
             6) AS js_divergence
         FROM k""",
    "q_mix_weights" ->
      """WITH c AS (SELECT lang, count(*) AS n FROM documents GROUP BY 1),
         t AS (SELECT sum(n)::DOUBLE AS total, count(*)::DOUBLE AS k FROM c)
         SELECT lang, n, round(n / total, 6) AS actual_share,
           round((1.0 / k) / (n / total), 6) AS weight
         FROM c, t ORDER BY lang""",
    // hash-based 80/10/10 split on the salted doc id — reproducible
    // across engines/runs, unlike rand()/randomSplit
    "q_split_assign" ->
      """WITH b AS (SELECT doc_id, source,
             ('0x' || substr(md5('split:' || doc_id), 1, 15))::BIGINT % 100
               AS bucket
           FROM documents)
         SELECT doc_id, source, bucket,
           CASE WHEN bucket < 80 THEN 'train'
                WHEN bucket < 90 THEN 'val' ELSE 'test' END AS split
         FROM b ORDER BY doc_id""",
    // α-temperature mixture: the q_l normalizer is an integer micro-unit
    // sum (order-independent), so every cell is cross-engine exact
    "q_temp_mix" ->
      """WITH c AS (SELECT lang, count(*) AS n FROM documents GROUP BY 1),
         t AS (SELECT CAST(sum(n) AS BIGINT) AS total FROM c),
         p AS (SELECT lang, n,
                 CAST(round(n::DOUBLE * 1000000.0 / total) AS BIGINT) AS plfx
               FROM c, t),
         q AS (SELECT lang, n, plfx,
                 CAST(round(pow(plfx::DOUBLE / 1000000.0, 0.3) * 1000000.0)
                   AS BIGINT) AS qfx
               FROM p),
         z AS (SELECT CAST(sum(qfx) AS BIGINT) AS sfx FROM q)
         SELECT lang, n, plfx::DOUBLE / 1000000.0 AS p,
           round(qfx::DOUBLE * 1000000.0 / sfx) / 1000000.0 AS w_alpha,
           CAST(round(qfx::DOUBLE * 1000 / sfx) AS BIGINT) AS exp_docs
         FROM q, z ORDER BY lang""",
    // per-IVF-cluster quality telemetry: documents bucket by their
    // embedding's nearest centroid (same 16 lowest-id centroids as
    // q_ivf_topk), then per-cluster rule-gate keep rates
    "q_topic_quality" ->
      s"""WITH $TOKS_CTE,
         $GOPHER_SIG_CTE,
         v AS (SELECT vec_id, embedding::DOUBLE[] AS ve FROM embeddings
               WHERE embedding IS NOT NULL),
         cent AS (SELECT vec_id AS cid, ve AS cv FROM v
                  ORDER BY vec_id LIMIT 16),
         ac AS (SELECT v.vec_id, cent.cid,
                  list_dot_product(v.ve, cent.cv) /
                    (sqrt(list_dot_product(v.ve, v.ve)) *
                     sqrt(list_dot_product(cent.cv, cent.cv))) AS cos
                FROM v CROSS JOIN cent),
         asg AS (SELECT vec_id, cid AS list_id FROM
                   (SELECT *, row_number() OVER (PARTITION BY vec_id
                      ORDER BY cos DESC, cid ASC) AS rn FROM ac)
                 WHERE rn = 1),
         dq AS (SELECT s.doc_id,
                  CASE WHEN $GOPHER_KEEP_EXPR THEN 1 ELSE 0 END AS keep,
                  d.n_chars
                FROM gsig s JOIN documents d USING (doc_id))
         SELECT a.list_id, count(*) AS n_docs,
           CAST(sum(q.keep) AS BIGINT) AS n_keep,
           round(avg(q.n_chars), 4) AS mean_chars,
           round(sum(q.keep)::DOUBLE / count(*), 6) AS keep_rate
         FROM asg a JOIN dq q ON q.doc_id = a.vec_id
         GROUP BY a.list_id ORDER BY a.list_id""",
    // the mixWeights plan EXECUTED: salted-hash keep decision against
    // the micro-unit uniform-target threshold — rand()-free, so the
    // sample is reproducible across engines and retries
    "q_balanced_sample" ->
      s"""WITH c AS (SELECT lang, count(*) AS n FROM documents GROUP BY 1),
         t AS (SELECT sum(n)::DOUBLE AS total, count(*)::DOUBLE AS k FROM c),
         w AS (SELECT lang,
                 least(1000000, CAST(round(
                   round((1.0 / k) / (n / total), 6) * 1000000.0)
                   AS BIGINT)) AS p_fx
               FROM c, t),
         b AS (SELECT d.doc_id, d.lang, w.p_fx,
                 ${H64.format("'bsample:' || d.doc_id")} % 1000000 AS bucket
               FROM documents d JOIN w USING (lang))
         SELECT doc_id, lang, bucket, p_fx
         FROM b WHERE bucket < p_fx ORDER BY doc_id""",
    // epoch manifest = q_temp_mix targets ⋈ q_pack_bins inventory
    "q_epoch_manifest" ->
      """WITH c AS (SELECT lang, count(*) AS n FROM documents GROUP BY 1),
         t AS (SELECT CAST(sum(n) AS BIGINT) AS total FROM c),
         p AS (SELECT lang, n,
                 CAST(round(pow(n::DOUBLE / total, 0.3) * 1000000.0) AS BIGINT)
                   AS qfx
               FROM c, t),
         z AS (SELECT CAST(sum(qfx) AS BIGINT) AS sfx FROM p),
         mix AS (SELECT lang, n, round(qfx::DOUBLE / sfx, 6) AS w_alpha
                 FROM p, z),
         tt AS (SELECT lang, doc_id,
                  len(regexp_extract_all(text,
                    '''(s|t|re|ve|m|ll|d)| ?[a-zA-Z]+| ?[0-9]+| ?[^a-zA-Z0-9 ]+| +',
                    0)) AS n_tok
                FROM documents),
         cb AS (SELECT *, coalesce(sum(n_tok) OVER (PARTITION BY lang
                  ORDER BY doc_id
                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cumb
                FROM tt),
         pb AS (SELECT lang, floor(cumb / 2048.0)::BIGINT AS bin,
                  CAST(sum(n_tok) AS BIGINT) AS bin_tokens
                FROM cb GROUP BY 1, 2),
         ag AS (SELECT lang, count(*) AS n_bins,
                  CAST(sum(bin_tokens) AS BIGINT) AS tokens_avail
                FROM pb GROUP BY lang)
         SELECT m.lang, m.n, m.w_alpha, a.n_bins, a.tokens_avail,
           CAST(round(m.w_alpha * 1000000.0) AS BIGINT) AS target_tokens,
           round(CAST(round(m.w_alpha * 1000000.0) AS BIGINT)::DOUBLE
             / a.tokens_avail, 6) AS oversample
         FROM mix m JOIN ag a USING (lang) ORDER BY lang""",
    "q_corpus_funnel" ->
      s"""WITH $TOKS_CTE,
         c AS (SELECT * FROM toks WHERE doc_id % 20 <> 0),
         gate AS (SELECT doc_id, text,
             (len(tk) >= 20 AND len(tk) <= 100000
              AND (CASE WHEN len(tk) > 0 THEN
                    list_sum(list_transform(tk, t -> len(t)))::DOUBLE / len(tk)
                   END) BETWEEN 2.0 AND 10.0
              AND coalesce((CASE WHEN len(tk) > 0 THEN
                    len(list_filter(tk, t -> regexp_matches(t, '[A-Za-z]')))::DOUBLE
                      / len(tk) END) >= 0.8, false)
              AND (CASE WHEN list_contains(tk, 'the') THEN 1 ELSE 0 END +
                   CASE WHEN list_contains(tk, 'a')   THEN 1 ELSE 0 END +
                   CASE WHEN list_contains(tk, 'of')  THEN 1 ELSE 0 END +
                   CASE WHEN list_contains(tk, 'and') THEN 1 ELSE 0 END +
                   CASE WHEN list_contains(tk, 'is')  THEN 1 ELSE 0 END) >= 2)
               AS g_keep,
             (CASE WHEN len(tk) > 0 THEN len(list_filter(tk,
                x -> x IN ('der','die','und','das','ist')))::DOUBLE / len(tk)
              ELSE 0 END) AS s_de,
             (CASE WHEN len(tk) > 0 THEN len(list_filter(tk,
                x -> x IN ('the','a','of','and','is')))::DOUBLE / len(tk)
              ELSE 0 END) AS s_en,
             (CASE WHEN len(tk) > 0 THEN len(list_filter(tk,
                x -> x IN ('el','la','de','que','y')))::DOUBLE / len(tk)
              ELSE 0 END) AS s_es,
             (CASE WHEN len(tk) > 0 THEN len(list_filter(tk,
                x -> x IN ('le','la','et','les','des')))::DOUBLE / len(tk)
              ELSE 0 END) AS s_fr,
             tk
           FROM c),
         lng AS (SELECT *, (NOT (s_de >= s_en AND s_de >= s_es AND s_de >= s_fr))
                   AND s_en >= s_de AND s_en >= s_es AND s_en >= s_fr AS g_en
                 FROM gate),
         rep AS (SELECT min(doc_id) AS keep_id,
                   ${H64.format("text")} AS h
                 FROM c GROUP BY 2),
         sh5 AS (SELECT doc_id, CASE WHEN len(tk) >= 5
                   THEN list_distinct([array_to_string(tk[i+1:i+5], ' ')
                                       for i in range(0, len(tk) - 4)])
                   ELSE [] END AS shs FROM toks),
         benchsh AS (SELECT DISTINCT unnest(shs) AS s FROM sh5
                     WHERE doc_id % 20 = 0),
         hits AS (SELECT e.doc_id, count(*) AS n_hits
                  FROM (SELECT doc_id, unnest(shs) AS s FROM sh5
                        WHERE doc_id % 20 <> 0) e
                  JOIN benchsh USING (s) GROUP BY 1),
         fin AS (SELECT l.doc_id, l.g_keep, l.g_en,
                    (l.doc_id = r.keep_id) AS g_uniq,
                    (coalesce(h.n_hits, 0) < 5) AS g_clean
                  FROM lng l
                  JOIN rep r ON ${H64.format("l.text")} = r.h
                  LEFT JOIN hits h ON l.doc_id = h.doc_id)
         SELECT count(*) AS n_total,
           count(*) FILTER (g_keep) AS n_gopher,
           count(*) FILTER (g_keep AND g_en) AS n_lang,
           count(*) FILTER (g_keep AND g_en AND g_uniq) AS n_unique,
           count(*) FILTER (g_keep AND g_en AND g_uniq AND g_clean) AS n_clean
         FROM fin""",
    "q_incr_dedup" -> INCR_DEDUP_SQL,
    // same semantics through the bucketed-state physical path — the
    // oracle is IDENTICAL by construction, so a divergence between the
    // shuffle-free probe and the plain incremental screen hash-fails
    "q_state_probe" -> INCR_DEDUP_SQL,
    "q_source_overlap" ->
      s"""WITH $TOKS_CTE,
         $SHING_CTE,
         sizes AS (SELECT doc_id, len(shs) AS sz FROM shing),
         ex AS (SELECT doc_id, unnest(shs) AS s FROM shing),
         pairs AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS inter
                   FROM ex a JOIN ex b ON a.s = b.s AND a.doc_id < b.doc_id
                   GROUP BY 1, 2),
         j AS (SELECT doc_a, doc_b,
                 inter::DOUBLE / (sa.sz + sb.sz - inter) AS jac
               FROM pairs JOIN sizes sa ON doc_a = sa.doc_id
                          JOIN sizes sb ON doc_b = sb.doc_id
               WHERE inter::DOUBLE / (sa.sz + sb.sz - inter) >= 0.1),
         lab AS (SELECT least(da.source, db.source) AS src_x,
                   greatest(da.source, db.source) AS src_y, jac
                 FROM j JOIN documents da ON j.doc_a = da.doc_id
                        JOIN documents db ON j.doc_b = db.doc_id)
         SELECT src_x, src_y, count(*) AS n_pairs,
           round(avg(jac), 6) AS mean_jaccard
         FROM lab GROUP BY 1, 2 ORDER BY 1, 2""",
    "q_pack_bins" ->
      """WITH t AS (SELECT lang, doc_id,
             len(regexp_extract_all(text,
               '''(s|t|re|ve|m|ll|d)| ?[a-zA-Z]+| ?[0-9]+| ?[^a-zA-Z0-9 ]+| +',
               0)) AS n_tok
           FROM documents),
         c AS (SELECT *, coalesce(sum(n_tok) OVER (PARTITION BY lang
                 ORDER BY doc_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cumb
               FROM t)
         SELECT lang, floor(cumb / 2048.0)::BIGINT AS bin,
           count(*) AS n_docs, CAST(sum(n_tok) AS BIGINT) AS bin_tokens,
           min(doc_id) AS first_doc, max(doc_id) AS last_doc
         FROM c GROUP BY 1, 2 ORDER BY lang, bin""",
    "q_pack_shards" ->
      """WITH t AS (SELECT lang, doc_id, doc_id % 4 AS shard,
             len(regexp_extract_all(text,
               '''(s|t|re|ve|m|ll|d)| ?[a-zA-Z]+| ?[0-9]+| ?[^a-zA-Z0-9 ]+| +',
               0)) AS n_tok
           FROM documents),
         c AS (SELECT *, coalesce(sum(n_tok) OVER (
                 PARTITION BY lang, shard ORDER BY doc_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cumb
               FROM t)
         SELECT lang, shard, floor(cumb / 2048.0)::BIGINT AS bin,
           count(*) AS n_docs, CAST(sum(n_tok) AS BIGINT) AS bin_tokens,
           min(doc_id) AS first_doc, max(doc_id) AS last_doc
         FROM c GROUP BY 1, 2, 3 ORDER BY lang, shard, bin""",
    // WebDataset tar shards: every column is recomputed analytically
    // from the text (USTAR size arithmetic; xor of content hashes),
    // while Spark reports them from the DECODED archive bytes
    "q_tar_shards" -> TAR_SHARDS_SQL,
    // the .tar.gz twin reports the INFLATED archive (closed-form USTAR
    // arithmetic), so it shares the plain twin's oracle verbatim
    "q_targz_shards" -> TAR_SHARDS_SQL,
    // ZIP extraction: content columns only (deflate size isn't
    // closed-form) — the CRC/central-directory walk is gated because
    // every value is computed from the DECODED members
    "q_zip_extract" ->
      """WITH e AS (SELECT doc_id, doc_id % 8 AS shard,
             octet_length(encode(text)) AS nb,
             ('0x' || substr(md5(text), 1, 15))::BIGINT AS h
           FROM documents)
         SELECT shard, count(*) AS n_entries,
           CAST(sum(nb) AS BIGINT) AS payload_bytes,
           CAST(max(nb) AS BIGINT) AS max_member_bytes,
           CAST(bit_xor(h) AS BIGINT) AS xor_h64,
           min(doc_id) AS first_doc, max(doc_id) AS last_doc
         FROM e GROUP BY shard ORDER BY shard""",
    "q_norm_outliers" ->
      """WITH e AS (SELECT vec_id, label,
             sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]))
               AS nrm
           FROM embeddings),
         st AS (SELECT label, quantile_cont(nrm, 0.01) AS p01,
                  quantile_cont(nrm, 0.99) AS p99
                FROM e GROUP BY 1)
         SELECT vec_id, label, round(nrm, 6) AS nrm,
           round(p01, 6) AS p01, round(p99, 6) AS p99,
           (nrm < p01 OR nrm > p99) AS outlier
         FROM e JOIN st USING (label) ORDER BY vec_id""",
    "q_sessionize" ->
      """WITH e AS (SELECT user_id, event_id, ts::TIMESTAMP AS ts, value
                    FROM events),
         m AS (SELECT *, CASE WHEN lag(ts) OVER w IS NULL
                 OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 7200000000
                 THEN 1 ELSE 0 END AS brk
               FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
         g AS (SELECT *, sum(brk) OVER (PARTITION BY user_id
                 ORDER BY ts, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_no
               FROM m)
         SELECT user_id, min(ts) AS session_start, max(ts) AS session_end,
           count(*) AS n_events, round(sum(value), 4) AS total_value
         FROM g GROUP BY user_id, session_no
         ORDER BY user_id, session_start""",
    // SCD2 history: run-length change detection on the tracked
    // attribute, validity interval = [run start, next run start)
    "q_scd2" ->
      """WITH e AS (SELECT user_id, event_id, ts::TIMESTAMP AS ts,
                      event_type AS attr FROM events),
         m AS (SELECT *, lag(attr) OVER w AS prev FROM e
               WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
         r AS (SELECT user_id, ts, event_id, attr FROM m
               WHERE prev IS NULL OR prev <> attr),
         v AS (SELECT user_id, attr, ts AS valid_from,
                 lead(ts) OVER w2 AS valid_to,
                 row_number() OVER w2 AS version
               FROM r WINDOW w2 AS (PARTITION BY user_id
                 ORDER BY ts, event_id))
         SELECT user_id, version, attr, valid_from, valid_to,
           (valid_to IS NULL) AS is_current
         FROM v ORDER BY user_id, version""",
    // dimension snapshot AS OF the corpus midpoint day: the interval
    // containing T, one version per key
    "q_scd2_asof" ->
      """WITH e AS (SELECT user_id, event_id, ts::TIMESTAMP AS ts,
                      event_type AS attr FROM events),
         m AS (SELECT *, lag(attr) OVER w AS prev FROM e
               WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
         r AS (SELECT user_id, ts, event_id, attr FROM m
               WHERE prev IS NULL OR prev <> attr),
         v AS (SELECT user_id, attr, ts AS valid_from,
                 lead(ts) OVER w2 AS valid_to,
                 row_number() OVER w2 AS version
               FROM r WINDOW w2 AS (PARTITION BY user_id
                 ORDER BY ts, event_id)),
         t AS (SELECT (CAST(min(ts::TIMESTAMP) AS DATE)
                 + CAST(date_diff('day', CAST(min(ts::TIMESTAMP) AS DATE),
                     CAST(max(ts::TIMESTAMP) AS DATE)) // 2
                   AS INTEGER))::TIMESTAMP
                 AS as_of FROM events)
         SELECT user_id, version, attr, valid_from, t.as_of
         FROM v, t
         WHERE valid_from <= t.as_of
           AND (valid_to IS NULL OR valid_to > t.as_of)
         ORDER BY user_id""",
    // incremental-join law: the oracle computes the DIRECT join of the
    // full inputs; the Spark side unions the four base/delta joins —
    // hash match proves J(A∪ΔA, B∪ΔB) decomposes
    "q_incr_join" ->
      """SELECT n.n_name AS nation, count(*) AS n_items,
           sum(CAST(round(l.l_extendedprice * (1 - l.l_discount) * 100)
             AS BIGINT))::BIGINT AS rev_cents
         FROM orders o
         JOIN lineitem l ON o.o_orderkey = l.l_orderkey
         JOIN customer c ON o.o_custkey = c.c_custkey
         JOIN nation n ON c.c_nationkey = n.n_nationkey
         GROUP BY 1 ORDER BY 1""",
    // salted-join neutrality: the oracle joins UNSALTED — hash match
    // proves the salt fan-out/replication changes nothing but the
    // partitioning
    "q_salted_join" ->
      """WITH ev AS (SELECT event_id, user_id % 4 AS hot_key,
                       CAST(round(value * 1e6) AS BIGINT) AS vmicro
                     FROM events),
         dim AS (SELECT hot_key, count(*) AS key_rows,
                   sum(vmicro)::BIGINT AS key_sum
                 FROM ev GROUP BY 1)
         SELECT hot_key, count(*) AS n, sum(vmicro)::BIGINT AS sum_vmicro,
           key_rows, key_sum
         FROM ev JOIN dim USING (hot_key)
         GROUP BY hot_key, key_rows, key_sum ORDER BY hot_key""",
    // session threads: same gap-break CTEs as q_sessionize, then the
    // ordered event-type sequence hashed + a corpus-wide pattern count
    "q_session_threads" ->
      s"""WITH e AS (SELECT user_id, event_id, ts::TIMESTAMP AS ts, event_type
                    FROM events),
         m AS (SELECT *, CASE WHEN lag(ts) OVER w IS NULL
                 OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 7200000000
                 THEN 1 ELSE 0 END AS brk
               FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
         g AS (SELECT *, sum(brk) OVER (PARTITION BY user_id
                 ORDER BY ts, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)::BIGINT
                 AS session_no
               FROM m),
         th AS (SELECT user_id, session_no, min(ts) AS session_start,
                  count(*) AS n_events,
                  ${H64.format(
                    "string_agg(event_type, ' ' ORDER BY ts, event_id, event_type)")}
                    AS seq_hash
                FROM g GROUP BY user_id, session_no),
         pc AS (SELECT *, count(*) OVER (PARTITION BY seq_hash)
                  AS pattern_count FROM th)
         SELECT user_id, session_no, session_start, n_events, seq_hash,
           pattern_count
         FROM pc ORDER BY user_id, session_no""",
    "q_funnel" ->
      """WITH e AS (SELECT user_id, event_type, ts::TIMESTAMP AS ts FROM events),
         s1 AS (SELECT *, min(CASE WHEN event_type = 'view' THEN ts END)
                  OVER (PARTITION BY user_id) AS v_ts FROM e),
         s2 AS (SELECT *, min(CASE WHEN event_type = 'click' AND ts >= v_ts
                  THEN ts END) OVER (PARTITION BY user_id) AS c_ts FROM s1),
         s3 AS (SELECT *, min(CASE WHEN event_type = 'purchase' AND ts >= c_ts
                  THEN ts END) OVER (PARTITION BY user_id) AS p_ts FROM s2)
         SELECT user_id, min(v_ts) AS view_ts, min(c_ts) AS click_ts,
           min(p_ts) AS purchase_ts,
           (min(p_ts) IS NOT NULL) AS completed
         FROM s3 GROUP BY user_id ORDER BY user_id""",
    "q_retention" ->
      """WITH e AS (SELECT user_id,
             date_trunc('week', ts::TIMESTAMP)::DATE AS week FROM events),
         u AS (SELECT user_id, week,
                 min(week) OVER (PARTITION BY user_id) AS cohort FROM e),
         cells AS (SELECT cohort, (week - cohort) // 7 AS wk_offset,
                     count(DISTINCT user_id) AS n_active
                   FROM u GROUP BY 1, 2),
         base AS (SELECT cohort, n_active AS cohort_size
                  FROM cells WHERE wk_offset = 0)
         SELECT cohort, wk_offset, n_active, cohort_size,
           round(n_active / cohort_size, 6) AS retention
         FROM cells JOIN base USING (cohort)
         ORDER BY cohort, wk_offset""",
    // cohort LTV: purchase revenue per (cohort, week offset) in micro
    // units + the cumulative lifetime curve
    "q_cohort_ltv" ->
      """WITH e AS (SELECT user_id, event_type, value,
             CAST(date_trunc('week', ts) AS DATE) AS week FROM events),
         c AS (SELECT user_id, event_type, value, week,
             min(week) OVER (PARTITION BY user_id) AS cohort FROM e),
         r AS (SELECT cohort, CAST((week - cohort) // 7 AS BIGINT)
                 AS wk_offset,
                 CAST(round(value * 1000000) AS BIGINT) AS micro
               FROM c WHERE event_type = 'purchase' AND value IS NOT NULL),
         g AS (SELECT cohort, wk_offset, CAST(sum(micro) AS BIGINT)
                 AS rev_micro, count(*) AS n_purchases
               FROM r GROUP BY 1, 2)
         SELECT cohort, wk_offset, rev_micro, n_purchases,
           CAST(sum(rev_micro) OVER (PARTITION BY cohort ORDER BY wk_offset)
             AS BIGINT) AS cum_rev_micro
         FROM g ORDER BY cohort, wk_offset""",
    // first-order Markov transitions on per-user timelines; integer
    // micro row-normalized probabilities
    "q_transitions" ->
      """WITH e AS (SELECT user_id, event_id, ts, event_type,
             lead(event_type, 1) OVER (PARTITION BY user_id
               ORDER BY ts, event_id) AS next_type
           FROM events),
         t AS (SELECT event_type AS src, next_type AS dst,
                 CAST(count(*) AS BIGINT) AS cnt
               FROM e WHERE next_type IS NOT NULL GROUP BY 1, 2),
         o AS (SELECT src, CAST(sum(cnt) AS BIGINT) AS out_cnt
               FROM t GROUP BY 1)
         SELECT t.src, t.dst, t.cnt, o.out_cnt,
           CAST(t.cnt * 1000000 // o.out_cnt AS BIGINT) AS prob_micro
         FROM t JOIN o USING (src) ORDER BY t.src, t.dst""",
    "q_value_hist" ->
      """SELECT event_type, floor(value / 50.0)::BIGINT AS bin,
           count(*) AS n, round(min(value), 4) AS v_min,
           round(max(value), 4) AS v_max
         FROM events WHERE value IS NOT NULL
         GROUP BY 1, 2 ORDER BY event_type, bin""",
    "q_interval_join" ->
      """WITH e AS (SELECT event_id, user_id, event_type, value,
                      ts::TIMESTAMP AS ts FROM events)
         SELECT p.event_id, p.user_id, p.ts,
           count(c.value) AS n_clicks,
           round(coalesce(sum(c.value), 0), 4) AS click_value
         FROM e p LEFT JOIN e c
           ON c.user_id = p.user_id AND c.event_type = 'click'
           AND epoch_us(c.ts) >= epoch_us(p.ts) - 3600000000
           AND epoch_us(c.ts) < epoch_us(p.ts)
         WHERE p.event_type = 'purchase'
         GROUP BY 1, 2, 3 ORDER BY 1""",
    "q_minhash_sig" ->
      s"""WITH $TOKS_CTE,
         $SHING_CTE,
         $SIG_CTE
         SELECT doc, i, sigv FROM sig ORDER BY doc, i""",
    "q_lsh_pairs" ->
      s"""WITH $TOKS_CTE,
         $SHING_CTE,
         $SIG_CTE,
         bands AS (SELECT doc, i // 2 AS band,
                     ('0x' || substr(md5(string_agg(sigv, ',' ORDER BY i)), 1, 15))::BIGINT AS bh
                   FROM sig GROUP BY 1, 2),
         cand AS (SELECT DISTINCT a.doc AS doc_a, b.doc AS doc_b
                  FROM bands a JOIN bands b
                    ON a.band = b.band AND a.bh = b.bh AND a.doc < b.doc)
         SELECT doc_a, doc_b,
           round(count(*) FILTER (x.sigv = y.sigv) / 32.0, 6) AS est_jaccard
         FROM cand JOIN sig x ON x.doc = doc_a
                   JOIN sig y ON y.doc = doc_b AND x.i = y.i
         GROUP BY 1, 2 ORDER BY 1, 2""",
    // Capped banded candidates: the oracle replays the per-bucket cap
    // with the row_number spelling of the (h64(doc), doc)-least set —
    // the Spark side computes the SAME set through the rank-free
    // bottomk aggregate — plus candidate-mass and fixed-panel-recall
    // legs, so boundedness AND coverage are hash-gated data.
    "q_lsh_pairs_capped" ->
      s"""WITH $TOKS_CTE,
         $SHING_CTE,
         $SIG_CTE,
         bands AS (SELECT doc, i // 2 AS band,
                     ('0x' || substr(md5(string_agg(sigv, ',' ORDER BY i)), 1, 15))::BIGINT AS bh
                   FROM sig GROUP BY 1, 2),
         rnc AS (SELECT doc, band, bh,
                   row_number() OVER (PARTITION BY band, bh
                     ORDER BY ${H64.format("CAST(doc AS VARCHAR)")}, doc) AS rn
                 FROM bands),
         kept AS (SELECT doc, band, bh FROM rnc WHERE rn <= 8),
         cand AS (SELECT DISTINCT a.doc AS doc_a, b.doc AS doc_b
                  FROM kept a JOIN kept b
                    ON a.band = b.band AND a.bh = b.bh AND a.doc < b.doc),
         pcand AS (SELECT DISTINCT a.doc AS doc_a, b.doc AS doc_b
                   FROM bands a JOIN bands b
                     ON a.band = b.band AND a.bh = b.bh AND a.doc < b.doc
                   WHERE a.doc < 500 AND b.doc < 500),
         stats AS (SELECT (SELECT count(*) FROM cand)::BIGINT AS cand_pairs,
                     (SELECT count(DISTINCT doc) FROM sig)::BIGINT AS n_all,
                     (SELECT count(*) FROM pcand JOIN cand USING (doc_a, doc_b))::BIGINT AS recall_num,
                     (SELECT count(*) FROM pcand)::BIGINT AS recall_den)
         SELECT c.doc_a, c.doc_b,
           round(count(*) FILTER (x.sigv = y.sigv) / 32.0, 6) AS est_jaccard,
           s.cand_pairs, (s.n_all * (s.n_all - 1) // 2)::BIGINT AS all_pairs,
           s.recall_num, s.recall_den
         FROM cand c JOIN sig x ON x.doc = c.doc_a
                     JOIN sig y ON y.doc = c.doc_b AND x.i = y.i, stats s
         GROUP BY 1, 2, s.cand_pairs, s.n_all, s.recall_num, s.recall_den
         ORDER BY 1, 2""",
    // Estimator calibration: q_lsh_pairs' candidates + estimate, next
    // to the exact shingle-set Jaccard (left join keeps pure band-hash
    // collisions at jaccard 0)
    "q_minhash_err" ->
      s"""WITH $TOKS_CTE,
         $SHING_CTE,
         $SIG_CTE,
         bands AS (SELECT doc, i // 2 AS band,
                     ('0x' || substr(md5(string_agg(sigv, ',' ORDER BY i)), 1, 15))::BIGINT AS bh
                   FROM sig GROUP BY 1, 2),
         cand AS (SELECT DISTINCT a.doc AS doc_a, b.doc AS doc_b
                  FROM bands a JOIN bands b
                    ON a.band = b.band AND a.bh = b.bh AND a.doc < b.doc),
         est AS (SELECT doc_a, doc_b,
                   count(*) FILTER (x.sigv = y.sigv) / 32.0 AS est
                 FROM cand JOIN sig x ON x.doc = doc_a
                           JOIN sig y ON y.doc = doc_b AND x.i = y.i
                 GROUP BY 1, 2),
         ex AS (SELECT doc_id, unnest(shs) AS s FROM shing),
         sizes AS (SELECT doc_id, len(shs) AS sz FROM shing),
         inter AS (SELECT a.doc_id AS da, b.doc_id AS db,
                     count(*) AS inter
                   FROM ex a JOIN ex b ON a.s = b.s AND a.doc_id < b.doc_id
                   GROUP BY 1, 2),
         j AS (SELECT e.doc_a, e.doc_b, e.est,
                 coalesce(i.inter, 0)::DOUBLE
                   / (sa.sz + sb.sz - coalesce(i.inter, 0)) AS jac
               FROM est e
               LEFT JOIN inter i ON i.da = e.doc_a AND i.db = e.doc_b
               JOIN sizes sa ON e.doc_a = sa.doc_id
               JOIN sizes sb ON e.doc_b = sb.doc_id)
         SELECT doc_a, doc_b, round(est, 6) AS est_jaccard,
           round(jac, 6) AS jaccard, round(abs(est - jac), 6) AS abs_err
         FROM j ORDER BY doc_a, doc_b""",
    // Cross-source near-dup mining: q_jaccard_pairs' pair set with
    // sources attached, same-source pairs dropped
    "q_para_pairs" ->
      s"""WITH $TOKS_CTE,
         $SHING_CTE,
         sizes AS (SELECT doc_id, len(shs) AS sz FROM shing),
         ex AS (SELECT doc_id, unnest(shs) AS s FROM shing),
         pairs AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                     count(*) AS inter
                   FROM ex a JOIN ex b ON a.s = b.s AND a.doc_id < b.doc_id
                   GROUP BY 1, 2),
         j AS (SELECT doc_a, doc_b,
                 inter::DOUBLE / (sa.sz + sb.sz - inter) AS jac
               FROM pairs JOIN sizes sa ON doc_a = sa.doc_id
                          JOIN sizes sb ON doc_b = sb.doc_id)
         SELECT doc_a, doc_b, da.source AS source_a, db.source AS source_b,
           round(jac, 6) AS jaccard
         FROM j JOIN documents da ON da.doc_id = doc_a
                JOIN documents db ON db.doc_id = doc_b
         WHERE jac >= 0.1 AND da.source <> db.source
         ORDER BY doc_a, doc_b""",
    // Cluster-balanced subsample: the q_topic_quality IVF assignment +
    // salted-hash quota rank per cluster (no rand())
    "q_cluster_sample" ->
      s"""WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS ve FROM embeddings
               WHERE embedding IS NOT NULL),
         cent AS (SELECT vec_id AS cid, ve AS cv FROM v
                  ORDER BY vec_id LIMIT 16),
         ac AS (SELECT v.vec_id, cent.cid,
                  list_dot_product(v.ve, cent.cv) /
                    (sqrt(list_dot_product(v.ve, v.ve)) *
                     sqrt(list_dot_product(cent.cv, cent.cv))) AS cos
                FROM v CROSS JOIN cent),
         asg AS (SELECT vec_id, cid AS list_id FROM
                   (SELECT *, row_number() OVER (PARTITION BY vec_id
                      ORDER BY cos DESC, cid ASC) AS rn FROM ac)
                 WHERE rn = 1),
         h AS (SELECT vec_id, list_id,
                 ${H64.format("'csample:' || vec_id")} AS hk FROM asg),
         r AS (SELECT *, row_number() OVER (PARTITION BY list_id
                 ORDER BY hk, vec_id) AS rk FROM h)
         SELECT list_id, rk, vec_id FROM r WHERE rk <= 20
         ORDER BY list_id, rk""",
    // Exponential-keys weighted sample: u from the salted hash,
    // L = round(-ln(u)*1e6) on the finite u-grid (exhaustively
    // boundary-safe — SamplingProps), then pure INTEGER division by
    // the weight so no libm ulp can flip the key cross-engine
    "q_weighted_sample" ->
      s"""WITH $TOKS_CTE,
         w AS (SELECT doc_id, CAST(len(tk) AS BIGINT) AS n_tok
               FROM toks WHERE len(tk) > 0),
         kx AS (SELECT doc_id, n_tok,
                  (CAST(round(
                    -ln(((${H64.format("'wsample:' || doc_id")} % 1000000) + 1)
                      / 1000000.0) * 1000000.0) AS BIGINT)
                   * 1000000000) // n_tok AS key_fx
                FROM w),
         r AS (SELECT *, row_number() OVER (ORDER BY key_fx, doc_id) AS rk
               FROM kx)
         SELECT rk, doc_id, n_tok, key_fx FROM r WHERE rk <= 50
         ORDER BY rk""",
    // Skew telemetry: per candidate-generation key space, bucket-count
    // stats and the exact pair fan-out Σ c·(c−1)/2 the bucket
    // self-join would emit
    "q_skew_report" ->
      s"""WITH $TOKS_CTE,
         $SHING_CTE,
         $SIG_CTE,
         exsh AS (SELECT doc_id, unnest(shs) AS s FROM shing),
         shc AS (SELECT count(*) AS c FROM exsh GROUP BY s),
         bands AS (SELECT doc, i // 2 AS band,
                     ('0x' || substr(md5(string_agg(sigv, ',' ORDER BY i)), 1, 15))::BIGINT AS bh
                   FROM sig GROUP BY 1, 2),
         bc AS (SELECT count(*) AS c FROM bands GROUP BY band, bh),
         tt AS (SELECT doc_id, unnest(tk) AS t FROM toks),
         th AS (SELECT doc_id, ${H64.format("t")} AS h FROM tt),
         bits AS (SELECT doc_id, j,
                    sum(CASE WHEN (h >> j) & 1 = 1 THEN 1 ELSE -1 END) AS sc
                  FROM th, range(48) AS r(j) GROUP BY 1, 2),
         simh AS (SELECT doc_id AS doc,
                    sum(CASE WHEN sc > 0 THEN 1::BIGINT << j ELSE 0 END) AS sh48
                  FROM bits GROUP BY 1),
         segs AS (SELECT doc, sg.j AS seg, (sh48 >> (sg.j * 9)) & 511 AS segbits
                  FROM simh, range(5) AS sg(j)),
         sgc AS (SELECT count(*) AS c FROM segs GROUP BY seg, segbits),
         stats AS (
           SELECT 'band' AS domain, CAST(count(*) AS BIGINT) AS n_keys,
             CAST(sum(c) AS BIGINT) AS n_rows,
             CAST(max(c) AS BIGINT) AS max_bucket,
             round(sum(c)::DOUBLE / count(*), 6) AS mean_bucket,
             CAST(sum(c * (c - 1) // 2) AS BIGINT) AS pair_fanout
           FROM bc
           UNION ALL
           SELECT 'shingle', CAST(count(*) AS BIGINT),
             CAST(sum(c) AS BIGINT), CAST(max(c) AS BIGINT),
             round(sum(c)::DOUBLE / count(*), 6),
             CAST(sum(c * (c - 1) // 2) AS BIGINT)
           FROM shc
           UNION ALL
           SELECT 'simseg', CAST(count(*) AS BIGINT),
             CAST(sum(c) AS BIGINT), CAST(max(c) AS BIGINT),
             round(sum(c)::DOUBLE / count(*), 6),
             CAST(sum(c * (c - 1) // 2) AS BIGINT)
           FROM sgc)
         SELECT * FROM stats ORDER BY domain""",
    // LSH candidates re-confirmed by Levenshtein on a 256-char prefix;
    // both engines' levenshtein are unit-cost char DPs, so the distance
    // and the normalized similarity agree exactly
    "q_edit_neardup" ->
      s"""WITH $TOKS_CTE,
         $SHING_CTE,
         $SIG_CTE,
         bands AS (SELECT doc, i // 2 AS band,
                     ('0x' || substr(md5(string_agg(sigv, ',' ORDER BY i)), 1, 15))::BIGINT AS bh
                   FROM sig GROUP BY 1, 2),
         cand AS (SELECT DISTINCT a.doc AS doc_a, b.doc AS doc_b
                  FROM bands a JOIN bands b
                    ON a.band = b.band AND a.bh = b.bh AND a.doc < b.doc),
         pfx AS (SELECT doc_id, substr(text, 1, 256) AS p FROM documents),
         ed AS (SELECT doc_a, doc_b, levenshtein(a.p, b.p) AS edit_dist,
                  1.0 - levenshtein(a.p, b.p)::DOUBLE
                      / greatest(len(a.p), len(b.p)) AS sim
                FROM cand JOIN pfx a ON a.doc_id = doc_a
                          JOIN pfx b ON b.doc_id = doc_b)
         SELECT doc_a, doc_b, edit_dist, round(sim, 6) AS sim
         FROM ed WHERE sim >= 0.8 ORDER BY doc_a, doc_b""",
    // overlapping 64-token windows, stride 48, last window truncated;
    // chunk identity = h64 of the space-joined window
    "q_chunk_docs" ->
      s"""WITH $TOKS_CTE,
         st AS (SELECT doc_id, tk,
                  unnest(range((len(tk) - 1) // 48 + 1)) AS chunk_no
                FROM toks WHERE len(tk) > 0),
         ch AS (SELECT doc_id, chunk_no,
                  list_slice(tk, chunk_no * 48 + 1, chunk_no * 48 + 64) AS chunk
                FROM st)
         SELECT doc_id, chunk_no, len(chunk) AS n_tok_chunk,
           ('0x' || substr(md5(array_to_string(chunk, ' ')), 1, 15))::BIGINT
             AS chunk_hash
         FROM ch ORDER BY doc_id, chunk_no""",
    "q_simhash" ->
      s"""WITH $TOKS_CTE,
         tt AS (SELECT doc_id, unnest(tk) AS t FROM toks),
         th AS (SELECT doc_id, ${H64.format("t")} AS h FROM tt),
         bits AS (SELECT doc_id, j,
                    sum(CASE WHEN (h >> j) & 1 = 1 THEN 1 ELSE -1 END) AS sc
                  FROM th, range(48) AS r(j) GROUP BY 1, 2)
         SELECT doc_id AS doc,
           CAST(sum(CASE WHEN sc > 0 THEN 1::BIGINT << j ELSE 0 END)
                AS BIGINT) AS simhash
         FROM bits GROUP BY 1 ORDER BY 1""",
    "q_simhash_pairs" ->
      s"""WITH $TOKS_CTE,
         tt AS (SELECT doc_id, unnest(tk) AS t FROM toks),
         th AS (SELECT doc_id, ${H64.format("t")} AS h FROM tt),
         bits AS (SELECT doc_id, j,
                    sum(CASE WHEN (h >> j) & 1 = 1 THEN 1 ELSE -1 END) AS sc
                  FROM th, range(48) AS r(j) GROUP BY 1, 2),
         simh AS (SELECT doc_id AS doc,
                    sum(CASE WHEN sc > 0 THEN 1::BIGINT << j ELSE 0 END) AS sh48
                  FROM bits GROUP BY 1)
         SELECT a.doc AS doc_a, b.doc AS doc_b,
           bit_count(xor(a.sh48, b.sh48)) AS hamming
         FROM simh a JOIN simh b ON a.doc < b.doc
         WHERE bit_count(xor(a.sh48, b.sh48)) <= 4
         ORDER BY 1, 2""",
    // Content-defined chunking: a chunk closes after every token whose
    // h64 ≡ 0 (mod 8); the cumulative boundary count BEFORE a position
    // is its chunk group
    "q_cdc_dedup" ->
      s"""WITH $TOKS_CTE,
         tt AS (SELECT doc_id, unnest(range(len(tk))) AS pos,
                  unnest(tk) AS tok FROM toks),
         bf AS (SELECT doc_id, pos, tok,
                  CASE WHEN ${H64.format("tok")} % 8 = 0 THEN 1 ELSE 0 END AS b
                FROM tt),
         gp AS (SELECT doc_id, pos, tok,
                  coalesce(sum(b) OVER (PARTITION BY doc_id ORDER BY pos
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS grp
                FROM bf),
         ch AS (SELECT doc_id, grp,
                  ${H64.format("string_agg(tok, ' ' ORDER BY pos)")} AS h
                FROM gp GROUP BY doc_id, grp),
         oc AS (SELECT h, count(*) AS cnt FROM ch GROUP BY h),
         st AS (SELECT c.doc_id, count(*) AS n_chunks,
                  CAST(sum(CASE WHEN o.cnt > 1 THEN 1 ELSE 0 END) AS BIGINT)
                    AS n_dup
                FROM ch c JOIN oc o USING (h) GROUP BY c.doc_id)
         SELECT doc_id, n_chunks, n_dup,
           round(n_dup::DOUBLE / n_chunks, 6) AS dup_frac
         FROM st ORDER BY doc_id""",
    "q_hard_negatives" ->
      """WITH v AS (SELECT vec_id, label, embedding::DOUBLE[] AS ve
           FROM embeddings WHERE embedding IS NOT NULL),
         sc AS (SELECT q.vec_id AS query_id, q.label AS q_label,
                  c.vec_id AS cand_id, c.label AS c_label,
                  list_dot_product(q.ve, c.ve) /
                    (sqrt(list_dot_product(q.ve, q.ve)) *
                     sqrt(list_dot_product(c.ve, c.ve))) AS cos
                FROM v q JOIN v c
                  ON q.vec_id % 5 = 0 AND q.label <> c.label),
         rk AS (SELECT *, row_number() OVER (PARTITION BY query_id
                  ORDER BY cos DESC, cand_id ASC) AS rnk FROM sc)
         SELECT query_id, q_label, cand_id, c_label,
           round(cos, 6) AS cos, rnk
         FROM rk WHERE rnk <= 3 ORDER BY query_id, rnk""",
    // LSH-gated hard negatives: q_ann_multi's SRP buckets replayed
    // exactly but over 8 tables (hard negatives live at moderate
    // cosine, where per-table collision is rare), label inequality as
    // a post-filter — the scale twin of q_hard_negatives' exact BNLJ
    "q_hard_negatives_lsh" ->
      """WITH v AS (SELECT vec_id, label, embedding::DOUBLE[] AS ve
           FROM embeddings WHERE embedding IS NOT NULL),
         ex AS (SELECT vec_id, t, p, d, ve[d + 1] AS x
                FROM v, range(16) AS rt(t), range(6) AS rp(p), range(64) AS rd(d)),
         pw AS (SELECT vec_id, t, p,
                  sum(CAST(round(x * 1000000) AS BIGINT) *
                      ((('0x' || substr(md5((t * 6 + p) || ',' || d), 1, 15))::BIGINT
                        % 2000001) - 1000000)) AS proj
                FROM ex GROUP BY 1, 2, 3),
         bk AS (SELECT vec_id, t, sum(CASE WHEN proj > 0 THEN 1::BIGINT << p
                                           ELSE 0 END) AS bucket
                FROM pw GROUP BY 1, 2),
         cand AS (SELECT DISTINCT q.vec_id AS query_id, c.vec_id AS cand_id
                  FROM bk q JOIN bk c ON q.t = c.t AND q.bucket = c.bucket
                    AND q.vec_id % 5 = 0),
         sc AS (SELECT cand.query_id, q.label AS q_label,
                  cand.cand_id, c.label AS c_label,
                  list_dot_product(q.ve, c.ve) /
                    (sqrt(list_dot_product(q.ve, q.ve)) *
                     sqrt(list_dot_product(c.ve, c.ve))) AS cos
                FROM cand JOIN v q ON q.vec_id = cand.query_id
                          JOIN v c ON c.vec_id = cand.cand_id
                WHERE q.label <> c.label),
         rk AS (SELECT *, row_number() OVER (PARTITION BY query_id
                  ORDER BY cos DESC, cand_id ASC) AS rnk FROM sc)
         SELECT query_id, q_label, cand_id, c_label,
           round(cos, 6) AS cos, rnk
         FROM rk WHERE rnk <= 3 ORDER BY query_id, rnk""",
    // bounded mining twin: the oracle replays the per-(table, bucket)
    // 64-member deterministic sample (h64 order) before the candidate
    // join — the q×c bucket fan-out is linear in duplication where the
    // uncapped twin measured ×97
    "q_hard_negatives_capped" ->
      s"""WITH v AS (SELECT vec_id, label, embedding::DOUBLE[] AS ve
           FROM embeddings WHERE embedding IS NOT NULL),
         ex AS (SELECT vec_id, t, p, d, ve[d + 1] AS x
                FROM v, range(16) AS rt(t), range(6) AS rp(p), range(64) AS rd(d)),
         pw AS (SELECT vec_id, t, p,
                  sum(CAST(round(x * 1000000) AS BIGINT) *
                      ((('0x' || substr(md5((t * 6 + p) || ',' || d), 1, 15))::BIGINT
                        % 2000001) - 1000000)) AS proj
                FROM ex GROUP BY 1, 2, 3),
         bk AS (SELECT vec_id, t, sum(CASE WHEN proj > 0 THEN 1::BIGINT << p
                                           ELSE 0 END) AS bucket
                FROM pw GROUP BY 1, 2),
         hsh AS (SELECT vec_id, t, bucket,
                   row_number() OVER (PARTITION BY t, bucket
                     ORDER BY ${H64.format("CAST(vec_id AS VARCHAR)")},
                       vec_id) AS rn
                 FROM bk),
         ckeep AS (SELECT vec_id, t, bucket FROM hsh WHERE rn <= 64),
         cand AS (SELECT DISTINCT q.vec_id AS query_id, c.vec_id AS cand_id
                  FROM bk q JOIN ckeep c ON q.t = c.t AND q.bucket = c.bucket
                    AND q.vec_id % 5 = 0),
         sc AS (SELECT cand.query_id, q.label AS q_label,
                  cand.cand_id, c.label AS c_label,
                  list_dot_product(q.ve, c.ve) /
                    (sqrt(list_dot_product(q.ve, q.ve)) *
                     sqrt(list_dot_product(c.ve, c.ve))) AS cos
                FROM cand JOIN v q ON q.vec_id = cand.query_id
                          JOIN v c ON c.vec_id = cand.cand_id
                WHERE q.label <> c.label),
         rk AS (SELECT *, row_number() OVER (PARTITION BY query_id
                  ORDER BY cos DESC, cand_id ASC) AS rnk FROM sc)
         SELECT query_id, q_label, cand_id, c_label,
           round(cos, 6) AS cos, rnk
         FROM rk WHERE rnk <= 3 ORDER BY query_id, rnk""",
    "q_cosine_topk" ->
      """WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS ve FROM embeddings),
         sc AS (SELECT q.vec_id AS query_id, c.vec_id AS cand_id,
                  list_dot_product(q.ve, c.ve) /
                    (sqrt(list_dot_product(q.ve, q.ve)) *
                     sqrt(list_dot_product(c.ve, c.ve))) AS cos
                FROM v q JOIN v c ON q.vec_id < 10 AND q.vec_id <> c.vec_id),
         rk AS (SELECT *, row_number() OVER (PARTITION BY query_id
                  ORDER BY cos DESC, cand_id ASC) AS rnk FROM sc)
         SELECT query_id, cand_id, round(cos, 6) AS cos, rnk
         FROM rk WHERE rnk <= 5 ORDER BY query_id, rnk""",
    // Int8 scalar quantization: per-dim [min,max] → code = round(
    // (x-mn)/span*255)-128 as TINYINT. Deterministic arithmetic, so
    // the encode AND the dequantized top-k both hash-match exactly.
    "q_sq8_encode" ->
      """WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS ve FROM embeddings),
         ex AS (SELECT vec_id, d, ve[d + 1] AS x FROM v, range(64) AS rd(d)),
         st AS (SELECT d, min(x) AS mn, max(x) AS mx FROM ex GROUP BY d)
         SELECT vec_id, d AS dim,
           CASE WHEN mx = mn THEN CAST(-128 AS TINYINT)
                ELSE CAST(round((x - mn) / (mx - mn) * 255) - 128 AS TINYINT)
           END AS code
         FROM ex JOIN st USING (d) WHERE vec_id < 50 ORDER BY vec_id, dim""",
    "q_sq8_topk" ->
      """WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS ve FROM embeddings),
         ex AS (SELECT vec_id, d, ve[d + 1] AS x FROM v, range(64) AS rd(d)),
         st AS (SELECT d, min(x) AS mn, max(x) AS mx FROM ex GROUP BY d),
         cd AS (SELECT vec_id, d, mn, mx,
                  CASE WHEN mx = mn THEN -128
                       ELSE CAST(round((x - mn) / (mx - mn) * 255) - 128
                         AS BIGINT) END AS code
                FROM ex JOIN st USING (d)),
         dq AS (SELECT vec_id,
                  list(mn + (code + 128) / 255.0 * (mx - mn) ORDER BY d) AS dv
                FROM cd GROUP BY vec_id),
         sc AS (SELECT q.vec_id AS query_id, c.vec_id AS cand_id,
                  list_dot_product(q.dv, c.dv) /
                    (sqrt(list_dot_product(q.dv, q.dv)) *
                     sqrt(list_dot_product(c.dv, c.dv))) AS cos
                FROM dq q JOIN dq c ON q.vec_id < 10 AND q.vec_id <> c.vec_id),
         rk AS (SELECT *, row_number() OVER (PARTITION BY query_id
                  ORDER BY cos DESC, cand_id ASC) AS rnk FROM sc)
         SELECT query_id, cand_id, round(cos, 6) AS cos, rnk
         FROM rk WHERE rnk <= 5 ORDER BY query_id, rnk""",
    "q_cosine_neardup" ->
      """WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS ve FROM embeddings),
         p AS (SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
                 list_dot_product(a.ve, b.ve) /
                   (sqrt(list_dot_product(a.ve, a.ve)) *
                    sqrt(list_dot_product(b.ve, b.ve))) AS cos
               FROM v a JOIN v b ON a.vec_id < b.vec_id)
         SELECT vec_a, vec_b, round(cos, 6) AS cos
         FROM p WHERE cos >= 0.4 ORDER BY vec_a, vec_b""",
    // mutual kNN graph: per-node cosine top-5 (ties by id), edge kept
    // only when BOTH endpoints rank each other
    "q_knn_graph" ->
      """WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS ve FROM embeddings),
         p AS (SELECT a.vec_id AS va, b.vec_id AS vb,
                 list_dot_product(a.ve, b.ve) /
                   (sqrt(list_dot_product(a.ve, a.ve)) *
                    sqrt(list_dot_product(b.ve, b.ve))) AS cos
               FROM v a JOIN v b ON a.vec_id < b.vec_id),
         dir AS (SELECT va AS src, vb AS dst, cos FROM p
                 UNION ALL SELECT vb, va, cos FROM p),
         top AS (SELECT src, dst, cos, row_number() OVER
                   (PARTITION BY src ORDER BY cos DESC, dst) AS rk
                 FROM dir),
         t5 AS (SELECT * FROM top WHERE rk <= 5)
         SELECT a.src AS vec_a, a.dst AS vec_b, round(a.cos, 6) AS cos,
           a.rk AS rank_a, b.rk AS rank_b
         FROM t5 a JOIN t5 b ON a.src = b.dst AND a.dst = b.src
         WHERE a.src < a.dst ORDER BY vec_a, vec_b""",
    // the LSH production twin shares the exact form's oracle VERBATIM:
    // at the declared (planes=2, tables=16) the candidate set covers
    // every true top-5, so the outputs are cell-identical
    "q_knn_graph_lsh" ->
      """WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS ve FROM embeddings),
         p AS (SELECT a.vec_id AS va, b.vec_id AS vb,
                 list_dot_product(a.ve, b.ve) /
                   (sqrt(list_dot_product(a.ve, a.ve)) *
                    sqrt(list_dot_product(b.ve, b.ve))) AS cos
               FROM v a JOIN v b ON a.vec_id < b.vec_id),
         dir AS (SELECT va AS src, vb AS dst, cos FROM p
                 UNION ALL SELECT vb, va, cos FROM p),
         top AS (SELECT src, dst, cos, row_number() OVER
                   (PARTITION BY src ORDER BY cos DESC, dst) AS rk
                 FROM dir),
         t5 AS (SELECT * FROM top WHERE rk <= 5)
         SELECT a.src AS vec_a, a.dst AS vec_b, round(a.cos, 6) AS cos,
           a.rk AS rank_a, b.rk AS rank_b
         FROM t5 a JOIN t5 b ON a.src = b.dst AND a.dst = b.src
         WHERE a.src < a.dst ORDER BY vec_a, vec_b""",
    // Clustered-regime gate: the corpus is DERIVED (cluster centroid
    // ± jitter, all md5→integer→double arithmetic), the edge oracle is
    // brute force over it, and cand_pairs replays the 8×8 SRP
    // bucketing independently (the q_ann_multi pattern) — so both the
    // recall-1.0 claim AND the pruning claim sit on the hash gate.
    "q_knn_clustered" ->
      """WITH ids AS (SELECT vec_id FROM embeddings),
         v AS MATERIALIZED (SELECT vec_id, list(
                 ((('0x' || substr(md5('C' || (vec_id % 25) || '~' || d), 1, 15))::BIGINT
                   % 2001) - 1000) / 1000.0 +
                 ((('0x' || substr(md5('J' || vec_id || '~' || d), 1, 15))::BIGINT
                   % 2001) - 1000) / 20000.0 ORDER BY d) AS ve
               FROM ids, range(32) AS rd(d) GROUP BY vec_id),
         p AS (SELECT a.vec_id AS va, b.vec_id AS vb,
                 list_dot_product(a.ve, b.ve) /
                   (sqrt(list_dot_product(a.ve, a.ve)) *
                    sqrt(list_dot_product(b.ve, b.ve))) AS cos
               FROM v a JOIN v b ON a.vec_id < b.vec_id),
         dir AS (SELECT va AS src, vb AS dst, cos FROM p
                 UNION ALL SELECT vb, va, cos FROM p),
         top AS (SELECT src, dst, cos, row_number() OVER
                   (PARTITION BY src ORDER BY cos DESC, dst) AS rk
                 FROM dir),
         t5 AS (SELECT * FROM top WHERE rk <= 5),
         edges AS (SELECT a.src AS vec_a, a.dst AS vec_b,
                     round(a.cos, 6) AS cos, a.rk AS rank_a, b.rk AS rank_b
                   FROM t5 a JOIN t5 b ON a.src = b.dst AND a.dst = b.src
                   WHERE a.src < a.dst),
         ex AS (SELECT vec_id, t, p, d, ve[d + 1] AS x
                FROM v, range(8) AS rt(t), range(8) AS rp(p), range(32) AS rd2(d)),
         pw AS (SELECT vec_id, t, p,
                  sum(CAST(round(x * 1000000) AS BIGINT) *
                      ((('0x' || substr(md5((t * 8 + p) || ',' || d), 1, 15))::BIGINT
                        % 2000001) - 1000000)) AS proj
                FROM ex GROUP BY 1, 2, 3),
         bk AS (SELECT vec_id, t, sum(CASE WHEN proj > 0 THEN 1::BIGINT << p
                                           ELSE 0 END) AS bucket
                FROM pw GROUP BY 1, 2),
         cand AS (SELECT DISTINCT a.vec_id AS ca, b.vec_id AS cb
                  FROM bk a JOIN bk b ON a.t = b.t AND a.bucket = b.bucket
                    AND a.vec_id < b.vec_id),
         stats AS (SELECT (SELECT count(*) FROM cand)::BIGINT AS cand_pairs,
                          (SELECT count(*) FROM v)::BIGINT AS n_all)
         SELECT e.vec_a, e.vec_b, e.cos, e.rank_a, e.rank_b,
           s.cand_pairs, (s.n_all * (s.n_all - 1) // 2)::BIGINT AS all_pairs
         FROM edges e, stats s ORDER BY vec_a, vec_b""",
    // Capped graph build: the oracle replays EVERYTHING relationally —
    // 8×8 SRP bucketing, the per-table fine projection (plane ids
    // 64+t), the row_number window-40 sorted-neighborhood link, the
    // exact cosine re-rank + mutual top-5, and the fixed-panel recall
    // legs — so boundedness, pruning mass AND recall-vs-exact are all
    // hash-gated, not argued.
    "q_knn_graph_capped" ->
      s"""WITH ids AS (SELECT vec_id FROM embeddings),
         v AS MATERIALIZED (SELECT vec_id, list(
                 ((('0x' || substr(md5('C' || (vec_id % 25) || '~' || d), 1, 15))::BIGINT
                   % 2001) - 1000) / 1000.0 +
                 ((('0x' || substr(md5('J' || vec_id || '~' || d), 1, 15))::BIGINT
                   % 2001) - 1000) / 20000.0 ORDER BY d) AS ve
               FROM ids, range(32) AS rd(d) GROUP BY vec_id),
         ex AS (SELECT vec_id, t, p, d, ve[d + 1] AS x
                FROM v, range(8) AS rt(t), range(8) AS rp(p), range(32) AS rd2(d)),
         pw AS (SELECT vec_id, t, p,
                  sum(CAST(round(x * 1000000) AS BIGINT) *
                      ((('0x' || substr(md5((t * 8 + p) || ',' || d), 1, 15))::BIGINT
                        % 2000001) - 1000000)) AS proj
                FROM ex GROUP BY 1, 2, 3),
         bk AS (SELECT vec_id, t, sum(CASE WHEN proj > 0 THEN 1::BIGINT << p
                                           ELSE 0 END) AS bucket
                FROM pw GROUP BY 1, 2),
         fex AS (SELECT vec_id, t, d, ve[d + 1] AS x
                 FROM v, range(8) AS rt(t), range(32) AS rd3(d)),
         fp AS (SELECT vec_id, t,
                  sum(CAST(round(x * 1000000) AS BIGINT) *
                      ((('0x' || substr(md5((64 + t) || ',' || d), 1, 15))::BIGINT
                        % 2000001) - 1000000)) AS fpv
                FROM fex GROUP BY 1, 2),
         bkf AS (SELECT b.vec_id, b.t, b.bucket, f.fpv
                 FROM bk b JOIN fp f ON b.vec_id = f.vec_id AND b.t = f.t),
         cnts AS (SELECT t, bucket, count(*) AS m FROM bkf GROUP BY 1, 2),
         segd AS (SELECT k.vec_id, k.t, k.bucket, k.fpv,
                    ${H64.format("CAST(k.vec_id AS VARCHAR)")}
                      % ((c.m + 511) // 512) AS seg
                  FROM bkf k JOIN cnts c
                    ON k.t = c.t AND k.bucket = c.bucket),
         rn AS (SELECT vec_id, t, bucket, seg, fpv,
                  row_number() OVER (PARTITION BY t, bucket, seg
                                     ORDER BY fpv, vec_id) AS rn
                FROM segd),
         chain AS (SELECT least(a.vec_id, b.vec_id) AS ca,
                     greatest(a.vec_id, b.vec_id) AS cb
                   FROM rn a JOIN rn b ON a.t = b.t AND a.bucket = b.bucket
                     AND a.seg = b.seg
                     AND b.rn > a.rn AND b.rn <= a.rn + 40),
         repl AS (SELECT t, bucket, seg, vec_id,
                    lead(vec_id) OVER (PARTITION BY t, bucket
                                       ORDER BY seg) AS nxt
                  FROM rn WHERE rn = 1),
         stitch AS (SELECT least(vec_id, nxt) AS ca,
                      greatest(vec_id, nxt) AS cb
                    FROM repl WHERE nxt IS NOT NULL),
         cand AS (SELECT DISTINCT ca, cb FROM
                    (SELECT ca, cb FROM chain
                     UNION ALL SELECT ca, cb FROM stitch)),
         p AS (SELECT ca AS va, cb AS vb,
                 list_dot_product(a.ve, b.ve) /
                   (sqrt(list_dot_product(a.ve, a.ve)) *
                    sqrt(list_dot_product(b.ve, b.ve))) AS cos
               FROM cand JOIN v a ON ca = a.vec_id JOIN v b ON cb = b.vec_id),
         dir AS (SELECT va AS src, vb AS dst, cos FROM p
                 UNION ALL SELECT vb, va, cos FROM p),
         top AS (SELECT src, dst, cos, row_number() OVER
                   (PARTITION BY src ORDER BY cos DESC, dst) AS rk
                 FROM dir),
         t5 AS (SELECT * FROM top WHERE rk <= 5),
         edges AS (SELECT a.src AS vec_a, a.dst AS vec_b,
                     round(a.cos, 6) AS cos, a.rk AS rank_a, b.rk AS rank_b
                   FROM t5 a JOIN t5 b ON a.src = b.dst AND a.dst = b.src
                   WHERE a.src < a.dst),
         pt AS (SELECT a.vec_id AS qa, b.vec_id AS qb,
                  list_dot_product(a.ve, b.ve) /
                    (sqrt(list_dot_product(a.ve, a.ve)) *
                     sqrt(list_dot_product(b.ve, b.ve))) AS cos
                FROM v a JOIN v b ON b.vec_id <> a.vec_id
                WHERE a.vec_id < 100),
         ptr AS (SELECT qa, qb, row_number() OVER
                   (PARTITION BY qa ORDER BY cos DESC, qb) AS rk FROM pt),
         tk AS (SELECT DISTINCT least(qa, qb) AS ca, greatest(qa, qb) AS cb
                FROM ptr WHERE rk <= 5),
         stats AS (SELECT (SELECT count(*) FROM cand)::BIGINT AS cand_pairs,
                          (SELECT count(*) FROM v)::BIGINT AS n_all,
                          (SELECT count(*) FROM tk JOIN cand USING (ca, cb))::BIGINT
                            AS recall_num,
                          (SELECT count(*) FROM tk)::BIGINT AS recall_den)
         SELECT e.vec_a, e.vec_b, e.cos, e.rank_a, e.rank_b,
           s.cand_pairs, (s.n_all * (s.n_all - 1) // 2)::BIGINT AS all_pairs,
           s.recall_num, s.recall_den
         FROM edges e, stats s ORDER BY vec_a, vec_b""",
    // Embedding near-dup groups: same recursive min-reachability CC
    // oracle as q_dedup_groups, over the cosine pair edges.
    "q_embed_groups" ->
      """WITH RECURSIVE v AS (SELECT vec_id, embedding::DOUBLE[] AS ve FROM embeddings),
         near AS (SELECT a.vec_id AS va, b.vec_id AS vb
                  FROM v a JOIN v b ON a.vec_id < b.vec_id
                  WHERE list_dot_product(a.ve, b.ve) /
                    (sqrt(list_dot_product(a.ve, a.ve)) *
                     sqrt(list_dot_product(b.ve, b.ve))) >= 0.4),
         edges AS (SELECT va AS src, vb AS dst FROM near
                   UNION SELECT vb, va FROM near),
         cc(node, label) AS (
           SELECT DISTINCT src, src FROM edges
           UNION
           SELECT e.dst, c.label FROM cc c JOIN edges e ON e.src = c.node),
         comps AS (SELECT node, min(label) AS comp FROM cc GROUP BY node),
         sz AS (SELECT comp, count(*) AS comp_size FROM comps GROUP BY comp)
         SELECT node AS vec, comp, comp_size
         FROM comps JOIN sz USING (comp) ORDER BY vec""",
    // DBSCAN: core = (deg+1) >= minPts, clusters = min-id CC over the
    // core-core subgraph (anchored at EVERY core so isolated cores
    // are singletons), border = min adjacent core cluster
    // (deterministic variant of first-scanner-wins), noise = -1
    "q_dbscan" ->
      """WITH RECURSIVE v AS (SELECT vec_id, embedding::DOUBLE[] AS ve FROM embeddings),
         near AS (SELECT a.vec_id AS va, b.vec_id AS vb
                  FROM v a JOIN v b ON a.vec_id < b.vec_id
                  WHERE list_dot_product(a.ve, b.ve) /
                    (sqrt(list_dot_product(a.ve, a.ve)) *
                     sqrt(list_dot_product(b.ve, b.ve))) >= 0.4),
         edges AS (SELECT va AS src, vb AS dst FROM near
                   UNION SELECT vb, va FROM near),
         deg AS (SELECT src AS node, count(*) AS deg FROM edges GROUP BY 1),
         core AS (SELECT node FROM deg WHERE deg + 1 >= 3),
         ce AS (SELECT src, dst FROM edges
                WHERE src IN (SELECT node FROM core)
                  AND dst IN (SELECT node FROM core)),
         cc(node, label) AS (
           SELECT node, node FROM core
           UNION
           SELECT e.dst, c.label FROM cc c JOIN ce e ON e.src = c.node),
         comps AS (SELECT node, min(label) AS comp FROM cc GROUP BY node),
         border AS (SELECT e.src AS node, min(c.comp) AS comp
                    FROM edges e JOIN comps c ON e.dst = c.node
                    WHERE e.src NOT IN (SELECT node FROM core)
                    GROUP BY 1),
         lab AS (SELECT node, comp, 'core' AS role FROM comps
                 UNION ALL SELECT node, comp, 'border' FROM border),
         allv AS (SELECT vec_id AS vec, coalesce(l.role, 'noise') AS role,
                    CAST(coalesce(l.comp, -1) AS BIGINT) AS cluster
                  FROM v LEFT JOIN lab l ON v.vec_id = l.node),
         sz AS (SELECT cluster, count(*) AS cluster_size FROM allv
                WHERE cluster <> -1 GROUP BY 1)
         SELECT vec, role, cluster,
           CAST(coalesce(sz.cluster_size, 0) AS BIGINT) AS cluster_size
         FROM allv LEFT JOIN sz USING (cluster) ORDER BY vec""",
    // Near-copy-augmented corpus: every 10th vector gets a planted
    // near-dup (id + 1000000, components nudged by a deterministic
    // md5-derived δ). The Spark side generates candidates with
    // 12-plane × 4-table SRP-LSH then exact-checks; the oracle is
    // BRUTE FORCE over the same augmented table — the hash gate
    // therefore proves recall 1 at these settings, not just precision.
    "q_ann_neardup" ->
      """WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS ve FROM embeddings),
         aug AS (SELECT vec_id,
                   list(ve[d + 1] +
                     (((('0x' || substr(md5((vec_id + 1000000) || '~' || d), 1, 15))::BIGINT)
                       % 2001) - 1000) / 10000000.0 ORDER BY d) AS ve
                 FROM v, range(64) AS rd(d)
                 WHERE vec_id % 10 = 0 GROUP BY vec_id),
         allv AS (SELECT vec_id, ve FROM v
                  UNION ALL SELECT vec_id + 1000000, ve FROM aug),
         p AS (SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
                 list_dot_product(a.ve, b.ve) /
                   (sqrt(list_dot_product(a.ve, a.ve)) *
                    sqrt(list_dot_product(b.ve, b.ve))) AS cos
               FROM allv a JOIN allv b ON a.vec_id < b.vec_id)
         SELECT vec_a, vec_b, round(cos, 6) AS cos
         FROM p WHERE cos >= 0.9 ORDER BY vec_a, vec_b""",
    // Capped scale-path near-dup: the oracle replays the 12×4 SRP
    // bucketing, the per-(table, bucket) row_number cap (≡ the Spark
    // side's rank-free bottomk kept set), the exact cosine re-check,
    // and the candidate-mass + brute-force-panel recall legs.
    "q_ann_neardup_capped" ->
      s"""WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS ve FROM embeddings),
         aug AS (SELECT vec_id,
                   list(ve[d + 1] +
                     (((('0x' || substr(md5((vec_id + 1000000) || '~' || d), 1, 15))::BIGINT)
                       % 2001) - 1000) / 10000000.0 ORDER BY d) AS ve
                 FROM v, range(64) AS rd(d)
                 WHERE vec_id % 10 = 0 GROUP BY vec_id),
         allv AS (SELECT vec_id, ve FROM v
                  UNION ALL SELECT vec_id + 1000000, ve FROM aug),
         ex AS (SELECT vec_id, t, p, d, ve[d + 1] AS x
                FROM allv, range(4) AS rt(t), range(12) AS rp(p),
                  range(64) AS rd2(d)),
         pw AS (SELECT vec_id, t, p,
                  sum(CAST(round(x * 1000000) AS BIGINT) *
                      ((('0x' || substr(md5((t * 12 + p) || ',' || d), 1, 15))::BIGINT
                        % 2000001) - 1000000)) AS proj
                FROM ex GROUP BY 1, 2, 3),
         bk AS (SELECT vec_id, t, sum(CASE WHEN proj > 0 THEN 1::BIGINT << p
                                           ELSE 0 END) AS bucket
                FROM pw GROUP BY 1, 2),
         rnc AS (SELECT vec_id, t, bucket,
                   row_number() OVER (PARTITION BY t, bucket
                     ORDER BY ${H64.format("CAST(vec_id AS VARCHAR)")},
                       vec_id) AS rn
                 FROM bk),
         kept AS (SELECT vec_id, t, bucket FROM rnc WHERE rn <= 16),
         cand AS (SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b
                  FROM kept a JOIN kept b ON a.t = b.t AND a.bucket = b.bucket
                    AND a.vec_id < b.vec_id),
         outp AS (SELECT c.vec_a, c.vec_b,
                    list_dot_product(a.ve, b.ve) /
                      (sqrt(list_dot_product(a.ve, a.ve)) *
                       sqrt(list_dot_product(b.ve, b.ve))) AS cos
                  FROM cand c JOIN allv a ON c.vec_a = a.vec_id
                              JOIN allv b ON c.vec_b = b.vec_id
                  WHERE list_dot_product(a.ve, b.ve) /
                      (sqrt(list_dot_product(a.ve, a.ve)) *
                       sqrt(list_dot_product(b.ve, b.ve))) >= 0.9),
         pv AS (SELECT vec_id, ve FROM allv WHERE vec_id % 1000000 < 100),
         truth AS (SELECT a.vec_id AS vec_a, b.vec_id AS vec_b
                   FROM pv a JOIN pv b ON a.vec_id < b.vec_id
                   WHERE list_dot_product(a.ve, b.ve) /
                     (sqrt(list_dot_product(a.ve, a.ve)) *
                      sqrt(list_dot_product(b.ve, b.ve))) >= 0.9),
         stats AS (SELECT (SELECT count(*) FROM cand)::BIGINT AS cand_pairs,
                     (SELECT count(*) FROM allv)::BIGINT AS n_all,
                     (SELECT count(*) FROM truth t JOIN outp o
                        ON t.vec_a = o.vec_a AND t.vec_b = o.vec_b)::BIGINT AS recall_num,
                     (SELECT count(*) FROM truth)::BIGINT AS recall_den)
         SELECT o.vec_a, o.vec_b, round(o.cos, 6) AS cos, s.cand_pairs,
           (s.n_all * (s.n_all - 1) // 2)::BIGINT AS all_pairs,
           s.recall_num, s.recall_den
         FROM outp o, stats s ORDER BY vec_a, vec_b""",
    // Groups over the capped pairs: the capped candidate + re-check
    // CTEs verbatim, then the standard recursive min-reachability CC.
    "q_embed_groups_capped" ->
      s"""WITH RECURSIVE v AS (SELECT vec_id, embedding::DOUBLE[] AS ve FROM embeddings),
         aug AS (SELECT vec_id,
                   list(ve[d + 1] +
                     (((('0x' || substr(md5((vec_id + 1000000) || '~' || d), 1, 15))::BIGINT)
                       % 2001) - 1000) / 10000000.0 ORDER BY d) AS ve
                 FROM v, range(64) AS rd(d)
                 WHERE vec_id % 10 = 0 GROUP BY vec_id),
         allv AS (SELECT vec_id, ve FROM v
                  UNION ALL SELECT vec_id + 1000000, ve FROM aug),
         ex AS (SELECT vec_id, t, p, d, ve[d + 1] AS x
                FROM allv, range(4) AS rt(t), range(12) AS rp(p),
                  range(64) AS rd2(d)),
         pw AS (SELECT vec_id, t, p,
                  sum(CAST(round(x * 1000000) AS BIGINT) *
                      ((('0x' || substr(md5((t * 12 + p) || ',' || d), 1, 15))::BIGINT
                        % 2000001) - 1000000)) AS proj
                FROM ex GROUP BY 1, 2, 3),
         bk AS (SELECT vec_id, t, sum(CASE WHEN proj > 0 THEN 1::BIGINT << p
                                           ELSE 0 END) AS bucket
                FROM pw GROUP BY 1, 2),
         rnc AS (SELECT vec_id, t, bucket,
                   row_number() OVER (PARTITION BY t, bucket
                     ORDER BY ${H64.format("CAST(vec_id AS VARCHAR)")},
                       vec_id) AS rn
                 FROM bk),
         kept AS (SELECT vec_id, t, bucket FROM rnc WHERE rn <= 16),
         cand AS (SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b
                  FROM kept a JOIN kept b ON a.t = b.t AND a.bucket = b.bucket
                    AND a.vec_id < b.vec_id),
         near AS (SELECT c.vec_a AS va, c.vec_b AS vb
                  FROM cand c JOIN allv a ON c.vec_a = a.vec_id
                              JOIN allv b ON c.vec_b = b.vec_id
                  WHERE list_dot_product(a.ve, b.ve) /
                      (sqrt(list_dot_product(a.ve, a.ve)) *
                       sqrt(list_dot_product(b.ve, b.ve))) >= 0.9),
         edges AS (SELECT va AS src, vb AS dst FROM near
                   UNION SELECT vb, va FROM near),
         cc(node, label) AS (
           SELECT DISTINCT src, src FROM edges
           UNION
           SELECT e.dst, c.label FROM cc c JOIN edges e ON e.src = c.node),
         comps AS (SELECT node, min(label) AS comp FROM cc GROUP BY node),
         sz AS (SELECT comp, count(*) AS comp_size FROM comps GROUP BY comp)
         SELECT node AS vec, comp, comp_size
         FROM comps JOIN sz USING (comp) ORDER BY vec""",
    "q_embed_groups_lsh" ->
      """WITH RECURSIVE v AS (SELECT vec_id, embedding::DOUBLE[] AS ve FROM embeddings),
         aug AS (SELECT vec_id,
                   list(ve[d + 1] +
                     (((('0x' || substr(md5((vec_id + 1000000) || '~' || d), 1, 15))::BIGINT)
                       % 2001) - 1000) / 10000000.0 ORDER BY d) AS ve
                 FROM v, range(64) AS rd(d)
                 WHERE vec_id % 10 = 0 GROUP BY vec_id),
         allv AS (SELECT vec_id, ve FROM v
                  UNION ALL SELECT vec_id + 1000000, ve FROM aug),
         near AS (SELECT a.vec_id AS va, b.vec_id AS vb
                  FROM allv a JOIN allv b ON a.vec_id < b.vec_id
                  WHERE list_dot_product(a.ve, b.ve) /
                    (sqrt(list_dot_product(a.ve, a.ve)) *
                     sqrt(list_dot_product(b.ve, b.ve))) >= 0.9),
         edges AS (SELECT va AS src, vb AS dst FROM near
                   UNION SELECT vb, va FROM near),
         cc(node, label) AS (
           SELECT DISTINCT src, src FROM edges
           UNION
           SELECT e.dst, c.label FROM cc c JOIN edges e ON e.src = c.node),
         comps AS (SELECT node, min(label) AS comp FROM cc GROUP BY node),
         sz AS (SELECT comp, count(*) AS comp_size FROM comps GROUP BY comp)
         SELECT node AS vec, comp, comp_size
         FROM comps JOIN sz USING (comp) ORDER BY vec""",
    "q_ann_topk" ->
      """WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS ve FROM embeddings),
         ex AS (SELECT vec_id, p, d, ve[d + 1] AS x
                FROM v, range(8) AS rp(p), range(64) AS rd(d)),
         pw AS (SELECT vec_id, p,
                  sum(CAST(round(x * 1000000) AS BIGINT) *
                      ((('0x' || substr(md5(p || ',' || d), 1, 15))::BIGINT % 2000001)
                       - 1000000)) AS proj
                FROM ex GROUP BY 1, 2),
         bk AS (SELECT vec_id, sum(CASE WHEN proj > 0 THEN 1::BIGINT << p
                                        ELSE 0 END) AS bucket
                FROM pw GROUP BY 1),
         wb AS (SELECT v.vec_id, v.ve, bk.bucket FROM v JOIN bk USING (vec_id)),
         sc AS (SELECT q.vec_id AS query_id, c.vec_id AS cand_id,
                  list_dot_product(q.ve, c.ve) /
                    (sqrt(list_dot_product(q.ve, q.ve)) *
                     sqrt(list_dot_product(c.ve, c.ve))) AS cos
                FROM wb q JOIN wb c ON q.bucket = c.bucket
                  AND q.vec_id < 10 AND q.vec_id <> c.vec_id),
         rk AS (SELECT *, row_number() OVER (PARTITION BY query_id
                  ORDER BY cos DESC, cand_id ASC) AS rnk FROM sc)
         SELECT query_id, cand_id, round(cos, 6) AS cos, rnk
         FROM rk WHERE rnk <= 3 ORDER BY query_id, rnk""",
    // Multi-table variant: global plane id = t*6 + p picks each table's
    // hyperplanes; candidates = distinct union of per-table collisions.
    "q_ann_multi" ->
      """WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS ve FROM embeddings),
         ex AS (SELECT vec_id, t, p, d, ve[d + 1] AS x
                FROM v, range(3) AS rt(t), range(6) AS rp(p), range(64) AS rd(d)),
         pw AS (SELECT vec_id, t, p,
                  sum(CAST(round(x * 1000000) AS BIGINT) *
                      ((('0x' || substr(md5((t * 6 + p) || ',' || d), 1, 15))::BIGINT
                        % 2000001) - 1000000)) AS proj
                FROM ex GROUP BY 1, 2, 3),
         bk AS (SELECT vec_id, t, sum(CASE WHEN proj > 0 THEN 1::BIGINT << p
                                           ELSE 0 END) AS bucket
                FROM pw GROUP BY 1, 2),
         cand AS (SELECT DISTINCT q.vec_id AS query_id, c.vec_id AS cand_id
                  FROM bk q JOIN bk c ON q.t = c.t AND q.bucket = c.bucket
                    AND q.vec_id < 10 AND q.vec_id <> c.vec_id),
         sc AS (SELECT cand.query_id, cand.cand_id,
                  list_dot_product(q.ve, c.ve) /
                    (sqrt(list_dot_product(q.ve, q.ve)) *
                     sqrt(list_dot_product(c.ve, c.ve))) AS cos
                FROM cand JOIN v q ON q.vec_id = cand.query_id
                          JOIN v c ON c.vec_id = cand.cand_id),
         rk AS (SELECT *, row_number() OVER (PARTITION BY query_id
                  ORDER BY cos DESC, cand_id ASC) AS rnk FROM sc)
         SELECT query_id, cand_id, round(cos, 6) AS cos, rnk
         FROM rk WHERE rnk <= 3 ORDER BY query_id, rnk""",
    // Fixed-point power iteration: integer second-moment matrix, 3
    // unrolled integer matvec+rescale steps (div/`//` both truncate
    // toward zero), integer projections — bit-exact replay
    "q_jl_distortion" -> JL_SQL,
    "q_pca_project" ->
      """WITH f0 AS (SELECT vec_id, label,
                  unnest(range(len(embedding))) AS i,
                  unnest(embedding) AS x FROM embeddings),
         f AS (SELECT vec_id, label, i,
                 CAST(round(x::DOUBLE * 1e6) AS BIGINT) AS vi FROM f0),
         cov AS (SELECT a.i AS i, b.i AS j,
                   CAST(sum(a.vi * b.vi) AS BIGINT) AS sij
                 FROM f a JOIN f b ON a.vec_id = b.vec_id GROUP BY 1, 2),
         cq AS (SELECT i, j, sij // 1000000 AS cq FROM cov),
         w1p AS (SELECT i, CAST(sum(cq * 1000000) AS BIGINT) AS wp
                 FROM cq GROUP BY i),
         m1 AS (SELECT greatest(max(abs(wp)) // 1000000, 1) AS mq FROM w1p),
         w1 AS (SELECT i, wp // mq AS wv FROM w1p, m1),
         w2p AS (SELECT c.i, CAST(sum(c.cq * w.wv) AS BIGINT) AS wp
                 FROM cq c JOIN w1 w ON w.i = c.j GROUP BY c.i),
         m2 AS (SELECT greatest(max(abs(wp)) // 1000000, 1) AS mq FROM w2p),
         w2 AS (SELECT i, wp // mq AS wv FROM w2p, m2),
         w3p AS (SELECT c.i, CAST(sum(c.cq * w.wv) AS BIGINT) AS wp
                 FROM cq c JOIN w2 w ON w.i = c.j GROUP BY c.i),
         m3 AS (SELECT greatest(max(abs(wp)) // 1000000, 1) AS mq FROM w3p),
         w3 AS (SELECT i, wp // mq AS wv FROM w3p, m3)
         SELECT f.vec_id, f.label,
           CAST(sum(f.vi * w.wv) AS BIGINT) AS proj_fx
         FROM f JOIN w3 w ON w.i = f.i
         GROUP BY 1, 2 ORDER BY vec_id""",
    "q_ivf_topk" -> IVF_TOPK_SQL,
    // persisted-inverted-lists probe: same semantics, different
    // physical plan (zero-exchange co-bucketed join) — one oracle
    "q_ivf_state_probe" -> IVF_TOPK_SQL,
    "q_semdedup" ->
      """WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS ve FROM embeddings),
         cent AS (SELECT vec_id AS cid, ve AS cv FROM v ORDER BY vec_id LIMIT 16),
         ac AS (SELECT v.vec_id, cent.cid,
                  list_dot_product(v.ve, cent.cv) /
                    (sqrt(list_dot_product(v.ve, v.ve)) *
                     sqrt(list_dot_product(cent.cv, cent.cv))) AS cos
                FROM v CROSS JOIN cent),
         asg AS (SELECT vec_id, cid AS list_id FROM
                   (SELECT *, row_number() OVER (PARTITION BY vec_id
                      ORDER BY cos DESC, cid ASC) AS rn FROM ac)
                 WHERE rn = 1),
         pr AS (SELECT b.vec_id AS b_id,
                  list_dot_product(va.ve, vb.ve) /
                    (sqrt(list_dot_product(va.ve, va.ve)) *
                     sqrt(list_dot_product(vb.ve, vb.ve))) AS cos
                FROM asg a JOIN asg b
                  ON a.list_id = b.list_id AND a.vec_id < b.vec_id
                JOIN v va ON va.vec_id = a.vec_id
                JOIN v vb ON vb.vec_id = b.vec_id),
         dom AS (SELECT b_id, count(*) AS n_dom FROM pr
                 WHERE cos >= 0.4 GROUP BY 1)
         SELECT g.vec_id AS vec, g.list_id, coalesce(d.n_dom, 0) AS n_dom,
           d.b_id IS NULL AS keep
         FROM asg g LEFT JOIN dom d ON g.vec_id = d.b_id ORDER BY vec""",
    // Independent oracle: DuckDB's native ASOF JOIN (not a window
    // re-spelling of our plan) — a pass proves the union+window form
    // implements the standard backward as-of semantics.
    "q_asof_join" ->
      """WITH c AS (SELECT event_id, user_id, ts::TIMESTAMP AS ts FROM events
                    WHERE event_type = 'click'),
         p AS (SELECT user_id, ts::TIMESTAMP AS p_ts, value AS p_value
               FROM events WHERE event_type = 'purchase')
         SELECT c.event_id, c.user_id, c.ts, p.p_ts,
           round(p.p_value, 4) AS p_value
         FROM c ASOF LEFT JOIN p
           ON c.user_id = p.user_id AND p.p_ts <= c.ts
         ORDER BY c.event_id""",
    // The oracle computes the pipeline's EXPECTED output straight from
    // `events` — a pass proves the Spark-side ABI encode → keccak topic
    // dispatch → decode → enrich loop is lossless.
    "q_evm_decode" ->
      """SELECT '0x' || md5(event_id::VARCHAR) AS tx_hash,
           event_id // 10 AS block_number,
           '0x' || lpad(printf('%x', user_id), 40, '0') AS from_addr,
           '0x' || lpad(printf('%x', (user_id * 7 + 1) % 1000), 40, '0') AS to_addr,
           CASE WHEN event_id % 97 = 0 THEN NULL
                ELSE greatest(CAST(round(value * 100) AS BIGINT), 0) END AS value,
           CASE WHEN event_id % 97 = 0 THEN '0xdead'
                ELSE greatest(CAST(round(value * 100) AS BIGINT), 0)::VARCHAR END AS value_or_hex
         FROM events WHERE event_type IN ('click', 'purchase', 'view')
         ORDER BY tx_hash""",
    // unknown-ABI escape hatch: the Approval-topic0 rows (event types
    // outside click/purchase/view) re-rendered from the synthesis
    // formulas; raw_params is the sorted key=value join of the map
    "q_evm_raw" ->
      s"""SELECT '0x' || md5(event_id::VARCHAR) AS tx_hash,
           event_id // 10 AS block_number,
           '0x' || lpad(printf('%x', user_id % 3), 40, '0') AS contract,
           '1' AS chain_id,
           'data=' ||
             CASE WHEN event_id % 97 = 0 THEN '0xdead'
                  ELSE '0x' || lpad(printf('%x',
                    greatest(CAST(round(value * 100) AS BIGINT), 0)), 64, '0')
             END ||
           '&topic0=${graft.evm.Keccak.eventTopic0(graft.evm.LogPipeline.ApprovalSig)}' ||
           '&topic1=0x' || lpad(printf('%x', user_id), 64, '0') ||
           '&topic2=0x' || lpad(printf('%x', (user_id * 7 + 1) % 1000), 64, '0')
             AS raw_params
         FROM events WHERE event_type NOT IN ('click', 'purchase', 'view')
         ORDER BY tx_hash""",
    // whale uint256 sums, recomputed ANALYTICALLY from the synthesis
    // formula value = cents·2^128 + event_id: limb0/1 carry event_id,
    // limb4/5 carry cents, the rest are zero — DuckDB never sees the
    // 32-byte words, so the Spark-side encode→limb-decode round trip
    // is independently gated (same pattern as the multimodal oracles)
    "q_uint256_sum" ->
      """WITH tr AS (SELECT
             '0x' || lpad(printf('%x', user_id % 3), 40, '0') AS token,
             greatest(CAST(round(value * 100) AS BIGINT), 0) AS cents,
             event_id
           FROM events
           WHERE event_type IN ('click', 'purchase', 'view'))
         SELECT token, count(*) AS n,
           sum(event_id % 4294967296)::BIGINT AS ls0,
           sum(event_id // 4294967296)::BIGINT AS ls1,
           0::BIGINT AS ls2, 0::BIGINT AS ls3,
           sum(cents % 4294967296)::BIGINT AS ls4,
           sum(cents // 4294967296)::BIGINT AS ls5,
           0::BIGINT AS ls6, 0::BIGINT AS ls7
         FROM tr GROUP BY token ORDER BY token""",
    "q_evm_swap" ->
      """SELECT '0x' || md5(event_id::VARCHAR) AS tx_hash,
           greatest(CAST(round(value * 100) AS BIGINT), 0) - 50000 AS tick,
           CASE WHEN event_id % 7 = 0 THEN NULL
                ELSE greatest(CAST(round(value * 100) AS BIGINT), 0) END AS sqrt_price,
           (event_id % 7 = 0) AS overflowed
         FROM events ORDER BY tx_hash""",
    "q_evm_payout" ->
      """SELECT '0x' || md5(event_id::VARCHAR) AS tx_hash,
           '0x' || lpad(printf('%x', user_id), 40, '0') AS to_addr,
           j - 1 AS pos,
           greatest(CAST(round(value * 100) AS BIGINT), 0) + j AS amount
         FROM events, range(1, 4) AS r(j)
         WHERE j <= event_id % 3 + 1
         ORDER BY tx_hash, pos""",
    "q_evm_order" ->
      """SELECT '0x' || md5(event_id::VARCHAR) AS tx_hash,
           '0x' || lpad(printf('%x', user_id), 40, '0') AS maker,
           greatest(CAST(round(value * 100) AS BIGINT), 0) AS amount,
           j - 1 AS pos,
           '0x' || lpad(printf('%x', user_id * 3 + j), 40, '0') AS token,
           greatest(CAST(round(value * 100) AS BIGINT), 0) + j * 10 AS qty
         FROM events, range(1, 3) AS r(j)
         WHERE j <= event_id % 2 + 1
         ORDER BY tx_hash, pos""",
    "q_evm_txfrom" ->
      """SELECT '0x' || md5(event_id::VARCHAR) AS tx_hash,
           '0x' || lpad(printf('%x', user_id), 40, '0') AS from_addr,
           CASE event_id % 5
             WHEN 0 THEN '0x7e5f4552091a69125d5dfcb7b8c2659029395bdf'
             WHEN 1 THEN '0x2b5ad5c4795c026514f8317c7a215e218dccd6cf'
             WHEN 2 THEN '0x6813eb9362372eef6200f3b1dbc3f819671cba69'
             WHEN 3 THEN '0x1eff47bc3a10a45d4b230b5d10e37751fe6aa718'
             ELSE '0xe1ab8145f7e55dc933d51a18c793f901a3a0b276' END AS tx_from
         FROM events WHERE event_type IN ('click', 'purchase', 'view')
         ORDER BY tx_hash""",
    "q_evm_daily" ->
      """WITH logs AS (SELECT event_id // 10 AS block_number, ts, event_type,
                         value, event_id FROM events),
         bts AS (SELECT block_number, min(ts) AS block_ts FROM logs GROUP BY 1),
         tr AS (SELECT l.*, b.block_ts FROM logs l JOIN bts b USING (block_number)
                WHERE l.event_type IN ('click', 'purchase', 'view')
                  AND l.event_id % 97 <> 0)
         SELECT CAST(date_trunc('day', block_ts) AS DATE) AS day,
           CAST(sum(greatest(CAST(round(value * 100) AS BIGINT), 0)) AS BIGINT) AS volume,
           count(*) AS n_transfers
         FROM tr GROUP BY 1 ORDER BY 1""",
    "q_ml_dataset" ->
      s"""WITH $ML_FEATS_CTES
         SELECT * FROM mlds ORDER BY event_type, bucket""",
    // Pinned-artifact serving path (see MlPipeline pinned section):
    // scoring = literal linear weights over the rounded feature table,
    // so accuracy/AUC/signals are independently recomputable. AUC stays
    // in integer pair-count space until one final division; CASTs guard
    // DuckDB's sum()→HUGEINT widening (the q_pack_bins bug class).
    // Deterministic ML pair: split report + full serving audit (the
    // live-LBFGS twins live outside the declared surface; see the
    // queries-map comment). Integer aggregates CAST ::BIGINT to dodge
    // DuckDB's sum()→HUGEINT widening.
    "q_ml_train_eval" ->
      s"""WITH $ML_FEATS_CTES,
         split AS (SELECT *, row_number() OVER (ORDER BY bucket, event_type) AS rn,
                     count(*) OVER () AS n FROM mlds),
         lab AS (SELECT CASE WHEN rn > CAST(floor(n * 0.7) AS BIGINT)
                   THEN 'test' ELSE 'train' END AS split, y,
                   $PINNED_SCORE_SQL AS score
                 FROM split)
         SELECT split, count(*) AS n_rows,
           CAST(sum(y) AS BIGINT) AS n_pos,
           round(CAST(sum(y) AS BIGINT)::DOUBLE / count(*), 6) AS base_rate,
           round(CAST(sum(CASE WHEN (score > 0) = (y = 1) THEN 1 ELSE 0 END)
             AS BIGINT)::DOUBLE / count(*), 6) AS accuracy
         FROM lab GROUP BY split ORDER BY split""",
    "q_ml_signals" ->
      s"""WITH $ML_FEATS_CTES,
         latest AS (SELECT * FROM (SELECT *, row_number() OVER (
                      PARTITION BY event_type ORDER BY bucket DESC) AS rn
                    FROM mlds) WHERE rn = 1),
         sc AS (SELECT event_type, bucket, pair_id, devdt,
                  $PINNED_SCORE_SQL AS score
                FROM latest)
         SELECT event_type, bucket, pair_id, score, devdt,
           CASE WHEN score >= ln(1.5) AND devdt < 0
             THEN 'LONG' ELSE 'NO TRADE' END AS signal
         FROM sc ORDER BY event_type""",
    "q_ml_eval_pinned" ->
      s"""WITH $ML_FEATS_CTES,
         split AS (SELECT *, row_number() OVER (ORDER BY bucket, event_type) AS rn,
                     count(*) OVER () AS n FROM mlds),
         test AS (SELECT *, $PINNED_SCORE_SQL AS score
                  FROM split WHERE rn > CAST(floor(n * 0.7) AS BIGINT)),
         evalacc AS (SELECT count(*) AS n_test,
                   CAST(sum(CASE WHEN (score > 0) = (y = 1) THEN 1 ELSE 0 END)
                        AS BIGINT) AS n_correct,
                   CAST(sum(y) AS BIGINT) AS n_pos FROM test),
         g AS (SELECT score, count(*) AS n, CAST(sum(y) AS BIGINT) AS np
               FROM test GROUP BY score),
         g2 AS (SELECT np, n - np AS nn,
                  coalesce(CAST(sum(n - np) OVER (ORDER BY score
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                    AS BIGINT), 0) AS cumneg
                FROM g),
         u AS (SELECT CAST(sum(np * (cumneg * 2 + nn)) AS BIGINT) AS u2 FROM g2),
         tot AS (SELECT count(*) AS n_total FROM mlds)
         SELECT n_total - n_test AS n_train, n_test, n_pos,
           round(n_correct::DOUBLE / n_test, 6) AS accuracy,
           round(CASE WHEN n_pos > 0 AND n_pos < n_test
             THEN u2::DOUBLE / (n_pos * (n_test - n_pos) * 2.0) END, 6) AS auc
         FROM evalacc, u, tot""",
    "q_ml_signals_pinned" ->
      s"""WITH $ML_FEATS_CTES,
         latest AS (SELECT * FROM (SELECT *, row_number() OVER (
                      PARTITION BY event_type ORDER BY bucket DESC) AS rn
                    FROM mlds) WHERE rn = 1),
         sc AS (SELECT event_type, bucket, devdt, pair_id,
                  $PINNED_SCORE_SQL AS score
                FROM latest),
         best AS (SELECT *, row_number() OVER (PARTITION BY pair_id
                    ORDER BY score DESC, event_type ASC) AS rk FROM sc)
         SELECT event_type, bucket, score, devdt,
           CASE WHEN score >= ln(1.5) AND devdt < 0
             THEN 'LONG' ELSE 'NO TRADE' END AS signal
         FROM best WHERE rk = 1 ORDER BY event_type""",
  )

  /** Feature chain shared by the ML oracles: everything through the
    * rounded q_ml_dataset surface (`mlds`). */
  private lazy val ML_FEATS_CTES =
      s"""$FILLED_CTE,
         cons AS (SELECT bucket, median(value) AS consensus
                  FROM filled GROUP BY bucket),
         dv AS (SELECT f.event_type, f.bucket, f.value - c.consensus AS dev
                FROM filled f JOIN cons c USING (bucket)),
         i AS (SELECT event_type, bucket, dev,
                 row_number() OVER (PARTITION BY event_type ORDER BY bucket) - 1 AS t
               FROM dv),
         wgt AS (SELECT *, CASE WHEN t = 0 THEN dev
                   ELSE (1.0 - pow(0.5, 1.0/12.0)) * pow(pow(0.5, 1.0/12.0), -t) * dev
                 END AS uv FROM i),
         acc AS (SELECT event_type, bucket, dev, t,
                   sum(uv) OVER (PARTITION BY event_type ORDER BY t
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS s
                 FROM wgt),
         bs AS (SELECT event_type, bucket, dev,
                  CASE WHEN t + 1 >= 5 THEN pow(pow(0.5, 1.0/12.0), t) * s END AS bias
                FROM acc),
         dt AS (SELECT event_type, bucket, bias, dev - bias AS devdt FROM bs),
         sg AS (SELECT *, stddev_samp(devdt) OVER w AS sraw,
                  count(devdt) OVER w AS cnt
                FROM dt WINDOW w AS (PARTITION BY event_type ORDER BY bucket
                  ROWS BETWEEN 23 PRECEDING AND CURRENT ROW)),
         feat AS (SELECT event_type, bucket, bias, devdt,
                    greatest(coalesce(CASE WHEN cnt >= 8 THEN sraw END, 0.5), 0.5) AS sigma
                  FROM sg),
         zt AS (SELECT *, devdt / sigma AS z,
                  CASE event_type WHEN 'click' THEN 0 WHEN 'error' THEN 1
                    WHEN 'purchase' THEN 2 WHEN 'signup' THEN 3
                    WHEN 'view' THEN 4 ELSE -1 END AS pair_id
                FROM feat WHERE devdt IS NOT NULL),
         fw AS (SELECT *, max(devdt) OVER (PARTITION BY event_type ORDER BY bucket
                  ROWS BETWEEN 1 FOLLOWING AND 24 FOLLOWING) AS fmax FROM zt),
         mlds AS (SELECT event_type, bucket, round(z, 6) AS z, round(devdt, 6) AS devdt,
           round(bias, 6) AS bias, round(sigma, 6) AS sigma, pair_id,
           CAST(fmax - devdt >= 50.0 AS INT) AS y
         FROM fw WHERE devdt < 0 AND fmax IS NOT NULL)"""

  /** Pinned linear score, term order mirrored EXACTLY by
    * MlPipeline.pinnedScore (double addition is not associative; the
    * literals print in shortest-round-trip form, which both engines
    * parse to the identical IEEE double). */
  private lazy val PINNED_SCORE_SQL = {
    val w = graft.ml.PinnedModel.W
    s"round(${graft.ml.PinnedModel.B} + ${w(0)} * z + ${w(1)} * devdt" +
      s" + ${w(2)} * bias + ${w(3)} * sigma + ${w(4)} * pair_id, 6)"
  }

  /** Shared oracle walk: the F1 mean-reversion FSM as a recursive CTE
    * (exact mirror of Backtest.meanReversion; validated against the
    * reference's own simulate_mean_reversion on the same series). */
  private val MEANREV_WALK =
    """c AS (SELECT bucket, avg(value) AS c_mean FROM filled GROUP BY bucket),
       s AS (SELECT f.event_type AS pool, f.bucket AS ts, f.value AS price,
               (f.value - c.c_mean) / c.c_mean AS dev,
               row_number() OVER (PARTITION BY f.event_type ORDER BY f.bucket) AS rn
             FROM filled f JOIN c USING (bucket)),
       walk AS (
         SELECT pool, 0 AS rn, CAST(NULL AS VARCHAR) AS side,
           CAST(NULL AS TIMESTAMP) AS e_ts, CAST(NULL AS DOUBLE) AS e_px,
           CAST(NULL AS VARCHAR) AS t_side, CAST(NULL AS TIMESTAMP) AS t_ets,
           CAST(NULL AS TIMESTAMP) AS t_xts, CAST(NULL AS DOUBLE) AS t_epx,
           CAST(NULL AS DOUBLE) AS t_xpx
         FROM (SELECT DISTINCT pool FROM s)
         UNION ALL
         SELECT pool, rn,
           CASE WHEN xc THEN NULL
                WHEN en THEN CASE WHEN dev <= -0.5 THEN 'long' ELSE 'short' END
                ELSE side END,
           CASE WHEN xc THEN NULL WHEN en THEN ts ELSE e_ts END,
           CASE WHEN xc THEN NULL WHEN en THEN price ELSE e_px END,
           CASE WHEN xc THEN side END,
           CASE WHEN xc THEN e_ts END,
           CASE WHEN xc THEN ts END,
           CASE WHEN xc THEN e_px END,
           CASE WHEN xc THEN price END
         FROM (
           SELECT s.pool, s.rn, s.ts, s.price, s.dev,
             w.side, w.e_ts, w.e_px,
             (w.side IS NOT NULL AND ((w.side = 'long' AND s.dev >= 0)
                                      OR (w.side = 'short' AND s.dev <= 0))) AS xc,
             (w.side IS NULL AND (s.dev <= -0.5 OR s.dev >= 0.5)) AS en
           FROM walk w JOIN s ON s.pool = w.pool AND s.rn = w.rn + 1))"""
}
