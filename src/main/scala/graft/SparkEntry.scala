package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.operators._

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Every `queries` entry is one operator family from SURVEY §2.6; each has a
  * DuckDB-equivalent `oracleSql` unless the op is not SQL-expressible.
  * Column names are aligned on both sides (the driver sorts columns by name
  * and hashes values). All aggregated doubles route through low-scale
  * decimals (see [[Tables.dsum]]) so both engines produce bit-identical
  * doubles.
  */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    Joins.joinMulti(spark, "/root/testdata/sf0.001")

  type Q = (SparkSession, String) => DataFrame

  def queries: Map[String, Q] = Map[String, Q](
    // family 1: scan / filter / project
    "q_filter_project" -> (Relational.filterProject _),
    "q_project_expr" -> (Relational.projectExpr _),
    // family 9: aggregates / grouping sets / sort-limit / set ops
    "q1_agg" -> (Relational.q1Agg _),
    "q_agg_having" -> (Relational.aggHaving _),
    "q_count_distinct" -> (Relational.countDistinct_ _),
    "q_kmv_distinct" -> (Sketches.kmvQuery _),
    "q_hll_distinct" -> (Sketches.hllQuery _),
    "q_cms_freq" -> (Sketches.cmsQuery _),
    "q_skew_report" -> (Profiling.skewReport _),
    "q_profile" -> (Profiling.columnProfile _),
    "q_bloom_filter" -> (graft.functions.Bloom.bloomQuery _),
    "q_zorder_key" -> (graft.sources.Layout.zorderQuery _),
    "q_rollup" -> (Relational.rollupAgg _),
    "q_cube" -> (Relational.cubeAgg _),
    "q_topk" -> (Relational.topK _),
    "q_percentiles" -> (Relational.percentiles _),
    "q_stats" -> (Relational.statsAgg _),
    "q_corr" -> (Relational.corrAgg _),
    "q_mad" -> (Relational.madAgg _),
    "q_histogram" -> (Relational.histogram _),
    "q_set_intersect" -> (Relational.setIntersect _),
    "q_set_except" -> (Relational.setExcept _),
    "q_set_union" -> (Relational.setUnion _),
    // family 2: enrichment joins
    "q_join_inner" -> (Joins.joinInner _),
    "q_join_left" -> (Joins.joinLeft _),
    "q_join_semi" -> (Joins.joinSemi _),
    "q_join_anti" -> (Joins.joinAnti _),
    "q_join_multi" -> (Joins.joinMulti _),
    "q_join_range" -> (Joins.joinRange _),
    "q_join_full_outer" -> (Joins.joinFullOuter _),
    // families 3 + 5: as-of / last-wins / analytic windows
    "q_asof_lag" -> (Windows.asofLag _),
    "q_latest_per_key" -> (Windows.latestPerKey _),
    "q_top1_per_key" -> (Windows.top1PerKey _),
    "q_window_rank" -> (Windows.windowRank _),
    "q_window_running" -> (Windows.windowRunning _),
    // family 4: map/array diff algebra (reference job 3)
    "q_diff_keys" -> (DiffOps.diffKeys _),
    "q_change_gate" -> (DiffOps.changeGate _),
    // families 6 + 8: explode / array membership
    "q_explode_words" -> (Arrays.explodeWords _),
    "q_array_ops" -> (Arrays.arrayOps _),
    "q_array_agg" -> (Arrays.arrayAgg _),
    // family 7: hierarchy / breadcrumbs (reference job 4)
    "q_hierarchy" -> (Hierarchy.treeBreadcrumbs _),
    "q_breadcrumb_names" -> (Hierarchy.breadcrumbNames _),
    // family 10: event-time windows (streaming-equivalent batch forms)
    "q_window_tumbling" -> (TimeWindows.tumbling _),
    "q_window_sliding" -> (TimeWindows.sliding _),
    "q_session_window" -> (TimeWindows.sessions _),
    // family 11: llm-ops — text analysis
    "q_token_stats" -> (llm.TextOps.tokenStats _),
    "q_quality_score" -> (llm.TextOps.qualityScore _),
    "q_lang_id" -> (llm.TextOps.langId _),
    "q_fingerprint" -> (llm.TextOps.fingerprint _),
    "q_token_bpe" -> (llm.TextOps.tokenBpe _),
    "q_unicode_norm" -> (llm.TextOps.unicodeNorm _),
    "q_bpe_train" -> ((s, d) => llm.TextOps.bpeTrainQuery(s, d)),
    "q_bpe_encode" -> ((s, d) => llm.TextOps.bpeEncodeQuery(s, d)),
    "q_bpe_fertility" -> (llm.TextOps.bpeFertility _),
    "q_bpe_coverage" -> ((s, d) => llm.TextOps.bpeCoverageQuery(s, d)),
    "q_tfidf" -> ((s, d) => llm.TextOps.tfIdf(s, d)),
    "q_bm25" -> ((s, d) => llm.TextOps.bm25(s, d)),
    "q_ngram_stats" -> ((s, d) => llm.TextOps.ngramStats(s, d)),
    "q_ngram_doc_score" -> ((s, d) => llm.TextOps.ngramDocScore(s, d)),
    "q_quality_clf_train" -> (llm.Classifier.clfTrainQuery _),
    "q_quality_clf_score" -> (llm.Classifier.clfScoreQuery _),
    "q_lm_model" -> (llm.TextOps.lmModel _),
    "q_lm_perplexity" -> (llm.TextOps.lmPerplexity _),
    "q_ccnet_buckets" -> (llm.TextOps.ccnetBuckets _),
    "q_corpus_release" -> ((s, d) => llm.TextOps.corpusRelease(s, d)),
    "q_corpus_release_inc" ->
      (streaming.StreamingRelease.corpusReleaseIncrementalQuery _),
    "q_corpus_release_takedown" ->
      (streaming.StreamingRelease.corpusReleaseTakedownQuery _),
    "q_corpus_release_asof" ->
      (streaming.StreamingRelease.corpusReleaseAsOfQuery _),
    "q_corpus_release_folded" ->
      (streaming.StreamingRelease.corpusReleaseFoldedQuery _),
    "q_corpus_release_pinned" ->
      (streaming.StreamingRelease.corpusReleasePinnedQuery _),
    "q_multimodal_release_takedown" ->
      (streaming.StreamingRelease.multimodalReleaseTakedownQuery _),
    "q_release_diff" ->
      (streaming.StreamingRelease.releaseDiffQuery _),
    "q_char_entropy" -> (llm.TextOps.charEntropy _),
    "q_text_embed" -> (llm.TextOps.embedText _),
    "q_pagerank" -> (operators.PageRank.pageRank _),
    // family 11: llm-ops — dedup
    "q_dedup_exact" -> (llm.Dedup.exact _),
    "q_soft_dedup" -> (llm.Dedup.softDedup _),
    "q_mix_ledger" -> (llm.Sampling.mixLedger _),
    "q_ngram_jaccard" -> ((s, d) => llm.Dedup.ngramJaccardPairs(s, d)),
    "q_minhash_lsh" -> ((s, d) => llm.Dedup.minhashLsh(s, d)),
    "q_simhash" -> (llm.Dedup.simhash _),
    "q_dup_clusters" -> ((s, d) => llm.Dedup.dupClusters(s, d)),
    "q_canonical_docs" -> (llm.Dedup.canonicalDocs _),
    "q_decontaminate" -> ((s, d) => llm.Dedup.decontaminate(s, d)),
    "q_hash_split" -> (llm.Sampling.hashSplit _),
    "q_split_leakage" -> (llm.Sampling.splitLeakage _),
    "q_content_split" -> (llm.Sampling.contentSplit _),
    "q_neardup_split" -> (llm.Sampling.neardupSplit _),
    "q_source_mix" -> ((s, d) => llm.Sampling.sourceMix(s, d)),
    "q_temperature_mix" -> (llm.Sampling.temperatureMix _),
    "q_kanon_release" -> ((s, d) => Relational.kanonRelease(s, d)),
    "q_budget_select" -> (llm.Sampling.budgetSelect _),
    "q_data_card" -> (llm.TextOps.dataCard _),
    "q_stratified_sample" -> ((s, d) => llm.Sampling.stratifiedSample(s, d)),
    "q_global_shuffle" -> (llm.Sampling.globalShuffle _),
    "q_negative_pairs" -> (llm.Sampling.negativePairs _),
    "q_curation_e2e" -> (llm.Curation.curationE2E _),
    "q_dup_spans" -> (llm.SpanDedup.dupSpans _),
    "q_span_scrub" -> (llm.SpanDedup.spanScrub _),
    "q_dsir" -> (llm.Dsir.dsirWeights _),
    "q_passage_chunks" -> (llm.Chunking.passageChunks _),
    "q_rank_fusion" -> (llm.Fusion.rrfFusion _),
    "q_epoch_plan" -> (llm.Sampling.epochPlan _),
    "q_triangle_count" -> (operators.Graphs.triangleCount _),
    "q_fuzzy_join" -> ((s, d) => operators.FuzzyJoin.fuzzyResolve(s, d)),
    "q_event_funnel" -> ((s, d) => operators.EventAnalytics.funnel(s, d)),
    "q_cohort_retention" -> (operators.EventAnalytics.cohortRetention _),
    "q_textrank" -> ((s, d) => llm.Keywords.textRank(s, d)),
    "q_rfm_segments" -> (operators.EventAnalytics.rfmSegments _),
    "q_top_paths" -> ((s, d) => operators.EventAnalytics.topPaths(s, d)),
    "q_anomaly_flags" -> ((s, d) => operators.EventAnalytics.anomalyFlags(s, d)),
    "q_linreg" -> (operators.Relational.linregAgg _),
    "q_funnel_windowed" -> ((s, d) => operators.EventAnalytics.funnelWindowed(s, d)),
    "q_stickiness" -> (operators.EventAnalytics.stickiness _),
    "q_markov" -> (operators.EventAnalytics.markovTransitions _),
    "q_session_stats" -> (operators.EventAnalytics.sessionStats _),
    "q_changepoint" -> (operators.EventAnalytics.changePoint _),
    "q_pmi" -> (llm.Collocations.pmi _),
    "q_equidepth" -> ((s, d) => Relational.equidepthHistogram(s, d)),
    "q_er_clusters" -> (operators.FuzzyJoin.erClusters _),
    "q_fuzzy_decontam" -> (llm.Dedup.fuzzyDecontaminate _),
    "q_autocorr" -> (operators.EventAnalytics.autocorr _),
    "q_seasonality" -> (operators.EventAnalytics.seasonality _),
    "q_funnel_latency" -> (operators.EventAnalytics.funnelLatency _),
    "q_seq_pairs" -> (operators.EventAnalytics.seqPairs _),
    "q_user_entropy" -> (operators.EventAnalytics.userEntropy _),
    "q_theilsen" -> (operators.EventAnalytics.theilSen _),
    "q_ab_test" -> (operators.EventAnalytics.abTest _),
    "q_word_neighbors" -> (llm.Collocations.wordNeighbors _),
    "q_assoc_rules" -> ((s, d) => operators.Graphs.assocRules(s, d)),
    "q_clustering_coef" -> (operators.Graphs.clusteringCoef _),
    "q_psi" -> (operators.StatTests.psi _),
    "q_chi2" -> (operators.StatTests.chi2 _),
    "q_mutual_info" -> (operators.StatTests.mutualInfo _),
    "q_spearman" -> (operators.StatTests.spearman _),
    "q_psi_persisted" -> (operators.StatTests.psiPersistedQuery _),
    "q_containment" -> (llm.Dedup.containmentPairs _),
    "q_trimmed_mean" -> (Relational.trimmedMean _),
    "q_itemsets3" -> ((s, d) => operators.Graphs.itemsets3(s, d)),
    "q_graph_summary" -> (operators.Graphs.graphSummary _),
    "q_type_overlap" -> (operators.EventAnalytics.typeOverlap _),
    "q_daily_percentiles" -> (operators.EventAnalytics.dailyPercentiles _),
    "q_kmv_setops" -> (Sketches.kmvSetOpsQuery _),
    "q_quantile_norm" -> (llm.Fusion.quantileNorm _),
    "q_ngram_diversity" -> (llm.Collocations.ngramDiversity _),
    "q_weighted_sample" -> ((s, d) => llm.Sampling.weightedSample(s, d)),
    "q_quantile_sketch" -> (operators.Sketches.quantileSketchQuery _),
    "q_inverted_index" -> ((s, d) => llm.TextOps.invertedIndex(s, d)),
    // family 11: llm-ops — corpus curation (C4/Gopher-style passes)
    "q_line_dedup" -> (llm.TextCuration.lineDedup _),
    "q_repetition_filter" -> ((s, d) => llm.TextCuration.repetitionStats(s, d)),
    "q_sequence_pack" -> ((s, d) => llm.TextCuration.sequencePack(s, d)),
    "q_shard_plan" -> ((s, d) => llm.Sampling.shardPlan(s, d)),
    "q_pii_redact" -> (llm.TextCuration.piiRedact _),
    "q_gopher_rules" -> (llm.TextCuration.gopherRules _),
    "q_c4_rules" -> (llm.TextCuration.c4Rules _),
    // family 11: llm-ops — similarity search
    "q_cosine_topk" -> ((s, d) => llm.Similarity.cosineTopK(s, d)),
    "q_cosine_topk_ivf" -> ((s, d) => llm.Similarity.cosineTopKIvf(s, d)),
    "q_ann_pairs" -> ((s, d) => llm.Similarity.annPairs(s, d)),
    "q_knn_join" -> (llm.Similarity.knnJoinQuery _),
    "q_ivf_train" -> (llm.Similarity.ivfTrainQuery _),
    "q_proto_prune" -> ((s, d) => llm.Similarity.protoPrune(s, d)),
    "q_cluster_sample" -> ((s, d) => llm.Similarity.clusterSample(s, d)),
    "q_cluster_purity" -> ((s, d) => llm.Similarity.clusterPurity(s, d)),
    "q_label_noise" -> ((s, d) => llm.Similarity.labelNoise(s, d)),
    "q_margin_pairs" -> ((s, d) => llm.Similarity.marginPairs(s, d)),
    "q_source_cap" -> ((s, d) => llm.Sampling.sourceCap(s, d)),
    "q_int8_quant" -> (llm.Similarity.int8Audit _),
    "q_int8_recall" -> ((s, d) => llm.Similarity.int8Recall(s, d)),
    "q_pq_train" -> (llm.Similarity.pqTrainQuery _),
    "q_pq_encode" -> (llm.Similarity.pqEncodeQuery _),
    "q_pq_adc" -> (llm.Similarity.pqAdcQuery _),
    "q_ivfpq_search" -> (llm.Similarity.ivfPqSearchQuery _),
    // persisted trained artifacts: build into a scratch ModelStore, serve
    // FROM the store, hash-match the train-inline query's oracle
    "q_ivfpq_persisted" -> (llm.Similarity.ivfPqPersistedQuery _),
    "q_ivfpq_merged" -> (llm.Similarity.ivfPqMergedQuery _),
    "q_ann_recall" -> ((s, d) => llm.Similarity.annRecall(s, d)),
    "q_ann_recall_auto" -> ((s, d) => llm.Similarity.annRecallAuto(s, d)),
    "q_ann_recall_residual" ->
      ((s, d) => llm.Similarity.annRecall(s, d, variant = "residual")),
    "q_ann_residual_inc" ->
      (streaming.StreamingAnn.annResidualIncrementalQuery _),
    "q_ann_compacted" ->
      (streaming.StreamingAnn.annCompactedQuery _),
    "q_ann_compacted_residual" ->
      (streaming.StreamingAnn.annCompactedResidualQuery _),
    "q_ann_deleted" ->
      (streaming.StreamingAnn.annDeletedQuery _),
    "q_ann_filtered" -> ((s, d) => llm.Similarity.annRecall(s, d,
      pred = Some(llm.Similarity.allowedThirds))),
    "q_ann_filtered_residual" -> ((s, d) => llm.Similarity.annRecall(s,
      d, variant = "residual", pred = Some(llm.Similarity.allowedThirds))),
    "q_ann_filtered_inc" ->
      (streaming.StreamingAnn.annFilteredIncrementalQuery _),
    "q_ann_asof" -> (streaming.StreamingAnn.annAsOfQuery _),
    "q_ann_tagged" -> (streaming.StreamingAnn.annTaggedQuery _),
    "q_ann_retained" ->
      (streaming.StreamingAnn.annRetainedQuery _),
    "q_ann_run" ->
      (streaming.StreamingAnn.annRunTaggedQuery _),
    "q_ann_autopilot" ->
      (streaming.StreamingAnn.annAutopilotQuery _),
    "q_ann_range" -> ((s, d) => llm.Similarity.ivfPqRangeSearchQuery(s, d)),
    "q_ann_range_residual" ->
      ((s, d) => llm.Similarity.ivfPqRangeSearchQuery(s, d, "residual")),
    "q_ann_range_inc" ->
      (streaming.StreamingAnn.annRangeIncrementalQuery _),
    "q_ann_range_filtered" ->
      (streaming.StreamingAnn.annRangeFilteredQuery _),
    "q_ann_range_deleted" ->
      (streaming.StreamingAnn.annRangeDeletedQuery _),
    "q_ann_range_asof" ->
      (streaming.StreamingAnn.annRangeAsOfQuery _),
    "q_ann_range_residual_inc" ->
      (streaming.StreamingAnn.annRangeResidualIncrementalQuery _),
    "q_cosine_range" -> ((s, d) => llm.Similarity.cosineRange(s, d)),
    "q_ivfpq_batch" -> ((s, d) => llm.Similarity.ivfPqKnnJoinQuery(s, d)),
    "q_ivfpq_batch_filtered" ->
      (llm.Similarity.ivfPqKnnJoinFilteredQuery _),
    "q_ivfpq_batch_deleted" ->
      (streaming.StreamingAnn.ivfPqBatchDeletedQuery _),
    "q_ivfpq_batch_asof" ->
      (streaming.StreamingAnn.ivfPqBatchAsOfQuery _),
    "q_multimodal_release_asof" ->
      (streaming.StreamingRelease.multimodalReleaseAsOfQuery _),
    "q_ivfpq_batch_inc" ->
      (streaming.StreamingAnn.ivfPqBatchIncrementalQuery _),
    "q_ivfpq_batch_residual" ->
      ((s, d) => llm.Similarity.ivfPqKnnJoinQuery(s, d, "residual")),
    "q_bpe_persisted" -> ((s, d) => llm.TextOps.bpePersistedQuery(s, d)),
    "q_lm_persisted" -> (llm.TextOps.lmPersistedQuery _),
    "q_clf_persisted" -> (llm.Classifier.clfPersistedQuery _),
    "q_jl_project" -> (llm.Similarity.jlProjectQuery _),
    "q_pca_power" -> (llm.Similarity.pcaPowerQuery _),
    "q_embedding_dedup" -> ((s, d) => llm.Similarity.embeddingDedup(s, d)),
    "q_semdedup" -> (llm.Similarity.semDedupQuery _),
    // family 11: llm-ops — multimodal plumbing (oracle-checkable slice)
    "q_binary_meta" -> (llm.Multimodal.binaryMeta _),
    "q_multimodal_release" -> (llm.Multimodal.multimodalReleaseQuery _),
    "q_multimodal_release_inc" ->
      (streaming.StreamingRelease.multimodalReleaseIncrementalQuery _),
    "q_multimodal_release_folded" ->
      (streaming.StreamingRelease.multimodalReleaseFoldedQuery _),
    "q_xent_gate_lang" ->
      (streaming.StreamingRelease.xentGateByLangQuery _),
    // family 9 extras: scalar functions, conditional agg, pivot, ranking
    "q_string_funcs" -> (Scalar.stringFuncs _),
    "q_date_funcs" -> (Scalar.dateFuncs _),
    "q_regex_funcs" -> (Scalar.regexFuncs _),
    "q_conditional_agg" -> (Scalar.conditionalAgg _),
    "q_pivot" -> (Scalar.pivotCounts _),
    "q_rank_variants" -> (Scalar.rankVariants _),
    // family 3 extra: generic two-table as-of join (single-shuffle form)
    "q_asof_join" -> (AsOfJoin.eventsAsofOrders _),
    // whole-pipeline headline: 4-job chain over the events table, checked
    // against a full SQL reconstruction of the final document state
    "q_pipeline_e2e" -> (jobs.Pipeline.pipelineE2E _),
  )

  // DuckDB oracle equivalents. Low-scale decimal round-trips (values at
  // (14,2), rates at (4,2) — the data is 2-decimal) keep double aggregates
  // bit-identical between engines: decimal math is exact on both sides and
  // every sum's scaled integer stays < 2^53, where decimal→double casts
  // are exact (wider scales double-round in DuckDB; see Tables.dsum).
  private val D = "DECIMAL(14,2)"
  private val R = "DECIMAL(4,2)"
  private def dsum(c: String) = s"CAST(SUM(CAST($c AS $D)) AS DOUBLE)"

  // shared minhash signature CTE fragment: the single SQL definition of
  // the split-digest scheme (Dedup.sigHash's oracle mirror), interpolated
  // into every query that builds signatures — one definition on each side,
  // a scheme change cannot silently miss one copy. `%EX%` is the shingle
  // CTE name.
  private def sigCte(ex: String) =
    s"""ab AS (SELECT doc_id,
      |         CAST(('0x' || substr(md5(s), 1, 15)) AS BIGINT) AS h0,
      |         CAST(('0x' || substr(md5(s), 16, 15)) AS BIGINT) AS h1,
      |         CAST(('0x' || substr(md5(s || '#b'), 1, 15)) AS BIGINT) AS h2,
      |         CAST(('0x' || substr(md5(s || '#b'), 16, 15)) AS BIGINT) AS h3,
      |         CAST(('0x' || substr(md5(s || '#c'), 1, 15)) AS BIGINT) AS h4,
      |         CAST(('0x' || substr(md5(s || '#c'), 16, 15)) AS BIGINT) AS h5,
      |         CAST(('0x' || substr(md5(s || '#d'), 1, 15)) AS BIGINT) AS h6,
      |         CAST(('0x' || substr(md5(s || '#d'), 16, 15)) AS BIGINT) AS h7
      |       FROM $ex),
      |sig AS (SELECT doc_id, [MIN(h0), MIN(h1), MIN(h2), MIN(h3),
      |                        MIN(h4), MIN(h5), MIN(h6), MIN(h7)] AS sig
      |        FROM ab GROUP BY doc_id)""".stripMargin

  // trained-IVF Lloyd/argmin CTE body (2 unrolled rounds -> final argmin
  // assignment `af`; no WITH/ex head) — mirrors Similarity
  // .lloydCentroids/assignCells with "lowest" seeding. Appended to other
  // chains that already define `ex` (q_ivfpq_search onto pqChain) and
  // wrapped as ivfAssignCte for q_ivf_train / q_semdedup
  private val ivfAssignBody =
    """c0 AS (SELECT CAST(vec_id AS INTEGER) AS cid, i, x AS c FROM ex WHERE vec_id < 4),
      |d1 AS (SELECT e.vec_id, c.cid, sum((e.x - c.c) * (e.x - c.c)) AS d
      |       FROM ex e JOIN c0 c ON e.i = c.i GROUP BY e.vec_id, c.cid),
      |a1 AS (SELECT vec_id, cid FROM
      |        (SELECT vec_id, cid, row_number() OVER (PARTITION BY vec_id ORDER BY d, cid) AS rn FROM d1)
      |       WHERE rn = 1),
      |c1 AS (SELECT a.cid, e.i, avg(e.x) AS c FROM ex e JOIN a1 a USING (vec_id) GROUP BY a.cid, e.i),
      |d2 AS (SELECT e.vec_id, c.cid, sum((e.x - c.c) * (e.x - c.c)) AS d
      |       FROM ex e JOIN c1 c ON e.i = c.i GROUP BY e.vec_id, c.cid),
      |a2 AS (SELECT vec_id, cid FROM
      |        (SELECT vec_id, cid, row_number() OVER (PARTITION BY vec_id ORDER BY d, cid) AS rn FROM d2)
      |       WHERE rn = 1),
      |c2 AS MATERIALIZED (SELECT a.cid, e.i, avg(e.x) AS c FROM ex e JOIN a2 a USING (vec_id) GROUP BY a.cid, e.i),
      |df AS (SELECT e.vec_id, c.cid, sum((e.x - c.c) * (e.x - c.c)) AS d
      |       FROM ex e JOIN c2 c ON e.i = c.i GROUP BY e.vec_id, c.cid),
      |af AS MATERIALIZED (SELECT vec_id, cid FROM
      |        (SELECT vec_id, cid, row_number() OVER (PARTITION BY vec_id ORDER BY d, cid) AS rn FROM df)
      |       WHERE rn = 1)""".stripMargin

  // shared PageRank round CTE (fixed-point quantized in-neighbor sums;
  // see the q_pagerank comment) — used by q_pagerank AND q_textrank so
  // the iteration arithmetic cannot silently diverge. Expects CTEs `e`
  // (src, dst, w DOUBLE, wout DOUBLE), `nodes` (node), `r{k-1}` in scope.
  private def pageRankRoundCte(k: Int): String =
    s"""c$k AS (SELECT e.dst,
       |          CAST(floor(r.rank * e.w / e.wout *
       |                     CAST(1000000000 AS DOUBLE)) AS BIGINT) AS cq
       |        FROM e JOIN r${k - 1} r ON r.node = e.src),
       |s$k AS (SELECT dst AS node,
       |          CAST(CAST(sum(cq) AS BIGINT) AS DOUBLE) /
       |            CAST(1000000000 AS DOUBLE) AS s
       |        FROM c$k GROUP BY dst),
       |r$k AS (SELECT n.node, CAST(0.15 AS DOUBLE) +
       |          CAST(0.85 AS DOUBLE) * coalesce(s$k.s, CAST(0 AS DOUBLE)) AS rank
       |        FROM nodes n LEFT JOIN s$k ON n.node = s$k.node)""".stripMargin

  // shared trained-IVF CTE chain (2 unrolled Lloyd rounds -> final argmin
  // assignment `af`) used by q_ivf_train AND q_semdedup — mirrors
  // Similarity.lloydCentroids/assignCells with "lowest" seeding
  private val ivfAssignCte =
    """WITH ex AS (SELECT vec_id, i - 1 AS i, CAST(embedding[i] AS DOUBLE) AS x
      |            FROM embeddings CROSS JOIN generate_series(1, 64) t(i)),
      |""".stripMargin + ivfAssignBody

  // shared in-cell DIRECTED cosine pair chain over the trained assignment
  // (mirrors Similarity.cellDirectedPairs: each unordered in-cell pair's
  // cosine computed once, round 9, then both directions) — used by
  // q_label_noise AND q_margin_pairs so the pair table cannot diverge
  private val cellPairsCte = ivfAssignCte + """,
    |emb2 AS (SELECT e.vec_id, e.embedding, e.label, a.cid
    |         FROM embeddings e JOIN af a USING (vec_id)),
    |p AS (SELECT a.vec_id AS id_a, a.label AS la,
    |        b.vec_id AS id_b, b.label AS lb,
    |        round(
    |          list_reduce(list_prepend(0.0, list_transform(list_zip(a.embedding, b.embedding),
    |            q -> CAST(q[1] AS DOUBLE) * CAST(q[2] AS DOUBLE))), (x, y) -> x + y)
    |          / (sqrt(list_reduce(list_prepend(0.0, list_transform(a.embedding,
    |               v -> CAST(v AS DOUBLE) * CAST(v AS DOUBLE))), (x, y) -> x + y))
    |             * sqrt(list_reduce(list_prepend(0.0, list_transform(b.embedding,
    |               v -> CAST(v AS DOUBLE) * CAST(v AS DOUBLE))), (x, y) -> x + y))), 9) AS cos_sim
    |      FROM emb2 a JOIN emb2 b ON a.cid = b.cid AND a.vec_id < b.vec_id),
    |z AS (SELECT id_a AS q_id, la AS ql, id_b AS vid, lb AS nl, cos_sim FROM p
    |      UNION ALL
    |      SELECT id_b AS q_id, lb AS ql, id_a AS vid, la AS nl, cos_sim FROM p)""".stripMargin

  // shared sign-LSH CTE prefix (deterministic md5 plane table -> buckets ->
  // exact-cosine candidate pairs) used by q_ann_pairs AND q_embedding_dedup
  // so a fix to one cannot silently diverge from the other
  private val annPairsCte =
    """WITH planes AS (
      |  SELECT j, i,
      |    ((CAST(('0x' || substr(md5(CAST(j AS VARCHAR) || '#' || CAST(i AS VARCHAR)), 1, 15)) AS BIGINT) % 2001 - 1000) / 1000.0) AS w
      |  FROM range(0, 8) t(j) CROSS JOIN range(0, 64) s(i)),
      |ex AS (SELECT vec_id, i - 1 AS i, CAST(embedding[i] AS DOUBLE) AS x
      |       FROM embeddings CROSS JOIN generate_series(1, 64) t(i)),
      |proj AS (SELECT e.vec_id, p.j, SUM(e.x * p.w) AS proj
      |         FROM ex e JOIN planes p ON e.i = p.i GROUP BY e.vec_id, p.j),
      |buckets AS (SELECT vec_id, string_agg(CASE WHEN proj >= 0 THEN '1' ELSE '0' END, '' ORDER BY j) AS bucket
      |            FROM proj GROUP BY vec_id),
      |be AS (SELECT b.vec_id, b.bucket, e.embedding FROM buckets b JOIN embeddings e USING (vec_id)),
      |pairs AS (
      |  SELECT a.vec_id AS id_a, b.vec_id AS id_b,
      |    round(
      |      list_reduce(list_prepend(0.0, list_transform(list_zip(a.embedding, b.embedding), p -> CAST(p[1] AS DOUBLE)*CAST(p[2] AS DOUBLE))), (x,y)->x+y)
      |      / (sqrt(list_reduce(list_prepend(0.0, list_transform(a.embedding, v -> CAST(v AS DOUBLE)*CAST(v AS DOUBLE))), (x,y)->x+y))
      |        * sqrt(list_reduce(list_prepend(0.0, list_transform(b.embedding, v -> CAST(v AS DOUBLE)*CAST(v AS DOUBLE))), (x,y)->x+y))), 9) AS cos_sim
      |  FROM be a JOIN be b ON a.bucket = b.bucket AND a.vec_id < b.vec_id)""".stripMargin

  // learned BPE merge training: 8 unrolled rounds, generated — each round
  // is pair-count → argmax (ties lexicographic) → literal regexp_replace
  // merge. The two-space symbol encoding makes ONE replace pass exact
  // greedy leftmost-first merging in BOTH regex engines (no lookaround,
  // which RE2 lacks); see TextOps.bpeTrain.
  private val bpeRounds = 8

  // shared CTE chain (v0..vN with the word key carried through, pair
  // counts pR, argmax bR) — ONE definition feeds both the train and the
  // encode oracle, so the two cannot disagree on merge semantics
  private val bpeCteChain: String = {
    val head =
      """WITH v0 AS (
        |  SELECT word, ' ' || rtrim(regexp_replace(word, '(.)', '\1  ', 'g')) || ' ' AS w,
        |         count(*) AS cnt
        |  FROM (SELECT unnest(regexp_extract_all(lower(text), '[a-z]+')) AS word FROM documents)
        |  GROUP BY word)""".stripMargin
    val steps = (1 to bpeRounds).map { r =>
      s"""p$r AS (SELECT a, b, CAST(sum(cnt) AS BIGINT) AS freq FROM (
         |  SELECT unnest([{'a': l[i], 'b': l[i+1]} for i in generate_series(1, len(l)-1)], recursive := true), cnt
         |  FROM (SELECT string_split(trim(w), '  ') AS l, cnt FROM v${r - 1})
         |) GROUP BY a, b),
         |b$r AS (SELECT $r AS step, a, b, freq FROM p$r ORDER BY freq DESC, a, b LIMIT 1),
         |v$r AS (SELECT v.word,
         |          CASE WHEN m.a IS NULL THEN v.w
         |               ELSE regexp_replace(v.w, ' ' || m.a || '  ' || m.b || ' ', ' ' || m.a || m.b || ' ', 'g') END AS w,
         |          v.cnt
         |        FROM v${r - 1} v LEFT JOIN b$r m ON TRUE)""".stripMargin
    }.mkString(",\n")
    s"$head,\n$steps"
  }

  private val bpeTrainOracle: String = {
    val union = (1 to bpeRounds).map(r => s"SELECT * FROM b$r")
      .mkString(" UNION ALL ")
    s"$bpeCteChain\n" +
      "SELECT CAST(step AS INTEGER) AS step, a AS left_sym, " +
      s"b AS right_sym, freq FROM ($union) ORDER BY step"
  }

  private val bpeEncodeOracle: String =
    s"""$bpeCteChain,
       |wt AS (SELECT word, len(string_split(trim(w), '  ')) AS n_toks FROM v$bpeRounds),
       |dw AS (SELECT doc_id, unnest(regexp_extract_all(lower(text), '[a-z]+')) AS word FROM documents)
       |SELECT doc_id, count(*) AS n_words, CAST(sum(n_toks) AS BIGINT) AS n_learned_tokens
       |FROM dw JOIN wt USING (word)
       |GROUP BY doc_id ORDER BY doc_id""".stripMargin

  private val bpeCoverageOracle: String =
    s"""$bpeCteChain,
       |wt AS (SELECT word, len(string_split(trim(w), '  ')) AS n_toks FROM v$bpeRounds),
       |dw AS (SELECT unnest(regexp_extract_all(lower(text), '[a-z]+')) AS word FROM documents),
       |a AS (SELECT CAST(count(*) AS DOUBLE) AS n_words,
       |        CAST(CAST(sum(n_toks) AS BIGINT) AS DOUBLE) AS n_tokens,
       |        CAST(CAST(sum(CASE WHEN n_toks = 1 THEN 1 ELSE 0 END) AS BIGINT) AS DOUBLE) AS n_single
       |      FROM dw JOIN wt USING (word))
       |SELECT * FROM (
       |  SELECT 'n_words' AS metric, n_words AS value FROM a
       |  UNION ALL SELECT 'n_tokens', n_tokens FROM a
       |  UNION ALL SELECT 'tokens_per_word', round(n_tokens / n_words, 6) FROM a
       |  UNION ALL SELECT 'single_token_frac', round(n_single / n_words, 6) FROM a)
       |ORDER BY metric""".stripMargin

  // product quantization: per-subspace Lloyd rounds (the q_ivf_train CTE
  // pattern × m subspaces), codes via per-subspace argmin pivoted into
  // fixed columns, ADC via an ORDER BY i list_reduce distance table —
  // the sequential fold mirrors the driver-side fixed-order fold in
  // Similarity.pqAdc, the only summation order both engines can pin.
  // ONE generated chain feeds all three PQ oracles.
  private val pqChain: String = pqChainWith(
    """WITH ex AS (SELECT vec_id, i - 1 AS i, CAST(embedding[i] AS DOUBLE) AS x
      |            FROM embeddings CROSS JOIN generate_series(1, 64) t(i))""".stripMargin)

  // unit-domain ex head: per-vector L2 normalization with the SAME
  // sequential list_reduce fold the Spark native dot runs (the IVF-PQ
  // index stack normalizes at ingest so ADC's squared-L2 ranking is
  // cosine ranking — Similarity.explodeVecsUnit; zero vectors pass
  // through, mirrored by the CASE)
  private val pqChainUnit: String = pqChainWith(
    """WITH exr AS (SELECT vec_id, i - 1 AS i, CAST(embedding[i] AS DOUBLE) AS x,
      |        sqrt(list_reduce(list_prepend(0.0, list_transform(embedding, v -> CAST(v AS DOUBLE) * CAST(v AS DOUBLE))), (a, b) -> a + b)) AS nrm
      |      FROM embeddings CROSS JOIN generate_series(1, 64) t(i)),
      |ex AS (SELECT vec_id, i, CASE WHEN nrm > 0 THEN x / nrm ELSE x END AS x FROM exr)""".stripMargin)

  private def pqChainWith(head: String): String = {
    val (m, sub, k) = (4, 16, 8)
    val subs = (0 until m).map { s =>
      val lo = s * sub
      s"""e$s AS (SELECT vec_id, i - $lo AS i, x FROM ex WHERE i >= $lo AND i < ${lo + sub}),
         |c${s}_0 AS (SELECT CAST(vec_id AS INTEGER) AS cid, i, x AS c FROM e$s WHERE vec_id < $k),
         |d${s}_1 AS (SELECT e.vec_id, c.cid, sum((e.x - c.c) * (e.x - c.c)) AS d
         |            FROM e$s e JOIN c${s}_0 c ON e.i = c.i GROUP BY e.vec_id, c.cid),
         |a${s}_1 AS (SELECT vec_id, cid FROM
         |             (SELECT vec_id, cid, row_number() OVER (PARTITION BY vec_id ORDER BY d, cid) AS rn FROM d${s}_1)
         |            WHERE rn = 1),
         |c${s}_1 AS (SELECT a.cid, e.i, avg(e.x) AS c FROM e$s e JOIN a${s}_1 a USING (vec_id) GROUP BY a.cid, e.i),
         |d${s}_2 AS (SELECT e.vec_id, c.cid, sum((e.x - c.c) * (e.x - c.c)) AS d
         |            FROM e$s e JOIN c${s}_1 c ON e.i = c.i GROUP BY e.vec_id, c.cid),
         |a${s}_2 AS (SELECT vec_id, cid FROM
         |             (SELECT vec_id, cid, row_number() OVER (PARTITION BY vec_id ORDER BY d, cid) AS rn FROM d${s}_2)
         |            WHERE rn = 1),
         |c${s}_2 AS (SELECT a.cid, e.i, avg(e.x) AS c FROM e$s e JOIN a${s}_2 a USING (vec_id) GROUP BY a.cid, e.i),
         |df$s AS (SELECT e.vec_id, c.cid, sum((e.x - c.c) * (e.x - c.c)) AS d
         |         FROM e$s e JOIN c${s}_2 c ON e.i = c.i GROUP BY e.vec_id, c.cid),
         |af$s AS (SELECT vec_id, cid FROM
         |          (SELECT vec_id, cid, row_number() OVER (PARTITION BY vec_id ORDER BY d, cid) AS rn FROM df$s)
         |         WHERE rn = 1)""".stripMargin
    }.mkString(",\n")
    val codes =
      s"""codes AS (SELECT vec_id,
         |    ${(0 until m).map(s =>
              s"max(CASE WHEN m = $s THEN cid END) AS c$s").mkString(", ")}
         |  FROM (${(0 until m).map(s =>
              s"SELECT vec_id, $s AS m, cid FROM af$s").mkString(" UNION ALL ")})
         |  GROUP BY vec_id)""".stripMargin
    s"$head,\n$subs,\n$codes"
  }

  // auto-dialed sample-trained IVF-PQ recall replay (q_ann_recall_auto;
  // mirrors Similarity.annRecallAuto / saveIvfPqIndexAuto): BOTH dial
  // rules are SQL — k = clamp(ceil(sqrt(N)), 4, trainN // 39) and
  // spill = clamp(k // 6, 1, 4) — so a silent change to either
  // hash-mismatches; the quantizers train on the vec_id % 2 <> 0 slice
  // only (rank-based seeds over the SLICE: `vec_id < k` no longer holds
  // on non-contiguous ids), with the empty-cluster retention the Spark
  // Lloyd rounds apply (LEFT JOIN + coalesce per round — at k≈√N a
  // duplicate seed vector CAN empty a cell, unlike the fixed kCells=4
  // chains), then encode ALL vectors into their top-`spill` cells
  // (rn <= spill over the same (d, cid) ranking whose rn = 1 is the
  // argmin assignment) and serve probe → per-cell ADC shortlist of
  // 100·spill (the replication multiplies probed-cell population, so
  // the budget scales with it) → DISTINCT shortlist ids (a spilled
  // vector can surface from two probed cells) → exact rerank per
  // nprobe.
  private lazy val annRecallAutoOracle: String = {
    // one Lloyd round with retention: prev centroids `p` + points `pts`
    // (vec_id, i, x) → assignments a$tag, updates u$tag, next c = $out
    def lloydRound(pts: String, p: String, out: String, tag: String) =
      s"""d$tag AS (SELECT e.vec_id, c.cid, sum((e.x - c.c) * (e.x - c.c)) AS d
         |        FROM $pts e JOIN $p c ON e.i = c.i GROUP BY e.vec_id, c.cid),
         |a$tag AS (SELECT vec_id, cid FROM
         |         (SELECT vec_id, cid, row_number() OVER (PARTITION BY vec_id ORDER BY d, cid) AS rn FROM d$tag)
         |        WHERE rn = 1),
         |u$tag AS (SELECT a.cid, e.i, avg(e.x) AS c FROM $pts e JOIN a$tag a USING (vec_id) GROUP BY a.cid, e.i),
         |$out AS (SELECT p.cid, p.i, coalesce(u.c, p.c) AS c
         |        FROM $p p LEFT JOIN u$tag u ON u.cid = p.cid AND u.i = p.i)""".stripMargin
    val head =
      """WITH exr AS (SELECT vec_id, i - 1 AS i, CAST(embedding[i] AS DOUBLE) AS x,
        |        sqrt(list_reduce(list_prepend(0.0, list_transform(embedding, v -> CAST(v AS DOUBLE) * CAST(v AS DOUBLE))), (a, b) -> a + b)) AS nrm
        |      FROM embeddings CROSS JOIN generate_series(1, 64) t(i)),
        |ex AS (SELECT vec_id, i, CASE WHEN nrm > 0 THEN x / nrm ELSE x END AS x FROM exr),
        |ext AS (SELECT * FROM ex WHERE vec_id % 2 <> 0),
        |kk0 AS (SELECT greatest(4, least(CAST(ceil(sqrt(CAST(a.n AS DOUBLE))) AS BIGINT),
        |                                 greatest(4, b.tn // 39))) AS k
        |        FROM (SELECT count(*) AS n FROM embeddings) a
        |        CROSS JOIN (SELECT count(*) AS tn FROM embeddings WHERE vec_id % 2 <> 0) b),
        |kk AS (SELECT k, greatest(1, least(4, k // 6)) AS sp FROM kk0),
        |ids AS (SELECT vec_id, row_number() OVER (ORDER BY vec_id) AS rn
        |        FROM (SELECT DISTINCT vec_id FROM ext)),
        |seeds AS (SELECT vec_id, CAST(rn - 1 AS INTEGER) AS cid FROM ids
        |          WHERE rn <= (SELECT k FROM kk)),
        |seeds8 AS (SELECT vec_id, CAST(rn - 1 AS INTEGER) AS cid FROM ids WHERE rn <= 8),
        |g0 AS (SELECT s.cid, e.i, e.x AS c FROM ext e JOIN seeds s USING (vec_id))""".stripMargin
    val coarse = Seq(
      lloydRound("ext", "g0", "g1", "g1r"),
      lloydRound("ext", "g1", "g2", "g2r"),
      // full-corpus SPILLED assignment: top-`sp` cells per vector (the
      // rn = 1 prefix of this ranking IS the argmin assignment)
      """gdf AS (SELECT e.vec_id, c.cid, sum((e.x - c.c) * (e.x - c.c)) AS d
        |        FROM ex e JOIN g2 c ON e.i = c.i GROUP BY e.vec_id, c.cid),
        |af AS (SELECT vec_id, cid FROM
        |        (SELECT vec_id, cid, row_number() OVER (PARTITION BY vec_id ORDER BY d, cid) AS rn FROM gdf)
        |       WHERE rn <= (SELECT sp FROM kk))""".stripMargin).mkString(",\n")
    val pq = (0 until 4).map { s =>
      val lo = s * 16
      Seq(
        s"t$s AS (SELECT vec_id, i - $lo AS i, x FROM ext WHERE i >= $lo AND i < ${lo + 16})",
        s"f$s AS (SELECT vec_id, i - $lo AS i, x FROM ex WHERE i >= $lo AND i < ${lo + 16})",
        s"p${s}0 AS (SELECT c.cid, e.i, e.x AS c FROM t$s e JOIN seeds8 c USING (vec_id))",
        lloydRound(s"t$s", s"p${s}0", s"p${s}1", s"p${s}r1"),
        lloydRound(s"t$s", s"p${s}1", s"p${s}2", s"p${s}r2"),
        s"""pdf$s AS (SELECT e.vec_id, c.cid, sum((e.x - c.c) * (e.x - c.c)) AS d
           |         FROM f$s e JOIN p${s}2 c ON e.i = c.i GROUP BY e.vec_id, c.cid),
           |paf$s AS (SELECT vec_id, cid FROM
           |          (SELECT vec_id, cid, row_number() OVER (PARTITION BY vec_id ORDER BY d, cid) AS rn FROM pdf$s)
           |         WHERE rn = 1)""".stripMargin).mkString(",\n")
    }.mkString(",\n")
    val codes =
      s"""codes AS (SELECT vec_id,
         |    ${(0 until 4).map(s =>
              s"max(CASE WHEN m = $s THEN cid END) AS c$s").mkString(", ")}
         |  FROM (${(0 until 4).map(s =>
              s"SELECT vec_id, $s AS m, cid FROM paf$s").mkString(" UNION ALL ")})
         |  GROUP BY vec_id)""".stripMargin
    val query =
      s"""qq AS (SELECT i AS gi, x AS qx FROM ex WHERE vec_id = 0),
         |qd AS (SELECT c.cid,
         |  round(list_reduce(list_prepend(0.0, list((qq.qx - c.c) * (qq.qx - c.c) ORDER BY c.i)), (a, b) -> a + b), 9) AS d
         |  FROM g2 c JOIN qq ON qq.gi = c.i GROUP BY c.cid),
         |${(0 until 4).map(s =>
            s"""dt$s AS (SELECT cid,
               |  list_reduce(list_prepend(0.0, list((qx - c) * (qx - c) ORDER BY i)), (a, b) -> a + b) AS d
               |  FROM p${s}2 c JOIN qq ON qq.gi = ${s * 16} + c.i GROUP BY cid)""".stripMargin)
            .mkString(",\n")},
         |ul AS (SELECT vec_id, list(x ORDER BY i) AS ux FROM ex GROUP BY vec_id),
         |qa AS (SELECT list(x ORDER BY i) AS uq FROM ex WHERE vec_id = 0),
         |truth AS (SELECT z.vec_id FROM (
         |  SELECT e.vec_id,
         |    round(list_reduce(list_prepend(0.0, list_transform(list_zip(e.embedding, q.qe),
         |      p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE))), (a, b) -> a + b) /
         |     (sqrt(list_reduce(list_prepend(0.0, list_transform(e.embedding,
         |        x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))), (a, b) -> a + b)) *
         |      sqrt(list_reduce(list_prepend(0.0, list_transform(q.qe,
         |        x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))), (a, b) -> a + b))), 9) AS cos_sim
         |  FROM embeddings e, (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0) q
         |  WHERE e.vec_id <> 0 ORDER BY cos_sim DESC, e.vec_id LIMIT 10) z)""".stripMargin
    val sweeps = Seq(1, 2, 4, 8).map(np =>
      s"""probe$np AS (SELECT cid FROM
         |           (SELECT cid, row_number() OVER (ORDER BY d, cid) AS rn FROM qd)
         |          WHERE rn <= $np),
         |short$np AS (SELECT DISTINCT vec_id FROM (
         |  SELECT k.vec_id, a.cid,
         |    row_number() OVER (PARTITION BY a.cid
         |      ORDER BY round(dt0.d + dt1.d + dt2.d + dt3.d, 9), k.vec_id) AS rn
         |  FROM codes k JOIN af a USING (vec_id) JOIN probe$np p ON a.cid = p.cid
         |  JOIN dt0 ON dt0.cid = k.c0 JOIN dt1 ON dt1.cid = k.c1
         |  JOIN dt2 ON dt2.cid = k.c2 JOIN dt3 ON dt3.cid = k.c3
         |  WHERE k.vec_id <> 0) WHERE rn <= 100 * (SELECT sp FROM kk)),
         |apx$np AS (SELECT u.vec_id FROM short$np s JOIN ul u USING (vec_id), qa
         |  ORDER BY round(list_reduce(list_prepend(0.0, list_transform(list_zip(u.ux, qa.uq), p -> p[1] * p[2])), (a, b) -> a + b), 9) DESC, u.vec_id
         |  LIMIT 10)""".stripMargin).mkString(",\n")
    val tail = Seq(1, 2, 4, 8).map(np =>
      s"""SELECT $np AS nprobe, (SELECT CAST(k AS INTEGER) FROM kk) AS n_cells,
         |  (SELECT CAST(sp AS INTEGER) FROM kk) AS spill, 10 AS k,
         |  (SELECT CAST(count(*) AS BIGINT) FROM apx$np JOIN truth USING (vec_id)) AS n_hits,
         |  (SELECT count(*) FROM apx$np JOIN truth USING (vec_id)) / 10.0 AS recall""".stripMargin)
      .mkString(" UNION ALL\n")
    s"$head,\n$coarse,\n$pq,\n$codes,\n$query,\n$sweeps\n$tail\nORDER BY nprobe"
  }

  // batch-perceptron chain (mirrors llm.Classifier: integer features,
  // 3 unrolled full-batch rounds). Each round: score with the previous
  // round's weights, count misclassified, add their summed y·x gradient.
  // shared near-dup cluster chain (MinHash bands -> >=0.5 signature
  // agreement -> recursive reachability -> min-id component), ending at
  // `cls` (doc_id, cluster_id) — consumed by q_dup_clusters and the
  // quality-survivor q_canonical_docs
  private lazy val dupClusterCte =
    raw"""WITH RECURSIVE tk AS (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS toks FROM documents),
      |sh AS (SELECT doc_id,
      |         list_distinct([array_to_string(toks[i:i+2], ' ')
      |                        FOR i IN generate_series(1, len(toks) - 2)]) AS sh
      |       FROM tk),
      |ex AS (SELECT doc_id, unnest(sh) AS s FROM sh),
      |${sigCte("ex")},
      |pairs AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b
      |  FROM sig a JOIN sig b ON a.doc_id < b.doc_id AND (
      |    (a.sig[1] = b.sig[1] AND a.sig[2] = b.sig[2]) OR
      |    (a.sig[3] = b.sig[3] AND a.sig[4] = b.sig[4]) OR
      |    (a.sig[5] = b.sig[5] AND a.sig[6] = b.sig[6]) OR
      |    (a.sig[7] = b.sig[7] AND a.sig[8] = b.sig[8]))
      |  WHERE CAST(len(list_filter(generate_series(1, 8), i -> a.sig[i] = b.sig[i])) AS DOUBLE) / 8 >= 0.5),
      |edges AS (SELECT id_a AS u, id_b AS v FROM pairs
      |          UNION SELECT id_b AS u, id_a AS v FROM pairs),
      |reach(u, v) AS (
      |  SELECT u, v FROM edges
      |  UNION
      |  SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u WHERE e.v <> r.u),
      |cl AS (SELECT u AS doc_id, MIN(v) AS mn FROM reach GROUP BY u),
      |cls AS (SELECT d.doc_id,
      |          COALESCE(LEAST(cl.mn, d.doc_id), d.doc_id) AS cluster_id
      |        FROM documents d LEFT JOIN cl ON d.doc_id = cl.doc_id)""".stripMargin

  // shared co-purchase CTE: distinct basket memberships `li` and the
  // support-2 edge projection `e` — ONE SQL definition for the triangle
  // count, association rules, and clustering coefficient (mirrors
  // Graphs.basketRows/copurchasePairsOf)
  private val copurchaseCte =
    """WITH li AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS p FROM lineitem),
      |pc AS (SELECT a.p AS u, b.p AS v, CAST(count(*) AS BIGINT) AS c
      |       FROM li a JOIN li b ON a.ok = b.ok AND a.p < b.p GROUP BY 1, 2),
      |e AS (SELECT u, v FROM pc WHERE c >= 2)""".stripMargin

  // shared (event_type × weekday) contingency CTE: cells c, margins
  // r/cl, total n — ONE SQL definition for chi-square AND mutual
  // information (mirrors StatTests.typeWeekdayCells)
  private val contingencyCte =
    """WITH c AS (SELECT event_type AS rk,
      |             (epoch_ns(ts) // 86400000000000 + 4) % 7 AS ck,
      |             CAST(count(*) AS BIGINT) AS o
      |           FROM events
      |           WHERE event_type IS NOT NULL AND ts IS NOT NULL
      |           GROUP BY 1, 2),
      |r AS (SELECT rk, CAST(sum(o) AS BIGINT) AS r FROM c GROUP BY 1),
      |cl AS (SELECT ck, CAST(sum(o) AS BIGINT) AS c FROM c GROUP BY 1),
      |n AS (SELECT CAST(sum(o) AS BIGINT) AS n FROM c)""".stripMargin

  // shared funnel-chain CTE (f1→f3: per-user step times, strictly-after
  // rule) — ONE SQL definition of the chain, used by the conversion
  // counts (q_event_funnel) AND the latency percentiles
  // (q_funnel_latency), mirroring how both Spark paths share
  // EventAnalytics.funnelUsers
  private val funnelChainCte =
    """WITH f1 AS (SELECT user_id, min(epoch_ns(ts)) AS t1 FROM events
      |            WHERE event_type = 'view' GROUP BY user_id),
      |r2 AS (SELECT e.user_id, min(epoch_ns(e.ts)) AS t2 FROM events e JOIN f1 USING (user_id)
      |       WHERE e.event_type = 'click' AND epoch_ns(e.ts) > f1.t1 GROUP BY e.user_id),
      |f2 AS (SELECT f1.user_id, f1.t1, r2.t2 FROM f1 LEFT JOIN r2 USING (user_id)),
      |r3 AS (SELECT e.user_id, min(epoch_ns(e.ts)) AS t3 FROM events e JOIN f2 USING (user_id)
      |       WHERE e.event_type = 'purchase' AND f2.t2 IS NOT NULL AND epoch_ns(e.ts) > f2.t2
      |       GROUP BY e.user_id),
      |f3 AS (SELECT f2.user_id, f2.t1, f2.t2, r3.t3 FROM f2 LEFT JOIN r3 USING (user_id))""".stripMargin

  // shared bigram-LM CTE prefix: letter-run bigrams with position (the
  // gramRows tokenization, both tokens + pos kept) and the 'en' train
  // slice. pos is 1-based here vs Spark's 0-based posexplode — it is
  // only ever used for ORDER BY, so the offset is irrelevant.
  private val lmBigramCte =
    """WITH w AS (SELECT doc_id, lang, regexp_extract_all(lower(text), '[a-z]+') AS l FROM documents),
      |bg AS (SELECT doc_id, lang,
      |         unnest([{'pos': j, 'a': l[j], 'b': l[j+1]}
      |                 for j in generate_series(1, len(l) - 1)],
      |                recursive := true)
      |       FROM w WHERE len(l) >= 2),
      |tr AS (SELECT * FROM bg WHERE lang = 'en'),
      |""".stripMargin

  // bigram-LM scoring chain (model counts → per-position −ln p → per-doc
  // ordered-fold cross-entropy in `px`): shared by q_lm_perplexity AND
  // q_ccnet_buckets, so the bucketing cannot silently diverge from the
  // score it buckets. Ends at the `px` CTE (doc_id, lang, n_bigrams,
  // xent) with no trailing comma.
  private val lmScoreCte = lmBigramCte +
    """cab AS (SELECT a, b, count(*) AS c_ab FROM tr GROUP BY a, b),
      |ca AS (SELECT a, count(*) AS c_a FROM tr GROUP BY a),
      |v AS (SELECT CAST(count(DISTINCT a) AS DOUBLE) AS v FROM tr),
      |lp AS (SELECT g.doc_id, g.pos,
      |         -ln((CAST(coalesce(c.c_ab, 0) AS DOUBLE) + CAST(1 AS DOUBLE)) /
      |             (CAST(coalesce(a2.c_a, 0) AS DOUBLE) + v.v)) AS lp
      |       FROM bg g LEFT JOIN cab c ON g.a = c.a AND g.b = c.b
      |                 LEFT JOIN ca a2 ON g.a = a2.a CROSS JOIN v),
      |s AS (SELECT doc_id, CAST(count(*) AS INTEGER) AS n_bigrams,
      |        list_reduce(list_prepend(0.0, list(lp ORDER BY pos)),
      |                    (u, w2) -> u + w2) AS tot
      |      FROM lp GROUP BY doc_id),
      |px AS (SELECT d.doc_id, d.lang, coalesce(s.n_bigrams, 0) AS n_bigrams,
      |         coalesce(round(s.tot / CAST(s.n_bigrams AS DOUBLE), 6),
      |                  (SELECT round(ln(v.v), 6) FROM v)) AS xent
      |       FROM documents d LEFT JOIN s ON d.doc_id = s.doc_id)""".stripMargin

  // the wholesale release composition: exact-dedup keep-one -> CCNet
  // gate (tertiles 1-2 per lang over survivors) -> token-balanced shard
  // ledger. ONE builder, bound to q_corpus_release (the batch row),
  // q_corpus_release_inc (the streaming-ledger row), and — with the
  // keeper predicate — q_corpus_release_takedown (tombstoned docs
  // excluded BEFORE the tertile gate: a takedown re-releases exactly as
  // a from-scratch release over the survivors). The incremental paths
  // must hash-match the wholesale replay exactly.
  private def corpusReleaseOracleWhere(keeperCond: String = ""): String = {
    val kc = if (keeperCond.isEmpty) "" else s" WHERE $keeperCond"
    lmScoreCte + s""",
    |k AS (SELECT d.doc_id, d.text FROM documents d
    |      JOIN (SELECT md5(text) AS h, min(doc_id) AS keep_id
    |            FROM documents GROUP BY 1) s
    |        ON d.doc_id = s.keep_id),
    |g AS (SELECT k.doc_id, k.text,
    |        ntile(3) OVER (PARTITION BY px.lang ORDER BY px.xent, px.doc_id) AS b
    |      FROM px JOIN k ON px.doc_id = k.doc_id$kc),
    |t2 AS (SELECT doc_id,
    |         len(regexp_split_to_array(trim(text), '\\s+')) AS n_tok
    |       FROM g WHERE b <= 2),
    |r AS (SELECT doc_id, n_tok,
    |        row_number() OVER (ORDER BY n_tok DESC, doc_id) AS rk
    |      FROM t2)
    |SELECT CAST((rk - 1) % 8 AS INTEGER) AS shard, count(*) AS n_docs,
    |  CAST(sum(n_tok) AS BIGINT) AS tot_tokens
    |FROM r GROUP BY 1 ORDER BY shard""".stripMargin
  }

  private lazy val corpusReleaseOracle: String = corpusReleaseOracleWhere()

  // residual IVF-PQ recall replay (q_ann_recall_residual; mirrors
  // Similarity.saveIvfPqIndex / annRecall, variant "residual"): the coarse
  // chain is the shared ivfAssignBody over the unit ex; the PQ rounds
  // train on rx = x − c_assigned (the FAISS residual semantics); the
  // serve builds a PER-CELL distance table (query residual differs per
  // probed cell) and sweeps nprobe 1/2/4 against the brute-force cosine
  // truth. Hash-pins the 0.7 → 0.9 recall claim.
  // the batched raw serve replay, bound to q_ivfpq_batch and
  // q_ivfpq_batch_inc (the streaming union must hash-match the batch
  // serving SQL verbatim). BUILDER form: `candCond` (alias k) restricts
  // the candidate set — q_ivfpq_batch_filtered injects the allowed-set
  // predicate; the empty default reproduces the plain serve.
  private def ivfPqBatchOracleWhere(candCond: String = ""): String = {
    val cc = if (candCond.isEmpty) "" else s"\n  WHERE $candCond"
    (pqChainUnit + s""",
        |$ivfAssignBody,
        |exq AS (SELECT vec_id AS qid, i, x FROM ex WHERE vec_id < 8),
        |qcd AS (SELECT q.qid, c.cid, round(sum((q.x - c.c) * (q.x - c.c)), 9) AS d
        |        FROM exq q JOIN c2 c ON q.i = c.i GROUP BY q.qid, c.cid),
        |probes AS (SELECT qid, cid FROM
        |            (SELECT qid, cid, row_number() OVER (PARTITION BY qid ORDER BY d, cid) AS rn FROM qcd)
        |           WHERE rn <= 2),
        |${(0 until 4).map(s =>
           s"""qdt$s AS (SELECT q.qid, c.cid, sum((q.x - c.c) * (q.x - c.c)) AS dq
              |  FROM c${s}_2 c JOIN exq q ON q.i = ${s * 16} + c.i GROUP BY q.qid, c.cid)""".stripMargin)
          .mkString(",\n")},
        |scored AS (SELECT p.qid, k.vec_id, a.cid,
        |    round(qdt0.dq + qdt1.dq + qdt2.dq + qdt3.dq, 9) AS adc
        |  FROM codes k JOIN af a USING (vec_id)
        |  JOIN probes p ON a.cid = p.cid AND k.vec_id <> p.qid
        |  JOIN qdt0 ON qdt0.qid = p.qid AND qdt0.cid = k.c0
        |  JOIN qdt1 ON qdt1.qid = p.qid AND qdt1.cid = k.c1
        |  JOIN qdt2 ON qdt2.qid = p.qid AND qdt2.cid = k.c2
        |  JOIN qdt3 ON qdt3.qid = p.qid AND qdt3.cid = k.c3$cc),
        |short AS (SELECT qid, vec_id FROM
        |           (SELECT qid, vec_id, row_number() OVER (PARTITION BY qid, cid ORDER BY adc, vec_id) AS rn FROM scored)
        |          WHERE rn <= 50),
        |ul AS (SELECT vec_id, list(x ORDER BY i) AS ux FROM ex GROUP BY vec_id),
        |uq AS (SELECT qid, list(x ORDER BY i) AS qx FROM exq GROUP BY qid),
        |rr AS (SELECT s.qid, s.vec_id,
        |    round(list_reduce(list_prepend(0.0, list_transform(list_zip(u.ux, q.qx), p -> p[1] * p[2])), (a, b) -> a + b), 9) AS cos_sim
        |  FROM short s JOIN ul u USING (vec_id) JOIN uq q USING (qid))
        |SELECT qid, vec_id, cos_sim, CAST(rnk AS INTEGER) AS rnk FROM
        |  (SELECT qid, vec_id, cos_sim, row_number() OVER (PARTITION BY qid ORDER BY cos_sim DESC, vec_id) AS rnk FROM rr)
        |WHERE rnk <= 5 ORDER BY qid, rnk""".stripMargin)
  }

  private lazy val ivfPqBatchOracle: String = ivfPqBatchOracleWhere()

  // the residual INDEX chain (unit ex -> trained coarse c2/af -> residual
  // rows rx -> per-subspace residual PQ rounds rp${s}2 -> rcodes), shared
  // by the recall sweep (q_ann_recall_residual / q_ann_residual_inc) and
  // the batched residual serve (q_ivfpq_batch_residual) — ONE definition
  // of the trained residual artifacts, so the oracles cannot drift apart
  private lazy val residualChainSql: String = {
    def lloydRound(pts: String, p: String, out: String, tag: String) =
      s"""d$tag AS (SELECT e.vec_id, c.cid, sum((e.x - c.c) * (e.x - c.c)) AS d
         |        FROM $pts e JOIN $p c ON e.i = c.i GROUP BY e.vec_id, c.cid),
         |a$tag AS (SELECT vec_id, cid FROM
         |         (SELECT vec_id, cid, row_number() OVER (PARTITION BY vec_id ORDER BY d, cid) AS rn FROM d$tag)
         |        WHERE rn = 1),
         |u$tag AS (SELECT a.cid, e.i, avg(e.x) AS c FROM $pts e JOIN a$tag a USING (vec_id) GROUP BY a.cid, e.i),
         |$out AS MATERIALIZED (SELECT p.cid, p.i, coalesce(u.c, p.c) AS c
         |        FROM $p p LEFT JOIN u$tag u ON u.cid = p.cid AND u.i = p.i)""".stripMargin
    val head =
      """WITH exr AS (SELECT vec_id, i - 1 AS i, CAST(embedding[i] AS DOUBLE) AS x,
        |        sqrt(list_reduce(list_prepend(0.0, list_transform(embedding, v -> CAST(v AS DOUBLE) * CAST(v AS DOUBLE))), (a, b) -> a + b)) AS nrm
        |      FROM embeddings CROSS JOIN generate_series(1, 64) t(i)),
        |ex AS MATERIALIZED (SELECT vec_id, i, CASE WHEN nrm > 0 THEN x / nrm ELSE x END AS x FROM exr)""".stripMargin
    // residual rows against the trained coarse assignment (c2/af from
    // the shared ivfAssignBody), then PQ rounds over rx per subspace
    val rx =
      """rx AS MATERIALIZED (SELECT e.vec_id, e.i, e.x - g.c AS x
        |       FROM ex e JOIN af a USING (vec_id)
        |       JOIN c2 g ON g.cid = a.cid AND g.i = e.i)""".stripMargin
    val pq = (0 until 4).map { s =>
      val lo = s * 16
      Seq(
        s"re$s AS MATERIALIZED (SELECT vec_id, i - $lo AS i, x FROM rx WHERE i >= $lo AND i < ${lo + 16})",
        s"rp${s}0 AS (SELECT CAST(vec_id AS INTEGER) AS cid, i, x AS c FROM re$s WHERE vec_id < 8)",
        lloydRound(s"re$s", s"rp${s}0", s"rp${s}1", s"rp${s}r1"),
        lloydRound(s"re$s", s"rp${s}1", s"rp${s}2", s"rp${s}r2"),
        s"""rdf$s AS (SELECT e.vec_id, c.cid, sum((e.x - c.c) * (e.x - c.c)) AS d
           |         FROM re$s e JOIN rp${s}2 c ON e.i = c.i GROUP BY e.vec_id, c.cid),
           |raf$s AS (SELECT vec_id, cid FROM
           |          (SELECT vec_id, cid, row_number() OVER (PARTITION BY vec_id ORDER BY d, cid) AS rn FROM rdf$s)
           |         WHERE rn = 1)""".stripMargin).mkString(",\n")
    }.mkString(",\n")
    val codes =
      s"""rcodes AS MATERIALIZED (SELECT vec_id,
         |    ${(0 until 4).map(s =>
              s"max(CASE WHEN m = $s THEN cid END) AS c$s").mkString(", ")}
         |  FROM (${(0 until 4).map(s =>
              s"SELECT vec_id, $s AS m, cid FROM raf$s").mkString(" UNION ALL ")})
         |  GROUP BY vec_id)""".stripMargin
    s"$head,\n$ivfAssignBody,\n$rx,\n$pq,\n$codes"
  }

  // the per-query serve CTEs shared by the raw recall/range oracles:
  // probe distances qd, per-subspace ADC distance tables dt0..3, and
  // the full-precision rerank payload ul/qa
  private lazy val annQueryCtes: String =
    s"""qq AS (SELECT i AS gi, x AS qx FROM ex WHERE vec_id = 0),
       |qd AS (SELECT c.cid,
       |  round(list_reduce(list_prepend(0.0, list((qq.qx - c.c) * (qq.qx - c.c) ORDER BY c.i)), (a, b) -> a + b), 9) AS d
       |  FROM c2 c JOIN qq ON qq.gi = c.i GROUP BY c.cid),
       |${(0 until 4).map(s =>
          s"""dt$s AS (SELECT cid,
             |  list_reduce(list_prepend(0.0, list((qx - c) * (qx - c) ORDER BY i)), (a, b) -> a + b) AS d
             |  FROM c${s}_2 c JOIN qq ON qq.gi = ${s * 16} + c.i GROUP BY cid)""".stripMargin)
         .mkString(",\n")},
       |ul AS (SELECT vec_id, list(x ORDER BY i) AS ux FROM ex GROUP BY vec_id),
       |qa AS (SELECT list(x ORDER BY i) AS uq FROM ex WHERE vec_id = 0)""".stripMargin

  // ANN recall@k (VERDICT r7 #5): the SAME pqChain/coarse/probe/ADC
  // CTEs as q_ivfpq_search, swept over nprobe IN (1, 2, 4), each top-10
  // intersected with the brute-force cosine top-10 — the
  // quantization-quality dial, oracle-checked because both rankings are
  // deterministic. The BUILDER form takes optional predicates over the
  // candidate set (`candCond`, alias k) and the truth corpus
  // (`truthCond`, alias e) — empty strings reproduce the plain sweep;
  // q_ann_filtered injects the allowed-set predicate into both
  // (filtered serve vs filtered truth) and q_ann_deleted the takedown's
  // survivor predicate (deleted serve vs deleted truth). The plain form
  // is bound to q_ann_recall AND q_ann_compacted (the ingest+compact
  // composition must hash-match the batch recall SQL verbatim).
  private def annRecallSweepOracle(candCond: String = "",
      truthCond: String = ""): String = {
    val cc = if (candCond.isEmpty) "" else s" AND $candCond"
    val tc = if (truthCond.isEmpty) "" else s" AND $truthCond"
    (pqChainUnit + s""",
        |$ivfAssignBody,
        |$annQueryCtes,
        |truth AS (SELECT z.vec_id FROM (
        |  SELECT e.vec_id,
        |    round(list_reduce(list_prepend(0.0, list_transform(list_zip(e.embedding, q.qe),
        |      p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE))), (a, b) -> a + b) /
        |     (sqrt(list_reduce(list_prepend(0.0, list_transform(e.embedding,
        |        x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))), (a, b) -> a + b)) *
        |      sqrt(list_reduce(list_prepend(0.0, list_transform(q.qe,
        |        x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))), (a, b) -> a + b))), 9) AS cos_sim
        |  FROM embeddings e, (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0) q
        |  WHERE e.vec_id <> 0$tc ORDER BY cos_sim DESC, e.vec_id LIMIT 10) z),
        |${Seq(1, 2, 4).map(np =>
           s"""probe$np AS (SELECT cid FROM
              |           (SELECT cid, row_number() OVER (ORDER BY d, cid) AS rn FROM qd)
              |          WHERE rn <= $np),
              |short$np AS (SELECT vec_id FROM (
              |  SELECT k.vec_id, a.cid,
              |    row_number() OVER (PARTITION BY a.cid
              |      ORDER BY round(dt0.d + dt1.d + dt2.d + dt3.d, 9), k.vec_id) AS rn
              |  FROM codes k JOIN af a USING (vec_id) JOIN probe$np p ON a.cid = p.cid
              |  JOIN dt0 ON dt0.cid = k.c0 JOIN dt1 ON dt1.cid = k.c1
              |  JOIN dt2 ON dt2.cid = k.c2 JOIN dt3 ON dt3.cid = k.c3
              |  WHERE k.vec_id <> 0$cc) WHERE rn <= 100),
              |apx$np AS (SELECT u.vec_id FROM short$np s JOIN ul u USING (vec_id), qa
              |  ORDER BY round(list_reduce(list_prepend(0.0, list_transform(list_zip(u.ux, qa.uq), p -> p[1] * p[2])), (a, b) -> a + b), 9) DESC, u.vec_id
              |  LIMIT 10)""".stripMargin)
          .mkString(",\n")}
        |${Seq(1, 2, 4).map(np =>
           s"""SELECT $np AS nprobe, 10 AS k,
              |  (SELECT CAST(count(*) AS BIGINT) FROM apx$np JOIN truth USING (vec_id)) AS n_hits,
              |  (SELECT count(*) FROM apx$np JOIN truth USING (vec_id)) / 10.0 AS recall""".stripMargin)
          .mkString(" UNION ALL\n")}
        |ORDER BY nprobe""".stripMargin)
  }

  private lazy val annRecallOracle: String = annRecallSweepOracle()

  // probed RANGE search replay (q_ann_range; mirrors
  // Similarity.ivfPqRangeSearch at nprobe=2, minSim=0.2, slack=2.0):
  // the 2 nearest coarse cells, candidates whose ROUNDED ADC clears the
  // slackened radius bound 2.0 × (2 − 2·0.2) = 3.2 (both engines
  // compare the same 9-dec-rounded values against the same double), and
  // the survivors exact-reranked and thresholded on true cosine.
  // BUILDER form: `candCond` (alias k) restricts the candidate set —
  // the radius lifecycle rows (filtered/deleted/as-of) inject their
  // membership predicate; the empty default reproduces the plain row.
  private def annRangeOracleWhere(candCond: String = ""): String = {
    val cc = if (candCond.isEmpty) "" else s" AND $candCond"
    (pqChainUnit + s""",
        |$ivfAssignBody,
        |$annQueryCtes,
        |probe AS (SELECT cid FROM
        |           (SELECT cid, row_number() OVER (ORDER BY d, cid) AS rn FROM qd)
        |          WHERE rn <= 2),
        |shortr AS (SELECT DISTINCT k.vec_id
        |  FROM codes k JOIN af a USING (vec_id) JOIN probe p ON a.cid = p.cid
        |  JOIN dt0 ON dt0.cid = k.c0 JOIN dt1 ON dt1.cid = k.c1
        |  JOIN dt2 ON dt2.cid = k.c2 JOIN dt3 ON dt3.cid = k.c3
        |  WHERE k.vec_id <> 0 AND round(dt0.d + dt1.d + dt2.d + dt3.d, 9) <= 3.2$cc)
        |SELECT vec_id, cos_sim FROM (
        |  SELECT u.vec_id,
        |    round(list_reduce(list_prepend(0.0, list_transform(list_zip(u.ux, qa.uq), p -> p[1] * p[2])), (a, b) -> a + b), 9) AS cos_sim
        |  FROM shortr s JOIN ul u USING (vec_id), qa)
        |WHERE cos_sim >= 0.2 ORDER BY cos_sim DESC, vec_id""".stripMargin)
  }

  private lazy val annRangeOracle: String = annRangeOracleWhere()

  // probed RANGE search over the RESIDUAL index (q_ann_range_residual;
  // mirrors Similarity.ivfPqRangeSearch on a residual index at nprobe=2,
  // minSim=0.2, slack=2.0): the shared residual chain, PER-CELL residual
  // distance tables (rdt joins keyed on the candidate's own cell — the residual
  // wrinkle), candidates whose ROUNDED per-cell ADC clears the same
  // slackened global radius bound 3.2 the raw variant uses (the
  // residual ADC approximates the same ||q − x||²: the cell centroid
  // cancels in r_q − r_x), survivors exact-reranked and thresholded.
  private lazy val annRangeResidualOracle: String =
    (residualChainSql + s""",
        |qq AS (SELECT i AS gi, x AS qx FROM ex WHERE vec_id = 0),
        |qd AS (SELECT c.cid,
        |  round(list_reduce(list_prepend(0.0, list((qq.qx - c.c) * (qq.qx - c.c) ORDER BY c.i)), (a, b) -> a + b), 9) AS d
        |  FROM c2 c JOIN qq ON qq.gi = c.i GROUP BY c.cid),
        |qr AS (SELECT c.cid AS pcid, c.i AS gi, qq.qx - c.c AS qx
        |       FROM c2 c JOIN qq ON qq.gi = c.i),
        |${(0 until 4).map(s =>
           s"""rdt$s AS (SELECT q.pcid, c.cid,
              |  list_reduce(list_prepend(0.0, list((q.qx - c.c) * (q.qx - c.c) ORDER BY c.i)), (a, b) -> a + b) AS d
              |  FROM rp${s}2 c JOIN qr q ON q.gi = ${s * 16} + c.i GROUP BY q.pcid, c.cid)""".stripMargin)
          .mkString(",\n")},
        |ul AS (SELECT vec_id, list(x ORDER BY i) AS ux FROM ex GROUP BY vec_id),
        |qa AS (SELECT list(x ORDER BY i) AS uq FROM ex WHERE vec_id = 0),
        |probe AS (SELECT cid FROM
        |           (SELECT cid, row_number() OVER (ORDER BY d, cid) AS rn FROM qd)
        |          WHERE rn <= 2),
        |shortr AS (SELECT DISTINCT k.vec_id
        |  FROM rcodes k JOIN af a USING (vec_id) JOIN probe p ON a.cid = p.cid
        |  JOIN rdt0 ON rdt0.pcid = a.cid AND rdt0.cid = k.c0
        |  JOIN rdt1 ON rdt1.pcid = a.cid AND rdt1.cid = k.c1
        |  JOIN rdt2 ON rdt2.pcid = a.cid AND rdt2.cid = k.c2
        |  JOIN rdt3 ON rdt3.pcid = a.cid AND rdt3.cid = k.c3
        |  WHERE k.vec_id <> 0 AND round(rdt0.d + rdt1.d + rdt2.d + rdt3.d, 9) <= 3.2)
        |SELECT vec_id, cos_sim FROM (
        |  SELECT u.vec_id,
        |    round(list_reduce(list_prepend(0.0, list_transform(list_zip(u.ux, qa.uq), p -> p[1] * p[2])), (a, b) -> a + b), 9) AS cos_sim
        |  FROM shortr s JOIN ul u USING (vec_id), qa)
        |WHERE cos_sim >= 0.2 ORDER BY cos_sim DESC, vec_id""".stripMargin)

  // exact cosine range search (q_cosine_range): the brute-force radius
  // query — same dot/norm arithmetic as the recall truth, thresholded
  // instead of LIMITed.
  private lazy val cosineRangeOracle: String =
    """SELECT vec_id, cos_sim FROM (
      |  SELECT e.vec_id,
      |    round(list_reduce(list_prepend(0.0, list_transform(list_zip(e.embedding, q.qe),
      |      p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE))), (a, b) -> a + b) /
      |     (sqrt(list_reduce(list_prepend(0.0, list_transform(e.embedding,
      |        x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))), (a, b) -> a + b)) *
      |      sqrt(list_reduce(list_prepend(0.0, list_transform(q.qe,
      |        x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))), (a, b) -> a + b))), 9) AS cos_sim
      |  FROM embeddings e, (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0) q
      |  WHERE e.vec_id <> 0)
      |WHERE cos_sim >= 0.2 ORDER BY cos_sim DESC, vec_id""".stripMargin

  // BUILDER like annRecallSweepOracle: `candCond` (alias k) restricts
  // the residual candidate set, `truthCond` (alias e) the truth corpus
  // — q_ann_filtered_residual injects the allowed-set predicate; the
  // empty default reproduces the plain residual sweep verbatim.
  private def annRecallResidualOracleWhere(candCond: String = "",
      truthCond: String = ""): String = {
    val cc = if (candCond.isEmpty) "" else s" AND $candCond"
    val tc = if (truthCond.isEmpty) "" else s" AND $truthCond"
    val query =
      s"""qq AS (SELECT i AS gi, x AS qx FROM ex WHERE vec_id = 0),
         |qd AS (SELECT c.cid,
         |  round(list_reduce(list_prepend(0.0, list((qq.qx - c.c) * (qq.qx - c.c) ORDER BY c.i)), (a, b) -> a + b), 9) AS d
         |  FROM c2 c JOIN qq ON qq.gi = c.i GROUP BY c.cid),
         |qr AS (SELECT c.cid AS pcid, c.i AS gi, qq.qx - c.c AS qx
         |       FROM c2 c JOIN qq ON qq.gi = c.i),
         |${(0 until 4).map(s =>
            s"""rdt$s AS (SELECT q.pcid, c.cid,
               |  list_reduce(list_prepend(0.0, list((q.qx - c.c) * (q.qx - c.c) ORDER BY c.i)), (a, b) -> a + b) AS d
               |  FROM rp${s}2 c JOIN qr q ON q.gi = ${s * 16} + c.i GROUP BY q.pcid, c.cid)""".stripMargin)
            .mkString(",\n")},
         |ul AS MATERIALIZED (SELECT vec_id, list(x ORDER BY i) AS ux FROM ex GROUP BY vec_id),
         |qa AS (SELECT list(x ORDER BY i) AS uq FROM ex WHERE vec_id = 0),
         |truth AS (SELECT z.vec_id FROM (
         |  SELECT e.vec_id,
         |    round(list_reduce(list_prepend(0.0, list_transform(list_zip(e.embedding, q.qe),
         |      p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE))), (a, b) -> a + b) /
         |     (sqrt(list_reduce(list_prepend(0.0, list_transform(e.embedding,
         |        x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))), (a, b) -> a + b)) *
         |      sqrt(list_reduce(list_prepend(0.0, list_transform(q.qe,
         |        x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))), (a, b) -> a + b))), 9) AS cos_sim
         |  FROM embeddings e, (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0) q
         |  WHERE e.vec_id <> 0$tc ORDER BY cos_sim DESC, e.vec_id LIMIT 10) z)""".stripMargin
    val sweeps = Seq(1, 2, 4).map(np =>
      s"""probe$np AS (SELECT cid FROM
         |           (SELECT cid, row_number() OVER (ORDER BY d, cid) AS rn FROM qd)
         |          WHERE rn <= $np),
         |short$np AS (SELECT DISTINCT vec_id FROM (
         |  SELECT k.vec_id, a.cid,
         |    row_number() OVER (PARTITION BY a.cid
         |      ORDER BY round(rdt0.d + rdt1.d + rdt2.d + rdt3.d, 9), k.vec_id) AS rn
         |  FROM rcodes k JOIN af a USING (vec_id) JOIN probe$np p ON a.cid = p.cid
         |  JOIN rdt0 ON rdt0.pcid = a.cid AND rdt0.cid = k.c0
         |  JOIN rdt1 ON rdt1.pcid = a.cid AND rdt1.cid = k.c1
         |  JOIN rdt2 ON rdt2.pcid = a.cid AND rdt2.cid = k.c2
         |  JOIN rdt3 ON rdt3.pcid = a.cid AND rdt3.cid = k.c3
         |  WHERE k.vec_id <> 0$cc) WHERE rn <= 100),
         |apx$np AS (SELECT u.vec_id FROM short$np s JOIN ul u USING (vec_id), qa
         |  ORDER BY round(list_reduce(list_prepend(0.0, list_transform(list_zip(u.ux, qa.uq), p -> p[1] * p[2])), (a, b) -> a + b), 9) DESC, u.vec_id
         |  LIMIT 10)""".stripMargin).mkString(",\n")
    val tail = Seq(1, 2, 4).map(np =>
      s"""SELECT $np AS nprobe, 10 AS k,
         |  (SELECT CAST(count(*) AS BIGINT) FROM apx$np JOIN truth USING (vec_id)) AS n_hits,
         |  (SELECT count(*) FROM apx$np JOIN truth USING (vec_id)) / 10.0 AS recall""".stripMargin)
      .mkString(" UNION ALL\n")
    s"$residualChainSql,\n$query,\n$sweeps\n$tail\nORDER BY nprobe"
  }

  private lazy val annRecallResidualOracle: String =
    annRecallResidualOracleWhere()

  // batched residual serve replay (q_ivfpq_batch_residual; mirrors
  // Similarity.ivfPqKnnJoin on a residual index, first-8 batch): the
  // shared residual chain, per-query probes (distances rounded to 9
  // before ranking — the cross-engine combine-order rule), PER-(query,
  // probed-cell) residual distance tables (the residual wrinkle: the
  // query residual differs per cell, so qrr restricts query components
  // to probed cells before the codebook join), per-(query, cell)
  // shortlists, exact unit-dot rerank
  private lazy val ivfPqBatchResidualOracle: String =
    residualChainSql + s""",
      |exq AS (SELECT vec_id AS qid, i, x FROM ex WHERE vec_id < 8),
      |qcd AS (SELECT q.qid, c.cid, round(sum((q.x - c.c) * (q.x - c.c)), 9) AS d
      |        FROM exq q JOIN c2 c ON q.i = c.i GROUP BY q.qid, c.cid),
      |probes AS (SELECT qid, cid FROM
      |            (SELECT qid, cid, row_number() OVER (PARTITION BY qid ORDER BY d, cid) AS rn FROM qcd)
      |           WHERE rn <= 2),
      |qrr AS (SELECT q.qid, p.cid AS pcid, c.i AS gi, q.x - c.c AS rx
      |        FROM exq q JOIN probes p ON p.qid = q.qid
      |        JOIN c2 c ON c.cid = p.cid AND c.i = q.i),
      |${(0 until 4).map(s =>
         s"""brdt$s AS (SELECT q.qid, q.pcid, c.cid, sum((q.rx - c.c) * (q.rx - c.c)) AS dq
            |  FROM rp${s}2 c JOIN qrr q ON q.gi = ${s * 16} + c.i GROUP BY q.qid, q.pcid, c.cid)""".stripMargin)
        .mkString(",\n")},
      |scored AS (SELECT p.qid, k.vec_id, a.cid,
      |    round(brdt0.dq + brdt1.dq + brdt2.dq + brdt3.dq, 9) AS adc
      |  FROM rcodes k JOIN af a USING (vec_id)
      |  JOIN probes p ON a.cid = p.cid AND k.vec_id <> p.qid
      |  JOIN brdt0 ON brdt0.qid = p.qid AND brdt0.pcid = a.cid AND brdt0.cid = k.c0
      |  JOIN brdt1 ON brdt1.qid = p.qid AND brdt1.pcid = a.cid AND brdt1.cid = k.c1
      |  JOIN brdt2 ON brdt2.qid = p.qid AND brdt2.pcid = a.cid AND brdt2.cid = k.c2
      |  JOIN brdt3 ON brdt3.qid = p.qid AND brdt3.pcid = a.cid AND brdt3.cid = k.c3),
      |short AS (SELECT qid, vec_id FROM
      |           (SELECT qid, vec_id, row_number() OVER (PARTITION BY qid, cid ORDER BY adc, vec_id) AS rn FROM scored)
      |          WHERE rn <= 50),
      |bul AS (SELECT vec_id, list(x ORDER BY i) AS ux FROM ex GROUP BY vec_id),
      |buq AS (SELECT qid, list(x ORDER BY i) AS qx FROM exq GROUP BY qid),
      |rr AS (SELECT s.qid, s.vec_id,
      |    round(list_reduce(list_prepend(0.0, list_transform(list_zip(u.ux, q.qx), p -> p[1] * p[2])), (a, b) -> a + b), 9) AS cos_sim
      |  FROM short s JOIN bul u USING (vec_id) JOIN buq q USING (qid))
      |SELECT qid, vec_id, cos_sim, CAST(rnk AS INTEGER) AS rnk FROM
      |  (SELECT qid, vec_id, cos_sim, row_number() OVER (PARTITION BY qid ORDER BY cos_sim DESC, vec_id) AS rnk FROM rr)
      |WHERE rnk <= 5 ORDER BY qid, rnk""".stripMargin

  // the wholesale multimodal release composition: text keep-one ∧
  // media-canonical (min doc_id per sha256 of the image-typed payload's
  // 16-char slice) -> per-lang accounting. ONE string bound to BOTH
  // q_multimodal_release (batch) and q_multimodal_release_inc (the
  // two-ledger streaming twin): the incremental path must hash-match
  // the wholesale replay exactly.
  // BUILDER: `survivorCond` (alias d) excludes tombstoned docs from the
  // survivors — q_multimodal_release_takedown injects the dead-slice
  // predicate; the empty default reproduces the plain release verbatim.
  private def multimodalReleaseOracleWhere(
      survivorCond: String = ""): String = {
    val sc = if (survivorCond.isEmpty) "" else s" AND $survivorCond"
    raw"""WITH tk AS (SELECT md5(text) AS h, min(doc_id) AS keep_id
      |            FROM documents GROUP BY 1),
      |mc AS (SELECT doc_id, sha256(substr(text, 1, 16)) AS cid
      |       FROM documents WHERE doc_id % 2 = 0),
      |mk AS (SELECT cid, min(doc_id) AS keep_id FROM mc GROUP BY cid),
      |mdrop AS (SELECT m.doc_id FROM mc m
      |          WHERE m.doc_id NOT IN (SELECT keep_id FROM mk)),
      |s AS (SELECT d.lang, d.text FROM documents d
      |      JOIN tk ON d.doc_id = tk.keep_id
      |      WHERE d.doc_id NOT IN (SELECT doc_id FROM mdrop)$sc)
      |SELECT lang, count(*) AS n_docs,
      |  CAST(sum(len(regexp_split_to_array(trim(text), '\s+'))) AS BIGINT)
      |    AS tot_tokens
      |FROM s GROUP BY lang ORDER BY lang""".stripMargin
  }

  private lazy val multimodalReleaseOracle: String =
    multimodalReleaseOracleWhere()

  private def clfScoreExpr(r: String): String =
    (0 until 5).map(j => s"$r.w$j * x$j").mkString(" + ")

  private val clfChain: String = {
    val xs = 0 until 5
    def round(n: Int): String = {
      val p = s"r${n - 1}"
      val errPred = s"y * (${clfScoreExpr(p)}) <= 0"
      s"""u$n AS (SELECT CAST(count(*) FILTER (WHERE $errPred) AS BIGINT) AS n_err,
         |  ${xs.map(j => s"CAST(coalesce(sum(y * x$j) FILTER (WHERE $errPred), 0) AS BIGINT) AS g$j").mkString(",\n  ")}
         |  FROM f, $p),
         |r$n AS (SELECT u$n.n_err, ${xs.map(j => s"$p.w$j + u$n.g$j AS w$j").mkString(", ")} FROM u$n, $p)""".stripMargin
    }
    // round 1: w = 0 so every doc is misclassified (y·0 <= 0). Features
    // are centered by the same fixed integer priors as the Spark side;
    // the label is the heuristic quality gate being distilled.
    s"""WITH f AS (SELECT doc_id,
       |    CASE WHEN ntok >= 25 AND 5 * nstop <= ntok
       |         THEN CAST(1 AS BIGINT) ELSE CAST(-1 AS BIGINT) END AS y,
       |    CAST(1 AS BIGINT) AS x0,
       |    CAST(ntok - 25 AS BIGINT) AS x1,
       |    CAST(nuniq - 18 AS BIGINT) AS x2,
       |    CAST(nstop - 2 AS BIGINT) AS x3,
       |    CAST(n_chars - 140 AS BIGINT) AS x4
       |  FROM (SELECT doc_id, n_chars, len(toks) AS ntok,
       |          len(list_distinct(toks)) AS nuniq,
       |          len(list_filter(toks, t -> list_contains(['the','a','of','and','to'], t))) AS nstop
       |        FROM (SELECT doc_id, n_chars, regexp_split_to_array(trim(text), '\\s+') AS toks FROM documents))),
       |r1 AS (SELECT CAST(count(*) AS BIGINT) AS n_err,
       |  ${xs.map(j => s"CAST(sum(y * x$j) AS BIGINT) AS w$j").mkString(", ")}
       |  FROM f),
       |${round(2)},
       |${round(3)}""".stripMargin
  }

  def oracleSql: Map[String, String] = {
    val base = oracleSqlBase
    // persisted-artifact rows (VERDICT r6 #1): same expected answer as
    // the train-inline query — the GATE ITSELF proves persisted ==
    // in-query (the Spark side trains into a scratch ModelStore and
    // serves the result out of parquet; the oracle is unchanged)
    base ++ Map(
      "q_ivfpq_persisted" -> base("q_ivfpq_search"),
      // distributed-build gate: two shards encoded in parallel against
      // frozen quantizers, merged, served — merged == single-build,
      // proven by hash-matching the single-build oracle verbatim
      "q_ivfpq_merged" -> base("q_ivfpq_search"),
      "q_bpe_persisted" -> base("q_bpe_encode"),
      "q_lm_persisted" -> base("q_lm_perplexity"),
      "q_clf_persisted" -> base("q_quality_clf_score"),
      "q_psi_persisted" -> base("q_psi"))
  }

  private def oracleSqlBase: Map[String, String] = Map(
    "q_pq_train" ->
      (pqChain + s""",
        |u AS (${(0 until 4).map(s =>
           s"SELECT $s AS m, cid, i, c FROM c${s}_2").mkString(" UNION ALL ")})
        |SELECT m, cid, i, round(c, 9) AS c FROM u ORDER BY m, cid, i""".stripMargin),
    "q_pq_encode" ->
      (pqChain + """
        |SELECT vec_id, c0, c1, c2, c3 FROM codes ORDER BY vec_id""".stripMargin),
    "q_pq_adc" ->
      (pqChain + s""",
        |q AS (SELECT i AS gi, x AS qx FROM ex WHERE vec_id = 0),
        |${(0 until 4).map(s =>
           s"""dt$s AS (SELECT cid,
              |  list_reduce(list_prepend(0.0, list((qx - c) * (qx - c) ORDER BY i)), (a, b) -> a + b) AS d
              |  FROM c${s}_2 c JOIN q ON q.gi = ${s * 16} + c.i GROUP BY cid)""".stripMargin)
          .mkString(",\n")}
        |SELECT k.vec_id, round(dt0.d + dt1.d + dt2.d + dt3.d, 9) AS adc
        |FROM codes k
        |JOIN dt0 ON dt0.cid = k.c0 JOIN dt1 ON dt1.cid = k.c1
        |JOIN dt2 ON dt2.cid = k.c2 JOIN dt3 ON dt3.cid = k.c3
        |WHERE k.vec_id <> 0 ORDER BY k.vec_id""".stripMargin),
    // IVF-PQ search over the UNIT-normalized corpus (normalize-at-
    // ingest: ADC L2 ≡ cosine): pqChainUnit's codes + the coarse Lloyd
    // body over the same unit `ex`, probe the query's 2 nearest coarse
    // cells, ADC-shortlist the top 100 PER CELL, then exact-rerank the
    // shortlist with the sequential unit-dot fold — mirrors
    // Similarity.ivfPqSearchOver's two-stage serve (VERDICT r8 #2)
    "q_ivfpq_search" ->
      (pqChainUnit + s""",
        |$ivfAssignBody,
        |qq AS (SELECT i AS gi, x AS qx FROM ex WHERE vec_id = 0),
        |qd AS (SELECT c.cid,
        |  round(list_reduce(list_prepend(0.0, list((qq.qx - c.c) * (qq.qx - c.c) ORDER BY c.i)), (a, b) -> a + b), 9) AS d
        |  FROM c2 c JOIN qq ON qq.gi = c.i GROUP BY c.cid),
        |probe AS (SELECT cid FROM
        |           (SELECT cid, row_number() OVER (ORDER BY d, cid) AS rn FROM qd)
        |          WHERE rn <= 2),
        |${(0 until 4).map(s =>
           s"""dt$s AS (SELECT cid,
              |  list_reduce(list_prepend(0.0, list((qx - c) * (qx - c) ORDER BY i)), (a, b) -> a + b) AS d
              |  FROM c${s}_2 c JOIN qq ON qq.gi = ${s * 16} + c.i GROUP BY cid)""".stripMargin)
          .mkString(",\n")},
        |short AS (SELECT vec_id FROM (
        |  SELECT k.vec_id, a.cid,
        |    row_number() OVER (PARTITION BY a.cid
        |      ORDER BY round(dt0.d + dt1.d + dt2.d + dt3.d, 9), k.vec_id) AS rn
        |  FROM codes k JOIN af a USING (vec_id) JOIN probe p ON a.cid = p.cid
        |  JOIN dt0 ON dt0.cid = k.c0 JOIN dt1 ON dt1.cid = k.c1
        |  JOIN dt2 ON dt2.cid = k.c2 JOIN dt3 ON dt3.cid = k.c3
        |  WHERE k.vec_id <> 0) WHERE rn <= 100),
        |ul AS (SELECT vec_id, list(x ORDER BY i) AS ux FROM ex GROUP BY vec_id),
        |qa AS (SELECT list(x ORDER BY i) AS uq FROM ex WHERE vec_id = 0)
        |SELECT u.vec_id,
        |  round(list_reduce(list_prepend(0.0, list_transform(list_zip(u.ux, qa.uq), p -> p[1] * p[2])), (a, b) -> a + b), 9) AS cos_sim
        |FROM short s JOIN ul u USING (vec_id), qa
        |ORDER BY cos_sim DESC, u.vec_id LIMIT 10""".stripMargin),
    // ANN recall@k (VERDICT r7 #5): the SAME pqChain/coarse/probe/ADC
    // CTEs as q_ivfpq_search, swept over nprobe IN (1, 2, 4), each
    // top-10 intersected with the brute-force cosine top-10 — the
    // quantization-quality dial, oracle-checked because both rankings
    // are deterministic
    "q_ann_recall" -> annRecallOracle,
    // compacted-store serves (VERDICT r12 #5): three microbatch ingests
    // folded into a new base version by compactIncrements, recall sweep
    // served post-flip — pointwise encoding + quantizer-carrying
    // compaction make the swept results bit-identical to the batch
    // recall rows, so each oracle is that row's SQL VERBATIM
    "q_ann_compacted" -> annRecallOracle,
    "q_ann_compacted_residual" -> annRecallResidualOracle,
    // takedown serving (tombstones): the recall sweep with the
    // vec_id % 7 = 3 slice deleted after ingest — the oracle excludes
    // the dead slice from the candidate set AND the truth (quantizers
    // still trained on everything, exactly like the Spark path), so a
    // hash match pins that a tombstone is indistinguishable from the
    // row never having been indexed
    "q_ann_deleted" -> annRecallSweepOracle(
      "k.vec_id % 7 <> 3", "e.vec_id % 7 <> 3"),
    // filtered search: the allowed-set predicate injected into both the
    // candidate set and the truth — filtered serve vs filtered truth
    "q_ann_filtered" -> annRecallSweepOracle(
      "k.vec_id % 3 = 1", "e.vec_id % 3 = 1"),
    // residual filtered serve: the residual sweep with the same
    // allowed-set predicate — the filtered matrix covers both encodings
    "q_ann_filtered_residual" -> annRecallResidualOracleWhere(
      "k.vec_id % 3 = 1", "e.vec_id % 3 = 1"),
    // filtered serve over the LIVE index: the filtered batch sweep SQL
    // VERBATIM — filtering a microbatch-maintained index is
    // hash-indistinguishable from filtering the batch-built one
    "q_ann_filtered_inc" -> annRecallSweepOracle(
      "k.vec_id % 3 = 1", "e.vec_id % 3 = 1"),
    // time-travel read: the sweep as-of batch 1 over three pmod
    // microbatches — candidates and truth are the as-of membership, so
    // a hash match pins that an as-of read equals an index that never
    // ingested the later batch
    "q_ann_asof" -> annRecallSweepOracle(
      "k.vec_id % 3 <> 2", "e.vec_id % 3 <> 2"),
    // NAMED snapshot over the ANN serve: the as-of sweep SQL VERBATIM —
    // a tag is a pointer, resolving it is hash-invisible
    "q_ann_tagged" -> annRecallSweepOracle(
      "k.vec_id % 3 <> 2", "e.vec_id % 3 <> 2"),
    // retention lifecycle (VERDICT r14 #1): compaction + tag-pinned
    // version GC + purgeFolded all live inside the gate, serve after —
    // the oracle is the batch recall SQL VERBATIM because retention is
    // serve-invisible by construction (GC'd versions superseded, purged
    // batches below every protected fold watermark); the gate itself
    // REQUIREs the reclaimed directories physically gone
    "q_ann_retained" -> annRecallOracle,
    // COMPOSITE run tag over the ANN serve: the as-of sweep SQL
    // VERBATIM — a run tag is two pointers (corpus + index) under one
    // name, and resolving them is hash-invisible; the gate REQUIREs
    // the half-tagged refusal live before the complete tagRun lands
    "q_ann_run" -> annRecallSweepOracle(
      "k.vec_id % 3 <> 2", "e.vec_id % 3 <> 2"),
    // the ONE-CALL autopilot preset: per-batch compaction + GC +
    // automated base rewrite + purge inside the gate (REQUIREd: one
    // version on disk, base store maintained, purged raw dirs gone),
    // then the sweep — the batch recall SQL VERBATIM again, because a
    // deployment only ever touched by the autopilot must serve
    // bit-identically to a never-retained build
    "q_ann_autopilot" -> annRecallOracle,
    // probed radius query: ADC bound + exact-cosine threshold
    "q_ann_range" -> annRangeOracle,
    // residual radius query: per-cell residual tables under the same
    // global slackened bound — the radius × variant matrix's last cell
    "q_ann_range_residual" -> annRangeResidualOracle,
    // radius query over the LIVE index: the batch range SQL VERBATIM —
    // microbatching is invisible to the radius serve too
    "q_ann_range_inc" -> annRangeOracle,
    // the radius LIFECYCLE matrix: each op hash-pinned to the plain
    // radius chain over the surviving candidate set (builder injection)
    "q_ann_range_filtered" -> annRangeOracleWhere("k.vec_id % 3 = 1"),
    "q_ann_range_deleted" -> annRangeOracleWhere("k.vec_id % 7 <> 3"),
    "q_ann_range_asof" -> annRangeOracleWhere("k.vec_id % 3 <> 2"),
    // residual radius over the live index: the residual range SQL
    // VERBATIM (pointwise encoding makes microbatching invisible)
    "q_ann_range_residual_inc" -> annRangeResidualOracle,
    // exact radius query: brute-force cosine, thresholded not LIMITed
    "q_cosine_range" -> cosineRangeOracle,
    // auto-dialed sample-trained IVF-PQ recall sweep: the dial rule
    // (k = clamp(ceil(sqrt(N)), 4, trainN // 39)), the vec_id % 2 train
    // slice, rank-based seeding over the slice, retention-hardened Lloyd,
    // full-corpus encode, and the probe/shortlist/rerank serve — all
    // replayed in SQL (see annRecallAutoOracle)
    "q_ann_recall_auto" -> annRecallAutoOracle,
    // residual-PQ recall sweep: the FAISS residual-encoding semantics,
    // fully replayed (coarse chain + residual PQ rounds + per-cell
    // distance tables) — pins the measured 0.7 -> 0.9 lift
    "q_ann_recall_residual" -> annRecallResidualOracle,
    // batched residual k-NN serving: every per-query step of the
    // residual single-query serve as a relational join over the first-8
    // query batch, with PER-(query, probed-cell) residual distance
    // tables — the full composition replayed through the shared
    // residual chain
    "q_ivfpq_batch_residual" -> ivfPqBatchResidualOracle,
    // residual index maintained incrementally (quantizers trained once,
    // every coded row ingested through three microbatches, served
    // through the streaming union path): residual assignment + encoding
    // are pointwise under frozen quantizers, so the sweep is
    // bit-identical to the batch row — the oracle is its SQL VERBATIM,
    // hash-pinning that microbatching a residual index is invisible
    "q_ann_residual_inc" -> annRecallResidualOracle,
    // batched IVF-PQ k-NN serving: every per-query step of
    // q_ivfpq_search as a relational join over the query batch (first 8
    // vectors) — per-query probe via grouped centroid distances,
    // per-query subspace distance tables, ADC over each query's probed
    // cells, per-(query, cell) shortlists, exact unit-dot rerank.
    // Grouped sums are not combine-order-pinned across engines, so
    // every ordering on a computed double rounds to 9 first
    "q_ivfpq_batch" -> ivfPqBatchOracle,
    // filtered batched serving: the batch oracle with the allowed-set
    // predicate on the candidate rows — every query in the batch served
    // over only the allowed corpus, one relational plan
    "q_ivfpq_batch_filtered" ->
      ivfPqBatchOracleWhere("k.vec_id % 3 = 1"),
    // batched serving under a takedown: dead slice out of the
    // candidates (a deleted id may still be a query, never a result)
    "q_ivfpq_batch_deleted" ->
      ivfPqBatchOracleWhere("k.vec_id % 7 <> 3"),
    // batched serving time-traveled: candidates = the as-of membership
    "q_ivfpq_batch_asof" ->
      ivfPqBatchOracleWhere("k.vec_id % 3 <> 2"),
    // raw index maintained incrementally, then BATCH-served through the
    // streaming union: pointwise encoding makes base∪increments
    // bit-equal to the batch build, so the oracle is the batch serving
    // SQL verbatim — microbatching is invisible to the serving tier
    "q_ivfpq_batch_inc" -> ivfPqBatchOracle,
    // JL projection: the sign-LSH plane formula at 16 planes, weights
    // cast through REAL (the Spark literal is ARRAY<FLOAT>), each output
    // dim an ORDER BY i fold — the same fixed order the native dot runs
    // unicode NFC: the fixture is ASCII, so real matches are FABRICATED
    // (the PII-redaction pattern) by injecting a decomposed combining
    // grave after every 'a'; NFC recomposes to U+00E0 and the codepoint
    // counts prove actual recomposition. DuckDB length() counts
    // codepoints like Spark's, but returns BIGINT -> CAST.
    "q_unicode_norm" ->
      """WITH m AS (SELECT doc_id, replace(text, 'a', 'a' || chr(768)) AS mangled FROM documents)
        |SELECT doc_id, CAST(length(mangled) AS INTEGER) AS len_raw,
        |  nfc_normalize(mangled) AS norm_text,
        |  CAST(length(nfc_normalize(mangled)) AS INTEGER) AS len_nfc
        |FROM m ORDER BY doc_id""".stripMargin,
    "q_jl_project" ->
      s"""WITH planes AS (
        |  SELECT j, i,
        |    ((CAST(('0x' || substr(md5(CAST(j AS VARCHAR) || '#' || CAST(i AS VARCHAR)), 1, 15)) AS BIGINT) % 2001 - 1000) / 1000.0) AS w
        |  FROM range(0, 16) t(j) CROSS JOIN range(0, 64) s(i)),
        |ex AS (SELECT vec_id, i - 1 AS i, CAST(embedding[i] AS DOUBLE) AS x
        |       FROM embeddings CROSS JOIN generate_series(1, 64) t(i)),
        |p AS (SELECT e.vec_id, pl.j,
        |        round(list_reduce(list_prepend(0.0,
        |          list(e.x * CAST(CAST(pl.w AS REAL) AS DOUBLE) ORDER BY e.i)), (a, b) -> a + b), 9) AS y
        |      FROM ex e JOIN planes pl ON e.i = pl.i GROUP BY e.vec_id, pl.j)
        |SELECT vec_id,
        |  ${(0 until 16).map(j =>
             s"max(CASE WHEN j = $j THEN y END) AS y$j").mkString(", ")}
        |FROM p GROUP BY vec_id ORDER BY vec_id""".stripMargin,
    // PCA: Gram via GROUP BY sums (cross-engine ulp noise ~1e-11
    // relative), then the driver's power iterations replayed op-for-op
    // (every fold ORDER BY j), pivot division bounds entries to [-1,1]
    // so round(...,6) has orders-of-magnitude margin over the Gram ulps
    "q_pca_power" ->
      """WITH ex AS (SELECT vec_id, i - 1 AS i, CAST(embedding[i] AS DOUBLE) AS x
        |            FROM embeddings CROSS JOIN generate_series(1, 64) t(i)),
        |g AS (SELECT a.i AS i, b.i AS j, sum(a.x * b.x) AS g
        |      FROM ex a JOIN ex b USING (vec_id) GROUP BY a.i, b.i),
        |p1 AS (SELECT i, list_reduce(list_prepend(0.0, list(g ORDER BY j)), (u, w) -> u + w) AS v
        |       FROM g GROUP BY i),
        |p2 AS (SELECT g.i, list_reduce(list_prepend(0.0, list(g.g * p.v ORDER BY g.j)), (u, w) -> u + w) AS v
        |       FROM g JOIN p1 p ON p.i = g.j GROUP BY g.i),
        |p3 AS (SELECT g.i, list_reduce(list_prepend(0.0, list(g.g * p.v ORDER BY g.j)), (u, w) -> u + w) AS v
        |       FROM g JOIN p2 p ON p.i = g.j GROUP BY g.i),
        |piv AS (SELECT v FROM p3 ORDER BY abs(v) DESC, i LIMIT 1),
        |s AS (SELECT p3.i, CAST(CAST(p3.v / piv.v AS REAL) AS DOUBLE) AS s FROM p3, piv),
        |y AS (SELECT e.vec_id,
        |        round(list_reduce(list_prepend(0.0, list(e.x * s.s ORDER BY e.i)), (u, w) -> u + w), 6) AS pc1
        |      FROM ex e JOIN s ON s.i = e.i GROUP BY e.vec_id)
        |SELECT vec_id, pc1 FROM y ORDER BY vec_id""".stripMargin,
    "q_bpe_train" -> bpeTrainOracle,
    "q_bpe_encode" -> bpeEncodeOracle,
    // per-language fertility over the same learned merge table: the
    // encode CTE chain grouped by documents.lang instead of doc_id
    "q_bpe_fertility" ->
      s"""$bpeCteChain,
         |wt AS (SELECT word, len(string_split(trim(w), '  ')) AS n_toks FROM v$bpeRounds),
         |dw AS (SELECT d.lang, unnest(regexp_extract_all(lower(d.text), '[a-z]+')) AS word FROM documents d)
         |SELECT lang, count(*) AS n_words,
         |  CAST(sum(n_toks) AS BIGINT) AS n_tokens,
         |  round(CAST(CAST(sum(n_toks) AS BIGINT) AS DOUBLE) / count(*), 6) AS tokens_per_word,
         |  round(CAST(CAST(sum(CASE WHEN n_toks = 1 THEN 1 ELSE 0 END) AS BIGINT) AS DOUBLE) / count(*), 6) AS single_token_frac
         |FROM dw JOIN wt USING (word)
         |GROUP BY lang ORDER BY lang""".stripMargin,
    "q_bpe_coverage" -> bpeCoverageOracle,
    "q_ngram_stats" ->
      """WITH w AS (SELECT regexp_extract_all(lower(text), '[a-z]+') AS l FROM documents),
        |g AS (SELECT unnest([array_to_string(l[j:j+2], ' ') for j in generate_series(1, len(l)-2)]) AS gram
        |      FROM w WHERE len(l) >= 3)
        |SELECT gram, count(*) AS cnt FROM g
        |GROUP BY gram ORDER BY cnt DESC, gram LIMIT 50""".stripMargin,
    // per-doc corpus-informed gram profile: integer counts + one final
    // division — the portable stand-in for an LM-perplexity filter
    "q_ngram_doc_score" ->
      """WITH w AS (SELECT doc_id, regexp_extract_all(lower(text), '[a-z]+') AS l FROM documents),
        |g AS (SELECT doc_id, unnest([array_to_string(l[j:j+2], ' ') for j in generate_series(1, len(l)-2)]) AS gram
        |      FROM w WHERE len(l) >= 3),
        |c AS (SELECT gram, count(*) AS c FROM g GROUP BY gram),
        |s AS (SELECT g.doc_id, CAST(count(*) AS INTEGER) AS n_grams,
        |        CAST(count(*) FILTER (WHERE c.c <= 1) AS INTEGER) AS n_rare,
        |        sum(c.c) AS sum_c
        |      FROM g JOIN c USING (gram) GROUP BY g.doc_id)
        |SELECT doc_id, n_grams, n_rare,
        |  round(CAST(n_rare AS DOUBLE) / CAST(n_grams AS DOUBLE), 6) AS rare_frac,
        |  round(CAST(sum_c AS DOUBLE) / CAST(n_grams AS DOUBLE), 6) AS boiler_score
        |FROM s ORDER BY doc_id""".stripMargin,
    // CCNet-style bigram LM: the model table is pure integer counts + ONE
    // correctly-rounded division (bit-exact cross-engine); the scorer's
    // per-doc −mean ln p(b|a) replays the sum as an ORDERED fold
    // (list(... ORDER BY pos) + list_reduce ≡ Spark's array_sort +
    // aggregate), the pcaPower discipline — ln() is within-1-ulp, so
    // identical op order bounds drift to ~n·ulp against a 1e-6 rounding.
    "q_lm_model" ->
      (lmBigramCte + """
        |cab AS (SELECT a, b, count(*) AS c_ab FROM tr GROUP BY a, b),
        |ca AS (SELECT a, count(*) AS c_a FROM tr GROUP BY a),
        |v AS (SELECT CAST(count(DISTINCT a) AS DOUBLE) AS v FROM tr)
        |SELECT cab.a, cab.b, cab.c_ab, ca.c_a,
        |  round((CAST(cab.c_ab AS DOUBLE) + CAST(1 AS DOUBLE)) /
        |        (CAST(ca.c_a AS DOUBLE) + v.v), 9) AS p
        |FROM cab JOIN ca ON cab.a = ca.a CROSS JOIN v
        |ORDER BY cab.a, cab.b""".stripMargin),
    "q_lm_perplexity" ->
      (lmScoreCte + """
        |SELECT doc_id, n_bigrams, xent FROM px
        |ORDER BY doc_id""".stripMargin),
    // CCNet head/middle/tail split: per-language perplexity tertiles over
    // the SAME scoring chain (ntile over the rounded xent + doc_id
    // tie-break is engine-deterministic; both engines define ntile as
    // first (n mod 3) groups get the extra row)
    "q_ccnet_buckets" ->
      (lmScoreCte + """,
        |bk AS (SELECT lang, xent,
        |         ntile(3) OVER (PARTITION BY lang ORDER BY xent, doc_id) AS b
        |       FROM px)
        |SELECT lang,
        |  CASE WHEN b = 1 THEN 'head' WHEN b = 2 THEN 'middle'
        |       ELSE 'tail' END AS bucket,
        |  count(*) AS n_docs, round(avg(xent), 6) AS avg_xent,
        |  min(xent) AS min_xent, max(xent) AS max_xent
        |FROM bk GROUP BY lang, b ORDER BY lang, bucket""".stripMargin),
    // release composition: exact-dedup keep-one -> CCNet gate (tertiles
    // 1-2 per lang over the SAME scoring chain, windowed over survivors
    // only) -> token-balanced shard ledger (q_shard_plan's rank body)
    "q_corpus_release" -> corpusReleaseOracle,
    // per-language xent drift gate (the grouped PSI rule): reference =
    // even doc_ids' LM scores, current = odd, per-lang edges/buckets/
    // smoothing replayed through the SAME px scoring chain — one term
    // row per (lang, bucket), each independently exact (no float fold
    // crosses the engines). Langs = those present in BOTH sides (the
    // gate emits rows only where it has reference AND evidence).
    "q_xent_gate_lang" -> (lmScoreCte + """,
      |refx AS (SELECT lang, xent FROM px WHERE doc_id % 2 = 0),
      |curx AS (SELECT lang, xent FROM px WHERE doc_id % 2 = 1),
      |ed AS (SELECT lang, min(xent) AS vmin, max(xent) AS vmax
      |       FROM refx GROUP BY lang),
      |rb AS (SELECT r.lang,
      |         CASE WHEN ed.vmax > ed.vmin
      |              THEN greatest(0, least(9, CAST(floor(((r.xent - ed.vmin) * 10) / (ed.vmax - ed.vmin)) AS INT)))
      |              ELSE 0 END AS bucket
      |       FROM refx r JOIN ed ON r.lang = ed.lang),
      |cb AS (SELECT c.lang,
      |         CASE WHEN ed.vmax > ed.vmin
      |              THEN greatest(0, least(9, CAST(floor(((c.xent - ed.vmin) * 10) / (ed.vmax - ed.vmin)) AS INT)))
      |              ELSE 0 END AS bucket
      |       FROM curx c JOIN ed ON c.lang = ed.lang),
      |rh AS (SELECT lang, bucket, CAST(count(*) AS BIGINT) AS c_ref FROM rb GROUP BY 1, 2),
      |ch AS (SELECT lang, bucket, CAST(count(*) AS BIGINT) AS c_cur FROM cb GROUP BY 1, 2),
      |ls AS (SELECT DISTINCT lang FROM cb),
      |de AS (SELECT l.lang, r.b AS bucket,
      |         COALESCE(rh.c_ref, 0) AS c_ref, COALESCE(ch.c_cur, 0) AS c_cur
      |       FROM ls l CROSS JOIN (SELECT CAST(unnest(range(0, 10)) AS INT) AS b) r
      |       LEFT JOIN rh ON rh.lang = l.lang AND rh.bucket = r.b
      |       LEFT JOIN ch ON ch.lang = l.lang AND ch.bucket = r.b),
      |tt AS (SELECT lang, CAST(sum(c_ref) AS BIGINT) AS n_ref,
      |         CAST(sum(c_cur) AS BIGINT) AS n_cur FROM de GROUP BY lang)
      |SELECT de.lang, de.bucket, de.c_ref, de.c_cur,
      |  round(((CAST(de.c_ref + 1 AS DOUBLE) / CAST(tt.n_ref + 10 AS DOUBLE)) -
      |         (CAST(de.c_cur + 1 AS DOUBLE) / CAST(tt.n_cur + 10 AS DOUBLE))) *
      |        ln(CAST((de.c_ref + 1) * (tt.n_cur + 10) AS DOUBLE) /
      |           CAST((de.c_cur + 1) * (tt.n_ref + 10) AS DOUBLE)), 6) AS psi_term
      |FROM de JOIN tt ON de.lang = tt.lang
      |ORDER BY de.lang, de.bucket""".stripMargin),
    // incremental release (q_corpus_release_inc): the Spark side ingests
    // three ascending-doc_id microbatches through the hash + score
    // ledgers and serves the manifest FROM the ledgers
    // (StreamingRelease); the oracle is the WHOLESALE batch composition
    // VERBATIM — hash-matching it pins that microbatch boundaries are
    // invisible in the released artifact
    "q_corpus_release_inc" -> corpusReleaseOracle,
    // ledger fold mid-ingest (VERDICT r14 #1): batches {0,1} folded
    // into one partition between the third and fourth microbatch, the
    // fourth ingesting against the FOLDED hash set — the fold is a
    // set-semantics merge, so the oracle is the wholesale release SQL
    // VERBATIM; the gate REQUIREs the pre-fold batch dirs gone
    "q_corpus_release_folded" -> corpusReleaseOracle,
    // takedown re-release: the wholesale release SQL with the
    // tombstoned doc_ids excluded from the keepers before the tertile
    // gate — the manifest over survivors must hash-match a from-scratch
    // release over the surviving corpus
    "q_corpus_release_takedown" ->
      corpusReleaseOracleWhere("k.doc_id % 11 <> 5"),
    // time-travel read: the manifest as-of batch 1 of three ascending
    // ntile slices — keepers restricted by the SAME ntile rule the
    // slicing used, so the as-of read equals the release that actually
    // shipped before batch 2 arrived
    "q_corpus_release_asof" -> corpusReleaseOracleWhere(
      "k.doc_id IN (SELECT doc_id FROM (SELECT doc_id, " +
        "ntile(3) OVER (ORDER BY doc_id) AS s FROM documents) " +
        "WHERE s <= 2)"),
    // tag-pinned fold floor: the maintenance loop folds LIVE with a
    // tag pinned at batch 1 of four ascending ntile slices — the
    // boundary floors at the tag (REQUIREd in-gate) and the serve at
    // the tag is the as-of cut the unpinned fold would have refused,
    // so the oracle is the as-of release SQL (first two slices)
    // VERBATIM
    "q_corpus_release_pinned" -> corpusReleaseOracleWhere(
      "k.doc_id IN (SELECT doc_id FROM (SELECT doc_id, " +
        "ntile(4) OVER (ORDER BY doc_id) AS s FROM documents) " +
        "WHERE s <= 2)"),
    // governance changelog between two snapshots of the SHIPPED corpus:
    // both memberships recomputed wholesale — keepers × the snapshot's
    // ledger cut/takedown predicate × the per-language TERTILE GATE the
    // manifest applies (ADVICE r13: diff what ships, not raw ledger
    // membership) — then the two-sided set difference
    "q_release_diff" ->
      (lmScoreCte + """,
        |tk AS (SELECT md5(text) AS h, min(doc_id) AS keep_id
        |       FROM documents GROUP BY 1),
        |k AS (SELECT d.doc_id FROM documents d
        |      JOIN tk ON d.doc_id = tk.keep_id),
        |sl AS (SELECT doc_id, ntile(3) OVER (ORDER BY doc_id) AS s
        |       FROM documents),
        |m1 AS (SELECT doc_id FROM (
        |        SELECT px.doc_id,
        |          ntile(3) OVER (PARTITION BY px.lang ORDER BY px.xent, px.doc_id) AS b
        |        FROM px JOIN k USING (doc_id) JOIN sl USING (doc_id)
        |        WHERE sl.s <= 2)
        |       WHERE b <= 2),
        |m2 AS (SELECT doc_id FROM (
        |        SELECT px.doc_id,
        |          ntile(3) OVER (PARTITION BY px.lang ORDER BY px.xent, px.doc_id) AS b
        |        FROM px JOIN k USING (doc_id)
        |        WHERE px.doc_id % 11 <> 5)
        |       WHERE b <= 2)
        |SELECT 'added' AS change, doc_id FROM m2
        | WHERE doc_id NOT IN (SELECT doc_id FROM m1)
        |UNION ALL
        |SELECT 'removed' AS change, doc_id FROM m1
        | WHERE doc_id NOT IN (SELECT doc_id FROM m2)
        |ORDER BY change, doc_id""".stripMargin),
    // weighted PageRank, 3 unrolled rounds (the ivfTrain/bpeTrain
    // pattern): integer edge weights; per-node in-neighbor sums are
    // FIXED-POINT — each contribution floor-quantized to 1e-9 units as
    // BIGINT, so the Σ is exact integer arithmetic (order-independent in
    // BOTH engines; the upstream doubles are identical bits because every
    // op is a correctly-rounded product/division of identical inputs).
    // DuckDB sum(BIGINT) is HUGEINT → CAST to BIGINT BEFORE the double
    // cast (hugeint→double double-rounds; bigint < 2^53 is exact).
    "q_pagerank" -> {
      val rnd = pageRankRoundCte _
      s"""WITH pairs AS (SELECT o_custkey * 2 AS cust,
         |                      l_suppkey * 2 + 1 AS supp,
         |                      count(*) AS w
         |               FROM orders JOIN lineitem ON o_orderkey = l_orderkey
         |               GROUP BY 1, 2),
         |e0 AS (SELECT cust AS src, supp AS dst, w FROM pairs
         |       UNION ALL SELECT supp, cust, w FROM pairs),
         |wo AS (SELECT src, CAST(CAST(sum(w) AS BIGINT) AS DOUBLE) AS wout
         |       FROM e0 GROUP BY src),
         |e AS (SELECT e0.src, e0.dst, CAST(e0.w AS DOUBLE) AS w, wo.wout
         |      FROM e0 JOIN wo ON e0.src = wo.src),
         |nodes AS (SELECT src AS node FROM e0 UNION SELECT dst FROM e0),
         |r0 AS (SELECT node, CAST(1 AS DOUBLE) AS rank FROM nodes),
         |${rnd(1)},
         |${rnd(2)},
         |${rnd(3)}
         |SELECT CASE WHEN node % 2 = 0 THEN 'C' || CAST(node // 2 AS VARCHAR)
         |            ELSE 'S' || CAST((node - 1) // 2 AS VARCHAR) END AS node,
         |  round(rank, 6) AS rank FROM r3 ORDER BY node""".stripMargin
    },
    // hashing-trick embeddings: integer signed counts, ONE IEEE sqrt of
    // an exact integer + correctly-rounded divisions — bit-exact
    "q_text_embed" -> {
      val dims = 0 until 16
      s"""WITH tok AS (SELECT doc_id, unnest(regexp_extract_all(lower(text), '[a-z]+')) AS t
         |            FROM documents),
         |h AS (SELECT doc_id,
         |        CAST(('0x' || substr(md5('emb#' || t), 1, 15)) AS BIGINT) % 16 AS j,
         |        CASE WHEN CAST(('0x' || substr(md5('emb#' || t), 16, 15)) AS BIGINT) % 2 = 0
         |             THEN 1 ELSE -1 END AS sgn
         |      FROM tok),
         |p AS (SELECT doc_id,
         |        ${dims.map(k =>
                    s"CAST(coalesce(sum(CASE WHEN j = $k THEN sgn END), 0) AS BIGINT) AS e$k")
                  .mkString(",\n         |        ")}
         |      FROM h GROUP BY doc_id),
         |n2 AS (SELECT *, ${dims.map(k => s"e$k * e$k").mkString(" + ")} AS ssq FROM p)
         |SELECT doc_id,
         |  ${dims.map(k =>
              s"round(CASE WHEN ssq = 0 THEN 0.0 ELSE CAST(e$k AS DOUBLE) / sqrt(CAST(ssq AS DOUBLE)) END, 9) AS e$k")
            .mkString(",\n         |  ")}
         |FROM n2 ORDER BY doc_id""".stripMargin
    },
    // char entropy: per-codepoint terms folded in ascending-codepoint
    // order (binary string ORDER BY == codepoint order for single-char
    // strings) mirrors the native kernel's TreeMap iteration; log2 via
    // ln·(1/ln 2) in BOTH engines so the op sequence matches.
    "q_char_entropy" ->
      """WITH ch AS (SELECT doc_id, unnest([substr(text, j, 1)
        |                  for j in generate_series(1, length(text))]) AS c
        |            FROM documents),
        |cc AS (SELECT doc_id, c, count(*) AS k FROM ch GROUP BY doc_id, c),
        |n AS (SELECT doc_id, length(text) AS n_cp FROM documents),
        |s AS (SELECT cc.doc_id,
        |        list_reduce(list_prepend(0.0, list(
        |          (CAST(cc.k AS DOUBLE) / CAST(n.n_cp AS DOUBLE)) *
        |          (ln(CAST(cc.k AS DOUBLE) / CAST(n.n_cp AS DOUBLE)) *
        |           (CAST(1 AS DOUBLE) / ln(CAST(2 AS DOUBLE))))
        |          ORDER BY cc.c)), (u, w2) -> u + w2) AS acc
        |      FROM cc JOIN n ON cc.doc_id = n.doc_id GROUP BY cc.doc_id)
        |SELECT n.doc_id, CAST(n.n_cp AS INTEGER) AS n_cp,
        |  round(-coalesce(s.acc, 0.0), 6) AS ent,
        |  CASE WHEN round(-coalesce(s.acc, 0.0), 6) < CAST(2.0 AS DOUBLE) THEN 'low_entropy'
        |       WHEN round(-coalesce(s.acc, 0.0), 6) > CAST(5.2 AS DOUBLE) THEN 'high_entropy'
        |       ELSE 'ok' END AS flag
        |FROM n LEFT JOIN s ON n.doc_id = s.doc_id ORDER BY n.doc_id""".stripMargin,
    // batch-perceptron quality classifier: integer feature counts +
    // unrolled full-batch rounds — pure int64 arithmetic on both engines
    // (the ivfTrain/bpeTrain unrolling pattern; DuckDB BIGINT sum() is
    // HUGEINT, so every sum/count is CAST back). The train oracle pins
    // the whole trajectory; the score oracle applies r3's weights.
    "q_quality_clf_train" ->
      (clfChain + """
        |SELECT 1 AS step, n_err, w0, w1, w2, w3, w4 FROM r1
        |UNION ALL SELECT 2, n_err, w0, w1, w2, w3, w4 FROM r2
        |UNION ALL SELECT 3, n_err, w0, w1, w2, w3, w4 FROM r3
        |ORDER BY step""".stripMargin),
    "q_quality_clf_score" ->
      (clfChain + s"""
        |SELECT f.doc_id, ${clfScoreExpr("r3")} AS score,
        |  CASE WHEN ${clfScoreExpr("r3")} > 0 THEN 'keep' ELSE 'drop' END AS pred
        |FROM f, r3 ORDER BY f.doc_id""".stripMargin),
    // token-budget selection: the (score DESC, doc_id) prefix whose
    // running token sum fits the budget — the oracle states the naive
    // global-window rule; the Spark side's two-phase cut is proven
    // equivalent by spec
    "q_budget_select" ->
      (clfChain + s"""
        |, sc AS (SELECT f.doc_id, ${clfScoreExpr("r3")} AS score,
        |           CAST(f.x1 + 25 AS BIGINT) AS n_tok FROM f, r3),
        |cum AS (SELECT doc_id, score, n_tok,
        |          sum(n_tok) OVER (ORDER BY score DESC, doc_id
        |            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS c
        |        FROM sc)
        |SELECT doc_id, score, n_tok FROM cum WHERE c <= 10000
        |ORDER BY doc_id""".stripMargin),
    // relevance scoring uses the RATIONAL idf (N-df+0.5)/(df+0.5) — BM25's
    // idf ratio without ln(), which is not correctly-rounded and differs
    // between java.lang.Math and DuckDB's libm in the last ulp. Every
    // fractional constant is CAST to DOUBLE: a bare 0.5/1.2 literal is
    // DECIMAL in DuckDB and would run the arithmetic in exact decimal,
    // diverging from Spark's double path.
    "q_tfidf" ->
      """WITH tf AS (SELECT doc_id, term, count(*) AS tf FROM (
        |    SELECT doc_id, unnest(regexp_extract_all(lower(text), '[a-z]+')) AS term FROM documents)
        |  GROUP BY doc_id, term),
        |df AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
        |n AS (SELECT count(*) AS n FROM documents),
        |s AS (SELECT t.doc_id, t.term,
        |  round(t.tf * ((n.n - d.df + CAST(0.5 AS DOUBLE)) / (d.df + CAST(0.5 AS DOUBLE))), 9) AS score
        |  FROM tf t JOIN df d USING (term) CROSS JOIN n),
        |r AS (SELECT doc_id, term, score,
        |  CAST(row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, term) AS INTEGER) AS rnk
        |  FROM s)
        |SELECT doc_id, term, rnk, score FROM r WHERE rnk <= 3
        |ORDER BY doc_id, rnk""".stripMargin,
    "q_bm25" ->
      """WITH tf AS (SELECT doc_id, term, count(*) AS tf FROM (
        |    SELECT doc_id, unnest(regexp_extract_all(lower(text), '[a-z]+')) AS term FROM documents)
        |  GROUP BY doc_id, term),
        |len AS (SELECT doc_id, CAST(sum(tf) AS BIGINT) AS dl FROM tf GROUP BY doc_id),
        |stats AS (SELECT count(*) AS n, avg(dl) AS avgdl FROM len),
        |qdf AS (SELECT term, count(*) AS df FROM tf
        |        WHERE term IN ('hash', 'join', 'window') GROUP BY term),
        |per AS (SELECT t.doc_id, t.term,
        |    ((s.n - q.df + CAST(0.5 AS DOUBLE)) / (q.df + CAST(0.5 AS DOUBLE))) *
        |    ((t.tf * CAST(2.2 AS DOUBLE)) /
        |     (t.tf + CAST(1.2 AS DOUBLE) * (CAST(0.25 AS DOUBLE) + CAST(0.75 AS DOUBLE) * l.dl / s.avgdl))) AS contrib
        |  FROM tf t JOIN qdf q USING (term)
        |  JOIN len l ON t.doc_id = l.doc_id CROSS JOIN stats s
        |  WHERE t.term IN ('hash', 'join', 'window')),
        |sc AS (SELECT doc_id,
        |    max(CASE WHEN term = 'hash' THEN contrib END) AS c_hash,
        |    max(CASE WHEN term = 'join' THEN contrib END) AS c_join,
        |    max(CASE WHEN term = 'window' THEN contrib END) AS c_window
        |  FROM per GROUP BY doc_id),
        |sc2 AS (SELECT doc_id,
        |    round(coalesce(c_hash, 0) + coalesce(c_join, 0) + coalesce(c_window, 0), 9) AS bm25
        |  FROM sc),
        |r AS (SELECT doc_id, bm25,
        |  CAST(row_number() OVER (ORDER BY bm25 DESC, doc_id) AS INTEGER) AS rnk FROM sc2)
        |SELECT doc_id, bm25, rnk FROM r WHERE rnk <= 20 ORDER BY rnk""".stripMargin,
    "q_filter_project" ->
      """SELECT l_orderkey, l_linenumber, l_returnflag, l_quantity
        |FROM lineitem
        |WHERE l_shipdate >= TIMESTAMP '1995-01-01'
        |  AND l_shipdate < TIMESTAMP '1996-07-01'
        |  AND l_returnflag IN ('A','R')
        |ORDER BY l_orderkey, l_linenumber""".stripMargin,
    "q_project_expr" ->
      s"""SELECT l_orderkey, l_linenumber,
         |  concat_ws('_', CAST(l_orderkey AS VARCHAR), CAST(l_linenumber AS VARCHAR)) AS line_id,
         |  CAST(CAST(l_extendedprice AS $D) * (1 - CAST(l_discount AS $R)) AS DOUBLE) AS revenue
         |FROM lineitem WHERE l_returnflag = 'N'
         |ORDER BY l_orderkey, l_linenumber""".stripMargin,
    "q1_agg" ->
      s"""SELECT l_returnflag, l_linestatus,
         |  ${dsum("l_quantity")} AS sum_qty,
         |  ${dsum("l_extendedprice")} AS sum_base_price,
         |  CAST(SUM(CAST(l_extendedprice AS $D) * (1 - CAST(l_discount AS $R))) AS DOUBLE) AS sum_disc_price,
         |  CAST(SUM(CAST(l_extendedprice AS $D) * (1 - CAST(l_discount AS $R)) * (1 + CAST(l_tax AS $R))) AS DOUBLE) AS sum_charge,
         |  ${dsum("l_quantity")} / COUNT(*) AS avg_qty,
         |  ${dsum("l_extendedprice")} / COUNT(*) AS avg_price,
         |  COUNT(*) AS count_order
         |FROM lineitem WHERE l_shipdate < TIMESTAMP '1997-01-01'
         |GROUP BY l_returnflag, l_linestatus
         |ORDER BY l_returnflag, l_linestatus""".stripMargin,
    "q_agg_having" ->
      s"""SELECT o_custkey, COUNT(*) AS n_orders, ${dsum("o_totalprice")} AS total_spent
         |FROM orders GROUP BY o_custkey HAVING COUNT(*) >= 3
         |ORDER BY o_custkey""".stripMargin,
    "q_count_distinct" ->
      """SELECT l_returnflag, COUNT(DISTINCT l_partkey) AS n_parts,
        |  COUNT(DISTINCT l_suppkey) AS n_supps, COUNT(*) AS n
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
    // KMV distinct sketch: k smallest 60-bit md5 hashes per group,
    // estimate (k-1)*2^60/h_k — (k-1)*2^60 has <= 6 significant bits
    // past the power, so the double product is exact in both engines
    "q_kmv_distinct" ->
      """WITH h AS (SELECT DISTINCT event_type AS g,
        |  CAST(('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 15)) AS BIGINT) AS h
        |  FROM events WHERE user_id IS NOT NULL),
        |r AS (SELECT g, h, row_number() OVER (PARTITION BY g ORDER BY h) AS rn FROM h),
        |k AS (SELECT g, CAST(count(*) AS INTEGER) AS n_kept,
        |             max(CASE WHEN rn = 64 THEN h END) AS hk
        |      FROM r WHERE rn <= 64 GROUP BY g)
        |SELECT g AS event_type, n_kept,
        |  CASE WHEN n_kept < 64 THEN CAST(n_kept AS DOUBLE)
        |       ELSE round(CAST(63 AS DOUBLE) * 1152921504606846976.0 / CAST(hk AS DOUBLE), 6)
        |  END AS est_distinct
        |FROM k ORDER BY event_type""".stripMargin,
    // HyperLogLog, m=64 registers: j = h mod 64, w = h//64 (54 bits),
    // rho = 55 - bitlength(w) via bin() string length (identical
    // minimal-binary semantics both engines); harmonic denominator
    // Z*2^55 = sum 2^(55-M_j) stays an exact BIGINT (<= 2^61); the
    // numerator is one literal-folded constant. Linear counting below
    // 2.5*m with V>0; its ln rounds at 6 places (1-ulp caveat, 63
    // possible arguments).
    "q_hll_distinct" ->
      """WITH h AS (SELECT event_type AS g,
        |  CAST(('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 15)) AS BIGINT) AS h
        |  FROM events WHERE user_id IS NOT NULL),
        |r AS (SELECT g, h % 64 AS j, h // 64 AS w FROM h),
        |rr AS (SELECT g, j, CASE WHEN w = 0 THEN 55 ELSE 55 - length(bin(w)) END AS rho FROM r),
        |m AS (SELECT g, j, max(rho) AS mj FROM rr GROUP BY g, j),
        |a AS (SELECT g, CAST(count(*) AS BIGINT) AS n_regs,
        |        CAST(sum(CAST(power(2, 55 - mj) AS BIGINT)) AS BIGINT) AS zp
        |      FROM m GROUP BY g),
        |zz AS (SELECT g, n_regs, zp + (64 - n_regs) * 36028797018963968 AS z FROM a)
        |SELECT g AS event_type, n_regs, z,
        |  CASE WHEN (CAST(0.709 AS DOUBLE) * 4096 * CAST(36028797018963968 AS DOUBLE)) / CAST(z AS DOUBLE) <= 160.0
        |            AND 64 - n_regs > 0
        |       THEN round(CAST(64 AS DOUBLE) * ln(CAST(64 AS DOUBLE) / CAST(64 - n_regs AS DOUBLE)), 6)
        |       ELSE round((CAST(0.709 AS DOUBLE) * 4096 * CAST(36028797018963968 AS DOUBLE)) / CAST(z AS DOUBLE), 6)
        |  END AS est_distinct
        |FROM zz ORDER BY event_type""".stripMargin,
    // join-key skew report: per-key frequency table per candidate key,
    // percentile over the key-bounded table, one double division
    "q_skew_report" ->
      """WITH f1 AS (SELECT l_partkey AS k, count(*) AS f FROM lineitem GROUP BY 1),
        |a1 AS (SELECT 'lineitem.l_partkey' AS key_col, CAST(sum(f) AS BIGINT) AS n_rows,
        |         CAST(count(*) AS BIGINT) AS n_keys, CAST(max(f) AS BIGINT) AS max_freq,
        |         quantile_cont(f, 0.5) AS p50_freq, quantile_cont(f, 0.99) AS p99_freq FROM f1),
        |f2 AS (SELECT l_suppkey AS k, count(*) AS f FROM lineitem GROUP BY 1),
        |a2 AS (SELECT 'lineitem.l_suppkey', CAST(sum(f) AS BIGINT),
        |         CAST(count(*) AS BIGINT), CAST(max(f) AS BIGINT),
        |         quantile_cont(f, 0.5), quantile_cont(f, 0.99) FROM f2),
        |f3 AS (SELECT o_custkey AS k, count(*) AS f FROM orders GROUP BY 1),
        |a3 AS (SELECT 'orders.o_custkey', CAST(sum(f) AS BIGINT),
        |         CAST(count(*) AS BIGINT), CAST(max(f) AS BIGINT),
        |         quantile_cont(f, 0.5), quantile_cont(f, 0.99) FROM f3),
        |u AS (SELECT * FROM a1 UNION ALL SELECT * FROM a2 UNION ALL SELECT * FROM a3)
        |SELECT key_col, n_rows, n_keys, max_freq, p50_freq, p99_freq,
        |  CAST(max_freq AS DOUBLE) / CAST(n_rows AS DOUBLE) AS top_share
        |FROM u ORDER BY key_col""".stripMargin,
    // per-column numeric profile: null count, exact distinct, min/max
    "q_profile" ->
      """WITH p AS (
        |  SELECT 'l_quantity' AS "column", CAST(count(*) AS BIGINT) AS n_rows,
        |    CAST(sum(CASE WHEN l_quantity IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_nulls,
        |    CAST(count(DISTINCT l_quantity) AS BIGINT) AS n_distinct,
        |    CAST(min(l_quantity) AS DOUBLE) AS min_v, CAST(max(l_quantity) AS DOUBLE) AS max_v
        |  FROM lineitem
        |  UNION ALL
        |  SELECT 'l_extendedprice', CAST(count(*) AS BIGINT),
        |    CAST(sum(CASE WHEN l_extendedprice IS NULL THEN 1 ELSE 0 END) AS BIGINT),
        |    CAST(count(DISTINCT l_extendedprice) AS BIGINT),
        |    CAST(min(l_extendedprice) AS DOUBLE), CAST(max(l_extendedprice) AS DOUBLE)
        |  FROM lineitem
        |  UNION ALL
        |  SELECT 'l_discount', CAST(count(*) AS BIGINT),
        |    CAST(sum(CASE WHEN l_discount IS NULL THEN 1 ELSE 0 END) AS BIGINT),
        |    CAST(count(DISTINCT l_discount) AS BIGINT),
        |    CAST(min(l_discount) AS DOUBLE), CAST(max(l_discount) AS DOUBLE)
        |  FROM lineitem
        |  UNION ALL
        |  SELECT 'l_tax', CAST(count(*) AS BIGINT),
        |    CAST(sum(CASE WHEN l_tax IS NULL THEN 1 ELSE 0 END) AS BIGINT),
        |    CAST(count(DISTINCT l_tax) AS BIGINT),
        |    CAST(min(l_tax) AS DOUBLE), CAST(max(l_tax) AS DOUBLE)
        |  FROM lineitem)
        |SELECT * FROM p ORDER BY "column"""".stripMargin,
    // Count-Min sketch: d=4 rows x w=1024 counters, est = min of the
    // item's d counters (never under-counts); probes = user_id < 20
    "q_cms_freq" ->
      """WITH v AS (SELECT CAST(user_id AS VARCHAR) AS v FROM events),
        |s AS (SELECT j,
        |        CAST(('0x' || substr(md5(v || '#' || CAST(j AS VARCHAR)), 1, 15)) AS BIGINT) % 1024 AS b,
        |        count(*) AS c
        |      FROM v CROSS JOIN range(0, 4) t(j) GROUP BY j, b),
        |p AS (SELECT DISTINCT user_id, CAST(user_id AS VARCHAR) AS v
        |      FROM events WHERE user_id < 20),
        |pb AS (SELECT p.user_id, j,
        |         CAST(('0x' || substr(md5(p.v || '#' || CAST(j AS VARCHAR)), 1, 15)) AS BIGINT) % 1024 AS b
        |       FROM p CROSS JOIN range(0, 4) t(j)),
        |e AS (SELECT pb.user_id, min(COALESCE(s.c, 0)) AS est
        |      FROM pb LEFT JOIN s USING (j, b) GROUP BY pb.user_id),
        |x AS (SELECT user_id, count(*) AS n_exact FROM events
        |      WHERE user_id < 20 GROUP BY user_id)
        |SELECT e.user_id, e.est, x.n_exact FROM e JOIN x USING (user_id)
        |ORDER BY user_id""".stripMargin,
    // 2-D Morton key, 16 bits per dimension, unrolled shift-mask terms —
    // generated from the same (i, 2i, 2i+1) layout as Layout.zkey2
    "q_zorder_key" -> {
      val terms = (0 until 16).map(i =>
        s"(((l_partkey >> $i) & 1) << ${2 * i}) + (((l_suppkey >> $i) & 1) << ${2 * i + 1})")
        .mkString(" + ")
      s"""WITH p AS (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem)
         |SELECT l_partkey, l_suppkey, $terms AS zkey
         |FROM p ORDER BY zkey, l_partkey, l_suppkey""".stripMargin
    },
    // md5-position bloom filter: nh=3 positions in m=8192 bits; a probe
    // is "might" iff all 3 positions are set. member => might always.
    "q_bloom_filter" ->
      """WITH ks AS (SELECT DISTINCT c_custkey AS k FROM customer WHERE c_acctbal > 9000),
        |pos AS (SELECT DISTINCT
        |          CAST(('0x' || substr(md5(CAST(k AS VARCHAR) || '#' || CAST(j AS VARCHAR)), 1, 15)) AS BIGINT) % 8192 AS p
        |        FROM ks CROSS JOIN range(0, 3) t(j)),
        |probe AS (SELECT DISTINCT o_custkey AS custkey FROM orders),
        |pp AS (SELECT custkey, j,
        |         CAST(('0x' || substr(md5(CAST(custkey AS VARCHAR) || '#' || CAST(j AS VARCHAR)), 1, 15)) AS BIGINT) % 8192 AS p
        |       FROM probe CROSS JOIN range(0, 3) t(j)),
        |hit AS (SELECT pp.custkey, count(*) AS nhit FROM pp JOIN pos USING (p) GROUP BY pp.custkey)
        |SELECT probe.custkey,
        |  COALESCE(hit.nhit, 0) = 3 AS might,
        |  probe.custkey IN (SELECT k FROM ks) AS member
        |FROM probe LEFT JOIN hit USING (custkey)
        |ORDER BY custkey""".stripMargin,
    "q_rollup" ->
      s"""SELECT l_returnflag, l_linestatus, COUNT(*) AS n, ${dsum("l_quantity")} AS qty
         |FROM lineitem GROUP BY ROLLUP(l_returnflag, l_linestatus)
         |ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST""".stripMargin,
    "q_cube" ->
      s"""SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n, ${dsum("o_totalprice")} AS total
         |FROM orders GROUP BY CUBE(o_orderstatus, o_orderpriority)
         |ORDER BY o_orderstatus NULLS FIRST, o_orderpriority NULLS FIRST""".stripMargin,
    "q_topk" ->
      """SELECT o_orderkey, o_custkey, o_totalprice FROM orders
        |ORDER BY o_totalprice DESC, o_orderkey LIMIT 10""".stripMargin,
    "q_percentiles" ->
      """SELECT l_returnflag,
        |  quantile_cont(l_quantity, 0.5) AS p50_qty,
        |  quantile_cont(l_quantity, 0.9) AS p90_qty,
        |  quantile_cont(l_extendedprice, 0.25) AS p25_price,
        |  quantile_cont(l_extendedprice, 0.75) AS p75_price
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
    // two-pass stddev over exact decimal sums (engine-native stddev_samp
    // is merge-order-dependent and proved input-lucky across engines):
    // identical five-op double sequence on both sides
    "q_stats" ->
      """WITH s AS (SELECT l_returnflag,
        |    CAST(sum(CAST(l_quantity AS DECIMAL(14,2))) AS DOUBLE) AS s1q,
        |    CAST(sum(CAST(l_quantity AS DECIMAL(14,2)) * CAST(l_quantity AS DECIMAL(14,2))) AS DOUBLE) AS s2q,
        |    CAST(sum(CAST(l_discount AS DECIMAL(14,2))) AS DOUBLE) AS s1d,
        |    CAST(sum(CAST(l_discount AS DECIMAL(14,2)) * CAST(l_discount AS DECIMAL(14,2))) AS DOUBLE) AS s2d,
        |    COUNT(*) AS n
        |  FROM lineitem GROUP BY l_returnflag)
        |SELECT l_returnflag,
        |  sqrt((s2q - s1q * s1q / CAST(n AS DOUBLE)) / (CAST(n AS DOUBLE) - CAST(1 AS DOUBLE))) AS sd_qty,
        |  sqrt((s2d - s1d * s1d / CAST(n AS DOUBLE)) / (CAST(n AS DOUBLE) - CAST(1 AS DOUBLE))) AS sd_disc,
        |  n
        |FROM s ORDER BY l_returnflag""".stripMargin,
    // MAD: two shared-convention percentile passes (rank = p·(n−1) in
    // both engines, proven by q_percentiles); deviations are
    // correctly-rounded subtractions of identical doubles
    "q_mad" ->
      """WITH m AS (SELECT l_returnflag, quantile_cont(l_quantity, 0.5) AS med_qty
        |           FROM lineitem GROUP BY l_returnflag)
        |SELECT l.l_returnflag,
        |  quantile_cont(abs(CAST(l.l_quantity AS DOUBLE) - m.med_qty), 0.5) AS mad_qty,
        |  max(m.med_qty) AS med_qty,
        |  COUNT(*) AS n
        |FROM lineitem l JOIN m ON l.l_returnflag = m.l_returnflag
        |GROUP BY l.l_returnflag ORDER BY l.l_returnflag""".stripMargin,
    // two-pass exact-decimal correlation (same technique as q_stats) —
    // what brings corr into the oracle surface at all
    "q_corr" ->
      """WITH s AS (SELECT l_returnflag,
        |    CAST(sum(CAST(l_quantity AS DECIMAL(14,2))) AS DOUBLE) AS sx,
        |    CAST(sum(CAST(l_discount AS DECIMAL(14,2))) AS DOUBLE) AS sy,
        |    CAST(sum(CAST(l_quantity AS DECIMAL(14,2)) * CAST(l_discount AS DECIMAL(14,2))) AS DOUBLE) AS sxy,
        |    CAST(sum(CAST(l_quantity AS DECIMAL(14,2)) * CAST(l_quantity AS DECIMAL(14,2))) AS DOUBLE) AS sxx,
        |    CAST(sum(CAST(l_discount AS DECIMAL(14,2)) * CAST(l_discount AS DECIMAL(14,2))) AS DOUBLE) AS syy,
        |    COUNT(*) AS n
        |  FROM lineitem GROUP BY l_returnflag)
        |SELECT l_returnflag,
        |  (sxy - sx * sy / CAST(n AS DOUBLE)) /
        |    sqrt((sxx - sx * sx / CAST(n AS DOUBLE)) * (syy - sy * sy / CAST(n AS DOUBLE))) AS corr_qd,
        |  n
        |FROM s ORDER BY l_returnflag""".stripMargin,
    "q_histogram" ->
      """SELECT CAST(1 + floor((l_quantity - 1) / 5) AS BIGINT) AS bucket,
        |  COUNT(*) AS n
        |FROM lineitem GROUP BY 1 ORDER BY 1""".stripMargin,
    "q_set_intersect" ->
      """SELECT o_custkey AS custkey FROM orders
        |INTERSECT
        |SELECT c_custkey AS custkey FROM customer WHERE c_acctbal > 0
        |ORDER BY custkey""".stripMargin,
    "q_set_except" ->
      """SELECT c_custkey AS custkey FROM customer
        |EXCEPT
        |SELECT o_custkey AS custkey FROM orders
        |ORDER BY custkey""".stripMargin,
    "q_set_union" ->
      """SELECT c_nationkey AS nk FROM customer
        |UNION
        |SELECT s_nationkey AS nk FROM supplier
        |ORDER BY nk""".stripMargin,
    "q_join_inner" ->
      """SELECT e.event_id, e.user_id, c.c_name, c.c_mktsegment, e.value
        |FROM events e JOIN customer c ON e.user_id = c.c_custkey
        |ORDER BY e.event_id""".stripMargin,
    "q_join_left" ->
      """SELECT o.o_orderkey, o.o_custkey, c.c_name, c.c_acctbal
        |FROM orders o LEFT JOIN (SELECT * FROM customer WHERE c_acctbal > 5000) c
        |  ON o.o_custkey = c.c_custkey
        |ORDER BY o.o_orderkey""".stripMargin,
    "q_join_semi" ->
      """SELECT c_custkey, c_name FROM customer
        |WHERE c_custkey IN (SELECT o_custkey FROM orders WHERE o_totalprice > 100000)
        |ORDER BY c_custkey""".stripMargin,
    "q_join_anti" ->
      """SELECT c_custkey, c_name FROM customer c
        |WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
        |ORDER BY c_custkey""".stripMargin,
    "q_join_multi" ->
      s"""SELECT r_name, n_name,
         |  CAST(SUM(CAST(l_extendedprice AS $D) * (1 - CAST(l_discount AS $R))) AS DOUBLE) AS revenue,
         |  COUNT(*) AS n_items
         |FROM lineitem
         |JOIN orders ON l_orderkey = o_orderkey
         |JOIN customer ON o_custkey = c_custkey
         |JOIN supplier ON l_suppkey = s_suppkey
         |JOIN nation ON s_nationkey = n_nationkey
         |JOIN region ON n_regionkey = r_regionkey
         |GROUP BY r_name, n_name ORDER BY r_name, n_name""".stripMargin,
    "q_join_range" ->
      s"""SELECT p_brand, COUNT(*) AS n, ${dsum("l_quantity")} AS qty
         |FROM lineitem JOIN part ON l_partkey = p_partkey
         |  AND l_quantity >= p_size - 5 AND l_quantity <= p_size + 5
         |GROUP BY p_brand ORDER BY p_brand""".stripMargin,
    "q_join_full_outer" ->
      """SELECT nk, COALESCE(n_cust, 0) AS n_cust, COALESCE(n_supp, 0) AS n_supp
        |FROM (SELECT c_nationkey AS nk, COUNT(*) AS n_cust FROM customer GROUP BY 1) c
        |FULL OUTER JOIN (SELECT s_nationkey AS nk, COUNT(*) AS n_supp FROM supplier GROUP BY 1) s
        |USING (nk)
        |ORDER BY nk""".stripMargin,
    "q_asof_lag" ->
      s"""SELECT event_id, user_id, value, prev_value,
         |  CAST(CAST(value AS $D) - CAST(prev_value AS $D) AS DOUBLE) AS delta
         |FROM (SELECT event_id, user_id, value,
         |        lag(value) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_value
         |      FROM events)
         |ORDER BY user_id, event_id""".stripMargin,
    "q_latest_per_key" ->
      """SELECT user_id, event_id AS last_event_id, value AS last_value, n_events
        |FROM (SELECT user_id, event_id, value,
        |        row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn,
        |        COUNT(*) OVER (PARTITION BY user_id) AS n_events
        |      FROM events)
        |WHERE rn = 1 ORDER BY user_id""".stripMargin,
    "q_top1_per_key" ->
      """SELECT user_id, event_id, value
        |FROM (SELECT user_id, event_id, value,
        |        row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
        |      FROM events)
        |WHERE rn = 1 ORDER BY user_id""".stripMargin,
    "q_window_rank" ->
      """SELECT o_custkey, CAST(rk AS INTEGER) AS rk, o_orderkey, o_totalprice
        |FROM (SELECT o_custkey, o_orderkey, o_totalprice,
        |        row_number() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey) AS rk
        |      FROM orders)
        |WHERE rk <= 3 ORDER BY o_custkey, rk""".stripMargin,
    "q_window_running" ->
      s"""SELECT user_id, event_id, value,
         |  CAST(SUM(CAST(value AS $D)) OVER (PARTITION BY user_id ORDER BY ts, event_id
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS running_value
         |FROM events ORDER BY user_id, event_id""".stripMargin,
    "q_diff_keys" ->
      """WITH x AS (
        |  SELECT event_id, user_id, event_type,
        |    json_extract_string(props, '$.k') AS k,
        |    lag(event_type) OVER w AS petype,
        |    lag(json_extract_string(props, '$.k')) OVER w AS pk,
        |    row_number() OVER w AS rn
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id))
        |SELECT event_id, user_id,
        |  COALESCE(array_to_string(CASE WHEN rn = 1 THEN (CASE WHEN event_type = 'purchase' THEN ['etype','flag','k'] ELSE ['etype','k'] END)
        |       WHEN event_type = 'purchase' AND petype <> 'purchase' THEN ['flag']
        |       ELSE CAST([] AS VARCHAR[]) END, '|'), '') AS added,
        |  COALESCE(array_to_string(CASE WHEN rn > 1 AND petype = 'purchase' AND event_type <> 'purchase' THEN ['flag']
        |       ELSE CAST([] AS VARCHAR[]) END, '|'), '') AS deleted,
        |  COALESCE(array_to_string(CASE WHEN rn = 1 THEN CAST([] AS VARCHAR[])
        |       ELSE list_sort(list_concat(
        |         CASE WHEN event_type <> petype THEN ['etype'] ELSE CAST([] AS VARCHAR[]) END,
        |         CASE WHEN k <> pk THEN ['k'] ELSE CAST([] AS VARCHAR[]) END)) END, '|'), '') AS changed
        |FROM x ORDER BY user_id, event_id""".stripMargin,
    "q_change_gate" ->
      """WITH x AS (
        |  SELECT event_id, user_id, event_type,
        |    json_extract_string(props, '$.k') AS k,
        |    lag(event_type) OVER w AS petype,
        |    lag(json_extract_string(props, '$.k')) OVER w AS pk,
        |    row_number() OVER w AS rn
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id))
        |SELECT user_id, COUNT(*) AS n_changes FROM x
        |WHERE rn = 1 OR event_type <> petype OR k <> pk
        |GROUP BY user_id ORDER BY user_id""".stripMargin,
    "q_explode_words" ->
      """SELECT word, COUNT(*) AS n
        |FROM (SELECT unnest(regexp_split_to_array(trim(text), '\s+')) AS word FROM documents)
        |GROUP BY word ORDER BY word""".stripMargin,
    "q_array_ops" ->
      """WITH x AS (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS w FROM documents)
        |SELECT doc_id, CAST(len(w) AS INTEGER) AS n_words,
        |  array_to_string(w[1:3], '|') AS first3,
        |  list_contains(w, 'scan') AS has_scan,
        |  CAST(COALESCE(list_position(w, 'scan'), 0) AS BIGINT) AS scan_pos,
        |  array_to_string(list_transform(w[1:3], t -> upper(t)), '|') AS upper3,
        |  array_to_string(list_sort(w[1:5]), '|') AS sorted5,
        |  COALESCE(array_to_string(list_sort(list_distinct(list_filter(w[1:3], t -> list_contains(w[4:6], t)))), '|'), '') AS inter33,
        |  COALESCE(array_to_string(list_sort(list_distinct(list_filter(w[1:3], t -> NOT list_contains(w[4:6], t)))), '|'), '') AS except33
        |FROM x ORDER BY doc_id""".stripMargin,
    "q_array_agg" ->
      """SELECT lang, array_to_string(list_sort(list(DISTINCT source)), '|') AS sources,
        |  COUNT(*) AS n_docs
        |FROM documents GROUP BY lang ORDER BY lang""".stripMargin,
    "q_hierarchy" ->
      """WITH RECURSIVE edges AS (
        |  SELECT 'N' || CAST(n_nationkey AS VARCHAR) AS id,
        |         'R' || CAST(n_regionkey AS VARCHAR) AS parent FROM nation
        |  UNION ALL
        |  SELECT 'C' || CAST(c_custkey AS VARCHAR), 'N' || CAST(c_nationkey AS VARCHAR) FROM customer),
        |paths AS (
        |  SELECT DISTINCT e.parent AS node_id, CAST([] AS VARCHAR[]) AS breadcrumb
        |  FROM edges e WHERE e.parent NOT IN (SELECT id FROM edges)
        |  UNION ALL
        |  SELECT e.id, list_append(p.breadcrumb, p.node_id)
        |  FROM edges e JOIN paths p ON e.parent = p.node_id)
        |SELECT node_id, COALESCE(array_to_string(breadcrumb, '|'), '') AS breadcrumb,
        |  CAST(len(breadcrumb) AS INTEGER) AS depth
        |FROM paths ORDER BY node_id""".stripMargin,
    "q_breadcrumb_names" ->
      """SELECT c_custkey, 'N' || CAST(n_nationkey AS VARCHAR) AS parent_id,
        |  array_to_string([r_name, n_name], '|') AS breadcrumb_names
        |FROM customer JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |ORDER BY c_custkey""".stripMargin,
    "q_window_tumbling" ->
      s"""SELECT (epoch_ns(ts) // 3600000000000) * 3600000 AS wstart_ms, event_type,
         |  COUNT(*) AS n, ${dsum("value")} AS total
         |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "q_window_sliding" ->
      """SELECT ws * 3600000 AS wstart_ms, COUNT(*) AS n
        |FROM (SELECT unnest([hb - 1, hb]) AS ws
        |      FROM (SELECT epoch_ns(ts) // 3600000000000 AS hb FROM events))
        |GROUP BY ws ORDER BY ws""".stripMargin,
    "q_session_window" ->
      """WITH x AS (
        |  SELECT user_id, epoch_ns(ts) // 1000 AS tus,
        |    CASE WHEN lag(epoch_ns(ts) // 1000) OVER w IS NULL
        |         OR epoch_ns(ts) // 1000 - lag(epoch_ns(ts) // 1000) OVER w >= 1800000000
        |         THEN 1 ELSE 0 END AS brk
        |  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |s AS (SELECT user_id, tus, SUM(brk) OVER (PARTITION BY user_id ORDER BY tus
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid FROM x)
        |SELECT user_id, MIN(tus) // 1000 AS session_start_ms, COUNT(*) AS n
        |FROM s GROUP BY user_id, sid ORDER BY user_id, session_start_ms""".stripMargin,
    "q_token_stats" ->
      """WITH x AS (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS toks FROM documents)
        |SELECT doc_id, CAST(len(toks) AS INTEGER) AS n_tokens,
        |  CAST(len(list_distinct(toks)) AS INTEGER) AS n_uniq_tokens,
        |  CAST(list_sum(list_transform(toks, t -> length(t))) AS DOUBLE) / len(toks) AS avg_token_len
        |FROM x ORDER BY doc_id""".stripMargin,
    "q_quality_score" ->
      """WITH x AS (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS toks FROM documents),
        |y AS (SELECT doc_id, len(toks) AS n,
        |        len(list_filter(toks, t -> list_contains(['the','a','of','and','to'], t))) AS nstop,
        |        len(list_distinct(toks)) AS nuniq
        |      FROM x)
        |SELECT doc_id, CAST(n AS INTEGER) AS n_tokens,
        |  CAST(nstop AS DOUBLE) / n AS stopword_ratio,
        |  CAST(nuniq AS DOUBLE) / n AS uniq_ratio,
        |  CASE WHEN CAST(nstop AS DOUBLE) / n > 0.2 THEN 'low'
        |       WHEN n >= 12 THEN 'ok' ELSE 'short' END AS quality
        |FROM y ORDER BY doc_id""".stripMargin,
    "q_lang_id" ->
      """WITH x AS (SELECT doc_id, lang, regexp_split_to_array(trim(text), '\s+') AS toks FROM documents),
        |y AS (SELECT doc_id, lang,
        |  CAST(len(list_filter(toks, t -> list_contains(['the','a','and'], t))) AS INTEGER) AS score_en,
        |  CAST(len(list_filter(toks, t -> list_contains(['el','la','de'], t))) AS INTEGER) AS score_es,
        |  CAST(len(list_filter(toks, t -> list_contains(['der','die','das'], t))) AS INTEGER) AS score_de
        |  FROM x)
        |SELECT doc_id, lang AS declared_lang, score_en, score_es, score_de,
        |  CASE WHEN score_en >= score_es AND score_en >= score_de THEN 'en'
        |       WHEN score_es >= score_de THEN 'es' ELSE 'de' END AS predicted_lang
        |FROM y ORDER BY doc_id""".stripMargin,
    "q_fingerprint" ->
      """SELECT doc_id,
        |  list_reduce(list_prepend(CAST(0 AS BIGINT),
        |    list_transform(string_split(text, ''), c -> CAST(ascii(c) AS BIGINT))),
        |    (acc, x) -> (acc * 31 + x) % 1000000007) AS fp
        |FROM documents ORDER BY doc_id""".stripMargin,
    "q_token_bpe" ->
      """SELECT doc_id,
        |  CAST(len(regexp_extract_all(text, '''(?:s|t|re|ve|m|ll|d)| ?\p{L}+| ?\p{N}+| ?[^\s\p{L}\p{N}]+|\s+', 0)) AS INTEGER) AS n_bpe_tokens,
        |  CAST(len(regexp_split_to_array(trim(text), '\s+')) AS INTEGER) AS n_ws_tokens,
        |  COALESCE(array_to_string(regexp_extract_all(text, '''(?:s|t|re|ve|m|ll|d)| ?\p{L}+| ?\p{N}+| ?[^\s\p{L}\p{N}]+|\s+', 0)[1:5], '|'), '') AS first5
        |FROM documents ORDER BY doc_id""".stripMargin,
    "q_dedup_exact" ->
      """SELECT md5(text) AS h, MIN(doc_id) AS keep_id, COUNT(*) AS n_copies
        |FROM documents GROUP BY md5(text) ORDER BY h""".stripMargin,
    // soft dedup: every copy of an n-duplicate text keeps weight 1/n —
    // per-source raw vs effective corpus accounting
    "q_soft_dedup" ->
      """WITH d AS (SELECT doc_id, source, n_chars, md5(text) AS h FROM documents),
        |s AS (SELECT h, count(*) AS n FROM d GROUP BY h)
        |SELECT source, count(*) AS n_docs,
        |  round(sum(CAST(1 AS DOUBLE) / n), 6) AS eff_docs,
        |  CAST(sum(n_chars) AS BIGINT) AS n_chars,
        |  round(sum(CAST(n_chars AS DOUBLE) / n), 6) AS eff_chars
        |FROM d JOIN s USING (h) GROUP BY source ORDER BY source""".stripMargin,
    // temperature mixing on the soft-dedup ledger's EFFECTIVE char mass
    // (alpha = 0.5 -> one IEEE sqrt); shares round to 6
    "q_mix_ledger" ->
      """WITH d AS (SELECT doc_id, source, n_chars, md5(text) AS h FROM documents),
        |s AS (SELECT h, count(*) AS n FROM d GROUP BY h),
        |led AS (SELECT source,
        |          round(sum(CAST(n_chars AS DOUBLE) / n), 6) AS eff_chars
        |        FROM d JOIN s USING (h) GROUP BY source),
        |w AS (SELECT source, eff_chars, sqrt(eff_chars) AS w FROM led),
        |tot AS (SELECT CAST(sum(w) AS DOUBLE) AS tw,
        |               CAST(sum(eff_chars) AS DOUBLE) AS te FROM w)
        |SELECT source, eff_chars,
        |  round(eff_chars / te, 6) AS p_raw,
        |  round(w / tw, 6) AS p_mix
        |FROM w CROSS JOIN tot ORDER BY source""".stripMargin,
    "q_ngram_jaccard" ->
      """WITH tk AS (SELECT doc_id, lang, source, regexp_split_to_array(trim(text), '\s+') AS toks FROM documents),
        |sh AS (SELECT doc_id, lang, source,
        |         list_distinct([array_to_string(toks[i:i+2], ' ')
        |                        FOR i IN generate_series(1, len(toks) - 2)]) AS sh
        |       FROM tk)
        |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |  CAST(len(list_filter(a.sh, s -> list_contains(b.sh, s))) AS DOUBLE) /
        |    len(list_distinct(list_concat(a.sh, b.sh))) AS jaccard
        |FROM sh a JOIN sh b ON a.lang = b.lang AND a.source = b.source AND a.doc_id < b.doc_id
        |WHERE CAST(len(list_filter(a.sh, s -> list_contains(b.sh, s))) AS DOUBLE) /
        |    len(list_distinct(list_concat(a.sh, b.sh))) >= 0.2
        |ORDER BY id_a, id_b""".stripMargin,
    "q_minhash_lsh" ->
      raw"""WITH tk AS (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS toks FROM documents),
        |sh AS (SELECT doc_id,
        |         list_distinct([array_to_string(toks[i:i+2], ' ')
        |                        FOR i IN generate_series(1, len(toks) - 2)]) AS sh
        |       FROM tk),
        |ex AS (SELECT doc_id, unnest(sh) AS s FROM sh),
        |${sigCte("ex")},
        |pairs AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |    CAST(len(list_filter(generate_series(1, 8), i -> a.sig[i] = b.sig[i])) AS DOUBLE) / 8 AS est_sim
        |  FROM sig a JOIN sig b ON a.doc_id < b.doc_id AND (
        |    (a.sig[1] = b.sig[1] AND a.sig[2] = b.sig[2]) OR
        |    (a.sig[3] = b.sig[3] AND a.sig[4] = b.sig[4]) OR
        |    (a.sig[5] = b.sig[5] AND a.sig[6] = b.sig[6]) OR
        |    (a.sig[7] = b.sig[7] AND a.sig[8] = b.sig[8])))
        |SELECT id_a, id_b, est_sim FROM pairs WHERE est_sim >= 0.5
        |ORDER BY id_a, id_b""".stripMargin,
    // transitive closure of the LSH pair relation via WITH RECURSIVE;
    // cluster id = min reachable doc_id, singletons map to themselves
    "q_dup_clusters" ->
      (dupClusterCte + """
        |SELECT doc_id, cluster_id,
        |  CAST(CASE WHEN cluster_id = doc_id THEN 1 ELSE 0 END AS INTEGER) AS is_survivor
        |FROM cls ORDER BY doc_id""".stripMargin),
    // the q_hash_split bucket rule keyed on the near-dup CLUSTER id —
    // a doc and all its LSH near-duplicates share a split
    "q_neardup_split" ->
      (dupClusterCte + """
        |SELECT doc_id, cluster_id,
        |  CASE WHEN b < 80 THEN 'train'
        |       WHEN b < 90 THEN 'val' ELSE 'test' END AS split
        |FROM (SELECT doc_id, cluster_id,
        |        CAST(('0x' || substr(md5(CAST(cluster_id AS VARCHAR)), 1, 15)) AS BIGINT) % 100 AS b
        |      FROM cls)
        |ORDER BY doc_id""".stripMargin),
    // survivor selection by QUALITY: per near-dup cluster keep the doc
    // with the most content (max n_chars, tie -> min doc_id) — the same
    // cluster chain, a different keep policy
    "q_canonical_docs" ->
      (dupClusterCte + """,
        |q AS (SELECT c.doc_id, c.cluster_id, d.n_chars
        |      FROM cls c JOIN documents d ON c.doc_id = d.doc_id),
        |can AS (SELECT cluster_id, doc_id AS canonical_id FROM (
        |          SELECT cluster_id, doc_id,
        |            row_number() OVER (PARTITION BY cluster_id
        |                               ORDER BY n_chars DESC, doc_id ASC) AS rn
        |          FROM q) WHERE rn = 1)
        |SELECT q.doc_id, q.cluster_id, can.canonical_id,
        |  CAST(q.doc_id = can.canonical_id AS INTEGER) AS keep
        |FROM q JOIN can USING (cluster_id) ORDER BY q.doc_id""".stripMargin),
    // benchmark = doc_id % 97 == 0 slice; contamination = shared 3-gram
    "q_decontaminate" ->
      """WITH tk AS (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS toks FROM documents),
        |sh AS (SELECT doc_id,
        |         unnest(list_distinct([array_to_string(toks[i:i+2], ' ')
        |                               FOR i IN generate_series(1, len(toks) - 2)])) AS s
        |       FROM tk),
        |bench AS (SELECT DISTINCT s FROM sh WHERE doc_id % 97 = 0),
        |hits AS (SELECT DISTINCT doc_id FROM sh
        |         WHERE doc_id % 97 <> 0 AND s IN (SELECT s FROM bench))
        |SELECT d.doc_id,
        |  CAST(CASE WHEN h.doc_id IS NULL THEN 0 ELSE 1 END AS INTEGER) AS contaminated
        |FROM documents d LEFT JOIN hits h ON d.doc_id = h.doc_id
        |WHERE d.doc_id % 97 <> 0 ORDER BY d.doc_id""".stripMargin,
    "q_hash_split" ->
      """WITH b AS (SELECT doc_id,
        |    CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) % 100 AS bucket
        |  FROM documents)
        |SELECT doc_id, bucket,
        |  CASE WHEN bucket < 80 THEN 'train'
        |       WHEN bucket < 90 THEN 'val' ELSE 'test' END AS split
        |FROM b ORDER BY doc_id""".stripMargin,
    // leakage audit of the doc-id split: per eval split, how many docs'
    // exact text hash also appears in train
    "q_split_leakage" ->
      """WITH d AS (SELECT doc_id, md5(text) AS h,
        |    CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) % 100 AS b
        |  FROM documents),
        |s AS (SELECT doc_id, h,
        |    CASE WHEN b < 80 THEN 'train'
        |         WHEN b < 90 THEN 'val' ELSE 'test' END AS split
        |  FROM d),
        |tr AS (SELECT DISTINCT h FROM s WHERE split = 'train')
        |SELECT split, count(*) AS n_docs,
        |  CAST(count(tr.h) AS BIGINT) AS n_leaked,
        |  round(avg(CASE WHEN tr.h IS NULL THEN 0.0 ELSE 1.0 END), 6) AS leak_rate
        |FROM s LEFT JOIN tr ON s.h = tr.h
        |WHERE s.split <> 'train'
        |GROUP BY split ORDER BY split""".stripMargin,
    // proportional source cap: first floor(3% of N) docs per source in
    // md5-of-id order (the naive window form; Spark runs the two-phase
    // bucket plan, pinned equal by this oracle)
    "q_source_cap" ->
      """WITH n AS (SELECT CAST(count(*) * 3 // 100 AS BIGINT) AS cap FROM documents),
        |r AS (SELECT doc_id, source,
        |        row_number() OVER (PARTITION BY source
        |          ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rk
        |      FROM documents)
        |SELECT doc_id, source FROM r CROSS JOIN n WHERE rk <= cap
        |ORDER BY doc_id""".stripMargin,
    // the q_hash_split bucket rule keyed on the TEXT (content) instead of
    // the id — byte-identical copies share a split by construction
    "q_content_split" ->
      """WITH b AS (SELECT doc_id,
        |    CAST(('0x' || substr(md5(text), 1, 15)) AS BIGINT) % 100 AS bucket
        |  FROM documents)
        |SELECT doc_id, bucket,
        |  CASE WHEN bucket < 80 THEN 'train'
        |       WHEN bucket < 90 THEN 'val' ELSE 'test' END AS split
        |FROM b ORDER BY doc_id""".stripMargin,
    // deterministic epoch shuffle: (shard, pos) is a pure function of
    // (salt, doc_id); per-shard row_number over the hash
    "q_global_shuffle" ->
      """WITH s AS (SELECT doc_id,
        |    CAST(('0x' || substr(md5('shuf#ep0#' || CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) AS h
        |  FROM documents),
        |sh AS (SELECT doc_id, h, CAST(h % 8 AS INTEGER) AS shard FROM s)
        |SELECT doc_id, shard,
        |  CAST(row_number() OVER (PARTITION BY shard ORDER BY h, doc_id) AS INTEGER) AS pos
        |FROM sh ORDER BY shard, pos""".stripMargin,
    // contrastive negatives: k=2 per doc from its shuffle shard at fixed
    // strides — same hash chain as q_global_shuffle with salt 'neg'
    "q_negative_pairs" ->
      """WITH s AS (SELECT doc_id,
        |    CAST(('0x' || substr(md5('shuf#neg#' || CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) AS h
        |  FROM documents),
        |sh AS (SELECT doc_id, h, CAST(h % 4 AS INTEGER) AS shard FROM s),
        |p AS (SELECT doc_id, shard,
        |        CAST(row_number() OVER (PARTITION BY shard ORDER BY h, doc_id) AS INTEGER) AS pos
        |      FROM sh),
        |z AS (SELECT shard, CAST(count(*) AS INTEGER) AS sz FROM p GROUP BY shard),
        |t AS (SELECT p.doc_id, p.shard, p.pos, z.sz, CAST(g.j AS INTEGER) AS j
        |      FROM p JOIN z USING (shard) CROSS JOIN generate_series(1, 2) g(j)),
        |tt AS (SELECT doc_id, shard, j,
        |         ((pos - 1 + j * GREATEST(CAST(floor(sz / 3.0) AS INTEGER), 1)) % sz) + 1 AS tpos
        |       FROM t)
        |SELECT tt.doc_id, tt.j, p2.doc_id AS neg_id
        |FROM tt JOIN p p2 ON p2.shard = tt.shard AND p2.pos = tt.tpos
        |WHERE p2.doc_id <> tt.doc_id
        |ORDER BY tt.doc_id, tt.j""".stripMargin,
    // duplicated k-token spans (Lee et al. 2021 shape): sliding 8-token
    // windows hashed with the portable 60-bit md5 prefix; dup = hash seen
    // ≥2 times corpus-wide; islands merge overlapping dup spans per doc
    "q_dup_spans" ->
      raw"""WITH tk AS (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS toks FROM documents),
        |sp AS (SELECT doc_id,
        |         unnest([{'pos': i,
        |                  'h': CAST(('0x' || substr(md5('span#' || array_to_string(toks[i+1 : i+8], ' ')), 1, 15)) AS BIGINT)}
        |                 FOR i IN generate_series(0, len(toks) - 8)],
        |                recursive := true)
        |       FROM tk WHERE len(toks) >= 8),
        |d AS (SELECT h FROM sp GROUP BY h HAVING count(*) >= 2),
        |occ AS (SELECT sp.doc_id, sp.pos FROM sp JOIN d USING (h)),
        |i1 AS (SELECT doc_id, pos,
        |         max(pos + 7) OVER (PARTITION BY doc_id ORDER BY pos
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pme
        |       FROM occ),
        |i2 AS (SELECT doc_id, pos,
        |         sum(CASE WHEN pme IS NULL OR pos > pme THEN 1 ELSE 0 END)
        |           OVER (PARTITION BY doc_id ORDER BY pos
        |             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
        |       FROM i1),
        |ig AS (SELECT doc_id, island, min(pos) AS s, max(pos + 7) AS e,
        |         count(*) AS n_occ
        |       FROM i2 GROUP BY doc_id, island),
        |pd AS (SELECT doc_id, CAST(sum(n_occ) AS INTEGER) AS n_dup,
        |         CAST(count(*) AS INTEGER) AS n_islands,
        |         CAST(sum(e - s + 1) AS INTEGER) AS n_dup_tokens
        |       FROM ig GROUP BY doc_id),
        |ns AS (SELECT doc_id, CAST(count(*) AS INTEGER) AS n_spans
        |       FROM sp GROUP BY doc_id)
        |SELECT dd.doc_id, coalesce(ns.n_spans, 0) AS n_spans,
        |  coalesce(pd.n_dup, 0) AS n_dup,
        |  coalesce(pd.n_islands, 0) AS n_islands,
        |  coalesce(pd.n_dup_tokens, 0) AS n_dup_tokens
        |FROM documents dd LEFT JOIN ns USING (doc_id) LEFT JOIN pd USING (doc_id)
        |ORDER BY dd.doc_id""".stripMargin,
    // span scrub: drop tokens covered only by NON-canonical duplicated
    // spans (canonical = global first occurrence by (doc_id, pos))
    "q_span_scrub" ->
      raw"""WITH tk AS (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS toks FROM documents),
        |sp AS (SELECT doc_id,
        |         unnest([{'pos': i,
        |                  'h': CAST(('0x' || substr(md5('span#' || array_to_string(toks[i+1 : i+8], ' ')), 1, 15)) AS BIGINT)}
        |                 FOR i IN generate_series(0, len(toks) - 8)],
        |                recursive := true)
        |       FROM tk WHERE len(toks) >= 8),
        |o AS (SELECT doc_id, pos,
        |        CASE WHEN row_number() OVER (PARTITION BY h ORDER BY doc_id, pos) = 1
        |             THEN 1 ELSE 0 END AS is_canon,
        |        count(*) OVER (PARTITION BY h) AS c
        |      FROM sp),
        |docc AS (SELECT doc_id, pos, is_canon FROM o WHERE c >= 2),
        |cov AS (SELECT doc_id, unnest(generate_series(pos, pos + 7)) AS p, is_canon
        |        FROM docc),
        |drops AS (SELECT doc_id, p FROM cov GROUP BY doc_id, p
        |          HAVING max(is_canon) = 0),
        |tok AS (SELECT doc_id,
        |          unnest([{'pos': i - 1, 'tok': toks[i]}
        |                  FOR i IN generate_series(1, len(toks))],
        |                 recursive := true)
        |        FROM tk),
        |kept AS (SELECT t.doc_id, CAST(count(*) AS INTEGER) AS n_kept,
        |           string_agg(t.tok, ' ' ORDER BY t.pos) AS text_scrub
        |         FROM tok t LEFT JOIN drops d
        |           ON t.doc_id = d.doc_id AND t.pos = d.p
        |         WHERE d.p IS NULL GROUP BY t.doc_id),
        |nt AS (SELECT doc_id, CAST(count(*) AS INTEGER) AS n_tokens
        |       FROM tok GROUP BY doc_id)
        |SELECT dd.doc_id, nt.n_tokens,
        |  coalesce(kept.n_kept, 0) AS n_kept,
        |  coalesce(kept.text_scrub, '') AS text_scrub
        |FROM documents dd JOIN nt USING (doc_id) LEFT JOIN kept USING (doc_id)
        |ORDER BY dd.doc_id""".stripMargin,
    // DSIR importance weights: hashed-unigram add-one-smoothed
    // log-likelihood ratio, target = 'en' slice, 64 buckets; ordered
    // per-doc fold (the lm xent discipline)
    "q_dsir" ->
      raw"""WITH w AS (SELECT doc_id, lang, regexp_extract_all(lower(text), '[a-z]+') AS l FROM documents),
        |tok AS (SELECT doc_id, lang,
        |          unnest([{'pos': j - 1,
        |                   'f': CAST(('0x' || substr(md5('dsir#' || l[j]), 1, 15)) AS BIGINT) % 64}
        |                  FOR j IN generate_series(1, len(l))],
        |                 recursive := true)
        |        FROM w),
        |raw0 AS (SELECT f, count(*) AS c_raw FROM tok GROUP BY f),
        |tgt AS (SELECT f, count(*) AS c_tgt FROM tok WHERE lang = 'en' GROUP BY f),
        |tots AS (SELECT (SELECT count(*) FROM tok) AS rt,
        |                (SELECT count(*) FROM tok WHERE lang = 'en') AS tt),
        |ratio AS (SELECT r.f,
        |            ln((CAST(coalesce(g.c_tgt, 0) AS DOUBLE) + 1.0) /
        |               (CAST(tots.tt AS DOUBLE) + 64.0)) -
        |            ln((CAST(r.c_raw AS DOUBLE) + 1.0) /
        |               (CAST(tots.rt AS DOUBLE) + 64.0)) AS lr
        |          FROM raw0 r LEFT JOIN tgt g USING (f) CROSS JOIN tots),
        |s AS (SELECT doc_id, CAST(count(*) AS INTEGER) AS n_feat,
        |        round(list_reduce(list_prepend(0.0, list(lr ORDER BY pos)),
        |                          (u, x) -> u + x), 6) AS weight
        |      FROM tok JOIN ratio USING (f) GROUP BY doc_id)
        |SELECT d.doc_id, coalesce(s.n_feat, 0) AS n_feat,
        |  coalesce(s.weight, 0.0) AS weight,
        |  CASE WHEN coalesce(s.weight, 0.0) > 0 THEN 1 ELSE 0 END AS selected
        |FROM documents d LEFT JOIN s USING (doc_id)
        |ORDER BY d.doc_id""".stripMargin,
    // overlapping passage chunks: W=32 tokens, stride 16, trailing
    // chunks shrink; chunk_id = doc_id·2^20 + ord
    "q_passage_chunks" ->
      raw"""WITH tk AS (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS toks
        |            FROM documents WHERE length(trim(text)) > 0),
        |st AS (SELECT doc_id, toks,
        |         unnest([{'ord': CAST(i // 16 AS INTEGER), 'start': CAST(i AS INTEGER)}
        |                 FOR i IN generate_series(0, len(toks) - 1, 16)],
        |                recursive := true)
        |       FROM tk)
        |SELECT doc_id, doc_id * 1048576 + ord AS chunk_id, ord, start,
        |  CAST(len(toks[start + 1 : start + 32]) AS INTEGER) AS n_tok,
        |  array_to_string(toks[start + 1 : start + 32], ' ') AS chunk_text
        |FROM st ORDER BY doc_id, ord""".stripMargin,
    // RRF fusion of three quality rankings; oracle uses the naive
    // global row_number — the engine's two-phase bucket ranks must
    // equal it exactly
    "q_rank_fusion" ->
      raw"""WITH x AS (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS toks FROM documents),
        |s AS (SELECT doc_id, len(toks) AS n_tok,
        |        CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks) AS uniq_ratio,
        |        len(list_filter(toks, t -> list_contains(['the','a','of','and','to'], t))) AS n_stop
        |      FROM x),
        |r AS (SELECT doc_id,
        |        row_number() OVER (ORDER BY n_tok DESC, doc_id) AS r_tok,
        |        row_number() OVER (ORDER BY uniq_ratio DESC, doc_id) AS r_uniq,
        |        row_number() OVER (ORDER BY n_stop DESC, doc_id) AS r_stop
        |      FROM s)
        |SELECT doc_id, r_tok, r_uniq, r_stop,
        |  1.0 / (60 + r_tok) + 1.0 / (60 + r_uniq) + 1.0 / (60 + r_stop) AS rrf
        |FROM r ORDER BY rrf DESC, doc_id""".stripMargin,
    // Muennighoff-style epoch plan: √-tempered weights (fixed-point
    // quantized normalizer), budget 2× corpus, epochs capped at 4
    "q_epoch_plan" ->
      raw"""WITH a AS (SELECT source,
        |        CAST(sum(len(regexp_split_to_array(trim(text), '\s+'))) AS BIGINT) AS avail_tok
        |      FROM documents GROUP BY source),
        |q AS (SELECT source, avail_tok,
        |        CAST(floor(sqrt(CAST(avail_tok AS DOUBLE)) * 1e6) AS BIGINT) AS qq
        |      FROM a),
        |t AS (SELECT CAST(sum(qq) AS BIGINT) AS qtot, CAST(sum(avail_tok) AS BIGINT) AS atot FROM q),
        |e AS (SELECT source, avail_tok,
        |        CAST(qq AS DOUBLE) / CAST(qtot AS DOUBLE) AS weight,
        |        least(4.0, 2.0 * CAST(atot AS DOUBLE) * (CAST(qq AS DOUBLE) / CAST(qtot AS DOUBLE)) / CAST(avail_tok AS DOUBLE)) AS epochs
        |      FROM q CROSS JOIN t)
        |SELECT source, avail_tok, weight, epochs,
        |  CAST(floor(epochs * CAST(avail_tok AS DOUBLE)) AS BIGINT) AS realized_tok
        |FROM e ORDER BY source""".stripMargin,
    // per-node triangles of the support-2 co-purchase graph; oracle
    // orients by id (each triangle once as u<v<w) — per-node counts are
    // orientation-invariant, so they must equal the engine's
    // degree-ordered count exactly
    "q_triangle_count" ->
      (copurchaseCte + """,
        |tr AS (SELECT e1.u AS x, e1.v AS y, e2.v AS z
        |       FROM e e1 JOIN e e2 ON e2.u = e1.v JOIN e e3 ON e3.u = e1.u AND e3.v = e2.v),
        |n AS (SELECT x AS node FROM tr UNION ALL SELECT y FROM tr UNION ALL SELECT z FROM tr)
        |SELECT node, CAST(count(*) AS BIGINT) AS n_tri
        |FROM n GROUP BY node ORDER BY n_tri DESC, node""".stripMargin),
    // association rules over the SAME co-purchase pair core: conf and
    // lift from exact distinct-order counts, one division each
    "q_assoc_rules" ->
      (copurchaseCte + """,
        |np AS (SELECT p, CAST(count(*) AS BIGINT) AS n_p FROM li GROUP BY p),
        |no AS (SELECT CAST(count(DISTINCT ok) AS BIGINT) AS n_orders FROM li),
        |sp AS (SELECT u, v, c FROM pc WHERE c >= 2),
        |dr AS (SELECT u AS a, v AS b, c FROM sp UNION ALL SELECT v, u, c FROM sp)
        |SELECT dr.a, dr.b, dr.c AS n_ab, na.n_p AS n_a, nb.n_p AS n_b,
        |  CAST(dr.c AS DOUBLE) / CAST(na.n_p AS DOUBLE) AS conf,
        |  CAST(dr.c * no.n_orders AS DOUBLE) / CAST(na.n_p * nb.n_p AS DOUBLE) AS lift
        |FROM dr JOIN np na ON dr.a = na.p JOIN np nb ON dr.b = nb.p CROSS JOIN no
        |ORDER BY a, b""".stripMargin),
    // local clustering coefficient: 2T/(deg(deg-1)) over the same graph
    "q_clustering_coef" ->
      (copurchaseCte + """,
        |deg AS (SELECT n, CAST(count(*) AS BIGINT) AS d
        |        FROM (SELECT u AS n FROM e UNION ALL SELECT v FROM e) GROUP BY n),
        |tr AS (SELECT e1.u AS x, e1.v AS y, e2.v AS z
        |       FROM e e1 JOIN e e2 ON e2.u = e1.v JOIN e e3 ON e3.u = e1.u AND e3.v = e2.v),
        |nd AS (SELECT x AS node FROM tr UNION ALL SELECT y FROM tr UNION ALL SELECT z FROM tr),
        |tn AS (SELECT node, CAST(count(*) AS BIGINT) AS n_tri FROM nd GROUP BY node)
        |SELECT deg.n AS node, deg.d AS degree, COALESCE(tn.n_tri, 0) AS n_tri,
        |  CASE WHEN deg.d >= 2
        |       THEN CAST(2 * COALESCE(tn.n_tri, 0) AS DOUBLE) / CAST(deg.d * (deg.d - 1) AS DOUBLE)
        |       ELSE 0.0 END AS coef
        |FROM deg LEFT JOIN tn ON deg.n = tn.node ORDER BY node""".stripMargin),
    // blocked fuzzy ER: block on (head noun, size band), verify
    // levenshtein ≤ 2 ∧ |Δsize| ≤ 3; best = min (dist, id) via one
    // bigint-encoded order-free min
    "q_fuzzy_join" ->
      raw"""WITH p AS (SELECT p_partkey AS id, p_name AS nm, p_size,
        |        regexp_extract(p_name, '(\S+)$$', 1) || '#' ||
        |          CAST(CAST(floor(p_size / 8.0) AS INTEGER) AS VARCHAR) AS blk
        |      FROM part),
        |pr AS (SELECT a.id AS id, b.id AS other, levenshtein(a.nm, b.nm) AS dist
        |       FROM p a JOIN p b ON a.blk = b.blk AND a.id < b.id AND abs(a.p_size - b.p_size) <= 3
        |       WHERE levenshtein(a.nm, b.nm) <= 2),
        |sided AS (SELECT id, other, dist FROM pr UNION ALL SELECT other AS id, id AS other, dist FROM pr),
        |s AS (SELECT id, CAST(count(*) AS BIGINT) AS n_match,
        |        min(CAST(dist AS BIGINT) * 1000000000 + other) AS bk
        |      FROM sided GROUP BY id)
        |SELECT p.id AS p_partkey, p.nm,
        |  coalesce(s.n_match, 0) AS n_match,
        |  coalesce(s.bk % 1000000000, -1) AS best_id,
        |  coalesce(s.bk // 1000000000, -1) AS best_dist
        |FROM p LEFT JOIN s USING (id) ORDER BY p_partkey""".stripMargin,
    // strictly-ordered conversion funnel view→click→purchase: step k =
    // first step-k event AFTER the user's step-(k−1) time
    "q_event_funnel" ->
      (funnelChainCte + """,
        |tot AS (SELECT count(t1) AS n1, count(t2) AS n2, count(t3) AS n3 FROM f3)
        |SELECT * FROM (
        |  SELECT 1 AS step, 'view' AS event_type, CAST(n1 AS BIGINT) AS n_users,
        |    CASE WHEN n1 > 0 THEN CAST(1.0 AS DOUBLE) ELSE CAST(0.0 AS DOUBLE) END AS conv FROM tot
        |  UNION ALL
        |  SELECT 2, 'click', CAST(n2 AS BIGINT),
        |    CASE WHEN n1 > 0 THEN CAST(n2 AS DOUBLE) / CAST(n1 AS DOUBLE) ELSE CAST(0.0 AS DOUBLE) END FROM tot
        |  UNION ALL
        |  SELECT 3, 'purchase', CAST(n3 AS BIGINT),
        |    CASE WHEN n2 > 0 THEN CAST(n3 AS DOUBLE) / CAST(n2 AS DOUBLE) ELSE CAST(0.0 AS DOUBLE) END FROM tot)
        |ORDER BY step""".stripMargin),
    // time-to-convert over the SAME funnel chain: p50/p90 of the
    // step-to-step latency among converters, exact percentiles on
    // Long-nanos differences
    "q_funnel_latency" ->
      (funnelChainCte + """,
        |lat AS (
        |  SELECT 1 AS step_from, 'click' AS to_type, CAST(count(*) AS BIGINT) AS n_conv,
        |    quantile_cont(t2 - t1, 0.5) AS p50_ns, quantile_cont(t2 - t1, 0.9) AS p90_ns
        |  FROM f3 WHERE t2 IS NOT NULL
        |  UNION ALL
        |  SELECT 2, 'purchase', CAST(count(*) AS BIGINT),
        |    quantile_cont(t3 - t2, 0.5), quantile_cont(t3 - t2, 0.9)
        |  FROM f3 WHERE t3 IS NOT NULL)
        |SELECT * FROM lat ORDER BY step_from""".stripMargin),
    // ordered behavior co-occurrence: users who did `first` and LATER
    // `then` — ∃ a<b ⟺ min(first) < max(then) per user, so the matrix
    // needs only the (user, type) min/max table
    "q_seq_pairs" ->
      """WITH ut AS (SELECT user_id, event_type, min(epoch_ns(ts)) AS t_min,
        |                   max(epoch_ns(ts)) AS t_max
        |            FROM events GROUP BY 1, 2)
        |SELECT a.event_type AS first_type, b.event_type AS then_type,
        |  CAST(count(*) AS BIGINT) AS n_users
        |FROM ut a JOIN ut b ON a.user_id = b.user_id AND a.t_min < b.t_max
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    // per-user Shannon entropy over event types: ordered fold of exact
    // p·ln(1/p) terms (the LM xent discipline), rounded at 6
    "q_user_entropy" ->
      """WITH c AS (SELECT user_id, event_type, CAST(count(*) AS BIGINT) AS n
        |           FROM events GROUP BY 1, 2),
        |t AS (SELECT user_id, CAST(sum(n) AS BIGINT) AS n_events,
        |             CAST(count(*) AS BIGINT) AS k_types
        |      FROM c GROUP BY 1)
        |SELECT t.user_id, t.n_events, t.k_types,
        |  round(list_reduce(list_prepend(0.0, list(
        |    (CAST(c.n AS DOUBLE) / CAST(t.n_events AS DOUBLE)) *
        |    ln(CAST(t.n_events AS DOUBLE) / CAST(c.n AS DOUBLE))
        |    ORDER BY c.event_type)), (u, w) -> u + w), 6) AS entropy
        |FROM c JOIN t USING (user_id)
        |GROUP BY t.user_id, t.n_events, t.k_types
        |ORDER BY t.user_id""".stripMargin,
    // weekly cohort retention: cohort = epoch-week of the user's first
    // event; cells count distinct active users per offset week
    "q_cohort_retention" ->
      """WITH ev AS (SELECT user_id, epoch_ns(ts) // 86400000000000 AS d FROM events),
        |f AS (SELECT user_id, min(d) AS d0 FROM ev GROUP BY user_id),
        |c AS (SELECT DISTINCT ev.user_id, f.d0 // 7 AS cohort_week,
        |        (ev.d - f.d0) // 7 AS week_offset
        |      FROM ev JOIN f USING (user_id))
        |SELECT cohort_week, week_offset, CAST(count(*) AS BIGINT) AS n_users
        |FROM c GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    // TextRank keywords: PageRank (shared round CTE) over the
    // content-word adjacency graph; words hash to 60-bit node ids for
    // the iterations, names join back at the end
    "q_textrank" -> {
      def h(x: String): String =
        s"CAST(('0x' || substr(md5('tr#' || $x), 1, 15)) AS BIGINT)"
      s"""WITH tk AS (SELECT doc_id, regexp_extract_all(lower(text), '[a-z]+') AS ts FROM documents),
         |u AS (SELECT doc_id, unnest(ts) AS t, unnest(range(1, len(ts) + 1)) AS i FROM tk),
         |seq AS (SELECT doc_id, i, t FROM u
         |        WHERE length(t) >= 3
         |          AND t NOT IN ('the', 'a', 'of', 'and', 'to')),
         |adj AS (SELECT doc_id, t, lead(t) OVER (PARTITION BY doc_id ORDER BY i) AS nxt FROM seq),
         |pw AS (SELECT least(t, nxt) AS wa, greatest(t, nxt) AS wb, count(*) AS w
         |       FROM adj WHERE nxt IS NOT NULL AND t <> nxt GROUP BY 1, 2),
         |e0 AS (SELECT ${h("wa")} AS src, ${h("wb")} AS dst, w FROM pw
         |       UNION ALL SELECT ${h("wb")}, ${h("wa")}, w FROM pw),
         |wo AS (SELECT src, CAST(CAST(sum(w) AS BIGINT) AS DOUBLE) AS wout
         |       FROM e0 GROUP BY src),
         |e AS (SELECT e0.src, e0.dst, CAST(e0.w AS DOUBLE) AS w, wo.wout
         |      FROM e0 JOIN wo ON e0.src = wo.src),
         |nodes AS (SELECT src AS node FROM e0 UNION SELECT dst FROM e0),
         |r0 AS (SELECT node, CAST(1 AS DOUBLE) AS rank FROM nodes),
         |${pageRankRoundCte(1)},
         |${pageRankRoundCte(2)},
         |${pageRankRoundCte(3)},
         |names AS (SELECT DISTINCT wa AS word, ${h("wa")} AS node FROM pw
         |          UNION SELECT DISTINCT wb, ${h("wb")} FROM pw)
         |SELECT n.word, round(r.rank, 6) AS rank
         |FROM r3 r JOIN names n USING (node)
         |ORDER BY rank DESC, word LIMIT 20""".stripMargin
    },
    // RFM segmentation: quintile scores from global ranks (the engine's
    // two-phase globalRank must equal the naive row_number), decimal-
    // exact monetary sums, integer quintile arithmetic
    "q_rfm_segments" ->
      """WITH b AS (SELECT o_custkey AS custkey,
        |        max(epoch_ms(o_orderdate) // 86400000) AS r_day,
        |        CAST(count(*) AS BIGINT) AS freq,
        |        CAST(sum(CAST(o_totalprice AS DECIMAL(14,2))) AS DOUBLE) AS monetary
        |      FROM orders GROUP BY 1),
        |r AS (SELECT custkey, r_day, freq, monetary,
        |        row_number() OVER (ORDER BY r_day DESC, custkey) AS rr,
        |        row_number() OVER (ORDER BY freq DESC, custkey) AS rf,
        |        row_number() OVER (ORDER BY monetary DESC, custkey) AS rm
        |      FROM b),
        |n AS (SELECT CAST(count(*) AS BIGINT) AS n FROM b),
        |s AS (SELECT custkey, r_day, freq, monetary,
        |        5 - ((rr - 1) * 5 // n.n) AS r_score,
        |        5 - ((rf - 1) * 5 // n.n) AS f_score,
        |        5 - ((rm - 1) * 5 // n.n) AS m_score
        |      FROM r CROSS JOIN n)
        |SELECT custkey, r_day, freq, monetary, r_score, f_score, m_score,
        |  r_score * 100 + f_score * 10 + m_score AS rfm
        |FROM s ORDER BY custkey""".stripMargin,
    // top event-type paths: each user's first 5 events by (ts,
    // event_id), concatenated; most common paths with user counts
    "q_top_paths" ->
      """WITH f AS (SELECT user_id, event_id, epoch_ns(ts) AS tns, event_type,
        |        row_number() OVER (PARTITION BY user_id
        |                           ORDER BY epoch_ns(ts), event_id) AS rn
        |      FROM events),
        |p AS (SELECT user_id, string_agg(event_type, '>' ORDER BY tns, event_id) AS path
        |      FROM f WHERE rn <= 5 GROUP BY user_id)
        |SELECT path, CAST(count(*) AS BIGINT) AS n_users
        |FROM p GROUP BY path ORDER BY n_users DESC, path LIMIT 10""".stripMargin,
    // robust anomaly flags: modified z-score via per-type median/MAD,
    // cut at 3.5 (Iglewicz–Hoaglin)
    "q_anomaly_flags" ->
      """WITH m AS (SELECT event_type, quantile_cont(value, 0.5) AS med
        |           FROM events GROUP BY 1),
        |d AS (SELECT e.event_id, e.event_type, e.value, m.med,
        |        abs(e.value - m.med) AS dev
        |      FROM events e JOIN m USING (event_type)),
        |md AS (SELECT event_type, quantile_cont(dev, 0.5) AS mad FROM d GROUP BY 1)
        |SELECT d.event_id, d.event_type, d.value, d.med, md.mad,
        |  d.dev / (md.mad * 1.4826) AS score
        |FROM d JOIN md USING (event_type)
        |WHERE md.mad > 0 AND d.dev / (md.mad * 1.4826) > 3.5
        |ORDER BY d.event_id""".stripMargin,
    // bottom-k (min-hash-of-id) quantile sketch vs exact quantiles —
    // the sample is the k smallest md5-derived hashes, so both engines
    // draw the IDENTICAL sample
    "q_quantile_sketch" ->
      """WITH s AS (SELECT value AS v FROM events
        |           ORDER BY CAST(('0x' || substr(md5('qsk#' || CAST(event_id AS VARCHAR)), 1, 15)) AS BIGINT),
        |                    event_id
        |           LIMIT 256)
        |SELECT q, est, exact FROM (
        |  SELECT unnest(CAST([0.25, 0.5, 0.75, 0.9, 0.99] AS DOUBLE[])) AS q,
        |    unnest((SELECT quantile_cont(v, [0.25, 0.5, 0.75, 0.9, 0.99]) FROM s)) AS est,
        |    unnest((SELECT quantile_cont(value, [0.25, 0.5, 0.75, 0.9, 0.99]) FROM events)) AS exact)
        |ORDER BY q""".stripMargin,
    // inverted index: exact df + first-100 posting block per term
    "q_inverted_index" ->
      """WITH tok AS (SELECT DISTINCT doc_id,
        |        unnest(regexp_extract_all(lower(text), '[a-z]+')) AS term
        |      FROM documents)
        |SELECT term, CAST(count(*) AS BIGINT) AS df,
        |  array_to_string((list(doc_id ORDER BY doc_id))[1:100], '|') AS postings
        |FROM tok GROUP BY term ORDER BY term""".stripMargin,
    // group-wise least squares from the q_corr exact-decimal sums
    "q_linreg" ->
      """WITH s AS (SELECT l_returnflag,
        |    CAST(sum(CAST(l_discount AS DECIMAL(14,2))) AS DOUBLE) AS sx,
        |    CAST(sum(CAST(l_quantity AS DECIMAL(14,2))) AS DOUBLE) AS sy,
        |    CAST(sum(CAST(l_discount AS DECIMAL(14,2)) * CAST(l_quantity AS DECIMAL(14,2))) AS DOUBLE) AS sxy,
        |    CAST(sum(CAST(l_discount AS DECIMAL(14,2)) * CAST(l_discount AS DECIMAL(14,2))) AS DOUBLE) AS sxx,
        |    CAST(COUNT(*) AS DOUBLE) AS nd,
        |    COUNT(*) AS n
        |  FROM lineitem GROUP BY l_returnflag)
        |SELECT l_returnflag,
        |  CASE WHEN nd * sxx - sx * sx <> 0
        |       THEN (nd * sxy - sx * sy) / (nd * sxx - sx * sx) END AS slope,
        |  (sy - CASE WHEN nd * sxx - sx * sx <> 0
        |             THEN (nd * sxy - sx * sy) / (nd * sxx - sx * sx) END * sx) / nd AS intercept,
        |  n
        |FROM s ORDER BY l_returnflag""".stripMargin,
    // derandomized A-ES weighted sample: largest ln(u)/w for the
    // md5-uniform u — identical draw in both engines
    "q_weighted_sample" ->
      """WITH d AS (SELECT doc_id, CAST(n_chars AS DOUBLE) AS w,
        |    ln((CAST(CAST(('0x' || substr(md5('ws#' || CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) AS DOUBLE) + 1.0)
        |       / CAST(1152921504606846976 AS DOUBLE)) / CAST(n_chars AS DOUBLE) AS key
        |  FROM documents)
        |SELECT doc_id, w FROM d
        |ORDER BY key DESC, doc_id LIMIT 100""".stripMargin,
    // funnel with a 3-day conversion window: step k strictly after
    // step k−1 AND within 3 days of step 1
    "q_funnel_windowed" ->
      """WITH f1 AS (SELECT user_id, min(epoch_ns(ts)) AS t1,
        |        min(epoch_ns(ts)) + 259200000000000 AS deadline
        |      FROM events WHERE event_type = 'view' GROUP BY user_id),
        |r2 AS (SELECT e.user_id, min(epoch_ns(e.ts)) AS t2 FROM events e JOIN f1 USING (user_id)
        |       WHERE e.event_type = 'click' AND epoch_ns(e.ts) > f1.t1
        |         AND epoch_ns(e.ts) <= f1.deadline GROUP BY e.user_id),
        |f2 AS (SELECT f1.user_id, f1.t1, f1.deadline, r2.t2 FROM f1 LEFT JOIN r2 USING (user_id)),
        |r3 AS (SELECT e.user_id, min(epoch_ns(e.ts)) AS t3 FROM events e JOIN f2 USING (user_id)
        |       WHERE e.event_type = 'purchase' AND f2.t2 IS NOT NULL
        |         AND epoch_ns(e.ts) > f2.t2 AND epoch_ns(e.ts) <= f2.deadline
        |       GROUP BY e.user_id),
        |f3 AS (SELECT f2.user_id, f2.t1, f2.t2, r3.t3 FROM f2 LEFT JOIN r3 USING (user_id)),
        |tot AS (SELECT count(t1) AS n1, count(t2) AS n2, count(t3) AS n3 FROM f3)
        |SELECT * FROM (
        |  SELECT 1 AS step, 'view' AS event_type, CAST(n1 AS BIGINT) AS n_users FROM tot
        |  UNION ALL SELECT 2, 'click', CAST(n2 AS BIGINT) FROM tot
        |  UNION ALL SELECT 3, 'purchase', CAST(n3 AS BIGINT) FROM tot)
        |ORDER BY step""".stripMargin,
    // DAU/WAU stickiness: rolling 7-day distinct actives via the
    // bounded day-range expansion (each activity day feeds ≤ 7 report
    // days), never a range join
    "q_stickiness" ->
      """WITH ud AS (SELECT DISTINCT user_id, epoch_ns(ts) // 86400000000000 AS d FROM events),
        |dau AS (SELECT d, CAST(count(*) AS BIGINT) AS dau FROM ud GROUP BY d),
        |mx AS (SELECT max(d) AS dmax FROM ud),
        |ex AS (SELECT DISTINCT user_id, rd FROM (
        |         SELECT user_id, unnest(range(d, least(d + 6, mx.dmax) + 1)) AS rd
        |         FROM ud CROSS JOIN mx)),
        |wau AS (SELECT rd AS d, CAST(count(*) AS BIGINT) AS wau FROM ex GROUP BY rd)
        |SELECT dau.d, dau.dau, wau.wau,
        |  CAST(dau.dau AS DOUBLE) / CAST(wau.wau AS DOUBLE) AS stickiness
        |FROM dau JOIN wau USING (d) ORDER BY d""".stripMargin,
    // first-order Markov transition matrix over event types: per-user
    // (event, next-event) pairs by (ts, event_id), p = n/n_src as ONE
    // integer-to-double division (IEEE-deterministic, no rounding)
    "q_markov" ->
      """WITH e AS (SELECT user_id, event_type,
        |  lead(event_type) OVER (PARTITION BY user_id ORDER BY epoch_ns(ts), event_id) AS dst
        |  FROM events),
        |t AS (SELECT event_type AS src, dst, CAST(count(*) AS BIGINT) AS n
        |      FROM e WHERE dst IS NOT NULL GROUP BY 1, 2),
        |s AS (SELECT src, CAST(sum(n) AS BIGINT) AS n_src FROM t GROUP BY src)
        |SELECT t.src, t.dst, t.n, s.n_src,
        |  CAST(t.n AS DOUBLE) / CAST(s.n_src AS DOUBLE) AS p
        |FROM t JOIN s USING (src) ORDER BY src, dst""".stripMargin,
    // per-user sessionization: gap >= 2h starts a new session (same >=
    // rule as q_session_window); durations stay Long nanos end to end
    "q_session_stats" ->
      """WITH e AS (SELECT user_id, event_id, epoch_ns(ts) AS tns FROM events),
        |m AS (SELECT user_id, event_id, tns,
        |        CASE WHEN lag(tns) OVER w IS NULL
        |             OR tns - lag(tns) OVER w >= 7200000000000 THEN 1 ELSE 0 END AS new_s
        |      FROM e WINDOW w AS (PARTITION BY user_id ORDER BY tns, event_id)),
        |g AS (SELECT user_id, tns, event_id,
        |        sum(new_s) OVER (PARTITION BY user_id ORDER BY tns, event_id
        |                         ROWS UNBOUNDED PRECEDING) AS sess
        |      FROM m),
        |se AS (SELECT user_id, sess, count(*) AS n_ev, min(tns) AS t0, max(tns) AS t1
        |       FROM g GROUP BY user_id, sess)
        |SELECT user_id, CAST(count(*) AS BIGINT) AS n_sessions,
        |  CAST(sum(CASE WHEN n_ev = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_bounce,
        |  CAST(sum(t1 - t0) AS BIGINT) AS total_dur_ns,
        |  CAST(max(n_ev) AS BIGINT) AS max_events
        |FROM se GROUP BY user_id ORDER BY user_id""".stripMargin,
    // CUSUM change point on daily counts: S'_d = Σ (n_days·x_i − total)
    // is n_days·(x_i − mean) — INTEGER-exact, division-free, so the
    // argmax cannot flip on float summation order
    "q_changepoint" ->
      """WITH d AS (SELECT epoch_ns(ts) // 86400000000000 AS d, CAST(count(*) AS BIGINT) AS x
        |           FROM events GROUP BY 1),
        |t AS (SELECT CAST(sum(x) AS BIGINT) AS t, CAST(count(*) AS BIGINT) AS nd FROM d),
        |s AS (SELECT d.d, d.x,
        |        CAST(sum(d.x * t.nd - t.t) OVER (ORDER BY d.d ROWS UNBOUNDED PRECEDING) AS BIGINT) AS s
        |      FROM d CROSS JOIN t),
        |p AS (SELECT max(abs(s)) AS speak FROM s)
        |SELECT s.d, s.x, s.s, abs(s.s) = p.speak AS is_cp
        |FROM s CROSS JOIN p ORDER BY s.d""".stripMargin,
    // PMI collocations over adjacent word pairs: exact integer counts
    // from the bigram space itself, ONE ratio of exact-double products,
    // ONE ln rounded at 6; ordered by the pair, never the float
    "q_pmi" ->
      """WITH w AS (SELECT doc_id, regexp_extract_all(lower(text), '[a-z]+') AS l FROM documents),
        |bg AS (SELECT unnest([{'a': l[j], 'b': l[j+1]}
        |                      for j in generate_series(1, len(l) - 1)],
        |               recursive := true)
        |       FROM w WHERE len(l) >= 2),
        |cab AS (SELECT a, b, CAST(count(*) AS BIGINT) AS c_ab FROM bg GROUP BY a, b),
        |ca AS (SELECT a, CAST(sum(c_ab) AS BIGINT) AS c_a FROM cab GROUP BY a),
        |cb AS (SELECT b, CAST(sum(c_ab) AS BIGINT) AS c_b FROM cab GROUP BY b),
        |n AS (SELECT CAST(sum(c_ab) AS BIGINT) AS n FROM cab)
        |SELECT cab.a, cab.b, cab.c_ab, ca.c_a, cb.c_b, n.n,
        |  round(ln(CAST(cab.c_ab * n.n AS DOUBLE) / CAST(ca.c_a * cb.c_b AS DOUBLE)), 6) AS pmi
        |FROM cab JOIN ca USING (a) JOIN cb USING (b) CROSS JOIN n
        |WHERE cab.c_ab >= 5 ORDER BY a, b""".stripMargin,
    // equi-depth histogram: global rank over total order (v DESC, id),
    // bucket = (rank-1)*k DIV n — boundary ties split by id identically
    "q_equidepth" ->
      """WITH b AS (SELECT l_extendedprice AS v, l_orderkey * 16 + l_linenumber AS id FROM lineitem),
        |r AS (SELECT v, row_number() OVER (ORDER BY v DESC, id ASC) AS r FROM b),
        |n AS (SELECT CAST(count(*) AS BIGINT) AS n FROM b)
        |SELECT (r - 1) * 8 // n.n AS bucket, CAST(count(*) AS BIGINT) AS n_rows,
        |  min(v) AS min_v, max(v) AS max_v,
        |  CAST(sum(CAST(v AS DECIMAL(14,2))) AS DOUBLE) AS sum_v
        |FROM r CROSS JOIN n GROUP BY 1 ORDER BY bucket""".stripMargin,
    // ER transitive closure over the SAME blocked fuzzy pairs as
    // q_fuzzy_join; cluster id = component min (recursive reach CTE)
    "q_er_clusters" ->
      raw"""WITH RECURSIVE p AS (SELECT p_partkey AS id, p_name AS nm, p_size,
        |       regexp_extract(p_name, '(\S+)$$', 1) || '#' ||
        |         CAST(CAST(floor(p_size / 8.0) AS INT) AS VARCHAR) AS blk
        |     FROM part),
        |pr AS (SELECT a.id AS u, b.id AS v FROM p a JOIN p b
        |       ON a.blk = b.blk AND a.id < b.id AND abs(a.p_size - b.p_size) <= 3
        |       WHERE levenshtein(a.nm, b.nm) <= 2),
        |edges AS (SELECT u, v FROM pr UNION SELECT v, u FROM pr),
        |reach(u, v) AS (SELECT u, v FROM edges UNION
        |  SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u WHERE e.v <> r.u),
        |cl AS (SELECT u AS id, MIN(v) AS mn FROM reach GROUP BY u),
        |cid AS (SELECT p.id, COALESCE(LEAST(cl.mn, p.id), p.id) AS cluster_id
        |        FROM p LEFT JOIN cl USING (id)),
        |sz AS (SELECT cluster_id, CAST(count(*) AS BIGINT) AS n_members
        |       FROM cid GROUP BY 1)
        |SELECT cid.id AS p_partkey, cid.cluster_id, sz.n_members,
        |  cid.id = cid.cluster_id AS is_canonical
        |FROM cid JOIN sz USING (cluster_id) ORDER BY p_partkey""".stripMargin,
    // fuzzy decontamination: cross-collection LSH band match (same
    // split-digest signature scheme) + est_sim >= 0.5 verify; benchmark
    // slice = doc_id % 31 = 0
    "q_fuzzy_decontam" ->
      (raw"""WITH tk AS (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS toks FROM documents),
        |sh AS (SELECT doc_id,
        |         list_distinct([array_to_string(toks[i:i+2], ' ')
        |                        FOR i IN generate_series(1, len(toks) - 2)]) AS sh
        |       FROM tk),
        |ex AS (SELECT doc_id, unnest(sh) AS s FROM sh),
        |""" + sigCte("ex") + raw""",
        |be AS (SELECT doc_id AS bench_id, sig AS bsig FROM sig WHERE doc_id % 31 = 0),
        |tr AS (SELECT doc_id, sig FROM sig WHERE doc_id % 31 <> 0),
        |hits AS (SELECT DISTINCT tr.doc_id, be.bench_id
        |  FROM tr JOIN be ON (
        |    (tr.sig[1] = be.bsig[1] AND tr.sig[2] = be.bsig[2]) OR
        |    (tr.sig[3] = be.bsig[3] AND tr.sig[4] = be.bsig[4]) OR
        |    (tr.sig[5] = be.bsig[5] AND tr.sig[6] = be.bsig[6]) OR
        |    (tr.sig[7] = be.bsig[7] AND tr.sig[8] = be.bsig[8]))
        |  WHERE CAST(len(list_filter(generate_series(1, 8), i -> tr.sig[i] = be.bsig[i])) AS DOUBLE) / 8 >= 0.5),
        |hc AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bench_hits FROM hits GROUP BY doc_id)
        |SELECT d.doc_id, COALESCE(hc.n_bench_hits, 0) AS n_bench_hits,
        |  CAST(COALESCE(hc.n_bench_hits, 0) > 0 AS INT) AS contaminated
        |FROM (SELECT doc_id FROM documents WHERE doc_id % 31 <> 0) d
        |LEFT JOIN hc USING (doc_id) ORDER BY doc_id""").stripMargin,
    // daily-count autocorrelation at lags 1 and 7: five INTEGER-exact
    // sums per lag (counts and their products), then the q_corr op
    // sequence — identical correctly-rounded doubles in both engines
    "q_autocorr" ->
      """WITH dl AS (SELECT epoch_ns(ts) // 86400000000000 AS d, CAST(count(*) AS BIGINT) AS x
        |            FROM events GROUP BY 1),
        |pr AS (SELECT 1 AS lag, a.x AS x0, b.x AS x1 FROM dl a JOIN dl b ON b.d = a.d + 1
        |       UNION ALL
        |       SELECT 7, a.x, b.x FROM dl a JOIN dl b ON b.d = a.d + 7),
        |s AS (SELECT lag, CAST(count(*) AS BIGINT) AS np,
        |        CAST(CAST(sum(x0) AS BIGINT) AS DOUBLE) AS sx,
        |        CAST(CAST(sum(x1) AS BIGINT) AS DOUBLE) AS sy,
        |        CAST(CAST(sum(x0 * x1) AS BIGINT) AS DOUBLE) AS sxy,
        |        CAST(CAST(sum(x0 * x0) AS BIGINT) AS DOUBLE) AS sxx,
        |        CAST(CAST(sum(x1 * x1) AS BIGINT) AS DOUBLE) AS syy
        |      FROM pr GROUP BY lag),
        |lv AS (SELECT unnest([1, 7]) AS lag)
        |SELECT lv.lag, CAST(COALESCE(s.np, 0) AS BIGINT) AS n_pairs,
        |  CASE WHEN (s.sxx - s.sx * s.sx / CAST(s.np AS DOUBLE)) *
        |            (s.syy - s.sy * s.sy / CAST(s.np AS DOUBLE)) > 0
        |       THEN (s.sxy - s.sx * s.sy / CAST(s.np AS DOUBLE)) /
        |            sqrt((s.sxx - s.sx * s.sx / CAST(s.np AS DOUBLE)) *
        |                 (s.syy - s.sy * s.sy / CAST(s.np AS DOUBLE)))
        |  END AS r
        |FROM lv LEFT JOIN s USING (lag) ORDER BY lag""".stripMargin,
    // weekday profile: integer counts, lift via exact cross-products
    // and ONE division; weekday 0 = Sunday ((epoch day + 4) mod 7)
    "q_seasonality" ->
      """WITH dl AS (SELECT epoch_ns(ts) // 86400000000000 AS d, CAST(count(*) AS BIGINT) AS x
        |            FROM events GROUP BY 1),
        |wd AS (SELECT (d + 4) % 7 AS weekday, CAST(count(*) AS BIGINT) AS n_days,
        |              CAST(sum(x) AS BIGINT) AS x
        |       FROM dl GROUP BY 1),
        |t AS (SELECT CAST(count(*) AS BIGINT) AS nd_tot, CAST(sum(x) AS BIGINT) AS t FROM dl)
        |SELECT weekday, n_days, x,
        |  CAST(x AS DOUBLE) / CAST(n_days AS DOUBLE) AS avg_x,
        |  CAST(x * nd_tot AS DOUBLE) / CAST(n_days * t AS DOUBLE) AS lift
        |FROM wd CROSS JOIN t ORDER BY weekday""".stripMargin,
    // KMV sketch algebra: union sketch = bottom-k of merged hash sets,
    // |A∩B| = overlap/k · |A∪B|; same estimate rule as q_kmv_distinct
    "q_kmv_setops" ->
      """WITH va AS (SELECT DISTINCT CAST(('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 15)) AS BIGINT) AS h
        |            FROM events WHERE event_type = 'view' AND user_id IS NOT NULL),
        |vb AS (SELECT DISTINCT CAST(('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 15)) AS BIGINT) AS h
        |       FROM events WHERE event_type = 'click' AND user_id IS NOT NULL),
        |u AS (SELECT h FROM va UNION SELECT h FROM vb),
        |ka AS (SELECT h, row_number() OVER (ORDER BY h) AS rn FROM va),
        |kb AS (SELECT h, row_number() OVER (ORDER BY h) AS rn FROM vb),
        |ku AS (SELECT h, row_number() OVER (ORDER BY h) AS rn FROM u),
        |ea AS (SELECT CAST(count(*) AS INTEGER) AS nk, max(CASE WHEN rn = 64 THEN h END) AS hk
        |       FROM ka WHERE rn <= 64),
        |eb AS (SELECT CAST(count(*) AS INTEGER) AS nk, max(CASE WHEN rn = 64 THEN h END) AS hk
        |       FROM kb WHERE rn <= 64),
        |eu AS (SELECT CAST(count(*) AS INTEGER) AS nk, max(CASE WHEN rn = 64 THEN h END) AS hk
        |       FROM ku WHERE rn <= 64),
        |ov AS (SELECT CAST(count(*) AS BIGINT) AS o FROM ku
        |       WHERE rn <= 64 AND h IN (SELECT h FROM va) AND h IN (SELECT h FROM vb)),
        |ex AS (SELECT (SELECT CAST(count(*) AS BIGINT) FROM u) AS exact_union,
        |              (SELECT CAST(count(*) AS BIGINT) FROM va WHERE h IN (SELECT h FROM vb)) AS exact_intersect)
        |SELECT
        |  CASE WHEN ea.nk < 64 THEN CAST(ea.nk AS DOUBLE)
        |       ELSE round(CAST(63 AS DOUBLE) * 1152921504606846976.0 / CAST(ea.hk AS DOUBLE), 6) END AS est_a,
        |  CASE WHEN eb.nk < 64 THEN CAST(eb.nk AS DOUBLE)
        |       ELSE round(CAST(63 AS DOUBLE) * 1152921504606846976.0 / CAST(eb.hk AS DOUBLE), 6) END AS est_b,
        |  CASE WHEN eu.nk < 64 THEN CAST(eu.nk AS DOUBLE)
        |       ELSE round(CAST(63 AS DOUBLE) * 1152921504606846976.0 / CAST(eu.hk AS DOUBLE), 6) END AS est_union,
        |  CASE WHEN eu.nk > 0 THEN
        |    round(CAST(ov.o AS DOUBLE) *
        |      (CASE WHEN eu.nk < 64 THEN CAST(eu.nk AS DOUBLE)
        |            ELSE round(CAST(63 AS DOUBLE) * 1152921504606846976.0 / CAST(eu.hk AS DOUBLE), 6) END)
        |      / CAST(eu.nk AS DOUBLE), 6)
        |  ELSE 0.0 END AS est_intersect,
        |  ex.exact_union, ex.exact_intersect
        |FROM ea CROSS JOIN eb CROSS JOIN eu CROSS JOIN ov CROSS JOIN ex""".stripMargin,
    // per-source quantile normalization: pct = (n - r)/(n - 1) over the
    // source's (n_tok DESC, doc_id) total order; NULL for 1-doc sources
    "q_quantile_norm" ->
      raw"""WITH tk AS (SELECT doc_id, source,
        |        CAST(len(regexp_split_to_array(trim(text), '\s+')) AS INTEGER) AS n_tok
        |      FROM documents),
        |r AS (SELECT doc_id, source, n_tok,
        |        CAST(row_number() OVER (PARTITION BY source ORDER BY n_tok DESC, doc_id ASC) AS BIGINT) AS r,
        |        CAST(count(*) OVER (PARTITION BY source) AS BIGINT) AS n
        |      FROM tk)
        |SELECT doc_id, source, n_tok,
        |  CASE WHEN n > 1 THEN CAST(n - r AS DOUBLE) / CAST(n - 1 AS DOUBLE) END AS pct
        |FROM r ORDER BY doc_id""".stripMargin,
    // per-source bigram diversity: exact distinct/total adjacent pairs
    "q_ngram_diversity" ->
      """WITH w AS (SELECT doc_id, source, regexp_extract_all(lower(text), '[a-z]+') AS l FROM documents),
        |bg AS (SELECT source, unnest([{'a': l[j], 'b': l[j+1]}
        |                              for j in generate_series(1, len(l) - 1)],
        |               recursive := true)
        |       FROM w WHERE len(l) >= 2)
        |SELECT source, CAST(count(*) AS BIGINT) AS n_bigrams,
        |  CAST(count(DISTINCT a || '#' || b) AS BIGINT) AS n_distinct,
        |  CAST(count(DISTINCT a || '#' || b) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS diversity
        |FROM bg GROUP BY source ORDER BY source""".stripMargin,
    // PSI drift per bucket: reference-window equal-width bins, Laplace-
    // smoothed counts, one exact cross-product ratio into one ln; each
    // bucket row independently exact (no float fold)
    "q_psi" ->
      """WITH v AS (SELECT value, epoch_ns(ts) // 86400000000000 AS d FROM events),
        |dm AS (SELECT min(d) AS dmin FROM v),
        |tg AS (SELECT value, (d - dm.dmin < 15) AS is_ref FROM v CROSS JOIN dm),
        |ed AS (SELECT min(value) AS vmin, max(value) AS vmax FROM tg WHERE is_ref),
        |bk AS (SELECT is_ref,
        |         CASE WHEN ed.vmax > ed.vmin
        |              THEN greatest(0, least(9, CAST(floor(((value - ed.vmin) * 10) / (ed.vmax - ed.vmin)) AS INT)))
        |              ELSE 0 END AS bucket
        |       FROM tg CROSS JOIN ed),
        |ct AS (SELECT bucket,
        |         CAST(sum(CASE WHEN is_ref THEN 1 ELSE 0 END) AS BIGINT) AS c_ref,
        |         CAST(sum(CASE WHEN NOT is_ref THEN 1 ELSE 0 END) AS BIGINT) AS c_cur
        |       FROM bk GROUP BY bucket),
        |de AS (SELECT r.b AS bucket, COALESCE(ct.c_ref, 0) AS c_ref, COALESCE(ct.c_cur, 0) AS c_cur
        |       FROM (SELECT CAST(unnest(range(0, 10)) AS INT) AS b) r
        |       LEFT JOIN ct ON r.b = ct.bucket),
        |tt AS (SELECT CAST(sum(c_ref) AS BIGINT) AS n_ref, CAST(sum(c_cur) AS BIGINT) AS n_cur FROM de)
        |SELECT bucket, c_ref, c_cur,
        |  round(((CAST(c_ref + 1 AS DOUBLE) / CAST(n_ref + 10 AS DOUBLE)) -
        |         (CAST(c_cur + 1 AS DOUBLE) / CAST(n_cur + 10 AS DOUBLE))) *
        |        ln(CAST((c_ref + 1) * (n_cur + 10) AS DOUBLE) /
        |           CAST((c_cur + 1) * (n_ref + 10) AS DOUBLE)), 6) AS psi_term
        |FROM de CROSS JOIN tt ORDER BY bucket""".stripMargin,
    // Pearson chi-square of event_type x weekday over the DENSE grid;
    // d = O*N - r*c with per-factor double casts (Long products would
    // overflow at ~10^7 events), terms fold in (row, col) order
    "q_chi2" ->
      (contingencyCte + """,
        |de AS (SELECT r.rk, cl.ck, r.r, cl.c, COALESCE(c.o, 0) AS o
        |       FROM r CROSS JOIN cl LEFT JOIN c ON c.rk = r.rk AND c.ck = cl.ck),
        |tm AS (SELECT de.rk, de.ck,
        |         CAST(de.o AS DOUBLE) * CAST(n.n AS DOUBLE) -
        |           CAST(de.r AS DOUBLE) * CAST(de.c AS DOUBLE) AS d,
        |         CAST(n.n AS DOUBLE) * CAST(de.r AS DOUBLE) * CAST(de.c AS DOUBLE) AS den
        |       FROM de CROSS JOIN n)
        |SELECT n.n AS n,
        |  CAST((SELECT count(*) FROM r) AS BIGINT) AS r_levels,
        |  CAST((SELECT count(*) FROM cl) AS BIGINT) AS c_levels,
        |  CAST(((SELECT count(*) FROM r) - 1) * ((SELECT count(*) FROM cl) - 1) AS BIGINT) AS dof,
        |  round(list_reduce(list_prepend(0.0, list(tm.d * tm.d / tm.den ORDER BY tm.rk, tm.ck)),
        |        (u, w) -> u + w), 6) AS chi2
        |FROM tm CROSS JOIN n GROUP BY n.n""".stripMargin),
    // mutual information of the SAME contingency table (shared CTE):
    // observed cells only (zero cells contribute exactly 0), per-factor
    // double casts, (row, col) ordered fold
    "q_mutual_info" ->
      (contingencyCte + """,
        |tm AS (SELECT c.rk, c.ck,
        |         (CAST(c.o AS DOUBLE) / CAST(n.n AS DOUBLE)) *
        |         ln((CAST(c.o AS DOUBLE) * CAST(n.n AS DOUBLE)) /
        |            (CAST(r.r AS DOUBLE) * CAST(cl.c AS DOUBLE))) AS term
        |       FROM c JOIN r USING (rk) JOIN cl USING (ck) CROSS JOIN n)
        |SELECT n.n AS n,
        |  CAST((SELECT count(*) FROM r) AS BIGINT) AS r_levels,
        |  CAST((SELECT count(*) FROM cl) AS BIGINT) AS c_levels,
        |  round(list_reduce(list_prepend(0.0, list(tm.term ORDER BY tm.rk, tm.ck)),
        |        (u, w) -> u + w), 6) AS mi
        |FROM tm CROSS JOIN n GROUP BY n.n""".stripMargin),
    // Spearman over the daily series: Pearson on tie-averaged DOUBLED
    // ranks (min pos + max pos within a tie group — exact integers; the
    // x2 scale cancels); windows span calendar days only
    "q_spearman" ->
      """WITH dl AS (SELECT epoch_ns(ts) // 86400000000000 AS d,
        |              CAST(count(*) AS BIGINT) AS x,
        |              CAST(sum(CAST(value AS DECIMAL(14,2))) AS DOUBLE) AS sv
        |            FROM events GROUP BY 1),
        |da AS (SELECT d, x, sv / CAST(x AS DOUBLE) AS avg_v FROM dl),
        |rx AS (SELECT d, x, avg_v, row_number() OVER (ORDER BY x, d) AS px FROM da),
        |r2x AS (SELECT d, x, avg_v,
        |          CAST(min(px) OVER (PARTITION BY x) + max(px) OVER (PARTITION BY x) AS BIGINT) AS x2
        |        FROM rx),
        |ry AS (SELECT d, avg_v, x2, row_number() OVER (ORDER BY avg_v, d) AS py FROM r2x),
        |r2y AS (SELECT d, x2,
        |          CAST(min(py) OVER (PARTITION BY avg_v) + max(py) OVER (PARTITION BY avg_v) AS BIGINT) AS y2
        |        FROM ry),
        |s AS (SELECT CAST(count(*) AS BIGINT) AS n,
        |        CAST(sum(x2) AS BIGINT) AS sx, CAST(sum(y2) AS BIGINT) AS sy,
        |        CAST(sum(x2 * y2) AS BIGINT) AS sxy,
        |        CAST(sum(x2 * x2) AS BIGINT) AS sxx,
        |        CAST(sum(y2 * y2) AS BIGINT) AS syy
        |      FROM r2y)
        |SELECT n AS n_days,
        |  CASE WHEN (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) *
        |            (CAST(n AS DOUBLE) * CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)) > 0
        |       THEN round((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE)) /
        |                  sqrt((CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) *
        |                       (CAST(n AS DOUBLE) * CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))), 6)
        |  END AS rho
        |FROM s""".stripMargin,
    // shingle containment (|A∩B|/min): quote/embedding detection that
    // symmetric Jaccard misses; ratio bound is explicit; empty-shingle
    // docs excluded (their 0/0 splits the engines NULL-vs-NaN)
    "q_containment" ->
      raw"""WITH tk AS (SELECT doc_id, lang, source, regexp_split_to_array(trim(text), '\s+') AS toks FROM documents),
        |sh AS (SELECT doc_id, lang, source,
        |         list_distinct([array_to_string(toks[i:i+2], ' ')
        |                        FOR i IN generate_series(1, len(toks) - 2)]) AS sh
        |       FROM tk),
        |pv AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |         CAST(len(list_filter(a.sh, s -> list_contains(b.sh, s))) AS BIGINT) AS inter,
        |         CAST(len(a.sh) AS BIGINT) AS n_a, CAST(len(b.sh) AS BIGINT) AS n_b
        |       FROM sh a JOIN sh b ON a.lang = b.lang AND a.source = b.source AND a.doc_id < b.doc_id
        |       WHERE len(a.sh) > 0 AND len(b.sh) > 0
        |         AND CAST(greatest(len(a.sh), len(b.sh)) AS DOUBLE) <= 3.0 * CAST(least(len(a.sh), len(b.sh)) AS DOUBLE))
        |SELECT id_a, id_b, inter, n_a, n_b,
        |  CAST(inter AS DOUBLE) / CAST(least(n_a, n_b) AS DOUBLE) AS containment
        |FROM pv
        |WHERE CAST(inter AS DOUBLE) / CAST(least(n_a, n_b) AS DOUBLE) >= 0.8
        |ORDER BY id_a, id_b""".stripMargin,
    // trimmed (10-90) mean: robust location over the group's own band
    "q_trimmed_mean" ->
      """WITH th AS (SELECT l_returnflag, quantile_cont(l_quantity, 0.1) AS p10,
        |                   quantile_cont(l_quantity, 0.9) AS p90
        |            FROM lineitem GROUP BY 1)
        |SELECT li.l_returnflag, CAST(count(*) AS BIGINT) AS n_kept,
        |  CAST(sum(CAST(li.l_quantity AS DECIMAL(14,2))) AS DOUBLE) /
        |    CAST(count(*) AS DOUBLE) AS trimmed_mean
        |FROM lineitem li JOIN th USING (l_returnflag)
        |WHERE li.l_quantity >= th.p10 AND li.l_quantity <= th.p90
        |GROUP BY li.l_returnflag ORDER BY li.l_returnflag""".stripMargin,
    // Apriori level-3: triples over the shared basket/pair CTEs; the
    // all-sub-pairs prune is lossless for the >= 2 support answer
    "q_itemsets3" ->
      (copurchaseCte + """,
        |t3 AS (SELECT a.ok, a.p AS x, b.p AS y, c.p AS z
        |       FROM li a JOIN li b ON a.ok = b.ok AND a.p < b.p
        |                 JOIN li c ON b.ok = c.ok AND b.p < c.p),
        |pr AS (SELECT t3.* FROM t3
        |       WHERE EXISTS (SELECT 1 FROM e WHERE e.u = t3.x AND e.v = t3.y)
        |         AND EXISTS (SELECT 1 FROM e WHERE e.u = t3.x AND e.v = t3.z)
        |         AND EXISTS (SELECT 1 FROM e WHERE e.u = t3.y AND e.v = t3.z))
        |SELECT x, y, z, CAST(count(*) AS BIGINT) AS support
        |FROM pr GROUP BY 1, 2, 3 HAVING count(*) >= 2
        |ORDER BY 1, 2, 3""".stripMargin),
    // one-row degree summary of the shared co-purchase graph
    "q_graph_summary" ->
      (copurchaseCte + """,
        |deg AS (SELECT n, CAST(count(*) AS BIGINT) AS d
        |        FROM (SELECT u AS n FROM e UNION ALL SELECT v FROM e) GROUP BY n),
        |m AS (SELECT CAST(count(*) AS BIGINT) AS m FROM e)
        |SELECT CAST(count(*) AS BIGINT) AS n_nodes, m.m AS n_edges,
        |  CAST(min(d) AS BIGINT) AS min_deg, CAST(max(d) AS BIGINT) AS max_deg,
        |  CAST(CAST(sum(d) AS BIGINT) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS avg_deg,
        |  quantile_cont(d, 0.5) AS p50_deg, quantile_cont(d, 0.9) AS p90_deg
        |FROM deg CROSS JOIN m GROUP BY m.m""".stripMargin),
    // exact audience overlap per type pair — the exact twin of
    // q_kmv_setops' estimates
    "q_type_overlap" ->
      """WITH tu AS (SELECT DISTINCT event_type, user_id FROM events),
        |sz AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n FROM tu GROUP BY 1),
        |iv AS (SELECT a.event_type AS type_a, b.event_type AS type_b,
        |         CAST(count(*) AS BIGINT) AS inter
        |       FROM tu a JOIN tu b ON a.user_id = b.user_id AND a.event_type < b.event_type
        |       GROUP BY 1, 2)
        |SELECT iv.type_a, iv.type_b, iv.inter, sa.n AS n_a, sb.n AS n_b,
        |  CAST(iv.inter AS DOUBLE) / CAST(sa.n + sb.n - iv.inter AS DOUBLE) AS jaccard
        |FROM iv JOIN sz sa ON iv.type_a = sa.event_type
        |        JOIN sz sb ON iv.type_b = sb.event_type
        |ORDER BY type_a, type_b""".stripMargin,
    // daily p50/p90 band of the value column
    "q_daily_percentiles" ->
      """SELECT epoch_ns(ts) // 86400000000000 AS d, CAST(count(*) AS BIGINT) AS n,
        |  quantile_cont(value, 0.5) AS p50, quantile_cont(value, 0.9) AS p90
        |FROM events GROUP BY 1 ORDER BY d""".stripMargin,
    // Theil–Sen robust trend: median of exact pairwise day slopes
    "q_theilsen" ->
      """WITH dl AS (SELECT event_type, epoch_ns(ts) // 86400000000000 AS d,
        |                   CAST(count(*) AS BIGINT) AS x
        |            FROM events GROUP BY 1, 2),
        |sl AS (SELECT a.event_type,
        |         CAST(b.x - a.x AS DOUBLE) / CAST(b.d - a.d AS DOUBLE) AS slope
        |       FROM dl a JOIN dl b ON a.event_type = b.event_type AND a.d < b.d)
        |SELECT event_type, CAST(count(*) AS BIGINT) AS n_pairs,
        |  quantile_cont(slope, 0.5) AS slope_med
        |FROM sl GROUP BY event_type ORDER BY event_type""".stripMargin,
    // two-proportion z on conversion over the deterministic 50/50 hash
    // split; NULL when se = 0 (engines disagree on x/0)
    "q_ab_test" ->
      """WITH u AS (SELECT user_id,
        |             max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS conv
        |           FROM events GROUP BY 1),
        |g AS (SELECT CASE WHEN CAST(('0x' || substr(md5('ab#' || CAST(user_id AS VARCHAR)), 1, 15)) AS BIGINT) % 2 = 0
        |             THEN 'A' ELSE 'B' END AS grp,
        |        CAST(count(*) AS BIGINT) AS n, CAST(sum(conv) AS BIGINT) AS c
        |      FROM u GROUP BY 1),
        |a AS (SELECT n AS n_a, c AS conv_a FROM g WHERE grp = 'A'),
        |b AS (SELECT n AS n_b, c AS conv_b FROM g WHERE grp = 'B')
        |SELECT n_a, n_b, conv_a, conv_b,
        |  CAST(conv_a AS DOUBLE) / CAST(n_a AS DOUBLE) AS rate_a,
        |  CAST(conv_b AS DOUBLE) / CAST(n_b AS DOUBLE) AS rate_b,
        |  CASE WHEN conv_a + conv_b > 0 AND conv_a + conv_b < n_a + n_b THEN
        |    round((CAST(conv_a AS DOUBLE) / CAST(n_a AS DOUBLE) -
        |           CAST(conv_b AS DOUBLE) / CAST(n_b AS DOUBLE)) /
        |          sqrt((CAST(conv_a + conv_b AS DOUBLE) / CAST(n_a + n_b AS DOUBLE)) *
        |               (1 - CAST(conv_a + conv_b AS DOUBLE) / CAST(n_a + n_b AS DOUBLE)) *
        |               (1.0 / CAST(n_a AS DOUBLE) + 1.0 / CAST(n_b AS DOUBLE))), 6)
        |  END AS z
        |FROM a CROSS JOIN b""".stripMargin,
    // hashed-PPMI word vectors + cosine: PPMI quantized to 1e-3 fixed
    // point right after its single ln; every sum from there is exact
    // integer; one pinned double sequence for the cosine
    "q_word_neighbors" ->
      """WITH w AS (SELECT doc_id, regexp_extract_all(lower(text), '[a-z]+') AS l FROM documents),
        |bg AS (SELECT unnest([{'a': l[j], 'b': l[j+1]}
        |                      for j in generate_series(1, len(l) - 1)],
        |               recursive := true)
        |       FROM w WHERE len(l) >= 2),
        |co AS (SELECT a AS w, b AS c FROM bg UNION ALL SELECT b, a FROM bg),
        |cc AS (SELECT w, c, CAST(count(*) AS BIGINT) AS n_wc FROM co GROUP BY 1, 2),
        |cw AS (SELECT w, CAST(sum(n_wc) AS BIGINT) AS n_w FROM cc GROUP BY 1),
        |nn AS (SELECT CAST(sum(n_wc) AS BIGINT) AS n FROM cc),
        |pp AS (SELECT cc.w, cc.c,
        |         CAST(round(ln(CAST(cc.n_wc * nn.n AS DOUBLE) /
        |                       CAST(cw1.n_w * cw2.n_w AS DOUBLE)) * 1000) AS BIGINT) AS pq
        |       FROM cc JOIN cw cw1 ON cc.w = cw1.w
        |                JOIN cw cw2 ON cc.c = cw2.w CROSS JOIN nn
        |       WHERE cc.n_wc >= 5
        |         AND ln(CAST(cc.n_wc * nn.n AS DOUBLE) / CAST(cw1.n_w * cw2.n_w AS DOUBLE)) > 0),
        |vec AS (SELECT w,
        |          CAST(('0x' || substr(md5('wv#' || c), 1, 15)) AS BIGINT) % 64 AS j,
        |          CAST(sum(pq) AS BIGINT) AS v
        |        FROM pp GROUP BY 1, 2),
        |nr AS (SELECT w, CAST(sum(v * v) AS BIGINT) AS nrm FROM vec GROUP BY 1),
        |dt AS (SELECT a.w AS w1, b.w AS w2, CAST(sum(a.v * b.v) AS BIGINT) AS dot
        |       FROM vec a JOIN vec b ON a.j = b.j AND a.w < b.w GROUP BY 1, 2)
        |SELECT dt.w1, dt.w2,
        |  round(CAST(dt.dot AS DOUBLE) /
        |        (sqrt(CAST(n1.nrm AS DOUBLE)) * sqrt(CAST(n2.nrm AS DOUBLE))), 6) AS cos
        |FROM dt JOIN nr n1 ON dt.w1 = n1.w JOIN nr n2 ON dt.w2 = n2.w
        |ORDER BY w1, w2""".stripMargin,
    // five-stage curation composition: quality gate → exact dedup →
    // LSH-cluster survivor → 3-gram decontamination → hash split; every
    // stage reconstructed as a CTE so the COMPOSITION is oracle-checked
    "q_curation_e2e" ->
      raw"""WITH RECURSIVE
        |tk0 AS (SELECT doc_id, lang, text, regexp_split_to_array(trim(text), '\s+') AS toks FROM documents),
        |q AS (SELECT doc_id, lang, text FROM tk0
        |      WHERE doc_id % 97 <> 0
        |        AND CAST(len(list_filter(toks, w -> list_contains(['the','a','of','and','to'], w))) AS DOUBLE)
        |            / len(toks) <= 0.2
        |        AND len(toks) >= 12),
        |ex AS (SELECT doc_id, lang, text FROM
        |       (SELECT q.*, row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rn FROM q)
        |       WHERE rn = 1),
        |tk AS (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS toks FROM ex),
        |sh AS (SELECT doc_id,
        |         list_distinct([array_to_string(toks[i:i+2], ' ')
        |                        FOR i IN generate_series(1, len(toks) - 2)]) AS sh
        |       FROM tk),
        |exsh AS (SELECT doc_id, unnest(sh) AS s FROM sh),
        |${sigCte("exsh")},
        |pairs AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b
        |  FROM sig a JOIN sig b ON a.doc_id < b.doc_id AND (
        |    (a.sig[1] = b.sig[1] AND a.sig[2] = b.sig[2]) OR
        |    (a.sig[3] = b.sig[3] AND a.sig[4] = b.sig[4]) OR
        |    (a.sig[5] = b.sig[5] AND a.sig[6] = b.sig[6]) OR
        |    (a.sig[7] = b.sig[7] AND a.sig[8] = b.sig[8]))
        |  WHERE CAST(len(list_filter(generate_series(1, 8), i -> a.sig[i] = b.sig[i])) AS DOUBLE) / 8 >= 0.5),
        |edges AS (SELECT id_a AS u, id_b AS v FROM pairs
        |          UNION SELECT id_b AS u, id_a AS v FROM pairs),
        |reach(u, v) AS (
        |  SELECT u, v FROM edges
        |  UNION
        |  SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u WHERE e.v <> r.u),
        |cl AS (SELECT u AS doc_id, MIN(v) AS mn FROM reach GROUP BY u),
        |surv AS (SELECT e.doc_id, e.lang FROM ex e LEFT JOIN cl ON e.doc_id = cl.doc_id
        |         WHERE COALESCE(LEAST(cl.mn, e.doc_id), e.doc_id) = e.doc_id),
        |btk AS (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS toks
        |        FROM documents WHERE doc_id % 97 = 0),
        |bsh AS (SELECT DISTINCT unnest(list_distinct([array_to_string(toks[i:i+2], ' ')
        |                               FOR i IN generate_series(1, len(toks) - 2)])) AS s
        |        FROM btk),
        |hits AS (SELECT DISTINCT e.doc_id FROM exsh e
        |         JOIN surv sv ON e.doc_id = sv.doc_id
        |         WHERE e.s IN (SELECT s FROM bsh)),
        |clean AS (SELECT doc_id, lang FROM surv
        |          WHERE doc_id NOT IN (SELECT doc_id FROM hits)),
        |b AS (SELECT doc_id, lang,
        |        CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) % 100 AS bucket
        |      FROM clean)
        |SELECT doc_id, lang,
        |  CASE WHEN bucket < 80 THEN 'train'
        |       WHEN bucket < 90 THEN 'val' ELSE 'test' END AS split
        |FROM b ORDER BY doc_id""".stripMargin,
    // source-weighted mixing: keep src0 100%, src1 50%, src2 25% by a
    // salted hash bucket of the stable doc id
    "q_source_mix" ->
      """WITH b AS (SELECT doc_id, source,
        |    CAST(('0x' || substr(md5('mix#' || CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) % 100 AS mix_bucket,
        |    CASE source WHEN 'src0' THEN 100 WHEN 'src1' THEN 50
        |                WHEN 'src2' THEN 25 ELSE 0 END AS keep_pct
        |  FROM documents)
        |SELECT doc_id, source, mix_bucket FROM b
        |WHERE mix_bucket < keep_pct ORDER BY doc_id""".stripMargin,
    // data card: every metric from ONE aggregation; counts exact in
    // doubles, fractions single correctly-rounded divisions
    "q_data_card" ->
      raw"""WITH d AS (SELECT lang, source, text,
        |             regexp_split_to_array(trim(text), '\s+') AS toks
        |           FROM documents),
        |a AS (SELECT CAST(count(*) AS DOUBLE) AS n_docs,
        |        CAST(CAST(sum(len(toks)) AS BIGINT) AS DOUBLE) AS n_tokens,
        |        CAST(count(DISTINCT lang) AS DOUBLE) AS n_langs,
        |        CAST(count(DISTINCT source) AS DOUBLE) AS n_sources,
        |        CAST(count(DISTINCT md5(text)) AS DOUBLE) AS n_uniq,
        |        CAST(CAST(sum(CASE WHEN len(toks) >= 25 AND
        |              5 * len(list_filter(toks, t -> list_contains(['the','a','of','and','to'], t))) <= len(toks)
        |              THEN 1 ELSE 0 END) AS BIGINT) AS DOUBLE) AS n_q
        |      FROM d)
        |SELECT * FROM (
        |  SELECT 'n_docs' AS metric, n_docs AS value FROM a
        |  UNION ALL SELECT 'n_tokens', n_tokens FROM a
        |  UNION ALL SELECT 'n_langs', n_langs FROM a
        |  UNION ALL SELECT 'n_sources', n_sources FROM a
        |  UNION ALL SELECT 'mean_doc_tokens', round(n_tokens / n_docs, 6) FROM a
        |  UNION ALL SELECT 'exact_dup_frac', round(CAST(1.0 AS DOUBLE) - n_uniq / n_docs, 6) FROM a
        |  UNION ALL SELECT 'quality_keep_frac', round(n_q / n_docs, 6) FROM a)
        |ORDER BY metric""".stripMargin,
    // k-anonymous stats release: groups under k=10 fold into ONE
    // '<suppressed>' row (a sentinel no real lang/source can be) —
    // pure integer counts
    "q_kanon_release" ->
      """WITH g AS (SELECT lang, source, CAST(count(*) AS BIGINT) AS n,
        |             CAST(sum(n_chars) AS BIGINT) AS sum_chars
        |           FROM documents GROUP BY lang, source),
        |r AS (SELECT lang, source, n, sum_chars FROM g WHERE n >= 10),
        |s AS (SELECT '<suppressed>' AS lang, '<suppressed>' AS source,
        |        CAST(coalesce(sum(n), 0) AS BIGINT) AS n,
        |        CAST(coalesce(sum(sum_chars), 0) AS BIGINT) AS sum_chars
        |      FROM g WHERE n < 10)
        |SELECT * FROM (SELECT * FROM r UNION ALL SELECT * FROM s WHERE s.n >= 10)
        |ORDER BY lang, source""".stripMargin,
    // temperature mixing at α=0.5: the rate is an IEEE sqrt (correctly
    // rounded on BOTH engines, unlike pow), so the integer ppm threshold
    // is bit-exact with no tolerance argument
    "q_temperature_mix" ->
      """WITH c AS (SELECT lang, count(*) AS n_l FROM documents GROUP BY lang),
        |m AS (SELECT min(n_l) AS n_min FROM c),
        |r AS (SELECT c.lang,
        |        CAST(floor(sqrt(CAST(m.n_min AS DOUBLE) / CAST(c.n_l AS DOUBLE)) *
        |                   CAST(1000000 AS DOUBLE)) AS BIGINT) AS rate_ppm
        |      FROM c, m),
        |b AS (SELECT doc_id, lang,
        |        CAST(('0x' || substr(md5('tmix#' || CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT)
        |          % 1000000 AS bucket
        |      FROM documents)
        |SELECT b.doc_id, b.lang, b.bucket, r.rate_ppm
        |FROM b JOIN r USING (lang)
        |WHERE b.bucket < r.rate_ppm ORDER BY b.doc_id""".stripMargin,
    // C4-style global line dedup: 8-word chunks, first occurrence
    // (smallest doc_id, line_idx) wins corpus-wide
    "q_line_dedup" ->
      """WITH tk AS (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS toks FROM documents),
        |ln AS (SELECT doc_id,
        |         unnest([{'line_idx': i, 'line': array_to_string(toks[i*8+1 : i*8+8], ' ')}
        |                 FOR i IN generate_series(0, CAST(ceil(len(toks)/8.0) AS BIGINT) - 1)],
        |                recursive := true)
        |       FROM tk),
        |rn AS (SELECT doc_id, line_idx, line,
        |         row_number() OVER (PARTITION BY line ORDER BY doc_id, line_idx) AS rn
        |       FROM ln)
        |SELECT doc_id,
        |  CAST(count(*) AS INTEGER) AS n_lines,
        |  CAST(count(*) FILTER (WHERE rn = 1) AS INTEGER) AS n_kept,
        |  COALESCE(string_agg(line, ' ' ORDER BY line_idx) FILTER (WHERE rn = 1), '') AS text_dedup
        |FROM rn GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    // Gopher repetition signals: top-bigram fraction + duplicate-line
    // fraction; flag either over threshold (0.10 / 0.05)
    "q_repetition_filter" ->
      """WITH tk AS (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS toks FROM documents),
        |bg AS (SELECT doc_id,
        |         unnest([array_to_string(toks[i:i+1], ' ')
        |                 FOR i IN generate_series(1, len(toks) - 1)]) AS bg
        |       FROM tk),
        |bgc AS (SELECT doc_id, bg, count(*) AS c FROM bg GROUP BY doc_id, bg),
        |bstat AS (SELECT doc_id, CAST(max(c) AS DOUBLE) / sum(c) AS top_bigram_frac
        |          FROM bgc GROUP BY doc_id),
        |ln AS (SELECT doc_id,
        |         unnest([array_to_string(toks[i*8+1 : i*8+8], ' ')
        |                 FOR i IN generate_series(0, CAST(ceil(len(toks)/8.0) AS BIGINT) - 1)]) AS line
        |       FROM tk),
        |lstat AS (SELECT doc_id,
        |            1.0 - CAST(count(DISTINCT line) AS DOUBLE) / count(*) AS dup_line_frac
        |          FROM ln GROUP BY doc_id)
        |SELECT b.doc_id,
        |  round(b.top_bigram_frac, 9) AS top_bigram_frac,
        |  round(l.dup_line_frac, 9) AS dup_line_frac,
        |  CAST(CASE WHEN b.top_bigram_frac > 0.10 OR l.dup_line_frac > 0.05
        |       THEN 1 ELSE 0 END AS INTEGER) AS flagged
        |FROM bstat b JOIN lstat l ON b.doc_id = l.doc_id
        |ORDER BY b.doc_id""".stripMargin,
    // balanced shard plan: global (n_tok DESC, doc_id) rank dealt
    // round-robin over 8 shards — sorted-descending round-robin bounds
    // any two shards' token totals within one max-document
    "q_shard_plan" ->
      """WITH d AS (SELECT doc_id,
        |        len(regexp_split_to_array(trim(text), '\s+')) AS n_tok
        |      FROM documents),
        |r AS (SELECT doc_id, n_tok,
        |        row_number() OVER (ORDER BY n_tok DESC, doc_id) AS rk
        |      FROM d)
        |SELECT CAST((rk - 1) % 8 AS INTEGER) AS shard, count(*) AS n_docs,
        |  CAST(sum(n_tok) AS BIGINT) AS tot_tokens,
        |  CAST(min(n_tok) AS INTEGER) AS min_tok,
        |  CAST(max(n_tok) AS INTEGER) AS max_tok
        |FROM r GROUP BY 1 ORDER BY shard""".stripMargin,
    // greedy sequential packing into 2048-token sequences, per 8-way shard
    "q_sequence_pack" ->
      """WITH d AS (SELECT doc_id, doc_id % 8 AS shard,
        |    CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT) AS n_tokens
        |  FROM documents),
        |c AS (SELECT doc_id, shard, n_tokens,
        |    CAST(sum(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_tokens AS BIGINT) AS start_tok
        |  FROM d)
        |SELECT doc_id, shard, n_tokens,
        |  start_tok // 2048 AS seq_id, start_tok % 2048 AS seq_offset
        |FROM c ORDER BY doc_id""".stripMargin,
    // PII redaction: a deterministic slice is augmented with fabricated
    // email+phone so the regexes match for real in both engines
    "q_pii_redact" ->
      """WITH a AS (SELECT doc_id,
        |    text || CASE WHEN doc_id % 7 = 0
        |      THEN ' contact user' || CAST(doc_id AS VARCHAR) || '@example.com or call 555-' ||
        |           lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
        |      ELSE '' END AS aug
        |  FROM documents)
        |SELECT doc_id,
        |  CAST(len(regexp_extract_all(aug, '[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}')) AS INTEGER) AS n_emails,
        |  CAST(len(regexp_extract_all(aug, '[0-9]{3}-[0-9]{4}')) AS INTEGER) AS n_phones,
        |  regexp_replace(regexp_replace(aug, '[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}', '[EMAIL]', 'g'),
        |    '[0-9]{3}-[0-9]{4}', '[PHONE]', 'g') AS redacted
        |FROM a ORDER BY doc_id""".stripMargin,
    // full Gopher rule battery: every rule an integer cross-multiplication
    // (no ratios, no doubles); %13/%17/%19 slices fabricate bullets /
    // ellipsis lines / hashes so each rule fires for real
    "q_gopher_rules" ->
      (raw"""WITH a AS (SELECT doc_id, text ||
        |    CASE WHEN doc_id % 13 = 0 THEN ${
          (1 to 10).map(i => s"chr(10) || '• item $i'").mkString(" || ")}
        |    ELSE '' END ||
        |    CASE WHEN doc_id % 17 = 0 THEN ${
          (1 to 4).map(i => s"chr(10) || 'to be continued$i ...'").mkString(" || ")}
        |    ELSE '' END ||
        |    CASE WHEN doc_id % 19 = 0 THEN ' # # # # # # # #' ELSE '' END AS aug
        |  FROM documents),
        |m AS (SELECT doc_id,
        |    regexp_split_to_array(trim(aug), '\s+') AS toks,
        |    string_split(aug, chr(10)) AS lines,
        |    length(regexp_replace(trim(aug), '\s+', '', 'g')) AS sum_len,
        |    len(regexp_extract_all(aug, '#')) +
        |      len(regexp_extract_all(aug, '\.\.\.')) AS n_sym
        |  FROM a),
        |c AS (SELECT doc_id,
        |    CAST(len(toks) AS INTEGER) AS n_words, sum_len,
        |    CAST(len(lines) AS INTEGER) AS n_lines, n_sym,
        |    len(list_filter(toks, t -> regexp_matches(t, '[a-z]'))) AS n_alpha,
        |    len(list_filter(list_distinct(toks),
        |      t -> list_contains(['the','be','to','of','and','that','have','with'], t))) AS n_stop,
        |    len(list_filter(lines, l -> l LIKE '• %')) AS n_bullet,
        |    len(list_filter(lines, l -> l LIKE '%...')) AS n_ell
        |  FROM m)
        |SELECT doc_id, n_words, n_lines,
        |  CAST(n_words >= 50 AND n_words <= 100000 AS INTEGER) AS r_word_count,
        |  CAST(3 * n_words <= sum_len AND sum_len <= 10 * n_words AS INTEGER) AS r_mean_len,
        |  CAST(10 * n_sym <= n_words AS INTEGER) AS r_symbol,
        |  CAST(10 * n_bullet <= 9 * n_lines AS INTEGER) AS r_bullet,
        |  CAST(10 * n_ell <= 3 * n_lines AS INTEGER) AS r_ellipsis,
        |  CAST(5 * n_alpha >= 4 * n_words AS INTEGER) AS r_alpha,
        |  CAST(n_stop >= 2 AS INTEGER) AS r_stop,
        |  CAST(n_words >= 50 AND n_words <= 100000
        |    AND 3 * n_words <= sum_len AND sum_len <= 10 * n_words
        |    AND 10 * n_sym <= n_words
        |    AND 10 * n_bullet <= 9 * n_lines
        |    AND 10 * n_ell <= 3 * n_lines
        |    AND 5 * n_alpha >= 4 * n_words
        |    AND n_stop >= 2 AS INTEGER) AS keep
        |FROM c ORDER BY doc_id""").stripMargin,
    // C4 line/document heuristics over the 8-word chunks: fabricated
    // terminal punctuation ((doc_id+line_idx) % 3 != 0), javascript /
    // lorem-ipsum / curly-brace injections on %23/%29/%31 slices
    "q_c4_rules" ->
      """WITH tk AS (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS toks FROM documents),
        |ln AS (SELECT doc_id,
        |         unnest([{'line_idx': i, 'line': array_to_string(toks[i*8+1 : i*8+8], ' ')}
        |                 FOR i IN generate_series(0, CAST(ceil(len(toks)/8.0) AS BIGINT) - 1)],
        |                recursive := true)
        |       FROM tk),
        |m0 AS (SELECT doc_id, line_idx,
        |         CASE WHEN doc_id % 29 = 0 AND line_idx = 0
        |              THEN 'lorem ipsum ' || line ELSE line END AS l0
        |       FROM ln),
        |m1 AS (SELECT doc_id, line_idx,
        |         CASE WHEN doc_id % 23 = 0 AND line_idx = 1
        |              THEN l0 || ' javascript' ELSE l0 END AS l1
        |       FROM m0),
        |mg AS (SELECT doc_id, line_idx,
        |         (CASE WHEN doc_id % 31 = 0 AND line_idx = 0
        |               THEN l1 || ' {' ELSE l1 END) ||
        |         (CASE WHEN (doc_id + line_idx) % 3 != 0 THEN '.' ELSE '' END) AS line
        |       FROM m1),
        |fl AS (SELECT doc_id, line_idx, line,
        |         line LIKE '%.' AS ends_punct,
        |         line LIKE '%javascript%' AS has_js
        |       FROM mg)
        |SELECT doc_id,
        |  CAST(count(*) AS INTEGER) AS n_lines,
        |  CAST(count(*) FILTER (WHERE ends_punct AND NOT has_js) AS INTEGER) AS n_kept,
        |  CAST(count(*) FILTER (WHERE ends_punct) AS INTEGER) AS n_sent,
        |  CAST(max(CASE WHEN line LIKE '%lorem ipsum%' THEN 1 ELSE 0 END) AS INTEGER) AS has_lorem,
        |  CAST(max(CASE WHEN line LIKE '%{%' OR line LIKE '%}%' THEN 1 ELSE 0 END) AS INTEGER) AS has_brace,
        |  CAST(count(*) FILTER (WHERE ends_punct) >= 3
        |    AND max(CASE WHEN line LIKE '%lorem ipsum%' THEN 1 ELSE 0 END) = 0
        |    AND max(CASE WHEN line LIKE '%{%' OR line LIKE '%}%' THEN 1 ELSE 0 END) = 0
        |    AS INTEGER) AS doc_keep,
        |  COALESCE(string_agg(line, ' ' ORDER BY line_idx)
        |    FILTER (WHERE ends_punct AND NOT has_js), '') AS kept_text
        |FROM fl GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    // exactly-k-per-language deterministic sample: rank by md5(doc_id)
    "q_stratified_sample" ->
      """WITH r AS (SELECT doc_id, lang, md5(CAST(doc_id AS VARCHAR)) AS r FROM documents),
        |q AS (SELECT doc_id, lang,
        |  CAST(row_number() OVER (PARTITION BY lang ORDER BY r, doc_id) AS INTEGER) AS rnk
        |  FROM r)
        |SELECT doc_id, lang, rnk FROM q WHERE rnk <= 20
        |ORDER BY lang, rnk""".stripMargin,
    "q_cosine_topk" ->
      """WITH q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
        |z AS (SELECT e.vec_id, e.label,
        |  list_reduce(list_prepend(0.0, list_transform(list_zip(e.embedding, q.qe),
        |    p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE))), (a, b) -> a + b) AS dot,
        |  list_reduce(list_prepend(0.0, list_transform(e.embedding,
        |    x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))), (a, b) -> a + b) AS na,
        |  list_reduce(list_prepend(0.0, list_transform(q.qe,
        |    x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))), (a, b) -> a + b) AS nb
        |  FROM embeddings e, q WHERE e.vec_id <> 0)
        |SELECT vec_id, label, round(dot / (sqrt(na) * sqrt(nb)), 9) AS cos_sim
        |FROM z ORDER BY cos_sim DESC, vec_id LIMIT 10""".stripMargin,
    "q_cosine_topk_ivf" ->
      """WITH q AS (SELECT embedding AS qe, label AS ql FROM embeddings WHERE vec_id = 0),
        |z AS (SELECT e.vec_id,
        |  list_reduce(list_prepend(0.0, list_transform(list_zip(e.embedding, q.qe),
        |    p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE))), (a, b) -> a + b) AS dot,
        |  list_reduce(list_prepend(0.0, list_transform(e.embedding,
        |    x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))), (a, b) -> a + b) AS na,
        |  list_reduce(list_prepend(0.0, list_transform(q.qe,
        |    x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))), (a, b) -> a + b) AS nb
        |  FROM embeddings e, q WHERE e.vec_id <> 0 AND e.label = q.ql)
        |SELECT vec_id, round(dot / (sqrt(na) * sqrt(nb)), 9) AS cos_sim
        |FROM z ORDER BY cos_sim DESC, vec_id LIMIT 10""".stripMargin,
    // trained IVF quantizer: 2 unrolled Lloyd rounds + final assignment;
    // init = k lowest vec_ids, argmin ties break by cluster id
    "q_ivf_train" ->
      (ivfAssignCte + """
        |SELECT vec_id, cid AS cluster FROM af ORDER BY vec_id""".stripMargin),
    // prototypicality pruning (Sorscher et al. 2022): same trained
    // assignment chain; distance rounds to 9 BEFORE the within-cell rank
    // (grouped double sums are not combine-order-pinned across engines),
    // closest 25% of each cell flagged
    "q_proto_prune" ->
      (ivfAssignCte + """,
        |ad AS (SELECT a.vec_id, a.cid, round(d.d, 9) AS d
        |       FROM af a JOIN df d ON a.vec_id = d.vec_id AND a.cid = d.cid),
        |r AS (SELECT vec_id, cid, d,
        |        CAST(row_number() OVER (PARTITION BY cid ORDER BY d, vec_id) AS INTEGER) AS rk,
        |        count(*) OVER (PARTITION BY cid) AS cell_n
        |      FROM ad)
        |SELECT vec_id, cid, d, rk,
        |  CASE WHEN rk <= floor(CAST(cell_n AS DOUBLE) * CAST(0.25 AS DOUBLE))
        |       THEN 1 ELSE 0 END AS prune
        |FROM r ORDER BY vec_id""".stripMargin),
    // cluster-balanced sample: ≤ 64 per trained cell by deterministic
    // md5(vec_id) hash order — coverage-preserving, skew-indifferent
    "q_cluster_sample" ->
      (ivfAssignCte + """,
        |hh AS (SELECT vec_id, cid, md5(CAST(vec_id AS VARCHAR)) AS h FROM af),
        |r AS (SELECT vec_id, cid,
        |        CAST(row_number() OVER (PARTITION BY cid ORDER BY h, vec_id) AS INTEGER) AS rk
        |      FROM hh)
        |SELECT vec_id, cid, rk FROM r WHERE rk <= 64
        |ORDER BY vec_id""".stripMargin),
    // per-cluster label purity over the same trained assignment:
    // majority label (ties to the smaller label), purity = majority/total
    "q_cluster_purity" ->
      (ivfAssignCte + """,
        |m AS (SELECT a.cid, e.label FROM af a JOIN embeddings e USING (vec_id)),
        |cl AS (SELECT cid, label, count(*) AS n FROM m GROUP BY cid, label),
        |r AS (SELECT cid, label, n,
        |        row_number() OVER (PARTITION BY cid ORDER BY n DESC, label) AS rk,
        |        sum(n) OVER (PARTITION BY cid) AS cell_n
        |      FROM cl)
        |SELECT cid AS cluster, CAST(cell_n AS BIGINT) AS n_vecs,
        |  label AS top_label, round(CAST(n AS DOUBLE) / cell_n, 6) AS purity
        |FROM r WHERE rk = 1 ORDER BY cluster""".stripMargin),
    // kNN label-noise audit: in-cell cosine 5-NN majority vote (count
    // desc, label asc ties) vs the stored label
    "q_label_noise" ->
      (cellPairsCte + """,
        |r AS (SELECT q_id, ql, vid, nl,
        |        row_number() OVER (PARTITION BY q_id ORDER BY cos_sim DESC, vid) AS rnk
        |      FROM z),
        |v AS (SELECT q_id, ql, nl, count(*) AS votes
        |      FROM r WHERE rnk <= 5 GROUP BY q_id, ql, nl),
        |m AS (SELECT q_id, ql, nl,
        |        row_number() OVER (PARTITION BY q_id ORDER BY votes DESC, nl) AS vr
        |      FROM v)
        |SELECT q_id AS vec_id, ql AS label, nl AS knn_label,
        |  CAST(CASE WHEN nl <> ql THEN 1 ELSE 0 END AS INTEGER) AS suspect
        |FROM m WHERE vr = 1 ORDER BY vec_id""".stripMargin),
    // Artetxe-Schwenk ratio margin over in-cell A(label<5)/B(label>=5)
    // sides: top-1 cosine over the mean of both endpoints' 4-NN means;
    // accept compares the ROUNDED margin (no epsilon straddle)
    "q_margin_pairs" ->
      (cellPairsCte + """,
        |fwd AS (SELECT q_id, vid, cos_sim,
        |          row_number() OVER (PARTITION BY q_id ORDER BY cos_sim DESC, vid) AS rnk
        |        FROM z WHERE ql < 5 AND nl >= 5),
        |bwd AS (SELECT q_id, vid, cos_sim,
        |          row_number() OVER (PARTITION BY q_id ORDER BY cos_sim DESC, vid) AS rnk
        |        FROM z WHERE ql >= 5 AND nl < 5),
        |ma AS (SELECT q_id, avg(cos_sim) AS m_a FROM fwd WHERE rnk <= 4 GROUP BY q_id),
        |mb AS (SELECT q_id, avg(cos_sim) AS m_b FROM bwd WHERE rnk <= 4 GROUP BY q_id),
        |c AS (SELECT q_id AS id_a, vid AS id_b, cos_sim FROM fwd WHERE rnk = 1)
        |SELECT c.id_a, c.id_b, c.cos_sim,
        |  round(c.cos_sim / ((ma.m_a + mb.m_b) / 2), 6) AS margin,
        |  CAST(CASE WHEN round(c.cos_sim / ((ma.m_a + mb.m_b) / 2), 6) >= 1.05
        |       THEN 1 ELSE 0 END AS INTEGER) AS accept
        |FROM c JOIN ma ON c.id_a = ma.q_id JOIN mb ON c.id_b = mb.q_id
        |ORDER BY c.id_a""".stripMargin),
    // INT8 scalar-quantization audit: symmetric max-abs scale, left-fold
    // reconstruction MSE in array index order (bit-identical across
    // engines), per-label roll-up
    "q_int8_quant" ->
      """WITH p AS (SELECT vec_id, label,
        |    list_aggregate(list_transform(embedding,
        |      x -> abs(CAST(x AS DOUBLE))), 'max') AS amax
        |  FROM embeddings),
        |m AS (SELECT p.vec_id, p.label, p.amax,
        |    CASE WHEN p.amax = 0 THEN CAST(0 AS DOUBLE) ELSE
        |      list_reduce(list_prepend(0.0, list_transform(e.embedding,
        |        x -> (CAST(x AS DOUBLE)
        |              - floor(CAST(x AS DOUBLE) / (p.amax / CAST(127 AS DOUBLE)) + CAST(0.5 AS DOUBLE))
        |                * (p.amax / CAST(127 AS DOUBLE)))
        |           * (CAST(x AS DOUBLE)
        |              - floor(CAST(x AS DOUBLE) / (p.amax / CAST(127 AS DOUBLE)) + CAST(0.5 AS DOUBLE))
        |                * (p.amax / CAST(127 AS DOUBLE))))),
        |        (a, b) -> a + b) / CAST(64 AS DOUBLE) END AS mse
        |  FROM embeddings e JOIN p USING (vec_id))
        |SELECT label, count(*) AS n_vecs,
        |  round(avg(round(mse, 9)), 6) AS avg_mse,
        |  max(round(mse, 9)) AS max_mse,
        |  round(avg(round(amax, 9)), 6) AS avg_amax
        |FROM m GROUP BY label ORDER BY label""".stripMargin,
    // int8-store serving recall: full-precision truth top-10 vs top-10
    // over the int8-reconstructed corpus, per query; cosines round to 9
    // before ranking with a vec_id tie-break (both engines), the
    // reconstruction is the q_int8_quant expression verbatim
    "q_int8_recall" ->
      """WITH p AS (SELECT vec_id,
        |    list_aggregate(list_transform(embedding,
        |      x -> abs(CAST(x AS DOUBLE))), 'max') AS amax
        |  FROM embeddings),
        |rc AS (SELECT e.vec_id, e.embedding,
        |    list_transform(e.embedding,
        |      x -> floor(CAST(x AS DOUBLE) / (p.amax / CAST(127 AS DOUBLE)) + CAST(0.5 AS DOUBLE))
        |           * (p.amax / CAST(127 AS DOUBLE))) AS remb
        |  FROM embeddings e JOIN p USING (vec_id) WHERE p.amax > 0),
        |q AS (SELECT e.vec_id AS q_id, e.embedding AS qe
        |      FROM embeddings e JOIN p USING (vec_id)
        |      WHERE e.vec_id < 3 AND p.amax > 0),
        |qn AS (SELECT q_id, qe,
        |    sqrt(list_reduce(list_prepend(0.0, list_transform(qe,
        |      x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))), (a, b) -> a + b)) AS qnrm
        |  FROM q),
        |t AS (SELECT q.q_id, r.vec_id, round(
        |    list_reduce(list_prepend(0.0, list_transform(list_zip(q.qe, r.embedding),
        |      pr -> CAST(pr[1] AS DOUBLE) * CAST(pr[2] AS DOUBLE))), (a, b) -> a + b)
        |    / (q.qnrm *
        |       sqrt(list_reduce(list_prepend(0.0, list_transform(r.embedding,
        |         x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))), (a, b) -> a + b))), 9) AS c
        |  FROM rc r, qn q WHERE r.vec_id <> q.q_id),
        |tt AS (SELECT q_id, vec_id FROM
        |        (SELECT q_id, vec_id,
        |           row_number() OVER (PARTITION BY q_id ORDER BY c DESC, vec_id) AS rnk
        |         FROM t) WHERE rnk <= 10),
        |dn AS (SELECT q_id, count(*) AS denom FROM tt GROUP BY q_id),
        |s AS (SELECT q.q_id, r.vec_id, round(
        |    list_reduce(list_prepend(0.0, list_transform(list_zip(q.qe, r.remb),
        |      pr -> CAST(pr[1] AS DOUBLE) * pr[2])), (a, b) -> a + b)
        |    / (q.qnrm *
        |       sqrt(list_reduce(list_prepend(0.0, list_transform(r.remb,
        |         x -> x * x)), (a, b) -> a + b))), 9) AS c
        |  FROM rc r, qn q WHERE r.vec_id <> q.q_id),
        |ss AS (SELECT q_id, vec_id FROM
        |        (SELECT q_id, vec_id,
        |           row_number() OVER (PARTITION BY q_id ORDER BY c DESC, vec_id) AS rnk
        |         FROM s) WHERE rnk <= 10),
        |hits AS (SELECT q_id, count(*) AS h
        |         FROM tt JOIN ss USING (q_id, vec_id) GROUP BY q_id)
        |SELECT q.q_id, CAST(coalesce(hits.h, 0) AS DOUBLE)
        |  / CAST(greatest(coalesce(dn.denom, 0), 1) AS DOUBLE) AS recall
        |FROM q LEFT JOIN dn ON q.q_id = dn.q_id
        |       LEFT JOIN hits ON q.q_id = hits.q_id
        |ORDER BY q.q_id""".stripMargin,
    // SemDeDup: same trained assignment (shared CTE chain — a fix to the
    // quantizer cannot silently diverge from the dedup), then exact cosine
    // within each cluster only, min-id survivor at cos >= 0.3
    "q_semdedup" ->
      (ivfAssignCte + """,
        |m AS (SELECT e.vec_id, a.cid, e.embedding, e.label
        |      FROM embeddings e JOIN af a USING (vec_id)),
        |pr AS (SELECT x.vec_id AS id_a, y.vec_id AS id_b,
        |  round(
        |    list_reduce(list_prepend(0.0, list_transform(list_zip(x.embedding, y.embedding),
        |      p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE))), (a, b) -> a + b)
        |    / (sqrt(list_reduce(list_prepend(0.0, list_transform(x.embedding,
        |         v -> CAST(v AS DOUBLE) * CAST(v AS DOUBLE))), (a, b) -> a + b))
        |       * sqrt(list_reduce(list_prepend(0.0, list_transform(y.embedding,
        |         v -> CAST(v AS DOUBLE) * CAST(v AS DOUBLE))), (a, b) -> a + b))), 9) AS cos_sim
        |  FROM m x JOIN m y ON x.cid = y.cid AND x.vec_id < y.vec_id)
        |SELECT vec_id, cid AS cluster, label FROM m
        |WHERE vec_id NOT IN (SELECT id_b FROM pr WHERE cos_sim >= 0.3)
        |ORDER BY vec_id""".stripMargin),
    "q_knn_join" ->
      """WITH q AS (SELECT vec_id AS q_id, embedding AS qe, label AS ql
        |           FROM embeddings WHERE vec_id < 8),
        |z AS (SELECT q.q_id, e.vec_id,
        |  round(
        |    list_reduce(list_prepend(0.0, list_transform(list_zip(e.embedding, q.qe),
        |      p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE))), (a, b) -> a + b)
        |    / (sqrt(list_reduce(list_prepend(0.0, list_transform(e.embedding,
        |         x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))), (a, b) -> a + b))
        |       * sqrt(list_reduce(list_prepend(0.0, list_transform(q.qe,
        |         x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))), (a, b) -> a + b))), 9) AS cos_sim
        |  FROM embeddings e JOIN q ON e.label = q.ql AND e.vec_id <> q.q_id),
        |r AS (SELECT q_id, vec_id, cos_sim,
        |  CAST(row_number() OVER (PARTITION BY q_id ORDER BY cos_sim DESC, vec_id) AS INTEGER) AS rnk
        |  FROM z)
        |SELECT q_id, vec_id, cos_sim, rnk FROM r WHERE rnk <= 5
        |ORDER BY q_id, rnk""".stripMargin,
    // sign-LSH buckets: same deterministic md5 plane table as
    // Similarity.planeTable; only the SIGN of each projection feeds the
    // bucket, so double summation order cannot flip the result
    "q_ann_pairs" ->
      (annPairsCte + """
        |SELECT id_a, id_b, cos_sim FROM pairs WHERE cos_sim >= 0.3
        |ORDER BY id_a, id_b""".stripMargin),
    // keep-list dedup over the same ANN pair set (min-id survivor rule)
    "q_embedding_dedup" ->
      (annPairsCte + """
        |SELECT vec_id, label FROM embeddings
        |WHERE vec_id NOT IN (SELECT id_b FROM pairs WHERE cos_sim >= 0.3)
        |ORDER BY vec_id""".stripMargin),
    "q_binary_meta" ->
      """SELECT doc_id, CAST(octet_length(encode(text)) AS INTEGER) AS n_bytes,
        |  sha256(text) AS sha_hex
        |FROM documents ORDER BY doc_id""".stripMargin,
    // multimodal release composition: text keep-one ∧ media-canonical
    // (min doc_id per sha256 of the image-typed payload's 16-char
    // slice) -> per-lang accounting. The whole composition replays in
    // SQL; pixel-clustered media input is spec territory.
    "q_multimodal_release" -> multimodalReleaseOracle,
    // multimodal takedown: the release with the dead slice excluded
    // from the survivors — ledger-level removal (dropped duplicates do
    // not resurrect), fingerprints retained so content cannot re-enter
    "q_multimodal_release_takedown" ->
      multimodalReleaseOracleWhere("d.doc_id % 13 <> 4"),
    // media manifest time-traveled: survivors restricted to the first
    // two ntile slices — exact for both keep policies (ascending
    // slices put every keeper in the earliest slice with its
    // fingerprint)
    "q_multimodal_release_asof" -> multimodalReleaseOracleWhere(
      "d.doc_id IN (SELECT doc_id FROM (SELECT doc_id, " +
        "ntile(3) OVER (ORDER BY doc_id) AS s FROM documents) " +
        "WHERE s <= 2)"),
    // incremental multimodal release: the Spark side ingests three
    // ascending-doc_id microbatches through TWO hash ledgers (text
    // hash + media fingerprint, first writer wins) and serves the
    // accounting from the survivor ledger; the oracle is the wholesale
    // composition VERBATIM — microbatch boundaries hash-pinned
    // invisible for both keep policies at once
    "q_multimodal_release_inc" -> multimodalReleaseOracle,
    // the multimodal MAINTENANCE loop's own fold arm fires mid-ingest
    // (text-hash + media-fingerprint + ledger batches {0,1} → 1,
    // REQUIREd in-gate), later batches resolve both novelty policies
    // over the folded sets — the fold is a set-semantics merge, so the
    // oracle is the wholesale multimodal release SQL VERBATIM
    "q_multimodal_release_folded" -> multimodalReleaseOracle,
    "q_string_funcs" ->
      """SELECT p_partkey, upper(p_name) AS upper_name, lower(p_brand) AS lower_brand,
        |  regexp_replace(p_type, ' ', '_', 'g') AS type_snake,
        |  lpad(CAST(p_size AS VARCHAR), 5, '0') AS size_padded,
        |  substr(p_name, 1, 8) AS name_prefix,
        |  CAST(length(p_name) AS INTEGER) AS name_len,
        |  concat_ws('|', p_brand, p_type) AS brand_type
        |FROM part ORDER BY p_partkey""".stripMargin,
    "q_date_funcs" ->
      """SELECT o_orderkey,
        |  CAST(year(o_orderdate) AS INTEGER) AS y,
        |  CAST(month(o_orderdate) AS INTEGER) AS m,
        |  CAST(day(o_orderdate) AS INTEGER) AS d,
        |  CAST(dayofweek(o_orderdate) + 1 AS INTEGER) AS dow,
        |  CAST(quarter(o_orderdate) AS INTEGER) AS q
        |FROM orders ORDER BY o_orderkey""".stripMargin,
    "q_regex_funcs" ->
      """SELECT doc_id,
        |  COALESCE(regexp_extract(text, '(sc[a-z]+)', 1), '') AS first_sc_word,
        |  CAST(len(regexp_extract_all(text, 'an')) AS INTEGER) AS n_an,
        |  regexp_replace(text, '[aeiou]', '', 'g') AS devoweled
        |FROM documents ORDER BY doc_id""".stripMargin,
    "q_conditional_agg" ->
      s"""SELECT c_mktsegment, COUNT(*) AS n,
         |  COUNT(*) FILTER (WHERE c_acctbal > 5000) AS n_rich,
         |  COUNT(*) FILTER (WHERE c_acctbal < 0) AS n_negative,
         |  ${dsum("c_acctbal")} AS total_bal
         |FROM customer GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin,
    "q_pivot" ->
      """SELECT user_id,
        |  COUNT(*) FILTER (WHERE event_type = 'click') AS click,
        |  COUNT(*) FILTER (WHERE event_type = 'error') AS error,
        |  COUNT(*) FILTER (WHERE event_type = 'purchase') AS purchase,
        |  COUNT(*) FILTER (WHERE event_type = 'signup') AS signup,
        |  COUNT(*) FILTER (WHERE event_type = 'view') AS view
        |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin,
    "q_rank_variants" ->
      """SELECT o_custkey, o_orderkey, o_totalprice,
        |  CAST(dr AS INTEGER) AS dr, CAST(quartile AS INTEGER) AS quartile
        |FROM (SELECT o_custkey, o_orderkey, o_totalprice,
        |        dense_rank() OVER w AS dr, ntile(4) OVER w AS quartile
        |      FROM orders
        |      WINDOW w AS (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey))
        |WHERE dr <= 5 ORDER BY o_custkey, dr, o_orderkey""".stripMargin,
    "q_simhash" ->
      """WITH tk AS (SELECT doc_id, list_distinct(regexp_split_to_array(trim(text), '\s+')) AS toks FROM documents),
        |tok AS (SELECT doc_id, unnest(toks) AS w FROM tk),
        |h AS (SELECT doc_id, CAST(('0x' || substr(md5(w), 1, 4)) AS BIGINT) AS hv FROM tok),
        |votes AS (SELECT doc_id, b,
        |    SUM(CASE WHEN (hv >> CAST(b AS INTEGER)) & 1 = 1 THEN 1 ELSE -1 END) AS v
        |  FROM h CROSS JOIN range(0, 16) t(b) GROUP BY doc_id, b)
        |SELECT doc_id, CAST(SUM(CASE WHEN v > 0 THEN (1 << CAST(b AS INTEGER)) ELSE 0 END) AS BIGINT) AS simhash
        |FROM votes GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    "q_asof_join" ->
      """WITH o AS (
        |  SELECT user_id, o_ms, o_orderkey, o_totalprice FROM (
        |    SELECT o_custkey AS user_id, epoch_ms(o_orderdate) AS o_ms,
        |           o_orderkey, o_totalprice,
        |           row_number() OVER (PARTITION BY o_custkey, epoch_ms(o_orderdate)
        |                              ORDER BY o_orderkey DESC) AS rn
        |    FROM orders) WHERE rn = 1),
        |e AS (SELECT event_id, user_id, epoch_ns(ts) // 1000000 AS ts_ms FROM events)
        |SELECT e.event_id, e.user_id, o.o_orderkey, o.o_totalprice
        |FROM e ASOF LEFT JOIN o ON e.user_id = o.user_id AND o.o_ms <= e.ts_ms
        |ORDER BY e.event_id""".stripMargin,
    // Full 4-job chain reconstructed in SQL: the synthetic audit stream
    // (Pipeline.syntheticAuditEvents) is deterministic arithmetic over the
    // events table, so the FINAL document state is too — last DIRECT
    // version per user for the name (the P5 gate drops 'error' audits,
    // rn=1 creates stay direct), the fixed 3-tier parent arithmetic for
    // edges, and a recursive ancestor walk for breadcrumbs whose names are
    // the ancestors' final names (G17 rename cascade).
    "q_pipeline_e2e" ->
      """WITH RECURSIVE ev AS (
        |  SELECT user_id,
        |         row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn,
        |         event_type
        |  FROM events),
        |fin AS (
        |  SELECT user_id,
        |         max(CASE WHEN rn = 1 OR event_type <> 'error' THEN rn END) AS last_rn
        |  FROM ev GROUP BY user_id),
        |docs AS (
        |  SELECT user_id,
        |         'u' || CAST(user_id AS VARCHAR) AS guid,
        |         'user/' || CAST(user_id AS VARCHAR) AS qn,
        |         'User ' || CAST(user_id AS VARCHAR) || ' v' || CAST(last_rn AS VARCHAR) AS name,
        |         CASE WHEN user_id < 3 THEN NULL
        |              WHEN user_id < 12 THEN user_id % 3
        |              ELSE user_id % 9 + 3 END AS parent_id
        |  FROM fin),
        |anc AS (
        |  SELECT d.user_id, d.parent_id AS anc_id, 1 AS dist
        |  FROM docs d WHERE d.parent_id IS NOT NULL
        |  UNION ALL
        |  SELECT a.user_id, d.parent_id, a.dist + 1
        |  FROM anc a JOIN docs d ON a.anc_id = d.user_id
        |  WHERE d.parent_id IS NOT NULL),
        |bc AS (
        |  SELECT a.user_id,
        |         string_agg('u' || CAST(a.anc_id AS VARCHAR), '|' ORDER BY a.dist DESC) AS bguid,
        |         string_agg(p.name, '|' ORDER BY a.dist DESC) AS bname,
        |         string_agg('m4i_dataset', '|' ORDER BY a.dist DESC) AS btype
        |  FROM anc a JOIN docs p ON a.anc_id = p.user_id
        |  GROUP BY a.user_id)
        |SELECT
        |  d.guid AS id, d.guid AS guid, d.qn AS "qualifiedName",
        |  'm4i_dataset' AS "typeName", 'Technical' AS "sourceType",
        |  'm4i_dataset' AS "m4iSourceTypes",
        |  'Referenceable|m4i_referenceable|m4i_dataset' AS "superTypeNames",
        |  d.name AS name, CAST(NULL AS VARCHAR) AS definition,
        |  CAST(NULL AS VARCHAR) AS email,
        |  CASE WHEN d.parent_id IS NULL THEN NULL
        |       ELSE 'u' || CAST(d.parent_id AS VARCHAR) END AS "parentGuid",
        |  COALESCE(b.bguid, '') AS "breadcrumbGuid",
        |  COALESCE(b.bname, '') AS "breadcrumbName",
        |  COALESCE(b.btype, '') AS "breadcrumbType",
        |  '' AS "derivedNames", '' AS "derivedGuids",
        |  'dq_score_accuracy=0.0|dq_score_completeness=0.0|dq_score_timeliness=0.0|dq_score_uniqueness=0.0' AS "dqScores"
        |FROM docs d LEFT JOIN bc b ON d.user_id = b.user_id
        |ORDER BY guid""".stripMargin,
  )
}
