package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.ops._

/** Driver contract — see SURVEY.md §7 + the builder prompt.
  *
  * Conventions shared by every (queries, oracleSql) pair:
  *  - identical column aliases on both sides (driver sorts columns by name
  *    before hashing);
  *  - fully deterministic output: total ORDER BY with unique tie-breakers
  *    before any LIMIT;
  *  - double aggregates go through exact DECIMAL(18,2) per-row casts, are cast
  *    back to double *before* any division, and rounded last — making Spark's
  *    parallel sums bit-identical to DuckDB's sequential ones;
  *  - integer-ish outputs are LongType (DuckDB aggregates/rank functions yield
  *    BIGINT; HUGEINT sums are cast down in the SQL).
  */
object SparkEntry {

  /** Flagship on /root/testdata/sf0.001 (driver smoke-checks rows>0): the
    * full reference pipeline T1→T5 as one lazy plan — discover → latest-K →
    * CSV → dedup ×2 → classify-enrich ×2 (distinct → batched rule classifier
    * → broadcast map-back) → metadata columns.
    */
  def entry(spark: SparkSession): DataFrame =
    graft.pipeline.Pipeline.pipelineQuery(spark, "/root/testdata/sf0.001")

  type Builder = (SparkSession, String) => DataFrame

  /** One registry row: the query's name, its Spark builder and its
    * DuckDB-runnable oracle SQL (its reference twin). The oracle is held by
    * name, so reading the table or [[queries]] evaluates no oracle text and
    * initializes no ops object.
    */
  final class Query(val name: String, val build: Builder, oracleText: => String) {
    def oracle: String = oracleText
  }

  private def q(name: String, build: Builder, oracle: => String): Query =
    new Query(name, build, oracle)

  /** The registry: one row per implemented operator from SURVEY.md §2, each
    * oracle a named string in the module that owns the builder. */
  val registry: Seq[Query] = Seq(
    // -- aggregations (A1-A8) -------------------------------------------------
    q("q01_pricing_summary",   (s, d) => CoreOps.pricingSummary(s, d), CoreOps.pricingSummaryOracle),
    q("q02_priority_agg",      (s, d) => CoreOps.priorityAgg(s, d), CoreOps.priorityAggOracle),
    q("q03_revenue_by_nation", (s, d) => CoreOps.revenueByNation(s, d), CoreOps.revenueByNationOracle),
    q("q04_market_share",      (s, d) => CoreOps.marketShare(s, d), CoreOps.marketShareOracle),
    q("q05_topk_brand_pct",    (s, d) => CoreOps.topkBrandPercent(s, d), CoreOps.topkBrandPercentOracle),
    q("q06_conditional_rate",  (s, d) => CoreOps.conditionalRate(s, d), CoreOps.conditionalRateOracle),
    q("q07_failing_examples",  (s, d) => CoreOps.failingExamples(s, d), CoreOps.failingExamplesOracle),
    q("q08_rollup_counts",     (s, d) => CoreOps.rollupCounts(s, d), CoreOps.rollupCountsOracle),
    // -- set ops / dedup / distinct (U1, D1-D5) -------------------------------
    q("q09_union_dedup",       (s, d) => CoreOps.unionDedup(s, d), CoreOps.unionDedupOracle),
    q("q10_dedup_by_key",      (s, d) => CoreOps.dedupByKeyDeterministic(s, d),
      CoreOps.dedupByKeyDeterministicOracle),
    q("q11_distinct_keys",     (s, d) => CoreOps.distinctKeys(s, d), CoreOps.distinctKeysOracle),
    // -- joins (J1-J3 + star joins) -------------------------------------------
    q("q12_semi_join",         (s, d) => CoreOps.semiJoinOrders(s, d), CoreOps.semiJoinOrdersOracle),
    q("q13_anti_join",         (s, d) => CoreOps.antiJoinCustomers(s, d), CoreOps.antiJoinCustomersOracle),
    // -- windows / sorts / top-k (O1-O4) --------------------------------------
    q("q14_top_per_priority",  (s, d) => CoreOps.topOrdersPerPriority(s, d), CoreOps.topOrdersPerPriorityOracle),
    // -- events: JSON + time windows (F5, streaming twin) ---------------------
    q("q15_events_json",       (s, d) => EventOps.jsonPropsAgg(s, d), EventOps.jsonPropsAggOracle),
    q("q16_hourly_by_type",    (s, d) => EventOps.hourlyByType(s, d), EventOps.hourlyByTypeOracle),
    q("q17_user_activity",     (s, d) => EventOps.userActivity(s, d), EventOps.userActivityOracle),
    q("q18_session_counts",    (s, d) => EventOps.sessionCounts(s, d), EventOps.sessionCountsOracle),
    // -- enrichment engine (§2.8: batched classify + retry + guard + map-back)
    q("q19_enrich_part_names", (s, d) => EnrichOps.enrichPartNames(s, d), EnrichOps.enrichPartNamesOracle),
    q("q20_enrich_part_types", (s, d) => EnrichOps.enrichPartTypes(s, d), EnrichOps.enrichPartTypesOracle),
    q("q21_enrich_stats",      (s, d) => EnrichOps.enrichmentStats(s, d), EnrichOps.enrichmentStatsOracle),
    // -- end-to-end pipeline (S2-S5: discover → latest-K → CSV → dedup →
    //    enrich ×2 → meta) --------------------------------------------------
    q("q22_pipeline_e2e",      (s, d) => graft.pipeline.Pipeline.pipelineQuery(s, d),
      graft.pipeline.Pipeline.pipelineOracleSql),
    // -- text analysis (north star) -------------------------------------------
    q("q30_token_stats",       (s, d) => TextOps.tokenStats(s, d), TextOps.tokenStatsOracle),
    q("q31_lang_id",           (s, d) => TextOps.langId(s, d), TextOps.langIdOracle),
    q("q32_quality_score",     (s, d) => TextOps.qualityScore(s, d), TextOps.qualityScoreOracle),
    q("q33_fingerprint",       (s, d) => TextOps.fingerprint(s, d), TextOps.fingerprintOracle),
    q("q34_word_freq",         (s, d) => TextOps.wordFreq(s, d), TextOps.wordFreqOracle),
    // -- dedup family (north star) --------------------------------------------
    q("q35_dedup_exact",       (s, d) => DedupOps.dedupExact(s, d), DedupOps.dedupExactOracle),
    q("q36_dedup_wordset",     (s, d) => DedupOps.dedupWordSet(s, d), DedupOps.dedupWordSetOracle),
    q("q37_minhash_sigs",      (s, d) => DedupOps.minhashSignatures(s, d), DedupOps.minhashSignaturesOracle),
    q("q38_neardup_jaccard",   (s, d) => DedupOps.nearDupJaccard(s, d), DedupOps.nearDupJaccardOracle),
    q("q39_lsh_neardup",       (s, d) => DedupOps.lshNearDupPairs(s, d), DedupOps.lshPairsOracleSql),
    q("q40_simhash",           (s, d) => DedupOps.simhash(s, d), DedupOps.simhashOracle),  // rows-check
    // -- similarity search (north star) ---------------------------------------
    q("q41_knn_cosine",        (s, d) => SimilarityOps.knnBruteForce(s, d), SimilarityOps.knnBruteForceOracle),
    q("q42_embed_neardup",     (s, d) => SimilarityOps.embeddingNearDup(s, d), SimilarityOps.embeddingNearDupOracle),
    q("q43_centroids",         (s, d) => SimilarityOps.centroids(s, d), SimilarityOps.centroidsOracle),
    q("q45_ann_buckets",       (s, d) => SimilarityOps.annBuckets(s, d), SimilarityOps.annBucketsOracle),
    // -- multimodal columns (north star) --------------------------------------
    q("q44_media_features",    (s, d) => MultimodalOps.mediaFeatures(s, d), MultimodalOps.mediaFeaturesOracle),
    // -- safe JSON parse chain (F4-F6) ----------------------------------------
    q("q46_safe_json_chain",   (s, d) => EventOps.safeJsonChain(s, d), EventOps.safeJsonChainOracle),
    // -- custom aggregate + skew technique ------------------------------------
    q("q47_topk_per_label",    (s, d) => SimilarityOps.topkPerLabel(s, d), SimilarityOps.topkPerLabelOracle),
    q("q48_salted_agg",        (s, d) => CoreOps.saltedAgg(s, d), CoreOps.saltedAggOracle),
    // -- breadth: percentiles, calendar, set ops, fuzzy matching --------------
    q("q52_quantiles",         (s, d) => CoreOps.quantiles(s, d), CoreOps.quantilesOracle),
    q("q53_fuzzy_pairs",       (s, d) => DedupOps.fuzzyKeyPairs(s, d), DedupOps.fuzzyKeyPairsOracle),
    q("q54_monthly_orders",    (s, d) => CoreOps.monthlyOrders(s, d), CoreOps.monthlyOrdersOracle),
    q("q55_customer_set_ops",  (s, d) => CoreOps.customerSetOps(s, d), CoreOps.customerSetOpsOracle),
    q("q56_ivf_assign",        (s, d) => SimilarityOps.ivfAssign(s, d), SimilarityOps.ivfAssignOracle),
    q("q57_subword_tokens",    (s, d) => TextOps.subwordTokens(s, d), TextOps.subwordTokensOracle),
    q("q58_stats_agg",         (s, d) => CoreOps.statsAgg(s, d), CoreOps.statsAggOracle),
    q("q59_simhash_neardup",   (s, d) => DedupOps.simhashNearDup(s, d), DedupOps.simhashNearDupOracle),  // rows-check (bit sketch)
    q("q60_json_roundtrip",    (s, d) => EventOps.jsonRoundTrip(s, d), EventOps.jsonRoundTripOracle),
    // -- custom whole-operator path: LogicalPlan + Strategy + SparkPlan ------
    q("q61_asof_join",         (s, d) => EventOps.asofAttribution(s, d), EventOps.asofAttributionOracle),
    // -- breadth: pivot, running windows, interval range join -----------------
    q("q62_pivot_counts",      (s, d) => CoreOps.pivotCounts(s, d), CoreOps.pivotCountsOracle),
    q("q63_running_window",    (s, d) => CoreOps.runningCustomerSpend(s, d), CoreOps.runningCustomerSpendOracle),
    q("q64_range_join_months", (s, d) => CoreOps.rangeJoinMonthly(s, d), CoreOps.rangeJoinMonthlyOracle),
    // -- custom Generator (UDTF), cube, ORC source, outer as-of ---------------
    q("q65_bigram_freq",       (s, d) => TextOps.bigramFreq(s, d), TextOps.bigramFreqOracle),
    q("q66_cube_counts",       (s, d) => CoreOps.cubeCounts(s, d), CoreOps.cubeCountsOracle),
    q("q67_orc_roundtrip",     (s, d) => EventOps.orcRoundTrip(s, d), EventOps.orcRoundTripOracle),
    q("q68_asof_outer",        (s, d) => EventOps.asofAttributionOuter(s, d), EventOps.asofAttributionOuterOracle),
    // -- multimodal frame sampling + partition-pruned layout ------------------
    q("q69_frame_sample",      (s, d) => MultimodalOps.frameSample(s, d), MultimodalOps.frameSampleOracle),
    q("q70_partitioned_scan",  (s, d) => EventOps.partitionedScan(s, d), EventOps.partitionedScanOracle),
    // -- n-gram (shingle) Jaccard: order-sensitive dedup, general PPJoin path -
    q("q71_ngram_jaccard",     (s, d) => DedupOps.ngramJaccard(s, d), DedupOps.ngramJaccardOracle),
    // -- structured streaming (G3): windowed agg + custom state ---------------
    // streaming and batch hourly aggregates must agree exactly
    q("q50_streaming_hourly",  (s, d) => graft.streaming.EventsStream.hourlyByTypeStreaming(s, d),
      EventOps.hourlyByTypeOracle),
    // stateful streaming must agree with the batch sessionization oracle
    q("q51_streaming_sessions", (s, d) => graft.streaming.SessionStream.sessionsStreaming(s, d),
      EventOps.sessionCountsOracle),
    // out-of-order ingestion must still converge to the batch sessionization
    q("q72_streaming_late",    (s, d) => graft.streaming.LateSessionStream.sessionsLateStreaming(s, d),
      EventOps.sessionCountsOracle),
    q("q73_rank_functions",    (s, d) => CoreOps.rankFunctions(s, d), CoreOps.rankFunctionsOracle),
    q("q74_full_outer",        (s, d) => CoreOps.fullOuterCustomerOrders(s, d),
      CoreOps.fullOuterCustomerOrdersOracle),
    q("q75_multiset_ops",      (s, d) => CoreOps.multisetOps(s, d), CoreOps.multisetOpsOracle),
    // -- IVF-probed approximate kNN: the sub-linear ANN search path -----------
    q("q76_ivf_knn",           (s, d) => SimilarityOps.ivfKnn(s, d), SimilarityOps.ivfKnnOracle),
    // -- sliding + session windows (time-window operator family) --------------
    q("q77_sliding_hourly",    (s, d) => EventOps.slidingHourly(s, d), EventOps.slidingHourlyOracle),
    q("q78_session_windows",   (s, d) => EventOps.sessionWindows(s, d), EventOps.sessionWindowsOracle),
    // -- grouping sets + correlated subqueries (SQL surface) ------------------
    q("q79_grouping_sets",     (s, d) => CoreOps.groupingSetsCounts(s, d), CoreOps.groupingSetsCountsOracle),
    q("q81_correlated_subq",   (s, d) => CoreOps.correlatedSubqueries(s, d), CoreOps.correlatedSubqueriesOracle),
    // -- event-time-timeout sessionization (state finalization + cleanup) -----
    q("q80_streaming_timeout", (s, d) => graft.streaming.TimeoutSessionStream.sessionsTimeoutStreaming(s, d),
      EventOps.sessionCountsOracle),
    // -- as-of join pushdown showcase (custom-node optimizer rule) ------------
    q("q82_asof_filtered",     (s, d) => EventOps.asofAttributionFiltered(s, d),
      EventOps.asofAttributionFilteredOracle),
    // -- training-data prep: deterministic split, TF-IDF ----------------------
    q("q83_train_test_split",  (s, d) => SamplingOps.trainTestSplit(s, d), SamplingOps.trainTestSplitOracle),
    q("q84_tfidf_topterm",     (s, d) => SamplingOps.tfidfTopTerms(s, d), SamplingOps.tfidfTopTermsOracle),
    // -- reshape + time-range window frames -----------------------------------
    q("q85_unpivot_measures",  (s, d) => CoreOps.unpivotMeasures(s, d), CoreOps.unpivotMeasuresOracle),
    q("q86_rolling_spend",     (s, d) => CoreOps.rollingSpend(s, d), CoreOps.rollingSpendOracle),
    // -- stream-stream join + streaming dedup (stateful streaming family) -----
    q("q87_stream_join",       (s, d) => graft.streaming.StreamJoinOps.clickAttributionStreaming(s, d),
      graft.streaming.StreamJoinOps.clickAttributionStreamingOracle),
    q("q88_stream_dedup",      (s, d) => graft.streaming.StreamJoinOps.dedupStreaming(s, d),
      graft.streaming.StreamJoinOps.dedupStreamingOracle),
    // -- runtime bloom-filter join (scan-side semi-join reduction) ------------
    q("q89_runtime_filter",    (s, d) => CoreOps.runtimeFilterJoin(s, d), CoreOps.runtimeFilterJoinOracle),
    // -- higher-order array functions + vector quantization -------------------
    q("q90_vector_hof",        (s, d) => SimilarityOps.vectorProfile(s, d), SimilarityOps.vectorProfileOracle),
    q("q95_scalar_quantize",   (s, d) => SimilarityOps.scalarQuantize(s, d), SimilarityOps.scalarQuantizeOracle),
    // -- positional tokenization, CSV sink round trip, MapType surface --------
    q("q91_pos_tokens",        (s, d) => TextOps.posTokens(s, d), TextOps.posTokensOracle),
    q("q92_csv_roundtrip",     (s, d) => EventOps.csvRoundTrip(s, d), EventOps.orcRoundTripOracle),
    q("q94_type_map_agg",      (s, d) => EventOps.typeMapAgg(s, d), EventOps.typeMapAggOracle),
    // -- approximate distinct (HLL sketch; rows-check, error bounded in spec) -
    q("q93_approx_distinct",   (s, d) => CoreOps.approxDistinct(s, d), CoreOps.approxDistinctOracle),
    // -- CDC upsert (MERGE shape), stream-static join, approx quantiles ------
    q("q96_upsert_merge",      (s, d) => CoreOps.upsertOrders(s, d), CoreOps.upsertOrdersOracle),
    q("q97_stream_static",     (s, d) => graft.streaming.StreamJoinOps.streamStaticEnrich(s, d),
      graft.streaming.StreamJoinOps.streamStaticEnrichOracle),
    q("q98_approx_quantiles",  (s, d) => CoreOps.approxQuantiles(s, d), CoreOps.approxQuantilesOracle),
    // -- funnel / sequence analytics ------------------------------------------
    q("q99_funnel_stages",     (s, d) => EventOps.funnelStages(s, d), EventOps.funnelStagesOracle),
    // -- streaming parquet sink (foreachBatch write path) ---------------------
    // streaming sink contents must equal the source table
    q("q100_stream_sink",      (s, d) => graft.streaming.StreamJoinOps.streamParquetSink(s, d),
      EventOps.orcRoundTripOracle),
    // -- dedup-cluster resolution (connected components over near-dup pairs) --
    q("q101_dedup_clusters",   (s, d) => DedupOps.dedupClusters(s, d), DedupOps.dedupClustersOracle),
    // -- sequence packing via distributed two-pass prefix sum -----------------
    q("q102_pack_sequences",   (s, d) => TextOps.packSequences(s, d), TextOps.packSequencesOracle),
    // -- source-mixture sampling (deterministic per-source rates) -------------
    q("q103_mixture_sample",   (s, d) => SamplingOps.mixtureSample(s, d), SamplingOps.mixtureSampleOracle),
    // -- Z-order (Morton) multi-dim layout statistics -------------------------
    q("q104_zorder_stats",     (s, d) => EventOps.zorderStats(s, d), EventOps.zorderStatsOracle),
    // -- DataSource V2 custom source with filter/column/limit pushdown --------
    // DuckDB regenerates the custom source's deterministic rows from range()
    q("q105_custom_source",    (s, d) => graft.sources.GraftRangeQueries.bucketAgg(s, d),
      graft.sources.GraftRangeQueries.bucketAggOracle),
    // -- DSv2 COMPLETE aggregate pushdown (planning-time closed form) ---------
    q("q106_pushed_agg",       (s, d) => graft.sources.GraftRangeQueries.pushedAgg(s, d),
      graft.sources.GraftRangeQueries.pushedAggOracle),
    // -- product quantization (PQ codes + reconstruction error) ---------------
    q("q107_pq_codes",         (s, d) => SimilarityOps.pqCodes(s, d), SimilarityOps.pqCodesOracle),
    // -- PQ asymmetric-distance (ADC) approximate kNN -------------------------
    q("q108_pq_adc_knn",       (s, d) => SimilarityOps.pqAdcKnn(s, d), SimilarityOps.pqAdcKnnOracle),
    // -- spark.sql surface: temp views + registered kernels in SQL text -------
    q("q109_sql_surface",      (s, d) => SimilarityOps.sqlSurfaceTopNorms(s, d),
      SimilarityOps.sqlSurfaceTopNormsOracle),
    // -- DSv2 custom SINK: two-phase commit protocol round trip ---------------
    q("q110_custom_sink",      (s, d) => graft.sources.GraftSinkQueries.sinkRoundTrip(s, d),
      graft.sources.GraftSinkQueries.sinkRoundTripOracle),
    // -- bounded-state streaming dedup (dropDuplicatesWithinWatermark) --------
    q("q111_stream_dedup_wm",  (s, d) => graft.streaming.StreamJoinOps.dedupWithinWatermarkStreaming(s, d),
      graft.streaming.StreamJoinOps.dedupStreamingOracle),
    // -- DSv2 custom STREAMING source with admission control ------------------
    q("q112_stream_source",    (s, d) => graft.sources.GraftStreamQueries.streamSourceAgg(s, d),
      graft.sources.GraftStreamQueries.streamSourceAggOracle),
    // -- SCD2 history derivation + sweep-line interval concurrency ------------
    q("q113_scd2_history",     (s, d) => CoreOps.scd2History(s, d), CoreOps.scd2HistoryOracle),
    q("q114_transit_sweep",    (s, d) => CoreOps.transitSweep(s, d), CoreOps.transitSweepOracle),
    // -- intra-doc repetition quality + PII redaction (training-data prep) ----
    q("q115_repetition_ngrams", (s, d) => TextOps.repetitionRatio(s, d), TextOps.repetitionRatioOracle),
    q("q116_redact_pii",       (s, d) => TextOps.redactPii(s, d), TextOps.redactPiiOracle),
    // -- column profiler, HAVING join-back (TPC-H Q18 shape), argmax aggs -----
    q("q117_column_profile",   (s, d) => CoreOps.columnProfile(s, d), CoreOps.columnProfileOracle),
    q("q118_big_spenders",     (s, d) => CoreOps.bigSpenderOrders(s, d), CoreOps.bigSpenderOrdersOracle),
    q("q119_argmax_groups",    (s, d) => CoreOps.argmaxPerGroup(s, d), CoreOps.argmaxPerGroupOracle),
    // -- time-series repair + product analytics -------------------------------
    q("q120_forward_fill",     (s, d) => EventOps.forwardFill(s, d), EventOps.forwardFillOracle),
    q("q121_gapfill_daily",    (s, d) => EventOps.gapfillDaily(s, d), EventOps.gapfillDailyOracle),
    q("q122_cohort_retention", (s, d) => EventOps.cohortRetention(s, d), EventOps.cohortRetentionOracle),
    // -- incremental rollup maintenance + sketch-merge rollup -----------------
    q("q123_agg_merge",        (s, d) => EventOps.aggMergeRollup(s, d), EventOps.aggMergeRollupOracle),
    q("q124_hll_rollup",       (s, d) => EventOps.hllRollup(s, d), EventOps.hllRollupOracle),  // rows-check (sketch estimate)
    // -- multimodal: overlapping-window audio chunking ------------------------
    q("q125_audio_chunks",     (s, d) => MultimodalOps.audioChunks(s, d), MultimodalOps.audioChunksOracle),
    // -- LATERAL correlated top-k (decorrelated to WindowGroupLimit) ----------
    q("q126_lateral_topk",     (s, d) => CoreOps.lateralTopOrders(s, d), CoreOps.lateralTopOrdersOracle),
    // -- VariantType: parse-once semi-structured ingestion --------------------
    q("q127_variant_props",    (s, d) => EventOps.variantProps(s, d), EventOps.variantPropsOracle),
    // -- secondary sort: ordered per-key scan via sortWithinPartitions --------
    q("q128_user_gaps",        (s, d) => EventOps.userGapStats(s, d), EventOps.userGapStatsOracle),
    // -- NOT IN null-aware anti join vs NOT EXISTS ----------------------------
    q("q129_not_in_nullaware", (s, d) => CoreOps.notInNullAware(s, d), CoreOps.notInNullAwareOracle),
    // -- dynamic partition overwrite (day-level backfill) ---------------------
    q("q130_partition_overwrite", (s, d) => EventOps.partitionOverwrite(s, d), EventOps.partitionOverwriteOracle),
    // -- append-mode watermarked windows (finalized-window emission) ----------
    q("q131_streaming_append", (s, d) => graft.streaming.EventsStream.hourlyAppendStreaming(s, d),
      graft.streaming.EventsStream.hourlyAppendOracle),
    // -- PERMISSIVE malformed-CSV ingestion with quarantine -------------------
    q("q132_permissive_csv",   (s, d) => EventOps.permissiveCsv(s, d), EventOps.permissiveCsvOracle),
    // -- sliding-window HLL sketch reuse (rows-check; error spec-bounded) -----
    q("q133_hll_sliding",      (s, d) => EventOps.hllSliding(s, d), EventOps.hllSlidingOracle),
    // -- null-preserving generation (explode_outer vs row-dropping explode) ---
    q("q134_explode_outer",    (s, d) => TextOps.explodeOuterTokens(s, d), TextOps.explodeOuterTokensOracle),
    // -- ANN-gated embedding near-dup (band-OR hyperplane LSH + exact verify) -
    q("q135_ann_neardup",      (s, d) => SimilarityOps.annNearDup(s, d), SimilarityOps.annNearDupOracle),
    // -- mergeable histogram quantile sketch: merge(partials) ≡ full scan ----
    q("q136_quantile_sketch",  (s, d) => EventOps.histQuantileMerge(s, d), EventOps.histQuantileMergeOracle),
    // -- grouped t-digest quantiles (rows-check; rank error spec-bounded) ----
    q("q137_tdigest",          (s, d) => CoreOps.tdigestQuantiles(s, d), CoreOps.tdigestQuantilesOracle),
    // -- exact mergeable distinct: bitmap rollup, merged == direct ----------
    q("q138_bitmap_rollup",    (s, d) => EventOps.bitmapRollup(s, d), EventOps.bitmapRollupOracle),
    // -- train/test trigram contamination audit -----------------------------
    q("q139_contamination",    (s, d) => TextOps.contamination(s, d), TextOps.contaminationOracle),
    // -- deterministic portable shard + shuffle for training export ---------
    q("q140_shard_shuffle",    (s, d) => SamplingOps.shardShuffle(s, d), SamplingOps.shardShuffleOracle),
    // -- uniform per-group sample as a bounded mergeable aggregate ----------
    q("q141_group_sample",     (s, d) => SamplingOps.uniformGroupSample(s, d), SamplingOps.uniformGroupSampleOracle),
    // -- incremental delta-vs-corpus near-dup (index join, not corpus²) -----
    q("q142_delta_neardup",    (s, d) => DedupOps.deltaNearDup(s, d), DedupOps.deltaNearDupOracle),
    // -- corpus-level boilerplate gram mass ---------------------------------
    q("q143_boilerplate",      (s, d) => TextOps.boilerplateGrams(s, d), TextOps.boilerplateGramsOracle),
    // -- co-occurrence communities: DedupOps.components over user pairs -----
    q("q144_user_communities", (s, d) => EventOps.userCommunities(s, d), EventOps.userCommunitiesOracle),
    // -- 2D patch-grid tiling (multimodal) ----------------------------------
    q("q145_image_tiles",      (s, d) => MultimodalOps.imageTiles(s, d), MultimodalOps.imageTilesOracle),
    // -- skew-resilient replicated-salt join --------------------------------
    q("q146_salted_join",      (s, d) => CoreOps.saltedJoin(s, d), CoreOps.saltedJoinOracle),
    // -- mergeable Misra-Gries heavy hitters, theorem-envelope oracle -------
    q("q147_heavy_hitters",    (s, d) => TextOps.heavyHitters(s, d), TextOps.heavyHittersOracle),
    // -- cross-doc duplicated-span coverage (exact-substring dedup form) ----
    q("q148_dup_spans",        (s, d) => TextOps.dupSpans(s, d), TextOps.dupSpansOracle),
    q("q149_semantic_clusters", (s, d) => SimilarityOps.semanticClusters(s, d), SimilarityOps.semanticClustersOracle),
    // -- budget-apportioned per-source sample (exact largest-remainder) -----
    q("q150_budget_sample",    (s, d) => SamplingOps.budgetSample(s, d), SamplingOps.budgetSampleOracle),
    // -- duplicated-span removal: emit the cleaned corpus, not just coverage -
    q("q151_span_removal",     (s, d) => TextOps.spanRemoval(s, d), TextOps.spanRemovalOracle),
    // -- whole curation pipeline as one plan: per-stage funnel ---------------
    q("q152_curation_funnel",  (s, d) => TextOps.curationFunnel(s, d), TextOps.curationFunnelOracle),
    // -- per-band LSH candidate/recall rollup (measured, not the S-curve) ----
    q("q153_lsh_recall",       (s, d) => DedupOps.lshRecallRollup(s, d), DedupOps.lshRecallRollupOracle),
    // -- aspect-preserving letterbox resize plan (exact integer geometry) ----
    q("q154_image_resize",     (s, d) => MultimodalOps.imageResize(s, d), MultimodalOps.imageResizeOracle),
    q("q155_span_fixpoint",    (s, d) => TextOps.spanRemovalFixpoint(s, d), TextOps.spanRemovalFixpointOracle),
    q("q156_resize_exec",      (s, d) => MultimodalOps.imageResizeExec(s, d), MultimodalOps.imageResizeExecOracle),
    // -- retrieval + split hygiene (BM25, eval contamination, leakage-safe split)
    q("q157_bm25_topk",           (s, d) => RetrievalOps.bm25TopK(s, d), RetrievalOps.bm25TopKOracle),
    q("q159_embed_contamination", (s, d) => RetrievalOps.embedContamination(s, d),
      RetrievalOps.embedContaminationOracle),
    q("q160_cluster_safe_split",  (s, d) => RetrievalOps.clusterSafeSplit(s, d), RetrievalOps.clusterSafeSplitOracle),
    q("q161_ivf_recall",          (s, d) => RetrievalOps.ivfRecall(s, d), RetrievalOps.ivfRecallOracle),
    // -- BPE tokenizer training inner loop (pair-count → argmax → merge, K rounds)
    q("q162_bpe_merges",          (s, d) => TextOps.bpeMerges(s, d), TextOps.bpeMergesOracle),
    q("q163_bpe_encode",          (s, d) => TextOps.bpeEncode(s, d), TextOps.bpeEncodeOracle),
    // -- streaming exact distinct via mergeable bitmap state --------------------
    q("q164_stream_bitmap_distinct", (s, d) => graft.streaming.EventsStream.bitmapDistinctStreaming(s, d),
      graft.streaming.EventsStream.bitmapDistinctOracle),
    // -- shuffle-key skew measurement (sizes the q48/q146 salting) --------------
    q("q165_key_skew_profile",    (s, d) => CoreOps.keySkewProfile(s, d), CoreOps.keySkewProfileOracle),
    // -- deterministic shard manifest (order-independent content checksum) ------
    q("q158_export_manifest",     (s, d) => SamplingOps.exportManifest(s, d), SamplingOps.exportManifestOracle),
    // -- daily value/volume drift monitor (pipeline observability) --------------
    q("q166_value_drift",         (s, d) => EventOps.valueDrift(s, d), EventOps.valueDriftOracle),
    // -- snapshot changelog derivation (full-dump CDC: insert/update/delete) ----
    q("q167_snapshot_changelog",  (s, d) => CoreOps.snapshotChangelog(s, d), CoreOps.snapshotChangelogOracle),
    // -- length-proportional sample without replacement (exponential clocks) ----
    q("q168_weighted_sample",     (s, d) => SamplingOps.weightedSample(s, d), SamplingOps.weightedSampleOracle),
    // -- integer-exact PageRank over the q144 co-occurrence graph ---------------
    q("q169_pagerank",            (s, d) => EventOps.pageRank(s, d), EventOps.pageRankOracle),
    // -- streaming MinHash-LSH near-dup (bucket state across microbatches) ------
    // the streaming banded sweep must converge to the SAME pair set as the
    // batch q39 (banding is deterministic; bucket-state OR across
    // microbatches is order-independent) — one oracle, two execution models
    q("q170_stream_lsh_neardup",  (s, d) => graft.streaming.DocsStream.lshNearDupStreaming(s, d),
      DedupOps.lshPairsOracleSql),
    // -- quantized Lloyd k-means (engine-identical iterative clustering) --------
    q("q171_kmeans",              (s, d) => SimilarityOps.kmeans(s, d), SimilarityOps.kmeansOracle),
    // -- a-priori pruned frequent word-pair mining ------------------------------
    q("q172_frequent_pairs",      (s, d) => TextOps.frequentPairs(s, d), TextOps.frequentPairsOracle),
    // -- count-min sketch point queries, exact-audited --------------------------
    q("q173_cms_counts",          (s, d) => EventOps.cmsCounts(s, d), EventOps.cmsCountsOracle),
    // -- first-order Markov transition model of user behavior -------------------
    q("q174_markov_transitions",  (s, d) => EventOps.markovTransitions(s, d), EventOps.markovTransitionsOracle),
    // -- incremental JOINED-view maintenance (merged == direct proof) -----------
    q("q175_incremental_view",    (s, d) => EventOps.incrementalViewMerge(s, d), EventOps.incrementalViewMergeOracle),
    // -- trailing 7-day RANGE window frame on the daily pre-aggregate -----------
    q("q176_range_window",        (s, d) => EventOps.rangeWindowSpend(s, d), EventOps.rangeWindowSpendOracle),
    // -- bucketed co-located fact join: zero join-side shuffles -----------------
    q("q177_bucketed_join",       (s, d) => CoreOps.bucketedJoin(s, d), CoreOps.bucketedJoinOracle),
    // -- stream-stream LEFT OUTER join (watermark-gated null emission) ----------
    q("q178_stream_outer_join",   (s, d) => graft.streaming.StreamJoinOps.clickAttributionOuterStreaming(s, d),
      graft.streaming.StreamJoinOps.clickAttributionOuterStreamingOracle),
    // -- linear multi-touch attribution (credit split over the lookback) --------
    q("q179_multitouch",          (s, d) => EventOps.multiTouchAttribution(s, d),
      EventOps.multiTouchAttributionOracle),
    // -- mergeSchema read over drifting file vintages ---------------------------
    q("q180_schema_evolution",    (s, d) => EventOps.schemaEvolution(s, d), EventOps.schemaEvolutionOracle),
    // -- streaming Misra-Gries heavy hitters (k counters as streaming state) ----
    q("q181_stream_heavy_hitters", (s, d) => graft.streaming.DocsStream.mgHeavyHittersStreaming(s, d),
      graft.streaming.DocsStream.mgHeavyHittersOracle),
    // -- hybrid retrieval: BM25 + kNN reciprocal-rank fusion --------------------
    q("q182_hybrid_rrf",          (s, d) => RetrievalOps.hybridRetrieval(s, d), RetrievalOps.hybridRetrievalOracle),
    // -- greedy quality-ordered per-source token-budget trim --------------------
    q("q183_budget_trim",         (s, d) => TextOps.budgetTrim(s, d), TextOps.budgetTrimOracle),
    // -- CDC round trip: derived changelog applied == direct new snapshot -------
    q("q184_changelog_roundtrip", (s, d) => CoreOps.changelogRoundTrip(s, d), CoreOps.changelogRoundTripOracle),
    // -- Pearson r from exact mergeable sufficient statistics -------------------
    q("q185_exact_corr",          (s, d) => EventOps.exactCorr(s, d), EventOps.exactCorrOracle),
    // -- robust median/MAD daily-volume anomaly days ----------------------------
    q("q186_mad_anomaly",         (s, d) => EventOps.madAnomalyDays(s, d), EventOps.madAnomalyDaysOracle),
    // -- perceptual-hash (aHash) media near-dup: banded Hamming join ------------
    q("q187_phash_neardup",       (s, d) => MultimodalOps.phashNearDup(s, d), MultimodalOps.phashNearDupOracle),
    // -- WITH RECURSIVE hierarchy rollup (Spark 4 recursive CTE surface) --------
    q("q188_recursive_rollup",    (s, d) => CoreOps.recursiveRollup(s, d), CoreOps.recursiveRollupOracle),
    // -- declarative data-quality gate (one conditional-agg scan per table) -----
    q("q189_dq_audit",            (s, d) => CoreOps.dqAudit(s, d), CoreOps.dqAuditOracle),
    // -- scene-cut detection over per-frame fingerprints ------------------------
    q("q190_scene_cuts",          (s, d) => MultimodalOps.sceneCuts(s, d), MultimodalOps.sceneCutsOracle),
    // -- dyadic-weight EWMA daily smoothing (exact-decimal weighted sums) -------
    q("q191_ewma_daily",          (s, d) => EventOps.ewmaDaily(s, d), EventOps.ewmaDailyOracle),
    // -- k-anonymity audit with generalization lattice --------------------------
    q("q192_k_anonymity",         (s, d) => CoreOps.kAnonymity(s, d), CoreOps.kAnonymityOracle),
    // -- per-group OLS trend from exact sufficient statistics -------------------
    q("q193_ols_trend",           (s, d) => EventOps.olsTrend(s, d), EventOps.olsTrendOracle),
    // -- stream-stream FULL OUTER interval join (completes q87/q178 family) -----
    q("q194_stream_full_outer",   (s, d) => graft.streaming.StreamJoinOps.clickAttributionFullOuterStreaming(s, d),
      graft.streaming.StreamJoinOps.clickAttributionFullOuterStreamingOracle),
    // -- trapezoidal time-weighted average per user ------------------------------
    q("q195_time_weighted_avg",   (s, d) => EventOps.timeWeightedAvg(s, d), EventOps.timeWeightedAvgOracle),
    // -- chi-square contingency drilldown (type x day-of-week) ------------------
    q("q196_chi2_cells",          (s, d) => EventOps.chi2Cells(s, d), EventOps.chi2CellsOracle),
    // -- clamped running balance (floor-at-zero left fold) ----------------------
    q("q197_clamped_balance",     (s, d) => EventOps.clampedBalance(s, d), EventOps.clampedBalanceOracle),
    // -- GDPR delete-propagation audit (cascading broadcast anti-joins) ---------
    q("q198_gdpr_purge",          (s, d) => CoreOps.gdprPurge(s, d), CoreOps.gdprPurgeOracle),
    // -- type inference over a string-rendered landing table --------------------
    q("q199_type_inference",      (s, d) => CoreOps.typeInference(s, d), CoreOps.typeInferenceOracle),
    // -- deterministic half-sample bootstrap confidence intervals ---------------
    q("q200_bootstrap_ci",        (s, d) => EventOps.bootstrapCI(s, d), EventOps.bootstrapCIOracle),
    // -- CBO join-cardinality estimate vs join-free actual ----------------------
    q("q201_join_card",           (s, d) => CoreOps.joinCardEstimate(s, d), CoreOps.joinCardEstimateOracle),
    // -- burst detection via trailing-60s RANGE frame ---------------------------
    q("q202_burst_detect",        (s, d) => EventOps.burstDetect(s, d), EventOps.burstDetectOracle),
    // -- funnel stage-transition timing percentiles -----------------------------
    q("q203_funnel_timing",       (s, d) => EventOps.funnelTiming(s, d), EventOps.funnelTimingOracle),
    // -- sampled range-partition planner + balance audit ------------------------
    q("q204_range_buckets",       (s, d) => CoreOps.rangeBucketAudit(s, d), CoreOps.rangeBucketAuditOracle),
    // -- Spark 4 transformWithState stateful processor --------------------------
    q("q205_tws_spend",           (s, d) => graft.streaming.TwsSpendStream.spendStreaming(s, d),
      graft.streaming.TwsSpendStream.oracleSql),
    // -- transformWithState event-time timers (q80 semantics, new API) ----------
    q("q206_tws_timer_sessions",  (s, d) => graft.streaming.TwsTimerSessionStream.sessionsTimerStreaming(s, d),
      EventOps.sessionCountsOracle),
    // -- transformWithState ListState bounded last-K cache ----------------------
    q("q207_tws_lastk",           (s, d) => graft.streaming.TwsLastKStream.lastKStreaming(s, d),
      graft.streaming.TwsLastKStream.oracleSql),
    // -- Markov next-event predictor accuracy (in-sample model eval) ------------
    q("q208_markov_accuracy",     (s, d) => EventOps.markovAccuracy(s, d), EventOps.markovAccuracyOracle),
    // -- Wilson-score conversion-rate confidence intervals ----------------------
    q("q209_wilson_rates",        (s, d) => CoreOps.wilsonRates(s, d), CoreOps.wilsonRatesOracle),
    // -- cross-source token-budget mixing allocation ----------------------------
    q("q210_mix_allocation",      (s, d) => TextOps.mixAllocation(s, d), TextOps.mixAllocationOracle),
    // -- per-dimension embedding feature-scaling stats --------------------------
    q("q211_feature_scaling",     (s, d) => SimilarityOps.featureScaling(s, d), SimilarityOps.featureScalingOracle),
    // -- triangle counting + clustering coefficients ----------------------------
    q("q212_triangles",           (s, d) => EventOps.triangleStats(s, d), EventOps.triangleStatsOracle),
    // -- canonical representative per duplicate group ---------------------------
    q("q213_canonical_pick",      (s, d) => TextOps.canonicalPick(s, d), TextOps.canonicalPickOracle),
    // -- rendezvous-hash shard rebalance audit ----------------------------------
    q("q214_rendezvous",          (s, d) => CoreOps.rendezvousRebalance(s, d), CoreOps.rendezvousRebalanceOracle),
    // -- mutual nearest neighbors (reciprocal best match) -----------------------
    q("q215_mutual_nn",           (s, d) => SimilarityOps.mutualNearestNeighbors(s, d),
      SimilarityOps.mutualNearestNeighborsOracle),
    // -- A/B sample-ratio-mismatch guard ----------------------------------------
    q("q216_srm_check",           (s, d) => EventOps.srmCheck(s, d), EventOps.srmCheckOracle),
    // -- chained stateful streaming: dedup -> windowed agg ----------------------
    q("q217_stream_dedup_agg",    (s, d) => graft.streaming.StreamJoinOps.dedupThenHourly(s, d),
      graft.streaming.StreamJoinOps.dedupThenHourlyOracle),
    // -- Pareto-frontier (skyline) document selection ---------------------------
    q("q218_pareto_docs",         (s, d) => TextOps.paretoDocs(s, d), TextOps.paretoDocsOracle),
    // -- daily-volume autocorrelation (weekly-seasonality detection) ------------
    q("q219_autocorr",            (s, d) => EventOps.volumeAutocorr(s, d), EventOps.volumeAutocorrOracle),
    // -- posting-list delta-varint compression estimate -------------------------
    q("q220_index_compression",   (s, d) => TextOps.indexCompression(s, d), TextOps.indexCompressionOracle),
    // -- SCD2 point-in-time reconstruction (self-verifying as-of read) ----------
    q("q221_scd2_asof",           (s, d) => CoreOps.scd2AsOf(s, d), CoreOps.scd2AsOfOracle),
    // -- proportional interleave (stride-scheduling) audit ----------------------
    q("q222_interleave_audit",    (s, d) => TextOps.interleaveAudit(s, d), TextOps.interleaveAuditOracle),
    // -- decile-bucket distribution drift (shape drift, not mean drift) ---------
    q("q223_decile_drift",        (s, d) => CoreOps.decileDrift(s, d), CoreOps.decileDriftOracle),
    // -- relational Bloom filter with hash-matched FP count ---------------------
    q("q224_bloom_membership",    (s, d) => CoreOps.bloomMembership(s, d), CoreOps.bloomMembershipOracle),
    // -- CUPED variance-reduced A/B readout -------------------------------------
    q("q225_cuped",               (s, d) => EventOps.cupedAdjust(s, d), EventOps.cupedAdjustOracle),
    // -- Benford first-digit audit ----------------------------------------------
    q("q226_benford",             (s, d) => CoreOps.benfordAudit(s, d), CoreOps.benfordAuditOracle),
    // -- label-centroid affinity matrix (domain-shift map) ----------------------
    q("q227_label_affinity",      (s, d) => SimilarityOps.labelAffinity(s, d), SimilarityOps.labelAffinityOracle),
    // -- temporal sequence-pair mining (A then B within 10 min) -----------------
    q("q228_seq_patterns",        (s, d) => EventOps.sequencePatterns(s, d), EventOps.sequencePatternsOracle),
    // -- multi-level share-of-parent rollup -------------------------------------
    q("q229_share_of_parent",     (s, d) => CoreOps.shareOfParent(s, d), CoreOps.shareOfParentOracle),
    // -- inter-source duplication overlap matrix --------------------------------
    q("q230_source_overlap",      (s, d) => TextOps.sourceOverlap(s, d), TextOps.sourceOverlapOracle),
    // -- Zipf head/torso/tail vocabulary segmentation ---------------------------
    q("q231_vocab_segments",      (s, d) => TextOps.vocabSegments(s, d), TextOps.vocabSegmentsOracle),
    // -- discrete survival/hazard table with right-censoring --------------------
    q("q232_survival",            (s, d) => EventOps.survivalTable(s, d), EventOps.survivalTableOracle),
    // -- two-sample Kolmogorov-Smirnov drift test -------------------------------
    q("q233_ks_test",             (s, d) => CoreOps.ksTest(s, d), CoreOps.ksTestOracle),
    // -- Mann-Whitney U rank-sum test (exact doubled ranks) ---------------------
    q("q234_mann_whitney",        (s, d) => CoreOps.mannWhitney(s, d), CoreOps.mannWhitneyOracle),
    // -- RFM customer segmentation (deterministic quintiles) --------------------
    q("q235_rfm_segments",        (s, d) => CoreOps.rfmSegments(s, d), CoreOps.rfmSegmentsOracle),
    // -- cohort LTV accumulation curves -----------------------------------------
    q("q236_cohort_ltv",          (s, d) => EventOps.cohortLtv(s, d), EventOps.cohortLtvOracle),
    // -- transformWithState MapState per-type counter profile -------------------
    q("q237_tws_type_profile",    (s, d) => graft.streaming.TwsMapStateStream.typeProfileStreaming(s, d),
      graft.streaming.TwsMapStateStream.oracleSql),
    // -- MMR diversified re-ranking of the kNN candidate list -------------------
    q("q238_mmr_rerank",          (s, d) => RetrievalOps.mmrRerank(s, d), RetrievalOps.mmrRerankOracle),
    // -- custom broadcast merge interval join (q64 semantics, new operator) -----
    // same semantics as q64 through the custom merge operator — same twin
    q("q239_interval_join",       (s, d) => CoreOps.intervalJoinMonthly(s, d), CoreOps.rangeJoinMonthlyOracle),
    // -- declarative session_window streaming sessionization --------------------
    q("q240_session_window",      (s, d) => graft.streaming.EventsStream.sessionWindowStreaming(s, d),
      graft.streaming.EventsStream.sessionWindowOracle),
    // -- small-file compaction planner (next-fit-decreasing bin packing) --------
    q("q241_compaction_plan",     (s, d) => SamplingOps.compactionPlan(s, d), SamplingOps.compactionPlanOracle),
    // -- exact distributed weighted quantiles (PrefixSum crossing rows) ---------
    q("q242_weighted_quantiles",  (s, d) => WeightedQuantiles.weightedPriceQuantiles(s, d),
      WeightedQuantiles.weightedPriceQuantilesOracle),
    // -- CUSUM sequential change-point detection (clamped integer fold) ---------
    q("q243_cusum",               (s, d) => EventOps.cusumChangePoints(s, d), EventOps.cusumOracle),
    // -- audience-overlap Jaccard matrix (exact inclusion-exclusion) ------------
    q("q244_audience_overlap",    (s, d) => EventOps.audienceOverlap(s, d), EventOps.audienceOverlapOracle),
    // -- session entry-path mining (first-3-type sequences) ---------------------
    q("q245_session_paths",       (s, d) => EventOps.sessionPaths(s, d), EventOps.sessionPathsOracle),
    // -- EXACT sliding 7-day distinct via OR-merged daily bitmaps ---------------
    q("q246_bitmap_sliding",      (s, d) => EventOps.bitmapSliding(s, d), EventOps.bitmapSlidingOracle),
    // -- anti-entropy replica divergence + repair pricing -----------------------
    q("q247_replica_divergence",  (s, d) => SamplingOps.replicaDivergence(s, d), SamplingOps.replicaDivergenceOracle),
    // -- Cohen's kappa for the q31 language-ID classifier -----------------------
    q("q248_kappa_langid",        (s, d) => TextOps.kappaLangId(s, d), TextOps.kappaLangIdOracle),
    // -- nearest-event attribution (custom as-of operator, both directions) -----
    q("q249_nearest_attribution", (s, d) => EventOps.nearestAttribution(s, d), EventOps.nearestAttributionOracle),
    // -- percentile-rank quality normalization (bounded-domain ranks) -----------
    q("q250_quality_percentiles", (s, d) => TextOps.qualityPercentiles(s, d), TextOps.qualityPercentilesOracle),
    // -- linear-interpolation imputation over the date spine --------------------
    q("q251_interpolate_daily",   (s, d) => EventOps.interpolateDaily(s, d), EventOps.interpolateDailyOracle),
    // -- also-bought basket association (support/confidence/lift) ---------------
    q("q252_also_bought",         (s, d) => CoreOps.alsoBought(s, d), CoreOps.alsoBoughtOracle),
    // -- time-decay multi-touch attribution (exact dyadic weights) --------------
    q("q253_timedecay_attribution", (s, d) => EventOps.timeDecayAttribution(s, d),
      EventOps.timeDecayAttributionOracle),
    // -- grouped exact weighted quantiles (partitioned cumulative weights) ------
    q("q254_grouped_wquantiles",  (s, d) => WeightedQuantiles.groupedWeightedQuantiles(s, d),
      WeightedQuantiles.groupedWeightedQuantilesOracle),
    // -- zone-map min/max skipping-effectiveness audit --------------------------
    q("q255_zonemap_audit",       (s, d) => CoreOps.zoneMapAudit(s, d), CoreOps.zoneMapAuditOracle),
    // -- asymmetric containment near-dup (quote/subset detection) ---------------
    q("q256_containment",         (s, d) => DedupOps.containmentPairs(s, d), DedupOps.containmentPairsOracle),
    // -- supplier ship-lag scorecard (mean/p90/Wilson-bounded slow rate) --------
    q("q257_supplier_scorecard",  (s, d) => CoreOps.supplierScorecard(s, d), CoreOps.supplierScorecardOracle),
    // -- daily growth accounting (new/returning/resurrected/churned) ------------
    q("q258_growth_accounting",   (s, d) => EventOps.growthAccounting(s, d), EventOps.growthAccountingOracle),
    // -- vocabulary drift between ingest batches (per-term chi-square) ----------
    q("q259_vocab_drift",         (s, d) => TextOps.vocabDrift(s, d), TextOps.vocabDriftOracle),
    // -- dataset card: one-page corpus summary ----------------------------------
    q("q260_dataset_card",        (s, d) => TextOps.datasetCard(s, d), TextOps.datasetCardOracle),
    // -- KEYED merge interval join: SCD2 regime attribution (no broadcast) ------
    q("q261_scd2_interval_attr",  (s, d) => CoreOps.scd2IntervalAttribution(s, d),
      CoreOps.scd2IntervalAttributionOracle),
    // -- LEFT-OUTER keyed interval join: historical vs CURRENT revenue split ----
    q("q262_scd2_regime_outer",   (s, d) => CoreOps.scd2RegimeOuter(s, d), CoreOps.scd2RegimeOuterOracle),
    // -- KMV distinct sketch (custom aggregate) audited vs exact ----------------
    q("q263_kmv_distinct",        (s, d) => SamplingOps.kmvDistinct(s, d), SamplingOps.kmvDistinctOracle),
    // -- bigram-LM perplexity quality filter (CCNet-style, era-split train) -----
    q("q264_bigram_lm",           (s, d) => TextOps.bigramLmScore(s, d), TextOps.bigramLmScoreOracle),
    // -- FULL-outer keyed interval join: SCD2 coverage audit (3-bucket) ---------
    q("q265_scd2_coverage",       (s, d) => CoreOps.scd2CoverageAudit(s, d), CoreOps.scd2CoverageAuditOracle),
    // -- temperature-scaled mixture epoch table (repetition-risk audit) ---------
    q("q266_mixture_epochs",      (s, d) => TextOps.mixtureEpochs(s, d), TextOps.mixtureEpochsOracle),
    // -- per-source character-entropy quality signal (gibberish detector) -------
    q("q267_char_entropy",        (s, d) => TextOps.charEntropy(s, d), TextOps.charEntropyOracle),
    // -- robust (10%-trimmed) per-source quality means ---------------------------
    q("q268_trimmed_quality",     (s, d) => TextOps.trimmedQuality(s, d), TextOps.trimmedQualityOracle),
    // -- per-label embedding dispersion (representation-collapse audit) ---------
    q("q269_label_dispersion",    (s, d) => SimilarityOps.labelDispersion(s, d), SimilarityOps.labelDispersionOracle),
    // -- context-length sizing: truncation/padding waste per candidate L --------
    q("q270_context_sizing",      (s, d) => TextOps.contextSizing(s, d), TextOps.contextSizingOracle),
    // -- per-source unigram KL skew vs the corpus distribution -------------------
    q("q271_source_kl_skew",      (s, d) => TextOps.sourceKlSkew(s, d), TextOps.sourceKlSkewOracle),
    // -- KMV sketch set operations: pairwise overlap estimates vs exact ---------
    q("q272_kmv_overlap",         (s, d) => SamplingOps.kmvOverlap(s, d), SamplingOps.kmvOverlapOracle),
    // -- dedup retention-bias per source (curation governance) ------------------
    q("q273_retention_bias",      (s, d) => TextOps.retentionBias(s, d), TextOps.retentionBiasOracle),
    // -- per-source token-mass Gini (exact order-statistics concentration) ------
    q("q274_token_gini",          (s, d) => TextOps.tokenGini(s, d), TextOps.tokenGiniOracle),
    // -- per-source Zipf slope (lexical-diversity OLS on ln rank/ln freq) -------
    q("q275_zipf_slope",          (s, d) => TextOps.zipfSlope(s, d), TextOps.zipfSlopeOracle),
    // -- IVF recall-vs-nprobe tuning curve (one candidate scan, all points) -----
    q("q276_ivf_probe_curve",     (s, d) => RetrievalOps.ivfProbeCurve(s, d), RetrievalOps.ivfProbeCurveOracle),
    // -- Davies-Bouldin cluster-quality audit over the label clusters -----------
    q("q277_cluster_quality",     (s, d) => SimilarityOps.clusterQuality(s, d), SimilarityOps.clusterQualityOracle),
    // -- sequence-packing straddle curve (chunking's cost per candidate L) ------
    q("q278_pack_straddle",       (s, d) => TextOps.packStraddle(s, d), TextOps.packStraddleOracle),
    // -- scalar-quantization recall/error curve (8/4/2-bit asymmetric search) ---
    q("q279_sq_recall_curve",     (s, d) => RetrievalOps.sqRecallCurve(s, d), RetrievalOps.sqRecallCurveOracle),
    // -- embedding dedup threshold-sensitivity table ----------------------------
    q("q280_dedup_thresholds",    (s, d) => SimilarityOps.dedupThresholdCurve(s, d),
      SimilarityOps.dedupThresholdCurveOracle),
    // -- rolling-origin forecast backtest (trend vs persistence skill) ----------
    q("q281_forecast_backtest",   (s, d) => EventOps.forecastBacktest(s, d), EventOps.forecastBacktestOracle),
    // -- multi-source BFS hop distances over the co-occurrence graph ------------
    q("q282_bfs_reach",           (s, d) => EventOps.bfsReach(s, d), EventOps.bfsReachOracle),
    // -- graph-health profile: degrees + assortativity --------------------------
    q("q283_graph_profile",       (s, d) => EventOps.graphProfile(s, d), EventOps.graphProfileOracle),
    // -- optimizer-rewritten count(DISTINCT) → KMV sketch (flag-gated rule) -----
    q("q284_kmv_rewrite",         (s, d) => SamplingOps.kmvRewriteDistinct(s, d), SamplingOps.kmvRewriteOracle),
    // -- PMI collocation mining (word2vec phrase detection) ----------------------
    q("q285_collocations",        (s, d) => TextOps.collocations(s, d), TextOps.collocationsOracle),
    // -- mutual information / NMI between event type and hour -------------------
    q("q286_mutual_info",         (s, d) => EventOps.mutualInfo(s, d), EventOps.mutualInfoOracle),
    // -- sorted-neighborhood blocking dedup (third blocking family) -------------
    q("q287_sorted_neighborhood", (s, d) => DedupOps.sortedNeighborhood(s, d), DedupOps.sortedNeighborhoodOracle),
    // -- Welch unequal-variance t-test on the A/B arms ---------------------------
    q("q288_welch_ttest",         (s, d) => EventOps.welchTtest(s, d), EventOps.welchTtestOracle),
    // -- TextRank keyword extraction (weighted PageRank on the word graph) -------
    q("q289_textrank",            (s, d) => TextOps.textRank(s, d), TextOps.textRankOracle),
    // -- cross-source quantile normalization of the length distribution ---------
    q("q290_quantile_norm",       (s, d) => TextOps.quantileNormalize(s, d), TextOps.quantileNormalizeOracle),
    // -- Heaps'-law vocabulary-growth exponent per source ------------------------
    q("q291_heaps_law",           (s, d) => TextOps.heapsLaw(s, d), TextOps.heapsLawOracle),
    // -- per-doc 8-gram novelty (memorization-risk score) ------------------------
    q("q292_ngram_novelty",       (s, d) => TextOps.ngramNovelty(s, d), TextOps.ngramNoveltyOracle),
    // -- distributed PCA top component (integer scatter + power iteration) -------
    q("q293_pca_power",           (s, d) => SimilarityOps.pcaPower(s, d), SimilarityOps.pcaPowerOracle),
    // -- Chao1/Good-Turing unseen-vocabulary estimate per source -----------------
    q("q294_chao1_vocab",         (s, d) => TextOps.chao1Vocab(s, d), TextOps.chao1VocabOracle),
    // -- per-source embedding centroid drift (linear-kernel MMD²) ----------------
    q("q295_centroid_drift",      (s, d) => SimilarityOps.centroidDrift(s, d), SimilarityOps.centroidDriftOracle),
    // -- farthest-point k-center coreset (diversity sampling) --------------------
    q("q296_kcenter_coreset",     (s, d) => SamplingOps.kcenterCoreset(s, d), SamplingOps.kcenterCoresetOracle),
    // -- Neyman variance-optimal stratified allocation vs proportional -----------
    q("q297_neyman_alloc",        (s, d) => SamplingOps.neymanAllocation(s, d), SamplingOps.neymanAllocationOracle),
    // -- rank-aware retrieval eval: MRR + nDCG@k of the IVF index ----------------
    q("q298_retrieval_ndcg",      (s, d) => RetrievalOps.retrievalRankMetrics(s, d),
      RetrievalOps.retrievalRankMetricsOracle),
    // -- Mann-Kendall monotone-trend test on per-type daily volumes --------------
    q("q299_mann_kendall",        (s, d) => EventOps.mannKendall(s, d), EventOps.mannKendallOracle),
    // -- Spearman rank correlation of source vocabularies (head words) -----------
    q("q300_spearman_sources",    (s, d) => TextOps.spearmanSources(s, d), TextOps.spearmanSourcesOracle),
    // -- k-core peeling curve on the co-occurrence graph -------------------------
    q("q301_kcore_peel",          (s, d) => EventOps.kcorePeel(s, d), EventOps.kcorePeelOracle),
    // -- stratified k-fold CV assignment + fold-balance chi-square ---------------
    q("q302_kfold_assign",        (s, d) => SamplingOps.kfoldAssign(s, d), SamplingOps.kfoldAssignOracle),
    // -- Hill tail-index of the document-length distribution ---------------------
    q("q303_hill_tail",           (s, d) => TextOps.hillTail(s, d), TextOps.hillTailOracle),
    // -- KMV rewrite, multi-column arm: count(DISTINCT user_id, event_type) ------
    q("q304_kmv_rewrite_tuple",   (s, d) => SamplingOps.kmvRewriteTuple(s, d), SamplingOps.kmvRewriteTupleOracle),
    // -- pairwise 1-D Wasserstein between source length distributions ------------
    q("q305_wasserstein_lengths", (s, d) => TextOps.wassersteinLengths(s, d), TextOps.wassersteinLengthsOracle),
    // -- SRP bit-sketch calibration: Hamming-vs-cosine agreement curve -----------
    q("q306_srp_calibration",     (s, d) => SimilarityOps.srpCalibration(s, d), SimilarityOps.srpCalibrationOracle),
    // -- the calibration DEPLOYED: q135 with the SRP Hamming candidate gate ------
    // q307 runs the SAME query with the SRP Hamming candidate gate armed:
    // its oracle is q135's UNGATED twin on purpose — hash equality across
    // engines at every SF is the proof that the gate is output-preserving.
    q("q307_srp_gated_neardup",   (s, d) => SimilarityOps.srpGatedNearDup(s, d), SimilarityOps.annNearDupOracle),
    // -- per-threshold gate decision table over q135's candidate set -------------
    q("q308_srp_gate_report",     (s, d) => SimilarityOps.srpGateReport(s, d), SimilarityOps.srpGateReportOracle),
    // -- range-partitioned KEYLESS interval join (q64 semantics, 3rd shape) ------
    // same semantics a third time through the RANGE-PARTITIONED mode
    q("q309_range_interval_join", (s, d) => CoreOps.rangeIntervalMonthly(s, d), CoreOps.rangeJoinMonthlyOracle),
    // -- its big-interval-side consumer: keyless outage-window attribution -------
    q("q310_outage_attribution",  (s, d) => CoreOps.supplierOutageAttribution(s, d), CoreOps.supplierOutageOracle),
    // -- the q263 KMV sketch as streaming aggregation state (q263 twin verbatim) -
    // the streaming sketch must equal the batch sketch bit for bit: KMV is
    // deterministic given the hash column, so q311 reuses q263's twin
    q("q311_stream_kmv_distinct", (s, d) => graft.streaming.EventsStream.kmvDistinctStreaming(s, d),
      SamplingOps.kmvDistinctOracle),
    // -- right-outer keyless range interval join: quiet-window coverage audit ----
    q("q314_outage_coverage",     (s, d) => CoreOps.supplierOutageCoverage(s, d),
      CoreOps.supplierOutageCoverageOracle),
    // -- Fellegi-Sunter record linkage on a derived perturbed-entity table -------
    q("q312_record_linkage",      (s, d) => LinkageOps.recordLinkage(s, d), LinkageOps.recordLinkageOracle),
    // -- its trained model: per-field m/u counts and smoothed log-weights --------
    q("q313_linkage_weights",     (s, d) => LinkageOps.linkageWeights(s, d), LinkageOps.linkageWeightsOracle),
    // -- golden records: match pairs closed into entity clusters + survivorship --
    q("q315_golden_records",      (s, d) => LinkageOps.goldenRecords(s, d), LinkageOps.goldenRecordsOracle),
    // -- REAL codec in the oracle loop: render PNGs, decode, checksum pixels -----
    q("q316_png_roundtrip",       (s, d) => MultimodalOps.pngRoundtrip(s, d), MultimodalOps.pngRoundtripOracle),
    // -- incremental linkage: delta batch vs corpus under the FROZEN weights -----
    q("q317_delta_linkage",       (s, d) => LinkageOps.deltaLinkage(s, d), LinkageOps.deltaLinkageOracle),
    // -- custom-node filter pushdown: predicate above the interval join -> scan --
    q("q318_interval_filtered",   (s, d) => CoreOps.intervalJoinFiltered(s, d), CoreOps.intervalJoinFilteredOracle),
    // -- near-dup at the REAL dedup threshold (0.9) over a derived-dup corpus ----
    q("q319_derived_neardup",     (s, d) => SimilarityOps.derivedNearDup(s, d), SimilarityOps.derivedNearDupOracle),
    // -- graded (Winkler-style) agreement linkage: JW close level on the addr ----
    q("q320_graded_linkage",      (s, d) => LinkageOps.gradedLinkage(s, d), LinkageOps.gradedLinkageOracle),
    // -- q319 with the 64-bit SRP gate ARMED (oracle = q319's, verbatim) ---------
    q("q321_srp64_gated_neardup", (s, d) => SimilarityOps.srp64GatedDerivedNearDup(s, d),
      SimilarityOps.derivedNearDupOracle),
    // -- the 64-bit gate's measurement row: recall, cut fraction, preservation ---
    q("q322_srp64_gate_report",   (s, d) => SimilarityOps.srp64GateReport(s, d), SimilarityOps.srp64GateReportOracle),
    // -- SALTED keyed interval join: q261's oracle verbatim, hot-key fan-out -----
    q("q323_scd2_salted",         (s, d) => CoreOps.scd2IntervalAttributionSalted(s, d),
      CoreOps.scd2IntervalAttributionOracle),
    // -- INCREMENTAL gated near-dup: today's batch vs corpus, cost ∝ delta -------
    q("q324_delta_gated_neardup", (s, d) => SimilarityOps.deltaGatedNearDup(s, d), SimilarityOps.deltaNearDupOracle),
    // -- the same shape STREAMING: landing-dir microbatches vs static corpus -----
    q("q325_stream_delta_neardup", (s, d) => graft.streaming.EmbeddingStream.deltaGatedNearDupStreaming(s, d),
      SimilarityOps.deltaNearDupOracle),
    // -- as-of with a reporting cutoff: the ts<=U bound mirrors to BOTH scans -----
    q("q326_asof_bounded",        (s, d) => EventOps.asofAttributionBounded(s, d),
      EventOps.asofAttributionBoundedOracle),
    // -- the same incremental near-dup against a STORED bucketed band index ------
    // streamed twin: batch-boundary-independent
    q("q327_band_index_probe",    (s, d) => SimilarityOps.indexProbeNearDup(s, d), SimilarityOps.deltaNearDupOracle),
    // -- q265's full-outer coverage audit through the SALTED path ----------------
    q("q328_scd2_salted_full",    (s, d) => CoreOps.scd2CoverageAuditSalted(s, d), CoreOps.scd2CoverageAuditOracle),
    // -- sketch WIDTH vs THRESHOLD: 16 vs 64 bits on the original 0.35 corpus ----
    q("q329_srp_width_report",    (s, d) => SimilarityOps.srpWidthReport(s, d), SimilarityOps.srpWidthReportOracle),
    // -- band-index MERGE: delta appended into the bucketed index, then probed ---
    // stored-index twin: same pair set
    // probe-after-merge must equal the full recompute — the merge proof
    q("q330_band_index_merge",    (s, d) => SimilarityOps.indexMergeProbeNearDup(s, d),
      SimilarityOps.deltaNearDupOracle),
    // -- ADAPTIVE salt, armed: measured hot key fans out, full-outer recovery ----
    q("q331_salted_adaptive",     (s, d) => CoreOps.adaptiveSaltedHotKeyAudit(s, d),
      CoreOps.adaptiveSaltedHotKeyAuditOracle),
    // -- AUTO gate width from θ alone: no flags, arms 64-bit@24 at θ=0.9 ---------
    q("q332_auto_gated_neardup",  (s, d) => SimilarityOps.derivedAutoGatedNearDup(s, d),
      SimilarityOps.derivedNearDupOracle),
    // -- index COMPACTION: build → 3 merges → compact to 1 file/bucket → probe ---
    q("q333_band_index_compact",  (s, d) => SimilarityOps.indexCompactProbeNearDup(s, d),
      SimilarityOps.deltaNearDupOracle),
    // -- ADAPTIVE two-phase agg: measured straggler ratio arms the salt phase ----
    q("q334_salted_agg_adaptive", (s, d) => CoreOps.adaptiveSaltedAgg(s, d), CoreOps.adaptiveSaltedAggOracle),
    // -- range-mode hot-bucket split ARMED: 90% point mass fans out, measured ----
    q("q335_outage_hot_window",   (s, d) => CoreOps.supplierOutageHotWindow(s, d),
      CoreOps.supplierOutageHotWindowOracle),
    // -- gate-width decision table MEASURED on the θ=0.65 band (both disarm) -----
    q("q336_srp_width_decision",  (s, d) => SimilarityOps.srpWidthDecisionReport(s, d),
      SimilarityOps.srpWidthDecisionReportOracle),
    // -- 16-bit auto gate armed where it meets the exact-tail standard: θ=0.9995 -
    // the 16-bit auto-gated run must equal the UNGATED near-exact pair set —
    // the q321 preservation proof at the width where the cheap sketch pays
    q("q337_near_exact_gated",    (s, d) => SimilarityOps.nearExactAutoGatedNearDup(s, d),
      SimilarityOps.nearExactNearDupOracle),
    // -- INCREMENTAL CC: delta edges contracted onto yesterday's labels ----------
    q("q338_incremental_cc",      (s, d) => SimilarityOps.semanticClustersIncremental(s, d),
      SimilarityOps.semanticClustersOracle),
    // -- the NIGHTLY pipeline composed: index probe → delta edges → incr. CC -----
    q("q339_nightly_dedup",       (s, d) => SimilarityOps.nightlyDedupPipeline(s, d),
      SimilarityOps.nightlyDedupOracle),
    // -- the r12-advice boundary: θ=0.998 now takes the 64-bit arm (width 9) -----
    q("q340_near_exact_srp64",    (s, d) => SimilarityOps.nearExact998GatedNearDup(s, d),
      SimilarityOps.nearExact998NearDupOracle),
    // -- incremental CC composes across nights: 2 chained deltas ≡ full truth ----
    q("q341_two_day_incremental", (s, d) => SimilarityOps.semanticClustersTwoDay(s, d),
      SimilarityOps.semanticClustersOracle),
    // -- MANIFEST-versioned index: pointer flip, predecessor retained, no swap ---
    // probe-after-flip: a compaction into a new version loses no row
    q("q342_manifest_index",      (s, d) => SimilarityOps.indexManifestProbeNearDup(s, d),
      SimilarityOps.deltaNearDupOracle),
    // -- index-backed k-NN: top-k corpus neighbors per delta vector, exact twin --
    q("q343_index_knn",           (s, d) => SimilarityOps.indexKnnDelta(s, d), SimilarityOps.indexKnnOracle),
    // -- SRP band-index recall@k vs exact top-k (the q161 audit, band family) ----
    q("q344_band_recall",         (s, d) => SimilarityOps.bandIndexRecall(s, d), SimilarityOps.bandRecallOracle),
  )

  def queries: Map[String, Builder] = registry.map(r => r.name -> r.build).toMap

  /** DuckDB-runnable ANSI SQL twin for each query (driver oracle). */
  def oracleSql: Map[String, String] = registry.map(r => r.name -> r.oracle).toMap

  /** The queries whose names start with one of the comma-separated prefixes
    * in `only` (so `q38,q59` selects q38_neardup_jaccard and
    * q59_simhash_neardup), or every query. The contract mains pass the
    * dev-only `SPARK_GRAFT_ONLY`, which contract runs leave unset.
    */
  def selected(only: Option[String] = sys.env.get("SPARK_GRAFT_ONLY")): Map[String, Builder] =
    only match {
      case Some(names) =>
        val prefixes = names.split(",")
        queries.filter { case (n, _) => prefixes.exists(n.startsWith) }
      case None => queries
    }
}
