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

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // -- aggregations (A1-A8) -------------------------------------------------
    "q01_pricing_summary"   -> ((s, d) => CoreOps.pricingSummary(s, d)),
    "q02_priority_agg"      -> ((s, d) => CoreOps.priorityAgg(s, d)),
    "q03_revenue_by_nation" -> ((s, d) => CoreOps.revenueByNation(s, d)),
    "q04_market_share"      -> ((s, d) => CoreOps.marketShare(s, d)),
    "q05_topk_brand_pct"    -> ((s, d) => CoreOps.topkBrandPercent(s, d)),
    "q06_conditional_rate"  -> ((s, d) => CoreOps.conditionalRate(s, d)),
    "q07_failing_examples"  -> ((s, d) => CoreOps.failingExamples(s, d)),
    "q08_rollup_counts"     -> ((s, d) => CoreOps.rollupCounts(s, d)),
    // -- set ops / dedup / distinct (U1, D1-D5) -------------------------------
    "q09_union_dedup"       -> ((s, d) => CoreOps.unionDedup(s, d)),
    "q10_dedup_by_key"      -> ((s, d) => CoreOps.dedupByKeyDeterministic(s, d)),
    "q11_distinct_keys"     -> ((s, d) => CoreOps.distinctKeys(s, d)),
    // -- joins (J1-J3 + star joins) -------------------------------------------
    "q12_semi_join"         -> ((s, d) => CoreOps.semiJoinOrders(s, d)),
    "q13_anti_join"         -> ((s, d) => CoreOps.antiJoinCustomers(s, d)),
    // -- windows / sorts / top-k (O1-O4) --------------------------------------
    "q14_top_per_priority"  -> ((s, d) => CoreOps.topOrdersPerPriority(s, d)),
    // -- events: JSON + time windows (F5, streaming twin) ---------------------
    "q15_events_json"       -> ((s, d) => EventOps.jsonPropsAgg(s, d)),
    "q16_hourly_by_type"    -> ((s, d) => EventOps.hourlyByType(s, d)),
    "q17_user_activity"     -> ((s, d) => EventOps.userActivity(s, d)),
    "q18_session_counts"    -> ((s, d) => EventOps.sessionCounts(s, d)),
    // -- enrichment engine (§2.8: batched classify + retry + guard + map-back)
    "q19_enrich_part_names" -> ((s, d) => EnrichOps.enrichPartNames(s, d)),
    "q20_enrich_part_types" -> ((s, d) => EnrichOps.enrichPartTypes(s, d)),
    "q21_enrich_stats"      -> ((s, d) => EnrichOps.enrichmentStats(s, d)),
    // -- end-to-end pipeline (S2-S5: discover → latest-K → CSV → dedup →
    //    enrich ×2 → meta) --------------------------------------------------
    "q22_pipeline_e2e"      -> ((s, d) => graft.pipeline.Pipeline.pipelineQuery(s, d)),
    // -- text analysis (north star) -------------------------------------------
    "q30_token_stats"       -> ((s, d) => TextOps.tokenStats(s, d)),
    "q31_lang_id"           -> ((s, d) => TextOps.langId(s, d)),
    "q32_quality_score"     -> ((s, d) => TextOps.qualityScore(s, d)),
    "q33_fingerprint"       -> ((s, d) => TextOps.fingerprint(s, d)),
    "q34_word_freq"         -> ((s, d) => TextOps.wordFreq(s, d)),
    // -- dedup family (north star) --------------------------------------------
    "q35_dedup_exact"       -> ((s, d) => DedupOps.dedupExact(s, d)),
    "q36_dedup_wordset"     -> ((s, d) => DedupOps.dedupWordSet(s, d)),
    "q37_minhash_sigs"      -> ((s, d) => DedupOps.minhashSignatures(s, d)),
    "q38_neardup_jaccard"   -> ((s, d) => DedupOps.nearDupJaccard(s, d)),
    "q39_lsh_neardup"       -> ((s, d) => DedupOps.lshNearDupPairs(s, d)),
    "q40_simhash"           -> ((s, d) => DedupOps.simhash(s, d)),           // rows-check
    // -- similarity search (north star) ---------------------------------------
    "q41_knn_cosine"        -> ((s, d) => SimilarityOps.knnBruteForce(s, d)),
    "q42_embed_neardup"     -> ((s, d) => SimilarityOps.embeddingNearDup(s, d)),
    "q43_centroids"         -> ((s, d) => SimilarityOps.centroids(s, d)),
    "q45_ann_buckets"       -> ((s, d) => SimilarityOps.annBuckets(s, d)),
    // -- multimodal columns (north star) --------------------------------------
    "q44_media_features"    -> ((s, d) => MultimodalOps.mediaFeatures(s, d)),
    // -- safe JSON parse chain (F4-F6) ----------------------------------------
    "q46_safe_json_chain"   -> ((s, d) => EventOps.safeJsonChain(s, d)),
    // -- custom aggregate + skew technique ------------------------------------
    "q47_topk_per_label"    -> ((s, d) => SimilarityOps.topkPerLabel(s, d)),
    "q48_salted_agg"        -> ((s, d) => CoreOps.saltedAgg(s, d)),
    // -- breadth: percentiles, calendar, set ops, fuzzy matching --------------
    "q52_quantiles"         -> ((s, d) => CoreOps.quantiles(s, d)),
    "q53_fuzzy_pairs"       -> ((s, d) => DedupOps.fuzzyKeyPairs(s, d)),
    "q54_monthly_orders"    -> ((s, d) => CoreOps.monthlyOrders(s, d)),
    "q55_customer_set_ops"  -> ((s, d) => CoreOps.customerSetOps(s, d)),
    "q56_ivf_assign"        -> ((s, d) => SimilarityOps.ivfAssign(s, d)),
    "q57_subword_tokens"    -> ((s, d) => TextOps.subwordTokens(s, d)),
    "q58_stats_agg"         -> ((s, d) => CoreOps.statsAgg(s, d)),
    "q59_simhash_neardup"   -> ((s, d) => DedupOps.simhashNearDup(s, d)), // rows-check (bit sketch)
    "q60_json_roundtrip"    -> ((s, d) => EventOps.jsonRoundTrip(s, d)),
    // -- custom whole-operator path: LogicalPlan + Strategy + SparkPlan ------
    "q61_asof_join"         -> ((s, d) => EventOps.asofAttribution(s, d)),
    // -- breadth: pivot, running windows, interval range join -----------------
    "q62_pivot_counts"      -> ((s, d) => CoreOps.pivotCounts(s, d)),
    "q63_running_window"    -> ((s, d) => CoreOps.runningCustomerSpend(s, d)),
    "q64_range_join_months" -> ((s, d) => CoreOps.rangeJoinMonthly(s, d)),
    // -- custom Generator (UDTF), cube, ORC source, outer as-of ---------------
    "q65_bigram_freq"       -> ((s, d) => TextOps.bigramFreq(s, d)),
    "q66_cube_counts"       -> ((s, d) => CoreOps.cubeCounts(s, d)),
    "q67_orc_roundtrip"     -> ((s, d) => EventOps.orcRoundTrip(s, d)),
    "q68_asof_outer"        -> ((s, d) => EventOps.asofAttributionOuter(s, d)),
    // -- multimodal frame sampling + partition-pruned layout ------------------
    "q69_frame_sample"      -> ((s, d) => MultimodalOps.frameSample(s, d)),
    "q70_partitioned_scan"  -> ((s, d) => EventOps.partitionedScan(s, d)),
    // -- n-gram (shingle) Jaccard: order-sensitive dedup, general PPJoin path -
    "q71_ngram_jaccard"     -> ((s, d) => DedupOps.ngramJaccard(s, d)),
    // -- structured streaming (G3): windowed agg + custom state ---------------
    "q50_streaming_hourly"  -> ((s, d) => graft.streaming.EventsStream.hourlyByTypeStreaming(s, d)),
    "q51_streaming_sessions"-> ((s, d) => graft.streaming.SessionStream.sessionsStreaming(s, d)),
    "q72_streaming_late"    -> ((s, d) => graft.streaming.LateSessionStream.sessionsLateStreaming(s, d)),
    "q73_rank_functions"    -> ((s, d) => CoreOps.rankFunctions(s, d)),
    "q74_full_outer"        -> ((s, d) => CoreOps.fullOuterCustomerOrders(s, d)),
    "q75_multiset_ops"      -> ((s, d) => CoreOps.multisetOps(s, d)),
    // -- IVF-probed approximate kNN: the sub-linear ANN search path -----------
    "q76_ivf_knn"           -> ((s, d) => SimilarityOps.ivfKnn(s, d)),
    // -- sliding + session windows (time-window operator family) --------------
    "q77_sliding_hourly"    -> ((s, d) => EventOps.slidingHourly(s, d)),
    "q78_session_windows"   -> ((s, d) => EventOps.sessionWindows(s, d)),
    // -- grouping sets + correlated subqueries (SQL surface) ------------------
    "q79_grouping_sets"     -> ((s, d) => CoreOps.groupingSetsCounts(s, d)),
    "q81_correlated_subq"   -> ((s, d) => CoreOps.correlatedSubqueries(s, d)),
    // -- event-time-timeout sessionization (state finalization + cleanup) -----
    "q80_streaming_timeout" -> ((s, d) => graft.streaming.TimeoutSessionStream.sessionsTimeoutStreaming(s, d)),
    // -- as-of join pushdown showcase (custom-node optimizer rule) ------------
    "q82_asof_filtered"     -> ((s, d) => EventOps.asofAttributionFiltered(s, d)),
    // -- training-data prep: deterministic split, TF-IDF ----------------------
    "q83_train_test_split"  -> ((s, d) => SamplingOps.trainTestSplit(s, d)),
    "q84_tfidf_topterm"     -> ((s, d) => SamplingOps.tfidfTopTerms(s, d)),
    // -- reshape + time-range window frames -----------------------------------
    "q85_unpivot_measures"  -> ((s, d) => CoreOps.unpivotMeasures(s, d)),
    "q86_rolling_spend"     -> ((s, d) => CoreOps.rollingSpend(s, d)),
    // -- stream-stream join + streaming dedup (stateful streaming family) -----
    "q87_stream_join"       -> ((s, d) => graft.streaming.StreamJoinOps.clickAttributionStreaming(s, d)),
    "q88_stream_dedup"      -> ((s, d) => graft.streaming.StreamJoinOps.dedupStreaming(s, d)),
    // -- runtime bloom-filter join (scan-side semi-join reduction) ------------
    "q89_runtime_filter"    -> ((s, d) => CoreOps.runtimeFilterJoin(s, d)),
    // -- higher-order array functions + vector quantization -------------------
    "q90_vector_hof"        -> ((s, d) => SimilarityOps.vectorProfile(s, d)),
    "q95_scalar_quantize"   -> ((s, d) => SimilarityOps.scalarQuantize(s, d)),
    // -- positional tokenization, CSV sink round trip, MapType surface --------
    "q91_pos_tokens"        -> ((s, d) => TextOps.posTokens(s, d)),
    "q92_csv_roundtrip"     -> ((s, d) => EventOps.csvRoundTrip(s, d)),
    "q94_type_map_agg"      -> ((s, d) => EventOps.typeMapAgg(s, d)),
    // -- approximate distinct (HLL sketch; rows-check, error bounded in spec) -
    "q93_approx_distinct"   -> ((s, d) => CoreOps.approxDistinct(s, d)),
    // -- CDC upsert (MERGE shape), stream-static join, approx quantiles ------
    "q96_upsert_merge"      -> ((s, d) => CoreOps.upsertOrders(s, d)),
    "q97_stream_static"     -> ((s, d) => graft.streaming.StreamJoinOps.streamStaticEnrich(s, d)),
    "q98_approx_quantiles"  -> ((s, d) => CoreOps.approxQuantiles(s, d)),
    // -- funnel / sequence analytics ------------------------------------------
    "q99_funnel_stages"     -> ((s, d) => EventOps.funnelStages(s, d)),
    // -- streaming parquet sink (foreachBatch write path) ---------------------
    "q100_stream_sink"      -> ((s, d) => graft.streaming.StreamJoinOps.streamParquetSink(s, d)),
    // -- dedup-cluster resolution (connected components over near-dup pairs) --
    "q101_dedup_clusters"   -> ((s, d) => DedupOps.dedupClusters(s, d)),
    // -- sequence packing via distributed two-pass prefix sum -----------------
    "q102_pack_sequences"   -> ((s, d) => TextOps.packSequences(s, d)),
    // -- source-mixture sampling (deterministic per-source rates) -------------
    "q103_mixture_sample"   -> ((s, d) => SamplingOps.mixtureSample(s, d)),
    // -- Z-order (Morton) multi-dim layout statistics -------------------------
    "q104_zorder_stats"     -> ((s, d) => EventOps.zorderStats(s, d)),
    // -- DataSource V2 custom source with filter/column/limit pushdown --------
    "q105_custom_source"    -> ((s, d) => graft.sources.GraftRangeQueries.bucketAgg(s, d)),
    // -- DSv2 COMPLETE aggregate pushdown (planning-time closed form) ---------
    "q106_pushed_agg"       -> ((s, d) => graft.sources.GraftRangeQueries.pushedAgg(s, d)),
    // -- product quantization (PQ codes + reconstruction error) ---------------
    "q107_pq_codes"         -> ((s, d) => SimilarityOps.pqCodes(s, d)),
    // -- PQ asymmetric-distance (ADC) approximate kNN -------------------------
    "q108_pq_adc_knn"       -> ((s, d) => SimilarityOps.pqAdcKnn(s, d)),
    // -- spark.sql surface: temp views + registered kernels in SQL text -------
    "q109_sql_surface"      -> ((s, d) => SimilarityOps.sqlSurfaceTopNorms(s, d)),
    // -- DSv2 custom SINK: two-phase commit protocol round trip ---------------
    "q110_custom_sink"      -> ((s, d) => graft.sources.GraftSinkQueries.sinkRoundTrip(s, d)),
    // -- bounded-state streaming dedup (dropDuplicatesWithinWatermark) --------
    "q111_stream_dedup_wm"  -> ((s, d) => graft.streaming.StreamJoinOps.dedupWithinWatermarkStreaming(s, d)),
    // -- DSv2 custom STREAMING source with admission control ------------------
    "q112_stream_source"    -> ((s, d) => graft.sources.GraftStreamQueries.streamSourceAgg(s, d)),
    // -- SCD2 history derivation + sweep-line interval concurrency ------------
    "q113_scd2_history"     -> ((s, d) => CoreOps.scd2History(s, d)),
    "q114_transit_sweep"    -> ((s, d) => CoreOps.transitSweep(s, d)),
    // -- intra-doc repetition quality + PII redaction (training-data prep) ----
    "q115_repetition_ngrams"-> ((s, d) => TextOps.repetitionRatio(s, d)),
    "q116_redact_pii"       -> ((s, d) => TextOps.redactPii(s, d)),
    // -- column profiler, HAVING join-back (TPC-H Q18 shape), argmax aggs -----
    "q117_column_profile"   -> ((s, d) => CoreOps.columnProfile(s, d)),
    "q118_big_spenders"     -> ((s, d) => CoreOps.bigSpenderOrders(s, d)),
    "q119_argmax_groups"    -> ((s, d) => CoreOps.argmaxPerGroup(s, d)),
    // -- time-series repair + product analytics -------------------------------
    "q120_forward_fill"     -> ((s, d) => EventOps.forwardFill(s, d)),
    "q121_gapfill_daily"    -> ((s, d) => EventOps.gapfillDaily(s, d)),
    "q122_cohort_retention" -> ((s, d) => EventOps.cohortRetention(s, d)),
    // -- incremental rollup maintenance + sketch-merge rollup -----------------
    "q123_agg_merge"        -> ((s, d) => EventOps.aggMergeRollup(s, d)),
    "q124_hll_rollup"       -> ((s, d) => EventOps.hllRollup(s, d)), // rows-check (sketch estimate)
    // -- multimodal: overlapping-window audio chunking ------------------------
    "q125_audio_chunks"     -> ((s, d) => MultimodalOps.audioChunks(s, d)),
    // -- LATERAL correlated top-k (decorrelated to WindowGroupLimit) ----------
    "q126_lateral_topk"     -> ((s, d) => CoreOps.lateralTopOrders(s, d)),
    // -- VariantType: parse-once semi-structured ingestion --------------------
    "q127_variant_props"    -> ((s, d) => EventOps.variantProps(s, d)),
    // -- secondary sort: ordered per-key scan via sortWithinPartitions --------
    "q128_user_gaps"        -> ((s, d) => EventOps.userGapStats(s, d)),
    // -- NOT IN null-aware anti join vs NOT EXISTS ----------------------------
    "q129_not_in_nullaware" -> ((s, d) => CoreOps.notInNullAware(s, d)),
    // -- dynamic partition overwrite (day-level backfill) ---------------------
    "q130_partition_overwrite" -> ((s, d) => EventOps.partitionOverwrite(s, d)),
    // -- append-mode watermarked windows (finalized-window emission) ----------
    "q131_streaming_append" -> ((s, d) => graft.streaming.EventsStream.hourlyAppendStreaming(s, d)),
    // -- PERMISSIVE malformed-CSV ingestion with quarantine -------------------
    "q132_permissive_csv"   -> ((s, d) => EventOps.permissiveCsv(s, d)),
    // -- sliding-window HLL sketch reuse (rows-check; error spec-bounded) -----
    "q133_hll_sliding"      -> ((s, d) => EventOps.hllSliding(s, d)),
    // -- null-preserving generation (explode_outer vs row-dropping explode) ---
    "q134_explode_outer"    -> ((s, d) => TextOps.explodeOuterTokens(s, d)),
    // -- ANN-gated embedding near-dup (band-OR hyperplane LSH + exact verify) -
    "q135_ann_neardup"      -> ((s, d) => SimilarityOps.annNearDup(s, d)),
    // -- mergeable histogram quantile sketch: merge(partials) ≡ full scan ----
    "q136_quantile_sketch"  -> ((s, d) => EventOps.histQuantileMerge(s, d)),
    // -- grouped t-digest quantiles (rows-check; rank error spec-bounded) ----
    "q137_tdigest"          -> ((s, d) => CoreOps.tdigestQuantiles(s, d)),
    // -- exact mergeable distinct: bitmap rollup, merged == direct ----------
    "q138_bitmap_rollup"    -> ((s, d) => EventOps.bitmapRollup(s, d)),
    // -- train/test trigram contamination audit -----------------------------
    "q139_contamination"    -> ((s, d) => TextOps.contamination(s, d)),
    // -- deterministic portable shard + shuffle for training export ---------
    "q140_shard_shuffle"    -> ((s, d) => SamplingOps.shardShuffle(s, d)),
    // -- uniform per-group sample as a bounded mergeable aggregate ----------
    "q141_group_sample"     -> ((s, d) => SamplingOps.uniformGroupSample(s, d)),
    // -- incremental delta-vs-corpus near-dup (index join, not corpus²) -----
    "q142_delta_neardup"    -> ((s, d) => DedupOps.deltaNearDup(s, d)),
    // -- corpus-level boilerplate gram mass ---------------------------------
    "q143_boilerplate"      -> ((s, d) => TextOps.boilerplateGrams(s, d)),
    // -- co-occurrence communities: DedupOps.components over user pairs -----
    "q144_user_communities" -> ((s, d) => EventOps.userCommunities(s, d)),
    // -- 2D patch-grid tiling (multimodal) ----------------------------------
    "q145_image_tiles"      -> ((s, d) => MultimodalOps.imageTiles(s, d)),
    // -- skew-resilient replicated-salt join --------------------------------
    "q146_salted_join"      -> ((s, d) => CoreOps.saltedJoin(s, d)),
    // -- mergeable Misra-Gries heavy hitters, theorem-envelope oracle -------
    "q147_heavy_hitters"    -> ((s, d) => TextOps.heavyHitters(s, d)),
    // -- cross-doc duplicated-span coverage (exact-substring dedup form) ----
    "q148_dup_spans"        -> ((s, d) => TextOps.dupSpans(s, d)),
    "q149_semantic_clusters" -> ((s, d) => SimilarityOps.semanticClusters(s, d)),
    // -- budget-apportioned per-source sample (exact largest-remainder) -----
    "q150_budget_sample"    -> ((s, d) => SamplingOps.budgetSample(s, d)),
    // -- duplicated-span removal: emit the cleaned corpus, not just coverage -
    "q151_span_removal"     -> ((s, d) => TextOps.spanRemoval(s, d)),
    // -- whole curation pipeline as one plan: per-stage funnel ---------------
    "q152_curation_funnel"  -> ((s, d) => TextOps.curationFunnel(s, d)),
    // -- per-band LSH candidate/recall rollup (measured, not the S-curve) ----
    "q153_lsh_recall"       -> ((s, d) => DedupOps.lshRecallRollup(s, d)),
    // -- aspect-preserving letterbox resize plan (exact integer geometry) ----
    "q154_image_resize"     -> ((s, d) => MultimodalOps.imageResize(s, d)),
    "q155_span_fixpoint"    -> ((s, d) => TextOps.spanRemovalFixpoint(s, d)),
    "q156_resize_exec"      -> ((s, d) => MultimodalOps.imageResizeExec(s, d)),
    // -- retrieval + split hygiene (BM25, eval contamination, leakage-safe split)
    "q157_bm25_topk"           -> ((s, d) => RetrievalOps.bm25TopK(s, d)),
    "q159_embed_contamination" -> ((s, d) => RetrievalOps.embedContamination(s, d)),
    "q160_cluster_safe_split"  -> ((s, d) => RetrievalOps.clusterSafeSplit(s, d)),
    "q161_ivf_recall"          -> ((s, d) => RetrievalOps.ivfRecall(s, d)),
    // -- BPE tokenizer training inner loop (pair-count → argmax → merge, K rounds)
    "q162_bpe_merges"          -> ((s, d) => TextOps.bpeMerges(s, d)),
    "q163_bpe_encode"          -> ((s, d) => TextOps.bpeEncode(s, d)),
    // -- streaming exact distinct via mergeable bitmap state --------------------
    "q164_stream_bitmap_distinct" -> ((s, d) => graft.streaming.EventsStream.bitmapDistinctStreaming(s, d)),
    // -- shuffle-key skew measurement (sizes the q48/q146 salting) --------------
    "q165_key_skew_profile"    -> ((s, d) => CoreOps.keySkewProfile(s, d)),
    // -- deterministic shard manifest (order-independent content checksum) ------
    "q158_export_manifest"     -> ((s, d) => SamplingOps.exportManifest(s, d)),
    // -- daily value/volume drift monitor (pipeline observability) --------------
    "q166_value_drift"         -> ((s, d) => EventOps.valueDrift(s, d)),
    // -- snapshot changelog derivation (full-dump CDC: insert/update/delete) ----
    "q167_snapshot_changelog"  -> ((s, d) => CoreOps.snapshotChangelog(s, d)),
    // -- length-proportional sample without replacement (exponential clocks) ----
    "q168_weighted_sample"     -> ((s, d) => SamplingOps.weightedSample(s, d)),
    // -- integer-exact PageRank over the q144 co-occurrence graph ---------------
    "q169_pagerank"            -> ((s, d) => EventOps.pageRank(s, d)),
    // -- streaming MinHash-LSH near-dup (bucket state across microbatches) ------
    "q170_stream_lsh_neardup"  -> ((s, d) => graft.streaming.DocsStream.lshNearDupStreaming(s, d)),
    // -- quantized Lloyd k-means (engine-identical iterative clustering) --------
    "q171_kmeans"              -> ((s, d) => SimilarityOps.kmeans(s, d)),
    // -- a-priori pruned frequent word-pair mining ------------------------------
    "q172_frequent_pairs"      -> ((s, d) => TextOps.frequentPairs(s, d)),
    // -- count-min sketch point queries, exact-audited --------------------------
    "q173_cms_counts"          -> ((s, d) => EventOps.cmsCounts(s, d)),
    // -- first-order Markov transition model of user behavior -------------------
    "q174_markov_transitions"  -> ((s, d) => EventOps.markovTransitions(s, d)),
    // -- incremental JOINED-view maintenance (merged == direct proof) -----------
    "q175_incremental_view"    -> ((s, d) => EventOps.incrementalViewMerge(s, d)),
    // -- trailing 7-day RANGE window frame on the daily pre-aggregate -----------
    "q176_range_window"        -> ((s, d) => EventOps.rangeWindowSpend(s, d)),
    // -- bucketed co-located fact join: zero join-side shuffles -----------------
    "q177_bucketed_join"       -> ((s, d) => CoreOps.bucketedJoin(s, d)),
    // -- stream-stream LEFT OUTER join (watermark-gated null emission) ----------
    "q178_stream_outer_join"   -> ((s, d) => graft.streaming.StreamJoinOps.clickAttributionOuterStreaming(s, d)),
    // -- linear multi-touch attribution (credit split over the lookback) --------
    "q179_multitouch"          -> ((s, d) => EventOps.multiTouchAttribution(s, d)),
    // -- mergeSchema read over drifting file vintages ---------------------------
    "q180_schema_evolution"    -> ((s, d) => EventOps.schemaEvolution(s, d)),
    // -- streaming Misra-Gries heavy hitters (k counters as streaming state) ----
    "q181_stream_heavy_hitters" -> ((s, d) => graft.streaming.DocsStream.mgHeavyHittersStreaming(s, d)),
    // -- hybrid retrieval: BM25 + kNN reciprocal-rank fusion --------------------
    "q182_hybrid_rrf"          -> ((s, d) => RetrievalOps.hybridRetrieval(s, d)),
    // -- greedy quality-ordered per-source token-budget trim --------------------
    "q183_budget_trim"         -> ((s, d) => TextOps.budgetTrim(s, d)),
    // -- CDC round trip: derived changelog applied == direct new snapshot -------
    "q184_changelog_roundtrip" -> ((s, d) => CoreOps.changelogRoundTrip(s, d)),
    // -- Pearson r from exact mergeable sufficient statistics -------------------
    "q185_exact_corr"          -> ((s, d) => EventOps.exactCorr(s, d)),
    // -- robust median/MAD daily-volume anomaly days ----------------------------
    "q186_mad_anomaly"         -> ((s, d) => EventOps.madAnomalyDays(s, d)),
    // -- perceptual-hash (aHash) media near-dup: banded Hamming join ------------
    "q187_phash_neardup"       -> ((s, d) => MultimodalOps.phashNearDup(s, d)),
    // -- WITH RECURSIVE hierarchy rollup (Spark 4 recursive CTE surface) --------
    "q188_recursive_rollup"    -> ((s, d) => CoreOps.recursiveRollup(s, d)),
    // -- declarative data-quality gate (one conditional-agg scan per table) -----
    "q189_dq_audit"            -> ((s, d) => CoreOps.dqAudit(s, d)),
    // -- scene-cut detection over per-frame fingerprints ------------------------
    "q190_scene_cuts"          -> ((s, d) => MultimodalOps.sceneCuts(s, d)),
    // -- dyadic-weight EWMA daily smoothing (exact-decimal weighted sums) -------
    "q191_ewma_daily"          -> ((s, d) => EventOps.ewmaDaily(s, d)),
    // -- k-anonymity audit with generalization lattice --------------------------
    "q192_k_anonymity"         -> ((s, d) => CoreOps.kAnonymity(s, d)),
    // -- per-group OLS trend from exact sufficient statistics -------------------
    "q193_ols_trend"           -> ((s, d) => EventOps.olsTrend(s, d)),
    // -- stream-stream FULL OUTER interval join (completes q87/q178 family) -----
    "q194_stream_full_outer"   -> ((s, d) => graft.streaming.StreamJoinOps.clickAttributionFullOuterStreaming(s, d)),
    // -- trapezoidal time-weighted average per user ------------------------------
    "q195_time_weighted_avg"   -> ((s, d) => EventOps.timeWeightedAvg(s, d)),
    // -- chi-square contingency drilldown (type x day-of-week) ------------------
    "q196_chi2_cells"          -> ((s, d) => EventOps.chi2Cells(s, d)),
    // -- clamped running balance (floor-at-zero left fold) ----------------------
    "q197_clamped_balance"     -> ((s, d) => EventOps.clampedBalance(s, d)),
    // -- GDPR delete-propagation audit (cascading broadcast anti-joins) ---------
    "q198_gdpr_purge"          -> ((s, d) => CoreOps.gdprPurge(s, d)),
    // -- type inference over a string-rendered landing table --------------------
    "q199_type_inference"      -> ((s, d) => CoreOps.typeInference(s, d)),
    // -- deterministic half-sample bootstrap confidence intervals ---------------
    "q200_bootstrap_ci"        -> ((s, d) => EventOps.bootstrapCI(s, d)),
    // -- CBO join-cardinality estimate vs join-free actual ----------------------
    "q201_join_card"           -> ((s, d) => CoreOps.joinCardEstimate(s, d)),
    // -- burst detection via trailing-60s RANGE frame ---------------------------
    "q202_burst_detect"        -> ((s, d) => EventOps.burstDetect(s, d)),
    // -- funnel stage-transition timing percentiles -----------------------------
    "q203_funnel_timing"       -> ((s, d) => EventOps.funnelTiming(s, d)),
    // -- sampled range-partition planner + balance audit ------------------------
    "q204_range_buckets"       -> ((s, d) => CoreOps.rangeBucketAudit(s, d)),
    // -- Spark 4 transformWithState stateful processor --------------------------
    "q205_tws_spend"           -> ((s, d) => graft.streaming.TwsSpendStream.spendStreaming(s, d)),
    // -- transformWithState event-time timers (q80 semantics, new API) ----------
    "q206_tws_timer_sessions"  -> ((s, d) => graft.streaming.TwsTimerSessionStream.sessionsTimerStreaming(s, d)),
    // -- transformWithState ListState bounded last-K cache ----------------------
    "q207_tws_lastk"           -> ((s, d) => graft.streaming.TwsLastKStream.lastKStreaming(s, d)),
    // -- Markov next-event predictor accuracy (in-sample model eval) ------------
    "q208_markov_accuracy"     -> ((s, d) => EventOps.markovAccuracy(s, d)),
    // -- Wilson-score conversion-rate confidence intervals ----------------------
    "q209_wilson_rates"        -> ((s, d) => CoreOps.wilsonRates(s, d)),
    // -- cross-source token-budget mixing allocation ----------------------------
    "q210_mix_allocation"      -> ((s, d) => TextOps.mixAllocation(s, d)),
    // -- per-dimension embedding feature-scaling stats --------------------------
    "q211_feature_scaling"     -> ((s, d) => SimilarityOps.featureScaling(s, d)),
    // -- triangle counting + clustering coefficients ----------------------------
    "q212_triangles"           -> ((s, d) => EventOps.triangleStats(s, d)),
    // -- canonical representative per duplicate group ---------------------------
    "q213_canonical_pick"      -> ((s, d) => TextOps.canonicalPick(s, d)),
    // -- rendezvous-hash shard rebalance audit ----------------------------------
    "q214_rendezvous"          -> ((s, d) => CoreOps.rendezvousRebalance(s, d)),
    // -- mutual nearest neighbors (reciprocal best match) -----------------------
    "q215_mutual_nn"           -> ((s, d) => SimilarityOps.mutualNearestNeighbors(s, d)),
    // -- A/B sample-ratio-mismatch guard ----------------------------------------
    "q216_srm_check"           -> ((s, d) => EventOps.srmCheck(s, d)),
    // -- chained stateful streaming: dedup -> windowed agg ----------------------
    "q217_stream_dedup_agg"    -> ((s, d) => graft.streaming.StreamJoinOps.dedupThenHourly(s, d)),
    // -- Pareto-frontier (skyline) document selection ---------------------------
    "q218_pareto_docs"         -> ((s, d) => TextOps.paretoDocs(s, d)),
    // -- daily-volume autocorrelation (weekly-seasonality detection) ------------
    "q219_autocorr"            -> ((s, d) => EventOps.volumeAutocorr(s, d)),
    // -- posting-list delta-varint compression estimate -------------------------
    "q220_index_compression"   -> ((s, d) => TextOps.indexCompression(s, d)),
    // -- SCD2 point-in-time reconstruction (self-verifying as-of read) ----------
    "q221_scd2_asof"           -> ((s, d) => CoreOps.scd2AsOf(s, d)),
    // -- proportional interleave (stride-scheduling) audit ----------------------
    "q222_interleave_audit"    -> ((s, d) => TextOps.interleaveAudit(s, d)),
    // -- decile-bucket distribution drift (shape drift, not mean drift) ---------
    "q223_decile_drift"        -> ((s, d) => CoreOps.decileDrift(s, d)),
    // -- relational Bloom filter with hash-matched FP count ---------------------
    "q224_bloom_membership"    -> ((s, d) => CoreOps.bloomMembership(s, d)),
    // -- CUPED variance-reduced A/B readout -------------------------------------
    "q225_cuped"               -> ((s, d) => EventOps.cupedAdjust(s, d)),
    // -- Benford first-digit audit ----------------------------------------------
    "q226_benford"             -> ((s, d) => CoreOps.benfordAudit(s, d)),
    // -- label-centroid affinity matrix (domain-shift map) ----------------------
    "q227_label_affinity"      -> ((s, d) => SimilarityOps.labelAffinity(s, d)),
    // -- temporal sequence-pair mining (A then B within 10 min) -----------------
    "q228_seq_patterns"        -> ((s, d) => EventOps.sequencePatterns(s, d)),
    // -- multi-level share-of-parent rollup -------------------------------------
    "q229_share_of_parent"     -> ((s, d) => CoreOps.shareOfParent(s, d)),
    // -- inter-source duplication overlap matrix --------------------------------
    "q230_source_overlap"      -> ((s, d) => TextOps.sourceOverlap(s, d)),
    // -- Zipf head/torso/tail vocabulary segmentation ---------------------------
    "q231_vocab_segments"      -> ((s, d) => TextOps.vocabSegments(s, d)),
    // -- discrete survival/hazard table with right-censoring --------------------
    "q232_survival"            -> ((s, d) => EventOps.survivalTable(s, d)),
    // -- two-sample Kolmogorov-Smirnov drift test -------------------------------
    "q233_ks_test"             -> ((s, d) => CoreOps.ksTest(s, d)),
    // -- Mann-Whitney U rank-sum test (exact doubled ranks) ---------------------
    "q234_mann_whitney"        -> ((s, d) => CoreOps.mannWhitney(s, d)),
    // -- RFM customer segmentation (deterministic quintiles) --------------------
    "q235_rfm_segments"        -> ((s, d) => CoreOps.rfmSegments(s, d)),
    // -- cohort LTV accumulation curves -----------------------------------------
    "q236_cohort_ltv"          -> ((s, d) => EventOps.cohortLtv(s, d)),
    // -- transformWithState MapState per-type counter profile -------------------
    "q237_tws_type_profile"    -> ((s, d) => graft.streaming.TwsMapStateStream.typeProfileStreaming(s, d)),
    // -- MMR diversified re-ranking of the kNN candidate list -------------------
    "q238_mmr_rerank"          -> ((s, d) => RetrievalOps.mmrRerank(s, d)),
    // -- custom broadcast merge interval join (q64 semantics, new operator) -----
    "q239_interval_join"       -> ((s, d) => CoreOps.intervalJoinMonthly(s, d)),
    // -- declarative session_window streaming sessionization --------------------
    "q240_session_window"      -> ((s, d) => graft.streaming.EventsStream.sessionWindowStreaming(s, d)),
    // -- small-file compaction planner (next-fit-decreasing bin packing) --------
    "q241_compaction_plan"     -> ((s, d) => SamplingOps.compactionPlan(s, d)),
    // -- exact distributed weighted quantiles (PrefixSum crossing rows) ---------
    "q242_weighted_quantiles"  -> ((s, d) => WeightedQuantiles.weightedPriceQuantiles(s, d)),
    // -- CUSUM sequential change-point detection (clamped integer fold) ---------
    "q243_cusum"               -> ((s, d) => EventOps.cusumChangePoints(s, d)),
    // -- audience-overlap Jaccard matrix (exact inclusion-exclusion) ------------
    "q244_audience_overlap"    -> ((s, d) => EventOps.audienceOverlap(s, d)),
    // -- session entry-path mining (first-3-type sequences) ---------------------
    "q245_session_paths"       -> ((s, d) => EventOps.sessionPaths(s, d)),
    // -- EXACT sliding 7-day distinct via OR-merged daily bitmaps ---------------
    "q246_bitmap_sliding"      -> ((s, d) => EventOps.bitmapSliding(s, d)),
    // -- anti-entropy replica divergence + repair pricing -----------------------
    "q247_replica_divergence"  -> ((s, d) => SamplingOps.replicaDivergence(s, d)),
    // -- Cohen's kappa for the q31 language-ID classifier -----------------------
    "q248_kappa_langid"        -> ((s, d) => TextOps.kappaLangId(s, d)),
    // -- nearest-event attribution (custom as-of operator, both directions) -----
    "q249_nearest_attribution" -> ((s, d) => EventOps.nearestAttribution(s, d)),
    // -- percentile-rank quality normalization (bounded-domain ranks) -----------
    "q250_quality_percentiles" -> ((s, d) => TextOps.qualityPercentiles(s, d)),
    // -- linear-interpolation imputation over the date spine --------------------
    "q251_interpolate_daily"   -> ((s, d) => EventOps.interpolateDaily(s, d)),
    // -- also-bought basket association (support/confidence/lift) ---------------
    "q252_also_bought"         -> ((s, d) => CoreOps.alsoBought(s, d)),
    // -- time-decay multi-touch attribution (exact dyadic weights) --------------
    "q253_timedecay_attribution" -> ((s, d) => EventOps.timeDecayAttribution(s, d)),
    // -- grouped exact weighted quantiles (partitioned cumulative weights) ------
    "q254_grouped_wquantiles"  -> ((s, d) => WeightedQuantiles.groupedWeightedQuantiles(s, d)),
    // -- zone-map min/max skipping-effectiveness audit --------------------------
    "q255_zonemap_audit"       -> ((s, d) => CoreOps.zoneMapAudit(s, d)),
    // -- asymmetric containment near-dup (quote/subset detection) ---------------
    "q256_containment"         -> ((s, d) => DedupOps.containmentPairs(s, d)),
    // -- supplier ship-lag scorecard (mean/p90/Wilson-bounded slow rate) --------
    "q257_supplier_scorecard"  -> ((s, d) => CoreOps.supplierScorecard(s, d)),
    // -- daily growth accounting (new/returning/resurrected/churned) ------------
    "q258_growth_accounting"   -> ((s, d) => EventOps.growthAccounting(s, d)),
    // -- vocabulary drift between ingest batches (per-term chi-square) ----------
    "q259_vocab_drift"         -> ((s, d) => TextOps.vocabDrift(s, d)),
    // -- dataset card: one-page corpus summary ----------------------------------
    "q260_dataset_card"        -> ((s, d) => TextOps.datasetCard(s, d)),
    // -- KEYED merge interval join: SCD2 regime attribution (no broadcast) ------
    "q261_scd2_interval_attr"  -> ((s, d) => CoreOps.scd2IntervalAttribution(s, d)),
    // -- LEFT-OUTER keyed interval join: historical vs CURRENT revenue split ----
    "q262_scd2_regime_outer"   -> ((s, d) => CoreOps.scd2RegimeOuter(s, d)),
    // -- KMV distinct sketch (custom aggregate) audited vs exact ----------------
    "q263_kmv_distinct"        -> ((s, d) => SamplingOps.kmvDistinct(s, d)),
    // -- bigram-LM perplexity quality filter (CCNet-style, era-split train) -----
    "q264_bigram_lm"           -> ((s, d) => TextOps.bigramLmScore(s, d)),
    // -- FULL-outer keyed interval join: SCD2 coverage audit (3-bucket) ---------
    "q265_scd2_coverage"       -> ((s, d) => CoreOps.scd2CoverageAudit(s, d)),
    // -- temperature-scaled mixture epoch table (repetition-risk audit) ---------
    "q266_mixture_epochs"      -> ((s, d) => TextOps.mixtureEpochs(s, d)),
    // -- per-source character-entropy quality signal (gibberish detector) -------
    "q267_char_entropy"        -> ((s, d) => TextOps.charEntropy(s, d)),
    // -- robust (10%-trimmed) per-source quality means ---------------------------
    "q268_trimmed_quality"     -> ((s, d) => TextOps.trimmedQuality(s, d)),
    // -- per-label embedding dispersion (representation-collapse audit) ---------
    "q269_label_dispersion"    -> ((s, d) => SimilarityOps.labelDispersion(s, d)),
    // -- context-length sizing: truncation/padding waste per candidate L --------
    "q270_context_sizing"      -> ((s, d) => TextOps.contextSizing(s, d)),
    // -- per-source unigram KL skew vs the corpus distribution -------------------
    "q271_source_kl_skew"      -> ((s, d) => TextOps.sourceKlSkew(s, d)),
    // -- KMV sketch set operations: pairwise overlap estimates vs exact ---------
    "q272_kmv_overlap"         -> ((s, d) => SamplingOps.kmvOverlap(s, d)),
    // -- dedup retention-bias per source (curation governance) ------------------
    "q273_retention_bias"      -> ((s, d) => TextOps.retentionBias(s, d)),
    // -- per-source token-mass Gini (exact order-statistics concentration) ------
    "q274_token_gini"          -> ((s, d) => TextOps.tokenGini(s, d)),
    // -- per-source Zipf slope (lexical-diversity OLS on ln rank/ln freq) -------
    "q275_zipf_slope"          -> ((s, d) => TextOps.zipfSlope(s, d)),
    // -- IVF recall-vs-nprobe tuning curve (one candidate scan, all points) -----
    "q276_ivf_probe_curve"     -> ((s, d) => RetrievalOps.ivfProbeCurve(s, d)),
    // -- Davies-Bouldin cluster-quality audit over the label clusters -----------
    "q277_cluster_quality"     -> ((s, d) => SimilarityOps.clusterQuality(s, d)),
    // -- sequence-packing straddle curve (chunking's cost per candidate L) ------
    "q278_pack_straddle"       -> ((s, d) => TextOps.packStraddle(s, d)),
    // -- scalar-quantization recall/error curve (8/4/2-bit asymmetric search) ---
    "q279_sq_recall_curve"     -> ((s, d) => RetrievalOps.sqRecallCurve(s, d)),
    // -- embedding dedup threshold-sensitivity table ----------------------------
    "q280_dedup_thresholds"    -> ((s, d) => SimilarityOps.dedupThresholdCurve(s, d)),
    // -- rolling-origin forecast backtest (trend vs persistence skill) ----------
    "q281_forecast_backtest"   -> ((s, d) => EventOps.forecastBacktest(s, d)),
    // -- multi-source BFS hop distances over the co-occurrence graph ------------
    "q282_bfs_reach"           -> ((s, d) => EventOps.bfsReach(s, d)),
    // -- graph-health profile: degrees + assortativity --------------------------
    "q283_graph_profile"       -> ((s, d) => EventOps.graphProfile(s, d)),
    // -- optimizer-rewritten count(DISTINCT) → KMV sketch (flag-gated rule) -----
    "q284_kmv_rewrite"         -> ((s, d) => SamplingOps.kmvRewriteDistinct(s, d)),
    // -- PMI collocation mining (word2vec phrase detection) ----------------------
    "q285_collocations"        -> ((s, d) => TextOps.collocations(s, d)),
    // -- mutual information / NMI between event type and hour -------------------
    "q286_mutual_info"         -> ((s, d) => EventOps.mutualInfo(s, d)),
    // -- sorted-neighborhood blocking dedup (third blocking family) -------------
    "q287_sorted_neighborhood" -> ((s, d) => DedupOps.sortedNeighborhood(s, d)),
    // -- Welch unequal-variance t-test on the A/B arms ---------------------------
    "q288_welch_ttest"         -> ((s, d) => EventOps.welchTtest(s, d)),
    // -- TextRank keyword extraction (weighted PageRank on the word graph) -------
    "q289_textrank"            -> ((s, d) => TextOps.textRank(s, d)),
    // -- cross-source quantile normalization of the length distribution ---------
    "q290_quantile_norm"       -> ((s, d) => TextOps.quantileNormalize(s, d)),
    // -- Heaps'-law vocabulary-growth exponent per source ------------------------
    "q291_heaps_law"           -> ((s, d) => TextOps.heapsLaw(s, d)),
    // -- per-doc 8-gram novelty (memorization-risk score) ------------------------
    "q292_ngram_novelty"       -> ((s, d) => TextOps.ngramNovelty(s, d)),
    // -- distributed PCA top component (integer scatter + power iteration) -------
    "q293_pca_power"           -> ((s, d) => SimilarityOps.pcaPower(s, d)),
    // -- Chao1/Good-Turing unseen-vocabulary estimate per source -----------------
    "q294_chao1_vocab"         -> ((s, d) => TextOps.chao1Vocab(s, d)),
    // -- per-source embedding centroid drift (linear-kernel MMD²) ----------------
    "q295_centroid_drift"      -> ((s, d) => SimilarityOps.centroidDrift(s, d)),
    // -- farthest-point k-center coreset (diversity sampling) --------------------
    "q296_kcenter_coreset"     -> ((s, d) => SamplingOps.kcenterCoreset(s, d)),
    // -- Neyman variance-optimal stratified allocation vs proportional -----------
    "q297_neyman_alloc"        -> ((s, d) => SamplingOps.neymanAllocation(s, d)),
    // -- rank-aware retrieval eval: MRR + nDCG@k of the IVF index ----------------
    "q298_retrieval_ndcg"      -> ((s, d) => RetrievalOps.retrievalRankMetrics(s, d)),
    // -- Mann-Kendall monotone-trend test on per-type daily volumes --------------
    "q299_mann_kendall"        -> ((s, d) => EventOps.mannKendall(s, d)),
    // -- Spearman rank correlation of source vocabularies (head words) -----------
    "q300_spearman_sources"    -> ((s, d) => TextOps.spearmanSources(s, d)),
    // -- k-core peeling curve on the co-occurrence graph -------------------------
    "q301_kcore_peel"          -> ((s, d) => EventOps.kcorePeel(s, d)),
    // -- stratified k-fold CV assignment + fold-balance chi-square ---------------
    "q302_kfold_assign"        -> ((s, d) => SamplingOps.kfoldAssign(s, d)),
    // -- Hill tail-index of the document-length distribution ---------------------
    "q303_hill_tail"           -> ((s, d) => TextOps.hillTail(s, d)),
    // -- KMV rewrite, multi-column arm: count(DISTINCT user_id, event_type) ------
    "q304_kmv_rewrite_tuple"   -> ((s, d) => SamplingOps.kmvRewriteTuple(s, d)),
    // -- pairwise 1-D Wasserstein between source length distributions ------------
    "q305_wasserstein_lengths" -> ((s, d) => TextOps.wassersteinLengths(s, d)),
    // -- SRP bit-sketch calibration: Hamming-vs-cosine agreement curve -----------
    "q306_srp_calibration"     -> ((s, d) => SimilarityOps.srpCalibration(s, d)),
    // -- the calibration DEPLOYED: q135 with the SRP Hamming candidate gate ------
    "q307_srp_gated_neardup"   -> ((s, d) => SimilarityOps.srpGatedNearDup(s, d)),
    // -- per-threshold gate decision table over q135's candidate set -------------
    "q308_srp_gate_report"     -> ((s, d) => SimilarityOps.srpGateReport(s, d)),
    // -- range-partitioned KEYLESS interval join (q64 semantics, 3rd shape) ------
    "q309_range_interval_join" -> ((s, d) => CoreOps.rangeIntervalMonthly(s, d)),
    // -- its big-interval-side consumer: keyless outage-window attribution -------
    "q310_outage_attribution"  -> ((s, d) => CoreOps.supplierOutageAttribution(s, d)),
    // -- the q263 KMV sketch as streaming aggregation state (q263 twin verbatim) -
    "q311_stream_kmv_distinct" -> ((s, d) => graft.streaming.EventsStream.kmvDistinctStreaming(s, d)),
    // -- right-outer keyless range interval join: quiet-window coverage audit ----
    "q314_outage_coverage"     -> ((s, d) => CoreOps.supplierOutageCoverage(s, d)),
    // -- Fellegi-Sunter record linkage on a derived perturbed-entity table -------
    "q312_record_linkage"      -> ((s, d) => LinkageOps.recordLinkage(s, d)),
    // -- its trained model: per-field m/u counts and smoothed log-weights --------
    "q313_linkage_weights"     -> ((s, d) => LinkageOps.linkageWeights(s, d)),
    // -- golden records: match pairs closed into entity clusters + survivorship --
    "q315_golden_records"      -> ((s, d) => LinkageOps.goldenRecords(s, d)),
    // -- REAL codec in the oracle loop: render PNGs, decode, checksum pixels -----
    "q316_png_roundtrip"       -> ((s, d) => MultimodalOps.pngRoundtrip(s, d)),
    // -- incremental linkage: delta batch vs corpus under the FROZEN weights -----
    "q317_delta_linkage"       -> ((s, d) => LinkageOps.deltaLinkage(s, d)),
    // -- custom-node filter pushdown: predicate above the interval join -> scan --
    "q318_interval_filtered"   -> ((s, d) => CoreOps.intervalJoinFiltered(s, d)),
    // -- near-dup at the REAL dedup threshold (0.9) over a derived-dup corpus ----
    "q319_derived_neardup"     -> ((s, d) => SimilarityOps.derivedNearDup(s, d)),
    // -- graded (Winkler-style) agreement linkage: JW close level on the addr ----
    "q320_graded_linkage"      -> ((s, d) => LinkageOps.gradedLinkage(s, d)),
    // -- q319 with the 64-bit SRP gate ARMED (oracle = q319's, verbatim) ---------
    "q321_srp64_gated_neardup" -> ((s, d) => SimilarityOps.srp64GatedDerivedNearDup(s, d)),
    // -- the 64-bit gate's measurement row: recall, cut fraction, preservation ---
    "q322_srp64_gate_report"   -> ((s, d) => SimilarityOps.srp64GateReport(s, d)),
    // -- SALTED keyed interval join: q261's oracle verbatim, hot-key fan-out -----
    "q323_scd2_salted"         -> ((s, d) => CoreOps.scd2IntervalAttributionSalted(s, d)),
    // -- INCREMENTAL gated near-dup: today's batch vs corpus, cost ∝ delta -------
    "q324_delta_gated_neardup" -> ((s, d) => SimilarityOps.deltaGatedNearDup(s, d)),
    // -- the same shape STREAMING: landing-dir microbatches vs static corpus -----
    "q325_stream_delta_neardup" -> ((s, d) => graft.streaming.EmbeddingStream.deltaGatedNearDupStreaming(s, d)),
    // -- as-of with a reporting cutoff: the ts<=U bound mirrors to BOTH scans -----
    "q326_asof_bounded"        -> ((s, d) => EventOps.asofAttributionBounded(s, d)),
    // -- the same incremental near-dup against a STORED bucketed band index ------
    "q327_band_index_probe"    -> ((s, d) => SimilarityOps.indexProbeNearDup(s, d)),
    // -- q265's full-outer coverage audit through the SALTED path ----------------
    "q328_scd2_salted_full"    -> ((s, d) => CoreOps.scd2CoverageAuditSalted(s, d)),
    // -- sketch WIDTH vs THRESHOLD: 16 vs 64 bits on the original 0.35 corpus ----
    "q329_srp_width_report"    -> ((s, d) => SimilarityOps.srpWidthReport(s, d)),
    // -- band-index MERGE: delta appended into the bucketed index, then probed ---
    "q330_band_index_merge"    -> ((s, d) => SimilarityOps.indexMergeProbeNearDup(s, d)),
    // -- ADAPTIVE salt, armed: measured hot key fans out, full-outer recovery ----
    "q331_salted_adaptive"     -> ((s, d) => CoreOps.adaptiveSaltedHotKeyAudit(s, d)),
    // -- AUTO gate width from θ alone: no flags, arms 64-bit@24 at θ=0.9 ---------
    "q332_auto_gated_neardup"  -> ((s, d) => SimilarityOps.derivedAutoGatedNearDup(s, d)),
    // -- index COMPACTION: build → 3 merges → compact to 1 file/bucket → probe ---
    "q333_band_index_compact"  -> ((s, d) => SimilarityOps.indexCompactProbeNearDup(s, d)),
    // -- ADAPTIVE two-phase agg: measured straggler ratio arms the salt phase ----
    "q334_salted_agg_adaptive" -> ((s, d) => CoreOps.adaptiveSaltedAgg(s, d)),
    // -- range-mode hot-bucket split ARMED: 90% point mass fans out, measured ----
    "q335_outage_hot_window"   -> ((s, d) => CoreOps.supplierOutageHotWindow(s, d)),
    // -- gate-width decision table MEASURED on the θ=0.65 band (both disarm) -----
    "q336_srp_width_decision"  -> ((s, d) => SimilarityOps.srpWidthDecisionReport(s, d)),
    // -- 16-bit auto gate armed where it meets the exact-tail standard: θ=0.9995 -
    "q337_near_exact_gated"    -> ((s, d) => SimilarityOps.nearExactAutoGatedNearDup(s, d)),
    // -- INCREMENTAL CC: delta edges contracted onto yesterday's labels ----------
    "q338_incremental_cc"      -> ((s, d) => SimilarityOps.semanticClustersIncremental(s, d)),
    // -- the NIGHTLY pipeline composed: index probe → delta edges → incr. CC -----
    "q339_nightly_dedup"       -> ((s, d) => SimilarityOps.nightlyDedupPipeline(s, d)),
    // -- the r12-advice boundary: θ=0.998 now takes the 64-bit arm (width 9) -----
    "q340_near_exact_srp64"    -> ((s, d) => SimilarityOps.nearExact998GatedNearDup(s, d)),
    // -- incremental CC composes across nights: 2 chained deltas ≡ full truth ----
    "q341_two_day_incremental" -> ((s, d) => SimilarityOps.semanticClustersTwoDay(s, d)),
    // -- MANIFEST-versioned index: pointer flip, predecessor retained, no swap ---
    "q342_manifest_index"      -> ((s, d) => SimilarityOps.indexManifestProbeNearDup(s, d)),
    // -- index-backed k-NN: top-k corpus neighbors per delta vector, exact twin --
    "q343_index_knn"           -> ((s, d) => SimilarityOps.indexKnnDelta(s, d)),
    // -- SRP band-index recall@k vs exact top-k (the q161 audit, band family) ----
    "q344_band_recall"         -> ((s, d) => SimilarityOps.bandIndexRecall(s, d)),
  )

  /** DuckDB-runnable ANSI SQL twin for each query (driver oracle). */
  def oracleSql: Map[String, String] = Map(
    "q01_pricing_summary" ->
      """SELECT l_returnflag, l_linestatus,
        | round(CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE), 2) AS sum_qty,
        | round(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE), 2) AS sum_base_price,
        | CAST(sum(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS sum_disc_price,
        | CAST(floor((CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / count(*)) * 10000.0 + 0.5) AS DOUBLE) / 10000.0 AS avg_qty,
        | CAST(floor((CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) / count(*)) * 10000.0 + 0.5) AS DOUBLE) / 10000.0 AS avg_price,
        | count(*) AS count_order
        |FROM lineitem GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "q02_priority_agg" ->
      """SELECT o_orderpriority, count(*) AS vacancy_count,
        | CAST(floor((CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) / count(*)) + 0.5) AS DOUBLE) AS avg_price
        |FROM orders GROUP BY 1 ORDER BY vacancy_count DESC, o_orderpriority LIMIT 20""".stripMargin,
    "q03_revenue_by_nation" ->
      """SELECT n_name,
        | CAST(sum(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS revenue,
        | count(*) AS n_items
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        | JOIN customer ON o_custkey = c_custkey
        | JOIN nation ON c_nationkey = n_nationkey
        | JOIN region ON n_regionkey = r_regionkey
        |GROUP BY 1 ORDER BY n_items DESC, n_name""".stripMargin,
    "q04_market_share" ->
      """SELECT o_orderpriority, vacancy_count,
        | CAST(floor((vacancy_count * CAST(100.0 AS DOUBLE) / sum(vacancy_count) OVER ()) * 10.0 + 0.5) AS DOUBLE) / 10.0 AS market_share_pct
        |FROM (SELECT o_orderpriority, count(*) AS vacancy_count FROM orders
        |      WHERE o_orderpriority NOT IN ('4-NOT SPECIFIED') GROUP BY 1)
        |ORDER BY vacancy_count DESC, o_orderpriority""".stripMargin,
    "q05_topk_brand_pct" ->
      """SELECT p_brand, cnt, CAST(floor((cnt * CAST(100.0 AS DOUBLE) / total) * 10.0 + 0.5) AS DOUBLE) / 10.0 AS pct
        |FROM (SELECT p_brand, count(*) AS cnt, sum(count(*)) OVER () AS total FROM part GROUP BY 1)
        |ORDER BY cnt DESC, p_brand LIMIT 10""".stripMargin,
    "q06_conditional_rate" ->
      """SELECT o_orderstatus, count(*) AS total,
        | CAST(sum(CASE WHEN o_orderpriority NOT IN ('3-MEDIUM','4-NOT SPECIFIED') THEN 1 ELSE 0 END) AS BIGINT) AS classified,
        | CAST(floor((sum(CASE WHEN o_orderpriority NOT IN ('3-MEDIUM','4-NOT SPECIFIED') THEN 1 ELSE 0 END) * CAST(100.0 AS DOUBLE) / count(*)) * 10.0 + 0.5) AS DOUBLE) / 10.0 AS success_rate_pct
        |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin,
    "q07_failing_examples" ->
      """SELECT p_partkey,
        | CASE WHEN length(p_name) > 8 THEN substring(p_name, 1, 8) || '...' ELSE p_name END AS example
        |FROM part WHERE p_type = 'ECONOMY' ORDER BY p_partkey LIMIT 10""".stripMargin,
    "q08_rollup_counts" ->
      """SELECT o_orderstatus, o_orderpriority, count(*) AS cnt
        |FROM orders GROUP BY ROLLUP(o_orderstatus, o_orderpriority)
        |ORDER BY o_orderstatus NULLS FIRST, o_orderpriority NULLS FIRST""".stripMargin,
    "q09_union_dedup" ->
      """SELECT l_returnflag, count(*) AS cnt
        |FROM (SELECT DISTINCT * FROM (SELECT * FROM lineitem UNION ALL SELECT * FROM lineitem))
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "q10_dedup_by_key" ->
      """SELECT l_orderkey, l_linenumber, l_partkey FROM (
        | SELECT l_orderkey, l_linenumber, l_partkey,
        |  row_number() OVER (PARTITION BY l_orderkey ORDER BY l_linenumber, l_partkey, l_suppkey) AS rn
        | FROM lineitem) WHERE rn = 1 ORDER BY l_orderkey""".stripMargin,
    "q11_distinct_keys" ->
      """SELECT DISTINCT trim(p_name) AS key FROM part WHERE trim(p_name) <> '' ORDER BY key""",
    "q12_semi_join" ->
      """SELECT o_orderkey, o_orderpriority FROM orders
        |WHERE EXISTS (SELECT 1 FROM lineitem WHERE l_orderkey = o_orderkey AND l_quantity >= 49.0)
        |ORDER BY o_orderkey""".stripMargin,
    "q13_anti_join" ->
      """SELECT c_custkey, c_name, c_mktsegment FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM orders
        |                  WHERE o_custkey = c_custkey AND o_orderpriority = '1-URGENT')
        |ORDER BY c_custkey""".stripMargin,
    "q14_top_per_priority" ->
      """SELECT o_orderpriority, rk, o_orderkey, o_totalprice FROM (
        | SELECT o_orderpriority, o_orderkey, o_totalprice,
        |  row_number() OVER (PARTITION BY o_orderpriority ORDER BY o_totalprice DESC, o_orderkey) AS rk
        | FROM orders) WHERE rk <= 3 ORDER BY o_orderpriority, rk""".stripMargin,
    "q15_events_json" ->
      """SELECT event_type, count(*) AS n,
        | CAST(sum(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
        | CAST(floor((sum(CAST(json_extract_string(props, '$.k') AS BIGINT)) * CAST(1.0 AS DOUBLE) / count(*)) * 10000.0 + 0.5) AS DOUBLE) / 10000.0 AS avg_k
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin,
    "q16_hourly_by_type" ->
      """SELECT date_trunc('hour', ts) AS hour, event_type, count(*) AS n,
        | round(CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE), 2) AS sum_value
        |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "q17_user_activity" ->
      """SELECT user_id, count(*) AS n_events, count(DISTINCT event_type) AS n_types,
        | date_trunc('minute', min(ts)) AS first_minute,
        | date_trunc('minute', max(ts)) AS last_minute
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin,
    "q18_session_counts" -> EventOps.sessionCountsOracle,
  ) ++ EnrichOps.oracle ++ Map(
    "q22_pipeline_e2e" -> graft.pipeline.Pipeline.pipelineOracleSql,
  ) ++ TextOps.oracle ++ DedupOps.oracle ++ SimilarityOps.oracle ++
    MultimodalOps.oracle ++ SamplingOps.oracle ++ RetrievalOps.oracle ++ Map(
    "q46_safe_json_chain" ->
      """SELECT event_type, count(*) AS n_rows,
        | CAST(2 * count(*) AS BIGINT) AS n_parsed,
        | CAST(2 * sum(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin,
    "q48_salted_agg" ->
      """SELECT o_orderpriority, count(*) AS cnt,
        | CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_price
        |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin,
    "q146_salted_join" ->
      """SELECT s_nationkey, count(*) AS n_items,
        | CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
        |FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    // sketch-envelope oracles: the estimate's documented error bound is a
    // boolean the SQL asserts TRUE; exact values hash-check alongside
    "q93_approx_distinct" ->
      """SELECT event_type, count(*) AS n,
        | count(DISTINCT user_id) AS n_users_exact, TRUE AS approx_ok
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin,
    "q98_approx_quantiles" ->
      s"""SELECT l_returnflag,
         | ${graft.ops.OracleMath.stableRoundSql("quantile_cont(l_extendedprice, 0.5)", 4)} AS median_exact,
         | TRUE AS approx_ok, count(*) AS n
         |FROM lineitem GROUP BY 1 ORDER BY 1""".stripMargin,
    "q124_hll_rollup" ->
      """SELECT date_trunc('month', ts) AS month, event_type,
        | count(DISTINCT user_id) AS exact_users, TRUE AS est_ok
        |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "q133_hll_sliding" ->
      """WITH days AS (SELECT DISTINCT date_trunc('day', ts) AS day FROM events),
        |wd AS (SELECT unnest(generate_series(day, day + INTERVAL 6 DAY, INTERVAL 1 DAY)) AS wend, day
        |       FROM days),
        |nd AS (SELECT wend, count(*) AS n_days FROM wd GROUP BY 1),
        |ev AS (SELECT DISTINCT date_trunc('day', ts) AS day, user_id FROM events),
        |ex AS (SELECT wend, count(DISTINCT user_id) AS exact_users FROM
        |  (SELECT unnest(generate_series(day, day + INTERVAL 6 DAY, INTERVAL 1 DAY)) AS wend, user_id
        |   FROM ev) GROUP BY 1)
        |SELECT nd.wend AS wend, n_days, exact_users, TRUE AS est_ok
        |FROM nd JOIN ex USING (wend) JOIN days ON days.day = nd.wend
        |ORDER BY wend""".stripMargin,
    "q137_tdigest" ->
      """SELECT l_returnflag, TRUE AS ok50, TRUE AS ok90, count(*) AS n
        |FROM lineitem GROUP BY 1 ORDER BY 1""".stripMargin,
    "q52_quantiles" ->
      s"""SELECT l_returnflag,
         | ${graft.ops.OracleMath.stableRoundSql("quantile_cont(l_quantity, 0.5)", 4)} AS median_qty,
         | ${graft.ops.OracleMath.stableRoundSql("quantile_cont(l_extendedprice, 0.9)", 4)} AS p90_price,
         | count(*) AS n
         |FROM lineitem GROUP BY 1 ORDER BY 1""".stripMargin,
    "q53_fuzzy_pairs" ->
      """SELECT a.p_name AS name_a, b.p_name AS name_b,
        | CAST(levenshtein(a.p_name, b.p_name) AS BIGINT) AS dist
        |FROM (SELECT DISTINCT p_name FROM part) a
        |JOIN (SELECT DISTINCT p_name FROM part) b ON a.p_name < b.p_name
        |WHERE levenshtein(a.p_name, b.p_name) <= 3
        |ORDER BY name_a, name_b""".stripMargin,
    "q54_monthly_orders" ->
      """SELECT date_trunc('month', o_orderdate) AS month, count(*) AS n_orders,
        | CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
        |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin,
    "q55_customer_set_ops" ->
      """SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'
        |INTERSECT
        |SELECT o_custkey FROM orders WHERE o_orderstatus = 'O'
        |EXCEPT
        |SELECT o_custkey FROM orders WHERE o_orderstatus = 'P'
        |ORDER BY o_custkey""".stripMargin,
    "q60_json_roundtrip" ->
      """SELECT event_type, count(*) AS n,
        | CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin,
    "q62_pivot_counts" ->
      """SELECT o_orderpriority,
        | CAST(sum(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END) AS BIGINT) AS n_f,
        | CAST(sum(CASE WHEN o_orderstatus = 'O' THEN 1 ELSE 0 END) AS BIGINT) AS n_o,
        | CAST(sum(CASE WHEN o_orderstatus = 'P' THEN 1 ELSE 0 END) AS BIGINT) AS n_p
        |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin,
    "q63_running_window" ->
      """SELECT o_custkey, o_orderkey,
        | CAST(row_number() OVER w AS BIGINT) AS seq,
        | CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) OVER w AS DOUBLE) AS running_spend,
        | coalesce(CAST(lag(CAST(o_totalprice AS DECIMAL(18,2)), 1) OVER w AS DOUBLE), 0.0) AS prev_price
        |FROM orders
        |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
        |ORDER BY o_custkey, seq""".stripMargin,
    // DuckDB regenerates the custom source's deterministic rows from range()
    "q105_custom_source" -> graft.sources.GraftRangeQueries.bucketAggOracle,
    "q106_pushed_agg"    -> graft.sources.GraftRangeQueries.pushedAggOracle,
    "q110_custom_sink"   -> graft.sources.GraftSinkQueries.sinkRoundTripOracle,
    "q112_stream_source" -> graft.sources.GraftStreamQueries.streamSourceAggOracle,
    "q113_scd2_history" ->
      """WITH ordered AS (
        |  SELECT o_custkey, o_orderpriority, o_orderdate, o_orderkey,
        |         lag(o_orderpriority) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) AS prev
        |  FROM orders),
        |changes AS (SELECT * FROM ordered WHERE prev IS NULL OR prev <> o_orderpriority)
        |SELECT o_custkey, o_orderpriority AS priority, o_orderdate AS valid_from,
        |       lead(o_orderdate) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) AS valid_to,
        |       lead(o_orderdate) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) IS NULL AS is_current
        |FROM changes ORDER BY o_custkey, valid_from, priority""".stripMargin,
    // -1-before-+1 tie order in the sweep = half-open [ship, ship+7d)
    "q114_transit_sweep" ->
      """WITH ev AS (
        |  SELECT l_shipdate AS t, 1 AS delta FROM lineitem
        |  UNION ALL SELECT l_shipdate + INTERVAL 7 DAY, -1 FROM lineitem),
        |run AS (
        |  SELECT date_trunc('month', t) AS month,
        |         sum(delta) OVER (ORDER BY t, delta) AS conc
        |  FROM ev)
        |SELECT month, CAST(max(conc) AS BIGINT) AS max_in_transit
        |FROM run GROUP BY 1 ORDER BY 1""".stripMargin,
    // Morton spread ladder, one CTE per shift-or-mask step (same integer
    // arithmetic as the Spark zspread fold)
    "q104_zorder_stats" ->
      """WITH b AS (SELECT user_id & 65535 AS x0, CAST(floor(value) AS BIGINT) & 65535 AS y0 FROM events),
        |s1 AS (SELECT x0 AS x, y0 AS y,
        |        ((x0 | (x0 << 8)) & 16711935) AS xs, ((y0 | (y0 << 8)) & 16711935) AS ys FROM b),
        |s2 AS (SELECT x, y, ((xs | (xs << 4)) & 252645135) AS xs, ((ys | (ys << 4)) & 252645135) AS ys FROM s1),
        |s3 AS (SELECT x, y, ((xs | (xs << 2)) & 858993459) AS xs, ((ys | (ys << 2)) & 858993459) AS ys FROM s2),
        |s4 AS (SELECT x, y, ((xs | (xs << 1)) & 1431655765) AS xs, ((ys | (ys << 1)) & 1431655765) AS ys FROM s3)
        |SELECT (xs | (ys << 1)) >> 12 AS zbucket, count(*) AS n,
        | min(x) AS x_min, max(x) AS x_max, min(y) AS y_min, max(y) AS y_max
        |FROM s4 GROUP BY 1 ORDER BY 1""".stripMargin,
    "q64_range_join_months" ->
      """SELECT m AS month, count(*) AS n_orders,
        | CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
        |FROM generate_series(TIMESTAMP '1995-01-01', TIMESTAMP '2001-08-01', INTERVAL 1 MONTH) g(m)
        |JOIN orders ON o_orderdate >= m AND o_orderdate < m + INTERVAL 1 MONTH
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    // DuckDB has a native ASOF JOIN — a rare direct oracle for a custom op
    "q61_asof_join" ->
      """SELECT p.event_id AS purchase_id, p.user_id, v.event_id AS click_id,
        | date_diff('second', v.ts, p.ts) AS lag_seconds
        |FROM (SELECT * FROM events WHERE event_type = 'purchase') p
        |ASOF JOIN (SELECT * FROM events WHERE event_type = 'click') v
        |  ON p.user_id = v.user_id AND p.ts >= v.ts
        |ORDER BY purchase_id""".stripMargin,
    "q77_sliding_hourly" ->
      """SELECT s AS wstart, event_type, count(*) AS n,
        | CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
        |FROM (SELECT event_type, value,
        |        unnest([time_bucket(INTERVAL '30 minutes', ts),
        |                time_bucket(INTERVAL '30 minutes', ts) - INTERVAL '30 minutes']) AS s
        |      FROM events)
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "q78_session_windows" ->
      """SELECT user_id, CAST(min(us) AS BIGINT) AS s_start_us, count(*) AS n_events FROM (
        | SELECT user_id, us, CAST(sum(new_s) OVER (PARTITION BY user_id ORDER BY us, event_id) AS BIGINT) AS sid FROM (
        |  SELECT user_id, event_id, epoch_us(ts) AS us,
        |   CASE WHEN lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY epoch_us(ts), event_id) IS NULL
        |        OR epoch_us(ts) - lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY epoch_us(ts), event_id) >= 1800000000
        |        THEN 1 ELSE 0 END AS new_s
        |  FROM events))
        |GROUP BY user_id, sid ORDER BY user_id, s_start_us""".stripMargin,
    "q79_grouping_sets" ->
      """SELECT o_orderstatus, o_orderpriority, count(*) AS cnt,
        | CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
        |FROM orders GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority))
        |ORDER BY o_orderstatus NULLS FIRST, o_orderpriority NULLS FIRST""".stripMargin,
    "q80_streaming_timeout" -> EventOps.sessionCountsOracle,
    "q81_correlated_subq" ->
      """SELECT c_mktsegment,
        | count(*) AS n_customers,
        | CAST(sum(CASE WHEN EXISTS (SELECT 1 FROM orders o
        |                            WHERE o.o_custkey = c.c_custkey
        |                              AND o.o_orderpriority = '1-URGENT')
        |          THEN 1 ELSE 0 END) AS BIGINT) AS n_with_urgent,
        | CAST(sum(CASE WHEN NOT EXISTS (SELECT 1 FROM orders o
        |                                WHERE o.o_custkey = c.c_custkey)
        |          THEN 1 ELSE 0 END) AS BIGINT) AS n_no_orders,
        | CAST(sum((SELECT count(*) FROM orders o
        |           WHERE o.o_custkey = c.c_custkey
        |             AND o.o_totalprice > 0.5 * (SELECT max(o_totalprice) FROM orders)))
        |   AS BIGINT) AS n_big_orders
        |FROM customer c
        |GROUP BY c_mktsegment
        |ORDER BY c_mktsegment""".stripMargin,
    "q82_asof_filtered" ->
      """SELECT p.event_id AS purchase_id, p.user_id, v.event_id AS click_id,
        | date_diff('second', v.ts, p.ts) AS lag_seconds
        |FROM (SELECT * FROM events WHERE event_type = 'purchase') p
        |ASOF JOIN (SELECT * FROM events WHERE event_type = 'click') v
        |  ON p.user_id = v.user_id AND p.ts >= v.ts
        |WHERE p.user_id IN (1, 3, 7, 11, 13)
        |ORDER BY purchase_id""".stripMargin,
    "q326_asof_bounded" ->
      """SELECT p.event_id AS purchase_id, p.user_id, v.event_id AS click_id,
        | date_diff('second', v.ts, p.ts) AS lag_seconds
        |FROM (SELECT * FROM events WHERE event_type = 'purchase') p
        |ASOF JOIN (SELECT * FROM events WHERE event_type = 'click') v
        |  ON p.user_id = v.user_id AND p.ts >= v.ts
        |WHERE p.ts <= TIMESTAMP '2024-01-15 00:00:00'
        |ORDER BY purchase_id""".stripMargin,
    "q85_unpivot_measures" ->
      """WITH a AS (SELECT o_orderstatus, CAST(count(*) AS DOUBLE) AS n_orders,
        |             CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price,
        |             max(o_totalprice) AS max_price
        |           FROM orders GROUP BY 1)
        |SELECT o_orderstatus, measure, value FROM (
        | SELECT o_orderstatus, 'n_orders' AS measure, n_orders AS value FROM a
        | UNION ALL SELECT o_orderstatus, 'sum_price', sum_price FROM a
        | UNION ALL SELECT o_orderstatus, 'max_price', max_price FROM a)
        |ORDER BY o_orderstatus, measure""".stripMargin,
    "q86_rolling_spend" ->
      """SELECT o_orderkey, o_custkey,
        | CAST(date_diff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE)) AS BIGINT) AS day,
        | CAST(sum(CAST(o_totalprice AS DECIMAL(18,2)))
        |   OVER (PARTITION BY o_custkey
        |         ORDER BY date_diff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE))
        |         RANGE BETWEEN 89 PRECEDING AND CURRENT ROW) AS DOUBLE) AS spend_90d
        |FROM orders
        |ORDER BY o_custkey, day, o_orderkey""".stripMargin,
    "q74_full_outer" ->
      """SELECT coalesce(c_custkey, o_custkey) AS custkey,
        | CASE WHEN c_custkey IS NULL THEN 'missing' ELSE c_mktsegment END AS segment,
        | coalesce(n_orders, 0) AS n_orders
        |FROM customer
        |FULL OUTER JOIN (SELECT o_custkey, count(*) AS n_orders FROM orders GROUP BY 1) o
        |  ON c_custkey = o_custkey
        |ORDER BY custkey""".stripMargin,
    "q75_multiset_ops" ->
      """SELECT o_custkey, count(*) AS n_surplus FROM (
        | SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'
        | EXCEPT ALL
        | SELECT o_custkey FROM orders WHERE o_orderstatus = 'O')
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "q73_rank_functions" ->
      """SELECT o_orderpriority, o_orderkey,
        | CAST(dense_rank() OVER w AS BIGINT) AS drk,
        | percent_rank() OVER w AS prk,
        | CAST(ntile(4) OVER w AS BIGINT) AS quartile,
        | first_value(o_orderkey) OVER w AS top_key
        |FROM orders
        |WINDOW w AS (PARTITION BY o_orderpriority ORDER BY o_totalprice DESC, o_orderkey)
        |QUALIFY drk <= 5
        |ORDER BY o_orderpriority, drk, o_orderkey""".stripMargin,
    "q66_cube_counts" ->
      """SELECT o_orderstatus, o_orderpriority, count(*) AS cnt
        |FROM orders GROUP BY CUBE(o_orderstatus, o_orderpriority)
        |ORDER BY o_orderstatus NULLS FIRST, o_orderpriority NULLS FIRST""".stripMargin,
    "q67_orc_roundtrip" ->
      """SELECT event_type, count(*) AS n, count(DISTINCT user_id) AS n_users,
        | CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin,
    "q68_asof_outer" ->
      """SELECT p.event_id AS purchase_id, p.user_id,
        | coalesce(v.event_id, -1) AS click_id,
        | coalesce(date_diff('second', v.ts, p.ts), -1) AS lag_seconds
        |FROM (SELECT * FROM events WHERE event_type = 'purchase') p
        |ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'click') v
        |  ON p.user_id = v.user_id AND p.ts >= v.ts
        |ORDER BY purchase_id""".stripMargin,
    "q70_partitioned_scan" ->
      """SELECT date_trunc('day', ts) AS day, count(*) AS n,
        | CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
        |FROM events WHERE event_type = 'click'
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "q58_stats_agg" ->
      s"""SELECT l_returnflag,
         | ${graft.ops.OracleMath.stableRoundSql("corr(l_quantity, l_extendedprice)", 6)} AS qty_price_corr,
         | ${graft.ops.OracleMath.stableRoundSql("stddev_samp(l_discount)", 6)} AS discount_stddev,
         | count(*) AS n
         |FROM lineitem GROUP BY 1 ORDER BY 1""".stripMargin,
    "q117_column_profile" -> {
      def prof(c: String, numeric: Boolean): String = {
        val mn = if (numeric) s"CAST(CAST(min($c) AS DECIMAL(18,2)) AS VARCHAR)" else s"min($c)"
        val mx = if (numeric) s"CAST(CAST(max($c) AS DECIMAL(18,2)) AS VARCHAR)" else s"max($c)"
        s"SELECT '$c' AS col_name, count($c) AS n_nonnull, count(DISTINCT $c) AS n_distinct, $mn AS min_s, $mx AS max_s FROM orders"
      }
      Seq(prof("o_custkey", true), prof("o_orderkey", true),
        prof("o_orderpriority", false), prof("o_orderstatus", false),
        prof("o_totalprice", true))
        .mkString("", "\nUNION ALL ", "\nORDER BY col_name")
    },
    "q118_big_spenders" ->
      """SELECT c_name, o_orderkey, o_totalprice, CAST(qty AS DOUBLE) AS sum_qty
        |FROM (SELECT l_orderkey, sum(CAST(l_quantity AS DECIMAL(18,2))) AS qty
        |      FROM lineitem GROUP BY 1
        |      HAVING sum(CAST(l_quantity AS DECIMAL(18,2))) > 180) b
        |JOIN orders ON o_orderkey = l_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |ORDER BY o_totalprice DESC, o_orderkey LIMIT 100""".stripMargin,
    "q119_argmax_groups" ->
      """SELECT o_orderpriority,
        | arg_max(o_orderkey, CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) * 10000000000 + o_orderkey) AS top_key,
        | arg_min(o_orderkey, CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) * 10000000000 + o_orderkey) AS bottom_key,
        | max(o_totalprice) AS max_price,
        | min(o_totalprice) AS min_price,
        | count(*) AS n
        |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin,
    "q130_partition_overwrite" ->
      """SELECT strftime(ts, '%Y-%m-%d') AS day, count(*) AS n,
        | CAST(sum(CAST(CASE WHEN strftime(ts, '%Y-%m-%d') = '2024-01-05'
        |                    THEN value * 2 ELSE value END AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin,
    "q132_permissive_csv" ->
      """SELECT event_type, count(*) AS n,
        | CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
        |FROM events GROUP BY 1
        |UNION ALL SELECT '_quarantined', CAST(6 AS BIGINT), 0.0
        |ORDER BY 1""".stripMargin,
    "q129_not_in_nullaware" ->
      """SELECT c_mktsegment,
        |       count(*) AS n_quiet,
        |       CAST(sum(CASE WHEN not_exists_form THEN 1 ELSE 0 END) AS BIGINT) AS n_quiet_ne
        |FROM (
        |  SELECT c_mktsegment,
        |         c_custkey NOT IN (SELECT o_custkey FROM orders
        |                           WHERE o_orderpriority = '1-URGENT') AS not_in_form,
        |         NOT EXISTS (SELECT 1 FROM orders
        |                     WHERE o_custkey = c_custkey
        |                       AND o_orderpriority = '1-URGENT') AS not_exists_form
        |  FROM customer)
        |WHERE not_in_form
        |GROUP BY c_mktsegment
        |ORDER BY c_mktsegment""".stripMargin,
    "q128_user_gaps" -> {
      val round2 = graft.ops.OracleMath.stableRoundSql(
        "CAST(sum(gap) AS DOUBLE) / (count(*) - 1)", 2)
      s"""SELECT user_id, count(*) AS n_events,
         | coalesce(max(gap), 0) AS max_gap_s,
         | CASE WHEN count(*) > 1 THEN $round2 ELSE 0.0 END AS mean_gap_s
         |FROM (SELECT user_id,
         |        CAST(epoch(date_trunc('second', ts)) AS BIGINT)
         |          - CAST(epoch(date_trunc('second', lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id))) AS BIGINT) AS gap
         |      FROM events)
         |GROUP BY 1 ORDER BY 1""".stripMargin
    },
    "q127_variant_props" ->
      """SELECT event_type, count(*) AS n,
        | CAST(sum(CAST(json_extract(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
        | min(CAST(json_extract(props, '$.k') AS BIGINT)) AS min_k,
        | max(CAST(json_extract(props, '$.k') AS BIGINT)) AS max_k,
        | count(CAST(json_extract(props, '$.missing') AS BIGINT)) AS n_missing_present
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin,
    "q126_lateral_topk" ->
      """SELECT c_custkey, c_mktsegment, o_orderkey, o_totalprice
        |FROM customer, LATERAL (
        |  SELECT o_orderkey, o_totalprice FROM orders
        |  WHERE o_custkey = c_custkey
        |  ORDER BY o_totalprice DESC, o_orderkey LIMIT 2) t
        |WHERE c_custkey <= 100
        |ORDER BY c_custkey, o_totalprice DESC, o_orderkey""".stripMargin,
    "q136_quantile_sketch" -> {
      def qsel(src: String, sfx: String) =
        s"""SELECT month, event_type,
           | min(CASE WHEN CAST(cum AS DOUBLE) >= n * 0.5 THEN (bin+1)*4.0 END) AS p50_$sfx,
           | min(CASE WHEN CAST(cum AS DOUBLE) >= n * 0.9 THEN (bin+1)*4.0 END) AS p90_$sfx
           |FROM (SELECT month, event_type, bin,
           |        sum(cnt) OVER (PARTITION BY month, event_type ORDER BY bin) AS cum,
           |        sum(cnt) OVER (PARTITION BY month, event_type) AS n
           |      FROM $src) GROUP BY 1, 2""".stripMargin
      s"""WITH ev AS (SELECT date_trunc('day', ts) AS day, event_type,
         |              CAST(least(floor(value / 4.0), 255) AS BIGINT) AS bin FROM events),
         |daily AS (SELECT day, event_type, bin, count(*) AS cnt FROM ev GROUP BY 1, 2, 3),
         |merged AS (SELECT date_trunc('month', day) AS month, event_type, bin, sum(cnt) AS cnt
         |           FROM daily GROUP BY 1, 2, 3),
         |fullh AS (SELECT date_trunc('month', day) AS month, event_type, bin, count(*) AS cnt
         |          FROM ev GROUP BY 1, 2, 3),
         |qm AS (${qsel("merged", "merged")}),
         |qf AS (${qsel("fullh", "full")})
         |SELECT qm.month, qm.event_type, p50_merged, p90_merged, p50_full, p90_full
         |FROM qm JOIN qf ON qm.month = qf.month AND qm.event_type = qf.event_type
         |ORDER BY 1, 2""".stripMargin
    },
    // recursive-CTE closure over the capped co-occurrence projection — the
    // user graph stays small (≤ distinct-user count) at every SF, so unlike
    // q101 this oracle needs no gate-SF skip
    "q144_user_communities" ->
      """WITH RECURSIVE au AS (SELECT DISTINCT event_type, date_trunc('minute', ts) AS m, user_id
        |            FROM events),
        |sz AS (SELECT event_type, m, count(*) AS asz FROM au GROUP BY 1, 2),
        |capped AS (SELECT au.event_type, au.m, au.user_id
        |           FROM au JOIN sz USING (event_type, m) WHERE asz BETWEEN 2 AND 8),
        |pairs AS (SELECT DISTINCT a.user_id AS ua, b.user_id AS ub
        |          FROM capped a JOIN capped b
        |          ON a.event_type = b.event_type AND a.m = b.m AND a.user_id < b.user_id),
        |edges AS (SELECT ua AS src, ub AS dst FROM pairs
        |          UNION ALL SELECT ub, ua FROM pairs),
        |users AS (SELECT DISTINCT user_id FROM events),
        |reach AS (SELECT user_id AS node, user_id AS r FROM users
        |  UNION SELECT reach.node, e.dst FROM reach JOIN edges e ON e.src = reach.r),
        |cc AS (SELECT node AS user_id, min(r) AS community_id FROM reach GROUP BY node)
        |SELECT user_id, community_id,
        | count(*) OVER (PARTITION BY community_id) AS community_size
        |FROM cc ORDER BY user_id""".stripMargin,
    "q138_bitmap_rollup" ->
      """SELECT date_trunc('month', ts) AS month, event_type,
        | count(DISTINCT user_id) AS users_merged,
        | count(DISTINCT user_id) AS users_direct
        |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "q123_agg_merge" ->
      """SELECT date_trunc('month', ts) AS month, event_type,
        | count(*) AS n,
        | CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value,
        | min(value) AS min_value,
        | max(value) AS max_value
        |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "q120_forward_fill" ->
      """SELECT user_id, event_id,
        | coalesce(last_value(v IGNORE NULLS)
        |   OVER (PARTITION BY user_id ORDER BY date_trunc('microseconds', ts), event_id),
        |   -1.0) AS last_click_value
        |FROM (SELECT user_id, event_id, ts,
        |        CASE WHEN event_type = 'click' THEN value END AS v
        |      FROM events)
        |ORDER BY user_id, event_id""".stripMargin,
    "q121_gapfill_daily" ->
      """WITH ev AS (SELECT date_trunc('day', ts) AS day, user_id, event_type, value FROM events),
        |sparse AS (SELECT * FROM ev WHERE event_type = 'purchase' AND user_id < 5),
        |spine AS (SELECT unnest(generate_series(min(day), max(day), INTERVAL 1 DAY)) AS day FROM ev),
        |users AS (SELECT DISTINCT user_id FROM sparse),
        |daily AS (SELECT day, user_id, count(*) AS n,
        |            sum(CAST(value AS DECIMAL(18,2))) AS rev
        |          FROM sparse GROUP BY 1, 2)
        |SELECT spine.day AS day, users.user_id AS user_id,
        | coalesce(n, 0) AS n_purchases,
        | coalesce(CAST(rev AS DOUBLE), 0.0) AS revenue
        |FROM spine CROSS JOIN users
        |LEFT JOIN daily ON daily.day = spine.day AND daily.user_id = users.user_id
        |ORDER BY day, user_id""".stripMargin,
    "q122_cohort_retention" ->
      """WITH f AS (SELECT user_id, min(date_trunc('day', ts)) AS cohort_day
        |           FROM events GROUP BY 1),
        |a AS (SELECT DISTINCT e.user_id,
        |        date_trunc('week', f.cohort_day) AS cohort_week,
        |        CAST(floor(date_diff('day', f.cohort_day, date_trunc('day', e.ts)) / 7) AS BIGINT) AS week_offset
        |      FROM events e JOIN f USING (user_id))
        |SELECT cohort_week, week_offset, count(DISTINCT user_id) AS n_users
        |FROM a GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "q50_streaming_hourly" -> graft.streaming.EventsStream.oracleSql,
    "q131_streaming_append" -> graft.streaming.EventsStream.hourlyAppendOracle,
    "q240_session_window" -> graft.streaming.EventsStream.sessionWindowOracle,
    "q241_compaction_plan" -> SamplingOps.compactionPlanOracle,
    "q242_weighted_quantiles" -> WeightedQuantiles.weightedPriceQuantilesOracle,
    "q243_cusum" -> EventOps.cusumOracle,
    "q244_audience_overlap" -> EventOps.audienceOverlapOracle,
    "q245_session_paths" -> EventOps.sessionPathsOracle,
    "q246_bitmap_sliding" -> EventOps.bitmapSlidingOracle,
    "q247_replica_divergence" -> SamplingOps.replicaDivergenceOracle,
    "q248_kappa_langid" -> TextOps.kappaLangIdOracle,
    "q249_nearest_attribution" -> EventOps.nearestAttributionOracle,
    "q250_quality_percentiles" -> TextOps.qualityPercentilesOracle,
    "q251_interpolate_daily" -> EventOps.interpolateDailyOracle,
    "q252_also_bought" -> CoreOps.alsoBoughtOracle,
    "q253_timedecay_attribution" -> EventOps.timeDecayAttributionOracle,
    "q254_grouped_wquantiles" -> WeightedQuantiles.groupedWeightedQuantilesOracle,
    "q255_zonemap_audit" -> CoreOps.zoneMapAuditOracle,
    "q256_containment" -> DedupOps.containmentPairsOracle,
    "q257_supplier_scorecard" -> CoreOps.supplierScorecardOracle,
    "q258_growth_accounting" -> EventOps.growthAccountingOracle,
    "q259_vocab_drift" -> TextOps.vocabDriftOracle,
    "q260_dataset_card" -> TextOps.datasetCardOracle,
    "q164_stream_bitmap_distinct" -> graft.streaming.EventsStream.bitmapDistinctOracle,
    "q166_value_drift" -> EventOps.valueDriftOracle,
    "q167_snapshot_changelog" -> CoreOps.snapshotChangelogOracle,
    "q188_recursive_rollup" -> CoreOps.recursiveRollupOracle,
    "q189_dq_audit" -> CoreOps.dqAuditSql("orders", "lineitem"),
    "q191_ewma_daily" -> EventOps.ewmaDailyOracle,
    "q192_k_anonymity" -> CoreOps.kAnonymityOracle,
    "q193_ols_trend" -> EventOps.olsTrendOracle,
    "q281_forecast_backtest" -> EventOps.forecastBacktestOracle,
    "q195_time_weighted_avg" -> EventOps.timeWeightedAvgOracle,
    "q196_chi2_cells" -> EventOps.chi2CellsOracle,
    "q197_clamped_balance" -> EventOps.clampedBalanceOracle,
    "q198_gdpr_purge" -> CoreOps.gdprPurgeOracle,
    "q199_type_inference" -> CoreOps.typeInferenceOracle,
    "q200_bootstrap_ci" -> EventOps.bootstrapCIOracle,
    "q201_join_card" -> CoreOps.joinCardEstimateOracle,
    "q202_burst_detect" -> EventOps.burstDetectOracle,
    "q203_funnel_timing" -> EventOps.funnelTimingOracle,
    "q204_range_buckets" -> CoreOps.rangeBucketAuditOracle,
    "q205_tws_spend" -> graft.streaming.TwsSpendStream.oracleSql,
    "q207_tws_lastk" -> graft.streaming.TwsLastKStream.oracleSql,
    "q208_markov_accuracy" -> EventOps.markovAccuracyOracle,
    "q209_wilson_rates" -> CoreOps.wilsonRatesOracle,
    "q210_mix_allocation" -> TextOps.mixAllocationOracle,
    "q211_feature_scaling" -> SimilarityOps.featureScalingOracle,
    "q212_triangles" -> EventOps.triangleStatsOracle,
    "q213_canonical_pick" -> TextOps.canonicalPickOracle,
    "q214_rendezvous" -> CoreOps.rendezvousRebalanceOracle,
    "q215_mutual_nn" -> SimilarityOps.mutualNearestNeighborsOracle,
    "q216_srm_check" -> EventOps.srmCheckOracle,
    "q217_stream_dedup_agg" -> graft.streaming.StreamJoinOps.dedupThenHourlyOracle,
    "q218_pareto_docs" -> TextOps.paretoDocsOracle,
    "q219_autocorr" -> EventOps.volumeAutocorrOracle,
    "q299_mann_kendall" -> EventOps.mannKendallOracle,
    "q301_kcore_peel" -> EventOps.kcorePeelOracle,
    "q220_index_compression" -> TextOps.indexCompressionOracle,
    "q221_scd2_asof" -> CoreOps.scd2AsOfOracle,
    "q222_interleave_audit" -> TextOps.interleaveAuditOracle,
    "q223_decile_drift" -> CoreOps.decileDriftOracle,
    "q224_bloom_membership" -> CoreOps.bloomMembershipOracle,
    "q225_cuped" -> EventOps.cupedAdjustOracle,
    "q226_benford" -> CoreOps.benfordAuditOracle,
    "q227_label_affinity" -> SimilarityOps.labelAffinityOracle,
    "q228_seq_patterns" -> EventOps.sequencePatternsOracle,
    "q229_share_of_parent" -> CoreOps.shareOfParentOracle,
    "q230_source_overlap" -> TextOps.sourceOverlapOracle,
    "q231_vocab_segments" -> TextOps.vocabSegmentsOracle,
    "q232_survival" -> EventOps.survivalTableOracle,
    "q233_ks_test" -> CoreOps.ksTestOracle,
    "q234_mann_whitney" -> CoreOps.mannWhitneyOracle,
    "q235_rfm_segments" -> CoreOps.rfmSegmentsOracle,
    "q236_cohort_ltv" -> EventOps.cohortLtvOracle,
    "q237_tws_type_profile" -> graft.streaming.TwsMapStateStream.oracleSql,
    "q238_mmr_rerank" -> RetrievalOps.mmrRerankOracle,
    "q261_scd2_interval_attr" -> CoreOps.scd2IntervalAttributionOracle,
    "q262_scd2_regime_outer" -> CoreOps.scd2RegimeOuterOracle,
    "q323_scd2_salted" -> CoreOps.scd2IntervalAttributionOracle,
    "q328_scd2_salted_full" -> CoreOps.scd2CoverageAuditOracle,
    "q331_salted_adaptive" -> CoreOps.adaptiveSaltedHotKeyAuditOracle,
    "q334_salted_agg_adaptive" -> CoreOps.adaptiveSaltedAggOracle,
    "q335_outage_hot_window" -> CoreOps.supplierOutageHotWindowOracle,
    "q263_kmv_distinct" -> SamplingOps.kmvDistinctOracle,
    // the streaming sketch must equal the batch sketch bit for bit: KMV is
    // deterministic given the hash column, so q311 reuses q263's twin
    "q311_stream_kmv_distinct" -> SamplingOps.kmvDistinctOracle,
    "q264_bigram_lm" -> TextOps.bigramLmScoreOracle,
    "q265_scd2_coverage" -> CoreOps.scd2CoverageAuditOracle,
    "q266_mixture_epochs" -> TextOps.mixtureEpochsOracle,
    "q267_char_entropy" -> TextOps.charEntropyOracle,
    "q268_trimmed_quality" -> TextOps.trimmedQualityOracle,
    "q269_label_dispersion" -> SimilarityOps.labelDispersionOracle,
    "q277_cluster_quality" -> SimilarityOps.clusterQualityOracle,
    "q280_dedup_thresholds" -> SimilarityOps.dedupThresholdCurveOracle,
    "q270_context_sizing" -> TextOps.contextSizingOracle,
    "q271_source_kl_skew" -> TextOps.sourceKlSkewOracle,
    "q272_kmv_overlap" -> SamplingOps.kmvOverlapOracle,
    "q282_bfs_reach" -> EventOps.bfsReachOracle,
    "q283_graph_profile" -> EventOps.graphProfileOracle,
    "q284_kmv_rewrite" -> SamplingOps.kmvRewriteOracle,
    "q285_collocations" -> TextOps.collocationsOracle,
    "q286_mutual_info" -> EventOps.mutualInfoOracle,
    "q287_sorted_neighborhood" -> DedupOps.sortedNeighborhoodOracle,
    "q288_welch_ttest" -> EventOps.welchTtestOracle,
    "q289_textrank" -> TextOps.textRankOracle,
    "q290_quantile_norm" -> TextOps.quantileNormalizeOracle,
    "q291_heaps_law" -> TextOps.heapsLawOracle,
    "q292_ngram_novelty" -> TextOps.ngramNoveltyOracle,
    "q273_retention_bias" -> TextOps.retentionBiasOracle,
    "q274_token_gini" -> TextOps.tokenGiniOracle,
    "q275_zipf_slope" -> TextOps.zipfSlopeOracle,
    "q278_pack_straddle" -> TextOps.packStraddleOracle,
    // same semantics as q64 through the custom merge operator — same twin
    "q239_interval_join" ->
      """SELECT m AS month, count(*) AS n_orders,
        | CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
        |FROM generate_series(TIMESTAMP '1995-01-01', TIMESTAMP '2001-08-01', INTERVAL 1 MONTH) g(m)
        |JOIN orders ON o_orderdate >= m AND o_orderdate < m + INTERVAL 1 MONTH
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    // same semantics a third time through the RANGE-PARTITIONED mode
    "q309_range_interval_join" ->
      """SELECT m AS month, count(*) AS n_orders,
        | CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
        |FROM generate_series(TIMESTAMP '1995-01-01', TIMESTAMP '2001-08-01', INTERVAL 1 MONTH) g(m)
        |JOIN orders ON o_orderdate >= m AND o_orderdate < m + INTERVAL 1 MONTH
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "q310_outage_attribution" -> CoreOps.supplierOutageOracle,
    "q314_outage_coverage" -> CoreOps.supplierOutageCoverageOracle,
    "q312_record_linkage" -> LinkageOps.recordLinkageOracle,
    "q313_linkage_weights" -> LinkageOps.linkageWeightsOracle,
    "q315_golden_records" -> LinkageOps.goldenRecordsOracle,
    "q316_png_roundtrip" -> MultimodalOps.pngRoundtripOracle,
    "q317_delta_linkage" -> LinkageOps.deltaLinkageOracle,
    "q320_graded_linkage" -> LinkageOps.gradedLinkageOracle,
    "q318_interval_filtered" -> CoreOps.intervalJoinFilteredOracle,
    "q206_tws_timer_sessions" -> EventOps.sessionCountsOracle,
    "q169_pagerank" -> EventOps.pageRankOracle,
    "q173_cms_counts" -> EventOps.cmsCountsOracle,
    "q174_markov_transitions" -> EventOps.markovTransitionsOracle,
    "q179_multitouch" -> EventOps.multiTouchAttributionOracle,
    "q184_changelog_roundtrip" -> CoreOps.changelogRoundTripOracle,
    "q185_exact_corr" -> EventOps.exactCorrOracle,
    "q186_mad_anomaly" -> EventOps.madAnomalyDaysOracle,
    "q181_stream_heavy_hitters" -> graft.streaming.DocsStream.mgHeavyHittersOracle,
    "q180_schema_evolution" -> EventOps.schemaEvolutionOracle,
    "q175_incremental_view" -> EventOps.incrementalViewMergeOracle,
    "q176_range_window" -> EventOps.rangeWindowSpendOracle,
    "q177_bucketed_join" -> CoreOps.bucketedJoinOracle,
    // unmatched-left emission is gated by the FINAL global watermark
    // (min of both sides' max event time, ms-truncated as Spark tracks
    // watermarks in milliseconds, minus the 1 h delay) — the q131
    // append-cutoff discipline applied to outer-join state; matched pairs
    // emit on match and need no cutoff (empirically pinned at sf0.001 and
    // sf0.01: the emitted/missing boundary sits exactly at this watermark)
    "q194_stream_full_outer" ->
      """WITH p AS (SELECT event_id AS purchase_id, user_id, ts AS p_ts
        |          FROM events WHERE event_type = 'purchase'),
        |c AS (SELECT event_id AS click_id, user_id AS c_user, ts AS c_ts
        |      FROM events WHERE event_type = 'click'),
        |wm AS (SELECT date_trunc('milliseconds',
        |         least((SELECT max(p_ts) FROM p), (SELECT max(c_ts) FROM c)))
        |         - INTERVAL 1 HOUR AS cutoff),
        |j AS (SELECT p.purchase_id, p.user_id, c.click_id, c.c_user, p.p_ts, c.c_ts,
        |        date_diff('second', c.c_ts, p.p_ts) AS lag_seconds
        |      FROM p FULL JOIN c ON p.user_id = c.c_user
        |        AND c.c_ts <= p.p_ts AND c.c_ts > p.p_ts - INTERVAL 5 MINUTES)
        |SELECT coalesce(purchase_id, -1) AS purchase_id,
        | coalesce(user_id, c_user) AS user_id,
        | coalesce(click_id, -1) AS click_id,
        | coalesce(lag_seconds, -1) AS lag_seconds
        |FROM j, wm
        |WHERE (purchase_id IS NOT NULL AND click_id IS NOT NULL)
        |   OR (click_id IS NULL AND p_ts < cutoff)
        |   OR (purchase_id IS NULL AND c_ts + INTERVAL 5 MINUTES < cutoff)
        |ORDER BY purchase_id, click_id""".stripMargin,
    "q178_stream_outer_join" ->
      """WITH p AS (SELECT event_id AS purchase_id, user_id, ts AS p_ts
        |          FROM events WHERE event_type = 'purchase'),
        |c AS (SELECT event_id AS click_id, user_id AS c_user, ts AS c_ts
        |      FROM events WHERE event_type = 'click'),
        |wm AS (SELECT date_trunc('milliseconds',
        |         least((SELECT max(p_ts) FROM p), (SELECT max(c_ts) FROM c)))
        |         - INTERVAL 1 HOUR AS cutoff),
        |j AS (SELECT p.purchase_id, p.user_id, c.click_id, p.p_ts,
        |        date_diff('second', c.c_ts, p.p_ts) AS lag_seconds
        |      FROM p LEFT JOIN c ON p.user_id = c.c_user
        |        AND c.c_ts <= p.p_ts AND c.c_ts > p.p_ts - INTERVAL 5 MINUTES)
        |SELECT purchase_id, user_id,
        | coalesce(click_id, -1) AS click_id,
        | coalesce(lag_seconds, -1) AS lag_seconds
        |FROM j, wm
        |WHERE click_id IS NOT NULL OR p_ts < cutoff
        |ORDER BY purchase_id, click_id""".stripMargin,
    "q165_key_skew_profile" -> {
      def side(key: String) =
        s"""SELECT '$key' AS key_name, count(*) AS n_keys, CAST(sum(cnt) AS BIGINT) AS n_rows,
           |  max(cnt) AS max_cnt,
           |  ${graft.ops.OracleMath.stableRoundSql("quantile_cont(cnt, 0.5)", 4)} AS p50_cnt,
           |  ${graft.ops.OracleMath.stableRoundSql("quantile_cont(cnt, 0.99)", 4)} AS p99_cnt
           |FROM (SELECT $key AS k, count(*) AS cnt FROM lineitem GROUP BY 1)""".stripMargin
      s"""SELECT key_name, n_keys, n_rows, max_cnt, p50_cnt, p99_cnt,
         | ${graft.ops.OracleMath.stableRoundSql("max_cnt * CAST(n_keys AS DOUBLE) / n_rows", 4)} AS skew_ratio,
         | (max_cnt * n_keys + n_rows - 1) // n_rows AS salt_factor,
         | ${graft.ops.OracleMath.stableRoundSql("max_cnt * CAST(32 AS DOUBLE) / n_rows", 4)} AS ref32_straggler_ratio,
         | CASE WHEN max_cnt * 64 <= 3 * n_rows THEN 1
         |      ELSE LEAST(64, (max_cnt * 32 + n_rows - 1) // n_rows) END AS ref32_auto_salt
         |FROM (${side("l_suppkey")}
         |UNION ALL
         |${side("l_orderkey")})
         |ORDER BY key_name""".stripMargin
    },
    // out-of-order ingestion must still converge to the batch sessionization
    "q72_streaming_late" -> EventOps.sessionCountsOracle,
    // stream-stream join must agree with the batch interval join
    "q87_stream_join" ->
      """SELECT p.event_id AS purchase_id, p.user_id, c.event_id AS click_id,
        | date_diff('second', c.ts, p.ts) AS lag_seconds
        |FROM (SELECT * FROM events WHERE event_type = 'purchase') p
        |JOIN (SELECT * FROM events WHERE event_type = 'click') c
        |  ON p.user_id = c.user_id AND c.ts <= p.ts AND c.ts > p.ts - INTERVAL 5 MINUTES
        |ORDER BY purchase_id, click_id""".stripMargin,
    // streaming dedup must agree with the batch DISTINCT (both variants)
    "q88_stream_dedup" ->
      """SELECT event_type, count(*) AS n_distinct_keys
        |FROM (SELECT DISTINCT user_id, event_type, date_trunc('minute', ts) FROM events)
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "q111_stream_dedup_wm" ->
      """SELECT event_type, count(*) AS n_distinct_keys
        |FROM (SELECT DISTINCT user_id, event_type, date_trunc('minute', ts) FROM events)
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "q89_runtime_filter" ->
      """SELECT l_returnflag, count(*) AS n_items,
        | CAST(sum(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS revenue
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |WHERE o_orderpriority = '1-URGENT'
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "q92_csv_roundtrip" ->
      """SELECT event_type, count(*) AS n, count(DISTINCT user_id) AS n_users,
        | CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin,
    "q94_type_map_agg" ->
      """SELECT user_id, event_type, count(*) AS cnt
        |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "q96_upsert_merge" ->
      """WITH updates AS (
        |  SELECT o_orderkey, 'X' AS o_orderstatus, o_totalprice * 1.1 AS o_totalprice
        |  FROM orders WHERE o_orderkey % 100 = 0),
        |merged AS (
        |  SELECT * FROM updates
        |  UNION ALL
        |  SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders
        |  WHERE o_orderkey NOT IN (SELECT o_orderkey FROM updates))
        |SELECT o_orderstatus, count(*) AS n,
        | CAST(sum(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS total
        |FROM merged GROUP BY 1 ORDER BY 1""".stripMargin,
    "q97_stream_static" ->
      """SELECT c_mktsegment, count(*) AS n,
        | CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
        |FROM events JOIN customer ON user_id = c_custkey
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    // streaming sink contents must equal the source table
    "q100_stream_sink" ->
      """SELECT event_type, count(*) AS n, count(DISTINCT user_id) AS n_users,
        | CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin,
    "q99_funnel_stages" ->
      """SELECT CAST(stage AS BIGINT) AS stage, count(*) AS n_users FROM (
        |  SELECT user_id,
        |    CASE WHEN t_signup IS NOT NULL AND t_view > t_signup
        |              AND t_click > t_view AND t_purchase > t_click THEN 4
        |         WHEN t_signup IS NOT NULL AND t_view > t_signup
        |              AND t_click > t_view THEN 3
        |         WHEN t_signup IS NOT NULL AND t_view > t_signup THEN 2
        |         WHEN t_signup IS NOT NULL THEN 1
        |         ELSE 0 END AS stage
        |  FROM (
        |    SELECT user_id,
        |      min(ts) FILTER (WHERE event_type = 'signup') AS t_signup,
        |      min(ts) FILTER (WHERE event_type = 'view') AS t_view,
        |      min(ts) FILTER (WHERE event_type = 'click') AS t_click,
        |      min(ts) FILTER (WHERE event_type = 'purchase') AS t_purchase
        |    FROM events GROUP BY 1))
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    // stateful streaming must agree with the batch sessionization oracle
    "q51_streaming_sessions" -> EventOps.sessionCountsOracle,
  )
}
