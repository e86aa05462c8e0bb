package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Streaming face of the near-dup dedup family: MinHash-LSH banding run as a
  * Structured Streaming query over a documents landing directory — the shape
  * of a continuously-ingesting corpus where dedup must keep up with arrival
  * instead of re-sweeping the world nightly (the incremental cousin of q142's
  * delta-vs-corpus batch join).
  */
object DocsStream {

  /** Explicit landing schema (streaming sources require one; the stagers
    * write exactly this layout, same discipline as [[EventsStream]]).
    */
  private val docSchema = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("text", StringType)))

  /** Stage the documents table as `nFiles` hash-split parquet files with
    * strictly increasing mtimes — microbatch k delivers docs with
    * doc_id ≡ k (mod nFiles), so band buckets genuinely accumulate members
    * ACROSS batches (a near-dup pair split across files can only be found by
    * state carried between microbatches, which is the thing this operator
    * exists to prove).
    */
  private[graft] def stageDocsDirMulti(spark: SparkSession, dir: String,
                                       nFiles: Int = 2): String = {
    EventsStream.stageLanding(spark, s"stream_docs_$nFiles", dir, "documents", nFiles) {
      val docs = graft.Tables.documents(spark, dir).select(col("doc_id"), col("text"))
      (0 until nFiles).map(k => docs.filter(pmod(col("doc_id"), lit(nFiles)) === k))
    }
  }

  /** Streaming Misra-Gries heavy hitters — the q147 sketch as STREAMING
    * aggregation state: each microbatch's word stream folds into one ≤k-entry
    * MG counter table held in the state store (the same
    * `TypedImperativeAggregate` buffer the batch op uses; streaming state
    * stores the serialized buffer and merges per batch, exactly the
    * mergeability MG was chosen for). The drained sketch is audited
    * batch-side: the exact global top-10 words must all sit inside the MG
    * theorem envelope est ∈ [exact − N/(k+1), exact]. The envelope — not the
    * raw counters — is the output contract, because MG counter values
    * depend on merge order (q147's same discipline); the BOOLEANS are
    * deterministic theorems. At 100 TB the state is k counters per group
    * TOTAL, the only way streaming heavy hitters fits in a state store at
    * web-vocabulary cardinality.
    */
  def mgHeavyHittersStreaming(spark: SparkSession, dir: String, k: Int = 16): DataFrame = {
    import graft.ops.TextFunctions
    import org.apache.spark.sql.expressions.Window
    val srcDir = stageDocsDirMulti(spark, dir, nFiles = 2)
    val drained = StreamJoinOps.runToCompletion(spark, "complete", skipFinalize = true) { s =>
      s.readStream
        .schema(docSchema)
        .option("maxFilesPerTrigger", 1)
        .parquet(srcDir)
        .select(explode(TextFunctions.words(col("text"))).as("word"))
        .groupBy()
        .agg(graft.functions.VectorFunctions.mg(col("word"), k).as("sk"),
          count(lit(1)).as("n"))
    }
    val est = drained.select(col("n"), explode(col("sk")).as(Seq("word", "est")))
    val top10 = graft.Tables.documents(spark, dir)
      .select(explode(TextFunctions.words(col("text"))).as("word"))
      .groupBy(col("word")).agg(count(lit(1)).as("cnt_exact"))
      .withColumn("rk", row_number().over(
        Window.orderBy(desc("cnt_exact"), col("word"))))
      .filter(col("rk") <= 10)
    top10
      .crossJoin(broadcast(drained.select(col("n"))))
      .join(est.select(col("word"), col("est")), Seq("word"), "left")
      .select(col("word"), col("cnt_exact"),
        (coalesce(col("est"), lit(0L)) <= col("cnt_exact") &&
          coalesce(col("est"), lit(0L)) >= col("cnt_exact") - expr(s"n DIV ${k + 1}"))
          .as("mg_ok"))
      .orderBy(col("word"))
  }

  val mgHeavyHittersOracle: String =
    """WITH toks AS (SELECT unnest(string_split(text, ' ')) AS word FROM documents),
      |cnt AS (SELECT word, count(*) AS cnt_exact FROM toks GROUP BY 1),
      |top10 AS (SELECT word, cnt_exact FROM (
      |  SELECT *, row_number() OVER (ORDER BY cnt_exact DESC, word) AS rk FROM cnt)
      |  WHERE rk <= 10)
      |SELECT word, cnt_exact, TRUE AS mg_ok FROM top10 ORDER BY word""".stripMargin

  /** Streaming MinHash-LSH near-dup pairs — q39's banded sweep as a stateful
    * streaming aggregation, hash-matched against the SAME oracle as batch
    * q39 ([[graft.ops.DedupOps.lshPairsOracleSql]]).
    *
    * Dataflow: each microbatch computes per-doc band keys row-locally (the
    * one-pass [[graft.functions.MinhashSigs]] codegen kernel — identical to
    * the batch operator), explodes to (band, doc_id), and folds into a
    * streaming aggregation keyed on the band key whose state value is the
    * bucket's member set. `collect_set` is a mergeable declarative aggregate,
    * so cross-batch accumulation is set-union in state — order-independent,
    * which is what makes the streaming result DETERMINISTIC and equal to the
    * batch banding regardless of arrival order. Candidate expansion and the
    * exact-Jaccard verify run batch-side on the drained buckets, through
    * batch q39's own candidate-and-verify code (only buckets with ≥ 2
    * members expand; precision is exact because every candidate is
    * re-verified on true word sets).
    *
    * Scale honesty: complete-mode bucket state is the corpus's banded
    * membership — the right shape for proving batch≡streaming equality, and
    * bounded by (docs × bands) longs, but a production 100 TB stream would
    * run update-mode with `flatMapGroupsWithState` emitting each NEW
    * (arrival × existing-member) candidate per batch and watermark-expiring
    * cold buckets; the banding math, state key, and verify are unchanged.
    * State lives in the state store (2 partitions here; RocksDB-provider
    * equality is covered by StreamScaleSpec for the events family).
    */
  def lshNearDupStreaming(spark: SparkSession, dir: String): DataFrame = {
    import graft.ops.{DedupOps, Joins, TextFunctions}
    // batch-side: the drained buckets go through batch q39's candidate-and-
    // verify code. Identical word sets have identical masks AND identical
    // band keys (MinHash is order-independent over the set), so on a dense
    // (≤ 64-word) vocabulary the bucket membership collapses to DISTINCT
    // MASKS per bucket and q39's mask-group path runs on it — the duplicate-
    // heavy corpus never expands its doc-level buckets quadratically. A
    // general vocabulary takes q39's general verify on exact token ids.
    val members = streamedBandMembers(spark, dir)
    val docs = graft.Tables.documents(spark, dir)
      .select(col("doc_id"), array_distinct(TextFunctions.words(col("text"))).as("ws0"))
    DedupOps.smallVocab(docs) match {
      case Some(vocab) =>
        val docMask = docs.select(col("doc_id"), DedupOps.maskExpr(vocab, col("ws0")).as("mask"))
        val bucketMasks = members
          .join(Joins.broadcastIfFits(docMask, Joins.scanEstimatedBytes(docMask)), "doc_id")
          .select(col("band"), col("mask"))
          .dropDuplicates("band", "mask")
        DedupOps.lshMaskPairs(bucketMasks, DedupOps.maskGroups(docMask), DedupOps.NearDupThreshold)
      case None =>
        DedupOps.lshGeneralPairs(members, DedupOps.rarityTokenIds(docs), DedupOps.NearDupThreshold)
    }
  }

  /** The streamed half of [[lshNearDupStreaming]]: the drained band buckets
    * with ≥ 2 members, one `(band, doc_id)` row per member. `band` is a
    * [[graft.ops.DedupOps.bandKeys]] key, which hashes the band index with
    * the band's signature slice, so a streamed bucket is a q39 bucket.
    */
  private[graft] def streamedBandMembers(spark: SparkSession, dir: String): DataFrame = {
    import graft.ops.{DedupOps, TextFunctions}
    val srcDir = stageDocsDirMulti(spark, dir, nFiles = 2)
    val drained = StreamJoinOps.runToCompletion(spark, "complete", skipFinalize = true) { s =>
      val hashes = transform(array_distinct(TextFunctions.words(col("text"))),
        w => TextFunctions.wordHash(w))
      s.readStream
        .schema(docSchema)
        .option("maxFilesPerTrigger", 1)
        .parquet(srcDir)
        .select(col("doc_id"), explode(DedupOps.bandKeys(hashes)).as("band"))
        .groupBy(col("band"))
        .agg(collect_set(col("doc_id")).as("ids"))
    }
    drained.filter(size(col("ids")) >= 2)
      .select(col("band"), explode(col("ids")).as("doc_id"))
  }
}
