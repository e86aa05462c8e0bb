package graft.streaming

import java.util.UUID
import graft.ops.{Caches, Staging}
import graft.ops.Caches.Tracked
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

/** Stream-stream joins and streaming deduplication — the two stateful
  * streaming operator classes beyond aggregation/sessionization:
  *
  *  - [[clickAttributionStreaming]] — a watermarked INTERVAL join between two
  *    streams (purchases ⋈ clicks of the same user within the preceding
  *    5 minutes). Both sides buffer rows in state until the watermark shows
  *    no earlier match can still arrive; the time-bound condition is what
  *    makes state finite (an unbounded stream-stream join would buffer
  *    forever).
  *  - [[dedupStreaming]] — `dropDuplicates` over a watermarked event-time
  *    key: the streaming form of exact dedup, where the watermark bounds how
  *    long a key is remembered. THE first operator of a continuously-fed
  *    training-data pipeline (a landing dir redelivers files; exactly-once
  *    ingest dedups at the door).
  *
  * Both run to completion with `Trigger.AvailableNow` over staged landing
  * dirs and are oracle-checked against the equivalent batch SQL — the
  * batch/streaming consistency proof, same as the other streaming queries.
  */
object StreamJoinOps {
  import EventsStream.{stageStreamDirShared, stageStreamDirMulti}

  /** Run one streaming query to completion and return its result: `build`
    * makes the stream on a cloned session ([[withStatePartitions]]), which
    * starts it into a memory sink under a fresh name with
    * `Trigger.AvailableNow`, waits for it, and drains the sink — an eager,
    * lineage-free local frame (`localCheckpoint`), with the sink's temp view
    * dropped so a session that runs the query many times (bench, tests)
    * holds no orphaned table per run.
    *
    * State partitions: streaming state stores are created one per shuffle
    * partition PER stateful operator PER microbatch — at 32 partitions a
    * 3-batch run pays ~100 store open/commit cycles for ~100k rows, pure
    * overhead; at the 100k rows/trigger these queries see, 2 stores keep
    * every shuffle task in the tens of milliseconds while removing ~30 store
    * cycles per run (measured: the streaming family's bench cost is
    * store/commit machinery, not data). The count is fixed at a query's
    * first run and should be sized to rows-per-trigger (state shards
    * rebalance across executors regardless) — a production firehose wants
    * tens-to-hundreds, a batched landing dir wants few.
    *
    * `skipFinalize = true` disables the trailing no-data microbatch — valid
    * ONLY for queries whose OUTPUT cannot depend on the final watermark
    * advance: complete-mode aggregations (whole result re-emitted every data
    * batch), streaming dedup (first-seen rows emit in their own batch), and
    * NoTimeout map/flatMapGroupsWithState in update mode (emissions happen
    * only on data). Append-mode windows (q131) and event-time timeouts
    * (q80) NEED the finalize batch and must not set it.
    */
  private[graft] def runToCompletion(spark: SparkSession, mode: String,
                                     skipFinalize: Boolean = false)
                                    (build: SparkSession => Dataset[_]): DataFrame =
    withStatePartitions(spark, skipFinalize) { s =>
      val name = "graft_stream_" + UUID.randomUUID().toString.replace("-", "")
      build(s).writeStream
        .outputMode(mode)
        .format("memory")
        .queryName(name)
        .trigger(Trigger.AvailableNow())
        .start()
        .awaitTermination()
      val out = s.table(name).checkpointTracked()
      s.catalog.dropTempView(name)
      out
    }

  /** The final emission per key of an update-mode drain: a key emits once
    * per microbatch, so its last emission is its row with the max of a
    * monotone counter. Projected to `out`, ordered by the key.
    */
  private[graft] def lastEmission(drained: DataFrame, keys: Seq[String], counter: String,
                                  out: Seq[String]): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(keys.map(col): _*).orderBy(desc(counter))
    drained
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(out.map(col): _*)
      .orderBy(keys.map(col): _*)
  }

  private val StatePartitions = 2

  /** Run `f` on a cloned session tuned for one streaming run (see
    * [[runToCompletion]]); `f` must start the stream AND wait for it, so
    * the clone and its checkpoint base are done with when `f` returns.
    */
  private[graft] def withStatePartitions[T](spark: SparkSession, skipFinalize: Boolean = false)
                                           (f: SparkSession => T): T = {
    // Concurrency safety: the tuned confs live on a CLONED session
    // (`newSession()` — same SparkContext and catalog metadata, fresh
    // SessionState/SQLConf), passed to `f`, which must build the stream AND
    // drain its memory sink on it (memory-sink temp views are
    // session-scoped). The caller's session is never mutated, so two
    // streaming queries — or a streaming query and a batch verify — can
    // interleave in one outer session without yanking each other's conf.
    val s = spark.newSession()
    // newSession() seeds SQLConf from the SparkContext-level conf, not the
    // caller's runtime session conf — carry over the two settings streaming
    // correctness/benchmarking depend on: the time zone (event-time
    // semantics) and the state-store provider (a runtime RocksDB selection
    // would otherwise silently revert to the default provider inside the
    // clone, which made the provider-agnosticism spec vacuous).
    s.conf.set("spark.sql.session.timeZone", spark.conf.get("spark.sql.session.timeZone"))
    spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
      .foreach(s.conf.set("spark.sql.streaming.stateStore.providerClass", _))
    s.conf.set("spark.sql.shuffle.partitions", StatePartitions.toString)
    if (skipFinalize) s.conf.set("spark.sql.streaming.noDataMicroBatches.enabled", "false")
    // Checkpoints (offset log + state-store deltas, one set per microbatch)
    // are per-run scratch, so they go where Staging places all per-run
    // scratch: an AvailableNow run over K files commits ~K·(stores + 2 logs)
    // small files, which is why that root prefers a tmpfs with headroom. The
    // base is unique per run and deleted after the (eagerly executed) run.
    val ckpt = new Path(Staging.perRunDir("graft_ckpt"))
    s.conf.set("spark.sql.streaming.checkpointLocation", ckpt.toString)
    try f(s)
    finally ckpt.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(ckpt, true)
  }

  private def eventsStream(spark: SparkSession, srcDir: String): DataFrame =
    spark.readStream
      .schema(SessionStream.rawSchema)
      .parquet(srcDir)
      .withColumn("ts", timestamp_micros(col("ts"))) // canonical staged micros

  /** Watermarked stream-stream interval join: each purchase matched to ALL
    * of the same user's clicks in the 5 minutes before it. Output is the
    * exact join result (append mode emits a pair once both sides' watermarks
    * pass it), so the oracle is the identical batch interval join.
    */
  def clickAttributionStreaming(spark: SparkSession, dir: String): DataFrame = {
    val srcDir = stageStreamDirShared(spark, dir)

    // inner join: pairs emit in the batch they match (the finalize batch
    // only evicts state), so it is output-invariant to skip
    val drained = runToCompletion(spark, "append", skipFinalize = true) { s =>
      val purchases = eventsStream(s, srcDir)
        .filter(col("event_type") === "purchase")
        .select(col("event_id").as("purchase_id"), col("user_id"), col("ts").as("p_ts"))
        .withWatermark("p_ts", "1 hour")
      val clicks = eventsStream(s, srcDir)
        .filter(col("event_type") === "click")
        .select(col("event_id").as("click_id"), col("user_id").as("c_user"), col("ts").as("c_ts"))
        .withWatermark("c_ts", "1 hour")

      purchases.join(clicks,
        col("user_id") === col("c_user")
          && col("c_ts") <= col("p_ts")
          && col("c_ts") > col("p_ts") - expr("INTERVAL 5 MINUTES"))
    }

    drained
      .select(col("purchase_id"), col("user_id"), col("click_id"),
        expr("unix_micros(p_ts) DIV 1000000 - unix_micros(c_ts) DIV 1000000").as("lag_seconds"))
      .orderBy(col("purchase_id"), col("click_id"))
  }

  /** Watermarked stream-stream LEFT OUTER interval join — the capability
    * q87's inner join doesn't prove: a purchase with NO click in its 5-minute
    * lookback must still emit (click columns null), and an append-only sink
    * can only receive that row once the CLICK watermark guarantees no
    * matching click can still arrive (c_ts ≤ p_ts ⇒ finalizable when the
    * click watermark passes p_ts). Matched pairs emit in their matching
    * batch, exactly as the inner join; the trailing no-data batch advances
    * the final watermark to (max event time − 1 h), so unmatched purchases
    * AT OR ABOVE that boundary are still open state at termination and are
    * not emitted — the oracle applies exactly that cutoff to its unmatched
    * side (the q131 append-mode discipline, applied to join state).
    * Null click columns coalesce to −1 (null-vs-NaN dtype drift).
    */
  def clickAttributionOuterStreaming(spark: SparkSession, dir: String): DataFrame = {
    val srcDir = stageStreamDirShared(spark, dir)
    val drained = runToCompletion(spark, "append") { s =>
      val purchases = eventsStream(s, srcDir)
        .filter(col("event_type") === "purchase")
        .select(col("event_id").as("purchase_id"), col("user_id"), col("ts").as("p_ts"))
        .withWatermark("p_ts", "1 hour")
      val clicks = eventsStream(s, srcDir)
        .filter(col("event_type") === "click")
        .select(col("event_id").as("click_id"), col("user_id").as("c_user"), col("ts").as("c_ts"))
        .withWatermark("c_ts", "1 hour")
      purchases.join(clicks,
        col("user_id") === col("c_user")
          && col("c_ts") <= col("p_ts")
          && col("c_ts") > col("p_ts") - expr("INTERVAL 5 MINUTES"),
        "left_outer")
    }
    drained
      .select(col("purchase_id"), col("user_id"),
        coalesce(col("click_id"), lit(-1L)).as("click_id"),
        coalesce(expr("unix_micros(p_ts) DIV 1000000 - unix_micros(c_ts) DIV 1000000"),
          lit(-1L)).as("lag_seconds"))
      .orderBy(col("purchase_id"), col("click_id"))
  }

  /** Watermarked stream-stream FULL OUTER interval join — completes the
    * q87 (inner) / q178 (left outer) family: BOTH unmatched sides emit
    * null-extended, each when its own eviction condition clears. An
    * unmatched purchase finalizes once the click watermark passes `p_ts`
    * (no earlier click can arrive — the q178 condition); an unmatched CLICK
    * finalizes once the purchase watermark passes `c_ts + 5 min`, the
    * latest purchase time it could still match (`p_ts < c_ts + 5 min` from
    * the join bound). The final global watermark is min(max event time of
    * both sides) ms-truncated − 1 h, so the oracle's two cutoffs are
    * `p_ts < cutoff` and `c_ts + 5 min < cutoff` — both boundaries pinned
    * empirically at two SFs (the q178 discipline). Unmatched ids/lags
    * coalesce to −1.
    */
  def clickAttributionFullOuterStreaming(spark: SparkSession, dir: String): DataFrame = {
    val srcDir = stageStreamDirShared(spark, dir)
    val drained = runToCompletion(spark, "append") { s =>
      val purchases = eventsStream(s, srcDir)
        .filter(col("event_type") === "purchase")
        .select(col("event_id").as("purchase_id"), col("user_id"), col("ts").as("p_ts"))
        .withWatermark("p_ts", "1 hour")
      val clicks = eventsStream(s, srcDir)
        .filter(col("event_type") === "click")
        .select(col("event_id").as("click_id"), col("user_id").as("c_user"), col("ts").as("c_ts"))
        .withWatermark("c_ts", "1 hour")
      purchases.join(clicks,
        col("user_id") === col("c_user")
          && col("c_ts") <= col("p_ts")
          && col("c_ts") > col("p_ts") - expr("INTERVAL 5 MINUTES"),
        "full_outer")
    }
    drained
      .select(coalesce(col("purchase_id"), lit(-1L)).as("purchase_id"),
        coalesce(col("user_id"), col("c_user")).as("user_id"),
        coalesce(col("click_id"), lit(-1L)).as("click_id"),
        coalesce(expr("unix_micros(p_ts) DIV 1000000 - unix_micros(c_ts) DIV 1000000"),
          lit(-1L)).as("lag_seconds"))
      .orderBy(col("purchase_id"), col("click_id"))
  }

  /** Stream-static enrichment join: the streaming side joins a STATIC
    * dimension (customer) broadcast to every microbatch — stateless (no
    * watermark, no join state; the dimension is re-resolved per batch, which
    * is also how slowly-changing dims pick up updates mid-stream). This is
    * the most common production streaming join: events enriched with
    * reference data at ingest. The oracle is the identical batch join.
    */
  def streamStaticEnrich(spark: SparkSession, dir: String): DataFrame = {
    val srcDir = stageStreamDirShared(spark, dir)

    val drained = runToCompletion(spark, "complete", skipFinalize = true) { s =>
      val cust = broadcast(graft.Tables.customer(s, dir)
        .select(col("c_custkey"), col("c_mktsegment")))
      s.readStream
        .schema(SessionStream.rawSchema)
        .parquet(srcDir)
        .select(col("user_id"), col("value"))
        .join(cust, col("user_id") === col("c_custkey"))
        .groupBy(col("c_mktsegment"))
        .agg(count(lit(1)).as("n"),
          sum(col("value").cast(org.apache.spark.sql.types.DecimalType(18, 2)))
            .cast("double").as("sum_value"))
    }

    drained.orderBy(col("c_mktsegment"))
  }

  /** Streaming parquet SINK via `foreachBatch`: the write half of a
    * continuously-fed pipeline (everything else here exercises sources and
    * state). `foreachBatch` hands each microbatch to arbitrary batch code —
    * the production hook for MERGE-style upserts into a table, multi-sink
    * fan-out, or (here) appending partitioned parquet. The checkpoint makes
    * redelivery exactly-once at the batch level: a batch re-run after a
    * crash re-executes with the SAME batchId, so a real sink keys
    * idempotency on it (the native file sink does the same via its
    * _spark_metadata log). The staged landing dir arrives as 3 microbatches
    * (`maxFilesPerTrigger=1`), so the sink genuinely appends across batches;
    * reading the written files back and aggregating matches the plain batch
    * oracle over the source table. Sink and checkpoint live in a fresh
    * per-run dir, deleted at the next `Caches.releaseAll` (the returned frame
    * reads the sink lazily); the spec inspects batch provenance through the
    * frame's input files (batch count is staging-dependent, so it is
    * spec-checked, not oracled).
    */
  def streamParquetSink(spark: SparkSession, dir: String): DataFrame = {
    val srcDir = stageStreamDirMulti(spark, dir)
    val base = Caches.deleteOnRelease(Staging.perRunDir("graft_ssink"))
    val out = base + "/out"
    val chk = base + "/_chk"

    withStatePartitions(spark, skipFinalize = true) { s =>
      val q = s.readStream
        .schema(SessionStream.rawSchema)
        .option("maxFilesPerTrigger", 1)
        .parquet(srcDir)
        .select(col("event_id"), col("user_id"), col("event_type"), col("value"))
        .writeStream
        .foreachBatch { (batch: DataFrame, batchId: Long) =>
          batch.withColumn("batch_id", lit(batchId))
            .write.mode("append").parquet(out)
        }
        .option("checkpointLocation", chk)
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }

    spark.read.parquet(out)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        countDistinct(col("user_id")).as("n_users"),
        sum(col("value").cast(org.apache.spark.sql.types.DecimalType(18, 2)))
          .cast("double").as("sum_value"))
      .orderBy(col("event_type"))
  }

  /** Streaming exact dedup: distinct (user, type, minute) keys across
    * microbatches via `dropDuplicates` on a watermarked event-time column —
    * duplicates arriving in LATER files are caught by keyed state, which the
    * watermark then expires (a key is only remembered while a duplicate can
    * still legally arrive). Runs over the 3-file time-split landing dir so
    * the state genuinely crosses batch boundaries; the final aggregation
    * counts surviving keys per type against the batch DISTINCT oracle.
    */
  def dedupStreaming(spark: SparkSession, dir: String): DataFrame = {
    // 2 landing files: one cross-batch arrival is enough to exercise keyed
    // dedup state; the result (a DISTINCT) is batch-count-invariant and the
    // run saves a full microbatch of machinery
    val srcDir = stageStreamDirMulti(spark, dir, nFiles = 2)

    val drained = runToCompletion(spark, "append", skipFinalize = true) { s =>
      s.readStream
        .schema(SessionStream.rawSchema)
        .option("maxFilesPerTrigger", 1) // one landing file = one microbatch
        .parquet(srcDir)
        .select(col("user_id"), col("event_type"),
          date_trunc("minute", timestamp_micros(col("ts"))).as("m"))
        .withWatermark("m", "1 hour")
        .dropDuplicates("user_id", "event_type", "m")
    }

    drained
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_distinct_keys"))
      .orderBy(col("event_type"))
  }

  /** CHAINED stateful streaming — dedup state feeding windowed-aggregation
    * state in ONE query (q111 proves dedup, q131 proves the window; this
    * proves they compose): exactly-once ingest semantics (re-delivered
    * (user, type, minute) keys dropped by watermarked dropDuplicates)
    * flowing straight into hourly per-type distinct-activity counts. The
    * watermark is defined ONCE on the dedup's event-time column and
    * propagates through it to gate the window's append emission — the
    * multi-stateful-operator pipeline Spark 3.4+ supports when every stage
    * shares the event-time watermark. Oracle: the batch distinct-then-count
    * with the q131 append cutoff (windows whose END the final watermark —
    * max event time − 1 h — hasn't passed are still open state and never
    * emit).
    */
  def dedupThenHourly(spark: SparkSession, dir: String): DataFrame = {
    val srcDir = stageStreamDirMulti(spark, dir, nFiles = 2)
    val drained = runToCompletion(spark, "append") { s =>
      s.readStream
        .schema(SessionStream.rawSchema)
        .option("maxFilesPerTrigger", 1)
        .parquet(srcDir)
        .select(col("user_id"), col("event_type"),
          date_trunc("minute", timestamp_micros(col("ts"))).as("m"))
        .withWatermark("m", "1 hour")
        .dropDuplicates("user_id", "event_type", "m")
        .groupBy(window(col("m"), "1 hour"), col("event_type"))
        .agg(count(lit(1)).as("n_active"))
    }
    drained
      .select(col("window.start").as("hour"), col("event_type"), col("n_active"))
      .orderBy(col("hour"), col("event_type"))
  }

  val dedupThenHourlyOracle: String =
    """WITH d AS (SELECT DISTINCT user_id, event_type, date_trunc('minute', ts) AS m
      |           FROM events)
      |SELECT date_trunc('hour', m) AS hour, event_type, count(*) AS n_active
      |FROM d
      |WHERE date_trunc('hour', m) + INTERVAL 1 HOUR
      |      <= (SELECT max(date_trunc('minute', ts)) FROM events) - INTERVAL 1 HOUR
      |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  /** Streaming dedup with `dropDuplicatesWithinWatermark` — the bounded-state
    * API: unlike [[dedupStreaming]]'s `dropDuplicates` (whose state for a key
    * lives until the WATERMARK passes the key's event time), this variant
    * guarantees eviction once the watermark advances past the FIRST arrival
    * plus the delay, and the dedup key need not embed the event-time column.
    * At 100 TB this is the difference between state proportional to
    * "keys in the watermark window" and state proportional to "all keys whose
    * event time the watermark hasn't passed" under heavy skew/lag. Duplicates
    * of a (user, type, minute) key land within one hour of each other in the
    * time-split landing dir, so the result equals the batch DISTINCT —
    * same oracle as q88.
    */
  def dedupWithinWatermarkStreaming(spark: SparkSession, dir: String): DataFrame = {
    val srcDir = stageStreamDirMulti(spark, dir, nFiles = 2) // see dedupStreaming

    val drained = runToCompletion(spark, "append", skipFinalize = true) { s =>
      s.readStream
        .schema(SessionStream.rawSchema)
        .option("maxFilesPerTrigger", 1)
        .parquet(srcDir)
        .select(col("user_id"), col("event_type"),
          date_trunc("minute", timestamp_micros(col("ts"))).as("m"))
        .withWatermark("m", "1 hour")
        .dropDuplicatesWithinWatermark("user_id", "event_type", "m")
    }

    drained
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_distinct_keys"))
      .orderBy(col("event_type"))
  }
}
