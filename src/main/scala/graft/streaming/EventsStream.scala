package graft.streaming

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Structured Streaming twin of the batch event analytics: the same
  * hourly-by-type aggregation as [[graft.ops.EventOps.hourlyByType]], but
  * executed as a streaming query over the events parquet with a watermark —
  * the incremental analog of the reference's `@daily` batch schedule
  * (SURVEY.md G3: `Trigger.AvailableNow` ≈ "process what's there, then
  * stop").
  *
  * In production the source is a directory that keeps receiving files (or
  * Kafka); `AvailableNow` + checkpoint gives exactly-once incremental runs.
  * Here the memory sink materializes the complete aggregation so the result
  * is comparable against the same DuckDB oracle as the batch query — a
  * batch/streaming consistency check, not just a smoke test.
  */
object EventsStream {

  /** Schema of the STAGED landing files (streaming sources need an explicit
    * schema). `ts` is a long in CANONICAL MICROS since epoch — the stagers
    * re-write the source parquet through [[graft.Tables.decodeEventsTs]]
    * into this one fixed layout, so the schema here can never drift from
    * the testdata's physical encoding (which has changed across
    * environments: TIMESTAMP(NANOS) vs timestamp[us]/NTZ).
    */
  private val rawSchema = SessionStream.rawSchema

  /** Events with `ts` converted to the canonical staged encoding (long
    * micros). All landing files are written from this frame.
    */
  private def canonicalEvents(spark: SparkSession, dir: String): DataFrame =
    graft.Tables.events(spark, dir).withColumn("ts", unix_micros(col("ts")))

  /** Stage the landing dir `kind` of `dir`'s `source` table: part k of
    * `parts` becomes the single parquet file `<source>_kk.parquet`
    * (FileStreamSource treats each file as one arrival) with modification
    * time 1000·(k+1), so the files arrive in order under
    * `latestFirst=false`. A stored artifact of [[graft.ops.Staging.ensure]]:
    * a half-staged dir or a regenerated source is rebuilt, and concurrent
    * stagers build it once; `parts` is only evaluated when the dir has to
    * be (re)written, and must hold `nFiles` frames.
    */
  private[streaming] def stageLanding(spark: SparkSession, kind: String, dir: String,
                                      source: String, nFiles: Int)
                                     (parts: => Seq[DataFrame]): String = {
    val names = (0 until nFiles).map(k => f"${source}_$k%02d.parquet")
    graft.ops.Staging.ensure(spark, kind, dir, Seq(source), names) { base =>
      val fs = new Path(base).getFileSystem(spark.sparkContext.hadoopConfiguration)
      for (((df, fileName), k) <- parts.zip(names).zipWithIndex) {
        val scratch = base + "/_tmp_" + fileName
        df.coalesce(1).write.mode("overwrite").parquet(scratch)
        val part = fs.globStatus(new Path(scratch + "/part-*.parquet"))(0).getPath
        val dst = new Path(base + "/" + fileName)
        // rename returns false on failure: abort LOUDLY before the marker
        // is written, or this run reads a missing landing file
        require(fs.rename(part, dst), s"staging rename failed: $part -> $dst")
        fs.delete(new Path(scratch), true)
        fs.setTimes(dst, 1000L * (k + 1), -1)
      }
    }
  }

  /** FileStreamSource requires a *directory*; the testdata ships one parquet
    * file per table, so stage a per-sf scratch directory holding the events
    * re-encoded canonically — the shape a streaming ingest dir would have.
    */
  private[graft] def stageStreamDirShared(spark: SparkSession, dir: String): String =
    stageLanding(spark, "stream_us", dir, "events", 1)(Seq(canonicalEvents(spark, dir)))

  /** Multi-file staging: the events table split into `nFiles` time-ordered
    * parquet files with strictly increasing modification times — the shape of
    * a landing directory receiving periodic drops (the reference's daily CSV
    * arrivals). `FileStreamSource` + `maxFilesPerTrigger=1` then processes
    * them as separate microbatches in arrival order, so stateful operators
    * genuinely carry state across batches instead of seeing one batch of
    * everything.
    */
  private[graft] def stageStreamDirMulti(spark: SparkSession, dir: String,
                                             nFiles: Int = 3,
                                             byTime: Boolean = true): String = {
    val mode = if (byTime) "time" else "hash"
    stageLanding(spark, s"stream_multi_us_${nFiles}_$mode", dir, "events", nFiles) {
      val ev = canonicalEvents(spark, dir) // ts = long micros
      // byTime: in-order arrival (well-formed landing dir). byHash: events of
      // every user scattered across files regardless of time — deliberately
      // OUT-OF-ORDER arrival for the late-data operator.
      if (byTime) {
        // bounded-collect: ≤ nFiles−1 quantile boundaries (2–3 here), one
        // sketch pass — sizes the staged landing files, not a data path
        val bounds = ev.stat.approxQuantile("ts",
          (1 until nFiles).map(_.toDouble / nFiles).toArray, 0.0)
        val edges = (Long.MinValue +: bounds.map(_.toLong)) :+ Long.MaxValue
        (0 until nFiles).map(k =>
          ev.filter(col("ts") >= edges(k) && col("ts") < edges(k + 1)))
      } else {
        (0 until nFiles).map(k => ev.filter(pmod(col("event_id"), lit(nFiles)) === k))
      }
    }
  }

  /** Run the streaming hourly aggregation to completion and return the
    * final (static) result.
    */
  def hourlyByTypeStreaming(spark: SparkSession, dir: String): DataFrame = {
    val srcDir = stageStreamDirShared(spark, dir)

    val drained = StreamJoinOps.runToCompletion(spark, "complete", skipFinalize = true) { s =>
      s.readStream
        .schema(rawSchema)
        .parquet(srcDir)
        .withColumn("ts", timestamp_micros(col("ts"))) // canonical staged micros
        .withWatermark("ts", "1 hour")
        .groupBy(window(col("ts"), "1 hour"), col("event_type"))
        .agg(
          count(lit(1)).as("n"),
          round(sum(col("value").cast(DecimalType(18, 2))).cast("double"), 2).as("sum_value"))
    }

    drained
      .select(col("window.start").as("hour"), col("event_type"), col("n"), col("sum_value"))
      .orderBy(col("hour"), col("event_type"))
  }

  /** APPEND-mode watermarked windows: unlike [[hourlyByTypeStreaming]]
    * (complete mode — the whole aggregate re-emitted every batch), append
    * mode emits each window ONCE, only after the watermark passes its end —
    * the only mode a true append-only sink (files, Kafka) can accept, and
    * the semantics that make unbounded streaming aggregation possible:
    * finalized windows leave the state store forever. The landing dir is
    * the 3-file time-ordered staging, one file per microbatch, so the
    * watermark genuinely advances across batches. Windows newer than
    * (global max event time − 1 h delay) are still open at termination and
    * are NOT emitted — the oracle applies exactly that cutoff.
    */
  def hourlyAppendStreaming(spark: SparkSession, dir: String): DataFrame = {
    val srcDir = stageStreamDirMulti(spark, dir, nFiles = 2)
    val drained = StreamJoinOps.runToCompletion(spark, "append") { s =>
      s.readStream
        .schema(rawSchema)
        .option("maxFilesPerTrigger", 1)
        // 2 files: the emitted-window set depends only on the FINAL
        // watermark (the AvailableNow no-data batch advances it to global
        // max - delay either way), so one cross-batch advance demonstrates
        // append semantics at one less microbatch of cost
        .parquet(srcDir)
        .withColumn("ts", timestamp_micros(col("ts")))
        .withWatermark("ts", "1 hour")
        .groupBy(window(col("ts"), "1 hour"), col("event_type"))
        .agg(count(lit(1)).as("n"),
          round(sum(col("value").cast(DecimalType(18, 2))).cast("double"), 2).as("sum_value"))
    }
    drained
      .select(col("window.start").as("hour"), col("event_type"), col("n"), col("sum_value"))
      .orderBy(col("hour"), col("event_type"))
  }

  val hourlyAppendOracle: String =
    """SELECT date_trunc('hour', ts) AS hour, event_type, count(*) AS n,
      | round(CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE), 2) AS sum_value
      |FROM events
      |WHERE date_trunc('hour', ts) + INTERVAL 1 HOUR
      |      <= (SELECT max(ts) FROM events) - INTERVAL 1 HOUR
      |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  /** Declarative streaming sessionization with Spark's native
    * `session_window` aggregation — the API-surface complement to the three
    * imperative sessionizers (q51 mapGroupsWithState, q80 EventTimeTimeout,
    * q206 transformWithState timers): no custom state machine at all, just
    * a watermarked GROUP BY over a merging session window. State per key is
    * the set of OPEN sessions, closed and emitted (append mode) once the
    * watermark passes a session's end — the built-in that makes
    * sessionization a one-liner when the 30-minute-gap semantics are
    * standard, with the same watermark-bounded state guarantees as any
    * windowed aggregate.
    *
    * Determinism: timestamps are second-truncated BEFORE the window (no
    * sub-second parity risk against the oracle), spend is exact integer
    * cents, and the append-mode emission set is pinned by the q131 cutoff
    * discipline: a session emits iff `session_end ≤ final watermark` (max
    * staged event time − 1 h delay), which the oracle applies verbatim.
    * Merge boundary pinned EMPIRICALLY at sf0.1: events exactly 30 minutes
    * apart are the SAME session (`session_window` merges when the next
    * event touches the previous window's end), so the oracle's new-session
    * predicate is `gap > 30 min`, not `≥`.
    */
  def sessionWindowStreaming(spark: SparkSession, dir: String): DataFrame = {
    val srcDir = stageStreamDirMulti(spark, dir, nFiles = 2)
    val drained = StreamJoinOps.runToCompletion(spark, "append") { s =>
      s.readStream
        .schema(rawSchema)
        .option("maxFilesPerTrigger", 1)
        .parquet(srcDir)
        .withColumn("ts", date_trunc("second", timestamp_micros(col("ts"))))
        .withColumn("cents", expr("CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)"))
        .withWatermark("ts", "1 hour")
        .groupBy(session_window(col("ts"), "30 minutes"), col("user_id"))
        .agg(count(lit(1)).as("n_events"), sum(col("cents")).as("spend_cents"))
    }
    drained
      .select(col("user_id"), col("session_window.start").as("session_start"),
        col("session_window.end").as("session_end"), col("n_events"), col("spend_cents"))
      .orderBy(col("user_id"), col("session_start"))
  }

  /** Oracle: lag/cumsum gap sessionization (new session when the gap is
    * STRICTLY > 30 minutes — `session_window` merges on touch: a window
    * [t, t+30 min) joins the next event AT its end boundary, so events
    * exactly 30 minutes apart are one session; pinned empirically by a real
    * boundary pair at sf0.1) + the same watermark cutoff on session end.
    */
  val sessionWindowOracle: String =
    """WITH e AS (SELECT user_id, date_trunc('second', ts) AS t,
      |            CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
      |          FROM events),
      |s AS (SELECT *, CASE WHEN lag(t) OVER w IS NULL
      |                       OR t - lag(t) OVER w > INTERVAL 30 MINUTE
      |                     THEN 1 ELSE 0 END AS new_s
      |      FROM e WINDOW w AS (PARTITION BY user_id ORDER BY t)),
      |g AS (SELECT *, CAST(sum(new_s) OVER (PARTITION BY user_id ORDER BY t
      |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS sid
      |      FROM s),
      |sess AS (SELECT user_id, min(t) AS session_start,
      |           max(t) + INTERVAL 30 MINUTE AS session_end,
      |           count(*) AS n_events, CAST(sum(cents) AS BIGINT) AS spend_cents
      |         FROM g GROUP BY user_id, sid)
      |SELECT user_id, session_start, session_end, n_events, spend_cents
      |FROM sess
      |WHERE session_end <= (SELECT date_trunc('second', max(ts)) - INTERVAL 1 HOUR FROM events)
      |ORDER BY user_id, session_start""".stripMargin

  /** Streaming EXACT distinct users per (day, event_type) with roaring-style
    * bitmap state — the streaming face of q138's batch bitmap rollup. The
    * streaming aggregation keys on (window, type, bitmap bucket) and its
    * state value is the bucket's bitmap (`bitmap_construct_agg` is a
    * mergeable declarative aggregate, so each microbatch ORs its positions
    * into state — O(users/8) bytes per bucket, NOT a per-user state row like
    * `dropDuplicates` would keep); the drained result is reduced to counts
    * batch-side. At 100 TB the state size is what decides whether exact
    * streaming distinct is feasible at all — bitmap state is the design that
    * makes it so, and pairs with the RocksDB provider benched in
    * StreamScaleSpec.
    */
  def bitmapDistinctStreaming(spark: SparkSession, dir: String): DataFrame = {
    val srcDir = stageStreamDirShared(spark, dir)
    val drained = StreamJoinOps.runToCompletion(spark, "complete", skipFinalize = true) { s =>
      s.readStream
        .schema(rawSchema)
        .parquet(srcDir)
        .withColumn("ts", timestamp_micros(col("ts")))
        .withWatermark("ts", "1 hour")
        .groupBy(window(col("ts"), "1 day"), col("event_type"),
          expr("bitmap_bucket_number(user_id)").as("bkt"))
        .agg(expr("bitmap_construct_agg(bitmap_bit_position(user_id))").as("bm"))
    }
    drained
      .groupBy(col("window.start").as("day"), col("event_type"))
      .agg(sum(expr("bitmap_count(bm)")).as("n_users"))
      .orderBy(col("day"), col("event_type"))
  }

  /** Oracle: streaming bitmap distinct must EQUAL the exact batch distinct
    * (bitmap OR is lossless — no sketch error term to allow for).
    */
  val bitmapDistinctOracle: String =
    """SELECT date_trunc('day', ts) AS day, event_type,
      | count(DISTINCT user_id) AS n_users
      |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  /** q311 — the q263 KMV sketch as STREAMING aggregation state: the same
    * `graft_kmv` TypedImperativeAggregate runs in complete mode over the
    * staged landing dir, so each microbatch partial-merges its ≤ k smallest
    * distinct hashes into the state store (set-union re-capped at k — the
    * mergeability that makes the sketch a streaming synopsis, not just a
    * batch shuffle trick). KMV is deterministic given the hash column, so
    * the streamed sketch must be IDENTICAL to the batch one regardless of
    * microbatch boundaries: the oracle is q263's twin VERBATIM, and the
    * exact-count audit columns ride along from the batch side (streaming
    * `count(DISTINCT)` is unsupported — and unnecessary, the sketch is the
    * streaming answer, the audit is ground truth by definition).
    */
  def kmvDistinctStreaming(spark: SparkSession, dir: String): DataFrame = {
    import graft.ops.{OracleMath, SamplingOps}
    val k = SamplingOps.KmvK
    val srcDir = stageStreamDirMulti(spark, dir, nFiles = 3)
    val drained = StreamJoinOps.runToCompletion(spark, "complete", skipFinalize = true) { s =>
      val h = conv(substring(md5(col("user_id").cast("string")), 1, 12), 16, 10).cast("long")
      s.readStream
        .schema(rawSchema)
        .option("maxFilesPerTrigger", 1) // one staged file per microbatch: the
        // sketch state genuinely partial-merges across 3 batches, not 1
        .parquet(srcDir)
        .select(col("event_type"), h.as("h"))
        .groupBy(col("event_type"))
        .agg(graft.functions.VectorFunctions.kmv(col("h"), k).as("kmv"))
    }
    val exact = graft.Tables.events(spark, dir)
      .groupBy(col("event_type"))
      .agg(countDistinct(col("user_id")).as("n_exact"))
    val est = when(col("n_kmv") < k, col("n_kmv").cast("double"))
      .otherwise(lit((k - 1).toDouble) * lit(281474976710656.0) / col("h_k").cast("double"))
    drained
      .select(col("event_type"),
        size(col("kmv")).cast("long").as("n_kmv"),
        element_at(col("kmv"), size(col("kmv"))).as("h_k"))
      .join(exact, "event_type")
      .select(col("event_type"), col("n_kmv"), col("h_k"), col("n_exact"),
        OracleMath.stableRound(est, 4).as("est_distinct"),
        OracleMath.stableRound(
          abs(est - col("n_exact").cast("double")) / col("n_exact").cast("double"), 4)
          .as("rel_err"))
      .orderBy(col("event_type"))
  }
}
