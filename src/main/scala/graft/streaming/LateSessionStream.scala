package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Out-of-order stateful sessionization: `flatMapGroupsWithState` with a
  * per-user event BUFFER, against a landing directory whose files are split
  * by hash (NOT time) — every user's events arrive scattered across
  * microbatches in no particular event-time order, the adversarial case the
  * O(1)-state sessionizer ([[SessionStream]]) explicitly excludes.
  *
  * Strategy: buffer (minute, event_id) pairs in state, re-derive the session
  * count from the sorted buffer on every update, emit the current counts per
  * batch (Update mode); the last emission per user is the exact final
  * answer no matter how arrival interleaved. State is O(events per user
  * within the retention horizon) — production would prune the buffer below
  * the watermark with an event-time timeout, finalizing sessions older than
  * the horizon; with the testdata's bounded history the full buffer is the
  * horizon. This operator + [[SessionStream]] bracket the state-size
  * spectrum: O(1) per key when arrival order is guaranteed, O(horizon) when
  * it is not.
  */
object LateSessionStream {

  final case class BufState(events: Vector[(Long, Long)]) // (minute, event_id)

  private val gapSeconds = 1800L

  /** Exact sessions from a complete (minute, event_id) multiset. */
  def sessionsOf(events: Seq[(Long, Long)]): (Long, Long) = {
    val sorted = events.sorted
    var sessions = 0L
    var lastMinute = Long.MinValue
    sorted.foreach { case (m, _) =>
      if (lastMinute == Long.MinValue || m - lastMinute > gapSeconds) sessions += 1
      lastMinute = m
    }
    (sessions, sorted.size.toLong)
  }

  def updateBuffer(userId: Long, batch: Iterator[SessionStream.Ev],
      state: GroupState[BufState]): Iterator[SessionStream.UserSessions] = {
    val prev = state.getOption.getOrElse(BufState(Vector.empty))
    val merged = BufState(prev.events ++ batch.map(e => (e.minute, e.event_id)))
    state.update(merged)
    val (s, n) = sessionsOf(merged.events)
    Iterator.single(SessionStream.UserSessions(userId, s, n))
  }

  def sessionsLateStreaming(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val srcDir = EventsStream.stageStreamDirMulti(spark, dir, nFiles = 2, byTime = false)

    val drained = StreamJoinOps.runToCompletion(spark, "update", skipFinalize = true) { s =>
      val evs: Dataset[SessionStream.Ev] = s.readStream
        .schema(SessionStream.rawSchema)
        .option("maxFilesPerTrigger", 1) // one hash-split file = one microbatch
        .parquet(srcDir)
        .select(col("user_id"),
          unix_timestamp(date_trunc("minute", timestamp_micros(col("ts")))).as("minute"),
          col("event_id"))
        .as[SessionStream.Ev]

      evs.groupByKey(_.user_id)
        .flatMapGroupsWithState(OutputMode.Update(), GroupStateTimeout.NoTimeout())(updateBuffer)
    }

    // last emission per user = counts over the complete buffer
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("user_id")).orderBy(desc("n_events"))
    drained
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("user_id"), col("n_sessions"), col("n_events"))
      .orderBy(col("user_id"))
  }
}
