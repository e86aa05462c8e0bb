package graft.streaming

import graft.ops.EventOps
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Event-time-timeout sessionization: `flatMapGroupsWithState` with
  * `EventTimeTimeout` — the production shape for unbounded keyspaces, where
  * per-key state must be FINALIZED AND DROPPED once the watermark proves no
  * more events can extend it. [[SessionStream]] (O(1) state, never cleaned)
  * and [[LateSessionStream]] (O(horizon) buffer, never cleaned) both leak
  * state for idle users; at 100 TB / billions of keys that is the difference
  * between a bounded state store and an OOM.
  *
  * Mechanics: the landing dir is time-split (in-order arrival, the
  * well-formed contract [[SessionStream]] documents), watermark 30 min. Each
  * data invocation folds the batch into an O(1) per-key "incarnation"
  * summary (first minute, last minute, sessions, events) and re-arms an
  * event-time timeout at `last event + session gap`. When the watermark
  * passes that point the session run is provably closed: the timeout
  * invocation emits the incarnation's final counts and REMOVES the state —
  * a later event for the same user starts a fresh incarnation (and, by the
  * timeout's own guarantee, a fresh session). Per-incarnation cumulative
  * emissions (Update mode) are combined post-hoc: last emission per
  * incarnation, summed per user — exactly the batch sessionization
  * ([[graft.ops.EventOps.sessionCounts]], same DuckDB oracle as q18/q51).
  */
object TimeoutSessionStream {

  /** One open incarnation of a user's activity: O(1) regardless of how many
    * events or sessions it spans.
    */
  final case class IncState(incMinute: Long, lastMinute: Long, sessions: Long, events: Long)

  /** Cumulative counts for one (user, incarnation); `inc_minute` (the
    * incarnation's first event minute) identifies the incarnation in the
    * sink so later incarnations of the same user don't collapse into it.
    */
  final case class IncEmit(user_id: Long, inc_minute: Long, n_sessions: Long, n_events: Long)

  /** Event with the raw timestamp retained: `EventTimeTimeout` requires the
    * watermark column to flow into the stateful operator.
    */
  final case class TEv(user_id: Long, minute: Long, event_id: Long, ts: java.sql.Timestamp)

  def updateWithTimeout(userId: Long, events: Iterator[TEv],
      state: GroupState[IncState]): Iterator[IncEmit] = {
    if (state.hasTimedOut) {
      // watermark > last event + gap: no event can extend this incarnation
      val s = state.get
      state.remove()
      Iterator.single(IncEmit(userId, s.incMinute, s.sessions, s.events))
    } else {
      var s = state.getOption.getOrElse(IncState(-1L, Long.MinValue, 0L, 0L))
      events.toSeq.sortBy(e => (e.minute, e.event_id)).foreach { e =>
        val newSession = EventOps.newSession(s.lastMinute, e.minute)
        s = IncState(if (s.incMinute < 0L) e.minute else s.incMinute, e.minute,
          s.sessions + (if (newSession) 1L else 0L), s.events + 1L)
      }
      state.update(s)
      // strictly above the current watermark: in-order time-split arrival
      // means every event in this batch is >= watermark + delay
      state.setTimeoutTimestamp(EventOps.sessionDeadlineMs(s.lastMinute))
      Iterator.single(IncEmit(userId, s.incMinute, s.sessions, s.events))
    }
  }

  def sessionsTimeoutStreaming(spark: SparkSession, dir: String): DataFrame =
    run(spark, dir)._2

  /** Returns (raw per-incarnation emissions, final per-user counts); the raw
    * side lets the spec assert that timeouts actually split incarnations.
    */
  private[graft] def run(spark: SparkSession, dir: String): (DataFrame, DataFrame) = {
    import spark.implicits._
    // 3 time-ordered files = 3 microbatches (plus the finalize batch): the
    // watermark advances between them fire timeouts mid-stream (more
    // incarnations than users, spec-asserted)
    val srcDir = EventsStream.stageStreamDirMulti(spark, dir, nFiles = 3)

    val drained = StreamJoinOps.runToCompletion(spark, "update") { s =>
      val evs: Dataset[TEv] = s.readStream
        .schema(SessionStream.rawSchema)
        .option("maxFilesPerTrigger", 1)
        .parquet(srcDir)
        .withColumn("ts", timestamp_micros(col("ts")))
        .withWatermark("ts", "30 minutes")
        .select(col("user_id"),
          unix_timestamp(date_trunc("minute", col("ts"))).as("minute"),
          col("event_id"), col("ts"))
        .as[TEv]

      evs.groupByKey(_.user_id)
        .flatMapGroupsWithState(OutputMode.Update(),
          GroupStateTimeout.EventTimeTimeout())(updateWithTimeout)
    }

    // last (= max, emissions are cumulative) per incarnation, summed per user
    val emits = drained
    val result = emits
      .groupBy(col("user_id"), col("inc_minute"))
      .agg(max(col("n_sessions")).as("s"), max(col("n_events")).as("e"))
      .groupBy(col("user_id"))
      .agg(sum(col("s")).as("n_sessions"), sum(col("e")).as("n_events"))
      .orderBy(col("user_id"))
    (emits, result)
  }
}
