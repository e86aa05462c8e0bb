package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import org.apache.spark.sql.types._

/** Custom-state streaming: per-user sessionization with
  * `mapGroupsWithState` — the stateful-streaming capability class
  * (KeyValueGroupedDataset + GroupState) that windowed aggregation can't
  * express. Semantics mirror the batch sessionization
  * ([[graft.ops.EventOps.sessionCounts]]): a new session starts when the gap
  * from the previous event exceeds 30 minutes (minute-truncated timestamps
  * for precision stability).
  *
  * State per user = (last event minute, session count, event count) — O(1)
  * per key, the shape that scales to arbitrarily long streams. With
  * `Trigger.AvailableNow` over a finite directory the final update-mode
  * emission per key equals the batch result (asserted in the test suite).
  */
object SessionStream {

  final case class Ev(user_id: Long, minute: Long, event_id: Long)
  final case class SessionState(lastMinute: Long, sessions: Long, events: Long)
  final case class UserSessions(user_id: Long, n_sessions: Long, n_events: Long)

  /** Schema of the STAGED landing files — `ts` is a long in canonical MICROS
    * since epoch, written by [[EventsStream]]'s stagers (which funnel any
    * source encoding through [[graft.Tables.decodeEventsTs]]); the explicit
    * readStream schema therefore cannot drift from the files.
    */
  private[graft] val rawSchema = StructType(Seq(
    StructField("event_id", LongType),
    StructField("ts", LongType), // canonical staged micros since epoch
    StructField("user_id", LongType),
    StructField("event_type", StringType),
    StructField("value", DoubleType),
    StructField("props", StringType),
  ))

  private val gapSeconds = 1800L

  /** One state transition: events of a user within a microbatch, ordered by
    * (minute, event_id) — the same deterministic order the batch window uses.
    */
  def updateState(userId: Long, events: Iterator[Ev],
      state: GroupState[SessionState]): UserSessions = {
    var s = state.getOption.getOrElse(SessionState(Long.MinValue, 0L, 0L))
    events.toSeq.sortBy(e => (e.minute, e.event_id)).foreach { e =>
      val newSession = s.lastMinute == Long.MinValue || e.minute - s.lastMinute > gapSeconds
      s = SessionState(e.minute,
        s.sessions + (if (newSession) 1L else 0L),
        s.events + 1L)
    }
    state.update(s)
    UserSessions(userId, s.sessions, s.events)
  }

  /** Run the stateful sessionization to completion over the events dir and
    * return the final per-user counts.
    *
    * The source is a MULTI-file landing directory processed one file per
    * microbatch ([[EventsStream.stageStreamDirMulti]]): the per-user
    * `GroupState` genuinely survives across microbatches (a user's session
    * can straddle a batch boundary), which a single-batch run never
    * exercises. Files are time-split, so per-user event-time order across
    * batches matches arrival order — the well-formed landing-dir contract;
    * late cross-file data would need `flatMapGroupsWithState` + event-time
    * timeout to hold open sessions until the watermark passes.
    */
  def sessionsStreaming(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val srcDir = EventsStream.stageStreamDirMulti(spark, dir, nFiles = 2)

    val drained = StreamJoinOps.runToCompletion(spark, "update", skipFinalize = true) { s =>
      val evs: Dataset[Ev] = s.readStream
        .schema(rawSchema)
        .option("maxFilesPerTrigger", 1) // one landing file = one microbatch
        .parquet(srcDir)
        .select(col("user_id"),
          unix_timestamp(date_trunc("minute", timestamp_micros(col("ts")))).as("minute"),
          col("event_id"))
        .as[Ev]

      evs.groupByKey(_.user_id)
        .mapGroupsWithState(GroupStateTimeout.NoTimeout())(updateState)
    }

    // update-mode emits once per key per microbatch; AvailableNow over one
    // directory yields the final value per key in the last emission
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("user_id")).orderBy(desc("n_events"))
    drained
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("user_id"), col("n_sessions"), col("n_events"))
      .orderBy(col("user_id"))
  }
}
