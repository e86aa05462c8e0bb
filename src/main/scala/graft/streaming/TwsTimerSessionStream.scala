package graft.streaming

import graft.ops.EventOps
import org.apache.spark.sql.{DataFrame, Dataset, Encoders, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{ExpiredTimerInfo, OutputMode, StatefulProcessor,
  TimeMode, TimerValues, TTLConfig, ValueState}

/** Event-time TIMERS through Spark 4's `transformWithState` — the timer half
  * of the new stateful API ([[TwsSpendStream]] covers typed state): the q80
  * timeout sessionization re-expressed with `registerTimer` /
  * `handleExpiredTimer` instead of `GroupStateTimeout.EventTimeTimeout`.
  * Semantics are IDENTICAL by construction (same incarnation fold, timers
  * armed at `last event + gap + 60 s`, expiry = watermark passing that
  * point finalizes-and-drops the incarnation), so it shares q80's batch
  * sessionization oracle verbatim — the strongest possible statement that
  * the two APIs implement the same state machine. One difference the new
  * API makes explicit: timer RE-ARMING is the processor's job (the timer
  * handle is a set, not a slot), so the previous timer is tracked in state
  * and deleted before each re-arm — at 100 TB, leaked timers are leaked
  * state-store entries.
  */
object TwsTimerSessionStream {

  final case class TEv(user_id: Long, minute: Long, event_id: Long)
  /** Incarnation + the currently-armed timer (ms, −1 = none). */
  final case class IncState(incMinute: Long, lastMinute: Long, sessions: Long,
                            events: Long, timerMs: Long)
  final case class IncEmit(user_id: Long, inc_minute: Long, n_sessions: Long, n_events: Long)

  class SessionProcessor extends StatefulProcessor[Long, TEv, IncEmit] {
    @transient private var st: ValueState[IncState] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      st = getHandle.getValueState[IncState]("inc",
        Encoders.product[IncState], TTLConfig.NONE)

    override def handleInputRows(key: Long, rows: Iterator[TEv],
                                 timerValues: TimerValues): Iterator[IncEmit] = {
      var s = if (st.exists()) st.get() else IncState(-1L, Long.MinValue, 0L, 0L, -1L)
      rows.toSeq.sortBy(e => (e.minute, e.event_id)).foreach { e =>
        val newSession = EventOps.newSession(s.lastMinute, e.minute)
        s = IncState(if (s.incMinute < 0L) e.minute else s.incMinute, e.minute,
          s.sessions + (if (newSession) 1L else 0L), s.events + 1L, s.timerMs)
      }
      if (s.timerMs >= 0L) getHandle.deleteTimer(s.timerMs)
      val t = EventOps.sessionDeadlineMs(s.lastMinute)
      getHandle.registerTimer(t)
      st.update(s.copy(timerMs = t))
      Iterator.single(IncEmit(key, s.incMinute, s.sessions, s.events))
    }

    override def handleExpiredTimer(key: Long, timerValues: TimerValues,
                                    expiredTimerInfo: ExpiredTimerInfo): Iterator[IncEmit] = {
      // watermark > last event + gap: the incarnation is provably closed
      val s = st.get()
      st.clear()
      Iterator.single(IncEmit(key, s.incMinute, s.sessions, s.events))
    }
  }

  def sessionsTimerStreaming(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val srcDir = EventsStream.stageStreamDirMulti(spark, dir, nFiles = 3)

    val drained = StreamJoinOps.runToCompletion(spark, "update") { s =>
      import s.implicits._
      s.conf.set("spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
      val evs: Dataset[TEv] = s.readStream
        .schema(SessionStream.rawSchema)
        .option("maxFilesPerTrigger", 1)
        .parquet(srcDir)
        .withColumn("ts", timestamp_micros(col("ts")))
        .withWatermark("ts", "30 minutes")
        .select(col("user_id"),
          unix_timestamp(date_trunc("minute", col("ts"))).as("minute"),
          col("event_id"))
        .as[TEv]

      evs.groupByKey(_.user_id)
        .transformWithState(new SessionProcessor, TimeMode.EventTime(), OutputMode.Update())
    }

    // last (= max, emissions are cumulative) per incarnation, summed per user
    drained
      .groupBy(col("user_id"), col("inc_minute"))
      .agg(max(col("n_sessions")).as("s"), max(col("n_events")).as("e"))
      .groupBy(col("user_id"))
      .agg(sum(col("s")).as("n_sessions"), sum(col("e")).as("n_events"))
      .orderBy(col("user_id"))
  }
}
