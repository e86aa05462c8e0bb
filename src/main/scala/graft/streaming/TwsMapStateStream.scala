package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Encoders, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{MapState, OutputMode, StatefulProcessor,
  TimeMode, TimerValues, TTLConfig}

/** `transformWithState` with a typed **MapState** handle — the fourth and
  * last Spark 4 state primitive after ValueState ([[TwsSpendStream]] q205),
  * event-time timers ([[TwsTimerSessionStream]] q206) and ListState
  * ([[TwsLastKStream]] q207): a per-user map of exact integer counters keyed
  * by event type (count + DECIMAL·100 cent total per type — the feature-store
  * "per-entity categorical profile" shape).
  *
  * Why MapState and not a ValueState[Map[...]]: the map handle reads and
  * writes ONE key per update (`getValue`/`updateValue` — point lookups in the
  * state store's column family) instead of deserializing and rewriting the
  * whole map every batch; at 100 TB state with wide categorical domains
  * that's the difference between O(types-touched) and O(types-held) I/O per
  * key per batch.
  *
  * Per batch each (user, type) touched emits its UPDATED running counters
  * (update-mode discipline); counters are monotone, so the final value per
  * (user, type) is the emission with the maximal count — exactly the batch
  * `GROUP BY user_id, event_type` aggregation, which the oracle pins
  * (streaming ≡ batch, hash-matched at all SFs).
  */
object TwsMapStateStream {

  final case class TypeIn(user_id: Long, event_type: String, cents: Long)
  final case class TypeAgg(n: Long, cents: Long)
  final case class TypeOut(user_id: Long, event_type: String, n_events: Long, total_cents: Long)

  class TypeProfileProcessor extends StatefulProcessor[Long, TypeIn, TypeOut] {
    @transient private var st: MapState[String, TypeAgg] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      st = getHandle.getMapState[String, TypeAgg]("type_profile",
        Encoders.STRING, Encoders.product[TypeAgg], TTLConfig.NONE)

    override def handleInputRows(key: Long, rows: Iterator[TypeIn],
                                 timerValues: TimerValues): Iterator[TypeOut] = {
      // fold the batch locally, then ONE point write per touched type
      val touched = scala.collection.mutable.LinkedHashMap.empty[String, TypeAgg]
      rows.foreach { r =>
        val cur = touched.get(r.event_type)
          .orElse(if (st.containsKey(r.event_type)) Some(st.getValue(r.event_type)) else None)
          .getOrElse(TypeAgg(0L, 0L))
        touched.update(r.event_type, TypeAgg(cur.n + 1L, cur.cents + r.cents))
      }
      touched.foreach { case (t, agg) => st.updateValue(t, agg) }
      touched.iterator.map { case (t, agg) => TypeOut(key, t, agg.n, agg.cents) }
    }
  }

  /** Run the processor to completion over the staged events dir and return
    * the final per-(user, type) profile (update-mode maximal emission per
    * key — counts are monotone so max(n) is the last write).
    */
  def typeProfileStreaming(spark: SparkSession, dir: String): DataFrame = {
    val srcDir = EventsStream.stageStreamDirMulti(spark, dir, nFiles = 2)

    val drained = StreamJoinOps.runToCompletion(spark, "update", skipFinalize = true) { s =>
      import s.implicits._
      // MapState lives in its own RocksDB column family — pin the provider
      // on the cloned session (same constraint as the rest of the tws family)
      s.conf.set("spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
      val evs: Dataset[TypeIn] = s.readStream
        .schema(SessionStream.rawSchema)
        .option("maxFilesPerTrigger", 1)
        .parquet(srcDir)
        .select(col("user_id"), col("event_type"),
          expr("CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)").as("cents"))
        .as[TypeIn]

      evs.groupByKey(_.user_id)
        .transformWithState(new TypeProfileProcessor, TimeMode.None(), OutputMode.Update())
    }

    StreamJoinOps.lastEmission(drained, Seq("user_id", "event_type"), "n_events",
      Seq("user_id", "event_type", "n_events", "total_cents"))
  }

  val oracleSql: String =
    """SELECT user_id, event_type, count(*) AS n_events,
      | CAST(sum(CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)) AS BIGINT) AS total_cents
      |FROM events
      |GROUP BY 1, 2 ORDER BY user_id, event_type""".stripMargin
}
