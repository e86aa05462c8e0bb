package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Encoders, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{OutputMode, StatefulProcessor, TimeMode,
  TimerValues, TTLConfig, ValueState}

/** Arbitrary stateful streaming via Spark 4's `transformWithState` — the
  * successor API to `mapGroupsWithState` ([[SessionStream]] keeps the classic
  * form; THIS is the Spark-4-native one): a [[StatefulProcessor]] with typed
  * state handles from [[org.apache.spark.sql.streaming.StatefulProcessorHandle]]
  * (ValueState here; ListState/MapState/timers/TTL are the same handle),
  * running per-user running-spend tracking whose final emissions must equal
  * the batch aggregation — the batch≡streaming proof every stateful op in
  * this repo carries.
  *
  * State per user is O(1) (count, total cents, max cents) — the shape that
  * holds at 100 TB stream history; cents are exact integers (the q197
  * DECIMAL·100 primitive) so streaming accumulation order cannot produce
  * float drift vs the batch oracle. The landing dir is multi-file with one
  * file per microbatch, so state genuinely survives batch boundaries.
  */
object TwsSpendStream {

  final case class SpendIn(user_id: Long, cents: Long)
  final case class SpendState(n: Long, total: Long, mx: Long)
  final case class SpendOut(user_id: Long, n_events: Long, total_cents: Long, max_cents: Long)

  class SpendProcessor extends StatefulProcessor[Long, SpendIn, SpendOut] {
    @transient private var st: ValueState[SpendState] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      st = getHandle.getValueState[SpendState]("spend",
        Encoders.product[SpendState], TTLConfig.NONE)

    override def handleInputRows(key: Long, rows: Iterator[SpendIn],
                                 timerValues: TimerValues): Iterator[SpendOut] = {
      var s = if (st.exists()) st.get() else SpendState(0L, 0L, Long.MinValue)
      rows.foreach { r =>
        s = SpendState(s.n + 1L, s.total + r.cents, math.max(s.mx, r.cents))
      }
      st.update(s)
      Iterator.single(SpendOut(key, s.n, s.total, s.mx))
    }
  }

  /** Run the processor to completion over the staged events dir and return
    * the final per-user spend profile (update-mode last emission per key —
    * the [[SessionStream]] drain discipline).
    */
  def spendStreaming(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val srcDir = EventsStream.stageStreamDirMulti(spark, dir, nFiles = 2)

    val drained = StreamJoinOps.runToCompletion(spark, "update", skipFinalize = true) { s =>
      import s.implicits._
      // transformWithState stores each state variable in its own column
      // family — a RocksDB-provider capability the default HDFS-backed
      // store rejects outright, so this query pins the provider (on the
      // CLONED session only; the rest of the streaming family stays
      // provider-agnostic and is equality-tested under both in
      // StreamScaleSpec).
      s.conf.set("spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
      val evs: Dataset[SpendIn] = s.readStream
        .schema(SessionStream.rawSchema)
        .option("maxFilesPerTrigger", 1)
        .parquet(srcDir)
        .select(col("user_id"),
          expr("CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)").as("cents"))
        .as[SpendIn]

      evs.groupByKey(_.user_id)
        .transformWithState(new SpendProcessor, TimeMode.None(), OutputMode.Update())
    }

    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("user_id")).orderBy(desc("n_events"))
    drained
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("user_id"), col("n_events"), col("total_cents"), col("max_cents"))
      .orderBy(col("user_id"))
  }

  val oracleSql: String =
    """SELECT user_id, count(*) AS n_events,
      | CAST(sum(cents) AS BIGINT) AS total_cents,
      | max(cents) AS max_cents
      |FROM (SELECT user_id,
      |        CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
      |      FROM events) t
      |GROUP BY 1 ORDER BY user_id""".stripMargin
}
