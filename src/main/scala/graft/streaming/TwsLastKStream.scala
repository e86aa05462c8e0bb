package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Encoders, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{OutputMode, StatefulProcessor, TimeMode,
  TimerValues, TTLConfig, ListState}

/** `ListState` through Spark 4's `transformWithState` — the third state
  * primitive after [[TwsSpendStream]]'s ValueState and
  * [[TwsTimerSessionStream]]'s timers: a BOUNDED last-K cache per key (the
  * "recent items" pattern every personalization/fraud feature store runs).
  * Each user's state is their K most recent purchases by (ts, event_id);
  * the processor re-truncates on every batch, so state is O(K) per key no
  * matter how long the stream runs — the list primitive's whole point at
  * 100 TB. Final emissions are padded scalars (−1), not arrays, for
  * dtype-stable oracle compares; must equal the batch top-K-per-user query.
  */
object TwsLastKStream {

  final case class PIn(user_id: Long, micros: Long, event_id: Long, cents: Long)
  final case class Purchase(micros: Long, event_id: Long, cents: Long)
  final case class LastKOut(user_id: Long, n_purchases: Long,
                            last_cents: Long, second_cents: Long, third_cents: Long)

  private val K = 3

  class LastKProcessor extends StatefulProcessor[Long, PIn, LastKOut] {
    @transient private var recent: ListState[Purchase] = _
    @transient private var seen: org.apache.spark.sql.streaming.ValueState[Long] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit = {
      recent = getHandle.getListState[Purchase]("recent",
        Encoders.product[Purchase], TTLConfig.NONE)
      seen = getHandle.getValueState[Long]("seen",
        Encoders.scalaLong, TTLConfig.NONE)
    }

    override def handleInputRows(key: Long, rows: Iterator[PIn],
                                 timerValues: TimerValues): Iterator[LastKOut] = {
      val incoming = rows.map(r => Purchase(r.micros, r.event_id, r.cents)).toSeq
      val existing = if (recent.exists()) recent.get().toSeq else Seq.empty
      val kept = (existing ++ incoming)
        .sortBy(p => (-p.micros, -p.event_id)).take(K)
      recent.put(kept.toArray)
      val n = (if (seen.exists()) seen.get() else 0L) + incoming.size
      seen.update(n)
      val c = kept.map(_.cents).padTo(K, -1L)
      Iterator.single(LastKOut(key, n, c(0), c(1), c(2)))
    }
  }

  def lastKStreaming(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    // 3 time-ordered files = 3 microbatches: the ListState merge of kept
    // and incoming purchases runs across batches
    val srcDir = EventsStream.stageStreamDirMulti(spark, dir, nFiles = 3)

    val drained = StreamJoinOps.runToCompletion(spark, "update", skipFinalize = true) { s =>
      import s.implicits._
      s.conf.set("spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
      val evs: Dataset[PIn] = s.readStream
        .schema(SessionStream.rawSchema)
        .option("maxFilesPerTrigger", 1)
        .parquet(srcDir)
        .filter(col("event_type") === "purchase")
        .select(col("user_id"), col("ts").as("micros"), col("event_id"),
          expr("CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)").as("cents"))
        .as[PIn]

      evs.groupByKey(_.user_id)
        .transformWithState(new LastKProcessor, TimeMode.None(), OutputMode.Update())
    }

    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("user_id")).orderBy(desc("n_purchases"))
    drained
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("user_id"), col("n_purchases"),
        col("last_cents"), col("second_cents"), col("third_cents"))
      .orderBy(col("user_id"))
  }

  val oracleSql: String =
    """WITH p AS (SELECT user_id, ts, event_id,
      |    CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents,
      |    row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
      |  FROM events WHERE event_type = 'purchase')
      |SELECT user_id, count(*) AS n_purchases,
      | coalesce(max(CASE WHEN rn = 1 THEN cents END), -1) AS last_cents,
      | coalesce(max(CASE WHEN rn = 2 THEN cents END), -1) AS second_cents,
      | coalesce(max(CASE WHEN rn = 3 THEN cents END), -1) AS third_cents
      |FROM p GROUP BY 1 ORDER BY user_id""".stripMargin
}
