package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset, ReadLimit, ReadMaxRows, SupportsTriggerAvailableNow}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** DataSource V2 STREAMING source — the third leg of the custom-connector
  * surface (batch read with pushdown: [[GraftRangeSource]]; batch sink with
  * the commit protocol: [[GraftCommitSink]]).
  *
  * Emits the same deterministic (id, val, bucket) range as the batch source,
  * but as a micro-batch stream with ADMISSION CONTROL: the offset is the
  * emitted-row count, `getDefaultReadLimit` caps each micro-batch at
  * `rowsPerBatch`, and `latestOffset(start, limit)` advances the offset by
  * at most that cap — so one logical dataset arrives as N genuine
  * micro-batches (exactly how a rate-limited Kafka/file source paces a
  * backlog: `maxOffsetsPerTrigger` / `maxFilesPerTrigger`). Under
  * `Trigger.AvailableNow` the wrapper calls `prepareForTriggerAvailableNow`,
  * drains batch-by-batch to the captured end, then terminates; offsets are
  * replayable (pure position), so checkpoint recovery re-plans any range.
  */
class GraftRangeStream extends TableProvider {
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    GraftRangeSource.schema
  override def getTable(schema: StructType, partitioning: Array[Transform],
                        properties: java.util.Map[String, String]): Table =
    new GraftRangeStreamTable(
      properties.getOrDefault("end", "1000").toLong,
      properties.getOrDefault("rowsPerBatch", "250").toLong)
}

class GraftRangeStreamTable(total: Long, rowsPerBatch: Long) extends Table with SupportsRead {
  override def name(): String = s"graft_range_stream($total,$rowsPerBatch)"
  override def schema(): StructType = GraftRangeSource.schema
  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(TableCapability.MICRO_BATCH_READ)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    () => new Scan {
      override def readSchema(): StructType = GraftRangeSource.schema
      override def description(): String = s"GraftRangeStream[total=$total]"
      override def toMicroBatchStream(checkpointLocation: String): MicroBatchStream =
        new GraftMicroBatchStream(total, rowsPerBatch)
    }
}

/** Offset = number of rows emitted so far (a pure position — replayable). */
case class GraftStreamOffset(pos: Long) extends Offset {
  override def json(): String = pos.toString
}

class GraftMicroBatchStream(total: Long, rowsPerBatch: Long)
    extends MicroBatchStream with SupportsTriggerAvailableNow {

  override def initialOffset(): Offset = GraftStreamOffset(0L)
  override def deserializeOffset(json: String): Offset = GraftStreamOffset(json.toLong)
  override def commit(end: Offset): Unit = ()
  override def stop(): Unit = ()

  // admission control: each trigger admits at most the read-limit's rows
  override def getDefaultReadLimit: ReadLimit = ReadLimit.maxRows(rowsPerBatch)
  override def latestOffset(start: Offset, limit: ReadLimit): Offset = {
    val from = start.asInstanceOf[GraftStreamOffset].pos
    val cap = limit match {
      case m: ReadMaxRows => m.maxRows()
      case _ => total
    }
    GraftStreamOffset(math.min(total, from + cap))
  }
  override def reportLatestOffset(): Offset = GraftStreamOffset(total)
  override def prepareForTriggerAvailableNow(): Unit = ()
  override def latestOffset(): Offset =
    throw new UnsupportedOperationException("admission-control source: use latestOffset(start, limit)")

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val from = start.asInstanceOf[GraftStreamOffset].pos
    val until = end.asInstanceOf[GraftStreamOffset].pos
    if (from >= until) Array.empty
    else Array(GraftRangePartition(from, until))
  }
  override def createReaderFactory(): PartitionReaderFactory =
    new GraftRangeReaderFactory(GraftRangeSource.schema.fieldNames)
}

/** Driver-contract query over the streaming source: drain 20k rows in
  * admission-controlled micro-batches (rowsPerBatch caps each pull — three
  * batches here; per-microbatch machinery costs ~0.5 s, so the batch size
  * demonstrates throttling without paying for dozens of drains), aggregate
  * per bucket in complete mode — the result must equal the batch closed
  * form (DuckDB regenerates it from range()).
  */
object GraftStreamQueries {
  def streamSourceAgg(spark: SparkSession, dir: String): DataFrame = {
    val drained = graft.streaming.StreamJoinOps.runToCompletion(spark, "complete", skipFinalize = true) { s =>
      s.readStream.format("graft.sources.GraftRangeStream")
        .option("end", "20000").option("rowsPerBatch", "7000")
        .load()
        .groupBy(col("bucket"))
        .agg(count(lit(1)).as("n"), sum(col("val")).as("sum_val"))
    }
    drained.orderBy(col("bucket"))
  }

  val streamSourceAggOracle: String =
    """SELECT id % 10 AS bucket, count(*) AS n,
      | CAST(sum((id * 2654435761) % 1000) AS BIGINT) AS sum_val
      |FROM (SELECT range AS id FROM range(0, 20000))
      |GROUP BY 1 ORDER BY 1""".stripMargin
}
