package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{SupportsWrite, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.write._
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** DataSource V2 batch SINK implementing the classic two-phase commit
  * protocol — the other half of the custom-source surface
  * ([[GraftRangeSource]] covers read + pushdown).
  *
  * Why this matters at 100 TB: a thousand tasks (plus speculative and
  * retried attempts) write concurrently, and a reader must never observe a
  * torn or duplicated output. The protocol here is the one Spark's own file
  * committers and every serious connector use:
  *
  *  1. each task writes to an INVISIBLE staging file
  *     (`_staging/part-<partition>-<taskId>.csv` — `_`-prefixed paths are
  *     ignored by Spark readers);
  *  2. task commit returns the staged path as its `WriterCommitMessage`
  *     (the driver's commit coordinator guarantees at most one committed
  *     attempt per partition — duplicates/zombies never produce a message);
  *  3. JOB commit renames exactly the committed files into the target and
  *     removes the staging dir, so zombie attempt files vanish;
  *  4. abort deletes the staging dir — the target is untouched.
  *
  * Rows serialize as CSV through the Hadoop FileSystem API, so the same
  * code runs against HDFS/S3A; schema travels in the `ddl` option (this
  * provider is a pure sink — there is nothing to infer from).
  */
class GraftCommitSink extends TableProvider {
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    StructType.fromDDL(options.get("ddl"))
  override def getTable(schema: StructType, partitioning: Array[Transform],
                        properties: java.util.Map[String, String]): Table =
    new GraftSinkTable(schema, properties.get("path"))
}

class GraftSinkTable(writeSchema: StructType, target: String) extends Table with SupportsWrite {
  override def name(): String = s"graft_sink($target)"
  override def schema(): StructType = writeSchema
  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(TableCapability.BATCH_WRITE)
  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    new WriteBuilder {
      override def build(): Write = new Write {
        override def toBatch: BatchWrite =
          new GraftSinkBatchWrite(target, info.schema(), info.queryId())
      }
    }
}

case class GraftStagedFile(path: String, rows: Long) extends WriterCommitMessage

class GraftSinkBatchWrite(target: String, schema: StructType, queryId: String)
    extends BatchWrite {
  private def hadoopConf = org.apache.spark.SparkContext.getOrCreate().hadoopConfiguration
  private def stagingDir = new Path(target, s"_staging-$queryId")

  override def createBatchWriterFactory(info: PhysicalWriteInfo): DataWriterFactory =
    new GraftSinkWriterFactory(target, queryId, schema)

  /** Job commit: move exactly the committed attempts' files into place,
    * then drop the staging dir (zombie attempt files die here).
    */
  override def commit(messages: Array[WriterCommitMessage]): Unit = {
    val fs = stagingDir.getFileSystem(hadoopConf)
    messages.foreach { case GraftStagedFile(p, _) =>
      val src = new Path(p)
      fs.rename(src, new Path(target, src.getName))
    }
    fs.delete(stagingDir, true)
    val out = fs.create(new Path(target, "_GRAFT_COMMITTED"), true)
    out.write(messages.map { case GraftStagedFile(p, n) => s"${new Path(p).getName}\t$n" }
      .sorted.mkString("\n").getBytes("UTF-8"))
    out.close()
  }

  override def abort(messages: Array[WriterCommitMessage]): Unit = {
    val fs = stagingDir.getFileSystem(hadoopConf)
    fs.delete(stagingDir, true)
  }
}

/** Driver-contract round trip through the commit-protocol sink: write a
  * projection of `orders` via [[GraftCommitSink]], read the committed CSV
  * back with an explicit schema, aggregate; the oracle runs on the original
  * parquet — matching proves the custom write path is lossless and the
  * commit protocol exposed only committed files.
  */
object GraftSinkQueries {
  import org.apache.spark.sql.{DataFrame, SparkSession}
  import org.apache.spark.sql.functions._

  def sinkRoundTrip(spark: SparkSession, dir: String): DataFrame = {
    val base = graft.ops.Staging.ensure(spark, "sink", dir, Seq("orders"),
        Seq("out/_GRAFT_COMMITTED")) { base =>
      val df = graft.Tables.orders(spark, dir)
        .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"), col("o_orderpriority"))
      df.write.format("graft.sources.GraftCommitSink")
        .option("path", base + "/out")
        .option("ddl", df.schema.toDDL)
        .mode("append").save()
    }
    val schema = StructType(Seq(
      StructField("o_orderkey", LongType), StructField("o_custkey", LongType),
      StructField("o_totalprice", DoubleType), StructField("o_orderpriority", StringType)))
    spark.read.schema(schema).csv(base + "/out")
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n"),
        sum(col("o_totalprice").cast(DecimalType(18, 2))).cast("double").as("sum_price"))
      .orderBy(col("o_orderpriority"))
  }

  val sinkRoundTripOracle: String =
    """SELECT o_orderpriority, count(*) AS n,
      | CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
      |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin
}

class GraftSinkWriterFactory(target: String, queryId: String, schema: StructType)
    extends DataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long): DataWriter[InternalRow] =
    new DataWriter[InternalRow] {
      private val path = new Path(new Path(target, s"_staging-$queryId"),
        f"part-$partitionId%05d-$taskId.csv")
      private val fs = path.getFileSystem(new org.apache.hadoop.conf.Configuration())
      private val out = fs.create(path, true)
      private var rows = 0L

      override def write(row: InternalRow): Unit = {
        val line = schema.fields.indices.map { i =>
          schema.fields(i).dataType match {
            case LongType    => row.getLong(i).toString
            case IntegerType => row.getInt(i).toString
            case DoubleType  => row.getDouble(i).toString
            case StringType  => row.getUTF8String(i).toString
            case dt => throw new UnsupportedOperationException(s"type $dt")
          }
        }.mkString(",")
        out.write((line + "\n").getBytes("UTF-8"))
        rows += 1
      }
      override def commit(): WriterCommitMessage = {
        out.close()
        GraftStagedFile(path.toString, rows)
      }
      override def abort(): Unit = { out.close(); fs.delete(path, false) }
      override def close(): Unit = ()
    }
}
