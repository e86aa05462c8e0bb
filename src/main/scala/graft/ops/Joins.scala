package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions.broadcast

/** The one broadcast decision an operator makes itself. Every other side is
  * left to Catalyst's own size estimate; a literal `broadcast()` hint stays
  * only where that estimate cannot see the side's real size (a filter whose
  * estimate grows with the corpus, centroid and codebook tables, checkpoint
  * leaves) or where a non-equi join would otherwise plan a cartesian product.
  */
object Joins {

  /** Session conf key (bytes): the largest estimated side [[broadcastIfFits]]
    * broadcasts; specs set it to force the shuffle fallback.
    */
  val MaxBroadcastBytesConf = "graft.join.maxBroadcastBytes"

  /** Default bound: well under Spark's 8 GB broadcast limit and executor
    * memory, far above the sides this corpus produces.
    */
  val DefaultMaxBroadcastBytes: Long = 256L << 20

  /** A join side the caller sized: broadcast within the bound (the other side
    * is not shuffled), past it a shuffle hash join — one pass of each side,
    * never the 8 GB broadcast wall.
    */
  def broadcastIfFits(side: DataFrame, estBytes: Long): DataFrame = {
    val bound = side.sparkSession.conf
      .getOption(MaxBroadcastBytesConf).map(_.toLong).getOrElse(DefaultMaxBroadcastBytes)
    if (estBytes <= bound) broadcast(side) else side.hint("shuffle_hash")
  }

  /** Catalyst's size estimate of a side read from files: it grows with the
    * files and costs no job. A checkpoint leaf carries the estimate of the
    * plan before its checkpoint, so a side with one is refused.
    */
  def scanEstimatedBytes(side: DataFrame): Long = {
    val plan = side.queryExecution.optimizedPlan
    require(plan.collectLeaves().forall(!_.isInstanceOf[LogicalRDD]),
      "a checkpoint leaf does not carry its own size estimate")
    plan.stats.sizeInBytes.min(BigInt(Long.MaxValue)).toLong
  }

  /** A session of the caller's context with size-based broadcast off: the
    * joins a big-big corpus gets, at every SF.
    */
  def scaleEmulationSession(spark: SparkSession): SparkSession = {
    val s = spark.newSession() // shares the persistent catalog + context
    s.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    s
  }
}
