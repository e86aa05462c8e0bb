package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan

/** Minimal `private[sql]` bridge for the graft extension operators.
  *
  * Spark 4's unified `Column` API no longer exposes the Catalyst expression,
  * and `classic.Dataset.ofRows` (logical plan → DataFrame) is `private[sql]`.
  * Both are required to offer a DataFrame-level API over a custom
  * `LogicalPlan` node ([[graft.plans.AsOfJoinPlan]]). Declaring this one tiny
  * object inside the `org.apache.spark.sql` namespace is the established
  * technique for Spark-native extension libraries that ship custom plans;
  * everything else in graft stays on public API.
  */
object GraftSqlBridge {
  /** Catalyst expression behind a Column (classic sessions). */
  def expression(c: Column): Expression =
    org.apache.spark.sql.classic.ExpressionUtils.expression(c)

  /** Column over a hand-built Catalyst expression — how the graft Column
    * API binds its native expressions without a function registry entry.
    */
  def column(e: Expression): Column =
    org.apache.spark.sql.classic.ExpressionUtils.column(e)

  /** DataFrame over a hand-built logical plan (the `Dataset.ofRows` that
    * extension points like injected rules use internally).
    */
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    org.apache.spark.sql.classic.Dataset.ofRows(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession], plan)

  /** Full session clone (same SparkContext and shared CacheManager, COPIED
    * SessionState: runtime SQLConf, function registry, experimental rules) —
    * the scoped-conf alternative to mutating the shared session. Unlike
    * `newSession()` (fresh SessionState seeded from the context conf), a
    * clone carries the caller's runtime conf, so per-operator overrides
    * start from the session the user actually configured.
    */
  def cloneSession(spark: SparkSession): SparkSession =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession].cloneSession()

  /** Rebind a DataFrame's logical plan into another session (typically a
    * [[cloneSession]] clone) so every operator DERIVED from it plans under
    * that session's conf. Persisted inputs still hit: the CacheManager lives
    * in the shared state and matches on canonicalized analyzed plans, which
    * normalize the expression ids a re-analysis mints.
    */
  def rebind(df: DataFrame, spark: SparkSession): DataFrame =
    ofRows(spark, df.queryExecution.logical)

  /** A catalog table's bucket spec: (numBuckets, bucketColumns, sortColumns).
    * Lets index maintenance (compaction) DERIVE the layout from the table's
    * own DDL instead of re-hardcoding the build constants — a future index
    * with a different band count can never be silently compacted into the
    * wrong spec.
    */
  def bucketSpec(spark: SparkSession, table: String): Option[(Int, Seq[String], Seq[String])] = {
    val state = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession].sessionState
    state.catalog.getTableMetadata(state.sqlParser.parseTableIdentifier(table))
      .bucketSpec.map(b => (b.numBuckets, b.bucketColumnNames, b.sortColumnNames))
  }

  /** A catalog table's storage location, if registered. Lets the
    * manifest-versioned index lifecycle detect a catalog entry pointing at
    * a SUPERSEDED version directory (another process flipped the manifest)
    * and re-register instead of reading stale files.
    */
  def tableLocation(spark: SparkSession, table: String): Option[java.net.URI] = {
    val state = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession].sessionState
    scala.util.Try(
      state.catalog.getTableMetadata(
        state.sqlParser.parseTableIdentifier(table)).location).toOption
  }

  /** The persisted RDD backing a `localCheckpoint()`ed frame, if any.
    * Checkpoint blocks live OUTSIDE the CacheManager (`df.unpersist()` cannot
    * reach them), so releasing one requires the RDD handle itself — see
    * [[graft.ops.Caches.trackCheckpoint]].
    */
  def checkpointRdd(df: DataFrame): Option[org.apache.spark.rdd.RDD[_]] =
    df.queryExecution.analyzed.collectFirst {
      case r: org.apache.spark.sql.execution.LogicalRDD => r.rdd
    }

  /** Drain the async listener bus (best-effort, bounded) — needed when a
    * SparkListener's counters are snapshotted between queries (the bench's
    * opt-in per-query shuffle attribution): task-end events are delivered
    * asynchronously and would otherwise bleed into the next query's bucket.
    */
  def waitListenerEmpty(spark: SparkSession, timeoutMs: Long = 10000L): Unit =
    try spark.sparkContext.listenerBus.waitUntilEmpty(timeoutMs)
    catch { case _: java.util.concurrent.TimeoutException => }
}
