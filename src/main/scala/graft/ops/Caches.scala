package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.storage.StorageLevel

/** Registry for operator-internal persisted intermediates (PrefixSum's
  * range-partitioned pass, the dedup families' token-id tables, …) so a long
  * sweep over the whole query registry doesn't accumulate corpus-sized cached
  * datasets: Verify and Bench call [[releaseAll]] after each query's action
  * completes.
  *
  * Contract: a plan must not be executed after the frames it reads were
  * released. A released `persist` only recomputes (for PrefixSum even that
  * is exact: the offset CASE literals are pid-keyed against the exec's
  * memoized shuffle, not re-sampled), but a released `localCheckpoint` (a
  * [[trackCheckpoint]] frame, or one [[releaseAll]] sweeps, such as the
  * [[DedupOps.components]] labels) has no lineage left and THROWS when
  * re-read. Verify and Bench rebuild each query's DataFrame from scratch
  * per execution, which honours this; specs that hold a frame across
  * assertions simply don't call release mid-test.
  */
object Caches {
  private val tracked = new java.util.concurrent.ConcurrentLinkedQueue[DataFrame]()
  private val trackedRdds =
    new java.util.concurrent.ConcurrentLinkedQueue[org.apache.spark.rdd.RDD[_]]()

  /** Enroll a `localCheckpoint()`ed frame's backing RDD for the next
    * [[release]]: checkpoint blocks live outside the CacheManager, so
    * `df.unpersist()` cannot reach them, and a warm bench loop (3 reps per
    * query) would otherwise accumulate one persisted RDD per rep released
    * only by GC — invisible to the cache-leak accounting (r14 advice).
    * SHARPER contract than plain persist tracking: a released CHECKPOINT
    * cannot be recomputed (the lineage was truncated), so the enrolled
    * frame — and every plan derived from it — must never be executed after
    * [[release]]. Both Verify and Bench rebuild each query's DataFrame from
    * scratch per execution, which is exactly that.
    */
  def trackCheckpoint(df: DataFrame): DataFrame = {
    org.apache.spark.sql.graftbridge.GraftSqlBridge.checkpointRdd(df)
      .foreach(trackedRdds.add(_))
    df
  }

  /** `df.persist(MEMORY_AND_DISK)` + enrollment for the next [[release]]. */
  def persistTracked(df: DataFrame): DataFrame = {
    val p = df.persist(StorageLevel.MEMORY_AND_DISK)
    tracked.add(p)
    p
  }

  /** `df.persistTracked()` suffix form for call-chain sites. */
  implicit class TrackedPersist(private val df: DataFrame) extends AnyVal {
    def persistTracked(): DataFrame = Caches.persistTracked(df)
  }

  /** Unpersist (non-blocking) everything enrolled since the last release.
    * A frame derived from a released checkpoint cannot be executed again
    * (see the contract above).
    */
  def release(): Unit = {
    var d = tracked.poll()
    while (d != null) {
      d.unpersist(blocking = false)
      d = tracked.poll()
    }
    var r = trackedRdds.poll()
    while (r != null) {
      r.unpersist(blocking = false)
      r = trackedRdds.poll()
    }
  }

  /** [[release]] plus a sweep of EVERY still-persisted RDD in the context —
    * the between-queries form Bench and Verify use. Operator-internal
    * `localCheckpoint`s (the [[DedupOps.components]] labels and loop
    * rounds, PrefixSum passes…) persist RDDs that no unpersist call can
    * reach once the operator returns: checkpoint blocks are outside the
    * CacheManager, and ContextCleaner only reaps them after an organic GC
    * collects the RDD object — with `spark.cleaner.periodicGC.interval`
    * defaulting to 30 min, a multi-hundred-query session accumulates
    * thousands of dead MEMORY_AND_DISK blocks that compete with execution
    * memory (measured r15: q256 warm 1.45 s isolated vs 5.1 s late-suite).
    * Safe exactly where the release contract already holds: both Bench and
    * Verify rebuild every query's frame from scratch per execution, so
    * nothing persisted by a FINISHED query is ever read again. Tests keep
    * calling plain [[release]], which never touches frames they still hold.
    */
  def releaseAll(): Unit = {
    release()
    org.apache.spark.sql.SparkSession.getActiveSession
      .orElse(org.apache.spark.sql.SparkSession.getDefaultSession)
      .foreach(_.sparkContext.getPersistentRDDs.values
        .foreach(_.unpersist(blocking = false)))
  }
}
