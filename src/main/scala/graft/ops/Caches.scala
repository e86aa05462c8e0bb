package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.graftbridge.GraftSqlBridge
import org.apache.spark.storage.StorageLevel

/** The one lifecycle of operator-internal intermediates: every persist and
  * every checkpoint an operator or streaming run takes (PrefixSum's
  * range-partitioned pass, the dedup families' token-id tables, the
  * connected-components rounds, the streaming drain, the pipeline's deduped
  * frame …) is enrolled here, together with the per-run scratch dirs a
  * returned frame reads, and [[releaseAll]] frees all of them. Verify, Bench
  * and perfbench call it after each query's action completes, so a sweep
  * over the whole registry does not accumulate corpus-sized cached data.
  *
  * Contract: a frame derived from an enrolled intermediate is not executed
  * after [[releaseAll]]. A released persist would only recompute, but a
  * released checkpoint has no lineage left and a released dir no files, so
  * such a frame throws. Verify and Bench rebuild each query's frame from
  * scratch per execution; specs that hold a frame across assertions release
  * only after their last action on it.
  */
object Caches {
  private val tracked = new java.util.concurrent.ConcurrentLinkedQueue[DataFrame]()
  private val trackedRdds =
    new java.util.concurrent.ConcurrentLinkedQueue[org.apache.spark.rdd.RDD[_]]()
  private val trackedDirs = new java.util.concurrent.ConcurrentLinkedQueue[String]()

  implicit class Tracked(private val df: DataFrame) extends AnyVal {
    /** `df.persist(MEMORY_AND_DISK)`, enrolled: [[releaseAll]] unpersists it
      * through the CacheManager, so a later persist of the same plan caches
      * afresh. */
    def persistTracked(): DataFrame = {
      val p = df.persist(StorageLevel.MEMORY_AND_DISK)
      tracked.add(p)
      p
    }

    /** Eager `df.localCheckpoint()`, enrolled: checkpoint blocks live outside
      * the CacheManager, so only the backing RDD's handle can release them.
      */
    def checkpointTracked(): DataFrame = {
      val c = df.localCheckpoint()
      GraftSqlBridge.checkpointRdd(c).foreach(trackedRdds.add(_))
      c
    }
  }

  /** Enroll a per-run scratch dir ([[Staging.perRunDir]]) that a returned
    * frame reads lazily — q100's sink output, q130's overwritten table.
    */
  def deleteOnRelease(dir: String): String = {
    trackedDirs.add(dir)
    dir
  }

  private def activeSession: Option[org.apache.spark.sql.SparkSession] =
    org.apache.spark.sql.SparkSession.getActiveSession
      .orElse(org.apache.spark.sql.SparkSession.getDefaultSession)

  /** Unpersist (non-blocking) everything enrolled since the last call and
    * delete the enrolled scratch dirs.
    */
  def releaseAll(): Unit = {
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
    var dir = trackedDirs.poll()
    while (dir != null) {
      val path = new org.apache.hadoop.fs.Path(dir)
      // without a live session a default Hadoop conf still reaches the
      // local scratch root, so no enrolled dir outlives its release
      val conf = activeSession.map(_.sparkContext.hadoopConfiguration)
        .getOrElse(new org.apache.hadoop.conf.Configuration())
      path.getFileSystem(conf).delete(path, true)
      dir = trackedDirs.poll()
    }
  }
}
