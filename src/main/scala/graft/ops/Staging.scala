package graft.ops

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession

/** Idempotent scratch-dir staging with self-healing: a stage is valid only
  * when its `_STAGED` marker AND every expected data path exist. A
  * half-staged dir — marker without data or data without marker, left by a
  * crashed run, tmp-space reclamation, or another process writing the same
  * path — is wiped and rebuilt instead of silently poisoning every query
  * that reads it (a marker-only check once turned the pipeline e2e into a
  * 0-row result when an unrelated stage claimed its directory).
  */
object Staging {

  /** Root for PER-RUN scratch output (deleted and rewritten every call —
    * streaming checkpoints, q100's sink, q130's overwrite table): tmpfs when
    * the host offers it, else `java.io.tmpdir`. This is the one placement
    * decision for per-run scratch: an AvailableNow run commits a few small
    * checkpoint files per microbatch, and on a disk-backed tmpdir those
    * writes set the microbatch floor. Idempotent STAGED dirs deliberately
    * stay under `java.io.tmpdir`: they persist across runs and tmpfs does
    * not.
    */
  lazy val perRunRoot: String = {
    // Deployment knob (r14 verdict #8): per-run scratch placement is an
    // explicit choice, not a silent local assumption — a cluster points
    // SPARK_GRAFT_SCRATCH at its fast staging store (HDFS/S3/local NVMe).
    // Default: tmpfs only when it is present AND has headroom — tmpfs is
    // RAM-backed and typically capped at 50% RAM, so a larger scale factor's
    // sink/overwrite scratch must degrade to java.io.tmpdir instead of
    // hitting ENOSPC or memory pressure (r14 advice).
    sys.env.get("SPARK_GRAFT_SCRATCH")
      .map(checkedScratch(_, SparkSession.active.sparkContext.hadoopConfiguration))
      .getOrElse {
        val shm = new java.io.File("/dev/shm")
        val minFreeBytes = 8L << 30
        if (shm.isDirectory && shm.canWrite && shm.getUsableSpace > minFreeBytes) shm.getPath
        else sys.props("java.io.tmpdir")
      }
  }

  /** A fresh per-run dir under [[perRunRoot]]: `<prefix>_<uuid>`. Unique per
    * call, so two runs of one query — in one JVM or in two on the same host —
    * never share scratch. The caller deletes it when its run is done, or
    * enrolls it in [[Caches.deleteOnRelease]] when a returned frame still
    * reads it lazily.
    */
  def perRunDir(prefix: String): String =
    perRunRoot + "/" + prefix + "_" + java.util.UUID.randomUUID().toString.replace("-", "")

  /** Fail fast on an unusable `SPARK_GRAFT_SCRATCH`: `root` must exist, be a
    * directory and accept a probe file, checked through the Hadoop
    * FileSystem so `hdfs://` and `s3a://` roots work too. A typo'd or
    * read-only root otherwise surfaces later as an obscure write error deep
    * inside a streaming run.
    */
  private[graft] def checkedScratch(root: String, conf: Configuration): String = {
    val dir = new Path(root)
    val problem =
      try {
        val fs = dir.getFileSystem(conf)
        if (!fs.exists(dir)) Some("does not exist")
        else if (!fs.getFileStatus(dir).isDirectory) Some("is not a directory")
        else {
          val probe = new Path(dir, "_graft_probe_" + java.util.UUID.randomUUID())
          fs.create(probe, false).close()
          fs.delete(probe, false)
          None
        }
      } catch { case e: java.io.IOException => Some(s"is not writable (${e.getMessage})") }
    problem.foreach(p => throw new IllegalArgumentException(s"SPARK_GRAFT_SCRATCH=$root $p"))
    root
  }

  /** Run `write` unless `base` already holds a completed stage; returns
    * `base`. `dataPaths` are base-relative paths that must exist for the
    * stage to count as complete (the marker alone is not trusted).
    */
  def ensure(spark: SparkSession, base: String, dataPaths: Seq[String])
            (write: => Unit): String = {
    val basePath = new Path(base)
    val fs = basePath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val done = new Path(base + "/_STAGED")
    val valid = fs.exists(done) &&
      dataPaths.forall(p => fs.exists(new Path(base + "/" + p)))
    if (!valid) {
      fs.delete(basePath, true)
      fs.mkdirs(basePath)
      write
      fs.create(done).close()
    }
    base
  }
}
