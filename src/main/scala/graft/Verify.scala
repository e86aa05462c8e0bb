package graft
import org.apache.spark.sql.{DataFrame, SparkSession}
import java.nio.file.{Files, Paths, StandardOpenOption}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json for the DuckDB oracle compare, and
  * verify_failures.tsv naming every query that threw. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    // Dev-only subset filter (driver never sets it): SPARK_GRAFT_ONLY=q38,q59
    val only = sys.env.get("SPARK_GRAFT_ONLY").map(_.split(",").toSet)
    val selected = only match {
      // prefix match, same as Bench: SPARK_GRAFT_ONLY=q38,q59 selects the
      // full registry names q38_neardup_jaccard / q59_simhash_neardup
      case Some(names) => SparkEntry.queries.filter(kv => names.exists(kv._1.startsWith))
      case None => SparkEntry.queries
    }
    dumpQueries(spark, sfDir, outDir, selected)
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }

  /** Name of the per-run failure record written beside `oracle_sql.json`:
    * one `name<TAB>exception class<TAB>message` line per failed query
    * (empty when every query wrote its result).
    */
  val FailuresFile = "verify_failures.tsv"

  /** Write each query's result to `outDir/<name>`. A query that throws has
    * its full stack trace (cause chain included) printed to stderr, is
    * recorded in [[FailuresFile]], and the run goes on with the next query.
    */
  private[graft] def dumpQueries(spark: SparkSession, sfDir: String, outDir: String,
      queries: Iterable[(String, (SparkSession, String) => DataFrame)]): Unit = {
    val failures = Paths.get(outDir, FailuresFile)
    Files.writeString(failures, "")
    def oneLine(s: String): String = String.valueOf(s).replaceAll("[\t\r\n]+", " ")
    queries.foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed:")
        e.printStackTrace(System.err)
        Files.writeString(failures,
          s"$name\t${e.getClass.getName}\t${oneLine(e.getMessage)}\n",
          StandardOpenOption.APPEND)
      }
      // drop operator-internal persists and checkpoints — a full-registry
      // run must not accumulate one cached frame per PrefixSum/dedup call
      finally graft.ops.Caches.releaseAll()
    }
  }
}
