package perfbench

import graft.enrich.Rules
import graft.pipeline.Pipeline
import java.nio.file.{Files, Paths}
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** vacancy_daily composes the public calls `Pipeline.run` makes, because
  * `Pipeline.run` hard-wires its classifiers. With the part rule
  * classifiers swapped in, the composition must return the same rows as
  * `Pipeline.run` on the same files.
  */
class ComposeParitySpec extends AnyFunSuite {
  /** Drops in the testdata `part` vocabulary, which the part rule
    * classifiers `Pipeline.run` hard-wires cover, with re-posted rows,
    * same-id updates and blank fields.
    */
  private def partDrops(files: Int, rows: Int): Seq[Seq[Gen.Row]] = {
    val r = new scala.util.Random(9)
    val names = for (a <- Seq("blue", "hot", "large", "old"); n <- Seq("bolt", "gizmo", "ring", "rod", "widget"))
      yield s"$a $n"
    val types = Seq("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD", "")
    var nextId = 0L
    (0 until files).foldLeft(Vector.empty[Seq[Gen.Row]]) { (acc, f) =>
      val prev = acc.lastOption.getOrElse(Nil)
      acc :+ Seq.fill(rows) {
        val u = r.nextDouble()
        if (u < 0.12 && prev.nonEmpty) prev(r.nextInt(prev.size))
        else {
          val id = if (u < 0.16 && prev.nonEmpty) prev(r.nextInt(prev.size)).id else { nextId += 1; nextId }
          Gen.Row(id, names(r.nextInt(names.size)), types(r.nextInt(types.size)), Gen.date(f),
            (40000 + 1000 * r.nextInt(100)).toString)
        }
      }
    }
  }

  test("the vacancy_daily composition returns Pipeline.run's rows") {
    val base = Files.createTempDirectory(Files.createDirectories(Paths.get("target")), "parity")
    val spark = SparkSession.builder().master("local[2]").config("spark.sql.shuffle.partitions", "2")
      .config("spark.ui.enabled", "false").config("spark.sql.warehouse.dir", base.resolve("wh").toString)
      .getOrCreate()
    try {
      val hist = Files.createDirectories(base.resolve("history"))
      val staging = Files.createDirectories(base.resolve("staging"))
      partDrops(6, 400).zipWithIndex.foreach { case (rows, i) =>
        Gen.land(hist, Gen.fileName(i), Gen.render(rows), staging)
      }
      val cols = Seq("id", "title", "ai_field_of_activity", "created_at", "salary_to",
        "normalized_title", "category", "specialization")
      def rows(df: org.apache.spark.sql.DataFrame) =
        df.select(cols.map(org.apache.spark.sql.functions.col): _*).collect().map(_.toSeq).sortBy(_.head.toString).toSeq
      val viaRun = rows(Pipeline.run(spark, hist.toString, None, latestK = 4))
      spark.catalog.clearCache()
      val viaCompose = rows(Compose.pipeline(spark, hist.toString, base.resolve("out").toString, 4,
        Rules.partNameClassifier, Rules.partTypeClassifier))
      assert(viaRun.nonEmpty)
      assert(viaCompose == viaRun)
    } finally {
      spark.stop()
      scala.reflect.io.Directory(base.toFile).deleteRecursively()
    }
  }
}
