package graft

import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String
import org.scalatest.funsuite.AnyFunSuite

/** Pins [[graft.functions.StringKernels.jaroWinkler]] BIT-EXACTLY to DuckDB
  * v1.0.0's `jaro_winkler_similarity` — the expected doubles below were
  * probed from DuckDB itself, and a 30k-random-pair diff-test of the same
  * algorithm (byte-wise matching, window ⌊max/2⌋−1, ⌊mismatches/2⌋
  * transpositions, (m/|s| + m/|t| + (m−t)/m)/3 evaluation order, boost only
  * when jaro > 0.7, prefix cap 4, empty ⇒ 0) produced zero bit mismatches.
  * This is what lets the q320 oracle compare `round6(jw) >= 0.9` across
  * engines without tolerance.
  */
class StringSimSpec extends AnyFunSuite {
  import TestSpark._

  private def jw(a: String, b: String): Double =
    graft.functions.StringKernels.jaroWinkler(
      UTF8String.fromString(a), UTF8String.fromString(b))

  private val pinned: Seq[(String, String, Double)] = Seq(
    ("MARTHA", "MARHTA", 0.9611111111111111),        // classic transposition
    ("DIXON", "DICKSONX", 0.8133333333333332),
    ("JELLYFISH", "SMELLYFISH", 0.8962962962962964), // no common prefix -> no boost
    ("DWAYNE", "DUANE", 0.8400000000000001),
    ("ABCDXXXX", "ABCDYYYY", 0.6666666666666666),    // jaro <= 0.7: boost suppressed
    ("ABCDEXXXX", "ABCDEYYYY", 0.8222222222222222),  // prefix capped at 4
    ("abcdefgh", "abcdefxy", 0.9),
    ("x", "xy", 0.8500000000000001),
    ("aaa", "aaaaaaaaaa", 0.8366666666666667),
    ("aXbcde", "abcde", 0.9500000000000001),
    ("abc", "abc", 1.0),
    ("", "abc", 0.0),
    ("", "", 0.0),                                   // DuckDB: both-empty is 0, not 1
    ("a", "b", 0.0),
    ("ab", "ba", 0.0))                               // window 0: no matches

  test("kernel matches DuckDB jaro_winkler_similarity bit-exactly on pinned probes") {
    pinned.foreach { case (a, b, want) =>
      val got = jw(a, b)
      assert(java.lang.Double.doubleToLongBits(got) ===
        java.lang.Double.doubleToLongBits(want),
        s"jw('$a','$b') = $got, DuckDB says $want")
    }
  }

  test("codegen Expression path equals the interpreted kernel and stays in codegen") {
    import spark.implicits._
    // repartition first: a pure-literal local relation would constant-fold
    // into a LocalTableScan and never exercise the generated code
    val df = pinned.map { case (a, b, _) => (a, b) }.toDF("a", "b")
      .repartition(2)
      .select(col("a"), col("b"),
        graft.functions.StringFunctions.jaroWinkler(col("a"), col("b")).as("jw"))
    val rows = df.collect()
    rows.foreach { r =>
      val want = jw(r.getString(0), r.getString(1))
      assert(java.lang.Double.doubleToLongBits(r.getDouble(2)) ===
        java.lang.Double.doubleToLongBits(want), s"${r.getString(0)}/${r.getString(1)}")
    }
    // the `*(n)` stage marker = inside WholeStageCodegen; a fallen-out
    // expression would print an unstarred Project
    val p = df.queryExecution.executedPlan.toString
    assert("\\*\\(\\d+\\) Project \\[a#".r.findFirstIn(p).isDefined,
      "JaroWinkler must not fall out of codegen:\n" + p.take(600))
  }

  test("typo'd md5 fingerprints separate cleanly at the 0.9 close threshold") {
    // the q320 design fact: one-char typo keeps quantized JW >= 0.9 for
    // EVERY customer key at this SF; distinct keys' fingerprints never reach it
    val keys = Tables.customer(spark, sf)
      .select(col("c_custkey")).collect().map(_.getLong(0))
    val fps = keys.map(k =>
      k -> java.security.MessageDigest.getInstance("MD5")
        .digest(k.toString.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString)
    def q6(x: Double): Double = math.floor(x * 1000000.0 + 0.5) / 1000000.0
    fps.foreach { case (k, fp) =>
      val typo = fp.substring(0, 31) + "Q"
      assert(q6(jw(fp, typo)) >= 0.9, s"key $k: typo'd fingerprint must stay close")
    }
    // spot the cross-entity margin on a neighbor sample (full N^2 is wasteful)
    fps.sliding(2).foreach {
      case Array((k1, f1), (_, f2)) =>
        assert(q6(jw(f1, f2)) < 0.9, s"keys $k1/+1: distinct fingerprints must not be close")
      case _ =>
    }
  }
}
