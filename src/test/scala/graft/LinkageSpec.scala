package graft

import graft.ops.LinkageOps
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Invariants of the Fellegi–Sunter linkage family (q312/q313/q315) that the
  * hash oracle can't express: sign structure of the learned weights,
  * blocking recall against the KNOWN derivation, and conservation laws of
  * the golden-record collapse.
  */
class LinkageSpec extends AnyFunSuite {
  import TestSpark._

  test("learned weights separate: agreement evidence positive, disagreement negative (q313)") {
    val w = LinkageOps.linkageWeights(spark, sf).collect()
    assert(w.length === 4)
    w.foreach { r =>
      val f = r.getString(0)
      assert(r.getDouble(5) > 0.0, s"$f: w_agree must be positive evidence")
      assert(r.getDouble(6) < 0.0, s"$f: w_disagree must be negative evidence")
      // name is the near-unique identifier: its agreement weight must
      // dominate the categorical fields' (nation has 25 values, seg 5-6)
      if (f == "name") assert(r.getDouble(5) > 5.0, "name agreement should be decisive")
    }
  }

  test("multi-pass blocking recall: candidates cover ≥ 90% of true pairs (q312)") {
    val cust = Tables.customer(spark, sf)
    val nTrue = cust.filter(col("c_custkey") % 10 =!= 9).count()
    // the confusion matrix's is_true rows = true pairs that SURVIVED blocking
    val m = LinkageOps.recordLinkage(spark, sf)
      .filter(col("is_true")).agg(sum(col("n_pairs"))).head.getLong(0)
    assert(m >= (nTrue * 9) / 10,
      s"blocking found $m of $nTrue true pairs — multi-pass recall regressed")
    // and only records with BOTH sort keys perturbed may escape: the bound
    // is loose on purpose (rank neighborhoods shift), the 90% is the contract
  }

  test("graded agreement recovers typo'd-address true pairs that boolean agreement misses (q320)") {
    // the r9-verdict item: a close level (6-dp-quantized Jaro-Winkler >= 0.9)
    // between exact and disagree. The derivation typos the address of every
    // key % 3 == 1 B-record, so those true pairs can NEVER agree exactly on
    // addr — a boolean model scores them "disagree"; the graded model must
    // route them through the close level into 'match'.
    def cell(rows: Array[org.apache.spark.sql.Row], d: String, t: Boolean): Long =
      rows.collectFirst {
        case r if r.getString(0) == d && r.getBoolean(1) == t => r.getLong(2)
      }.getOrElse(0L)
    val graded = LinkageOps.gradedLinkage(spark, sf).collect()
    val boolean = LinkageOps.recordLinkage(spark, sf).collect()
    val gradedTrueMatch = cell(graded, "match", t = true)
    val booleanTrueMatch = cell(boolean, "match", t = true)
    assert(gradedTrueMatch > booleanTrueMatch,
      s"graded model must find MORE true matches ($gradedTrueMatch vs $booleanTrueMatch)")
    assert(cell(graded, "match", t = false) <= cell(boolean, "match", t = false),
      "the high-entropy graded field must not ADD false matches")
    // the recovery is genuinely the close level's doing: typo'd true pairs
    // land in (match, true) with lvl_addr == 1
    val closeInMatch = graded.collectFirst {
      case r if r.getString(0) == "match" && r.getBoolean(1) => r.getLong(3)
    }.getOrElse(0L)
    assert(closeInMatch > 0L,
      "true matches must include close-level (typo'd-address) pairs")
  }

  test("golden-record collapse conserves records; matched clusters absorb one A and one B (q315)") {
    val g = LinkageOps.goldenRecords(spark, sf).collect()
    val total = g.map(_.getLong(1)).sum
    val nA = Tables.customer(spark, sf).count()
    val nB = Tables.customer(spark, sf).filter(col("c_custkey") % 10 =!= 9).count()
    assert(total === nA + nB, "every record lands in exactly one cluster")
    // survivor is the cluster-min record, so its name is never null
    assert(g.forall(!_.isNullAt(3)))
    // pairs dominate: most clusters are {A-original, B-reobservation}
    val pairs = g.count(r => r.getLong(1) == 2L && r.getLong(2) == 1L)
    assert(pairs * 2 > g.length, s"expected mostly A+B pairs, got $pairs of ${g.length}")
    graft.ops.Caches.releaseAll()
  }
}
