package graft

import org.scalatest.funsuite.AnyFunSuite

/** Plan-snapshot regression gate: the normalized formatted plan of every
  * [[PlanDigest.pinned]] query must equal its checked-in snapshot under
  * `src/test/resources/plans/`. On an INTENTIONAL plan change, regenerate
  * with `tools/run.sh graft.PlanDigestGen` and review the git diff; on an
  * unintentional one, this test is the tripwire (the actual plan is written
  * to `target/plans/` for side-by-side diffing).
  */
class PlanDigestSpec extends AnyFunSuite {
  import TestSpark._

  PlanDigest.pinned.foreach { name =>
    test(s"plan snapshot: $name") {
      val expectedFile = new java.io.File(PlanDigest.snapshotDir, s"$name.txt")
      assert(expectedFile.exists(),
        s"missing snapshot ${expectedFile.getPath} — run tools/run.sh graft.PlanDigestGen")
      val expected = new String(
        java.nio.file.Files.readAllBytes(expectedFile.toPath),
        java.nio.charset.StandardCharsets.UTF_8)
      val actual = PlanDigest.planFor(spark, name, sf)
      if (actual != expected) {
        val outDir = new java.io.File("target/plans"); outDir.mkdirs()
        val f = new java.io.File(outDir, s"$name.txt")
        val w = new java.io.PrintWriter(f, "UTF-8")
        try w.write(actual) finally w.close()
        val firstDiff = actual.linesIterator.zipAll(expected.linesIterator, "<EOF>", "<EOF>")
          .zipWithIndex.find { case ((a, e), _) => a != e }
        fail(s"plan changed for $name (first diff at line " +
          s"${firstDiff.map(_._2 + 1).getOrElse(-1)}: " +
          s"expected '${firstDiff.map(_._1._2).getOrElse("")}' got " +
          s"'${firstDiff.map(_._1._1).getOrElse("")}'). Actual written to ${f.getPath}; " +
          "if intentional, regenerate with tools/run.sh graft.PlanDigestGen")
      }
    }
  }

  test("hot-split scrubs survive every sampled shape: k=2 salt arrays, cast-bearing pmod hashes") {
    // r12 advice: the salt-array pattern [0,1,d...] missed a sampled factor
    // of 2 (bare [0,1]) and the lazy pmod match broke on a ')' inside the
    // hashed columns — either leaks a sample-dependent literal into a
    // pinned digest and makes the pin flaky across approxQuantile samples
    val pmodLine = "Output [4]: [a#3, __rb_l#7, CASE WHEN (__rb_l#7 = 7) THEN " +
      "cast(pmod(xxhash64(cast(a#3 as bigint), b#4, 42), 3) as int) ELSE 0 END AS __rb_s#9]"
    val n = PlanDigest.normalize(pmodLine, "/tmp/x")
    assert(n.contains("(__rb_l# = <hot>)"), n)
    assert(n.contains(", <k>) as int"), s"modulus must scrub despite the cast's ')': $n")
    val salt2 = "Arguments: explode([0,1]), [x#1], false, [__rb_k#2]"
    assert(PlanDigest.normalize(salt2, "/tmp/x").contains("[<salts>]"),
      "a sampled salt factor of 2 must scrub like any other")
    val salt5 = "Arguments: explode([0,1,2,3,4]), [x#1], false, [__rb_k#2]"
    assert(PlanDigest.normalize(salt5, "/tmp/x").contains("[<salts>]"))
    // non-__rb_ lines keep their semantic literal arrays (SRP planes,
    // IN-lists) — the scrub must stay scoped
    val semantic = "Arguments: filter([1,2,3], lambdafunction(x, x, false))"
    assert(PlanDigest.normalize(semantic, "/tmp/x").contains("[1,2,3]"))
    // the formatted plan's column-count brackets are STRUCTURE, not sample:
    // `Output [3]:` on an __rb_ line must survive (a dropped or added
    // column is exactly what the pin exists to catch)
    val counted = "Output [3]: [a#1, b#2, __rb_l#7]"
    assert(PlanDigest.normalize(counted, "/tmp/x").startsWith("Output [3]:"))
    // r13 advice: a line carrying TWO salted pmods (left- and right-side
    // salt columns in one Project) must scrub BOTH moduli — the greedy
    // single pass only replaced the last one, leaking the earlier factor
    val twoPmod = "Output [5]: [a#3, __rb_l#7, " +
      "pmod(xxhash64(cast(a#3 as bigint), 42), 3) AS __rb_sl#9, " +
      "pmod(xxhash64(b#4, 42), 5) AS __rb_sr#10]"
    val n2 = PlanDigest.normalize(twoPmod, "/tmp/x")
    assert("<k>\\)".r.findAllIn(n2).size == 2,
      s"both salt moduli must scrub on a two-pmod line: $n2")
    // r14 advice: an UNTERMINATED pmod span (wrapped/truncated explain
    // output never balances its parens on the line) must still scrub every
    // trailing ", <int>)" in the remainder — over-scrubbing degrades to a
    // stable digest; passing the modulus through flags spurious plan drift
    val wrapped = "Output [4]: [a#3, pmod(xxhash64(substr(a#3, 1, (b#4, 42), 3) AS __rb_s#9"
    val n3 = PlanDigest.normalize(wrapped, "/tmp/x")
    assert(!n3.contains(", 42)") && !n3.contains(", 3)"),
      s"an unterminated span must not leak int literals shaped like moduli: $n3")
    // a checkpoint leaf's RDD id counts the RDDs the JVM made before it,
    // and its call-site line moves with any edit above it: both scrub, the
    // creating call and file stay
    val leaf = "Arguments: [d#853, v#854L], MapPartitionsRDD[130] at localCheckpoint " +
      "at Caches.scala:43, ExistingRDD, UnknownPartitioning(0)"
    val n4 = PlanDigest.normalize(leaf, "/tmp/x")
    assert(n4.contains("MapPartitionsRDD[<id>] at localCheckpoint at Caches.scala:<line>,"), n4)
  }
}
