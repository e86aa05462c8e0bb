package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.ExplainMode

/** Plan-snapshot regression harness: pin the `.explain("formatted")` output
  * of plan-sensitive headline queries as normalized text files, and fail the
  * build when a plan silently changes shape — a broadcast degrading to a
  * sort-merge join, a runtime filter disappearing, a WindowGroupLimit
  * decorrelation regressing to a cartesian — BEFORE the regression costs
  * bench seconds (the cross-round perf signal is noisy enough that a 2×
  * plan regression on one query can hide in host variance for a round).
  *
  * Normalization strips run-varying tokens (expression ids, plan ids, file
  * paths) so the snapshot is stable across sessions while preserving every
  * structural fact: operator tree, join strategies, pushed filters, read
  * schemas, partitioning.
  *
  * Workflow: `tools/run.sh graft.PlanDigestGen` regenerates the snapshot
  * files under `src/test/resources/plans` after an INTENTIONAL plan change;
  * the git diff of those files is the review artifact. `PlanDigestSpec`
  * compares live plans against the pinned files.
  */
object PlanDigest {

  /** Queries pinned by the harness — each exercises a distinct planner
    * decision worth guarding: broadcast joins (q03), unpartitioned window
    * (q04), custom as-of exec + pushdown rule (q61), runtime bloom filter
    * (q89), HAVING join-back (q118), LATERAL→WindowGroupLimit (q126),
    * null-aware anti join (q129), replicated-salt join (q146), postings
    * pre-filter + TakeOrderedAndProject (q157), codegen AvgHash64 kernel +
    * banded self-join (q187), cascading broadcast anti/semi purge (q198),
    * PrefixSum two-pass distributed rank (q233: range exchange +
    * pid-partitioned window + literal offsets, no single-task sort), custom
    * broadcast merge interval join exec (q239), KEYED merge interval join
    * (q261: co-clustered sides, the SCD2 window's exchange reused — zero
    * extra shuffle between history derivation and join).
    */
  val pinned: Seq[String] = Seq(
    "q01_pricing_summary", "q03_revenue_by_nation", "q04_market_share",
    "q61_asof_join", "q89_runtime_filter", "q118_big_spenders",
    "q126_lateral_topk", "q129_not_in_nullaware", "q146_salted_join",
    "q157_bm25_topk", "q187_phash_neardup", "q198_gdpr_purge",
    "q233_ks_test", "q239_interval_join", "q261_scd2_interval_attr",
    "q307_srp_gated_neardup", "q309_range_interval_join", "q310_outage_attribution",
    "q312_record_linkage", "q316_png_roundtrip", "q318_interval_filtered",
    "q320_graded_linkage", "q321_srp64_gated_neardup", "q323_scd2_salted",
    "q324_delta_gated_neardup", "q331_salted_adaptive", "q332_auto_gated_neardup",
    "q335_outage_hot_window", "q337_near_exact_gated", "q340_near_exact_srp64")

  val snapshotDir = "src/test/resources/plans"

  /** Build the query and return its normalized formatted plan. */
  def planFor(spark: SparkSession, name: String, sfDir: String): String = {
    val df = SparkEntry.queries(name)(spark, sfDir)
    normalize(df.queryExecution.explainString(ExplainMode.fromString("formatted")), sfDir)
  }

  /** Strip run-varying tokens, keep plan structure. The PrefixSum offset
    * literals are masked too: RangePartitioner SAMPLES its boundaries with a
    * per-run seed, so the per-partition prefix offsets broadcast back into
    * the plan are correct-but-run-varying — the structural fact worth
    * pinning is the pid-keyed CASE chain itself, not the sampled split.
    */
  def normalize(plan: String, sfDir: String): String =
    plan
      .replace(sfDir, "<sf>")
      .replaceAll("#\\d+", "#")
      .replaceAll("plan_id=\\d+", "plan_id=x")
      // a checkpoint leaf prints its backing RDD's id and call site
      // (`MapPartitionsRDD[130] at localCheckpoint at Caches.scala:43`): the
      // id counts every RDD the JVM made before, the line moves with edits
      .replaceAll("RDD\\[\\d+\\] at (\\w+) at ([\\w.$]+):\\d+", "RDD[<id>] at $1 at $2:<line>")
      .replaceAll("file:[^\\s\\],)\\]]*", "<path>")
      .replaceAll("Location: \\S+ \\[[^\\]]*\\]", "Location: <loc>")
      .replaceAll("WHEN \\(__ps_pid# = (\\d+)\\) THEN -?\\d+", "WHEN (__ps_pid# = $1) THEN <off>")
      // typed-API lambdas print a JVM-run-specific class + identity hash
      // (…$$Lambda$5975/0x…@7df…) — scrub to the stable prefix
      .replaceAll("\\$\\$(?:anonfun\\$)?Lambda\\$?[\\d/x0-9a-fA-F]*@[0-9a-f]+", "\\$\\$Lambda@<id>")
      // sampled range-bucket boundaries (epoch-second literal arrays in the
      // q309/q310 plans) are PLACEMENT-only — the result provably doesn't
      // depend on them, and the sample shifts with scan partitioning (e.g.
      // a prior suite's cached scan), so pin the shape, not the sample.
      // Scoped to the lines that mention the __rb_ bucket columns: a global
      // number-run scrub would also mask SEMANTIC literal arrays (SRP/Weyl
      // plane constants, big IN-lists), silencing real drift in those
      .split("\n", -1).map { l =>
        if (l.contains("__rb_")) {
          var cur = l.replaceAll("-?\\d{6,}(,\\s*-?\\d{6,})+", "<bounds>")
            // hot-bucket split literals are MEASURED from the same sampled
            // quantiles (bucket id, salt factor, salt array) — placement
            // only, like the bounds; pin the split's SHAPE, not the sample
            .replaceAll("\\(__rb_([lr])# = \\d+\\)", "(__rb_$1# = <hot>)")
          // the salt modulus, scrubbed PER pmod OCCURRENCE by an explicit
          // paren walk (r13 advice: the old greedy regex spanned to the
          // LAST ", <int>)" on the line, so a line carrying two salted
          // pmods leaked the earlier factor; a reluctant regex instead
          // truncates at parens inside the hashed columns — the r12 bug.
          // The walk finds each `pmod(xxhash64(` span's matching close and
          // rewrites exactly its trailing ", <int>)", never a literal
          // inside the hashed arguments).
          cur = scrubPmodModuli(cur)
          // the salt array at ANY factor — k = 2 produces the bare [0,1] the
          // old [0,1,d...] pattern missed. ≥ 2 elements required so the
          // formatted plan's column-count brackets (`Output [3]:`) keep
          // pinning plan structure; a salt array always has ≥ 2 salts.
          cur.replaceAll("\\[\\d+(,\\s*\\d+)+\\]", "[<salts>]")
        } else l
      }.mkString("\n")
      // HOF lambda variable names carry a session-global counter (x_4 vs
      // x_130 depending on what ran before) — scrub the counter for the
      // letters our HOFs actually bind (transform/filter/aggregate bind x,
      // zip_with binds x and y, nested aggregates bind acc via x/y/z). A
      // broader [a-z] scrub would also normalize genuine plan columns
      // named like s_1/e_2 and mask real drift (the same hazard the
      // <bounds> scoping above closed).
      .replaceAll("\\b([xyz])_\\d+#", "$1_#")
      .replaceAll("(?m)\\s+$", "")

  /** Scrub the sampled salt modulus of every `pmod(xxhash64(...), k)` on
    * the line to `<k>`: for each occurrence, walk to the pmod's matching
    * close paren and rewrite exactly the trailing `, <int>)` — inner
    * literals (xxhash64 seeds, casts) are untouchable by construction.
    */
  private[graft] def scrubPmodModuli(l: String): String = {
    val marker = "pmod(xxhash64("
    val sb = new StringBuilder
    var i = 0
    while (i < l.length) {
      val at = l.indexOf(marker, i)
      if (at < 0) { sb.append(l.substring(i)); i = l.length }
      else {
        sb.append(l.substring(i, at))
        var depth = 0
        var j = at + 4 // index of pmod's '('
        var end = -1
        while (j < l.length && end < 0) {
          l.charAt(j) match {
            case '(' => depth += 1
            case ')' => depth -= 1; if (depth == 0) end = j
            case _ =>
          }
          j += 1
        }
        // unterminated span (wrapped/truncated explain line): still scrub
        // any ", <int>)" in the remainder — over-scrubbing degrades to a
        // stable digest, passing the modulus through flags spurious drift
        // (r14 advice)
        if (end < 0) {
          sb.append(l.substring(at).replaceAll(", \\d+\\)", ", <k>)"))
          i = l.length
        }
        else {
          sb.append(l.substring(at, end + 1).replaceAll(", \\d+\\)$", ", <k>)"))
          i = end + 1
        }
      }
    }
    sb.toString
  }

  /** The session shape the snapshots are pinned under — MUST match the test
    * session (`TestSpark`): partition counts appear inside Exchange nodes.
    */
  def session(): SparkSession = {
    val s = SparkSession.builder()
      .master("local[8]")
      .appName("graft-plan-digest")
      .config("spark.sql.shuffle.partitions", "8")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}

/** Regenerator main: rewrites the pinned snapshots from the CURRENT plans.
  * Run after an intentional plan change; review the git diff.
  * `tools/run.sh graft.PlanDigestGen [sf] [out] [all]` writes `<query>.txt`
  * under `out` (default the snapshot dir); `all` plans every registry query,
  * so two commits' plans diff dir to dir. A query that throws gets its
  * exception in place of a plan.
  */
object PlanDigestGen {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val dir = new java.io.File(args.lift(1).getOrElse(PlanDigest.snapshotDir))
    val names = if (args.lift(2).contains("all")) SparkEntry.queries.keys.toSeq.sorted
                else PlanDigest.pinned
    val spark = PlanDigest.session()
    dir.mkdirs()
    names.foreach { name =>
      val plan =
        try PlanDigest.planFor(spark, name, sfDir)
        catch { case e: Exception => s"<failed> ${e.getClass.getName}: ${e.getMessage}" }
      graft.ops.Caches.releaseAll()
      val f = new java.io.File(dir, s"$name.txt")
      java.nio.file.Files.writeString(f.toPath, plan)
      println(s"[plan-digest] wrote ${f.getPath} (${plan.length} chars)")
    }
    spark.stop()
  }
}
