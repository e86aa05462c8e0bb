package graft

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite

/** Structural source audits over src/main.
  *
  * Corpus-sized driver materialization: the plan-level audits (PlanSpec)
  * prove no unpartitioned windows and no cartesian products survive
  * optimization; this one closes the remaining
  * manually-reviewed shape — `collect()`-style actions that pull rows onto
  * the driver. Every such site in src/main must carry a
  * `bounded-collect: <why the row count is bounded>` marker within the six
  * preceding lines, and every marker must actually cover a site (a stale
  * marker with no collect under it fails too), so the whitelist cannot
  * drift from the code the way a named-query list can.
  *
  * Out of scope by design, with reasons:
  *  - `Bench.scala` / `Verify.scala`: driver mains — materializing results
  *    is their contract (and their only `.collect {` uses are Scala
  *    partial-function collects on local Seqs, not Dataset actions).
  *
  * One extension route: only `GraftExtensions` binds SQL names, optimizer
  * rules or planner strategies into a session, and no operator or streaming
  * path reads an environment variable except the scratch-path override.
  * One connected-components route: only `DedupOps` names the CC algorithms
  * and their cutover constants. One stored band-index lifecycle: no
  * rename-aside swap, and one function creates a band index. One ANN
  * banding core: no SRP gate conf key, one plane-sign signature. One
  * banding core for every sketch family (`Banding`): the bit-band split,
  * the popcount, the mask Jaccard, the MinHash band slice and the band
  * explode are written once, and so are `DedupOps`' mask bit map and
  * mask-group expansion. One enrichment route: `Enrichment` classifies on the driver,
  * through one retry loop, never inside a Spark task. One streaming run
  * scaffold: `StreamJoinOps.runToCompletion` is the only memory-sink run,
  * and per-run scratch placement (tmpfs or not) is decided in `Staging`
  * alone. One stored-artifact lifecycle: only `Staging` names a build-once
  * dir, and the lock and the source snapshot are written once. No operator
  * sets conf on the caller's session. One cache lifecycle: every persist and
  * checkpoint goes through `Caches`, and nothing sweeps the context's
  * persisted RDDs. One broadcast decision: only `Joins` broadcasts a side on
  * a condition or turns size-based broadcast off, and no per-family gate key
  * is left. One definition per shared corpus rule: the q32 quality score,
  * the word set and its md5 key, the eval split and the session rule are
  * each written once in Spark and once in oracle SQL.
  */
class SourceAuditSpec extends AnyFunSuite {

  private val SkipFiles = Set("Bench.scala", "Verify.scala")
  // Dataset driver materializations. `\.collect\(\)` does not match Scala's
  // partial-function `.collect { ... }`; collectAsList/toLocalIterator have
  // no common Scala-collection homonym; approxQuantile returns its result
  // array to the driver (a sketch — but still a per-call materialization
  // that must be boundedness-justified).
  private val SitePattern =
    raw"\.collect\(\)|\.collectAsList\(|\.toLocalIterator|\.approxQuantile\(".r
  private val Marker = "bounded-collect:"
  private val LookBack = 6

  private def mainSources: Seq[Path] = {
    val root = Paths.get("src", "main", "scala")
    Files.walk(root).iterator().asScala
      .filter(p => p.toString.endsWith(".scala"))
      .filterNot(p => SkipFiles.contains(p.getFileName.toString))
      .toSeq.sortBy(_.toString)
  }

  private def isComment(line: String): Boolean = {
    val t = line.trim
    t.startsWith("//") || t.startsWith("*") || t.startsWith("/*")
  }

  test("every driver collect in src/main carries a bounded-collect justification") {
    val unmarked = for {
      path <- mainSources
      lines = Files.readAllLines(path).asScala.toVector
      (line, idx) <- lines.zipWithIndex
      if SitePattern.findFirstIn(line).isDefined && !isComment(line)
      window = lines.slice(math.max(0, idx - LookBack), idx + 1)
      if !window.exists(_.contains(Marker))
    } yield s"$path:${idx + 1}: ${line.trim}"
    assert(unmarked.isEmpty,
      s"\nDriver collect sites without a '$Marker' justification (add the marker " +
        s"within $LookBack lines above, stating why the row count is bounded):\n" +
        unmarked.mkString("\n"))
  }

  test("every bounded-collect marker covers a live collect site") {
    val stale = for {
      path <- mainSources
      lines = Files.readAllLines(path).asScala.toVector
      (line, idx) <- lines.zipWithIndex
      if line.contains(Marker)
      window = lines.slice(idx + 1, idx + 1 + LookBack)
      if !window.exists(l => SitePattern.findFirstIn(l).isDefined && !isComment(l))
    } yield s"$path:${idx + 1}: ${line.trim}"
    assert(stale.isEmpty,
      "\nStale bounded-collect markers (no collect site within " +
        s"$LookBack lines below — delete or move them):\n" + stale.mkString("\n"))
  }

  test("no operator sets conf on the caller's session") {
    // Scoped conf overrides belong on a session of the operator's own
    // (`spark.newSession()`, or a `GraftSqlBridge.cloneSession` clone as the
    // DedupOps.components loop and StreamJoinOps.withStatePartitions use) or
    // on the writer (`.option(...)`): a set-and-restore on the caller's
    // session silently rescopes any other query planned inside the window,
    // and is unsafe the moment two queries share a session. Structural rule:
    // no `spark.conf.set(` on a receiver named `spark` (the caller-session
    // parameter convention throughout src/main; clones are locally named
    // `s`, `s2` or `loop`). The one exemption is `Tables.events`' documented
    // nanos retry, which must leave the conf set for its lazy plan.
    val offenders = for {
      path <- allMainSources
      lines = Files.readAllLines(path).asScala.toVector
      (line, idx) <- lines.zipWithIndex
      if line.contains("spark.conf.set(") && !isComment(line)
      if !(path.getFileName.toString == "Tables.scala" &&
        line.contains("\"spark.sql.legacy.parquet.nanosAsLong\""))
    } yield s"$path:${idx + 1}: ${line.trim}"
    assert(offenders.isEmpty,
      "\nConf set on the caller's session (set it on a session of the operator's " +
        "own, or as a writer option, instead):\n" + offenders.mkString("\n"))
  }

  private def allMainSources: Seq[Path] =
    Files.walk(Paths.get("src", "main", "scala")).iterator().asScala
      .filter(_.toString.endsWith(".scala")).toSeq.sortBy(_.toString)

  private def matches(paths: Seq[Path], pattern: scala.util.matching.Regex): Seq[String] =
    for {
      path <- paths
      (line, idx) <- Files.readAllLines(path).asScala.zipWithIndex
      if pattern.findFirstIn(line).isDefined
    } yield s"$path:${idx + 1}: ${line.trim}"

  test("GraftExtensions is the only installer of SQL names, rules and strategies") {
    val Installer = raw"createOrReplaceTempFunction|registerFunction|extraOptimizations|extraStrategies".r
    val offenders = matches(
      allMainSources.filterNot(_.getFileName.toString == "GraftExtensions.scala"), Installer)
    assert(offenders.isEmpty,
      "\nA second extension route (bind through GraftExtensions' table and call " +
        "GraftExtensions.install where session state is needed):\n" + offenders.mkString("\n"))
  }

  test("DedupOps.components is the only route into the connected-components algorithms") {
    val CcInternals =
      raw"labelPropagation|starLabels|endpointLabels|SingleTaskCCMaxEdges|LabelPropMaxRounds".r
    val offenders = matches(
      allMainSources.filterNot(_.getFileName.toString == "DedupOps.scala"), CcInternals)
    assert(offenders.isEmpty,
      "\nA second route into connected components (call DedupOps.components, or " +
        "DedupOps.incrementalCC for a delta onto stored labels):\n" + offenders.mkString("\n"))
  }

  test("one band-index lifecycle: no rename-aside swap and a single band-index builder") {
    val swap = matches(allMainSources, raw"recoverCompactSwap|__compact|__old".r)
    assert(swap.isEmpty,
      "\nA rename-aside swap is back (stored band indexes flip a manifest to a " +
        "new version dir, see SimilarityOps.ensureBandIndex):\n" + swap.mkString("\n"))
    val builders = matches(allMainSources, raw"bucketBy\(BandIndexBuckets".r)
    assert(builders.size == 1,
      "\nExpected exactly one band-index builder (SimilarityOps.ensureBandIndex); " +
        "later writers derive the bucket spec from the catalog:\n" + builders.mkString("\n"))
  }

  test("one ANN banding core: the gate is an argument and the band code is written once") {
    val confs = matches(allMainSources, raw"graft\.sim\.srp".r)
    assert(confs.isEmpty,
      "\nAn SRP gate read from a session conf (pass it as annNearDupOn's `gate` " +
        "argument instead):\n" + confs.mkString("\n"))
    val planeSign = matches(allMainSources,
      scala.util.matching.Regex.quote("dotp(col(\"embedding\"), planeCol(i))").r)
    assert(planeSign.size == 1,
      s"\nExpected the plane-sign formula exactly once (SimilarityOps.planeSignature), " +
        s"found ${planeSign.size}:\n" + planeSign.mkString("\n"))
  }

  test("one banding core for every sketch family: each template is written once") {
    // DuckDB oracle SQL is exempt: its `bit_count(xor(...))` twins are the
    // independent reference, not a second Spark-side copy
    for ((what, pattern) <- Seq(
        // a bit-band split masks a shifted sketch with a band-width mask
        // (a single-bit test such as `shiftright(mask, b) & 1` is not one)
        "bit-band shiftright split (Banding.explodeBits)" ->
          raw"shiftright\(.*(& *(\$$\{|\d{2,})|bitwiseAND\(lit\(0x)",
        "Column-side XOR Hamming (Banding.hamming)" -> raw"bitwiseXOR\(|bit_count\([^)]*\^",
        "mask Jaccard (Banding.maskJaccard)" -> raw"bitwiseAND\(.*\)\.cast\(\"double\"\)",
        "MinHash band slice (Banding.minhashBands)" -> raw"slice\([^,]+, [^,]*\* *(rows|LshRows)",
        "mask-group expansion (DedupOps.maskGroupDocPairs)" ->
          raw"explode\(col\(\"ids_a\"\)\)",
        "within-group J = 1 term (DedupOps.maskGroupDocPairs)" ->
          raw"explode\(col\(\"ids\"\)\)\.as\(\"x\"\)",
        "maskExpr bit map (DedupOps.vocabBits)" ->
          raw"lit\(w\), lit\(1L << i\)|indices\.map\(i => lit\(1L << i\)",
        "band-explode template (Banding.explodeBits)" -> raw"->\s*struct\(\w+ AS (bk|band)\b")) {
      val sites = matches(allMainSources, pattern.r)
      assert(sites.size == 1,
        s"\nExpected the $what exactly once, found ${sites.size}:\n" + sites.mkString("\n"))
    }
  }

  test("operators and streaming read no environment variable but the scratch path") {
    val EnvRead = raw"sys\.env|System\.getenv".r
    val scoped = allMainSources.filter { p =>
      val dir = p.getParent.getFileName.toString
      (dir == "ops" || dir == "streaming") && p.getFileName.toString != "Staging.scala"
    }
    assert(scoped.nonEmpty)
    val offenders = matches(scoped, EnvRead)
    assert(offenders.isEmpty,
      "\nEnvironment reads on an operator path (a leaked variable would silently " +
        "change official runs):\n" + offenders.mkString("\n"))
  }

  test("enrichment classifies on the driver: no task-bound classify stage, one classify call") {
    val src = Paths.get("src", "main", "scala", "graft", "enrich", "Enrichment.scala")
    for (banned <- Seq("mapPartitions", "repartition(", "persist(", "keysPerPartition")) {
      val sites = matches(Seq(src), scala.util.matching.Regex.quote(banned).r)
      assert(sites.isEmpty,
        s"\nEnrichment is back on the Spark task slots ($banned; classify through " +
          "Enrichment.classifyAll's window instead):\n" + sites.mkString("\n"))
    }
    val calls = matches(Seq(src), raw"\.classify\(".r)
    assert(calls.size == 1,
      s"\nExpected exactly one classifier call site (the retry loop), found ${calls.size}:\n" +
        calls.mkString("\n"))
  }

  test("one stored-artifact lifecycle: Staging names, validates and locks every build-once dir") {
    val outside = allMainSources.filterNot(_.getFileName.toString == "Staging.scala")
    for ((what, pattern) <- Seq(
        "java.io.tmpdir path (Staging.storedDir)" -> "\"java\\.io\\.tmpdir\"",
        "hashCode path naming (Staging.storedName)" -> raw"abs\([\w.]*hashCode\)")) {
      val sites = matches(outside, pattern.r)
      assert(sites.isEmpty, s"\nA $what outside Staging:\n" + sites.mkString("\n"))
    }
    for ((what, pattern) <- Seq(
        "lock (Staging.withLock)" -> raw"def \w*[Ll]ock\[",
        "source snapshot (Staging.snapshot)" -> raw"def \w*[Ss]napshot\(",
        "atomic lock-file create (Staging.withLock)" -> raw"createNewFile\(")) {
      val sites = matches(allMainSources, pattern.r)
      assert(sites.size == 1 && sites.forall(_.contains("Staging.scala")),
        s"\nExpected the $what exactly once, in Staging, found ${sites.size}:\n" +
          sites.mkString("\n"))
    }
  }

  test("one cache lifecycle: every persist and checkpoint enrolls in Caches, and nothing sweeps") {
    val outside = allMainSources.filterNot(_.getFileName.toString == "Caches.scala")
    val untracked = matches(outside, raw"\.localCheckpoint\(\)|\.persist\(|\.cache\(\)".r)
    assert(untracked.isEmpty,
      "\nA persist or checkpoint outside Caches (use persistTracked or checkpointTracked):\n" +
        untracked.mkString("\n"))
    val sweeps = matches(allMainSources, raw"getPersistentRDDs".r)
    assert(sweeps.isEmpty, "\nA global persisted-RDD sweep:\n" + sweeps.mkString("\n"))
  }

  test("one streaming run scaffold and one per-run scratch placement") {
    val streamingAndSources = allMainSources.filter { p =>
      val dir = p.getParent.getFileName.toString
      dir == "streaming" || dir == "sources"
    }
    for ((what, pattern, paths, expected) <- Seq(
        ("memory-sink start (StreamJoinOps.runToCompletion)", raw"""format\("memory"\)""",
          allMainSources, 1),
        ("tmpfs path (Staging.perRunRoot)", "\"/dev/shm\"", allMainSources, 1),
        ("awaitTermination (runToCompletion and q100's foreachBatch sink)",
          raw"awaitTermination", allMainSources, 2))) {
      val sites = matches(paths, pattern.r)
      assert(sites.size == expected,
        s"\nExpected $expected $what, found ${sites.size}:\n" + sites.mkString("\n"))
    }
    val shm = matches(allMainSources, "\"/dev/shm\"".r)
    assert(shm.forall(_.contains("Staging.scala")), shm.mkString("\n"))
    val uuids = matches(streamingAndSources, raw"randomUUID".r)
    assert(uuids.size <= 2,
      "\nA streaming path names its own query or checkpoint (run through " +
        "StreamJoinOps.runToCompletion):\n" + uuids.mkString("\n"))
    val widths = matches(allMainSources, raw"withStatePartitions\(spark, \d".r)
    assert(widths.isEmpty,
      "\nA caller passes a state-partition count (it is a constant):\n" + widths.mkString("\n"))
  }

  test("one definition per shared corpus rule") {
    // each rule's own formula text, not its bare constants (1800L also
    // names NearestWindowSec and DecayWindowSec)
    for ((what, pattern) <- Seq(
        "Spark quality score (TextOps.quality)" -> raw"least\(\w+ / 100\.0, lit\(1\.0\)\) \* 0\.4",
        "Spark stopword ratio (TextOps.stopRatio)" ->
          raw"isInCollection\(enStop\)\)\)\.cast\(\"double\"\)",
        "oracle quality score (TextOps.qualitySql)" ->
          raw"least\(CAST\(n_tok AS DOUBLE\)/100\.0, 1\.0\)\*0\.4",
        "oracle stopword hits (TextOps.qualityColsSql)" -> raw"AS DOUBLE\) AS sw\b",
        "Spark word set (TextFunctions.wordSet)" -> raw"array_sort\(array_distinct\((words|split)\(",
        "Spark word-set key (TextFunctions.wordSetKey)" -> raw"md5\(array_join\(",
        "oracle word set (TextFunctions.wordSetSql)" -> raw"list_sort\(list_distinct\(string_split\(",
        "oracle word-set key (TextFunctions.wordSetKeySql)" -> raw"md5\(array_to_string\(",
        "Spark eval split (RetrievalOps.isEval)" -> raw"pmod\(col\(\"vec_id\"\) \* lit\([\w.]*EvalHashMult",
        "oracle eval split (RetrievalOps.evalSql)" -> raw"\(vec_id \* \$$\{?[\w.]*EvalHashMult",
        "session gap (EventOps.SessionGapSec)" -> raw"SessionGapSec = |gapSeconds = ",
        "new-session test (EventOps.newSession)" -> raw"- [\w.]*[lL]astMinute >",
        "session timer deadline (EventOps.sessionDeadlineMs)" -> raw"[lL]astMinute \+ \w+ \+ 60L",
        "q18 batch session column (EventOps.sessionCounts)" ->
          raw"unix_timestamp\(col\(\"m\"\)\) - unix_timestamp\(col\(\"prev_m\"\)\)",
        "oracle session rule (EventOps.sessionCountsOracle)" ->
          raw"date_diff\('second', prev_m, m\) > ")) {
      val sites = matches(allMainSources, pattern.r).filterNot(_.split(": ", 2)(1).startsWith("*"))
      assert(sites.size == 1,
        s"\nExpected the $what exactly once, found ${sites.size}:\n" + sites.mkString("\n"))
    }
  }

  test("one broadcast decision: one size gate and one scale-emulation session") {
    val ops = allMainSources.filter(_.getParent.getFileName.toString == "ops")
    for ((what, pattern) <- Seq(
        "conditional broadcast (Joins.broadcastIfFits)" -> raw"\bif\b.*\bbroadcast\(",
        "auto-broadcast switch (Joins.scaleEmulationSession)" ->
          raw""""spark\.sql\.autoBroadcastJoinThreshold"""")) {
      val sites = matches(ops, pattern.r)
      assert(sites.size == 1 && sites.forall(_.contains("Joins.scala")),
        s"\nExpected the $what exactly once, in Joins, found ${sites.size}:\n" +
          sites.mkString("\n"))
    }
    val keys = matches(allMainSources, raw"graft\.dedup\.max".r)
    assert(keys.isEmpty,
      "\nA per-family broadcast gate key (use Joins.MaxBroadcastBytesConf):\n" +
        keys.mkString("\n"))
  }
}
