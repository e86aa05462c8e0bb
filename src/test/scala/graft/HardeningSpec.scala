package graft

import graft.enrich.{Classified, Classifier, Defaults, Enrichment}
import graft.ops.{DedupOps, Joins, SimilarityOps}
import graft.streaming.{EventsStream, SessionStream, StreamJoinOps}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Environment-drift and concurrency guards added after the sandbox's Spark
  * moved underneath the repo (4.0 → 4.1.2) and the events parquet's physical
  * `ts` encoding changed with it (TIMESTAMP(NANOS) → timestamp[us]/NTZ):
  * every failure mode that round is pinned here so the next environment move
  * fails in CI, not in the driver's correctness gate.
  */
class HardeningSpec extends AnyFunSuite {
  import TestSpark._

  test("PrefixSum equals the single-partition window reference on randomized inputs") {
    // the distributed prefix sum is now load-bearing for six queries
    // (q223/q233/q234/q235/q231/q242) — pin its semantics against the
    // trivially-correct unpartitioned formulation on seeded random data
    // with duplicates, negatives, and several partition counts
    import graft.ops.PrefixSum
    import org.apache.spark.sql.expressions.Window
    import spark.implicits._
    val rnd = new scala.util.Random(20260814L)
    for (trial <- 1 to 3; nParts <- Seq(2, 5)) {
      val n = 50 + rnd.nextInt(400)
      val rows = (1 to n).map(i =>
        (rnd.nextInt(40).toLong, i.toLong, (rnd.nextInt(2001) - 1000).toLong))
      val df = rows.toDF("v", "id", "w") // (v, id) unique total order
      val cum = PrefixSum.cumSums(df, Seq(col("v"), col("id")),
        Seq("w" -> col("w"), "one" -> lit(1L)), nParts)
      val got = cum.df.select(col("v"), col("id"), col("cum_w"), col("cum_one"))
        .collect().map(r => (r.getLong(0), r.getLong(1)) -> (r.getLong(2), r.getLong(3))).toMap
      val ref = rows.sortBy(r => (r._1, r._2))
        .scanLeft((0L, 0L, (0L, 0L))) { case ((cw, co, _), (v, id, w)) =>
          (cw + w, co + 1, (v, id))
        }.tail.map { case (cw, co, k) => k -> (cw, co) }.toMap
      assert(got === ref, s"trial $trial nParts=$nParts")
      assert(cum.totals("w") === rows.map(_._3).sum)
      assert(cum.totals("one") === n.toLong)
    }
  }

  test("the q235 integer ntile formula equals Spark's ntile for arbitrary n") {
    import org.apache.spark.sql.expressions.Window
    import spark.implicits._
    for (n <- Seq(1, 3, 4, 5, 6, 7, 23, 100, 101, 104)) {
      val df = (1 to n).map(_.toLong).toDF("rn")
      val real = df.withColumn("t", ntile(5).over(Window.orderBy(col("rn"))).cast("long"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val q = n.toLong / 5L; val r = n.toLong % 5L; val t = r * (q + 1L)
      val qSafe = math.max(q, 1L)
      val formula = (1L to n.toLong).map(rn =>
        rn -> (if (rn <= t) (rn - 1) / (q + 1) + 1 else r + (rn - t - 1) / qSafe + 1)).toMap
      assert(real === formula, s"n=$n")
    }
  }

  test("IntervalJoin equals the brute-force range join on randomized inputs") {
    // the sweep-line exec is now a second custom physical operator — pin it
    // against the trivially-correct range-condition join on seeded random
    // data: arbitrary overlap/nesting, duplicate times, empty and inverted
    // intervals, points outside every interval
    import spark.implicits._
    val rnd = new scala.util.Random(20260814L)
    for (trial <- 1 to 3) {
      val pts = (1 to 300).map(i => (rnd.nextInt(200).toLong, i.toLong)).toDF("t", "pid")
      val ivs = (1 to 40).map { i =>
        val s = rnd.nextInt(220).toLong - 10
        (s, s + rnd.nextInt(30).toLong - 2, i.toLong) // some empty/inverted
      }.toDF("s", "e", "iid")
      val got = graft.plans.IntervalJoin.pointInInterval(pts, ivs, pts("t"), ivs("s"), ivs("e"))
        .select(col("pid"), col("iid")).collect()
        .map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
      val brute = pts.join(ivs, pts("t") >= ivs("s") && pts("t") < ivs("e"))
        .select(col("pid"), col("iid")).collect()
        .map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
      assert(got === brute, s"trial $trial")
      assert(got.nonEmpty)
    }
  }

  test("KEYED/OUTER IntervalJoin equals the brute-force keyed range join on randomized inputs") {
    // same pinning for the keyed merge path + outer emission: random keys
    // (some point-only, some interval-only), arbitrary overlap/nesting,
    // duplicate times, empty/inverted intervals
    import spark.implicits._
    val rnd = new scala.util.Random(20260815L)
    for (trial <- 1 to 3) {
      val pts = (1 to 300).map(i =>
        (rnd.nextInt(12).toLong, rnd.nextInt(200).toLong, i.toLong)).toDF("k", "t", "pid")
      val ivs = (1 to 60).map { i =>
        val s = rnd.nextInt(220).toLong - 10
        (rnd.nextInt(12).toLong + 2, s, s + rnd.nextInt(30).toLong - 2, i.toLong)
      }.toDF("ik", "s", "e", "iid") // keys 2..13 vs point keys 0..11: both gaps occur
      for ((jt, sqlType) <- Seq("inner" -> "inner", "left" -> "left_outer",
          "right" -> "right_outer", "full" -> "full_outer")) {
        def pair(r: org.apache.spark.sql.Row) =
          (if (r.isNullAt(0)) -1L else r.getLong(0), if (r.isNullAt(1)) -1L else r.getLong(1))
        val got = graft.plans.IntervalJoin.join(pts, ivs,
            Seq(pts("k")), Seq(ivs("ik")), pts("t"), ivs("s"), ivs("e"), jt)
          .select(col("pid"), col("iid")).collect().map(pair).sorted.toSeq
        val brute = pts.join(ivs,
            pts("k") === ivs("ik") && pts("t") >= ivs("s") && pts("t") < ivs("e"), sqlType)
          .select(col("pid"), col("iid")).collect().map(pair).sorted.toSeq
        assert(got === brute, s"trial $trial joinType=$jt")
        assert(got.nonEmpty)
        // the random data must genuinely exercise the unmatched-right path:
        // empty/inverted intervals and key-gap intervals null-pad the left
        if (jt == "right" || jt == "full")
          assert(got.exists(_._1 == -1L), s"trial $trial joinType=$jt lacks right-only rows")
      }
    }
  }

  test("SALTED IntervalJoin equals the brute-force keyed range join in all four modes") {
    // the salted fan-out must be placement-only for every join shape,
    // including the recovered right/full (replicas straddle salt partitions;
    // the marker + distinct/anti-join pass restores global unmatchedness) —
    // same randomized pin as the keyed test, plus an all-NULL interval row
    import spark.implicits._
    val rnd = new scala.util.Random(20260815L)
    val pts = (1 to 300).map(i =>
      (rnd.nextInt(12).toLong, rnd.nextInt(200).toLong, i.toLong)).toDF("k", "t", "pid")
    val ivs = (1 to 60).map { i =>
      val s = rnd.nextInt(220).toLong - 10
      (rnd.nextInt(12).toLong + 2, s, s + rnd.nextInt(30).toLong - 2, i.toLong)
    }.toDF("ik", "s", "e", "iid")
      .unionByName(Seq[(java.lang.Long, java.lang.Long, java.lang.Long, java.lang.Long)](
        (null, null, null, null)).toDF("ik", "s", "e", "iid"))
    for ((jt, sqlType) <- Seq("inner" -> "inner", "left" -> "left_outer",
        "right" -> "right_outer", "full" -> "full_outer")) {
      def pair(r: org.apache.spark.sql.Row) =
        (if (r.isNullAt(0)) -1L else r.getLong(0), if (r.isNullAt(1)) -1L else r.getLong(1))
      val got = graft.plans.IntervalJoin.joinSalted(pts, ivs,
          Seq(pts("k")), Seq(ivs("ik")), pts("t"), ivs("s"), ivs("e"), jt,
          saltBy = pts("pid"), numSalts = 4)
        .select(col("pid"), col("iid")).collect().map(pair).sorted.toSeq
      val brute = pts.join(ivs,
          pts("k") === ivs("ik") && pts("t") >= ivs("s") && pts("t") < ivs("e"), sqlType)
        .select(col("pid"), col("iid")).collect().map(pair).sorted.toSeq
      assert(got === brute, s"joinType=$jt")
      if (jt == "right" || jt == "full")
        assert(got.count(p => p._1 == -1L && p._2 == -1L) == 1,
          s"joinType=$jt must emit the all-NULL interval row exactly once")
    }
  }

  test("range-partitioned right/full interval join emits an ALL-NULL interval row as unmatched") {
    // the r9-advice latent gap: the unmatched-interval recovery anti-joined
    // on interval VALUES against the left-join base, whose padding rows
    // contribute an all-NULL interval tuple — a genuine interval row whose
    // columns are all NULL (it can never match: NULL bounds fail the range
    // predicate) was wrongly suppressed instead of emitted null-padded
    import spark.implicits._
    val pts = Seq((100L, 1L), (250L, 2L)).toDF("t", "pid")
    val ivs = Seq[(java.lang.Long, java.lang.Long, java.lang.Long)](
      (90L, 120L, 10L),          // matches pid 1
      (300L, 400L, 11L),         // matches nothing -> unmatched emission
      (null, null, null)         // ALL-NULL row -> must also emit unmatched
    ).toDF("s", "e", "iid")
    for (jt <- Seq("right", "full")) {
      val got = graft.plans.IntervalJoin.joinRangePartitioned(
          pts, ivs, pts("t"), ivs("s"), ivs("e"), jt)
        .select(col("pid"), col("iid")).collect()
        .map(r => (if (r.isNullAt(0)) -1L else r.getLong(0),
          if (r.isNullAt(1)) -1L else r.getLong(1))).sorted.toSeq
      val brute = pts.join(ivs, pts("t") >= ivs("s") && pts("t") < ivs("e"),
          if (jt == "right") "right_outer" else "full_outer")
        .select(col("pid"), col("iid")).collect()
        .map(r => (if (r.isNullAt(0)) -1L else r.getLong(0),
          if (r.isNullAt(1)) -1L else r.getLong(1))).sorted.toSeq
      assert(got === brute, s"joinType=$jt")
      assert(got.count(p => p._1 == -1L && p._2 == -1L) == 1,
        s"joinType=$jt must emit the all-NULL interval row exactly once, got $got")
    }
  }

  test("auto gate width re-derives the deployed constants from the threshold alone") {
    // the breach budget is the exact tail the calibrated production gate
    // itself leaves — P(Binom(64, p(0.9)) > 24) ≈ 1.07e-6 — derived, not
    // hand-carried; every other arming decision is held to it
    assert(SimilarityOps.SrpBreachStandard > 1.0e-6
      && SimilarityOps.SrpBreachStandard < 1.1e-6)
    // at the calibration point the exact width IS the deployed constant
    assert(SimilarityOps.srpAutoGate(0.9) === Some((64, SimilarityOps.Srp64GateMaxH)))
    assert(SimilarityOps.srpAutoGate(0.95) === Some((64, 20)))
    assert(SimilarityOps.srpAutoGate(0.35) === None)
    assert(SimilarityOps.srpAutoGate(0.5) === None)
    assert(SimilarityOps.srpAutoGate(0.8) === None)
    // the arming cutoff is DERIVED from the noise binomial (n/2 − √n), not
    // a carried literal — and must still equal the deployed 64-bit constant
    assert(SimilarityOps.srpArmCutoff(64) === SimilarityOps.Srp64GateMaxH)
    assert(SimilarityOps.srpArmCutoff(16) === 4)
    // the generalized rule: cheapest sketch whose EXACT-tail width still
    // cuts — 16-bit only in the near-exact regime (q337), 64-bit at the
    // dedup threshold (q332), none in the mid band (q336 measures why)
    assert(SimilarityOps.srpAutoGate(SimilarityOps.NearExactThreshold) === Some((16, 4)))
    assert(SimilarityOps.srpAutoGate(SimilarityOps.MidSimThreshold) === None)
    // the r12-advice boundary: at θ = 0.998 the width-4 16-bit gate's exact
    // breach mass is ~1.2e-5 — ~11x the standard — so the 16-bit sketch
    // must NOT arm there (its exact width, 5, exceeds the cutoff) and the
    // rule hands out the 64-bit sketch at width 9 instead (q340's pin)
    assert(SimilarityOps.srpBreachProb(16, 4, 0.998) > 1.1e-5
      && SimilarityOps.srpBreachProb(16, 4, 0.998) < 1.3e-5)
    assert(SimilarityOps.srpExactWidth(16, SimilarityOps.NearExact998Threshold) === 5)
    assert(SimilarityOps.srpAutoGate(SimilarityOps.NearExact998Threshold) === Some((64, 9)))
    // the 16-vs-64 boundary sits at θ ≈ 0.9993 under the exact tail
    assert(SimilarityOps.srpAutoGate(0.9993) === Some((16, 4)))
    assert(SimilarityOps.srpAutoGate(0.9992) === Some((64, 8)))
    // monotone sanity: the armed width never breaches the standard
    for (th <- Seq(0.9, 0.95, 0.998, 0.9995); (n, w) <- SimilarityOps.srpAutoGate(th))
      assert(SimilarityOps.srpBreachProb(n, w, th) <= SimilarityOps.SrpBreachStandard)
  }

  test("SRP gate margins hold: measured max true-pair Hamming stays below both gates") {
    // the r9-advice fix: the gate constants were empirical (observed maxima
    // + margin); a regenerated corpus or new SF that pushes a true pair past
    // the margin must fail HERE with a targeted message, not as an opaque
    // oracle hash mismatch on q307/q321
    import org.apache.spark.sql.functions._
    // 16-bit gate (q307, θ = 0.35 corpus): true pairs are q135's verified
    // output; their max sketch Hamming must stay <= SrpGateMaxH - 1
    val pairs = SimilarityOps.annNearDup(spark, sf)
      .select(col("id_a"), col("id_b"))
    val sk16 = SimilarityOps.withSrpSketch(
      Tables.embeddings(spark, sf).select(col("vec_id"), col("embedding")))
      .select(col("vec_id"), col("srp"))
    val max16 = pairs
      .join(sk16.select(col("vec_id").as("id_a"), col("srp").as("sa")), "id_a")
      .join(sk16.select(col("vec_id").as("id_b"), col("srp").as("sb")), "id_b")
      .agg(max(call_function("bit_count", col("sa").bitwiseXOR(col("sb")))))
      .head().getInt(0)
    assert(max16 <= SimilarityOps.SrpGateMaxH - 1,
      s"16-bit SRP gate margin breached: measured max true-pair Hamming $max16 " +
        s"vs gate ${SimilarityOps.SrpGateMaxH} — recalibrate SrpGateMaxH before trusting q307")
    // 64-bit gate (q321, θ = 0.9 derived corpus): the report's own
    // preservation columns are the margin evidence
    val r = SimilarityOps.srp64GateReport(spark, sf).head()
    val maxTrueH = r.getAs[Long]("max_true_h")
    val nTrueCaught = r.getAs[Long]("n_true_caught")
    val nTrueKept = r.getAs[Long]("n_true_kept")
    assert(maxTrueH <= SimilarityOps.Srp64GateMaxH - 1,
      s"64-bit SRP gate margin breached: measured max true-pair Hamming $maxTrueH " +
        s"vs gate ${SimilarityOps.Srp64GateMaxH} — recalibrate Srp64GateMaxH before trusting q321")
    assert(nTrueKept === nTrueCaught,
      s"64-bit gate dropped ${nTrueCaught - nTrueKept} true pairs — not output-preserving")
    // and the gate must actually PAY at this threshold (the whole point of
    // the 64-bit width): double-digit candidate cut
    val pctKept = r.getAs[Double]("pct_kept")
    assert(pctKept < 0.9, s"64-bit gate keeps ${pctKept * 100}% of candidates — no real cut")
  }

  test("outer as-of join emits NULLs, not zeros, for NON-NULLABLE right frames") {
    // pins the nullability-binding fix: the output projection must bind a
    // nullable view of the right attributes, or a non-nullable right column
    // codegens without a null check and reads 0 from the null-padded row
    import spark.implicits._
    val l = Seq((1L, 10L, 100L), (2L, 5L, 200L)).toDF("k", "t", "pid")
    val r = Seq((1L, 8L, 777L)).toDF("rk", "rt", "rid")
    val got = graft.plans.AsOfJoin.asof(l, r, Seq(l("k")), Seq(r("rk")),
        l("t"), r("rt"), outer = true)
      .select(col("pid"), col("rid")).collect()
      .map(x => (x.getLong(0), if (x.isNullAt(1)) -1L else x.getLong(1))).sorted.toSeq
    assert(got === Seq((100L, 777L), (200L, -1L)))
  }

  test("batch events decode lands in a sane year range (unit-drift guard)") {
    val r = Tables.events(spark, sf)
      .agg(min(year(col("ts"))).as("lo"), max(year(col("ts"))).as("hi")).head()
    assert(r.getInt(0) >= 2020 && r.getInt(1) <= 2030,
      s"decoded event years [${r.getInt(0)}, ${r.getInt(1)}] — a unit-drift " +
        "(nanos/micros/millis confusion) lands centuries away from the data")
  }

  test("TIMESTAMP(NANOS)-vintage events read via legacy-conf retry (env-drift guard)") {
    // the vintage Spark refuses to resolve without nanosAsLong: the loader
    // must catch the refusal, set the conf, and land on the LongType decode
    // branch. Isolated session — the retry intentionally leaves the conf set.
    val s2 = spark.newSession()
    assert(!s2.conf.getOption("spark.sql.legacy.parquet.nanosAsLong").contains("true"))
    val tmp = java.nio.file.Files.createTempDirectory("graft_nanos").toFile
    val src = getClass.getResourceAsStream("/events_nanos.parquet")
    assert(src != null, "events_nanos.parquet fixture missing from test resources")
    java.nio.file.Files.copy(src, new java.io.File(tmp, "events.parquet").toPath)
    val rows = Tables.events(s2, tmp.getAbsolutePath)
      .orderBy(col("event_id"))
      .select(col("ts").cast("string")).collect().map(_.getString(0))
    // nanos 1704067200123456789 -> micro-truncated 2024-01-01 00:00:00.123456
    assert(rows.toSeq === Seq(
      "2024-01-01 00:00:00.123456",
      "2024-01-01 00:00:01.987654",
      "2024-01-01 01:00:00"))
    assert(s2.conf.get("spark.sql.legacy.parquet.nanosAsLong") === "true",
      "retry must leave the conf set so the lazy plan's scan schema is stable")
  }

  test("staged streaming files decode to batch-identical times (unit-drift guard)") {
    val staged = EventsStream.stageStreamDirShared(spark, sf)
    val decoded = spark.read.schema(SessionStream.rawSchema)
      .parquet(staged + "/events_00.parquet")
      .select(col("event_id"), timestamp_micros(col("ts")).as("ts"))
    val r = decoded.agg(min(year(col("ts"))).as("lo"), max(year(col("ts"))).as("hi")).head()
    assert(r.getInt(0) >= 2020 && r.getInt(1) <= 2030,
      s"staged years [${r.getInt(0)}, ${r.getInt(1)}] — double unit conversion " +
        "compressed/expanded time (the q50/q72/q87 wrong-answer mechanism)")
    // the staged dir is the batch table re-encoded: same rows, same instants
    val batch = Tables.events(spark, sf).select(col("event_id"), col("ts"))
    assert(decoded.exceptAll(batch).isEmpty && batch.exceptAll(decoded).isEmpty,
      "staged landing files must be the batch events re-encoded, row for row")
  }

  test("a missing or non-directory SPARK_GRAFT_SCRATCH fails fast with the path named") {
    import java.nio.file.Files
    val conf = spark.sparkContext.hadoopConfiguration
    val root = Files.createTempDirectory("graft_scratch_spec")
    val missing = root.resolve("missing").toString
    val plainFile = Files.createFile(root.resolve("plain")).toString
    for (bad <- Seq(missing, plainFile)) {
      val e = intercept[IllegalArgumentException](graft.ops.Staging.checkedScratch(bad, conf))
      assert(e.getMessage.contains("SPARK_GRAFT_SCRATCH") && e.getMessage.contains(bad),
        e.getMessage)
    }
    // a usable root passes and keeps no probe file
    assert(graft.ops.Staging.checkedScratch(root.toString, conf) === root.toString)
    assert(root.toFile.list().sorted.toSeq === Seq("plain"))
  }

  test("shared streaming stage self-heals from a half-staged dir") {
    import org.apache.hadoop.fs.Path
    val staged = EventsStream.stageStreamDirShared(spark, sf)
    val fs = new Path(staged).getFileSystem(spark.sparkContext.hadoopConfiguration)
    // marker present, data gone — the poisoned shape a crashed run / tmp
    // reclamation leaves behind; a bare exists() check would trust it
    assert(fs.delete(new Path(staged + "/events_00.parquet"), false))
    val again = EventsStream.stageStreamDirShared(spark, sf)
    assert(fs.exists(new Path(again + "/events_00.parquet")), "stage did not rebuild")
    assert(spark.read.schema(SessionStream.rawSchema)
      .parquet(again + "/events_00.parquet").count()
      === Tables.events(spark, sf).count())
  }

  /** Scratch source dirs, siblings under one root, each holding `sf`'s
    * events (or the given frame), and a cleanup that removes them and the
    * stored artifacts `kinds` built from them.
    */
  private def withEventsCopies[T](kinds: Seq[String],
      copies: (String, Option[org.apache.spark.sql.DataFrame])*)(body: Seq[String] => T): T = {
    import graft.ops.Staging
    val root = java.nio.file.Files.createTempDirectory("graft_src").toFile
    val dirs = copies.map { case (name, events) =>
      val d = new java.io.File(root, name)
      d.mkdirs()
      val dst = new java.io.File(d, "events.parquet")
      events match {
        case Some(ev) => ev.write.parquet(dst.getPath)
        case None => java.nio.file.Files.copy(new java.io.File(sf, "events.parquet").toPath, dst.toPath)
      }
      d.getPath
    }
    try body(dirs)
    finally {
      for (k <- kinds; d <- dirs) Staging.rmrf(new java.io.File(Staging.storedDir(k, d)))
      Staging.rmrf(root)
    }
  }

  test("stored artifacts of colliding dir names stay apart: q60 answers each dir from its own events") {
    import graft.ops.{EventOps, Staging}
    // sibling dirs `Aa` and `BB` have one String.hashCode; `a_b/c` and
    // `a/b_c` sanitize to one name
    assert(Staging.storedName("json", "a_b/c") !== Staging.storedName("json", "a/b_c"))
    def direct(dir: String) = Tables.events(spark, dir)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast("decimal(18,2)")).cast("double").as("sum_value"))
      .orderBy(col("event_type")).collect().toSeq
    val odd = Tables.events(spark, sf).filter(col("event_id") % 2 === 1)
    withEventsCopies(Seq("json"), "Aa" -> None, "BB" -> Some(odd)) { case Seq(aa, bb) =>
      assert(aa.hashCode === bb.hashCode)
      assert(Staging.storedDir("json", aa) !== Staging.storedDir("json", bb))
      val rAa = EventOps.jsonRoundTrip(spark, aa).collect().toSeq
      val rBb = EventOps.jsonRoundTrip(spark, bb).collect().toSeq
      assert(rAa === direct(aa))
      assert(rBb === direct(bb))
      assert(rAa !== rBb, "the two dirs hold different events")
    }
  }

  test("an in-place mtime bump of the source table rebuilds a stage") {
    import graft.ops.Staging
    import org.apache.hadoop.fs.Path
    withEventsCopies(Seq("stream_us"), "mtime" -> None) { case Seq(d) =>
      val staged = EventsStream.stageStreamDirShared(spark, d)
      val sentinel = new java.io.File(staged, "_sentinel")
      assert(sentinel.createNewFile())
      // unchanged source: the stage is resolved, not rebuilt
      assert(EventsStream.stageStreamDirShared(spark, d) === staged)
      assert(sentinel.exists(), "an unchanged source must not rebuild the stage")
      val src = new java.io.File(d, "events.parquet")
      assert(src.setLastModified(src.lastModified() + 2000))
      assert(EventsStream.stageStreamDirShared(spark, d) === staged)
      assert(!sentinel.exists(), "a regenerated source must rebuild the stage")
      val marker = new String(java.nio.file.Files.readAllBytes(
        new java.io.File(staged, Staging.Marker).toPath), "UTF-8")
      assert(marker === Staging.snapshot(spark, d, Seq("events")))
      assert(spark.read.schema(SessionStream.rawSchema).parquet(staged).count()
        === Tables.events(spark, d).count())
      assert(new Path(staged).getFileSystem(spark.sparkContext.hadoopConfiguration)
        .exists(new Path(staged + "/events_00.parquet")))
    }
  }

  test("two threads staging one fresh landing dir both read a complete stage") {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    withEventsCopies(Seq("stream_multi_us_2_time"), "race" -> None) { case Seq(d) =>
      val expected = Tables.events(spark, d).count()
      val go = new java.util.concurrent.CountDownLatch(1)
      val runs = (1 to 2).map { _ =>
        Future {
          go.await()
          val staged = EventsStream.stageStreamDirMulti(spark, d, nFiles = 2)
          spark.read.schema(SessionStream.rawSchema).parquet(staged).count()
        }
      }
      go.countDown()
      assert(runs.map(Await.result(_, 5.minutes)) === Seq(expected, expected))
    }
  }

  test("two streaming queries interleave in one session, both correct") {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    val before = spark.conf.get("spark.sql.shuffle.partitions")
    val f1 = Future(StreamJoinOps.streamStaticEnrich(spark, sf).collect().toSeq)
    val f2 = Future(StreamJoinOps.dedupStreaming(spark, sf).collect().toSeq)
    val r1 = Await.result(f1, 10.minutes)
    val r2 = Await.result(f2, 10.minutes)
    // the caller's session conf was never touched by either run
    assert(spark.conf.get("spark.sql.shuffle.partitions") === before)
    // interleaved results equal serial re-runs (deterministic sorted outputs)
    assert(r1 === StreamJoinOps.streamStaticEnrich(spark, sf).collect().toSeq)
    assert(r2 === StreamJoinOps.dedupStreaming(spark, sf).collect().toSeq)
  }

  test("ANN verify join degrades to shuffle-hash under a forced-low gate, same result") {
    val default = SimilarityOps.annNearDup(spark, sf).collect().toSeq
    val key = Joins.MaxBroadcastBytesConf
    try {
      spark.conf.set(key, "1") // nothing fits: every verify side must shuffle
      val df = SimilarityOps.annNearDup(spark, sf)
      val gated = df.collect().toSeq
      val p = df.queryExecution.executedPlan.toString
      assert(p.contains("ShuffledHashJoin"),
        s"verify side should shuffle-hash when the broadcast gate is 1 byte:\n$p")
      assert(gated === default, "the degraded plan must not change results")
    } finally spark.conf.unset(key)
  }

  test("budget sample apportions exactly B with Hamilton quota bounds (q150)") {
    import graft.ops.SamplingOps
    val rows = SamplingOps.budgetSample(spark, sf, budget = 100).collect()
    assert(rows.length === 100, "the whole point: the total is exactly the budget")
    // Hamilton apportionment stays within the quota bounds: ⌊B·n/N⌋ ≤ k ≤ ⌈B·n/N⌉
    val n = Tables.documents(spark, sf).count()
    val bySrc = rows.groupBy(_.getAs[String]("source"))
    bySrc.foreach { case (src, rs) =>
      val k = rs.map(_.getAs[Long]("k_alloc")).head
      assert(rs.length.toLong === k, s"$src emitted ${rs.length} rows for k=$k")
      val nSrc = rs.head.getAs[Long]("n_source")
      val quota = 100.0 * nSrc / n
      assert(k >= math.floor(quota).toLong && k <= math.ceil(quota).toLong,
        s"$src: k=$k outside quota bounds [$quota]")
    }
    // deterministic: a second run picks the identical docs
    assert(SamplingOps.budgetSample(spark, sf, budget = 100).collect().toSeq === rows.toSeq)
  }

  test("span removal equals a driver-side brute force at smoke scale (q151)") {
    import graft.ops.TextOps
    val w = 8
    val docs = Tables.documents(spark, sf).select(col("doc_id"), col("text"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val toks = docs.view.mapValues(_.split(" ", -1).toVector).toMap
    val owners = scala.collection.mutable.Map.empty[String, scala.collection.mutable.Set[Long]]
    for ((id, ws) <- toks; i <- 0 to ws.length - w)
      owners.getOrElseUpdate(ws.slice(i, i + w).mkString(" "),
        scala.collection.mutable.Set.empty) += id
    val dup = owners.collect { case (g, ids) if ids.size >= 2 => g }.toSet
    def md5hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    val expected = toks.map { case (id, ws) =>
      val covered = (for {
        i <- 0 to ws.length - w
        if dup(ws.slice(i, i + w).mkString(" "))
        j <- i until i + w
      } yield j).toSet
      val cleaned = ws.zipWithIndex.collect { case (t, i) if !covered(i) => t }.mkString(" ")
      val spans = covered.toSeq.sorted.foldLeft((0L, -2)) { case ((n, prev), i) =>
        (if (i == prev + 1) n else n + 1, i)
      }._1
      id -> ((ws.length.toLong, covered.size.toLong, spans, md5hex(cleaned)))
    }
    val got = TextOps.spanRemoval(spark, sf).collect()
    assert(got.length === expected.size)
    got.foreach { r =>
      val id = r.getAs[Long]("doc_id")
      val e = expected(id)
      assert((r.getAs[Long]("n_tokens"), r.getAs[Long]("n_removed"),
        r.getAs[Long]("n_spans"), r.getAs[String]("cleaned_md5")) === e, s"doc $id")
    }
    // the operator genuinely removes something at this SF (not a vacuous pass)
    assert(got.exists(_.getAs[Long]("n_removed") > 0))
  }

  test("span-removal fixpoint converges on a corpus where one pass is not enough (q155)") {
    import graft.ops.TextOps
    import spark.implicits._
    // w=2 fixture engineered so round 1 CREATES a new cross-doc duplicate:
    // "a b" is duplicated (A, B); cutting it from B makes q and r adjacent,
    // and "q r" then collides with C — invisible to any single pass.
    val docs = Seq(
      (1L, Seq("a", "b", "c")),
      (2L, Seq("q", "a", "b", "r")),
      (3L, Seq("q", "r", "s"))).toDF("doc_id", "ws")
    val got = TextOps.spanRemovalFixpointOn(docs, w = 2, maxRounds = 4)
      .collect().map(r => r.getLong(0) ->
        (r.getAs[Long]("n_tokens"), r.getAs[Long]("n_removed"),
          r.getAs[Long]("n_rounds_touched"), r.getAs[String]("cleaned_md5"))).toMap
    def m(s: String) = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    assert(got(1L) === ((3L, 2L, 1L, m("c"))))
    assert(got(2L) === ((4L, 4L, 2L, m(""))), "doc 2 needs round 2's q-r cut")
    assert(got(3L) === ((3L, 2L, 1L, m("s"))), "doc 3 is only dirty AFTER round 1")
    // one-pass spanRemoval semantics would have left the q/r tokens: the
    // fixpoint genuinely did more work than a single pass
    assert(got(3L)._2 > 0L)
    // fixpoint reached: doubling the round budget changes nothing, on the
    // fixture AND on the real corpus (so the default budget of 4 is proven
    // sufficient at this SF, not assumed)
    val real = Tables.documents(spark, sf)
      .select(org.apache.spark.sql.functions.col("doc_id"),
        org.apache.spark.sql.functions.split(
          org.apache.spark.sql.functions.col("text"), " ").as("ws"))
    val r4 = TextOps.spanRemovalFixpointOn(real, 8, 4).collect()
    val r8 = TextOps.spanRemovalFixpointOn(real, 8, 8).collect()
    assert(r4.toSeq === r8.toSeq, "corpus not converged within the default 4 rounds")
    // and the fixpoint removed MORE than one pass (the reason q155 exists)
    val onePass = TextOps.spanRemoval(spark, sf)
      .agg(org.apache.spark.sql.functions.sum("n_removed")).head().getLong(0)
    val multi = r4.map(_.getAs[Long]("n_removed")).sum
    assert(multi >= onePass)
  }

  test("adaptive banding hits the target recall on sf0.01's exact pair set") {
    import graft.ops.DedupOps
    import graft.functions.VectorFunctions.minhashSigs
    val dir01 = "/root/testdata/sf0.01" // the driver's correctness-gate SF
    val target = 0.95
    val b = DedupOps.chooseLshBands(spark, dir01, targetRecall = target, maxBands = 8)
    assert(b >= 1 && b <= 8)
    // INDEPENDENT check: rebuild the b-band candidate pairs from scratch
    // (fresh dataflow, not the rollup that chose b) and measure recall
    // against the exact lossless-blocked pair set
    val sigd = Tables.documents(spark, dir01)
      .select(col("doc_id"), array_sort(array_distinct(split(col("text"), " "))).as("ws"))
      .withColumn("sig", minhashSigs(
        transform(col("ws"), w => graft.ops.TextFunctions.wordHash(w)), b * DedupOps.LshRows))
    val banded = sigd.select(col("doc_id"),
        explode(transform(sequence(lit(0), lit(b - 1)),
          bb => struct(bb.as("band"),
            slice(col("sig"), bb * DedupOps.LshRows + lit(1), lit(DedupOps.LshRows)).as("key"))))
          .as("bk"))
      .select(col("doc_id"), col("bk.band").as("band"), col("bk.key").as("key"))
    val found = banded.as("a").join(banded.as("b"),
        col("a.band") === col("b.band") && col("a.key") === col("b.key")
          && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b")).distinct()
    val truth = DedupOps.nearDupJaccard(spark, dir01)
      .select(col("doc_a"), col("doc_b"))
    val nTruth = truth.count()
    assert(nTruth > 0, "sf0.01 must have true near-dup pairs for this spec to bite")
    val hit = found.join(truth, Seq("doc_a", "doc_b")).count()
    val recall = hit.toDouble / nTruth
    assert(recall >= target, s"chosen $b bands measured recall $recall < $target")
    // minimality: one fewer band misses the target (when b > 1) — the
    // selection is genuinely data-driven, not a ceiling constant
    if (b > 1) {
      val roll = DedupOps.lshRecallRollupBands(spark, dir01, 8, DedupOps.NearDupThreshold)
        .select(col("band"), col("recall")).collect().sortBy(_.getLong(0))
      assert(roll(b - 2).getDouble(1) < target,
        s"band ${b - 1} already met the target; chooseLshBands over-provisioned")
    }
  }

  test("curation funnel is monotonic and internally consistent (q152)") {
    import graft.ops.TextOps
    val rows = TextOps.curationFunnel(spark, sf).collect().sortBy(_.getAs[Long]("stage_id"))
    assert(rows.length === 6)
    val units = rows.map(_.getAs[Long]("n_units"))
    val toks = rows.map(_.getAs[Long]("n_tokens"))
    // filtering stages only ever shrink the corpus
    (0 until 4).foreach { i =>
      assert(units(i) >= units(i + 1), s"units grew at stage ${i + 2}")
      assert(toks(i) >= toks(i + 1), s"tokens grew at stage ${i + 2}")
    }
    // packing reorganizes, never drops: same token mass, ceil-div sequences
    assert(toks(5) === toks(4))
    assert(units(5) === (toks(4) + 511) / 512)
    // stage 1 matches the raw table
    assert(units(0) === Tables.documents(spark, sf).count())
  }

  test("LSH recall rollup agrees with q39's found pairs and q38's truth (q153)") {
    import graft.ops.DedupOps
    val roll = DedupOps.lshRecallRollup(spark, sf).collect().sortBy(_.getAs[Long]("band"))
    assert(roll.length === DedupOps.LshBands)
    // final cumulative true count == the pairs q39 actually emits (any-band
    // candidates, exact verify) — two independent dataflows, same set
    assert(roll.last.getAs[Long]("cum_true") === DedupOps.lshNearDupPairs(spark, sf).count())
    // denominator == the exact lossless-blocked pair count (q38)
    assert(roll.head.getAs[Long]("n_true_total") === DedupOps.nearDupJaccard(spark, sf).count())
    // recall is a non-decreasing cumulative ratio bounded by 1
    val recalls = roll.map(_.getAs[Double]("recall"))
    assert(recalls.zip(recalls.tail).forall { case (a, b) => b >= a })
    assert(recalls.last <= 1.0 + 1e-9)
    // a band's candidates always include its marginal (first-band) pairs
    roll.foreach { r =>
      assert(r.getAs[Long]("n_cand") >= r.getAs[Long]("n_new"),
        s"band ${r.getAs[Long]("band")}")
    }
  }

  test("band index identity: regenerated corpus forces a rebuild; valid index is reused") {
    // scratch corpus: a copy of sf0.001's embeddings the test can touch
    val scratch = java.nio.file.Files.createTempDirectory("graft_idx_corpus").toFile
    val src = new java.io.File(sf, "embeddings.parquet").toPath
    val dst = new java.io.File(scratch, "embeddings.parquet").toPath
    java.nio.file.Files.copy(src, dst)
    val s = spark.newSession()
    def rm(f: java.io.File): Unit = {
      if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(rm)); f.delete(); ()
    }
    try {
      val (t1, root, built1) =
        SimilarityOps.ensureBandIndex(s, scratch.getAbsolutePath, "idxt", None)
      assert(built1, "first call must build")
      // an unchanged corpus: the snapshot marker validates, no rebuild
      val (_, _, built2) =
        SimilarityOps.ensureBandIndex(s, scratch.getAbsolutePath, "idxt", None)
      assert(!built2, "unchanged corpus must reuse the index")
      // leave a merge marker so the rebuild can prove batch state is reset
      java.nio.file.Files.write(new java.io.File(
        SimilarityOps.activeVersionDir(root).get, "_GRAFT_MERGED_test").toPath,
        Array.emptyByteArray)
      // in-place regeneration: same bytes, new mtime — the (name, length,
      // mtime) snapshot must change and force a rebuild (the r10-advice
      // stale-probe hole: the old tableExists||path.exists guard would
      // happily probe the stale index here)
      assert(dst.toFile.setLastModified(dst.toFile.lastModified() + 2000))
      val (t3, _, built3) =
        SimilarityOps.ensureBandIndex(s, scratch.getAbsolutePath, "idxt", None)
      assert(built3, "regenerated corpus must force a rebuild")
      assert(!new java.io.File(SimilarityOps.activeVersionDir(root).get,
        "_GRAFT_MERGED_test").exists(), "rebuild must start without per-batch merge markers")
      assert(t1 === t3)
      // the rebuilt index still answers: every band row belongs to a corpus id
      val n = s.table(t3).count()
      assert(n > 0)
      s.sql(s"DROP TABLE $t3")
      rm(root)
    } finally rm(scratch)
  }

  test("compaction swap is crash-safe at every step and mutators are mutually excluded") {
    val scratch = java.nio.file.Files.createTempDirectory("graft_idx_swap").toFile
    val src = new java.io.File(sf, "embeddings.parquet").toPath
    java.nio.file.Files.copy(src, new java.io.File(scratch, "embeddings.parquet").toPath)
    val s = spark.newSession()
    def rm(f: java.io.File): Unit = {
      if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(rm)); f.delete(); ()
    }
    def location(t: String) = org.apache.spark.sql.graftbridge.GraftSqlBridge
      .tableLocation(s, t).map(u => new java.io.File(u).getAbsolutePath)
    try {
      val (tIdx, root, _) =
        SimilarityOps.ensureBandIndex(s, scratch.getAbsolutePath, "idxs", None)
      val rowsBefore = s.table(tIdx).count()
      assert(rowsBefore > 0)
      val v1 = SimilarityOps.activeVersionDir(root).get

      // --- crash AFTER a compaction wrote its next version (complete, with
      // its snapshot marker) but BEFORE the pointer flip: the
      // unflipped dir must be ignored — no rebuild, no re-registration
      val torn = new java.io.File(root, "v_000002")
      org.apache.commons.io.FileUtils.copyDirectory(v1, torn)
      val (_, _, builtTorn) =
        SimilarityOps.ensureBandIndex(s, scratch.getAbsolutePath, "idxs", None)
      assert(!builtTorn, "an unflipped version must not force a rebuild")
      assert(SimilarityOps.activeVersionDir(root).get === v1)
      assert(location(tIdx) === Some(v1.getAbsolutePath))
      assert(s.table(tIdx).count() === rowsBefore, "no row may be lost to the torn write")

      // --- crash AFTER the flip but BEFORE the catalog was re-pointed (or
      // another process flipped): the catalog still names the predecessor,
      // and the next ensureBandIndex must re-register, never rebuild
      val flipped = new java.io.File(root, "v_000003")
      org.apache.commons.io.FileUtils.copyDirectory(v1, flipped)
      java.nio.file.Files.write(new java.io.File(root, "_GRAFT_MANIFEST").toPath,
        "v_000003\n".getBytes("UTF-8"))
      assert(location(tIdx) === Some(v1.getAbsolutePath))
      val (_, _, builtFlipped) =
        SimilarityOps.ensureBandIndex(s, scratch.getAbsolutePath, "idxs", None)
      assert(!builtFlipped, "a flipped valid version must be re-registered, not rebuilt")
      assert(location(tIdx) === Some(flipped.getAbsolutePath))
      assert(s.table(tIdx).count() === rowsBefore)

      // --- mutator mutual exclusion: a merge attempting to append while a
      // compaction holds the index lock must WAIT until the lock releases
      // (an unlocked merge would append into a version the flip is about
      // to supersede)
      val order = new java.util.concurrent.ConcurrentLinkedQueue[String]()
      val inLock = new java.util.concurrent.CountDownLatch(1)
      val t1 = new Thread(() => {
        graft.ops.Staging.withLock(root) {
          order.add("compact-start"); inLock.countDown()
          Thread.sleep(400)
          order.add("compact-end")
        }
      })
      val t2 = new Thread(() => {
        inLock.await()
        graft.ops.Staging.withLock(root) { order.add("merge") }
      })
      t1.start(); t2.start(); t1.join(10000); t2.join(10000)
      assert(order.toArray.toSeq === Seq("compact-start", "compact-end", "merge"),
        s"merge must serialize behind the compaction lock, got $order")

      // --- a real compact: force the trigger with per-bucket splits,
      // compact, and prove rows + markers survive into the new version
      val active = SimilarityOps.activeVersionDir(root).get
      java.nio.file.Files.write(
        new java.io.File(active, "_GRAFT_MERGED_swaptest").toPath, Array.emptyByteArray)
      s.table(tIdx).repartition(32, org.apache.spark.sql.functions.col("bk"),
          org.apache.spark.sql.functions.col("bv"))
        .write.format("parquet")
        .bucketBy(SimilarityOps.BandIndexBuckets, "bk", "bv").sortBy("bk", "bv")
        .option("path", active.getAbsolutePath).mode("append").saveAsTable(tIdx)
      val filesBefore = active.listFiles().count(_.getName.startsWith("part-"))
      assert(filesBefore > SimilarityOps.BandIndexBuckets * SimilarityOps.CompactTriggerFilesPerBucket,
        s"test setup must exceed the trigger, got $filesBefore files")
      assert(SimilarityOps.compactBandIndex(s, tIdx, root))
      val compacted = SimilarityOps.activeVersionDir(root).get
      assert(compacted.getName === "v_000004", "naming must skip past the unflipped dir")
      assert(!torn.exists(), "the unflipped dir must be swept by the compaction's flip")
      assert(compacted.listFiles().count(_.getName.startsWith("part-"))
        === SimilarityOps.BandIndexBuckets)
      assert(s.table(tIdx).count() === rowsBefore * 2) // append doubled the rows
      assert(new java.io.File(compacted, "_GRAFT_MERGED_swaptest").exists(),
        "merge markers must be carried to the new version")
      assert(new java.io.File(compacted, graft.ops.Staging.Marker).exists())
      // the bucket spec was DERIVED from the catalog, not re-hardcoded
      val spec = org.apache.spark.sql.graftbridge.GraftSqlBridge.bucketSpec(s, tIdx)
      assert(spec === Some((SimilarityOps.BandIndexBuckets, Seq("bk", "bv"), Seq("bk", "bv"))))
      s.sql(s"DROP TABLE $tIdx")
      rm(root)
    } finally rm(scratch)
  }

  test("manifest index identity: regenerated corpus flips to a fresh version; merge state cannot leak across generations") {
    val scratch = java.nio.file.Files.createTempDirectory("graft_idx_mident").toFile
    val dst = new java.io.File(scratch, "embeddings.parquet").toPath
    java.nio.file.Files.copy(new java.io.File(sf, "embeddings.parquet").toPath, dst)
    val s = spark.newSession()
    def rm(f: java.io.File): Unit = {
      if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(rm)); f.delete(); ()
    }
    try {
      val (t1, root, built1) =
        SimilarityOps.ensureBandIndex(s, scratch.getAbsolutePath, "mide", None)
      assert(built1, "first call must build")
      val (_, _, built2) =
        SimilarityOps.ensureBandIndex(s, scratch.getAbsolutePath, "mide", None)
      assert(!built2, "unchanged corpus must resolve the active version")
      val v1 = SimilarityOps.activeVersionDir(root).get
      // a per-batch merge marker in the active version: the corpus
      // regeneration below must leave it BEHIND in the superseded version
      // — under the manifest design batch state is version-scoped, so a
      // rebuild cannot inherit it (the rename design had to delete
      // markers explicitly; here isolation is structural)
      java.nio.file.Files.write(
        new java.io.File(v1, "_GRAFT_MERGED_gen1").toPath, Array.emptyByteArray)
      assert(dst.toFile.setLastModified(dst.toFile.lastModified() + 2000))
      val (t3, _, built3) =
        SimilarityOps.ensureBandIndex(s, scratch.getAbsolutePath, "mide", None)
      assert(built3, "regenerated corpus must force a rebuild")
      assert(t1 === t3)
      val v2 = SimilarityOps.activeVersionDir(root).get
      assert(v2.getName !== v1.getName, "rebuild must land in a NEW version")
      assert(!new java.io.File(v2, "_GRAFT_MERGED_gen1").exists(),
        "old-generation merge state must not leak into the new version")
      assert(s.table(t3).count() > 0)
      s.sql(s"DROP TABLE $t3")
      rm(root)
    } finally rm(scratch)
  }

  test("manifest index: pointer flip retains the predecessor for in-flight readers; debris is swept; recovery is a no-op") {
    val scratch = java.nio.file.Files.createTempDirectory("graft_idx_mani").toFile
    java.nio.file.Files.copy(new java.io.File(sf, "embeddings.parquet").toPath,
      new java.io.File(scratch, "embeddings.parquet").toPath)
    val s = spark.newSession()
    def rm(f: java.io.File): Unit = {
      if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(rm)); f.delete(); ()
    }
    try {
      val (tIdx, root, built) =
        SimilarityOps.ensureBandIndex(s, scratch.getAbsolutePath, "mani", None)
      assert(built)
      val v1 = SimilarityOps.activeVersionDir(root).get
      assert(v1.getName === "v_000001")
      val rowsBefore = s.table(tIdx).count()
      assert(rowsBefore > 0)

      // THE case the rename-aside design structurally cannot pass: a reader
      // in another "process" resolved the pointer BEFORE the compaction
      // (its file listing is pinned to v1). The rename swap unlinks the old
      // dir in the same mutation — this reader would hit ENOENT mid-scan.
      // The manifest design retains the predecessor until the NEXT flip.
      val pinnedReader = s.read.parquet(v1.getAbsolutePath)
      assert(pinnedReader.inputFiles.nonEmpty) // listing resolved, pre-flip

      assert(SimilarityOps.compactBandIndex(s, tIdx, root,
        minFilesPerBucket = 0))
      val v2 = SimilarityOps.activeVersionDir(root).get
      assert(v2.getName === "v_000002")
      assert(v1.isDirectory, "predecessor must be RETAINED for in-flight readers")
      assert(pinnedReader.count() === rowsBefore,
        "a reader that resolved the old pointer must survive the flip intact")
      assert(s.table(tIdx).count() === rowsBefore, "no row lost by the flip")
      assert(new java.io.File(v2, graft.ops.Staging.Marker).exists(),
        "version markers must be carried to the new version")

      // crash debris: a torn higher-numbered dir that was never flipped to
      // must be SKIPPED for naming (never mistaken for fresh output) and
      // swept by the next mutation's GC — and there is NO recovery
      // procedure to run: the pointer still names a complete version
      val debris = new java.io.File(root, "v_000007")
      debris.mkdirs()
      java.nio.file.Files.write(new java.io.File(debris, "part-junk").toPath,
        Array[Byte](1, 2, 3))
      assert(SimilarityOps.compactBandIndex(s, tIdx, root,
        minFilesPerBucket = 0))
      val v8 = SimilarityOps.activeVersionDir(root).get
      assert(v8.getName === "v_000008", "naming must skip past debris, not reuse it")
      assert(!debris.exists(), "debris must be swept at the next flip")
      assert(!v1.exists(), "versions older than the predecessor are GC'd")
      assert(v2.isDirectory, "the immediate predecessor is retained")
      assert(s.table(tIdx).count() === rowsBefore)

      // catalog sync: a fresh registration (e.g. another JVM whose catalog
      // entry points at a superseded version) is re-pointed at the active
      // version WITHOUT a rebuild — the snapshot marker still matches
      s.sql(s"DROP TABLE $tIdx")
      val (_, _, built2) =
        SimilarityOps.ensureBandIndex(s, scratch.getAbsolutePath, "mani", None)
      assert(!built2, "a valid manifest index must be re-registered, not rebuilt")
      val loc = org.apache.spark.sql.graftbridge.GraftSqlBridge
        .tableLocation(s, tIdx).map(u => new java.io.File(u).getAbsolutePath)
      assert(loc === Some(v8.getAbsolutePath))
      assert(s.table(tIdx).count() === rowsBefore)

      s.sql(s"DROP TABLE $tIdx")
      rm(root)
    } finally rm(scratch)
  }

  test("index lock: dead-holder locks are broken, unstamped debris ages out, fresh locks are honored") {
    val dir = java.nio.file.Files.createTempDirectory("graft_lock").toFile
    val path = new java.io.File(dir, "idx")
    val lf = new java.io.File(dir, "idx__lock")
    try {
      // a holder that CRASHED leaves a lock stamped with a now-dead pid —
      // the next mutator must break it and proceed (the r12 advice's
      // stale-vs-slow distinction: pid liveness, not elapsed time)
      val deadPid = Iterator.iterate(987654L)(_ + 7919)
        .find(p => scala.util.Try(ProcessHandle.of(p).isPresent).toOption.contains(false)).get
      java.nio.file.Files.write(lf.toPath, s"$deadPid\n".getBytes("UTF-8"))
      val t0 = System.nanoTime()
      val ran = graft.ops.Staging.withLock(path) { "ran" }
      assert(ran === "ran")
      assert((System.nanoTime() - t0) / 1e9 < 30, "stale break must not wait out a deadline")
      assert(!lf.exists(), "the broken + reacquired lock must be released")

      // a holder that died between createNewFile and the pid stamp leaves
      // an EMPTY lock: within the stamp grace it reads live (the stamping
      // race), past it it is debris and must be broken
      java.nio.file.Files.write(lf.toPath, Array.emptyByteArray)
      assert(lf.setLastModified(
        System.currentTimeMillis() - graft.ops.Staging.LockStampGraceMs - 5000))
      assert(graft.ops.Staging.withLock(path) { 42 } === 42)
      assert(!lf.exists())

      // a LIVE holder (this JVM's pid) must be waited on, never broken —
      // the second acquirer proceeds only once the holder releases
      val order = new java.util.concurrent.ConcurrentLinkedQueue[String]()
      val held = new java.util.concurrent.CountDownLatch(1)
      val h = new Thread(() => graft.ops.Staging.withLock(path) {
        held.countDown(); Thread.sleep(300); order.add("holder-end"); ()
      })
      val w = new Thread(() => {
        held.await()
        graft.ops.Staging.withLock(path) { order.add("waiter"); () }
      })
      h.start(); w.start(); h.join(10000); w.join(10000)
      assert(order.toArray.toSeq === Seq("holder-end", "waiter"),
        s"live holder must serialize, not be broken: $order")
    } finally {
      def rm(f: java.io.File): Unit = {
        if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(rm)); f.delete(); ()
      }
      rm(dir)
    }
  }

  test("merge append derives the bucket spec from the catalog: a non-default index merges correctly") {
    // r12 verdict #4: the merge writers re-hardcoded BandIndexBuckets, so an
    // index built under any other layout would be appended WRONG (rows
    // hashed over the wrong bucket count). appendBandRows must inherit the
    // table's own spec — proven here on a 4-bucket index (≠ the build
    // constant 8).
    val s = spark.newSession()
    val nB = 4
    assert(nB !== SimilarityOps.BandIndexBuckets)
    val dir = java.nio.file.Files.createTempDirectory("graft_nb_idx").toFile
    val path = new java.io.File(dir, "idx4")
    val t4 = "graft_band_nbtest4"
    def bandRows(pred: org.apache.spark.sql.Column) =
      SimilarityOps.explodeBands(SimilarityOps.withBandSketch64(
        graft.Tables.embeddings(s, sf)
          .select(col("vec_id"), col("embedding")).filter(pred)), Seq("srp"))
    try {
      if (s.catalog.tableExists(t4)) s.sql(s"DROP TABLE $t4")
      val evens = bandRows(col("vec_id") % 2 === 0)
      evens.repartition(nB, col("bk"), col("bv"))
        .write.format("parquet").bucketBy(nB, "bk", "bv").sortBy("bk", "bv")
        .option("path", path.getAbsolutePath).saveAsTable(t4)
      val before = s.table(t4).count()
      graft.ops.Staging.withLock(path) {
        SimilarityOps.appendBandRows(s, bandRows(col("vec_id") % 2 === 1), t4, path)
      }
      // the append wrote ONE file per catalog bucket (4), not per the
      // build constant (8): total files = build 4 + append 4
      val files = path.listFiles().count(_.getName.startsWith("part-"))
      assert(files === nB * 2, s"append must write $nB files, saw ${files - nB}")
      // spec unchanged, nothing lost, and the bucketed scan still answers
      assert(org.apache.spark.sql.graftbridge.GraftSqlBridge.bucketSpec(s, t4)
        === Some((nB, Seq("bk", "bv"), Seq("bk", "bv"))))
      assert(s.table(t4).count() === before + bandRows(col("vec_id") % 2 === 1).count())
      s.sql(s"DROP TABLE $t4")
    } finally {
      if (s.catalog.tableExists(t4)) s.sql(s"DROP TABLE $t4")
      def rm(f: java.io.File): Unit = {
        if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(rm)); f.delete(); ()
      }
      rm(dir)
    }
  }

  test("embeddingNearDup degrades to the banded ANN path past the row cap (q42 scale guard)") {
    val banded = SimilarityOps.annNearDup(spark, sf).collect().toSeq
    try {
      spark.conf.set(SimilarityOps.ExactPairRowsConf, "1")
      assert(SimilarityOps.embeddingNearDup(spark, sf).collect().toSeq === banded,
        "past the cap, q42 must be exactly the banded ANN query")
    } finally spark.conf.unset(SimilarityOps.ExactPairRowsConf)
    // below the cap the exact path runs, and the banded result is a subset
    // of it (band-OR blocking only loses pairs, never invents them)
    val exact = SimilarityOps.embeddingNearDup(spark, sf).collect().toSeq
    assert(banded.toSet.subsetOf(exact.toSet))
  }

  /** The throwing query of the Verify failure test: a named frame and a
    * cause that the stderr report must keep. */
  private def failingQuery(): Nothing =
    throw new IllegalStateException("boom\tsecond\nline", new ArithmeticException("root cause"))

  test("Verify records a failed query in verify_failures.tsv and still writes the others") {
    val out = java.nio.file.Files.createTempDirectory("graft_verify_fail").toFile
    val err = new java.io.ByteArrayOutputStream()
    val stderr = System.err
    try {
      val queries = Seq[(String, (org.apache.spark.sql.SparkSession, String) => org.apache.spark.sql.DataFrame)](
        "qa_ok" -> ((s, _) => s.range(3).toDF("id")),
        "qb_throws" -> ((_, _) => failingQuery()))
      System.setErr(new java.io.PrintStream(err, true, "UTF-8"))
      try Verify.dumpQueries(spark, sf, out.getPath, queries)
      finally System.setErr(stderr)
      assert(spark.read.parquet(new java.io.File(out, "qa_ok").getPath).count() === 3L)
      assert(!new java.io.File(out, "qb_throws").exists())
      val lines = java.nio.file.Files.readAllLines(
        new java.io.File(out, Verify.FailuresFile).toPath).toArray.toSeq
      assert(lines === Seq("qb_throws\tjava.lang.IllegalStateException\tboom second line"))
      // stderr keeps the whole trace: the thrower's frame and the cause chain
      val report = err.toString("UTF-8")
      assert(report.contains("[verify] qb_throws failed"))
      assert(report.contains("HardeningSpec.failingQuery"), report)
      assert(report.contains("Caused by: java.lang.ArithmeticException: root cause"), report)
    } finally {
      def rm(f: java.io.File): Unit = {
        if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(rm)); f.delete(); ()
      }
      rm(out)
    }
  }

  private def classifyThreadsGone(): Boolean = {
    import scala.jdk.CollectionConverters._
    def alive = Thread.getAllStackTraces.keySet.asScala.exists(t => t.getName == "graft-classify" && t.isAlive)
    val deadline = System.nanoTime() + 2000000000L
    while (alive && System.nanoTime() < deadline) Thread.sleep(10)
    !alive
  }

  /** Runs `body` with the live context's `spark.default.parallelism` at `n`;
    * local mode reads that key on every `defaultParallelism` call. */
  private def withDefaultParallelism[A](n: Int)(body: => A): A = {
    val conf = classOf[org.apache.spark.SparkContext].getMethod("conf")
      .invoke(spark.sparkContext).asInstanceOf[org.apache.spark.SparkConf]
    val key = "spark.default.parallelism"
    val before = conf.getOption(key)
    conf.set(key, n.toString)
    try body finally before.fold(conf.remove(key))(conf.set(key, _))
  }

  test("enrich keeps calls in flight above 1 and within min(defaultParallelism, 8)") {
    for (parallelism <- Seq(2, spark.sparkContext.defaultParallelism, 16)) {
      val now, peak = new java.util.concurrent.atomic.AtomicInteger
      val slow = new Classifier {
        def classify(b: Seq[String]) = {
          peak.accumulateAndGet(now.incrementAndGet(), math.max)
          try { Thread.sleep(20); b.map(Classified(_, "C", "")) }
          finally now.decrementAndGet()
        }
      }
      withDefaultParallelism(parallelism) {
        assert(spark.sparkContext.defaultParallelism === parallelism)
        Enrichment.enrich(keyFrame(64), "title", slow, "cat", batchSize = 2).collect()
      }
      val window = math.min(parallelism, 8)
      assert(peak.get > 1 && peak.get <= window, s"defaultParallelism $parallelism: peak ${peak.get}, window $window")
      assert(classifyThreadsGone())
    }
  }

  test("enrich leaves no classifier thread behind, even when every call throws") {
    val failing = new Classifier {
      def classify(b: Seq[String]) = throw new RuntimeException("endpoint down")
    }
    val out = Enrichment.enrich(keyFrame(40), "title", failing, "cat", batchSize = 4)
    assert(out.filter(col("cat") =!= Defaults.Unclassified).count() === 0)
    assert(classifyThreadsGone(), "a NonFatal failure must still shut the window down")
    // an interrupted call is not an empty reply: it escapes unwrapped, at every window size
    val interrupted = new Classifier {
      def classify(b: Seq[String]) = throw new InterruptedException("cancelled")
    }
    intercept[InterruptedException](Enrichment.enrich(keyFrame(40), "title", interrupted, "cat", batchSize = 4))
    intercept[InterruptedException](Enrichment.classifyBatchWithRetry(interrupted, Seq("a"), 1, retryOther = false))
    assert(classifyThreadsGone(), "an escaping failure must still shut the window down")
  }
}
