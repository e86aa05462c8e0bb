package graft

import graft.ops._
import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite

/** Plan-quality guards: the physical plans that make these operators scale
  * are asserted, not just hoped for — a regression that turns a broadcast
  * join into a shuffle join or loses parquet pushdown fails CI, not the
  * 1000-executor cluster.
  */
class PlanSpec extends AnyFunSuite {
  import TestSpark._

  private def plan(df: DataFrame): String = df.queryExecution.executedPlan.toString

  test("star join broadcasts dimensions and pushes filters to parquet (q03)") {
    val p = plan(CoreOps.revenueByNation(spark, sf))
    assert(p.contains("BroadcastHashJoin"))
    assert(p.contains("PushedFilters"))
  }

  test("pricing summary is a partial+final hash aggregate (q01)") {
    val p = plan(CoreOps.pricingSummary(spark, sf))
    assert(p.split("HashAggregate").length - 1 >= 2, "expected partial+final HashAggregate")
  }

  test("column pruning reaches the scan: single-column projection reads one column") {
    import org.apache.spark.sql.functions.col
    val p = plan(Tables.lineitem(spark, sf).select(col("l_orderkey")))
    val readSchema = p.split("ReadSchema: ")(1)
    assert(readSchema.startsWith("struct<l_orderkey:bigint>"))
  }

  test("enrichment map-back is a broadcast join, not a shuffle join (q19)") {
    val p = plan(EnrichOps.enrichPartNames(spark, sf))
    assert(p.contains("BroadcastHashJoin"))
    assert(!p.contains("SortMergeJoin"))
  }

  test("semi join plans as LeftSemi (q12)") {
    assert(plan(CoreOps.semiJoinOrders(spark, sf)).contains("LeftSemi"))
  }

  test("native kernels run inside whole-stage codegen (dotproduct in a *(n) stage)") {
    val df = SimilarityOps.knnBruteForce(spark, sf)
    df.collect() // AQE: codegen markers only exist in the post-execution final plan
    val p = plan(df)
    assert(p.linesIterator.exists(l => l.contains("*(") && l.contains("dotproduct")))
  }

  test("merge interval join: one sweep, no explode, no exchange on the point side (q239)") {
    val df = CoreOps.intervalJoinMonthly(spark, sf)
    df.collect()
    val p = plan(df).split("== Initial Plan ==").head
    assert(p.contains("IntervalJoin"), "custom operator must be planned:\n" + p.take(800))
    // zero row amplification: no Generate/explode anywhere (the bin encoding's
    // signature), and no nested-loop fallback
    assert(!p.contains("Generate"), "bin-explode crept back in:\n" + p.take(800))
    assert(!p.contains("BroadcastNestedLoopJoin"))
    // the point side must NOT shuffle below the join: the only hash exchange
    // in the whole plan is the month aggregate above it
    assert(p.split("Exchange hashpartitioning").length - 1 === 1,
      s"point side must stay unshuffled below the interval join:\n${p.take(1200)}")
    // results equal the composable q64 encoding (month normalized to NTZ —
    // q239 now runs the operator on timestamp_ntz both sides, q64 on LTZ;
    // under the UTC session the cast is value-identity)
    def rows(d: org.apache.spark.sql.DataFrame) = d
      .withColumn("month", org.apache.spark.sql.functions.col("month").cast("timestamp_ntz"))
      .collect()
      .map(r => (r.get(0).toString, r.getLong(1), r.getDouble(2))).toSeq
    assert(rows(df) === rows(CoreOps.rangeJoinMonthly(spark, sf)))
  }

  test("keyed interval join co-clusters both sides, reuses the window exchange, no broadcast (q261)") {
    val df = CoreOps.scd2IntervalAttribution(spark, sf)
    df.collect()
    val p = plan(df).split("== Initial Plan ==").head
    assert(p.contains("IntervalJoin"), "custom operator must be planned:\n" + p.take(800))
    // keyed mode: NO broadcast of the (fact-sized) interval side, no
    // bin-explode row amplification, no nested-loop fallback
    assert(!p.contains("BroadcastExchange"), "keyed mode must not broadcast:\n" + p.take(1200))
    assert(!p.contains("Generate"))
    assert(!p.contains("BroadcastNestedLoopJoin"))
    // exactly 3 hash exchanges: point-side custkey, the SCD2 window's
    // custkey (REUSED by the join's interval side — its alias-preserved
    // partitioning satisfies the ClusteredDistribution, so history
    // derivation feeds the join with no extra shuffle), and the final
    // priority aggregate
    assert(p.split("Exchange hashpartitioning").length - 1 === 3,
      s"keyed interval join must add no exchange beyond the window's:\n${p.take(1500)}")
  }

  test("dictionary broadcast hint is size-gated: forced-low gate yields shuffle join, rows unchanged (q38)") {
    import org.apache.spark.sql.graftbridge.GraftSqlBridge
    val wordBcast = """BroadcastHashJoin \[word#""".r
    val wordShuffle = """(SortMergeJoin|ShuffledHashJoin) \[word#""".r
    // default: the vocabulary is measured-small, so the dict join IS hinted
    val base = DedupOps.nearDupJaccard(spark, sf, forceGeneral = true)
    val baseRows = base.collect().toSeq
    assert(wordBcast.findFirstIn(plan(base)).isDefined,
      "below the gate the dictionary join must broadcast:\n" + plan(base).take(1200))
    // drop the base run's cached token-id frame: its stored plan embeds the
    // broadcast hint and would satisfy (and pollute the printout of) the
    // gated run's lookup
    graft.ops.Caches.releaseAll()
    // forced-low gate (conf on a session CLONE) + size-based broadcast off:
    // the hint must be ABSENT and the dict join must degrade to a shuffle
    // join — the plan a dictionary past the gate's byte bound gets
    val s2 = GraftSqlBridge.cloneSession(spark)
    s2.conf.set(Joins.MaxBroadcastBytesConf, "0")
    s2.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    val gated = DedupOps.nearDupJaccard(s2, sf, forceGeneral = true)
    val gatedRows = gated.collect().toSeq
    val gp = plan(gated)
    assert(wordBcast.findFirstIn(gp).isEmpty,
      "past the gate the dictionary must NOT carry a broadcast hint:\n" + gp.take(1500))
    assert(wordShuffle.findFirstIn(gp).isDefined,
      "expected the shuffle-join fallback on the dict key:\n" + gp.take(1500))
    assert(gatedRows === baseRows)
    graft.ops.Caches.releaseAll()
  }

  test("mask-group and doc-mask sides go through the size gate: gate 0 shuffles them, rows unchanged (q39, q170)") {
    import org.apache.spark.sql.graftbridge.GraftSqlBridge
    import graft.streaming.DocsStream
    def rows(df: DataFrame): Seq[String] = df.collect().map(_.toString).toSeq.sorted
    for ((name, build, keys) <- Seq[(String, org.apache.spark.sql.SparkSession => DataFrame, Seq[String])](
        ("q39", s => DedupOps.lshNearDupPairs(s, sf), Seq("mask_a", "mask_b")),
        ("q170", s => DocsStream.lshNearDupStreaming(s, sf), Seq("mask_a", "mask_b", "doc_id")))) {
      val base = build(spark)
      val baseRows = rows(base)
      val bp = plan(base)
      // the gate's default bound: every gated side broadcasts
      keys.foreach { k =>
        assert(s"BroadcastHashJoin \\[$k#".r.findFirstIn(bp).isDefined,
          s"$name: the $k join must broadcast under the default gate:\n" + bp.take(3000))
      }
      Caches.releaseAll()
      val s2 = GraftSqlBridge.cloneSession(spark)
      s2.conf.set(Joins.MaxBroadcastBytesConf, "0")
      val gated = build(s2)
      val gatedRows = rows(gated)
      val gp = plan(gated)
      keys.foreach { k =>
        assert(s"BroadcastHashJoin \\[$k#".r.findFirstIn(gp).isEmpty &&
            s"(SortMergeJoin|ShuffledHashJoin) \\[$k#".r.findFirstIn(gp).isDefined,
          s"$name: past the gate the $k join must shuffle:\n" + gp.take(3000))
      }
      assert(gatedRows === baseRows, s"$name: the shuffle fallback changed the rows")
      Caches.releaseAll()
    }
  }

  test("range-partitioned keyless interval join: bucket exchange per side, no broadcast (q310)") {
    val df = CoreOps.supplierOutageAttribution(spark, sf)
    df.collect()
    val p = plan(df).split("== Initial Plan ==").head
    assert(p.contains("IntervalJoin"), "custom operator must be planned:\n" + p.take(800))
    // the whole point of this mode: the interval side does NOT broadcast and
    // there is no nested-loop fallback — both sides hash-exchange ONCE on
    // the sampled equi-depth range bucket
    assert(!p.contains("BroadcastExchange"),
      "range mode must not broadcast the interval side:\n" + p.take(1200))
    assert(!p.contains("BroadcastNestedLoopJoin"))
    val bucketExchanges = p.split("\n").count(l =>
      l.contains("Exchange hashpartitioning(__rb"))
    assert(bucketExchanges === 2,
      s"exactly one range-bucket exchange per side expected:\n${p.take(1500)}")
    // the ONLY Generate is the interval side's bucket-span replication
    // (bounded by span/bucket-width), never a per-day bin explode: one
    // explode node, on the window side, of a sequence over bucket ids
    val gens = p.split("\n").filter(_.contains("Generate"))
    assert(gens.length === 1 && gens.head.contains("sequence"),
      s"one bucket-replication explode expected:\n${gens.mkString("\n")}")
    // results equal the broadcast-mode sweep on the same inputs
    val viaBroadcast = {
      val origin = org.apache.spark.sql.functions.to_date(
        org.apache.spark.sql.functions.lit("1992-01-01"))
      import org.apache.spark.sql.functions._
      val windows = Tables.supplier(spark, sf)
        .select(col("s_suppkey"),
          date_add(origin, (col("s_suppkey") * lit(997) % lit(CoreOps.OutageSpanDays)).cast("int"))
            .cast("timestamp_ntz").as("w_start"))
        .withColumn("w_end", col("w_start") + expr(s"INTERVAL ${CoreOps.OutageDays} DAYS"))
      val orders = Tables.orders(spark, sf)
        .select(col("o_orderdate").cast("timestamp_ntz").as("o_orderdate"), col("o_totalprice"))
      graft.plans.IntervalJoin.pointInInterval(
          orders, windows, orders("o_orderdate"), windows("w_start"), windows("w_end"))
        .groupBy(col("s_suppkey"), col("w_start"))
        .agg(count(lit(1)).as("n_orders"),
          sum(col("o_totalprice").cast(org.apache.spark.sql.types.DecimalType(18, 2)))
            .cast("double").as("revenue"))
        .orderBy(col("s_suppkey"))
    }
    assert(df.collect().toSeq === viaBroadcast.collect().toSeq)
  }

  test("binned range join plans as a broadcast HASH join, not nested-loop (q64)") {
    // the bin equi-key must reach the join: a nested-loop here is the
    // rows × intervals plan the binning exists to avoid
    val p = plan(CoreOps.rangeJoinMonthly(spark, sf))
    assert(p.contains("BroadcastHashJoin"))
    assert(!p.contains("BroadcastNestedLoopJoin"))
  }

  test("DSv2 source reads columnar: ColumnarToRow above the scan, same results") {
    import org.apache.spark.sql.functions.col
    val df = TestSpark.spark.read.format("graft.sources.GraftRangeSource")
      .option("end", "100000").load()
    df.collect() // AQE: transition markers settle in the final plan
    assert(plan(df).contains("ColumnarToRow"),
      "the scan must feed Tungsten through the vectorized path")
    // columnar and row paths agree (row path exercised via the agg result
    // values being oracle-checked in q105/q106; here check a spot value)
    val r = df.filter(col("id") === 12345L).collect()
    assert(r.length === 1 && r(0).getLong(1) === graft.sources.GraftRangeSource.valOf(12345L))
  }

  test("custom DSv2 source absorbs filter, projection, and limit (q105)") {
    import org.apache.spark.sql.functions.col
    // the id-range predicate narrows the scan itself (source-level pruning)
    val p = plan(graft.sources.GraftRangeQueries.bucketAgg(spark, sf))
    assert(p.contains("lo=20000,hi=60000"),
      s"pushed range must reach the scan description: $p")
    // projection + limit pushdown on a narrow read
    val narrow = TestSpark.spark.read.format("graft.sources.GraftRangeSource")
      .option("end", "100").load().select(col("bucket")).limit(5)
    val np = narrow.queryExecution.executedPlan.toString
    assert(np.contains("cols=bucket") && np.contains("limit=5"))
    assert(narrow.count() === 5)
  }

  test("partial aggregation shuffles groups, not fact rows (runtime-metric guard)") {
    // q01: 6k lineitem rows aggregate into 6 groups — with map-side combine
    // the shuffle carries at most (groups × map partitions) records; without
    // it, all fact rows. A runtime guard, not a plan-shape one: it catches a
    // dropped combine even when the plan still LOOKS right.
    val rows = Tables.lineitem(spark, sf).count()
    val shuffled = Metrics.shuffleRecordsWritten(CoreOps.pricingSummary(spark, sf))
    assert(shuffled < rows / 10,
      s"shuffle carried $shuffled records for $rows input rows — partial agg lost")
  }

  test("DSv2 COMPLETE aggregate pushdown leaves no aggregate above the scan (q106)") {
    val df = graft.sources.GraftRangeQueries.pushedAgg(spark, sf)
    val p = plan(df)
    assert(p.contains("agg="), s"scan must serve the precomputed aggregate: $p")
    assert(!p.contains("HashAggregate"), s"no aggregation may remain in the plan: $p")
  }

  test("exact similarity join physical shape per path (q38)") {
    // dense-domain path: all-pairs over distinct masks = broadcast nested loop
    val maskP = plan(DedupOps.nearDupJaccard(spark, sf))
    assert(maskP.contains("BroadcastNestedLoopJoin"))
    // general PPJoin path: doc arrays attach via broadcast hash joins
    val genP = plan(DedupOps.nearDupJaccard(spark, sf, 0.9, forceGeneral = true))
    assert(genP.contains("BroadcastHashJoin"))
  }

  test("optimizer rule rewrites built-in intersect-count to the kernel, same results") {
    import TestSpark.spark.implicits._
    import org.apache.spark.sql.functions._
    // parquet-backed so ConvertToLocalRelation can't constant-fold the plan away
    val dir = java.nio.file.Files.createTempDirectory("graft_rule").toString
    Seq((Seq(3, 1, 2, 2), Seq(2, 3, 5)), (Seq(7, 8), Seq(9))).toDF("x", "y")
      .write.mode("overwrite").parquet(dir)
    // the rule is installed only where asked for: a session clone, so the
    // shared test session keeps the plans every registry query gets
    val s = spark.newSession()
    graft.GraftExtensions.install(s)
    val df = s.read.parquet(dir).orderBy(size(col("x")).desc)
    val rewritten = df.select(
      size(array_intersect(
        sort_array(array_distinct(col("x"))), sort_array(array_distinct(col("y"))))).as("n"))
    assert(rewritten.queryExecution.executedPlan.toString.toLowerCase.contains("sortedintersectsize"),
      "rule should fire on the guarded pattern")
    assert(rewritten.collect().map(_.getInt(0)).toSeq === Seq(2, 0))
    // guard: unsorted inputs must NOT be rewritten (duplicates/order unsafe)
    val untouched = df.select(size(array_intersect(col("x"), col("y"))).as("n"))
    assert(!untouched.queryExecution.executedPlan.toString.toLowerCase.contains("sortedintersectsize"))
    assert(untouched.collect().map(_.getInt(0)).toSeq === Seq(2, 0))
  }

  test("flag-gated KMV rewrite: plain count(DISTINCT) plans the sketch aggregate (q284)") {
    import org.apache.spark.sql.functions._
    val df = SamplingOps.kmvRewriteDistinct(spark, sf)
    df.collect()
    val p = plan(df).toLowerCase
    assert(p.contains("kmvsketch"),
      "opted-in session should plan the sketch, not distinct:\n" + p.take(800))
    assert(p.contains("objecthashaggregate"), "typed-imperative agg path expected")
    // inert off the flag: the identical query on the base session keeps the
    // built-in distinct planning
    val off = Tables.events(spark, sf).groupBy(col("event_type"))
      .agg(countDistinct(col("user_id")).as("du_sketch"), count(col("user_id")).as("n_events"))
      .orderBy(col("event_type"))
    assert(!plan(off).toLowerCase.contains("kmvsketch"))
    // below-k groups (15 distinct users at this SF): the sketch IS the full
    // distinct hash set, so the rewritten result must be EXACT
    assert(df.collect().toSeq === off.collect().toSeq)
  }

  test("KMV rewrite, multi-column arm: count(DISTINCT a, b) plans ONE sketch (q304)") {
    import org.apache.spark.sql.functions._
    val df = SamplingOps.kmvRewriteTuple(spark, sf)
    df.collect()
    val p = plan(df).toLowerCase
    assert(p.contains("kmvsketch"),
      "tuple distinct should rewrite onto the sketch:\n" + p.take(800))
    assert(!p.contains("expand"),
      "the rewrite must REPLACE the distinct Expand, not run beside it:\n" + p.take(800))
    // below-k per-day tuple counts at this SF: exact equality with the
    // built-in distinct planning
    val off = Tables.events(spark, sf)
      .groupBy(date_trunc("day", col("ts")).as("day"))
      .agg(countDistinct(col("user_id"), col("event_type")).as("du_pairs"),
        count(lit(1)).as("n_events"))
      .orderBy(col("day"))
    assert(!plan(off).toLowerCase.contains("kmvsketch"))
    assert(df.collect().toSeq === off.collect().toSeq)
  }

  test("SRP gate runs on skinny band rows BEFORE the exact verify (q307), inert off-flag (q135)") {
    import org.apache.spark.sql.functions._
    val gated = SimilarityOps.srpGatedNearDup(spark, sf)
    gated.collect() // AQE: materialize so the printed plan is the final one
    val lines = plan(gated).split("\n").toSeq
    // the Hamming gate exists and sits in the BAND join's condition (the
    // same line carries the band keys) — evaluated on (vec_id, srp, bk, bv)
    // rows, never on embeddings
    val gateIdx = lines.indexWhere(_.contains("bit_count"))
    assert(gateIdx >= 0, "gated plan must contain the bit_count Hamming filter:\n" +
      lines.take(40).mkString("\n"))
    assert(lines(gateIdx).contains("bk#") && lines(gateIdx).contains("vec_id#"),
      "the gate must be part of the band-key join condition: " + lines(gateIdx).trim)
    // tree printing puts descendants BELOW ancestors: the gate join must be
    // deeper than (= evaluated before) the exact-cosine verify join
    val verifyIdx = lines.indexWhere(l => l.contains("dotproduct(emb_a") && l.contains("Join"))
    assert(verifyIdx >= 0 && verifyIdx < gateIdx,
      s"gate (line $gateIdx) must be a descendant of the verify join (line $verifyIdx)")
    // output-preserving at the default gate: gated == ungated, row for row
    val ungated = SimilarityOps.annNearDup(spark, sf)
    assert(gated.collect().toSeq === ungated.collect().toSeq)
    // inert off the flag: q135's plan has no Hamming filter and no srp column
    val off = ungated.queryExecution.executedPlan.toString
    assert(!off.contains("bit_count") && !off.contains("srp"),
      "ungated q135 must be byte-identical to the round-8 candidate path")
    // the gate is an argument, not session state: a session carrying the
    // former gate keys (at a width that would drop every pair) leaves q135
    // ungated and row-identical
    val keyed = org.apache.spark.sql.graftbridge.GraftSqlBridge.cloneSession(spark)
    keyed.conf.set("graft.sim.srpGateMaxH", "0")
    keyed.conf.set("graft.sim.srp64GateMaxH", "0")
    val onKeyed = SimilarityOps.annNearDup(keyed, sf)
    assert(!plan(onKeyed).contains("bit_count"),
      "session conf keys must not arm a gate on q135")
    assert(onKeyed.collect().toSeq === ungated.collect().toSeq)
  }

  test("SrpSketch16 kernel is bit-identical to the HOF formulation it replaced") {
    import org.apache.spark.sql.functions._
    val e = Tables.embeddings(spark, sf).select(col("vec_id"), col("embedding"))
    val xq = expr(
      "transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * 1000000.0 + 0.5) AS BIGINT))")
    val hofPacked = SimilarityOps.SrpSigns.zipWithIndex.map { case (row, p) =>
      val signs = array(row.map(v => lit(v.toLong)): _*)
      when(aggregate(zip_with(col("__xq"), signs, (a, b) => a * b), lit(0L),
        (acc, v) => acc + v) >= 0L, lit(1L << p)).otherwise(lit(0L))
    }.reduce(_ + _)
    val mismatches = e.withColumn("__xq", xq)
      .select(col("vec_id"),
        graft.functions.VectorFunctions.srp16(col("embedding")).as("k"),
        hofPacked.as("h"))
      .filter(col("k") =!= col("h")).count()
    assert(mismatches === 0L)
    // and the kernel stays inside whole-stage codegen
    val p = plan(e.select(graft.functions.VectorFunctions.srp16(col("embedding"))))
    assert(p.contains("srpsketch16") || p.contains("SrpSketch16"))
    // `*(n)` marks operators inside a WholeStageCodegen stage
    assert(p.split("\n").exists(l => l.contains("srpsketch16") && l.trim.stripPrefix("+- ").startsWith("*(")),
      "kernel must not fall out of codegen:\n" + p.take(600))
  }

  test("as-of join plans with exactly one shuffle+sort per side (q61)") {
    val df = EventOps.asofAttribution(spark, sf)
    df.collect()
    val p = plan(df)
    assert(p.contains("AsOfJoin"))
    // two hash exchanges (one per child); the only other exchange is the
    // final orderBy's range partitioning. AQE plan strings repeat the tree
    // under "== Initial Plan ==" — count the final section only.
    val finalP = p.split("== Initial Plan ==").head
    val hashEx = "hashpartitioning".r.findAllIn(finalP).size
    assert(hashEx == 2, s"expected 2 hash exchanges, got $hashEx:\n$finalP")
  }

  test("filter above the as-of join pushes to BOTH parquet scans (q82)") {
    val df = EventOps.asofAttributionFiltered(spark, sf)
    df.collect()
    val p = plan(df)
    // the user_id IN (...) predicate must appear as a pushed filter on the
    // left scan AND (mirrored onto the right key) on the right scan — i.e.
    // twice, beyond the event_type pushdowns both sides already have
    val finalP = p.split("== Initial Plan ==").head
    val pushedIn = "PushedFilters: \\[[^\\]]*In\\(user_id".r.findAllIn(finalP).size
    assert(pushedIn == 2, s"expected user_id IN pushed to both scans:\n$finalP")
  }

  test("as-of join mirrors a pushed left-time UPPER bound onto the right scan") {
    import org.apache.spark.sql.functions._
    val ev = Tables.events(spark, sf)
    val purch = ev.filter(col("event_type") === "purchase")
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("event_id").as("c_eid"), col("user_id").as("c_uid"), col("ts").as("c_ts"))
    val joined = graft.plans.AsOfJoin.asof(
      purch, clicks, Seq(purch("user_id")), Seq(clicks("c_uid")),
      purch("ts"), clicks("c_ts"))
    val cutoff = "2024-03-01 00:00:00"
    val tf = joined.filter(col("ts") <= to_timestamp(lit(cutoff)))
    tf.collect()
    // backward mode: rightTime <= leftTime <= U, so the bound lands on BOTH
    // children (the ts column is a cast, so it stops above the scan — the
    // mirrored Filter on the right child is the fact to pin)
    val opt = tf.queryExecution.optimizedPlan.toString
    assert(s"<= $cutoff".r.findAllIn(opt).size == 2,
      "ts <= U must filter the left child AND mirror to the right child:\n" + opt.take(1500))
    // rows unchanged vs filtering the left side before the join (the mirror
    // must never drop a right row that was some survivor's latest match)
    val pre = graft.plans.AsOfJoin.asof(
      purch.filter(col("ts") <= to_timestamp(lit(cutoff))), clicks,
      Seq(purch("user_id")), Seq(clicks("c_uid")), purch("ts"), clicks("c_ts"))
    assert(tf.count() === pre.count())
    // LOWER bounds must NOT mirror: a right row before the cutoff can still
    // be the latest match for a surviving left row
    val lf = joined.filter(col("ts") >= to_timestamp(lit(cutoff)))
    val lp = lf.queryExecution.optimizedPlan.toString
    assert(s">= $cutoff".r.findAllIn(lp).size == 1,
      "ts >= L must filter the left child ONLY:\n" + lp.take(1500))
    val preL = graft.plans.AsOfJoin.asof(
      purch.filter(col("ts") >= to_timestamp(lit(cutoff))), clicks,
      Seq(purch("user_id")), Seq(clicks("c_uid")), purch("ts"), clicks("c_ts"))
    assert(lf.count() === preL.count())
    // the registry consumer (q326) gets the same double-sided bound
    val q326 = EventOps.asofAttributionBounded(spark, sf)
    assert("<= 2024-01-15 00:00:00".r
      .findAllIn(q326.queryExecution.optimizedPlan.toString).size == 2,
      "q326's cutoff must land on both children")
  }

  test("adaptive salt DISARMS on uniform keys: q323 degrades to the plain keyed merge") {
    // the chooser measures orders-per-customer, finds no straggler (the
    // hottest customer's orders are a tiny fraction of one task's share),
    // and declines to salt: no interval replication, no __salt exchange
    import org.apache.spark.sql.functions._
    val salted = CoreOps.scd2IntervalAttributionSalted(spark, sf)
    salted.collect()
    val p = plan(salted).split("== Initial Plan ==").head
    assert(!p.contains("__salt"),
      "uniform custkey must not be salted — the measurement should disarm:\n" +
        "hashpartitioning\\([^)]*\\)".r.findAllIn(p).mkString("\n"))
    assert(graft.plans.IntervalJoin.chooseSaltFactor(
      graft.Tables.orders(spark, sf), Seq(col("o_custkey"))) === 1)
    // the decision is placement-only: bit-identical to the unsalted q261
    val unsalted = CoreOps.scd2IntervalAttribution(spark, sf).collect().toSeq
    assert(salted.collect().toSeq === unsalted)
  }

  test("adaptive salt ARMS on a measured hot key: q331 fans out and carries __salt") {
    // the constructed mega-entity (one key holding ~90% of points) measures
    // straggler ratio ≈ 0.9 × shuffle-partitions; the chooser picks that
    // ceiling and the armed plan salts both exchanges of the keyed merge
    import org.apache.spark.sql.functions._
    val parts = spark.conf.get("spark.sql.shuffle.partitions").toInt
    val pts = graft.Tables.orders(spark, sf).select(
      when(col("o_custkey") % 10 === 0, col("o_custkey").cast("long"))
        .otherwise(lit(0L)).as("k"))
    val factor = graft.plans.IntervalJoin.chooseSaltFactor(pts, Seq(col("k")))
    assert(factor > parts / 2 && factor <= parts,
      s"expected ≈ 0.9×$parts salts for the 90%-hot key, got $factor")
    val audit = CoreOps.adaptiveSaltedHotKeyAudit(spark, sf)
    audit.collect()
    val p = plan(audit).split("== Initial Plan ==").head
    val saltedEx = "hashpartitioning\\(k#\\d+L?, __salt#\\d+".r.findAllIn(p).size +
      "hashpartitioning\\(ik#\\d+L?, __salt#\\d+".r.findAllIn(p).size
    assert(saltedEx >= 2, s"expected both exchanges salted, got $saltedEx:\n" +
      "hashpartitioning\\([^)]*\\)".r.findAllIn(p).mkString("\n"))
    // the measured factor is the literal in the point-side salt expression
    assert(("pmod\\(xxhash64\\(o_orderkey#\\d+L?, 42\\), " + factor + "\\)")
        .r.findFirstIn(p).isDefined,
      s"plan must salt points to the measured $factor buckets:\n" +
        "pmod\\(xxhash64\\([^)]*\\), \\d+\\)".r.findAllIn(p).mkString("\n"))
  }

  /** The stored-index probe shape, asserted on the final (post-AQE) plan of
    * an executed probe: the index is read AS BUCKETS — the scan itself
    * satisfies the join's clustering, so the corpus side of the candidate
    * join moves nothing (the whole point of paying the banding at ingest)
    * — and the only band-key exchange is the delta side's.
    */
  private def assertBucketedProbe(df: DataFrame, what: String): Unit = {
    val p = plan(df).split("== Initial Plan ==").head
    assert(p.contains("Bucketed: true"),
      s"$what index scan must use the bucketed layout:\n" + p.take(1500))
    val bandEx = "Exchange hashpartitioning\\(bk#".r.findAllIn(p).size
    assert(bandEx == 1,
      s"$what: exactly one band-key exchange (the delta side) expected, got $bandEx:\n" +
        "hashpartitioning\\([^)]*\\)".r.findAllIn(p).mkString("\n"))
  }

  test("band-index probe: bucketed corpus scan, exchange only on the delta side (q327)") {
    val df = SimilarityOps.indexProbeNearDup(spark, sf)
    df.collect()
    assertBucketedProbe(df, "q327")
  }

  test("band-index merge: probe of the merged index stays bucketed, delta-side exchange only (q330)") {
    val df = SimilarityOps.indexMergeProbeNearDup(spark, sf)
    df.collect()
    // after the append each bucket has 2+ files — the scan must STILL be
    // bucketed (the merged rows joined exchange-free is the whole point of
    // merging instead of rebuilding)
    assertBucketedProbe(df, "q330 merged")
  }

  test("band-index compaction: one file per bucket, scan still bucketed, pairs unchanged (q333)") {
    val df = SimilarityOps.indexCompactProbeNearDup(spark, sf)
    val rows = df.collect()
    // the compacted version is registered under the catalog-derived bucket
    // DDL: probe plan shape identical to the merged-index probe
    assertBucketedProbe(df, "q333 compacted")
    // compaction is physical-only: the build(¼)+3-merges index yields the
    // same pair set as the probe of the one-shot full index (q327)
    assert(rows.toSeq === SimilarityOps.indexProbeNearDup(spark, sf).collect().toSeq)
    // 32 data files (8 build + 3×8 merge) became exactly one per bucket;
    // the index resolves without a rebuild, and names its own root
    val s2 = spark.newSession()
    val (tIdx, root, built) = SimilarityOps.ensureBandIndex(
      s2, sf, "idxk", Some(org.apache.spark.sql.functions.col("vec_id") % 4 === 0))
    assert(!built)
    val active = SimilarityOps.activeVersionDir(root).get
    val dataFiles = active.listFiles().filter(_.getName.startsWith("part-"))
    assert(dataFiles.length === 8,
      s"expected one data file per bucket, got ${dataFiles.length}")
    // markers are carried into the compacted version: a bench rep or a
    // restarted job must see the merges as done (exactly-once) and the
    // snapshot as current (no rebuild)
    val names = active.listFiles().map(_.getName).toSet
    assert(names.contains(graft.ops.Staging.Marker))
    assert(Seq(1, 2, 3).forall(r => names.contains(s"_GRAFT_MERGED_q$r")))
    // idempotent: an already-compact index is returned untouched
    assert(!SimilarityOps.compactBandIndex(s2, tIdx, root))
  }

  test("band-index probes after a pointer flip and for k-NN keep the bucketed shape (q342, q343)") {
    // q342 probes the version its compaction just flipped to; q343 probes
    // its own index with no Hamming gate — both must read the corpus side
    // as buckets with the delta side the only band-key exchange, as q327
    val q342 = SimilarityOps.indexManifestProbeNearDup(spark, sf)
    q342.collect()
    assertBucketedProbe(q342, "q342")
    val q343 = SimilarityOps.indexKnnDelta(spark, sf)
    q343.collect()
    assertBucketedProbe(q343, "q343")
  }

  test("adaptive salted agg: hot key arms the (key,salt) phase, uniform keys stay single-shuffle (q334)") {
    import org.apache.spark.sql.functions._
    val armed = CoreOps.adaptiveSaltedAgg(spark, sf)
    armed.collect()
    val p = plan(armed).split("== Initial Plan ==").head
    assert(p.contains("__salt"),
      "the 90%-hot key must arm the salt phase:\n" + p.take(1200))
    // two aggregate pairs: (k,__salt) partial+final, then (k) partial+final
    assert(p.split("HashAggregate").length - 1 >= 4,
      "expected the two-phase aggregate chain:\n" + p.take(1500))
    // uniform keys (plain custkey): the chooser declines — no salt column,
    // single aggregate pair, one exchange
    val uniform = graft.Tables.orders(spark, sf)
      .select(col("o_custkey").as("k"), col("o_orderkey"), col("o_totalprice"))
    assert(graft.plans.IntervalJoin.chooseSaltFactor(uniform, Seq(col("k"))) === 1)
  }

  test("range-mode auto bucket count: parallelism floor small, row-target at scale, placement-only") {
    import org.apache.spark.sql.functions._
    val parts = spark.conf.get("spark.sql.shuffle.partitions").toInt
    // small corpus: the floor is the session's parallelism, not 1 bucket
    assert(graft.plans.IntervalJoin.chooseBucketCount(
      Tables.lineitem(spark, sf).select(col("l_orderkey"))) === parts)
    // large corpus: buckets track the row target so a bucket stays one
    // task-sized merge (the fixed 64 would be ~1.6 TB buckets at 100 TB)
    val big = spark.range(
      graft.plans.IntervalJoin.RangeBucketTargetRows * 50).toDF("x")
    assert(graft.plans.IntervalJoin.chooseBucketCount(big) === 50)
    // the measured count is placement-only: auto == fixed-64 on the same
    // inputs (boundaries move, the match set cannot)
    import spark.implicits._
    val pts = (1 to 500).map(i => ((i * 37 % 1000).toLong, i.toLong)).toDF("t", "pid")
    val ivs = (1 to 40).map { i =>
      val s = (i * 53 % 900).toLong; (s, s + 25L, i.toLong)
    }.toDF("s", "e", "iid")
    def run(nb: Int) = graft.plans.IntervalJoin.joinRangePartitioned(
        pts, ivs, pts("t"), ivs("s"), ivs("e"), "full", numBuckets = nb)
      .select(col("pid"), col("iid")).collect()
      .map(r => (if (r.isNullAt(0)) -1L else r.getLong(0),
        if (r.isNullAt(1)) -1L else r.getLong(1))).sorted.toSeq
    assert(run(graft.plans.IntervalJoin.AutoBuckets) === run(64))
  }

  test("column pruning fires through a residual Filter between Project and the join") {
    import org.apache.spark.sql.functions._
    val origin = to_date(lit("1995-01-01"))
    val months = spark.range(0, 80)
      .select(add_months(origin, col("id").cast("int")).cast("timestamp_ntz").as("month"),
        add_months(origin, col("id").cast("int") + 1).cast("timestamp_ntz").as("month_end"))
    val orders = Tables.orders(spark, sf)
      .withColumn("o_orderdate", col("o_orderdate").cast("timestamp_ntz"))
    // a mixed-side disjunction cannot push through the join, so
    // IntervalJoinFilterPushdown leaves it as a residual Filter; the
    // Project above it must STILL narrow both scans
    val thin = graft.plans.IntervalJoin.pointInInterval(
        orders, months, orders("o_orderdate"), months("month"), months("month_end"))
      .filter(col("o_totalprice") > 1000.0 ||
        col("month") > lit("1996-01-01").cast("timestamp_ntz"))
      .select(col("month"), col("o_totalprice"))
    thin.collect()
    val p = plan(thin).split("== Initial Plan ==").head
    val readSchema = "ReadSchema: struct<([^>]*)>".r.findFirstMatchIn(p).map(_.group(1)).getOrElse("")
    assert(readSchema.contains("o_totalprice") && readSchema.contains("o_orderdate"),
      s"needed columns must survive: $readSchema")
    assert(!readSchema.contains("o_comment") && !readSchema.contains("o_clerk"),
      s"projected-away columns must not reach the scan under Project(Filter(join)): $readSchema")
  }

  test("filter above the interval join pushes through the custom node to the scan") {
    import org.apache.spark.sql.functions._
    val origin = to_date(lit("1995-01-01"))
    val months = spark.range(0, 80)
      .select(add_months(origin, col("id").cast("int")).cast("timestamp_ntz").as("month"),
        add_months(origin, col("id").cast("int") + 1).cast("timestamp_ntz").as("month_end"))
    val orders = Tables.orders(spark, sf)
      .select(col("o_orderdate").cast("timestamp_ntz").as("o_orderdate"),
        col("o_totalprice"), col("o_orderpriority"))
    val joined = graft.plans.IntervalJoin.pointInInterval(
      orders, months, orders("o_orderdate"), months("month"), months("month_end"))
    // point-side conjunct above the custom node: without
    // IntervalJoinFilterPushdown it is stuck there and the scan reads the
    // whole table; with it, the predicate reaches PushedFilters
    val filtered = joined.filter(col("o_orderpriority") === "1-URGENT")
    filtered.collect()
    val p = plan(filtered).split("== Initial Plan ==").head
    assert("PushedFilters: \\[[^\\]]*EqualTo\\(o_orderpriority".r.findFirstIn(p).isDefined,
      "point-side filter must reach the parquet scan:\n" + p.take(1500))
    // semantics: identical to filtering before the join
    val pre = graft.plans.IntervalJoin.pointInInterval(
      orders.filter(col("o_orderpriority") === "1-URGENT"), months,
      orders("o_orderdate"), months("month"), months("month_end"))
    assert(filtered.count() === pre.count())
    // the registry consumer (q318) gets the same pushdown
    val q318 = CoreOps.intervalJoinFiltered(spark, sf)
    q318.collect()
    assert("PushedFilters: \\[[^\\]]*EqualTo\\(o_orderpriority".r
      .findFirstIn(plan(q318).split("== Initial Plan ==").head).isDefined)
    // time-range MIRROR: a pushed point-time bound re-expresses as an
    // interval bound on the other side (t >= L  ⇒  month_end > L), so both
    // children shrink before the sweep
    val cutoff = lit("1998-01-01").cast("timestamp_ntz")
    val tf = joined.filter(col("o_orderdate") >= cutoff)
    val opt = tf.queryExecution.optimizedPlan.toString
    assert(opt.contains("month_end") && "month_end#\\d+ >".r.findFirstIn(opt).isDefined,
      "t >= L must mirror as end > L on the interval side:\n" + opt.take(1200))
    val preT = graft.plans.IntervalJoin.pointInInterval(
      orders.filter(col("o_orderdate") >= cutoff), months,
      orders("o_orderdate"), months("month"), months("month_end"))
    assert(tf.count() === preT.count())
    // interval-side (right) conjuncts must NOT push under LEFT outer — the
    // null-producing side would resurrect rows; the rule leaves the plan as
    // a Filter above the join
    val leftJoined = graft.plans.IntervalJoin.join(
      orders, months, Nil, Nil, orders("o_orderdate"), months("month"), months("month_end"), "left")
    val lf = leftJoined.filter(col("month") >= lit("1998-01-01").cast("timestamp_ntz"))
    val lp = lf.queryExecution.optimizedPlan.toString
    assert(lp.trim.startsWith("Filter") || lp.contains("Filter ("),
      "right-side conjunct must stay above the left-outer interval join:\n" + lp.take(800))
    // and the null-padded semantics survive: no month filter below the join
    val nUnmatchedDropped = lf.count()
    val above = leftJoined.collect().count { r =>
      val m = r.getAs[java.time.LocalDateTime]("month")
      m != null && !m.isBefore(java.time.LocalDateTime.of(1998, 1, 1, 0, 0))
    }
    assert(nUnmatchedDropped === above.toLong)
  }

  test("column pruning reaches the scans through the custom join nodes") {
    import org.apache.spark.sql.functions._
    val origin = to_date(lit("1995-01-01"))
    val months = spark.range(0, 80)
      .select(add_months(origin, col("id").cast("int")).cast("timestamp_ntz").as("month"),
        add_months(origin, col("id").cast("int") + 1).cast("timestamp_ntz").as("month_end"))
    // deliberately hand the join the FULL orders table (no pre-select): the
    // projection above the custom node must be what narrows the scan
    val orders = Tables.orders(spark, sf)
      .withColumn("o_orderdate", col("o_orderdate").cast("timestamp_ntz"))
    val thin = graft.plans.IntervalJoin.pointInInterval(
        orders, months, orders("o_orderdate"), months("month"), months("month_end"))
      .select(col("month"), col("o_totalprice"))
    thin.collect()
    val p = plan(thin).split("== Initial Plan ==").head
    val readSchema = "ReadSchema: struct<([^>]*)>".r.findFirstMatchIn(p).map(_.group(1)).getOrElse("")
    assert(readSchema.contains("o_totalprice") && readSchema.contains("o_orderdate"),
      s"needed columns must survive: $readSchema")
    assert(!readSchema.contains("o_comment") && !readSchema.contains("o_clerk"),
      s"projected-away columns must not reach the scan: $readSchema")
    // same through the as-of node (right side aliased: fresh attribute ids)
    val ev = Tables.events(spark, sf)
    val purch = ev.filter(col("event_type") === "purchase")
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("event_id").as("c_eid"), col("user_id").as("c_uid"),
        col("ts").as("c_ts"), col("props").as("c_props"))
    val asof = graft.plans.AsOfJoin.asof(
        purch, clicks, Seq(purch("user_id")), Seq(clicks("c_uid")),
        purch("ts"), clicks("c_ts"))
      .select(purch("event_id"), col("c_eid"))
    asof.collect()
    val ap = plan(asof).split("== Initial Plan ==").head
    val schemas = "ReadSchema: struct<([^>]*)>".r.findAllMatchIn(ap).map(_.group(1)).toSeq
    assert(schemas.nonEmpty && schemas.forall(!_.contains("props")),
      s"as-of scans must drop the unreferenced wide column: $schemas")
  }

  test("hive-partitioned layout prunes partitions at the scan (q70)") {
    val df = EventOps.partitionedScan(spark, sf)
    df.collect()
    val p = plan(df)
    assert(p.contains("PartitionFilters: [isnotnull(event_type"),
      "partition filter must resolve against directory names:\n" + p.take(600))
  }

  test("AQE splits a skewed join partition (skew=true in the final plan)") {
    import org.apache.spark.sql.functions._
    // synthetic skew: ~90% of the left side lands on one key; with the skew
    // thresholds lowered, AQE must split that partition at runtime
    val confs = Seq(
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "64KB",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "32KB",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "2",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1")
    val saved = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      val left = spark.range(200000)
        .select(when(pmod(col("id"), lit(10)) =!= 0, lit(7L)).otherwise(col("id")).as("k"),
          col("id").as("v"))
      val right = spark.range(1000).select(col("id").as("rk"))
      val j = left.join(right, col("k") === col("rk"))
      j.collect()
      assert(plan(j).contains("skew=true"), "AQE should mark the skewed side")
    } finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None)    => spark.conf.unset(k)
    }
  }

  test("funnel is join-free: two hash aggregations, no self-join (q99)") {
    val df = EventOps.funnelStages(spark, sf)
    df.collect()
    val p = plan(df).split("== Initial Plan ==").head
    assert(!p.contains("Join"), "funnel must not self-join:\n" + p.take(600))
    // partial+final for each of the two aggregations
    assert(p.split("HashAggregate").length - 1 >= 4)
  }

  test("exact dedup shuffles on the derived hash key, never on text (q35)") {
    val df = DedupOps.dedupExact(spark, sf)
    df.collect()
    val p = plan(df).split("== Initial Plan ==").head
    // every hash exchange must partition on the 8-byte derived key — a text
    // column in any partitioning expression is the 100 TB whole-corpus
    // shuffle this operator exists to avoid
    val parts = "hashpartitioning\\([^)]*\\)".r.findAllIn(p).toList
    assert(parts.nonEmpty, s"expected a hash exchange in:\n${p.take(1200)}")
    parts.foreach(x =>
      assert(!x.contains("text"), s"text column in shuffle partitioning: $x"))
    // the explicit repartition satisfies the aggregate's distribution: ONE
    // hash exchange total (orderBy's range exchange is separate)
    assert(p.split("Exchange hashpartitioning").length - 1 === 1,
      s"aggregate must reuse the repartition exchange:\n${p.take(1200)}")
    // exactness: identical to the text-keyed formulation
    import org.apache.spark.sql.functions.{col, count, lit, min}
    val ref = Tables.documents(spark, sf).groupBy(col("text"))
      .agg(min(col("doc_id")).as("rep_doc_id"), count(lit(1)).as("group_size"))
      .select(col("rep_doc_id"), col("group_size"))
    assert(df.collect().toSeq.sortBy(_.getLong(0)) ===
      ref.collect().toSeq.sortBy(_.getLong(0)))
  }

  test("wordset dedup shuffles on the derived hash key, never the array (q36)") {
    // q35's pattern extended to the last corpus-content shuffle key in the
    // dedup family: the sorted word-set array must never ride a
    // HashPartitioning expression — only the 8-byte (xxhash64, set_size) key
    val df = DedupOps.dedupWordSet(spark, sf)
    df.collect()
    val p = plan(df).split("== Initial Plan ==").head
    val parts = "hashpartitioning\\([^)]*\\)".r.findAllIn(p).toList
    assert(parts.nonEmpty, s"expected a hash exchange in:\n${p.take(1200)}")
    parts.foreach(x =>
      assert(!x.contains("text") && !x.contains("ws#"),
        s"corpus content in shuffle partitioning: $x"))
    assert(p.split("Exchange hashpartitioning").length - 1 === 1,
      s"aggregate must reuse the repartition exchange:\n${p.take(1200)}")
    // exactness: identical to the array-keyed formulation
    import org.apache.spark.sql.functions._
    val ref = Tables.documents(spark, sf)
      .groupBy(array_sort(array_distinct(split(col("text"), " "))).as("ws"))
      .agg(min(col("doc_id")).as("rep"), count(lit(1)).as("gs"))
      .select(col("rep"), col("gs"), size(col("ws")).cast("long").as("ss"))
    assert(df.collect().toSeq.map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sorted ===
      ref.collect().toSeq.map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sorted)
  }

  test("exact-rank stats run NO unpartitioned window over fact-sized input (q223/q233/q234/q235)") {
    // the scale-killer these queries were rewritten away from: a
    // windowspecdefinition with no partition column (first argument is an
    // ordering, i.e. carries ASC/DESC) collapses its whole input into ONE
    // task. After the PrefixSum rewrite every cumulative window must be
    // partition-local (partitioned by the range-partition pid).
    val unpart = "windowspecdefinition\\([^,()]*(ASC|DESC)".r
    // third element: does the query use PrefixSum (pid-partitioned windows)?
    for ((name, df, usesPrefixSum) <- Seq[(String, DataFrame, Boolean)](
      ("q223", CoreOps.decileDrift(spark, sf), true),
      ("q233", CoreOps.ksTest(spark, sf), true),
      ("q234", CoreOps.mannWhitney(spark, sf), true),
      ("q235", CoreOps.rfmSegments(spark, sf), true),
      ("q231", TextOps.vocabSegments(spark, sf), true),
      ("q222", TextOps.interleaveAudit(spark, sf), false))) {
      df.collect()
      val p = plan(df).split("== Initial Plan ==").head
      assert(unpart.findFirstIn(p).isEmpty,
        s"$name has an unpartitioned window:\n${p.take(1500)}")
      if (usesPrefixSum)
        assert(!p.contains("windowspecdefinition") || p.contains("__ps_pid"),
          s"$name: cumulative windows must be partition-local (PrefixSum pid):\n${p.take(1500)}")
    }
  }

  test("structural audit: NO registry query windows over unbounded input unpartitioned") {
    // The r7 lesson: the named-list version of this assertion (six
    // hand-picked queries) let two NEW offenders (q182, q256) land in the
    // same round the named entries were fixed. So: iterate the ENTIRE
    // registry, flag every windowspecdefinition with an empty partition
    // clause (PlanAudit's balanced-paren parse of the optimized plan — a
    // partition-less logical Window can only execute single-task), and
    // force every exception to justify WHY its window input is bounded.
    // A query not listed here with such a window fails the build.
    val bounded: Map[String, String] = Map(
      "q04_market_share" -> "percent-of-total frame over the aggregated priority groups (enum-sized)",
      "q05_topk_brand_pct" -> "percent-of-total frame over aggregated brand groups (bounded domain)",
      "q114_transit_sweep" -> "carry-in offsets over per-MONTH delta totals (calendar-sized)",
      "q150_budget_sample" -> "largest-remainder rank over per-SOURCE allocations (sources-sized)",
      "q153_lsh_recall" -> "cumulative recall over the nBands band rollup (band-count-sized)",
      "q157_bm25_topk" -> "rank over the top-k rows AFTER TakeOrderedAndProject (k=10)",
      "q166_value_drift" -> "trailing stats over the daily series (calendar-sized)",
      "q168_weighted_sample" -> "rank over the k selected rows AFTER TakeOrderedAndProject",
      "q181_stream_heavy_hitters" -> "rank over the Misra-Gries candidate set (sketch-k-sized)",
      "q182_hybrid_rrf" -> "ranks over the two top-50 candidate lists + the <=100-row fusion, each AFTER TakeOrderedAndProject",
      "q186_mad_anomaly" -> "median ranks over the daily aggregate (calendar-sized)",
      "q196_chi2_cells" -> "totals frame over the contingency cells (enum x enum)",
      "q210_mix_allocation" -> "allocation ranks over per-SOURCE rows (sources-sized)",
      "q297_neyman_alloc" -> "largest-remainder rank over per-SOURCE allocations (sources-sized, the q150 shape)",
      "q303_hill_tail" -> "rank over the top-(k+1) rows AFTER TakeOrderedAndProject (k=100)",
      "q305_wasserstein_lengths" -> "Δv lead over the distinct doc-length domain (bounded, the q260 shape)",
      "q218_pareto_docs" -> "dominance over the 4-dp quality domain (<=10001 cells)",
      "q21_enrich_stats" -> "success-rate frame over the enrichment rollup (categories-sized)",
      "q226_benford" -> "totals frame over the 9 leading-digit rows",
      "q229_share_of_parent" -> "share frames over aggregated nation/region levels (enum-sized)",
      "q232_survival" -> "at-risk cumulative over the duration-day histogram (calendar-sized)",
      "q250_quality_percentiles" -> "percentile ranks over the 4-dp quality domain (<=10001 cells)",
      "q259_vocab_drift" -> "rank over the top-20 rows AFTER TakeOrderedAndProject",
      "q260_dataset_card" -> "token-median crossing over the distinct doc-length histogram (doc-length-domain-sized)")
    // building a frame runs the operator's eager checkpoints and persists;
    // after releaseAll nothing a query persisted may survive, in the
    // context or in the CacheManager (data other suites left behind is
    // cleared first or excluded by id, and each leak is reported once)
    val cacheManager =
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession].sharedState.cacheManager
    Caches.releaseAll()
    spark.catalog.clearCache()
    var known = spark.sparkContext.getPersistentRDDs.keySet
    val leaks = scala.collection.mutable.ArrayBuffer[String]()
    val audits: Map[String, PlanAudit.Audit] =
      SparkEntry.queries.keys.toSeq.sorted.map { name =>
        try name -> PlanAudit.auditQuery(spark, name, sf)
        finally {
          Caches.releaseAll()
          val rdds = spark.sparkContext.getPersistentRDDs.keySet -- known
          if (rdds.nonEmpty) {
            leaks += s"$name: ${rdds.size} persisted RDD(s)"
            known ++= rdds
          }
          if (!cacheManager.isEmpty) {
            leaks += s"$name: CacheManager entries"
            spark.catalog.clearCache()
          }
        }
      }.toMap
    assert(leaks.isEmpty,
      "\nPersisted data not enrolled in Caches (use persistTracked/checkpointTracked):\n" +
        leaks.mkString("\n"))
    val offending = audits.view.mapValues(_.unpartWindows).toMap
    val unexplained = offending.filter { case (n, offs) =>
      offs.nonEmpty && !bounded.contains(n)
    }
    // second structural shape: a CartesianProduct (rows x rows) anywhere is
    // a regression — every intentional cross join broadcasts one side
    val cartesian = audits.collect { case (n, a) if a.cartesian => n }
    assert(cartesian.isEmpty,
      s"CartesianProduct planned (broadcast the small side): ${cartesian.mkString(", ")}")
    assert(unexplained.isEmpty,
      "unpartitioned windows over undeclared input (fix the plan or justify " +
        "boundedness above):\n" + unexplained.map { case (n, offs) =>
          s"  $n: ${offs.map(_.take(70)).mkString(" | ")}"
        }.mkString("\n"))
    // the whitelist must not go stale: every justified query still has the
    // window it justifies (otherwise the entry is dead weight — delete it)
    val stale = bounded.keys.filter(n => offending.getOrElse(n, Nil).isEmpty)
    assert(stale.isEmpty, s"stale whitelist entries (window gone): ${stale.mkString(", ")}")
  }

  test("upsert anti-join broadcasts the change-set keys (q96)") {
    val df = CoreOps.upsertOrders(spark, sf)
    df.collect()
    val p = plan(df).split("== Initial Plan ==").head
    assert(p.contains("LeftAnti"), p.take(600))
    // change set is small relative to the snapshot: its keys must broadcast,
    // leaving the snapshot side unshuffled before the join
    assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastExchange"))
  }

  test("lateral top-k decorrelates to WindowGroupLimit with predicate pushdown (q126)") {
    val p = plan(CoreOps.lateralTopOrders(spark, sf))
    assert(p.contains("WindowGroupLimit"), "group-limit must be planned, not a per-row loop")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      "lateral must decorrelate to an equi-join:\n" + p.take(800))
    // the outer c_custkey <= 100 predicate must cross the correlation onto
    // the inner (orders) side — as a Filter on o_custkey, so the group-limit
    // ranks only candidate customers' orders, not the whole table
    assert(p.linesIterator.exists(l =>
        l.contains("Filter") && l.contains("o_custkey") && l.contains("100")),
      "correlated predicate not transferred to the inner side:\n" + p.take(1200))
  }

  test("NOT IN plans null-aware; NOT EXISTS plans an existence join (q129)") {
    val df = CoreOps.notInNullAware(spark, sf)
    df.collect()
    val p = plan(df)
    // trailing `true` on the LeftAnti BroadcastHashJoin = isNullAwareAntiJoin
    assert(p.contains("LeftAnti, BuildRight, true"),
      "NOT IN must use the null-aware anti build:\n" + p.take(1000))
    assert(p.contains("ExistenceJoin"),
      "NOT EXISTS under an aggregate must plan as ExistenceJoin")
  }

  test("near-dup verify broadcast is size-gated: degraded plan matches, shuffle candidate-bounded") {
    import org.apache.spark.sql.functions._
    import graft.ops.TextFunctions.words
    val baseRows = DedupOps.nearDupJaccard(spark, sf, 0.9, forceGeneral = true)
      .collect().map(_.toSeq).toSeq
    val baseShuffle = Metrics.shuffleRecordsWritten(
      DedupOps.nearDupJaccard(spark, sf, 0.9, forceGeneral = true))
    // candidate-multiset and corpus sizes, measured from the same generator
    // the query uses — the bound below is in THESE units, not corpus²
    val docs = Tables.documents(spark, sf)
      .select(col("doc_id"), array_distinct(words(col("text"))).as("ws0"))
    val (cands, ids) = DedupOps.ppjoinCandidates(spark, docs, 0.9)
    val nCands = cands.count()
    val nDocs = ids.count()
    // one gate key sizes both the dictionary and the verify sides: set it
    // between their estimates, so the dictionary still broadcasts and only
    // the verify sides take the shuffle fallback
    val (_, vocabRows) = PrefixSum.rarityRanksCounted(
      docs.select(explode(col("ws0")).as("word")), "word")
    val dictBytes = vocabRows * DedupOps.DictRowBytes
    val verifyBytes = DedupOps.estIdBytes(ids)
    assert(dictBytes < verifyBytes,
      s"no gate value between the dictionary ($dictBytes B) and verify ($verifyBytes B) estimates")
    spark.conf.set(Joins.MaxBroadcastBytesConf, dictBytes.toString)
    try {
      val degShuffle = Metrics.shuffleRecordsWritten(
        DedupOps.nearDupJaccard(spark, sf, 0.9, forceGeneral = true))
      val degRows = DedupOps.nearDupJaccard(spark, sf, 0.9, forceGeneral = true)
        .collect().map(_.toSeq).toSeq
      assert(degRows === baseRows, "degraded verify join must not change results")
      assert(degShuffle > baseShuffle,
        s"gate=0 must disable the verify broadcast (no extra shuffle seen: $baseShuffle → $degShuffle)")
      // extra volume = cands exchanged on doc_a + join1 output on doc_b
      // (each ≤ nCands) + one pass of each id side — linear in candidates
      // and corpus rows; a corpus-sized broadcast OR an unblocked join would
      // blow far past this
      assert(degShuffle - baseShuffle <= 2 * nCands + 2 * nDocs + 4096,
        s"degraded verify shuffle not candidate-bounded: base=$baseShuffle deg=$degShuffle cands=$nCands docs=$nDocs")
    } finally spark.conf.unset(Joins.MaxBroadcastBytesConf)
  }

  test("salted join pins the shuffled plan and equals the plain join (q146)") {
    import org.apache.spark.sql.functions._
    val p = plan(CoreOps.saltedJoin(spark, sf))
    assert(p.contains("ShuffledHashJoin"), "salt demo requires the shuffled join:\n" + p.take(600))
    assert(!p.contains("BroadcastHashJoin"))
    val plain = Tables.lineitem(spark, sf)
      .join(Tables.supplier(spark, sf), col("l_suppkey") === col("s_suppkey"))
      .groupBy(col("s_nationkey"))
      .agg(count(lit(1)).as("n_items"),
        sum(col("l_extendedprice").cast(org.apache.spark.sql.types.DecimalType(18, 2)))
          .cast("double").as("revenue"))
      .orderBy(col("s_nationkey")).collect().map(_.toSeq).toSeq
    assert(CoreOps.saltedJoin(spark, sf).collect().map(_.toSeq).toSeq === plain)
  }

  test("delta near-dup equals brute-force delta×corpus join on both paths (q142)") {
    import org.apache.spark.sql.functions._
    import graft.ops.TextFunctions.words
    val got = DedupOps.deltaNearDup(spark, sf).collect().map(_.toSeq).toSeq
    val gotGeneral = DedupOps.deltaNearDup(spark, sf, forceGeneral = true)
      .collect().map(_.toSeq).toSeq
    assert(got === gotGeneral, "mask and PPJoin delta paths must agree")
    val ds = Tables.documents(spark, sf)
      .select(col("doc_id"), array_sort(array_distinct(words(col("text")))).as("ws"))
    val d = ds.filter(col("doc_id") % 5 === 0)
      .select(col("doc_id").as("doc_delta"), col("ws").as("wa"))
    val c = ds.filter(col("doc_id") % 5 =!= 0)
      .select(col("doc_id").as("doc_corpus"), col("ws").as("wb"))
    val brute = d.crossJoin(c)
      .withColumn("inter", size(array_intersect(col("wa"), col("wb"))))
      .withColumn("j",
        col("inter").cast("double") / (size(col("wa")) + size(col("wb")) - col("inter")))
      .filter(col("j") >= 0.9)
      .select(col("doc_delta"), col("doc_corpus"),
        OracleMath.stableRound(col("j"), 4).as("jaccard"))
      .orderBy(col("doc_delta"), col("doc_corpus")).collect().map(_.toSeq).toSeq
    assert(got === brute, s"delta near-dup mismatch: got ${got.size} vs brute ${brute.size}")
    assert(got.nonEmpty)
  }

  test("fuzzy key pairs: blocking prunes the quadratic space, verify matches brute force (q53)") {
    import org.apache.spark.sql.functions._
    import TestSpark.spark.implicits._
    // q53's own input is lossless-checked below; the PRUNING property needs
    // a realistic key domain — hundreds of multi-word titles with injected
    // typos. The testdata name domains are degenerate for blocking (64
    // two-word part names; fixed-pattern 'Customer#NNNNNN' names share every
    // rare gram), so any candidate scheme admits most pairs there.
    val rnd = new scala.util.Random(42)
    val pool = Vector(
      "engineer", "developer", "manager", "analyst", "designer", "architect",
      "consultant", "specialist", "director", "assistant", "operator",
      "technician", "scientist", "researcher", "administrator", "coordinator",
      "marketing", "finance", "logistics", "support", "senior", "junior",
      "lead", "principal", "backend", "frontend", "mobile", "cloud", "data",
      "security", "network", "quality", "product", "project", "sales")
    val base = Vector.fill(400)(
      Seq.fill(3)(pool(rnd.nextInt(pool.size))).mkString(" "))
    val typod = base.take(120).map { s =>
      val i = rnd.nextInt(s.length); s.updated(i, ('a' + rnd.nextInt(26)).toChar)
    }
    val keys = (base ++ typod).distinct
    val df = keys.toDF("name")
    val n = keys.size.toLong
    val allPairs = n * (n - 1) / 2
    val cands = DedupOps.fuzzyCandidatesOn(df, 2)
    val nCands = cands.count()
    assert(nCands * 10 < allPairs,
      s"length-band + q-gram prefix blocking must prune: $nCands candidates vs $allPairs all-pairs")
    // lossless on the same domain: candidates + verify == naive quadratic join
    val got = cands
      .withColumn("dist", levenshtein(col("name_a"), col("name_b")))
      .filter(col("dist") <= 2)
      .orderBy(col("name_a"), col("name_b")).collect().map(_.toSeq).toSeq
    val brute = df.select(col("name").as("name_a"))
      .join(df.select(col("name").as("name_b")), col("name_a") < col("name_b"))
      .withColumn("dist", levenshtein(col("name_a"), col("name_b")))
      .filter(col("dist") <= 2)
      .orderBy(col("name_a"), col("name_b")).collect().map(_.toSeq).toSeq
    assert(got === brute, "blocked fuzzy join must be lossless vs the naive quadratic join")
    // and the shipped q53 is unchanged on its own (tiny) input table
    val names = Tables.part(spark, sf).select(col("p_name")).distinct()
    val bruteQ53 = names.select(col("p_name").as("name_a"))
      .join(names.select(col("p_name").as("name_b")), col("name_a") < col("name_b"))
      .withColumn("dist", levenshtein(col("name_a"), col("name_b")))
      .filter(col("dist") <= 3)
      .select(col("name_a"), col("name_b"), col("dist").cast("long").as("dist"))
      .orderBy(col("name_a"), col("name_b")).collect().map(_.toSeq).toSeq
    assert(DedupOps.fuzzyKeyPairs(spark, sf, 3).collect().map(_.toSeq).toSeq === bruteQ53)
  }

  test("round-5 text/LSH pipelines never plan a cartesian pair join (q151/q152/q153)") {
    // the only acceptable nested-loop in these plans is a 1-row scalar
    // broadcast (q153's total); a CartesianProduct would mean a gram or
    // band join degenerated into all-pairs
    Seq(
      TextOps.spanRemoval(TestSpark.spark, sf),
      TextOps.curationFunnel(TestSpark.spark, sf),
      DedupOps.lshRecallRollup(TestSpark.spark, sf)
    ).foreach { df =>
      val p = plan(df)
      assert(!p.contains("CartesianProduct"), s"cartesian in:\n$p")
    }
  }
}
