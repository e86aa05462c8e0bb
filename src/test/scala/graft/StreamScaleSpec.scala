package graft

import graft.ops._
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Specs for the stateful-streaming join/dedup family and the scale-path
  * operators (runtime bloom filter, HLL approx distinct, quantization).
  */
class StreamScaleSpec extends AnyFunSuite {
  import TestSpark._

  test("custom streaming source paces the backlog via admission control (q112)") {
    import org.apache.spark.sql.streaming.Trigger
    val q = spark.readStream.format("graft.sources.GraftRangeStream")
      .option("end", "1000").option("rowsPerBatch", "100").load()
      .groupBy(col("bucket")).agg(count(lit(1)).as("n"))
      .writeStream.outputMode("complete").format("memory").queryName("graft_src_spec")
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    // the 1000-row backlog must arrive as MANY read-limited micro-batches,
    // covering every row exactly once
    val batches = q.recentProgress.filter(_.numInputRows > 0)
    assert(batches.length >= 5, s"expected paced micro-batches, got ${batches.length}")
    assert(batches.map(_.numInputRows).sum === 1000L)
    assert(spark.table("graft_src_spec").collect().map(_.getLong(1)).sum === 1000L)
  }

  test("checkpoint restart resumes exactly-once: no re-read, no loss (q100 family)") {
    import org.apache.hadoop.fs.{FileSystem, Path}
    import org.apache.spark.sql.streaming.Trigger
    import org.apache.spark.sql.DataFrame
    val staged = graft.streaming.EventsStream.stageStreamDirMulti(spark, sf)
    val fs = FileSystem.get(spark.sparkContext.hadoopConfiguration)
    val base = sys.props("java.io.tmpdir") + "/graft_restart_spec"
    val (land, out, chk) = (base + "/land", base + "/out", base + "/chk")
    fs.delete(new Path(base), true)
    fs.mkdirs(new Path(land))
    def copyIn(k: Int): Unit = org.apache.hadoop.fs.FileUtil.copy(
      fs, new Path(staged, f"events_$k%02d.parquet"),
      fs, new Path(land, f"events_$k%02d.parquet"), false,
      spark.sparkContext.hadoopConfiguration)
    def drain(): Unit = {
      val q = spark.readStream
        .schema(graft.streaming.SessionStream.rawSchema)
        .option("maxFilesPerTrigger", 1)
        .parquet(land)
        .select(col("event_id"), col("user_id"))
        .writeStream
        .foreachBatch { (b: DataFrame, id: Long) =>
          b.withColumn("batch_id", lit(id)).write.mode("append").parquet(out)
        }
        .option("checkpointLocation", chk)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
    }
    // phase 1: two of three landing files, drain to the sink
    copyIn(0); copyIn(1); drain()
    val afterPhase1 = spark.read.parquet(out).count()
    // phase 2: third file arrives; restart from the SAME checkpoint
    copyIn(2); drain()
    val got = spark.read.parquet(out)
    val src = Tables.events(spark, sf)
    // exactly-once: phase 2 appended only the new file — nothing re-read,
    // nothing lost, no duplicate event ids in the sink
    assert(got.count() === src.count(), "sink row count equals the source")
    assert(got.count() > afterPhase1, "phase 2 appended the late file")
    assert(got.select(col("event_id")).distinct().count() === src.count(),
      "no event duplicated across the restart")
    assert(got.select(col("batch_id")).distinct().count() >= 3L)
  }

  test("stream-stream interval join equals the batch interval join (q87)") {
    val stream = graft.streaming.StreamJoinOps.clickAttributionStreaming(spark, sf)
    val ev = Tables.events(spark, sf)
    val p = ev.filter(col("event_type") === "purchase")
      .select(col("event_id").as("purchase_id"), col("user_id"), col("ts").as("p_ts"))
    val c = ev.filter(col("event_type") === "click")
      .select(col("event_id").as("click_id"), col("user_id").as("cu"), col("ts").as("c_ts"))
    val batch = p.join(c,
        col("user_id") === col("cu")
          && col("c_ts") <= col("p_ts")
          && col("c_ts") > col("p_ts") - expr("INTERVAL 5 MINUTES"))
      .select(col("purchase_id"), col("user_id"), col("click_id"),
        expr("unix_micros(p_ts) DIV 1000000 - unix_micros(c_ts) DIV 1000000").as("lag_seconds"))
    assert(stream.exceptAll(batch).count() === 0)
    assert(batch.exceptAll(stream).count() === 0)
  }

  test("streaming dedup across microbatches equals batch DISTINCT (q88)") {
    val stream = graft.streaming.StreamJoinOps.dedupStreaming(spark, sf)
    val batch = Tables.events(spark, sf)
      .select(col("user_id"), col("event_type"), date_trunc("minute", col("ts")).as("m"))
      .distinct()
      .groupBy(col("event_type")).agg(count(lit(1)).as("n_distinct_keys"))
      .orderBy(col("event_type"))
    assert(stream.exceptAll(batch).count() === 0)
    assert(batch.exceptAll(stream).count() === 0)
  }

  test("runtime bloom filter is injected and does not change the join result (q89)") {
    // plan + plain result FIRST: runtimeFilterJoin persists this exact plan,
    // and the cache manager would substitute InMemoryRelation afterwards
    val keys = Map(
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold" -> "0",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1")
    val olds = keys.map { case (k, _) => k -> spark.conf.get(k) }
    keys.foreach { case (k, v) => spark.conf.set(k, v) }
    val planStr =
      try CoreOps.urgentLineRevenue(spark, sf).queryExecution.optimizedPlan.toString
      finally olds.foreach { case (k, v) => spark.conf.set(k, v) }
    assert(planStr.contains("might_contain"), s"no bloom probe in plan:\n$planStr")
    val plain = CoreOps.urgentLineRevenue(spark, sf).collect().toSeq
    val withBloom = CoreOps.runtimeFilterJoin(spark, sf)
    assert(withBloom.collect().toSeq === plain)
    withBloom.unpersist()
  }

  test("approx_count_distinct is within the 2% rsd envelope of exact (q93)") {
    // the envelope (5 sigma at rsd=2%) is computed in-query and oracle-
    // asserted; here it must hold at the spec SF too
    CoreOps.approxDistinct(spark, sf).collect().foreach { r =>
      assert(r.getLong(2) > 0)
      assert(r.getBoolean(3), s"${r.getString(0)}: approx outside envelope")
    }
  }

  test("scalar quantization codes are bounded 0..255 and reconstruct within scale/2 (q95)") {
    val e = col("embedding")
    val mn = array_min(e).cast("double")
    val mx = array_max(e).cast("double")
    val scale = greatest((mx - mn) / lit(255.0), lit(1e-12))
    val codes = transform(e, x => floor((x.cast("double") - mn) / scale + lit(0.5)).cast("long"))
    val bad = Tables.embeddings(spark, sf)
      .select(codes.as("c"), scale.as("s"),
        aggregate(zip_with(e, codes, (x, cc) =>
          abs(x.cast("double") - (mn + cc.cast("double") * scale))), lit(0.0),
          (acc, v) => greatest(acc, v)).as("maxerr"))
      .filter(array_max(col("c")) > 255L || array_min(col("c")) < 0L
        || col("maxerr") > col("s") * 0.5000001)
      .count()
    assert(bad === 0)
  }

  test("positional tokens preserve order and count (q91)") {
    val toks = TextOps.posTokens(spark, sf)
    val perDoc = toks.groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n"), max(col("pos")).as("maxp"), min(col("pos")).as("minp"))
    // positions are dense 0..n-1
    assert(perDoc.filter(col("maxp") =!= col("n") - 1 || col("minp") =!= 0).count() === 0)
    val total = toks.count()
    val expected = Tables.documents(spark, sf)
      .select(size(split(col("text"), " ")).cast("long").as("n"))
      .agg(sum(col("n"))).head.getLong(0)
    assert(total === expected)
  }

  test("map-type agg round-trips the grouped counts exactly (q94)") {
    val viaMap = EventOps.typeMapAgg(spark, sf)
    val plain = Tables.events(spark, sf)
      .groupBy(col("user_id"), col("event_type"))
      .agg(count(lit(1)).as("cnt"))
    assert(viaMap.exceptAll(plain).count() === 0)
    assert(plain.exceptAll(viaMap).count() === 0)
  }

  test("upsert keeps row count, replaces exactly the matched keys (q96)") {
    val base = Tables.orders(spark, sf)
      .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
    val nBase = base.count()
    val nUpd = base.filter(col("o_orderkey") % 100 === 0).count()
    val merged = CoreOps.upsertOrders(spark, sf)
    // upsert of updates-only (no inserts) preserves cardinality; the 'X'
    // status row count equals the change-set size
    assert(merged.agg(sum(col("n"))).head.getLong(0) === nBase)
    val xRow = merged.filter(col("o_orderstatus") === "X").collect()
    assert(xRow.length === 1 && xRow.head.getLong(1) === nUpd)
  }

  test("stream-static broadcast join equals the batch join (q97)") {
    val stream = graft.streaming.StreamJoinOps.streamStaticEnrich(spark, sf)
    val batch = Tables.events(spark, sf)
      .join(Tables.customer(spark, sf), col("user_id") === col("c_custkey"))
      .groupBy(col("c_mktsegment"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast(org.apache.spark.sql.types.DecimalType(18, 2)))
          .cast("double").as("sum_value"))
    assert(stream.exceptAll(batch).count() === 0)
    assert(batch.exceptAll(stream).count() === 0)
  }

  test("approx median sits within the exact p40..p60 bracket (q98)") {
    // the bracket check is computed in-query (approx_ok) and oracle-
    // asserted; here it must hold at the spec SF, with a sane exact median
    CoreOps.approxQuantiles(spark, sf).collect().foreach { r =>
      assert(r.getBoolean(2), s"${r.getString(0)}: approx median outside bracket")
      assert(r.getDouble(1) > 0.0 && r.getLong(3) > 0L)
    }
  }

  test("cloned streaming sessions inherit a runtime state-store provider selection") {
    // without the explicit carry-over in withStatePartitions, a runtime
    // providerClass set on the outer session silently reverts to the
    // default inside the clone — and the RocksDB equality test below tests
    // nothing. This pins the carry-over itself.
    val key = "spark.sql.streaming.stateStore.providerClass"
    val rocks = "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
    spark.conf.set(key, rocks)
    try {
      val inClone = graft.streaming.StreamJoinOps
        .withStatePartitions(spark)(s => s.conf.getOption(key))
      assert(inClone.contains(rocks), s"provider not carried into clone: $inClone")
    } finally spark.conf.unset(key)
  }

  test("stream checkpoints sit under Staging.perRunRoot and are deleted, also on failure") {
    import graft.streaming.{EventsStream, SessionStream, StreamJoinOps}
    val staged = EventsStream.stageStreamDirShared(spark, sf)
    // Runs one query whose rows record whether the checkpoint base exists
    // while a microbatch executes (local mode: tasks share the driver's
    // file system); returns the drained (live, count) rows.
    def run(failRows: Boolean, failBuild: Boolean): Seq[(Boolean, Long)] = {
      var base: String = null
      val rows = scala.util.Try {
        StreamJoinOps.runToCompletion(spark, "complete", skipFinalize = true) { s =>
          base = s.conf.get("spark.sql.streaming.checkpointLocation")
          if (failBuild) sys.error("build failed")
          val b = base
          val live = udf { (id: Long) =>
            if (failRows) sys.error(s"row $id failed")
            new java.io.File(b).isDirectory
          }
          s.readStream.schema(SessionStream.rawSchema).parquet(staged)
            .select(live(col("event_id")).as("live"))
            .groupBy(col("live")).count()
        }.collect().map(r => (r.getBoolean(0), r.getLong(1))).toSeq
      }
      assert(rows.isFailure == (failRows || failBuild), rows)
      assert(base != null && base.startsWith(Staging.perRunRoot + "/graft_ckpt_"),
        s"checkpoint base $base is not under the staging root ${Staging.perRunRoot}")
      assert(!new java.io.File(base).exists(), s"checkpoint base $base left behind")
      rows.getOrElse(Seq.empty)
    }
    val rows = run(failRows = false, failBuild = false)
    assert(rows.size == 1 && rows.head._1 && rows.head._2 > 0L,
      s"checkpoint base must exist while the run executes: $rows")
    run(failRows = true, failBuild = false)
    run(failRows = false, failBuild = true)
  }

  test("stateful streaming is state-store-provider agnostic (RocksDB = default HDFS-backed)") {
    // At 100 TB-scale state the in-memory HDFS-backed provider is replaced by
    // RocksDB (spillable, incremental-checkpointing). Results must not depend
    // on the provider; run the multi-batch sessionization under RocksDB and
    // compare against the batch oracle plan.
    val key = "spark.sql.streaming.stateStore.providerClass"
    val old = spark.conf.getOption(key)
    spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val rocks = graft.streaming.SessionStream.sessionsStreaming(spark, sf)
      val batch = EventOps.sessionCounts(spark, sf)
      assert(rocks.exceptAll(batch).count() === 0)
      assert(batch.exceptAll(rocks).count() === 0)
    } finally old match {
      case Some(v) => spark.conf.set(key, v)
      case None    => spark.conf.unset(key)
    }
  }

  test("round-6 streaming state ops are provider-agnostic under RocksDB (q170, q178, q181)") {
    val key = "spark.sql.streaming.stateStore.providerClass"
    val old = spark.conf.getOption(key)
    spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      // streaming LSH bucket state: must still equal the batch banded sweep
      // (set compare — exceptAll trips an attribute-binding quirk over the
      // localCheckpointed streaming plan)
      val lsh = graft.streaming.DocsStream.lshNearDupStreaming(spark, sf).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      val batch = graft.ops.DedupOps.lshNearDupPairs(spark, sf).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      assert(lsh == batch)
      // outer-join state: unmatched emission must not depend on the provider
      val outerRocks = graft.streaming.StreamJoinOps
        .clickAttributionOuterStreaming(spark, sf).collect()
        .map(r => (r.getLong(0), r.getLong(2))).toSet
      spark.conf.unset(key)
      val outerDefault = graft.streaming.StreamJoinOps
        .clickAttributionOuterStreaming(spark, sf).collect()
        .map(r => (r.getLong(0), r.getLong(2))).toSet
      assert(outerRocks == outerDefault)
      spark.conf.set(key,
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
      // MG sketch buffer in RocksDB state: envelope must still hold
      val mg = graft.streaming.DocsStream.mgHeavyHittersStreaming(spark, sf).collect()
      assert(mg.nonEmpty && mg.forall(_.getAs[Boolean]("mg_ok")))
    } finally old match {
      case Some(v) => spark.conf.set(key, v)
      case None    => spark.conf.unset(key)
    }
  }

  test("chained dedup->window agg matches batch distinct-then-count (q217)") {
    val got = graft.streaming.StreamJoinOps.dedupThenHourly(spark, sf).collect()
      .map(r => (r.getTimestamp(0).getTime, r.getString(1), r.getLong(2))).toSet
    val maxM = graft.Tables.events(spark, sf)
      .agg(max(date_trunc("minute", col("ts")))).head.getTimestamp(0).getTime
    val cutoff = maxM - 3600000L
    val batch = graft.Tables.events(spark, sf)
      .select(col("user_id"), col("event_type"), date_trunc("minute", col("ts")).as("m"))
      .distinct()
      .groupBy(date_trunc("hour", col("m")).as("hour"), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .collect().map(r => (r.getTimestamp(0).getTime, r.getString(1), r.getLong(2)))
      .filter { case (h, _, _) => h + 3600000L <= cutoff }.toSet
    assert(got === batch)
  }

  test("ListState last-K cache equals the batch top-K and stays bounded (q207)") {
    import org.apache.spark.sql.expressions.Window
    val got = graft.streaming.TwsLastKStream.lastKStreaming(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toSet
    val w = Window.partitionBy(col("user_id")).orderBy(desc("ts"), desc("event_id"))
    val batch = graft.Tables.events(spark, sf)
      .filter(col("event_type") === "purchase")
      .select(col("user_id"), col("ts"), col("event_id"),
        expr("CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)").as("cents"))
      .withColumn("rn", row_number().over(w))
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n"),
        coalesce(max(when(col("rn") === 1, col("cents"))), lit(-1L)).as("c1"),
        coalesce(max(when(col("rn") === 2, col("cents"))), lit(-1L)).as("c2"),
        coalesce(max(when(col("rn") === 3, col("cents"))), lit(-1L)).as("c3"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toSet
    assert(got === batch)
    // users with more purchases than K prove the cache actually truncated
    assert(got.exists(_._2 > 3L))
  }

  test("timer-based transformWithState equals the EventTimeTimeout machine (q206)") {
    val tws = graft.streaming.TwsTimerSessionStream.sessionsTimerStreaming(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val classic = graft.streaming.TimeoutSessionStream.sessionsTimeoutStreaming(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val batch = EventOps.sessionCounts(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(tws === classic)
    assert(tws === batch)
  }

  test("transformWithState spend profile equals the batch aggregation (q205)") {
    val got = graft.streaming.TwsSpendStream.spendStreaming(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    val batch = graft.Tables.events(spark, sf)
      .select(col("user_id"),
        expr("CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)").as("cents"))
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n"), sum(col("cents")).as("t"), max(col("cents")).as("m"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    assert(got === batch)
  }

  test("session_window streaming equals the in-JVM gap-merge replay (q240)") {
    val got = graft.streaming.EventsStream.sessionWindowStreaming(spark, sf).collect()
      .map(r => (r.getLong(0), r.getTimestamp(1).getTime, r.getTimestamp(2).getTime,
        r.getLong(3), r.getLong(4))).toSet
    val evs = graft.Tables.events(spark, sf)
      .select(col("user_id"),
        (unix_timestamp(date_trunc("second", col("ts"))) * 1000L).as("tms"),
        expr("CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)").as("cents"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val gap = 30L * 60000L
    val wm = evs.map(_._2).max - 3600000L
    val expected = evs.groupBy(_._1).flatMap { case (uid, rows) =>
      val sorted = rows.map(r => (r._2, r._3)).sortBy(_._1)
      // merge on touch: same session iff gap <= 30 min (pinned at sf0.1)
      val sessions = sorted.tail.foldLeft(Vector(Vector(sorted.head))) { (acc, e) =>
        if (e._1 - acc.last.last._1 <= gap) acc.init :+ (acc.last :+ e)
        else acc :+ Vector(e)
      }
      sessions.map(s => (uid, s.head._1, s.last._1 + gap, s.size.toLong, s.map(_._2).sum))
    }.filter(_._3 <= wm).toSet
    assert(got === expected)
    // the corpus actually exercises multi-event sessions
    assert(got.exists(_._4 > 1L))
  }

  test("MapState per-type profile equals the batch two-key aggregation (q237)") {
    // completes the Spark 4 state-type matrix: ValueState (q205), timers
    // (q206), ListState (q207), MapState (here) — streaming ≡ batch for a
    // per-user map of (count, cents) counters keyed by event type
    val got = graft.streaming.TwsMapStateStream.typeProfileStreaming(spark, sf).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3))).toSet
    val batch = graft.Tables.events(spark, sf)
      .select(col("user_id"), col("event_type"),
        expr("CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)").as("cents"))
      .groupBy(col("user_id"), col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("cents")).as("t"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3))).toSet
    assert(got === batch)
    // multiple types per user prove the state really is a per-key MAP
    val typesPerUser = got.groupBy(_._1).map(_._2.size)
    assert(typesPerUser.exists(_ > 1))
  }

  test("full outer join nests left outer nests inner, right-nulls below cutoff (q194)") {
    val full = graft.streaming.StreamJoinOps
      .clickAttributionFullOuterStreaming(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    val left = graft.streaming.StreamJoinOps
      .clickAttributionOuterStreaming(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    // the full outer result is exactly the left-outer result plus
    // right-only rows (purchase_id = -1)
    assert(full.filter(_._1 >= 0L) === left)
    val rightOnly = full.filter(_._1 === -1L)
    assert(rightOnly.nonEmpty)
    rightOnly.foreach { case (_, _, clickId, lag) =>
      assert(clickId >= 0L && lag === -1L)
    }
  }

  test("foreachBatch parquet sink appends across real microbatches, losslessly (q100)") {
    val sunk = graft.streaming.StreamJoinOps.streamParquetSink(spark, sf)
    val direct = Tables.events(spark, sf)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        countDistinct(col("user_id")).as("n_users"),
        sum(col("value").cast(org.apache.spark.sql.types.DecimalType(18, 2)))
          .cast("double").as("sum_value"))
    assert(sunk.exceptAll(direct).count() === 0)
    assert(direct.exceptAll(sunk).count() === 0)
    // provenance: all 3 staged landing files arrived as separate batches
    val batches = spark.read.parquet(sunk.inputFiles: _*)
      .select(col("batch_id")).distinct().count()
    assert(batches === 3L, s"expected 3 microbatches, got $batches")
  }

  test("per-run scratch dirs are unique per call and deleted at release (q100, q130)") {
    import org.apache.hadoop.fs.Path
    val fs = new Path(Staging.perRunRoot).getFileSystem(spark.sparkContext.hadoopConfiguration)
    def listed = Option(fs.globStatus(new Path(Staging.perRunRoot + "/graft_{dynpo,ssink}_*")))
      .getOrElse(Array.empty).map(_.getPath.toUri.getPath).toSet
    val before = listed
    val runs = Seq(EventOps.partitionOverwrite(spark, sf), EventOps.partitionOverwrite(spark, sf),
      graft.streaming.StreamJoinOps.streamParquetSink(spark, sf),
      graft.streaming.StreamJoinOps.streamParquetSink(spark, sf))
    val dirs = runs.map { df =>
      raw"/.*/graft_(dynpo|ssink)_[0-9a-f]+".r.findFirstIn(new Path(df.inputFiles.head).toUri.getPath)
        .getOrElse(fail(s"no per-run dir in ${df.inputFiles.head}"))
    }
    assert(dirs.distinct.size === 4, s"two calls on one data dir shared a per-run dir: $dirs")
    // the first call's frame still reads its own table after the second call ran
    assert(runs(0).collect().toSeq === runs(1).collect().toSeq)
    assert(runs(2).collect().toSeq === runs(3).collect().toSeq)
    dirs.foreach(d => assert(fs.exists(new Path(d)), s"$d missing before release"))
    Caches.releaseAll()
    dirs.foreach(d => assert(!fs.exists(new Path(d)), s"$d left behind after releaseAll"))
    assert((listed -- before).isEmpty, s"per-run dirs left behind: ${listed -- before}")
  }

  test("q311 and q207 stream their landing dir as three microbatches") {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent}
    import org.apache.spark.sql.streaming.StreamingQueryListener.QueryProgressEvent
    import org.scalatest.concurrent.Eventually._
    import org.scalatest.time.SpanSugar._
    import scala.jdk.CollectionConverters._
    // progress events of every session's streams reach the context's bus
    val dataBatches = new java.util.concurrent.ConcurrentLinkedQueue[Long]()
    val listener = new SparkListener {
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case p: QueryProgressEvent if p.progress.numInputRows > 0 =>
          dataBatches.add(p.progress.batchId)
        case _ =>
      }
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      for ((name, run) <- Seq[(String, () => org.apache.spark.sql.DataFrame)](
          "q311" -> (() => graft.streaming.EventsStream.kmvDistinctStreaming(spark, sf)),
          "q207" -> (() => graft.streaming.TwsLastKStream.lastKStreaming(spark, sf)))) {
        dataBatches.clear()
        assert(run().collect().nonEmpty)
        eventually(timeout(30.seconds), interval(100.millis)) {
          val n = dataBatches.asScala.toSeq.distinct.size
          assert(n === 3, s"$name ran $n microbatches with input rows")
        }
      }
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("CSV round trip is lossless for the projected events table (q92)") {
    val viaCsv = EventOps.csvRoundTrip(spark, sf)
    val direct = Tables.events(spark, sf)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        countDistinct(col("user_id")).as("n_users"),
        sum(col("value").cast(org.apache.spark.sql.types.DecimalType(18, 2)))
          .cast("double").as("sum_value"))
    assert(viaCsv.exceptAll(direct).count() === 0)
    assert(direct.exceptAll(viaCsv).count() === 0)
  }
}
