package perfbench

import graft.enrich.{Classifier, HttpClassifier, HttpClassifierConfig}
import java.nio.file.Files
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

/** vacancy_daily: one new drop lands per simulated day and the pipeline
  * runs over the latest 4 drops, classifying through the production
  * `HttpClassifier` against the in-process stub LLM.
  */
final class DailyRun(args: Main.Args) extends Run(args) {
  /** Stub service time: 20 ms per call, the per-call figure the workload's
    * specification measured; 0.5 ms per item is an assumption (a longer
    * reply takes longer to generate), as no figure is published.
    */
  val FixedMs = 20.0
  val PerItemMs = 0.5
  val Window = 4
  /** First timed day: three history days, then two warm-up days. */
  val First = Window + 1
  private var stub: StubLlm = _
  private val gen = new Gen.Daily(a.seed)
  private lazy val landing = dir("landing")
  private lazy val staging = dir("staging")
  private lazy val out = dir("out")
  private var title: Classifier = _
  private var field: Classifier = _
  private val days = mutable.ArrayBuffer.empty[Int]

  private def http(role: String): Classifier = {
    val c = new HttpClassifier(HttpClassifierConfig(stub.url(role), "gpt://bench/yandexgpt-lite/rc", "bench-key"))
    if (a.trace) TracedClassifier(c, role, retryOther = role == StubLlm.Field) else c
  }

  override def setupExtra(): Unit = {
    stub = new StubLlm(a.seed, a.cpus, FixedMs, PerItemMs)
    title = http(StubLlm.Title); field = http(StubLlm.Field)
    title.classify(Seq("Python разработчик")); stub.newEpoch()
  }
  override def teardownExtra(): Unit = if (stub != null) { stub.stop(); stub = null }

  private def land(d: Int): Unit =
    input(Gen.land(landing, Gen.fileName(d), Gen.render(gen.day(d)), staging))

  private def runDay(d: Int, timed: Boolean): Unit = {
    stub.newEpoch()
    land(d)
    attempted += 1
    def day(): Unit =
      try {
        Compose.pipeline(spark, landing.toString, out.resolve(f"day_$d%03d").toString, Window, title, field)
        days += d // only a day that completed has an output to check
      } catch { case NonFatal(e) => failures += s"day $d: ${e.toString.take(300)}" }
    if (timed) timeOp(day()) else day()
    spark.catalog.clearCache()
    graft.ops.Caches.releaseAll()
  }

  def prepare(): Unit = {
    (0 until Window - 1).foreach(land)
    (Window - 1 until First).foreach(runDay(_, timed = false)) // warm-up days, checked
  }

  def timed(): Unit = {
    val s0 = Seq(stub.calls.get, stub.keysSent.get, stub.retriedKeys.get, stub.httpErrors.get)
    // at least 4 days: with a 3-day minimum, whether a fourth day fit in
    // the run split the seeds into two groups 12% apart
    val wall = loop(minOps = 4)(i => runDay(First + i, timed = true))
    val s1 = Seq(stub.calls.get, stub.keysSent.get, stub.retriedKeys.get, stub.httpErrors.get)
    val lat = ops.map(o => (o._3 - o._2) / 1e9).toSeq
    val rowsPerDay = ops.indices.map(i => windowRows(First + i).size.toDouble)
    e2e("op_p50_s") = (Intervals.quantile(lat, 0.5), "s")
    e2e("ops_per_s") = (ops.size / wall, "1/s")
    summary("day_p50_s") = (Intervals.quantile(lat, 0.5), "s")
    summary("vacancies_per_s") = (rowsPerDay.sum / wall, "rows/s")
    if (a.trace) {
      val dStub = s1.zip(s0).map { case (x, y) => (x - y) / nOps }
      enrichLayers(dStub)
      val rowsOut = ops.indices.map(i => windowRows(First + i).map(_.id).distinct.size.toDouble).sum / nOps
      val ratio = ops.indices.map(i => dirBytes(out.resolve(f"day_${First + i}%03d")).toDouble).sum /
        ops.indices.map(i => windowBytes(First + i).toDouble).sum
      pipelineLayers(callsFromSpans(), rowsPerDay.sum / nOps, rowsOut, ratio)
    }
    info("stub_fixed_ms") = FixedMs
    info("stub_per_item_ms") = PerItemMs
  }

  private val Calls = Seq("discover", "read_dedup", "enrich_title", "enrich_field", "sink")

  /** Per-call pipeline numbers: the wall of each public call's span. */
  private def callsFromSpans(): Map[String, Double] = {
    val timedOps = ops.map(_._1).toSet
    val spans = Trace.spans.asScala.filter(s => timedOps(s.op)).toSeq
    Calls.map(c => c -> spans.filter(_.name == s"pipeline.$c").map(s => (s.end - s.start) / 1e9).sum / nOps).toMap
  }

  private def pipelineLayers(calls: Map[String, Double], rowsIn: Double, rowsOut: Double, bytesRatio: Double): Unit = {
    Calls.foreach(c => layers(s"pipeline.${c}_s") = (calls(c), "s"))
    layers("pipeline.rows_in") = (rowsIn, "count")
    layers("pipeline.rows_out") = (rowsOut, "count")
    layers("pipeline.sink_bytes_per_input_byte") = (bytesRatio, "ratio")
  }

  private def windowRows(d: Int): Seq[Gen.Row] = (math.max(0, d - Window + 1) to d).flatMap(gen.day)
  private def windowBytes(d: Int): Long =
    (math.max(0, d - Window + 1) to d).map(i => Files.size(landing.resolve(Gen.fileName(i)))).sum

  private def enrichLayers(dStub: Seq[Double]): Unit = {
    val timedOps = ops.map(_._1).toSet
    def opOf(k: String) = k.takeWhile(_ != '\u0000').toLong
    val sent = Trace.sentKeys.asScala.filter(k => timedOps(opOf(k)))
    val accepted = Trace.acceptedKeys.asScala.filter(k => timedOps(opOf(k)))
    val calls = Trace.calls.asScala.filter(c => timedOps(c.op)).toSeq
    val durs = calls.map(c => (c.end - c.start) / 1e6)
    val busy = Intervals.union(calls.map(c => (c.start, c.end))) / 1e9
    layers("enrich.distinct_keys") = (sent.size / nOps, "count")
    layers("enrich.calls") = (dStub(0), "count")
    layers("enrich.keys_sent") = (dStub(1), "count")
    layers("enrich.useful_ratio") = (calls.map(_.accepted).sum.toDouble / math.max(1, calls.map(_.sent).sum), "ratio")
    layers("enrich.retried_keys") = (dStub(2), "count")
    layers("enrich.default_filled_keys") = ((sent.size - accepted.size) / nOps, "count")
    layers("enrich.http_errors") = (dStub(3), "count")
    layers("enrich.call_p50_ms") = (Intervals.quantile(durs, 0.5), "ms")
    layers("enrich.call_p90_ms") = (Intervals.quantile(durs, 0.9), "ms")
    layers("enrich.busy_s") = (busy / nOps, "s")
    layers("enrich.inflight_mean") = (if (busy > 0) durs.sum / 1e3 / busy else 0.0, "count")
  }

  override def finish(): Unit = {
    // check material: every processed day, its input window, and the
    // expected category of every non-blank key (stub truth or default fill)
    info("days") = days.map(d => Map("day" -> d, "out" -> out.resolve(f"day_$d%03d").toString,
      "inputs" -> (math.max(0, d - Window + 1) to d).map(i => landing.resolve(Gen.fileName(i)).toString).asJava).asJava).toSeq
    val keys = days.flatMap(windowRows).distinct
    val sb = new StringBuilder("role\tkey\tcategory\tspecialization\n")
    def put(role: String, raw: String): Unit = {
      val k = raw.trim
      if (k.nonEmpty) { val (c, s) = StubLlm.expected(a.seed, role, k); sb.append(s"$role\t$k\t$c\t$s\n") }
    }
    keys.map(_.title).distinct.foreach(put(StubLlm.Title, _))
    keys.map(_.field).distinct.foreach(put(StubLlm.Field, _))
    Files.writeString(a.work.resolve("expected.tsv"), sb.toString)
    info("expected") = a.work.resolve("expected.tsv").toString
    info("rate_days") = days.take(4).toSeq
    writeSpans()
  }
}

/** registry_mix: a fixed list of `SparkEntry.queries`, run in a
  * seed-shuffled order per pass (module queries three times), each result
  * fully materialised through the parquet sink (every output column
  * evaluated and encoded; the files are the oracle check's input),
  * `Caches.releaseAll()` between queries, as `Bench` does. The named
  * queries are timed on their first execution in the run: a warm-up of them
  * would double the run's cost.
  */
final class RegistryRun(args: Main.Args) extends Run(args) {
  /** (query, module, named) from the committed list. */
  val list: Seq[(String, String, Boolean)] = Files.readAllLines(a.list).asScala.toSeq
    .filter(l => l.nonEmpty && !l.startsWith("#"))
    .map(_.split("\t")).map(f => (f(0), f(1), f(2) == "named"))
  private val queries = graft.SparkEntry.queries
  private lazy val checkDir = dir("registry")
  private val failed = mutable.Set.empty[String]

  /** Untimed warm-up: each module query of the list once (the pass's
    * median then reads warm executions of them, whatever the seed's order)
    * and one streaming query for the streaming machinery. The named queries
    * stay cold: their first execution is what the pass measures.
    */
  private def warmUp(): Unit = {
    list.filterNot(_._3).foreach { case (q, _, _) =>
      // a query that throws here throws again, and is counted, in the pass
      try queries(q)(spark, a.sfDir).write.mode("overwrite").parquet(a.work.resolve("warmup").resolve(q).toString)
      catch { case scala.util.control.NonFatal(_) => }
      graft.ops.Caches.releaseAll()
    }
    val src = a.work.resolve("warmup-stream").toString
    spark.range(100).write.mode("overwrite").parquet(src)
    spark.readStream.schema(spark.read.parquet(src).schema).parquet(src).groupBy().count()
      .writeStream.outputMode("complete").format("memory").queryName("perfbench_warmup")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start().awaitTermination()
  }

  def prepare(): Unit = {
    warmUp()
    val oracle = new java.util.LinkedHashMap[String, String]()
    list.foreach { case (q, _, _) => oracle.put(q, graft.SparkEntry.oracleSql(q)) }
    Files.writeString(a.work.resolve("oracle_sql.json"),
      new com.fasterxml.jackson.databind.ObjectMapper().writeValueAsString(oracle))
  }

  def timed(): Unit = {
    val byQuery = mutable.ArrayBuffer.empty[(String, Long, Double)]
    val passWalls = mutable.ArrayBuffer.empty[Double]
    var p = 0
    val wall = loop(minOps = 1) { _ =>
      val rnd = new scala.util.Random(a.seed * 1000003L + p)
      val t0 = System.nanoTime()
      // module queries three times each: the median then falls among
      // their (warm) executions instead of on whichever single query ranks
      // in the middle
      rnd.shuffle(list.flatMap(x => if (x._3) Seq(x) else Seq.fill(3)(x))).foreach { case (q, _, _) =>
        attempted += 1
        spark.sparkContext.setJobGroup(q, q)
        val t = timeOp {
          try queries(q)(spark, a.sfDir).write.mode("overwrite").parquet(checkDir.resolve(q).toString)
          catch { case scala.util.control.NonFatal(e) => failed += q; failures += s"$q: ${e.toString.take(300)}" }
        }
        spark.sparkContext.clearJobGroup()
        byQuery += ((q, Trace.op, t))
        graft.ops.Caches.releaseAll()
      }
      passWalls += (System.nanoTime() - t0) / 1e9
      p += 1
    }
    val lat = byQuery.map(_._3).toSeq
    e2e("op_p50_s") = (Intervals.quantile(lat, 0.5), "s")
    e2e("ops_per_s") = (lat.size / wall, "1/s")
    summary("query_p50_s") = (Intervals.quantile(lat, 0.5), "s")
    summary("query_p90_s") = (Intervals.quantile(lat, 0.9), "s")
    summary("mix_wall_s") = (Intervals.quantile(passWalls.toSeq, 0.5), "s")
    info("query_samples") = lat.size
    info("passes") = passWalls.size
    info("failed_queries") = failed.toSeq.sorted
    info("query_s") = byQuery.groupBy(_._1).map { case (q, xs) => q -> Intervals.quantile(xs.map(_._3).toSeq, 0.5) }
    info("executions") = byQuery.groupBy(_._1).map { case (q, xs) => q -> xs.size }
    if (a.trace) {
      val byOp = jobsByOp
      val module = list.map(x => x._1 -> x._2).toMap
      list.map(_._2).distinct.foreach { m =>
        val mine = byQuery.filter(x => module(x._1) == m)
        layers(s"$m.s") = (mine.map(_._3).sum / passWalls.size, "s")
        layers(s"$m.jobs") = (mine.map(x => byOp(x._2).size).sum.toDouble / passWalls.size, "count")
      }
      list.filter(_._3).foreach { case (q, _, _) =>
        val mine = byQuery.filter(_._1 == q).map(_._3)
        layers(s"registry.${q.takeWhile(_ != '_')}.s") = (mine.sum / math.max(1, mine.size), "s")
      }
    }
    writeSpans()
  }
}
