package perfbench

import java.nio.file.{Files, Path, Paths}
import org.apache.spark.sql.SparkSession
import scala.collection.mutable

/** One benchmark run in one JVM:
  * `perfbench.Main <workload> <seed> <seconds> <trace 0|1> <workDir> <cpus> <sfDir> <listTsv>`.
  * Writes `<workDir>/result.json`; `run.py` adds the DuckDB checks and
  * prints the result line.
  */
object Main {
  final case class Args(workload: String, seed: Long, seconds: Double, trace: Boolean,
                        work: Path, cpus: Int, sfDir: String, list: Path)

  def main(argv: Array[String]): Unit = {
    val a = Args(argv(0), argv(1).toLong, argv(2).toDouble, argv(3) == "1",
      Paths.get(argv(4)).toAbsolutePath, argv(5).toInt, argv(6), Paths.get(argv(7)))
    Trace.enabled = a.trace
    val run: Run = a.workload match {
      case "vacancy_daily"    => new DailyRun(a)
      case "registry_mix"     => new RegistryRun(a)
      case w => System.err.println(s"unknown workload $w"); sys.exit(2)
    }
    try run.execute()
    finally run.close()
    Files.writeString(a.work.resolve("result.json"), run.json)
    sys.exit(0)
  }

  /** The benchmark's session: `local[cpus]` with `cpus` shuffle partitions,
    * as in `graft.Bench`, with every scratch path inside the work dir.
    */
  def session(a: Args): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[${a.cpus}]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", a.cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", a.work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", a.work.resolve("warehouse").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}

/** Shared skeleton: set-up, untimed warm-up and checks, a closed loop of
  * timed operations, and (traced run only) the per-layer numbers.
  */
abstract class Run(val a: Main.Args) {
  val e2e = mutable.LinkedHashMap.empty[String, (Double, String)]
  val layers = mutable.LinkedHashMap.empty[String, (Double, String)]
  val summary = mutable.LinkedHashMap.empty[String, (Double, String)]
  val info = mutable.LinkedHashMap.empty[String, Any]
  val failures = mutable.ArrayBuffer.empty[String]
  var attempted = 0L

  /** Timed operations: (op id, start ns, end ns). */
  val ops = mutable.ArrayBuffer.empty[(Long, Long, Long)]
  var spark: SparkSession = _
  var listener: BenchListener = _
  var phases: PhaseListener = _

  /** Workload set-up that belongs in `setup_s` (besides the session). */
  def setupExtra(): Unit = ()
  def teardownExtra(): Unit = ()
  def prepare(): Unit
  def timed(): Unit
  def finish(): Unit = ()
  def close(): Unit = { teardownExtra(); if (spark != null) spark.stop() }

  def dir(name: String): Path = Files.createDirectories(a.work.resolve(name))

  /** Time spent making the workload's inputs, which set-up time excludes. */
  private var inputNs = 0L
  def input[T](f: => T): T = {
    val t0 = System.nanoTime()
    try f finally inputNs += System.nanoTime() - t0
  }

  /** Set-up time: JVM start to the first timed operation (session start,
    * a warm-up job, the workload's own set-up and its untimed warm-up),
    * less the time spent making inputs. Measured once: it is what a process
    * that runs the job once pays.
    */
  private def setup(): Unit = {
    spark = Main.session(a)
    spark.range(0, 200000, 1, a.cpus).selectExpr("id % 97 AS k").groupBy("k").count().collect()
    setupExtra()
    prepare()
    val jvmStart = Trace.fromMillis(java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime)
    e2e("setup_s") = ((System.nanoTime() - jvmStart - inputNs) / 1e9, "s")
    info("setup_input_s") = inputNs / 1e9
  }

  def timeOp(f: => Unit): Double = {
    val t0 = System.nanoTime()
    Trace.operation(f)
    val t1 = System.nanoTime()
    ops += ((Trace.op, t0, t1))
    (t1 - t0) / 1e9
  }

  /** Closed loop: the next operation starts when the previous one ends,
    * until `seconds` have passed and at least `minOps` ran.
    */
  def loop(minOps: Int)(op: Int => Unit): Double = {
    val t0 = System.nanoTime()
    var i = 0
    while ((System.nanoTime() - t0) / 1e9 < a.seconds || i < minOps) { op(i); i += 1 }
    (System.nanoTime() - t0) / 1e9
  }

  final def execute(): Unit = {
    info("work") = a.work.toString
    setup()
    var heap: HeapSampler = null
    if (a.trace) {
      listener = new BenchListener; phases = new PhaseListener
      spark.sparkContext.addSparkListener(listener)
      spark.listenerManager.register(phases)
      heap = new HeapSampler; heap.start()
    }
    val snap0 = snapshot()
    timed()
    if (a.trace) {
      org.apache.spark.perfbenchbridge.Drain(spark.sparkContext)
      layers("jvm.peak_heap_mb") = (heap.finish() / 1048576.0, "MB")
      sparkLayers(snap0, snapshot())
      selfTimes()
    }
    info("op_s") = ops.map(o => f"${(o._3 - o._2) / 1e9}%.3f").mkString(",")
    finish()
  }

  private def snapshot(): Map[String, Double] =
    if (listener == null) Map.empty
    else {
      org.apache.spark.perfbenchbridge.Drain(spark.sparkContext)
      val l = listener
      l.synchronized(phases.synchronized(Map(
        "stages" -> l.stages.toDouble, "tasks" -> l.tasks.toDouble, "failed" -> l.failedTasks.toDouble,
        "run" -> l.runMs / 1e3, "cpu" -> l.cpuNs / 1e9, "gc" -> l.gcMs / 1e3, "delay" -> l.delayMs / 1e3,
        "sw" -> l.shuffleWrite.toDouble, "sr" -> l.shuffleRead.toDouble, "fw" -> l.fetchWaitMs / 1e3,
        "spill" -> l.spill.toDouble, "in" -> l.inputBytes.toDouble, "out" -> l.outputBytes.toDouble,
        "analysis" -> phases.phaseMs("analysis") / 1e3,
        "optimization" -> phases.phaseMs("optimization") / 1e3,
        "planning" -> phases.phaseMs("planning") / 1e3)))
    }

  def nOps: Double = math.max(1, ops.size).toDouble
  def wallSeconds: Double = if (ops.isEmpty) 1.0 else (ops.last._3 - ops.head._2) / 1e9

  /** Jobs whose start falls inside a timed operation, by op id. */
  def jobsByOp: Map[Long, Seq[Job]] = {
    val js = listener.synchronized(listener.jobs.values.toSeq)
    ops.map { case (id, s, e) => id -> js.filter(j => j.start >= s && j.start <= e) }.toMap
  }

  private def sparkLayers(s0: Map[String, Double], s1: Map[String, Double]): Unit = {
    def d(k: String) = (s1(k) - s0(k)) / nOps
    val byOp = jobsByOp
    layers("spark.driver.analysis_s") = (d("analysis"), "s")
    layers("spark.driver.optimization_s") = (d("optimization"), "s")
    layers("spark.driver.planning_s") = (d("planning"), "s")
    layers("spark.driver.gap_s") = (ops.map { case (id, s, e) =>
      (e - s - Intervals.union(byOp(id).map(j => (j.start, if (j.end < 0) e else j.end)), s, e)) / 1e9
    }.sum / nOps, "s")
    layers("spark.scheduler.jobs") = (byOp.values.map(_.size).sum / nOps, "count")
    layers("spark.scheduler.stages") = (d("stages"), "count")
    layers("spark.scheduler.tasks") = (d("tasks"), "count")
    layers("spark.scheduler.task_delay_s") = (d("delay"), "s")
    layers("spark.scheduler.failed_tasks") = (d("failed"), "count")
    layers("spark.executor.run_s") = (d("run"), "s")
    layers("spark.executor.cpu_s") = (d("cpu"), "s")
    layers("spark.executor.gc_s") = (d("gc"), "s")
    layers("spark.executor.cores_busy_frac") = ((s1("run") - s0("run")) / (wallSeconds * a.cpus), "fraction")
    layers("spark.shuffle.write_bytes") = (d("sw"), "B")
    layers("spark.shuffle.read_bytes") = (d("sr"), "B")
    layers("spark.shuffle.fetch_wait_s") = (d("fw"), "s")
    layers("spark.shuffle.spill_bytes") = (d("spill"), "B")
    layers("spark.io.input_bytes") = (d("in"), "B")
    layers("spark.io.output_bytes") = (d("out"), "B")
    val lat = ops.map(o => (o._3 - o._2) / 1e9).toSeq
    layers("traced.op_p50_s") = (Intervals.quantile(lat, 0.5), "s")
    layers("traced.ops_per_s") = (ops.size / wallSeconds, "1/s")
  }

  /** Self time per span name: the span's duration minus the part covered
    * by its child spans, classifier calls and the Spark jobs started
    * inside it (a job belongs to the innermost span open at its start).
    */
  private def selfTimes(): Unit = {
    import scala.jdk.CollectionConverters._
    val timedOps = ops.map(_._1).toSet
    val calls = Trace.calls.asScala.filter(c => timedOps(c.op))
      .map(c => Span(Trace.newId(), "enrich.call", c.start, c.end, c.parent, c.op))
    val spans = Trace.spans.asScala.filter(s => timedOps(s.op)).toSeq ++ calls
    val byOp = jobsByOp
    val children = mutable.Map.empty[Long, mutable.ArrayBuffer[(Long, Long)]]
    spans.foreach(s => children.getOrElseUpdate(s.parent, mutable.ArrayBuffer.empty) += ((s.start, s.end)))
    val drv = spans.filter(_.name != "enrich.call")
    byOp.foreach { case (op, js) =>
      val inOp = drv.filter(_.op == op)
      js.foreach { j =>
        val holder = inOp.filter(s => s.start <= j.start && j.start <= s.end).sortBy(-_.start).headOption
        holder.foreach(h => children.getOrElseUpdate(h.id, mutable.ArrayBuffer.empty) +=
          ((j.start, if (j.end < 0) h.end else j.end)))
      }
    }
    val self = mutable.LinkedHashMap.empty[String, Double].withDefaultValue(0.0)
    spans.foreach { s =>
      val covered = children.get(s.id).map(c => Intervals.union(c, s.start, s.end)).getOrElse(0L)
      self(s.name) += (s.end - s.start - covered) / 1e9
    }
    SelfNames.foreach(n => layers(s"self.${n}_s") = (self(n) / nOps, "s"))
  }

  val SelfNames = Seq("op", "pipeline.discover", "pipeline.read_dedup", "pipeline.enrich_title",
    "pipeline.enrich_field", "pipeline.meta", "pipeline.sink", "enrich.call")

  def dirBytes(p: Path): Long = {
    val s = Files.walk(p)
    try s.filter(Files.isRegularFile(_)).filter(!_.getFileName.toString.startsWith("."))
      .mapToLong(Files.size(_)).sum()
    finally s.close()
  }

  def json: String = {
    val m = new com.fasterxml.jackson.databind.ObjectMapper()
    def metrics(x: mutable.LinkedHashMap[String, (Double, String)]) = {
      val o = new java.util.LinkedHashMap[String, Any]()
      x.foreach { case (k, (v, u)) =>
        val e = new java.util.LinkedHashMap[String, Any](); e.put("value", v); e.put("unit", u); o.put(k, e)
      }
      o
    }
    val root = new java.util.LinkedHashMap[String, Any]()
    root.put("end_to_end", metrics(e2e))
    root.put("per_layer", metrics(layers))
    root.put("summary", metrics(summary))
    root.put("attempted", attempted)
    root.put("failures", java.util.Arrays.asList(failures.toSeq: _*))
    val inf = new java.util.LinkedHashMap[String, Any]()
    info.foreach { case (k, v) => inf.put(k, v match {
      case s: Seq[_] => java.util.Arrays.asList(s: _*)
      case mm: Map[_, _] => val j = new java.util.LinkedHashMap[Any, Any](); mm.foreach(kv => j.put(kv._1, kv._2)); j
      case other => other
    }) }
    root.put("info", inf)
    m.writerWithDefaultPrettyPrinter().writeValueAsString(root)
  }

  /** Writes the traced run's spans (jobs and classifier calls included). */
  def writeSpans(): Unit = if (a.trace) {
    import scala.jdk.CollectionConverters._
    val sb = new StringBuilder
    Trace.spans.asScala.foreach(s =>
      sb.append(s"""{"id":${s.id},"name":"${s.name}","start_ns":${s.start},"end_ns":${s.end},"parent":${s.parent},"op":${s.op}}""").append('\n'))
    Trace.calls.asScala.foreach(c =>
      sb.append(s"""{"name":"enrich.call","role":"${c.role}","start_ns":${c.start},"end_ns":${c.end},"parent":${c.parent},"op":${c.op},"sent":${c.sent},"accepted":${c.accepted}}""").append('\n'))
    listener.synchronized(listener.jobs.values.foreach(j =>
      sb.append(s"""{"name":"spark.job","job":${j.id},"start_ns":${j.start},"end_ns":${j.end},"sql_execution":${j.execId}}""").append('\n')))
    Files.writeString(a.work.resolve("spans.jsonl"), sb.toString)
  }
}
