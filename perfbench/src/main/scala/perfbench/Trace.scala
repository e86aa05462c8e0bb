package perfbench

import graft.enrich.{Classified, Classifier, Defaults}
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener
import scala.collection.mutable

/** A span: one timed interval at a layer boundary. Times are
  * `System.nanoTime`; `op` is the operation (day, pass or query execution)
  * the span belongs to.
  */
final case class Span(id: Long, name: String, start: Long, end: Long, parent: Long, op: Long)

/** In-memory span and counter store for the traced run. Nothing here is
  * touched when tracing is off: the untraced run calls the program directly.
  */
object Trace {
  @volatile var enabled = false
  private val ids = new AtomicLong
  val spans = new ConcurrentLinkedQueue[Span]()
  @volatile var op = 0L
  @volatile var current = 0L

  /** Converts listener-event epoch millis onto the nanoTime clock. */
  val nanoOffset: Long = System.currentTimeMillis() * 1000000L - System.nanoTime()
  def fromMillis(ms: Long): Long = ms * 1000000L - nanoOffset

  def newId(): Long = ids.incrementAndGet()

  def span[T](name: String)(f: => T): T =
    if (!enabled) f
    else {
      val id = newId(); val parent = current
      current = id
      val t0 = System.nanoTime()
      try f
      finally {
        current = parent
        spans.add(Span(id, name, t0, System.nanoTime(), parent, op))
      }
    }

  /** A top-level operation span; sets the op id its children inherit. */
  def operation[T](f: => T): T =
    if (!enabled) f
    else { op = newId(); current = 0L; span("op")(f) }

  // classifier-call records: (role, start, end, batch size, accepted)
  final case class Call(role: String, start: Long, end: Long, sent: Int, accepted: Int, parent: Long, op: Long)
  val calls = new ConcurrentLinkedQueue[Call]()
  val sentKeys = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
  val acceptedKeys = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
}

/** Benchmark-side decorator around the production classifier: a span per
  * call, plus which keys were sent and which answers `Enrichment` accepts
  * (asked, not 'Не определена', and not 'Другое' under `retryOther`).
  */
final case class TracedClassifier(inner: Classifier, role: String, retryOther: Boolean) extends Classifier {
  override def classify(batch: Seq[String]): Seq[Classified] = {
    val parent = Trace.current; val op = Trace.op
    val t0 = System.nanoTime()
    var accepted = 0
    try {
      val out = inner.classify(batch)
      val asked = batch.toSet
      val ok = out.filter(c => asked.contains(c.original) && c.category != Defaults.Unclassified &&
        !(retryOther && c.category == Defaults.Other)).map(_.original).distinct
      accepted = ok.size
      ok.foreach(k => Trace.acceptedKeys.add(s"$op\u0000$role\u0000$k"))
      out
    } finally {
      batch.foreach(k => Trace.sentKeys.add(s"$op\u0000$role\u0000$k"))
      Trace.calls.add(Trace.Call(role, t0, System.nanoTime(), batch.size, accepted, parent, op))
    }
  }
}

/** Job, stage and task tallies for the traced run. */
final case class Job(id: Int, start: Long, var end: Long, execId: Long)

final class BenchListener extends SparkListener {
  val jobs = mutable.LinkedHashMap.empty[Int, Job]
  var stages, tasks, failedTasks = 0L
  var runMs, cpuNs, gcMs, delayMs = 0L
  var shuffleWrite, shuffleRead, fetchWaitMs, spill, inputBytes, outputBytes = 0L

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val exec = Option(e.properties).flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
      .map(_.toLong).getOrElse(-1L)
    jobs(e.jobId) = Job(e.jobId, Trace.fromMillis(e.time), -1L, exec)
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.end = Trace.fromMillis(e.time))
  }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized { stages += 1 }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    tasks += 1
    if (e.reason != org.apache.spark.Success) failedTasks += 1
    val m = e.taskMetrics
    if (m != null) {
      runMs += m.executorRunTime; cpuNs += m.executorCpuTime; gcMs += m.jvmGCTime
      delayMs += math.max(0L, e.taskInfo.duration - m.executorRunTime - m.executorDeserializeTime -
        m.resultSerializationTime - e.taskInfo.gettingResultTime)
      shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      shuffleRead += m.shuffleReadMetrics.totalBytesRead
      fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
      spill += m.memoryBytesSpilled + m.diskBytesSpilled
      inputBytes += m.inputMetrics.bytesRead
      outputBytes += m.outputMetrics.bytesWritten
    }
  }
}

/** `QueryExecution.tracker` phase times of every finished action. */
final class PhaseListener extends QueryExecutionListener {
  val phaseMs = mutable.Map.empty[String, Long].withDefaultValue(0L)
  private def add(qe: QueryExecution): Unit = synchronized {
    qe.tracker.phases.foreach { case (k, v) => phaseMs(k) += v.durationMs }
  }
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = add(qe)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = add(qe)
}

/** Samples used heap every 20 ms while tracing. */
final class HeapSampler extends Thread("perfbench-heap") {
  setDaemon(true)
  @volatile var peak = 0L
  @volatile private var running = true
  override def run(): Unit = while (running) {
    val rt = Runtime.getRuntime
    peak = math.max(peak, rt.totalMemory() - rt.freeMemory())
    Thread.sleep(20)
  }
  def finish(): Long = { running = false; join(); peak }
}

object Intervals {
  /** Total length covered by the union of intervals, clipped to [lo, hi]. */
  def union(iv: Iterable[(Long, Long)], lo: Long = Long.MinValue, hi: Long = Long.MaxValue): Long = {
    val xs = iv.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }.filter(x => x._2 > x._1)
      .toSeq.sortBy(_._1)
    var total = 0L; var cs = Long.MinValue; var ce = Long.MinValue
    xs.foreach { case (a, b) =>
      if (a > ce) { if (ce > cs) total += ce - cs; cs = a; ce = b }
      else ce = math.max(ce, b)
    }
    if (ce > cs) total += ce - cs
    total
  }

  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) 0.0
    else {
      // linear interpolation between closest ranks
      val s = xs.sorted; val pos = q * (s.size - 1)
      val lo = math.floor(pos).toInt; val hi = math.ceil(pos).toInt
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
}
