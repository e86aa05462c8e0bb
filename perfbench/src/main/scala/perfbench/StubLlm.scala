package perfbench

import com.sun.net.httpserver.{HttpExchange, HttpServer}
import graft.enrich.{Classified, Defaults, RuleBasedClassifier, Rules}
import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets.UTF_8
import java.util.concurrent.{ConcurrentHashMap, Executors, TimeUnit}
import java.util.concurrent.atomic.AtomicLong

/** The stub LLM's fault schedule. Every decision is a pure function of
  * (seed, role, key, attempt), where attempt is 0 the first time the stub
  * sees a key in an epoch and 1 on every later sighting. It never depends
  * on which other keys share a batch or on how many calls are in flight.
  *
  * Keys that are dropped on their retry are dropped on their first try too,
  * and HTTP 500s happen only on first tries. A key therefore ends with its
  * truth unless [[Fault.DropBoth]] hits it, whichever batch it rode in,
  * and even when Spark re-executes the classify stage.
  */
object Fault extends Enumeration {
  val Ok, DropBoth, DropFirst, Http500, Hallucinate = Value

  /** Share of keys never answered, per role. Together with the keys whose
    * truth is a default, they put the success rates near the reference's
    * published >=90% (titles) and >=75% (fields).
    */
  def dropBothRate(role: String): Double = if (role == StubLlm.Title) 0.09 else 0.15

  /** First-try faults, which the one retry recovers: a key dropped (8%),
    * its batch failing with HTTP 500 (1%), a hallucinated key added (3%).
    * The reference publishes no rates for these; they make every retry
    * path run on every day.
    */
  def of(seed: Long, role: String, key: String): Value = {
    val u = unit(seed, role, key)
    val d = dropBothRate(role)
    if (u < d) DropBoth
    else if (u < d + 0.08) DropFirst
    else if (u < d + 0.09) Http500
    else if (u < d + 0.12) Hallucinate
    else Ok
  }

  def at(seed: Long, role: String, key: String, attempt: Int): Value = of(seed, role, key) match {
    case DropBoth => DropBoth
    case f if attempt == 0 => f
    case _ => Ok
  }

  private def unit(seed: Long, role: String, key: String): Double = {
    var h = seed * 0x9E3779B97F4A7C15L ^ role.hashCode.toLong
    key.getBytes(UTF_8).foreach { b => h = (h ^ (b & 0xff)) * 0x100000001B3L }
    h ^= h >>> 33; h *= 0xff51afd7ed558ccdL; h ^= h >>> 33
    (h >>> 11).toDouble / (1L << 53).toDouble
  }
}

object StubLlm {
  val Title = "title"
  val Field = "field"

  def truth(role: String): RuleBasedClassifier =
    if (role == Title) Rules.referenceTitleClassifier else Rules.referenceFieldClassifier

  /** What `Enrichment.enrich` must end with for a non-blank trimmed key:
    * the stub's truth, or the default fill when the stub never answers it
    * acceptably (dropped twice, or 'Другое' under the field task's
    * `retryOther`).
    */
  def expected(seed: Long, role: String, key: String): (String, String) = {
    val t = truth(role).classifyOne(key)
    val failed = Fault.of(seed, role, key) == Fault.DropBoth ||
      (role == Field && t.category == Defaults.Other)
    if (failed) (Defaults.Unclassified, Defaults.Unclassified)
    else (t.category, if (t.specialization.nonEmpty) t.specialization else Defaults.Unclassified)
  }

  private def esc(s: String): String = s.flatMap {
    case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
    case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
  }

  /** YandexGPT completion envelope around the model text. */
  def envelope(text: String): String =
    s"""{"result":{"alternatives":[{"message":{"role":"assistant","text":"${esc(text)}"},""" +
      """"status":"ALTERNATIVE_STATUS_FINAL"}],"usage":{"totalTokens":"0"},"modelVersion":"stub"}}"""

  def reply(items: Seq[Classified]): String =
    items.map(c => s"""{"original": "${esc(c.original)}", "category": "${esc(c.category)}", """ +
      s""""specialization": "${esc(c.specialization)}"}""").mkString("[", ", ", "]")
}

/** In-process stub LLM on 127.0.0.1: `/title` and `/field` endpoints that
  * answer the production `HttpClassifier`'s requests with the YandexGPT
  * envelope after a fixed per-call service time plus a per-item term.
  * Truth comes from `Rules.referenceTitleClassifier` /
  * `referenceFieldClassifier`; faults follow [[Fault]].
  */
final class StubLlm(seed: Long, threads: Int, val fixedMs: Double, val perItemMs: Double) {
  import StubLlm._

  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
  // without TCP_NODELAY, small replies wait out the peer's delayed ACK (~40 ms)
  System.setProperty("sun.net.httpserver.nodelay", "true")
  private val pool = Executors.newFixedThreadPool(threads)
  private val server = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 64)
  @volatile private var seen = new ConcurrentHashMap[String, java.lang.Boolean]()

  val calls, keysSent, retriedKeys, httpErrors, dropped, hallucinated = new AtomicLong

  Seq(Title, Field).foreach { role =>
    server.createContext("/" + role, (ex: HttpExchange) => handle(role, ex))
  }
  server.setExecutor(pool)
  server.start()

  def url(role: String): String = s"http://127.0.0.1:${server.getAddress.getPort}/$role"

  /** Starts a new epoch: every key's next sighting is a first try again. */
  def newEpoch(): Unit = seen = new ConcurrentHashMap[String, java.lang.Boolean]()

  def stop(): Unit = {
    server.stop(0)
    pool.shutdownNow()
    pool.awaitTermination(10, TimeUnit.SECONDS)
  }

  private def handle(role: String, ex: HttpExchange): Unit = {
    try {
      val body = new String(ex.getRequestBody.readAllBytes(), UTF_8)
      val text = mapper.readTree(body).path("messages").path(0).path("text").asText()
      val items = text.split("Items: ", 2)(1).split(", ").toSeq
      val epoch = seen
      val faults = items.map { k =>
        val first = epoch.putIfAbsent(role + "\u0000" + k, java.lang.Boolean.TRUE) == null
        if (!first) retriedKeys.incrementAndGet()
        k -> Fault.at(seed, role, k, if (first) 0 else 1)
      }
      calls.incrementAndGet()
      keysSent.addAndGet(items.size.toLong)
      val sleepNs = ((fixedMs + perItemMs * items.size) * 1e6).toLong
      Thread.sleep(sleepNs / 1000000L, (sleepNs % 1000000L).toInt)
      val (code, out) =
        if (faults.exists(_._2 == Fault.Http500)) {
          httpErrors.incrementAndGet()
          (500, """{"error":{"grpcCode":13,"httpCode":500,"message":"Internal error"}}""")
        } else {
          val kept = faults.collect { case (k, f) if f != Fault.DropBoth && f != Fault.DropFirst => k }
          dropped.addAndGet((items.size - kept.size).toLong)
          val extra = faults.collect { case (k, Fault.Hallucinate) =>
            hallucinated.incrementAndGet()
            Classified(s"__hx_${Integer.toHexString(k.hashCode)}", "Галлюцинация", "")
          }
          val answers = kept.map(truth(role).classifyOne) ++ extra
          (200, envelope("```json\n" + reply(answers) + "\n```"))
        }
      val bytes = out.getBytes(UTF_8)
      ex.getResponseHeaders.add("Content-Type", "application/json")
      ex.sendResponseHeaders(code, bytes.length.toLong)
      ex.getResponseBody.write(bytes)
    } catch {
      case scala.util.control.NonFatal(e) =>
        val bytes = e.toString.getBytes(UTF_8)
        ex.sendResponseHeaders(400, bytes.length.toLong)
        ex.getResponseBody.write(bytes)
    } finally ex.close()
  }
}
