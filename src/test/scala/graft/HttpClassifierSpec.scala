package graft

import org.scalatest.funsuite.AnyFunSuite
import com.sun.net.httpserver.{HttpExchange, HttpHandler, HttpServer}
import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets.UTF_8

import graft.enrich._

/** End-to-end exercise of the production HTTP classifier against a LOCAL
  * stub server (com.sun.net.httpserver, 127.0.0.1, ephemeral port — zero
  * egress): the zero-egress environment excuses the network, not the
  * request/parse/retry plumbing. The stub replays the reference's response
  * shapes (dag/vacancy_pipline_gpt_rerty.py:224-278): the YandexGPT
  * completion ENVELOPE (`result.alternatives[0].message.text`), a
  * backtick-fenced ```json array, a prose-wrapped embedded array, a
  * truncated/unparseable reply, a partial reply that forces the retry lane,
  * a hallucinated key the guard must drop, and a plain 500.
  */
class HttpClassifierSpec extends AnyFunSuite {

  /** YandexGPT-shaped completion envelope around a model text. */
  private def envelope(text: String): String = {
    val esc = text.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
      case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
    }
    s"""{"result":{"alternatives":[{"message":{"role":"assistant","text":"$esc"},"status":"ALTERNATIVE_STATUS_FINAL"}],"usage":{"totalTokens":"42"}}}"""
  }

  /** The asked items, recovered from the request body the way the prompt
    * embeds them (buildPrompt joins with ", " after "Items: ").
    */
  private def askedItems(body: String): Seq[String] = {
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val text = mapper.readTree(body).path("messages").path(0).path("text").asText()
    text.split("Items: ", 2)(1).split(", ").toSeq
  }

  private def arrayFor(items: Seq[String]): String =
    items.map(i => s"""{"original": "$i", "category": "Cat_$i", "specialization": "Spec_$i"}""")
      .mkString("[", ", ", "]")

  private def withServer(handler: HttpExchange => (Int, String))(f: String => Unit): Unit = {
    val server = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 0)
    server.createContext("/", new HttpHandler {
      override def handle(ex: HttpExchange): Unit = {
        val (code, body) = handler(ex)
        val bytes = body.getBytes(UTF_8)
        ex.getResponseHeaders.add("Content-Type", "application/json")
        ex.sendResponseHeaders(code, bytes.length)
        ex.getResponseBody.write(bytes)
        ex.close()
      }
    })
    server.start()
    try f(s"http://127.0.0.1:${server.getAddress.getPort}/")
    finally server.stop(0)
  }

  private def cfg(endpoint: String) = HttpClassifierConfig(
    endpoint = endpoint, model = "gpt://folder/model/rc", apiKey = "test-key")

  test("envelope + backtick-fenced reply parses; auth/body shape matches the reference") {
    var seenAuth: String = null
    var seenBody: String = null
    withServer { ex =>
      seenAuth = ex.getRequestHeaders.getFirst("Authorization")
      seenBody = new String(ex.getRequestBody.readAllBytes(), UTF_8)
      val items = askedItems(seenBody)
      (200, envelope("```json\n" + arrayFor(items) + "\n```"))
    } { url =>
      val c = new HttpClassifier(cfg(url))
      val out = c.classify(Seq("alpha", "beta"))
      assert(out === Seq(
        Classified("alpha", "Cat_alpha", "Spec_alpha"),
        Classified("beta", "Cat_beta", "Spec_beta")))
    }
    assert(seenAuth === "Api-Key test-key")
    // the request body is the reference's completion call: modelUri,
    // temperature 0.3, maxTokens, one user message carrying the joined batch
    assert(seenBody.contains(""""modelUri":"gpt://folder/model/rc""""))
    assert(seenBody.contains(""""temperature":0.3"""))
    assert(seenBody.contains("Items: alpha, beta"))
  }

  test("prose-wrapped reply falls back to the embedded-array regex (dag:260-265)") {
    withServer { ex =>
      val items = askedItems(new String(ex.getRequestBody.readAllBytes(), UTF_8))
      (200, envelope("Вот результат классификации:\n" + arrayFor(items) + "\nНадеюсь, это поможет!"))
    } { url =>
      val out = new HttpClassifier(cfg(url)).classify(Seq("gamma"))
      assert(out === Seq(Classified("gamma", "Cat_gamma", "Spec_gamma")))
    }
  }

  test("without envelope extraction the alternatives array would be misread: bare-array bodies still pass through") {
    // a simpler (non-YandexGPT) endpoint returning the array AS the body
    withServer { ex =>
      val items = askedItems(new String(ex.getRequestBody.readAllBytes(), UTF_8))
      (200, arrayFor(items))
    } { url =>
      val out = new HttpClassifier(cfg(url)).classify(Seq("delta"))
      assert(out === Seq(Classified("delta", "Cat_delta", "Spec_delta")))
    }
  }

  test("refusal envelope (result present, no textual message.text) → empty reply lane, never the raw envelope") {
    // an alternate-status envelope: `result` exists but alternatives[0] has
    // no message.text — the reference raises KeyError here (dag:246) and
    // lands in the retry lane; feeding the RAW envelope to parseScala would
    // let the embedded-array regex latch onto the envelope's own
    // `alternatives` array and emit wrong-field Classified rows
    withServer { ex =>
      ex.getRequestBody.readAllBytes()
      (200, """{"result":{"alternatives":[{"status":"ALTERNATIVE_STATUS_CONTENT_FILTER"}],"usage":{"totalTokens":"7"}}}""")
    } { url =>
      val c = new HttpClassifier(cfg(url))
      assert(c.classify(Seq("zeta")) === Nil)
      val out = Enrichment.classifyBatchWithRetry(c, Seq("zeta"), maxRetries = 1, retryOther = false)
      assert(out === Seq(Classified("zeta", Defaults.Unclassified, "")))
    }
  }

  test("truncated reply → empty parse → retry → stub fallback (dag:269-278)") {
    var calls = 0
    withServer { ex =>
      ex.getRequestBody.readAllBytes()
      calls += 1
      (200, envelope("""[{"original": "epsilon", "cate"""))
    } { url =>
      val c = new HttpClassifier(cfg(url))
      assert(c.classify(Seq("epsilon")) === Nil)
      val out = Enrichment.classifyBatchWithRetry(c, Seq("epsilon"), maxRetries = 1, retryOther = false)
      assert(out === Seq(Classified("epsilon", Defaults.Unclassified, "")))
    }
    // classifyBatchWithRetry must have actually retried before stubbing
    assert(calls === 3) // 1 direct + 2 attempts inside the retry loop
  }

  test("partial first reply + hallucinated key: retry recovers, guard drops the invention (dag:283-318, :590-603)") {
    var calls = 0
    withServer { ex =>
      val items = askedItems(new String(ex.getRequestBody.readAllBytes(), UTF_8))
      calls += 1
      if (calls == 1)
        // drop the first asked item, invent one nobody asked for
        (200, envelope(arrayFor(items.drop(1) :+ "__hallucinated__")))
      else
        (200, envelope(arrayFor(items)))
    } { url =>
      val c = new HttpClassifier(cfg(url))
      val out = Enrichment.classifyBatchWithRetry(c, Seq("zeta", "eta"), maxRetries = 1, retryOther = false)
      assert(out === Seq(
        Classified("zeta", "Cat_zeta", "Spec_zeta"),
        Classified("eta", "Cat_eta", "Spec_eta")))
      assert(!out.exists(_.original == "__hallucinated__"))
    }
    assert(calls === 2)
  }

  test("HTTP 5xx is an empty reply, then the stub lane (dag:302-307)") {
    withServer { ex =>
      ex.getRequestBody.readAllBytes()
      (500, """{"error":"internal"}""")
    } { url =>
      val c = new HttpClassifier(cfg(url))
      assert(c.classify(Seq("theta")) === Nil)
      val out = Enrichment.classifyBatchWithRetry(c, Seq("theta"), maxRetries = 1, retryOther = false)
      assert(out === Seq(Classified("theta", Defaults.Unclassified, "")))
    }
  }

  // The name predates the driver-side window: the classifier calls now run
  // from Enrichment's bounded window of driver threads, not from executors.
  test("end-to-end: Enrichment.enrich drives the HTTP classifier from executors (batched, map-back, default fill)") {
    import TestSpark._
    import spark.implicits._
    import org.apache.spark.sql.functions._
    withServer { ex =>
      val items = askedItems(new String(ex.getRequestBody.readAllBytes(), UTF_8))
      (200, envelope("```json\n" + arrayFor(items) + "\n```"))
    } { url =>
      val df = Seq("dev", "qa", "dev", " ", "ops").toDF("title")
      val out = Enrichment.enrich(df, "title", new HttpClassifier(cfg(url)), "category")
        .groupBy(col("category")).count()
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(out === Map(
        "Cat_dev" -> 2L, "Cat_qa" -> 1L, "Cat_ops" -> 1L,
        Defaults.NotSpecified -> 1L))
    }
  }
}
