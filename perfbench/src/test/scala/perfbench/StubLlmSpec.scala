package perfbench

import graft.enrich.{Enrichment, HttpClassifier, HttpClassifierConfig}
import org.scalatest.funsuite.AnyFunSuite
import scala.concurrent.{Await, Future}
import scala.concurrent.ExecutionContext.Implicits.global
import scala.concurrent.duration._

/** The stub's truth and fault schedule depend only on (seed, key, attempt):
  * the same keys end with the same classes however they are batched,
  * ordered or run concurrently, so the success rates repeat exactly.
  */
class StubLlmSpec extends AnyFunSuite {
  private val keys = (new Gen.Daily(5)).day(0).map(_.title.trim).filter(_.nonEmpty).distinct

  private def outcome(stub: StubLlm, role: String, batch: Int, order: Seq[String], parallel: Boolean) = {
    stub.newEpoch()
    val c = new HttpClassifier(HttpClassifierConfig(stub.url(role), "m", "k"))
    val batches = order.grouped(batch).toSeq
    def one(b: Seq[String]) = Enrichment.classifyBatchWithRetry(c, b, maxRetries = 1,
      retryOther = role == StubLlm.Field)
    val res =
      if (parallel) Await.result(Future.sequence(batches.map(b => Future(one(b)))), 60.seconds).flatten
      else batches.flatMap(one)
    res.map(r => r.original -> (r.category, r.specialization)).toMap
  }

  test("final classes are independent of batch composition, order and concurrency") {
    val stub = new StubLlm(seed = 42, threads = 4, fixedMs = 0, perItemMs = 0)
    try {
      for (role <- Seq(StubLlm.Title, StubLlm.Field)) {
        val ref = outcome(stub, role, 15, keys, parallel = false)
        assert(outcome(stub, role, 4, keys.reverse, parallel = true) == ref)
        assert(outcome(stub, role, 10, new scala.util.Random(1).shuffle(keys), parallel = true) == ref)
        keys.foreach(k => assert(ref(k)._1 == StubLlm.expected(42, role, k)._1, s"$role $k"))
      }
      assert(stub.httpErrors.get > 0 && stub.dropped.get > 0 && stub.hallucinated.get > 0,
        "every fault kind fires on this key set")
    } finally stub.stop()
  }

  test("the fault schedule is a pure function of (seed, key, attempt)") {
    keys.foreach { k =>
      assert(Fault.at(1, StubLlm.Title, k, 0) == Fault.at(1, StubLlm.Title, k, 0))
      // a key dropped on its retry was dropped on its first try too
      if (Fault.at(1, StubLlm.Title, k, 1) == Fault.DropBoth)
        assert(Fault.at(1, StubLlm.Title, k, 0) == Fault.DropBoth)
      assert(Fault.at(1, StubLlm.Title, k, 1) != Fault.Http500)
    }
    assert(keys.map(Fault.of(1, StubLlm.Title, _)) != keys.map(Fault.of(2, StubLlm.Title, _)))
  }
}
