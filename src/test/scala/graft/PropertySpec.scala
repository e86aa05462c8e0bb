package graft

import graft.enrich._
import org.scalacheck.{Gen, Properties}
import org.scalacheck.Prop.forAll

/** Property-based invariants (SURVEY.md §5): totality and robustness of the
  * pure enrichment pieces over arbitrary inputs.
  */
object EnrichmentProps extends Properties("Enrichment") {

  property("rule classifier is total: every string gets a non-empty category") =
    forAll { (s: String) =>
      val c = Rules.partNameClassifier.classifyOne(s)
      c.original == s && c.category.nonEmpty
    }

  property("classifyBatchWithRetry covers every input exactly once, in order") =
    forAll(Gen.listOf(Gen.alphaNumStr)) { batch =>
      val out = Enrichment.classifyBatchWithRetry(
        Rules.partNameClassifier, batch, maxRetries = 1, retryOther = false)
      out.map(_.original) == batch
    }

  property("retry with an always-failing classifier stubs everything, drops nothing") =
    forAll(Gen.listOf(Gen.alphaNumStr)) { batch =>
      val broken = new Classifier { def classify(b: Seq[String]) = Nil }
      val out = Enrichment.classifyBatchWithRetry(broken, batch, maxRetries = 2, retryOther = true)
      out.map(_.original) == batch && out.forall(_.category == Defaults.Unclassified)
    }

  property("SafeJsonParse never throws on arbitrary junk") =
    forAll { (s: String) =>
      SafeJsonParse.parseScala(s) != null
    }

  property("SafeJsonParse recovers a valid array wrapped in arbitrary prose") =
    forAll(Gen.alphaStr, Gen.alphaStr) { (pre, post) =>
      // prose must not itself contain a JSON-array-of-objects (alphaStr can't)
      val wrapped = s"""$pre [ {"original":"k","category":"IT"} ] $post"""
      SafeJsonParse.parseScala(wrapped) == Seq(Classified("k", "IT", ""))
    }
}

/** Pure-JVM invariants of the sketch kernels (no Spark session needed). */
object SketchProps extends Properties("SketchKernels") {
  import graft.functions.SketchKernels
  import org.apache.spark.sql.catalyst.util.GenericArrayData

  private def arr(xs: Seq[Long]) = new GenericArrayData(xs.toArray)

  property("simHash64 of a single word IS the mixed word hash") =
    forAll { (h: Long) =>
      // one +/-1 vote per bit: the sign of bit i is exactly bit i of mix64(h)
      SketchKernels.simHash64(arr(Seq(h))) == SketchKernels.mix64(h)
    }

  property("simHash64 is permutation-invariant (set semantics)") =
    forAll(Gen.nonEmptyListOf(Gen.long)) { hs =>
      SketchKernels.simHash64(arr(hs)) == SketchKernels.simHash64(arr(hs.reverse))
    }

  property("minhashSigs equals the per-permutation formula") =
    forAll(Gen.nonEmptyListOf(Gen.chooseNum(0L, 1000002L)), Gen.chooseNum(1, 24)) { (hs, k) =>
      val sig = SketchKernels.minhashSigs(arr(hs), k).toLongArray()
      (0 until k).forall { i =>
        sig(i) == hs.map(h => ((2L * i + 3) * h + (7L * i + 1)) % 1000003L).min
      }
    }

  property("minhashSigs is monotone under set union (min can only decrease)") =
    forAll(Gen.nonEmptyListOf(Gen.chooseNum(0L, 1000002L)),
           Gen.nonEmptyListOf(Gen.chooseNum(0L, 1000002L))) { (a, b) =>
      val k = 8
      val sa = SketchKernels.minhashSigs(arr(a), k).toLongArray()
      val sab = SketchKernels.minhashSigs(arr(a ++ b), k).toLongArray()
      (0 until k).forall(i => sab(i) <= sa(i))
    }
}

/** Pure-JVM invariants of the string-similarity kernel (q320's scorer). */
object StringSimProps extends Properties("StringKernels") {
  import graft.functions.StringKernels
  import org.apache.spark.unsafe.types.UTF8String

  private def jw(a: String, b: String): Double =
    StringKernels.jaroWinkler(UTF8String.fromString(a), UTF8String.fromString(b))

  property("jaroWinkler is total and bounded on arbitrary strings") =
    forAll { (a: String, b: String) =>
      val v = jw(a, b)
      v >= 0.0 && v <= 1.0
    }

  property("jaroWinkler is symmetric") =
    forAll { (a: String, b: String) => jw(a, b) == jw(b, a) }

  property("jaroWinkler of a nonempty string with itself is 1") =
    forAll(Gen.alphaNumStr.suchThat(_.nonEmpty)) { a => jw(a, a) == 1.0 }
}
